"""The repo benchmark: one command per (workload, seed) run.

    python3 perfbench/run.py --workload icu_tensors --seed 1 --seconds 10 --trace 0

Builds the program and the harness (cached by source hash), generates the
seeded inputs, computes the DuckDB reference, runs the harness JVM, checks
every timed pass's output against the reference, and prints as its last
line one JSON object: {"correct", "attempted", "failed", "metrics"}. With
--trace 0 the metrics are the end-to-end ones, with --trace 1 the per-layer
ones. The line before it ("context: {...}") records the run context and
the input sizes. Everything is written under .bench_build/ in the checkout.
See perfbench/README.md for the workloads and metrics.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen  # noqa: E402
import reference  # noqa: E402

ROOT = build.ROOT
WORK = build.BUILD
NPROC = len(os.sched_getaffinity(0))  # what `nproc` prints
# Harness deadline and set-ups per run (median reported as setup_s).
# cohort_sweep's pass, and so its warm-up, is the whole 18-configuration
# grid (≈30 s); it is not in BENCHMARK.json, whose runs must end within
# 180 s, so it sets up once and may take longer.
DEADLINE_S = {"cohort_sweep": 600}
SETUPS = {"cohort_sweep": 1}

WORKLOADS = ["icu_tensors", "hosp_ingest", "cohort_sweep", "notes_curate"]

END_TO_END = {
    "run_s": "s",
    "setup_s": "s",
    "storage_peak_mb": "MB",
}

SPANS = [
    # icu_tensors
    "api.CohortExtractor.extract",
    "api.FeatureExtractor.eventsForCohort",
    "operators.CleaningOps.dominantCategoryFilter",
    "operators.CleaningOps.percentileClamp",
    "api.FeatureSelector.summary",
    "api.FeatureSelector.select",
    "api.TimeSeriesGenerator.bucketedFeatures",
    "api.TimeSeriesGenerator.shiftClipIntervals",
    "api.TimeSeriesGenerator.activeMedSignal",
    "api.TimeSeriesGenerator.densifyAndImpute",
    "api.TimeSeriesGenerator.stayTensors",
    "sources.Sinks.parquet",
    # hosp_ingest
    "sources.Readers.csv",
    "api.FeatureExtractor.imputeVisitKey",
    "api.FeatureExtractor.standardizeIcd",
    "api.DrugMapper.mapMeds",
    "sources.Sinks.partitionedParquet",
    "sources.Sinks.csvGz",
    # notes_curate
    "functions.NotesNlp.splitSections",
    "api.CorpusCurator.qualityFilter",
    "api.CorpusCurator.fluencyFilter",
    "api.CorpusCurator.scrubBoilerplate",
    "api.CorpusCurator.exactDedup",
    "dedup.DedupOps.dropNearDups",
    "api.CorpusCurator.decontaminate",
    "api.CorpusCurator.sample",
    "api.CorpusCurator.pack",
]
SPAN_METRICS = {"self_s": "s", "task_s": "s", "shuffle_mb": "MB", "spill_mb": "MB"}
RUN_METRICS = {
    "plans.planning_s": "s",
    "plans.actions": "count",
    "spark.jobs": "count",
    "spark.tasks": "count",
    "spark.scheduler_wait_s": "s",
    "spark.gc_s": "s",
    "spark.empty_task_ratio": "ratio",
    "spark.scan_amplification": "ratio",
    "api.FeatureExtractor.eventsForCohort.keep_ratio": "ratio",
    "api.TimeSeriesGenerator.densifyAndImpute.fill_ratio": "ratio",
    "dedup.near_dup_recall": "ratio",
    "tracing_overhead_s": "s",
}


def per_layer_units():
    units = {f"{s}.{m}": u for s in SPANS for m, u in SPAN_METRICS.items()}
    units.update(RUN_METRICS)
    return units


# input tables each workload scans (the base of spark.scan_amplification)
SCANNED = {
    "icu_tensors": ["patients", "admissions", "chartevents", "inputevents"],
    "hosp_ingest": ["admissions", "labevents", "diagnoses_icd", "icd9to10",
                    "prescriptions", "ndc_product"],
    "cohort_sweep": ["patients", "admissions", "chartevents"],
    "notes_curate": ["notes", "benchmark"],
}


def _file_hash(*names):
    h = hashlib.sha256()
    for n in names:
        with open(os.path.join(HERE, n), "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:12]


def inputs(workload, seed):
    """Generated files + reference for (workload, seed), cached per seed."""
    d = os.path.join(WORK, "data", f"{workload}-{seed}-{_file_hash('gen.py', 'reference.py')}")
    meta = os.path.join(d, "meta.json")
    if not os.path.exists(meta):
        shutil.rmtree(d, ignore_errors=True)
        files = gen.generate(workload, seed, d)
        sizes = gen.table_sizes(files)
        want = reference.expected(workload, files, d)
        with open(meta + ".tmp", "w") as f:
            json.dump({"files": files, "sizes": sizes, "expected": want}, f)
        os.replace(meta + ".tmp", meta)
    with open(meta) as f:
        return json.load(f)


def java_cmd(classes, args):
    opens = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return (["java", "-Xmx3g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
             f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}"]
            + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in opens]
            + ["-cp", f"{classes}{os.pathsep}{os.path.join(build.spark_jars(), '*')}",
               "perfbench.Main"] + args)


def steal_jiffies():
    """Cumulative CPU-steal time of the host, from /proc/stat."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8])


def git_commit():
    try:
        r = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
                           text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else None
    except (OSError, subprocess.SubprocessError):
        return None


def median(xs):
    return statistics.median(xs) if xs else 0.0


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    w = a.workload

    classes = build.build()
    t_start = time.time()  # a first run in a checkout may build for minutes
    data = inputs(w, a.seed)
    print("inputs: " + json.dumps(data["sizes"], sort_keys=True), flush=True)

    run_dir = os.path.join(WORK, "runs", f"{w}-{a.seed}-t{a.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    result_path = os.path.join(run_dir, "result.json")
    args = ["--workload", w, "--data", os.path.dirname(data["files"][SCANNED[w][0]]),
            "--out", os.path.join(run_dir, "out"), "--result", result_path,
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--setups", str(SETUPS.get(w, 2)), "--cpus", str(NPROC),
            "--local", os.path.join(WORK, "local")]
    if w == "notes_curate":
        args += ["--planted", data["files"]["planted_near_dups"]]
    deadline = DEADLINE_S.get(w, 170)
    load0, steal0 = os.getloadavg()[0], steal_jiffies()
    with open(os.path.join(run_dir, "jvm.log"), "w") as log:
        proc = subprocess.Popen(java_cmd(classes, args), stdout=log, stderr=log, cwd=ROOT)
        try:
            proc.wait(timeout=max(10, deadline - (time.time() - t_start)))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            sys.exit(f"run: harness exceeded the {deadline} s deadline ({run_dir}/jvm.log)")
    steal1 = steal_jiffies()
    if proc.returncode != 0 or not os.path.exists(result_path):
        sys.exit(f"run: harness failed with code {proc.returncode} ({run_dir}/jvm.log)")
    with open(result_path) as f:
        res = json.load(f)

    # every timed pass is checked; a cohort_sweep pass is 18 operations
    timed = [p for p in res["passes"] if not p["label"].startswith("setup_")]
    want = data["expected"]
    attempted = failed = 0
    problems = []
    for p in res["passes"]:
        bad = reference.check_pass(w, p, want, run_dir)
        ops = len(reference.SWEEP) if w == "cohort_sweep" else 1
        attempted += ops
        failed += ops if "error" in p else min(ops, len(bad))
        problems += [f"{p['label']}: {b}" for b in bad]
    shutil.rmtree(os.path.join(run_dir, "out"), ignore_errors=True)

    untraced = [p for p in timed if not p["traced"] and "error" not in p]
    traced = [p for p in timed if p["traced"] and "error" not in p]
    run_s = [sum(c["s"] for c in p["configs"]) for p in untraced]
    metrics = {}
    if a.trace == 0:
        values = {"run_s": median(run_s),
                  "setup_s": median(res["setup_s"]),
                  "storage_peak_mb": median([p["storage_peak_bytes"] / 1e6 for p in untraced])}
        metrics = {k: {"value": values[k], "unit": u} for k, u in END_TO_END.items()}
    else:
        scanned = sum(data["sizes"][t]["rows"] for t in SCANNED[w])
        units = per_layer_units()
        # span metrics come from the traced passes, run-level ones from the
        # untraced passes of the same run (collectors attached, calls lazy)
        layers = []
        for p in traced + untraced:
            l = dict(p["layers"])
            if "spark.scan_rows" in l:
                l["spark.scan_amplification"] = l.pop("spark.scan_rows") / scanned
            if set(l) - set(units):
                sys.exit(f"run: undeclared per-layer metrics {sorted(set(l) - set(units))}")
            layers.append(l)
        overhead = median([sum(c["s"] for c in p["configs"]) for p in traced]) - median(run_s)
        for name, unit in units.items():
            v = overhead if name == "tracing_overhead_s" else median(
                [l[name] for l in layers if name in l])
            metrics[name] = {"value": v, "unit": unit}

    steal_s = (steal1 - steal0) / os.sysconf("SC_CLK_TCK")
    context = {
        "workload": w, "seed": a.seed, "trace": a.trace, "seconds": a.seconds,
        "nproc": NPROC, "loadavg_before": load0, "loadavg_after": os.getloadavg()[0],
        "steal_s": steal_s, "heap_max_bytes": res.get("heap_max_bytes"),
        "spark_version": res.get("spark_version"), "spark_conf": res.get("spark_conf"),
        "git_commit": git_commit(), "build": os.path.basename(classes),
        "setup_s_all": res["setup_s"], "host_probe_s": median(res["host_probe_s"]),
        "passes": [
            {"label": p["label"], "traced": p["traced"], "configs": p.get("configs"),
             "error": p.get("error")} for p in timed],
        "problems": problems[:20], "inputs": data["sizes"],
        "fail_ratio": failed / attempted,
    }
    if w == "cohort_sweep" and untraced:
        context["first_config_s"] = median([p["configs"][0]["s"] for p in untraced])
        context["config_p50_s"] = median(
            [median([c["s"] for c in p["configs"][1:]]) for p in untraced])
    # paths in the record are relative to the checkout, so records compare
    context = json.loads(json.dumps(context).replace(ROOT + os.sep, ""))
    with open(os.path.join(run_dir, "context.json"), "w") as f:
        json.dump({"context": context, "metrics": metrics}, f, indent=1)
    print("context: " + json.dumps(context, sort_keys=True), flush=True)
    for m in problems[:20]:
        print("mismatch: " + m, file=sys.stderr)
    print(json.dumps({"correct": failed == 0 and attempted > 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
