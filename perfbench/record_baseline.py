"""Records the committed baseline: for each workload, one untraced and one
traced run at seed 1, kept as perfbench/baseline/<workload>.json (result
lines plus run context), and the headline table baseline/SUMMARY.md.

    python3 perfbench/record_baseline.py icu_tensors notes_curate hosp_ingest cohort_sweep
"""
import json
import os
import subprocess
import sys

import run

OUT = os.path.join(run.HERE, "baseline")
SEED = 1
RATIOS = ["api.FeatureExtractor.eventsForCohort.keep_ratio",
          "api.TimeSeriesGenerator.densifyAndImpute.fill_ratio", "dedup.near_dup_recall"]


def record(workload, seconds):
    rec = {"workload": workload, "seed": SEED, "seconds": seconds}
    for trace in (0, 1):
        r = subprocess.run([sys.executable, os.path.join(run.HERE, "run.py"),
                            "--workload", workload, "--seed", str(SEED),
                            "--seconds", str(seconds), "--trace", str(trace)],
                           cwd=run.ROOT, capture_output=True, text=True)
        if r.returncode != 0:
            raise SystemExit(f"{workload} --trace {trace} failed:\n{r.stderr[-2000:]}")
        lines = r.stdout.strip().splitlines()
        ctx = next(json.loads(l[len("context: "):]) for l in lines if l.startswith("context: "))
        rec["traced" if trace else "untraced"] = {"result": json.loads(lines[-1]),
                                                  "context": ctx}
        print(workload, trace, lines[-1][:160], flush=True)
    with open(os.path.join(OUT, f"{workload}.json"), "w") as f:
        json.dump(rec, f, indent=1, sort_keys=True)
        f.write("\n")


def summary():
    rows, spans, sweep = [], [], ""
    for w in run.WORKLOADS:
        path = os.path.join(OUT, f"{w}.json")
        if not os.path.exists(path):
            continue
        with open(path) as f:
            rec = json.load(f)
        u, t = (rec[k]["result"]["metrics"] for k in ("untraced", "traced"))
        uc, tc = rec["untraced"]["context"], rec["traced"]["context"]
        v = lambda m, k: m[k]["value"]
        rows.append(
            f"| `{w}` | {rec['seconds']} | {v(u, 'run_s'):.2f} | {v(u, 'setup_s'):.2f} | "
            f"{v(u, 'storage_peak_mb'):.3f} | {v(t, 'tracing_overhead_s'):.2f} | "
            f"{v(t, 'plans.planning_s'):.2f} | {v(t, 'plans.actions'):.0f} | "
            f"{v(t, 'spark.jobs'):.0f} | {v(t, 'spark.tasks'):.0f} | "
            f"{v(t, 'spark.scan_amplification'):.2f} | "
            f"{uc['steal_s']:.1f} / {tc['steal_s']:.1f} |")
        top = sorted(((k[:-len(".self_s")], m["value"]) for k, m in t.items()
                      if k.endswith(".self_s") and m["value"] > 0), key=lambda x: -x[1])[:5]
        extra = [f"`{k}` {v(t, k):.3f}" for k in RATIOS if v(t, k)]
        spans.append(f"- `{w}`: " + ", ".join(
            f"`{n}` {s:.2f} s self / {v(t, n + '.task_s'):.2f} s task" for n, s in top)
            + ("; " + ", ".join(extra) if extra else ""))
        if w == "cohort_sweep":
            sweep = (f"\ncohort_sweep (one set-up): `first_config_s` {uc['first_config_s']:.2f} s, "
                     f"`config_p50_s` {uc['config_p50_s']:.2f} s.\n")
    text = "\n".join([
        f"# Baseline (seed {SEED})", "",
        "Recorded with `perfbench/record_baseline.py` on the 4-core / 16 GB reference",
        "box. The JSON files beside this one hold both result lines and both run",
        "contexts (CPU-steal delta `steal_s`, load average, Spark conf). Times are",
        "single runs: compare them only with the spread the benchmark's ten-seed",
        "runs show.", "",
        "| workload | seconds | run_s | setup_s | storage_peak_mb | tracing_overhead_s "
        "| planning_s | actions | jobs | tasks | scan amplification "
        "| steal_s (untraced / traced) |",
        "|---|---|---|---|---|---|---|---|---|---|---|---|"] + rows + [
        "", "Largest spans of the traced pass (median over traced passes):", ""] + spans)
    with open(os.path.join(OUT, "SUMMARY.md"), "w") as f:
        f.write(text + "\n" + sweep)


def main():
    seconds = json.load(open(os.path.join(run.ROOT, "BENCHMARK.json")))["run_seconds"]
    os.makedirs(OUT, exist_ok=True)
    for w in sys.argv[1:]:
        record(w, seconds)
    summary()


if __name__ == "__main__":
    main()
