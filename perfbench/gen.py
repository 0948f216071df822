"""Seeded MIMIC-shaped input generator for the benchmark workloads.

Independent of the code under test: numpy draws the rows, pyarrow writes
them. The same (workload, seed) pair always yields byte-identical files.

Modelled on the shapes the pipeline is sensitive to:
  * several non-overlapping admissions per subject, with a log-normal
    stay-length spread (median about 2.5 days, long right tail);
  * Zipf-skewed itemid frequencies on chart and lab events;
  * events before the admission time (dropped by the cohort join);
  * a minority unit-of-measure share on some items (the dominance filter
    drops it when the modal share passes the cutoff, keeps it otherwise);
  * labs with a missing hadm_id (restored by the as-of range join);
  * discharge notes with planted exact and near duplicates, and a
    benchmark set whose n-grams overlap some sections.

Run standalone to print the table sizes:
    python3 perfbench/gen.py --workload icu_tensors --seed 1 --out /tmp/x
"""
import argparse
import gzip
import io
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.csv as pacsv
import pyarrow.parquet as pq

BASE_TS = 5_364_662_400  # 2140-01-01 00:00:00 UTC, MIMIC-style shifted years
HOUR = 3600

# Per-workload scale. icu_tensors is the large cold batch; cohort_sweep is a
# small set that sits in storage memory; the others sit in between.
PROFILES = {
    "icu_tensors": dict(subjects=300, chart_events=30_000, chart_items=200,
                        med_rows=3_000, med_items=24),
    "hosp_ingest": dict(subjects=600, lab_events=50_000, lab_items=60,
                        diag_per_adm=6, rx_per_adm=6),
    "cohort_sweep": dict(subjects=100, chart_events=5_000, chart_items=80),
    "notes_curate": dict(notes=300, bench_docs=40),
}

STOPWORDS = ["the", "a", "of", "and", "to"]


def _zipf_weights(n, s=1.1):
    w = 1.0 / np.arange(1, n + 1) ** s
    return w / w.sum()


def _fixed(rng, draw):
    """A seed-independent multiset of values in seed-dependent order: the
    quantities that set how much work a run does (stay counts and lengths,
    ages, deaths, section sizes) keep the same distribution on every seed,
    so seeds vary the data, not the workload's size."""
    return rng.permutation(draw(np.random.default_rng(0)))


def _ts(seconds):
    return pa.array(np.asarray(seconds, dtype=np.int64) * 1_000_000,
                    type=pa.timestamp("us", tz="UTC"))


def _write_parquet(table, path):
    pq.write_table(table, path, compression="snappy")


def _write_csv_gz(table, path):
    # timestamps as PhysioNet ships them: "2180-05-06 22:23:00"
    cols = [pc.strftime(c.cast(pa.timestamp("s", tz="UTC")), "%Y-%m-%d %H:%M:%S") if pa.types.is_timestamp(c.type)
            else c for c in table.columns]
    buf = io.BytesIO()
    pacsv.write_csv(pa.table(cols, names=table.column_names), buf)
    # mtime=0 keeps the gzip header, and so the file, seed-deterministic
    with open(path, "wb") as raw, gzip.GzipFile(
            filename="", mode="wb", fileobj=raw, mtime=0) as gz:
        gz.write(buf.getvalue())


def _visits(rng, n_subjects):
    """patients + admissions: several sequential stays per subject."""
    subject = 10_000_000 + np.arange(n_subjects, dtype=np.int64)
    age = _fixed(rng, lambda r: r.integers(14, 91, n_subjects)).astype(np.int32)  # some minors
    n_adm = 1 + _fixed(rng, lambda r: r.poisson(1.5, n_subjects))
    adm_subject = np.repeat(subject, n_adm)
    n = len(adm_subject)
    hadm = 20_000_000 + np.arange(n, dtype=np.int64)
    los_h = np.clip(_fixed(rng, lambda r: r.lognormal(np.log(60.0), 0.8, n)), 4.0, 1200.0)
    los_s = (los_h * HOUR).astype(np.int64)
    gap_s = ((1 + rng.exponential(120.0, n)) * 24 * HOUR).astype(np.int64)
    start = BASE_TS + rng.integers(0, 3 * 365 * 24 * HOUR, n_subjects)
    admit = np.empty(n, dtype=np.int64)
    pos = 0
    for i, k in enumerate(n_adm):  # stays of one subject never overlap
        t = start[i]
        for j in range(pos, pos + k):
            admit[j] = t
            t += los_s[j] + gap_s[j]
        pos += k
    disch = admit + los_s
    # ~12% of subjects die: inside the last stay or within 30 days after it
    last = np.cumsum(n_adm) - 1
    dies = _fixed(rng, lambda r: r.random(n_subjects) < 0.12)
    dod = (admit[last] + (rng.random(n_subjects) *
           (los_s[last] + 30 * 24 * HOUR)).astype(np.int64))
    patients = pa.table({
        "subject_id": pa.array(subject),
        "gender": pa.array(np.where(rng.random(n_subjects) < 0.5, "F", "M")),
        "age": pa.array(age),
        "dod": pa.array(np.asarray(dod, np.int64) * 1_000_000,
                        type=pa.timestamp("us", tz="UTC"), mask=~dies),
    })
    admissions = pa.table({
        "subject_id": pa.array(adm_subject),
        "hadm_id": pa.array(hadm),
        "admittime": _ts(admit),
        "dischtime": _ts(disch),
    })
    return patients, admissions, dict(hadm=hadm, subject=adm_subject,
                                      admit=admit, disch=disch, los_s=los_s)


def _item_table(rng, n_items, first_id, minority_units):
    """Per-item value distribution and unit mix."""
    ids = first_id + np.arange(n_items, dtype=np.int32)
    mean = np.round(rng.uniform(1.0, 200.0, n_items), 1)
    sd = np.round(mean * rng.uniform(0.05, 0.3, n_items), 2)
    # minority unit share: 0 for most items, 2-4% (dropped by a 0.95
    # cutoff) or 8-15% (kept) for the rest
    u = rng.random(n_items)
    minority = np.where(u < 0.3, rng.uniform(0.02, 0.04, n_items),
                        np.where(u < 0.4, rng.uniform(0.08, 0.15, n_items), 0.0))
    units = np.array(minority_units)
    main = units[rng.integers(0, len(units), n_items)]
    return ids, mean, sd, minority, main


def _measurements(rng, n, items, stay_weights):
    ids, mean, sd, minority, main = items
    stay = rng.choice(len(stay_weights), n, p=stay_weights)
    item = rng.choice(len(ids), n, p=_zipf_weights(len(ids)))
    value = mean[item] + sd[item] * rng.standard_normal(n)
    outlier = rng.random(n) < 0.01
    value = np.round(np.where(outlier, value * 5.0, value), 2)
    alt = rng.random(n) < minority[item]
    uom = np.where(alt, np.char.add("alt_", main[item]), main[item])
    return stay, ids[item], value, uom


def _chart(rng, prof, v):
    los_s = v["los_s"]
    horizon = np.minimum(los_s, 168 * HOUR)  # events thin out after a week
    w = (horizon + 12 * HOUR).astype(np.float64)
    items = _item_table(rng, prof["chart_items"], 220_000,
                        ["mmHg", "bpm", "%", "mg/dL", "C", "mEq/L"])
    stay, itemid, value, uom = _measurements(
        rng, prof["chart_events"], items, w / w.sum())
    # offsets from 12 h before admission to the horizon: ~10% pre-admission
    off = (rng.random(len(stay)) * (horizon[stay] + 12 * HOUR)).astype(
        np.int64) - 12 * HOUR
    return pa.table({
        "hadm_id": pa.array(v["hadm"][stay]),
        "itemid": pa.array(itemid),
        "charttime": _ts(v["admit"][stay] + off),
        "valuenum": pa.array(value),
        "valueuom": pa.array(uom),
    })


def _meds(rng, prof, v):
    los_s = v["los_s"]
    w = (np.minimum(los_s, 168 * HOUR) + 6 * HOUR).astype(np.float64)
    n = prof["med_rows"]
    stay = rng.choice(len(w), n, p=w / w.sum())
    item = 225_000 + rng.choice(prof["med_items"], n,
                                p=_zipf_weights(prof["med_items"]))
    start = (rng.random(n) * (np.minimum(los_s[stay], 168 * HOUR) + 6 * HOUR)
             ).astype(np.int64) - 6 * HOUR
    dur = ((rng.exponential(8.0, n) + 0.5) * HOUR).astype(np.int64)
    return pa.table({
        "hadm_id": pa.array(v["hadm"][stay]),
        "itemid": pa.array(item.astype(np.int32)),
        "starttime": _ts(v["admit"][stay] + start),
        "endtime": _ts(v["admit"][stay] + start + dur),
    })


def _labs(rng, prof, v):
    los_s = v["los_s"]
    w = (np.minimum(los_s, 336 * HOUR) + 48 * HOUR).astype(np.float64)
    items = _item_table(rng, prof["lab_items"], 50_800,
                        ["mg/dL", "mEq/L", "K/uL", "g/dL", "IU/L"])
    stay, itemid, value, uom = _measurements(
        rng, prof["lab_events"], items, w / w.sum())
    # 24 h either side of the stay: some labs fall outside every admission
    off = (rng.random(len(stay)) * (np.minimum(los_s[stay], 336 * HOUR) +
           48 * HOUR)).astype(np.int64) - 24 * HOUR
    missing = rng.random(len(stay)) < 0.3
    return pa.table({
        "labevent_id": pa.array(np.arange(len(stay), dtype=np.int64)),
        "subject_id": pa.array(v["subject"][stay]),
        "hadm_id": pa.array(v["hadm"][stay], mask=missing),
        "itemid": pa.array(itemid),
        "charttime": _ts(v["admit"][stay] + off),
        "valuenum": pa.array(value),
        "valueuom": pa.array(uom),
    })


def _icd(rng, prof, v):
    n_roots = 300
    roots9 = np.array([f"{r:03d}" for r in rng.choice(1000, n_roots, replace=False)])
    roots10 = np.array([f"{chr(65 + r % 26)}{r % 100:02d}"
                        for r in rng.choice(2600, n_roots, replace=False)])
    # several 4/5-char ICD-9 codes per root; the map lists each with a file
    # order, and the first entry per root wins
    codes9 = np.array([f"{r}{s}" for r in roots9 for s in ("0", "1", "9", "21")])
    map_root = np.repeat(np.arange(n_roots), 4)
    order = rng.permutation(len(codes9))
    icd10_for = np.array([f"{roots10[i]}{rng.integers(0, 10)}" for i in map_root])
    keep = rng.random(len(codes9)) < 0.9  # some roots stay unmapped
    icdmap = pa.table({
        "diagnosis_code": pa.array(codes9[keep]),
        "icd10cm": pa.array(icd10_for[keep]),
        "ord": pa.array(order[keep].astype(np.int64)),
    })
    n_adm = len(v["hadm"])
    n = n_adm * prof["diag_per_adm"]
    adm = rng.integers(0, n_adm, n)
    ver9 = rng.random(n) < 0.5
    c9 = codes9[rng.integers(0, len(codes9), n)]
    c10 = np.array([f"{roots10[i]}{j}" for i, j in
                    zip(rng.integers(0, n_roots, n), rng.integers(0, 10, n))])
    diagnoses = pa.table({
        "subject_id": pa.array(v["subject"][adm]),
        "hadm_id": pa.array(v["hadm"][adm]),
        "seq_num": pa.array(rng.integers(1, 20, n).astype(np.int32)),
        "icd_code": pa.array(np.where(ver9, c9, c10)),
        "icd_version": pa.array(np.where(ver9, 9, 10).astype(np.int32)),
    })
    return diagnoses, icdmap


def _ndc(rng, prof, v):
    n_prod = 800
    mfr = rng.integers(1, 99_999, n_prod)
    prod = rng.integers(1, 9_999, n_prod)
    names = np.array([f"drug{i:04d}" for i in range(n_prod)])
    classes = np.array([
        f"Class{int(a)} [EPC], Mech{int(b)} [MoA]" if c else f"Mech{int(b)} [MoA]"
        for a, b, c in zip(rng.integers(0, 60, n_prod), rng.integers(0, 40, n_prod),
                           rng.random(n_prod) < 0.85)])
    # the map writes unpadded "mfr-prod" sections; some products repeat
    dup = rng.integers(0, n_prod, 100)
    idx = np.concatenate([np.arange(n_prod), dup])
    ndcmap = pa.table({
        "product_ndc": pa.array([f"{mfr[i]}-{prod[i]}" for i in idx]),
        "nonproprietaryname": pa.array(np.char.upper(names[idx])),
        "pharm_classes": pa.array(classes[idx]),
        "ord": pa.array(np.arange(len(idx), dtype=np.int64)),
    })
    n_adm = len(v["hadm"])
    n = n_adm * prof["rx_per_adm"]
    adm = rng.integers(0, n_adm, n)
    p = rng.integers(0, n_prod, n)
    pkg = rng.integers(0, 99, n)
    ndc = mfr[p] * 1_000_000 + prod[p] * 100 + pkg  # leading zeros lost
    missing = rng.random(n) < 0.05
    ndc = np.where(rng.random(n) < 0.03, -1, ndc)  # the reference's fill value
    spaced = np.char.add(np.char.add("  ", np.char.replace(names[p], "drug", "Drug ")), " ")
    prescriptions = pa.table({
        "subject_id": pa.array(v["subject"][adm]),
        "hadm_id": pa.array(v["hadm"][adm]),
        "drug": pa.array(spaced),
        "ndc": pa.array(ndc.astype(np.int64), mask=missing),
    })
    return prescriptions, ndcmap


def _notes(rng, prof):
    vocab = np.array([f"w{i:04d}" for i in range(3000)])
    vw = _zipf_weights(len(vocab), 0.9)
    n = prof["notes"]

    n_secs = _fixed(rng, lambda r: r.integers(3, 7, n))
    # some sections fall under the 20-token gate, a few fail the stop gate
    lengths = iter(_fixed(rng, lambda r: r.integers(12, 110, n_secs.sum())))
    heavy = iter(_fixed(rng, lambda r: r.random(n_secs.sum()) < 0.05))

    def section():
        k = int(next(lengths))
        toks = vocab[rng.choice(len(vocab), k, p=vw)]
        stop_share = 0.6 if next(heavy) else 0.12
        stop = rng.random(k) < stop_share
        toks = np.where(stop, np.array(STOPWORDS)[rng.integers(0, 5, k)], toks)
        return list(toks)

    notes = [[section() for _ in range(k)] for k in n_secs]
    cats = list(np.where(rng.random(n) < 0.7, "discharge", "radiology"))
    langs = list(np.where(rng.random(n) < 0.03, "de", "en"))
    near = []  # (note index, section number) of edited copies
    n_exact, n_near = n // 20, n // 20
    src = rng.choice(n, n_exact + n_near, replace=False)
    for j, s in enumerate(src):
        copy = [list(t) for t in notes[s]]
        if j >= n_exact:  # near copy: substitute ~3% of tokens per section
            for t in copy:
                edits = max(1, len(t) // 33)
                for p in rng.integers(0, len(t), edits):
                    t[p] = vocab[rng.integers(0, len(vocab))]
            for sec in range(len(copy)):
                if copy[sec] != notes[s][sec]:
                    near.append((len(notes), sec))
        notes.append(copy)
        cats.append(cats[s])
        langs.append(langs[s])
    total = len(notes)
    note_id = np.arange(total, dtype=np.int64) + 1
    text = ["\n\n".join(" ".join(t) for t in secs) for secs in notes]
    table = pa.table({
        "note_id": pa.array(note_id),
        "category": pa.array(cats),
        "lang": pa.array(langs),
        "text": pa.array(text),
    })
    # benchmark set: each doc embeds a 10-token run of some section
    bench = []
    for b in range(prof["bench_docs"]):
        secs = notes[int(rng.integers(0, n))]
        t = secs[int(rng.integers(0, len(secs)))]
        at = int(rng.integers(0, max(1, len(t) - 10)))
        filler = list(vocab[rng.integers(0, len(vocab), 30)])
        bench.append(" ".join(filler[:15] + t[at:at + 10] + filler[15:]))
    benchmark = pa.table({
        "doc_id": pa.array(np.arange(len(bench), dtype=np.int64) + 1),
        "text": pa.array(bench),
    })
    # doc ids of the planted near-duplicate sections (doc_id = note_id*8+sec)
    truth = sorted(int(note_id[i]) * 8 + sec for i, sec in near)
    return table, benchmark, truth


def generate(workload, seed, out_dir):
    """Writes the workload's tables under out_dir; returns {table: path}."""
    if workload not in PROFILES:
        raise ValueError(f"unknown workload {workload!r}")
    prof = PROFILES[workload]
    # one stream per workload: the profiles differ, so the draws would anyway
    rng = np.random.default_rng([seed, sorted(PROFILES).index(workload)])
    os.makedirs(out_dir, exist_ok=True)
    files = {}

    def put(name, table, fmt="parquet"):
        path = os.path.join(out_dir, f"{name}.{'csv.gz' if fmt == 'csv' else 'parquet'}")
        (_write_csv_gz if fmt == "csv" else _write_parquet)(table, path)
        files[name] = path

    if workload == "notes_curate":
        notes, bench, truth = _notes(rng, prof)
        put("notes", notes)
        put("benchmark", bench)
        path = os.path.join(out_dir, "planted_near_dups.json")
        with open(path, "w") as f:
            json.dump(truth, f)
        files["planted_near_dups"] = path
        return files
    patients, admissions, v = _visits(rng, prof["subjects"])
    put("patients", patients)
    put("admissions", admissions)
    if workload in ("icu_tensors", "cohort_sweep"):
        put("chartevents", _chart(rng, prof, v))
    if workload == "icu_tensors":
        put("inputevents", _meds(rng, prof, v))
    if workload == "hosp_ingest":
        put("labevents", _labs(rng, prof, v), "csv")
        diagnoses, icdmap = _icd(rng, prof, v)
        put("diagnoses_icd", diagnoses, "csv")
        put("icd9to10", icdmap, "csv")
        prescriptions, ndcmap = _ndc(rng, prof, v)
        put("prescriptions", prescriptions, "csv")
        put("ndc_product", ndcmap, "csv")
    return files


def table_sizes(files):
    """{table: {"rows": n, "bytes": b}} for every generated data file."""
    import duckdb
    sizes = {}
    for name, path in sorted(files.items()):
        if path.endswith(".json"):
            continue
        reader = "read_csv" if path.endswith(".csv.gz") else "read_parquet"
        rows = duckdb.sql(f"SELECT count(*) FROM {reader}('{path}')").fetchone()[0]
        sizes[name] = {"rows": int(rows), "bytes": os.path.getsize(path)}
    return sizes


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(PROFILES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    files = generate(a.workload, a.seed, a.out)
    print(json.dumps(table_sizes(files), indent=1))


if __name__ == "__main__":
    main()
