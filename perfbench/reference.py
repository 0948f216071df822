"""Independent DuckDB reference for every workload, and the output check.

The reference recomputes each workload's result from the generated files
with DuckDB SQL (plus a small union-find for near-duplicate components),
outside the timed window. Both sides are reduced to the same
order-independent digest: row count plus the sum of a per-row md5 residue
over the row's columns, doubles floored onto a 1/1414 grid first. The
Spark-side twin of the digest (for cohort_sweep, whose results are never
written) is `Digest` in harness/Workloads.scala.
"""
import duckdb

SCALE = 1414.2135623730951
PRIME = 1000000007
STOPWORDS = ("the", "a", "of", "and", "to")

# workload parameters; harness/Workloads.scala uses the same values
ICU = dict(include_h=72, bucket_h=1, pred_w=6, top_k=20)
SWEEP = [(task, h, b) for task in ("mortality", "readmission", "los")
         for h in (24, 48, 72) for b in (1, 4)]
SWEEP_WINDOW = {"mortality": ("first", 6), "readmission": ("last", 0),
                "los": ("first", 0)}


def grid(v):
    return f"CAST(floor(({v}) * {SCALE}) AS BIGINT)"


def row_hash(parts):
    s = ", ".join(f"coalesce(CAST({p} AS VARCHAR), '~')" for p in parts)
    return f"('0x' || substr(md5(concat_ws('|', {s})), 1, 15))::BIGINT % {PRIME}"


def digest(con, relation, parts):
    """[rows, hash sum] of `relation` (SQL) over the column expressions."""
    n, h = con.execute(
        f"SELECT count(*), coalesce(sum({row_hash(parts)}), 0) FROM ({relation})"
    ).fetchone()
    return [int(n), int(h)]


def connect(tmp_dir):
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    con.execute(f"SET temp_directory = '{tmp_dir}'")
    con.execute("SET TimeZone = 'UTC'")
    return con


def _views(con, files):
    for name, path in files.items():
        if path.endswith(".parquet"):
            con.execute(f"CREATE OR REPLACE VIEW {name} AS "
                        f"SELECT * FROM read_parquet('{path}')")


def _hours(frm, to):
    return f"CAST(floor((epoch({to}) - epoch({frm})) / 3600) AS BIGINT)"


def _cohort_sql(label="0"):
    return (f"SELECT a.*, p.gender, p.age, p.dod, {label} AS label "
            "FROM admissions a JOIN patients p USING (subject_id) WHERE p.age >= 18")


def _dominant_filter(src, cutoff):
    return f"""
      WITH counts AS (SELECT itemid, valueuom, count(*) AS cnt FROM {src} GROUP BY ALL),
      ranked AS (SELECT *, row_number() OVER (PARTITION BY itemid
                   ORDER BY cnt DESC, valueuom ASC) AS rn,
                 sum(cnt) OVER (PARTITION BY itemid) AS tot,
                 count(*) OVER (PARTITION BY itemid) AS ndist FROM counts),
      stats AS (SELECT itemid, valueuom AS mode, cnt / tot AS share, ndist
                FROM ranked WHERE rn = 1)
      SELECT e.* FROM {src} e LEFT JOIN stats s USING (itemid)
      WHERE NOT (s.ndist > 1 AND s.share > {cutoff} AND e.valueuom <> s.mode)"""


def _percentile_clamp(src, lo, hi):
    return f"""
      WITH b AS (SELECT itemid, quantile_cont(valuenum, {lo}) AS lo,
                   quantile_cont(valuenum, {hi}) AS hi
                 FROM {src} WHERE valuenum IS NOT NULL GROUP BY itemid)
      SELECT e.* REPLACE (least(greatest(e.valuenum, b.lo), b.hi) AS valuenum)
      FROM {src} e LEFT JOIN b USING (itemid)"""


def _densify(src, n_buckets):
    """(hadm_id, itemid, bucket, value) -> dense grid with value_imputed."""
    return f"""
      WITH g AS (SELECT DISTINCT hadm_id, itemid FROM {src}),
      d AS (SELECT g.hadm_id, g.itemid, r.bucket, s.value
            FROM g CROSS JOIN (SELECT range AS bucket FROM range({n_buckets})) r
            LEFT JOIN {src} s ON s.hadm_id = g.hadm_id AND s.itemid = g.itemid
                              AND s.bucket = r.bucket),
      f AS (SELECT *, last_value(value IGNORE NULLS) OVER (PARTITION BY hadm_id, itemid
              ORDER BY bucket ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ff
            FROM d),
      b AS (SELECT *, first_value(ff IGNORE NULLS) OVER (PARTITION BY hadm_id, itemid
              ORDER BY bucket ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS fb,
              avg(value) OVER (PARTITION BY hadm_id, itemid) AS mean
            FROM f)
      SELECT hadm_id, itemid, bucket, value, coalesce(fb, mean) AS value_imputed FROM b"""


# ---- icu_tensors -----------------------------------------------------------
ICU_CELL_PARTS = ["stay_id", "code", "idx", grid("v")]


def _icu(con):
    p = ICU
    con.execute(f"CREATE TEMP TABLE cohort AS {_cohort_sql()}")
    con.execute(f"""CREATE TEMP TABLE ev AS
      SELECT c.*, co.admittime, {_hours('co.admittime', 'c.charttime')} AS off
      FROM chartevents c JOIN cohort co USING (hadm_id)
      WHERE {_hours('co.admittime', 'c.charttime')} >= 0""")
    con.execute(f"CREATE TEMP TABLE uom AS {_dominant_filter('ev', 0.95)}")
    con.execute(f"CREATE TEMP TABLE clean AS {_percentile_clamp('uom', 0.0, 0.98)}")
    con.execute(f"""CREATE TEMP TABLE keep AS SELECT itemid FROM clean GROUP BY itemid
      ORDER BY count(*) DESC, itemid ASC LIMIT {p['top_k']}""")
    con.execute(f"""CREATE TEMP TABLE los AS
      SELECT hadm_id, {_hours('admittime', 'dischtime')} AS los_h FROM cohort""")
    need = p["include_h"] + p["pred_w"]
    con.execute(f"""CREATE TEMP TABLE bucketed AS
      SELECT hadm_id, itemid, CAST(floor(off / {p['bucket_h']}) AS BIGINT) AS bucket,
             avg(valuenum) AS value
      FROM clean WHERE itemid IN (SELECT itemid FROM keep)
        AND hadm_id IN (SELECT hadm_id FROM los WHERE los_h >= {need})
        AND off < {p['include_h']}
      GROUP BY ALL""")
    con.execute(f"CREATE TEMP TABLE dense AS {_densify('bucketed', p['include_h'] // p['bucket_h'])}")
    con.execute(f"""CREATE TEMP TABLE meds AS
      SELECT hadm_id, itemid, start_h, least(stop_h, {p['include_h']}) AS stop_h FROM (
        SELECT i.hadm_id, i.itemid, {_hours('co.admittime', 'i.starttime')} AS start_h,
               {_hours('co.admittime', 'i.endtime')} AS stop_h
        FROM inputevents i JOIN cohort co USING (hadm_id))
      WHERE hadm_id IN (SELECT hadm_id FROM los WHERE los_h >= {need})
        AND start_h <= {p['include_h']}""")
    b = p["bucket_h"]
    con.execute(f"""CREATE TEMP TABLE active AS
      WITH sparse AS (SELECT hadm_id, itemid, CAST(floor(start_h / {b}) AS BIGINT) AS bucket,
                        max((stop_h + {b - 1}) // {b}) AS stop_b
                      FROM meds WHERE start_h < {p['include_h']} GROUP BY ALL),
      g AS (SELECT DISTINCT hadm_id, itemid FROM sparse),
      d AS (SELECT g.hadm_id, g.itemid, r.bucket, s.stop_b
            FROM g CROSS JOIN (SELECT range AS bucket FROM range({p['include_h'] // b})) r
            LEFT JOIN sparse s ON s.hadm_id = g.hadm_id AND s.itemid = g.itemid
                               AND s.bucket = r.bucket)
      SELECT hadm_id, itemid, bucket,
        CASE WHEN last_value(stop_b IGNORE NULLS) OVER (PARTITION BY hadm_id, itemid
               ORDER BY bucket ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) > bucket
             THEN 1 ELSE 0 END AS active
      FROM d""")
    cells = """SELECT hadm_id AS stay_id, 'chart_' || itemid AS code, bucket AS idx,
                      value_imputed AS v FROM dense
               UNION ALL
               SELECT hadm_id, 'med_' || itemid, bucket, CAST(active AS DOUBLE) FROM active"""
    return {"stay_tensors": digest(con, cells, ICU_CELL_PARTS)}


def _icu_output(con, out):
    cells = f"""SELECT stay_id, code, generate_subscripts(arr, 1) - 1 AS idx, unnest(arr) AS v
      FROM (SELECT stay_id, unnest(map_keys(series)) AS code,
                   unnest(map_values(series)) AS arr
            FROM read_parquet('{out}/stay_tensors/*.parquet'))"""
    return {"stay_tensors": digest(con, cells, ICU_CELL_PARTS)}


# ---- hosp_ingest -----------------------------------------------------------
HOSP_CSV = {
    "labevents": "labevent_id BIGINT, subject_id BIGINT, hadm_id BIGINT, itemid INTEGER, "
                 "charttime TIMESTAMP, valuenum DOUBLE, valueuom VARCHAR",
    "diagnoses_icd": "subject_id BIGINT, hadm_id BIGINT, seq_num INTEGER, "
                     "icd_code VARCHAR, icd_version INTEGER",
    "icd9to10": "diagnosis_code VARCHAR, icd10cm VARCHAR, ord BIGINT",
    "prescriptions": "subject_id BIGINT, hadm_id BIGINT, drug VARCHAR, ndc BIGINT",
    "ndc_product": "product_ndc VARCHAR, nonproprietaryname VARCHAR, "
                   "pharm_classes VARCHAR, ord BIGINT",
}


def _read_csv(path, columns):
    cols = ", ".join(f"'{c.split()[0]}': '{c.split()[1]}'"
                     for c in (x.strip() for x in columns.split(",")))
    return f"read_csv('{path}', header = true, columns = {{{cols}}})"


HOSP_PARTS = {
    "labs": ["labevent_id", "subject_id", "hadm_id", "itemid",
             "CAST(epoch(charttime) AS BIGINT)", grid("valuenum"), "valueuom"],
    "summary": ["itemid", grid("mean_frequency"), "missing_count", "total_count",
                grid("missing_rate")],
    "diagnoses": ["subject_id", "hadm_id", "seq_num", "icd_code", "icd_version",
                  "root_icd10"],
    "meds": ["subject_id", "hadm_id", "drug", "new_ndc", "nonproprietaryname", "epc"],
}


def _hosp(con, files):
    for t, cols in HOSP_CSV.items():
        con.execute(f"CREATE TEMP TABLE {t} AS SELECT * FROM {_read_csv(files[t], cols)}")
    # as-of: the latest-starting stay of the subject that encloses the lab time
    con.execute("""CREATE TEMP TABLE keyed AS
      WITH m AS (SELECT l.labevent_id, max(a.admittime) AS imputed_admit
                 FROM labevents l JOIN admissions a ON a.subject_id = l.subject_id
                   AND l.charttime >= a.admittime AND l.charttime <= a.dischtime
                 GROUP BY l.labevent_id)
      SELECT l.* REPLACE (coalesce(l.hadm_id, a.hadm_id) AS hadm_id)
      FROM labevents l LEFT JOIN m USING (labevent_id)
      LEFT JOIN admissions a ON a.subject_id = l.subject_id
        AND a.admittime = m.imputed_admit
      WHERE coalesce(l.hadm_id, a.hadm_id) IS NOT NULL""")
    con.execute(f"CREATE TEMP TABLE uom AS {_dominant_filter('keyed', 0.95)}")
    con.execute(f"CREATE TEMP TABLE clean AS {_percentile_clamp('uom', 0.01, 0.99)}")
    summary = """
      WITH pv AS (SELECT itemid, round(avg(n), 6) AS mean_frequency FROM
                    (SELECT hadm_id, itemid, count(*) AS n FROM clean GROUP BY ALL)
                  GROUP BY itemid),
      ms AS (SELECT itemid, sum(CASE WHEN valuenum IS NULL OR valuenum = 0.0 THEN 1 ELSE 0 END)
                      AS missing_count, count(*) AS total_count FROM clean GROUP BY itemid)
      SELECT pv.itemid, mean_frequency, missing_count, total_count,
             round(missing_count / total_count, 6) AS missing_rate
      FROM pv JOIN ms USING (itemid)"""
    diagnoses = """
      WITH rm AS (SELECT substring(diagnosis_code, 1, 3) AS root, min_by(icd10cm, ord) AS mapped
                  FROM icd9to10 GROUP BY 1)
      SELECT d.*, CASE WHEN d.icd_version = 9 THEN rm.mapped ELSE d.icd_code END AS root_icd10
      FROM diagnoses_icd d LEFT JOIN rm ON rm.root = substring(d.icd_code, 1, 3)"""
    meds = """
      WITH m AS (SELECT lpad(split_part(product_ndc, '-', 1), 5, '0') ||
                        lpad(split_part(product_ndc, '-', 2), 4, '0') AS new_ndc,
                        lower(coalesce(nonproprietaryname, '')) AS nonproprietaryname,
                        pharm_classes, ord FROM ndc_product),
      md AS (SELECT new_ndc, nonproprietaryname, min_by(pharm_classes, ord) AS cls
             FROM m GROUP BY ALL),
      rx AS (SELECT subject_id, hadm_id,
                    regexp_replace(lower(trim(drug)), ' ', '_', 'g') AS drug,
                    CASE WHEN ndc IS NULL OR ndc < 0 THEN NULL
                         ELSE substring(lpad(CAST(ndc AS VARCHAR), 11, '0'), 1, 9) END AS new_ndc
             FROM prescriptions)
      SELECT rx.subject_id, rx.hadm_id, rx.drug, rx.new_ndc, md.nonproprietaryname,
             coalesce(array_to_string(list_filter(string_split(md.cls, ','),
                                                  x -> contains(x, '[EPC]')), ';'), '') AS epc
      FROM rx JOIN md USING (new_ndc)"""
    return {"labs": digest(con, "SELECT * FROM clean", HOSP_PARTS["labs"]),
            "summary": digest(con, summary, HOSP_PARTS["summary"]),
            "diagnoses": digest(con, diagnoses, HOSP_PARTS["diagnoses"]),
            "meds": digest(con, meds, HOSP_PARTS["meds"])}


def _hosp_output(con, out):
    def csv(d):
        return f"read_csv('{out}/{d}/*.csv.gz', header = true, all_varchar = true)"
    return {
        "labs": digest(con, f"SELECT * FROM read_parquet('{out}/labs/**/*.parquet', "
                            "hive_partitioning = true)", HOSP_PARTS["labs"]),
        "summary": digest(con, f"""SELECT itemid, CAST(mean_frequency AS DOUBLE) AS mean_frequency,
            missing_count, total_count, CAST(missing_rate AS DOUBLE) AS missing_rate
            FROM {csv('summary')}""", HOSP_PARTS["summary"]),
        "diagnoses": digest(con, f"SELECT * FROM {csv('diagnoses')}", HOSP_PARTS["diagnoses"]),
        "meds": digest(con, f"SELECT * REPLACE (coalesce(epc, '') AS epc) FROM {csv('meds')}",
                       HOSP_PARTS["meds"]),
    }


# ---- cohort_sweep ----------------------------------------------------------
def sweep_name(task, include_h, bucket_h):
    return f"{task}_{include_h}h_{bucket_h}h"


def _sweep(con):
    labels = {
        "mortality": "CASE WHEN p.dod IS NOT NULL AND p.dod BETWEEN a.admittime AND "
                     "a.dischtime THEN 1 ELSE 0 END",
        "readmission": "CASE WHEN lead(a.admittime) OVER (PARTITION BY a.subject_id "
                       "ORDER BY a.admittime, a.hadm_id) <= a.dischtime + INTERVAL 30 DAY "
                       "THEN 1 ELSE 0 END",
        "los": "CASE WHEN a.dischtime - a.admittime >= INTERVAL 3 DAY THEN 1 ELSE 0 END",
    }
    out = {}
    for task, include_h, bucket_h in SWEEP:
        con.execute(f"CREATE OR REPLACE TEMP TABLE cohort AS {_cohort_sql(labels[task])}")
        con.execute(f"""CREATE OR REPLACE TEMP TABLE ev AS
          SELECT c.hadm_id, c.itemid, c.valuenum, l.los_h,
                 {_hours('co.admittime', 'c.charttime')} AS off
          FROM chartevents c JOIN cohort co USING (hadm_id)
          JOIN (SELECT hadm_id, {_hours('admittime', 'dischtime')} AS los_h FROM cohort) l
            USING (hadm_id)
          WHERE {_hours('co.admittime', 'c.charttime')} >= 0""")
        mode, pred_w = SWEEP_WINDOW[task]
        if mode == "first":
            shifted = f"SELECT *, off AS o FROM ev WHERE los_h >= {include_h + pred_w}"
        else:
            shifted = f"SELECT *, off - (los_h - {include_h}) AS o FROM ev WHERE los_h >= {include_h}"
        con.execute(f"""CREATE OR REPLACE TEMP TABLE bucketed AS
          SELECT hadm_id, itemid, CAST(floor(o / {bucket_h}) AS BIGINT) AS bucket,
                 avg(valuenum) AS value
          FROM ({shifted}) WHERE o >= 0 AND o < {include_h} GROUP BY ALL""")
        cells = f"""SELECT hadm_id, CAST(itemid AS VARCHAR) AS code, bucket AS idx,
                           value_imputed AS v
                    FROM ({_densify('bucketed', include_h // bucket_h)})"""
        n1, h1 = digest(con, cells, ["hadm_id", "code", "idx", grid("v")])
        n2, h2 = digest(con, "SELECT * FROM cohort", ["'label'", "hadm_id", "label"])
        out[sweep_name(task, include_h, bucket_h)] = [n1 + n2, h1 + h2]
    return out


# ---- notes_curate ----------------------------------------------------------
NOTES_PARTS = ["doc_id", "source", "md5(text)", "n_tokens", "bin_id"]


def _components(pairs):
    """Union-find: every non-minimal member of a near-duplicate component."""
    parent = {}

    def find(x):
        while parent.get(x, x) != x:
            parent[x] = parent.get(parent[x], parent[x])
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return sorted(x for x in {v for p in pairs for v in p} if find(x) != x)


def _shingles(src, n):
    grams = " || ' ' || ".join(f"toks[i + {j}]" for j in range(n))
    return f"""SELECT DISTINCT doc_id, {grams} AS s FROM
      (SELECT doc_id, toks, unnest(range(1, len(toks) - {n - 2})) AS i FROM {src})"""


def _notes(con):
    stop = ", ".join(f"'{w}'" for w in STOPWORDS)
    con.execute("""CREATE TEMP TABLE docs AS
      SELECT note_id * 8 + sec_no AS doc_id, section AS text, lang, category AS source,
             string_split(trim(section), ' ') AS toks
      FROM (SELECT note_id, lang, category, generate_subscripts(parts, 1) - 1 AS sec_no,
                   unnest(parts) AS section
            FROM (SELECT *, string_split(text, chr(10) || chr(10)) AS parts FROM notes))""")
    con.execute(f"""CREATE TEMP TABLE s1 AS SELECT * FROM docs
      WHERE lang IN ('en') AND len(toks) BETWEEN 20 AND 500
        AND len(list_filter(toks, t -> t IN ({stop}))) / len(toks) < 0.4""")
    con.execute(r"""CREATE TEMP TABLE s2 AS SELECT * FROM s1 WHERE doc_id IN (
      SELECT min(doc_id) FROM s1
      GROUP BY md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')))""")
    con.execute(f"CREATE TEMP TABLE sh AS {_shingles('s2', 3)}")
    con.execute("""CREATE TEMP TABLE mh AS
      SELECT doc_id, seed, min(md5(CAST(seed AS VARCHAR) || ':' || s)) AS h
      FROM sh, range(12) r(seed) GROUP BY ALL""")
    con.execute("""CREATE TEMP TABLE bands AS
      SELECT a.doc_id, a.seed // 2 AS band, md5(a.h || '|' || b.h) AS key
      FROM mh a JOIN mh b ON a.doc_id = b.doc_id AND b.seed = a.seed + 1
      WHERE a.seed % 2 = 0""")
    pairs = con.execute("""
      WITH cand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b FROM bands x
                    JOIN bands y ON x.band = y.band AND x.key = y.key AND x.doc_id < y.doc_id),
      sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
      inter AS (SELECT c.a, c.b, count(*) AS k FROM cand c
                JOIN sh p ON p.doc_id = c.a JOIN sh q ON q.doc_id = c.b AND q.s = p.s
                GROUP BY ALL)
      SELECT i.a, i.b FROM inter i JOIN sz sa ON sa.doc_id = i.a JOIN sz sb ON sb.doc_id = i.b
      WHERE i.k / (sa.n + sb.n - i.k) >= 0.5""").fetchall()
    victims = _components(pairs)
    con.execute("CREATE TEMP TABLE victims (doc_id BIGINT)")
    if victims:
        con.executemany("INSERT INTO victims VALUES (?)", [(v,) for v in victims])
    con.execute("CREATE TEMP TABLE s3 AS SELECT * FROM s2 WHERE doc_id NOT IN (SELECT doc_id FROM victims)")
    con.execute("""CREATE TEMP TABLE bdocs AS
      SELECT doc_id, string_split(trim(text), ' ') AS toks FROM benchmark""")
    con.execute(f"""CREATE TEMP TABLE s4 AS SELECT * FROM s3 WHERE doc_id NOT IN (
      SELECT c.doc_id FROM ({_shingles('s3', 5)}) c
      JOIN (SELECT DISTINCT s FROM ({_shingles('bdocs', 5)})) b USING (s))""")
    packed = """SELECT doc_id, source, text, len(toks) AS n_tokens,
      CAST(floor((sum(len(toks)) OVER (PARTITION BY source ORDER BY doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - len(toks)) / 256.0)
           AS INTEGER) AS bin_id
      FROM s4"""
    count = lambda t: con.execute(f"SELECT count(*) FROM {t}").fetchone()[0]
    # the default config leaves the fluency and scrub stages as identities
    report = {"00_input": count("docs"), "10_quality": count("s1"),
              "12_fluency": count("s1"), "15_scrub": count("s1"),
              "20_exact_dedup": count("s2"), "30_near_dedup": count("s3"),
              "40_decontaminated": count("s4"), "50_sampled": count("s4")}
    return {"curated": digest(con, packed, NOTES_PARTS), "report": report}


def _notes_output(con, out):
    return {"curated": digest(con, f"SELECT * FROM read_parquet('{out}/curated/*.parquet')",
                              NOTES_PARTS)}


# ---- entry points ----------------------------------------------------------
def expected(workload, files, tmp_dir):
    """The reference result of one workload over its generated files."""
    con = connect(tmp_dir)
    _views(con, files)
    if workload == "icu_tensors":
        return _icu(con)
    if workload == "hosp_ingest":
        return _hosp(con, files)
    if workload == "cohort_sweep":
        return _sweep(con)
    if workload == "notes_curate":
        return _notes(con)
    raise ValueError(workload)


def check_pass(workload, p, want, tmp_dir):
    """Mismatch descriptions for one pass of the harness ([] = correct)."""
    if "error" in p:
        return [p["error"]]
    if workload == "cohort_sweep":
        got = p.get("digests", {})
        return [f"{k}: got {got.get(k)}, want {v}" for k, v in want.items()
                if got.get(k) != v]
    con = connect(tmp_dir)
    try:
        got = {"icu_tensors": _icu_output, "hosp_ingest": _hosp_output,
               "notes_curate": _notes_output}[workload](con, p["out"])
    except duckdb.Error as e:
        return [f"output unreadable: {e}"]
    if workload == "notes_curate":
        got["report"] = p.get("report", {})
    return [f"{k}: got {got.get(k)}, want {v}" for k, v in want.items()
            if got.get(k) != v]

