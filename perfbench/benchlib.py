"""Pure helpers of the benchmark: seeded inputs, statistics, the oracle
canonical hash, span self-time arithmetic and metric assembly.

Nothing here starts a process or touches Spark, so every rule the benchmark
applies is unit-tested in test_benchlib.py without a JVM.
"""
import hashlib
import json
import math
import os
import random
import re
import statistics

WORKLOADS = ("ingest", "scan", "lookup", "queries")

# Docs in the seeded token fixture (Fixtures.tokenTable). With the planned
# part count of 2 x cores every part holds several 128 Ki-token blocks, so
# the per-task TableCache symtab reuse is exercised.
FIXTURE_DOCS = 10000
# Lookup plan: enough entries for any run; a run uses a prefix of it.
LOOKUP_PLAN_LEN = 4000
LOOKUP_RANGE_SHARE = 0.25
LOOKUP_MAX_SPAN = 256
# Fewest measured ops per run: lookup's p90 needs 10 samples beyond it;
# ingest ops take about half a second, so its quantiles need the floor.
MIN_OPS = {"ingest": 16, "scan": 4, "lookup": 100, "queries": 0}
SETUP_REPS = 3

NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT_RE = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")

CODECS = ("plain", "bitpack", "for", "delta", "rle", "dict", "fsst2")

# Query-name prefix -> the module the query exercises.
QUERY_MODULES = (
    ("enc_", "engine"), ("stream_", "streaming"), ("dd_", "dedupindex"),
    ("ann_", "simsearch"), ("emb_", "simsearch"), ("b_", "functions"),
    ("c_", "functions"), ("id_", "functions"), ("s_", "serial"),
    ("h_", "checksum"), ("t_", "textops"), ("mm_", "multimodal"),
    ("ev_", "expressions"),
)
MODULES = ("engine", "streaming", "dedupindex", "simsearch", "functions",
           "serial", "checksum", "textops", "multimodal", "expressions")

END_TO_END = (
    ("setup_s", "s", "lower", 0.25),
    ("op_mean_ms", "ms", "lower", 0.25),
    ("op_p50_ms", "ms", "lower", 0.25),
    ("op_p90_ms", "ms", "lower", 0.25),
    ("stored_bytes_per_token", "B/tok", "lower", 0.02),
    ("peak_rss_mb", "MB", "lower", 0.1),
    ("ops_ok_frac", "frac", "higher", 0.01),
)


def _per_layer():
    m = [
        ("planner.plan_s", "s", "lower"),
        ("planner.part_tokens_max_over_avg", "ratio", "lower"),
        ("engine.route_stage_s", "s", "lower"),
        ("engine.encode_stage_s", "s", "lower"),
        ("engine.encode_task_max_over_median", "ratio", "lower"),
        ("engine.shuffle_write_bytes", "B", "lower"),
        ("engine.shuffle_read_bytes", "B", "lower"),
        ("engine.shuffle_fetch_wait_s", "s", "lower"),
        ("engine.spill_bytes", "B", "lower"),
        ("engine.cpu_over_run_frac", "frac", "higher"),
        ("engine.decode_stage_s", "s", "lower"),
        ("engine.decode_task_max_over_median", "ratio", "lower"),
        ("engine.scan_input_bytes", "B", "lower"),
        ("engine.blocks", "count", "lower"),
        ("engine.tokens_per_block", "tok", "higher"),
        ("engine.encoded_payload_bytes", "B", "lower"),
        ("engine.symtab_bytes", "B", "lower"),
        ("engine.zdict_bytes", "B", "lower"),
        ("engine.zstd_framed_frac", "frac", "lower"),
        ("engine.table_reuse_frac", "frac", "higher"),
    ]
    for c in CODECS:
        m += [(f"codecs.{c}.blocks", "count", "lower"),
              (f"codecs.{c}.bytes_per_token", "B/tok", "lower")]
    m += [
        ("analyze.stats_ns_per_tok", "ns/tok", "lower"),
        ("analyze.select_ns_per_block", "ns/block", "lower"),
    ]
    m += [(f"codecs.{c}.encode_ns_per_tok", "ns/tok", "lower") for c in CODECS]
    m += [
        ("engine.frame_ns_per_byte", "ns/B", "lower"),
        ("checksum.block_ns_per_tok", "ns/tok", "lower"),
        ("engine.encode_block_self_ns_per_tok", "ns/tok", "lower"),
    ]
    m += [(f"codecs.{c}.decode_ns_per_tok", "ns/tok", "lower") for c in CODECS]
    m += [
        ("engine.unframe_ns_per_byte", "ns/B", "lower"),
        ("checksum.verify_ns_per_tok", "ns/tok", "lower"),
        ("engine.decode_block_self_ns_per_tok", "ns/tok", "lower"),
        ("analyze.regret_bytes_frac", "frac", "lower"),
        ("manifest.lineage_job_s", "s", "lower"),
        ("manifest.write_job_s", "s", "lower"),
        ("manifest.persist_bytes", "B", "lower"),
        ("manifest.latest_ms", "ms", "lower"),
        ("reader.candidate_parts", "count", "lower"),
        ("reader.blocks_read", "count", "lower"),
        ("reader.blocks_useful_frac", "frac", "higher"),
        ("reader.rows_returned", "count", "higher"),
        ("reader.plan_ms", "ms", "lower"),
        ("reader.exec_ms", "ms", "lower"),
        ("spark.jobs", "count", "lower"),
        ("spark.tasks", "count", "lower"),
        ("spark.gc_s", "s", "lower"),
        ("spark.jobs_per_op", "count", "lower"),
        ("spark.tasks_per_op", "count", "lower"),
        ("spark.job_delay_ms", "ms", "lower"),
    ]
    m += [(f"SparkEntry.{mod}_s", "s", "lower") for mod in MODULES]
    m += [
        ("SparkEntry.scratch_leak_bytes", "B", "lower"),
        ("trace.overhead_frac", "frac", "lower"),
        ("trace.unattributed_frac", "frac", "lower"),
    ]
    return tuple(m)


PER_LAYER = _per_layer()


# ---------------------------------------------------------------- statistics

def percentile(xs, p):
    """Linear interpolation between closest ranks (numpy's default)."""
    s = sorted(xs)
    if not s:
        raise ValueError("percentile of no samples")
    k = (len(s) - 1) * p / 100.0
    lo = math.floor(k)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (k - lo)


def spread(values):
    """Inter-quartile distance over the median, with the quartiles that
    statistics.quantiles(values, n=4) gives."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2 if q2 else float("inf")


def valid_name(name):
    return bool(NAME_RE.match(name))


def valid_unit(unit):
    return bool(UNIT_RE.match(unit))


# ------------------------------------------------------------- seeded inputs

def input_plan(workload, seed):
    """Everything the JVM side needs that depends on the seed, apart from
    the fixture rows themselves (Fixtures.row(seed, i) in the engine)."""
    rng = random.Random(f"perfbench:{workload}:{seed}")
    plan = {"workload": workload, "seed": seed, "n_docs": FIXTURE_DOCS}
    if workload == "lookup":
        ops = []
        for _ in range(LOOKUP_PLAN_LEN):
            rank = rng.randrange(FIXTURE_DOCS)
            span = (rng.randint(2, LOOKUP_MAX_SPAN)
                    if rng.random() < LOOKUP_RANGE_SHARE else 1)
            ops.append([rank, span])
        plan["lookups"] = ops
    if workload == "queries":
        plan["query_salt"] = rng.getrandbits(62)
    return plan


SF_WORDS = ("a", "agg", "batch", "big", "column", "customer", "data", "dup",
            "fast", "filter", "group", "hash", "join", "key", "line", "merge",
            "order", "part", "query", "row", "scan", "slow", "small", "sort",
            "spark", "stream", "table", "the", "value", "vector", "window")
SF_LANGS = ("en", "de", "es", "fr", "zh")
SF_LANG_P = (0.41, 0.14, 0.15, 0.15, 0.15)
SF_EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
SF_ROWS = {"documents": 500, "embeddings": 500, "events": 1000,
           "lineitem": 6000}


def gen_sf(out_dir, seed):
    """Seeded stand-in for the TPC-H-ish tables the 64 SparkEntry queries
    read (documents, embeddings, events, lineitem), with the same schemas
    and value ranges as the shared TPC-H-ish sf0.001 set. Same seed, same
    bytes."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)

    n = SF_ROWS["documents"]
    lens = rng.integers(10, 101, n)
    words = np.array(SF_WORDS)
    texts = [" ".join(words[rng.integers(0, len(SF_WORDS), k)]) for k in lens]
    docs = pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(SF_LANGS, n, p=SF_LANG_P).tolist()),
        "source": pa.array([f"src{i}" for i in rng.integers(0, 20, n)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })

    n = SF_ROWS["embeddings"]
    v = rng.standard_normal((n, 64))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    embs = pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n).astype(np.int32)),
    })

    n = SF_ROWS["events"]
    t0 = np.datetime64("2024-01-01T00:00:00", "us")
    offs = np.sort(rng.integers(0, 30 * 86400 * 10**6, n))
    events = pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(t0 + offs.astype("timedelta64[us]"), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 15, n).astype(np.int64)),
        "event_type": pa.array(rng.choice(SF_EVENT_TYPES, n).tolist()),
        "value": pa.array(np.round(rng.uniform(0.01, 330.0, n), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    })

    n = SF_ROWS["lineitem"]
    d0 = np.datetime64("1995-01-01T00:00:00", "us")
    days = rng.integers(0, 2500, n).astype("timedelta64[D]")
    lineitem = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n // 4, n).astype(np.int64)),
        "l_partkey": pa.array(rng.integers(0, 200, n).astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(0, 10, n).astype(np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n).astype(np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, n).astype(np.float64)),
        "l_extendedprice": pa.array(np.round(rng.uniform(900, 105000, n), 2)),
        "l_discount": pa.array(rng.integers(0, 11, n) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n) / 100.0),
        "l_returnflag": pa.array(rng.choice(("A", "N", "R"), n).tolist()),
        "l_linestatus": pa.array(rng.choice(("F", "O"), n).tolist()),
        "l_shipdate": pa.array(d0 + days.astype("timedelta64[us]"),
                               pa.timestamp("us")),
    })
    for name, t in (("documents", docs), ("embeddings", embs),
                    ("events", events), ("lineitem", lineitem)):
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))


# ------------------------------------------------------- oracle canonical form

def canon(rel):
    """The canonical form tools/check_oracle.py compares: columns sorted by
    name, floats at 6 dp, bytes as hex, sha256 over the sorted rows."""
    cols = sorted(rel.columns)
    df = rel.df()[cols]
    rows = []
    for t in df.itertuples(index=False):
        vals = []
        for v in t:
            if isinstance(v, float):
                vals.append(f"{round(v, 6):.6f}")
            elif isinstance(v, (bytes, bytearray)):
                vals.append(v.hex())
            else:
                vals.append(str(v))
        rows.append("\x01".join(vals))
    rows.sort()
    h = hashlib.sha256("\n".join(rows).encode()).hexdigest()[:16]
    return cols, len(rows), h


def register_tables(con, sf_dir):
    for name in SF_ROWS:
        p = os.path.join(sf_dir, f"{name}.parquet")
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM parquet_scan('{p}')")


def oracle_check(sf_dir, out_dir, names):
    """Compare each query's parquet output with its oracle SQL under DuckDB.
    Returns {name: None if matched else a one-line reason}."""
    import duckdb
    con = duckdb.connect()
    register_tables(con, sf_dir)
    with open(os.path.join(out_dir, "oracle_sql.json")) as f:
        oracle = json.load(f)
    res = {}
    for name in names:
        try:
            want = canon(con.sql(oracle[name]))
            got = canon(con.sql(
                f"SELECT * FROM parquet_scan('{out_dir}/{name}/*.parquet')"))
            res[name] = None if want == got else (
                f"rows {got[1]}/{want[1]} cols_match={got[0] == want[0]} "
                f"hash_match={got[2] == want[2]}")
        except Exception as e:  # a missing output or bad SQL is a failure
            res[name] = f"{type(e).__name__}: {str(e).splitlines()[0][:160]}"
    con.close()
    return res


def query_module(name):
    for prefix, mod in QUERY_MODULES:
        if name.startswith(prefix):
            return mod
    return None


# ----------------------------------------------------------------- span math

def self_times(spans):
    """spans: dicts with id, parent, name, start, end (any one time unit).
    A span's self time is its duration minus the part of its interval that
    the union of its children's intervals covers. Returns {id: self}."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        lo, hi = s["start"], s["end"]
        ivs = sorted((max(c["start"], lo), min(c["end"], hi))
                     for c in kids.get(s["id"], ()))
        covered = 0
        cur_lo = cur_hi = None
        for a, b in ivs:
            if b <= a:
                continue
            if cur_hi is None or a > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = a, b
            else:
                cur_hi = max(cur_hi, b)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s["id"]] = (hi - lo) - covered
    return out


def self_by_name(spans):
    st = self_times(spans)
    agg = {}
    for s in spans:
        agg[s["name"]] = agg.get(s["name"], 0) + st[s["id"]]
    return agg


# ------------------------------------------------------------ trace records

def job_kind(callsite):
    """Which engine step launched a job, from the source file and action of
    its call site ("parquet at manifest.scala:331")."""
    if "planner.scala" in callsite:
        return "plan"
    if "manifest.scala" in callsite:
        return "write" if callsite.startswith(("parquet", "save")) else "lineage"
    return "op"


def classify(tr, workload):
    """Tags each job and stage with the step it belongs to: the route and
    encode stages of the commit's write job, the decode stages of reads."""
    kinds = {}
    for j in tr["jobs"]:
        j["kind"] = kinds[j["id"]] = job_kind(j["callsite"])
    for st in tr["stages"]:
        jk = kinds.get(st["job"], "op")
        if jk == "write":
            st["kind"] = "route" if st["is_map"] else "encode"
        elif jk == "op" and workload in ("scan", "lookup") \
                and st.get("input_bytes", 0) > 0:
            st["kind"] = "decode"
        else:
            st["kind"] = jk
        st["wall_ms"] = max(0, st["complete_ms"] - st["submit_ms"])


def trace_spans(tr):
    """The benchmark's spans plus one span per tagged job (child of the span
    that launched it) and per stage (child of its job), all in microseconds."""
    spans = list(tr["spans"])
    for j in tr["jobs"]:
        if j["end_ms"] >= j["submit_ms"]:
            spans.append({"id": f"j{j['id']}", "parent": j["span"],
                          "name": f"job.{j.get('kind', 'op')}",
                          "start": j["submit_ms"] * 1000,
                          "end": j["end_ms"] * 1000})
    for st in tr["stages"]:
        if st["complete_ms"] >= st["submit_ms"] > 0:
            spans.append({"id": f"s{st['id']}.{st['attempt']}",
                          "parent": f"j{st['job']}",
                          "name": f"stage.{st.get('kind', 'op')}",
                          "start": st["submit_ms"] * 1000,
                          "end": st["complete_ms"] * 1000})
    return spans


# ------------------------------------------------------------ metric assembly

def safe_div(a, b):
    """a / b, or 0 where the workload did none of the work b counts."""
    return a / b if b else 0.0


def end_to_end(raw, walls_s, setup_s, stored_bytes_per_token, failed,
               attempted):
    ms = [w * 1000.0 for w in walls_s]
    return {
        "setup_s": statistics.median(setup_s),
        "op_mean_ms": statistics.fmean(ms),
        "op_p50_ms": percentile(ms, 50),
        "op_p90_ms": percentile(ms, 90),
        "stored_bytes_per_token": stored_bytes_per_token,
        "peak_rss_mb": raw["rss_hwm_kb"] / 1024.0,
        "ops_ok_frac": 1.0 - safe_div(failed, attempted),
    }


def _task_skew(stages):
    durs = [d for st in stages for d in st["task_ms"]]
    if not durs:
        return 0.0
    return safe_div(max(durs), statistics.median(durs))


def per_layer(raw, workload, leak_bytes, query_walls):
    """Per-layer metrics from the traced run's raw record. A layer the
    workload does not exercise reads 0."""
    tr = raw["trace"]
    m = {name: 0.0 for name, _, _ in PER_LAYER}
    ops = [o for o in raw["ops"] if o["traced"]]
    plain = [o for o in raw["ops"] if not o["traced"]]
    n_ops = len(ops)
    jobs = tr["jobs"]
    stages = tr["stages"]
    by_kind = {}
    for st in stages:
        by_kind.setdefault(st["kind"], []).append(st)

    def stage_s(kind):
        return safe_div(sum(s["wall_ms"] for s in by_kind.get(kind, ())),
                        1000.0 * n_ops)

    m["engine.route_stage_s"] = stage_s("route")
    m["engine.encode_stage_s"] = stage_s("encode")
    m["engine.encode_task_max_over_median"] = _task_skew(by_kind.get("encode", ()))
    enc_side = by_kind.get("route", []) + by_kind.get("encode", [])
    m["engine.shuffle_write_bytes"] = safe_div(
        sum(s["shuffle_write"] for s in enc_side), n_ops)
    m["engine.shuffle_read_bytes"] = safe_div(
        sum(s["shuffle_read"] for s in enc_side), n_ops)
    m["engine.shuffle_fetch_wait_s"] = safe_div(
        sum(s["fetch_wait_ms"] for s in enc_side), 1000.0 * n_ops)
    m["engine.spill_bytes"] = safe_div(sum(s["spill"] for s in stages), n_ops)
    m["engine.cpu_over_run_frac"] = safe_div(
        sum(s["cpu_ns"] for s in enc_side) / 1e6,
        sum(s["run_ms"] for s in enc_side))
    m["engine.decode_stage_s"] = stage_s("decode")
    m["engine.decode_task_max_over_median"] = _task_skew(by_kind.get("decode", ()))
    m["engine.scan_input_bytes"] = safe_div(
        sum(s["input_bytes"] for s in by_kind.get("decode", ())), n_ops)

    def job_s(kind):
        return safe_div(sum(j["end_ms"] - j["submit_ms"] for j in jobs
                            if j["kind"] == kind), 1000.0 * n_ops)

    m["manifest.write_job_s"] = job_s("write")
    m["manifest.lineage_job_s"] = job_s("lineage")
    if workload == "ingest":
        m["manifest.persist_bytes"] = max(
            (o.get("persist_peak_bytes", 0) for o in ops), default=0)

    t = tr.get("table")
    if t:
        m["engine.blocks"] = t["blocks"]
        m["engine.tokens_per_block"] = safe_div(t["tokens"], t["blocks"])
        m["engine.encoded_payload_bytes"] = t["payload_bytes"]
        m["engine.symtab_bytes"] = t["symtab_bytes"]
        m["engine.zdict_bytes"] = t["zdict_bytes"]
        m["engine.zstd_framed_frac"] = safe_div(t["framed_blocks"], t["blocks"])
        m["engine.table_reuse_frac"] = safe_div(t["table_reused"], t["table_blocks"])
        m["planner.part_tokens_max_over_avg"] = safe_div(
            max(t["part_tokens"]), statistics.fmean(t["part_tokens"]))
        for c in CODECS:
            cs = t["codecs"].get(c)
            if cs:
                m[f"codecs.{c}.blocks"] = cs["blocks"]
                m[f"codecs.{c}.bytes_per_token"] = safe_div(cs["bytes"], cs["tokens"])
    if tr.get("plan_s"):
        m["planner.plan_s"] = statistics.median(tr["plan_s"])

    rp = tr.get("replay")
    if rp:
        tok, blocks = rp["tokens"], rp["blocks"]
        m["analyze.stats_ns_per_tok"] = safe_div(rp["stats_ns"], tok)
        m["analyze.select_ns_per_block"] = safe_div(rp["select_ns"], blocks)
        for c in CODECS:
            k = rp["codecs"].get(c)
            if k:
                m[f"codecs.{c}.encode_ns_per_tok"] = safe_div(k["encode_ns"], k["tokens"])
                m[f"codecs.{c}.decode_ns_per_tok"] = safe_div(k["decode_ns"], k["tokens"])
        m["engine.frame_ns_per_byte"] = safe_div(rp["frame_ns"], rp["frame_bytes"])
        m["engine.unframe_ns_per_byte"] = safe_div(rp["unframe_ns"], rp["unframe_bytes"])
        m["checksum.block_ns_per_tok"] = safe_div(rp["checksum_ns"], tok)
        m["checksum.verify_ns_per_tok"] = safe_div(rp["verify_ns"], tok)
        m["engine.encode_block_self_ns_per_tok"] = safe_div(
            rp["encode_block_ns"] - rp["stats_ns"] - rp["select_ns"]
            - rp["chosen_encode_ns"] - rp["frame_ns"] - rp["checksum_ns"], tok)
        m["engine.decode_block_self_ns_per_tok"] = safe_div(
            rp["decode_block_ns"] - rp["unframe_ns"] - rp["chosen_decode_ns"]
            - rp["verify_ns"], tok)
        m["analyze.regret_bytes_frac"] = safe_div(
            rp["chosen_bytes"] - rp["best_bytes"], rp["chosen_bytes"])

    rd = tr.get("reader")
    if rd:
        med = lambda k: statistics.median(r[k] for r in rd)
        m["manifest.latest_ms"] = med("latest_ms")
        m["reader.plan_ms"] = med("plan_ms")
        m["reader.exec_ms"] = statistics.median(o["wall_s"] * 1000 for o in ops)
        m["reader.candidate_parts"] = statistics.fmean(r["candidate_parts"] for r in rd)
        m["reader.blocks_read"] = statistics.fmean(r["blocks_read"] for r in rd)
        m["reader.blocks_useful_frac"] = safe_div(
            sum(r["blocks_useful"] for r in rd), sum(r["blocks_read"] for r in rd))
        m["reader.rows_returned"] = statistics.fmean(r["rows"] for r in rd)

    m["spark.jobs"] = len(jobs)
    m["spark.tasks"] = sum(s["n_tasks"] for s in stages)
    m["spark.gc_s"] = raw["gc_s"]
    m["spark.jobs_per_op"] = safe_div(len(jobs), n_ops)
    m["spark.tasks_per_op"] = safe_div(m["spark.tasks"], n_ops)
    delays = [j["first_task_ms"] - j["submit_ms"] for j in jobs
              if j.get("first_task_ms") is not None]
    m["spark.job_delay_ms"] = statistics.median(delays) if delays else 0.0

    if workload == "queries":
        for name, wall in query_walls.items():
            mod = query_module(name)
            if mod:
                m[f"SparkEntry.{mod}_s"] += wall
        m["SparkEntry.scratch_leak_bytes"] = leak_bytes

    if ops and plain:
        m["trace.overhead_frac"] = safe_div(
            statistics.median(o["wall_s"] for o in ops),
            statistics.median(o["wall_s"] for o in plain)) - 1.0
    spans = trace_spans(tr)
    st = self_times(spans)
    roots = [s for s in spans if s["parent"] is None]
    m["trace.unattributed_frac"] = safe_div(
        sum(st[s["id"]] for s in roots), sum(s["end"] - s["start"] for s in roots))
    return m
