#!/usr/bin/env python3
"""One seeded benchmark run of the token-compression engine.

usage: python3 perfbench/run.py --workload {ingest,scan,lookup,queries}
           [--seed N (1)] [--seconds S (5)] [--trace {0,1} (0)]

Run from the root of a checkout. Builds the engine from source on first use
(perfbench/build.py), makes the workload's inputs from the seed, runs it in
one local[k] Spark JVM with k = the cores this process may use, minus one,
checks every output, and prints the metrics; the last stdout line is one JSON object
{"correct", "attempted", "failed", "metrics"}. --trace 0 reports the
end-to-end metrics, --trace 1 the per-layer ones from a traced run.
See perfbench/README.md.
"""
import argparse
import collections
import glob
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import benchlib  # noqa: E402
import build  # noqa: E402

JVM_TIMEOUT_S = 170
MIN_MEM_GB = 4.0
ADD_OPENS = ("java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar")
SHM_SCRATCH = "/dev/shm/graft_q_scratch_*"


def box_shape():
    cores = len(os.sched_getaffinity(0))
    # Spark gets all cores but one: in local mode the driver thread, the JIT
    # compiler and the collector share the executor's JVM, and leaving them
    # a core makes runs faster and steadier
    spark_cores = max(1, cores - 1)
    mem_kb = 0
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    mem_gb = mem_kb / 1048576.0
    # a quarter of memory, 2..8 GiB: the box is shared, and a larger heap
    # only lets the collector defer work (build.sbt's fallback is 24 GiB)
    heap_gb = min(8, max(2, int(mem_kb / 4194304)))
    return {"box_cores": cores, "box_mem_gb": round(mem_gb, 2),
            "spark_cores": spark_cores, "heap_gb": heap_gb}


def skip_reason(box, workload):
    if box["box_mem_gb"] < MIN_MEM_GB:
        return (f"{box['box_mem_gb']} GiB of memory cannot host a "
                f"{box['heap_gb']} GiB heap next to the page cache")
    if shutil.which("java") is None:
        return "no java on PATH"
    if workload == "queries":
        try:
            import duckdb  # noqa: F401
        except ImportError:
            return "the queries oracle needs the duckdb Python module"
    return None


def dir_bytes(path):
    total = 0
    for d, _, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(d, f))
            except OSError:
                pass
    return total


def sweep_dead_runs(build_dir):
    """Removes the run roots of earlier runs that were killed outright."""
    for d in glob.glob(os.path.join(build_dir, "run-*")):
        try:
            os.kill(int(d.rsplit("-", 1)[1]), 0)
        except ProcessLookupError:
            shutil.rmtree(d, ignore_errors=True)
        except (ValueError, PermissionError):
            pass


class Terminated(Exception):
    pass


def on_term(signum, frame):
    raise Terminated(signum)


def run_jvm(classes, jars, plan_path, rec_path, run_root, box, log_path,
            timeout_s):
    # a pre-sized heap keeps the collector's sizing out of peak RSS
    cmd = ["java", f"-Xms{box['heap_gb']}g", f"-Xmx{box['heap_gb']}g",
           "-Dspark.sql.session.timeZone=UTC",
           f"-Djava.io.tmpdir={os.path.join(run_root, 'tmp')}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-cp", os.pathsep.join([classes, os.path.join(jars, "*")]),
            "perfbench.PerfBench", plan_path, rec_path]
    env = dict(os.environ, SPARK_DRIVER_MEM=f"{box['heap_gb']}g")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                                env=env, start_new_session=True)
        try:
            rc = proc.wait(timeout=max(10, timeout_s))
        except BaseException:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            raise
    return rc


def log_tail(path, n=40):
    try:
        with open(path, errors="replace") as f:
            return "".join(f.readlines()[-n:])
    except OSError:
        return ""


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=benchlib.WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=5.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "src", "main", "scala", "graft")):
        print("error: no engine source (src/main/scala/graft); run from the "
              "root of a checkout", file=sys.stderr)
        return 2
    box = box_shape()
    reason = skip_reason(box, args.workload)
    if reason:
        print(json.dumps({"skipped": args.workload, "reason": reason, **box}))
        print(f"skipped: {reason}", file=sys.stderr)
        return 3
    classes, jars = build.build(root)
    t_built = time.monotonic()

    signal.signal(signal.SIGTERM, on_term)
    sweep_dead_runs(os.path.join(root, ".bench_build"))
    run_root = os.path.join(root, ".bench_build", f"run-{os.getpid()}")
    shutil.rmtree(run_root, ignore_errors=True)
    os.makedirs(os.path.join(run_root, "tmp"))
    shm_before = set(glob.glob(SHM_SCRATCH))
    try:
        return measure(args, box, classes, jars, run_root, shm_before,
                       t_built + JVM_TIMEOUT_S)
    except Terminated:
        print("terminated", file=sys.stderr)
        return 143
    finally:
        shutil.rmtree(run_root, ignore_errors=True)
        for d in set(glob.glob(SHM_SCRATCH)) - shm_before:
            shutil.rmtree(d, ignore_errors=True)


def measure(args, box, classes, jars, run_root, shm_before, deadline):
    plan = benchlib.input_plan(args.workload, args.seed)
    plan.update(seconds=args.seconds, trace=args.trace,
                cores=box["spark_cores"], root=run_root,
                setup_reps=benchlib.SETUP_REPS,
                warmup_s=args.seconds,
                min_ops=benchlib.MIN_OPS[args.workload])
    py_setup = [0.0] * benchlib.SETUP_REPS
    if args.workload == "queries":
        for i in range(benchlib.SETUP_REPS):
            d = os.path.join(run_root, f"sf{i}")
            t0 = time.perf_counter()
            benchlib.gen_sf(d, args.seed)
            py_setup[i] = time.perf_counter() - t0
        plan["sf_dir"] = d
    plan_path = os.path.join(run_root, "plan.json")
    rec_path = os.path.join(run_root, "record.json")
    log_path = os.path.join(run_root, "jvm.log")
    with open(plan_path, "w") as f:
        json.dump(plan, f)

    rc = run_jvm(classes, jars, plan_path, rec_path, run_root, box, log_path,
                 deadline - time.monotonic())
    t_jvm_end = time.monotonic()
    raw = {}
    if os.path.isfile(rec_path):
        with open(rec_path) as f:
            raw = json.load(f)
    if rc != 0 or "fatal" in raw or not raw.get("ops"):
        sys.stderr.write(log_tail(log_path))
        print(f"error: benchmark JVM failed (exit {rc}): "
              f"{raw.get('fatal', 'no record')}", file=sys.stderr)
        return 1

    attempted, failed = raw["attempted"], raw["failed"]
    failures = list(raw.get("failures", []))
    query_walls = {}
    if args.workload == "queries":
        plain = [o for o in raw["ops"] if not o["traced"]]
        errors = {o["name"]: o["error"] for o in plain if "error" in o}
        verdict = benchlib.oracle_check(plan["sf_dir"], raw["query_out"],
                                        [o["name"] for o in plain])
        for name, why in verdict.items():
            attempted += 1
            why = errors.get(name) or why
            if why:
                failed += 1
                failures.append(f"{name}: {why}")
        query_walls = {o["name"]: o["wall_s"] for o in raw["ops"]
                       if o["traced"] == bool(args.trace)}
    leak = dir_bytes(os.path.join(run_root, "entry-scratch")) + sum(
        dir_bytes(d) for d in set(glob.glob(SHM_SCRATCH)) - shm_before)

    walls = [o["wall_s"] for o in raw["ops"] if not o["traced"]]
    setup = [a + b for a, b in zip(py_setup, raw["setup_s"])]
    stored = benchlib.safe_div(raw["stored_bytes"], raw["stored_tokens"])
    e2e = benchlib.end_to_end(raw, walls, setup, stored, failed, attempted)
    record = {"workload": args.workload, "seed": args.seed,
              "seconds": args.seconds, "trace": args.trace, **box,
              **{f"{k}_version": v for k, v in raw["versions"].items()},
              "ops": len(raw["ops"]), "entry_scratch_redirected":
              raw.get("entry_scratch_redirected"),
              "headline_metrics": headline_metrics(args.workload, raw, e2e, walls),
              "failures": failures[:20]}
    if args.trace:
        tr = raw["trace"]
        benchlib.classify(tr, args.workload)
        metrics = benchlib.per_layer(raw, args.workload, leak, query_walls)
        units = {n: u for n, u, _ in benchlib.PER_LAYER}
        spans = benchlib.trace_spans(tr)
        self_us = benchlib.self_by_name(spans)
        record["jobs_by_callsite"] = dict(collections.Counter(
            j["callsite"] for j in tr["jobs"]))
        record["self_s_by_span"] = {k: round(v / 1e6, 6)
                                    for k, v in sorted(self_us.items())}
        # the self times account for the traced wall; they exceed it only
        # where sibling stages overlap
        record["traced_wall_s"] = sum(s["end"] - s["start"] for s in spans
                                      if s["parent"] is None) / 1e6
        record["self_s_total"] = sum(self_us.values()) / 1e6
    else:
        metrics = e2e
        units = {n: u for n, u, _, _ in benchlib.END_TO_END}
    record["scratch_leak_bytes"] = leak
    record["phases_s"] = dict(raw.get("phases", {}), py_setup=sum(py_setup),
                              py_after_jvm=time.monotonic() - t_jvm_end)

    print(f"perfbench {args.workload} seed={args.seed} trace={args.trace} "
          f"cores={box['box_cores']} spark=local[{box['spark_cores']}] "
          f"mem={box['box_mem_gb']}GiB "
          f"java={raw['versions']['java']} spark {raw['versions']['spark']}")
    for k, v in record["headline_metrics"].items():
        print(f"  {k:<34} {v['value']:>14.6g} {v['unit']}")
    for f in failures[:20]:
        print(f"  FAILED {f}")
    print(json.dumps({"record": record}, sort_keys=True))
    result = {"correct": failed == 0, "attempted": attempted,
              "failed": failed,
              "metrics": {k: {"value": metrics[k], "unit": units[k]}
                          for k in units}}
    print(json.dumps(result))
    return 0


def headline_metrics(workload, raw, e2e, walls):
    """The metrics under their headline names (ingest_mtok_s, lookup_p50_ms,
    ...); README.md maps them to the gated end-to-end names."""
    unit = {"setup_s": "s", "peak_rss_mb": "MB", "ops_failed_frac": "frac"}
    m = {"setup_s": e2e["setup_s"], "peak_rss_mb": e2e["peak_rss_mb"],
         "ops_failed_frac": 1.0 - e2e["ops_ok_frac"]}
    ops = [o for o in raw["ops"] if not o["traced"]]
    mtok_s = benchlib.safe_div(sum(o.get("tokens", 0) for o in ops),
                               sum(walls)) / 1e6
    if workload == "ingest":
        m["ingest_mtok_s"] = mtok_s
        m["stored_bytes_per_token"] = e2e["stored_bytes_per_token"]
        unit.update(ingest_mtok_s="Mtok/s", stored_bytes_per_token="B/tok")
    elif workload == "scan":
        m["scan_mtok_s"] = mtok_s
        unit["scan_mtok_s"] = "Mtok/s"
    elif workload == "lookup":
        m["lookup_p50_ms"] = e2e["op_p50_ms"]
        m["lookup_p90_ms"] = e2e["op_p90_ms"]
        m["lookups"] = len(ops)
        unit.update(lookup_p50_ms="ms", lookup_p90_ms="ms", lookups="count")
    else:
        m["queries_s"] = sum(walls)
        m["query_p50_s"] = statistics.median(walls)
        m["queries"] = len(ops)
        unit.update(queries_s="s", query_p50_s="s", queries="count")
    return {k: {"value": v, "unit": unit[k]} for k, v in m.items()}


if __name__ == "__main__":
    sys.exit(main())
