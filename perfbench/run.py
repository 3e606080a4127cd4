#!/usr/bin/env python3
"""Benchmark for the graft engine: one seeded workload per run.

    python3 perfbench/run.py --workload overlay_service --seed 1 \
        --seconds 10 --trace 0

Run from the root of a checkout. The first run builds the engine and the
benchmark program from source with sbt (perfbench/build.sbt); later runs
reuse the build while the sources are unchanged. Each run generates its
inputs from the seed (gen.py), starts one JVM (perfbench.Main) on a
local[cores] session, checks every answer, and prints a report followed by
one JSON line: end-to-end metrics with --trace 0, per-layer metrics with
--trace 1. See perfbench/README.md for the workloads and metrics.
"""
import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(HERE, "target", "perfbench")
WORK = os.path.join(HERE, "work")
DEADLINE_S = 170

# A block's nominal duration: a block is a pass over the queries, or one
# fixed mix of requests. --seconds is turned into a count of blocks.
BLOCK_S = 4.0
# Per workload: untimed warm-up blocks before the timed phase (overlay
# reads keep getting faster for tens of requests as the JIT compiles), and
# for the declared-query workloads the data size, tables and queries
# (SparkEntry names; the JVM reads the list from the generated pass order).
WORKLOADS = {
    "overlay_service": {"warmup_blocks": 4},
    "iterative_loops": {
        "warmup_blocks": 1, "sf": 0.01, "tables": ["lineitem", "documents"],
        "queries": ["wro_watershed", "q23_ancestor_chains"]},
    "corpus_pipeline": {
        "warmup_blocks": 1, "sf": 0.05, "tables": ["documents", "embeddings"],
        "queries": ["d38_batch_topk", "d16_pq_topk", "d15_bpe_encode"]},
}

# Reported in the result line; the others are printed in the report only.
# block_time_s weighs every operation kind by its share of a block, so a
# block's one slow or fast operation does not decide it, and every sample
# of a kind counts the same.
END_TO_END = {"setup_s": "s", "block_time_s": "s"}
PER_LAYER = {
    "ops.build_s": "s", "ops.action_s": "s",
    "plan.analysis_s": "s", "plan.optimizer_s": "s", "plan.planning_s": "s",
    "plan.range_rewrites": "count",
    "scheduler.jobs": "count", "scheduler.stages": "count",
    "scheduler.tasks": "count", "scheduler.idle_s": "s",
    "scan.bytes_read": "bytes", "scan.records_read": "count",
    "scan.read_ratio": "ratio",
    "exchange.shuffle_write_bytes": "bytes", "exchange.shuffle_records": "count",
    "exchange.fetch_wait_s": "s",
    "exec.task_run_s": "s", "exec.task_cpu_s": "s", "exec.codegen_stage_s": "s",
    "exec.core_util": "ratio", "exec.gc_s": "s", "exec.spill_bytes": "bytes",
    "codegen.compile_s": "s", "codegen.compiles": "count",
    "materialize.blocks_put_bytes": "bytes", "materialize.held_bytes": "bytes",
    "materialize.held_rdds": "count", "materialize.local_dir_bytes": "bytes",
    "catalog.read_s": "s", "catalog.commit_s": "s",
    "catalog.bytes_written": "bytes", "catalog.files_written": "count",
    "catalog.versions": "count", "overlay.exec_s": "s",
    "classify.author_s": "s",
    "trace.ops_per_s": "1/s", "trace.untraced_ops_per_s": "1/s",
    "trace.overhead": "ratio",
}
# Printed in the report but left out of the result line: each is a time
# that reads 0.0 on every run of some workload (the catalog and overlay
# spans outside overlay_service; shuffle fetch waits in local mode).
REPORT_ONLY = {"catalog.read_s", "catalog.commit_s", "overlay.exec_s",
               "classify.author_s", "exchange.fetch_wait_s"}
JAVA_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Fingerprint of everything the build reads."""
    h = hashlib.sha256()
    files = sorted(glob.glob(os.path.join(ROOT, "src", "main", "**", "*"),
                             recursive=True)
                   + glob.glob(os.path.join(HERE, "src", "**", "*"),
                               recursive=True)
                   + [os.path.join(ROOT, "build.sbt"),
                      os.path.join(HERE, "build.sbt")])
    for f in files:
        if os.path.isfile(f):
            st = os.stat(f)
            h.update(f"{f}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def build():
    """Compile the engine and the benchmark; return the runtime classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("no engine sources next to perfbench/ (run from a checkout)")
    stamp = source_stamp()
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp.txt")
    if os.path.exists(cp_file) and os.path.exists(stamp_file) \
            and open(stamp_file).read() == stamp:
        return open(cp_file).read().strip()
    proc = subprocess.run(
        ["sbt", "-batch", "-Dsbt.log.noformat=true",
         "export Runtime/fullClasspath"],
        cwd=HERE, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        stdin=subprocess.DEVNULL, text=True, timeout=840)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines or "perfbench" not in lines[-1]:
        sys.stderr.write(proc.stdout[-4000:])
        fail("build failed")
    os.makedirs(BUILD, exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(lines[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return lines[-1]


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def blocks(args):
    """Timed blocks: a fixed count per --seconds, so that every run measures
    the same executions (loop queries keep getting faster for many passes
    as the JIT compiles, so a time-bounded count would make a run's figures
    depend on how fast the machine was). At least three, for a median."""
    return max(3, round(args.seconds / BLOCK_S))


def run_jvm(classpath, args, work, data, started):
    local = os.path.join(work, "local")
    tmp = os.path.join(work, "tmp")
    os.makedirs(local)
    os.makedirs(tmp)
    env = dict(os.environ, SPARK_LOCAL_DIRS=local)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cmd = [java, "-Xmx3g", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false"]
    for p in JAVA_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "perfbench.Main",
            "--workload", args.workload, "--data", data, "--work", work,
            "--warmup-blocks", str(WORKLOADS[args.workload]["warmup_blocks"]),
            "--blocks", str(blocks(args)), "--trace", str(args.trace),
            "--cores", str(cores()),
            "--launched-ms", str(int(time.time() * 1000))]
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=log,
                                stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL)
        try:
            code = proc.wait(timeout=max(10, DEADLINE_S - (time.time() - started)))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail("benchmark JVM ran past the deadline")
    if code != 0 or not os.path.exists(os.path.join(work, "result.json")):
        with open(log_path) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        fail(f"benchmark JVM exited with code {code}")
    with open(os.path.join(work, "result.json")) as f:
        return json.load(f)


def expected(con, sql, data):
    """The oracle's answer, cached by the inputs it depends on: the
    generated tables and the SQL text. CTEs are materialized, which DuckDB
    otherwise re-evaluates once per reference; the answer is the same."""
    h = hashlib.sha256(sql.encode())
    for p in sorted(glob.glob(os.path.join(data, "*.parquet"))):
        with open(p, "rb") as f:
            h.update(f.read())
    cached = os.path.join(WORK, "oracle-cache", h.hexdigest() + ".parquet")
    if os.path.exists(cached):
        return con.execute(f"SELECT * FROM '{cached}'").fetchdf()
    exp = con.execute(re.sub(r"\b(\w+) AS \(", r"\1 AS MATERIALIZED (", sql)).fetchdf()
    os.makedirs(os.path.dirname(cached), exist_ok=True)
    con.register("expected_answer", exp)
    con.execute(f"COPY expected_answer TO '{cached}.tmp' (FORMAT PARQUET)")
    con.unregister("expected_answer")
    os.replace(cached + ".tmp", cached)
    return exp


def oracle_check(work, data):
    """Compare each first-pass answer with SparkEntry.oracleSql in DuckDB:
    columns sorted by name, rows sorted, values equal. Returns the names
    of the queries that do not match."""
    import duckdb
    con = duckdb.connect()
    for p in glob.glob(os.path.join(data, "*.parquet")):
        name = os.path.basename(p)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{p}'")
    with open(os.path.join(work, "oracle.json")) as f:
        oracle = json.load(f)
    answers = os.path.join(work, "answers")
    if not os.path.isdir(answers):
        return sorted(oracle)
    bad = []
    for name in sorted(os.listdir(answers)):
        files = glob.glob(os.path.join(work, "answers", name, "*.parquet"))
        got = con.execute(f"SELECT * FROM '{files[0]}'").fetchdf()
        if name not in oracle:
            print(f"oracle {name}: {len(got)} rows, no oracle SQL")
            continue
        exp = expected(con, oracle[name], data)
        gs = got.reindex(sorted(got.columns), axis=1)
        es = exp.reindex(sorted(exp.columns), axis=1)
        same = list(gs.columns) == list(es.columns) and len(gs) == len(es)
        if same and len(gs):
            gs = gs.sort_values(by=list(gs.columns), ignore_index=True)
            es = es.sort_values(by=list(es.columns), ignore_index=True)
            same = gs.equals(es)
        print(f"oracle {name}: {len(got)} rows, "
              f"{'exact' if same else 'MISMATCH'} vs DuckDB")
        if not same:
            bad.append(name)
    return bad


def percentile(sorted_vals, p):
    """Nearest-rank percentile."""
    k = max(1, -(-p * len(sorted_vals) // 100))
    return sorted_vals[int(k) - 1]


def tail(latencies):
    """The highest whole percentile with at least ten samples beyond it."""
    n = len(latencies)
    if n < 11:
        return None
    p = (100 * (n - 10)) // n
    return p, percentile(sorted(latencies), p)


def throughput(ops, bad_queries):
    """Correct operations per second of operation time, per block (a pass,
    or a block of requests with the workload's fixed mix), then the median
    over blocks: the first blocks after warm-up and a stalled block move it
    less than they would move the mean."""
    blocks = {}
    for o in ops:
        blocks.setdefault(o["block"], []).append(o)
    rates = []
    for b in blocks.values():
        busy = sum(o["latency_s"] for o in b)
        good = sum(1 for o in b if o["ok"] and o["name"] not in bad_queries)
        rates.append(good / busy if busy else 0.0)
    return statistics.median(rates) if rates else 0.0


def by_kind(ops):
    kinds = {}
    for o in ops:
        kinds.setdefault(o["name"], []).append(o["latency_s"])
    return kinds


def block_time(ops):
    """Operation time of one block of the workload's fixed mix: for each
    kind of operation (a declared query, or a request type), its median
    latency times how many of it a block holds, summed. Every sample of a
    kind counts the same whichever block it ran in; a pass's fastest or
    slowest operation does not decide the figure on its own."""
    blocks = len({o["block"] for o in ops})
    return sum(len(v) / blocks * statistics.median(v)
               for v in by_kind(ops).values()) if ops else 0.0


def summarize(ops, bad_queries):
    ok = [o for o in ops if o["ok"] and o["name"] not in bad_queries]
    lat = sorted(o["latency_s"] for o in ops)
    return {
        "attempted": len(ops),
        "failed": len(ops) - len(ok),
        "ops_per_s": throughput(ops, bad_queries),
        "latency_p50_s": statistics.median(lat) if lat else 0.0,
        "block_time_s": block_time(ops),
        "tail": tail(lat),
    }


def per_layer(res):
    ops = res["ops"]
    traced = [o for o in ops if o["phase"] == "traced"]
    untraced = [o for o in ops if o["phase"] == "untraced"]
    layers = [o["layers"] for o in traced]
    keys = {k for d in layers for k in d}

    def mean(k):
        return statistics.fmean(d.get(k, 0.0) for d in layers) if layers else 0.0
    m = {k: mean(k) for k in keys}
    reads = [d for d in layers if d.get("scan.values_in_extent")]
    m["scan.read_ratio"] = statistics.fmean(
        d["scan.records_read"] / d["scan.values_in_extent"] for d in reads) \
        if reads else 0.0
    m["materialize.held_bytes"] = statistics.fmean(
        o["held_bytes"] for o in traced) if traced else 0.0
    m["materialize.held_rdds"] = statistics.fmean(
        o["held_rdds"] for o in traced) if traced else 0.0
    growth = [o["local_dir_bytes"] - prev["local_dir_bytes"]
              for prev, o in zip(ops, ops[1:]) if o["phase"] == "traced"]
    m["materialize.local_dir_bytes"] = \
        statistics.fmean(growth) if growth else 0.0
    m.update(res["extra"])
    t = summarize(traced, set())["ops_per_s"]
    u = summarize(untraced, set())["ops_per_s"]
    m["trace.ops_per_s"] = t
    m["trace.untraced_ops_per_s"] = u
    m["trace.overhead"] = u / t - 1.0 if t else 0.0
    return {k: m.get(k, 0.0) for k in PER_LAYER}


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    classpath = build()
    started = time.time()          # set-up clock: after the build
    sys.path.insert(0, HERE)
    import gen

    work = os.path.join(WORK, f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    data = os.path.join(work, "data")
    spec = WORKLOADS[args.workload]
    gen.generate(args.workload, args.seed, data, spec)
    datagen_s = time.time() - started
    try:
        res = run_jvm(classpath, args, work, data, started)
        jvm_done = time.time()
        bad = oracle_check(work, data) if "queries" in spec else []
        oracle_s = time.time() - jvm_done
        keep = os.path.join(WORK, f"spans-{args.workload}.jsonl")
        if os.path.exists(os.path.join(work, "spans.jsonl")):
            shutil.copy(os.path.join(work, "spans.jsonl"), keep)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    ops = res["ops"]
    warm = [o for o in ops if o["phase"] == "warmup"]
    measured = [o for o in ops if o["phase"] != "warmup"]
    traced = [o for o in ops if o["phase"] == "traced"]
    # every measured answer counts for correctness; end-to-end timings come
    # from the operations that ran without tracing
    s = summarize(measured, set(bad))
    untraced = [o for o in measured if o["phase"] != "traced"]
    e = summarize(untraced, set(bad))
    setup_s = datagen_s + res["boot_s"] + res["session_s"] + res["warmup_s"]
    warm_bad = [o["name"] for o in warm if not o["ok"]]
    correct = not (bad or warm_bad or res["failures"] or s["failed"])

    print(f"workload {args.workload} seed {args.seed} seconds {args.seconds} "
          f"trace {args.trace}; closed loop, 1 client")
    print(f"run wall {time.time() - started:.1f} s, of which JVM "
          f"{jvm_done - started - datagen_s:.1f} s, oracle check {oracle_s:.1f} s")
    for k, v in sorted(res["session"].items()):
        print(f"session {k} = {v}")
    print("session differs from graft.Bench's: GraftExtensions installed here, "
          "not there; shuffle partitions = cores here, SPARK_GRAFT_CPUS there")
    for f in res["failures"]:
        print(f"setup check failed: {f}")
    print(f"setup: datagen {datagen_s:.3f} s, jvm boot {res['boot_s']:.3f} s, "
          f"session and prepare {res['session_s']:.3f} s, "
          f"warm-up {res['warmup_s']:.3f} s ({len(warm)} ops)")
    held = max((o["held_bytes"] for o in ops), default=0)
    rdds = max((o["held_rdds"] for o in ops), default=0)
    print(f"held after clearCache (no GC): max {held} bytes, max {rdds} RDDs; "
          f"local dir at end {ops[-1]['local_dir_bytes'] if ops else 0} bytes")
    print("latencies in order (s): " + " ".join(
        f"{o['name']}={o['latency_s']:.3f}" for o in warm + measured))
    print(f"end-to-end timings from the {len(untraced)} untraced operations "
          f"of {len({o['block'] for o in untraced})} blocks")
    for name, lat in sorted(by_kind(untraced).items()):
        print(f"op {name}: n={len(lat)} p50 {statistics.median(lat):.4f} s "
              f"max {max(lat):.4f} s")

    e2e = {"setup_s": setup_s, "block_time_s": e["block_time_s"]}
    error_rate = s["failed"] / s["attempted"] if s["attempted"] else 1.0
    for k, unit in END_TO_END.items():
        print(f"metric {k} = {e2e[k]:.6g} {unit}")
    print(f"metric latency_p50_s = {e['latency_p50_s']:.6g} s")
    print(f"metric ops_per_s = {e['ops_per_s']:.6g} 1/s")
    print(f"metric peak_rss_mb = {res['peak_rss_mb']:.6g} MiB")
    if e["tail"]:
        p, v = e["tail"]
        print(f"metric latency_tail_s = {v:.6g} s (p{p}, n={e['attempted']})")
    else:
        print(f"metric latency_tail_s = n/a (n={e['attempted']}; "
              f"needs 11 samples for 10 beyond a percentile)")
    print(f"metric error_rate = {error_rate:.6g} ratio "
          f"({s['failed']} of {s['attempted']})")
    if "bytes_stored_per_user_byte" in res["extra"]:
        print(f"metric bytes_stored_per_user_byte = "
              f"{res['extra']['bytes_stored_per_user_byte']:.6g} ratio")

    if args.trace:
        metrics = per_layer(res)
        for k, v in sorted(res["self_s"].items()):
            print(f"self time {k}: {v / max(1, len(traced)):.6g} s per op")
        for k, unit in PER_LAYER.items():
            print(f"layer {k} = {metrics[k]:.6g} {unit}")
        out = {k: {"value": metrics[k], "unit": u} for k, u in PER_LAYER.items()
               if k not in REPORT_ONLY}
    else:
        out = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END.items()}
    print(json.dumps({"correct": correct, "attempted": s["attempted"],
                      "failed": s["failed"], "metrics": out}))


if __name__ == "__main__":
    main()
