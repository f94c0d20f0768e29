#!/usr/bin/env python3
"""Benchmark entry point: one workload, one seed, one JVM.

  python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the root of a checkout. It builds the library and the harness
from source with sbt when they changed (perfbench/build.sbt), generates
the workload's inputs from the seed (perfbench/gen.py), runs
graft.bench.Main in a fresh JVM with `local[<cores>]`, checks the
outputs, and prints as its last stdout line one JSON object:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics
are the end-to-end ones; with --trace 1 the per-layer ones (spans go to
.bench_out/trace_<workload>_<seed>.json). Exit code 0 when every output
is correct, 1 on a wrong result, 2 when the program is missing or fails.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import gen  # noqa: E402

# workload -> generator kind
WORKLOADS = {"curation": "curation", "claims_etl": "claims", "event_stream": "events"}
END_TO_END = [("setup_s", "s"), ("cold_pass_s", "s"), ("query_p50_s", "s"),
              ("query_tail_s", "s"), ("queries_per_s", "1/s"), ("rows_per_s", "1/s"),
              ("peak_mem_mb", "MB")]
PER_LAYER = [
    ("operators.build_s", "s"), ("operators.build_jobs", "count"),
    ("plans.plan_s", "s"), ("plans.exchanges", "count"), ("plans.bnl_joins", "count"),
    ("exec.s", "s"), ("exec.jobs", "count"), ("exec.stages", "count"),
    ("exec.tasks", "count"), ("exec.task_s", "s"), ("exec.task_cpu_s", "s"),
    ("exec.gc_s", "s"), ("exec.core_util", "ratio"),
    ("exec.shuffle_write_bytes", "bytes"), ("exec.shuffle_read_bytes", "bytes"),
    ("exec.spill_bytes", "bytes"), ("scan.input_bytes", "bytes"), ("scan.input_rows", "count"),
    ("ml.hybrid_build_s", "s"), ("ml.truth_build_s", "s"), ("ml.gram_build_s", "s"),
    ("ml.lifecycle_s", "s"), ("ml.artifact_bytes", "bytes"),
    ("pipeline.fetch_s", "s"), ("pipeline.fetch_bytes", "bytes"), ("pipeline.load_s", "s"),
    ("pipeline.refresh_s", "s"), ("pipeline.upsert_s", "s"), ("pipeline.gold_s", "s"),
    ("pipeline.bronze_bytes", "bytes"), ("pipeline.silver_bytes", "bytes"),
    ("pipeline.files_written", "count"), ("pipeline.store_bytes_per_input_byte", "ratio"),
    ("streaming.batches", "count"), ("streaming.batch_plan_s", "s"),
    ("streaming.state_rows", "count"), ("streaming.state_bytes", "bytes"),
    ("jvm.compile_s", "s"), ("jvm.gc_s", "s"), ("trace.overhead_s", "s")]
SETUP_LAYER = {"ml.hybrid_build_s", "ml.truth_build_s", "ml.gram_build_s", "ml.lifecycle_s",
               "ml.artifact_bytes"}
HEAP = "2g"
RUN_LIMIT_S = 170
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]
LIB_SRC = os.path.join(ROOT, "src", "main", "scala")


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


class Failure(Exception):
    pass


# --- build ---

def _source_stamp():
    h = hashlib.sha256()
    roots = [LIB_SRC, os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files.extend(os.path.join(d, f) for f in fs)
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile with sbt unless the sources match the last build; returns
    the runtime classpath."""
    target = os.path.join(HERE, "target")
    cp_file = os.path.join(target, "runtime-classpath.txt")
    stamp_file = os.path.join(target, "bench-build-stamp")
    stamp = _source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as f:
                    return f.read()
    log("building library + harness with sbt")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    t0 = time.time()
    p = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                       cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       stdin=subprocess.DEVNULL, timeout=840)
    if p.returncode != 0 or not os.path.exists(cp_file):
        sys.stderr.write(p.stdout.decode(errors="replace")[-4000:])
        raise Failure("sbt build failed")
    log(f"build took {time.time() - t0:.1f} s")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    with open(cp_file) as f:
        return f.read()


# --- inputs ---

def make_inputs(workload, data, seed):
    kind = WORKLOADS[workload]
    sub = {"claims": "claims", "events": "events"}.get(kind)
    out = os.path.join(data, sub) if sub else data
    return gen.generate(kind, out, seed)


# --- checks ---

def _duck():
    import duckdb
    return duckdb.connect()


def _same_rows(got, exp):
    """The library's oracle compare: columns by name, rows sorted, values
    equal (or equal as strings). Returns None or a reason."""
    got = got.reindex(sorted(got.columns), axis=1)
    exp = exp.reindex(sorted(exp.columns), axis=1)
    if list(got.columns) != list(exp.columns):
        return f"columns {list(got.columns)} vs {list(exp.columns)}"
    if len(got) != len(exp):
        return f"rows {len(got)} vs {len(exp)}"

    def ordered(df):
        key = df.map(lambda v: str(v.tolist()) if hasattr(v, "tolist") else str(v))
        return df.loc[key.sort_values(by=list(df.columns)).index].reset_index(drop=True)
    g, e = ordered(got), ordered(exp)
    for c in g.columns:
        for i, (a, b) in enumerate(zip(g[c].tolist(), e[c].tolist())):
            if a == b or (a is None and b is None) or str(a) == str(b):
                continue
            if isinstance(a, float) and isinstance(b, float) and math.isnan(a) and math.isnan(b):
                continue
            return f"column {c} row {i}: {a!r} vs {b!r}"
    return None


def _unstable(hashes):
    """Operations whose result digest changed between passes (failed
    passes are already counted as failed operations)."""
    bad = {}
    for name, hs in hashes.items():
        ok = set(h for h in hs if h != "error")
        if len(ok) > 1:
            bad[name] = f"digest differs across passes: {sorted(ok)}"
    return bad


def check_queries(r, data):
    """Result digests must repeat on every pass; oracle-backed results must
    match DuckDB running SparkEntry.oracleSql over the same inputs."""
    bad = _unstable(r["hashes"])
    con = _duck()
    for t in os.listdir(data):
        if t.endswith(".parquet"):
            con.sql(f"CREATE VIEW {t[:-8]} AS SELECT * FROM '{data}/{t}'")
    c = r["checks"]
    for name, sql in sorted(c["oracle_sql"].items()):
        try:
            got = con.sql(f"SELECT * FROM '{c['results_dir']}/{name}/*.parquet'").df()
            why = _same_rows(got, con.sql(sql).df())
        except Exception as e:  # an oracle that cannot run is a failed check
            why = f"oracle error: {str(e)[:200]}"
        if why:
            bad[name] = why
    return 1 + len(c["oracle_sql"]), bad


def check_claims(r, expected):
    c = r["checks"]
    bad = {}
    file_of = lambda t: t.replace("_", "")  # claim_payment -> claimpayment
    for key, exp in (("silver_batch1", expected["batches"]["batch1"]),
                     ("silver_batch2", expected["batches"]["batch2"]),
                     ("upserted", expected["union"])):
        for t, n in c[key].items():
            if n != exp[file_of(t)]:
                bad[f"{key}/{t}"] = f"{n} rows, expected {exp[file_of(t)]}"
    if c["gold_cents"] != expected["gold_cents"]:
        bad["gold/monthly_status"] = "claim_value totals differ"
    for k, exp in expected["claims_mart"].items():
        if c["claims_mart"].get(k) != exp:
            bad[f"gold/claims_mart/{k}"] = f"{c['claims_mart'].get(k)}, expected {exp}"
    return 3 * len(c["upserted"]) + 1 + len(expected["claims_mart"]), bad


def check_stream(r, info):
    c = r["checks"]
    res = c["results_dir"]
    bad = _unstable(r["hashes"])
    con = _duck()
    ev = os.path.join(os.path.dirname(res), "data", "events")
    n, d = con.sql(f"SELECT count(*), count(DISTINCT event_id) FROM '{res}/dedup/*.parquet'").fetchone()
    if n != info["distinct_events"] or d != n:
        bad["dedup"] = f"{n} rows / {d} ids, expected {info['distinct_events']}"
    # every emitted window matches the oracle; every window closed by the
    # watermark of the second-to-last file was emitted
    last = c["files"][-2]
    wm = con.sql(f"SELECT max(ts) - INTERVAL 10 MINUTE FROM '{ev}/{last}'").fetchone()[0]
    oracle = ("SELECT time_bucket(INTERVAL 1 HOUR, ts) AS wstart, event_type, count(*) AS n, "
              f"sum(value) AS s FROM '{ev}/all.parquet' GROUP BY ALL")
    diff = con.sql(f"""
        WITH o AS ({oracle}), g AS (SELECT * FROM '{res}/tumble/*.parquet')
        SELECT count(*) FILTER (WHERE o.n IS NULL OR g.n <> o.n
                                OR abs(g.sum_value - o.s) > 1e-6 * greatest(1, abs(o.s))),
               count(*) FILTER (WHERE g.n IS NULL AND o.wstart + INTERVAL 1 HOUR <= ?)
        FROM g FULL OUTER JOIN o
          ON g.wstart = o.wstart AND g.event_type = o.event_type""", params=[wm]).fetchone()
    if diff != (0, 0):
        bad["tumble"] = f"{diff[0]} wrong windows, {diff[1]} missing"
    return 2 + len(r["hashes"]), bad


# --- metrics ---

def tail(lat):
    """The highest whole percentile with at least 10 samples above it
    (nearest rank); the median when there are 20 samples or fewer.
    Returns (value, percentile, sample count)."""
    s = sorted(lat)
    n = len(s)
    p = math.floor(100 * (n - 10) / n)
    if p <= 50:
        return statistics.median(s), 50, n
    return s[math.ceil(p / 100 * n) - 1], p, n


def end_to_end(r, boot_s, rows_per_pass):
    steady = r["steady"]
    lat = [x for p in steady for x in p["op_s"]]
    wall = sum(p["wall_s"] for p in steady)
    rows = r["steady_input_rows"] if rows_per_pass is None else rows_per_pass * len(steady)
    t, p, n = tail(lat)
    m = {
        "setup_s": boot_s + r["setup_s"],
        "cold_pass_s": r["cold_pass_s"],
        "query_p50_s": statistics.median(lat),
        "query_tail_s": t,
        "queries_per_s": len(lat) / wall,
        "rows_per_s": rows / wall,
        "peak_mem_mb": r["peak_mem_bytes"] / 2 ** 20,
    }
    return m, {"tail_percentile": p, "samples": n, "steady_passes": len(steady)}


def per_layer(r, csv_bytes):
    traced = r["traced"]
    m = {}
    for k, _ in PER_LAYER:
        src = [r["setup_layer"]] if k in SETUP_LAYER else [p["layer"] for p in traced]
        m[k] = statistics.median([x.get(k, 0.0) for x in src]) if src else 0.0
    if csv_bytes:
        stored = statistics.median([p["layer"].get("pipeline.bronze_bytes", 0)
                                    + p["layer"].get("pipeline.silver_bytes", 0)
                                    + p["layer"].get("pipeline.gold_bytes", 0) for p in traced])
        m["pipeline.store_bytes_per_input_byte"] = stored / csv_bytes
    m["trace.overhead_s"] = (statistics.median(p["wall_s"] for p in traced)
                             - statistics.median(p["wall_s"] for p in r["steady"]))
    return m, dict(PER_LAYER)


# --- run ---

def run(args):
    if not os.path.isfile(os.path.join(LIB_SRC, "graft", "SparkEntry.scala")):
        raise Failure(f"library sources not found under {os.path.relpath(LIB_SRC, ROOT)}")
    cp = build()
    t_start = time.time()
    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "spark-local", "data"):
        os.makedirs(os.path.join(work, d))
    proc = None

    def stop(*_):
        if proc is not None and proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        sys.exit(2)
    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    try:
        data = os.path.join(work, "data")
        g0 = time.time()
        inputs = make_inputs(args.workload, data, args.seed)
        inputs["gen_s"] = time.time() - g0
        env = {k: v for k, v in os.environ.items() if k != "GRAFT_ARTIFACT_ROOT"}
        env["JAVA_TOOL_OPTIONS"] = " ".join(
            o for o in env.get("JAVA_TOOL_OPTIONS", "").split()
            if not o.startswith("-Dgraft.artifacts.root"))
        env["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
        out = os.path.join(work, "result.json")
        cmd = (["java", *ADD_OPENS, f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData",
                f"-Djava.io.tmpdir={work}/tmp", f"-Dspark.hadoop.hadoop.tmp.dir={work}/tmp",
                "-Dspark.ui.enabled=false", "-cp", cp, "graft.bench.Main",
                "--workload", args.workload, "--data", data, "--work", work, "--out", out,
                "--seconds", str(args.seconds), "--seed", str(args.seed),
                "--trace", str(args.trace)])
        with open(os.path.join(work, "jvm.log"), "wb") as jlog:
            t_popen = time.time()
            proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=jlog,
                                    stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL,
                                    start_new_session=True)
            try:
                rc = proc.wait(timeout=max(30, RUN_LIMIT_S - (time.time() - t_start)))
            except subprocess.TimeoutExpired:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
                raise Failure("benchmark JVM timed out")
        if rc != 0 or not os.path.exists(out):
            with open(os.path.join(work, "jvm.log"), errors="replace") as f:
                sys.stderr.write(f.read()[-4000:])
            raise Failure(f"benchmark JVM exited with {rc}")
        with open(out) as f:
            r = json.load(f)
        boot_s = r["main_entry_ms"] / 1000.0 - t_popen
        c0 = time.time()

        info = inputs["info"]
        if args.workload == "claims_etl":
            attempted, bad = check_claims(r, info)
            silver = sum(info["batches"]["batch1"].values()) + sum(info["batches"]["batch2"].values())
            rows_per_pass, csv_bytes = silver, info["csv_bytes"]
        elif args.workload == "event_stream":
            attempted, bad = check_stream(r, info)
            rows_per_pass, csv_bytes = info["rows"], None
        else:
            attempted, bad = check_queries(r, data)
            rows_per_pass, csv_bytes = None, None
        attempted += r["attempted"]
        failed = r["failed"] + len(bad)
        log(f"jvm {c0 - t_popen:.1f} s, checks {time.time() - c0:.1f} s")

        if args.trace:
            metrics, units = per_layer(r, csv_bytes)
            os.makedirs(os.path.join(ROOT, ".bench_out"), exist_ok=True)
            path = os.path.join(ROOT, ".bench_out", f"trace_{args.workload}_{args.seed}.json")
            with open(path, "w") as f:
                json.dump({"workload": args.workload, "seed": args.seed, "spans": r["spans"],
                           "setup_layer": r["setup_layer"],
                           "passes": [p["layer"] for p in r["traced"]]}, f)
            extra = {"trace_file": os.path.relpath(path, ROOT)}
        else:
            metrics, extra = end_to_end(r, boot_s, rows_per_pass)
            units = dict(END_TO_END)
        summary = {"seed": args.seed, "input_bytes": inputs["input_bytes"],
                   "gen_s": round(inputs["gen_s"], 3), "cores": r["cores"],
                   "max_heap_mb": r["max_heap_mb"], "vm_hwm_mb": r["peak_rss_kb"] // 1024,
                   "jvm_boot_s": round(boot_s, 3),
                   **extra,
                   **{k: v for k, v in info.items() if k in (
                       "rows", "near_dup_share", "near_dup_rows", "csv_bytes", "duplicates")}}
        print("inputs and run: " + json.dumps(summary, sort_keys=True))
        for e in r["errors"]:
            print(f"FAILED {e}")
        for name, why in sorted(bad.items()):
            print(f"FAILED {name}: {why}")
        print(json.dumps({
            "correct": not bad and r["failed"] == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()}}))
        return 0 if not bad and r["failed"] == 0 else 1
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:  # another run is still using it
            pass


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    try:
        return run(args)
    except Failure as e:
        log(f"error: {e}")
        return 2


if __name__ == "__main__":
    sys.exit(main())
