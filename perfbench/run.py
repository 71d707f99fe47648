#!/usr/bin/env python3
"""perfbench: one command that builds the engine from source, runs one named
workload against it, checks the outputs and prints the metrics.

    python3 perfbench/run.py --workload operator_batch --seed 1 --seconds 12 --trace 0

Run it from the repository root. Everything it builds or writes goes under
`.bench_build/` there. The last line of stdout is one JSON object with the
keys correct, attempted, failed and metrics; a readable report goes to
stderr. See perfbench/README.md for the workloads and the metrics.
"""
import argparse
import glob
import hashlib
import importlib.util
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import layers  # noqa: E402
import stats  # noqa: E402

SPARK_JARS = os.path.join(os.environ.get("SPARK_HOME", ""), "jars")
JVM_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]
# -XX:-UsePerfData: the JVM would otherwise write hsperfdata under /tmp.
JVM_FLAGS = ["-Xmx3g", "-Xss4m", "-XX:+UseG1GC", "-XX:-UsePerfData",
             "-XX:-DontCompileHugeMethods", "-XX:ReservedCodeCacheSize=512m"]
RUN_TIMEOUT_S = 170

# operator_batch reads the repository's sf 0.001 test fixtures (data seed
# 42), a byte-identical copy of which sits here so that the benchmark reads
# nothing outside its checkout; its --seed orders the entries of each pass.
FIXTURES = os.path.join(HERE, "fixtures", "sf0.001")
# tick_ingest is driven by the seeded tick generator: a warm-up block, then
# cycles of `live` Poisson ticks at `rate` per second followed by a backlog
# of `backlog` ticks. The first `warm_cycles` cycles warm the JIT and are
# not measured: freshness kept falling until about the fifth cycle (p50
# about 500 ms in the third, 360-460 ms from the fifth on), and measuring
# while it still falls makes the figure depend on how fast the JIT warms.
WORKLOADS = {
    "operator_batch": {"kind": "batch"},
    "tick_ingest": {"kind": "ingest", "warmup": 400, "live": 600, "rate": 400.0,
                    "backlog": 9000, "max_per_trigger": 2000, "warm_cycles": 4},
}

END_TO_END = {  # name -> unit
    "setup_s": "s", "pass_s": "s", "task_s": "s", "live_heap_mb": "MB",
    "latency_ms": "ms", "tail_latency_ms": "ms", "throughput_per_s": "1/s",
}


class BenchError(Exception):
    pass


def log(msg):
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


# ------------------------------------------------------------------- build

def digest(paths, extra=""):
    h = hashlib.sha256(extra.encode())
    for p in sorted(paths):
        h.update(p.encode() + b"\0")
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def scalac(out_dir, classpath, sources):
    """Compiles with the Scala compiler that ships in the Spark jars."""
    tmp = out_dir + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = tmp + ".args"
    with open(argfile, "w") as f:
        f.write("\n".join(sources))
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", os.path.join(SPARK_JARS, "*"),
           "scala.tools.nsc.Main", "-nowarn", "-d", tmp, "-classpath", classpath,
           "@" + argfile]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    os.remove(argfile)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise BenchError(f"compile failed for {out_dir}:\n{r.stdout[-4000:]}")
    os.replace(tmp, out_dir)


def engine_classes(root, build):
    """The engine compiled from src/main, keyed by a digest of its sources,
    so classes older than the sources are never used."""
    sources = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"), recursive=True))
    if not sources:
        raise BenchError(f"no engine sources under {root}/src/main/scala; "
                         "run from the root of the repository")
    out = os.path.join(build, "engine-" + digest(sources))
    if not os.path.isdir(out):
        log(f"compiling {len(sources)} engine sources")
        t = time.time()
        scalac(out, os.path.join(SPARK_JARS, "*"), sources)
        log(f"engine compiled in {time.time() - t:.1f}s")
    if not glob.glob(os.path.join(out, "graft", "SparkEntry*.class")):
        raise BenchError(f"engine classes missing under {out}")
    return out


def harness_classes(build, engine):
    sources = sorted(glob.glob(os.path.join(HERE, "scala", "*.scala")))
    out = os.path.join(build, "harness-" + digest(sources, engine))
    if not os.path.isdir(out):
        log("compiling the harness")
        scalac(out, engine + os.pathsep + os.path.join(SPARK_JARS, "*"), sources)
    return out


# --------------------------------------------------------------------- run

def run_harness(args, cfg, classpath, work, launch_us, extra):
    opts = {"workload": args.workload, "work": work, "trace": args.trace,
            "launch_us": launch_us, "cpus": os.cpu_count() or 4, "seed": args.seed,
            "seconds": args.seconds, "result": os.path.join(work, "result.json")}
    opts.update(extra)
    cmd = (["java"] + JVM_OPENS + JVM_FLAGS +
           [f"-Djava.io.tmpdir={work}/tmp",
            f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", classpath, "perfbench.Harness"] +
           [f"{k}={v}" for k, v in opts.items()])
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    with open(os.path.join(work, "engine.log"), "w") as logf:
        proc = subprocess.Popen(cmd, stdout=logf, stderr=subprocess.STDOUT, cwd=work)
        try:
            code = proc.wait(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            raise BenchError(f"engine run exceeded {RUN_TIMEOUT_S}s")
        finally:
            if proc.poll() is None:
                proc.kill()
            proc.wait()
    if code != 0 or not os.path.exists(opts["result"]):
        with open(os.path.join(work, "engine.log")) as f:
            tail = f.read()[-3000:]
        raise BenchError(f"engine run failed (exit {code}):\n{tail}")
    with open(opts["result"]) as f:
        return json.load(f)


def ingest_cycles(seconds, cfg):
    """Measured cycles of live ticks + backlog that fill `seconds`."""
    est = cfg["live"] / cfg["rate"] + cfg["backlog"] / 6000.0 + 0.5
    return max(2, math.ceil(seconds / est))


def run_ingest(args, cfg, classpath, work, launch_us):
    ctl = os.path.join(work, "ctl")
    os.makedirs(ctl)
    cycles = cfg["warm_cycles"] + ingest_cycles(args.seconds, cfg)
    genlog = os.path.join(work, "ticks.csv")
    gen = subprocess.Popen(
        [sys.executable, os.path.join(HERE, "tickgen.py"), "--seed", str(args.seed),
         "--ctl", ctl, "--log", genlog, "--warmup", str(cfg["warmup"]),
         "--cycles", str(cycles), "--live", str(cfg["live"]), "--rate", str(cfg["rate"]),
         "--backlog", str(cfg["backlog"])],
        stdout=subprocess.PIPE, stderr=open(os.path.join(work, "tickgen.log"), "w"), text=True)
    try:
        line = gen.stdout.readline().split()
        if len(line) != 2 or line[0] != "PORT":
            raise BenchError("tick generator did not start")
        per_cycle = cfg["live"] + cfg["backlog"]
        bounds = [cfg["warmup"] + k * per_cycle for k in range(cycles + 1)]
        res = run_harness(args, cfg, classpath, work, launch_us, {
            "port": line[1], "ctl": ctl, "bounds": ",".join(map(str, bounds)),
            "max_per_trigger": cfg["max_per_trigger"], "timeout_s": RUN_TIMEOUT_S - 30})
        gen.wait(timeout=20)
    finally:
        if gen.poll() is None:
            gen.kill()
        gen.wait()
        gen.stdout.close()
    if not os.path.exists(genlog):
        raise BenchError("tick generator wrote no log")
    return res, genlog


# ----------------------------------------------------------------- metrics

def timed(values, unit):
    q1, q2, q3 = stats.quartiles(values)
    return {"median": q2, "q1": q1, "q3": q3, "n": len(values), "unit": unit}


def batch_metrics(res):
    """Pass 1 is the warm-up: it counts towards set-up, the rest are timed."""
    warm = [o for o in res.get("ops", []) if o["pass"] == 1]
    ops = [o for o in res.get("ops", []) if o["pass"] > 1]
    passes = sorted({o["pass"] for o in ops})
    pass_s, task_s = [], []
    for k in passes:
        mine = [o for o in ops if o["pass"] == k]
        pass_s.append(sum(o["end_us"] - o["start_us"] for o in mine) / 1e6)
        task_s.append(sum(o["task_ms"] for o in mine) / 1e3)
    per_entry = {}
    for o in ops:
        per_entry.setdefault(o["name"], []).append((o["end_us"] - o["start_us"]) / 1e3)
    entry_ms = [stats.median(v) for v in per_entry.values()]
    lat = [(o["end_us"] - o["start_us"]) / 1e3 for o in ops]
    n_ops = len(per_entry)
    return {
        "setup_s": timed([(res["session_ready_us"] - res["launch_us"] + sum(
            o["end_us"] - o["start_us"] for o in warm)) / 1e6], "s"),
        "pass_s": timed(pass_s, "s"),
        "task_s": timed(task_s, "s"),
        "live_heap_mb": timed([p["heap_mb"] for p in res.get("passes", [])], "MB"),
        # too few executions per run for a percentile (see README): the
        # typical operation is the geometric mean of per-entry medians
        "latency_ms": {**timed(lat, "ms"), "median": stats.geomean(entry_ms)},
        "tail_latency_ms": {**timed(lat, "ms"), "median": max(entry_ms) if entry_ms else 0},
        "throughput_per_s": timed([n_ops / s for s in pass_s if s > 0], "1/s"),
    }


def read_ticks(genlog):
    import csv
    with open(genlog) as f:
        rows = list(csv.DictReader(f))
    return [{k: (v if k in ("price", "qty") else int(v)) for k, v in r.items()} for r in rows]


def ingest_batches(res):
    """(start, end, commit_us, progress) per committed micro-batch of the
    ingest query, from the progress events and the Loader call times."""
    loads = {l["batch"]: l for l in res.get("loads", [])}
    out = []
    for p in res.get("progress", []):
        if p["batch"] in loads and p.get("src_end") is not None:
            start = int(p["src_start"]) if p.get("src_start") not in (None, "null") else 0
            out.append((start, int(p["src_end"]), loads[p["batch"]]["end_us"], p))
    return out


def ingest_metrics(res, ticks, warm_cycles):
    """Cycles after the first `warm_cycles` are measured; the warm-up
    counts towards set-up. Freshness percentiles are taken per cycle and
    reported as the median over cycles, so one disturbed cycle does not
    move them."""
    batches = ingest_batches(res)
    idx = stats.map_ticks_to_batches([(b[0], b[1]) for b in batches], [t["seq"] for t in ticks])
    commit = [batches[i][2] if i is not None else None for i in idx]
    cycles = sorted(res.get("cycles", []), key=lambda c: c["cycle"])
    n_cycles = max(t["cycle"] for t in ticks)
    fresh, p50, p95, pass_s, task_s, drain, heap = [], [], [], [], [], [], []
    for k in range(warm_cycles + 1, n_cycles + 1):
        mine = [(t, c) for t, c in zip(ticks, commit) if t["cycle"] == k]
        if any(c is None for _, c in mine) or k >= len(cycles):
            continue  # an incomplete cycle is reported as failed ticks
        live = [(t, c) for t, c in mine if t["phase"] == 1]
        back = [(t, c) for t, c in mine if t["phase"] == 2]
        cycle_fresh = [(c - t["due_us"]) / 1e3 for t, c in live]
        fresh += cycle_fresh
        p50.append(stats.percentile(cycle_fresh, 0.5) or 0)
        p95.append(stats.percentile(cycle_fresh, 0.95) or 0)
        start = cycles[k - 1]["start_us"]
        end = max(c for _, c in mine)
        pass_s.append((end - start) / 1e6)
        task_s.append((cycles[k]["task_ms"] - cycles[k - 1]["task_ms"]) / 1e3)
        heap.append(cycles[k]["heap_mb"])
        # drain rate per backlog batch: its ticks over the time since the
        # previous batch committed; the first backlog batch also waited for
        # the backlog to arrive, so it is left out
        hold = sorted({i for t, i in zip(ticks, idx) if t["cycle"] == k and t["phase"] == 2},
                      key=lambda i: batches[i][0])
        drain += [(batches[b][1] - batches[b][0]) / ((batches[b][2] - batches[a][2]) / 1e6)
                  for a, b in zip(hold, hold[1:])]
    return {
        "setup_s": timed([(cycles[warm_cycles]["start_us"] - res["launch_us"]) / 1e6]
                         if len(cycles) > warm_cycles else [], "s"),
        "pass_s": timed(pass_s, "s"),
        "task_s": timed(task_s, "s"),
        "live_heap_mb": timed(heap, "MB"),
        "latency_ms": {**timed(fresh, "ms"), "median": stats.median(p50)},
        "tail_latency_ms": {**timed(fresh, "ms"), "median": stats.median(p95)},
        "throughput_per_s": timed(drain, "1/s"),
    }, commit


# ------------------------------------------------------------ correctness

def load_check_module(root):
    path = os.path.join(root, "tools", "check.py")
    if not os.path.exists(path):
        raise BenchError(f"{path} is missing; the oracle compare uses its canonicalization")
    spec = importlib.util.spec_from_file_location("graft_check", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def verify_batch(root, data, work, res):
    """Compares every dumped result to its DuckDB oracle with the
    canonicalization of tools/check.py. Returns the names that mismatch."""
    import duckdb
    check = load_check_module(root)
    con = duckdb.connect()
    con.execute("SET threads=2")
    for t in check.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")
    bad = []
    for entry in res.get("oracle", []):
        name, sql = entry["name"], entry["sql"]
        try:
            hcols = {c for c, t, *_ in con.execute(f"DESCRIBE ({sql})").fetchall()
                     if "HUGEINT" in t.upper()}
            r = con.execute(sql)
            ocols = [d[0] for d in r.description]
            orows = r.fetchall()
            r2 = con.execute(f"SELECT * FROM read_parquet('{work}/verify/{name}/*.parquet')")
            scols = [d[0] for d in r2.description]
            srows = r2.fetchall()
            same = (sorted(ocols) == sorted(scols) and
                    check.canon(orows, ocols, float_cols=frozenset(hcols)) ==
                    check.canon(srows, scols, True))  # Spark side: DECIMAL as float repr
        except Exception as e:  # an oracle or read failure is a failed check
            log(f"oracle compare error for {name}: {e}")
            same = False
        if not same:
            bad.append(name)
    return bad


def verify_ingest(work, genlog):
    """Every generated trade id landed exactly once, and the landed rows
    hash-match a DuckDB rendering of the R2-R6 transform over the generated
    ticks: half-even price rounding to cents, quantity truncated to 5 dp,
    time truncated to the second (UTC). Returns (wrong rows, detail)."""
    import duckdb
    con = duckdb.connect()
    con.execute("SET threads=2")
    con.execute(f"CREATE VIEW gen AS SELECT * FROM read_csv('{genlog}', header=true, "
                "columns={'seq':'BIGINT','trade_id':'BIGINT','price':'VARCHAR','qty':'VARCHAR',"
                "'t_ms':'BIGINT','maker':'INTEGER','due_us':'BIGINT','sent_us':'BIGINT',"
                "'phase':'INTEGER','cycle':'INTEGER'})")
    con.execute(f"CREATE VIEW landed AS SELECT * FROM read_parquet('{work}/landed/*.parquet')")
    expected = """
        SELECT trade_id AS bid, 'BTCUSDT' AS parameter,
               CASE WHEN c - f > 0.5 THEN f + 1 WHEN c - f < 0.5 THEN f
                    ELSE f + (f % 2) END AS cents,
               CAST(CAST(substring(qty, 1, length(qty) - 3) AS DECIMAL(18, 5)) * 100000
                    AS BIGINT) AS qty_units,
               t_ms // 1000 AS epoch_s, maker
        FROM (SELECT *, CAST(price AS DECIMAL(18, 8)) * 100 AS c,
                        CAST(floor(CAST(price AS DECIMAL(18, 8)) * 100) AS BIGINT) AS f
              FROM gen)"""
    actual = """
        SELECT bid, parameter, CAST(price * 100 AS BIGINT) AS cents,
               CAST(quantity * 100000 AS BIGINT) AS qty_units,
               CAST(epoch(time) AS BIGINT) AS epoch_s, CAST(maker AS INTEGER) AS maker
        FROM landed"""
    n_gen = con.execute("SELECT count(*) FROM gen").fetchone()[0]
    n_landed, n_ids = con.execute("SELECT count(*), count(DISTINCT bid) FROM landed").fetchone()
    missing = con.execute(
        "SELECT count(*) FROM gen WHERE trade_id NOT IN (SELECT bid FROM landed)").fetchone()[0]
    render = lambda sql: sorted("\t".join(map(str, r)) for r in con.execute(sql).fetchall())
    want, got = render(expected), render(actual)
    h = lambda rows: hashlib.sha256("\n".join(rows).encode()).hexdigest()
    wrong = len(set(want) ^ set(got)) // 2 + missing + (n_landed - n_ids)
    detail = (f"{n_gen} ticks generated, {n_landed} rows landed, {n_ids} distinct ids, "
              f"{missing} missing, hash {'match' if h(want) == h(got) else 'MISMATCH'}")
    if h(want) != h(got):
        wrong = max(wrong, 1)
    return wrong, n_gen, detail


# -------------------------------------------------------------------- main

def stop_on_sigterm(signum, frame):
    raise SystemExit(128 + signum)  # unwinds through the child clean-ups


def main():
    signal.signal(signal.SIGTERM, stop_on_sigterm)
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=12)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    root = os.getcwd()
    build = os.path.join(root, ".bench_build")
    cfg = WORKLOADS[args.workload]
    try:
        if not glob.glob(os.path.join(SPARK_JARS, "spark-core_*.jar")):
            raise BenchError("set SPARK_HOME to a Spark 4.1 installation (its jars/ are used)")
        engine = engine_classes(root, build)
        harness = harness_classes(build, engine)
        classpath = os.pathsep.join([harness, engine, os.path.join(SPARK_JARS, "*")])
        key = build_key(args.workload, cfg, os.path.basename(harness))
        work = os.path.join(build, "runs", f"{args.workload}-seed{args.seed}-{os.getpid()}")
        shutil.rmtree(work, ignore_errors=True)
        os.makedirs(work)
        if cfg["kind"] == "batch":
            data = FIXTURES
            if not os.path.exists(os.path.join(data, "lineitem.parquet")):
                raise BenchError(f"fixture tables missing under {data}")
            launch_us = time.time_ns() // 1000
            res = run_harness(args, cfg, classpath, work, launch_us, {"data": data})
            metrics = batch_metrics(res)
            ops = res.get("ops", [])
            errors = [o for o in ops if o.get("error")]
            bad = verify_batch(root, data, work, res)
            attempted = len(ops)
            failed = len(errors) + len(bad)
            detail = (f"{len(ops)} executions, {len(errors)} errors, "
                      f"{len(res.get('oracle', []))} results compared, {len(bad)} mismatched"
                      + (f" {bad}" if bad else "")
                      + "".join(f"\n  error in {o['name']}: {o['error'][:300]}" for o in errors))
            ticks = None
        else:
            launch_us = time.time_ns() // 1000
            res, genlog = run_ingest(args, cfg, classpath, work, launch_us)
            ticks = read_ticks(genlog)
            metrics, commit = ingest_metrics(res, ticks, cfg["warm_cycles"])
            wrong, attempted, detail = verify_ingest(work, genlog)
            uncommitted = sum(1 for c in commit if c is None)
            failed = max(wrong, uncommitted)
            if res.get("ingest_incomplete") or res.get("stream_error"):
                failed = max(failed, 1)
                detail += f"; stream incomplete: {res.get('stream_error', '')}"
    except BenchError as e:
        log(str(e))
        return 2
    correct = failed == 0
    report(args, metrics, attempted, failed, detail)
    if args.trace:
        per_layer = layers.layer_metrics(res, cfg["kind"], ticks, cfg.get("warm_cycles", 0))
        per_layer.update(trace_overhead(build, key, metrics))
        trace_path = os.path.join(build, "traces", f"{args.workload}-seed{args.seed}.json")
        os.makedirs(os.path.dirname(trace_path), exist_ok=True)
        layers.write_trace(trace_path, res)
        log(f"spans written to {os.path.relpath(trace_path, root)}")
        for k, (v, u) in sorted(per_layer.items()):
            log(f"  {k:32s} {v:14.3f} {u}")
        out_metrics = {k: {"value": v, "unit": u} for k, (v, u) in per_layer.items()}
    else:
        remember_untraced(build, key, metrics)
        out_metrics = {k: {"value": metrics[k]["median"], "unit": END_TO_END[k]}
                       for k in END_TO_END}
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": out_metrics}))
    return 0


def report(args, metrics, attempted, failed, detail):
    log(f"{args.workload} seed={args.seed}: {detail}")
    log(f"  error_rate = {failed / max(1, attempted):.6f} ({failed} of {attempted} operations)")
    for k in END_TO_END:
        m = metrics[k]
        log(f"  {k:18s} {m['median']:12.4f} {m['unit']:4s} "
            f"[q1 {m['q1']:.4f}, q3 {m['q3']:.4f}, n={m['n']}]")


def build_key(workload, cfg, harness):
    """The untraced baseline a traced run may be compared with: same
    workload, same workload settings, same compiled engine and harness (the
    harness directory's digest covers the engine's)."""
    return f"{workload}:{digest([], json.dumps(cfg, sort_keys=True) + harness)}"


def remember_untraced(build, key, metrics):
    """Keeps the latest untraced pass_s per build key, for the traced run's
    overhead figure."""
    path = os.path.join(build, "untraced.json")
    try:
        with open(path) as f:
            seen = json.load(f)
    except (OSError, ValueError):
        seen = {}
    seen.setdefault(key, []).append(metrics["pass_s"]["median"])
    seen[key] = seen[key][-10:]
    with open(path, "w") as f:
        json.dump(seen, f)


def trace_overhead(build, key, metrics):
    """Traced minus untraced pass_s (median of the untraced runs of this
    same build kept in this checkout). With no such run it reads 0, rather
    than mixing in another build's timings."""
    try:
        with open(os.path.join(build, "untraced.json")) as f:
            base = json.load(f).get(key, [])
    except (OSError, ValueError):
        base = []
    if not base:
        log("trace.overhead_s: no untraced run of this build yet, reported as 0")
        return {"trace.overhead_s": (0.0, "s")}
    return {"trace.overhead_s": (metrics["pass_s"]["median"] - stats.median(base), "s")}


if __name__ == "__main__":
    sys.exit(main())
