#!/usr/bin/env python3
"""Benchmark for the graft Spark library.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> \\
        --trace <0|1>

Run from the repository root. The first run builds the library and the
benchmark's JVM driver with sbt (offline) into perfbench/target; later runs
reuse the build while the sources are unchanged. Each run then

  1. generates the workload's inputs from the seed (perfbench/gen.py) into a
     fresh per-run directory under perfbench/work/,
  2. starts one JVM with local[nproc] and a heap sized from MemTotal, which
     sets up the workload, runs one warm-up pass and then measures passes
     (or request rounds) for --seconds,
  3. checks every output outside the timed region: each step's first result
     against the DuckDB oracle, every later result against the first,
  4. prints every metric by name and unit, then one JSON line:
     {"correct", "attempted", "failed", "metrics"}.

--trace 0 reports the end-to-end metrics; --trace 1 reports the per-layer
metrics (spans around each layer call plus Spark listener counts) and the
tracing overhead, and writes the spans to perfbench/work/traces/.
"""
import argparse
import datetime
import decimal
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "work")
sys.path.insert(0, HERE)

RUN_LIMIT_S = 170  # the whole run, build excepted

# Input sizes per workload (rows); BENCHMARK.json says why each exists.
WORKLOADS = {
    "star_etl": {"lineitem": 100_000, "events": 20_000, "users": 300},
    "corpus_dedup": {"documents": 500, "dup_share": 0.15,
                     "embeddings": 500},
    "ann_serve": {"embeddings": 1_000},
}

STAR_QUERIES = ["q01_star_fact", "q03_groupby_avg", "q08_join_composite",
                "q11_census_star"]
DEDUP_STEPS = ["stage_shingles", "stage_sigs", "q33_dedup_exact",
               "q35_dedup_minhash"]
TEXT_QUERIES = ["q41_text_quality"]
STREAM_QUERIES = ["q76_stream_tumbling"]

END_TO_END = [("setup_s", "s"), ("pass_s", "s"), ("req_p50_ms", "ms"),
              ("req_per_s", "1/s"), ("cpu_s_per_op", "s"),
              ("peak_rss_mb", "MB")]

PER_LAYER = (
    [("sources.bytes_read", "bytes"), ("sources.rows_read", "count"),
     ("sources.load_jobs", "count"), ("sources.write_s", "s"),
     ("sources.bytes_written", "bytes"), ("sources.files_written", "count"),
     ("plans.plan_ms", "ms"),
     ("engine.jobs", "count"), ("engine.tasks", "count"),
     ("engine.sched_delay_s", "s"), ("engine.core_util", "ratio"),
     ("engine.shuffle_write_mb", "MB"), ("engine.fetch_wait_s", "s"),
     ("engine.spill_mb", "MB"), ("engine.gc_s", "s")] +
    [(f"relational.{q}_s", "s") for q in STAR_QUERIES] +
    [(f"dedup.{q}_s", "s") for q in DEDUP_STEPS] +
    [("dedup.rows_out", "count")] +
    [(f"text.{q}_s", "s") for q in TEXT_QUERIES] +
    [("functions.shingles_rows_per_s", "1/s"),
     ("functions.minhash_rows_per_s", "1/s"),
     ("functions.dot_rows_per_s", "1/s"),
     ("ckpt.cached_mb_peak", "MB")] +
    [(f"streaming.{q}_s", "s") for q in STREAM_QUERIES] +
    [("streaming.batches", "count"), ("streaming.start_ms", "ms"),
     ("streaming.planning_ms", "ms"), ("streaming.exec_ms", "ms"),
     ("streaming.commit_ms", "ms"), ("streaming.state_commit_ms", "ms"),
     ("streaming.state_rows", "count"),
     ("serve.build_s", "s"), ("serve.plan_ms", "ms"),
     ("serve.exec_ms", "ms"), ("serve.jobs_per_req", "count"),
     ("trace.overhead_pass_s", "s"), ("trace.overhead_req_p50_ms", "ms")])

JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# ---------------------------------------------------------------- build --

def _sources():
    """Every file the build reads, in a stable order."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    return sorted(f for f in files if os.path.isfile(f))


def build():
    """Compile library + driver with sbt; returns the runtime classpath."""
    h = hashlib.sha256()
    for f in _sources():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    stamp = h.hexdigest()
    cp_file = os.path.join(HERE, "target", "perfbench-classpath.txt")
    if os.path.exists(cp_file):
        with open(cp_file) as fh:
            old_stamp, cp = fh.read().split("\n", 1)
        if old_stamp == stamp:
            return cp.strip()
    log("building library and driver with sbt")
    env = dict(os.environ, COURSIER_MODE="offline")
    env.setdefault("SBT_OPTS", " ".join(
        ["-Dsbt.override.build.repos=true", "-Dsbt.offline=true", "-Xmx2g"] +
        (["-Dsbt.repository.config=" + os.path.expanduser(
            "~/.sbt/repositories")]
         if os.path.exists(os.path.expanduser("~/.sbt/repositories"))
         else [])))
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=850)
    lines = [ln for ln in p.stdout.splitlines()
             if "scala-2.13" in ln and not ln.startswith("[")]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:])
        raise SystemExit("perfbench: build failed")
    cp = lines[-1].strip()
    os.makedirs(os.path.dirname(cp_file), exist_ok=True)
    with open(cp_file, "w") as fh:
        fh.write(stamp + "\n" + cp + "\n")
    return cp


# ------------------------------------------------------------- sizing --

def machine():
    """Cores from the scheduler affinity (what nproc reports) and the heap
    from MemTotal: half of it, clamped to [2, 8] GiB."""
    cores = len(os.sched_getaffinity(0))
    heap_g = 2
    with open("/proc/meminfo") as fh:
        for ln in fh:
            if ln.startswith("MemTotal:"):
                heap_g = min(8, max(2, int(ln.split()[1]) // 2097152))
    return cores, heap_g


# --------------------------------------------------------------- check --

def _canon(v):
    """Exact, engine-independent text of one value: floats by repr (keeps
    -0.0 and every bit), timestamps as naive UTC, decimals exactly."""
    if v is None:
        return "\x00NULL"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        return "NaN" if v != v else repr(v)
    if isinstance(v, decimal.Decimal):
        iv = v.to_integral_value()
        return str(int(iv)) if v == iv else "\x00DEC" + format(v, "f")
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        return v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{_canon(x)}"
                              for k, x in sorted(v.items())) + "}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    return str(v)


def digest(table):
    """(sorted column names, row count, hash of the sorted canonical rows):
    independent of row and column order."""
    cols = sorted(table.column_names)
    rows = sorted(tuple(_canon(r[c]) for c in cols)
                  for r in table.select(cols).to_pylist())
    h = hashlib.sha256()
    for r in rows:
        h.update("\x1f".join(r).encode() + b"\x1e")
    return cols, len(rows), h.hexdigest()


def check_outputs(data_dir, checks):
    """Compare each checked step's output with its oracle query. Returns
    {step: error message} for the mismatches."""
    import duckdb
    import pyarrow.parquet as pq
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for f in sorted(os.listdir(data_dir)):
        if f.endswith(".parquet"):
            con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM "
                        f"read_parquet('{os.path.join(data_dir, f)}')")
    bad = {}
    for c in checks:
        if "oracle" not in c:
            continue
        try:
            want = digest(con.sql(c["oracle"]).arrow())
            if c["kind"] == "csv":
                got = digest(con.sql(
                    f"SELECT * FROM read_csv('{c['path']}/*.csv', "
                    "header = true)").arrow())
            elif c.get("rows", 0) == 0:
                got = (want[0], 0, hashlib.sha256().hexdigest())
            else:
                got = digest(pq.read_table(c["path"]))
            if got != want:
                bad[c["step"]] = (f"columns {got[0]} rows {got[1]} vs oracle "
                                  f"columns {want[0]} rows {want[1]}"
                                  if got[:2] != want[:2] else "values differ")
        except Exception as e:  # a broken output is a failed check
            bad[c["step"]] = f"check raised {type(e).__name__}: {e}"
    return bad


# ------------------------------------------------------------- metrics --

def quantile(xs, q):
    """Linear-interpolation quantile of a non-empty list."""
    s = sorted(xs)
    k = (len(s) - 1) * q
    lo = int(k)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (k - lo)


def end_to_end(res, setup_s):
    """A request is one ANN call on ann_serve and one whole pass (a
    pipeline run) on the batch workloads; a pass on ann_serve is one round
    of nproc x 2 closed-loop requests."""
    passes = [p for p in res["passes"] if not p["traced"]]
    walls = [p["wall_s"] for p in passes]
    if res["workload"] == "ann_serve":
        lat = [e["s"] * 1e3 for p in passes for e in p["execs"]]
    else:
        lat = [w * 1e3 for w in walls]
    return {
        "setup_s": (setup_s, {}),
        "pass_s": (statistics.median(walls),
                   {"n": len(walls), "q1": quantile(walls, .25),
                    "q3": quantile(walls, .75)}),
        "req_p50_ms": (quantile(lat, .5),
                       {"n": len(lat), "q1": quantile(lat, .25),
                        "q3": quantile(lat, .75)}),
        "req_per_s": (len(lat) / sum(walls), {"n": len(lat)}),
        "cpu_s_per_op": (sum(p["cpu_s"] for p in passes) / len(lat),
                         {"n": len(lat)}),
        "peak_rss_mb": (res["peak_rss_mb"], {}),
    }, {
        # printed, not reported: a p90 is only backed by >= 10 samples
        # beyond it from 100 requests on
        "req_p90_ms": (quantile(lat, .9),
                       {"n": len(lat), "supported": len(lat) >= 100}),
    }


def per_layer(res, run_dir):
    traced = [p for p in res["passes"] if p["traced"]]
    plain = [p for p in res["passes"] if not p["traced"]]
    cores = res["cores"]

    def med(f):
        return statistics.median(f(p) for p in traced)

    def step_s(p, name):
        return sum(e["s"] for e in p["execs"] if e["name"] == name)

    def layer_s(p, layer):
        return sum(e["s"] for e in p["execs"] if e["layer"] == layer)

    def c(p, k):
        return p["counters"][k]

    def st(p, k):
        return p["stream"][k] if p["stream"] else 0

    def n_ops(p):
        return len(p["execs"])

    def lat50(ps):
        return quantile([e["s"] * 1e3 for p in ps for e in p["execs"]], .5)

    files = 0
    for d, _, fs in os.walk(os.path.join(run_dir, "out")):
        files += sum(1 for f in fs if not f.startswith((".", "_")))
    serve = res["workload"] == "ann_serve"
    m = {
        "sources.bytes_read": med(lambda p: c(p, "bytes_read")),
        "sources.rows_read": med(lambda p: c(p, "rows_read")),
        "sources.load_jobs": med(lambda p: p["load_jobs"]),
        "sources.write_s": med(lambda p: step_s(p, "write_fact") +
                               step_s(p, "write_chart")),
        "sources.bytes_written": med(lambda p: c(p, "bytes_written")),
        "sources.files_written": files,
        "plans.plan_ms": med(lambda p: c(p, "plan_ms") / n_ops(p)),
        "engine.jobs": med(lambda p: c(p, "jobs")),
        "engine.tasks": med(lambda p: c(p, "tasks")),
        "engine.sched_delay_s": med(lambda p: c(p, "sched_delay_ms") / 1e3),
        "engine.core_util": med(lambda p: c(p, "run_ms") / 1e3 /
                                (p["wall_s"] * cores)),
        "engine.shuffle_write_mb": med(lambda p: c(p, "shuffle_write_b") /
                                       1048576),
        "engine.fetch_wait_s": med(lambda p: c(p, "fetch_wait_ms") / 1e3),
        "engine.spill_mb": med(lambda p: c(p, "spill_b") / 1048576),
        "engine.gc_s": med(lambda p: p["gc_s"]),
        "dedup.rows_out": med(lambda p: sum(e["rows"] for e in p["execs"]
                                            if e["layer"] == "dedup")),
        "ckpt.cached_mb_peak": max(p["cached_mb_peak"] for p in traced),
        "streaming.batches": med(lambda p: st(p, "batches")),
        "streaming.start_ms": med(lambda p: (
            layer_s(p, "streaming") * 1e3 - st(p, "trigger_ms")) / len(STREAM_QUERIES)
            if p["stream"] and st(p, "batches") else 0),
        "streaming.planning_ms": med(lambda p: st(p, "planning_ms")),
        "streaming.exec_ms": med(lambda p: st(p, "exec_ms")),
        "streaming.commit_ms": med(lambda p: st(p, "commit_ms")),
        "streaming.state_commit_ms": med(lambda p: st(p, "state_commit_ms")),
        "streaming.state_rows": med(lambda p: st(p, "state_rows")),
        "serve.build_s": res.get("serve_build_s", 0.0),
        "serve.plan_ms": med(lambda p: c(p, "plan_ms") / n_ops(p))
        if serve else 0.0,
        "serve.exec_ms": med(lambda p: (layer_s(p, "serve") * 1e3 -
                                        c(p, "plan_ms")) / n_ops(p))
        if serve else 0.0,
        "serve.jobs_per_req": med(lambda p: c(p, "jobs") / n_ops(p))
        if serve else 0.0,
        "trace.overhead_pass_s":
            statistics.median(p["wall_s"] for p in traced) -
            statistics.median(p["wall_s"] for p in plain),
        "trace.overhead_req_p50_ms": lat50(traced) - lat50(plain),
    }
    for layer, names in (("relational", STAR_QUERIES),
                         ("dedup", DEDUP_STEPS), ("text", TEXT_QUERIES),
                         ("streaming", STREAM_QUERIES)):
        for q in names:
            m[f"{layer}.{q}_s"] = med(lambda p: step_s(p, q))
    m.update(res["probes"])
    return {k: (m[k], {}) for k, _ in PER_LAYER}


# ---------------------------------------------------------------- main --

def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and
            os.path.isdir(os.path.join(ROOT, "src", "main", "scala",
                                       "graft"))):
        raise SystemExit("perfbench: the library sources (build.sbt, "
                         "src/main/scala/graft) are not beside perfbench/")
    cp = build()
    cores, heap_g = machine()

    run_dir = os.path.join(WORK, f"run-{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    for d in ("data", "tmp", "local"):
        os.makedirs(os.path.join(run_dir, d))
    shm = "/dev/shm"
    shm_before = set(os.listdir(shm)) if os.path.isdir(shm) else set()
    try:
        t0 = time.time()
        from gen import generate
        sizes = generate(os.path.join(run_dir, "data"), a.seed,
                         WORKLOADS[a.workload])
        gen_s = time.time() - t0

        result_file = os.path.join(run_dir, "result.json")
        cmd = (["java"] +
               [x for p in JDK17_OPENS for x in ("--add-opens",
                                                 f"{p}=ALL-UNNAMED")] +
               [f"-Xmx{heap_g}g", f"-Xms{heap_g}g",
                "-Djava.io.tmpdir=" + os.path.join(run_dir, "tmp"),
                "-cp", cp, "graft.perfbench.Main", a.workload,
                os.path.join(run_dir, "data"), run_dir, str(a.seconds),
                str(a.trace), str(cores), result_file])
        env = dict(os.environ,
                   SPARK_LOCAL_DIRS=os.path.join(run_dir, "local"))
        launch = time.time()
        with open(os.path.join(run_dir, "jvm.log"), "w") as jlog:
            proc = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=jlog,
                                    stderr=subprocess.STDOUT)
            try:
                rc = proc.wait(timeout=max(10, RUN_LIMIT_S -
                                           (launch - t0)))
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
                rc = "timeout"
        if rc != 0 or not os.path.exists(result_file):
            with open(os.path.join(run_dir, "jvm.log")) as fh:
                sys.stderr.write(fh.read()[-6000:])
            raise SystemExit(f"perfbench: JVM ended with {rc}")
        with open(result_file) as fh:
            res = json.load(fh)
        setup_s = gen_s + (res["ready_ms"] / 1e3 - launch)

        bad = check_outputs(os.path.join(run_dir, "data"), res["checks"])
        for step, why in sorted(bad.items()):
            log(f"check FAILED {step}: {why}")
        attempted = sum(len(p["execs"]) for p in res["passes"])
        failed = sum(c["executions"] if c["step"] in bad else c["failed"]
                     for c in res["checks"])
        checked = sum(1 for c in res["checks"] if "oracle" in c)

        if a.trace:
            metrics, extra = per_layer(res, run_dir), {}
            os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
            with open(os.path.join(WORK, "traces",
                                   f"{a.workload}-seed{a.seed}.json"),
                      "w") as fh:
                json.dump({"spans": res["spans"], "passes": res["passes"]},
                          fh)
            units = dict(PER_LAYER)
        else:
            metrics, extra = end_to_end(res, setup_s)
            units = dict(END_TO_END, req_p90_ms="ms")

        print(f"workload {a.workload} seed {a.seed} cores {cores} "
              f"heap {heap_g}g (local[{cores}], {cores} shuffle partitions)")
        print("inputs " + json.dumps(sizes, sort_keys=True))
        print(f"setup: generate {gen_s:.3f} s, session "
              f"{res['session_s']:.3f} s, to first measured op "
              f"{setup_s:.3f} s")
        print(f"measured {res['window_s']:.2f} s: "
              f"{len(res['passes'])} passes, {attempted} ops, "
              f"{checked} outputs oracle-checked, {failed} failed "
              f"(failed_share {failed / max(attempted, 1):.4f} ratio)")
        steps = {}
        for p in res["passes"]:
            for e in p["execs"]:
                steps.setdefault(e["name"], []).append(e["s"])
        print("pass walls (s): " + " ".join(
            f"{p['wall_s']:.3f}{'*' if p['traced'] else ''}"
            for p in res["passes"]))
        print("step medians (s): " + ", ".join(
            f"{k} {statistics.median(v):.3f}" for k, v in steps.items()))
        for name, (v, info) in {**metrics, **extra}.items():
            tail = " ".join(f"{k}={v2:.6g}" if isinstance(v2, float)
                            else f"{k}={v2}" for k, v2 in info.items())
            print(f"{name} {v:.6g} {units[name]} {tail}".rstrip())
        print(json.dumps({
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": v, "unit": units[k]}
                        for k, (v, _) in metrics.items()}}))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        # the library stages streaming sources under /dev/shm when it can;
        # remove what this run's JVM left there
        if os.path.isdir(shm):
            for f in set(os.listdir(shm)) - shm_before:
                if f.startswith("graft_stream_"):
                    shutil.rmtree(os.path.join(shm, f), ignore_errors=True)


if __name__ == "__main__":
    main()
