#!/usr/bin/env python3
"""Engine benchmark: runs one workload and prints one JSON result line last.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the engine and the
harness with sbt (perfbench/build.sbt) and caches the classpath; later runs
launch the JVM directly on it, so no build-tool output wraps the result.
Inputs are generated from --seed (gen.py) under perfbench/.work/, the harness
(graft.perfbench.Main) runs set-up, the timed phase and, with --trace 1, a
traced phase; then query results are checked against DuckDB running the
engine's oracle SQL on the same files. Every metric is printed as
`name value unit` before the JSON line. Details, spans and the per-layer table
go to perfbench/results/. See perfbench/README.md.
"""
import argparse
import hashlib
import importlib.util
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
sys.path.insert(0, HERE)
import gen  # noqa: E402

# queries_sf01: every query family at sf0.1 -- two TPC-H queries, the three
# queries of the ROADMAP's carried items (dedup_cluster_cc, ann_lsh,
# pipeline_pretrain) and one cheap query of each other custom-kernel module
# (one pass ~7.7 s on 4 cores; README.md has each query's share of the full mix)
QUERIES_SF01 = [
    "tpch_q1", "tpch_q14", "dedup_docs_fingerprint", "dedup_cluster_cc", "ann_lsh",
    "text_stats", "composite_spend_trend", "pipeline_pretrain",
]
# tpch_scaled: scan-, join- and aggregation-heavy TPC-H queries (one pass ~4 s)
TPCH_SCALED = ["tpch_q1", "tpch_q3", "tpch_q6", "tpch_q18"]

# Each workload: how its inputs are made (sizes are fixed; only --seed varies
# them) and `pass_s`, the nominal seconds of one warm pass on 4 cores. A run's
# timed phase is round(--seconds / pass_s) whole passes: fixed work, whatever
# the machine's speed, so a faster program is not also handed a warmer JIT.
WORKLOADS = {
    "queries_sf01": {"kind": "queries", "pass_s": 8, "sf": 0.1, "queries": QUERIES_SF01},
    "tpch_scaled": {"kind": "queries", "pass_s": 4, "sf": 0.1, "copies": 4,
                    "queries": TPCH_SCALED},
    "table_mor": {"kind": "mor", "pass_s": 4, "appends": 6, "rows": 4000, "deletes": 1,
                  "updates": 1, "upserts": 1, "reads": 2},
}
# Set-up runs the workload's own warm pass (cold, on other inputs for
# table_mor; writing the results to check for the query workloads), then
# ceil(WARM_S / pass_s) untimed passes of the timed op list itself: while the
# JIT compiles, the first passes after the workload's own warm pass are 25-60%
# slower than later ones, and ~8 s of such passes remove most of that excess.
WARM_S = 8
# The workloads BENCHMARK.json lists. tpch_scaled stays runnable by hand: with
# it, 4 + 22 runs per workload do not fit the 3,420 s budget of a benchmark
# session on a loaded 4-vCPU host (see README.md).
BENCHMARKED = ["queries_sf01", "table_mor"]
# --smoke: the same workloads on sf0.001-sized inputs, for the benchmark's tests
SMOKE = {
    "queries_sf01": {"sf": 0.001},
    "tpch_scaled": {"sf": 0.001, "copies": 2},
    "table_mor": {"appends": 4, "rows": 500, "deletes": 1, "updates": 1,
                  "upserts": 1, "reads": 2},
}

END_TO_END = [("setup_s", "s"), ("wall_s", "s"), ("op_geomean_s", "s")]
PER_LAYER = [
    ("catalyst.analysis_s", "s"), ("catalyst.optimization_s", "s"),
    ("catalyst.planning_s", "s"), ("catalyst.query_executions", "count"),
    ("spark.jobs", "count"), ("spark.stages", "count"), ("spark.tasks", "count"),
    ("spark.single_task_stage_frac", "ratio"), ("spark.driver_gap_s", "s"),
    ("exec.task_run_s", "s"), ("exec.task_cpu_s", "s"), ("exec.gc_s", "s"),
    ("exec.parallelism", "ratio"),
    ("exec.peak_memory_bytes", "bytes"), ("shuffle.write_bytes", "bytes"),
    ("shuffle.read_bytes", "bytes"), ("scan.rows_read", "rows"),
    ("scan.bytes_read", "bytes"), ("jvm.gc_s", "s"), ("trace.wall_s", "s"),
    ("trace.untraced_wall_s", "s"),
]

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
# A fixed-size heap: grown on demand from the JVM's small default start, GC
# work and pass times differed by up to 40% between runs of the same inputs.
HEAP = "2g"
RUN_LIMIT_S = 170  # a run must end within 180 s ...
BUILD_LIMIT_S = 870  # ... or 900 s when it builds the program first


class BenchError(Exception):
    pass


def workload_spec(name, smoke):
    spec = dict(WORKLOADS[name])
    if smoke:
        spec.update(SMOKE[name])
    return spec




def mor_plan(spec, seed):
    """The table_mor op list, plus a shorter list on other keys for the first
    warm pass: two appends, then every other op shape of the timed list (each
    DML, a point read at the head and a range read through asOfVersion, the
    compaction, then a point and a range read of the compacted head)."""
    args = [spec[k] for k in ("appends", "rows", "deletes", "updates", "upserts", "reads")]
    warm = gen.mor_ops(seed + 1_000_003, 2, args[1], 1, 1, 1, 2)
    return gen.mor_ops(seed, *args), warm


# ---------------------------------------------------------------- build

def _fingerprint(root):
    h = hashlib.sha256()
    srcs = [os.path.join(root, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for d in (os.path.join(root, "project"), os.path.join(HERE, "project")):
        if os.path.isdir(d):
            srcs += [os.path.join(d, f) for f in os.listdir(d)
                     if f.endswith((".sbt", ".properties", ".scala"))]
    for d in (os.path.join(root, "src", "main"), os.path.join(HERE, "src")):
        for dp, _, fs in os.walk(d):
            srcs += [os.path.join(dp, f) for f in fs]
    for p in sorted(srcs):
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def build(root, deadline):
    """Compile engine + harness once per source state; return the classpath."""
    state = os.path.join(HERE, ".build")
    cached = os.path.join(state, "classpath.txt")
    fp = _fingerprint(root)
    if os.path.exists(cached):
        with open(cached) as f:
            lines = f.read().splitlines()
        if len(lines) == 2 and lines[0] == fp:
            return lines[1]
    os.makedirs(state, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    opts = env.get("SBT_OPTS", "")
    if "-Dsbt.offline=true" not in opts:
        opts += " -Dsbt.offline=true"
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos) and "sbt.repository.config" not in opts:
            opts += f" -Dsbt.override.build.repos=true -Dsbt.repository.config={repos}"
    # sbt's sockets and native libraries go under java.io.tmpdir, and every
    # JVM's perf-data file under /tmp unless disabled: keep both in the checkout
    tmp = os.path.join(state, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env["SBT_OPTS"] = f"{opts} -Djava.io.tmpdir={tmp} -Dsbt.server.autostart=false".strip()
    env["JAVA_TOOL_OPTIONS"] = (env.get("JAVA_TOOL_OPTIONS", "") + " -XX:-UsePerfData").strip()
    log = os.path.join(state, "sbt.log")
    with open(log, "w") as f:
        try:
            r = subprocess.run(
                ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                 "export Runtime/fullClasspath"],
                cwd=HERE, stdout=f, stderr=subprocess.STDOUT, env=env,
                timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            raise BenchError(f"build timed out, see {log}")
    with open(log) as f:
        out = f.read().splitlines()
    cp = [l for l in out if "scala-2.13/classes" in l and not l.startswith("[")]
    if r.returncode != 0 or not cp:
        raise BenchError(f"build failed, see {log}")
    with open(cached, "w") as f:
        f.write(fp + "\n" + cp[-1].strip() + "\n")
    return cp[-1].strip()


# ---------------------------------------------------------------- inputs

def make_inputs(spec, seed, work):
    data = os.path.join(work, "data")
    if spec["kind"] == "mor":
        return data
    if "copies" in spec:
        gen.write_scaled(data, seed, spec["sf"], spec["copies"])
    else:
        gen.write_tables(data, seed, spec["sf"])
    return data


# ---------------------------------------------------------------- checks

def _load_check(root):
    p = os.path.join(root, "tools", "check.py")
    s = importlib.util.spec_from_file_location("engine_check", p)
    m = importlib.util.module_from_spec(s)
    s.loader.exec_module(m)
    return m


def check_queries(root, data, out, names):
    """Names of queries whose warm-pass result differs from the DuckDB oracle."""
    import duckdb
    import pandas as pd
    check = _load_check(root)
    con = duckdb.connect()
    con.execute(f"SET threads = {min(4, os.cpu_count() or 1)}")
    for t in gen.TABLES:
        p = os.path.join(data, f"{t}.parquet")
        if os.path.isdir(p):
            p = os.path.join(p, "*.parquet")
        if os.path.exists(p) or "*" in p:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    with open(os.path.join(out, "oracle_sql.json")) as f:
        oracle = json.load(f)
    bad = {}
    for n in names:
        d = os.path.join(out, "results", n)
        files = sorted(f for f in os.listdir(d) if f.endswith(".parquet")) \
            if os.path.isdir(d) else []
        if not files:
            bad[n] = "no result"
            continue
        if n not in oracle:
            bad[n] = "no oracle"
            continue
        got = pd.concat([pd.read_parquet(os.path.join(d, f)) for f in files],
                        ignore_index=True)
        try:
            errs = check.compare(n, got, con.sql(oracle[n]).df())
        except Exception as e:  # a failing oracle is a failed check
            errs = [f"oracle error: {e}"]
        if errs:
            bad[n] = "; ".join(errs)
    return bad


# ---------------------------------------------------------------- metrics

def tail(xs):
    """(value, percentile): the highest percentile with >= 10 samples above it."""
    s = sorted(xs)
    if len(s) <= 10:
        return s[-1], 100.0
    return s[len(s) - 11], 100.0 * (len(s) - 10) / len(s)


def summarize(res, bad_queries, gen_s):
    """End-to-end metrics (first untraced phase) and failures (every timed op)."""
    samples = res["samples"]
    ran = samples + res["extra_samples"]
    lat = [s["s"] for s in samples]
    failed = sum(1 for s in ran if s["error"] or s["name"] in bad_queries)
    checks = res["finish"].get("checks", {})
    failed += sum(1 for ok in checks.values() if not ok)
    m = {"setup_s": (res["setup_s"], "s"), "wall_s": (res["wall_s"], "s"),
         "op_geomean_s": (statistics.geometric_mean(lat), "s"),
         "op_p50_s": (statistics.median(lat), "s")}
    t, pct = tail(lat)
    m["op_tail_s"] = (t, "s")
    notes = {"op_tail_s": f"p{pct:.1f} of n={len(lat)}"}
    m["cpu_s"] = (res["cpu_s"], "s")
    for kind in ("query", "commit", "dml", "read"):
        ks = [s["s"] for s in samples if s["kind"] == kind]
        if ks:
            m[f"{kind}_p50_s"] = (statistics.median(ks), "s")
            t, pct = tail(ks)
            m[f"{kind}_tail_s"] = (t, "s")
            notes[f"{kind}_tail_s"] = f"p{pct:.1f} of n={len(ks)}"
    m["error_frac"] = (failed / len(ran), "ratio")
    if "bytes_stored_per_user_byte" in res["finish"]:
        m["bytes_stored_per_user_byte"] = (res["finish"]["bytes_stored_per_user_byte"], "ratio")
    m["peak_rss_mb"] = (res["peak_rss_mb"], "MB")
    m["passes"] = (res["passes"], "count")
    m["input_gen_s"] = (gen_s, "s")
    return m, notes, failed, len(ran)


def _cpu_times():
    """The aggregate `cpu` line of /proc/stat, or None where there is none."""
    try:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:]]
    except OSError:
        return None


def _steal_frac(a, b):
    """Share of CPU time the hypervisor gave to other guests between a and b."""
    if not a or not b or len(a) < 8:
        return 0.0
    d = [y - x for x, y in zip(a, b)]
    return d[7] / max(1, sum(d[:8]))


# ---------------------------------------------------------------- main

def run(a, root):
    started = time.time()
    if not (os.path.isfile(os.path.join(root, "build.sbt"))
            and os.path.isdir(os.path.join(root, "src", "main", "scala"))):
        raise BenchError(f"no engine sources under {root}: run from a checkout's root")
    if shutil.which("java") is None or shutil.which("sbt") is None:
        raise BenchError("java and sbt must be on PATH")
    spec = workload_spec(a.workload, a.smoke)
    cp = build(root, started + BUILD_LIMIT_S)
    # a run ends within RUN_LIMIT_S, or BUILD_LIMIT_S when it had to build
    deadline = max(started + RUN_LIMIT_S, min(time.time() + RUN_LIMIT_S,
                                              started + BUILD_LIMIT_S))

    work = os.path.join(HERE, ".work", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    out = os.path.join(work, "out")
    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(out)
    t0 = time.time()
    data = make_inputs(spec, a.seed, work)
    gen_s = time.time() - t0

    plan = {"workload": a.workload, "data": data, "out": out, "trace": a.trace,
            "passes": max(1, round(a.seconds / spec["pass_s"])),
            "warm_passes": math.ceil(WARM_S / spec["pass_s"])}
    if spec["kind"] == "queries":
        plan["queries"] = spec["queries"]
    else:
        plan["ops"], plan["warm_ops"] = mor_plan(spec, a.seed)
    plan_path = os.path.join(work, "plan.json")
    with open(plan_path, "w") as f:
        json.dump(plan, f)

    env = dict(os.environ)
    env.pop("GRAFT_COMMIT_TIMINGS", None)
    env["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"]
    if a.trace:
        cmd.append("-Dgraft.commit.timings=true")
    cmd += ["-cp", cp, "graft.perfbench.Main", plan_path]
    log = os.path.join(work, "jvm.log")
    cpu0 = _cpu_times()
    with open(log, "w") as f:
        proc = subprocess.Popen(cmd, cwd=work, stdout=f, stderr=subprocess.STDOUT, env=env)
        try:
            proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            raise BenchError(f"harness exceeded the run limit, see {log}")
        finally:  # also on a timeout or a signal: never leave the JVM behind
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    steal = _steal_frac(cpu0, _cpu_times())
    if proc.returncode != 0 or not os.path.exists(os.path.join(out, "result.json")):
        raise BenchError(f"harness failed (exit {proc.returncode}), see {log}")
    with open(os.path.join(out, "result.json")) as f:
        res = json.load(f)

    bad = {}
    if spec["kind"] == "queries":
        bad = check_queries(root, data, out, spec["queries"])
    m, notes, failed, attempted = summarize(res, bad, gen_s)
    m["host_steal_frac"] = (steal, "ratio")
    layers = {l["name"]: (l["value"], l["unit"]) for l in res["layers"]}
    correct = failed == 0

    results = os.path.join(HERE, "results")
    os.makedirs(results, exist_ok=True)
    stem = os.path.join(results, a.workload + (".traced" if a.trace else ""))
    with open(stem + ".json", "w") as f:
        json.dump({"workload": a.workload, "seed": a.seed, "seconds": a.seconds,
                   "metrics": m, "notes": notes, "layers": layers, "mismatches": bad,
                   "finish": res["finish"], "samples": res["samples"],
                   "extra_samples": res["extra_samples"]}, f, indent=1)
    if a.trace:
        shutil.copy(os.path.join(out, "spans.jsonl"), stem + ".spans.jsonl")
        with open(stem + ".layers.tsv", "w") as f:
            f.write("metric\tvalue\tunit\n")
            for k, (v, u) in layers.items():
                f.write(f"{k}\t{v!r}\t{u}\n")
    shutil.rmtree(work, ignore_errors=True)

    for n, why in sorted(bad.items()):
        print(f"MISMATCH {n}: {why[:300]}")
    for k, (v, u) in m.items():
        print(f"{k:32s} {v:14.6g} {u:6s} {notes.get(k, '')}")
    for k, (v, u) in layers.items():
        print(f"{k:32s} {v:14.6g} {u}")
    wanted = PER_LAYER if a.trace else END_TO_END
    source = layers if a.trace else m
    metrics = {k: {"value": source[k][0], "unit": u} for k, u in wanted}
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


def main(argv=None):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, default=10)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--smoke", action="store_true", help="sf0.001-sized inputs")
    a = p.parse_args(argv)
    # SIGTERM unwinds like an exception, so child processes are stopped
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        run(a, os.getcwd())
    except BenchError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        sys.exit(2)


if __name__ == "__main__":
    main()
