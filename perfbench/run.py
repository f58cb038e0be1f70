#!/usr/bin/env python3
"""Repo benchmark: one run of one workload in a fresh JVM.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run compiles `src/main/scala`
plus the harness in `perfbench/scala` with the Scala compiler that ships
in Spark's jars, into `.bench_build/`. Every run then gets fresh roots
(warehouse, IVF and aggregate index roots, java.io.tmpdir, Spark local
dir, sink output) under `.bench_build/runs/`, removed when it ends.

The last stdout line is the result: `correct`, `attempted`, `failed`
and `metrics` (the end-to-end metrics with `--trace 0`, the per-layer
metrics with `--trace 1`). The line before it carries the details:
tail percentile and sample count, loadavg at start and end, failures.

`--record` instead runs every workload once, checks that Spark and the
DuckDB oracle SQL give the same fingerprint for every query, and writes
`expected.json`. The fingerprint is computed in one place, the harness's
`Fingerprint`: DuckDB writes each oracle result to parquet, and the
harness reads those files back and fingerprints them.
"""
import argparse
import fcntl
import glob
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
sys.path.insert(0, HERE)
import workloads  # noqa: E402

ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
DATA = os.path.join(HERE, "data")
EXPECTED = os.path.join(HERE, "expected.json")
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
JVM_TIMEOUT_S = 165
RUN_SECONDS = 50  # BENCHMARK.json run_seconds
MB = 1e6
# --add-opens set Spark needs on JDK 17 outside spark-submit (as build.sbt)
OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
         "java.net", "java.nio", "java.util", "java.util.concurrent",
         "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
         "sun.security.action", "sun.util.calendar"]


class BenchError(Exception):
    pass


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# ---------------------------------------------------------------- build

def spark_jars():
    home = os.environ.get("SPARK_HOME", "/opt/spark")
    jars = sorted(glob.glob(os.path.join(home, "jars", "*.jar")))
    if not jars:
        raise BenchError(f"no Spark jars under {home}/jars (set SPARK_HOME)")
    return jars


def sources():
    main = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"),
                            recursive=True))
    if not any(p.endswith(os.path.join("graft", "SparkEntry.scala")) for p in main):
        raise BenchError(f"no engine sources under {ROOT}/src/main/scala")
    return main + sorted(glob.glob(os.path.join(HERE, "scala", "*.scala")))


def build(jars):
    """Compile the engine and the harness once per source tree."""
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    out = os.path.join(BUILD, "classes-" + h.hexdigest()[:16])
    os.makedirs(BUILD, exist_ok=True)
    with open(os.path.join(BUILD, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if os.path.isdir(out):
            return out
        for old in glob.glob(os.path.join(BUILD, "classes-*")):
            shutil.rmtree(old, ignore_errors=True)
        tmp = out + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        compiler = [j for j in jars if os.path.basename(j).startswith(
            ("scala-compiler-", "scala-library-", "scala-reflect-"))]
        argfile = os.path.join(BUILD, "scalac.args")
        with open(argfile, "w") as f:
            f.write("\n".join(["-nowarn", "-d", tmp, "-classpath", ":".join(jars)] + srcs))
        t0 = time.time()
        log(f"compiling {len(srcs)} sources ...")
        r = subprocess.run(["java", "-Xmx3g", "-Xss8m", "-XX:-UsePerfData", "-cp", ":".join(compiler),
                            "scala.tools.nsc.Main", "@" + argfile],
                           stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
        if r.returncode != 0:
            shutil.rmtree(tmp, ignore_errors=True)
            raise BenchError("compile failed:\n" + r.stdout[-4000:])
        os.rename(tmp, out)
        log(f"compiled in {time.time() - t0:.1f} s")
        return out


# ------------------------------------------------------------ isolation

def heap_gb():
    """Half of MemTotal, clamped to [2, 8] GB (the Tier-1 test rule)."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        return min(8, max(2, kb // 2097152))
    except (OSError, StopIteration, ValueError):
        return 2


def loadavg():
    try:
        with open("/proc/loadavg") as f:
            return f.read().strip()
    except OSError:
        return None


ROOT_NAMES = ["warehouse", "ivf", "agg", "tmp", "local", "sink"]


def fresh_roots(run_dir):
    """Empty per-run roots; anything a previous run left there is removed."""
    shutil.rmtree(run_dir, ignore_errors=True)
    roots = {n: os.path.join(run_dir, n) for n in ROOT_NAMES}
    for p in roots.values():
        os.makedirs(p)
    return roots


def child_env(roots):
    """The harness's environment. No engine switch passes through from the
    caller's shell (`SPARK_GRAFT_CODEC`, `_SHUFFLE`, ...), so every run
    measures the engine's defaults; only the core count and the run's own
    index roots are set."""
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
    env.update({"SPARK_GRAFT_CPUS": str(os.cpu_count() or 1),
                "SPARK_GRAFT_IVF_DIR": roots["ivf"],
                "SPARK_GRAFT_AGG_DIR": roots["agg"],
                "SPARK_LOCAL_DIRS": roots["local"]})
    return env


def run_jvm(classes, jars, plan_ops, run_dir, trace, extra=(), files=()):
    """Run the harness on `plan_ops` [(pass, op)] and fingerprint the parquet
    `files` [(name, path)]; returns (records, launch time)."""
    roots = fresh_roots(run_dir)
    results = os.path.join(run_dir, "results.jsonl")
    plan = os.path.join(run_dir, "plan.tsv")
    with open(plan, "w") as f:
        conf = {"results": results, "data": DATA, "sink": roots["sink"], "trace": str(trace),
                "ivf": roots["ivf"], "agg": roots["agg"],
                "roots": ",".join(roots[n] for n in ["warehouse", "ivf", "agg", "sink"])}
        conf.update(dict(extra))
        for k, v in conf.items():
            f.write(f"{k}\t{v}\n")
        for p, op in plan_ops:
            f.write(f"op\t{p}\t{op}\n")
        for name, path in files:
            f.write(f"file\t{name}\t{path}\n")
    heap = f"{heap_gb()}g"
    # -XX:-UsePerfData: no hsperfdata file in the system temp directory
    cmd = (["java", f"-Xmx{heap}", f"-Xms{heap}", "-XX:-UsePerfData"]
           + [a for p in OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
           + ["-Duser.timezone=UTC",
              "-Dspark.ui.enabled=false",
              "-Dspark.sql.session.timeZone=UTC",
              f"-Dspark.sql.warehouse.dir={roots['warehouse']}",
              f"-Dspark.local.dir={roots['local']}",
              f"-Djava.io.tmpdir={roots['tmp']}",
              f"-Dderby.stream.error.file={os.path.join(run_dir, 'derby.log')}",
              "-cp", ":".join([classes] + jars), "perfbench.Harness", plan])
    env = child_env(roots)
    jvm_log = os.path.join(run_dir, "jvm.log")
    launch = time.time()
    with open(jvm_log, "w") as lf:
        proc = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=lf, stderr=subprocess.STDOUT,
                                start_new_session=True)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            raise BenchError(f"harness timed out after {JVM_TIMEOUT_S} s")
        finally:
            # also on SIGTERM / Ctrl-C: never leave the JVM running
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
    if rc != 0:
        with open(jvm_log) as lf:
            tail = lf.read()[-3000:]
        raise BenchError(f"harness exited {rc}:\n{tail}")
    with open(results) as f:
        return [json.loads(l) for l in f if l.strip()], launch


# -------------------------------------------------------------- metrics

def quantile(samples, p):
    """Harrell-Davis estimate of the p-quantile: a Beta-weighted mean of all
    order statistics. With a few ops of very different cost, the plain
    order statistic jumps between ops from run to run; this does not."""
    xs = sorted(samples)
    n = len(xs)
    if n == 1:
        return xs[0]
    a, b = p * (n + 1), (1 - p) * (n + 1)
    steps = 200 * n
    norm = math.lgamma(a + b) - math.lgamma(a) - math.lgamma(b)
    pdf = [0.0] + [math.exp(norm + (a - 1) * math.log(i / steps) + (b - 1) * math.log(1 - i / steps))
                   for i in range(1, steps)] + [0.0]
    cdf, acc = [0.0], 0.0
    for i in range(1, steps + 1):
        acc += (pdf[i - 1] + pdf[i]) / (2 * steps)
        cdf.append(acc)
    w = [cdf[(i + 1) * steps // n] - cdf[i * steps // n] for i in range(n)]
    return sum(wi * x for wi, x in zip(w, xs)) / sum(w)


def tail(samples):
    """The highest percentile with at least 10 samples above it.

    Returns (value, percentile, n). With n samples that is percentile
    100*(n-10)/n, estimated with `quantile`; with 10 or fewer samples no
    value has 10 above it and the maximum is reported (p100)."""
    n = len(samples)
    if n <= 10:
        return max(samples), 100.0, n
    p = (n - 10) / n
    return quantile(samples, p), 100.0 * p, n


def warm_passes(workload, seconds):
    """Warm passes after the cold one: the workload's count at the
    benchmark's `run_seconds`, scaled with `seconds`; at least one."""
    return max(1, round(workloads.WORKLOADS[workload]["warm_passes"] * seconds / RUN_SECONDS))


def check_ops(recs, expected):
    """(attempted, failures) over every op, read-back and the roots check."""
    q = expected.get("queries", {})
    etl = expected.get("etl", {})
    attempted, failures = 0, []
    for r in recs:
        kind = r["kind"]
        if kind == "roots":
            attempted += 1
            if not r["empty"]:
                failures.append("run roots were not empty at start")
        elif kind == "op":
            attempted += 1
            name = r["name"]
            if r["err"]:
                failures.append(f"pass {r['pass']} {name}: {r['err']}")
            elif name.startswith("etl:"):
                _, step, *t = name.split(":")
                table = t[0] if t else "transactions"
                if step in ("clean", "count") and r["rows"] != etl.get("rows", {}).get(table):
                    failures.append(f"pass {r['pass']} {name}: {r['rows']} rows")
            elif r["fp"] != q.get(name):
                failures.append(f"pass {r['pass']} {name}: fingerprint {r['fp']} != {q.get(name)}")
        elif kind == "readback":
            attempted += 1
            key = f"{r['sink']}:{r['table']}"
            if r["err"]:
                failures.append(f"read back {key}: {r['err']}")
            elif r["rows"] != etl.get("rows", {}).get(r["table"]):
                failures.append(f"read back {key}: {r['rows']} rows")
            elif r["sink"] != "csv" and r["fp"] != etl.get("fp", {}).get(key):
                failures.append(f"read back {key}: fingerprint {r['fp']}")
    return attempted, failures


def end_to_end(recs, launch):
    ops = [r for r in recs if r["kind"] == "op"]
    ready = next(r for r in recs if r["kind"] == "ready")
    io = next(r for r in recs if r["kind"] == "io")
    totals = {}
    for r in ops:
        totals[r["pass"]] = totals.get(r["pass"], 0.0) + r["s"]
    warm = [r["s"] for r in ops if r["pass"] > 1]
    tv, tp, tn = tail(warm)
    storage = next(r for r in recs if r["kind"] == "storage")
    m = {
        "setup_s": (ready["epoch_ms"] / 1000.0 - launch, "s"),
        "cold_s": (totals[1], "s"),
        "warm_s": (statistics.median(v for p, v in totals.items() if p > 1), "s"),
        "query_p50_s": (quantile(warm, 0.5), "s"),
        "query_tail_s": (tv, "s"),
        "written_mb": (io["wchar"] / MB, "MB"),
        "cached_mb": (storage["cached_bytes"] / MB, "MB"),
    }
    return m, {"query_tail_pct": round(tp, 2), "query_tail_n": tn}


def per_layer(workload, recs):
    ops = [r for r in recs if r["kind"] == "op"]
    traces = {(r["pass"], r["name"]): r for r in recs if r["kind"] == "trace"}
    ready = next(r for r in recs if r["kind"] == "ready")
    cleaned = next(r for r in recs if r["kind"] == "cleaned")
    storage = next(r for r in recs if r["kind"] == "storage")
    n_warm = max(r["pass"] for r in ops) - 1
    m = {"GraftSession.local_s": (ready["session_s"], "s")}

    m["etl.Transactions.cleaned_build_s"] = (cleaned["build_s"], "s")
    m["etl.Transactions.rows_in"] = (cleaned["rows_in"], "count")
    m["etl.Transactions.rows_out"] = (cleaned["rows_out"], "count")
    m["etl.Transactions.retention"] = (cleaned["rows_out"] / max(1, cleaned["rows_in"]), "ratio")

    # sink layer: the cold (nightly) pass
    for sink in workloads.SINKS:
        m[f"etl.Load.{sink}_s"] = (sum(r["s"] for r in ops if r["pass"] == 1
                                       and r["name"].startswith(f"etl:{sink}:")), "s")
    for sink in workloads.SINKS:
        rb = [r for r in recs if r["kind"] == "readback" and r["sink"] == sink]
        # the jdbc database directory holds every table: count it once
        b = max((r["bytes"] for r in rb), default=0) if sink == "jdbc" else sum(r["bytes"] for r in rb)
        m[f"etl.Load.{sink}_mb"] = (b / MB, "MB")
    m["etl.Pipeline.count_s"] = (sum(r["s"] for r in ops if r["pass"] == 1 and
                                     r["name"].startswith("etl:count:")), "s")

    # module attribution: warm time per pass, and the cold pass's excess
    cold = {r["name"]: r["s"] for r in ops if r["pass"] == 1}
    warm_by = {}
    for r in ops:
        if r["pass"] > 1:
            warm_by.setdefault(r["name"], []).append(r["s"])
    for mod in workloads.MODULES:
        names = [n for n in cold if workloads.MODULE.get(n) == mod]
        m[f"{mod}.warm_s"] = (sum(sum(warm_by.get(n, [])) for n in names) / max(1, n_warm), "s")
        m[f"{mod}.cold_excess_s"] = (sum(cold[n] - statistics.median(warm_by[n])
                                         for n in names if warm_by.get(n)), "s")

    # engine counters over the warm passes, per pass
    wt = [t for (p, _), t in traces.items() if p > 1]
    wall = sum(r["s"] for r in ops if r["pass"] > 1)

    def tot(k):
        return sum(t[k] for t in wt)
    cores = ready["cores"]
    cpu_s = tot("cpu_ns") / 1e9
    m["spark.plan_s"] = (tot("plan_ms") / 1000 / n_warm, "s")
    m["spark.jobs"] = (tot("jobs") / n_warm, "count")
    m["spark.tasks"] = (tot("tasks") / n_warm, "count")
    gaps = sum(max(0.0, r["s"] - traces[(r["pass"], r["name"])]["job_busy_ms"] / 1000)
               for r in ops if r["pass"] > 1 and (r["pass"], r["name"]) in traces)
    m["spark.dispatch_gap_s"] = (gaps / n_warm, "s")
    m["spark.exec_run_s"] = (tot("run_ms") / 1000 / n_warm, "s")
    m["spark.exec_cpu_s"] = (cpu_s / n_warm, "s")
    m["spark.cpu_util"] = (cpu_s / (wall * cores) if wall > 0 else 0.0, "ratio")
    m["spark.gc_s"] = (tot("gc_ms") / 1000 / n_warm, "s")
    m["spark.scan_mb"] = (tot("scan_b") / MB / n_warm, "MB")
    m["spark.shuffle_write_mb"] = (tot("shuffle_write_b") / MB / n_warm, "MB")
    m["spark.shuffle_read_mb"] = (tot("shuffle_read_b") / MB / n_warm, "MB")
    m["spark.spill_mb"] = (tot("spill_b") / MB / n_warm, "MB")
    mean = tot("stage_mean_ms")
    m["spark.task_skew"] = (tot("stage_max_ms") / mean if mean > 0 else 1.0, "ratio")
    m["spark.cached_scan_share"] = (sum(1 for t in wt if t["cached_scan"]) / max(1, len(wt)), "ratio")

    # streaming layer: warm passes, per pass
    m["stream.batches"] = (tot("batches") / n_warm, "count")
    m["stream.add_batch_s"] = (tot("add_batch_ms") / 1000 / n_warm, "s")
    m["stream.wal_commit_s"] = (tot("wal_commit_ms") / 1000 / n_warm, "s")
    m["stream.state_rows"] = (max((t["state_rows"] for t in wt), default=0), "count")
    twins = workloads.WORKLOADS[workload].get("twins", {})
    over = sum(statistics.median(warm_by[s]) - statistics.median(warm_by[b])
               for s, b in twins.items() if warm_by.get(s) and warm_by.get(b))
    m["stream.overhead_s"] = (over, "s")

    idx = next(r for r in recs if r["kind"] == "io")
    m["storage.index_mb"] = (idx["index_bytes"] / MB, "MB")
    m["storage.cached_mb"] = (storage["cached_bytes"] / MB, "MB")
    return m


# ----------------------------------------------------------------- main

def plan_for(workload, seed, seconds, fixed=False):
    k = warm_passes(workload, seconds)
    return [(i + 1, op) for i, ops in enumerate(workloads.passes(workload, seed, k, fixed))
            for op in ops]


def run(args):
    if args.workload not in workloads.WORKLOADS:
        raise BenchError(f"unknown workload {args.workload!r}")
    jars = spark_jars()
    classes = build(jars)
    with open(EXPECTED) as f:
        expected = json.load(f)
    run_dir = os.path.join(BUILD, "runs", f"{args.workload}-s{args.seed}-{os.getpid()}")
    load0 = loadavg()
    try:
        # a traced run fixes the cold order too, so that each module's
        # cold excess does not move with the seed (see workloads.passes)
        plan = plan_for(args.workload, args.seed, args.seconds, fixed=bool(args.trace))
        recs, launch = run_jvm(classes, jars, plan, run_dir, args.trace)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    load1 = loadavg()
    attempted, failures = check_ops(recs, expected)
    if args.trace:
        metrics = per_layer(args.workload, recs)
        # the traced run's own end-to-end figures: traced minus untraced
        # medians of these give the tracing overhead
        e2e, extra = end_to_end(recs, launch)
        metrics.update({f"traced.{k}": v for k, v in e2e.items()})
    else:
        metrics, extra = end_to_end(recs, launch)
        metrics["ok_frac"] = (1.0 - len(failures) / attempted, "ratio")
    samples = {}
    for r in recs:
        if r["kind"] == "op":
            samples.setdefault(r["name"], []).append(round(r["s"], 4))
    details = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
               "loadavg_start": load0, "loadavg_end": load1, **extra,
               "failures": failures[:20], "op_seconds": samples}
    print(json.dumps({"details": details}))
    print(json.dumps({
        "correct": not failures, "attempted": attempted, "failed": len(failures),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))


def record(args):
    """Write expected.json: every query's fingerprint from Spark, checked
    against the fingerprint of the DuckDB oracle SQL's result on the same
    data, plus the ETL row counts and sink read-back fingerprints."""
    import duckdb
    jars = spark_jars()
    classes = build(jars)
    spark_fp, oracle_sql, etl_rows, etl_fp, problems = {}, {}, {}, {}, []
    for w in workloads.WORKLOADS:
        run_dir = os.path.join(BUILD, "runs", f"record-{w}-{os.getpid()}")
        try:
            recs, _ = run_jvm(classes, jars, plan_for(w, 0, RUN_SECONDS), run_dir, 0,
                              extra=[("oracle", "1")])
        finally:
            shutil.rmtree(run_dir, ignore_errors=True)
        for r in recs:
            if r["kind"] == "oracle":
                oracle_sql[r["name"]] = r["sql"]
            elif r["kind"] == "op" and r["err"]:
                problems.append(f"{w} {r['name']}: {r['err']}")
            elif r["kind"] == "op" and r["name"].startswith("etl:"):
                step, *t = r["name"].split(":")[1:]
                if step in ("clean", "count"):
                    etl_rows[t[0] if t else "transactions"] = r["rows"]
            elif r["kind"] == "op":
                if spark_fp.setdefault(r["name"], r["fp"]) != r["fp"]:
                    problems.append(f"{r['name']}: fingerprint differs between passes")
            elif r["kind"] == "readback" and r["sink"] != "csv":
                etl_fp[f"{r['sink']}:{r['table']}"] = r["fp"]
    checked = dict(spark_fp)
    checked.update({t: etl_fp.get(f"parquet:{t}") for t in workloads.ETL_TABLES[1:]})
    run_dir = os.path.join(BUILD, "runs", f"record-oracle-{os.getpid()}")
    oracle_dir = os.path.join(BUILD, "runs", f"record-oracle-out-{os.getpid()}")
    try:
        shutil.rmtree(oracle_dir, ignore_errors=True)
        os.makedirs(oracle_dir)
        con = duckdb.connect()
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{DATA}/{t}.parquet'")
        files = []
        for name in sorted(checked):
            if name not in oracle_sql:
                problems.append(f"{name}: no oracle SQL")
                continue
            path = os.path.join(oracle_dir, f"{name}.parquet")
            con.execute(f"COPY ({oracle_sql[name]}) TO '{path}' (FORMAT PARQUET)")
            files.append((name, path))
        con.close()
        recs, _ = run_jvm(classes, jars, [], run_dir, 0, files=files)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        shutil.rmtree(oracle_dir, ignore_errors=True)
    oracle_fp = {r["name"]: r["fp"] or r["err"] for r in recs if r["kind"] == "file"}
    for name, _ in files:
        fp, ofp = checked[name], oracle_fp.get(name)
        log(f"{'OK  ' if ofp == fp else 'FAIL'} {name}: spark {fp} oracle {ofp}")
        if ofp != fp:
            problems.append(f"{name}: spark {fp} != oracle {ofp}")
    if problems:
        raise BenchError("not recorded:\n  " + "\n  ".join(problems))
    with open(EXPECTED, "w") as f:
        json.dump({"queries": dict(sorted(spark_fp.items())),
                   "etl": {"rows": etl_rows, "fp": dict(sorted(etl_fp.items()))}},
                  f, indent=1, sort_keys=True)
        f.write("\n")
    log(f"recorded {len(spark_fp)} query fingerprints, all equal to the oracle's")


def _terminate(signum, frame):
    raise SystemExit(128 + signum)


def main(argv=None):
    signal.signal(signal.SIGTERM, _terminate)
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=int, default=RUN_SECONDS)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--record", action="store_true")
    args = ap.parse_args(argv)
    try:
        if args.record:
            record(args)
        else:
            if not args.workload:
                ap.error("--workload is required")
            run(args)
    except BenchError as e:
        log(str(e))
        return 2
    return 0


if __name__ == "__main__":
    sys.exit(main())
