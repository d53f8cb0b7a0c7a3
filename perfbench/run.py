#!/usr/bin/env python3
"""Benchmark runner for the graft engine: builds the harness, runs one
workload, checks its outputs against the DuckDB oracles, prints the result.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload npo_daily --seed 1 --seconds 20 --trace 0
    python3 perfbench/run.py --selftest

Workloads: npo_daily and llm_curation, as listed in BENCHMARK.json.

The last line of standard output is one JSON object with the keys
`correct`, `attempted`, `failed` and `metrics`. With `--trace 0` the metrics
are the `end_to_end` metrics of BENCHMARK.json, with `--trace 1` its
`per_layer` metrics. Lines before it give every end-to-end figure by name
and unit, with quartiles and the sample count. Progress goes to stderr.

Everything the run writes (the harness build stamp, generated inputs,
warehouses, logs, spans) lives under `.bench_build/perfbench` in the checkout;
sbt's own build output goes to the usual `target/` directories.
"""
import argparse
import hashlib
import json
import math
import os
import signal
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BENCH = os.path.join(ROOT, "perfbench")
WORK = os.path.join(ROOT, ".bench_build", "perfbench")
WORKLOADS = ("npo_daily", "llm_curation")
JVM_LIMIT_S = 165
BUILD_LIMIT_S = 850

# The JDK 17 module openings Spark needs outside spark-submit.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[run.py] {msg}", file=sys.stderr, flush=True)


def die(msg, code=2):
    log(msg)
    sys.exit(code)


def program_present():
    need = ["build.sbt", "src/main/scala/graft/SparkEntry.scala",
            "fixtures/npo_project/dbt_project.yml"]
    return all(os.path.exists(os.path.join(ROOT, p)) for p in need)


def source_stamp():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, p) for p in
             ("build.sbt", "project/build.properties", "src/main",
              "perfbench/build.sbt", "perfbench/project/build.properties", "perfbench/src")]
    for r in roots:
        files = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    return env


def build():
    """Compile the program and the harness; cache the runtime classpath."""
    stamp_file = os.path.join(WORK, "build.stamp")
    cp_file = os.path.join(WORK, "classpath.txt")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                return cp_file
    log("building the program and the harness with sbt")
    t0 = time.time()
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
           "export Runtime/fullClasspath"]
    out = run_child(cmd, BENCH, sbt_env(), os.path.join(WORK, "sbt.log"), BUILD_LIMIT_S)
    lines = [l.strip() for l in out.splitlines() if l.strip()]
    cp = next((l for l in reversed(lines)
               if not l.startswith("[") and os.pathsep in l and ".jar" in l), None)
    if cp is None:
        die("sbt build failed; see .bench_build/perfbench/sbt.log:\n" + "\n".join(lines[-30:]), 3)
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log(f"built in {time.time() - t0:.0f}s")
    return cp_file


def run_child(cmd, cwd, env, log_path, limit):
    """Run a child in its own process group and log its output. The group is
    killed on timeout and after the child exits, so nothing outlives it."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=subprocess.PIPE,
                         stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL,
                         text=True, start_new_session=True)
    try:
        out, _ = p.communicate(timeout=limit)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        out, _ = p.communicate()
    finally:
        try:
            os.killpg(p.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    with open(log_path, "w") as f:
        f.write(out)
    if p.returncode != 0:
        tail = "\n".join(out.splitlines()[-40:])
        die(f"{cmd[0]} exited {p.returncode}; see {log_path}\n{tail}", 3)
    return out


def host_cores():
    env = os.environ.get("SPARK_GRAFT_CPUS")
    return int(env) if env else len(os.sched_getaffinity(0))


def host_heap():
    """Half of MemTotal in GiB, clamped to 2..8 (the tier-1 rule)."""
    env = os.environ.get("SPARK_DRIVER_MEM")
    if env:
        return env
    g = 2
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                g = int(line.split()[1]) // 2097152
    return f"{min(8, max(2, g))}g"


def run_harness(cp_file, work, workload, seed, seconds, trace, extra=()):
    os.makedirs(os.path.join(work, "tmp", "spark-local"), exist_ok=True)
    args_file = os.path.join(work, "jvm.args")
    with open(cp_file) as f:
        cp = f.read().strip()
    with open(args_file, "w") as f:
        f.write("-cp\n" + cp + "\n")
    cores = host_cores()
    # A fixed young generation keeps heap_peak_mb a measure of what the run
    # retains rather than of how far the collector chose to grow eden.
    cmd = ["java", f"-Xmx{host_heap()}", "-XX:-UsePerfData", "-XX:+UseG1GC", "-XX:NewSize=1g",
           "-XX:MaxNewSize=1g",
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [f"@{args_file}", "perfbench.Main",
            "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
            "--trace", "1" if trace else "0", "--work", work,
            "--project", os.path.join(ROOT, "fixtures", "npo_project"),
            "--cores", str(cores), *extra]
    env = dict(os.environ)
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "tmp", "spark-local")
    env["SPARK_LOCAL_IP"] = "127.0.0.1"
    result = os.path.join(work, "result.json")
    if os.path.exists(result):
        os.remove(result)
    out = run_child(cmd, ROOT, env, os.path.join(work, "jvm.log"), JVM_LIMIT_S)
    for line in out.splitlines():
        if line.startswith("[perfbench"):
            print(line, file=sys.stderr)
    with open(result) as f:
        return json.load(f)


# ---------------------------------------------------------------- oracles

def frames_equal(a, b):
    """Order-insensitive equality of two DataFrames: same columns, same rows;
    floating-point values equal to 1e-9 relative, nulls equal to nulls.
    Rows are aligned by sorting on the exact columns first and on rounded
    floats last, so float noise in the last bits cannot reorder them."""
    import numpy as np
    if sorted(a.columns) != sorted(b.columns):
        return f"columns differ: {sorted(a.columns)} vs {sorted(b.columns)}"
    if len(a) != len(b):
        return f"row counts differ: {len(a)} vs {len(b)}"
    floats = sorted(c for c in a.columns if a[c].dtype.kind == "f" or b[c].dtype.kind == "f")
    exact = sorted(c for c in a.columns if c not in floats)

    def aligned(df):
        keys = df[exact].astype(str).where(df[exact].notna(), None) if exact else df[[]]
        for c in floats:
            keys[c] = df[c].astype(float).round(6)
        order = keys.sort_values(list(keys.columns), kind="mergesort", na_position="first").index
        return df.loc[order].reset_index(drop=True)
    a, b = aligned(a), aligned(b)
    for c in exact + floats:
        x, y = a[c], b[c]
        nx, ny = x.isna().to_numpy(), y.isna().to_numpy()
        if (nx != ny).any():
            return f"column {c}: nulls differ at row {int(np.argmax(nx != ny))}"
        if c in floats:
            ok = np.isclose(x.to_numpy(dtype=float)[~nx], y.to_numpy(dtype=float)[~ny],
                            rtol=1e-9, atol=1e-9)
        else:
            ok = x[~nx].astype(str).to_numpy() == y[~ny].astype(str).to_numpy()
        if not ok.all():
            i = int(np.argmax(~ok))
            return f"column {c}: values differ ({x[~nx].iloc[i]!r} vs {y[~ny].iloc[i]!r})"
    return None


def run_oracles(result, work):
    """Each check's DuckDB oracle against the parquet Spark wrote; returns
    (passed, failed, messages)."""
    import duckdb
    con = duckdb.connect()
    con.execute(f"SET threads = {host_cores()}")
    con.execute("SET memory_limit = '2GB'")
    con.execute(f"SET temp_directory = '{os.path.join(work, 'tmp', 'duckdb')}'")
    for view, path in result.get("duckdb_views", {}).items():
        con.execute(f"CREATE VIEW {view} AS SELECT * FROM read_parquet('{path}')")
    passed, failed, msgs = 0, 0, []
    for c in result["checks"]:
        try:
            spark = con.execute(
                f"SELECT * FROM read_parquet('{c['spark_path']}/*.parquet')").df()
            duck = con.execute(c["sql"]).df()
            err = frames_equal(spark, duck)
        except Exception as e:  # a broken oracle or output is a failed check
            err = f"{type(e).__name__}: {e}"
        if err:
            failed += 1
            msgs.append(f"FAIL {c['name']}: {err}")
        else:
            passed += 1
            msgs.append(f"PASS {c['name']} ({len(spark)} rows)")
    con.close()
    return passed, failed, msgs


# ---------------------------------------------------------------- metrics

def quartiles(xs):
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def top_percentile(xs):
    """The highest of p50/p90/p99 with at least ten samples beyond it, or None."""
    n = len(xs)
    levels = [p for p in (50, 90, 99) if n * (100 - p) / 100 >= 10]
    if not levels:
        return None
    rank = math.ceil(levels[-1] / 100 * n)
    return levels[-1], sorted(xs)[rank - 1]


def end_to_end(result):
    """Median of each end-to-end figure over the untraced timed iterations."""
    its = [i for i in result["iterations"] if not i["traced"]]
    series = {k: [i[k] for i in its] for k in ("run_s", "cpu_s", "written_mb", "heap_peak_mb")}
    attempted = sum(i["steps"] for i in result["iterations"])
    failed = sum(i["failed"] for i in result["iterations"])
    series["failed_frac"] = [failed / max(1, attempted)]
    series["setup_s"] = [result["setup"]["total_s"]]
    return series, attempted, failed


UNITS = {"run_s": "s", "cpu_s": "s", "written_mb": "MB", "heap_peak_mb": "MB",
         "failed_frac": "ratio", "setup_s": "s"}


def print_summary(workload, series):
    for name, xs in series.items():
        q1, med, q3 = quartiles(xs)
        top = top_percentile(xs)
        tail = f" p{top[0]} {top[1]:.6g}" if top else ""
        print(f"{workload} {name} [{UNITS[name]}]: median {med:.6g} q1 {q1:.6g} q3 {q3:.6g}"
              f"{tail} (n={len(xs)})")


def load_spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if not program_present():
        die("the program's sources are not in this checkout; nothing to benchmark")
    if not a.selftest and not a.workload:
        die("--workload is required")
    os.makedirs(WORK, exist_ok=True)
    cp_file = build()
    if a.selftest:
        import selftest
        sys.exit(selftest.main(sys.modules[__name__], cp_file))

    work = os.path.join(WORK, a.workload)
    result = run_harness(cp_file, work, a.workload, a.seed, a.seconds, a.trace == 1)
    passed, bad, msgs = run_oracles(result, work)
    for m in msgs:
        log(m)
    series, attempted, failed = end_to_end(result)
    correct = (bad == 0 and failed == 0 and result["row_gate"]["ok"]
               and all(i["error"] is None for i in result["iterations"]))
    print_summary(a.workload, series)
    for t in result["inputs"]:
        print(f"{a.workload} input {t['name']}: {t['rows']} rows, {t['bytes']} bytes, "
              f"digest {t['digest']}")
    print(f"{a.workload} oracle checks: {passed} pass, {bad} fail; "
          f"row gate {'ok' if result['row_gate']['ok'] else 'FAILED'}")

    spec = load_spec()
    if a.trace:
        layer = result["per_layer"]
        for k in sorted(layer):
            print(f"{a.workload} layer {k}: {layer[k]:.6g}")
        metrics = {m["name"]: {"value": layer[m["name"]], "unit": m["unit"]}
                   for m in spec["per_layer"]}
    else:
        metrics = {m["name"]: {"value": statistics.median(series[m["name"]]),
                               "unit": m["unit"]} for m in spec["end_to_end"]}
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    sys.dont_write_bytecode = True
    sys.path.insert(0, BENCH)
    main()
