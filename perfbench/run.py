#!/usr/bin/env python3
"""Benchmark of the Spark vector-database engine.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload <catalog|vector_api> --seed <n> \
        --seconds <s> --trace <0|1>

Builds the engine and the harness from source with sbt (once per source
state, into .bench_build/), runs one workload in one JVM on local[nproc],
checks its outputs, and prints as the last stdout line one JSON object:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics
are BENCHMARK.json's end_to_end list, with --trace 1 its per_layer list.
The line before it is a readable summary with extra workload figures.

A failed build, set-up step or warm-up exits non-zero without a result.
"""
import argparse
import datetime
import decimal
import hashlib
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
DATA = os.path.join(HERE, "data", "sf0.1")
EXPECTED = os.path.join(HERE, "expected", "catalog_sf0.1.json")
# Fixed heap (-Xms = -Xmx): with a growing heap the collector ran often
# while it sized the heap, and the first ~40 s of ops after set-up ran up to
# 30% slower than the rest, by a different amount in every run.
JVM_HEAP = "2g"
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 700


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


# ---------------------------------------------------------------- build

def source_files():
    """Every file the build reads: the engine's and the harness's."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(ROOT, "project"), os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, dirs, names in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, n) for n in sorted(names)]
    return files


def source_stamp():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compiles engine + harness with sbt unless this source state is built."""
    for need in ("build.sbt", os.path.join("src", "main", "scala")):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"not a checkout of the engine: {need} is missing under {ROOT}")
    stamp = source_stamp()
    stamp_file = os.path.join(BUILD, "stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return
    os.makedirs(BUILD, exist_ok=True)
    repos = os.path.expanduser("~/.sbt/repositories")
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g", "-XX:-UsePerfData",
            f"-Dperfbench.out={BUILD}"]
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env = dict(os.environ, COURSIER_MODE="offline",
               SBT_OPTS=" ".join([os.environ.get("SBT_OPTS", "")] + opts).strip())
    log("building engine and harness with sbt")
    t0 = time.time()
    proc = start(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeLaunch"],
                 cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr)
    if wait_or_kill(proc, BUILD_TIMEOUT_S) != 0:
        fail("sbt build failed")
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    log(f"built in {time.time() - t0:.0f} s")


CHILDREN = []


def stop_children(signum=None, frame=None):
    """Kills every process group this script started (also on SIGTERM)."""
    for proc in CHILDREN:
        if proc.poll() is None:
            try:
                os.killpg(proc.pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
            proc.wait()
    if signum is not None:
        sys.exit(128 + signum)


def start(cmd, **kw):
    proc = subprocess.Popen(cmd, stdin=subprocess.DEVNULL, start_new_session=True, **kw)
    CHILDREN.append(proc)
    return proc


def wait_or_kill(proc, timeout):
    """Waits for the process; on timeout kills its whole process group."""
    try:
        return proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        return None


def cpu_steal_s():
    """Seconds of CPU the hypervisor gave to other guests (Linux), so a run
    slowed by a noisy neighbour can be told from a slower program."""
    try:
        with open("/proc/stat") as fh:
            fields = fh.readline().split()
        return int(fields[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return 0.0


def host_calib_s():
    """Seconds a fixed single-thread loop takes: a host-speed reading printed
    next to the results, to tell a slow host from a slow program."""
    t0 = time.perf_counter()
    sum(i * i for i in range(2_000_000))
    return time.perf_counter() - t0


def run_java(main_class, args, run_dir):
    """Runs one harness main; returns its stdout lines (None on failure)."""
    cp = open(os.path.join(BUILD, "classpath.txt")).read().strip()
    # the engine's JVM options (module opens, session flags), heap replaced
    opts = [o for o in open(os.path.join(BUILD, "javaopts.txt")).read().split("\n")
            if o and not o.startswith("-Xmx")]
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # no hsperfdata file: the JVM writes nothing outside the checkout
    cmd = (["java"] + opts + [f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", "-XX:-UsePerfData",
                              f"-Djava.io.tmpdir={tmp}", "-cp", cp, main_class] + args)
    proc = start(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=sys.stderr, text=True)
    try:
        out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.communicate()
        log(f"{main_class} did not finish within {JVM_TIMEOUT_S} s")
        return None
    if proc.returncode != 0:
        log(f"{main_class} exited with code {proc.returncode}")
        return None
    return out.splitlines()


# ------------------------------------------------------- output checks

def canon(v):
    """Canonical text of one value. Values that compare equal the way
    scripts/oracle_check.py compares them (==, same-kind NULL/NaN) map to
    the same text, whichever engine produced them."""
    if v is None:
        return "N"
    if isinstance(v, bool):
        return "b1" if v else "b0"
    if isinstance(v, int):
        return f"i{v}"
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        if v.is_integer() and abs(v) < 2 ** 53:
            return f"i{int(v)}"
        return "f" + repr(v)
    if isinstance(v, decimal.Decimal):
        if v == v.to_integral_value():
            return f"i{int(v)}"
        return canon(float(v))
    if isinstance(v, str):
        return "s" + json.dumps(v)
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        return "t" + v.isoformat()
    if isinstance(v, datetime.date):
        return "d" + v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{canon(x)}" for k, x in sorted(v.items())) + "}"
    if isinstance(v, (bytes, bytearray)):
        return "x" + bytes(v).hex()
    return "o" + repr(v)


def result_hash(con, sql):
    """Row count, sorted column names and order-free hash of a result."""
    cur = con.execute(sql)
    cols = [d[0] for d in cur.description]
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    rows = sorted("\x1f".join(canon(r[i]) for i in order) for r in cur.fetchall())
    h = hashlib.sha256("\x1e".join(cols[i] for i in order).encode())
    for r in rows:
        h.update(b"\x1d" + r.encode())
    return {"rows": len(rows), "columns": [cols[i] for i in order], "sha256": h.hexdigest()}


def duck():
    import duckdb
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    con.execute("SET threads=1")
    return con


def check_catalog(check_dir, queries):
    """Compares every query's warm-up output with the oracle's hash."""
    expected = json.load(open(EXPECTED))["queries"]
    con = duck()
    failures = []
    for q in queries:
        want = expected.get(q)
        try:
            got = result_hash(con, f"SELECT * FROM read_parquet('{check_dir}/{q}/*.parquet')")
        except Exception as ex:  # unreadable output is a failed op
            failures.append(f"{q}: output unreadable: {ex}")
            continue
        if want is None or got != want:
            failures.append(f"{q}: output {got} != oracle {want}")
    return failures


# ----------------------------------------------------------------- main

def load_spec():
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    return spec, {w["name"] for w in spec["workloads"]}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    a = ap.parse_args()
    signal.signal(signal.SIGTERM, stop_children)
    signal.signal(signal.SIGINT, stop_children)
    spec, workloads = load_spec()
    if a.workload not in workloads:
        fail(f"unknown workload {a.workload}; expected one of {sorted(workloads)}")
    build()

    cores = len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()
    run_dir = os.path.join(ROOT, ".bench_build", "runs", f"{a.workload}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    steal0, calib0 = cpu_steal_s(), host_calib_s()
    try:
        lines = run_java("perfbench.Main", [
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--data", DATA, "--run-dir", run_dir,
            "--cores", str(cores)], run_dir)
        if lines is None:
            fail("benchmark process failed", 3)
        found = [l for l in lines if l.startswith("PERFBENCH_RESULT ")]
        if not found:
            fail("benchmark process printed no result", 3)
        res = json.loads(found[-1][len("PERFBENCH_RESULT "):])
        oracle_failures = []
        if "check_dir" in res:
            oracle_failures = check_catalog(res["check_dir"], res["check_queries"])
        if "trace_file" in res:
            shutil.copy(res["trace_file"],
                        os.path.join(BUILD, f"last_trace_{a.workload}.json"))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    failed = res["failed"] + len(oracle_failures)
    attempted = res["attempted"]
    listed = spec["per_layer"] if a.trace else spec["end_to_end"]
    missing = [m["name"] for m in listed if m["name"] not in res["metrics"]]
    if missing:
        fail(f"harness did not report {missing}", 3)
    metrics = {m["name"]: {"value": res["metrics"][m["name"]], "unit": m["unit"]}
               for m in listed}
    for f in res["failures"] + oracle_failures:
        log(f"FAILED {f}")
    summary = dict(res["summary"], workload=a.workload, seed=a.seed, cores=cores,
                   measured_ops=res["measured_ops"], window_s=res["window_s"],
                   ops_failed_ratio=failed / attempted, cpu_steal_s=cpu_steal_s() - steal0,
                   host_calib_s=(calib0 + host_calib_s()) / 2)
    print("summary " + " ".join(
        [f"{k}={v['value']:.6g}{v['unit']}" for k, v in metrics.items()] +
        [f"{k}={v:.6g}" if isinstance(v, float) else f"{k}={v}" for k, v in summary.items()]))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
