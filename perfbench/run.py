#!/usr/bin/env python3
"""Benchmark runner for the graft knowledge-graph ETL engine.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload kg|curation \
        --seed N --seconds S --trace 0|1

It builds the engine and the benchmark from the checkout's sources
(sbt, offline; the classpath is cached under the build directory and
rebuilt when a source changes), runs one workload in one JVM on
local[nproc], checks the outputs, and prints as its last stdout line one
JSON object with the keys correct, attempted, failed and metrics. With
--trace 0 the metrics are the end-to-end metrics of BENCHMARK.json, with
--trace 1 its per-layer metrics. A failed correctness check prints the
result with "correct": false and exits 1. Without the engine's sources
it exits 2 without a result.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from concurrent.futures import ThreadPoolExecutor

import duckdb

T0 = time.monotonic()
ROOT = os.getcwd()
HERE = os.path.dirname(os.path.abspath(__file__))
BUILD = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
RUN_LIMIT_S = 170  # the whole command less --seconds, once the build is cached
FIRST_RUN_LIMIT_S = 890  # a run that builds first
BUILD_LIMIT_S = 600

JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def fail(msg, code=1):
    log(msg)
    sys.exit(code)


def heap():
    """Heap size: half of physical memory, 2g..8g."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, StopIteration, ValueError):
        return "2g"


def run_child(cmd, cwd, timeout, own_group, **kw):
    """Run cmd and wait for it; on timeout or interruption kill it and
    wait, so nothing outlives the runner. sbt forks, so it gets its own
    process group (killed as a whole); the benchmark JVM stays in the
    runner's group, so a signal to the runner's group reaches it too."""
    p = subprocess.Popen(cmd, cwd=cwd, start_new_session=own_group, **kw)

    def kill():
        if own_group:
            os.killpg(p.pid, signal.SIGKILL)
        else:
            p.kill()
        p.communicate()
    try:
        out, err = p.communicate(timeout=max(1, timeout))
    except subprocess.TimeoutExpired:
        kill()
        fail(f"timed out after {timeout:.0f}s: {cmd[0]}")
    except BaseException:
        kill()
        raise
    return p.returncode, out, err


def sources_fingerprint():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def classpath():
    """Compile engine + benchmark (sbt source dependency) and return the
    runtime classpath and whether it was built now; cached per source
    fingerprint."""
    fp = sources_fingerprint()
    cache = os.path.join(BUILD, "classpath.json")
    if os.path.exists(cache):
        with open(cache) as f:
            c = json.load(f)
        if c.get("fingerprint") == fp and all(os.path.exists(p) for p in c["classpath"][:2]):
            return c["classpath"], False
    log("building engine and benchmark (sbt) ...")
    code, out, err = run_child(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "export perfbench/Runtime/fullClasspath"],
        HERE, BUILD_LIMIT_S - (time.monotonic() - T0), True,
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL, text=True)
    lines = [ln for ln in out.splitlines() if ln.strip()]
    if code != 0 or not lines or lines[-1].startswith("["):
        sys.stderr.write(out[-4000:])
        fail("build failed")
    cp = lines[-1].strip().split(os.pathsep)
    os.makedirs(BUILD, exist_ok=True)
    with open(cache, "w") as f:
        json.dump({"fingerprint": fp, "classpath": cp}, f)
    return cp, True


def canon_rows(cur):
    cols = [d[0] for d in cur.description]
    order = sorted(range(len(cols)), key=lambda i: cols[i])

    def cell(v):
        if v is None:
            return "NULL"
        if isinstance(v, float):
            return "NULL" if v != v else repr(round(v, 9))
        return str(v)
    rows = sorted(tuple(cell(r[i]) for i in order) for r in cur.fetchall())
    return [cols[i] for i in order], rows


def oracle_one(e):
    """Compare one operator output with its oracle SQL in DuckDB (the
    column-sort + row-sort + value compare of the engine's own check);
    returns a problem description or None."""
    con = duckdb.connect()
    try:
        for t in ("documents", "embeddings"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{e['corpus']}/{t}.parquet/*.parquet')")
        scols, srows = canon_rows(con.execute(
            f"SELECT * FROM read_parquet('{e['output']}/*.parquet')"))
        ocols, orows = canon_rows(con.execute(e["sql"]))
    except Exception as ex:  # noqa: BLE001 - any engine error is a failed check
        return f"{e['name']}: {ex}"
    finally:
        con.close()
    if scols != ocols:
        return f"{e['name']}: columns {scols} vs oracle {ocols}"
    if e["min_recall"] >= 1.0:
        if srows != orows:
            return (f"{e['name']}: {len(srows)} rows vs oracle {len(orows)}, "
                    f"{len(set(srows) ^ set(orows))} differ")
        return None
    got, want = set(srows), set(orows)
    recall = len(got & want) / len(want) if want else 1.0
    if not got <= want or recall < e["min_recall"]:
        return (f"{e['name']}: {len(got - want)} rows not in oracle, "
                f"recall {recall:.4f} < {e['min_recall']}")
    return None


def oracle_check(entries):
    with ThreadPoolExecutor(max_workers=4) as pool:
        return [p for p in pool.map(oracle_one, entries) if p]


def main():
    # SIGTERM unwinds like an exception, so the child is killed and reaped
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["kg", "curation"])
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=["0", "1"])
    a = ap.parse_args()
    if a.seconds <= 0:
        fail("--seconds must be positive", 2)

    bench_json = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(bench_json):
        fail("BENCHMARK.json not found: run from the root of the checkout", 2)
    if not os.path.isfile(os.path.join(ROOT, "build.sbt")) or \
            not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail("engine sources (build.sbt, src/main/scala) not found in the checkout", 2)
    with open(bench_json) as f:
        spec = json.load(f)

    cp, built = classpath()
    deadline = T0 + (FIRST_RUN_LIMIT_S if built else RUN_LIMIT_S) + a.seconds

    work = os.path.join(BUILD, "work", f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    result_file = os.path.join(work, "result.json")
    cmd = (["java", f"-Xmx{heap()}", f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"]
           + [x for p in JDK17_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", os.pathsep.join(cp), "perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
              "--trace", a.trace, "--work", work, "--result", result_file])
    keep = os.path.join(BUILD, "runs")
    os.makedirs(keep, exist_ok=True)
    stem = os.path.join(keep, f"{a.workload}-seed{a.seed}-trace{a.trace}")
    try:
        code, _, err = run_child(cmd, ROOT, deadline - 20 - time.monotonic(), False,
                                 stdout=subprocess.DEVNULL, stderr=subprocess.PIPE,
                                 stdin=subprocess.DEVNULL, text=True)
        with open(stem + ".log", "w") as f:
            f.write(err)
        if code != 0 or not os.path.exists(result_file):
            sys.stderr.write(err[-6000:])
            fail(f"benchmark JVM exited with code {code}")
        with open(result_file) as f:
            r = json.load(f)
        problems = [f"{c['name']}: {c['detail']}" for c in r["checks"] if not c["ok"]]
        problems += oracle_check(r["oracle"])

        if os.path.exists(os.path.join(work, "spans.jsonl")):
            shutil.copy(os.path.join(work, "spans.jsonl"), stem + ".spans.jsonl")
    finally:
        shutil.rmtree(work, ignore_errors=True)

    wanted = spec["per_layer"] if a.trace == "1" else spec["end_to_end"]
    metrics = {}
    for m in wanted:
        name = m["name"]
        if name in r["metrics"]:
            metrics[name] = {"value": r["metrics"][name]["value"], "unit": m["unit"]}
        elif a.trace == "1":
            metrics[name] = {"value": 0.0, "unit": m["unit"]}  # layer not on this workload
        else:
            fail(f"end-to-end metric {name} was not measured")
    for p in problems:
        log(f"check failed: {p}")
    correct = bool(r["correct"]) and not problems
    with open(stem + ".json", "w") as f:
        json.dump({"env": r["env"], "checks": r["checks"], "oracle_problems": problems,
                   "metrics": r["metrics"]}, f, indent=1)
    print("perfbench env: " + json.dumps(r["env"], sort_keys=True))
    print(json.dumps({"correct": correct, "attempted": r["attempted"], "failed": r["failed"],
                      "metrics": metrics}))
    sys.stdout.flush()
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
