#!/usr/bin/env python3
"""The repository benchmark: run one named workload and print its metrics.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. The first run builds the engine and the
harness (perfbench/build.py); later runs reuse the build. A run starts one
JVM at local[nproc], which sets up (session, then a first pass that warms
the JVM, builds indexes into a fresh store and dumps oracle-backed
outputs), then times whole passes until S seconds have elapsed. The dumped
outputs are then checked against the DuckDB oracle.

The last stdout line is one JSON object: {"correct", "attempted",
"failed", "metrics"}. With --trace 0 the metrics are the end_to_end
metrics of BENCHMARK.json, with --trace 1 the per_layer ones (taken with
Spark listeners attached). The line before it carries the host stamp.
Everything a run writes goes under .bench_build/perfbench/.
"""
import sys

sys.dont_write_bytecode = True

import argparse  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import time  # noqa: E402
from pathlib import Path  # noqa: E402

import build  # noqa: E402
import oracle  # noqa: E402

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
OUT = build.OUT
FIXTURE = HERE / "fixtures" / "sf0.01"
HEAP_MB = 3072
RUN_LIMIT_S = 170
JAVA_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar"]


def fail(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(2)


def calibrate():
    """Seconds for a fixed CPU kernel, to tell a slow host from slow code."""
    buf = bytes(range(256)) * 4096
    t0 = time.perf_counter()
    h = b""
    for _ in range(64):
        h = hashlib.sha256(buf + h).digest()
    return time.perf_counter() - t0


def java(classpath, args, work, env):
    cmd = (["java", f"-Xms{HEAP_MB}m", f"-Xmx{HEAP_MB}m", "-Xss8m", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={work / 'tmp'}", "-Dspark.ui.enabled=false",
            f"-Dspark.local.dir={work / 'spark-local'}"]
           + [x for p in JAVA_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
           + ["-cp", classpath, "graft.perfbench.Main"] + args)
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    with open(work / "jvm.log", "ab") as log:
        p = subprocess.Popen(cmd, cwd=work, env=env, stdout=log, stderr=log,
                             stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            rc = p.wait(timeout=RUN_LIMIT_S)
        except subprocess.TimeoutExpired:
            rc = "timeout"
        finally:  # also on SIGTERM/SIGINT: never leave the JVM behind
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()
    if rc != 0:
        tail = (work / "jvm.log").read_text(errors="replace")[-3000:]
        fail(f"JVM failed ({rc}); log tail:\n{tail}")


def median(xs):
    return statistics.median(xs) if xs else 0.0


def p90(xs):
    """Nearest-rank 90th percentile."""
    xs = sorted(xs)
    return xs[max(0, -(-9 * len(xs) // 10) - 1)] if xs else 0.0


def judge(res, oracle_errors):
    """(attempted, failed, problems) over the timed passes. An operation
    execution fails when it raised, when its digest differs from the
    set-up pass's, or when an output it produced failed the oracle check."""
    problems = [f"oracle {k}: {v}" for k, v in sorted(oracle_errors.items())]
    oracle_bad = {res["oracle"][k]["op"] for k in oracle_errors}
    setup = res["setup_pass"]
    ref = {o["name"]: o["digest"] for o in setup["ops"]}
    problems += [f"set-up {o['name']}: {o['error']}" for o in setup["ops"] if not o["ok"]]
    problems += setup["check_errors"]
    attempted = failed = 0
    for p in res["passes"]:
        problems += [f"pass {p['index']}: {e}" for e in p["check_errors"]]
        for o in p["ops"]:
            attempted += 1
            bad = not o["ok"] or o["digest"] != ref.get(o["name"]) or o["name"] in oracle_bad
            if o["name"] == "dag":
                bad = (bad or bool(p["check_errors"])
                       or p["table_digests"] != setup["table_digests"])
            if bad:
                failed += 1
                problems.append(f"pass {p['index']} {o['name']}: "
                                f"{o['error'] or 'digest ' + o['digest'] + ' != ' + str(ref.get(o['name']))}")
    return attempted, failed, problems


def end_to_end(res, attempted, failed):
    passes = res["passes"]
    pass_s = median([p["pass_s"] for p in passes])
    ops = [o["s"] for p in passes for o in p["ops"]]
    return {
        "setup_s": res["setup_s"],
        "pass_s": pass_s,
        "rows_per_s": res["input_rows"] / pass_s,
        "op_p50_s": median(ops),
        "op_p90_s": p90(ops),
        "ok_frac": 1.0 - failed / attempted,
    }


def per_layer(res, layer_names, host, untraced_pass_s):
    passes = res["passes"]
    keys = {k for p in passes for k in p["layers"]}
    m = {k: median([p["layers"].get(k, 0.0) for p in passes]) for k in keys}

    def per_pass(pick):
        return median([sum(o["s"] for o in p["ops"] if pick(o["name"])) for p in passes])

    m["storage.leaked_rdds"] = median([len(p["leaked"]) for p in passes])
    m["storage.heap_after_gc_mb"] = median([p["heap_after_gc_mb"] for p in passes])
    m["io.index_build_s"] = res["index_build_s"]
    m["io.out_bytes_per_in_byte"] = m.get("io.write_mb", 0.0) * 1048576 / res["input_bytes"]
    m["pipelines.build_s"] = median([sum(o["build_s"] for o in p["ops"]) for p in passes])
    m["pipelines.dag_s"] = per_pass(lambda n: n == "dag")
    m["pipelines.reconcile_s"] = per_pass(lambda n: n.startswith("reconcile_"))
    for name in layer_names:
        if name.startswith("ops.") and name.endswith("_s"):
            m[name] = per_pass(lambda n, c=name[4:-2]: n == c)
        elif name.startswith("cells_s."):
            m[name] = per_pass(lambda n, q=name[8:]: res["modules"].get(n) == q)
    m.update(host)
    m["trace.pass_s"] = median([p["pass_s"] for p in passes])
    m["trace.overhead_s"] = (m["trace.pass_s"] - untraced_pass_s
                             if untraced_pass_s is not None else 0.0)
    return m


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    spec_file = ROOT / "BENCHMARK.json"
    if not spec_file.is_file():
        fail("BENCHMARK.json not found at the repository root")
    spec = json.loads(spec_file.read_text())
    if a.workload not in {w["name"] for w in spec["workloads"]}:
        fail(f"unknown workload {a.workload}")
    if not FIXTURE.is_dir():
        fail(f"fixture missing: {FIXTURE}")

    cores = len(os.sched_getaffinity(0))
    host = {"host.nproc": float(cores), "host.heap_mb": float(HEAP_MB),
            "host.load1_start": os.getloadavg()[0]}
    calib_before = calibrate()

    try:
        classpath = build.build()
    except (build.BuildError, subprocess.TimeoutExpired) as e:
        fail(f"build failed: {e}")

    work = OUT / "runs" / f"{a.workload}-trace{a.trace}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    env = dict(os.environ, GRAFT_INDEX_STORE=str(work / "index_store"))
    java(classpath, [f"workload={a.workload}", f"seed={a.seed}",
                     f"seconds={a.seconds}", f"trace={a.trace}", f"cores={cores}",
                     f"data={FIXTURE}", f"work={work}"], work, env)
    res = json.loads((work / "result.json").read_text())

    oracle_errors = oracle.check(res["oracle"], FIXTURE, cores, OUT / "oracle_cache.json")
    attempted, failed, problems = judge(res, oracle_errors)
    for leak in (res["passes"][0]["leaked"] if res["passes"] else []):
        print(f"[perfbench] persisted after releaseCaches(), dropped: {leak}",
              file=sys.stderr)
    for msg in problems[:50]:
        print(f"[perfbench] {msg}", file=sys.stderr)
    correct = not problems

    host["host.load1_end"] = os.getloadavg()[0]
    host["host.calib_s"] = (calib_before + calibrate()) / 2

    history = OUT / "history" / f"{a.workload}.json"
    past = json.loads(history.read_text()) if history.is_file() else []
    if a.trace:
        names = [m["name"] for m in spec["per_layer"]]
        metrics = per_layer(res, names, host, median(past) if past else None)
    else:
        names = [m["name"] for m in spec["end_to_end"]]
        metrics = end_to_end(res, attempted, failed)
        history.parent.mkdir(parents=True, exist_ok=True)
        history.write_text(json.dumps((past + [metrics["pass_s"]])[-20:]))
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    print(json.dumps({"host": host, "passes": len(res["passes"]),
                      "order": res["order"], "work": str(work)}))
    # a layer that saw no event of a kind (e.g. no write) reports 0
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": {n: {"value": metrics.get(n, 0.0), "unit": units[n]}
                                  for n in names}}))


if __name__ == "__main__":
    main()
