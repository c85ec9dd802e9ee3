#!/usr/bin/env python3
"""Repository benchmark: one command per (workload, seed) run.

    python3 perfbench/run.py --workload cube_api --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --selftest

Builds the benchmark JVM (perfbench/build.sbt, which compiles the
repository's program from source) when its sources changed, runs one
workload in it, checks every output against an independent DuckDB
evaluation, and prints a report followed by one JSON line:
{"correct", "attempted", "failed", "metrics"}. `--trace 0` reports the
end-to-end metrics; `--trace 1` records spans and reports the per-layer
metrics. The exit code is nonzero when any check fails. See NOTES.md.
"""
import argparse
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
WORKLOADS = ("cube_api", "lakehouse_rw", "batch_scaleup")
DEADLINE_S = 175
BUILD_DEADLINE_S = 840
# A fixed heap and young generation keep the JVM's peak RSS steady from
# run to run; adaptive sizing made it swing by half. Pre-touching the heap
# makes it a constant part of the RSS, so heap_live_mb reports the heap.
HEAP = ["-Xms3g", "-Xmx3g", "-Xmn1g", "-XX:+AlwaysPreTouch"]
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]

sys.path.insert(0, HERE)
import checks  # noqa: E402
import fixtures  # noqa: E402
import layers  # noqa: E402

# Inputs of each workload, generated from the seed by fixtures.py:
# (tables, {table: scale-up copies}, files of the lakehouse table).
INPUTS = {
    "cube_api": (fixtures.STAR + ["events", "documents"], {}, 0),
    "lakehouse_rw": (fixtures.STAR, {}, 8),
    "batch_scaleup": (["events", "documents"], {"events": 2}, 0),
}
SETUP_REPS = 3


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


# ---------------------------------------------------------------- build

def source_stamp():
    """Digest of every input of the benchmark build."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(ROOT, "project"), os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, subdirs, names in os.walk(r):
            subdirs[:] = sorted(s for s in subdirs if s not in ("target", "project"))
            files += [os.path.join(d, n) for n in names
                      if n.endswith((".scala", ".java", ".sbt", ".properties"))]
    for f in sorted(files):
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile the program and the benchmark when their sources changed;
    return the runtime classpath."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail("the repository sources (build.sbt, src/main/scala) are missing")
    os.makedirs(BUILD, exist_ok=True)
    stamp_file = os.path.join(BUILD, "stamp")
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp = source_stamp()
    if os.path.isfile(cp_file) and os.path.isfile(stamp_file) \
            and open(stamp_file).read() == stamp:
        return open(cp_file).read().strip()
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        p = subprocess.Popen(["sbt", "-batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                             cwd=HERE, stdout=out, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, start_new_session=True)
        rc = wait_group(p, BUILD_DEADLINE_S)
    if rc != 0:
        sys.stderr.write(open(log).read()[-4000:])
        fail(f"build failed (rc={rc}), log: {log}", 3)
    shutil.copy(os.path.join(HERE, "target", "classpath.txt"), cp_file)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return open(cp_file).read().strip()


# ---------------------------------------------------------------- run

def cpu_times():
    """(steal, total) jiffies over all CPUs, from /proc/stat."""
    try:
        with open("/proc/stat") as fh:
            vals = [int(x) for x in fh.readline().split()[1:]]
        return vals[7] if len(vals) > 7 else 0, sum(vals[:8])
    except OSError:
        return 0, 0


def start_jvm(cp, args, work):
    """Start perfbench.Main in its own process group."""
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    cmd = ["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    cmd += HEAP + [f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
                   "-Dspark.ui.enabled=false", "-cp", cp, "perfbench.Main"] + args
    log = open(os.path.join(work, "jvm.log"), "w")
    return subprocess.Popen(cmd, cwd=work, stdout=log, stderr=subprocess.STDOUT,
                            stdin=subprocess.DEVNULL, start_new_session=True)


def wait_group(p, budget_s):
    """Wait for a process started in its own group; kill the group on
    timeout (returns None)."""
    try:
        return p.wait(timeout=max(budget_s, 1))
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return None


def run_jvm(cp, args, work, budget_s):
    """Run perfbench.Main to completion; return its exit code (None on timeout)."""
    return wait_group(start_jvm(cp, args, work), budget_s)


def percentile(xs, q):
    xs = sorted(xs)
    if not xs:
        return float("nan")
    k = (len(xs) - 1) * q
    lo, hi = math.floor(k), math.ceil(k)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def median(xs):
    return percentile(xs, 0.5)


def end_to_end(res, steal):
    """End-to-end metrics from the untraced run, plus the workload's own
    named figures for the report."""
    ops = res["ops"]
    lat = [o["ms"] for o in ops]
    window = res["window_s"]
    setup = median(res["gen_s"]) + res["session_s"] + res["table_s"] + res["warmup_s"]
    rss_mb = res["jvm"]["vm_hwm_kb"] / 1024.0
    heap_mb = res["jvm"]["heap_live_bytes"] / 2 ** 20
    metrics = {
        "setup_s": (setup, "s"),
        "op_p50_ms": (percentile(lat, 0.5), "ms"),
        "op_p95_ms": (percentile(lat, 0.95), "ms"),
        "throughput_ops": (len(ops) / window, "1/s"),
        "peak_rss_mb": (rss_mb, "MB"),
        "heap_live_mb": (heap_mb, "MB"),
    }
    named = {"setup_s": (setup, "s"), "peak_rss_mb": (rss_mb, "MB"),
             "heap_live_mb": (heap_mb, "MB")}
    w = res["workload"]
    if w == "cube_api":
        named["request_p50_ms"] = (percentile(lat, 0.5), "ms")
        named["request_p95_ms"] = (percentile(lat, 0.95), "ms")
        named["throughput_qps"] = (len(ops) / window, "1/s")
    elif w == "lakehouse_rw":
        reads = [o["ms"] for o in ops if o["class"] == "read"]
        writes = [o["ms"] for o in ops if o["class"] == "write"]
        lake = res["lake"]
        named["read_p50_ms"] = (percentile(reads, 0.5), "ms")
        named["read_p95_ms"] = (percentile(reads, 0.95), "ms")
        named["write_p50_ms"] = (percentile(writes, 0.5), "ms")
        named["write_p95_ms"] = (percentile(writes, 0.95), "ms")
        named["write_amp"] = (lake["bytes_added"] / max(lake["batch_bytes"], 1), "ratio")
        named["space_amp"] = (lake["table_bytes"] / max(lake["live_bytes"], 1), "ratio")
    else:
        rows_in = sum(res["table_rows"][q["input"]] for q in res["batch"]["queries"])
        rates = [rows_in / p["s"] for p in res["passes"] if not p["traced"]]
        named["batch_rows_per_s"] = (median(rates), "rows/s")
    context = {
        "ops": len(ops), "window_s": window,
        "setup_parts_s": {"generate": res["gen_s"], "session": res["session_s"],
                          "table": res["table_s"], "warmup": res["warmup_s"]},
        "cpu_steal_share": steal, "gc_ms": res["jvm"]["gc_ms"],
        "cores": res["jvm"]["cores"], "sizes": res.get("sizes", {}),
    }
    return metrics, named, context


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true",
                    help="determinism and traced-replica self-tests")
    ap.add_argument("--keep", action="store_true", help="keep the work directory")
    a = ap.parse_args()
    cp = build()
    t_start = time.time()  # a build may take minutes; the run budget starts after it
    if a.selftest:
        import selftest
        sys.exit(selftest.main(cp, BUILD, run_jvm, INPUTS))
    if not a.workload:
        fail("--workload is required")

    work = os.path.join(BUILD, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    jvm = None
    try:
        # the JVM starts while the inputs are generated; set-up is repeated
        # to steady setup_s, and the last copy is used
        fx = os.path.join(work, f"fixtures{SETUP_REPS - 1}")
        s0 = cpu_times()
        jvm = start_jvm(cp, [a.workload, str(a.seed), str(a.seconds), str(a.trace), work, fx],
                        work)
        tables, copies, lake_files = INPUTS[a.workload]
        gen_s = []
        for i in range(SETUP_REPS):
            t0 = time.time()
            fixtures.generate(a.seed, os.path.join(work, f"fixtures{i}"), tables, copies,
                              lake_files)
            gen_s.append(time.time() - t0)
            if i < SETUP_REPS - 1:
                shutil.rmtree(os.path.join(work, f"fixtures{i}"))
        open(os.path.join(work, "fixtures.ready"), "w").close()
        rc = wait_group(jvm, DEADLINE_S - (time.time() - t_start) - 25)
        s1 = cpu_times()
        steal = {"start_jiffies": s0[0], "end_jiffies": s1[0],
                 "share": (s1[0] - s0[0]) / max(s1[1] - s0[1], 1)}
        if rc != 0:
            tail = open(os.path.join(work, "jvm.log"), errors="replace").read()[-4000:]
            sys.stderr.write(tail)
            fail("benchmark JVM timed out" if rc is None else f"benchmark JVM failed (rc={rc})", 4)
        res = json.load(open(os.path.join(work, "result.json")))
        res["gen_s"] = gen_s
        verdict = checks.run(res, work, fx)
        ops = res["ops"]
        attempted = len(ops)
        failed = sum(1 for o in ops if not o["ok"]) + verdict["wrong_ops"]
        failed = min(failed, attempted)
        correct = verdict["ok"] and failed == 0
        if a.trace:
            metrics, report = layers.per_layer(res, work)
        else:
            metrics, named, context = end_to_end(res, steal)
            report = {"metrics": {k: {"value": v, "unit": u} for k, v, u in
                                  ((k, *named[k]) for k in named)},
                      "failed_ratio": {"value": failed / max(attempted, 1),
                                       "base": {"failed": failed, "attempted": attempted}},
                      "context": context}
        for line in verdict["lines"]:
            print(f"check {line}")
        print("report " + json.dumps(report, sort_keys=True))
        print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                          "metrics": {k: {"value": v, "unit": u}
                                      for k, (v, u) in metrics.items()}}))
        return 0 if correct else 1
    finally:
        if jvm is not None and jvm.poll() is None:
            os.killpg(jvm.pid, signal.SIGKILL)
            jvm.wait()
        if not a.keep:
            shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
