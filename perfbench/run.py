#!/usr/bin/env python3
"""The graft benchmark: one run of one workload.

    python3 perfbench/run.py --workload serve_read --seed 1 --seconds 10 --trace 0

Run from the root of a source checkout. The first run builds the engine
and this harness with sbt (offline) and caches the classpath under
.bench_work/; later runs reuse it while the sources are unchanged. A run
generates its inputs from the seed (gen.py), starts one JVM that drives
the engine (src/main/scala/perfbench), checks the outputs, prints a
report, and prints the result as the last line of stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones; with --trace 1 the
engine is wrapped to record spans and the metrics are the per-layer ones.
The test tables are read from $GRAFT_TESTDATA, else from the directory
the checkout's TESTDATA.md names.
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

T_START = time.monotonic()
T_START_EPOCH = time.time()  # set-up runs from here to the first timed request
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import metrics  # noqa: E402

RUN_LIMIT_S = 170  # the whole run, build excluded
BUILD_LIMIT_S = 850
HEAP = {"serve": "3g", "suite": "4g"}
# Spark's JDK 17 module openings (build.sbt's javaOptions; spark-submit adds the same)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio", "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
END_TO_END = {"setup_s": "s", "ops_per_s": "1/s", "p50_ms": "ms", "p75_ms": "ms", "cpu_ms_per_op": "ms",
              "retained_heap_mb": "MB"}


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def run_group(cmd, cwd, env, timeout, log_path):
    """Runs cmd in its own process group; kills the group on timeout and waits for it."""
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=log, stderr=subprocess.STDOUT,
                             start_new_session=True)
        try:
            return p.wait(timeout=max(timeout, 1))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return None
        finally:
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()


def source_stamp(root):
    """Hash of everything the build reads, so a changed tree rebuilds."""
    files = [os.path.join(root, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for top in (os.path.join(root, "project"), os.path.join(root, "src"),
                os.path.join(HERE, "project"), os.path.join(HERE, "src")):
        for dirpath, dirs, names in os.walk(top):
            dirs[:] = sorted(d for d in dirs if d not in ("target", "project"))
            files += [os.path.join(dirpath, n) for n in sorted(names)
                      if n.endswith((".scala", ".java", ".sbt", ".properties"))]
    h = hashlib.sha256()
    for path in files:
        h.update(os.path.relpath(path, root).encode())
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def build(root, work):
    """Compiles engine + harness once per source tree; returns the classpath."""
    stamp = source_stamp(root)
    cp_file = os.path.join(work, "classpath.txt")
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            saved_stamp, cp = f.read().split("\n", 1)
        if saved_stamp == stamp:
            return cp.strip()
    env = dict(os.environ, COURSIER_MODE="offline",
               SBT_OPTS="-Dsbt.override.build.repos=true -Dsbt.offline=true -Xmx2g")
    log = os.path.join(work, "build.log")
    rc = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
                   HERE, env, BUILD_LIMIT_S, log)
    with open(log) as f:
        lines = [x.strip() for x in f if x.strip()]
    if rc != 0 or not lines or "classes" not in lines[-1]:
        sys.stderr.write("".join(x + "\n" for x in lines[-30:]))
        fail(f"build failed (exit {rc}); see {log}")
    with open(cp_file, "w") as f:
        f.write(stamp + "\n" + lines[-1])
    return lines[-1]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(gen.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = os.getcwd()
    if not (os.path.isfile(os.path.join(root, "build.sbt")) and os.path.isdir(os.path.join(root, "src", "main"))):
        fail("run from the root of a graft source checkout (build.sbt and src/ not found)")
    testdata = gen.testdata_root(root)
    for sf in ("sf0.01", "sf0.1"):
        if not testdata or not os.path.isfile(os.path.join(testdata, sf, "lineitem.parquet")):
            fail(f"test tables not found under {testdata}/{sf}; set GRAFT_TESTDATA")
    if shutil.which("java") is None or shutil.which("sbt") is None:
        fail("java and sbt are required")
    work = os.path.join(root, ".bench_work")
    os.makedirs(work, exist_ok=True)
    b0 = time.monotonic()
    cp = build(root, work)
    build_s = time.monotonic() - b0  # not set-up: a compile happens once per source tree

    t0 = time.monotonic()
    kind = gen.WORKLOADS[args.workload]["kind"]
    out = os.path.join(work, f"run-{args.workload}-{args.seed}-{args.trace}")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(os.path.join(out, "tmp"))
    plan_path = gen.generate(args.workload, args.seed, testdata, out)
    gen_s = time.monotonic() - t0
    result_path = os.path.join(out, "result.json")
    cmd = (["java", f"-Xmx{HEAP[kind]}", "-XX:ReservedCodeCacheSize=512m",
            "-Dspark.buffer.pageSize=2m", "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Djava.io.tmpdir={out}/tmp"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main", plan_path, result_path, str(args.seconds), str(args.trace), out])
    jvm_log = os.path.join(out, "jvm.log")
    rc = run_group(cmd, root, dict(os.environ), RUN_LIMIT_S - (time.monotonic() - T_START), jvm_log)
    if rc != 0 or not os.path.exists(result_path):
        with open(jvm_log, errors="replace") as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        fail(f"harness failed (exit {rc})")
    with open(result_path) as f:
        res = json.load(f)
    with open(plan_path) as f:
        plan = json.load(f)
    res["_verify_dir"] = plan["verifyDir"]
    # process start to the first timed request: generation, JVM and Spark
    # start, the cold first requests and the warm-up; the build excluded
    setup_s = res["timed_start_epoch_s"] - T_START_EPOCH - build_s
    summary = metrics.summarize(args.workload, kind, res, plan, setup_s, args.trace, testdata)
    summary.update(seed=args.seed, trace=args.trace, gen_s=gen_s, build_s=build_s)
    with open(os.path.join(work, f"summary-{args.workload}-{args.seed}-{args.trace}.json"), "w") as f:
        json.dump(summary, f, indent=1)
    shutil.rmtree(out, ignore_errors=True)

    print(report(summary))
    if args.trace:
        values = {k: (summary["per_layer"][k], u) for k, u in metrics.PER_LAYER.items()}
    else:
        values = {k: (summary["end_to_end"][k], u) for k, u in END_TO_END.items()}
    print(json.dumps({"correct": summary["failed"] == 0, "attempted": summary["attempted"],
                      "failed": summary["failed"],
                      "metrics": {k: {"value": v, "unit": u} for k, (v, u) in values.items()}}))


def report(s):
    lines = [f"== {s['workload']} seed={s['seed']} trace={s['trace']}: "
             f"{s['attempted']} attempted, {s['failed']} failed"]
    for k, u in END_TO_END.items():
        lines.append(f"  {k:<18} {s['end_to_end'][k]:12.4f} {u}")
    for k, v in s["named"].items():
        if isinstance(v, float):
            lines.append(f"  {k:<18} {v:12.4f}")
    lines.append(f"  samples {s['named']['samples']}; tail rule {s['named']['tail_rule']}")
    lines.append(f"  load probe median {s['load_probe_s']:.4f} s; set-up: generation {s['gen_s']:.2f} s, "
                 f"JVM and Spark {s['boot_s']:.2f} s, cold requests {s['cold_s']:.2f} s, "
                 f"warm-up {s['warmup_s']:.2f} s")
    for rid, why in list(s["failures"].items())[:10]:
        lines.append(f"  FAIL {rid}: {why}")
    if "per_layer" in s:
        lines.append("  self time per op (ms, share):")
        for name, ms, share in s["self_time"]:
            lines.append(f"    {name:<26} {ms:10.3f} {share:7.1%}")
        for k, u in metrics.PER_LAYER.items():
            lines.append(f"  {k:<30} {s['per_layer'][k]:14.4f} {u}")
    return "\n".join(lines)


if __name__ == "__main__":
    main()
