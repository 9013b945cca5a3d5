#!/usr/bin/env python3
"""Runs one benchmark workload of the graft engine and prints its result.

    python3 perfbench/run.py --workload serve|ingest --seed N \
        --seconds S --trace 0|1

Run from the root of a checkout of the repository. The first run compiles
the engine and the harness (perfbench/build.py) into .bench_build/. Each run
starts one JVM on local[nproc] with spark.sql.shuffle.partitions = nproc and
the heap set only by GRAFT_XMX (default 4g).

Stdout ends with two lines: the run environment as {"env": {...}}, then the
result {"correct", "attempted", "failed", "metrics"}. --trace 0 reports the
end-to-end metrics of BENCHMARK.json, --trace 1 the per-layer ones; the
traced run also writes its spans under .bench_build/traces/. The full record
of every run (environment, op counts by type, errors) is kept in
.bench_build/results/. Spark's log goes to .bench_build/logs/.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.dont_write_bytecode = True
sys.path.insert(0, HERE)
import build  # noqa: E402

WORKLOADS = ("serve", "ingest")
JVM_TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def loadavg():
    try:
        with open("/proc/loadavg") as f:
            return f.read().strip()
    except OSError:
        return ""


def cpu_times():
    """Aggregate CPU times of the machine from /proc/stat, or None."""
    try:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:]]
    except (OSError, ValueError):
        return None


def steal_pct(start, end):
    """Share of CPU time the hypervisor gave to other guests between two
    cpu_times() samples (field 8 of /proc/stat), in percent."""
    if not start or not end or len(start) < 8 or len(end) < 8:
        return None
    d = [b - a for a, b in zip(start, end)]
    return round(100.0 * d[7] / sum(d), 2) if sum(d) > 0 else None


def expected_metrics(trace):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return [m["name"] for m in spec["per_layer" if trace else "end_to_end"]]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail("engine sources (src/main/scala) not found: run from a checkout "
             "of the repository")
    names = expected_metrics(args.trace)

    bdir = os.path.join(ROOT, ".bench_build")
    try:
        classes = build.build(bdir)
    except (subprocess.CalledProcessError, OSError) as e:
        fail(f"build failed ({type(e).__name__}); see the compiler output above")
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    work = os.path.join(bdir, "work", f"{tag}-{os.getpid()}")
    for d in ("logs", "results", "traces"):
        os.makedirs(os.path.join(bdir, d), exist_ok=True)
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)

    nproc = os.cpu_count() or 1
    xmx = os.environ.get("GRAFT_XMX", "4g")
    cp = os.pathsep.join([classes, os.path.join(ROOT, "src", "main", "resources"),
                          os.path.join(build.spark_jars(), "*")])
    cmd = (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
           + [f"-Xmx{xmx}", "-XX:G1HeapRegionSize=16m", "-XX:-UsePerfData",
              f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
              "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
              "-cp", cp, "graftbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--out", os.path.join(bdir, "traces"), "--work", work])
    # only the JVM's environment is touched: generic memory variables are
    # never honoured, the heap comes from GRAFT_XMX alone
    env = {k: v for k, v in os.environ.items()
           if k not in ("SPARK_DRIVER_MEM", "SPARK_DRIVER_MEMORY", "_JAVA_OPTIONS",
                        "JAVA_TOOL_OPTIONS", "SPARK_LOCAL_DIRS")}
    load_start = loadavg()
    cpu_start = cpu_times()
    log_path = os.path.join(bdir, "logs", f"{tag}.log")
    t0 = time.time()
    # a SIGTERM unwinds through the handler below, which stops the JVM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log, env=env,
                                cwd=work, text=True, start_new_session=True)
        try:
            out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            shutil.rmtree(work, ignore_errors=True)
            fail(f"timed out after {JVM_TIMEOUT_S} s (log: {log_path})")
        except BaseException:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            raise
    shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in out.splitlines() if l.startswith("RESULT ")]
    if proc.returncode != 0 or not lines:
        fail(f"JVM exited with {proc.returncode} and no result (log: {log_path})")
    res = json.loads(lines[-1][len("RESULT "):])
    env_rec = res.pop("env")
    load1 = float(load_start.split()[0]) if load_start else 0.0
    env_rec.update(loadavg_start=load_start, loadavg_end=loadavg(),
                   steal_pct=steal_pct(cpu_start, cpu_times()),
                   contended=load1 > nproc, wall_s=round(time.time() - t0, 3),
                   workload=args.workload, seed=args.seed, seconds=args.seconds,
                   trace=args.trace, graft_xmx=xmx)
    if env_rec["contended"]:
        print(f"perfbench: 1-min load {load1} > nproc {nproc} at start; "
              "timings may reflect host contention", file=sys.stderr)
    missing = [n for n in names if n not in res["metrics"]]
    if missing:
        fail(f"metrics missing from the result: {missing}")
    with open(os.path.join(bdir, "results", f"{tag}.json"), "w") as f:
        json.dump(dict(res, env=env_rec), f, indent=1)
    res["metrics"] = {n: res["metrics"][n] for n in names}
    print(json.dumps({"env": env_rec}))
    print(json.dumps({k: res[k] for k in ("correct", "attempted", "failed", "metrics")}))


if __name__ == "__main__":
    main()
