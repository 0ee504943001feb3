#!/usr/bin/env python3
"""Crawl benchmark of the graft Spark engine.

Usage (from the repository root):

    python3 perfbench/run.py --workload wide-frontier --seed 1 --seconds 45 --trace 0

Builds the engine and the benchmark harness from source with the Scala
compiler that ships in Spark's jars (once per source state, cached under
.bench_build/), runs one workload in a fresh JVM at local[N] with
N = nproc, checks its outputs against the serial reference crawl, and
prints as its last line one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

--trace 0 reports the end-to-end metrics of BENCHMARK.json, --trace 1 the
per-layer ones; a traced run also times the report calls, the seen and
store layers and one group of SparkEntry queries. See
perfbench/README.md for what each metric means.
"""
import argparse
import fcntl
import glob
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
# a run must end within 180 s (plus the build, if it had to build); the
# JVM gets what is left of this
RUN_LIMIT_S = 170
# the traced run of each workload also runs one group of SparkEntry
# queries: the operator queries, or the crawl_* queries (which share
# SparkEntry's own memoized 40-doc crawl)
QUERY_GROUP = {"wide-frontier": "ops", "deep-rounds": "crawl"}
# setup_s is the median of this many cold set-ups, each in a JVM of its
# own: the crawling JVM's, then set-up-only JVMs after it has ended
COLD_SETUPS = 3
# /dev/shm dirs that SparkEntry.shmTempDir creates and never deletes
SHM_PREFIXES = ("entry-crawl", "st-dedup-ckpt", "st-throttle-ckpt")
JDK_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    """$SPARK_HOME/jars: the Spark distribution the engine builds
    against, which also ships the Scala compiler."""
    jars = os.path.join(os.environ.get("SPARK_HOME", ""), "jars")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        die("SPARK_HOME must name a Spark distribution (its jars include the Scala compiler)")
    return jars


def build(jars):
    """Compiles src/main/scala and perfbench/src into one class dir."""
    engine = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))
    if not engine:
        die("no engine sources under src/main/scala")
    sources = engine + sorted(glob.glob(os.path.join(HERE, "src/**/*.scala"), recursive=True))
    h = hashlib.sha256()
    for p in sources + sorted(os.listdir(jars)):
        h.update(p.encode())
        if p.endswith(".scala"):
            with open(p, "rb") as f:
                h.update(f.read())
    out = os.path.join(BUILD, "classes-" + h.hexdigest()[:16])
    os.makedirs(BUILD, exist_ok=True)
    with open(os.path.join(BUILD, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if os.path.isfile(os.path.join(out, ".ok")):
            return out, False
        for old in glob.glob(os.path.join(BUILD, "classes-*")):
            shutil.rmtree(old, ignore_errors=True)
        tmp = out + ".tmp"
        os.makedirs(tmp)
        argfile = os.path.join(BUILD, "sources.txt")
        with open(argfile, "w") as f:
            f.write("\n".join(sources) + "\n")
        cp = os.path.join(jars, "*")
        r = subprocess.run(["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
                            "-nowarn", "-d", tmp, "-classpath", cp, "@" + argfile],
                           stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
        if r.returncode != 0:
            shutil.rmtree(tmp, ignore_errors=True)
            sys.stderr.write(r.stdout[-4000:])
            die("build failed")
        open(os.path.join(tmp, ".ok"), "w").close()
        os.rename(tmp, out)
        return out, True


def pid_alive(pid):
    try:
        os.kill(pid, 0)
        return True
    except ProcessLookupError:
        return False
    except PermissionError:
        return True


def sweep_dead_runs():
    """Removes work dirs of benchmark runs whose process is gone."""
    for d in glob.glob(os.path.join(BUILD, "work", "run-*")):
        pid = d.rsplit("-", 1)[-1]
        if pid.isdigit() and not pid_alive(int(pid)):
            shutil.rmtree(d, ignore_errors=True)


def shm_dirs():
    try:
        return {n for n in os.listdir("/dev/shm") if n.startswith(SHM_PREFIXES)}
    except OSError:
        return set()


def cpu_times():
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def host_pct(a, b):
    d = [y - x for x, y in zip(a, b)]
    tot = sum(d) or 1
    steal = d[7] if len(d) > 7 else 0
    return 100.0 * steal / tot, 100.0 * (d[3] + d[4]) / tot


def run_jvm(classes, jars, args, work, deadline, setup_only=False):
    """One fresh JVM; returns its parsed result (None on failure) and its
    cold set-up time: from process launch until the JVM reported its
    session and world ready."""
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    out = os.path.join(work, "result.json")
    if os.path.exists(out):
        os.remove(out)
    cores = len(os.sched_getaffinity(0))
    cmd = ["java", "-Xmx3g", "-Xss8m", f"-Djava.io.tmpdir={work}/tmp"]
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-cp", classes + os.pathsep + os.path.join(jars, "*"), "graftbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--trace", "1" if args.trace else "0", "--out", out, "--work", work,
            "--cores", str(cores),
            "--queries", QUERY_GROUP[args.workload] if args.trace else "none",
            "--query-data", os.path.join(HERE, "data", "sf0.001"),
            "--query-ref", os.path.join(HERE, "ref", "queries.json"),
            "--setup-only", "1" if setup_only else "0"]
    with open(os.path.join(work, "jvm.log"), "w") as log:
        launch = time.time()
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=work,
                             start_new_session=True)
        try:
            p.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            print("perfbench: run exceeded its time limit", file=sys.stderr)
        finally:
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()
    if p.returncode != 0 or not os.path.isfile(out):
        with open(os.path.join(work, "jvm.log")) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        return None, None
    with open(out) as f:
        res = json.load(f)
    return res, res["ready_ms"] / 1e3 - launch


def overhead_pct(hist_path, m):
    """Traced crawl time against the median untraced crawl time of this
    workload in this checkout; with no untraced run recorded yet, the
    listeners' own callback time as a share of the crawl."""
    try:
        with open(hist_path) as f:
            return 100.0 * (m["crawl_s"] / statistics.median(json.load(f)) - 1.0)
    except (OSError, ValueError, statistics.StatisticsError):
        return 100.0 * m["trace.listener_s"] / m["crawl_s"]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=40,
                    help="expected length of the measured part (the work is fixed)")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # a terminated runner still stops its JVM and removes its work dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(1))
    start = time.time()

    try:
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            spec = json.load(f)
    except (OSError, ValueError) as e:
        die(f"cannot read BENCHMARK.json: {e}")
    if args.workload not in [w["name"] for w in spec["workloads"]]:
        die(f"unknown workload {args.workload}")
    jars = spark_jars()
    classes, built = build(jars)
    # a run that had to build may take longer than one that did not
    deadline = (time.time() if built else start) + RUN_LIMIT_S

    sweep_dead_runs()
    work = os.path.join(BUILD, "work", f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    hist_path = os.path.join(BUILD, "history", f"{args.workload}.json")
    shm0 = shm_dirs()
    try:
        stat0 = cpu_times()
        res, setup_s = run_jvm(classes, jars, args, work, deadline)
        steal, idle = host_pct(stat0, cpu_times())
        setups = [setup_s]
        for i in range(1, COLD_SETUPS if res is not None and not args.trace else 1):
            setups.append(run_jvm(classes, jars, args, os.path.join(work, f"setup-{i}"),
                                  deadline, setup_only=True)[1])
    finally:
        shutil.rmtree(work, ignore_errors=True)
        for n in shm_dirs() - shm0:
            shutil.rmtree(os.path.join("/dev/shm", n), ignore_errors=True)
    if res is None or None in setups:
        sys.exit(1)

    m = res["metrics"]
    m["setup_s"] = statistics.median(setups)
    m["host.steal_pct"], m["host.idle_pct"] = steal, idle
    measured = res["walls"]["crawl"] + res["walls"]["check"]
    if measured > 2 * args.seconds:
        print(f"perfbench: the measured part took {measured:.0f} s, over twice --seconds",
              file=sys.stderr)
    if args.trace:
        m["trace.overhead_pct"] = overhead_pct(hist_path, m)
        trace_dir = os.path.join(BUILD, "traces")
        os.makedirs(trace_dir, exist_ok=True)
        with open(os.path.join(trace_dir, f"{args.workload}-{args.seed}.json"), "w") as f:
            json.dump(res, f, indent=1)
        wanted = [(x["name"], x["unit"]) for x in spec["per_layer"]]
    else:
        os.makedirs(os.path.dirname(hist_path), exist_ok=True)
        try:
            with open(hist_path) as f:
                hist = json.load(f)
        except (OSError, ValueError):
            hist = []
        with open(hist_path, "w") as f:
            json.dump((hist + [m["crawl_s"]])[-20:], f)
        wanted = [(x["name"], x["unit"]) for x in spec["end_to_end"]]

    attempted, failed = res["attempted"], res["failed"]
    bad = sorted(k for k, ok in res["checks"].items() if not ok)
    print(f"perfbench {args.workload} seed={args.seed} trace={args.trace}: "
          f"fetched={res['fetched']} commits={res['rounds']} "
          f"urls_per_s={m['frontier.urls_per_s']:.2f} wall={time.time() - start:.1f}s "
          f"steal={steal:.1f}% idle={idle:.1f}%")
    print("  round times from bootstrap (s): " + " ".join(f"{x:.2f}" for x in res["round_s"]))
    print("  live heap at each commit (MB): " + " ".join(f"{x:.1f}" for x in res["heap_mb"]))
    print(f"  fail_frac = {failed}/{attempted} = {failed / attempted:.4f}"
          + (f"  failed: {', '.join(bad)}" if bad else ""))
    for name, unit in wanted:
        print(f"  {name:40s} {m.get(name, 0.0):14.4f} {unit}")
    out = {"correct": failed == 0, "attempted": attempted, "failed": failed,
           "metrics": {n: {"value": m.get(n, 0.0), "unit": u} for n, u in wanted}}
    print(json.dumps(out))


if __name__ == "__main__":
    main()
