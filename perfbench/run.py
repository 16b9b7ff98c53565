#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload query_mix --seed 1 --seconds 5 --trace 0

Run from the root of the repository (or any copy of it). The first run
builds graft's main sources together with the benchmark's code
(perfbench/build.sbt) and caches the classpath; later runs start the JVM
directly. Each run uses a fresh JVM and a fresh work directory under
.perfbench_work/, removed at the end; trace files and full result records
go to .perfbench_out/.

Stdout: an ENV line (the environment record), a DETAILS line (per-op
percentiles with sample counts, error rate, workload facts), and as the
last line one JSON object {"correct", "attempted", "failed", "metrics"}.
With --trace 0 the metrics are the end-to-end ones, with --trace 1 the
per-layer ones. The exit code is 0 only when every output check passed.
"""
import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("ga_daily", "ga_sessionize", "query_mix", "lake_churn", "llm_ops")
# a run, build aside, must end within 180 s; the rest is start and clean-up
JVM_TIMEOUT_S = 170
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_stamp():
    """Hash of every input of the build, so an edited tree rebuilds."""
    h = hashlib.sha1()
    files = sorted(glob.glob(os.path.join(ROOT, "src", "main", "**", "*"), recursive=True) +
                   glob.glob(os.path.join(HERE, "src", "**", "*"), recursive=True) +
                   [os.path.join(HERE, "build.sbt")])
    for f in files:
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def spark_jars():
    """The Spark jars graft compiles and runs against: $SPARK_HOME/jars,
    else the directory the root build names as its unmanagedBase."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    with open(os.path.join(ROOT, "build.sbt")) as fh:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
    if not m:
        raise SystemExit("[perfbench] Spark not found: set SPARK_HOME")
    return m.group(1)


def build():
    """Compile with sbt (offline) unless the cached classpath is current."""
    cp_file = os.path.join(HERE, "target", "perfbench-classpath.txt")
    stamp = source_stamp()
    if os.path.exists(cp_file):
        with open(cp_file) as fh:
            cached_stamp, cp = fh.read().split("\n", 1)
        if cached_stamp == stamp:
            return cp.strip()
    log("building graft + benchmark with sbt")
    env = dict(os.environ, COURSIER_MODE="offline", PERFBENCH_SPARK_JARS=spark_jars())
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"], cwd=HERE, env=env,
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    sys.stderr.write(p.stdout[-4000:])
    if p.returncode != 0:
        raise SystemExit(f"[perfbench] build failed (exit {p.returncode})")
    lines = [l for l in p.stdout.splitlines()
             if "scala-2.13/classes" in l and not l.startswith("[")]
    if not lines:
        raise SystemExit("[perfbench] build printed no classpath")
    cp = lines[-1].strip()
    os.makedirs(os.path.dirname(cp_file), exist_ok=True)
    with open(cp_file, "w") as fh:
        fh.write(stamp + "\n" + cp)
    return cp


def benchmark_metrics(trace):
    """The metrics BENCHMARK.json lists for this mode, or None."""
    path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(path):
        return None
    with open(path) as fh:
        spec = json.load(fh)
    return spec["per_layer" if trace else "end_to_end"]


def run_jvm(cp, args, work, out, budget):
    cmd = (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")] +
           ["-Xms2g", "-Xmx2g", "-XX:+UseParallelGC", f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            f"-Dperfbench.home={HERE}", "-cp", cp, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work", work, "--out", out, "--smoke", "1" if args.smoke else "0"])
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    p = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, text=True)
    try:
        stdout, _ = p.communicate(timeout=budget)
    except subprocess.TimeoutExpired:
        raise SystemExit(f"[perfbench] workload did not finish within {budget:.0f} s")
    finally:
        # never leave the JVM behind: timeout, SIGTERM or any error
        if p.poll() is None:
            p.kill()
            p.wait()
    if p.returncode != 0:
        raise SystemExit(f"[perfbench] JVM exited with {p.returncode}")
    for line in stdout.splitlines():
        if line.startswith("PERFBENCH_RESULT "):
            return json.loads(line[len("PERFBENCH_RESULT "):])
    raise SystemExit("[perfbench] JVM printed no result")


def main():
    signal.signal(signal.SIGTERM, lambda *_: sys.exit("[perfbench] terminated"))
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="smallest inputs, for the benchmark's own tests")
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        raise SystemExit(f"[perfbench] no graft sources under {ROOT}/src; "
                         "run from a full checkout of the repository")
    load_before = os.getloadavg()[0]
    cp = build()
    t0 = time.time()
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    out = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out, exist_ok=True)
    try:
        res = run_jvm(cp, args, work, out, JVM_TIMEOUT_S)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    env = {"nproc": os.cpu_count(), "load_avg_1m_before": load_before,
           "load_avg_1m_after": os.getloadavg()[0], "wall_s": time.time() - t0,
           "jvm_before": res["env_before"], "jvm_after": res["env_after"]}
    record = dict(res, env=env, workload=args.workload, seed=args.seed, trace=args.trace)
    with open(os.path.join(out, f"result-{args.workload}-{args.seed}-t{args.trace}.json"), "w") as fh:
        json.dump(record, fh, indent=1, sort_keys=True)
    # the last line carries exactly the metrics BENCHMARK.json lists for
    # this mode; anything else the run measured goes to DETAILS
    metrics = res["metrics"]
    listed = benchmark_metrics(args.trace)
    if listed is not None:
        missing = [m["name"] for m in listed if m["name"] not in metrics]
        if missing and not args.trace:
            raise SystemExit(f"[perfbench] run did not measure {missing}")
        # a layer this workload never calls did no work: it reads 0
        for m in listed:
            metrics.setdefault(m["name"], {"value": 0.0, "unit": m["unit"]})
        names = {m["name"] for m in listed}
        res["details"]["unlisted_metrics"] = {k: v for k, v in metrics.items() if k not in names}
        metrics = {k: v for k, v in metrics.items() if k in names}
    print("ENV " + json.dumps(env, sort_keys=True))
    print("DETAILS " + json.dumps(res["details"], sort_keys=True))
    print(json.dumps({"correct": res["correct"], "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}, sort_keys=True))
    sys.exit(0 if res["correct"] else 1)


if __name__ == "__main__":
    main()
