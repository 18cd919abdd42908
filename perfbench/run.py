#!/usr/bin/env python3
"""Run one benchmark workload against the graft engine in this checkout.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the engine and the harness with sbt on first use (the classpath is
cached under perfbench/.build, keyed by a hash of the sources), then runs
perfbench.Main in one JVM at local[nproc]. Everything the run writes lives
in a per-run directory under perfbench/.runs, removed afterwards even when
the JVM dies. The last line of stdout is the result JSON; the line before
it is a report with the named metrics and their sample counts.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DATA = os.path.join(HERE, "data", "sf0.01")
EXPECTED = os.path.join(HERE, "expected", "sf0.01.json")
WORKLOADS = ("pipeline_incremental", "stream_microbatch", "catalog_mix")
# settings that change what the engine does, not where it runs
KNOBS = ("SPARK_GRAFT_STATE_PROVIDER", "SPARK_GRAFT_COLD", "SPARK_GRAFT_ONLY")
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources():
    """Every file whose change needs a rebuild."""
    pats = ["build.sbt", "project/*.properties", "project/*.sbt", "src/main/**/*",
            "perfbench/build.sbt", "perfbench/project/*.properties", "perfbench/src/**/*"]
    files = set()
    for p in pats:
        files.update(f for f in glob.glob(os.path.join(ROOT, p), recursive=True)
                     if os.path.isfile(f))
    return sorted(files)


def classpath():
    files = sources()
    digest = hashlib.sha256()
    for f in files:
        digest.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            digest.update(hashlib.sha256(fh.read()).digest())
    stamp = os.path.join(HERE, ".build", f"classpath-{digest.hexdigest()[:16]}.txt")
    if os.path.exists(stamp):
        with open(stamp) as fh:
            return fh.read().strip()
    if shutil.which("sbt") is None:
        fail("sbt not found")
    env = dict(os.environ, COURSIER_MODE="offline", JAVA_TOOL_OPTIONS="-XX:-UsePerfData")
    tmp = os.path.join(HERE, ".build", "tmp")
    os.makedirs(tmp, exist_ok=True)
    # keep sbt's scratch and JVM perf data inside the checkout
    opts = ["-Dsbt.offline=true", "-Xmx2g", f"-Djava.io.tmpdir={tmp}", "-XX:-UsePerfData"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    print("perfbench: building engine and harness", file=sys.stderr)
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        stdin=subprocess.DEVNULL, text=True, timeout=BUILD_TIMEOUT_S)
    lines = [l for l in proc.stdout.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines or ":" not in lines[-1]:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail("build failed")
    cp = lines[-1].strip()
    os.makedirs(os.path.dirname(stamp), exist_ok=True)
    for old in glob.glob(os.path.join(HERE, ".build", "classpath-*.txt")):
        os.remove(old)
    shutil.rmtree(tmp, ignore_errors=True)
    with open(stamp, "w") as fh:
        fh.write(cp)
    return cp


def harness(cp, run_dir, args):
    """Command and environment of the harness JVM: the engine's module opens
    and heap, every scratch directory inside run_dir."""
    cmd = (["java"] + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-Xms2g", "-Xmx2g", "-XX:-UsePerfData", "-Dspark.ui.enabled=false",
              "-Dspark.sql.session.timeZone=UTC",
              f"-Djava.io.tmpdir={os.path.join(run_dir, 'jtmp')}",
              "-cp", cp, "perfbench.Main", "--data", DATA, "--expected", EXPECTED] + args)
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
    env.update(SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
               SPARK_GRAFT_TMP=os.path.join(run_dir, "graft_tmp"),
               SPARK_LOCAL_DIRS=os.path.join(run_dir, "local"))
    for d in ("jtmp", "graft_tmp"):
        os.makedirs(os.path.join(run_dir, d), exist_ok=True)
    return cmd, env


def check_data(manifest):
    for name, want in manifest.items():
        with open(os.path.join(DATA, name), "rb") as fh:
            if hashlib.sha256(fh.read()).hexdigest() != want:
                fail(f"dataset file {name} does not match expected/sf0.01.json")


def stale_runs(runs):
    """Remove run directories whose process is gone (a killed runner)."""
    for d in glob.glob(os.path.join(runs, "*")):
        try:
            os.kill(int(d.rsplit("-", 1)[1]), 0)
        except (ValueError, IndexError, ProcessLookupError):
            shutil.rmtree(d, ignore_errors=True)
        except PermissionError:
            pass


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    knobs = [k for k in KNOBS if k in os.environ]
    if knobs:
        fail(f"refusing to run with behaviour-changing settings: {', '.join(knobs)}")
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail(f"no graft sources next to {HERE}")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    with open(EXPECTED) as fh:
        check_data(json.load(fh)["dataset_sha256"])
    cp = classpath()

    runs = os.path.join(HERE, ".runs")
    stale_runs(runs)
    run_dir = os.path.join(runs, f"{args.workload}-{args.seed}-{os.getpid()}")
    results = os.path.join(HERE, "results")
    os.makedirs(results, exist_ok=True)
    out = os.path.join(run_dir, "result.json")
    log_path = os.path.join(results, f"{args.workload}.log")
    hargs = ["--workload", args.workload, "--seed", str(args.seed),
             "--seconds", str(args.seconds), "--trace", str(args.trace), "--out", out]
    if args.trace:
        hargs += ["--spans", os.path.join(results, f"spans_{args.workload}_seed{args.seed}.json")]
    cmd, env = harness(cp, run_dir, hargs)
    # a terminated runner still stops its JVM and removes the run directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    proc = None
    try:
        with open(log_path, "w") as log:
            proc = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=log, stderr=log,
                                    stdin=subprocess.DEVNULL, start_new_session=True)
            try:
                rc = proc.wait(timeout=JVM_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                fail(f"run exceeded {JVM_TIMEOUT_S} s; log in {log_path}")
        if rc != 0 or not os.path.exists(out):
            with open(log_path) as fh:
                tail = [l for l in fh.read().splitlines() if "[perfbench]" in l or "Exception" in l]
            sys.stderr.write("\n".join(tail[-20:]) + "\n")
            fail(f"harness exited with {rc}; log in {log_path}")
        with open(out) as fh:
            res = json.load(fh)
    finally:
        if proc is not None and proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(run_dir, ignore_errors=True)

    section = "per_layer" if args.trace else "end_to_end"
    source = res["layer"] if args.trace else res["e2e"]
    metrics = {}
    for m in spec[section]:
        if m["name"] not in source:
            fail(f"harness did not report {m['name']}")
        metrics[m["name"]] = {"value": source[m["name"]], "unit": m["unit"]}
    print(json.dumps({"report": res["report"]}))
    print(json.dumps({"correct": res["failed"] == 0, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
