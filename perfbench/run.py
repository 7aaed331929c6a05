#!/usr/bin/env python3
"""graft benchmark entry point.

Run from the root of a graft checkout:

    python3 perfbench/run.py --workload serve_bulk --seed 1 --seconds 25 --trace 0

The first call builds the main project (`sbt compile` plus its resources, at
the root) and the benchmark's own sbt project in `perfbench/`, compiled
against the main project's classes; later calls reuse that build until a
source file changes.
Everything the benchmark writes (build stamp, runtime classpath, scratch
tables, traces, per-run records) stays under `.perfbench/` in the checkout.

The last line of standard output is one JSON object with the keys
`correct`, `attempted`, `failed` and `metrics`. Any failure exits non-zero
without printing that line.
"""
import argparse
import fcntl
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

ROOT = os.getcwd()
BENCH = os.path.join(ROOT, "perfbench")
STATE = os.path.join(ROOT, ".perfbench")
BUILD_TIMEOUT_S = 700
RUN_TIMEOUT_S = 170

JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


# processes started and scratch directories made; a SIGTERM or SIGINT
# kills the processes and removes the directories
CHILDREN = []
SCRATCH = []


def stop(signum, _frame):
    for p in CHILDREN:
        kill_group(p)
    for d in SCRATCH:
        shutil.rmtree(d, ignore_errors=True)
    sys.exit(128 + signum)


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_files():
    """Every file whose change must trigger a rebuild."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src")]
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(BENCH, "build.sbt")]
    for d in (os.path.join(ROOT, "project"), os.path.join(BENCH, "project")):
        if os.path.isdir(d):
            files += [os.path.join(d, f) for f in sorted(os.listdir(d))
                      if f.endswith((".sbt", ".properties", ".scala"))]
    for r in roots:
        for dirpath, dirnames, filenames in os.walk(r):
            dirnames.sort()
            files += [os.path.join(dirpath, f) for f in sorted(filenames)]
    return [f for f in files if os.path.isfile(f)]


def source_hash():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return home
    submit = shutil.which("spark-submit")
    if submit:
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
        if os.path.isdir(os.path.join(home, "jars")):
            return home
    return None


def sbt_env():
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.isfile(repos):
            opts = ["-Dsbt.override.build.repos=true",
                    f"-Dsbt.repository.config={repos}"] + opts
        env["SBT_OPTS"] = " ".join(opts)
    env["SPARK_HOME"] = spark_home() or ""
    return env


def run_sbt(cwd, tasks, deadline):
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true"] + tasks
    log(f"building in {os.path.relpath(cwd, ROOT) or '.'}: {' '.join(tasks)}")
    out = run_bounded(cmd, cwd, sbt_env(), deadline - time.time())
    if out is None:
        return None
    code, stdout = out
    if code != 0:
        sys.stderr.write(stdout[-6000:])
        log(f"build failed in {cwd} (exit {code})")
        return None
    return stdout


def run_bounded(cmd, cwd, env, timeout):
    """Runs `cmd` in its own process group; kills the group on timeout.
    Returns (exit code, stdout) or None on timeout."""
    proc = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=subprocess.PIPE,
                            stderr=subprocess.STDOUT, text=True,
                            start_new_session=True)
    CHILDREN.append(proc)
    try:
        stdout, _ = proc.communicate(timeout=max(1, timeout))
        return proc.returncode, stdout
    except subprocess.TimeoutExpired:
        kill_group(proc)
        log(f"timed out: {' '.join(cmd[:4])}")
        return None


def kill_group(proc):
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    proc.wait()


def ensure_built():
    """Returns the runtime classpath, building first when sources changed."""
    os.makedirs(STATE, exist_ok=True)
    stamp_file = os.path.join(STATE, "build.stamp")
    cp_file = os.path.join(STATE, "classpath.txt")
    with open(os.path.join(STATE, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        want = source_hash()
        if (os.path.isfile(stamp_file) and os.path.isfile(cp_file)
                and open(stamp_file).read().strip() == want):
            return open(cp_file).read().strip()
        deadline = time.time() + BUILD_TIMEOUT_S
        # resources too: graft registers its data source through
        # META-INF/services, which `compile` alone does not copy
        if run_sbt(ROOT, ["compile", "Compile/copyResources"], deadline) is None:
            return None
        out = run_sbt(BENCH, ["compile", "export Runtime/fullClasspath"], deadline)
        if out is None:
            return None
        lines = [l.strip() for l in out.splitlines()
                 if ".jar" in l and os.pathsep in l and not l.startswith("[")]
        if not lines:
            log("could not read the runtime classpath from sbt")
            return None
        with open(cp_file, "w") as f:
            f.write(lines[-1])
        with open(stamp_file, "w") as f:
            f.write(want)
        return lines[-1]


def pick_metrics(measured, trace):
    """The metrics BENCHMARK.json names for the mode, in its order, each
    with the unit it gives; None (after a message) when one is missing."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)["per_layer" if trace else "end_to_end"]
    out = {}
    for m in spec:
        got = measured.get(m["name"])
        if got is None or got.get("unit") != m["unit"]:
            log(f"metric {m['name']} ({m['unit']}) missing or in another unit: {got}")
            return None
        out[m["name"]] = got
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="data-size multiplier (the self-test uses 0.01)")
    ap.add_argument("--inject-wrong", type=int, default=0,
                    help="corrupt the oracle of every N-th op (checker self-test)")
    ap.add_argument("--record", default=os.path.join(STATE, "results", "runs.jsonl"),
                    help="JSONL file the run's full record is appended to")
    args = ap.parse_args()
    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        log("no graft sources here: run from the root of a graft checkout")
        return 2
    if spark_home() is None:
        log("no Spark installation found (set SPARK_HOME)")
        return 2

    cp = ensure_built()
    if cp is None:
        return 1

    work = os.path.join(STATE, "work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    SCRATCH.append(work)
    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(os.path.dirname(os.path.abspath(args.record)), exist_ok=True)
    record_tmp = os.path.join(work, "record.json")
    cmd = (["java", "-Xmx3g", "-XX:ReservedCodeCacheSize=512m",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [x for p in JDK17_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--scale", str(args.scale), "--inject-wrong", str(args.inject_wrong),
              "--work", work, "--record", record_tmp,
              "--traces", os.path.join(STATE, "traces")])
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True,
                            start_new_session=True)
    CHILDREN.append(proc)
    try:
        stdout, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        kill_group(proc)
        log(f"run exceeded {RUN_TIMEOUT_S} s")
        shutil.rmtree(work, ignore_errors=True)
        return 1
    lines = stdout.rstrip("\n").splitlines()
    result = None
    if proc.returncode == 0 and lines:
        try:
            result = json.loads(lines[-1])
        except ValueError:
            result = None
    if result is None or set(result) != {"correct", "attempted", "failed", "metrics"}:
        sys.stdout.write("\n".join(lines[:-1] if lines else []) + "\n")
        log(f"benchmark process failed (exit {proc.returncode})")
        shutil.rmtree(work, ignore_errors=True)
        return 1
    metrics = pick_metrics(result["metrics"], args.trace)
    if metrics is None:
        shutil.rmtree(work, ignore_errors=True)
        return 1
    result["metrics"] = metrics
    if os.path.isfile(record_tmp):
        with open(record_tmp) as src, open(args.record, "a") as dst:
            dst.write(src.read().strip() + "\n")
    shutil.rmtree(work, ignore_errors=True)
    sys.stdout.write("\n".join(lines[:-1] + [json.dumps(result)]) + "\n")
    sys.stdout.flush()
    return 0


if __name__ == "__main__":
    sys.exit(main())
