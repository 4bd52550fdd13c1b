#!/usr/bin/env python3
"""graft benchmark: one closed-loop workload per run.

Usage, from the repository root:
    python3 perfbench/run.py --workload gm_query_publish --seed 1 --seconds 10 --trace 0

Builds the engine and the harness from source when they are missing or
stale (sbt, offline), then runs the harness JVM at local[3] on the
bundled sf0.01 tables. The last stdout line is the result JSON; the line
before it carries the run's detail (commit, JVM, members, per-query
medians, failures). `--trace 1` reports the per-layer metrics instead of
the end-to-end ones and writes the span file under .bench_build/spans/.

Maintenance: `--pin FILE` recomputes the expected digests of every
workload member (check them against the DuckDB oracle first, see
perfbench/README.md); `--expected FILE` runs against another expected file.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

BENCH = "perfbench"
CORES = 3
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850
HEAP = "3g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp(root):
    """Digest of everything the build reads from the checkout."""
    h = hashlib.sha256()
    for top in ("build.sbt", "project", "src/main", BENCH):
        base = os.path.join(root, top)
        paths = [base] if os.path.isfile(base) else sorted(
            os.path.join(d, f) for d, dirs, files in os.walk(base)
            if "target" not in os.path.relpath(d, root).split(os.sep)
            for f in files
            if f.endswith((".scala", ".sbt", ".properties")))
        for p in paths:
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def sbt_env(out):
    """Offline sbt whose scratch files (temp dir, ivy home, locks) stay
    under the build directory."""
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    opts = env.get("SBT_OPTS") or "-Dsbt.offline=true -Xmx2g"
    repos = os.path.expanduser("~/.sbt/repositories")
    if "sbt.repository.config" not in opts and os.path.exists(repos):
        opts += f" -Dsbt.override.build.repos=true -Dsbt.repository.config={repos}"
    tmp = os.path.join(out, "sbt-tmp")
    os.makedirs(tmp, exist_ok=True)
    env["SBT_OPTS"] = (f"{opts} -Dsbt.server.autostart=false -Dsbt.boot.lock=false"
                       f" -Djava.io.tmpdir={tmp} -Djna.tmpdir={tmp}"
                       f" -Dsbt.ivy.home={os.path.join(out, 'ivy2')}")
    return env


def run_group(cmd, timeout, **kw):
    """Runs cmd in its own process group; on timeout the whole group is
    killed and reaped. Returns (returncode, stdout) or None on timeout."""
    proc = subprocess.Popen(cmd, start_new_session=True, stdin=subprocess.DEVNULL, **kw)
    try:
        stdout, _ = proc.communicate(timeout=timeout)
        return proc.returncode, stdout
    except subprocess.TimeoutExpired:
        return None
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()


def build(root, out):
    """Compile engine + harness; returns the runtime classpath."""
    stamp = source_stamp(root)
    cp_file = os.path.join(out, "classpath.txt")
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            saved_stamp, cp = f.read().split("\n", 1)
        if saved_stamp == stamp:
            return cp.strip(), stamp
    log = os.path.join(out, "build.log")
    with open(log, "w") as lf:
        done = run_group(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
            BUILD_TIMEOUT_S, cwd=os.path.join(root, BENCH), env=sbt_env(out), stdout=lf,
            stderr=subprocess.STDOUT)
    with open(log) as lf:
        lines = lf.read().splitlines()
    cps = [l for l in lines if ".jar" in l and os.pathsep in l and not l.startswith("[")]
    if done is None or done[0] != 0 or not cps:
        sys.stderr.write("\n".join(lines[-30:]) + "\n")
        fail("build failed", 3)
    with open(cp_file, "w") as f:
        f.write(stamp + "\n" + cps[-1])
    return cps[-1], stamp


def commit_of(root, stamp):
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=root, capture_output=True,
                             text=True, timeout=10)
        if out.returncode == 0 and out.stdout.strip():
            return out.stdout.strip()
    except (OSError, subprocess.SubprocessError):
        pass
    return f"unknown (source sha256 {stamp[:16]})"


def declared_metrics(root, trace):
    """Metric names BENCHMARK.json declares for this mode, if present."""
    path = os.path.join(root, "BENCHMARK.json")
    if not os.path.exists(path):
        return None
    with open(path) as f:
        spec = json.load(f)
    return {m["name"] for m in spec["per_layer" if trace else "end_to_end"]}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--expected", default=None)
    ap.add_argument("--pin", default=None)
    args = ap.parse_args()
    # a terminated run still kills and reaps its build or harness group
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    root = os.getcwd()
    if not (os.path.isfile(os.path.join(root, "build.sbt"))
            and os.path.isdir(os.path.join(root, "src", "main", "scala", "graft"))):
        fail("no graft sources here: run from the root of a graft checkout")
    nproc = len(os.sched_getaffinity(0))
    if CORES > nproc:
        fail(f"refusing to run: local[{CORES}] needs {CORES} cores, nproc is {nproc}")
    if shutil.which("java") is None or shutil.which("sbt") is None:
        fail("java and sbt must be on PATH")

    out = os.path.join(root, ".bench_build")
    os.makedirs(out, exist_ok=True)
    cp, stamp = build(root, out)

    work = os.path.join(out, f"work-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(CORES), SPARK_LOCAL_DIRS=os.path.join(work, "local"))
    spans = os.path.join(out, "spans", f"{args.workload}-seed{args.seed}.json")
    cmd = (["java", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--data", os.path.join(root, BENCH, "data", "sf0.01"), "--work", work,
              "--expected", args.expected or os.path.join(root, BENCH, "expected.json"),
              "--spans", spans, "--commit", commit_of(root, stamp)]
           + (["--pin", args.pin] if args.pin else []))
    log = os.path.join(out, "last_run.log")
    try:
        with open(log, "w") as lf:
            done = run_group(cmd, BUILD_TIMEOUT_S if args.pin else JVM_TIMEOUT_S, cwd=root,
                             env=env, stdout=subprocess.PIPE, stderr=lf, text=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if done is None:
        fail(f"harness timed out (log: {log})", 4)
    code, stdout = done
    if args.pin:
        if code != 0:
            fail(f"pin failed (log: {log})", code)
        return
    lines = {l.split(" ", 1)[0]: l.split(" ", 1)[1] for l in stdout.splitlines()
             if l.startswith("PERFBENCH_")}
    if code != 0 or "PERFBENCH_RESULT" not in lines:
        with open(log) as lf:
            sys.stderr.write("".join(lf.readlines()[-40:]))
        fail(f"harness exited with {code} (log: {log})", code or 5)
    result = json.loads(lines["PERFBENCH_RESULT"])
    declared = declared_metrics(root, args.trace)
    if declared is not None and set(result["metrics"]) != declared:
        fail(f"metrics differ from BENCHMARK.json: {sorted(set(result['metrics']) ^ declared)}", 6)
    print(lines.get("PERFBENCH_DETAIL", "{}"))
    print(json.dumps(result))


if __name__ == "__main__":
    main()
