#!/usr/bin/env python3
"""graft benchmark runner: build once, run one workload, print one JSON line.

    python3 perfbench/run.py --workload upsert_cdc --seed 1 --seconds 10 --trace 0

Run from the root of a graft checkout. The first run compiles graft and the
benchmark with sbt into .bench_build/ (later runs reuse the build while the
sources are unchanged). Each run gets its own scratch root under
.bench_build/runs/, removed at exit, and leaves its full result (metrics,
sample counts, per-span detail, provenance) under .bench_build/results/.
The last line of standard output is the result:
{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}.
"""
import argparse
import fcntl
import hashlib
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
BENCH = ROOT / "perfbench"
BUILD = ROOT / ".bench_build"
LAUNCH = BUILD / "perfbench" / "launch.txt"
STAMP = BUILD / "perfbench" / "sources.sha256"
WORKLOADS = ("upsert_cdc", "lookup_scan", "curate_corpus")
HEAP = "3g"
BUILD_TIMEOUT_S = 840
# The benchmark must end within 180 s of starting; leave room for start-up.
RUN_SLACK_S = 150


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    """Every file the build reads: graft's sources and build, and ours."""
    roots = [ROOT / "src" / "main", BENCH / "src"]
    files = [ROOT / "build.sbt", ROOT / "project" / "build.properties",
             BENCH / "build.sbt", BENCH / "project" / "build.properties"]
    for r in roots:
        files += sorted(p for p in r.rglob("*") if p.is_file())
    return files


def source_digest():
    h = hashlib.sha256()
    for p in source_files():
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def git_commit():
    """The checkout's commit, when it is a git work tree (else empty)."""
    if not (ROOT / ".git").exists():
        return ""
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip()
    except (OSError, subprocess.SubprocessError):
        return ""


def sbt_env():
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = Path.home() / ".sbt" / "repositories"
    if "SBT_OPTS" not in env and repos.is_file():
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true "
                           f"-Dsbt.repository.config={repos} "
                           "-Dsbt.offline=true -Xmx2g")
    return env


def build(digest):
    """Compile with sbt unless the stamp says this source tree is built."""
    BUILD.mkdir(exist_ok=True)
    with open(BUILD / "build.lock", "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)  # one build per checkout at a time
        if LAUNCH.is_file() and STAMP.is_file() and STAMP.read_text() == digest:
            return
        tmp = BUILD / "tmp"
        tmp.mkdir(exist_ok=True)
        log = BUILD / "build.log"
        # sbt's global base and its JVM's temporary files stay in the checkout
        cmd = ["sbt", "-batch", "-Dsbt.log.noformat=true", "-J-XX:-UsePerfData",
               f"-Dsbt.global.base={BUILD / 'sbt-global'}",
               f"-Djava.io.tmpdir={tmp}", "perfbench/writeLaunch"]
        with open(log, "w") as out:
            try:
                rc = subprocess.run(cmd, cwd=BENCH, env=sbt_env(), stdout=out,
                                    stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL,
                                    timeout=BUILD_TIMEOUT_S).returncode
            except subprocess.TimeoutExpired:
                rc = -1
        if rc != 0 or not LAUNCH.is_file():
            sys.stderr.write(log.read_text()[-4000:])
            fail(f"build failed (exit {rc}); full log in {log}")
        STAMP.write_text(digest)


def run_jvm(args, digest):
    lines = LAUNCH.read_text().splitlines()
    classpath, jvm_opts = lines[0], [o for o in lines[1:] if o]
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}-{time.time_ns()}"
    scratch = BUILD / "runs" / run_id
    results = BUILD / "results"
    scratch.mkdir(parents=True)
    results.mkdir(exist_ok=True)
    result_file = results / f"{run_id}.json"
    err_log = results / f"{run_id}.stderr.log"
    cmd = (["java", f"-Xmx{HEAP}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={scratch / 'tmp'}"]
           + jvm_opts
           + ["-cp", classpath, "perfbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--size", args.size, "--scratch", str(scratch),
              "--result", str(result_file), "--heap", HEAP,
              "--source-sha256", digest, "--git-commit", git_commit()])
    (scratch / "tmp").mkdir()
    proc = None
    try:
        with open(err_log, "w") as err:
            proc = subprocess.Popen(cmd, cwd=scratch, stdout=subprocess.PIPE,
                                    stderr=err, stdin=subprocess.DEVNULL,
                                    text=True, start_new_session=True)
            try:
                out, _ = proc.communicate(timeout=args.seconds + RUN_SLACK_S)
            except subprocess.TimeoutExpired:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
                fail(f"run exceeded {args.seconds + RUN_SLACK_S} s; log in {err_log}")
    finally:
        if proc is not None and proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(scratch, ignore_errors=True)
    result = [l for l in out.splitlines() if l.startswith("{")]
    if not result:
        sys.stderr.write(err_log.read_text()[-4000:])
        fail(f"no result (JVM exit {proc.returncode}); log in {err_log}")
    for line in out.splitlines():
        if not line.startswith("{"):
            print(line)
    print(result[-1])
    return proc.returncode


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full",
                    help="tiny: small inputs for the smoke test (smoke.sh)")
    args = ap.parse_args()
    if args.seconds < 1:
        fail("--seconds must be >= 1")
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main").is_dir():
        fail(f"no graft sources at {ROOT}: run from the root of a graft checkout")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java must be on PATH")
    digest = source_digest()
    build(digest)
    sys.exit(run_jvm(args, digest))


if __name__ == "__main__":
    main()
