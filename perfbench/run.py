#!/usr/bin/env python3
"""Benchmark command: build the program from source, run one workload.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the program and the
benchmark JVM package with sbt (offline) into the checkout; later runs start
the JVM directly. The last line of standard output is the result object:
{"correct", "attempted", "failed", "metrics"}. The exit code is 0 only when
the run completed and every output check passed.

Working files go to .bench_work/ (removed after each run) and the full
per-run record (end-to-end numbers, per-layer numbers, spans, self time per
layer) to .bench_out/<workload>-seed<n>-trace<t>.json.
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
WORKLOADS = ("etl_small_files", "query_mix")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850
HEAP = "3g"


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def run_group(cmd, timeout, **kw):
    """Run cmd in its own process group; kill the group on timeout."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate()
        raise
    return p.returncode, out


def sources_newer_than(stamp, dirs):
    t = os.path.getmtime(stamp)
    for d in dirs:
        for base, _, files in os.walk(d):
            if any(f.endswith((".scala", ".sbt", ".properties")) and
                   os.path.getmtime(os.path.join(base, f)) > t for f in files):
                return True
    return False


def build(root, build_dir):
    """Compile the program and the benchmark package; write the launch files."""
    stamp = os.path.join(build_dir, "jvm_options.txt")
    src_dirs = [os.path.join(root, "src", "main"), os.path.join(root, "project"),
                os.path.join(HERE, "src"), os.path.join(HERE, "project")]
    if os.path.exists(stamp) and os.path.exists(os.path.join(build_dir, "classpath.txt")) \
            and not sources_newer_than(stamp, src_dirs) \
            and os.path.getmtime(os.path.join(root, "build.sbt")) < os.path.getmtime(stamp) \
            and os.path.getmtime(os.path.join(HERE, "build.sbt")) < os.path.getmtime(stamp):
        return
    sbt = shutil.which("sbt")
    if sbt is None:
        sys.exit("sbt not found on PATH")
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    env["BENCH_BUILD_DIR"] = build_dir
    opts = env.get("SBT_OPTS", "").split() + ["-Dsbt.offline=true", "-Dsbt.server.autostart=false"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos) and not any(o.startswith("-Dsbt.repository.config") for o in opts):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    if not any(o.startswith("-Xmx") for o in opts):
        opts.append("-Xmx2g")
    env["SBT_OPTS"] = " ".join(opts)
    log("building (first run in this checkout)")
    t0 = time.time()
    rc, _ = run_group([sbt, "--batch", "-Dsbt.log.noformat=true", "writeLaunch"],
                      BUILD_TIMEOUT_S, cwd=HERE, env=env, stdout=sys.stderr)
    if rc != 0:
        sys.exit(f"build failed (sbt exit {rc})")
    log(f"built in {time.time() - t0:.1f} s")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    root = os.getcwd()
    if not (os.path.isfile(os.path.join(root, "build.sbt")) and
            os.path.isdir(os.path.join(root, "src", "main", "scala"))):
        sys.exit("no program sources here: run from the root of a checkout")
    build_dir = os.path.join(root, ".bench_build")
    build(root, build_dir)

    work_root = os.path.join(root, ".bench_work")
    shutil.rmtree(work_root, ignore_errors=True)
    work = os.path.join(work_root, f"{a.workload}-{a.seed}")
    os.makedirs(os.path.join(work, "tmp"))
    out_dir = os.path.join(root, ".bench_out")
    os.makedirs(out_dir, exist_ok=True)
    record = os.path.join(out_dir, f"{a.workload}-seed{a.seed}-trace{a.trace}.json")

    with open(os.path.join(build_dir, "classpath.txt")) as f:
        cp = f.read().strip()
    with open(os.path.join(build_dir, "jvm_options.txt")) as f:
        jvm_opts = [line for line in f.read().splitlines() if line]
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else (shutil.which("java") or "java")
    cmd = [java, f"-Xmx{HEAP}", *jvm_opts, "-Duser.timezone=UTC",
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}", "-cp", cp, "perfbench.Main",
           "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
           "--trace", str(a.trace), "--work", work,
           "--data", os.path.join(HERE, "data", "sf0.001"),
           "--golden", os.path.join(HERE, "golden", "query_mix.json"),
           "--out", record]
    try:
        rc, out = run_group(cmd, RUN_TIMEOUT_S, cwd=work, stdout=subprocess.PIPE, text=True)
    except subprocess.TimeoutExpired:
        shutil.rmtree(work_root, ignore_errors=True)
        sys.exit(f"run exceeded {RUN_TIMEOUT_S} s")
    shutil.rmtree(work_root, ignore_errors=True)

    lines = out.rstrip("\n").splitlines()
    result = None
    if lines:
        try:
            result = json.loads(lines[-1])
        except ValueError:
            result = None
    for line in lines[:-1] if result is not None else lines:
        print(line, file=sys.stderr if result is None else sys.stdout)
    if rc != 0 or result is None:
        if result is not None:
            print(json.dumps(result))
        sys.exit(rc or 1)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
