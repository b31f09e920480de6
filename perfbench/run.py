#!/usr/bin/env python3
"""Run one benchmark workload against the engine built from this checkout.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run it from the repository root. The first run builds the engine and the
benchmark program with sbt (offline, from the local dependency caches) into
perfbench/.build; later runs reuse that build until a source file changes.
Each run starts one JVM (perfbench.Main), which writes its metrics; this
script checks them against BENCHMARK.json and prints the result JSON as the
last line of standard output. A run that cannot build or fails exits with a
non-zero code and prints no result.
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

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
BUILD = os.path.join(BENCH, ".build")
WORK = os.path.join(BENCH, ".work")
OUT = os.path.join(BENCH, "out")

RUN_LIMIT_S = 170  # a run must end within 180 s
BUILD_LIMIT_S = 850  # the first run of a checkout may take 900 s
HEAP = "3g"  # fixed, so that runs on one host compare

# The module openings Spark needs on JDK 17 outside spark-submit; the
# engine's build passes the same list to its forked runs.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def source_files():
    """Every file the build reads, relative to the repository root."""
    files = ["build.sbt", "perfbench/build.sbt"]
    for base in ("project", "perfbench/project"):
        d = os.path.join(ROOT, base)
        if os.path.isdir(d):
            files += [f"{base}/{n}" for n in os.listdir(d) if n.endswith((".sbt", ".properties", ".scala"))]
    for tree in ("src/main", "perfbench/src"):
        for dirpath, _, names in os.walk(os.path.join(ROOT, tree)):
            files += [os.path.relpath(os.path.join(dirpath, n), ROOT) for n in names]
    return sorted(files)


def source_stamp():
    h = hashlib.sha256()
    for rel in source_files():
        path = os.path.join(ROOT, rel)
        if os.path.isfile(path):
            h.update(rel.encode())
            with open(path, "rb") as f:
                h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def build():
    """Compile with sbt when the sources changed; return the classpath."""
    for needed in ("build.sbt", "src/main/scala"):
        if not os.path.exists(os.path.join(ROOT, needed)):
            fail(f"no engine sources here ({needed} is missing); run from the repository root")
    stamp = source_stamp()
    cp_file = os.path.join(BUILD, "classpath")
    stamp_file = os.path.join(BUILD, "stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read()
    sbt = shutil.which("sbt")
    if sbt is None:
        fail("sbt is not on PATH")
    os.makedirs(os.path.join(BUILD, "tmp"), exist_ok=True)
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Dsbt.supershell=false",
            "-Xmx2g", f"-Djava.io.tmpdir={os.path.join(BUILD, 'tmp')}"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=" ".join(opts))
    log_path = os.path.join(BUILD, "build.log")
    with open(log_path, "w") as log:
        code, stdout = run_group([sbt, "-batch", "-Dsbt.log.noformat=true", "compile",
                                  "export Runtime/fullClasspath"], BENCH, env, log, BUILD_LIMIT_S)
        log.write(stdout or "")
    if code is None:
        fail(f"build timed out; see {log_path}")
    lines = [l for l in stdout.splitlines() if l.strip()]
    if code != 0 or not lines or lines[-1].startswith("["):
        fail(f"build failed (exit {code}); see {log_path}")
    classpath = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(classpath)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classpath


def run_group(cmd, cwd, env, stderr, timeout):
    """Run `cmd` in its own process group (sbt forks a JVM under a shell);
    on timeout kill the whole group and wait for it. Returns (exit code, or
    None on timeout; stdout)."""
    proc = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=subprocess.PIPE, stderr=stderr,
                            text=True, start_new_session=True)
    try:
        stdout, _ = proc.communicate(timeout=timeout)
        return proc.returncode, stdout
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.communicate()
        return None, None
    except BaseException:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.communicate()
        raise


def git_commit():
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, timeout=10)
        if out.returncode == 0:
            return out.stdout.strip()
    except (OSError, subprocess.TimeoutExpired):
        pass
    return "unknown (not a git checkout)"


def load_spec():
    path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(path):
        fail("BENCHMARK.json is missing at the repository root")
    with open(path) as f:
        return json.load(f)


def finish(result, spec, trace):
    """Attach the units BENCHMARK.json declares to the name -> value metrics
    the JVM wrote. Per-layer metrics of a layer the workload does not call
    are reported as 0."""
    wanted = spec["per_layer"] if trace else spec["end_to_end"]
    units = {m["name"]: m["unit"] for m in wanted}
    got = result["metrics"]
    unknown = sorted(set(got) - set(units))
    if unknown:
        fail(f"metrics not declared in BENCHMARK.json: {unknown}")
    missing = sorted(set(units) - set(got))
    if not trace and missing:
        fail(f"end-to-end metrics not produced: {missing}")
    result["metrics"] = {n: {"value": got.get(n, 0), "unit": u} for n, u in units.items()}
    return result


def java_cmd(classpath, work):
    """The JVM command line, with every Spark directory under `work`."""
    shutil.rmtree(work, ignore_errors=True)
    for sub in ("tmp", "local"):
        os.makedirs(os.path.join(work, sub))
    # Lower JIT thresholds let the JIT settle sooner: with the defaults a
    # pass kept speeding up for about nine passes, with 0.1 for about three.
    # A fixed set of compiler threads keeps their CPU time apart from the
    # engine's (perfbench.Main counts the engine's CPU time without them).
    cmd = ["java", f"-Xmx{HEAP}", "-XX:CompileThresholdScaling=0.1",
           "-XX:-UseDynamicNumberOfCompilerThreads"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    return cmd + [
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        f"-Dspark.local.dir={os.path.join(work, 'local')}",
        f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        "-cp", classpath,
    ]


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--defects", action="store_true", help="run the known-defect repros instead")
    args = ap.parse_args()
    # a terminated runner takes its JVM (or sbt) down with it
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    env = dict(os.environ)
    env.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    work = os.path.join(WORK, f"run-{os.getpid()}")
    if args.defects:
        classpath = build()
        code = subprocess.run(java_cmd(classpath, work) + ["perfbench.Defects"], cwd=work, env=env).returncode
        shutil.rmtree(work, ignore_errors=True)
        sys.exit(code)
    if args.workload is None or args.seed is None or args.seconds is None:
        ap.error("--workload, --seed and --seconds are required")
    spec = load_spec()
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        fail(f"unknown workload {args.workload!r}")
    classpath = build()
    started = time.monotonic()  # the build has its own limit

    result_path = os.path.join(work, "result.json")
    cmd = java_cmd(classpath, work) + [
        "perfbench.Main",
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--work", work, "--result", result_path, "--report", OUT,
        "--commit", git_commit(),
    ]
    log_path = os.path.join(work, "jvm.log")
    limit = RUN_LIMIT_S - (time.monotonic() - started)
    with open(log_path, "w") as log:
        code, stdout = run_group(cmd, work, env, log, limit)
    if code is None:
        fail(f"run exceeded {limit:.0f} s; log kept at {log_path}")
    with open(log_path) as f:
        sys.stderr.write("".join(l for l in f if l.startswith("[perfbench]")))
    if code != 0 or not os.path.exists(result_path):
        with open(log_path) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        fail(f"run failed (exit {code}); log kept at {log_path}")
    with open(result_path) as f:
        result = finish(json.load(f), spec, args.trace == 1)
    shutil.rmtree(work, ignore_errors=True)
    sys.stdout.write(stdout)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
