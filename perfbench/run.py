#!/usr/bin/env python3
"""Export benchmark: times graft's ledger-range -> export_* -> parquet job.

Usage (from the repository root):

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --self-test

Builds the engine and the benchmark from source with sbt (once per source
state), generates the seeded datastore tree for the workload (once per
seed), then runs one fresh JVM that drives `graft.cli.Export.run` in a
closed loop and checks every output. The last line of standard output is
one JSON object: {"correct", "attempted", "failed", "metrics"}.

Everything the benchmark writes lives in the checkout: trees, logs and
outputs under `.bench_data/`, sbt's output under the `target/` directories
of the two builds.
"""
import argparse
import hashlib
import json
import os
import signal
import shutil
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
DATA = ROOT / ".bench_data"
TARGET = HERE / "target"

# workload -> the generated tree it reads (see Workloads.scala)
TREES = {
    "backfill": "dense",
    "batch64": "sparse",
    "entry_changes": "dense",
    "permissive_slice": "poisoned",
}
KEEP_TREES = 6          # generated trees kept on disk, most recent first
BUILD_TIMEOUT = 840
RUN_TIMEOUT = 175       # seconds for generator + run together, after the build
HEAP = "3g"             # fixed (-Xms = -Xmx): heap resizing adds no noise


def fail(msg, code=1):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def source_files():
    """What the build reads: both build definitions and both source trees."""
    files = [HERE / "build.sbt", ROOT / "build.sbt"]
    for d in (HERE / "project", ROOT / "project"):
        files += sorted(p for p in d.glob("*") if p.is_file())
    for d in (HERE / "src", ROOT / "src" / "main"):
        files += sorted(p for p in d.rglob("*") if p.is_file())
    return files


def source_stamp():
    h = hashlib.sha256()
    for f in source_files():
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


_child = None


def _stop_child(signum=None, frame=None):
    if _child is not None and _child.poll() is None:
        os.killpg(_child.pid, signal.SIGKILL)
        _child.wait()
    if signum is not None:
        sys.exit(128 + signum)


def run_group(cmd, timeout, log, **kw):
    """Run cmd in its own process group, output to `log`; kill the whole
    group on timeout (or when this script is terminated) and wait for it.
    Returns the exit code (None on timeout)."""
    global _child
    with open(log, "w") as out:
        _child = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT,
                                  start_new_session=True, **kw)
        try:
            return _child.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            _stop_child()
            return None
        finally:
            _child = None


def tail(log, n=40):
    try:
        return "\n".join(Path(log).read_text(errors="replace").splitlines()[-n:])
    except OSError:
        return ""


def build():
    """Compile engine + benchmark with sbt unless the sources are unchanged
    since the last build; returns the runtime classpath and the engine
    build's JVM options."""
    cp_file, stamp_file = TARGET / "classpath.txt", TARGET / "build.stamp"
    opts_file = TARGET / "jvm-options.txt"
    stamp = source_stamp()

    def built():
        return (cp_file.read_text().strip(),
                opts_file.read_text().split())

    if (cp_file.exists() and opts_file.exists() and stamp_file.exists()
            and stamp_file.read_text() == stamp):
        return built()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    opts = env.get("SBT_OPTS", "")
    if "-Dsbt.offline" not in opts:
        env["SBT_OPTS"] = (opts + " -Dsbt.offline=true").strip()
    log = DATA / "build.log"
    rc = run_group(["sbt", "--batch", "--no-server", "-Dsbt.log.noformat=true",
                    "compile", "writeClasspath"], BUILD_TIMEOUT, log,
                   cwd=HERE, env=env)
    if rc != 0:
        fail(f"build failed (exit {rc}):\n{tail(log)}")
    stamp_file.write_text(stamp)
    return built()


def java(build, main, args, heap=HEAP):
    """The `java` command line for `main`, with the engine build's JVM
    options (add-opens for Spark on JDK 17, stack size, UI off)."""
    cp, opts = build
    tmp = DATA / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    return ["java", *opts, f"-Xms{heap}", f"-Xmx{heap}", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={tmp}",
            f"-Dspark.local.dir={DATA / 'spark-local'}",
            f"-Dspark.sql.warehouse.dir={DATA / 'warehouse'}",
            "-cp", cp, main, *map(str, args)]


def spark_env():
    n = cores()
    env = dict(os.environ)
    env["SPARK_MASTER"] = f"local[{n}]"
    env["SPARK_GRAFT_CPUS"] = str(n)
    return env


def ensure_tree(bld, tree, seed, timeout):
    trees = DATA / "trees"
    d = trees / f"{tree}-s{seed}"
    if not (d / "COMPLETE").exists():
        trees.mkdir(parents=True, exist_ok=True)
        log = DATA / "gen.log"
        t0 = time.monotonic()
        rc = run_group(java(bld, "perfbench.Gen", [d, tree, seed], heap="1g"),
                       timeout, log)
        if rc != 0:
            fail(f"generator failed (exit {rc}):\n{tail(log)}")
        print(f"perfbench: generated {d.name} in {time.monotonic() - t0:.1f} s",
              file=sys.stderr)
    os.utime(d)
    old = sorted((p for p in trees.iterdir() if p.is_dir() and p != d),
                 key=lambda p: p.stat().st_mtime, reverse=True)
    for p in old[KEEP_TREES - 1:]:
        shutil.rmtree(p, ignore_errors=True)


def main():
    signal.signal(signal.SIGTERM, _stop_child)
    signal.signal(signal.SIGINT, _stop_child)
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=sorted(TREES))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--self-test", action="store_true")
    a = ap.parse_args()
    if not a.self_test and not a.workload:
        ap.error("--workload is required")
    if not (ROOT / "src" / "main" / "scala" / "graft" / "cli" / "Export.scala").is_file():
        fail("engine sources not found next to the benchmark; run from a "
             "checkout of the repository", code=2)
    DATA.mkdir(parents=True, exist_ok=True)
    bld = build()

    if a.self_test:
        log = DATA / "selftest.log"
        rc = run_group(java(bld, "perfbench.SelfTest", [DATA / "selftest"]),
                       RUN_TIMEOUT, log, env=spark_env())
        lines = Path(log).read_text(errors="replace").splitlines()
        print("\n".join(l for l in lines if l.startswith(("ok ", "FAIL ", "self-test"))))
        if rc != 0:
            fail(f"self-test failed (exit {rc}):\n{tail(log)}")
        return

    deadline = time.monotonic() + RUN_TIMEOUT
    ensure_tree(bld, TREES[a.workload], a.seed, RUN_TIMEOUT)
    result = DATA / f"result-{os.getpid()}.json"
    log = DATA / f"run-{a.workload}.log"
    rc = run_group(java(bld, "perfbench.Main", [
        "--workload", a.workload, "--seed", a.seed, "--seconds", a.seconds,
        "--trace", a.trace, "--data", DATA, "--result", result]),
        max(1.0, deadline - time.monotonic()), log, env=spark_env())
    if rc != 0 or not result.exists():
        fail(f"run failed (exit {rc}):\n{tail(log)}")
    r = json.loads(result.read_text())
    result.unlink()
    for line in r.get("detail", []):
        print(f"layer  {line}")
    for p in r.get("problems", []):
        print(f"FAILED {p}")
    print(f"failed_ratio {r['failed'] / r['attempted']} "
          f"({r['failed']} of {r['attempted']} exports)")
    print(json.dumps({k: r[k] for k in ("correct", "attempted", "failed", "metrics")}))


if __name__ == "__main__":
    main()
