#!/usr/bin/env python3
"""graft's benchmark: run one workload and print its metrics.

    python3 perfbench/run.py --workload ref_serial --seed 1 --seconds 8 --trace 0

Run from the repository root. The first run in a checkout compiles the
program and the benchmark with sbt (`perfbench/build.sbt`) and builds the
warm artifact store, both under `$CARGO_TARGET_DIR` (default
`.bench_build`); later runs reuse them while the sources are unchanged.
The last line of standard output is the result:
`{"correct", "attempted", "failed", "metrics"}`; the line before it
records the host shape, seed and store state. See perfbench/README.md.

`--mint` rewrites perfbench/golden/sf0.01.tsv from the current program
and cross-checks the minted query fingerprints against DuckDB.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ["ref_serial", "ingest_cold"]
FIXTURE = os.path.join(HERE, "fixture", "sf0.01")
GOLDEN = os.path.join(HERE, "golden", "sf0.01.tsv")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 600

# what spark-submit adds on JDK 17 (JavaModuleOptions.defaultModuleOptions)
ADD_OPENS = [arg for pkg in [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar"]
    for arg in ("--add-opens", f"java.base/{pkg}=ALL-UNNAMED")]


def log(msg):
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def source_key():
    """Hash of every input of the build: program and benchmark sources."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")]
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:16]


def run_child(cmd, cwd, env, timeout, out_path):
    """Runs cmd in its own process group with stdout captured and stderr
    to out_path; kills the whole group on timeout and waits for it."""
    with open(out_path, "w") as err:
        p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=subprocess.PIPE,
                             stderr=err, text=True, start_new_session=True)
        try:
            out, _ = p.communicate(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.communicate()
            raise
        finally:
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()
    return p.returncode, out


def build(out_dir, key):
    """Compiles program and benchmark; returns the runtime classpath."""
    cp_file = os.path.join(out_dir, f"classpath-{key}.txt")
    if os.path.exists(cp_file):
        with open(cp_file) as fh:
            return fh.read().strip()
    log("building with sbt (first run in this checkout)")
    code, out = run_child(
        ["sbt", "-batch", "-Dsbt.log.noformat=true",
         "export perfbench/Runtime/fullClasspath"],
        HERE, os.environ.copy(), BUILD_TIMEOUT_S,
        os.path.join(out_dir, "build.log"))
    lines = [l for l in out.splitlines() if l.strip()]
    if code != 0 or not lines or "perfbench" not in lines[-1]:
        sys.exit(f"perfbench: build failed (see {out_dir}/build.log)\n"
                 + "\n".join(lines[-20:]))
    with open(cp_file, "w") as fh:
        fh.write(lines[-1])
    return lines[-1]


def heap():
    """SPARK_DRIVER_MEM, else a third of physical memory within 2-6 GB."""
    if os.environ.get("SPARK_DRIVER_MEM"):
        return os.environ["SPARK_DRIVER_MEM"]
    try:
        with open("/proc/meminfo") as fh:
            kb = next(int(l.split()[1]) for l in fh if l.startswith("MemTotal:"))
        gb = min(6, max(2, kb // (3 * 1024 * 1024)))
    except (OSError, StopIteration, ValueError):
        gb = 2
    return f"{gb}g"


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def jvm(cp, args, work, store, timeout):
    env = os.environ.copy()
    env["SPARK_GRAFT_ARTIFACT_DIR"] = store
    env.pop("SPARK_GRAFT_ARTIFACT_REBUILD", None)
    # would override the private spark.local.dir the JVM sets
    env.pop("SPARK_LOCAL_DIRS", None)
    cmd = (["java"] + ADD_OPENS +
           [f"-Xmx{heap()}", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC", "-cp", cp,
            "graft.perfbench.Main",
            "--fixture", FIXTURE, "--golden", GOLDEN, "--store", store,
            "--work", work, "--cores", str(cores())] + args)
    # the program reads its committed reference fixture relative to the
    # repository root, so the JVM runs there
    return run_child(cmd, ROOT, env, timeout, os.path.join(work, "jvm.log"))


def warm_store(cp, out_dir, key):
    """The store ref_serial loads, built once per
    source version."""
    store = os.path.join(out_dir, f"warm-store-{key}")
    done = store + ".done"
    if os.path.exists(done):
        return store
    log("building the warm artifact store (first run in this checkout)")
    shutil.rmtree(store, ignore_errors=True)
    work = os.path.join(out_dir, f"warm-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    code, _ = jvm(cp, ["--mode", "warm"], work, store, 600)
    if code != 0:
        sys.exit(f"perfbench: warm store build failed (see {work}/jvm.log)")
    shutil.rmtree(work, ignore_errors=True)
    open(done, "w").close()
    return store


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=8)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--mint", action="store_true")
    a = ap.parse_args()
    if not a.mint and not a.workload:
        ap.error("--workload is required")
    if not (os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))
            and os.path.isfile(os.path.join(ROOT, "build.sbt"))):
        sys.exit("perfbench: run from a graft checkout (no src/main/scala "
                 "or build.sbt beside perfbench/)")
    out_dir = os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or
                              os.path.join(ROOT, ".bench_build"))
    os.makedirs(out_dir, exist_ok=True)
    key = source_key()
    cp = build(out_dir, key)

    work = os.path.join(out_dir, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        if a.mint:
            code, out = jvm(cp, ["--mode", "mint"], work,
                            os.path.join(work, "store"), 900)
            if code != 0:
                kept = os.path.join(out_dir, "failed-run.log")
                shutil.copyfile(os.path.join(work, "jvm.log"), kept)
                sys.exit(f"perfbench: mint failed; log in {kept}")
            sys.path.insert(0, os.path.join(HERE, "tools"))
            import oracle_xcheck
            ok = oracle_xcheck.check(FIXTURE, GOLDEN,
                                     os.path.join(work, "oracle_sql.json"))
            sys.exit(0 if ok else 1)
        if a.workload == "ref_serial":
            store = warm_store(cp, out_dir, key)
        else:
            store = os.path.join(work, "store")
            os.makedirs(store)
        code, out = jvm(cp, ["--mode", "run", "--workload", a.workload,
                             "--seed", str(a.seed), "--seconds", str(a.seconds),
                             "--trace", str(a.trace)],
                        work, store, RUN_TIMEOUT_S)
        lines = [l for l in out.splitlines() if l.strip()]
        result = json.loads(lines[-1]) if code == 0 and lines else None
        if not result or set(result) != {"correct", "attempted", "failed", "metrics"}:
            kept = os.path.join(out_dir, "failed-run.log")
            shutil.copyfile(os.path.join(work, "jvm.log"), kept)
            sys.exit(f"perfbench: run failed (exit {code}); log in {kept}")
        for l in lines[:-1]:
            print(l)
        print(json.dumps(result), flush=True)
    except subprocess.TimeoutExpired:
        sys.exit("perfbench: timed out")
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
