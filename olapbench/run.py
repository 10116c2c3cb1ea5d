#!/usr/bin/env python3
"""Benchmark of the graft engine, run from the root of a checkout:

    python3 olapbench/run.py --workload bi_refresh --seed 1 --seconds 8 --trace 0

Builds the program from the checkout's own sources (once per source state),
runs one workload in a fresh JVM with Spark local[2], removes every
directory the run created, and prints a human-readable report followed by
one JSON line: {"correct", "attempted", "failed", "metrics"}. With
--trace 1 the metrics are the per-layer ones and the spans of the run are
kept under target/olapbench/traces/. See olapbench/README.md.
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
import zipfile
from pathlib import Path

WORKLOADS = ("bi_refresh", "corpus_curation")
RUN_LIMIT_S = 170          # the whole run, build excluded, must end within 180 s
BUILD_LIMIT_S = 840
HEAP = "3g"
# processors the JVM sees (Spark local[CORES], GC and JIT threads sized to
# match): half of a 4-core host, so the JIT and GC threads and other
# tenants of a shared host do not contend with the timed work
CORES = 2
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]

HERE = Path(__file__).resolve().parent
ROOT = Path.cwd().resolve()
BUILD_DIR = HERE / "target"
CLASSES = BUILD_DIR / "scala-2.13" / "classes"
JAR = BUILD_DIR / "olapbench.jar"
# JVM class-data archive recorded by a toy-size warm-up run at build time:
# class loading from the Spark jars dominates JVM + session start otherwise
CDS = BUILD_DIR / "olapbench.jsa"
STAMP = BUILD_DIR / "olapbench.stamp"
SPARK_JARS = Path(os.environ.get("SPARK_HOME", "/opt/spark")) / "jars"


def die(msg, code=1):
    print(f"olapbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_digest():
    """Digest of everything the build compiles, so a changed tree rebuilds."""
    h = hashlib.sha256()
    files = [ROOT / "build.sbt", HERE / "build.sbt", HERE / "project" / "build.properties"]
    for tree in (ROOT / "src" / "main", HERE / "src"):
        files += sorted(p for p in tree.rglob("*") if p.is_file())
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def java_cmd(run_dir, *extra):
    """The benchmark JVM: fixed heap, private tmp dir, no perf-data file in
    /tmp, explicit jar class path (the class-data archive needs jars)."""
    cmd = [shutil.which("java"), f"-Xmx{HEAP}", f"-XX:ActiveProcessorCount={CORES}",
           "-XX:+UseParallelGC", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={run_dir / 'tmp'}", *extra]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    jars = [str(JAR)] + sorted(str(j) for j in SPARK_JARS.glob("*.jar"))
    return cmd + ["-cp", ":".join(jars), "olapbench.Main"]


def build():
    digest = source_digest()
    if STAMP.exists() and STAMP.read_text() == digest and JAR.is_file():
        return
    remove(STAMP)
    BUILD_DIR.mkdir(parents=True, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = Path.home() / ".sbt" / "repositories"
    if repos.exists():
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log = BUILD_DIR / "build.log"
    with open(log, "w") as out:
        try:
            rc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                                cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, timeout=BUILD_LIMIT_S).returncode
        except subprocess.TimeoutExpired:
            die(f"build timed out, see {log}")
    if rc != 0:
        sys.stderr.write(log.read_text()[-4000:])
        die(f"build failed, see {log}")
    remove(JAR)
    with zipfile.ZipFile(JAR, "w") as jar:
        for f in sorted(CLASSES.rglob("*")):
            if f.is_file():
                jar.write(f, f.relative_to(CLASSES).as_posix())
    remove(CDS)
    run_dir = ROOT / "target" / "olapbench" / f"warmup_{os.getpid()}"
    (run_dir / "tmp").mkdir(parents=True)
    try:
        with open(log, "a") as out:
            subprocess.run(java_cmd(run_dir, f"-XX:ArchiveClassesAtExit={CDS}") +
                           ["warmup", "1", "1", "1", str(run_dir), str(ROOT / "target" / "cubes")],
                           cwd=ROOT, stdout=out, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL,
                           timeout=BUILD_LIMIT_S)
    except subprocess.TimeoutExpired:
        remove(CDS)
    finally:
        remove(run_dir)
        for d in (ROOT / "target" / "cubes").glob(f"olapbench_{run_dir.name}_*"):
            remove(d)
    STAMP.write_text(digest)


def remove(path):
    if path.is_symlink() or path.is_file():
        path.unlink()
    elif path.exists():
        shutil.rmtree(path)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala").is_dir():
        die(f"{ROOT} is not the root of a checkout of the program (no build.sbt / src/main/scala)", 2)
    if not shutil.which("java"):
        die("java not found on PATH", 2)
    if not SPARK_JARS.is_dir():
        die(f"Spark jars not found at {SPARK_JARS}", 2)
    build()

    run_id = f"s{args.seed}_{os.getpid()}_{time.time_ns() % 10**9}"
    run_dir = ROOT / "target" / "olapbench" / run_id
    cube_root = ROOT / "target" / "cubes"
    (run_dir / "tmp").mkdir(parents=True)
    cds = [f"-XX:SharedArchiveFile={CDS}"] if CDS.is_file() else []
    cmd = java_cmd(run_dir, *cds) + [args.workload, str(args.seed), str(args.seconds),
                                     str(args.trace), str(run_dir), str(cube_root)]

    log = run_dir.parent / f"{run_id}.log"
    proc = None

    def stop(*_):
        if proc is not None and proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        remove(run_dir)
        for d in cube_root.glob(f"olapbench_{run_id}_*"):
            remove(d)

    signal.signal(signal.SIGTERM, lambda *a: (stop(), sys.exit(143)))
    try:
        with open(log, "w") as err:
            proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=err,
                                    stdin=subprocess.DEVNULL, start_new_session=True, text=True)
            try:
                out, _ = proc.communicate(timeout=RUN_LIMIT_S)
            except subprocess.TimeoutExpired:
                die(f"run exceeded {RUN_LIMIT_S} s, see {log}")
        if proc.returncode != 0:
            sys.stderr.write(log.read_text()[-4000:])
            die(f"benchmark JVM exited with {proc.returncode}, see {log}")
    finally:
        stop()
        left = [d.name for d in cube_root.glob(f"olapbench_{run_id}_*")] + \
               ([run_dir.name] if run_dir.exists() else [])
        if left:
            die(f"could not remove {left}")

    lines = out.splitlines()
    results = [l for l in lines if l.startswith("RESULT ")]
    if len(results) != 1:
        die(f"expected one RESULT line, got {len(results)}, see {log}")
    result = json.loads(results[0][len("RESULT "):])
    if set(result) != {"correct", "attempted", "failed", "metrics"} or result["attempted"] < 1:
        die(f"malformed result {result}")
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())["per_layer" if args.trace else "end_to_end"]
    want = {m["name"]: m["unit"] for m in spec}
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    if got != want:
        die(f"metrics differ from BENCHMARK.json: {sorted(set(got.items()) ^ set(want.items()))}")
    log.unlink()
    for l in lines:
        if not l.startswith("RESULT "):
            print(l)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
