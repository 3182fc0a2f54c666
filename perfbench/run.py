#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload harvest_full --seed 1 --seconds 10 --trace 0

Builds the engine and the benchmark from this checkout with sbt (once;
later runs reuse the build while the sources are unchanged), launches the
benchmark JVM, and prints two lines: the full record (``record: {...}``)
and, last, the result the metric names and units in BENCHMARK.json call
for. ``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the
per-layer ones. Self-test options: ``--size tiny`` shrinks every input,
``--fault fetcher|drop_row`` injects a wrong transport or a dropped output
row, which the output checks must catch.

Everything it writes stays under perfbench/: build output in target/,
per-run inputs in .work/ (removed after the run), seed-independent inputs
in .cache/, records in results/.
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
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
TARGET = BENCH / "target"
LAUNCH = TARGET / "launch.txt"
LAUNCH_KEY = TARGET / "launch.key"
REFERENCE = BENCH / "reference" / "query_mix.json"
WORKLOADS = ("harvest_full", "harvest_delta", "query_mix")
HEAP = "2g"
RUN_LIMIT_S = 175.0
BUILD_LIMIT_S = 850.0


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


# what building and running leave under perfbench/
OUTPUTS = {"target", ".work", ".cache", "results", "__pycache__"}


def tree_hash(paths):
    """sha256 over the files under `paths` (outputs left out), in a stable order."""
    h = hashlib.sha256()
    files = []
    for p in paths:
        if p.is_file():
            files.append(p)
        elif p.is_dir():
            files.extend(f for f in p.rglob("*")
                         if f.is_file() and not OUTPUTS & set(f.relative_to(p).parts))
    for f in sorted(files):
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def engine_sources():
    return [ROOT / "build.sbt", ROOT / "project" / "build.properties", ROOT / "src" / "main"]


def bench_build_files():
    return [BENCH / "build.sbt", BENCH / "project" / "build.properties", BENCH / "src"]


def bench_files():
    return [BENCH]


def build():
    """Compile with sbt unless the launch file matches the sources."""
    key = tree_hash(engine_sources() + bench_build_files()) + " heap " + HEAP
    TARGET.mkdir(exist_ok=True)
    with open(TARGET / ".build.lock", "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if LAUNCH.exists() and LAUNCH_KEY.exists() and LAUNCH_KEY.read_text() == key:
            return
        env = dict(os.environ)
        env["SPARK_DRIVER_MEM"] = HEAP
        env.setdefault("COURSIER_MODE", "offline")
        opts = env.get("SBT_OPTS", "")
        if "sbt.offline" not in opts:
            env["SBT_OPTS"] = (opts + " -Dsbt.offline=true").strip()
        LAUNCH.unlink(missing_ok=True)
        log = TARGET / "build.log"
        with open(log, "w") as out:
            rc = run_process(["sbt", "--batch", "-Dsbt.log.noformat=true",
                              "perfbench/launchFile"], BENCH, env, out, BUILD_LIMIT_S)
        if rc != 0 or not LAUNCH.exists():
            sys.stderr.write(log.read_text()[-4000:])
            fail(f"build failed (exit {rc}); log in {log}")
        LAUNCH_KEY.write_text(key)


def run_process(cmd, cwd, env, out, limit_s):
    """Runs `cmd` in its own process group; kills the group past the limit."""
    proc = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=out, stderr=subprocess.STDOUT,
                            stdin=subprocess.DEVNULL, start_new_session=True)
    try:
        return proc.wait(timeout=max(1.0, limit_s))
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        return -9
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()


def git_head():
    try:
        r = subprocess.run(["git", "-C", str(ROOT), "rev-parse", "HEAD"], capture_output=True,
                           text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else None
    except (OSError, subprocess.SubprocessError):
        return None


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full")
    ap.add_argument("--fault", choices=("none", "fetcher", "drop_row"), default="none")
    a = ap.parse_args()
    # a terminated run takes its build or JVM down with it (see run_process)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    spec_path = ROOT / "BENCHMARK.json"
    if not spec_path.is_file():
        fail("BENCHMARK.json not found next to perfbench/")
    if not all(p.exists() for p in engine_sources()):
        fail("engine sources (build.sbt, src/main) not found; run from a full checkout")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java must be on PATH")
    spec = json.loads(spec_path.read_text())

    build()
    started = time.monotonic()

    work = BENCH / ".work" / f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    out_file = work / "record.json"
    # inputs that do not depend on the seed, kept per version of the generator
    cache = BENCH / ".cache" / tree_hash(bench_build_files())[:12]
    jvm_opts = [l for l in LAUNCH.read_text().splitlines() if l]
    cmd = (["java"] + jvm_opts + [f"-Djava.io.tmpdir={work / 'tmp'}", "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--size", a.size, "--fault", a.fault,
            "--work", str(work), "--cache", str(cache), "--out", str(out_file),
            "--reference", str(REFERENCE)])
    results = BENCH / "results"
    results.mkdir(exist_ok=True)
    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}" + (f"-{a.size}" if a.size != "full" else "") \
        + (f"-{a.fault}" if a.fault != "none" else "")
    log = results / f"{tag}.log"
    try:
        with open(log, "w") as out:
            rc = run_process(cmd, ROOT, dict(os.environ), out,
                             RUN_LIMIT_S - (time.monotonic() - started))
        if rc != 0 or not out_file.exists():
            sys.stderr.write(log.read_text()[-4000:])
            fail(f"benchmark JVM failed (exit {rc}); log in {log}", 1)
        record = json.loads(out_file.read_text())
        if (work / "spans.jsonl").exists():
            shutil.copy(work / "spans.jsonl", results / f"{tag}.spans.jsonl")
            record["spans"]["file"] = str((results / f"{tag}.spans.jsonl").relative_to(ROOT))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    record["identity"] = {
        "git_head": git_head(),
        "engine_sources_sha256": tree_hash(engine_sources()),
        "bench_files_sha256": tree_hash(bench_files() + [spec_path]),
    }
    section = "per_layer" if a.trace else "end_to_end"
    values = record[section]
    metrics = {}
    for m in spec[section]:
        if m["name"] not in values:
            fail(f"record lacks {section} metric {m['name']}", 1)
        metrics[m["name"]] = {"value": values[m["name"]], "unit": m["unit"]}
    (results / f"{tag}.json").write_text(json.dumps(record, indent=1))
    print("record: " + json.dumps(record, separators=(",", ":")))
    print(json.dumps({"correct": bool(record["correct"]), "attempted": int(record["attempted"]),
                      "failed": int(record["failed"]), "metrics": metrics}))


if __name__ == "__main__":
    main()
