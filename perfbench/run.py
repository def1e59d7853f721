#!/usr/bin/env python3
"""Load/curate/serve benchmark for the graft engine.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload load|serve --seed N \\
        --seconds S --trace 0|1
    python3 perfbench/run.py --selftest

Builds the engine and the harness from source with sbt (once per source
tree: a hash of the sources is kept under .bench_build/), runs one harness
JVM, and prints the harness's result as the last line of standard output:
one JSON object with `correct`, `attempted`, `failed` and `metrics`.
End-to-end metrics come from untraced runs (--trace 0), per-layer metrics
from traced runs (--trace 1). See perfbench/NOTES.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
BENCH = ROOT / "perfbench"
BUILD = ROOT / ".bench_build" / "perfbench"
# the harness must finish well inside the 180 s a run is allowed
RUN_LIMIT_S = 170
HEAP = "2g"


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_hash():
    """Hash of everything the build reads, so a changed tree rebuilds."""
    h = hashlib.sha256()
    inputs = [ROOT / "build.sbt", ROOT / "project" / "build.properties",
              BENCH / "build.sbt", BENCH / "project" / "build.properties"]
    for d in (ROOT / "src" / "main", BENCH / "src"):
        inputs += sorted(p for p in d.rglob("*") if p.is_file())
    for p in inputs:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def build():
    """Compile engine and harness; return (classpath, jvm flags)."""
    for need in ("build.sbt", "project/build.properties", "src/main/scala"):
        if not (ROOT / need).exists():
            fail(f"no {need} at {ROOT}: not a checkout of the engine")
    stamp, launch = BUILD / "stamp", BENCH / "target" / "launch.txt"
    digest = source_hash()
    if not (stamp.exists() and stamp.read_text() == digest and launch.exists()):
        env = dict(os.environ)
        env.setdefault("COURSIER_MODE", "offline")
        t0 = time.time()
        cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true",
               "-Dsbt.server.autostart=false", "writeLaunch"]
        try:
            r = subprocess.run(cmd, cwd=BENCH, env=env, stdout=sys.stderr,
                               stderr=sys.stderr, timeout=840)
        except FileNotFoundError:
            fail("sbt not found on PATH")
        if r.returncode != 0 or not launch.exists():
            fail(f"build failed (sbt exit {r.returncode})")
        BUILD.mkdir(parents=True, exist_ok=True)
        stamp.write_text(digest)
        print(f"perfbench: built in {time.time() - t0:.0f} s", file=sys.stderr)
    lines = launch.read_text().split("\n")
    # the engine's own JVM flags, minus its heap size: the harness sets one
    flags = [f for f in lines[1:] if f and not f.startswith(("-Xmx", "-Xms"))]
    return lines[0], flags


def run_harness(args, cp, flags, started):
    work = BUILD / f"work-{args.workload}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    result = work / "result.json"
    cmd = (["java"] + flags +
           [f"-Xms{HEAP}", f"-Xmx{HEAP}", "-Xmn512m", f"-Djava.io.tmpdir={work / 'tmp'}",
            "-cp", cp, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work", str(work), "--result", str(result)])
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE,
                            stderr=sys.stderr, text=True)
    try:
        out, _ = proc.communicate(
            timeout=max(10.0, RUN_LIMIT_S - (time.time() - started)))
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        fail("harness ran out of time")
    sys.stdout.write(out)
    try:
        if proc.returncode != 0 or not result.exists():
            fail(f"harness exited with {proc.returncode} and no result")
        return json.loads(result.read_text())
    finally:
        shutil.rmtree(work, ignore_errors=True)


def validate(res, trace):
    """The result names exactly the metrics BENCHMARK.json declares."""
    decl = json.loads((ROOT / "BENCHMARK.json").read_text())
    want = decl["per_layer" if trace else "end_to_end"]
    got = res["metrics"]
    if [m["name"] for m in want] != list(got):
        fail("harness metrics do not match BENCHMARK.json: "
             f"{sorted(set(got) ^ {m['name'] for m in want})}")
    for m in want:
        if got[m["name"]]["unit"] != m["unit"]:
            fail(f"unit of {m['name']} is {got[m['name']]['unit']}, "
                 f"BENCHMARK.json says {m['unit']}")


def main():
    started = time.time()
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=["load", "serve"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--selftest", action="store_true",
                    help="check that corrupted outputs are caught")
    args = ap.parse_args()
    if not args.selftest and args.workload is None:
        ap.error("--workload is required")
    cp, flags = build()
    if args.selftest:
        work = BUILD / f"selftest-{os.getpid()}"
        shutil.rmtree(work, ignore_errors=True)
        (work / "tmp").mkdir(parents=True)
        try:
            r = subprocess.run(["java"] + flags + [
                f"-Xmx{HEAP}", f"-Djava.io.tmpdir={work / 'tmp'}", "-cp", cp,
                "perfbench.SelfTest", str(work)], cwd=ROOT, timeout=600)
        finally:
            shutil.rmtree(work, ignore_errors=True)
        sys.exit(r.returncode)
    res = run_harness(args, cp, flags, started)
    validate(res, args.trace == 1)
    print(json.dumps(res))


if __name__ == "__main__":
    main()
