#!/usr/bin/env python3
"""Layered benchmark of the graft engine.

    python3 perfbench/run.py --workload <relational|text_pipeline|table_ops>
        --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the engine and the
benchmark program from source with sbt (offline) into the checkout; later
runs reuse the build while the sources are unchanged. Each run generates
its input tables from the seed, runs the workload in one JVM at Spark
local[cores] with a single client thread in a closed loop, checks every
output, and prints one JSON line last: end-to-end metrics with
`--trace 0`, per-layer metrics with `--trace 1`. The full records, span
self times and per-layer results of every run go to their own file under
.bench_build/results/. See perfbench/README.md.
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

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = ROOT / ".bench_build"
sys.path.insert(0, str(HERE))

import gen  # noqa: E402
import metrics  # noqa: E402

# Input scale per workload (sf: lineitem = 6M x sf rows, documents =
# 50k x sf). At this size a face's time is mostly the engine's fixed
# per-query work (planning, codegen, jobs), not data volume.
SCALE = {"relational": 0.01, "text_pipeline": 0.01, "table_ops": 0.01}
FACE_WORKLOADS = ("relational", "text_pipeline")

# Spark 4 on JDK 17 outside spark-submit needs these module opens
# (org.apache.spark.launcher.JavaModuleOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def sources_stamp():
    """Digest of everything the build compiles, to reuse a build."""
    h = hashlib.sha256()
    files = [ROOT / "build.sbt", HERE / "build.sbt", HERE / "project" / "build.properties"]
    for base in (ROOT / "src" / "main", ROOT / "project", HERE / "src"):
        files += [p for p in base.rglob("*") if p.is_file() and "target" not in p.parts]
    for p in sorted(files):
        if p.is_file():
            h.update(str(p.relative_to(ROOT)).encode())
            h.update(p.read_bytes())
    return h.hexdigest()


def build():
    """Compile the engine and the benchmark program; return the classpath."""
    stamp = sources_stamp()
    cp_file = BUILD / "classpath.txt"
    stamp_file = BUILD / "classpath.stamp"
    if cp_file.exists() and stamp_file.exists() and stamp_file.read_text() == stamp:
        return cp_file.read_text().strip()
    BUILD.mkdir(exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true -Dsbt.offline=true -Xmx2g")
    log("building the engine and the benchmark program with sbt")
    t0 = time.time()
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdin=subprocess.DEVNULL, capture_output=True, text=True)
    (BUILD / "build.log").write_text(proc.stdout + proc.stderr)
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout[-4000:] + proc.stderr[-4000:])
        raise SystemExit(f"[perfbench] build failed (see {BUILD / 'build.log'})")
    cp = [ln for ln in proc.stdout.splitlines() if ln.strip()][-1].strip()
    cp_file.write_text(cp)
    stamp_file.write_text(stamp)
    log(f"built in {time.time() - t0:.0f} s")
    return cp


def run_jvm(cp, args, run_dir, data_dir):
    raw = run_dir / "raw.json"
    cmd = ["java", f"-Xms{args.heap}", f"-Xmx{args.heap}", "-XX:+UseG1GC",
           *[x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")],
           f"-Djava.io.tmpdir={run_dir / 'tmp'}",
           "-cp", cp, "graftbench.Main",
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--data", str(data_dir), "--work", str(run_dir), "--out", str(raw),
           "--cores", str(args.cores)]
    if args.passes:
        cmd += ["--passes", str(args.passes)]
    (run_dir / "tmp").mkdir(parents=True)
    t0 = time.time()
    with open(run_dir / "jvm.log", "w") as jlog:
        proc = subprocess.run(cmd, cwd=ROOT, stdin=subprocess.DEVNULL,
                              stdout=jlog, stderr=subprocess.STDOUT)
    log(f"JVM ran {time.time() - t0:.1f} s")
    if proc.returncode != 0 or not raw.exists():
        sys.stderr.write((run_dir / "jvm.log").read_text()[-6000:])
        raise SystemExit(f"[perfbench] benchmark JVM failed (exit {proc.returncode})")
    return json.loads(raw.read_text())


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(SCALE))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cores", type=int, default=4, help="Spark local[cores]")
    ap.add_argument("--heap", default="2g", help="JVM heap (-Xmx)")
    ap.add_argument("--scale", type=float, help="override the workload's input scale (sf)")
    ap.add_argument("--passes", type=int, help="run exactly this many passes (tests)")
    args = ap.parse_args(argv)

    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala").is_dir():
        raise SystemExit("[perfbench] engine sources not found: run from a full checkout")

    cp = build()
    stamp = time.strftime("%Y%m%dT%H%M%S")
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}-{stamp}-{os.getpid()}"
    run_dir = BUILD / "runs" / name
    data_dir = gen.write(args.seed, args.scale or SCALE[args.workload], run_dir / "data")
    try:
        raw = run_jvm(cp, args, run_dir, data_dir)
        failed_faces = {}
        if args.workload in FACE_WORKLOADS:
            import oracle
            failed_faces = {k: v for k, v in
                            oracle.check(data_dir, run_dir / "results").items() if v}
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    e2e = metrics.end_to_end(raw, failed_faces)
    layers = metrics.per_layer(raw) if args.trace else {}
    failed_ops = [{"op": o["id"], "name": o["desc"],
                   "error": o["error"] or f"oracle: {failed_faces[o['name']]}"}
                  for o in raw["ops"] if o["error"] or o["name"] in failed_faces]
    attempted = len(raw["ops"])
    correct = not failed_ops and not raw["warmup_failures"] and attempted > 0

    results = BUILD / "results"
    results.mkdir(parents=True, exist_ok=True)
    detail = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "cores": args.cores, "heap": args.heap, "scale": args.scale or SCALE[args.workload],
        "ops_in_window": attempted, "passes": raw["passes"], "window_s": raw["window_s"],
        "setup_phases_s": raw["setup_phases_s"], "end_to_end": e2e, "per_layer": layers,
        "failed": failed_ops, "oracle_failures": failed_faces,
        "warmup_failures": raw["warmup_failures"],
        "span_self_times": metrics.span_self_times(raw["spans"]),
        "raw": raw,
    }
    (results / f"{name}.json").write_text(json.dumps(detail))

    for k, unit in metrics.END_TO_END.items():
        log(f"{args.workload} {k} = {e2e[k]:.6g} {unit}")
    log(f"{args.workload}: {attempted} ops in {raw['passes']} passes, "
        f"{len(failed_ops)} failed; detail in {results / (name + '.json')}")
    chosen = layers if args.trace else e2e
    units = metrics.PER_LAYER if args.trace else metrics.END_TO_END
    line = {"correct": correct, "attempted": attempted, "failed": len(failed_ops),
            "metrics": {k: {"value": chosen[k], "unit": units[k]} for k in units}}
    print(json.dumps(line, separators=(",", ":")), flush=True)
    return detail


if __name__ == "__main__":
    main()
