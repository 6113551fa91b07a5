#!/usr/bin/env python3
"""Warehouse benchmark launcher.

Run from the root of a checkout:

    python3 warebench/run.py --workload ingest|batch --seed N \
        --seconds S --trace 0|1

Builds the library and the benchmark from source with sbt when the
sources changed (first run: about a minute), then runs ONE workload in a
fresh JVM launched directly (fixed heap, local[N] with N <= nproc) and
prints, as its last line, one JSON object with `correct`, `attempted`,
`failed` and `metrics`: every `end_to_end` metric of BENCHMARK.json with
`--trace 0`, every `per_layer` metric with `--trace 1`. Traced runs also
write a span file and a per-layer rollup under `.bench_build/trace/`,
and report the tracing overhead against the untraced runs of the same
build.
All run data lives in a fresh directory under `.bench_build/runs/`,
deleted at exit. Input data: the sf0.1 star schema in
$SPARK_GRAFT_SF_DIR, by default the directory `graft.Bench` reads. See
warebench/NOTES.md for the design.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import signal
import statistics
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = ROOT / ".bench_build"

WORKLOADS = ("ingest", "batch")
HEAP = "2g"
JVM_TIMEOUT_S = 165
# Spark 4 on JDK 17 outside spark-submit (as in the root build.sbt).
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
    print(f"warebench: {msg}", file=sys.stderr)
    sys.exit(2)


def bench_sf_dir():
    """The sf directory `graft.Bench` defaults to, read from its source so
    that both always measure the same data."""
    src = (ROOT / "src" / "main" / "scala" / "graft" / "Bench.scala")
    m = re.search(r'"SPARK_GRAFT_SF_DIR",\s*"([^"]+)"', src.read_text())
    if not m:
        fail("cannot find the default sf directory in graft.Bench")
    return m.group(1)


def source_stamp():
    """Hash of everything the build compiles, so a changed source rebuilds."""
    h = hashlib.sha256()
    files = [ROOT / "build.sbt", ROOT / "project" / "build.properties",
             HERE / "build.sbt", HERE / "project" / "build.properties"]
    for base in (ROOT / "src" / "main", HERE / "src"):
        files += sorted(p for p in base.rglob("*") if p.is_file())
    for p in files:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def build():
    """Compile with sbt (offline, as the repo's own test gate does) and
    return the runtime classpath and the source stamp."""
    BUILD.mkdir(exist_ok=True)
    cp_file, stamp_file = BUILD / "classpath.txt", BUILD / "stamp"
    stamp = source_stamp()
    if cp_file.exists() and stamp_file.exists() and \
            stamp_file.read_text() == stamp:
        return cp_file.read_text().strip(), stamp
    log = BUILD / "build.log"
    with open(log, "w") as out:
        r = subprocess.run(
            ["sbt", "-batch", "-Dsbt.server.autostart=false",
             "compile", "export Runtime/fullClasspath"],
            cwd=HERE, stdout=out, stderr=subprocess.STDOUT, timeout=850)
    lines = log.read_text().splitlines()
    cps = [l for l in lines if "scala-2.13/classes" in l and
           not l.startswith("[")]
    if r.returncode != 0 or not cps:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail(f"build failed (exit {r.returncode}); see {log}")
    cp_file.write_text(cps[-1].strip())
    stamp_file.write_text(stamp)
    return cps[-1].strip(), stamp


def run_jvm(cp, args, run_dir, timeout=None):
    tmp = run_dir / "tmp"
    tmp.mkdir(parents=True)
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData",
            "-Duser.timezone=UTC",
            f"-Djava.io.tmpdir={tmp}",
            f"-Dspark.local.dir={run_dir / 'spark-local'}",
            f"-Dspark.sql.warehouse.dir={run_dir / 'warehouse'}",
            "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC"] +
           [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           ["-cp", cp, "warebench.Main"] + args)
    log = run_dir / "jvm.log"
    with open(log, "w") as out:
        p = subprocess.Popen(cmd, cwd=run_dir, stdout=out,
                             stderr=subprocess.STDOUT, start_new_session=True)

        def stop(signum, _frame):
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            shutil.copy(log, BUILD / "failed-jvm.log")
            shutil.rmtree(run_dir, ignore_errors=True)
            sys.exit(128 + signum)
        signal.signal(signal.SIGTERM, stop)
        signal.signal(signal.SIGINT, stop)
        try:
            code = p.wait(timeout=timeout or JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            code = None
        finally:
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()
    shutil.copy(log, BUILD / "last-jvm.log")
    if code != 0:
        shutil.copy(log, BUILD / "failed-jvm.log")
        sys.stderr.write("\n".join(l for l in log.read_text().splitlines()
                                   if " INFO " not in l)[-4000:])
        fail("run timed out" if code is None else f"JVM exited {code}")


def history(stamp, workload):
    """Untraced results of this build, one JSON line per run."""
    return BUILD / "results" / stamp[:16] / f"{workload}.jsonl"


def overhead_pct(stamp, workload, traced_p50):
    """Traced op p50 against the median op p50 of the untraced runs of
    the same build; None when there are none yet."""
    hist = history(stamp, workload)
    if not hist.exists():
        return None
    p50s = [json.loads(l)["op_p50_ms"] for l in hist.read_text().splitlines()
            if l.strip()]
    if not p50s:
        return None
    return (traced_p50 / statistics.median(p50s) - 1.0) * 100.0


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = ap.parse_args()

    if not (ROOT / "build.sbt").is_file() or \
            not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        fail(f"no warehouse sources under {ROOT}; run from a full checkout")
    spec_file = ROOT / "BENCHMARK.json"
    if not spec_file.is_file():
        fail("BENCHMARK.json not found at the checkout root")
    spec = json.loads(spec_file.read_text())
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR") or bench_sf_dir()
    if not Path(sf_dir, "orders.parquet").exists():
        fail(f"input data not found in {sf_dir}")

    cp, stamp = build()
    nproc = len(os.sched_getaffinity(0))
    cores = min(4, nproc)
    cache = BUILD / "gen" / stamp[:16]

    def jvm(workload, seed, seconds, trace, timeout=None):
        run_dir = BUILD / "runs" / f"{workload}-{seed}-{os.getpid()}"
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            run_jvm(cp, [
                "--workload", workload, "--seed", str(seed),
                "--seconds", str(seconds), "--trace", str(trace),
                "--sf", sf_dir, "--run-dir", str(run_dir),
                "--trace-dir", str(BUILD / "trace"),
                "--cache-dir", str(cache), "--bench-dir", str(HERE),
                "--cores", str(cores)],
                run_dir, timeout)
            result = run_dir / "result.json"
            return json.loads(result.read_text()) if result.exists() else None
        finally:
            shutil.rmtree(run_dir, ignore_errors=True)

    # the seed-independent ingest inputs, generated once per build
    if not (cache / "_DONE").exists():
        shutil.rmtree(BUILD / "gen", ignore_errors=True)
        jvm("gen", 0, 0, 0, timeout=600)
    res = jvm(a.workload, a.seed, a.seconds, a.trace)
    if res is None:
        fail("the run wrote no result")

    correct = bool(res["correct"])
    if a.trace:
        layers = dict(res["layers"])
        tp = layers.get("trace.op_p50_ms")
        ov = overhead_pct(stamp, a.workload, tp) if tp else None
        res["diag"]["trace_overhead_pct"] = (
            "no untraced run of this build yet" if ov is None else ov)
        rollup = BUILD / "trace" / f"{a.workload}-seed{a.seed}.rollup.json"
        r = json.loads(rollup.read_text())
        r["overhead_pct"] = ov
        rollup.write_text(json.dumps(r) + "\n")
        names = spec["per_layer"]
        values = {m["name"]: layers.get(m["name"]) for m in names}
        # a layer the workload leaves idle reports zero work
        values = {k: (0.0 if v is None else v) for k, v in values.items()}
        res["diag"]["unlisted_layers"] = {
            k: v for k, v in sorted(layers.items()) if k not in values}
    else:
        names = spec["end_to_end"]
        values = {m["name"]: res["e2e"].get(m["name"]) for m in names}
        if any(v is None for v in values.values()):
            correct = False
            values = {k: (0.0 if v is None else v) for k, v in values.items()}
        if correct:
            hist = history(stamp, a.workload)
            hist.parent.mkdir(parents=True, exist_ok=True)
            with open(hist, "a") as f:
                f.write(json.dumps(values) + "\n")
    print(json.dumps({"diag": res["diag"]}))
    print(json.dumps({
        "correct": correct,
        "attempted": int(res["attempted"]),
        "failed": int(res["failed"]),
        "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
                    for m in names},
    }))


if __name__ == "__main__":
    main()
