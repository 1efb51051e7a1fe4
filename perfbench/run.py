#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload star_olap --seed 1 --seconds 5 --trace 0

Run it from the root of a source tree of the engine. The first run builds the
engine's library sources with the benchmark's own sbt build (perfbench/build.sbt)
and caches the classpath; later runs reuse the build while the sources are
unchanged. The JVM run (perfbench.Main) sets up, runs the timed closed loop and
writes a record; this script checks deferred outputs against DuckDB, derives
the metrics, writes the final record under .bench_build/perfbench/records/ and
prints one line per metric followed by a JSON summary as the last line.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

import gen
import oracle

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
OUT = ROOT / ".bench_build" / "perfbench"
TARGET = HERE / "target"
WORKLOADS = ("star_olap", "llm_curation", "incremental_mv")
JVM_TIMEOUT_S = 160
GEN_REPS = 3
BUILD_TIMEOUT_S = 840

# The tail percentile is fixed, so every run and every commit report the same
# statistic. At the op counts a run reaches, fewer than ten samples lie beyond
# it; the record states how many do.
TAIL_PCT = 90

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]

END_TO_END = {
    "setup_s": "s", "latency_p50_s": "s", "latency_tail_s": "s",
    "throughput_rows_per_s": "rows/s", "join_gibs": "GiB/s", "heap_live_mb": "MB",
}


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_hash():
    """Hash of every source the build compiles, so an edit forces a rebuild."""
    h = hashlib.sha256()
    files = sorted((ROOT / "src" / "main").rglob("*")) + sorted((HERE / "src").rglob("*"))
    files += [HERE / "build.sbt", HERE / "project" / "build.properties"]
    for f in files:
        if f.is_file():
            h.update(str(f.relative_to(ROOT)).encode())
            h.update(f.read_bytes())
    return h.hexdigest()


def build():
    """Compile with sbt once per source state. Returns the runtime classpath
    and the sources hash."""
    stamp = TARGET / "perfbench-build.json"
    want = source_hash()
    if stamp.is_file():
        got = json.loads(stamp.read_text())
        if got.get("sources") == want:
            return got["classpath"], want
    sbt = shutil.which("sbt")
    if sbt is None:
        fail("sbt is not on PATH; it is needed to build the engine", 3)
    cmd = [sbt, "-batch", "-Dsbt.log.noformat=true",
           f"-Dsbt.global.base={OUT / 'sbt-global'}", "compile", "export Runtime/fullClasspath"]
    p = subprocess.run(cmd, cwd=HERE, capture_output=True, text=True, timeout=BUILD_TIMEOUT_S)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        fail("build failed", 4)
    classpath = lines[-1].strip()
    stamp.write_text(json.dumps({"sources": want, "classpath": classpath}))
    return classpath, want


def jvm(classpath, tmp):
    """The java command line up to the main class."""
    java = Path(os.environ["JAVA_HOME"]) / "bin" / "java" if os.environ.get("JAVA_HOME") else shutil.which("java")
    tmp.mkdir(parents=True, exist_ok=True)
    # The parallel collector: it spends almost no time per op collecting, and
    # in one ten-seed set per collector star_olap's run-to-run spread was
    # lower under it than under G1 (see perfbench/README.md, Sizing).
    cmd = [str(java), "-Xmx3g", "-XX:+UseParallelGC", f"-Djava.io.tmpdir={tmp}",
           f"-Dspark.local.dir={tmp}", "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    return cmd + ["-cp", classpath]


def run_jvm(classpath, args, work, data, record):
    cmd = jvm(classpath, work / "tmp")
    cmd += ["perfbench.Main", "--workload", args.workload, "--data", str(data),
            "--seconds", str(args.seconds), "--trace", str(args.trace), "--out", str(record)]
    log = work / "jvm.log"
    with open(log, "w") as lf:
        p = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT, cwd=work)
        try:
            rc = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            fail(f"the run exceeded {JVM_TIMEOUT_S} s (log: {log})", 5)
    if rc != 0 or not record.is_file():
        sys.stderr.write(log.read_text()[-6000:])
        fail(f"the JVM run failed with exit code {rc}", 6)


def percentile(xs, p):
    """Linear-interpolated percentile (R-7)."""
    s = sorted(xs)
    h = (len(s) - 1) * p / 100.0
    lo = int(h)
    return s[lo] + (h - lo) * (s[min(lo + 1, len(s) - 1)] - s[lo])


def typical_latency(ops):
    """Mean over op kinds of each kind's median wall; with one kind, the
    median wall. A plain median of a mixed window lands inside whichever
    kind's cluster of walls sits at the middle rank and follows that one
    kind's jitter; here every kind counts once."""
    kinds = {}
    for o in ops:
        kinds.setdefault(o["kind"], []).append(o["wall_s"])
    return statistics.fmean(statistics.median(w) for w in kinds.values())


def join_gibs(refs):
    """(bytes in + bytes out) / s of the median untraced `ref_join` op, failed
    ones included: two tables of two float64 columns in, three float64
    columns out per row. An op's rows are both sides' rows."""
    nrows = refs[0]["rows"] // 2
    return (nrows * 4 * 8 + nrows * 3 * 8) / statistics.median(o["wall_s"] for o in refs) / 2 ** 30


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        fail(f"no engine sources under {ROOT / 'src/main/scala/graft'}; run from a source tree")
    classpath, src_hash = build()

    stamp = time.strftime("%Y%m%dT%H%M%S")
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}-{stamp}-{os.getpid()}"
    work = OUT / "work" / name
    record = OUT / "records" / f"{name}.jvm.json"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    try:
        # input generation, repeated: set-up time reports the median
        gen_s = []
        for r in range(GEN_REPS):
            data = work / f"data{r}"
            t0 = time.perf_counter()
            inputs = gen.generate(args.workload, data, args.seed)
            gen_s.append(time.perf_counter() - t0)
            if r < GEN_REPS - 1:
                shutil.rmtree(data)
        run_jvm(classpath, args, work, data, record)
        rec = json.loads(record.read_text())
        ops = rec["ops"]
        deferred = {o["kind"] for o in ops if o["ok"] is None}
        if deferred:
            want = oracle.expected_digests(data, deferred)
            for o in ops:
                if o["ok"] is None:
                    o["ok"] = o["digest"] == want.get(o["kind"])
                    if not o["ok"]:
                        o["detail"] = f"digest {o['digest']} != oracle {want.get(o['kind'])}"
    finally:
        shutil.rmtree(work, ignore_errors=True)

    attempted = len(ops)
    failed = sum(1 for o in ops if not o["ok"])
    timed = [o for o in ops if not o["traced"] and not o["probe"]]
    refs = [o for o in ops if o["kind"] == "ref_join" and not o["traced"]]
    walls = [o["wall_s"] for o in timed]
    rec["setup"]["generate_s"] = gen_s
    rec["inputs"] = {k: {"rows": r, "bytes": b} for k, (r, b) in inputs.items()}
    metrics = {
        "setup_s": rec["setup"]["session_s"] + statistics.median(gen_s) + rec["setup"]["warmup_s"],
        "latency_p50_s": typical_latency(timed),
        "latency_tail_s": percentile(walls, TAIL_PCT),
        "throughput_rows_per_s": sum(o["rows"] for o in timed if o["ok"]) / sum(walls),
        "join_gibs": join_gibs(refs) if refs else None,
        "heap_live_mb": rec["heap_live_mb"],
    }
    summary = {
        "error_rate": failed / attempted,
        "latency_tail_pct": TAIL_PCT,
        "latency_samples": len(walls),
        "latency_samples_beyond_tail": sum(1 for w in walls if w > metrics["latency_tail_s"]),
        "input_rows": sum(r for r, _ in inputs.values()),
        "input_bytes": sum(b for _, b in inputs.values()),
        "sources_sha256": src_hash,
    }
    final = dict(rec, seed=args.seed, metrics=metrics, summary=summary, attempted=attempted, failed=failed)
    out = OUT / "records" / f"{name}.json"
    out.write_text(json.dumps(final, indent=1))
    record.unlink()

    for o in ops:
        if not o["ok"]:
            print(f"FAILED op {o['i']} {o['kind']}: {o['detail']}")
    for k, v in summary.items():
        print(f"{k} {v}")
    for k, v in rec["extra"].items():
        if not isinstance(v, (list, dict)):
            print(f"{k} {v}")
    print(f"record {out}")
    if args.trace:
        shown = {k: {"value": rec["layers"][k], "unit": u} for k, u in rec["layer_units"]}
    else:
        shown = {k: {"value": v, "unit": END_TO_END[k]} for k, v in metrics.items()}
    for k, m in shown.items():
        print(f"{k} {m['value']} {m['unit']}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": shown}))


if __name__ == "__main__":
    main()
