#!/usr/bin/env python3
"""Benchmark of the sstable tools engine: two closed-loop workloads over
real-format LZ4 'nb' sstables built from seeded inputs.

    python3 perfbench/run.py --workload scan-reports --seed 1 --seconds 10 --trace 0

The first run in a checkout compiles the engine from ../src/main together
with the harness under perfbench/src (sbt, offline). Every run then starts
one JVM (perfbench.Main) that builds the seeded sstable set, warms up, runs
the workload for --seconds, probes the ops the workload does not run, and
writes a raw record. This script reduces that record to the metrics
declared in BENCHMARK.json and prints them as the last stdout line:

    {"correct": true, "attempted": N, "failed": 0, "metrics": {...}}

--trace 0 prints the end-to-end metrics; --trace 1 prints the per-layer
metrics from a run that also records spans (written to perfbench/work/).
"""

import argparse
import hashlib
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

import inputs

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = HERE / "work"
BUILD_RECORD = HERE / "target" / "perfbench-build.json"

# Lineitem rows of the seeded input (the engine's sf0.01 test tier has
# 60,000). Ops at this scale are bound by Spark's fixed cost per job and
# task: one single-threaded decode of the whole set (decompression
# included) is about 1-2% of a cfstats op's summed task time, which the
# traced run reports as cfstats.decode_frac. The input is kept this small
# because every run, 48 of them per check, has to fit the time budget.
ROWS = 20000
# Sstable-set writes per run; set-up time reports their median.
SETUP_REPS = 3
GET_SEQUENCE = 1 << 16
JVM_HEAP = "2g"
# A fixed 1 GB young generation under the parallel collector: point gets
# allocate fast, and under G1's adaptive young sizing the collection pauses
# made get_ms_p99 swing from run to run (same-seed spread 0.39 against 0.18
# with these flags).
GC_FLAGS = ["-XX:+UseParallelGC", "-Xmn1g"]
JVM_TIMEOUT_S = 170

WORKLOADS = ("scan-reports", "index-lookups")

OPS = ("cfstats", "purge", "pstats", "sstables", "compact")
STAGE_FIELDS = ("jobs", "stages", "tasks", "task_s", "cpu_s", "gc_s",
                "sched_delay_s", "input_mb", "shuffle_write_mb", "shuffle_read_mb",
                "spill_mb", "driver_s")
QUERY_FIELDS = ("analysis_ms", "optimization_ms", "planning_ms",
                "plan_exchanges", "plan_expands")

END_TO_END = {
    "setup_s": "s", "cfstats_s": "s", "purge_s": "s", "pstats_s": "s",
    "sstables_s": "s", "get_ms_p50": "ms", "get_ms_p99": "ms",
    "compact_s": "s", "compact_space_ratio": "ratio", "ok_frac": "fraction",
    "peak_rss_mb": "MB",
}


def _stage_unit(field):
    if field in ("jobs", "stages", "tasks"):
        return "count"
    return "MB" if field.endswith("_mb") else "s"


PER_LAYER = {
    "compressioninfo.chunks": "count", "compressioninfo.mb_in": "MB",
    "compressioninfo.mb_out": "MB", "compressioninfo.decompress_s": "s",
    "datadb.kernel.events": "count", "datadb.kernel.ns_per_event": "ns",
    "cfstats.decode_frac": "fraction",
    "datadb.scan_s": "s", "datadb.splits": "count", "datadb.scan_task_s": "s",
    "datadb.write_s": "s", "datadb.write_mb": "MB", "datadb.write_files": "count",
    "indexdb.scan_s": "s", "indexdb.entries": "count",
    "statsdb.scan_s": "s", "statsdb.files": "count",
    "pointget.sstables_per_get": "count", "pointget.bloom_reject_frac": "fraction",
    "pointget.bloom_fp_frac": "fraction", "pointget.found_per_get": "count",
    "pointget.events_per_get": "count",
}
for _op in OPS:
    for _f in STAGE_FIELDS:
        PER_LAYER[f"{_op}.{_f}"] = _stage_unit(_f)
    for _f in QUERY_FIELDS:
        PER_LAYER[f"{_op}.{_f}"] = "ms" if _f.endswith("_ms") else "count"
PER_LAYER.update({"trace.overhead_frac": "fraction",
                  "host.steal_frac": "fraction", "host.psi_stall_frac": "fraction"})


# ---------------------------------------------------------------- statistics

def median(xs):
    xs = [x for x in xs if x is not None and not math.isnan(x)]
    return statistics.median(xs) if xs else float("nan")


def tail_percentile(samples, p=0.99, beyond=10):
    """Nearest-rank percentile `p`, if at least `beyond` samples lie above
    its rank; otherwise the highest percentile that has `beyond` samples
    above it. Returns (value, percentile used, sample count)."""
    xs = sorted(samples)
    n = len(xs)
    if n == 0:
        return float("nan"), 0.0, 0
    rank = math.ceil(p * n)  # 1-based nearest rank
    if n - rank >= beyond:
        return xs[rank - 1], p, n
    rank = n - beyond
    if rank < 1:
        return xs[-1], 1.0, n
    return xs[rank - 1], rank / n, n


def union_length(intervals):
    """Total length covered by a set of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_time(span, children):
    """A span's duration minus the part of it its children cover (children
    are clipped to the span)."""
    s, e = span["start"], span["end"]
    clipped = [(max(s, c["start"]), min(e, c["end"])) for c in children]
    return (e - s) - union_length([c for c in clipped if c[1] > c[0]])


# ---------------------------------------------------------------- host noise

def host_sample():
    """CPU steal and total jiffies from /proc/stat and the PSI cpu stall
    clock ("some total=" microseconds) from /proc/pressure/cpu."""
    steal = total = stall = 0
    try:
        with open("/proc/stat") as f:
            vals = [int(v) for v in f.readline().split()[1:]]
        steal, total = (vals[7] if len(vals) > 7 else 0), sum(vals)
    except OSError:
        pass
    try:
        with open("/proc/pressure/cpu") as f:
            for line in f:
                if line.startswith("some"):
                    stall = int(line.split("total=")[1])
    except OSError:
        pass
    return steal, total, stall, time.monotonic()


def host_noise(a, b):
    d_total = b[1] - a[1]
    wall_us = (b[3] - a[3]) * 1e6
    return {"steal_frac": (b[0] - a[0]) / d_total if d_total > 0 else 0.0,
            "psi_stall_frac": (b[2] - a[2]) / wall_us if wall_us > 0 else 0.0}


# ---------------------------------------------------------------- build

def _sources_digest():
    h = hashlib.sha256()
    for base in (ROOT / "src" / "main", HERE / "src", HERE / "build.sbt",
                 HERE / "project" / "build.properties"):
        paths = [base] if base.is_file() else sorted(p for p in base.rglob("*") if p.is_file())
        for p in paths:
            h.update(str(p.relative_to(ROOT)).encode())
            h.update(p.read_bytes())
    return h.hexdigest()


def build():
    """Compile the engine and the harness; return the runtime classpath."""
    if not (ROOT / "src" / "main" / "scala").is_dir():
        raise SystemExit("perfbench: engine sources not found at ../src/main/scala")
    digest = _sources_digest()
    if BUILD_RECORD.is_file():
        rec = json.loads(BUILD_RECORD.read_text())
        if rec.get("digest") == digest:
            return rec["classpath"]
    sbt = shutil.which("sbt")
    if sbt is None:
        raise SystemExit("perfbench: sbt not found on PATH")
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g", "-XX:-UsePerfData"]
    repos = Path.home() / ".sbt" / "repositories"
    if repos.is_file():
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    proc = subprocess.run(
        [sbt, "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdin=subprocess.DEVNULL, capture_output=True,
        text=True, timeout=840)
    lines = [l for l in proc.stdout.splitlines() if "scala-2.13" in l and "classes" in l
             and not l.startswith("[")]
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stdout[-4000:] + proc.stderr[-4000:])
        raise SystemExit("perfbench: build failed")
    BUILD_RECORD.parent.mkdir(parents=True, exist_ok=True)
    BUILD_RECORD.write_text(json.dumps({"digest": digest, "classpath": lines[-1].strip()}))
    return lines[-1].strip()


JDK_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def run_jvm(classpath, args, run_dir):
    java = shutil.which("java")
    if java is None:
        raise SystemExit("perfbench: java not found on PATH")
    tmp = run_dir / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    # -XX:-UsePerfData: no hsperfdata file under the system temp directory
    cmd = [java, "-XX:-UsePerfData", f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", *GC_FLAGS,
           f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for m in JDK_OPENS:
        cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "perfbench.Main"] + args
    log = run_dir / "jvm.log"
    with open(log, "w") as out:
        proc = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, cwd=run_dir)
        try:
            code = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            code = "timeout"
    if code != 0:
        sys.stderr.write(log.read_text()[-6000:])
        raise SystemExit(f"perfbench: benchmark JVM failed ({code})")


# ---------------------------------------------------------------- reduction

def end_to_end(rec):
    ops = [o for o in rec["ops"] if o["phase"] in ("loop", "probe") and not o["traced"]]

    def op_median(kind):
        return median([o["wall_s"] for o in ops if o["kind"] == kind])

    gets = [g["ms"] for g in rec["gets"]
            if g["phase"] in ("loop", "probe") and not g["traced"]]
    p99, p_used, n = tail_percentile(gets)
    failed = len(rec["failures"])
    return {
        "setup_s": rec["setup"]["setup_s"],
        "cfstats_s": op_median("cfstats"), "purge_s": op_median("purge"),
        "pstats_s": op_median("pstats"), "sstables_s": op_median("sstables"),
        "get_ms_p50": median(gets), "get_ms_p99": p99,
        "compact_s": op_median("compact"),
        "compact_space_ratio": median(rec["compact_out_bytes"]) / rec["input"]["all_bytes"],
        "ok_frac": 1.0 - failed / max(1, rec["attempted"]),
        "peak_rss_mb": rec["peak_rss_mb"],
    }, {"get_percentile": p_used, "get_samples": n}


def anatomy(rec, spans, execs):
    """Median over traced op executions of their job, stage, task and
    Catalyst figures. driver_s is the op span's self time with its job
    spans as children: wall time no Spark job covers."""
    by_op = {}
    for s in spans:
        by_op.setdefault(s["op"], []).append(s)
    rows = []
    for o in execs:
        mine = by_op.get(o["id"], [])
        op_span = next((s for s in mine if s["kind"] == "op"), None)
        jobs = [s for s in mine if s["kind"] == "job"]
        stages = [s for s in rec["stages"] if s["op"] == o["id"]]
        queries = [q for q in rec["queries"] if q["op"] == o["id"]]
        row = {"jobs": len(jobs), "stages": len(stages),
               "tasks": sum(s["tasks"] for s in stages),
               "driver_s": self_time(op_span, jobs) / 1e3 if op_span else float("nan")}
        for f in ("task_s", "cpu_s", "gc_s", "sched_delay_s", "input_mb",
                  "shuffle_write_mb", "shuffle_read_mb", "spill_mb"):
            row[f] = sum(s[f] for s in stages)
        for f in QUERY_FIELDS:
            row[f] = sum(q[f] for q in queries)
        rows.append(row)
    return {f: median([r[f] for r in rows]) for f in STAGE_FIELDS + QUERY_FIELDS}


def per_layer(rec, spans, host):
    def execs(kind, phases=("loop", "probe")):
        return [o for o in rec["ops"] if o["kind"] == kind and o["traced"]
                and o["phase"] in phases]

    out = {}
    for kind in OPS:
        for f, v in anatomy(rec, spans, execs(kind)).items():
            out[f"{kind}.{f}"] = v
    # Spark-free isolation passes, one over the whole set each: the chunk
    # layer alone, then the decode kernel on top of it. What the ops read
    # through Spark is each op's input_mb (task input metrics).
    iso = rec["iso"]
    out["compressioninfo.chunks"] = iso["chunks"]
    out["compressioninfo.mb_in"] = iso["mb_in"]
    out["compressioninfo.mb_out"] = iso["mb_out"]
    out["compressioninfo.decompress_s"] = iso["decompress_s"]
    out["datadb.kernel.events"] = iso["kernel_events"]
    out["datadb.kernel.ns_per_event"] = iso["kernel_s"] / iso["kernel_events"] * 1e9
    out["cfstats.decode_frac"] = iso["kernel_s"] / out["cfstats.task_s"]
    loop_gets = [g for g in rec["gets"] if g["phase"] == "loop" and g["traced"]]

    def iso_wall(kind):
        return median([o["wall_s"] for o in execs(kind, ("isolation",))])

    scan = anatomy(rec, spans, execs("scan", ("isolation",)))
    out["datadb.scan_s"] = iso_wall("scan")
    out["datadb.splits"] = scan["tasks"]
    out["datadb.scan_task_s"] = scan["task_s"]
    out["datadb.write_s"] = (median([o["wall_s"] for o in execs("compact")])
                             - iso_wall("merge"))
    out["datadb.write_mb"] = median(rec["compact_out_bytes"]) / 1048576.0
    out["datadb.write_files"] = rec["compact_out_files"]
    out["indexdb.scan_s"] = iso_wall("indexscan")
    out["indexdb.entries"] = iso["index_entries"]
    out["statsdb.scan_s"] = iso_wall("statsscan")
    out["statsdb.files"] = iso["stats_files"]
    n = len(loop_gets)
    checks = sum(g["sstables"] for g in loop_gets)
    bloom_miss = sum(g["bloom_miss"] for g in loop_gets)
    passes_bloom = checks - bloom_miss
    out["pointget.sstables_per_get"] = checks / n if n else 0.0
    out["pointget.bloom_reject_frac"] = bloom_miss / checks if checks else 0.0
    out["pointget.bloom_fp_frac"] = (sum(g["index_miss"] for g in loop_gets) / passes_bloom
                                     if passes_bloom else 0.0)
    out["pointget.found_per_get"] = sum(g["found"] for g in loop_gets) / n if n else 0.0
    out["pointget.events_per_get"] = sum(g["events"] for g in loop_gets) / n if n else 0.0
    traced = [c["wall_s"] for c in rec["cycles"] if c["traced"]]
    plain = [c["wall_s"] for c in rec["cycles"] if not c["traced"]]
    out["trace.overhead_frac"] = median(traced) / median(plain) - 1.0
    out["host.steal_frac"] = host["steal_frac"]
    out["host.psi_stall_frac"] = host["psi_stall_frac"]
    return out


def result_line(rec, metrics, units):
    failures = list(rec["failures"])
    missing = [k for k in units if k not in metrics or metrics[k] is None
               or not math.isfinite(metrics[k])]
    failures += [f"metric_missing.{k}" for k in missing]
    return {
        "correct": not failures,
        "attempted": int(rec["attempted"]),
        "failed": len(failures),
        "metrics": {k: {"value": metrics.get(k), "unit": u} for k, u in units.items()},
    }, failures


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)

    classpath = build()
    tag = f"{a.workload}-s{a.seed}-t{a.trace}"
    run_dir = WORK / tag
    shutil.rmtree(run_dir, ignore_errors=True)
    run_dir.mkdir(parents=True)
    raw = run_dir / "raw.json"
    spans_file = WORK / f"spans-{tag}.json"
    dirs = [run_dir / f"input-{i}" for i in range(SETUP_REPS)]
    gets_file = run_dir / "gets.txt"
    input_record = inputs.write(a.seed, ROWS, dirs, gets_file, GET_SEQUENCE)
    h0 = host_sample()
    run_jvm(classpath, ["--workload", a.workload, "--seed", str(a.seed),
                        "--seconds", str(a.seconds), "--trace", str(a.trace),
                        "--work", str(run_dir), "--inputs", ",".join(map(str, dirs)),
                        "--gets", str(gets_file),
                        "--out", str(raw), "--spans", str(spans_file)], run_dir)
    host = host_noise(h0, host_sample())
    rec = json.loads(raw.read_text())
    if a.trace:
        spans = json.loads(spans_file.read_text())
        metrics = per_layer(rec, spans, host)
        units = PER_LAYER
        extra = {}
    else:
        metrics, extra = end_to_end(rec)
        units = END_TO_END
    line, failures = result_line(rec, metrics, units)
    record = {"workload": a.workload, "seed": a.seed, "trace": a.trace,
              "input": dict(input_record, **rec["input"]), "setup": rec["setup"], "host": host,
              "failures": failures, **extra,
              "cycles": len(rec["cycles"]), "loop_s": rec["loop_s"]}
    (WORK / f"record-{tag}.json").write_text(json.dumps(
        dict(record, result=line), indent=1))
    shutil.move(str(raw), WORK / f"raw-{tag}.json")
    shutil.move(str(run_dir / "jvm.log"), WORK / f"jvm-{tag}.log")
    shutil.rmtree(run_dir, ignore_errors=True)
    print("perfbench " + json.dumps(record), flush=True)
    print(json.dumps(line), flush=True)


if __name__ == "__main__":
    main()
