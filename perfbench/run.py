"""Extraction-pipeline benchmark: run_pipeline end to end on one seeded
workload, on local[nproc] from one driver process.

    python3 perfbench/run.py --workload mixed --seed 1 --seconds 12 --trace 0

Workloads are defined in workloads.py; BENCHMARK.json names the ones the
regression runs use, the others (whale_spans, resume_waves) run the same way.

Protocol: build the session; generate and lay out the input three times
(the median counts toward setup_s); run the workload WARMUP_REPS times as
warmup; then repeat it until --seconds have passed and at least MIN_REPS
times, and report medians. The last repetition's output is checked: every
input doc exactly once in extracted/ and metrics/, no doc with an error,
and a seeded sample plus every whale equal to the per-document oracle.
--trace 1 alternates untraced repetitions with repetitions whose queries
are captured for their plan metrics, then times the cut points and the
oracle kernels, and reports the per-layer metrics.

The end-to-end metrics of BENCHMARK.json are CPU time: user plus system
seconds of the driver, the JVM and its Python workers, read from /proc.
On a host whose virtual CPUs are shared, wall time follows the neighbours'
load (hypervisor steal, which these counters leave out). A repetition's
CPU time leaves out the JVM's JIT compiler threads, which keep compiling
for minutes after a session starts; setup_s (session build, median input
layout, warmup) counts them. The wall-clock forms (wall_s, docs_per_s,
spans_per_s, resume_s, setup_wall_s) are in the full report.

The last stdout line is the result JSON; the line before it is the full
report (host stamp, per-repetition samples with the 1-min load average
around each, correctness counts, every metric with its unit), which is also
written to perfbench/results/, and a traced run writes its raw per-layer
samples there as <workload>-seed<n>-layers.json. Everything the run writes
stays under perfbench/. Exits 1 if the output is incorrect, 2 if the
package to benchmark is not next to this directory.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = HERE / ".work"
RESULTS = HERE / "results"
SETUP_REPEATS = 3
WARMUP_REPS = 2
MIN_REPS = 4
MIN_TRACED_REPS = 2
# reported end-to-end but kept out of BENCHMARK.json: the wall-clock forms
# of its CPU-time metrics, which swing with the host's load, and the gates
# that must read 0
REPORT_UNITS = {
    "cpu_s": "s",
    "resume_cpu_s": "s",
    "docs_per_s": "docs/s",
    "spans_per_s": "spans/s",
    "wall_s": "s",
    "resume_s": "s",
    "setup_wall_s": "s",
    "mismatch_docs": "count",
    "failed_doc_ratio": "ratio",
}
_T0 = time.perf_counter()


def _log(msg: str) -> None:
    print(f"perfbench {time.perf_counter() - _T0:7.1f}s {msg}", file=sys.stderr, flush=True)


def _loadavg() -> float:
    return os.getloadavg()[0]


def _mem_total_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def _cpus() -> int:
    return len(os.sched_getaffinity(0))


def host_stamp() -> dict:
    import duckdb
    import pyarrow
    import pyspark

    return {
        "nproc": _cpus(),
        "mem_total_mb": _mem_total_mb(),
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "duckdb": duckdb.__version__,
    }


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    return kids


def process_tree(pid: int) -> list[int]:
    kids, out, todo = _children(), [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, ()))
    return out


_TICK_S = 1 / os.sysconf("SC_CLK_TCK")
_JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


def _stat_cpu(path: str, fields: slice) -> tuple[str, float]:
    """(comm, CPU seconds) from a /proc stat file; ("", 0) once it is gone."""
    try:
        with open(path) as f:
            head, tail = f.read().rsplit(")", 1)
    except OSError:
        return "", 0.0
    return head.split("(", 1)[1], sum(int(v) for v in tail.split()[fields]) * _TICK_S


def cpu_seconds(pid: int) -> tuple[float, float]:
    """(work, jit): CPU seconds, user and system, of this process and of the
    process tree under `pid` (children that ended and were reaped included),
    split into the JVM's JIT compiler threads and everything else. The
    kernel leaves time stolen by the hypervisor out of these counters."""
    work, jit = sum(os.times()[:4]), 0.0
    for p in process_tree(pid):
        work += _stat_cpu(f"/proc/{p}/stat", slice(11, 15))[1]
        try:
            tids = os.listdir(f"/proc/{p}/task")
        except OSError:
            continue
        for t in tids:
            comm, s = _stat_cpu(f"/proc/{p}/task/{t}/stat", slice(11, 13))
            if comm.startswith(_JIT_THREADS):
                jit += s
    return work - jit, jit


def parquet_bytes(*dirs: Path) -> int:
    return sum(p.stat().st_size for d in dirs for p in Path(d).rglob("*.parquet"))


def put_repo_on_worker_path() -> None:
    """Python workers import pdf_extractor_spark from this checkout,
    whatever the working directory."""
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )


def start_session():
    """local[nproc] session with the driver heap sized to the host and
    every scratch file (shuffle, spill, JVM and Python temp) under WORK."""
    for d in ("spark-local", "tmp", "warehouse"):
        (WORK / d).mkdir(parents=True, exist_ok=True)
    put_repo_on_worker_path()
    os.environ["SPARK_LOCAL_DIRS"] = str(WORK / "spark-local")
    os.environ["TMPDIR"] = str(WORK / "tmp")
    from pdf_extractor_spark.session import build_session

    cpus = _cpus()
    heap_mb = min(4096, max(1024, _mem_total_mb() // 8))
    # fixed JIT compiler threads: one that exits would take its CPU time out
    # of the counters cpu_seconds subtracts
    java_opts = (
        "-XX:+UseParallelGC -XX:-UseDynamicNumberOfCompilerThreads -XX:-UsePerfData"
        f" -Djava.io.tmpdir={WORK / 'tmp'}"
    )
    spark = build_session(
        "perfbench",
        master=f"local[{cpus}]",
        extra_conf={
            "spark.driver.memory": f"{heap_mb}m",
            "spark.driver.extraJavaOptions": java_opts,
            "spark.sql.warehouse.dir": str(WORK / "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    # run_pipeline's lineage probe of a missing table logs a stack trace
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark, then end the JVM and its Python workers and wait for
    every one of them."""
    gw = spark.sparkContext._gateway
    proc = gw.proc
    pids = process_tree(proc.pid)
    spark.stop()
    # no gw.shutdown(): with the (daemon) callback server started it blocks
    # on the JVM's open callback connection; the JVM exits at EOF on stdin
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    deadline = time.monotonic() + 30
    for p in pids:
        while os.path.exists(f"/proc/{p}") and time.monotonic() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{p}"):
            try:
                os.kill(p, 9)
            except ProcessLookupError:
                pass


def setup_input(spark, wl, seed: int) -> tuple[list, Path]:
    """Generate the workload's rows and write its input layout."""
    from workloads import NUM_BUCKETS, write_parquet

    from pdf_extractor_spark.pipeline import write_bucketed_input

    rows = wl.rows(seed)
    flat = WORK / "input_flat"
    shutil.rmtree(flat, ignore_errors=True)
    write_parquet(rows, str(flat), files=_cpus())
    if not wl.bucketed:
        return rows, flat
    bucketed = WORK / "input_bucketed"
    write_bucketed_input(spark.read.parquet(str(flat)), str(bucketed), NUM_BUCKETS)
    return rows, bucketed


def measure(args) -> dict:
    import check
    import layers
    from workloads import WORKLOADS

    wl = WORKLOADS[args.workload]
    cpu0, t0 = sum(os.times()[:4]), time.perf_counter()
    spark = start_session()
    jvm = spark.sparkContext._gateway.proc.pid

    def cpu() -> float:
        return cpu_seconds(jvm)[0]

    def all_cpu() -> float:
        return sum(cpu_seconds(jvm))

    session = {"wall_s": time.perf_counter() - t0, "cpu_s": all_cpu() - cpu0}
    _log(f"session {session}")
    try:
        layouts = []
        for _ in range(SETUP_REPEATS):
            c0, t0 = all_cpu(), time.perf_counter()
            rows, input_path = setup_input(spark, wl, args.seed)
            layouts.append({"wall_s": time.perf_counter() - t0, "cpu_s": all_cpu() - c0})
        _log(f"input {len(rows)} docs, layouts {layouts}")
        docs = spark.read.parquet(str(input_path))
        out_dir = WORK / "out"

        def rep():
            shutil.rmtree(out_dir, ignore_errors=True)
            before, jit0 = _loadavg(), cpu_seconds(jvm)[1]
            r = wl.run(spark, docs, str(out_dir), cpu)
            jit = cpu_seconds(jvm)[1] - jit0
            return {**vars(r), "jit_s": jit, "loadavg_1m": [before, _loadavg()]}

        warm = [rep() for _ in range(WARMUP_REPS)]
        _log("warmup " + " ".join(
            f"{k} {[round(r[k], 2) for r in warm]}" for k in ("wall_s", "cpu_s", "jit_s")
        ))

        capture = layers.QueryCapture(spark) if args.trace else None
        plain, traced = [], []
        deadline = time.perf_counter() + args.seconds
        min_plain = MIN_TRACED_REPS if capture else MIN_REPS
        while (
            time.perf_counter() < deadline
            or len(plain) < min_plain
            or (capture and len(traced) < MIN_TRACED_REPS)
        ):
            if capture and len(plain) > len(traced):
                capture.drain()
                capture.enabled = True
                traced.append(rep())
                capture.drain()
                capture.enabled = False
            else:
                plain.append(rep())
        _log(f"measured {len(plain)} reps, {len(traced)} traced")

        t0 = time.perf_counter()
        chk = check.check_output(spark, rows, str(out_dir), args.seed)
        check_s = time.perf_counter() - t0
        _log(f"check {check_s:.1f}s {chk}")

        def med(key: str, samples=plain) -> float:
            return statistics.median(r[key] for r in samples)

        def setup(key: str) -> float:
            jit = sum(r["jit_s"] for r in warm) if key == "cpu_s" else 0.0
            return session[key] + med(key, layouts) + sum(r[key] for r in warm) + jit

        wall, cpu_s = med("wall_s"), med("cpu_s")
        n_spans = sum(len(s) for _, s in rows)
        in_bytes = parquet_bytes(input_path)
        e2e = {
            "docs_per_cpu_s": len(rows) / cpu_s,
            "spans_per_cpu_s": n_spans / cpu_s,
            "resume_cpu_s": med("resume_cpu_s"),
            "setup_s": setup("cpu_s"),
            "out_bytes_per_in_byte": parquet_bytes(out_dir / "extracted", out_dir / "metrics")
            / in_bytes,
            "cpu_s": cpu_s,
            "docs_per_s": len(rows) / wall,
            "spans_per_s": n_spans / wall,
            "wall_s": wall,
            "resume_s": med("resume_s"),
            "setup_wall_s": setup("wall_s"),
            "mismatch_docs": chk["mismatch_docs"],
            "failed_doc_ratio": chk["failed_doc_ratio"],
        }
        report = {
            "workload": wl.name,
            "seed": args.seed,
            "trace": args.trace,
            "host": host_stamp(),
            "docs": len(rows),
            "spans": n_spans,
            "session": session,
            "layouts": layouts,
            "warmup_reps": warm,
            "reps": plain,
            "check": chk,
            "check_s": check_s,
            "end_to_end": e2e,
        }
        if capture:
            report["traced_reps"] = traced
            report["per_layer"], report["layers"] = per_layer(
                spark, args, capture, plain, traced, input_path, in_bytes, out_dir,
                rows, chk, session["wall_s"],
            )
            capture.close()
            _log("per-layer metrics done")
        return report
    finally:
        stop_session(spark)
        _log("session stopped")


def per_layer(spark, args, capture, plain, traced, input_path, in_bytes, out_dir,
              rows, chk, session_s) -> tuple[dict, dict]:
    """The per-layer metrics, and the raw samples they come from."""
    import random

    import layers
    from workloads import RUN_ID

    from pdf_extractor_spark.pipeline import completed_buckets

    pm = layers.plan_metrics(capture.events, len(traced))
    capture.events.clear()
    cut_samples, codegen_samples = layers.cut_points(spark, str(input_path))
    cuts = {k: statistics.median(v) for k, v in cut_samples.items()}
    codegen_s = statistics.median(codegen_samples)
    lineage = []
    for _ in range(layers.CUT_REPEATS):
        t0 = time.perf_counter()
        completed_buckets(spark, str(out_dir / "metrics"), RUN_ID)
        lineage.append(time.perf_counter() - t0)
    rng = random.Random(args.seed)
    ids = [d for d, _ in rows]
    sample = rng.sample(ids, min(layers.ORACLE_BATCH, len(ids)))
    kernels = layers.oracle_kernels(spark, str(input_path), sample)
    wall = statistics.median(r["wall_s"] for r in plain)
    traced_wall = statistics.median(r["wall_s"] for r in traced)
    raw = {
        "cut_points_s": cut_samples,
        "codegen_pipeline_s": codegen_samples,
        "plan_metrics_per_rep": pm,
        "lineage_read_s": lineage,
        "oracle_sample_docs": len(sample),
        "oracle_kernels": kernels,
    }
    return {
        "session.build_s": session_s,
        "sources.scan_s": cuts["scan"],
        "sources.input_bytes": in_bytes,
        "spans.sort_s": cuts["sort"] - cuts["shuffle"],
        "spans.lang_s": cuts["lang"] - cuts["sort"],
        "spans.preprocess_s": cuts["normalize"] - cuts["lang"],
        "spans.codegen_pipeline_s": codegen_s,
        "validate.udf_s": cuts["extract"] - cuts["normalize"],
        "validate.python_bytes_sent": pm["pythonDataSent"],
        "validate.python_bytes_received": pm["pythonDataReceived"],
        "validate.python_total_s": pm["pythonTotalTime"],
        "validate.python_init_s": pm["pythonInitTime"],
        "validate.templated_ratio": chk["templated_ratio"],
        **kernels,
        "pipeline.shuffle_s": cuts["shuffle"] - cuts["scan"],
        "pipeline.commit_s": wall - cuts["extract"],
        "pipeline.shuffle_write_s": pm["shuffleWriteTime"],
        "pipeline.shuffle_bytes": pm["shuffleBytesWritten"],
        "pipeline.spill_bytes": pm["spill"],
        "pipeline.files_written": pm["numFiles"],
        "pipeline.lineage_read_s": statistics.median(lineage),
        "pipeline.buckets_skipped": statistics.median(r["buckets_skipped"] for r in plain),
        "pipeline.wave_s": pm["wave_s"],
        "pipeline.partition_span_skew": layers.partition_span_skew(spark, str(input_path)),
        "trace.wall_s": traced_wall,
        "trace.overhead_s": traced_wall - wall,
    }, raw


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not (ROOT / "pdf_extractor_spark" / "pipeline.py").is_file():
        print(f"perfbench: no pdf_extractor_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2

    shutil.rmtree(WORK, ignore_errors=True)
    try:
        report = measure(args)
    finally:
        shutil.rmtree(WORK, ignore_errors=True)

    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    units.update(REPORT_UNITS)
    measured = {**report["end_to_end"], **report.get("per_layer", {})}
    report["metrics"] = {n: {"value": v, "unit": units[n]} for n, v in measured.items()}
    names = [m["name"] for m in spec["per_layer" if args.trace else "end_to_end"]]
    chk = report["check"]
    bad = chk["mismatch_docs"] + chk["not_exactly_once"] + chk["failed_docs"]
    result = {
        "correct": bad == 0,
        "attempted": chk["docs"],
        "failed": bad,
        "metrics": {n: report["metrics"][n] for n in names},
    }
    report["result"] = result
    RESULTS.mkdir(exist_ok=True)
    name = f"{args.workload}-seed{args.seed}"
    (RESULTS / f"{name}-trace{args.trace}.json").write_text(json.dumps(report, indent=1))
    if args.trace:
        (RESULTS / f"{name}-layers.json").write_text(
            json.dumps({"per_layer": report["per_layer"], **report["layers"]}, indent=1)
        )
    print(json.dumps(report))
    print(json.dumps(result))
    return 0 if bad == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
