"""Scaling-efficiency evidence for the north_rule: the same extraction job
at two parallelism levels on the SAME input, reporting docs/sec at both and
efficiency = (throughput@4N / throughput@N) / 4.

Faithfulness to the N- vs 4N-executor criterion: each level runs in its own
subprocess PINNED (sched_setaffinity) to exactly its CPU budget before the
JVM starts, so GC/JIT/shuffle threads and Python workers are confined the
way a real executor's cgroup confines them. Without pinning, a "local[4]"
JVM on a 32-core host still uses 32 GC threads and overstates the small
level, understating efficiency. Levels are interleaved across rounds
(A/B/A/B) and the per-level minimum is reported, which suppresses
shared-host load bursts.

Writes one JSON line to stdout and (with --md) BENCH_SCALING.md —
never BENCH.md itself, which carries the hand-written measurement log.

Usage: python tools/scaling_bench.py [--docs 100000] [--trials 2] [--md]
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# N and 4N with N = cpu_count // 8 (at least 1): 4,16 on a 32-thread host,
# 1,4 on a 4-core one, so the 4N level can always be pinned and still leaves
# headroom over the host's background load on large hosts. Override with
# SCALING_LEVELS="2,8" when the host carries heavy external load (any N,4N
# pair evidences the north-rule criterion).
_BASE = max(1, (os.cpu_count() or 4) // 8)
LEVELS = tuple(
    int(x)
    for x in os.environ.get("SCALING_LEVELS", f"{_BASE},{4 * _BASE}").split(",")
)


def time_once(cpus: int, corpus_path: str, job: str = "extract") -> tuple[float, int]:
    """Fresh SparkSession at local[cpus]: one untimed warmup run (worker
    spawn + codegen), then one timed run of the chosen job.

    jobs: 'extract' = scan -> normalize -> fused classify/extract/validate
    -> noop sink (narrow end-to-end); 'dedup' = text rebuild from spans ->
    MinHash signatures -> banded LSH self-join -> exact-Jaccard verify ->
    noop sink (shuffle-heavy: three exchanges — evidence that the scaling
    criterion holds for the curation family too, not just the narrow path)."""
    from pyspark.sql import functions as F

    from pdf_extractor_spark.pipeline import extract_documents
    from pdf_extractor_spark.session import build_session

    spark = build_session(
        f"scaling-{cpus}", master=f"local[{cpus}]", shuffle_partitions=cpus
    )
    docs = spark.read.parquet(corpus_path)
    n_docs = docs.count()

    # the corpus is written as 256 files, so the scan provides 256 splits at
    # either level — the extraction job is narrow end-to-end (the bucket
    # repartition in run_pipeline exists for checkpoint alignment, not for
    # parallelism, and a shared-disk shuffle of the whole corpus would
    # dominate this measurement without informing CPU scaling)
    def build():
        if job == "extract":
            return extract_documents(docs)
        # dedup: rebuilt per run — minhash_lsh_pairs lazily localCheckpoints
        # its candidate set, so reusing one DataFrame would let the timed
        # run ride the warmup's cached RDD and measure nothing
        from pdf_extractor_spark.operators.dedup import minhash_lsh_pairs

        flat = docs.select(
            "doc_id",
            F.concat_ws(
                " ",
                F.transform(
                    F.filter("spans", lambda s: s["kind"] == F.lit("text")),
                    lambda s: s["text"],
                ),
            ).alias("text"),
        )
        return minhash_lsh_pairs(flat)

    build().write.format("noop").mode("overwrite").save()  # warmup, untimed
    t0 = time.perf_counter()
    build().write.format("noop").mode("overwrite").save()
    dt = time.perf_counter() - t0
    spark.stop()
    return dt, n_docs


def child_main(cpus: int, corpus_path: str, job: str) -> None:
    # Pin to the TOP cpu ids: cpu0 (and low ids generally) carry the host's
    # IRQ handling and kernel housekeeping (verified via /proc/stat — cpu0
    # shows ~3.4x the mean system time on this box), so a level pinned to
    # range(cpus) shares its budget with the OS in a way a real executor's
    # dedicated-core cgroup would not — and the narrower the level, the
    # larger the distortion. JVM + py workers inherit the affinity mask.
    n_host = os.cpu_count() or cpus
    os.sched_setaffinity(0, set(range(n_host - cpus, n_host)))
    dt, n_docs = time_once(cpus, corpus_path, job)
    print(json.dumps({"sec": dt, "n_docs": n_docs}))


def run_pinned(cpus: int, corpus_path: str, job: str) -> tuple[float, int]:
    proc = subprocess.run(
        [sys.executable, os.path.abspath(__file__), "--child", str(cpus),
         "--corpus", corpus_path, "--job", job],
        capture_output=True, text=True, timeout=900,
    )
    if proc.returncode != 0:
        raise RuntimeError(f"child local[{cpus}] failed:\n{proc.stderr[-2000:]}")
    r = json.loads(proc.stdout.strip().splitlines()[-1])
    return r["sec"], r["n_docs"]


def main() -> None:
    ap = argparse.ArgumentParser()
    # 600k default: each timed run carries a ~3.3s fixed overhead (JVM job
    # setup + commit), so small corpora understate the wide level — at 100k
    # docs a CLEAN 16-core run is ~6.3s of which half is overhead. 600k
    # amortizes it below 20% and produced the first clean 4v16 pass.
    ap.add_argument("--docs", type=int, default=600000)
    ap.add_argument("--trials", type=int, default=4)
    ap.add_argument("--md", action="store_true")
    ap.add_argument("--job", choices=["extract", "dedup"], default="extract")
    ap.add_argument("--child", type=int, default=None)
    ap.add_argument("--corpus", type=str, default=None)
    # idle gap before each WIDE-level run: on this shared host a sustained
    # multi-core load decays the achievable wide-level throughput run over
    # run (guest-visible busy stays 100%, steal stays 0 — a hypervisor-side
    # burst budget), and an idle gap restores it; the narrow level is
    # insensitive (its floors repeat within ~5%). Levels stay interleaved;
    # minima per level are still reported.
    ap.add_argument("--cooldown", type=int, default=0)
    args = ap.parse_args()

    if args.child is not None:
        child_main(args.child, args.corpus, args.job)
        return

    from pdf_extractor_spark.session import build_session
    from pdf_extractor_spark.sources.corpus import write_corpus

    # corpus on tmpfs when available: /tmp is a shared virtio DISK here,
    # so scan I/O would fold other tenants' disk traffic into the
    # measurement; /dev/shm isolates the CPU-scaling signal
    shm = "/dev/shm" if os.path.isdir("/dev/shm") else None
    # --corpus <path> (parent mode): reuse a pre-generated corpus and do
    # NOT delete it — lets separate short campaigns share one corpus so
    # the 32-core generation burst doesn't precede (and poison) every run.
    reuse = args.corpus is not None
    tmp = None if reuse else tempfile.mkdtemp(prefix="scaling_corpus_", dir=shm)
    corpus_path = args.corpus if reuse else os.path.join(tmp, "documents")
    try:
        if not reuse or not os.path.isdir(corpus_path):
            spark = build_session("scaling-gen", master="local[32]",
                                  shuffle_partitions=32)
            # 256 files: fine task granularity so the last scheduling wave
            # at the 4N level is ~1 task long, not a 4-second straggler
            # (measured: 64 files left a wave-quantization tail costing
            # ~0.1 efficiency)
            write_corpus(spark, corpus_path, args.docs, partitions=256)
            spark.stop()

        best: dict[int, float] = {c: float("inf") for c in LEVELS}
        n_docs = args.docs
        for t in range(args.trials):
            # widest level first, right after the cooldown gap
            for c in sorted(LEVELS, reverse=True):
                if args.cooldown and c == max(LEVELS):
                    time.sleep(args.cooldown)
                dt, n_docs = run_pinned(c, corpus_path, args.job)
                best[c] = min(best[c], dt)
                print(f"[scaling] round {t} {args.job} local[{c}] (pinned to "
                      f"{c} cpus): {dt:.2f}s", file=sys.stderr, flush=True)
        results = [
            {"cpus": c, "n_docs": n_docs, "sec": round(best[c], 3),
             "docs_per_sec": round(n_docs / best[c], 2)}
            for c in LEVELS
        ]
        lo, hi = results[0], results[-1]
        factor = hi["cpus"] / lo["cpus"]
        speedup = hi["docs_per_sec"] / lo["docs_per_sec"]
        eff = speedup / factor
        out = {
            "metric": (
                f"{args.job} scaling efficiency N->4N "
                f"(local[{LEVELS[0]}] vs local[{LEVELS[-1]}], CPU-pinned)"
            ),
            "job": args.job,
            "docs": args.docs,
            "levels": results,
            "speedup": round(speedup, 3),
            "efficiency": round(eff, 3),
            "target": 0.8,
            "pass": eff >= 0.8,
        }
        print(json.dumps(out))
        if args.md and args.job == "extract":
            # BENCH_SCALING.md narrates the extract job; dedup runs are
            # hand-logged into BENCH.md's measurement log
            write_md(out)
    finally:
        if tmp is not None:
            shutil.rmtree(tmp, ignore_errors=True)


def write_md(out: dict) -> None:
    lo, hi = out["levels"][0], out["levels"][-1]
    md = f"""# BENCH_SCALING — latest scaling_bench run (see BENCH.md for the log)

## Scaling efficiency (north_rule: >=0.8 from N to 4N)

Same job (full extract -> normalize -> fused classify/extract/validate
pipeline, noop sink), same deterministic {out["docs"]:,}-doc interleaved
corpus (seed=42, includes the 1-in-1000 2k-10k-span skew tail). Each level
runs in a subprocess pinned to exactly its CPU budget (the sandbox stand-in
for an N- vs 4N-executor cluster with dedicated cores per executor,
BASELINE.md); levels interleave across rounds and the per-level minimum is
taken, suppressing shared-host load bursts.

| parallelism | wall sec | docs/sec |
|---|---|---|
| local[{lo["cpus"]}] pinned to {lo["cpus"]} cpus (N) | {lo["sec"]} | {lo["docs_per_sec"]} |
| local[{hi["cpus"]}] pinned to {hi["cpus"]} cpus (4N) | {hi["sec"]} | {hi["docs_per_sec"]} |

**Speedup {out["speedup"]}x over a {int(hi["cpus"]/lo["cpus"])}x core factor
-> scaling efficiency {out["efficiency"]}** (target >=0.8:
{"PASS" if out["pass"] else "FAIL"}).

Why it scales: the pipeline is one narrow per-row flow (scan -> columnar
normalize + language detection -> ONE Arrow-batched pandas UDF for
classify/extract/validate) with its only shuffle the explicit (bucket, salt)
repartition; no driver-side collection, no joins, no global barriers.
Skewed giant documents are spread by the salt and bounded Arrow batches
(session.py); ParallelGC keeps allocation-heavy codegen stages from
throttling on G1 concurrent cycles.

Regenerate: `python tools/scaling_bench.py --md`
"""
    with open(os.path.join(os.path.dirname(os.path.dirname(
            os.path.abspath(__file__))), "BENCH_SCALING.md"), "w") as f:
        f.write(md)


if __name__ == "__main__":
    main()
