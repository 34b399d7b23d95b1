"""Seeded input generators and the per-repetition driver of the benchmark
workloads.

Every generator is a pure function of its seed: the same seed yields the
same documents, so two runs on one seed process identical inputs. Rows have
the corpus shape (doc_id, spans[kind, text, media_ref, offset]) with spans
stored shuffled, as `sources.corpus.doc_row` stores them.
"""

from __future__ import annotations

import os
import random
import time
from collections.abc import Callable
from dataclasses import dataclass

import pyarrow as pa
import pyarrow.parquet as pq

from pdf_extractor_spark.sources.corpus import doc_row

# Sizes. One repetition of mixed, whale_spans or short_invoices takes about
# 4 s on a 4-core host (resume_waves about 8 s, mostly per-wave overhead), and
# the first one of a session about 20 s.
MIXED_DOCS = 5_000
WHALE_DOCS = 24
INVOICE_DOCS = 5_000
NUM_BUCKETS = 16
RUN_ID = "bench"

# skew tail of doc_row: doc i is a whale iff i % 1000 == 999, with
# randint(2000, 10000) spans drawn first from its per-doc RNG
WHALE_MIN_SPANS, WHALE_MAX_SPANS = 2_000, 10_000

_SPAN = pa.struct(
    [
        pa.field("kind", pa.string(), False),
        pa.field("text", pa.string()),
        pa.field("media_ref", pa.string()),
        pa.field("offset", pa.int32(), False),
    ]
)
ARROW_SCHEMA = pa.schema(
    [
        pa.field("doc_id", pa.string(), False),
        pa.field("spans", pa.list_(pa.field("element", _SPAN)), False),
    ]
)

Row = tuple[str, list[dict]]


def mixed_rows(seed: int, n: int = MIXED_DOCS) -> list[Row]:
    """The production-shaped mix: doc_row 0..n-1, 1 in 1000 a whale. The
    whales are drawn stratified (whale_rows), so their total span count,
    which sets a third of the work, does not swing with the seed."""
    return [doc_row(i, seed) for i in range(n) if i % 1000 != 999] + whale_rows(
        seed, n // 1000
    )


def _whale_span_count(i: int, seed: int) -> int:
    # doc_row's first draw for a skew-tail doc; checked against the
    # generated doc in whale_rows
    rng = random.Random((seed << 20) ^ i)
    return rng.randint(WHALE_MIN_SPANS, WHALE_MAX_SPANS)


def whale_rows(seed: int, n: int = WHALE_DOCS) -> list[Row]:
    """n skew-tail documents, one per equal-width span-count stratum of
    [2000, 10000]: a seeded sample whose sizes still cover the whole tail
    but whose total span count is the same on every seed."""
    width = (WHALE_MAX_SPANS - WHALE_MIN_SPANS + 1) / n
    chosen: dict[int, int] = {}
    i = 999
    while len(chosen) < n:
        stratum = int((_whale_span_count(i, seed) - WHALE_MIN_SPANS) / width)
        chosen.setdefault(stratum, i)
        i += 1000
    rows = [doc_row(i, seed) for i in sorted(chosen.values())]
    for i, (_, spans) in zip(sorted(chosen.values()), rows):
        if len(spans) != _whale_span_count(i, seed):
            raise RuntimeError("doc_row no longer draws the whale size first")
    return rows


_EMITTERS = ("ACME Ltda", "Comercial Sul SA", "Ferragens Norte ME", "Padaria Boa Vista")


def _money(rng: random.Random, lo: int, hi: int) -> tuple[int, str]:
    cents = rng.randint(lo, hi)
    whole, frac = divmod(cents, 100)
    return cents, f"{whole:,}".replace(",", ".") + f",{frac:02d}"


def _digits(rng: random.Random, n: int) -> str:
    return "".join(rng.choice("0123456789") for _ in range(n))


def invoice_row(i: int, seed: int) -> Row:
    """A short NF-e document, one text span per line of the invoice-fields
    fixture (sources.corpus.T8_INVOICE_FIELDS) with seeded field values:
    every doc is classified, templated, validated, and checked by the
    schema's custom SQL condition (totals add up in ~80% of docs)."""
    rng = random.Random((seed << 24) ^ (i * 2654435761))
    tax_c, tax = _money(rng, 0, 500_000)
    disc_c, disc = _money(rng, 0, 50_000)
    ship_c, ship = _money(rng, 0, 20_000)
    total_c = tax_c + disc_c + ship_c
    if rng.random() < 0.2:
        total_c += rng.randint(1, 10_000)
    whole, frac = divmod(total_c, 100)
    total = f"{whole:,}".replace(",", ".") + f",{frac:02d}"
    d = _digits(rng, 14)
    c = _digits(rng, 11)
    lines = [
        f"NF-e nº {rng.randint(1, 999_999)}",
        f"DATA DE EMISSÃO: {rng.randint(1, 28):02d}/{rng.randint(1, 12):02d}/"
        f"{rng.randint(2015, 2025)}",
        f"VALOR TOTAL DA NOTA: {total}",
        f"IMPOSTOS: {tax}",
        f"DESCONTO: {disc}",
        f"FRETE: {ship}",
        f"EMITENTE: {rng.choice(_EMITTERS)}",
        f"CNPJ: {d[:2]}.{d[2:5]}.{d[5:8]}/{d[8:12]}-{d[12:]}",
        f"CPF: {c[:3]}.{c[3:6]}.{c[6:9]}-{c[9:]}",
        f"EMAIL: contato{rng.randint(1, 9999)}@acme.com.br",
        f"Chave de Acesso: {_digits(rng, 44)}",
    ]
    spans = [
        {"kind": "text", "text": t, "media_ref": None, "offset": k}
        for k, t in enumerate(lines)
    ]
    rng.shuffle(spans)
    return f"inv-{i:012d}", spans


def invoice_rows(seed: int, n: int = INVOICE_DOCS) -> list[Row]:
    return [invoice_row(i, seed) for i in range(n)]


def write_parquet(rows: list[Row], path: str, files: int) -> None:
    """The flat input layout: `files` parquet files of consecutive docs."""
    os.makedirs(path, exist_ok=True)
    table = pa.table(
        {"doc_id": [d for d, _ in rows], "spans": [s for _, s in rows]},
        schema=ARROW_SCHEMA,
    )
    step = -(-len(rows) // files)
    for k in range(files):
        part = table.slice(k * step, step)
        if part.num_rows:
            pq.write_table(part, os.path.join(path, f"part-{k:05d}.parquet"))


@dataclass
class Rep:
    """One timed repetition: wall and CPU seconds to commit every doc, the
    same for the resumed run_pipeline call, and the buckets the lineage
    table showed committed before it."""

    wall_s: float
    cpu_s: float
    resume_s: float
    resume_cpu_s: float
    buckets_skipped: int


def _timed_run(spark, docs, out_dir: str, waves: int, fail_after_wave, cpu) -> Rep:
    """run_pipeline, allowed to stop with its simulated failure, then the
    resumed run_pipeline. wall_s and cpu_s cover the calls it takes to
    commit every doc: the first alone if it did not fail, else both. `cpu`
    returns the CPU seconds used so far by the processes that do the work.

    After a first call that did not fail, the resume commits nothing: it
    reads the lineage table, finds every bucket done and returns."""
    from pdf_extractor_spark.pipeline import completed_buckets, run_pipeline

    kw = {"run_id": RUN_ID, "num_buckets": NUM_BUCKETS, "waves": waves}
    c0, t0 = cpu(), time.perf_counter()
    try:
        run_pipeline(spark, docs, out_dir, fail_after_wave=fail_after_wave, **kw)
    except RuntimeError as e:
        if fail_after_wave is None or "simulated failure" not in str(e):
            raise
    wall, cpu_s = time.perf_counter() - t0, cpu() - c0
    skipped = len(completed_buckets(spark, os.path.join(out_dir, "metrics"), RUN_ID))
    c0, t0 = cpu(), time.perf_counter()
    run_pipeline(spark, docs, out_dir, resume=True, **kw)
    resume_s, resume_cpu_s = time.perf_counter() - t0, cpu() - c0
    if fail_after_wave is not None:
        wall, cpu_s = wall + resume_s, cpu_s + resume_cpu_s
    return Rep(wall, cpu_s, resume_s, resume_cpu_s, skipped)


@dataclass(frozen=True)
class Workload:
    """`rows` generates the input from the seed; `bucketed` lays it out
    bucket-partitioned (write_bucketed_input) instead of flat; `waves` and
    `fail_after_wave` are the run_pipeline arguments of the first call.

    With fail_after_wave=None the first call commits every bucket and the
    resumed call only reads the lineage table and skips them all."""

    name: str
    rows: Callable[[int], list[Row]]
    bucketed: bool = False
    waves: int = 1
    fail_after_wave: int | None = None

    def run(self, spark, docs, out_dir: str, cpu) -> Rep:
        return _timed_run(spark, docs, out_dir, self.waves, self.fail_after_wave, cpu)


WORKLOADS = {
    w.name: w
    for w in (
        Workload("mixed", mixed_rows),
        Workload("whale_spans", whale_rows),
        Workload("short_invoices", invoice_rows),
        Workload("resume_waves", mixed_rows, bucketed=True, waves=4, fail_after_wave=1),
    )
}
