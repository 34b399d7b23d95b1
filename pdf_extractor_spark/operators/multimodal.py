"""Multimodal column plumbing: image/audio/video as opaque binary columns
with typed metadata, processed by Arrow-batched mapInPandas stages.

The decode kernels themselves are STUBBED (the real libs — PIL/ffmpeg/etc —
are not in this runtime): `_fake_decode` is a pure-arithmetic fake that is
stable across runs/engines (and therefore SQL-mirrorable for the
correctness oracle). Everything AROUND the kernel — schema, Arrow batch
shape, partitioning, output contract — is real and tested.

Schema convention:

    media(media_id string, kind string,              -- image|audio|video
          payload binary, meta struct<width int, height int,
                                      sample_rate int, n_frames int>)
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.StringType(), False),
        T.StructField("kind", T.StringType(), False),
        T.StructField("n_bytes", T.LongType(), True),
        T.StructField("checksum", T.LongType(), True),
        T.StructField("feature", T.ArrayType(T.FloatType()), True),
    ]
)


def media_from_documents(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Derive a deterministic media table from any text table (test/bench
    input): payload = utf-8 bytes of the text, metadata from its length.
    Columnar; exists so the plumbing has scale-proportional input."""
    n = F.length(F.col(text_col))
    return df.select(
        F.concat(F.lit("media-"), F.col("doc_id").cast("string")).alias("media_id"),
        F.when(F.col("doc_id").cast("long") % 3 == 0, F.lit("image"))
        .when(F.col("doc_id").cast("long") % 3 == 1, F.lit("audio"))
        .otherwise(F.lit("video"))
        .alias("kind"),
        F.encode(F.col(text_col), "UTF-8").alias("payload"),
        F.struct(
            (n % 640 + 1).cast("int").alias("width"),
            (n % 480 + 1).cast("int").alias("height"),
            F.lit(16000).alias("sample_rate"),
            (n % 100 + 1).cast("int").alias("n_frames"),
        ).alias("meta"),
    )


def _fake_decode(payload: bytes, dim: int) -> list[float]:
    """Deterministic stand-in for a decode+embed kernel: k-th feature =
    (sum of every (k+1)-th byte) mod 256, scaled to [0,1]."""
    if payload is None:
        return [0.0] * dim
    out = []
    for k in range(dim):
        s = sum(payload[k::dim]) if len(payload) > k else 0
        out.append(round((s % 256) / 255.0, 6))
    return out


def extract_media_features(media: DataFrame, dim: int = 8) -> DataFrame:
    """mapInPandas feature extraction — the real plumbing around the stubbed
    kernel: Arrow batches in, columnar feature frame out, no driver data."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = pdf["payload"]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "n_bytes": payloads.map(lambda b: len(b) if b is not None else 0),
                    "checksum": payloads.map(
                        lambda b: int(sum(b) % 2**31) if b is not None else 0
                    ),
                    "feature": payloads.map(lambda b: _fake_decode(b, dim)),
                }
            )

    return media.mapInPandas(run, FEATURE_SCHEMA)


def resize_images(media: DataFrame, width: int, height: int) -> DataFrame:
    """Image-resize stage: metadata transform is real (columnar); the pixel
    kernel is where a real library would slot in. Payload passes through."""
    return media.filter(F.col("kind") == "image").withColumn(
        "meta",
        F.struct(
            F.lit(width).cast("int").alias("width"),
            F.lit(height).cast("int").alias("height"),
            F.col("meta.sample_rate").alias("sample_rate"),
            F.col("meta.n_frames").alias("n_frames"),
        ),
    )


def sample_frames(media: DataFrame, every_n: int = 10) -> DataFrame:
    """Video frame-sampling plumbing: one output row per sampled frame index
    (explode of a sequence — no Python), payload deferred to the decoder."""
    vids = media.filter(F.col("kind") == "video")
    return vids.select(
        "media_id",
        F.explode(
            F.sequence(
                F.lit(0),
                F.greatest(F.col("meta.n_frames") - 1, F.lit(0)),
                F.lit(every_n),
            )
        ).alias("frame_idx"),
        "meta",
    )


def media_dedup(media: DataFrame) -> DataFrame:
    """Exact media deduplication across the interleaved corpus:
    (digest, n_copies, first_media_id, kinds) — one row per distinct
    payload content, keyed by md5 of the raw bytes. first_media_id (min)
    is the canonical copy to keep; kinds is the sorted comma-joined set of
    media kinds the same bytes appeared as (the same image re-encoded as a
    video poster frame, etc.).

    The binary twin of exact_dedup: at 10^12 media items the shuffle moves
    16-byte digests + ids, never payload bytes — the digest is computed
    map-side inside the scan projection and the groupBy partial-aggregates
    before the exchange. md5 is the cross-engine hash (DuckDB md5 of the
    source string == Spark md5 of its utf-8 payload bytes)."""
    return media.groupBy(F.md5(F.col("payload")).alias("digest")).agg(
        F.count("*").cast("long").alias("n_copies"),
        F.min("media_id").alias("first_media_id"),
        F.array_join(F.sort_array(F.collect_set("kind")), ",").alias("kinds"),
    )


def _phash_sig(feature: "F.Column") -> "F.Column":
    """aHash bit signature of a decoded feature vector: bit k set iff
    feature_k >= 0.5, summed into one long via a sequential fold."""
    bits = F.transform(
        feature,
        lambda x, i: F.when(
            x >= 0.5, F.pow(F.lit(2.0), i).cast("long")
        ).otherwise(F.lit(0).cast("long")),
    )
    return F.aggregate(bits, F.lit(0).cast("long"), lambda acc, x: acc + x)


def media_phash(features: DataFrame) -> DataFrame:
    """(phash, n_items, first_media_id) — perceptual-duplicate clusters:
    the decoded feature vector is thresholded into a bit signature
    (bit k set iff feature_k >= 0.5 — the aHash construction over
    whatever the decode kernel emits) and items sharing a signature
    cluster together. Catches re-encoded copies exact byte dedup misses,
    because the signature is computed from decoded CONTENT features, not
    payload bytes.

    Fully columnar over `extract_media_features` output: a two-arg
    transform (value, index) turns each feature into its power-of-two
    bit, a sequential fold sums them, and one partial-aggregating
    groupBy on the 8-byte hash clusters the corpus — same shuffle
    economics as exact_dedup (keys, never payloads). Near-miss matching
    (Hamming <= d) composes with the simhash pigeonhole blocking in
    operators/dedup.py; the exact-signature cluster is the base case."""
    return (
        features.withColumn("phash", _phash_sig(F.col("feature")))
        .groupBy("phash")
        .agg(
            F.count("*").cast("long").alias("n_items"),
            F.min("media_id").alias("first_media_id"),
        )
    )


def media_captions(docs: DataFrame) -> DataFrame:
    """Image–text pair mining over the interleaved (doc_id, spans) corpus:
    associate every media span with its caption — the nearest text span by
    |offset| distance, preferring the FOLLOWING text span on ties (the
    caption-below-the-image convention). This is the pair-extraction step a
    multimodal (CLIP-style) training pipeline runs over interleaved docs.

    Returns (doc_id, media_ref, media_offset, caption_offset, caption,
    caption_side) — caption_side in ('prev','next'); all-null caption
    columns when the document has no text spans at all.

    Scale: explode + two IGNORE-NULLS window carries (last text at-or-
    before, first text after) over ONE (doc_id, offset) sort — a single
    hash shuffle on doc_id, co-partitioned with the pipeline's bucketing,
    never O(text_spans × media_spans) per doc (the skew tail has 10^4-span
    docs where a per-media scan would be quadratic)."""
    from pyspark.sql import Window

    ex = docs.select(
        "doc_id", F.explode("spans").alias("s")
    ).select(
        "doc_id",
        F.col("s.kind").alias("kind"),
        F.col("s.text").alias("text"),
        F.col("s.media_ref").alias("media_ref"),
        F.col("s.offset").alias("offset"),
    )
    w = Window.partitionBy("doc_id").orderBy("offset")
    before = w.rowsBetween(Window.unboundedPreceding, -1)
    after = w.rowsBetween(1, Window.unboundedFollowing)
    is_text = F.col("kind") == "text"
    t_off = F.when(is_text, F.col("offset"))
    t_txt = F.when(is_text, F.col("text"))
    carried = ex.select(
        "*",
        F.last(t_off, ignorenulls=True).over(before).alias("prev_off"),
        F.last(t_txt, ignorenulls=True).over(before).alias("prev_txt"),
        F.first(t_off, ignorenulls=True).over(after).alias("next_off"),
        F.first(t_txt, ignorenulls=True).over(after).alias("next_txt"),
    ).filter(~is_text)
    next_dist = F.col("next_off") - F.col("offset")
    prev_dist = F.col("offset") - F.col("prev_off")
    take_next = F.col("next_off").isNotNull() & (
        F.col("prev_off").isNull() | (next_dist <= prev_dist)
    )
    side = F.when(take_next, F.lit("next")).when(
        F.col("prev_off").isNotNull(), F.lit("prev")
    )
    return carried.select(
        "doc_id",
        "media_ref",
        F.col("offset").alias("media_offset"),
        F.when(take_next, F.col("next_off"))
        .otherwise(F.col("prev_off"))
        .alias("caption_offset"),
        F.when(take_next, F.col("next_txt"))
        .otherwise(F.col("prev_txt"))
        .alias("caption"),
        side.alias("caption_side"),
    )


def multimodal_pack_cost(spans: "Column", image_budget: int = 64) -> "Column":
    """Training-token cost of one interleaved spans array: whitespace
    tokens of every text span plus a fixed `image_budget` per media span —
    the image-patch token accounting interleaved VLM training uses when
    packing mixed documents into fixed-size sequences. ONE aggregate fold
    over the spans array (tiny per-doc arrays, no explode, zero shuffle)
    — a single reference to `spans`, so a caller passing a derived
    expression (the usual case: spans synthesized from text) never pays
    the construction twice (Catalyst inlines multi-referenced non-cheap
    aliases; see the repo's textstats projection-boundary notes). Feed
    the result to textstats.pack_sequences as its count_col to pack
    interleaved docs the way text-only docs pack."""
    from pyspark.sql import functions as F

    from .textstats import tokens_col

    init = F.struct(
        F.lit(0).cast("long").alias("tok"),
        F.lit(0).cast("long").alias("media"),
    )

    def step(acc, s):
        return F.struct(
            (
                acc["tok"]
                + F.when(
                    s["kind"] == F.lit("text"),
                    F.size(tokens_col(s["text"])).cast("long"),
                ).otherwise(F.lit(0).cast("long"))
            ).alias("tok"),
            (
                acc["media"]
                + F.when(s["kind"] == F.lit("media"), F.lit(1))
                .otherwise(F.lit(0))
                .cast("long")
            ).alias("media"),
        )

    return F.aggregate(
        spans,
        init,
        step,
        lambda a: a["tok"] + a["media"] * F.lit(image_budget),
    )


def audio_segments(
    media: DataFrame,
    window: int = 16,
    min_voiced: int = 13,
) -> DataFrame:
    """(media_id, seg_idx, start_win, end_win, n_windows, voiced_chars) —
    VAD-style voiced-segment detection over the interleaved corpus's audio
    tracks. The deterministic fake-decode convention treats each utf-8
    character of the payload as one waveform sample with whitespace =
    silence: the wave is cut into fixed `window`-sample frames, a frame is
    "voiced" when it has >= `min_voiced` non-silence samples, and runs of
    consecutive voiced frames coalesce into segments (the classic
    gaps-and-islands fold: group key = frame_idx - rank among voiced
    frames). A real energy/VAD kernel slots in at the frame-energy
    expression without changing the islands machinery.

    Scale: frame fan-out is explode of a cheap sequence (no Python); the
    ONE hash shuffle on media_id feeds both the rank window and the island
    group-by (HashPartitioning(media_id) satisfies the (media_id, grp)
    clustered distribution — no second exchange). Segments stream out
    proportional to voiced runs, never to corpus size.
    """
    from pyspark.sql import Window as W

    wav = (
        media.filter(F.col("kind") == "audio")
        .select("media_id", F.decode("payload", "UTF-8").alias("wave"))
        .where(F.col("wave").isNotNull() & (F.length("wave") > 0))
    )
    n_win = F.ceil(F.length("wave") / F.lit(float(window))).cast("int")
    frames = wav.select(
        "media_id",
        "wave",
        F.explode_outer(F.sequence(F.lit(0), n_win - 1)).alias("w"),
    ).where(F.col("w").isNotNull())
    voiced = frames.select(
        "media_id",
        "w",
        F.length(
            F.translate(
                F.expr(f"substr(wave, w * {int(window)} + 1, {int(window)})"),
                " \n\t",
                "",
            )
        ).alias("nonspace"),
    ).where(F.col("nonspace") >= F.lit(int(min_voiced)))
    grp = (
        F.col("w") - F.row_number().over(W.partitionBy("media_id").orderBy("w"))
    ).alias("grp")
    segs = (
        voiced.select("media_id", "w", "nonspace", grp)
        .groupBy("media_id", "grp")
        .agg(
            F.min("w").cast("int").alias("start_win"),
            F.max("w").cast("int").alias("end_win"),
            F.count("*").cast("long").alias("n_windows"),
            F.sum("nonspace").cast("long").alias("voiced_chars"),
        )
    )
    seg_idx = F.row_number().over(
        W.partitionBy("media_id").orderBy("start_win")
    )
    return segs.select(
        "media_id",
        seg_idx.cast("int").alias("seg_idx"),
        "start_win",
        "end_win",
        "n_windows",
        "voiced_chars",
    )


def media_phash_neardup(features: DataFrame, bits: int = 8) -> DataFrame:
    """(phash_a, phash_b, n_pairs) — perceptual NEAR-duplicate volume at
    Hamming distance exactly 1, the near-miss tier above media_phash's
    exact-signature clusters. The join runs at SIGNATURE level, never
    item level: clusters first (media_phash), then each signature probes
    its `bits` one-bit-flip variants against the cluster table (the
    FastSS deletion-neighborhood trick from fuzzy_key_pairs, in bit
    space), so shuffle volume is O(#distinct signatures x bits) and the
    output is n_a x n_b pair COUNTS — bounded regardless of corpus size,
    where an item-level pair list would be quadratic in cluster sizes.
    Each unordered signature pair survives the phash_a < phash_b filter
    exactly once (the two probe directions are mirror rows)."""
    # both join sides read the cluster table; localCheckpoint stops the
    # decode+agg pipeline from running twice (minhash_lsh_pairs precedent)
    # — the table is #distinct-signatures-sized, tiny by construction
    clusters = (
        media_phash(features)
        .where(F.col("phash").isNotNull())
        .localCheckpoint(eager=False)
    )
    flip = clusters.select(
        F.col("phash").alias("phash_a"),
        F.col("n_items").alias("n_a"),
        F.explode(
            F.array(*[F.expr(f"phash ^ {1 << k}") for k in range(bits)])
        ).alias("probe"),
    )
    other = clusters.select(
        F.col("phash").alias("phash_b"), F.col("n_items").alias("n_b")
    )
    return (
        flip.join(other, flip["probe"] == other["phash_b"])
        .where(F.col("phash_a") < F.col("phash_b"))
        .select(
            "phash_a",
            "phash_b",
            (F.col("n_a") * F.col("n_b")).cast("long").alias("n_pairs"),
        )
    )


def synthesize_interleaved(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    span_tokens: int = 4,
) -> DataFrame:
    """(doc_id, spans) — deterministic interleaved text+media span arrays
    in the north-rule shape struct<kind, text, media_ref, offset>: the
    document's tokens are chunked `span_tokens` per span; span offset i
    becomes a MEDIA span (text NULL, media_ref 'media://<doc>/<i>') when
    (doc_id + i) % 3 == 0, else a TEXT span. The array is stored
    REVERSED so offset order is not free — consumers must sort, exactly
    like the extraction pipeline's spans corpus."""
    toks = F.filter(
        F.split(F.trim(F.coalesce(F.col(text_col), F.lit(""))), r"\s+"),
        lambda t: t != "",
    )
    n_spans = F.ceil(F.size(toks) / span_tokens).cast("int")
    spans = F.transform(
        F.sequence(F.lit(0), n_spans - 1),
        lambda i: F.struct(
            F.when((F.col(id_col) + i) % 3 == 0, F.lit("image"))
            .otherwise(F.lit("text"))
            .alias("kind"),
            F.when(
                (F.col(id_col) + i) % 3 != 0,
                F.array_join(
                    F.slice(
                        toks, (i * span_tokens + 1).cast("int"), span_tokens
                    ),
                    " ",
                ),
            ).alias("text"),
            F.when(
                (F.col(id_col) + i) % 3 == 0,
                F.concat(
                    F.lit("media://"),
                    F.col(id_col).cast("string"),
                    F.lit("/"),
                    i.cast("string"),
                ),
            ).alias("media_ref"),
            i.cast("int").alias("offset"),
        ),
    )
    return df.select(
        F.col(id_col), F.reverse(spans).alias("spans")
    ).where(F.size(toks) > 0)


def span_interleave_stats(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """(doc_id, n_spans, n_text, n_media, n_runs, max_text_run,
    max_media_run, transitions) — interleaving profile of each document's
    span sequence: runs are maximal same-kind stretches in OFFSET order
    (the array arrives unordered), transitions count kind changes. The
    packing planner's core statistic for interleaved VLM training — how
    media-fragmented a document is determines its image-token overhead.

    Scale: per-row array sort + ONE aggregate fold — no explode, no
    shuffle at all; spans arrays are per-document bounded.
    """
    ordered = F.transform(
        F.array_sort(
            F.transform(
                F.col("spans"),
                lambda s: F.struct(
                    s["offset"].alias("offset"), s["kind"].alias("kind")
                ),
            )
        ),
        lambda s: s["kind"],
    )
    fold = F.aggregate(
        ordered,
        F.struct(
            F.lit("").alias("prev"),
            F.lit(0).cast("long").alias("runs"),
            F.lit(0).cast("long").alias("cur"),
            F.lit(0).cast("long").alias("max_t"),
            F.lit(0).cast("long").alias("max_m"),
            F.lit(0).cast("long").alias("trans"),
        ),
        lambda acc, k: F.struct(
            k.alias("prev"),
            (acc["runs"] + (k != acc["prev"]).cast("long")).alias("runs"),
            F.when(k == acc["prev"], acc["cur"] + 1)
            .otherwise(F.lit(1).cast("long"))
            .alias("cur"),
            F.greatest(
                acc["max_t"],
                F.when(
                    k == F.lit("text"),
                    F.when(k == acc["prev"], acc["cur"] + 1).otherwise(
                        F.lit(1).cast("long")
                    ),
                ).otherwise(F.lit(0).cast("long")),
            ).alias("max_t"),
            F.greatest(
                acc["max_m"],
                F.when(
                    k != F.lit("text"),
                    F.when(k == acc["prev"], acc["cur"] + 1).otherwise(
                        F.lit(1).cast("long")
                    ),
                ).otherwise(F.lit(0).cast("long")),
            ).alias("max_m"),
            (
                acc["trans"]
                + ((acc["prev"] != "") & (k != acc["prev"])).cast("long")
            ).alias("trans"),
        ),
    )
    kinds = F.transform(F.col("spans"), lambda s: s["kind"])
    return df.select(
        F.col(id_col),
        F.size("spans").cast("long").alias("n_spans"),
        F.size(F.filter(kinds, lambda k: k == "text"))
        .cast("long")
        .alias("n_text"),
        F.size(F.filter(kinds, lambda k: k != "text"))
        .cast("long")
        .alias("n_media"),
        fold["runs"].alias("n_runs"),
        fold["max_t"].alias("max_text_run"),
        fold["max_m"].alias("max_media_run"),
        fold["trans"].alias("transitions"),
    )


def synthesize_assets(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    span_tokens: int = 4,
) -> DataFrame:
    """(media_ref, bytes) — the asset-store side of media_ref_integrity:
    one row per media span the interleaved synthesis emits, EXCEPT refs
    where (doc_id * 31 + offset) % 5 == 0 — the deterministically
    missing assets an integrity audit must surface."""
    spans = synthesize_interleaved(df, text_col, id_col, span_tokens)
    media = spans.select(
        F.col(id_col),
        F.explode(
            F.filter(F.col("spans"), lambda s: s["media_ref"].isNotNull())
        ).alias("s"),
    )
    return media.where(
        (F.col(id_col) * 31 + F.col("s")["offset"]) % 5 != 0
    ).select(
        F.col("s")["media_ref"].alias("media_ref"),
        (F.length(F.col("s")["media_ref"]) * 100).cast("long").alias("bytes"),
    )


def media_ref_integrity(
    spans_df: DataFrame,
    assets: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """(doc_id, n_media, n_orphans) — referential-integrity audit of the
    interleaved corpus against the asset store: a media span whose
    media_ref has no asset row is an ORPHAN (the broken-image class of
    ingest bug). Only docs with at least one media span appear.

    Scale: explode media spans, LEFT ANTI-ish via left join + null
    check on the ref key — one shuffle each side on media_ref (both
    sides huge, so no broadcast), then a per-doc count that reuses
    nothing fancy. At 10^12 docs this is the standard fact-to-dim
    conformance join; bucketing both tables by media_ref would remove
    the shuffle entirely.
    """
    media = spans_df.select(
        F.col(id_col),
        F.explode(
            F.filter(F.col("spans"), lambda s: s["media_ref"].isNotNull())
        ).alias("s"),
    ).select(F.col(id_col), F.col("s")["media_ref"].alias("media_ref"))
    joined = media.join(
        assets.select("media_ref", F.lit(1).alias("_present")),
        "media_ref",
        "left",
    )
    return joined.groupBy(id_col).agg(
        F.count("*").cast("long").alias("n_media"),
        F.sum(F.col("_present").isNull().cast("long"))
        .cast("long")
        .alias("n_orphans"),
    )


def shot_boundaries(
    media: DataFrame, every_n: int = 5, threshold: int = 96
) -> DataFrame:
    """(media_id, n_sampled, n_shots, longest_shot, mean_abs_diff) — shot-
    boundary detection plumbing over sampled video frames: a per-frame
    scalar feature stands in for the decoded-frame histogram (the 60-bit
    md5 hash of media_id:frame_idx mod 256 — deterministic, columnar, and
    SQL-mirrorable; a real pipeline swaps in the decoder's luma histogram
    at exactly this expression), and a new shot starts where the absolute
    frame-to-frame feature jump exceeds `threshold`. longest_shot counts
    SAMPLED frames; mean_abs_diff (6 dp) is the cut-detector's signal
    level per video.

    Physical shape: frame sampling is the existing explode-of-sequence
    (sample_frames), the feature a pure projection, boundaries one
    lag-window pass and the rollup one aggregate — the window and the
    groupBy share the media_id hash shuffle (Exchange reused). Per-video
    frame counts are metadata-bounded, so window partitions stay small
    regardless of corpus size."""
    from pyspark.sql import Window

    frames = sample_frames(media, every_n=every_n).withColumn(
        "feat",
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.col("media_id"),
                        F.lit(":"),
                        F.col("frame_idx").cast("string"),
                    )
                ),
                1,
                15,
            ),
            16,
            10,
        ).cast("long")
        % 256,
    )
    w = Window.partitionBy("media_id").orderBy("frame_idx")
    diffs = frames.withColumn(
        "diff", F.abs(F.col("feat") - F.lag("feat").over(w))
    ).withColumn(
        "new_shot",
        F.when(
            F.col("diff").isNull() | (F.col("diff") > threshold), 1
        ).otherwise(0),
    )
    shots = diffs.withColumn(
        "shot_id",
        F.sum("new_shot").over(
            w.rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    per_shot = shots.groupBy("media_id", "shot_id").agg(
        F.count("*").alias("shot_len")
    )
    agg_shots = per_shot.groupBy("media_id").agg(
        F.count("*").cast("long").alias("n_shots"),
        F.max("shot_len").cast("long").alias("longest_shot"),
    )
    agg_frames = diffs.groupBy("media_id").agg(
        F.count("*").cast("long").alias("n_sampled"),
        F.round(F.coalesce(F.avg("diff"), F.lit(0.0)), 6).alias(
            "mean_abs_diff"
        ),
    )
    return agg_frames.join(agg_shots, "media_id").select(
        "media_id", "n_sampled", "n_shots", "longest_shot", "mean_abs_diff"
    )


def image_tiles(
    media: DataFrame, tile_w: int = 224, tile_h: int = 224
) -> DataFrame:
    """(media_id, tile_row, tile_col, x0, y0, w, h) — ViT-style patch-grid
    plumbing over image rows: one output row per tile of a ceil-divided
    grid, edge tiles clipped to the image bounds. The geometry is the
    real, tested part; the pixel crop itself is the decoder seam (same
    contract as extract_media_features).

    Physical shape: a 2-D explode built from ONE sequence cross product
    per row (no join, no UDF); output volume = sum of per-image grid
    sizes, metadata-bounded."""
    imgs = media.filter(F.col("kind") == "image").select(
        "media_id",
        F.col("meta.width").alias("_w"),
        F.col("meta.height").alias("_h"),
    )
    n_cols = F.ceil(F.col("_w") / F.lit(tile_w)).cast("int")
    n_rows = F.ceil(F.col("_h") / F.lit(tile_h)).cast("int")
    return (
        imgs.withColumn("tile_row", F.explode(F.sequence(F.lit(0), n_rows - 1)))
        .withColumn("tile_col", F.explode(F.sequence(F.lit(0), n_cols - 1)))
        .select(
            "media_id",
            "tile_row",
            "tile_col",
            (F.col("tile_col") * tile_w).alias("x0"),
            (F.col("tile_row") * tile_h).alias("y0"),
            F.least(
                F.lit(tile_w), F.col("_w") - F.col("tile_col") * tile_w
            ).alias("w"),
            F.least(
                F.lit(tile_h), F.col("_h") - F.col("tile_row") * tile_h
            ).alias("h"),
        )
    )


def span_kind_transitions(spans_df: DataFrame) -> DataFrame:
    """(kind_a, kind_b, n, p) — corpus-level transition structure between
    consecutive span kinds in offset order: how interleaved documents
    actually interleave (text->image->text vs media blocks). p is the
    row-normalized transition probability (6 dp). The sequence-structure
    complement to span_interleave_stats' per-doc run profile; downstream
    it sizes the multimodal packer's expectation of media adjacency.

    Physical shape: explode spans -> ONE doc-key window for the lag
    (spans arrive in arbitrary array order, so the offset sort is real
    work, same contract as the extraction pipeline) -> a kinds-squared
    aggregate. The window partitions are documents — bounded by doc
    length."""
    from pyspark.sql import Window

    flat = spans_df.select(
        "doc_id", F.explode("spans").alias("s")
    ).select("doc_id", F.col("s.kind").alias("kind"), F.col("s.offset").alias("off"))
    w = Window.partitionBy("doc_id").orderBy("off")
    pairs = (
        flat.withColumn("nxt", F.lead("kind").over(w))
        .where(F.col("nxt").isNotNull())
        .groupBy(F.col("kind").alias("kind_a"), F.col("nxt").alias("kind_b"))
        .agg(F.count("*").cast("long").alias("n"))
    )
    tot = Window.partitionBy("kind_a")
    return pairs.select(
        "kind_a",
        "kind_b",
        "n",
        F.round(F.col("n") / F.sum("n").over(tot), 6).alias("p"),
    )


# Public magic-number table (file-format specifications / the shared
# `file`-utility heritage): hex prefix at offset 0 unless noted.
_MAGIC_RULES = [
    ("89504E470D0A1A0A", "image/png"),
    ("FFD8FF", "image/jpeg"),
    ("474946383961", "image/gif"),
    ("474946383761", "image/gif"),
    ("255044462D", "application/pdf"),
    ("504B0304", "application/zip"),
    ("1A45DFA3", "video/webm"),
    ("494433", "audio/mpeg"),
    ("4F676753", "audio/ogg"),
]


def media_mime_sniff(
    media: DataFrame,
    payload_col: str = "payload",
    id_col: str = "media_id",
) -> DataFrame:
    """(media_id, mime, magic_hex, n_bytes) — container-format detection
    from leading magic bytes (the public magic-number tables), the
    ingest-time sanity gate of a multimodal pipeline: a claimed-JPEG
    span whose payload opens with %PDF is mislabeled or hostile, and
    catching it takes 16 bytes — not a decode.

    RIFF containers disambiguate on bytes 9-12 (WAVE vs AVI), MP4/ISO
    BMFF on the 'ftyp' brand at offset 5. Pure JVM byte arithmetic
    (hex of two bounded substrings, one CASE chain): no UDF, no
    shuffle, scan-proportional — the cheapest possible full-corpus
    pass. Unknown prefixes report application/octet-stream; NULL/empty
    payloads report NULL mime."""
    head = F.upper(F.hex(F.substring(F.col(payload_col), 1, 16)))
    riff_tag = F.substring(head, 17, 8)  # bytes 9..12
    ftyp_tag = F.substring(head, 9, 8)  # bytes 5..8
    mime = F.when(
        F.col(payload_col).isNull() | (F.length(payload_col) == 0),
        F.lit(None).cast("string"),
    )
    for prefix, tag in _MAGIC_RULES:
        mime = mime.when(head.startswith(prefix), F.lit(tag))
    mime = (
        mime.when(
            head.startswith("52494646") & (riff_tag == "57415645"),
            F.lit("audio/wav"),
        )
        .when(
            head.startswith("52494646") & (riff_tag == "41564920"),
            F.lit("video/avi"),
        )
        .when(ftyp_tag == "66747970", F.lit("video/mp4"))
        .otherwise(F.lit("application/octet-stream"))
    )
    return media.select(
        F.col(id_col),
        mime.alias("mime"),
        F.substring(head, 1, 8).alias("magic_hex"),
        F.coalesce(
            F.length(payload_col).cast("long"), F.lit(0).cast("long")
        ).alias("n_bytes"),
    )
