"""Sequence packing (SURVEY §2C extension surface): lay a document corpus
out as fixed-size training sequences.

The GPT-style concat-and-chunk layout: all documents' tokens concatenated
in doc_id order, then cut into chunks of exactly S tokens; a document that
straddles a cut contributes a span to each side.  The operator emits the
(chunk_id, doc_id, tok_in_chunk) assignment map a training loader needs.

Scale design — the whole problem is a PREFIX SUM, and a naive
``sum() over (order by doc_id)`` window funnels 100 TB through ONE task
(the SinglePartition anti-pattern the plan gates hunt).  This
implementation is the classic two-level distributed scan instead:

1. bucket documents by a deterministic key range (pid = doc_id // B);
2. per-bucket token totals (one tiny row per bucket);
3. bucket prefix offsets via a window over the TOTALS frame only — P =
   N/B rows, driver-scale by construction (the same size argument as the
   IVF centroid set, ``similarity._seeded_centroids``): at 100 TB pick
   B so P stays in the thousands, and that window costs nothing;
4. within-bucket cumulative sums under ``partitionBy(pid)`` — fully
   parallel — plus the broadcast bucket offset give every document its
   exact global token offset;
5. chunk spans are then row-local integer arithmetic + one explode.

Everything is integer math: bit-identical across engines, so the full
pipeline — bucketing, both scan levels, span arithmetic — is
hash-checked against a DuckDB oracle that computes the SAME layout with
a single global window (the semantics, not the plan, must agree).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from cubefs_hadoop_spark.catalog import load
from cubefs_hadoop_spark.registry import register

_X14_S = 64   # tokens per packed sequence (declared fixture form)
_X14_B = 128  # docs per prefix bucket


_X14_ORACLE = f"""
WITH t AS (
  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS tokens
  FROM documents
), o AS (
  SELECT doc_id, tokens,
         CAST(COALESCE(SUM(tokens) OVER (ORDER BY doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              AS BIGINT) AS off
  FROM t
)
SELECT CAST(c AS BIGINT) AS chunk_id, doc_id,
       least((c + 1) * {_X14_S}, off + tokens) - greatest(c * {_X14_S}, off)
           AS tok_in_chunk
FROM o, UNNEST(generate_series(off // {_X14_S},
                               (off + tokens - 1) // {_X14_S})) AS u(c)
ORDER BY chunk_id, doc_id, tok_in_chunk"""


def sequence_pack(
    docs: DataFrame,
    seq_len: int = _X14_S,
    bucket_docs: int = _X14_B,
    id_col: str = "doc_id",
    tokens_col: str | None = None,
    boundaries: bool = False,
) -> DataFrame:
    """(chunk_id, id, tok_in_chunk) concat-and-chunk packing map.

    ``tokens_col`` names a precomputed per-doc token count; None derives
    whitespace word counts from ``text`` (the x04 convention).  At scale,
    size ``bucket_docs`` so N/bucket_docs (the prefix-level row count)
    stays in the low thousands.

    ``boundaries=True`` adds the within-chunk segment positions
    (seg_start inclusive, seg_end exclusive, 0-based) — the
    block-diagonal attention-mask table a training loader needs to stop
    cross-document attention inside a packed sequence (x57); pure
    column arithmetic on the same stream, no extra exchange."""
    if tokens_col is None:
        t = docs.select(
            id_col,
            F.size(F.split("text", " ")).cast("long").alias("tokens"),
        )
    else:
        t = docs.select(id_col, F.col(tokens_col).cast("long").alias("tokens"))
    t = t.withColumn("pid", F.floor(F.col(id_col) / bucket_docs))
    # level 1: within-bucket exclusive cumsum — parallel across buckets
    win = (
        Window.partitionBy("pid")
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    t = t.withColumn("off_in", F.coalesce(F.sum("tokens").over(win), F.lit(0)))
    # level 2: bucket prefix offsets over the P-row totals frame (P = N/B,
    # driver-scale by construction — the only unpartitioned window, and it
    # never sees corpus-sized data)
    wp = Window.orderBy("pid").rowsBetween(Window.unboundedPreceding, -1)
    prefix = (
        t.groupBy("pid")
        .agg(F.sum("tokens").alias("ptot"))
        .select(
            "pid", F.coalesce(F.sum("ptot").over(wp), F.lit(0)).alias("poff")
        )
    )
    s = F.lit(seq_len)
    packed = (
        t.join(F.broadcast(prefix), "pid")
        .withColumn("off", (F.col("poff") + F.col("off_in")).cast("long"))
        .withColumn(
            "chunk_id",
            F.explode(
                F.sequence(
                    F.floor(F.col("off") / s),
                    F.floor((F.col("off") + F.col("tokens") - 1) / s),
                )
            ),
        )
        .select(
            F.col("chunk_id").cast("long"),
            F.col(id_col),
            (
                F.least((F.col("chunk_id") + 1) * s, F.col("off") + F.col("tokens"))
                - F.greatest(F.col("chunk_id") * s, F.col("off"))
            ).cast("long").alias("tok_in_chunk"),
            *(
                [
                    (
                        F.greatest(F.col("chunk_id") * s, F.col("off"))
                        - F.col("chunk_id") * s
                    ).cast("long").alias("seg_start"),
                    (
                        F.least(
                            (F.col("chunk_id") + 1) * s,
                            F.col("off") + F.col("tokens"),
                        )
                        - F.col("chunk_id") * s
                    ).cast("long").alias("seg_end"),
                ]
                if boundaries
                else []
            ),
        )
    )
    return packed


# -- x57: packed-sequence attention boundaries ------------------------------
#
# The consumer-facing half of packing: concat-and-chunk is only safe
# for training when the loader masks CROSS-document attention inside
# each packed sequence (the sample-packing detail every modern
# pretraining stack carries — block-diagonal masks per packed segment).
# x57 is that mask's coordinate table: per (chunk, doc) segment, the
# 0-based [seg_start, seg_end) token span inside the chunk plus the
# chunk's segment count, derived from the SAME two-level prefix stream
# as x14 (pure column arithmetic, no extra corpus exchange; the n_segs
# window runs at output grain).

_X57_ORACLE = f"""
WITH t AS (
  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS tokens
  FROM documents
), o AS (
  SELECT doc_id, tokens,
         CAST(COALESCE(SUM(tokens) OVER (ORDER BY doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              AS BIGINT) AS off
  FROM t
), seg AS (
  SELECT CAST(c AS BIGINT) AS chunk_id, doc_id,
         greatest(c * {_X14_S}, off) - c * {_X14_S} AS seg_start,
         least((c + 1) * {_X14_S}, off + tokens) - c * {_X14_S} AS seg_end
  FROM o, UNNEST(generate_series(off // {_X14_S},
                                 (off + tokens - 1) // {_X14_S})) AS u(c)
)
SELECT chunk_id, doc_id, seg_start, seg_end,
       CAST(COUNT(*) OVER (PARTITION BY chunk_id) AS BIGINT) AS n_segs
FROM seg
ORDER BY chunk_id, doc_id, seg_start, seg_end, n_segs"""


@register("x57_pack_boundaries", _X57_ORACLE)
def x57_pack_boundaries(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X57 attention-mask boundary table for x14's packed layout: per
    (chunk, doc) segment the 0-based [seg_start, seg_end) span within
    the chunk and the chunk's segment count — what a loader needs to
    build block-diagonal masks that stop cross-document attention."""
    from pyspark.sql.window import Window as W

    packed = sequence_pack(
        load(spark, sf_dir, "documents"), boundaries=True
    )
    return (
        packed.select(
            "chunk_id",
            "doc_id",
            "seg_start",
            "seg_end",
            F.count(F.lit(1))
            .over(W.partitionBy("chunk_id"))
            .cast("long")
            .alias("n_segs"),
        )
        .orderBy("chunk_id", "doc_id", "seg_start", "seg_end", "n_segs")
    )


@register("x14_sequence_pack", _X14_ORACLE)
def x14_sequence_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X14 sequence packing over the documents table: whitespace-token
    concat-and-chunk into 64-token sequences, doc_id order.  The
    distributed two-level prefix sum must reproduce the oracle's global
    single-window layout exactly (integer arithmetic end to end)."""
    docs = load(spark, sf_dir, "documents")
    return sequence_pack(docs).orderBy("chunk_id", "doc_id", "tok_in_chunk")


# -- x65: packing forecast (pad-vs-pack economics before the x14 run) --------
#
# The decision x14 automates — concat-and-chunk packing vs pad-to-S
# batching — has a price that depends only on the corpus LENGTH
# DISTRIBUTION, so it can be read off a one-scan report before any
# packing job runs: per length band, how many documents, how much token
# mass, how many S-token segments a split layout emits, and how much
# padding a pad-to-S layout would burn.  Σ pad_waste / (tokens + pad)
# is the exact fraction of a padded batch spent on padding — the number
# that justifies (or kills) the packing stage at 100 TB.
#
# Scale: one corpus scan (row-local integer arithmetic in codegen) into
# a partial-agg'd groupBy on the bounded band key (<= 9 rows).  The
# forecast never materializes a layout — it prices one.

_X65_ORACLE = f"""
WITH d AS (
  SELECT CAST(len(string_split(text, ' ')) AS BIGINT) AS tk
  FROM documents),
b AS (
  SELECT tk, LEAST(4 * tk // {_X14_S}, 8) AS band FROM d)
SELECT band,
       CAST(band * {_X14_S} // 4 AS BIGINT) AS band_lo_tokens,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(tk) AS BIGINT) AS tokens,
       CAST(SUM((tk + {_X14_S} - 1) // {_X14_S}) AS BIGINT) AS segments,
       CAST(SUM(({_X14_S} - tk % {_X14_S}) % {_X14_S}) AS BIGINT)
         AS pad_waste,
       CAST(1000 * SUM(({_X14_S} - tk % {_X14_S}) % {_X14_S})
            // SUM(tk + ({_X14_S} - tk % {_X14_S}) % {_X14_S}) AS BIGINT)
         AS pad_share_milli
FROM b GROUP BY band
ORDER BY band, band_lo_tokens, n_docs, tokens, segments, pad_waste,
         pad_share_milli"""


def packing_forecast(
    docs: DataFrame, seq_len: int = _X14_S, text_col: str = "text"
) -> DataFrame:
    """(band, band_lo_tokens, n_docs, tokens, segments, pad_waste,
    pad_share_milli) per quarter-context length band (capped at 2x
    context): the exact integer economics of pad-to-seq_len batching vs
    x14 packing, from one scan + one bounded groupBy."""
    s = int(seq_len)
    tk = F.size(F.split(F.col(text_col), " ")).cast("long")
    d = docs.select(
        tk.alias("tk"),
        F.expr(f"least(4 * size(split({text_col}, ' ')) div {s}, 8)")
        .cast("long")
        .alias("band"),
    )
    pad = F.expr(f"({s} - tk % {s}) % {s}")
    return (
        d.groupBy("band")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("tk").cast("long").alias("tokens"),
            F.sum(F.expr(f"(tk + {s} - 1) div {s}")).cast("long")
            .alias("segments"),
            F.sum(pad).cast("long").alias("pad_waste"),
        )
        .select(
            "band",
            F.expr(f"band * {s} div 4").cast("long").alias("band_lo_tokens"),
            "n_docs",
            "tokens",
            "segments",
            "pad_waste",
            F.expr(
                "1000 * pad_waste div (tokens + pad_waste)"
            ).cast("long").alias("pad_share_milli"),
        )
    )


@register("x65_packing_forecast", _X65_ORACLE)
def x65_packing_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X65 packing forecast: the pad-vs-pack cost table by length band —
    prices the x14 packing stage (and the padding it saves) from one
    corpus scan, before any layout is materialized."""
    return packing_forecast(load(spark, sf_dir, "documents")).orderBy(
        "band", "band_lo_tokens", "n_docs", "tokens", "segments",
        "pad_waste", "pad_share_milli"
    )
