"""Text analysis operators (SURVEY §2C X04/X05): token statistics, quality
scoring, language stats, heuristic language-ID, document fingerprinting.

Everything here is pure pyspark.sql.functions (JVM/codegen) — per-document
work is a handful of string ops, so 100 TB throughput is scan-bound, not
CPU-bound.  No Python UDFs in any of these paths.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from cubefs_hadoop_spark.catalog import load
from cubefs_hadoop_spark.plans.materialize import barrier
from cubefs_hadoop_spark.plans.parallelism import widen_for_cpu
from cubefs_hadoop_spark.registry import register
from cubefs_hadoop_spark.oracle_compat import r2d

# BPE-ish pre-tokenizer: letter runs, digit runs, single other non-space.
_TOKEN_RE = "[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]"


@register(
    "x04_text_stats",
    f"""SELECT doc_id,
          CAST(len(string_split(text, ' ')) AS BIGINT) AS words,
          CAST(len(regexp_extract_all(text, '{_TOKEN_RE}')) AS BIGINT) AS tokens,
          CAST(LENGTH(text) AS BIGINT) AS chars,
          CAST(ROUND(CAST(LENGTH(text) AS DOUBLE)
               / len(string_split(text, ' ')), 2) AS DECIMAL(18,2)) AS chars_per_word
       FROM documents ORDER BY doc_id, words, tokens, chars, chars_per_word""",
)
def x04_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X04 per-document token statistics: whitespace word count, regex
    (BPE-ish) token count, char count, chars-per-word."""
    return (
        load(spark, sf_dir, "documents")
        .select(
            "doc_id",
            F.size(F.split("text", " ")).cast("long").alias("words"),
            F.size(F.regexp_extract_all("text", F.lit(_TOKEN_RE), 0))
            .cast("long")
            .alias("tokens"),
            F.length("text").cast("long").alias("chars"),
            r2d(
                F.length("text").cast("double") / F.size(F.split("text", " "))
            ).alias("chars_per_word"),
        )
        .orderBy("doc_id", "words", "tokens", "chars", "chars_per_word")
    )


@register(
    "x04b_lang_stats",
    """SELECT lang, COUNT(*) AS docs,
          CAST(SUM(n_chars) AS BIGINT) AS total_chars,
          CAST(ROUND(CAST(SUM(n_chars) AS DOUBLE) / COUNT(*), 2)
               AS DECIMAL(18,2)) AS avg_chars
       FROM documents GROUP BY lang ORDER BY lang, docs, total_chars, avg_chars""",
)
def x04b_lang_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X04b corpus language distribution (the lang-filter aggregate)."""
    return (
        load(spark, sf_dir, "documents")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("docs"),
            F.sum("n_chars").cast("long").alias("total_chars"),
            r2d(
                F.sum("n_chars").cast("double") / F.count(F.lit(1))
            ).alias("avg_chars"),
        )
        .orderBy("lang", "docs", "total_chars", "avg_chars")
    )


@register(
    "x05_quality_filter",
    """SELECT doc_id,
          (words BETWEEN 20 AND 2000
           AND mwl BETWEEN 2.0 AND 12.0
           AND uniq_ratio >= 0.2) AS keep
       FROM (
         SELECT doc_id,
                len(string_split(text, ' ')) AS words,
                CAST(LENGTH(REPLACE(text, ' ', '')) AS DOUBLE)
                  / len(string_split(text, ' ')) AS mwl,
                CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
                  / len(string_split(text, ' ')) AS uniq_ratio
         FROM documents)
       ORDER BY doc_id, keep""",
)
def x05_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X05 heuristic quality gate (Gopher/C4-style rule shapes): word-count
    band, mean word length band, distinct-word ratio.  Pure expressions —
    a 100 TB filter pass is one scan with predicate evaluation in codegen."""
    ws = F.split("text", " ")
    words = F.size(ws)
    mwl = F.length(F.replace(F.col("text"), F.lit(" "), F.lit(""))).cast(
        "double"
    ) / words
    uniq = F.size(F.array_distinct(ws)).cast("double") / words
    return (
        load(spark, sf_dir, "documents")
        .select(
            "doc_id",
            (
                words.between(20, 2000)
                & mwl.between(2.0, 12.0)
                & (uniq >= 0.2)
            ).alias("keep"),
        )
        .orderBy("doc_id", "keep")
    )


@register(
    "x06_fingerprint",
    """SELECT doc_id, MIN(md5(sh)) AS fp FROM (
         SELECT doc_id, UNNEST(list_transform(
             range(1, greatest(length(text)-7, 1)+1),
             i -> substr(text, i, 8))) AS sh
         FROM documents)
       GROUP BY doc_id ORDER BY doc_id, fp""",
)
def x06_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X06 document fingerprint: winnowing-style min-hash over rolling char
    8-grams (one md5 per window, min per doc).  Equal fingerprints =>
    shared rarest window — a cheap containment signal.

    Computed as a row-local higher-order expression (array_min over a
    transform) — no explode, no aggregation shuffle; widen_for_cpu fans
    the md5-bound map stage out to every core when the input arrives as
    fewer splits than cores."""
    docs = widen_for_cpu(load(spark, sf_dir, "documents"), "doc_id")
    return (
        docs.select(
            "doc_id",
            F.expr(
                "array_min(transform(sequence(1, greatest(length(text)-7, 1)),"
                " i -> md5(substring(text, i, 8))))"
            ).alias("fp"),
        )
        .orderBy("doc_id", "fp")
    )


@register(
    "x07_train_test_split",
    """SELECT doc_id,
          CASE WHEN substr(md5(text), 1, 1) < 'd' THEN 'train' ELSE 'test' END
            AS split
       FROM documents ORDER BY doc_id, split""",
)
def x07_train_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X07 deterministic train/test split by content hash: hex prefix of
    md5(text) < 'd' => train (13/16 = 81.25%).  Content-addressed, so the
    assignment is stable under repartitioning, re-runs, and incremental
    ingest — unlike rand(seed), which depends on partition layout.  One
    narrow projection, no shuffle."""
    return (
        load(spark, sf_dir, "documents")
        .select(
            "doc_id",
            F.when(F.substring(F.md5("text"), 1, 1) < "d", F.lit("train"))
            .otherwise(F.lit("test"))
            .alias("split"),
        )
        .orderBy("doc_id", "split")
    )


@register(
    "x08_redact",
    """SELECT doc_id,
          regexp_replace(text, '\\b(customer|key)\\b', '[REDACTED]', 'g') AS clean,
          CAST(len(regexp_extract_all(text, '\\b(customer|key)\\b')) AS BIGINT)
            AS n_hits
       FROM documents ORDER BY doc_id, clean, n_hits""",
)
def x08_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X08 pattern scrubbing (the PII-redaction shape: emails/phones/SSNs in
    production, sensitive vocabulary here): global regexp_replace plus a
    per-doc hit count for audit.  One projection pass, codegen'd — a 100 TB
    redaction sweep is scan-bound.  Swap the pattern for
    r'[\\w.+-]+@[\\w-]+\\.[\\w.]+' etc. in a real pipeline."""
    pat = r"\b(customer|key)\b"
    return (
        load(spark, sf_dir, "documents")
        .select(
            "doc_id",
            F.regexp_replace("text", pat, "[REDACTED]").alias("clean"),
            F.size(F.regexp_extract_all("text", F.lit(pat), 0))
            .cast("long")
            .alias("n_hits"),
        )
        .orderBy("doc_id", "clean", "n_hits")
    )


@register(
    "x09_stopword_ratio",
    """SELECT doc_id,
          CAST(ROUND(CAST(len(list_filter(string_split(text, ' '),
                   w -> w IN ('the', 'a', 'of', 'and', 'to'))) AS DOUBLE)
               / len(string_split(text, ' ')), 2) AS DECIMAL(18,2)) AS sw_ratio
       FROM documents ORDER BY doc_id, sw_ratio""",
)
def x09_stopword_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X09 stopword-ratio quality score (C4/Gopher-style signal: natural
    prose has a stable stopword fraction; word salad and boilerplate don't).
    Higher-order array functions only — no explode, no shuffle."""
    ws = F.split("text", " ")
    hits = F.filter(
        ws, lambda w: w.isin("the", "a", "of", "and", "to")
    )
    return (
        load(spark, sf_dir, "documents")
        .select(
            "doc_id",
            r2d(F.size(hits).cast("double") / F.size(ws)).alias("sw_ratio"),
        )
        .orderBy("doc_id", "sw_ratio")
    )


def hash_split(
    df: DataFrame, key_col: str, train_pct: int = 80, buckets: int = 100
) -> DataFrame:
    """Engine-side split with arbitrary percentage: md5(key) -> 16-bit int
    bucket -> modulo.  Same stability contract as X07 at finer granularity."""
    bucket = (
        F.conv(F.substring(F.md5(F.col(key_col).cast("string")), 1, 4), 16, 10)
        .cast("int")
        % buckets
    )
    return df.withColumn(
        "split",
        F.when(bucket < train_pct * buckets / 100, F.lit("train")).otherwise(
            F.lit("test")
        ),
    )


# ---------------------------------------------------------------------------
# Heuristic language ID (engine-side; scoring weights are engine-internal,
# validated against the fixture's lang column in tests/test_text.py)
# ---------------------------------------------------------------------------

_STOPWORDS = {
    "en": ("the", "a", "of", "and", "to"),
    "es": ("el", "la", "de", "y", "que"),
    "fr": ("le", "la", "de", "et", "que"),
    "de": ("der", "die", "das", "und", "zu"),
    "zh": ("de", "le", "shi", "bu", "wo"),
}


def langid_scores(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Stopword-ratio language scores: fraction of words that are stopwords
    of each candidate language; argmax wins.  All JVM-side: split once,
    array_intersect-style membership via explode + groupBy."""
    ws = F.split(F.col(text_col), " ")
    scores = [
        (
            F.size(F.array_intersect(ws, F.array(*[F.lit(w) for w in sw])))
            .cast("double")
            / F.size(F.array_distinct(ws))
        ).alias(f"score_{lang}")
        for lang, sw in _STOPWORDS.items()
    ]
    scored = df.select("*", *scores)
    best = F.greatest(*[F.col(f"score_{lang}") for lang in _STOPWORDS])
    pred = F.when(best <= 0, F.lit("und"))
    for lang in _STOPWORDS:
        pred = pred.when(F.col(f"score_{lang}") == best, F.lit(lang))
    return scored.withColumn("lang_pred", pred)


@register(
    "x10_decontaminate",
    """WITH ev AS (
         SELECT DISTINCT gm FROM (
           SELECT UNNEST(list_transform(
               range(1, greatest(len(string_split(text,' '))-4, 1)+1),
               i -> array_to_string(string_split(text,' ')[i:i+4], ' '))) AS gm
           FROM documents WHERE doc_id % 20 = 0)),
       tr AS (
         SELECT doc_id,
                UNNEST(list_transform(
                  range(1, greatest(len(string_split(text,' '))-4, 1)+1),
                  i -> array_to_string(string_split(text,' ')[i:i+4], ' '))) AS gm
         FROM documents WHERE doc_id % 20 <> 0)
       SELECT DISTINCT doc_id FROM tr WHERE gm IN (SELECT gm FROM ev)
       ORDER BY doc_id""",
)
def x10_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X10 benchmark decontamination: flag training docs sharing any word
    5-gram with the (small) eval set — the standard pre-training hygiene
    sweep (eval set stand-in: doc_id % 20 == 0).

    Scale design: the eval side is small by nature, so its distinct gram
    set BROADCASTS and the train side is a scan -> explode -> broadcast
    LEFT SEMI join -> distinct doc_id.  No shuffle touches the corpus
    until the (tiny) contaminated-id distinct; at 100 TB this is a pure
    map-side membership probe, the same plan as a bloom-filter gate."""
    docs = load(spark, sf_dir, "documents")
    # split ONCE into a column the lambda indexes — an inline
    # split-in-lambda re-splits the text per element, O(len^2)/doc
    # (the x40 r8 postmortem; same fix here and in x11/x29)
    grams5 = F.expr(
        "transform(sequence(1, greatest(size(ws)-4, 1)),"
        " i -> concat_ws(' ', slice(ws, i, 5)))"
    )
    ev = (
        docs.filter(F.col("doc_id") % 20 == 0)
        .withColumn("ws", F.split("text", " "))
        .select(F.explode(grams5).alias("gm"))
        .distinct()
    )
    tr = (
        widen_for_cpu(docs.filter(F.col("doc_id") % 20 != 0), "doc_id")
        .withColumn("ws", F.split("text", " "))
        .select("doc_id", F.explode(grams5).alias("gm"))
    )
    return (
        tr.join(F.broadcast(ev), "gm", "left_semi")
        .select("doc_id")
        .distinct()
        .orderBy("doc_id")
    )


@register(
    "x11_repetition_ratio",
    """SELECT doc_id,
          CAST(ROUND(1.0 - CAST(len(list_distinct(g)) AS DOUBLE)
                         / len(g), 2) AS DECIMAL(18,2)) AS rep_ratio
       FROM (
         SELECT doc_id, list_transform(
             range(1, greatest(len(string_split(text,' '))-2, 1)+1),
             i -> array_to_string(string_split(text,' ')[i:i+2], ' ')) AS g
         FROM documents)
       ORDER BY doc_id, rep_ratio""",
)
def x11_repetition_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X11 repetition filter (Gopher-style quality signal): fraction of
    duplicate word 3-grams per document, 1 - distinct/total.  Repetitive
    boilerplate and degenerate generations score high and get dropped.
    Row-local higher-order functions only — map-shaped at any scale."""
    g = F.expr(
        "transform(sequence(1, greatest(size(ws)-2, 1)),"
        " i -> concat_ws(' ', slice(ws, i, 3)))"
    )
    return (
        widen_for_cpu(load(spark, sf_dir, "documents"), "doc_id")
        .withColumn("ws", F.split("text", " "))
        .select(
            "doc_id",
            r2d(
                F.lit(1.0)
                - F.size(F.array_distinct(g)).cast("double") / F.size(g)
            ).alias("rep_ratio"),
        )
        .orderBy("doc_id", "rep_ratio")
    )


@register(
    "x15_source_mixture",
    """WITH w AS (
         SELECT doc_id, source,
           (CASE WHEN source = 'src1' THEN 2
                 WHEN source = 'src0' THEN 0 ELSE 1 END)
           + (CASE WHEN substr(md5(text), 1, 1) <
                (CASE WHEN source IN ('src0', 'src1') THEN '8' ELSE '0' END)
              THEN 1 ELSE 0 END) AS n
         FROM documents)
       SELECT doc_id, source, CAST(c AS BIGINT) AS rep
       FROM w, UNNEST(generate_series(1, n)) AS u(c)
       WHERE n >= 1
       ORDER BY doc_id, source, rep""",
)
def x15_source_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X15 source-mixture resampling (the Pile/Dolma mixing step): each
    source gets a target epoch weight — here src0: 0.5 (downsample),
    src1: 2.5 (upsample with a fractional epoch), others: 1.0 — and every
    document materializes floor(w) copies plus one more with probability
    frac(w), decided by its CONTENT HASH (md5 hex digit < threshold), not
    an RNG: the realized mixture is identical under repartitioning,
    re-runs, and incremental ingest — the same determinism argument as
    x07's hash split.  Map-shaped: one projection + one explode, no
    shuffle; at 100 TB the upsample factor multiplies output bytes, never
    input reads."""
    docs = widen_for_cpu(load(spark, sf_dir, "documents"), "doc_id")
    floor_w = (
        F.when(F.col("source") == "src1", F.lit(2))
        .when(F.col("source") == "src0", F.lit(0))
        .otherwise(F.lit(1))
    )
    frac_thr = F.when(
        F.col("source").isin("src0", "src1"), F.lit("8")
    ).otherwise(F.lit("0"))
    extra = F.when(
        F.substring(F.md5("text"), 1, 1) < frac_thr, F.lit(1)
    ).otherwise(F.lit(0))
    return (
        docs.withColumn("n", floor_w + extra)
        .filter(F.col("n") >= 1)
        .select(
            "doc_id",
            "source",
            F.explode(F.sequence(F.lit(1), F.col("n"))).alias("rep"),
        )
        .withColumn("rep", F.col("rep").cast("long"))
        .orderBy("doc_id", "source", "rep")
    )


@register(
    "x29_ngram_novelty",
    """WITH g AS (
         SELECT DISTINCT doc_id,
           UNNEST(list_transform(
             range(1, greatest(len(string_split(text,' '))-4, 1)+1),
             i -> array_to_string(string_split(text,' ')[i:i+4], ' ')))
           AS gm
         FROM documents),
       own AS (SELECT gm, MIN(doc_id) AS own FROM g GROUP BY gm)
       SELECT g.doc_id,
          CAST(ROUND(SUM(CASE WHEN own.own = g.doc_id THEN 1 ELSE 0 END)
                     * 1.0 / COUNT(*), 2) AS DECIMAL(18,2)) AS novelty
       FROM g JOIN own ON g.gm = own.gm
       GROUP BY g.doc_id ORDER BY doc_id, novelty""",
)
def x29_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X29 corpus novelty scoring: per doc, the fraction of its DISTINCT
    word 5-grams first introduced by that doc (owner = min doc_id over
    the corpus).  Boilerplate- and duplicate-heavy documents score near
    0; genuinely fresh content scores near 1 — the corpus-level
    complement of X11's within-doc repetition signal, and a cheap rank
    key for 'prefer novel text' curation passes.

    Scale design: every stage is gram- or doc-keyed — distinct (doc,
    gram) pairs, a partial-aggregated MIN per gram (hot boilerplate
    grams combine map-side), a gram equi-join that reuses the
    aggregation's hash partitioning, and a final doc_id rollup.  No
    broadcast of corpus-sized state, no all-pairs anywhere; the
    gram-owner table is vocabulary-scale and fully distributed."""
    g = F.expr(
        "transform(sequence(1, greatest(size(ws)-4, 1)),"
        " i -> concat_ws(' ', slice(ws, i, 5)))"
    )
    # per-doc gram distinctness is row-local: array_distinct before the
    # explode replaces the corpus-wide (doc_id, gm) distinct shuffle
    # (r14, the _exact_jaccard_scored pattern); the owner aggregate and
    # the gram join both hash on gm, so the one remaining exchange is
    # planned once and reused.
    grams = (
        widen_for_cpu(load(spark, sf_dir, "documents"), "doc_id")
        .withColumn("ws", F.split("text", " "))
        .select("doc_id", F.explode(F.array_distinct(g)).alias("gm"))
    )
    owner = grams.groupBy("gm").agg(F.min("doc_id").alias("own"))
    return (
        grams.join(owner, "gm")
        .groupBy("doc_id")
        .agg(
            r2d(
                F.sum(
                    F.when(F.col("own") == F.col("doc_id"), 1).otherwise(0)
                ).cast("double")
                / F.count(F.lit(1))
            ).alias("novelty")
        )
        .orderBy("doc_id", "novelty")
    )


# -- x62: quality-filter agreement matrix ------------------------------------
#
# Filter stacks are tuned by OVERLAP, not in isolation: if two rules
# drop the same documents, one of them is redundant cost; if a rule's
# drops are disjoint from every other's, it is either a unique signal
# or a bug — either way the pairwise drop-set agreement table is the
# first thing a curation team reads before reordering or removing a
# rule (the cheapest rule that subsumes another should run first so
# later, costlier passes see fewer rows).  x62 scores the family's
# three row-local gates pairwise: the x05 heuristic band rule, a
# stopword-ratio floor (x09's signal at sw < 0.03), and a repetition
# ceiling (x11's signal at rep > 0.02) — per ordered pair, drop counts,
# intersection, union, and Jaccard millis.
#
# Scale (100 TB): ONE corpus scan computes all three boolean flags in
# codegen (the same row-local expressions the filters themselves use);
# a single partial-agg'd one-row count aggregate follows, and the
# 3-row matrix is built from those driver-sized counts.  Adding a
# fourth filter is one more flag column, not another pass.

_X62_SW_TAU = 0.03   # drop when stopword ratio is BELOW (word salad)
_X62_REP_TAU = 0.02  # drop when duplicate-3-gram ratio is ABOVE

_X62_ORACLE = f"""
WITH f AS (
  SELECT text, string_split(text, ' ') AS ws FROM documents),
g AS (
  SELECT text, ws,
         list_transform(range(1, greatest(len(ws)-2, 1)+1),
                        i -> array_to_string(ws[i:i+2], ' ')) AS gm
  FROM f),
m AS (
  SELECT
    NOT (len(ws) BETWEEN 20 AND 2000
         AND (length(replace(text, ' ', '')) * 1.0 / len(ws))
             BETWEEN 2.0 AND 12.0
         AND (len(list_distinct(ws)) * 1.0 / len(ws)) >= 0.2) AS dq,
    (len(list_filter(ws, w -> w='the' OR w='a' OR w='of' OR w='and'
                              OR w='to')) * 1.0 / len(ws))
        < {_X62_SW_TAU} AS ds,
    (1 - len(list_distinct(gm)) * 1.0 / len(gm)) > {_X62_REP_TAU} AS dr
  FROM g),
c AS (
  SELECT CAST(COUNT(*) FILTER (dq) AS BIGINT) AS q,
         CAST(COUNT(*) FILTER (ds) AS BIGINT) AS s,
         CAST(COUNT(*) FILTER (dr) AS BIGINT) AS r,
         CAST(COUNT(*) FILTER (dq AND ds) AS BIGINT) AS qs,
         CAST(COUNT(*) FILTER (dq AND dr) AS BIGINT) AS qr,
         CAST(COUNT(*) FILTER (ds AND dr) AS BIGINT) AS sr
  FROM m)
SELECT * FROM (
  SELECT 'quality' AS filter_a, 'repetition' AS filter_b,
         q AS drop_a, r AS drop_b, qr AS drop_both,
         q + r - qr AS drop_union,
         CAST(CASE WHEN q + r - qr = 0 THEN NULL
              ELSE qr * 1000 // (q + r - qr) END AS BIGINT) AS jaccard_milli
  FROM c
  UNION ALL
  SELECT 'quality', 'stopword', q, s, qs, q + s - qs,
         CAST(CASE WHEN q + s - qs = 0 THEN NULL
              ELSE qs * 1000 // (q + s - qs) END AS BIGINT) FROM c
  UNION ALL
  SELECT 'repetition', 'stopword', r, s, sr, r + s - sr,
         CAST(CASE WHEN r + s - sr = 0 THEN NULL
              ELSE sr * 1000 // (r + s - sr) END AS BIGINT) FROM c)
ORDER BY filter_a, filter_b"""


def filter_drop_flags(
    docs: DataFrame, text_col: str = "text", keep: tuple[str, ...] = ()
) -> DataFrame:
    """(*keep, dq, ds, dr): the three gates' per-document DROP booleans
    in one row-local pass — x05's heuristic band rule, the x09 stopword
    floor, the x11 repetition ceiling — with ``keep`` columns passed
    through for downstream attribution.  All codegen, zero shuffles."""
    ws = F.split(text_col, " ")
    words = F.size(ws)
    mwl = (
        F.length(F.replace(F.col(text_col), F.lit(" "), F.lit("")))
        .cast("double")
        / words
    )
    uniq = F.size(F.array_distinct(ws)).cast("double") / words
    sw = (
        F.size(
            F.filter(ws, lambda w: w.isin("the", "a", "of", "and", "to"))
        ).cast("double")
        / words
    )
    # Built from the already-split `ws` so the flag follows text_col
    # (ADVICE r9: the F.expr form hardcoded the literal column `text`).
    gm = F.transform(
        F.sequence(F.lit(1), F.greatest(F.size(ws) - 2, F.lit(1))),
        lambda i: F.concat_ws(" ", F.slice(ws, i, 3)),
    )
    rep = F.lit(1.0) - F.size(F.array_distinct(gm)).cast("double") / F.size(
        gm
    )
    return docs.select(
        *keep,
        (
            ~(
                words.between(20, 2000)
                & mwl.between(2.0, 12.0)
                & (uniq >= 0.2)
            )
        ).alias("dq"),
        (sw < _X62_SW_TAU).alias("ds"),
        (rep > _X62_REP_TAU).alias("dr"),
    )


def filter_agreement(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """The 3-row pairwise agreement matrix (filter_a, filter_b, drop_a,
    drop_b, drop_both, drop_union, jaccard_milli) from one corpus scan +
    one one-row count aggregate; the matrix itself is built from the
    driver-sized counts."""
    flags = filter_drop_flags(docs, text_col)
    c = flags.agg(
        F.sum(F.col("dq").cast("long")).alias("q"),
        F.sum(F.col("ds").cast("long")).alias("s"),
        F.sum(F.col("dr").cast("long")).alias("r"),
        F.sum((F.col("dq") & F.col("ds")).cast("long")).alias("qs"),
        F.sum((F.col("dq") & F.col("dr")).cast("long")).alias("qr"),
        F.sum((F.col("ds") & F.col("dr")).cast("long")).alias("sr"),
    ).first()
    q, s, r = int(c["q"]), int(c["s"]), int(c["r"])
    qs, qr, sr = int(c["qs"]), int(c["qr"]), int(c["sr"])

    def row(fa, fb, a, b, both):
        union = a + b - both
        return (
            fa, fb, a, b, both, union,
            (1000 * both // union) if union else None,
        )

    return docs.sparkSession.createDataFrame(
        [
            row("quality", "repetition", q, r, qr),
            row("quality", "stopword", q, s, qs),
            row("repetition", "stopword", r, s, sr),
        ],
        "filter_a string, filter_b string, drop_a long, drop_b long,"
        " drop_both long, drop_union long, jaccard_milli long",
    )


@register("x62_filter_agreement", _X62_ORACLE)
def x62_filter_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X62 quality-filter agreement matrix: pairwise drop-set overlap
    (counts + Jaccard millis) of the x05 band rule, the x09 stopword
    floor, and the x11 repetition ceiling — the table that says which
    rule is redundant and which is a unique signal, from one corpus
    scan.  Thresholds are fixture-calibrated so every gate drops a
    non-empty, non-total set at all three SFs."""
    # widen_for_cpu: the flag expressions (trigram transform +
    # array_distinct per row) are CPU-heavy, and a small corpus arrives
    # as ONE split — fan out to every core first (no-op at scale).
    return filter_agreement(
        widen_for_cpu(load(spark, sf_dir, "documents"), "doc_id")
    ).orderBy("filter_a", "filter_b")


# -- x63: rejection funnel (first-failing-gate attribution) ------------------
#
# x62 reads the filter stack's pairwise OVERLAP; x63 reads its FUNNEL:
# production curation runs gates in a fixed order (cheapest first) and
# a document is charged to the FIRST gate that drops it, so the funnel
# table (source, stage, n_docs, share_milli) is the per-source loss
# accounting a pipeline owner reads after every ingest — which corpus
# loses how much to which rule, and how much survives to training.
# Gate order here is the family's cost order: the x05 quality band
# (cheap length/width arithmetic), the x09 stopword floor (one array
# intersect), the x11 repetition ceiling (the 3-gram pass, costliest).
#
# Scale (100 TB): ONE corpus scan computes the three codegen flags
# (filter_drop_flags) plus the attribution CASE; one partial-agg'd
# groupBy(source, stage) follows (output is metadata-sized: sources x 4
# rows), and the share window runs on that grouped frame, never on the
# corpus.  Adding a gate is one more WHEN branch, not another pass.

_X63_ORACLE = f"""
WITH f AS (
  SELECT COALESCE(source, '(null)') AS source, text,
         string_split(text, ' ') AS ws FROM documents),
g AS (
  SELECT source, text, ws,
         list_transform(range(1, greatest(len(ws)-2, 1)+1),
                        i -> array_to_string(ws[i:i+2], ' ')) AS gm
  FROM f),
m AS (
  SELECT source,
    NOT (len(ws) BETWEEN 20 AND 2000
         AND (length(replace(text, ' ', '')) * 1.0 / len(ws))
             BETWEEN 2.0 AND 12.0
         AND (len(list_distinct(ws)) * 1.0 / len(ws)) >= 0.2) AS dq,
    (len(list_filter(ws, w -> w='the' OR w='a' OR w='of' OR w='and'
                              OR w='to')) * 1.0 / len(ws))
        < {_X62_SW_TAU} AS ds,
    (1 - len(list_distinct(gm)) * 1.0 / len(gm)) > {_X62_REP_TAU} AS dr
  FROM g),
s AS (
  SELECT source,
         CASE WHEN dq THEN 'quality'
              WHEN ds THEN 'stopword'
              WHEN dr THEN 'repetition'
              ELSE 'kept' END AS stage
  FROM m),
c AS (
  SELECT source, stage, CAST(COUNT(*) AS BIGINT) AS n_docs
  FROM s GROUP BY source, stage),
t AS (
  SELECT source, CAST(SUM(n_docs) AS BIGINT) AS tot
  FROM c GROUP BY source)
SELECT c.source, c.stage, c.n_docs,
       CAST(1000 * c.n_docs // t.tot AS BIGINT) AS share_milli
FROM c JOIN t USING (source)
ORDER BY source, stage, n_docs, share_milli"""


def funnel_counts(
    docs: DataFrame, text_col: str = "text", by: str = "source"
) -> DataFrame:
    """(by, stage, n_docs): first-failing-gate attribution counts — the
    ADDITIVE half of the funnel (plain sums per (by, stage) key, so
    batches fold: the S22 streaming sink's sufficient statistics)."""
    flags = filter_drop_flags(docs, text_col, keep=(by,))
    stage = (
        F.when(F.col("dq"), F.lit("quality"))
        .when(F.col("ds"), F.lit("stopword"))
        .when(F.col("dr"), F.lit("repetition"))
        .otherwise(F.lit("kept"))
    )
    # NULL tags normalize to a literal '(null)' group on BOTH engines —
    # a NULL group key would survive Spark's PARTITION BY but vanish in
    # the oracle's JOIN USING (NULL never equi-joins), a latent hash
    # divergence (r10 self-review)
    return (
        flags.select(
            F.coalesce(F.col(by), F.lit("(null)")).alias(by),
            stage.alias("stage"),
        )
        .groupBy(by, "stage")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    )


def funnel_from_counts(counts: DataFrame, by: str = "source") -> DataFrame:
    """Derive the funnel table (+exact milli shares) from (by, stage,
    n_docs) counts — batch-built or the S22 streamed state; the window
    runs on the metadata-sized counts frame."""
    return counts.select(
        by,
        "stage",
        "n_docs",
        F.expr(
            f"1000 * n_docs div sum(n_docs) over (partition by {by})"
        ).cast("long").alias("share_milli"),
    )


def rejection_funnel(
    docs: DataFrame, text_col: str = "text", by: str = "source"
) -> DataFrame:
    """(by, stage, n_docs, share_milli): documents charged to the FIRST
    gate that drops them in the fixed quality -> stopword -> repetition
    order ('kept' = survived all three), with exact integer milli shares
    of each ``by`` group.  One corpus scan + one partial-agg'd groupBy;
    the share window runs on the grouped metadata-sized frame."""
    return funnel_from_counts(funnel_counts(docs, text_col, by), by)


@register("x63_rejection_funnel", _X63_ORACLE)
def x63_rejection_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X63 curation rejection funnel: per-source loss accounting under
    the ordered gate stack (quality band -> stopword floor -> repetition
    ceiling), each document charged to its first failing gate.  The
    operational twin of x62: agreement says which rules overlap, the
    funnel says what each source actually loses and what survives."""
    # widen_for_cpu: same single-split CPU straggler as x62 — the gate
    # expressions dominate, so fan the scan out first (no-op at scale).
    return rejection_funnel(
        widen_for_cpu(load(spark, sf_dir, "documents"), "doc_id")
    ).orderBy("source", "stage", "n_docs", "share_milli")


# -- x68: language-tag audit (declared lang vs heuristic lang-ID) ------------
#
# Web-crawl language tags are metadata, not measurements — mislabeled
# documents poison per-language mixtures (x15/x54 quotas key on the
# tag) and per-language quality thresholds.  x68 scores the corpus's
# declared `lang` column against the engine's own stopword-ratio
# language ID (langid_scores) and reports the (lang, lang_pred)
# confusion table with exact milli shares within each declared tag —
# the label-noise audit a mixture owner reads before trusting quotas.
#
# Determinism: langid_scores' per-language scores share one denominator
# (distinct word count), so its double-valued argmax is decided by the
# INTEGER stopword-hit counts; the oracle replays exactly those integer
# counts with the same en > es > fr > de > zh tie order and the same
# 'und' rule (no stopword of any language present).
#
# Scale (100 TB): the scores and argmax are row-local codegen on the
# corpus scan; the only shuffle is the partial-agg'd groupBy on the
# (lang, lang_pred) pair — bounded by |langs|^2 + 'und', metadata-sized.

_X68_ORACLE = """
WITH w AS (
  SELECT COALESCE(lang, '(null)') AS lang,
         list_distinct(string_split(text, ' ')) AS ws
  FROM documents),
s AS (
  SELECT lang,
    len(list_filter(['the','a','of','and','to'],
                    x -> list_contains(ws, x))) AS c_en,
    len(list_filter(['el','la','de','y','que'],
                    x -> list_contains(ws, x))) AS c_es,
    len(list_filter(['le','la','de','et','que'],
                    x -> list_contains(ws, x))) AS c_fr,
    len(list_filter(['der','die','das','und','zu'],
                    x -> list_contains(ws, x))) AS c_de,
    len(list_filter(['de','le','shi','bu','wo'],
                    x -> list_contains(ws, x))) AS c_zh
  FROM w),
p AS (
  SELECT lang,
         CASE WHEN greatest(c_en, c_es, c_fr, c_de, c_zh) <= 0 THEN 'und'
              WHEN c_en = greatest(c_en, c_es, c_fr, c_de, c_zh) THEN 'en'
              WHEN c_es = greatest(c_en, c_es, c_fr, c_de, c_zh) THEN 'es'
              WHEN c_fr = greatest(c_en, c_es, c_fr, c_de, c_zh) THEN 'fr'
              WHEN c_de = greatest(c_en, c_es, c_fr, c_de, c_zh) THEN 'de'
              ELSE 'zh' END AS lang_pred
  FROM s),
c AS (
  SELECT lang, lang_pred, CAST(COUNT(*) AS BIGINT) AS n_docs
  FROM p GROUP BY lang, lang_pred),
t AS (SELECT lang, CAST(SUM(n_docs) AS BIGINT) AS tot FROM c GROUP BY lang)
SELECT c.lang, c.lang_pred, c.n_docs,
       CAST(1000 * c.n_docs // t.tot AS BIGINT) AS share_milli
FROM c JOIN t USING (lang)
ORDER BY lang, lang_pred, n_docs, share_milli"""


def langid_confusion(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(lang, lang_pred, n_docs, share_milli): the declared-tag vs
    heuristic-ID confusion table with exact milli shares within each
    declared tag.  Row-local scoring (langid_scores) + one
    partial-agg'd groupBy on the bounded (lang, lang_pred) pair."""
    # same NULL-tag normalization as x63 (see funnel_counts)
    pred = langid_scores(docs, text_col).select(
        F.coalesce(F.col("lang"), F.lit("(null)")).alias("lang"),
        "lang_pred",
    )
    counts = pred.groupBy("lang", "lang_pred").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs")
    )
    return counts.select(
        "lang",
        "lang_pred",
        "n_docs",
        F.expr(
            "1000 * n_docs div sum(n_docs) over (partition by lang)"
        ).cast("long").alias("share_milli"),
    )


@register("x68_langid_mismatch", _X68_ORACLE)
def x68_langid_mismatch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X68 language-tag audit: confusion table of the corpus's declared
    lang column against the engine's stopword-ratio language ID — the
    label-noise pre-flight for any per-language mixture or threshold
    (x15/x54 key on the tag this audits)."""
    return langid_confusion(load(spark, sf_dir, "documents")).orderBy(
        "lang", "lang_pred", "n_docs", "share_milli"
    )


# -- x72: train/test OOV-rate audit ------------------------------------------
#
# The x07 content-hash split is stable by construction, but stability
# is not SUFFICIENCY: a test shard whose vocabulary is poorly covered
# by the train shard (high out-of-vocabulary rate) measures
# generalization to unseen TOKENS, not unseen documents — usually an
# accident of a skewed split or a domain cliff, and always something to
# know before reading eval numbers.  x72 reports the test shard's OOV
# rate against the train vocabulary in both units that matter: type
# rate (distinct unseen tokens — vocabulary coverage) and occurrence
# rate (token positions that are unseen — what the model actually
# experiences at eval time).
#
# Scale (100 TB): one corpus scan splits and explodes; the train
# vocabulary is ONE distinct (vocabulary-scale, the x66-measured
# plateau); OOV accounting is two LEFT ANTI joins keyed on the token
# (broadcast-able once the vocab plateaus, shuffle-keyed otherwise) and
# five one-row aggregates joined 1x1.  Never pairwise, never
# driver-side.

_X72_ORACLE = """
WITH s AS (
  SELECT CASE WHEN substr(md5(text), 1, 1) < 'd' THEN 'train'
              ELSE 'test' END AS split, text
  FROM documents),
tk AS (SELECT split, UNNEST(string_split(text, ' ')) AS tok FROM s),
tv AS (SELECT DISTINCT tok FROM tk WHERE split = 'train'),
te AS (SELECT tok FROM tk WHERE split = 'test'),
tt AS (SELECT DISTINCT tok FROM te),
n AS (SELECT
  (SELECT CAST(COUNT(*) AS BIGINT) FROM s WHERE split = 'train')
    AS n_train_docs,
  (SELECT CAST(COUNT(*) AS BIGINT) FROM s WHERE split = 'test')
    AS n_test_docs,
  (SELECT CAST(COUNT(*) AS BIGINT) FROM tv) AS n_train_types,
  (SELECT CAST(COUNT(*) AS BIGINT) FROM tt) AS n_test_types,
  (SELECT CAST(COUNT(*) AS BIGINT) FROM te) AS n_test_occurrences,
  (SELECT CAST(COUNT(*) AS BIGINT) FROM tt
   WHERE tok NOT IN (SELECT tok FROM tv)) AS oov_types,
  (SELECT CAST(COUNT(*) AS BIGINT) FROM te
   WHERE tok NOT IN (SELECT tok FROM tv)) AS oov_occurrences)
SELECT n_train_docs, n_test_docs, n_train_types, n_test_types,
       n_test_occurrences, oov_types, oov_occurrences,
       CAST(CASE WHEN n_test_types = 0 THEN NULL
            ELSE 1000 * oov_types // n_test_types END AS BIGINT)
         AS oov_type_milli,
       CAST(CASE WHEN n_test_occurrences = 0 THEN NULL
            ELSE 1000 * oov_occurrences // n_test_occurrences END
         AS BIGINT) AS oov_occ_milli
FROM n"""


def oov_rate(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """One-row train/test OOV audit under the x07 content-hash split:
    (n_train_docs, n_test_docs, n_train_types, n_test_types,
    n_test_occurrences, oov_types, oov_occurrences, oov_type_milli,
    oov_occ_milli).  One scan + one vocabulary distinct + two anti
    joins; all counts exact integers."""
    split = F.when(
        F.substring(F.md5(text_col), 1, 1) < "d", F.lit("train")
    ).otherwise(F.lit("test"))
    # barrier both sides: train_vocab feeds three branches and test_occ
    # two in the single assembled plan — without the barrier the corpus
    # scan + split + explode re-executes per branch (r10 self-review;
    # the same two-consumers fix as x61's candidate frame)
    toks = docs.select(
        split.alias("split"),
        F.explode(F.split(F.col(text_col), " ")).alias("tok"),
    )
    train_vocab = barrier(
        toks.filter(F.col("split") == "train").select("tok").distinct(),
        eager=False,
    )
    test_occ = barrier(
        toks.filter(F.col("split") == "test").select("tok"), eager=False
    )
    test_types = test_occ.distinct()
    d = docs.select(split.alias("split")).agg(
        F.sum((F.col("split") == "train").cast("long")).cast("long")
        .alias("n_train_docs"),
        F.sum((F.col("split") == "test").cast("long")).cast("long")
        .alias("n_test_docs"),
    )
    a = train_vocab.agg(
        F.count(F.lit(1)).cast("long").alias("n_train_types")
    )
    b = test_types.agg(F.count(F.lit(1)).cast("long").alias("n_test_types"))
    c = test_occ.agg(
        F.count(F.lit(1)).cast("long").alias("n_test_occurrences")
    )
    ot = test_types.join(train_vocab, "tok", "left_anti").agg(
        F.count(F.lit(1)).cast("long").alias("oov_types")
    )
    oo = test_occ.join(train_vocab, "tok", "left_anti").agg(
        F.count(F.lit(1)).cast("long").alias("oov_occurrences")
    )
    out = d.crossJoin(a).crossJoin(b).crossJoin(c).crossJoin(ot).crossJoin(oo)
    return out.select(
        "n_train_docs", "n_test_docs", "n_train_types", "n_test_types",
        "n_test_occurrences", "oov_types", "oov_occurrences",
        F.expr(
            "case when n_test_types = 0 then null"
            " else 1000 * oov_types div n_test_types end"
        ).cast("long").alias("oov_type_milli"),
        F.expr(
            "case when n_test_occurrences = 0 then null"
            " else 1000 * oov_occurrences div n_test_occurrences end"
        ).cast("long").alias("oov_occ_milli"),
    )


@register("x72_oov_rate", _X72_ORACLE)
def x72_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X72 split-coverage audit: the test shard's out-of-vocabulary rate
    against the train vocabulary (type and occurrence units) under the
    x07 content-hash split — read before trusting eval numbers from any
    split, next to x66 (does the vocabulary plateau at all)."""
    return oov_rate(load(spark, sf_dir, "documents"))


# -- x76: stratified split audit (per-source split balance) ------------------
#
# x07 assigns splits by content hash and x72 audits vocabulary coverage;
# what neither answers is whether the hash split is BALANCED WITHIN each
# stratum — the failure mode of any global split over a source-skewed
# corpus (a source contributing 0.1% of docs can easily land 100%-train
# by chance, silently dropping it from eval).  x76 is that audit: a
# deterministic three-way content-hash split (train 12/16, val 2/16,
# test 2/16 by the first md5 hex digit — x07's family, so the train
# shard is a superset-compatible assignment) rolled up per (source,
# split) with exact within-source milli shares.  Sources whose val/test
# share collapses toward 0 are the alert rows.
#
# Scale (100 TB): the split is row-local codegen (one md5 per doc, no
# shuffle); the rollup is one partial-agg'd groupBy on the bounded
# (sources x 3) key; shares are a window over the metadata-sized
# matrix.  Content-addressing keeps the assignment stable under
# repartitioning, re-runs, and incremental ingest — rand(seed) is not.

_X76_ORACLE = """
WITH s AS (
  SELECT COALESCE(source, '(null)') AS source,
         CASE WHEN substr(md5(text), 1, 1) < 'c' THEN 'train'
              WHEN substr(md5(text), 1, 1) < 'e' THEN 'val'
              ELSE 'test' END AS split
  FROM documents),
c AS (SELECT source, split, CAST(COUNT(*) AS BIGINT) AS n_docs
      FROM s GROUP BY source, split)
SELECT source, split, n_docs,
       CAST(1000 * n_docs // SUM(n_docs) OVER (PARTITION BY source)
            AS BIGINT) AS share_milli
FROM c
ORDER BY source, split, n_docs, share_milli"""


def split_counts(
    docs: DataFrame, by: str = "source", text_col: str = "text"
) -> DataFrame:
    """(source, split, n_docs): the x76 sufficient statistic — split
    assignment is row-local (content hash), so the counts are additive
    and fold per micro-batch (S24)."""
    d = F.substring(F.md5(text_col), 1, 1)
    return (
        docs.select(
            F.coalesce(by, F.lit("(null)")).alias("source"),
            F.when(d < "c", F.lit("train"))
            .when(d < "e", F.lit("val"))
            .otherwise(F.lit("test"))
            .alias("split"),
        )
        .groupBy("source", "split")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    )


def split_audit_from_counts(counts: DataFrame) -> DataFrame:
    """Serve the x76 audit table from folded (source, split, n_docs)
    cells — exact within-stratum milli shares over the bounded
    (strata x 3) matrix."""
    return counts.select(
        "source",
        "split",
        F.col("n_docs").cast("long").alias("n_docs"),
        F.expr("1000 * n_docs div sum(n_docs) over (partition by source)")
        .cast("long")
        .alias("share_milli"),
    )


def stratified_split_audit(
    docs: DataFrame, by: str = "source", text_col: str = "text"
) -> DataFrame:
    """(source, split, n_docs, share_milli): the x07-family three-way
    content-hash split (md5 hex digit: <'c' train, <'e' val, else test)
    audited per stratum — counts + shares via the SAME code path the
    S24 streamed state is served through."""
    return split_audit_from_counts(split_counts(docs, by=by, text_col=text_col))


@register("x76_stratified_eval_split", _X76_ORACLE)
def x76_stratified_eval_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X76 stratified split audit: per-(source, split) counts and exact
    within-source milli shares under the deterministic three-way
    content-hash split — the "did any stratum lose its eval shard?"
    check a source-skewed corpus needs before trusting per-source eval
    numbers (reads next to x07's assignment and x72's OOV coverage)."""
    return stratified_split_audit(load(spark, sf_dir, "documents")).orderBy(
        "source", "split", "n_docs", "share_milli"
    )


# -- x79: duplicate n-gram curve (repetition mass per granularity) -----------
#
# x29 scores per-DOC novelty at one n; x38 finds exact 16-word spans;
# what neither shows is the CORPUS-level repetition profile: at each
# granularity n, what fraction of all n-gram occurrences are repeats of
# an earlier occurrence — 1 - distinct/total.  The curve's shape is the
# diagnostic: high dup mass at n=1 is just Zipf (every corpus repeats
# words); dup mass that stays high out to n=8 is template/boilerplate
# text, exactly what x16/x38 remove.  Reading the curve BEFORE a dedup
# pass says which granularity the pipeline should attack (the
# RefinedWeb/Gopher-style "repetition fractions" table, corpus-grain).
#
# Scale (100 TB): per n one explode (map-local, rides the scan) and one
# vocabulary-scale distinct-count groupBy — the same shape as x66's
# first-appearance pass; output is one row per n.  The four n values
# share nothing but the scan, so a combined pass is a union of four
# independent partial-agg'd aggregates (Spark schedules them as one
# job per action; at cluster scale they pipeline off one cached scan).

_X79_NS = (1, 2, 4, 8)


def _x79_oracle() -> str:
    parts = []
    for n in _X79_NS:
        if n == 1:
            grams = "SELECT UNNEST(string_split(text, ' ')) AS gm FROM documents"
        else:
            grams = (
                "SELECT UNNEST(list_transform("
                f"range(1, greatest(len(ws) - {n} + 1, 0) + 1),"
                f" i -> array_to_string(ws[i:i+{n - 1}], ' '))) AS gm"
                " FROM (SELECT string_split(text, ' ') AS ws FROM documents)"
            )
        parts.append(
            f"""SELECT CAST({n} AS BIGINT) AS n,
       CAST(COUNT(*) AS BIGINT) AS total_ngrams,
       CAST(COUNT(DISTINCT gm) AS BIGINT) AS distinct_ngrams,
       CAST(CASE WHEN COUNT(*) = 0 THEN NULL
            ELSE 1000 * (COUNT(*) - COUNT(DISTINCT gm)) // COUNT(*) END
         AS BIGINT) AS dup_milli
FROM ({grams})"""
        )
    return "\nUNION ALL\n".join(parts) + "\nORDER BY n, total_ngrams, distinct_ngrams, dup_milli"


def ngram_dup_curve(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(n, total_ngrams, distinct_ngrams, dup_milli) for n in 1/2/4/8:
    the corpus repetition profile — what fraction of n-gram occurrences
    are repeats, per granularity."""
    spark = docs.sparkSession
    outs = []
    for n in _X79_NS:
        if n == 1:
            gm = docs.select(
                F.explode(F.split(text_col, " ")).alias("gm")
            )
        else:
            gm = (
                docs.select(F.split(text_col, " ").alias("ws"))
                .select(
                    F.explode(
                        F.expr(
                            f"case when size(ws) >= {n} then"
                            f" transform(sequence(1, size(ws) - {n} + 1),"
                            f" i -> concat_ws(' ', slice(ws, i, {n})))"
                            " else array() end"
                        )
                    ).alias("gm")
                )
            )
        outs.append(
            gm.agg(
                F.count(F.lit(1)).cast("long").alias("total_ngrams"),
                F.countDistinct("gm").cast("long").alias("distinct_ngrams"),
            ).select(
                F.lit(n).cast("long").alias("n"),
                "total_ngrams",
                "distinct_ngrams",
                F.expr(
                    "case when total_ngrams = 0 then null else"
                    " 1000 * (total_ngrams - distinct_ngrams)"
                    " div total_ngrams end"
                ).cast("long").alias("dup_milli"),
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out


@register("x79_ngram_dup_curve", _x79_oracle())
def x79_ngram_dup_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X79 corpus repetition profile: duplicate n-gram mass at n =
    1/2/4/8 — Zipf-only corpora decay fast with n, template-heavy
    corpora stay high out to n=8 (x16/x38's target).  One explode +
    one vocabulary-scale distinct per n, one row per n."""
    return ngram_dup_curve(load(spark, sf_dir, "documents")).orderBy(
        "n", "total_ngrams", "distinct_ngrams", "dup_milli"
    )


# -- x93: per-source document-length percentiles -------------------------------
#
# The documents-table twin of x88 (and the exact companion to x48's
# sketch-based drift alarm): per source, exact discrete p50/p90 of
# n_chars + the doc count — "is this feed suddenly shipping stubs or
# megadocs" read in exact order statistics, not approximations.  Rides
# the shared banded-cumulative-counts machinery (extensions/ranking.py)
# — one partial-agg'd (source, n_chars) counts frame, no row-grain
# sort, no window keyed on the bare source over doc-grain rows.

_X93_ORACLE = """
WITH v AS (
  SELECT COALESCE(source, '(null)') AS source,
         CAST(n_chars AS BIGINT) AS c
  FROM documents),
r AS (SELECT source, c,
             ROW_NUMBER() OVER (PARTITION BY source ORDER BY c) AS rn
      FROM v),
n AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs
      FROM v GROUP BY source)
SELECT source, n_docs,
       CAST(MAX(CASE WHEN rn = 1 + (n_docs - 1) * 50 // 100
                     THEN c END) AS BIGINT) AS p50_chars,
       CAST(MAX(CASE WHEN rn = 1 + (n_docs - 1) * 90 // 100
                     THEN c END) AS BIGINT) AS p90_chars
FROM r JOIN n USING (source)
GROUP BY source, n_docs
ORDER BY source, n_docs, p50_chars, p90_chars"""


def doclen_percentiles(
    docs: DataFrame, by: str = "source", len_col: str = "n_chars"
) -> DataFrame:
    """(source, n_docs, p50_chars, p90_chars): exact discrete per-source
    length order statistics (rank 1+(n-1)q//100, ascending)."""
    return doclen_percentiles_from_cells(doclen_cells(docs, by, len_col))


@register("x93_doclen_percentiles", _X93_ORACLE)
def x93_doclen_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X93 per-source length profile: exact discrete p50/p90 n_chars per
    source — the exact drift companion to x48; shared no-sort percentile
    machinery, NULL sources normalized to '(null)'."""
    return doclen_percentiles(load(spark, sf_dir, "documents")).orderBy(
        "source", "n_docs", "p50_chars", "p90_chars"
    )


# -- x103: source x language composition matrix ----------------------------------
#
# The CORPUS COMPOSITION cross-tab a data-mixture owner reads before
# setting sampling weights: per (source, lang) the doc count, the exact
# milli share WITHIN the source (does source A carry any non-English at
# all?), and total chars (the volume axis — doc counts lie when one
# source ships 100x longer documents).  One partial-agg'd
# groupBy((source, lang)); the share window runs over the
# sources x langs metadata matrix.  NULL source normalized to '(null)',
# the x93 convention.

_X103_ORACLE = """
WITH m AS (
  SELECT COALESCE(source, '(null)') AS source, lang,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(n_chars) AS BIGINT) AS total_chars
  FROM documents GROUP BY 1, 2),
t AS (SELECT source, CAST(SUM(n_docs) AS BIGINT) AS src_docs
      FROM m GROUP BY source)
SELECT m.source, lang, n_docs,
       CAST(1000 * n_docs // t.src_docs AS BIGINT) AS share_in_source_milli,
       total_chars
FROM m JOIN t USING (source)
ORDER BY source, lang, n_docs, share_in_source_milli, total_chars"""


def source_lang_matrix(docs: DataFrame) -> DataFrame:
    """(source, lang, n_docs, share_in_source_milli, total_chars): the
    corpus composition cross-tab with exact milli within-source shares
    — one partial-agg'd cells pass + the share window over the
    sources x langs metadata matrix (the halves S34 folds/serves)."""
    return source_lang_matrix_from_cells(source_lang_cells(docs))


@register("x103_source_lang_matrix", _X103_ORACLE)
def x103_source_lang_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X103 corpus composition: per (source, lang) doc counts, exact
    milli within-source shares, and char volume — one partial-agg'd
    rollup + a metadata-matrix share window; the table a mixture owner
    reads before x54's temperature weights."""
    return source_lang_matrix(load(spark, sf_dir, "documents")).orderBy(
        "source", "lang", "n_docs", "share_in_source_milli", "total_chars"
    )


def source_lang_cells(docs: DataFrame) -> DataFrame:
    """The x103 sufficient statistic at (source, lang) grain:
    (source, lang, n_docs, total_chars) — plain additive counters, the
    S34 fold unit."""
    return (
        docs.select(
            F.coalesce("source", F.lit("(null)")).alias("source"),
            "lang",
            F.col("n_chars").cast("long").alias("ch"),
        )
        .groupBy("source", "lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("ch").cast("long").alias("total_chars"),
        )
    )


def source_lang_matrix_from_cells(cells: DataFrame) -> DataFrame:
    """Serve the x103 cross-tab from folded (source, lang, n_docs,
    total_chars) cells (``streaming.state_sink.sink_source_lang_state``)
    — identical share math over the metadata matrix."""
    return cells.select(
        "source",
        "lang",
        "n_docs",
        F.expr("1000 * n_docs div sum(n_docs) over (partition by source)")
        .cast("long")
        .alias("share_in_source_milli"),
        "total_chars",
    )


def doclen_cells(docs: DataFrame, by: str = "source",
                 len_col: str = "n_chars") -> DataFrame:
    """The x93 sufficient statistic at (source, length) grain:
    (source, c, cnt) counts — additive, the S35 fold unit (percentiles
    need only cumulative counts, so the counts frame IS enough)."""
    return (
        docs.select(
            F.coalesce(F.col(by), F.lit("(null)")).alias("source"),
            F.col(len_col).cast("long").alias("c"),
        )
        .groupBy("source", "c")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )


def doclen_percentiles_from_cells(cells: DataFrame) -> DataFrame:
    """The x93 profile from ``doclen_cells``, batch or the S35 folded
    state: the shared banded percentile machinery runs at counts grain
    (``counts_col``)."""
    from cubefs_hadoop_spark.extensions.ranking import (
        grouped_exact_percentiles,
    )

    return grouped_exact_percentiles(
        cells, "c", group_cols=["source"], quantiles=(50, 90),
        counts_col="cnt",
    ).select(
        "source",
        F.col("n").alias("n_docs"),
        F.col("p50").alias("p50_chars"),
        F.col("p90").alias("p90_chars"),
    )


# -- x119: per-source character-class profile --------------------------------
#
# The CHARACTER-CLASS fingerprint of each source: what fraction of a
# source's character mass is punctuation, digits, uppercase — the
# cheap structural signal quality pipelines read next to x05's word
# stats (machine-generated tables are digit-heavy, scraped boilerplate
# is punctuation-heavy, shouting spam is uppercase-heavy).  Exact
# integer millis over SUMMED character counts (not averaged per-doc
# ratios — the mass-weighted figure a corpus mixer wants), one
# partial-agg'd corpus scan, source-grain output.
#
# Portability: fixed explicit character classes ([.,!?;:], [0-9],
# [A-Z]) and count-by-strip (length minus length after removing the
# class) — identical semantics in Spark's regexp_replace (global by
# default) and DuckDB's (needs the 'g' flag).

_X119_PUNCT = "[.,!?;:]"
_X119_ORACLE = f"""
WITH d AS (
  SELECT source,
         CAST(LENGTH(text) AS BIGINT) AS chars,
         CAST(LENGTH(text) - LENGTH(REGEXP_REPLACE(text, '{_X119_PUNCT.replace("'", "''")}', '', 'g')) AS BIGINT) AS punct,
         CAST(LENGTH(text) - LENGTH(REGEXP_REPLACE(text, '[0-9]', '', 'g')) AS BIGINT) AS digits,
         CAST(LENGTH(text) - LENGTH(REGEXP_REPLACE(text, '[A-Z]', '', 'g')) AS BIGINT) AS uppers
  FROM documents)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(chars) AS BIGINT) AS chars,
       CAST(1000 * SUM(punct) // SUM(chars) AS BIGINT) AS punct_milli,
       CAST(1000 * SUM(digits) // SUM(chars) AS BIGINT) AS digit_milli,
       CAST(1000 * SUM(uppers) // SUM(chars) AS BIGINT) AS upper_milli
FROM d GROUP BY source
ORDER BY source, n_docs, chars, punct_milli, digit_milli, upper_milli"""


def charclass_profile(
    docs: DataFrame, text_col: str = "text", source_col: str = "source"
) -> DataFrame:
    """(source, n_docs, chars, punct_milli, digit_milli, upper_milli):
    mass-weighted character-class shares per source in exact integer
    millis, from one scan + one source-grain rollup."""
    t = F.col(text_col)

    def stripped(cls: str):
        return (
            F.length(t) - F.length(F.regexp_replace(t, cls, ""))
        ).cast("long")

    d = docs.select(
        F.col(source_col).alias("source"),
        F.length(t).cast("long").alias("chars"),
        stripped(_X119_PUNCT).alias("punct"),
        stripped("[0-9]").alias("digits"),
        stripped("[A-Z]").alias("uppers"),
    )
    return d.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("chars").cast("long").alias("chars"),
        F.expr("1000 * sum(punct) div sum(chars)").cast("long").alias(
            "punct_milli"
        ),
        F.expr("1000 * sum(digits) div sum(chars)").cast("long").alias(
            "digit_milli"
        ),
        F.expr("1000 * sum(uppers) div sum(chars)").cast("long").alias(
            "upper_milli"
        ),
    )


@register("x119_source_charclass_profile", _X119_ORACLE)
def x119_source_charclass_profile(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """X119 per-source character-class fingerprint: punctuation, digit,
    and uppercase shares of each source's character mass (exact integer
    millis) — the structural-quality signal next to x62's word-level
    gates and x103's source x lang census.  One partial-agg'd corpus
    scan, source-grain output."""
    return charclass_profile(load(spark, sf_dir, "documents")).orderBy(
        "source", "n_docs", "chars", "punct_milli", "digit_milli",
        "upper_milli",
    )


# -- x122: shared-prefix duplication rate ------------------------------------
#
# BOILERPLATE HEADERS: docs that open with the same first-K characters
# (wire-service headers, license preambles, templated intros) are the
# cheapest near-dup signal there is — one substring + one equi-group,
# no shingles, no hashes.  x122 reports, per source, how much of the
# feed shares its opening with at least one other document CORPUS-WIDE
# (cross-source boilerplate counts against both feeds) — read next to
# x108's full LSH dup rate: a high x122 with a low x108 means cheap
# template stripping (x38) beats expensive near-dup machinery.
#
# Scale: prefix groups are an equi-groupBy on a 32-char key (shuffle on
# the prefix, never pairwise); group sizes join back doc-grain on the
# same key; the rollup is sources-bounded.

_X122_PREFIX = 32

_X122_ORACLE = f"""
WITH p AS (
  SELECT doc_id, COALESCE(source, '(null)') AS source,
         SUBSTRING(text, 1, {_X122_PREFIX}) AS pre
  FROM documents),
g AS (SELECT pre, CAST(COUNT(*) AS BIGINT) AS sz FROM p GROUP BY pre)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN sz >= 2 THEN 1 ELSE 0 END) AS BIGINT)
           AS shared_prefix_docs,
       CAST(1000 * SUM(CASE WHEN sz >= 2 THEN 1 ELSE 0 END) // COUNT(*)
            AS BIGINT) AS shared_milli
FROM p JOIN g USING (pre)
GROUP BY source
ORDER BY source, n_docs, shared_prefix_docs, shared_milli"""


def prefix_dup_rate(
    docs: DataFrame,
    k: int = _X122_PREFIX,
    text_col: str = "text",
    source_col: str = "source",
) -> DataFrame:
    """(source, n_docs, shared_prefix_docs, shared_milli): per source,
    docs whose first-``k``-char prefix is shared corpus-wide by >= 2
    documents, with the exact milli share."""
    p = docs.select(
        F.coalesce(source_col, F.lit("(null)")).alias("source"),
        F.substring(text_col, 1, k).alias("pre"),
    )
    g = p.groupBy("pre").agg(F.count(F.lit(1)).cast("long").alias("sz"))
    return (
        p.join(g, "pre")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum((F.col("sz") >= 2).cast("long")).cast("long").alias(
                "shared_prefix_docs"
            ),
            F.expr(
                "1000 * sum(case when sz >= 2 then 1 else 0 end)"
                " div count(1)"
            ).cast("long").alias("shared_milli"),
        )
    )


@register("x122_prefix_dup_rate", _X122_ORACLE)
def x122_prefix_dup_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X122 shared-prefix duplication rate: per source, the share of
    docs opening with a first-32-char prefix some other document also
    carries — the cheapest boilerplate-header signal, read next to
    x108's LSH dup rate to decide template stripping vs near-dup
    machinery.  Prefix groups are ONE equi-groupBy (never pairwise);
    the rollup is sources-bounded."""
    return prefix_dup_rate(load(spark, sf_dir, "documents")).orderBy(
        "source", "n_docs", "shared_prefix_docs", "shared_milli"
    )


# -- x123: vocabulary head-coverage curve ------------------------------------
#
# HOW HEAD-HEAVY is the corpus: the share of total token mass covered
# by the top-K most frequent terms, at K = 10/100/1000 — the Zipf
# concentration number a tokenizer budget (x39's vocab size) and a
# stopword policy both read.  Tie-order independence makes this exact
# without ranking ANY token: every token tied at count c contributes
# the same mass, so covered(K) over the (count, m_tokens)
# counts-of-counts frame is
#   Σ  CASE WHEN cum_m <= K THEN c*m ELSE max(K - (cum_m - m), 0)*c END
# — one aggregate per K over a frame bounded by the number of DISTINCT
# count values (hundreds of rows at any corpus size), cumulated by a
# window over count DESC (deterministic: count is the frame's key).
#
# Scale: one token-explode groupBy (vocabulary-scale, the x66/x84
# regime), one counts-of-counts rollup (metadata), windows and
# aggregates on the metadata frame only.

_X123_KS = (10, 100, 1000)

_X123_ORACLE = f"""
WITH tok AS (
  SELECT UNNEST(string_split(text, ' ')) AS w FROM documents),
c AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS cnt FROM tok GROUP BY w),
cc AS (SELECT cnt, CAST(COUNT(*) AS BIGINT) AS m FROM c GROUP BY cnt),
cum AS (
  SELECT cnt, m,
         CAST(SUM(m) OVER (ORDER BY cnt DESC) AS BIGINT) AS cum_m
  FROM cc),
t AS (SELECT CAST(SUM(cnt * m) AS BIGINT) AS mass,
             CAST(SUM(m) AS BIGINT) AS vocab FROM cc),
k(k) AS (VALUES {", ".join(f"({k})" for k in _X123_KS)}),
cov AS (
  SELECT k.k,
         CAST(SUM(CASE WHEN cum_m <= k.k THEN cnt * m
                       ELSE GREATEST(k.k - (cum_m - m), 0) * cnt END)
              AS BIGINT) AS covered
  FROM cum CROSS JOIN k GROUP BY k.k)
SELECT CAST(cov.k AS BIGINT) AS k, t.vocab, t.mass, cov.covered,
       CAST(1000 * cov.covered // t.mass AS BIGINT) AS share_milli
FROM cov CROSS JOIN t
ORDER BY k, vocab, mass, covered, share_milli"""


def head_coverage_curve(
    docs: DataFrame, ks: tuple = _X123_KS, text_col: str = "text"
) -> DataFrame:
    """(k, vocab, mass, covered, share_milli): token mass covered by
    the top-k terms, exact at every k via the counts-of-counts frame
    (tie-order independent — see module comment)."""
    c = (
        docs.select(F.explode(F.split(text_col, " ")).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    cc = c.groupBy("cnt").agg(F.count(F.lit(1)).cast("long").alias("m"))
    w = Window.orderBy(F.desc("cnt")).rowsBetween(
        Window.unboundedPreceding, 0
    )
    cum = cc.select(
        "cnt", "m", F.sum("m").over(w).cast("long").alias("cum_m")
    )
    aggs = [
        F.sum(F.col("cnt") * F.col("m")).cast("long").alias("mass"),
        F.sum("m").cast("long").alias("vocab"),
    ]
    for k in ks:
        aggs.append(
            F.sum(
                F.when(F.col("cum_m") <= k, F.col("cnt") * F.col("m"))
                .otherwise(
                    F.greatest(
                        F.lit(k) - (F.col("cum_m") - F.col("m")), F.lit(0)
                    )
                    * F.col("cnt")
                )
            ).cast("long").alias(f"cov_{k}")
        )
    one = cum.agg(*aggs)
    stack = ", ".join(
        f"CAST({int(k)} AS BIGINT), vocab, mass, cov_{k}" for k in ks
    )
    return one.selectExpr(
        f"stack({len(ks)}, {stack}) AS (k, vocab, mass, covered)"
    ).select(
        "k",
        "vocab",
        "mass",
        "covered",
        F.expr("1000 * covered div mass").cast("long").alias("share_milli"),
    )


@register("x123_head_coverage", _X123_ORACLE)
def x123_head_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X123 vocabulary head-coverage curve: exact token-mass share of
    the top-10/100/1000 terms — the Zipf concentration read beside
    x66's vocab growth and x39's BPE budget.  One vocabulary-scale
    groupBy, then metadata-frame arithmetic only (tie-order-independent
    coverage needs NO token ranking)."""
    return head_coverage_curve(load(spark, sf_dir, "documents")).orderBy(
        "k", "vocab", "mass", "covered", "share_milli"
    )
