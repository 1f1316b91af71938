"""Deduplication operators (SURVEY §2C X01/X02): exact, MinHash-LSH,
n-gram Jaccard, SimHash.

Scale design (the 100 TB story):
- Exact dedup is a hash groupBy — one shuffle on the dedup key, map-side
  partial aggregation.
- MinHash-LSH never materializes the O(n^2) pair space: docs are bucketed by
  (band, band-signature) and only same-bucket pairs are emitted, which is
  the standard shuffle-join-on-bucket-key plan.  Signatures are computed in
  one map-only HOF pass (one md5 per shingle + multiplicative universal
  mixing per seed), deterministic across engines and partitionings
  (SURVEY §7 risk 3: prefer SQL-level hashes over MLlib's, whose seeds are
  version-sensitive).
- SimHash reduces each doc to one 16-bit fingerprint in a single pass
  (token explode -> per-bit signed sums -> sign), so near-dup candidacy
  becomes an equality/bucket problem.
"""

from __future__ import annotations

import weakref

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from cubefs_hadoop_spark.catalog import load
from cubefs_hadoop_spark.plans.materialize import barrier, materialize_async
from cubefs_hadoop_spark.plans.parallelism import widen_for_cpu
from cubefs_hadoop_spark.registry import register
from cubefs_hadoop_spark.oracle_compat import r2d

# At most one live LSH band cache per SPARK SESSION (see
# lsh_candidate_pairs) — session-scoped so concurrent sessions in one
# process never unpersist each other's cache (VERDICT r04 #5).  Weak keys:
# a stopped session's entry dies with it.
_BANDS_CACHE: "weakref.WeakKeyDictionary[SparkSession, DataFrame]" = (
    weakref.WeakKeyDictionary()
)

N_SEEDS = 9
BAND_ROWS = 3  # 3 bands x 3 rows

# MinHash family: one md5 per shingle reduced to a 32-bit int h, then
# h_i = (A[i]*h + B[i]) mod P (multiplicative universal hashing, P prime
# > 2^32).  One strong hash per shingle instead of N_SEEDS of them; the
# per-seed mixing keeps the argmin shingles decorrelated across seeds
# (naive h1+i*h2 double hashing reuses the same argmin and floods the
# bands with false positives — measured 328k candidate pairs vs 2.2k at
# sf0.1).  A[i]*h < 2^30 * 2^32 so the arithmetic stays in BIGINT on
# both Spark and DuckDB.
MH_P = 4294967311
MH_A = [769060771, 742295933, 527052217, 271470377, 855716887,
        322096813, 102367411, 918492571, 643856369]
MH_B = [378892469, 814586871, 133461553, 946392329, 558228521,
        622152523, 495813251, 270700861, 731246117]


def _sql_sub(base: str, old: str, new: str) -> str:
    """``str.replace`` that FAILS AT IMPORT if the anchor text drifted.

    Several oracles below are derived from a base oracle by textual
    substitution (x02e/x51/x61/x69/x70 extend x02/x28's SQL); a later
    edit to the base text would make a plain ``.replace`` silently
    no-op and register the BASE oracle under the derived name — caught
    only at the next sweep as a hash mismatch (ADVICE r10).  Guarding
    the substitution turns that one-round-late failure into an
    ImportError at the edit itself."""
    out = base.replace(old, new)
    if out == base:
        raise AssertionError(
            f"oracle substitution no-op — anchor drifted: {old[:70]!r}"
        )
    return out


@register(
    "x01_exact_dedup",
    """SELECT MIN(doc_id) AS keep_id, COUNT(*) AS dup_cnt
       FROM documents GROUP BY text ORDER BY keep_id, dup_cnt""",
)
def x01_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X01 exact dedup: group on the content key, keep the smallest doc_id.
    At 100 TB the group key should be sha2(text,256) so the shuffle moves
    32-byte digests instead of documents — same plan, smaller payload
    (see exact_dedup_by_hash below)."""
    return (
        load(spark, sf_dir, "documents")
        .groupBy("text")
        .agg(F.min("doc_id").alias("keep_id"), F.count(F.lit(1)).alias("dup_cnt"))
        .select("keep_id", "dup_cnt")
        .orderBy("keep_id", "dup_cnt")
    )


def exact_dedup_by_hash(df: DataFrame, key: str = "text") -> DataFrame:
    """Production exact dedup: shuffle sha2 digests, not documents."""
    return (
        df.withColumn("_h", F.sha2(F.col(key), 256))
        .withColumn(
            "_rn",
            F.row_number().over(Window.partitionBy("_h").orderBy(F.col(key))),
        )
        .filter(F.col("_rn") == 1)
        .drop("_h", "_rn")
    )


def _shingles(col: str = "text", k: int = 8) -> F.Column:
    """Distinct character k-shingles via sequence+transform (JVM-side HOFs,
    no Python)."""
    return F.expr(
        f"transform(sequence(1, greatest(length({col})-{k - 1}, 1)),"
        f" i -> substring({col}, i, {k}))"
    )


def minhash_signature(docs: DataFrame, n_seeds: int = N_SEEDS) -> DataFrame:
    """doc_id -> n_seeds min-hashes, computed in a single map-only pass.

    One ``aggregate()`` higher-order function folds the shingle stream into
    a struct of n_seeds running minimums — no explode, no shuffle, no
    per-seed re-hash (one md5 per shingle, then n_seeds cheap
    multiply-mod mixes).  The signature stage is therefore embarrassingly
    parallel: at 100 TB it is a pure scan-side projection whose only
    shuffle is the (tiny) band-bucket join that follows.  Hashing is
    md5-based, deterministic across engines, partition counts, and Spark
    versions (SURVEY §7 risk 3: prefer SQL-level hashes over MLlib's
    version-sensitive seeds).  Measured 3x over the explode+groupBy plan
    at sf0.1 (12.9s -> 4.2s warm, local[32])."""
    init = (
        "named_struct("
        + ", ".join(f"'m{i}', {MH_P}L" for i in range(n_seeds))
        + ")"
    )
    step = (
        "named_struct("
        + ", ".join(
            f"'m{i}', least(acc.m{i}, ({MH_A[i]}L*h + {MH_B[i]}L) % {MH_P}L)"
            for i in range(n_seeds)
        )
        + ")"
    )
    agg = f"""
    aggregate(
      transform(sequence(1, greatest(length(text)-7, 1)),
                i -> cast(conv(substr(md5(substring(text, i, 8)), 1, 8),
                               16, 10) as bigint)),
      {init},
      (acc, h) -> {step}
    )"""
    # widen_for_cpu: a small corpus arrives as one file split; the md5
    # pass is CPU-bound, so fan it out to every core first (no-op at
    # scale where splits >= cores).  Measured 5.8s -> 0.5s at sf0.1.
    docs = widen_for_cpu(docs, "doc_id")
    return docs.select("doc_id", F.expr(agg).alias("_m")).select(
        "doc_id", *[F.col(f"_m.m{i}").alias(f"mh{i}") for i in range(n_seeds)]
    )


def lsh_bands(sig: DataFrame, band_rows: int = BAND_ROWS) -> DataFrame:
    """Signature -> (doc_id, band, key) with key = md5 of the band's rows."""
    n_bands = N_SEEDS // band_rows
    bands = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.md5(
                    F.concat_ws(
                        "|",
                        *[f"mh{b * band_rows + r}" for r in range(band_rows)],
                    )
                ).alias("key"),
            )
            for b in range(n_bands)
        ]
    )
    return sig.select("doc_id", F.explode(bands).alias("bk")).select(
        "doc_id", F.col("bk.band").alias("band"), F.col("bk.key").alias("key")
    )


def _bucket_pairs(sig: DataFrame, id_col: str) -> DataFrame:
    """Same-bucket pairs (da, db), da < db, of a (id, band, key) bucket
    table: the bucket-local self-join every banded candidate generator
    (MinHash-LSH, SRP) shares — an equi-join on (band, key), never
    all-pairs.  A pair colliding in k bands appears k times; each
    caller places its own ``distinct``."""
    return (
        sig.alias("a")
        .join(
            sig.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("da"), F.col(f"b.{id_col}").alias("db")
        )
    )


def _probe_delta(
    new_sig: DataFrame, id_col: str, index: DataFrame | None = None
) -> DataFrame:
    """Candidate pairs a batch's bucket rows ``new_sig`` add to a
    persisted bucket ``index``: (index, new) collisions plus (new, new)
    same-bucket pairs, as distinct (da, db) with da < db.  The cross
    join uses ``!=`` then ``least``/``greatest``, so a batch row already
    folded into the index yields neither a self-pair nor a reversed
    duplicate.  ``index=None`` (nothing persisted yet) probes the batch
    against itself only."""
    within = _bucket_pairs(new_sig, id_col)
    if index is None:
        return within.distinct()
    cross = (
        index.alias("a")
        .join(
            new_sig.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col(f"a.{id_col}") != F.col(f"b.{id_col}")),
        )
        .select(
            F.least(f"a.{id_col}", f"b.{id_col}").alias("da"),
            F.greatest(f"a.{id_col}", f"b.{id_col}").alias("db"),
        )
    )
    return cross.unionByName(within).distinct()


_X02_ORACLE = (
    """
WITH sh AS (
  SELECT doc_id, UNNEST(list_transform(range(1, greatest(length(text)-7,1)+1),
                        i -> substr(text, i, 8))) AS sh FROM documents
),
h AS (SELECT doc_id, CAST(('0x'||substr(md5(sh),1,8)) AS BIGINT) AS h FROM sh),
mh AS (SELECT doc_id, """
    + ", ".join(
        f"MIN(({MH_A[s]}*h + {MH_B[s]}) % {MH_P}) AS mh{s}"
        for s in range(N_SEEDS)
    )
    + """ FROM h GROUP BY doc_id),
bands AS (
  SELECT doc_id, 0 AS band, md5(mh0||'|'||mh1||'|'||mh2) AS key FROM mh
  UNION ALL SELECT doc_id, 1, md5(mh3||'|'||mh4||'|'||mh5) FROM mh
  UNION ALL SELECT doc_id, 2, md5(mh6||'|'||mh7||'|'||mh8) FROM mh)
SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
FROM bands a JOIN bands b ON a.band = b.band AND a.key = b.key
                          AND a.doc_id < b.doc_id
ORDER BY da, db"""
)


def lsh_candidate_pairs(docs: DataFrame) -> DataFrame:
    """(da, db) doc-id pairs sharing at least one LSH band bucket.

    The pair join is on (band, key) — bucket-local, never all-pairs.  The
    band table is cached: a plain self-join would recompute the whole
    signature pipeline on BOTH sides.  At scale the signature table is a
    real materialization point of the dedup pipeline; cache() expresses
    that while keeping the plan AQE-visible (measured faster here than a
    localCheckpoint RDD cut).  Successive calls ON THE SAME SESSION
    unpersist the previous call's band cache so a long-lived session
    holds at most one (ADVICE r01: the cache was never released);
    unpersist only drops the materialization, never correctness — an
    earlier call's returned frame recomputes if consumed later.  The
    cache registry is keyed by SparkSession, so concurrent sessions in
    one process never evict each other (VERDICT r04 #5)."""
    session = docs.sparkSession
    prev = _BANDS_CACHE.pop(session, None)
    if prev is not None:
        try:
            prev.unpersist()
        except Exception:
            pass
    bands = lsh_bands(minhash_signature(docs)).cache()
    _BANDS_CACHE[session] = bands
    return _bucket_pairs(bands, "doc_id").distinct()


def lsh_build_index(docs: DataFrame, index_path: str) -> None:
    """Persist the LSH band table (doc_id, band, key) for INCREMENTAL
    dedup: a growing corpus signs each new batch once and probes this
    index, instead of re-signing the whole corpus per batch.  At 100 TB
    the index is ~n_bands small rows per doc — a fraction of corpus
    bytes — and the probe join shuffles only on (band, key)."""
    lsh_bands(minhash_signature(docs)).write.mode("overwrite").parquet(
        index_path
    )


def lsh_index_append(new_docs: DataFrame, index_path: str) -> None:
    """Fold a new batch's bands into the persisted index (after its
    candidates were emitted) — completes the incremental-ingest loop."""
    lsh_bands(minhash_signature(new_docs)).write.mode("append").parquet(
        index_path
    )


def lsh_incremental_candidates(
    new_docs: DataFrame, index_path: str
) -> DataFrame:
    """Candidate near-dup pairs INVOLVING the new batch: (corpus, new)
    pairs from probing the persisted index plus (new, new) pairs within
    the batch.  Output (da, db) with da < db, distinct — exactly the
    delta that full-corpus ``lsh_candidate_pairs`` would add for these
    docs, at the cost of signing only the batch.  The corpus-side work
    is one scan of the (small) band index, not the corpus."""
    new_bands = barrier(
        lsh_bands(minhash_signature(new_docs)), eager=False
    )
    index = new_docs.sparkSession.read.parquet(index_path)
    return _probe_delta(new_bands, "doc_id", index)


@register("x02_minhash_lsh", _X02_ORACLE)
def x02_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X02 MinHash-LSH near-dup candidates: 9 min-hashes over char
    8-shingles (single-pass HOF signature, see minhash_signature), banded
    3x3; pairs sharing any band bucket."""
    docs = load(spark, sf_dir, "documents")
    return lsh_candidate_pairs(docs).orderBy("da", "db")


# Incremental probe oracle: the delta = every full-corpus candidate pair
# whose NEWER side (db, since da < db and corpus ids precede batch ids)
# is in the batch.
_X02E_ORACLE = _sql_sub(
    _X02_ORACLE,
    "AND a.doc_id < b.doc_id\nORDER BY da, db",
    "AND a.doc_id < b.doc_id\nWHERE b.doc_id >= 400\nORDER BY da, db",
)


@register("x02e_incremental_lsh", _X02E_ORACLE)
def x02e_incremental_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X02e incremental dedup probe: corpus (doc_id < 400) bands persist
    as an index; the batch (doc_id >= 400) signs only itself and probes —
    the candidate delta must equal the full-corpus run restricted to
    pairs involving the batch (the steady-state ingest loop's dedup
    stage)."""
    import tempfile

    docs = load(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") < 400)
    batch = docs.filter(F.col("doc_id") >= 400)
    idx = tempfile.mkdtemp(prefix="lsh_idx_") + "/bands"
    lsh_build_index(corpus, idx)
    return lsh_incremental_candidates(batch, idx).orderBy("da", "db")


@register(
    "x02b_ngram_jaccard",
    """WITH g AS (
         SELECT DISTINCT doc_id, gm FROM (
           SELECT doc_id,
                  UNNEST(list_transform(
                    range(1, greatest(len(string_split(text,' '))-2, 1)+1),
                    i -> array_to_string(string_split(text,' ')[i:i+2], ' '))) AS gm
           FROM documents WHERE doc_id < 200)
       ),
       sz AS (SELECT doc_id, COUNT(*) AS n FROM g GROUP BY doc_id)
       SELECT da, db, CAST(ROUND(jac, 2) AS DECIMAL(18,2)) AS jac FROM (
         SELECT a.doc_id AS da, b.doc_id AS db,
                CAST(COUNT(*) AS DOUBLE)
                  / (MIN(sa.n) + MIN(sb.n) - COUNT(*)) AS jac
         FROM g a JOIN g b ON a.gm = b.gm AND a.doc_id < b.doc_id
         JOIN sz sa ON sa.doc_id = a.doc_id
         JOIN sz sb ON sb.doc_id = b.doc_id
         GROUP BY a.doc_id, b.doc_id)
       WHERE jac > 0.2 ORDER BY da, db, jac""",
)
def x02b_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X02b exact word-3-gram Jaccard over candidate subset (doc_id<200).
    Pattern: intersections come from a join on the gram (inverted-index
    join), |A∪B| = |A|+|B|-|A∩B| — no pairwise set materialization.  In
    production this runs AFTER x02's LSH filter as the verify stage."""
    docs = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    grams = (
        docs.withColumn("ws", F.split("text", " "))
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(1, greatest(size(ws)-2, 1)),"
                    " i -> concat_ws(' ', slice(ws, i, 3)))"
                )
            ).alias("gm"),
        )
        .distinct()
    )
    # used three times below (a-side, b-side, sizes): materialize once
    # (reliable on a real cluster via cfspark.reliable.barriers=true)
    grams = barrier(grams, eager=False)
    sizes = grams.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a = grams.alias("a")
    b = grams.alias("b")
    inter = (
        a.join(b, (F.col("a.gm") == F.col("b.gm")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("da"), F.col("b.doc_id").alias("db"))
        .agg(F.count(F.lit(1)).alias("i"))
    )
    sa = sizes.select(F.col("doc_id").alias("da"), F.col("n").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("db"), F.col("n").alias("nb"))
    return (
        inter.join(sa, "da")
        .join(sb, "db")
        .withColumn(
            "jac", F.col("i").cast("double") / (F.col("na") + F.col("nb") - F.col("i"))
        )
        .filter(F.col("jac") > 0.2)
        .select("da", "db", r2d(F.col("jac")).alias("jac"))
        .orderBy("da", "db", "jac")
    )


def _simhash_sql_duck() -> str:
    # 32-bit simhash: first 8 hex digits of md5(token); bit j of digit d is
    # floor(d / 2^j) % 2; signed sum over distinct tokens; sign -> bit.
    # (16 bits proved too coarse: shared-vocab docs collided massively.)
    bit_terms = []
    for j in range(32):
        d = j // 4 + 1  # hex digit index (1-based)
        b = j % 4
        bit_terms.append(
            f"(CASE WHEN SUM(2*(((strpos('0123456789abcdef', substr(h,{d},1))-1)"
            f" // {2 ** b}) % 2)-1) > 0 THEN {2 ** j} ELSE 0 END)"
        )
    fp = " + ".join(bit_terms)
    return f"""
WITH tok AS (
  SELECT DISTINCT doc_id, md5(w) AS h FROM (
    SELECT doc_id, UNNEST(string_split(text, ' ')) AS w FROM documents)
)
SELECT doc_id, CAST({fp} AS BIGINT) AS fp
FROM tok GROUP BY doc_id ORDER BY doc_id, fp"""


def simhash_fingerprints(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, fp): 32-bit SimHash over distinct whitespace tokens.
    One explode + one groupBy per doc; near-dup search then becomes
    fingerprint equality / low Hamming distance — constant work per doc."""
    tok = (
        widen_for_cpu(docs, "doc_id")
        .select("doc_id", F.explode(F.split(text_col, " ")).alias("w"))
        .distinct()
        .withColumn("h", F.md5("w"))
    )
    bit_terms = []
    for j in range(32):
        d = j // 4 + 1
        b = j % 4
        digit = F.expr(f"instr('0123456789abcdef', substring(h, {d}, 1)) - 1")
        bit = F.floor(digit / (2 ** b)) % 2
        bit_terms.append(
            F.when(F.sum(2 * bit - 1) > 0, F.lit(2 ** j)).otherwise(F.lit(0))
        )
    fp = bit_terms[0]
    for t in bit_terms[1:]:
        fp = fp + t
    return tok.groupBy("doc_id").agg(fp.cast("long").alias("fp"))


@register("x02c_simhash", _simhash_sql_duck())
def x02c_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X02c SimHash fingerprint (32-bit, md5-derived, engine-portable)."""
    docs = load(spark, sf_dir, "documents")
    return simhash_fingerprints(docs).orderBy("doc_id", "fp")


def simhash_neardup_pairs(fp_df: DataFrame, max_hamming: int = 2) -> DataFrame:
    """Near-dup pairs by SimHash banding: split the 32-bit fingerprint into
    4 bytes; by pigeonhole, pairs within Hamming distance <= 3 share at
    least one byte band.  Join per band, then exact Hamming filter via
    bit_count(xor).  Engine-side (tested in tests/test_dedup.py)."""
    bands = fp_df.select(
        "doc_id",
        "fp",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftright("fp", 8 * b).bitwiseAND(F.lit(255)).alias("key"),
                    )
                    for b in range(4)
                ]
            )
        ).alias("bk"),
    ).select("doc_id", "fp", "bk.band", "bk.key")
    # self-joined below: materialize the tiny band table once instead of
    # recomputing the simhash aggregation per side
    bands = barrier(bands, eager=False)
    a, b = bands.alias("a"), bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("da"),
            F.col("b.doc_id").alias("db"),
            F.expr("bit_count(a.fp ^ b.fp)").alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


_X02D_ORACLE = (
    _X02_ORACLE.split("SELECT DISTINCT")[0].rstrip().rstrip(")")
    + """),
cand AS (
  SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
  FROM bands a JOIN bands b ON a.band = b.band AND a.key = b.key
                            AND a.doc_id < b.doc_id)
SELECT c.da AS id_a, c.db AS id_b,
       CAST(levenshtein(x.text, y.text) AS BIGINT) AS dist
FROM cand c
JOIN documents x ON x.doc_id = c.da
JOIN documents y ON y.doc_id = c.db
WHERE levenshtein(x.text, y.text)
      <= CAST(0.15 * greatest(length(x.text), length(y.text)) AS INT)
ORDER BY id_a, id_b, dist"""
)


@register("x02d_edit_distance_dedup", _X02D_ORACLE)
def x02d_edit_distance_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X02d exact-verify near-dup stage — the verify tier of the
    production dedup cascade: X02's MinHash-LSH band join proposes
    candidate pairs, then true edit distance under a relative threshold
    (15% of the longer doc) confirms them.

    Scale design: the O(len^2) levenshtein runs ONLY on pairs that
    already share an LSH bucket, so its input is the (tiny) candidate
    set, not a blocked self-join of the corpus — at 100 TB the expensive
    predicate cost is proportional to the near-dup density, not corpus
    size.  A single-min-gram blocking variant was measured at 74k
    candidate pairs for 5k docs (degenerate blocks on templated text);
    the 3-band LSH filter admits ~2k."""
    docs = load(spark, sf_dir, "documents")
    cand = lsh_candidate_pairs(docs)
    texts = docs.select("doc_id", "text")
    pairs = (
        cand.join(texts.alias("x"), F.col("da") == F.col("x.doc_id"))
        .join(texts.alias("y"), F.col("db") == F.col("y.doc_id"))
        .select(
            F.col("da").alias("id_a"),
            F.col("db").alias("id_b"),
            F.col("x.text").alias("ta"),
            F.col("y.text").alias("tb"),
        )
    )
    # Optimizer barrier before the expensive predicate.  Without it,
    # Catalyst merges `levenshtein <= cap` into the broadcast-join
    # condition and AQE coalesces the tiny join output to one partition,
    # making those calls single-threaded.  The explicit repartition +
    # lazy barrier pins the verify stage to the full cluster width (the
    # session's defaultParallelism — a 1000-core cluster gets 1000-wide
    # verify tasks, not a hardcoded 64) with only the cheap conditions
    # upstream.
    width = spark.sparkContext.defaultParallelism
    pairs = barrier(pairs.repartition(width, "id_a", "id_b"), eager=False)
    dist = F.levenshtein("ta", "tb")
    cap = (
        F.lit(0.15) * F.greatest(F.length("ta"), F.length("tb"))
    ).cast("int")
    return (
        pairs.filter(dist <= cap)
        .select("id_a", "id_b", dist.cast("long").alias("dist"))
        .orderBy("id_a", "id_b", "dist")
    )


# -- x28: canonical-doc election over the near-dup graph -------------------
#
# The last stage of the production dedup pipeline: LSH candidate pairs
# form a graph; a dedup GROUP is a connected component; every document
# elects the component's minimum doc_id as its canonical representative
# (isolated docs are their own canonical).  The Spark side runs the
# diameter-independent large/small-star algorithm (components.py,
# O(log^2 n) rounds of two shuffles each — the 100 TB path); the oracle
# replays the same election as a recursive reachability closure, so the
# full pipeline END TO END is hash-checked, not just the pair stage.

_X28_ORACLE = (
    "WITH RECURSIVE pairs AS (\n"
    + _sql_sub(_X02_ORACLE, "ORDER BY da, db", "")
    + """),
edges AS (
  SELECT da AS a, db AS b FROM pairs
  UNION ALL
  SELECT db AS a, da AS b FROM pairs),
reach(node, lbl) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT e.a, r.lbl FROM edges e JOIN reach r ON r.node = e.b
)
SELECT node AS doc_id, MIN(lbl) AS canonical
FROM reach GROUP BY node ORDER BY doc_id"""
)


def elect_canonical(
    docs: DataFrame,
    pairs: DataFrame,
    score: "F.Column | DataFrame | None" = None,
    keep_flag: bool = True,
    default_score: int = -1,
) -> DataFrame:
    """THE canonical-election verb (VERDICT r11 #8): near-dup ``pairs``
    -> connected components -> per-component argmax by (score DESC,
    doc_id ASC) -> every document mapped to its component's winner.
    x28/x55/x82 are thin wrappers over this; the next election policy
    (recency, source trust, ...) is one ``score`` argument.

    ``score`` selects the policy:
      * ``None`` — min doc_id.  The CC label IS the min id by
        construction (components.py), so no aggregation runs at all.
      * a ``Column`` — evaluated over ``docs`` (x55 passes the token
        count: keep the longest copy).
      * a ``DataFrame`` of (doc_id, <score col>) — left-joined, missing
        docs default to ``default_score`` (x82 passes the PageRank
        frame, which only covers docs on pairs).

    The election is ONE max-of-struct partial aggregation per component
    (components are duplicate-sized; struct comparison is lexicographic,
    so max(struct(s, -doc_id)) is argmax-by-score with min-id tiebreak)
    — never a per-component sort.  ``keep_flag`` appends
    ``kept = (doc_id == canonical)``."""
    from cubefs_hadoop_spark.extensions.components import (
        connected_components_auto,
    )

    comps = connected_components_auto(pairs)
    if score is None:
        out = (
            docs.select("doc_id")
            .join(comps, "doc_id", "left")
            .select(
                "doc_id",
                F.coalesce("comp", F.col("doc_id")).alias("canonical"),
            )
        )
    else:
        if isinstance(score, DataFrame):
            # Contract (ADVICE r12): exactly (doc_id, <score>) — a wider
            # frame would silently elect by an arbitrary column.
            extra = [c for c in score.columns if c != "doc_id"]
            if "doc_id" not in score.columns or len(extra) != 1:
                raise ValueError(
                    "elect_canonical: a DataFrame score must have exactly"
                    " two columns (doc_id, <score>); got "
                    f"{score.columns}"
                )
            s_col = extra[0]
            base = (
                docs.select("doc_id")
                .join(score, "doc_id", "left")
                .select(
                    "doc_id",
                    F.coalesce(s_col, F.lit(int(default_score)))
                    .cast("long")
                    .alias("s"),
                )
            )
        else:
            base = docs.select("doc_id", score.cast("long").alias("s"))
        labeled = (
            base.join(comps, "doc_id", "left")
            .select(
                "doc_id",
                "s",
                F.coalesce("comp", F.col("doc_id")).alias("comp"),
            )
        )
        elect = (
            labeled.groupBy("comp")
            .agg(
                F.max(
                    F.struct(F.col("s"), (-F.col("doc_id")).alias("nid"))
                ).alias("best")
            )
            .select(
                "comp", (-F.col("best.nid")).cast("long").alias("canonical")
            )
        )
        out = labeled.join(elect, "comp").select("doc_id", "canonical")
    if keep_flag:
        out = out.select(
            "doc_id",
            "canonical",
            (F.col("doc_id") == F.col("canonical")).alias("kept"),
        )
    return out


@register("x28_canonical_dedup", _X28_ORACLE)
def x28_canonical_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X28 canonical-doc election: every document -> min doc_id of its
    near-dup connected component (LSH pairs -> size-tiered CC -> left-join
    back over the corpus; isolated docs canonicalize to themselves).
    The CC tier is auto-selected: driver union-find when the measured
    pair count fits ``cfspark.cc.driver.threshold`` (pair graphs are
    duplicate-sized, not corpus-sized), large/small-star rounds above it
    — identical labels either way (tests pin the equality)."""
    docs = load(spark, sf_dir, "documents")
    return elect_canonical(
        docs, lsh_candidate_pairs(docs), score=None, keep_flag=False
    ).orderBy("doc_id")


# -- x55: quality-canonical dedup (keep the BEST copy, not the first) -------
#
# x28 elects min doc_id per near-dup component — the deterministic
# baseline.  Production dedup keeps the best copy instead: mirror sites
# truncate, scrapes drop paragraphs, and the min-id copy is often the
# worst one.  x55 runs the same LSH -> connected-components pipeline
# and elects per component by a QUALITY total order — here token count
# (keep the longest copy, the common heuristic), doc_id as the
# deterministic tiebreak.  The election is one partial-aggregated
# max-of-struct per component (components are duplicate-sized, the
# aggregation is skew-immune), so swapping in any other integer quality
# signal (x47's blend, x40's fluency millis) is a one-column change.

_X55_ORACLE = (
    "WITH RECURSIVE pairs AS (\n"
    + _sql_sub(_X02_ORACLE, "ORDER BY da, db", "")
    + """),
edges AS (
  SELECT da AS a, db AS b FROM pairs
  UNION ALL
  SELECT db AS a, da AS b FROM pairs),
reach(node, lbl) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT e.a, r.lbl FROM edges e JOIN reach r ON r.node = e.b
),
lab AS (SELECT node AS doc_id, MIN(lbl) AS comp FROM reach GROUP BY node),
t AS (SELECT l.doc_id, l.comp,
             CAST(len(string_split(d.text, ' ')) AS BIGINT) AS tk
      FROM lab l JOIN documents d USING (doc_id)),
win AS (SELECT comp, doc_id AS canonical,
               ROW_NUMBER() OVER (PARTITION BY comp
                                  ORDER BY tk DESC, doc_id) AS rn
        FROM t)
SELECT t.doc_id, w.canonical, t.doc_id = w.canonical AS kept
FROM t JOIN win w ON w.comp = t.comp AND w.rn = 1
ORDER BY doc_id, canonical, kept"""
)


@register("x55_quality_canonical_dedup", _X55_ORACLE)
def x55_quality_canonical_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X55 quality-canonical election: every document -> the LONGEST
    member of its near-dup component (token count, doc_id tiebreak);
    kept = (doc == canonical).  Same pair/CC machinery as x28; the
    election is elect_canonical's max-of-struct partial aggregation per
    component — never a per-component sort of the corpus."""
    docs = load(spark, sf_dir, "documents")
    return elect_canonical(
        docs,
        lsh_candidate_pairs(docs),
        score=F.size(F.split("text", " ")),
    ).orderBy("doc_id", "canonical", "kept")


# -- x38: exact duplicated-substring spans (Lee et al. 2022) ---------------
#
# Position-level exact dedup: find every MAXIMAL word span that is part
# of text repeated elsewhere in the corpus (or elsewhere in the same
# document) — the "deduplicating training data" primitive from
# arXiv:2107.06499, re-expressed over sliding word windows instead of a
# suffix array.  Distinct from x16 (fixed k-word segments on aligned
# boundaries): x38 slides a W-word window at stride 1, so a duplicated
# passage is detected at ANY offset, and overlapping duplicated windows
# are merged into one maximal span per document.
#
# Scale design (100 TB): the window stream is corpus x ~1 rows but is
# born in a map stage riding the scan (sequence+transform+posexplode,
# all JVM codegen).  Duplicate detection is ONE window count over the
# window value — one exchange of the stream, no join, no pairwise work;
# a corpus-hot boilerplate window concentrates its positions in one
# task, which is the same bound as the join-based alternative and is
# AQE-skew-splittable since nothing downstream needs the whole key in
# one task.  Span merging and the per-doc rollup share ONE doc_id-keyed
# exchange (window + groupBy on the same key, x34's pattern), and the
# final left join back to the per-doc word counts is doc_id-keyed too.
# Nothing ever collects; output is corpus-row-sized.

_X38_W = 16  # words per sliding window

_X38_ORACLE = f"""
WITH w AS (SELECT doc_id, string_split(text,' ') AS w FROM documents),
base AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS total_words FROM w),
wins AS (
  SELECT doc_id, CAST(i AS BIGINT) AS pos,
         array_to_string(w[(i+1):(i+{_X38_W})],' ') AS win
  FROM w, UNNEST(range(CAST(len(w)-{_X38_W - 1} AS BIGINT))) AS u(i)
  WHERE len(w) >= {_X38_W}
),
hits AS (
  SELECT doc_id, pos FROM (
    SELECT doc_id, pos, COUNT(*) OVER (PARTITION BY win) AS c FROM wins) t
  WHERE c > 1
),
marked AS (
  SELECT doc_id, pos,
    CASE WHEN MAX(pos+{_X38_W - 1}) OVER (PARTITION BY doc_id ORDER BY pos
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
      OR pos > MAX(pos+{_X38_W - 1}) OVER (PARTITION BY doc_id ORDER BY pos
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) + 1
    THEN 1 ELSE 0 END AS ns
  FROM hits),
sp AS (
  SELECT doc_id, pos, SUM(ns) OVER (PARTITION BY doc_id ORDER BY pos
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
  FROM marked),
spans AS (
  SELECT doc_id, sid, MIN(pos) AS s, MAX(pos)+{_X38_W - 1} AS e
  FROM sp GROUP BY doc_id, sid),
perdoc AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_dup_spans,
         CAST(SUM(e - s + 1) AS BIGINT) AS dup_words
  FROM spans GROUP BY doc_id)
SELECT b.doc_id, b.total_words,
       COALESCE(p.n_dup_spans, CAST(0 AS BIGINT)) AS n_dup_spans,
       COALESCE(p.dup_words, CAST(0 AS BIGINT)) AS dup_words,
       (1000 * COALESCE(p.dup_words, CAST(0 AS BIGINT))) // b.total_words
         AS dup_frac_milli
FROM base b LEFT JOIN perdoc p USING (doc_id)
ORDER BY doc_id, total_words, n_dup_spans, dup_words, dup_frac_milli"""


def duplicate_spans(docs: DataFrame, w: int = _X38_W) -> DataFrame:
    """Maximal duplicated word spans per document: slide a ``w``-word
    window at stride 1 over every document; a window is DUPLICATED when
    its exact text occurs at more than one (doc, position) in the corpus;
    overlapping/contiguous duplicated windows merge into maximal spans.

    Returns one row per document — (doc_id, total_words, n_dup_spans,
    dup_words, dup_frac_milli) — all-integer so the result is
    partitioning/replay-stable.  Documents shorter than ``w`` words (or
    with no duplicated window) report zeros rather than vanishing.

    Semantics follow the duplicated-substring removal of Lee et al. 2022
    (arXiv:2107.06499) at word granularity; `dup_frac_milli = 1000`
    flags a fully-duplicated document (x01's exact dups are a strict
    subset).  Plan: window stream is map-born; dup detection is one
    window-value exchange; span merge + rollup share one doc_id
    exchange."""
    words = docs.select("doc_id", F.split("text", " ").alias("w"))
    base = words.select(
        "doc_id", F.size("w").cast("long").alias("total_words")
    )
    idx = F.when(
        F.size("w") >= w, F.sequence(F.lit(0), F.size("w") - F.lit(w))
    ).otherwise(F.expr("array()").cast("array<int>"))
    wins = words.select(
        "doc_id",
        F.posexplode(
            F.transform(idx, lambda i: F.concat_ws(" ", F.slice("w", i + 1, w)))
        ).alias("pos", "win"),
    ).withColumn("pos", F.col("pos").cast("long"))
    # duplicate flag: ONE exchange on the window value, no join
    hits = (
        wins.withColumn(
            "c", F.count(F.lit(1)).over(Window.partitionBy("win"))
        )
        .filter(F.col("c") > 1)
        .select("doc_id", "pos")
    )
    # island merge: contiguous/overlapping duplicated windows -> maximal
    # spans; the lag-max, running span counter, and per-span aggregate
    # all ride ONE doc_id-keyed exchange (x34's sessionize pattern)
    wdoc = Window.partitionBy("doc_id").orderBy("pos")
    prev_end = F.max(F.col("pos") + F.lit(w - 1)).over(
        wdoc.rowsBetween(Window.unboundedPreceding, -1)
    )
    marked = hits.withColumn(
        "ns",
        F.when(
            prev_end.isNull() | (F.col("pos") > prev_end + 1), F.lit(1)
        ).otherwise(F.lit(0)),
    )
    sp = marked.withColumn(
        "sid",
        F.sum("ns").over(wdoc.rowsBetween(Window.unboundedPreceding, 0)),
    )
    spans = sp.groupBy("doc_id", "sid").agg(
        F.min("pos").alias("s"),
        (F.max("pos") + F.lit(w - 1)).alias("e"),
    )
    perdoc = spans.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_dup_spans"),
        F.sum(F.col("e") - F.col("s") + 1).cast("long").alias("dup_words"),
    )
    return (
        base.join(perdoc, "doc_id", "left")
        .select(
            "doc_id",
            "total_words",
            F.coalesce("n_dup_spans", F.lit(0).cast("long")).alias(
                "n_dup_spans"
            ),
            F.coalesce("dup_words", F.lit(0).cast("long")).alias("dup_words"),
            F.expr(
                "(1000 * coalesce(dup_words, 0L)) div total_words"
            ).alias("dup_frac_milli"),
        )
    )


@register("x38_dup_spans", _X38_ORACLE)
def x38_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X38 exact duplicated-substring spans: per document, the maximal
    16-word-window duplicated regions (count, words covered, milli
    fraction) — the position-level dedup signal of arXiv:2107.06499
    re-expressed as sliding windows + island merge."""
    return duplicate_spans(
        widen_for_cpu(load(spark, sf_dir, "documents"), "doc_id")
    ).orderBy(
        "doc_id", "total_words", "n_dup_spans", "dup_words", "dup_frac_milli"
    )


# -- x38b: duplicated-substring REMOVAL (the other half of Lee et al.) ------

_X38B_ORACLE = f"""
WITH w AS (SELECT doc_id, string_split(text,' ') AS w FROM documents),
base AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS total_words FROM w),
wins AS (
  SELECT doc_id, CAST(i AS BIGINT) AS pos,
         array_to_string(w[(i+1):(i+{_X38_W})],' ') AS win
  FROM w, UNNEST(range(CAST(len(w)-{_X38_W - 1} AS BIGINT))) AS u(i)
  WHERE len(w) >= {_X38_W}
),
flagged AS (
  SELECT doc_id, pos,
         COUNT(*) OVER (PARTITION BY win) AS c,
         MIN(ROW(doc_id, pos)) OVER (PARTITION BY win) AS canon
  FROM wins),
hits AS (
  SELECT doc_id, pos FROM flagged
  WHERE c > 1 AND ROW(doc_id, pos) != canon
),
marked AS (
  SELECT doc_id, pos,
    CASE WHEN MAX(pos+{_X38_W - 1}) OVER (PARTITION BY doc_id ORDER BY pos
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
      OR pos > MAX(pos+{_X38_W - 1}) OVER (PARTITION BY doc_id ORDER BY pos
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) + 1
    THEN 1 ELSE 0 END AS ns
  FROM hits),
sp AS (
  SELECT doc_id, pos, SUM(ns) OVER (PARTITION BY doc_id ORDER BY pos
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
  FROM marked),
spans AS (
  SELECT doc_id, sid, MIN(pos) AS s, MAX(pos)+{_X38_W - 1} AS e
  FROM sp GROUP BY doc_id, sid),
sl AS (
  SELECT doc_id, list(s ORDER BY s) AS ss, list(e ORDER BY s) AS ee
  FROM spans GROUP BY doc_id),
cut AS (
  SELECT w.doc_id,
         COALESCE(array_to_string(
           [w.w[i+1] FOR i IN range(0, len(w.w))
            IF len(list_filter(range(1, len(sl.ss)+1),
                   j -> i >= sl.ss[j] AND i <= sl.ee[j])) = 0], ' '), '')
           AS cleaned_text,
         CAST(len([i FOR i IN range(0, len(w.w))
            IF len(list_filter(range(1, len(sl.ss)+1),
                   j -> i >= sl.ss[j] AND i <= sl.ee[j])) > 0]) AS BIGINT)
           AS removed_words
  FROM w JOIN sl USING (doc_id))
SELECT b.doc_id, b.total_words,
       b.total_words - COALESCE(c.removed_words, CAST(0 AS BIGINT))
           AS kept_words,
       COALESCE(c.removed_words, CAST(0 AS BIGINT)) AS removed_words,
       COALESCE(c.cleaned_text,
                (SELECT array_to_string(w2.w, ' ') FROM w w2
                 WHERE w2.doc_id = b.doc_id)) AS cleaned_text
FROM base b LEFT JOIN cut c USING (doc_id)
ORDER BY doc_id, total_words, kept_words, removed_words, cleaned_text"""


def remove_duplicate_spans(docs: DataFrame, w: int = _X38_W) -> DataFrame:
    """The REMOVAL half of arXiv:2107.06499 ExactSubstr dedup (x38 is
    the detection half): every duplicated ``w``-word window keeps its
    CANONICAL occurrence — the corpus-min (doc_id, pos) over the window
    value — and every word covered by a NON-canonical duplicated window
    is cut; surviving words re-join into ``cleaned_text``.

    Returns (doc_id, total_words, kept_words, removed_words,
    cleaned_text); kept + removed == total (test-pinned), and every
    removed window's text still exists somewhere in the cleaned corpus
    (the canonical copy survives unless itself covered by a different
    non-canonical window — the same one-pass approximation the
    reference implementation makes when cuts overlap).

    Plan shape (same bounds as x38): window stream map-born; the
    duplicate flag AND the canonical election share ONE window-value
    exchange (count + min-struct over the same partition); island
    merge + span collection share one doc_id exchange; the cut itself
    is a doc_id-keyed join back to the words array with a row-local
    exists() filter per position — no corpus pairwise work anywhere."""
    words = docs.select(
        "doc_id", "text", F.split("text", " ").alias("w")
    )
    # carry the original text on the per-doc frame so the no-span
    # fallback needs no extra corpus join later
    base = words.select(
        "doc_id",
        F.size("w").cast("long").alias("total_words"),
        F.col("text").alias("_orig"),
    )
    idx = F.when(
        F.size("w") >= w, F.sequence(F.lit(0), F.size("w") - F.lit(w))
    ).otherwise(F.expr("array()").cast("array<int>"))
    wins = words.select(
        "doc_id",
        F.posexplode(
            F.transform(idx, lambda i: F.concat_ws(" ", F.slice("w", i + 1, w)))
        ).alias("pos", "win"),
    ).withColumn("pos", F.col("pos").cast("long"))
    wwin = Window.partitionBy("win")
    flagged = wins.select(
        "doc_id",
        "pos",
        F.count(F.lit(1)).over(wwin).alias("c"),
        F.min(F.struct("doc_id", "pos")).over(wwin).alias("canon"),
    )
    hits = flagged.filter(
        (F.col("c") > 1)
        & (F.struct("doc_id", "pos") != F.col("canon"))
    ).select("doc_id", "pos")
    wdoc = Window.partitionBy("doc_id").orderBy("pos")
    prev_end = F.max(F.col("pos") + F.lit(w - 1)).over(
        wdoc.rowsBetween(Window.unboundedPreceding, -1)
    )
    marked = hits.withColumn(
        "ns",
        F.when(
            prev_end.isNull() | (F.col("pos") > prev_end + 1), F.lit(1)
        ).otherwise(F.lit(0)),
    )
    sp = marked.withColumn(
        "sid",
        F.sum("ns").over(wdoc.rowsBetween(Window.unboundedPreceding, 0)),
    )
    spans = (
        sp.groupBy("doc_id", "sid")
        .agg(
            F.min("pos").alias("s"),
            (F.max("pos") + F.lit(w - 1)).alias("e"),
        )
        .groupBy("doc_id")
        .agg(
            F.array_sort(F.collect_list(F.struct("s", "e"))).alias("spans")
        )
    )
    covered = lambda i: F.exists(  # noqa: E731 — row-local span probe
        F.col("spans"),
        lambda sp_: (i >= sp_["s"]) & (i <= sp_["e"]),
    )
    cut = (
        words.join(spans, "doc_id")
        .select(
            "doc_id",
            F.concat_ws(
                " ",
                F.transform(
                    F.filter(
                        F.sequence(F.lit(0), F.size("w") - 1).cast(
                            "array<bigint>"
                        ),
                        lambda i: ~covered(i),
                    ),
                    lambda i: F.element_at(
                        F.col("w"), (i + 1).cast("int")
                    ),
                ),
            ).alias("cleaned_text"),
            F.size(
                F.filter(
                    F.sequence(F.lit(0), F.size("w") - 1).cast(
                        "array<bigint>"
                    ),
                    covered,
                )
            )
            .cast("long")
            .alias("removed_words"),
        )
    )
    return (
        base.join(
            cut, "doc_id", "left"
        )
        .select(
            "doc_id",
            "total_words",
            (
                F.col("total_words")
                - F.coalesce("removed_words", F.lit(0).cast("long"))
            ).alias("kept_words"),
            F.coalesce("removed_words", F.lit(0).cast("long")).alias(
                "removed_words"
            ),
            F.coalesce("cleaned_text", F.col("_orig")).alias(
                "cleaned_text"
            ),
        )
    )


@register("x38b_dup_span_removal", _X38B_ORACLE)
def x38b_dup_span_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X38b ExactSubstr REMOVAL (arXiv:2107.06499): cut every word
    covered by a non-canonical duplicated 16-word window, keeping the
    corpus-min occurrence — the rewrite x38's detection feeds.  See
    remove_duplicate_spans for semantics and plan shape."""
    return remove_duplicate_spans(
        widen_for_cpu(load(spark, sf_dir, "documents"), "doc_id")
    ).orderBy(
        "doc_id", "total_words", "kept_words", "removed_words",
        "cleaned_text",
    )


# -- x51: dedup-yield forecast (near-dup cluster-size distribution) --------
#
# The PLANNING statistic run before committing a dedup pass over a new
# corpus: the distribution of near-dup cluster sizes and the exact
# row-count yield — n_removable = Σ (size-1)·n_clusters(size) — tells
# you what the x28/x38b pass will actually save (and whether the corpus
# is template-heavy: a fat tail of large clusters) BEFORE paying for
# the rewrite.  Pure composition: x28's end-to-end component labels,
# rolled up twice (label -> size, size -> distribution) — both rollups
# are partial-agg'd groupBys over duplicate-sized frames, metadata
# next to the corpus.  The oracle extends x28's recursive closure, so
# the forecast is hash-checked through the ENTIRE pipeline (shingles ->
# MinHash -> LSH buckets -> CC -> sizes), not just the last stage.

_X51_ORACLE = _sql_sub(
    _X28_ORACLE,
    """SELECT node AS doc_id, MIN(lbl) AS canonical
FROM reach GROUP BY node ORDER BY doc_id""",
    """, canon AS (
  SELECT node AS doc_id, MIN(lbl) AS canonical FROM reach GROUP BY node),
sizes AS (
  SELECT canonical, CAST(COUNT(*) AS BIGINT) AS sz
  FROM canon GROUP BY canonical)
SELECT sz AS cluster_size, CAST(COUNT(*) AS BIGINT) AS n_clusters,
       CAST(sz * COUNT(*) AS BIGINT) AS n_docs,
       CAST((sz - 1) * COUNT(*) AS BIGINT) AS n_removable
FROM sizes GROUP BY sz ORDER BY cluster_size""",
)


@register("x51_dedup_yield", _X51_ORACLE)
def x51_dedup_yield(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X51 dedup-yield forecast: the near-dup cluster-size distribution
    with exact removable-row counts per size — (cluster_size,
    n_clusters, n_docs, n_removable) where n_removable =
    (size-1)·n_clusters.  Σ n_removable is what an x28 keep-canonical
    pass deletes; the size tail shape flags template-heavy corpora.
    Composition of x28's labels + two metadata-scale rollups, oracle
    hash-checked through the whole pipeline."""
    docs = load(spark, sf_dir, "documents")
    canon = elect_canonical(docs, lsh_candidate_pairs(docs), keep_flag=False)
    sizes = canon.groupBy("canonical").agg(
        F.count(F.lit(1)).cast("long").alias("sz")
    )
    return (
        sizes.groupBy("sz")
        .agg(F.count(F.lit(1)).cast("long").alias("n_clusters"))
        .select(
            F.col("sz").alias("cluster_size"),
            "n_clusters",
            F.expr("sz * n_clusters").cast("long").alias("n_docs"),
            F.expr("(sz - 1) * n_clusters").cast("long").alias("n_removable"),
        )
        .orderBy("cluster_size")
    )


# -- x61: LSH quality audit (candidate precision/recall vs exact Jaccard) ---
#
# The QUALITY half of the LSH pre-flight pair (x53 prices the COST of
# the bucketed pair join; x61 prices what the join will be WORTH): on a
# bounded sample, LSH candidate pairs are scored against ground truth —
# exact character-8-shingle Jaccard >= tau, the same shingle definition
# the MinHash signatures estimate — yielding candidate precision (how
# much of the verify stage's input is junk) and recall (how many true
# near-dups the banding misses).  This is the measurement behind the
# (bands, rows) knob: the 3x3 banding's collision curve 1-(1-s^3)^3
# promises ~recall 0.6 at s=0.5; x61 reports what the corpus actually
# delivers, BEFORE a full dedup pass commits to the config (same
# decision shape as x59 for embedding width and x60 for IVF layout).
#
# Scale (100 TB): the audit runs on a driver-chosen SAMPLE (doc_id
# bound here; any deterministic sample works) — exact Jaccard ground
# truth is only computable on a bounded set, which is precisely why the
# audit exists as a separate bounded operator while the LSH pipeline
# itself never computes it.  Within the sample: one inverted-index join
# on the shingle (intersections via |A|+|B|-|A∩B|, no pairwise set
# materialization — x02b's pattern) and the standard bucket join; the
# output is ONE row of integer-milli metrics, hash-exact.

_X61_S = 1000   # sample bound: doc_id < S (all three SFs non-degenerate)
_X61_TAU = 0.5  # ground-truth Jaccard threshold the banding targets

_X61_ORACLE = (
    "WITH cand AS (\n"
    + _sql_sub(
        _sql_sub(
            _X02_ORACLE,
            "FROM documents",
            f"FROM documents WHERE doc_id < {_X61_S}",
        ),
        "ORDER BY da, db",
        "",
    )
    + f"""),
d AS (SELECT doc_id, text FROM documents WHERE doc_id < {_X61_S}),
shx AS (SELECT DISTINCT doc_id, s FROM (
  SELECT doc_id, UNNEST(list_transform(range(1, greatest(length(text)-7,1)+1),
                 i -> substr(text, i, 8))) AS s FROM d)),
sz AS (SELECT doc_id, COUNT(*) AS n FROM shx GROUP BY doc_id),
truth AS (
  SELECT da, db FROM (
    SELECT a.doc_id AS da, b.doc_id AS db,
           CAST(COUNT(*) AS DOUBLE)/(MIN(sa.n)+MIN(sb.n)-COUNT(*)) AS jac
    FROM shx a JOIN shx b ON a.s = b.s AND a.doc_id < b.doc_id
    JOIN sz sa ON sa.doc_id = a.doc_id
    JOIN sz sb ON sb.doc_id = b.doc_id
    GROUP BY a.doc_id, b.doc_id)
  WHERE jac >= {_X61_TAU}),
hits AS (SELECT COUNT(*) AS c FROM cand JOIN truth USING (da, db)),
nc AS (SELECT COUNT(*) AS c FROM cand),
nt AS (SELECT COUNT(*) AS c FROM truth),
nd AS (SELECT COUNT(*) AS c FROM d)
SELECT CAST(nd.c AS BIGINT) AS n_docs,
       CAST(nc.c AS BIGINT) AS n_candidates,
       CAST(nt.c AS BIGINT) AS n_truth,
       CAST(hits.c AS BIGINT) AS n_hits,
       CAST(CASE WHEN nc.c = 0 THEN NULL
            ELSE hits.c * 1000 // nc.c END AS BIGINT) AS precision_milli,
       CAST(CASE WHEN nt.c = 0 THEN NULL
            ELSE hits.c * 1000 // nt.c END AS BIGINT) AS recall_milli
FROM nd, nc, nt, hits"""
)


def _exact_jaccard_scored(docs: DataFrame) -> DataFrame:
    """(da, db, i, na, nb): every pair sharing >=1 distinct char-8
    shingle, with exact intersection and set sizes — the inverted-index
    join (x02b's no-pairwise-sets pattern).  Shared by the x61 audit
    (double-jac threshold, unchanged semantics) and the x71 planner
    (integer-milli Jaccard).

    Distinctness and set size are PER DOCUMENT, so both are row-local:
    ``array_distinct`` before the explode replaces the exploded
    ``.distinct()`` (a corpus-wide shuffle on (doc_id, s)), and
    ``size(array_distinct(..))`` replaces the groupBy(doc_id) size
    aggregate plus its two re-attach joins — the r13 plan computed that
    subtree TWICE (once per join side).  Net: 3 exchanges and 2 joins
    removed; the pair frame leaves the shingle join already carrying
    na/nb (r14 optimization; same rows, same types, oracle unchanged).
    widen_for_cpu replaces the parallelism the old distinct()'s shuffle
    provided for free: without it the checkpointed shingle frame keeps
    the scan's single split and the bucket join runs on one core."""
    docs = widen_for_cpu(docs, "doc_id")
    sh = docs.select(
        "doc_id", F.array_distinct(_shingles()).alias("_ss")
    ).select(
        "doc_id",
        F.size("_ss").cast("long").alias("n"),
        F.explode("_ss").alias("s"),
    )
    sh = barrier(sh, eager=False)
    a, b = sh.alias("a"), sh.alias("b")
    return (
        a.join(
            b,
            (F.col("a.s") == F.col("b.s"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("da"), F.col("b.doc_id").alias("db"))
        .agg(
            F.count(F.lit(1)).alias("i"),
            F.min("a.n").alias("na"),
            F.min("b.n").alias("nb"),
        )
    )


def exact_shingle_jaccard_pairs(
    docs: DataFrame, tau: float = _X61_TAU, scored: DataFrame | None = None
) -> DataFrame:
    """(da, db) pairs with exact distinct-char-8-shingle Jaccard >= tau,
    via the inverted-index join (x02b's no-pairwise-sets pattern).
    ``scored`` short-circuits the join with a pre-materialized
    ``_exact_jaccard_scored`` frame (the x75 preflight shares one across
    the three audits)."""
    return (
        (_exact_jaccard_scored(docs) if scored is None else scored)
        .withColumn(
            "jac",
            F.col("i").cast("double")
            / (F.col("na") + F.col("nb") - F.col("i")),
        )
        .filter(F.col("jac") >= tau)
        .select("da", "db")
    )


def lsh_quality_audit(
    docs: DataFrame,
    s_max: int = _X61_S,
    tau: float = _X61_TAU,
    scored: DataFrame | None = None,
) -> DataFrame:
    """One-row (n_docs, n_candidates, n_truth, n_hits, precision_milli,
    recall_milli) audit of the LSH banding against exact shingle Jaccard
    on the doc_id < s_max sample.  Counts are driver-sized by definition
    (they ARE the audit); ratios are integer millis, NULL when the
    denominator set is empty.  ``scored`` = pre-materialized
    ``_exact_jaccard_scored`` frame (shared by the x75 preflight)."""
    sample = docs.filter(F.col("doc_id") < s_max)
    # barrier BOTH pair frames: each feeds two actions (its count and
    # the hit join) — without the barrier the LSH candidate pipeline
    # ran twice per audit (r10 fix; the truth side was already
    # barriered for the same reason)
    cand = barrier(lsh_candidate_pairs(sample).select("da", "db"), eager=False)
    truth = exact_shingle_jaccard_pairs(sample, tau=tau, scored=scored)
    truth = barrier(truth, eager=False)
    n_docs = sample.count()
    n_cand = cand.count()
    n_truth = truth.count()
    n_hits = cand.join(truth, ["da", "db"]).count()
    row = (
        n_docs,
        n_cand,
        n_truth,
        n_hits,
        (1000 * n_hits // n_cand) if n_cand else None,
        (1000 * n_hits // n_truth) if n_truth else None,
    )
    return docs.sparkSession.createDataFrame(
        [row],
        "n_docs long, n_candidates long, n_truth long, n_hits long,"
        " precision_milli long, recall_milli long",
    )


@register("x61_lsh_quality_audit", _X61_ORACLE)
def x61_lsh_quality_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X61 LSH quality audit: candidate precision/recall of the 3x3
    MinHash banding against exact char-8-shingle Jaccard >= 0.5 on the
    doc_id < 1000 sample — the WORTH half of the LSH pre-flight pair
    (x53 prices the cost).  One integer-milli row, hash-exact."""
    return lsh_quality_audit(load(spark, sf_dir, "documents"))


# -- x69: token-mass dedup yield (x51 in the unit that buys training) --------
#
# x51 forecasts dedup yield in DOCUMENTS; training budgets are set in
# TOKENS, and near-dup clusters are not length-uniform — a corpus of
# duplicated boilerplate pages loses far more token mass than doc count
# suggests (and mirror-truncated clusters lose less).  x69 weighs the
# same cluster-size distribution by token mass under the x28 min-id
# election: per cluster size, total tokens and the tokens an x28
# keep-canonical pass deletes.  Σ tokens_removable is the exact token
# budget the dedup stage refunds.
#
# Scale (100 TB): x28's pipeline (bucketed LSH pairs -> size-tiered CC,
# never all-pairs) plus one corpus-scan token projection, one
# partial-agg'd groupBy(canonical) over duplicate-sized clusters, and
# one metadata-scale rollup by size.  The oracle extends x28's
# recursive closure, hash-checking shingles -> MinHash -> LSH -> CC ->
# election -> token weighting END TO END.

_X69_ORACLE = _sql_sub(
    _X28_ORACLE,
    """SELECT node AS doc_id, MIN(lbl) AS canonical
FROM reach GROUP BY node ORDER BY doc_id""",
    """, canon AS (
  SELECT node AS doc_id, MIN(lbl) AS canonical FROM reach GROUP BY node),
tk AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS tk
       FROM documents),
cl AS (SELECT c.canonical, CAST(COUNT(*) AS BIGINT) AS sz,
              CAST(SUM(t.tk) AS BIGINT) AS total_tk,
              CAST(SUM(CASE WHEN c.doc_id = c.canonical THEN t.tk
                            ELSE 0 END) AS BIGINT) AS kept_tk
       FROM canon c JOIN tk t USING (doc_id) GROUP BY c.canonical)
SELECT sz AS cluster_size, CAST(COUNT(*) AS BIGINT) AS n_clusters,
       CAST(SUM(total_tk) AS BIGINT) AS tokens_total,
       CAST(SUM(total_tk - kept_tk) AS BIGINT) AS tokens_removable
FROM cl GROUP BY sz ORDER BY cluster_size""",
)


@register("x69_dedup_token_yield", _X69_ORACLE)
def x69_dedup_token_yield(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X69 token-mass dedup yield: the near-dup cluster-size
    distribution weighted by token mass under x28's min-id election —
    (cluster_size, n_clusters, tokens_total, tokens_removable).
    Σ tokens_removable is the exact token budget a keep-canonical pass
    refunds; read next to x51 (doc counts) and x17/x54 (budgets spent
    in tokens)."""
    docs = load(spark, sf_dir, "documents")
    tk = docs.select(
        "doc_id", F.size(F.split("text", " ")).cast("long").alias("tk")
    )
    canon = elect_canonical(docs, lsh_candidate_pairs(docs), keep_flag=False)
    cl = (
        canon.join(tk, "doc_id")
        .groupBy("canonical")
        .agg(
            F.count(F.lit(1)).cast("long").alias("sz"),
            F.sum("tk").cast("long").alias("total_tk"),
            F.sum(
                F.when(F.col("doc_id") == F.col("canonical"), F.col("tk"))
                .otherwise(0)
            ).cast("long").alias("kept_tk"),
        )
    )
    return (
        cl.groupBy("sz")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_clusters"),
            F.sum("total_tk").cast("long").alias("tokens_total"),
            F.sum(F.col("total_tk") - F.col("kept_tk")).cast("long")
            .alias("tokens_removable"),
        )
        .select(
            F.col("sz").alias("cluster_size"),
            "n_clusters",
            "tokens_total",
            "tokens_removable",
        )
        .orderBy("cluster_size")
    )


# -- x70: cross-source mirror matrix -----------------------------------------
#
# WHERE duplication lives is as actionable as how much: a hot
# (source_a, source_b) cell in the near-dup pair matrix is a mirror
# site (dedup at the SOURCE level — drop or down-weight the mirror in
# x54's recipe) while a hot diagonal cell is within-source boilerplate
# (x16/x38's span removal is the fix, not document dedup).  x70 rolls
# the x02 candidate pairs up by unordered source pair with exact milli
# shares — the table that picks WHICH dedup operator to run next.
#
# Scale (100 TB): the pair frame is duplicate-sized (never all-pairs —
# x02's bucket bound); attaching sources is two joins of that frame
# against the (doc_id, source) projection, then one partial-agg'd
# groupBy on the |sources|^2-bounded key.  The share window runs on
# the matrix, not the corpus.

_X70_ORACLE = (
    "WITH pairs AS (\n"
    + _sql_sub(_X02_ORACLE, "ORDER BY da, db", "")
    + """),
src AS (SELECT doc_id, COALESCE(source, '(null)') AS source
        FROM documents),
m AS (SELECT LEAST(sa.source, sb.source) AS source_a,
             GREATEST(sa.source, sb.source) AS source_b
      FROM pairs
      JOIN src sa ON sa.doc_id = pairs.da
      JOIN src sb ON sb.doc_id = pairs.db),
c AS (SELECT source_a, source_b, CAST(COUNT(*) AS BIGINT) AS n_pairs
      FROM m GROUP BY source_a, source_b),
t AS (SELECT CAST(SUM(n_pairs) AS BIGINT) AS tot FROM c)
SELECT c.source_a, c.source_b, c.n_pairs,
       CAST(1000 * c.n_pairs // t.tot AS BIGINT) AS share_milli
FROM c CROSS JOIN t
ORDER BY source_a, source_b, n_pairs, share_milli"""
)


def mirror_matrix(docs: DataFrame) -> DataFrame:
    """(source_a, source_b, n_pairs, share_milli): the x02 near-dup
    candidate pairs rolled up by unordered source pair — off-diagonal
    mass = mirrors (source-level dedup), diagonal mass = within-source
    boilerplate (span-level dedup)."""
    pairs = lsh_candidate_pairs(docs)
    # NULL tags normalize to a literal '(null)' group BEFORE the
    # least/greatest rollup (ADVICE r10): both engines' least/greatest
    # skip NULLs, so a mirror pair with one untagged side would silently
    # collapse onto the tagged source's diagonal — engine-consistent,
    # hence invisible to the hash gate, but wrong.  Same normalization
    # as x63 funnel_counts / x68 langid_confusion.
    src = docs.select(
        "doc_id", F.coalesce("source", F.lit("(null)")).alias("source")
    )
    return mirror_from_counts(mirror_pair_cells(pairs, src))


def mirror_pair_cells(pairs: DataFrame, src: DataFrame) -> DataFrame:
    """(source_a, source_b, n_pairs) cells from a (da, db) pair frame
    and a normalized (doc_id, source) map — the ADDITIVE sufficient
    statistic the S23 streaming sink folds (pair attribution is
    pair-local, so batch slicing cannot change any pair's cell)."""
    sa = src.select(F.col("doc_id").alias("da"), F.col("source").alias("sa"))
    sb = src.select(F.col("doc_id").alias("db"), F.col("source").alias("sb"))
    return (
        pairs.join(sa, "da")
        .join(sb, "db")
        .select(
            F.least("sa", "sb").alias("source_a"),
            F.greatest("sa", "sb").alias("source_b"),
        )
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_pairs"))
    )


def mirror_from_counts(counts: DataFrame) -> DataFrame:
    """Serve the x70 mirror table from folded (source_a, source_b,
    n_pairs) cells: exact milli shares over the matrix (the matrix is
    |sources|^2-bounded, so the share window is metadata-scale)."""
    return counts.select(
        "source_a",
        "source_b",
        F.col("n_pairs").cast("long").alias("n_pairs"),
        F.expr("1000 * n_pairs div sum(n_pairs) over ()")
        .cast("long")
        .alias("share_milli"),
    )


@register("x70_mirror_matrix", _X70_ORACLE)
def x70_mirror_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X70 cross-source mirror matrix: near-dup pair mass per unordered
    source pair with exact milli shares — routes between source-level
    dedup (hot off-diagonal = mirror site) and span-level dedup (hot
    diagonal = boilerplate)."""
    return mirror_matrix(load(spark, sf_dir, "documents")).orderBy(
        "source_a", "source_b", "n_pairs", "share_milli"
    )


# -- x71: banding planner (collision-curve forecast per (bands, rows)) -------
#
# x61 scores the CURRENT banding config after the fact; x71 picks the
# config BEFORE the run: given the sample's exact pairwise Jaccard
# distribution, the planner evaluates the S-curve collision probability
# p(s) = 1 - (1 - s^r)^b for each candidate (bands, rows) layout of the
# same 9 min-hashes and reports (a) expected recall over the true
# near-dup pairs (s >= tau) and (b) expected candidate-pair volume over
# ALL overlapping pairs — the recall-vs-verify-cost frontier, measured
# on the corpus's own similarity distribution instead of the textbook
# curve.  (The banded-MinHash S-curve is the standard LSH analysis —
# Leskovec/Rajaraman/Ullman, "Mining of Massive Datasets" ch. 3.)
#
# Determinism: the curve is evaluated in INTEGER MILLI arithmetic —
# s^k via the iterated rule x_{k+1} = x_k * s_milli div 1000 (every
# intermediate renormalized to milli, floor at each step), identically
# generated for Spark (div) and DuckDB (//) — so the forecast of an
# approximate structure is itself hash-exact, the x60/x61 discipline.
#
# Scale: the sample bound is x61's (exact Jaccard needs a bounded set);
# within it, one inverted-index join + one aggregate row per config.

_X71_CONFIGS = ((9, 1), (3, 3), (1, 9))  # (bands, rows) of 9 min-hashes


def _milli_pow(base: str, k: int, div: str) -> str:
    """Integer-milli power: the iterated x*base div 1000 chain, k-1
    steps — identical arithmetic text for Spark (div) and DuckDB (//)."""
    e = base
    for _ in range(k - 1):
        e = f"((({e}) * ({base})) {div} 1000)"
    return e


def _collision_milli(jm: str, bands: int, rows: int, div: str) -> str:
    sr = _milli_pow(jm, rows, div)
    return f"(1000 - {_milli_pow(f'(1000 - ({sr}))', bands, div)})"


def _x71_oracle() -> str:
    cfg_rows = []
    for b, r in _X71_CONFIGS:
        p = _collision_milli("jm", b, r, "//")
        cfg_rows.append(f"""
SELECT CAST({b} AS BIGINT) AS bands, CAST({r} AS BIGINT) AS rows_per_band,
       CAST(COUNT(*) AS BIGINT) AS n_scored_pairs,
       CAST(SUM(CASE WHEN jm >= 500 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_true_pairs,
       CAST(CASE WHEN SUM(CASE WHEN jm >= 500 THEN 1 ELSE 0 END) = 0
            THEN NULL
            ELSE SUM(CASE WHEN jm >= 500 THEN {p} ELSE 0 END)
                 // SUM(CASE WHEN jm >= 500 THEN 1 ELSE 0 END) END
         AS BIGINT) AS exp_recall_milli,
       CAST(SUM({p}) AS BIGINT) AS exp_candidates_milli
FROM scored""")
    return (
        f"""
WITH d AS (SELECT doc_id, text FROM documents WHERE doc_id < {_X61_S}),
shx AS (SELECT DISTINCT doc_id, s FROM (
  SELECT doc_id, UNNEST(list_transform(range(1, greatest(length(text)-7,1)+1),
                 i -> substr(text, i, 8))) AS s FROM d)),
sz AS (SELECT doc_id, COUNT(*) AS n FROM shx GROUP BY doc_id),
scored AS (
  SELECT a.doc_id AS da, b.doc_id AS db,
         CAST(1000 * COUNT(*)
              // (MIN(sa.n) + MIN(sb.n) - COUNT(*)) AS BIGINT) AS jm
  FROM shx a JOIN shx b ON a.s = b.s AND a.doc_id < b.doc_id
  JOIN sz sa ON sa.doc_id = a.doc_id
  JOIN sz sb ON sb.doc_id = b.doc_id
  GROUP BY a.doc_id, b.doc_id)
"""
        + "\nUNION ALL\n".join(cfg_rows)
        + "\nORDER BY bands, rows_per_band, n_scored_pairs, n_true_pairs,"
        " exp_recall_milli, exp_candidates_milli"
    )


def banding_planner(
    docs: DataFrame, s_max: int = _X61_S, scored: DataFrame | None = None
) -> DataFrame:
    """(bands, rows_per_band, n_scored_pairs, n_true_pairs,
    exp_recall_milli, exp_candidates_milli) per candidate layout of 9
    min-hashes, from the sample's exact integer-milli Jaccard
    distribution — the recall-vs-cost frontier read before a dedup
    pass commits to a banding.  ``scored`` = pre-materialized
    ``_exact_jaccard_scored`` frame (shared by the x75 preflight)."""
    if scored is None:
        scored = _exact_jaccard_scored(docs.filter(F.col("doc_id") < s_max))
    scored = scored.select(
        F.expr("1000 * i div (na + nb - i)").cast("long").alias("jm")
    )
    # ONE aggregate evaluates every config's curve in the same pass
    # (the scored inverted-index join runs once, not once per config);
    # stack() then melts the single row into one row per config.
    aggs = [
        F.count(F.lit(1)).cast("long").alias("n_scored"),
        F.sum(F.expr("case when jm >= 500 then 1 else 0 end"))
        .cast("long")
        .alias("n_true"),
    ]
    for k, (b, r) in enumerate(_X71_CONFIGS):
        p = _collision_milli("jm", b, r, "div")
        aggs.append(
            F.expr(
                f"case when sum(case when jm >= 500 then 1 else 0 end)"
                f" = 0 then null else"
                f" sum(case when jm >= 500 then {p} else 0 end)"
                f" div sum(case when jm >= 500 then 1 else 0 end) end"
            ).cast("long").alias(f"rec_{k}")
        )
        aggs.append(F.sum(F.expr(p)).cast("long").alias(f"cand_{k}"))
    one = scored.agg(*aggs)
    stack = ", ".join(
        f"CAST({b} AS BIGINT), CAST({r} AS BIGINT), n_scored, n_true,"
        f" rec_{k}, cand_{k}"
        for k, (b, r) in enumerate(_X71_CONFIGS)
    )
    return one.select(
        F.expr(
            f"stack({len(_X71_CONFIGS)}, {stack}) AS (bands, rows_per_band,"
            " n_scored_pairs, n_true_pairs, exp_recall_milli,"
            " exp_candidates_milli)"
        )
    )


@register("x71_banding_planner", _x71_oracle())
def x71_banding_planner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X71 LSH banding planner: the measured S-curve forecast — expected
    recall over true near-dups and expected candidate volume — for each
    (bands, rows) layout of the 9 min-hashes, in exact integer-milli
    arithmetic on the x61 sample.  Read with x53 (cost) and x61
    (realized quality): x71 chooses the config, x61 confirms it."""
    return banding_planner(load(spark, sf_dir, "documents")).orderBy(
        "bands", "rows_per_band", "n_scored_pairs", "n_true_pairs",
        "exp_recall_milli", "exp_candidates_milli"
    )


# -- x73: containment pairs (the asymmetric near-dup Jaccard misses) ---------
#
# Symmetric Jaccard under-scores CONTAINMENT: a short document quoted
# wholesale inside a long one (news wire inside an aggregator page,
# README inside a vendored repo) has i = na but i/(na+nb-i) far below
# any dedup tau when nb >> na — so the pair sails through x02/x61 and
# the duplicated passage trains twice.  The containment score
# c = i / min(na, nb) is the standard fix (Broder's containment;
# RefinedWeb-style pipelines gate on it next to Jaccard): x73 reports
# sample pairs with high containment but sub-tau Jaccard — exactly the
# pairs every symmetric pass missed, and the motivating input for
# x38's span-level removal (the contained span is what it strips).
#
# Scale: sample-bounded like x61/x71 (exact set intersections need a
# bounded set); within the sample it is the SAME inverted-index join
# x61/x71 pay (shared _exact_jaccard_scored — one implementation,
# three audits), plus row-local integer arithmetic.  All counts exact
# milli integers.

_X73_CONT = 800  # library default: >= 80% of the smaller doc contained
# The synthetic fixture's near-dups are SYMMETRIC (suffixed replicas),
# so at the production floor the fixture emits zero rows — a vacuous
# oracle.  The registered query therefore runs at a fixture-calibrated
# floor (the x62 thresholds discipline) so the hash gate covers real
# rows at every SF; the crafted witness test pins the production-floor
# semantics on a corpus that actually contains containment.
_X73_CONT_FIXTURE = 250


def _x73_oracle() -> str:
    return f"""
WITH d AS (SELECT doc_id, text FROM documents WHERE doc_id < {_X61_S}),
shx AS (SELECT DISTINCT doc_id, s FROM (
  SELECT doc_id, UNNEST(list_transform(range(1, greatest(length(text)-7,1)+1),
                 i -> substr(text, i, 8))) AS s FROM d)),
sz AS (SELECT doc_id, COUNT(*) AS n FROM shx GROUP BY doc_id),
scored AS (
  SELECT a.doc_id AS da, b.doc_id AS db,
         CAST(COUNT(*) AS BIGINT) AS i,
         CAST(MIN(sa.n) AS BIGINT) AS na, CAST(MIN(sb.n) AS BIGINT) AS nb
  FROM shx a JOIN shx b ON a.s = b.s AND a.doc_id < b.doc_id
  JOIN sz sa ON sa.doc_id = a.doc_id
  JOIN sz sb ON sb.doc_id = b.doc_id
  GROUP BY a.doc_id, b.doc_id)
SELECT da, db,
       CAST(1000 * i // LEAST(na, nb) AS BIGINT) AS containment_milli,
       CAST(1000 * i // (na + nb - i) AS BIGINT) AS jaccard_milli
FROM scored
WHERE 1000 * i // LEAST(na, nb) >= {_X73_CONT_FIXTURE}
  AND 1000 * i // (na + nb - i) < 500
ORDER BY da, db, containment_milli, jaccard_milli"""


def containment_pairs(
    docs: DataFrame,
    s_max: int = _X61_S,
    cont_milli: int = _X73_CONT,
    scored: DataFrame | None = None,
) -> DataFrame:
    """(da, db, containment_milli, jaccard_milli): sample pairs where
    the smaller document is >= cont_milli/1000 contained in the larger
    but symmetric Jaccard stays below the dedup tau (500 milli) — the
    asymmetric near-dups every Jaccard-gated pass misses.  Rides the
    same inverted-index join as x61/x71 (``scored`` shares one
    materialized frame across the three audits — x75)."""
    if scored is None:
        scored = _exact_jaccard_scored(docs.filter(F.col("doc_id") < s_max))
    return (
        scored
        .select(
            "da",
            "db",
            F.expr("1000 * i div least(na, nb)").cast("long")
            .alias("containment_milli"),
            F.expr("1000 * i div (na + nb - i)").cast("long")
            .alias("jaccard_milli"),
        )
        .filter(
            (F.col("containment_milli") >= int(cont_milli))
            & (F.col("jaccard_milli") < 500)
        )
    )


@register("x73_containment_pairs", _x73_oracle())
def x73_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X73 containment audit: high-containment / sub-tau-Jaccard pairs
    on the x61 sample — what a symmetric dedup pass missed and what
    x38's span removal should be pointed at.  Exact integer millis,
    shared inverted-index machinery with x61/x71."""
    return containment_pairs(
        load(spark, sf_dir, "documents"), cont_milli=_X73_CONT_FIXTURE
    ).orderBy("da", "db", "containment_milli", "jaccard_milli")


# -- x73b: containment at the PRODUCTION threshold, hash-gated ---------------
#
# ADVICE r10: the registered x73 runs at the fixture-calibrated floor
# (250 milli) because the synthetic corpus's near-dups are symmetric —
# at the production floor (800) it returns zero rows, so the production
# threshold semantics only rode a crafted pytest witness, never the
# cross-engine hash gate.  x73b closes that: both engines derive the
# SAME augmented corpus — the x61 sample plus, for every long document,
# a planted 120-char PREFIX doc at doc_id + 100000 (every char-8
# shingle of a prefix is a shingle of the full text, so containment of
# the planted doc in its parent is exactly 1000 milli while Jaccard
# stays low) — and run the production-floor filter on it.  The planted
# rows make the 800-milli branch non-vacuous at every SF, so the
# production threshold is now hash-checked end to end.

_X73B_OFFSET = 100000   # planted doc_id namespace (disjoint from corpus)
_X73B_PREFIX = 120      # planted prefix length (113 shingles)
_X73B_MINLEN = 480      # parents must be long enough for low Jaccard


def _x73b_oracle() -> str:
    planted_d = f"""
WITH base AS (SELECT doc_id, text FROM documents WHERE doc_id < {_X61_S}),
d AS (SELECT doc_id, text FROM base
      UNION ALL
      SELECT doc_id + {_X73B_OFFSET} AS doc_id,
             substr(text, 1, {_X73B_PREFIX}) AS text
      FROM base WHERE length(text) >= {_X73B_MINLEN})"""
    out = _sql_sub(
        _x73_oracle(),
        f"\nWITH d AS (SELECT doc_id, text FROM documents"
        f" WHERE doc_id < {_X61_S})",
        planted_d,
    )
    return _sql_sub(
        out,
        f"LEAST(na, nb) >= {_X73_CONT_FIXTURE}",
        f"LEAST(na, nb) >= {_X73_CONT}",
    )


def planted_containment_corpus(docs: DataFrame, s_max: int = _X61_S) -> DataFrame:
    """The x61 sample plus a planted prefix doc per long document — the
    deterministic containment fixture both engines derive identically."""
    base = docs.filter(F.col("doc_id") < s_max).select("doc_id", "text")
    planted = base.filter(F.length("text") >= _X73B_MINLEN).select(
        (F.col("doc_id") + _X73B_OFFSET).alias("doc_id"),
        F.substring("text", 1, _X73B_PREFIX).alias("text"),
    )
    return base.unionByName(planted)


@register("x73b_containment_production", _x73b_oracle())
def x73b_containment_production(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X73b containment audit at the PRODUCTION floor (800 milli) on
    the planted-prefix corpus — the production threshold's semantics
    under the cross-engine hash gate (ADVICE r10; the registered x73
    covers the fixture floor on the raw corpus)."""
    aug = planted_containment_corpus(load(spark, sf_dir, "documents"))
    return containment_pairs(
        aug, s_max=2 * _X73B_OFFSET, cont_milli=_X73_CONT
    ).orderBy("da", "db", "containment_milli", "jaccard_milli")


# -- x75: composed LSH preflight (cost + worth + containment, ONE join) ------
#
# VERDICT r10 #3: x61 (quality), x71 (banding forecast) and x73
# (containment) all pay the identical sample-bounded exact-Jaccard
# inverted-index join (~6 s each at sf0.1) — a session running the full
# pre-flight paid it three times.  x75 is the composed audit: the
# scored frame materializes ONCE (eager barrier) and all three audits
# read the checkpointed blocks, so the combined pass costs ~1x the
# single join (BASELINE.md bench row; plan gate pins the sharing).
# Output is one tall hash-exact (section, metric, value) table — the
# whole go/no-go dashboard a dedup run reads before committing to a
# banding config.

_X75_QUALITY_METRICS = (
    "n_docs", "n_candidates", "n_truth", "n_hits",
    "precision_milli", "recall_milli",
)
_X75_BANDING_METRICS = (
    "n_scored_pairs", "n_true_pairs",
    "exp_recall_milli", "exp_candidates_milli",
)


def _x75_oracle() -> str:
    cand_sql = _sql_sub(
        _sql_sub(
            _X02_ORACLE,
            "FROM documents",
            f"FROM documents WHERE doc_id < {_X61_S}",
        ),
        "ORDER BY da, db",
        "",
    )
    sections = [
        "SELECT 'quality' AS section, 'n_docs' AS metric,"
        " CAST(c AS BIGINT) AS value FROM nd",
        "SELECT 'quality', 'n_candidates', CAST(c AS BIGINT) FROM ncd",
        "SELECT 'quality', 'n_truth', CAST(c AS BIGINT) FROM nt",
        "SELECT 'quality', 'n_hits', CAST(c AS BIGINT) FROM nh",
        "SELECT 'quality', 'precision_milli',"
        " CAST(CASE WHEN ncd.c = 0 THEN NULL"
        " ELSE nh.c * 1000 // ncd.c END AS BIGINT) FROM ncd, nh",
        "SELECT 'quality', 'recall_milli',"
        " CAST(CASE WHEN nt.c = 0 THEN NULL"
        " ELSE nh.c * 1000 // nt.c END AS BIGINT) FROM nt, nh",
    ]
    for b, r in _X71_CONFIGS:
        sec = f"'banding_{b}x{r}'"
        p = _collision_milli("jm", b, r, "//")
        tru = "SUM(CASE WHEN jm >= 500 THEN 1 ELSE 0 END)"
        sections += [
            f"SELECT {sec}, 'n_scored_pairs', CAST(COUNT(*) AS BIGINT)"
            " FROM jmv",
            f"SELECT {sec}, 'n_true_pairs', CAST({tru} AS BIGINT) FROM jmv",
            f"SELECT {sec}, 'exp_recall_milli',"
            f" CAST(CASE WHEN {tru} = 0 THEN NULL"
            f" ELSE SUM(CASE WHEN jm >= 500 THEN {p} ELSE 0 END) // {tru}"
            " END AS BIGINT) FROM jmv",
            f"SELECT {sec}, 'exp_candidates_milli', CAST(SUM({p}) AS BIGINT)"
            " FROM jmv",
        ]
    flagged = f"cm >= {_X73_CONT_FIXTURE} AND jmm < 500"
    sections += [
        "SELECT 'containment', 'n_pairs',"
        f" CAST(SUM(CASE WHEN {flagged} THEN 1 ELSE 0 END) AS BIGINT)"
        " FROM cont",
        "SELECT 'containment', 'max_containment_milli',"
        f" CAST(MAX(CASE WHEN {flagged} THEN cm ELSE NULL END) AS BIGINT)"
        " FROM cont",
    ]
    return (
        f"""
WITH d AS (SELECT doc_id, text FROM documents WHERE doc_id < {_X61_S}),
shx AS (SELECT DISTINCT doc_id, s FROM (
  SELECT doc_id, UNNEST(list_transform(range(1, greatest(length(text)-7,1)+1),
                 i -> substr(text, i, 8))) AS s FROM d)),
sz AS (SELECT doc_id, COUNT(*) AS n FROM shx GROUP BY doc_id),
scored AS (
  SELECT a.doc_id AS da, b.doc_id AS db,
         CAST(COUNT(*) AS BIGINT) AS i,
         CAST(MIN(sa.n) AS BIGINT) AS na, CAST(MIN(sb.n) AS BIGINT) AS nb
  FROM shx a JOIN shx b ON a.s = b.s AND a.doc_id < b.doc_id
  JOIN sz sa ON sa.doc_id = a.doc_id
  JOIN sz sb ON sb.doc_id = b.doc_id
  GROUP BY a.doc_id, b.doc_id),
cand AS (
"""
        + cand_sql
        + """),
truth AS (SELECT da, db FROM scored
          WHERE CAST(i AS DOUBLE) / (na + nb - i) >= 0.5),
nd AS (SELECT COUNT(*) AS c FROM d),
ncd AS (SELECT COUNT(*) AS c FROM cand),
nt AS (SELECT COUNT(*) AS c FROM truth),
nh AS (SELECT COUNT(*) AS c FROM cand JOIN truth USING (da, db)),
jmv AS (SELECT CAST(1000 * i // (na + nb - i) AS BIGINT) AS jm FROM scored),
cont AS (SELECT CAST(1000 * i // LEAST(na, nb) AS BIGINT) AS cm,
                CAST(1000 * i // (na + nb - i) AS BIGINT) AS jmm FROM scored)
"""
        + "\nUNION ALL\n".join(sections)
        + "\nORDER BY section, metric, value"
    )


def lsh_preflight(
    docs: DataFrame,
    s_max: int = _X61_S,
    tau: float = _X61_TAU,
    cont_milli: int = _X73_CONT_FIXTURE,
) -> DataFrame:
    """The combined LSH pre-flight dashboard: x61's quality audit,
    x71's banding forecast, and x73's containment summary as one tall
    (section, metric, value) table — the exact-Jaccard inverted-index
    join they share materializes ONCE (eager barrier) instead of three
    times.  All values are exact long integers (NULL when a denominator
    set is empty), so the composed audit stays hash-exact."""
    sample = docs.filter(F.col("doc_id") < s_max)
    # the ONE expensive frame: every downstream audit reads these
    # checkpointed blocks (plan gate: no Generate/shingle-join below it)
    scored = barrier(_exact_jaccard_scored(sample), eager=True)
    q_tall = lsh_quality_audit(docs, s_max=s_max, tau=tau, scored=scored).selectExpr(
        "'quality' AS section",
        "stack(6, "
        + ", ".join(f"'{m}', {m}" for m in _X75_QUALITY_METRICS)
        + ") AS (metric, value)",
    )
    b_tall = banding_planner(docs, s_max=s_max, scored=scored).selectExpr(
        "concat('banding_', bands, 'x', rows_per_band) AS section",
        "stack(4, "
        + ", ".join(f"'{m}', {m}" for m in _X75_BANDING_METRICS)
        + ") AS (metric, value)",
    )
    c_tall = (
        containment_pairs(
            docs, s_max=s_max, cont_milli=cont_milli, scored=scored
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            F.max("containment_milli").cast("long")
            .alias("max_containment_milli"),
        )
        .selectExpr(
            "'containment' AS section",
            "stack(2, 'n_pairs', n_pairs,"
            " 'max_containment_milli', max_containment_milli)"
            " AS (metric, value)",
        )
    )
    return (
        q_tall.unionByName(b_tall)
        .unionByName(c_tall)
        .select("section", "metric", F.col("value").cast("long"))
    )


@register("x75_lsh_preflight", _x75_oracle())
def x75_lsh_preflight(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X75 composed LSH preflight: quality + banding forecast +
    containment summary over ONE materialized exact-Jaccard frame
    (VERDICT r10 #3 — the x61/x71/x73 trio paid the identical join
    three times).  One tall hash-exact (section, metric, value) table;
    ~1x the single join's cost instead of 3x."""
    return lsh_preflight(load(spark, sf_dir, "documents")).orderBy(
        "section", "metric", "value"
    )


# -- x77: near-dup cluster source purity -------------------------------------
#
# x70 locates duplication by SOURCE PAIR at pair grain; x77 asks the
# cluster-grain question: when near-dup clusters form, do they stay
# inside one source (boilerplate — x16/x38's span removal is the fix)
# or span several (mirror networks — drop whole feeds in x54's recipe)?
# The rollup is the distribution of multi-doc clusters by their
# distinct-source count: (n_sources, n_clusters, n_docs).  A corpus
# whose dup mass sits at n_sources >= 2 dedups best at the source
# level; n_sources = 1 mass points at template stripping.
#
# Scale (100 TB): x28's pipeline (bucketed LSH pairs -> size-tiered CC,
# never all-pairs), one join of the duplicate-sized canon frame against
# the (doc_id, source) projection, one partial-agg'd per-cluster
# count-distinct (clusters are duplicate-sized), one metadata rollup.
# The oracle extends x28's recursive closure end to end.

_X77_ORACLE = _sql_sub(
    _X28_ORACLE,
    """SELECT node AS doc_id, MIN(lbl) AS canonical
FROM reach GROUP BY node ORDER BY doc_id""",
    """, canon AS (
  SELECT node AS doc_id, MIN(lbl) AS canonical FROM reach GROUP BY node),
src AS (SELECT doc_id, COALESCE(source, '(null)') AS source
        FROM documents),
cl AS (SELECT c.canonical, CAST(COUNT(*) AS BIGINT) AS sz,
              CAST(COUNT(DISTINCT s.source) AS BIGINT) AS n_sources
       FROM canon c JOIN src s USING (doc_id) GROUP BY c.canonical)
SELECT n_sources, CAST(COUNT(*) AS BIGINT) AS n_clusters,
       CAST(SUM(sz) AS BIGINT) AS n_docs
FROM cl WHERE sz >= 2 GROUP BY n_sources
ORDER BY n_sources, n_clusters, n_docs""",
)


def cluster_source_purity(docs: DataFrame) -> DataFrame:
    """(n_sources, n_clusters, n_docs): multi-doc near-dup clusters
    (x28's components) distributed by how many distinct sources they
    span — 1 = within-source boilerplate, >= 2 = mirror networks."""
    src = docs.select(
        "doc_id", F.coalesce("source", F.lit("(null)")).alias("source")
    )
    canon = elect_canonical(docs, lsh_candidate_pairs(docs), keep_flag=False)
    cl = (
        canon.join(src, "doc_id")
        .groupBy("canonical")
        .agg(
            F.count(F.lit(1)).cast("long").alias("sz"),
            F.countDistinct("source").cast("long").alias("n_sources"),
        )
    )
    return (
        cl.filter(F.col("sz") >= 2)
        .groupBy("n_sources")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_clusters"),
            F.sum("sz").cast("long").alias("n_docs"),
        )
    )


@register("x77_cluster_purity", _X77_ORACLE)
def x77_cluster_purity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X77 near-dup cluster source purity: the multi-doc cluster
    distribution by distinct-source count, through x28's full
    shingle -> MinHash -> LSH -> CC pipeline (oracle replays it as the
    recursive closure) — routes between span-level and source-level
    dedup at cluster grain, complementing x70's pair grain."""
    return cluster_source_purity(load(spark, sf_dir, "documents")).orderBy(
        "n_sources", "n_clusters", "n_docs"
    )


# -- x81: PageRank centrality over the near-dup graph ------------------------
#
# The ITERATIVE-GRAPH member of the dedup family: x28 answers "which
# docs are the same" (components), x46 gives local adjacency; x81 ranks
# nodes by global graph centrality — standard PageRank power iteration
# over the symmetrized x02 candidate graph.  High-centrality nodes are
# the HUBS of duplication (the template a hundred pages embed, the
# origin a mirror network radiates from): a centrality-aware canonical
# election keeps the hub (x55's quality signal swapped for pr_milli),
# and centrality ranks which cluster to audit first.
#
# Determinism: the whole iteration runs in INTEGER MILLI arithmetic —
# p_0 = 1000; p_{k+1}(v) = 150 + 850 * (Σ_{u->v} p_k(u) div deg(u))
# div 1000 — floor at every step, identical expression text in both
# engines (the x71 discipline for iterative structures).  The iteration
# count is FIXED (8), so the oracle simply UNROLLS it as chained CTEs —
# no recursive-aggregate support needed from either engine.
#
# Scale (100 TB): the edge frame is duplicate-sized (x02's bucket
# bound, never corpus^2); each iteration is ONE equi-join of the edge
# frame against the O(nodes) rank frame + one partial-agg'd groupBy —
# the standard distributed PageRank shape; lineage is cut per
# iteration (barrier), the x28/components discipline, so 8 iterations
# never build an 8-deep join tree.  Symmetrized edges mean no dangling
# nodes (every node has in- and out-degree >= 1).

_X81_ITERS = 8


def _x81_oracle() -> str:
    head = (
        "WITH pairs AS (\n"
        + _sql_sub(_X02_ORACLE, "ORDER BY da, db", "")
        + """),
ed AS (SELECT da AS s, db AS d FROM pairs
       UNION ALL SELECT db AS s, da AS d FROM pairs),
dg AS (SELECT s, CAST(COUNT(*) AS BIGINT) AS deg FROM ed GROUP BY s),
pr0 AS (SELECT s AS doc_id, CAST(1000 AS BIGINT) AS p FROM dg)"""
    )
    cte = []
    for k in range(1, _X81_ITERS + 1):
        cte.append(
            f""",
c{k} AS (SELECT ed.d AS doc_id, SUM(pr{k - 1}.p // dg.deg) AS sm
        FROM ed JOIN dg ON dg.s = ed.s
        JOIN pr{k - 1} ON pr{k - 1}.doc_id = ed.s
        GROUP BY ed.d),
pr{k} AS (SELECT doc_id, CAST(150 + (850 * sm) // 1000 AS BIGINT) AS p
         FROM c{k})"""
        )
    return (
        head
        + "".join(cte)
        + f"\nSELECT doc_id, p AS pr_milli FROM pr{_X81_ITERS}"
        " ORDER BY doc_id, pr_milli"
    )


def neardup_pagerank(docs: DataFrame, iters: int = _X81_ITERS) -> DataFrame:
    """(doc_id, pr_milli): integer-milli PageRank (teleport 0.15, fixed
    ``iters`` power iterations) over the symmetrized x02 candidate
    graph — duplication-hub centrality for paired documents.  Delegates
    to ``neardup_pagerank_from_pairs`` (defined with x82, which shares
    one barriered pair frame between CC and rank).

    The pair frame is barriered here too (r14): the edge union reads it
    twice (fwd+rev) and the degree aggregate again — unbarriered, the
    band join re-ran per traversal (measured 4.2 s -> 2.3 s at sf0.1)."""
    return neardup_pagerank_from_pairs(
        barrier(lsh_candidate_pairs(docs), eager=False), iters
    )


@register("x81_neardup_pagerank", _x81_oracle())
def x81_neardup_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X81 duplication-hub centrality: 8 integer-milli PageRank power
    iterations over the symmetrized LSH candidate graph, oracle-
    replayed as unrolled CTEs — hubs are the templates/origins a
    centrality-aware canonical election should keep (swap pr_milli
    into x55's election) and the clusters to audit first."""
    return neardup_pagerank(load(spark, sf_dir, "documents")).orderBy(
        "doc_id", "pr_milli"
    )


# -- x82: centrality-canonical election (keep the HUB copy) ------------------
#
# The composition x81 was built for: x28 keeps the FIRST copy (min id),
# x55 the BEST copy (quality argmax); x82 keeps the most CENTRAL copy —
# per near-dup component, canonical = argmax PageRank (doc_id
# tiebreak).  In a mirror network the origin everything radiates from
# accumulates centrality, so the election keeps origins and drops
# mirrors — provenance-aware dedup without any provenance metadata.
# Election mechanics are x55's (one max-of-struct partial agg per
# component, never a per-component corpus sort); the score column is
# x81's pr_milli (isolated docs score -1 and elect themselves).
#
# The oracle composes x28's recursive closure with x81's unrolled
# power iterations over the SAME pairs CTE — the full shingle ->
# MinHash -> LSH -> CC -> PageRank -> election pipeline hash-checked
# end to end.

def _x82_oracle() -> str:
    head = (
        "WITH RECURSIVE pairs AS (\n"
        + _sql_sub(_X02_ORACLE, "ORDER BY da, db", "")
        + """),
edges AS (
  SELECT da AS a, db AS b FROM pairs
  UNION ALL
  SELECT db AS a, da AS b FROM pairs),
reach(node, lbl) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT e.a, r.lbl FROM edges e JOIN reach r ON r.node = e.b
),
canon AS (SELECT node AS doc_id, MIN(lbl) AS comp FROM reach GROUP BY node),
ed AS (SELECT da AS s, db AS d FROM pairs
       UNION ALL SELECT db AS s, da AS d FROM pairs),
dg AS (SELECT s, CAST(COUNT(*) AS BIGINT) AS deg FROM ed GROUP BY s),
pr0 AS (SELECT s AS doc_id, CAST(1000 AS BIGINT) AS p FROM dg)"""
    )
    cte = []
    for k in range(1, _X81_ITERS + 1):
        cte.append(
            f""",
c{k} AS (SELECT ed.d AS doc_id, SUM(pr{k - 1}.p // dg.deg) AS sm
        FROM ed JOIN dg ON dg.s = ed.s
        JOIN pr{k - 1} ON pr{k - 1}.doc_id = ed.s
        GROUP BY ed.d),
pr{k} AS (SELECT doc_id, CAST(150 + (850 * sm) // 1000 AS BIGINT) AS p
         FROM c{k})"""
        )
    return (
        head
        + "".join(cte)
        + f""",
cn AS (SELECT c.doc_id, c.comp, COALESCE(pr{_X81_ITERS}.p, -1) AS p
       FROM canon c LEFT JOIN pr{_X81_ITERS}
         ON pr{_X81_ITERS}.doc_id = c.doc_id),
win AS (SELECT comp, doc_id AS canonical FROM (
          SELECT comp, doc_id,
                 ROW_NUMBER() OVER (PARTITION BY comp
                                    ORDER BY p DESC, doc_id) AS rn
          FROM cn) WHERE rn = 1)
SELECT cn.doc_id, w.canonical,
       cn.doc_id = w.canonical AS kept
FROM cn JOIN win w USING (comp)
ORDER BY doc_id, canonical, kept"""
    )


def centrality_canonical(docs: DataFrame) -> DataFrame:
    """(doc_id, canonical, kept): per near-dup component, canonical =
    the member with max x81 PageRank (doc_id tiebreak; isolated docs
    elect themselves) — keep origins, drop mirrors.  elect_canonical
    with the PageRank frame as the score; the barriered pair frame
    feeds both CC and the power iteration.

    Job overlap (r14, guide §2.6): CC and PageRank are independent
    until the election join, and the CC tier blocks the DRIVER (count
    job, Arrow collect, Python union-find) while the cluster idles — so
    the PageRank chain is driven to materialization on a background
    InheritableThread (job-description/thread-local props inherited)
    while elect_canonical's CC runs on this thread.  The pair frame is
    materialized eagerly FIRST so the two threads only ever read
    checkpointed blocks, never race to compute the same lazy
    checkpoint; the thread is joined before returning, so the caller
    never observes concurrent jobs.  Result-identical by construction —
    both frames are deterministic and the join order is unchanged."""
    pairs = barrier(lsh_candidate_pairs(docs), eager=True)  # feeds CC + pr
    score = neardup_pagerank_from_pairs(pairs)
    bg = materialize_async(score)
    try:
        out = elect_canonical(docs, pairs, score=score)
    except BaseException:
        # wait without re-raising the thread's failure: the foreground
        # error is already unwinding and must not be masked (ADVICE r14)
        bg.wait()
        raise
    bg.join()
    return out


def neardup_pagerank_from_pairs(
    pairs: DataFrame, iters: int = _X81_ITERS
) -> DataFrame:
    """x81's power iteration over a pre-built (da, db) pair frame —
    shared by the registered x81 (which builds pairs itself) and x82's
    composition (which reuses one barriered pair frame for CC + rank)."""
    fwd = pairs.select(F.col("da").alias("s"), F.col("db").alias("d"))
    rev = pairs.select(F.col("db").alias("s"), F.col("da").alias("d"))
    ed = fwd.unionByName(rev)
    dg = ed.groupBy("s").agg(F.count(F.lit(1)).cast("long").alias("deg"))
    e2 = barrier(ed.join(dg, "s"), eager=False)
    pr = dg.select(
        F.col("s").alias("doc_id"), F.lit(1000).cast("long").alias("p")
    )
    for i in range(int(iters)):
        contrib = (
            e2.join(pr.withColumnRenamed("doc_id", "s"), "s")
            .select("d", F.expr("p div deg").alias("c"))
            .groupBy("d")
            .agg(F.sum("c").alias("sm"))
        )
        pr = contrib.select(
            F.col("d").alias("doc_id"),
            (F.lit(150) + F.expr("850 * sm div 1000"))
            .cast("long")
            .alias("p"),
        )
        # Lineage cut every SECOND iteration (plus the last): halves the
        # checkpoint copies while capping the uncut join tree at depth 2
        # — the rank frame is node-sized, so two chained join+agg stages
        # stay trivially plannable at any scale (r15 A/B: x81 1.10x,
        # x82 1.07x; values are barrier-invariant).
        if i % 2 == 1 or i == int(iters) - 1:
            pr = barrier(pr, eager=False)
    return pr.select("doc_id", F.col("p").alias("pr_milli"))


@register("x82_centrality_canonical", _x82_oracle())
def x82_centrality_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X82 centrality-canonical election: every document -> the highest-
    PageRank member of its near-dup component (x81's centrality, x55's
    max-of-struct election) — the provenance-aware keep-the-origin
    dedup pass, hash-checked through the ENTIRE shingle -> LSH -> CC ->
    PageRank -> election pipeline."""
    return centrality_canonical(load(spark, sf_dir, "documents")).orderBy(
        "doc_id", "canonical", "kept"
    )


# -- x86: pair-arrival curve (dedup debt over ingest order) -------------------
#
# The TELEMETRY row completing the incremental-dedup story: x02e gives
# the mechanism (probe the index with each batch), x86 measures the
# RATE — bucketing the corpus by ingest order (doc_id deciles, the x66
# cut), how many candidate pairs ARRIVE with each bucket, i.e. are
# created the moment their LATER member lands (exactly the pairs the
# x02e probe of that batch emits).  A flat curve = steady boilerplate
# rate; a superlinear tail = the corpus is converging on duplicates
# (mirrors of mirrors) and the dedup pass is overdue — the curve is
# the "dedup debt" burn-down chart an ingest owner watches next to
# x63's funnel.
#
# Scale: the pair frame is duplicate-sized (x02 bucket bound); the
# curve is a 10-row rollup + prefix window over it.  Decile cut uses
# max(doc_id)+1 as a plan literal (x52/x66 pattern).

def _x86_oracle() -> str:
    return (
        "WITH pairs AS (\n"
        + _sql_sub(_X02_ORACLE, "ORDER BY da, db", "")
        + """),
nn AS (SELECT MAX(doc_id) + 1 AS n FROM documents),
b AS (SELECT 10 * db // (SELECT n FROM nn) + 1 AS decile FROM pairs),
c AS (SELECT decile, CAST(COUNT(*) AS BIGINT) AS n_new_pairs
      FROM b GROUP BY decile)
SELECT CAST(decile AS BIGINT) AS decile, n_new_pairs,
       CAST(SUM(n_new_pairs) OVER (ORDER BY decile
            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS n_cum
FROM c ORDER BY decile, n_new_pairs, n_cum"""
    )


def pair_arrival_curve(docs: DataFrame) -> DataFrame:
    """(decile, n_new_pairs, n_cum): candidate pairs bucketed by the
    ingest decile of their LATER member — the rate at which an
    incremental probe (x02e) would emit them."""
    from pyspark.sql.window import Window as _W

    hi = docs.agg(F.max("doc_id")).first()[0]
    if hi is None:
        raise ValueError("pair_arrival_curve: empty documents frame")
    n = int(hi) + 1
    c = (
        lsh_candidate_pairs(docs)
        .select((F.expr(f"10 * db div {n}") + 1).cast("long").alias("decile"))
        .groupBy("decile")
        .agg(F.count(F.lit(1)).cast("long").alias("n_new_pairs"))
    )
    w = _W.orderBy("decile").rowsBetween(_W.unboundedPreceding, _W.currentRow)
    return c.select(
        "decile",
        "n_new_pairs",
        F.sum("n_new_pairs").over(w).cast("long").alias("n_cum"),
    )


@register("x86_pair_arrival_curve", _x86_oracle())
def x86_pair_arrival_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X86 dedup-debt burn-down: candidate-pair arrivals per ingest
    decile (a pair arrives when its later member lands — exactly the
    x02e probe's emission) with the cumulative curve; superlinear
    tails say the dedup pass is overdue."""
    return pair_arrival_curve(load(spark, sf_dir, "documents")).orderBy(
        "decile", "n_new_pairs", "n_cum"
    )


# -- x96: duplication-quality interaction ---------------------------------------
#
# The CURATION-DECISION table composing the dedup and quality families:
# do near-duplicated documents differ from canonicals?  Every document
# classed 'canonical' (it wins its x28 min-id election — isolated docs
# included) or 'duplicate', then per class: doc count, exact mean
# tokens and chars in integer millis (1000·Σ // n, hash-exact).  If
# duplicates skew short/low-quality the x28 keep-canonical pass is also
# a quality pass; if they skew LONG the min-id election is discarding
# better copies and x55/x82's elections should run instead — this
# table is how that call gets made with evidence.
#
# Scale: the x28 label path (duplicate-sized pair frame -> CC) + one
# doc-grain projection + a 2-row aggregation; sums ride DECIMAL(38,0)
# (1000·Σtokens overflows int64 at 100 TB corpora — the x78/x84
# family).

_X96_ORACLE = (
    "WITH RECURSIVE pairs AS (\n"
    + _sql_sub(_X02_ORACLE, "ORDER BY da, db", "")
    + """),
edges AS (
  SELECT da AS a, db AS b FROM pairs
  UNION ALL
  SELECT db AS a, da AS b FROM pairs),
reach(node, lbl) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT e.a, r.lbl FROM edges e JOIN reach r ON r.node = e.b
),
lab AS (SELECT node AS doc_id, MIN(lbl) AS canonical
        FROM reach GROUP BY node),
t AS (SELECT CASE WHEN l.doc_id = l.canonical THEN 'canonical'
                  ELSE 'duplicate' END AS cls,
             CAST(len(string_split(d.text, ' ')) AS BIGINT) AS tk,
             CAST(d.n_chars AS BIGINT) AS ch
      FROM lab l JOIN documents d USING (doc_id))
SELECT cls, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(CAST(1000 AS HUGEINT) * SUM(tk) // COUNT(*) AS BIGINT)
           AS mean_tokens_milli,
       CAST(CAST(1000 AS HUGEINT) * SUM(ch) // COUNT(*) AS BIGINT)
           AS mean_chars_milli
FROM t GROUP BY cls
ORDER BY cls, n_docs, mean_tokens_milli, mean_chars_milli"""
)


def dup_quality_interaction(docs: DataFrame) -> DataFrame:
    """(cls, n_docs, mean_tokens_milli, mean_chars_milli): canonical-vs-
    duplicate profile over the x28 election — the evidence table for
    choosing between min-id (x28), quality (x55), and centrality (x82)
    elections."""
    from cubefs_hadoop_spark.extensions.intmath import spark_exact_floordiv

    labeled = elect_canonical(docs, lsh_candidate_pairs(docs))
    t = docs.select(
        "doc_id",
        F.size(F.split("text", " ")).cast("long").alias("tk"),
        F.col("n_chars").cast("long").alias("ch"),
    ).join(labeled, "doc_id")
    return (
        t.select(
            F.when(F.col("kept"), F.lit("canonical"))
            .otherwise(F.lit("duplicate"))
            .alias("cls"),
            "tk",
            "ch",
        )
        .groupBy("cls")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.expr("CAST(SUM(CAST(tk AS DECIMAL(38,0))) AS DECIMAL(38,0))")
            .alias("_stk"),
            F.expr("CAST(SUM(CAST(ch AS DECIMAL(38,0))) AS DECIMAL(38,0))")
            .alias("_sch"),
        )
        .select(
            "cls",
            "n_docs",
            F.expr(
                spark_exact_floordiv([1000, "_stk"], ["n_docs"])
            ).alias("mean_tokens_milli"),
            F.expr(
                spark_exact_floordiv([1000, "_sch"], ["n_docs"])
            ).alias("mean_chars_milli"),
        )
    )


@register("x96_dup_quality_interaction", _X96_ORACLE)
def x96_dup_quality_interaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X96 duplication-quality interaction: canonical-vs-duplicate mean
    tokens/chars in exact integer millis over the x28 election — the
    evidence table for choosing the election policy (min-id vs quality
    vs centrality); duplicate-sized pair frame + one doc-grain
    projection + a 2-row aggregate, 128-bit means."""
    return dup_quality_interaction(load(spark, sf_dir, "documents")).orderBy(
        "cls", "n_docs", "mean_tokens_milli", "mean_chars_milli"
    )


# -- x108: per-source duplication rate --------------------------------------------
#
# x51 answers "how much is duplicated" GLOBALLY; x108 answers WHERE it
# comes from: per source, how many docs lose the x28 canonical election
# (exact milli duplicate share) — the table that tells a curation owner
# which feed ships the templated boilerplate.  Composition: the x28
# label path (pairs -> CC -> election, duplicate-sized frames), one
# doc-grain join against the source column, a sources-bounded rollup.
# NULL source -> '(null)' (the x93/x103 convention).

_X108_ORACLE = (
    "WITH RECURSIVE pairs AS (\n"
    + _sql_sub(_X02_ORACLE, "ORDER BY da, db", "")
    + """),
edges AS (
  SELECT da AS a, db AS b FROM pairs
  UNION ALL
  SELECT db AS a, da AS b FROM pairs),
reach(node, lbl) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT e.a, r.lbl FROM edges e JOIN reach r ON r.node = e.b
),
lab AS (SELECT node AS doc_id, MIN(lbl) AS canonical
        FROM reach GROUP BY node)
SELECT COALESCE(d.source, '(null)') AS source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN l.doc_id = l.canonical THEN 0 ELSE 1 END)
            AS BIGINT) AS duplicates,
       CAST(1000 * SUM(CASE WHEN l.doc_id = l.canonical THEN 0 ELSE 1 END)
            // COUNT(*) AS BIGINT) AS dup_share_milli
FROM lab l JOIN documents d USING (doc_id)
GROUP BY 1
ORDER BY source, n_docs, duplicates, dup_share_milli"""
)


def source_dup_rate(docs: DataFrame) -> DataFrame:
    """(source, n_docs, duplicates, dup_share_milli): per-source doc
    counts and exact milli share of docs losing the x28 election."""
    labeled = elect_canonical(docs, lsh_candidate_pairs(docs))
    j = docs.select(
        "doc_id", F.coalesce("source", F.lit("(null)")).alias("source")
    ).join(labeled.select("doc_id", "kept"), "doc_id")
    return (
        j.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(F.when(F.col("kept"), 0).otherwise(1))
            .cast("long")
            .alias("duplicates"),
        )
        .select(
            "source",
            "n_docs",
            "duplicates",
            F.expr("1000 * duplicates div n_docs").cast("long")
            .alias("dup_share_milli"),
        )
    )


@register("x108_source_dup_rate", _X108_ORACLE)
def x108_source_dup_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X108 per-source duplication rate: which feed ships the
    boilerplate — exact milli duplicate share per source under the x28
    canonical election; the x51 yield table's WHERE axis.  Duplicate-
    sized pair frames, one doc-grain join, a sources-bounded rollup."""
    return source_dup_rate(load(spark, sf_dir, "documents")).orderBy(
        "source", "n_docs", "duplicates", "dup_share_milli"
    )
