"""Semantic (embedding-space) dedup operators (SURVEY §2C X03/X02 family).

Two scale paths a 100 TB training-data pipeline runs over an embedding
column, complementing the text-space tiers in ``dedup.py`` and the exact
verify/topk tiers in ``similarity.py``:

- **x12 semantic dedup** — SemDeDup (Abbas et al. 2023, arXiv:2303.09540):
  cluster the corpus (k-means-style assignment to C centroids), then prune
  within clusters only: a document is dropped when a lower-id document in
  the SAME cluster has cosine >= tau.  The clustering bounds the pair
  space to sum(|cluster|^2) instead of N^2 — the entire point of the
  method at scale.  Declared with deterministic training-free centroid
  seeding (first C vectors) so the full pipeline — assignment included —
  is hash-checkable against a DuckDB oracle; production swaps the seeding
  for ``similarity.kmeans_refine`` (orthogonal to the plan shape, exactly
  as with IVF, see ``similarity._seeded_centroids``).

- **x13 SRP-LSH near-dup pairs** — signed-random-projection LSH (Charikar
  STOC'02): per-vector bit signature b_h = sign(dot(v, r_h)), banded into
  (band, key) buckets; only same-bucket pairs are cosine-verified.  This
  is the *bucketed scale path* for x03b's bounded-candidate exact verify:
  P(bit match) = 1 - theta/pi, so at a production near-dup operating point
  (cos >= 0.9) an 8-band x 4-bit table catches ~99.8% of true pairs while
  random pairs collide in a vanishing fraction of buckets.  The fixture
  embeddings are near-uniform (true pairs sit at cos ~0.4 where SRP is
  weakest); the engine-side recall gate in tests reflects that operating
  point.  Hyperplanes are deterministic (the first H corpus vectors), so
  candidates and output are exactly replicated by the oracle.

Reference parity note: the reference connector computes nothing itself —
it delegates the query surface to the host engine (README.md:61-88);
these operators are part of the driver-mandated LLM-pipeline extension
surface (SURVEY §2C), designed Spark-first.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from cubefs_hadoop_spark.catalog import load
from cubefs_hadoop_spark.extensions.dedup import _bucket_pairs, _probe_delta
from cubefs_hadoop_spark.extensions.similarity import (
    _cosine_duck,
    _cosine_expr,
    _cosine_with_norms,
    _DOT,
    _DOT_DUCK,
    _nearest_centroids,
    _norm_expr,
)
from cubefs_hadoop_spark.plans.materialize import barrier
from cubefs_hadoop_spark.plans.parallelism import widen_for_cpu
from cubefs_hadoop_spark.registry import register
from cubefs_hadoop_spark.oracle_compat import r2d

# ---------------------------------------------------------------------------
# x12 — SemDeDup: cluster-then-prune semantic dedup
# ---------------------------------------------------------------------------

_X12_TAU = 0.4
_X12_C = 8

_X12_ORACLE = f"""
WITH cents AS (
  SELECT vec_id AS cid, embedding AS cent FROM embeddings WHERE vec_id < {_X12_C}
), asg AS (
  SELECT vec_id, embedding, cid FROM (
    SELECT e.vec_id, e.embedding, c.cid,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id
               ORDER BY {_cosine_duck('e.embedding', 'c.cent')} DESC, c.cid) AS rn
    FROM embeddings e CROSS JOIN cents c) WHERE rn = 1
), dups AS (
  SELECT DISTINCT b.vec_id
  FROM asg a JOIN asg b ON a.cid = b.cid AND a.vec_id < b.vec_id
  WHERE {_cosine_duck('a.embedding', 'b.embedding')} >= {_X12_TAU}
)
SELECT g.vec_id, g.cid, (d.vec_id IS NULL) AS kept
FROM asg g LEFT JOIN dups d ON g.vec_id = d.vec_id
ORDER BY g.vec_id, g.cid, kept"""


def assign_clusters(
    emb: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Nearest-centroid assignment (cosine, ties -> lowest cid) plus a
    precomputed norm column: one broadcast map-side corpus pass — the
    embedding column never shuffles to get its cluster id."""
    return _nearest_centroids(
        widen_for_cpu(emb, id_col), centroids, id_col, vec_col, 1
    ).select(id_col, vec_col, "cid", _norm_expr(vec_col).alias("nrm"))


def semantic_dedup(
    emb: DataFrame,
    centroids: DataFrame | None = None,
    tau: float = _X12_TAU,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup over ``emb``: returns (id, cid, kept) where kept=false
    iff a lower-id vector in the same cluster has cosine >= tau.

    ``centroids`` (a (cid, cent) frame) defaults to the PRODUCTION
    auto-sized set — C = auto_centroid_count(N) ≈ √N first-by-id
    vectors — so the library default keeps the in-cluster pair space
    linear in N (VERDICT r7 item 3: the pinned-C configuration measured
    21.9x on 10x data at sf1 vs 3.1x auto; pinned centroids now live
    only inside the x12 oracle entry).

    Plan shape at 100 TB: centroids broadcast (C rows, driver-sized by
    definition); assignment is ONE corpus pass materialized behind a
    ``barrier`` (the assignment frame is referenced three times — prune
    sides a/b and the kept-flag join — and without the barrier Spark
    recomputes the corpus pass per reference; ``cfspark.reliable.barriers``
    flips it to a durable checkpoint on a real cluster).  The prune
    self-join is keyed on cid, so the shuffle co-locates clusters and the
    quadratic term is per-cluster, never global.  A production run
    persists the assignment partitioned by cid instead (exactly
    ``similarity.ivf_build_index``'s layout) so the self-join reads
    co-located buckets."""
    if centroids is None:
        from cubefs_hadoop_spark.extensions.similarity import (
            auto_centroid_count,
        )

        c = auto_centroid_count(emb)
        centroids = emb.orderBy(id_col).limit(c).select(
            F.col(id_col).alias("cid"), F.col(vec_col).alias("cent")
        )
    asg = barrier(assign_clusters(emb, centroids, id_col=id_col, vec_col=vec_col))
    a = asg.select(
        F.col(id_col).alias("da"), F.col(vec_col).alias("ea"),
        "cid", F.col("nrm").alias("na"),
    )
    b = asg.select(
        F.col(id_col).alias("db"), F.col(vec_col).alias("eb"),
        "cid", F.col("nrm").alias("nb"),
    )
    dups = (
        a.join(b, "cid")
        .filter(F.col("da") < F.col("db"))
        # unroll=True: the in-cluster pair filter is the hot loop here —
        # interleaved A/B measured 1.17x with the codegen dot (the one
        # call site where unrolling wins; see _cosine_expr's docstring).
        .filter(_cosine_with_norms("ea", "eb", "na", "nb", unroll=True) >= tau)
        .select(F.col("db").alias(id_col))
        .distinct()
    )
    return (
        asg.join(dups.withColumn("dup", F.lit(True)), id_col, "left")
        .select(id_col, "cid", F.col("dup").isNull().alias("kept"))
    )


@register("x12_semantic_dedup", _X12_ORACLE)
def x12_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X12 SemDeDup: assign every embedding to its nearest of C=8 seeded
    centroids (deterministic: the first C vectors), then mark kept=false
    for any vector whose cluster holds a lower-id vector with cosine >=
    0.4.  The whole pipeline — assignment tie-breaks included — is
    bit-replicated by the DuckDB oracle (same dot/sqrt op sequence as
    x03, see the FP contract at ``similarity._cosine_expr``)."""
    emb = load(spark, sf_dir, "embeddings")
    cents = emb.filter(F.col("vec_id") < _X12_C).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("cent")
    )
    return semantic_dedup(emb, cents).orderBy("vec_id", "cid", "kept")


# ---------------------------------------------------------------------------
# x13 — SRP-LSH: signed-random-projection bucketed near-dup pairs
# ---------------------------------------------------------------------------

_X13_TAU = 0.4
_X13_BANDS = 8
_X13_BITS = 4
_X13_H = _X13_BANDS * _X13_BITS  # 32 hyperplanes

_X13_ORACLE = f"""
WITH hp AS (
  SELECT vec_id AS h, embedding AS hv FROM embeddings WHERE vec_id < {_X13_H}
), bits AS (
  SELECT e.vec_id, h.h // {_X13_BITS} AS band,
         SUM(CASE WHEN {_DOT_DUCK.format(a='e.embedding', b='h.hv')} >= 0
                  THEN 1 << (h.h % {_X13_BITS}) ELSE 0 END) AS key
  FROM embeddings e CROSS JOIN hp h GROUP BY e.vec_id, h.h // {_X13_BITS}
), cand AS (
  SELECT DISTINCT a.vec_id AS da, b.vec_id AS db
  FROM bits a JOIN bits b
    ON a.band = b.band AND a.key = b.key AND a.vec_id < b.vec_id
), ver AS (
  SELECT da, db, {_cosine_duck('x.embedding', 'y.embedding')} AS c
  FROM cand JOIN embeddings x ON x.vec_id = da
            JOIN embeddings y ON y.vec_id = db)
SELECT da, db, CAST(ROUND(c, 2) AS DECIMAL(18,2)) AS cos
FROM ver WHERE c >= {_X13_TAU} ORDER BY da, db, cos"""

# Per-row banded SRP signature, computed entirely with JVM higher-order
# functions against a broadcast 1-row hyperplane array: key[band] =
# sum_i 2^i * [dot(v, hp[band*BITS+i]) >= 0].  Outer lambda vars are
# named band/bacc/bi so they cannot collide with _DOT's inner (acc, v).


def srp_keys_expr(bands: int, bits: int, vec_col: str = "embedding") -> str:
    """The banded-signature SQL expression for any (bands, bits) shape."""
    return (
        f"transform(sequence(0, {bands - 1}), band -> "
        f"aggregate(sequence(0, {bits - 1}), 0, (bacc, bi) -> "
        "bacc + IF("
        + _DOT.format(
            a=vec_col, b=f"element_at(hps, band * {bits} + bi + 1).hv"
        )
        + " >= 0, shiftleft(1, bi), 0)))"
    )


def auto_srp_bits(n: int, target_bucket: int = 64, floor: int = 4) -> int:
    """Bits-per-band sized to the corpus (the documented SRP knob,
    SCALE.md "Semantic dedup & SRP-LSH"): 2^bits ≈ N/target_bucket, so
    the expected bucket holds ~target_bucket vectors and per-band
    candidate pairs stay LINEAR in N (fixed bits means buckets grow
    with N and the per-bucket quadratic term dominates — measured 23x
    on 10x data at the sf1 probe with the pinned 4 bits, 2.4x after
    auto-sizing).  Recall price per the SRP bound: a true pair at
    cosine c matches a band with (1 - theta/pi)^bits, theta =
    arccos(c); at the production near-dup operating point (c >= 0.9)
    8 bands x 9 bits still catch ~90% of true pairs, and the exact
    verify stage keeps precision at 1.0 regardless.

    Pure INTEGER arithmetic (ceil-div then bit_length), no log2 floats:
    ceil(log2(x)) == ceil(log2(ceil(x))) because powers of two are
    integers, so the integer form is exactly the real-valued rule — and
    a DuckDB twin can replicate it without cross-libm ulp risk."""
    m = max((int(n) + target_bucket - 1) // target_bucket, 2)  # ceil-div
    return max(int(floor), (m - 1).bit_length())  # ceil(log2(m))


def srp_neardup_pairs_auto(
    emb: DataFrame,
    tau: float = _X13_TAU,
    bands: int = _X13_BANDS,
    bits: "int | str" = "auto",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Production-config SRP near-dup pairs: bits-per-band auto-sized
    from a cheap count (``bits="auto"``, or a pinned int), hyperplanes =
    the first bands*bits corpus vectors (deterministic, like the pinned
    x13).  Same sign -> bucket-join -> exact-verify body as the pinned
    :func:`srp_neardup_pairs`, at any (bands, bits)."""
    if bits == "auto":
        bits = auto_srp_bits(emb.count())
    hp = emb.orderBy(id_col).limit(bands * int(bits)).select(
        (F.row_number().over(Window.orderBy(id_col)) - 1).alias("h"),
        F.col(vec_col).alias("hv"),
    )
    sig = barrier(
        srp_signatures(
            emb, hp, id_col=id_col, vec_col=vec_col, bands=bands, bits=int(bits)
        )
    )
    # Band-duplicate candidates dedupe AFTER the cosine gate: a pair that
    # collides in k bands yields k bit-identical (da, db, c) rows, so the
    # distinct's shuffle now carries only the tau-survivors (~1e3 rows)
    # instead of the full candidate stream (~1e6) — guide §2.2.
    return verify_pairs(
        _bucket_pairs(sig, id_col), emb, tau, id_col=id_col, vec_col=vec_col
    ).distinct()


def srp_signatures(
    emb: DataFrame,
    hyperplanes: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bands: int = _X13_BANDS,
    bits: int = _X13_BITS,
) -> DataFrame:
    """(id, band, key) SRP bucket rows for every vector.

    ``hyperplanes`` is (h, hv) with h in [0, bands*bits); the default
    geometry is the pinned x13 family's.  It is aggregated to a single
    array row and broadcast, so signing is one map-side corpus pass — no
    shuffle touches the embedding column; the posexplode emits only the
    skinny (id, band, key) rows that feed the bucket join."""
    hp = hyperplanes.select(
        F.struct(F.col("h"), F.col("hv")).alias("s")
    ).agg(F.array_sort(F.collect_list("s")).alias("hps"))
    sig = (
        widen_for_cpu(emb, id_col)
        .crossJoin(F.broadcast(hp))
        .select(id_col, F.expr(srp_keys_expr(bands, bits, vec_col)).alias("keys"))
    )
    return sig.select(id_col, F.posexplode("keys").alias("band", "key"))


def srp_neardup_pairs(
    emb: DataFrame,
    hyperplanes: DataFrame | None = None,
    tau: float = _X13_TAU,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SRP-LSH near-dup pairs: bucket on (band, key), then exact-cosine
    verify only same-bucket pairs.  Returns (da, db, c) with c >= tau.

    ``hyperplanes`` defaults to None — the PRODUCTION path, delegating
    to :func:`srp_neardup_pairs_auto` so bits-per-band is sized to the
    corpus (2^bits ≈ N/64; VERDICT r7 item 3: the pinned 4-bit config
    measured 23.3x on 10x data at sf1 vs 1.9x auto; the pinned
    hyperplane frame now rides only the x13 oracle entry).  Pass an
    explicit (h, hv) frame of exactly bands*bits rows to pin the
    signature space (the frame must match the module's pinned
    ``_X13_BANDS``/``_X13_BITS`` geometry).

    Scale: the bucket self-join is an equi-join on (band, key) — the pair
    space is per-bucket, never N^2; band-duplicate candidates dedupe AFTER
    the cosine gate on the skinny (da, db, c) survivors, so neither the
    wide vectors nor the ~1e6-row candidate stream ever ride a distinct's
    shuffle — the same shuffle-width discipline as the IVF probe
    (``similarity._ivf_probe_topk``).
    Signatures are referenced by both self-join sides, so they
    materialize behind a ``barrier`` — one signing pass, not two."""
    if hyperplanes is None:
        return srp_neardup_pairs_auto(
            emb, tau=tau, id_col=id_col, vec_col=vec_col
        )
    sig = barrier(
        srp_signatures(emb, hyperplanes, id_col=id_col, vec_col=vec_col)
    )
    # distinct after the cosine gate — see srp_neardup_pairs_auto.
    return verify_pairs(
        _bucket_pairs(sig, id_col), emb, tau, id_col=id_col, vec_col=vec_col
    ).distinct()


def verify_pairs(
    cand: DataFrame,
    emb: DataFrame,
    tau: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact-cosine verify of (da, db) candidate pairs: re-attach the
    embeddings through two keyed equi-joins (the wide vectors never ride
    the candidate shuffle) and keep pairs with cosine >= tau."""
    embn = emb.select(
        F.col(id_col).alias("_id"),
        F.col(vec_col).alias("_e"),
        _norm_expr(vec_col).alias("_n"),
    )
    return (
        cand.join(embn.withColumnRenamed("_id", "da"), "da")
        .withColumnRenamed("_e", "ea").withColumnRenamed("_n", "na")
        .join(embn.withColumnRenamed("_id", "db"), "db")
        .withColumnRenamed("_e", "eb").withColumnRenamed("_n", "nb")
        .withColumn("c", _cosine_with_norms("ea", "eb", "na", "nb"))
        .filter(F.col("c") >= tau)
        .select("da", "db", "c")
    )


@register("x13_srp_lsh", _X13_ORACLE)
def x13_srp_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X13 SRP-LSH near-dup pairs over the embeddings table: 32
    deterministic hyperplanes (the first 32 corpus vectors), 8 bands x 4
    bits, exact verify at cos >= 0.4.  Deterministic end-to-end, so the
    banding + verify pipeline is hash-checked by the oracle; the recall
    gate vs the exact all-pairs ground truth lives engine-side
    (tests/test_extensions.py::test_srp_lsh_recall)."""
    emb = load(spark, sf_dir, "embeddings")
    hp = emb.filter(F.col("vec_id") < _X13_H).select(
        F.col("vec_id").alias("h"), F.col("embedding").alias("hv")
    )
    return (
        srp_neardup_pairs(emb, hp)
        .select("da", "db", r2d(F.col("c")).alias("cos"))
        .orderBy("da", "db", "cos")
    )


# ---------------------------------------------------------------------------
# x13b — incremental SRP index: sign once, probe per batch
# ---------------------------------------------------------------------------
#
# The vector-side steady-state ingest loop (the embedding analog of the
# x02e text-side incremental LSH index, ``lsh_incremental_candidates``): the corpus's SRP
# bucket rows (vec_id, band, key) persist as a parquet index — a few
# skinny rows per vector, a fraction of corpus bytes — and each arriving
# batch signs ONLY itself, probes the index for (corpus, new) bucket
# collisions, self-joins for (new, new), and exact-verifies the union.
# Unlike x12's corpus-derived centroids, the hyperplanes are FIXED at
# index build time, so incremental signatures stay comparable forever —
# no re-clustering, no index rebuild, O(batch) signing per ingest.

_X13B_ORACLE = _X13_ORACLE.replace(
    f"FROM ver WHERE c >= {_X13_TAU} ORDER BY da, db, cos",
    f"FROM ver WHERE c >= {_X13_TAU} AND db >= 400 ORDER BY da, db, cos",
)


def srp_build_index(
    emb: DataFrame,
    hyperplanes: DataFrame,
    index_path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Persist the SRP bucket table (id, band, key) for incremental
    probing.  The hyperplane set must be kept with the index (it defines
    the signature space — probe batches MUST sign with the same planes)."""
    srp_signatures(emb, hyperplanes, id_col=id_col, vec_col=vec_col).write.mode(
        "overwrite"
    ).parquet(index_path)


def srp_index_append(
    new_emb: DataFrame,
    hyperplanes: DataFrame,
    index_path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Fold a probed batch's bucket rows into the index — completes the
    ingest loop; the next batch collides against this one through the
    index alone."""
    srp_signatures(new_emb, hyperplanes, id_col=id_col, vec_col=vec_col).write.mode(
        "append"
    ).parquet(index_path)


def srp_incremental_candidates(
    new_emb: DataFrame,
    hyperplanes: DataFrame,
    index_path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Candidate pairs INVOLVING the new batch: (corpus, new) bucket
    collisions against the persisted index plus (new, new) within the
    batch; (da, db) with da < db, distinct.  Exactly the delta a
    full-corpus srp run would add for these vectors, at the cost of
    signing only the batch; the corpus-side work is one scan of the
    skinny index, never of the corpus embeddings."""
    new_sig = barrier(
        srp_signatures(new_emb, hyperplanes, id_col=id_col, vec_col=vec_col),
        eager=False,
    )
    index = new_emb.sparkSession.read.parquet(index_path)
    return _probe_delta(new_sig, id_col, index)


@register("x13b_incremental_srp", _X13B_ORACLE)
def x13b_incremental_srp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X13b incremental SRP probe: corpus (vec_id < 400) bucket rows
    persist as an index; the batch (vec_id >= 400) signs only itself,
    probes, and exact-verifies — the delta must equal the full x13 run
    restricted to pairs whose newer side is in the batch (oracle-hashed
    against exactly that restriction)."""
    import tempfile

    emb = load(spark, sf_dir, "embeddings")
    hp = emb.filter(F.col("vec_id") < _X13_H).select(
        F.col("vec_id").alias("h"), F.col("embedding").alias("hv")
    )
    corpus = emb.filter(F.col("vec_id") < 400)
    batch = emb.filter(F.col("vec_id") >= 400)
    idx = tempfile.mkdtemp(prefix="srp_idx_") + "/buckets"
    srp_build_index(corpus, hp, idx)
    cand = srp_incremental_candidates(batch, hp, idx)
    return (
        verify_pairs(cand, emb, _X13_TAU)
        .select("da", "db", r2d(F.col("c")).alias("cos"))
        .orderBy("da", "db", "cos")
    )

# ---------------------------------------------------------------------------
# x31 — per-label embedding centroids / x32 — prototype (coreset) selection
# ---------------------------------------------------------------------------
# Class prototypes are the workhorse of cluster-balanced curation: SemDeDup
# prunes within clusters, density-based mixing (DoReMi-style) weights them,
# and coreset selection (Sorscher et al. 2022, arXiv:2206.14486 "Beyond
# neural scaling laws") keeps the examples closest to (or farthest from)
# their cluster prototype.  x31 computes the prototypes; x32 selects the
# per-label k nearest examples to their own prototype.
#
# Exactness: element values enter as integer millis (floor(v*1000) after an
# exact float->double widen), so sums are order-free BIGINT arithmetic and
# the centroid is a deterministic floor-division — every output column is
# integer-typed and hash-stable against the DuckDB twin.  Production keeps
# the double-precision path (a milli grid quantizes the prototype); the
# plan shape is identical either way.

def _milli_expr(vec_col: str):
    """Embedding floats -> exact integer millis (float->double widen is
    exact; both engines floor the identical IEEE product)."""
    return F.expr(
        f"transform({vec_col}, v -> CAST(floor(CAST(v AS DOUBLE)*1000)"
        " AS BIGINT))"
    )

_X31_ORACLE = """
WITH ex AS (
  SELECT label,
         CAST(FLOOR(CAST(unnest(embedding) AS DOUBLE)*1000) AS BIGINT) AS em,
         generate_subscripts(embedding, 1) - 1 AS dim
  FROM embeddings)
SELECT label, CAST(dim AS BIGINT) AS dim,
       CAST(SUM(em) AS BIGINT) AS sum_milli,
       CAST(COUNT(*) AS BIGINT) AS cnt,
       CAST(FLOOR(CAST(SUM(em) AS DOUBLE)/COUNT(*)) AS BIGINT)
           AS centroid_milli
FROM ex GROUP BY label, dim ORDER BY label, dim"""


def label_centroids(
    emb: DataFrame, label_col: str = "label", vec_col: str = "embedding"
) -> DataFrame:
    """Element-wise mean embedding per label, in exact integer millis:
    (label, dim, sum_milli, cnt, centroid_milli).

    Plan shape at 100 TB: posexplode is map work riding the scan, and the
    (label, dim) groupBy carries a map-side partial aggregate — each task
    emits at most labels x dims rows regardless of input size, so the one
    shuffle moves O(L*D) rows per task, not the corpus.  No join, no
    Python, no driver collect."""
    return (
        emb.select(label_col, F.posexplode(_milli_expr(vec_col)).alias("dim", "em"))
        .groupBy(label_col, "dim")
        .agg(F.sum("em").alias("sum_milli"), F.count(F.lit(1)).alias("cnt"))
        .select(
            label_col,
            F.col("dim").cast("long").alias("dim"),
            "sum_milli",
            "cnt",
            F.floor(F.col("sum_milli").cast("double") / F.col("cnt"))
            .cast("long")
            .alias("centroid_milli"),
        )
    )


@register("x31_label_centroids", _X31_ORACLE)
def x31_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X31 per-label centroids: exact integer-milli element-wise mean of
    the embedding column, one partial-aggregated shuffle."""
    return label_centroids(load(spark, sf_dir, "embeddings")).orderBy(
        "label", "dim"
    )


_X32_K = 5

_X32_ORACLE = f"""
WITH ex AS (
  SELECT vec_id, label,
         CAST(FLOOR(CAST(unnest(embedding) AS DOUBLE)*1000) AS BIGINT) AS em,
         generate_subscripts(embedding, 1) - 1 AS dim
  FROM embeddings),
cent AS (
  SELECT label, dim,
         CAST(FLOOR(CAST(SUM(em) AS DOUBLE)/COUNT(*)) AS BIGINT) AS c
  FROM ex GROUP BY label, dim),
d AS (
  SELECT e.vec_id, e.label,
         CAST(SUM((e.em - c.c)*(e.em - c.c)) AS BIGINT) AS d2_milli
  FROM ex e JOIN cent c ON e.label = c.label AND e.dim = c.dim
  GROUP BY e.vec_id, e.label)
SELECT vec_id, label, d2_milli, CAST(rn AS BIGINT) AS rank
FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY label
          ORDER BY d2_milli, vec_id) AS rn FROM d)
WHERE rn <= {_X32_K} ORDER BY label, rank"""


def centroid_arrays(
    emb: DataFrame, label_col: str = "label", vec_col: str = "embedding"
) -> DataFrame:
    """(label, cent_m) — each label's integer-milli centroid packed into a
    dim-ordered array; labels x 1 rows, broadcast-sized by definition."""
    return (
        label_centroids(emb, label_col=label_col, vec_col=vec_col)
        .groupBy(label_col)
        .agg(
            F.expr(
                "transform(array_sort(collect_list(struct(dim,"
                " centroid_milli))), s -> s.centroid_milli)"
            ).alias("cent_m")
        )
    )


def prototype_selection(
    emb: DataFrame,
    k: int = _X32_K,
    id_col: str = "vec_id",
    label_col: str = "label",
    vec_col: str = "embedding",
) -> DataFrame:
    """Coreset selection: the k examples of each label nearest (squared
    L2, integer millis, ties -> lowest id) to their own label centroid —
    the "easy prototype" half of the pruning metric in Sorscher et al.
    2022; flip the ordering for the hard-example half.

    Plan shape at 100 TB: the centroid frame is labels x dims rows
    (driver-sized by definition) -> collected to per-label arrays and
    BROADCAST; the distance is one row-local zip_with/aggregate over the
    corpus (JVM codegen, no Python); the per-label top-k is a rank window
    Spark rewrites to WindowGroupLimit, so each map task forwards at most
    k rows per label into the single label-keyed shuffle."""
    if k < 1:
        raise ValueError(f"prototype_selection: need k >= 1, got {k}")
    em_m = widen_for_cpu(emb, id_col).select(
        id_col, label_col, _milli_expr(vec_col).alias("em")
    )
    cent_arr = centroid_arrays(emb, label_col=label_col, vec_col=vec_col)
    w = Window.partitionBy(label_col).orderBy("d2_milli", id_col)
    return (
        em_m.join(F.broadcast(cent_arr), label_col)
        .withColumn(
            "d2_milli",
            # a ragged vector (length != its label's dim count) would
            # zip_with into NULLs, which ascending rank would then crown
            # as the nearest prototype — refuse loudly instead (JVM-side,
            # per-row, no extra pass)
            F.when(
                F.size("em") == F.size("cent_m"),
                F.expr(
                    "aggregate(zip_with(em, cent_m, (e, c) -> (e-c)*(e-c)),"
                    " CAST(0 AS BIGINT), (a, x) -> a + x)"
                ),
            ).otherwise(
                F.raise_error(
                    F.concat(
                        F.lit(
                            "prototype_selection: embedding length mismatch "
                            "for id "
                        ),
                        F.col(id_col).cast("string"),
                        F.lit(" (got "),
                        F.size("em").cast("string"),
                        F.lit(" dims, label centroid has "),
                        F.size("cent_m").cast("string"),
                        F.lit(")"),
                    )
                ).cast("long")
            ),
        )
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select(id_col, label_col, "d2_milli", "rank")
    )


@register("x32_prototype_selection", _X32_ORACLE)
def x32_prototype_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X32 prototype selection: per-label k=5 nearest-to-centroid coreset,
    broadcast centroids + WindowGroupLimit top-k."""
    return prototype_selection(load(spark, sf_dir, "embeddings")).orderBy(
        "label", "rank"
    )


# x31b — incremental centroid maintenance: the (sum, cnt) state is exactly
# additive, so a streaming/batched ingest never re-touches the corpus.

_X31B_ORACLE = _X31_ORACLE  # folding the batch must equal the full recompute


def centroid_state_build(
    emb: DataFrame,
    index_path: str,
    label_col: str = "label",
    vec_col: str = "embedding",
) -> None:
    """Persist the per-(label, dim) (sum_milli, cnt) sufficient statistics
    — the additive state an ingest loop folds batches into."""
    label_centroids(emb, label_col=label_col, vec_col=vec_col).select(
        label_col, "dim", "sum_milli", "cnt"
    ).write.mode("overwrite").parquet(index_path)


def centroid_state_fold(
    new_emb: DataFrame,
    index_path: str,
    label_col: str = "label",
    vec_col: str = "embedding",
) -> DataFrame:
    """Fold a batch into the persisted centroid state and return the
    refreshed centroid frame (same shape as ``label_centroids``).

    Exactness is the point: sums of integer millis are associative and
    commutative, so state + batch == full recompute to the BIT — the
    oracle twin hash-proves it.  Cost is O(batch) map work plus a
    labels x dims-sized merge; the corpus embeddings are never re-read.
    A production loop overwrites the state with the returned sums (write
    to a temp path, then rename — the state is labels x dims rows,
    metadata-sized)."""
    from cubefs_hadoop_spark.streaming.state_sink import fold_keyed

    spark = new_emb.sparkSession
    state = spark.read.parquet(index_path)
    batch = label_centroids(
        new_emb, label_col=label_col, vec_col=vec_col
    ).select(label_col, "dim", "sum_milli", "cnt")
    return (
        fold_keyed(
            state, batch, [label_col, "dim"], {"sum_milli": "sum", "cnt": "sum"}
        )
        .select(
            label_col,
            "dim",
            "sum_milli",
            "cnt",
            F.floor(F.col("sum_milli").cast("double") / F.col("cnt"))
            .cast("long")
            .alias("centroid_milli"),
        )
    )


@register("x31b_incremental_centroids", _X31B_ORACLE)
def x31b_incremental_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X31b incremental centroid ingest: state built from vec_id < 400,
    the remaining vectors folded as a batch — the merged result must be
    bit-identical to the full-corpus x31 recompute (the oracle IS x31's),
    proving the (sum, cnt) state is exactly additive."""
    import tempfile

    emb = load(spark, sf_dir, "embeddings")
    idx = tempfile.mkdtemp(prefix="cent_state_") + "/state"
    centroid_state_build(emb.filter(F.col("vec_id") < 400), idx)
    return centroid_state_fold(emb.filter(F.col("vec_id") >= 400), idx).orderBy(
        "label", "dim"
    )


# x36 — nearest-class-mean classification (the inference half of x31/x32)

_X36_ORACLE = """
WITH ex AS (
  SELECT vec_id, label,
         CAST(FLOOR(CAST(unnest(embedding) AS DOUBLE)*1000) AS BIGINT) AS em,
         generate_subscripts(embedding, 1) - 1 AS dim
  FROM embeddings),
cent AS (
  SELECT label AS clabel, dim,
         CAST(FLOOR(CAST(SUM(em) AS DOUBLE)/COUNT(*)) AS BIGINT) AS c
  FROM ex GROUP BY label, dim),
d AS (
  SELECT e.vec_id, e.label, c.clabel,
         CAST(SUM((e.em - c.c)*(e.em - c.c)) AS BIGINT) AS d2_milli
  FROM ex e JOIN cent c ON e.dim = c.dim
  GROUP BY e.vec_id, e.label, c.clabel)
SELECT vec_id, label, clabel AS pred_label, d2_milli,
       (label = clabel) AS correct
FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
          ORDER BY d2_milli, clabel) AS rn FROM d)
WHERE rn = 1 ORDER BY vec_id"""


def ncm_classify(
    emb: DataFrame,
    centroids: DataFrame | None = None,
    id_col: str = "vec_id",
    label_col: str = "label",
    vec_col: str = "embedding",
) -> DataFrame:
    """Nearest-class-mean classification: assign every vector to the
    label whose centroid is squared-L2-nearest in integer millis (ties ->
    lowest label) — the pseudo-labeling/NCM step of a semi-supervised
    curation loop, and the accuracy audit of the x31 prototypes (the
    ``correct`` flag scores the classifier against the true label).
    ``centroids`` defaults to :func:`centroid_arrays` of ``emb`` itself
    (resubstitution audit); pass a held-out or folded state
    (x31b) to classify unlabeled batches.

    Plan shape at 100 TB: the ONLY join is the labels-row broadcast
    (same declared crossJoin-broadcast pattern as assign_clusters);
    distances are row-local JVM zip_with/aggregate; the per-vector argmin
    is a WindowGroupLimit rank over a frame that is corpus x C rows only
    because C is small — at larger C the IVF path (similarity.py) is the
    declared tier.  Ragged vectors fail loudly, exactly as in x32."""
    cents = (
        centroid_arrays(emb, label_col=label_col, vec_col=vec_col)
        if centroids is None
        else centroids
    )
    cents = cents.select(
        F.col(label_col).alias("_clabel"), "cent_m"
    )
    em_m = widen_for_cpu(emb, id_col).select(
        id_col, label_col, _milli_expr(vec_col).alias("em")
    )
    d2 = F.when(
        F.size("em") == F.size("cent_m"),
        F.expr(
            "aggregate(zip_with(em, cent_m, (e, c) -> (e-c)*(e-c)),"
            " CAST(0 AS BIGINT), (a, x) -> a + x)"
        ),
    ).otherwise(
        F.raise_error(
            F.concat(
                F.lit("ncm_classify: embedding length mismatch for id "),
                F.col(id_col).cast("string"),
                F.lit(" (got "),
                F.size("em").cast("string"),
                F.lit(" dims, centroid has "),
                F.size("cent_m").cast("string"),
                F.lit(")"),
            )
        ).cast("long")
    )
    w = Window.partitionBy(id_col).orderBy("d2_milli", "_clabel")
    return (
        em_m.crossJoin(F.broadcast(cents))
        .withColumn("d2_milli", d2)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            id_col,
            label_col,
            F.col("_clabel").alias("pred_label"),
            "d2_milli",
            (F.col(label_col) == F.col("_clabel")).alias("correct"),
        )
    )


@register("x36_ncm_classify", _X36_ORACLE)
def x36_ncm_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X36 nearest-class-mean: every embedding classified to its nearest
    label centroid (integer-milli L2, lowest-label ties), with the
    resubstitution correctness flag."""
    return ncm_classify(load(spark, sf_dir, "embeddings")).orderBy("vec_id")


# ---------------------------------------------------------------------------
# x12b / x13c — the AUTO-SIZED production configs, oracle-checked
# ---------------------------------------------------------------------------

# Both knobs resolve from COUNT(*) in pure integer arithmetic (Python)
# and its exact SQL transcription (DuckDB), so the driver's hash gate
# verifies the sizing rule itself, not just a pinned instance: at
# sf0.001 (N=500) both rules land on the pinned x12/x13 configs; at
# sf0.01 (N=2000) they genuinely diverge (C=31, bits=5).

_X12B_ORACLE = f"""
WITH p AS (
  SELECT GREATEST(8, LEAST(CAST(CEIL(SQRT(COUNT(*))) AS BIGINT),
                           COUNT(*) // 64)) AS c
  FROM embeddings
), cents AS (
  SELECT vec_id AS cid, embedding AS cent FROM embeddings, p
  WHERE vec_id < p.c
), asg AS (
  SELECT vec_id, embedding, cid FROM (
    SELECT e.vec_id, e.embedding, c.cid,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id
               ORDER BY {_cosine_duck('e.embedding', 'c.cent')} DESC, c.cid) AS rn
    FROM embeddings e CROSS JOIN cents c) WHERE rn = 1
), dups AS (
  SELECT DISTINCT b.vec_id
  FROM asg a JOIN asg b ON a.cid = b.cid AND a.vec_id < b.vec_id
  WHERE {_cosine_duck('a.embedding', 'b.embedding')} >= {_X12_TAU}
)
SELECT g.vec_id, g.cid, (d.vec_id IS NULL) AS kept
FROM asg g LEFT JOIN dups d ON g.vec_id = d.vec_id
ORDER BY g.vec_id, g.cid, kept"""


@register("x12b_semantic_dedup_auto", _X12B_ORACLE)
def x12b_semantic_dedup_auto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X12b SemDeDup with the PRODUCTION auto-sized C (VERDICT r6 item
    8): C = max(8, min(ceil(sqrt(N)), N // 64)) from one count, then the
    unchanged cluster-then-prune pipeline.  The oracle transcribes the
    sizing rule into SQL (integer arithmetic; ceil(sqrt) agrees exactly
    — see auto_centroid_count), so the hash gate verifies auto-C
    end-to-end, not a pinned instance.  sf1-measured: 6.95 s vs the
    pinned config's 46.2 s (SCALING.md)."""
    from cubefs_hadoop_spark.extensions.similarity import auto_centroid_count

    emb = load(spark, sf_dir, "embeddings")
    c = auto_centroid_count(emb)
    cents = emb.filter(F.col("vec_id") < c).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("cent")
    )
    return semantic_dedup(emb, cents).orderBy("vec_id", "cid", "kept")


_X13C_ORACLE = f"""
WITH p AS (
  SELECT GREATEST(4, CAST(CEIL(LOG2(GREATEST(
             CAST(CEIL(COUNT(*) / 64.0) AS BIGINT), 2))) AS BIGINT)) AS bits
  FROM embeddings
), hp AS (
  SELECT h, hv FROM (
    SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS h,
           embedding AS hv
    FROM embeddings) t, p
  WHERE t.h < {_X13_BANDS} * p.bits
), bits AS (
  SELECT e.vec_id, CAST(h.h // p.bits AS BIGINT) AS band,
         SUM(CASE WHEN {_DOT_DUCK.format(a='e.embedding', b='h.hv')} >= 0
                  THEN 1 << (h.h % p.bits) ELSE 0 END) AS key
  FROM embeddings e CROSS JOIN hp h CROSS JOIN p
  GROUP BY e.vec_id, h.h // p.bits
), cand AS (
  SELECT DISTINCT a.vec_id AS da, b.vec_id AS db
  FROM bits a JOIN bits b
    ON a.band = b.band AND a.key = b.key AND a.vec_id < b.vec_id
), ver AS (
  SELECT da, db, {_cosine_duck('x.embedding', 'y.embedding')} AS c
  FROM cand JOIN embeddings x ON x.vec_id = da
            JOIN embeddings y ON y.vec_id = db)
SELECT da, db, CAST(ROUND(c, 2) AS DECIMAL(18,2)) AS cos
FROM ver WHERE c >= {_X13_TAU} ORDER BY da, db, cos"""


@register("x13c_srp_lsh_auto", _X13C_ORACLE)
def x13c_srp_lsh_auto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X13c SRP-LSH with the PRODUCTION auto-sized bits-per-band:
    2^bits ≈ N/64 via pure integer arithmetic (ceil-div + bit_length ==
    ceil(log2), transcribed exactly into the oracle — LOG2 only ever
    sees an integer, where ceil can't straddle an ulp).  sf1-measured:
    4.42 s vs the pinned config's 79.8 s, 1.1x on 10x data
    (SCALING.md)."""
    emb = load(spark, sf_dir, "embeddings")
    return (
        srp_neardup_pairs_auto(emb)
        .select("da", "db", r2d(F.col("c")).alias("cos"))
        .orderBy("da", "db", "cos")
    )


# ---------------------------------------------------------------------------
# x43: Johnson-Lindenstrauss random projection (embedding WIDTH compression)
#
# Achlioptas, "Database-friendly random projections" (PODS 2001 / JCSS
# 2003): a +-1 Rademacher matrix is a JL map — projecting d-dim vectors
# to k dims preserves pairwise squared distances in expectation
# (E[||Sx||^2] = k ||x||^2) with distortion O(1/sqrt(k)).  The WIDTH
# member of the embedding-compression family: x41 PQ shrinks the BYTES
# each stored vector costs (codebook lookups, for ANN serving), x43
# shrinks the DIMENSIONS every downstream shuffle/clustering pass pays
# for — 64 -> 16 dims is a 4x cut of the bytes every embedding exchange
# (SemDeDup assignment, centroid folds, LSH banding) moves at 100 TB.
#
# Determinism: the matrix is FROZEN at import — sign(j, i) = parity of
# the first md5 hex byte of "j|i" (hashlib; pure function of the
# indices, no RNG) — and embedded as literal arrays in BOTH engines, so
# the projection hash-checks exactly: per output dim the dot product
# accumulates sequentially in array order (the _DOT FP-contract) and
# snaps to integer micros.  Map-only: zero shuffles, zero joins, zero
# Python (plan-gated); rides the scan like x30/x35.

_X43_K = 16  # output dims
_X43_D = 64  # input dims


def _jl_signs() -> list[list[float]]:
    """The frozen k x d Rademacher matrix (pure function of indices)."""
    import hashlib

    return [
        [
            1.0
            if int(hashlib.md5(f"{j}|{i}".encode()).hexdigest()[:2], 16) % 2
            == 0
            else -1.0
            for i in range(_X43_D)
        ]
        for j in range(_X43_K)
    ]


_JL = _jl_signs()


def _jl_expr(vec_col: str) -> str:
    """SQL text of the k=16 integer-micro JL projection of ``vec_col``
    — the frozen Rademacher matrix rides the plan as literals."""
    signs_sql = ", ".join(
        "array(" + ", ".join(f"CAST({s} AS DOUBLE)" for s in row) + ")"
        for row in _JL
    )
    agg = (
        f"aggregate(zip_with(transform({vec_col}, x -> CAST(x AS DOUBLE)),"
        " row, (x, y) -> x * y), CAST(0.0 AS DOUBLE), (acc, t) -> acc + t)"
    )
    return (
        f"transform(array({signs_sql}), row -> "
        f"CAST(CASE WHEN {agg} < 0 THEN -FLOOR(ABS(({agg}) * 1000000.0) + 0.5)"
        f" ELSE FLOOR(ABS(({agg}) * 1000000.0) + 0.5) END AS BIGINT))"
    )


def jl_project(emb: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """(vec_id, proj: array<bigint>) — k=16 integer-micro JL projection
    of each 64-dim embedding.  One map stage; the matrix rides the plan
    as literals."""
    return emb.select("vec_id", F.expr(_jl_expr(vec_col)).alias("proj"))


_X43_SIGNS_DUCK = ", ".join(
    "[" + ", ".join(f"CAST({s} AS DOUBLE)" for s in row) + "]"
    for row in _JL
)
_X43_AGG_DUCK = (
    "list_sum(list_transform(list_zip(CAST(embedding AS DOUBLE[]), row),"
    " p -> p[1] * p[2]))"
)
_X43_ORACLE = f"""
WITH e AS (SELECT vec_id, embedding FROM embeddings),
p AS (
  SELECT vec_id,
         list_transform([{_X43_SIGNS_DUCK}], row ->
           CAST(CASE WHEN {_X43_AGG_DUCK} < 0
                THEN -FLOOR(ABS(({_X43_AGG_DUCK}) * 1000000.0) + 0.5)
                ELSE FLOOR(ABS(({_X43_AGG_DUCK}) * 1000000.0) + 0.5)
                END AS BIGINT)) AS proj
  FROM e)
SELECT vec_id, CAST(d.i - 1 AS BIGINT) AS dim, proj[d.i] AS value_micro
FROM p, generate_series(1, {_X43_K}) AS d(i)
ORDER BY vec_id, dim"""


@register("x43_jl_project", _X43_ORACLE)
def x43_jl_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X43 JL random projection 64 -> 16 dims (integer micros): the
    dimension-compression pass downstream embedding shuffles ride —
    map-only, frozen Rademacher matrix as plan literals.  See the
    section comment for the distortion contract and the PQ contrast.

    Declared at (vec_id, dim, value_micro) grain — CORRECTNESS_r08
    proved the driver's canonicalizer cannot sort a top-level
    array<bigint> column (pandas factorize on list cells), so the
    registry entry posexplodes the projection while ``jl_project()``
    keeps returning the array for API callers.  Still map-only: the
    explode is a per-row generator, zero shuffles."""
    return (
        jl_project(load(spark, sf_dir, "embeddings"))
        .select(
            "vec_id",
            F.posexplode("proj").alias("dim", "value_micro"),
        )
        .withColumn("dim", F.col("dim").cast("long"))
        .orderBy("vec_id", "dim")
    )


# ---------------------------------------------------------------------------
# x59 — width-compression recall audit: prefix truncation vs JL projection
#
# The decision x43 exists to win, MEASURED: before a pipeline adopts a
# cheaper embedding width for its shuffles (SemDeDup assignment, LSH
# banding, kNN candidate gen), the operator answers "how much top-k
# neighborhood structure does each 4x-narrower representation keep?" —
# recall@k of (a) naive PREFIX truncation to the first 16 dims and (b)
# x43's 16-dim JL Rademacher projection, both against the exact 64-dim
# cosine top-k.  JL mixes every input dim into every output dim
# (distance preservation is the JL lemma's guarantee); a prefix keeps
# only whatever variance happens to live in the first coordinates — on
# isotropic embeddings they tie, on structured ones JL wins.  This is
# the audit-family shape (x52/x53): a bounded pre-flight pass that
# prices a representation choice BEFORE the expensive pipeline runs.
#
# Scale (100 TB): the query side is a driver-sized sample (Q=25 here)
# that BROADCASTS; the corpus side is one map-only scan computing all
# three cosines per candidate in a single pass (one nested-loop against
# the broadcast, no corpus self-join), then one exchange on q_id (Q
# keys) and three Q-partition sorts.  At true scale the audit runs the
# ground-truth pass over a uniform corpus SAMPLE (recall estimation
# needs a sample, not the full corpus) — the plan shape is unchanged,
# only the scanned fraction.
# ---------------------------------------------------------------------------

_X59_Q = 25      # audit query vectors (vec_id < Q)
_X59_K = 5       # neighborhood size under audit
_X59_PRE = _X43_K  # prefix width — same 16 dims as the JL target

_X59_JL_DUCK = f"""list_transform([{_X43_SIGNS_DUCK}], row ->
         CAST(CASE WHEN {_X43_AGG_DUCK} < 0
              THEN -FLOOR(ABS(({_X43_AGG_DUCK}) * 1000000.0) + 0.5)
              ELSE FLOOR(ABS(({_X43_AGG_DUCK}) * 1000000.0) + 0.5)
              END AS BIGINT))"""

_X59_ORACLE = f"""
WITH p AS (
  SELECT vec_id, embedding, {_X59_JL_DUCK} AS jl FROM embeddings),
scored AS (
  SELECT a.vec_id AS q_id, b.vec_id AS n_id,
         {_cosine_duck('a.embedding', 'b.embedding')} AS c_full,
         {_cosine_duck(f'a.embedding[1:{_X59_PRE}]',
                       f'b.embedding[1:{_X59_PRE}]')} AS c_pre,
         {_cosine_duck('a.jl', 'b.jl')} AS c_jl
  FROM p a JOIN p b ON b.vec_id <> a.vec_id
  WHERE a.vec_id < {_X59_Q}),
ranked AS (
  SELECT *,
    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY c_full DESC, n_id) AS r_full,
    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY c_pre DESC, n_id) AS r_pre,
    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY c_jl DESC, n_id) AS r_jl
  FROM scored)
SELECT q_id,
  CAST(ROUND(SUM(CASE WHEN r_pre <= {_X59_K} THEN 1 ELSE 0 END) / {_X59_K}.0,
             2) AS DECIMAL(18,2)) AS recall_prefix,
  CAST(ROUND(SUM(CASE WHEN r_jl <= {_X59_K} THEN 1 ELSE 0 END) / {_X59_K}.0,
             2) AS DECIMAL(18,2)) AS recall_jl
FROM ranked WHERE r_full <= {_X59_K}
GROUP BY q_id ORDER BY q_id"""


def dim_truncation_recall(
    emb: DataFrame,
    q_max: int = _X59_Q,
    k: int = _X59_K,
    pre: int = _X59_PRE,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(q_id, recall_prefix, recall_jl): per audit query, the fraction
    of its exact full-width cosine top-k recovered by (a) first-``pre``-
    dims prefix truncation and (b) the x43 JL projection.  One corpus
    pass computes all three cosines per candidate; the three rank
    windows share one q_id exchange."""
    base = emb.select(
        F.col(id_col).alias("vid"),
        F.col(vec_col).alias("emb"),
        F.slice(F.col(vec_col), 1, pre).alias("pre"),
        F.expr(_jl_expr(vec_col)).alias("jl"),
    )
    q = base.filter(F.col("vid") < q_max).select(
        F.col("vid").alias("q_id"),
        F.col("emb").alias("q_emb"),
        F.col("pre").alias("q_pre"),
        F.col("jl").alias("q_jl"),
    )
    c = widen_for_cpu(base, "vid").select(
        F.col("vid").alias("n_id"),
        F.col("emb").alias("n_emb"),
        F.col("pre").alias("n_pre"),
        F.col("jl").alias("n_jl"),
    )
    scored = (
        F.broadcast(q)
        .crossJoin(c)
        .filter(F.col("n_id") != F.col("q_id"))
        .select(
            "q_id",
            "n_id",
            _cosine_expr("q_emb", "n_emb").alias("c_full"),
            _cosine_expr("q_pre", "n_pre").alias("c_pre"),
            _cosine_expr("q_jl", "n_jl").alias("c_jl"),
        )
    )

    def w(col: str) -> Window:
        return Window.partitionBy("q_id").orderBy(F.desc(col), "n_id")

    ranked = (
        scored.withColumn("r_full", F.row_number().over(w("c_full")))
        .withColumn("r_pre", F.row_number().over(w("c_pre")))
        .withColumn("r_jl", F.row_number().over(w("c_jl")))
    )
    kf = float(k)
    return (
        ranked.filter(F.col("r_full") <= k)
        .groupBy("q_id")
        .agg(
            r2d(
                F.sum(F.when(F.col("r_pre") <= k, 1).otherwise(0)) / kf
            ).alias("recall_prefix"),
            r2d(
                F.sum(F.when(F.col("r_jl") <= k, 1).otherwise(0)) / kf
            ).alias("recall_jl"),
        )
    )


@register("x59_dim_truncation_recall", _X59_ORACLE)
def x59_dim_truncation_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X59 width-compression recall audit: recall@5 of 16-dim prefix
    truncation vs the x43 JL projection against exact 64-dim cosine
    top-5, per audit query.  The pre-flight measurement behind adopting
    a narrower embedding for downstream shuffles (the x52/x53 audit
    family)."""
    return dim_truncation_recall(load(spark, sf_dir, "embeddings")).orderBy(
        "q_id"
    )


# ---------------------------------------------------------------------------
# x46 — kNN graph over SRP-LSH candidates; x46b — graph-density downsample
# ---------------------------------------------------------------------------
#
# The GRAPH view of the embedding space: per vector, its top-k verified
# neighbors among the SRP bucket candidates (x13's machinery, pinned
# hyperplanes/bands/bits/tau) — the data structure graph-based curation
# passes consume: SemDeDup-graph pruning, diversity sampling, label
# propagation, connected-component dedup (x28 eats exactly these pairs).
#
# Scale: candidates come from the bucketed (band, key) self-join — the
# pair space is per-bucket, NEVER N²; exact cosine re-verifies
# candidates only, and top-k per source is a WindowGroupLimit (rank
# pushed into the shuffle, no full sort of the neighbor lists).  The
# kNN graph of a 100 TB corpus is built bucket-locally with the same
# auto-sized bits knob as x13c when N grows (auto_srp_bits keeps
# per-bucket populations ~constant).
#
# x46b is the consumption example: graph DEGREE as a density score —
# vectors with many strong neighbors sit in dense near-dup regions
# (cluster cores), vectors with few sit in sparse regions the corpus
# under-represents.  Keeping degree <= D is the degree-threshold
# diversity downsample (the graph-flavored cousin of x12's
# cluster-then-prune); the kept flag rides every vector so the entry is
# an auditable decision table, not a silent filter.

_X46_K = 5      # neighbors kept per vector
_X46B_DMAX = 1  # density threshold: kept iff degree <= D_MAX

_X46_ORACLE = _X13_ORACLE.replace(
    f"""SELECT da, db, CAST(ROUND(c, 2) AS DECIMAL(18,2)) AS cos
FROM ver WHERE c >= {_X13_TAU} ORDER BY da, db, cos""",
    f"""SELECT src, nbr, rank, CAST(ROUND(c, 2) AS DECIMAL(18,2)) AS cos
FROM (
  SELECT src, nbr, c,
         CAST(ROW_NUMBER() OVER (PARTITION BY src ORDER BY c DESC, nbr)
              AS BIGINT) AS rank
  FROM (SELECT da AS src, db AS nbr, c FROM ver WHERE c >= {_X13_TAU}
        UNION ALL
        SELECT db AS src, da AS nbr, c FROM ver WHERE c >= {_X13_TAU}) sym
) rk WHERE rank <= {_X46_K} ORDER BY src, rank""",
)


def knn_graph(
    emb: DataFrame,
    hyperplanes: DataFrame | None = None,
    k: int = _X46_K,
    tau: float = _X13_TAU,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(src, nbr, rank, c): each vector's top-k verified neighbors among
    its SRP bucket candidates, ranked by cosine desc then neighbor id.
    Pairs are computed once (da < db) behind a barrier and symmetrized —
    the verify stage never runs twice per edge."""
    pairs = barrier(
        srp_neardup_pairs(
            emb, hyperplanes, tau=tau, id_col=id_col, vec_col=vec_col
        )
    )
    sym = pairs.select(
        F.col("da").alias("src"), F.col("db").alias("nbr"), "c"
    ).unionByName(
        pairs.select(F.col("db").alias("src"), F.col("da").alias("nbr"), "c")
    )
    w = Window.partitionBy("src").orderBy(F.desc("c"), F.asc("nbr"))
    return (
        sym.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
    )


@register("x46_knn_graph", _X46_ORACLE)
def x46_knn_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X46 kNN graph over SRP candidates (pinned x13 config): per
    vector, its top-5 neighbors at cosine >= 0.4 among bucket-colliding
    candidates — the adjacency structure graph-based curation consumes.
    Candidate generation is bucket-local (never N²), top-k is a
    WindowGroupLimit.  Recall vs the exact-graph ground truth is gated
    engine-side (test_knn_graph_recall)."""
    emb = load(spark, sf_dir, "embeddings")
    hp = emb.filter(F.col("vec_id") < _X13_H).select(
        F.col("vec_id").alias("h"), F.col("embedding").alias("hv")
    )
    return (
        knn_graph(emb, hp)
        .select("src", "nbr", "rank", r2d(F.col("c")).alias("cos"))
        .orderBy("src", "rank")
    )


_X46B_ORACLE = _X13_ORACLE.replace(
    f"""SELECT da, db, CAST(ROUND(c, 2) AS DECIMAL(18,2)) AS cos
FROM ver WHERE c >= {_X13_TAU} ORDER BY da, db, cos""",
    f""", deg AS (
  SELECT src, CAST(COUNT(*) AS BIGINT) AS degree
  FROM (SELECT da AS src FROM ver WHERE c >= {_X13_TAU}
        UNION ALL
        SELECT db AS src FROM ver WHERE c >= {_X13_TAU}) sym
  GROUP BY src)
SELECT e.vec_id, COALESCE(deg.degree, 0) AS degree,
       COALESCE(deg.degree, 0) <= {_X46B_DMAX} AS kept
FROM embeddings e LEFT JOIN deg ON deg.src = e.vec_id
ORDER BY e.vec_id""",
)


@register("x46b_density_downsample", _X46B_ORACLE)
def x46b_density_downsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X46b degree-threshold diversity downsample: graph degree (number
    of verified neighbors at cosine >= 0.4) as a density score; vectors
    in dense near-dup regions (degree > 1) are dropped, sparse-region
    vectors kept — an auditable decision table with every vector's
    degree and kept flag.  The graph-flavored cousin of x12's
    cluster-then-prune: no clustering step, degree IS the density."""
    emb = load(spark, sf_dir, "embeddings")
    hp = emb.filter(F.col("vec_id") < _X13_H).select(
        F.col("vec_id").alias("h"), F.col("embedding").alias("hv")
    )
    pairs = barrier(srp_neardup_pairs(emb, hp))
    sym = pairs.select(F.col("da").alias("src")).unionByName(
        pairs.select(F.col("db").alias("src"))
    )
    deg = sym.groupBy("src").agg(F.count(F.lit(1)).cast("long").alias("degree"))
    return (
        emb.select("vec_id")
        .join(deg, emb.vec_id == deg.src, "left")
        .select(
            "vec_id",
            F.coalesce("degree", F.lit(0).cast("long")).alias("degree"),
            (F.coalesce("degree", F.lit(0).cast("long")) <= _X46B_DMAX).alias(
                "kept"
            ),
        )
        .orderBy("vec_id")
    )


_X46C_ORACLE = _X13C_ORACLE.replace(
    f"""SELECT da, db, CAST(ROUND(c, 2) AS DECIMAL(18,2)) AS cos
FROM ver WHERE c >= {_X13_TAU} ORDER BY da, db, cos""",
    f"""SELECT src, nbr, rank, CAST(ROUND(c, 2) AS DECIMAL(18,2)) AS cos
FROM (
  SELECT src, nbr, c,
         CAST(ROW_NUMBER() OVER (PARTITION BY src ORDER BY c DESC, nbr)
              AS BIGINT) AS rank
  FROM (SELECT da AS src, db AS nbr, c FROM ver WHERE c >= {_X13_TAU}
        UNION ALL
        SELECT db AS src, da AS nbr, c FROM ver WHERE c >= {_X13_TAU}) sym
) rk WHERE rank <= {_X46_K} ORDER BY src, rank""",
)


@register("x46c_knn_graph_auto", _X46C_ORACLE)
def x46c_knn_graph_auto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X46c kNN graph with the PRODUCTION auto-sized SRP config
    (VERDICT r13 item 4): the x13c bits-per-band rule (2^bits ≈ N/64,
    pure integer arithmetic transcribed into the oracle) feeds the same
    symmetrize + WindowGroupLimit top-k as x46 — the x13→x13c
    production twin the ANN family was missing.  x46's pinned-config
    row stays as the oracle-twin regression tripwire (15.0x at sf1 vs
    this config's 2.4x, SCALING.md)."""
    emb = load(spark, sf_dir, "embeddings")
    return (
        knn_graph(emb, None)
        .select("src", "nbr", "rank", r2d(F.col("c")).alias("cos"))
        .orderBy("src", "rank")
    )


# ---------------------------------------------------------------------------
# x50 — semantic decontamination (embedding-level benchmark leakage gate)
# ---------------------------------------------------------------------------
#
# The EMBEDDING half of the decontamination family: x09/x44 catch
# verbatim n-gram/passage leakage, but a paraphrased or
# lightly-reworded benchmark item shares no 16-word window with its
# source — it shares an embedding neighborhood.  x50 flags every train
# vector whose max cosine against the HELD-OUT set reaches tau: the
# "remove anything semantically too close to the eval set" pass
# production pipelines run beside the lexical gate.
#
# Scale shape: the held-out frame is BROADCAST and the scan is one pass
# over the train side (a broadcast nested loop — the declared probe
# shape, exactly x03's brute-force tier) because benchmark sets are
# thousands of rows against a 100 TB corpus; when the held-out side
# grows past broadcast size, the SRP/IVF candidate tiers (x13/x03c)
# bound the pair space first and x50's exact verify runs on candidates
# only — the same cascade as the dedup family.  Output is the full
# auditable decision table (every train vector, its max held-out
# cosine, the flag), never a silent filter.

_X50_TAU = 0.4        # contamination threshold (cosine) — the family operating point (x12/x13)
_X50_TEST_MOD = 10    # vec_id % 10 == 0 -> held-out set (10%)

_X50_ORACLE = f"""
WITH test AS (
  SELECT vec_id AS tid, embedding AS te FROM embeddings
  WHERE vec_id % {_X50_TEST_MOD} = 0),
train AS (
  SELECT vec_id, embedding FROM embeddings
  WHERE vec_id % {_X50_TEST_MOD} <> 0),
scored AS (
  SELECT t.vec_id, MAX({_cosine_duck('t.embedding', 's.te')}) AS mc
  FROM train t CROSS JOIN test s GROUP BY t.vec_id)
SELECT vec_id, CAST(ROUND(mc, 2) AS DECIMAL(18,2)) AS max_test_cos,
       mc >= {_X50_TAU} AS contaminated
FROM scored ORDER BY vec_id"""


@register("x50_semantic_decontam", _X50_ORACLE)
def x50_semantic_decontam(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X50 semantic decontamination: every train vector (vec_id % 10
    != 0) scored by its MAX cosine against the held-out 10%, flagged at
    cos >= 0.4 — the embedding-side leakage gate beside the lexical
    x09/x44 passes (paraphrases share neighborhoods, not n-grams).
    Held-out frame broadcast, one train-side pass; at scale the
    x13/x03c candidate tiers bound the pair space first."""
    emb = load(spark, sf_dir, "embeddings")
    test = emb.filter(F.col("vec_id") % _X50_TEST_MOD == 0).select(
        F.col("embedding").alias("te"),
        _norm_expr("embedding").alias("tn"),
    )
    # an empty held-out frame would make the inner broadcast join yield
    # an empty decision table — every train vector silently disappears
    # instead of being marked uncontaminated.  Refuse loudly, matching
    # the x45/x47/x48 empty-input guards (ADVICE r7).  The count is one
    # O(held-out) job on a frame that is broadcast anyway.
    if test.limit(1).count() == 0:
        raise ValueError(
            "x50_semantic_decontam: held-out set is empty (no vec_id % "
            f"{_X50_TEST_MOD} == 0 rows); a decontamination pass against "
            "nothing would drop every train vector silently"
        )
    train = widen_for_cpu(
        emb.filter(F.col("vec_id") % _X50_TEST_MOD != 0), "vec_id"
    ).select("vec_id", "embedding", _norm_expr("embedding").alias("n"))
    mc = F.max(_cosine_with_norms("embedding", "te", "n", "tn")).alias("mc")
    scored = train.join(F.broadcast(test)).groupBy("vec_id").agg(mc)
    return scored.select(
        "vec_id",
        r2d(F.col("mc")).alias("max_test_cos"),
        (F.col("mc") >= _X50_TAU).alias("contaminated"),
    ).orderBy("vec_id")


# ---------------------------------------------------------------------------
# x53: LSH bucket-population audit (the guardrail that sizes the knobs)
# ---------------------------------------------------------------------------
#
# The whole SRP/MinHash family's scaling behavior is a function of ONE
# distribution — bucket populations: candidate pairs per band are
# sum(c*(c-1)/2) over its buckets, which is exactly the term that blew
# the pinned-bits config to 23x-on-10x-data at the sf1 probe while the
# auto-sized config stayed 1.9x (SCALING.md).  x53 measures that term
# BEFORE the pair join runs: per band, the bucket count, the hottest
# bucket, the exact candidate-pair count, and the hottest bucket's
# milli share of the corpus.  Reading this table is how an operator
# decides bits-per-band are too few without paying the quadratic join
# to find out.
#
# Scale: signatures are the same map-only pass x13 runs; everything
# after is partial-aggregated at (band, key) grain (skew-immune — the
# hot bucket collapses map-side) and the output is `bands` rows.

_X53_ORACLE = f"""
WITH hp AS (
  SELECT vec_id AS h, embedding AS hv FROM embeddings WHERE vec_id < {_X13_H}
), bits AS (
  SELECT e.vec_id, h.h // {_X13_BITS} AS band,
         SUM(CASE WHEN {_DOT_DUCK.format(a='e.embedding', b='h.hv')} >= 0
                  THEN 1 << (h.h % {_X13_BITS}) ELSE 0 END) AS key
  FROM embeddings e CROSS JOIN hp h GROUP BY e.vec_id, h.h // {_X13_BITS}
), bk AS (
  SELECT band, key, CAST(COUNT(*) AS BIGINT) AS c
  FROM bits GROUP BY band, key
)
SELECT CAST(band AS BIGINT) AS band,
       CAST(COUNT(*) AS BIGINT) AS n_buckets,
       CAST(MAX(c) AS BIGINT) AS max_bucket,
       CAST(SUM(c * (c - 1) // 2) AS BIGINT) AS cand_pairs,
       CAST(1000 * MAX(c) // SUM(c) AS BIGINT) AS top_share_milli
FROM bk
GROUP BY band
ORDER BY band, n_buckets, max_bucket, cand_pairs, top_share_milli"""


def bucket_audit_from_cells(cells: DataFrame) -> DataFrame:
    """The per-band audit served from ``(band, key, c)`` bucket cells —
    batch- or stream-built (S20): bucket count, hottest bucket, exact
    candidate-pair count sum(c*(c-1)/2), and the hottest bucket's milli
    share.  Every vector lands in exactly one bucket per band, so the
    per-band cell sum IS the corpus count — no separate total needed,
    and a streamed additive state (bucket counts merge by addition, the
    CMS argument) serves the identical table.  This is THE post-cells
    audit — x53's registered entry delegates here, so the oracle-checked
    batch table and the live-served one cannot diverge (the x48/S18
    drift_from_cells contract)."""
    return cells.groupBy(F.col("band").cast("long").alias("band")).agg(
        F.count(F.lit(1)).cast("long").alias("n_buckets"),
        F.max("c").cast("long").alias("max_bucket"),
        F.sum(F.expr("c * (c - 1) div 2")).cast("long").alias("cand_pairs"),
        F.expr("1000 * max(c) div sum(c)").cast("long").alias(
            "top_share_milli"
        ),
    )


def srp_bucket_cells(sig: DataFrame) -> DataFrame:
    """(band, key, c): the additive bucket-population cells of an SRP
    signature frame — the sufficient statistic of the x53 audit and the
    S20 streamed state's grain."""
    return sig.groupBy("band", "key").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )


def lsh_bucket_audit(sig: DataFrame) -> DataFrame:
    """Per-band bucket-population audit over an SRP signature frame
    ``(vec_id, band, key)`` — cells + the shared from-cells audit."""
    return bucket_audit_from_cells(srp_bucket_cells(sig))


@register("x53_lsh_bucket_audit", _X53_ORACLE)
def x53_lsh_bucket_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X53 LSH bucket audit at x13's pinned SRP config — the table that
    says (via cand_pairs / top_share_milli) when pinned bits are too
    few for the corpus, before any pair join is paid."""
    emb = load(spark, sf_dir, "embeddings")
    hp = emb.filter(F.col("vec_id") < _X13_H).select(
        F.col("vec_id").alias("h"), F.col("embedding").alias("hv")
    )
    return lsh_bucket_audit(srp_signatures(emb, hp)).orderBy(
        "band", "n_buckets", "max_bucket", "cand_pairs", "top_share_milli"
    )


# -- x80: label separation audit (Fisher-style, sufficient statistics) -------
#
# The GEOMETRY pre-flight for everything that trusts labels in
# embedding space (x31 centroids, x32 prototypes, x36 NCM inference,
# S16's streamed centroid state): are the label clusters actually
# separable, or is NCM about to classify noise?  Per label, the
# within-cluster scatter (mean squared distance to own centroid) and
# the between term (squared distance of the label centroid to the
# global centroid), plus their Fisher-style ratio in exact integer
# millis.  Labels whose ratio ~ 0 sit inside the global blob —
# pseudo-labeling on them is wishful thinking.
#
# Everything derives from the (label, dim) sufficient statistics
# (Σ em, Σ em², n) — ONE partial-agg'd corpus pass at O(labels x dims)
# state, the x31 milli discipline (floor(v*1000) vectors,
# floor-division centroids), so the audit of the float structure is
# itself hash-exact.  within = Σ_d (s2 - 2·c·s1 + n·c²) div n uses the
# INTEGER centroid c, identically in both engines — no FP anywhere.

_X80_ORACLE = """
WITH ex AS (
  SELECT label,
         CAST(FLOOR(CAST(unnest(embedding) AS DOUBLE)*1000) AS BIGINT) AS em,
         generate_subscripts(embedding, 1) - 1 AS dim
  FROM embeddings),
per AS (
  SELECT label, dim, CAST(SUM(em) AS BIGINT) AS s1,
         CAST(SUM(em*em) AS BIGINT) AS s2,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM ex GROUP BY label, dim),
gl AS (
  SELECT dim, CAST(FLOOR(CAST(SUM(em) AS DOUBLE)/COUNT(*)) AS BIGINT) AS g
  FROM ex GROUP BY dim),
lc AS (
  SELECT p.label, p.dim, p.s1, p.s2, p.n,
         CAST(FLOOR(CAST(p.s1 AS DOUBLE)/p.n) AS BIGINT) AS c, g.g
  FROM per p JOIN gl g ON p.dim = g.dim),
agg AS (
  SELECT label, CAST(MAX(n) AS BIGINT) AS n_vectors,
         CAST(SUM(s2 - 2*c*s1 + n*c*c) // MAX(n) AS BIGINT)
             AS within_mmicro,
         CAST(SUM((c - g)*(c - g)) AS BIGINT) AS sep_mmicro
  FROM lc GROUP BY label)
SELECT label, n_vectors, within_mmicro, sep_mmicro,
       CAST(CASE WHEN within_mmicro = 0 THEN NULL
            ELSE 1000 * sep_mmicro // within_mmicro END AS BIGINT)
           AS fisher_milli
FROM agg ORDER BY label, n_vectors, within_mmicro, sep_mmicro,
         fisher_milli"""


def label_separation(
    emb: DataFrame, label_col: str = "label", vec_col: str = "embedding"
) -> DataFrame:
    """(label, n_vectors, within_mmicro, sep_mmicro, fisher_milli):
    within-cluster scatter vs centroid-to-global separation per label,
    all from one (label, dim) sufficient-statistic pass in exact
    integer milli arithmetic."""
    ex = emb.select(
        label_col, F.posexplode(_milli_expr(vec_col)).alias("dim", "em")
    )
    ex = barrier(ex, eager=False)  # feeds the per-label AND global aggs
    per = ex.groupBy(label_col, "dim").agg(
        F.sum("em").cast("long").alias("s1"),
        F.sum(F.col("em") * F.col("em")).cast("long").alias("s2"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )
    gl = (
        ex.groupBy("dim")
        .agg(
            F.floor(
                F.sum("em").cast("double") / F.count(F.lit(1))
            ).cast("long").alias("g")
        )
    )
    lc = per.select(
        label_col,
        "dim",
        "s1",
        "s2",
        "n",
        F.floor(F.col("s1").cast("double") / F.col("n"))
        .cast("long")
        .alias("c"),
    ).join(F.broadcast(gl), "dim")
    agg = lc.groupBy(label_col).agg(
        F.max("n").cast("long").alias("n_vectors"),
        F.expr("sum(s2 - 2*c*s1 + n*c*c) div max(n)")
        .cast("long")
        .alias("within_mmicro"),
        F.sum((F.col("c") - F.col("g")) * (F.col("c") - F.col("g")))
        .cast("long")
        .alias("sep_mmicro"),
    )
    return agg.select(
        label_col,
        "n_vectors",
        "within_mmicro",
        "sep_mmicro",
        F.expr(
            "case when within_mmicro = 0 then null"
            " else 1000 * sep_mmicro div within_mmicro end"
        ).cast("long").alias("fisher_milli"),
    )


@register("x80_label_separation", _X80_ORACLE)
def x80_label_separation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X80 label-geometry audit: per-label within-scatter, separation
    from the global centroid, and their Fisher-style milli ratio — read
    before trusting x36 NCM inference or x31-centroid pseudo-labeling.
    One sufficient-statistic pass, O(labels x dims) state, hash-exact
    integer arithmetic end to end."""
    return label_separation(load(spark, sf_dir, "embeddings")).orderBy(
        "label", "n_vectors", "within_mmicro", "sep_mmicro", "fisher_milli"
    )
