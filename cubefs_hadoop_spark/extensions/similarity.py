"""Similarity search over embeddings (SURVEY §2C X03).

Three tiers, mirroring how a 100 TB vector pipeline actually runs:
- brute-force cosine top-k (x03): exact baseline.  The small query set is
  broadcast; the corpus streams through executors once; cosine is computed
  JVM-side with array higher-order functions (zip_with + aggregate) — no
  Python in the loop.  Per-query top-k via window rank.
- threshold near-dup pairs (x03b): all-pairs above a cosine threshold on a
  bounded candidate set — the verify stage after any ANN/LSH filter.
- IVF-style partitioned ANN (ivf_topk): corpus bucketed by nearest of C
  seeded centroids; queries probe the nprobe nearest buckets.  This is the
  scale path: a 1000x corpus only grows bucket size, not query fan-out.
  Approximate -> validated engine-side by recall against x03 (tests), not
  by the SQL oracle.

Background: REPOSE (ICDE'21) and Odyssey (VLDB'23) in PAPERS.md — both
distribute exact verification after a cheap partition-level filter; the
IVF layout here is the same idea expressed as a Spark bucket join.
"""

from __future__ import annotations

import math
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from cubefs_hadoop_spark.catalog import load
from cubefs_hadoop_spark.plans.parallelism import widen_for_cpu
from cubefs_hadoop_spark.registry import register
from cubefs_hadoop_spark.oracle_compat import r2d

# dot(a,b) via zip_with + aggregate, double accumulation, JVM-side.
_DOT = (
    "aggregate(zip_with({a}, {b}, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),"
    " CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
)

# Vector width the codegen dot unrolls over (the corpus embedding width at
# every fixture SF).  Any other width falls through the CASE guard to the
# aggregate form, so the VALUE never depends on this constant — only which
# of two bit-identical evaluation strategies runs.
_UNROLL_DIM = 64


def _dot_seq(a: str, b: str) -> str:
    """Sequential dot, whole-stage-codegen form.

    zip_with/aggregate are CodegenFallback expressions — every cosine used
    to run interpreted, allocating the zipped array per pair.  Unrolling
    the identical op sequence (acc = 0.0; acc = acc + a[i]*b[i], left to
    right) over _UNROLL_DIM 0-based subscripts compiles into the stage's
    generated code with no allocation.  The leading ``0.0 +`` keeps even
    the -0.0 corner bit-equal to the aggregate form; rows whose arrays are
    not exactly _UNROLL_DIM wide (e.g. x59's truncated prefixes) take the
    ELSE branch, which IS the aggregate form — so this is bit-identical to
    _DOT at every width by construction (verified pairwise on all 1,999,000
    sf0.1 embedding pairs and by the oracle hash gate at 3 SFs)."""
    terms = " + ".join(
        f"CAST(({a})[{i}] AS DOUBLE) * CAST(({b})[{i}] AS DOUBLE)"
        for i in range(_UNROLL_DIM)
    )
    return (
        f"CASE WHEN size({a}) = {_UNROLL_DIM} AND size({b}) = {_UNROLL_DIM}"
        f" THEN CAST(0.0 AS DOUBLE) + {terms}"
        f" ELSE {_DOT.format(a=a, b=b)} END"
    )


def _dot_form(a: str, b: str, unroll: bool) -> str:
    return _dot_seq(a, b) if unroll else _DOT.format(a=a, b=b)


def _cosine_expr(a: str, b: str, unroll: bool = False) -> F.Column:
    """Inline cosine: dot / (sqrt(aa) * sqrt(bb)).

    FP-contract with _cosine_with_norms (ADVICE r03): both MUST evaluate
    the identical op sequence ``dot / (sqrt(aa) * sqrt(bb))`` — x03d's
    bit-exact oracle hash depends on the full-probe IVF path (this expr)
    agreeing with x03's precomputed-norm path to the last ulp.  If either
    helper is refactored (norm caching, fused multiply, reassociation),
    keep the op sequence identical or re-verify both driver hashes.

    ``unroll`` picks between two bit-identical dot strategies (the value
    NEVER depends on it): the compact aggregate form (default) or the
    codegen _dot_seq form.  Measured per call site with interleaved A/B
    at sf0.1: unrolling wins only on x12's cluster-prune path (1.17x,
    where the in-cluster pair filter is the hot loop) and is
    neutral-to-negative on the broadcast/IVF paths (x03 0.88x, x03c
    0.73x, x13 0.78x, x56b 0.84x — the giant generated methods trade
    JIT-compiled quality for size), so it is opt-in per call site."""
    dot = _dot_form(a, b, unroll)
    na = _dot_form(a, a, unroll)
    nb = _dot_form(b, b, unroll)
    return F.expr(f"{dot} / (sqrt({na}) * sqrt({nb}))")


def _norm_expr(a: str, unroll: bool = False) -> F.Column:
    """sqrt(dot(a,a)) — precomputed once per vector so pairwise cosine
    needs ONE dot product instead of three (norms are join-invariant;
    recomputing them per pair multiplies the hot-loop FLOPs by 3)."""
    return F.expr(f"sqrt({_dot_form(a, a, unroll)})")


def _cosine_with_norms(
    a: str, b: str, na: str, nb: str, unroll: bool = False
) -> F.Column:
    """Cosine with precomputed norms — na/nb are sqrt(dot(x,x)) columns,
    so the evaluated op sequence is dot / (sqrt(aa) * sqrt(bb)): bit-equal
    to _cosine_expr by construction.  See the FP-contract note there."""
    return F.expr(f"{_dot_form(a, b, unroll)} / ({na} * {nb})")


# DuckDB twin of the same formula (sequential double accumulation in both
# engines -> bit-identical before rounding).
_DOT_DUCK = (
    "list_sum(list_transform(list_zip(CAST({a} AS DOUBLE[]), CAST({b} AS DOUBLE[])),"
    " p -> p[1] * p[2]))"
)


def _cosine_duck(a: str, b: str) -> str:
    dot = _DOT_DUCK.format(a=a, b=b)
    na = _DOT_DUCK.format(a=a, b=a)
    nb = _DOT_DUCK.format(a=b, b=b)
    return f"{dot} / (sqrt({na}) * sqrt({nb}))"


# Exact top-5-per-query oracle — shared by x03 (brute force) and x03d
# (IVF with a full probe, which must degenerate to the same exact answer).
_X03_ORACLE = f"""SELECT q_id, n_id, CAST(ROUND(c, 2) AS DECIMAL(18,2)) AS cos FROM (
          SELECT a.vec_id AS q_id, b.vec_id AS n_id,
                 {_cosine_duck('a.embedding', 'b.embedding')} AS c,
                 ROW_NUMBER() OVER (PARTITION BY a.vec_id
                     ORDER BY {_cosine_duck('a.embedding', 'b.embedding')} DESC,
                              b.vec_id) AS rn
          FROM embeddings a JOIN embeddings b ON b.vec_id <> a.vec_id
          WHERE a.vec_id < 5)
        WHERE rn <= 5 ORDER BY q_id, n_id, cos"""


@register("x03_topk_cosine", _X03_ORACLE)
def x03_topk_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X03 brute-force cosine top-5 for 5 query vectors.  Queries broadcast;
    corpus scanned once; WindowGroupLimit keeps only 5 rows per query on
    each map side before the final shuffle."""
    emb = load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"),
        F.col("embedding").alias("q_emb"),
        _norm_expr("embedding").alias("q_n"),
    )
    corpus = widen_for_cpu(emb, "vec_id").select(
        F.col("vec_id").alias("n_id"),
        F.col("embedding").alias("n_emb"),
        _norm_expr("embedding").alias("n_n"),
    )
    w = Window.partitionBy("q_id").orderBy(F.col("c").desc(), "n_id")
    return (
        F.broadcast(queries)
        .crossJoin(corpus)
        .filter(F.col("n_id") != F.col("q_id"))
        .withColumn("c", _cosine_with_norms("q_emb", "n_emb", "q_n", "n_n"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select("q_id", "n_id", r2d(F.col("c")).alias("cos"))
        .orderBy("q_id", "n_id", "cos")
    )


@register(
    "x03b_embedding_neardup",
    f"""SELECT da, db, CAST(ROUND(c, 2) AS DECIMAL(18,2)) AS cos FROM (
          SELECT a.vec_id AS da, b.vec_id AS db,
                 {_cosine_duck('a.embedding', 'b.embedding')} AS c
          FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
          WHERE a.vec_id < 300 AND b.vec_id < 300)
        WHERE c > 0.35 ORDER BY da, db, cos""",
)
def x03b_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X03b embedding near-dup pairs (cos > 0.35) on a bounded candidate
    set — the exact-verify stage that follows an ANN/LSH candidate filter
    in production (never run unfiltered at 100 TB)."""
    emb = load(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 300)
    a = widen_for_cpu(emb, "vec_id").select(
        F.col("vec_id").alias("da"),
        F.col("embedding").alias("ea"),
        _norm_expr("embedding").alias("na"),
    )
    b = emb.select(
        F.col("vec_id").alias("db"),
        F.col("embedding").alias("eb"),
        _norm_expr("embedding").alias("nb"),
    )
    return (
        a.join(F.broadcast(b), F.col("da") < F.col("db"))
        .withColumn("c", _cosine_with_norms("ea", "eb", "na", "nb"))
        .filter(F.col("c") > 0.35)
        .select("da", "db", r2d(F.col("c")).alias("cos"))
        .orderBy("da", "db", "cos")
    )


# ---------------------------------------------------------------------------
# IVF-style ANN (scale path; engine-validated by recall, not by the oracle)
# ---------------------------------------------------------------------------


def auto_centroid_count(
    emb: DataFrame, floor: int = 8, min_bucket: int = 64
) -> int:
    """The SemDeDup/IVF C ∝ √N sizing rule as a default (VERDICT r6
    item 8; SCALE.md "Semantic dedup & SRP-LSH"): C = ⌈√N⌉ clamped to
    [floor, N/min_bucket], from one cheap count.

    Why √N: the in-cluster pair space of a cluster-quadratic stage
    (SemDeDup prune, IVF bucket scan) is Σ|cluster|² ≈ N²/C, so growing
    C with √N keeps expected pairs — and per-bucket probe cost — LINEAR
    in N instead of quadratic (the SemDeDup paper runs C=100k on
    LAION-scale corpora for the same reason).

    Why the N/min_bucket cap: at tiny N, ⌈√N⌉ produces buckets too
    small for a top-k answer set and recall collapses on near-uniform
    data (measured at the sf0.001 fixture: aggregate 0.72 at N=500/C=20
    vs green at C=8 — uniform embeddings are IVF's documented worst
    case, SCALE.md).  Capping C so the expected bucket holds >=
    min_bucket vectors keeps the small-N regime at the pinned config
    (the same floor FAISS's training guidance imposes: tens of vectors
    per centroid minimum), while the √N term takes over for every real
    corpus — at the 10x sf1 probe (N=20k, C=142, nprobe=12, clustered
    replicas) measured recall is 1.0 aggregate AND per-query.  The count is a
    metadata-cheap aggregate (parquet row-group counts); the resulting
    centroid frame stays driver-sized at any realistic corpus (√(10¹²)
    = 1M rows of C — at that extreme, shard the centroid set and this
    helper's caller switches to a coarse-quantized two-level index)."""
    n = emb.count()
    c = math.isqrt(max(n, 1) - 1) + 1  # ceil(sqrt(n))
    return max(int(floor), min(c, max(int(floor), n // int(min_bucket))))


def auto_nprobe(n_centroids: int, floor: int = 4) -> int:
    """nprobe companion to the √N centroid rule: probe ⌈√C⌉ buckets
    (floor 4).  With C = √N this keeps candidates ≈ replication · N/√N ·
    √C — strongly sublinear — while the probed FRACTION no longer
    collapses as C grows (fixed nprobe=4 at C=142 probes 2.8% of the
    corpus and loses the boundary neighbors multi-assignment exists to
    catch)."""
    return max(int(floor), math.isqrt(max(n_centroids, 1) - 1) + 1)


def resolve_centroid_count(emb: DataFrame, n_centroids: "int | str") -> int:
    """Resolve an ``n_centroids`` argument: an int passes through;
    ``"auto"`` applies :func:`auto_centroid_count`."""
    if n_centroids == "auto":
        return auto_centroid_count(emb)
    if n_centroids < 1:
        raise ValueError(f"n_centroids must be >= 1, got {n_centroids}")
    return n_centroids


def _centroid_selection(emb: DataFrame, n_centroids: int) -> DataFrame:
    """Top-C rows by seeded hash, planned as TakeOrderedAndProject (local
    per-task top-C heaps + driver merge) — no global window, no single
    partition anywhere (gated by tests/test_plan_quality.py)."""
    return (
        emb.select(
            "embedding", F.xxhash64(F.col("vec_id"), F.lit(42)).alias("h"), "vec_id"
        )
        .orderBy("h", "vec_id")
        .limit(n_centroids)
    )


def _seeded_centroids(emb: DataFrame, n_centroids: int) -> DataFrame:
    """Deterministic 'training-free' centroids: the first n_centroids
    vectors by a seeded hash order.  (A production build would k-means
    these; selection strategy is orthogonal to the bucketing plan.)

    Scale note (round-2 fix): selection is ``orderBy(hash).limit(C)``, which
    Spark plans as TakeOrderedAndProject — each task keeps its local top-C
    and the driver merges C-sized heaps.  The round-1 version used
    ``row_number over Window.orderBy(hash)`` with no partitionBy, which
    forces the ENTIRE corpus through one task at 100 TB.  The centroid set
    is driver-sized by definition (C rows), so collecting it and rebuilding
    a tiny DataFrame for the broadcast join is the correct topology.
    """
    rows = _centroid_selection(emb, n_centroids).collect()
    emb_type = emb.schema["embedding"].dataType
    schema = T.StructType(
        [
            T.StructField("cid", T.IntegerType(), False),
            T.StructField("cent", emb_type, False),
        ]
    )
    data = [(i + 1, r["embedding"]) for i, r in enumerate(rows)]
    return emb.sparkSession.createDataFrame(data, schema)


def seeded_centroids(emb: DataFrame, n_centroids: "int | str" = "auto") -> DataFrame:
    """Public centroid builder with auto-sizing: resolve ``n_centroids``
    (int or "auto") and return the (cid, cent) frame.  SemDeDup callers
    feed this straight into ``semantic.semantic_dedup``; IVF callers into
    ``kmeans_refine``."""
    return _seeded_centroids(emb, resolve_centroid_count(emb, n_centroids))


def kmeans_refine(
    emb: DataFrame, centroids: DataFrame, sweeps: int = 1
) -> DataFrame:
    """Lloyd refinement of the seeded centroids: assign every vector to
    its nearest centroid (cosine), replace each centroid with its
    cluster's mean, repeat.  Each sweep is one corpus pass (broadcast
    assign) plus a (cid, dim) shuffle of n*d scalar rows — fully
    distributed, no driver math beyond the C-row centroid rebuild.

    Cosine ranking is scale-invariant in the centroid, so the mean is
    used un-normalized (spherical k-means without the renorm step).
    Empty clusters keep their previous centroid.  Scale note: at 100 TB
    the refinement would run over a corpus SAMPLE (centroid quality needs
    bounded data; .sample(0.001) upstream), while assignment of the full
    corpus stays one broadcast pass — same plan shapes as here."""
    emb_type = emb.schema["embedding"].dataType
    elem = emb_type.elementType.simpleString()
    spark = emb.sparkSession
    for _ in range(max(sweeps, 0)):
        assigned = ivf_assign(emb, centroids)
        means = (
            assigned.select(
                "cid", F.posexplode("embedding").alias("pos", "v")
            )
            .groupBy("cid", "pos")
            .agg(F.avg("v").alias("m"))
            .groupBy("cid")
            .agg(
                F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("pm")
            )
            .select(
                "cid",
                F.expr(f"transform(pm, x -> CAST(x.m AS {elem}))").alias(
                    "mean"
                ),
            )
        )
        rows = (
            centroids.withColumnRenamed("cent", "old")
            .join(means, "cid", "left")
            .select("cid", F.coalesce("mean", "old").alias("cent"))
            .collect()
        )
        centroids = spark.createDataFrame(
            [(r["cid"], r["cent"]) for r in rows],
            T.StructType(
                [
                    T.StructField("cid", T.IntegerType(), False),
                    T.StructField("cent", emb_type, False),
                ]
            ),
        )
    return centroids


def _nearest_centroids(
    pts: DataFrame, cents: DataFrame, key: str, vec: str, r: int, cid: str = "cid"
) -> DataFrame:
    """The ``r`` nearest centroids of every ``key`` row of ``pts`` by
    cosine (ties -> lowest ``cid``): ``cents`` (``cid``, cent) broadcast
    into a cross join, one per-key rank kept by WindowGroupLimit.  Every
    IVF/SemDeDup assignment and probe ranks through here.  Callers
    choose how ``pts`` is distributed (``widen_for_cpu`` or a broadcast)
    and select what they need: ``pts``' columns, ``cid``, ``cent`` and
    ``d`` all ride along."""
    w = Window.partitionBy(key).orderBy(F.col("d").desc(), cid)
    return (
        pts.crossJoin(F.broadcast(cents))
        .withColumn("d", _cosine_expr(vec, "cent"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= r)
    )


def ivf_assign(
    emb: DataFrame, centroids: DataFrame, replication: int = 1
) -> DataFrame:
    """Assign every vector to its ``replication`` nearest centroids (one
    broadcast pass).  Output: (vec_id, embedding, cid) — at scale, write
    this partitioned by cid so probes prune files (partition pruning on
    the bucket column).

    ``replication > 1`` is IVF multi-assignment (the spill-tree /
    SOAR-style boundary fix): a vector that sits BETWEEN two centroids is
    findable through either bucket, which is what lifts recall on weakly
    clustered (near-uniform) corpora where Lloyd sweeps alone plateau —
    index size grows by the replication factor, probe cost per query is
    unchanged."""
    return _nearest_centroids(
        widen_for_cpu(emb, "vec_id"), centroids, "vec_id", "embedding", replication
    ).select("vec_id", "embedding", "cid")


def _query_vectors(
    emb: DataFrame, n_queries: int, vec: str = "embedding"
) -> DataFrame:
    """(q_id, q_emb): the first ``n_queries`` vectors as the query set."""
    return emb.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("q_id"), F.col(vec).alias("q_emb")
    )


def _ivf_probe_topk(
    queries: DataFrame,
    cents: DataFrame,
    k: int,
    nprobe: int,
    assigned: DataFrame | Callable[[list[int]], DataFrame],
) -> DataFrame:
    """Probe, score and rank: each query visits its ``nprobe`` nearest
    centroid buckets, candidates dedupe on (q_id, vec_id), exact cosine
    ranks them, top ``k`` kept.  ``assigned`` is the (cid, vec_id,
    embedding) assignment frame, or a function from the sorted probed
    cids to it — the persisted index builds its static ``cid IN (...)``
    partition filter from them.

    A multi-assigned vector can surface through several probed buckets,
    hence the dedupe — also what makes a full probe reproduce brute force
    exactly whatever the replication (x03d).  It runs WITHOUT q_emb in
    the shuffle (as wide as ``embedding``, it would double the distinct's
    bytes); the broadcast-small query set is re-attached after."""
    probes = _nearest_centroids(
        F.broadcast(queries), cents, "q_id", "q_emb", nprobe
    ).select("q_id", "cid")
    if callable(assigned):
        assigned = assigned(
            sorted({r.cid for r in probes.select("cid").distinct().collect()})
        )
    wk = Window.partitionBy("q_id").orderBy(F.col("c").desc(), "vec_id")
    cand = (
        probes.join(assigned, "cid")
        .filter(F.col("vec_id") != F.col("q_id"))
        .select("q_id", "vec_id", "embedding")
        .distinct()
        .join(F.broadcast(queries), "q_id")
    )
    return (
        cand.withColumn("c", _cosine_expr("q_emb", "embedding"))
        .withColumn("rk", F.row_number().over(wk))
        .filter(F.col("rk") <= k)
        .select("q_id", F.col("vec_id").alias("n_id"), r2d(F.col("c")).alias("cos"))
    )


def ivf_topk(
    spark: SparkSession,
    sf_dir: str,
    k: int = 5,
    n_queries: int = 5,
    n_centroids: int | str = 8,
    nprobe: int | str = 4,
    kmeans_sweeps: int = 1,
    replication: int = 2,
) -> DataFrame:
    """IVF ANN top-k: queries probe only their nprobe nearest centroid
    buckets; exact cosine within the probed buckets.  Work per query is
    (nprobe/n_centroids) of brute force (times the index replication
    factor in bucket size); recall vs x03 asserted in tests (>= 0.8 at
    nprobe=4/8 with one Lloyd sweep + multi-assignment, VERDICT r04 #3)."""
    emb = load(spark, sf_dir, "embeddings")
    n_centroids = resolve_centroid_count(emb, n_centroids)
    if nprobe == "auto":
        nprobe = auto_nprobe(n_centroids)
    cents = kmeans_refine(
        emb, _seeded_centroids(emb, n_centroids), sweeps=kmeans_sweeps
    )
    assigned = ivf_assign(emb, cents, replication=replication)
    return _ivf_probe_topk(_query_vectors(emb, n_queries), cents, k, nprobe, assigned)


def ivf_build_index(
    spark: SparkSession,
    sf_dir: str,
    index_path: str,
    n_centroids: int | str = 8,
    kmeans_sweeps: int = 1,
    replication: int = 2,
) -> None:
    """Persist the IVF index: assignments written PARTITIONED BY cid (so
    a probe reads only its buckets' files — partition pruning does the
    candidate filtering at the storage layer), centroids as a tiny
    parquet under ``_centroids/`` (underscore-prefixed: invisible to the
    partitioned scan).  This is the at-scale form of ivf_topk's inline
    assignment — build once, probe many."""
    emb = load(spark, sf_dir, "embeddings")
    cents = kmeans_refine(
        emb, seeded_centroids(emb, n_centroids), sweeps=kmeans_sweeps
    )
    # repartition by cid first: each output task holds whole buckets, so
    # the partitioned write emits ONE file per bucket instead of
    # (tasks x buckets) small files — the file-count term that decides
    # listing/open cost at 100 TB
    ivf_assign(emb, cents, replication=replication).repartition(
        "cid"
    ).write.mode("overwrite").partitionBy("cid").parquet(index_path)
    cents.write.mode("overwrite").parquet(index_path + "/_centroids")


def ivf_topk_indexed(
    spark: SparkSession,
    sf_dir: str,
    index_path: str,
    k: int = 5,
    n_queries: int = 5,
    nprobe: int = 4,
) -> DataFrame:
    """ANN top-k against a persisted IVF index (ivf_build_index).

    The probe set (which cids each query visits) is driver-sized by
    construction — at most C rows — so it is collected and pushed as a
    STATIC ``cid IN (...)`` partition filter: the scan reads only the
    probed buckets' files (`PartitionFilters` in the plan, asserted by
    tests), which at 100 TB is the difference between scanning nprobe/C
    of the corpus and scanning all of it.  The per-query bucket
    restriction is then the (broadcast) probe join, and exact cosine +
    top-k runs only inside probed buckets."""
    cents = spark.read.parquet(index_path + "/_centroids")
    queries = _query_vectors(load(spark, sf_dir, "embeddings"), n_queries)
    return _ivf_probe_topk(
        queries,
        cents,
        k,
        nprobe,
        lambda cids: spark.read.parquet(index_path).filter(F.col("cid").isin(cids)),
    )


def _micro(c: F.Column) -> F.Column:
    """round(c * 1e6, 0) as BIGINT, half away from zero (the search.py
    _milli recipe at micro scale) — integer quantization makes the Lloyd
    SUM order-free, so Spark's shuffled partial sums and DuckDB's
    sequential scan produce the IDENTICAL centroid, bit for bit."""
    scaled = c * F.lit(1000000.0)
    sign = F.when(scaled < 0, F.lit(-1)).otherwise(F.lit(1))
    return (sign * F.floor(F.abs(scaled) + F.lit(0.5))).cast("long")


def _md5_seeds(emb: DataFrame, vec: str, n: int) -> list[list[float]]:
    """The first ``n`` vectors of ``vec`` in md5(vec_id-as-string) hex
    order (DuckDB has md5, not xxhash64) — a TakeOrderedAndProject, so
    no global sort; the pinned trainers' seeds."""
    rows = (
        emb.select("vec_id", vec, F.md5(F.col("vec_id").cast("string")).alias("h"))
        .orderBy("h", "vec_id")
        .limit(n)
        .collect()
    )
    return [r[vec] for r in rows]


def _pinned_lloyd(
    seeds: DataFrame, assigned: DataFrame, keys: list[str], vec: str
) -> DataFrame:
    """One order-free Lloyd step: per (keys..., pos) the SUM of
    micro-quantized BIGINTs over ``assigned``, then one double division
    — integer addition commutes, so partial-agg shuffle order cannot
    wobble the mean, and the oracle's sequential sum lands on the same
    bits.  Groups nobody was assigned to keep their seed ``cent``.  The
    result is collected and rebuilt with ``seeds``' schema (driver-sized
    by definition: one row per centroid)."""
    means = (
        assigned.select(*keys, F.posexplode(vec).alias("pos", "v"))
        .withColumn("u", _micro(F.col("v")))
        .groupBy(*keys, "pos")
        .agg(F.sum("u").alias("s"), F.count("*").alias("n"))
        .withColumn(
            "m", F.col("s").cast("double") / F.col("n") / F.lit(1000000.0)
        )
        .groupBy(*keys)
        .agg(F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("pm"))
        .select(*keys, F.expr("transform(pm, x -> x.m)").alias("mean"))
    )
    rows = (
        seeds.join(means, keys, "left")
        .select(*keys, F.coalesce("mean", "cent").alias("cent"))
        .collect()
    )
    return seeds.sparkSession.createDataFrame(rows, seeds.schema)


def _pinned_ivf_assignment(
    spark: SparkSession,
    sf_dir: str,
    n_centroids: int = 8,
    replication: int = 2,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """The bit-deterministic IVF BUILD shared by x03c and x60: md5-order
    seeds, one integer-micro Lloyd sweep, replication-R assignment.
    Returns (emb as doubles, cents, assigned) — see ivf_topk_pinned's
    docstring for the three determinism substitutions."""
    emb = load(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias(
            "embedding"
        ),
    )
    cent_schema = T.StructType(
        [
            T.StructField("cid", T.IntegerType(), False),
            T.StructField("cent", T.ArrayType(T.DoubleType()), False),
        ]
    )
    seeds = spark.createDataFrame(
        list(enumerate(_md5_seeds(emb, "embedding", n_centroids), start=1)),
        cent_schema,
    )
    cents = _pinned_lloyd(
        seeds, ivf_assign(emb, seeds, replication=1), ["cid"], "embedding"
    )
    assigned = ivf_assign(emb, cents, replication=replication)
    return emb, cents, assigned


def ivf_topk_pinned(
    spark: SparkSession,
    sf_dir: str,
    k: int = 5,
    n_queries: int = 5,
    n_centroids: int = 8,
    nprobe: int = 4,
    replication: int = 2,
) -> DataFrame:
    """IVF ANN top-k whose ENTIRE pipeline — seed selection, one Lloyd
    sweep, multi-assignment, probe, per-bucket exact scoring — is
    bit-deterministic and SQL-replicable, so the approximate (nprobe < C)
    result itself hash-checks against a DuckDB oracle (VERDICT r05 #4;
    x03d's full probe only proved the degenerate exact case).

    Three determinism substitutions vs ivf_topk, none changing the plan
    shape or the 100 TB story:
    - seeds: first C vectors by md5 order (``_md5_seeds``) — still
      TakeOrderedAndProject;
    - Lloyd mean: micro-integer sums (``_pinned_lloyd``);
    - every ranking window carries a total-order tiebreak.
    Cosine itself already bit-matches (the _DOT FP-contract above)."""
    emb, cents, assigned = _pinned_ivf_assignment(
        spark, sf_dir, n_centroids=n_centroids, replication=replication
    )
    return _ivf_probe_topk(_query_vectors(emb, n_queries), cents, k, nprobe, assigned)


# The micro-quantized term both engines sum: half away from zero.
_MICRO_DUCK = (
    "CAST(CASE WHEN v < 0 THEN -FLOOR(ABS(v * 1000000.0) + 0.5)"
    " ELSE FLOOR(ABS(v * 1000000.0) + 0.5) END AS BIGINT)"
)

_X03C_ORACLE = f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
           FROM embeddings),
seeds AS (SELECT ROW_NUMBER() OVER (ORDER BY h, vec_id) AS cid, emb AS cent
          FROM (SELECT vec_id, emb, md5(CAST(vec_id AS VARCHAR)) AS h
                FROM e ORDER BY h, vec_id LIMIT 8)),
a0 AS (SELECT vec_id, emb, cid FROM (
         SELECT e.vec_id, e.emb, s.cid,
                ROW_NUMBER() OVER (PARTITION BY e.vec_id
                    ORDER BY {_cosine_duck('e.emb', 's.cent')} DESC,
                             s.cid) AS rn
         FROM e CROSS JOIN seeds s) WHERE rn = 1),
el AS (SELECT cid, generate_subscripts(emb, 1) AS pos, unnest(emb) AS v
       FROM a0),
m AS (SELECT cid, pos, SUM({_MICRO_DUCK}) AS s, COUNT(*) AS n
      FROM el GROUP BY cid, pos),
cent1 AS (SELECT cid, list(CAST(s AS DOUBLE) / n / 1000000.0
                           ORDER BY pos) AS mean
          FROM m GROUP BY cid),
cents AS (SELECT s.cid, COALESCE(c.mean, s.cent) AS cent
          FROM seeds s LEFT JOIN cent1 c USING (cid)),
asg AS (SELECT vec_id, emb, cid FROM (
          SELECT e.vec_id, e.emb, c.cid,
                 ROW_NUMBER() OVER (PARTITION BY e.vec_id
                     ORDER BY {_cosine_duck('e.emb', 'c.cent')} DESC,
                              c.cid) AS rn
          FROM e CROSS JOIN cents c) WHERE rn <= 2),
q AS (SELECT vec_id AS q_id, emb AS q_emb FROM e WHERE vec_id < 5),
probes AS (SELECT q_id, cid FROM (
             SELECT q.q_id, c.cid,
                    ROW_NUMBER() OVER (PARTITION BY q.q_id
                        ORDER BY {_cosine_duck('q.q_emb', 'c.cent')} DESC,
                                 c.cid) AS rn
             FROM q CROSS JOIN cents c) WHERE rn <= 4),
cand AS (SELECT DISTINCT p.q_id, a.vec_id FROM probes p
         JOIN asg a USING (cid) WHERE a.vec_id <> p.q_id),
scored AS (SELECT cand.q_id, cand.vec_id AS n_id,
                  {_cosine_duck('q.q_emb', 'e.emb')} AS c
           FROM cand JOIN q ON q.q_id = cand.q_id
           JOIN e ON e.vec_id = cand.vec_id)
SELECT q_id, n_id, CAST(ROUND(c, 2) AS DECIMAL(18,2)) AS cos FROM (
  SELECT q_id, n_id, c,
         ROW_NUMBER() OVER (PARTITION BY q_id
             ORDER BY c DESC, n_id) AS rk
  FROM scored)
WHERE rk <= 5 ORDER BY q_id, n_id, cos"""


@register("x03c_ivf_ann", _X03C_ORACLE)
def x03c_ivf_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X03c IVF ANN, nprobe=4 of 8 buckets — genuinely approximate, yet
    hash-checked: ivf_topk_pinned's determinism substitutions make the
    probed candidate set and scores bit-reproducible in DuckDB SQL, so
    the driver verifies the APPROXIMATE answer itself (VERDICT r05 #4).
    The recall-vs-exact floor stays engine-side
    (tests/test_extensions.py::test_ivf_recall_vs_bruteforce and
    ::test_pinned_ivf_recall)."""
    return ivf_topk_pinned(spark, sf_dir).orderBy("q_id", "n_id", "cos")


@register("x03d_ivf_full_probe", _X03_ORACLE)
def x03d_ivf_full_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X03d: IVF with nprobe == n_centroids probes every bucket, so the
    bucketed machinery must reproduce the EXACT brute-force top-k — which
    makes the whole IVF pipeline (centroid selection, assignment, probe
    join, per-bucket scoring) hash-checkable against x03's SQL oracle.
    x03c keeps the approximate (nprobe < C) recall gate."""
    return ivf_topk(spark, sf_dir, n_centroids=8, nprobe=8).orderBy(
        "q_id", "n_id", "cos"
    )


# ---------------------------------------------------------------------------
# x60 — IVF list-balance audit (the ANN family's pre-serving pre-flight)
#
# FAISS-style serving economics live or die on LIST BALANCE: a probe
# scans the lists its query routes to, so one overgrown list (a "magnet"
# centroid after a bad Lloyd init, or a corpus mode) turns nprobe-of-C
# pruning back into a near-full scan for every query that touches it,
# and an empty list is wasted routing capacity.  x60 is the x52/x53
# audit-family member for IVF: per centroid, the assignment population,
# its milli share of all assignments, and its load relative to the
# perfectly-balanced mean (1000 = exactly mean; 2000 = a 2x magnet) —
# read BEFORE ivf_build_index persists the layout and before x56's
# residual-PQ tier trains on it.  All-integer outputs, so the audit of
# the approximate structure is itself hash-exact.
#
# Scale (100 TB): the build is x03c's pinned pipeline (broadcast
# assignment — one corpus pass); the audit adds ONE partial-agg'd
# groupBy(cid) whose output is C rows.  Nothing new is corpus-sized.
# ---------------------------------------------------------------------------

_X60_C = 8  # same pinned config as x03c so the audit prices THAT index

_X60_ORACLE = _X03C_ORACLE.split("q AS (")[0] + f"""g AS (
  SELECT cid, CAST(COUNT(*) AS BIGINT) AS pop FROM asg GROUP BY cid),
t AS (SELECT CAST(SUM(pop) AS BIGINT) AS tot FROM g)
SELECT CAST(s.cid AS BIGINT) AS cid,
       COALESCE(g.pop, 0) AS pop,
       COALESCE(g.pop, 0) * 1000 // t.tot AS share_milli,
       COALESCE(g.pop, 0) * {_X60_C} * 1000 // t.tot AS load_vs_mean_milli
FROM seeds s LEFT JOIN g ON s.cid = g.cid CROSS JOIN t
ORDER BY cid"""


def ivf_list_balance(
    cents: DataFrame, assigned: DataFrame, n_centroids: int
) -> DataFrame:
    """(cid, pop, share_milli, load_vs_mean_milli) for every centroid —
    empty lists included (LEFT join against the centroid frame), integer
    milli ratios so the audit hash-checks."""
    g = assigned.groupBy("cid").agg(
        F.count(F.lit(1)).cast("long").alias("pop")
    )
    allc = (
        cents.select("cid")
        .join(g, "cid", "left")
        .select(
            F.col("cid").cast("long").alias("cid"),
            F.coalesce("pop", F.lit(0)).cast("long").alias("pop"),
        )
    )
    tot = allc.agg(F.sum("pop").cast("long").alias("tot"))
    return allc.crossJoin(F.broadcast(tot)).select(
        "cid",
        "pop",
        F.expr("pop * 1000 div tot").alias("share_milli"),
        F.expr(f"pop * {n_centroids} * 1000 div tot").alias(
            "load_vs_mean_milli"
        ),
    )


@register("x60_ivf_list_balance", _X60_ORACLE)
def x60_ivf_list_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X60 IVF list-balance audit over x03c's pinned index build: per
    centroid, assignment population, milli share, and load vs the
    balanced mean — the pre-serving pre-flight that catches magnet/empty
    lists before ivf_build_index persists the layout (x52/x53 family)."""
    _, cents, assigned = _pinned_ivf_assignment(
        spark, sf_dir, n_centroids=_X60_C, replication=2
    )
    return ivf_list_balance(cents, assigned, _X60_C).orderBy("cid")


# ---------------------------------------------------------------------------
# Int8-quantized ANN (the scan-economics scale path)
# ---------------------------------------------------------------------------
#
# At 100 TB of float32/float64 embeddings, the candidate stage is scan- and
# memory-bandwidth-bound.  Symmetric int8 quantization (per-vector scale
# s = 127/max|x|, q_i = floor(x_i*s + 0.5)) cuts candidate-stage bytes 4-8x
# and turns the dot product into exact integer arithmetic — then only the
# top-C candidates per query pay the full-precision re-rank.  Both stages
# are deterministic (integer dot; float ops in a fixed sequence), so unlike
# IVF-with-partial-probe this pipeline is hash-checkable end-to-end: the
# oracle below replicates quantization, candidate ranking, and re-rank.

_QSCALE = (
    "CASE WHEN array_max(transform({a}, v -> abs(v))) > 0 "
    "THEN 127.0D / array_max(transform({a}, v -> abs(v))) ELSE 1.0D END"
)
_QUANT = "transform({a}, v -> CAST(floor(v * {s} + 0.5D) AS BIGINT))"
_IDOT = (
    "aggregate(zip_with({a}, {b}, (x, y) -> x * y), "
    "CAST(0 AS BIGINT), (acc, v) -> acc + v)"
)

_QSCALE_DUCK = (
    "CASE WHEN list_max(list_transform(CAST({a} AS DOUBLE[]), v -> abs(v))) > 0 "
    "THEN 127.0 / list_max(list_transform(CAST({a} AS DOUBLE[]), v -> abs(v))) "
    "ELSE 1.0 END"
)
_QUANT_DUCK = (
    "list_transform(CAST({a} AS DOUBLE[]), v -> CAST(floor(v * {s} + 0.5) AS BIGINT))"
)
_IDOT_DUCK = (
    "list_sum(list_transform(list_zip({a}, {b}), p -> p[1] * p[2]))"
)

_X03E_ORACLE = f"""
WITH q AS (
  SELECT vec_id AS q_id, embedding AS q_emb,
         {_QSCALE_DUCK.format(a='embedding')} AS sa
  FROM embeddings WHERE vec_id < 5
), qq AS (
  SELECT q_id, q_emb, sa, {_QUANT_DUCK.format(a='q_emb', s='sa')} AS q_q FROM q
), c AS (
  SELECT vec_id AS n_id, embedding AS n_emb,
         {_QSCALE_DUCK.format(a='embedding')} AS sb
  FROM embeddings
), cq AS (
  SELECT n_id, n_emb, sb, {_QUANT_DUCK.format(a='n_emb', s='sb')} AS n_q FROM c
), cand AS (
  SELECT q_id, n_id, q_emb, n_emb,
         CAST({_IDOT_DUCK.format(a='q_q', b='n_q')} AS DOUBLE) / (sa * sb) AS approx,
         ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY
             CAST({_IDOT_DUCK.format(a='q_q', b='n_q')} AS DOUBLE) / (sa * sb) DESC,
             n_id) AS rc
  FROM qq JOIN cq ON n_id <> q_id
), rer AS (
  SELECT q_id, n_id,
         {_cosine_duck('q_emb', 'n_emb')} AS cexact,
         ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY
             {_cosine_duck('q_emb', 'n_emb')} DESC, n_id) AS rk
  FROM cand WHERE rc <= 20
)
SELECT q_id, n_id, CAST(ROUND(cexact, 2) AS DECIMAL(18,2)) AS cos
FROM rer WHERE rk <= 5 ORDER BY q_id, n_id, cos"""


def quantize_embeddings(emb: DataFrame, col: str = "embedding") -> DataFrame:
    """Add (q, scale) int8-quantization columns for ``col``.  Map-shaped,
    JVM higher-order functions only — at scale, persist this as the
    compact candidate-stage table (bigint here for exact cross-engine
    arithmetic; a production sink would pack to 1-byte lanes)."""
    return emb.withColumn(
        "q_scale", F.expr(_QSCALE.format(a=col))
    ).withColumn("q_vec", F.expr(_QUANT.format(a=col, s="q_scale")))


@register("x03e_int8_ann", _X03E_ORACLE)
def x03e_int8_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X03e int8-quantized ANN top-5: integer-dot candidate stage (top-20
    per query), full-precision re-rank of the candidates only.  Exactly
    replicated by the DuckDB oracle — quantization included — so the row
    is hash-checked, not rows-only."""
    emb = load(spark, sf_dir, "embeddings")
    queries = quantize_embeddings(
        emb.filter(F.col("vec_id") < 5)
    ).select(
        F.col("vec_id").alias("q_id"),
        F.col("embedding").alias("q_emb"),
        F.col("q_scale").alias("sa"),
        F.col("q_vec").alias("q_q"),
    )
    corpus = quantize_embeddings(widen_for_cpu(emb, "vec_id")).select(
        F.col("vec_id").alias("n_id"),
        F.col("embedding").alias("n_emb"),
        F.col("q_scale").alias("sb"),
        F.col("q_vec").alias("n_q"),
    )
    wc = Window.partitionBy("q_id").orderBy(F.col("approx").desc(), "n_id")
    cand = (
        F.broadcast(queries)
        .crossJoin(corpus)
        .filter(F.col("n_id") != F.col("q_id"))
        .withColumn(
            "approx",
            F.expr(_IDOT.format(a="q_q", b="n_q")).cast("double")
            / (F.col("sa") * F.col("sb")),
        )
        .withColumn("rc", F.row_number().over(wc))
        .filter(F.col("rc") <= 20)
    )
    wk = Window.partitionBy("q_id").orderBy(F.col("cexact").desc(), "n_id")
    return (
        cand.withColumn("cexact", _cosine_expr("q_emb", "n_emb"))
        .withColumn("rk", F.row_number().over(wk))
        .filter(F.col("rk") <= 5)
        .select("q_id", "n_id", r2d(F.col("cexact")).alias("cos"))
        .orderBy("q_id", "n_id", "cos")
    )


# ---------------------------------------------------------------------------
# x41: product quantization (PQ) ANN — compressed-domain ADC scan + exact
# re-rank (Jégou, Douze, Schmid, "Product Quantization for Nearest
# Neighbor Search", IEEE TPAMI 2011).  The third member of the ANN
# family and the one production fleets use for MEMORY: x03 is the exact
# brute-force baseline, x03c/x03e prune WHICH vectors are scored (IVF
# buckets), PQ compresses WHAT is scored — each 64-dim float vector
# (256 B) becomes M=8 one-byte codes (32x), and the query-time scan
# touches only the code table plus a tiny per-query distance table
# (asymmetric distance computation, ADC).
#
# Spark-first shape: the M subspaces are NOT unrolled — one relational
# stream keyed by (vec_id, sub) carries slicing, codebook training
# (md5-ordered seeds + one Lloyd sweep, x03e's bit-deterministic
# recipe: micro-integer sums make the mean order-free), encoding, and
# the ADC scan.  The distance table (n_queries x M x K integer-micro
# L2² entries) broadcasts; candidate distance = SUM of M BIGINTs per
# (query, vector) — order-free, so the APPROXIMATE result itself
# hash-checks against a DuckDB oracle that recomputes the whole
# pipeline (nothing pinned).  Re-rank joins full vectors only for the
# shortlist (R rows per query, broadcast), never the corpus.
#
# Scale (100 TB): the codes frame IS the index — persist it like
# x03c's IVF index and the per-batch query cost is O(N·M) integer adds
# through a broadcast hash join + partial agg (map-side), with full
# vectors touched only R-per-query times at re-rank.  Codebook sizing:
# K = 2^ceil(log2(ceil(N/8))) clamped to [16, 256] — the 256 cap (one
# byte per code, the standard PQ codebook) binds at any real corpus
# size; the N/8 term only scales TINY fixture corpora down so training
# keeps >= ~8 vectors per centroid.  Shortlist R = ceil(N/10) clamped
# [25, 200] is the recall knob: measured rerank-recall@5 0.84 at N=500
# (near-uniform synthetic embeddings, the quantizer's documented worst
# case — real corpora cluster) and 1.0 at N=2000.  Both sizing rules
# are pure integer arithmetic transcribed into the oracle (the
# x12b/x13c pattern), so the driver hash-verifies them end-to-end.

_PQ_M = 8  # subspaces (64 dims / 8)
_PQ_D = 8  # dims per subspace

# within-subspace squared L2, sequential double accumulation in array
# order on both engines (the _DOT FP-contract applied to differences)
_L2SQ = (
    "aggregate(zip_with({a}, {b}, (x, y) -> (CAST(x AS DOUBLE) - CAST(y AS DOUBLE))"
    " * (CAST(x AS DOUBLE) - CAST(y AS DOUBLE))),"
    " CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
)
_L2SQ_DUCK = (
    "list_sum(list_transform(list_zip({a}, {b}),"
    " p -> (p[1] - p[2]) * (p[1] - p[2])))"
)
_MICRO_L2_DUCK = (
    "CAST(CASE WHEN {v} < 0 THEN -FLOOR(ABS(({v}) * 1000000.0) + 0.5)"
    " ELSE FLOOR(ABS(({v}) * 1000000.0) + 0.5) END AS BIGINT)"
)


def auto_pq_codes(n: int, per_code: int = 8, floor: int = 16, cap: int = 256) -> int:
    """Codebook size K = 2^ceil(log2(ceil(n/per_code))) clamped to
    [floor, cap] — pure integer arithmetic (ceil-div + bit_length), so
    the SQL twin (POWER(2, CEIL(LOG2(int)))) cannot diverge on a libm
    ulp.  The cap (256 = one-byte codes) binds for any real corpus."""
    m = max(2, -(-n // per_code))
    return max(int(floor), min(int(cap), 1 << (m - 1).bit_length()))


def auto_pq_shortlist(n: int, frac: int = 10, floor: int = 25, cap: int = 200) -> int:
    """Re-rank shortlist R = ceil(n/frac) clamped to [floor, cap]."""
    return max(int(floor), min(int(cap), -(-n // frac)))


def _subvectors(df: DataFrame, keys: list[str], vec: str, out: str) -> DataFrame:
    """One row per (keys..., sub): the ``_PQ_D``-wide slice ``sub`` of
    ``vec`` as ``out``, for every one of the ``_PQ_M`` subspaces."""
    sv = F.expr(f"slice({vec}, (sub - 1) * {_PQ_D} + 1, {_PQ_D})")
    return df.select(
        *keys, F.explode(F.sequence(F.lit(1), F.lit(_PQ_M))).alias("sub"), vec
    ).select(*keys, "sub", sv.alias(out))


def pq_train_encode(
    spark: SparkSession,
    emb: DataFrame,
    n_codes: int,
) -> tuple[DataFrame, DataFrame]:
    """Train per-subspace codebooks and encode the corpus.

    Returns (cents, codes): cents = (sub, cid, cent: array<double>) —
    driver-scale (M x K x 8 doubles), pinned via collect like x03e's
    centroid frame; codes = (vec_id, sub, cid) — the compressed index,
    M rows per vector.  Training: seeds are the first K vectors in
    md5(vec_id) hex order (each contributing its M subvectors), then
    ONE Lloyd sweep with order-free micro-integer means; empty clusters
    keep their seed."""
    subs = _subvectors(emb, ["vec_id"], "emb", "sv")
    cent_schema = T.StructType(
        [
            T.StructField("sub", T.IntegerType(), False),
            T.StructField("cid", T.IntegerType(), False),
            T.StructField("cent", T.ArrayType(T.DoubleType()), False),
        ]
    )
    seeds = spark.createDataFrame(
        [
            (s, cid, v[(s - 1) * _PQ_D : s * _PQ_D])
            for cid, v in enumerate(_md5_seeds(emb, "emb", n_codes), start=1)
            for s in range(1, _PQ_M + 1)
        ],
        cent_schema,
    )

    def assign(cents: DataFrame) -> DataFrame:
        w = Window.partitionBy("vec_id", "sub").orderBy("dm", "cid")
        return (
            subs.join(F.broadcast(cents), "sub")
            .withColumn(
                "dm", _micro(F.expr(_L2SQ.format(a="sv", b="cent")))
            )
            .withColumn("rn", F.row_number().over(w))
            .filter("rn = 1")
            .select("vec_id", "sub", "cid", "sv")
        )

    cents = _pinned_lloyd(seeds, assign(seeds), ["sub", "cid"], "sv")
    codes = assign(cents).select("vec_id", "sub", "cid")
    return cents, codes


def _adc_topk(
    codes: DataFrame,
    qsubs: DataFrame,
    cents: DataFrame,
    keys: list[str],
    emb: DataFrame,
    queries: DataFrame,
    k: int,
    rerank: bool,
    shortlist: int,
) -> DataFrame:
    """The PQ query tail shared by pq_topk and ivfpq_topk.  The per-query
    distance table (q_id, keys..., sub, cid, dm) — micro-integer L2² from
    each query subvector ``qv`` of ``qsubs`` to every codeword — is
    broadcast into ``codes`` on (keys..., sub, cid); a candidate's ADC
    distance is the order-free SUM of its M BIGINTs, ranked per query
    (ties -> lowest n_id).  Raw: top ``k`` as (q_id, n_id, adc_micro).
    ``rerank``: the top ``shortlist`` re-rank by exact micro-L2² between
    their ``emb`` vectors and the ``queries`` (q_id, q_emb), top ``k`` as
    (q_id, n_id, d2_micro) — full vectors are touched
    shortlist-per-query times only."""
    dtab = (
        qsubs.join(F.broadcast(cents), "sub")
        .withColumn("dm", _micro(F.expr(_L2SQ.format(a="qv", b="cent"))))
        .select("q_id", *keys, "sub", "cid", "dm")
    )
    ws = Window.partitionBy("q_id").orderBy("d", "n_id")
    adc = (
        codes.join(F.broadcast(dtab), [*keys, "sub", "cid"])
        .filter(F.col("vec_id") != F.col("q_id"))
        .groupBy("q_id", F.col("vec_id").alias("n_id"))
        .agg(F.sum("dm").alias("d"))
        .withColumn("rk", F.row_number().over(ws))
        .filter(F.col("rk") <= (shortlist if rerank else k))
    )
    if not rerank:
        return adc.select(
            "q_id", "n_id", F.col("d").alias("adc_micro")
        ).orderBy("q_id", "adc_micro", "n_id")
    wr = Window.partitionBy("q_id").orderBy("d2", "n_id")
    return (
        F.broadcast(adc.select("q_id", "n_id"))
        .join(
            emb.select(F.col("vec_id").alias("n_id"), F.col("emb").alias("n_emb")),
            "n_id",
        )
        .join(F.broadcast(queries), "q_id")
        .withColumn("d2", _micro(F.expr(_L2SQ.format(a="q_emb", b="n_emb"))))
        .withColumn("rk", F.row_number().over(wr))
        .filter(F.col("rk") <= k)
        .select("q_id", "n_id", F.col("d2").alias("d2_micro"))
        .orderBy("q_id", "d2_micro", "n_id")
    )


def pq_topk(
    spark: SparkSession,
    sf_dir: str,
    k: int = 5,
    n_queries: int = 5,
    n_codes: int | None = None,
    shortlist: int | None = None,
    rerank: bool = False,
) -> DataFrame:
    """PQ-ADC top-k: compressed-domain scan, optionally re-ranked
    exactly over the shortlist.  Output (q_id, n_id, adc_micro) for the
    raw ADC scan, (q_id, n_id, d2_micro) re-ranked."""
    raw = load(spark, sf_dir, "embeddings")
    n = raw.count()
    if n_codes is None:
        n_codes = auto_pq_codes(n)
    if shortlist is None:
        shortlist = auto_pq_shortlist(n)
    emb = widen_for_cpu(raw, "vec_id").select(
        "vec_id",
        F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("emb"),
    )
    cents, codes = pq_train_encode(spark, emb, n_codes)
    queries = _query_vectors(emb, n_queries, "emb")
    qsubs = _subvectors(queries, ["q_id"], "q_emb", "qv")
    return _adc_topk(codes, qsubs, cents, [], emb, queries, k, rerank, shortlist)


def _pq_cte() -> str:
    """Shared oracle CTE chain: auto-sized codebooks, training, encode,
    ADC — mirror of pq_train_encode/pq_topk (nothing pinned)."""
    mic_sv = _MICRO_L2_DUCK.format(v=_L2SQ_DUCK.format(a="s.sv", b="c.cent"))
    mic_qv = _MICRO_L2_DUCK.format(v=_L2SQ_DUCK.format(a="q.qv", b="c.cent"))
    return f"""
pk AS (SELECT GREATEST(16, LEAST(256, CAST(POWER(2, CEIL(LOG2(GREATEST(
           CAST(CEIL(COUNT(*) / 8.0) AS BIGINT), 2)))) AS BIGINT))) AS k,
       GREATEST(25, LEAST(200, CAST(CEIL(COUNT(*) / 10.0) AS BIGINT))) AS r
       FROM embeddings),
e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
ids AS (SELECT vec_id, ROW_NUMBER() OVER (
            ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rn FROM e),
subs AS (SELECT vec_id, CAST(u.s AS INT) AS sub,
                emb[(u.s - 1) * {_PQ_D} + 1 : u.s * {_PQ_D}] AS sv
         FROM e, LATERAL unnest(range(1, {_PQ_M} + 1)) AS u(s)),
seeds AS (SELECT sub, CAST(rn AS INT) AS cid, sv AS cent
          FROM subs JOIN ids USING (vec_id) CROSS JOIN pk
          WHERE rn <= pk.k),
a0 AS (SELECT vec_id, sub, cid, sv FROM (
        SELECT s.vec_id, s.sub, c.cid, s.sv,
               ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.sub
                   ORDER BY {mic_sv}, c.cid) AS rn
        FROM subs s JOIN seeds c USING (sub)) WHERE rn = 1),
el AS (SELECT sub, cid, generate_subscripts(sv, 1) AS pos, unnest(sv) AS v
       FROM a0),
m AS (SELECT sub, cid, pos,
             SUM({_MICRO_L2_DUCK.format(v='v')}) AS s, COUNT(*) AS n
      FROM el GROUP BY sub, cid, pos),
mm AS (SELECT sub, cid,
              list(CAST(s AS DOUBLE) / n / 1000000.0 ORDER BY pos) AS mean
       FROM m GROUP BY sub, cid),
cents AS (SELECT s.sub, s.cid, COALESCE(mm.mean, s.cent) AS cent
          FROM seeds s LEFT JOIN mm USING (sub, cid)),
codes AS (SELECT vec_id, sub, cid FROM (
        SELECT s.vec_id, s.sub, c.cid,
               ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.sub
                   ORDER BY {mic_sv}, c.cid) AS rn
        FROM subs s JOIN cents c USING (sub)) WHERE rn = 1),
q AS (SELECT vec_id AS q_id, sub, sv AS qv FROM subs WHERE vec_id < 5),
dtab AS (SELECT q.q_id, c.sub, c.cid, {mic_qv} AS dm
         FROM q JOIN cents c USING (sub)),
adc AS (SELECT d.q_id, c.vec_id AS n_id, CAST(SUM(d.dm) AS BIGINT) AS d
        FROM codes c JOIN dtab d USING (sub, cid)
        WHERE c.vec_id != d.q_id GROUP BY d.q_id, c.vec_id)"""


_X41_ORACLE = (
    "WITH " + _pq_cte() + """
SELECT q_id, n_id, d AS adc_micro FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY d, n_id) AS rk
  FROM adc)
WHERE rk <= 5 ORDER BY q_id, adc_micro, n_id"""
)


@register("x41_pq_adc", _X41_ORACLE)
def x41_pq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X41 PQ-ADC top-5 in the COMPRESSED domain (TPAMI 2011 ADC): the
    approximate distances themselves hash-check — the oracle retrains
    the codebooks and replays the scan, nothing pinned.  See the PQ
    section comment for the 32x memory and scan-cost story."""
    return pq_topk(spark, sf_dir, k=5, n_queries=5, rerank=False)


_X41B_ORACLE = (
    "WITH " + _pq_cte() + f""",
short AS (SELECT q_id, n_id FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY d, n_id) AS rk
    FROM adc) s CROSS JOIN pk WHERE s.rk <= pk.r),
rer AS (SELECT s.q_id, s.n_id,
               {_MICRO_L2_DUCK.format(v=_L2SQ_DUCK.format(a='qe.emb', b='ne.emb'))} AS d2
        FROM short s JOIN e qe ON qe.vec_id = s.q_id
                     JOIN e ne ON ne.vec_id = s.n_id)
SELECT q_id, n_id, d2 AS d2_micro FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY d2, n_id) AS rk
  FROM rer)
WHERE rk <= 5 ORDER BY q_id, d2_micro, n_id"""
)


@register("x41b_pq_rerank", _X41B_ORACLE)
def x41b_pq_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X41b PQ shortlist + exact re-rank (the production IVFADC-R
    serving shape): ADC selects R = clamp(ceil(N/10), 25, 200)
    candidates in the compressed domain, full vectors are touched only
    R-per-query times.  Measured rerank-recall@5: 0.84 at N=500, 1.0
    at N=2000 (near-uniform embeddings — the documented worst case)."""
    return pq_topk(spark, sf_dir, k=5, n_queries=5, rerank=True)


# -- x56: IVF-PQ (coarse quantizer + residual product codes) ----------------
#
# The production ANN index shape (Jégou TPAMI 2011 §IV "IVFADC"; what
# FAISS ships as IndexIVFPQ): a coarse quantizer routes each vector to
# an inverted list, PQ encodes the RESIDUAL v - c(v) (residuals cluster
# far tighter than raw vectors, so the same code budget buys more
# precision), and a query probes only nprobe lists with a per-list
# distance table over its own residual q - c.  This composes the two
# index families already built here: x03c/x03d's IVF routing (partition
# pruning at the storage layer via ivf_build_index) and x41's ADC
# arithmetic (micro-integer exact, broadcast distance tables).
#
# Scale: corpus-side work is one coarse assignment pass (broadcast
# C-row centroid frame) + the PQ encode (vec x M skinny rows); a
# persisted deployment writes codes PARTITIONED BY ccid exactly like
# ivf_build_index so a probe reads nprobe/C of the files.  Query-side
# state is (queries x nprobe x M x K) distance-table rows — broadcast-
# sized by construction.  Everything is md5-seeded and micro-integer
# rounded, so the whole index + probe pipeline is oracle-hashable.

_X56_C = 4        # coarse centroids (pinned witness config)
_X56_NPROBE = 2   # lists probed per query
_X56_K = 16       # PQ codes per subspace
_X56_Q = 3        # query vectors (vec_id < Q)
_X56_TOPK = 5

_SUB_DUCK = "r[(u.s - 1) * {d} + 1 : u.s * {d}]".format(d=_PQ_D)

_X56_SHORTLIST = 100  # IVFADC-R re-rank shortlist (x56b)

_X56_CTE = f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
           FROM embeddings),
cc AS (SELECT vec_id AS ccid, emb AS cent FROM e WHERE vec_id < {_X56_C}),
asg AS (SELECT vec_id, emb, ccid, cent FROM (
    SELECT e.vec_id, e.emb, c.ccid, c.cent,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id
               ORDER BY {_cosine_duck('e.emb', 'c.cent')} DESC, c.ccid) AS rn
    FROM e CROSS JOIN cc c) WHERE rn = 1),
res AS (SELECT vec_id, ccid,
               [emb[i] - cent[i] FOR i IN generate_series(1, len(emb))] AS r
        FROM asg),
ids AS (SELECT vec_id, ROW_NUMBER() OVER (
            ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rn FROM res),
subs AS (SELECT vec_id, CAST(u.s AS INT) AS sub, {_SUB_DUCK} AS sv
         FROM res, LATERAL unnest(range(1, {_PQ_M} + 1)) AS u(s)),
seeds AS (SELECT sub, CAST(rn AS INT) AS cid, sv AS cent
          FROM subs JOIN ids USING (vec_id) WHERE rn <= {_X56_K}),
a0 AS (SELECT vec_id, sub, cid, sv FROM (
        SELECT s.vec_id, s.sub, c.cid, s.sv,
               ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.sub
                   ORDER BY {_MICRO_L2_DUCK.format(v=_L2SQ_DUCK.format(a='s.sv', b='c.cent'))}, c.cid) AS rn
        FROM subs s JOIN seeds c USING (sub)) WHERE rn = 1),
el AS (SELECT sub, cid, generate_subscripts(sv, 1) AS pos, unnest(sv) AS v
       FROM a0),
m AS (SELECT sub, cid, pos,
             SUM({_MICRO_L2_DUCK.format(v='v')}) AS s, COUNT(*) AS n
      FROM el GROUP BY sub, cid, pos),
mm AS (SELECT sub, cid,
              list(CAST(s AS DOUBLE) / n / 1000000.0 ORDER BY pos) AS mean
       FROM m GROUP BY sub, cid),
cents AS (SELECT s.sub, s.cid, COALESCE(mm.mean, s.cent) AS cent
          FROM seeds s LEFT JOIN mm USING (sub, cid)),
codes AS (SELECT vec_id, sub, cid FROM (
        SELECT s.vec_id, s.sub, c.cid,
               ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.sub
                   ORDER BY {_MICRO_L2_DUCK.format(v=_L2SQ_DUCK.format(a='s.sv', b='c.cent'))}, c.cid) AS rn
        FROM subs s JOIN cents c USING (sub)) WHERE rn = 1),
probes AS (SELECT q_id, ccid, cent FROM (
    SELECT e.vec_id AS q_id, c.ccid, c.cent,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id
               ORDER BY {_cosine_duck('e.emb', 'c.cent')} DESC, c.ccid) AS rn
    FROM e CROSS JOIN cc c WHERE e.vec_id < {_X56_Q}) WHERE rn <= {_X56_NPROBE}),
qres AS (SELECT p.q_id, p.ccid,
                [e.emb[i] - p.cent[i]
                 FOR i IN generate_series(1, len(e.emb))] AS r
         FROM probes p JOIN e ON e.vec_id = p.q_id),
qsubs AS (SELECT q_id, ccid, CAST(u.s AS INT) AS sub, {_SUB_DUCK} AS qv
          FROM qres, LATERAL unnest(range(1, {_PQ_M} + 1)) AS u(s)),
dtab AS (SELECT q.q_id, q.ccid, c.sub, c.cid,
                {_MICRO_L2_DUCK.format(v=_L2SQ_DUCK.format(a='q.qv', b='c.cent'))} AS dm
         FROM qsubs q JOIN cents c USING (sub)),
adc AS (SELECT d.q_id, a.vec_id AS n_id, CAST(SUM(d.dm) AS BIGINT) AS d
        FROM codes k
        JOIN asg a ON a.vec_id = k.vec_id
        JOIN dtab d ON d.ccid = a.ccid AND d.sub = k.sub AND d.cid = k.cid
        WHERE a.vec_id != d.q_id GROUP BY d.q_id, a.vec_id)"""

_X56_ORACLE = (
    _X56_CTE
    + f"""
SELECT q_id, n_id, d AS adc_micro FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY d, n_id) AS rk
  FROM adc)
WHERE rk <= {_X56_TOPK} ORDER BY q_id, adc_micro, n_id"""
)

_X56B_ORACLE = (
    _X56_CTE
    + f""",
rr AS (SELECT q_id, n_id FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY d, n_id) AS rk
  FROM adc) WHERE rk <= {_X56_SHORTLIST}),
ex AS (SELECT rr.q_id, rr.n_id,
              {_MICRO_L2_DUCK.format(v=_L2SQ_DUCK.format(a='qe.emb', b='ne.emb'))} AS d2
       FROM rr JOIN e ne ON ne.vec_id = rr.n_id
               JOIN e qe ON qe.vec_id = rr.q_id)
SELECT q_id, n_id, d2 AS d2_micro FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY d2, n_id) AS rk
  FROM ex)
WHERE rk <= {_X56_TOPK} ORDER BY q_id, d2_micro, n_id"""
)


def ivfpq_topk(
    spark: SparkSession,
    emb_raw: DataFrame,
    n_coarse: int = _X56_C,
    nprobe: int = _X56_NPROBE,
    n_codes: int = _X56_K,
    n_queries: int = _X56_Q,
    k: int = _X56_TOPK,
    rerank: bool = False,
    shortlist: int = _X56_SHORTLIST,
) -> DataFrame:
    """IVF-PQ top-k: coarse-assign, PQ-encode residuals (reusing
    pq_train_encode verbatim — the residual frame rides in as its
    ``emb`` column), probe nprobe lists per query with per-list
    residual distance tables, ADC-rank inside probed lists only.

    ``rerank=True`` is IVFADC-R: the ADC pass keeps a ``shortlist``
    per query and exact micro-L2 re-ranks it — on near-uniform data
    PQ distances concentrate and the raw ADC order is noise past the
    probe ceiling (measured 0.07 recall raw vs 0.93 re-ranked at the
    fixture), so the re-rank stage is what makes IVF-PQ a production
    answer rather than a compression demo; full vectors are touched
    shortlist-per-query times only."""
    emb = widen_for_cpu(emb_raw, "vec_id").select(
        "vec_id",
        F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("emb"),
    )
    cc = emb.filter(F.col("vec_id") < n_coarse).select(
        F.col("vec_id").alias("ccid"), F.col("emb").alias("cent")
    )
    asg = _nearest_centroids(emb, cc, "vec_id", "emb", 1, cid="ccid").select(
        "vec_id",
        "ccid",
        F.zip_with("emb", "cent", lambda x, y: x - y).alias("emb"),
    )
    from cubefs_hadoop_spark.plans.materialize import barrier

    # the residual frame feeds PQ training AND encoding AND the final
    # list-membership join — one materialization, three readers
    res = barrier(asg)
    cents, codes = pq_train_encode(
        spark, res.select("vec_id", "emb"), n_codes
    )
    queries = _query_vectors(emb, n_queries, "emb")
    probes = _nearest_centroids(
        queries, cc, "q_id", "q_emb", nprobe, cid="ccid"
    ).select(
        "q_id",
        "ccid",
        F.zip_with("q_emb", "cent", lambda x, y: x - y).alias("qr"),
    )
    return _adc_topk(
        codes.join(res.select("vec_id", "ccid"), "vec_id"),
        _subvectors(probes, ["q_id", "ccid"], "qr", "qv"),
        cents,
        ["ccid"],
        emb,
        queries,
        k,
        rerank,
        shortlist,
    )


@register("x56_ivfpq_topk", _X56_ORACLE)
def x56_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X56 IVF-PQ (IVFADC): coarse routing + residual product codes +
    nprobe-list ADC probe — the production FAISS index shape, composed
    from the repo's IVF and PQ tiers and hash-checked end-to-end.
    Raw compressed-domain order (the x41 analog); x56b is the served
    form."""
    return ivfpq_topk(spark, load(spark, sf_dir, "embeddings"))


@register("x56b_ivfpq_rerank", _X56B_ORACLE)
def x56b_ivfpq_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X56b IVFADC-R: the x56 pipeline + exact micro-L2 re-rank of a
    100-candidate ADC shortlist — the serving configuration (recall
    gate lives engine-side: test_x56_ivfpq_recall_and_pruning)."""
    return ivfpq_topk(spark, load(spark, sf_dir, "embeddings"), rerank=True)


# -- x64: embedding health audit (the vector-table pre-flight) ---------------
#
# Every operator in this family assumes its vector column is SANE:
# one consistent dimensionality, finite cells, non-degenerate norms, no
# silent exact duplicates (an upstream encoder retry writes the same
# vector twice and every downstream kNN/centroid/dedup stage quietly
# double-counts it).  x64 is the audit that checks those assumptions
# BEFORE a 100 TB ANN build commits to them — the vector-table member
# of the pre-flight family (x52 shuffles, x53/x61 LSH, x60 IVF).
#
# Scale: two partial-agg'd passes over the vector table and nothing
# else — one scan computing row-local flag aggregates (dimensionality
# spread, non-finite cells, zero norms, all in codegen higher-order
# functions), and one groupBy on the vector value itself for exact-dup
# accounting (group count is corpus-scale, rolled to one row
# map-side).  Both outputs are single rows; the final frame is their
# bounded 1x1 join.  No O(n^2) anywhere: exact-dup detection by
# grouping, never by pairwise comparison.

_X64_ORACLE = """
WITH s AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_vectors,
         CAST(COUNT(DISTINCT len(embedding)) AS BIGINT) AS n_dims_distinct,
         CAST(MIN(len(embedding)) AS BIGINT) AS dim_min,
         CAST(MAX(len(embedding)) AS BIGINT) AS dim_max,
         CAST(COUNT(*) FILTER (
             len(list_filter(embedding,
                             x -> isnan(x) OR isinf(x))) > 0)
           AS BIGINT) AS n_nonfinite,
         CAST(COUNT(*) FILTER (
             len(list_filter(embedding, x -> x <> 0)) = 0)
           AS BIGINT) AS n_zero_norm
  FROM embeddings),
g AS (SELECT embedding, COUNT(*) AS c FROM embeddings GROUP BY embedding),
d AS (SELECT CAST(COUNT(*) FILTER (c > 1) AS BIGINT) AS n_dup_groups,
             CAST(COALESCE(SUM(c) FILTER (c > 1), 0) AS BIGINT)
               AS n_dup_vectors
      FROM g)
SELECT s.n_vectors, s.n_dims_distinct, s.dim_min, s.dim_max,
       s.n_nonfinite, s.n_zero_norm, d.n_dup_groups, d.n_dup_vectors,
       CAST(d.n_dup_vectors - d.n_dup_groups AS BIGINT) AS n_removable,
       CAST(1000 * (d.n_dup_vectors - d.n_dup_groups) // s.n_vectors
         AS BIGINT) AS dup_share_milli
FROM s CROSS JOIN d"""


def embedding_health(emb: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """One-row vector-table audit: (n_vectors, n_dims_distinct, dim_min,
    dim_max, n_nonfinite, n_zero_norm, n_dup_groups, n_dup_vectors,
    n_removable, dup_share_milli).  Two partial-agg'd passes (row-local
    flags; groupBy on the vector value for exact dups), joined 1x1."""
    e = F.col(vec_col)
    inf = F.lit(float("inf"))
    scan = emb.agg(
        F.count(F.lit(1)).cast("long").alias("n_vectors"),
        F.countDistinct(F.size(e)).cast("long").alias("n_dims_distinct"),
        F.min(F.size(e)).cast("long").alias("dim_min"),
        F.max(F.size(e)).cast("long").alias("dim_max"),
        F.sum(
            F.exists(e, lambda x: F.isnan(x) | (F.abs(x) == inf)).cast("long")
        ).cast("long").alias("n_nonfinite"),
        F.sum(
            (F.size(F.filter(e, lambda x: x != 0)) == 0).cast("long")
        ).cast("long").alias("n_zero_norm"),
    )
    dups = (
        emb.groupBy(vec_col)
        .agg(F.count(F.lit(1)).alias("c"))
        .agg(
            F.sum((F.col("c") > 1).cast("long")).cast("long")
            .alias("n_dup_groups"),
            F.coalesce(
                F.sum(F.when(F.col("c") > 1, F.col("c"))), F.lit(0)
            ).cast("long").alias("n_dup_vectors"),
        )
    )
    return scan.crossJoin(dups).select(
        "n_vectors", "n_dims_distinct", "dim_min", "dim_max",
        "n_nonfinite", "n_zero_norm", "n_dup_groups", "n_dup_vectors",
        (F.col("n_dup_vectors") - F.col("n_dup_groups")).cast("long")
        .alias("n_removable"),
        F.expr(
            "1000 * (n_dup_vectors - n_dup_groups) div n_vectors"
        ).cast("long").alias("dup_share_milli"),
    )


@register("x64_embedding_health", _X64_ORACLE)
def x64_embedding_health(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X64 embedding health audit: dimensionality consistency, non-finite
    cells, zero-norm vectors, and exact-duplicate accounting for the
    embeddings table, in one hash-exact row — the pre-flight every ANN
    build (x03c/x41/x56) should read before trusting its input."""
    return embedding_health(load(spark, sf_dir, "embeddings"))


# -- x124: per-dimension embedding statistics --------------------------------
#
# x64 answers "is the table healthy" in one row; x124 answers WHERE it
# is unhealthy: per dimension, exact integer-milli min/max/floor-mean
# and the near-zero cell count — dead dimensions (constant/zero
# columns waste every downstream shuffle byte), clipped dimensions
# (min/max pinned at a quantization edge), and mean drift (a
# normalization bug shifts a dim's mean off 0) all read directly off
# this table, and x59's truncation question ("can we drop dims?")
# starts here.
#
# Scale: posexplode then ONE partial-agg'd groupBy(dim) — the combine
# collapses every partition to <=d rows before the shuffle, so the
# exchange moves executors x d rows whatever the corpus size.  The
# milli quantization is the x31 FLOOR contract: float->double widen is
# exact and both engines floor the identical IEEE product.

_X124_ORACLE = """
WITH ex AS (
  SELECT CAST(generate_subscripts(embedding, 1) - 1 AS BIGINT) AS dim,
         CAST(FLOOR(CAST(unnest(embedding) AS DOUBLE)*1000) AS BIGINT) AS em
  FROM embeddings)
SELECT dim,
       CAST(COUNT(*) AS BIGINT) AS n_cells,
       CAST(MIN(em) AS BIGINT) AS min_milli,
       CAST(MAX(em) AS BIGINT) AS max_milli,
       CAST(FLOOR(CAST(SUM(em) AS DOUBLE) / COUNT(*)) AS BIGINT)
           AS mean_milli,
       CAST(SUM(CASE WHEN em = 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS zero_cells
FROM ex GROUP BY dim
ORDER BY dim, n_cells, min_milli, max_milli, mean_milli, zero_cells"""


def embedding_dim_stats(
    emb: DataFrame, vec_col: str = "embedding"
) -> DataFrame:
    """(dim, n_cells, min_milli, max_milli, mean_milli, zero_cells):
    exact integer-milli per-dimension statistics (x31's FLOOR milli
    contract; zero_cells counts |v| < 0.001 — the dead-dim signal)."""
    ex = emb.select(F.posexplode(vec_col).alias("dim", "v")).select(
        F.col("dim").cast("long").alias("dim"),
        F.floor(F.col("v").cast("double") * 1000).cast("long").alias("em"),
    )
    return ex.groupBy("dim").agg(
        F.count(F.lit(1)).cast("long").alias("n_cells"),
        F.min("em").cast("long").alias("min_milli"),
        F.max("em").cast("long").alias("max_milli"),
        F.floor(F.sum("em").cast("double") / F.count(F.lit(1)))
        .cast("long")
        .alias("mean_milli"),
        F.sum((F.col("em") == 0).cast("long")).cast("long").alias(
            "zero_cells"
        ),
    )


@register("x124_embedding_dim_stats", _X124_ORACLE)
def x124_embedding_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X124 per-dimension embedding statistics: exact milli
    min/max/floor-mean and near-zero cell counts per dimension — the
    WHERE companion to x64's one-row health audit (dead dims, clipped
    dims, mean drift) and the starting table for x59's
    truncation question.  One posexplode + one partial-agg'd
    groupBy(dim): the exchange moves <=executors x d rows at any
    corpus size."""
    return embedding_dim_stats(load(spark, sf_dir, "embeddings")).orderBy(
        "dim", "n_cells", "min_milli", "max_milli", "mean_milli",
        "zero_cells",
    )
