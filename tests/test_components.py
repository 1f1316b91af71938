"""Connected-components dedup-group tests."""

from __future__ import annotations

from pyspark.sql import functions as F

from cubefs_hadoop_spark.extensions.components import (
    connected_components_driver,
    connected_components_star,
    dedup_keep_list,
)
from cubefs_hadoop_spark.extensions.dedup import x02_minhash_lsh
from tests.conftest import SF_SMOKE


def _labels(comps):
    return {r.doc_id: r.comp for r in comps.collect()}


def test_components_on_crafted_graph(spark):
    # chains {1-2-3}, {5-7, 5-9} (edge listed high-to-low), pair {10-11};
    # an isolate is implied by absence (99)
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (7, 5), (5, 9)], "da bigint, db bigint"
    )
    want = {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 5: 5, 7: 5, 9: 5}
    assert _labels(connected_components_star(pairs)) == want
    assert _labels(connected_components_driver(pairs)) == want


def test_components_chain_converges(spark):
    # a long path 0-1-2-...-9: one component whatever the diameter
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(9)], "da bigint, db bigint"
    )
    want = {i: 0 for i in range(10)}
    assert _labels(connected_components_star(pairs)) == want
    assert _labels(connected_components_driver(pairs)) == want


def test_dedup_keep_list_on_fixture(spark):
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    pairs = x02_minhash_lsh(spark, SF_SMOKE)
    kept = dedup_keep_list(docs, pairs)
    comps = connected_components_star(pairs)
    n_drop = comps.filter(F.col("doc_id") != F.col("comp")).count()
    assert kept.count() == docs.count() - n_drop
    # representatives (min doc_id of each component) are all kept
    reps = {r.comp for r in comps.collect()}
    kept_ids = {r.doc_id for r in kept.collect()}
    assert reps <= kept_ids


def test_star_components_beat_diameter_bound(spark):
    """A 64-hop chain: min-label propagation would need ~64 rounds;
    large/small-star converges in O(log^2 n) rounds."""
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(63)], "da bigint, db bigint"
    )
    comps = _labels(connected_components_star(pairs, max_iter=15))
    assert set(comps.values()) == {0} and len(comps) == 64


def test_driver_tier_matches_distributed_on_fixture_pairs(spark):
    """Union-find driver tier vs star: identical labels on the fixture
    pair graph and on a crafted graph with chains + isolated pairs — the
    tier choice can never change the answer."""
    crafted = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (7, 5), (5, 9), (20, 21)],
        "da bigint, db bigint",
    )
    fixture = x02_minhash_lsh(spark, SF_SMOKE)
    for pairs in (crafted, fixture):
        drv = _labels(connected_components_driver(pairs))
        assert drv and drv == _labels(connected_components_star(pairs))


def test_auto_tier_gates_on_threshold_and_conf(spark):
    """auto: under the threshold the plan is a driver-built localtable
    (zero star rounds); threshold=0 (or the session conf) forces the
    distributed star path; both produce the same labels."""
    from cubefs_hadoop_spark.extensions.components import (
        connected_components_auto,
    )

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "da bigint, db bigint"
    )
    want = {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}
    fast = connected_components_auto(pairs)
    # driver tier output is a parallelized local list, not a shuffle plan
    assert "Exchange" not in fast._jdf.queryExecution().executedPlan().toString()
    assert {r.doc_id: r.comp for r in fast.collect()} == want

    slow = connected_components_auto(pairs, threshold=0)
    assert {r.doc_id: r.comp for r in slow.collect()} == want

    spark.conf.set("cfspark.cc.driver.threshold", "0")
    try:
        via_conf = connected_components_auto(pairs)
        assert {r.doc_id: r.comp for r in via_conf.collect()} == want
        assert "Exchange" in via_conf._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.unset("cfspark.cc.driver.threshold")


def test_lsh_quality_audit_accounting(spark):
    """x61 invariants on the fixture: one row; hits bounded by both the
    candidate and truth sets; milli ratios obey their floor-division
    law; and on this corpus the 3x3 banding recovers EVERY exact
    jac>=0.5 pair (recall 1000 — the fixture witness that the audit's
    truth join and the banding agree on what a near-dup is)."""
    from cubefs_hadoop_spark.queries import QUERIES
    from tests.conftest import SF_SMOKE

    rows = QUERIES["x61_lsh_quality_audit"](spark, SF_SMOKE).collect()
    assert len(rows) == 1
    r = rows[0]
    assert 0 <= r.n_hits <= min(r.n_candidates, r.n_truth)
    assert r.precision_milli == 1000 * r.n_hits // r.n_candidates
    assert r.recall_milli == 1000 * r.n_hits // r.n_truth
    assert r.n_hits == r.n_truth  # banding misses nothing at tau=0.5 here
