"""Round-2 hardening gates: path-traversal name validation (ADVICE r01),
reliable checkpointing and convergence signalling for iterative ops
(VERDICT r01 "What's wrong" #3, ADVICE r01)."""

from __future__ import annotations

import os

import pytest

from cubefs_hadoop_spark.catalog import load
from cubefs_hadoop_spark.engine import Engine
from cubefs_hadoop_spark.errors import EngineIOError
from cubefs_hadoop_spark.extensions.components import (
    UnconvergedError,
    connected_components_star,
)
from cubefs_hadoop_spark.plans.materialize import barrier, ensure_checkpoint_dir
from tests.conftest import SF_SMOKE


@pytest.fixture()
def eng(spark, tmp_warehouse):
    e = Engine(spark, tmp_warehouse)
    e.write_table(
        load(spark, SF_SMOKE, "nation").select("n_nationkey", "n_name"),
        "nation",
    )
    return e


# -- EINVAL name validation (single chokepoint: _db_path/_table_path) ------


@pytest.mark.parametrize(
    "bad",
    ["../escape", "a/b", "/abs", "..", ".", ".hidden", "", "nul\x00l"],
)
def test_traversal_names_rejected_on_every_verb(eng, bad):
    for verb in (
        lambda: eng.table(bad),
        lambda: eng.drop_table(bad),
        lambda: eng.create_database(bad),
        lambda: eng.rename_table("nation", bad),
    ):
        with pytest.raises(EngineIOError):
            verb()


def test_traversal_delete_cannot_escape_warehouse(eng, tmp_warehouse):
    # a sibling dir outside the warehouse must be unreachable by any name
    outside = os.path.join(os.path.dirname(tmp_warehouse), "outside")
    os.makedirs(outside, exist_ok=True)
    with pytest.raises(EngineIOError):
        eng.drop_table(os.path.join("..", "outside"))
    assert os.path.isdir(outside)


def test_valid_names_still_work(eng):
    eng.write_table(eng.table("nation"), "nation_copy2")
    assert eng.table("nation_copy2").count() == eng.table("nation").count()
    eng.drop_table("nation_copy2")


# -- reliable checkpointing (N9 durability analog for iteration state) -----


def test_components_reliable_checkpoint(spark, tmp_path):
    spark.sparkContext.setCheckpointDir(str(tmp_path / "ckpt"))
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "da bigint, db bigint"
    )
    comps = {
        r.doc_id: r.comp
        for r in connected_components_star(pairs, reliable=True).collect()
    }
    assert comps == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}
    # checkpoint files actually landed in the reliable dir
    assert any((tmp_path / "ckpt").rglob("*"))


def test_barrier_reliable_sets_checkpoint_dir(spark):
    df = spark.range(10)
    out = barrier(df, eager=True, reliable=True)
    assert out.count() == 10
    assert spark.sparkContext.getCheckpointDir() is not None


def test_ensure_checkpoint_dir_is_idempotent(spark):
    d1 = ensure_checkpoint_dir(spark)
    d2 = ensure_checkpoint_dir(spark)
    assert d1 == d2


# -- convergence signalling -------------------------------------------------


def test_components_unconverged_raises(spark):
    # a 10-hop chain cannot converge in 2 large/small-star rounds
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(9)], "da bigint, db bigint"
    )
    with pytest.raises(UnconvergedError):
        connected_components_star(pairs, max_iter=2)


# -- background materialization (guide §2.6 job overlap) ---------------------


def test_materialize_async_materializes_and_joins(spark):
    from cubefs_hadoop_spark.plans.materialize import materialize_async

    df = barrier(
        spark.range(100).selectExpr("id", "id * 2 AS v"), eager=False
    )
    bg = materialize_async(df)
    bg.join()  # returns only after the background count drove the chain
    assert df.count() == 100
    assert df.agg({"v": "sum"}).collect()[0][0] == 9900


def test_materialize_async_propagates_failure(spark):
    from cubefs_hadoop_spark.plans.materialize import materialize_async

    # the failing predicate sits in a filter, which the background
    # count() cannot prune (a failing projection would be optimized
    # away by count's column pruning)
    bad = spark.range(10).filter("10 div (5 - id) > -99")
    bg = materialize_async(bad)
    with pytest.raises(Exception):
        bg.join()


def test_x82_overlap_matches_sequential_election(spark):
    """centrality_canonical's CC-vs-PageRank overlap (r14) must be a pure
    scheduling change: the overlapped composition equals the sequential
    elect_canonical over the same materialized inputs, row for row."""
    from cubefs_hadoop_spark.catalog import load
    from cubefs_hadoop_spark.extensions.dedup import (
        centrality_canonical,
        elect_canonical,
        lsh_candidate_pairs,
        neardup_pagerank_from_pairs,
    )

    docs = load(spark, "/root/testdata/sf0.001", "documents")
    got = sorted(
        centrality_canonical(docs).collect(),
        key=lambda r: (r.doc_id, r.canonical),
    )
    pairs = barrier(lsh_candidate_pairs(docs), eager=True)
    want = sorted(
        elect_canonical(
            docs, pairs, score=neardup_pagerank_from_pairs(pairs)
        ).collect(),
        key=lambda r: (r.doc_id, r.canonical),
    )
    assert [tuple(r) for r in got] == [tuple(r) for r in want]
