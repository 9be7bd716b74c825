"""Pins a fold takes are released when it ends, and an append runs one
write.

A maintained view folds micro-batches for as long as its session lives,
so a pin a fold leaves behind accumulates once per batch. These tests
read the session's own bookkeeping (``getPersistentRDDs`` and the
``CacheManager``) around a fold, and count the jobs an append runs
with ``statusTracker``."""

from __future__ import annotations

import sys

import pyspark.sql.functions as F
import pytest

from data_pipeline_challenge_spark import batchstore
from data_pipeline_challenge_spark.operators import graph
from tests.test_store_maintenance import _view
from tests.test_streaming import _GUARD_FAMILIES, _guard_fold_for


def _held(spark) -> tuple[set[int], int]:
    """(ids of the persisted RDDs, number of CacheManager entries)."""
    rdds = set(spark.sparkContext._jsc.getPersistentRDDs().keys())
    cached = spark._jsparkSession.sharedState().cacheManager().numCachedEntries()
    return rdds, cached


def _fold_for(spark, tmp_path, family):
    if family == "components":
        from data_pipeline_challenge_spark.streaming import components_stream

        def edges(b):
            return spark.createDataFrame(
                [(10 * b + 1, 10 * b + 2), (10 * b + 2, 10 * b + 3), (1, 10 * b + 4)],
                "src long, dst long",
            )

        out = tmp_path / "components"
        return lambda b: components_stream.fold_batch(spark, out, edges(b), b, n_prefix=8)
    if family in ("image_dedup", "embedding_dedup", "decontam"):
        return _view(spark, tmp_path, family)[0]
    return _guard_fold_for(spark, tmp_path, family)


class _Refused(Exception):
    pass


@pytest.mark.parametrize(
    "family",
    _GUARD_FAMILIES + ["components", "image_dedup", "embedding_dedup", "decontam"],
)
def test_fold_releases_its_pins(spark, tmp_path, monkeypatch, family):
    """After a fold returns, and after a fold whose first store write
    raises, the session holds exactly the pins it held before. The one
    exception is ``connected_components``' own edge-list checkpoint: its
    result is lazy over it, so it outlives the fold by design."""
    # the embedding gate's first batch builds its base table, not an
    # increment, and decontam's first batch materializes the eval
    # shingle table the stream keeps pinned: fold it first, so the
    # measured folds are steady-state appends
    first = 1 if family in ("embedding_dedup", "decontam") else 0
    fold = _fold_for(spark, tmp_path, family)
    for b in range(first):
        fold(b)

    components_pins = set()
    real_pin = graph._pin

    def recording_pin(df, checkpoint_dir, eager=True):
        pinned = real_pin(df, checkpoint_dir, eager)
        components_pins.add(pinned._jdf.queryExecution().logical().rdd().id())
        return pinned

    monkeypatch.setattr(graph, "_pin", recording_pin)

    def assert_released(before):
        rdds, cached = _held(spark)
        assert rdds - before[0] <= components_pins, (
            family, rdds - before[0] - components_pins
        )
        assert cached == before[1], family

    before = _held(spark)
    fold(first)
    assert_released(before)

    def refuse(*args, **kwargs):
        raise _Refused

    for name, mod in list(sys.modules.items()):
        if name.startswith("data_pipeline_challenge_spark.") and hasattr(
            mod, "append_batch_increment"
        ):
            monkeypatch.setattr(mod, "append_batch_increment", refuse)
    before = _held(spark)
    with pytest.raises(_Refused):
        fold(first + 1)
    assert_released(before)


def _jobs(spark, tag, fn):
    sc = spark.sparkContext
    sc.setJobGroup(tag, tag)
    try:
        result = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return result, len(sc.statusTracker().getJobIdsForGroup(tag))


def test_append_runs_only_its_write(spark, tmp_path):
    """A non-empty increment costs its write and nothing else: one job
    unpartitioned, two partitioned (the clustering shuffle's map stage
    runs as its own job under AQE); no emptiness probe, no cache. An
    empty one leaves only its sentinel. ``account_empty_fold`` and an
    empty-store seeding write at ``through=-1`` leave no data dir."""
    df = spark.range(40).withColumn("k", F.col("id") % 3)
    flat, part = tmp_path / "flat", tmp_path / "part"
    for b in range(2):
        wrote, n = _jobs(
            spark, f"flat{b}", lambda: batchstore.append_batch_increment(df, flat, b)
        )
        assert (wrote, n) == (True, 1)
        wrote, n = _jobs(
            spark,
            f"part{b}",
            lambda: batchstore.append_batch_increment(df, part, b, partition_by="k"),
        )
        assert (wrote, n) == (True, 2)
    assert spark.read.parquet(str(flat)).count() == 80
    assert spark.read.parquet(str(part)).count() == 80

    empty = df.filter(F.col("id") < 0)
    for store, by in ((flat, None), (part, "k")):
        assert not batchstore.append_batch_increment(empty, store, 2, partition_by=by)
        assert (store / ".empty.b2").exists()
        assert not (store / "ingest_batch=2").exists()
        assert not list(store.parent.glob(f".{store.name}.b*.tmp"))
        assert batchstore.last_batch_id(store) == 2

    _, n = _jobs(spark, "empty_fold", lambda: batchstore.account_empty_fold((flat, part), 3))
    assert n == 0
    assert batchstore.last_batch_id(flat) == batchstore.last_batch_id(part) == 3

    _, n = _jobs(
        spark,
        "initial",
        lambda: batchstore.write_initial_consolidated(df, tmp_path / "seeded", None),
    )
    assert n == 1
    assert spark.read.parquet(str(tmp_path / "seeded")).count() == 40
    batchstore.write_initial_consolidated(empty, tmp_path / "unseeded", "k")
    assert not (tmp_path / "unseeded").exists()
    batchstore.write_initial_consolidated(empty, tmp_path / "horizon", "k", through=4)
    assert batchstore.last_batch_id(tmp_path / "horizon") == 4
    assert not list((tmp_path / "horizon").glob("ingest_batch=*"))


def test_label_prop_releases_superseded_labels(spark):
    """``label_prop`` pins each iteration's labels as a local checkpoint
    and must free the one it supersedes: the RDDs it leaves pinned do
    not grow with the number of iterations a longer chain needs."""

    def pinned_by(n_vertices):
        edges = spark.createDataFrame(
            [(i, i + 1) for i in range(n_vertices - 1)], "src long, dst long"
        )
        before = _held(spark)[0]
        labels = graph.connected_components(edges, algorithm="label_prop")
        assert {r["component"] for r in labels.collect()} == {0}
        return len(_held(spark)[0] - before)

    assert pinned_by(9) == pinned_by(3)
