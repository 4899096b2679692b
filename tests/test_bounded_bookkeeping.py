"""Bounded exactly-once bookkeeping + auto-expire retention.

Round-5 closure of the two O(lifetime) metadata growth vectors: the
``applied_batches``/``applied_schema_ops`` snapshot properties (now a
watermark + residual window, O(1) in batch count) and unbounded
snapshot accumulation on long replays (opt-in ``expire_every`` /
``expire_keep_last`` engine knobs).
"""

import json
import os

import pytest

from etl_spark.cdc.changelog import generate_changelog
from etl_spark.cdc.replay import ReplayEngine, _compact_applied
from etl_spark.schema import SCHEMA_EVOLUTION_SCHEMA


def _snapshot_doc_bytes(table) -> int:
    v = table.current_snapshot().version
    return os.path.getsize(
        os.path.join(table.root, "_snapshots", f"snapshot-{v:08d}.json")
    )


def _props(eng) -> dict:
    return eng.table.current_snapshot().properties


# ------------------------------------------------ watermark compaction unit
def test_compact_applied_contiguous_prefix():
    assert _compact_applied(-1, [0, 1, 2, 3]) == (3, [])
    assert _compact_applied(-1, [0, 2]) == (0, [2])
    assert _compact_applied(0, [2, 1]) == (2, [])
    assert _compact_applied(5, [7, 9]) == (5, [7, 9])
    assert _compact_applied(5, [6, 7, 9]) == (7, [9])
    assert _compact_applied(3, []) == (3, [])
    # ids at/below the watermark are already encoded by it
    assert _compact_applied(3, [1, 2, 4]) == (4, [])


# -------------------------------------------- O(1) snapshot-doc bookkeeping
def test_snapshot_doc_size_constant_over_100_batches(spark, tmp_path):
    """The verdict's done-bar: snapshot-document size is O(1) in batch
    count over a 100-batch replay (previously applied_batches grew one
    element per batch and was rewritten into every snapshot)."""
    log = generate_changelog(
        spark, 3000, seed=7, n_repos=4, paths_per_repo=12, num_batches=100
    )
    log.cache()
    eng = ReplayEngine(spark, str(tmp_path / "t"), num_buckets=4, mode="mor")
    eng.replay(log, batches=list(range(10)))
    props10 = _props(eng)
    size10 = _snapshot_doc_bytes(eng.table)
    eng.replay(log, batches=list(range(10, 100)))
    props100 = _props(eng)
    size100 = _snapshot_doc_bytes(eng.table)

    # stored form: watermark integer + EMPTY residual list, at any count
    assert props10["applied_batches_watermark"] == 9
    assert props10["applied_batches"] == []
    assert props100["applied_batches_watermark"] == 99
    assert props100["applied_batches"] == []
    # the document itself must not grow with batch count (allow slack
    # for file-entry churn between compactions — bookkeeping is the
    # thing under test and it is byte-identical modulo two integers)
    assert size100 <= size10 * 1.3, (size10, size100)
    # the accessor still reconstructs the full applied set
    assert eng.applied_batches() == list(range(100))
    # and the whole replay stays idempotent
    res = eng.replay(log)
    assert all(r["skipped"] for r in res)
    log.unpersist()


def test_out_of_order_batches_use_residual_window(spark, tmp_path):
    log = generate_changelog(
        spark, 800, seed=11, n_repos=3, paths_per_repo=10, num_batches=4
    )
    log.cache()
    eng = ReplayEngine(spark, str(tmp_path / "t"), num_buckets=2, mode="cow")
    eng.replay(log, batches=[0, 2])
    p = _props(eng)
    assert p["applied_batches_watermark"] == 0
    assert p["applied_batches"] == [2]
    assert eng.applied_batches() == [0, 2]
    # both directions of the membership test
    assert eng.apply_batch(log, 0)["skipped"]
    assert eng.apply_batch(log, 2)["skipped"]
    # applying batch 1's DATA now is refused: batch 2's commit fenced
    # past its offsets, so its events would be silently dropped
    import pytest

    with pytest.raises(ValueError, match="out-of-order"):
        eng.replay(log, batches=[1, 3])
    # the legitimate gap-closer is an explicitly EMPTY batch 1 (the
    # caller declaring the id carries no events): it marks the id
    # applied and the watermark advances over the whole residual
    eng.replay(log.filter("batch_id != 1"), batches=[1, 3])
    p = _props(eng)
    assert p["applied_batches_watermark"] == 3
    assert p["applied_batches"] == []
    log.unpersist()


def test_schema_ops_list_compacts_to_fence(spark, tmp_path):
    """applied_schema_ops retains only offsets above the committed fence:
    empty at steady state, populated exactly inside the crash window
    (covered by test_round2_fixes' evolution-commit crash test)."""
    log = generate_changelog(
        spark, 1200, seed=42, n_repos=4, paths_per_repo=10, num_batches=3
    )
    log.cache()
    ops = spark.createDataFrame(
        [(450, "add_column", "size_bytes", json.dumps({"type": "int"}))],
        SCHEMA_EVOLUTION_SCHEMA,
    )
    eng = ReplayEngine(spark, str(tmp_path / "t"), num_buckets=4)
    results = eng.replay(log, schema_ops=ops)
    assert sum(r["schema_ops"] for r in results) == 1
    assert "size_bytes" in eng.read_state().columns
    # fence is past the op: the stored list is empty, not O(ops-lifetime)
    assert _props(eng)["applied_schema_ops"] == []
    # idempotence intact: neither the batch nor the DDL re-applies
    r = eng.apply_batch(log, 1, schema_ops=ops)
    assert r["skipped"]
    sv = eng.table.current_snapshot().current_schema_version
    eng.replay(log, schema_ops=ops)
    assert eng.table.current_snapshot().current_schema_version == sv
    log.unpersist()


def test_legacy_list_only_properties_still_resume(spark, tmp_path):
    """A table written before the watermark existed (list-only
    applied_batches) must keep resuming correctly: the watermark
    defaults to -1 and the first new commit compacts the legacy list."""
    log = generate_changelog(
        spark, 800, seed=3, n_repos=3, paths_per_repo=10, num_batches=4
    )
    log.cache()
    eng = ReplayEngine(spark, str(tmp_path / "t"), num_buckets=2, mode="mor")
    eng.replay(log, batches=[0, 1])
    # simulate the pre-upgrade on-disk form: full list, watermark at its
    # missing-key default (-1 — commit_appended merges properties, so a
    # key can't be removed; _applied_state reads an absent key as -1,
    # making this byte-equivalent to a genuine legacy table)
    eng.table.commit_appended({}, {
        "applied_batches": [0, 1],
        "applied_batches_watermark": -1,
    })

    eng2 = ReplayEngine.attach(spark, str(tmp_path / "t"))
    assert eng2.applied_batches() == [0, 1]
    res = eng2.replay(log)
    assert [r["batch_id"] for r in res if not r["skipped"]] == [2, 3]
    p = _props(eng2)
    assert p["applied_batches_watermark"] == 3
    assert p["applied_batches"] == []
    log.unpersist()


# ----------------------------------------------------- auto-expire retention
def test_auto_expire_bounds_snapshot_count(spark, tmp_path):
    """Verdict done-bar: a 50-batch replay with expire_every=10,
    keep_last=5 ends with <= keep_last+grace snapshots, time travel
    within retention stays green, beyond retention raises the
    documented ValueError."""
    log = generate_changelog(
        spark, 2000, seed=5, n_repos=4, paths_per_repo=12, num_batches=50
    )
    log.cache()
    eng = ReplayEngine(
        spark, str(tmp_path / "t"), num_buckets=4, mode="mor",
        compact_threshold=0,  # isolate: batch commits only
        expire_every=10, expire_keep_last=5,
    )
    eng.replay(log, pipeline_depth=2)
    versions = eng.table._snapshot_versions()
    # the retention tick fires every expire_every commits (± pipeline
    # depth drift, since in-flight batches drain before the vacuum), so
    # at most keep_last + expire_every + depth snapshots ever coexist —
    # bounded by the knobs, NOT by replay length (50 commits here)
    assert len(versions) <= 5 + 10 + 2, versions
    assert min(versions) >= 30, versions  # early history really pruned
    assert eng.applied_batches() == list(range(50))

    # time travel within retention
    past = sorted(versions)[0]
    assert eng.read_state(at_version=past).count() >= 0
    # beyond retention: the documented error, not a stack trace
    with pytest.raises(ValueError, match="expired"):
        eng.read_state(at_version=1)

    # final state equals an expiry-free replay (vacuum deleted only orphans)
    ref = ReplayEngine(
        spark, str(tmp_path / "ref"), num_buckets=4, mode="mor",
        compact_threshold=0,
    )
    ref.replay(log, pipeline_depth=2)
    a = eng.read_state().orderBy("repo", "path").collect()
    b = ref.read_state().orderBy("repo", "path").collect()
    assert a == b
    log.unpersist()


def test_auto_expire_cow_sequential_path(spark, tmp_path):
    log = generate_changelog(
        spark, 900, seed=9, n_repos=3, paths_per_repo=10, num_batches=12
    )
    log.cache()
    eng = ReplayEngine(
        spark, str(tmp_path / "t"), num_buckets=2, mode="cow",
        expire_every=4, expire_keep_last=3,
    )
    eng.replay(log, pipeline_depth=1)
    assert len(eng.table._snapshot_versions()) <= 4
    res = eng.replay(log)
    assert all(r["skipped"] for r in res)
    log.unpersist()


def test_expire_every_validation(spark, tmp_path):
    with pytest.raises(ValueError, match="expire_every"):
        ReplayEngine(spark, str(tmp_path / "t"), expire_every=0)
