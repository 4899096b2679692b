"""End-to-end CDC replay tests (FIXTURES.md invariants 1-3)."""

import pandas as pd
import pytest

from etl_spark.cdc.changelog import generate_changelog
from etl_spark.cdc.replay import ReplayEngine
from tests.oracle import apply_log_oracle

N_EVENTS = 2000


@pytest.fixture(scope="module")
def changelog(spark):
    df = generate_changelog(spark, N_EVENTS, seed=42, n_repos=5, paths_per_repo=20, num_batches=4)
    df.cache()
    df.count()
    return df


@pytest.fixture(scope="module")
def oracle_state(changelog):
    return apply_log_oracle(changelog.toPandas())


def engine_state(engine: ReplayEngine) -> pd.DataFrame:
    return (
        engine.read_state()
        .select("repo", "path", "commit", "lang", "content", "content_sha256")
        .toPandas()
        .sort_values(["repo", "path"])
        .reset_index(drop=True)
    )


def assert_state_equal(got: pd.DataFrame, want: pd.DataFrame):
    pd.testing.assert_frame_equal(got, want, check_like=False)


def test_changelog_deterministic(spark, changelog):
    again = generate_changelog(spark, N_EVENTS, seed=42, n_repos=5, paths_per_repo=20, num_batches=4)
    a = changelog.toPandas().sort_values("offset").reset_index(drop=True)
    b = again.toPandas().sort_values("offset").reset_index(drop=True)
    pd.testing.assert_frame_equal(a, b)
    # different seed -> different log
    other = generate_changelog(spark, N_EVENTS, seed=7, n_repos=5, paths_per_repo=20, num_batches=4)
    assert not a["commit"].equals(other.toPandas().sort_values("offset").reset_index(drop=True)["commit"])


def test_replay_matches_oracle(spark, tmp_path, changelog, oracle_state):
    eng = ReplayEngine(spark, str(tmp_path / "t"), num_buckets=8)
    results = eng.replay(changelog)
    assert [r["batch_id"] for r in results] == [0, 1, 2, 3]
    assert not any(r["skipped"] for r in results)
    assert_state_equal(engine_state(eng), oracle_state)
    # lineage columns exist on every row
    cols = eng.read_state().columns
    assert "_ingest_offset" in cols and "_ingest_batch" in cols


def test_duplicate_batch_is_noop(spark, tmp_path, changelog, oracle_state):
    eng = ReplayEngine(spark, str(tmp_path / "t"), num_buckets=8)
    eng.replay(changelog, batches=[0, 1])
    # re-deliver batch 1, then continue
    r = eng.apply_batch(changelog, 1)
    assert r["skipped"]
    eng.replay(changelog, batches=[1, 2, 3])
    assert_state_equal(engine_state(eng), oracle_state)
    assert eng.applied_batches() == [0, 1, 2, 3]


def test_kill_and_resume(spark, tmp_path, changelog, oracle_state):
    root = str(tmp_path / "t")
    eng1 = ReplayEngine(spark, root, num_buckets=8)
    eng1.replay(changelog, batches=[0, 1])
    del eng1  # "crash"
    eng2 = ReplayEngine(spark, root, num_buckets=8)  # resumes from checkpoint
    assert eng2.applied_batches() == [0, 1]
    pending = [b for b in [0, 1, 2, 3] if b not in eng2.applied_batches()]
    assert pending == [2, 3]
    eng2.replay(changelog, batches=pending)
    assert_state_equal(engine_state(eng2), oracle_state)


def test_partition_and_bucket_independence(spark, tmp_path, changelog, oracle_state):
    """Invariant 3: bucket count / batch split must not change final state."""
    eng = ReplayEngine(spark, str(tmp_path / "t2"), num_buckets=3)
    eng.replay(changelog)
    assert_state_equal(engine_state(eng), oracle_state)


def test_single_batch_equivalence(spark, tmp_path, oracle_state):
    one = generate_changelog(spark, N_EVENTS, seed=42, n_repos=5, paths_per_repo=20, num_batches=1)
    eng = ReplayEngine(spark, str(tmp_path / "t3"), num_buckets=8)
    eng.replay(one)
    assert_state_equal(engine_state(eng), oracle_state)


def test_metrics_written(spark, tmp_path, changelog):
    eng = ReplayEngine(spark, str(tmp_path / "t"), num_buckets=8)
    eng.replay(changelog)
    m = eng.metrics().toPandas().sort_values("batch_id")
    assert list(m["batch_id"]) == [0, 1, 2, 3]
    assert m["rows_in"].sum() == N_EVENTS
    assert (m["upserts"] + m["deletes"] == m["distinct_keys"]).all()
    assert eng.fence_offset() == N_EVENTS - 1


def test_mor_replay_matches_oracle(spark, tmp_path, changelog, oracle_state):
    """Merge-on-read mode replays to the exact same final state."""
    eng = ReplayEngine(spark, str(tmp_path / "mor"), num_buckets=8, mode="mor",
                       compact_threshold=0)
    eng.replay(changelog)
    # deltas accumulated (no compaction): >1 file entry somewhere
    assert max(eng.table.delta_counts().values()) > 1
    assert_state_equal(engine_state(eng), oracle_state)


def test_mor_compaction_preserves_state(spark, tmp_path, changelog, oracle_state):
    eng = ReplayEngine(spark, str(tmp_path / "morc"), num_buckets=8, mode="mor",
                       compact_threshold=0)
    eng.replay(changelog)
    compacted = eng.compact(min_files=2)
    assert compacted  # something was folded
    assert max(eng.table.delta_counts().values()) == 1
    assert_state_equal(engine_state(eng), oracle_state)
    # idempotent: nothing left to compact
    assert eng.compact(min_files=2) == []


def test_mor_auto_compaction_and_resume(spark, tmp_path, changelog, oracle_state):
    root = str(tmp_path / "mora")
    eng = ReplayEngine(spark, root, num_buckets=8, mode="mor", compact_threshold=3)
    eng.replay(changelog, batches=[0, 1])
    del eng
    eng2 = ReplayEngine(spark, root, num_buckets=8, mode="mor", compact_threshold=3)
    assert eng2.applied_batches() == [0, 1]
    eng2.replay(changelog, batches=[2, 3])
    assert max(eng2.table.delta_counts().values()) < 3 + 1
    assert_state_equal(engine_state(eng2), oracle_state)


def test_mor_duplicate_batch_is_noop(spark, tmp_path, changelog, oracle_state):
    eng = ReplayEngine(spark, str(tmp_path / "mord"), num_buckets=8, mode="mor",
                       compact_threshold=0)
    eng.replay(changelog, batches=[0, 1])
    assert eng.apply_batch(changelog, 0)["skipped"]
    eng.replay(changelog, batches=[2, 3])
    assert_state_equal(engine_state(eng), oracle_state)


def test_guarded_conditional_delete(spark, tmp_path, changelog, oracle_state):
    """C3: D events for guarded keys are demoted to no-ops; everything
    else matches the unguarded oracle."""
    from pyspark.sql import functions as F

    # guard every key that receives at least one delete event
    guarded_keys = changelog.filter(F.col("op") == "D").select("repo", "path").distinct()
    eng = ReplayEngine(spark, str(tmp_path / "tg"), num_buckets=8, mode="mor",
                       compact_threshold=0)
    eng.replay(changelog, delete_guard=guarded_keys)
    got = engine_state(eng)

    # oracle: same log with all D events removed
    no_deletes = changelog.filter(F.col("op") != "D")
    from tests.oracle import apply_log_oracle

    want = apply_log_oracle(no_deletes.toPandas())
    assert_state_equal(got, want)
    # and it differs from the unguarded state (deletes would have fired)
    assert len(got) > len(oracle_state)


def test_rollback_and_reapply(spark, tmp_path, changelog, oracle_state):
    """Roll back a bad batch, then re-apply it: the fence restored with
    the old snapshot makes the engine accept the offsets again, and the
    final state matches the oracle."""
    eng = ReplayEngine(spark, str(tmp_path / "rb"), num_buckets=8)
    eng.replay(changelog, batches=[0, 1])
    v_good = eng.table.current_snapshot().version
    eng.replay(changelog, batches=[2])  # pretend batch 2 was bad
    assert eng.applied_batches() == [0, 1, 2]

    eng.table.rollback(v_good)
    assert eng.applied_batches() == [0, 1]
    assert eng.fence_offset() < changelog.filter("batch_id = 2").agg({"offset": "max"}).first()[0]

    eng.replay(changelog, batches=[2, 3])  # re-apply fixed batch + rest
    assert_state_equal(engine_state(eng), oracle_state)


def test_per_bucket_metrics_reconcile(spark, tmp_path, changelog):
    """Per-partition lineage: bucket-level counts sum to the batch-level
    metrics exactly, for every batch."""
    eng = ReplayEngine(spark, str(tmp_path / "pbm"), num_buckets=8)
    eng.replay(changelog)
    batch = {r["batch_id"]: r for r in eng.metrics().collect()}
    by_batch = (
        eng.bucket_metrics().groupBy("batch_id")
        .agg({"keys": "sum", "events": "sum", "deletes": "sum"})
        .collect()
    )
    assert len(by_batch) == len(batch) == 4
    for r in by_batch:
        b = batch[r["batch_id"]]
        assert r["sum(keys)"] == b["distinct_keys"]
        assert r["sum(events)"] == b["rows_in"]
        assert r["sum(deletes)"] == b["deletes"]
    # buckets per batch bounded by table layout
    assert eng.bucket_metrics().agg({"bucket": "max"}).first()[0] < 8


def test_metrics_survive_crash_around_commit(spark, tmp_path, monkeypatch):
    """A batch's metrics and lineage rows are written BEFORE its commit.
    A commit that never lands leaves its rows hidden (``metrics()`` shows
    applied batches only); a crash right AFTER a commit — resume then
    skips that batch — must not lose them: one row per applied batch."""
    from etl_spark.table.manifest import ManifestTable

    log = generate_changelog(spark, 900, seed=3, n_repos=3, paths_per_repo=10, num_batches=3)
    root = str(tmp_path / "t")
    real_commit = ManifestTable.commit_appended

    def fail_batch_1(commit_first):
        def commit(self, written, props=None, **kw):
            if props and props.get("applied_batches_watermark") == 1:
                if commit_first:
                    real_commit(self, written, props, **kw)
                raise RuntimeError("driver died")
            return real_commit(self, written, props, **kw)
        return commit

    monkeypatch.setattr(ManifestTable, "commit_appended", fail_batch_1(False))
    eng = ReplayEngine(spark, root, num_buckets=4, mode="mor")
    with pytest.raises(RuntimeError, match="driver died"):
        eng.replay(log)
    assert eng.applied_batches() == [0]
    assert [r["batch_id"] for r in eng.metrics().collect()] == [0]

    monkeypatch.setattr(ManifestTable, "commit_appended", fail_batch_1(True))
    with pytest.raises(RuntimeError, match="driver died"):
        ReplayEngine(spark, root, num_buckets=4, mode="mor").replay(log)
    monkeypatch.setattr(ManifestTable, "commit_appended", real_commit)

    eng = ReplayEngine(spark, root, num_buckets=4, mode="mor")
    res = eng.replay(log)
    assert [r["batch_id"] for r in res if r["skipped"]] == [0, 1]
    m = eng.metrics().toPandas()
    assert sorted(m["batch_id"]) == [0, 1, 2]
    assert m["rows_in"].sum() == 900
    lineage = eng.bucket_metrics().groupBy("batch_id").sum("events").collect()
    assert {r["batch_id"]: r["sum(events)"] for r in lineage} == dict(
        zip(m["batch_id"], m["rows_in"])
    )
