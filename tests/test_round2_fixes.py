"""Round-2 hardening tests: evolution-resume crash window, broadcast
LWW auto-fallback, duplicate-offset (double-read WAL) robustness, and
bucket-function format fencing."""

import json

import pytest

from etl_spark.cdc.changelog import generate_changelog
from etl_spark.cdc.replay import ReplayEngine
from etl_spark.schema import SCHEMA_EVOLUTION_SCHEMA
from etl_spark.table.manifest import ColumnDef, ManifestTable, TableSchema
from tests.oracle import apply_log_oracle


@pytest.fixture(scope="module")
def changelog(spark):
    df = generate_changelog(spark, 1200, seed=42, n_repos=4, paths_per_repo=10, num_batches=3)
    df.cache()
    df.count()
    return df


@pytest.fixture(scope="module")
def oracle_state(changelog):
    return apply_log_oracle(changelog.toPandas())


def engine_state(engine: ReplayEngine):
    return (
        engine.read_state()
        .select("repo", "path", "commit", "lang", "content", "content_sha256")
        .toPandas()
        .sort_values(["repo", "path"])
        .reset_index(drop=True)
    )


def test_crash_between_evolution_and_data_commit(spark, tmp_path, changelog, monkeypatch):
    """VERDICT r01 #4: the evolution commit records its own op offset in
    applied_schema_ops atomically — a crash BEFORE the batch's data
    commit must not re-apply the op (add_column would raise) on resume."""
    root = str(tmp_path / "t")
    ops = spark.createDataFrame(
        [(450, "add_column", "size_bytes", json.dumps({"type": "int"}))],
        SCHEMA_EVOLUTION_SCHEMA,
    )
    eng = ReplayEngine(spark, root, num_buckets=4)
    eng.replay(changelog, batches=[0], schema_ops=ops)

    # crash exactly between the evolution commit and the data commit of
    # batch 1 (the batch whose range covers offset 450): the replay
    # loop's write seam of the (cow) engine fails after the DDL barrier
    real_write = ManifestTable.write_rewrite_files

    def crash(*a, **k):
        raise RuntimeError("simulated crash after evolution commit")

    monkeypatch.setattr(ManifestTable, "write_rewrite_files", crash)
    with pytest.raises(RuntimeError, match="simulated crash"):
        eng.apply_batch(changelog, 1, schema_ops=ops)
    monkeypatch.setattr(ManifestTable, "write_rewrite_files", real_write)

    # the evolution snapshot is current and already carries the op record
    snap = eng.table.current_snapshot()
    assert snap.current_schema_version == 2
    assert snap.properties["applied_schema_ops"] == [450]
    assert eng.applied_batches() == [0]  # data commit never happened

    # fresh engine resumes cleanly: op NOT re-applied, batch re-runs
    eng2 = ReplayEngine(spark, root, num_buckets=4)
    results = eng2.replay(changelog, batches=[1, 2], schema_ops=ops)
    assert [r["schema_ops"] for r in results] == [0, 0]
    assert eng2.table.current_snapshot().current_schema_version == 2
    state = eng2.read_state()
    assert "size_bytes" in state.columns
    got = engine_state(eng2)
    want = apply_log_oracle(changelog.toPandas())
    import pandas as pd

    pd.testing.assert_frame_equal(got, want)


def test_double_read_wal_file_mor(spark, tmp_path, changelog, oracle_state):
    """ADVICE r01: a batch containing every event twice (double-read WAL
    file) must still resolve to exactly one row per key under mor — the
    read path's hash-agg kernel collapses byte-identical duplicate
    winners that the offset-equality merge join let through."""
    doubled = changelog.unionByName(changelog)
    eng = ReplayEngine(spark, str(tmp_path / "dd"), num_buckets=4, mode="mor",
                       compact_threshold=0)
    eng.replay(doubled)
    state = eng.read_state()
    assert state.groupBy("repo", "path").count().filter("count > 1").count() == 0
    import pandas as pd

    pd.testing.assert_frame_equal(engine_state(eng), oracle_state)
    # compaction of the duplicate-bearing deltas also stays single-row
    eng.compact(min_files=2)
    pd.testing.assert_frame_equal(engine_state(eng), oracle_state)


def test_incremental_changes_between_snapshots(spark, tmp_path, changelog):
    """mor change feed: files added between two snapshots are exactly the
    batches committed in between (winners + tombstones), and replaying
    only those deltas onto the older state reproduces the newer state."""
    from pyspark.sql import functions as F

    eng = ReplayEngine(spark, str(tmp_path / "inc"), num_buckets=4, mode="mor",
                       compact_threshold=0)
    eng.replay(changelog, batches=[0])
    v0 = eng.table.current_snapshot().version
    eng.replay(changelog, batches=[1, 2])
    v1 = eng.table.current_snapshot().version

    changes = eng.changes_between(v0, v1)
    # exactly the winner rows of batches 1 and 2
    assert set(r["_ingest_batch"] for r in changes.select("_ingest_batch").distinct().collect()) == {1, 2}
    batch_keys = (
        changelog.filter(F.col("batch_id").isin(1, 2)).select("repo", "path").distinct()
    )
    assert changes.select("repo", "path").distinct().count() == batch_keys.count()
    # one winner per key per batch (LWW pre-applied in the feed)
    assert (
        changes.groupBy("repo", "path", "_ingest_batch").count().filter("count > 1").count() == 0
    )


def test_stream_replay_with_schema_ops(spark, tmp_path, changelog):
    """Schema evolution through the STREAMING tail: ops interleaved in
    the offset stream apply mid-stream, same end schema as batch replay."""
    import json as _json

    from etl_spark.schema import SCHEMA_EVOLUTION_SCHEMA
    from etl_spark.streaming import stream_replay

    ops = spark.createDataFrame(
        [(450, "add_column", "size_bytes", _json.dumps({"type": "int"})),
         (810, "rename_column", "lang", _json.dumps({"new_name": "language"}))],
        SCHEMA_EVOLUTION_SCHEMA,
    )
    wal = str(tmp_path / "wal")
    changelog.write.mode("overwrite").parquet(wal)
    eng = stream_replay(
        spark, wal, str(tmp_path / "st"), str(tmp_path / "ckpt"),
        num_buckets=4, schema_ops=ops,
    )
    state = eng.read_state()
    assert "language" in state.columns and "size_bytes" in state.columns
    assert eng.table.current_snapshot().current_schema_version == 3

    # batch twin with the same ops ends in the identical state
    batch_eng = ReplayEngine(spark, str(tmp_path / "bt"), num_buckets=4)
    batch_eng.replay(changelog, schema_ops=ops)
    a = {(r["repo"], r["path"]): (r["commit"], r["language"], r["content_sha256"])
         for r in state.collect()}
    b = {(r["repo"], r["path"]): (r["commit"], r["language"], r["content_sha256"])
         for r in batch_eng.read_state().collect()}
    assert a == b


def test_expire_snapshots_vacuums_orphans(spark, tmp_path, changelog, oracle_state):
    """Snapshot expiry keeps the table readable and time travel for
    survivors, deletes orphaned data dirs, and preserves the fence
    bookkeeping (resume still refuses re-applied batches)."""
    import os

    eng = ReplayEngine(spark, str(tmp_path / "vac"), num_buckets=4)
    eng.replay(changelog)  # 3 batches -> several snapshots
    data_dir = str(tmp_path / "vac" / "data")
    dirs_before = len(os.listdir(data_dir))
    v_cur = eng.table.current_snapshot().version

    out = eng.table.expire_snapshots(keep_last=1)
    assert out["expired"] and out["deleted_dirs"] > 0
    assert len(os.listdir(data_dir)) < dirs_before

    # current state intact, byte for byte
    import pandas as pd

    pd.testing.assert_frame_equal(engine_state(eng), oracle_state)
    # expired versions no longer time-travelable
    with pytest.raises(FileNotFoundError):
        eng.table.snapshot_at(out["expired"][0])
    # survivor still readable; fence survives -> duplicate batch is a no-op
    assert eng.table.snapshot_at(v_cur).version == v_cur
    assert eng.apply_batch(changelog, 0)["skipped"]


def test_bucket_fn_mismatch_refuses_attach(spark, tmp_path):
    """ADVICE r01: snapshots record the bucket function; attaching a
    table written under a different one fails loudly instead of silently
    mis-bucketing cow merges."""
    import os

    root = str(tmp_path / "bf")
    t = ManifestTable.create(
        spark, root,
        TableSchema([ColumnDef(1, "k", "string"), ColumnDef(2, "v", "long")]),
        key_columns=["k"], num_buckets=2,
    )
    snap = t.current_snapshot()  # records murmur3_pmod / format v4
    assert snap.bucket_fn == "murmur3_pmod" and snap.format_version == 4

    # simulate a table written by a build using a different hash
    snap_dir = os.path.join(root, "_snapshots")
    with open(os.path.join(snap_dir, "_current")) as f:
        name = f.read().strip()
    p = os.path.join(snap_dir, name)
    d = json.loads(open(p).read())
    d["bucket_fn"] = "xxhash64_pmod"
    with open(p, "w") as f:
        f.write(json.dumps(d))
    with pytest.raises(
        ValueError,
        match="bucket function.*To migrate, re-create the table at a new "
        "root and replay its change feed into it",
    ):
        ManifestTable(spark, root, ["k"]).current_snapshot()
