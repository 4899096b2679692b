"""Structured Streaming surface: streaming replay == batch replay;
windowed aggregation batch/stream equivalence."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from etl_spark.cdc.changelog import generate_changelog
from etl_spark.cdc.replay import ReplayEngine
from etl_spark.streaming import stream_replay, windowed_event_counts

N_EVENTS = 2000
GEN = dict(seed=7, n_repos=5, paths_per_repo=20, num_batches=4)


@pytest.fixture(scope="module")
def changelog(spark):
    return generate_changelog(spark, N_EVENTS, **GEN).cache()


def _state(engine):
    return {
        (r["repo"], r["path"]): (r["commit"], r["content_sha256"])
        for r in engine.read_state().collect()
    }


def test_stream_replay_matches_batch_replay(spark, tmp_path, changelog):
    # batch reference
    batch_engine = ReplayEngine(spark, str(tmp_path / "batch_table"), num_buckets=4)
    batch_engine.replay(changelog)

    # streaming: WAL files land in a directory, one file per logical batch
    wal = tmp_path / "wal"
    for b in range(GEN["num_batches"]):
        changelog.filter(F.col("batch_id") == b).coalesce(1).write.mode("append").parquet(str(wal))

    engine = stream_replay(
        spark,
        str(wal),
        str(tmp_path / "stream_table"),
        str(tmp_path / "ckpt"),
        num_buckets=4,
    )
    assert _state(engine) == _state(batch_engine)
    # fence covers every applied batch exactly once
    assert sorted(engine.applied_batches()) == list(range(GEN["num_batches"]))


def test_stream_replay_resume_is_noop_on_rerun(spark, tmp_path, changelog):
    wal = tmp_path / "wal2"
    changelog.coalesce(1).write.mode("append").parquet(str(wal))
    root, ckpt = str(tmp_path / "t2"), str(tmp_path / "ckpt2")
    e1 = stream_replay(spark, str(wal), root, ckpt, num_buckets=4)
    n1 = e1.read_state().count()
    fence1 = e1.fence_offset()
    # second run: stream checkpoint says nothing new; engine fence agrees
    e2 = stream_replay(spark, str(wal), root, ckpt, num_buckets=4)
    assert e2.read_state().count() == n1
    assert e2.fence_offset() == fence1


def test_windowed_counts_stream_equals_batch(spark, tmp_path, sf_dir):
    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    batch = windowed_event_counts(events)

    import shutil

    src_dir = tmp_path / "events_stream"
    src_dir.mkdir()
    shutil.copy(f"{sf_dir}/events.parquet", src_dir / "part-0.parquet")
    stream = spark.readStream.schema(events.schema).parquet(str(src_dir))
    q = (
        windowed_event_counts(stream)
        .writeStream.format("memory")
        .queryName("win_counts")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "wc_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r["window_start"], r["event_type"]): (r["n_events"], r["total_value"])
        for r in spark.sql("SELECT * FROM win_counts").collect()
    }
    want = {
        (r["window_start"], r["event_type"]): (r["n_events"], r["total_value"])
        for r in batch.collect()
    }
    assert got == want


def test_stateful_lww_stream_matches_batch(spark, tmp_path, changelog):
    """applyInPandasWithState incremental LWW: each key's LAST emission
    across all triggers equals the batch LWW winner state."""
    from etl_spark.cdc.lww import lww_winners
    from etl_spark.streaming.stateful import stream_lww_state

    wal = tmp_path / "wal_state"
    for b in range(GEN["num_batches"]):
        changelog.filter(F.col("batch_id") == b).coalesce(1).write.mode("append").parquet(str(wal))

    stream = (
        spark.readStream.schema(changelog.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(wal))
    )
    q = (
        stream_lww_state(stream)
        .writeStream.format("memory")
        .queryName("lww_state_stream")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "st_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    out = spark.sql("SELECT * FROM lww_state_stream").toPandas()
    # last emission per key = the one carrying the greatest (commit, offset)
    out = out.sort_values(["commit", "offset"]).groupby(["repo", "path"]).tail(1)
    got = {
        (r.repo, r.path): (r.commit, r.offset)
        for r in out.itertuples()
        if not r.deleted
    }
    want = {
        (r["repo"], r["path"]): (r["commit"], r["offset"])
        for r in lww_winners(changelog).filter(F.col("op") != "D").collect()
    }
    assert got == want


def test_stateful_lww_stream_null_commits_match_batch(spark, tmp_path):
    """NULL commits in the streaming state operator follow the batch
    struct-ordering contract: a NULL commit LOSES to every non-NULL
    commit (within a trigger AND against stored state), and offset
    breaks ties among NULLs. Pinned because pandas' default
    sort_values(na_position='last') and a naive `cur_commit is None`
    fresh-state test each silently invert one of these cases."""
    from etl_spark.cdc.lww import lww_winners
    from etl_spark.streaming.stateful import stream_lww_state

    # (offset, op, repo, path, commit, lang, content, batch_id)
    trigger1 = [
        # key A: NULL commit at a HIGHER offset must lose the in-trigger
        # fold to commit "c1" at a lower offset
        (2, "U", "r", "A", "c1", "py", "a-c1", 0),
        (5, "U", "r", "A", None, "py", "a-null", 0),
        # key B: only NULL commits — offset tie-break picks offset 3
        (1, "U", "r", "B", None, "py", "b-n1", 0),
        (3, "U", "r", "B", None, "py", "b-n3", 0),
        # key C: a NULL-commit delete is a legitimate stored winner
        (4, "D", "r", "C", None, None, None, 0),
    ]
    trigger2 = [
        # key A: later NULL-commit event must lose to STORED "c1"
        (9, "U", "r", "A", None, "py", "a-null9", 1),
        # key B: non-NULL commit at offset 0 must beat the stored
        # NULL-commit winner despite the lower offset
        (0, "U", "r", "B", "a0", "py", "b-a0", 1),
        # key C: NULL commit at a lower offset loses to the stored
        # NULL-commit delete (offset 4) — fresh-state flag, not
        # `cur_commit is None`, is what keeps the delete in place
        (2, "U", "r", "C", None, "py", "c-n2", 1),
    ]
    schema = (
        "offset long, op string, repo string, path string, "
        "commit string, lang string, content string, batch_id int"
    )
    log = spark.createDataFrame(trigger1 + trigger2, schema)

    wal = tmp_path / "wal_null"
    for b in (0, 1):
        log.filter(F.col("batch_id") == b).coalesce(1).write.mode("append").parquet(str(wal))
    stream = (
        spark.readStream.schema(log.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(wal))
    )
    q = (
        stream_lww_state(stream)
        .writeStream.format("memory")
        .queryName("lww_null_stream")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "null_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    out = spark.sql("SELECT * FROM lww_null_stream").toPandas()
    # last emission per key = greatest order key, NULL commit lowest
    out = out.sort_values(["commit", "offset"], na_position="first")
    out = out.groupby(["repo", "path"]).tail(1)
    got = {
        (r.repo, r.path): (r.commit if pd.notna(r.commit) else None, r.offset, r.deleted)
        for r in out.itertuples()
    }
    want = {
        (r["repo"], r["path"]): (r["commit"], r["offset"], r["op"] == "D")
        for r in lww_winners(log).collect()
    }
    assert got == want
    assert got[("r", "A")] == ("c1", 2, False)
    assert got[("r", "B")] == ("a0", 0, False)
    assert got[("r", "C")] == (None, 4, True)


def test_stream_replay_survives_batch_splitting_triggers(spark, tmp_path, changelog):
    """A trigger chunk that SPLITS a logical WAL batch must not lose the
    batch's remaining events: the carry mechanism defers the highest
    (possibly open) batch id of each micro-batch until a higher id — or
    the end of the backlog — proves it complete. Seven range-partitioned
    part files over four logical batches + maxFilesPerTrigger=1 forces
    several splits."""
    batch_engine = ReplayEngine(spark, str(tmp_path / "bt"), num_buckets=4)
    batch_engine.replay(changelog)

    wal = tmp_path / "wal_split"
    # contiguous offset runs per part file, boundaries INSIDE batches
    changelog.repartitionByRange(7, "offset").write.mode("append").parquet(str(wal))
    # a real tailed WAL's files LAND in offset order over time; a bulk
    # write finishes tasks in arbitrary order, so impose the arrival
    # contract explicitly (the file source triggers in mtime order —
    # without this the out-of-order guard correctly fails the stream)
    import os
    import time as _time

    parts = sorted(p for p in os.listdir(wal) if p.startswith("part-"))
    now = _time.time()
    for i, p in enumerate(parts):
        os.utime(wal / p, (now + i, now + i))

    engine = stream_replay(
        spark, str(wal), str(tmp_path / "st"), str(tmp_path / "ck_split"),
        num_buckets=4, max_files_per_trigger=1,
    )
    assert _state(engine) == _state(batch_engine)
    assert sorted(engine.applied_batches()) == list(range(GEN["num_batches"]))
    # every event reached exactly one applied batch — nothing was
    # fence-dropped as a phantom partial
    total = sum(r["rows_in"] for r in engine.metrics().collect())
    assert total == N_EVENTS
    # the carry directory is drained and removed at stream end
    import os

    assert not os.path.exists(str(tmp_path / "ck_split" / "batch_carry"))


def test_stream_refuses_reopened_batch_across_runs(spark, tmp_path, changelog):
    """An availableNow run that drains while the producer is still
    appending the last batch's files marks that id applied at a partial
    fence. The NEXT run must refuse the late tail loudly (reopened-batch
    guard) — before the guard, the id-level exactly-once skip silently
    discarded those events."""
    last = GEN["num_batches"] - 1
    tail = changelog.filter(F.col("batch_id") == last)
    offs = sorted(r[0] for r in tail.select("offset").collect())
    cut = offs[len(offs) // 2]

    wal = tmp_path / "wal_reopen"
    changelog.filter(
        (F.col("batch_id") < last) | (F.col("offset") <= cut)
    ).coalesce(1).write.mode("append").parquet(str(wal))
    ckpt = str(tmp_path / "ck_reopen")
    e1 = stream_replay(spark, str(wal), str(tmp_path / "t_reopen"), ckpt, num_buckets=4)
    assert sorted(e1.applied_batches()) == list(range(GEN["num_batches"]))
    assert e1.fence_offset() == cut

    # producer finishes the batch after the drain
    tail.filter(F.col("offset") > cut).coalesce(1).write.mode("append").parquet(str(wal))
    with pytest.raises(Exception, match="reopened a closed batch"):
        stream_replay(spark, str(wal), str(tmp_path / "t_reopen"), ckpt, num_buckets=4)


def test_batch_replay_refuses_reopened_batch(spark, tmp_path, changelog):
    """Same guard on the batch replay loop: events arriving for an
    already-applied batch id ABOVE the committed fence are refused, not
    skipped away."""
    offs = sorted(
        r[0] for r in changelog.filter(F.col("batch_id") == 0).select("offset").collect()
    )
    cut = offs[len(offs) // 2]
    eng = ReplayEngine(spark, str(tmp_path / "t_breopen"), num_buckets=4)
    eng.replay(changelog.filter(F.col("offset") <= cut), batches=[0])
    with pytest.raises(ValueError, match="reopened a closed batch"):
        eng.replay(changelog)


def test_stream_refuses_null_key_before_commit(spark, tmp_path, changelog):
    """The streaming bounds job carries the WAL-contract NULL audit: a
    WAL file with a NULL key refuses the trigger loudly, and nothing
    commits past the table's creation."""
    wal = tmp_path / "wal_null"
    changelog.withColumn(
        "path",
        F.when(F.col("offset") == F.lit(changelog.agg(F.min("offset")).first()[0]),
               F.lit(None)).otherwise(F.col("path")),
    ).coalesce(1).write.mode("append").parquet(str(wal))
    root = str(tmp_path / "t_null")
    with pytest.raises(Exception, match="violates the WAL contract"):
        stream_replay(spark, str(wal), root, str(tmp_path / "ck_null"), num_buckets=4)
    eng = ReplayEngine.attach(spark, root)
    assert eng.table.current_snapshot().version == 0
    assert eng.applied_batches() == []


def test_stream_refuses_bad_ops_feed_before_staging_carry(spark, tmp_path, changelog):
    """The trigger's preflight validates the schema-ops feed before the
    open batch is staged: a trigger holding several batch ids with an
    op whose offset is NULL refuses loudly and leaves no carry behind."""
    import os

    wal = tmp_path / "wal_bad_ops"
    changelog.coalesce(1).write.mode("append").parquet(str(wal))
    ops = spark.createDataFrame(
        [(None, "add_column", "a", '{"type": "string"}')],
        "offset long, kind string, column string, detail string",
    )
    root, ckpt = str(tmp_path / "t_bad_ops"), tmp_path / "ck_bad_ops"
    with pytest.raises(Exception, match="NULL in a required field"):
        stream_replay(spark, str(wal), root, str(ckpt), num_buckets=4, schema_ops=ops)
    carry = ckpt / "batch_carry"
    assert not (carry.exists() and any(p.startswith("v=") for p in os.listdir(carry)))
    eng = ReplayEngine.attach(spark, root)
    assert eng.table.current_snapshot().version == 0
