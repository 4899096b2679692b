"""Regression tests for the round-5 CDC review closures:

1. classify: a terminal-status row whose KEY columns contain NULL is
   processed, not silently dropped (the active-key join can't match a
   null key, so the suppression predicate went NULL).
2. schema projection: values the wire carries for columns ADDED after
   schema v1 land in the table (they used to be replaced by the column
   default because wire names resolved through v1 only).
3. chain: the source-version watermark commits ATOMICALLY with the
   propagated batch (a separate lose-able commit could wedge a crashed
   bootstrap forever).
4. replay refuses the two silent-data-loss shapes loudly: a non-WAL
   changelog (batch ids not ascending with offsets) and out-of-order
   batch application across calls.
5. the changelog generator's advertised same-commit ties actually
   occur (the hash suffix used to differ per offset, so the
   (commit, offset) tie-break branch was never exercised).
6. the mor pipelined replay re-checks the compaction threshold after
   the final drain, matching the sequential path's end state.
"""

from __future__ import annotations

import json

import pandas as pd
import pytest
from pyspark.sql import functions as F

from etl_spark.cdc.changelog import generate_changelog
from etl_spark.cdc.chain import WATERMARK_PROP, propagate_changes
from etl_spark.cdc.classify import classify_events
from etl_spark.cdc.replay import ReplayEngine
from etl_spark.schema import SCHEMA_EVOLUTION_SCHEMA


def test_classify_null_key_terminal_row_not_dropped(spark):
    rows = [
        ("r1", "a", "0"),     # active
        ("r1", "a", "7"),     # terminal on active key -> suppressed
        ("r2", "b", "7"),     # terminal on inactive key -> processed
        (None, "c", "7"),     # terminal with NULL key -> must survive
        (None, "d", None),    # null status + null key -> plain upsert
    ]
    df = spark.createDataFrame(rows, "repo string, path string, status string")
    out = classify_events(df).toPandas()
    # the active-key suppression still works
    assert len(out[(out["repo"] == "r1") & (out["status"] == "7")]) == 0
    assert list(out[out["repo"] == "r2"]["op"]) == ["U"]
    # null-keyed rows flow through as ordinary events
    nulls = out[out["repo"].isnull()]
    assert sorted(nulls["path"]) == ["c", "d"]
    assert set(nulls["op"]) == {"U"}


def test_added_column_values_ride_the_wire(spark, tmp_path):
    """Events after an add_column DDL carry the new column's values on
    the wire under its add-time name; the projection must store them,
    not the column default."""
    base = [
        (i, "U", "r", f"p{i}", f"{i:012d}-x", "py", f"c{i}", None, 0)
        for i in range(5)
    ]
    post = [
        (10 + i, "U", "r", f"q{i}", f"{10 + i:012d}-x", "py", f"d{i}", 100 + i, 1)
        for i in range(5)
    ]
    events = spark.createDataFrame(
        base + post,
        "offset long, op string, repo string, path string, commit string, "
        "lang string, content string, size_bytes int, batch_id int",
    )
    ops = spark.createDataFrame(
        [(7, "add_column", "size_bytes", json.dumps({"type": "int"}))],
        SCHEMA_EVOLUTION_SCHEMA,
    )
    eng = ReplayEngine(spark, str(tmp_path / "t"), num_buckets=4)
    eng.replay(events, schema_ops=ops)
    state = eng.read_state().toPandas().sort_values("path").reset_index(drop=True)
    pre = state[state["path"].str.startswith("p")]
    got = state[state["path"].str.startswith("q")]
    assert pre["size_bytes"].isnull().all()          # pre-DDL rows: default
    assert sorted(got["size_bytes"]) == [100 + i for i in range(5)]


def test_chain_watermark_commits_atomically_with_batch(spark, tmp_path):
    log = generate_changelog(
        spark, 600, seed=5, n_repos=3, paths_per_repo=10, num_batches=2
    )
    src = ReplayEngine(spark, str(tmp_path / "src"), num_buckets=4)
    dst = ReplayEngine(spark, str(tmp_path / "dst"), num_buckets=4)
    src.replay(log, batches=[0])

    before = len(dst.table._snapshot_versions())
    r1 = propagate_changes(src, dst)
    after = len(dst.table._snapshot_versions())
    # exactly ONE downstream commit: the batch, with the watermark in it
    assert after - before == 1
    props = dst.table.current_snapshot().properties
    assert int(props[WATERMARK_PROP]) == r1["src_version"]
    # a crashed-and-retried cycle converges instead of wedging
    assert propagate_changes(src, dst)["skipped"]
    src.replay(log, batches=[1])
    r2 = propagate_changes(src, dst)
    assert not r2["skipped"]
    want = (
        src.read_state().select("repo", "path", "content_sha256").toPandas()
        .sort_values(["repo", "path"]).reset_index(drop=True)
    )
    got = (
        dst.read_state().select("repo", "path", "content_sha256").toPandas()
        .sort_values(["repo", "path"]).reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got, want)


def test_out_of_order_batch_application_raises(spark, tmp_path):
    log = generate_changelog(
        spark, 600, seed=9, n_repos=3, paths_per_repo=10, num_batches=3
    )
    eng = ReplayEngine(spark, str(tmp_path / "t"), num_buckets=4)
    eng.replay(log, batches=[1])
    # batch 0's offsets are below the committed fence now: applying it
    # would silently drop every event — refuse loudly on both surfaces
    with pytest.raises(ValueError, match="out-of-order"):
        eng.replay(log, batches=[0])
    with pytest.raises(ValueError, match="out-of-order"):
        eng.apply_batch(log, 0)
    # ascending application still works
    assert not eng.replay(log, batches=[2])[0].get("skipped")


def test_non_wal_changelog_refused(spark, tmp_path):
    log = generate_changelog(
        spark, 600, seed=11, n_repos=3, paths_per_repo=10, num_batches=2
    )
    # invert the batch ids: ids no longer ascend with offsets
    bad = log.withColumn("batch_id", F.lit(1) - F.col("batch_id"))
    eng = ReplayEngine(spark, str(tmp_path / "t"), num_buckets=4)
    with pytest.raises(ValueError, match="WAL-shaped"):
        eng.replay(bad)


def test_changelog_generates_real_commit_ties(spark):
    log = generate_changelog(
        spark, 4000, seed=3, n_repos=4, paths_per_repo=20, num_batches=1
    )
    tied = (
        log.groupBy("commit")
        .agg(F.count("*").alias("n"), F.countDistinct("offset").alias("d"))
        .filter("n > 1")
    )
    rows = tied.collect()
    assert rows, "no same-commit ties generated — tie-break untested"
    # ties are real LWW ties: same commit string, distinct offsets
    assert all(r["d"] == r["n"] for r in rows)


def test_pipelined_replay_compacts_after_final_drain(spark, tmp_path):
    log = generate_changelog(
        spark, 1200, seed=17, n_repos=2, paths_per_repo=8, num_batches=4
    )
    eng = ReplayEngine(
        spark, str(tmp_path / "t"), num_buckets=2, mode="mor",
        compact_threshold=2,
    )
    # depth = batch count: every commit lands in the terminal drain,
    # after the last in-loop threshold check
    eng.replay(log, pipeline_depth=4)
    counts = eng.table.delta_counts()
    assert all(n < 2 for n in counts.values()), counts
