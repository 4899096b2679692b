"""Bucket-layout evolution: rebucket rewrites the table under a new
bucket count in one atomic snapshot; state, replay continuation, point
lookups, and time travel all follow each snapshot's own recorded
layout."""

from __future__ import annotations

import pandas as pd
import pytest

from etl_spark.cdc.changelog import generate_changelog
from etl_spark.cdc.replay import ReplayEngine
from etl_spark.table.manifest import CommitConflictError, ManifestTable, bucket_expr
from tests.oracle import apply_log_oracle


@pytest.fixture(scope="module")
def changelog(spark):
    df = generate_changelog(
        spark, 2000, seed=31, n_repos=5, paths_per_repo=20, num_batches=4
    )
    df.cache()
    df.count()
    return df


def _state(eng):
    return (
        eng.read_state()
        .select("repo", "path", "commit", "lang", "content", "content_sha256")
        .toPandas()
        .sort_values(["repo", "path"])
        .reset_index(drop=True)
    )


def test_rebucket_preserves_state_and_replay_continues(spark, tmp_path, changelog):
    oracle = apply_log_oracle(changelog.toPandas())
    for mode in ("mor", "cow"):
        eng = ReplayEngine(spark, str(tmp_path / f"t-{mode}"), num_buckets=4, mode=mode)
        eng.replay(changelog, batches=[0, 1])
        before = _state(eng)
        v_before = eng.table.current_snapshot().version

        eng.rebucket(16)
        snap = eng.table.current_snapshot()
        assert snap.num_buckets == 16
        assert all(
            len(es) >= 1 and all(e["kind"] == "base" for e in es)
            for es in snap.files.values()
        )
        pd.testing.assert_frame_equal(_state(eng), before)

        # every file holds only rows of its bucket under the NEW layout
        for b, es in snap.files.items():
            for e in es:
                got = spark.read.parquet(e["path"])
                assert got.filter(bucket_expr(["repo", "path"], 16) != b).count() == 0

        # point lookup routes through the new layout
        probe = eng.read_state().first()
        hit = eng.lookup(repo=probe["repo"], path=probe["path"]).collect()
        assert len(hit) == 1 and hit[0]["content_sha256"] == probe["content_sha256"]

        # time travel to the pre-rebucket snapshot still resolves (old layout)
        got_old = {
            (r["repo"], r["path"], r["content_sha256"])
            for r in eng.read_state(at_version=v_before).collect()
        }
        assert got_old == {
            tuple(x) for x in before[["repo", "path", "content_sha256"]].itertuples(index=False)
        }

        # replay continues under the new layout to the exact oracle state
        eng.replay(changelog, batches=[2, 3])
        pd.testing.assert_frame_equal(_state(eng), oracle.reset_index(drop=True))


def test_rebucket_cli(spark, tmp_path, changelog, capsys):
    import json

    from etl_spark.cli import main

    wal = str(tmp_path / "wal")
    changelog.write.mode("overwrite").parquet(wal)
    table = str(tmp_path / "tcli")
    assert main(["replay", "--changelog", wal, "--table", table, "--mode", "mor"]) == 0
    capsys.readouterr()
    assert main(["rebucket", "--table", table, "--new-buckets", "32",
                 "--mode", "mor"]) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["num_buckets"] == 32 and out["rows_in_files"] > 0


def test_chain_survives_upstream_rebucket(spark, tmp_path, changelog):
    """An upstream rebucket is a whole-table rewrite; its echoes carry
    old offsets that the downstream fence drops — the chain stays
    converged and later increments still flow."""
    from etl_spark.cdc.chain import propagate_changes

    src = ReplayEngine(spark, str(tmp_path / "src"), num_buckets=4, mode="mor")
    dst = ReplayEngine(spark, str(tmp_path / "dst"), num_buckets=4, mode="mor")
    src.replay(changelog, batches=[0, 1])
    propagate_changes(src, dst)

    src.rebucket(16)
    r = propagate_changes(src, dst)  # rewrite echo -> fenced to nothing
    assert not r["skipped"] and r["events"] == 0
    pd.testing.assert_frame_equal(_state(dst), _state(src))

    src.replay(changelog, batches=[2, 3])
    r = propagate_changes(src, dst)
    assert r["events"] > 0
    pd.testing.assert_frame_equal(_state(dst), _state(src))


def test_append_across_rebucket_refused(spark, tmp_path, changelog):
    """The reverse interleaving: delta files WRITTEN under the old
    layout must not commit after a rebucket replaced it — their rows
    would sit in wrong-bucket entries, invisible to key-pruned reads."""
    eng = ReplayEngine(spark, str(tmp_path / "x"), num_buckets=4, mode="mor")
    eng.replay(changelog, batches=[0])
    old_snap = eng.table.current_snapshot()
    written = eng.table.write_delta_files(
        eng.table.read(snapshot=old_snap).limit(10), old_snap
    )
    eng.rebucket(8)
    with pytest.raises(CommitConflictError, match="bucket layout|rebucket"):
        eng.table.commit_appended(written)


def test_time_travel_to_expired_version_is_valueerror(spark, tmp_path, changelog):
    eng = ReplayEngine(spark, str(tmp_path / "tt"), num_buckets=4, mode="mor")
    eng.replay(changelog)
    with pytest.raises(ValueError, match="never existed or"):
        eng.read_state(at_version=999)


def test_stats_columns_attach_mismatch_refused(spark, tmp_path, changelog):
    root = str(tmp_path / "sc")
    ReplayEngine(spark, root, num_buckets=4, mode="mor").replay(
        changelog, batches=[0]
    )
    with pytest.raises(ValueError, match="CREATE-time knob"):
        ReplayEngine(spark, root, num_buckets=4, mode="mor", stats_columns=["commit"])


def test_bucket_skew_counts_empty_buckets(spark, tmp_path):
    """All data in one of 8 buckets must report skew 8, not 1."""
    from pyspark.sql import functions as F

    eng = ReplayEngine(spark, str(tmp_path / "sk"), num_buckets=8, mode="cow")
    one_key = spark.range(5).select(
        F.lit("r0").alias("repo"), F.lit("p0").alias("path"),
        F.concat(F.lit("c"), F.col("id").cast("string")).alias("commit"),
        F.lit("go").alias("lang"), F.lit("x").alias("content"),
        F.lit(None).cast("string").alias("content_sha256"),
        F.col("id").alias("_ingest_offset"),
        F.lit(0).cast("int").alias("_ingest_batch"),
        F.lit(False).alias("_deleted"),
    )
    eng.table.overwrite(one_key)
    assert eng.describe()["bucket_skew"] == pytest.approx(8.0)


def test_rebucket_conflict_detected(spark, tmp_path, changelog, monkeypatch):
    eng = ReplayEngine(spark, str(tmp_path / "c"), num_buckets=4, mode="mor")
    eng.replay(changelog, batches=[0])
    stale = eng.table.current_snapshot()
    # concurrent append lands after the basis read
    eng.table.append_buckets(eng.table.read(snapshot=stale).limit(10))

    real = ManifestTable.current_snapshot
    calls = {"n": 0}

    def once_stale(self):
        calls["n"] += 1
        return stale if calls["n"] == 1 else real(self)

    monkeypatch.setattr(ManifestTable, "current_snapshot", once_stale)
    with pytest.raises(CommitConflictError, match="rebucket"):
        eng.table.rebucket(8)
