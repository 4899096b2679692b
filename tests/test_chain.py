"""Table-to-table CDC chaining: a downstream table tails the upstream
table's change feed and converges to the identical final state, with
exactly-once guaranteed by the downstream offset fence (not the
watermark)."""

from __future__ import annotations

import pandas as pd
import pytest

from etl_spark.cdc.chain import WATERMARK_PROP, propagate_changes
from etl_spark.cdc.changelog import generate_changelog
from etl_spark.cdc.replay import ReplayEngine

N_EVENTS = 2000


@pytest.fixture(scope="module")
def changelog(spark):
    df = generate_changelog(
        spark, N_EVENTS, seed=21, n_repos=5, paths_per_repo=20, num_batches=4
    )
    df.cache()
    df.count()
    return df


def _state(eng: ReplayEngine) -> pd.DataFrame:
    return (
        eng.read_state()
        .select("repo", "path", "commit", "lang", "content", "content_sha256")
        .toPandas()
        .sort_values(["repo", "path"])
        .reset_index(drop=True)
    )


@pytest.mark.parametrize("modes", [("mor", "mor"), ("cow", "mor"), ("mor", "cow")])
def test_chain_converges_incrementally(spark, tmp_path, changelog, modes):
    src_mode, dst_mode = modes
    src = ReplayEngine(
        spark, str(tmp_path / f"src-{src_mode}-{dst_mode}"), num_buckets=4, mode=src_mode
    )
    dst = ReplayEngine(
        spark, str(tmp_path / f"dst-{src_mode}-{dst_mode}"), num_buckets=8, mode=dst_mode
    )

    # cycle 1: two upstream batches, then sync
    src.replay(changelog, batches=[0, 1])
    r1 = propagate_changes(src, dst)
    assert not r1["skipped"] and r1["events"] > 0
    pd.testing.assert_frame_equal(_state(dst), _state(src))

    # no new upstream commits -> no-op
    assert propagate_changes(src, dst)["skipped"]

    # cycle 2: the rest (upstream also compacts mid-window under mor)
    src.replay(changelog, batches=[2])
    if src_mode == "mor":
        src.compact(min_files=1)
    src.replay(changelog, batches=[3])
    r2 = propagate_changes(src, dst)
    assert not r2["skipped"]
    pd.testing.assert_frame_equal(_state(dst), _state(src))


def test_chain_expired_watermark(spark, tmp_path, changelog):
    """An expired upstream watermark snapshot: an EMPTY downstream
    bootstraps from the full current state; a populated one fails
    loudly (deletes in the lost window are unrecoverable)."""
    src = ReplayEngine(spark, str(tmp_path / "src"), num_buckets=4, mode="mor")
    src.replay(changelog)
    src.compact(min_files=1)
    # several more commits then expire everything old (incl. version 0)
    for _ in range(3):
        src.table.commit_appended({})
    src.table.expire_snapshots(keep_last=2)
    assert 0 not in src.table._snapshot_versions()

    fresh = ReplayEngine(spark, str(tmp_path / "fresh"), num_buckets=4, mode="mor")
    r = propagate_changes(src, fresh)
    assert not r["skipped"] and r["events"] > 0
    pd.testing.assert_frame_equal(_state(fresh), _state(src))

    # a populated downstream whose watermark expired must refuse
    stale = ReplayEngine(spark, str(tmp_path / "stale"), num_buckets=4, mode="mor")
    stale.replay(changelog, batches=[0])  # has data, watermark property 0
    with pytest.raises(ValueError, match="expired"):
        propagate_changes(src, stale)


def test_chain_schema_mismatch_refused(spark, tmp_path, changelog):
    from etl_spark.cdc.replay import CDC_TARGET_COLUMNS
    from etl_spark.table.manifest import ColumnDef

    src_cols = [ColumnDef(c.id, c.name, c.type, c.default) for c in CDC_TARGET_COLUMNS]
    src_cols.append(ColumnDef(100, "extra_dim", "string"))
    src = ReplayEngine(
        spark, str(tmp_path / "src"), num_buckets=4, mode="mor",
        target_columns=src_cols,
    )
    dst = ReplayEngine(spark, str(tmp_path / "dst"), num_buckets=4, mode="mor")
    src.replay(changelog.withColumn("extra_dim", changelog["lang"]), batches=[0])
    with pytest.raises(ValueError, match="extra_dim"):
        propagate_changes(src, dst)


def test_mode_mismatch_attach_refused(spark, tmp_path, changelog):
    """A mor table attached as cow would silently read raw duplicate
    versions; the engine refuses, and ``attach`` picks the recorded
    mode automatically."""
    root = str(tmp_path / "m")
    eng = ReplayEngine(spark, root, num_buckets=4, mode="mor")
    eng.replay(changelog, batches=[0])
    with pytest.raises(ValueError, match="mode='mor'"):
        ReplayEngine(spark, root, num_buckets=4, mode="cow")
    again = ReplayEngine.attach(spark, root, num_buckets=4)
    assert again.mode == "mor"
    assert again.read_state().count() == eng.read_state().count()


def test_chain_lost_watermark_is_idempotent(spark, tmp_path, changelog):
    """Crash between the downstream data commit and the watermark
    commit: the next cycle re-reads the same window, but every row's
    original offset is at or below the downstream fence — the replayed
    batch is empty and the state unchanged."""
    src = ReplayEngine(spark, str(tmp_path / "src"), num_buckets=4, mode="mor")
    dst = ReplayEngine(spark, str(tmp_path / "dst"), num_buckets=4, mode="mor")
    src.replay(changelog)
    r1 = propagate_changes(src, dst)
    assert r1["events"] > 0
    before = _state(dst)

    # simulate the crash: rewind the watermark only
    dst.table.commit_appended({}, {WATERMARK_PROP: 0})
    r2 = propagate_changes(src, dst)
    assert not r2["skipped"]
    assert r2["events"] == 0  # everything fenced
    pd.testing.assert_frame_equal(_state(dst), before)


def test_chain_across_upstream_ddl_refuses_then_syncs_after_matching_ddl(
    spark, tmp_path, changelog
):
    """The operational DDL-propagation story end-to-end: an upstream
    add_column makes the next sync refuse loudly (a silent column drop
    would be a divergent replica); applying the matching DDL downstream
    lets the SAME window sync, and the defaulted column arrives with
    exact value parity."""
    import json

    from etl_spark.schema import SCHEMA_EVOLUTION_SCHEMA

    src = ReplayEngine(spark, str(tmp_path / "sddl"), num_buckets=4)
    dst = ReplayEngine(spark, str(tmp_path / "dddl"), num_buckets=4)
    ops = spark.createDataFrame(
        [(700, "add_column", "note", json.dumps({"type": "string", "default": "N"}))],
        SCHEMA_EVOLUTION_SCHEMA,
    )
    src.replay(changelog, batches=[0])
    propagate_changes(src, dst)
    src.replay(changelog, batches=[1, 2, 3], schema_ops=ops)
    with pytest.raises(ValueError, match="lacks upstream payload columns \\['note'\\]"):
        propagate_changes(src, dst)
    dst.table.add_column("note", "string", "N")
    r = propagate_changes(src, dst)
    assert not r["skipped"] and r["events"] > 0
    cols = ["repo", "path", "commit", "content_sha256", "note"]
    s = (src.read_state().select(cols).toPandas()
         .sort_values(["repo", "path"]).reset_index(drop=True))
    t = (dst.read_state().select(cols).toPandas()
         .sort_values(["repo", "path"]).reset_index(drop=True))
    assert s.equals(t)
    assert set(t["note"].unique()) == {"N"}
