"""Write-audit-publish (WAP) staging tests.

The production gate for CDC ingest (Iceberg's WAP pattern): land a
batch's commits in the table history but keep them invisible to
published readers until an audit passes. One metadata-only commit opens
the window (properties carry forward, so every subsequent commit kind
inherits the staged flag), one publishes it atomically, and a discard
is a metadata-only rollback to the pinned base whose restored fence
properties let the fixed feed simply replay.

No reference analog (the reference pandas ETL writes directly); this is
lake-engine infrastructure the north rule's exactly-once story needs
once an audit step sits between ingest and consumption.
"""

from __future__ import annotations

import pandas as pd
import pytest

from etl_spark.cdc.changelog import generate_changelog
from etl_spark.cdc.replay import ReplayEngine
from tests.oracle import apply_log_oracle

N_EVENTS = 2000
COLS = ["repo", "path", "commit", "lang", "content", "content_sha256"]


@pytest.fixture(scope="module")
def changelog(spark):
    df = generate_changelog(
        spark, N_EVENTS, seed=42, n_repos=5, paths_per_repo=20, num_batches=4
    )
    df.cache()
    df.count()
    return df


@pytest.fixture(scope="module")
def oracle_state(changelog):
    return apply_log_oracle(changelog.toPandas())


def _state(engine: ReplayEngine, **kw) -> pd.DataFrame:
    return (
        engine.read_state(**kw)
        .select(*COLS)
        .toPandas()
        .sort_values(["repo", "path"])
        .reset_index(drop=True)
    )


@pytest.mark.parametrize("mode", ["mor", "cow"])
def test_staged_invisible_until_publish(spark, tmp_path, changelog, oracle_state, mode):
    eng = ReplayEngine(spark, str(tmp_path / f"t_{mode}"), num_buckets=8, mode=mode)
    eng.replay(changelog, batches=[0])
    base_state = _state(eng)

    base_version = eng.stage_begin()
    assert eng.staged()
    eng.replay(changelog, batches=[1, 2, 3])

    # the audit sees the staged state; published readers see the base
    pd.testing.assert_frame_equal(_state(eng), oracle_state)
    pd.testing.assert_frame_equal(_state(eng, published=True), base_state)
    d = eng.describe()
    assert d["wap_staged"] is True
    assert d["published_version"] == base_version

    published = eng.publish_staged()
    assert not eng.staged()
    assert published == eng.table.current_snapshot().version
    pd.testing.assert_frame_equal(_state(eng, published=True), oracle_state)
    d = eng.describe()
    assert d["wap_staged"] is False
    assert d["published_version"] == d["version"]


def test_discard_restores_base_and_feed_replays(spark, tmp_path, changelog, oracle_state):
    eng = ReplayEngine(spark, str(tmp_path / "t"), num_buckets=8, mode="mor")
    eng.replay(changelog, batches=[0])
    base_state = _state(eng)
    base_fence = eng.fence_offset()
    base_applied = eng.applied_batches()

    eng.stage_begin()
    eng.replay(changelog, batches=[1, 2])
    assert eng.fence_offset() > base_fence
    eng.discard_staged()

    # metadata-only rollback: state, fence and the exactly-once ledger
    # are all back at the base, so the discarded offsets are re-accepted
    assert not eng.staged()
    pd.testing.assert_frame_equal(_state(eng), base_state)
    assert eng.fence_offset() == base_fence
    assert eng.applied_batches() == base_applied

    # "fix the feed and replay": the same batches apply again and the
    # final state (incl. per-row sha256) matches the full-log oracle
    results = eng.replay(changelog, batches=[1, 2, 3])
    assert not any(r.get("skipped") for r in results)
    pd.testing.assert_frame_equal(_state(eng), oracle_state)


def test_window_lifecycle_refusals(spark, tmp_path, changelog):
    eng = ReplayEngine(spark, str(tmp_path / "t"), num_buckets=4)
    eng.replay(changelog, batches=[0])
    with pytest.raises(ValueError, match="no WAP staging window"):
        eng.publish_staged()
    with pytest.raises(ValueError, match="no WAP staging window"):
        eng.discard_staged()
    eng.stage_begin()
    with pytest.raises(ValueError, match="already open"):
        eng.stage_begin()
    eng.publish_staged()
    with pytest.raises(ValueError, match="no WAP staging window"):
        eng.publish_staged()


def test_expire_keeps_staged_window_discardable(spark, tmp_path, changelog):
    eng = ReplayEngine(spark, str(tmp_path / "t"), num_buckets=8, mode="mor")
    eng.replay(changelog, batches=[0])
    base_state = _state(eng)

    eng.stage_begin()
    eng.replay(changelog, batches=[1, 2, 3])
    # aggressive retention during the window must NOT expire the pinned
    # base (published reads and discard both resolve through it)
    eng.table.expire_snapshots(keep_last=1)
    pd.testing.assert_frame_equal(_state(eng, published=True), base_state)
    eng.discard_staged()
    pd.testing.assert_frame_equal(_state(eng), base_state)


def test_ddl_inside_staged_window_rolls_back(spark, tmp_path, changelog):
    eng = ReplayEngine(spark, str(tmp_path / "t"), num_buckets=4)
    eng.replay(changelog, batches=[0])
    base_cols = eng.read_state().columns

    eng.stage_begin()
    eng.table.add_column("audit_extra", "int", 7)
    assert "audit_extra" in eng.read_state().columns
    # DDL commits inherit the staged flag like any other commit
    assert eng.staged()
    assert "audit_extra" not in eng.read_state(published=True).columns
    eng.discard_staged()
    assert eng.read_state().columns == base_cols


def test_published_read_outside_window_is_current(spark, tmp_path, changelog, oracle_state):
    eng = ReplayEngine(spark, str(tmp_path / "t"), num_buckets=4)
    eng.replay(changelog)
    pd.testing.assert_frame_equal(_state(eng, published=True), _state(eng))
    with pytest.raises(ValueError, match="mutually exclusive"):
        eng.read_state(published=True, at_version=1)


def test_chain_syncs_published_only(spark, tmp_path, changelog, oracle_state):
    """A downstream replica must never consume staged upstream commits:
    while the window is open the sync pins to the published base, and
    the staged tail arrives only after publish."""
    from etl_spark.cdc.chain import propagate_changes

    src = ReplayEngine(spark, str(tmp_path / "src"), num_buckets=4, mode="mor")
    dst = ReplayEngine(spark, str(tmp_path / "dst"), num_buckets=4, mode="mor")
    src.replay(changelog, batches=[0])
    assert not propagate_changes(src, dst)["skipped"]
    base_state = _state(src)
    pd.testing.assert_frame_equal(_state(dst), base_state)

    src.stage_begin()
    src.replay(changelog, batches=[1, 2, 3])
    r = propagate_changes(src, dst)
    assert r["skipped"], "staged window must not advance the replica"
    pd.testing.assert_frame_equal(_state(dst), base_state)

    src.publish_staged()
    r = propagate_changes(src, dst)
    assert not r["skipped"] and r["events"] > 0
    pd.testing.assert_frame_equal(_state(dst), oracle_state)


def test_chain_after_discard_sees_nothing(spark, tmp_path, changelog):
    from etl_spark.cdc.chain import propagate_changes

    src = ReplayEngine(spark, str(tmp_path / "src"), num_buckets=4, mode="mor")
    dst = ReplayEngine(spark, str(tmp_path / "dst"), num_buckets=4, mode="mor")
    src.replay(changelog, batches=[0])
    propagate_changes(src, dst)
    base_state = _state(dst)

    src.stage_begin()
    src.replay(changelog, batches=[1])
    src.discard_staged()
    # the rollback snapshot aliases the base's files: the next cycle
    # advances the watermark over an empty diff, the replica unchanged
    r = propagate_changes(src, dst)
    assert r["events"] == 0
    pd.testing.assert_frame_equal(_state(dst), base_state)


def test_audit_staged_verdicts(spark, tmp_path, changelog):
    """The built-in audit: passes an ordinary window, fails a growth
    bound, and records metadata deltas either way."""
    eng = ReplayEngine(spark, str(tmp_path / "t"), num_buckets=4, mode="mor")
    eng.replay(changelog, batches=[0])
    with pytest.raises(ValueError, match="no WAP staging window"):
        eng.audit_staged()

    eng.stage_begin()
    eng.replay(changelog, batches=[1, 2, 3])
    v = eng.audit_staged()
    assert v["ok"] and v["failures"] == []
    assert v["staged_rows"] > v["base_rows"] > 0
    assert v["files_delta"] > 0 and v["bytes_delta"] > 0
    assert not v["schema_changed"]

    # the same window fails a tight growth bound
    v = eng.audit_staged(max_row_growth=0.0)
    assert not v["ok"] and "row growth" in v["failures"][0]
    # and a shrink bound it never hits passes
    v = eng.audit_staged(max_row_shrink=0.0)
    assert v["ok"]

    # metadata-only audit: no row fields; combining it with a row bound
    # is refused (the bound would pass vacuously, publishing exactly the
    # window the operator tried to gate)
    v = eng.audit_staged(count_rows=False)
    assert v["ok"] and "staged_rows" not in v
    with pytest.raises(ValueError, match="require count_rows"):
        eng.audit_staged(max_row_growth=0.0, count_rows=False)

    # DDL in the window trips the schema check only when disallowed
    eng.table.add_column("audit_col", "int", 1)
    assert eng.audit_staged()["ok"]
    v = eng.audit_staged(allow_schema_change=False)
    assert not v["ok"] and "schema version changed" in v["failures"][0]
    eng.discard_staged()


def test_cli_audit_gates_publish(spark, tmp_path, changelog, capsys):
    """The scripted pipeline shape: replay --wap-stage, audit (rc is the
    verdict), publish on pass."""
    import json as _json

    from etl_spark.cli import main

    wal = str(tmp_path / "wal")
    changelog.write.mode("overwrite").parquet(wal)
    table = str(tmp_path / "t")
    assert main(["replay", "--changelog", wal, "--table", table, "--wap-stage"]) == 0
    capsys.readouterr()

    rc = main(["audit", "--table", table, "--max-row-shrink", "0.5"])
    assert rc == 0
    verdict = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert verdict["ok"] and verdict["base_rows"] == 0

    # growth from an empty base is huge: a tight growth bound fails (rc=1)
    rc = main(["audit", "--table", table, "--max-row-growth", "0.1"])
    assert rc == 1
    capsys.readouterr()

    assert main(["publish", "--table", table]) == 0
    capsys.readouterr()
    with pytest.raises(ValueError, match="no WAP staging window"):
        main(["audit", "--table", table])  # no window open any more


def test_cli_stream_wap_stage(spark, tmp_path, changelog, capsys):
    """stream --wap-stage stages the whole backlog drain: published
    readers stay at the empty create-time base until publish."""
    import json as _json

    from etl_spark.cli import main

    wal = str(tmp_path / "wal")
    changelog.write.mode("overwrite").parquet(wal)
    table = str(tmp_path / "t")
    rc = main([
        "stream", "--changelog", wal, "--table", table,
        "--checkpoint", str(tmp_path / "ckpt"), "--wap-stage",
    ])
    assert rc == 0
    capsys.readouterr()

    rc = main(["state", "--table", table, "--published"])
    pub = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert pub["rows"] == 0 and pub["table"]["wap_staged"] is True
    rc = main(["state", "--table", table])
    staged = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert staged["rows"] > 0

    assert main(["publish", "--table", table]) == 0
    capsys.readouterr()
    rc = main(["state", "--table", table, "--published"])
    pub = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert pub["rows"] == staged["rows"]


def test_cli_audit_no_count_with_bounds_refused(spark, tmp_path, changelog, capsys):
    from etl_spark.cli import main

    wal = str(tmp_path / "wal")
    changelog.write.mode("overwrite").parquet(wal)
    table = str(tmp_path / "t")
    assert main(["replay", "--changelog", wal, "--table", table, "--wap-stage"]) == 0
    capsys.readouterr()
    with pytest.raises(SystemExit, match="pass vacuously"):
        main(["audit", "--table", table, "--no-count", "--max-row-growth", "0.1"])
    # the metadata-only audit alone still works
    assert main(["audit", "--table", table, "--no-count"]) == 0


def test_publish_refuses_window_discarded_before_its_commit(
    spark, tmp_path, changelog, monkeypatch
):
    """A discard landing between publish's check and its commit must
    make publish refuse, not commit a flag removal and report a
    published version for a window that was discarded."""
    root = str(tmp_path / "t")
    eng = ReplayEngine(spark, root, num_buckets=4, mode="mor")
    eng.replay(changelog, batches=[0])
    eng.stage_begin()
    eng.replay(changelog, batches=[1])
    other = ReplayEngine.attach(spark, root)
    real_update = eng.table.update_properties

    def discard_first(*a, **kw):
        other.discard_staged()  # the racing discard lands first
        monkeypatch.setattr(eng.table, "update_properties", real_update)
        return real_update(*a, **kw)

    monkeypatch.setattr(eng.table, "update_properties", discard_first)
    v = eng.table.current_snapshot().version
    with pytest.raises(ValueError, match="no WAP staging window"):
        eng.publish_staged()
    assert not eng.staged()
    assert eng.applied_batches() == [0]
    assert eng.table.current_snapshot().version == v + 1  # the discard only
