"""Named snapshot refs (Iceberg tag analog).

A tag is the durable "keep this exact state": expire_snapshots keeps
every tagged version until the tag is dropped, including a version
tagged while the tick is walking the kept snapshots. Carried as
snapshot properties, so tags ride every commit for free.
"""

from __future__ import annotations

import json

import pandas as pd
import pytest

from etl_spark.cdc.changelog import generate_changelog
from etl_spark.cdc.replay import ReplayEngine


@pytest.fixture(scope="module")
def changelog(spark):
    df = generate_changelog(
        spark, 2000, seed=42, n_repos=5, paths_per_repo=20, num_batches=4
    )
    df.cache()
    df.count()
    return df


def _state(engine, **kw) -> pd.DataFrame:
    return (
        engine.read_state(**kw)
        .select("repo", "path", "commit", "content_sha256")
        .toPandas()
        .sort_values(["repo", "path"])
        .reset_index(drop=True)
    )


def test_tag_pins_version_against_retention(spark, tmp_path, changelog):
    eng = ReplayEngine(spark, str(tmp_path / "t"), num_buckets=4, mode="mor")
    eng.replay(changelog, batches=[0])
    tagged_state = _state(eng)
    v = eng.table.tag("baseline")
    assert eng.table.tags() == {"baseline": v}

    eng.replay(changelog, batches=[1, 2, 3])
    # aggressive retention: the tagged version survives, raw old
    # versions do not
    eng.table.expire_snapshots(keep_last=1)
    retained = eng.table._snapshot_versions()
    assert v in retained
    pd.testing.assert_frame_equal(_state(eng, at_tag="baseline"), tagged_state)

    # dropping the tag makes it expirable again — and the next tick
    # actually expires it
    eng.table.drop_tag("baseline")
    eng.table.expire_snapshots(keep_last=1)
    assert v not in eng.table._snapshot_versions()
    with pytest.raises(ValueError, match="no tag"):
        eng.read_state(at_tag="baseline")


def test_tag_committed_during_expiry_keeps_its_version(spark, tmp_path, monkeypatch, changelog):
    """A tag() commit from another handle lands after expire_snapshots
    computed its keep set (during its walk of the kept snapshots) and
    pins a version the tick was about to delete: the re-read before
    deleting keeps the snapshot and its data."""
    from etl_spark.table.manifest import ManifestTable

    eng = ReplayEngine(spark, str(tmp_path / "t"), num_buckets=4, mode="mor")
    eng.replay(changelog, batches=[0])
    old = eng.table.current_snapshot().version
    tagged_state = _state(eng)
    eng.replay(changelog, batches=[1, 2, 3])
    other = ManifestTable(spark, eng.table.root, eng.table.key_columns)
    walk = eng.table.snapshot_at

    def walk_while_tagging(v):
        if not other.tags():
            other.tag("late", version=old)
        return walk(v)

    monkeypatch.setattr(eng.table, "snapshot_at", walk_while_tagging)
    out = eng.table.expire_snapshots(keep_last=1)
    monkeypatch.undo()
    assert other.tags() == {"late": old}
    assert old not in out["expired"] and out["expired"]
    pd.testing.assert_frame_equal(_state(eng, at_tag="late"), tagged_state)


def test_tag_lifecycle_refusals(spark, tmp_path, changelog):
    eng = ReplayEngine(spark, str(tmp_path / "t"), num_buckets=4)
    eng.replay(changelog, batches=[0, 1])
    eng.table.tag("q1")
    with pytest.raises(ValueError, match="already points"):
        eng.table.tag("q1")
    with pytest.raises(ValueError, match="invalid tag name"):
        eng.table.tag("bad name")
    with pytest.raises(ValueError, match="never existed or was expired"):
        eng.table.tag("ghost", version=9999)
    with pytest.raises(ValueError, match="no tag"):
        eng.table.drop_tag("missing")
    # explicit-version tag + multiple tags coexist
    eng.table.tag("v0", version=eng.table._snapshot_versions()[0])
    assert set(eng.table.tags()) == {"q1", "v0"}
    with pytest.raises(ValueError, match="mutually exclusive"):
        eng.read_state(at_tag="q1", at_version=1)


def test_cli_tag_verb(spark, tmp_path, changelog, capsys):
    from etl_spark.cli import main

    wal = str(tmp_path / "wal")
    changelog.write.mode("overwrite").parquet(wal)
    table = str(tmp_path / "t")
    assert main(["replay", "--changelog", wal, "--table", table]) == 0
    capsys.readouterr()

    assert main(["tag", "--table", table, "--name", "release-1"]) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert "release-1" in out["tags"]

    assert main(["tag", "--table", table]) == 0  # list
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert "release-1" in out["tags"]

    assert main(["tag", "--table", table, "--drop", "release-1"]) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["tags"] == {}


def test_tag_survives_discard_and_pins_discarded_state(spark, tmp_path, changelog):
    """The documented contract: a tag created inside a staged window
    survives the discard (rollback restores table STATE, tags are
    REFS) and keeps the discarded state retained and readable."""
    eng = ReplayEngine(spark, str(tmp_path / "t"), num_buckets=4, mode="mor")
    eng.replay(changelog, batches=[0])
    eng.stage_begin()
    eng.replay(changelog, batches=[1])
    staged_state = _state(eng)
    v = eng.table.tag("repro")
    eng.discard_staged()

    assert eng.table.tags() == {"repro": v}
    eng.table.expire_snapshots(keep_last=1)
    assert v in eng.table._snapshot_versions()
    pd.testing.assert_frame_equal(_state(eng, at_tag="repro"), staged_state)
    # dropping the tag releases the discarded state to retention
    eng.table.drop_tag("repro")
    eng.table.expire_snapshots(keep_last=1)
    assert v not in eng.table._snapshot_versions()


def test_cli_tag_flag_combos_refused(spark, tmp_path, changelog, capsys):
    from etl_spark.cli import main

    wal = str(tmp_path / "wal")
    changelog.write.mode("overwrite").parquet(wal)
    table = str(tmp_path / "t")
    assert main(["replay", "--changelog", wal, "--table", table]) == 0
    capsys.readouterr()
    with pytest.raises(SystemExit, match="--version requires --name"):
        main(["tag", "--table", table, "--version", "1"])
    with pytest.raises(SystemExit, match="cannot be combined"):
        main(["tag", "--table", table, "--drop", "x", "--name", "y"])
    assert eng_tags_empty(table, spark)


def eng_tags_empty(table, spark):
    from etl_spark.cdc.replay import ReplayEngine

    return ReplayEngine.attach(spark, table).table.tags() == {}
