"""Smoke tests of the spark-submit CLI surface (``etl_spark.cli.main``).

The CLI is the production entry point the north rule names; these tests
drive each subcommand end-to-end in-process (build_session reuses the
active test session) and assert that every advertised flag actually
reaches the engine — a --compact-threshold/--tombstone-watermark that
parses but is silently ignored must fail here.
"""

from __future__ import annotations

import json

import pytest

from etl_spark.cli import main


@pytest.fixture(scope="module")
def cli_dirs(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("cli")
    wal = str(root / "wal")
    rc = main(["generate", "--out", wal, "--events", "2000", "--batches", "3",
               "--repos", "4", "--paths-per-repo", "10"])
    assert rc == 0
    return root, wal


def test_cli_generate_replay_state_metrics(spark, capsys, cli_dirs):
    root, wal = cli_dirs
    table = str(root / "t1")
    rc = main(["replay", "--changelog", wal, "--table", table, "--mode", "mor",
               "--tombstone-watermark", "c000",
               "--compact-delta-fraction", "0.2"])
    assert rc == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["applied"] == [0, 1, 2]

    rc = main(["state", "--table", table])
    assert rc == 0
    state = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert state["rows"] > 0

    rc = main(["metrics", "--table", table])
    assert rc == 0
    lines = [json.loads(ln) for ln in capsys.readouterr().out.strip().splitlines()]
    assert sorted(r["batch_id"] for r in lines) == [0, 1, 2]


def test_cli_flags_reach_engine(spark, capsys, cli_dirs, monkeypatch):
    """Every common() flag must land on the constructed ReplayEngine."""
    root, wal = cli_dirs
    seen = {}
    import etl_spark.cdc.replay as replay_mod

    orig = replay_mod.ReplayEngine.__init__

    def spy(self, *a, **kw):
        seen.update(kw)
        return orig(self, *a, **kw)

    monkeypatch.setattr(replay_mod.ReplayEngine, "__init__", spy)
    rc = main(["replay", "--changelog", wal, "--table", str(root / "t2"),
               "--mode", "mor", "--compact-threshold", "5", "--tombstone-watermark", "c123",
               "--compact-delta-fraction", "0.3",
               "--expire-every", "2", "--expire-keep-last", "3"])
    assert rc == 0
    capsys.readouterr()
    assert seen["compact_threshold"] == 5
    assert seen["tombstone_commit_watermark"] == "c123"
    assert seen["compact_delta_fraction"] == 0.3
    assert seen["expire_every"] == 2
    assert seen["expire_keep_last"] == 3


def test_cli_lookup_and_chain(spark, capsys, cli_dirs):
    root, wal = cli_dirs
    table = str(root / "t1")  # built by the replay test above
    from etl_spark.cdc.replay import ReplayEngine

    probe = ReplayEngine(spark, table, 16, mode="mor").read_state().first()
    rc = main(["lookup", "--table", table,
               "--key", f"repo={probe['repo']}", "--key", f"path={probe['path']}"])
    assert rc == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["found"] == 1
    assert out["rows"][0]["content_sha256"] == probe["content_sha256"]

    with pytest.raises(SystemExit):  # malformed --key is an argparse error
        main(["lookup", "--table", table, "--key", "repo"])
    capsys.readouterr()

    dst = str(root / "chained")
    rc = main(["chain", "--src-table", table, "--table", dst])
    assert rc == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert not out["skipped"] and out["events"] > 0
    src_rows = ReplayEngine(spark, table, 16, mode="mor").read_state().count()
    assert ReplayEngine(spark, dst, 16, mode="mor").read_state().count() == src_rows
    # immediate re-run is a watermark no-op
    rc = main(["chain", "--src-table", table, "--table", dst])
    assert rc == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["skipped"]


def test_cli_schema_ops_jsonl(spark, capsys, cli_dirs):
    """--schema-ops carries in-flight DDL through the spark-submit surface:
    the op applies at its offset and the evolved column reaches the state."""
    root, wal = cli_dirs
    table = str(root / "t_ddl")
    ops_path = root / "ops.jsonl"
    ops_path.write_text(json.dumps(
        {"offset": 1000, "kind": "add_column", "column": "review_state",
         "detail": json.dumps({"type": "string"})}) + "\n")

    rc = main(["replay", "--changelog", wal, "--table", table,
               "--schema-ops", str(ops_path)])
    assert rc == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["applied"] == [0, 1, 2]
    assert out["schema_ops"] == 1

    rc = main(["state", "--table", table])
    assert rc == 0
    state = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert "review_state" in state["columns"]


def test_cli_schema_ops_parquet(spark, capsys, cli_dirs):
    """Parquet-format ops files take the non-JSON reader branch."""
    from etl_spark.schema import SCHEMA_EVOLUTION_SCHEMA

    root, wal = cli_dirs
    table = str(root / "t_ddl_pq")
    ops_path = str(root / "ops_pq")
    spark.createDataFrame(
        [(500, "add_column", "flagged", json.dumps({"type": "long"}))],
        SCHEMA_EVOLUTION_SCHEMA,
    ).write.mode("overwrite").parquet(ops_path)

    rc = main(["replay", "--changelog", wal, "--table", table,
               "--schema-ops", ops_path])
    assert rc == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["schema_ops"] == 1


def test_cli_compact_flags(spark, capsys, cli_dirs):
    root, wal = cli_dirs
    table = str(root / "t1")  # built by the replay test above
    rc = main(["compact", "--table", table, "--min-files", "1",
               "--min-delta-fraction", "0.0", "--tombstone-watermark", "c000"])
    assert rc == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert isinstance(out["compacted_buckets"], list)


def test_cli_wap_stage_publish(spark, capsys, cli_dirs):
    """--wap-stage keeps 'state --published' at the pre-replay state
    until the 'publish' verb lands; 'discard' on a second table rolls
    the staged replay back entirely."""
    root, wal = cli_dirs

    table = str(root / "t_wap")
    rc = main(["replay", "--changelog", wal, "--table", table, "--wap-stage"])
    assert rc == 0
    applied = json.loads(capsys.readouterr().out.strip().splitlines()[-1])["applied"]
    assert applied == [0, 1, 2]

    rc = main(["state", "--table", table, "--published"])
    assert rc == 0
    pub = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert pub["rows"] == 0  # staged behind the empty create-time base
    assert pub["table"]["wap_staged"] is True

    rc = main(["state", "--table", table])
    staged = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert staged["rows"] > 0  # the audit's view

    rc = main(["publish", "--table", table])
    assert rc == 0
    assert "published_version" in json.loads(
        capsys.readouterr().out.strip().splitlines()[-1]
    )
    rc = main(["state", "--table", table, "--published"])
    pub = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert pub["rows"] == staged["rows"]
    assert pub["table"]["wap_staged"] is False

    table2 = str(root / "t_wap_discard")
    rc = main(["replay", "--changelog", wal, "--table", table2, "--wap-stage"])
    assert rc == 0
    capsys.readouterr()
    rc = main(["discard", "--table", table2])
    assert rc == 0
    capsys.readouterr()
    rc = main(["state", "--table", table2])
    state = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert state["rows"] == 0 and state["table"]["wap_staged"] is False


def test_cli_inspect(spark, capsys, cli_dirs):
    root, wal = cli_dirs
    table = str(root / "t_inspect")
    rc = main(["replay", "--changelog", wal, "--table", table])
    assert rc == 0
    capsys.readouterr()
    rc = main(["inspect", "--table", table])
    assert rc == 0
    snaps = [json.loads(ln) for ln in capsys.readouterr().out.strip().splitlines()]
    assert len(snaps) >= 1
    assert {"version", "files", "bytes", "rows_in_files"} <= set(snaps[-1])

    rc = main(["inspect", "--table", table, "--files"])
    assert rc == 0
    files = [json.loads(ln) for ln in capsys.readouterr().out.strip().splitlines()]
    assert len(files) == snaps[-1]["files"]
    assert {"bucket", "path", "kind", "bytes", "rows"} <= set(files[0])
