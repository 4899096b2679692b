"""Review-sweep 8 closures: schema-hardening edge cases found by an
adversarial pass over the front-door validation work.

- the writer's internal ``__bucket`` partition column is reserved at
  every schema entry point (it passed the identifier regex, committed,
  and wedged the first post-DDL write on a duplicate projection);
- the static column guards in ``check_schema_ops`` apply only to
  PENDING ops, mirroring the apply path (a guarded op in an
  already-fenced WAL region never runs — refusing the feed over it
  blocked every legitimate op behind it);
- ``simulate_schema_ops`` takes the session explicitly (the
  thread-local active session is unset in streaming foreachBatch
  threads, silently skipping type/default validation);
- the engine validates an ops feed once per feed CONTENT, not once
  per batch (N driver jobs off the hot loop), and any changed feed
  re-validates.
"""

from __future__ import annotations

import json

import pytest

from etl_spark.cdc.changelog import generate_changelog
from etl_spark.cdc.evolution import check_schema_ops, simulate_schema_ops
from etl_spark.cdc.replay import ReplayEngine


def test_bucket_column_reserved_everywhere(spark, tmp_path, request):
    from etl_spark.table.manifest import (
        ColumnDef,
        ManifestTable,
        TableSchema,
        check_column_name,
    )

    for bad in ("__bucket", "__BUCKET"):
        with pytest.raises(ValueError, match="reserved"):
            check_column_name(bad)
    with pytest.raises(ValueError, match="reserved"):
        ManifestTable.create(
            spark, str(tmp_path / "t"),
            TableSchema([ColumnDef(1, "k", "string"), ColumnDef(2, "__bucket", "string")]),
            key_columns=["k"],
        )
    t = ManifestTable.create(
        spark, str(tmp_path / "t2"),
        TableSchema([ColumnDef(1, "k", "string"), ColumnDef(2, "v", "string")]),
        key_columns=["k"],
    )
    with pytest.raises(ValueError, match="reserved"):
        t.add_column("__bucket", "string")
    with pytest.raises(ValueError, match="reserved"):
        t.rename_column("v", "__bucket")


def test_fenced_guarded_op_does_not_refuse_feed():
    rows = [
        # guarded op (drop of a key column) sitting BELOW the fence:
        # the apply path drops it unexecuted, so the check must too
        {"offset": 5, "kind": "drop_column", "column": "repo", "detail": None},
        {"offset": 900, "kind": "add_column", "column": "ok",
         "detail": json.dumps({"type": "int"})},
    ]
    with pytest.raises(ValueError, match="key column"):
        check_schema_ops(rows, ["repo", "path"])  # fence=-1: all pending
    # fenced past the guarded op, the feed is legal
    check_schema_ops(rows, ["repo", "path"], fence=100)
    # applied_offsets has the same skip semantics
    check_schema_ops(rows, ["repo", "path"], applied_offsets=[5])
    # structural defects refuse regardless of the fence
    with pytest.raises(ValueError, match="duplicate schema-op offset"):
        check_schema_ops(rows + [rows[0]], ["repo", "path"], fence=10_000)


def test_simulate_validates_with_explicit_session(spark):
    with pytest.raises(ValueError, match="doomed"):
        simulate_schema_ops(
            [("k", "string")],
            [{"offset": 1, "kind": "add_column", "column": "bad",
              "detail": json.dumps({"type": "strnig"})}],
            spark=spark,
        )


def test_ops_feed_validated_once_per_content(spark, tmp_path, monkeypatch):
    from etl_spark.schema import SCHEMA_EVOLUTION_SCHEMA
    import etl_spark.cdc.replay as replay_mod

    log = generate_changelog(
        spark, 1000, seed=5, n_repos=3, paths_per_repo=10, num_batches=4
    )
    ops = spark.createDataFrame(
        [(350, "add_column", "flag", json.dumps({"type": "int", "default": 0}))],
        SCHEMA_EVOLUTION_SCHEMA,
    )
    calls = []
    orig = replay_mod.check_schema_ops
    monkeypatch.setattr(
        replay_mod, "check_schema_ops",
        lambda *a, **kw: (calls.append(1), orig(*a, **kw))[1],
    )
    eng = ReplayEngine(spark, str(tmp_path / "t"), num_buckets=4)
    eng.replay(log, schema_ops=ops)
    # one validation for the whole 4-batch replay (the replay dry run),
    # not one per batch
    assert len(calls) == 1
    assert "flag" in eng.read_state().columns

    # a CHANGED feed re-validates — and a doomed one is refused
    bad = spark.createDataFrame(
        [(9000, "drop_column", "repo", None)], SCHEMA_EVOLUTION_SCHEMA
    )
    with pytest.raises(ValueError, match="key column"):
        eng.replay(log, schema_ops=bad)
    assert len(calls) == 2


def test_ops_feed_revalidated_after_out_of_band_schema_change(spark, tmp_path):
    """The ops-feed memo is keyed on the table's schema version too: a
    validated two-op feed whose second column is then added out of band
    must be refused by the dry run BEFORE its first op commits (a
    content-only key skipped the dry run and half-applied the feed)."""
    from etl_spark.schema import SCHEMA_EVOLUTION_SCHEMA

    log = generate_changelog(
        spark, 600, seed=5, n_repos=3, paths_per_repo=10, num_batches=3
    )
    ops = spark.createDataFrame(
        [(250, "add_column", "a1", json.dumps({"type": "int"})),
         (450, "add_column", "a2", json.dumps({"type": "int"}))],
        SCHEMA_EVOLUTION_SCHEMA,
    )
    eng = ReplayEngine(spark, str(tmp_path / "t"), num_buckets=2)
    eng.replay(log, batches=[0], schema_ops=ops)  # validates; both ops pending
    eng.table.add_column("a2", "int")  # out of band: the schema version bumps
    sv = eng.table.current_snapshot().current_schema_version
    with pytest.raises(ValueError, match="already exists"):
        eng.replay(log, schema_ops=ops)
    snap = eng.table.current_snapshot()
    assert snap.current_schema_version == sv
    assert "a1" not in snap.schema.names()
