"""Schema-ops feed contract: malformed DDL feeds are refused loudly.

The ops frame is user-supplied (``replay(schema_ops=)``, CLI
``--schema-ops``); without the up-front check each defect is a SILENT
wrong outcome — a PERMISSIVE-mode malformed JSON line becomes an
all-NULL row every ``offset <= hi`` filter drops, duplicate offsets
collapse to one op in the exactly-once ledger, and a missing detail key
fails only after earlier ops already committed schema versions.
"""

import json

import pytest

from etl_spark.cdc.changelog import generate_changelog
from etl_spark.cdc.evolution import check_schema_ops
from etl_spark.cdc.replay import ReplayEngine
from etl_spark.schema import SCHEMA_EVOLUTION_SCHEMA


@pytest.fixture(scope="module")
def changelog(spark):
    df = generate_changelog(spark, 900, seed=7, n_repos=4, paths_per_repo=10,
                            num_batches=3)
    df.cache()
    df.count()
    return df


def _ops(spark, rows):
    return spark.createDataFrame(rows, SCHEMA_EVOLUTION_SCHEMA)


def _replay(spark, tmp_path, changelog, ops, name):
    eng = ReplayEngine(spark, str(tmp_path / name), num_buckets=4)
    return eng, lambda: eng.replay(changelog, schema_ops=ops)


def test_malformed_jsonl_line_refused(spark, tmp_path, changelog):
    """The real CLI path: a corrupt line in a .jsonl ops file reads as an
    all-NULL row in PERMISSIVE mode — refused, not silently dropped."""
    p = tmp_path / "ops.jsonl"
    p.write_text(
        json.dumps({"offset": 450, "kind": "add_column", "column": "x",
                    "detail": json.dumps({"type": "string"})}) + "\n"
        + "{this is not json\n"
    )
    ops = spark.read.schema(SCHEMA_EVOLUTION_SCHEMA).json(str(p))
    eng, run = _replay(spark, tmp_path, changelog, ops, "t_null")
    with pytest.raises(ValueError, match="NULL in a required field"):
        run()
    # refused BEFORE any op or batch committed
    assert eng.applied_batches() == []


def test_duplicate_offsets_refused(spark, tmp_path, changelog):
    ops = _ops(spark, [
        (450, "add_column", "a", json.dumps({"type": "string"})),
        (450, "add_column", "b", json.dumps({"type": "string"})),
    ])
    _, run = _replay(spark, tmp_path, changelog, ops, "t_dup")
    with pytest.raises(ValueError, match="duplicate schema-op offset 450"):
        run()


def test_unknown_kind_refused_up_front(spark, tmp_path, changelog):
    ops = _ops(spark, [(450, "alter_comment", "a", None)])
    _, run = _replay(spark, tmp_path, changelog, ops, "t_kind")
    with pytest.raises(ValueError, match="unknown schema-evolution kind"):
        run()


def test_missing_detail_key_refused_before_any_commit(spark, tmp_path,
                                                      changelog):
    """A late op's missing required key must fail the WHOLE replay up
    front — not after the early op already committed a schema version."""
    ops = _ops(spark, [
        (100, "add_column", "early", json.dumps({"type": "string"})),
        (800, "rename_column", "lang", json.dumps({"wrong_key": "x"})),
    ])
    eng, run = _replay(spark, tmp_path, changelog, ops, "t_detail")
    with pytest.raises(ValueError, match="requires detail key 'new_name'"):
        run()
    assert eng.applied_batches() == []
    assert "early" not in [c.name for c in eng.table.current_snapshot().schema.columns]


def test_unparseable_detail_refused(spark, tmp_path, changelog):
    ops = _ops(spark, [(450, "add_column", "a", "{not json")])
    _, run = _replay(spark, tmp_path, changelog, ops, "t_json")
    with pytest.raises(ValueError, match="unparseable detail JSON"):
        run()


def test_direct_apply_batch_validates_too(spark, tmp_path, changelog):
    """apply_batch is public; a dirty feed handed straight to it (or via
    the streaming tail, which shares its preflight) is refused the same."""
    ops = _ops(spark, [
        (100, "add_column", "a", json.dumps({"type": "string"})),
        (100, "drop_column", "lang", None),
    ])
    eng = ReplayEngine(spark, str(tmp_path / "t_direct"), num_buckets=4)
    with pytest.raises(ValueError, match="duplicate schema-op offset"):
        eng.apply_batch(changelog, 0, ops)


def test_check_is_pure_and_order_insensitive():
    rows = [
        {"offset": 9, "kind": "drop_column", "column": "c", "detail": None},
        {"offset": 2, "kind": "widen_type", "column": "v",
         "detail": json.dumps({"new_type": "long"})},
    ]
    check_schema_ops(rows)  # valid feed passes regardless of row order


def test_valid_feed_still_replays(spark, tmp_path, changelog):
    ops = _ops(spark, [
        (450, "add_column", "size_bytes", json.dumps({"type": "int"})),
    ])
    eng, run = _replay(spark, tmp_path, changelog, ops, "t_ok")
    results = run()
    assert sum(r["schema_ops"] for r in results) == 1
    assert "size_bytes" in eng.read_state().columns


# --- full-feed dry run: state-dependent refusals are up-front too -------


def test_doomed_late_state_dependent_op_refused_up_front(spark, tmp_path, changelog):
    """A rename of a column that never exists sits LATE in the feed; the
    old behavior applied the early op (committing a schema version) and
    only then hit the refusal. The dry run refuses the whole feed before
    any batch or op applies."""
    ops = _ops(spark, [
        (100, "add_column", "early", json.dumps({"type": "string"})),
        (800, "rename_column", "never_existed", json.dumps({"new_name": "x"})),
    ])
    eng, run = _replay(spark, tmp_path, changelog, ops, "t_sim_late")
    with pytest.raises(ValueError, match="doomed.*no column 'never_existed'"):
        run()
    assert eng.applied_batches() == []
    snap = eng.table.current_snapshot()
    assert snap.current_schema_version == 1
    assert "early" not in [c.name for c in snap.schema.columns]


def test_in_feed_collision_and_lattice_refused_up_front(spark, tmp_path, changelog):
    """State-dependent defects among the feed's OWN ops: a rename onto a
    name an earlier op adds, and a widen outside the lattice of a type an
    earlier op declared."""
    collide = _ops(spark, [
        (100, "add_column", "x", json.dumps({"type": "string"})),
        (800, "rename_column", "lang", json.dumps({"new_name": "x"})),
    ])
    eng, run = _replay(spark, tmp_path, changelog, collide, "t_sim_collide")
    with pytest.raises(ValueError, match="doomed.*column 'x' already exists"):
        run()
    assert eng.applied_batches() == []

    narrow = _ops(spark, [
        (100, "add_column", "n", json.dumps({"type": "int"})),
        (800, "widen_type", "n", json.dumps({"new_type": "string"})),
    ])
    eng2, run2 = _replay(spark, tmp_path, changelog, narrow, "t_sim_narrow")
    with pytest.raises(ValueError, match="doomed.*cannot widen int -> string"):
        run2()
    assert eng2.applied_batches() == []


def test_full_lifecycle_feed_not_false_refused(spark, tmp_path, changelog):
    """The dry run tracks the feed's own state: add -> widen -> rename ->
    drop of the same column is valid and must apply cleanly."""
    ops = _ops(spark, [
        (100, "add_column", "x", json.dumps({"type": "int"})),
        (450, "widen_type", "x", json.dumps({"new_type": "long"})),
        (460, "rename_column", "x", json.dumps({"new_name": "y"})),
        (800, "drop_column", "y", None),
    ])
    eng, run = _replay(spark, tmp_path, changelog, ops, "t_sim_ok")
    results = run()
    assert sum(r["schema_ops"] for r in results) == 4
    names = [c.name for c in eng.table.current_snapshot().schema.columns]
    assert "x" not in names and "y" not in names


def test_revalidating_applied_feed_not_false_refused(spark, tmp_path, changelog):
    """Resume/rerun hands the SAME feed back; ops at/below the fence (or
    in applied_schema_ops) are skipped by the dry run exactly as the
    apply path skips them — no false 'already exists' on the second run."""
    ops = _ops(spark, [(450, "add_column", "x", json.dumps({"type": "string"}))])
    eng, run = _replay(spark, tmp_path, changelog, ops, "t_sim_rerun")
    run()
    results = eng.replay(changelog, schema_ops=ops)  # pure no-op rerun
    assert all(r["skipped"] for r in results)
    assert "x" in [c.name for c in eng.table.current_snapshot().schema.columns]


def test_simulate_schema_ops_pure():
    from etl_spark.cdc.evolution import simulate_schema_ops

    cur = [("k", "string"), ("v", "int")]
    rows = [
        {"offset": 5, "kind": "widen_type", "column": "v",
         "detail": json.dumps({"new_type": "long"})},
        {"offset": 2, "kind": "rename_column", "column": "v",
         "detail": json.dumps({"new_name": "w"})},
    ]
    # offset order matters: rename at 2 runs first, so the widen at 5
    # targets the OLD name and must refuse...
    with pytest.raises(ValueError, match="no column 'v'"):
        simulate_schema_ops(cur, rows)
    # ...unless the rename is already applied and the caller says so by
    # fence (<=2) — then only the widen is pending, against the schema AS
    # GIVEN (which still names it v)
    out = simulate_schema_ops(cur, rows, fence=2)
    assert out["v"] == "long"
    # or by the applied-offsets ledger
    out = simulate_schema_ops(cur, rows, applied_offsets=[2])
    assert out["v"] == "long"


def test_unreadable_add_column_type_refused_up_front(spark, tmp_path, changelog):
    """A typo'd type string used to COMMIT its schema version and only
    then wedge the table: every later read_state/apply_batch raised
    ParseException on the stored type, with no way back (probed:
    add_column type 'strnig'). Now the dry run refuses the feed before
    anything applies, and the table keeps working."""
    ops = _ops(spark, [
        (250, "add_column", "size_bytes", json.dumps({"type": "strnig"})),
    ])
    eng, run = _replay(spark, tmp_path, changelog, ops, "t_badtype")
    with pytest.raises(ValueError, match="doomed.*not a parseable Spark DDL type"):
        run()
    assert eng.applied_batches() == []
    assert eng.table.current_snapshot().current_schema_version == 1
    # not wedged: plain batches still apply and read back
    r = eng.apply_batch(changelog, 0)
    assert not r["skipped"]
    assert eng.read_state().count() > 0


def test_uncastable_add_column_default_refused_up_front(spark, tmp_path, changelog):
    """A default its own column type cannot cast used to commit, then the
    first post-DDL projection of pre-DDL rows died in CAST_INVALID_INPUT
    (ANSI) — wedged exactly like the bad type."""
    ops = _ops(spark, [
        (250, "add_column", "n_stars",
         json.dumps({"type": "int", "default": "abc"})),
    ])
    eng, run = _replay(spark, tmp_path, changelog, ops, "t_baddefault")
    with pytest.raises(ValueError, match="doomed.*reads fill pre-DDL rows"):
        run()
    assert eng.applied_batches() == []
    assert eng.table.current_snapshot().current_schema_version == 1


def test_direct_table_add_column_validates_pre_commit(spark, tmp_path):
    """Defense in depth: the table-layer API refuses BEFORE the snapshot
    commits (direct callers bypass the feed dry-run)."""
    from etl_spark.table.manifest import ColumnDef, ManifestTable, TableSchema

    t = ManifestTable.create(
        spark, str(tmp_path / "direct"),
        TableSchema([ColumnDef(1, "k", "string"), ColumnDef(2, "v", "string")]),
        key_columns=["k"], num_buckets=2,
    )
    with pytest.raises(ValueError, match="not a parseable Spark DDL type"):
        t.add_column("bad", "strnig")
    with pytest.raises(ValueError, match="reads fill pre-DDL rows"):
        t.add_column("n", "int", default="abc")
    assert t.current_snapshot().current_schema_version == 1
    # valid adds (typed default, complex type) still commit
    t.add_column("n", "int", default=5)
    t.add_column("tags", "array<string>")
    cols = {c.name: c.type for c in t.current_snapshot().schema.columns}
    assert cols["n"] == "int" and cols["tags"] == "array<string>"


def test_case_variant_collisions_and_reserved_names_refused(spark, tmp_path, changelog):
    """Spark's default resolution is case-insensitive: 'Lang' next to
    'lang' resolves ambiguously, and a stored 'Op' would bind to the
    event frame's 'op' routing value just like exact-case 'op' would.
    Both case variants are refused up front like their exact twins."""
    for col, pat in [("Lang", "column 'Lang' already exists"),
                     ("Op", "reserved by the WAL contract"),
                     ("OFFSET", "reserved by the WAL contract")]:
        ops = _ops(spark, [(250, "add_column", col, json.dumps({"type": "string"}))])
        eng, run = _replay(spark, tmp_path, changelog, ops, f"t_case_{col}")
        with pytest.raises(ValueError, match=pat):
            run()
        assert eng.applied_batches() == []
    # rename into a case-colliding name refused; pure case rename legal
    collide = _ops(spark, [(250, "rename_column", "lang",
                            json.dumps({"new_name": "Content"}))])
    eng, run = _replay(spark, tmp_path, changelog, collide, "t_case_ren")
    with pytest.raises(ValueError, match="column 'Content' already exists"):
        run()
    purecase = _ops(spark, [(250, "rename_column", "lang",
                             json.dumps({"new_name": "LANG"}))])
    eng2 = ReplayEngine(spark, str(tmp_path / "t_case_pure"), num_buckets=4)
    eng2.replay(changelog, schema_ops=purecase)
    assert "LANG" in eng2.read_state().columns


def test_non_identifier_names_in_feed_refused_up_front(spark, tmp_path, changelog):
    bad_add = _ops(spark, [(250, "add_column", "a.b", json.dumps({"type": "string"}))])
    eng, run = _replay(spark, tmp_path, changelog, bad_add, "t_dotname")
    with pytest.raises(ValueError, match="doomed.*invalid column name"):
        run()
    assert eng.applied_batches() == []
    bad_ren = _ops(spark, [(250, "rename_column", "lang",
                            json.dumps({"new_name": "a b"}))])
    eng2, run2 = _replay(spark, tmp_path, changelog, bad_ren, "t_spacename")
    with pytest.raises(ValueError, match="doomed.*invalid column name"):
        run2()
    assert eng2.applied_batches() == []
