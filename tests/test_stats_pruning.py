"""File-entry statistics + data-skipping reads (the Iceberg manifest
min/max pruning analog): stats recorded at commit from parquet footers,
entries pruned by predicate before Spark plans the scan, results always
identical to an unpruned read + filter."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from etl_spark.cdc.changelog import generate_changelog
from etl_spark.cdc.replay import ReplayEngine
from etl_spark.table.manifest import ColumnDef, ManifestTable, TableSchema, bucket_expr
from etl_spark.table.stats import entry_excludes

SCHEMA = TableSchema(
    [
        ColumnDef(1, "repo", "string"),
        ColumnDef(2, "path", "string"),
        ColumnDef(3, "v", "long"),
    ]
)


def _rows(spark, lo: int, n: int):
    return spark.range(lo, lo + n).select(
        F.concat(F.lit("r"), (F.col("id") % 7).cast("string")).alias("repo"),
        F.concat(F.lit("p"), F.col("id").cast("string")).alias("path"),
        F.col("id").alias("v"),
    )


@pytest.fixture()
def table(spark, tmp_path):
    t = ManifestTable.create(
        spark,
        os.path.join(str(tmp_path), "t"),
        SCHEMA,
        key_columns=["repo", "path"],
        num_buckets=4,
        properties={"stats_columns": "v"},
    )
    t.overwrite(_rows(spark, 0, 200))
    return t


def _all_entries(snap):
    return [e for es in snap.files.values() for e in es]


def test_entries_record_bytes_rows_stats(table):
    snap = table.current_snapshot()
    entries = _all_entries(snap)
    assert entries
    assert sum(e["rows"] for e in entries) == 200
    for e in entries:
        assert e["bytes"] > 0
        # stats keyed by column id: 1=repo, 2=path, 3=v
        for cid in ("1", "2", "3"):
            st = e["stats"][cid]
            assert st["min"] <= st["max"]
        assert isinstance(e["stats"]["3"]["min"], int)
    # recorded bytes drive sizing without touching the filesystem
    assert table.bucket_bytes() == sum(e["bytes"] for e in entries)


def test_read_where_equals_filter(table):
    full = {tuple(r) for r in table.read().filter(F.col("v") >= 150).collect()}
    got = {tuple(r) for r in table.read(where=[("v", ">=", 150)]).collect()}
    assert got == full and got


def test_disjoint_appends_prune(spark, table):
    # second commit with a disjoint v range -> its entries are the only
    # survivors for a v >= 1000 scan
    table.append_buckets(
        _rows(spark, 1000, 100).withColumn("v", F.col("v"))
    )
    snap = table.current_snapshot()
    preds = [("v", ">=", 1000)]
    kept = [e for e in _all_entries(snap) if not table._entry_prunable(e, preds, snap)]
    pruned = [e for e in _all_entries(snap) if table._entry_prunable(e, preds, snap)]
    assert pruned and kept
    assert all(e["kind"] == "delta" for e in kept)
    got = {tuple(r) for r in table.read(where=preds).collect()}
    want = {tuple(r) for r in table.read().filter(F.col("v") >= 1000).collect()}
    assert got == want and len(got) == 100


def test_key_equality_plans_single_bucket(spark, table):
    row = table.read().first()
    key = {"repo": row["repo"], "path": row["path"]}
    b = table.bucket_for_key(key)
    # matches the write-side bucket assignment exactly
    expect = (
        table.read()
        .filter((F.col("repo") == key["repo"]) & (F.col("path") == key["path"]))
        .select(bucket_expr(["repo", "path"], table.current_snapshot().num_buckets).alias("b"))
        .first()["b"]
    )
    assert b == expect
    preds = [("repo", "=", key["repo"]), ("path", "=", key["path"])]
    snap = table.current_snapshot()
    assert table._key_bucket_from_where(snap, preds) == b
    got = table.read(where=preds).collect()
    assert len(got) == 1 and got[0]["path"] == key["path"]


def test_added_column_default_decides_old_entries(spark, table):
    table.add_column("flag", "string")  # default null on pre-existing files
    snap = table.current_snapshot()
    preds = [("flag", "=", "x")]
    assert all(table._entry_prunable(e, preds, snap) for e in _all_entries(snap))
    assert table.read(where=preds).count() == 0


def test_rename_keeps_stats_by_id(spark, table):
    table.rename_column("v", "version")
    got = {tuple(r) for r in table.read(where=[("version", ">=", 150)]).collect()}
    want = {tuple(r) for r in table.read().filter(F.col("version") >= 150).collect()}
    assert got == want and got
    # old entries still prune under the new name (stats keyed by id)
    snap = table.current_snapshot()
    assert any(
        table._entry_prunable(e, [("version", ">", 10_000)], snap)
        for e in _all_entries(snap)
    )


def test_unknown_where_column_raises(table):
    with pytest.raises(ValueError, match="unknown columns"):
        table.read(where=[("nope", "=", 1)])


def test_legacy_entries_never_pruned(spark, tmp_path):
    """Entries written before a column joined ``stats_columns`` carry no
    stats for it: they are never pruned on it, and the residual filter
    keeps reads exact."""
    t = ManifestTable.create(
        spark, os.path.join(str(tmp_path), "legacy"), SCHEMA,
        key_columns=["repo", "path"], num_buckets=4,
    )
    t.overwrite(_rows(spark, 0, 50))
    legacy = _all_entries(t.current_snapshot())
    t.update_properties({"stats_columns": "v"})
    t.append_buckets(_rows(spark, 1000, 50))
    snap = t.current_snapshot()
    fresh = [e for e in _all_entries(snap) if e["kind"] == "delta"]
    assert legacy and fresh
    assert all("3" not in e["stats"] for e in legacy)  # 3 = v's column id
    assert all("3" in e["stats"] for e in fresh)
    # no stats -> conservative: nothing prunable, residual filter still right
    preds = [("v", ">", 10_000)]
    assert not any(t._entry_prunable(e, preds, snap) for e in legacy)
    assert all(t._entry_prunable(e, preds, snap) for e in fresh)
    assert t.read(where=preds).count() == 0
    preds = [("v", "<", 40)]
    assert not any(t._entry_prunable(e, preds, snap) for e in legacy)
    got = {tuple(r) for r in t.read(where=preds).collect()}
    want = {tuple(r) for r in t.read().filter(F.col("v") < 40).collect()}
    assert got == want and len(got) == 40


def test_entry_excludes_rules():
    st = {"min": 10, "max": 20, "nulls": 3}
    assert entry_excludes(st, "=", 9) and entry_excludes(st, "=", 21)
    assert not entry_excludes(st, "=", 10) and not entry_excludes(st, "=", 20)
    assert entry_excludes(st, "<", 10) and not entry_excludes(st, "<", 11)
    assert entry_excludes(st, "<=", 9) and not entry_excludes(st, "<=", 10)
    assert entry_excludes(st, ">", 20) and not entry_excludes(st, ">", 19)
    assert entry_excludes(st, ">=", 21) and not entry_excludes(st, ">=", 20)
    assert entry_excludes(st, "in", [1, 2, 30]) and not entry_excludes(st, "in", [1, 15])
    assert not entry_excludes(None, "=", 1)
    assert not entry_excludes({"min": None, "max": None, "nulls": 1}, "=", 1)
    # cross-type comparison -> never prune
    assert not entry_excludes({"min": "a", "max": "b", "nulls": 0}, "=", 5)


def test_read_state_column_projection_prunes_scan(spark, tmp_path):
    """read_state(columns=...) projects BELOW the mor LWW resolve, so
    the parquet scan never reads unrequested columns (content pruned
    from ReadSchema) and the result matches the full state's
    projection."""
    import contextlib
    import io

    log = generate_changelog(
        spark, 2000, seed=17, n_repos=5, paths_per_repo=20, num_batches=2
    )
    eng = ReplayEngine(spark, str(tmp_path / "t"), num_buckets=4, mode="mor")
    eng.replay(log)
    slim = eng.read_state(columns=["repo", "path", "lang"])
    assert slim.columns == ["repo", "path", "lang"]
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        slim.explain("formatted")
    read_schemas = [l for l in buf.getvalue().splitlines() if "ReadSchema" in l]
    assert read_schemas and all("content" not in l for l in read_schemas)
    want = {
        (r["repo"], r["path"], r["lang"])
        for r in eng.read_state().select("repo", "path", "lang").collect()
    }
    got = {tuple(r) for r in slim.collect()}
    assert got == want
    # predicate + projection compose; unknown columns raise
    n = eng.read_state(where=[("lang", "=", "go")], columns=["repo", "path"]).count()
    assert n == eng.read_state().filter("lang = 'go'").count()
    with pytest.raises(ValueError, match="columns not in table state"):
        eng.read_state(columns=["nope"])


def test_sorted_compaction(spark, tmp_path):
    """Compaction writes each compacted file key-ordered (tight
    row-group min/max for pushed key predicates) without changing the
    resolved state, which matches the single-pass oracle."""
    import glob

    from tests.oracle import apply_log_oracle

    log = generate_changelog(
        spark, 2000, seed=13, n_repos=5, paths_per_repo=20, num_batches=2
    )
    eng = ReplayEngine(spark, str(tmp_path / "t"), num_buckets=4, mode="mor")
    eng.replay(log)
    eng.compact(min_files=1)
    want = {
        (r.repo, r.path, r.content_sha256)
        for r in apply_log_oracle(log.toPandas()).itertuples()
    }
    got = {
        (r["repo"], r["path"], r["content_sha256"])
        for r in eng.read_state().collect()
    }
    assert got == want
    snap = eng.table.current_snapshot()
    base_dirs = [
        e["path"] for es in snap.files.values() for e in es
        if e["kind"] == "base"
    ]
    assert base_dirs
    for d in base_dirs:
        for f in glob.glob(os.path.join(d, "part-*")):
            pdf = spark.read.parquet(f).select("repo", "path").toPandas()
            keys = list(zip(pdf["repo"], pdf["path"]))
            assert keys == sorted(keys), f"unsorted compacted file {f}"


def test_engine_stats_columns_knob(spark, tmp_path):
    """Engine-level stats_columns: extra tracked columns make value
    predicates prunable (e.g. commit ranges)."""
    log = generate_changelog(
        spark, 1000, seed=37, n_repos=4, paths_per_repo=10, num_batches=2
    )
    eng = ReplayEngine(
        spark, str(tmp_path / "t"), num_buckets=4, mode="mor",
        stats_columns=["commit"],
    )
    eng.replay(log)
    snap = eng.table.current_snapshot()
    commit_id = next(
        c.id for c in snap.schema.columns if c.name == "commit"
    )
    entries = [e for es in snap.files.values() for e in es]
    assert all(str(commit_id) in e["stats"] for e in entries)
    got = eng.read_state(where=[("commit", ">=", "c")]).count()
    assert got == eng.read_state().filter("commit >= 'c'").count()


def test_read_state_time_travel(spark, tmp_path):
    """read_state(at_version=...) resolves the state AS OF a retained
    snapshot — batch 1's effects absent at the pre-batch-1 version,
    present at head; composes with where/columns."""
    log = generate_changelog(
        spark, 2000, seed=29, n_repos=5, paths_per_repo=20, num_batches=2
    )
    for mode in ("mor", "cow"):
        eng = ReplayEngine(spark, str(tmp_path / f"t-{mode}"), num_buckets=4, mode=mode)
        eng.replay(log, batches=[0])
        v0 = eng.table.current_snapshot().version
        want_v0 = {
            (r["repo"], r["path"], r["content_sha256"])
            for r in eng.read_state().collect()
        }
        eng.replay(log, batches=[1])
        got_v0 = {
            (r["repo"], r["path"], r["content_sha256"])
            for r in eng.read_state(at_version=v0).collect()
        }
        assert got_v0 == want_v0
        assert {
            tuple(r)
            for r in eng.read_state(at_version=v0, columns=["repo", "path"]).collect()
        } == {k[:2] for k in want_v0}
        head = {
            (r["repo"], r["path"], r["content_sha256"])
            for r in eng.read_state().collect()
        }
        assert head != got_v0  # batch 1 changed something


def test_describe_is_metadata_consistent(spark, tmp_path):
    log = generate_changelog(
        spark, 2000, seed=23, n_repos=5, paths_per_repo=20, num_batches=2
    )
    eng = ReplayEngine(spark, str(tmp_path / "t"), num_buckets=4, mode="mor")
    eng.replay(log)
    d = eng.describe()
    assert d["mode"] == "mor" and d["key_columns"] == ["repo", "path"]
    assert d["num_buckets"] == 4 and d["applied_batches"] == 2
    assert d["bytes"] == eng.table.bucket_bytes()
    assert d["rows_in_files"] >= eng.read_state().count()
    assert d["files"] >= d["delta_files"] > 0
    assert d["bucket_skew"] >= 1.0
    snap = eng.table.current_snapshot()
    assert d["rows_in_files"] == sum(
        e["rows"] for es in snap.files.values() for e in es
    )


def test_engine_lookup_and_pushdown(spark, tmp_path):
    log = generate_changelog(
        spark, 2000, seed=11, n_repos=5, paths_per_repo=20, num_batches=2
    )
    for mode in ("cow", "mor"):
        eng = ReplayEngine(
            spark, str(tmp_path / f"t-{mode}"), num_buckets=8, mode=mode
        )
        eng.replay(log)
        state = eng.read_state().collect()
        probe = state[0]
        got = eng.lookup(repo=probe["repo"], path=probe["path"]).collect()
        assert len(got) == 1
        assert got[0]["content_sha256"] == probe["content_sha256"]
        # value-predicate split: identical to post-filtering resolved state
        want = {
            (r["repo"], r["path"]) for r in state if r["lang"] == probe["lang"]
        }
        have = {
            (r["repo"], r["path"])
            for r in eng.read_state(where=[("lang", "=", probe["lang"])]).collect()
        }
        assert have == want
        with pytest.raises(ValueError, match="missing"):
            eng.lookup(repo=probe["repo"])


def test_stats_columns_property_follows_rename(spark, tmp_path, table):
    """File stats are id-keyed, but the stats_columns PROPERTY is
    name-based: a rename must carry the listed name along, or stats
    silently stop being collected for that column's future files."""
    table.rename_column("v", "version")
    snap = table.current_snapshot()
    assert snap.properties["stats_columns"] == "version"

    # files written AFTER the rename still record stats for the column
    t2 = ManifestTable(spark, table.root, key_columns=["repo", "path"])
    t2.overwrite(
        _rows(spark, 500, 100).withColumnRenamed("v", "version")
    )
    entries = _all_entries(t2.current_snapshot())
    col_id = str(next(c.id for c in t2.current_snapshot().schema.columns
                      if c.name == "version"))
    assert all(col_id in e.get("stats", {}) for e in entries)

    # and pruned reads under the NEW name stay exact
    got = sorted(
        r["version"]
        for r in t2.read(where=[("version", ">", 580)]).collect()
    )
    assert got == list(range(581, 600))


def test_stats_columns_property_drops_with_column(spark, tmp_path, table):
    table.add_column("extra", "long")
    t = ManifestTable(spark, table.root, key_columns=["repo", "path"])
    t.drop_column("v")
    assert t.current_snapshot().properties["stats_columns"] == ""


def test_stats_columns_forward_declared_name_survives_ddl(spark, tmp_path):
    """A stats_columns name not (yet) in the schema is user intent for a
    future column — DDL must not erase it."""
    t = ManifestTable.create(
        spark, os.path.join(str(tmp_path), "fw"), SCHEMA,
        key_columns=["repo", "path"], num_buckets=4,
        properties={"stats_columns": "v,size_bytes"},
    )
    t.rename_column("v", "version")
    assert t.current_snapshot().properties["stats_columns"] == "version,size_bytes"
    t.add_column("size_bytes", "long")
    assert t.current_snapshot().properties["stats_columns"] == "version,size_bytes"
