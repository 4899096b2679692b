"""Optimistic concurrency for snapshot commits: the commit point is the
exclusive claim of ``snapshot-{v}.json`` (local-FS CAS), and the claimed
files are the only record of the current version — readers take the
highest claimed one. Appends rebase and retry on conflict, and rewrites
rebase only when their buckets are untouched."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from etl_spark.table.manifest import (
    ColumnDef,
    CommitConflictError,
    ManifestTable,
    Snapshot,
    TableSchema,
)

SCHEMA = TableSchema(
    [
        ColumnDef(1, "repo", "string"),
        ColumnDef(2, "path", "string"),
        ColumnDef(3, "v", "long"),
    ]
)


def _rows(spark, lo: int, n: int):
    return spark.range(lo, lo + n).select(
        F.concat(F.lit("r"), (F.col("id") % 5).cast("string")).alias("repo"),
        F.concat(F.lit("p"), F.col("id").cast("string")).alias("path"),
        F.col("id").alias("v"),
    )


@pytest.fixture()
def table(spark, tmp_path):
    t = ManifestTable.create(
        spark, os.path.join(str(tmp_path), "t"), SCHEMA,
        key_columns=["repo", "path"], num_buckets=4,
    )
    t.overwrite(_rows(spark, 0, 100))
    return t


def _second_handle(table):
    return ManifestTable(table.spark, table.root, table.key_columns)


def _bump(snap: Snapshot, tag: str) -> Snapshot:
    return Snapshot(
        version=snap.version + 1,
        current_schema_version=snap.current_schema_version,
        schemas=snap.schemas,
        num_buckets=snap.num_buckets,
        files=snap.files,
        properties={**snap.properties, "who": tag},
    )


def test_commit_claim_is_exclusive(table):
    snap = table.current_snapshot()
    table._commit(_bump(snap, "a"))
    with pytest.raises(CommitConflictError, match="claimed"):
        table._commit(_bump(snap, "b"))
    assert table.current_snapshot().properties["who"] == "a"


def test_pointer_is_a_floor(table):
    """A claimed snapshot file with nothing else written is current:
    readers take the highest claimed version."""
    snap = table.current_snapshot()
    new = _bump(snap, "crashed")
    # simulate claim-then-crash: write the snapshot file and nothing else
    path = os.path.join(table._snap_dir, f"snapshot-{new.version:08d}.json")
    with open(path, "w") as f:
        f.write(new.to_json(table._manifest_dir))
    got = table.current_snapshot()
    assert got.version == new.version and got.properties["who"] == "crashed"
    # and the next commit builds on it rather than re-claiming its version
    table.append_buckets(_rows(table.spark, 500, 10))
    assert table.current_snapshot().version == new.version + 1


def test_pointer_never_moves_backwards(table):
    """A slow committer of an already-claimed version cannot move the
    current version back: its claim fails, and the version stays where
    the newer commit put it."""
    cur = table.current_snapshot()
    stale = table.snapshot_at(cur.version - 1)
    with pytest.raises(CommitConflictError, match="claimed"):
        table._commit(_bump(stale, "slow"))
    assert table.current_snapshot().version == cur.version
    assert "who" not in table.current_snapshot().properties
    table.append_buckets(_rows(table.spark, 600, 5))
    assert table.current_snapshot().version == cur.version + 1


def test_table_with_leftover_pointer_files_attaches(spark, tmp_path):
    """Tables written by builds that kept a ``_current`` pointer file
    (and its ``_current.lock``) beside the snapshots attach and keep
    working: the pointer is ignored, even when it names a stale
    version."""
    from etl_spark.cdc import ReplayEngine, generate_changelog
    from tests.oracle import apply_log_oracle

    cols = ["repo", "path", "commit", "content_sha256"]
    log = generate_changelog(spark, 600, seed=5, n_repos=3, paths_per_repo=10, num_batches=3)
    root = str(tmp_path / "legacy")
    eng = ReplayEngine(spark, root, num_buckets=4, mode="mor")
    eng.replay(log, batches=[0, 1])
    version = eng.table.current_snapshot().version
    before = {tuple(r) for r in eng.read_state().select(*cols).collect()}
    snap_dir = os.path.join(root, "_snapshots")
    with open(os.path.join(snap_dir, "_current"), "w") as f:
        f.write(f"snapshot-{0:08d}.json")
    open(os.path.join(snap_dir, "_current.lock"), "w").close()

    eng2 = ReplayEngine.attach(spark, root)
    assert eng2.table.current_snapshot().version == version
    assert {tuple(r) for r in eng2.read_state().select(*cols).collect()} == before
    eng2.apply_batch(log, 2)
    assert eng2.compact(min_files=1)
    assert eng2.table.expire_snapshots(keep_last=2)["expired"]
    want = apply_log_oracle(log.toPandas())
    assert {tuple(r) for r in eng2.read_state().select(*cols).collect()} == {
        tuple(r) for r in want[cols].itertuples(index=False)
    }


def test_concurrent_appends_both_survive(spark, table, monkeypatch):
    """Two writers race an append at the same version: the loser rebases
    onto the winner's snapshot and BOTH delta sets are in the final
    table (Iceberg fast-append commute rule)."""
    other = _second_handle(table)
    stale = table.current_snapshot()
    written = table.write_delta_files(_rows(spark, 1000, 20), stale)

    # concurrent writer lands first
    other.append_buckets(_rows(spark, 2000, 30))

    # force our first attempt to plan against the stale snapshot, so the
    # claim genuinely conflicts and the retry path rebases
    calls = {"n": 0}
    real = ManifestTable.current_snapshot

    def once_stale(self):
        calls["n"] += 1
        return stale if calls["n"] == 1 else real(self)

    monkeypatch.setattr(ManifestTable, "current_snapshot", once_stale)
    table.commit_appended(written)
    monkeypatch.setattr(ManifestTable, "current_snapshot", real)

    assert calls["n"] >= 2  # the retry actually happened
    vals = {r["v"] for r in table.read().collect()}
    assert set(range(1000, 1020)) <= vals and set(range(2000, 2030)) <= vals
    assert set(range(100)) <= vals


def test_rewrite_rebases_over_disjoint_append(spark, table, monkeypatch):
    """A bucket rewrite rebases when the concurrent commit only touched
    OTHER buckets; the appended rows survive the rebased rewrite."""
    snap = table.current_snapshot()
    all_buckets = sorted(snap.files)
    target, untouched = all_buckets[0], all_buckets[-1]
    # rows that hash into `untouched` only: filter an append by bucket
    from etl_spark.table.manifest import bucket_expr

    extra = _rows(spark, 3000, 200).filter(
        bucket_expr(["repo", "path"], snap.num_buckets) == untouched
    )
    assert extra.count() > 0

    rows_target = table.read(buckets=[target])
    n_target = rows_target.count()
    stale = table.current_snapshot()
    other = _second_handle(table)

    calls = {"n": 0}
    real = ManifestTable.current_snapshot

    def stale_then_race(self):
        calls["n"] += 1
        if calls["n"] == 1:
            return stale
        return real(self)

    # interleave: rewrite plans against `stale`, the concurrent append
    # lands before its commit
    rewritten = rows_target.withColumn("v", F.col("v") + 10_000)
    monkeypatch.setattr(ManifestTable, "current_snapshot", stale_then_race)
    other_real = _second_handle(table)
    monkeypatch.setattr(ManifestTable, "current_snapshot", real)
    other_real.append_buckets(extra)
    monkeypatch.setattr(ManifestTable, "current_snapshot", stale_then_race)
    table.rewrite_buckets([target], rewritten)
    monkeypatch.setattr(ManifestTable, "current_snapshot", real)

    assert calls["n"] >= 2  # the retry actually happened
    got = table.read().collect()
    vals = {r["v"] for r in got}
    assert {v for v in vals if v >= 10_000 and v < 11_000}, "rewrite lost"
    assert set(range(3000, 3200)) & vals == {
        r["v"] for r in extra.collect()
    }, "concurrent append lost"
    assert table.read(buckets=[target]).count() == n_target


def test_rewrite_conflict_on_same_bucket_raises(spark, table, monkeypatch):
    """A concurrent append INTO a bucket being rewritten must fail the
    rewrite (its resolved rows no longer cover the bucket)."""
    snap = table.current_snapshot()
    target = sorted(snap.files)[0]
    from etl_spark.table.manifest import bucket_expr

    extra = _rows(spark, 4000, 200).filter(
        bucket_expr(["repo", "path"], snap.num_buckets) == target
    )
    assert extra.count() > 0
    rows_target = table.read(buckets=[target])
    stale = table.current_snapshot()

    other = _second_handle(table)
    other.append_buckets(extra)

    calls = {"n": 0}
    real = ManifestTable.current_snapshot

    def once_stale(self):
        calls["n"] += 1
        return stale if calls["n"] == 1 else real(self)

    monkeypatch.setattr(ManifestTable, "current_snapshot", once_stale)
    with pytest.raises(CommitConflictError, match="touched the buckets"):
        table.rewrite_buckets([target], rows_target)


def test_rewrite_basis_detects_pre_call_commit(spark, table):
    """The real-world TOCTOU ordering, no monkeypatch: the caller
    resolves rows from snapshot S, a concurrent append commits into the
    same bucket BEFORE rewrite_buckets is even called, and the rewrite
    (passed basis=S) must refuse on its FIRST attempt instead of
    silently erasing the appended rows."""
    from etl_spark.table.manifest import bucket_expr

    basis = table.current_snapshot()
    target = sorted(basis.files)[0]
    rows_target = table.read(buckets=[target], snapshot=basis)

    extra = _rows(spark, 7000, 200).filter(
        bucket_expr(["repo", "path"], basis.num_buckets) == target
    )
    assert extra.count() > 0
    _second_handle(table).append_buckets(extra)

    with pytest.raises(CommitConflictError, match="touched the buckets"):
        table.rewrite_buckets([target], rows_target, basis=basis)
    # the appended rows are intact
    assert {r["v"] for r in table.read(buckets=[target]).collect()} >= {
        r["v"] for r in extra.collect()
    }


def test_compact_refuses_over_concurrent_append(spark, tmp_path):
    """Engine-level: compaction pins one snapshot for eligibility,
    resolve, and commit; an append racing into a compacted bucket makes
    the compaction fail loudly rather than lose the append."""
    from etl_spark.cdc.changelog import generate_changelog
    from etl_spark.cdc.replay import ReplayEngine
    from etl_spark.table.manifest import ManifestTable

    log = generate_changelog(spark, 1000, seed=3, n_repos=4, paths_per_repo=10,
                             num_batches=2)
    eng = ReplayEngine(spark, str(tmp_path / "t"), num_buckets=2, mode="mor",
                       compact_threshold=0)
    eng.replay(log)
    state_before = {
        (r["repo"], r["path"], r["content_sha256"])
        for r in eng.read_state().collect()
    }

    real = ManifestTable.current_snapshot
    raced = {"done": False}

    def race_once(tbl):
        snap = real(tbl)
        if not raced["done"]:
            raced["done"] = True
            # concurrent writer appends delta rows between compaction's
            # snapshot pin and its commit (re-appending existing rows is
            # enough to mutate the bucket entry lists; LWW tolerates the
            # byte-identical duplicates)
            rows = tbl.read(snapshot=snap).limit(20)
            tbl.append_buckets(rows)
        return snap

    import unittest.mock as mock

    with mock.patch.object(ManifestTable, "current_snapshot", race_once):
        with pytest.raises(CommitConflictError):
            eng.compact(min_files=1)
    # nothing lost: both the original state and the raced append resolve
    assert {
        (r["repo"], r["path"], r["content_sha256"])
        for r in eng.read_state().collect()
    } >= set()
    assert eng.read_state().count() >= len({k[:2] for k in state_before})


def test_key_columns_mismatch_attach_refused(spark, tmp_path):
    t = ManifestTable.create(
        spark, str(tmp_path / "k"), SCHEMA, key_columns=["repo", "path"],
        num_buckets=4,
    )
    t.overwrite(_rows(spark, 0, 10))
    wrong = ManifestTable(spark, t.root, ["repo"])
    with pytest.raises(ValueError, match="key_columns"):
        wrong.current_snapshot()
    assert ManifestTable.peek_properties(t.root)["key_columns"] == ["repo", "path"]


def test_unsupported_where_op_rejected(table):
    with pytest.raises(ValueError, match="unsupported where ops"):
        table.read(where=[("v", "!=", 3)])


def test_evolve_rebases_on_conflict(spark, table, monkeypatch):
    stale = table.current_snapshot()
    other = _second_handle(table)
    other.append_buckets(_rows(spark, 5000, 10))

    calls = {"n": 0}
    real = ManifestTable.current_snapshot

    def once_stale(self):
        calls["n"] += 1
        return stale if calls["n"] == 1 else real(self)

    monkeypatch.setattr(ManifestTable, "current_snapshot", once_stale)
    table.add_column("extra", "string")
    monkeypatch.setattr(ManifestTable, "current_snapshot", real)
    snap = table.current_snapshot()
    assert "extra" in snap.schema.names()
    # the concurrent append's rows were carried into the evolved snapshot
    assert {r["v"] for r in table.read().collect()} >= set(range(5000, 5010))


def _stale_once(monkeypatch, stale):
    """The next ``current_snapshot()`` returns ``stale``, so a commit's
    first attempt plans against it and loses the claim."""
    calls = {"n": 0}
    real = ManifestTable.current_snapshot

    def once_stale(self):
        calls["n"] += 1
        return stale if calls["n"] == 1 else real(self)

    monkeypatch.setattr(ManifestTable, "current_snapshot", once_stale)
    return calls


def test_rollback_refuses_over_concurrent_commit(spark, table, monkeypatch):
    """A rollback commits only against the snapshot it read: it raises,
    and the commit that landed first stays current."""
    target = table.current_snapshot().version
    table.append_buckets(_rows(spark, 6000, 10))
    stale = table.current_snapshot()
    _second_handle(table).append_buckets(_rows(spark, 6100, 10))
    _stale_once(monkeypatch, stale)
    with pytest.raises(CommitConflictError):
        table.rollback(target)
    monkeypatch.undo()
    assert table.current_snapshot().version == stale.version + 1
    assert set(range(6000, 6010)) | set(range(6100, 6110)) <= {
        r["v"] for r in table.read().collect()
    }


def test_overwrite_rebases_over_append_refuses_over_ddl(spark, table, monkeypatch):
    """A full replace rebases over a concurrent append and replaces its
    rows too; over a concurrent ``add_column`` it raises."""
    stale = table.current_snapshot()
    other = _second_handle(table)
    other.append_buckets(_rows(spark, 8000, 10))
    calls = _stale_once(monkeypatch, stale)
    table.overwrite(_rows(spark, 9000, 20))
    monkeypatch.undo()
    assert calls["n"] >= 2  # the retry actually happened
    assert table.current_snapshot().version == stale.version + 2
    assert {r["v"] for r in table.read().collect()} == set(range(9000, 9020))

    stale = table.current_snapshot()
    other.add_column("extra", "string")
    _stale_once(monkeypatch, stale)
    with pytest.raises(CommitConflictError, match="schema evolution"):
        table.overwrite(_rows(spark, 0, 5))
    monkeypatch.undo()
    assert "extra" in table.current_snapshot().schema.names()
    assert {r["v"] for r in table.read().collect()} == set(range(9000, 9020))


def test_update_properties_recomputes_on_retry(table, monkeypatch):
    """``compute`` runs again on the retry, against the new snapshot: a
    racing tagger's tag of the same name is refused, not re-pointed."""
    stale = table.current_snapshot()
    other = _second_handle(table)
    other.update_properties({"who": "other"})
    seen: list[int] = []

    def compute(snap):
        seen.append(snap.version)
        return {"seen_version": str(snap.version)}, ()

    _stale_once(monkeypatch, stale)
    new = table.update_properties(compute=compute)
    monkeypatch.undo()
    assert seen == [stale.version, stale.version + 1]
    assert new.properties["seen_version"] == str(stale.version + 1)
    assert new.properties["who"] == "other"

    stale = table.current_snapshot()
    other.tag("gold")
    calls = _stale_once(monkeypatch, stale)
    with pytest.raises(ValueError, match="already points"):
        table.tag("gold")
    monkeypatch.undo()
    assert calls["n"] >= 2  # the retry actually happened
    assert table.tags() == {"gold": stale.version}


def test_isolated_engines_replay_concurrently_without_conf_leak(spark, tmp_path):
    """The documented multi-engine recipe (merge.py bracket comment):
    give each ReplayEngine a dedicated ``spark.newSession()`` and build
    its changelog FROM that session, and the per-batch
    ``spark.sql.shuffle.partitions`` brackets stay private to each
    engine — the parent session's conf never moves while two replays
    with DIFFERENT bucket counts run concurrently, both final states
    match the oracle, and each engine session's conf is restored."""
    import threading
    import time

    from etl_spark.cdc.changelog import generate_changelog
    from etl_spark.cdc.replay import ReplayEngine
    from tests.oracle import apply_log_oracle

    key = "spark.sql.shuffle.partitions"
    parent_sp = spark.conf.get(key)
    s1, s2 = spark.newSession(), spark.newSession()
    sp1, sp2 = s1.conf.get(key), s2.conf.get(key)
    # changelogs bound to each engine's own session: every frame in the
    # batch path (and thus the conf bracket) sees that session only
    log1 = generate_changelog(s1, 2000, seed=42, n_repos=5, paths_per_repo=20, num_batches=4)
    log2 = generate_changelog(s2, 2000, seed=7, n_repos=5, paths_per_repo=20, num_batches=4)
    log1.cache().count(), log2.cache().count()
    e1 = ReplayEngine(s1, str(tmp_path / "t1"), num_buckets=4, mode="mor")
    e2 = ReplayEngine(s2, str(tmp_path / "t2"), num_buckets=8, mode="mor")

    errs: list = []

    def run(engine, log):
        try:
            engine.replay(log)
        except BaseException as e:  # surfaced after join
            errs.append(e)

    t1 = threading.Thread(target=run, args=(e1, log1))
    t2 = threading.Thread(target=run, args=(e2, log2))
    t1.start(), t2.start()
    leaked: list = []
    while t1.is_alive() or t2.is_alive():
        got = spark.conf.get(key)
        if got != parent_sp:
            leaked.append(got)
        time.sleep(0.02)
    t1.join(), t2.join()
    assert not errs, errs
    assert not leaked, f"parent session conf moved during replay: {leaked}"
    assert spark.conf.get(key) == parent_sp
    # each engine's bracket restored its own session
    assert s1.conf.get(key) == sp1 and s2.conf.get(key) == sp2

    def state(engine):
        return (
            engine.read_state()
            .select("repo", "path", "commit", "lang", "content", "content_sha256")
            .toPandas()
            .sort_values(["repo", "path"])
            .reset_index(drop=True)
        )

    import pandas as pd

    pd.testing.assert_frame_equal(state(e1), apply_log_oracle(log1.toPandas()))
    pd.testing.assert_frame_equal(state(e2), apply_log_oracle(log2.toPandas()))
