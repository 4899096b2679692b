"""Round-3 fixes: classify de-broadcast + null-status handling
(VERDICT r02 #2, ADVICE), expire_snapshots path normalization + vacuum
guard (ADVICE), multi-file repaired CSV (VERDICT #7), paged source
without a count job (VERDICT #8)."""

from __future__ import annotations

import os

import pandas as pd
import pytest
from pyspark.sql import functions as F

from etl_spark.cdc.classify import classify_events
from etl_spark.sources.csv import read_csv_repaired
from etl_spark.sources.paged import plan_pages, read_paged


def _feed(spark):
    rows = [
        # active key: terminal suppressed, null kept
        ("r1", "a", "1", 0), ("r1", "a", "8", 1), ("r1", "a", None, 2),
        # inactive key: terminal processed, null kept
        ("r1", "b", "8", 3), ("r1", "b", None, 4),
        # delete short-circuits even on an active key
        ("r2", "a", "1", 5), ("r2", "a", "S", 6),
    ]
    return spark.createDataFrame(rows, "repo string, path string, status string, offset long")


# with existing_keys = {(r1, a)}: present key -> U, absent keys -> I
EXPECTED_OPS = {
    ("r1", "a", 0): "U", ("r1", "a", 2): "U",       # offset 1 ('8') suppressed
    ("r1", "b", 3): "I", ("r1", "b", 4): "I",       # null status kept, not dropped
    ("r2", "a", 5): "I", ("r2", "a", 6): "D",
}


def _ops(df):
    return {(r["repo"], r["path"], r["offset"]): r["op"] for r in df.collect()}


def test_classify_null_status_and_shuffle_path(spark):
    """Null-status rows are never silently dropped (ADVICE: the NULL
    suppression predicate), and the classify joins produce identical
    ops with auto-broadcast disabled entirely (the forced non-broadcast
    path — classify carries no F.broadcast hint, so at scale AQE's
    budget, not the driver, decides)."""
    feed = _feed(spark)
    existing = spark.createDataFrame([("r1", "a")], "repo string, path string")

    out_default = classify_events(feed, existing_keys=existing)
    assert _ops(out_default) == EXPECTED_OPS

    thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        out_shuffle = classify_events(feed, existing_keys=existing)
        assert _ops(out_shuffle) == EXPECTED_OPS
        # with broadcast disabled and no hint in the plan, no broadcast
        # exchange may appear — proves the driver never builds the
        # table-sized existing_keys relation
        plan = out_shuffle._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastExchange" not in plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thr)


def test_classify_null_status_without_existing_keys(spark):
    out = classify_events(_feed(spark))
    ops = _ops(out)
    # without existing_keys everything non-delete is U; null-status rows
    # classify consistently on active AND inactive keys
    assert ops == {k: ("D" if v == "D" else "U") for k, v in EXPECTED_OPS.items()}


# ------------------------------------------------- expire_snapshots realpath
def test_expire_snapshots_alternate_root_spelling(spark, tmp_path):
    """ADVICE: a table attached via a differently-spelled but equivalent
    root must not vacuum its own live data (realpath both sides)."""
    from etl_spark.table.manifest import ColumnDef, ManifestTable, TableSchema

    os.makedirs(tmp_path / "x", exist_ok=True)
    canonical = str(tmp_path / "x" / "tbl")
    t = ManifestTable.create(
        spark, canonical,
        TableSchema([ColumnDef(1, "k", "string"), ColumnDef(2, "v", "long")]),
        key_columns=["k"], num_buckets=2,
    )
    df = spark.createDataFrame([("a", 1), ("b", 2)], "k string, v long")
    t.overwrite(df)
    t.overwrite(df.withColumn("v", F.col("v") + 1))

    # same directory, different spelling (parent/../)
    alt_root = str(tmp_path / "x" / ".." / "x" / "tbl")
    t2 = ManifestTable(spark, alt_root, ["k"])
    out = t2.expire_snapshots(keep_last=1)
    # live write dirs survived: table still reads the newest state
    got = {(r["k"], r["v"]) for r in t2.read().collect()}
    assert got == {("a", 2), ("b", 3)}
    assert out["expired"]  # old snapshots did expire


def test_expire_snapshots_refuses_on_total_mismatch(spark, tmp_path):
    """If no data dir matches any live entry (manifest/root disagreement),
    the vacuum refuses instead of deleting everything."""
    import json as _json

    from etl_spark.table.manifest import ColumnDef, ManifestTable, TableSchema

    root = str(tmp_path / "tbl")
    t = ManifestTable.create(
        spark, root,
        TableSchema([ColumnDef(1, "k", "string"), ColumnDef(2, "v", "long")]),
        key_columns=["k"], num_buckets=2,
    )
    t.overwrite(spark.createDataFrame([("a", 1)], "k string, v long"))
    # corrupt the manifest paths to point at a foreign location (format
    # v4 keeps entry lists in content-addressed m-* shards under
    # manifests/; g-* group files hold only refs, not paths)
    man_dir = os.path.join(root, "_snapshots", "manifests")
    for n in os.listdir(man_dir):
        if not n.startswith("m-"):
            continue
        p = os.path.join(man_dir, n)
        es = _json.loads(open(p).read())
        for e in es:
            e["path"] = "/nonexistent/elsewhere/" + os.path.basename(e["path"])
        with open(p, "w") as f:
            f.write(_json.dumps(es))
    with pytest.raises(RuntimeError, match="refusing to vacuum"):
        t.expire_snapshots(keep_last=1)
    # data dirs untouched
    assert any(os.scandir(os.path.join(root, "data")))


# ------------------------------------------------- multi-file repaired CSV
def _pandas_repair(paths, sep=";"):
    """The reference's repair-and-append loop
    (src/jobs/indkoebsdata.py:118-134) as a pandas oracle."""
    import io
    import re

    frames = []
    names = None
    for p in paths:
        text = open(p, encoding="utf-8").read()
        text = re.sub(r'="([^"]*)"', r"\1", text).replace('"', "")
        lines = text.splitlines()
        if names is None:
            names = [h.strip() for h in lines[0].split(sep)]
            names = [n if n else f"n/a {i + 1}" for i, n in enumerate(names)]
        body = "\n".join(lines[1:])
        frames.append(
            pd.read_csv(io.StringIO(body), sep=sep, header=None, names=names, dtype=str)
        )
    return pd.concat(frames, ignore_index=True)


def test_repaired_csv_multifile(spark, tmp_path):
    f1 = tmp_path / "a.csv"
    f1.write_text('id;name;code\n="001";alpha;x1\n002;beta;="x2"\n')
    f2 = tmp_path / "b.csv"
    # own header line (dropped), quoting damage, fewer body quirks
    f2.write_text('id;name;code\n="003";"gam";x3\n004;delta;x4\n')

    got = (
        read_csv_repaired(spark, [str(f1), str(f2)])
        .toPandas()
        .sort_values("id")
        .reset_index(drop=True)
    )
    exp = _pandas_repair([str(f1), str(f2)]).sort_values("id").reset_index(drop=True)
    pd.testing.assert_frame_equal(got, exp)
    assert list(got["id"]) == ["001", "002", "003", "004"]


def test_repaired_csv_single_file_unchanged(spark, tmp_path):
    f1 = tmp_path / "c.csv"
    f1.write_text('id;name\n="01";x\n02;y\n')
    got = read_csv_repaired(spark, str(f1)).orderBy("id").collect()
    assert [(r["id"], r["name"]) for r in got] == [("01", "x"), ("02", "y")]


# --------------------------------------------- tombstone order survives commit
@pytest.mark.parametrize("mode", ["cow", "mor"])
def test_delete_not_resurrected_by_older_commit_in_later_batch(spark, tmp_path, mode):
    """A delete's (commit, offset) order must outlive its batch: an
    out-of-order event in a LATER batch carrying an OLDER commit loses
    to the stored tombstone in both table modes (round-3 fix — cow
    previously dropped the tombstone physically and resurrected the
    key)."""
    from etl_spark.cdc.replay import ReplayEngine

    # offsets are WAL-shaped (batch ranges ascend); the DISORDER under
    # test is in the COMMIT ordering — batch 1 carries commits both
    # older (c50) and newer (c95) than batch 0's tombstones, so the
    # outcome is decided by LWW against the stored tombstone, not by
    # the offset fence dropping the late event before it ever competes
    rows = [
        # key k1: U@c10 then D@c90 in batch 0; U@c50 arrives in batch 1 -> stays deleted
        (0, 0, "r", "k1", "c10", "py", "v1", "U"),
        (1, 0, "r", "k1", "c90", "py", None, "D"),
        (2, 0, "r", "k2", "c90", "py", None, "D"),
        (3, 1, "r", "k1", "c50", "py", "v2", "U"),
        # key k2: same shape but the late event's commit is NEWER -> resurrects
        (4, 1, "r", "k2", "c95", "py", "v3", "U"),
    ]
    log = spark.createDataFrame(
        rows,
        "offset long, batch_id int, repo string, path string, commit string, "
        "lang string, content string, op string",
    )
    eng = ReplayEngine(spark, str(tmp_path / f"t_{mode}"), num_buckets=2, mode=mode)
    eng.replay(log)
    state = {(r["path"], r["commit"], r["content"]) for r in eng.read_state().collect()}
    assert state == {("k2", "c95", "v3")}

    if mode == "mor":
        # compaction keeps the winning tombstone by default...
        eng.compact(min_files=1)
        assert {(r["path"],) for r in eng.read_state().collect()} == {("k2",)}
        raw = eng.table.read()
        assert raw.filter("path = 'k1' AND _deleted").count() == 1
        # ...and ages it out below an explicit commit watermark
        eng.compact(min_files=1, tombstone_commit_watermark="c91")
        assert eng.table.read().filter("_deleted").count() == 0
        assert {(r["path"],) for r in eng.read_state().collect()} == {("k2",)}


# ------------------------------------------------- pipelined mor replay
def test_pipelined_replay_resume_and_exactly_once(spark, tmp_path):
    """The pipelined mor loop (writes overlapped, commits ordered) must
    keep the sequential loop's guarantees: resume from a committed
    prefix applies exactly the unapplied suffix, re-replay is a no-op,
    and the final state equals the sequential engine's."""
    from etl_spark.cdc.changelog import generate_changelog
    from etl_spark.cdc.replay import ReplayEngine

    log = generate_changelog(spark, 6000, seed=11, n_repos=5, paths_per_repo=20, num_batches=4)
    log.cache()

    seq = ReplayEngine(spark, str(tmp_path / "seq"), num_buckets=4, mode="mor")
    seq.replay(log, pipeline_depth=1)

    pipe = ReplayEngine(spark, str(tmp_path / "pipe"), num_buckets=4, mode="mor")
    # apply a prefix, then "crash" and resume over the whole log
    pipe.replay(log, batches=[0, 1], pipeline_depth=2)
    res = pipe.replay(log, pipeline_depth=2)
    assert [r["batch_id"] for r in res if r.get("skipped")] == [0, 1]
    assert [r["batch_id"] for r in res if not r.get("skipped")] == [2, 3]
    res2 = pipe.replay(log, pipeline_depth=2)
    assert all(r["skipped"] for r in res2)

    a = seq.read_state().orderBy("repo", "path").collect()
    b = pipe.read_state().orderBy("repo", "path").collect()
    assert a == b
    # per-batch lineage written for every applied batch
    m = pipe.metrics().toPandas()
    assert sorted(m["batch_id"]) == [0, 1, 2, 3]


# ------------------------------------------------- paged source, no count job
def test_read_paged_pages_per_task_no_count(spark):
    src = [(i, f"row{i}") for i in range(23)]

    def fetch(offset, limit):
        return pd.DataFrame(src[offset : offset + limit], columns=["id", "val"])

    out = read_paged(spark, 23, 5, fetch, "id long, val string", pages_per_task=2)
    assert sorted((r["id"], r["val"]) for r in out.collect()) == sorted(src)
    # partition count derived arithmetically: ceil(5 pages / 2) = 3
    assert out.rdd.getNumPartitions() == 3


# -------------------------------------------- cow tombstone aging at rewrite
def test_cow_tombstones_age_out_at_rewrite_watermark(spark, tmp_path):
    """Cow buckets never accumulate delta files, so compaction's
    watermark path is unreachable for them — the engine-level
    ``tombstone_commit_watermark`` must age tombstones during the
    bucket rewrite itself, or delete-heavy cow tables grow and rewrite
    their dead keys forever."""
    from etl_spark.cdc.replay import ReplayEngine

    schema = (
        "offset long, batch_id int, repo string, path string, commit string, "
        "lang string, content string, op string"
    )
    b0 = spark.createDataFrame(
        [
            (0, 0, "r", "old", "c10", "py", "v", "U"),
            (1, 0, "r", "old", "c20", "py", None, "D"),   # aged out (c20 < c50)
            (2, 0, "r", "new", "c60", "py", None, "D"),   # kept (c60 >= c50)
            (3, 0, "r", "live", "c70", "py", "w", "U"),
        ],
        schema,
    )
    eng = ReplayEngine(
        spark, str(tmp_path / "t"), num_buckets=1, mode="cow",
        tombstone_commit_watermark="c50",
    )
    eng.replay(b0)
    raw = eng.table.read()
    assert raw.filter("path = 'old'").count() == 0        # physically gone
    assert raw.filter("path = 'new' AND _deleted").count() == 1
    assert {r["path"] for r in eng.read_state().collect()} == {"live"}

    # the retained tombstone still wins against a straggler below it...
    b1 = spark.createDataFrame([(4, 1, "r", "new", "c55", "py", "x", "U")], schema)
    eng.replay(b1)
    assert {r["path"] for r in eng.read_state().collect()} == {"live"}
    # ...and a second rewrite under a raised watermark ages it out too
    # single bucket: every batch rewrite touches it, so the raised
    # watermark is guaranteed to see the retained tombstone
    eng2 = ReplayEngine(
        spark, str(tmp_path / "t"), num_buckets=1, mode="cow",
        tombstone_commit_watermark="c99",
    )
    b2 = spark.createDataFrame([(5, 2, "r", "new2", "c98", "py", "y", "U")], schema)
    eng2.replay(b2)
    raw2 = eng2.table.read()
    assert raw2.filter("_deleted").count() == 0
    assert {r["path"] for r in eng2.read_state().collect()} == {"live", "new2"}


# ------------------------------- pipelined replay across evolution points
def test_pipelined_replay_with_schema_evolution(spark, tmp_path):
    """Schema-evolution streams no longer force the whole replay
    sequential: only the batch carrying each DDL event does. Final
    state, schema, and resume bookkeeping must equal the sequential
    path's."""
    import json as _json

    from etl_spark.cdc.changelog import generate_changelog
    from etl_spark.cdc.replay import ReplayEngine
    from etl_spark.schema import SCHEMA_EVOLUTION_SCHEMA

    log = generate_changelog(spark, 6000, seed=13, n_repos=5, paths_per_repo=20, num_batches=6)
    log.cache()
    # one DDL mid-stream: batches 0-2 pipeline, batch 3 sequential, 4-5 pipeline
    lo3 = log.filter("batch_id = 3").agg({"offset": "min"}).first()[0]
    ops = spark.createDataFrame(
        [(int(lo3) + 1, "add_column", "size_bytes", _json.dumps({"type": "int"}))],
        SCHEMA_EVOLUTION_SCHEMA,
    )

    seq = ReplayEngine(spark, str(tmp_path / "seq"), num_buckets=4, mode="mor")
    seq.replay(log, schema_ops=ops, pipeline_depth=1)

    pipe = ReplayEngine(spark, str(tmp_path / "pipe"), num_buckets=4, mode="mor")
    res = pipe.replay(log, schema_ops=ops, pipeline_depth=2)
    assert [r["batch_id"] for r in res] == [0, 1, 2, 3, 4, 5]
    assert sum(r.get("schema_ops", 0) for r in res) == 1
    assert any(r.get("pipelined") for r in res)          # runs really pipelined
    assert not res[3].get("pipelined")                   # the DDL batch didn't

    a = seq.read_state().orderBy("repo", "path").collect()
    b = pipe.read_state().orderBy("repo", "path").collect()
    assert seq.read_state().columns == pipe.read_state().columns
    assert "size_bytes" in pipe.read_state().columns
    assert a == b
    # re-replay is a no-op (exactly-once bookkeeping intact across segments)
    res2 = pipe.replay(log, schema_ops=ops, pipeline_depth=2)
    assert all(r["skipped"] for r in res2)


# ---------------------------------------- bytes-aware compaction eligibility
def test_compact_min_delta_fraction(spark, tmp_path):
    """LSM amortization: a bucket with a big base and a tiny delta is NOT
    rewritten under ``min_delta_fraction``; once its deltas accumulate
    past the fraction it folds, and the resolved state is unchanged
    either way."""
    from etl_spark.cdc.changelog import generate_changelog
    from etl_spark.cdc.replay import ReplayEngine

    eng = ReplayEngine(spark, str(tmp_path / "t"), num_buckets=2, mode="mor",
                       compact_threshold=0)  # manual compaction only
    big = generate_changelog(spark, 4000, seed=3, n_repos=4, paths_per_repo=50,
                             num_batches=1)
    eng.replay(big)
    eng.compact(min_files=1)  # establish a base
    base_state = {tuple(r) for r in eng.read_state().select("repo", "path", "commit").collect()}

    tiny = generate_changelog(spark, 40, seed=4, n_repos=4, paths_per_repo=50,
                              num_batches=1).withColumn(
        "offset", F.col("offset") + 1_000_000).withColumn(
        "batch_id", F.lit(100))
    eng.replay(tiny)

    # tiny delta (<~1% of base): bytes-aware pass folds nothing...
    assert eng.compact(min_files=2, min_delta_fraction=0.5) == []
    sizes = eng.table.bucket_delta_base_bytes()
    assert all(base > 0 and delta > 0 for base, delta in sizes.values())
    # ...but the count-based pass still can, and state matches the lazy read
    lazy = {tuple(r) for r in eng.read_state().select("repo", "path", "commit").collect()}
    folded_buckets = eng.compact(min_files=2)
    assert folded_buckets
    eager = {tuple(r) for r in eng.read_state().select("repo", "path", "commit").collect()}
    assert lazy == eager
    assert base_state  # sanity: the base had rows
