"""Format v4 manifest metadata: a delta commit's written metadata bytes
are O(touched buckets + touched groups), not O(table); untouched
buckets' shards AND untouched groups' ref tables are shared by
reference across snapshots; a snapshot document of any earlier format
(v1, v2 embedded entries, v3 flat ref table) refuses to attach; expiry
garbage-collects unreferenced shards and group files."""

import json
import os

import pytest

import etl_spark.table.manifest as M
from etl_spark.table.manifest import (
    ColumnDef,
    ManifestTable,
    Snapshot,
    TableSchema,
)


def _meta_files(root):
    """(path, bytes) of every snapshot/shard/group file under _snapshots."""
    out = {}
    snap_dir = os.path.join(root, "_snapshots")
    for dirpath, _, names in os.walk(snap_dir):
        for n in names:
            if n.endswith(".json"):
                p = os.path.join(dirpath, n)
                out[p] = os.path.getsize(p)
    return out


def _embedded_doc(snap) -> dict:
    """``snap`` as one document with every bucket's entry list embedded
    in it (the pre-shard v2 layout) — the yardstick the sharded commit
    is measured against, and the v2 shape the refusal test writes."""
    return {
        "version": snap.version,
        "current_schema_version": snap.current_schema_version,
        "schemas": {str(v): s.to_json() for v, s in snap.schemas.items()},
        "num_buckets": snap.num_buckets,
        "properties": snap.properties,
        "bucket_fn": snap.bucket_fn,
        "format_version": snap.format_version,
        "files": {str(b): list(fs) for b, fs in snap.files.items()},
    }


def _embedded_bytes(snap) -> int:
    return len(json.dumps(_embedded_doc(snap), indent=1))


def _mk(spark, root, num_buckets=32):
    t = ManifestTable.create(
        spark, root,
        TableSchema([ColumnDef(1, "k", "string"), ColumnDef(2, "v", "long")]),
        key_columns=["k"], num_buckets=num_buckets,
    )
    rows = [(f"k{i}", i) for i in range(3000)]
    t.overwrite(spark.createDataFrame(rows, "k string, v long"))
    return t


def test_delta_commit_metadata_is_o_touched(spark, tmp_path, monkeypatch):
    monkeypatch.setattr(M, "GROUP_SIZE", 8)  # 32 buckets -> 4 groups
    root = str(tmp_path / "tbl")
    t = _mk(spark, root)
    base_meta = _meta_files(root)
    n_buckets_with_data = len(t.current_snapshot().files)
    assert n_buckets_with_data == 32  # 3000 keys cover all buckets

    # a delta touching ONE key = one bucket = one group
    snap = t.current_snapshot()
    written = t.write_delta_files(
        spark.createDataFrame([("k1", 999)], "k string, v long"), snap
    )
    t.commit_appended(written)
    new_meta = {p: b for p, b in _meta_files(root).items() if p not in base_meta}

    # exactly one new shard (the touched bucket) + one new group file
    # (the touched group) + one new snapshot doc
    new_shards = [p for p in new_meta if "/manifests/m-" in p]
    new_groups = [p for p in new_meta if "/manifests/g-" in p]
    assert len(new_shards) == 1
    assert len(new_groups) == 1
    assert len(written) == 1
    # the new snapshot document embeds no entries and no per-bucket ref
    # table — it is GROUP-reference-sized
    snap_docs = [p for p in new_meta if "/manifests/" not in p]
    assert len(snap_docs) == 1
    doc = json.loads(open(snap_docs[0]).read())
    assert "files" not in doc and "files_ref" not in doc
    assert "groups_ref" in doc and doc["group_size"] == 8
    assert len(doc["groups_ref"]) == 4
    # written metadata bytes are far below what embedding the entries
    # would have written (the v2 form this replaces): 31 untouched
    # buckets' per-column stats were NOT rewritten, 3 untouched groups'
    # ref tables were NOT rewritten — only the doc + ONE group + ONE shard
    v2_bytes = _embedded_bytes(t.current_snapshot())
    assert sum(new_meta.values()) < v2_bytes / 2

    # the untouched GROUPS' file keys are literally shared
    prev_doc = json.loads(
        open(os.path.join(root, "_snapshots", "snapshot-00000001.json")).read()
    )
    touched_group = str(next(iter(written)) // 8)
    shared = {g: k for g, k in doc["groups_ref"].items() if g != touched_group}
    assert shared == {
        g: k for g, k in prev_doc["groups_ref"].items() if g != touched_group
    }
    assert len(shared) == 3
    assert doc["groups_ref"][touched_group] != prev_doc["groups_ref"][touched_group]
    # ...and inside the rewritten group, untouched buckets' SHARD refs
    # are shared with the previous group file
    man_dir = os.path.join(root, "_snapshots", "manifests")
    new_g = M._read_group_file(man_dir, doc["groups_ref"][touched_group])
    old_g = M._read_group_file(man_dir, prev_doc["groups_ref"][touched_group])
    tb = str(next(iter(written)))
    assert {b: r for b, r in new_g.items() if b != tb} == {
        b: r for b, r in old_g.items() if b != tb
    }

    # reads and time travel still see the right data (ManifestTable.read
    # is the RAW view: base + unresolved delta rows; LWW resolution is
    # the replay engine's job)
    got = {(r["k"], r["v"]) for r in t.read().where("k = 'k1'").collect()}
    assert got == {("k1", 1), ("k1", 999)}
    old = t.snapshot_at(1)
    got_old = {
        (r["k"], r["v"]) for r in t.read(snapshot=old).where("k = 'k1'").collect()
    }
    assert got_old == {("k1", 1)}

    # commit bytes are CONSTANT in entries-per-bucket: another delta to
    # the same bucket writes a snapshot document of ~the same size
    snap2 = t.current_snapshot()
    w2 = t.write_delta_files(
        spark.createDataFrame([("k1", 1000)], "k string, v long"), snap2
    )
    t.commit_appended(w2)
    meta3 = {p: b for p, b in _meta_files(root).items()
             if p not in base_meta and p not in new_meta}
    doc3 = [p for p in meta3 if "/manifests/" not in p]
    assert len(doc3) == 1
    assert abs(meta3[doc3[0]] - new_meta[snap_docs[0]]) < 500


def test_snapshot_document_is_o_groups_not_o_buckets(spark, tmp_path, monkeypatch):
    """The document carries one ref per GROUP: growing the bucket count
    8x grows the document by ~the group-ref delta, not 8x."""
    monkeypatch.setattr(M, "GROUP_SIZE", 8)
    small = _mk(spark, str(tmp_path / "small"), num_buckets=8)    # 1 group
    big = _mk(spark, str(tmp_path / "big"), num_buckets=64)       # 8 groups
    b_small = len(small.current_snapshot().to_json(
        os.path.join(str(tmp_path / "small"), "_snapshots", "manifests")))
    b_big = len(big.current_snapshot().to_json(
        os.path.join(str(tmp_path / "big"), "_snapshots", "manifests")))
    # 8x the buckets adds 7 group refs (~35 B each), nowhere near 8x
    assert b_big - b_small < 7 * 80
    assert b_big < 2 * b_small


def _as_v1(d, snap, man_dir):
    del d["bucket_fn"], d["format_version"]


def _as_v2(d, snap, man_dir):
    d.clear()
    d.update(_embedded_doc(snap), format_version=2)


def _as_v3(d, snap, man_dir):
    del d["groups_ref"], d["group_size"]
    d["format_version"] = 3
    d["files_ref"] = {
        str(b): {
            "k": M._write_manifest_shard(man_dir, snap.files[b]),
            **M._shard_meta(snap.files[b]),
        }
        for b in snap.files
    }


@pytest.mark.parametrize("fmt,rewrite", [
    ("v1", _as_v1), ("v2", _as_v2), ("v3", _as_v3),
], ids=["v1", "v2", "v3"])
def test_pre_v4_snapshot_refuses_attach(spark, tmp_path, fmt, rewrite):
    """A snapshot document of any format before v4 — v1 (no bucket_fn
    or format_version), v2 (entries embedded) or v3 (flat bucket->shard
    ref table) — refuses to attach with a ValueError that names the
    format and a migration path that works, and nothing is committed."""
    root = str(tmp_path / "tbl")
    t = _mk(spark, root, num_buckets=4)
    snap_dir = os.path.join(root, "_snapshots")
    man_dir = os.path.join(snap_dir, "manifests")
    snap = t.current_snapshot()
    path = os.path.join(snap_dir, f"snapshot-{snap.version:08d}.json")
    d = json.loads(open(path).read())
    rewrite(d, snap, man_dir)
    with open(path, "w") as f:
        json.dump(d, f)
    docs = sorted(n for n in os.listdir(snap_dir) if n.startswith("snapshot-"))

    refusal = (
        rf"manifest format {fmt};.*reads only format v4.*Refusing to attach\. "
        r"To migrate, re-create the table at a new root and replay its "
        r"change feed into it\."
    )
    t2 = ManifestTable(spark, root, ["k"])
    with pytest.raises(ValueError, match=refusal):
        t2.current_snapshot()
    with pytest.raises(ValueError, match=refusal):
        t2.snapshot_at(snap.version)
    # the write paths attach first, so they refuse before writing
    with pytest.raises(ValueError, match=refusal):
        t2.overwrite(spark.createDataFrame([("x", 1)], "k string, v long"))
    assert sorted(
        n for n in os.listdir(snap_dir) if n.startswith("snapshot-")
    ) == docs


def test_expiry_gcs_unreferenced_shards_and_groups(spark, tmp_path):
    root = str(tmp_path / "tbl")
    t = _mk(spark, root, num_buckets=4)
    for i in range(4):
        t.overwrite(
            spark.createDataFrame([(f"g{i}", i)], "k string, v long")
        )
    man_dir = os.path.join(root, "_snapshots", "manifests")
    before = set(os.listdir(man_dir))
    # age every shard/group past the in-flight-commit grace window
    for n in before:
        p = os.path.join(man_dir, n)
        os.utime(p, (os.path.getmtime(p) - 3600, os.path.getmtime(p) - 3600))
    out = t.expire_snapshots(keep_last=1)
    assert out["deleted_shards"] > 0
    assert out["deleted_groups"] > 0
    after = set(os.listdir(man_dir))
    # surviving snapshots' groups all still resolve, and every shard
    # they reference resolves; reads work
    for v in [t.current_snapshot().version]:
        doc = json.loads(
            open(os.path.join(root, "_snapshots", f"snapshot-{v:08d}.json")).read()
        )
        for gk in doc["groups_ref"].values():
            assert f"g-{gk}.json" in after
            for ref in M._read_group_file(man_dir, gk).values():
                assert f"m-{ref['k']}.json" in after
    assert t.read().count() == 1


def _count_hydrations(monkeypatch):
    calls = {"n": 0, "g": 0}
    real_shard = M._read_manifest_shard
    real_group = M._read_group_file

    def counted_shard(d, k):
        calls["n"] += 1
        return real_shard(d, k)

    def counted_group(d, k):
        calls["g"] += 1
        return real_group(d, k)

    monkeypatch.setattr(M, "_read_manifest_shard", counted_shard)
    monkeypatch.setattr(M, "_read_group_file", counted_group)
    return calls


def test_point_read_hydrates_one_group_and_one_shard(spark, tmp_path, monkeypatch):
    """Attach + bucket-pruned read parse O(touched) group+shard files,
    not the table: the 100 TB point-lookup path."""
    monkeypatch.setattr(M, "GROUP_SIZE", 8)
    root = str(tmp_path / "tbl")
    t = _mk(spark, root)  # 32 buckets (4 groups), all populated
    calls = _count_hydrations(monkeypatch)
    t2 = ManifestTable(spark, root, ["k"])
    snap = t2.current_snapshot()
    assert calls["n"] == 0 and calls["g"] == 0  # attach parses the doc only
    b = t2.bucket_for_key({"k": "k1"}, snapshot=snap)
    got = t2.read(buckets=[b], snapshot=snap).where("k = 'k1'").collect()
    assert {(r["k"], r["v"]) for r in got} == {("k1", 1)}
    assert calls["n"] == 1  # exactly the probed bucket's shard
    assert calls["g"] == 1  # exactly the probed bucket's group


def test_sizing_reads_group_summaries_not_shards(spark, tmp_path, monkeypatch):
    """delta_counts / bucket_bytes / bucket_delta_base_bytes — the
    per-replay-batch eligibility checks — and bucket_summary /
    summary_totals (describe, inspect history) answer from the group
    files' per-bucket summaries with zero shard hydration."""
    root = str(tmp_path / "tbl")
    t = _mk(spark, root)
    snap0 = t.current_snapshot()
    written = t.write_delta_files(
        spark.createDataFrame([("k1", 7)], "k string, v long"), snap0
    )
    t.commit_appended(written)

    calls = _count_hydrations(monkeypatch)
    t2 = ManifestTable(spark, root, ["k"])
    dc = t2.delta_counts()
    bb = t2.bucket_bytes(per_bucket=True)
    db = t2.bucket_delta_base_bytes()
    summary = t2.bucket_summary()
    totals = t2.summary_totals(t2.current_snapshot())
    assert calls["n"] == 0
    assert sum(dc.values()) == 33  # 32 base + 1 delta entry
    assert len(bb) == 32 and all(v > 0 for v in bb.values())
    touched = [b for b, (base, delta) in db.items() if delta > 0]
    assert len(touched) == 1
    assert {p["bucket"]: p["files"] for p in summary} == dc
    assert {p["bucket"]: p["bytes"] for p in summary} == bb
    assert [p["bucket"] for p in summary if p["delta_files"]] == touched
    assert totals == (33, 1, sum(bb.values()), 3001)


def test_append_commit_hydrates_only_touched(spark, tmp_path, monkeypatch):
    monkeypatch.setattr(M, "GROUP_SIZE", 8)
    root = str(tmp_path / "tbl")
    t = _mk(spark, root)
    snap0 = t.current_snapshot()
    written = t.write_delta_files(
        spark.createDataFrame([("k1", 7)], "k string, v long"), snap0
    )
    calls = _count_hydrations(monkeypatch)
    t2 = ManifestTable(spark, root, ["k"])
    t2.commit_appended(written)
    # only the touched bucket's entries were read to build its new list,
    # and only its group's ref table was read to rebuild the group
    assert calls["n"] <= 2
    assert calls["g"] <= 2
    assert t2.read().where("k = 'k1' and v = 7").count() == 1


def test_added_files_diff_is_o_changed(spark, tmp_path, monkeypatch):
    """Snapshot diff (the incremental chain pull) skips GROUPS whose
    content-addressed group keys match without reading them, then
    buckets whose shard refs match — O(changed) hydration."""
    monkeypatch.setattr(M, "GROUP_SIZE", 8)
    root = str(tmp_path / "tbl")
    t = _mk(spark, root)  # 32 buckets = 4 groups
    v0 = t.current_snapshot().version
    snap = t.current_snapshot()
    written = t.write_delta_files(
        spark.createDataFrame([("k1", 999)], "k string, v long"), snap
    )
    t.commit_appended(written)
    v1 = t.current_snapshot().version

    calls = _count_hydrations(monkeypatch)
    t2 = ManifestTable(spark, root, ["k"])
    out = t2.added_files(v0, v1)
    assert list(out) == list(written)  # exactly the touched bucket
    assert sum(len(es) for es in out.values()) == 1
    assert calls["g"] <= 2  # old+new group file of the ONE changed group
    assert calls["n"] <= 2  # old+new shard of the one changed bucket


def test_snapshot_cache_amortizes_per_batch_walks(spark, tmp_path, monkeypatch):
    """The handle's version-keyed snapshot cache carries group/shard
    hydration across commits: the per-replay-batch metadata walks
    (eligibility, sizing, delta_counts) on the handle that just
    committed read O(touched) group files, not O(num_groups) each
    batch. Snapshot FILES are immutable once claimed, so the cache can
    never serve stale content; version resolution still hits the
    directory so concurrent writers are seen."""
    monkeypatch.setattr(M, "GROUP_SIZE", 8)
    root = str(tmp_path / "tbl")
    t = _mk(spark, root)  # 32 buckets = 4 groups
    # prime: one full walk hydrates every group once
    assert sum(t.delta_counts().values()) == 32

    calls = _count_hydrations(monkeypatch)
    # ten delta commits, each touching one bucket, each followed by the
    # walks a replay batch performs
    for i in range(10):
        snap = t.current_snapshot()
        written = t.write_delta_files(
            spark.createDataFrame([("k1", 100 + i)], "k string, v long"), snap
        )
        t.commit_appended(written)
        t.delta_counts()
        t.bucket_bytes(per_bucket=True)
        t.bucket_delta_base_bytes()
    # without the cache each of the 30 walks re-parses all 4 groups
    # (120 reads); with it, only the touched bucket's group is ever
    # re-read (absorbed refs keep the other groups clean and hydrated)
    assert calls["g"] <= 10, calls
    assert calls["n"] <= 11, calls  # touched bucket's entries only
    assert sum(t.delta_counts().values()) == 42  # 32 base + 10 deltas


def test_expire_purges_cached_snapshots(spark, tmp_path):
    """Expired versions must fail time travel loudly even on the handle
    that recently parsed (and cached) them."""
    root = str(tmp_path / "tbl")
    t = _mk(spark, root, num_buckets=4)
    for i in range(5):
        snap = t.current_snapshot()
        written = t.write_delta_files(
            spark.createDataFrame([("k1", i)], "k string, v long"), snap
        )
        t.commit_appended(written)
    versions = sorted(
        int(n[len("snapshot-"):-len(".json")])
        for n in os.listdir(os.path.join(root, "_snapshots"))
        if n.startswith("snapshot-") and n.endswith(".json")
    )
    victim = versions[-3]  # recent enough to be in the 4-entry cache
    t.snapshot_at(victim)  # ensure it IS cached
    out = t.expire_snapshots(keep_last=2)
    assert victim in out["expired"]
    import pytest

    with pytest.raises(FileNotFoundError):
        t.snapshot_at(victim)


def test_commit_metadata_cost_at_1e4_buckets(tmp_path):
    """Pure-metadata scale check, no Spark: at 10,000 buckets (the
    100 TB layout), a 3-bucket delta commit's written metadata is tens
    of KB — document O(num_groups) + touched groups + touched shards —
    where the v3 flat ref table alone would rewrite ~1 MB per commit
    and v2 would rewrite every entry."""
    man_dir = str(tmp_path / "manifests")
    NB = 10_000
    schema = TableSchema([ColumnDef(1, "k", "string"), ColumnDef(2, "v", "long")])

    def entry(b, i):
        return {"path": f"/data/w{i}/__bucket={b}", "kind": "base", "sv": 1,
                "bytes": 1_000_000, "rows": 1000, "nb": NB}

    snap1 = Snapshot(version=1, current_schema_version=1, schemas={1: schema},
                     num_buckets=NB, files={b: [entry(b, 0)] for b in range(NB)},
                     properties={})
    doc1 = snap1.to_json(man_dir)

    def disk_bytes():
        return {
            n: os.path.getsize(os.path.join(man_dir, n))
            for n in os.listdir(man_dir)
        }

    base = disk_bytes()
    # reload from the serialized form (lazy map), apply a 3-bucket delta
    snap2l = Snapshot.from_json(doc1, man_dir)
    touched = [17, 4095, 9999]
    fm2 = snap2l.files.updated(
        {b: list(snap2l.files[b]) + [entry(b, 1)] for b in touched}
    )
    snap2 = Snapshot(version=2, current_schema_version=1, schemas={1: schema},
                     num_buckets=NB, files=fm2, properties={})
    doc2 = snap2.to_json(man_dir)
    new = {n: sz for n, sz in disk_bytes().items() if n not in base}

    new_shards = [n for n in new if n.startswith("m-")]
    new_groups = [n for n in new if n.startswith("g-")]
    assert len(new_shards) == 3          # exactly the touched buckets
    assert len(new_groups) == 3          # exactly the touched groups
    commit_bytes = len(doc2) + sum(new.values())
    # document ~ 10_000/64 group refs ≈ 47 KB; groups+shards ≈ 25 KB.
    # The v3 flat ref table alone would be ~90 B x 10^4 ≈ 1 MB/commit.
    assert commit_bytes < 120_000, commit_bytes
    assert len(doc2) < 60_000, len(doc2)
    # and the v2 embedded form this replaces
    assert commit_bytes < _embedded_bytes(snap2) / 10


def test_cache_never_shadows_a_concurrent_commit(spark, tmp_path):
    """Version resolution hits the pointer+directory on every
    current_snapshot() call, so handle A's cache cannot hide a commit
    made through handle B (or another process)."""
    root = str(tmp_path / "tbl")
    a = _mk(spark, root, num_buckets=4)
    assert a.current_snapshot().version == a.current_snapshot().version
    b = ManifestTable(spark, root, ["k"])
    snap = b.current_snapshot()
    written = b.write_delta_files(
        spark.createDataFrame([("k1", 777)], "k string, v long"), snap
    )
    b.commit_appended(written)
    # A sees B's commit immediately despite A's warm cache
    assert a.current_snapshot().version == b.current_snapshot().version
    assert a.read().where("k = 'k1' and v = 777").count() == 1


def test_cross_handle_expire_invalidates_other_handles_cache(spark, tmp_path):
    """A warm cache on handle A must not serve a version that handle B
    expired — time travel to a deleted snapshot fails loudly on EVERY
    handle, not just the one that ran expire_snapshots (a rollback
    through a stale cached snapshot would republish GC'd group refs)."""
    import pytest

    root = str(tmp_path / "tbl")
    a = _mk(spark, root, num_buckets=4)
    for i in range(5):
        snap = a.current_snapshot()
        written = a.write_delta_files(
            spark.createDataFrame([("k1", i)], "k string, v long"), snap
        )
        a.commit_appended(written)
    versions = sorted(
        int(n[len("snapshot-"):-len(".json")])
        for n in os.listdir(os.path.join(root, "_snapshots"))
        if n.startswith("snapshot-") and n.endswith(".json")
    )
    victim = versions[-3]
    a.snapshot_at(victim)  # warm A's cache
    b = ManifestTable(spark, root, ["k"])
    out = b.expire_snapshots(keep_last=2)
    assert victim in out["expired"]
    with pytest.raises(FileNotFoundError):
        a.snapshot_at(victim)
    with pytest.raises(FileNotFoundError):
        a.rollback(victim)
    # A's view of live state is unharmed
    assert a.current_snapshot().version == max(versions)


def test_older_cached_snapshots_shed_hydrated_entries(spark, tmp_path):
    """Only the newest cached snapshot pins hydrated shard entry lists;
    older cached versions keep their small ref/meta dicts but release
    entries (they re-read from the immutable shards on demand)."""
    root = str(tmp_path / "tbl")
    t = _mk(spark, root, num_buckets=4)
    old = t.current_snapshot()
    _ = {b: list(old.files[b]) for b in old.files}  # fully hydrate
    assert len(old.files._cache) == 4
    snap = t.current_snapshot()
    written = t.write_delta_files(
        spark.createDataFrame([("k1", 7)], "k string, v long"), snap
    )
    t.commit_appended(written)
    # committing cached a newer snapshot -> the old one shed its entries
    assert len(old.files._cache) == 0
    # ...but stays fully usable (re-hydrates) and its refs survived
    assert sum(len(old.files[b]) for b in old.files) == 4


def test_expire_walk_dedupes_shared_metadata(spark, tmp_path, monkeypatch):
    """The expiry tick's live-dirs walk reads each unique group/shard
    ONCE across all kept snapshots (they share almost everything), so
    auto-expire during replay costs O(unique metadata), not
    O(keep x buckets)."""
    monkeypatch.setattr(M, "GROUP_SIZE", 8)
    root = str(tmp_path / "tbl")
    t = _mk(spark, root)  # 32 buckets = 4 groups
    for i in range(10):   # 10 single-bucket delta commits
        snap = t.current_snapshot()
        written = t.write_delta_files(
            spark.createDataFrame([("k1", i)], "k string, v long"), snap
        )
        t.commit_appended(written)

    calls = _count_hydrations(monkeypatch)
    t2 = ManifestTable(spark, root, ["k"])  # cold handle: worst case
    out = t2.expire_snapshots(keep_last=5)
    assert out["expired"]
    # kept ~6 snapshots x 32 buckets = ~190 shard reads without dedup;
    # unique shards are 31 untouched + one per kept version of the hot
    # bucket. Groups likewise: 3 untouched + the hot group's versions —
    # the GC section seeds its live sets from the walk's seen sets, so
    # each unique group file is read exactly once per tick.
    assert calls["n"] <= 45, calls
    assert calls["g"] <= 15, calls
    # table still reads correctly after vacuum
    assert t2.read().where("k = 'k1'").count() >= 1


def test_shed_skips_maps_aliased_by_newest(spark, tmp_path):
    """Metadata-only commits (rollback, DDL) alias the parent's file map
    into the new snapshot; shedding the parent version must not strip
    the NEWEST snapshot's hydration through the shared object."""
    root = str(tmp_path / "tbl")
    t = _mk(spark, root, num_buckets=4)
    cur = t.current_snapshot()
    _ = {b: list(cur.files[b]) for b in cur.files}  # fully hydrate
    assert len(cur.files._cache) == 4
    rolled = t.rollback(cur.version)  # files IS cur.files (aliased)
    assert rolled.files is cur.files
    # caching the rollback shed nothing through the alias
    assert len(cur.files._cache) == 4


def test_expired_docs_unlink_before_data_vacuum(spark, tmp_path, monkeypatch):
    """expire_snapshots removes expired snapshot documents BEFORE the
    slow data-dir vacuum, so another handle's snapshot_at stat guard
    cannot validate a doc whose data is mid-deletion."""
    import shutil

    root = str(tmp_path / "tbl")
    t = _mk(spark, root, num_buckets=4)
    for i in range(4):
        # overwrites: expired versions' write dirs become orphans
        t.overwrite(spark.createDataFrame([("k1", i)], "k string, v long"))
    snap_dir = os.path.join(root, "_snapshots")
    versions = sorted(
        int(n[len("snapshot-"):-len(".json")])
        for n in os.listdir(snap_dir)
        if n.startswith("snapshot-") and n.endswith(".json")
    )
    will_expire = versions[:-2]
    real_rmtree = shutil.rmtree
    seen = {"vacuums": 0}

    def spy(path, **kw):
        seen["vacuums"] += 1
        for v in will_expire:
            assert not os.path.exists(
                os.path.join(snap_dir, f"snapshot-{v:08d}.json")
            ), f"data vacuum started while snapshot {v}'s doc still exists"
        return real_rmtree(path, **kw)

    monkeypatch.setattr(shutil, "rmtree", spy)
    out = t.expire_snapshots(keep_last=2)
    assert sorted(out["expired"]) == will_expire
    assert seen["vacuums"] > 0  # the spy actually gated real deletions


def _pure_snap(nb, tag=0):
    """No-Spark snapshot over nb buckets (one base entry each)."""
    schema = TableSchema([ColumnDef(1, "k", "string"), ColumnDef(2, "v", "long")])

    def entry(b, i):
        return {"path": f"/data/w{i}/__bucket={b}", "kind": "base", "sv": 1,
                "bytes": 1000, "rows": 10, "nb": nb}

    return Snapshot(version=1, current_schema_version=1, schemas={1: schema},
                    num_buckets=nb, files={b: [entry(b, tag)] for b in range(nb)},
                    properties={}), entry


def test_membership_accepts_integer_like_bucket_ids(tmp_path):
    """numpy ints (what collected Spark rows / pandas frames hand a
    tooling caller) must behave exactly like their int value on the
    lazy v4 map: a pruned selection filtered with ``b in snap.files``
    keeps the bucket instead of silently coming back empty. Floats and
    strings stay out."""
    import numpy as np

    man_dir = str(tmp_path / "manifests")
    snap, _ = _pure_snap(128)
    fm = Snapshot.from_json(snap.to_json(man_dir), man_dir).files

    assert np.int64(3) in fm
    assert list(fm[np.int64(3)]) == list(fm[3])
    assert [b for b in [np.int64(5), np.int64(500)] if b in fm] == [5]
    assert 3.0 not in fm
    assert "3" not in fm
    assert np.int64(4096) not in fm


def test_serialization_walk_is_o_touched_after_full_hydration(tmp_path):
    """The cached-lineage regression the loose/membership bookkeeping
    exists for: per-batch sizing iterates the WHOLE cached snapshot
    (hydrating every group's refs), and every later commit serializes a
    derived map. The serialization walk must still visit only the
    touched groups' buckets — not all 10^4 hydrated refs — and absorb
    must return the map to a zero-loose state so the NEXT commit walks
    only ITS touched group."""
    man_dir = str(tmp_path / "manifests")
    NB = 10_000
    snap, entry = _pure_snap(NB)
    doc1 = snap.to_json(man_dir)
    fm = Snapshot.from_json(doc1, man_dir).files
    assert len(fm) == NB  # full hydration (the per-batch sizing walk)

    gs = fm.group_size
    fm2 = fm.updated({17: [entry(17, 1)]})
    group_of_17 = set(range((17 // gs) * gs, (17 // gs + 1) * gs))
    # walk = the touched group's buckets, nothing else — even though
    # all 10^4 refs are hydrated in the lineage
    assert fm2._loose == group_of_17
    clean = set(fm2.group_keys())
    assert fm2.buckets_outside_groups(clean) == sorted(group_of_17)

    snap2 = Snapshot(version=2, current_schema_version=1,
                     schemas=snap.schemas, num_buckets=NB, files=fm2,
                     properties={})
    snap2.to_json(man_dir)
    # absorb re-cleaned the rebuilt group: nothing loose, empty walk
    assert fm2._loose == set()
    assert fm2.buckets_outside_groups(set(fm2.group_keys())) == []

    # second commit on the same cached lineage: only ITS group walks
    fm3 = fm2.updated({9_999: [entry(9_999, 2)]})
    group_of_last = set(range((9_999 // gs) * gs, NB))
    assert fm3._loose == group_of_last
    assert fm3.buckets_outside_groups(set(fm3.group_keys())) == sorted(group_of_last)
