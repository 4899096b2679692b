"""Manifest-based bucketed parquet lake table — the Iceberg stand-in.

The sandbox ships no Iceberg runtime jar, so the engine implements the
subset of lake-table semantics the CDC design needs, on plain parquet,
with the same *shape* as Iceberg's spec (snapshots + manifests + atomic
snapshot claim + snapshot properties + schema evolution by column id):

- **Snapshots**: immutable JSON manifests listing, per key-bucket, the
  parquet directories that make up the bucket, each tagged with the
  schema version it was written under. Commit = exclusive CLAIM of the
  next ``snapshot-{v}.json`` (``os.link`` — the local-FS analog of a
  catalog CAS; on a real deployment this claim lives in a catalog /
  Iceberg metastore). Every commit after ``create`` runs one loop,
  ``_commit_next``: a lost claim re-runs the commit kind's step on the
  new snapshot, which rebases or refuses. Appends rebase unless a
  rebucket replaced their layout; bucket rewrites rebase while their
  buckets, schema and bucket count match their basis; overwrites
  rebase unless a DDL or rebucket landed; DDL and property updates
  re-run; ``rebucket`` and ``rollback`` never rebase. The claimed
  snapshot files are the only record of the current version: it is
  the highest one claimed.
- **Copy-on-write per bucket**: a cow batch rewrites only the buckets
  it touches; untouched buckets are carried over by reference. At
  10^10 events / 100 TB this is what keeps merge cost proportional to
  the delta, not the table.
- **Bucketing**: ``pmod(hash(repo, path), num_buckets)`` (murmur3 —
  Spark's own shuffle hash, see ``bucket_expr``) — the same deterministic
  layout on every write, so target-side rows for a key are always
  co-located and merge joins never read unaffected data. The bucket
  function name and a table format version are recorded in every
  snapshot; attaching to a table written under a different bucket
  function fails loudly instead of silently mis-bucketing merges.
- **Schema evolution by column id**: add / rename / type-widen bump the
  schema version; data files are never rewritten. Readers map each file
  group from its write-time schema to the current one (rename = id
  remap, widen = cast, add = null/default fill).
- **Snapshot properties** carry the exactly-once bookkeeping
  (``applied_batches``, ``fence_offset``) — the analog of Iceberg
  snapshot summary properties used for idempotent replay
  (reference analog: skip-if-already-applied checks,
  ``src/byggesager/byggesager.py:191-197``).

Metadata scale (format v4, the Iceberg manifest-list analog, two
levels): the per-bucket entry lists live in immutable CONTENT-ADDRESSED
shard files (``_snapshots/manifests/m-<sha>.json``); the bucket→shard
ref table itself is sharded into content-addressed GROUP files
(``g-<sha>.json``), ``GROUP_SIZE`` consecutive buckets per group, each
carrying the buckets' shard refs + summary stats; the snapshot JSON
holds one reference per GROUP. A commit therefore writes: new shards
for the TOUCHED buckets (the per-column stats, dominant), new group
files for the touched buckets' GROUPS only, and a snapshot document of
O(num_buckets / GROUP_SIZE) group refs. Untouched buckets' shards AND
untouched groups' ref tables are shared by reference across snapshots,
exactly how Iceberg shares unchanged manifests through the manifest
list — this removes the last O(num_buckets)-per-commit metadata term
(a flat ref table in the document would cost ~90 B/bucket, ~9 MB per
commit at 10^5 buckets; the groups cost ~30 B/group ≈ 47 KB document +
~6 KB per touched group). ``expire_snapshots`` garbage-collects shards
and group files referenced by no surviving snapshot. v4 is the only
format the engine reads or writes: a snapshot document of any other
format refuses to attach.

Reference analogs: keyed mutable store / check-then-insert upsert
(``src/capa/capa_data.py:9-24,54-72``), partition-overwrite upsert
(``src/byggesager/byggesager.py:177-188``), full replace
(``src/sensum/sensum.py:104``).
"""

from __future__ import annotations

import hashlib
import json
import operator
import os
import re
import uuid
from collections.abc import Mapping
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field, replace

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_spark.table.stats import collect_dir_stats, entry_excludes

_BUCKET_COL = "__bucket"

# Recorded in every snapshot. A table written under a different bucket
# function would silently route cow merges to the wrong buckets (stale
# duplicate rows for a key in two buckets, no error) — so mismatches on
# attach raise instead.
BUCKET_FN = "murmur3_pmod"
# v4 = per-bucket entry lists in content-addressed manifest shards,
# referenced from content-addressed GROUP files that the snapshot
# document lists, so the document is O(buckets / GROUP_SIZE). The only
# format read or written; earlier formats refuse to attach.
FORMAT_VERSION = 4

# How to get a table this build refuses to attach into a form it can:
# every refusal of a table's recorded format or layout names it.
_MIGRATE = (
    "To migrate, re-create the table at a new root and replay its change "
    "feed into it."
)

# Buckets per manifest-list group file. Commit metadata ~ 30 B *
# num_buckets/GROUP_SIZE (document) + touched_groups * 90 B * GROUP_SIZE
# (rewritten group files); 64 balances the two terms at the 10^4-10^5
# bucket layouts a 100 TB table runs (minimizes doc + touched cost for
# ~10-touched-bucket commits at 10^5 buckets).
GROUP_SIZE = 64

# Claim attempts per commit in ``ManifestTable._commit_next``: a lost
# claim re-runs the commit's step against the new snapshot, which
# either rebases or refuses (see the module docstring for each commit
# kind's rule); after this many lost claims the last conflict raises.
COMMIT_RETRIES = 5


# Row-metadata columns the CDC engine computes and stores on every row
# (etl_spark/cdc/replay.py seeds them at table creation). drop_column
# refuses them: the write path recomputes them each batch and reads
# filter on _deleted, so a schema without them breaks the next commit.
_ENGINE_MANAGED_COLS = ("content_sha256", "_ingest_offset", "_ingest_batch", "_deleted")

# Write-audit-publish staging markers (Iceberg's WAP pattern: stage
# commits invisibly, audit the staged state, then publish or discard).
# Properties carry forward through every commit kind ({**parent, **update}
# at each commit site), so ONE metadata-only commit setting these flags
# marks every subsequent commit staged until publish removes them —
# data commits, compaction, DDL and retention ticks all inherit the
# flag with zero changes to their write paths.
WAP_STAGED_PROP = "wap.staged"
WAP_BASE_PROP = "wap.base_version"

# Named snapshot refs (Iceberg tag analog): `tag.<name>` -> version.
# Tagged versions are exempt from expire_snapshots until the tag is
# dropped — the durable "keep this exact state" mechanism.
TAG_PROP_PREFIX = "tag."
_TAG_RE = re.compile(r"[A-Za-z0-9][A-Za-z0-9._-]*\Z")


class CommitConflictError(RuntimeError):
    """Another writer claimed this snapshot version first (the
    optimistic-concurrency analog of Iceberg's CommitFailedException).
    Appends rebase and retry automatically; rewrites re-raise when a
    concurrent commit touched the buckets being rewritten — re-plan
    from the new table state."""


@dataclass
class ColumnDef:
    id: int
    name: str
    type: str  # Spark DDL type string: string, int, long, double, ...
    default: object | None = None

    def to_json(self) -> dict:
        return {"id": self.id, "name": self.name, "type": self.type, "default": self.default}

    @staticmethod
    def from_json(d: dict) -> "ColumnDef":
        return ColumnDef(d["id"], d["name"], d["type"], d.get("default"))


@dataclass
class TableSchema:
    columns: list[ColumnDef]

    def names(self) -> list[str]:
        return [c.name for c in self.columns]

    def by_id(self) -> dict[int, ColumnDef]:
        return {c.id: c for c in self.columns}

    def ddl(self) -> str:
        return ", ".join(f"{c.name} {c.type}" for c in self.columns)

    def to_json(self) -> list[dict]:
        return [c.to_json() for c in self.columns]

    @staticmethod
    def from_json(cols: list[dict]) -> "TableSchema":
        return TableSchema([ColumnDef.from_json(c) for c in cols])


# type-widening lattice (Iceberg-compatible subset)
_WIDEN_OK = {("int", "long"), ("int", "double"), ("long", "double"), ("float", "double")}


#: the engine references columns by BARE name everywhere — unquoted
#: ``name type`` DDL strings (``TableSchema.ddl``), ``F.col(name)``
#: selects, SQL fragments in ``bucket_for_key`` — so names must be
#: plain identifiers. A dot means struct access to ``F.col``, a space
#: or comma breaks the DDL parse (probed: each commits fine, then the
#: first write or cross-version projection raises).
_IDENT_RE = re.compile(r"[A-Za-z_][A-Za-z0-9_]*\Z")


def check_column_name(name: str) -> None:
    """Refuse a column name the engine's unquoted by-name references
    could not survive (see ``_IDENT_RE``), or that collides with the
    writer's internal partition column."""
    if not isinstance(name, str) or not _IDENT_RE.match(name):
        raise ValueError(
            f"invalid column name {name!r}: the engine references columns "
            "by bare name (unquoted DDL strings, F.col, SQL fragments), so "
            "names must match [A-Za-z_][A-Za-z0-9_]* — a dot would resolve "
            "as struct access and punctuation breaks the schema parse"
        )
    if name.lower() == _BUCKET_COL:
        # the identifier regex admits it, but every write materializes
        # its own __bucket routing column (withColumn + partitionBy) —
        # a STORED column of that name commits its schema fine and then
        # wedges the first post-DDL write on the duplicate projection
        # (folded case: Spark resolves references case-insensitively)
        raise ValueError(
            f"column name {name!r} is reserved: the writer partitions "
            f"every commit by an internal {_BUCKET_COL!r} column, so a "
            "stored column of that name would collide at the first write"
        )


def validate_column_type(
    spark: SparkSession, type_: str, default: object | None = None
) -> None:
    """Refuse a new column's type/default if the read path could not
    execute it — BEFORE the DDL commits a schema version.

    ``add_column`` stores ``type_`` verbatim; every later read then
    projects file groups with ``F.col(...).cast(type_)``, fills pre-DDL
    rows with ``F.lit(default).cast(type_)`` (``_map_to_schema``),
    and parses the schema's DDL string for empty frames. An unvalidated
    type therefore WEDGES the table: the snapshot commits, then every
    subsequent read and merge raises (probed: type ``'strnig'`` →
    ParseException on every read_state/apply_batch; default ``'abc'``
    for an int column → CAST_INVALID_INPUT at the first post-DDL
    projection). Validate with the exact expressions the read path
    will run.
    """
    from pyspark.sql.types import _parse_datatype_string

    try:
        _parse_datatype_string(type_)
    except Exception as e:
        first = str(e).strip().splitlines()[0] if str(e).strip() else type(e).__name__
        raise ValueError(
            f"cannot add a column of type {type_!r}: not a parseable Spark "
            f"DDL type ({first}) — the schema would commit but every "
            "subsequent read and merge would fail parsing it"
        ) from None
    if default is not None:
        try:
            got = (
                spark.range(1)
                .select(F.lit(default).cast(type_).alias("v"))
                .first()["v"]
            )
        except Exception as e:
            first = str(e).strip().splitlines()[0] if str(e).strip() else type(e).__name__
            raise ValueError(
                f"cannot add a column with default {default!r} as {type_!r}: "
                "reads fill pre-DDL rows with lit(default) cast to the column "
                f"type, which fails ({first}) — the schema would commit but "
                "every subsequent read of a pre-DDL row would fail the cast"
            ) from None
        if got is None:
            raise ValueError(
                f"cannot add a column with default {default!r} as {type_!r}: "
                "the declared default casts to NULL under this session's "
                "semantics, so pre-DDL rows would silently read back NULL "
                "instead of the default — fix the default's type or drop it"
            )


@dataclass
class Snapshot:
    version: int
    current_schema_version: int
    schemas: dict[int, TableSchema]
    num_buckets: int
    # bucket -> list of {"path": dir, "sv": schema_version, "kind":
    #   "base"|"delta", "nb": bucket count, "bytes", "rows", "stats"}.
    # A ShardedFileMap once read or committed. create / overwrite /
    # rebucket commit a plain dict, which to_json adopts; appends and
    # rewrites derive theirs with ShardedFileMap.updated, and
    # metadata-only commits alias an existing snapshot's map.
    files: Mapping[int, list[dict]]
    properties: dict = field(default_factory=dict)
    bucket_fn: str = BUCKET_FN
    format_version: int = FORMAT_VERSION

    def to_json(self, manifest_dir: str) -> str:
        """Serialize. Each bucket's entry list is written to an
        immutable content-addressed shard file in ``manifest_dir``
        (skipped when the identical shard already exists — untouched
        buckets cost ZERO metadata bytes per commit); the bucket->shard
        ref table is itself sharded into content-addressed GROUP files
        of ``GROUP_SIZE`` buckets, and the snapshot document carries
        only the group references — groups with no touched bucket reuse
        the parent's group file verbatim, so commit document+ref bytes
        are O(touched groups + num_groups), never O(num_buckets). A
        plain-dict ``files`` is adopted as a map of fresh buckets, so
        afterwards ``files`` is a ``ShardedFileMap`` matching its
        on-disk form."""
        if not isinstance(self.files, ShardedFileMap):
            self.files = ShardedFileMap({}, manifest_dir, overrides=self.files)
        fm = self.files
        gsize = fm.group_size or GROUP_SIZE
        # clean groups: no touched bucket — reuse the group file key
        # without hydrating it (or any of its shards)
        groups = fm.group_keys()
        # every bucket NOT covered by a clean group gets its ref
        # (re)built; shard keys of untouched buckets inside dirty
        # groups are reused without hydration
        rebuild: dict[int, dict] = {}
        new_shards: dict[int, tuple[str, dict]] = {}
        for b in fm.buckets_outside_groups(set(groups)):
            key = fm.ref_for(b)
            if key is not None:
                # untouched bucket: reuse the shard ref AND its stored
                # summary (never hydrated here)
                meta = fm._meta[b]
            else:
                entries = fm[b]
                meta = _shard_meta(entries)
                key = _write_manifest_shard(manifest_dir, entries)
                new_shards[b] = (key, meta)
            rebuild.setdefault(b // gsize, {})[str(b)] = {"k": key, **meta}
        new_groups = {
            g: _write_group_file(manifest_dir, contents)
            for g, contents in rebuild.items()
        }
        groups.update(new_groups)
        # record what was just written back into the map, so a snapshot
        # kept in the table's cache serializes children against CLEAN
        # groups — without this, groups touched anywhere in a cached
        # lineage would be rebuilt on every later commit
        # (O(lifetime-touched) instead of O(touched))
        fm._absorb_serialized(new_shards, new_groups, gsize)
        return json.dumps({
            "version": self.version,
            "current_schema_version": self.current_schema_version,
            "schemas": {str(v): s.to_json() for v, s in self.schemas.items()},
            "num_buckets": self.num_buckets,
            "properties": self.properties,
            "bucket_fn": self.bucket_fn,
            "format_version": self.format_version,
            "groups_ref": {str(g): k for g, k in sorted(groups.items())},
            "group_size": gsize,
        }, indent=1)

    @staticmethod
    def from_json(text: str, manifest_dir: str) -> "Snapshot":
        """Parse a format-v4 snapshot document; any other format raises
        ``ValueError`` naming it. Doubly lazy: a bucket's shard REF
        parses from its group file on first access, its entries from
        the shard on first access — point paths touch O(accessed)
        group+shard files, not the table."""
        d = json.loads(text)
        found = d.get("format_version")
        if found != FORMAT_VERSION:
            # v1 documents recorded neither format_version nor bucket_fn
            fmt = "v1" if found is None else f"v{found}"
            raise ValueError(
                f"snapshot {d.get('version')} is manifest format {fmt}; this "
                f"build reads only format v{FORMAT_VERSION} (group and shard "
                "files under _snapshots/manifests). Refusing to attach. "
                + _MIGRATE
            )
        return Snapshot(
            version=d["version"],
            current_schema_version=d["current_schema_version"],
            schemas={int(v): TableSchema.from_json(s) for v, s in d["schemas"].items()},
            num_buckets=d["num_buckets"],
            files=ShardedFileMap(
                {}, manifest_dir,
                group_keys={int(g): k for g, k in d["groups_ref"].items()},
                group_size=int(d["group_size"]),
            ),
            properties=d.get("properties", {}),
            # an absent bucket_fn reads as None, which _check_format refuses
            bucket_fn=d.get("bucket_fn"),
            format_version=found,
        )

    @property
    def schema(self) -> TableSchema:
        return self.schemas[self.current_schema_version]


def _claimed_versions(snap_dir: str) -> list[int]:
    """The versions claimed in a ``_snapshots`` directory, ascending;
    the last is the current version. A ``snapshot-{v}.json`` exists only
    once its commit claim succeeded (temp files carry a suffix), so this
    listing IS the version record. A directory with no claim holds no
    table: ``FileNotFoundError``."""
    versions = sorted(
        int(n[len("snapshot-"):-len(".json")])
        for n in os.listdir(snap_dir)
        if n.startswith("snapshot-") and n.endswith(".json")
    )
    if not versions:
        raise FileNotFoundError(f"no claimed snapshot in {snap_dir!r}")
    return versions


def _write_content_addressed(manifest_dir: str, prefix: str, payload) -> str:
    """One content-addressed-file write protocol for shards (``m-``,
    one bucket's entry list) and manifest-list groups (``g-``, one
    GROUP_SIZE-run's {bucket: shard-ref} table): canonical JSON,
    sha256[:20] key, skip when the identical file exists — that skip IS
    the sharing of untouched buckets/groups across snapshots."""
    canon = json.dumps(payload, sort_keys=True, separators=(",", ":"))
    key = hashlib.sha256(canon.encode("utf-8")).hexdigest()[:20]
    path = os.path.join(manifest_dir, f"{prefix}-{key}.json")
    if not os.path.exists(path):
        os.makedirs(manifest_dir, exist_ok=True)
        tmp = path + f".tmp-{uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            f.write(canon)
        # content-addressed: a concurrent writer of the same key wrote
        # identical bytes, so last-replace-wins is safe
        os.replace(tmp, path)
    return key


def _parse_ref(ref: dict) -> tuple[str, dict]:
    """Decode a group file's ref value ``{"k": key, ...summary}`` into
    ``(shard key, summary dict)``. The ONE decoder for group readers
    and key-only callers: the ref-object field set lives here and
    nowhere else."""
    return ref["k"], {f: ref[f] for f in ("n", "d", "by", "dby", "r")}


def _ref_key(ref) -> str:
    """Shard key from a ref-table value (see ``_parse_ref``)."""
    return _parse_ref(ref)[0]


def _write_manifest_shard(manifest_dir: str, entries: list[dict]) -> str:
    return _write_content_addressed(manifest_dir, "m", entries)


def _read_manifest_shard(manifest_dir: str, key: str) -> list[dict]:
    with open(os.path.join(manifest_dir, f"m-{key}.json")) as f:
        return json.load(f)


def _write_group_file(manifest_dir: str, contents: dict) -> str:
    return _write_content_addressed(manifest_dir, "g", contents)


def _read_group_file(manifest_dir: str, key: str) -> dict:
    with open(os.path.join(manifest_dir, f"g-{key}.json")) as f:
        return json.load(f)


class ShardedFileMap(Mapping):
    """Lazy ``{bucket: [entry, ...]}`` view over manifest groups+shards.

    Two lazy levels (format v4): the snapshot document carries GROUP
    references; a group file carries its buckets' shard refs + summary
    stats; a shard carries one bucket's entry list. A bucket's shard
    REF hydrates from its group file on first access, its ENTRIES from
    the shard on first access, both cached. Point paths (lookup,
    bucket-pruned reads, per-bucket conflict checks) therefore parse
    O(touched) group+shard files instead of the whole table;
    whole-table iterations hydrate every group (O(buckets/GROUP_SIZE)
    small files), and only entry access reads shards. A map built from
    in-memory entries (``overrides``, no groups) is every bucket fresh.

    Immutable from the outside — structural changes go through
    ``updated``, which shares the untouched buckets' SHARD REFERENCES
    and the untouched groups' GROUP FILES with the parent, so
    re-serializing a derived snapshot rewrites only the changed
    buckets' shards and their groups' ref tables (and a pure-metadata
    commit, e.g. DDL or rollback, rewrites none). The loose-bucket /
    group-membership bookkeeping (``_loose`` / ``_gmembers``) keeps the
    serialization walk itself O(touched) even on a fully-hydrated
    cached lineage; the one remaining per-derivation cost that scales
    with hydration is ``updated``'s ref/meta dict copies —
    O(hydrated buckets) with a plain-dict-comprehension constant
    (single-digit ms at the 10^5-bucket target, vs seconds of Spark
    work per batch), kept because sharing hydrated refs across the
    cached lineage is exactly what makes per-batch sizing walks
    O(touched) group READS."""

    def __init__(self, refs: dict[int, str], manifest_dir: str,
                 overrides: dict[int, list] | None = None,
                 meta: dict[int, dict] | None = None,
                 group_keys: dict[int, str] | None = None,
                 group_size: int | None = None):
        self._refs = dict(refs)
        self._dir = manifest_dir
        self._cache: dict[int, list] = {}
        self._over = dict(overrides or {})
        # per-bucket summary stats from the group file — lets sizing
        # read n/d/by/dby/r without shard hydration
        self._meta = dict(meta or {})
        # CLEAN groups (no touched bucket): group id -> group-file key.
        # Serialization reuses these verbatim; _gpend tracks which are
        # not yet hydrated into _refs/_meta.
        self._gkeys = dict(group_keys or {})
        self._gsize = group_size
        self._gpend = set(self._gkeys)
        # buckets NOT covered by a clean group (fresh overrides,
        # surviving buckets of dirty groups). Together with _gmembers
        # (bucket sets of hydrated clean groups, immutable frozensets
        # shared by reference across derived maps) this keeps
        # buckets_outside_groups — the serialization/diff/GC walk —
        # O(result), never O(hydrated): a cached lineage that iterated
        # the whole table once would otherwise pay an O(num_buckets)
        # scan on EVERY later commit. updated() overrides both on
        # derived maps; at direct construction refs are empty (document
        # parse, in-memory overrides), so seeding loose from refs and
        # overrides is exact.
        self._loose = set(self._refs) | set(self._over)
        self._gmembers: dict[int, frozenset] = {}

    @property
    def group_size(self) -> int | None:
        return self._gsize

    def group_keys(self) -> dict[int, str]:
        """{group: group-file key} for CLEAN groups (every bucket
        untouched since the group file was written)."""
        return dict(self._gkeys)

    def _hydrate_group(self, g: int) -> None:
        if g not in self._gpend:
            return
        members = set()
        for bs, v in _read_group_file(self._dir, self._gkeys[g]).items():
            b = int(bs)
            members.add(b)
            if b in self._over or b in self._refs:
                continue
            self._refs[b], self._meta[b] = _parse_ref(v)
        # clean-group membership: hydration moves the refs into _refs,
        # but these buckets stay group-covered (NOT loose) — the set is
        # what lets a later updated()/serialization walk stay O(touched)
        # even after a whole-table iteration hydrated every group
        self._gmembers[g] = frozenset(members)
        self._gpend.discard(g)

    def _hydrate_groups(self) -> None:
        for g in list(self._gpend):
            self._hydrate_group(g)

    def _ensure_bucket(self, b: int) -> None:
        """Hydrate the one group that could hold ``b``, if pending —
        a group-file read at most, never a shard read."""
        if b in self._over or b in self._refs or not self._gsize:
            return
        g = b // self._gsize
        if g in self._gpend:
            self._hydrate_group(g)

    def shed_entries(self) -> None:
        """Release hydrated shard entry lists — they re-read from their
        immutable shard files on next access. Refs/meta/group keys (the
        small dicts that make walks O(touched)) stay. Overrides are
        structural, not cache, and are never shed (committed snapshots
        have none: serialization absorbs them into refs)."""
        self._cache.clear()

    def _absorb_serialized(self, shards: dict[int, tuple[str, dict]],
                           group_keys: dict[int, str], gsize: int) -> None:
        """Record the shard/group files ``Snapshot.to_json`` just wrote,
        so this map matches its on-disk form: rebuilt buckets move from
        overrides to refs (their entries stay cached in memory), rebuilt
        groups become CLEAN — a later ``updated()`` child re-serializes
        only ITS touched groups. Semantically a no-op (same logical
        content); called only from serialization."""
        for b, (key, meta) in shards.items():
            entries = self._over.pop(b, None)
            if entries is not None:
                self._cache[b] = entries
            self._refs[b] = key
            self._meta[b] = meta
        if self._gsize is None:
            self._gsize = gsize
        self._gkeys.update(group_keys)
        # rebuilt groups' buckets are all represented in _refs now
        self._gpend -= set(group_keys)
        # the rebuilt group files cover exactly the previously-loose
        # buckets (serialization's candidates ARE the loose set):
        # record their membership and take them off the loose set, so
        # the map's walk bookkeeping matches its new on-disk form
        if group_keys:
            newmem: dict[int, set] = {g: set() for g in group_keys}
            for b in self._loose:
                g = b // self._gsize
                if g in newmem:
                    newmem[g].add(b)
            for g, m in newmem.items():
                self._gmembers[g] = frozenset(m)
                self._loose -= m

    def buckets_outside_groups(self, groups: set) -> list[int]:
        """All buckets NOT covered by the given clean groups, hydrating
        only the clean groups outside that set — the serialization/
        diff/GC walk that skips shared groups without reading them.
        O(result + hydrated groups), never O(hydrated buckets): loose
        buckets are tracked incrementally and each hydrated clean
        group keeps its membership set, so a commit on a lineage that
        iterated the whole table (e.g. a cached snapshot sized by
        ``delta_counts`` every batch) still walks only its own touched
        buckets here."""
        out = set(self._loose)
        for g in list(self._gpend):
            if g not in groups:
                self._hydrate_group(g)
        for g, m in self._gmembers.items():
            if g not in groups:
                out |= m
        return sorted(out)

    def __getitem__(self, b: int) -> list:
        if b in self._over:
            return self._over[b]
        if b in self._cache:
            return self._cache[b]
        self._ensure_bucket(b)
        if b not in self._refs:
            raise KeyError(b)
        v = _read_manifest_shard(self._dir, self._refs[b])
        self._cache[b] = v
        return v

    def __contains__(self, b) -> bool:
        # accept anything integer-like (numpy ints from collected
        # Spark rows / pandas frames hash-equal their int value but
        # fail an isinstance(int) check — rejecting them here would
        # silently empty a pruned selection that __getitem__ serves);
        # reject floats and strings, which __index__ refuses
        try:
            b = operator.index(b)
        except TypeError:
            return False
        self._ensure_bucket(b)
        return b in self._over or b in self._refs

    def __iter__(self):
        self._hydrate_groups()
        return iter(sorted(set(self._refs) | set(self._over)))

    def __len__(self) -> int:
        self._hydrate_groups()
        return len(set(self._refs) | set(self._over))

    def updated(self, changes: dict[int, list], removed: set | frozenset = frozenset()
                ) -> "ShardedFileMap":
        """A new map with ``changes`` applied (bucket -> full new entry
        list) and ``removed`` buckets dropped; untouched buckets keep
        sharing the parent's shard references, and untouched GROUPS the
        parent's group files (never hydrated here — a touched group is
        hydrated so its other buckets' shard refs survive into the
        rebuilt group)."""
        gone = set(removed) | set(changes)
        gkeys = dict(self._gkeys)
        newly_loose: set = set()
        if self._gsize and gone:
            for g in {b // self._gsize for b in gone}:
                if g in self._gpend:
                    self._hydrate_group(g)
                if gkeys.pop(g, None) is not None:
                    # formerly-clean group now dirty: its surviving
                    # buckets lose group cover and go loose (their
                    # shard refs are still reused at serialization —
                    # only the group file rebuilds)
                    newly_loose |= self._gmembers[g]
        refs = {b: k for b, k in self._refs.items() if b not in gone}
        meta = {b: m for b, m in self._meta.items() if b not in gone}
        over = {b: v for b, v in self._over.items() if b not in gone}
        over.update({b: v for b, v in changes.items() if v})
        child = ShardedFileMap(refs, self._dir, over, meta,
                               group_keys=gkeys, group_size=self._gsize)
        # groups this map already hydrated stay hydrated in the child
        # (their refs were copied above)
        child._gpend = self._gpend & set(gkeys)
        # membership frozensets are immutable — share them by reference;
        # the dict copy is O(hydrated groups), i.e. buckets/GROUP_SIZE
        child._gmembers = {g: m for g, m in self._gmembers.items()
                           if g in gkeys}
        child._loose = (self._loose | newly_loose) - gone
        child._loose.update(b for b, v in changes.items() if v)
        return child

    def ref_for(self, b: int) -> str | None:
        """The bucket's existing shard key, if its entries are untouched
        (serialization reuses it without hydrating the shard)."""
        if b in self._over:
            return None
        self._ensure_bucket(b)
        return self._refs.get(b)

    def stat(self, b: int, field: str):
        """Summary stat (n/d/by/dby/r) of a bucket: from its group file,
        or, for a bucket touched in memory and not yet serialized, by
        ``_shard_meta`` over its entries — the formula serialization
        records."""
        if b in self._over:
            return _shard_meta(self._over[b])[field]
        self._ensure_bucket(b)
        return self._meta[b][field]


def _shard_meta(entries: list[dict]) -> dict:
    """Per-bucket summary stats stored NEXT TO the shard reference in
    the snapshot document (Iceberg's manifest-list summary analog):
    entry count / delta count / bytes / delta bytes / rows. Sizing and
    compaction-eligibility decisions read these without hydrating any
    shard — the per-batch metadata cost at 10^5 buckets."""
    deltas = [e for e in entries if e["kind"] == "delta"]
    return {
        "n": len(entries),
        "d": len(deltas),
        "by": sum(e["bytes"] for e in entries),
        "dby": sum(e["bytes"] for e in deltas),
        "r": sum(e["rows"] for e in entries),
    }


def bucket_expr(key_columns: list[str], num_buckets: int):
    """Bucket function = Spark's own shuffle hash (murmur3) mod buckets.

    Deliberately the SAME function HashPartitioning uses, so
    ``repartition(num_buckets, *key_columns)`` lands every row of bucket
    i in partition i exactly: one writer task per bucket, one file per
    bucket per commit, uniform over keys — no re-hash collisions/skew
    from repartitioning on the bucket VALUE, no multi-bucket writer
    tasks exploding the file count at scale."""
    return F.pmod(F.hash(*[F.col(c) for c in key_columns]), F.lit(num_buckets)).cast("int")


# Target on-disk bytes per compaction write task. SIZE-based, not
# core-based: A/B profiling showed fanning out by core count makes
# tasks overhead-dominated when buckets are small (32 cores, 1 MB
# buckets: 62k vs 103k events/s), while big buckets DO need splitting
# (8 cores, ~25 MB buckets: compaction 6.4 s -> 4.2 s) — the largest
# bucket otherwise strands every other core behind it (wave
# quantization, the measured compaction-scaling limiter).
FANOUT_TARGET_BYTES = 16 * 1024 * 1024


def compact_fanout(max_bucket_bytes: int) -> int:
    """Files-per-bucket fan-out for a compaction rewrite: enough
    sub-splits that each write task handles ~FANOUT_TARGET_BYTES of the
    LARGEST input bucket. Sized from the max, not the mean: the wave
    quantization this exists to fix is the biggest bucket stranding
    every other core behind it, and under hot-key skew the mean stays
    small while one bucket balloons. At production scale buckets are
    sized to the target anyway and this is 1 — layout unchanged."""
    return max(1, int(-(-max_bucket_bytes // FANOUT_TARGET_BYTES)))


class ManifestTable:
    """A keyed, bucketed, snapshot-versioned parquet table."""

    def __init__(self, spark: SparkSession, root: str, key_columns: list[str]):
        self.spark = spark
        self.root = root
        self.key_columns = list(key_columns)
        self._snap_dir = os.path.join(root, "_snapshots")
        self._manifest_dir = os.path.join(self._snap_dir, "manifests")
        self._data_dir = os.path.join(root, "data")
        # parsed-snapshot cache, keyed by version. Snapshot FILES are
        # immutable once claimed (exclusive-create is the commit point),
        # so a cached parse can never go stale; version RESOLUTION (a
        # listing of the claimed versions) still happens on every
        # current_snapshot() call, so concurrent writers are seen. The
        # point is metadata-read amortization: a cached ShardedFileMap
        # keeps its hydrated group/shard state, and a just-committed
        # snapshot's map shares untouched refs with its parent via
        # updated() — so per-batch walks (eligibility, sizing,
        # delta_counts) re-read O(touched) group files instead of
        # O(num_groups) every batch. Bounded at _SNAP_CACHE_MAX entries
        # (oldest versions evicted); expire_snapshots purges expired
        # versions so beyond-retention time travel still fails loudly.
        self._snap_cache: dict[int, Snapshot] = {}

    _SNAP_CACHE_MAX = 4

    def _cache_snapshot(self, snap: Snapshot) -> Snapshot:
        self._snap_cache[snap.version] = snap
        while len(self._snap_cache) > self._SNAP_CACHE_MAX:
            del self._snap_cache[min(self._snap_cache)]
        # only the NEWEST cached snapshot may pin full-table hydration:
        # older versions keep their small ref/meta/group dicts (the
        # amortization) but release hydrated shard ENTRY lists — at
        # 10^5 buckets a fully-walked manifest is hundreds of MB of
        # per-column stats, and 4 pinned copies is a driver leak, not
        # a cache
        newest = max(self._snap_cache)
        newest_files = self._snap_cache[newest].files
        for v, s in self._snap_cache.items():
            # metadata-only commits (rollback, DDL) ALIAS the parent's
            # map into the new snapshot — shedding the old version then
            # would strip the newest's hydration through the shared
            # object, so aliases of the newest are left alone
            if v != newest and s.files is not newest_files:
                s.files.shed_entries()
        return snap

    # ---------- lifecycle ----------

    @staticmethod
    def create(
        spark: SparkSession,
        root: str,
        schema: TableSchema,
        key_columns: list[str],
        num_buckets: int = 16,
        properties: dict | None = None,
    ) -> "ManifestTable":
        # refuse an unusable schema BEFORE snapshot v0 commits (probed:
        # a typo'd column type creates fine, then every read raises
        # ParseException; duplicate names/ids silently corrupt by-name
        # selects and the by_id evolution maps; a key column absent from
        # the schema fails only at the first merge, possibly after files
        # landed)
        # duplicate modulo case: Spark resolves column references
        # case-insensitively by default, so 'V' next to 'v' passes an
        # exact check and then the FIRST write dies AMBIGUOUS_REFERENCE
        # (probed) — and the table outlives whatever caseSensitive conf
        # created it, so refuse case collisions unconditionally
        names = [c.name for c in schema.columns]
        folded = [n.lower() for n in names]
        dup_names = sorted({n for n in names if folded.count(n.lower()) > 1})
        if dup_names:
            raise ValueError(
                f"cannot create table with duplicate column names {dup_names} "
                "(compared case-insensitively — Spark's default resolution): "
                "by-name reads would resolve ambiguously or select the name "
                "twice, and stats/key maps collapse to one winner"
            )
        ids = [c.id for c in schema.columns]
        dup_ids = sorted({i for i in ids if ids.count(i) > 1})
        if dup_ids:
            raise ValueError(
                f"cannot create table with duplicate column ids {dup_ids}: "
                "schema evolution tracks columns by id, so two columns "
                "sharing one would alias each other through every DDL op"
            )
        missing = [k for k in key_columns if k not in names]
        if missing:
            raise ValueError(
                f"key column(s) {missing} not in the schema "
                f"(columns: {names}) — the bucket layout and LWW identity "
                "hash key columns by name"
            )
        for c in schema.columns:
            check_column_name(c.name)
            try:
                validate_column_type(spark, c.type, c.default)
            except ValueError as e:
                raise ValueError(f"column {c.name!r}: {e}") from None
        t = ManifestTable(spark, root, key_columns)
        os.makedirs(t._snap_dir, exist_ok=True)
        os.makedirs(t._data_dir, exist_ok=True)
        snap = Snapshot(
            version=0,
            current_schema_version=1,
            schemas={1: schema},
            num_buckets=num_buckets,
            files={},
            # key columns ARE the physical layout (rows bucket by their
            # hash): record them like bucket_fn so a mis-keyed attach
            # fails loudly instead of resolving/merging on wrong keys
            properties={**dict(properties or {}), "key_columns": list(key_columns)},
        )
        t._commit(snap)
        return t

    @staticmethod
    def peek_properties(root: str) -> dict:
        """Read the current snapshot's properties WITHOUT attaching (no
        key-column validation) — for discovering a table's recorded
        layout (``key_columns``, ``engine_mode``) before constructing a
        handle with the right keys."""
        snap_dir = os.path.join(root, "_snapshots")
        latest = _claimed_versions(snap_dir)[-1]
        with open(os.path.join(snap_dir, f"snapshot-{latest:08d}.json")) as f:
            # raw parse: properties live in the snapshot document itself,
            # so peeking never loads manifest shards (O(1) at any table size)
            return json.loads(f.read()).get("properties", {})

    @staticmethod
    def exists(root: str) -> bool:
        """True once the table's first snapshot has been claimed."""
        try:
            _claimed_versions(os.path.join(root, "_snapshots"))
        except FileNotFoundError:
            return False
        return True

    @staticmethod
    def _check_format(snap: Snapshot) -> Snapshot:
        if snap.bucket_fn != BUCKET_FN:
            raise ValueError(
                f"table was written with bucket function {snap.bucket_fn!r}; "
                f"this build uses {BUCKET_FN!r}. Refusing to attach: merging "
                "with a different hash would route keys to the wrong buckets "
                "and leave stale duplicates. " + _MIGRATE
            )
        return snap

    def _snapshot_versions(self) -> list[int]:
        return _claimed_versions(self._snap_dir)

    def current_snapshot(self) -> Snapshot:
        """The latest committed snapshot: the highest claimed version.
        The COMMIT POINT is the exclusive creation of
        ``snapshot-{v}.json`` (see ``_commit``), so the listing sees
        every commit the moment it lands; no claim raises
        ``FileNotFoundError``."""
        version = self._snapshot_versions()[-1]
        cached = self._snap_cache.get(version)
        if cached is not None:
            snap = cached
        else:
            with open(os.path.join(self._snap_dir, f"snapshot-{version:08d}.json")) as f:
                snap = self._cache_snapshot(self._check_format(
                    Snapshot.from_json(f.read(), self._manifest_dir)
                ))
        recorded = snap.properties.get("key_columns")
        if recorded and list(recorded) != self.key_columns:
            raise ValueError(
                f"table was created with key_columns={list(recorded)!r}; this "
                f"handle uses {self.key_columns!r}. Refusing to attach: LWW "
                "resolution and bucket routing on the wrong keys silently "
                "corrupt the table (use ManifestTable.peek_properties / "
                "ReplayEngine.attach to discover the recorded layout)."
            )
        return snap

    def _commit(self, snap: Snapshot) -> None:
        """Optimistic-concurrency commit, the local-FS analog of a
        catalog CAS: write the immutable snapshot to a temp file, then
        CLAIM its version with ``os.link`` (fails atomically if another
        writer claimed it first — raising ``CommitConflictError`` for
        the caller to rebase and retry). A successful claim IS the
        commit, and the claimed file is its only record: readers take
        the highest claimed version, so nothing else is written after
        it."""
        name = f"snapshot-{snap.version:08d}.json"
        path = os.path.join(self._snap_dir, name)
        tmp = path + f".tmp-{uuid.uuid4().hex}"
        text = snap.to_json(self._manifest_dir)
        with open(tmp, "w") as f:
            f.write(text)
        try:
            os.link(tmp, path)
        except FileExistsError:
            raise CommitConflictError(
                f"snapshot version {snap.version} was claimed by a "
                "concurrent commit; re-read the table and retry"
            ) from None
        finally:
            os.unlink(tmp)
        # the claim succeeded: the in-memory snapshot (whose file map
        # shares untouched group/shard refs with its parent and has just
        # absorbed the serialized shard/group keys) IS the on-disk state
        # — cache it so the next metadata walk inherits the parent's
        # hydration instead of re-parsing every group file
        self._cache_snapshot(snap)

    @staticmethod
    def _child(parent: Snapshot, properties_update: dict | None = None, **fields) -> Snapshot:
        """The next version of ``parent``: its fields, with ``fields``
        replaced and ``properties_update`` merged over its properties
        (unless ``fields`` sets ``properties`` outright)."""
        fields.setdefault("properties", {**parent.properties, **(properties_update or {})})
        return replace(parent, version=parent.version + 1, **fields)

    def _commit_next(self, step, first: Snapshot | None = None) -> Snapshot:
        """The one commit loop. ``step(parent)`` returns the child
        snapshot to claim, or raises to refuse; a refusal is never
        retried. A lost claim re-reads the current snapshot and runs
        ``step`` again, at most ``COMMIT_RETRIES`` claims in all, then
        the last ``CommitConflictError`` raises. ``first`` is the
        snapshot the first attempt commits against (default: the
        current one)."""
        parent = first if first is not None else self.current_snapshot()
        for attempt in range(COMMIT_RETRIES):
            if attempt:
                parent = self.current_snapshot()
            child = step(parent)
            try:
                self._commit(child)
                return child
            except CommitConflictError:
                if attempt == COMMIT_RETRIES - 1:
                    raise
        raise AssertionError("unreachable")

    # ---------- read ----------

    def _map_to_schema(self, df: DataFrame, from_schema: TableSchema, to_schema: TableSchema) -> DataFrame:
        """Project a file-group DataFrame from its write-time schema to
        the target schema: rename by column id, cast widened types, fill
        added columns with their default (null unless specified)."""
        from_by_id = from_schema.by_id()
        cols = []
        for c in to_schema.columns:
            src = from_by_id.get(c.id)
            if src is not None:
                cols.append(F.col(src.name).cast(c.type).alias(c.name))
            else:
                cols.append(F.lit(c.default).cast(c.type).alias(c.name))
        return df.select(*cols)

    def bucket_for_key(self, values: dict, snapshot: Snapshot | None = None) -> int:
        """The bucket a fully-specified key routes to — computed by the
        JVM's own ``hash``/``pmod`` on typed literals (constant-folded,
        no Python workers), so it is the bucket ``bucket_expr`` assigns
        by construction. The ``.first()`` still runs one Spark job per
        call."""
        snap = snapshot or self.current_snapshot()
        types = {c.name: c.type for c in snap.schema.columns}
        casts = ", ".join(
            f"CAST(:k{i} AS {types[k]})" for i, k in enumerate(self.key_columns)
        )
        args = {f"k{i}": values[k] for i, k in enumerate(self.key_columns)}
        return self.spark.sql(
            f"SELECT pmod(hash({casts}), {snap.num_buckets})", args=args
        ).first()[0]

    def _key_bucket_from_where(self, snap: Snapshot, preds: list[tuple]) -> int | None:
        """If equality predicates pin EVERY key column to a literal, the
        scan can be narrowed to the single bucket that key hashes to."""
        eq = {c: v for c, op, v in preds if op == "=" and c in self.key_columns}
        if set(eq) != set(self.key_columns):
            return None
        return self.bucket_for_key(eq, snapshot=snap)

    def _entry_prunable(self, e: dict, preds: list[tuple], snap: Snapshot) -> bool:
        """True iff the entry's recorded stats PROVE no row can satisfy
        the conjunction. Stats are keyed by column id; a column ADDED
        after the entry was written has the same default value on every
        row the reader projects, so the default decides the predicate
        for the whole entry (null default + null-rejecting predicate =
        always prunable)."""
        cur_by_name = {c.name: c for c in snap.schema.columns}
        sv_ids = set(snap.schemas[e["sv"]].by_id())
        for col, op, v in preds:
            c = cur_by_name.get(col)
            if c is None:
                continue
            if c.id not in sv_ids:
                if c.default is None:
                    return True
                if entry_excludes({"min": c.default, "max": c.default}, op, v):
                    return True
                continue
            if entry_excludes(e.get("stats", {}).get(str(c.id)), op, v):
                return True
        return False

    @staticmethod
    def _where_to_column(preds: list[tuple]):
        """The residual Spark filter for a normalized predicate list —
        applied to every surviving entry so results NEVER depend on
        pruning, and pushed by Spark down to parquet row-group stats."""
        out = None
        for col, op, v in preds:
            c = F.col(col)
            expr = {
                "=": lambda: c == F.lit(v),
                "<": lambda: c < F.lit(v),
                "<=": lambda: c <= F.lit(v),
                ">": lambda: c > F.lit(v),
                ">=": lambda: c >= F.lit(v),
                "in": lambda: c.isin(list(v)),
            }[op]()
            out = expr if out is None else (out & expr)
        return out

    def read(
        self,
        buckets: list[int] | None = None,
        snapshot: Snapshot | None = None,
        where: list[tuple] | None = None,
    ) -> DataFrame:
        """Read current state (optionally only the given buckets),
        projected to the current schema.

        ``where``: optional conjunctive predicates ``[(col, op, value)]``
        with op in ``= < <= > >= in`` — used to PRUNE whole file entries
        from the recorded min/max stats before Spark ever plans the scan
        (and to narrow to one bucket when all key columns are pinned by
        equality), then re-applied as a residual filter. This is a RAW
        read (base+delta rows under mor): only predicates over the KEY
        columns commute with downstream LWW resolution — a value
        predicate could drop a key's winning row while keeping an older
        one. ``Engine.read_state(where=...)`` enforces that split;
        callers of this method must do the same."""
        snap = snapshot or self.current_snapshot()
        target = snap.schema
        preds = list(where or [])
        unknown = [c for c, _, _ in preds if c not in set(target.names())]
        if unknown:
            raise ValueError(f"where references unknown columns: {unknown}")
        bad_ops = sorted({op for _, op, _ in preds} - {"=", "<", "<=", ">", ">=", "in"})
        if bad_ops:
            raise ValueError(
                f"unsupported where ops {bad_ops}; supported: = < <= > >= in"
            )
        bucket_set = set(buckets) if buckets is not None else None
        kb = self._key_bucket_from_where(snap, preds) if preds else None
        if kb is not None:
            bucket_set = {kb} if bucket_set is None else bucket_set & {kb}
        # iterate only the selected buckets: with lazy groups+shards a
        # pruned read (point lookup, bucket subset) parses O(selected)
        # group and shard files (membership hydrates one group, never
        # the whole key set)
        sel_buckets = (
            sorted(b for b in bucket_set if b in snap.files)
            if bucket_set is not None
            else list(snap.files)
        )
        out = self._scan(snap, (
            e for b in sel_buckets for e in snap.files[b]
            if not (preds and self._entry_prunable(e, preds, snap))
        ))
        if preds:
            out = out.filter(self._where_to_column(preds))
        return out

    def _scan(self, snap: Snapshot, entries) -> DataFrame:
        """One frame over ``entries``, projected to ``snap``'s current
        schema: the entries are grouped by the schema version they were
        written under, each group is read with that schema and mapped by
        column id, and the groups are unioned. No entries give an empty
        frame of the current schema."""
        target = snap.schema
        paths: dict[int, list[str]] = {}
        for e in entries:
            paths.setdefault(e["sv"], []).append(e["path"])
        if not paths:
            return self.spark.createDataFrame([], target.ddl())
        parts = [
            self._map_to_schema(
                self.spark.read.schema(snap.schemas[sv].ddl()).parquet(*ps),
                snap.schemas[sv], target,
            )
            for sv, ps in sorted(paths.items())
        ]
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    # ---------- write ----------

    def _write_bucketed(
        self, df: DataFrame, snap: Snapshot, tag: str,
        files_per_bucket: int = 1, sort_within: list[str] | None = None,
    ) -> dict[int, str]:
        """Write df partitioned by key bucket. Returns {bucket: dir} for
        buckets that received rows. The bucket function is the table's
        fixed layout, so every write co-locates keys identically — merges
        only ever read the buckets they touch.

        The repartition pins EXACTLY num_buckets * files_per_bucket
        partitions (a user-specified count AQE will not coalesce): no
        tiny-file explosion, and write parallelism that holds at any data
        size. ``df`` arrives with every column computed: per-row Python
        (the content-sha256 pandas_udf) runs where the batch is read,
        not here, so the write costs no Python task per bucket.

        ``files_per_bucket`` decouples write/compaction parallelism from
        the bucket layout: hash-partitioning on the keys with
        k * num_buckets partitions nests EXACTLY inside the bucket
        function (partition id = pmod(hash, k*n), so id mod n == bucket
        — murmur3-mod both times), meaning every task still writes rows
        of a single bucket, just k files per bucket dir instead of one.
        At 100 TB buckets >> cores and k stays 1; on a small cluster (or
        this sandbox) where cores ~ buckets, k > 1 removes the wave
        quantization that otherwise leaves cores idle behind the largest
        bucket — the measured compaction-scaling limiter."""
        k = max(1, int(files_per_bucket))
        write_dir = os.path.join(self._data_dir, f"w-{snap.version + 1:08d}-{tag}-{uuid.uuid4().hex[:8]}")
        out = df.withColumn(_BUCKET_COL, bucket_expr(self.key_columns, snap.num_buckets))
        # hash-partition on the KEY columns: because bucket_expr is the
        # same murmur3-mod, partition i holds only bucket i % num_buckets
        # — perfectly aligned, no collisions
        out = out.repartition(snap.num_buckets * k, *[F.col(c) for c in self.key_columns])
        if sort_within:
            # per-TASK sort (no extra exchange): each parquet file comes
            # out key-ordered, so its ROW GROUPS carry tight min/max
            # ranges the reader's pushed predicates skip on — the Iceberg
            # sort-order analog, applied at compaction where the one-time
            # sort cost amortizes over every subsequent read
            out = out.sortWithinPartitions(*sort_within)
        out = out.select(*snap.schema.names(), _BUCKET_COL)
        out.write.partitionBy(_BUCKET_COL).mode("overwrite").parquet(write_dir)
        result: dict[int, str] = {}
        if os.path.isdir(write_dir):
            for entry in os.listdir(write_dir):
                if entry.startswith(f"{_BUCKET_COL}="):
                    b = int(entry.split("=", 1)[1])
                    result[b] = os.path.join(write_dir, entry)
        return result

    def _stats_columns(self, snap: Snapshot) -> list[str]:
        """Columns tracked for file-entry min/max statistics: the key
        columns plus any listed in the ``stats_columns`` table property
        (comma-separated, current-schema names)."""
        extra = [
            c.strip()
            for c in snap.properties.get("stats_columns", "").split(",")
            if c.strip()
        ]
        return list(dict.fromkeys(self.key_columns + extra))

    def _entries(
        self, written: dict[int, str], sv: int, kind: str, snap: Snapshot
    ) -> dict[int, dict]:
        """Build manifest file entries for freshly-written bucket dirs,
        recording bytes / rows / per-column min-max from parquet FOOTER
        metadata (``stats.collect_dir_stats`` — no data pages read).
        Stats are keyed by COLUMN ID so they survive renames; cost is
        O(touched buckets) footer reads per commit, never table-sized.

        Every entry records ``nb`` — the bucket COUNT its rows were
        hashed under — so a commit rebasing across a concurrent
        ``rebucket`` can detect that its files belong to a dead layout
        instead of silently registering wrong-bucket rows."""
        base = {"sv": sv, "kind": kind, "nb": snap.num_buckets}
        sv_by_id = snap.schemas[sv].by_id()
        cur_by_name = {c.name: c for c in snap.schema.columns}
        file_name_to_id = {}
        for name in self._stats_columns(snap):
            c = cur_by_name.get(name)
            if c is not None and c.id in sv_by_id:
                file_name_to_id[sv_by_id[c.id].name] = c.id
        cols = list(file_name_to_id)

        def one(item: tuple[int, str]) -> tuple[int, dict]:
            b, p = item
            s = collect_dir_stats(p, cols)
            return b, {
                "path": p,
                **base,
                "bytes": s["bytes"],
                "rows": s["rows"],
                "stats": {
                    str(file_name_to_id[n]): v for n, v in s["stats"].items()
                },
            }

        if len(written) <= 1:
            return dict(map(one, written.items()))
        # a compaction can rewrite hundreds of buckets in one commit —
        # footer reads are I/O-bound, so fan the DIRS out too (the
        # per-dir pool inside collect_dir_stats handles the files)
        with ThreadPoolExecutor(max_workers=min(16, len(written))) as ex:
            return dict(ex.map(one, written.items()))

    def overwrite(self, df: DataFrame, properties_update: dict | None = None) -> Snapshot:
        """Full-table replace (reference K2: ``to_sql(if_exists='replace')``)."""
        snap = self.current_snapshot()
        sv = snap.current_schema_version
        written = self._write_bucketed(df.select(*snap.schema.names()), snap, "ow")
        files = {b: [e] for b, e in self._entries(written, sv, "base", snap).items()}

        def step(parent: Snapshot) -> Snapshot:
            if parent.current_schema_version != sv or parent.num_buckets != snap.num_buckets:
                raise CommitConflictError(
                    "concurrent schema evolution or rebucket during "
                    "overwrite; re-plan"
                )
            # full replace: a rebase just takes the next version —
            # replacing everything is the operation's semantics
            return self._child(parent, properties_update, files=files)

        return self._commit_next(step, first=snap)

    def rewrite_buckets(
        self,
        buckets: list[int],
        df: DataFrame,
        properties_update: dict | None = None,
        files_per_bucket: int = 1,
        sort_columns: list[str] | None = None,
        basis: Snapshot | None = None,
    ) -> Snapshot:
        """Copy-on-write commit: replace the given buckets with ``df``
        (which must contain only rows belonging to those buckets, in the
        current schema). Untouched buckets are carried over by reference.
        Data write + property update (fence/lineage) land in ONE atomic
        snapshot commit — the exactly-once guarantee hangs off this.

        ``basis`` is the snapshot ``df`` was RESOLVED FROM (pass the
        same snapshot given to ``read``). Before every commit attempt —
        including the first — the rewritten buckets' entry lists and the
        schema are compared against it, so a concurrent commit landing
        anywhere between the caller's resolve-read and this commit
        raises ``CommitConflictError`` instead of being silently erased
        (Iceberg's overwrite serialization rule). Conflicts on OTHER
        buckets rebase and retry. Omitting ``basis`` falls back to the
        snapshot read here, which only protects against commits that
        land after this call starts."""
        snap = self.current_snapshot()
        basis = basis or snap
        new_entries = self.write_rewrite_files(
            df, basis, files_per_bucket=files_per_bucket, sort_columns=sort_columns
        )
        return self._commit_next(
            self._rewrite_step(buckets, new_entries, basis, properties_update),
            first=snap,
        )

    def write_rewrite_files(
        self,
        df: DataFrame,
        basis: Snapshot,
        files_per_bucket: int = 1,
        sort_columns: list[str] | None = None,
    ) -> dict[int, dict]:
        """The WRITE half of ``rewrite_buckets``: land ``df``'s rows as
        new base files under ``basis``'s layout/schema and return the
        prepared entries, committing nothing. Lets the pipelined cow
        replay overlap batch N+1's (heavy) write with batch N's while
        ``commit_rewritten`` keeps commits strictly ordered."""
        written = self._write_bucketed(
            df.select(*basis.schema.names()), basis, "mg",
            files_per_bucket=files_per_bucket, sort_within=sort_columns,
        )
        return self._entries(written, basis.current_schema_version, "base", basis)

    def commit_rewritten(
        self,
        buckets: list[int],
        new_entries: dict[int, dict],
        basis: Snapshot,
        properties_update: dict | None = None,
    ) -> Snapshot:
        """The COMMIT half of ``rewrite_buckets``: atomically replace
        ``buckets`` with the prepared ``new_entries``. Same serialization
        rule as ``rewrite_buckets`` (entries of the rewritten buckets and
        the schema are compared against ``basis`` before every attempt;
        conflicts on OTHER buckets rebase and retry)."""
        return self._commit_next(
            self._rewrite_step(buckets, new_entries, basis, properties_update)
        )

    def _rewrite_step(
        self, buckets: list[int], new_entries: dict[int, dict],
        basis: Snapshot, properties_update: dict | None,
    ):
        """A bucket rewrite's commit step: rebase only while the
        rewritten buckets, the schema and the bucket count still match
        ``basis``."""
        # rewritten buckets are replaced (possibly to empty when all
        # rows were deleted); untouched buckets keep their shard refs
        changes: dict[int, list] = {b: [] for b in buckets}
        changes.update({b: [e] for b, e in new_entries.items()})

        def step(parent: Snapshot) -> Snapshot:
            if (
                parent.current_schema_version != basis.current_schema_version
                or parent.num_buckets != basis.num_buckets
                or any(
                    parent.files.get(b, []) != basis.files.get(b, [])
                    for b in buckets
                )
            ):
                raise CommitConflictError(
                    "concurrent commit touched the buckets, schema, or bucket "
                    "layout this rewrite resolved from; re-plan from the "
                    "current snapshot"
                )
            files = parent.files.updated(
                {b: v for b, v in changes.items() if v},
                {b for b, v in changes.items() if not v},
            )
            return self._child(parent, properties_update, files=files)

        return step

    def append_buckets(
        self, df: DataFrame, properties_update: dict | None = None,
        files_per_bucket: int = 1,
    ) -> Snapshot:
        """Merge-on-read commit: append ``df``'s rows as DELTA files to the
        buckets they hash into, leaving existing files untouched. Write
        amplification is O(batch) instead of O(touched buckets) — the
        scale path for hot-key workloads where every batch touches every
        bucket. Readers resolve base+delta with the engine's LWW rule;
        ``delta_counts`` drives compaction scheduling."""
        snap = self.current_snapshot()
        written = self.write_delta_files(df, snap, files_per_bucket=files_per_bucket)
        return self.commit_appended(written, properties_update)

    def write_delta_files(
        self, df: DataFrame, snap: Snapshot, files_per_bucket: int = 1,
    ) -> dict[int, dict]:
        """The WRITE half of ``append_buckets`` — data files land on disk
        but no snapshot references them yet (invisible; orphan-vacuumed
        by ``expire_snapshots`` if never committed). Split out so the
        replay loop can run the write of batch N+1 concurrently with
        batch N while keeping snapshot COMMITS strictly ordered —
        exactly Iceberg's write-then-commit protocol.

        Returns PREPARED manifest entries (bytes/rows/min-max stats read
        from the fresh parquet footers) so the pipelined replay pays the
        stats cost in the overlapped write phase, not on the serialized
        commit path."""
        written = self._write_bucketed(df, snap, "dl", files_per_bucket=files_per_bucket)
        return self._entries(written, snap.current_schema_version, "delta", snap)

    def commit_appended(
        self, written: dict[int, dict], properties_update: dict | None = None,
    ) -> Snapshot:
        """The COMMIT half of ``append_buckets``: atomically publish
        already-written delta files under the CURRENT snapshot (which may
        be newer than the one the files were planned against — safe
        because appends touch no existing files; callers must not
        interleave schema evolution with in-flight writes).

        ``written`` holds the prepared entries from ``write_delta_files``;
        each records the schema version (``sv``) and bucket count
        (``nb``) it was written under.

        Appends COMMUTE (they touch no existing entries), so a
        ``CommitConflictError`` from a concurrent commit is resolved by
        rebasing onto the new current snapshot and retrying — the
        Iceberg fast-append conflict rule. Note this protects TABLE
        integrity only; the engine's exactly-once bookkeeping
        (``applied_batches``/``fence_offset`` in properties) still
        assumes one logical replay writer per table."""

        def step(parent: Snapshot) -> Snapshot:
            # layout fence: delta files hashed under a bucket count that
            # a concurrent rebucket has since replaced must NOT rebase —
            # their rows would sit in wrong-bucket entries, invisible to
            # key-pruned reads and scattered by the next compaction
            stale = [b for b, e in written.items() if e["nb"] != parent.num_buckets]
            if stale:
                raise CommitConflictError(
                    f"delta files for buckets {sorted(stale)} were written under "
                    f"a {written[stale[0]]['nb']}-bucket layout but the table "
                    f"now has {parent.num_buckets} buckets (concurrent rebucket); "
                    "re-plan the batch against the current snapshot"
                )
            # structural update shares untouched buckets' shard refs —
            # an append commit hydrates and re-serializes only the
            # buckets it touches
            files = parent.files.updated(
                {b: list(parent.files.get(b, [])) + [e] for b, e in written.items()},
            )
            return self._child(parent, properties_update, files=files)

        return self._commit_next(step)

    def delta_counts(self, snapshot: Snapshot | None = None) -> dict[int, int]:
        """{bucket: number of file entries} — >1 means unresolved deltas.
        Answered from the group files' per-bucket summaries (zero shard
        hydration — this runs once per replay batch, and the handle's
        snapshot cache keeps the group reads at O(touched)).
        Pass ``snapshot`` to pin the walk to a specific version
        (matching bucket_bytes / bucket_delta_base_bytes)."""
        snap = snapshot or self.current_snapshot()
        return {b: snap.files.stat(b, "n") for b in snap.files}

    def bucket_bytes(
        self,
        buckets: list[int] | None = None,
        snapshot: Snapshot | None = None,
        per_bucket: bool = False,
    ) -> int | dict[int, int]:
        """On-disk bytes of the given buckets' data files — a total, or
        a {bucket: bytes} map with ``per_bucket=True`` (the fan-out
        sizing needs the max, not the sum, under bucket-size skew)."""
        snap = snapshot or self.current_snapshot()
        sel = (
            sorted(b for b in set(buckets) if b in snap.files)
            if buckets is not None else list(snap.files)
        )
        sizes: dict[int, int] = {b: snap.files.stat(b, "by") for b in sel}
        return sizes if per_bucket else sum(sizes.values())

    def bucket_summary(self, snapshot: Snapshot | None = None) -> list[dict]:
        """Per-bucket metadata summary (files / bytes / rows / delta
        count) from the group files' bucket summaries — zero shard and
        data-file reads."""
        snap = snapshot or self.current_snapshot()
        st = snap.files.stat
        return [
            {
                "bucket": b,
                "files": st(b, "n"),
                "bytes": st(b, "by"),
                "rows": st(b, "r"),
                "delta_files": st(b, "d"),
            }
            for b in snap.files
        ]

    def bucket_delta_base_bytes(
        self, buckets: list[int] | None = None, snapshot: Snapshot | None = None
    ) -> dict[int, tuple[int, int]]:
        """{bucket: (base_bytes, delta_bytes)} — classified by each
        entry's recorded ``kind`` (``write_delta_files`` appends tag
        'delta'; rewrite/overwrite tag 'base'). Drives bytes-aware
        compaction eligibility: rewriting a huge base to fold a few tiny
        deltas is O(table) write amplification per cycle, the classic
        LSM amortization problem."""
        snap = snapshot or self.current_snapshot()
        sel = (
            sorted(b for b in set(buckets) if b in snap.files)
            if buckets is not None else list(snap.files)
        )
        out: dict[int, tuple[int, int]] = {}
        for b in sel:
            by, dby = snap.files.stat(b, "by"), snap.files.stat(b, "dby")
            out[b] = (by - dby, dby)
        return out

# ---------- inspect tables ----------

    def summary_totals(self, snap: Snapshot) -> tuple[int, int, int, int]:
        """(files, delta_files, bytes, rows) for one snapshot from the
        group files' bucket summaries — no shard hydration. The
        metadata-cost-honest path for anything that only needs totals:
        inspect history, audit deltas."""
        per_bucket = self.bucket_summary(snap)
        return tuple(
            sum(p[k] for p in per_bucket)
            for k in ("files", "delta_files", "bytes", "rows")
        )

    def snapshots_df(self) -> DataFrame:
        """Iceberg inspect-table parity (``table.snapshots``): one row
        per RETAINED snapshot — version, schema version, bucket layout,
        file/byte/row totals, WAP staging flags. Driver-side O(retained
        snapshots) document reads using the document-level bucket
        summaries only (no shard hydration), then a createDataFrame of
        a metadata-bounded row list — retention keeps this small by
        construction. History/lineage queries ("when did the table
        double", "which commit added the debt") become one DataFrame."""
        from pyspark.sql.types import (
            BooleanType, IntegerType, LongType, StructField, StructType,
        )

        rows = []
        for v in self._snapshot_versions():
            try:
                snap = self.snapshot_at(v)
            except FileNotFoundError:  # raced a concurrent expiry tick
                continue
            files, delta, by, r = self.summary_totals(snap)
            rows.append((
                v, snap.current_schema_version, snap.num_buckets,
                len(snap.files), files, delta, by, r,
                snap.properties.get(WAP_STAGED_PROP) == "true",
                int(snap.properties.get("fence_offset", -1)),
            ))
        schema = StructType([
            StructField("version", IntegerType(), False),
            StructField("schema_version", IntegerType(), False),
            StructField("num_buckets", IntegerType(), False),
            StructField("buckets_with_data", IntegerType(), False),
            StructField("files", IntegerType(), False),
            StructField("delta_files", IntegerType(), False),
            StructField("bytes", LongType(), False),
            StructField("rows_in_files", LongType(), False),
            StructField("wap_staged", BooleanType(), False),
            StructField("fence_offset", LongType(), False),
        ])
        return self.spark.createDataFrame(rows, schema)

    def files_df(self, snapshot: Snapshot | None = None) -> DataFrame:
        """Iceberg inspect-table parity (``table.files``): one row per
        live file entry of one snapshot — bucket, path, kind, schema
        version, bytes, rows, recorded min/max stats (JSON, keyed by
        column id so entries written pre-rename stay interpretable).
        Hydrates every bucket's shard: O(buckets) manifest reads,
        documented inspection cost (the WRITE path never needs this —
        per-commit work stays O(touched)). The maintenance planner's
        view: file-size histograms, compaction debt per bucket, stats
        coverage — all without touching a data file."""
        from pyspark.sql.types import (
            IntegerType, LongType, StringType, StructField, StructType,
        )

        snap = snapshot or self.current_snapshot()
        rows = []
        for b in sorted(snap.files):
            for e in snap.files[b]:
                rows.append((
                    b, e["path"], e["kind"], int(e["sv"]), e["bytes"], e["rows"],
                    json.dumps(e["stats"], sort_keys=True) if e.get("stats") else None,
                ))
        schema = StructType([
            StructField("bucket", IntegerType(), False),
            StructField("path", StringType(), False),
            StructField("kind", StringType(), False),
            StructField("schema_version", IntegerType(), False),
            StructField("bytes", LongType(), True),
            StructField("rows", LongType(), True),
            StructField("stats_json", StringType(), True),
        ])
        return self.spark.createDataFrame(rows, schema)

    def rebucket(
        self,
        new_num_buckets: int,
        files_per_bucket: int = 1,
        sort_columns: list[str] | None = None,
    ) -> Snapshot:
        """Layout evolution: rewrite the WHOLE table under a new bucket
        count in one atomic snapshot — the partition-spec-evolution
        analog. A table created at 16 buckets that grows 100x needs
        ~10^3-10^5; every snapshot records its own ``num_buckets``, so
        readers (including time travel to pre-rebucket versions) and all
        subsequent merges pick up the layout from the snapshot they
        read, automatically.

        O(table) by nature — schedule like a major compaction. Rows are
        carried RAW (every stored version + tombstone under mor), so
        resolution semantics are unchanged; any concurrent commit during
        the rewrite raises ``CommitConflictError`` (the basis here is
        the entire table)."""
        if new_num_buckets < 1:
            raise ValueError("new_num_buckets must be >= 1")
        basis = self.current_snapshot()
        rows = self.read(snapshot=basis)
        # a layout-carrier copy of the basis: _write_bucketed takes the
        # bucket count and schema from the snapshot it is given
        carrier = replace(basis, num_buckets=new_num_buckets, files={})
        written = self._write_bucketed(
            rows, carrier, "rb",
            files_per_bucket=files_per_bucket, sort_within=sort_columns,
        )
        # entries built against the CARRIER: its num_buckets is the
        # layout the files were actually hashed under, so each entry's
        # ``nb`` stamp records the new layout (the basis would stamp the
        # dead one and poison any future layout-fence consumer)
        entries = self._entries(written, basis.current_schema_version, "base", carrier)

        def step(parent: Snapshot) -> Snapshot:
            if parent.version != basis.version:
                raise CommitConflictError(
                    "concurrent commit during rebucket; re-run against the new state"
                )
            return self._child(
                parent, num_buckets=new_num_buckets,
                files={b: [e] for b, e in entries.items()},
            )

        return self._commit_next(step)

    def added_files(self, from_version: int, to_version: int) -> dict[int, list[dict]]:
        """File entries present in ``to_version`` but not ``from_version``
        (Iceberg incremental-scan shape: snapshots are immutable, so the
        diff of their manifests IS the change set)."""
        old = self.snapshot_at(from_version)
        new = self.snapshot_at(to_version)
        # ref fast paths: a GROUP whose content-addressed group-file key
        # is identical in both snapshots covers only byte-identical
        # buckets — skip the whole group without reading it; within
        # differing groups, a bucket whose shard ref matches is skipped
        # without hydrating the shard. An incremental chain pull then
        # parses O(changed groups + changed buckets) metadata, not two
        # full tables.
        ng, og = new.files.group_keys(), old.files.group_keys()
        same_groups = (
            {g for g, k in ng.items() if og.get(g) == k}
            if new.files.group_size == old.files.group_size
            else set()
        )
        changed = [
            b for b in new.files.buckets_outside_groups(same_groups)
            if new.files.ref_for(b) is None
            or new.files.ref_for(b) != old.files.ref_for(b)
        ]
        seen = {
            e["path"]
            for b in changed if b in old.files
            for e in old.files[b]
        }
        out: dict[int, list[dict]] = {}
        for b in changed:
            fresh = [e for e in new.files[b] if e["path"] not in seen]
            if fresh:
                out[b] = fresh
        return out

    def read_changes(self, from_version: int, to_version: int) -> DataFrame:
        """Incremental read: rows in files added between two snapshots,
        projected to ``to_version``'s schema.

        Under merge-on-read this is an EXACT change feed — each commit
        appends its batch's LWW winners (upserts) and tombstones
        (``_deleted`` rows), nothing else — so downstream consumers can
        tail the table itself (the lake-as-changelog pattern). Under
        copy-on-write the added files are whole rewritten buckets, so the
        result is the post-image of every touched bucket, not row-level
        deltas — still useful for bucket-granular incremental syncs.
        In BOTH modes rows may carry ``_deleted = true`` (cow retains
        winning tombstones in the rewritten bucket so out-of-order
        stragglers cannot resurrect keys): consumers materializing live
        state must filter on it; consumers propagating deletes use it as
        the delete marker."""
        to_snap = self.snapshot_at(to_version)
        added = self.added_files(from_version, to_version)
        return self._scan(to_snap, (e for es in added.values() for e in es))

    def snapshot_at(self, version: int) -> Snapshot:
        """Load a historical snapshot by version (time travel)."""
        path = os.path.join(self._snap_dir, f"snapshot-{version:08d}.json")
        cached = self._snap_cache.get(version)
        if cached is not None:
            # another HANDLE (or process) may have expired this version
            # — a cache hit must not outlive the file, or time travel
            # to an expired snapshot would silently succeed (and a
            # rollback through it would republish GC'd group refs).
            # One stat per hit, vs the parse it replaces.
            if os.path.exists(path):
                return cached
            self._snap_cache.pop(version, None)
        with open(path) as f:
            return self._cache_snapshot(self._check_format(
                Snapshot.from_json(f.read(), self._manifest_dir)
            ))

    def rollback(self, version: int) -> Snapshot:
        """Restore the table to a historical snapshot — metadata-only
        (data files are immutable; the rollback is itself a NEW snapshot
        whose content equals the old one, so rollbacks are in the
        history too and re-rollback-able). Iceberg-parity recovery for
        a bad batch: roll back, fix, re-apply — the fence properties
        restored with the snapshot make the engine re-accept the rolled
        back offsets.

        Tags are REFS, not table state (Iceberg keeps refs outside
        snapshot metadata; here they ride properties as a storage
        choice): rollback restores the old snapshot's state but keeps
        the CURRENT tag namespace, so a tag created after ``version`` —
        including one pinning a staged state about to be discarded —
        survives and keeps its target retained, exactly as ``tag()``
        documents."""
        old = self.snapshot_at(version)
        cur = self.current_snapshot()
        props = {
            k: v for k, v in old.properties.items()
            if not k.startswith(TAG_PROP_PREFIX)
        }
        props.update({
            k: v for k, v in cur.properties.items()
            if k.startswith(TAG_PROP_PREFIX)
        })

        def step(parent: Snapshot) -> Snapshot:
            # commits only against ``cur``: a commit landing first
            # would be silently rolled back over
            if parent.version != cur.version:
                raise CommitConflictError(
                    f"concurrent commit during rollback to version {version}; "
                    "re-run against the new state"
                )
            return self._child(
                parent, current_schema_version=old.current_schema_version,
                schemas=old.schemas, num_buckets=old.num_buckets,
                files=old.files, properties=props,
            )

        return self._commit_next(step, first=cur)

    # ---------- properties / write-audit-publish ----------

    def update_properties(
        self, set_props: dict | None = None, remove: tuple | list = (),
        compute=None,
    ) -> Snapshot:
        """Metadata-only commit that sets and/or REMOVES snapshot
        properties (the per-commit ``properties_update`` path can only
        merge keys in — removal needs its own commit shape). Files and
        schema alias the parent's, so the commit writes one small
        document; a conflict rebases against the refreshed snapshot and
        retries, like DDL.

        ``compute``: callable ``snap -> (set_props, remove)`` evaluated
        against the snapshot of EACH attempt, for updates whose values
        or preconditions depend on the current state (WAP stage-begin
        pins ``snap.version``; tag creation asserts name uniqueness).
        A caller that computed those outside the loop would race
        concurrent committers: the conflict retry would rebase onto a
        NEWER snapshot while committing the stale value — e.g. a WAP
        base below a just-published commit, silently un-publishing it.
        ``compute`` may raise to abort (nothing commits)."""

        def step(parent: Snapshot) -> Snapshot:
            sets, drops = compute(parent) if compute is not None else (set_props, remove)
            props = {k: v for k, v in parent.properties.items() if k not in set(drops)}
            props.update(sets or {})
            return self._child(parent, properties=props)

        return self._commit_next(step)

    def published_snapshot(self) -> Snapshot:
        """The snapshot published readers should resolve: the current
        one normally, the recorded WAP base while commits are staged.
        The base version is pinned ONCE when staging begins and
        inherited by every staged commit, so this is a property read
        plus at most one time-travel load — never a history walk."""
        snap = self.current_snapshot()
        if snap.properties.get(WAP_STAGED_PROP) != "true":
            return snap
        return self.snapshot_at(int(snap.properties[WAP_BASE_PROP]))

    # ---------- tags (named snapshot refs) ----------

    def tag(self, name: str, version: int | None = None) -> int:
        """Pin a snapshot version under a name (Iceberg tag analog):
        ``expire_snapshots`` keeps every tagged version, so a tag is
        the durable form of "this exact state matters" — the
        audit-passed state, a quarterly baseline, a debug repro.
        Carried as a snapshot property (``tag.<name>``), so tags ride
        every commit and cost nothing until expiry consults them.

        Tags are immutable refs: re-tagging an existing name is
        refused — ``drop_tag`` first (re-pointing a name silently is
        how "the baseline" quietly becomes a different baseline).
        Defaults to the current version; tagging a STAGED version is
        allowed but the tag survives a later discard and keeps that
        discarded state alive until dropped — tag published states
        unless you mean it."""
        if not _TAG_RE.match(name or ""):
            raise ValueError(
                f"invalid tag name {name!r}: must match "
                "[A-Za-z0-9][A-Za-z0-9._-]* (it becomes a property key)"
            )
        key = TAG_PROP_PREFIX + name

        # precondition + value computed against EACH attempt's snapshot
        # (update_properties' compute contract): checking against a
        # pre-loop snapshot would let a concurrent tagger's commit slip
        # past the uniqueness refusal on the conflict retry — a silent
        # last-wins overwrite of an "immutable" ref
        def _compute(snap: Snapshot) -> tuple[dict, tuple]:
            v = snap.version if version is None else int(version)
            if v not in self._snapshot_versions():
                raise ValueError(
                    f"cannot tag version {v}: it never existed or was "
                    f"expired (retained: {self._snapshot_versions()})"
                )
            if key in snap.properties:
                raise ValueError(
                    f"tag {name!r} already points at version "
                    f"{snap.properties[key]}; drop_tag first (tags are "
                    "immutable refs)"
                )
            return {key: str(v)}, ()

        return int(self.update_properties(compute=_compute).properties[key])

    def drop_tag(self, name: str) -> None:
        """Remove a tag; the version it pinned becomes expirable again
        on the next retention tick (the data is not touched here)."""
        key = TAG_PROP_PREFIX + name
        if key not in self.current_snapshot().properties:
            raise ValueError(f"no tag {name!r}")
        self.update_properties(remove=(key,))

    def tags(self) -> dict[str, int]:
        """{tag name: pinned version} from the current snapshot."""
        return {
            k[len(TAG_PROP_PREFIX):]: int(v)
            for k, v in self.current_snapshot().properties.items()
            if k.startswith(TAG_PROP_PREFIX)
        }

    def snapshot_at_tag(self, name: str) -> Snapshot:
        """Time travel by name. ``expire_snapshots`` keeps every version
        tagged when it computes its keep set, and re-reads the tags
        immediately before deleting, so a tag committed during most of
        a retention tick is honoured too. A tag that lands in the last
        window, between that re-read and the deletion, can still lose
        its version: this then raises ``FileNotFoundError`` and the tag
        should be dropped."""
        t = self.tags()
        if name not in t:
            raise ValueError(f"no tag {name!r} (tags: {sorted(t)})")
        return self.snapshot_at(t[name])

    # ---------- maintenance ----------

    def expire_snapshots(self, keep_last: int = 5) -> dict:
        """Iceberg-style snapshot expiry + orphan-data vacuum: keep the
        newest ``keep_last`` snapshots (time travel preserved for them),
        delete older snapshot manifests, then remove every data write
        directory referenced by NO surviving snapshot.

        At 10^10-event scale every commit adds files and nothing else
        removes them — without expiry, storage grows without bound.
        Deletion is metadata-driven (manifest diff, no directory
        listing race): a write dir is live iff some surviving snapshot
        references a path under it. The current snapshot is always
        kept. Returns {"expired": [versions], "deleted_dirs": n}."""
        import shutil

        versions = self._snapshot_versions()
        cur_snap = self.current_snapshot()
        cur = cur_snap.version
        keep = set(versions[-keep_last:]) | {cur}

        def tagged(snap: Snapshot) -> set[int]:
            return {
                int(v) for k, v in snap.properties.items()
                if k.startswith(TAG_PROP_PREFIX)
            } & set(versions)

        # tagged versions are pinned: a tag IS the statement "keep this
        # exact state" — expirable again the moment the tag is dropped
        keep |= tagged(cur_snap)
        if cur_snap.properties.get(WAP_STAGED_PROP) == "true":
            # a staged window must stay discardable: published readers
            # resolve the WAP base and discard_staged rolls back to it,
            # so every version from the base forward survives expiry
            # until publish/discard ends the window (staging windows are
            # audit-length by design — the retention cost is bounded by
            # how long an audit is allowed to hold the gate open)
            base = int(cur_snap.properties[WAP_BASE_PROP])
            keep |= {v for v in versions if v >= base}
        expired = [v for v in versions if v not in keep]
        # expired versions must fail time travel loudly — drop any
        # cached parse so snapshot_at can't serve a deleted snapshot
        for v in expired:
            self._snap_cache.pop(v, None)

        # realpath BOTH sides of the membership test: the table may have
        # been attached via a differently-spelled but equivalent root
        # ('tbl' vs './tbl', relative vs absolute, via symlink) than the
        # one its manifests were written under — exact string comparison
        # would then mark every live dir dead and vacuum the whole table.
        live_dirs: set[str] = set()
        n_live_entries = 0
        # kept snapshots share almost all of their metadata (each commit
        # touches a few buckets), so the walk dedupes by content address:
        # a group file read once covers every snapshot referencing it, a
        # shard read once covers every group referencing it — the tick
        # costs O(unique groups + unique shards), not O(keep x buckets).
        # This runs DURING replay under the auto-expire knobs, so the
        # bound matters at 10^4-10^5 buckets.
        seen_group_keys: set[str] = set()
        seen_shard_keys: set[str] = set()

        def _add_live(entries):
            nonlocal n_live_entries
            for e in entries:
                n_live_entries += 1
                # entries point at bucket subdirs: <write_dir>/__bucket=N
                live_dirs.add(os.path.realpath(os.path.dirname(e["path"].rstrip("/"))))

        def _add_shard(key):
            if key not in seen_shard_keys:
                seen_shard_keys.add(key)
                _add_live(_read_manifest_shard(self._manifest_dir, key))

        def _add_snapshot(v):
            # a read or committed snapshot's map matches its document:
            # every bucket sits in one of its clean groups
            for gk in self.snapshot_at(v).files.group_keys().values():
                if gk in seen_group_keys:
                    continue
                seen_group_keys.add(gk)
                for ref in _read_group_file(self._manifest_dir, gk).values():
                    _add_shard(_ref_key(ref))

        for v in sorted(keep):
            _add_snapshot(v)

        candidates = []
        matched = 0
        for entry in os.listdir(self._data_dir):
            full = os.path.join(self._data_dir, entry)
            if not os.path.isdir(full):
                continue
            if os.path.realpath(full) in live_dirs:
                matched += 1
            else:
                candidates.append(full)
        if n_live_entries and not matched:
            # surviving snapshots reference data files yet NOT ONE data
            # dir matched — the manifest paths and the scan root disagree
            # (foreign mount, moved table). Deleting now would drop all
            # live data; refuse instead of vacuuming.
            raise RuntimeError(
                f"expire_snapshots: surviving snapshots reference {n_live_entries} "
                f"file entries but no directory under {self._data_dir!r} matched a "
                "live write dir — refusing to vacuum (manifest/root mismatch?)"
            )
        # a tag committed since the keep set was computed pins a version
        # this tick was about to delete: re-read the tags right before
        # deleting, and keep those versions with every dir they reference
        late = tagged(self.current_snapshot()) & set(expired)
        if late:
            keep |= late
            expired = [v for v in expired if v not in late]
            for v in sorted(late):
                _add_snapshot(v)
            candidates = [c for c in candidates if os.path.realpath(c) not in live_dirs]
        # unlink the expired snapshot DOCS before the (slow) data-dir
        # vacuum: another handle's snapshot_at cache-hit guard stats the
        # doc, so the doc must disappear before the data it points at —
        # otherwise a stale read lands in the rmtree window. The
        # refusal check above already ran, so this path is committed to
        # deleting; a crash between unlink and rmtree just leaves
        # orphan dirs for the next tick to vacuum.
        for v in expired:
            try:
                os.remove(os.path.join(self._snap_dir, f"snapshot-{v:08d}.json"))
            except FileNotFoundError:
                pass
        deleted = 0
        for full in candidates:
            shutil.rmtree(full, ignore_errors=True)
            deleted += 1

        # manifest group+shard GC: a group file is live iff referenced
        # by a SURVIVING snapshot's groups_ref; a shard is live iff
        # referenced by a live group file. A freshly-written file whose snapshot
        # claim hasn't landed yet would look dead, so files younger than
        # the grace window are always kept (the same
        # single-logical-writer assumption that guards the data vacuum
        # above applies; the grace window is belt-and-braces).
        deleted_shards = 0
        deleted_groups = 0
        if os.path.isdir(self._manifest_dir):
            # seed from the live-dirs walk's seen sets: a group key the
            # walk already read is content-addressed, so its shard refs
            # are in seen_shard_keys verbatim — only group keys the
            # walk did NOT encounter (none, for committed snapshots)
            # are read here. The doc enumeration below stays the
            # authoritative source of WHICH keys are live.
            live_shards: set[str] = set(seen_shard_keys)
            live_groups: set[str] = set(seen_group_keys)
            for v in sorted(keep):
                with open(os.path.join(self._snap_dir, f"snapshot-{v:08d}.json")) as f:
                    doc = json.loads(f.read())
                for gk in doc["groups_ref"].values():
                    if gk in live_groups:
                        continue
                    live_groups.add(gk)
                    for ref in _read_group_file(self._manifest_dir, gk).values():
                        live_shards.add(_ref_key(ref))
            import time as _time

            now = _time.time()
            for n in os.listdir(self._manifest_dir):
                if n.startswith("m-") and n.endswith(".json"):
                    live = n[len("m-"):-len(".json")] in live_shards
                elif n.startswith("g-") and n.endswith(".json"):
                    live = n[len("g-"):-len(".json")] in live_groups
                else:
                    continue
                full = os.path.join(self._manifest_dir, n)
                if live:
                    continue
                try:
                    if now - os.path.getmtime(full) < 300:
                        continue
                    os.remove(full)
                    if n.startswith("m-"):
                        deleted_shards += 1
                    else:
                        deleted_groups += 1
                except FileNotFoundError:
                    pass
        return {
            "expired": expired,
            "deleted_dirs": deleted,
            "deleted_shards": deleted_shards,
            "deleted_groups": deleted_groups,
        }

    # ---------- schema evolution (metadata-only, files untouched) ----------

    def _evolve(self, mutate, properties_update: dict | None = None) -> Snapshot:
        """``properties_update`` lands in the SAME atomic commit as the
        schema change — the replay engine records an op's offset in
        ``applied_schema_ops`` here, so a crash between the evolution
        commit and the batch's data commit cannot re-apply the op on
        resume (re-application of add/rename raises).

        A commit conflict re-runs ``mutate`` against the refreshed
        snapshot (DDL is metadata-only, so the rebase is free); if the
        concurrent commit made the mutation invalid — e.g. both writers
        adding the same column — the mutate itself raises."""

        def step(snap: Snapshot) -> Snapshot:
            cur = snap.schema
            new_cols = mutate([ColumnDef(c.id, c.name, c.type, c.default) for c in cur.columns])
            props = {**snap.properties, **(properties_update or {})}
            # the stats_columns property is NAME-based while file stats
            # are id-based: carry each listed name through the DDL by id
            # (rename keeps collecting stats under the new name, drop
            # stops listing a dead name) — otherwise a rename silently
            # stops stats collection for that column's future files.
            # Names not in the pre-DDL schema are kept verbatim: the
            # property may legitimately name a column added later.
            sc = props.get("stats_columns", "")
            if sc:
                old_by_name = {c.name: c.id for c in cur.columns}
                new_by_id = {c.id: c.name for c in new_cols}
                kept = []
                for n in (x.strip() for x in sc.split(",") if x.strip()):
                    cid = old_by_name.get(n)
                    if cid is None:
                        kept.append(n)
                    elif cid in new_by_id:
                        kept.append(new_by_id[cid])
                props["stats_columns"] = ",".join(dict.fromkeys(kept))
            new_sv = snap.current_schema_version + 1
            return self._child(
                snap, current_schema_version=new_sv,
                schemas={**snap.schemas, new_sv: TableSchema(new_cols)},
                properties=props,
            )

        return self._commit_next(step)

    def add_column(
        self, name: str, type_: str, default: object | None = None,
        properties_update: dict | None = None,
    ) -> Snapshot:
        # refuse an unusable name/type/default BEFORE the snapshot
        # commits (an invalid one wedges every later read/merge — see
        # check_column_name / validate_column_type)
        check_column_name(name)
        validate_column_type(self.spark, type_, default)

        def mutate(cols: list[ColumnDef]) -> list[ColumnDef]:
            # collision modulo case: Spark resolves references
            # case-insensitively by default, so 'V' next to 'v' commits
            # fine and then by-name selects resolve ambiguously (probed)
            clash = next((c.name for c in cols if c.name.lower() == name.lower()), None)
            if clash is not None:
                suffix = "" if clash == name else f" (as {clash!r} — names are compared case-insensitively, Spark's default resolution)"
                raise ValueError(f"column {name!r} already exists{suffix}")
            next_id = max(c.id for c in cols) + 1
            return cols + [ColumnDef(next_id, name, type_, default)]

        return self._evolve(mutate, properties_update)

    def rename_column(self, old: str, new: str, properties_update: dict | None = None) -> Snapshot:
        # same pre-commit name guard as add_column — a rename to 'a.b'
        # would wedge by-name reads just like an add would
        check_column_name(new)

        def mutate(cols: list[ColumnDef]) -> list[ColumnDef]:
            if not any(c.name == old for c in cols):
                raise ValueError(f"no column {old!r}")
            if old in self.key_columns:
                # key_columns and bucket_expr reference keys BY NAME; a
                # renamed key wedges every subsequent merge/lookup after
                # the DDL already committed (and the WAL contract pins
                # the event column names anyway)
                raise ValueError(
                    f"cannot rename key column {old!r}: the bucket layout "
                    "and LWW key identity reference it by name "
                    "(rebucket/recreate instead)"
                )
            if old in _ENGINE_MANAGED_COLS:
                raise ValueError(
                    f"cannot rename engine-managed column {old!r}: the "
                    "write path recomputes it by name every batch"
                )
            # collision modulo case (Spark's default resolution is
            # case-insensitive): a duplicate-name schema silently
            # corrupts every by-name lookup (reads resolve ambiguously,
            # stats/key maps collapse to one winner) — refuse like
            # add_column does. The renamed column ITSELF is exempt so a
            # pure case change (v -> V) stays legal.
            clash = next(
                (c.name for c in cols
                 if c.name.lower() == new.lower() and c.name != old),
                None,
            )
            if clash is not None:
                detail = "" if clash == new else f" (as {clash!r}, case-insensitively)"
                raise ValueError(
                    f"cannot rename {old!r} to {new!r}: column {new!r} "
                    f"already exists{detail}"
                )
            for c in cols:
                if c.name == old:
                    c.name = new
            return cols

        return self._evolve(mutate, properties_update)

    def widen_type(self, name: str, new_type: str, properties_update: dict | None = None) -> Snapshot:
        def mutate(cols: list[ColumnDef]) -> list[ColumnDef]:
            if name in self.key_columns:
                # the bucket function hashes key VALUES BY TYPE:
                # murmur3(int x) != murmur3(long x) for the same x, so a
                # widened key silently re-routes every existing key to a
                # different bucket — later upserts/deletes for a stored
                # key land elsewhere (duplicate, undeletable rows)
                raise ValueError(
                    f"cannot widen key column {name!r}: the bucket hash is "
                    "type-sensitive, so existing keys would re-route to "
                    "different buckets (rebucket/recreate instead)"
                )
            for c in cols:
                if c.name == name:
                    if c.type != new_type and (c.type, new_type) not in _WIDEN_OK:
                        raise ValueError(f"cannot widen {c.type} -> {new_type}")
                    c.type = new_type
                    return cols
            raise ValueError(f"no column {name!r}")

        return self._evolve(mutate, properties_update)

    def drop_column(self, name: str, properties_update: dict | None = None) -> Snapshot:
        """Iceberg-style metadata-only column drop (Iceberg spec §Schema
        Evolution): the column leaves the CURRENT schema only. Files
        written under earlier schema versions keep their bytes untouched;
        reads project them away by column id (``_map_to_schema`` selects
        only the target schema's ids), and time travel to a pre-drop
        snapshot still surfaces the column. Re-adding the same NAME later
        allocates a NEW column id, so values from before the drop are
        never resurrected into the re-added column.

        Refused for key columns (the bucket layout and LWW identity hash
        them — dropping one would re-route every key) and for the engine-
        managed row-metadata columns (the write path recomputes them on
        every batch and the read path filters on ``_deleted``)."""

        def mutate(cols: list[ColumnDef]) -> list[ColumnDef]:
            if not any(c.name == name for c in cols):
                raise ValueError(f"no column {name!r}")
            if name in self.key_columns:
                raise ValueError(
                    f"cannot drop key column {name!r}: the bucket layout and "
                    "LWW key identity hash it (rebucket/recreate instead)"
                )
            if name in _ENGINE_MANAGED_COLS:
                raise ValueError(
                    f"cannot drop engine-managed column {name!r}: the write "
                    "path recomputes it every batch"
                )
            return [c for c in cols if c.name != name]

        return self._evolve(mutate, properties_update)
