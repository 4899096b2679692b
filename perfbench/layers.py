"""Layer kernels for the traced run: each times one module's public
functions on the workload's own data, outside the ingest window."""

from __future__ import annotations

import hashlib
import itertools
import os
import statistics
import time

from files import dir_bytes
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from etl_spark.cdc.lww import lww_winners, lww_winners_broadcast
from etl_spark.cdc.replay import ReplayEngine
from etl_spark.functions.normalize import normalize_series
from etl_spark.table.manifest import (
    ColumnDef, ManifestTable, Snapshot, TableSchema, bucket_expr,
)

LWW_SALT = 8


def _timed(fn, reps: int = 1) -> float:
    """Median seconds of ``reps`` calls."""
    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def _noop(df: DataFrame) -> None:
    df.write.mode("overwrite").format("noop").save()


def lww_kernels(tracer, log: DataFrame) -> dict:
    """The three LWW strategies on the workload's thin projection (keys
    plus order columns), each written to a ``noop`` sink."""
    thin = log.select("repo", "path", "commit", "offset")
    out = {}
    for name, build in (
        ("agg", lambda: lww_winners(thin)),
        ("broadcast", lambda: lww_winners_broadcast(thin)),
        ("salted", lambda: lww_winners(thin, salt=LWW_SALT)),
    ):
        with tracer.span(f"layer.lww.{name}", count_spark=True) as s:
            _noop(build())
        out[f"lww.{name}_s"] = s["seconds"]
    out["lww.winners_per_event"] = lww_winners(thin).count() / thin.count()
    return out


def cow_kernel(tracer, log: DataFrame, work: str, num_buckets: int,
               events: int = 24_000, batches: int = 4) -> dict:
    """Pipelined copy-on-write ``replay()`` of the log's first ``events``
    events, re-batched so each batch covers a disjoint bucket range (the
    sharded feed the cow pipeline overlaps). Offsets are shifted so batch
    ranges ascend, as the engine's offset fence requires; a key keeps one
    batch, so LWW order is unchanged. One batch warms the cow path first."""
    spark = log.sparkSession
    head = log.where(F.col("offset") < events)
    n = head.count()
    sharded = head.withColumn(
        "batch_id", (bucket_expr(["repo", "path"], num_buckets) % batches).cast("int")
    ).withColumn("offset", F.col("offset") + F.col("batch_id").cast("long") * F.lit(events * 10))
    path = os.path.join(work, "cow_log")
    sharded.write.parquet(path)
    cow_log = spark.read.parquet(path)
    ReplayEngine(spark, os.path.join(work, "cow_warm"), num_buckets=num_buckets,
                 mode="cow").replay(cow_log, batches=[0])
    root = os.path.join(work, "cow_table")
    eng = ReplayEngine(spark, root, num_buckets=num_buckets, mode="cow")
    with tracer.span("layer.cow.replay", count_spark=True) as s:
        results = eng.replay(cow_log)
    out = {"cow.events_per_s": n / s["seconds"]}
    for phase in ("plan", "write", "commit"):
        out[f"cow.{phase}_ms"] = statistics.mean(r["timings_ms"][phase] for r in results)
    # no expiry ran, so every file the engine wrote is still on disk
    out["cow.write_amp"] = dir_bytes(os.path.join(root, "data")) / dir_bytes(path)
    return out


def normalize_kernel(tracer, contents: list[str], reps: int = 3) -> dict:
    """``normalize_series`` plus sha256 on a pandas sample, one core, no
    Spark."""
    import pandas as pd

    series = pd.Series(contents)
    mb = sum(len(c.encode()) for c in contents) / 1e6

    def kernel():
        for text in normalize_series(series):
            hashlib.sha256(text.encode()).hexdigest()

    with tracer.span("layer.normalize"):
        s = _timed(kernel, reps)
    return {"normalize.rows_per_s": len(contents) / s, "normalize.mb_per_s": mb / s}


def commit_doc_ms(workdir: str, num_buckets: int, reps: int = 3) -> float:
    """Metadata cost of committing a 3-bucket delta to a table of
    ``num_buckets`` buckets: parse the parent document, update the file map,
    serialize the child. No Spark."""
    man_dir = os.path.join(workdir, f"manifests-{num_buckets}")
    schema = TableSchema([ColumnDef(1, "k", "string"), ColumnDef(2, "v", "long")])

    def entry(b, i):
        return {"path": f"/data/w{i}/__bucket={b}", "kind": "base", "sv": 1,
                "bytes": 1_000_000, "rows": 1000, "nb": num_buckets}

    parent = Snapshot(version=1, current_schema_version=1, schemas={1: schema},
                      num_buckets=num_buckets,
                      files={b: [entry(b, 0)] for b in range(num_buckets)}, properties={})
    doc = parent.to_json(man_dir)
    touched = [0, num_buckets // 2, num_buckets - 1]
    versions = itertools.count(2)

    def commit():
        version = next(versions)
        snap = Snapshot.from_json(doc, man_dir)
        files = snap.files.updated(
            {b: list(snap.files[b]) + [entry(b, version)] for b in touched}
        )
        Snapshot(version=version, current_schema_version=1, schemas={1: schema},
                 num_buckets=num_buckets, files=files, properties={}).to_json(man_dir)

    return _timed(commit, reps) * 1000


def manifest_probe(tracer, engine, lookup_keys: list[tuple[str, str]], reps: int = 5) -> dict:
    """Snapshot read and planning cost of the workload's final table."""
    root, keys = engine.table.root, engine.table.key_columns
    with tracer.span("layer.manifest.snapshot_read"):
        read_s = _timed(lambda: ManifestTable(engine.spark, root, keys).current_snapshot(), reps)
    with tracer.span("layer.manifest.plan"):
        plan_s = _timed(engine.table.read, reps)
    meta = 0
    for d, _, files in os.walk(os.path.join(root, "_snapshots")):
        meta += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    files = [len(engine.lookup(repo=r, path=p).inputFiles()) for r, p in lookup_keys]
    return {
        "manifest.snapshot_read_ms": read_s * 1000,
        "manifest.plan_ms": plan_s * 1000,
        "manifest.metadata_bytes": meta,
        "manifest.lookup_files": statistics.mean(files),
    }
