#!/usr/bin/env python3
"""CDC ingest benchmark for ``etl_spark``.

Run from the repository root (or any directory; paths resolve against the
checkout that holds this file):

    python3 perfbench/run.py --workload bulk_mor_hot --seed 1 --seconds 10 --trace 0

Each run is one process, one workload, a closed loop at
``local[<cores of this process's CPU affinity set>]``:

1. set-up (billed to ``setup_s``): session start, input generation and
   materialisation, and a warm-up through the same mode and call path the
   workload times;
2. the timed ingest, sized from ``--seconds`` so it takes about that long on
   a 4-core host (the work done does not depend on how fast the host is);
3. lookups, scans and table sizes;
4. correctness, outside the timed window: the final table against an
   independent last-writer-wins oracle, and ``content_sha256`` against
   ``hashlib`` on a fixed sample;
5. with ``--trace 1``: the layer kernels, and the spans written to
   ``.perfbench_out/``.

Workloads:

* ``bulk_mor_hot``: a backfill. A few large batches with a 30% hot repo,
  16 buckets, pipelined merge-on-read ``replay()``, then compaction.
* ``trickle_mor_wide``: the sd-delta shape. Many small batches, each
  materialised on its own and passed in order to ``apply_batch`` with a
  schema-ops feed (one ``add_column``, one type widen); lookups between
  batches; auto-compaction and snapshot expiry inside the loop.

The copy-on-write path runs as a layer kernel of the traced run (see
``layers.cow_kernel``) rather than as a workload of its own.

Output: a table of every metric with its unit, then, as the last line, one
JSON object ``{"correct", "attempted", "failed", "metrics"}``. With
``--trace 0`` the metrics are the end-to-end ones, with ``--trace 1`` the
per-layer ones. The process exits 2 without a result when ``etl_spark`` is
not importable from the checkout.
"""

from __future__ import annotations

import time

T_START = time.monotonic()

import argparse  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402

from files import DataFileLedger, dir_bytes  # noqa: E402

# the checkout: the parent of this file's directory
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")
OUT_DIR = os.path.join(ROOT, ".perfbench_out")
HOT_SHARE = 0.3
HOT_REPO = "org/repo-0000"  # the generator's hot repo
N_REPOS, PATHS_PER_REPO = 200, 500
SHA_SAMPLE = 200


# ----------------------------------------------------------------- helpers

def tail(values: list[float]) -> tuple[int, float]:
    """The highest of p99/p95/p90/p75/p50 that has at least ten samples
    beyond it; the maximum when the sample is smaller than twenty."""
    for q in (99, 95, 90, 75, 50):
        if len(values) * (100 - q) / 100 >= 10:
            return q, statistics.quantiles(values, n=100, method="inclusive")[q - 1]
    return 100, max(values)


def peak_rss_mb(spark) -> float:
    """Peak resident set (VmHWM) of this Python process plus the Spark JVM."""
    pids = [os.getpid(), spark.sparkContext._gateway.proc.pid]
    kb = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as f:
            kb += next(int(line.split()[1]) for line in f if line.startswith("VmHWM:"))
    return kb / 1024


# --------------------------------------------------------------- workloads

class Workload:
    """Shared shape of a workload. Subclasses generate inputs
    (``prepare``), warm the timed path (``warm``) and run the timed ingest
    (``ingest``), filling ``batch_ms``, ``lookup_ms`` and ``ingest_s``."""

    num_buckets = 16
    lookups_after = 10  # lookups timed after ingest (0: they run in-loop)

    def __init__(self, spark, tracer, work: str, seed: int, seconds: int):
        self.spark, self.tracer, self.work = spark, tracer, work
        self.seed, self.seconds = seed, seconds
        self.cores = spark.sparkContext.defaultParallelism
        self.batch_ms: list[float] = []
        self.lookup_ms: list[float] = []
        self.attempted = 0
        self.results: list[dict] = []

    # -- inputs
    def generate(self, n_events: int, num_batches: int):
        from etl_spark.cdc.changelog import generate_changelog

        return generate_changelog(
            self.spark, n_events, seed=self.seed, n_repos=N_REPOS, paths_per_repo=PATHS_PER_REPO,
            hot_share=HOT_SHARE, num_batches=num_batches, parallelism=self.cores,
        )

    def materialise(self, df, name: str, partition_by: str | None = None):
        path = os.path.join(self.work, name)
        writer = df.write.mode("overwrite")
        (writer.partitionBy(partition_by) if partition_by else writer).parquet(path)
        return self.spark.read.parquet(path), path

    def pick_keys(self, log, k: int) -> list[tuple[str, str]]:
        """Keys of ``k`` events drawn with the run's seed, half from the hot
        repo and half from the rest, so every seed looks up the same mix of
        bucket sizes (live and deleted keys alike)."""
        from pyspark.sql import functions as F

        offsets = random.Random(self.seed).sample(range(self.events), 8 * k)
        rows = {r["offset"]: (r["repo"], r["path"]) for r in
                log.where(F.col("offset").isin(offsets)).select("offset", "repo", "path").collect()}
        drawn = [rows[o] for o in offsets]
        hot = [key for key in drawn if key[0] == HOT_REPO][: k // 2]
        return hot + [key for key in drawn if key[0] != HOT_REPO][: k - len(hot)]

    def engine(self, name: str, **kw):
        from etl_spark.cdc.replay import ReplayEngine

        return ReplayEngine(self.spark, os.path.join(self.work, name),
                            num_buckets=self.num_buckets, mode="mor", **kw)

    def lookup(self, engine, key, timed: bool = True) -> list:
        self.attempted += 1
        with self.tracer.span("lookup") as s:
            rows = engine.lookup(repo=key[0], path=key[1]).collect()
        if timed:
            self.lookup_ms.append(s["seconds"] * 1000)
        return rows


class BulkMorHot(Workload):
    """A backfill: few large batches through the pipelined mor path."""

    name = "bulk_mor_hot"
    events_per_second = 9_000  # sizing: about this many events per --seconds
    batches = 4

    def prepare(self):
        self.events = self.seconds * self.events_per_second
        self.log, path = self.materialise(
            self.generate(self.events, self.batches), "log")
        self.input_bytes = dir_bytes(path)
        self.keys = self.pick_keys(self.log, self.lookups_after)

    def warm(self):
        """The timed calls on the first batch, into a scratch table."""
        eng = self.engine("warm_table")
        eng.replay(self.log, batches=[0])
        eng.compact(min_files=1)
        eng.read_state().count()
        self.lookup(eng, self.keys[0], timed=False)

    def ingest(self):
        """Pipelined ``replay()`` plus the final compaction, timed as one."""
        self.table = self.engine("table")
        self.ledger = DataFileLedger(self.table.table_root)
        with self.tracer.span("ingest") as ingest:
            with self.tracer.span("replay", count_spark=True) as rep:
                self.results = self.table.replay(self.log)
            self.attempted += len(self.results)
            with self.tracer.span("compact") as c:
                self.compacted = self.table.compact(min_files=2)
        self.ledger.walk()
        self.ingest_s, self.replay_s, self.compact_s = ingest["seconds"], rep["seconds"], c["seconds"]
        self.batch_ms = [r["duration_ms"] for r in self.results if not r.get("skipped")]


class TrickleMorWide(Workload):
    """Many small batches through sequential ``apply_batch`` with lookups
    between them, schema evolution, and in-loop maintenance."""

    name = "trickle_mor_wide"
    batch_events = 2_000
    batches_per_second = 0.45  # sizing: about this many batches per --seconds
    lookups_per_batch = 2
    lookups_after = 0
    maintenance = {"compact_threshold": 4, "expire_every": 2, "expire_keep_last": 3}

    def ops_feed(self, n_batches: int):
        """One ``add_column`` a third of the way in, then its widen from int
        to long two thirds in, at offsets inside those batches."""
        from etl_spark.schema import SCHEMA_EVOLUTION_SCHEMA

        add_at = (n_batches // 3) * self.batch_events + 1
        widen_at = (2 * n_batches // 3) * self.batch_events + 1
        return self.spark.createDataFrame(
            [(add_at, "add_column", "size_bytes", json.dumps({"type": "int"})),
             (widen_at, "widen_type", "size_bytes", json.dumps({"new_type": "long"}))],
            SCHEMA_EVOLUTION_SCHEMA,
        )

    def split(self, n_batches: int):
        """The log, materialised one directory per batch, and each batch as
        its own frame (the filter prunes to that batch's directory)."""
        from pyspark.sql import functions as F

        log, path = self.materialise(
            self.generate(self.events, n_batches), "log", "batch_id")
        return log, [log.where(F.col("batch_id") == b) for b in range(n_batches)], path

    def prepare(self):
        # at least one in-loop compaction (4th batch) and two expiries
        n_batches = max(5, math.ceil(self.seconds * self.batches_per_second))
        self.events = n_batches * self.batch_events
        self.log, self.parts, path = self.split(n_batches)
        self.input_bytes = dir_bytes(path)
        self.ops = self.ops_feed(n_batches)
        self.keys = self.pick_keys(self.log, n_batches * self.lookups_per_batch)

    def warm(self):
        """The first two batches through the timed calls, into a scratch
        table."""
        eng = self.engine("warm_table", **self.maintenance)
        for b in range(2):
            eng.apply_batch(self.parts[b], b, schema_ops=self.ops)
            self.lookup(eng, self.keys[b], timed=False)
        eng.compact(min_files=2)
        eng.read_state().count()

    def ingest(self):
        self.table = self.engine("table", **self.maintenance)
        self.ledger = DataFileLedger(self.table.table_root)
        keys = iter(self.keys)
        for b, part in enumerate(self.parts):
            self.attempted += 1
            with self.tracer.span("batch", count_spark=True) as s:
                self.results.append(self.table.apply_batch(part, b, schema_ops=self.ops))
            self.batch_ms.append(s["seconds"] * 1000)
            self.ledger.walk()
            for _ in range(self.lookups_per_batch):
                self.lookup(self.table, next(keys))
        with self.tracer.span("compact") as c:
            self.compacted = self.table.compact(min_files=2)
        self.ledger.walk()
        self.compact_s = c["seconds"]
        self.replay_s = sum(self.batch_ms) / 1000
        self.ingest_s = self.replay_s + c["seconds"]


WORKLOADS = {w.name: w for w in (BulkMorHot, TrickleMorWide)}


# ------------------------------------------------------------------ metrics

END_TO_END_UNITS = {
    "setup_s": "s",
    "ingest_events_per_s": "events/s",
    "batch_latency_p50_ms": "ms",
    "batch_latency_tail_ms": "ms",
    "write_amp": "ratio",
    "stored_bytes_per_live_row": "B",
    "peak_rss_mb": "MB",
}


def read_side(wl: Workload, scans: int = 5) -> dict:
    """Lookups after ingest, scans and the table's recorded sizes."""
    for k in wl.keys[: wl.lookups_after]:
        wl.lookup(wl.table, k)
    scan_s, live = [], None
    for _ in range(scans):
        wl.attempted += 1
        with wl.tracer.span("scan") as s:
            live = wl.table.read_state().count()
        scan_s.append(s["seconds"])
    q, lookup_tail = tail(wl.lookup_ms)
    wl.lookup_tail_at = f"p{q} of {len(wl.lookup_ms)}"
    return {"scan_s": statistics.median(scan_s), "live_rows": live, "lookup_tail_ms": lookup_tail,
            "describe": wl.table.describe()}


def check(wl: Workload) -> dict:
    from checks import STATE_COLUMNS, sha256_mismatches, state_diff

    with wl.tracer.span("check"):
        state = wl.table.read_state().select(*STATE_COLUMNS, "content_sha256").cache()
        try:
            extra, missing = state_diff(state, wl.log)
            sampled, bad = sha256_mismatches(state, SHA_SAMPLE)
        finally:
            state.unpersist()
    wl.attempted += 2
    return {"oracle_extra": extra, "oracle_missing": missing,
            "sha256_checked": sampled, "sha256_bad": bad,
            "failed": int(bool(extra or missing)) + int(bool(bad) or not sampled)}


def end_to_end(wl: Workload, setup_s: float, reads: dict, rss: float) -> dict:
    q_b, batch_tail = tail(wl.batch_ms)
    wl.batch_tail_at = f"p{q_b} of {len(wl.batch_ms)}"
    return {
        "setup_s": setup_s,
        "ingest_events_per_s": wl.events / wl.ingest_s,
        "batch_latency_p50_ms": statistics.median(wl.batch_ms),
        "batch_latency_tail_ms": batch_tail,
        "write_amp": wl.ledger.bytes / wl.input_bytes,
        "stored_bytes_per_live_row": reads["describe"]["bytes"] / reads["live_rows"],
        "peak_rss_mb": rss,
    }


PHASES = {  # engine-reported phase names folded onto one vocabulary
    "plan": ("snapshot", "plan", "stats"),
    "write": ("write",),
    "commit": ("commit",),
    "stats_wait": ("stats_wait",),
}

PER_LAYER_UNITS = {
    "replay.plan_ms": "ms", "replay.write_ms": "ms", "replay.commit_ms": "ms",
    "replay.stats_wait_ms": "ms", "replay.overlap": "ratio",
    "spark.jobs_per_batch": "count", "spark.tasks_per_batch": "count",
    "lww.agg_s": "s", "lww.broadcast_s": "s", "lww.salted_s": "s",
    "lww.winners_per_event": "ratio",
    "normalize.rows_per_s": "rows/s", "normalize.mb_per_s": "MB/s",
    "manifest.snapshot_read_ms": "ms", "manifest.plan_ms": "ms",
    "manifest.metadata_bytes": "B", "manifest.lookup_files": "count",
    "manifest.commit_doc_ms.b100": "ms", "manifest.commit_doc_ms.b1000": "ms",
    "manifest.commit_doc_ms.b10000": "ms",
    "cow.events_per_s": "events/s", "cow.plan_ms": "ms", "cow.write_ms": "ms",
    "cow.commit_ms": "ms", "cow.write_amp": "ratio",
    "compact.s": "s", "compact.buckets": "count", "compact.bytes_rewritten": "B",
    "expire.s": "s",
    "table.files": "count", "table.delta_files": "count", "table.bucket_skew": "ratio",
    "read.rows_examined_per_live_row": "ratio", "read.lookup_p50_ms": "ms",
    "read.lookup_tail_ms": "ms", "read.scan_s": "s",
    "trace.ingest_events_per_s": "events/s", "trace.record_ms": "ms",
}


def per_layer(wl: Workload, reads: dict) -> dict:
    """Layer metrics from the traced run: engine-reported phases, Spark
    counts per batch, layer kernels and maintenance."""
    from layers import commit_doc_ms, cow_kernel, lww_kernels, manifest_probe, normalize_kernel

    tracer, eng = wl.tracer, wl.table
    applied = [r for r in wl.results if not r.get("skipped")]
    out = {}
    # engine timings are whole ms per batch; the mean keeps what the
    # rounding drops. A phase a path does not have reads 0.
    for phase, keys in PHASES.items():
        out[f"replay.{phase}_ms"] = statistics.mean(
            sum(r["timings_ms"].get(k, 0) for k in keys) for r in applied)
    out["replay.overlap"] = sum(wl.batch_ms) / 1000 / wl.replay_s
    spark_spans = [s for s in tracer.spans if "jobs" in s and s["name"] in ("replay", "batch")]
    out["spark.jobs_per_batch"] = sum(s["jobs"] for s in spark_spans) / len(applied)
    out["spark.tasks_per_batch"] = sum(s["tasks"] for s in spark_spans) / len(applied)
    d = reads["describe"]
    out["table.files"] = d["files"]
    out["table.delta_files"] = d["delta_files"]
    out["table.bucket_skew"] = d["bucket_skew"]
    out["read.rows_examined_per_live_row"] = d["rows_in_files"] / reads["live_rows"]
    # per-layer figures, not end-to-end ones: each read is one short Spark
    # job, and over 10 runs on a shared 4-core host their spread, or the
    # shift of their median between two sets, neared or exceeded the
    # largest allowed bound
    out["read.lookup_p50_ms"] = statistics.median(wl.lookup_ms)
    out["read.lookup_tail_ms"] = reads["lookup_tail_ms"]
    out["read.scan_s"] = reads["scan_s"]
    out["trace.ingest_events_per_s"] = wl.events / wl.ingest_s

    out.update(lww_kernels(tracer, wl.log))
    out.update(cow_kernel(tracer, wl.log, wl.work, wl.num_buckets))
    contents = [r["content"] for r in wl.log.where("content is not null")
                .select("content").limit(5000).collect()]
    out.update(normalize_kernel(tracer, contents))
    out.update(manifest_probe(tracer, eng, wl.keys[:4]))
    for nb in (100, 1000, 10_000):
        with tracer.span(f"layer.manifest.commit_doc.b{nb}"):
            out[f"manifest.commit_doc_ms.b{nb}"] = commit_doc_ms(wl.work, nb)
    # maintenance: the workload's final compaction, then one expiry
    out["compact.s"] = wl.compact_s
    out["compact.buckets"] = len(wl.compacted)
    # the compaction was the table's last commit: its buckets now hold
    # exactly the files it wrote
    out["compact.bytes_rewritten"] = sum(
        b["bytes"] for b in eng.table.bucket_summary() if b["bucket"] in set(wl.compacted))
    with tracer.span("expire") as e:
        eng.table.expire_snapshots(keep_last=2)
    out["expire.s"] = e["seconds"]
    return out


# --------------------------------------------------------------------- run

def start_session(work: str):
    cores = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # Python workers are separate processes: ship etl_spark to them, so
    # the pandas UDF resolves from any launch directory
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")]))
    os.environ["TMPDIR"] = tempfile.tempdir = tmp
    from etl_spark.session import build_session

    spark = build_session("perfbench", master=f"local[{cores}]", extra_conf={
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.memory": "2g",
        "spark.driver.extraJavaOptions":
            # no hsperfdata file: the JVM would write it outside the checkout
            f"-XX:+UseParallelGC -XX:ParallelGCThreads={cores} -XX:-UsePerfData "
            f"-Djava.io.tmpdir={tmp}",
    })
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark, then end the JVM (it exits when its stdin closes) and
    wait for it, so no process of the run outlives it."""
    jvm = spark.sparkContext._gateway.proc
    spark.stop()
    jvm.stdin.close()
    try:
        jvm.wait(timeout=60)
    except subprocess.TimeoutExpired:
        jvm.kill()
        jvm.wait()


def run(args) -> int:
    from spans import Tracer

    with open("/proc/loadavg") as f:
        load1 = float(f.read().split()[0])
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    work = os.path.join(WORK_ROOT, run_id)
    os.makedirs(work, exist_ok=True)
    spark = None
    try:
        spark = start_session(work)
        tracer = Tracer(bool(args.trace), run_id, spark)
        wl = WORKLOADS[args.workload](spark, tracer, work, args.seed, args.seconds)
        with tracer.span("setup.prepare"):
            wl.prepare()
        with tracer.span("setup.warm"):
            wl.warm()
        wl.attempted = 0
        wl.lookup_ms.clear()
        tracer.record_s = 0.0
        setup_s = time.monotonic() - T_START
        wl.ingest()
        record_ms = tracer.record_s * 1000
        reads = read_side(wl)
        rss = peak_rss_mb(spark)
        checked = check(wl)
        metrics = end_to_end(wl, setup_s, reads, rss)
        if args.trace:
            layer = per_layer(wl, reads)
            # time the tracer spent recording inside the timed ingest
            layer["trace.record_ms"] = record_ms
        attempted, failed = wl.attempted, checked["failed"]
        cores = spark.sparkContext.defaultParallelism
    except Exception:
        # a crashed run measured nothing: no result line
        traceback.print_exc()
        return 1
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)

    print(f"# {args.workload} seed={args.seed} cores={cores} load1={load1:.2f} "
          f"events={wl.events} batches={len(wl.batch_ms)}")
    print(f"# oracle: extra={checked['oracle_extra']} missing={checked['oracle_missing']}; "
          f"sha256: {checked['sha256_checked'] - checked['sha256_bad']}/{checked['sha256_checked']} match")
    print(f"# failed_ops_ratio {failed / attempted:.4f} ratio ({failed}/{attempted})")
    print(f"# tails: batch {wl.batch_tail_at}, lookup {wl.lookup_tail_at}")
    print(f"# batch_ms: {[round(v, 1) for v in wl.batch_ms]}")
    print(f"# lookup_ms: {[round(v, 1) for v in wl.lookup_ms]}")
    for k, v in metrics.items():
        print(f"{k:28s} {v:14.4f} {END_TO_END_UNITS[k]}")
    if args.trace:
        for k, v in layer.items():
            print(f"{k:34s} {v:14.4f} {PER_LAYER_UNITS[k]}")
        spans_path = os.path.join(OUT_DIR, f"spans-{run_id}.json")
        tracer.write(spans_path, {"workload": args.workload, "seed": args.seed, "load1": load1,
                                  "cores": cores, "metrics": metrics, "layers": layer})
        print(f"# spans: {len(tracer.spans)} written to {os.path.relpath(spans_path, ROOT)}")
        shown = {k: {"value": v, "unit": PER_LAYER_UNITS[k]} for k, v in layer.items()}
    else:
        shown = {k: {"value": v, "unit": END_TO_END_UNITS[k]} for k, v in metrics.items()}
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": shown}))
    return 0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    sys.path.insert(0, ROOT)
    try:
        import etl_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: etl_spark is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2
    return run(args)


if __name__ == "__main__":
    sys.exit(main())
