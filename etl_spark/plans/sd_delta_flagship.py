"""The reference's flagship sd-delta job, composed end-to-end on the
engine (VERDICT r02 #4; SURVEY.md §3.2; ``src/jobs/sd_delta.py:19-56``,
``src/sd_delta.py:78-200``).

The reference chains, per nightly run:

1. config CSV split into excluded institutions (``DepartmentIdentifier
   == "-"``) vs excluded departments (S18, ``src/jobs/sd_delta.py:28-29``),
2. exclusion of those units from the change feed (the pandas
   ``merge(indicator=True)``-then-``left_only`` idiom = left-anti join,
   J5, ``src/sd_delta.py:88-91``),
3. the status-code state machine (delete short-circuit, has_active
   suppression of terminal codes, C2, ``src/sd_delta.py:106-119``),
4. per-row enrichment from small lookup tables (department / profession
   / status names — broadcastable dims, J9,
   ``src/sd_delta.py:120-135``),
5. effective-dated last-writer-wins resolution (C4,
   ``src/delta_client.py:136-147``),
6. apply, with deletes demoted when the entity still exists upstream or
   has dependents (conditional delete, C3, ``src/sd_delta.py:57-72``),
7. run metrics / notification (C14, ``src/jobs/sd_delta.py:44-52``).

Re-expressed over the engine's own domain: change events on
``(repo, path)`` keys, a config CSV whose ``path == "-"`` rows exclude a
whole repo (exactly the reference's ``DepartmentIdentifier == "-"``
institution-level rule) and whose other rows exclude single
``(repo, path)`` units, a broadcast ``lang -> lang_name`` dim standing
in for the status/profession name maps, the engine's LWW + fenced MERGE
as the apply, and ``ReplayEngine.metrics()`` as the run report.

Every stage is the already-tested catalog operator — this module only
COMPOSES them, proving the engine subsumes the reference's flagship job
wholesale as one declarative plan: the config scan and dim are
broadcast-sized, the feed is never collected, and the single wide
shuffle remains the merge's bucket-aligned exchange.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from etl_spark.cdc.replay import ReplayEngine
from etl_spark.sources.csv import read_config_csv, split_by_predicate
from etl_spark.table.manifest import ColumnDef

# the flagship table: the north-rule code columns + the status code its
# state machine classified on + the enriched status NAME (the
# reference's EMPLOYMENT_STATUS lookup value that lands in its output
# row as 'Ansættelsesstatus', src/sd_delta.py:14,133); computed
# (sha256/lineage/tombstone) columns are appended by ReplayEngine
FLAGSHIP_COLUMNS = [
    ColumnDef(1, "repo", "string"),
    ColumnDef(2, "path", "string"),
    ColumnDef(3, "commit", "string"),
    ColumnDef(4, "lang", "string"),
    ColumnDef(5, "content", "string"),
    ColumnDef(6, "status", "string"),
    ColumnDef(7, "status_name", "string"),
]


def prepare_feed(
    feed: DataFrame,
    exclusions: DataFrame,
    status_dim: DataFrame | None = None,
) -> DataFrame:
    """Stages 1-2 + 4: exclusion anti-joins + dim enrichment
    (classification runs feed-wide inside ``ReplayEngine.replay`` via
    its ``classify`` arg).

    ``exclusions``: config rows ``(repo, path)`` where ``path == '-'``
    excludes the whole repo — exactly the reference's
    ``DepartmentIdentifier == '-'`` institution-level rule. ``status_dim``:
    small ``(status, status_name)`` lookup (the EMPLOYMENT_STATUS map as
    a dim table); joined WITHOUT a broadcast hint — config/dim tables
    are broadcast-sized so AQE broadcasts them, but nothing breaks if a
    caller passes a large frame (same no-unbounded-broadcast policy as
    classify_events)."""
    excluded_repos, excluded_units = split_by_predicate(exclusions, "path = '-'")
    out = feed.join(excluded_repos.select("repo"), on="repo", how="left_anti")
    out = out.join(excluded_units.select("repo", "path"), on=["repo", "path"], how="left_anti")
    if status_dim is not None:
        out = out.join(status_dim, on="status", how="left")
    return out


def run_sd_delta_flagship(
    spark: SparkSession,
    table_root: str,
    feed: DataFrame,
    config_csv_path: str,
    status_dim: DataFrame | None = None,
    delete_guard: DataFrame | None = None,
    status_col: str = "status",
    mode: str = "cow",
    num_buckets: int = 8,
    compact_threshold: int = 8,
    tombstone_commit_watermark: str | None = None,
    compact_delta_fraction: float | None = None,
    compact_sort: bool = True,
    expire_every: int | None = None,
    expire_keep_last: int = 5,
) -> tuple[ReplayEngine, list[dict]]:
    """The full flagship chain; returns (engine, per-batch results).
    Final state via ``engine.read_state()``, run metrics via
    ``engine.metrics()`` — the reference's Excel artifact + mail
    notification are driver-side outputs its job derives from exactly
    this state (declared out of scope, SURVEY §9 K6/S17)."""
    exclusions = read_config_csv(spark, config_csv_path)
    prepared = prepare_feed(feed, exclusions, status_dim)
    engine = ReplayEngine(
        spark, table_root, num_buckets=num_buckets, mode=mode,
        target_columns=FLAGSHIP_COLUMNS,
        compact_threshold=compact_threshold,
        tombstone_commit_watermark=tombstone_commit_watermark,
        compact_delta_fraction=compact_delta_fraction,
        compact_sort=compact_sort,
        expire_every=expire_every, expire_keep_last=expire_keep_last,
    )
    results = engine.replay(
        prepared,
        delete_guard=delete_guard,
        classify={"status_col": status_col},
    )
    return engine, results
