"""The benchmark's import contract with the engine.

``perfbench/layers.py`` imports the LWW comparison kernels
(``lww_winners(..., salt=)`` and ``lww_winners_broadcast``) that the
engine itself no longer calls. A refactor that deletes one must fail
here, not crash the traced benchmark run."""

from __future__ import annotations

import os

from etl_spark.cdc.changelog import generate_changelog

PERFBENCH = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "perfbench")


def test_layers_lww_kernels_run(spark, monkeypatch):
    monkeypatch.syspath_prepend(PERFBENCH)
    import layers
    import spans

    log = generate_changelog(spark, 200, seed=3, n_repos=3, paths_per_repo=10, num_batches=1)
    out = layers.lww_kernels(spans.Tracer(False, "t"), log)
    assert {"lww.agg_s", "lww.broadcast_s", "lww.salted_s", "lww.winners_per_event"} <= set(out)
    assert 0 < out["lww.winners_per_event"] <= 1
