"""One-shot crash recovery for a maintenance target — the union of
every maintenance op's heal path (compact/delete marker swaps, pending
keyed merges, interrupted zorder renames), shared by the CLI ``heal``
command and the listener's POST /api/heal so the recovery semantics
exist once."""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def heal_target(spark: SparkSession, target_dir: str) -> dict:
    """Complete whatever a crash interrupted under ``target_dir``:
    - finish or discard a half-done flat zorder swap
      (zorder.heal_flat_zorder);
    - complete interrupted compaction/delete partition swaps;
    - complete a pending keyed merge from its durable staging copy;
    - complete a crashed streamed-batch fold (streaming/ingest.py).
    Returns a JSON-ready report. Idempotent."""
    from goe_spark.plans.compaction import heal_interrupted_swaps
    from goe_spark.plans.merge_update import heal_pending_merge
    from goe_spark.plans.zorder import heal_flat_zorder
    from goe_spark.streaming.ingest import heal_fold

    target = target_dir.rstrip("/")
    result: dict = {
        "swaps_healed": [],
        "merge_healed": False,
        "zorder_healed": False,
        "fold_healed": False,
    }
    if os.path.isdir(target):
        result["fold_healed"] = heal_fold(target)
    result["zorder_healed"] = heal_flat_zorder(target)
    if os.path.isdir(target):
        result["swaps_healed"] = heal_interrupted_swaps(target)
        result["merge_healed"] = heal_pending_merge(spark, target)
    return result
