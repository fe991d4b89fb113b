"""One-shot crash recovery for a maintenance target, shared by the CLI
``heal`` command and the listener's POST /api/heal so the recovery
semantics exist once. Every maintenance swap — partition rewrites
(compact, delete, merge, partitioned zorder), flat zorder, SCD2 apply
and the streaming fold — is compaction's marker swap, so one heal
covers them all; a keyed merge is replayed from its durable staging
copy on top."""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def heal_target(spark: SparkSession, target_dir: str) -> dict:
    """Complete whatever a crash interrupted at ``target_dir``: the
    swap of the target itself (reported as ``.``) and those of its
    directories (by name), then a pending keyed merge. Returns
    ``{"swaps_healed": [...], "merge_healed": bool}``. Idempotent."""
    from goe_spark.plans.compaction import heal_swaps
    from goe_spark.plans.merge_update import heal_pending_merge

    healed = heal_swaps(target_dir)
    return {
        "swaps_healed": healed,
        "merge_healed": os.path.isdir(target_dir)
        and heal_pending_merge(spark, target_dir),
    }
