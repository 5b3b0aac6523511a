"""Lineage/caching helpers for iterative driver loops.

``DataFrame.localCheckpoint`` persists its materialized internal RDD,
but ``DataFrame.unpersist`` only clears CacheManager entries — it never
touches that RDD, so a loop that checkpoints every few passes leaks one
O(|V|)-row block per checkpoint until driver GC collects the frame.
The RDD is reachable through the checkpointed plan's LogicalRDD node;
``release`` frees both layers so superseded iteration frames actually
leave executor memory (PageRank / BFS / large-star/small-star loops).

Freeing a superseded checkpoint removes the recompute anchor for any
NEWER cached-but-evicted partition that lineage-traces through it.
That is the same durability class as localCheckpoint itself (its data
already lives only on executors), so these loops trade executor-loss
recoverability for bounded memory exactly once, not once per helper.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def free_local_checkpoint(df: DataFrame) -> None:
    """Unpersist the internal RDD behind a localCheckpoint()ed frame.

    No-op for frames that are not checkpoints (their analyzed plan is
    not a LogicalRDD) and when the JVM internals are unreachable —
    leaking (the pre-helper behavior) is strictly better than crashing
    a correct query over a cleanup call.
    """
    try:
        plan = df._jdf.queryExecution().analyzed()
        if plan.getClass().getName().endswith(".LogicalRDD"):
            plan.rdd().unpersist(False)
    except Exception:  # noqa: BLE001 — py4j internals; see docstring
        pass


def release(df: DataFrame) -> None:
    """Fully release a superseded iteration frame: CacheManager entry
    (plain persists) AND the checkpoint RDD (localCheckpoint frames)."""
    df.unpersist()
    free_local_checkpoint(df)
