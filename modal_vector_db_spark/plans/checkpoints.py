"""localCheckpoint lifecycle helpers.

``DataFrame.unpersist()`` does NOT release a ``localCheckpoint``'s
storage: the checkpoint lives in RDD-level block storage, while
``Dataset.unpersist`` only talks to the SQL CacheManager — so every
checkpointed iteration of an iterative operator (PageRank, connected
components) silently pins its blocks until session end (verified
empirically; the ContextCleaner only reclaims them on JVM GC of the
LogicalRDD, which py4j references delay indefinitely).

:func:`release_local_checkpoint` reaches the actual checkpointed RDD —
the ``LogicalRDD`` at the root of a freshly checkpointed frame's
analyzed plan — and unpersists it.  AFTER release the frame is
unusable (its blocks are gone and a local checkpoint has no lineage to
recompute); callers release only frames whose last consumer has already
materialized, exactly like freeing memory.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

__all__ = ["release_local_checkpoint"]


def release_local_checkpoint(df: DataFrame) -> bool:
    """Free the block storage behind a ``df.localCheckpoint()`` result.
    Returns True when a checkpointed RDD was found and unpersisted;
    False (and does nothing) when ``df`` is not a directly-checkpointed
    frame — hygiene must never break the query."""
    try:
        plan = df._jdf.queryExecution().analyzed()
        if plan.getClass().getSimpleName() != "LogicalRDD":
            return False
        plan.rdd().unpersist(False)
        return True
    except Exception:
        return False
