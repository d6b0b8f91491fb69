"""Fork operators: route one stream into N branches.

≙ gobblin-api/src/main/java/gobblin/fork/ForkOperator.java:30-66 (per-record
boolean routing) and IdentityForkOperator.java:31,43 (broadcast to all
branches). The reference needs copy-on-fork (CopyableGenericRecord) and
bounded blocking queues between threads (Fork.java:140-148); DataFrames are
immutable and lazily shared, so a fork is just N derived plans over one
cached parent — Spark's scheduler replaces the queue machinery.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.storagelevel import StorageLevel


def fork(
    df: DataFrame,
    branch_predicates: list,
    cache: bool = True,
) -> list[DataFrame]:
    """Split df into branches. Each element of branch_predicates is a Column
    predicate, or None for an identity branch (record goes to that branch
    unconditionally — ≙ IdentityForkOperator). Branches may overlap; a row
    can enter several branches, exactly like the reference's per-branch
    boolean vector.

    The parent is persisted so the input is computed once even though each
    branch is a separate action (write). MEMORY_AND_DISK: at 100 TB a fork
    input may exceed cluster memory — spill, don't recompute N times.
    """
    parent = df.persist(StorageLevel.MEMORY_AND_DISK) if cache else df
    out = []
    for pred in branch_predicates:
        out.append(parent if pred is None else parent.filter(pred))
    return out
