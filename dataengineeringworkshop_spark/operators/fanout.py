"""Scale-adaptive map-parallelism repair behind small/unsplittable scans.

Optimization-guide §2.5 ("input skew: one huge unsplittable file …
repartition immediately after the read") and §1.2 (fix the distributed
algorithm before per-task work): the benchmark testdata ships each table
as ONE parquet file with ONE row group, so every scan plans as a single
partition — and any CPU-heavy map chain sitting on top of it (BPE
replace chains, shingle explodes, DECIMAL dot-product folds, gram
hashing) runs on one core of the 32 while the rest idle.  Round-13
profiling measured the BPE apply stage at 56 s of single-task CPU and
the whole-corpus shingle builds at 8-43 s single-task for this reason.

``fan_out`` repartitions ONLY when the frame's planned parallelism is
below the session's core count.  The gate is what makes it scale-honest
rather than a local[32] constant:

- at sf0.1 a 0.6-10 MB scan turns into a 32-way round-robin shuffle of
  trivially few bytes, unlocking the full machine for the expensive map;
- at production scale (the 100 TB posture) a corpus scan has orders of
  magnitude more splits than cores, the gate is already satisfied, and
  NO shuffle is added — the helper vanishes from the plan.

Callers apply it immediately after projecting to the columns the heavy
map needs (guide §2.3: project before the exchange), so the shuffle that
does happen at small scale carries only those bytes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def fan_out(df: DataFrame, target: int | None = None) -> DataFrame:
    """Repartition ``df`` to ``target`` (default: the session's core
    count) iff its planned partition count is lower; otherwise return it
    unchanged.  The partition probe is driver-side plan inspection — no
    job runs."""
    spark = df.sparkSession
    n = target or spark.sparkContext.defaultParallelism
    try:
        cur = df.rdd.getNumPartitions()
    except Exception:
        # unplannable here (e.g. streaming frame) — leave untouched
        return df
    if cur >= n:
        return df
    return df.repartition(n)
