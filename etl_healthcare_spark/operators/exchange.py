"""Exchange sizing: the scan fan-out and size-aware shuffle partitions.

``fan_out`` is the one repartition every tokenize/hash/explode chain puts
in front of its CPU-bound stage (see its docstring).  The rest of this
module sizes exchanges for near-unique-key exact aggregations.

A reduce task that hash-aggregates a NEAR-UNIQUE key (zero/low reduction —
e.g. candidate-key profiling, where the grouping set IS the table's key)
must hold essentially its whole input in the hash map.  With the session's
fixed ``spark.sql.shuffle.partitions`` the per-task map grows linearly with
the corpus until it outruns the executor's execution-memory share and the
aggregate degrades into multi-pass sort-spill — measured on
``profile_candidate_keys``: 3.22x wall at sf1->sf3 and **4.78x at sf3->sf9**
under 32 fixed partitions (SCALE.md §48), i.e. the spill cascade compounds
per decade.  Re-running sf9 with 512 reduce tasks flattened it to 3.22x —
the work is linear; only the task sizing was broken.

``sized_shuffle_partitions`` therefore sizes such exchanges from the INPUT's
optimizer statistics (plan-time metadata, no job):

    n = clamp(ceil(stats_bytes / target), session_default, cap)

``target`` is in OPTIMIZER-STATS bytes — for a columnar parquet scan these
are compressed-file-derived, and the in-memory UnsafeRow hash map runs
~5-7x larger, so the 8 MiB default keeps each task's map at ~40-60 MB: 32
concurrent tasks stay comfortably inside a 5-6 GB execution region, and on
a real cluster the count simply grows with the data while per-task memory
stays constant — the property a fixed session constant can never give.
AQE cannot rescue the fixed-count plan by itself: it splits SKEWED
partitions, not uniformly-oversized ones, and coalesces only DOWN.

Scope: use this for exchanges feeding exact aggregates over near-unique
keys.  Ordinary aggregations (strong reduction) are fine at the session
default — partial aggregation collapses them map-side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

# optimizer-stats bytes per reduce task (see module docstring for the
# stats-bytes -> in-memory multiplier reasoning)
TARGET_STATS_BYTES = 8 << 20
# guardrail against pathological stats: 2^16 tasks x 8 MiB target ~ 512 GiB
# of scan stats, far past any single exchange this engine plans
MAX_SHUFFLE_PARTITIONS = 65_536


def fan_out(df: DataFrame, *keys) -> DataFrame:
    """Hash-repartition ``df`` on ``keys`` into one partition per core.

    * A single-file local scan arrives as ONE task; the regex, hash and
      explode stages that follow would otherwise run serially.
    * The count is explicit because AQE coalesces a bare
      ``repartition(key)`` by bytes, down to ~2 tasks on raw text, which
      serializes the CPU-bound stage again.
    * Hash-partitioning on the doc key satisfies a downstream per-doc
      ``groupBy`` (subset rule), so callers put projections AFTER this
      exchange and the aggregate adds no second one.
    """
    return df.repartition(df.sparkSession.sparkContext.defaultParallelism, *keys)


def sized_shuffle_partitions(
    df: DataFrame,
    target_stats_bytes: int = TARGET_STATS_BYTES,
    cap: int = MAX_SHUFFLE_PARTITIONS,
    upper_bound_bytes: int | None = None,
) -> int:
    """Reduce-task count for a near-unique-key exact aggregation over
    ``df``: each task sees ~``target_stats_bytes`` of optimizer-stats input,
    never fewer tasks than the session's ``spark.sql.shuffle.partitions``.

    Plan-time only — reads the optimized plan's size estimate (file sizes x
    column pruning for parquet scans); triggers no job.  The stats pass
    still costs an analyze+optimize round-trip per call (~0.3 s driver-side
    — the whole r8 profile_candidate_keys regression at sf0.1, where the
    answer is always the session default anyway).  Callers that know a
    cheap UPPER BOUND on the input (e.g. the source parquet's file size,
    one os.stat) pass it as ``upper_bound_bytes``: when the bound already
    cannot exceed ``target × session_default`` the sizing answer is the
    session default regardless of exact stats, so the pass is skipped —
    zero plan-time cost at toy scale, full sizing once the data is big
    enough for the pass to matter (round-8 verdict item 6).

    A frame without size statistics (``createDataFrame``, RDD-derived)
    reports ``spark.sql.defaultSizeInBytes`` (Long.MaxValue unless set);
    such an estimate says nothing about the data, so it also gets the
    session default instead of the cap."""
    session_default = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    if (
        upper_bound_bytes is not None
        and upper_bound_bytes <= target_stats_bytes * session_default
    ):
        return session_default
    stats_bytes = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    if stats_bytes >= df.sparkSession._jsparkSession.sessionState().conf().defaultSizeInBytes():
        return session_default
    return max(session_default, min(cap, -(-stats_bytes // target_stats_bytes)))
