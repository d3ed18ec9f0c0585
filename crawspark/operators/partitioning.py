"""Skew handling: salted repartitioning + size-bucketed batching
(BASELINE.json:L6; SURVEY.md §4.3).

Heavy-tailed document sizes (lognormal, 100x-median outliers) make naive
hash-partitioning by doc_id produce straggler partitions. Strategy:

1. ``with_size_bucket`` — ``bucket = floor(log2(payload_bytes))`` computed
   JVM-side (built-in functions only, stays in whole-stage codegen).
2. ``salted_repartition`` — shuffle on ``(bucket, pmod(xxhash64(doc_id), S))``
   so same-size docs co-locate (uniform per-task work) while the salt
   spreads hot buckets across S slots. At 1000 executors: P ≈ 2-3x total
   cores, S ≈ 4x tasks-per-bucket — no single task owns the heavy tail.
3. Batch-level bounding happens inside the extraction UDF itself
   (operators.extract re-chunks by cumulative payload bytes), so a task
   that still receives several 100 MB docs processes them in small Arrow
   batches instead of one giant one.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def payload_size(df: DataFrame, col: str = "spans") -> DataFrame:
    """Add ``size_bytes``: total payload chars across spans (JVM-side
    aggregate over the nested array — no Python)."""
    return df.withColumn(
        "size_bytes",
        F.aggregate(
            F.col(col),
            F.lit(0).cast("long"),
            lambda acc, s: acc + F.coalesce(F.length(s["text"]), F.lit(0)),
        ),
    )


def with_size_bucket(df: DataFrame, col: str = "spans") -> DataFrame:
    """``bucket = floor(log2(size_bytes))`` (0 for empty docs)."""
    if "size_bytes" not in df.columns:
        df = payload_size(df, col)
    return df.withColumn(
        "bucket",
        F.when(F.col("size_bytes") > 0,
               F.floor(F.log2(F.col("size_bytes")))).otherwise(F.lit(0))
        .cast("int"),
    )


def salted_repartition(df: DataFrame, partitions: int, salt_buckets: int = 64,
                       key: str = "doc_id") -> DataFrame:
    """Repartition on (bucket, salt) — breaks heavy-key/heavy-bucket
    hotspots (SURVEY.md §4.3(1))."""
    if "bucket" not in df.columns:
        df = with_size_bucket(df)
    df = df.withColumn(
        "salt", F.pmod(F.xxhash64(F.col(key)), F.lit(salt_buckets)).cast("int"))
    return df.repartition(partitions, F.col("bucket"), F.col("salt"))


# ---------------------------------------------------------------------------
# Z-order layout (r4): multi-dimensional clustering for range pruning.
# ---------------------------------------------------------------------------

Z_BITS = 8  # bits per dimension (2 dims → 16-bit z-value)


def zvalue_expr(x, y, bits: int = Z_BITS):
    """Morton/Z-order interleave of two pre-bucketed dimensions (each in
    [0, 2^bits)): bit i of x lands at position 2i, of y at 2i+1. Pure
    JVM bit arithmetic (whole-stage codegen) — the layout key that lets
    ONE sorted file order serve range predicates on EITHER dimension
    (file-level min/max stay narrow in both). At 10^12 rows this is the
    write-time `repartitionByRange(zvalue).sortWithinPartitions(zvalue)`
    before the parquet/Iceberg sink."""
    from pyspark.sql import functions as F

    # disjoint bit positions → plain addition == bitwise OR (Column `|`
    # is BOOLEAN or in PySpark, not bitwise)
    z = F.lit(0).cast("long")
    for i in range(bits):
        z = (z
             + F.shiftleft(F.shiftright(x, i).bitwiseAND(F.lit(1)),
                           2 * i).cast("long")
             + F.shiftleft(F.shiftright(y, i).bitwiseAND(F.lit(1)),
                           2 * i + 1).cast("long"))
    return z


def zorder_layout(df, x_col: str, y_col: str, partitions: int,
                  bits: int = Z_BITS):
    """Cluster ``df`` for 2-D range pruning: bucket both columns must
    already be ints in [0, 2^bits); rows land range-partitioned AND
    sorted by their z-value."""
    from pyspark.sql import functions as F

    z = zvalue_expr(F.col(x_col), F.col(y_col), bits)
    return (df.withColumn("__z", z)
            .repartitionByRange(partitions, "__z")
            .sortWithinPartitions("__z"))


def ensure_parallelism(df: DataFrame) -> DataFrame:
    """Round-robin repartition to defaultParallelism when ``df`` reads
    fewer input files than that; otherwise return ``df`` untouched. The
    ONE widening site: per-row CPU stages before the first exchange run
    on the scan's partitions, and Spark packs a small scan's splits by
    bytes (never below the 4 MB open cost), so a one-file input would
    serialize them onto one core (r6: curate_v2's window pass 11.0s vs
    2.3s widened at sf1.0). The file count comes from the optimized plan
    with no job; counting the RDD's partitions plans the frame (and runs
    a job on a join with an exchange), and a footer row-group count
    overstates the width. Wide inputs, the production case, pass through
    with no exchange added."""
    sc = df.sparkSession.sparkContext
    if len(df.inputFiles()) < sc.defaultParallelism:
        return df.repartition(sc.defaultParallelism)
    return df
