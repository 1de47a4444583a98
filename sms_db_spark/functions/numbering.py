"""The two-phase partition-offset numbering kernel — dense sequential
ids with NO global window.

Shape: stamp `spark_partition_id()` and pin the stamped frame with one
`localCheckpoint()` → one tiny counts job over the pin (one row per
partition, collected to the driver) → driver-side cumsum gives each
partition its starting offset → per-partition `row_number()` window
over the same pin (every partition ranks inside its own task) plus the
offset. The classic `Window.orderBy(...)` global-rank alternative
funnels the whole frame through ONE task — a non-starter at 10^8+
rows; this kernel's only serial work is the cumsum over per-partition
counts (one row per partition).

The counts job and the numbering window are two Spark actions; the
pid → offset map is valid only if both see the same rows under the same
partition ids. Re-executed lineage does not guarantee that (a range
repartition of a join output re-samples its bounds on every run), so
the kernel reads both phases from its own checkpoint. A pid the counts
job never saw would make `element_at` throw (Spark 4's default ANSI
mode) rather than yield NULL ids.

Shared core of `sources.canonical.dense_ids` (importer W2 id
assignment, adds a range-repartition so ids follow a total order) and
`operators.similarity._packed_fold` (packed-centroid chunk numbering,
where any balanced bijective numbering will do).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def partition_offset_ids(
    df: DataFrame,
    order_cols: list[str],
    id_col: str,
    start: int = 0,
) -> DataFrame:
    """Assign dense sequential ids start..start+N-1 to `df` as `id_col`.

    Within each physical partition, ids follow `order_cols`; across
    partitions, ids follow ascending partition id. So the numbering is
    a total order over order_cols iff the input's partitioning is
    range-ordered on them (dense_ids), and otherwise a balanced
    bijection (chunk assignment needs nothing more).

    An empty frame degrades cleanly: no counts → a constant
    `lit(start)` offset under a window that produces no rows.
    """
    # not eager: the counts job below materializes the pin
    pinned = df.withColumn("_pid", F.spark_partition_id()).localCheckpoint(eager=False)
    counts = {
        r["_pid"]: r["cnt"]
        for r in pinned.groupBy("_pid").agg(F.count(F.lit(1)).alias("cnt")).collect()
    }
    if counts:
        offsets, acc = {}, start
        for pid in sorted(counts):
            offsets[pid] = acc
            acc += counts[pid]
        offset_col = F.element_at(
            F.map_from_arrays(
                F.array(*[F.lit(p) for p in sorted(counts)]),
                F.array(*[F.lit(offsets[p]) for p in sorted(counts)]),
            ),
            F.col("_pid"),
        )
    else:
        offset_col = F.lit(start)
    w = Window.partitionBy("_pid").orderBy(*order_cols)
    return (
        pinned.withColumn(id_col, F.row_number().over(w) - 1 + offset_col)
        .drop("_pid")
    )
