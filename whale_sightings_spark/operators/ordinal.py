"""Distributed global row numbering (the DataFrame-native zipWithIndex).

A bare ``row_number().over(Window.orderBy(...))`` has no PARTITION BY,
so Spark moves *every* row to one partition — the single worst scaling
hazard in the engine (WindowExec warns about it at runtime). The
reference could ignore this because pandas has a global row order for
free (cleaner.py:66-69); at 100 TB we cannot.

:func:`global_row_number` produces the identical 1..N numbering with no
single-partition stage:

1. ``repartitionByRange`` on the order key — partitions are disjoint,
   range-ordered key slices (equal keys land together, so the numbering
   is well-defined even with ties; our callers order by a unique ingest
   ordinal anyway).
2. ``sortWithinPartitions`` + one Arrow-batched ``mapInPandas`` pass
   that enumerates rows locally (1..n_p per partition) and tags each
   row with its partition id — no shuffle, no window.
3. A tiny per-partition count aggregate (≤ ``num_partitions`` rows)
   turned into cumulative offsets on the driver and broadcast-joined
   back: global = offset[pid] + local.

The ranged frame is materialized (``localCheckpoint``, MEMORY_AND_DISK)
before the two passes: ``repartitionByRange`` picks boundaries by
sampling, and the count pass and the enumeration pass MUST see the same
partition assignment — two independent recomputations are not
guaranteed to. The checkpoint makes the assignment a materialized fact
instead of a replayed sample. It is not a ``persist``: a cache entry
would outlive the call, and Spark's cache manager matches cached data
by plan, so a later read of the same path would get this call's rows
even after the file changed.

Wall-clock cost is one range shuffle — the same price as the sort the
global window would have needed — but the enumeration itself is fully
parallel instead of 1-partition serial.
"""

from __future__ import annotations

from typing import Iterator, Sequence

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.storagelevel import StorageLevel

_PID = "_grn_pid"
_LOCAL = "_grn_local"


def global_row_number(
    df: DataFrame,
    order_cols: Sequence[str],
    out: str = "row_num",
    num_partitions: int | None = None,
) -> DataFrame:
    """Add ``out`` = 1..N ordered by ``order_cols`` without a global
    single-partition window.

    ``order_cols`` should be a total order (unique key tuples) for a
    deterministic numbering; with ties the numbering is still a valid
    dense 1..N but tie order follows the within-partition sort.
    """
    order = [F.col(c) for c in order_cols]
    n = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    ranged = (
        df.repartitionByRange(n, *order)
        .sortWithinPartitions(*order)
        .withColumn(_PID, F.spark_partition_id())
        .localCheckpoint(eager=False, storageLevel=StorageLevel.MEMORY_AND_DISK)
    )

    # fresh StructType — StructType.add mutates in place, which would
    # corrupt the DataFrame's cached schema
    schema = T.StructType(
        list(ranged.schema.fields) + [T.StructField(_LOCAL, T.LongType())]
    )

    def enumerate_partition(
        batches: Iterator[pd.DataFrame],
    ) -> Iterator[pd.DataFrame]:
        seen = 0
        for b in batches:
            b[_LOCAL] = range(seen + 1, seen + 1 + len(b))
            seen += len(b)
            yield b

    local = ranged.mapInPandas(enumerate_partition, schema=schema)

    # per-partition counts: ≤ n rows, reuses the range-shuffle output
    counts = sorted(ranged.groupBy(_PID).count().collect())
    offsets, running = [], 0
    for pid, cnt in counts:
        offsets.append((pid, running))
        running += cnt
    off_df = df.sparkSession.createDataFrame(offsets, f"{_PID} int, _grn_off long")

    return (
        local.join(F.broadcast(off_df), _PID)
        .withColumn(out, F.col("_grn_off") + F.col(_LOCAL))
        .drop(_PID, _LOCAL, "_grn_off")
    )
