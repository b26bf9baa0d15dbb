"""Partitioned event-log scan — reference ``Log[M].from``.

Reference (log/package.scala:22-62, storage.scala:329-349,660-681):
a log keyed by ``persistence_id``, physically split into fixed-size
partitions (``partition_nr = sequence_nr / maxPartitionSize``), read
forward from ``offset`` with explicit partition hopping when
``seqNum % maxPartitionSize == 0``.

Spark-first: partition hopping is a *storage* detail.  A keyed table +
``filter(key == k AND seq >= offset)`` lets parquet predicate pushdown
(or the pinned in-memory batches' min/max stats, catalog.load_table) do
what the reference's ``navigatePartition`` arithmetic did by hand
(storage.scala:51,336-337,666-668).  One key's log is one ordered
stream — the reference reads it through one cursor — so the filtered
rows go to a single partition and are sorted there: a ``SinglePartition``
exchange satisfies the global sort, so there is no range exchange and
no sampling job that scans the input a second time.  The filter still
runs in every scan task; only one key's rows cross the exchange.  At
100 TB the log table should be written partitioned by key-bucket and
sorted by seq within files so the scan prunes to one bucket and
row-group min/max skips below ``offset``; the query shape stays
identical, and a single key's log fits one task at any scale the
reference's per-key cursor does.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def log_from(df: DataFrame, key, offset: int = 0, *,
             key_col: str = "user_id", seq_col: str = "event_id") -> DataFrame:
    """Forward scan of one persistence key from ``offset`` (inclusive).

    Matches reference semantics: rows with ``sequence_nr >= offset``
    for ``persistence_id == key`` in ascending sequence order; count
    equals ``total - offset`` (PartitionedLogCassandraSpec.scala:113,151).
    The key's rows are gathered into one partition and sorted there
    (module note): no range-partition sampling job.
    """
    return (df.filter((F.col(key_col) == F.lit(key))
                      & (F.col(seq_col) >= F.lit(int(offset))))
              .repartition(1)
              .orderBy(F.col(seq_col).asc()))
