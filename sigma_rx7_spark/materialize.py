"""The one materialization rule: every shared relation goes through here.

``share(df)`` is the rule. Use it whenever one query consumes a relation
more than once (two plan branches, a scalar count plus a join, an
iteration that reads the previous round twice). It is
``df.localCheckpoint(eager=False)``:

- each call gets fresh lineage, so repeat calls recompute and bench
  reps measure the query, not a cache left by the previous rep;
- no CacheManager entry is created, so there is nothing to release and
  nothing leaks when a query throws: Spark's ContextCleaner frees the
  checkpoint blocks once the DataFrame is dropped;
- the consumers of one returned DataFrame read the blocks the first
  consumer wrote, so the shared subtree runs once per query.

Building a DataFrame that calls ``share()`` is not free. Measured with
Spark 4.1.2, local[2], AQE on, on a fresh grouped aggregate:
``localCheckpoint(eager=False)`` launched 1 job at call time (the
aggregate's shuffle stage), ``localCheckpoint(eager=True)`` launched 2
and ``persist()`` launched 0. So a query that calls ``share()`` runs the
shuffle stages of its shared relation while its DataFrame is being
built; only the final stage waits for the query's own action.

``snapshot(df)`` is ``df.localCheckpoint(eager=True)``. It is only for
state that must outlive a ``foreachBatch`` micro-batch: the batch's
DataFrame is gone once the callback returns, so the state derived from
it is materialized before then. Its only caller is
``streaming.jobs.fold_stream``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def share(df: DataFrame) -> DataFrame:
    """Materialize ``df`` once for every consumer in this query."""
    return df.localCheckpoint(eager=False)


def snapshot(df: DataFrame) -> DataFrame:
    """Materialize ``df`` now; for state carried across micro-batches."""
    return df.localCheckpoint(eager=True)
