"""cc_net_spark — a from-scratch, PySpark-native re-implementation of the
capabilities of facebookresearch/cc_net (hash-based corpus dedup + cleaning),
grafted onto a table of audio clip + transcript pairs and extended with
near-duplicate detection (MinHash-LSH, SimHash, substring overlap) and
connected-components clustering.

Design notes (Spark-first, not a port):

* All dataflow is declared with the DataFrame API so Catalyst handles
  predicate pushdown, column pruning, partial aggregation and join strategy
  selection. The reference's hand-rolled streaming dataflow engine
  (``cc_net/jsonql.py`` ``run_pipes``) dissolves into Spark's own scheduler.
* The reference's in-RAM ``FlatHashSet`` (u64 -> "seen twice" flag,
  ``cc_net/flat_hash_set.py``) becomes a *hashes DataFrame*
  ``(hash: long, is_dup: boolean)`` produced by a ``groupBy(hash)`` — the
  shuffle is the hash table, so the 2 GB/shard RAM ceiling and the
  "imperfect dedup across shard groups" caveat (``cc_net/dedup.py:180-185``)
  both disappear.
* Python only runs in vectorized, Arrow-batched pandas UDFs
  (``mapInPandas`` / ``pandas_udf``); there is no row-at-a-time Python UDF
  anywhere in the hot path.
"""

from cc_net_spark.worker_imports import install_in_spark_worker

__version__ = "0.1.0"

# inside a Spark Python worker: stop re-reading unchanged zip archives on
# every task (worker_imports)
install_in_spark_worker()
