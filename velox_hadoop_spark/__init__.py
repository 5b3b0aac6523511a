"""velox_hadoop_spark — a PySpark-native analytics engine.

A from-scratch re-expression of the query surface of DICL/velox-hadoop
(reference: /root/reference, a Hadoop MapReduce benchmark suite over the
VeloxDFS research filesystem) as an idiomatic PySpark library, extended
with the LLM-data-pipeline operators (dedup, similarity search,
multimodal columns, text analysis) a 100 TB training-data pipeline needs.

Design stance (SURVEY.md §7):
  * DataFrame/SQL everywhere — Catalyst is the optimizer, Tungsten the
    execution engine, Arrow the Python boundary. No RDDs.
  * Every operator is a pure function DataFrame -> DataFrame so plans
    compose lazily and Catalyst sees the whole tree (pushdown, pruning,
    join planning are free).
  * Shuffle-bounded by design: no driver-side collect in any operator;
    iterative algorithms (PageRank) persist + checkpoint inside the loop.
  * Small dimension tables are broadcast explicitly; skew-prone joins
    rely on AQE (a Spark default the session builder leaves on).
"""

from velox_hadoop_spark.session import get_spark, stop_spark
from velox_hadoop_spark.catalog import read_table

__all__ = ["get_spark", "stop_spark", "read_table"]

__version__ = "0.1.0"
