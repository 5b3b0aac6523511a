"""Sources & sinks: text/CSV/parquet readers, provenance-tagged scans,
partitioned and TSV writers.

Re-expresses the reference's I/O layer Spark-first:

  * text scan with line records — reference: src/main/java/org/dicl/
    velox/mapreduce/LeanRecordReader.java:98-146 (byte-buffered line
    splitting over DFS chunks) → ``spark.read.text``; Spark's task
    scheduler + maxPartitionBytes replace chunk-pull work stealing.
  * multi-path scan with provenance — reference: LeanJoin.java:85-86 +
    PreMapper.java:19-48 (table identity sniffed from the file path)
    → ``input_file_name()`` captured as an explicit column.
  * TSV sink — reference: TextOutputFormat `key\\tvalue` files
    (LeanSort.java:150) → ``df.write.csv(sep='\\t')``.
  * partitioned/bucketed sinks — absent in the reference; exposed
    because hive-partitioned parquet layout is how 100 TB tables get
    partition pruning on read.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from velox_hadoop_spark.catalog import read_table
from velox_hadoop_spark.operators.setops import _snap_bucket_duck
from velox_hadoop_spark.functions.money import sum_money_cents
from velox_hadoop_spark.plans.registry import register


def read_text_lines(spark: SparkSession, paths: list[str]) -> DataFrame:
    """Line-record scan over one or more paths with file provenance."""
    return spark.read.text(paths).withColumn("source_file", F.input_file_name())


def write_tsv(df: DataFrame, path: str) -> None:
    """Tab-separated text sink (TextOutputFormat semantics)."""
    df.write.mode("overwrite").option("sep", "\t").option("header", "false").csv(path)


def read_tsv(spark: SparkSession, path: str, schema: T.StructType) -> DataFrame:
    return spark.read.option("sep", "\t").schema(schema).csv(path)


def sink_dir(kind: str) -> str:
    """A fresh directory for one build's round-trip sink. The returned
    frame reads the sink lazily, so no two builds may share it; it lives
    under the driver's scratch root, which Spark deletes when the
    session stops."""
    import tempfile

    from pyspark import SparkFiles

    return tempfile.mkdtemp(prefix=f"{kind}-", dir=SparkFiles.getRootDirectory())


# ---------------------------------------------------------------------------
# Registered query — sink/source roundtrip (S11 + S9 semantics)
# ---------------------------------------------------------------------------


@register(
    "tsv_roundtrip_lineitem",
    oracle="""
        SELECT l_returnflag,
               count(*) AS n,
               ROUND(sum(l_quantity), 2) AS sum_qty
        FROM lineitem
        GROUP BY l_returnflag
    """,
    tags=("sources", "sink", "reference:LeanSort.java:150"),
)
def q_tsv_roundtrip_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write lineitem keys to a TSV sink, read back, aggregate.

    Validates the text sink+source pair end-to-end: the aggregate over
    the roundtripped data must equal the oracle's aggregate over the
    original table (Spark's CSV writer emits round-trippable doubles).
    """
    li = read_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_returnflag", "l_quantity"
    )
    path = sink_dir("tsv")
    write_tsv(li, path)
    schema = T.StructType(
        [
            T.StructField("l_orderkey", T.LongType()),
            T.StructField("l_returnflag", T.StringType()),
            T.StructField("l_quantity", T.DoubleType()),
        ]
    )
    back = read_tsv(spark, path, schema)
    return back.groupBy("l_returnflag").agg(
        F.count("*").alias("n"),
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
    )


def write_jsonl(df: DataFrame, path: str) -> None:
    """JSON-lines sink — one JSON object per line, splittable on read."""
    df.write.mode("overwrite").json(path)


def read_jsonl(spark: SparkSession, path: str, schema: T.StructType) -> DataFrame:
    """Schema-enforced JSON-lines source (no inference pass at scale)."""
    return spark.read.schema(schema).json(path)


@register(
    "jsonl_roundtrip_orders",
    oracle="""
        SELECT o_orderstatus,
               count(*) AS n,
               ROUND(CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE) / 100.0, 2) AS sum_price
        FROM orders
        GROUP BY o_orderstatus
    """,
    tags=("sources", "sink", "jsonl", "extension"),
)
def q_jsonl_roundtrip_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write orders to a JSON-lines sink, read back with an explicit
    schema, aggregate — the semi-structured sibling of the TSV
    roundtrip. Explicit schema on read avoids the inference scan
    (a full extra pass at 100 TB)."""
    orders = read_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    path = sink_dir("jsonl")
    write_jsonl(orders, path)
    schema = T.StructType(
        [
            T.StructField("o_orderkey", T.LongType()),
            T.StructField("o_orderstatus", T.StringType()),
            T.StructField("o_totalprice", T.DoubleType()),
        ]
    )
    back = read_jsonl(spark, path, schema)
    return back.groupBy("o_orderstatus").agg(
        F.count("*").alias("n"),
        sum_money_cents("o_totalprice").alias("sum_price"),
    )


def write_orc(df: DataFrame, path: str) -> None:
    """ORC sink (Spark's built-in columnar alternative to parquet)."""
    df.write.mode("overwrite").orc(path)


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.orc(path)


@register(
    "orc_roundtrip_customer",
    oracle="""
        SELECT c_mktsegment,
               count(*) AS n,
               ROUND(CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS DOUBLE) / 100.0, 2) AS sum_bal
        FROM customer
        GROUP BY c_mktsegment
    """,
    tags=("sources", "sink", "orc", "extension"),
)
def q_orc_roundtrip_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write customer to an ORC sink, read back, aggregate — the third
    columnar format in the source/sink matrix (parquet, TSV, JSONL,
    ORC). ORC carries its own schema, so no schema-on-read is needed;
    the aggregate over the roundtripped data must equal the oracle's
    over the original parquet."""
    cust = read_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment", "c_acctbal"
    )
    path = sink_dir("orc")
    write_orc(cust, path)
    back = read_orc(spark, path)
    return back.groupBy("c_mktsegment").agg(
        F.count("*").alias("n"),
        sum_money_cents("c_acctbal").alias("sum_bal"),
    )


def compact_parquet(
    spark: SparkSession,
    src_dir: str,
    dst_dir: str,
    target_file_mb: int = 128,
) -> int:
    """Rewrite a parquet directory into ~``target_file_mb`` files.

    The table-maintenance pass for the small-files problem: thousands
    of tiny files (streaming sinks, over-parallel writers) destroy scan
    parallelism planning and NameNode/listing performance at 100 TB.
    Sizing comes from the filesystem's content summary (works on any
    Hadoop FS — HDFS, S3A, local), not from a driver-side collect;
    ``coalesce`` (narrow, no shuffle) reduces partition count when
    we're shrinking the file count, which is the compaction direction.
    Returns the target file count.
    """
    jvm = spark._jvm
    hconf = spark._jsc.hadoopConfiguration()
    path = jvm.org.apache.hadoop.fs.Path(src_dir)
    fs = path.getFileSystem(hconf)
    total_bytes = fs.getContentSummary(path).getLength()
    n_files = max(1, int(total_bytes // (target_file_mb * 1024 * 1024)) + 1)
    df = spark.read.parquet(src_dir)
    df.coalesce(n_files).write.mode("overwrite").parquet(dst_dir)
    return n_files


def write_partitioned_parquet(
    df: DataFrame, path: str, partition_cols: str | list[str]
) -> None:
    """Hive-layout partitioned parquet sink (``col=value/`` directories)
    — the table layout that makes partition pruning possible on read.
    Accepts one column or a list (multi-level layout)."""
    cols = [partition_cols] if isinstance(partition_cols, str) else list(partition_cols)
    df.write.mode("overwrite").partitionBy(*cols).parquet(path)


@register(
    "partitioned_parquet_prune",
    oracle="""
        SELECT o_orderstatus,
               count(*) AS n,
               ROUND(CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE) / 100.0, 2) AS sum_price
        FROM orders
        WHERE o_orderpriority = '1-URGENT'
        GROUP BY o_orderstatus
    """,
    tags=("sources", "sink", "partition-pruning", "extension"),
)
def q_partitioned_parquet_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write orders partitioned by priority, read back ONE partition,
    aggregate. The filter on the partition column must resolve at
    planning time (PartitionFilters, zero non-matching files opened —
    plan-asserted in tests/test_skyline_sources.py): at 100 TB the
    difference between a pruned scan and a full scan IS the query
    budget. The aggregate must equal the oracle's over the original
    unpartitioned table."""
    orders = read_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice", "o_orderpriority"
    )
    path = sink_dir("part-prune")
    write_partitioned_parquet(orders, path, "o_orderpriority")
    # explicit schema: an EMPTY input writes a dir with no part files,
    # where schema inference fails — the known schema round-trips it
    back = spark.read.schema(orders.schema).parquet(path).where(
        F.col("o_orderpriority") == "1-URGENT"
    )
    return back.groupBy("o_orderstatus").agg(
        F.count("*").alias("n"),
        sum_money_cents("o_totalprice").alias("sum_price"),
    )


@register(
    "schema_evolution_union",
    # Oracle spells out what union-by-name means: the legacy batch
    # carries NULL for the column it predates.
    oracle=f"""
        WITH bucketed AS (
            SELECT *, {_snap_bucket_duck()} AS b FROM orders
        )
        SELECT o_orderkey, o_totalprice, CAST(NULL AS VARCHAR) AS o_orderpriority
        FROM bucketed WHERE b < 90
        UNION ALL
        SELECT o_orderkey, o_totalprice, o_orderpriority
        FROM bucketed WHERE b >= 90
    """,
    tags=("sources", "schema-evolution", "extension"),
)
def q_schema_evolution_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Union of two batch generations whose schemas drifted — the old
    generation lacks ``o_orderpriority``; ``unionByName(allowMissing
    Columns=True)`` aligns columns BY NAME and null-fills the gap, the
    schema-evolution contract every long-lived 100 TB dataset needs
    (positional unionAll would silently misalign columns instead).
    Both sides stay narrow projections of one scan; the union is a
    no-shuffle concatenation."""
    from velox_hadoop_spark.functions.hashing import spark_md5_int60, seeded
    from velox_hadoop_spark.operators.setops import SNAP_SEED

    orders = read_table(spark, sf_dir, "orders")
    b = F.expr(spark_md5_int60(seeded("o_orderkey", SNAP_SEED))) % 100
    bucketed = orders.withColumn("b", b)
    legacy = bucketed.where(F.col("b") < 90).select("o_orderkey", "o_totalprice")
    modern = bucketed.where(F.col("b") >= 90).select(
        "o_orderkey", "o_totalprice", "o_orderpriority"
    )
    return legacy.unionByName(modern, allowMissingColumns=True)


@register(
    "dynamic_partition_prune_join",
    oracle="""
        SELECT o_orderpriority,
               count(*) AS n,
               ROUND(CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE) / 100.0, 2) AS sum_price
        FROM orders
        WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
        GROUP BY o_orderpriority
    """,
    tags=("sources", "dynamic-partition-pruning", "extension"),
)
def q_dynamic_partition_prune_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-driven partition pruning: the fact table is partitioned on
    the join key and the pruning predicate only exists at RUNTIME (it
    comes from the dim side of a broadcast join, not from a literal
    filter), so Catalyst injects a dynamic-pruning subquery into the
    fact scan — the star-join shape that makes a 100 TB fact scan read
    only the partitions the dim selects. Plan-asserted (dynamicpruning
    expression in PartitionFilters) in tests/test_plans.py; the result
    must equal the oracle's static IN-filter over the unpartitioned
    table."""
    orders = read_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice", "o_orderpriority"
    )
    path = sink_dir("part-dpp")
    write_partitioned_parquet(orders, path, "o_orderpriority")
    # explicit schema: same empty-input round-trip contract as
    # partitioned_parquet_prune; partition discovery still prunes
    fact = spark.read.schema(orders.schema).parquet(path)
    # The dim must carry a real selective Filter for the optimizer's
    # pruning-has-benefit check — a bare 2-row LocalRelation is folded
    # before DPP runs and no pruning subquery gets injected.
    dim = (
        read_table(spark, sf_dir, "orders")
        .select("o_orderpriority")
        .where(F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"))
        .distinct()
    )
    return (
        fact.join(F.broadcast(dim), "o_orderpriority")
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n"),
            sum_money_cents("o_totalprice").alias("sum_price"),
        )
    )


@register(
    "federated_format_union",
    oracle="""
        SELECT o_orderstatus,
               count(*) AS n,
               ROUND(CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE) / 100.0, 2) AS sum_price
        FROM orders
        GROUP BY o_orderstatus
    """,
    tags=("sources", "federation", "extension"),
)
def q_federated_format_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One aggregate over THREE storage formats at once: a third of
    orders lives in parquet, a third in TSV, a third in JSON-lines
    (split by orderkey mod 3); each format gets its own schema-aligned
    reader and the plan unions the scans — the federation shape for
    mixed-vintage data lakes where history sits in text and the
    current partition in parquet. The union is a no-shuffle
    concatenation; the aggregate's partial phase runs per scan leg.
    Result must equal the oracle over the single original table."""
    orders = read_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    base = sink_dir("fed")
    leg = F.col("o_orderkey") % 3
    write_tsv(orders.where(leg == 1), f"{base}/tsv")
    write_jsonl(orders.where(leg == 2), f"{base}/jsonl")
    schema = T.StructType(
        [
            T.StructField("o_orderkey", T.LongType()),
            T.StructField("o_orderstatus", T.StringType()),
            T.StructField("o_totalprice", T.DoubleType()),
        ]
    )
    parquet_leg = orders.where(leg == 0)
    tsv_leg = read_tsv(spark, f"{base}/tsv", schema)
    jsonl_leg = read_jsonl(spark, f"{base}/jsonl", schema)
    all_legs = parquet_leg.unionByName(tsv_leg).unionByName(jsonl_leg)
    return all_legs.groupBy("o_orderstatus").agg(
        F.count("*").alias("n"),
        sum_money_cents("o_totalprice").alias("sum_price"),
    )
