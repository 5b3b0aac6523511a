"""Table catalog: sf-dir parquet -> named DataFrames.

The reference encodes table identity in file paths and re-parses text
lines per mapper (reference: src/main/java/org/dicl/velox/benchmark/
PreMapper.java:19-48 tags tables by `path.indexOf("action")`). Here a
table is a named, schema-carrying DataFrame over self-describing
parquet; provenance needs no path sniffing.

:func:`read_table` is the only code in the package that turns
``(sf_dir, table)`` into a DataFrame, so every query sees the same
storage normalization (the ``events.ts`` TIMESTAMP(NANOS) read shape)
no matter which queries ran earlier in the session.
``tests/test_plans.py`` fails on any other ``sf_dir`` parquet read.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Tables small enough (at any SF — they scale sub-linearly or are
# bounded) to broadcast in joins. At 100 TB the fact tables (lineitem,
# orders, events, documents) are the only ones that should ever shuffle.
BROADCASTABLE = frozenset({"region", "nation", "supplier", "part", "customer"})


def ts_stored_as_nanos(path: str) -> bool:
    """True when the parquet source stores ``ts`` as TIMESTAMP(NANOS).

    Probes the parquet footer with pyarrow — no Spark conf required —
    so callers can decide the read shape WITHOUT mutating session
    state for µs-typed sources. Accepts a file or a directory (first
    parquet part decides; a source with mixed units is malformed).
    Directories are walked RECURSIVELY so partitioned layouts
    (key=value subdirectories, nested part files) probe the same as a
    flat directory — a top-level-only listing would return False and
    silently skip the ns handling the source needs.
    """
    import pyarrow.parquet as pq

    target = path
    if os.path.isdir(path):
        target = None
        for root, dirnames, files in os.walk(path):
            # prune hidden/metadata dirs (_temporary, .staging, ...):
            # an interrupted write's uncommitted part files must not
            # decide the read shape of the committed dataset
            dirnames[:] = sorted(
                d for d in dirnames if not d.startswith(("_", "."))
            )
            parts = sorted(
                f for f in files
                if f.endswith(".parquet") and not f.startswith(("_", "."))
            )
            if parts:
                target = os.path.join(root, parts[0])
                break
        if target is None:
            return False
    try:
        pf = pq.ParquetFile(target)
        field = pf.schema_arrow.field("ts")
    except (OSError, KeyError):
        return False
    if getattr(field.type, "unit", None) != "ns":
        return False
    # INT96 timestamps (Spark's default parquet output) surface as
    # Arrow timestamp[ns] too, but Spark's reader handles them natively
    # — only a true TIMESTAMP(NANOS) logical annotation needs the
    # nanosAsLong read shape. Check the PHYSICAL type to tell them
    # apart — matching the LEAF column by name: the parquet schema is a
    # flattened leaf list, so an Arrow top-level index would point at
    # the wrong leaf whenever a nested column precedes the probed one.
    try:
        for i in range(len(pf.schema)):
            leaf = pf.schema.column(i)
            if leaf.name == "ts" and leaf.path == "ts":
                if leaf.physical_type == "INT96":
                    return False
                break
    except (KeyError, IndexError):
        pass
    return True


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one catalog table; normalizes storage quirks.

    ``events.ts`` is parquet TIMESTAMP(NANOS), which Spark's vectorized
    reader rejects outright. For ns-stored sources we read the column
    as a long (legacy conf) and truncate to microseconds with integer
    division — the same truncation DuckDB applies when it narrows
    ns → µs, so both engines see identical timestamps. The legacy conf
    is set ONLY when the footer probe says the source really is ns
    (it must then stay set for the session: the scan reads lazily at
    every downstream action); µs sources never touch session state.
    """
    if name == "events":
        from pyspark.sql import functions as F

        path = f"{sf_dir}/events.parquet"
        if ts_stored_as_nanos(path):
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
            raw = spark.read.parquet(path)
            return raw.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
        return spark.read.parquet(path)
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def bare_sql(sql: str) -> str:
    """The DuckDB text of a ``spark.sql`` query whose tables are
    ``{table}`` placeholders: each placeholder becomes the bare catalog
    table name. Spark fills the same placeholders with ``read_table``
    frames passed as keyword arguments, so one string serves both
    engines and the session keeps no view."""
    return sql.format(**{t: t for t in TABLES})
