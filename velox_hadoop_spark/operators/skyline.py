"""Pareto-frontier (skyline) operator. [extension]

Skyline query: the set of points not dominated by any other point —
here parts where no other part is both cheaper-or-equal AND
larger-or-equal (strict in at least one). The classic multi-criteria
shortlist (price/quality trade-off curves, model-selection frontiers).
Not present in the reference (SURVEY §2 has no multi-criteria
operator); Spark has no built-in skyline.

Scale design: a naive skyline is an all-pairs NOT EXISTS (quadratic)
or a single global window (serializes the table through one task).
This implementation reduces to DISTINCT coordinates, then computes a
DISTRIBUTED prefix-max over the (price asc, size desc) total order
with the same 3-phase shape as ``sort.global_rank``:

  1. range-partition on the order (sampled bounds, data-parallel) and
     sort within each partition — the ONLY exchange of the data;
  2. per-partition local running max via a stateful mapInPandas pass
     (``np.maximum.accumulate`` with the running max carried across
     Arrow batches) — not a ``Window.partitionBy(__pid)``, which would
     re-shuffle the whole table on ``__pid``;
  3. fold in each partition's predecessor max — a numPartitions-row
     aggregate broadcast back (the only non-distributed step, bounded
     by partition count, never by data).

For distinct coordinates ordered by (price asc, size desc), a point
is dominated iff ANY predecessor has size >= its own: a predecessor
with strictly larger size is cheaper-or-equal and bigger; one with
equal size is strictly cheaper (coords are distinct). So dominance
collapses to ``prefix_max(size) >= size`` — one comparison per row.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from velox_hadoop_spark.catalog import read_table
from velox_hadoop_spark.plans.registry import register


def skyline_min_max(
    df: DataFrame, minimize: str, maximize: str
) -> DataFrame:
    """Distinct (minimize, maximize) coordinate pairs on the Pareto
    frontier: minimal in ``minimize``, maximal in ``maximize``."""
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    coords = df.select(
        F.col(minimize).alias("m"), F.col(maximize).alias("x")
    ).distinct()
    m_t = coords.schema["m"].dataType.simpleString()
    x_t = coords.schema["x"].dataType.simpleString()
    # ONE exchange of the coords: range-partition + sort WITHIN the
    # partition. The local exclusive prefix max is a stateful
    # mapInPandas pass (np.maximum.accumulate, running max carried
    # across Arrow batches — a task's iterator covers its whole
    # partition in order), NOT a Window.partitionBy(__pid), which
    # Catalyst backs with a second full-data hash exchange because it
    # cannot prove the range layout clusters by __pid (the same hidden
    # double shuffle measured and removed from sort.global_rank).
    parts = (
        coords.repartitionByRange(F.col("m").asc(), F.col("x").desc())
        .sortWithinPartitions(F.col("m").asc(), F.col("x").desc())
        .withColumn("__pid", F.spark_partition_id())
    )

    def local_prefix(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # Running max carried across Arrow batches in the column's
        # NATIVE dtype (int64 prefix max stays exact above 2^53, where
        # a float64 detour would collapse near-equal large values), and
        # a has-prior boolean instead of a -inf sentinel (a legitimate
        # first-row x of -inf must not be mistaken for "no prior").
        running = None  # native-dtype scalar once the first row is seen
        for pdf in batches:
            xs = pdf["x"].to_numpy()
            n = len(xs)
            if n == 0:
                yield pd.DataFrame(
                    {
                        "m": pdf["m"],
                        "x": pdf["x"],
                        "__pid": pdf["__pid"],
                        "__lpm": xs,
                        "__has": np.zeros(0, dtype=bool),
                    }
                )
                continue
            cm = np.maximum.accumulate(xs)
            lpm = np.empty(n, dtype=cm.dtype)
            lpm[1:] = cm[:-1]
            has = np.ones(n, dtype=bool)
            if running is None:
                lpm[0] = xs[0]  # placeholder; masked by __has below
                has[0] = False
            else:
                lpm[0] = running
                np.maximum(lpm[1:], running, out=lpm[1:])
            running = cm[-1] if running is None else max(running, cm[-1])
            yield pd.DataFrame(
                {
                    "m": pdf["m"],
                    "x": pdf["x"],
                    "__pid": pdf["__pid"],
                    "__lpm": lpm,
                    "__has": has,
                }
            )

    local = parts.mapInPandas(
        local_prefix, f"m {m_t}, x {x_t}, __pid int, __lpm {x_t}, __has boolean"
    )
    pmax = parts.groupBy("__pid").agg(F.max("x").alias("__mx"))
    # numPartitions rows — a single-partition window here is bounded
    # by partition count, not data (same note as sort.global_rank).
    w_prior = Window.orderBy("__pid").rowsBetween(Window.unboundedPreceding, -1)
    prior = pmax.withColumn("__prior", F.max("__mx").over(w_prior)).select(
        "__pid", "__prior"
    )
    with_pm = local.join(F.broadcast(prior), "__pid").withColumn(
        # greatest() skips NULLs: local prefix counts only when a prior
        # row exists in this partition (__has), and __prior is NULL for
        # the first partition — both NULL means no predecessor at all.
        "__pm",
        F.greatest(
            F.when(F.col("__has"), F.col("__lpm")), F.col("__prior")
        ),
    )
    return (
        with_pm.where(F.col("__pm").isNull() | (F.col("__pm") < F.col("x")))
        .select(F.col("m").alias(minimize), F.col("x").alias(maximize))
    )


@register(
    "pareto_frontier_parts",
    oracle="""
        WITH coords AS (
            SELECT DISTINCT p_retailprice, p_size FROM part
        ),
        sky AS (
            SELECT p_retailprice, p_size FROM (
                SELECT p_retailprice, p_size,
                       max(p_size) OVER (
                           ORDER BY p_retailprice ASC, p_size DESC
                           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                       ) AS pm
                FROM coords
            ) WHERE pm IS NULL OR pm < p_size
        )
        SELECT p.p_partkey, p.p_retailprice, p.p_size
        FROM part p JOIN sky USING (p_retailprice, p_size)
    """,
    tags=("skyline", "pareto", "extension"),
)
def q_pareto_frontier_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parts on the (cheapest, largest) Pareto frontier — every part
    for which no other part is at-least-as-cheap AND at-least-as-large
    with one strict."""
    part = read_table(spark, sf_dir, "part")
    sky = skyline_min_max(part, "p_retailprice", "p_size")
    return part.join(
        F.broadcast(sky), ["p_retailprice", "p_size"]
    ).select("p_partkey", "p_retailprice", "p_size")


# ---------------------------------------------------------------------------
# Multi-dimensional skyline (d >= 3)
# ---------------------------------------------------------------------------

_CANDIDATE_CAP = 200_000  # max union-of-local-frontiers rows collected


def _pareto_frontier(m):
    """Row indices of the Pareto-maximal rows of ``m`` (all-maximize
    space, distinct rows), in lexicographic-descending order.

    Sorted lexicographically DESCENDING, any dominator of a point
    precedes it (its first differing coordinate is strictly greater),
    and by transitivity it suffices to test each point against the
    CURRENT frontier plus the earlier rows of its own block — never
    all-pairs. Blocked numpy: each 512-row block is masked against the
    frontier matrix stacked on the block itself (a block point whose
    in-block dominator was itself dominated is already gone —
    transitivity again), so cost is ((k + 512) × 512 × d) per block
    for a k-row frontier. The masks are built one dimension at a time
    from 2-D comparisons: reducing a 3-D comparison over its short
    trailing axis costs several times more, and how much depends on
    the memory layout pandas hands over."""
    import numpy as np

    # lexsort's primary key is its LAST argument, so feed dims
    # reversed; rows are distinct, so reversing the ascending order is
    # exactly the descending order
    order = np.lexsort(tuple(m[:, j] for j in range(m.shape[1] - 1, -1, -1)))[::-1]
    ms = m[order]
    keep = np.zeros(len(ms), dtype=bool)
    front = np.empty((0, m.shape[1]))
    for lo in range(0, len(ms), 512):
        blk = ms[lo : lo + 512]
        rivals = np.concatenate([front, blk])
        ge = np.ones((len(rivals), len(blk)), dtype=bool)
        gt = np.zeros_like(ge)
        for j in range(m.shape[1]):
            r, b = rivals[:, j, None], blk[None, :, j]
            ge &= r >= b
            gt |= r > b
        alive = ~(ge & gt).any(0)
        front = np.concatenate([front, blk[alive]])
        keep[lo : lo + 512] = alive
    return order[keep]


def skyline_multi(
    df: DataFrame, minimize: list[str], maximize: list[str]
) -> DataFrame:
    """d-dimensional skyline (distinct coordinate tuples not dominated
    in ALL of ``minimize`` + ``maximize``, strict in at least one).

    The 2-D prefix-max argument (``skyline_min_max``) does not
    generalize past two dimensions, so this uses the classic two-phase
    distributed skyline:

      1. LOCAL frontier per partition — a stateful mapInPandas pass
         keeps a running Pareto set across Arrow batches (a point the
         local frontier dominates can never be in the global skyline,
         because dominance is transitive). The candidate frame is
         collected through ONE bounded ``limit(cap + 1)`` action that
         doubles as the cap probe (round 14) — no persist, no separate
         take-probe job.
      2. GLOBAL re-check — the union of local frontiers (bounded by a
         limit-probe at ``_CANDIDATE_CAP``, the dedup_clusters
         precedent) is collected once and pruned by the same
         ``_pareto_frontier`` scan the local phase runs, O(n·k) for a
         k-row frontier.

    Dominance compares in float64: exact for integer inputs below
    2^53 (the repo's money/size/length domains); unlike the 2-D
    prefix-max there is no accumulation, each comparison is one
    original value against another.
    """
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    dims = list(minimize) + list(maximize)
    signs = np.array([-1.0] * len(minimize) + [1.0] * len(maximize))
    coords = df.select(*dims).distinct()
    schema = ", ".join(
        f"{c} {coords.schema[c].dataType.simpleString()}" for c in dims
    )

    def local_frontier(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        front_raw = None  # pandas rows of the running local frontier
        front_m = None  # their all-maximize float64 matrix
        for pdf in batches:
            if not len(pdf):
                continue
            m = pdf[dims].to_numpy(dtype="float64") * signs
            if front_m is not None:
                m = np.concatenate([front_m, m])
                pdf = pd.concat([front_raw, pdf[dims]], ignore_index=True)
            idx = _pareto_frontier(m)
            front_m = m[idx]
            front_raw = pdf[dims].iloc[idx].reset_index(drop=True)
        if front_raw is not None:
            yield front_raw

    cand = coords.mapInPandas(local_frontier, schema)
    # Bounded collect: limit(cap + 1) IS the cap probe — the driver
    # never holds more than cap+1 rows, and when the frontier is within
    # the cap the limit returns every candidate row, so ONE action
    # replaces the previous persist + take-probe + toPandas pair (one
    # fewer job and no cache materialization; phase 1 still executes
    # exactly once). Row ORDER from a limit is nondeterministic, which
    # is fine: _pareto_frontier re-orders candidates totally (tuples
    # are distinct), so the pruned SET is order-independent, and the
    # caller's join consumes it as an unordered relation.
    cand_pdf = cand.limit(_CANDIDATE_CAP + 1).toPandas()
    if len(cand_pdf) > _CANDIDATE_CAP:
        raise ValueError(
            f"skyline_multi: candidate frontier exceeds {_CANDIDATE_CAP} "
            "rows; raise the cap or pre-aggregate the dimensions"
        )
    spark = df.sparkSession
    m = cand_pdf[dims].to_numpy(dtype="float64") * signs
    result = cand_pdf.iloc[_pareto_frontier(m)].reset_index(drop=True)
    return spark.createDataFrame(result, schema=cand.schema)


@register(
    "skyline_3d_parts",
    oracle="""
        WITH c AS (
            SELECT DISTINCT p_retailprice, p_size,
                   CAST(length(p_name) AS BIGINT) AS name_len
            FROM part
        ),
        sky AS (
            SELECT * FROM c a WHERE NOT EXISTS (
                SELECT 1 FROM c b
                WHERE b.p_retailprice <= a.p_retailprice
                  AND b.p_size >= a.p_size
                  AND b.name_len >= a.name_len
                  AND (b.p_retailprice < a.p_retailprice
                       OR b.p_size > a.p_size
                       OR b.name_len > a.name_len)
            )
        )
        SELECT p.p_partkey, p.p_retailprice, p.p_size,
               CAST(length(p.p_name) AS BIGINT) AS name_len
        FROM part p
        JOIN sky ON p.p_retailprice = sky.p_retailprice
                AND p.p_size = sky.p_size
                AND length(p.p_name) = sky.name_len
    """,
    tags=("skyline", "pareto", "multi-dim", "extension"),
)
def q_skyline_3d_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three-criteria Pareto frontier over parts (cheapest, largest,
    longest name): the d-dimensional skyline the 2-D prefix-max kernel
    cannot express — local frontiers union into a capped candidate
    set, globally re-checked against itself (oracle states the NOT
    EXISTS dominance definition directly)."""
    part = read_table(spark, sf_dir, "part")
    with_len = part.withColumn("name_len", F.length("p_name").cast("long"))
    sky = skyline_multi(
        with_len, minimize=["p_retailprice"], maximize=["p_size", "name_len"]
    )
    return with_len.join(
        F.broadcast(sky), ["p_retailprice", "p_size", "name_len"]
    ).select("p_partkey", "p_retailprice", "p_size", "name_len")
