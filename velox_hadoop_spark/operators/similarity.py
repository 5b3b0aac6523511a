"""Similarity search over embedding columns. [extension]

Exact cosine scoring has one kernel, ``cosine_tiles``: id-sorted,
L2-normalized query rows (``unit_rows``) against a neighbor matrix in
row chunks of at most ``TILE_ENTRIES`` cosines, each chunk one
``round_half_away(q @ nbr.T, 6)`` dgemm with the self-pairs masked. Two
reducers consume the chunks: ``cosine_topk`` (top-k by cos desc,
neighbor id asc, from one integer key per pair) and
``cosine_pairs_above`` (the a < b, cos ≥ t upper triangle). Its callers:

  * ``knn_blocked`` / ``knn_exact`` and ``cosine_pairs_blocked``: a
    block-matrix cogroup whose tasks each score one tile, then a global
    merge; exact at every corpus size, nothing collected or broadcast;
  * ``ann_ivf_topk``'s ``cell_topk``: exact top-3 inside an IVF cell;
  * ``driver_recall``: the recall gates' exact and approximate top-k.

``cosine_pairs`` keeps the expression form (``zip_with``/``aggregate``
builtins) for the small brute-force query, and ``score_pairs_exact``
scores candidate pairs one row-wise dot each.

Approximate indexes: random-hyperplane LSH buckets (sign bits of
MD5-derived ±1 hyperplanes) and an IVF codebook of the lowest vec_ids.
Both are literal arrays in the plan, so every executor computes buckets
and cells locally; candidates are joined within a bucket or a cell.

Determinism: cosines are rounded to 6 dp BEFORE ranking in both the
Spark plan and the oracle, so float summation order can never reorder
the top-k; ties broken by neighbor id.

The ANN recall gates (LSH, amplified LSH, IVF, and the IVF budget
curve) have two regimes, switched by ``DRIVER_BROADCAST_ROWS`` alone.
Below it, the Spark kernels compute each vector's index keys, one
collect brings keys and vectors to the driver, and ``driver_recall``
scores the sample there; the result is a local relation. Above it, the
exact baseline and the candidate re-rank stay distributed
(``recall_ground_truth`` / ``_recall_vs_exact``).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from velox_hadoop_spark.catalog import read_table
from velox_hadoop_spark.functions.vectors import double_array, round_half_away, to_double
from velox_hadoop_spark.plans.registry import register

N_PLANES = 8
PLANE_DIMS = 64  # embedding width the hyperplane weights cover
# Deterministic neighbor-side truncation for the fixed-bucket LSH topk:
# per bucket, only the ANN_BUCKET_CAP lowest vec_ids serve as candidate
# neighbors (mirrored in the oracle). Bounds candidate volume linearly
# in N even when 2^N_PLANES buckets are mis-sized for the corpus.
ANN_BUCKET_CAP = 512
# Query-axis salting factor for the IVF grouped-map: each cell's
# queries split across this many cogroup tasks (neighbors replicated),
# so no single task owns a whole ~N/K cell. Value-neutral: every query
# still scores against its full cell.
IVF_QUERY_SALTS = 8

# IVF codebook size: the K lowest vec_ids are the centroids (the
# oracles mirror this with ORDER BY vec_id LIMIT 8).
IVF_CENTROIDS = 8

# Corpora at or below this row count may be collected to the driver as a
# dense matrix (the recall gates' driver scoring, the candidate re-rank
# of ``score_pairs_exact``); larger ones stay distributed.
DRIVER_BROADCAST_ROWS = 500_000
# Vectors per block of the block-matrix cogroup (``n_blocks_for``).
BLOCK_ROWS = 250_000
# Cosines one scored block may hold: every dgemm scorer takes its query
# rows in chunks of TILE_ENTRIES // |neighbors| rows (``cosine_tiles``).
TILE_ENTRIES = 1 << 22

# + 0.0 pins −0.0 → +0.0 on every rounded cosine/centroid output:
# near-orthogonal pairs land in (−5e-7, 0) where DuckDB ROUND keeps the
# sign bit and Spark normalizes (the degenerate-sweep class, applied
# module-wide in round 9)
_DUCK_COS = (
    "(ROUND(list_dot_product(q.v, n.v) / "
    "(sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(n.v, n.v))), 6)"
    " + 0.0)"
)


def drop_null_vectors(df: DataFrame) -> DataFrame:
    """SQL null semantics for the vector kernels: a NULL embedding joins
    no similarity computation. The SQL-expression kernels get this for
    free (a null cosine fails every threshold), but the numpy/Arrow
    matrix kernels would crash mid-batch on the inhomogeneous column —
    and a real corpus at scale always carries a few nulls — so every
    kernel that materializes embeddings into a matrix filters here."""
    return df.where(F.col("embedding").isNotNull())


# Oracle twin of drop_degenerate_vectors: NULL > 0 is NULL (filtered),
# an empty list sums to NULL (filtered), a zero vector sums to 0.
DUCK_FINITE_VECTOR = (
    "list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[])) > 0"
)


def drop_degenerate_vectors(df: DataFrame) -> DataFrame:
    """Cosine is undefined for NULL, empty, and all-zero embeddings —
    the COSINE kernels drop all three at entry. The zero case matters
    because the two engines disagree silently: normalizing a zero
    vector yields NaN cosines, which the numpy kernels drop (NaN fails
    every comparison) while DuckDB sorts NaN ABOVE every number, so an
    unguarded oracle crowns the zero vector as everyone's top neighbor.
    Norm/quantize kernels keep zero vectors (a zero L2 is well-defined)
    and use ``drop_null_vectors`` only."""
    sq = F.aggregate(
        to_double(F.col("embedding")), F.lit(0.0), lambda acc, x: acc + x * x
    )
    return df.where(F.col("embedding").isNotNull() & (sq > 0))


def cosine_pairs(queries: DataFrame, corpus: DataFrame) -> DataFrame:
    """All (query, candidate) cosine scores, candidate ≠ query.

    Norms are precomputed per vector (not per pair) — same arithmetic as
    dot/(√·√) per pair, 3× less work. The pairing is a broadcast
    nested-loop on the (small) query side; candidates stream.
    """
    from velox_hadoop_spark.functions.vectors import dot, norm

    q = queries.select(
        F.col("vec_id").alias("query_id"), to_double(F.col("embedding")).alias("qv")
    ).withColumn("qn", norm(F.col("qv")))
    n = corpus.select(
        F.col("vec_id").alias("neighbor_id"), to_double(F.col("embedding")).alias("nv")
    ).withColumn("nn", norm(F.col("nv")))
    return (
        F.broadcast(q).join(n, F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            (
                F.round(
                    dot(F.col("qv"), F.col("nv")) / (F.col("qn") * F.col("nn")), 6
                )
                + F.lit(0.0)
            ).alias("cos"),
        )
    )


def unit_rows(ids, vectors):
    """``(ids, matrix)`` in id order with every row L2-normalized: the
    input the cosine tiles take. ``vectors`` holds one equal-length
    array per id; an empty input gives a (0, 0) matrix."""
    import numpy as np

    ids = np.asarray(ids)
    order = np.argsort(ids, kind="stable")
    if not len(ids):
        return ids, np.empty((0, 0))
    mat = np.array(list(vectors), dtype=np.float64)[order]
    return ids[order], mat / np.linalg.norm(mat, axis=1, keepdims=True)


def cosine_tiles(qids, q, nids, nbr, entries: int):
    """Yield ``(lo, cos)`` per chunk of query rows: the chunk's cosines
    against every neighbor, ``round_half_away(q[lo:hi] @ nbr.T, 6)``,
    with each self-pair (query id = neighbor id) set to -inf. Both sides
    come from ``unit_rows``, so the columns are in neighbor-id order. A
    chunk holds at most ``entries`` cosines, and at least one row."""
    import numpy as np

    if not len(q) or not len(nbr):
        return
    step = max(1, entries // len(nbr))
    for lo in range(0, len(q), step):
        cos = round_half_away(q[lo : lo + step] @ nbr.T, 6)
        cos[qids[lo : lo + step, None] == nids] = -np.inf
        yield lo, cos


def rank_keys(cos):
    """One int64 per tile entry that orders a row by (cos desc, neighbor
    id asc), -1 on a masked self-pair. Cosines sit on the 1e-6 grid and
    the columns are in id order, so grid step × width + reversed column
    index is unique within a row."""
    import numpy as np

    n = cos.shape[1]
    key = np.rint(np.maximum(cos, -1.0) * 1e6).astype(np.int64)
    key += 1_000_001
    key *= n
    key += np.arange(n - 1, -1, -1)
    key[np.isneginf(cos)] = -1
    return key


def top_keys(key, k: int):
    """Column indices of each row's ``k`` largest keys, best first, and
    the mask of those that are real pairs (key ≥ 0). ``argpartition``
    picks them; only the picked are sorted."""
    import numpy as np

    kk = min(k, key.shape[1])
    best = np.argpartition(-key, kk - 1, axis=1)[:, :kk]
    picked = np.take_along_axis(key, best, axis=1)
    order = np.argsort(picked, axis=1)[:, ::-1]
    best = np.take_along_axis(best, order, axis=1)
    return best, np.take_along_axis(picked, order, axis=1) >= 0


def _frame(schema: dict, chunks: list):
    """A pandas frame of per-chunk column arrays, typed when empty too."""
    import numpy as np
    import pandas as pd

    return pd.DataFrame(
        {
            name: np.concatenate([np.empty(0, dtype)] + [c[i] for c in chunks])
            for i, (name, dtype) in enumerate(schema.items())
        }
    )


def cosine_topk(qids, q, nids, nbr, k: int, entries: int):
    """Each query's top-``k`` neighbors by (cos desc, neighbor id asc)
    as a pandas frame of (query_id, neighbor_id, cos, rnk), scored in
    ``cosine_tiles``; a query with fewer than ``k`` other neighbors gets
    fewer rows."""
    import numpy as np

    chunks = []
    for lo, cos in cosine_tiles(qids, q, nids, nbr, entries):
        best, ok = top_keys(rank_keys(cos), k)
        rows, rnk = np.nonzero(ok)
        picked = best[rows, rnk]
        chunks.append((qids[lo + rows], nids[picked], cos[rows, picked], rnk + 1))
    schema = {"query_id": np.int64, "neighbor_id": np.int64, "cos": np.float64, "rnk": np.int64}
    return _frame(schema, chunks)


def cosine_pairs_above(aids, a, bids, b, threshold: float, entries: int):
    """Every pair with a_id < b_id and cos ≥ ``threshold`` as a pandas
    frame of (a_id, b_id, cos), scored in ``cosine_tiles``."""
    import numpy as np

    chunks = []
    for lo, cos in cosine_tiles(aids, a, bids, b, entries):
        ai, bi = np.nonzero((cos >= threshold) & (aids[lo : lo + len(cos), None] < bids))
        chunks.append((aids[lo + ai], bids[bi], cos[ai, bi]))
    return _frame({"a_id": np.int64, "b_id": np.int64, "cos": np.float64}, chunks)


def _block_cogroup(
    corpus: DataFrame,
    n_blocks: int,
    queries: DataFrame | None = None,
    n_query_blocks: int | None = None,
):
    """Block-matrix cogroup for exact all-pairs scoring WITHOUT a driver
    collect: vectors get a block id (vec_id mod B); each side is
    replicated so cogroup key (qblk, nblk) holds exactly the
    (query-block, neighbor-block) pair. Shuffle volume is O(N·Bq + Q·B)
    rows — pick B ≈ N / BLOCK_ROWS so each block's matrix fits an
    executor — versus O(N²) for a pair join; every (q, n) pair is
    scored exactly once, so the result is EXACT, not approximate.

    ``queries`` (default: the corpus itself) restricts the scored side
    to a query frame, partitioned into ``n_query_blocks`` blocks
    (default ``n_blocks``). A small fixed-size query frame should pass
    ``n_query_blocks=1``: the corpus is then NOT replicated at all and
    only the tiny query side fans out B ways — the sample-vs-corpus
    shape the ANN recall gates use at scale."""
    e = drop_degenerate_vectors(corpus).select("vec_id", "embedding")
    qsrc = drop_degenerate_vectors(corpus if queries is None else queries).select(
        "vec_id", "embedding"
    )
    nq = n_blocks if n_query_blocks is None else n_query_blocks
    own_n = F.pmod(F.col("vec_id"), F.lit(n_blocks)).cast("int")
    own_q = F.pmod(F.col("vec_id"), F.lit(nq)).cast("int")
    nblks = F.array(*[F.lit(i) for i in range(n_blocks)])
    qblks = F.array(*[F.lit(i) for i in range(nq)])
    q_rep = qsrc.withColumn("qblk", own_q).withColumn("nblk", F.explode(nblks))
    n_rep = e.withColumn("nblk", own_n).withColumn("qblk", F.explode(qblks))
    return q_rep.groupBy("qblk", "nblk").cogroup(n_rep.groupBy("qblk", "nblk"))


def n_blocks_for(n: int) -> int:
    """Blocks per side of the cogroup for an ``n``-row corpus: about
    ``BLOCK_ROWS`` vectors a block, and at least two, so the tiles of
    even a small corpus run as parallel tasks."""
    import math

    return max(2, math.ceil(n / BLOCK_ROWS))


def knn_blocked(
    corpus: DataFrame,
    k: int = 1,
    n_blocks: int = 4,
    queries: DataFrame | None = None,
    n_query_blocks: int | None = None,
) -> DataFrame:
    """Exact cosine top-k, a bounded partition-local top-k and a global
    merge: each cogroup task takes its (query-block × neighbor-block)
    tile through ``cosine_topk`` and emits its local top-k per query;
    the global window then merges the B candidate sets of a query. A
    candidate in the global top-k is necessarily in its tile's local
    top-k under the same (cos desc, id asc) order, so the merge loses
    nothing. Output: (query_id, neighbor_id, cos, rnk).

    ``queries``/``n_query_blocks`` restrict the scored side to a query
    frame (see ``_block_cogroup``) — with ``n_query_blocks=1`` the
    corpus streams un-replicated and nothing is broadcast, so a
    fixed-size query sample stays exact at any corpus size."""
    import pandas as pd

    entries = TILE_ENTRIES  # read here, so the plan's tasks carry it

    def score(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        qids, q = unit_rows(left["vec_id"].to_numpy(), left["embedding"])
        nids, nbr = unit_rows(right["vec_id"].to_numpy(), right["embedding"])
        return cosine_topk(qids, q, nids, nbr, k, entries).drop(columns="rnk")

    local = _block_cogroup(corpus, n_blocks, queries, n_query_blocks).applyInPandas(
        score, "query_id long, neighbor_id long, cos double"
    )
    return topk_per_query(local, k)


def cosine_pairs_blocked(
    corpus: DataFrame, threshold: float, n_blocks: int = 4
) -> DataFrame:
    """Exact (a < b, cos ≥ threshold) near-dup pairs: the same
    block-matrix cogroup, each tile emitting only its above-threshold
    upper-triangle entries (``cosine_pairs_above``). Each unordered
    pair lands in exactly one tile's upper triangle, so no dedup pass
    is needed."""
    import pandas as pd

    entries = TILE_ENTRIES  # read here, so the plan's tasks carry it

    def score(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        aids, a = unit_rows(left["vec_id"].to_numpy(), left["embedding"])
        bids, b = unit_rows(right["vec_id"].to_numpy(), right["embedding"])
        return cosine_pairs_above(aids, a, bids, b, threshold, entries)

    return _block_cogroup(corpus, n_blocks).applyInPandas(
        score, "a_id long, b_id long, cos double"
    )


def knn_exact(
    corpus: DataFrame,
    k: int = 1,
    queries: DataFrame | None = None,
    n_query_blocks: int | None = None,
    n: int | None = None,
) -> DataFrame:
    """Exact cosine top-k at any corpus size: ``knn_blocked`` with
    ``n_blocks_for(n)`` blocks. Nothing is collected or broadcast, and
    every task's cosine block is bounded by ``TILE_ENTRIES``.

    ``queries``/``n_query_blocks`` restrict the scored side to a query
    frame (the recall gates pass their fixed-count sample with
    ``n_query_blocks=1``). ``n`` lets a caller that already counted the
    corpus share that count instead of re-running the count job."""
    if n is None:
        n = corpus.count()
    return knn_blocked(
        corpus,
        k,
        n_blocks=n_blocks_for(n),
        queries=queries,
        n_query_blocks=n_query_blocks,
    )


def topk_per_query(scored: DataFrame, k: int) -> DataFrame:
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("long"))
        .where(F.col("rnk") <= k)
    )


def _plane_weights(n_planes: int, dims: int, offset: int = 0) -> list[list[float]]:
    """±1 hyperplane weights from MD5 parity of "plane|pos" — computed
    once on the driver with the exact same formula the DuckDB oracle
    evaluates (md5 hex → first 15 chars → int → parity). ``offset``
    shifts the global plane ids, giving independent tables for
    OR-amplified LSH."""
    import hashlib

    return [
        [
            1.0
            if int(hashlib.md5(f"{p}|{d}".encode()).hexdigest()[:15], 16) % 2 == 1
            else -1.0
            for d in range(dims)
        ]
        for p in range(offset, offset + n_planes)
    ]


def _lsh_input(emb: DataFrame) -> DataFrame:
    """The rows ``hyperplane_bucket`` can bucket. A NULL embedding trips
    the width assert; an EMPTY array would bucket as all-ones here while
    the oracle's UNNEST drops it, so both are excluded (zero vectors
    stay: both engines bucket them identically).

    It also fails LOUDLY if the data is wider than the literal weight
    vectors: zip_with null-pads past len(wlit), the null poisons the
    projection sum, and every plane's when() would silently fall to
    bucket bit 0 — all vectors in one bucket and a guaranteed oracle
    mismatch. The assert_true rides in a WHERE clause (never pruned as
    unused)."""
    emb = drop_null_vectors(emb).where(F.size("embedding") > 0)
    return emb.where(
        F.coalesce(
            F.assert_true(
                F.size("embedding") <= F.lit(PLANE_DIMS),
                F.lit(f"embedding wider than hyperplane dims={PLANE_DIMS}"),
            ).cast("boolean"),
            F.lit(True),
        )
    )


def hyperplane_bucket(n_planes: int, plane_offset: int) -> Column:
    """Sign-random-projection LSH bucket of the ``embedding`` column.

    Plane weights w(p,d) ∈ {±1} derive from MD5 parity of "p|d" — a
    deterministic constant baked into the plan as literal arrays, so
    the bucket is pure per-row math: for each plane a zip_with dot
    product, then Σₚ (proj ≥ 0) << p. Zero shuffles, zero joins — the
    corpus streams through whole-stage codegen once. (The previous
    shape — posexplode dims × cross-join planes — built 512 rows per
    vector and shuffled twice.) Apply it to ``_lsh_input`` rows only."""
    w = _plane_weights(n_planes, PLANE_DIMS, plane_offset)
    v = to_double(F.col("embedding"))
    bucket = F.lit(0).cast("long")
    for p in range(n_planes):
        wlit = double_array(w[p])
        proj = F.aggregate(
            F.zip_with(F.slice(wlit, F.lit(1), F.size(F.col("embedding"))), v, lambda a, b: a * b),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        bucket = bucket + F.when(proj >= 0, F.lit(1 << p)).otherwise(F.lit(0))
    return bucket.cast("long")


def hyperplane_buckets(
    emb: DataFrame, n_planes: int = N_PLANES, plane_offset: int = 0
) -> DataFrame:
    """(vec_id, bucket) per bucketable vector (see ``hyperplane_bucket``)."""
    return _lsh_input(emb).select(
        "vec_id", hyperplane_bucket(n_planes, plane_offset).alias("bucket")
    )


def ivf_codebook(emb: DataFrame, n_centroids: int) -> list:
    """The deterministic IVF codebook as driver-local rows:
    ``[(centroid_id, vector)]`` for the ``n_centroids`` lowest vec_ids.

    TRUE k-lowest ids, not ``vec_id < k`` (the shorthand under-fills
    the codebook on any non-dense id space — same fix as
    clustering.kmeans; the oracles mirror this rule with ORDER BY
    vec_id LIMIT k). At 100 TB you would train centroids offline and
    broadcast them identically — a codebook is driver-local by nature
    (K × dims doubles); collecting it here is the sanctioned
    constant-bounded class. A query derives it once and hands it to
    every ``ivf_assign`` / ``ivf_assign_probes`` call it makes."""
    rows = (
        drop_degenerate_vectors(emb)
        .select("vec_id", to_double(F.col("embedding")).alias("v"))
        .orderBy("vec_id")
        .limit(n_centroids)
        .collect()
    )
    return [(int(r.vec_id), list(r.v)) for r in rows]


def _ivf_sorted_sims(book: list):
    """Per-row ascending-sorted array of (sim, -centroid_id,
    centroid_id) structs against the LITERAL codebook — the ONE home
    for the IVF scoring + tiebreak, shared by ``ivf_assign`` and
    ``ivf_assign_probes`` so the two sides of an IVF join cannot
    silently disagree. ``element_at(-1)`` of the sorted array IS the
    (desc sim, asc centroid_id) argmax the pre-round-12 window
    computed: ascending struct order ends at the highest sim, and the
    negated id breaks sim ties toward the SMALLEST centroid_id;
    NULL sims (dimension-mismatched vectors) sort to the FRONT exactly
    as desc-NULLS-LAST ranked them out of rn = 1.

    The scoring expression is the old one — round(dot/(n · cn), 6) +
    0.0 over the same doubles — so results are bit-equal; what changed
    is the PLAN: an in-row argmax over K literal vectors instead of
    [broadcast crossJoin ×K → row_number window], removing a K·N-row
    shuffle + sort from every IVF query at any scale. The centroid
    norm cn is a compile-time CONSTANT and ships as a literal: Catalyst
    does not constant-fold higher-order functions, so a norm(cv)
    expression would re-fold each literal array per corpus row
    (round-12 review) — the Python fold below is the identical
    left-to-right IEEE sequence (acc += x·x, then sqrt) the Spark
    ``norm`` fold executes, so the literal is the same double the old
    cents-frame cn column held."""
    import math

    from velox_hadoop_spark.functions.vectors import dot

    structs = []
    for cid, vec in book:
        cv = double_array(vec)
        acc = 0.0
        for x in vec:
            acc += float(x) * float(x)
        cn = math.sqrt(acc)
        sim = F.round(
            dot(F.col("v"), cv) / (F.col("n") * F.lit(cn)), 6
        ) + F.lit(0.0)
        structs.append(
            F.struct(
                sim.alias("sim"),
                F.lit(-int(cid)).alias("neg"),
                F.lit(int(cid)).alias("cid"),
            )
        )
    return F.sort_array(F.array(*structs))


def _ivf_input(emb: DataFrame) -> DataFrame:
    from velox_hadoop_spark.functions.vectors import norm

    return (
        drop_degenerate_vectors(emb)
        .select("vec_id", to_double(F.col("embedding")).alias("v"))
        .withColumn("n", norm(F.col("v")))
    )


def ivf_assign(emb: DataFrame, book: list) -> DataFrame:
    """IVF coarse quantizer: assign every vector to its nearest centroid
    of ``book`` (from ``ivf_codebook``).

    The codebook is driver-local, so assignment is a NARROW per-row
    argmax over K literal centroid vectors: no broadcast join, no
    window, no shuffle of the corpus at all. Same scoring/tiebreak as
    always (see ``_ivf_sorted_sims``)."""
    e = _ivf_input(emb)
    if not book:
        return e.where(F.lit(False)).select(
            "vec_id", F.lit(None).cast("long").alias("centroid_id"), "v"
        )
    best = F.element_at(_ivf_sorted_sims(book), -1)
    return e.select(
        "vec_id", best["cid"].cast("long").alias("centroid_id"), "v"
    )


def ivf_probe_sims(book: list, nprobe: int) -> Column:
    """The ``nprobe`` best (sim, -centroid_id, centroid_id) structs of a
    row, best first: the reversed tail of ``_ivf_sorted_sims``, so its
    first element is ``ivf_assign``'s cell. ``book`` must be
    non-empty."""
    k = min(int(nprobe), len(book))
    return F.reverse(F.slice(_ivf_sorted_sims(book), len(book) - k + 1, k))


def ivf_assign_probes(emb: DataFrame, book: list, nprobe: int) -> DataFrame:
    """Multi-probe IVF query assignment: each vector's ``nprobe``
    nearest centroids of ``book`` with their probe rank (1 = nearest).
    Same literal-codebook scoring and tiebreak as ``ivf_assign`` — both
    are thin cuts of ``_ivf_sorted_sims``; this one reverses the sorted
    tail (best first) and explodes it with its 1-based position.
    Probing p cells multiplies the candidate set ~p×: the
    recall-vs-cost budget curve (``ann_recall_budget_curve``) measures
    what that buys."""
    e = _ivf_input(emb)
    if not book:
        return e.where(F.lit(False)).select(
            "vec_id",
            F.lit(None).cast("long").alias("centroid_id"),
            F.lit(None).cast("int").alias("probe_rank"),
        )
    return e.select(
        "vec_id", F.posexplode(ivf_probe_sims(book, nprobe)).alias("pos", "c")
    ).select(
        "vec_id",
        F.col("c.cid").cast("long").alias("centroid_id"),
        (F.col("pos") + 1).cast("int").alias("probe_rank"),
    )


# ---------------------------------------------------------------------------
# Registered queries (embeddings table)
# ---------------------------------------------------------------------------


@register(
    "ann_bruteforce_topk",
    oracle=f"""
        WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        pairs AS (
            SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
                   {_DUCK_COS} AS cos
            FROM e q JOIN e n ON n.vec_id <> q.vec_id
            WHERE q.vec_id < 10
        ),
        ranked AS (
            SELECT *, CAST(row_number() OVER (
                PARTITION BY query_id ORDER BY cos DESC, neighbor_id
            ) AS BIGINT) AS rnk
            FROM pairs
        )
        SELECT query_id, neighbor_id, cos, rnk FROM ranked WHERE rnk <= 5
    """,
    tags=("similarity", "ann", "extension"),
)
def q_ann_bruteforce_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cosine top-5 neighbors for the first 10 vectors (brute force)."""
    emb = read_table(spark, sf_dir, "embeddings")
    scored = cosine_pairs(emb.where(F.col("vec_id") < 10), emb)
    return topk_per_query(scored, 5)


@register(
    "knn_top1_all",
    oracle=f"""
        WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
              WHERE embedding IS NOT NULL AND list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[])) > 0),
        pairs AS (
            SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
                   {_DUCK_COS} AS cos
            FROM e q JOIN e n ON n.vec_id <> q.vec_id
        ),
        ranked AS (
            SELECT *, row_number() OVER (
                PARTITION BY query_id ORDER BY cos DESC, neighbor_id
            ) AS rnk
            FROM pairs
        )
        SELECT query_id, neighbor_id, cos FROM ranked WHERE rnk = 1
    """,
    tags=("similarity", "knn", "extension"),
)
def q_knn_top1_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest neighbor for every vector (embedding-cosine near-dup scan),
    exact through the block-matrix cogroup (see ``knn_exact``)."""
    emb = read_table(spark, sf_dir, "embeddings")
    return knn_exact(emb, k=1).drop("rnk")


def _duck_plane_fold(weights: list[float]) -> str:
    """Literal left-to-right projection sum for one hyperplane — the
    exact double-precision fold order the Spark in-row ``F.aggregate``
    uses (0.0 + w0·x0 + w1·x1 + …, left-associative), so the two
    engines agree bit-for-bit on the sign of a near-zero projection.
    The free-order GROUP-BY-sum oracle this replaces is the class the
    Brown-EMA flake came from: a ±1e-16 summation-order difference can
    flip ``proj >= 0`` and move a vector's bucket.

    Each term is length-guarded: Spark's fold zips the weight slice to
    the ACTUAL vector length, so on shorter-than-64 vectors (the
    degenerate-sweep corpus) the literal chain must contribute 0.0 —
    not a NULL-poisoning out-of-bounds index — past the end. Trailing
    ``+ 0.0`` terms cannot change the fold value or the ``>= 0`` sign
    (±0.0 both satisfy it), so the guard is exact."""
    return "0.0 + " + " + ".join(
        f"(CASE WHEN len(embedding) >= {d + 1} "
        f"THEN {'' if w > 0 else '-'}CAST(embedding[{d + 1}] AS DOUBLE) "
        "ELSE 0.0 END)"
        for d, w in enumerate(weights)
    )


def _duck_bucket_ctes() -> str:
    """CTE chain ``buckets(vec_id, bucket)`` shared by the bucket
    queries. Plane weights come from the SAME driver-side
    ``_plane_weights`` literals the Spark plan bakes in (md5 parity of
    "plane|pos"), and each plane's projection is a literal ordered
    fold (``_duck_plane_fold``); assumes the corpus's fixed 64-dim
    embeddings (as ``quality._rp_oracle`` already does)."""
    w = _plane_weights(N_PLANES, PLANE_DIMS)
    bits = " + ".join(
        f"(CASE WHEN ({_duck_plane_fold(w[p])}) >= 0 "
        f"THEN CAST(1 AS BIGINT) << {p} ELSE CAST(0 AS BIGINT) END)"
        for p in range(N_PLANES)
    )
    return f"""
        buckets AS (
            SELECT vec_id, CAST({bits} AS BIGINT) AS bucket
            FROM embeddings
            WHERE embedding IS NOT NULL AND len(embedding) > 0
        )
    """


def _duck_bucket_sql() -> str:
    return f"WITH {_duck_bucket_ctes()} SELECT vec_id, bucket FROM buckets"


@register(
    "embedding_lsh_buckets",
    oracle=_duck_bucket_sql(),
    tags=("similarity", "lsh", "extension"),
)
def q_embedding_lsh_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign-random-projection bucket id per vector (ANN scale path)."""
    emb = read_table(spark, sf_dir, "embeddings")
    return hyperplane_buckets(emb)


@register(
    "ann_ivf_topk",
    oracle=f"""
        WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
              WHERE embedding IS NOT NULL AND list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[])) > 0),
        cents AS (SELECT vec_id AS centroid_id, v AS cv FROM e ORDER BY vec_id LIMIT 8),
        scored AS (
            SELECT e.vec_id, c.centroid_id,
                   ROUND(list_dot_product(e.v, c.cv) /
                         (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(c.cv, c.cv))), 6) + 0.0 AS sim
            FROM e CROSS JOIN cents c
        ),
        assign AS (
            SELECT vec_id, centroid_id FROM (
                SELECT *, row_number() OVER (
                    PARTITION BY vec_id ORDER BY sim DESC, centroid_id
                ) AS rn FROM scored
            ) WHERE rn = 1
        ),
        pairs AS (
            SELECT qa.vec_id AS query_id, na.vec_id AS neighbor_id,
                   qa.centroid_id AS centroid_id, {_DUCK_COS} AS cos
            FROM assign qa
            JOIN assign na ON na.centroid_id = qa.centroid_id AND na.vec_id <> qa.vec_id
            JOIN e q ON q.vec_id = qa.vec_id
            JOIN e n ON n.vec_id = na.vec_id
        ),
        ranked AS (
            SELECT *, CAST(row_number() OVER (
                PARTITION BY query_id ORDER BY cos DESC, neighbor_id
            ) AS BIGINT) AS rnk
            FROM pairs
        )
        SELECT query_id, neighbor_id, centroid_id, cos, rnk
        FROM ranked WHERE rnk <= 3
    """,
    tags=("similarity", "ann", "ivf", "extension"),
)
def q_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN (nprobe=1): coarse-quantize every vector to its nearest
    centroid cell, then exact cosine top-3 within the query's own cell.

    The 100 TB shape: centroid assignment is a broadcast of K centroids
    (never a corpus shuffle). Candidate generation is a SALTED cogroup
    — a grouped-map keyed on centroid_id alone hands one task the whole
    cell (~N/K rows: the single-task hazard), so queries are salted
    into ``IVF_QUERY_SALTS`` slices per cell while the neighbor side is
    replicated per salt. Each task then scores |cell|/S queries against
    the full cell in ``cosine_tiles``: parallelism is K × S tasks, task
    memory is (1 + 1/S) × cell, and the result is EXACTLY the per-cell
    top-3 (the salt only partitions the query axis — every query still
    sees every cell member), so the oracle is unchanged. K (codebook
    size) and S are the two scale knobs; a real index trains K so cells
    fit a task and S soaks up what remains. Raising nprobe = unioning
    the next-nearest cells."""
    import pandas as pd

    emb = read_table(spark, sf_dir, "embeddings")
    assign = ivf_assign(emb, ivf_codebook(emb, IVF_CENTROIDS))

    qry = assign.withColumn(
        "__salt", F.pmod(F.hash("vec_id"), F.lit(IVF_QUERY_SALTS))
    )
    # fresh aliases: both cogroup sides descend from `assign`, and
    # duplicate attribute ids across left/right are ambiguous to the
    # analyzer — renaming mints new ones
    nbr = assign.select(
        F.col("vec_id").alias("n_vec_id"),
        F.col("centroid_id").alias("n_centroid_id"),
        F.col("v").alias("n_v"),
    ).withColumn(
        "__nsalt", F.explode(F.array(*[F.lit(i) for i in range(IVF_QUERY_SALTS)]))
    )
    entries = TILE_ENTRIES  # read here, so the plan's tasks carry it

    def cell_topk(qpdf: pd.DataFrame, npdf: pd.DataFrame) -> pd.DataFrame:
        # qpdf: this (cell, salt)'s query slice; npdf: the FULL cell
        qids, q = unit_rows(qpdf["vec_id"].to_numpy(), qpdf["v"])
        nids, cell = unit_rows(npdf["n_vec_id"].to_numpy(), npdf["n_v"])
        top = cosine_topk(qids, q, nids, cell, 3, entries)
        top["centroid_id"] = qpdf["centroid_id"].iloc[0] if len(top) else 0
        return top

    out_schema = "query_id long, neighbor_id long, centroid_id long, cos double, rnk long"
    return (
        qry.groupBy("centroid_id", "__salt")
        .cogroup(nbr.groupBy("n_centroid_id", "__nsalt"))
        .applyInPandas(cell_topk, out_schema)
    )


@register(
    "ann_lsh_topk",
    oracle=f"""
        WITH {_duck_bucket_ctes()},
        e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        nbrs AS (
            SELECT vec_id, bucket FROM (
                SELECT vec_id, bucket, row_number() OVER (
                    PARTITION BY bucket ORDER BY vec_id
                ) AS brn
                FROM buckets
            ) WHERE brn <= {ANN_BUCKET_CAP}
        ),
        pairs AS (
            SELECT qb.vec_id AS query_id, nb.vec_id AS neighbor_id,
                   qb.bucket AS bucket,
                   {_DUCK_COS} AS cos
            FROM buckets qb
            JOIN nbrs nb ON qb.bucket = nb.bucket AND nb.vec_id <> qb.vec_id
            JOIN e q ON q.vec_id = qb.vec_id
            JOIN e n ON n.vec_id = nb.vec_id
        ),
        ranked AS (
            SELECT *, CAST(row_number() OVER (
                PARTITION BY query_id ORDER BY cos DESC, neighbor_id
            ) AS BIGINT) AS rnk
            FROM pairs
        )
        SELECT query_id, neighbor_id, bucket, cos, rnk
        FROM ranked WHERE rnk <= 3
    """,
    tags=("similarity", "ann", "lsh", "extension"),
)
def q_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN scale path end-to-end: candidates restricted to the query's
    LSH bucket, then exact cosine re-ranking within the bucket.

    Hot-bucket cap: 8 hyperplanes give 2^8 = 256 fixed buckets, so
    the uncapped per-bucket join is Θ(N²/256)
    candidate pairs no matter how large N grows. The NEIGHBOR side of
    each bucket is therefore truncated to its first ``ANN_BUCKET_CAP``
    members by vec_id (deterministic truncation, mirrored in the
    oracle's ranked subquery) — every vector still queries, but
    per-query fanout is bounded by cap, making total candidate volume
    linear in N. The truncation rank itself is computed with the
    staged two-pass top-k (``staged_topk_per_group``) so no task ever
    sorts a whole hot bucket. N_PLANES is the recall/cost knob a real
    deployment scales with corpus size (documented parameter of
    ``hyperplane_buckets``); the cap is the hard bound that holds even
    when the planes are mis-sized for the corpus. At the test SFs
    (≤ 2k vectors / 256 buckets) the cap never binds, so results equal
    the uncapped form there; the cap-binding contract is pinned by a
    dedicated fixture test."""
    from velox_hadoop_spark.functions.staged import staged_topk_per_group

    emb = read_table(spark, sf_dir, "embeddings")
    buckets = hyperplane_buckets(emb)
    qb = buckets.select(F.col("vec_id").alias("query_id"), "bucket")
    nb = staged_topk_per_group(
        buckets, ["bucket"], ["vec_id"], ANN_BUCKET_CAP
    ).select(F.col("vec_id").alias("neighbor_id"), "bucket")
    cand = qb.join(nb, "bucket").where(F.col("neighbor_id") != F.col("query_id"))
    e_q = emb.select(F.col("vec_id").alias("query_id"), to_double(F.col("embedding")).alias("qv"))
    e_n = emb.select(F.col("vec_id").alias("neighbor_id"), to_double(F.col("embedding")).alias("nv"))
    from velox_hadoop_spark.functions.vectors import dot, norm

    scored = (
        cand.join(e_q, "query_id")
        .join(e_n, "neighbor_id")
        .withColumn("qn", norm(F.col("qv")))
        .withColumn("nn", norm(F.col("nv")))
        .select(
            "query_id",
            "neighbor_id",
            "bucket",
            (
                F.round(
                    dot(F.col("qv"), F.col("nv")) / (F.col("qn") * F.col("nn")), 6
                )
                + F.lit(0.0)
            ).alias("cos"),
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("long"))
        .where(F.col("rnk") <= 3)
    )


def label_centroids(emb: DataFrame) -> DataFrame:
    """Per-label mean vector as (label, pos, c) rows.

    posexplode → groupBy(label, pos) LOOKS like a 64× row blowup, but
    partial aggregation collapses each task's contribution to
    |labels|·dims rows before the exchange — shuffle volume is
    partitions × labels × dims regardless of corpus size."""
    dims = emb.select(
        "label",
        F.posexplode(to_double(F.col("embedding"))).alias("pos", "x"),
    )
    return dims.groupBy("label", "pos").agg(F.avg("x").alias("c"))


@register(
    "embedding_label_centroids",
    oracle="""
        WITH dims AS (
            SELECT label, CAST(i - 1 AS INTEGER) AS pos,
                   CAST(embedding[i] AS DOUBLE) AS x
            FROM embeddings
            CROSS JOIN UNNEST(generate_series(1, len(embedding))) AS t(i)
        )
        SELECT label, pos, ROUND(avg(x), 6) + 0.0 AS c
        FROM dims GROUP BY label, pos
    """,
    tags=("similarity", "profiling", "extension"),
)
def q_embedding_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean embedding per class label (embedding-space class profile)."""
    emb = read_table(spark, sf_dir, "embeddings")
    return label_centroids(emb).select(
        "label", "pos", (F.round("c", 6) + F.lit(0.0)).alias("c")
    )


@register(
    "embedding_outliers",
    oracle="""
        WITH dims AS (
            SELECT vec_id, label, i - 1 AS pos, CAST(embedding[i] AS DOUBLE) AS x
            FROM embeddings
            CROSS JOIN UNNEST(generate_series(1, len(embedding))) AS t(i)
        ),
        cent AS (
            SELECT label, pos, floor(avg(x) * 1e9 + 0.5) / 1e9 AS c
            FROM dims GROUP BY label, pos
        ),
        dist AS (
            SELECT d.vec_id, d.label,
                   ROUND(sqrt(CAST(sum(CAST(floor(
                       (d.x - c.c) * (d.x - c.c) * 1e12 + 0.5
                   ) AS BIGINT)) AS DOUBLE) / 1e12), 6) AS dist
            FROM dims d JOIN cent c ON d.label = c.label AND d.pos = c.pos
            GROUP BY d.vec_id, d.label
        )
        SELECT vec_id, label, dist, rnk FROM (
            SELECT *, CAST(row_number() OVER (
                PARTITION BY label ORDER BY dist DESC, vec_id
            ) AS BIGINT) AS rnk
            FROM dist
        ) WHERE rnk <= 5
    """,
    tags=("similarity", "profiling", "outliers", "extension"),
)
def q_embedding_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-QA outlier scan: the 5 vectors farthest (L2) from their
    own label centroid, per label. Centroid table is labels × dims rows
    — broadcast back onto the per-dimension stream; the per-vector
    distance aggregate combines map-side (vector dims are co-located
    after posexplode), so one tiny shuffle row per vector.

    The ranking key is built from ORDER-INDEPENDENT integers: the
    centroid is pinned to a 1e-9 grid and each per-dimension squared
    term to a 1e-12 grid BEFORE the cross-dimension sum (exact BIGINT
    addition in both engines), so a ±1e-16 summation-order difference
    between Spark's partial aggregation and DuckDB's scan order can no
    longer flip the ROUND-6 top-5 membership — the free-order double
    sum this replaces was the last ranking key in the cancellation
    class the Brown-EMA flake came from. Terms are < 4e12 on unit-ish
    embeddings, so a 64-dim sum stays far inside BIGINT."""
    from pyspark.sql import Window

    emb = read_table(spark, sf_dir, "embeddings")
    dims = emb.select(
        "vec_id",
        "label",
        F.posexplode(to_double(F.col("embedding"))).alias("pos", "x"),
    )
    cent = label_centroids(emb).select(
        "label",
        "pos",
        (F.floor(F.col("c") * F.lit(1e9) + F.lit(0.5)) / F.lit(1e9)).alias("c"),
    )
    d2 = (F.col("x") - F.col("c")) * (F.col("x") - F.col("c"))
    dist = (
        dims.join(F.broadcast(cent), ["label", "pos"])
        .groupBy("vec_id", "label")
        .agg(
            F.round(
                F.sqrt(
                    F.sum(F.floor(d2 * F.lit(1e12) + F.lit(0.5))).cast("double")
                    / F.lit(1e12)
                ),
                6,
            ).alias("dist")
        )
    )
    w = Window.partitionBy("label").orderBy(F.desc("dist"), F.asc("vec_id"))
    return (
        dist.withColumn("rnk", F.row_number().over(w).cast("long"))
        .where(F.col("rnk") <= 5)
    )


def embedding_norms_arrow(emb: DataFrame) -> DataFrame:
    """Per-vector L2 norm through ``mapInArrow`` — the zero-copy Arrow
    RecordBatch surface (the lowest-overhead Python boundary Spark
    offers: no pandas materialization, numpy views straight over Arrow
    buffers). The JVM builtins in ``functions/vectors.py`` stay the
    default for this math; this operator pins the mapInArrow plumbing
    (batch iteration, list-array handling, schema contract) for kernels
    that genuinely need Python, and the oracle cross-checks the
    boundary end-to-end.
    """
    import numpy as np
    import pyarrow as pa

    def kernel(batches):
        for batch in batches:
            tbl = pa.table(
                {
                    "vec_id": batch.column("vec_id"),
                    "l2_norm": [
                        float(round_half_away(np.sqrt(np.dot(v, v)), 4))
                        for v in batch.column("embedding").to_pylist()
                    ],
                }
            )
            for out in tbl.to_batches():
                yield out

    # empty arrays drop too: np gives norm([]) = 0.0 while DuckDB's
    # list_sum of an empty list is NULL — "norm of nothing" is undefined
    return drop_null_vectors(emb).where(F.size("embedding") > 0).select(
        "vec_id", to_double(F.col("embedding")).alias("embedding")
    ).mapInArrow(kernel, "vec_id long, l2_norm double")


@register(
    "embedding_norms_arrow",
    oracle="""
        SELECT vec_id,
               ROUND(sqrt(list_sum(list_transform(embedding,
                     x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 4) AS l2_norm
        FROM embeddings
        WHERE embedding IS NOT NULL AND len(embedding) > 0
    """,
    tags=("similarity", "mapInArrow", "udf", "extension"),
)
def q_embedding_norms_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2 norm per embedding via the Arrow RecordBatch boundary."""
    emb = read_table(spark, sf_dir, "embeddings")
    return embedding_norms_arrow(emb)


@register(
    "embedding_quantize_int8",
    # Scalar int8 quantization QA: per-vector min/max-scaled uint8
    # codes, reconstructed in-plan; the emitted reconstruction-error
    # stats bound the storage-compression loss (4x smaller vectors at
    # 100 TB). All arithmetic is per-element and order-free, so the
    # two engines compute bit-identical doubles before rounding.
    oracle="""
        WITH v AS (
            SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
            FROM embeddings
            WHERE embedding IS NOT NULL AND len(embedding) > 0
        ),
        scaled AS (
            SELECT vec_id, e,
                   list_min(e) AS lo,
                   greatest((list_max(e) - list_min(e)) / 255.0, 1e-12) AS scale
            FROM v
        ),
        rec AS (
            SELECT vec_id,
                   list_transform(
                       list_zip(e, list_transform(e, x -> floor((x - lo) / scale + 0.5) * scale + lo)),
                       p -> abs(p[1] - p[2])
                   ) AS errs
            FROM scaled
        )
        SELECT vec_id,
               ROUND(list_max(errs), 6) AS max_abs_err,
               ROUND(list_sum(errs) / len(errs), 6) AS mean_abs_err
        FROM rec
    """,
    tags=("similarity", "quantization", "compression", "extension"),
)
def q_embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 scalar-quantization reconstruction error per embedding.

    Numpy kernel over ``mapInPandas``: zero shuffles (each Arrow batch
    quantizes independently) and vectorized math. The pure-expression
    form (transform/aggregate HOFs) is also zero-shuffle but those
    lambdas evaluate interpreted with the array_min/max inlined per
    element — measured ~8× slower; per-element IEEE arithmetic is
    identical either way, so the oracle is unaffected."""
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            mat = np.array(pdf["embedding"].tolist(), dtype=np.float64)
            lo = mat.min(axis=1, keepdims=True)
            scale = np.maximum((mat.max(axis=1, keepdims=True) - lo) / 255.0, 1e-12)
            rec = np.floor((mat - lo) / scale + 0.5) * scale + lo
            err = np.abs(mat - rec)
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"].to_numpy(),
                    "max_abs_err": round_half_away(err.max(axis=1), 6),
                    # cumsum, not sum: np.sum's PAIRWISE association can
                    # differ from DuckDB's sequential list_sum by ~1e-15
                    # — enough to flip the 6th decimal at a rounding
                    # boundary; cumsum accumulates left-to-right like
                    # the oracle (max is order-free)
                    "mean_abs_err": round_half_away(
                        err.cumsum(axis=1)[:, -1] / err.shape[1], 6
                    ),
                }
            )

    emb = read_table(spark, sf_dir, "embeddings")
    # empty arrays drop: a zero-column matrix crashes max(axis=1)
    return drop_null_vectors(emb).where(F.size("embedding") > 0).select(
        "vec_id", to_double(F.col("embedding")).alias("embedding")
    ).mapInPandas(kernel, "vec_id long, max_abs_err double, mean_abs_err double")


@register(
    "centroid_separation_matrix",
    oracle="""
        WITH dims AS (
            SELECT label, i - 1 AS pos, CAST(embedding[i] AS DOUBLE) AS x
            FROM embeddings
            CROSS JOIN UNNEST(generate_series(1, len(embedding))) AS t(i)
        ),
        cent AS (SELECT label, pos, avg(x) AS c FROM dims GROUP BY label, pos),
        norms AS (SELECT label, sqrt(sum(c * c)) AS n FROM cent GROUP BY label),
        dots AS (
            SELECT a.label AS label_a, b.label AS label_b, sum(a.c * b.c) AS dot
            FROM cent a JOIN cent b ON a.pos = b.pos AND a.label < b.label
            GROUP BY a.label, b.label
        )
        SELECT label_a, label_b,
               ROUND(dot / (na.n * nb.n), 6) + 0.0 AS cos
        FROM dots
        JOIN norms na ON dots.label_a = na.label
        JOIN norms nb ON dots.label_b = nb.label
    """,
    tags=("similarity", "profiling", "extension"),
)
def q_centroid_separation_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise cosine between class centroids — the embedding-space
    class-separability report (near-1 pairs flag label confusion or
    collapsed representations; the monitoring companion to the per-item
    outlier scan).

    Everything after the one centroid aggregate operates on
    |labels| × dims rows: the dimension-aligned self-join and both norm
    joins are broadcast-sized at any corpus scale.
    """
    emb = read_table(spark, sf_dir, "embeddings")
    cent = label_centroids(emb)
    norms = cent.groupBy("label").agg(F.sqrt(F.sum(F.col("c") * F.col("c"))).alias("n"))
    a = cent.select(F.col("label").alias("label_a"), "pos", F.col("c").alias("ca"))
    b = cent.select(F.col("label").alias("label_b"), "pos", F.col("c").alias("cb"))
    dots = (
        a.join(b, "pos")
        .where(F.col("label_a") < F.col("label_b"))
        .groupBy("label_a", "label_b")
        .agg(F.sum(F.col("ca") * F.col("cb")).alias("dot"))
    )
    na = norms.select(F.col("label").alias("label_a"), F.col("n").alias("na"))
    nb = norms.select(F.col("label").alias("label_b"), F.col("n").alias("nb"))
    return (
        dots.join(F.broadcast(na), "label_a")
        .join(F.broadcast(nb), "label_b")
        .select(
            "label_a",
            "label_b",
            (
                F.round(F.col("dot") / (F.col("na") * F.col("nb")), 6) + F.lit(0.0)
            ).alias("cos"),
        )
    )


# ---------------------------------------------------------------------------
# ANN quality gate: recall@k of the LSH scale path vs exact top-k
# ---------------------------------------------------------------------------

_RECALL_K = 3
# Fixed-COUNT deterministic query sample: the first N vec_ids in md5
# order. A proportional sample (the old vec_id % 20) grows with the
# corpus — at 100 TB it outgrows any broadcast/driver budget and makes
# the exact baseline O(0.05·N²); a fixed count keeps the audit cost
# O(SAMPLE·N) forever. md5 order is corpus-order-independent and
# bias-free (ids may correlate with ingest time; their hashes don't).
_RECALL_SAMPLE_N = 1000
_DUCK_QS_CTE = (
    "qs AS (SELECT vec_id FROM embeddings "
    f"WHERE embedding IS NOT NULL AND {DUCK_FINITE_VECTOR} "
    f"ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT {_RECALL_SAMPLE_N})"
)


def recall_query_sample(emb: DataFrame) -> DataFrame:
    """The shared fixed-count query sample of the three recall gates —
    identical derivation to the oracle's ``qs`` CTE (md5-of-decimal-id
    order, id tiebreak, LIMIT N)."""
    return drop_degenerate_vectors(emb).orderBy(
        F.md5(F.col("vec_id").cast("string")), F.col("vec_id")
    ).limit(_RECALL_SAMPLE_N)


def recall_frame_if_fits(frame: DataFrame):
    """The driver regime's one collect. ``frame`` is a gate's narrow
    (vec_id, index keys, ``v`` = embedding as doubles) frame over the
    degenerate-filtered corpus (the oracles' ``e`` CTE); it comes back
    as pandas, with the md5 sample key ``qkey``, when it holds at most
    ``DRIVER_BROADCAST_ROWS`` rows, else as None and the gate takes its
    distributed path. ``limit(cap + 1)`` is the size probe
    (``graph.connected_components``' shape), so the driver never holds
    more than cap + 1 rows."""
    pdf = (
        frame.withColumn("qkey", F.md5(F.col("vec_id").cast("string")))
        .limit(DRIVER_BROADCAST_ROWS + 1)
        .toPandas()
    )
    return pdf if len(pdf) <= DRIVER_BROADCAST_ROWS else None


def driver_recall(pdf, sample_n: int, arms: list):
    """Recall@k of each approximate arm against the exact top-k, scored
    on the driver from ``recall_frame_if_fits``'s frame: one pandas row
    per arm of (n_queries, n_exact, n_hits, recall).

    The sample is ``recall_query_sample``'s rule (md5 key, then vec_id,
    first ``sample_n``). An arm is a (query keys, neighbor keys) pair of columns, one
    entry per ``pdf`` row: a key or an array of keys. A neighbor is a
    candidate of a query when a query key equals the neighbor key in
    the same position, a lone neighbor key meeting every query key:
    same cell, same bucket in some table, or cell among the query's
    probes.

    The sample's rows go through ``cosine_tiles`` against the whole
    corpus, and every top-k, exact or approximate, is ``top_keys`` on
    the chunk's ``rank_keys`` (an arm's non-candidates set to -1): all
    of them see the same cosine for a pair and order by (cos desc,
    neighbor_id asc). Recall is the
    integer ratio floor-rounded at 6 dp, NULL on an empty exact
    baseline like the oracles."""
    import math

    import numpy as np
    import pandas as pd

    order = np.argsort(pdf["vec_id"].to_numpy(), kind="stable")
    n = len(order)
    totals = np.zeros((len(arms), 3), dtype=np.int64)
    if n:
        ids, mat_n = unit_rows(pdf["vec_id"].to_numpy(), pdf["v"])

        def keys(col):  # one row of keys per vector, in vec_id order
            a = np.asarray(col)
            return (np.stack(a) if a.dtype == object else a).reshape(n, -1)[order]

        keyed = [(keys(q), keys(c)) for q, c in arms]
        qkey = pdf["qkey"].to_numpy()[order].astype(str)
        sample = np.sort(np.lexsort((ids, qkey))[:sample_n])
        for lo, cos in cosine_tiles(ids[sample], mat_n[sample], ids, mat_n, TILE_ENTRIES):
            rows = sample[lo : lo + len(cos)]
            key = rank_keys(cos)
            exact, exact_ok = top_keys(key, _RECALL_K)
            totals[:, 0] += exact_ok.any(axis=1).sum()
            totals[:, 1] += exact_ok.sum()
            for a, (q, c) in enumerate(keyed):
                cand = (q[rows][:, None, :] == c[None, :, :]).any(axis=2)
                approx, approx_ok = top_keys(np.where(cand, key, -1), _RECALL_K)
                same = exact[:, :, None] == approx[:, None, :]
                totals[a, 2] += (same & exact_ok[:, :, None] & approx_ok[:, None, :]).sum()
    return pd.DataFrame(
        {
            "n_queries": totals[:, 0],
            "n_exact": totals[:, 1],
            "n_hits": totals[:, 2],
            "recall": [
                math.floor(h / e * 1e6 + 0.5) / 1e6 if e else None
                for e, h in totals[:, 1:]
            ],
        }
    )


RECALL_SCHEMA = "n_queries long, n_exact long, n_hits long, recall double"


def recall_ground_truth(spark: SparkSession, emb: DataFrame):
    """(n, exact_top) for the shared recall-gate sample on the
    distributed path (corpus above ``DRIVER_BROADCAST_ROWS``): the exact
    baseline streams the corpus through the blocked cogroup
    un-replicated, and its ≤ _RECALL_SAMPLE_N × _RECALL_K id pairs (a
    bound fixed by module constants, never SF-proportional) come back
    as an Arrow local relation, whose known size lets the recall join
    in ``_recall_vs_exact`` broadcast it."""
    n = emb.count()
    top = knn_exact(
        emb,
        _RECALL_K,
        queries=recall_query_sample(emb),
        n_query_blocks=1,
        n=n,
    ).select("query_id", "neighbor_id")
    return n, spark.createDataFrame(top.toPandas(), "query_id long, neighbor_id long")


def _score_candidates(emb, cand):
    """Exact cosine re-rank for a (query_id, neighbor_id) candidate
    frame via the expression join path — the over-budget fallback of
    ``score_pairs_exact``. Both vector sides are degenerate-filtered,
    mirroring the oracles' finite-vector ``e`` CTE (a NULL/empty/zero
    neighbor never reaches the ranking; unguarded it would cos as NaN,
    which Spark sorts ABOVE every number in the top-k window)."""
    from velox_hadoop_spark.functions.vectors import dot, norm

    e = drop_degenerate_vectors(emb)
    e_q = e.select(
        F.col("vec_id").alias("query_id"), to_double(F.col("embedding")).alias("qv")
    ).withColumn("qn", norm(F.col("qv")))
    e_n = e.select(
        F.col("vec_id").alias("neighbor_id"), to_double(F.col("embedding")).alias("nv")
    ).withColumn("nn", norm(F.col("nv")))
    return (
        cand.join(e_q, "query_id")
        .join(e_n, "neighbor_id")
        .select(
            "query_id",
            "neighbor_id",
            (
                F.round(
                    dot(F.col("qv"), F.col("nv")) / (F.col("qn") * F.col("nn")), 6
                )
                + F.lit(0.0)
            ).alias("cos"),
        )
    )


def score_pairs_exact(
    corpus: DataFrame,
    cand: DataFrame,
    driver_broadcast_rows: int = DRIVER_BROADCAST_ROWS,
    n: int | None = None,
) -> DataFrame:
    """Exact cosine for a bounded (query_id, neighbor_id) candidate
    frame, switched on the corpus size ``n`` like the recall gates.

    Below the driver budget the normalized corpus matrix is broadcast
    once and each Arrow batch of id pairs resolves both sides by binary
    search into it — one vectorized row-wise dot per batch, no join, no
    per-pair lambda evaluation (the zip_with/aggregate expression dot is
    interpreted per element, ~10× slower on a dense candidate set).
    Past the budget it falls back to ``_score_candidates`` — a plain
    pair join that shuffles only the candidate frame, which every
    caller bounds by construction (sample × bucket). Pairs whose either
    side is degenerate (NULL/empty/zero vector) drop in BOTH regimes,
    matching the oracle's finite-vector CTE.

    ``n`` shares a caller's count, as in ``knn_exact``."""
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    if n is None:
        n = corpus.count()
    if n > driver_broadcast_rows:
        return _score_candidates(corpus, cand)
    vecs = drop_degenerate_vectors(corpus).select("vec_id", "embedding").toPandas()
    # only the normalized matrix ships; the raw one is never broadcast
    bc = corpus.sparkSession.sparkContext.broadcast(
        unit_rows(vecs["vec_id"].to_numpy(), vecs["embedding"])
    )

    def score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        sids, smat = bc.value
        hi = len(sids)
        for pdf in batches:
            q = pdf["query_id"].to_numpy()
            m = pdf["neighbor_id"].to_numpy()
            qi = np.searchsorted(sids, q)
            ni = np.searchsorted(sids, m)
            valid = (qi < hi) & (ni < hi)
            qi_c = np.minimum(qi, max(hi - 1, 0))
            ni_c = np.minimum(ni, max(hi - 1, 0))
            if hi:
                valid &= (sids[qi_c] == q) & (sids[ni_c] == m)
            else:
                valid &= False
            qv = smat[qi_c[valid]]
            nv = smat[ni_c[valid]]
            cos = round_half_away(np.einsum("ij,ij->i", qv, nv), 6)
            yield pd.DataFrame(
                {"query_id": q[valid], "neighbor_id": m[valid], "cos": cos}
            )

    return cand.select("query_id", "neighbor_id").mapInPandas(
        score, "query_id long, neighbor_id long, cos double"
    )


def _recall_vs_exact(emb, cand, gt):
    """(n_queries, n_exact, n_hits, recall) of an approximate
    candidate-pair frame against the exact sample top-k — the
    distributed tail of every recall gate, for corpora above
    ``DRIVER_BROADCAST_ROWS``. Recall is a ratio of integer counts,
    floor-rounded at 6 dp.

    ``gt`` is the (n, exact_top) pair from ``recall_ground_truth``: the
    candidate re-rank shares its size probe, and the exact baseline is
    a ~3k-row local relation, so the recall semi-join broadcasts it.
    Nothing SF-proportional is broadcast or collected, so the audit
    stays exact at any scale."""
    n, exact_top = gt
    approx_top = topk_per_query(
        score_pairs_exact(emb, cand, driver_broadcast_rows=DRIVER_BROADCAST_ROWS, n=n),
        _RECALL_K,
    ).select("query_id", "neighbor_id")
    hits = exact_top.join(approx_top, ["query_id", "neighbor_id"], "left_semi")
    stats = exact_top.agg(
        F.countDistinct("query_id").alias("n_queries"),
        F.count("*").alias("n_exact"),
    )
    nh = hits.agg(F.count("*").alias("n_hits"))
    return stats.crossJoin(F.broadcast(nh)).select(
        "n_queries",
        "n_exact",
        "n_hits",
        # empty exact baseline (empty/all-degenerate corpus) must report
        # NULL recall like the oracle — ANSI double division by zero
        # raises where DuckDB yields NULL
        F.when(
            F.col("n_exact") > 0,
            F.floor(
                F.col("n_hits") / F.col("n_exact").cast("double") * F.lit(1e6)
                + F.lit(0.5)
            )
            / F.lit(1e6),
        ).alias("recall"),
    )


@register(
    "ann_lsh_recall_at_k",
    oracle=f"""
        WITH {_duck_bucket_ctes()},
        e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
              WHERE embedding IS NOT NULL AND list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[])) > 0),
        {_DUCK_QS_CTE},
        exact_pairs AS (
            SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id, {_DUCK_COS} AS cos
            FROM e q JOIN qs ON q.vec_id = qs.vec_id
            JOIN e n ON n.vec_id <> q.vec_id
        ),
        exact_top AS (
            SELECT query_id, neighbor_id FROM (
                SELECT *, row_number() OVER (
                    PARTITION BY query_id ORDER BY cos DESC, neighbor_id
                ) AS rnk FROM exact_pairs
            ) WHERE rnk <= {_RECALL_K}
        ),
        lsh_pairs AS (
            SELECT qb.vec_id AS query_id, nb.vec_id AS neighbor_id, {_DUCK_COS} AS cos
            FROM buckets qb
            JOIN qs ON qb.vec_id = qs.vec_id
            JOIN buckets nb ON qb.bucket = nb.bucket AND nb.vec_id <> qb.vec_id
            JOIN e q ON q.vec_id = qb.vec_id
            JOIN e n ON n.vec_id = nb.vec_id
        ),
        lsh_top AS (
            SELECT query_id, neighbor_id FROM (
                SELECT *, row_number() OVER (
                    PARTITION BY query_id ORDER BY cos DESC, neighbor_id
                ) AS rnk FROM lsh_pairs
            ) WHERE rnk <= {_RECALL_K}
        )
        SELECT CAST((SELECT count(DISTINCT query_id) FROM exact_top) AS BIGINT) AS n_queries,
               CAST((SELECT count(*) FROM exact_top) AS BIGINT) AS n_exact,
               CAST((SELECT count(*) FROM exact_top t
                     JOIN lsh_top l ON t.query_id = l.query_id
                                   AND t.neighbor_id = l.neighbor_id) AS BIGINT) AS n_hits,
               FLOOR((SELECT count(*) FROM exact_top t
                      JOIN lsh_top l ON t.query_id = l.query_id
                                    AND t.neighbor_id = l.neighbor_id)
                     / CAST((SELECT count(*) FROM exact_top) AS DOUBLE) * 1e6 + 0.5) / 1e6
                   AS recall
    """,
    tags=("similarity", "ann", "lsh", "quality-gate", "extension"),
)
def q_ann_lsh_recall_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@3 of the hyperplane-LSH ANN path against exact top-3 on
    the fixed-count md5-order query sample (``recall_query_sample``) —
    the measurable quality gate every approximate index needs before it
    replaces the exact path.

    Production shape: the exact side scores SAMPLE × corpus (a quality
    audit is always sample-based — never all-pairs) through the guarded
    dgemm kernels, so the audit stays O(sample·N) at any corpus size;
    the LSH side is the per-bucket equi-join the scale path already
    uses, filtered to the same sample; the recall join is
    sample-top-k-sized. Recall is a ratio of integer counts — one
    engine-order-independent division, floor-rounded in both engines.

    On this corpus the gate reads LOW (~2.5% at sf0.01) and that is the
    point: the synthetic embeddings are near-isotropic, so a single
    8-plane table slices the sphere into 256 cells whose occupants are
    barely correlated with cosine rank — exactly the failure mode a
    recall gate exists to expose before an index replaces the exact
    path. The standard fix is OR-amplification across tables
    (``ann_multiprobe_recall``), which trades candidate volume for
    recall.

    Below ``DRIVER_BROADCAST_ROWS`` the buckets and vectors come back in
    one collect and ``driver_recall`` scores the sample on the driver;
    above it the plan below runs."""
    emb = read_table(spark, sf_dir, "embeddings")
    pdf = recall_frame_if_fits(
        _lsh_input(drop_degenerate_vectors(emb)).select(
            "vec_id",
            hyperplane_bucket(N_PLANES, 0).alias("bucket"),
            to_double(F.col("embedding")).alias("v"),
        )
    )
    if pdf is not None:
        arms = [(pdf["bucket"], pdf["bucket"])]
        return spark.createDataFrame(
            driver_recall(pdf, _RECALL_SAMPLE_N, arms), RECALL_SCHEMA
        )
    sample = recall_query_sample(emb)
    buckets = hyperplane_buckets(emb)
    qb = (
        buckets.join(
            sample.select("vec_id"), "vec_id", "left_semi"
        ).select(F.col("vec_id").alias("query_id"), "bucket")
    )
    nb = buckets.select(F.col("vec_id").alias("neighbor_id"), "bucket")
    cand = qb.join(nb, "bucket").where(F.col("neighbor_id") != F.col("query_id"))
    return _recall_vs_exact(emb, cand, recall_ground_truth(spark, emb))


_AMP_TABLES = 4        # OR-amplification: number of independent tables
_AMP_PLANES = 4        # planes per table (16 buckets each)
_AMP_STRIDE = 100      # global plane-id stride separating tables


def _duck_multitable_cte(tables: int, planes: int, stride: int) -> str:
    """CTE ``tbuckets(vec_id, tbl, bucket)`` — the OR-amplified twin of
    ``_duck_bucket_ctes`` (plane ids offset by ``tbl * stride`` so
    every table's hyperplanes are independent). Same literal ordered
    folds from the shared ``_plane_weights`` derivation, one UNION ALL
    branch per table."""
    branches = []
    for tbl in range(tables):
        w = _plane_weights(planes, PLANE_DIMS, offset=tbl * stride)
        bits = " + ".join(
            f"(CASE WHEN ({_duck_plane_fold(w[j])}) >= 0 "
            f"THEN CAST(1 AS BIGINT) << {j} ELSE CAST(0 AS BIGINT) END)"
            for j in range(planes)
        )
        branches.append(
            f"SELECT vec_id, CAST({tbl} AS BIGINT) AS tbl, CAST({bits} AS BIGINT) AS bucket "
            "FROM embeddings "
            "WHERE embedding IS NOT NULL AND len(embedding) > 0"
        )
    body = " UNION ALL ".join(branches)
    return f"""
        tbuckets AS (
            {body}
        )
    """


@register(
    "ann_multiprobe_recall",
    oracle=f"""
        WITH {_duck_multitable_cte(_AMP_TABLES, _AMP_PLANES, _AMP_STRIDE)},
        e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
              WHERE embedding IS NOT NULL AND list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[])) > 0),
        {_DUCK_QS_CTE},
        exact_pairs AS (
            SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id, {_DUCK_COS} AS cos
            FROM e q JOIN qs ON q.vec_id = qs.vec_id
            JOIN e n ON n.vec_id <> q.vec_id
        ),
        exact_top AS (
            SELECT query_id, neighbor_id FROM (
                SELECT *, row_number() OVER (
                    PARTITION BY query_id ORDER BY cos DESC, neighbor_id
                ) AS rnk FROM exact_pairs
            ) WHERE rnk <= {_RECALL_K}
        ),
        cand AS (
            SELECT DISTINCT qb.vec_id AS query_id, nb.vec_id AS neighbor_id
            FROM tbuckets qb
            JOIN qs ON qb.vec_id = qs.vec_id
            JOIN tbuckets nb ON qb.tbl = nb.tbl AND qb.bucket = nb.bucket
                            AND nb.vec_id <> qb.vec_id
        ),
        lsh_pairs AS (
            SELECT c.query_id, c.neighbor_id, {_DUCK_COS} AS cos
            FROM cand c
            JOIN e q ON q.vec_id = c.query_id
            JOIN e n ON n.vec_id = c.neighbor_id
        ),
        lsh_top AS (
            SELECT query_id, neighbor_id FROM (
                SELECT *, row_number() OVER (
                    PARTITION BY query_id ORDER BY cos DESC, neighbor_id
                ) AS rnk FROM lsh_pairs
            ) WHERE rnk <= {_RECALL_K}
        )
        SELECT CAST((SELECT count(DISTINCT query_id) FROM exact_top) AS BIGINT) AS n_queries,
               CAST((SELECT count(*) FROM exact_top) AS BIGINT) AS n_exact,
               CAST((SELECT count(*) FROM exact_top t
                     JOIN lsh_top l ON t.query_id = l.query_id
                                   AND t.neighbor_id = l.neighbor_id) AS BIGINT) AS n_hits,
               FLOOR((SELECT count(*) FROM exact_top t
                      JOIN lsh_top l ON t.query_id = l.query_id
                                    AND t.neighbor_id = l.neighbor_id)
                     / CAST((SELECT count(*) FROM exact_top) AS DOUBLE) * 1e6 + 0.5) / 1e6
                   AS recall
    """,
    tags=("similarity", "ann", "lsh", "amplification", "quality-gate", "extension"),
)
def q_ann_multiprobe_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@3 of OR-amplified LSH (4 independent 4-plane tables,
    candidates = union of same-bucket pairs over tables) on the same
    fixed-count query sample as ``ann_lsh_recall_at_k`` — the standard
    recall lever:
    coarser tables raise per-table collision probability, the OR across
    tables compounds it, and the exact re-rank keeps precision. The
    amplified index trades ~T× candidate volume for recall, and this
    gate MEASURES the trade so the choice of (tables, planes) is
    data-driven, not vibes-driven.

    Plan shape per table is identical to the single-table scale path
    (in-row bucket computation, per-(table, bucket) equi-join); the
    union adds a branch per table over the same bucket frame, and
    everything downstream is candidate-bounded. Below
    ``DRIVER_BROADCAST_ROWS`` one collect carries every table's bucket
    and ``driver_recall`` scores on the driver instead."""
    emb = read_table(spark, sf_dir, "embeddings")
    names = [f"b{t}" for t in range(_AMP_TABLES)]
    pdf = recall_frame_if_fits(
        _lsh_input(drop_degenerate_vectors(emb)).select(
            "vec_id",
            *[
                hyperplane_bucket(_AMP_PLANES, t * _AMP_STRIDE).alias(name)
                for t, name in enumerate(names)
            ],
            to_double(F.col("embedding")).alias("v"),
        )
    )
    if pdf is not None:
        arms = [(pdf[names], pdf[names])]
        return spark.createDataFrame(
            driver_recall(pdf, _RECALL_SAMPLE_N, arms), RECALL_SCHEMA
        )
    sample = recall_query_sample(emb)
    tbuckets = None
    for t in range(_AMP_TABLES):
        b = hyperplane_buckets(
            emb, n_planes=_AMP_PLANES, plane_offset=t * _AMP_STRIDE
        ).withColumn("tbl", F.lit(t))
        tbuckets = b if tbuckets is None else tbuckets.unionByName(b)
    # (measured round 11: persisting tbuckets here reads 3.4 -> 4.5 s
    # warm — the materialization barrier costs more than re-evaluating
    # the plane folds, which pipeline freely in both branches)
    qb = tbuckets.join(sample.select("vec_id"), "vec_id", "left_semi").select(
        F.col("vec_id").alias("query_id"), "tbl", "bucket"
    )
    nb = tbuckets.select(F.col("vec_id").alias("neighbor_id"), "tbl", "bucket")
    cand = (
        qb.join(nb, ["tbl", "bucket"])
        .where(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id")
        .distinct()
    )
    return _recall_vs_exact(emb, cand, recall_ground_truth(spark, emb))


@register(
    "ann_ivf_recall",
    oracle=f"""
        WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
              WHERE embedding IS NOT NULL AND list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[])) > 0),
        {_DUCK_QS_CTE},
        cents AS (SELECT vec_id AS centroid_id, v AS cv FROM e ORDER BY vec_id LIMIT 8),
        scored AS (
            SELECT e.vec_id, c.centroid_id,
                   ROUND(list_dot_product(e.v, c.cv) /
                         (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(c.cv, c.cv))), 6) + 0.0 AS sim
            FROM e CROSS JOIN cents c
        ),
        assign AS (
            SELECT vec_id, centroid_id FROM (
                SELECT *, row_number() OVER (
                    PARTITION BY vec_id ORDER BY sim DESC, centroid_id
                ) AS rn FROM scored
            ) WHERE rn = 1
        ),
        exact_pairs AS (
            SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id, {_DUCK_COS} AS cos
            FROM e q JOIN qs ON q.vec_id = qs.vec_id
            JOIN e n ON n.vec_id <> q.vec_id
        ),
        exact_top AS (
            SELECT query_id, neighbor_id FROM (
                SELECT *, row_number() OVER (
                    PARTITION BY query_id ORDER BY cos DESC, neighbor_id
                ) AS rnk FROM exact_pairs
            ) WHERE rnk <= {_RECALL_K}
        ),
        ivf_pairs AS (
            SELECT qa.vec_id AS query_id, na.vec_id AS neighbor_id, {_DUCK_COS} AS cos
            FROM assign qa
            JOIN qs ON qa.vec_id = qs.vec_id
            JOIN assign na ON na.centroid_id = qa.centroid_id AND na.vec_id <> qa.vec_id
            JOIN e q ON q.vec_id = qa.vec_id
            JOIN e n ON n.vec_id = na.vec_id
        ),
        ivf_top AS (
            SELECT query_id, neighbor_id FROM (
                SELECT *, row_number() OVER (
                    PARTITION BY query_id ORDER BY cos DESC, neighbor_id
                ) AS rnk FROM ivf_pairs
            ) WHERE rnk <= {_RECALL_K}
        )
        SELECT CAST((SELECT count(DISTINCT query_id) FROM exact_top) AS BIGINT) AS n_queries,
               CAST((SELECT count(*) FROM exact_top) AS BIGINT) AS n_exact,
               CAST((SELECT count(*) FROM exact_top t
                     JOIN ivf_top l ON t.query_id = l.query_id
                                   AND t.neighbor_id = l.neighbor_id) AS BIGINT) AS n_hits,
               FLOOR((SELECT count(*) FROM exact_top t
                      JOIN ivf_top l ON t.query_id = l.query_id
                                    AND t.neighbor_id = l.neighbor_id)
                     / CAST((SELECT count(*) FROM exact_top) AS DOUBLE) * 1e6 + 0.5) / 1e6
                   AS recall
    """,
    tags=("similarity", "ann", "ivf", "quality-gate", "extension"),
)
def q_ann_ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@3 of the IVF (nprobe=1) path on the same fixed-count query sample —
    completing the index quality dashboard (single-table LSH, amplified
    LSH, IVF): same exact baseline, same integer-ratio recall, so the
    three gates are directly comparable and the index choice is a
    measured decision. Candidate generation is the same-cell equi-join
    the production ``ann_ivf_topk`` path uses. Below
    ``DRIVER_BROADCAST_ROWS`` the cell assignment comes back in one
    collect and ``driver_recall`` scores on the driver."""
    emb = read_table(spark, sf_dir, "embeddings")
    assign = ivf_assign(emb, ivf_codebook(emb, IVF_CENTROIDS))
    pdf = recall_frame_if_fits(assign)
    if pdf is not None:
        arms = [(pdf["centroid_id"], pdf["centroid_id"])]
        return spark.createDataFrame(
            driver_recall(pdf, _RECALL_SAMPLE_N, arms), RECALL_SCHEMA
        )
    sample = recall_query_sample(emb)
    qa = assign.join(sample.select("vec_id"), "vec_id", "left_semi").select(
        F.col("vec_id").alias("query_id"), "centroid_id"
    )
    na = assign.select(F.col("vec_id").alias("neighbor_id"), "centroid_id")
    cand = (
        qa.join(na, "centroid_id")
        .where(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id")
    )
    return _recall_vs_exact(emb, cand, recall_ground_truth(spark, emb))


_HARDNEG_K = 3


@register(
    "ann_hard_negatives",
    oracle=f"""
        WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
              WHERE embedding IS NOT NULL AND list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[])) > 0),
        {_DUCK_QS_CTE},
        cents AS (SELECT vec_id AS centroid_id, v AS cv FROM e ORDER BY vec_id LIMIT 8),
        scored AS (
            SELECT e.vec_id, c.centroid_id,
                   ROUND(list_dot_product(e.v, c.cv) /
                         (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(c.cv, c.cv))), 6) + 0.0 AS sim
            FROM e CROSS JOIN cents c
        ),
        assign AS (
            SELECT vec_id, centroid_id FROM (
                SELECT *, row_number() OVER (
                    PARTITION BY vec_id ORDER BY sim DESC, centroid_id
                ) AS rn FROM scored
            ) WHERE rn = 1
        ),
        pairs AS (
            SELECT qa.vec_id AS query_id, q.label AS query_label,
                   na.vec_id AS neighbor_id, n.label AS neighbor_label,
                   {_DUCK_COS} AS cos
            FROM assign qa
            JOIN qs ON qa.vec_id = qs.vec_id
            JOIN assign na ON na.centroid_id = qa.centroid_id
                          AND na.vec_id <> qa.vec_id
            JOIN e q ON q.vec_id = qa.vec_id
            JOIN e n ON n.vec_id = na.vec_id
            WHERE n.label IS DISTINCT FROM q.label
        )
        SELECT query_id, CAST(query_label AS BIGINT) AS query_label,
               neighbor_id, CAST(neighbor_label AS BIGINT) AS neighbor_label,
               cos, CAST(rnk AS BIGINT) AS rnk
        FROM (
            SELECT *, row_number() OVER (
                PARTITION BY query_id ORDER BY cos DESC, neighbor_id
            ) AS rnk FROM pairs
        ) WHERE rnk <= {_HARDNEG_K}
    """,
    tags=("similarity", "ann", "ivf", "training-data", "extension"),
)
def q_ann_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive training: for each query in
    the fixed md5-order sample, the top-3 most-similar vectors carrying
    a DIFFERENT label, drawn from the query's IVF cell — the standard
    in-batch-negatives upgrade (high-similarity, wrong-label examples
    are the ones a contrastive loss learns most from).

    Same scale shape as ``ann_ivf_recall``: same-cell equi-join bounds
    the candidates, the label filter rides the join (no extra
    shuffle — label travels with the assignment frame), and the exact
    re-rank is the guarded Arrow scorer. A NULL-label neighbor counts
    as a different label (IS DISTINCT FROM semantics in both
    engines)."""
    emb = read_table(spark, sf_dir, "embeddings")
    sample = recall_query_sample(emb)
    assign = ivf_assign(emb, ivf_codebook(emb, IVF_CENTROIDS))
    labels = emb.select("vec_id", "label")
    qa = (
        assign.join(sample.select("vec_id"), "vec_id", "left_semi")
        .join(labels, "vec_id")
        .select(
            F.col("vec_id").alias("query_id"),
            "centroid_id",
            F.col("label").alias("query_label"),
        )
    )
    na = assign.join(labels, "vec_id").select(
        F.col("vec_id").alias("neighbor_id"),
        "centroid_id",
        F.col("label").alias("neighbor_label"),
    )
    cand = (
        qa.join(na, "centroid_id")
        .where(
            (F.col("neighbor_id") != F.col("query_id"))
            & ~F.col("neighbor_label").eqNullSafe(F.col("query_label"))
        )
        .select("query_id", "query_label", "neighbor_id", "neighbor_label")
    )
    scored = score_pairs_exact(
        emb, cand.select("query_id", "neighbor_id")
    ).join(cand, ["query_id", "neighbor_id"])
    return topk_per_query(scored, _HARDNEG_K).select(
        "query_id",
        F.col("query_label").cast("long"),
        "neighbor_id",
        F.col("neighbor_label").cast("long"),
        "cos",
        "rnk",
    )
