"""Deterministic cross-engine hashing primitives.

Everything downstream of dedup/similarity needs hash values that are
bit-identical between the Spark plan and the DuckDB oracle. The only
hash both engines share exactly is MD5, so:

  * string hash  → lowercase MD5 hex (identical in both);
  * integer hash → first 15 hex chars (60 bits) parsed as BIGINT
    (Spark: ``conv(substr(md5(x),1,15),16,10)``;
    DuckDB: ``('0x' || substr(md5(x),1,15))::BIGINT``).

These are expression *builders*: each returns the Spark SQL fragment and
the DuckDB fragment for the same formula, so operators register queries
whose two sides are generated from one source of truth. All of it runs
JVM-side in whole-stage codegen (no Python UDFs).
"""

from __future__ import annotations


def spark_md5(expr: str) -> str:
    return f"md5(cast({expr} AS STRING))"


def duck_md5(expr: str) -> str:
    return f"md5(CAST({expr} AS VARCHAR))"


def spark_md5_int60(expr: str) -> str:
    """60-bit non-negative integer hash (Spark SQL fragment)."""
    return f"CAST(conv(substr(md5(cast({expr} AS STRING)), 1, 15), 16, 10) AS BIGINT)"


def duck_md5_int60(expr: str) -> str:
    """Same 60-bit hash, DuckDB fragment."""
    return f"CAST(('0x' || substr(md5(CAST({expr} AS VARCHAR)), 1, 15)) AS BIGINT)"


def seeded(expr: str, seed: int | str) -> str:
    """Seed-prefixed input: hash('<seed>|' || x) — same text both engines."""
    return f"concat('{seed}|', {expr})"


def spark_bucket(key: str, seed: int | str, n: int = 100) -> str:
    """0..n-1 hash bucket of ``key`` (Spark SQL fragment) — the one
    formula behind deterministic sampling, train/test splits, and the
    snapshot-diff cohorts; its DuckDB twin is ``duck_bucket``."""
    return f"({spark_md5_int60(seeded(key, seed))} % {n})"


def duck_bucket(key: str, seed: int | str, n: int = 100) -> str:
    """DuckDB twin of ``spark_bucket`` — identical bucket for every key."""
    return f"{duck_md5_int60(seeded(key, seed))} % {n}"


# Word k-gram shingling (whitespace tokens, k-word windows, space-joined).
# Guarded so docs shorter than k words yield an empty shingle set.

def spark_shingles_from_words(words_col: str, k: int) -> str:
    """Shingles from a pre-split words-array column.

    Split the text into ``words_col`` in a SEPARATE upstream projection:
    referencing the array column keeps the tokenizer evaluated once per
    row, where inlining ``split()`` into the slice lambda would re-split
    the text once per shingle (O(words²) per document). CollapseProject
    leaves the two projections apart because split() is non-cheap.
    """
    return (
        f"CASE WHEN size({words_col}) < {k} THEN array() "
        f"ELSE transform(sequence(1, size({words_col}) - {k - 1}), "
        f"i -> concat_ws(' ', slice({words_col}, i, {k}))) END"
    )


def duck_shingle_cte(table: str, id_col: str, text_col: str, k: int) -> str:
    """DuckDB CTE body producing (id, shingle) distinct pairs."""
    joined = " || ' ' || ".join(f"words[i+{j}]" for j in range(k))
    return f"""
        SELECT DISTINCT {id_col}, {joined} AS shingle
        FROM (SELECT {id_col}, string_split_regex({text_col}, '\\s+') AS words FROM {table})
        CROSS JOIN UNNEST(generate_series(1, greatest(len(words) - {k - 1}, 0))) AS t(i)
    """
