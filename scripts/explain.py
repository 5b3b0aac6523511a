#!/usr/bin/env python
"""Dump the formatted physical plan of any registered query.

    python scripts/explain.py <query_name> [sf_dir] [mode]
    python scripts/explain.py --fingerprints <sf_dir> <out.json>

mode: formatted (default) | simple | extended | cost | codegen.
The tool every plan claim in PLANS.md / README §scale came from —
regenerate after changing an operator and diff the tree.

``--fingerprints`` builds every registered query in registry order
(``spark.catalog.clearCache()`` between queries) and writes
``{name: sha256}`` of its formatted physical plan, with expression ids
(``#123``), plan ids, RDD ids, lambda-variable numbers and round-trip
sink directories normalized away and the tokens of each line sorted
(see :func:`canonical`). Two trees whose JSON files are equal built the
same plans; diff the files to find the queries that moved.
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from velox_hadoop_spark.plans import registry  # noqa: E402
from velox_hadoop_spark.session import get_spark  # noqa: E402

# `#123` expression / subquery ids, `[plan_id=45]` exchange ids,
# `subquery#12`-style names and `MapPartitionsRDD[67]` RDD ids: allocated
# from session-global counters, so they depend on how many plans were
# built before this one.
_PLAN_IDS = re.compile(r"#\d+|plan_id=\d+|(?<=RDD\[)\d+(?=\])")
# PySpark names each lambda variable `<param>_<n>` from another
# session-global counter, so every query built after one that makes
# more or fewer lambdas would otherwise print different names.
_LAMBDA_VAR = re.compile(r"(lambda \w+?_)\d+(?=#)")
# A round-trip query writes its sink to a fresh ``<kind>-XXXXXXXX``
# directory (``tempfile.mkdtemp``) under the session's SparkFiles root,
# and its scan ``Location`` prints that path.
_SINK_SUFFIX = r"/([\w-]+)-[a-z0-9_]{8}(?=[/\],\s]|$)"
_TOKEN = re.compile(r"[^\s,()\[\]]+|[()\[\]]")


def canonical(plan: str) -> str:
    """``plan`` with the tokens of each line sorted.

    Catalyst orders a query's COUNT(DISTINCT) groups by hash sets that
    iterate differently from one JVM to the next, and that order moves
    the Expand projections, the aggregate and exchange keys and the
    grouping-id literal each group gets. Every such move stays inside
    one line, so sorting each line's tokens makes the fingerprint
    canonical under it; a plan change that only reorders the tokens of
    one line is not seen."""
    return "\n".join(" ".join(sorted(_TOKEN.findall(line))) for line in plan.splitlines())


def explain(spark, df, mode: str = "formatted") -> str:
    je = df._jdf.queryExecution()
    jmode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(mode)
    return je.explainString(jmode)


def normalized_plans(spark, sf_dir: str) -> dict[str, str]:
    """name -> formatted physical plan with session-counter ids removed,
    every registered query in registry order."""
    from pyspark import SparkFiles

    sink = re.compile(re.escape(SparkFiles.getRootDirectory()) + _SINK_SUFFIX, re.M)
    plans = {}
    for name, fn in registry.queries().items():
        spark.catalog.clearCache()
        plan = _PLAN_IDS.sub("#", explain(spark, fn(spark, sf_dir)))
        plan = sink.sub(r"<SparkFiles>/\1-XXXXXXXX", plan)
        plans[name] = _LAMBDA_VAR.sub(r"\1", plan)
    spark.catalog.clearCache()
    return plans


def main() -> None:
    if len(sys.argv) < 2:
        names = sorted(registry.queries())
        print(f"{len(names)} queries:")
        for n in names:
            print(" ", n)
        return
    spark = get_spark(app_name="explain", cpus=8, shuffle_partitions=8)
    if sys.argv[1] == "--fingerprints":
        sf_dir, out = sys.argv[2], sys.argv[3]
        prints = {
            name: hashlib.sha256(canonical(plan).encode()).hexdigest()
            for name, plan in normalized_plans(spark, sf_dir).items()
        }
        with open(out, "w") as fh:
            json.dump(prints, fh, indent=1)
        print(f"{len(prints)} fingerprints -> {out}")
        return
    name = sys.argv[1]
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.01"
    mode = sys.argv[3] if len(sys.argv) > 3 else "formatted"
    print(explain(spark, registry.queries()[name](spark, sf_dir), mode))


if __name__ == "__main__":
    main()
