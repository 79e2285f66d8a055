"""Dump one catalog query's .explain("formatted") output to stdout —
before/after plan evidence for an optimization.

Usage: python tools/explain_query.py <query> [sf_dir] [repo_root]
"""

from __future__ import annotations

import os
import sys

repo = sys.argv[3] if len(sys.argv) > 3 else os.path.dirname(
    os.path.dirname(os.path.abspath(__file__))
)
sys.path.insert(0, repo)


def main() -> None:
    name = sys.argv[1]
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
    from metadata_ingestion_framework_spark import get_spark
    from metadata_ingestion_framework_spark.catalog_queries import QUERIES

    spark = get_spark(f"explain_{name}")
    df = QUERIES[name](spark, sf_dir)
    # public API (ADVICE r18): explain() prints to stdout directly and
    # produces the same formatted text as the private JVM bridge did
    df.explain("formatted")
    for dep in getattr(df, "_persisted_deps", ()):
        dep.unpersist()


if __name__ == "__main__":
    main()
