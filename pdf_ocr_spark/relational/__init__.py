"""Relational operator library over the driver's TPC-H-ish testdata.

Every entry re-expresses an operator from SURVEY.md §2 (or a training-data
pipeline op) as a Spark DataFrame query plus a DuckDB-compatible ANSI-SQL
oracle with identical output column names, for the driver's side-by-side
correctness gate.
"""

from . import curation, dedup, queries, similarity, textstats


def all_queries() -> dict:
    """name -> (spark_fn(spark, sf_dir) -> DataFrame)."""
    out = {}
    for mod in (queries, dedup, similarity, textstats, curation):
        out.update({k: v[0] for k, v in mod.QUERIES.items()})
    return out


def all_oracle_sql() -> dict:
    """name -> DuckDB SQL string (omitted for non-SQL-expressible ops)."""
    out = {}
    for mod in (queries, dedup, similarity, textstats, curation):
        out.update({k: v[1] for k, v in mod.QUERIES.items()
                    if v[1] is not None})
    return out
