"""JSON-path shredding: the INVERTED-on-JSON-path index analogue.

The reference's schema matrix declares scalar indexes on JSON paths with a
cast type (json_cast_type + json_path, schema_matrix_json_shredding.yaml:
19-25; create_horizon_collection.py:120-141) — Milvus shreds the JSON value
into a typed index so path predicates stop parsing JSON per row. The
Spark-first analogue is ingest-time column materialization: shred the path
into a typed top-level column and persist. Against the raw JSON string a
path predicate can never push down (every row's JSON is parsed, 100 TB
scanned); against the shredded column it is an ordinary comparison that
reaches the parquet scan as a pushed filter, prunes row groups via min/max
stats, and reads one narrow column.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def shred_json_path(df: DataFrame, json_col: str, path: str, cast_type: str,
                    out_col: str) -> DataFrame:
    """Materialize JSON path ``path`` (``$.a.b`` syntax) of ``json_col`` as
    typed column ``out_col`` — the ingest-time transform; write the result
    to parquet to get pushdown on the shredded column."""
    return df.withColumn(
        out_col, F.get_json_object(F.col(json_col), path).cast(cast_type))
