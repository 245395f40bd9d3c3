"""Collection/table abstraction.

The reference's fundamental unit is a *collection*: a named table with exactly
one primary-key field, scalar fields, vector fields, optional JSON / array /
dynamic fields and partitions (schema spec semantics:
``milvus-bricks/milvus_client/common/schema.py:13-62`` in the reference).

Here a collection is a DataFrame plus a small metadata record. Parquet is the
storage format (the reference's own bulk format —
``milvus_client/query_iterator.py:225-260``).
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from vectordb_testbricks_spark.session import session_memo

TESTDATA_TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

# Columns that hold JSON-encoded strings (compiled as JSON-path accessors by
# the expression language, mirroring Milvus JSON fields).
JSON_COLUMNS: dict[str, set[str]] = {
    "events": {"props"},
}

# Primary-key column per testdata table (uniqueness contract; Milvus PK
# semantics — lineitem's PK is composite).
PRIMARY_KEYS: dict[str, tuple[str, ...]] = {
    "region": ("r_regionkey",),
    "nation": ("n_nationkey",),
    "customer": ("c_custkey",),
    "supplier": ("s_suppkey",),
    "part": ("p_partkey",),
    "orders": ("o_orderkey",),
    "lineitem": ("l_orderkey", "l_linenumber"),
    "events": ("event_id",),
    "documents": ("doc_id",),
    "embeddings": ("vec_id",),
}


@dataclass
class Collection:
    """A loaded collection: DataFrame + schema metadata."""

    name: str
    df: DataFrame
    pk: tuple[str, ...] = ()
    json_columns: set[str] = field(default_factory=set)
    vector_columns: set[str] = field(default_factory=set)

    @property
    def pk_col(self) -> str:
        """Single-column PK accessor (first key for composite PKs)."""
        return self.pk[0]


#: Parquet-footer nano-timestamp columns per path. The testdata tables are
#: immutable fixtures, so the footer read (a pyarrow file open + schema
#: parse, ~10 ms of driver I/O) needs to happen once per path, not once per
#: query construction — r12 guide §1.2 step 2: per-call driver work is part
#: of steady-state query latency here because the bench times construction.
_NANO_COLS_CACHE: dict[str, list[str]] = {}


def _nano_ts_columns(path: str) -> list[str]:
    """Columns declared TIMESTAMP(NANOS) in the parquet footer — Spark reads
    them as bigint (nanosAsLong); we restore TimestampType at micro precision
    (matching DuckDB's timestamp semantics for the oracle)."""
    cached = _NANO_COLS_CACHE.get(path)
    if cached is not None:
        return cached
    import pyarrow.parquet as pq

    schema = pq.read_schema(path)
    out = []
    for f in schema:
        t = f.type
        if str(t).startswith("timestamp[ns"):
            out.append(f.name)
    _NANO_COLS_CACHE[path] = out
    return out


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """The table's DataFrame handle, memoized per application (see
    :func:`~vectordb_testbricks_spark.session.session_memo` for the
    immutable-input contract). Only plan metadata is reused: every action
    still scans the parquet files."""
    from pyspark.sql import functions as F

    path = os.path.join(sf_dir, f"{name}.parquet")
    nano_cols = _nano_ts_columns(path)
    if nano_cols:
        # must hold for any caller-supplied session (the driver's included):
        # without it Spark refuses TIMESTAMP(NANOS) parquet outright.
        # Applied BEFORE the memo lookup (ADVICE r12): a second
        # session sharing the SparkContext (newSession) hits the
        # app-keyed memo, and the handle it receives must pair with the
        # conf set on THAT session, not only on the one that first
        # loaded the table.
        try:
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        except Exception:
            pass  # already set via builder, or conf is read-only here

    def build():
        df = spark.read.parquet(path)
        for c in nano_cols:
            df = df.withColumn(
                c, F.timestamp_micros(F.expr(f"`{c}` div 1000")))
        return df

    return session_memo(spark, ("table", path), build)


def load_collection(spark: SparkSession, sf_dir: str, name: str) -> Collection:
    df = load_table(spark, sf_dir, name)
    vector_cols = {
        f.name for f in df.schema.fields
        if f.dataType.simpleString().startswith("array<float")
        or f.dataType.simpleString().startswith("array<double")
    }
    return Collection(
        name=name,
        df=df,
        pk=PRIMARY_KEYS.get(name, ()),
        json_columns=set(JSON_COLUMNS.get(name, set())),
        vector_columns=vector_cols,
    )


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, Collection]:
    """Load every testdata table as a Collection keyed by name."""
    return {t: load_collection(spark, sf_dir, t) for t in TESTDATA_TABLES}
