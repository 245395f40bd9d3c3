"""DML operators (SURVEY.md §2.1 S1-S4): insert / upsert / partial update /
delete-by-filter.

Reference semantics:
  * insert — append a batch of rows (seed_data.py:50-57; 2.6/common.py:804-834)
  * upsert — latest-write-wins full-row replace by PK (2.6/common.py:837-856)
  * partial update — update a subset of columns for matching PKs, other
    columns keep their old values (2.6/common.py:804-835 `partial_update`;
    upsert3.py:184-206)
  * delete by filter — expr forms `pk in [..]`, `pk >= a && pk <= b`, any
    boolean expr (workload.py:250-270; validate_phase_dml_dql.py:229-242)

All merges are set-oriented DataFrame transformations (anti-join + union,
join + coalesce) — no row loops, shuffle only on the PK, broadcastable when
the update batch is small (the common case: Milvus upsert batches are ≤10k
rows while the base is the 100-TB side).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from vectordb_testbricks_spark.exprlang import compile_expr


def insert(base: DataFrame, rows: DataFrame) -> DataFrame:
    """S1: append a row batch (schema-aligned by name)."""
    return base.unionByName(rows.select(*base.columns))


def upsert(base: DataFrame, updates: DataFrame, pk: list[str] | str) -> DataFrame:
    """S2: latest-write-wins full-row replace by PK.

    Plan: base ⟕anti updates on PK (broadcast the small update side), then
    union the updates — one broadcast join, no full shuffle of the base.
    """
    pk = [pk] if isinstance(pk, str) else list(pk)
    survivors = base.join(F.broadcast(updates.select(*pk)), pk, "left_anti")
    return survivors.unionByName(updates.select(*base.columns))


def partial_upsert(base: DataFrame, updates: DataFrame,
                   pk: list[str] | str) -> DataFrame:
    """S3: update only the columns present in ``updates``; missing PKs are
    inserted with NULLs for absent columns (Milvus partial-update upsert).

    Plan: existing rows merge via a broadcast LEFT join (a full_outer join
    cannot be broadcast, so it would sort-merge-shuffle the entire base at
    scale); PKs absent from the base are then found with a pk-only anti
    join (shuffles just the key column of the small update side) and
    appended NULL-filled.
    """
    pk = [pk] if isinstance(pk, str) else list(pk)
    upd_cols = [c for c in updates.columns if c not in pk]
    u = F.broadcast(
        updates.select(*pk, *[F.col(c).alias(f"_u_{c}") for c in upd_cols]))
    joined = base.join(u, pk, "left")
    out_cols = []
    for c in base.columns:
        if c in pk:
            out_cols.append(F.col(c))
        elif c in upd_cols:
            out_cols.append(F.coalesce(F.col(f"_u_{c}"), F.col(c)).alias(c))
        else:
            out_cols.append(F.col(c))
    updated = joined.select(*out_cols)
    fresh = updates.join(base.select(*pk), pk, "left_anti")
    filled = fresh.select(*[
        F.col(c) if c in fresh.columns
        else F.lit(None).cast(base.schema[c].dataType).alias(c)
        for c in base.columns])
    return updated.unionByName(filled)


def array_partial_update(base: DataFrame, updates: DataFrame,
                         pk: list[str] | str,
                         ops: dict[str, str]) -> DataFrame:
    """3.0-roadmap ``ARRAY_APPEND`` / ``ARRAY_REMOVE`` partial update
    (feature-inventory doc §4 "partial update operation family"): merge
    the update batch's array deltas into MATCHING rows by PK —
    ``ops[col] = "append"`` concatenates the incoming elements onto the
    stored array (a NULL STORED array counts as empty — the delta must
    not silently vanish into ``concat(NULL, d) = NULL``), ``"remove"``
    drops every occurrence of each listed value while preserving both
    duplicates of other values AND NULL elements (a higher-order
    ``filter`` over ``coalesce(array_contains(...), false)`` — NOT
    array_except, whose set-semantics would dedup survivors, and not
    bare three-valued ``array_contains``, which would silently delete
    NULL elements). PKs absent from the base are ignored (this is the
    update family, not upsert); a NULL DELTA array leaves the stored
    value untouched.

    Plan shape: one broadcast LEFT join on the PK (update batches are
    the small side by contract), per-column expressions row-local."""
    pk = [pk] if isinstance(pk, str) else list(pk)
    bad = set(ops) - {c for c in updates.columns if c not in pk}
    if bad or any(v not in ("append", "remove") for v in ops.values()):
        raise ValueError(f"ops must map update columns to append|remove, "
                         f"got {ops!r} (unknown: {sorted(bad)})")
    u = F.broadcast(
        updates.select(*pk, *[F.col(c).alias(f"_u_{c}") for c in ops]))
    joined = base.join(u, pk, "left")
    out = []
    for c in base.columns:
        if c in ops:
            b, d = F.col(c), F.col(f"_u_{c}")
            if ops[c] == "append":
                merged = F.when(b.isNull(), d).otherwise(F.concat(b, d))
            else:
                merged = F.filter(b, lambda x: ~F.coalesce(
                    F.array_contains(d, x), F.lit(False)))
            out.append(F.when(d.isNull(), b).otherwise(merged).alias(c))
        else:
            out.append(F.col(c))
    return joined.select(*out)


def delete_by_filter(base: DataFrame, flt: str | Column) -> DataFrame:
    """S4: delete rows matching the filter expression; NULL predicate rows
    are kept (a NULL match does not delete)."""
    pred = flt if isinstance(flt, Column) else compile_expr(flt, base)
    return base.filter(~F.coalesce(pred, F.lit(False)))
