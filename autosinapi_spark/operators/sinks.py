"""Write-policy sink operators (K2-K5) — MERGE semantics on immutable storage.

Reference semantics (PostgreSQL, ``/root/reference/autosinapi/core/
database.py``):

- K2 append-ignore-conflicts — stage + ``INSERT ... ON CONFLICT (pk)
  DO NOTHING`` (``database.py:175-204``). Spark: dedup incoming on PK,
  left-anti against existing PKs, union. Existing rows are never
  touched.
- K3 upsert — ``INSERT ... ON CONFLICT (pk) DO UPDATE SET col =
  EXCLUDED.col`` for exactly the columns present in the incoming
  frame (``database.py:220-246``); columns absent from the incoming
  frame keep their existing values (this is how "don't touch status
  on upsert" works, ``docs/DataModel.md:197``); falls back to K2 when
  the incoming frame has no non-PK columns (``database.py:229-231``).
  Spark: full-outer join on PK + per-column CASE on a match marker.
- K4 replace-by-period — ``DELETE WHERE TO_CHAR(data_referencia,
  'YYYY-MM') = :ref`` then append (``database.py:206-218``). Spark
  logical form: filter-out-period + union; physical form: dynamic
  partition overwrite on the period column.
- K5 truncate + reload — ``TRUNCATE ... CASCADE`` then insert
  (``database.py:248-259``, callers ``etl_pipeline.py:359-367``).
  Spark: plain ``mode("overwrite")`` — truncate+insert ≡ overwrite.

Each policy exists in two forms:

1. a **logical** operator ``(existing, incoming) -> merged DataFrame``
   — pure, oracle-checkable, and what a Delta/Iceberg MERGE would
   compute; and
2. a **physical** writer that persists to a Parquet path (read
   current state, compute merged, write). On a transactional table
   format the logical form maps 1:1 onto ``MERGE INTO``.

Scale notes: every merge shuffles only on the PK columns; incoming
batches are monthly (small vs the accumulated table) so AQE broadcasts
the anti-join side. The physical K2 writer is append-only: it writes
just the fresh rows as new files and never touches the existing ones.
K3 rewrites the table, and K4 only the affected period partitions (via
dynamic partition overwrite) — at 100 TB the table would be
Delta/Iceberg and K3 a metadata-only MERGE; the logical operators here
are exactly the MERGE condition/action set.
"""

from __future__ import annotations

import functools
from collections.abc import Mapping, Sequence

from pyspark.errors import AnalysisException
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from .dedup import dedup_keep_first


def _dedup_incoming(incoming: DataFrame, pk: Sequence[str]) -> DataFrame:
    """Deterministic one-row-per-PK for the incoming batch.

    Postgres errors on duplicate PKs within one ON CONFLICT statement
    ("cannot affect row a second time"); we resolve deterministically
    instead: first row under the non-PK column ordering survives.
    """
    order_cols = [c for c in incoming.columns if c not in pk]
    if not order_cols:
        return incoming.dropDuplicates(list(pk))
    return dedup_keep_first(incoming, list(pk), order_cols)


def _align_to(
    df: DataFrame,
    target: DataFrame,
    defaults: Mapping[str, Column] | None,
) -> DataFrame:
    """Project df onto target's schema, filling absent columns.

    Mirrors inserting a column subset into a table with DDL defaults
    (e.g. ``status VARCHAR DEFAULT 'ATIVO'``, database.py:98); fills
    are cast to the target column type so unions stay type-stable.
    """
    defaults = defaults or {}
    cols = []
    for f in target.schema.fields:
        if f.name in df.columns:
            cols.append(F.col(f.name))
        elif f.name in defaults:
            cols.append(defaults[f.name].cast(f.dataType).alias(f.name))
        else:
            cols.append(F.lit(None).cast(f.dataType).alias(f.name))
    return df.select(*cols)


def append_ignore_conflicts(
    existing: DataFrame,
    incoming: DataFrame,
    pk: Sequence[str],
    defaults: Mapping[str, Column] | None = None,
) -> DataFrame:
    """K2: append rows whose PK is not already present (J5 anti-join).

    ``INSERT ... ON CONFLICT DO NOTHING`` (database.py:193-198).
    """
    extra = set(incoming.columns) - set(existing.columns)
    if extra:
        raise ValueError(f"incoming has columns not in target: {sorted(extra)}")
    fresh = _dedup_incoming(incoming, pk).join(
        existing.select(*pk), list(pk), "left_anti"
    )
    return existing.unionByName(_align_to(fresh, existing, defaults))


def upsert(
    existing: DataFrame,
    incoming: DataFrame,
    pk: Sequence[str],
    defaults: Mapping[str, Column] | None = None,
) -> DataFrame:
    """K3: insert-or-update on PK, updating ONLY incoming's columns.

    ``ON CONFLICT DO UPDATE SET c = EXCLUDED.c`` for each non-PK
    column of the incoming frame (database.py:233-237): on a PK match
    the incoming value wins even when NULL; existing columns absent
    from incoming are preserved; brand-new PKs get defaults/NULL for
    those columns. No non-PK incoming columns => plain K2 append
    (database.py:229-231).
    """
    extra = set(incoming.columns) - set(existing.columns)
    if extra:
        raise ValueError(f"incoming has columns not in target: {sorted(extra)}")
    update_cols = [c for c in incoming.columns if c not in pk]
    if not update_cols:
        return append_ignore_conflicts(existing, incoming, pk, defaults)

    inc = _dedup_incoming(incoming, pk).withColumn("__inc", F.lit(True))
    ex = existing.withColumn("__ex", F.lit(True))
    joined = ex.alias("e").join(inc.alias("i"), on=list(pk), how="full_outer")

    # A full-outer join row is: matched (both markers), existing-only,
    # or incoming-only. Presence markers — not value nullness — decide
    # each case, so a matched row whose untouched column is NULL stays
    # NULL instead of picking up the insert default.
    is_inc = F.col("__inc").isNotNull()
    is_ex = F.col("__ex").isNotNull()
    defaults = defaults or {}
    out = []
    for c in existing.columns:
        if c in pk:
            out.append(F.col(c))
        elif c in update_cols:
            out.append(
                F.when(is_inc, F.col(f"i.{c}"))
                .otherwise(F.col(f"e.{c}"))
                .alias(c)
            )
        else:
            # column untouched by the upsert; only new rows get the
            # insert default (DDL DEFAULT semantics, database.py:98)
            fallback = defaults[c] if c in defaults else F.lit(None)
            out.append(
                F.when(is_ex, F.col(f"e.{c}")).otherwise(fallback).alias(c)
            )
    return joined.select(*out)


def replace_by_period(
    existing: DataFrame,
    incoming: DataFrame,
    period_col: str,
    period: str,
    period_format: str = "yyyy-MM",
) -> DataFrame:
    """K4: drop one period's rows, append the incoming batch.

    ``DELETE WHERE TO_CHAR(data_referencia,'YYYY-MM') = :ref`` + append
    (database.py:206-218). Physical form: dynamic partition overwrite
    (see ``write_replace_period``).
    """
    fmt = F.date_format(F.col(period_col), period_format)
    # NULL-dated rows survive: the reference's DELETE matches only the
    # formatted period, and NULL never matches a delete predicate
    kept = existing.where(fmt.isNull() | (fmt != F.lit(period)))
    return kept.unionByName(incoming.select(*existing.columns))


def overwrite(existing: DataFrame, incoming: DataFrame) -> DataFrame:
    """K5: truncate + reload ≡ the incoming frame, schema-aligned."""
    return incoming.select(*existing.columns)


# ---------------------------------------------------------------------------
# Physical Parquet writers. On Delta/Iceberg these become MERGE INTO /
# dynamic overwrite. On plain Parquet, K2 only adds files (an append
# never rewrites or deletes what is already there); K3 must rewrite the
# table, so it pins the merged rows before overwriting the directory
# they were read from.
# ---------------------------------------------------------------------------


def write_append_nodup(
    spark: SparkSession,
    incoming: DataFrame,
    path: str,
    pk: Sequence[str],
    defaults: Mapping[str, Column] | None = None,
) -> int:
    """K2 against a Parquet table dir (creates it if absent).

    Append-only: the fresh rows are pinned, counted, and appended as new
    files cast to the table's column types; existing files are never
    rewritten, and a batch with nothing new writes nothing. Returns the
    number of rows inserted.
    """
    try:
        existing = spark.read.parquet(path)
    except AnalysisException:
        existing = None
    if existing is None:
        fresh = _dedup_incoming(incoming, pk)
    else:
        # the insert set of append_ignore_conflicts (J5 anti-join on the
        # PK), cast to the table's column types
        extra = set(incoming.columns) - set(existing.columns)
        if extra:
            raise ValueError(f"incoming has columns not in target: {sorted(extra)}")
        fresh = _dedup_incoming(incoming, pk).join(
            existing.select(*pk), list(pk), "left_anti"
        )
        fresh = _align_to(fresh, existing, defaults).select(
            *[F.col(f.name).cast(f.dataType) for f in existing.schema.fields]
        )
    # the lazy checkpoint is filled by the count, and the append then
    # reads the pinned rows instead of re-running the anti-join
    pinned = fresh.localCheckpoint(eager=False)
    n = pinned.count()
    if n or existing is None:
        pinned.write.mode("append").parquet(path)
    return n


def write_upsert(
    spark: SparkSession,
    incoming: DataFrame,
    path: str,
    pk: Sequence[str],
    defaults: Mapping[str, Column] | None = None,
) -> None:
    """K3 against a Parquet table dir (creates it if absent).

    Only a missing table counts as absent: any other read failure (a
    torn file, say) propagates, so the table is never overwritten with
    the incoming rows alone.
    """
    try:
        existing = spark.read.parquet(path)
    except AnalysisException:
        _dedup_incoming(incoming, pk).write.mode("overwrite").parquet(path)
        return
    rewrite(upsert(existing, incoming, pk, defaults), path)


def write_replace_period(
    spark: SparkSession,
    incoming: DataFrame,
    path: str,
    period_col: str = "periodo",
) -> None:
    """K4 via dynamic partition overwrite on the period column.

    Only the partitions present in ``incoming`` are replaced; every
    other period's files are untouched — the scale-correct form of
    DELETE-month + append (no full-table rewrite).
    """
    # per-write option — does NOT mutate the shared session conf, so a
    # later caller relying on static overwrite semantics is unaffected
    (
        incoming.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(period_col)
        .parquet(path)
    )


def write_overwrite(incoming: DataFrame, path: str) -> None:
    """K5: truncate + reload."""
    incoming.write.mode("overwrite").parquet(path)


def rewrite(merged: DataFrame, path: str) -> None:
    """Materialize merged state, then overwrite the table dir.

    The merged plan reads ``path`` itself, so a direct overwrite would
    delete its own input mid-scan; localCheckpoint pins the merged
    rows first. (A lakehouse table format makes this a metadata swap.)
    """
    merged.localCheckpoint(eager=True).write.mode("overwrite").parquet(path)


def scd2_merge(
    dim: DataFrame,
    incoming: DataFrame,
    pk: Sequence[str],
    attrs: Sequence[str],
    effective: str,
    *,
    valid_from: str = "valid_from",
    valid_to: str = "valid_to",
    is_current: str = "is_current",
) -> DataFrame:
    """Slowly-changing-dimension Type 2 merge (Kimball): matched rows
    whose tracked ``attrs`` changed are CLOSED (``valid_to`` =
    effective date, ``is_current`` = false) and re-inserted as a new
    current version; unchanged matches and historical (non-current)
    rows pass through untouched; unmatched incoming keys insert as
    new current rows. The reference's upsert (``database.py:220-246``)
    is the Type 1 overwrite of this; Type 2 is the standard
    warehouse extension that keeps the full attribute history.

    Scale shape: every stage is keyed on the PK — one join of the
    CURRENT slice against the (deduped) batch computes the change
    set with null-safe comparisons, and the output is a union of
    column-aligned projections (no wide shuffle beyond the PK join;
    at deployment this is one Delta/Iceberg MERGE). History rows
    never meet the join: they are filtered out before it and
    unioned back verbatim.
    """
    eff = F.lit(effective).cast("date")
    inc = _dedup_incoming(incoming, pk)
    cur = dim.where(F.col(is_current))
    hist = dim.where(~F.col(is_current))

    changed_keys = (
        cur.alias("c")
        .join(inc.alias("i"), list(pk))
        .where(
            ~functools.reduce(
                lambda a, b: a & b,
                [
                    F.col(f"c.{a}").eqNullSafe(F.col(f"i.{a}"))
                    for a in attrs
                ],
            )
        )
        .select(*[F.col(f"c.{k}") for k in pk])
    )
    closed = (
        cur.join(changed_keys, list(pk), "left_semi")
        .withColumn(valid_to, eff)
        .withColumn(is_current, F.lit(False))
    )
    unchanged_cur = cur.join(changed_keys, list(pk), "left_anti")
    new_versions = (
        inc.join(changed_keys, list(pk), "left_semi")
        .withColumn(valid_from, eff)
        .withColumn(valid_to, F.lit(None).cast("date"))
        .withColumn(is_current, F.lit(True))
    )
    inserts = (
        inc.join(cur, list(pk), "left_anti")
        .withColumn(valid_from, eff)
        .withColumn(valid_to, F.lit(None).cast("date"))
        .withColumn(is_current, F.lit(True))
    )
    cols = dim.columns
    return (
        hist.select(cols)
        .unionByName(unchanged_cur.select(cols))
        .unionByName(closed.select(cols))
        .unionByName(new_versions.select(cols))
        .unionByName(inserts.select(cols))
    )


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    pk: Sequence[str],
    attrs: Sequence[str],
    *,
    change_col: str = "change_type",
) -> DataFrame:
    """Change-data-capture diff of two snapshots of the same table:
    classify every key as ``insert`` (new only), ``delete`` (old
    only), or ``update`` (present in both with any tracked attribute
    differing, null-safe); unchanged rows are dropped. This is the
    inverse direction of the reference's write policies
    (``database.py:151-259`` applies a batch to a table; this
    derives the batch FROM two table states) — the shape every
    incremental re-sync of a monthly SINAPI load needs.

    Output: pk columns, ``change_type``, then ``old_<attr>`` /
    ``new_<attr>`` for each tracked attribute.

    Precondition: the PK must be UNIQUE within each snapshot (it is a
    key, not a join column) — duplicate keys fan out in the full-outer
    join and produce multiplied, potentially contradictory change rows
    for the same key. Dedup upstream (``dedup_keep_first``) if a feed
    can repeat keys. NULL PK components are handled: join keys are
    null-safe and presence is detected via explicit marker columns,
    so a NULL-keyed row present unchanged in both snapshots is
    dropped, not misread as a delete + insert.

    Scale shape: ONE full-outer shuffle join keyed on the PK; only
    changed rows survive the post-join filter, so the output stage
    is change-volume-sized, not table-sized. With both snapshots
    bucketed by PK (``operators/maintenance`` bucketed writes) the
    join is shuffle-free; columns outside pk+attrs are pruned at
    the scan.
    """
    if set(pk) & set(attrs):
        raise ValueError(
            f"pk and attrs overlap: {sorted(set(pk) & set(attrs))}"
        )
    out_names = (
        list(pk)
        + [change_col]
        + [p + a for a in attrs for p in ("old_", "new_")]
    )
    dups = sorted({c for c in out_names if out_names.count(c) > 1})
    if dups:
        raise ValueError(
            f"snapshot_diff output column collision on {dups}: "
            f"change_col and the generated old_/new_ names must be "
            f"disjoint from pk + attrs"
        )
    reserved = {"__o_present", "__n_present"} & set(
        list(pk) + list(attrs) + [change_col]
    )
    if reserved:
        # these internal presence markers drive insert/delete
        # classification; a same-named input column would shadow them
        # and silently corrupt the diff
        raise ValueError(
            f"snapshot_diff reserved column name(s) {sorted(reserved)}: "
            f"__o_present/__n_present are internal presence markers"
        )
    o = old.select(*pk, *attrs).withColumn("__o_present", F.lit(True)).alias("o")
    n = new.select(*pk, *attrs).withColumn("__n_present", F.lit(True)).alias("n")
    # null-safe key equality (still a keyed equi-join plan shape:
    # Spark hashes NULL keys into a bucket for <=>), so NULL-keyed
    # rows meet their counterpart instead of never matching
    cond = functools.reduce(
        lambda a, b: a & b,
        [F.col(f"o.{k}").eqNullSafe(F.col(f"n.{k}")) for k in pk],
    )
    joined = o.join(n, cond, "full_outer")
    old_present = F.col("o.__o_present").isNotNull()
    new_present = F.col("n.__n_present").isNotNull()
    same_attrs = functools.reduce(
        lambda a, b: a & b,
        [F.col(f"o.{a}").eqNullSafe(F.col(f"n.{a}")) for a in attrs],
    )
    change = (
        F.when(~old_present, F.lit("insert"))
        .when(~new_present, F.lit("delete"))
        .when(~same_attrs, F.lit("update"))
    )
    out = [F.coalesce(F.col(f"o.{k}"), F.col(f"n.{k}")).alias(k) for k in pk]
    out.append(change.alias(change_col))
    for a in attrs:
        out.append(F.col(f"o.{a}").alias(f"old_{a}"))
        out.append(F.col(f"n.{a}").alias(f"new_{a}"))
    return joined.select(*out).where(F.col(change_col).isNotNull())
