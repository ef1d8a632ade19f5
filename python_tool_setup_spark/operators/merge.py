"""Upsert (MERGE) as a pure DataFrame rewrite.

Parity target: the reference's Delta merge —
``whenMatchedUpdateAll().whenNotMatchedInsertAll()`` built from an
AND-joined key-equality condition (reference ``framework.py:211-231``,
``:226-231``). Semantics reproduced here without requiring delta-spark:

  result = (target rows with no source key match)       -- kept as-is
         ∪ (matched target rows ⋈ source values)        -- update all
         ∪ (source rows with no target key match)       -- insert

"update all" replaces every column of EACH matched target row with the
source row — duplicate-key target rows each survive as one updated
copy (SQL/Delta MERGE preserves target multiplicity; found by the
hypothesis property suite).
Delta raises on multiple source rows matching one target row; we expose
``source_dedup_order`` to make the source unique per key first
(deterministically), or raise like Delta when duplicates remain.

Plan: ONE full outer equi-join on the merge keys — each input scanned
once, one shuffle each side, nothing materialized on the driver. Null
keys never match (SQL equality): like Delta, null-key source rows fall
through to the insert branch and null-key target rows are kept.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from python_tool_setup_spark.operators.relational import dedup_by_keys

MERGE_MARKER = "__merge_src"


class MergeKeyError(ValueError):
    """Duplicate merge keys in source (Delta would raise the same)."""


class ConcurrentMergeError(RuntimeError):
    """A touched bucket changed between this merge's read and its
    promote — the optimistic-concurrency conflict Delta raises as
    ConcurrentAppend/DeleteException (reference ``framework.py:227-231``
    relies on Delta's check; the parquet-bucket fallback reproduces it
    at bucket granularity). Disjoint-bucket writers never see it; the
    loser of an overlapping race must re-run (replay is a fixpoint)."""


def merge_upsert(
    target: DataFrame,
    source: DataFrame,
    keys: Sequence[str],
    source_dedup_order: Sequence | None = None,
    check_duplicate_source_keys: bool = False,
    evolve_schema: bool = False,
) -> DataFrame:
    """Return the merged relation: matched targets replaced by their
    source row, unmatched source rows appended, unmatched targets kept.

    ``evolve_schema=True`` is the Delta ``mergeSchema``/autoMerge
    behavior for a source that ADDS columns: the target gains each new
    column (null for pre-existing rows), then the merge proceeds on the
    widened schema. The source must carry every target column.

    Cost trade-off: each input is scanned once, but whole target rows
    (not just their keys) are shuffled on the keys — a keys-only
    anti-join plan shuffles less yet scans the target three times.
    Either way it is an O(table) rewrite; at scale use
    :func:`merge_upsert_bucketed` or Delta.
    """
    keys = list(keys)
    if MERGE_MARKER in target.columns or MERGE_MARKER in source.columns:
        raise MergeKeyError(f"column {MERGE_MARKER!r} is reserved for merge_upsert")
    if evolve_schema:
        missing = [c for c in target.columns if c not in source.columns]
        if missing:
            raise MergeKeyError(
                f"schema evolution requires the source to carry every "
                f"target column; missing {missing}"
            )
        for field in source.schema.fields:
            if field.name not in target.columns:
                target = target.withColumn(
                    field.name, F.lit(None).cast(field.dataType)
                )
    source = source.select(*target.columns)  # align column order/schema

    if source_dedup_order is not None:
        source = dedup_by_keys(source, keys, source_dedup_order)
    elif check_duplicate_source_keys:
        dup = (
            source.groupBy(*keys).count().filter(F.col("count") > 1).limit(1).count()
        )
        if dup:
            raise MergeKeyError(
                f"source has multiple rows per merge key {keys}; "
                "pass source_dedup_order or pre-aggregate"
            )

    # A row carrying the marker came from the source (update or
    # insert), else it is an untouched target row. Each duplicate-key
    # target row pairs with every matching source row: one updated copy
    # per pair (SQL MERGE preserves target multiplicity).
    matched = _qcol("s", MERGE_MARKER).isNotNull()
    joined = target.alias("t").join(
        source.withColumn(MERGE_MARKER, F.lit(True)).alias("s"),
        on=[_qcol("t", k) == _qcol("s", k) for k in keys],
        how="full_outer",
    )
    return joined.select(*[
        F.when(matched, _qcol("s", c)).otherwise(_qcol("t", c)).alias(c)
        for c in target.columns
    ])


def _qcol(alias: str, name: str):
    """Column ``name`` of the join side ``alias`` (backtick-escaped)."""
    return F.col(f"{alias}.`{name.replace('`', '``')}`")


# ------------------------------------------- partition-pruned merge ----
BUCKET_COL = "__bucket"


def bucket_of(keys: Sequence[str], num_buckets: int):
    """Deterministic bucket id for a key tuple (xxhash64 → pmod)."""
    return F.pmod(F.xxhash64(*[F.col(k) for k in keys]), F.lit(num_buckets))


def write_bucketed_target(
    df: DataFrame,
    path: str,
    keys: Sequence[str],
    num_buckets: int,
    fmt: str = "parquet",
) -> None:
    """Lay a merge target out as hash-bucket partition dirs
    (``__bucket=N/``) so future merges rewrite only touched buckets.

    Rows are shuffled onto their bucket before the write so each task
    writes exactly ONE bucket dir (one file per bucket) instead of
    every task appending a sliver to every dir — num_tasks × num_buckets
    small files is the classic partitionBy write amplification. At
    larger volumes raise the partition count to a multiple of
    ``num_buckets`` for more write parallelism (files-per-bucket > 1 is
    fine; the merge prunes by directory)."""
    bucketed = df.withColumn(BUCKET_COL, bucket_of(keys, num_buckets))
    bucketed.repartition(num_buckets, F.col(BUCKET_COL)).write.partitionBy(
        BUCKET_COL
    ).mode("overwrite").format(fmt).save(path)


def merge_upsert_bucketed(
    spark,
    target_path: str,
    source: DataFrame,
    keys: Sequence[str],
    num_buckets: int,
    fmt: str = "parquet",
    source_dedup_order: Sequence | None = None,
    on_staged=None,
) -> list[int]:
    """MERGE into a bucket-partitioned target touching ONLY the buckets
    the source hashes into; returns the rewritten bucket ids.

    This is the 100 TB shape of the Parquet-fallback merge: a naive
    rewrite is O(table) per batch, but with the target laid out by
    ``write_bucketed_target`` the work is O(touched buckets) — the same
    file-pruning idea as Delta's join-based MERGE rewrite. The driver
    sees only the distinct bucket ID LIST (bounded by ``num_buckets``,
    metadata not data). Untouched bucket dirs are not read, not
    rewritten, not renamed.

    Each touched bucket is promoted with a metadata-only dir rename;
    replaying the same source is a fixpoint per bucket, so a failure
    between bucket promotes is repaired by rerunning the merge.

    Optimistic concurrency (Delta's writer-conflict model at bucket
    granularity): the file listing of every touched bucket is snapshot
    at read time and re-checked immediately before that bucket's
    promote; a mismatch raises :class:`ConcurrentMergeError` before
    the stale result overwrites the other writer's commit. Two merges
    into DISJOINT bucket sets therefore both commit; overlapping
    writers conflict detectably. ``on_staged`` (optional) runs after
    the staging write and before any promote — a commit-hook seam for
    metrics and for deterministic conflict tests.
    """
    import uuid

    from python_tool_setup_spark.sources.fs import (
        delete_path,
        list_files,
        path_exists,
        replace_dir,
    )

    def _fingerprint(bucket: int):
        bdir = f"{target_path}/{BUCKET_COL}={bucket}"
        if not path_exists(spark, bdir):
            return None
        return sorted((name, size) for name, size, _ in list_files(spark, bdir))

    keys = list(keys)
    src = source.withColumn(BUCKET_COL, bucket_of(keys, num_buckets))
    touched = sorted(r[0] for r in src.select(BUCKET_COL).distinct().collect())
    read_state = {b: _fingerprint(b) for b in touched}
    existing = [b for b in touched if read_state[b] is not None]
    if existing:
        tgt = (
            spark.read.format(fmt)
            .option("basePath", target_path)
            .load([f"{target_path}/{BUCKET_COL}={b}" for b in existing])
        )
        merged = merge_upsert(
            tgt, src.select(*tgt.columns), keys,
            source_dedup_order=source_dedup_order,
        )
    else:
        merged = src
        if source_dedup_order is not None:
            merged = dedup_by_keys(merged, keys, source_dedup_order)
    staging = f"{target_path.rstrip('/')}__mstage_{uuid.uuid4().hex[:8]}"
    merged.write.partitionBy(BUCKET_COL).mode("overwrite").format(fmt).save(staging)
    if on_staged is not None:
        on_staged()
    conflicts = [b for b in touched if _fingerprint(b) != read_state[b]]
    if conflicts:
        delete_path(spark, staging)
        raise ConcurrentMergeError(
            f"buckets {conflicts} changed since this merge read them; "
            "another writer committed first — re-run the merge"
        )
    for b in touched:
        bdir = f"{BUCKET_COL}={b}"
        replace_dir(spark, f"{staging}/{bdir}", f"{target_path}/{bdir}")
    delete_path(spark, staging)
    return touched


def read_bucketed_target(spark, target_path: str, fmt: str = "parquet") -> DataFrame:
    """Read a bucketed merge target (bucket col dropped)."""
    return spark.read.format(fmt).load(target_path).drop(BUCKET_COL)


def merge_apply_cdc(
    target: DataFrame,
    changes: DataFrame,
    keys: Sequence[str],
    op_col: str = "_op",
    order_col: str | None = None,
) -> DataFrame:
    """Apply a CDC log onto a snapshot: each change row carries
    ``op_col`` ∈ {'upsert', 'delete'}; the latest change per key wins
    (by ``order_col`` if given, else the log is assumed pre-compacted
    to one row per key), upserts replace-or-append exactly like
    :func:`merge_upsert`, and deletes REMOVE matching target rows —
    the whenMatchedDelete arm a plain upsert merge lacks.

    One window (if compaction is needed) + one anti-join on the merge
    keys, which keeps target rows whose key has no change; surviving
    upserts are appended. O(target + changes) with shuffles only on the
    merge key — CDC volume, not table size, drives the cost of a
    typical incremental apply.

    Op validation is LAZY: unknown or NULL ops abort the apply when
    the returned plan first executes (Spark raises a
    ``SparkRuntimeException`` wrapping the USER_RAISED_EXCEPTION from
    ``raise_error``), not as an eager ``ValueError`` at call time —
    the guard rides the plan so validation costs zero extra scans.
    Callers quarantining bad batches must catch around the ACTION
    (write/collect), not around this call.
    """
    keys = list(keys)
    # Fail on unknown or NULL ops: the anti-join removes EVERY changed
    # key, so a typo'd or NULL op would otherwise be a silent delete.
    # The raise_error guard rides the apply plan (no extra scan).
    op_ok = F.col(op_col).isNotNull() & F.col(op_col).isin("upsert", "delete")
    changes = changes.withColumn(
        op_col,
        F.when(op_ok, F.col(op_col)).otherwise(
            F.raise_error(
                F.concat(
                    F.lit(
                        f"merge_apply_cdc: unknown op in {op_col!r} "
                        "(expected 'upsert' or 'delete'): "
                    ),
                    F.coalesce(F.col(op_col), F.lit("NULL")),
                )
            )
        ),
    )
    if order_col is not None:
        changes = dedup_by_keys(changes, keys, [F.col(order_col).desc()])
    untouched = target.join(changes.select(*keys), on=keys, how="left_anti")
    upserts = changes.filter(F.col(op_col) == "upsert").select(*target.columns)
    return untouched.unionByName(upserts)
