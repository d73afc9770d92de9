"""The generic diff-audit operator — the reference's signature pattern.

Every mutating pipeline step in the reference follows one protocol
(SURVEY.md §2.10; canonical example
/root/reference/scripts/pipeline/02-clean-text-fields.py:108-173):
snapshot → transform → select changed rows → write updates + changelog
entries, recording only values that actually changed after normalization
(/root/reference/src/tagminder/core/tm_changes.py:1-16, 41-177; changelog
shape /root/reference/src/tagminder/core/tm_db.py:142-151).

Spark re-expression: one declarative operator serving all steps.
``diff_audit(old, new, key, cols)`` joins the before/after frames on the
identity key, builds an array of (column, old, new) structs for fields
whose *blank-normalized* values differ, explodes that array into
changelog rows, and uses its size as the ``__sqlmodded`` increment.
Both outputs derive from a single join — Catalyst computes the compare
once; at scale the join co-partitions on the key and the changelog is an
append-only sink.  Both land through the versioned table format:
:func:`~tagminder_spark.operators.table_manifest.merge_into_manifest`
for the updated rows, :func:`~tagminder_spark.operators.table_manifest.append_files`
for the changelog.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from tagminder_spark.functions.core import blank_to_null

#: Changelog schema mirrors tm_db.py:142-151 (rowid→path migration already
#: done by the reference; identity is the key column throughout).
CHANGELOG_COLS = ("alib_path", "alib_column", "old_value", "new_value", "script")


def _norm(c: Column) -> Column:
    return blank_to_null(c.cast("string"))


def diff_fields(old_prefix: str, new_prefix: str, cols: list[str]) -> Column:
    """Array of changed-field structs between two column namespaces."""
    structs = [
        F.when(
            ~_norm(F.col(f"{old_prefix}.{c}")).eqNullSafe(
                _norm(F.col(f"{new_prefix}.{c}"))
            ),
            F.struct(
                F.lit(c).alias("column"),
                _norm(F.col(f"{old_prefix}.{c}")).alias("old_value"),
                _norm(F.col(f"{new_prefix}.{c}")).alias("new_value"),
            ),
        )
        for c in cols
    ]
    return F.array_compact(F.array(*structs))


def diff_audit(
    old: DataFrame,
    new: DataFrame,
    key: str,
    cols: list[str],
    script: str = "",
) -> tuple[DataFrame, DataFrame]:
    """Return ``(updated_rows, changelog_rows)``.

    ``updated_rows``: the new-side rows whose tracked columns changed,
    with ``__sqlmodded`` incremented by the number of changed fields
    (the reference's dirty-row counter, tags2db.py:382-393).
    ``changelog_rows``: one row per changed field, CHANGELOG_COLS shape.
    """
    o = old.alias("o")
    n = new.alias("n")
    joined = o.join(n, F.col(f"o.{key}") == F.col(f"n.{key}"), "inner").select(
        F.col(f"n.*"),
        diff_fields("o", "n", cols).alias("__changes"),
        F.coalesce(F.col(f"o.__sqlmodded"), F.lit(0)).alias("__sqlmodded_old")
        if "__sqlmodded" in old.columns
        else F.lit(0).alias("__sqlmodded_old"),
    )
    changed = joined.filter(F.size("__changes") > 0)
    updated = changed.withColumn(
        "__sqlmodded",
        (F.col("__sqlmodded_old") + F.size("__changes")).cast("smallint"),
    ).drop("__changes", "__sqlmodded_old")
    changelog = (
        changed.select(
            F.col(key).cast("string").alias("alib_path"),
            F.explode("__changes").alias("ch"),
        )
        .select(
            "alib_path",
            F.col("ch.column").alias("alib_column"),
            F.col("ch.old_value").alias("old_value"),
            F.col("ch.new_value").alias("new_value"),
        )
        .withColumn("script", F.lit(script))
    )
    return updated, changelog

