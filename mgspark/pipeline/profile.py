"""Table profiling: the data-quality pass a large-scale pipeline runs
before training-data jobs — per-column null counts, distinct counts,
min/max — as one declarative aggregation.

Scale design: the default is ONE global aggregation job computing every
column's stats in a single pass over the scan (partial aggregation
map-side, final agg on one reducer row — no data-sized shuffle).
Distinct counts default to HLL (``approx_count_distinct``) because an
exact per-column distinct at 100 TB is a full shuffle per column;
``exact_distinct=True`` switches to exact ``count_distinct`` (still one
job — Spark expands multiple distinct aggregates) for bounded tables
and oracle checks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mgspark.session import local_frame

__all__ = ["profile_table", "corpus_delta"]


def profile_table(
    df: DataFrame,
    columns: list[str] | None = None,
    exact_distinct: bool = False,
) -> DataFrame:
    """One row per profiled column: (column, n_rows, n_nulls, n_distinct,
    min_str, max_str).

    min/max are cast to string so heterogeneous column types fit one
    schema; null-only columns yield null min/max.  All expressions live
    in one aggregation (single scan, map-side partials).
    """
    from pyspark.sql.types import ArrayType, MapType, StructType

    def contains_map(dt) -> bool:
        if isinstance(dt, MapType):
            return True
        if isinstance(dt, ArrayType):
            return contains_map(dt.elementType)
        if isinstance(dt, StructType):
            return any(contains_map(f.dataType) for f in dt.fields)
        return False

    if columns is None:
        columns = list(df.columns)
    distinct_fn = F.count_distinct if exact_distinct else F.approx_count_distinct
    aggs = [F.count(F.lit(1)).alias("_n")]
    for i, col in enumerate(columns):
        # Map-typed columns (alone or nested) are neither orderable nor
        # hashable in Spark — min/max/distinct would fail analysis and
        # abort the whole profiling job.  Profile their null count and
        # report the rest as null instead of dying on the one column.
        if contains_map(df.schema[col].dataType):
            aggs += [
                F.sum(F.col(col).isNull().cast("long")).alias(f"_nulls_{i}"),
                F.lit(None).cast("long").alias(f"_dist_{i}"),
                F.lit(None).cast("string").alias(f"_min_{i}"),
                F.lit(None).cast("string").alias(f"_max_{i}"),
            ]
            continue
        aggs += [
            F.sum(F.col(col).isNull().cast("long")).alias(f"_nulls_{i}"),
            distinct_fn(F.col(col)).alias(f"_dist_{i}"),
            F.min(F.col(col)).cast("string").alias(f"_min_{i}"),
            F.max(F.col(col)).cast("string").alias(f"_max_{i}"),
        ]
    row = df.agg(*aggs).first()
    # SUM over zero rows is null, so `or 0` keeps the empty-table profile
    # (the case a data-quality pass most wants to report) from crashing.
    out = [
        (
            col,
            int(row["_n"] or 0),
            int(row[f"_nulls_{i}"] or 0),
            None if row[f"_dist_{i}"] is None else int(row[f"_dist_{i}"]),
            row[f"_min_{i}"],
            row[f"_max_{i}"],
        )
        for i, col in enumerate(columns)
    ]
    return local_frame(
        df.sparkSession,
        out,
        "column string, n_rows long, n_nulls long, n_distinct long, "
        "min_str string, max_str string",
    )


def corpus_delta(
    old: DataFrame, new: DataFrame, col: str, group_col: str
) -> DataFrame:
    """Snapshot drift report between two corpus versions: one row per
    group — (group, added, removed, unchanged) counting DISTINCT
    ``col`` values (content identity) present only in ``new``, only in
    ``old``, or in both.

    The monitoring companion of :func:`mgspark.pipeline.dedup.
    dedup_incremental`: a rolling ingestion pipeline diffs each snapshot
    against the last to catch source collapses or crawl floods before
    training.  Scale shape: both sides are projected to
    (group, sha256) before any exchange — no text moves — then one
    combiner-friendly distinct per side and a full-outer join on the
    same (group, hash) key layout, so the join reuses the distinct's
    partitioning.  Output is group-cardinality-sized.
    """
    o = (
        old.select(
            F.col(group_col).alias("grp"), F.sha2(F.col(col), 256).alias("_h")
        )
        .distinct()
        .withColumn("_in_old", F.lit(1))
    )
    n = (
        new.select(
            F.col(group_col).alias("grp"), F.sha2(F.col(col), 256).alias("_h")
        )
        .distinct()
        .withColumn("_in_new", F.lit(1))
    )
    # Null-safe join keys: a null group (or null content -> null sha2)
    # present in both snapshots must count as UNCHANGED; plain equality
    # would split it into one added and one removed row.  DuckDB's
    # equivalent is IS NOT DISTINCT FROM.
    joined = o.join(
        n,
        o["grp"].eqNullSafe(n["grp"]) & o["_h"].eqNullSafe(n["_h"]),
        "full_outer",
    ).select(
        F.coalesce(o["grp"], n["grp"]).alias("grp"),
        o["_in_old"].alias("_in_old"),
        n["_in_new"].alias("_in_new"),
    )
    return (
        joined.groupBy("grp")
        .agg(
            F.sum(
                F.when(F.col("_in_old").isNull(), 1).otherwise(0)
            ).cast("long").alias("added"),
            F.sum(
                F.when(F.col("_in_new").isNull(), 1).otherwise(0)
            ).cast("long").alias("removed"),
            F.sum(
                F.when(
                    F.col("_in_old").isNotNull() & F.col("_in_new").isNotNull(), 1
                ).otherwise(0)
            ).cast("long").alias("unchanged"),
        )
        .select(F.col("grp").alias(group_col), "added", "removed", "unchanged")
    )
