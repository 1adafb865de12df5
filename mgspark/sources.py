"""Sources for every engine surface (SURVEY.md §2.4 "scans/sources/sinks"
row): parquet paths, catalog tables — ``table:NAME`` (session catalog)
— and ``iceberg:catalog.db.table`` (Apache Iceberg DataSource-V2 reader
with snapshot time-travel), the BASELINE input shape at 10^12-file scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

__all__ = ["load_table"]

_ICEBERG_HINT = (
    "the Iceberg DataSource is not on this Spark classpath; submit with "
    "--packages org.apache.iceberg:iceberg-spark-runtime-4.0_2.13:<version> "
    "and configure the catalog, e.g. "
    "--conf spark.sql.catalog.<name>=org.apache.iceberg.spark.SparkCatalog "
    "--conf spark.sql.catalog.<name>.type=hive|hadoop|rest"
)


def load_table(
    spark: SparkSession,
    uri: str,
    *,
    snapshot_id: int | None = None,
    as_of_timestamp: int | None = None,
    columns: list[str] | None = None,
) -> DataFrame:
    """Unified input dispatch for every engine surface (CLI, jobs, tests).

    URI forms, most-capable first:

    * ``iceberg:catalog.db.table`` — Apache Iceberg table through the
      DataSource-V2 reader.  ``snapshot_id`` / ``as_of_timestamp`` (ms
      since epoch) map to the reader's time-travel options, which is the
      lineage anchor for resumable runs over a mutating 10^12-file
      table: a checkpointed job pins the snapshot it started from and
      re-reads exactly those files on resume.  Requires the
      ``iceberg-spark-runtime`` jar (not bundled here — the error
      message carries the spark-submit recipe).
    * ``table:NAME`` — session catalog (temp view, Hive metastore, or
      any configured V2 catalog, including an Iceberg catalog addressed
      by its SQL name).
    * anything else — parquet path or glob.

    ``columns`` prunes the projection at the scan (ReadSchema), which
    both the parquet and Iceberg readers push into the file format.
    Time-travel options are rejected for non-Iceberg URIs rather than
    silently ignored.
    """
    if snapshot_id is not None and as_of_timestamp is not None:
        raise ValueError("pass at most one of snapshot_id / as_of_timestamp")
    if uri.startswith("iceberg:"):
        name = uri[len("iceberg:"):]
        reader = spark.read.format("iceberg")
        if snapshot_id is not None:
            reader = reader.option("snapshot-id", int(snapshot_id))
        if as_of_timestamp is not None:
            reader = reader.option("as-of-timestamp", int(as_of_timestamp))
        try:
            df = reader.load(name)
        except Exception as exc:  # noqa: BLE001 — classify the V2 lookup failure
            msg = str(exc)
            if "DATA_SOURCE_NOT_FOUND" in msg or "Failed to find" in msg or "iceberg" in msg.lower():
                raise RuntimeError(f"cannot read {uri!r}: {_ICEBERG_HINT}") from exc
            raise
    else:
        if snapshot_id is not None or as_of_timestamp is not None:
            raise ValueError(
                "snapshot_id / as_of_timestamp are Iceberg time-travel options; "
                f"{uri!r} is not an iceberg: URI"
            )
        if uri.startswith("table:"):
            df = spark.read.table(uri[len("table:"):])
        else:
            df = spark.read.parquet(uri)
    if columns is not None:
        df = df.select(*columns)
    return df
