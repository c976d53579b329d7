"""Sources / sinks (SURVEY.md §2.1).

- CSV ingest with delimiter sniffing (reference dataset.py:94-112 uses
  csv.Sniffer on the file head; we sniff a driver-side sample then hand the
  scan to Spark's distributed CSV reader);
- parquet sink with bounded file sizes (the reference caps uploads at
  512 MB, dataset.py:63 — distributed analog: maxRecordsPerFile);
- Iceberg writers when a catalog is configured (gated — no Iceberg runtime
  in this sandbox), parquet snapshot fallback otherwise.
"""

from __future__ import annotations

import csv

from pyspark.sql import DataFrame, SparkSession


def sniff_delimiter(path: str, sample_bytes: int = 64 * 1024) -> str:
    """csv.Sniffer on the file head (driver-side, one small read)."""
    import builtins

    with builtins.open(path, "r", errors="replace") as f:
        sample = f.read(sample_bytes)
    try:
        return csv.Sniffer().sniff(sample, delimiters=",;\t|").delimiter
    except csv.Error:
        return ","


def read_csv_auto(
    spark: SparkSession, path: str, header: bool = True, infer_schema: bool = True
) -> DataFrame:
    """Distributed CSV scan with a sniffed delimiter."""
    sep = sniff_delimiter(path)
    return (
        spark.read.option("header", header)
        .option("inferSchema", infer_schema)
        .option("sep", sep)
        .csv(path)
    )


def write_parquet_bounded(
    df: DataFrame, path: str, max_records_per_file: int = 1_000_000,
    partition_by: list[str] | None = None, mode: str = "overwrite",
) -> None:
    """Parquet sink with bounded output files (the scalable analog of the
    reference's 512 MB upload cap)."""
    w = df.write.mode(mode).option("maxRecordsPerFile", max_records_per_file)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)


def dump_input(
    df: DataFrame,
    dump_dir: str,
    name: str = "x",
    max_bytes: int = 512 * 1024 * 1024,
) -> str | None:
    """Debug input dump (features_enricher.py:5333-5430 dump_input): write
    the frame as zstd parquet under ``dump_dir/<name>-<digest>``, skipping
    when an identical digest was already dumped (the reference's
    is_file_uploaded dedup) or when the dump exceeds the 512 MB cap
    (MAX_UPLOADING_FILE_SIZE, dataset.py:63). Returns the dump path, or
    None when skipped for size.

    The digest is the engine's deterministic content digest
    (pipeline/lineage.py) — partition-layout-invariant, so re-dumps of the
    same data dedup on any cluster size.
    """
    import os

    from upgini_spark.pipeline.lineage import content_digest

    digest = content_digest(df)
    target = os.path.join(dump_dir, f"{name}-{digest}")
    if os.path.isdir(target):  # already dumped (digest dedup)
        return target
    tmp = target + ".tmp"
    df.write.mode("overwrite").option("compression", "zstd").parquet(tmp)
    size = sum(
        os.path.getsize(os.path.join(root, f))
        for root, _, files in os.walk(tmp)
        for f in files
    )
    if size > max_bytes:
        import shutil

        shutil.rmtree(tmp, ignore_errors=True)
        return None
    os.rename(tmp, target)
    return target


def write_bucketed(
    df: DataFrame,
    table_name: str,
    bucket_cols: list[str],
    n_buckets: int,
    sort_cols: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Bucketed managed table (co-located join layout): both sides of a
    recurring equi-join written with the SAME bucket count on the join
    key scan shuffle-free — the exchange moves from every query to the
    one-time write. The 100 TB lever for repeated enrichment joins against
    a slowly-changing feature store; ``sort_cols`` additionally pre-sorts
    within buckets so as-of window stages start from sorted runs."""
    w = df.write.mode(mode).bucketBy(n_buckets, *bucket_cols)
    if sort_cols:
        w = w.sortBy(*sort_cols)
    w.format("parquet").saveAsTable(table_name)


def register_bucketed(
    spark,
    table_name: str,
    location: str,
    bucket_cols: list[str],
    n_buckets: int,
    sort_cols: list[str] | None = None,
) -> None:
    """Re-register an existing :func:`write_bucketed` layout in a fresh
    session's catalog as an EXTERNAL bucketed table. An ephemeral
    in-memory catalog forgets managed tables between sessions while the
    bucket-suffixed parquet files stay on disk — re-creating the table
    would fail with LOCATION_ALREADY_EXISTS, and reading the files as
    plain parquet would lose the bucket spec (and the shuffle-free
    plans). The bucket/sort spec passed here must match the original
    write."""
    schema = spark.read.parquet(location).schema
    cols = ", ".join(f"`{f.name}` {f.dataType.simpleString()}" for f in schema.fields)
    bcols = ", ".join(f"`{c}`" for c in bucket_cols)
    sort_clause = (
        " SORTED BY (" + ", ".join(f"`{c}`" for c in sort_cols) + ")"
        if sort_cols else ""
    )
    spark.sql(
        f"CREATE TABLE `{table_name}` ({cols}) USING PARQUET "
        f"CLUSTERED BY ({bcols}){sort_clause} INTO {n_buckets} BUCKETS "
        f"LOCATION '{location}'"
    )


def ensure_bucketed(
    spark,
    df_build,
    table_name: str,
    bucket_cols: list[str],
    n_buckets: int,
    sort_cols: list[str] | None = None,
) -> None:
    """Idempotent bucketed layout: already in the catalog → no-op; files
    on disk from an earlier session → re-register; otherwise build the
    DataFrame via ``df_build()`` and write it."""
    import os

    if spark.catalog.tableExists(table_name):
        return
    warehouse = spark.conf.get(
        "spark.sql.warehouse.dir", os.path.abspath("spark-warehouse")
    ).removeprefix("file:")
    location = os.path.join(warehouse, table_name)
    if os.path.isdir(location):
        register_bucketed(
            spark, table_name, location, bucket_cols, n_buckets, sort_cols
        )
    else:
        write_bucketed(df_build(), table_name, bucket_cols, n_buckets, sort_cols)
