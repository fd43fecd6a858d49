"""Readers: JDBC, CSV, parquet, path probe, watermark (S1-S3, S6-S7).

The reference reads its OLTP source with a hand-rolled sequential chunk
loop -- subquery-as-table ``BETWEEN`` slices of 1M rows each
(ingestToBronze.py:43-74) -- and ingests CSV with a 5-hour single-process
pandas loop (scripts/ingest-data.py:20-56). Both collapse to single
parallel Spark reads here: JDBC ``partitionColumn`` bounds give N
concurrent range scans with the same pushed-down predicates, and the CSV
reader is a distributed scan with an explicit schema.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType


def read_parquet_table(
    spark: SparkSession, path: str, schema: StructType | None = None
) -> DataFrame:
    """S3: partition-discovering parquet scan. Without ``schema`` Spark
    runs a one-task job to read a footer and infer it; pass the schema
    the table was written with (partition columns last) to skip that
    job. Partition values are still discovered from the directory
    names."""
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.parquet(path)


def read_csv_table(
    spark: SparkSession, path: str, schema: StructType | None = None
) -> DataFrame:
    """S6 rebuilt: one distributed CSV read replaces the reference's
    chunked pandas->Postgres loop. Explicit schema avoids the
    double-pass inference scan on a 30 GB file."""
    reader = spark.read.option("header", "true")
    if schema is not None:
        reader = reader.schema(schema)
    else:
        reader = reader.option("inferSchema", "true")
    return reader.csv(path)


def read_jdbc_partitioned(
    spark: SparkSession,
    url: str,
    table: str,
    partition_column: str,
    lower_bound: int,
    upper_bound: int,
    num_partitions: int = 32,
    fetchsize: int = 100_000,
    properties: dict[str, str] | None = None,
) -> DataFrame:
    """S1 rebuilt: parallel range-partitioned JDBC scan.

    The reference's sequential ``(SELECT * FROM t WHERE index BETWEEN lo
    AND hi) tbl`` loop (ingestToBronze.py:63-74, defect D1: the loop never
    re-interpolated its bounds) becomes Spark's built-in partitioned read:
    the same BETWEEN predicates, issued concurrently, with filter pushdown
    (``pushDownPredicate`` defaults true).
    """
    reader = (
        spark.read.format("jdbc")
        .option("url", url)
        .option("dbtable", table)
        .option("partitionColumn", partition_column)
        .option("lowerBound", str(lower_bound))
        .option("upperBound", str(upper_bound))
        .option("numPartitions", str(num_partitions))
        .option("fetchsize", str(fetchsize))
    )
    for k, v in (properties or {}).items():
        reader = reader.option(k, v)
    return reader.load()


def path_exists(spark: SparkSession, path: str) -> bool:
    """S7: HDFS/local path probe via the JVM FileSystem API (the
    reference's is_exist_path idiom, ingestToBronze.py:9-34), used for
    idempotent/incremental branches."""
    jvm = spark.sparkContext._jvm
    jsc = spark.sparkContext._jsc
    hadoop_path = jvm.org.apache.hadoop.fs.Path(path)
    fs = hadoop_path.getFileSystem(jsc.hadoopConfiguration())
    return bool(fs.exists(hadoop_path))


def high_watermark(df: DataFrame, column: str):
    """S2/G1: max(column) scalar for incremental resume
    (ingestToBronze.py:59-66). The one sanctioned driver-side collect:
    a single aggregated row."""
    return df.agg(F.max(column).alias("wm")).collect()[0]["wm"]


def read_json_table(
    spark: SparkSession, path: str, schema: StructType | None = None
) -> DataFrame:
    """JSON-lines scan. Explicit schema skips the inference pass (which
    reads the whole dataset once before the real scan -- never at 100 TB);
    unparseable rows land in ``_corrupt_record`` under the default
    PERMISSIVE mode instead of failing the job."""
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path)


def read_orc_table(spark: SparkSession, path: str) -> DataFrame:
    """ORC scan: same columnar pushdown/pruning contract as parquet."""
    return spark.read.orc(path)


def read_with_evolution(
    spark: SparkSession,
    path: str,
    target_schema: StructType,
) -> DataFrame:
    """Schema-evolution read: merge footers across file generations
    (``mergeSchema``) then CONFORM to ``target_schema`` — columns the
    old files lack become typed NULLs, columns the target dropped are
    pruned, and types are cast to the target's.

    This is how a lake survives schema change without rewriting 100 TB:
    old generations stay as written; evolution happens at read time.
    mergeSchema costs one footer read per file (a driver-side metadata
    pass, no data scan) and the conform projection is row-local. Writers
    only ever ADD nullable columns (rename/retype = new column + backfill)
    so every generation stays forward-readable; the conform step is what
    guarantees a stable contract to downstream code regardless of which
    generations a scan touches.
    """
    from pyspark.sql import functions as F

    df = spark.read.option("mergeSchema", "true").parquet(path)
    cols = []
    for field in target_schema.fields:
        if field.name in df.columns:
            cols.append(F.col(field.name).cast(field.dataType).alias(field.name))
        else:
            cols.append(F.lit(None).cast(field.dataType).alias(field.name))
    return df.select(*cols)
