"""Medallion pipeline runner: bronze -> silver -> gold -> warehouse.

Replaces the reference's Airflow DAG + four spark-submit jobs
(mnt/airflow/dags/flight_pipeline.py:26-95) with an in-process call graph:
orchestration added no query semantics, so each stage is a plain function
and the DAG is Python control flow. Every stage remains a pure
``DataFrame -> DataFrame`` transform; this module owns all IO.

IO contract: each stage makes exactly one schema-inferring read, of its
input (the bronze source is the caller's frame; silver reads bronze;
gold and warehouse read silver). Every table a stage writes is read
back -- for the returned frames, the bronze watermark probe and the
left-anti dim lookups -- with the schema of the frame that wrote it, so
no footer-inference job runs for it. Nothing is cached: every consumer
of silver is its own column-pruned parquet scan.

Layout under ``lake_root``:
    bronze/flights/      raw + year/month/day partitions (append)
    silver/flights/      cleaned/typed with arrays       (append)
    gold/<table>/        business aggregates             (overwrite)
    warehouse/<dim|fact> star schema                     (incremental dims)
"""

from __future__ import annotations

import datetime as dt
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from flights_etl_pipeline_spark.operators import gold, silver, warehouse
from flights_etl_pipeline_spark.sources.readers import (
    high_watermark,
    path_exists,
    read_parquet_table,
)
from flights_etl_pipeline_spark.sources.sinks import write_partitioned_parquet


@dataclass
class PipelineResult:
    bronze_rows: int
    silver_rows: int
    gold_revenue_rows: int
    gold_fbc_rows: int
    dim_date_rows: int
    dim_airline_rows: int
    dim_airport_rows: int
    fact_rows: int


def run_bronze(
    spark: SparkSession, source: DataFrame, lake_root: str
) -> DataFrame:
    """Bronze: land raw rows with partition columns; incremental via
    high-watermark on ``index`` (ingestToBronze.py:59-84, defects D1
    fixed by construction -- no stale-bound loop)."""
    path = f"{lake_root}/bronze/flights"
    staged = silver.with_partition_cols(
        source.withColumn("searchDate", F.to_date("searchDate", "yyyy-MM-dd")),
        "searchDate",
    ).withColumn("searchDate", F.col("searchDate").cast("string"))
    bronze_schema = staged.schema
    if path_exists(spark, path):
        index = StructType([bronze_schema["index"]])
        wm = high_watermark(read_parquet_table(spark, path, index), "index")
        if wm is not None:
            staged = staged.filter(F.col("index") > F.lit(int(wm)))
    write_partitioned_parquet(staged, path, ("year", "month", "day"))
    return read_parquet_table(spark, path, bronze_schema)


def run_silver(spark: SparkSession, lake_root: str) -> DataFrame:
    """Silver: clean/type/arrays over bronze, partitioned append
    (transformToSilver.py rebuilt; single write, no chunk loop)."""
    bronze = read_parquet_table(spark, f"{lake_root}/bronze/flights")
    out = silver.to_silver(bronze.drop("year", "month", "day"))
    out = silver.with_partition_cols(out, "searchDate")
    path = f"{lake_root}/silver/flights"
    write_partitioned_parquet(out, path, ("year", "month", "day"), mode="overwrite")
    return read_parquet_table(spark, path, out.schema)


def run_gold(
    spark: SparkSession, lake_root: str, as_of: dt.date
) -> tuple[DataFrame, DataFrame]:
    """Gold: the two business aggregates (updateToGold.py rebuilt;
    overwrite -- they are full recomputes, and AQE sizes the output
    instead of repartition(10000))."""
    sil = read_parquet_table(spark, f"{lake_root}/silver/flights")
    # No persist (the reference caches silver, updateToGold.py:28). Each
    # aggregate is its own column-pruned parquet scan -- revenue reads 4
    # columns, fare basis 2 -- while a cache holds all ~25 silver columns,
    # arrays included, deserialized at many times the parquet bytes; at
    # 30 GB it would also spill.
    rev = gold.revenue_by_year_month_airline(sil, as_of)
    rev_path = f"{lake_root}/gold/revenue_n_seat_remain_ym"
    rev.write.mode("overwrite").parquet(rev_path)
    fbc = gold.fare_basis_duration(sil)
    fbc_path = f"{lake_root}/gold/fbc_travel_duration_relation"
    fbc.write.mode("overwrite").parquet(fbc_path)
    return (
        read_parquet_table(spark, rev_path, rev.schema),
        read_parquet_table(spark, fbc_path, fbc.schema),
    )


def run_warehouse(spark: SparkSession, lake_root: str) -> dict[str, DataFrame]:
    """Warehouse: incremental dims (left-anti vs existing) + fact append.
    Like gold, silver is not cached: each dim scans 1-2 silver columns
    and the fact table the flat ones only."""
    sil = read_parquet_table(spark, f"{lake_root}/silver/flights")
    out: dict[str, DataFrame] = {}
    for name, build, key in (
        ("dim_date", warehouse.build_dim_date, "date"),
        ("dim_airline", warehouse.build_dim_airline, "airline_code"),
        ("dim_airport", warehouse.build_dim_airport, "airport_code"),
    ):
        path = f"{lake_root}/warehouse/{name}"
        candidate = build(sil)
        existing = (
            read_parquet_table(spark, path, StructType([candidate.schema[key]]))
            if path_exists(spark, path)
            else None
        )
        new_rows = warehouse.incremental_new_rows(candidate, existing, key)
        new_rows.write.mode("append").parquet(path)
        out[name] = read_parquet_table(spark, path, candidate.schema)

    fact = warehouse.build_fact(sil)
    fact_path = f"{lake_root}/warehouse/fact_flight_activities"
    fact.write.mode("overwrite").parquet(fact_path)
    out["fact_flight_activities"] = read_parquet_table(spark, fact_path, fact.schema)
    return out


def run_pipeline(
    spark: SparkSession,
    source: DataFrame,
    lake_root: str,
    as_of: dt.date,
) -> PipelineResult:
    """Full bronze -> silver -> gold -> warehouse run (the DAG's edges,
    flight_pipeline.py:94-95, as plain sequencing)."""
    bronze = run_bronze(spark, source, lake_root)
    sil = run_silver(spark, lake_root)
    rev, fbc = run_gold(spark, lake_root, as_of)
    wh = run_warehouse(spark, lake_root)
    return PipelineResult(
        bronze_rows=bronze.count(),
        silver_rows=sil.count(),
        gold_revenue_rows=rev.count(),
        gold_fbc_rows=fbc.count(),
        dim_date_rows=wh["dim_date"].count(),
        dim_airline_rows=wh["dim_airline"].count(),
        dim_airport_rows=wh["dim_airport"].count(),
        fact_rows=wh["fact_flight_activities"].count(),
    )
