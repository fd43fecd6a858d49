"""End-to-end medallion pipeline test on the synthetic flights fixture.

Expected values come from an *independent* DuckDB implementation of the
intended semantics (SURVEY.md section 2.10 -- intent, not the reference's
bugs), never from the code under test. Also asserts idempotence: a second
run with the same source must not change bronze (watermark) or the dims
(left-anti incremental).

The stage-by-stage tests pin the pipeline's IO contract: every frame a
stage returns carries exactly the schema a fresh parquet read infers,
each stage stays within its Spark-job budget (one inferred read of its
input, no footer-inference job for tables it wrote), and no stage
caches.
"""

from __future__ import annotations

import datetime as dt
import math

import duckdb
import pytest
from pyspark.sql.types import IntegerType

from flights_etl_pipeline_spark.plans import pipeline
from flights_etl_pipeline_spark.plans.pipeline import run_pipeline
from tests.flights_fixture import make_flights

AS_OF = dt.date(2022, 12, 31)


@pytest.fixture(scope="module")
def raw_pdf():
    return make_flights(n=1500, seed=42)


@pytest.fixture(scope="module")
def oracle(raw_pdf):
    con = duckdb.connect()
    con.register("raw", raw_pdf)
    con.sql(
        """
        CREATE VIEW silver_o AS
        SELECT *,
               string_split(segmentsAirlineCode, '||') AS codes,
               string_split(segmentsAirlineName, '||') AS names,
               CAST(searchDate AS DATE) AS searchD,
               CAST(flightDate AS DATE) AS flightD
        FROM raw
        WHERE baseFare <= totalFare AND seatsRemaining >= 0
        """
    )
    return con


@pytest.fixture(scope="module")
def result(spark, raw_pdf, tmp_path_factory):
    lake = str(tmp_path_factory.mktemp("lake"))
    source = spark.createDataFrame(raw_pdf)
    res = run_pipeline(spark, source, lake, AS_OF)
    return res, lake, source


def test_bronze_and_silver_counts(result, oracle, raw_pdf):
    res, _, _ = result
    assert res.bronze_rows == len(raw_pdf)
    want_silver = oracle.sql("SELECT COUNT(*) FROM silver_o").fetchone()[0]
    assert res.silver_rows == want_silver
    assert res.fact_rows == want_silver


def test_gold_revenue_matches_oracle(result, oracle, spark):
    _, lake, _ = result
    got = {
        (r.year, r.month, r.airline): (r.sum_total_fare, r.avg_seats_remaining)
        for r in spark.read.parquet(
            f"{lake}/gold/revenue_n_seat_remain_ym"
        ).collect()
    }
    want = {
        (y, m, a): (s, av)
        for y, m, a, s, av in oracle.sql(
            f"""
            SELECT YEAR(flightD), MONTH(flightD), codes[1],
                   CAST(SUM(CAST(totalFare AS DECIMAL(18,2))) AS DOUBLE),
                   FLOOR(AVG(CAST(seatsRemaining AS DOUBLE)) * 100 + 0.5) / 100
            FROM silver_o
            WHERE LEN(LIST_DISTINCT(codes)) = 1
              AND flightD < DATE '{AS_OF.isoformat()}' + INTERVAL 1 DAY
            GROUP BY 1, 2, 3
            """
        ).fetchall()
    }
    assert set(got) == set(want)
    for k, (s, av) in want.items():
        assert math.isclose(got[k][0], s, rel_tol=1e-9), k
        assert math.isclose(got[k][1], av, rel_tol=1e-9, abs_tol=1e-9), k


def test_fbc_gold_matches_oracle(result, oracle, spark):
    _, lake, _ = result
    got = {
        r.fareBasisCode: (r.avg_travel_duration, r.n_itineraries)
        for r in spark.read.parquet(
            f"{lake}/gold/fbc_travel_duration_relation"
        ).collect()
    }
    want = {
        fbc: (avg, n)
        for fbc, avg, n in oracle.sql(
            """
            SELECT TRIM(fareBasisCode),
                   FLOOR(AVG(CASE WHEN regexp_matches(travelDuration,
                               '^PT(\\d+H)?(\\d+M)?$')
                        THEN COALESCE(TRY_CAST(regexp_extract(travelDuration,
                               '^PT(?:(\\d+)H)?(?:(\\d+)M)?$', 1) AS INT), 0) * 60
                           + COALESCE(TRY_CAST(regexp_extract(travelDuration,
                               '^PT(?:(\\d+)H)?(?:(\\d+)M)?$', 2) AS INT), 0)
                        END * 1.0) * 100 + 0.5) / 100,
                   COUNT(*)
            FROM silver_o GROUP BY 1
            """
        ).fetchall()
    }
    assert set(got) == set(want)
    for k, (avg, n) in want.items():
        assert got[k][1] == n, k
        assert math.isclose(got[k][0], avg, rel_tol=1e-9, abs_tol=1e-9), k


def test_dims_match_oracle(result, oracle):
    res, _, _ = result
    want_dates = oracle.sql(
        "SELECT COUNT(DISTINCT d) FROM (SELECT UNNEST([searchD, flightD]) AS d FROM silver_o)"
    ).fetchone()[0]
    want_airlines = oracle.sql(
        """
        SELECT COUNT(*) FROM (
          SELECT DISTINCT UNNEST(codes) AS c, UNNEST(names) AS n FROM silver_o)
        """
    ).fetchone()[0]
    want_airports = oracle.sql(
        """
        SELECT COUNT(DISTINCT a) FROM (
          SELECT UNNEST(string_split(segmentsArrivalAirportCode, '||')) AS a
          FROM silver_o
          UNION ALL
          SELECT UNNEST(string_split(segmentsDepartureAirportCode, '||'))
          FROM silver_o)
        """
    ).fetchone()[0]
    assert res.dim_date_rows == want_dates
    assert res.dim_airline_rows == want_airlines
    assert res.dim_airport_rows == want_airports


def test_fact_has_count_segments(result, spark):
    _, lake, _ = result
    fact = spark.read.parquet(f"{lake}/warehouse/fact_flight_activities")
    assert "count_segments" in fact.columns  # defect D7 fixed
    assert fact.filter("count_segments >= 1").count() > 0
    arrays_left = [f for f in fact.schema.fields if "Array" in f.name]
    assert not arrays_left


def test_second_run_is_idempotent(result, spark):
    res1, lake, source = result
    res2 = run_pipeline(spark, source, lake, AS_OF)
    # watermark blocks re-ingest; dims stay stable under the left-anti load
    assert res2.bronze_rows == res1.bronze_rows
    assert res2.silver_rows == res1.silver_rows
    assert res2.dim_date_rows == res1.dim_date_rows
    assert res2.dim_airline_rows == res1.dim_airline_rows
    assert res2.dim_airport_rows == res1.dim_airport_rows
    assert res2.fact_rows == res1.fact_rows


# Spark jobs per stage (fresh lake, re-run). Fresh: one inferred read of
# the stage's input, then its writes (an aggregate or distinct write is
# a shuffle-map job plus the write job). The re-run adds the bronze
# watermark probe (2 jobs) and the three left-anti dim lookups. One more
# inference read or an eager action in any stage breaks its budget.
JOB_BUDGET = {
    "bronze": (1, 3),
    "silver": (2, 2),
    "gold": (5, 5),
    "warehouse": (8, 11),
}


def _persistent_rdd_ids(sc) -> set[int]:
    return {int(k) for k in sc._jsc.getPersistentRDDs().keySet()}


@pytest.fixture(scope="module")
def stage_runs(spark, raw_pdf, tmp_path_factory):
    """Run the four stages one by one, twice over one lake. Records per
    run and stage: the Spark jobs in the stage's job group, RDDs left
    persisted, persist or cache calls made while the stage ran, and --
    once the run is done, before the next one rewrites the lake -- each
    returned frame's schema and row count next to a fresh inferring
    read of its path."""
    lake = str(tmp_path_factory.mktemp("lake_stages"))
    source = spark.createDataFrame(raw_pdf)
    sc = spark.sparkContext
    frame_cls = type(source)
    calls: list[str] = []

    def recording(name):
        orig = getattr(frame_cls, name)

        def wrapper(self, *args, **kwargs):
            calls.append(name)
            return orig(self, *args, **kwargs)

        return wrapper

    stages = (
        ("bronze", lambda: {"bronze/flights": pipeline.run_bronze(spark, source, lake)}),
        ("silver", lambda: {"silver/flights": pipeline.run_silver(spark, lake)}),
        ("gold", lambda: dict(zip(
            ("gold/revenue_n_seat_remain_ym", "gold/fbc_travel_duration_relation"),
            pipeline.run_gold(spark, lake, AS_OF),
        ))),
        ("warehouse", lambda: {
            f"warehouse/{name}": df
            for name, df in pipeline.run_warehouse(spark, lake).items()
        }),
    )
    runs = []
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(frame_cls, "persist", recording("persist"))
        mp.setattr(frame_cls, "cache", recording("cache"))
        for run in range(2):
            per_stage = {}
            for stage, call in stages:
                group = f"test_pipeline_e2e.{run}.{stage}"
                before = _persistent_rdd_ids(sc)
                calls.clear()
                sc.setJobGroup(group, group)
                try:
                    frames = call()
                finally:
                    sc.setLocalProperty("spark.jobGroup.id", None)
                    sc.setLocalProperty("spark.job.description", None)
                sc._jsc.sc().listenerBus().waitUntilEmpty()
                per_stage[stage] = {
                    "frames": frames,
                    "jobs": len(sc.statusTracker().getJobIdsForGroup(group)),
                    "persisted": _persistent_rdd_ids(sc) - before,
                    "cache_calls": list(calls),
                }
            for rec in per_stage.values():
                rec["frames"] = {
                    path: (df.schema, df.count(), inferred.schema, inferred.count())
                    for path, df in rec["frames"].items()
                    for inferred in [spark.read.parquet(f"{lake}/{path}")]
                }
            runs.append(per_stage)
    return runs


@pytest.mark.parametrize("run", [0, 1], ids=["fresh", "rerun"])
def test_returned_schemas_match_parquet_inference(stage_runs, run):
    for stage, rec in stage_runs[run].items():
        for path, (schema, rows, inferred, inferred_rows) in rec["frames"].items():
            assert schema == inferred, (stage, path)
            assert rows == inferred_rows, (stage, path)
    for stage in ("bronze", "silver"):
        schema = stage_runs[run][stage]["frames"][f"{stage}/flights"][0]
        assert schema.names[-3:] == ["year", "month", "day"]
        assert all(isinstance(f.dataType, IntegerType) for f in schema.fields[-3:])


@pytest.mark.parametrize("run", [0, 1], ids=["fresh", "rerun"])
def test_stage_job_budget_and_no_cache(stage_runs, run):
    for stage, rec in stage_runs[run].items():
        assert rec["jobs"] <= JOB_BUDGET[stage][run], (stage, rec["jobs"])
        assert not rec["persisted"], (stage, rec["persisted"])
        assert not rec["cache_calls"], (stage, rec["cache_calls"])


def test_compaction_reduces_file_count(spark, tmp_path):
    """Many tiny appended files -> one compacted generation, same rows."""
    from pyspark.sql import functions as F

    from flights_etl_pipeline_spark.sources.sinks import compact_parquet_dir

    path = str(tmp_path / "smallfiles")
    for batch in range(6):  # simulate drip appends: 6 writes x 4 files
        (
            spark.range(batch * 400, (batch + 1) * 400)
            .repartition(4)
            .select(F.col("id"), (F.col("id") % 7).alias("g"))
            .write.mode("append")
            .parquet(path)
        )
    expected = spark.read.parquet(path).agg(F.sum("id")).first()[0]
    before, after = compact_parquet_dir(spark, path, target_records_per_file=10_000)
    assert before >= 24
    assert after < before
    assert after <= 4  # 2400 rows at 10k/file -> a handful of AQE splits
    got = spark.read.parquet(path).agg(F.sum("id")).first()[0]
    assert got == expected
