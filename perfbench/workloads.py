"""The benchmark's workloads: their ops, inputs and oracles.

Every query op goes through ``__spark_entry__.queries()``, which ships the
package to Spark's Python workers, so no op depends on the working
directory. Query results are checked against ``__spark_entry__.oracle_sql()``
in DuckDB with the normalisation of ``tools/check_parity.py``; the medallion
pipeline is checked against an independent DuckDB computation over the
generated source rows.

Why each workload exists (and what it must not be confused with):

- ``medallion_etl``: the paper's own pipeline, full load then an
  incremental batch, then the dashboard reads. The only write-heavy
  workload and the only one that runs ``operators``, ``sources.sinks``,
  the watermark path and ``consumption``.
- ``dataprep_eager``: queries that do their work inside the query
  function before returning: rounds of eager Spark jobs, and a Structured
  Streaming dedup drained with ``Trigger.AvailableNow`` (micro-batch
  planning, offset/commit logs, the state store). It never touches the
  pipeline, and the medallion never calls a registered query, so each
  workload is the other's control.
"""

from __future__ import annotations

import datetime as dt
import importlib.util
import math
import os
import random
import re
import shutil
from collections.abc import Callable
from dataclasses import dataclass
from functools import partial

import duckdb
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession

from flights_gen import make_flights

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
# A byte copy of the fixed sf0.01 test tables (TESTDATA.md, seed 42), so the
# benchmark reads nothing outside its checkout.
DATA_DIR = os.path.join(BENCH_DIR, "data", "sf0.01")
TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


def _load(name: str, path: str):
    spec = importlib.util.spec_from_file_location(name, path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


@dataclass
class Op:
    """One benchmark op. ``call`` is the timed call into the program; when
    ``sink`` is set, the DataFrame it returns is then written to the noop
    sink (also timed). ``rows`` are the source rows the op carries."""

    name: str
    call: Callable[[], DataFrame | None]
    rows: int
    sink: bool = True
    layer: str = "plans"


class QueryWorkload:
    """Registered queries, one op each, in a seed-shuffled order per pass."""

    def __init__(self, names: tuple[str, ...]) -> None:
        self.names = names

    def setup(self, spark: SparkSession, seed: int, work_dir: str) -> None:
        entry = _load("__spark_entry__", os.path.join(ROOT, "__spark_entry__.py"))
        self._parity = _load("check_parity", os.path.join(ROOT, "tools", "check_parity.py"))
        queries, self.oracles = entry.queries(), entry.oracle_sql()
        table_rows = {
            t: pq.ParquetFile(os.path.join(DATA_DIR, f"{t}.parquet")).metadata.num_rows
            for t in TABLES
        }
        self.ops = [
            Op(
                name,
                partial(queries[name], spark, DATA_DIR),
                rows=sum(
                    n for t, n in table_rows.items()
                    if re.search(rf"\b{t}\b", self.oracles[name], re.IGNORECASE)
                ),
            )
            for name in self.names
        ]
        self._rng = random.Random(seed)
        self._con = duckdb.connect()
        for t in TABLES:
            path = os.path.join(DATA_DIR, f"{t}.parquet")
            self._con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")

    def pass_ops(self, pass_no: int) -> list[Op]:
        ops = list(self.ops)
        self._rng.shuffle(ops)
        return ops

    def end_pass(self, pass_no: int) -> None:
        pass

    def check(self, name: str, df: DataFrame) -> str | None:
        """Compare ``df`` with the op's DuckDB oracle; return the mismatch, if any."""
        tbl = self._con.sql(self.oracles[name]).arrow()
        want_cols = [c.lower() for c in tbl.column_names]
        want = [tuple(d[c] for c in tbl.column_names) for d in tbl.to_pylist()]
        got_cols = [c.lower() for c in df.columns]
        got = [tuple(r) for r in df.collect()]
        if sorted(got_cols) != sorted(want_cols):
            return f"columns {sorted(got_cols)} != oracle {sorted(want_cols)}"
        if len(got) != len(want):
            return f"{len(got)} rows != oracle {len(want)}"
        a = self._parity._rows(got_cols, got)
        b = self._parity._rows(want_cols, want)
        bad = sum(1 for x, y in zip(a, b) if not self._parity._strict_eq(x, y))
        return f"{bad}/{len(a)} rows differ from the oracle" if bad else None

    def warm(self) -> dict[str, str]:
        """Untimed first pass: run every op once and check it; return failures."""
        failures = {}
        for op in self.pass_ops(-1):
            try:
                problem = self.check(op.name, op.call())
            except Exception as e:  # a failing op is a result, not a crash
                problem = f"{type(e).__name__}: {e}"
            if problem:
                failures[op.name] = problem
        return failures


# --- medallion pipeline ----------------------------------------------------

AS_OF = dt.date(2022, 9, 30)  # the gold cut-off; later flights are excluded


class MedallionWorkload:
    """Full load of ``FULL_ROWS`` flights, then an incremental batch that adds
    ``NEW_ROWS`` new ``index`` values (the source replays every row; the
    bronze watermark drops the old ones), each followed by the dashboard
    reads. Every pass builds a fresh lake, so passes do the same work."""

    FULL_ROWS = 18_000
    NEW_ROWS = 2_000
    STAGES = ("bronze", "silver", "gold", "warehouse")

    def setup(self, spark: SparkSession, seed: int, work_dir: str) -> None:
        from flights_etl_pipeline_spark import consumption
        from flights_etl_pipeline_spark.plans import pipeline
        from flights_etl_pipeline_spark.sources.readers import read_parquet_table

        self._spark, self._work = spark, work_dir
        self._pipeline, self._consumption = pipeline, consumption
        self._read = read_parquet_table
        flights = make_flights(self.FULL_ROWS + self.NEW_ROWS, seed)
        self.sources = {
            "full": os.path.join(work_dir, "source_full.parquet"),
            "incr": os.path.join(work_dir, "source_incr.parquet"),
        }
        pq.write_table(flights.slice(0, self.FULL_ROWS), self.sources["full"])
        pq.write_table(flights, self.sources["incr"])
        self.new_rows = {"full": self.FULL_ROWS, "incr": self.NEW_ROWS}
        self._con = duckdb.connect()
        self._con.register("raw", flights)
        self.expected = expected_lake(self._con)
        self._bronze_written = 0

    def lake(self, pass_no: int) -> str:
        return os.path.join(self._work, f"lake{pass_no}")

    def _stage(self, batch: str, stage: str, lake: str) -> None:
        p, spark = self._pipeline, self._spark
        if stage == "bronze":
            p.run_bronze(spark, self._read(spark, self.sources[batch]), lake)
        elif stage == "silver":
            p.run_silver(spark, lake)
        elif stage == "gold":
            p.run_gold(spark, lake, AS_OF)
        else:
            p.run_warehouse(spark, lake)

    def _consume(self, lake: str) -> list[str]:
        spark, c = self._spark, self._consumption
        self._read(spark, f"{lake}/gold/revenue_n_seat_remain_ym").createOrReplaceTempView(
            "gold_revenue"
        )
        c.revenue_trend(spark, "gold_revenue").collect()
        c.top_airlines(spark, "gold_revenue").collect()
        return c.airline_options(spark, "gold_revenue")

    def pass_ops(self, pass_no: int) -> list[Op]:
        lake = self.lake(pass_no)
        ops = []
        for batch in ("full", "incr"):
            for stage in self.STAGES:
                ops.append(Op(
                    f"{batch}.{stage}",
                    partial(self._stage, batch, stage, lake),
                    rows=self.new_rows[batch] if stage == "bronze" else 0,
                    sink=False,
                ))
            ops.append(Op(f"{batch}.consumption", partial(self._consume, lake), rows=0,
                          sink=False, layer="consumption"))
        return ops

    def end_pass(self, pass_no: int) -> None:
        shutil.rmtree(self.lake(pass_no), ignore_errors=True)

    def warm(self) -> dict[str, str]:
        failures = {}
        options = None
        for op in self.pass_ops(-1):
            try:
                out = op.call()
            except Exception as e:
                failures[op.name] = f"{type(e).__name__}: {e}"
                continue
            if op.layer == "consumption":
                options = out
        lake = self.lake(-1)
        try:
            failures.update(check_lake(self._con, lake, self.expected))
        except Exception as e:
            failures["incr.check"] = f"{type(e).__name__}: {e}"
        if options != sorted(self.expected["airlines"]):
            failures["incr.consumption"] = f"airline options {options}"
        self.end_pass(-1)
        return failures

    def observe(self, op: Op, span) -> dict[str, float]:
        """Traced runs only: what a stage op read and wrote, from the lake's
        parquet footers (no Spark job), counting files written in its span."""
        batch, stage = op.name.split(".")
        if stage == "consumption":
            return {}
        lake = self.lake(span.pass_no)
        out_dir = {"bronze": "bronze/flights", "silver": "silver/flights",
                   "gold": "gold", "warehouse": "warehouse"}[stage]
        in_path = {"bronze": self.sources[batch], "silver": f"{lake}/bronze/flights"}.get(
            stage, f"{lake}/silver/flights")
        written = _parquet_files(os.path.join(lake, out_dir), since=span.call0)
        rows_out = _rows(written)
        bytes_out = sum(os.path.getsize(f) for f in written)
        source = self.sources[batch]
        source_bytes = os.path.getsize(source) * self.new_rows[batch] / _rows([source])
        key = f"{batch}.{stage}"
        out = {
            f"pipeline.{key}_s": span.call_s,
            f"pipeline.{key}.rows_in": _rows(_parquet_files(in_path)),
            f"pipeline.{key}.rows_out": rows_out,
            f"sources.{key}.files_written": len(written),
            f"sources.{key}.bytes_written_mb": bytes_out / float(1 << 20),
            f"sources.{key}.lake_bytes_per_source_byte": bytes_out / source_bytes,
        }
        if stage == "bronze":
            self._bronze_written = rows_out
        elif key == "incr.silver":
            # silver re-reads all of bronze and overwrites every partition it
            # touches: rows written per new bronze row
            out["pipeline.silver_rewrite_ratio"] = rows_out / max(self._bronze_written, 1)
        return out


def _rows(files: list[str]) -> int:
    return sum(pq.ParquetFile(f).metadata.num_rows for f in files)


def _parquet_files(path: str, since: float = 0.0) -> list[str]:
    if os.path.isfile(path):
        return [path]
    found = []
    for dirpath, _dirs, files in os.walk(path):
        for f in files:
            full = os.path.join(dirpath, f)
            if f.endswith(".parquet") and os.path.getmtime(full) >= since:
                found.append(full)
    return found


def expected_lake(con: duckdb.DuckDBPyConnection) -> dict:
    """The lake's intended contents after both batches, computed in DuckDB
    from the raw rows (``raw``) without the code under test."""
    con.sql(
        """
        CREATE OR REPLACE VIEW silver_o AS
        SELECT *,
               string_split(segmentsAirlineCode, '||') AS codes,
               string_split(segmentsAirlineName, '||') AS names,
               CAST(searchDate AS DATE) AS searchD,
               CAST(flightDate AS DATE) AS flightD
        FROM raw
        WHERE baseFare <= totalFare AND seatsRemaining >= 0
        """
    )
    one = lambda sql: con.sql(sql).fetchone()[0]  # noqa: E731
    revenue = {
        (y, m, a): (s, av)
        for y, m, a, s, av in con.sql(
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
    fbc = {
        code: (avg, n)
        for code, avg, n in con.sql(
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
    return {
        "bronze": one("SELECT COUNT(*) FROM raw"),
        "silver": one("SELECT COUNT(*) FROM silver_o"),
        "revenue": revenue,
        "fbc": fbc,
        "airlines": sorted({a for _, _, a in revenue}),
        "dim_date": one(
            "SELECT COUNT(DISTINCT d) FROM (SELECT UNNEST([searchD, flightD]) AS d FROM silver_o)"
        ),
        "dim_airline": one(
            "SELECT COUNT(*) FROM (SELECT DISTINCT UNNEST(codes) AS c, UNNEST(names) AS n "
            "FROM silver_o)"
        ),
        "dim_airport": one(
            """
            SELECT COUNT(DISTINCT a) FROM (
              SELECT UNNEST(string_split(segmentsArrivalAirportCode, '||')) AS a FROM silver_o
              UNION ALL
              SELECT UNNEST(string_split(segmentsDepartureAirportCode, '||')) FROM silver_o)
            """
        ),
    }


def _close(got: tuple, want: tuple) -> bool:
    return all(
        math.isclose(g, w, rel_tol=1e-9, abs_tol=1e-9) for g, w in zip(got, want)
    )


def check_lake(con: duckdb.DuckDBPyConnection, lake: str, expected: dict) -> dict[str, str]:
    """Compare the lake the pipeline wrote with ``expected``; each mismatch
    is charged to the incremental-batch stage that wrote the table."""

    def rows(sql: str) -> list[tuple]:
        return con.sql(sql).fetchall()

    def count(table: str) -> int:
        return rows(f"SELECT COUNT(*) FROM read_parquet('{lake}/{table}/**/*.parquet')")[0][0]

    failures = {}
    if count("bronze/flights") != expected["bronze"]:
        failures["incr.bronze"] = "bronze row count"
    silver = count("silver/flights")
    if silver != expected["silver"]:
        failures["incr.silver"] = f"silver rows {silver} != {expected['silver']}"
    revenue = {
        (y, m, a): (s, av)
        for y, m, a, s, av in rows(
            "SELECT year, month, airline, sum_total_fare, avg_seats_remaining "
            f"FROM read_parquet('{lake}/gold/revenue_n_seat_remain_ym/*.parquet')"
        )
    }
    fbc = {
        code: (avg, n)
        for code, avg, n in rows(
            "SELECT fareBasisCode, avg_travel_duration, n_itineraries "
            f"FROM read_parquet('{lake}/gold/fbc_travel_duration_relation/*.parquet')"
        )
    }
    for name, got, want in (("revenue", revenue, expected["revenue"]),
                            ("fbc", fbc, expected["fbc"])):
        if set(got) != set(want) or not all(_close(got[k], want[k]) for k in want):
            failures["incr.gold"] = f"gold {name} differs from the oracle"
    for dim in ("dim_date", "dim_airline", "dim_airport"):
        n = count(f"warehouse/{dim}")
        if n != expected[dim]:
            failures["incr.warehouse"] = f"{dim} rows {n} != {expected[dim]}"
    fact = count("warehouse/fact_flight_activities")
    if fact != expected["silver"]:
        failures["incr.warehouse"] = f"fact rows {fact} != {expected['silver']}"
    return failures


WORKLOADS: dict[str, Callable[[], object]] = {
    "medallion_etl": MedallionWorkload,
    # work done inside the query function before it returns: label-propagation
    # rounds, the most eager-job-heavy classifier, and a streaming dedup
    # drained in AvailableNow micro-batches on the stream thread
    "dataprep_eager": partial(QueryWorkload, (
        "fuzzy_customer_clusters",
        "naive_bayes_lang_classifier",
        "events_dedup_stream",
    )),
}
