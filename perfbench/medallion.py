"""``medallion`` workload: the reference pipeline's own lifecycle.

The inputs are bronze yellow, green and zone parquet written by the
engine's fixture generator (``sources.taxi_fixtures``); the workload
seed selects which of the generated trips form the input. Each pass then

1. builds the DAG (``plans.dag.taxi_pipeline(...).run``) into a fresh
   warehouse: ``stg_trips_unified`` -> dims -> ``fct_trips`` partitioned
   by service type and sorted by pickup date;
2. runs the 32 quality tests (``quality.run_tests``);
3. runs the six golden analytics queries and the reference's 2020
   month-grouped clustering query as SQL text over views of the fresh
   gold layer, in an order the seed sets.

Checks, all untimed: the DAG succeeds and ``fct_trips`` holds as many
rows as a DuckDB count over the bronze parquet with the silver filter
and the date-range predicate; 32 of 32 quality tests pass; each query
result equals the same SQL run by DuckDB over the same gold parquet,
compared with ``tests/oracle_utils.compare_frames``.
"""

from __future__ import annotations

import os
import random
import time
import traceback

from perfbench.harness import CheckResult, PassRecord, log

YELLOW_POOL = 60_000
GREEN_POOL = 12_000
KEEP_ONE_IN = 2
DAG_NODES = (
    "stg_trips_unified", "dim_date", "dim_zone", "dim_payment_type",
    "dim_rate_code", "fct_trips",
)


def _avg(col: str) -> str:
    # exact decimal sum / count, rounded: equal in Spark and DuckDB
    return f"ROUND(CAST(SUM(CAST({col} AS DECIMAL(18,4))) AS DOUBLE) / COUNT({col}), 6)"


def _sum(col: str) -> str:
    return f"CAST(SUM(CAST({col} AS DECIMAL(18,2))) AS DOUBLE)"


_ZONE_JOIN = "fct_trips f JOIN dim_zone z ON f.pickup_zone_sk = z.zone_sk"

# One SQL text per query, valid in both Spark SQL and DuckDB.
GOLD_QUERIES: dict[str, str] = {
    "zone_top20": f"""
        SELECT z.zone_name, z.borough, year(f.pickup_date) AS year, count(*) AS total_trips
        FROM {_ZONE_JOIN}
        WHERE z.zone_name <> 'Unknown'
        GROUP BY z.zone_name, z.borough, year(f.pickup_date)
        ORDER BY total_trips DESC, z.zone_name, year
        LIMIT 20""",
    "revenue_tip": f"""
        SELECT z.borough, year(f.pickup_date) AS year, {_sum('f.total_amount')} AS total_revenue,
               {_avg('f.tip_percentage')} AS avg_tip_pct, count(*) AS trips
        FROM {_ZONE_JOIN}
        WHERE f.tip_percentage > 0 AND f.tip_percentage < 100
        GROUP BY z.borough, year(f.pickup_date)""",
    "duration_pct": f"""
        SELECT z.zone_name,
               ROUND(percentile_cont(0.5) WITHIN GROUP (ORDER BY f.trip_duration_hours), 6) AS p50,
               ROUND(percentile_cont(0.9) WITHIN GROUP (ORDER BY f.trip_duration_hours), 6) AS p90,
               count(*) AS n
        FROM {_ZONE_JOIN}
        WHERE f.trip_duration_hours > 0 AND f.trip_duration_hours < 5
        GROUP BY z.zone_name
        HAVING count(*) > 50""",
    "year_hour": f"""
        SELECT year(pickup_date) AS year, pickup_hour, count(*) AS trips,
               {_avg('total_amount')} AS avg_amount
        FROM fct_trips
        GROUP BY year(pickup_date), pickup_hour""",
    "speed_daypart": f"""
        SELECT z.borough, f.pickup_hour,
               CASE WHEN f.pickup_hour BETWEEN 6 AND 18 THEN 'Diurno' ELSE 'Nocturno' END AS franja,
               {_avg('f.avg_speed_mph')} AS avg_speed, count(*) AS n
        FROM {_ZONE_JOIN}
        GROUP BY z.borough, f.pickup_hour,
                 CASE WHEN f.pickup_hour BETWEEN 6 AND 18 THEN 'Diurno' ELSE 'Nocturno' END""",
    "coverage": f"""
        SELECT year(pickup_date) AS year, month(pickup_date) AS month, service_type,
               count(*) AS total_trips, {_sum('trip_distance')} AS total_miles,
               {_sum('total_amount')} AS total_revenue,
               CAST(min(pickup_date) AS STRING) AS first_trip,
               CAST(max(pickup_date) AS STRING) AS last_trip
        FROM fct_trips
        GROUP BY year(pickup_date), month(pickup_date), service_type""",
    "clustered_2020": f"""
        SELECT service_type,
               CAST(CAST(date_trunc('month', pickup_date) AS DATE) AS STRING) AS month,
               count(*) AS trips, {_avg('trip_distance')} AS avg_distance,
               {_avg('total_amount')} AS avg_amount
        FROM fct_trips
        WHERE pickup_date BETWEEN DATE '2020-01-01' AND DATE '2020-12-31'
        GROUP BY service_type, CAST(CAST(date_trunc('month', pickup_date) AS DATE) AS STRING)
        ORDER BY month, service_type""",
}

# fct_trips rows expected from bronze: the silver quality filter
# (stg_trips_unified) and the gold date-range filter (fct_trips).
_EXPECTED_FCT_ROWS = """
    WITH u AS (
        SELECT tpep_pickup_datetime AS pu, tpep_dropoff_datetime AS dr,
               trip_distance, fare_amount, total_amount
        FROM read_parquet('{bronze}/yellow/*.parquet')
        UNION ALL
        SELECT lpep_pickup_datetime, lpep_dropoff_datetime,
               trip_distance, fare_amount, total_amount
        FROM read_parquet('{bronze}/green/*.parquet')
    )
    SELECT count(*) FROM u
    WHERE pu IS NOT NULL AND dr IS NOT NULL
      AND trip_distance >= 0 AND fare_amount >= 0 AND total_amount >= 0
      AND CAST(pu AS DATE) BETWEEN DATE '2015-01-01' AND DATE '2025-12-31'
      AND CAST(dr AS DATE) BETWEEN DATE '2015-01-01' AND DATE '2025-12-31'
"""


def dir_bytes(path: str) -> tuple[int, int]:
    """(bytes, files) of the parquet files under ``path``."""
    total = files = 0
    for root, _, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                total += os.path.getsize(os.path.join(root, n))
                files += 1
    return total, files


class Medallion:
    name = "medallion"

    def __init__(self, seed: int, yellow_pool: int = YELLOW_POOL, green_pool: int = GREEN_POOL):
        self.seed = seed
        self.yellow_pool = yellow_pool
        self.green_pool = green_pool
        self.bronze = ""
        self.root = ""

    @staticmethod
    def layer_names() -> list[str]:
        names = [f"dag.{n}.{k}" for n in DAG_NODES for k in ("s", "jobs")]
        names += [
            "dag.fct_trips.output_bytes", "dag.fct_trips.files",
            "dag.gold_bytes_per_raw_byte",
            "taxi_models.construct_s", "taxi_models.plan_s",
            "quality.s", "quality.jobs", "quality.failed",
        ]
        names += [f"gold.{q}.{k}" for q in GOLD_QUERIES for k in ("plan_s", "exec_s", "input_bytes")]
        return names + ["gold.prune_ratio"]

    def make_inputs(self, spark, dest: str) -> None:
        from pyspark.sql import functions as F

        from taxi_data_pipeline_pset2_spark.sources.taxi_fixtures import (
            gen_green,
            gen_yellow,
            gen_zones,
        )

        def pick(df):
            h = F.xxhash64(*df.columns, F.lit(self.seed))
            return df.filter(F.pmod(h, F.lit(KEEP_ONE_IN)) == 0)

        self.root = dest
        self.bronze = os.path.join(dest, "bronze")
        pick(gen_yellow(spark, self.yellow_pool)).write.parquet(f"{self.bronze}/yellow")
        pick(gen_green(spark, self.green_pool)).write.parquet(f"{self.bronze}/green")
        gen_zones(spark).write.parquet(f"{self.bronze}/zones")

    def _read_bronze(self, spark):
        return tuple(spark.read.parquet(f"{self.bronze}/{t}") for t in ("yellow", "green", "zones"))

    def probe(self, spark, tracer) -> None:
        """Traced runs only: lazy model construction and physical planning
        of the fact, cold, before the first pass."""
        from taxi_data_pipeline_pset2_spark.plans import taxi_models as m

        yellow, green, zones = self._read_bronze(spark)
        with tracer.span("taxi_models.construct"):
            fct = m.fct_trips(
                m.stg_trips_unified(yellow, green), m.dim_date(spark), m.dim_zone(zones)
            )
        with tracer.span("taxi_models.plan"):
            fct._jdf.queryExecution().executedPlan()

    def probe_metrics(self, tracer) -> dict[str, float]:
        by_name = {s.name: s.seconds for s in tracer.spans if s.parent is None}
        return {
            "taxi_models.construct_s": by_name["taxi_models.construct"],
            "taxi_models.plan_s": by_name["taxi_models.plan"],
        }

    def run_pass(self, spark, tracer, index: int) -> PassRecord:
        from taxi_data_pipeline_pset2_spark.plans.dag import taxi_pipeline
        from taxi_data_pipeline_pset2_spark.quality import run_tests, taxi_test_suite

        rec = PassRecord(index, traced=False)
        warehouse = os.path.join(self.root, f"warehouse{index}")
        order = list(GOLD_QUERIES)
        random.Random(self.seed * 1009 + index).shuffle(order)
        rec.outputs = {"warehouse": warehouse, "results": None, "tests": None, "gold": {}}
        t0 = time.perf_counter()
        with tracer.span("pass") as pass_span:
            try:
                with tracer.span("read_bronze"):
                    yellow, green, zones = self._read_bronze(spark)
                with tracer.span("dag") as dag_span:
                    built, results = taxi_pipeline(warehouse, yellow, green, zones).run(spark)
                for r in results:
                    tracer.add(f"dag.{r.name}", r.started_at, r.finished_at, dag_span)
                rec.outputs["results"] = results
                with tracer.span("quality"):
                    rec.outputs["tests"] = run_tests(taxi_test_suite(built))
                built["fct_trips"].createOrReplaceTempView("fct_trips")
                built["dim_zone"].createOrReplaceTempView("dim_zone")
                for q in order:
                    with tracer.span(f"gold.{q}"):
                        with tracer.span("plan"):
                            df = spark.sql(GOLD_QUERIES[q])
                            df._jdf.queryExecution().executedPlan()
                        with tracer.span("exec"):
                            rec.outputs["gold"][q] = df.toPandas()
            except Exception:  # noqa: BLE001 - a failed pass is counted, not fatal
                rec.error = traceback.format_exc(limit=6)
                log(f"pass {index} raised:\n{rec.error}")
        rec.seconds = time.perf_counter() - t0
        rec.span = pass_span
        return rec

    def check(self, passes: list[PassRecord]) -> CheckResult:
        import duckdb

        from tests.oracle_utils import compare_frames

        out = CheckResult()
        con = duckdb.connect()
        expected_rows = con.execute(_EXPECTED_FCT_ROWS.format(bronze=self.bronze)).fetchone()[0]
        for rec in passes:
            o = rec.outputs
            results = o["results"] or []
            fct = next((r for r in results if r.name == "fct_trips"), None)
            build = []
            if len(results) != len(DAG_NODES) or any(r.status != "success" for r in results):
                build = [f"DAG did not finish: {[(r.name, r.status) for r in results]}"]
            elif fct.rows != expected_rows:
                build = [f"fct_trips has {fct.rows} rows, DuckDB counts {expected_rows}"]
            out.record(f"pass {rec.index} build", build)

            tests = o["tests"] or []
            bad = [t.name for t in tests if not t.passed]
            quality = [] if len(tests) == 32 and not bad else [f"{len(tests)} tests, failing {bad}"]
            out.record(f"pass {rec.index} quality", quality)

            wh = o["warehouse"]
            con.execute(
                "CREATE OR REPLACE VIEW fct_trips AS SELECT * FROM "
                f"read_parquet('{wh}/fct_trips/*/*.parquet', hive_partitioning = true)"
            )
            con.execute(
                f"CREATE OR REPLACE VIEW dim_zone AS SELECT * FROM read_parquet('{wh}/dim_zone/*.parquet')"
            )
            for q, sql in GOLD_QUERIES.items():
                got = o["gold"].get(q)
                problems = ["query did not run"] if got is None else compare_frames(got, con.execute(sql).df())
                out.record(f"pass {rec.index} gold.{q}", problems)
        con.close()
        return out

    def layer_metrics(self, tracer, rec: PassRecord) -> dict[str, float]:
        """Per-layer numbers of one traced pass."""
        kids = {s.name: s for s in tracer.children(rec.span)}
        dag = kids["dag"]
        m: dict[str, float] = {}
        for r in rec.outputs["results"]:
            m[f"dag.{r.name}.s"] = r.seconds
            m[f"dag.{r.name}.jobs"] = float(len(tracer.jobs_between(dag, r.started_at, r.finished_at)))
        wh = rec.outputs["warehouse"]
        fct_bytes, fct_files = dir_bytes(os.path.join(wh, "fct_trips"))
        m["dag.fct_trips.output_bytes"] = float(fct_bytes)
        m["dag.fct_trips.files"] = float(fct_files)
        written = sum(dir_bytes(os.path.join(wh, n))[0] for n in DAG_NODES)
        m["dag.gold_bytes_per_raw_byte"] = written / dir_bytes(self.bronze)[0]
        quality = kids["quality"]
        m["quality.s"] = quality.seconds
        m["quality.jobs"] = float(len(quality.census.jobs))
        m["quality.failed"] = float(sum(not t.passed for t in rec.outputs["tests"]))
        for q in GOLD_QUERIES:
            parts = {s.name: s for s in tracer.children(kids[f"gold.{q}"])}
            m[f"gold.{q}.plan_s"] = parts["plan"].seconds
            m[f"gold.{q}.exec_s"] = parts["exec"].seconds
            m[f"gold.{q}.input_bytes"] = float(tracer.total_census(kids[f"gold.{q}"]).input_bytes)
        scanned = m["gold.clustered_2020.input_bytes"]
        m["gold.prune_ratio"] = fct_bytes / scanned if scanned else 0.0
        return m
