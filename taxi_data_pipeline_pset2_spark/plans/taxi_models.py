"""The reference's dbt models re-expressed as Spark DataFrame builders.

Model graph (reference ``evidencias/dbt_lineage.png``):
    {yellow, green}            -> stg_trips_unified -> fct_trips
    zones -> dim_zone          ----------------------^
    dim_date, dim_payment_type, dim_rate_code -------^

Each function takes upstream DataFrames and returns the model DataFrame --
"compilation" is just building the lazy Catalyst plan; the DAG runner
(plans/dag.py) materializes in dependency order, exactly dbt's
table-materialization semantics (``dbt_project.yml:25-35``).

Physical notes for scale: every join in fct_trips is a broadcast against
a <=4018-row dim (SURVEY.md X5); gold is written partitioned by
service_type and sorted within partitions by pickup_date -- the Spark
equivalent of the reference's Snowflake ``cluster_by`` (SURVEY.md X1,
the 16.3x speedup in BASELINE.md). The static dims and dim_zone's
Unknown member are SQL VALUES relations (``_values``).

PARITY EXCLUSIONS -- columns that intentionally deviate from the
reference's row-level output (each documented inline at its definition;
any automated output-parity diff against reference results must skip
them):
- ``is_night_trip``: the reference's ``BETWEEN 22 AND 6`` is vacuously
  false; we implement the evident intent (late-night pickups).
- ``base_charges``: every addend is coalesced to 0, not just the last
  two, so NULL fare/extra/mta_tax can't null the metric.
- ``has_data_quality_issues``: additionally flags NULL passenger_count.
- ``dbt_loaded_at`` / audit timestamps: nondeterministic by nature
  (also excluded from the DuckDB oracles).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from taxi_data_pipeline_pset2_spark.functions.scalars import (
    duration_hours,
    surrogate_id,
)
from taxi_data_pipeline_pset2_spark.sources.schemas import SILVER_COLUMNS

DATE_RANGE = ("2015-01-01", "2025-12-31")  # dbt vars (dbt_project.yml:38-40)


def _values(spark: SparkSession, columns: str, *rows: str) -> DataFrame:
    """Literal rows as a SQL VALUES relation, which plans as a local
    table scan (``createDataFrame`` over a Python list plans a Python RDD
    and starts a Python worker to read a few rows). The extra all-NULL
    row, dropped by the WHERE, keeps every column nullable as the
    reference's are: an all-literal column is NOT NULL and would be
    written as a REQUIRED parquet column."""
    names = [c.strip() for c in columns.split(",")]
    nulls = ", ".join(["NULL"] * len(names))
    return spark.sql(
        f"SELECT * FROM VALUES {', '.join(rows)}, ({nulls}) AS t({columns}) "
        f"WHERE {names[0]} IS NOT NULL"
    )


def stg_trips_unified(yellow: DataFrame, green: DataFrame) -> DataFrame:
    """Silver: rename -> literal-pad -> quality-filter -> UNION ALL
    (``stg_trips_unified.sql:5-95``; operators P1-P4, U1, F12)."""

    def _standardize(df: DataFrame, service: str, prefix: str, pad: dict[str, str]) -> DataFrame:
        out = (
            df.withColumnRenamed(f"{prefix}_pickup_datetime", "pickup_datetime")
            .withColumnRenamed(f"{prefix}_dropoff_datetime", "dropoff_datetime")
            .withColumn("service_type", F.lit(service))
        )
        for col, typ in pad.items():
            out = out.withColumn(col, F.lit(None).cast(typ))
        return out.select(*SILVER_COLUMNS)

    y = _standardize(yellow, "yellow", "tpep", {"ehail_fee": "double"})
    g = _standardize(green, "green", "lpep", {"airport_fee": "double"})
    unified = y.unionByName(g)
    # quality gate (stg_trips_unified.sql:42-46,86-90)
    return unified.filter(
        F.col("pickup_datetime").isNotNull()
        & F.col("dropoff_datetime").isNotNull()
        & (F.col("trip_distance") >= 0)
        & (F.col("fare_amount") >= 0)
        & (F.col("total_amount") >= 0)
    ).withColumn("dbt_loaded_at", F.current_timestamp())


def dim_date(spark: SparkSession) -> DataFrame:
    """Date spine 2015-01-01..2025-12-31 (4018 rows) with calendar
    attributes + surrogate key (``dim_date.sql:6-60``; the recursive CTE
    becomes sequence+explode -- SURVEY.md section 7 item 3). The spine is
    contiguous, so the reference's ROW_NUMBER over date_actual is the day
    offset from the first date plus one: no window, no shuffle."""
    start = F.to_date(F.lit(DATE_RANGE[0]))
    # one partition: the write of a multi-partition range adds an empty file
    spine = spark.range(0, 1, numPartitions=1).select(
        F.explode(F.sequence(start, F.to_date(F.lit(DATE_RANGE[1])))).alias("date_actual")
    )
    d = F.col("date_actual")
    return spine.select(
        (F.datediff(d, start) + 1).alias("date_sk"),
        d,
        F.year(d).alias("year_actual"),
        F.quarter(d).alias("quarter_actual"),
        F.month(d).alias("month_actual"),
        F.dayofmonth(d).alias("day_actual"),
        F.weekofyear(d).alias("week_of_year"),
        F.dayofyear(d).alias("day_of_year"),
        F.dayofweek(d).alias("day_of_week"),
        F.date_format(d, "MMMM").alias("month_name"),
        F.date_format(d, "MMM").alias("month_name_short"),
        F.date_format(d, "EEEE").alias("day_name"),
        F.date_format(d, "EEE").alias("day_name_short"),
        F.dayofweek(d).isin(1, 7).alias("is_weekend"),
        F.current_timestamp().alias("dbt_loaded_at"),
    )


def dim_zone(zones: DataFrame) -> DataFrame:
    """Zone dim: TRIM/case cleanup, borough normalization, airport flags,
    ROW_NUMBER SK, plus the Unknown default member (zone_sk=0,
    locationid=-1) so fact joins never drop rows
    (``dim_zone.sql:6-76``; operators F9, F10, F2, W1, U2)."""
    b = F.upper(F.trim(F.col("borough")))
    borough_clean = (
        F.when(b == "MANHATTAN", "Manhattan")
        .when(b == "BROOKLYN", "Brooklyn")
        .when(b == "QUEENS", "Queens")
        .when(b == "BRONX", "Bronx")
        .when(b == "STATEN ISLAND", "Staten Island")
        .when(b == "EWR", "EWR")
        .otherwise("Unknown")
    )
    zone_clean = F.trim(F.col("zone"))
    zu = F.upper(zone_clean)
    is_airport = (
        zu.like("%AIRPORT%") | zu.like("%JFK%") | zu.like("%LAGUARDIA%") | zu.like("%NEWARK%")
    )
    sz = F.upper(F.trim(F.col("service_zone")))
    service_zone_clean = (
        F.when(sz == "YELLOW ZONE", "Yellow Zone")
        .when(sz == "GREEN ZONE", "Green Zone")
        .when(sz == "BORO ZONE", "Boro Zone")
        .when(sz == "EWR", "EWR")
        .otherwise("Unknown")
    )
    cleaned = zones.select(
        F.row_number().over(Window.orderBy("locationid")).alias("zone_sk"),
        F.col("locationid"),
        borough_clean.alias("borough"),
        zone_clean.alias("zone_name"),
        service_zone_clean.alias("service_zone"),
        is_airport.alias("is_airport"),
    )
    unknown = _values(
        zones.sparkSession,
        "zone_sk, locationid, borough, zone_name, service_zone, is_airport",
        "(0, -1, 'Unknown', 'Unknown', 'Unknown', FALSE)",
    )
    return cleaned.unionByName(unknown).withColumn(
        "dbt_loaded_at", F.current_timestamp()
    )


def dim_payment_type(spark: SparkSession) -> DataFrame:
    """VALUES dim (``dim_payment_type.sql:7-32``; operator S9)."""
    return _values(
        spark,
        "payment_type_sk, payment_type_id, payment_type_name, expects_tip",
        "(1, 1, 'Credit card', TRUE)",
        "(2, 2, 'Cash', FALSE)",
        "(3, 3, 'No charge', FALSE)",
        "(4, 4, 'Dispute', FALSE)",
        "(5, 5, 'Unknown', FALSE)",
        "(6, 6, 'Voided trip', FALSE)",
        "(0, -1, 'Not specified', FALSE)",
    ).withColumn("dbt_loaded_at", F.current_timestamp())


def dim_rate_code(spark: SparkSession) -> DataFrame:
    """VALUES dim (``dim_rate_code.sql:12-21``; operator S9)."""
    return _values(
        spark,
        "rate_code_sk, rate_code_id, rate_code_name",
        "(1, 1, 'Standard rate')",
        "(2, 2, 'JFK')",
        "(3, 3, 'Newark')",
        "(4, 4, 'Nassau or Westchester')",
        "(5, 5, 'Negotiated fare')",
        "(6, 6, 'Group ride')",
        "(0, -1, 'Unknown')",
    ).withColumn("dbt_loaded_at", F.current_timestamp())


def fct_trips(stg: DataFrame, d_date: DataFrame, d_zone: DataFrame) -> DataFrame:
    """Gold fact (``fct_trips.sql:7-116``): MD5 trip id (F1), role-playing
    broadcast joins to dim_date x2 and dim_zone x2 (J1, J2), derived
    metrics with guarded division (F2-F8, F11), quality flags, 2015-2025
    range filter (P5), COALESCE'd SKs (P8)."""
    pickup_date = F.to_date("pickup_datetime")
    dropoff_date = F.to_date("dropoff_datetime")

    trip_id = surrogate_id(
        F.col("service_type"),
        F.date_format("pickup_datetime", "yyyy-MM-dd HH:mm:ss"),
        F.date_format("dropoff_datetime", "yyyy-MM-dd HH:mm:ss"),
        F.col("pulocationid"),
        F.col("dolocationid"),
        F.col("total_amount").cast("decimal(18,2)"),
    )

    dur = duration_hours(F.col("pickup_datetime"), F.col("dropoff_datetime"))
    speed = F.when(dur > 0, F.round(F.col("trip_distance") / dur, 2)).otherwise(0.0)
    tip_pct = F.when(
        F.col("fare_amount") > 0, F.round(F.col("tip_amount") / F.col("fare_amount") * 100, 2)
    ).otherwise(0.0)
    pickup_hour = F.hour("pickup_datetime")

    enriched = (
        stg.withColumn("trip_id", trip_id)
        .withColumn("pickup_date", pickup_date)
        .withColumn("dropoff_date", dropoff_date)
        .withColumn("pickup_hour", pickup_hour)
        .withColumn("trip_duration_hours", F.round(dur, 4))
        .withColumn("avg_speed_mph", speed)
        .withColumn("tip_percentage", tip_pct)
        # base_charges (fct_trips.sql:51-52): fare + extra + mta_tax +
        # improvement_surcharge + COALESCE(congestion,0) + COALESCE(airport_fee,0).
        # The reference coalesces only the last two; we guard every addend so a
        # NULL extra/mta_tax cannot null out the whole metric (documented
        # hardening, not a semantic change on non-null data).
        .withColumn(
            "base_charges",
            F.round(
                F.coalesce("fare_amount", F.lit(0.0))
                + F.coalesce("extra", F.lit(0.0))
                + F.coalesce("mta_tax", F.lit(0.0))
                + F.coalesce("improvement_surcharge", F.lit(0.0))
                + F.coalesce("congestion_surcharge", F.lit(0.0))
                + F.coalesce("airport_fee", F.lit(0.0)),
                2,
            ),
        )
        # fct_trips.sql:69-74 — rush hour is BETWEEN 6 AND 10 OR BETWEEN 16 AND 20
        .withColumn("is_rush_hour", pickup_hour.between(6, 10) | pickup_hour.between(16, 20))
        # fct_trips.sql:76-80 writes BETWEEN 22 AND 6, which is vacuously false
        # (Snowflake BETWEEN requires low <= high). We implement the evident
        # intent -- late-night pickups -- as an intentional, documented
        # deviation from the reference's always-false literal.
        .withColumn("is_night_trip", (pickup_hour >= 22) | (pickup_hour <= 6))
        # fct_trips.sql:83-89: distance<=0 OR total<=0 OR dropoff<=pickup OR
        # passenger_count<=0, with CASE's ELSE FALSE null-handling (a NULL
        # condition yields FALSE). Deviation: we additionally flag NULL
        # passenger_count -- a genuine quality issue the reference's CASE
        # silently passes.
        .withColumn(
            "has_data_quality_issues",
            F.when(
                (F.col("trip_distance") <= 0)
                | (F.col("total_amount") <= 0)
                | (F.col("dropoff_datetime") <= F.col("pickup_datetime"))
                | (F.col("passenger_count") <= 0)
                | F.col("passenger_count").isNull(),
                F.lit(True),
            ).otherwise(F.lit(False)),
        )
        .filter(
            pickup_date.between(F.lit(DATE_RANGE[0]), F.lit(DATE_RANGE[1]))
            & dropoff_date.between(F.lit(DATE_RANGE[0]), F.lit(DATE_RANGE[1]))
        )
    )

    pu_date = d_date.select(
        F.col("date_actual").alias("_pu_date"), F.col("date_sk").alias("pickup_date_sk")
    )
    do_date = d_date.select(
        F.col("date_actual").alias("_do_date"), F.col("date_sk").alias("dropoff_date_sk")
    )
    pu_zone = d_zone.select(
        F.col("locationid").alias("_pu_loc"), F.col("zone_sk").alias("pickup_zone_sk")
    )
    do_zone = d_zone.select(
        F.col("locationid").alias("_do_loc"), F.col("zone_sk").alias("dropoff_zone_sk")
    )

    joined = (
        enriched.join(F.broadcast(pu_date), F.col("pickup_date") == F.col("_pu_date"), "left")
        .join(F.broadcast(do_date), F.col("dropoff_date") == F.col("_do_date"), "left")
        .join(F.broadcast(pu_zone), F.col("pulocationid") == F.col("_pu_loc"), "left")
        .join(F.broadcast(do_zone), F.col("dolocationid") == F.col("_do_loc"), "left")
    )

    return joined.select(
        "trip_id",
        "service_type",
        F.coalesce("pickup_date_sk", F.lit(0)).alias("pickup_date_sk"),
        F.coalesce("dropoff_date_sk", F.lit(0)).alias("dropoff_date_sk"),
        F.coalesce("pickup_zone_sk", F.lit(0)).alias("pickup_zone_sk"),
        F.coalesce("dropoff_zone_sk", F.lit(0)).alias("dropoff_zone_sk"),
        F.coalesce("payment_type", F.lit(-1)).alias("payment_type_id"),
        F.coalesce("ratecodeid", F.lit(-1)).alias("rate_code_id"),
        "pickup_datetime",
        "dropoff_datetime",
        "pickup_date",
        "dropoff_date",
        "pickup_hour",
        "passenger_count",
        "trip_distance",
        "trip_duration_hours",
        "avg_speed_mph",
        "fare_amount",
        "extra",
        "mta_tax",
        "tip_amount",
        "tip_percentage",
        "tolls_amount",
        "improvement_surcharge",
        "congestion_surcharge",
        "airport_fee",
        "ehail_fee",
        "total_amount",
        "base_charges",
        "is_rush_hour",
        "is_night_trip",
        "has_data_quality_issues",
    )
