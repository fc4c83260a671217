"""Core relational catalog: the reference's operator inventory (SURVEY.md
section 2) re-expressed over the driver's star schema.

Each query keeps the *shape* of a reference operator -- the golden
analytics queries in ``data_analysis.ipynb``, the dbt model transforms,
and the dbt tests -- with file:line citations in the docstrings so parity
is checkable. All joins here are star equi-joins against small dims, so
the intended physical plan is broadcast hash join everywhere (reference
delegates this to Snowflake; SURVEY.md X5).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from taxi_data_pipeline_pset2_spark.queries._helpers import (
    dec_avg,
    dec_sum,
    sql_dec_avg,
    sql_dec_sum,
    t,
)
from taxi_data_pipeline_pset2_spark.queries.catalog import query


@query(
    "demand_by_zone",
    oracle="""
        SELECT n.n_name,
               CAST(year(o.o_orderdate) AS INT) AS o_year,
               count(*) AS total_orders
        FROM orders o
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        GROUP BY n.n_name, o_year
        ORDER BY total_orders DESC, n_name, o_year
        LIMIT 20
    """,
    tags=("bench", "join", "agg", "topk"),
)
def demand_by_zone(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Golden query #1 shape: demand by zone x year, top-20
    (reference ``data_analysis.ipynb:36-46`` / ``evidencias/demandaxzona.csv``;
    operators A1+J3+O1). Both joins broadcast: customer and nation are
    dim-sized, orders is the fact -- no shuffle join at any scale."""
    orders = t(spark, sf_dir, "orders")
    customer = t(spark, sf_dir, "customer")
    nation = t(spark, sf_dir, "nation")
    return (
        orders.join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .groupBy("n_name", F.year("o_orderdate").alias("o_year"))
        .agg(F.count("*").alias("total_orders"))
        .orderBy(F.desc("total_orders"), "n_name", "o_year")
        .limit(20)
    )


@query(
    "pricing_summary",
    oracle=f"""
        SELECT l_returnflag,
               l_linestatus,
               {sql_dec_sum("l_quantity")} AS sum_qty,
               {sql_dec_sum("l_extendedprice")} AS sum_base_price,
               {sql_dec_sum("l_extendedprice * (1 - l_discount)", scale=4)} AS sum_disc_price,
               {sql_dec_avg("l_quantity")} AS avg_qty,
               {sql_dec_avg("l_discount", scale=6)} AS avg_disc,
               count(*) AS count_order
        FROM lineitem
        GROUP BY l_returnflag, l_linestatus
        ORDER BY l_returnflag, l_linestatus
    """,
    tags=("bench", "agg"),
)
def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Golden query #2 shape: revenue + averages by group (reference
    ``data_analysis.ipynb:113-124``, operator A2 SUM/AVG/COUNT combo).
    Partial aggregation is map-side (hash agg), final after one shuffle on
    the 2-col group key -- the canonical scale-safe aggregate.

    The input is spread across cores first (no-op at scale, see
    ``spread_small_input``): the exact-decimal accumulation that buys
    hash-determinism is CPU-bound, and a few-split local source would
    otherwise serialize it -- measured 2x on sf0.1."""
    from taxi_data_pipeline_pset2_spark.operators.skew import spread_small_input

    # keyed on the primary key, not the full row: the spread hash reads
    # 16 bytes/row instead of every payload byte (VERDICT r13 #1)
    li = spread_small_input(
        t(spark, sf_dir, "lineitem"), key_cols=["l_orderkey", "l_linenumber"]
    )
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            dec_sum("l_quantity").alias("sum_qty"),
            dec_sum("l_extendedprice").alias("sum_base_price"),
            dec_sum(disc_price, scale=4).alias("sum_disc_price"),
            dec_avg("l_quantity").alias("avg_qty"),
            dec_avg("l_discount", scale=6).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


@query(
    "coverage_matrix",
    oracle=f"""
        SELECT CAST(year(o_orderdate) AS INT) AS o_year,
               CAST(month(o_orderdate) AS INT) AS o_month,
               o_orderpriority,
               count(*) AS total_orders,
               {sql_dec_sum("o_totalprice")} AS total_revenue,
               min(o_orderdate) AS first_order,
               max(o_orderdate) AS last_order
        FROM orders
        GROUP BY o_year, o_month, o_orderpriority
        ORDER BY o_year, o_month, o_orderpriority
    """,
    tags=("bench", "agg"),
)
def coverage_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Coverage matrix shape: per (year, month, type) counts + MIN/MAX
    (reference golden ``evidencias/matriz-cobertura.csv``, operator A3)."""
    orders = t(spark, sf_dir, "orders")
    return (
        orders.groupBy(
            F.year("o_orderdate").alias("o_year"),
            F.month("o_orderdate").alias("o_month"),
            "o_orderpriority",
        )
        .agg(
            F.count("*").alias("total_orders"),
            dec_sum("o_totalprice").alias("total_revenue"),
            F.min("o_orderdate").alias("first_order"),
            F.max("o_orderdate").alias("last_order"),
        )
        .orderBy("o_year", "o_month", "o_orderpriority")
    )


@query(
    "price_percentiles",
    oracle="""
        SELECT o_orderpriority,
               count(*) AS n_orders,
               ROUND(CAST(quantile_cont(CAST(o_totalprice AS DOUBLE), 0.5) AS DOUBLE), 6) AS p50_price,
               ROUND(CAST(quantile_cont(CAST(o_totalprice AS DOUBLE), 0.9) AS DOUBLE), 6) AS p90_price
        FROM orders
        GROUP BY o_orderpriority
        HAVING count(*) > 50
        ORDER BY o_orderpriority
    """,
    tags=("bench", "agg", "percentile"),
)
def price_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Golden query #3 shape: exact PERCENTILE_CONT p50/p90 per group with
    a HAVING threshold (reference ``data_analysis.ipynb:251-263``,
    operators A4+A5). Exact ``percentile`` (not approx) to match
    PERCENTILE_CONT interpolation; at 100 TB swap to ``percentile_approx``
    via the approx_* catalog twins."""
    orders = t(spark, sf_dir, "orders")
    pcts = F.expr("percentile(CAST(o_totalprice AS DOUBLE), array(0.5D, 0.9D))")
    return (
        orders.groupBy("o_orderpriority")
        .agg(F.count("*").alias("n_orders"), pcts.alias("_p"))
        .filter(F.col("n_orders") > 50)
        .select(
            "o_orderpriority",
            "n_orders",
            F.round(F.col("_p")[0], 6).alias("p50_price"),
            F.round(F.col("_p")[1], 6).alias("p90_price"),
        )
        .orderBy("o_orderpriority")
    )


@query(
    "value_by_daypart",
    oracle=f"""
        SELECT event_type,
               CASE WHEN hour(ts) BETWEEN 6 AND 18 THEN 'Diurno' ELSE 'Nocturno' END AS franja,
               count(*) AS n_events,
               {sql_dec_avg("value")} AS avg_value
        FROM events
        GROUP BY event_type, franja
        ORDER BY event_type, franja
    """,
    tags=("bench", "agg", "case"),
)
def value_by_daypart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Golden query #5 shape: CASE-derived daypart bucket (Diurno 6-18 /
    Nocturno) then AVG per group (reference ``evidencias/velocidad_franja.csv``,
    operator A6 conditional-bucket aggregate)."""
    events = t(spark, sf_dir, "events")
    franja = (
        F.when(F.hour("ts").between(6, 18), F.lit("Diurno")).otherwise(F.lit("Nocturno"))
    ).alias("franja")
    return (
        events.groupBy("event_type", franja)
        .agg(F.count("*").alias("n_events"), dec_avg("value").alias("avg_value"))
        .orderBy("event_type", "franja")
    )


@query(
    "demand_grid",
    oracle=f"""
        SELECT CAST(year(ts) AS INT) AS e_year,
               CAST(hour(ts) AS INT) AS e_hour,
               count(*) AS n_events,
               {sql_dec_avg("value")} AS avg_value
        FROM events
        GROUP BY e_year, e_hour
        ORDER BY e_year, e_hour
    """,
    tags=("bench", "agg"),
)
def demand_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Golden query #4 shape: year x hour demand/price grid (reference
    ``data_analysis.ipynb:348-355`` / ``evidencias/elasticidad.csv``,
    operator A7)."""
    events = t(spark, sf_dir, "events")
    return (
        events.groupBy(
            F.year("ts").alias("e_year"),
            F.hour("ts").alias("e_hour"),
        )
        .agg(F.count("*").alias("n_events"), dec_avg("value").alias("avg_value"))
        .orderBy("e_year", "e_hour")
    )


def monthly_trend_agg(orders_one_year: DataFrame) -> DataFrame:
    """The flagship aggregate body, layout-agnostic: callers hand in the
    already-filtered year of orders (flat scan with a pushed date-range
    predicate, or a partition-pruned clustered table -- bench.py times
    both layouts over this same body, the X1 comparison)."""
    return (
        orders_one_year.groupBy(
            "o_orderpriority", F.date_trunc("month", F.col("o_orderdate")).alias("o_month")
        )
        .agg(F.count("*").alias("total_orders"), dec_avg("o_totalprice").alias("avg_price"))
        .orderBy("o_month", "o_orderpriority")
    )


@query(
    "monthly_trend",
    oracle=f"""
        SELECT o_orderpriority,
               date_trunc('month', o_orderdate) AS o_month,
               count(*) AS total_orders,
               {sql_dec_avg("o_totalprice")} AS avg_price
        FROM orders
        WHERE year(o_orderdate) = (SELECT min(year(o_orderdate)) FROM orders)
        GROUP BY o_orderpriority, o_month
        ORDER BY o_month, o_orderpriority
    """,
    tags=("bench", "agg", "flagship"),
)
def monthly_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The clustering-demo benchmark query (reference ``README.md:90-96``,
    operator A8; BASELINE.md headline 1500ms->92ms). Month-truncated
    aggregate over one year of the fact. With date-partitioned storage the
    year predicate becomes partition pruning -- here it pushes to parquet
    row-group stats."""
    orders = t(spark, sf_dir, "orders")
    # min(o_orderdate) is answered from parquet footer stats (aggregate
    # pushdown) -- no data scan; the year filter is then a plain date-range
    # predicate, which DOES push to row-group min/max (year(col) == y would
    # not: function-wrapped columns defeat pushdown).
    min_year = orders.agg(F.min("o_orderdate")).collect()[0][0].year
    return monthly_trend_agg(
        orders.filter(
            F.col("o_orderdate").between(f"{min_year}-01-01", f"{min_year}-12-31")
        )
    )


@query(
    "date_dim",
    oracle="""
        SELECT CAST(row_number() OVER (ORDER BY d) AS BIGINT) AS date_sk,
               strftime(d, '%Y-%m-%d') AS date_actual,
               CAST(year(d) AS INT) AS year_actual,
               CAST(quarter(d) AS INT) AS quarter_actual,
               CAST(month(d) AS INT) AS month_actual,
               CAST(day(d) AS INT) AS day_actual,
               CAST(weekofyear(d) AS INT) AS week_of_year,
               CAST(dayofyear(d) AS INT) AS day_of_year,
               CAST(dayofweek(d) + 1 AS INT) AS day_of_week,
               monthname(d) AS month_name,
               dayname(d) AS day_name,
               dayofweek(d) IN (0, 6) AS is_weekend
        FROM (SELECT unnest(generate_series(DATE '2015-01-01', DATE '2025-12-31',
                                            INTERVAL 1 DAY))::DATE AS d)
        ORDER BY date_actual
    """,
    tags=("dim", "window", "datetime"),
)
def date_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dim_date: the reference's recursive date spine + ROW_NUMBER surrogate
    key + calendar attributes (``dim_date.sql:6-60``, operators W1, F5-F8).
    Spark-first rewrite: ``sequence + explode`` instead of recursion; the
    unpartitioned ROW_NUMBER window is fine for a 4018-row dim (and only
    there -- documented single-partition hazard, SURVEY.md section 7).
    Spark dayofweek is 1=Sunday..7=Saturday; DuckDB 0=Sunday -- the oracle
    aligns with +1."""
    spine = spark.range(1).select(
        F.explode(
            F.sequence(F.to_date(F.lit("2015-01-01")), F.to_date(F.lit("2025-12-31")))
        ).alias("date_actual")
    )
    w = Window.orderBy("date_actual")
    return (
        spine.select(
            F.row_number().over(w).cast("bigint").alias("date_sk"),
            # DATE-typed outputs render inconsistently across engines'
            # pandas bridges -- catalog policy: dates leave as strings.
            F.date_format("date_actual", "yyyy-MM-dd").alias("date_actual"),
            F.year("date_actual").alias("year_actual"),
            F.quarter("date_actual").alias("quarter_actual"),
            F.month("date_actual").alias("month_actual"),
            F.dayofmonth("date_actual").alias("day_actual"),
            F.weekofyear("date_actual").alias("week_of_year"),
            F.dayofyear("date_actual").alias("day_of_year"),
            F.dayofweek("date_actual").alias("day_of_week"),
            F.date_format("date_actual", "MMMM").alias("month_name"),
            F.date_format("date_actual", "EEEE").alias("day_name"),
            F.dayofweek("date_actual").isin(1, 7).alias("is_weekend"),
        )
        .orderBy("date_actual")
    )


@query(
    "union_unify_schemas",
    oracle="""
        SELECT 'yellow' AS service_type, l_orderkey, l_linenumber,
               CAST(l_extendedprice AS DOUBLE) AS amount,
               CAST(l_tax AS DOUBLE) AS airport_fee,
               CAST(NULL AS DOUBLE) AS ehail_fee
        FROM lineitem WHERE l_returnflag = 'R'
        UNION ALL
        SELECT 'green' AS service_type, l_orderkey, l_linenumber,
               CAST(l_extendedprice AS DOUBLE) AS amount,
               CAST(NULL AS DOUBLE) AS airport_fee,
               CAST(l_tax AS DOUBLE) AS ehail_fee
        FROM lineitem WHERE l_returnflag = 'A'
    """,
    tags=("union", "projection"),
)
def union_unify_schemas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """stg_trips_unified shape: rename + literal service_type + NULL-pad
    divergent columns, then UNION ALL (``stg_trips_unified.sql:8,36,77,93-95``,
    operators U1+P1+P2). ``unionByName(allowMissingColumns)`` semantics with
    types pinned by explicit NULL casts."""
    li = t(spark, sf_dir, "lineitem")
    yellow = li.filter(F.col("l_returnflag") == "R").select(
        F.lit("yellow").alias("service_type"),
        "l_orderkey",
        "l_linenumber",
        F.col("l_extendedprice").cast("double").alias("amount"),
        F.col("l_tax").cast("double").alias("airport_fee"),
        F.lit(None).cast("double").alias("ehail_fee"),
    )
    green = li.filter(F.col("l_returnflag") == "A").select(
        F.lit("green").alias("service_type"),
        "l_orderkey",
        "l_linenumber",
        F.col("l_extendedprice").cast("double").alias("amount"),
        F.lit(None).cast("double").alias("airport_fee"),
        F.col("l_tax").cast("double").alias("ehail_fee"),
    )
    return yellow.unionByName(green)


@query(
    "dim_with_default_member",
    oracle="""
        SELECT CAST(row_number() OVER (ORDER BY n_nationkey) AS BIGINT) AS nation_sk,
               n_nationkey, n_name, n_regionkey
        FROM nation
        UNION ALL
        SELECT 0 AS nation_sk, -1 AS n_nationkey, 'Unknown' AS n_name, -1 AS n_regionkey
        ORDER BY nation_sk
    """,
    tags=("dim", "union", "window"),
)
def dim_with_default_member(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dim_zone's Unknown default-member append (``dim_zone.sql:60-76``,
    operators U2+W1): SK'd dim UNION ALL a literal unknown row so fact FK
    joins never drop rows."""
    nation = t(spark, sf_dir, "nation")
    w = Window.orderBy("n_nationkey")
    dim = nation.select(
        F.row_number().over(w).cast("bigint").alias("nation_sk"),
        "n_nationkey",
        "n_name",
        "n_regionkey",
    )
    unknown = spark.createDataFrame(
        [(0, -1, "Unknown", -1)], schema="nation_sk bigint, n_nationkey int, n_name string, n_regionkey int"
    )
    return dim.unionByName(unknown).orderBy("nation_sk")


@query(
    "quality_filter",
    oracle="""
        SELECT l_orderkey, l_linenumber,
               CAST(l_quantity AS DOUBLE) AS l_quantity,
               CAST(l_extendedprice AS DOUBLE) AS l_extendedprice,
               CAST(COALESCE(l_discount, 0) AS DOUBLE) AS l_discount,
               l_returnflag
        FROM lineitem
        WHERE l_shipdate IS NOT NULL
          AND l_quantity >= 0 AND l_quantity <= 1000
          AND l_extendedprice >= 0
          AND l_discount >= 0 AND l_discount < 1
          AND l_returnflag <> 'N'
    """,
    tags=("filter", "projection"),
)
def quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The silver quality gate: NOT NULL timestamps, non-negative amounts,
    bounded ranges, inequality exclusion, COALESCE null-substitution
    (``stg_trips_unified.sql:42-46,86-90``; ingest rules
    ``ingest_taxi.py/1759110138:162-187``; operators P4+P6+P7+P8).
    All predicates push down to the parquet scan."""
    li = t(spark, sf_dir, "lineitem")
    return li.filter(
        F.col("l_shipdate").isNotNull()
        & (F.col("l_quantity") >= 0)
        & (F.col("l_quantity") <= 1000)
        & (F.col("l_extendedprice") >= 0)
        & (F.col("l_discount") >= 0)
        & (F.col("l_discount") < 1)
        & (F.col("l_returnflag") != "N")
    ).select(
        "l_orderkey",
        "l_linenumber",
        F.col("l_quantity").cast("double").alias("l_quantity"),
        F.col("l_extendedprice").cast("double").alias("l_extendedprice"),
        F.coalesce(F.col("l_discount"), F.lit(0)).cast("double").alias("l_discount"),
        "l_returnflag",
    )


@query(
    "integrity_checks",
    oracle="""
        SELECT 'fk_orders_custkey' AS check_name, o_orderkey AS key_1, o_custkey AS key_2
        FROM orders o
        WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)
        UNION ALL
        SELECT 'unique_customer_custkey' AS check_name, c_custkey AS key_1,
               count(*) AS key_2
        FROM customer GROUP BY c_custkey HAVING count(*) > 1
    """,
    tags=("test", "join", "agg"),
)
def integrity_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dbt ``relationships`` + ``unique`` tests as ONE unioned violation
    frame (``models/gold/schema.yml:23-49,66-83``, operators J4 + A9):
    fact keys missing from the dim via a left-anti join against a
    broadcast dim (no shuffle), and duplicate-key groups via count>1.
    Healthy data returns 0 rows. The union-with-check_name shape is the
    same one ``quality.run_tests`` uses to count the whole suite with
    one aggregate."""
    orders = t(spark, sf_dir, "orders")
    customer = t(spark, sf_dir, "customer")
    fk = (
        orders.join(
            F.broadcast(customer), orders.o_custkey == customer.c_custkey, "left_anti"
        )
        .select(
            F.lit("fk_orders_custkey").alias("check_name"),
            F.col("o_orderkey").alias("key_1"),
            F.col("o_custkey").alias("key_2"),
        )
    )
    dup = (
        customer.groupBy("c_custkey")
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") > 1)
        .select(
            F.lit("unique_customer_custkey").alias("check_name"),
            F.col("c_custkey").alias("key_1"),
            F.col("n").alias("key_2"),
        )
    )
    return fk.unionByName(dup)


@query(
    "distinct_segments",
    oracle="""
        SELECT n.n_name,
               count(DISTINCT c.c_mktsegment) AS n_segments,
               count(*) AS n_customers
        FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
        GROUP BY n.n_name
        ORDER BY n.n_name
    """,
    tags=("agg", "join"),
)
def distinct_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COUNT DISTINCT per group (engine surface behind the unique test,
    SURVEY.md A9). Spark expands distinct-agg to a two-phase plan
    automatically; the approx twin for 100 TB is ``approx_event_profile``."""
    customer = t(spark, sf_dir, "customer")
    nation = t(spark, sf_dir, "nation")
    return (
        customer.join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.countDistinct("c_mktsegment").alias("n_segments"),
            F.count("*").alias("n_customers"),
        )
        .orderBy("n_name")
    )


@query(
    "ranked_in_group",
    oracle="""
        SELECT c_custkey, c_name, n_name, c_acctbal, bal_rank,
               bal_rank_dense_input, gap_to_prev
        FROM (
            SELECT c_custkey, c_name, n_name, c_acctbal,
                   CAST(row_number() OVER w AS BIGINT) AS bal_rank,
                   CAST(rank() OVER w AS BIGINT) AS bal_rank_dense_input,
                   ROUND(CAST(c_acctbal - lag(c_acctbal, 1, c_acctbal) OVER w AS DOUBLE), 6) AS gap_to_prev
            FROM customer JOIN nation ON c_nationkey = n_nationkey
            WINDOW w AS (PARTITION BY n_name ORDER BY c_acctbal DESC, c_custkey)
        ) WHERE bal_rank <= 3
        ORDER BY n_name, bal_rank
    """,
    tags=("window", "topk"),
)
def ranked_in_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partitioned ranking windows (extension beyond the reference's single
    global ROW_NUMBER, SURVEY.md section 2.5): row_number/rank/lag over a
    per-group frame, top-3 per group. Partitioned windows shuffle once on
    the partition key and scale linearly."""
    customer = t(spark, sf_dir, "customer")
    nation = t(spark, sf_dir, "nation")
    w = Window.partitionBy("n_name").orderBy(F.desc("c_acctbal"), F.asc("c_custkey"))
    return (
        customer.join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .select(
            "c_custkey",
            "c_name",
            "n_name",
            "c_acctbal",
            F.row_number().over(w).cast("bigint").alias("bal_rank"),
            F.rank().over(w).cast("bigint").alias("bal_rank_dense_input"),
            F.round(
                (F.col("c_acctbal") - F.lag("c_acctbal", 1).over(w)).cast("double"), 6
            ).alias("gap_to_prev"),
        )
        .filter(F.col("bal_rank") <= 3)
        .na.fill({"gap_to_prev": 0.0})
        .orderBy("n_name", "bal_rank")
    )


@query(
    "rolling_avg_value",
    oracle="""
        SELECT event_id, user_id,
               ROUND(CAST(sum(CAST(value AS DECIMAL(18,4)))
                          OVER w AS DOUBLE) / count(value) OVER w, 6) AS rolling_avg
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
    """,
    tags=("window",),
)
def rolling_avg_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-spec analytic window (extension beyond the reference's single
    global ROW_NUMBER, SURVEY.md section 2.5): 3-row rolling average per
    user in event-time order. ``rowsBetween`` frames shuffle once on the
    partition key; decimal accumulation keeps the value deterministic
    under any execution order."""
    events = t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-2, Window.currentRow)
    )
    rolling = F.round(
        F.sum(F.col("value").cast("decimal(18,4)")).over(w).cast("double")
        / F.count("value").over(w),
        6,
    )
    return events.select("event_id", "user_id", rolling.alias("rolling_avg"))


@query("approx_event_profile", oracle=None, tags=("approx",))
def approx_event_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog++ distinct users AND KLL-sketch value quantiles per
    event type in ONE aggregate pass (SURVEY.md 2b approx surface). At
    100 TB the exact distinct's per-key shuffle of raw ids and the exact
    percentile's full sort are the bottlenecks; both sketches are
    constant-size per group and merge map-side, and fusing them halves
    the scans. No SQL oracle -- DuckDB's sketches differ -- so the driver
    records rows-only; error bounds vs exact are pinned in
    tests/test_approx.py."""
    events = t(spark, sf_dir, "events")
    return (
        events.groupBy("event_type")
        .agg(
            F.approx_count_distinct("user_id", rsd=0.02).alias("approx_users"),
            F.count("*").alias("n_events"),
            F.percentile_approx("value", [0.5, 0.9, 0.99], 10000).alias("approx_pcts"),
        )
        .select(
            "event_type",
            "approx_users",
            "n_events",
            F.col("approx_pcts")[0].alias("p50"),
            F.col("approx_pcts")[1].alias("p90"),
            F.col("approx_pcts")[2].alias("p99"),
        )
        .orderBy("event_type")
    )


@query(
    "rollup_revenue",
    oracle=f"""
        SELECT coalesce(o_orderpriority, 'ALL') AS priority,
               CAST(coalesce(year(o_orderdate), 0) AS INT) AS o_year,
               count(*) AS n_orders,
               {sql_dec_sum("o_totalprice")} AS revenue
        FROM orders
        GROUP BY ROLLUP (o_orderpriority, year(o_orderdate))
        ORDER BY priority, o_year
    """,
    tags=("agg", "rollup"),
)
def rollup_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP hierarchy totals (engine-surface extension beyond the
    reference, SURVEY.md section 2.4 notes no grouping sets exist there).
    Spark plans a single Expand + one aggregate -- one pass over the fact
    for all hierarchy levels, the scale-safe way to get subtotals."""
    orders = t(spark, sf_dir, "orders")
    return (
        orders.rollup("o_orderpriority", F.year("o_orderdate").alias("o_year"))
        .agg(F.count("*").alias("n_orders"), dec_sum("o_totalprice").alias("revenue"))
        .select(
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("priority"),
            F.coalesce("o_year", F.lit(0)).cast("int").alias("o_year"),
            "n_orders",
            "revenue",
        )
        .orderBy("priority", "o_year")
    )


@query(
    "set_ops_customers",
    oracle="""
        WITH buyers AS (SELECT DISTINCT o_custkey AS c FROM orders),
        high_bal AS (SELECT c_custkey AS c FROM customer WHERE c_acctbal > 5000)
        SELECT 'buyer_and_high_bal' AS op, count(*) AS n
        FROM (SELECT c FROM buyers INTERSECT SELECT c FROM high_bal)
        UNION ALL
        SELECT 'high_bal_never_bought' AS op, count(*) AS n
        FROM (SELECT c FROM high_bal EXCEPT SELECT c FROM buyers)
        ORDER BY op
    """,
    tags=("setop",),
)
def set_ops_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT / EXCEPT engine surface (absent from the reference,
    SURVEY.md section 2.7). Spark plans both as aggregated semi/anti hash
    joins -- same shuffle shape as a distinct, no row-by-row set logic."""
    orders = t(spark, sf_dir, "orders")
    customer = t(spark, sf_dir, "customer")
    buyers = orders.select(F.col("o_custkey").alias("c")).distinct()
    high_bal = customer.filter(F.col("c_acctbal") > 5000).select(
        F.col("c_custkey").alias("c")
    )
    both = buyers.intersect(high_bal).agg(F.count("*").alias("n")).select(
        F.lit("buyer_and_high_bal").alias("op"), "n"
    )
    never = high_bal.exceptAll(buyers).distinct().agg(F.count("*").alias("n")).select(
        F.lit("high_bal_never_bought").alias("op"), "n"
    )
    return both.unionByName(never).orderBy("op")
