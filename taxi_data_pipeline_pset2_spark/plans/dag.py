"""dbt-like DAG runner (SURVEY.md section 2.11, 3.2).

The reference's orchestration is Mage block DAGs + dbt refs; here a node
is ``fn(spark, upstreams) -> DataFrame`` and "ref" is a dict lookup.
Materialization is per-node: ``table`` writes parquet into the warehouse
dir (optionally partitioned+sorted -- the X1 clustering equivalent) and
re-reads it, so downstream nodes scan materialized storage exactly like
dbt's table materialization; ``ephemeral`` passes the lazy plan through.
Materializing a table runs no job beyond the write (and the broadcasts
its plan needs): the row count comes from an ``Observation`` on the
written frame, and the re-read takes the frame's own schema, so neither
a count nor a parquet footer scan follows the write, and a partition
column keeps its type instead of one inferred from directory names.

Execution is sequential in topological order by default -- within each
node Spark already parallelizes across all cores, so node-level
threading (dbt's 4/8 threads, ``profiles.yml:12,24``) only helps when
the cluster is underutilized by a single node. That is false for the
100 TB fact build but true for the dim-sized nodes around it (a
4018-row dim build leaves a 1000-executor cluster idle), so
``run(threads=N)`` opts into dbt-style concurrent execution of
independent nodes: Spark job submission is thread-safe, each thread
submits its node's jobs and the scheduler interleaves stages.
"""

from __future__ import annotations

import time
from collections.abc import Callable
from concurrent.futures import FIRST_COMPLETED, ThreadPoolExecutor, wait
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType


@dataclass(frozen=True)
class Node:
    name: str
    fn: Callable[..., DataFrame]  # fn(spark, **upstream_dataframes)
    deps: tuple[str, ...] = ()
    materialization: str = "table"  # "table" | "ephemeral"
    partition_by: tuple[str, ...] = ()
    sort_within_partitions_by: tuple[str, ...] = ()


@dataclass
class NodeResult:
    name: str
    status: str
    seconds: float
    rows: int | None = None
    error: str | None = None
    started_at: float = 0.0  # monotonic; lets tests assert node overlap
    finished_at: float = 0.0


@dataclass
class Pipeline:
    warehouse_dir: str
    nodes: list[Node] = field(default_factory=list)

    def add(self, node: Node) -> "Pipeline":
        # reject duplicates HERE: _topo_order's by_name dict would keep
        # only the last same-named node, so the shadowed one would never
        # run while run() still reports all-success -- and both writes
        # would target warehouse_dir/<name>
        if any(n.name == node.name for n in self.nodes):
            raise ValueError(f"duplicate node name: {node.name!r}")
        self.nodes.append(node)
        return self

    def _topo_order(self) -> list[Node]:
        by_name = {n.name: n for n in self.nodes}
        seen: dict[str, int] = {}  # 0=visiting, 1=done
        order: list[Node] = []

        def visit(name: str) -> None:
            state = seen.get(name)
            if state == 1:
                return
            if state == 0:
                raise ValueError(f"cycle at {name}")
            seen[name] = 0
            for d in by_name[name].deps:
                if d not in by_name:
                    raise ValueError(f"{name} depends on unknown node {d}")
                visit(d)
            seen[name] = 1
            order.append(by_name[name])

        for n in self.nodes:
            visit(n.name)
        return order

    def _run_node(
        self, spark: SparkSession, node: Node, upstream: dict[str, DataFrame]
    ) -> tuple[DataFrame, NodeResult]:
        t0 = time.perf_counter()
        try:
            df = node.fn(spark, **upstream)
            rows = None
            if node.materialization == "table":
                path = f"{self.warehouse_dir}/{node.name}"
                written = Observation()
                writer = df.observe(written, F.count(F.lit(1)).alias("rows"))
                if node.sort_within_partitions_by:
                    writer = writer.sortWithinPartitions(
                        *node.sort_within_partitions_by
                    )
                w = writer.write.mode("overwrite")
                if node.partition_by:
                    w = w.partitionBy(*node.partition_by)
                w.parquet(path)
                rows = written.get["rows"]
                # partition columns go last, as Spark puts them when it
                # finds partition directories -- an empty node has none
                data = [f for f in df.schema if f.name not in node.partition_by]
                parts = [df.schema[c] for c in node.partition_by]
                df = spark.read.schema(StructType(data + parts)).parquet(path)
            t1 = time.perf_counter()
            return df, NodeResult(
                node.name, "success", t1 - t0, rows, started_at=t0, finished_at=t1
            )
        except Exception as e:  # noqa: BLE001 - per-node status like Mage
            t1 = time.perf_counter()
            raise _NodeFailure(
                NodeResult(
                    node.name, "failed", t1 - t0, None, str(e), t0, t1
                )
            ) from e

    def run(
        self, spark: SparkSession, threads: int = 1
    ) -> tuple[dict[str, DataFrame], list[NodeResult]]:
        """Materialize all nodes in dependency order; returns the final
        DataFrames (reading from materialized storage for tables) and
        per-node status, mirroring Mage's per-block status tracking
        (``pipelines/taxi_zones/metadata.yaml:5-33``).

        ``threads`` > 1 runs independent nodes concurrently (dbt's
        threaded execution, reference ``profiles.yml:12,24``): a node is
        submitted as soon as every dependency has materialized. Results
        are returned in topological order either way, and a failure stops
        new submissions, drains in-flight nodes, then re-raises."""
        order = self._topo_order()
        if threads <= 1:
            built: dict[str, DataFrame] = {}
            results: list[NodeResult] = []
            for node in order:
                try:
                    df, res = self._run_node(
                        spark, node, {d: built[d] for d in node.deps}
                    )
                except _NodeFailure as f:
                    results.append(f.result)
                    raise f.__cause__ from None
                built[node.name] = df
                results.append(res)
            return built, results
        return self._run_concurrent(spark, order, threads)

    def _run_concurrent(
        self, spark: SparkSession, order: list[Node], threads: int
    ) -> tuple[dict[str, DataFrame], list[NodeResult]]:
        built: dict[str, DataFrame] = {}
        by_result: dict[str, NodeResult] = {}
        remaining = {n.name: set(n.deps) for n in order}
        nodes = {n.name: n for n in order}
        failure: _NodeFailure | None = None
        with ThreadPoolExecutor(max_workers=threads) as pool:
            futures = {}

            def submit_ready() -> None:
                for name in [n for n, deps in remaining.items() if not deps]:
                    del remaining[name]
                    node = nodes[name]
                    futures[
                        pool.submit(
                            self._run_node,
                            spark,
                            node,
                            {d: built[d] for d in node.deps},
                        )
                    ] = name

            submit_ready()
            while futures:
                done, _ = wait(futures, return_when=FIRST_COMPLETED)
                for fut in done:
                    name = futures.pop(fut)
                    try:
                        df, res = fut.result()
                    except _NodeFailure as f:
                        by_result[name] = f.result
                        failure = failure or f
                        continue
                    built[name] = df
                    by_result[name] = res
                    for deps in remaining.values():
                        deps.discard(name)
                if failure is None:
                    submit_ready()  # stop submitting after a failure
        results = [by_result[n.name] for n in order if n.name in by_result]
        if failure is not None:
            raise failure.__cause__ from None
        return built, results


class _NodeFailure(Exception):
    """Carries the failed NodeResult across the executor boundary."""

    def __init__(self, result: NodeResult):
        super().__init__(result.error)
        self.result = result


def taxi_pipeline(
    warehouse_dir: str,
    yellow: DataFrame,
    green: DataFrame,
    zones: DataFrame,
) -> Pipeline:
    """The full medallion DAG for given raw inputs. Gold fact is written
    partitioned by service_type + sorted by pickup_date within partitions
    (X1: partition pruning + row-group min/max skipping on the BASELINE
    benchmark query's predicates)."""
    from taxi_data_pipeline_pset2_spark.plans import taxi_models as m

    return (
        Pipeline(warehouse_dir)
        .add(Node("stg_trips_unified", lambda spark: m.stg_trips_unified(yellow, green)))
        .add(Node("dim_date", lambda spark: m.dim_date(spark)))
        .add(Node("dim_zone", lambda spark: m.dim_zone(zones)))
        .add(Node("dim_payment_type", lambda spark: m.dim_payment_type(spark)))
        .add(Node("dim_rate_code", lambda spark: m.dim_rate_code(spark)))
        .add(
            Node(
                "fct_trips",
                lambda spark, stg_trips_unified, dim_date, dim_zone: m.fct_trips(
                    stg_trips_unified, dim_date, dim_zone
                ),
                deps=("stg_trips_unified", "dim_date", "dim_zone"),
                partition_by=("service_type",),
                sort_within_partitions_by=("pickup_date",),
            )
        )
    )
