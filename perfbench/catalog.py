"""``catalog_operators`` workload: catalog entries on TPC-H-shaped tables.

The inputs are the tables of ``catalog_data`` (fixed generator seed); the
workload seed sets the order the entries run in, a new order each pass.
Each entry is called (construction: the query function with its eager
probes and driver-side loops), planned (``executedPlan``) and collected
to pandas. The entries cover the driver fast paths (pagerank, k-core,
k-means, BPE) and the shuffle-heavy operators (Spearman ranks,
association rules).

Check, untimed: each result's digest (sha256 over
``tests/oracle_utils.canonical_rows``) equals the one stored in
``expected_digests.json``. Those digests come from the entry's DuckDB
oracle, except for ``pagerank_supplier_customer`` (its oracle runs out of
memory) and ``bpe_train_encode`` (a composite with no oracle), whose
digests are the engine's own output; ``make_digests.py`` rebuilds them.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import time
import traceback

from perfbench.catalog_data import write_tables
from perfbench.harness import CheckResult, PassRecord, log

ENTRIES = (
    "pagerank_supplier_customer",
    "part_kcore",
    "kmeans_clusters",
    "bpe_train_encode",
    "spearman_qty_price",
    "brand_association_rules",
)
DIGESTS_PATH = os.path.join(os.path.dirname(os.path.abspath(__file__)), "expected_digests.json")


def bpe_train_encode(spark, sf_dir: str):
    """BPE composite: learn 50 merges on the corpus, then encode it."""
    from taxi_data_pipeline_pset2_spark.operators.bpe import bpe_learn, tokenize_bpe
    from taxi_data_pipeline_pset2_spark.sources.readers import load_table

    docs = load_table(spark, sf_dir, "documents")
    return tokenize_bpe(docs, bpe_learn(docs, n_merges=50))


def entry_functions(names=ENTRIES) -> dict:
    from taxi_data_pipeline_pset2_spark.queries import spark_queries

    catalog = {**spark_queries(), "bpe_train_encode": bpe_train_encode}
    return {n: catalog[n] for n in names}


def digest(pdf) -> str:
    from tests.oracle_utils import canonical_rows

    h = hashlib.sha256("\x1f".join(sorted(pdf.columns)).encode())
    for row in canonical_rows(pdf):
        h.update(("\x1f".join(row) + "\n").encode())
    return h.hexdigest()


def load_digests(path: str = DIGESTS_PATH) -> dict[str, str]:
    with open(path) as f:
        return {name: e["digest"] for name, e in json.load(f)["entries"].items()}


class CatalogOperators:
    name = "catalog_operators"

    def __init__(self, seed: int, entries=ENTRIES, digests: dict[str, str] | None = None):
        self.seed = seed
        self.entries = tuple(entries)
        self.digests = digests if digests is not None else load_digests()
        self.tables = ""
        self.fns = entry_functions(self.entries)

    @staticmethod
    def layer_names() -> list[str]:
        names = [f"catalog.{e}.{k}" for e in ENTRIES for k in ("construct_s", "exec_s", "jobs", "driver_s")]
        return names + ["catalog.plan_s"]

    def make_inputs(self, spark, dest: str) -> None:
        self.tables = os.path.join(dest, "tables")
        write_tables(self.tables)

    def probe(self, spark, tracer) -> None:
        return None

    def probe_metrics(self, tracer) -> dict[str, float]:
        return {}

    def run_pass(self, spark, tracer, index: int) -> PassRecord:
        rec = PassRecord(index, traced=False)
        order = list(self.entries)
        random.Random(self.seed * 1009 + index).shuffle(order)
        t0 = time.perf_counter()
        with tracer.span("pass") as pass_span:
            for name in order:
                with tracer.span(f"catalog.{name}"):
                    try:
                        with tracer.span("construct"):
                            df = self.fns[name](spark, self.tables)
                        with tracer.span("plan"):
                            df._jdf.queryExecution().executedPlan()
                        with tracer.span("exec"):
                            rec.outputs[name] = df.toPandas()
                    except Exception:  # noqa: BLE001 - a failed entry is counted, not fatal
                        rec.error = traceback.format_exc(limit=6)
                        log(f"pass {index} {name} raised:\n{rec.error}")
        rec.seconds = time.perf_counter() - t0
        rec.span = pass_span
        return rec

    def check(self, passes: list[PassRecord]) -> CheckResult:
        out = CheckResult()
        for rec in passes:
            for name in self.entries:
                pdf = rec.outputs.get(name)
                if pdf is None:
                    problems = ["entry raised"]
                else:
                    got = digest(pdf)
                    want = self.digests.get(name)
                    problems = [] if got == want else [f"digest {got[:12]} != expected {str(want)[:12]} ({len(pdf)} rows)"]
                out.record(f"pass {rec.index} {name}", problems)
        return out

    def layer_metrics(self, tracer, rec: PassRecord) -> dict[str, float]:
        m: dict[str, float] = {"catalog.plan_s": 0.0}
        for entry_span in tracer.children(rec.span):
            name = entry_span.name.removeprefix("catalog.")
            parts = {s.name: s for s in tracer.children(entry_span)}
            m[f"catalog.{name}.construct_s"] = parts["construct"].seconds
            m[f"catalog.{name}.exec_s"] = parts["exec"].seconds
            m[f"catalog.{name}.jobs"] = float(len(tracer.total_census(entry_span).jobs))
            m[f"catalog.{name}.driver_s"] = tracer.driver_seconds(parts["construct"])
            m["catalog.plan_s"] += parts["plan"].seconds
        return m
