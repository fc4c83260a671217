"""Rebuild ``expected_digests.json`` for the catalog workload.

    python3 perfbench/make_digests.py

Generates the catalog tables, then for each entry stores the digest of
its DuckDB oracle's result, after checking that the engine's result
matches it (a mismatch is printed and the oracle digest is kept, so the
benchmark reports the failure). Entries without a usable oracle store
the engine's own output, with the reason.
"""

from __future__ import annotations

import json
import os
import shutil
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

ENGINE_OUTPUT = {
    "pagerank_supplier_customer": "its DuckDB oracle runs out of memory (8 unrolled CTE rounds are inlined)",
    "bpe_train_encode": "a pipeline composite with no DuckDB oracle",
}


def main() -> int:
    sys.path.insert(0, ROOT)
    from perfbench import harness
    from perfbench.catalog import DIGESTS_PATH, ENTRIES, digest, entry_functions
    from perfbench.catalog_data import GEN_SEED, SF, write_tables
    from taxi_data_pipeline_pset2_spark.queries import oracle_sqls
    from tests.oracle_utils import compare_frames, duckdb_connection

    work = os.path.join(ROOT, ".perfbench_work", "digests")
    harness.prepare_env(work, len(os.sched_getaffinity(0)))
    tables = os.path.join(work, "tables")
    write_tables(tables)
    con = duckdb_connection(tables)
    con.execute("SET memory_limit = '3GB'")
    oracles = oracle_sqls()
    spark = harness.start_session(work)
    entries, mismatches = {}, 0
    try:
        for name, fn in entry_functions().items():
            got = fn(spark, tables).toPandas()
            if name in ENGINE_OUTPUT:
                entries[name] = {"digest": digest(got), "rows": len(got),
                                 "source": "engine output", "why": ENGINE_OUTPUT[name]}
                continue
            want = con.execute(oracles[name]).df()
            problems = compare_frames(got, want)
            if problems:
                mismatches += 1
                print(f"{name}: engine differs from oracle: {problems[:2]}", file=sys.stderr)
            entries[name] = {"digest": digest(want), "rows": len(want), "source": "duckdb oracle"}
            print(f"{name}: {len(want)} rows, {'MISMATCH' if problems else 'match'}", file=sys.stderr)
    finally:
        harness.stop_jvm(spark)
        shutil.rmtree(work, ignore_errors=True)
    assert list(entries) == list(ENTRIES)
    with open(DIGESTS_PATH, "w") as f:
        json.dump({"tables": {"generator_seed": GEN_SEED, "sf": SF}, "entries": entries}, f, indent=1)
        f.write("\n")
    return 1 if mismatches else 0


if __name__ == "__main__":
    sys.exit(main())
