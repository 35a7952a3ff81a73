"""Rebuild ``expected/sf<sf>.json``: the expected result of every query op.

    python3 perfbench/make_expected.py

For each op of the ``registry_queries`` workload, and the candidate ops
left out of it, it records:

- the expected fingerprint (rows, sorted columns, value hash) from the
  DuckDB oracle;
- the SHA-256 of the oracle SQL, so a changed oracle marks its entry stale;
- ``input_bytes``: what Spark read for the op, the numerator of
  ``input_mb_per_s``;
- ``count_s`` and ``full_s``: the median time of ``df.count()`` and of
  ``collect()`` of the full result, the gap ``count()``-based timing hides.

The Spark result must match the oracle; the script fails otherwise.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

from perfbench import run as bench  # noqa: E402
from perfbench.expected import (  # noqa: E402
    cache_path,
    fingerprint,
    oracle_fingerprint,
    relocate_fixture_dirs,
    sql_sha,
)

#: Candidate ops left out of the workload to fit the run-time budget;
#: recorded too, for their count()/full-result times.
CANDIDATES = (
    "q3_shipping_priority",
    "q18_large_volume_orders",
    "asof_latest_order_before_event",
    "kcore_supplier_graph",
    "phash_index_probe_media",
)
REPEATS = 3


def main() -> int:
    from perfbench import workloads
    from perfbench.trace import SparkCounters

    names = workloads.RegistryQueries.queries + workloads.RegistryQueries.layer_queries + CANDIDATES
    work = os.path.join(bench.REPO, ".perfbench", f"work-{os.getpid()}")
    bench.hermetic_env(work)
    session = bench.Session()
    out = {}
    try:
        session.build()
        spark = session.spark
        from parcialbigdata_spark import queries

        relocate_fixture_dirs(queries)
        counters = SparkCounters(spark)
        for name in names:
            fn = queries.QUERIES[name]
            full, count, fp, input_bytes = [], [], None, 0
            for _ in range(REPEATS):
                counters.take()
                t = time.perf_counter()
                df = fn(spark, workloads.SF_DIR)
                rows = [tuple(r) for r in df.collect()]
                full.append(time.perf_counter() - t)
                input_bytes = int(counters.take()["spark.input_mb"] * 1024 * 1024)
                fp = fingerprint(rows, df.columns)
                spark.catalog.clearCache()
                t = time.perf_counter()
                fn(spark, workloads.SF_DIR).count()
                count.append(time.perf_counter() - t)
                spark.catalog.clearCache()
            sql = queries.ORACLES.get(name)
            entry = {
                "oracle_sha": sql_sha(sql),
                "input_bytes": input_bytes,
                "full_s": round(statistics.median(full), 3),
                "count_s": round(statistics.median(count), 3),
            }
            oracle_fp = oracle_fingerprint(workloads.SF_DIR, sql)
            if oracle_fp != fp:
                raise SystemExit(f"{name}: Spark {fp} does not match the oracle {oracle_fp}")
            entry.update(oracle_fp)
            out[name] = entry
            print(name, entry, file=sys.stderr, flush=True)
    finally:
        session.close()
        os.chdir(bench.REPO)
        import shutil

        shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.dirname(cache_path(workloads.SF)), exist_ok=True)
    with open(cache_path(workloads.SF), "w", encoding="utf-8") as fh:
        json.dump({"sf": workloads.SF, "queries": out}, fh, indent=1, sort_keys=True)
        fh.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
