"""Record the expected output digest of every benchmark query.

    python3 perfbench/record_digests.py

Run from the root of a checkout. For each workload's queries, the digest
comes from the query's DuckDB oracle (``registry.oracle_sql()``) over the
same generated tables. Where the oracle does not finish within
``ORACLE_TIMEOUT_S``, the digest comes from the Spark output instead, and
``source`` says so. A query whose Spark output disagrees with a finished
oracle is reported and recorded with the oracle's digest, so the benchmark
counts it as failed.
"""

from __future__ import annotations

import json
import os
import sys
import threading

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(0, ROOT)
os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")]))

from datagen import TABLES, generate  # noqa: E402
from digests import DIGESTS_PATH, digest  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

ORACLE_TIMEOUT_S = 120.0


def _oracle(data_dir: str, sql: str, timeout: float):
    import duckdb

    con = duckdb.connect()
    try:
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
        timer = threading.Timer(timeout, con.interrupt)
        timer.start()
        try:
            rel = con.execute(sql)
            return [d[0] for d in rel.description], rel.fetchall()
        except duckdb.InterruptException:
            return None
        finally:
            timer.cancel()
    finally:
        con.close()


def main() -> int:
    from gisaid_pipeline_functions_spark import registry
    from gisaid_pipeline_functions_spark.session import get_spark

    spark = get_spark("perfbench-record", cpus=len(os.sched_getaffinity(0)))
    spark.sparkContext.setLogLevel("ERROR")
    qs, sql = registry.queries(), registry.oracle_sql()
    book: dict[str, dict] = {}
    mismatches = 0
    for w in WORKLOADS.values():
        key = f"sf{w.scale:g}"
        data_dir = generate(os.path.join(HERE, "_data", key), w.scale)
        for name in w.queries:
            if name in book.get(key, {}):
                continue
            df = qs[name](spark, data_dir)
            rows = df.collect()
            spark_digest = digest(df.columns, rows)
            spark.catalog.clearCache()
            got = _oracle(data_dir, sql[name], ORACLE_TIMEOUT_S)
            if got is None:
                entry = {"digest": spark_digest, "rows": len(rows), "source": "spark"}
            else:
                entry = {"digest": digest(*got), "rows": len(got[1]), "source": "duckdb"}
                if entry["digest"] != spark_digest:
                    mismatches += 1
                    print(f"MISMATCH {name}: spark {len(rows)} rows, oracle {len(got[1])}",
                          file=sys.stderr)
            book.setdefault(key, {})[name] = entry
            print(name, entry, flush=True)
    spark.stop()
    with open(DIGESTS_PATH, "w") as f:
        json.dump(book, f, indent=1, sort_keys=True)
        f.write("\n")
    return 1 if mismatches else 0


if __name__ == "__main__":
    sys.exit(main())
