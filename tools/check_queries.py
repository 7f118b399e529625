"""Targeted sf0.01 oracle check for named queries — the same compare the
driver and tools/fulldrive.py run, but only for the names given on the
command line. The fast inner loop while building a new operator (the
full drive takes ~8 min; one query takes seconds).

``--sample N`` (VERDICT r9 #5) replaces the name list with a
deterministic stratified sample — N queries spread across
(registering module, last-driver-green round) strata, stalest driver
evidence first within each stratum. Either way the results persist as
``SPOTCHECK_r<round>.json`` in the exact CORRECTNESS_r*.json schema, so
a judge (or the builder) has a one-command independent audit whose
artifact is machine-comparable with the driver's own.

Usage:  python tools/check_queries.py name [name ...] [--sf=DIR]
        python tools/check_queries.py --sample 20 [--sf=DIR]

Round stamping: the SPOTCHECK artifact's round is max(existing
CORRECTNESS rounds)+1 — correct for the builder's pre-driver flow.
When running AFTER the driver in the same round (a judge's audit),
set SPARK_GRAFT_ROUND explicitly or the artifact gets the NEXT
round's number; the window-disjointness exclusion itself is
order-safe either way (it excludes the latest CORRECTNESS file's
names — ADVICE r12).
"""

from __future__ import annotations

import json
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))


def _stratified_sample(registry, n: int) -> list[str]:
    """Deterministic round-robin over (module, last-driver-green) strata.

    Strata are ordered stalest-driver-evidence first (never-driven = 0),
    then module name; within a stratum, registration order. Round-robin
    across strata guarantees every module×staleness combination is
    represented before any stratum contributes twice.

    Names in the CURRENT round's driver window are excluded (VERDICT r10
    #4): the spotcheck's value is independent coverage, so it must be
    disjoint from what the driver checks this round — the first 50 names
    in rotation order (the window the driver will consume), PLUS the
    names in the latest EXISTING CORRECTNESS artifact. The latter covers
    the driver-ran-first case (ADVICE r12): _round_number() derives the
    round as max(existing)+1, so "this round's" file can never exist by
    that name — but when the driver has already run, its output IS the
    latest existing file and its names have rotated out of the first-50
    (their evidence is now fresh). Excluding the latest file's names is
    correct in both orderings: driver-first, it restores the documented
    disjointness; builder-first, it only skips last round's freshest
    names, which the spotcheck (stalest-first) values least anyway."""
    driver, _ = registry._evidence()
    qs = registry.queries()
    root = Path(__file__).resolve().parents[1]
    excluded = set(list(qs)[:50])
    # Sort by the PARSED round, not lexicographically (ADVICE r13): a
    # zero-padded sort returns r99 as "latest" once rounds hit three
    # digits and the exclusion set silently targets the wrong round.
    import re

    latest = sorted(
        root.glob("CORRECTNESS_r*.json"),
        key=lambda p: int(re.search(r"r(\d+)$", p.stem).group(1)),
    )
    if latest:
        try:
            excluded |= set(json.loads(latest[-1].read_text()))
        except ValueError:
            pass
    strata: dict[tuple[int, str], list[str]] = {}
    for name in qs:  # registration-staleness order from registry._ordered
        if name in excluded:
            continue
        mod = qs[name].__module__.rsplit(".", 1)[-1]
        strata.setdefault((driver.get(name, 0), mod), []).append(name)
    ordered_strata = [strata[k] for k in sorted(strata)]
    picked: list[str] = []
    i = 0
    while len(picked) < n and any(ordered_strata):
        for bucket in ordered_strata:
            if i < len(bucket) and len(picked) < n:
                picked.append(bucket[i])
        i += 1
        if i > max(len(b) for b in ordered_strata):
            break
    return picked


def _round_number(root: Path) -> int:
    import os
    import re

    env = os.environ.get("SPARK_GRAFT_ROUND")
    if env and env.isdigit():
        return int(env)
    rounds = [
        int(m.group(1))
        for p in root.glob("CORRECTNESS_r*.json")
        if (m := re.search(r"r(\d+)$", p.stem))
    ]
    return max(rounds, default=0) + 1


def main() -> int:
    args = []
    sf_dir = "/root/testdata/sf0.01"
    sample_n = 0
    argv = sys.argv[1:]
    i = 0
    while i < len(argv):
        a = argv[i]
        if a.startswith("--sf="):
            sf_dir = a.split("=", 1)[1]
        elif a == "--sample":
            sample_n = int(argv[i + 1])
            i += 1
        elif a.startswith("--sample="):
            sample_n = int(a.split("=", 1)[1])
        else:
            args.append(a)
        i += 1

    from pyspark.sql import SparkSession

    from gisaid_pipeline_functions_spark import registry
    from tests.oracle import _rowset, duckdb_conn

    if sample_n:
        args = _stratified_sample(registry, sample_n)
        print(f"stratified sample ({sample_n}): {' '.join(args)}")

    spark = (
        SparkSession.builder.master("local[16]")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", "8g")
        .appName("check_queries")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    qs, oracles = registry.queries(), registry.oracle_sql()
    con = duckdb_conn(sf_dir)
    failed = []
    out: dict[str, dict] = {}
    for name in args:
        row = {
            "rows_match": None,
            "schema_match": None,
            "hash_match": None,
            "spark_rows": None,
            "oracle_rows": None,
            "err": None,
        }
        if name not in qs:
            print(f"{name}: NOT REGISTERED")
            row["err"] = "not_registered"
            out[name] = row
            failed.append(name)
            continue
        t0 = time.time()
        try:
            df = qs[name](spark, sf_dir)
            s_cols = df.columns
            s_rows = [tuple(r) for r in df.collect()]
            row["spark_rows"] = len(s_rows)
            if name in oracles:
                rel = con.execute(oracles[name])
                d_cols = [d[0] for d in rel.description]
                d_rows = rel.fetchall()
                row["oracle_rows"] = len(d_rows)
                row["rows_match"] = len(s_rows) == len(d_rows)
                row["schema_match"] = sorted(s_cols) == sorted(d_cols)
                row["hash_match"] = (
                    row["rows_match"]
                    and row["schema_match"]
                    and _rowset(s_cols, s_rows) == _rowset(d_cols, d_rows)
                )
                verdict = (
                    "hash-green" if row["hash_match"] else "HASH-MISMATCH"
                )
                if not row["hash_match"]:
                    failed.append(name)
            else:
                row["err"] = "no_oracle"
                verdict = f"rows-only ({row['spark_rows']} rows)"
            print(f"{name}: {verdict}  [{time.time() - t0:.1f}s]")
        except Exception as e:  # noqa: BLE001
            row["err"] = str(e)[:300]
            print(f"{name}: FAIL [{time.time() - t0:.1f}s] {e}")
            failed.append(name)
        out[name] = row
        spark.catalog.clearCache()

    root = Path(__file__).resolve().parents[1]
    path = root / f"SPOTCHECK_r{_round_number(root):02d}.json"
    path.write_text(json.dumps(out, indent=1))
    greens = sum(
        1 for r in out.values() if r["hash_match"] or r["err"] == "no_oracle"
    )
    print(f"wrote {path}: {greens}/{len(out)} green")
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
