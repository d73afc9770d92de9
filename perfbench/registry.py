"""The registry_analytics workload: registered queries over seeded
TPC-H-shaped tables, each checked against its DuckDB oracle."""

from __future__ import annotations

import random
import time

#: The queries one pass runs: two operator families only the registry
#: reaches, near-duplicate detection (``dedupe``) and the rename planner.
QUERIES = ("d_minhash_lsh", "s98_rename_plan")

#: Table scale: lineitem has 6M × SF rows.  At 0.01 most of a timed pass
#: is executor CPU, nearly all of it the rename planner's; at 0.001 a pass
#: is a few seconds of Spark job scheduling.
SF = 0.01


def query_order(seed: int) -> list[str]:
    order = list(QUERIES)
    random.Random(seed).shuffle(order)
    return order


def run_query(spark, fn, tables_dir: str) -> tuple[list[str], list[tuple]]:
    """Build and run one query; returns its columns and rows."""
    df = fn(spark, tables_dir)
    return df.columns, [tuple(r) for r in df.collect()]


def oracle_failures(
    tables_dir: str, results: dict[str, tuple[list[str], list[tuple]]]
) -> dict[str, str]:
    """Compare each query's rows with its registered DuckDB oracle by the
    canonical row form ``tools/oracle_check.py`` uses; returns
    {query: reason} for every mismatch."""
    import __spark_entry__ as entry
    from tools.oracle_check import _canon_rows, duckdb_conn

    oracles = entry.oracle_sql()
    con = duckdb_conn(tables_dir)
    failures = {}
    try:
        for name, (cols, rows) in results.items():
            res = con.execute(oracles[name])
            d_cols = [d[0] for d in res.description]
            d_rows = res.fetchall()
            if sorted(cols) != sorted(d_cols):
                failures[name] = f"columns {sorted(cols)} != oracle {sorted(d_cols)}"
            elif _canon_rows(cols, rows) != _canon_rows(d_cols, d_rows):
                failures[name] = (
                    f"row hash differs from the oracle "
                    f"({len(rows)} rows vs {len(d_rows)})"
                )
    finally:
        con.close()
    return failures


def query_pass(spark, tracer, tables_dir: str, order: list[str]):
    """One pass over ``order``; returns ({query: seconds}, {query: result},
    {query: error})."""
    import __spark_entry__ as entry

    qs = entry.queries()
    times, results, errors = {}, {}, {}
    for name in order:
        t0 = time.perf_counter()
        try:
            with tracer.span(f"queries.{name}"):
                results[name] = run_query(spark, qs[name], tables_dir)
        except Exception as e:  # a failed query counts in fail_ratio
            errors[name] = f"{type(e).__name__}: {e}"
        times[name] = time.perf_counter() - t0
    return times, results, errors
