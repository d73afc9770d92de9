"""Time individual queries in isolation with the bench methodology.

Usage: python tools/time_query.py <passes> <query> [query ...]
       (sf dir from $SPARK_GRAFT_SF_DIR, default sf0.1)

Same timed region as bench.py (it calls bench._run_once: build + noop
sink, persistent-RDD sweep after; min over passes) so numbers are directly
comparable, but without the other 50+ queries' noise and with per-pass
output.
"""

from __future__ import annotations

import os
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def main() -> None:
    import __spark_entry__ as entry
    from bench import _run_once
    from tagminder_spark.session import get_spark

    passes = int(sys.argv[1])
    names = sys.argv[2:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("time_query")
    qs = entry.queries()
    # same warmup as bench.py
    spark.read.parquet(f"{sf_dir}/region.parquet").count()
    best: dict[str, float] = {}
    for p in range(passes):
        for name in names:
            spark.sparkContext.setJobDescription(name)
            t = _run_once(spark, qs, name, sf_dir)
            spark.sparkContext.setJobDescription(None)
            best[name] = min(best.get(name, 1e9), t)
            print(f"# pass{p} {name}: {t:.3f}s", file=sys.stderr)
    for name in names:
        print(f"{name}: {best[name]:.3f}")


if __name__ == "__main__":
    main()
