"""Scale-exponent measurement (VERDICT r4 #3): run the heavy dedup /
curation / rename compositions at sf0.1 and at the synthetic sf1
(~10x rows, tools/make_scaledata.py) and report per-query wall times
plus the fitted scaling exponent log10(t_sf1/t_sf0.1).

An exponent near 1.0 = linear scaling; > ~1.3 flags a super-linear
shape that would not survive 100x. Timing protocol matches bench.py
(noop sink materializing every column, min of N passes, persistent-RDD
cleanup between queries).

Usage: python tools/scale_run.py [passes] [query ...]
(extra args override the default query list)
"""

from __future__ import annotations

import json
import math
import os
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

QUERIES = [
    "d_fuzzy_dedup_e2e",
    "d_incremental_dedup",
    "cur_pipeline_e2e",
    "cur_dup_spans",
    "s98_rename_plan",
]

SF01 = "/root/testdata/sf0.1"
SF1 = str(Path(__file__).resolve().parent.parent / ".scaledata" / "sf1")


def main() -> None:
    passes = int(sys.argv[1]) if len(sys.argv) > 1 else 2
    queries = sys.argv[2:] or QUERIES
    import __spark_entry__ as entry
    from bench import _run_once
    from tagminder_spark.session import get_spark

    spark = get_spark("scale_run")
    qs = entry.queries()
    out: dict[str, dict] = {}
    for sf_dir, label in ((SF01, "sf0.1"), (SF1, "sf1")):
        spark.read.parquet(f"{sf_dir}/documents.parquet").count()  # warm
        for p in range(passes):
            for name in queries:
                t = _run_once(spark, qs, name, sf_dir)
                rec = out.setdefault(name, {})
                rec[label] = round(min(rec.get(label, 1e9), t), 2)
                print(f"# {label} pass{p} {name}: {t:.2f}s", file=sys.stderr)
    for name, rec in out.items():
        rec["exponent"] = round(
            math.log10(rec["sf1"] / rec["sf0.1"]), 2
        )
    print(json.dumps({"loadavg": os.getloadavg()[0], "queries": out}))


if __name__ == "__main__":
    main()
