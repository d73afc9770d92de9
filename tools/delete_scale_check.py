"""Delete-APPLICATION scale probe (round 13, VERDICT r12 #1).

The r12 read path force-broadcast every positional/equality delete
file into the MoR anti-join — while ``delete_where`` was explicitly
re-engineered to shard billions of (file, pos) rows into natural part
files.  At the scale the write path was built for, the read path
would collect the whole delete set to the driver and hit Spark's 8 GB
broadcast hard cap.

The r13 path SIZE-GATES the hint on the delete files' on-disk bytes
(``DELETE_BROADCAST_MAX_BYTES``): at-or-below → explicit
``F.broadcast`` (BroadcastHashJoin-LeftAnti, the common update-batch
case); above → no hint, AQE plans a shuffle anti-join and the delete
set never lands on the driver.  This probe drives BOTH sides of the
gate with a real ``delete_where`` whose delete set exceeds the gate:

1. build a table of ``N_ROWS`` rows across ~32 files, positional-
   delete 3/4 of them (millions of (file, pos) pairs, multiple part
   files);
2. read through the deletes with the gate ABOVE the set's bytes —
   plan must pin BroadcastHashJoin-LeftAnti;
3. read with the gate BELOW the set's bytes (the stance a multi-GB
   delete set hits with the default 32 MB gate — the mechanism is
   byte-driven, so forcing the gate probes the identical code path
   without writing GBs in CI) — plan must show a shuffle anti-join
   and NO broadcast;
4. both reads must return the identical surviving-row count/sum, and
   wall times are recorded.

Output: one JSON line per measurement + a summary; numbers recorded
in SCALE.md.  Run: ``python tools/delete_scale_check.py [out.json]``
"""
from __future__ import annotations

import hashlib
import json
import shutil
import sys
import tempfile
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import tagminder_spark.operators.table_manifest as tm  # noqa: E402
from tagminder_spark.session import get_spark  # noqa: E402

N_ROWS = 12_000_000


def _calibration() -> dict:
    t0 = time.perf_counter()
    acc = b"x" * 64
    for _ in range(20000):
        acc = hashlib.md5(acc).digest() + acc[:48]
    return {"md5_20k_sec": round(time.perf_counter() - t0, 4)}


def main() -> None:
    out_path = sys.argv[1] if len(sys.argv) > 1 else None
    results: list[dict] = []
    spark = get_spark()
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    work = tempfile.mkdtemp(prefix="delete_scale_")
    try:
        root = f"{work}/t"
        from pyspark.sql import functions as F

        (
            spark.range(N_ROWS)
            .select(
                F.col("id").alias("doc_id"),
                F.sha2(F.col("id").cast("string"), 256).alias("payload"),
            )
            .repartition(32)
            .write.parquet(root)
        )
        tm.init_manifest(spark, root)

        t0 = time.perf_counter()
        rep = tm.delete_where(spark, root, [("doc_id", ">=", N_ROWS // 4)])
        t_del = time.perf_counter() - t0
        fs, base = tm.table_fs(spark, root)
        man = tm.read_manifest(spark, root)
        del_bytes = sum(
            fs.file_size(fs.join(base, rel))
            for rel, _s, _k in man["deletes"]
        )
        results.append({
            "step": "delete_where", "rows_deleted": rep["rows_deleted"],
            "delete_files": rep["delete_files"],
            "delete_bytes": del_bytes, "sec": round(t_del, 2),
        })
        assert rep["rows_deleted"] == N_ROWS - N_ROWS // 4
        assert rep["delete_files"] > 1, "expected sharded delete files"

        def read_once(label: str, gate: int) -> dict:
            tm.DELETE_BROADCAST_MAX_BYTES = gate
            t0 = time.perf_counter()
            df = tm.snapshot_read(spark, root)
            plan = df._jdf.queryExecution().executedPlan().toString()
            agg = df.agg(
                F.count("*").alias("n"), F.sum("doc_id").alias("s")
            ).collect()[0]
            sec = time.perf_counter() - t0
            r = {
                "step": label, "gate_bytes": gate,
                "rows": agg["n"], "sum_doc_id": int(agg["s"]),
                "broadcast_in_plan": "BroadcastHashJoin" in plan,
                "shuffle_anti_in_plan": (
                    "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
                ),
                "sec": round(sec, 2),
            }
            results.append(r)
            return r

        keep = N_ROWS // 4
        want_sum = keep * (keep - 1) // 2
        big_gate = read_once("read_gate_open", del_bytes * 4)
        small_gate = read_once("read_gate_closed", del_bytes // 4)
        for r in (big_gate, small_gate):
            assert r["rows"] == keep and r["sum_doc_id"] == want_sum, r
        assert big_gate["broadcast_in_plan"], big_gate
        assert not small_gate["broadcast_in_plan"], small_gate
        assert small_gate["shuffle_anti_in_plan"], small_gate

        summary = {
            "summary": True,
            "n_rows": N_ROWS,
            "delete_bytes": del_bytes,
            "gate_open_sec": big_gate["sec"],
            "gate_closed_sec": small_gate["sec"],
            "values_identical": True,
            "calibration": _calibration(),
        }
        results.append(summary)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    for r in results:
        print(json.dumps(r))
    if out_path:
        Path(out_path).write_text(
            "\n".join(json.dumps(r) for r in results) + "\n"
        )


if __name__ == "__main__":
    main()
