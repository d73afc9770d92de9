"""Per-stage empirical profile of named queries (guide §1/§7 without the UI).

Usage: python tools/stage_profile.py <passes> <query> [query ...]
       (sf dir from $SPARK_GRAFT_SF_DIR, default sf0.1)

Runs each query through the bench's timed region (``bench._run_once``:
build + noop sink, persistent-RDD sweep after) under spark.eventLog, then
parses the event log into a per-query table of stages: wall (completion -
launch of first task), executor run/CPU time summed over tasks, GC,
shuffle read/write bytes, spill, task count — the same numbers the Stages
tab would show (the session disables spark.ui).  Stages are
attributed to queries via setJobDescription.
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
from collections import defaultdict
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def main() -> None:
    evdir = tempfile.mkdtemp(prefix="tm_evlog_")
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--conf spark.eventLog.enabled=true "
        f"--conf spark.eventLog.compress=false "
        f"--conf spark.eventLog.rolling.enabled=false "
        f"--conf spark.eventLog.dir=file://{evdir} pyspark-shell"
    )
    import __spark_entry__ as entry
    from bench import _run_once
    from tagminder_spark.session import get_spark

    passes = int(sys.argv[1])
    names = sys.argv[2:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("stage_profile")
    qs = entry.queries()
    spark.read.parquet(f"{sf_dir}/region.parquet").count()
    best: dict[str, float] = {}
    for p in range(passes):
        for name in names:
            spark.sparkContext.setJobDescription(f"q::{name}::{p}")
            t = _run_once(spark, qs, name, sf_dir)
            spark.sparkContext.setJobDescription(None)
            best[name] = min(best.get(name, 1e9), t)
            print(f"# pass{p} {name}: {t:.3f}s", file=sys.stderr)
    app_id = spark.sparkContext.applicationId
    spark.stop()

    # Spark 4 writes a v2 event-log DIRECTORY (eventlog_v2_<appId>/
    # events_1_<appId>); fall back to the flat single-file layout.
    cands = list(Path(evdir).glob(f"*{app_id}*"))
    if not cands:
        raise SystemExit(f"no event log for {app_id} under {evdir}")
    log = cands[0]
    files = (
        sorted(p for p in log.iterdir() if p.name.startswith("events"))
        if log.is_dir()
        else [log]
    )

    def _lines():
        for f in files:
            with open(f) as fh:
                yield from fh

    # job id -> description; stage id -> job id
    job_desc: dict[int, str] = {}
    stage_job: dict[int, int] = {}
    stages: dict[int, dict] = {}
    if True:
        for line in _lines():
            ev = json.loads(line)
            e = ev.get("Event")
            if e == "SparkListenerJobStart":
                d = ev.get("Properties", {}).get("spark.job.description", "")
                job_desc[ev["Job ID"]] = d
                for si in ev.get("Stage IDs", []):
                    stage_job[si] = ev["Job ID"]
            elif e == "SparkListenerStageCompleted":
                si = ev["Stage Info"]
                sid = si["Stage ID"]
                sub = si.get("Submission Time")
                comp = si.get("Completion Time")
                st = stages.setdefault(sid, {
                    "run_ms": 0, "cpu_ms": 0, "gc_ms": 0, "sh_read": 0,
                    "sh_write": 0, "spill": 0, "input": 0,
                })
                st["name"] = si.get("Stage Name", "")[:60]
                st["tasks"] = si.get("Number of Tasks", 0)
                st["wall_ms"] = (comp - sub) if sub and comp else 0
            elif e == "SparkListenerTaskEnd":
                # TaskEnd precedes its StageCompleted — accumulate into a
                # skeleton entry; StageCompleted fills name/wall later.
                sid = ev["Stage ID"]
                tm = ev.get("Task Metrics") or {}
                st = stages.setdefault(
                    sid,
                    {
                        "name": "?",
                        "tasks": 0,
                        "wall_ms": 0,
                        "run_ms": 0,
                        "cpu_ms": 0,
                        "gc_ms": 0,
                        "sh_read": 0,
                        "sh_write": 0,
                        "spill": 0,
                        "input": 0,
                    },
                )
                st["run_ms"] += tm.get("Executor Run Time", 0)
                st["cpu_ms"] += tm.get("Executor CPU Time", 0) // 1_000_000
                st["gc_ms"] += tm.get("JVM GC Time", 0)
                st["sh_read"] += (tm.get("Shuffle Read Metrics") or {}).get(
                    "Remote Bytes Read", 0
                ) + (tm.get("Shuffle Read Metrics") or {}).get(
                    "Local Bytes Read", 0
                )
                st["sh_write"] += (tm.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0
                )
                st["spill"] += tm.get("Memory Bytes Spilled", 0)
                st["input"] += (tm.get("Input Metrics") or {}).get(
                    "Bytes Read", 0
                )

    # aggregate per query (best pass only would need per-pass split; report
    # per (query, pass) so warm/cold are both visible)
    per_q: dict[str, list] = defaultdict(list)
    for sid, st in sorted(stages.items()):
        jid = stage_job.get(sid)
        d = job_desc.get(jid, "")
        if d.startswith("q::"):
            _, qname, p = d.split("::")
            per_q[f"{qname}::{p}"].append((sid, st))
    for key in sorted(per_q, key=lambda k: (k.split("::")[0], k.split("::")[1])):
        qname, p = key.split("::")
        sts = per_q[key]
        tot_run = sum(s["run_ms"] for _, s in sts)
        print(f"\n== {qname} pass{p}: {len(sts)} stages, "
              f"run {tot_run/1000:.2f}s")
        for sid, s in sorted(sts, key=lambda x: -x[1]["run_ms"])[:12]:
            print(
                f"  s{sid:<5} wall {s['wall_ms']/1000:6.2f}s run "
                f"{s['run_ms']/1000:7.2f}s cpu {s['cpu_ms']/1000:7.2f}s gc "
                f"{s['gc_ms']/1000:5.2f}s tasks {s['tasks']:<4} shR "
                f"{s['sh_read']>>10:>8}K shW {s['sh_write']>>10:>8}K in "
                f"{s['input']>>10:>8}K spill {s['spill']>>20}M  {s['name']}"
            )
    for name in names:
        print(f"{name}: {best[name]:.3f}")


if __name__ == "__main__":
    main()
