"""Library-lifecycle and registry benchmark for tagminder_spark.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload library_daily --seed 1 --seconds 5 --trace 0

One client in a closed loop: one process runs one operation at a time on
``local[N]`` with N = the CPUs this process may use.  The timed region
repeats whole operations (a daily cycle, or a pass over the queries) until
``--seconds`` have elapsed, at least once.  Output checks run after each
operation, outside the timed region.

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` enables job
groups, status-tracker counters and the Spark event log and reports the
per-layer metrics.  Human-readable lines go to stdout first; the last line
of stdout is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` (name → {value, unit}).

Exits 2 without a result when the checkout holds no ``tagminder_spark``.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import re  # noqa: E402
import shlex  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from collections import Counter  # noqa: E402
from pathlib import Path  # noqa: E402

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

#: Driver heap for every run: the default (16g) does not fit a 15 GB host
#: shared with other work, and these inputs need far less.
DRIVER_MEM_GB = 2
#: Files in the standing library of ``library_daily``.
LIBRARY_FILES = 300

#: Output-check failures caused by program defects a later change will
#: fix: workload → operation → (pattern its failure reason matches, cause).
#: Such a failure still counts in ``failed`` and ``fail_ratio`` but does
#: not make ``correct`` false.  A listed defect that does not show makes
#: ``correct`` false, so the entry goes in the change that fixes the defect.
KNOWN_DEFECTS = {
    "library_daily": {
        "step16": (
            r"differ from the committed table \(16-track-uuid\)$",
            "step 16's UUIDv7 pandas UDF is not marked nondeterministic, so "
            "the merged rows and the changelog append draw different UUIDs",
        ),
        "export": (
            r" in \.wma files only, ",
            "the ASF writer stores ten tags (track_uuid, compilation, "
            "releasetype, ...) under names its reader does not map back",
        ),
    },
}


def known_defect(workload: str, op: str, reason: str) -> str | None:
    """The cause of the known defect this failure matches, else None."""
    pattern, cause = KNOWN_DEFECTS.get(workload, {}).get(op, ("(?!)", None))
    return cause if re.search(pattern, reason) else None


def spec() -> dict:
    """The benchmark's spec: workloads and metric names, units, order."""
    return json.loads((ROOT / "BENCHMARK.json").read_text())


def metric_units(kind: str) -> dict[str, str]:
    """name → unit of the ``end_to_end`` or ``per_layer`` metrics."""
    return {m["name"]: m["unit"] for m in spec()[kind]}


class Run:
    """State of one benchmark process."""

    def __init__(self, args, work: Path):
        self.args = args
        self.work = work
        self.m: dict[str, float] = {}  # per-layer values
        self.attempted = 0
        self.failures: list[tuple[str, str]] = []  # (operation, reason)
        self.op_times: list[float] = []  # wall of each timed operation
        self.events: dict[str, dict] = {}
        self.groups: list[tuple[str, str]] = []  # (span name, job group)

    # -- process environment -------------------------------------------

    def configure(self) -> None:
        """Size the runtime and keep every file Spark writes in the work
        directory.  Must run before pyspark starts the JVM."""
        tmp = self.work / "tmp"
        tmp.mkdir(parents=True)
        self.cpus = len(os.sched_getaffinity(0))
        os.environ["SPARK_GRAFT_CPUS"] = str(self.cpus)
        os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{DRIVER_MEM_GB}g"
        os.environ["SPARK_LOCAL_DIRS"] = str(self.work / "spark-local")
        os.environ["TMPDIR"] = str(tmp)
        # spark-submit's launcher JVM would otherwise write /tmp/hsperfdata_*
        os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
        os.environ["PYTHONPATH"] = os.pathsep.join(
            [str(ROOT)] + [p for p in [os.environ.get("PYTHONPATH")] if p]
        )
        conf = {
            "spark.driver.defaultJavaOptions":
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.sql.warehouse.dir": str(self.work / "warehouse"),
        }
        if self.args.trace:
            events = self.work / "events"
            events.mkdir()
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": f"file://{events}",
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
                "spark.ui.retainedJobs": "100000",
                "spark.ui.retainedStages": "100000",
            })
        os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
            f"--conf {shlex.quote(f'{k}={v}')}" for k, v in conf.items()
        ) + " pyspark-shell"

    def start_session(self) -> None:
        from perfbench import host
        from perfbench.trace import Tracer
        from tagminder_spark.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark("perfbench")
        self.m["session.start_s"] = time.perf_counter() - t0
        self.m["session.cpus"] = self.cpus
        self.m["session.driver_mem_gb"] = DRIVER_MEM_GB
        self.m.update(host.calibrate())
        self.m["session.empty_job_s"] = host.empty_job_s(self.spark.sparkContext)
        self.tracer = Tracer(self.spark.sparkContext if self.args.trace else None)

    def fail(self, op: str, reason: str) -> None:
        self.failures.append((op, reason))
        known = known_defect(self.args.workload, op, reason)
        tag = f" (known defect: {known})" if known else ""
        print(f"check FAILED {op}: {reason}{tag}")

    def stop_session(self) -> None:
        """Stop Spark and the JVM, then read the event log it wrote."""
        from pyspark import SparkContext

        app_id = self.spark.sparkContext.applicationId
        gateway = SparkContext._gateway
        self.spark.stop()
        if gateway is not None:
            gateway.shutdown()
            proc = getattr(gateway, "proc", None)
            if proc is not None:
                proc.stdin.close()
                proc.wait(timeout=60)
        if self.args.trace:
            from perfbench.trace import event_log_figures

            self.events = event_log_figures(str(self.work / "events"), app_id)

    # -- workloads -----------------------------------------------------

    def library_daily(self) -> float:
        from perfbench import library as L
        from perfbench.trace import Tracer

        lib = str(self.work / "library")
        table, clog = str(self.work / "alib"), str(self.work / "changelog")
        paths = L.synth_library(lib, LIBRARY_FILES, self.args.seed)
        L.Lifecycle(self.spark, Tracer(), lib, table, clog).import_full()
        # no untimed cycle first: a user runs the daily cycle in a fresh
        # process, so its first-use costs (JIT, code generation) are part
        # of what the user waits for
        life = L.Lifecycle(self.spark, self.tracer, lib, table, clog)
        setup_s = time.perf_counter() - T_PROCESS

        acc: Counter = Counter()
        timed, tick = 0.0, 0
        while tick == 0 or timed < self.args.seconds:
            L.make_delta(lib, paths, self.args.seed, tick)
            before = {r: L.disk_state(r) for r in (lib, table, clog)}
            gens = {r: L.generation(self.spark, r) for r in (table, clog)}
            n_spans = len(self.tracer.spans)
            t0 = time.perf_counter()
            done = 0
            try:
                with self.tracer.span("phase.import"):
                    life.import_delta()
                done = 1
                with self.tracer.span("phase.curate"):
                    life.curate()
                done = 1 + len(L.STEPS)
                with self.tracer.span("phase.export"):
                    life.export()
                done += 1
            except Exception:
                traceback.print_exc()
            dt = time.perf_counter() - t0
            timed += dt
            self.op_times.append(dt)
            ops = ["import"] + [f"step{n}" for n in L.STEPS] + ["export"]
            self.attempted += len(ops)
            for op in ops[done:]:
                self.fail(op, "raised (traceback on stderr)")
            if done == len(ops):
                for op, reason in life.check(gens[clog]).items():
                    self.fail(op, reason)
                self._library_counts(L, acc, life, before, gens, n_spans)
            tick += 1
        for k, v in acc.items():
            self.m[k] = v / len(self.op_times)
        for phase in ("import", "curate", "export"):
            self.m[f"{phase}_s"] = statistics.median(
                s.duration for s in self.tracer.named(f"phase.{phase}")
            )
        ch = self.m.get("diff_audit.rows_changed", 0)
        cmp_ = self.m.get("diff_audit.rows_compared", 0)
        self.m["diff_audit.useful_ratio"] = ch / cmp_ if cmp_ else 0.0
        return setup_s

    def _library_counts(self, L, acc, life, before, gens, n_spans) -> None:
        """Counts for one cycle, read from the committed table, changelog
        and files after the timed region."""
        lib, table, clog = life.lib, life.table, life.clog

        def add(k: str, v: float) -> None:
            acc[k] += v

        commits = {r: L.commits_since(self.spark, r, gens[r]) for r in (table, clog)}
        written = sum(
            L.written(before[r], L.disk_state(r))[1] for r in (table, clog)
        )
        live = sum(
            size for r in (table, clog)
            for _, size in _manifest_files(self.spark, r)
        )
        add("write_amp", written / live)
        add("table_manifest.bytes_written", written)
        add("table_manifest.commits", sum(len(c) for c in commits.values()))
        add("table_manifest.files_added",
            sum(len(c["added"]) for cs in commits.values() for c in cs))
        add("table_manifest.files_removed",
            sum(c["removed"] for cs in commits.values() for c in cs))
        merges = [c for c in commits[table] if c["op"] == "merge-cow"]
        updated = [L.parquet_rows(table, c["changes"]) for c in merges]
        rewritten = sum(
            L.parquet_rows(table, [rel for rel, _ in c["added"]]) for c in merges
        )
        add("table_manifest.rows_updated", sum(updated))
        add("table_manifest.rows_rewritten", rewritten)
        # merge order in a cycle: import, one per step, export reset
        imported, steps_changed = updated[0], updated[1:1 + len(L.STEPS)]
        add("sources.parse.files", imported)
        add("sources.incremental.files", imported + life.rows_deleted)
        n_rows = len(L.list_files(lib))
        add("diff_audit.rows_compared", n_rows * len(L.STEPS))
        add("diff_audit.rows_changed", sum(steps_changed))
        add("diff_audit.changelog_rows", sum(
            len(rows) for _, rows in L.changelog_rows(self.spark, clog, gens[clog])
        ))
        files, nbytes = L.written(before[lib], L.disk_state(lib))
        add("export.files_rewritten", files)
        add("export.bytes_rewritten", nbytes)
        add("sources.scan.files", n_rows)
        add("sources.parse.real", _real_parsed(table, merges[0]["changes"]))
        self._span_counts(acc, self.tracer.spans[n_spans:])

    def registry_analytics(self) -> float:
        from perfbench import registry as R
        from perfbench import tables
        from perfbench.trace import Tracer

        tables_dir = str(self.work / "tables")
        tables.write_tables(tables_dir, self.args.seed, R.SF)
        order = R.query_order(self.args.seed)
        # one untimed pass over the same tables: first-use costs (JIT, code
        # generation, Python workers) made the first pass at this scale
        # about twice as slow as the next on a 4-core host
        R.query_pass(self.spark, Tracer(), tables_dir, order)
        setup_s = time.perf_counter() - T_PROCESS

        acc: Counter = Counter()
        timed, passes, q_times = 0.0, 0, []
        while passes == 0 or timed < self.args.seconds:
            n_spans = len(self.tracer.spans)
            t0 = time.perf_counter()
            times, results, errors = R.query_pass(
                self.spark, self.tracer, tables_dir, order
            )
            dt = time.perf_counter() - t0
            timed += dt
            self.op_times.append(dt)
            q_times += [times[q] for q in results]
            self.attempted += len(order)
            for q, reason in errors.items():
                self.fail(q, reason)
            for q, reason in R.oracle_failures(tables_dir, results).items():
                self.fail(q, reason)
            spans = self.tracer.spans[n_spans:]
            for s in spans:
                acc[f"{s.name}.s"] += s.duration
            self._span_counts(acc, spans)
            passes += 1
        for k, v in acc.items():
            self.m[k] = v / passes
        self.m["query_p50_s"] = statistics.median(q_times) if q_times else 0.0
        return setup_s

    # -- per-layer figures from spans ----------------------------------

    def _span_counts(self, acc: Counter, spans) -> None:
        """Durations and job/stage/task counts per layer for one operation.
        Executor figures are added after the event log is read."""
        for s in spans:
            layer = s.name.split(".")[0]
            if s.name.startswith("pipeline.step"):
                acc[f"{s.name}.s"] += s.duration
                acc[f"{s.name}.jobs"] += self.tracer.jobs_in([s], inclusive=True)
            elif s.name == "pipeline.plan":
                acc["pipeline.plan_s"] += self.tracer.self_time(s)
            elif layer in ("sources", "table_manifest", "export"):
                acc[f"{s.name}.s"] += self.tracer.self_time(s)
            if layer in ("sources", "export", "queries"):
                acc[f"{layer}.jobs"] += len(s.jobs)
            if layer in ("sources", "queries"):
                acc[f"{layer}.tasks"] += s.tasks
            if layer == "queries":
                acc[f"{s.name}.jobs"] += len(s.jobs)
                acc["queries.stages"] += s.stages
            if s.name in ("table_manifest.merge", "table_manifest.append"):
                acc[f"{s.name}.jobs"] += len(s.jobs)
            acc["spark.jobs"] += len(s.jobs)
            acc["spark.stages"] += s.stages
            acc["spark.tasks"] += s.tasks
            acc["spark.failed_tasks"] += s.failed_tasks
        self.groups += [(s.name, s.group) for s in spans]

    def executor_figures(self, n_ops: int) -> None:
        """Event-log figures per layer, averaged per operation."""
        out: Counter = Counter()
        for name, group in self.groups:
            fig = self.events.get(group, {})
            layer = name.split(".")[0]
            for k, v in fig.items():
                out[f"spark.{k}"] += v
            if layer in ("sources", "table_manifest"):
                out[f"{layer}.executor_cpu_s"] += fig.get("executor_cpu_s", 0.0)
            if layer == "table_manifest":
                out["table_manifest.shuffle_write_mb"] += fig.get("shuffle_write_mb", 0.0)
            if layer == "queries":
                out[f"{name}.executor_cpu_s"] += fig.get("executor_cpu_s", 0.0)
                out["queries.shuffle_write_mb"] += fig.get("shuffle_write_mb", 0.0)
                out["queries.gc_s"] += fig.get("gc_s", 0.0)
        for k, v in out.items():
            self.m[k] = v / n_ops


def _manifest_files(spark, root: str):
    from tagminder_spark.operators.table_manifest import read_manifest

    return read_manifest(spark, root)["files"]


def _real_parsed(table: str, change_rels: list[str]) -> int:
    """Rows of an import merge parsed by the real container parser, which
    always reports ``__length``; the fallback parser never does."""
    import pyarrow.parquet as pq

    n = 0
    for rel in change_rels:
        for extra in pq.read_table(
            os.path.join(table, rel), columns=["__extra_tags"]
        ).column(0).to_pylist():
            keys = {k for k, _ in extra or ()}
            n += "__length" in keys
    return n


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    choices=[w["name"] for w in spec()["workloads"]])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not (ROOT / "tagminder_spark").is_dir() or not (ROOT / "__spark_entry__.py").is_file():
        print(f"perfbench: no tagminder_spark checkout at {ROOT}", file=sys.stderr)
        return 2

    from perfbench.host import PeakRss

    work = ROOT / ".perfbench_work" / f"{args.workload}-{os.getpid()}"
    run = Run(args, work)
    try:
        run.configure()
        rss = PeakRss().start()
        run.start_session()
        try:
            setup_s = getattr(run, args.workload)()
        finally:
            run.stop_session()
        run.m["peak_rss_mb"] = rss.stop()
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            work.parent.rmdir()
        except OSError:
            pass  # another run's work directory is still there

    n_ops = len(run.op_times)
    failed = len(run.failures)
    run.m["fail_ratio"] = failed / run.attempted
    if args.workload == "library_daily":
        rows = run.m.pop("table_manifest.rows_rewritten", 0)
        upd = run.m.pop("table_manifest.rows_updated", 0)
        run.m["table_manifest.rewrite_useful_ratio"] = upd / rows if rows else 0.0
        parsed = run.m.get("sources.parse.files", 0)
        real = run.m.pop("sources.parse.real", 0)
        run.m["sources.parse.real_ratio"] = real / parsed if parsed else 0.0
    run.executor_figures(n_ops)
    run.m["trace.overhead_s"] = run.tracer.overhead / n_ops

    e2e = {"setup_s": setup_s, "run_s": statistics.median(run.op_times)}
    units = metric_units("end_to_end")
    print(f"workload {args.workload} seed {args.seed}: {n_ops} timed operation(s), "
          f"{run.attempted} attempted, {failed} failed, "
          f"fail_ratio {run.m['fail_ratio']:.4f}")
    for name, value in e2e.items():
        print(f"metric {name} = {value:.4f} {units[name]}")
    for name in ("host.md5_256mb_s", "host.matmul_2k_s", "session.start_s",
                 "session.empty_job_s", "session.cpus", "session.driver_mem_gb",
                 "peak_rss_mb"):
        print(f"context {name} = {run.m[name]:.4g}")
    if args.trace:
        metrics = {
            name: {"value": float(run.m.get(name, 0.0)), "unit": unit}
            for name, unit in metric_units("per_layer").items()
        }
        for name, d in metrics.items():
            print(f"layer {name} = {d['value']:.6g} {d['unit']}")
    else:
        for name in ("import_s", "curate_s", "export_s", "query_p50_s",
                     "write_amp", "fail_ratio"):
            if run.m.get(name):
                print(f"metric {name} = {run.m[name]:.4f}")
        metrics = {n: {"value": e2e[n], "unit": u} for n, u in units.items()}
    known = KNOWN_DEFECTS.get(args.workload, {})
    shown = {op for op, r in run.failures if known_defect(args.workload, op, r)}
    for op in sorted(set(known) - shown):
        print(f"check FAILED {op}: the known defect listed for it did not "
              "show; remove it from KNOWN_DEFECTS if it is fixed")
    correct = shown == set(known) and all(
        known_defect(args.workload, op, r) for op, r in run.failures
    )
    print(json.dumps({
        "correct": correct, "attempted": run.attempted, "failed": failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
