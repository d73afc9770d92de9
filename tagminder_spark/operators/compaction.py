"""Small-file compaction — the table-maintenance job a 100 TB curated
corpus needs and the reference never does (its store is one SQLite file;
see SURVEY.md §1.1 — this module is engine-added scale machinery, like
the dedupe family).

Why it exists: every incremental ingest (streaming micro-batches,
:func:`~tagminder_spark.operators.curation.write_curated_shards` runs per
batch, diff-audit MERGE outputs) appends a few files per partition
directory.  After months of daily ingests a 100 TB corpus holds tens of
millions of KB-sized parquet files; scan planning then costs more
namenode RPCs than IO, and every downstream reader pays the open/footer
overhead per file.  The fix is the standard maintenance pass (Iceberg's
``rewriteDataFiles`` / Delta ``OPTIMIZE`` compact ("bin-pack") mode):
rewrite each partition's many small files into few ~target-size files
without changing a single row.

Spark-first shape — everything wide is one range-partitioned rewrite:

- file accounting is a DRIVER-SIDE metadata listing via the Hadoop
  FileSystem API (O(files) RPCs, no executor work, no data read);
- the output file count is planned from observed input bytes
  (``ceil(bytes_in / target_bytes)``) — parquet-to-parquet rewrite
  preserves encodings, so on-disk input size is the right estimator;
- the rewrite is ``repartitionByRange(n_out, partition_cols..., order
  col)``: range boundaries keep partition values contiguous, so each
  write task emits file(s) into at most a couple of directory
  partitions (a hash ``repartition(n_out)`` would make every task write
  into every partition directory — small files again, just rotated
  90°), and rows inside each file arrive as sorted runs on the order
  column (footer min/max stats stay selective for downstream pruning);
- ``spark.sql.files.maxRecordsPerFile`` is deliberately NOT needed: the
  range partitioner balances by sampled row count, and skewed
  partitions are exactly what AQE's coalesce/split handles at scale.

At 100 TB this runs per partition-subtree (pass the subtree as
``in_dir``) on whatever cadence the ingest rate demands; it commutes
with every reader because row content is untouched — which is what the
``cur_compact_shards`` gate value-proves (pack → write → compact →
read-back equals the pure in-memory plan, row for row).
"""

from __future__ import annotations

import logging
import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

DEFAULT_TARGET_BYTES = 128 << 20

logger = logging.getLogger(__name__)


def _strip_file_scheme(path: str) -> str:
    if path.startswith("file://"):
        return path[7:]
    if path.startswith("file:"):
        return path[5:]
    return path


class _LocalFS:
    """Directory ops on the local filesystem — the fast path (pure
    syscalls, no py4j round-trips)."""

    def join(self, base: str, *parts: str) -> str:
        import os.path

        return os.path.join(base, *parts)

    def exists(self, p: str) -> bool:
        import os.path

        return os.path.exists(p)

    def is_dir(self, p: str) -> bool:
        import os.path

        return os.path.isdir(p)

    def listdir(self, p: str) -> list[str]:
        import os

        return sorted(os.listdir(p))

    def rename(self, src: str, dst: str) -> None:
        import os

        os.rename(src, dst)

    def delete(self, p: str, ignore_errors: bool = False) -> None:
        import os
        import shutil

        if os.path.isdir(p):
            shutil.rmtree(p, ignore_errors=ignore_errors)
        else:
            try:
                os.unlink(p)
            except FileNotFoundError:
                if not ignore_errors:
                    raise

    def mkdirs(self, p: str) -> None:
        import os

        os.makedirs(p, exist_ok=True)

    def file_size(self, p: str) -> int:
        import os

        return os.stat(p).st_size

    def file_mtime(self, p: str) -> float:
        """Last-modified time (seconds since epoch) — the age signal
        :func:`~tagminder_spark.operators.table_manifest.expire_snapshots`'s
        orphan-reclaim guard keys on."""
        import os

        return os.stat(p).st_mtime

    def read_bytes(self, p: str) -> bytes:
        with open(p, "rb") as f:
            return f.read()

    def write_new(self, p: str, data: bytes) -> None:
        """Atomic create-if-absent: readers never see a partial file and
        two writers racing the same path cannot both win (hard-link CAS
        — ``os.link`` fails with EEXIST if the target appeared).  The
        temp name carries pid AND a uuid: two THREADS of one driver
        committing the same generation (append retry racing
        maintenance) must not share a temp file, or the loser could
        truncate it between the winner's write and ``os.link`` and the
        winning CAS would publish foreign bytes."""
        import os
        import uuid

        tmp = p + f".tmp.{os.getpid()}.{uuid.uuid4().hex[:8]}"
        with open(tmp, "wb") as f:
            f.write(data)
            f.flush()
            os.fsync(f.fileno())
        try:
            os.link(tmp, p)  # raises FileExistsError on conflict
        finally:
            os.unlink(tmp)


class _HadoopFS:
    """The same ops through the Hadoop FileSystem API — works on any
    scheme Spark can reach (hdfs://, s3a://, and ``file:`` for tests).

    Caveat the caller must own: ``rename`` is atomic on HDFS and local
    filesystems but is a COPY on object stores (s3a has no rename), so
    the directory-swap maintenance path is only crash-atomic on
    rename-capable filesystems.  On object stores use the manifest
    commit path (:mod:`tagminder_spark.operators.table_manifest`) —
    that is the real reason production table formats keep a transaction
    log instead of renaming directories.
    """

    #: schemes whose rename(2) analogue refuses an existing destination —
    #: a true create-if-absent, so the post-rename readback is redundant
    _TRUE_CAS_SCHEMES = ("hdfs", "webhdfs", "viewfs")

    _warned_weak_cas: set = set()

    def __init__(self, spark: SparkSession, root: str):
        self._jvm = spark._jvm
        self._jpath = self._jvm.org.apache.hadoop.fs.Path
        self._fs = self._jpath(root).getFileSystem(
            spark._jsc.hadoopConfiguration()
        )
        try:
            self._scheme = self._fs.getUri().getScheme() or ""
        except Exception:
            self._scheme = ""

    def join(self, base: str, *parts: str) -> str:
        return "/".join([base.rstrip("/"), *parts])

    def exists(self, p: str) -> bool:
        return self._fs.exists(self._jpath(p))

    def is_dir(self, p: str) -> bool:
        jp = self._jpath(p)
        return self._fs.exists(jp) and self._fs.getFileStatus(jp).isDirectory()

    def listdir(self, p: str) -> list[str]:
        return sorted(
            st.getPath().getName()
            for st in self._fs.listStatus(self._jpath(p))
        )

    def rename(self, src: str, dst: str) -> None:
        # Hadoop rename reports failure as False, not an exception
        if not self._fs.rename(self._jpath(src), self._jpath(dst)):
            raise OSError(f"hadoop rename failed: {src} -> {dst}")

    def delete(self, p: str, ignore_errors: bool = False) -> None:
        ok = self._fs.delete(self._jpath(p), True)
        if not ok and not ignore_errors and self.exists(p):
            raise OSError(f"hadoop delete failed: {p}")

    def mkdirs(self, p: str) -> None:
        self._fs.mkdirs(self._jpath(p))

    def file_size(self, p: str) -> int:
        return self._fs.getFileStatus(self._jpath(p)).getLen()

    def file_mtime(self, p: str) -> float:
        # Hadoop reports millis since epoch
        return (
            self._fs.getFileStatus(self._jpath(p)).getModificationTime()
            / 1000.0
        )

    def read_bytes(self, p: str) -> bytes:
        # copy the stream into a ByteArrayOutputStream JVM-side — one
        # py4j transfer for the whole file instead of one per read()
        stream = self._fs.open(self._jpath(p))
        baos = self._jvm.java.io.ByteArrayOutputStream()
        self._jvm.org.apache.hadoop.io.IOUtils.copyBytes(
            stream, baos, 65536, True
        )
        return bytes(baos.toByteArray())

    def write_new(self, p: str, data: bytes) -> None:
        """Create-if-absent via write-to-temp + rename.

        CAS strength is SCHEME-dependent and the caller must know it:

        - **HDFS**: rename refuses an existing destination — a true
          atomic CAS.
        - **RawLocalFileSystem** (``file:``, which tests reach by
          routing a local root through this backend): rename maps to
          ``rename(2)``, which silently REPLACES an existing
          destination.  The pre-rename ``exists`` check plus
          the post-rename READBACK below close most of that window: a
          committer whose readback shows someone else's bytes knows it
          lost and raises, so its payload is retried at the next
          generation instead of silently dropped.  The residual race —
          A renames, A reads back its own bytes, THEN B's rename
          replaces the file — is unclosable without a true
          create-if-absent primitive; B's readback then shows B's
          bytes, so B proceeds and **A's already-acknowledged commit is
          lost**.
        - **S3A**: dst-exists check-then-copy, not atomic — same
          residual race.

        Hence the manifest module's contract: multi-writer optimistic
        commits are only fully safe on HDFS-like stores; on ``file:``
        or object stores run a SINGLE writer per table or front the
        commit with an external lock (Delta Lake's LogStore pattern) —
        enforced as a one-time ``logging`` warning per scheme at the
        first commit, not just this docstring.  The default local
        backend (:class:`_LocalFS`) is NOT affected — its hard-link CAS
        is a real create-if-absent.

        The post-rename readback is GATED ON THE SCHEME: on HDFS-like
        stores (``hdfs``/``webhdfs``/``viewfs``) rename already refuses
        an existing destination — a true CAS — so the readback would be
        a wasted namenode+datanode round-trip per commit; it runs only
        on schemes where rename can silently replace.

        Raises ``FileExistsError`` on a detected lost CAS (destination
        existed, or readback shows foreign bytes) and ``OSError`` on a
        genuine IO failure — callers' retry loops key on that
        distinction (retrying an IO error as a "conflict" would spin).
        """
        import uuid

        true_cas = self._scheme in self._TRUE_CAS_SCHEMES
        if not true_cas and self._scheme not in self._warned_weak_cas:
            self._warned_weak_cas.add(self._scheme)
            logger.warning(
                "manifest commits via the Hadoop %r filesystem are not "
                "fully multi-writer safe (rename can silently replace a "
                "concurrent commit); run a single writer per table or "
                "front commits with an external lock",
                self._scheme or "local",
            )
        if self._fs.exists(self._jpath(p)):
            raise FileExistsError(f"manifest CAS lost: {p} exists")
        tmp = p + f".tmp.{uuid.uuid4().hex[:8]}"
        out = self._fs.create(self._jpath(tmp), False)
        try:
            out.write(bytearray(data))
        finally:
            out.close()
        if not self._fs.rename(self._jpath(tmp), self._jpath(p)):
            self._fs.delete(self._jpath(tmp), False)
            # Hadoop rename reports False both for dst-exists (true CAS
            # loss) and for unrelated IO failures — disambiguate so the
            # caller's conflict-retry loop never spins on an IO error
            if self._fs.exists(self._jpath(p)):
                raise FileExistsError(f"manifest CAS lost: {p}")
            raise OSError(f"hadoop rename failed (IO, not CAS): {tmp} -> {p}")
        # rename succeeded — on file:/s3a it may have REPLACED a
        # concurrent committer's file; verify our bytes actually landed.
        # On true-CAS schemes (hdfs) the rename itself proved it.
        if not true_cas and self.read_bytes(p) != data:
            raise FileExistsError(
                f"manifest CAS lost post-rename (foreign bytes): {p}"
            )


def _is_local(root: str) -> bool:
    """Whether ``root`` is served by the local filesystem: a bare path
    or a ``file:`` URI, as opposed to a ``scheme://`` root (hdfs, s3a,
    …).  The one place the backend choice is made — tests route local
    roots through the Hadoop branch by replacing this predicate."""
    return "://" not in _strip_file_scheme(root)


def table_fs(spark: SparkSession | None, root: str):
    """Pick the directory-ops backend for ``root``: pure-Python syscalls
    for local paths, the Hadoop FileSystem API for any ``scheme://``
    root (:func:`_is_local`)."""
    if _is_local(root):
        return _LocalFS(), _strip_file_scheme(root)
    if spark is None:
        raise ValueError(
            f"remote root {root!r} needs an active SparkSession for the "
            "Hadoop FileSystem API"
        )
    return _HadoopFS(spark, root), root


def list_data_files(
    spark: SparkSession, path: str, suffix: str = ".parquet"
) -> list[tuple[str, int]]:
    """Recursive ``(path, bytes)`` listing of data files under ``path``
    — a driver-side metadata operation (no executor work, no data
    read), the same listing any maintenance planner (Iceberg/Delta)
    starts from.  Hidden/metadata files (``_SUCCESS``, ``.crc``) are
    excluded.

    Local paths take a pure-Python ``os.scandir`` walk: one syscall per
    entry instead of one py4j round-trip per file, which is the
    difference between ~0.1 s and minutes at 50k files (measured —
    ``tools/compaction_scale_check.py``).  Remote schemes (hdfs/s3a/…)
    go through the Hadoop FileSystem API, where the iteration cost is
    the RPC itself.  Either way the returned paths are spelled under
    ``path`` as given, so callers can take them relative to it."""
    import os

    local = _strip_file_scheme(path)
    if _is_local(path) and os.path.isdir(local):
        out: list[tuple[str, int]] = []
        stack = [local]
        while stack:
            d = stack.pop()
            with os.scandir(d) as entries:
                for e in entries:
                    if e.name.startswith(("_", ".")):
                        continue
                    if e.is_dir(follow_symlinks=False):
                        stack.append(e.path)
                    elif e.name.endswith(suffix):
                        out.append((e.path, e.stat().st_size))
        return out
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    # the listing yields fully qualified paths (``file:/…``,
    # ``hdfs://nn:8020/…``); swap that prefix back for ``path``
    qualified = fs.makeQualified(jpath).toString().rstrip("/")
    out = []
    it = fs.listFiles(jpath, True)
    while it.hasNext():
        st = it.next()
        name = st.getPath().getName()
        if name.startswith(("_", ".")) or not name.endswith(suffix):
            continue
        full = st.getPath().toString()
        out.append((path.rstrip("/") + full[len(qualified):], st.getLen()))
    return out


def zorder_value(
    df: DataFrame,
    cols: tuple[str, ...],
    *,
    bits: int = 6,
    rel_error: float = 0.01,
):
    """Morton (Z-order) clustering key over numeric columns — Delta
    ``OPTIMIZE ZORDER BY`` / Iceberg ``rewriteDataFiles`` z-ordering,
    built from Spark primitives.

    Each column is rank-bucketed into ``2**bits`` quantile buckets
    (boundaries from one driver-side ``approxQuantile`` — quantiles,
    not equal-width, so skewed columns still spread across buckets),
    then the bucket bits are interleaved.  Range-partitioning the
    rewrite on the interleaved value gives every output file a tight
    hyper-rectangle in ALL clustered dimensions, so parquet footer
    min/max prune scans filtered on ANY of them — the multi-dimensional
    generalization of single-column sorted runs.  The bucket lookup and
    interleave are pure map-side expressions (≈``2**bits`` comparisons
    + ``bits×len(cols)`` shifts per row, whole-stage codegen).

    Returns (column expression, per-column boundary lists).
    """
    n = 1 << bits
    numeric = {"int", "bigint", "smallint", "tinyint", "float", "double",
               "decimal", "date", "timestamp", "timestamp_ntz", "long",
               "short", "byte"}
    for c in cols:
        if c not in df.columns:
            raise ValueError(f"zorder column {c!r} not in {df.columns}")
        kind = dict(df.dtypes)[c].split("(")[0]
        if kind not in numeric:
            raise ValueError(
                f"zorder column {c!r} has non-numeric type {kind!r}"
            )
    probs = [i / n for i in range(1, n)]

    def as_double(c: str):
        # ANSI Spark forbids CAST(date AS DOUBLE); route temporal types
        # through their epoch functions (any monotone map preserves
        # quantile bucketing)
        kind = dict(df.dtypes)[c].split("(")[0]
        if kind == "date":
            return F.unix_date(F.col(c)).cast("double")
        if kind == "timestamp_ntz":
            return F.unix_micros(
                F.col(c).cast("timestamp")
            ).cast("double")
        return F.col(c).cast("double")

    casted = df.select(*[as_double(c).alias(c) for c in cols])
    all_bounds = casted.stat.approxQuantile(list(cols), probs, rel_error)
    z = F.lit(0).cast("long")
    ncols = len(cols)
    for i, (c, bounds) in enumerate(zip(cols, all_bounds)):
        arr = F.array(*[F.lit(float(b)) for b in bounds])
        bucket = F.aggregate(
            arr,
            F.lit(0),
            lambda acc, b: acc  # noqa: B023 — count boundaries <= value
            + F.when(as_double(c) >= b, 1).otherwise(0),
        )
        for j in range(bits):
            z = z + (
                (F.shiftright(bucket, j).cast("long") % 2)
                * F.lit(1 << (j * ncols + i)).cast("long")
            )
    return z, all_bounds


def compact_shards(
    spark: SparkSession,
    in_dir: str,
    out_dir: str,
    *,
    target_bytes: int = DEFAULT_TARGET_BYTES,
    partition_cols: tuple[str, ...] = ("lang", "shard_id"),
    order_col: str = "doc_id",
    zorder_cols: tuple[str, ...] | None = None,
    zorder_bits: int = 6,
) -> dict:
    """Bin-pack ``in_dir``'s parquet files into ~``target_bytes`` files
    at ``out_dir``, preserving rows exactly and the directory-partition
    layout (``partitionBy(partition_cols)``).

    Returns the maintenance report a scheduler acts on:
    ``{files_in, bytes_in, files_out, bytes_out, planned_files, rows}``
    (``rows`` observed on the rewrite job itself via ``df.observe`` —
    genuinely no extra scan over input or output).
    """
    from pyspark.sql import Observation

    if target_bytes <= 0:
        raise ValueError(f"target_bytes must be > 0, got {target_bytes}")
    files_in = list_data_files(spark, in_dir)
    bytes_in = sum(sz for _, sz in files_in)
    n_out = max(1, math.ceil(bytes_in / target_bytes))

    df = spark.read.parquet(in_dir)
    # order_col is only consulted on the linear path — a z-ordered
    # rewrite sorts on the Morton value instead
    if not zorder_cols and order_col not in df.columns:
        raise ValueError(
            f"order_col {order_col!r} not in input columns {df.columns}"
        )
    obs = Observation("compact_rows")
    keep = [c for c in partition_cols if c in df.columns]
    drop_after: list[str] = []
    if zorder_cols:
        # multi-column clustering: range-partition + sort on the Morton
        # value instead of the linear order column
        zcol, _ = zorder_value(df, tuple(zorder_cols), bits=zorder_bits)
        df = df.withColumn("__zorder", zcol)
        keys = [F.col(c) for c in (*keep, "__zorder")]
        drop_after = ["__zorder"]
    else:
        keys = [F.col(c) for c in (*keep, order_col)]
    # Dynamic-partition writes create one file per (task, directory);
    # with few planned ranges (n_out is bytes/target, often 1 for a
    # fragmented-small-files table) every directory lands in ONE task
    # and the rewrite serializes hundreds of parquet writer inits
    # (measured: 530 dirs ≈ 7-9 s in a single task). When EVERY
    # directory fits the target, the ideal layout is exactly one file
    # per directory anyway — so hash-distribute whole directories
    # across the cores (explicit numPartitions: AQE never coalesces a
    # user-specified count) and let each task write its directories in
    # parallel. Any directory larger than the target keeps the range
    # path, which is what splits a big directory into ~target_bytes
    # files.
    dir_bytes: dict[str, int] = {}
    for p, sz in files_in:
        d = p.rsplit("/", 1)[0]
        dir_bytes[d] = dir_bytes.get(d, 0) + sz
    all_small = bool(keep) and bool(dir_bytes) and max(
        dir_bytes.values()
    ) <= target_bytes
    if all_small:
        n_parts = max(n_out, spark.sparkContext.defaultParallelism)
        shaped = df.repartition(n_parts, *[F.col(c) for c in keep])
    else:
        # observe ABOVE the range exchange: repartitionByRange SAMPLES
        # its child to pick boundaries, so a metric below the exchange
        # would double-count; above it, each row is seen exactly once
        shaped = df.repartitionByRange(n_out, *keys)
    shaped = (
        shaped.sortWithinPartitions(*keys)
        .observe(obs, F.count(F.lit(1)).alias("rows"))
    )
    if drop_after:
        # projection after the sort — order within partitions survives
        shaped = shaped.drop(*drop_after)
    writer = shaped.write.mode("overwrite")
    if keep:
        writer = writer.partitionBy(*keep)
    writer.parquet(out_dir)

    files_out = list_data_files(spark, out_dir)
    rows = obs.get["rows"]
    return {
        "files_in": len(files_in),
        "bytes_in": bytes_in,
        "files_out": len(files_out),
        "bytes_out": sum(sz for _, sz in files_out),
        "planned_files": n_out,
        "rows": rows,
    }


# ---------------------------------------------------------------------------
# selective (incremental) compaction — the daily-maintenance shape
# ---------------------------------------------------------------------------

def plan_compaction(
    spark: SparkSession,
    root: str,
    *,
    target_bytes: int = DEFAULT_TARGET_BYTES,
    min_files: int = 8,
    small_ratio: float = 0.5,
) -> dict:
    """Decide WHICH partition directories are worth rewriting — the
    planner a scheduled maintenance job runs first (Delta OPTIMIZE and
    Iceberg's rewriteDataFiles both target file-count/size thresholds,
    not whole tables).

    A directory is a candidate when it holds at least ``min_files``
    data files AND its mean file size is below ``small_ratio *
    target_bytes`` — i.e. many files that are actually small.  Healthy
    directories are never touched, so daily maintenance cost tracks the
    ingest rate, not the table size.  Pure driver-side metadata
    (one :func:`list_data_files` walk).
    """
    import os.path

    stats: dict[str, list[int]] = {}
    for path, size in list_data_files(spark, root):
        d = os.path.dirname(path)
        agg = stats.setdefault(d, [0, 0])
        agg[0] += 1
        agg[1] += size
    dirs = {
        d: {"files": n, "bytes": b, "mean_bytes": b // max(n, 1)}
        for d, (n, b) in sorted(stats.items())
    }
    candidates = [
        d for d, s in dirs.items()
        if s["files"] >= min_files
        and s["mean_bytes"] < target_bytes * small_ratio
    ]
    return {"dirs": dirs, "candidates": candidates,
            "target_bytes": target_bytes}


def compact_partitions(
    spark: SparkSession,
    root: str,
    partition_col: str,
    values: list[str],
    *,
    target_bytes: int = DEFAULT_TARGET_BYTES,
    order_col: str = "doc_id",
) -> dict:
    """Rewrite ONLY the named partition directories of a
    ``partitionBy(partition_col)`` table, leaving every other directory
    byte-untouched.

    One distributed job: the read filters on the partition column (the
    scan's PartitionFilters prune every healthy directory — zero IO
    outside the candidates), the rewrite bin-packs into a staging dir
    with the same directory layout, and each candidate directory is
    swapped.  Crash behavior: before any swap the table is untouched;
    the swap itself is two renames, so a crash between them leaves that
    one partition parked at a hidden ``.{dir}.__old__`` recovery name —
    run :func:`recover_interrupted_swaps` (idempotent, also safe on a
    healthy table) before the next maintenance pass to restore it.
    Compaction never changes rows, so either copy of a directory is
    correct.

    Filesystem reach: local roots use pure syscalls; any
    ``scheme://`` root goes through the Hadoop FileSystem API
    (:func:`table_fs`).  The swap is crash-atomic only where rename is
    (HDFS, local) — on object stores rename is a non-atomic copy, so
    use the manifest path
    (:func:`tagminder_spark.operators.table_manifest.compact_partitions_versioned`)
    there instead.  A concurrent reader that listed files before the
    swap can also lose them mid-scan; the manifest path is the fix for
    that too.
    """
    if not values:
        return {"rewritten_dirs": [], "files_out": 0, "rows": 0}
    from pyspark.sql import Observation

    fs, base = table_fs(spark, root)
    stage = fs.join(base, ".__compact_stage__")
    if fs.exists(stage):
        fs.delete(stage)

    df = spark.read.parquet(root).filter(F.col(partition_col).isin(values))
    if order_col not in df.columns:
        raise ValueError(
            f"order_col {order_col!r} not in input columns {df.columns}"
        )
    in_files = [
        (p, sz)
        for v in values
        for p, sz in list_data_files(
            spark, fs.join(base, f"{partition_col}={v}")
        )
    ]
    n_out = max(1, math.ceil(sum(sz for _, sz in in_files) / target_bytes))
    obs = Observation("compact_partitions_rows")
    (
        df.repartitionByRange(n_out, F.col(partition_col), F.col(order_col))
        .sortWithinPartitions(partition_col, order_col)
        .observe(obs, F.count(F.lit(1)).alias("rows"))
        .write.mode("overwrite")
        .partitionBy(partition_col)
        .parquet(stage)
    )

    rewritten = []
    try:
        for v in values:
            sub = f"{partition_col}={v}"
            src = fs.join(stage, sub)
            dst = fs.join(base, sub)
            if not fs.exists(src):  # value had no rows — nothing to swap
                continue
            old = fs.join(base, f".{sub}.__old__")
            if fs.exists(old):
                fs.delete(old)
            fs.rename(dst, old)
            fs.rename(src, dst)
            fs.delete(old)
            rewritten.append(dst)
    finally:
        fs.delete(stage, ignore_errors=True)
    files_out = [
        f for d in rewritten for f in list_data_files(spark, d)
    ]
    return {
        "rewritten_dirs": rewritten,
        "files_in": len(in_files),
        "files_out": len(files_out),
        "planned_files": n_out,
        "rows": obs.get["rows"],
    }


def recover_interrupted_swaps(
    root: str, spark: SparkSession | None = None
) -> list[str]:
    """Idempotent crash recovery for :func:`compact_partitions`: any
    hidden ``.{dir}.__old__`` directory whose live counterpart is
    missing is renamed back into place (the swap died between its two
    renames); one whose counterpart EXISTS is leftover garbage from
    after a completed swap and is removed.  Returns the restored
    directory paths.  Safe to run unconditionally before maintenance.
    Remote roots need ``spark`` for the Hadoop FileSystem API.
    """
    import re

    restored: list[str] = []
    fs, base = table_fs(spark, root)
    if not fs.exists(base):
        return restored
    for name in fs.listdir(base):
        m = re.fullmatch(r"\.(.+)\.__old__", name)
        entry = fs.join(base, name)
        if not m or not fs.is_dir(entry):
            continue
        live = fs.join(base, m.group(1))
        if fs.exists(live):
            fs.delete(entry)
        else:
            fs.rename(entry, live)
            restored.append(live)
    return restored
