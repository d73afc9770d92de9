"""Manifest-committed table versions — minimal snapshot isolation for
the maintenance family.

Why this exists (SCALE.md / VERDICT r7 #2): directory-listing tables
have two structural failure modes at 100 TB that
:mod:`~tagminder_spark.operators.compaction`'s swap path cannot fix:

1. **Readers race maintenance.** A reader plans its scan from a
   directory listing; a compaction swap that lands mid-scan deletes
   files the reader already enumerated → ENOENT half-way through a job
   that ran for an hour.
2. **Object stores have no rename.** s3-style stores copy on "rename",
   so the two-rename swap is neither atomic nor cheap.  This is the
   real reason production table formats (Iceberg, Delta, Hive ACID)
   keep a transaction log instead of renaming directories.

The fix, scoped to exactly what compaction needs: every table version
is a JSON **manifest** (`_manifest/v0000000001.json`).  Two commit
shapes (Delta Lake's JSON-log design in miniature): appends write
DELTAS (adds + parent pointer — O(|batch|) bytes at any table size),
while init / maintenance / checkpoint / rollback write FULL snapshots
that bound the chain readers fold.  Writers commit a new generation
with an atomic create-if-absent (hard-link CAS locally, rename-CAS on
Hadoop filesystems); maintenance writes NEW files and a new manifest
and leaves the old files on disk, so a reader pinned to generation N
keeps every file it planned against until
:func:`expire_snapshots` reclaims generations nobody should still be
reading.  Readers use :func:`snapshot_read`, which hands Spark the
pinned file list explicitly (``option("basePath", root)`` keeps the
directory-partition columns).

Contract: once a table is manifest-versioned, a bare
``spark.read.parquet(root)`` is no longer meaningful — the directory
holds multiple versions' files (exactly like an Iceberg data dir).
``expire_snapshots(keep_last=1)`` returns the directory to
listing-consistent state.  Single concurrent writer per table (the
streaming driver thread / one maintenance job); the CAS makes a second
writer fail loudly instead of corrupting.

Engine-added scale machinery — the reference (single SQLite file) has
no analogue; cited for contrast: its whole store is
``tagminder.py``'s sqlite connection.
"""

from __future__ import annotations

import functools
import json
import math
import posixpath
from collections import OrderedDict

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from tagminder_spark.operators.compaction import (
    DEFAULT_TARGET_BYTES,
    list_data_files,
    table_fs,
)

MANIFEST_DIR = "_manifest"

#: ops accepted by :func:`prune_manifest` / ``snapshot_read(where=...)``
_WHERE_OPS = (
    "=", "==", "<", "<=", ">", ">=", "between", "in", "prefix",
    "!=", "is_null", "is_not_null",
)

#: Hive/Spark's directory name for a NULL partition value — for
#: pruning it means every row in the directory has the column NULL
_HIVE_NULL = "__HIVE_DEFAULT_PARTITION__"


def _gen_name(gen: int) -> str:
    return f"v{gen:010d}.json"


#: Iceberg's ``truncate(16)`` default — string bounds stored in the
#: manifest are cut to this many code points (lower bound as a prefix,
#: upper bound prefix-incremented) so an 800k-entry stats sidecar never
#: balloons on long keys.
STRING_BOUND_LEN = 16

_MAX_CODE_POINT = 0x10FFFF


def _truncated_upper(s: str, length: int = STRING_BOUND_LEN) -> str | None:
    """A string ``>= s`` of at most ``length`` code points — Iceberg's
    ``UnicodeUtil.truncateStringMax``: cut to ``length``, then increment
    the last incrementable code point and drop everything after it.
    Returns None when no such string exists (every kept code point is
    already U+10FFFF) — the caller then drops the bound (conservative).
    """
    if len(s) <= length:
        return s
    cut = s[:length]
    for i in range(len(cut) - 1, -1, -1):
        cp = ord(cut[i])
        if cp < _MAX_CODE_POINT:
            nxt = cp + 1
            if 0xD800 <= nxt <= 0xDFFF:  # skip the surrogate gap
                nxt = 0xE000
            return cut[:i] + chr(nxt)
    return None


def _string_bounds(
    mn: str, mx: str, length: int = STRING_BOUND_LEN
) -> list | None:
    """Manifest-storable [lo, hi] for footer string min/max: lo is a
    plain prefix (always ``<=`` the true min), hi is prefix-incremented
    so it stays ``>=`` the true max even after truncation — pruning on
    these bounds can never wrongly skip a file.  ``length`` is the
    truncation width: keys sharing a long common prefix (paths) need a
    wider bound to stay distinguishable — the copy-on-write MERGE
    passes 64."""
    hi = _truncated_upper(mx, length)
    if hi is None:
        return None
    return [mn[:length], hi]


def _stats_from_metadata(
    meta, want: set, string_len: int = STRING_BOUND_LEN
) -> dict[str, list]:
    """Per-column stats from one parquet FileMetaData, aggregated
    across row groups: ``[lo, hi]``, or ``[lo, hi, null_count,
    value_count]`` when the footers also carry null counts (parquet-mr
    always writes them; Iceberg manifests store the same pair), or
    ``[None, None, null_count, value_count]`` for a column with null
    counts but no usable min/max — which is exactly the ALL-NULL case
    that matters for the alib shape (most tag columns mostly null).

    Numeric bounds verbatim; string bounds via the truncation-safe
    :func:`_string_bounds` (the footer values Spark's parquet-mr
    writes are themselves exact or conservatively truncated —
    parquet's BinaryTruncator increments the upper bound, so folding
    them is sound).  A column missing min/max in ANY row group gets no
    bounds; missing null counts in any row group drop the null pair
    (missing stat ⇒ file kept).  Float/double bounds are kept only
    from NaN-safe writers (parquet-mr) — see the NaN guard below."""
    schema = meta.schema
    idx_of = {schema.column(i).name: i for i in range(len(schema.names))}
    colstats: dict[str, list] = {}
    # NaN guard (VERDICT r11 #5): Spark orders NaN GREATER than every
    # value, so `col > v` matches a NaN row — but pyarrow/parquet-cpp
    # write NaN-IGNORING float min/max, which would wrongly prune that
    # file.  parquet-mr (Spark's writer) drops min/max entirely when a
    # NaN is present, so bounds-present ⇒ NaN-absent there; any other
    # writer's float/double bounds are unusable (null counts kept).
    created_by = meta.created_by or ""
    nan_safe_writer = created_by.startswith("parquet-mr")
    for c in want:
        i = idx_of.get(c)
        if i is None:
            continue
        lo = hi = None
        ok = meta.num_row_groups > 0
        if not nan_safe_writer and schema.column(i).physical_type in (
            "FLOAT", "DOUBLE"
        ):
            ok = False
        nulls = 0
        rows = 0
        nulls_ok = meta.num_row_groups > 0
        for rg in range(meta.num_row_groups):
            rgm = meta.row_group(rg)
            st = rgm.column(i).statistics
            rows += rgm.num_rows
            if st is None or st.null_count is None:
                nulls_ok = False
            else:
                nulls += st.null_count
            if not ok:
                continue
            if st is None or not st.has_min_max:
                ok = False
                continue
            mn, mx = st.min, st.max
            if isinstance(mn, bool) or not (
                (isinstance(mn, (int, float)) and isinstance(mx, (int, float)))
                or (isinstance(mn, str) and isinstance(mx, str))
            ):
                ok = False
                continue
            lo = mn if lo is None else min(lo, mn)
            hi = mx if hi is None else max(hi, mx)
        bounds = None
        if ok and lo is not None:
            if isinstance(lo, str):
                bounds = _string_bounds(lo, hi, string_len)
            else:
                bounds = [lo, hi]
        if bounds is not None and nulls_ok:
            colstats[c] = bounds + [int(nulls), int(rows)]
        elif bounds is not None:
            colstats[c] = bounds
        elif nulls_ok and rows > 0:
            colstats[c] = [None, None, int(nulls), int(rows)]
    return colstats


def _read_footer_metadata_hadoop(spark: SparkSession, fs, path: str):
    """Parquet footer through the Hadoop FileSystem — ONE positioned
    tail read per file (two py4j calls), never the whole file: read the
    last ``min(size, 1 MiB)`` bytes, decode the footer length from the
    8-byte trailer, and hand pyarrow a synthetic ``PAR1 + footer``
    buffer (``read_metadata`` only ever touches the trailer region, so
    the data pages need not exist in the buffer).  Falls back to one
    exact-length re-read for footers larger than the speculative tail.
    This is what keeps :func:`collect_file_stats` alive on object
    stores, where the round-9 implementation silently returned ``{}``.
    """
    import io
    import struct

    import pyarrow.parquet as pq

    size = fs.file_size(path)
    tail_len = min(size, 1 << 20)
    jvm = spark._jvm
    stream = fs._fs.open(fs._jpath(path))
    try:
        stream.seek(size - tail_len)
        baos = jvm.java.io.ByteArrayOutputStream()
        jvm.org.apache.hadoop.io.IOUtils.copyBytes(stream, baos, 65536, False)
        tail = bytes(baos.toByteArray())
        if len(tail) < 8 or tail[-4:] != b"PAR1":
            raise ValueError(f"not a parquet file: {path}")
        footer_len = struct.unpack("<I", tail[-8:-4])[0]
        if footer_len + 8 > len(tail):
            stream.seek(size - footer_len - 8)
            baos2 = jvm.java.io.ByteArrayOutputStream()
            jvm.org.apache.hadoop.io.IOUtils.copyBytes(
                stream, baos2, 65536, False
            )
            tail = bytes(baos2.toByteArray())
    finally:
        stream.close()
    return pq.read_metadata(io.BytesIO(b"PAR1" + tail[-(footer_len + 8):]))


def collect_file_stats(
    base: str,
    rels: list[str],
    cols: tuple[str, ...] | list[str],
    *,
    fs=None,
    spark: SparkSession | None = None,
    string_bound_len: int = STRING_BOUND_LEN,
    distributed: bool | None = None,
) -> dict[str, dict[str, list]]:
    """Driver-side parquet-FOOTER pass: per-file min/max for ``cols``,
    aggregated across row groups — the stats an Iceberg manifest entry
    carries (``lower_bounds``/``upper_bounds``), collected at commit
    time so :func:`snapshot_read` can skip files before Spark ever
    plans them.  Returns ``{rel: {col: [lo, hi]}}``.

    Scope, deliberately conservative (a missing stat only costs
    pruning, never correctness):

    - numeric (int/float) columns verbatim; STRING columns via
      Iceberg-style ``truncate(16)`` bounds (:func:`_string_bounds`:
      lower bound stored as a plain prefix, upper bound
      prefix-incremented) — this is what unlocks pruning on
      ``__path``/``__dirpath``, the engine's primary key;
    - a column missing stats in ANY row group gets no entry;
    - local / ``file:`` bases read footers via pyarrow directly; a
      remote scheme needs ``fs``+``spark`` (the Hadoop backend from
      :func:`~tagminder_spark.operators.compaction.table_fs`) and then
      reads each footer with ONE positioned tail read
      (:func:`_read_footer_metadata_hadoop`); a remote base without
      ``fs`` returns ``{}`` and every file is simply kept.

    Cost: one footer read per NEW file — O(|batch|) at append time,
    never O(table).
    """
    import os.path

    import pyarrow.parquet as pq

    from tagminder_spark.operators.compaction import _HadoopFS

    want = set(cols)
    out: dict[str, dict[str, list]] = {}
    if isinstance(fs, _HadoopFS):
        if spark is None:
            return {}
        for rel in rels:
            try:
                meta = _read_footer_metadata_hadoop(
                    spark, fs, fs.join(base, rel)
                )
            except Exception:
                continue
            colstats = _stats_from_metadata(meta, want, string_bound_len)
            if colstats:
                out[rel] = colstats
        return out
    local = base
    if local.startswith("file://"):
        local = local[7:]
    elif local.startswith("file:"):
        local = local[5:]
    if "://" in local:
        return {}
    use_dist = (
        distributed
        if distributed is not None
        else len(rels) >= _DISTRIBUTED_STATS_THRESHOLD
    )
    if spark is not None and use_dist:
        # commit batches stay driver-side (a local footer read is
        # ~60 µs, so even thousands of files beat a Spark job's fixed
        # overhead); BOOTSTRAP over a very large existing table
        # (init_manifest at 100k-800k files) is where serialization
        # bites — fan those out to the executors (per-partition
        # imperative IO, the one legitimate RDD use): measured
        # crossover ~50k local files, ~15x at 800k.
        return _collect_file_stats_distributed(
            spark, local, rels, want, string_bound_len
        )
    for rel in rels:
        try:
            meta = pq.read_metadata(os.path.join(local, rel))
        except Exception:
            continue
        colstats = _stats_from_metadata(meta, want, string_bound_len)
        if colstats:
            out[rel] = colstats
    return out


#: above this many files, collect_file_stats fans footer reads out to
#: the executors (bootstrap-sized batches); below it, driver-side wins
#: — a local footer read is ~60 µs, so the crossover vs the job-launch
#: overhead sits around tens of thousands of files (measured)
_DISTRIBUTED_STATS_THRESHOLD = 50_000


def _collect_file_stats_distributed(
    spark: SparkSession,
    local: str,
    rels: list[str],
    want: set,
    string_bound_len: int,
) -> dict[str, dict[str, list]]:
    sc = spark.sparkContext
    n_slices = int(min(
        max(len(rels) // 64, sc.defaultParallelism), 512
    ))
    want_t = tuple(sorted(want))

    def part(it):
        import os.path

        import pyarrow.parquet as pq

        from tagminder_spark.operators.table_manifest import (
            _stats_from_metadata,
        )

        for rel in it:
            try:
                meta = pq.read_metadata(os.path.join(local, rel))
            except Exception:
                continue
            cs = _stats_from_metadata(meta, set(want_t), string_bound_len)
            if cs:
                yield rel, cs

    return dict(
        sc.parallelize(sorted(rels), n_slices).mapPartitions(part)
        .collect()
    )


def _unescape_path_value(v: str) -> str:
    """Hive/Spark ``unescapePathName``: partition-path VALUES are stored
    with special characters (``=``, ``:``, ``%``, ``/`` …) escaped as
    ``%XX`` (Spark's ``ExternalCatalogUtils.escapePathName``).  Pruning
    must compare the LOGICAL value against predicate literals — matching
    the raw escaped token would wrongly skip a file whose value contains
    any escaped character (``lang=a%3Db`` vs literal ``a=b``)."""
    if "%" not in v:
        return v
    out: list[str] = []
    i, n = 0, len(v)
    while i < n:
        c = v[i]
        if c == "%" and i + 3 <= n:
            try:
                out.append(chr(int(v[i + 1:i + 3], 16)))
                i += 3
                continue
            except ValueError:
                pass
        out.append(c)
        i += 1
    return "".join(out)


def _partition_values(rel: str) -> dict[str, str]:
    """``k=v`` directory segments of a relative file path — the
    partition values Spark would derive (Hive-unescaped, so they match
    predicate literals), usable as exact (lo==hi) pruning bounds for
    partition columns the footers never store."""
    out: dict[str, str] = {}
    for seg in posixpath.dirname(rel).split("/"):
        if "=" in seg:
            k, _, v = seg.partition("=")
            out[k] = _unescape_path_value(v)
    return out


def _prefix_successor(s: str) -> str | None:
    """The smallest string greater than EVERY string with prefix ``s``
    — increment the last incrementable code point (dropping trailing
    U+10FFFF); None when no successor exists (cannot exclude on the
    low side, conservative)."""
    for i in range(len(s) - 1, -1, -1):
        cp = ord(s[i])
        if cp < _MAX_CODE_POINT:
            nxt = cp + 1
            if 0xD800 <= nxt <= 0xDFFF:  # skip the surrogate gap
                nxt = 0xE000
            return s[:i] + chr(nxt)
    return None


def _range_excludes(lo, hi, op: str, val) -> bool:
    """True iff NO value in [lo, hi] can satisfy ``<col> <op> <val>``
    — the file-skip test.  Bounds and the literal must be mutually
    comparable (caller aligns types); ``between`` takes a (lo, hi)
    literal pair, ``in`` a literal list (excluded iff EVERY member
    is), ``prefix`` a string prefix."""
    if op in ("=", "=="):
        return val < lo or val > hi
    if op == "<":
        return lo >= val
    if op == "<=":
        return lo > val
    if op == ">":
        return hi <= val
    if op == ">=":
        return hi < val
    if op == "between":
        a, b = val
        return hi < a or lo > b
    if op == "in":
        return all(
            _aligned(lo, v) and _range_excludes(lo, hi, "=", v) for v in val
        )
    if op == "prefix":
        if hi < val:  # the smallest prefixed string is val itself
            return True
        up = _prefix_successor(val)
        return up is not None and lo >= up
    raise ValueError(f"unsupported where op {op!r}")


def _aligned(bound, val) -> bool:
    """Only compare bound/literal pairs of compatible kinds — a str
    partition value never prunes against a numeric literal and vice
    versa (mixed kinds keep the file: conservative)."""
    num = (int, float)
    if isinstance(val, (tuple, list)):
        return all(_aligned(bound, v) for v in val)
    if isinstance(bound, bool) or isinstance(val, bool):
        return False
    return (
        isinstance(bound, num) and isinstance(val, num)
    ) or (isinstance(bound, str) and isinstance(val, str))


def _is_or(cond) -> bool:
    return (
        isinstance(cond, (tuple, list))
        and len(cond) == 2
        and cond[0] == "or"
    )


def _validate_where(where: list) -> None:
    for cond in where:
        if _is_or(cond):
            if not cond[1]:
                raise ValueError("empty OR disjunction")
            for disj in cond[1]:
                if not disj:
                    raise ValueError("empty disjunct in OR")
                _validate_where(disj)
            continue
        if len(cond) != 3 or cond[1] not in _WHERE_OPS:
            raise ValueError(f"bad where conjunct {cond!r}")
        if cond[1] == "in" and not isinstance(cond[2], (list, tuple)):
            raise ValueError(f"'in' literal must be a list: {cond!r}")
        if cond[1] == "prefix" and not isinstance(cond[2], str):
            raise ValueError(f"'prefix' literal must be a str: {cond!r}")
        if cond[1] in ("is_null", "is_not_null") and cond[2] is not None:
            raise ValueError(
                f"{cond[1]!r} takes a None literal: {cond!r}"
            )


def _coerce_pv(pv: str, val):
    """A partition-path value (always a string on disk) coerced to the
    literal's kind so the pair is comparable — None when it can't be
    (mixed kinds keep the file: conservative)."""
    if isinstance(val, str):
        return pv
    if isinstance(val, bool):
        return None
    if isinstance(val, (int, float)):
        try:
            return type(val)(pv)
        except ValueError:
            return None
    if isinstance(val, (tuple, list)):
        if not val:
            return pv  # empty IN excludes vacuously; kind is moot
        if all(isinstance(v, str) for v in val):
            return pv
        if all(
            isinstance(v, (int, float)) and not isinstance(v, bool)
            for v in val
        ):
            cast = int if all(isinstance(v, int) for v in val) else float
            try:
                return cast(pv)
            except ValueError:
                return None
    return None


#: hidden-partitioning transforms (Iceberg's bucket/truncate): the
#: PARTITION column is a derived function of a source column, and a
#: predicate on the SOURCE prunes through the function.  Both halves —
#: the Spark write-side expression and the driver-side literal twin —
#: must agree bit-for-bit, which is why bucket uses crc32 (zlib.crc32
#: == Spark's crc32 on the same UTF-8 bytes) over the value's string
#: form, not Spark's internal Murmur hash (not reproducible in python).

#: transforms that are MONOTONE nondecreasing functions of their
#: source (Iceberg's order-preserving transforms): a RANGE predicate
#: on the source maps through them — ``src >= v ⟹ T(src) >= T(v)``,
#: so a partition whose derived value is ``< T(v)`` provably holds no
#: matching row.  ``bucket`` is deliberately absent (a hash preserves
#: nothing but equality).
_MONOTONE_INT_KINDS = ("year", "month", "day", "hour", "truncate_int")


def partition_transform_column(kind: str, col: str, arg: int):
    """(Column expression, derived column name) for a hidden-partition
    transform:

    - ``bucket`` → ``crc32(string(col)) % arg``;
    - ``truncate`` → the first ``arg`` characters of ``string(col)``;
    - ``truncate_int`` → ``col`` floored to a multiple of ``arg``
      (Iceberg's integer truncate: ``v - (v mod W)``, floor semantics
      for negatives);
    - ``year`` / ``month`` / ``day`` / ``hour`` → Iceberg's temporal
      transforms over a timestamp/date/ISO-string source (``arg``
      ignored): calendar year; months-from-epoch; days-from-epoch;
      hours-from-epoch.  day/hour derive from epoch SECONDS (timezone-
      free); year/month from the UTC calendar date — the engine
      session pins ``spark.sql.session.timeZone=UTC``
      (session.py:48), which is what makes the driver-side literal
      twin (:func:`transform_value`) bit-identical.
    """
    if kind == "bucket":
        # NOTE: the derived name must not start with "_" or "." — those
        # are hidden-path prefixes every Hadoop lister (and this
        # module's own) skips, which would make the partition dirs
        # invisible to init_manifest
        expr = F.pmod(F.crc32(F.col(col).cast("string")), F.lit(arg))
        return expr, f"{col}_bucket_{arg}"
    if kind == "truncate":
        expr = F.substring(F.col(col).cast("string"), 1, arg)
        return expr, f"{col}_trunc_{arg}"
    if kind == "truncate_int":
        expr = (F.col(col) - F.pmod(F.col(col), F.lit(arg))).cast("long")
        return expr, f"{col}_trunci_{arg}"
    if kind == "year":
        expr = F.year(F.col(col).cast("date"))
        return expr, f"{col}_year"
    if kind == "month":
        d = F.col(col).cast("date")
        expr = (F.year(d) - F.lit(1970)) * F.lit(12) + F.month(d) - F.lit(1)
        return expr, f"{col}_month"
    if kind == "day":
        expr = F.datediff(
            F.col(col).cast("date"), F.to_date(F.lit("1970-01-01"))
        )
        return expr, f"{col}_day"
    if kind == "hour":
        # epoch-second arithmetic (cast ts→long is TZ-free); floor
        # division via pmod so pre-epoch hours round toward -inf —
        # `div` would truncate toward zero
        c = F.col(col).cast("timestamp").cast("long")
        expr = ((c - F.pmod(c, F.lit(3600))) / F.lit(3600)).cast("int")
        return expr, f"{col}_hour"
    raise ValueError(f"unknown partition transform {kind!r}")


def _literal_utc_datetime(value):
    """A predicate literal coerced to a naive-UTC datetime for the
    temporal transforms — str (ISO date or datetime), datetime.date,
    datetime.datetime (naive = UTC; aware converted).  Raises TypeError
    for anything else (a silently mis-parsed literal would mis-prune)."""
    import datetime as _dt

    if isinstance(value, _dt.datetime):
        if value.tzinfo is not None:
            return value.astimezone(_dt.timezone.utc).replace(tzinfo=None)
        return value
    if isinstance(value, _dt.date):
        return _dt.datetime(value.year, value.month, value.day)
    if isinstance(value, str):
        try:
            d = _dt.datetime.fromisoformat(value)
        except ValueError as e:
            raise TypeError(f"unparseable temporal literal {value!r}") from e
        if d.tzinfo is not None:
            # offset-bearing ISO strings ('...+05:00', '...Z') must be
            # normalized to UTC exactly like aware datetime inputs —
            # otherwise year/month/day read offset-local fields and
            # `hour` reinterprets the wall time as UTC, mis-pruning
            # partitions that contain matching rows
            d = d.astimezone(_dt.timezone.utc).replace(tzinfo=None)
        return d
    raise TypeError(
        f"temporal transform literals must be str/date/datetime, "
        f"got {type(value).__name__}"
    )


def transform_value(kind: str, value, arg: int):
    """Driver-side twin of :func:`partition_transform_column` for a
    literal — what pruning compares against the partition-path value.

    ``bucket``/``truncate`` take integer and string sources only (their
    ``cast("string")`` form is reproducible: python ``str(True)`` is
    ``'True'`` but Spark casts to ``'true'``, and float formatting
    differs too, so any other literal type raises rather than silently
    mis-pruning).  ``truncate_int`` takes ints.  The temporal kinds
    take str/date/datetime literals, interpreted as UTC — matching the
    engine session's pinned UTC timezone on the write side."""
    import datetime as _dt
    import zlib

    if kind in _MONOTONE_INT_KINDS and kind != "truncate_int":
        dt = _literal_utc_datetime(value)
        if kind == "year":
            return dt.year
        if kind == "month":
            return (dt.year - 1970) * 12 + dt.month - 1
        if kind == "day":
            return (dt.date() - _dt.date(1970, 1, 1)).days
        # floor, not int(): Spark's ts→long cast floors (floorDiv of
        # micros), and pre-epoch fractional seconds must round down
        epoch = math.floor(
            dt.replace(tzinfo=_dt.timezone.utc).timestamp()
        )
        return epoch // 3600  # hour; floor division matches pmod
    if isinstance(value, bool) or not isinstance(value, (int, str)):
        raise TypeError(
            f"partition transform literals must be int or str, "
            f"got {type(value).__name__}"
        )
    if kind == "truncate_int":
        if not isinstance(value, int):
            raise TypeError("truncate_int literals must be int")
        return value - (value % arg)
    s = str(value)
    if kind == "bucket":
        return zlib.crc32(s.encode("utf-8")) % arg
    if kind == "truncate":
        return s[:arg]
    raise ValueError(f"unknown partition transform {kind!r}")


def _monotone_transform_excl(op, pv, tv) -> bool:
    """Exclusion through a MONOTONE nondecreasing transform T, given
    this partition's derived value ``pv`` and the transformed literal
    ``tv = T(v)`` (both already the same comparable kind):

    - ``src = v`` needs ``T(src) = tv`` — excluded iff ``pv != tv``;
    - ``src >= v`` (or ``>``) implies ``T(src) >= tv`` — excluded iff
      ``pv < tv`` (strict ``>`` cannot do better: T collapses a whole
      bucket onto tv, and some ``src > v`` may still map to tv);
    - ``src <= v`` (or ``<``) implies ``T(src) <= tv`` — excluded iff
      ``pv > tv``;
    - ``between (a, b)`` — excluded iff ``pv < T(a)`` or ``pv > T(b)``.
    """
    if op in ("=", "=="):
        return pv != tv
    if op in (">", ">="):
        return pv < tv
    if op in ("<", "<="):
        return pv > tv
    if op == "between":
        ta, tb = tv
        return pv < ta or pv > tb
    return False


def _transform_excludes(
    cond, pvals: dict, transforms: dict
) -> bool:
    """Can a hidden-partition transform PROVE exclusion for this
    conjunct?  ``bucket`` maps only equality-shaped ops (= / in) — a
    hash preserves nothing else; the MONOTONE transforms (``truncate``
    on strings, ``truncate_int``, ``year``/``month``/``day``/``hour``)
    additionally map RANGE predicates (< <= > >= between) through
    :func:`_monotone_transform_excl`, and ``truncate`` keeps its
    ``prefix`` special case.  A literal whose type the transform
    cannot reproduce bit-exactly (bool through bucket, an unparseable
    temporal string, ...) falls through to NO exclusion."""
    def _tv_ok(v) -> bool:
        # transform_value raises on literal types whose str() form
        # diverges from Spark's cast("string") (bool, float, ...) —
        # those conjuncts simply cannot prune through the transform
        return isinstance(v, (int, str)) and not isinstance(v, bool)

    col, op, val = cond
    for pcol, (kind, src, arg) in transforms.items():
        if src != col or pcol not in pvals:
            continue
        pv = pvals[pcol]
        if kind == "bucket":
            if op in ("=", "=="):
                if _tv_ok(val) and str(
                    transform_value(kind, val, arg)
                ) != pv:
                    return True
            elif op == "in":
                if val and all(_tv_ok(v) for v in val) and all(
                    str(transform_value(kind, v, arg)) != pv for v in val
                ):
                    return True
            continue
        if kind == "truncate":
            if op == "prefix":
                p = str(val)
                if len(p) >= arg:
                    if pv != p[:arg]:
                        return True
                elif not pv.startswith(p):
                    return True
                continue
            # string-monotone: compare the raw partition string
            try:
                if op == "in":
                    if val and all(
                        _tv_ok(v)
                        and transform_value(kind, v, arg) != pv
                        for v in val
                    ):
                        return True
                elif op == "between":
                    a, b = val
                    if _tv_ok(a) and _tv_ok(b) and _monotone_transform_excl(
                        op, pv,
                        (transform_value(kind, a, arg),
                         transform_value(kind, b, arg)),
                    ):
                        return True
                elif _tv_ok(val) and _monotone_transform_excl(
                    op, pv, transform_value(kind, val, arg)
                ):
                    return True
            except TypeError:
                pass
            continue
        if kind in _MONOTONE_INT_KINDS:
            try:
                pv_int = int(pv)
            except ValueError:
                continue
            try:
                if op == "in":
                    if val and all(
                        transform_value(kind, v, arg) != pv_int
                        for v in val
                    ):
                        return True
                elif op == "between":
                    a, b = val
                    if _monotone_transform_excl(
                        op, pv_int,
                        (transform_value(kind, a, arg),
                         transform_value(kind, b, arg)),
                    ):
                        return True
                elif _monotone_transform_excl(
                    op, pv_int, transform_value(kind, val, arg)
                ):
                    return True
            except TypeError:
                pass
    return False


def _cond_excludes(
    cond, fstats: dict, pvals: dict, transforms: dict | None = None
) -> bool:
    """True iff this conjunct PROVES the file holds no matching row.
    An ``("or", [conj_list, ...])`` conjunct excludes only when EVERY
    disjunct is itself excluded (some condition within each disjunct
    proves impossibility).

    Null-awareness (round 11, VERDICT r10 #3): stats entries may carry
    ``[lo, hi, null_count, value_count]`` (or ``[None, None, nc, n]``
    for all-null columns); ``is_null`` excludes files proven all
    non-null, ``is_not_null`` excludes files proven all-null — the
    ``IS NOT NULL`` prune that matters on mostly-null metadata columns
    (the alib shape) — and every comparison op (SQL three-valued
    logic: NULL satisfies nothing) excludes all-null files too.  A
    ``__HIVE_DEFAULT_PARTITION__`` directory value means every row has
    the partition column NULL and prunes the same way."""
    if _is_or(cond):
        return all(
            any(_cond_excludes(c, fstats, pvals, transforms)
                for c in disj)
            for disj in cond[1]
        )
    col, op, val = cond
    entry = fstats.get(col)
    nc = rows = None
    bounds = None
    if entry is not None:
        if len(entry) >= 4:
            nc, rows = entry[2], entry[3]
        if entry[0] is not None:
            bounds = (entry[0], entry[1])
    pv_raw = pvals.get(col)
    if op == "is_null":
        # excluded when provably NO null exists: zero footer nulls, or
        # a concrete (non-default) partition value for every row
        return nc == 0 or (
            pv_raw is not None and pv_raw != _HIVE_NULL
        )
    if op == "is_not_null":
        # excluded when provably ALL rows are null
        return (
            nc is not None and rows is not None and nc == rows
        ) or pv_raw == _HIVE_NULL
    # comparison ops: NULL satisfies none of them (SQL semantics), so
    # an all-null file/partition is excluded outright
    if pv_raw == _HIVE_NULL:
        return True
    if nc is not None and rows is not None and nc == rows:
        return True
    if transforms and _transform_excludes(cond, pvals, transforms):
        return True
    if op == "!=":
        # excluded iff every NON-NULL value equals the literal
        if (
            bounds is not None
            and _aligned(bounds[0], val)
            and bounds[0] == bounds[1] == val
        ):
            return True
        if entry is None and pv_raw is not None:
            pv = _coerce_pv(pv_raw, val)
            if pv is not None and not isinstance(val, (tuple, list)) \
                    and _aligned(pv, val) and pv == val:
                return True
        return False
    rng = list(bounds) if bounds is not None else None
    if entry is None and pv_raw is not None:
        pv = _coerce_pv(pv_raw, val)
        if pv is not None:
            rng = [pv, pv]
    if rng is None:
        return False
    if op == "in":  # alignment is per-member inside _range_excludes
        return _range_excludes(rng[0], rng[1], op, val)
    if not _aligned(rng[0], val):
        return False
    return _range_excludes(rng[0], rng[1], op, val)


#: above this many files the prune evaluates conjuncts VECTORIZED
#: (numpy over packed per-column bound arrays) instead of one python
#: call per file — measured ~10-40x at 800k files (VERDICT r10 #5);
#: below it the scalar loop wins (no packing overhead) and stays the
#: executable reference semantics (equality test-pinned)
_VECTOR_PRUNE_THRESHOLD = 4096

#: packed per-column stats arrays, keyed (manifest cache_key, col) —
#: a committed manifest is immutable, so repeat selective reads reuse
#: the packing (the dominant vector-path cost).  Bounded LRU.
_PACK_CACHE: dict = {}
_PACK_CACHE_MAX = 32  # ~20 MB per 800k-file column — keep it bounded


def _pack_cache_clear() -> None:
    _PACK_CACHE.clear()


def _packed_dirs(manifest: dict):
    """(dir_idx int32 array, [pvals per unique dir]) for the manifest's
    files — partition values parsed once per DIRECTORY, mapped to files
    by index (the memoization the scalar path does with a dict)."""
    import numpy as np

    key = manifest.get("cache_key")
    ck = (key, "__dirs__") if key is not None else None
    if ck is not None and ck in _PACK_CACHE:
        return _PACK_CACHE[ck]
    dir_of: dict[str, int] = {}
    setdef = dir_of.setdefault
    # rpartition head == posixpath.dirname for these relative paths
    # (no trailing slashes, "/" separator) at ~3x the speed
    dirs = [f[0].rpartition("/")[0] for f in manifest["files"]]
    idx = np.array(
        [setdef(d, len(dir_of)) for d in dirs], dtype=np.int32
    )
    pvals_list = [
        _partition_values(d + "/x") for d in dir_of
    ]
    out = (idx, pvals_list)
    if ck is not None:
        if len(_PACK_CACHE) >= _PACK_CACHE_MAX:
            _PACK_CACHE.pop(next(iter(_PACK_CACHE)))
        _PACK_CACHE[ck] = out
    return out


#: bit flags packed per file for ``col`` null-count facts
_F_HAS = 1        # a stats entry exists for the column
_F_NO_NULLS = 2   # null_count == 0
_F_ALL_NULL = 4   # null_count == value_count (incl. zero-row files)


def _packed_col(manifest: dict, col: str):
    """Per-file packed stats for ``col``: (lo obj[N], hi obj[N],
    kind int8[N] (0 no-bounds, 1 num, 2 str), flags int8[N] —
    :data:`_F_HAS` / :data:`_F_NO_NULLS` / :data:`_F_ALL_NULL`)."""
    import numpy as np

    key = manifest.get("cache_key")
    ck = (key, col) if key is not None else None
    if ck is not None and ck in _PACK_CACHE:
        return _PACK_CACHE[ck]
    files = manifest["files"]
    stats = manifest.get("stats", {})
    n = len(files)
    # alignment fast path: a read_manifest-built manifest (cache_key
    # present) has BOTH the file list and the stats dict sorted by rel
    # with stats keys ⊆ file rels — equal lengths therefore mean
    # identical key sequences, so the dict values are already
    # file-ordered.  Hand-built manifests (tests, tools) take the
    # keyed path.
    if len(stats) == n and key is not None:
        ents = list(stats.values())
    else:
        sget = stats.get
        ents = [sget(f[0]) for f in files]
    col_entries = [None if cm is None else cm.get(col) for cm in ents]
    lo = np.array(
        [None if e is None else e[0] for e in col_entries],
        dtype=object,
    )
    hi = np.array(
        [None if e is None else e[1] for e in col_entries],
        dtype=object,
    )
    flags = np.array(
        [
            0 if e is None
            else (
                _F_HAS if len(e) < 4
                else _F_HAS
                | (_F_NO_NULLS if e[2] == 0 else 0)
                | (_F_ALL_NULL if e[2] == e[3] else 0)
            )
            for e in col_entries
        ],
        dtype=np.int8,
    )
    # bounds-present mask: a [None, None, nc, n] entry has no bounds.
    # (kind num-vs-str is NOT packed — the vector compare simply runs
    # and a mixed-kind TypeError falls back to the scalar loop.)
    present = np.not_equal(lo, None)
    out = (lo, hi, present, flags)
    if ck is not None:
        if len(_PACK_CACHE) >= _PACK_CACHE_MAX:
            _PACK_CACHE.pop(next(iter(_PACK_CACHE)))
        _PACK_CACHE[ck] = out
    return out


def _vec_bounds_excl(np, op, val, lo, hi, base_mask):
    """Vectorized :func:`_range_excludes` over packed object bound
    arrays — positions outside ``base_mask`` stay False (keep).  The
    comparisons are the SAME python rich-compares the scalar path
    runs, batched through numpy's object-dtype loop.  A bool literal
    never prunes (the scalar ``_aligned`` posture); a literal whose
    kind mismatches some file's bounds raises TypeError out of the
    element compare, and the caller falls back to the scalar loop —
    bounds are kind-homogeneous per column in any real table, so that
    path is pathological-only."""
    n = lo.shape[0]
    res = np.zeros(n, dtype=bool)

    def _cmp_ok(v) -> bool:
        return not isinstance(v, bool) and isinstance(v, (int, float, str))

    if op in ("=", "=="):
        idx = np.flatnonzero(base_mask)
        if idx.size and _cmp_ok(val):
            res[idx] = np.asarray(
                (lo[idx] > val) | (hi[idx] < val), dtype=bool
            )
        return res
    if op == "!=":
        idx = np.flatnonzero(base_mask)
        if idx.size and _cmp_ok(val):
            res[idx] = np.asarray(
                (lo[idx] == val) & (hi[idx] == val), dtype=bool
            )
        return res
    if op in ("<", "<=", ">", ">="):
        idx = np.flatnonzero(base_mask)
        if idx.size and _cmp_ok(val):
            if op == "<":
                r = lo[idx] >= val
            elif op == "<=":
                r = lo[idx] > val
            elif op == ">":
                r = hi[idx] <= val
            else:
                r = hi[idx] < val
            res[idx] = np.asarray(r, dtype=bool)
        return res
    if op == "between":
        a, b = val
        idx = np.flatnonzero(base_mask)
        if idx.size and _cmp_ok(a) and _cmp_ok(b) and (
            isinstance(a, str) == isinstance(b, str)
        ):
            res[idx] = np.asarray(
                (hi[idx] < a) | (lo[idx] > b), dtype=bool
            )
        return res
    if op == "in":
        # excluded iff EVERY member is aligned-and-absent (vacuously
        # true for the empty list — matching the scalar semantics)
        acc = base_mask.copy()
        for v in val:
            idx = np.flatnonzero(acc)
            if not idx.size:
                break
            ok = np.zeros(n, dtype=bool)
            if _cmp_ok(v):
                ok[idx] = np.asarray(
                    (lo[idx] > v) | (hi[idx] < v), dtype=bool
                )
            acc &= ok
        return acc
    if op == "prefix":
        idx = np.flatnonzero(base_mask)
        if idx.size:
            r = np.asarray(hi[idx] < val, dtype=bool)
            up = _prefix_successor(val)
            if up is not None:
                r |= np.asarray(lo[idx] >= up, dtype=bool)
            res[idx] = r
        return res
    raise ValueError(f"unsupported where op {op!r}")


def _vec_cond_excludes(manifest, cond, transforms, np):
    """The vectorized twin of :func:`_cond_excludes`: one bool[N]
    exclusion array per conjunct.  Dir-level facts (partition values,
    transforms, the no-stats fallback) are computed ONCE PER DIRECTORY
    by calling the scalar reference itself, then broadcast to files by
    index; only the per-file bound/null-count checks run as numpy
    array ops — so the two paths cannot drift on the driver-side
    grammar."""
    files = manifest["files"]
    n = len(files)
    if _is_or(cond):
        return np.logical_and.reduce([
            np.logical_or.reduce([
                _vec_cond_excludes(manifest, c, transforms, np)
                for c in disj
            ])
            for disj in cond[1]
        ])
    col, op, val = cond
    dir_idx, pvals_list = _packed_dirs(manifest)
    lo, hi, present, flags = _packed_col(manifest, col)
    has = (flags & _F_HAS) != 0

    if op == "is_null":
        dir_nonnull = np.fromiter(
            (
                pv.get(col) is not None and pv[col] != _HIVE_NULL
                for pv in pvals_list
            ),
            dtype=bool, count=len(pvals_list),
        )
        return dir_nonnull[dir_idx] | ((flags & _F_NO_NULLS) != 0)
    if op == "is_not_null":
        dir_hive = np.fromiter(
            (pv.get(col) == _HIVE_NULL for pv in pvals_list),
            dtype=bool, count=len(pvals_list),
        )
        return dir_hive[dir_idx] | ((flags & _F_ALL_NULL) != 0)

    # comparison ops: per-dir facts via the scalar reference
    dir_hive = np.fromiter(
        (pv.get(col) == _HIVE_NULL for pv in pvals_list),
        dtype=bool, count=len(pvals_list),
    )
    if transforms:
        dir_tf = np.fromiter(
            (_transform_excludes(cond, pv, transforms)
             for pv in pvals_list),
            dtype=bool, count=len(pvals_list),
        )
    else:
        dir_tf = np.zeros(len(pvals_list), dtype=bool)
    # files WITHOUT a stats entry fall back to the full scalar
    # no-stats evaluation per dir (partition-value bounds included)
    dir_noentry = np.fromiter(
        (_cond_excludes(cond, {}, pv, transforms) for pv in pvals_list),
        dtype=bool, count=len(pvals_list),
    )
    allnull = (flags & _F_ALL_NULL) != 0
    excl = np.where(has, dir_hive[dir_idx], dir_noentry[dir_idx])
    excl |= allnull | (has & dir_tf[dir_idx])
    # bounds checks need actual bounds: a null-count-only entry has
    # none — e.g. the empty-IN vacuous exclusion applies only to files
    # with a resolvable range, matching the scalar path.  A mixed-kind
    # literal/bounds compare raises TypeError — fall back to the exact
    # scalar loop for this conjunct (pathological: real columns have
    # kind-homogeneous bounds).
    try:
        excl |= _vec_bounds_excl(np, op, val, lo, hi, present)
    except TypeError:
        stats = manifest.get("stats", {})
        sget = stats.get
        return np.fromiter(
            (
                _cond_excludes(
                    cond, sget(f[0]) or {},
                    pvals_list[dir_idx[i]], transforms,
                )
                for i, f in enumerate(manifest["files"])
            ),
            dtype=bool, count=len(manifest["files"]),
        )
    return excl


def _prune_vectorized(
    manifest: dict, where: list[tuple], transforms: dict | None
) -> dict:
    import numpy as np

    files = manifest["files"]
    excl = np.zeros(len(files), dtype=bool)
    for cond in where:
        excl |= _vec_cond_excludes(manifest, cond, transforms, np)
    kept_idx = np.flatnonzero(~excl)
    kept = [files[i] for i in kept_idx]
    return {
        "files": kept,
        "skipped": len(files) - len(kept),
        "scanned": len(files),
    }


def prune_manifest(
    manifest: dict,
    where: list[tuple],
    transforms: dict | None = None,
) -> dict:
    """Driver-side data skipping over a resolved manifest: drop every
    file whose stats PROVE no row can match ``where``.

    ``where`` is a CONJUNCTION whose members are each either

    - ``(col, op, literal)`` with op in ``=,==,<,<=,>,>=,between,in,
      prefix`` — ``between`` takes an inclusive ``(lo, hi)`` literal
      pair, ``in`` a literal list (a file is excluded only when every
      member is provably absent), ``prefix`` a string prefix
      (``col.startswith(literal)`` — the path-predicate shape every
      tagminder query issues, prunable thanks to the truncation-safe
      string bounds); or
    - ``("or", [conjunct_list, ...])`` — an OR of conjunctions; the
      file is pruned only if EVERY disjunct excludes it (the quota /
      language-split disjunctions stay honest at 100 TB).

    Two bound sources per file, checked in order: footer min/max stats
    committed with the file (:func:`collect_file_stats`), then
    ``k=v`` partition-path segments (exact bounds for partition
    columns, Hive-unescaped).  A conjunct whose column has neither
    keeps the file — pruning is an optimization, never a filter;
    callers still apply the predicate to the rows
    (``snapshot_read(where=...)`` does).

    A third bound source when ``transforms`` is given (from
    :func:`list_transforms` — hidden partitioning): a predicate on a
    transform's SOURCE column prunes through the derived partition
    value (= / in for bucket; = / in / prefix for truncate).

    Returns ``{"files": kept_entries, "skipped": n, "scanned": n}``.
    Pure python over the manifest — zero IO, exactly what a 100 TB
    selective read needs before Spark plans 800k files.

    Above :data:`_VECTOR_PRUNE_THRESHOLD` files the conjuncts evaluate
    VECTORIZED (numpy over packed per-column bound arrays, dir-level
    facts computed once per directory by the scalar reference and
    broadcast by index — results bit-identical, equality test-pinned);
    packed arrays are cached per immutable manifest generation, so
    repeat selective reads skip the packing too."""
    _validate_where(where)
    if len(manifest["files"]) >= _VECTOR_PRUNE_THRESHOLD:
        return _prune_vectorized(manifest, where, transforms)
    stats = manifest.get("stats", {})
    kept: list = []
    skipped = 0
    # files share partition directories, so parse each DIRECTORY's
    # k=v values once instead of once per file — at 800k files over a
    # few thousand dirs this is most of the prune's wall time
    dir_pvals: dict[str, dict] = {}
    for entry in manifest["files"]:
        rel = entry[0]
        fstats = stats.get(rel, {})
        d = posixpath.dirname(rel)
        pvals = dir_pvals.get(d)
        if pvals is None:
            pvals = dir_pvals[d] = _partition_values(rel)
        if any(
            _cond_excludes(cond, fstats, pvals, transforms)
            for cond in where
        ):
            skipped += 1
        else:
            kept.append(entry)
    return {
        "files": kept,
        "skipped": skipped,
        "scanned": len(manifest["files"]),
    }


def _conjunct_to_column(cond):
    if _is_or(cond):
        out = None
        for disj in cond[1]:
            e = _where_to_column(disj)
            out = e if out is None else (out | e)
        return out
    col, op, val = cond
    c = F.col(col)
    if op in ("=", "=="):
        return c == F.lit(val)
    if op == "!=":
        return c != F.lit(val)  # SQL semantics: NULL rows drop out
    if op == "is_null":
        return c.isNull()
    if op == "is_not_null":
        return c.isNotNull()
    if op == "<":
        return c < F.lit(val)
    if op == "<=":
        return c <= F.lit(val)
    if op == ">":
        return c > F.lit(val)
    if op == ">=":
        return c >= F.lit(val)
    if op == "between":
        return (c >= F.lit(val[0])) & (c <= F.lit(val[1]))
    if op == "in":
        return c.isin(list(val)) if val else F.lit(False)
    if op == "prefix":
        return c.startswith(val)
    raise ValueError(f"unsupported where op {op!r}")


def _where_to_column(where: list):
    """The Spark residual filter equivalent to a ``where`` spec — the
    pruned read stays EXACTLY the predicate selection even when stats
    cover no file at all."""
    cond = F.lit(True)
    for c in where:
        cond = cond & _conjunct_to_column(c)
    return cond


def _manifest_dir(fs, base: str) -> str:
    return fs.join(base, MANIFEST_DIR)


def list_generations(spark: SparkSession | None, root: str) -> list[int]:
    """Sorted committed generation numbers (empty if unversioned)."""
    fs, base = table_fs(spark, root)
    mdir = _manifest_dir(fs, base)
    if not fs.exists(mdir):
        return []
    out = []
    for name in fs.listdir(mdir):
        if name.startswith("v") and name.endswith(".json"):
            try:
                out.append(int(name[1:-5]))
            except ValueError:
                continue
    return sorted(out)


def _read_raw(
    spark: SparkSession | None,
    root: str,
    gen: int,
) -> dict:
    fs, base = table_fs(spark, root)
    path = fs.join(_manifest_dir(fs, base), _gen_name(gen))
    return json.loads(fs.read_bytes(path))


#: folded-snapshot cache (BASELINE.md §13 / VERDICT r9 #5): at 800k
#: files the ~6 MB-per-100k base-parse term dominates every
#: read_manifest fold, yet a committed manifest chain is IMMUTABLE
#: (CAS create-if-absent — no file is ever rewritten), so the resolved
#: file list for (table, generation) can be cached driver-side.  The
#: key carries the generation file's mtime to catch a table deleted and
#: recreated at the same path.  Bounded LRU; entries are returned as
#: shallow copies (fresh outer containers, shared immutable rows).
_FOLD_CACHE: dict = {}
_FOLD_CACHE_MAX = 64
_FOLD_CACHE_STATS = {"hits": 0, "misses": 0}


def _fold_cache_clear() -> None:
    _FOLD_CACHE.clear()
    _FOLD_CACHE_STATS["hits"] = 0
    _FOLD_CACHE_STATS["misses"] = 0


def read_manifest(
    spark: SparkSession | None,
    root: str,
    gen: int | None = None,
    *,
    use_cache: bool = True,
) -> dict:
    """Load one manifest RESOLVED to its full file list:
    ``{"generation": N, "files": [[rel_path, bytes], ...]}`` — paths
    relative to the table root so the table stays relocatable.

    Two commit shapes exist on disk (Delta Lake's JSON-log design in
    miniature):

    - **full snapshots** (``"files"``): init, maintenance, checkpoint,
      rollback — the natural checkpoints;
    - **delta commits** (``"adds"``/``"removes"`` + ``"parent"``):
      appends — O(|batch|) to WRITE regardless of table size, which is
      what keeps a per-micro-batch commit viable at 100 TB (a full
      800k-file listing would be a ~50 MB JSON per batch).

    Resolution walks parents back to the nearest full snapshot (or the
    empty table at parent 0) and folds the deltas forward; the chain
    length is bounded by the maintenance cadence because every
    maintenance commit is full.

    Manifests may carry a ``"stats"`` sidecar (``{rel: {col: [lo,
    hi]}}`` — per-file column bounds from :func:`collect_file_stats`);
    it folds alongside the file list (removes drop entries, adds
    overwrite) and comes back as ``"stats"`` (``{}`` when absent), the
    input :func:`prune_manifest` skips files with.

    Merge-on-read state (round 10, :func:`merge_on_read`) folds the
    same way: ``"seqs"`` (``{rel: commit-sequence}`` for data files —
    missing means 0, i.e. predates every delete) and ``"deletes"``
    (``[[rel, seq, keycol], ...]`` equality-delete files; a delete
    applies to data files whose seq is STRICTLY LOWER).  Deltas add
    via ``"seqs"`` / ``"delete_adds"`` and retire via
    ``"delete_removes"``; both come back resolved (``{}``/``[]`` when
    the table has no MoR state).

    The table's read schema folds too: ``"schema"`` is the newest
    chain doc's recorded value (Spark JSON, or ``None`` — unknown, so
    readers infer it; see :func:`commit_manifest`).

    Resolution is CACHED (``_FOLD_CACHE``): a committed chain is
    immutable, so repeat reads of the same (table, generation) return
    the folded result without re-parsing — at 800k files that turns the
    ~1.2 s base-parse cost into a one-time charge per generation
    (``use_cache=False`` opts out; the cache key carries the manifest
    file's mtime, so a recreated table never serves stale entries).
    Callers must not mutate the returned containers."""
    if gen is None:
        gens = list_generations(spark, root)
        if not gens:
            raise FileNotFoundError(f"no manifest under {root!r}")
        gen = gens[-1]
    fs_, base_ = table_fs(spark, root)
    key = None
    if use_cache:
        try:
            mtime = fs_.file_mtime(
                fs_.join(_manifest_dir(fs_, base_), _gen_name(gen))
            )
            key = (str(base_), gen, mtime)
        except Exception:  # missing file (or py4j error on remote FS)
            key = None  # → the uncached read below raises as before
        if key is not None and key in _FOLD_CACHE:
            _FOLD_CACHE_STATS["hits"] += 1
            return _copy_man(_FOLD_CACHE[key])
        _FOLD_CACHE_STATS["misses"] += 1
    chain: list[dict] = []
    cur = gen
    while True:
        man = _read_raw(spark, root, cur)
        chain.append(man)
        if "files" in man:  # full snapshot — chain base
            files = {p: sz for p, sz in man["files"]}
            stats = dict(man.get("stats", {}))
            seqs = {r: int(s) for r, s in man.get("seqs", {}).items()}
            deletes = {d[0]: [int(d[1]), d[2]]
                       for d in man.get("deletes", [])}
            break
        parent = man.get("parent", 0)
        if parent == 0:  # delta on the empty table
            files = {}
            stats = {}
            seqs = {}
            deletes = {}
            break
        cur = parent
    for man in reversed(chain):
        if "files" in man:
            continue
        for rel in man.get("removes", []):
            files.pop(rel, None)
            stats.pop(rel, None)
            seqs.pop(rel, None)
        for rel, sz in man.get("adds", []):
            files[rel] = sz
        stats.update(man.get("stats", {}))
        seqs.update(
            {r: int(s) for r, s in man.get("seqs", {}).items()}
        )
        for rel in man.get("delete_removes", []):
            deletes.pop(rel, None)
        for rel, seq, keycol in man.get("delete_adds", []):
            deletes[rel] = [int(seq), keycol]
    out = {
        "generation": gen,
        "parent": chain[0].get("parent"),
        "schema": next(
            (man["schema"] for man in chain if "schema" in man), None
        ),
        "files": sorted([p, sz] for p, sz in files.items()),
        "stats": {rel: stats[rel] for rel in sorted(stats) if rel in files},
        "seqs": {rel: seqs[rel] for rel in sorted(seqs) if rel in files},
        "deletes": sorted(
            [rel, seq, keycol] for rel, (seq, keycol) in deletes.items()
        ),
    }
    if key is not None:
        out["cache_key"] = key  # lets prune_manifest cache packed stats
        if len(_FOLD_CACHE) >= _FOLD_CACHE_MAX:  # bounded: evict oldest
            _FOLD_CACHE.pop(next(iter(_FOLD_CACHE)))
        _FOLD_CACHE[key] = out
        return _copy_man(out)
    return out


def _copy_man(man: dict) -> dict:
    """Shallow copy with fresh outer containers (rows stay shared —
    callers must not mutate them)."""
    out = {
        "generation": man["generation"],
        "parent": man["parent"],
        "schema": man["schema"],
        "files": list(man["files"]),
        "stats": dict(man["stats"]),
        "seqs": dict(man.get("seqs", {})),
        "deletes": list(man.get("deletes", [])),
    }
    if "cache_key" in man:
        out["cache_key"] = man["cache_key"]
    return out


def _chain_gens(
    spark: SparkSession | None,
    root: str,
    gen: int,
) -> list[int]:
    """Generation numbers this gen's resolution depends on (itself
    included), newest first."""
    out = [gen]
    cur = gen
    while True:
        man = _read_raw(spark, root, cur)
        if "files" in man or man.get("parent", 0) == 0:
            return out
        cur = man["parent"]
        out.append(cur)


#: default ``schema`` of :func:`commit_manifest` / :func:`commit_delta`:
#: the commit records its parent's schema
_PARENT_SCHEMA = object()

#: the schema of every positional delete file (:func:`delete_where`)
_POS_DELETE_SCHEMA = T.StructType([
    T.StructField("file", T.StringType()),
    T.StructField("pos", T.LongType()),
])


def _nullable(dt):
    """A data type's JSON form with every level nullable — what a
    parquet read reports whatever nullability the writer had."""
    if not isinstance(dt, dict):
        return dt
    kind = dt.get("type")
    if kind == "struct":
        return {**dt, "fields": [
            {**f, "nullable": True, "type": _nullable(f["type"])}
            for f in dt["fields"]
        ]}
    if kind == "array":
        return {**dt, "containsNull": True,
                "elementType": _nullable(dt["elementType"])}
    if kind == "map":
        return {**dt, "valueContainsNull": True,
                "keyType": _nullable(dt["keyType"]),
                "valueType": _nullable(dt["valueType"])}
    return dt


def _schema_json(schema: T.StructType) -> str:
    """The form a manifest records a schema in (compact Spark JSON,
    nullable throughout)."""
    return json.dumps(_nullable(schema.jsonValue()), separators=(",", ":"))


def _written_schema(df: DataFrame, partition_col: str | None) -> str:
    """The schema a parquet read of ``df``'s written files reports:
    its columns with the ``partitionBy`` column moved last."""
    fields = [f for f in df.schema.fields if f.name != partition_col]
    fields += [f for f in df.schema.fields if f.name == partition_col]
    return _schema_json(T.StructType(fields))


def _writes_schema(
    df: DataFrame, partition_col: str | None, schema: str | None
) -> bool:
    """Whether ``df`` written with ``partitionBy(partition_col)`` adds
    files that read back with exactly the recorded ``schema`` — the
    condition for a commit to keep recording it."""
    return schema is not None and _written_schema(df, partition_col) == schema


@functools.lru_cache(maxsize=64)
def _struct(schema: str) -> T.StructType:
    return T.StructType.fromJson(json.loads(schema))


def _data_reader(spark: SparkSession, schema: str | None):
    """``spark.read`` for a table's data files: with the recorded schema
    Spark plans the scan without inferring it (a footer-reading job);
    with none, or under ``spark.sql.parquet.mergeSchema`` (which must
    union whatever the files hold), Spark infers it as before."""
    merge = spark.conf.get("spark.sql.parquet.mergeSchema", "false")
    if schema is None or merge.lower() == "true":
        return spark.read
    return spark.read.schema(_struct(schema))


def _key_reader(spark: SparkSession, keycol: str, schema: str | None):
    """``spark.read`` for equality-delete files, which hold only the
    table's key column: read with its recorded type, or inferred when
    the table records no schema.  (Positional delete files are read
    with the constant :data:`_POS_DELETE_SCHEMA`.)"""
    if schema is None:
        return spark.read
    return spark.read.schema(T.StructType([_struct(schema)[keycol]]))


def commit_manifest(
    spark: SparkSession | None,
    root: str,
    files: list[tuple[str, int]],
    *,
    parent: int | None = None,
    stats: dict[str, dict[str, list]] | None = None,
    seqs: dict[str, int] | None = None,
    deletes: list[tuple[str, int, str]] | None = None,
    changes: list[tuple[str, int]] | None = None,
    change_key: str | None = None,
    deleted_changes: list[tuple[str, int]] | None = None,
    op: str | None = None,
    schema=_PARENT_SCHEMA,
) -> int:
    """Commit ``files`` (relative-path, size) as the next generation.

    The commit is an atomic create-if-absent of
    ``_manifest/v{parent+1}.json``: if another writer committed that
    generation first, this raises ``FileExistsError`` (the caller
    re-reads and retries or aborts) — optimistic concurrency, exactly
    Iceberg's commit protocol in miniature.  ``parent=None`` means
    "whatever is current" (0 for a fresh table).

    ``stats`` (``{rel: {col: [lo, hi]}}``) attaches per-file column
    bounds for :func:`prune_manifest`; entries for files not in
    ``files`` are dropped.  ``seqs`` / ``deletes`` carry merge-on-read
    state (:func:`merge_on_read`) through full-snapshot commits —
    seq 0 entries are elided (the default).

    ``changes`` + ``change_key`` attach CDC provenance (Delta CDF's
    change files in miniature): ``changes`` lists (rel, size) files
    under ``_changes/`` holding the commit's logical row delta —
    :func:`table_changes` replays them as inserts plus
    ``change_key``-keyed deletes, which is what lets the feed survive a
    copy-on-write MERGE whose data files mix updates with carried
    survivors.  Change files are commit PROVENANCE, not table state:
    they never fold into the file list and are reclaimed with their
    generation's manifest.

    ``schema`` is the table's read schema as Spark JSON (Delta Lake's
    ``metaData.schemaString``): readers hand it to the parquet scan
    instead of inferring it, which costs a footer-reading Spark job per
    read.  ``None`` records "unknown" — readers infer, exactly as for a
    table that never recorded one.  By default the commit records its
    parent's schema (``None`` for the first generation).  The recording
    rule writers follow: :func:`init_manifest` infers the schema once,
    and a commit that adds files keeps the parent's schema only when
    the new files read back with exactly that schema
    (:func:`_writes_schema`) — otherwise it records ``None``, so a table
    whose schema evolves reads the way it did before schemas were
    recorded.  Readers also infer while
    ``spark.sql.parquet.mergeSchema`` is on.
    """
    fs, base = table_fs(spark, root)
    if parent is None:
        gens = list_generations(spark, root)
        parent = gens[-1] if gens else 0
    if schema is _PARENT_SCHEMA:
        schema = (
            read_manifest(spark, root, parent)["schema"] if parent else None
        )
    gen = parent + 1
    mdir = _manifest_dir(fs, base)
    fs.mkdirs(mdir)
    import time

    doc = {
        "generation": gen,
        "parent": parent,
        "ts": round(time.time(), 3),
        "schema": schema,
        "files": sorted([p, int(sz)] for p, sz in files),
    }
    if op:
        doc["op"] = op
    names = {p for p, _ in files}
    if stats:
        kept = {rel: stats[rel] for rel in sorted(stats) if rel in names}
        if kept:
            doc["stats"] = kept
    if seqs:
        kept_seqs = {
            rel: int(s) for rel in sorted(seqs)
            if rel in names and (s := seqs[rel])
        }
        if kept_seqs:
            doc["seqs"] = kept_seqs
    if deletes:
        doc["deletes"] = sorted(
            [rel, int(seq), keycol] for rel, seq, keycol in deletes
        )
    if changes is not None:
        # an explicit empty list records "CDC on, zero inserts" — the
        # feed must distinguish that from a legacy commit without CDC
        doc["changes"] = sorted([rel, int(sz)] for rel, sz in changes)
        if change_key is not None:
            doc["change_key"] = change_key
    if deleted_changes is not None:
        doc["deleted_changes"] = sorted(
            [rel, int(sz)] for rel, sz in deleted_changes
        )
    payload = json.dumps(doc, separators=(",", ":")).encode()
    fs.write_new(fs.join(mdir, _gen_name(gen)), payload)
    return gen


def commit_delta(
    spark: SparkSession | None,
    root: str,
    adds: list[tuple[str, int]],
    removes: list[str] | None = None,
    *,
    parent: int | None = None,
    stats: dict[str, dict[str, list]] | None = None,
    seqs: dict[str, int] | None = None,
    delete_adds: list[tuple[str, int, str]] | None = None,
    delete_removes: list[str] | None = None,
    changes: list[tuple[str, int]] | None = None,
    change_key: str | None = None,
    op: str | None = None,
    schema=_PARENT_SCHEMA,
) -> int:
    """Commit a DELTA generation: only the added (rel, size) entries
    and removed rel paths, plus the parent pointer — O(|change|) bytes
    regardless of table size.  Same atomic create-if-absent CAS as
    :func:`commit_manifest`.  ``stats`` carries bounds for THIS delta's
    adds only (keeping the commit O(|batch|)); readers fold them with
    the chain.  ``seqs``/``delete_adds``/``delete_removes`` carry this
    delta's merge-on-read changes (:func:`merge_on_read` /
    :func:`materialize_deletes`) — also O(|change|).
    ``changes``/``change_key`` attach CDC provenance exactly as in
    :func:`commit_manifest`, and ``schema`` follows its rule — by
    default the delta writes no schema and the fold carries the
    parent's."""
    fs, base = table_fs(spark, root)
    if parent is None:
        gens = list_generations(spark, root)
        parent = gens[-1] if gens else 0
    gen = parent + 1
    mdir = _manifest_dir(fs, base)
    fs.mkdirs(mdir)
    import time

    doc = {
        "generation": gen,
        "parent": parent,
        "ts": round(time.time(), 3),
        "adds": sorted([p, int(sz)] for p, sz in adds),
        "removes": sorted(removes or []),
    }
    if schema is not _PARENT_SCHEMA:
        doc["schema"] = schema
    if op:
        doc["op"] = op
    names = {p for p, _ in adds}
    if stats:
        kept = {rel: stats[rel] for rel in sorted(stats) if rel in names}
        if kept:
            doc["stats"] = kept
    if seqs:
        kept_seqs = {
            rel: int(s) for rel in sorted(seqs)
            if rel in names and (s := seqs[rel])
        }
        if kept_seqs:
            doc["seqs"] = kept_seqs
    if delete_adds:
        doc["delete_adds"] = sorted(
            [rel, int(seq), keycol] for rel, seq, keycol in delete_adds
        )
    if delete_removes:
        doc["delete_removes"] = sorted(delete_removes)
    if changes:
        doc["changes"] = sorted([rel, int(sz)] for rel, sz in changes)
        if change_key is not None:
            doc["change_key"] = change_key
    payload = json.dumps(doc, separators=(",", ":")).encode()
    fs.write_new(fs.join(mdir, _gen_name(gen)), payload)
    return gen


def checkpoint_manifest(
    spark: SparkSession | None,
    root: str,
) -> int | None:
    """Collapse the current delta chain into a full snapshot at the
    next generation (Delta Lake's checkpoint).  No-op (returns None)
    when the current generation is already full.  Bounds both read-time
    chain folding and how far back :func:`expire_snapshots` must retain
    manifest files."""
    gens = list_generations(spark, root)
    if not gens:
        return None
    raw = _read_raw(spark, root, gens[-1])
    if "files" in raw:
        return None
    man = read_manifest(spark, root, gens[-1])
    return commit_manifest(
        spark, root,
        [(p, sz) for p, sz in man["files"]],
        parent=gens[-1], stats=man["stats"],
        seqs=man["seqs"] or None, deletes=man["deletes"] or None,
        op="checkpoint", schema=man["schema"],
    )


def init_manifest(
    spark: SparkSession,
    root: str,
    *,
    stats_cols: tuple[str, ...] | None = None,
    string_bound_len: int = STRING_BOUND_LEN,
) -> int:
    """Bootstrap versioning on an existing directory table: commit
    generation 1 from a full listing.  Refuses if already versioned
    (the listing would see multiple versions' files).  ``stats_cols``
    runs one footer pass over the listing and commits per-file min/max
    bounds for those columns (:func:`collect_file_stats`) so the very
    first snapshot is already skippable.  The table's read schema is
    inferred here, once (without schema merging, as a plain read infers
    it), and recorded for every later read (:func:`commit_manifest`)."""
    if list_generations(spark, root):
        raise ValueError(f"{root!r} is already manifest-versioned")
    fs, base = table_fs(spark, root)
    rel = [
        (posixpath.relpath(p.replace("\\", "/"), base.replace("\\", "/")), sz)
        for p, sz in list_data_files(spark, root)
    ]
    stats = (
        collect_file_stats(base, [r for r, _ in rel], stats_cols,
                           fs=fs, spark=spark,
                           string_bound_len=string_bound_len)
        if stats_cols else None
    )
    schema = (
        _schema_json(
            spark.read.option("basePath", base)
            .option("mergeSchema", "false")
            .parquet(*[fs.join(base, r) for r, _ in rel])
            .schema
        )
        if rel else None
    )
    return commit_manifest(spark, root, rel, parent=0, stats=stats,
                           op="init", schema=schema)


def _partition_spec(rel: str) -> tuple:
    """The partition SPEC of one file: the ordered tuple of ``k=v``
    directory keys on its path.  Distinct specs under one table are
    partition-spec EVOLUTION (an append switched ``partitionBy``):
    Spark's directory-partition inference needs a consistent scheme per
    scan, so readers group files by spec — Iceberg's per-entry spec-id
    in miniature."""
    return tuple(sorted(_partition_values(rel)))


def _delete_mask_groups(
    entries: list, seqs: dict, deletes: list
) -> dict[tuple, list]:
    """Group data-file entries by (partition spec, rel-path depth,
    WHICH delete files apply) — a delete at seq D applies to files
    with seq < D.  Two files under the same spec and between the same
    pair of delete seqs behave identically, so the group count is
    bounded by ``specs × (len(deletes) + 1)`` — the spec-evolution and
    materialization cadences — never by the number of commits.  The
    depth (``/`` count) is fixed by the spec for partition-written
    files; keying on it keeps :func:`_with_positions` exact for any
    other layout."""
    groups: dict[tuple, list] = {}
    for rel, sz in entries:
        fseq = seqs.get(rel, 0)
        mask = tuple(d[1] > fseq for d in deletes)
        groups.setdefault(
            (_partition_spec(rel), rel.count("/"), mask), []
        ).append([rel, sz])
    return groups


#: the sentinel "key column" marking a POSITIONAL delete file (schema
#: ``file string, pos long`` — data-file REL PATH + row ordinal),
#: Iceberg's positional deletes next to the equality ones.  Not a
#: legal column name, so it can never collide with an equality key.
_POS_DELETE_KEY = "#pos"

#: helper column names for positional identity (attached from the
#: parquet ``_metadata`` struct, never persisted)
_POS_FILE_COL = "__pos_file"
_POS_IDX_COL = "__pos_idx"

def _with_positions(df: DataFrame, depth: int) -> DataFrame:
    """Attach each row's physical identity — data-file path RELATIVE
    to the table base and row ordinal.  The path is the last
    ``depth + 1`` segments of the parquet ``_metadata.file_path`` URI,
    where ``depth`` is the rel path's ``/`` count (constant within a
    scan group: one partition spec).  Positional identity must key on
    the REL PATH, not the basename: a dynamic-partition write reuses
    the same part file name across partition directories.  The URI
    spells the path in its ESCAPED form (space → %20, ...), so the
    stored identity is escaped too — consistent with the read-time
    anti-join on the same column — and :func:`materialize_deletes`
    resolves it back to a manifest rel through unquoting."""
    return df.withColumns({
        _POS_FILE_COL: F.substring_index(
            F.col("_metadata.file_path"), "/", -(depth + 1)
        ),
        _POS_IDX_COL: F.col("_metadata.row_index"),
    })


#: on-disk byte ceiling for BROADCASTING a delete-side input into the
#: MoR anti-join.  At or below it the hint pins a
#: BroadcastHashJoin-LeftAnti (no shuffle on the data side — the right
#: call for the common case, an update batch's key set); above it NO
#: hint is given and AQE picks a shuffle anti-join (positional joins
#: are (file, pos)-aligned, so a sort-merge exchange stays file-local).
#: :func:`delete_where` deliberately shards billions of (file, pos)
#: rows into natural part files (VERDICT r11 #2) — force-broadcasting
#: those would collect the whole delete set to the driver and hit
#: Spark's 8 GB broadcast hard cap long before the write path strains
#: (VERDICT r12 #1).
DELETE_BROADCAST_MAX_BYTES = 32 << 20

#: {absolute delete-file path: size bytes} — delete files are
#: immutable (uuid-named, written once), so sizes cache forever;
#: bounded FIFO so long sessions over many tables stay flat.
_DELETE_SIZE_CACHE: "OrderedDict[str, int]" = OrderedDict()
#: {absolute delete-file path: (lo, hi) | None} — min/max of the
#: positional ``file`` column from the delete file's parquet footer
#: (None = stats unavailable → conservatively applicable everywhere).
_DELETE_BOUNDS_CACHE: "OrderedDict[str, tuple | None]" = OrderedDict()
_DELETE_CACHE_MAX = 65536


def _delete_file_size(fs, path: str) -> int | None:
    """Size of one delete file, cached; ``None`` (= unknown → treat as
    too big to broadcast) if the stat fails."""
    sz = _DELETE_SIZE_CACHE.get(path)
    if sz is None:
        try:
            sz = fs.file_size(path)
        except Exception:
            return None
        if len(_DELETE_SIZE_CACHE) >= _DELETE_CACHE_MAX:
            _DELETE_SIZE_CACHE.pop(next(iter(_DELETE_SIZE_CACHE)))
        _DELETE_SIZE_CACHE[path] = sz
    return sz


def _maybe_broadcast(df: DataFrame, total_bytes) -> DataFrame:
    """Broadcast hint iff the delete-side input's on-disk bytes are
    known and under :data:`DELETE_BROADCAST_MAX_BYTES`."""
    if total_bytes is not None and total_bytes <= DELETE_BROADCAST_MAX_BYTES:
        return F.broadcast(df)
    return df


def _delete_file_col_bounds(path: str, col: str):
    """(lo, hi) bounds of ``col`` in one delete file, from its parquet
    footer (driver-side, one footer read, cached — delete files are
    immutable).  ``None`` when the footer is unreachable (remote base
    without a local path) or carries no stats — the caller then keeps
    the delete file for every group (conservative, the pre-pruning
    behavior).  An empty shard returns the empty-range marker
    ``("", "")`` (names nothing, prunable everywhere)."""
    ckey = (path, col)
    if ckey in _DELETE_BOUNDS_CACHE:
        return _DELETE_BOUNDS_CACHE[ckey]
    bounds = None
    try:
        import os.path

        import pyarrow.parquet as pq

        local = path[7:] if path.startswith("file://") else path
        if os.path.exists(local):
            md = pq.ParquetFile(local).metadata
            if md.num_rows == 0:
                # an empty shard (delete_where writes natural part
                # files) names NOTHING — prunable from every group
                bounds = ("", "")
                md = None
            idx = None if md is None else {
                md.schema.column(i).name: i
                for i in range(md.num_columns)
            }.get(col)
            if idx is not None:
                lo = hi = None
                for rg in range(md.num_row_groups):
                    st = md.row_group(rg).column(idx).statistics
                    if st is None or not st.has_min_max:
                        lo = hi = None
                        break
                    lo = st.min if lo is None else min(lo, st.min)
                    hi = st.max if hi is None else max(hi, st.max)
                if lo is not None:
                    bounds = (lo, hi)
    except Exception:
        bounds = None
    if len(_DELETE_BOUNDS_CACHE) >= _DELETE_CACHE_MAX:
        _DELETE_BOUNDS_CACHE.pop(next(iter(_DELETE_BOUNDS_CACHE)))
    _DELETE_BOUNDS_CACHE[ckey] = bounds
    return bounds


def _pos_delete_file_bounds(path: str):
    """Bounds of the positional ``file`` column — see
    :func:`_delete_file_col_bounds`."""
    return _delete_file_col_bounds(path, "file")


def _pos_rels_for_group(
    fs, base: str, group_rels: list[str], pos_rels: list[str]
) -> list[str]:
    """The subset of positional delete files that CAN name a data file
    in this scan group, decided from each delete file's footer min/max
    of its ``file`` column vs the group's sorted rel list (VERDICT r12
    #7) — an irrelevant delete file (one that only names other groups'
    files) is skipped entirely, saving its scan AND, when the group
    ends up with no applicable positional deletes, the per-row
    ``_metadata`` position columns too.

    Delete ``file`` values live in Spark's URI-ESCAPED namespace
    (``_metadata.file_path``: space → %20...) while manifest rels are
    raw listings; the two coincide exactly when a rel contains only
    URI-unreserved characters.  A rel that any encoder might escape
    (``quote(rel) != rel`` — Python escapes a superset of what Hadoop
    does, so this test is sound) disables pruning for its whole group:
    every delete file is kept, which is the pre-pruning behavior."""
    import bisect
    from urllib.parse import quote

    if not pos_rels:
        return []
    if any(quote(r, safe="/") != r for r in group_rels):
        return list(pos_rels)
    srels = sorted(group_rels)
    out = []
    for rel in pos_rels:
        b = _pos_delete_file_bounds(fs.join(base, rel))
        if b is None:
            out.append(rel)
            continue
        lo, hi = b
        i = bisect.bisect_left(srels, lo)
        if i < len(srels) and srels[i] <= hi:
            out.append(rel)
    return out


def _eq_rels_for_group(fs, base: str, group_rels: list[str],
                       keycol: str, krels: list[str],
                       stats: dict) -> list[str]:
    """EQUALITY-delete files that can hit this scan group, decided
    from each delete file's footer min/max of its key column vs the
    union of the group's committed per-file stats bounds for that
    column (the equality half of the per-group delete pruning).
    INTEGER bounds only: parquet string statistics may be
    writer-truncated on the max side, and pyarrow float statistics
    are NaN-hazardous (the round-12 null-skipping lesson) — either
    could wrongly prune a delete file that still applies; integer
    stats are exact.  Any group file missing integer stats for the
    key column disables the prune for the whole group (that file
    could hold any key); a delete file without readable integer
    bounds is kept."""
    glo = ghi = None
    for rel in group_rels:
        # stats rows are [lo, hi] or [lo, hi, null_count, value_count]
        # (collect_file_stats; lo/hi None for an all-null column)
        b = (stats.get(rel) or {}).get(keycol)
        if (not b or len(b) < 2
                or not all(isinstance(v, int)
                           and not isinstance(v, bool)
                           for v in b[:2])):
            return list(krels)
        glo = b[0] if glo is None else min(glo, b[0])
        ghi = b[1] if ghi is None else max(ghi, b[1])
    if glo is None:
        return list(krels)
    out = []
    for rel in krels:
        db = _delete_file_col_bounds(fs.join(base, rel), keycol)
        if db == ("", ""):
            continue  # empty shard names nothing
        if db is None:
            out.append(rel)
            continue
        dlo, dhi = db
        if (not isinstance(dlo, int) or isinstance(dlo, bool)
                or not isinstance(dhi, int)):
            out.append(rel)  # non-integer key bounds: no prune
            continue
        if dhi < glo or dlo > ghi:
            continue
        out.append(rel)
    return out


def _read_entries_with_deletes(
    spark: SparkSession,
    fs,
    base: str,
    entries: list,
    man: dict,
    *,
    with_positions: bool = False,
) -> DataFrame:
    """Plan ``entries`` as an explicit file list with the manifest's
    delete files APPLIED (Iceberg merge-on-read, read side) and
    partition-spec EVOLUTION resolved: files are grouped by
    (partition spec, applicable-delete mask); each group is one
    parquet scan — so Spark's directory-partition inference always
    sees a consistent scheme — with EQUALITY deletes anti-joined on
    their key column and POSITIONAL deletes (``#pos`` entries: data-
    file rel path + row ordinal, from :func:`delete_where`)
    anti-joined on the row's physical identity via the parquet
    ``_metadata`` struct.  The anti-join strategy is SIZE-GATED
    (VERDICT r12 #1): a delete-side input at or under
    :data:`DELETE_BROADCAST_MAX_BYTES` on disk gets the broadcast hint
    (BroadcastHashJoin-LeftAnti, no shuffle on the data side — the
    common update-batch case), while a larger one — e.g. a
    quality-filter :func:`delete_where` that sharded billions of
    (file, pos) rows — gets NO hint, so AQE picks a shuffle anti-join
    instead of collecting gigabytes to the driver.  Positional delete
    files additionally prune PER GROUP on their footer min/max of the
    ``file`` column (:func:`_pos_rels_for_group`): a delete file that
    cannot name any of a group's data files is skipped.  Groups
    union by name; a partition column one spec lacks reads as NULL
    there, exactly Iceberg's null-for-absent-spec-field semantics.

    ``with_positions=True`` keeps the physical-identity helper columns
    (:data:`_POS_FILE_COL`, :data:`_POS_IDX_COL`) in the output — what
    :func:`delete_where` uses to turn a predicate into positions.

    Every scan is handed its schema when the manifest records one
    (data files: :func:`_data_reader`; equality-delete files:
    :func:`_key_reader`) and positional delete files always are
    (:data:`_POS_DELETE_SCHEMA`), so planning launches no Spark job."""
    if not entries:
        raise ValueError("no data files to plan")
    deletes = man.get("deletes") or []
    schema = man.get("schema")
    groups = _delete_mask_groups(entries, man.get("seqs") or {}, deletes)

    def _plain(ents: list) -> DataFrame:
        df = _data_reader(spark, schema).option("basePath", base).parquet(
            *[fs.join(base, rel) for rel, _ in ents]
        )
        return (_with_positions(df, ents[0][0].count("/"))
                if with_positions else df)

    if len(groups) == 1 and not deletes:
        return _plain(entries)
    parts: list[DataFrame] = []
    for spec, depth, mask in sorted(groups):
        applicable = [d for d, hit in zip(deletes, mask) if hit]
        group_ents = groups[(spec, depth, mask)]
        pos_rels = _pos_rels_for_group(
            fs, base, [r for r, _ in group_ents],
            [rel for rel, _seq, k in applicable
             if k == _POS_DELETE_KEY],
        )
        need_pos = with_positions or bool(pos_rels)
        df_g = _plain(group_ents)
        if need_pos and not with_positions:
            df_g = _with_positions(df_g, depth)
        if pos_rels:
            sizes = [
                _delete_file_size(fs, fs.join(base, r))
                for r in pos_rels
            ]
            total = (None if any(s is None for s in sizes)
                     else sum(sizes))
            pdf = spark.read.schema(_POS_DELETE_SCHEMA).parquet(
                *[fs.join(base, r) for r in pos_rels]
            )
            df_g = df_g.join(
                _maybe_broadcast(pdf, total),
                (df_g[_POS_FILE_COL] == pdf["file"])
                & (df_g[_POS_IDX_COL] == pdf["pos"]),
                "left_anti",
            )
        if need_pos and not with_positions:
            df_g = df_g.drop(_POS_FILE_COL, _POS_IDX_COL)
        by_key: dict[str, list[str]] = {}
        for rel, _seq, keycol in applicable:
            if keycol != _POS_DELETE_KEY:
                by_key.setdefault(keycol, []).append(rel)
        for keycol in sorted(by_key):
            krels = _eq_rels_for_group(
                fs, base, [r for r, _ in group_ents], keycol,
                by_key[keycol], man.get("stats") or {},
            )
            if not krels:
                continue
            sizes = [
                _delete_file_size(fs, fs.join(base, r)) for r in krels
            ]
            total = (None if any(s is None for s in sizes)
                     else sum(sizes))
            kdf = _key_reader(spark, keycol, schema).parquet(
                *[fs.join(base, r) for r in krels]
            ).select(keycol)
            df_g = df_g.join(
                _maybe_broadcast(kdf, total), keycol, "left_anti"
            )
        parts.append(df_g)
    out = parts[0]
    multi_spec = len({spec for spec, _d, _m in groups}) > 1
    for p in parts[1:]:
        out = out.unionByName(p, allowMissingColumns=multi_spec)
    return out


def snapshot_read(
    spark: SparkSession,
    root: str,
    gen: int | None = None,
    *,
    where: list[tuple] | None = None,
) -> DataFrame:
    """Read the table PINNED to one manifest generation: Spark gets the
    explicit file list (never a directory listing), so concurrent
    appends and maintenance are invisible and cannot break the scan.
    ``basePath`` keeps directory-partition columns (``lang=…``).

    ``where`` (a conjunction of ``(col, op, literal)`` —
    see :func:`prune_manifest`) enables MANIFEST-LEVEL DATA SKIPPING:
    files whose committed min/max bounds (or partition-path values)
    prove no row can match are dropped from the list BEFORE Spark
    plans, and the equivalent residual filter is applied to the rows —
    so the result is exactly the predicate selection whether or not any
    stats exist.  At 100 TB this is the difference between planning
    800k files and planning the handful a selective predicate touches
    (footer pruning alone still costs a task + footer read per file).
    Use :func:`snapshot_scan_plan` to observe what was skipped.

    Tables with pending merge-on-read state (:func:`merge_on_read`)
    come back with their equality-delete files applied — broadcast
    anti-joins per mask group (:func:`_read_entries_with_deletes`), so
    a reader never sees a superseded row version.  Tables whose
    appends EVOLVED the partition spec (a later batch used a different
    ``partitionBy``) read correctly too: files group per spec and a
    partition column one spec lacks comes back NULL for its rows."""
    man = read_manifest(spark, root, gen)
    fs, base = table_fs(spark, root)
    entries = man["files"]
    if where:
        pruned = prune_manifest(man, where, list_transforms(spark, root))
        kept = _bloom_prune(spark, root, pruned["files"], where)
        if kept:
            entries = kept
        elif entries:
            # all-pruned: Spark still needs >=1 file for the schema, but
            # ONE arbitrary file suffices — the residual filter already
            # guarantees the exact empty result.  (A zero-match lookup is
            # the MOST selective predicate; falling back to the full
            # 800k-file list would defeat the module.)
            entries = entries[:1]
    if not entries:
        raise ValueError(f"manifest gen {man['generation']} lists no files")
    df = _read_entries_with_deletes(spark, fs, base, entries, man)
    if where:
        df = df.filter(_where_to_column(where))
    return df


def snapshot_scan_plan(
    spark: SparkSession | None,
    root: str,
    gen: int | None = None,
    *,
    where: list[tuple] | None = None,
) -> dict:
    """What :func:`snapshot_read` would scan: ``{"scanned": total
    manifest files, "skipped": files pruned by stats/partition bounds,
    "files": kept entries}`` — the observability hook the data-skipping
    gate asserts on (strictly fewer files for a selective predicate).
    Driver-side manifest read only; no data IO."""
    man = read_manifest(spark, root, gen)
    if not where:
        return {
            "files": man["files"], "skipped": 0,
            "scanned": len(man["files"]),
            "delete_files": len(man["deletes"]),
        }
    plan = prune_manifest(man, where, list_transforms(spark, root))
    if spark is not None:
        kept = _bloom_prune(spark, root, plan["files"], where)
        plan["bloom_skipped"] = len(plan["files"]) - len(kept)
        plan["skipped"] += plan["bloom_skipped"]
        plan["files"] = kept
    plan["delete_files"] = len(man["deletes"])
    return plan


def plan_compaction_manifest(
    manifest: dict,
    *,
    target_bytes: int = DEFAULT_TARGET_BYTES,
    min_files: int = 8,
    small_ratio: float = 0.5,
) -> dict:
    """The selective-compaction planner over a MANIFEST instead of a
    directory listing (a versioned table's directory holds retired
    files too, so listing-based stats would be wrong).  Same thresholds
    as :func:`~tagminder_spark.operators.compaction.plan_compaction`;
    pure python, zero IO."""
    stats: dict[str, list[int]] = {}
    for rel, size in manifest["files"]:
        d = posixpath.dirname(rel)
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


#: where each side-file kind lands (hidden from directory listers
#: by the underscore); data files land under their partition dirs
_SIDE_DIRS = {"pos": "_deletes", "eq": "_deletes", "cdc": "_changes"}


def _stage_and_move(
    spark: SparkSession,
    fs,
    base: str,
    df: DataFrame,
    kind: str,
    *,
    partition_col: str | None = None,
    rows=None,
) -> list[tuple[str, int]]:
    """Write ``df`` to a hidden stage dir ``.__<kind>_stage_<uuid>__``
    under the table, then move its files into the table: data files
    keep Spark's UUID-unique names under their partition dir, while a
    side-file ``kind`` (:data:`_SIDE_DIRS`: ``pos``/``eq`` deletes,
    ``cdc`` change files) is renamed ``<dir>/<kind>_<uuid12>.parquet``.
    The stage dir is deleted whatever happens.  Returns the moved
    files' (rel, bytes) — unreferenced until a commit names them, so a
    crash anywhere in here leaves only debris
    :func:`expire_snapshots` reclaims.

    File-level renames: atomic on HDFS/local; on an object store each
    is a copy — still safe (the manifest commit is the atomic step),
    just not free.  ``rows`` (an ``Observation``) counts the written
    rows into ``rows.get["rows"]`` on the write job itself; a write of
    zero rows then moves nothing."""
    import uuid

    stage = fs.join(base, f".__{kind}_stage_{uuid.uuid4().hex[:8]}__")
    if rows is not None:
        df = df.observe(rows, F.count(F.lit(1)).alias("rows"))
    writer = df.write.mode("overwrite")
    if partition_col:
        writer = writer.partitionBy(partition_col)
    moved: list[tuple[str, int]] = []
    try:
        writer.parquet(stage)
        if rows is not None and not rows.get["rows"]:
            return moved
        side = _SIDE_DIRS.get(kind)
        for p, sz in list_data_files(spark, stage):
            if side:
                rel = f"{side}/{kind}_{uuid.uuid4().hex[:12]}.parquet"
            else:
                rel = posixpath.relpath(
                    p.replace("\\", "/"), stage.replace("\\", "/")
                )
            dst = fs.join(base, rel)
            parent = posixpath.dirname(dst)
            if not fs.exists(parent):
                fs.mkdirs(parent)
            fs.rename(p, dst)
            moved.append((rel, sz))
    finally:
        fs.delete(stage, ignore_errors=True)
    return moved


def _commit_append(
    spark: SparkSession,
    root: str,
    adds: list[tuple[str, int]],
    *,
    stats: dict | None,
    schema: str | None,
    max_retries: int,
) -> tuple[int, int]:
    """Commit ``adds`` as an append delta, retried on a lost CAS: an
    append only ADDS files, so a lost race simply recommits at the next
    generation — nothing is recomputed.  Each attempt re-reads the
    parent, because a concurrent commit can change what the delta
    needs: with pending deletes the batch takes its own sequence (a
    default 0 would subject the fresh rows to every pending delete),
    and the parent's recorded schema is kept only when it equals the
    batch's written ``schema``.  Returns (generation, retries)."""
    for attempt in range(max_retries + 1):
        gens = list_generations(spark, root)
        parent = gens[-1] if gens else 0
        seqs = None
        same_schema = False
        if parent:
            man_cur = read_manifest(spark, root, parent)
            if man_cur["deletes"]:
                seqs = {rel: parent + 1 for rel, _ in adds}
            same_schema = (man_cur["schema"] is not None
                           and schema == man_cur["schema"])
        try:
            gen = commit_delta(
                spark, root, adds, parent=parent, stats=stats,
                seqs=seqs, op="append",
                schema=_PARENT_SCHEMA if same_schema else None,
            )
            return gen, attempt
        except FileExistsError:
            if attempt == max_retries:
                raise


def append_files(
    spark: SparkSession,
    df: DataFrame,
    root: str,
    *,
    partition_col: str | None = "lang",
    max_retries: int = 5,
    stats_cols: tuple[str, ...] | None = None,
    string_bound_len: int = STRING_BOUND_LEN,
) -> dict:
    """Append ``df`` to a versioned table as one manifest commit:
    write to a hidden stage dir, move the (UUID-named) files into the
    live partition dirs, commit ``previous ∪ new``.

    ``stats_cols`` adds a footer pass over THIS batch's files and
    commits per-file min/max bounds with the delta — O(|batch|) like
    the commit itself — enabling :func:`snapshot_read`'s ``where``
    pruning on those columns.

    O(|batch|) — the commit never lists the table, so ingest cost
    tracks batch size, not table size (the property a per-micro-batch
    streaming commit needs at 100 TB).  A crash before the commit
    leaves only unreferenced files (invisible to every snapshot
    reader); ``expire_snapshots(remove_unreferenced=True)`` reclaims
    them.  Note the stage-move window: files land in the live
    partition dirs BEFORE the commit publishes them, so an expiry's
    orphan reclaim must be age-guarded (``min_unreferenced_age``,
    the default) or it could delete a concurrent append's in-flight
    files.

    The commit is a DELTA (:func:`commit_delta`): only this batch's
    file entries are written, so commit cost is O(|batch|) in BYTES as
    well as in listing work — a full-file-list commit would be a
    ~50 MB JSON per micro-batch on an 800k-file table.  Maintenance
    and checkpoint commits are full snapshots, which bounds the chain
    readers fold.

    Concurrent appenders are safe: an append only ADDS files, so when
    the CAS loses (another writer committed the next generation first)
    the delta simply retries at the next generation number — nothing
    is recomputed.  This is Iceberg's fast-append retry in miniature;
    after ``max_retries`` consecutive losses the conflict is
    re-raised.  Maintenance (``compact_partitions_versioned``) does
    NOT retry — it REPLACES files, so a lost CAS there means the table
    changed under it: it raises ``FileExistsError`` and the caller must
    re-plan against the fresh snapshot.

    The delta keeps the table's recorded schema only when the batch
    writes exactly that schema; otherwise (a new table, an evolved
    batch) it records none (:func:`commit_manifest`)."""
    fs, base = table_fs(spark, root)
    new = _stage_and_move(spark, fs, base, df, "ingest",
                          partition_col=partition_col)
    stats = (
        collect_file_stats(base, [rel for rel, _ in new], stats_cols,
                           fs=fs, spark=spark,
                           string_bound_len=string_bound_len)
        if stats_cols else None
    )
    gen, retries = _commit_append(
        spark, root, new, stats=stats,
        schema=_written_schema(df, partition_col), max_retries=max_retries,
    )
    return {"generation": gen, "files_added": len(new),
            "bytes_added": sum(sz for _, sz in new),
            "commit_retries": retries}


def register_transform(
    spark: SparkSession | None,
    root: str,
    kind: str,
    col: str,
    arg: int,
) -> str:
    """Declare a HIDDEN-PARTITIONING transform on the table: the
    derived column named by :func:`partition_transform_column` is a
    function of ``col``, so :func:`snapshot_read` prunes predicates on
    ``col`` THROUGH the transform — Iceberg's headline feature (the
    user never filters on the bucket number; the engine maps
    ``doc_id = k`` to the one bucket directory that can hold it).
    Immutable once registered (CAS file beside the manifests); returns
    the derived column name to ``partitionBy`` when writing."""
    _expr, pcol = partition_transform_column(kind, col, arg)
    fs, base = table_fs(spark, root)
    mdir = _manifest_dir(fs, base)
    fs.mkdirs(mdir)
    doc = {"pcol": pcol, "kind": kind, "col": col, "arg": int(arg)}
    fs.write_new(
        fs.join(mdir, f"transform_{pcol}.json"),
        json.dumps(doc, separators=(",", ":")).encode(),
    )
    return pcol


def list_transforms(
    spark: SparkSession | None,
    root: str,
) -> dict[str, tuple]:
    """``{derived column: (kind, source column, arg)}`` for every
    registered hidden-partitioning transform."""
    fs, base = table_fs(spark, root)
    mdir = _manifest_dir(fs, base)
    out: dict[str, tuple] = {}
    if not fs.exists(mdir):
        return out
    for name in fs.listdir(mdir):
        if name.startswith("transform_") and name.endswith(".json"):
            doc = json.loads(fs.read_bytes(fs.join(mdir, name)))
            out[doc["pcol"]] = (doc["kind"], doc["col"], int(doc["arg"]))
    return out


def stage_append(
    spark: SparkSession,
    df: DataFrame,
    root: str,
    *,
    partition_col: str | None = None,
    stats_cols: tuple[str, ...] | None = None,
    string_bound_len: int = STRING_BOUND_LEN,
) -> str:
    """WRITE-AUDIT-PUBLISH, write step (Iceberg's WAP pattern): land
    ``df``'s files in the table directories and record them in a
    STAGED doc (``_manifest/staged_<id>.json``) that is NOT a
    generation — every reader still sees the table without the batch.
    An auditor then checks the batch (:func:`read_staged` — quality
    gates, row counts, contract checks) and either
    :func:`publish_staged` (one O(|batch|) delta commit makes it
    visible atomically) or :func:`abandon_staged` (files deleted,
    nothing ever happened).  Staged files are protected from
    :func:`expire_snapshots`' orphan reclaim for the duration —
    the staged doc IS the reference.  Returns the staged id."""
    import uuid

    fs, base = table_fs(spark, root)
    # contract check up front, not at publish: a staged batch whose
    # columns don't cover the table's would only fail AFTER the audit
    try:
        existing = snapshot_read(spark, root)
        missing = [c for c in existing.columns if c not in df.columns]
        if missing:
            raise ValueError(
                f"staged batch lacks table columns: {missing}"
            )
    except FileNotFoundError:
        pass  # fresh table — the batch defines the schema
    except ValueError as e:
        # initialized-but-empty table: snapshot_read raises "lists no
        # files" — there is no column contract to check yet, staging
        # must still work (the batch may be the table's first data)
        if "lists no files" not in str(e):
            raise
    new = _stage_and_move(spark, fs, base, df, "wap",
                          partition_col=partition_col)
    stats = (
        collect_file_stats(base, [rel for rel, _ in new], stats_cols,
                           fs=fs, spark=spark,
                           string_bound_len=string_bound_len)
        if stats_cols else None
    )
    sid = uuid.uuid4().hex[:12]
    doc: dict = {"staged": sid,
                 "adds": sorted([p, int(sz)] for p, sz in new),
                 "schema": _written_schema(df, partition_col)}
    if stats:
        doc["stats"] = stats
    fs.write_new(
        fs.join(_manifest_dir(fs, base), f"staged_{sid}.json"),
        json.dumps(doc, separators=(",", ":")).encode(),
    )
    return sid


def _staged_doc(fs, base: str, staged_id: str) -> tuple[str, dict]:
    path = fs.join(_manifest_dir(fs, base), f"staged_{staged_id}.json")
    if not fs.exists(path):
        raise ValueError(f"no staged batch {staged_id!r}")
    return path, json.loads(fs.read_bytes(path))


def list_staged(
    spark: SparkSession | None,
    root: str,
) -> list[str]:
    """Ids of every batch currently staged on the table."""
    fs, base = table_fs(spark, root)
    mdir = _manifest_dir(fs, base)
    if not fs.exists(mdir):
        return []
    return sorted(
        n[len("staged_"):-len(".json")]
        for n in fs.listdir(mdir)
        if n.startswith("staged_") and n.endswith(".json")
    )


def read_staged(
    spark: SparkSession,
    root: str,
    staged_id: str,
) -> DataFrame:
    """The staged batch, for the AUDIT step — exactly the rows that
    would become visible on publish."""
    fs, base = table_fs(spark, root)
    _path, doc = _staged_doc(fs, base, staged_id)
    return spark.read.option("basePath", base).parquet(
        *[fs.join(base, rel) for rel, _ in doc["adds"]]
    )


def publish_staged(
    spark: SparkSession,
    root: str,
    staged_id: str,
    *,
    max_retries: int = 5,
) -> dict:
    """PUBLISH step: one delta commit makes the staged batch visible
    atomically (append semantics — retried through lost CAS like
    :func:`append_files`, sequence-stamped when deletes are pending);
    the staged doc is then removed.  The table's recorded schema is
    kept only when the batch wrote exactly it, as in :func:`append_files`."""
    fs, base = table_fs(spark, root)
    path, doc = _staged_doc(fs, base, staged_id)
    adds = [(rel, sz) for rel, sz in doc["adds"]]
    gen, _retries = _commit_append(
        spark, root, adds, stats=doc.get("stats"),
        schema=doc.get("schema"), max_retries=max_retries,
    )
    fs.delete(path)
    return {"generation": gen, "files_added": len(adds),
            "staged_id": staged_id}


def abandon_staged(
    spark: SparkSession,
    root: str,
    staged_id: str,
) -> dict:
    """Abandon the staged batch: its data files are deleted and the
    staged doc removed — the table never saw it."""
    fs, base = table_fs(spark, root)
    path, doc = _staged_doc(fs, base, staged_id)
    removed = []
    for rel, _ in doc["adds"]:
        p = fs.join(base, rel)
        if fs.exists(p):
            fs.delete(p)
        removed.append(rel)
    fs.delete(path)
    return {"staged_id": staged_id, "removed_files": removed}


def create_tag(
    spark: SparkSession | None,
    root: str,
    name: str,
    gen: int | None = None,
) -> int:
    """Pin a generation under an immutable NAME — Iceberg's snapshot
    tags: ``create_tag(root, "training-run-07")`` freezes the exact
    table a job consumed, :func:`expire_snapshots` retains tagged
    generations (and their files) regardless of ``keep_last``, and
    :func:`resolve_tag` turns the name back into a generation for
    :func:`snapshot_read`.  The tag file is a create-if-absent CAS like
    every commit — re-tagging an existing name raises."""
    if not name or "/" in name or "\\" in name:
        raise ValueError(f"invalid tag name {name!r}")
    fs, base = table_fs(spark, root)
    if gen is None:
        gens = list_generations(spark, root)
        if not gens:
            raise FileNotFoundError(f"no manifest under {root!r}")
        gen = gens[-1]
    else:
        _read_raw(spark, root, gen)  # exists?
    doc = {"tag": name, "generation": int(gen)}
    fs.write_new(
        fs.join(_manifest_dir(fs, base), f"tag_{name}.json"),
        json.dumps(doc, separators=(",", ":")).encode(),
    )
    return gen


def list_tags(
    spark: SparkSession | None,
    root: str,
) -> dict[str, int]:
    """``{tag name: generation}`` for every tag on the table."""
    fs, base = table_fs(spark, root)
    mdir = _manifest_dir(fs, base)
    out: dict[str, int] = {}
    if not fs.exists(mdir):
        return out
    for fname in fs.listdir(mdir):
        if fname.startswith("tag_") and fname.endswith(".json"):
            doc = json.loads(fs.read_bytes(fs.join(mdir, fname)))
            out[doc["tag"]] = int(doc["generation"])
    return out


def resolve_tag(
    spark: SparkSession | None,
    root: str,
    name: str,
) -> int:
    tags = list_tags(spark, root)
    if name not in tags:
        raise ValueError(f"no tag {name!r} on {root!r}")
    return tags[name]


#: commit ops that change no logical rows — table_changes skips them
_ROW_PRESERVING_OPS = {"init", "checkpoint", "compact", "materialize"}


#: basename→generation maps at or below this ride the plan as a
#: literal ``create_map`` (zero join, best for commit-sized windows);
#: above it — a window spanning ~100k added files would inline ~100k
#: basenames into the plan — the map becomes a broadcast join instead
#: (VERDICT r11 #4: plan size stays bounded at any window width)
_CDC_GEN_MAP_MAX = 1024


def _attach_commit_gen(
    spark: SparkSession, df: DataFrame, b2g: dict
) -> DataFrame:
    """``df`` + an ``int _commit_gen`` column attributing each row's
    source file (by basename) to the generation that committed it."""
    fname = F.element_at(F.split(F.input_file_name(), "/"), -1)
    if len(b2g) <= _CDC_GEN_MAP_MAX:
        entries = []
        for b, g in sorted(b2g.items()):
            entries.append(F.lit(b))
            entries.append(F.lit(g))
        return df.withColumn(
            "_commit_gen",
            F.element_at(F.create_map(*entries), fname).cast("int"),
        )
    b2g_df = spark.createDataFrame(
        sorted(b2g.items()), "_cdc_basename string, _commit_gen int"
    )
    return (
        df.withColumn("_cdc_basename", fname)
        .join(F.broadcast(b2g_df), "_cdc_basename", "left")
        .drop("_cdc_basename")
    )


def table_changes(
    spark: SparkSession,
    root: str,
    from_gen: int,
) -> DataFrame:
    """Row-level CHANGE FEED since a generation — Delta's
    ``table_changes`` / Iceberg's incremental read, from the manifest's
    per-commit provenance: each commit after ``from_gen`` (exclusive)
    up to the current generation (inclusive) contributes

    - ``append``: its added files' rows as ``_change_type="insert"``;
    - ``merge-mor``: its added rows as inserts PLUS its equality-delete
      keys as ``_change_type="delete"`` rows (key column set, every
      other column NULL — the delete file stores keys, not preimages);
    - ``merge-cow``: its CDC change files
      (``_changes/cdc_*``, committed with the merge) replay
      the same insert + delete-key pairs — the feed survives a
      copy-on-write merge even though its data files mix update rows
      with carried survivors (VERDICT r10 #1; Delta CDF's change
      files);
    - ``delete-pos`` (:func:`delete_where`): its change files carry
      the FULL PREIMAGE of every deleted row — replayed as
      ``_change_type="delete"`` rows with all columns set;
    - ``rollback`` (:func:`rollback` with ``record_changes``): its
      file-granular delta change files — rows of dropped files as
      full-preimage deletes, rows of restored files as inserts;
    - ``init`` / ``checkpoint`` / ``compact`` / ``materialize``: no
      logical rows changed — skipped entirely (their file rewrites are
      layout, not data);
    - a legacy commit without an ``op`` tag, a pre-CDC ``merge-cow``,
      or a rollback whose delta could not be recorded (shared files
      under different delete state): the commit does not record which
      rows changed — raises ValueError, exactly Delta's posture when
      CDC is not enabled for a write.

    Changes are PER COMMIT, not netted: a key inserted at gen N and
    superseded at gen N+1 appears as insert, then delete+insert —
    which is what an incremental downstream consumer replays.  Each
    row carries ``_commit_gen`` so consumers can order/batch by
    commit.  At 100 TB this is the point: a consumer reads O(changed
    rows) per sync instead of re-scanning the table.

    Plan shape (VERDICT r10 nit #2): the feed is built from a BOUNDED
    number of scans, not one per commit — all insert files across the
    window are read in one scan per partition spec, and all delete-key
    files in one scan per (key column, source kind), with each row's
    ``_commit_gen`` attached via a basename→generation literal map
    (job UUIDs make basenames unique ACROSS commits; within one
    commit a dynamic-partition write can repeat a basename across
    partition dirs, but those map to the same generation) — a
    200-commit sync plans ~3 scans instead of a 200-branch union."""
    fs, base = table_fs(spark, root)
    gens = list_generations(spark, root)
    if not gens:
        raise FileNotFoundError(f"no manifest under {root!r}")
    to_gen = gens[-1]
    if to_gen < from_gen:
        raise ValueError(
            f"from_gen {from_gen} is past the current generation {to_gen}"
        )
    # schema anchor: the table as of from_gen (columns for NULL fill)
    anchor = snapshot_read(spark, root, from_gen)
    cols = anchor.columns

    ins_specs: list[tuple[str, int]] = []  # (rel, gen)
    del_specs: dict[tuple[str, bool], list[tuple[str, int]]] = {}
    preimg_specs: list[tuple[str, int]] = []  # full-preimage deletes
    for g in range(from_gen + 1, to_gen + 1):
        raw = _read_raw(spark, root, g)
        op = raw.get("op")
        if op in _ROW_PRESERVING_OPS:
            continue
        if op == "merge-cow" and "changes" in raw:
            # key PRESENCE marks a CDC commit — an empty list is a
            # zero-row merge, still a valid (empty) feed contribution
            key = raw.get("change_key")
            for rel, _sz in raw["changes"]:
                ins_specs.append((rel, g))
                # change-file keys need a per-commit DISTINCT (the
                # equality-delete shape MoR commits store pre-distinct)
                del_specs.setdefault((key, True), []).append((rel, g))
            continue
        if op == "delete-pos" and "changes" in raw:
            # positional deletes feed their full row PREIMAGES (the
            # predicate scan had the rows, so the change files carry
            # more than the equality feed's key+NULLs shape)
            preimg_specs.extend((rel, g) for rel, _sz in raw["changes"])
            continue
        if op == "rollback" and (
            "changes" in raw or "deleted_changes" in raw
        ):
            # file-granular rollback delta: rows of files dropped by
            # the rollback as full-preimage deletes, rows of files
            # restored by it as inserts (an empty recorded list is a
            # no-op rollback — still a valid CDC commit)
            ins_specs.extend((rel, g) for rel, _sz in raw.get("changes", []))
            preimg_specs.extend(
                (rel, g) for rel, _sz in raw.get("deleted_changes", [])
            )
            continue
        if op not in ("append", "merge-mor"):
            raise ValueError(
                f"generation {g} ({op or 'untagged'}) does not record "
                "row-level changes; change feed unavailable across it"
            )
        ins_specs.extend((rel, g) for rel, _sz in raw.get("adds", []))
        for rel, _seq, keycol in raw.get("delete_adds", []):
            del_specs.setdefault((keycol, False), []).append((rel, g))

    b2g: dict[str, int] = {}
    for rel, g in ins_specs + preimg_specs + [
        s for specs in del_specs.values() for s in specs
    ]:
        b = posixpath.basename(rel)
        if b2g.setdefault(b, g) != g:
            # same basename in two different generations cannot be
            # attributed — impossible for Spark-written parts (distinct
            # job UUIDs) but a hand-built table could do it: loud > wrong
            raise ValueError(
                f"basename collision across commits: {b!r}"
            )

    parts: list[DataFrame] = []
    by_spec: dict[tuple, list[str]] = {}
    for rel, _g in ins_specs:
        by_spec.setdefault(_partition_spec(rel), []).append(rel)
    for spec in sorted(by_spec):
        ins = _attach_commit_gen(
            spark,
            spark.read.option("basePath", base)
            .parquet(*[fs.join(base, rel) for rel in by_spec[spec]]),
            b2g,
        ).select(*cols, "_commit_gen")
        parts.append(ins.withColumn("_change_type", F.lit("insert")))
    for keycol, need_distinct in sorted(del_specs):
        specs = del_specs[(keycol, need_distinct)]
        keys = _attach_commit_gen(
            spark,
            spark.read.parquet(
                *[fs.join(base, rel) for rel, _g in specs]
            ),
            b2g,
        ).select(keycol, "_commit_gen")
        if need_distinct:
            keys = keys.distinct()
        row = keys.select(
            *[
                F.col(keycol).alias(c) if c == keycol
                else F.lit(None).cast(anchor.schema[c].dataType)
                .alias(c)
                for c in cols
            ],
            "_commit_gen",
        )
        parts.append(row.withColumn("_change_type", F.lit("delete")))
    if preimg_specs:
        pre = _attach_commit_gen(
            spark,
            spark.read.option("basePath", base)
            .parquet(*[fs.join(base, rel) for rel, _g in preimg_specs]),
            b2g,
        ).select(*cols, "_commit_gen")
        parts.append(pre.withColumn("_change_type", F.lit("delete")))
    if not parts:
        return (
            anchor.withColumn("_change_type", F.lit("insert"))
            .withColumn("_commit_gen", F.lit(from_gen))
            .limit(0)
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    # column order of the original per-commit implementation
    return out.select(*cols, "_change_type", "_commit_gen")


def generation_as_of(
    spark: SparkSession | None,
    root: str,
    ts: float,
) -> int:
    """The newest generation committed at-or-before unix time ``ts`` —
    Iceberg's ``FOR TIMESTAMP AS OF`` resolution.  Commit time comes
    from the manifest doc's ``ts`` field (written at commit); manifests
    from before that field existed fall back to the manifest FILE's
    mtime (weaker: a copy/rsync can disturb it).  Raises if the table
    has no generation that old."""
    fs, base = table_fs(spark, root)
    gens = list_generations(spark, root)
    best = None
    for g in gens:
        raw = _read_raw(spark, root, g)
        committed = raw.get("ts")
        from_manifest = committed is not None
        if committed is None:
            committed = fs.file_mtime(
                fs.join(_manifest_dir(fs, base), _gen_name(g))
            )
        if committed <= ts:
            best = g
        elif from_manifest:
            break  # manifest ts fields commit in time order — but a
            # legacy gen's mtime fallback can be non-monotone (copy /
            # rsync disturbs it), so only the authoritative field may
            # terminate the ascending scan early
    if best is None:
        raise ValueError(
            f"no generation of {root!r} committed at or before {ts}"
        )
    return best


def snapshot_as_of(
    spark: SparkSession,
    root: str,
    ts: float,
    *,
    where: list[tuple] | None = None,
) -> DataFrame:
    """Time travel: :func:`snapshot_read` pinned to the generation that
    was current at unix time ``ts`` (``FOR TIMESTAMP AS OF``).  Subject
    to retention — an expired generation cannot be read."""
    gen = generation_as_of(spark, root, ts)
    return snapshot_read(spark, root, gen, where=where)


def rollback(
    spark: SparkSession | None,
    root: str,
    to_gen: int,
    *,
    record_changes: bool = True,
) -> int:
    """Roll the table back to ``to_gen`` by committing a NEW generation
    with that generation's exact file list — history is never rewritten
    and nothing is deleted (Iceberg's rollback semantics: an old
    snapshot becomes current again; readers pinned to anything keep
    working; ``expire_snapshots`` reclaims as usual).  Requires
    ``to_gen`` to still be retained.

    CDC (round 11): when ``record_changes`` and ``spark`` are given,
    the commit records its logical row delta as change files so
    :func:`table_changes` feeds ACROSS the rollback — at file
    granularity: rows of files only in the CURRENT snapshot become
    full-preimage deletes, rows of files only in the TARGET snapshot
    become inserts; shared files contribute nothing (same immutable
    bytes).  That equivalence needs the shared files' effective rows
    to match under both snapshots.  When the two manifests disagree on
    delete/sequence state for shared files, the CURRENT side is
    repaired automatically (VERDICT r11 #6): pending deletes are folded
    in via :func:`materialize_deletes` (the ``partition_col`` inferred
    from the file layout), after which the diff is taken against the
    materialized snapshot.  Only when the TARGET's historical delete
    state still diverges (nothing this side can change) is CDC skipped
    and the feed keeps its documented raise across this commit — never
    a wrong delta."""
    man = read_manifest(spark, root, to_gen)
    changes = deleted = None
    if record_changes and spark is not None:

        def _state(cur):
            cur_rels = {rel for rel, _ in cur["files"]}
            tgt_rels = {rel for rel, _ in man["files"]}
            shared = cur_rels & tgt_rels
            same = (
                cur["deletes"] == man["deletes"]
                and all(
                    cur["seqs"].get(r, 0) == man["seqs"].get(r, 0)
                    for r in shared
                )
            )
            return cur_rels, tgt_rels, same

        cur = read_manifest(spark, root)
        cur_rels, tgt_rels, same_state = _state(cur)
        if (not same_state and cur["deletes"] and not man["deletes"]):
            # current-side divergence is repairable: fold the pending
            # deletes into the data files, then re-diff against the
            # materialized snapshot (the rewritten shared files leave
            # the shared set and ride the delta as delete+insert rows)
            specs = {_partition_spec(rel) for rel, _ in cur["files"]}
            pcol = None
            if len(specs) == 1:
                (only,) = specs
                if len(only) == 1:
                    pcol = only[0]
            if pcol is not None or specs == {()}:
                materialize_deletes(spark, root, partition_col=pcol)
                cur = read_manifest(spark, root)
                cur_rels, tgt_rels, same_state = _state(cur)
        if same_state:
            fs, base = table_fs(spark, root)
            removed = [e for e in cur["files"] if e[0] not in tgt_rels]
            added = [e for e in man["files"] if e[0] not in cur_rels]

            def _rows_of(ents, m):
                return _stage_and_move(
                    spark, fs, base,
                    _read_entries_with_deletes(spark, fs, base, ents, m),
                    "cdc",
                ) if ents else []

            deleted = _rows_of(removed, cur)
            changes = _rows_of(added, man)
    return commit_manifest(
        spark, root,
        [(p, sz) for p, sz in man["files"]],
        stats=man["stats"],
        seqs=man["seqs"] or None, deletes=man["deletes"] or None,
        changes=changes, deleted_changes=deleted,
        op="rollback", schema=man["schema"],
    )


def table_history(
    spark: SparkSession | None,
    root: str,
) -> list[dict]:
    """One row per retained generation — files, bytes, and the delta
    against the parent (the ``DESCRIBE HISTORY`` a maintenance
    scheduler reads before deciding anything).  Driver-side manifest
    reads only; no data IO."""
    out: list[dict] = []
    prev_files: set[str] = set()
    for g in list_generations(spark, root):
        man = read_manifest(spark, root, g)
        raw = _read_raw(spark, root, g)
        cur = {rel for rel, _ in man["files"]}
        out.append({
            "generation": g,
            "ts": raw.get("ts"),
            "op": raw.get("op"),
            "parent": man.get("parent"),
            "files": len(cur),
            "bytes": sum(sz for _, sz in man["files"]),
            "added_files": len(cur - prev_files),
            "removed_files": len(prev_files - cur),
            "delete_files": len(man["deletes"]),
        })
        prev_files = cur
    return out


def compact_partitions_versioned(
    spark: SparkSession,
    root: str,
    partition_col: str,
    values: list[str],
    *,
    target_bytes: int = DEFAULT_TARGET_BYTES,
    order_col: str = "doc_id",
    zorder_cols: tuple[str, ...] | None = None,
    zorder_bits: int = 6,
    stats_cols: tuple[str, ...] | None = None,
    string_bound_len: int = STRING_BOUND_LEN,
) -> dict:
    """Selective compaction as a manifest commit — the snapshot-safe,
    object-store-safe twin of
    :func:`~tagminder_spark.operators.compaction.compact_partitions`.

    ``stats_cols`` collects min/max bounds for the REWRITTEN files
    (untouched partitions keep their existing committed bounds) —
    and since the rewrite clusters on ``order_col``/``zorder_cols``,
    post-compaction bounds are naturally tight, which is exactly why
    Iceberg re-derives stats on rewriteDataFiles.

    Reads ONLY the candidate partitions' current files (explicit file
    list — healthy directories cost zero IO), bin-packs them into new
    UUID-named files in the same partition directories, and commits
    ``(current − replaced) ∪ new`` as the next generation.  Old files
    stay on disk, so any reader pinned to an earlier generation
    finishes its scan untouched; :func:`expire_snapshots` reclaims
    them once the retention window passes.  No directory rename
    anywhere → works unchanged on object stores.

    ``zorder_cols`` clusters the rewrite on the Morton interleave
    (:func:`~tagminder_spark.operators.compaction.zorder_value`)
    instead of the linear ``order_col`` — Delta's ``OPTIMIZE ZORDER``
    shape, here as a versioned commit.
    """
    from pyspark.sql import Observation

    from tagminder_spark.operators.compaction import zorder_value

    fs, base = table_fs(spark, root)
    man = read_manifest(spark, root)
    prefixes = tuple(f"{partition_col}={v}/" for v in values)
    replaced = [
        (rel, sz) for rel, sz in man["files"] if rel.startswith(prefixes)
    ]
    if not replaced:
        return {"generation": man["generation"], "rewritten": 0,
                "files_out": 0, "rows": 0}
    keep = [(rel, sz) for rel, sz in man["files"]
            if not rel.startswith(prefixes)]

    # merge-on-read awareness: apply pending equality deletes to the
    # rows being rewritten (the rewrite MATERIALIZES them for these
    # files); the output files get seq = the committed generation so no
    # prior delete re-applies, while carried deletes keep applying to
    # the untouched files.
    df = _read_entries_with_deletes(spark, fs, base, replaced, man)
    if not zorder_cols and order_col not in df.columns:
        raise ValueError(
            f"order_col {order_col!r} not in input columns {df.columns}"
        )
    n_out = max(
        1, math.ceil(sum(sz for _, sz in replaced) / target_bytes)
    )
    obs = Observation("compact_versioned_rows")
    drop_after: list[str] = []
    if zorder_cols:
        zcol, _ = zorder_value(df, tuple(zorder_cols), bits=zorder_bits)
        df = df.withColumn("__zorder", zcol)
        keys = [F.col(partition_col), F.col("__zorder")]
        drop_after = ["__zorder"]
    else:
        keys = [F.col(partition_col), F.col(order_col)]
    shaped = (
        df.repartitionByRange(n_out, *keys)
        .sortWithinPartitions(*keys)
        .observe(obs, F.count(F.lit(1)).alias("rows"))
    )
    if drop_after:
        shaped = shaped.drop(*drop_after)
    new = _stage_and_move(spark, fs, base, shaped, "compact",
                          partition_col=partition_col)
    keep_rels = {rel for rel, _ in keep}
    stats = {
        rel: s for rel, s in man["stats"].items() if rel in keep_rels
    }
    if stats_cols:
        stats.update(
            collect_file_stats(base, [rel for rel, _ in new], stats_cols,
                           fs=fs, spark=spark)
        )
    seqs = None
    if man["deletes"]:
        seqs = {
            rel: s for rel, s in man["seqs"].items() if rel in keep_rels
        }
        seqs.update({rel: man["generation"] + 1 for rel, _ in new})
    gen = commit_manifest(
        spark, root, keep + new,
        parent=man["generation"], stats=stats or None,
        seqs=seqs, deletes=man["deletes"] or None,
        op="compact",
        schema=(man["schema"]
                if _writes_schema(shaped, partition_col, man["schema"])
                else None),
    )
    return {
        "generation": gen,
        "rewritten": len(replaced),
        "files_out": len(new),
        "planned_files": n_out,
        "rows": obs.get["rows"],
    }


def _key_bound_split(man: dict, key: str) -> tuple[list, list]:
    """Manifest file entries split into (blind, candidates): blind
    files have no committed ``key`` bounds and are always rewritten;
    candidates carry ``(lo, hi, entry)`` for the containment probe."""
    stats = man.get("stats", {})
    blind: list = []
    cand: list = []
    for entry in man["files"]:
        b = stats.get(entry[0], {}).get(key)
        if b is None or b[0] is None:
            # no entry, or a null-count-only [None, None, nc, n] entry
            # (all-null key column) — no usable bounds: rewrite it
            blind.append(entry)
        else:
            cand.append((b[0], b[1], entry))
    return blind, cand


def _cow_touched_files(
    spark: SparkSession,
    man: dict,
    key: str,
    updates: DataFrame,
) -> tuple[list, list]:
    """Split the manifest's file entries into (touched, untouched) for a
    copy-on-write MERGE: a file is UNTOUCHED only when its committed
    ``key`` bounds PROVE it contains no update key — exactly Iceberg's
    copy-on-write file pruning, run as one map-side Spark pass.

    Mechanics: the per-file [lo, hi] key bounds (driver-side, from the
    manifest — truncated string bounds are conservative, so the touched
    set can only over-approximate) are sorted by lo and shipped to the
    executors in the ``mapInPandas`` closure (O(|files|) — the same
    order as the manifest itself).  Each update partition binary-
    searches its keys against the bounds (prefix-max array bounds the
    backward scan — O(log F + matches) per key on the disjoint ranges a
    clustered table has) and emits the indices of files it can touch;
    the driver collects the DISTINCT index set, which is bounded by
    |files|, never |updates|.  Files with no committed key bounds are
    always touched (conservative).  Early-exits as soon as every
    candidate is known-touched."""
    blind, cand = _key_bound_split(man, key)
    if not cand:
        return list(man["files"]), []
    cand.sort(key=lambda t: (t[0], t[1]))
    los = [c[0] for c in cand]
    his = [c[1] for c in cand]
    maxhi: list = []
    m = his[0]
    for h in his:
        m = h if h > m else m
        maxhi.append(m)
    n = len(cand)

    def probe(iterator):
        import bisect

        import pandas as pd

        seen: set = set()
        for pdf in iterator:
            if len(seen) == n:
                break
            for k in pdf[key]:
                if k is None:
                    continue
                j = bisect.bisect_right(los, k) - 1
                while j >= 0 and maxhi[j] >= k:
                    if his[j] >= k:
                        seen.add(j)
                        if len(seen) == n:
                            break
                    j -= 1
                if len(seen) == n:
                    break
        yield pd.DataFrame({"idx": sorted(seen)})

    hit = {
        r["idx"]
        for r in updates.select(key)
        .mapInPandas(probe, "idx int")
        .distinct()
        .collect()
    }
    touched = blind + [cand[i][2] for i in sorted(hit)]
    untouched = [cand[i][2] for i in range(n) if i not in hit]
    return touched, untouched


def merge_into_manifest(
    spark: SparkSession,
    root: str,
    updates: DataFrame,
    key: str = "__path",
    *,
    partition_col: str | None = None,
    stats_cols: tuple[str, ...] | None = None,
    file_granular: bool = True,
    string_bound_len: int = 64,
) -> dict:
    """Snapshot-isolated, file-granular copy-on-write MERGE — the
    track table's one merge path, persisting
    :func:`~tagminder_spark.operators.diff_audit.diff_audit`'s updated
    rows (the reference's UPDATE-in-transaction, tm_db.py:580-611) in
    Iceberg's copy-on-write shape: only files whose committed ``key``
    bounds can contain an updated key are rewritten (anti-join
    survivors ∪ the update rows, written as NEW files); every other
    file is carried BYTE-IDENTICAL — same on-disk file, same manifest
    entry, same committed stats — into the next full-snapshot
    generation.  At
    100 TB this is the difference between a MERGE costing O(table) and
    O(touched files): the reference's row-addressed UPDATEs write only
    changed rows, and this is the Spark-native equivalent at file
    granularity.

    Requirements for granularity (all soft — violations only mean more
    rewriting, never wrong results): the table's manifest must carry
    ``key`` bounds (commit with ``stats_cols=(key, ...)``; files
    without bounds are conservatively rewritten), and the layout should
    cluster the key (post-compaction tables do).  ``stats_cols``
    defaults to ``(key,)`` so the OUTPUT files always carry the bounds
    the NEXT merge needs; ``string_bound_len`` defaults to 64 here
    (vs the global 16) because path-shaped keys share long prefixes —
    16-char bounds would collapse to one interval and rewrite
    everything.  ``file_granular=False`` restores the full rewrite.

    Old files are never touched: a reader pinned to any earlier
    generation finishes its scan untouched (no directory swap, no
    rename — object-store safe), and :func:`expire_snapshots` reclaims
    retired files once the retention window passes.  Like
    :func:`compact_partitions_versioned` — and unlike
    :func:`append_files` — a lost commit CAS is NOT retried: a merge
    REPLACES rows, so a concurrent commit means the table changed under
    it and the caller must re-plan against the fresh snapshot
    (``FileExistsError`` surfaces).

    Update keys contained in NO file's bounds are inserts — they land
    in the rewritten output (which exists even when zero files are
    touched).  ``updates`` is consumed twice (touch probe + write), so
    it is persisted for the duration of the merge.
    """
    fs, base = table_fs(spark, root)
    man = read_manifest(spark, root)
    if key not in updates.columns:
        raise ValueError(f"updates lack the merge key {key!r}")
    existing = snapshot_read(spark, root, man["generation"])
    missing = [c for c in existing.columns if c not in updates.columns]
    if missing:
        raise ValueError(f"updates lack table columns: {missing}")

    # every merge path consumes ``updates`` at least twice — the
    # granular path three times (containment probe + anti-join +
    # union), the blind full-rewrite path twice (anti-join at the
    # survivors step + union in the same plan, which would recompute
    # the update lineage) — so persist unconditionally; the only
    # single-consumption case (pure insert, zero touched files) pays a
    # one-batch cache it would have needed the probe to discover anyway
    updates = updates.persist()
    persisted = True
    try:
        if file_granular:
            touched, untouched = _cow_touched_files(spark, man, key, updates)
        else:
            touched, untouched = list(man["files"]), []

        if touched:
            # pending MoR deletes are applied here — the rewrite
            # materializes them for the touched files
            tdf = _read_entries_with_deletes(
                spark, fs, base, touched, man
            ).select(*existing.columns)
            survivors = tdf.join(updates.select(key), key, "left_anti")
            merged = survivors.unionByName(updates.select(*existing.columns))
        else:  # pure insert: nothing to rewrite, just land the updates
            merged = updates.select(*existing.columns)

        new = _stage_and_move(spark, fs, base, merged, "merge",
                              partition_col=partition_col)
        # CDC provenance (VERDICT r10 #1): the rewritten data files mix
        # update rows with carried survivors, so the commit records its
        # logical delta in dedicated change files under ``_changes/``
        # (Delta CDF's ``_change_data`` in miniature) — the update rows
        # (feed inserts) whose ``key`` values double as the superseded
        # keys (feed deletes), exactly the merge-on-read feed shape.
        # O(|updates|), reusing the already-persisted batch, so
        # :func:`table_changes` replays the merge without ever touching
        # its rewritten data files.
        changes = _stage_and_move(
            spark, fs, base, updates.select(*existing.columns), "cdc"
        )
    finally:
        if persisted:
            updates.unpersist()

    untouched_rels = {rel for rel, _ in untouched}
    stats = {
        rel: s for rel, s in man["stats"].items() if rel in untouched_rels
    }
    stats.update(
        collect_file_stats(
            base, [rel for rel, _ in new],
            stats_cols if stats_cols else (key,),
            fs=fs, spark=spark, string_bound_len=string_bound_len,
        )
    )
    seqs = None
    if man["deletes"]:  # carried deletes still apply to untouched files
        seqs = {
            rel: s for rel, s in man["seqs"].items()
            if rel in untouched_rels
        }
        seqs.update({rel: man["generation"] + 1 for rel, _ in new})
    gen = commit_manifest(
        spark, root, untouched + new,
        parent=man["generation"], stats=stats or None,
        seqs=seqs, deletes=man["deletes"] or None,
        changes=changes, change_key=key,
        op="merge-cow",
        schema=(man["schema"]
                if _writes_schema(merged, partition_col, man["schema"])
                else None),
    )
    return {
        "generation": gen,
        "files_out": len(new),
        "files_rewritten": len(touched),
        "files_untouched": len(untouched),
        "files_replaced": len(touched),
        "change_files": len(changes),
    }


def merge_on_read(
    spark: SparkSession,
    root: str,
    updates: DataFrame,
    key: str = "__path",
    *,
    partition_col: str | None = None,
    stats_cols: tuple[str, ...] | None = None,
    string_bound_len: int = 64,
) -> dict:
    """MERGE as Iceberg's **merge-on-read** (equality deletes) — the
    write-optimized twin of :func:`merge_into_manifest`: the update
    rows land as NEW data files (an append) and the update KEYS land as
    an equality-delete file; **no existing data file is read, touched,
    or rewritten**.  The commit is a delta — O(|updates|) bytes and IO
    at ANY table size, on ANY layout (copy-on-write needs a
    key-clustered table to bound its rewrite set; merge-on-read does
    not).

    Readers (:func:`snapshot_read`) apply the delete at plan time: a
    delete committed at sequence D hides matching-key rows in data
    files with sequence < D, while this merge's own rows (sequence = D)
    survive — so the read is exactly the post-MERGE table, and a second
    merge's delete (D' > D) supersedes the first merge's rows for
    re-updated keys.  The read premium is one broadcast anti-join per
    pending delete batch; :func:`materialize_deletes` (or any
    compaction touching the files) folds it back to zero on the
    maintenance cadence — the classic MoR write-now/pay-at-read trade.

    Like :func:`append_files` the update keys only ADD state, but a
    MERGE logically replaces rows, so a lost commit CAS is NOT retried
    (a concurrent commit means the table changed under it — the caller
    re-plans; same posture as :func:`merge_into_manifest`).

    Reference semantics matched: row-addressed UPDATEs in a
    transaction (tm_db.py:580-611) — here with the write cost of the
    update set alone.
    """
    fs, base = table_fs(spark, root)
    man = read_manifest(spark, root)
    if key not in updates.columns:
        raise ValueError(f"updates lack the merge key {key!r}")
    existing = snapshot_read(spark, root, man["generation"])
    missing = [c for c in existing.columns if c not in updates.columns]
    if missing:
        raise ValueError(f"updates lack table columns: {missing}")
    gen = man["generation"] + 1
    updates = updates.select(*existing.columns).persist()
    try:
        new = _stage_and_move(spark, fs, base, updates, "mor",
                              partition_col=partition_col)
        # natural part files, NOT coalesce(1): a bulk MERGE's
        # distinct-key set must not serialize through one writer task
        # (VERDICT r12 #3 — the same funnel delete_where shed in r11);
        # the commit takes a LIST of delete files
        del_entries = _stage_and_move(
            spark, fs, base, updates.select(key).distinct(), "eq"
        )

        stats = collect_file_stats(
            base, [rel for rel, _ in new],
            stats_cols if stats_cols else (key,),
            fs=fs, spark=spark, string_bound_len=string_bound_len,
        )
    finally:
        updates.unpersist()
    same_schema = _writes_schema(updates, partition_col, man["schema"])
    commit_delta(
        spark, root, new, parent=man["generation"],
        stats=stats or None,
        seqs={rel: gen for rel, _ in new},
        delete_adds=[(rel, gen, key) for rel, _ in del_entries],
        op="merge-mor",
        schema=_PARENT_SCHEMA if same_schema else None,
    )
    return {
        "generation": gen,
        "files_added": len(new),
        "delete_files": len(del_entries),
        "data_files_rewritten": 0,
        "bytes_added": sum(sz for _, sz in new)
        + sum(sz for _, sz in del_entries),
        "pending_deletes": len(man["deletes"]) + len(del_entries),
    }


def delete_where(
    spark: SparkSession,
    root: str,
    where: list[tuple],
) -> dict:
    """Row-level DELETE by predicate as Iceberg **positional deletes**
    (round 11, VERDICT r10 #8): matching rows are recorded as
    ``(table-relative file path, row ordinal)`` pairs in a delete file under
    ``_deletes/`` — **no data file is read beyond the pruned predicate
    scan, none is rewritten** — so quality-filter deletes (no key
    column required) get merge-on-read economics instead of forcing a
    copy-on-write rewrite.  Readers (:func:`snapshot_read`) apply the
    delete as a broadcast anti-join on the row's physical identity
    (parquet ``_metadata`` file + row_index — stable for a given file);
    :func:`materialize_deletes` folds it back in on the maintenance
    cadence, rewriting ONLY the files the delete file actually names.

    The commit also records CDC change files carrying the full
    PREIMAGE of every deleted row (richer than the equality feed's
    key+NULLs shape — the predicate scan already has the rows), so
    :func:`table_changes` replays the delete exactly.

    ``where`` is the same conjunction grammar as ``snapshot_read`` —
    manifest pruning narrows the scan to the files that can match.
    Like every row-replacing commit, a lost commit CAS surfaces
    (``FileExistsError``); the caller re-plans against the fresh
    snapshot."""
    from pyspark.sql import Observation

    fs, base = table_fs(spark, root)
    man = read_manifest(spark, root)
    _validate_where(where)
    gen = man["generation"] + 1
    pruned = prune_manifest(man, where, list_transforms(spark, root))
    scan_files = _bloom_prune(spark, root, pruned["files"], where)
    if not scan_files:
        return {"generation": man["generation"], "rows_deleted": 0,
                "delete_files": 0, "data_files_rewritten": 0,
                "files_scanned": 0}
    df = _read_entries_with_deletes(
        spark, fs, base, scan_files, man, with_positions=True
    )
    matched = df.filter(_where_to_column(where)).persist()
    try:
        # the match count rides on the delete-file write (no separate
        # count job); a zero-match write moves and commits nothing
        obs = Observation("delete_where_rows")
        del_entries = _stage_and_move(
            spark, fs, base,
            # natural part files, NOT coalesce(1): a quality-filter
            # delete matching billions of rows must not serialize every
            # (file, pos) pair through one writer task — commit_delta
            # already takes a LIST of delete entries (VERDICT r11 #2)
            matched.select(
                F.col(_POS_FILE_COL).alias("file"),
                F.col(_POS_IDX_COL).cast("long").alias("pos"),
            ),
            "pos", rows=obs,
        )
        n = obs.get["rows"]
        if n == 0:
            return {"generation": man["generation"], "rows_deleted": 0,
                    "delete_files": 0, "data_files_rewritten": 0,
                    "files_scanned": len(scan_files)}
        preimg = [c for c in df.columns
                  if c not in (_POS_FILE_COL, _POS_IDX_COL)]
        changes = _stage_and_move(
            spark, fs, base, matched.select(*preimg), "cdc"
        )
    finally:
        matched.unpersist()
    commit_delta(
        spark, root, [], parent=man["generation"],
        delete_adds=[
            (rel, gen, _POS_DELETE_KEY) for rel, _ in del_entries
        ],
        changes=changes, op="delete-pos",
    )
    return {
        "generation": gen,
        "rows_deleted": int(n),
        "delete_files": len(del_entries),
        "data_files_rewritten": 0,
        "files_scanned": len(scan_files),
        "pending_deletes": len(man["deletes"]) + len(del_entries),
    }


def materialize_deletes(
    spark: SparkSession,
    root: str,
    *,
    partition_col: str | None = None,
    stats_cols: tuple[str, ...] | None = None,
    string_bound_len: int = 64,
) -> dict:
    """Fold pending equality deletes back into the data files —
    Iceberg's ``rewrite_position_delete_files`` + touched-file rewrite
    in one maintenance pass, FILE-GRANULAR: a data file is rewritten
    only when (a) some delete applies to it by sequence AND (b) its
    committed key bounds cannot prove it holds none of that delete's
    keys (the same containment probe copy-on-write MERGE uses —
    bound-less files are conservatively rewritten).  Every other file
    is carried byte-identical; the commit is a full snapshot with the
    delete list emptied, so subsequent reads are plain scans again.

    Positional deletes NAME their files, so their touched set is
    per-delete-file exact (a file named only by an already-applied
    delete is never rewritten).  Named files resolve against the
    manifest through URI-unquoting (the delete stores Spark's
    ``_metadata`` path form); a name resolving to neither a manifest
    rel nor an on-disk file cannot be proven superseded, and its
    delete file is CARRIED FORWARD (with the survivors' sequence
    state) instead of dropped — dropping it could resurrect rows
    (ADVICE r11).

    Like every REPLACE-shaped maintenance commit, a lost CAS surfaces
    (``FileExistsError``) — re-plan against the fresh snapshot.  The
    retired delete files stay on disk for pinned readers;
    :func:`expire_snapshots` reclaims them with the generations that
    reference them."""
    fs, base = table_fs(spark, root)
    man = read_manifest(spark, root)
    deletes = man["deletes"]
    if not deletes:
        return {"generation": man["generation"], "files_rewritten": 0,
                "files_untouched": len(man["files"]),
                "delete_files_dropped": 0}
    seqs = man["seqs"]
    candidates = [
        [rel, sz] for rel, sz in man["files"]
        if any(d[1] > seqs.get(rel, 0) for d in deletes)
    ]
    carried = [
        [rel, sz] for rel, sz in man["files"]
        if not any(d[1] > seqs.get(rel, 0) for d in deletes)
    ]
    # bounds-prune the candidates per delete key column: reuse the CoW
    # containment probe with the delete keys standing in for updates.
    # POSITIONAL deletes are even better than bounds — they NAME their
    # data files (by table-relative path), so the touched set is
    # exactly the named files still present (distinct-file collect
    # bounded by |files|).
    touched_rels: set[str] = set()
    pos_deletes = [d for d in deletes if d[2] == _POS_DELETE_KEY]
    carried_deletes: list = []
    if pos_deletes:
        from urllib.parse import unquote

        by_basename = {posixpath.basename(d[0]): d for d in pos_deletes}
        # per-delete-file named sets (ADVICE r11: the old global OR of
        # seq applicability rewrote files named only by already-applied
        # deletes whenever ANY newer positional delete existed)
        pairs = (
            spark.read.schema(_POS_DELETE_SCHEMA).parquet(
                *[fs.join(base, d[0]) for d in pos_deletes]
            )
            .select("file", F.input_file_name().alias("_src"))
            .distinct()
            .collect()
        )
        rel_set = {rel for rel, _ in man["files"]}
        named_by_del: dict[str, set] = {}
        unresolved_by_del: dict[str, list] = {}
        for r in pairs:
            drel = by_basename[posixpath.basename(r["_src"])][0]
            f = r["file"]
            u = unquote(f)
            if f in rel_set:
                named_by_del.setdefault(drel, set()).add(f)
            elif u in rel_set:
                # the delete stores Spark's _metadata form (URI-escaped)
                # while the manifest rel came from a raw listing —
                # resolving through unquote keeps the file in the
                # touched set instead of silently resurrecting its
                # deleted rows (ADVICE r11, medium)
                named_by_del.setdefault(drel, set()).add(u)
            elif not (fs.exists(fs.join(base, u))
                      or fs.exists(fs.join(base, f))):
                # named file neither in the manifest nor on disk: we
                # cannot prove it was superseded (CoW/compaction leaves
                # the old bytes on disk until expiry) — dropping this
                # delete file could resurrect rows, so carry it forward
                unresolved_by_del.setdefault(drel, []).append(f)
            # else: superseded file (left the manifest, bytes still on
            # disk) — its delete entries are no-ops, safe to drop
        carried_deletes = [
            d for d in pos_deletes if d[0] in unresolved_by_del
        ]
        for rel, _sz in candidates:
            if any(
                d[1] > seqs.get(rel, 0)
                and rel in named_by_del.get(d[0], ())
                for d in pos_deletes
            ):
                touched_rels.add(rel)
    keycols = sorted(
        {d[2] for d in deletes if d[2] != _POS_DELETE_KEY}
    )
    for keycol in keycols:
        subset = [
            e for e in candidates
            if any(d[1] > seqs.get(e[0], 0) and d[2] == keycol
                   for d in deletes)
        ]
        if not subset:
            continue
        kdf = _key_reader(spark, keycol, man["schema"]).parquet(
            *[fs.join(base, d[0]) for d in deletes if d[2] == keycol]
        ).select(keycol).distinct()
        sub_man = {"files": subset, "stats": man["stats"]}
        probe_touched, _ = _cow_touched_files(spark, sub_man, keycol, kdf)
        touched_rels.update(rel for rel, _ in probe_touched)
    touched = [e for e in candidates if e[0] in touched_rels]
    carried += [e for e in candidates if e[0] not in touched_rels]

    new: list[tuple[str, int]] = []
    if touched:
        tdf = _read_entries_with_deletes(spark, fs, base, touched, man)
        new = _stage_and_move(spark, fs, base, tdf, "mat",
                              partition_col=partition_col)

    carried_rels = {rel for rel, _ in carried}
    stats = {
        rel: s for rel, s in man["stats"].items() if rel in carried_rels
    }
    if new:
        stats.update(
            collect_file_stats(
                base, [rel for rel, _ in new],
                stats_cols if stats_cols else tuple(keycols),
                fs=fs, spark=spark, string_bound_len=string_bound_len,
            )
        )
    keep_seqs = None
    if carried_deletes:
        # carried delete files stay applicable by sequence: carried
        # data files keep their seqs, rewritten files get this commit's
        # generation (greater than every pending delete's seq, so no
        # carried delete re-applies to already-folded rows)
        next_gen = man["generation"] + 1
        keep_seqs = {rel: seqs.get(rel, 0) for rel, _ in carried}
        keep_seqs.update({rel: next_gen for rel, _ in new})
    gen = commit_manifest(
        spark, root, carried + new,
        parent=man["generation"], stats=stats or None,
        seqs=keep_seqs, deletes=carried_deletes or None,
        op="materialize",
        schema=(man["schema"]
                if not touched
                or _writes_schema(tdf, partition_col, man["schema"])
                else None),
    )
    return {
        "generation": gen,
        "files_rewritten": len(touched),
        "files_untouched": len(carried),
        "files_out": len(new),
        "delete_files_dropped": len(deletes) - len(carried_deletes),
        "delete_files_carried": len(carried_deletes),
    }


def expire_snapshots(
    spark: SparkSession,
    root: str,
    *,
    keep_last: int = 2,
    remove_unreferenced: bool = False,
    min_unreferenced_age: float = 3 * 24 * 3600.0,
) -> dict:
    """Reclaim storage: delete data files referenced ONLY by
    generations older than the newest ``keep_last``, then drop those
    manifests.  The retention window is the caller's promise about the
    longest-running reader (Iceberg's ``expireSnapshots`` contract).

    ``remove_unreferenced=True`` additionally deletes data files — and
    ``_deletes/`` / ``_changes/`` files — no retained manifest
    references at all: crash debris from an interrupted stage-move or
    a lost commit CAS.  Two hazards make this opt-in AND age-guarded:

    - a concurrent PLAIN (non-manifest) append's files look exactly
      like debris — the flag requires every writer to go through the
      manifest;
    - **even a manifest appender has an unreferenced window**:
      :func:`append_files` moves staged files into the live partition
      dirs BEFORE :func:`commit_delta` publishes them, so a concurrent
      expiry that reclaimed "unreferenced" files unconditionally could
      delete an in-flight append's data and leave its subsequent commit
      pointing at nothing.  ``min_unreferenced_age`` closes that race
      the way Iceberg's ``removeOrphanFiles(olderThan=…)`` does: only
      files whose mtime is older than the threshold are reclaimed —
      real debris survives its writer by days, an in-flight append's
      files are seconds old.  The default (3 days) matches Iceberg;
      never set it below the longest plausible stage-move-to-commit
      gap (i.e. a slow append's write duration).

    Delta-chain awareness: a retained generation may be a delta whose
    resolution walks to manifests OLDER than the retention window —
    those manifest FILES are kept (chain infrastructure; Delta Lake
    likewise cannot drop JSON commits newer than the last checkpoint),
    while their exclusively-referenced DATA files are still reclaimed.
    Reading such an expired generation directly is unsupported.
    Run :func:`checkpoint_manifest` first to minimize what must stay.
    """
    if keep_last < 1:
        raise ValueError("keep_last must be >= 1")
    fs, base = table_fs(spark, root)
    gens = list_generations(spark, root)
    retained = set(gens[-keep_last:])
    # tagged generations are pinned regardless of keep_last — a tag is
    # a caller's promise that someone still reads that exact snapshot
    retained |= {
        g for g in list_tags(spark, root).values()
        if g in set(gens)
    }
    needed = set()
    for g in retained:
        needed.update(_chain_gens(spark, root, g))
    live: set[str] = set()
    for g in retained:
        man = read_manifest(spark, root, g)
        live.update(rel for rel, _ in man["files"])
        live.update(rel for rel, _seq, _k in man["deletes"])
        # CDC change files are per-commit provenance: a retained
        # generation's feed must stay replayable
        raw = _read_raw(spark, root, g)
        live.update(rel for rel, _ in raw.get("changes", []))
        live.update(rel for rel, _ in raw.get("deleted_changes", []))
    # a staged (write-audit-publish) batch is referenced by its staged
    # doc, not by any generation — its files must survive until the
    # batch is published or abandoned, however long the audit takes
    for sid in list_staged(spark, root):
        _p, sdoc = _staged_doc(fs, base, sid)
        live.update(rel for rel, _ in sdoc["adds"])
    removed_files: list[str] = []
    for g in gens:
        if g in retained:
            continue
        man = read_manifest(spark, root, g)
        retired = [rel for rel, _ in man["files"]]
        retired += [rel for rel, _seq, _k in man["deletes"]]
        raw = _read_raw(spark, root, g)
        retired += [rel for rel, _ in raw.get("changes", [])]
        retired += [rel for rel, _ in raw.get("deleted_changes", [])]
        for rel in retired:
            if rel not in live:
                p = fs.join(base, rel)
                if fs.exists(p):
                    fs.delete(p)
                removed_files.append(rel)
                live.add(rel)  # don't double-delete across old gens
    if remove_unreferenced:
        import time

        now = time.time()
        # the data-file listing skips ``_``-prefixed dirs, so delete and
        # change files moved in before a failed commit are listed apart
        listed = list_data_files(spark, root)
        for side in sorted(set(_SIDE_DIRS.values())):
            if fs.exists(fs.join(base, side)):
                listed += list_data_files(spark, fs.join(base, side))
        for p, _sz in listed:
            rel = posixpath.relpath(
                p.replace("\\", "/"), base.replace("\\", "/")
            )
            if rel.startswith(MANIFEST_DIR):
                continue
            if rel not in live:
                # age guard: a file younger than the threshold may be an
                # in-flight append's stage-moved data whose commit_delta
                # hasn't published yet — deleting it would corrupt that
                # commit.  Old debris is safe: its writer is long gone.
                try:
                    age = now - fs.file_mtime(p)
                except OSError:
                    continue  # vanished under us — nothing to reclaim
                if age < min_unreferenced_age:
                    continue
                fs.delete(p)
                removed_files.append(rel)
    removed_manifests = []
    mdir = _manifest_dir(fs, base)
    for g in gens:
        if g not in retained and g not in needed:
            fs.delete(fs.join(mdir, _gen_name(g)))
            removed_manifests.append(g)
    # Bloom sidecars stay valid across generations (file-keyed over
    # immutable files), so retention keeps ONLY the newest index per
    # column and reclaims superseded ones
    newest: dict[str, int] = {}
    for doc in list_bloom_indexes(spark, root):
        if doc["generation"] > newest.get(doc["col"], -1):
            newest[doc["col"]] = doc["generation"]
    for doc in list_bloom_indexes(spark, root):
        if doc["generation"] < newest[doc["col"]]:
            fs.delete(fs.join(base, doc["sidecar"]), ignore_errors=True)
            fs.delete(fs.join(
                mdir, f"bloomdoc_{doc['col']}_{doc['generation']}.json"
            ))
    return {
        "removed_files": sorted(set(removed_files)),
        "removed_generations": removed_manifests,
        "retained_generations": sorted(retained),
    }


# ---------------------------------------------------------------------------
# Bloom-filter file indexes (round 11): point-lookup skipping on
# UNCLUSTERED columns — min/max bounds only prune when the layout
# clusters the column; a per-file Bloom filter prunes `=`/`IN` lookups
# on any layout (parquet's footer bloom filters / Delta's BF index, as
# manifest sidecars).  Build cost is one distributed pass over the
# indexed files; the sidecar is a parquet file beside the manifests;
# lookups load it once per (table, column, generation) driver-side and
# cache.  Files added AFTER the index was built simply have no entry
# and are kept (conservative) — rebuild the index to cover them.

# Driver-side bitmap cache — keyed per (base, col, generation, rel) so
# a point lookup only ever caches the bitmaps it actually consulted,
# and bounded by BYTES, not entry count (VERDICT r11 #1: the old
# whole-sidecar cache held ~1.2 MB/file × every file — a driver OOM at
# 100 TB file counts).  ``None`` entries are negative hits (file absent
# from the sidecar — added after the index was built ⇒ always kept).
_BLOOM_CACHE: "OrderedDict[tuple, tuple | None]" = OrderedDict()
_BLOOM_CACHE_BYTES = 0
_BLOOM_CACHE_MAX_BYTES = 64 << 20
#: max UNCACHED bitmap bytes a single prune may collect to the driver;
#: above this the membership test runs as a distributed job and only
#: the dropped rel strings come back
_BLOOM_DRIVER_LOAD_MAX = 32 << 20
#: and a rel-count cap for the same switch — the selective read pushes
#: `rel IN (misses)` into the sidecar, and a five-digit literal list
#: is itself a plan-size burden even when the bytes fit
_BLOOM_DRIVER_LOAD_MAX_RELS = 4096


def _bloom_cache_put(key: tuple, entry) -> None:
    global _BLOOM_CACHE_BYTES
    if key in _BLOOM_CACHE:
        _BLOOM_CACHE.move_to_end(key)
        return
    _BLOOM_CACHE[key] = entry
    _BLOOM_CACHE_BYTES += 64 + (len(entry[0]) if entry else 0)
    while (_BLOOM_CACHE_BYTES > _BLOOM_CACHE_MAX_BYTES
           and len(_BLOOM_CACHE) > 1):
        _, old = _BLOOM_CACHE.popitem(last=False)
        _BLOOM_CACHE_BYTES -= 64 + (len(old[0]) if old else 0)


def _bloom_params(n: int, fpp: float) -> tuple[int, int]:
    """(m bits, k hashes) for ``n`` distinct values at ``fpp``."""
    n = max(n, 1)
    m = max(64, int(-n * math.log(fpp) / (math.log(2) ** 2)))
    m = (m + 7) // 8 * 8  # whole bytes
    k = max(1, round(m / n * math.log(2)))
    return m, min(k, 16)


def _bloom_hashes(value, m: int, k: int) -> list[int]:
    """Bit positions for ``value`` — md5 double hashing
    (Kirsch-Mitzenmacher), over the value's ``str()`` form (int and
    str values only, the same reproducibility envelope as the
    partition transforms)."""
    import hashlib

    d = hashlib.md5(str(value).encode("utf-8")).digest()
    h1 = int.from_bytes(d[:8], "big")
    h2 = int.from_bytes(d[8:16], "big") | 1
    return [(h1 + i * h2) % m for i in range(k)]


def _bloom_set_bits(bits, values, m: int, k: int) -> None:
    """Vectorized build twin of :func:`_bloom_hashes` — set every bit
    for a batch of values into ``bits`` (a ``numpy`` uint8 array of
    ``m // 8`` bytes).  BIT-IDENTICAL to the scalar path: md5 stays
    per-value (it has no batched form), but the position arithmetic
    vectorizes exactly because the mod distributes —
    ``(h1 + i·h2) % m == (h1%m + (i·(h2%m)) % m) % m`` and
    ``i·(h2%m) < 16·m ≪ 2**63`` never wraps uint64.  VERDICT r11 #7."""
    import hashlib

    import numpy as np

    if not len(values):
        return
    md5 = hashlib.md5
    digs = b"".join(
        md5(str(v).encode("utf-8"), usedforsecurity=False).digest()
        for v in values
    )
    # int64 throughout: numpy's uint64 % falls off the vectorized
    # path (scalar divmod per element — measured 10× slower than the
    # whole rest of the build).  A digest half >= 2**63 wraps negative
    # in the int64 view; its true residue is (s % m + 2**64 % m) % m
    # (numpy % is sign-of-divisor, so s % m is already in [0, m)).
    raw = np.frombuffer(digs, dtype=">u8").reshape(-1, 2)
    s = raw.astype(np.int64)
    corr = (1 << 64) % m

    def reduce64(col):
        # col % m in [0, m): numpy % is sign-of-divisor, so the
        # negative (wrapped >= 2**63) entries need one +corr and at
        # most one subtract — cheaper than a second full mod pass
        r = col % m
        r += corr * (col < 0)
        r -= m * (r >= m)
        return r

    h1 = reduce64(s[:, 0])
    h2 = reduce64(s[:, 1] | 1)  # two's-complement | == uint64 |
    # positions iteratively: p += h2; p -= m if p >= m — three cheap
    # vector ops per hash beat one 64-bit division by ~20×
    pos = np.empty((len(h1), k), dtype=np.int64)
    p = h1.copy()
    pos[:, 0] = p
    for i in range(1, k):
        p = p + h2
        p -= m * (p >= m)
        pos[:, i] = p
    # duplicate-safe boolean scatter + little-endian packbits — OR'd
    # into the accumulator (bitwise_or.at is an order of magnitude
    # slower: unbuffered per-element scatter)
    flat = np.zeros(m, dtype=bool)
    flat[pos.ravel()] = True
    bits |= np.packbits(flat, bitorder="little")


def _bloom_col_kind(dtype) -> str:
    """'int' | 'string' for an indexable Spark type; raise otherwise.
    The index hashes values' ``str()`` forms, and only integral and
    string columns reproduce a literal's ``str()`` bit-exactly through
    Spark's cast-to-string (``5.0`` vs ``5``, timestamp formatting...)
    — indexing anything else would make ``=`` / ``in`` lookups silently
    return empty (ADVICE r11).  Same posture as ``transform_value``."""
    from pyspark.sql.types import (
        ByteType, IntegerType, LongType, ShortType, StringType,
    )

    if isinstance(dtype, (ByteType, ShortType, IntegerType, LongType)):
        return "int"
    if isinstance(dtype, StringType):
        return "string"
    raise TypeError(
        f"build_bloom_index supports int- and string-typed columns only"
        f" (got {dtype.simpleString()})"
    )


def build_bloom_index(
    spark: SparkSession,
    root: str,
    col: str,
    *,
    fpp: float = 0.01,
    gen: int | None = None,
) -> dict:
    """Build a per-file Bloom index over ``col`` for the (pinned)
    snapshot and commit it as a parquet SIDECAR
    (``_manifest/bloom_<col>_<gen>.parquet`` + a CAS json doc).

    Scale shape (the part that matters at 100 TB): the COLUMN is never
    shuffled.  A first map-side-combined count picks one (m, k) sizing
    from the p90 per-file row count (uniform m makes partial filters
    OR-mergeable; row count upper-bounds distinct count, so the filter
    only ever gets conservatively large); then ``mapInPandas`` hashes
    each Arrow batch into PARTIAL per-file bitmaps in place, and only
    those bitmaps (m/8 bytes per file-partition, not rows) shuffle to
    the per-file OR-merge.  ``col`` must be int- or string-typed (the
    ``str()`` reproducibility envelope).  Lookup integration:
    ``snapshot_read(where=[(col, "=", v)])`` / ``snapshot_scan_plan``
    / ``delete_where`` consult the index automatically after the stats
    prune.  This is the point-lookup path on columns the layout does
    NOT cluster — min/max bounds span everything there, a Bloom filter
    does not."""
    fs, base = table_fs(spark, root)
    man = read_manifest(spark, root, gen)
    gen = man["generation"]
    entries = man["files"]
    # one scan per rel-path depth, so each reads its rels exactly
    # (:func:`_with_positions`)
    by_depth: dict[int, list[str]] = {}
    for rel, _ in entries:
        by_depth.setdefault(rel.count("/"), []).append(rel)
    reader = _data_reader(spark, man["schema"]).option("basePath", base)
    scans = [
        _with_positions(
            reader.parquet(*[fs.join(base, rel) for rel in rels]), depth
        )
        for depth, rels in sorted(by_depth.items())
    ]
    kind = _bloom_col_kind(scans[0].schema[col].dataType)
    df = functools.reduce(DataFrame.unionByName, [
        raw.select(F.col(col).cast("string").alias("__v"),
                   F.col(_POS_FILE_COL).alias("__rel"))
        for raw in scans
    ])
    # sizing pass: map-side partial counts, tiny counter shuffle
    counts = df.groupBy("__rel").count()
    n90 = counts.approxQuantile("count", [0.9], 0.05)[0]
    m, k = _bloom_params(int(n90), fpp)

    def partial(batches):
        import numpy as np
        import pandas as pd

        acc: dict[str, "np.ndarray"] = {}
        for pdf in batches:
            for rel, grp in pdf.groupby("__rel"):
                bits = acc.get(rel)
                if bits is None:
                    bits = acc[rel] = np.zeros(m // 8, dtype=np.uint8)
                _bloom_set_bits(bits, grp["__v"].dropna().unique(), m, k)
        yield pd.DataFrame(
            [{"rel": r, "bloom": b.tobytes()}
             for r, b in acc.items()],
            columns=["rel", "bloom"],
        )

    def merge(pdf):
        import numpy as np
        import pandas as pd

        agg = np.zeros(m // 8, dtype=np.uint8)
        for b in pdf["bloom"]:
            agg |= np.frombuffer(b, dtype=np.uint8)
        return pd.DataFrame(
            [{"rel": pdf["rel"].iloc[0], "bloom": agg.tobytes(),
              "n": 0, "m": m, "k": k}]
        )

    side = (
        df.mapInPandas(partial, "rel string, bloom binary")
        .groupBy("rel")
        .applyInPandas(merge, "rel string, bloom binary, n long, m int, k int")
    )
    sidecar_rel = f"{MANIFEST_DIR}/bloom_{col}_{gen}.parquet"
    sidecar = fs.join(base, sidecar_rel)
    # range-partitioned + sorted BY REL: a point lookup pushes
    # `rel IN (candidates)` into this read, and the sort makes parquet
    # file- and row-group-level min/max pruning bound the IO by the
    # candidate set, never the table (VERDICT r11 #1).  ~128 MB target
    # per sidecar file so a 100k-file table's index is itself sharded.
    nparts = max(1, -(-(len(entries) * (m // 8)) // (128 << 20)))
    (
        side.repartitionByRange(nparts, "rel")
        .sortWithinPartitions("rel")
        .write.mode("overwrite").parquet(sidecar)
    )
    doc = {"col": col, "generation": gen, "fpp": fpp,
           "sidecar": sidecar_rel, "kind": kind, "m": m, "k": k}
    fs.write_new(
        fs.join(_manifest_dir(fs, base), f"bloomdoc_{col}_{gen}.json"),
        json.dumps(doc, separators=(",", ":")).encode(),
    )
    n_files = spark.read.parquet(sidecar).count()
    return {"col": col, "generation": gen, "files_indexed": n_files,
            "sidecar": sidecar_rel, "m_bits": m, "k_hashes": k,
            "kind": kind}


def list_bloom_indexes(
    spark: SparkSession | None,
    root: str,
) -> list[dict]:
    """Every committed Bloom index doc on the table."""
    fs, base = table_fs(spark, root)
    mdir = _manifest_dir(fs, base)
    out = []
    if not fs.exists(mdir):
        return out
    for name in fs.listdir(mdir):
        if name.startswith("bloomdoc_") and name.endswith(".json"):
            out.append(json.loads(fs.read_bytes(fs.join(mdir, name))))
    return out


def _bloom_doc_mk(spark, fs, base, doc: dict) -> tuple[int, int]:
    """(m bits, k hashes) for an index doc — stored in the doc from
    round 12 on; a legacy doc falls back to one sidecar row (m and k
    are uniform across the sidecar by construction)."""
    if "m" in doc and "k" in doc:
        return int(doc["m"]), int(doc["k"])
    row = (
        spark.read.parquet(fs.join(base, doc["sidecar"]))
        .select("m", "k").head()
    )
    doc["m"], doc["k"] = int(row["m"]), int(row["k"])
    return doc["m"], doc["k"]


def _load_bloom_entries(
    spark: SparkSession, root: str, doc: dict, rels: list
) -> dict:
    """Bitmaps for exactly ``rels`` from one index sidecar —
    ``{rel: (bloom bytes, m, k) | None}`` (``None`` = not in the
    sidecar: the file postdates the index, so the caller keeps it).
    The read pushes ``rel IN (...)`` into the rel-range-partitioned,
    rel-sorted sidecar, so parquet file/row-group pruning bounds the
    IO by the CANDIDATE SET, never the table; hits land in the
    byte-bounded driver cache, negative hits included (VERDICT r11 #1
    — the old path collected every per-file bitmap)."""
    fs, base = table_fs(spark, root)
    base_key = (str(base), doc["col"], doc["generation"])
    out: dict = {}
    misses = []
    for rel in rels:
        key = base_key + (rel,)
        if key in _BLOOM_CACHE:
            _BLOOM_CACHE.move_to_end(key)
            out[rel] = _BLOOM_CACHE[key]
        else:
            misses.append(rel)
    if misses:
        rows = (
            spark.read.parquet(fs.join(base, doc["sidecar"]))
            .where(F.col("rel").isin(misses))
            .collect()
        )
        found = {
            r["rel"]: (bytes(r["bloom"]), int(r["m"]), int(r["k"]))
            for r in rows
        }
        for rel in misses:
            e = found.get(rel)
            out[rel] = e
            _bloom_cache_put(base_key + (rel,), e)
    return out


def _bloom_drop_distributed(
    spark: SparkSession, fs, base: str, doc: dict, rels: list,
    tests: list,
) -> set:
    """Membership test as a distributed job — the fallback when the
    candidate set's bitmaps would blow the driver byte budget.  Ships
    the (small) literal lists to the executors, inner-joins the sidecar
    against the broadcast candidate rels, and collects ONLY the dropped
    rel strings (bytes per file, never bitmaps).  ``tests`` is a list
    of value-lists: a file drops iff ANY list has EVERY value provably
    absent."""
    cand = spark.createDataFrame([(r,) for r in rels], "rel string")
    side = (
        spark.read.parquet(fs.join(base, doc["sidecar"]))
        .join(F.broadcast(cand), "rel", "inner")
        .select("rel", "bloom", "m", "k")
    )

    def probe(batches):
        import pandas as pd

        for pdf in batches:
            drops = []
            for rel, blm, m, k in zip(
                pdf["rel"], pdf["bloom"], pdf["m"], pdf["k"]
            ):
                e = (bytes(blm), int(m), int(k))
                if any(
                    all(not _bloom_might_contain(e, v) for v in vals)
                    for vals in tests
                ):
                    drops.append(rel)
            yield pd.DataFrame({"rel": pd.Series(drops, dtype=object)})

    return {
        r["rel"]
        for r in side.mapInPandas(probe, "rel string").collect()
    }


def _bloom_might_contain(entry: tuple, value) -> bool:
    blm, m, k = entry
    for p in _bloom_hashes(value, m, k):
        if not (blm[p >> 3] >> (p & 7)) & 1:
            return False
    return True


def _bloom_value_testable(kind, v) -> bool:
    """May literal ``v`` consult an index of ``kind``?  A kind
    mismatch (int literal on a string-indexed column) must NOT: Spark's
    coercion can match rows (``'05' = 5``) whose ``str()`` form never
    hashed (``'5'`` did) — mirroring the stats prune's ``_aligned``
    posture (ADVICE r11).  A legacy doc without a recorded kind keeps
    the pre-r12 int-or-str behavior."""
    if isinstance(v, bool):
        return False
    if kind == "int":
        return isinstance(v, int)
    if kind == "string":
        return isinstance(v, str)
    return isinstance(v, (int, str))


def _bloom_prune(
    spark: SparkSession,
    root: str,
    entries: list,
    where: list,
) -> list:
    """Drop entries whose Bloom filters prove every ``=``/``in``
    literal absent for some conjunct.  OR conjuncts, other ops, and
    kind-mismatched literals are untouched; files without an index
    entry are kept; a Bloom positive only means "might contain" (the
    residual filter still applies) — false positives cost IO, never
    correctness.

    Scale shape (VERDICT r11 #1): driver memory is bounded by the
    CANDIDATE SET (the stats-prune survivors this receives), never the
    table — cached bitmaps are fetched selectively with rel-pushdown
    into the rel-sorted sidecar, the cache is byte-bounded, and above
    ``_BLOOM_DRIVER_LOAD_MAX`` uncached bytes the membership test runs
    distributed and only dropped rel strings come back."""
    docs = list_bloom_indexes(spark, root)
    if not docs:
        return entries
    by_col: dict[str, dict] = {}
    for doc in docs:  # newest generation per column wins
        cur = by_col.get(doc["col"])
        if cur is None or doc["generation"] > cur["generation"]:
            by_col[doc["col"]] = doc
    # per indexed column: the conjuncts' literal lists, every literal
    # kind-testable (one untestable literal voids its whole conjunct —
    # absence can then never be proven for that conjunct)
    tests_by_col: dict[str, list[list]] = {}
    for c in where:
        if _is_or(c) or c[1] not in ("=", "==", "in") or c[0] not in by_col:
            continue
        col, op, val = c
        vals = list(val) if op == "in" else [val]
        if not vals:
            continue  # empty IN handled by the stats prune
        kind = by_col[col].get("kind")
        if all(_bloom_value_testable(kind, v) for v in vals):
            tests_by_col.setdefault(col, []).append(vals)
    if not tests_by_col:
        return entries
    fs, base = table_fs(spark, root)
    rels = [rel for rel, _ in entries]
    dropped: set = set()
    for col, tests in tests_by_col.items():
        doc = by_col[col]
        m, _ = _bloom_doc_mk(spark, fs, base, doc)
        base_key = (str(base), col, doc["generation"])
        uncached = sum(
            1 for rel in rels if base_key + (rel,) not in _BLOOM_CACHE
        )
        if (uncached * (m // 8) > _BLOOM_DRIVER_LOAD_MAX
                or uncached > _BLOOM_DRIVER_LOAD_MAX_RELS):
            dropped |= _bloom_drop_distributed(
                spark, fs, base, doc, rels, tests
            )
            continue
        blooms = _load_bloom_entries(spark, root, doc, rels)
        for rel in rels:
            if rel in dropped:
                continue
            e = blooms.get(rel)
            if e is None:
                continue  # file added after the index — keep
            if any(
                all(not _bloom_might_contain(e, v) for v in vals)
                for vals in tests
            ):
                dropped.add(rel)
    if not dropped:
        return entries
    return [[rel, sz] for rel, sz in entries if rel not in dropped]
