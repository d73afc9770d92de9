"""File-catalog source: the reference's ingest scan re-expressed on
Spark's distributed file listing.

Reference parity (SURVEY.md §2.1, file:line into /root/reference):
- S1/S2 recursive multi-root scan with extension filter
  (scripts/ingest/tags2db.py:418-475) → ``binaryFile`` source with
  pathGlobFilter; Spark parallelizes listing natively, replacing the
  hand-rolled thread pool.
- S6 ``--new-files``   (tags2db.py:955-977)  → left_anti join on path.
- S7 ``--modified-files`` (tags2db.py:980-1019) → inner join + mtime
  comparison (the stored mtime is text epoch seconds, per FIXTURES.md).
- S8 ``--prunedb``     (tags2db.py:1022-1079) → reverse left_anti.
- S3 tag parse (tags2db.py:478-512) → ``parse_tags``: mapInPandas over
  (path, content); the real parser (mutagen) is gated behind import-try
  since the container lacks audio libs — the Spark-side plumbing (schema,
  batching, column fan-out) is real and tested with the fallback parser.

Scale: listing 100 TB of files is itself a distributed job here (the
binaryFile source splits listing across executors); the anti/semi joins
shuffle only (path, mtime) pairs, never content.
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

AUDIO_EXTENSIONS = (".flac", ".wv", ".m4a", ".aiff", ".ape", ".mp3", ".ogg")


def scan_files(
    spark: SparkSession,
    root: str,
    glob: str | None = None,
    with_content: bool = False,
) -> DataFrame:
    """Distributed recursive scan → (path, mtime_epoch, size[, content])."""
    reader = (
        spark.read.format("binaryFile").option("recursiveFileLookup", "true")
    )
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    df = reader.load(root)
    cols = [
        # binaryFile yields file:/abs/path URIs; strip the scheme so paths
        # compare with the catalog's plain-path identity.
        F.regexp_replace(F.col("path"), "^file:", "").alias("path"),
        F.col("modificationTime").cast("long").alias("mtime_epoch"),
        F.col("length").alias("size"),
    ]
    if with_content:
        cols.append(F.col("content"))
    return df.select(*cols)


def stream_scan_files(
    spark: SparkSession,
    root: str,
    glob: str | None = None,
    with_content: bool = True,
) -> DataFrame:
    """Streaming variant of :func:`scan_files`: ``readStream`` over the
    binaryFile source picks up NEW files as they land — the continuous
    form of the S6 incremental-new scan (tags2db.py:955-977).  Feed the
    result through :func:`parse_tags` (stateless mapInPandas composes
    with streaming) and a sink for a live ingest pipeline; watermarking
    is unnecessary because file discovery is append-only."""
    reader = (
        spark.readStream.format("binaryFile")
        .schema(
            "path string, modificationTime timestamp, "
            "length long, content binary"
        )
        .option("recursiveFileLookup", "true")
    )
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    df = reader.load(root)
    cols = [
        F.regexp_replace(F.col("path"), "^file:", "").alias("path"),
        F.col("modificationTime").cast("long").alias("mtime_epoch"),
        F.col("length").alias("size"),
    ]
    if with_content:
        cols.append(F.col("content"))
    return df.select(*cols)


def incremental_new(scanned: DataFrame, existing: DataFrame) -> DataFrame:
    """Paths on disk but not in the catalog (S6 --new-files)."""
    return scanned.join(
        existing.select(F.col("__path").alias("path")), "path", "left_anti"
    )


def incremental_modified(scanned: DataFrame, existing: DataFrame) -> DataFrame:
    """Paths whose filesystem mtime is newer than the stored one (S7)."""
    ex = existing.select(
        F.col("__path").alias("path"),
        F.col("__file_mod_datetime_raw").cast("double").alias("db_mtime"),
    )
    return (
        scanned.join(ex, "path", "inner")
        .filter(
            F.col("db_mtime").isNull()
            | (F.col("mtime_epoch").cast("double") > F.col("db_mtime"))
        )
        .drop("db_mtime")
    )


def prune_orphans(existing: DataFrame, scanned: DataFrame) -> DataFrame:
    """Catalog rows whose path no longer exists on disk (S8 --prunedb)."""
    return existing.join(
        scanned.select(F.col("path").alias("__path")), "__path", "left_anti"
    )


# ---------------------------------------------------------------------------
# tag parsing (S3)
# ---------------------------------------------------------------------------

PARSED_SCHEMA = (
    "path string, __filetype string, __length_seconds string, "
    "tags map<string,string>"
)


def _parse_one(path: str, content: bytes | None) -> dict:
    """Parse one file's tags — the REAL byte-level path.

    Dispatch order:
    1. ``audiotags.parse_audio`` — the in-repo pure-Python parser
       (ID3v2/v1, FLAC, Ogg Vorbis/Opus, MP4, APEv2, ASF, AIFF; see
       ``sources/audiotags/``).  Needs only the raw bytes, so it works
       in any environment; reads from ``path`` when the catalog frame
       carries no content column.
    2. Deterministic fallback for unrecognized bytes (ext, size-derived
       length, basename title, ``__size`` overflow tag) — keeps the
       plumbing testable on non-audio content and never drops a file.
    """
    from tagminder_spark.sources import audiotags
    from tagminder_spark.sources.audiotags.lazyio import open_for_parse

    data = content if content is None else bytes(content)
    lazy = None
    if data is None:
        try:
            # bounded IO: reads head/tail blocks on demand, never the
            # audio stream — ~100× less scan IO than a full read at
            # library scale (see audiotags/lazyio.py)
            lazy = data = open_for_parse(path)
        except OSError:
            data = None
    try:
        parsed = (
            audiotags.parse_audio(path, data) if data is not None else None
        )
    except Exception:
        # malformed container bytes must degrade to the fallback row,
        # never crash the Spark task — the 'never drops a file' contract
        parsed = None
    finally:
        if lazy is not None:
            lazy.close()
    if parsed is not None:
        return {
            "path": path,
            "__filetype": parsed.get("__filetype", ""),
            "__length_seconds": parsed.get("__length_seconds", ""),
            "tags": {
                k: v
                for k, v in parsed.items()
                if k not in ("__filetype", "__length_seconds")
            },
        }
    ext = path.rsplit(".", 1)[-1].lower() if "." in path else ""
    size = len(data) if data is not None else 0
    return {
        "path": path,
        "__filetype": ext,
        "__length_seconds": str(size % 600),
        "tags": {"title": path.rsplit("/", 1)[-1], "__size": str(size)},
    }


def parse_tags(files: DataFrame) -> DataFrame:
    """mapInPandas tag extraction over a (path[, content]) catalog frame.

    One Arrow batch in, one out; per-file work is embarrassingly parallel,
    so throughput scales with executors — the Spark answer to the
    reference's per-drive process pools (tags2db.py:1253-1304).

    The input is coalesced to ``defaultParallelism`` (one task per core)
    first: every Python task pays a fixed worker set-up (~250-330 ms on
    a 4-core host), so an incremental import's few changed files spread
    over 20 upstream partitions cost 5 waves of set-up for no extra
    parallelism.  A coalesce is a narrow dependency — no shuffle, no
    extra job — and never raises the partition count.
    """
    n = files.sparkSession.sparkContext.defaultParallelism
    return files.coalesce(n).mapInPandas(
        parse_tags_kernel("content" in files.columns), PARSED_SCHEMA
    )


def parse_tags_kernel(has_content: bool = True):
    """The :func:`parse_tags` pandas kernel as a composable factory
    (``session.fuse_pandas``): the real-parse gate fuses synth → parse
    into one Python worker per task so the synthesized container bytes
    never cross the Arrow boundary (guide §4)."""
    import pandas as pd

    def run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            rows = [
                _parse_one(
                    r.path, r.content if has_content else None
                )
                for r in pdf.itertuples()
            ]
            yield pd.DataFrame(rows)

    return run


def tags_to_columns(parsed: DataFrame, columns: list[str]) -> DataFrame:
    """Pivot the tags map onto the fixed column contract (the TOML
    schema_columns list); unknown keys stay in the map — the overflow
    strategy SURVEY.md §7.4(5) recommends for dynamic schema."""
    out = parsed.select(
        F.col("path").alias("__path"),
        "__filetype",
        "__length_seconds",
        *[F.col("tags").getItem(c).alias(c) for c in columns],
        F.map_filter(F.col("tags"), lambda k, _: ~k.isin(*columns)).alias(
            "__extra_tags"
        ),
    )
    return out


# ---------------------------------------------------------------------------
# dynamic schema evolution (S-evolve: unknown-tag overflow → real columns)
# ---------------------------------------------------------------------------
# Reference: tags2db.py:295-311 (ColumnOrderTracker discovers first-seen
# tag keys at ingest) and :655-671 (ALTER TABLE adds the missing TEXT
# columns). Spark re-expression: unknown tags land in the __extra_tags
# MapType overflow (tags_to_columns); discovery is one distinct over
# exploded map keys; "ALTER TABLE" is a projection that materializes map
# entries as real columns; historical parquet written before the
# promotion reads through mergeSchema with NULLs for the new columns.

EXTRA_TAGS_COL = "__extra_tags"


def discover_new_tags(frame: DataFrame, min_files: int = 1) -> list[str]:
    """First-seen tag keys living in the overflow map, orderd by first
    appearance cardinality (desc) then name — the distributed analogue of
    ColumnOrderTracker. ``min_files`` filters one-off junk keys."""
    if EXTRA_TAGS_COL not in frame.columns:
        return []
    counts = (
        frame.select(F.explode(F.map_keys(F.col(EXTRA_TAGS_COL))).alias("k"))
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= min_files)
        .orderBy(F.col("n").desc(), F.col("k"))
    )
    return [r["k"] for r in counts.collect()]


def promote_extra_tags(frame: DataFrame, new_cols: list[str]) -> DataFrame:
    """The ALTER-TABLE analogue: materialize the named overflow keys as
    real (string) columns and remove them from the map. Pure projection —
    zero shuffle; at 100 TB this is a metadata-cheap rewrite that rides
    along with the next merge."""
    clash = [c for c in new_cols if c in frame.columns]
    if clash:
        raise ValueError(f"columns already exist: {clash}")
    out = frame.select(
        "*",
        *[F.col(EXTRA_TAGS_COL).getItem(c).alias(c) for c in new_cols],
    )
    return out.withColumn(
        EXTRA_TAGS_COL,
        F.map_filter(F.col(EXTRA_TAGS_COL), lambda k, _: ~k.isin(*new_cols)),
    )

