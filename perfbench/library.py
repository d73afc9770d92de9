"""The library-lifecycle workloads: seeded synthetic audio library, the
daily delta, and the import → curate → export loop driven through the
program's public functions.

The loop is the one a tagminder user runs every day: import tags from the
files into the ``alib`` table, run the numbered cleanup steps (each one
diff-audited, merged into the table and logged to the changelog), write
the changed tags back to the files, and clear the dirty flag.
"""

from __future__ import annotations

import os
import random
from dataclasses import dataclass, field

#: Tag columns pivoted out of the parsed tag map into ``alib``, and the
#: ones export writes back.  ``export.file_writer`` replaces a file's tag
#: section with exactly the row's tags, so a column left out here would be
#: deleted from every exported file and re-imported blank the next cycle.
COLUMNS = (
    "title", "subtitle", "artist", "albumartist", "album", "composer",
    "writer", "genre", "style", "year", "originalyear", "track",
    "discnumber", "live", "compilation", "releasetype", "track_uuid",
    "work", "movement", "grouping",
)

#: The curate steps a daily cycle runs: step 16 (track UUIDs), one of the
#: twelve ``app.runner`` runs without dimension frames.  Each step is its
#: own set of commits (4-7 s of Spark jobs on a 4-core host), so the
#: twelve (~57 s) do not fit one benchmark run.
STEPS = ("16",)

#: Extensions of the seven container families the reference's scanner
#: reads (``tags2db.py``'s extension set), in equal shares: no evidence
#: weights one above another.
FAMILIES = (".flac", ".mp3", ".m4a", ".ogg", ".wv", ".ape", ".aiff")
#: ASF/WMA, the eighth family, is outside that set, so it gets a small
#: share of the standing library (1 file in ``ASF_EVERY``) and no new files.
ASF, ASF_EVERY = ".wma", 100
EXTS = FAMILIES + (ASF,)

#: Synthetic files carry fixed mtimes so the same seed gives the same
#: library byte for byte and the incremental scans see a stable history.
BASE_MTIME = 1_600_000_000
DELTA_MTIME = 1_700_000_000

#: Shares of the library one daily delta retags, adds and deletes.
RETAG, ADD, DELETE = 0.01, 0.005, 0.002

_MV = "\\\\"
_GENRES = ("Rock", "Jazz", "Electronic", "Folk", "Ambient", "Blues")
_WORDS = ("night", "river", "the", "of", "light", "a", "song", "in", "dream")
_CLEAN_WORDS = ("Night", "River Light", "Blue Dream", "Morning", "Stone Road")


@dataclass
class Delta:
    """What one daily delta did to the library on disk."""

    retagged: list[str] = field(default_factory=list)
    added: list[str] = field(default_factory=list)
    deleted: list[str] = field(default_factory=list)


def _album_dirs(root: str, n_files: int, rng: random.Random) -> list[tuple]:
    """(dir, artist, albumartist) for about one album per 16 files; a third
    of the albums split into disc subfolders.  The albumartist is what a
    retagged file carries: often blank or "Various Artists"."""
    out = []
    for a in range(max(8, n_files // 16)):
        artist = f"Artist {a % 37}"
        kind = rng.random()
        albumartist = (
            "" if kind < 0.3 else "Various Artists" if kind < 0.4 else artist
        )
        d = os.path.join(root, f"Artist_{a % 37}", f"Album_{a:03d}")
        if a % 3 == 0:
            d = os.path.join(d, f"Disc_{a % 2 + 1}")
        out.append((d, artist, albumartist))
    return out


def clean_tags(i: int, album: tuple) -> dict[str, str]:
    """Tags of a standing-library file: already in the form the 12 steps
    leave them, so the set-up import stands in for a curated library."""
    _, artist, _ = album
    return {
        "title": f"Song {i} {_CLEAN_WORDS[i % len(_CLEAN_WORDS)]}",
        "artist": artist,
        "albumartist": artist,
        "album": f"Album {i % 97}",
        "composer": f"Comp {i % 11}",
        "genre": _GENRES[i % len(_GENRES)],
        "track": str(i % 15 + 1),
        "year": str(1980 + i % 40),
        "compilation": "0",
        "releasetype": "Studio Album",
        "track_uuid": f"01890000-0000-7000-8000-{i:012d}",
    }


def file_tags(
    i: int, album: tuple, rng: random.Random, new: bool = False
) -> dict[str, str]:
    """One retagged or new file's tags, with the dirty shapes the 12
    steps fix (text noise, brackets, live markers, duplicate and merged
    multi-values, odd dates, release types, missing track UUIDs).  A new
    file never carries a track UUID; a retagged one has lost it half the
    time."""
    _, artist, albumartist = album
    words = " ".join(rng.choice(_WORDS) for _ in range(3))
    title = f"song {i} {words}" if rng.random() < 0.3 else f"Song {i} {words.title()}"
    r = rng.random()
    if r < 0.1:
        title += "   "
    elif r < 0.2:
        title += "\r\n"
    elif r < 0.3:
        title += " [Remix]"
    elif r < 0.4:
        title += " (Live)"
    tags = {
        "title": title,
        "artist": artist if rng.random() < 0.7 else f"{artist}{_MV}{artist}",
        "albumartist": albumartist,
        "album": f"Album {i % 97}",
        "composer": "" if rng.random() < 0.2 else f"Comp {i % 11}",
        "genre": rng.choice(_GENRES)
        if rng.random() < 0.7 else f"Rock{_MV}Rock{_MV}Pop",
        "track": str(i % 15 + 1),
        "discnumber": "1" if rng.random() < 0.5 else "",
        "year": rng.choice(("1987", "1999/03/07", f"2001{_MV}2001", "1994")),
        "releasetype": rng.choice(("", "album", "Studio Album", "ep")),
    }
    if rng.random() < 0.3:
        tags["writer"] = f"Writer {i % 9}"
    if rng.random() < 0.5 and not new:
        tags["track_uuid"] = f"01890000-0000-7000-8000-{i:012d}"
    return {k: v for k, v in tags.items() if v}


def build_file(ext: str, tags: dict[str, str], seconds: int) -> bytes:
    """Container bytes for one file through the ``synth`` builders."""
    from tagminder_spark.sources.audiotags import synth as S

    if ext == ".mp3":
        return S.build_mp3_with_xing(tags, xing_frames=seconds * 38)
    if ext == ".flac":
        return S.build_flac(44100 * seconds, list(tags.items()), audio_bytes=64)
    if ext == ".ogg":
        return S.build_ogg_vorbis(list(tags.items()), 44100 * seconds)
    if ext == ".m4a":
        return S.build_m4a(tags, seconds)
    if ext == ".aiff":
        return S.build_aiff(tags, seconds)
    if ext == ".wma":
        return S.build_asf(tags, seconds)
    if ext == ".ape":
        return S.build_ape(tags, seconds)
    return S.build_wavpack(tags, seconds)


def _write(path: str, data: bytes, mtime: int) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "wb") as fh:
        fh.write(data)
    os.utime(path, (mtime, mtime))


def synth_library(root: str, n_files: int, seed: int) -> list[str]:
    """Write ``n_files`` seeded files under ``root``; returns their paths.
    The same (n_files, seed) writes the same bytes and mtimes."""
    rng = random.Random(seed)
    albums = _album_dirs(root, n_files, rng)
    paths = []
    for i in range(n_files):
        album = albums[rng.randrange(len(albums))]
        ext = ASF if i % ASF_EVERY == 0 else FAMILIES[i % len(FAMILIES)]
        path = os.path.join(album[0], f"{i:05d}_track{ext}")
        _write(path, build_file(ext, clean_tags(i, album), 30 + i % 300),
               BASE_MTIME + i)
        paths.append(path)
    return paths


def make_delta(root: str, paths: list[str], seed: int, tick: int = 0) -> Delta:
    """Apply one seeded daily delta in place: retag ``RETAG`` of the files
    with fresh dirty tags, add ``ADD`` new files, delete ``DELETE``.
    ``paths`` (the live file list) is updated; ``tick`` numbers
    successive deltas on one library."""
    rng = random.Random(seed * 1_000_003 + tick)
    n = len(paths)
    albums = _album_dirs(root, n, random.Random(seed))
    chosen = rng.sample(range(n), max(1, round(n * (RETAG + DELETE))))
    n_del = max(1, round(n * DELETE))
    d = Delta()
    mtime = DELTA_MTIME + tick
    for j in sorted(chosen[n_del:]):
        p = paths[j]
        ext = os.path.splitext(p)[1]
        album = (os.path.dirname(p), f"Artist {j % 37}", "")
        _write(p, build_file(ext, file_tags(j, album, rng), 40), mtime)
        d.retagged.append(p)
    for j in sorted(chosen[:n_del], reverse=True):
        os.remove(paths[j])
        d.deleted.append(paths.pop(j))
    for k in range(max(1, round(n * ADD))):
        i = 100_000 * (tick + 1) + k
        album = albums[rng.randrange(len(albums))]
        ext = FAMILIES[(tick + k) % len(FAMILIES)]
        p = os.path.join(album[0], f"{i:06d}_new{ext}")
        _write(p, build_file(ext, file_tags(i, album, rng, new=True), 50), mtime)
        paths.append(p)
        d.added.append(p)
    d.deleted.reverse()
    return d


class Lifecycle:
    """One library on disk, its ``alib`` table and changelog, and the
    operations of the daily loop.  Each operation is wrapped in tracer
    spans named after the layer it calls into."""

    def __init__(self, spark, tracer, lib_root: str, table: str, changelog: str):
        self.spark = spark
        self.t = tracer
        self.lib = lib_root
        self.table = table
        self.clog = changelog
        #: rows the last ``import_delta`` deleted as orphans
        self.rows_deleted = 0

    # -- sources -------------------------------------------------------

    def _alib_rows(self, scanned):
        from pyspark.sql import functions as F

        from tagminder_spark.sources.catalog import parse_tags, tags_to_columns

        with self.t.span("sources.parse"):
            parsed = tags_to_columns(parse_tags(scanned.select("path")), list(COLUMNS))
        return (
            parsed.join(
                scanned.select(
                    F.col("path").alias("__path"),
                    F.col("mtime_epoch").cast("string").alias("__file_mod_datetime_raw"),
                ),
                "__path",
            )
            .withColumn("__dirpath", F.regexp_replace("__path", "/[^/]+$", ""))
            .withColumn("__sqlmodded", F.lit(None).cast("int"))
        )

    def import_full(self) -> None:
        """Files on disk → a committed, versioned ``alib`` table."""
        from tagminder_spark.operators.table_manifest import init_manifest
        from tagminder_spark.sources.catalog import scan_files

        with self.t.span("sources.scan"):
            scanned = scan_files(self.spark, self.lib)
        alib = self._alib_rows(scanned)
        with self.t.span("table_manifest.write"):
            alib.orderBy("__path").write.parquet(self.table)
        with self.t.span("table_manifest.init"):
            init_manifest(self.spark, self.table, stats_cols=("__path",),
                          string_bound_len=64)

    def import_delta(self) -> None:
        """The incremental import: new ∪ modified files parsed and merged,
        orphans (files gone from disk) deleted."""
        from tagminder_spark.operators.table_manifest import (
            delete_where,
            merge_into_manifest,
            snapshot_read,
        )
        from tagminder_spark.sources.catalog import (
            incremental_modified,
            incremental_new,
            prune_orphans,
            scan_files,
        )

        with self.t.span("sources.scan"):
            scanned = scan_files(self.spark, self.lib)
        with self.t.span("table_manifest.read"):
            existing = snapshot_read(self.spark, self.table)
        with self.t.span("sources.incremental"):
            delta = incremental_new(scanned, existing).unionByName(
                incremental_modified(scanned, existing)
            )
        rows = self._alib_rows(delta)
        with self.t.span("table_manifest.merge"):
            merge_into_manifest(self.spark, self.table, rows.select(*existing.columns))
        with self.t.span("sources.incremental"):
            gone = [
                r["__path"]
                for r in prune_orphans(existing, scanned).select("__path").collect()
            ]
        self.rows_deleted = 0
        if gone:
            with self.t.span("table_manifest.delete"):
                res = delete_where(self.spark, self.table, [("__path", "in", gone)])
            self.rows_deleted = res["rows_deleted"]

    # -- pipeline ------------------------------------------------------

    def curate(self) -> None:
        """Each step through the runner's diff-audit protocol, committed
        on its own: ``run_named_step`` → ``merge_into_manifest`` of the
        updated rows → ``append_files`` of its changelog."""
        from tagminder_spark.app.runner import run_named_step
        from tagminder_spark.operators.table_manifest import (
            append_files,
            merge_into_manifest,
            snapshot_read,
        )

        for num in STEPS:
            with self.t.span(f"pipeline.step{num}"):
                with self.t.span("table_manifest.read"):
                    cur = snapshot_read(self.spark, self.table)
                with self.t.span("pipeline.plan"):
                    updated, changelog = run_named_step(num, cur)
                with self.t.span("table_manifest.merge"):
                    merge_into_manifest(self.spark, self.table, updated)
                with self.t.span("table_manifest.append"):
                    append_files(self.spark, changelog, self.clog,
                                 partition_col=None)

    # -- export --------------------------------------------------------

    def export(self) -> None:
        """Write dirty rows back to their files, then clear the flag."""
        from pyspark.sql import functions as F

        from tagminder_spark.operators.table_manifest import (
            merge_into_manifest,
            snapshot_read,
        )
        from tagminder_spark.sources.export import (
            export_projection,
            export_tags,
            reset_sqlmodded,
        )

        with self.t.span("table_manifest.read"):
            final = snapshot_read(self.spark, self.table)
        with self.t.span("export"):
            proj = export_projection(final, list(COLUMNS))
            export_tags(proj.filter(F.col("__sqlmodded") > 0))
        with self.t.span("table_manifest.merge"):
            dirty = final.filter(F.col("__sqlmodded").isNotNull())
            merge_into_manifest(self.spark, self.table, reset_sqlmodded(dirty))

    # -- output checks (outside the timed region) ----------------------

    def check(self, clog_gen_before: int) -> dict[str, str]:
        """Check one cycle's outputs; returns {operation: reason} for each
        operation whose output is wrong.  Operations are ``import``,
        ``export`` and ``stepNN``."""
        from tagminder_spark.operators.table_manifest import snapshot_read
        from tagminder_spark.sources.catalog import (
            parse_tags,
            scan_files,
            tags_to_columns,
        )

        committed = {
            r["__path"]: r.asDict()
            for r in snapshot_read(self.spark, self.table).collect()
        }
        failures: dict[str, str] = {}
        on_disk = list_files(self.lib)
        if len(committed) != len(on_disk):
            failures["import"] = (
                f"{len(committed)} committed rows for {len(on_disk)} files"
            )

        reparsed = tags_to_columns(
            parse_tags(scan_files(self.spark, self.lib).select("path")),
            list(COLUMNS),
        ).collect()
        bad = [
            (r["__path"], c)
            for r in reparsed
            if r["__path"] in committed
            for c in COLUMNS
            if _norm(r[c]) != _norm(committed[r["__path"]][c])
        ]
        if bad:
            exts = sorted({os.path.splitext(p)[1] for p, _ in bad})
            failures["export"] = (
                f"{len(bad)} (file, column) values differ from the table "
                f"in {' '.join(exts)} files only, e.g. {bad[0]}"
            )

        latest: dict[tuple[str, str], tuple[str, str | None]] = {}
        for _gen, rows in changelog_rows(self.spark, self.clog, clog_gen_before):
            for r in rows:
                latest[(r["alib_path"], r["alib_column"])] = (
                    r["script"], r["new_value"]
                )
        by_script: dict[str, int] = {}
        for (path, col), (script, value) in latest.items():
            row = committed.get(path)
            if row is not None and _norm(row.get(col)) != _norm(value):
                by_script[script] = by_script.get(script, 0) + 1
        for script, n in by_script.items():
            failures[f"step{script[:2]}"] = (
                f"{n} latest changelog values differ from the committed "
                f"table ({script})"
            )
        return failures


def _norm(v) -> str | None:
    """diff_audit's comparison form: blank → NULL, else the string."""
    return None if v is None or str(v).strip() == "" else str(v)


def list_files(root: str) -> list[str]:
    return [
        os.path.join(d, f) for d, _, files in os.walk(root) for f in files
    ]


def disk_state(root: str) -> dict[str, tuple[int, int]]:
    """path → (size, mtime_ns) for every file under ``root``."""
    out = {}
    for p in list_files(root):
        st = os.stat(p)
        out[p] = (st.st_size, st.st_mtime_ns)
    return out


def written(before: dict, after: dict) -> tuple[int, int]:
    """(files, bytes) that are new or changed between two disk states."""
    changed = [p for p, v in after.items() if before.get(p) != v]
    return len(changed), sum(after[p][0] for p in changed)


def generation(spark, root: str) -> int:
    """The table's current generation; 0 before its first commit."""
    from tagminder_spark.operators.table_manifest import read_manifest

    if not os.path.isdir(os.path.join(root, "_manifest")):
        return 0
    return read_manifest(spark, root)["generation"]


def commits_since(spark, root: str, gen_before: int) -> list[dict]:
    """One record per commit after ``gen_before``: its op, the data files
    it added and removed, and the CDC change files it wrote."""
    import json

    from tagminder_spark.operators.table_manifest import read_manifest

    out = []
    gen_after = generation(spark, root)
    prev = {
        rel for rel, _ in read_manifest(spark, root, gen_before)["files"]
    } if gen_before else set()
    for gen in range(gen_before + 1, gen_after + 1):
        with open(os.path.join(root, "_manifest", f"v{gen:010d}.json")) as fh:
            raw = json.load(fh)
        files = {rel: size for rel, size in read_manifest(spark, root, gen)["files"]}
        out.append({
            "generation": gen,
            "op": raw.get("op", ""),
            "added": [(rel, files[rel]) for rel in files if rel not in prev],
            "removed": len(prev - set(files)),
            "changes": [rel for rel, *_ in raw.get("changes", [])],
        })
        prev = set(files)
    return out


def parquet_rows(root: str, rels: list[str]) -> int:
    import pyarrow.parquet as pq

    return sum(
        pq.ParquetFile(os.path.join(root, rel)).metadata.num_rows for rel in rels
    )


def changelog_rows(spark, clog: str, gen_before: int):
    """(generation, rows) for every changelog commit after ``gen_before``,
    oldest first, read from the committed files."""
    import pyarrow.parquet as pq

    for c in commits_since(spark, clog, gen_before):
        rows = []
        for rel, _ in c["added"]:
            rows += pq.read_table(os.path.join(clog, rel)).to_pylist()
        yield c["generation"], rows
