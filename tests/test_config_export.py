"""Config contract, SQL function registration, and export sink tests."""

from __future__ import annotations

import pytest

from tagminder_spark.config import default_config, load_config
from tagminder_spark.functions.sqlreg import (
    album_root_from_path_py,
    album_root_py,
    register_sql_functions,
    tokens_py,
)
from tagminder_spark.sources.export import (
    decode_mv_for_write,
    export_projection,
    export_tags,
)

D = "\\\\"


def test_default_config_contract():
    cfg = default_config()
    assert cfg.schema_columns.count("__path") == 1
    assert "__sqlmodded" in cfg.schema_columns
    assert "__path" in cfg.system_columns
    assert "title" in cfg.tag_columns
    assert cfg.delimiter == D


def test_load_config_partial(tmp_path):
    p = tmp_path / "t.toml"
    p.write_text(
        """
[columns]
schema_columns = ["__path", "__sqlmodded", "title", "artist"]
[cleanup]
keep_columns = ["title"]
[strings]
multivalue_delimiter = "\\\\\\\\"
"""
    )
    cfg = load_config(p)
    assert cfg.schema_columns == ["__path", "__sqlmodded", "title", "artist"]
    assert cfg.keep_columns == ["title"]
    assert cfg.delimiter == D


def test_load_config_validates(tmp_path):
    p = tmp_path / "bad.toml"
    p.write_text('[columns]\nschema_columns = ["title"]\n')
    with pytest.raises(ValueError):
        load_config(p)


def test_album_root_scalar_twins():
    assert album_root_py("/m/Album X/CD1") == "/m/Album X"
    assert album_root_py("/m/Album X/disc 02") == "/m/Album X"
    assert album_root_py("/m/Album X") == "/m/Album X"
    assert album_root_from_path_py("/m/A/cd2/01.flac") == "/m/A"
    assert tokens_py(f"a{D}b{D}a{D} ") == ["a", "b"]


def test_sql_registration(spark):
    register_sql_functions(spark)
    row = spark.sql(
        "SELECT album_root('/m/X/CD1') AS r, is_blank('  ') AS b, "
        f"mv_tokens('a{D * 2}b') AS t"
    ).collect()[0]
    assert row.r == "/m/X"
    assert row.b is True
    assert row.t == ["a", "b"]


def test_export_projection_and_sink(spark):
    alib = spark.createDataFrame(
        [
            ("/m/a/1.flac", "/m/a", "T1", "secret", 1),
            ("/m/a/2.flac", "/m/a", "T2", "secret", 0),
            ("/m/b/1.flac", "/m/b", "T3", "secret", 2),
        ],
        "__path string, __dirpath string, title string, badcol string, __sqlmodded int",
    )
    changelog = spark.createDataFrame(
        [("/m/a/1.flac",), ("/m/b/1.flac",)], "alib_path string"
    )
    out = export_projection(alib, ["title"], changelog, changed_rows_only=True)
    assert set(out.columns) == {"__path", "__dirpath", "__sqlmodded", "title"}
    assert {r["__path"] for r in out.collect()} == {"/m/a/1.flac", "/m/b/1.flac"}

    acc = spark.sparkContext.accumulator(0)

    def recorder(rows):
        n = sum(1 for _ in rows)
        acc.add(n)

    export_tags(out, recorder)
    assert acc.value == 2


def test_export_default_writer_raises(spark):
    df = spark.createDataFrame(
        [("/m/a/1.flac", "/m/a")], "__path string, __dirpath string"
    )
    with pytest.raises(Exception):
        export_tags(df)


def test_decode_mv_for_write():
    assert decode_mv_for_write(None) is None
    assert decode_mv_for_write("  ") is None
    assert decode_mv_for_write("a") == ["a"]
    assert decode_mv_for_write(f"a{D}b") == ["a", "b"]


def test_bucketed_join_has_no_shuffle(spark, tmp_path):
    """Co-located bucketed tables join with zero Exchange operators."""
    from tagminder_spark.operators.scale import write_bucketed

    a = spark.range(1000).selectExpr("id AS k", "id * 2 AS va")
    b = spark.range(1000).selectExpr("id AS k", "id * 3 AS vb")
    write_bucketed(a, "t_bucket_a", ["k"], 4, str(tmp_path / "a"))
    write_bucketed(b, "t_bucket_b", ["k"], 4, str(tmp_path / "b"))
    try:
        joined = (
            spark.table("t_bucket_a")
            .hint("merge")
            .join(spark.table("t_bucket_b"), "k")
        )
        assert joined.count() == 1000
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange hashpartitioning" not in plan
        assert "SortMergeJoin" in plan
    finally:
        spark.sql("DROP TABLE IF EXISTS t_bucket_a")
        spark.sql("DROP TABLE IF EXISTS t_bucket_b")


def test_schema_evolution_ingest_survives_diff_audit(spark, tmp_path):
    """A tag key unknown to the contract appears at ingest, overflows to
    __extra_tags, is promoted to a real column (config-gated), historical
    rows read as NULL through mergeSchema, and the new column runs through
    the diff-audit merge loop like any contract column."""
    from pyspark.sql import functions as F

    from tagminder_spark.config import default_config, evolve_alib_schema
    from tagminder_spark.operators.diff_audit import diff_audit
    from tagminder_spark.operators.table_manifest import (
        append_files,
        init_manifest,
        merge_into_manifest,
        snapshot_read,
    )

    cfg = default_config()
    table = str(tmp_path / "alib")

    # generation 1: contract columns only
    spark.createDataFrame(
        [("p1", "T1", 0)], "__path string, title string, __sqlmodded int"
    ).write.parquet(table)
    init_manifest(spark, table)

    # generation 2: ingest batch carrying an unknown tag key "mood"
    batch = spark.createDataFrame(
        [("p2", "T2", 0, {"mood": "calm\r\n"}), ("p3", "T3", 0, {"mood": "loud"})],
        "__path string, title string, __sqlmodded int,"
        " __extra_tags map<string,string>",
    )
    evolved, promoted = evolve_alib_schema(batch, cfg)
    assert promoted == ["mood"]
    assert evolved.filter(F.col("mood").isNull()).count() == 0
    # promoted keys leave the overflow map
    assert evolved.select(F.size(F.map_keys("__extra_tags"))).collect()[0][0] == 0

    append_files(spark, evolved.drop("__extra_tags"), table, partition_col=None)

    # mergeSchema union: old rows NULL for the promoted column
    spark.conf.set("spark.sql.parquet.mergeSchema", "true")
    try:
        alib = snapshot_read(spark, table)
        assert "mood" in alib.columns and alib.count() == 3
        assert alib.filter(F.col("__path") == "p1").collect()[0]["mood"] is None

        # the promoted column flows through a diff-audited step + merge
        from tagminder_spark.pipeline import step02_clean_text

        updated, changelog = diff_audit(
            alib, step02_clean_text(alib, ("mood",)), "__path", ["mood"],
            script="02",
        )
        assert [r.alib_column for r in changelog.collect()] == ["mood"]
        merge_into_manifest(spark, table, updated, "__path")
        after = {
            r["__path"]: r["mood"] for r in snapshot_read(spark, table).collect()
        }
    finally:
        spark.conf.unset("spark.sql.parquet.mergeSchema")
    assert after == {"p1": None, "p2": "calm", "p3": "loud"}

    # gate off → no promotion
    from dataclasses import replace

    assert evolve_alib_schema(batch, replace(cfg, schema_evolution=False))[1] == []


def test_export_reset_round_trip(spark):
    """export → reset → zero rows still flagged (99-reset-sqlmodded.py:46-50)."""
    from pyspark.sql import functions as F

    from tagminder_spark.sources.export import export_projection, reset_sqlmodded

    alib = spark.createDataFrame(
        [
            ("/m/a.mp3", "/m", 2, "T1"),
            ("/m/b.mp3", "/m", 0, "T2"),
            ("/m/c.mp3", "/m", None, "T3"),
        ],
        "__path string, __dirpath string, __sqlmodded int, title string",
    )
    changelog = spark.createDataFrame(
        [("/m/a.mp3", "title", None, "T1", "02")],
        "alib_path string, alib_column string, old_value string, "
        "new_value string, script string",
    )
    needs_export = export_projection(alib, ["title"], changelog).filter(
        F.col("__sqlmodded") > 0
    )
    assert needs_export.count() == 1  # only the touched+flagged row
    after = reset_sqlmodded(alib)
    assert after.filter(F.col("__sqlmodded") > 0).count() == 0
    assert after.count() == 3  # no rows lost
    # idempotent
    assert reset_sqlmodded(after).filter(F.col("__sqlmodded").isNotNull()).count() == 0
