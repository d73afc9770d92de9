"""Properties of the diff-audit operator (SURVEY.md §2.10): only-changed
logging, blank-equivalence, idempotency/convergence."""

from __future__ import annotations

from tagminder_spark.operators.diff_audit import diff_audit


def _frame(spark, rows):
    return spark.createDataFrame(rows, ["path", "title", "artist"])


def test_only_changed_fields_logged(spark):
    old = _frame(spark, [("p1", "A", "X"), ("p2", "B", "Y")])
    new = _frame(spark, [("p1", "A2", "X"), ("p2", "B", "Y")])
    updated, changelog = diff_audit(old, new, "path", ["title", "artist"], "t")
    ch = changelog.collect()
    assert len(ch) == 1
    assert (ch[0].alib_path, ch[0].alib_column, ch[0].old_value, ch[0].new_value) == (
        "p1",
        "title",
        "A",
        "A2",
    )
    up = updated.collect()
    assert len(up) == 1 and up[0]["__sqlmodded"] == 1


def test_blank_equivalence_not_logged(spark):
    # NULL → '' → whitespace are all the same canonical blank: no change.
    old = _frame(spark, [("p1", None, "X"), ("p2", "", "Y")])
    new = _frame(spark, [("p1", "", "X"), ("p2", "   ", "Y")])
    _, changelog = diff_audit(old, new, "path", ["title", "artist"], "t")
    assert changelog.count() == 0


def test_blank_to_value_logged_with_null_old(spark):
    old = _frame(spark, [("p1", "  ", "X")])
    new = _frame(spark, [("p1", "Now Set", "X")])
    _, changelog = diff_audit(old, new, "path", ["title", "artist"], "t")
    ch = changelog.collect()
    assert len(ch) == 1 and ch[0].old_value is None and ch[0].new_value == "Now Set"


def test_idempotent_second_pass(spark):
    old = _frame(spark, [("p1", "a", "x"), ("p2", "b", "y")])
    new = _frame(spark, [("p1", "A", "x"), ("p2", "b", "Y")])
    updated, _ = diff_audit(old, new, "path", ["title", "artist"], "t")
    # applying the same "transform result" against itself → zero changes
    _, changelog2 = diff_audit(new, new, "path", ["title", "artist"], "t")
    assert changelog2.count() == 0
    assert updated.count() == 2


def test_sqlmodded_accumulates(spark):
    old = spark.createDataFrame(
        [("p1", "a", "x", 3)], ["path", "title", "artist", "__sqlmodded"]
    )
    new = spark.createDataFrame(
        [("p1", "A", "X", 3)], ["path", "title", "artist", "__sqlmodded"]
    )
    updated, _ = diff_audit(old, new, "path", ["title", "artist"], "t")
    assert updated.collect()[0]["__sqlmodded"] == 5  # 3 prior + 2 new changes

