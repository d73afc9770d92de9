"""Skew-safe aggregation queries (SURVEY §4 optimizer table: salting) and
the end-to-end pipeline chain.

The salted plans must produce bit-identical results to the direct
groupBy/window — the oracle IS the direct plan, so the gate proves the
rewrite is semantics-preserving.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tagminder_spark.cache import scoped_persist
from tagminder_spark.operators.scale import salted_sum_count, top_k_per_key_salted
from tagminder_spark.queries import QueryFn
from tagminder_spark.session import load_table, spread

REGISTRY: dict[str, tuple[QueryFn, str | None]] = {}

D = "\\\\"


def q(name: str, sql: str | None = None):
    def deco(fn: QueryFn) -> QueryFn:
        REGISTRY[name] = (fn, sql)
        return fn

    return deco


_SALTED_SQL = """
SELECT l_returnflag,
       CAST(SUM(CAST(l_quantity AS DECIMAL(28,4))) AS DOUBLE) AS sum_qty,
       COUNT(*) AS n_rows
FROM lineitem GROUP BY l_returnflag
"""


@q("a_salted_agg", _SALTED_SQL)
def a_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase salted aggregate over a 3-value (maximally skewed)
    grouping key; the oracle is the direct GROUP BY — identical results,
    skew-safe shuffle layout (every reducer bounded by the salt)."""
    li = load_table(spark, sf_dir, "lineitem")
    out = salted_sum_count(
        li, ["l_returnflag"], "l_quantity", buckets=32, salt_from="l_orderkey"
    )
    return out.select(
        "l_returnflag",
        F.col("sum_l_quantity").cast("double").alias("sum_qty"),
        "n_rows",
    )


_TOPK_SQL = """
SELECT l_returnflag, l_orderkey, l_extendedprice
FROM (
  SELECT l_returnflag, l_orderkey, l_extendedprice,
         ROW_NUMBER() OVER (
           PARTITION BY l_returnflag
           ORDER BY l_extendedprice DESC, l_orderkey ASC) AS rn
  FROM (
    SELECT l_returnflag, l_orderkey,
           CAST(MAX(l_extendedprice) AS DOUBLE) AS l_extendedprice
    FROM lineitem GROUP BY 1, 2
  )
) WHERE rn <= 5
"""


@q("w_topk_salted", _TOPK_SQL)
def w_topk_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe per-key top-k (local top-k per salt bucket, exact
    top-k over survivors) vs the direct-window oracle; deterministic via
    the orderkey tiebreak."""
    li = load_table(spark, sf_dir, "lineitem")
    base = li.groupBy("l_returnflag", "l_orderkey").agg(
        F.max("l_extendedprice").cast("double").alias("l_extendedprice")
    )
    return top_k_per_key_salted(
        base,
        "l_returnflag",
        "l_extendedprice",
        k=5,
        buckets=8,
        tiebreak="l_orderkey",
    ).select("l_returnflag", "l_orderkey", "l_extendedprice")


# The chain oracle composes the five per-step oracle idioms (the same
# SQL shapes value-proven by pl_step02/04/09/20 + f_tokens_dedup) into
# one CTE chain over the chain fixture, then replays diff-audit's
# normalized comparison and counts changes per column.  Step 17 appears
# as the genre-dedup CTE only: on this fixture composer is already
# caseless-deduped by step 04 (a case-sensitive order-preserving dedup
# of it is an identity), and artist/style are NULL throughout.
_NORMV = "NULLIF(NULLIF(trim({x}), ''), '\"\"')"
_LIVE_RE = r"(?i)(?:[\(\[\{{<]\s*live\s*[\)\]\}}>]|- live)\s*$"

# Shared CTE prefix (alib fixture → steps 02/04/09/17/20): the chain
# lifecycle gates (pl_chain_e2e changelog counts, pl_chain_manifest
# merged-table read-back) compose their final SELECTs over it.
_CHAIN_CTES = rf"""
WITH alib AS (
  -- DISTINCT: the synthetic lineitem does not enforce (orderkey,
  -- linenumber) uniqueness; every derived column is a function of that
  -- pair, so DISTINCT makes __path a true key (diff-audit joins on it)
  SELECT DISTINCT
         'p' || l_orderkey || '-' || l_linenumber AS __path,
         'Song ' || l_orderkey
           || (CASE WHEN l_orderkey % 4 = 0 THEN ' (Live)' ELSE '' END)
           || (CASE WHEN l_orderkey % 5 = 0 THEN chr(13) || chr(10) ELSE '' END)
           AS title,
         CASE WHEN l_orderkey % 3 = 0 THEN '  '
              ELSE 'Sub ' || l_linenumber END AS subtitle,
         'Album ' || CAST(l_orderkey % 500 AS VARCHAR) AS album,
         '0' AS live,
         'C' || CAST(l_orderkey % 7 AS VARCHAR) AS composer,
         CASE WHEN l_orderkey % 2 = 0
              THEN 'W' || CAST(l_orderkey % 7 AS VARCHAR) END AS writer,
         CAST(NULL AS VARCHAR) AS arranger,
         CAST(NULL AS VARCHAR) AS lyricist,
         'Rock{D}Rock{D}Pop' AS genre,
         CASE WHEN l_orderkey % 2 = 0
              THEN '1999-03-0' || CAST(l_linenumber % 7 + 1 AS VARCHAR)
              ELSE '2001{D}2001' END AS year
  FROM lineitem
),
-- step 02: CRLF strip, mojibake apostrophe, blank=>NULL (title, subtitle,
-- album, composer; artist is NULL throughout)
s02 AS (
  SELECT __path, album, live, writer, arranger, lyricist, genre, year,
         CASE WHEN trim(regexp_replace(title, chr(13) || '?' || chr(10), '', 'g'))
                   IN ('â€™', 'Ì') THEN ''''
              ELSE NULLIF(NULLIF(trim(
                regexp_replace(title, chr(13) || '?' || chr(10), '', 'g')), ''), '""')
         END AS title,
         CASE WHEN trim(regexp_replace(subtitle, chr(13) || '?' || chr(10), '', 'g'))
                   IN ('â€™', 'Ì') THEN ''''
              ELSE NULLIF(NULLIF(trim(
                regexp_replace(subtitle, chr(13) || '?' || chr(10), '', 'g')), ''), '""')
         END AS subtitle,
         CASE WHEN trim(regexp_replace(composer, chr(13) || '?' || chr(10), '', 'g'))
                   IN ('â€™', 'Ì') THEN ''''
              ELSE NULLIF(NULLIF(trim(
                regexp_replace(composer, chr(13) || '?' || chr(10), '', 'g')), ''), '""')
         END AS composer
  FROM alib
),
-- step 04: caseless ordered merge of composer/arranger/lyricist/writer.
-- sf1-tractable shape: the explode->MIN(pos)->join-back idiom forced
-- DuckDB to materialize s02 twice plus a 4x-exploded token table (the
-- 40 GiB spill cap died here at 6M rows); the same first-occurrence-
-- caseless-wins semantics as a SCALAR list pipeline streams in one pass.
-- Concatenation order (composer, arranger, lyricist, writer; tokens in
-- column order) equals the old (src*1000+ord) sort key.
s04 AS (
  SELECT __path, title, subtitle, album, live, genre, year,
         NULLIF(array_to_string(
           list_filter(ctoks, (x, i) ->
             list_position(list_transform(ctoks, t -> lower(t)), lower(x)) = i),
           '{D}'), '') AS composer
  FROM (
    SELECT *,
           list_filter(
             list_transform(
               string_split(coalesce(composer, ''), '{D}')
               || string_split(coalesce(arranger, ''), '{D}')
               || string_split(coalesce(lyricist, ''), '{D}')
               || string_split(coalesce(writer, ''), '{D}'),
               t -> trim(t)),
             t -> t <> '') AS ctoks
    FROM s02
  )
),
-- step 09: live markers
marked AS (
  SELECT *,
         (title IS NOT NULL AND regexp_matches(title, '{_LIVE_RE}'))
         OR (album IS NOT NULL AND regexp_matches(album, '{_LIVE_RE}')) AS hit,
         trim(regexp_replace(regexp_replace(subtitle, '\\\\', '; ', 'g'),
                             '\s*;\s*', '; ', 'g')) AS sub_norm
  FROM s04
),
s09 AS (
  SELECT __path, album, composer, genre, year,
         CASE WHEN hit THEN NULLIF(trim(
                regexp_replace(title, '{_LIVE_RE}', '')), '')
              ELSE title END AS title,
         CASE WHEN NOT hit THEN subtitle
              WHEN subtitle IS NOT NULL AND regexp_matches(sub_norm, '(?i)\blive\b')
                THEN sub_norm
              WHEN subtitle IS NOT NULL THEN sub_norm || '; [Live]'
              ELSE '[Live]' END AS subtitle,
         CASE WHEN hit THEN '1' ELSE live END AS live
  FROM marked
),
-- step 17: order-preserving multi-value dedup (genre) — scalar list
-- pipeline (case-sensitive keep-first), same sf1 rationale as s04
s17 AS (
  SELECT __path, title, subtitle, album, live, composer, year,
         NULLIF(array_to_string(
           list_filter(gtoks, (x, i) -> list_position(gtoks, x) = i),
           '{D}'), '') AS genre
  FROM (
    SELECT *,
           list_filter(
             list_transform(string_split(coalesce(genre, ''), '{D}'),
                            t -> trim(t)),
             t -> t <> '') AS gtoks
    FROM s09
  )
),
-- step 20: canonicalize multi-value date tokens (year; originalyear
-- NULL) — scalar normalize + keep-first dedup of the normalized values
s20 AS (
  SELECT __path, title, subtitle, album, live, composer, genre,
         NULLIF(array_to_string(
           list_filter(yvals, (x, i) -> list_position(yvals, x) = i),
           '{D}'), '') AS year
  FROM (
    SELECT *,
           list_filter(
             list_transform(
               list_filter(
                 list_transform(string_split(coalesce(year, ''), '{D}'),
                                t -> trim(t)),
                 t -> t <> ''),
               tok -> CASE
                 WHEN tok ~ '^[0-9]{{4}}$' THEN tok
                 WHEN tok ~ '^[0-9]{{4}}-[0-9]{{2}}$' THEN substr(tok, 1, 4)
                 WHEN regexp_replace(regexp_replace(tok,
                        '^([0-9]{{4}})([0-9]{{2}})([0-9]{{2}})$', '\1-\2-\3'),
                        '^([0-9]{{4}})[/.]([0-9]{{2}})[/.]([0-9]{{2}})$', '\1-\2-\3')
                      ~ '^[0-9]{{4}}-[0-9]{{2}}-[0-9]{{2}}$'
                 THEN regexp_replace(regexp_replace(tok,
                        '^([0-9]{{4}})([0-9]{{2}})([0-9]{{2}})$', '\1-\2-\3'),
                        '^([0-9]{{4}})[/.]([0-9]{{2}})[/.]([0-9]{{2}})$', '\1-\2-\3')
                 ELSE NULL END),
             v -> v IS NOT NULL) AS yvals
    FROM s17
  )
)"""

_CHAIN_SQL = _CHAIN_CTES + rf""",
-- diff-audit: normalized old-vs-new per tracked column, count changes.
-- sf1-tractable shape: project the comparison down to 7 BOOLEANs inside
-- the join (the wide string pairs never materialize — the original
-- 14-VARCHAR `pair` CTE re-scanned 7x blew DuckDB's 40 GiB spill cap at
-- 6M rows), aggregate once, then unpivot the single counts row.
pair AS (
  SELECT
    ({_NORMV.format(x='a.title')} IS DISTINCT FROM {_NORMV.format(x='n.title')}) AS d_title,
    ({_NORMV.format(x='a.subtitle')} IS DISTINCT FROM {_NORMV.format(x='n.subtitle')}) AS d_subtitle,
    ({_NORMV.format(x='a.album')} IS DISTINCT FROM {_NORMV.format(x='n.album')}) AS d_album,
    ({_NORMV.format(x='a.live')} IS DISTINCT FROM {_NORMV.format(x='n.live')}) AS d_live,
    ({_NORMV.format(x='a.composer')} IS DISTINCT FROM {_NORMV.format(x='n.composer')}) AS d_composer,
    ({_NORMV.format(x='a.genre')} IS DISTINCT FROM {_NORMV.format(x='n.genre')}) AS d_genre,
    ({_NORMV.format(x='a.year')} IS DISTINCT FROM {_NORMV.format(x='n.year')}) AS d_year
  FROM alib a JOIN s20 n USING (__path)
),
counts AS (
  -- COUNT_IF would also work; CAST pins BIGINT (DuckDB SUM yields
  -- HUGEINT, a latent type mismatch vs Spark's int64 — type_sweep)
  SELECT
    CAST(SUM(CASE WHEN d_title THEN 1 ELSE 0 END) AS BIGINT) AS c_title,
    CAST(SUM(CASE WHEN d_subtitle THEN 1 ELSE 0 END) AS BIGINT) AS c_subtitle,
    CAST(SUM(CASE WHEN d_album THEN 1 ELSE 0 END) AS BIGINT) AS c_album,
    CAST(SUM(CASE WHEN d_live THEN 1 ELSE 0 END) AS BIGINT) AS c_live,
    CAST(SUM(CASE WHEN d_composer THEN 1 ELSE 0 END) AS BIGINT) AS c_composer,
    CAST(SUM(CASE WHEN d_genre THEN 1 ELSE 0 END) AS BIGINT) AS c_genre,
    CAST(SUM(CASE WHEN d_year THEN 1 ELSE 0 END) AS BIGINT) AS c_year
  FROM pair
)
SELECT alib_column, n_changes FROM (
  SELECT 'title' AS alib_column, c_title AS n_changes FROM counts
  UNION ALL SELECT 'subtitle', c_subtitle FROM counts
  UNION ALL SELECT 'album', c_album FROM counts
  UNION ALL SELECT 'live', c_live FROM counts
  UNION ALL SELECT 'composer', c_composer FROM counts
  UNION ALL SELECT 'genre', c_genre FROM counts
  UNION ALL SELECT 'year', c_year FROM counts
)
WHERE n_changes > 0
ORDER BY alib_column
"""


def _chain_fixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The synthesized alib the chain lifecycle gates share (matches the
    ``alib`` CTE of ``_CHAIN_CTES`` exactly)."""
    li = load_table(spark, sf_dir, "lineitem")
    k = F.col("l_orderkey")
    ln = F.col("l_linenumber")
    # distinct on the two NUMERIC keys, not the 16 built strings: every
    # output column is a pure function of (l_orderkey, l_linenumber), so
    # the row set is identical — but the exchange moves two longs per row
    # instead of the wide synthesized strings (guide §2.3 "shuffle fewer
    # bytes"; measured pl_chain_e2e 11.3 -> see OPTIMIZATION_r13.md).
    # spread() after the distinct: the tiny key exchange makes AQE
    # coalesce to ~4 partitions, which would serialize the regex-heavy
    # chain steps (and the fixture parquet pl_chain_manifest writes and
    # re-reads) at 4-way parallelism — ~106 s of downstream CPU on 4
    # cores (guide §2.5 input parallelism; the spread exchange still
    # carries only the two longs).
    li = spread(li.select("l_orderkey", "l_linenumber").distinct())
    alib = li.select(
        F.concat(F.lit("p"), k, F.lit("-"), ln).alias("__path"),
        F.concat(
            F.lit("Song "),
            k,
            F.when(k % 4 == 0, F.lit(" (Live)")).otherwise(F.lit("")),
            F.when(k % 5 == 0, F.lit("\r\n")).otherwise(F.lit("")),
        ).alias("title"),
        F.when(k % 3 == 0, F.lit("  ")).otherwise(F.concat(F.lit("Sub "), ln)).alias(
            "subtitle"
        ),
        F.concat(F.lit("Album "), (k % 500).cast("string")).alias("album"),
        F.lit("0").alias("live"),
        F.concat(F.lit("C"), (k % 7).cast("string")).alias("composer"),
        F.when(k % 2 == 0, F.concat(F.lit("W"), (k % 7).cast("string"))).alias(
            "writer"
        ),
        F.lit(None).cast("string").alias("arranger"),
        F.lit(None).cast("string").alias("lyricist"),
        F.concat(
            F.lit("Rock"), F.lit(D), F.lit("Rock"), F.lit(D), F.lit("Pop")
        ).alias("genre"),
        F.lit(None).cast("string").alias("style"),
        F.lit(None).cast("string").alias("artist"),
        F.when(k % 2 == 0, F.concat(F.lit("1999-03-0"), (ln % 7 + 1).cast("string")))
        .otherwise(F.concat(F.lit("2001"), F.lit(D), F.lit("2001")))
        .alias("year"),
        F.lit(None).cast("string").alias("originalyear"),
        F.lit(0).alias("__sqlmodded"),
    )  # (orderkey, linenumber) is not unique in the synthetic lineitem;
    # the key-level distinct above makes __path a true key for the
    # diff-audit join
    return alib


def _chain_steps(d: DataFrame) -> DataFrame:
    """Steps 02→04→09→17→20 — the lifecycle both chain gates run."""
    from tagminder_spark.pipeline import (
        step02_clean_text,
        step04_merge_writers,
        step09_live_markers,
        step17_dedupe_tags,
        step20_dates,
    )

    return step20_dates(
        step17_dedupe_tags(
            step09_live_markers(step04_merge_writers(step02_clean_text(d)))
        )
    )


_CHAIN_COLS = ["title", "subtitle", "album", "live", "composer", "genre", "year"]


@q("pl_chain_e2e", _CHAIN_SQL)
def pl_chain_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end pipeline run (the reference's primary workload): a
    synthesized alib flows through steps 02→04→09→17→20 sequentially,
    then one diff-audit against the original produces the changelog;
    returns per-column change counts. Value-checked since round 4: the
    oracle composes the five per-step SQL idioms into one CTE chain and
    replays diff-audit's normalized comparison."""
    from tagminder_spark.operators.diff_audit import diff_audit

    # persist: the diff joins alib against chain(alib) — without the
    # cache the wide-string distinct (the most expensive stage here)
    # runs once per side
    alib = scoped_persist(_chain_fixture(spark, sf_dir))
    cols = _CHAIN_COLS
    # the join boundary keeps the five-step expression tree compiled
    # once: diffing old and new within one row would inline more copies
    # of the deep chain per tracked column, past whole-stage-codegen
    # limits into interpreted fallback.
    # localCheckpoint on the chain side: same plan-truncation rationale
    # as pl_chain_manifest (driver analysis + per-task init of the
    # ~2k-node tree — guide §3.3 / §7.3).
    chained = _chain_steps(alib).localCheckpoint(eager=False)
    _, changelog = diff_audit(alib, chained, "__path", cols, script="chain")
    return (
        changelog.groupBy("alib_column")
        .agg(F.count(F.lit(1)).alias("n_changes"))
        .orderBy("alib_column")
    )


# pl_chain_manifest: the same lifecycle, but the alib table LIVES on a
# manifest-versioned table — the oracle replays the MERGE itself: every
# row's final value is the chain output when any tracked column changed
# (normalized compare), the original otherwise, with sqlmodded = the
# number of changed fields.
_MERGE_NCH = "\n       + ".join(
    f"CAST(({_NORMV.format(x=f'a.{c}')} IS DISTINCT FROM "
    f"{_NORMV.format(x=f'n.{c}')}) AS INT)"
    for c in ("title", "subtitle", "album", "live", "composer", "genre", "year")
)
_MERGE_D_COLS = ",\n         ".join(
    f"a.{c} AS a_{c}, n.{c} AS n_{c}"
    for c in ("title", "subtitle", "album", "live", "composer", "genre", "year")
)
_MERGE_OUT = ",\n       ".join(
    f"CASE WHEN nch > 0 THEN n_{c} ELSE a_{c} END AS {c}"
    for c in ("title", "subtitle", "album", "live", "composer", "genre", "year")
)

_CHAIN_MERGE_SQL = _CHAIN_CTES + f""",
d AS (
  SELECT a.__path,
         {_MERGE_D_COLS},
         {_MERGE_NCH} AS nch
  FROM alib a JOIN s20 n USING (__path)
)
SELECT __path,
       {_MERGE_OUT},
       CAST(nch AS INT) AS sqlmodded
FROM d
"""


@q("pl_chain_manifest", _CHAIN_MERGE_SQL)
def pl_chain_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship alib lifecycle ON a manifest-versioned table
    (round 9, VERDICT r8 #5; rides suite_curation per the rotation
    rule): the synthesized alib is written to disk and versioned, the
    five-step chain runs over a PINNED ``snapshot_read``, diff-audit
    computes the updated rows, and ``merge_into_manifest`` lands the
    MERGE as a new full-snapshot generation — no directory swap, old
    files intact, so the gate proves mid-merge isolation by counting a
    gen-1-pinned reader AFTER the merge.  The changelog goes to a
    second versioned table through ``append_files`` (one O(|batch|)
    delta commit).  The oracle replays the merge semantics row-by-row:
    final values + the per-row ``__sqlmodded`` change count, so the
    read-back of the committed table is value-exact, not just
    row-stable."""
    import tempfile

    from tagminder_spark.operators.diff_audit import diff_audit
    from tagminder_spark.operators.table_manifest import (
        append_files,
        init_manifest,
        merge_into_manifest,
        snapshot_read,
    )

    base = tempfile.mkdtemp(prefix="tm_chainmanifest_")
    root = f"{base}/alib"
    _chain_fixture(spark, sf_dir).write.parquet(root)
    init_manifest(spark, root)

    pinned = snapshot_read(spark, root, 1)  # the long-running reader
    table = snapshot_read(spark, root)
    # localCheckpoint truncates the five-step chain's ~2k-node expression
    # tree before it fans out into diff + merge + changelog append: each
    # of those actions otherwise re-analyzes (driver, CheckAnalysis
    # measured ~10 s via jstack) and re-initializes (executors, ~7 s
    # per task constant) the full tree per job (guide §3.3 / §7.3).
    # Lazy: the chain materializes inside its first consumer's job.
    chained = _chain_steps(table).localCheckpoint(eager=False)
    updated, changelog = diff_audit(
        table, chained, "__path", _CHAIN_COLS, script="chain"
    )
    merge_into_manifest(spark, root, updated, "__path")

    clog_root = f"{base}/changelog"
    append_files(spark, changelog, clog_root, partition_col=None)
    if not snapshot_read(spark, clog_root).head(1):
        raise AssertionError("changelog append committed no rows")

    back = snapshot_read(spark, root)
    n_pinned, n_back = pinned.count(), back.count()
    if n_pinned != n_back:  # gen-1 files must have survived the merge
        raise AssertionError(
            f"pinned pre-merge reader broke: {n_pinned} vs {n_back}"
        )
    return back.select(
        "__path", *_CHAIN_COLS,
        F.col("__sqlmodded").cast("int").alias("sqlmodded"),
    )
