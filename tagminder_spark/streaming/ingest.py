"""Structured Streaming variants of the event/ingest path.

The reference is batch-only (SURVEY.md §2.11): its incrementality is
re-scan + filter. On Spark the same logical plans run as streams — the
tumbling-window rollup here shares its aggregation logic with the batch
query ``t_tumbling_window`` (tagminder_spark/queries/textops.py), which is
the point: one declarative plan, two execution modes.

Local testing drives a parquet directory through ``readStream`` with a
memory sink + ``processAllAvailable()`` (synchronous, deterministic).
At scale the source becomes Kafka/cloud-files and the sink a Delta table;
watermarks bound state so late data is handled without unbounded memory.
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

logger = logging.getLogger(__name__)


def _events_schema(path_dir: str) -> tuple[T.StructType, str]:
    """Stream-read schema for the events table plus the ts read mode.

    readStream needs an explicit schema, and the testdata generation has
    stored ``ts`` as TIMESTAMP(NANOS) (→ read as long, divide) or as a naive
    µs timestamp (→ read as NTZ, cast) in different rounds — mirror
    session.load_table's normalization so both stream and batch plans see
    session-zoned TIMESTAMP.
    """
    import pyarrow.parquet as pq

    import pyarrow as pa

    f = pq.read_schema(f"{path_dir}/events.parquet").field("ts")
    if pa.types.is_timestamp(f.type) and f.type.unit == "ns":
        ts_field, mode = T.StructField("ts", T.LongType()), "nanos"
    elif pa.types.is_timestamp(f.type) and f.type.tz is None:
        ts_field, mode = T.StructField("ts", T.TimestampNTZType()), "ntz"
    else:
        ts_field, mode = T.StructField("ts", T.TimestampType()), "ltz"
    return (
        T.StructType(
            [
                T.StructField("event_id", T.LongType()),
                ts_field,
                T.StructField("user_id", T.LongType()),
                T.StructField("event_type", T.StringType()),
                T.StructField("value", T.DoubleType()),
                T.StructField("props", T.StringType()),
            ]
        ),
        mode,
    )


def _events_stream(spark: SparkSession, path_dir: str) -> DataFrame:
    schema, mode = _events_schema(path_dir)
    raw = (
        spark.readStream.format("parquet")
        .schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .load(path_dir)
    )
    if mode == "nanos":
        return raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    if mode == "ntz":
        return raw.withColumn("ts", F.col("ts").cast("timestamp"))
    return raw


def windowed_event_counts(
    spark: SparkSession, path_dir: str, window: str = "1 hour", watermark: str = "2 hours"
) -> DataFrame:
    """Tumbling-window counts with a watermark bounding state retention."""
    ev = _events_stream(spark, path_dir)
    return (
        ev.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("double")
            .alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n",
            "total_value",
        )
    )


def sessionized_stream(
    spark: SparkSession, path_dir: str, gap: str = "30 minutes"
) -> DataFrame:
    """Per-user session windows (the streaming twin of t_sessionize's
    lag+cumsum batch plan) via the native session_window operator."""
    ev = _events_stream(spark, path_dir)
    return (
        ev.withWatermark("ts", "2 hours")
        .groupBy(F.session_window("ts", gap).alias("sw"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end"),
            "user_id",
            "n_events",
        )
    )


def curation_quality_gate(docs: DataFrame) -> DataFrame:
    """The ingest-time quality gate as ONE streaming stage: repetition
    metrics, PII counts/clean flag, and quality score attached per
    document, composed as a single two-stage SELECT (no joins — a
    stream cannot self-join, and none is needed: every constituent is a
    map-only column expression), so the SAME plan runs batch or
    streaming unchanged. Stream-vs-batch equality is pinned by test.

    Cross-corpus decisions (dedup keeper, quotas) stay OUT of the
    streaming stage by design — they consult standing artifacts via the
    foreachBatch probe (streaming_dedup_probe) or the periodic batch
    incremental run (cur_incremental_e2e's shape)."""
    from tagminder_spark.operators.curation import (
        PII_PATTERNS,
        _gram_stats,
        fan_out,
        word_ngrams,
    )
    from tagminder_spark.operators.text import quality_score

    text = F.col("text")
    s1 = _gram_stats(word_ngrams(text, 1))
    s2 = _gram_stats(word_ngrams(text, 2))
    s3 = _gram_stats(word_ngrams(text, 3))
    staged = fan_out(docs).select(
        "doc_id",
        s1["total"].cast("int").alias("n_words"),
        s1["top_frac"].alias("top_word_frac"),
        s2["top_frac"].alias("top_bigram_frac"),
        s3["dup_frac"].alias("dup_trigram_frac"),
        *[
            F.size(F.regexp_extract_all(text, F.lit(pat), F.lit(0))).alias(
                f"n_{kind}s"
            )
            for kind, (pat, _mask) in PII_PATTERNS.items()
        ],
        quality_score(text).alias("quality"),
    )
    pii_total = sum(F.col(f"n_{kind}s") for kind in PII_PATTERNS)
    return staged.select(
        "doc_id",
        "n_words",
        # repetition_metrics' default thresholds (Gopher §A1.1)
        F.when(
            (F.col("top_word_frac") <= 0.20)
            & (F.col("top_bigram_frac") <= 0.18)
            & (F.col("dup_trigram_frac") <= 0.30),
            F.lit(1),
        )
        .otherwise(F.lit(0))
        .alias("passes_repetition"),
        *[F.col(f"n_{kind}s") for kind in PII_PATTERNS],
        F.when(pii_total == 0, F.lit(1)).otherwise(F.lit(0)).alias("is_clean"),
        "quality",
    )


def run_stream_to_memory(
    df: DataFrame, name: str, mode: str = "append"
) -> "DataFrame":
    """Drive a streaming frame to completion against a memory sink and
    return the materialized result (test/dev helper)."""
    q = (
        df.writeStream.outputMode(mode)
        .format("memory")
        .queryName(name)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return df.sparkSession.sql(f"SELECT * FROM {name}")


def streaming_dedup_probe(
    stream: DataFrame,
    standing_index,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    n: int = 3,
    k: int = 32,
    bands: int = 8,
    threshold: float = 0.5,
    sink=None,
    max_collected: int = 100_000,
    fold_every: int | None = None,
    query_name: str = "dedup_probe",
):
    """Streaming twin of the incremental fuzzy-dedup probe: every
    micro-batch of newly ingested documents is checked against the
    standing LSH index via ``foreachBatch``.

    ``standing_index`` is the (banded, shingles) pair from
    ``operators.dedupe.lsh_index`` — in production read back from the
    persisted parquet artifacts, so each micro-batch costs
    O(|batch| + touched buckets), never O(corpus). ``sink(pairs_df,
    batch_id)`` receives the verified near-dup pairs for the batch
    (default: append to an in-memory list on the returned query object —
    test/dev convenience, bounded at ``max_collected`` pairs so a
    pathological batch cannot balloon the driver; once the cap is hit,
    ``q.dropped_batches[0]`` counts the number of OVERFLOWING BATCHES
    (not individual dropped pairs — the limit pushdown means the driver
    never learns the true pair count) and a warning is logged once —
    pass a real ``sink`` for production streams).

    With ``fold_every=None`` the probe does NOT fold batches into the
    index mid-stream: index compaction stays a periodic batch job (the
    same separation the diff-audit MERGE uses), which keeps the
    streaming path stateless and restart-safe — and leaves the **known
    recall gap**: a near-dup pair whose two members arrive in DIFFERENT
    micro-batches is not flagged until an external compaction folds
    earlier batches in.

    ``fold_every=N`` closes that gap in-stream (round 9, VERDICT r8
    #3): index maintenance runs beside table maintenance on a cadence.
    Every N batches the window's batch indexes are (a) cross-probed
    with :func:`~tagminder_spark.operators.dedupe.cross_batch_lsh_pairs`
    — emitting exactly the pairs split across the window's batches,
    which the per-batch probes structurally cannot see (delivered to
    the sink with ``batch_id = -fold_number``) — and (b) folded into
    the standing index (:func:`compact_lsh_index`), so later batches
    probe a fresh index.  Batch indexes are eagerly local-checkpointed
    (a foreachBatch frame is not valid outside its micro-batch, and
    the fold must not recompute lineage); production would instead
    re-persist the on-disk standing artifacts
    (``queries/dedup.py: standing LSH index``).  After the stream
    drains, call ``q.finalize()`` to flush the tail window — from then
    on the emitted pair set EQUALS the batch operator's over the same
    corpus (the recall-equality contract the tests pin); until the
    final fold the residual staleness is bounded by ``fold_every``
    micro-batches.
    """
    from tagminder_spark.operators.dedupe import (
        compact_lsh_index,
        cross_batch_lsh_pairs,
        incremental_lsh_pairs,
        lsh_index,
    )

    collected: list = []
    dropped = [0]
    state = {"standing": standing_index, "pending": [], "folds": 0}

    def _emit(pairs: DataFrame, batch_id: int) -> None:
        if sink is not None:
            sink(pairs, batch_id)
            return
        # default in-memory sink is BOUNDED: take cap+1 rows (limit
        # pushes down — the executor never ships more), keep cap
        room = max_collected - len(collected)
        rows = pairs.limit(max(room, 0) + 1).collect() if room > 0 else [None]
        overflow = len(rows) > room
        collected.extend(
            (r["id_a"], r["id_b"], r["jaccard"]) for r in rows[:room] if r
        )
        if overflow:
            if not dropped[0]:
                logger.warning(
                    "streaming_dedup_probe: default in-memory sink hit "
                    "max_collected=%d; further pairs are dropped — pass "
                    "a sink= callback for unbounded streams",
                    max_collected,
                )
            dropped[0] += 1

    def _fold() -> None:
        """Emit the window's cross-batch pairs, fold the window into
        the standing index, clear the window.

        Latest-batch-wins WITHIN the window (ADVICE r9): an id
        re-ingested across two pending batches must contribute only its
        NEWEST version — otherwise the cross-probe merges both versions'
        shingles (dropDuplicates on (id, h) silently understates
        Jaccard) and the fold leaves the stale version's band/shingle
        rows in the standing index.  Each pending batch is anti-joined
        against the id sets of every LATER batch (the same broadcast
        anti-join incremental_lsh_pairs uses; O(window) and the window
        is bounded by ``fold_every``), which keeps the documented
        recall-equality-with-batch-operator contract exact for
        re-ingested ids."""
        pending = state["pending"]
        if not pending:
            return
        state["folds"] += 1
        deduped: list = []
        later_ids = None
        for b, s in reversed(pending):
            if later_ids is None:
                deduped.append((b, s))
            else:
                deduped.append((
                    b.join(F.broadcast(later_ids), "id", "left_anti"),
                    s.join(F.broadcast(later_ids), "id", "left_anti"),
                ))
            ids = s.select("id").dropDuplicates()
            later_ids = (
                ids if later_ids is None
                else later_ids.unionByName(ids).dropDuplicates()
            )
        deduped.reverse()
        if len(deduped) > 1:
            _emit(
                cross_batch_lsh_pairs(deduped, threshold=threshold),
                -state["folds"],
            )
        pb, ps = deduped[0]
        for b, s in deduped[1:]:
            pb = pb.unionByName(b)
            ps = ps.unionByName(s)
        nb, nsh = compact_lsh_index(state["standing"], (pb, ps))
        # eager checkpoint: bounds the fold-of-fold lineage and
        # materializes once instead of per later probe
        state["standing"] = (
            nb.localCheckpoint(True), nsh.localCheckpoint(True)
        )
        state["pending"] = []

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        if not batch_df.head(1):
            return
        batch_index = lsh_index(batch_df, id_col, text_col, n=n, k=k, bands=bands)
        if fold_every:
            batch_index = (
                batch_index[0].localCheckpoint(True),
                batch_index[1].localCheckpoint(True),
            )
        pairs = incremental_lsh_pairs(
            batch_index, state["standing"], threshold=threshold
        )
        _emit(pairs, batch_id)
        if fold_every:
            state["pending"].append(batch_index)
            if len(state["pending"]) >= fold_every:
                _fold()

    q = (
        stream.writeStream.foreachBatch(_process)
        .queryName(query_name)
        .trigger(availableNow=True)
        .start()
    )
    q.collected_pairs = collected  # type: ignore[attr-defined]
    q.dropped_batches = dropped  # type: ignore[attr-defined]
    q.finalize = _fold  # type: ignore[attr-defined]
    q.fold_state = state  # type: ignore[attr-defined]
    return q


def streaming_ingest_with_maintenance(
    stream: DataFrame,
    table_dir: str,
    *,
    partition_col: str = "lang",
    maintenance_every: int = 4,
    target_bytes: int = 64 << 20,
    min_files: int = 8,
    use_manifest: bool = False,
    upsert_key: str | None = None,
    expire_keep_last: int = 2,
    manifest_stats_cols: tuple[str, ...] | None = None,
    query_name: str = "ingest_maintain",
):
    """Continuous ingest with AUTOMATIC table maintenance — the
    composition a production pipeline actually runs: every micro-batch
    appends partitioned parquet (each batch leaves a few small files
    per touched directory — exactly the fragmentation
    ``operators/compaction.py`` exists for), and every
    ``maintenance_every``-th batch the selective planner inspects the
    table and bin-packs ONLY the directories that crossed the
    fragmentation thresholds.

    Properties that make this safe inside ``foreachBatch``:
    - maintenance runs on the stream's driver thread BETWEEN batches —
      no concurrent writer exists, so the per-directory atomic swap of
      :func:`~tagminder_spark.operators.compaction.compact_partitions`
      cannot race the appends;
    - every maintenance pass first runs ``recover_interrupted_swaps``
      (idempotent, no-op on a healthy table): a crash between the
      swap's two renames on a PREVIOUS run leaves a partition parked at
      a hidden recovery name, and compact_partitions' contract requires
      the recovery before the next pass;
    - compaction never changes rows, so a crash between the append and
      the maintenance step loses nothing — the next trigger simply
      finds the same candidates again (the planner is idempotent);
    - cost tracks the ingest rate: healthy directories are never read.

    ``use_manifest=True`` switches the whole loop to manifest commits
    (:mod:`~tagminder_spark.operators.table_manifest`): each batch is
    one O(|batch|) ``append_files`` commit, maintenance is
    ``compact_partitions_versioned`` + ``expire_snapshots`` — no
    directory rename anywhere, so concurrent readers pinned via
    ``snapshot_read`` always see a prefix-consistent table (exactly the
    committed batches, never a half-written one) and the loop works on
    object stores.  Readers must then use ``snapshot_read``, not a bare
    directory read.  **Retention footgun:** every maintenance pass runs
    ``expire_snapshots(keep_last=expire_keep_last)`` — an external
    reader pinned MORE than ``expire_keep_last`` generations back loses
    its files mid-scan.  ``expire_keep_last`` is the caller's promise
    about the longest-running concurrent reader (measured in
    maintenance passes, i.e. roughly ``maintenance_every ×
    expire_keep_last`` micro-batches of slack); size it up for
    long-running analytical readers.  ``manifest_stats_cols`` threads a
    per-batch footer pass into every append and compaction commit so
    downstream ``snapshot_read(where=...)`` can data-skip on those
    columns from the first micro-batch on.

    ``upsert_key`` (requires ``use_manifest``) turns the loop into a
    streaming UPSERT: each micro-batch commits via
    :func:`~tagminder_spark.operators.table_manifest.merge_on_read` —
    update rows + an equality-delete file, O(|batch|) IO, zero data
    files rewritten — so a key re-ingested in a LATER batch supersedes
    the earlier version by commit sequence (the reference's
    spool→upsert semantics, tags2db.py, as streaming manifest
    commits).  Every maintenance pass first
    ``materialize_deletes`` (file-granular, bounds-pruned) so the
    read-side anti-join debt is folded on the maintenance cadence.
    Keys duplicated WITHIN one batch are the caller's contract
    (dropDuplicates upstream) — both rows share one commit sequence,
    so neither supersedes the other.

    Returns the streaming query; ``q.maintenance_reports`` accumulates
    one planner/rewrite report per maintenance pass.
    """
    from tagminder_spark.operators.compaction import (
        compact_partitions,
        plan_compaction,
        recover_interrupted_swaps,
    )
    from tagminder_spark.operators.table_manifest import (
        append_files,
        checkpoint_manifest,
        compact_partitions_versioned,
        expire_snapshots,
        materialize_deletes,
        plan_compaction_manifest,
        read_manifest,
    )

    if upsert_key and not use_manifest:
        raise ValueError("upsert_key requires use_manifest=True")

    reports: list = []

    if not use_manifest:
        # recovery must run BEFORE the first append, not merely before
        # maintenance: a partition parked by a crashed previous run
        # whose live dir gets recreated by this stream's appends would
        # make the parked copy indistinguishable from completed-swap
        # garbage — recovering first removes the ambiguity while the
        # parked copy is still authoritative
        restored = recover_interrupted_swaps(table_dir, stream.sparkSession)
        if restored:
            reports.append({"batch_id": -1, "recovered_dirs": restored})

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        if batch_df.head(1):
            if use_manifest and upsert_key:
                from tagminder_spark.operators.table_manifest import (
                    merge_on_read,
                )

                try:
                    merge_on_read(
                        spark, table_dir, batch_df, upsert_key,
                        partition_col=partition_col,
                        stats_cols=manifest_stats_cols,
                    )
                except FileNotFoundError:
                    # first batch bootstraps the table — nothing to
                    # merge into yet, a plain append IS the upsert
                    append_files(
                        spark, batch_df, table_dir,
                        partition_col=partition_col,
                        stats_cols=manifest_stats_cols,
                    )
            elif use_manifest:
                append_files(
                    spark, batch_df, table_dir, partition_col=partition_col,
                    stats_cols=manifest_stats_cols,
                )
            else:
                (
                    batch_df.write.mode("append")
                    .partitionBy(partition_col)
                    .parquet(table_dir)
                )
        if batch_id % maintenance_every != maintenance_every - 1:
            return
        if use_manifest:
            try:
                man = read_manifest(spark, table_dir)
            except FileNotFoundError:  # nothing committed yet
                return
            if upsert_key and man["deletes"]:
                # fold the upserts' read-side anti-join debt back into
                # the data files on the maintenance cadence (file-
                # granular: bounds-pruned rewrite set)
                mat = materialize_deletes(
                    spark, table_dir, partition_col=partition_col,
                    stats_cols=manifest_stats_cols,
                )
                mat["batch_id"] = batch_id
                mat["materialized"] = True
                reports.append(mat)
                man = read_manifest(spark, table_dir)
            plan = plan_compaction_manifest(
                man, target_bytes=target_bytes, min_files=min_files,
            )
        else:
            # a previous run may have crashed mid-swap; recovery is
            # idempotent and required by compact_partitions' contract
            restored = recover_interrupted_swaps(table_dir, spark)
            if restored:
                reports.append(
                    {"batch_id": batch_id, "recovered_dirs": restored}
                )
            plan = plan_compaction(
                spark, table_dir,
                target_bytes=target_bytes, min_files=min_files,
            )
        values = [
            d.rsplit(f"{partition_col}=", 1)[1] for d in plan["candidates"]
        ]
        if not values:
            if use_manifest:
                # nothing to compact, but the append-delta chain must
                # not grow unboundedly across maintenance passes —
                # collapse it into a full snapshot (a compaction commit
                # would have been one anyway)
                checkpoint_manifest(spark, table_dir)
                expire_snapshots(
                    spark, table_dir, keep_last=expire_keep_last
                )
            return
        if use_manifest:
            report = compact_partitions_versioned(
                spark, table_dir, partition_col, values,
                target_bytes=target_bytes,
                stats_cols=manifest_stats_cols,
            )
            report["expired"] = expire_snapshots(
                spark, table_dir, keep_last=expire_keep_last
            )["removed_generations"]
        else:
            report = compact_partitions(
                spark, table_dir, partition_col, values,
                target_bytes=target_bytes,
            )
        report["batch_id"] = batch_id
        report["candidates"] = plan["candidates"]
        reports.append(report)

    q = (
        stream.writeStream.foreachBatch(_process)
        .queryName(query_name)
        .trigger(availableNow=True)
        .start()
    )
    q.maintenance_reports = reports  # type: ignore[attr-defined]
    return q
