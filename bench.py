"""Benchmark runner: headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints ONE JSON line:
{"metric": "...", "value": <total sec>, "unit": "sec",
 "queries": {"q1_pricing_summary": sec, ...}, "sf": 0.1}

Noise guards (round 4): every query is timed over N passes
($SPARK_GRAFT_BENCH_PASSES, default 2) and the MIN is recorded — the min is
the least-noise estimator for a deterministic workload on a shared machine.
The 1/5/15-minute load averages are captured before and after the run and
embedded in the JSON so the artifact is self-qualifying: a recorded number
taken at loadavg 30 on a 32-cpu box can be discounted at read time instead
of silently poisoning the round-over-round comparison.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

# Headline set: one per operator family, weighted toward the shapes that
# dominate at 100 TB (wide agg, fact-fact join, dedup family, ANN).
HEADLINE = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_region_revenue",
    "j_broadcast_dim",
    "a_sequence_gaps",
    "a_album_signature",
    "w_top1_per_group",
    "t_sessionize",
    "g_cooccurrence_edges",
    "f_tokens_dedup",
    "d_exact_dup",
    "d_ngram_jaccard",
    "d_minhash_lsh",
    "t_quality_score",
    "ann_topk_cosine",
    "pl_step18_mbids",
    "pl_step22_works",
    "pl_step15_similarity",
    "a_salted_agg",
    "pl_chain_e2e",
    # promoted from extra_queries in round 3 (first measured in round 2;
    # BASELINE.md §4 records their standing numbers)
    "d_embedding_lsh",
    "d_ngram_jaccard_capped",
    "er_five_phase",
]

# Measured separately, NOT in the headline total (BASELINE.md §5 records
# their standing numbers): rename planner + offline ANN training + the
# round-4 curation family's two token-heavy members.
EXTRA = [
    "s98_rename_plan",
    "ann_ivf_trained",
    "h_works_role_pairs",
    "cur_repetition",
    "cur_decontaminate",
    # round-4 third sweep: full dedup compositions + incremental ingest
    "d_fuzzy_dedup_e2e",
    "d_incremental_dedup",
    # round-4 fifth sweep: substring-level dedup + the one-query
    # curation run
    "cur_dup_spans",
    "cur_pipeline_e2e",
    # round 5: ingest-time curation of a new batch vs standing artifacts
    "cur_incremental_e2e",
    # round 5 third sweep: trained bigram-LM scoring (the CCNet signal)
    "cur_lm_perplexity",
    # round 6: standing-artifact lifecycle on disk (write+read inside the
    # query — measures the real per-ingest cost incl. artifact IO)
    "d_lsh_roundtrip",
    "cur_artifact_roundtrip",
    # round 6: the default (corpus-derived banding) embedding-LSH path
    "d_embedding_lsh_scaled",
    # round 6: small-file bin-pack maintenance (write -> compact ->
    # read-back lifecycle, both disk round-trips inside the query)
    "cur_compact_shards",
    # round 6: real byte-level tag parse throughput (synthesize
    # ID3v2.3/FLAC containers per row, parse via mapInPandas)
    # round 7: widened to all 8 container families, half via the
    # rewrite path
    "s3_tag_parse_real",
    # round 7: maintenance family — z-order clustering rewrite,
    # selective (fragmented-dirs-only) compaction, and the streaming
    # ingest + auto-maintenance loop (all include their disk IO)
    "cur_zorder_compact",
    "cur_selective_compact",
    "t_stream_maintain",
    # round 8: manifest-committed snapshot isolation (init + versioned
    # compaction + pinned-reader materialization + expiry, all disk IO
    # inside the query) + the manifest-mode streaming ingest loop
    "cur_manifest_isolation",
    "t_stream_manifest",
    # round 9: manifest-level data skipping (range-clustered write +
    # footer-stats init + pruned snapshot read, all IO inside) and the
    # flagship alib lifecycle on a manifest-versioned table (chain +
    # diff-audit MERGE as a versioned commit + changelog append)
    "cur_manifest_skipping",
    "pl_chain_manifest",
    # round 10: file-granular copy-on-write MERGE — updates touch only
    # the bottom doc_id decile, so the rewrite volume (and hence the
    # merge premium over an unversioned write) tracks the touched-file
    # count, not the table size (all disk IO inside the query)
    "cur_merge_cow",
    # round 10: merge-on-read MERGE — same update set, but committed as
    # data adds + an equality-delete file (zero rewrites) and then
    # materialized; the pair (cur_merge_cow, cur_merge_mor) measures
    # the write-now vs pay-at-read trade directly
    "cur_merge_mor",
    # round 10: real FLAC decode + sample-accurate chunking and real
    # MP4 sample-table frame extraction (codec fixtures synthesized
    # in-query)
    "mm_real_flac_chunks",
    "mm_real_mp4_frames",
    # round 11: the CDC + delete family — feed across a file-granular
    # CoW merge, and a predicate DELETE as positional delete files
    # (zero rewrites) followed by file-granular materialization; both
    # include all their disk IO
    "cur_cdc_cow",
    "cur_positional_delete",
    # round 11: MP3 stream-layer decode (frame walk + side info +
    # reservoir-resolved scalefactors over per-doc synthesized streams)
    "mm_real_mp3_frames",
    # round 11 (second session): bloom-index build + point lookup on an
    # unclustered layout (stats prune zero by construction)
    "cur_bloom_skipping",
    # round 13: AIFF/AIFF-C PCM and WavPack lossless decode through
    # chunk_audio (5k genuine containers synthesized + decoded per
    # pass inside mapInPandas — embarrassingly parallel, the honest
    # shape, same posture as mm_real_mp3_frames)
    "mm_real_aiff_chunks",
    "mm_real_wv_chunks",
]


def _calibrate() -> dict:
    """Host-speed calibration embedded in the artifact (round 10): the
    sandbox VM's effective CPU speed varies BOOT TO BOOT (shared
    hypervisor), which loadavg cannot express — an idle run on a slow
    boot reads as a regression.  Two ~1 s single-process probes give
    cross-round numbers to normalize by: a BLAS matmul (the numpy/Arrow
    path) and a pure-python md5 loop (the bytecode path)."""
    import hashlib

    import numpy as np

    a = np.random.default_rng(0).random((2000, 2000))
    t0 = time.perf_counter()
    float((a @ a).sum())
    t_blas = time.perf_counter() - t0
    block = b"x" * (1 << 20)
    t0 = time.perf_counter()
    h = hashlib.md5()
    for _ in range(256):
        h.update(block)
    t_hash = time.perf_counter() - t0
    return {
        "matmul_2k_sec": round(t_blas, 3),
        "md5_256mb_sec": round(t_hash, 3),
    }


def _run_once(spark, qs, name: str, sf_dir: str) -> float:
    t0 = time.perf_counter()
    df = qs[name](spark, sf_dir)
    # noop sink: materializes every output column (count() would let
    # Catalyst prune the computed projections away).
    df.write.format("noop").mode("overwrite").save()
    t = time.perf_counter() - t0
    # Isolation: queries that checkpoint/persist (er_five_phase's phase
    # maps, components' label rounds) leave blocks in the block manager
    # after their result is consumed; measured: a leaked set of
    # localCheckpoint blocks made the NEXT query up to 4x slower. Each
    # query is measured on a quiet JVM; cleanup time is not billed.
    for _rid, rdd in dict(spark.sparkContext._jsc.getPersistentRDDs()).items():
        rdd.unpersist()
    # Deliberately NOT spark.catalog.clearCache(): the sweep releases the
    # BLOCKS (the leak that made queries 4x slower), while the re-used
    # CacheManager relations carry their already-compiled stages — with
    # clearCache every pass re-runs whole-stage codegen for the cache
    # build (measured: d_minhash_lsh warm 1.6 s -> 2.4 s). Entries
    # without blocks are metadata-cheap.
    return t


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    passes = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_PASSES", "2")))
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else 0.0

    import __spark_entry__ as entry
    from tagminder_spark.session import cpus, get_spark

    spark = get_spark("bench")
    qs = entry.queries()

    load_before = os.getloadavg()
    calibration = _calibrate()

    # Warm the JVM + file listing once with a trivial action.
    spark.read.parquet(f"{sf_dir}/region.parquet").count()

    timings: dict[str, float] = {}
    extra: dict[str, float] = {}
    # Pass-major order: pass 0 warms every query's scan/broadcast state the
    # same way for everyone, then later passes measure steady-state; min of
    # the passes is recorded.
    for p in range(passes):
        for name in HEADLINE + EXTRA:
            if name not in qs:
                continue
            sink = extra if name in EXTRA else timings
            t = _run_once(spark, qs, name, sf_dir)
            prev = sink.get(name)
            sink[name] = round(t if prev is None else min(prev, t), 3)
            print(f"# pass{p} {name}: {t:.3f}s", file=sys.stderr)

    load_after = os.getloadavg()
    total = round(sum(timings.values()), 3)
    print(
        json.dumps(
            {
                "metric": "headline_queries_total_sec",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "extra_queries": extra,
                "sf": sf,
                "passes": passes,
                "loadavg_before": [round(x, 2) for x in load_before],
                "loadavg_after": [round(x, 2) for x in load_after],
                "calibration": calibration,
                "cpus": cpus(),
            }
        )
    )


if __name__ == "__main__":
    main()
