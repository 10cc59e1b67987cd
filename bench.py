#!/usr/bin/env python
"""Benchmark runner: times the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints
exactly ONE JSON line:

  {"metric": "headline_total_sec", "value": N, "unit": "sec",
   "queries": {"<name>": sec, ...}, "sf": <sf>}

Each query is forced with count() (full pipeline execution without
driver-side materialization of wide results). Session startup and a
warm-up action are excluded from timings.

Each query runs ``SPARK_GRAFT_BENCH_REPEATS`` times (default 3) and the
MINIMUM is reported: round-2's driver run showed ~2x head-of-run
inflation on the first few queries (JIT/classloading warmup) that a
single timed pass cannot distinguish from a plan regression. Min-of-3
makes the number a property of the plan, not of run order.
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO_ROOT = os.path.dirname(os.path.abspath(__file__))
if REPO_ROOT not in sys.path:
    sys.path.insert(0, REPO_ROOT)

from sparkstreamingtwitter_presidential_spark.queries import load_all  # noqa: E402
from sparkstreamingtwitter_presidential_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
REPEATS = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_REPEATS", "3")))

#: Headline set: one per operator family (scan/agg, joins, windows,
#: set-ops-free sort, JSON, event-time windows, text stats, dedup x3,
#: similarity x2, streaming). Streaming/ML/multimodal families are
#: represented by their cheapest member so the bench stays minutes-scale.
HEADLINE = [
    "flagship_event_type_counts",
    "tpch_q1_pricing_summary",
    "tpch_q3_shipping_priority",
    "join_broadcast_dims",
    "join_left_outer_order_counts",
    "distinct_agg_parts_per_supplier",
    "window_topk_orders_per_customer",
    "window_running_sum_quantity",
    "events_hourly_tumbling",
    "events_json_extract",
    "s5_collector_rows",
    "text_fingerprints",
    "text_lang_id",
    "dedup_ngram_jaccard_pairs",
    "dedup_minhash_lsh_pairs",
    "dedup_embedding_top_pairs",
    "sim_bruteforce_topk",
    "sim_lsh_topk",
    "asof_join_last_purchase",
    "sessionize_batch_lag_cumsum",
    "range_join_close_events",
    "salted_groupby_count_parts",
    "tpch_q5_local_supplier_volume",
    "streaming_tumbling_windows",
    # Round-3/4 operator families (r4 verdict: half the engine's surface
    # had no perf net): one representative each for search, packing, the
    # curation pipeline, Delta DML, incremental Delta ETL, and PQ ANN —
    # the cheapest family member in each case, keeping the suite
    # minutes-scale. First-call Delta staging (schema-keyed /tmp cache)
    # is warm by the time min-of-N lands, so the number tracks the
    # query plan, not table setup.
    "search_bm25_topk",
    "pack_documents_by_source",
    "pipeline_curate_pack",
    "lakehouse_delta_merge_agg",
    "lakehouse_delta_pipeline_agg",
    "sim_pq_topk",
    # Round-5 operator families: C4 line cleaning (map-only), the
    # shard-and-shuffle, unigram LM scoring (wordcount shape), the
    # salted skew join, and stats-skipping reads (Delta staging warm,
    # same caveat as the r4 lakehouse entries). dedup_canonicalize is
    # deliberately absent: it embeds connected components (~8 s at
    # sf0.1, see BASELINE.md non-bench heavyweights).
    "text_c4_line_clean",
    "shuffle_documents_sharded",
    "text_unigram_logprob",
    "salted_join_order_segment",
    "lakehouse_delta_skipping_agg",
    # Round-5 late additions (corpus hygiene): decontamination and
    # duplicated-span stats share the n-gram-shuffle shape at two
    # different fan-outs; SRP is the map-only floor of the similarity
    # family.
    "decontam_eval_overlap",
    "dedup_duplicate_span_stats",
    "sim_random_projection",
    # Round-5 late additions #2: exchange-free global row numbering,
    # BPE train+encode (histogram shuffle + map-only encode), the
    # trained quality classifier (iterative LBFGS fit + map-only
    # score — the one deliberate model-fitting entry), and the
    # streaming-upsert table read (Delta staging warm, same caveat as
    # the other lakehouse entries).
    "scale_global_row_numbers",
    "text_bpe_vocab_top",
    "ml_quality_classifier_by_source",
    "streaming_delta_upsert_agg",
    # Hybrid retrieval: both legs already headline individually
    # (search_bm25_topk, sim_bruteforce_topk); this times the fusion
    # composition end-to-end.
    "search_hybrid_rrf",
    # Shard export + distributed integrity verify (staging warm; the
    # timed work is the verify scan + read-back).
    "io_shard_export_roundtrip",
    # Round-6 (r5 verdict item 5): the measured-but-unheadlined heavies
    # get driver-tracked numbers instead of one-off BASELINE.md entries
    # — row-level CDF reconstruction, the update-mode drain (full
    # micro-batch machinery per repeat), and incremental IVF (KMeans
    # fit + assign; the single most expensive entry, ~7.6 s at sf0.1 —
    # kept because an unmeasured regression there would be invisible).
    "lakehouse_delta_row_changes",
    "streaming_update_mode_counts",
    "sim_ivf_incremental_topk",
    # Round-6: commit-bookkeeping frame (staging warm; timed work is
    # the log parse + frame build — the metadata-cost floor).
    "lakehouse_delta_history_agg",
    # Round-6: native Iceberg snapshot read (staging warm; timed work
    # is the metadata/manifest walk + distributed parquet scan + agg —
    # the Iceberg twin of the delta events entry).
    "lakehouse_iceberg_events_agg",
    # Round-7: partition-pruned Iceberg read (staging warm; timed work
    # is manifest walk + partition pruning + the single-partition scan
    # — the metadata-pruning floor), the CoW-DML'd table read (staging
    # warm; read+agg over a rewritten file set incl. EXISTING
    # carry-forwards), the stream-drained table read (staging warm),
    # and the sketch build+rollup (one scan + HLL union — the one new
    # entry that re-reads source data every repeat).
    "lakehouse_iceberg_partitioned_agg",
    "lakehouse_iceberg_merge_agg",
    "streaming_iceberg_sink_agg",
    "sketch_rollup_exact_agg",
    # Round-7 late: native Hudi snapshot read (staging warm; timed
    # work is timeline walk + latest-slice selection + scan + agg —
    # the third format's read floor) and the upsert-table read.
    "lakehouse_hudi_events_agg",
    "lakehouse_hudi_upsert_agg",
    # Round-8: the Hudi family completion — partition-pruned read
    # (dir-pruning floor), incremental pull (commit-time-filtered
    # slice scan), and the stream-drained table read (staging warm for
    # all three; same caveat as the Delta/Iceberg twins).
    "lakehouse_hudi_partitioned_agg",
    "lakehouse_hudi_incremental_agg",
    "streaming_hudi_sink_agg",
    # Round-8 late: MOR positional-delete read (staging warm; timed
    # work is the delete-pair build + per-scan anti-join — the
    # row-level-delete read floor; PARTITIONED staging since r9, so
    # the number also covers per-branch anti-join application).
    "lakehouse_iceberg_positional_delete_agg",
    # Round-9: the new foreign-read surfaces — transform-partitioned
    # Iceberg read (staging warm; timed work is the manifest walk +
    # transform-space pruning + single-day scan), the deletion-vector
    # Delta read (staging warm; timed work is DV decode + broadcast
    # anti-join + scan — the Delta row-level-delete read floor), and
    # the restored-table read (staging warm; metadata-cost floor of
    # RESTORE's live-set-equals-target commit).
    "lakehouse_iceberg_transform_partitioned_agg",
    "lakehouse_delta_dv_agg",
    "lakehouse_delta_restore_agg",
    # Round-9 late: CDF read over cdc actions (staging warm; timed
    # work is the per-commit cdc parquet scan + change-type agg — the
    # change-feed read floor when the writer materialized the rows).
    "lakehouse_delta_cdf_agg",
    # Round-9 late: the native Delta streaming source (staging warm;
    # timed work is the FULL per-run drain — version planning + three
    # Arrow-batched micro-batches + parquet re-write + agg; the
    # measured-heavy policy, same as streaming_update_mode_counts).
    "streaming_delta_source_agg",
    # Round-9 late: the Iceberg changelog (staging warm; timed work is
    # two manifest-list walks + the removed-vs-added keyed diff over
    # the update snapshot's touched files — the Delta row_changes
    # twin's floor).
    "lakehouse_iceberg_row_changes",
    # Round-11 (r10 verdict item 5): the two cheapest r10 graded
    # surfaces get recorded floors — the post-REORG read (staging
    # warm; timed work is the plain scan of the folded file set — a
    # regression here means the fold left vectors or dead files
    # behind) and the v3 Puffin-DV read (staging warm; timed work is
    # the v3 metadata walk + portable-roaring decode + anti-join —
    # the Iceberg DV read floor).
    "lakehouse_delta_reorg_agg",
    "lakehouse_iceberg_v3_dv_agg",
    # Round-12: HEADLINE-ON-GRADE is now POLICY (r11 verdict item 3,
    # recurring gap): every query in the graded window carries a
    # recorded perf floor, enforced by tests/test_bench_contract.py's
    # GRADED_FIRST ⊆ HEADLINE invariant. This block closes the
    # backlog — the three r11 window entries the verdict named, the
    # r12 newcomer, and the thirteen older graded queries that never
    # got floors (all staging-warm where staged; timed work noted):
    # v3 DV-DML'd table read (v3 metadata + superseded-vector decode +
    # anti-join + scan), the sorted-table point read (clustered-layout
    # pruning floor), the CDF stream drain (per-commit micro-batch
    # machinery), and the lineage read (id-map broadcast + coalesce
    # over materialized/derived ids — the v3 lineage read floor).
    "lakehouse_iceberg_v3_dml_agg",
    "lakehouse_iceberg_sorted_agg",
    "streaming_delta_cdf_agg",
    "lakehouse_iceberg_lineage_agg",
    "text_repetition_signals",
    "lakehouse_delta_delete_update_agg",
    "tpch_q15_top_supplier",
    "lakehouse_delta_mapped_dml_agg",
    "chunk_documents_strided",
    "dedup_semantic_keep",
    "lakehouse_delta_mor_merge_agg",
    "lakehouse_iceberg_time_travel_agg",
    "lakehouse_iceberg_incremental_agg",
    "quality_observed_metrics",
    "pack_length_bucket_stats",
    "events_variant_extract",
    "dedup_exact_case_insensitive",
    # Round-12 late (headline-on-grade policy): the Delta row-tracking
    # read floor — resolving scan (materialized-vs-derived coalesce) +
    # the relational agg read over the DML'd table (staging warm).
    "lakehouse_delta_row_tracking_agg",
    # Round-12 late: write-audit-publish (staging warm; timed work is
    # the metadata invariant walk — ancestry/provenance/log-monotone —
    # + the five-snapshot main read; publish itself is a one-time
    # metadata commit inside staging).
    "lakehouse_iceberg_wap_agg",
    # Round-12 late: shallow clone (staging warm; timed work is the
    # two log replays + provenance checks + the clone read over
    # absolute-path adds — a regression here means the fork machinery
    # started copying or re-listing data).
    "lakehouse_delta_clone_agg",
    # Round-12 late: identity columns (staging warm; timed work is the
    # log replay + the arithmetic-series invariant agg + the relational
    # agg read — generation itself happens once inside staging).
    "lakehouse_delta_identity_agg",
    # Round-12 late: partition spec evolution (staging warm; timed
    # work is the metadata invariant walk + the pruned-read exactness
    # probe + the mixed-spec read and agg — a regression here means
    # mixed-spec grouping started widening plans or re-listing).
    "lakehouse_iceberg_spec_evolution_agg",
    # Round-13: Hudi MERGE_ON_READ family (staging warm; timed work:
    # mor_agg = timeline/slice planning + per-slice log merge over the
    # dirty slices + vectorized scan of clean ones + agg — the
    # log-structured read floor; incremental = touched-group merge +
    # commit-time filter; compaction_agg = the post-compaction read
    # where only the second upsert's slices pay the merge — a
    # regression here means merges stopped being per-slice or clean
    # slices left the vectorized path).
    "lakehouse_hudi_mor_agg",
    "lakehouse_hudi_mor_incremental_agg",
    "lakehouse_hudi_compaction_agg",
    # Round-15: ordering-keyed MOR merge with ordering-valued delete
    # blocks (staging warm; timed work is the snapshot read whose
    # dirty slices resolve log-vs-base/log-vs-log/delete orderings in
    # the per-slice Arrow merge — a regression here means the ordering
    # comparisons left the per-overlapping-key path or clean slices
    # left the vectorized leg).
    "lakehouse_hudi_mor_ordering_agg",
    # Round-15 late: clustering (staging warm; timed work is the
    # single-clustered-file vectorized read plus the in-query layout
    # RAISE pass — one metadata walk, one single-column sortedness
    # scan, one empty incremental plan; a regression here means the
    # clustered read stopped being one clean vectorized file scan).
    "lakehouse_hudi_cluster_agg",
    # Round-14: transformWithStateInPandas running totals (staging
    # warm; timed work is the state-v2 query drain — RocksDB store
    # init, protobuf state protocol round-trips per key group, Arrow
    # batch transfer — the arbitrary-stateful-streaming v2 floor; a
    # regression here means state lookups left the vectorized path or
    # the drain stopped being one pass).
    "streaming_state_v2_running_totals",
]


def _sf_from_dir(sf_dir: str) -> float:
    base = os.path.basename(sf_dir.rstrip("/"))
    try:
        return float(base.replace("sf", ""))
    except ValueError:
        return -1.0


def format_output(
    timings: dict[str, float], errors: dict[str, str], sf: float
) -> dict:
    """The one-line bench artifact, key order deliberate (r12 verdict
    item 4): the driver archives only the LAST 2000 chars of stdout, so
    the bulky per-query map goes FIRST and the headline scalars go LAST
    — the truncated tail then always contains metric/value/sf/clean
    (and the error summary), instead of losing them to the 89-entry
    queries dict. json.dumps preserves dict insertion order."""
    out: dict = {"queries": timings}
    if errors:
        out["errors"] = errors
    out.update(
        {
            "error_count": len(errors),
            "sf": sf,
            "unit": "sec",
            # self-evident run status (r5 verdict item 6): JVM/py4j
            # teardown can spray benign stack fragments onto stderr
            # AFTER the timings; "clean" makes the artifact unambiguous
            # — true means every headline query completed and anything
            # below/around the JSON line is teardown noise, not a
            # mid-run crash.
            "clean": not errors,
            "metric": "headline_total_sec",
            "value": round(sum(timings.values()), 3),
        }
    )
    return out


def write_sidecar(out: dict, path: str | None = None) -> None:
    """Truncation-proof sidecar (r16, VERDICT r15 item 8): BENCH_r14's
    round-over-round comparison was lost to a truncated stdout capture.
    The printed one-line contract is unchanged; the same JSON is ALSO
    written to bench_last.json next to this script so a tail cut can
    never null the comparison again. The JSON goes to a temp file in the
    same dir first and is then renamed over the target, so a reader (or
    a killed run) never sees a half-written file. Best-effort: a
    read-only checkout must not fail the bench."""
    path = path or os.path.join(REPO_ROOT, "bench_last.json")
    tmp = f"{path}.{os.getpid()}.tmp"
    try:
        with open(tmp, "w") as f:
            json.dump(out, f)
            f.write("\n")
        os.replace(tmp, path)
    except OSError:
        try:
            os.remove(tmp)
        except OSError:
            pass


def main() -> None:
    spark = get_spark("sparkstreamingtwitter-bench")
    registry = load_all()
    # warm up the JVM + file listing outside the timings
    spark.read.parquet(os.path.join(SF_DIR, "region.parquet")).count()

    # Crash-proof (r3 lesson: one broken query zeroed the whole round's
    # bench evidence): every query runs in its own try/except, failures
    # are recorded under "errors", and headline_total_sec is still
    # emitted over the queries that completed.
    timings: dict[str, float] = {}
    errors: dict[str, str] = {}
    for name in HEADLINE:
        q = registry[name]
        best = float("inf")
        try:
            for _ in range(REPEATS):
                t0 = time.perf_counter()
                q.fn(spark, SF_DIR).count()
                best = min(best, time.perf_counter() - t0)
            timings[name] = round(best, 3)
        except Exception as e:  # noqa: BLE001 - must survive any query
            errors[name] = f"{type(e).__name__}: {e}"[:500]

    out = format_output(timings, errors, _sf_from_dir(SF_DIR))
    # stop the session BEFORE printing so teardown noise lands above
    # the JSON line, keeping it the artifact's last word
    try:
        spark.stop()
    except Exception:  # noqa: BLE001 - teardown must not eat the result
        pass
    write_sidecar(out)
    print(json.dumps(out))
    sys.stdout.flush()


if __name__ == "__main__":
    main()
