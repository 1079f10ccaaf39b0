"""Two-size scale measurement: the 10x synthesizer, the scale gate list
and the streaming state measurement.

``synth_10x`` writes a 10x copy of a scale-factor dir (each replica of
the documents/embeddings tables perturbed with a replica-unique token /
offset, so the per-replica duplicate structure is identical and the
TRUE scaling of every linear claim is exactly 10x).  ``QUERIES`` names
the registry gates measured at both sizes and what each one's linear
claim is; ``tools/gate_profile.py scale --sf SRC DST`` measures them.
This script synthesizes DST from SRC (DST must not exist), then
measures the streaming jobs' state-store growth at both sizes:

    python tools/scale_measure.py SRC DST [OUT_JSON]    # OUT_JSON: SCALE_STREAM.json

Scaling exponents (``gate_profile.alpha``): alpha = log10(metric_10x /
metric_1x); ~1.0 is linear, ~2.0 quadratic.
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

REPLICAS = 10
TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]

QUERIES = [
    # (name, what the linear claim is)
    ("cusum_drift_events", "CUSUM in window closed form: (type, day) partial agg then two fused windows over calendar-bounded rows"),
    ("chi2_weekday_events", "contingency cells bounded by |types|x7; one partial-agg groupBy + broadcast totals"),
    ("audience_overlap_event_types", "pairs bounded by |types|^2 per user; distinct (user,type) is the only row-sized shuffle"),
    ("nb_classifier_auc", "distinct-margin window only; (score) groupBy with map-side combine"),
    ("nb_calibration_deciles", "selection rounds over cached slim (score,label); bucket groupBy bounded by 10"),
    ("leadlag_xcorr_event_types", "daily partial agg first; lag grid explodes only the slim series table"),
    ("exact_dedup_documents", "hash groupBy, text never shuffles"),
    ("minhash_signatures_documents", "zero-shuffle map-side signatures"),
    ("minhash_lsh_pairs", "band-bucket equi-join, no all-pairs"),
    ("minhash_dedup_groups", "linear representative form"),
    ("simhash_documents", "map-side fingerprints"),
    ("ngram_jaccard_pairs", "inverted index + stop-shingle guard (the guarded quadratic)"),
    ("incremental_minhash_dedup", "store probe over signatures only"),
    ("sequence_packing_documents", "two-phase parallel prefix sum"),
    ("test_set_contamination", "distinct-hash join per corpus"),
    ("ivf_assignment", "broadcast-centroid argmin"),
    ("semantic_dedup_groups", "within-IVF-bucket cosine"),
    # round-5 extension: quality/tokenize/sample/ANN families
    ("gopher_quality_filter", "pure JVM column math, zero shuffles"),
    ("repetition_filter_documents", "per-doc n-gram counts, one shuffle of (doc, gram)"),
    ("tfidf_top_terms", "explode + two aggs, vocab-sized DF table"),
    ("token_ids_documents", "posexplode + broadcast vocab join"),
    ("pii_redaction_documents", "chained codegen regexp, map-side"),
    ("chunked_documents", "fixed fan-out explode"),
    ("training_shuffle_rank", "two-phase parallel prefix sum"),
    ("stratified_sample_documents", "slim (id, stratum) shuffle + semi-join back"),
    ("length_grouped_shards", "range partition + local rank"),
    ("cosine_topk_bruteforce", "broadcast query side, O(n·q) scan"),
    ("ivf_topk_bucketed", "bucket equi-join candidates only"),
    # round-5b extension: streaming/window family (10x events corpus =
    # 10 replicas with shifted user/event ids, per-replica session
    # structure identical to the source)
    ("tumbling_hourly_events", "partial agg: map-side combine, window-key shuffle only"),
    ("session_windows_events", "per-user sessionization, (user) key shuffle"),
    ("first_event_per_user", "top-1 per key via min-struct partial agg"),
    ("event_gap_stats", "per-user lag window over slim columns"),
    # round-6 extension: retrieval + curation family
    ("bm25_query_topk", "index build linear in tokens; probe touches queried-term postings only"),
    ("dsir_importance_weights", "map-side hashed features; B-row broadcast bucket models"),
    ("postings_incremental_merge", "index-sized union + vocab-sized df merge"),
    ("int8_dot_topk_embeddings", "broadcast quantized queries, single corpus scan"),
    # round-6b extension: curation/graph family
    ("char_entropy_documents", "explode + two slim groupBys, text read once"),
    ("blocklist_filter_documents", "pure JVM word membership, zero shuffles"),
    ("temperature_sample_languages", "slim (id, lang) phases + broadcast semi-join back"),
    ("cc_bigstar_long_chains", "O(log) star phases, (bigint, bigint) shuffles only"),
    ("repeated_ngram_spans_documents", "windowed shingle hash index, (id, pos) shuffles"),
    ("curation_funnel_documents", "stage-chained scan predicates; counts are 1-row aggs"),
    ("near_contamination_check", "map-side signatures both sides, broadcast banded eval join"),
    ("script_mix_documents", "map-side codepoint classes, zero shuffles"),
    # round-6c extension: LSH verification stage + trained classifier
    ("lsh_verified_pairs", "Levenshtein bounded by candidate count x char cap, never all-pairs"),
    ("verified_dedup_clusters", "star CC over verified pairs only; (bigint, bigint) shuffles"),
    ("nb_quality_classifier", "train = one slim groupBy; fixed 2x4096 broadcast model"),
    ("ivf_mutual_nn_bitext", "cell-product candidates, never |A|x|B|; symmetric 3-probe"),
    ("bm25_hard_negatives", "postings equi-join only; negatives re-rank over <= k rows/query"),
    ("unigram_token_counts", "DP over the DISTINCT-WORD table; corpus joins broadcast seg table"),
    # round-6f extension: portable-sketch family (events corpus: user
    # ids shift per replica, so distinct users scale exactly 10x)
    ("hll_register_table_users", "fixed 64-register state: shuffle bytes FLAT while input grows"),
    ("kmv_sketch_users", "bottom-k TakeOrdered over a slim 8-byte distinct-hash shuffle"),
    ("kmv_jaccard_event_types", "per-type bottom-k windows over slim (type, hash) rows"),
    # round-6f extension 2: citation-graph + keyword extraction
    ("cocitation_pairs", "3 targets/doc -> 3 pairs/doc, linear; count shuffle on pair key"),
    ("bibliographic_coupling_hist", "hub-capped target self-join, pairs linear under the cap"),
    ("rake_keywords_documents", "map-side phrase split; vocab-sized word stats; TakeOrdered 20"),
    # round-6f extension 3: association mining + behavioral windows
    ("cooccurrence_lift_documents", "map-side zip_with pairs (no self-join); pair-count shuffle"),
    ("sliding_topk_event_types", "(window, type) partial agg; rank input bounded by type domain"),
    ("event_transition_counts", "per-user lead window over slim columns; 25-cell matrix out"),
    ("hll_distinct_per_hour", "per-window register exchange capped at 64 rows/window"),
    # round-6g extension: media decode family (pure map-side codecs —
    # zero shuffle by construction, wall linear in payload bytes)
    ("image_resize_stats", "decode -> box filter -> re-encode, all inside mapInPandas"),
    ("gif_frame_sample_stats", "LZW decode + frame fan-out, map-side"),
    ("media_router_stats", "per-row sniff dispatch to 4 codecs, map-side"),
    ("g711_decode_stats", "table-free formula expansion per byte, map-side"),
    # round-7 additions
    ("adpcm_decode_stats", "stateful block recurrence, still pure map-side"),
    ("phrase_search_documents", "broadcast term join + anchor agg; only phrase-term postings move"),
    ("interval_overlap_events", "bucket-exploded equi-join, <= 2 buckets/interval"),
    ("image_dhash_neardup_pairs", "map-side decode+hash; banded hamming join over slim fingerprints"),
    ("wordpiece_segmentation", "greedy rounds over the DISTINCT-WORD table, broadcast vocab"),
    ("preference_pairs_documents", "broadcast-model scoring + per-lang slim rank/self-join"),
    ("kcore_citation_clusters", "bounded-round peel, (bigint,bigint) shuffles only"),
    ("wordpiece_token_counts", "apply-tokenizer: broadcast segmentation join, corpus one explode"),
    ("multitouch_attribution_events", "user-key equi-join + per-(user,purchase) windows, 8-cell report"),
    ("audio_fingerprint_neardup_pairs", "map-side decode+energy hash; shared banded hamming join"),
    ("video_fingerprint_neardup_pairs", "map-side AVI decode+temporal hash; shared banded hamming join"),
    # round-8 additions
    ("quality_quota_sample", "NB scoring map-side; per-bucket quota rank over slim (id, score) rows"),
    ("media_neardup_pairs", "one sniff+fingerprint pass, payloads never shuffle; grouped banded join"),
    ("incremental_media_neardup", "asymmetric registry probe; candidates bounded by shared bands"),
    ("coreness_citation_nodes", "h-index rounds: slim (bigint,bigint) shuffles, depth-bounded"),
    ("cdc_chunk_dedup", "map-side rolling-hash chunking; one groupBy on fixed-width chunk keys"),
    ("windowed_funnel_events", "filtered min-agg chain; slim (user, us) joins, 3-cell report"),
    # round-10 (VERDICT r09 item 5): the TPC-H facts are now genuinely
    # replicated (per-replica key shifts, FK-consistent), so the
    # relational-only gates get REAL two-SF rows instead of prose
    ("fd_check_lineitem", "one distinct-pair groupBy per FD candidate; rows shuffle as distinct (lhs, rhs) combos"),
    ("exact_median_order_value", "<= 3 rounds of binning aggregates; driver sees <= bins rows/round"),
    ("weighted_median_line_price", "the selection shape with cumulative-weight ranks"),
    ("gini_customer_spend", "per-customer groupBy + ONE window over the distinct-value table"),
    ("join_size_estimate_nations", "two map-side fixed-size sketches; nothing row-sized shuffles"),
    ("key_skew_orders", "key-count groupBy + TakeOrdered 10, never a global sort"),
    ("fk_integrity_tpch", "six left-anti orphan probes over distinct child keys"),
    # round-10 drift family + the streaming-CUSUM replay gate
    ("ks_drift_order_priority", "distinct-value groupBy + two-phase prefix sum; no single-task window"),
    ("psi_doclen_snapshots", "one (bin, side) groupBy; <= 41 bins whatever the corpus size"),
    ("js_token_drift_snapshots", "token explode -> vocab-sized groupBy; totals broadcast as one row"),
    ("incremental_cusum_drift", "one shuffle on event_type into the replayed stateful fold; per-key linear"),
    ("cumulative_users_by_day", "slim (user,date) min-agg; window bounded by the date domain"),
    ("ewma_gap_events", "sequential per-user fold over slim (user, us) rows, one state int/key"),
    ("event_path_mining", "two lead windows, bounded |types|^3 key domain, TakeOrdered top-k"),
    ("nearest_click_to_purchase", "tolerance-banded equi-join + min-struct, no window over pairs"),
    # round-10b: model-guided curation diagnostics + survival
    ("label_noise_confident_joint", "NB scoring shuffles + one slim (label, margin) groupBy; joint is 6 cells"),
    ("uncertainty_margin_sample", "TakeOrderedAndProject over per-doc margins; no global sort"),
    ("nb_loo_self_influence", "ONE featurization, two corpus exchanges; model/count tables broadcast"),
    ("kaplan_meier_customer_churn", "per-customer min/max agg; risk table bounded by distinct durations"),
    # round-11: grouped drift, doc-level mislabel, k-class joint,
    # streaming PSI register
    ("ks_drift_by_region", "ONE prefix-sum pass for all slices (per-slice diffs sum to zero); slice totals broadcast, zero driver collects"),
    ("mislabel_candidates_docs", "NB scoring shuffles + map-side filter over the checkpointed slim projection"),
    ("label_noise_joint_language", "LID model broadcast; margins from one doc-partitioned window; k-row threshold collect"),
    ("incremental_psi_drift", "one snapshot-key shuffle into the replayed register fold; state bin-bounded"),
    ("psi_doclen_by_lang", "one (slice, bin) groupBy; slice-sized totals broadcast back, zero driver collects"),
    ("mislabel_candidates_language", "LID chain + margin checkpoint; candidates filter map-side over it"),
    ("cvm_drift_order_priority", "KS's distinct-value prefix pass + one decimal square-sum aggregate"),
    ("js_token_drift_by_lang", "one (slice, token) groupBy; slice totals broadcast; vocab-bounded emission"),
    ("logrank_churn_by_segment", "distinct-duration table; both at-risk countdowns in ONE prefix pass"),
    ("ks_drift_fdr_by_nation", "per-slice KS prefix pass; BH windows run over the 25-row report only"),
]


def synth_10x(spark, src: str, dst: str) -> None:
    """10 replicas of ``src`` written to ``dst``, which must not exist
    (a copy left from another source would pass for this one's 10x).
    Texts get a replica token appended (replica dup structure ==
    source's, no cross-replica near-dups), embeddings a tiny
    deterministic per-replica offset.  Other tables symlink."""
    from pyspark.sql import functions as F

    replicated = (
        "documents", "embeddings", "events",
        # round-10: TPC-H facts replicate with per-replica key shifts
        "orders", "lineitem", "customer", "supplier",
    )
    os.makedirs(dst)
    reps = spark.range(REPLICAS).withColumnRenamed("id", "rep")
    for t in TABLES:
        if t not in replicated:
            os.symlink(os.path.abspath(os.path.join(src, f"{t}.parquet")), os.path.join(dst, f"{t}.parquet"))

    # TPC-H facts: shift the REPLICATED tables' keys per replica so
    # every FK that points at a replicated parent shifts consistently
    # (lineitem.l_orderkey -> orders, l_suppkey -> supplier,
    # orders.o_custkey -> customer) while FKs into SYMLINKED dims
    # (l_partkey -> part, *_nationkey -> nation) stay unshifted — the
    # 10x corpus passes the same fk_integrity audit with zero orphans
    # and every per-replica group/FD/skew structure is identical to
    # the source.  Values (prices, quantities, dates) are untouched:
    # medians/Gini stay at the source value while the input is 10x.
    def _maxkey(table: str, col: str) -> int:
        return (
            spark.read.parquet(os.path.join(src, f"{table}.parquet"))
            .agg(F.max(col))
            .collect()[0][0]
            + 1
        )

    rel_shifts = {
        "orders": {"o_orderkey": ("orders", "o_orderkey"),
                   "o_custkey": ("customer", "c_custkey")},
        "lineitem": {"l_orderkey": ("orders", "o_orderkey"),
                     "l_suppkey": ("supplier", "s_suppkey")},
        "customer": {"c_custkey": ("customer", "c_custkey")},
        "supplier": {"s_suppkey": ("supplier", "s_suppkey")},
    }
    bases = {
        (pt, pc): _maxkey(pt, pc)
        for shifts in rel_shifts.values()
        for pt, pc in shifts.values()
    }
    for t, shifts in rel_shifts.items():
        tdf = spark.read.parquet(os.path.join(src, f"{t}.parquet"))
        big_t = tdf.crossJoin(reps)
        for col, parent in shifts.items():
            dtype = dict(tdf.dtypes)[col]
            big_t = big_t.withColumn(
                col,
                (F.col(col) + F.col("rep") * bases[parent]).cast(dtype),
            )
        big_t.drop("rep").repartition(32).write.mode("overwrite").parquet(
            os.path.join(dst, f"{t}.parquet")
        )

    # events: shift user/event ids per replica, keep timestamps — the
    # per-replica window/session structure is IDENTICAL to the source,
    # so per-user outputs scale exactly 10x and window-keyed aggs see
    # 10x input over the same window keys.  load_table converts the
    # source's TIMESTAMP(NANOS) to real timestamps; the rewritten
    # table carries plain TIMESTAMP and loads through the same path.
    from swisscourtrulingcorpus_spark.sources.catalog import load_table

    ev = load_table(spark, src, "events")
    nu = ev.agg(F.max("user_id")).collect()[0][0] + 1
    nev = ev.agg(F.max("event_id")).collect()[0][0] + 1
    (
        ev.crossJoin(reps)
        .withColumn("user_id", F.col("user_id") + F.col("rep") * nu)
        .withColumn("event_id", F.col("event_id") + F.col("rep") * nev)
        .drop("rep")
        .repartition(32)
        .write.mode("overwrite")
        .parquet(os.path.join(dst, "events.parquet"))
    )

    docs = spark.read.parquet(os.path.join(src, "documents.parquet"))
    n = docs.agg(F.max("doc_id")).collect()[0][0] + 1
    # Replica transform must be a BIJECTION on texts (within-replica
    # dup/near-dup structure identical to the source) with ZERO
    # cross-replica shingle overlap (no cross-replica near-dups) —
    # suffix every word with the replica id.  A weak perturbation
    # (one appended token) leaves cross-replica Jaccard ≈ 1 and the
    # corpus stops being linear-structured.
    big = (
        docs.crossJoin(reps)
        .withColumn("doc_id", F.col("doc_id") + F.col("rep") * n)
        .withColumn(
            "text",
            F.when(
                (F.col("text").isNotNull()) & (F.col("rep") > 0),
                F.regexp_replace(
                    F.col("text"),
                    F.lit(r"(\S+)"),
                    F.concat(F.lit("$1x"), F.col("rep").cast("string")),
                ),
            ).otherwise(F.col("text")),
        )
        .drop("rep")
    )
    big.repartition(32).write.mode("overwrite").parquet(
        os.path.join(dst, "documents.parquet")
    )

    emb = spark.read.parquet(os.path.join(src, "embeddings.parquet"))
    ne = emb.agg(F.max("vec_id")).collect()[0][0] + 1
    # decorrelate replicas HARD (cosine(v, v') far from 1): elementwise
    # offsets of ~2x the mean |component|, varying with (rep, i)
    scale = (
        emb.select(
            F.avg(
                F.aggregate(
                    F.transform("embedding", lambda v: F.abs(v)),
                    F.lit(0.0),
                    lambda a, x: a + x,
                )
                / F.size("embedding")
            )
        ).collect()[0][0]
        or 1.0
    )
    bige = (
        emb.crossJoin(reps)
        .withColumn("vec_id", F.col("vec_id") + F.col("rep") * ne)
        .withColumn(
            "embedding",
            F.transform(
                "embedding",
                lambda v, i: F.when(F.col("rep") == 0, v).otherwise(
                    v
                    + (
                        ((F.col("rep") * 31 + i) % 7 - 3).cast("double")
                        * F.lit(2.0 * scale)
                    ).cast(
                        "float"
                    )
                ),
            ),
        )
        .drop("rep")
    )
    bige.repartition(32).write.mode("overwrite").parquet(
        os.path.join(dst, "embeddings.parquet")
    )


# --- streaming state-scale measurement (VERDICT r05 item 8) -----------
#
# The streaming analog of "does this scale" is STATE-STORE growth under
# watermark: session windows hold one row per open (user, session), the
# stream-stream interval join buffers both sides until watermark +
# join-window pass.  Measured from StreamingQueryProgress.stateOperators
# (public API) at both sizes, over multi-batch AvailableNow runs so
# watermark eviction actually executes between micro-batches.

STREAM_QUERIES = [
    (
        "stream_session_windows",
        "state rows == open (user, session) pairs; closed sessions evicted at watermark",
    ),
    (
        "stream_tumbling_counts",
        "state rows == open window keys (time-bounded, independent of input size)",
    ),
    (
        "stream_interval_join",
        "buffered rows bounded by watermark + 30-min join window on both sides",
    ),
    # round-9 (VERDICT r08 item 4): the applyInPandasWithState custom
    # stateful operators — state must grow with |keys|, never |events|
    (
        "stream_user_profile_state",
        "custom stateful op: state == ONE (n_events, total, last_ts) tuple per user — bytes/key flat, rows track |users| not |events|",
    ),
    (
        "stream_ewma_gap_state",
        "custom stateful op: state == ONE (last_us, n, s) integer triple per user — bytes/key flat, rows track |users| not |events|",
    ),
    # round-10: the streaming CUSUM twin (value-gated this round via
    # the batch replay) — state must track |event types|, not |events|
    (
        "stream_cusum_drift_state",
        "custom stateful op: state == ONE (cur_day, counters) tuple per event_type — rows flat at |types| whatever the stream length",
    ),
    # round-11: the streaming PSI count register (value-gated via the
    # batch replay) — state is one bin-bounded count table per key
    (
        "stream_psi_register_state",
        "custom stateful op: state == ONE csv-packed (bins, cnts) register per snapshot key — rows flat at |keys|, bytes bounded by |keys|x|bins|, whatever the stream length",
    ),
]

#: queries whose sink must run in update mode (applyInPandasWithState
#: emits per-key updates, not appendable finalized rows)
_UPDATE_MODE = {
    "stream_user_profile_state",
    "stream_ewma_gap_state",
    "stream_cusum_drift_state",
    "stream_psi_register_state",
}


def measure_streaming(spark, sf_dir: str) -> dict[str, dict]:
    """One record per ``STREAM_QUERIES`` job at ``sf_dir``: wall
    seconds, input rows, batches, and the peak state rows and bytes."""
    from swisscourtrulingcorpus_spark.streaming.jobs import (
        purchase_attribution_stream,
        read_events_stream,
        session_counts_stream,
        tumbling_counts_stream,
    )
    from swisscourtrulingcorpus_spark.streaming.stateful import (
        cusum_drift_stream,
        cusum_history_refs,
        ewma_gap_stream,
        user_profile_stream,
    )

    def _cusum_stream(s):
        # history-derived constants from the batch table at this SF —
        # the ONE shared definition (streaming/stateful.py)
        from swisscourtrulingcorpus_spark.sources.catalog import load_table

        refs, hs = cusum_history_refs(load_table(spark, sf_dir, "events"))
        return cusum_drift_stream(s, refs, hs)

    def _psi_stream(s):
        # snapshot key = event_type, bins = hour-of-day (24-bounded);
        # the baseline bin list is the full hour domain
        from pyspark.sql import functions as F

        from swisscourtrulingcorpus_spark.streaming.stateful import (
            psi_register_stream,
        )

        binned = s.select(
            F.col("event_type").alias("snapshot"),
            F.hour("ts").cast("long").alias("bin"),
        )
        return psi_register_stream(binned, list(range(24)))

    makers = {
        "stream_psi_register_state": _psi_stream,
        "stream_cusum_drift_state": _cusum_stream,
        "stream_session_windows": session_counts_stream,
        "stream_tumbling_counts": tumbling_counts_stream,
        "stream_interval_join": purchase_attribution_stream,
        "stream_user_profile_state": user_profile_stream,
        "stream_ewma_gap_state": ewma_gap_stream,
    }
    results = {}
    # the 10x events table is written as a 32-part directory, the 1x
    # fixture is one file; cap files/trigger so both run >= 1 batch and
    # the 10x run sees ~8 watermark advances
    for name, maker in makers.items():
        out = maker(read_events_stream(spark, sf_dir, max_files=4))
        with tempfile.TemporaryDirectory(prefix=f"ckpt_sm_{name}_") as ckpt:
            t0 = time.time()
            q = (
                out.writeStream.format("noop")
                .outputMode("update" if name in _UPDATE_MODE else "append")
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
            wall_s = round(time.time() - t0, 2)
        rec = {"wall_s": wall_s, "rows": 0, "batches": 0,
               "state_rows_max": 0, "state_bytes_max": 0}
        for p in q.recentProgress:
            if isinstance(p, str):
                p = json.loads(p)
            ops = p.get("stateOperators") or []
            rec["batches"] += 1
            rec["rows"] += int(p.get("numInputRows") or 0)
            rec["state_rows_max"] = max(rec["state_rows_max"], sum(int(op.get("numRowsTotal") or 0) for op in ops))
            rec["state_bytes_max"] = max(rec["state_bytes_max"], sum(int(op.get("memoryUsedBytes") or 0) for op in ops))
        print(sf_dir, name, json.dumps(rec), flush=True)
        results[name] = rec
    return results


def main() -> None:
    if len(sys.argv) not in (3, 4):
        raise SystemExit("usage: python tools/scale_measure.py SRC DST [OUT_JSON]")
    src, dst = sys.argv[1:3]
    out_json = sys.argv[3] if len(sys.argv) == 4 else "SCALE_STREAM.json"

    from gate_profile import alpha, size_label
    from swisscourtrulingcorpus_spark.session import get_spark

    spark = get_spark(app_name="scale_measure")
    spark.sparkContext.setLogLevel("ERROR")
    print(f"synthesizing the 10x copy of {src} into {dst} ...", flush=True)
    synth_10x(spark, src, dst)
    small, big = measure_streaming(spark, src), measure_streaming(spark, dst)
    results = {
        name: {
            "claim": claim,
            size_label(src): small[name],
            size_label(dst): big[name],
            "alpha": alpha(small[name], big[name]),
        }
        for name, claim in STREAM_QUERIES
    }
    with open(out_json, "w") as fh:
        json.dump(results, fh, indent=1)
    print(f"wrote {out_json}")
    spark.stop()


if __name__ == "__main__":
    main()
