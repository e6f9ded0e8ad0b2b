#!/usr/bin/env python3
"""Regenerate EXPLAINS.md: capture .explain("formatted") for flagship
queries and annotate the scale-relevant plan properties."""

from __future__ import annotations

import contextlib
import io
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from rust_vector_search_spark.plans import QUERIES  # noqa: E402
from rust_vector_search_spark.session import get_spark  # noqa: E402

NOTES = {
    "ann_cached_certification_fixture": (
        "The recurring-health shape at 100 TB: the certification side "
        "touches the current corpus ONLY through slim id joins (the "
        "survivor semi-join and the ledger algebra carry vec_id/"
        "query_id columns, never vectors), the per-query ledger is an "
        "n_sample-bounded window over the anchored truth READ from "
        "parquet (never recomputed), and the approx side is the "
        "fixture forest search - join-chain descent + equi-join "
        "backfill, no NestedLoop. The one vector-width term is the "
        "bounded re-rank of routed candidates."
    ),
    "q6_forecast_revenue": (
        "All three predicates reach the parquet scan (PushedFilters); "
        "ReadSchema carries only the 4 referenced columns of 16."
    ),
    "knn_exact_euclidean": (
        "The query side broadcasts (BroadcastNestedLoopJoin over 10 rows); "
        "the corpus never shuffles until the per-query top-k window; "
        "distance math is a Catalyst higher-order expression inside "
        "codegen - no Python."
    ),
    "q5_region_nation_revenue": (
        "Every dimension joins as BroadcastHashJoin; the only exchanges "
        "are the partial->final aggregation on n_name."
    ),
    "multimodal_binary_features": (
        "The single deliberate Python crossing: MapInPandas (Arrow "
        "batches), flanked by JVM-side projection."
    ),
    "all_pairs_approx_top3": (
        "The flagship: corpus-as-queries routing is one MapInPandas pass "
        "over a broadcast node map (no per-level joins); candidates come "
        "from leaf/backfill EQUI-joins (no NestedLoop anywhere), and the "
        "exact re-rank scores only the candidate set inside codegen."
    ),
    "ann_int8_rerank_topk": (
        "Quantized codes (4x smaller than f32) are what crosses the "
        "prefilter exchange; the full-precision vectors join back for "
        "candidate rows only — the storage/bandwidth scale path."
    ),
    "dedup_minhash_components": (
        "Each label-propagation round is one shuffle join + one "
        "aggregation on the edge list; no driver-side graph structure — "
        "component count/size never bounds memory."
    ),
    "dedup_simhash_components_star": (
        "The O(log n) components path: each large-star/small-star "
        "half-step is a min-aggregation + equi-join over the edge list; "
        "per-node state is a single min (never a neighbor list), so "
        "high-degree dup clusters don't skew a task."
    ),
    "doc_repetition_score": (
        "Zero computation shuffles: bigram construction, duplicate "
        "fraction, and max-frequency (longest equal-run fold over the "
        "sorted array) are all per-row HOFs inside whole-stage codegen."
    ),
    "multimodal_audio_features": (
        "Arrow-batched encode and decode are back-to-back MapInPandas "
        "stages with no exchange between them — binary payloads never "
        "shuffle."
    ),
    "multimodal_png_features": (
        "The compressed-image path has the same shuffle-free shape as "
        "BMP/WAV: zlib deflate/inflate and scanline unfiltering run "
        "inside Arrow-batched MapInPandas stages; only doc_id and the "
        "bounded feature row ever reach an exchange."
    ),
    "decontaminate_spans": (
        "The contamination match is a BroadcastHashJoin LeftSemi on the "
        "window md5 — the 100-TB train side never shuffles to find "
        "overlap with the (small) benchmark key set; the only exchange "
        "is the per-doc island merge, carrying (doc_id, pos) pairs."
    ),
    "events_trailing_10min": (
        "A value-based RANGE frame on epoch microseconds: one hash "
        "exchange on user_id, then a single sorted pass computes every "
        "event's trailing-10-min stats — no self-join, no explode."
    ),
    "dedup_substring_clean": (
        "Ownership of every duplicated window is decided on a slim "
        "(doc_id, pos, hash) exchange; token payload crosses an "
        "exchange only in the final per-doc re-join, which is the "
        "output itself."
    ),
    "dedup_embedding_survivors": (
        "Cosine candidates never leave their IVF cell (equi-join on "
        "cell id, O(sum cell^2) not O(N^2)); the star contraction is "
        "one min-aggregation + equi-join per O(log n) round; the final "
        "survivor agg ships (component_id) only."
    ),
    "training_corpus_pipeline": (
        "The whole pipeline is one DAG: quality filters push into the "
        "scan, exact dedup shuffles a 32-byte content hash (never the "
        "document body), the checkpointed survivor set fans out to "
        "minhash banding / survivor join / contamination windows "
        "without re-scanning, and decontamination is a broadcast "
        "semi-join."
    ),
    "ann_ivfpq_topk": (
        "The IVF-PQ composition: the candidate scan reaches the PQ code "
        "table through a cell EQUI-join against the broadcast probe "
        "list; the only nested-loop joins are the three tiny broadcasts "
        "(corpus x centroids, queries x centroids, queries x codebook). "
        "Per scanned candidate the plan touches m=8 ints + one LUT fold "
        "(~32x fewer bytes than f32); full vectors join back for the "
        "re-rank rows only."
    ),
    "doc_lang_mixture_sample": (
        "Quota computation is a partial+final count per language folded "
        "on ONE row (no driver collect); quotas come back as a "
        "BroadcastHashJoin; the selection pays exactly one exchange — "
        "the md5-ranked window per stratum."
    ),
    "events_cms_heavy_hitters": (
        "The sketch build is a partial+final count over a BOUNDED group "
        "domain (4x256) — each map task emits at most 1024 rows into "
        "the exchange regardless of input size; estimation joins the "
        "sketch back as a BroadcastHashJoin."
    ),
    "bloom_prune_lineitem_orders": (
        "The runtime-filter shape: the 2 KB word array rides into the "
        "lineitem scan as a literal, so candidate pruning (getbit "
        "tests, pure codegen integer ops) happens INSIDE the scan "
        "stage — 93% of big-side rows never reach the join exchange; "
        "the build side is TakeOrderedAndProject (distributed partial "
        "top-k, no global sort) and the residual join broadcasts it."
    ),
    "pagerank_customer_supplier": (
        "Each of the 5 iterations is ONE join of the slim (src, dst, "
        "degree) edge frame against the (node, rank) state + ONE "
        "aggregation on dst — 16-byte rows through both exchanges, "
        "never adjacency lists; rank state is a single bigint per "
        "node (integer micro-units, so partial-agg order cannot "
        "perturb the fixpoint). The edge frame is localCheckpointed "
        "once (lazily it would re-derive the orders-lineitem pipeline "
        "per iteration) and the rank state checkpoints every 4 "
        "iterations, so per-iteration cost is flat in the iteration "
        "count (0.22 s marginal at sf0.1 through 20 iterations). At "
        "cluster scale the edge frame buckets by src once and every "
        "iteration joins co-located."
    ),
    "zorder_layout_stats": (
        "The Morton interleave is 64 BIGINT shift/and/or terms inside "
        "whole-stage codegen over RANGE-NORMALIZED keys (broadcast "
        "1-row bounds; wide keys keep their clustering instead of "
        "wrapping at the 16-bit mask). Bucketing is the two-pass "
        "distributed exact rank: repartitionByRange + "
        "sortWithinPartitions frozen by localCheckpoint, per-partition "
        "count offsets, then a narrow Arrow pass emitting only "
        "per-bucket partials — ZERO Exchange SinglePartition in the "
        "executed plan (r6's ntile-over-global-window sorted the whole "
        "table on one task)."
    ),
    "scd2_customer_order_history": (
        "ONE hash exchange on o_custkey serves the version row_number, "
        "the lead() interval close, and the decimal running balance "
        "(three window functions over the same sort); customer "
        "attributes arrive as a BroadcastHashJoin — the change stream "
        "never re-shuffles for the dimension."
    ),
    "hard_negative_pairs": (
        "The 10-row labeled query set broadcasts "
        "(BroadcastNestedLoopJoin); the label-mismatch predicate "
        "filters INSIDE the join stage before any distance math, and "
        "the cosine fold is a Catalyst HOF in codegen — the corpus "
        "shuffles once, for the per-query top-k window."
    ),
    "doc_tfidf_top_terms": (
        "Two algorithm-required exchanges — the (doc, term) tf count "
        "and the per-term df — both partial+final; N arrives as a "
        "literal; the top-3 window reuses the doc_id hash partitioning "
        "of the tf aggregate, so no third computation shuffle."
    ),
    "events_funnel_counts": (
        "Each stage is a per-user MIN aggregation whose (small) output "
        "broadcasts into the next stage's event filter — three "
        "broadcast joins against the big scan, no window over the "
        "whole stream, no self-join pair space."
    ),
    "incremental_view_merge": (
        "Base and delta each aggregate map-side (partial+final on "
        "event_type); the merge is ONE full-outer join of two "
        "group-count-sized tables — the delta never touches base rows. "
        "DECIMAL sums make base-plus-delta bit-equal to the full "
        "recompute the oracle runs."
    ),
    "fuzzy_name_pairs": (
        "The deletion-neighborhood explode is row-local (map-side "
        "inside the scan); candidates meet on a slim variant "
        "equi-join; levenshtein verifies candidates only — the "
        "quadratic cross join exists solely in the oracle."
    ),
    "label_feature_moments": (
        "One hash exchange on label feeds the grouped Arrow batches; "
        "all arithmetic inside the pandas kernel is exact int64 after "
        "floor-quantization, so the Python stage is value-checkable, "
        "not just schema-stable."
    ),
    "label_id_stats": (
        "The r8 driver-window witness of the same grouped-Arrow bridge "
        "with ZERO float hazard: one hash exchange on label, a two-column "
        "(label, vec_id) projection into the Arrow batches, exact int64 "
        "aggregates out — any hash mismatch can only be the bridge "
        "itself, never numerics."
    ),
    "ann_all_pairs_spill_leaflocal": (
        "The r10 recall dial on the 100 TB dedup shape: spill visits "
        "(computed once per member from its own ancestor chain — slim "
        "equi-join seeds, per-level checkpointed sibling descent, no "
        "corpus re-descent) union into the SAME leaf-local groups as "
        "query-only visitor rows; all pair math runs in one grouped-map "
        "numpy kernel inside bounded groups (each query's top k per "
        "leaf), and only slim "
        "(query, vec, dist) triples reach the dedup and top-k "
        "exchanges — shuffle volume linear in corpus x trees plus the "
        "margin-bounded spilled fraction."
    ),
}


def main() -> None:
    spark = get_spark(app_name="explains", master="local[8]", shuffle_partitions=8)
    out = [
        "# EXPLAINS — physical-plan evidence (generated from live sessions)",
        "",
        '`.explain("formatted")` captures for flagship queries at sf0.001,',
        "with the scale-relevant properties annotated. Regenerate with",
        "`python tools/gen_explains.py`.",
        "",
    ]
    for name, note in NOTES.items():
        df = QUERIES[name](spark, "/root/testdata/sf0.001")
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        out.append(f"## {name}\n\n**Why this plan is right at 100 TB:** {note}\n")
        out.append("```")
        out.append(buf.getvalue().strip()[:4000])
        out.append("```\n")
    with open(os.path.join(os.path.dirname(os.path.dirname(
            os.path.abspath(__file__))), "EXPLAINS.md"), "w") as f:
        f.write("\n".join(out))
    spark.stop()


if __name__ == "__main__":
    main()
