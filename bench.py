"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...} — followed by a compact totals-only
final line that survives tail-truncated captures intact.

Materialization uses the noop sink — full evaluation of every output
column, no driver collect overhead, no column-pruning shortcut.

Methodology: one untimed warm-up run per query (JIT + IO cache), then
BEST-OF-3 timed runs — round-over-round comparisons isolate real plan
changes from ambient stage-pressure noise (the r1→r2 shared-query total
drifted 1.38× with zero plan changes under single-warm-run timing).
Write audits run ONCE with no warm-up (r10): they are full store-write
protocols outside the headline trend, and duplicating them pushed the
artifact toward the driver's bench window.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from sms_db_spark.session import env_flag, get_spark  # noqa: E402
from sms_db_spark.plans import registry  # noqa: E402

# representative spread: scans+filters, the flagship join, big 1:N join,
# hash dedup, grouped agg, window agg, minhash, simhash (map-side fold),
# ANN brute force + LSH, text stats, pandas-UDF plumbing, exact-substring
# dup-span signal, hashed-feature classifier inference.
HEADLINE = [
    "q01_eq_filter_sort",
    "q06_join_meta_data",
    "q07_flagship_join_like",
    "q20_dedup_exact",
    "q22_first_per_group",
    "q23_agg_rollup",
    "q26_three_way_join",
    "q30_window_agg",
    "q41_text_quality",
    "q44_minhash_signatures",
    "q45_minhash_lsh_pairs",
    "q46_simhash",
    "q48_ann_bruteforce_topk",
    "q49_ann_lsh_topk",
    "q51_ann_ivf_topk",
    "q53_clean_pipeline",
    "q55_multimodal_features",
    "q57_tfidf_topk",
    "q69_import_scale",
    "q33_asof_join",
    "q73_lsh_jaccard_verified",
    "q74_embedding_neardup_lsh",
    "q75_multimodal_real_decode",
    "q76_filtered_ann_lsh",
    "q79_sequence_packing",
    "q81_contamination",
    "q88_dup_ngram_coverage",
    "q90_hashed_classifier",
    "q83_dedup_clusters_star",
    "q92_domain_gate",
    "q94_bpe_pair_counts",
    "q97_cluster_representatives",
    "q98_semantic_dedup",
    "q99_dsir_importance",
    "q100_centroid_outliers",
    "q101_length_percentiles",
    "q102_hll_registers",
    "q104_count_min",
    "q111_reconcile_full_outer",
    "q114_heavy_hitters",
    "q123_ann_serving",
    "q124_kmeans_hashed_seed_train",
    "q125_delta_dedup",
    "q126_scd_upsert",
    "q128_sq8_ann_recall",
    "q132_dup_spans",
    "q133_hard_negatives",
    "q138_jl_projection_recall",
    "q140_snapshot_diff",
    "q141_epoch_shuffle",
    "q144_planned_join",
    "q147_salted_planned_join",
    # multimodal near-dup lanes (read-only, so headline not write
    # bucket)
    "q161_image_phash_neardup",
    "q162_audio_fingerprint_neardup",
    "q164_video_frame_neardup",
    # r14-r16 additions, all anchored since the r17 refresh (the
    # unanchored-until-refresh rule applies to post-r17 additions)
    "q165_gopher_repetition",
    "q166_pq_adc_recall",
    "q167_ivfpq_serving",
    "q168_ivfadc_residual",
    "q173_bpe_tokenize",
    "q174_ivfadc_clustered",
    "q176_tokenizer_fertility",
]

# Write-audit queries run real store writers (shards, versioned commits,
# metrics logs) inside the timed body — IO-write cost, not query
# latency. They are timed and reported in their own bucket so the
# headline total stays comparable round over round (VERDICT r5 item 8).
WRITE_AUDITS = [
    "q134_shard_manifest_audit",
    "q135_stream_shard_manifest_audit",
    "q139_fold_audit",
    "q142_versioned_store_audit",
    "q143_metricslog_readback",
    "q145_versioned_merge_audit",
    "q146_gated_upsert_audit",
    "q148_sharded_export_audit",
    "q149_stream_gated_upsert_audit",
    "q150_cow_merge_audit",
    "q151_layout_audit",
    "q152_stream_neardup_audit",
    "q153_band_store_audit",
    "q154_bucketed_join_audit",
    "q155_partitioned_prune_audit",
    "q156_streaming_parity_audit",
    "q157_bucketed_antijoin_dedup_audit",
    "q158_stream_join_ingest_audit",
    "q159_stream_quality_monitor_audit",
    "q160_day2_chain_audit",
    "q163_sqlite_store_audit",
    "q169_streaming_events_parity_audit",
    "q170_cascade_delete_audit",
    "q175_cow_cascade_delete_audit",
    "q177_pq_index_store_audit",
    "q178_stream_ingest_audit",
    "q179_bpe_store_tokenize",
]

# HEAVY-AUDIT ROTATION (VERDICT r12 item 2 / advisor question 1): the
# five streaming/protocol audits are full multi-drop replay protocols
# — ~74 s at r11 prices and 150 s under r12's ambient era, and one r12
# run was killed by the driver's 590 s bench window with the bucket at
# that size. They rotate HALF-PER-ROUND like the correctness gate's
# stale rotation: each bench round times one subset and skips the
# other, so every audit's timed status is at most 2 rounds stale while
# the worst-era artifact wall stays inside the window. CORRECTNESS
# gating is unaffected — these queries remain registered and
# driver-gated; only the timed bucket rotates. The subset is picked by
# build-round parity derived from evidence.json (the newest
# CORRECTNESS_r{N} artifact + 1 — no clock, no hand-kept counter);
# with evidence.json unreadable the fallback is ALL audits (fail
# toward completeness, not silence). SMS_DB_SPARK_BENCH_ALL_AUDITS=1
# forces the full bucket (anchor-refresh runs, local A/B). The
# artifact records the skipped names in `write_audits_rotated_out` so
# a reader never mistakes a rotated-out audit for a dropped one.
HEAVY_AUDIT_ROTATION = {
    # even rounds: the r11-anchored heavyweights q152+q158 plus q160
    # (q158 is the joins lane alone since the r17 split — its ingest
    # half became q178, rotated on the opposite parity for balance)
    0: [
        "q152_stream_neardup_audit",
        "q158_stream_join_ingest_audit",
        "q160_day2_chain_audit",
    ],
    # odd rounds: the parity-audit pair (q156 docs + q169 events —
    # one row until the r16 split) plus q159 and the ingest half of
    # the r17 q158 split
    1: [
        "q156_streaming_parity_audit",
        "q159_stream_quality_monitor_audit",
        "q169_streaming_events_parity_audit",
        "q178_stream_ingest_audit",
    ],
}


def _build_round() -> int | None:
    """Current build round = newest CORRECTNESS_r{N} artifact + 1,
    read from evidence.json's generated_from list — deliberately NOT
    the CORRECTNESS files on disk: the round-N driver drops
    CORRECTNESS_rN.json near round end, while evidence.json is
    regenerated exactly once per round (the documented round-start
    chore, tripwire-tested), so every bench run inside one round —
    builder A/B runs and the driver's end-of-round run alike —
    computes the SAME round number and the rotation parity cannot
    flip mid-round (review r13). TypeError is in the catch set so a
    structurally malformed artifact (generated_from null / non-string
    entries) degrades to the ALL-audits fallback like a missing file,
    instead of crashing the run before anything is timed."""
    try:
        with open(
            os.path.join(os.path.dirname(os.path.abspath(__file__)), "evidence.json")
        ) as fh:
            arts = json.load(fh)["generated_from"]
        return 1 + max(
            int(m.group(1))
            for a in arts
            if isinstance(a, str) and (m := re.fullmatch(r"CORRECTNESS_r(\d+)\.json", a))
        )
    except (OSError, ValueError, KeyError, TypeError):
        return None


def rotated_write_audits() -> tuple[list[str], list[str]]:
    """(audits to time this round, audits rotated out this round).

    The ≤2-rounds-stale guarantee holds only while the build round
    ADVANCES between committed artifacts (it can stall if a round ships
    no CORRECTNESS artifact or skips the evidence regeneration chore) —
    which is why the artifact records `bench_build_round`: a repeated
    round number across consecutive BENCH_r*.json files is visible, not
    silent (review r13)."""
    rotating = {q for qs in HEAVY_AUDIT_ROTATION.values() for q in qs}
    rnd = _build_round()
    if env_flag("SMS_DB_SPARK_BENCH_ALL_AUDITS") or rnd is None:
        return list(WRITE_AUDITS), []
    active = set(HEAVY_AUDIT_ROTATION[rnd % 2])
    skipped = rotating - active
    return [q for q in WRITE_AUDITS if q not in skipped], sorted(skipped)

# Cold-protocol write-audit anchor: the r17 refresh (VERDICT r16 item
# 2 — same three runs as ANCHOR below; see that block for the full
# per-tier methodology note: write rows anchor at the per-row MINIMUM
# because they are single-shot). Every registered audit is
# anchored for the first time since the q156/q158 splits and the
# r16/r17 lane additions: the rows that rode `write_unanchored`
# (q156/q169 after the r16 split, q158/q178 after the r17 split,
# q170/q175/q177/q179 since introduction) all get rows from the same
# refresh, so the runtime-derived `write_unanchored` list should now
# be empty until the next protocol change. Prior-era continuity for
# the 19 rows that had r14/r15 anchors: min-of-three ratios vs those
# anchors span 0.85-1.69x (median 1.28x) with the CPU axis FLAT —
# the same io/memory-lane era shift the headline block documents, not
# a protocol change (zero write-path plan changes this round except
# the q158 split, whose two rows are first-anchored here).
WRITE_AUDIT_ANCHOR_ROUND = 17
# calibration_sec matching the min-of-runs protocol: the MINIMUM cal
# across the three refresh runs (ADVICE r11 #2's same-run rule kept in
# spirit — each row's anchor is its quietest observed window, and this
# is the quietest observed calibration of the same windows)
WRITE_AUDIT_ANCHOR_CAL_SEC = 0.496
WRITE_AUDIT_ANCHOR = {
    "q134_shard_manifest_audit": 3.837,
    "q135_stream_shard_manifest_audit": 7.652,
    "q139_fold_audit": 10.668,
    "q142_versioned_store_audit": 2.334,
    "q143_metricslog_readback": 2.049,
    "q145_versioned_merge_audit": 2.469,
    "q146_gated_upsert_audit": 6.074,
    "q148_sharded_export_audit": 10.922,
    "q149_stream_gated_upsert_audit": 10.922,
    "q150_cow_merge_audit": 4.565,
    "q151_layout_audit": 6.589,
    "q152_stream_neardup_audit": 15.206,
    "q153_band_store_audit": 7.306,
    "q154_bucketed_join_audit": 4.517,
    "q155_partitioned_prune_audit": 2.096,
    "q156_streaming_parity_audit": 18.521,
    "q157_bucketed_antijoin_dedup_audit": 1.74,
    "q158_stream_join_ingest_audit": 15.551,
    "q159_stream_quality_monitor_audit": 7.012,
    "q160_day2_chain_audit": 10.223,
    "q163_sqlite_store_audit": 3.638,
    "q169_streaming_events_parity_audit": 8.456,
    "q170_cascade_delete_audit": 5.672,
    "q175_cow_cascade_delete_audit": 7.894,
    "q177_pq_index_store_audit": 6.988,
    "q178_stream_ingest_audit": 8.462,
    "q179_bpe_store_tokenize": 5.107,
}

BEST_OF = 3

# Per-query anchor: the r11 builder's CONFIRMED-CLEAN local run
# (VERDICT r10 item 4 demanded the refresh skip r10's ambient-inflated
# artifact). Cleanliness evidence, since the verdict's stated
# criterion — python post-bracket within ~1.2x of pre — turned out to
# be systematically unattainable in this harness (two back-to-back
# otherwise-clean runs measured post/pre of 1.49 and 1.66; the post
# bracket runs right after the headline loop and is consistently
# elevated in a long-lived session — r9's driver run showed the same
# shape at 1.408/1.318): TWO consecutive runs at different JVM eras
# (cal 0.582 / 0.485) agreed with the r9 anchor at total ratios
# 1.023 / 0.992 with ZERO suspects and ZERO watch entries, both
# pre-brackets at or below the era-adjusted anchor, and the five
# r10-verdict-flagged queries (q147/q141/q126/q138/q98) re-measured at
# 0.84-1.06x era-normalized — the r10 inflation was environment, not
# plan. Values are the second run's (cal 0.485, the r9 anchor's own
# era, so this refresh re-bases onto the same scale; total moved
# -0.8%, i.e. the goalposts did not move — the refresh folds in this
# round's real per-query changes, e.g. the k_max_hint probe-job
# removal). History the flag encodes: BENCH_r08 recorded seven queries
# 3-13x slower with ZERO code changes; re-measurement at HEAD put all
# of them back at r7 parity, proving the recorded regression was
# ambient machine load concentrated in the Python-worker/Arrow lane,
# which neither the CPU-bound nor the scheduler calibration job
# exercises (VERDICT r8). The anchor powers a per-run sanity check:
# when several anchored queries blow past 3x while the calibration
# axes stay flat, the artifact is flagged suspect_ambient rather than
# read as a plan regression by the 2x rule.
#
# ANCHOR REFRESH CRITERION (VERDICT r11 item 5 — the rule lives HERE,
# not in a round's evidence file). ANCHOR/ANCHOR_CAL_SEC may be
# refreshed only from a run that satisfies ALL of:
#   1. TWO consecutive runs agree with the PRIOR anchor within noise
#      (anchor_total_ratio in [0.9, 1.1], raw or era-normalized —
#      raw is how both r11 refresh runs qualified; the era-normalized
#      form rescues a genuinely slower machine, nothing else);
#   2. both runs' JVM axes are flat (cal within CAL_FLAT_RATIO of the
#      prior ANCHOR_CAL_SEC in BOTH directions — a drastically faster
#      calibration also breaks era-normalized comparability, ADVICE
#      r12 #3; cal_overhead <= 0.25);
#   3. both runs report EMPTY suspects_vs_anchor AND watch_vs_anchor,
#      and suspect_ambient false;
#   4. per-query era-normalized deltas vs the prior anchor are
#      reported alongside the refresh, with every query past 1.15x
#      called out BY NAME and explained (a changed-code query may
#      legitimately move; an unexplained mover blocks the refresh —
#      ADVICE r11 #3: a self-refreshed anchor can silently absorb a
#      real single-query regression the watch tier would have caught
#      next round). RESTRICTED to queries with anchor >= 1 s
#      (REFRESH_MOVER_MIN_ANCHOR_SEC; VERDICT r13 item 6): the
#      sub-second set is scheduler-bound and era-inflates uniformly
#      1.15-1.67x whenever the run's calibration is FASTER than the
#      anchor's (r12 and r13 both declined refreshes on exactly this —
#      era < 1 divides sub-second numbers that never scaled with cal
#      in the first place; cross-round reading for sub-second queries
#      divides by calibration_overhead_sec, see that docstring). A
#      genuine sub-second regression past 2x still surfaces through
#      the next round's watch tier, which uses WATCH_MIN_ANCHOR_SEC —
#      the refresh criterion only needed to stop ABSORBING it.
# The python post-bracket is NOT a criterion: post ~= 1.5-2x pre is
# harness-systematic in every clean run (r9 driver, r11 x2), so a
# post/pre bound would never be satisfiable. `python
# tools/bench_compare.py BENCH_local.json` checks 1-3 mechanically and
# prints the per-query delta table for 4.
# r14 refresh: three full-bucket candidate runs, all three passing
# criteria 1-3 vs the r11 anchor; the ANCHOR run was the middle one
# (cal 0.57, raw total ratio 1.005, criterion 4 clean).
#
# r17 refresh (VERDICT r16 item 2 — a MANDATED re-base, not a
# criterion-qualified drift refresh; recorded honestly as such). By
# r16 the raw anchor ratio (1.73, era-normalized 1.151) no longer
# measured anything a reader could act on: the machine era moved in a
# lane the CPU calibration does not exercise. The r17 refresh runs
# confirmed it — THREE full-bucket runs at r17 HEAD (cals 1.002 /
# 0.496 / 1.112; io brackets 1.25/0.79, 4.53/0.78, 1.27/2.78 — every
# run carried at least one io-lane burst, so criterion 1's
# two-clean-runs form is unattainable in this era) with every flagged
# suspect retime-cleared at 0.31-1.09x (suspects_cleared_on_retime
# true in all three: quiet windows exist, whole-run windows don't).
# PROTOCOL therefore, stated per tier because the tiers sample
# differently:
#   - HEADLINE rows (already best-of-3 within each run): anchor =
#     min(median across the three runs + their retime brackets,
#     1.25 x the observed three-run minimum). The median represents a
#     TYPICAL quiet-era window (the floor-only min made every
#     observed run read 1.28-1.45x, a permanently-red trend line);
#     the 1.25x-of-floor cap stops a row that caught bursts in two
#     of three runs from carrying the burst into its anchor (18 rows
#     capped; largest trim q164, whose raw median sat 1.83x above
#     its capped value). The
#     three runs re-read against THIS anchor at 1.255 / 1.125 /
#     1.105 — the two io-quieter runs inside the <=1.15 band the
#     re-anchor exists to restore.
#   - WRITE-AUDIT rows (single-shot, no best-of-3 to trim bursts):
#     anchor = per-row minimum across the three runs — an io burst
#     landing in a once-run 15 s protocol inflates it 2-5x, so a
#     median would embed whole bursts (q152 measured 70.3 / 37.6 /
#     15.2; its anchor is 15.2, the clean protocol cost).
# Criterion 4's mover table vs r14 (on the three-run floors, the
# conservative direction), stated by name: 17 of the 21 >=1s rows
# moved together at 1.16-1.58x (median 1.23x — q83 1.58, q141 1.55,
# q06 1.51, q144 1.39, q74 1.38, q132 1.38, q97 1.36, q104 1.32,
# q147/q81 1.24, q98 1.23, q161 1.22, q73 1.21, q69 1.19, q23 1.18,
# q162 1.17, q114 1.16) with ZERO plan changes on any of them this
# round and the min CPU cal FASTER than the r14 anchor's — a uniform
# environment shift by the anchor methodology's own definition, which
# is exactly what re-basing absorbs ON PURPOSE here so r18+ ratios
# are like-for-like again. The previously-unanchored headline rows
# (q165-q168, q173, q174, q176 — unanchored since their r14-r16
# introductions) are folded in from the same runs.
ANCHOR_ROUND = 17
# the MINIMUM calibration across the three refresh runs (0.496 /
# 1.002 / 1.112): the CPU axis did not track the row movement in this
# era, so the era divisor anchors at the quietest observed CPU window
# — eras read >= 1 in a typical r17-era run and normalization only
# ever FORGIVES, the repo's documented never-flag-on-ambient direction
#
# r17 OPTIMIZATION-round re-base of FOUR entries only (q166/q167/q168/
# q174 — a measurement-honesty fix, not a drift refresh): their r17
# anchors (1.019 / 3.373 / 2.93 / 2.775) were recorded while
# _PQ_SHARED_CACHE memoized trained index state across invocations, so
# the timed runs measured serve-only cost — the training the queries
# declare was excluded. The memo is removed (every invocation now
# builds from parquet; OPTIMIZATION_r17.md "PQ family"), and the new
# anchors are the honest fresh-build numbers measured in the round's
# A/B session, divided by that session's unchanged-47-query ratio vs
# this anchor table (0.69) so they sit on the same era scale as their
# neighbors: q166 2.897→4.2, q167 4.194→6.08, q168 6.063→8.78,
# q174 7.073→10.25. Old values kept here for the record; every other
# entry is untouched (the round's improved queries read <1 vs their
# standing anchors, which only ever under-flags).
ANCHOR_CAL_SEC = 0.496
ANCHOR = {
    "q01_eq_filter_sort": 0.596, "q06_join_meta_data": 1.912,
    "q07_flagship_join_like": 0.948, "q20_dedup_exact": 0.522,
    "q22_first_per_group": 1.431, "q23_agg_rollup": 1.415,
    "q26_three_way_join": 0.803, "q30_window_agg": 0.571,
    "q41_text_quality": 0.447, "q44_minhash_signatures": 0.574,
    "q45_minhash_lsh_pairs": 1.704, "q46_simhash": 0.367,
    "q48_ann_bruteforce_topk": 0.81, "q49_ann_lsh_topk": 0.8,
    "q51_ann_ivf_topk": 1.224, "q53_clean_pipeline": 1.071,
    "q55_multimodal_features": 0.349, "q57_tfidf_topk": 1.003,
    "q69_import_scale": 1.49, "q33_asof_join": 1.042,
    "q73_lsh_jaccard_verified": 2.404, "q74_embedding_neardup_lsh": 2.591,
    "q75_multimodal_real_decode": 0.376, "q76_filtered_ann_lsh": 1.228,
    "q79_sequence_packing": 0.372, "q81_contamination": 1.652,
    "q88_dup_ngram_coverage": 1.292, "q90_hashed_classifier": 1.318,
    "q83_dedup_clusters_star": 4.353, "q92_domain_gate": 0.601,
    "q94_bpe_pair_counts": 0.853, "q97_cluster_representatives": 4.745,
    "q98_semantic_dedup": 2.478, "q99_dsir_importance": 1.726,
    "q100_centroid_outliers": 1.002, "q101_length_percentiles": 0.713,
    "q102_hll_registers": 1.566, "q104_count_min": 2.153,
    "q111_reconcile_full_outer": 1.01, "q114_heavy_hitters": 2.86,
    "q123_ann_serving": 2.466, "q124_kmeans_hashed_seed_train": 5.529,
    "q125_delta_dedup": 1.116, "q126_scd_upsert": 0.601,
    "q128_sq8_ann_recall": 0.876, "q132_dup_spans": 1.601,
    "q133_hard_negatives": 1.352, "q138_jl_projection_recall": 1.479,
    "q140_snapshot_diff": 0.574, "q141_epoch_shuffle": 1.892,
    "q144_planned_join": 3.037, "q147_salted_planned_join": 2.078,
    "q161_image_phash_neardup": 2.209, "q162_audio_fingerprint_neardup": 2.001,
    "q164_video_frame_neardup": 3.715, "q165_gopher_repetition": 1.923,
    "q166_pq_adc_recall": 4.2, "q167_ivfpq_serving": 6.08,
    "q168_ivfadc_residual": 8.78, "q173_bpe_tokenize": 1.156,
    "q174_ivfadc_clustered": 10.25, "q176_tokenizer_fertility": 0.876,
}
# a query must exceed this multiple of its anchor to count as a suspect
SUSPECT_RATIO = 3.0
# medium band (VERDICT r10 item 4): era-normalized ratio a substantial
# query may reach before it is REPORTED (never fatal, never part of the
# ambient flag) — without this tier a genuine 1.9x single-query
# regression on a multi-second query rides invisibly under the 3x
# suspect bar whenever the round's reading is "broad ambient noise"
WATCH_RATIO = 2.0
WATCH_MIN_ANCHOR_SEC = 1.0
# ignore sub-this-anchor queries (scheduler jitter dominates them)
SUSPECT_MIN_ANCHOR_SEC = 0.2
# refresh criterion 4's mover floor (r14): only CPU-scaled queries,
# where era normalization is meaningful — see the criterion block
REFRESH_MOVER_MIN_ANCHOR_SEC = 1.0
# more than this many suspects with flat calibrations = ambient noise
SUSPECT_COUNT = 3
# calibration drift below this is "flat" (machine-speed band, not load)
CAL_FLAT_RATIO = 1.5
# Python-lane axis anchor: the r11 refresh run's POST bracket (1.202;
# its pre was 0.723 — refreshed together with ANCHOR, same run, same
# era). The post bracket is used because the ambient test compares
# max(pre, post) and the post is the systematically higher of the two
# in a long-lived session (r9's driver run: 1.408/1.318; r11's two
# local runs: 0.825/1.225 and 0.723/1.202 — the ~1.5x post elevation
# is harness-systematic, not ambient, so anchoring on the post keeps
# the flag from firing on every healthy run). This axis spreads ~2x
# with worker-pool warmth and ambient conditions, which is why the
# flatness test uses the generous CAL_FLAT_RATIO band rather than a
# tight equality. The job is pinned, so any future drift of this
# number is ENVIRONMENT (ambient load, dependency/runtime change),
# never a repo plan change.
# r14 refresh: the anchor run's post bracket (1.307; its pre was
# 0.779 — same ~1.7x harness-systematic post elevation as every clean
# run before it).
# r17 refresh: min post bracket across the three refresh runs
# (1.913/1.810/1.851 — the axis protocol matching the per-row min
# anchors; pres were 0.98/1.03/1.30).
ANCHOR_CAL_PYTHON_SEC = 1.81

# IO-lane axis anchor (VERDICT r13 item 5): the r13 driver window
# flagged ALL 14 timed write audits at 2.1-5.7x vs anchor while
# same-HEAD builder runs sat at 0.9-1.1x — ambient DISK contention in
# the driver window, which no CPU/scheduler/Python axis registers. The
# write bucket therefore gets its own fixed probe (calibration_io):
# a ~100 MB parquet write + full read-back on a pinned-conf session
# clone, timed at bucket start (after the committer warm-ups, so the
# probe measures IO throughput, not session-global init). write_watch
# divides by max(cpu era, io era): an audit only flags when it is slow
# RELATIVE TO whichever lane ambient pressure landed on — the same
# never-flag-on-ambient trade the headline suspect tier makes, with
# the same acknowledged false-negative (a real regression inside an
# ambient window surfaces one round late). Anchor measured r14 in a
# clean builder window: seven probe runs across two sessions spanned
# 0.71-1.11 s, median 0.92 — IO probes are inherently noisier than the
# CPU axis; the watch tier's 2x slack absorbs the spread. The probe
# job is pinned, so drift of this number is ENVIRONMENT, never a plan
# change.
# r14 refresh: the anchor run's OWN io probe (0.761) — the write
# anchors below and this axis now come from the same run, retiring the
# assumed-1.0 era the r11-era anchors carried for one round.
# r17 refresh: min across the three refresh runs' six io brackets
# (0.782; the spread 0.78-4.53 IS the io-lane instability that forced
# the re-base — see the ANCHOR block).
ANCHOR_CAL_IO_SEC = 0.782


def calibration(spark) -> float:
    """A fixed reference job (never changes across rounds) timed on a
    session clone with its runtime confs PINNED, so the measurement
    tracks the machine/JVM and is insulated from this repo's session
    tuning (a session.py conf change must move the queries, not the
    baseline; static confs like executor memory still apply — they ARE
    machine shape). Round-over-round bench comparisons divide by this
    to separate real plan changes from ambient machine-speed drift —
    the r2 and r5 cross-round deltas were both ambient (1.4-2x), each
    proven by hand with worktree A/Bs that this field now replaces.
    Same methodology as the queries: best-of-3 after one warm-up."""
    from pyspark.sql import functions as F

    session = spark.newSession()  # isolated SQLConf, shared context
    session.conf.set("spark.sql.shuffle.partitions", "32")
    session.conf.set("spark.sql.adaptive.enabled", "true")

    def job():
        (
            session.range(0, 20_000_000, 1, 32)
            .select((F.col("id") % 9973).alias("k"), F.col("id").alias("v"))
            .groupBy("k")
            .agg(F.sum("v").alias("s"), F.count(F.lit(1)).alias("n"))
            .write.format("noop").mode("overwrite").save()
        )

    job()  # warm-up
    best = float("inf")
    for _ in range(BEST_OF):
        t0 = time.time()
        job()
        best = min(best, time.time() - t0)
    return round(best, 3)


def calibration_overhead(spark) -> float:
    """Second calibration axis: fixed PER-JOB latency (scheduler +
    Catalyst + task-launch round-trip over 32 near-empty tasks, no real
    compute). Most sub-second headline queries are bound by this, not
    by CPU throughput — an r8 local A/B showed the CPU-bound
    calibration job moving 1.57x with ambient machine speed while
    scheduling-bound queries moved ~1.0x, so normalizing everything by
    calibration_sec alone over-corrects. Cross-round reading: divide
    multi-second queries by calibration_sec, sub-second ones by this."""
    session = spark.newSession()
    session.conf.set("spark.sql.shuffle.partitions", "32")

    def job():
        session.range(0, 32, 1, 32).write.format("noop").mode("overwrite").save()

    job()  # warm-up
    best = float("inf")
    for _ in range(BEST_OF):
        t0 = time.time()
        job()
        best = min(best, time.time() - t0)
    return round(best, 3)


def calibration_python(spark) -> float:
    """Third calibration axis (VERDICT r8 item 1): a FIXED Arrow /
    Python-worker job — mapInPandas over spark.range with a pinned
    numpy kernel, then a small aggregate — timed best-of-3 after one
    warm-up like everything else. The r8 bench window proved ambient
    load can land almost entirely on the Python-worker lane (recorded
    q75/q76/q79/q81/q88/q90 at 7-13x, re-measured at parity) while the
    CPU-bound JVM calibration stays flat at 0.51 vs 0.524 — this axis
    is what registers that pressure: Python worker launch/reuse, Arrow
    serialization both ways, and GIL-side compute."""
    from pyspark.sql import functions as F

    session = spark.newSession()
    session.conf.set("spark.sql.shuffle.partitions", "32")
    session.conf.set("spark.sql.adaptive.enabled", "true")
    schema = "k bigint, s double"

    def work(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            v = pdf["id"].to_numpy(dtype="float64")
            s = np.sqrt(v + 1.0) * 1.000001 + np.log1p(v)
            yield pd.DataFrame({"k": pdf["id"] % 97, "s": s})

    def job():
        (
            session.range(0, 8_000_000, 1, 32)
            .mapInPandas(work, schema)
            .groupBy("k")
            .agg(F.sum("s").alias("t"))
            .write.format("noop").mode("overwrite").save()
        )

    job()  # warm-up (worker launch + JIT)
    best = float("inf")
    for _ in range(BEST_OF):
        t0 = time.time()
        job()
        best = min(best, time.time() - t0)
    return round(best, 3)


def calibration_io(spark) -> float:
    """Fourth calibration axis (VERDICT r13 item 5): a FIXED parquet
    write + full read-back (~100 MB decompressed, 32 files) on a
    pinned-conf session clone — the DISK lane, which the CPU,
    scheduler, and Python axes all miss. Runs at write-bucket start,
    AFTER the committer warm-ups, so it measures IO throughput rather
    than session-global init. Best-of-2 with no extra warm-up: an IO
    probe's warm-up would double the bytes written for a number that
    only needs to register contention, not microbenchmark the disk."""
    session = spark.newSession()
    session.conf.set("spark.sql.shuffle.partitions", "32")
    d = tempfile.mkdtemp(prefix="bench_cal_io_")
    path = os.path.join(d, "t")

    def job():
        (
            session.range(0, 6_000_000, 1, 32)
            .selectExpr(
                "id",
                "CAST(id % 100000 AS STRING) AS s",
                "id * 7919 AS v",
            )
            .write.mode("overwrite")
            .parquet(path)
        )
        session.read.parquet(path).selectExpr("sum(v) AS t").collect()

    try:
        best = float("inf")
        for _ in range(2):
            t0 = time.time()
            job()
            best = min(best, time.time() - t0)
    finally:
        shutil.rmtree(d, ignore_errors=True)
    return round(best, 3)


def ambient_check(
    headline: dict, cal: float, cal_overhead: float, cal_python: float
) -> dict:
    """Sanity-check the run against the per-query anchor (ANCHOR_ROUND):
    per-suspect ratios and the suspect_ambient flag. Flagged = several
    anchored queries blew past SUSPECT_RATIO while the JVM calibration
    axes stayed flat AND the Python-lane axis registered pressure —
    exactly the r8 signature of ambient machine load, which must read
    as a contaminated artifact, not a plan regression. All three axes
    matter: if the Python axis is ALSO flat, nothing environmental
    explains the suspects and the flag must NOT fire (a real lane-wide
    regression — e.g. a dependency change — looks exactly like that,
    and writing it off as noise would bury it). The calibration jobs
    are pinned, so an elevated axis is always environment."""
    suspects = {
        q: round(t / ANCHOR[q], 2)
        for q, t in headline.items()
        if q in ANCHOR
        and ANCHOR[q] >= SUSPECT_MIN_ANCHOR_SEC
        and t > SUSPECT_RATIO * ANCHOR[q]
    }
    # the overhead axis sits at ~0.05s when healthy (r8 0.056, r9
    # 0.054); treat the CPU axis as the primary flatness signal and the
    # overhead axis as flat below an absolute bound rather than a
    # round-over-round ratio (a ratio on a 50ms number is all jitter).
    # The Python-axis pressure test is ERA-NORMALIZED by the same run's
    # JVM-axis scaling: the anchor value (1.408) was recorded at cal
    # 0.505, and on a faster machine era a HEALTHY python axis shrinks
    # roughly in step with cal (measured: cal 0.349 -> python 0.75), so
    # an absolute threshold of 1.5x the anchor would need ~2.8x real
    # pressure in a fast era before firing — desensitizing the flag
    # exactly when ambient load is most visible. The era factor is
    # floored at 0.5 so warm-pool jitter on a very fast machine cannot
    # fake the pressure signal.
    era = max(0.5, cal / ANCHOR_CAL_SEC)
    ambient_signature = (
        cal <= CAL_FLAT_RATIO * ANCHOR_CAL_SEC
        and cal_overhead <= 0.25
        and cal_python > CAL_FLAT_RATIO * ANCHOR_CAL_PYTHON_SEC * era
    )
    # medium band: era-normalized (a slower machine must not fill the
    # watch list with its uniform drift), substantial queries only, and
    # disjoint from the suspect tier above — reported, never fatal
    watch = {
        q: round(t / (ANCHOR[q] * era), 2)
        for q, t in headline.items()
        if q in ANCHOR
        and q not in suspects
        and ANCHOR[q] >= WATCH_MIN_ANCHOR_SEC
        and t > WATCH_RATIO * ANCHOR[q] * era
    }
    anchored_total = sum(t for q, t in headline.items() if q in ANCHOR)
    anchor_total = sum(ANCHOR[q] for q in headline if q in ANCHOR)
    raw_ratio = round(anchored_total / anchor_total, 3) if anchor_total else None
    return {
        "anchor_round": ANCHOR_ROUND,
        "anchor_total_ratio": raw_ratio,
        # the cross-round COMPARABLE number (r16): raw total divided by
        # this run's cpu era — a reader no longer has to derive it from
        # calibration_sec by hand before reading a slow-machine window
        # as a regression (the era floor matches the suspect tier's)
        "anchor_total_ratio_era_normalized": (
            round(raw_ratio / era, 3) if raw_ratio is not None else None
        ),
        "suspects_vs_anchor": dict(sorted(suspects.items())),
        "watch_vs_anchor": dict(sorted(watch.items())),
        "suspect_ambient": len(suspects) > SUSPECT_COUNT and ambient_signature,
    }


def _per_query_lines(headline: dict, write_audits: dict) -> list[str]:
    """Compact per-query JSON lines sized for the driver's ~2 KB stdout
    tail capture (VERDICT r17 item 3: PERF per_query/geomean/scaling
    were empty because the full line's `queries` dict falls off the
    tail and only the totals-only final line survives whole). The tail
    is last-N-bytes, so a line survives only if it fits ENTIRELY inside
    the window together with everything printed after it — one 1.8 KB
    headline line plus the 431-byte totals line cannot both fit in
    2 KB. Strategy: chunk the headline dict into self-contained ~500
    byte lines, ordered by ascending measured time (this run's
    `headline[q]`, not `ANCHOR`) so the LAST chunks — the ones
    guaranteed to survive with the totals line — carry this run's
    slowest queries, which drive geomean/watch comparisons, and the
    fastest rows are what truncation sacrifices.
    The `part` field makes any truncation visible to a reader. Values
    are rounded to 1 decimal (full precision stays in the main JSON
    line and BENCH_local*.json). The write-audit line prints FIRST
    (most sacrificial): the write bucket is once-run and io-noisy, so
    its per-query detail matters least of the three."""
    out = [
        json.dumps(
            {
                "metric": "per_query_write_audits",
                "write_audits": {
                    q: round(t, 1) for q, t in sorted(write_audits.items())
                },
            },
            separators=(",", ":"),
        )
    ]
    ordered = sorted(headline, key=lambda q: (headline[q], q))
    chunks: list[dict] = []
    cur: dict = {}
    for q in ordered:
        cur[q] = round(headline[q], 1)
        if len(json.dumps(cur, separators=(",", ":"))) > 420:
            chunks.append(cur)
            cur = {}
    if cur:
        chunks.append(cur)
    for k, ch in enumerate(chunks):
        out.append(
            json.dumps(
                {
                    "metric": "per_query_headline",
                    "part": f"{k + 1}/{len(chunks)}",
                    "queries": ch,
                },
                separators=(",", ":"),
            )
        )
    return out


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", "") or 0.1)
    spark = get_spark("sms-db-spark-bench")
    spark.sparkContext.setLogLevel("ERROR")
    specs = registry()

    def run(
        names: list[str], best_of: int = BEST_OF, warm: bool = True
    ) -> dict[str, float]:
        timings: dict[str, float] = {}
        for name in names:
            fn = specs[name].fn
            if warm:  # untimed warm-up (JIT + IO cache)
                fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            best = float("inf")
            for _ in range(best_of):
                t0 = time.time()
                fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
                best = min(best, time.time() - t0)
            timings[name] = round(best, 3)
        return timings

    cal = calibration(spark)
    cal_overhead = calibration_overhead(spark)
    cal_python = calibration_python(spark)
    headline = run(HEADLINE)
    # the Python axis is sampled AGAIN after the headline loop: ambient
    # load arriving mid-run (after the pre-sample, during the minutes
    # the queries take) would otherwise reproduce the r8 suspect shape
    # with a deceptively flat pre-sampled axis — the elevation test
    # uses whichever bracket caught the pressure
    cal_python_post = calibration_python(spark)
    ambient = ambient_check(
        headline, cal, cal_overhead, max(cal_python, cal_python_post)
    )
    # Per-suspect clean retime (VERDICT r15 item 1): when the headline
    # loop flags suspects or watch entries, re-run ONLY that set
    # back-to-back — fresh CPU calibration bracket, then the normal
    # warm-up + best-of-3 protocol — and record the era-normalized
    # retime ratios IN THE ARTIFACT. The r15 driver window recorded six
    # queries at 3.1-8.9x whose same-code reruns sat at parity with
    # DISJOINT suspect sets across runs (the repo's ambient signature);
    # the official record could not distinguish ambient from real
    # without the evidence log. This block makes the artifact
    # self-clearing: a suspect whose immediate retime lands under its
    # class bar in the retime's own era is ambient-window noise caught
    # mid-headline-loop; one that STAYS hot on the retime is a real
    # regression and must be read as such. Cost is bounded: flagged
    # sets are historically <= 8 sub-second-to-2s queries (~10 s).
    flagged = sorted(
        set(ambient["suspects_vs_anchor"]) | set(ambient["watch_vs_anchor"])
    )
    # bound the retime's wall cost inside the driver's bench window:
    # an r8-style ambient storm can flag many queries at once, and
    # warm+best-of-3 on each would add minutes. Retime the WORST
    # offenders (by flagged ratio); the skipped names are recorded so
    # a reader sees the cap, never mistakes it for a clean bill.
    RETIME_MAX = 8
    # rank on ONE scale — raw measured/anchor — for both tiers
    # (review r16: the suspect dict stores raw ratios while watch
    # stores era-normalized ones; mixing them let an era-inflated
    # watch entry outrank a genuine suspect out of the capped set)
    by_ratio = {
        q: headline[q] / ANCHOR[q] for q in flagged if q in ANCHOR
    }
    # a flagged-but-unanchored query can't be ratio-checked: count it
    # skipped (visible) rather than silently dropping it later
    retime_skipped = [q for q in flagged if q not in ANCHOR]
    flagged = [q for q in flagged if q in ANCHOR]
    if len(flagged) > RETIME_MAX:
        keep = set(
            sorted(flagged, key=lambda q: -by_ratio.get(q, 0))[:RETIME_MAX]
        )
        retime_skipped += [q for q in flagged if q not in keep]
        flagged = sorted(keep)
    suspect_retimes: dict[str, dict] = {}
    retime_cal = retime_cal_io = None
    if flagged:
        retime_cal = calibration(spark)
        # headline queries SCAN parquet, so disk pressure inflates them
        # like it inflates the write bucket — the retime normalizes by
        # the WORST lane (cpu or io), the same trade write_watch makes
        # (a first local validation run showed exactly this shape: cpu
        # era 0.83 with io era 2.86, and CPU-only normalization left
        # scan-heavy retimes reading 1.6-1.8x in a window whose own io
        # probe explained them). Same acknowledged false-negative: a
        # real regression inside an io-pressured window surfaces one
        # round late through the anchor trend.
        retime_cal_io = calibration_io(spark)
        retime_era = max(0.5, retime_cal / ANCHOR_CAL_SEC)
        if ANCHOR_CAL_IO_SEC:
            retime_era = max(retime_era, retime_cal_io / ANCHOR_CAL_IO_SEC)
        retimed = run(flagged)
        suspect_retimes = {
            q: {
                "sec": retimed[q],
                "ratio_vs_anchor": round(retimed[q] / (ANCHOR[q] * retime_era), 2),
                # the clear bar is class-dependent (r16, same rationale
                # as REFRESH_MOVER_MIN_ANCHOR_SEC): sub-second anchors
                # are scheduler-bound and era-inflate 1.15-1.67x
                # whenever the bracket's calibration runs FASTER than
                # the anchor's (measured again this round: retime cal
                # 0.47 vs anchor 0.57 put three sub-second retimes at
                # 1.3-1.7 with nothing wrong) — they clear at the
                # watch bar (2.0); CPU-scaled >=1s anchors clear at 1.5
                "cleared": retimed[q] / (ANCHOR[q] * retime_era)
                <= (1.5 if ANCHOR[q] >= 1.0 else WATCH_RATIO),
            }
            for q in flagged  # all anchored by the pre-filter above
        }
    suspects_cleared_on_retime = (
        bool(suspect_retimes)
        and not retime_skipped  # a capped set cannot clear the run
        and all(v["cleared"] for v in suspect_retimes.values())
    )
    # Write audits: ONE timed run, NO per-audit warm-up (r10; r9 ran
    # warm-up + one). They are IO-dominated full protocol runs — a
    # warm-up duplicates every store write for a bucket that is
    # deliberately outside the round-over-round headline trend, and
    # with q153-q155 added the duplicate pushed the whole artifact's
    # wall time toward the driver's bench window (measured 528 s under
    # ambient load; 431 s without the per-audit warm-ups). One MINIMAL
    # untimed real write still runs first: the headline loop writes
    # only to the noop sink, so the session's first REAL file write
    # pays one-time committer/codec init — without this, whichever
    # audit runs first absorbs ~20 s of session-global setup (measured
    # on q134) and its number stops meaning anything. A one-row parquet
    # write pays that init without running any timed audit twice (an
    # audit-as-warm would privately warm that audit and deflate its
    # number relative to its cold bucket-mates).
    # BOTH write shapes the audits use (VERDICT r10 item 5: q134's
    # driver-recorded 27.7s says the r10 plain-parquet warm did NOT
    # absorb the init in the driver path; q134's actual write is
    # partitionBy parquet, whose dynamic-partition/committer setup the
    # plain shape may never touch): one plain one-row write, one
    # partitioned one-row write.
    # Drain the headline loop's residue before anything in this bucket
    # is timed (r15, VERDICT r14 item 6): the ~220 query executions
    # above leave dead localCheckpoint RDDs, shuffle files, and
    # broadcast blocks whose cleanup rides the async ContextCleaner —
    # under load it lags, and whichever audit runs first pays the
    # backlog inside its timed body. A collected Python GC surfaces
    # the dead references, a JVM System.gc() triggers the cleaner's
    # weak-reference queue, and the short settle lets the async
    # deletes finish. Measured on q134 (the bucket's first audit):
    # in-bench 29.5-33.0 s before, vs 4.0 s standalone in the same
    # era with identical warms — the gap is this backlog, not the
    # shards-writer init the toy warm below removes.
    import gc as _gc

    _gc.collect()
    # _jvm is the private py4j gateway — None under Spark Connect
    # (ADVICE r15): degrade to the Python collect + settle alone
    jvm = getattr(spark.sparkContext, "_jvm", None)
    if jvm is not None:
        jvm.System.gc()
    time.sleep(2.0)
    warm_dir = tempfile.mkdtemp(prefix="bench_write_warm_")
    try:
        spark.range(1).write.mode("overwrite").parquet(
            os.path.join(warm_dir, "w")
        )
        (
            spark.range(1)
            .selectExpr("id", "id % 1 AS p")
            .write.mode("overwrite")
            .partitionBy("p")
            .parquet(os.path.join(warm_dir, "wp"))
        )
        # IO axis probe (VERDICT r13 item 5) — after the committer
        # warm-ups, before any timed audit. Deliberately BEFORE the
        # shard warm below (r15 reorder, VERDICT r14 item 6): the
        # probe's ~100 MB write+read on a session clone is itself JVM
        # churn, and r14 ran it BETWEEN the shard warm and the first
        # timed audit — q134 then opened the bucket with the probe's
        # GC/code-cache residue on top of the headline loop's, and its
        # in-bench number spread ~5-10.5 s across clean windows. The
        # shards-path warm must be the LAST write before the first
        # timed audit.
        cal_io = calibration_io(spark)
        # Untimed TOY-SCHEMA shard writes (r14; doubled + moved last
        # r15): the one-row warms above still left ~3 s of
        # session-global init in whichever audit ran first (measured
        # on q134: 4.9 s first / 1.8 s second in a warmed session —
        # the residue is the shards writer path itself:
        # multi-directory dynamic commit, the manifest's atomic text
        # write, and the decimal-checksum codegen patterns, none of
        # which a bare one-row parquet write compiles). 100 rows of a
        # 2-column toy schema pay that init in ~3 s without compiling
        # ANY audit's exact plan — the audit-as-warm objection below
        # stands: each audit still pays its own plan/codegen inside
        # its timed run; only the shared session-global residue moves
        # out of the first number. Two passes: the first compiles, the
        # second runs the path with everything resident — what the
        # first timed audit then sees.
        from sms_db_spark.sinks.shards import write_training_shards

        for i in range(2):
            write_training_shards(
                spark.range(100).selectExpr(
                    "id AS doc_id", "CAST(id AS STRING) AS text"
                ),
                os.path.join(warm_dir, f"mini{i}"),
                2,
                key="doc_id",
            )
    finally:
        shutil.rmtree(warm_dir, ignore_errors=True)
    audits_this_round, audits_rotated_out = rotated_write_audits()
    # io-variance hardening (VERDICT r17 item 7, the q153/q155 finding —
    # twice-diagnosed once-run io bursts reading as regressions):
    # sub-10s-anchor NON-streaming audits get a CONDITIONAL best-of-2 —
    # a second timed run only when the first lands past
    # WRITE_RETRY_RATIO x anchor x era (the burst signature; the watch
    # bar is 2.0, so a cleared rerun can never flag). Unconditional
    # best-of-2 on all 16 eligible lanes would add ~50s to every run
    # and push the artifact toward the driver's bench window; the
    # conditional form costs zero in a clean window and re-runs exactly
    # the burst-hit lanes in a noisy one. First-run values are KEPT in
    # write_audit_first_runs (the old methodology's number, on record
    # per the optimization-round rules). Streaming lanes are excluded
    # (multi-drop replay protocols — a rerun doubles a 10-20s protocol
    # for a bucket the rotation exists to keep inside the window), as
    # are >=10s anchors.
    WRITE_RETRY_RATIO = 1.25
    write_era_now = max(0.5, cal / WRITE_AUDIT_ANCHOR_CAL_SEC)
    if ANCHOR_CAL_IO_SEC:
        write_era_now = max(write_era_now, cal_io / ANCHOR_CAL_IO_SEC)
    write_audits: dict[str, float] = {}
    write_audit_first_runs: dict[str, float] = {}
    for _name in audits_this_round:
        t1 = run([_name], best_of=1, warm=False)[_name]
        _anchor = WRITE_AUDIT_ANCHOR.get(_name)
        if (
            _anchor is not None
            and _anchor < 10.0
            and "stream" not in _name
            and t1 > WRITE_RETRY_RATIO * _anchor * write_era_now
        ):
            t2 = run([_name], best_of=1, warm=False)[_name]
            write_audit_first_runs[_name] = t1
            write_audits[_name] = min(t1, t2)
        else:
            write_audits[_name] = t1
    # Third python bracket (VERDICT r11 item 6 / advisor question 1):
    # the post-headline bracket is systematically ~1.5-2x the pre in
    # every clean run, cause unidentified (worker-pool warmth vs JVM
    # state). The write-audit bucket above is ~100 s of almost entirely
    # JVM-side work — a natural cool-down for the Python-worker lane at
    # zero added wall time. If this bracket DECAYS back toward the pre
    # value, the post elevation is transient worker/GC pressure from
    # the headline loop's own Arrow traffic; if it PERSISTS, it is
    # accumulated session/JVM state. Either way the number decomposes
    # the ramp instead of leaving the anchor choice to judgement.
    cal_python_cooldown = calibration_python(spark)
    # Second io bracket (r16): the bucket-start probe misses ambient
    # disk bursts ARRIVING mid-bucket — a controlled A/B measured q152
    # tracking the io axis near-linearly (probe 3.04/1.03/0.82 s →
    # q152 26.8/16.7/10.5 s, same code back-to-back), and one full
    # run recorded q152 at 75 s with a CLEAN bucket-start probe
    # (1.23) plus six watch flags. The bucket is bracketed like the
    # headline's python axis: the era test uses whichever bracket
    # caught the pressure.
    cal_io_post = calibration_io(spark)
    # cold-to-cold watch (reported, never fatal): audits past
    # WATCH_RATIO of their r11 cold-protocol anchor, era-normalized by
    # the ANCHOR RUN'S OWN calibration (ADVICE r11 #2 — normalizing
    # r10-era anchors by the r11 headline cal carried unquantified
    # cross-era bias; the r11 refresh records its run's cal).
    # era = the WORST lane (cpu or io, either io bracket): an audit
    # flags only when slow relative to whichever lane ambient
    # pressure landed on (r13's driver window was pure disk — uniform
    # 2.1-5.7x with a FAST cpu cal — exactly what the io axis absorbs)
    write_era = max(0.5, cal / WRITE_AUDIT_ANCHOR_CAL_SEC)
    if ANCHOR_CAL_IO_SEC:
        write_era = max(write_era, max(cal_io, cal_io_post) / ANCHOR_CAL_IO_SEC)
    write_watch = {
        q: round(t / (WRITE_AUDIT_ANCHOR[q] * write_era), 2)
        for q, t in write_audits.items()
        if q in WRITE_AUDIT_ANCHOR
        and t > WATCH_RATIO * WRITE_AUDIT_ANCHOR[q] * write_era
    }
    # Field order is capture-driven (VERDICT r6 item 7 intent): the
    # driver records only the TAIL of stdout (BENCH_r06's artifact has a
    # "tail" field that lost the line's head — metric, value, q01 —
    # while keeping the end), so the headline numbers go LAST: a
    # truncated capture then always carries value / write_audits_total /
    # calibration_sec, and only per-query detail can fall off. The
    # bulky fixed-text methodology moves to the front where losing it
    # costs nothing, and the complete line also lands in
    # BENCH_local.json, immune to capture truncation entirely.
    doc = {
        "metric": "headline_queries_total_wall",
        "unit": "sec",
        "sf": sf,
        "methodology": f"per-query best-of-{BEST_OF} after one warm-up run "
        "(write audits: ONE timed run, no warm-up, since r10 — "
        "IO-dominated protocol runs, bucket kept out of the headline "
        "trend and the artifact must fit the driver's bench window; "
        "since r18, a sub-10s-anchor NON-streaming audit whose first "
        "run exceeds 1.25x anchor x era re-runs ONCE and reports the "
        "min — io-variance hardening per VERDICT r17 item 7; first-run "
        "values kept in write_audit_first_runs; "
        "the five heavy streaming/protocol audits rotate half-per-round "
        "by build-round parity since r13, skipped names in "
        "write_audits_rotated_out, each timed at most 2 rounds stale); "
        "calibration_sec times a FIXED CPU-bound reference job, "
        "calibration_overhead_sec a fixed near-empty job (per-job scheduler "
        "latency), calibration_python_sec a fixed mapInPandas job (the "
        "Arrow/Python-worker lane, which r8 proved drifts independently of "
        "both; sampled before AND after the headline loop — the post "
        "bracket catches mid-run load) — normalize each query by its "
        "lane's axis; suspect_ambient marks the r8 signature: many "
        "anchored queries >3x while the JVM axes stay flat AND the "
        "Python axis registered the pressure (all-axes-flat with many "
        "suspects is treated as a real regression, never written off); "
        "calibration_io_sec (r14) times a fixed ~100MB parquet "
        "write+read at write-bucket start — write_watch_vs_anchor "
        "divides by max(cpu era, io era), so ambient DISK contention "
        "(the r13 driver window) no longer reads as a write regression",
        "queries": headline,
        "write_audits": write_audits,
        # first-run times of audits the conditional best-of-2 re-ran
        # (empty in a clean window): the once-run methodology's value,
        # kept on record next to the reported min
        "write_audit_first_runs": {
            k: round(v, 3) for k, v in sorted(write_audit_first_runs.items())
        },
        "write_audit_anchor_round": WRITE_AUDIT_ANCHOR_ROUND,
        # derived, never hand-listed (ADVICE r11 #4: a prose comment
        # undersold which audits ride outside the watch tier)
        "write_unanchored": sorted(set(audits_this_round) - set(WRITE_AUDIT_ANCHOR)),
        # heavy audits skipped by this round's rotation parity — their
        # latest timed numbers live in the PREVIOUS round's artifact
        # (at most 2 rounds stale while the round counter advances;
        # bench_build_round makes a stalled counter visible)
        "write_audits_rotated_out": audits_rotated_out,
        "bench_build_round": _build_round(),
        "write_watch_vs_anchor": dict(sorted(write_watch.items())),
        **ambient,
        # per-suspect clean retime (VERDICT r15 item 1): each flagged
        # query re-run back-to-back after the headline loop with a
        # fresh calibration bracket; ratio is era-normalized by THAT
        # bracket. cleared=true means every flagged query retimed
        # under its class bar (1.5x anchor for >=1s anchors, the 2.0
        # watch bar for scheduler-bound sub-second ones) — the flags
        # were ambient-window noise and the artifact says so itself.
        "suspect_retimes": suspect_retimes,
        "suspect_retimes_skipped": retime_skipped,
        "suspect_retime_calibration_sec": retime_cal,
        "suspect_retime_calibration_io_sec": retime_cal_io,
        # null = nothing was flagged so no retime ran (matches the
        # compact line's encoding; a bare false here misread as
        # "retimed and stayed hot" on a run with zero flags)
        "suspects_cleared_on_retime": (
            suspects_cleared_on_retime if flagged else None
        ),
        "value": round(sum(headline.values()), 3),
        "write_audits_total": round(sum(write_audits.values()), 3),
        "calibration_sec": cal,
        "calibration_io_sec": cal_io,
        "calibration_io_post_sec": cal_io_post,
        "calibration_io_anchor_sec": ANCHOR_CAL_IO_SEC,
        "calibration_overhead_sec": cal_overhead,
        "calibration_python_sec": cal_python,
        "calibration_python_post_sec": cal_python_post,
        "calibration_python_cooldown_sec": cal_python_cooldown,
    }
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "").strip()
    doc["cpus"] = int(cpus) if cpus.isdigit() else None
    line = json.dumps(doc)
    here = os.path.dirname(os.path.abspath(__file__))
    # BENCH_local.json keeps its historical name; a cpus-stamped copy
    # additionally survives a later run at a different core count
    # (VERDICT r17 item 3: the c8 scaling run silently overwrote the
    # c32 artifact the round's forensics needed)
    for fname in ("BENCH_local.json", f"BENCH_local_c{cpus or 'na'}.json"):
        with open(os.path.join(here, fname), "w") as fh:
            fh.write(line + "\n")
    print(line)
    # Compact per-query lines for the driver's tail capture (see
    # _per_query_lines); the totals-only line still prints LAST so a
    # truncated capture always ends on an intact totals parse.
    for pq_line in _per_query_lines(headline, write_audits):
        print(pq_line)
    # One compact totals-only FINAL line (~115 chars): the driver keeps
    # only the tail of stdout and its JSON parse needs an intact line —
    # the full line above can lose its head to the capture window, but
    # this one always survives whole (BENCH_r07 "parsed": null fix).
    print(
        json.dumps(
            {
                "metric": doc["metric"],
                "sf": sf,
                "value": doc["value"],
                "write_audits_total": doc["write_audits_total"],
                # the write total spans a rotation-varying bucket: a
                # reader of ONLY this surviving compact line must see
                # how many heavy audits were rotated out (and the
                # parity source) before reading a total swing as a
                # regression (review r13)
                "write_rotated_out_n": len(audits_rotated_out),
                "bench_build_round": doc["bench_build_round"],
                "calibration_sec": cal,
                "calibration_overhead_sec": cal_overhead,
                "calibration_python_sec": cal_python,
                "calibration_python_post_sec": cal_python_post,
                "calibration_python_cooldown_sec": cal_python_cooldown,
                "anchor_total_ratio": ambient["anchor_total_ratio"],
                "anchor_total_ratio_era_normalized": ambient[
                    "anchor_total_ratio_era_normalized"
                ],
                "suspect_ambient": ambient["suspect_ambient"],
                # survives tail truncation: did the in-artifact retime
                # clear every flagged query (class bar, fresh era)?
                # null = nothing was flagged, no retime ran
                "suspects_cleared_on_retime": (
                    suspects_cleared_on_retime if flagged else None
                ),
            },
            separators=(",", ":"),
        )
    )


if __name__ == "__main__":
    main()
