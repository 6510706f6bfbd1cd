"""Propose the next DRIVER_WINDOW rotation.

The external harness confirms only the first 50 registry entries per round
(CORRECTNESS_r{N}.json), so external evidence accumulates one window at a
time.  Policy:

* 9 core slots are PINNED (cheap every-round anchors).
* family coverage is STATIC: every family probe gets an in-window member,
  whatever the newest CORRECTNESS file says (the same rule
  tests/test_plans.py holds the live window to).
* the remaining slots rotate, preferring queries that have NEVER appeared
  green in any round's CORRECTNESS file, then the stalest-confirmed.

Usage: python tools/rotate_window.py
Prints the proposed 50-name window (pinned first) plus the remaining
never-confirmed backlog, so the next round's edit to
`plans/registry.py:DRIVER_WINDOW` is a paste, not archaeology.
"""

from __future__ import annotations

import glob
import json
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from etl_healthcare_spark.plans.registry import DRIVER_WINDOW, REGISTRY  # noqa: E402

REPO_ROOT = Path(__file__).resolve().parents[1]

# core every-round anchors (cheap; serving/agg/tpch/join/window/sort/
# parse/validate/upsert)
PINNED = [
    "q2_observations_by_patient",
    "g1_minute_counters",
    "g7_tpch_q1",
    "j6_star_join",
    "w3_moving_avg",
    "o2_topk",
    "p1_csv_to_dto",
    "v2_dto_validation",
    "u1_idempotent_merge",
]

# family probes the plan test asserts (beyond those satisfied by PINNED);
# each one consumes an in-window slot
ROTATING_FAMILY_PROBES = [
    "set_ops",
    "g10_",
    "sq_",
    "scalar_",
    "cluster_",
    "curation_",
    "anomaly_",
    "sketch_",
    "search_",
    "stream_",
    "mm_",
    "dedup_",
    "sim_",
    "text_",
    "sample_",
    "eval_",
    "maint_",
    "privacy_",
]

# prefixes whose never-confirmed members jump the registration-order queue
# (round-5 verdict: TPC-H tail, stateful streams, io round trips, profilers
# and layout advisors carry the most un-evidenced semantic surface)
PRIORITY_PREFIXES = [
    "g7",
    "stream_",
    "io_",
    "profile_",
    "layout_",
]


def _priority_rank(name: str) -> int:
    for i, p in enumerate(PRIORITY_PREFIXES):
        if name.startswith(p):
            return i
    return len(PRIORITY_PREFIXES)


# Names the JUDGE independently oracle-audited (tools/check.py runs listed in
# each round's VERDICT.md, recovered from git history: r4 da60eb5, r5 f864697,
# r6 8ed883a — 20+25+32, all green).  They carry external confirmation the
# CORRECTNESS files don't record, so the rotation treats them as seen; without
# this the window wastes slots re-proving what the judge already proved
# (round-6 window proposal re-picked anomaly_seasonal/io_csv_roundtrip/
# profile_benford etc.).
JUDGE_AUDITED = {
    # round 4
    "g7u_tpch_q21", "graph_pagerank", "stream_sessionize", "text_bpe_train",
    "sample_kcenter", "j12_pit_scd2", "privacy_l_diversity", "u11_time_travel",
    "mm_zip_central_dir", "sql_running_total", "graph_label_propagation",
    "w7_interpolate", "g16_retention_cohorts", "io_schema_evolution",
    "u6_scd2_intervals", "link_survivorship", "text_pii_redact",
    "seq_markov_stationary", "g25_weighted_median", "stat_mann_whitney",
    # round 5
    "g7j_tpch_q2", "g7s_tpch_q17", "g7v_tpch_q22", "g8b_cube",
    "j7_fuzzy_match_join", "j11_bucketed_join", "layout_dpp_join",
    "graph_kcore", "ml_winsorize_agg", "ml_target_encoding",
    "stat_ks_two_sample", "stat_bootstrap_ci", "eval_threshold_f1",
    "eval_pinball_loss", "profile_candidate_keys", "profile_json_types",
    "seq_attribution_linear", "text_vocab_growth", "text_pmi_bigrams",
    "sample_neyman_alloc", "sketch_source_similarity", "u10_delete_propagation",
    "u11_table_fingerprint", "mm_avi_info", "stream_m4_windowed",
    # round 6
    "u7_cdc_apply", "io_csv_roundtrip", "dedup_semantic", "dedup_containment",
    "dedup_longest_run", "decontam_bloom", "sim_pq_topk", "mm_mp4_boxes",
    "g31_heavy_hitters", "layout_zonemap_prune", "profile_benford",
    "eval_cohens_kappa", "graph_bfs_hops", "text_bpe_apply",
    "text_classifier_score", "sim_multiprobe", "g34_pareto_skyline",
    "ts_delta_attribution", "g13_sliding_window", "u5_incremental_agg",
    "sample_weighted", "g20_sliding_distinct", "anomaly_seasonal",
    "j10_spatial_pairs", "w8_ewma", "g15_funnel", "v1_envelope_gate",
    "v3_fhir_gate", "p8_format_routing", "u3_commit_log",
    "o5_newest_partition", "sketch_join_size",
    # round 7 (VERDICT r7: 45 never-externally-checked names, all green at
    # sf0.01, plus the 6 changed-code re-audits at sf0.1)
    "corpus_chi2_keyness", "corpus_stats", "g21_cross_covariance", "g22_mode",
    "g24_trimmed_mean", "g26_median_interp", "g30_topk_other_rollup",
    "g35_share_of_parent", "graph_common_neighbors", "graph_degree_hist",
    "j5c_asof_tolerance", "ml_gini_feature_rank", "mm_audio_autocorr",
    "mm_audio_windows", "mm_gif_frames", "p10_fanout", "pack_sequences",
    "sample_cluster_weighted", "sample_interleave_order", "sample_mixture_plan",
    "sample_prototype_prune", "sample_shard_export", "sample_token_shards",
    "search_eval_mrr", "seq_markov_transitions", "sim_hard_negatives",
    "sim_l2_normalize", "sim_mrl_rerank", "sim_recall_report",
    "sql_pivot_daily", "sql_topn_hours", "stat_chi2_independence",
    "stat_corr_matrix", "text_doc_keywords", "text_langid_confusion",
    "text_normalize", "text_quality_gate", "text_rare_tokens",
    "text_token_topk", "text_url_extract", "training_prep_e2e",
    "ts_event_debounce", "ts_seasonality_profile", "u8_snapshot_diff",
    "w9_autocov",
    # round 8 (VERDICT r8: the 12 engine-rewrite riders re-checked at sf0.1;
    # the same audit also re-checked EVERY never-driver-confirmed oracle name
    # at sf0.01 — that set is computed, not listed, in judge_audited_r8())
    "dedup_minhash_lsh", "dedup_minhash_scored", "dedup_cross_corpus",
    "dedup_cc_clusters",
}


def judge_audited_r8(repo_root: Path) -> set[str]:
    """VERDICT r8's blanket audit: every oracle-backed name with no green
    driver row in CORRECTNESS_r01..r08 was re-checked by the judge at
    sf0.01 (71 hash-green + g5b rows-only).  The set is exactly 'oracle
    names minus driver-confirmed-through-r8', so compute it from the same
    artifacts rather than hand-listing 72 names."""
    driver_seen: set[str] = set()
    for f in glob.glob(str(repo_root / "CORRECTNESS_r0[1-8].json")):
        for name, entry in json.load(open(f)).items():
            if (
                entry.get("rows_match")
                and entry.get("schema_match")
                and entry.get("hash_match")
                and entry.get("err") is None
            ):
                driver_seen.add(name)
    return {
        n for n in REGISTRY if REGISTRY[n].sql is not None and n not in driver_seen
    }


def confirmed_names(repo_root: Path) -> set[str]:
    """Names with at least one GREEN external confirmation.

    A name only counts as confirmed when its harness entry passed outright
    (rows/schema/hash all true, no error).  A name whose only entries are
    red stays in the fresh backlog so it rotates back into the window and
    gets re-checked externally after the fix — counting it as "seen" would
    bury the failure and overstate the COVERAGE ledger.
    """
    seen: set[str] = set()
    for f in glob.glob(str(repo_root / "CORRECTNESS_r*.json")):
        for name, entry in json.load(open(f)).items():
            if (
                entry.get("rows_match")
                and entry.get("schema_match")
                and entry.get("hash_match")
                and entry.get("err") is None
            ):
                seen.add(name)
    return seen


def propose(repo_root: Path | None = None) -> tuple[list[str], list[str], list[str]]:
    """Return (window, driver_backlog, external_backlog).

    Two distinct evidence grades (round-8 verdict item 2 — conflating them
    under-counted the backlog as 17 when 72 names had never had a DRIVER
    row):

    * *driver-confirmed* — green in some CORRECTNESS_r*.json window; the
      ``driver_backlog`` is every oracle name still missing that, and is
      what the rotation drains.
    * *externally confirmed* — driver-confirmed OR judge-audited
      (JUDGE_AUDITED + the computed r8 blanket audit); the
      ``external_backlog`` is names with NO external hash-match anywhere
      and takes absolute priority if ever non-empty.
    """
    root = repo_root or REPO_ROOT
    # treat the current window as about-to-be-confirmed: a rotation proposal
    # is for NEXT round, after the harness has run on today's window
    driver_seen = confirmed_names(root) | set(DRIVER_WINDOW)
    external_seen = driver_seen | JUDGE_AUDITED | judge_audited_r8(root)
    oracle = [n for n in REGISTRY if REGISTRY[n].sql is not None]
    fresh_external = [n for n in oracle if n not in external_seen]
    fresh_driver = [n for n in oracle if n not in driver_seen]
    # queue: never-externally-confirmed first, then never-driver-confirmed;
    # priority families first within each grade, registration order within
    queue = fresh_external + [n for n in fresh_driver if n not in fresh_external]
    queue.sort(key=lambda n: (n not in fresh_external, _priority_rank(n)))

    window = list(PINNED)
    # cover every rotating family probe in-window: with a queued name if
    # one exists, else the family's first oracle member
    for probe in ROTATING_FAMILY_PROBES:
        if any(n.startswith(probe) for n in window):
            continue
        pool = [n for n in queue if n.startswith(probe)] or [
            n for n in oracle if n.startswith(probe)
        ]
        if pool:
            window.append(pool[0])
    # then fill remaining slots from the queue
    for n in queue:
        if len(window) >= 50:
            break
        if n not in window:
            window.append(n)
    # if both backlogs ran dry, pad with the STALEST-confirmed names
    # (smallest last-green round first — re-verifying a name the driver
    # confirmed LAST round wastes the slot; round-11: the backlog hit zero,
    # so staleness is now the whole rotation signal.  Registration order
    # would re-pick the just-confirmed current window, since the registry
    # lists the window first.)
    if len(window) < 50:
        last_green: dict[str, int] = {}
        for f in glob.glob(str(root / "CORRECTNESS_r*.json")):
            digits = Path(f).stem.split("_r")[-1]
            if not digits.isdigit():
                continue
            rnd = int(digits)
            for name, e in json.load(open(f)).items():
                if (
                    e.get("rows_match")
                    and e.get("schema_match")
                    and e.get("hash_match")
                    and e.get("err") is None
                ):
                    last_green[name] = max(last_green.get(name, 0), rnd)
        order = {n: i for i, n in enumerate(oracle)}
        for n in sorted(oracle, key=lambda n: (last_green.get(n, 0), order[n])):
            if len(window) >= 50:
                break
            if n not in window:
                window.append(n)
    driver_backlog = [n for n in fresh_driver if n not in window]
    external_backlog = [n for n in fresh_external if n not in window]
    return window, driver_backlog, external_backlog


def main() -> None:
    window, driver_backlog, external_backlog = propose()
    print(f"# proposed next DRIVER_WINDOW ({len(window)} names, pinned first)")
    for n in window:
        print(f'    "{n}",')
    print(f"# never-DRIVER-confirmed backlog after this rotation: {len(driver_backlog)}")
    for n in driver_backlog:
        print(f"#   {n}")
    print(f"# never-EXTERNALLY-confirmed backlog (driver or judge): {len(external_backlog)}")
    for n in external_backlog:
        print(f"#   {n}")


if __name__ == "__main__":
    main()
