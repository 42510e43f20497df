"""Regenerate BASELINE.md's committed per-query table from BENCH.json.

Keeps each row's human `notes` column (carried forward by query name from
the existing table), emits rows in bench HEADLINE order, and replaces only
the table block (the first markdown table after the '| query | sf |'
header). New queries get the note passed in NEW_NOTES (edit before
running). Usage: python tools/regen_baseline_table.py
"""

from __future__ import annotations

import json
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# r13's six new-row notes and the containment overrides were applied and
# then ENRICHED in place with decade cells (BASELINE.md is now the source
# of truth for them — harvested notes carry forward on regen; re-adding
# them here would stomp the decade cells).
NEW_NOTES = {
    # the seven r14-staged operators, gated r15
    "sim_mmr_topk": "r15 NEW: TakeOrdered pool + bounded pairwise sims; driver greedy replay",
    "text_readability_score": "r15 NEW: Flesch over integer proxy; shielded presentation sort",
    "corpus_tokenizer_fertility": "r15 NEW: per-lang BPE fertility over a trained merge table",
    "dedup_cluster_report": "r15 NEW: two map-side-combinable rollups over capped-CC labels",
    "mm_scene_cuts": "r15 NEW: 1->N frame kernel + doc-partitioned lag/cut windows",
    "dq_freshness_lag": "r15 NEW: staleness vs the dataset frontier; one type-partitioned pass",
    "ev_seasonal_backtest": "r15 NEW: MASE backtest over the shared CUSUM daily cells",
    # the eight r13-staged operators, gated r14
    "graph_k_core": "r14 NEW: 3 synchronous peel rounds, degree count + two semi-joins each",
    "ev_changepoint_cusum": "r14 NEW: Page CUSUM via cumulative-window closed form, BIGINT cents",
    "corpus_curriculum_order": "r14 NEW: fixed-ppm tiers + (tier,shard)-partitioned rank windows",
    "text_rake_keywords": "r14 NEW: islands + corpus word stats; vocab joins hint-free (AQE)",
    "text_pmi_collocations": "r14 NEW: log-free integer-ratio PMI; scan-local zip bigrams",
    "sim_mips_topk": "r14 NEW: exact inner-product top-k, scan-local fold + TakeOrdered",
    "dq_k_anonymity": "r14 NEW: one grouped count over generalized quasi-identifiers",
    "ev_srm_check": "r14 NEW: fused arm counts + DECIMAL cross-multiplied chi-square",
}

NOTE_OVERRIDES = {
    "corpus_reservoir_sample": "r15: bounded-output local sort (bare orderBy re-ran the window in the range sampler)",
    "mm_image_resize": "r15: shielded presentation sort (codec ran twice in the range sampler); 6-class fixture",
    "mm_image_decode": "r15: shielded presentation sort; 7-class fixture (WebP lossless/VP8L, both profiles)",
    "mm_image_phash": "r15: shielded presentation sort (fingerprint kernel no longer runs twice)",
    "mm_audio_decode": "r15: shielded presentation sort (WAV codec no longer runs twice)",
    "mm_audio_fingerprint": "r15: shielded presentation sort",
    "mm_fake_features": "r15: shielded presentation sort",
    "mm_frame_sample": "r15: shielded presentation sort (1->N kernel)",
    "mm_binary_meta": "r15: shielded presentation sort",
    "text_pii_redact": "r15: shielded presentation sort (4-pattern regex scrub ran twice)",
    "text_quality_score": "r15: shielded presentation sort",
    "text_token_stats": "r15: shielded presentation sort",
    "text_fingerprint": "r15: shielded presentation sort",
    "dedup_ngram_jaccard": "r15: shielded pair sort (sampler re-ran postings+verify); r14 attested hash-path PPJoin",
    "dedup_embedding_neardup": "r15: shielded pair sort (sampler re-ran the blocked cosine pair stage)",
    "dedup_containment": "r15: shielded pair sort (sampler re-ran the candidate-join + intersect verify)",
    "dedup_containment_seeds": "r15: shielded pair sort (same finisher); seed-posting candidate generation",
    "corpus_merge_increment": "r15: shielded sort (sampler re-ran the composed triage joins)",
    "text_dupspan_remove": "r15: shielded sort (sampler re-ran the span-reassembly joins)",
    "graph_label_propagation": "r14: convergence-certified early stop (one mid-round probe; fixed-round values unchanged)",
    "dedup_cluster_best": "r14: CC edge cache plan-keyed (unpersist removed — the r13 drift constant); quality-aware keeper election",
    "dedup_cluster_cc": "r14: CC edge cache plan-keyed across reps (unpersist removed)",
    "text_ngram_novelty": "r11: spread gram build (derived twice in-plan)",
    "ev_outliers_mad": "r11: planning jobs share a transient persist (2 scans/exec)",
    "ev_session_outage_overlap": "r11: planning jobs share a transient persist",
    "ev_trend_slope": "r11: BIGINT outputs (DECIMAL internals)",
    "ev_mode_value": "r11: struct argmax key (regime-free)",
    "ev_approx_distinct_users": "r11: bounds-attested oracle (exact + 5% boolean)",
    "ev_approx_value_quantiles": "r11: rank-interval attestation (2% ranks)",
    "ev_theta_user_overlap": "r12: intersection attestation bounded vs either_users",
    "dq_events_drift": "r12: drift_bin sign-safe clamp; two-half bin-share drift",
}


def main() -> None:
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    bench = json.load(open(os.path.join(root, "BENCH.json")))
    queries, iqrs = bench["queries"], bench["iqr"]
    md_path = os.path.join(root, "BASELINE.md")
    src = open(md_path).read()

    # harvest existing notes — the sec/iqr fields must also accept the
    # non-numeric renderings this tool itself emits (sec 'ERR', iqr '-' or
    # 'None'), or an errored/None row's note is silently dropped on the
    # NEXT regeneration (ADVICE r11)
    notes: dict[str, str] = {}
    for m in re.finditer(
        r"^\| ([a-z0-9_]+) \| [0-9.]+ \| (?:[0-9.]+|ERR) \|"
        r" (?:[0-9.-]+|None) \| (.*) \|$",
        src,
        re.M,
    ):
        notes[m.group(1)] = m.group(2)
    notes.update(NEW_NOTES)
    notes.update(NOTE_OVERRIDES)

    import bench as benchmod  # noqa: PLC0415

    rows = []
    missing_notes = []
    for name in benchmod.HEADLINE:
        v = queries.get(name)
        if not isinstance(v, (int, float)):
            rows.append(f"| {name} | 0.1 | ERR | - | {queries.get(name)} |")
            continue
        iq = iqrs.get(name)
        note = notes.get(name)
        if note is None:
            missing_notes.append(name)
            note = ""
        rows.append(f"| {name} | 0.1 | {v} | {iq} | {note} |")
    if missing_notes:
        print("WARNING no note for:", missing_notes)

    table = (
        "| query | sf | sec/query | iqr | notes |\n|---|---|---|---|---|\n"
        + "\n".join(rows)
    )
    # replace the first committed table block
    pat = re.compile(
        r"\| query \| sf \| sec/query \| iqr \| notes \|\n\|---\|---\|---\|---\|---\|\n(\|.*\n)+"
    )
    new, n = pat.subn(table + "\n", src, count=1)
    assert n == 1, "committed table block not found"
    open(md_path, "w").write(new)
    print(f"table regenerated: {len(rows)} rows, total {bench['value']}s")


if __name__ == "__main__":
    main()
