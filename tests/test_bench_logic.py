"""Bench rep-selection logic (no Spark): the round-3 artifact selected a
rep with a degenerate steal normalization (calib_16 < calib_4 -> "steal-
normalized 4.123") over the rep with raw 0.829 — the sanity screen must
prevent exactly that."""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import pair_quality, rep_meets_criterion, rep_sanity, selection_key


def _rep(dps4, dps16, calib4, calib16, ctrl4, ctrl16):
    runs = {
        4: {
            "docs_per_sec": dps4,
            "calib_chunks_per_sec": calib4,
            "control_docs_per_sec": ctrl4,
            "spark_over_control": round(dps4 / ctrl4, 3),
        },
        16: {
            "docs_per_sec": dps16,
            "calib_chunks_per_sec": calib16,
            "control_docs_per_sec": ctrl16,
            "spark_over_control": round(dps16 / ctrl16, 3),
        },
    }
    raw = round(dps16 / (4.0 * dps4), 3)
    norm = round((dps16 / calib16) / (dps4 / calib4), 3)
    ctrl = round((dps16 / ctrl16) / (dps4 / ctrl4), 3)
    return {"runs": runs, "eff_raw": raw, "eff_norm": norm, "eff_control": ctrl}


# the three shipped round-3 reps (BENCH_r03 pair_reps_4_16), verbatim
R3_REP_1 = _rep(1965.5, 6519.2, 3.185, 9.243, 2479.5, 2611.8)   # raw 0.829
R3_REP_2 = _rep(797.6, 1868.5, 2.285, 5.271, 2040.8, 7785.7)    # raw 0.586
R3_REP_3 = _rep(1928.1, 4497.0, 3.187, 1.803, 2181.5, 4002.5)   # raw 0.583, SELECTED r3

# a clean-window rep shaped like BASELINE.md run D (raw 0.814, sane
# normalizers: probe and control both scale ~3.2x, socs ~0.9-1.0)
CLEAN_REP = _rep(2000.0, 6512.0, 3.2, 10.3, 2200.0, 7040.0)


def test_r3_selected_rep_fails_sanity():
    # rep 3's 16-leg calibration ANTI-scaled (1.803 < 3.187, ratio 0.57):
    # the degenerate normalizer that produced "steal-normalized 4.123"
    s = rep_sanity(R3_REP_3)
    assert s["calib_ratio"] < 1 and not s["sane"]
    # rep 1's 16-leg CONTROL collapsed: soc_16 2.496 way outside
    # [0.5, 1.6] — insane even though its raw eff is the best
    s1 = rep_sanity(R3_REP_1)
    assert not s1["sane"]
    # rep 2's normalizers are fine but both Spark legs were degraded
    s2 = rep_sanity(R3_REP_2)
    assert s2["calib_ratio"] > 2 and s2["control_ratio"] > 2
    assert not s2["sane"]  # socs 0.391 / 0.240 out of [0.5, 1.6]


def test_clean_rep_passes_sanity_and_criterion():
    s = rep_sanity(CLEAN_REP)
    assert s["sane"], s
    assert rep_meets_criterion(CLEAN_REP)
    assert CLEAN_REP["eff_raw"] == 0.814


def test_selector_prefers_sane_over_higher_soc():
    """The round-4 selection key (sane, criterion, worst-leg soc): a sane
    clean rep beats every insane r3 rep, and among insane reps the one
    meeting the raw criterion (rep 1) beats the one that r3 shipped."""
    reps = [R3_REP_1, R3_REP_2, R3_REP_3, CLEAN_REP]
    best = max(reps, key=selection_key)
    assert best is CLEAN_REP
    # without the clean rep: criterion (raw 0.829) outranks window score,
    # so the degenerate-normalizer rep 3 can no longer be selected
    best_r3 = max(reps[:3], key=selection_key)
    assert best_r3 is R3_REP_1


# two shipped round-4 reps (BENCH_evidence.json, first round-4 run):
# rep D — a window where the MACHINE refused to scale (control only
# 1.25x for 4x cores) but the measurement is consistent: both socs
# healthy, control-normalized 0.961.  rep C — Spark "beat" the control
# 1.48x on the 16-leg (the control's window collapsed mid-leg).
R4_REP_D = _rep(2030.0, 2433.1, 2.968, 5.76, 2303.4, 2872.1)
R4_REP_C = _rep(2303.5, 5218.7, 2.961, 5.568, 2828.7, 3528.6)


def test_nonscaling_machine_with_healthy_socs_is_sane_and_meets_criterion():
    """A low-but->=1 control ratio with both socs in [0.8, 1.25] is a
    consistent measurement of a non-scaling window — the exact case the
    control-normalized criterion arm exists for (engine tracked the
    no-framework control at both levels)."""
    s = rep_sanity(R4_REP_D)
    assert s["sane"] and 1.0 <= s["control_ratio"] < 2.0
    assert R4_REP_D["eff_raw"] < 0.8  # the machine capped raw
    assert R4_REP_D["eff_control"] >= 0.8
    assert rep_meets_criterion(R4_REP_D)


def test_inflated_control_cannot_satisfy_normalized_arm():
    """soc 1.479 on the 16-leg means the CONTROL degraded, inflating
    eff_control to 1.816 — the [0.8, 1.25] soc bound on the normalized
    arm rejects it (and raw 0.566 fails the raw arm)."""
    s = rep_sanity(R4_REP_C)
    assert s["sane"]  # ratios >= 1, socs within the loose [0.5, 1.6]
    assert R4_REP_C["eff_control"] > 1.5  # visibly inflated
    assert not rep_meets_criterion(R4_REP_C)
    # selection: D (criterion met) outranks C despite C's higher soc_16
    best = max([R4_REP_C, R4_REP_D], key=selection_key)
    assert best is R4_REP_D


# a shipped run-7 rep: raw 1.125 off a degraded 4-leg (soc 0.646) with
# an over-reading 16-leg control (soc 1.338) — sane by the screen's loose
# bounds, but super-linear raw is physically impossible in a clean pair
R4_REP_SUPERLINEAR = _rep(2084.9, 9382.6, 2.969, 9.293, 3227.4, 7013.0)


def test_superlinear_raw_cannot_satisfy_criterion():
    s = rep_sanity(R4_REP_SUPERLINEAR)
    assert s["sane"]  # the loose screen keeps it as selectable evidence
    assert R4_REP_SUPERLINEAR["eff_raw"] > 1.05
    # neither arm: raw is capped, and soc_16 1.338 > 1.25 blocks the
    # normalized arm
    assert not rep_meets_criterion(R4_REP_SUPERLINEAR)


def test_raw_arm_requires_healthy_legs():
    """A run-8 rep: raw 0.925 (under the cap) but off a soc-0.521
    baseline leg — inflated by the same mechanism, so the raw arm's
    per-leg soc >= 0.65 floor must reject it; the clean run-5 rep
    (socs 0.82/0.84) passes."""
    r8 = _rep(1630.4, 6030.4, 5.533, 8.126, 3129.2, 8777.5)
    assert 0.8 <= r8["eff_raw"] <= 1.05
    assert r8["runs"][4]["spark_over_control"] < 0.65
    assert not rep_meets_criterion(r8)
    assert rep_meets_criterion(CLEAN_REP)


# the two shapes that pin the re-derived 0.65 floor (after run 23):
# run 15's knife-edge rep — raw 0.886 off a HEALTHY 3,799 docs/s 4-leg
# whose soc 0.698 reflects the round-5 kernel speedup (the control got
# 1.35x faster; Spark's fixed per-doc overhead didn't), not throttling —
# and run 23's rep — raw 0.971 off a 2,656 docs/s 4-leg (38% under the
# record), soc 0.626: a genuinely throttled denominator minting the
# best-looking raw of the round.
R5_REP_KNIFE_EDGE = _rep(3799.0, 13471.0, 2.8, 9.0, 5443.0, 14853.0)
R5_REP_THROTTLED = _rep(2656.2, 10313.7, 2.808, 8.368, 4243.1, 13662.0)


def test_rederived_floor_admits_healthy_leg_and_rejects_throttled():
    assert rep_sanity(R5_REP_KNIFE_EDGE)["sane"]
    assert 0.8 <= R5_REP_KNIFE_EDGE["eff_raw"] <= 1.05
    assert 0.65 <= R5_REP_KNIFE_EDGE["runs"][4]["spark_over_control"] < 0.7
    assert rep_meets_criterion(R5_REP_KNIFE_EDGE)
    # run 23's rep stays rejected: soc_4 0.626 under the re-derived
    # floor — raw 0.971 is the throttled-denominator artifact the floor
    # exists to refuse
    assert rep_sanity(R5_REP_THROTTLED)["sane"]
    assert 0.8 <= R5_REP_THROTTLED["eff_raw"] <= 1.05
    assert R5_REP_THROTTLED["runs"][4]["spark_over_control"] < 0.65
    assert not rep_meets_criterion(R5_REP_THROTTLED)


def _rep28(dps2, dps8, calib2, calib8, ctrl2, ctrl8):
    """A 2->8 fallback rep: same shape as _rep but keyed by its own
    core counts — the helpers must grade it identically (the north
    rule's criterion is N -> 4N cores, not specifically 4 -> 16)."""
    runs = {
        2: {
            "docs_per_sec": dps2,
            "calib_chunks_per_sec": calib2,
            "control_docs_per_sec": ctrl2,
            "spark_over_control": round(dps2 / ctrl2, 3),
        },
        8: {
            "docs_per_sec": dps8,
            "calib_chunks_per_sec": calib8,
            "control_docs_per_sec": ctrl8,
            "spark_over_control": round(dps8 / ctrl8, 3),
        },
    }
    raw = round(dps8 / (4.0 * dps2), 3)
    norm = round((dps8 / calib8) / (dps2 / calib2), 3)
    ctrl = round((dps8 / ctrl8) / (dps2 / ctrl2), 3)
    return {"runs": runs, "eff_raw": raw, "eff_norm": norm,
            "eff_control": ctrl, "fallback": True}


def test_fallback_2_8_pair_graded_by_same_helpers():
    """Wide-grant-refusal fallback (run-24 lesson): a healthy 2->8 rep
    passes sanity AND the criterion through the SAME generalized
    helpers; a 2->8 rep with a throttled 2-leg is refused by the same
    soc floor that refused run 23's 4-leg."""
    healthy = _rep28(1400.0, 4800.0, 1.45, 5.2, 1900.0, 6100.0)
    assert healthy["eff_raw"] == 0.857
    s = rep_sanity(healthy)
    assert s["sane"] and s["calib_ratio"] > 3 and s["control_ratio"] > 3
    assert rep_meets_criterion(healthy)
    # throttled 2-leg: great-looking raw off a degraded denominator
    throttled = _rep28(900.0, 3400.0, 1.4, 5.3, 1900.0, 6000.0)
    assert throttled["eff_raw"] > 0.9
    assert throttled["runs"][2]["spark_over_control"] < 0.65
    assert not rep_meets_criterion(throttled)


def test_fallback_rep_view_roundtrips_through_summary():
    """rep_view emits per-core key names + the pair tag; the ledger's
    _to_rep must invert it so fallback reps get the same cross-run
    grading as primary ones."""
    from bench import rep_view

    sys.path.insert(0, os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "tools"))
    from scaling_summary import _to_rep

    healthy = _rep28(1400.0, 4800.0, 1.45, 5.2, 1900.0, 6100.0)
    view = rep_view(healthy)
    assert view["fallback"] is True and view["pair"] == [2, 8]
    assert view["docs_per_sec_2"] == 1400.0 and view["soc_8"] == 0.787
    rt = _to_rep(view)
    assert sorted(rt["runs"]) == [2, 8]
    assert rep_meets_criterion(rt)
    # the primary view keeps its historical shape (no pair tag)
    pv = rep_view(CLEAN_REP)
    assert "pair" not in pv and "docs_per_sec_4" in pv
    assert sorted(_to_rep(pv)["runs"]) == [4, 16]


def test_compact_result_line_fits_capture_window():
    """The driver tail-captures ~2 KB; the printed result line must stay
    under the 1.7 KB shed-guard with a full queries map, extraction
    block, AND the 2->8 fallback block (the worst case)."""
    timings = {k: round(0.123 + i, 3) for i, k in enumerate(
        ["q1_pricing_summary", "agg_concat_reading_order", "topk_choices",
         "reading_order", "span_clamp", "resume_antijoin", "exact_dedup",
         "minhash_signature", "lsh_pairs", "simhash", "fingerprint",
         "quality_score", "cosine_topk", "ann_bucketed",
         "near_dedup_verified", "ngram_jaccard_stats", "glyph_topk",
         "extraction_local32"])}
    extraction = {
        "docs_pair": 80000, "docs_full": 320000,
        "docs_per_sec": {"4": 1928.1, "16": 4497.0, "8": 1484.6, "32": 3663.8},
        "eff_4_16": {"raw": 0.814, "steal_norm": 0.943, "control_norm": 1.09},
        "eff_8_32": {"raw": 0.779, "steal_norm": 0.813, "control_norm": 0.9},
        "sel": {"soc": [0.884, 1.124], "mid_over_pre": [0.918, 1.01],
                "calib_ratio": 2.901, "control_ratio": 3.2, "sane": True},
        "n_reps": 4, "n_errors": 2, "evidence": "BENCH_evidence.json",
        "ledger": {"reps": 51, "sane": 31, "met": 11,
                   "met_raw": [0.882, 0.847, 0.891, 0.928, 0.84, 0.741],
                   "met_2_8": "1/2"},
        # fallback-pair block present too: the worst-case line is a
        # refusal-window run that ran BOTH the secondary and the 2->8
        # fallback (compact form; normalizer detail in the sidecar)
        "fb_2_8": {"raw": 0.861, "control_norm": 1.01,
                   "soc": [0.71, 0.79], "sane": True, "met": True},
    }
    line = json.dumps({
        "metric": ("headline operator suite + html extraction (docs/sec; "
                   "scaling eff 4->16 primary, 8->32 secondary)"),
        "value": 123.456, "unit": "sec", "queries": timings, "sf": 0.1,
        "qbest": {"amber": ["ann_bucketed", "extraction_local32",
                            "lsh_pairs", "near_dedup_verified",
                            "ngram_jaccard_stats", "q1_pricing_summary"],
                  "n_amber": 7, "n_green": 12},
        "xxhash": {"minhash_signature": 0.712, "lsh_pairs": 1.234,
                   "simhash": 0.298, "fingerprint": 0.401},
        "extraction": extraction,
    })
    assert len(line) < 1700, len(line)


def test_shed_keeps_slowest_queries_and_contract_keys():
    """shed_queries_to_fit: with a 36-query suite pushing the line over
    the guard, the fastest non-contract queries shed first — the slow
    readings, the canary, and the wall stay inline; the line fits."""
    from bench import shed_queries_to_fit

    timings = {f"op_{i:02d}": round(0.05 + i * 0.37, 3) for i in range(34)}
    timings["q1_pricing_summary"] = 0.061
    timings["extraction_local32"] = 44.125
    result = {
        "metric": "m" * 120, "value": 99.9, "unit": "sec", "sf": 0.1,
        "qbest": {"amber": ["op_33"], "n_amber": 1, "n_green": 35},
        "xxhash": {"minhash_signature": 0.3, "lsh_pairs": 0.5,
                   "simhash": 0.1, "fingerprint": 0.09},
        "extraction": {"filler": "x" * 1100},
    }
    line = shed_queries_to_fit(result, timings)
    assert len(line) <= 1700
    kept = json.loads(line)["queries"]
    # contract keys survive even though q1 is the fastest entry
    assert "q1_pricing_summary" in kept and "extraction_local32" in kept
    # the slowest operator readings survive; the fastest shed
    assert "op_33" in kept and "op_32" in kept
    assert "op_00" not in kept
    # everything kept is slower than everything shed (contract aside)
    shed = set(timings) - set(kept)
    non_contract_kept = [
        timings[k] for k in kept
        if k not in ("q1_pricing_summary", "extraction_local32")
    ]
    assert min(non_contract_kept) >= max(
        timings[k] for k in shed
    )


def test_query_health_flags_only_over_2x_best():
    from bench import improved_best, query_health

    best = {"a": 0.5, "b": 1.0}
    timings = {"a": 0.4, "b": 2.3, "c": 9.9}  # c has no reference yet
    h = query_health(timings, best)
    assert h["amber"] == ["b"] and h["n_green"] == 1
    # only improvements flow back — the degraded 'b' cannot poison it,
    # and the new 'c' gets established
    imp = improved_best(timings, best)
    assert imp == {"a": 0.4, "c": 9.9}


def test_evidence_log_appends_and_replaces_same_run(tmp_path):
    """VERDICT r4 item 2: two consecutive runs leave BOTH rep records on
    disk; a same-run rewrite (shed-guard) replaces its own entry."""
    import json as j

    from bench import append_evidence_log

    root = str(tmp_path)
    append_evidence_log(root, {"pair_reps_4_16": [1]}, "runA")
    append_evidence_log(root, {"pair_reps_4_16": [2]}, "runB")
    log = j.load(open(tmp_path / "BENCH_evidence_log.json"))
    assert [e["run_id"] for e in log] == ["runA", "runB"]
    append_evidence_log(root, {"pair_reps_4_16": [2, 3]}, "runB")
    log = j.load(open(tmp_path / "BENCH_evidence_log.json"))
    assert [e["run_id"] for e in log] == ["runA", "runB"]
    assert log[1]["pair_reps_4_16"] == [2, 3]


def test_evidence_log_survives_corrupt_or_legacy_file(tmp_path):
    import json as j

    from bench import append_evidence_log

    (tmp_path / "BENCH_evidence_log.json").write_text("{not json")
    append_evidence_log(str(tmp_path), {"x": 1}, "r1")
    log = j.load(open(tmp_path / "BENCH_evidence_log.json"))
    assert len(log) == 1 and log[0]["run_id"] == "r1"
    # legacy single-dict file gets wrapped, not destroyed
    (tmp_path / "BENCH_evidence_log.json").write_text(
        j.dumps({"run_id": "old", "x": 0}))
    append_evidence_log(str(tmp_path), {"x": 1}, "r2")
    log = j.load(open(tmp_path / "BENCH_evidence_log.json"))
    assert [e["run_id"] for e in log] == ["old", "r2"]


def test_probe_calm_verdict_replays_round5_readings():
    """The pre-flight gate's calm band (floor 2.7 since run 20),
    replayed against real probes: truly collapsed round-5 run-1 windows
    (control scaling 0.72-2.53) read not-calm; healthy and near-calm
    windows that historically produced sane criterion-met reps read
    calm; a superlinear calib ratio (degraded 4-proc baseline moment)
    is rejected by the ceiling."""
    from ocrd_tesserocr_spark.bench_scaling import calm_verdict

    # observed healthy windows (session probes before the degradation)
    assert calm_verdict(3.495, 3.184)
    assert calm_verdict(3.0, 3.0)
    # run 20's met rep measured calib 2.89 / ctrl 2.78 in-rep — the
    # floor move exists so windows like it are measured, not slept away
    assert calm_verdict(2.89, 2.78)
    assert calm_verdict(3.624, 2.791) and calm_verdict(2.99, 2.797)
    # genuinely collapsed run-1 probes stay refused under the 2.7 floor
    for calib, ctrl in [(3.533, 0.715), (3.602, 2.364), (2.783, 2.108),
                        (4.178, 2.534), (2.6, 3.2)]:
        assert not calm_verdict(calib, ctrl)
    # superlinear calib = the 4-proc baseline leg itself was degraded
    assert not calm_verdict(4.434, 3.2)
    assert not calm_verdict(None, 3.2) and not calm_verdict(3.2, None)


def test_secondary_pair_retry_and_selection():
    """The 8->32 secondary's retry trigger and run selection (round-5
    addition): a degraded worst leg OR an amber local[32] wall (>2x the
    checked-in calm best) re-runs the pair; selection prefers healthy
    legs, then the faster wall.  Replays round-5 run 4: healthy socs but
    a 90.6 s wall against a ~33 s best — the soc screen alone missed it."""
    from bench import sec_key, sec_needs_retry, sec_quality

    healthy = {8: {"spark_over_control": 0.9},
               32: {"spark_over_control": 0.85, "wall_sec": 35.0}}
    run4 = {8: {"spark_over_control": 0.83},
            32: {"spark_over_control": 0.78, "wall_sec": 90.6}}
    degraded = {8: {"spark_over_control": 0.4},
                32: {"spark_over_control": 0.85, "wall_sec": 30.0}}

    assert sec_quality({8: {"spark_over_control": 0.9}}) == -1.0  # missing leg
    assert not sec_needs_retry(healthy, 33.0)
    assert sec_needs_retry(run4, 33.0)          # amber wall, healthy socs
    assert sec_needs_retry(degraded, 33.0)      # soc floor
    assert not sec_needs_retry(run4, None)      # no best recorded yet
    # healthy beats amber-but-healthy-slower beats degraded-fast
    assert sec_key(healthy) > sec_key(run4) > sec_key(degraded)
    # a retry with a missing leg never displaces a complete run
    assert sec_key(healthy) > sec_key({8: {"spark_over_control": 0.9}})


def test_secondary_eff_refuses_standalone_salvage():
    """Run-19 addition: when the 8->32 pair times out, a lone 32-leg is
    re-run to salvage the local[32] wall — but its pair efficiency must
    NOT be computed against an 8-leg from a different noise regime."""
    from bench import sec_eff

    paired = {
        8: {"docs_per_sec": 6000.0, "calib_chunks_per_sec": 3.5,
            "control_docs_per_sec": 7400.0},
        32: {"docs_per_sec": 14000.0, "calib_chunks_per_sec": 9.0,
             "control_docs_per_sec": 15000.0, "wall_sec": 22.0},
    }
    raw, norm, ctrl = sec_eff(paired)
    assert raw is not None and norm is not None and ctrl is not None

    salvaged = {8: paired[8],
                32: {**paired[32], "standalone_salvage": True}}
    assert sec_eff(salvaged) == (None, None, None)
    # missing legs also report no efficiency
    assert sec_eff({8: paired[8]}) == (None, None, None)
    assert sec_eff({32: paired[32]}) == (None, None, None)


def test_ledger_summary_counts_match_collect():
    """`ledger_summary()` (embedded in the bench result line since round
    5) must agree with the full ledger rows it summarizes, and every
    `met_raw`/`met_ctrl` entry must come from a rep that bench.py's own
    criterion helper accepts — the artifact-embedded counts are evidence,
    so they must not be computable any other way than through the same
    screens."""
    import bench

    sys.path.insert(
        0,
        os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            "tools",
        ),
    )
    from scaling_summary import MET_TAIL, collect, ledger_summary

    rows = collect()
    s = ledger_summary()
    # the summary keeps the primary 4->16 series and the 2->8 fallback
    # series separate so neither inflates the other
    primary = [r for r in rows if r.get("pair", "4,16") == "4,16"]
    fallback = [r for r in rows if r.get("pair") == "2,8"]
    met = [r for r in primary if r["meets_criterion"]]
    assert s["reps"] == len(primary)
    assert s["sane"] == sum(1 for r in primary if r["sane"])
    assert s["met"] == len(met)
    if fallback:
        assert s["reps_2_8"] == len(fallback)
        assert s["met_2_8"] == sum(
            1 for r in fallback if r["meets_criterion"]
        )
    # the arrays are the newest MET_TAIL entries (counts stay exact
    # totals; the full distribution is recomputable via collect())
    assert s["met_raw"] == [round(r["eff_raw"], 3) for r in met][-MET_TAIL:]
    assert len(s["met_ctrl"]) == len(s["met_raw"])
    # criterion-met reps are a subset of sane reps by construction
    assert all(r["sane"] for r in met)
    assert all(r["sane"] for r in fallback if r["meets_criterion"])
    # and the summary stays compact enough for the driver's capture
    # window no matter how large the ledger grows (tail-capped arrays)
    assert len(json.dumps(s)) < 400


def test_selection_tiebreak_prefers_trusted_raw_run14_replay():
    """Run 14 verbatim (BENCH_evidence_log run 20260818T004513Z-3247):
    no rep met the criterion; the old worst-leg-soc tiebreak shipped the
    sane raw-0.540 rep over the sane raw-0.785/norm-0.96 one.  Among
    equally-(non-)met reps the graded number is eff_raw, so the trusted
    capped-raw tiebreak must pick rep 0 — while a rep whose raw is
    inflated by a collapsed leg (worst soc < 0.6) stays untrusted and
    cannot outrank it."""
    rep0 = _rep(3596.2, 11292.1, 3.016, 9.867, 5207.2, 16685.2)
    rep1 = _rep(3561.9, 7698.2, 2.609, 8.709, 4607.4, 6809.5)
    rep2 = _rep(3701.2, 9963.3, 3.104, 10.115, 4757.2, 4758.2)
    assert rep_sanity(rep0)["sane"] and rep_sanity(rep1)["sane"]
    assert not rep_sanity(rep2)["sane"]  # control anti-scaled (ratio 1.0)
    assert not any(map(rep_meets_criterion, (rep0, rep1, rep2)))
    assert max([rep0, rep1, rep2], key=selection_key) is rep0
    assert rep0["eff_raw"] == 0.785
    # untrusted raw: a collapsed 4-leg (soc 0.4) yields raw 1.0 — capped
    # trust gate keeps the honest 0.785 rep on top
    inflated = _rep(1000.0, 4000.0, 3.0, 9.6, 2500.0, 4100.0)
    assert pair_quality(inflated) < 0.6
    assert max([rep0, inflated], key=selection_key) is rep0


def test_amber_retry_list_bounds():
    """The end-of-run amber retry must be bounded: real queries only,
    never the extraction wall, only small calm bests, capped at 8."""
    from bench import amber_retry_list

    best = {"a": 0.5, "b": 1.0, "slow": 30.0, "extraction_local32": 18.8,
            "nobest": 0}
    known = {"a", "b", "slow", "nobest", "extraction_local32"}
    qb = {"amber": ["a", "b", "slow", "nobest", "extraction_local32",
                    "ghost"]}
    # eligible: small-best known queries; wall, minutes-best, zero-best,
    # and unknown names all excluded
    assert amber_retry_list(qb, best, known) == ["a", "b"]
    # cap at 8
    many = {f"q{i}": 0.1 for i in range(12)}
    qb12 = {"amber": sorted(many)}
    assert len(amber_retry_list(qb12, many, set(many))) == 8
    # empty amber -> no retry session at all
    assert amber_retry_list({"amber": []}, best, known) == []
    # xx_-namespaced production-hash arm names are eligible when the
    # caller includes them in `known` (run-8 lesson: the arm needed the
    # same self-correction)
    assert amber_retry_list(
        {"amber": ["xx_minhash"]}, {"xx_minhash": 0.45}, {"xx_minhash"}
    ) == ["xx_minhash"]


def test_amber_retry_list_ranks_by_badness_ratio():
    """Run-27 replay: with 8+ ordinary ambers the alphabetical cap cut
    every xx_ key (they sort last), so the xxhash arm's 183.9 s minhash
    — 565x its calm best, the worst reading in the artifact — shipped
    unretried.  Ranked by reading/best, it must come FIRST."""
    from bench import amber_retry_list

    best = {
        "cosine_topk": 0.377, "fingerprint": 0.314, "glyph_topk": 0.119,
        "lsh_pairs": 0.569, "minhash_signature": 0.339,
        "near_dedup_verified": 0.381, "ngram_jaccard_stats": 1.175,
        "q1_pricing_summary": 0.197, "xx_lsh_pairs": 0.543,
        "xx_minhash_signature": 0.325, "xx_simhash": 0.141,
    }
    timings = {
        "cosine_topk": 0.989, "fingerprint": 0.633, "glyph_topk": 0.377,
        "lsh_pairs": 2.466, "minhash_signature": 1.147,
        "near_dedup_verified": 1.023, "ngram_jaccard_stats": 30.192,
        "q1_pricing_summary": 0.934, "xx_lsh_pairs": 6.673,
        "xx_minhash_signature": 183.855, "xx_simhash": 0.974,
    }
    qb = {"amber": sorted(best)}  # alphabetical, as query_health emits
    got = amber_retry_list(qb, best, set(best), timings)
    assert len(got) == 8
    # worst offenders lead: xx_minhash 565x, then ngram 25.7x
    assert got[0] == "xx_minhash_signature"
    assert got[1] == "ngram_jaccard_stats"
    assert "xx_lsh_pairs" in got  # 12.3x — inside the cap now
    # the mildest ambers (near_dedup 2.7x, cosine 2.6x, fingerprint
    # 2.0x) are what the cap cuts now, not the arm
    assert "cosine_topk" not in got and "fingerprint" not in got
    assert "near_dedup_verified" not in got
    # without timings the legacy insertion order is preserved
    legacy = amber_retry_list(qb, best, set(best))
    assert legacy == sorted(best)[:8]


def test_bracket_control_centers_on_the_spark_window():
    """Bracketing controls (runs 13/15 lesson): soc against a post-only
    control inherits the full pre/post window drift; against the
    harmonic-mean bracket the first-order drift cancels.  Replay run
    15's 4-leg: spark 3799.1 docs/sec against a post control of 5443.3
    gave soc 0.698 (0.002 under the raw arm's floor); had the window
    been ~10% faster during the post control than the leg average, the
    bracketed reading lands back at the calm-window ~0.73."""
    from ocrd_tesserocr_spark.bench_scaling import bracket_control

    assert bracket_control(None, None) is None
    assert bracket_control(5000.0, None) == 5000.0
    assert bracket_control(None, 5000.0) == 5000.0
    # harmonic mean of equal doc counts, and symmetric
    assert bracket_control(4000.0, 6000.0) == 4800.0
    assert bracket_control(6000.0, 4000.0) == 4800.0
    # run-15 replay: post-only control 5443.3 -> soc 0.698; a pre
    # reading 10% slower (window sped up across the leg) brackets to
    # 5184.1 and soc recovers to 0.733
    post = 5443.3
    pre = post / 1.1
    bracketed = bracket_control(pre, post)
    assert round(3799.1 / bracketed, 3) == 0.733


def test_drift_band_rejects_regime_straddled_normalized_met():
    """Run 16 verbatim: the 16-leg's bracketing controls disagreed 3.287x
    (pre 3,934 -> post 12,931 docs/sec), so its bracketed soc 1.245 is an
    average over two different machines — the normalized arm must not
    accept it.  The same reading without drift data (pre-bracketing
    history) and the same reading in a one-regime window both keep their
    verdicts."""
    r16 = _rep(3117.6, 7510.6, 2.131, 8.524, 3719.8, 6032.2)
    assert r16["runs"][4]["spark_over_control"] == 0.838
    assert r16["runs"][16]["spark_over_control"] == 1.245
    assert rep_sanity(r16)["sane"]
    # pre-bracketing shape (no drift keys): normalized arm accepts
    assert rep_meets_criterion(r16)
    # with the run-16 drift evidence attached the arm is rejected
    r16["runs"][4]["control_drift"] = 0.959
    r16["runs"][16]["control_drift"] = 3.287
    assert not rep_meets_criterion(r16)
    # calm drift readings (run 16's 4-leg, the live smoke's 1.425 leg
    # rounded into band) leave a genuinely-met raw rep met
    met = _rep(2143.0, 6978.0, 3.0, 9.5, 2685.0, 9498.0)
    met["runs"][4]["control_drift"] = 0.96
    met["runs"][16]["control_drift"] = 1.43
    assert rep_meets_criterion(met)


def test_selection_demotes_drifted_rep_from_trusted_tier():
    """Among equally-sane, equally-unmet reps, a straddled leg (drift
    outside [0.5, 2.0]) may carry an inflated raw — the steady rep wins
    even at a lower raw reading."""
    drifted = _rep(2000.0, 7200.0, 3.0, 9.5, 2500.0, 8000.0)   # raw 0.9
    drifted["runs"][16]["control_drift"] = 3.0
    drifted["runs"][16]["spark_over_control"] = 0.65  # unmet either arm
    steady = _rep(2000.0, 5600.0, 3.0, 9.5, 2900.0, 8500.0)    # raw 0.7
    steady["runs"][4]["control_drift"] = 1.1
    steady["runs"][16]["control_drift"] = 0.9
    assert not rep_meets_criterion(drifted) and not rep_meets_criterion(steady)
    assert selection_key(steady) > selection_key(drifted)


def test_retry_window_dead_replays_run21():
    """Run 21's tail collapsed mid-retry: lsh 3.073 s -> 17.177 s then
    near_dedup 1.202 s -> 30.274 s (every further retry burned wall on a
    dead window).  Two consecutive >2x-worse retries stop the loop; one
    worse retry (run 12's ngram) or recovering retries (run 20's eight)
    never do."""
    from bench import retry_window_dead

    # run 21 verbatim: after the second 2x-worse pair the loop stops
    assert not retry_window_dead([(1.336, 3.423)])           # cosine: 1 worse
    assert retry_window_dead([(1.336, 3.423), (3.073, 17.177)])
    assert retry_window_dead(
        [(1.336, 3.423), (3.073, 17.177), (1.202, 30.274)]
    )
    # a recovery anywhere in the last two resets the streak (run 21's
    # exact_dedup 0.981 -> 0.503 sat between the worse readings)
    assert not retry_window_dead([(3.073, 17.177), (0.981, 0.503)])
    # run 12 shape: mostly-recovering retries with one worse outlier
    assert not retry_window_dead(
        [(14.9, 0.94), (2.33, 0.42), (9.0, 18.5)]
    )


def test_wide_grant_refusal_from_rep_evidence():
    """Run-28 replay: reps 0/1/3 each paired a healthy 4-leg (soc >=
    0.65) with a starved 16-leg (soc < 0.5) — the redemption slot must
    prefer the 2->8 fallback on that accumulated evidence even when a
    single late probe reads calm (run 28's did, and the fourth 4->16
    rep it bought was starved like the first three)."""
    from bench import wide_grant_refusal

    # run-28 verbatim: (dps4, dps16, calib4, calib16, ctrl4, ctrl16)
    rep0 = _rep(3998.6, 6635.3, 2.9, 8.3, 5663.9, 14977.7)   # socs 0.706/0.443
    rep1 = _rep(4180.4, 7534.1, 2.9, 9.8, 5758.1, 17521.2)   # socs 0.726/0.430
    rep2 = _rep(4629.5, 5911.4, 2.9, 8.5, 6239.2, 8784.0)    # socs 0.742/0.673
    rep3 = _rep(4122.6, 6868.9, 2.9, 11.4, 5839.4, 17841.3)  # socs 0.706/0.385
    assert wide_grant_refusal([rep0, rep1, rep2, rep3])
    # one starved rep is ordinary window noise, not an hour signature
    assert not wide_grant_refusal([rep0, rep2])
    # starved WIDE leg is the signature; a starved narrow leg (throttled
    # denominator, run-23 shape) is not
    throttled = _rep(2656.0, 10315.0, 2.9, 8.5, 4244.0, 13662.0)  # soc4 0.626
    assert not wide_grant_refusal([throttled, throttled])
    assert not wide_grant_refusal([])


def test_scaling_control_runs_the_arrow_kernel(monkeypatch, tmp_path):
    """The multiprocessing control behind ``spark_over_control`` runs the
    kernel Spark runs (``make_extract_arrow_fn``), not the per-document
    oracle, so a kernel-only change moves both sides of the ratio."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from ocrd_tesserocr_spark import bench_scaling, oracle

    def _oracle(*args, **kwargs):
        raise AssertionError("the control must not call the oracle")

    monkeypatch.setattr(oracle, "extract_document", _oracle)
    pages = pa.table(
        {
            "url": ["u1", "u2", "u3"],
            "html": [b"<p>one two</p>", b"<body><p>x</p></body>", None],
        },
        schema=pa.schema([("url", pa.string()), ("html", pa.binary())]),
    )
    assert bench_scaling._control_chunk(pages) == 3
    path = str(tmp_path / "pages.parquet")
    pq.write_table(pages, path)
    assert bench_scaling.kernel_control(1, path, n_docs=3) > 0
