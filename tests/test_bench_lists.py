"""bench.py's query lists must always resolve against the registry — a
rename that orphans a name would crash the driver's per-round bench run
and silently cost the round its BENCH artifact. Metadata-only: no Spark
session needed (conftest's sys.path insert makes `import bench` work)."""

from __future__ import annotations

import bench

from sms_db_spark.plans import registry


def test_bench_names_resolve_and_buckets_are_disjoint():
    specs = registry()
    missing = [n for n in bench.HEADLINE + bench.WRITE_AUDITS if n not in specs]
    assert not missing, missing
    overlap = set(bench.HEADLINE) & set(bench.WRITE_AUDITS)
    assert not overlap, f"a query must live in exactly one bucket: {overlap}"
    assert len(set(bench.HEADLINE)) == len(bench.HEADLINE)
    assert len(set(bench.WRITE_AUDITS)) == len(bench.WRITE_AUDITS)


def test_anchor_names_are_headline_names():
    """Every anchored query must still be a HEADLINE query (a rename or
    removal would silently shrink the ambient check's coverage)."""
    stray = [q for q in bench.ANCHOR if q not in bench.HEADLINE]
    assert not stray, stray


def test_write_audit_anchor_names_are_write_audit_names():
    stray = [q for q in bench.WRITE_AUDIT_ANCHOR if q not in bench.WRITE_AUDITS]
    assert not stray, stray


def test_heavy_audit_rotation_partitions_and_resolves(monkeypatch):
    """The r13 half-per-round rotation (VERDICT r12 item 2): the two
    parity subsets must partition the rotating set (so alternating
    parities time every heavy audit within 2 rounds), every name must
    be a real WRITE_AUDITS entry, active+skipped must reconstruct the
    full bucket in order, and the ALL-audits override must defeat the
    rotation (anchor-refresh runs need the full bucket)."""
    monkeypatch.delenv("SMS_DB_SPARK_BENCH_ALL_AUDITS", raising=False)
    rotating = {q for qs in bench.HEAVY_AUDIT_ROTATION.values() for q in qs}
    assert rotating <= set(bench.WRITE_AUDITS)
    assert set(bench.HEAVY_AUDIT_ROTATION) == {0, 1}
    assert not (
        set(bench.HEAVY_AUDIT_ROTATION[0]) & set(bench.HEAVY_AUDIT_ROTATION[1])
    )
    assert (
        set(bench.HEAVY_AUDIT_ROTATION[0]) | set(bench.HEAVY_AUDIT_ROTATION[1])
        == rotating
    )

    for parity in (0, 1):
        monkeypatch.setattr(bench, "_build_round", lambda p=parity: p)
        active, skipped = bench.rotated_write_audits()
        assert set(active) | set(skipped) == set(bench.WRITE_AUDITS)
        assert not set(active) & set(skipped)
        assert set(skipped) == rotating - set(bench.HEAVY_AUDIT_ROTATION[parity])
        # order preserved so bucket timings stay position-comparable
        assert active == [q for q in bench.WRITE_AUDITS if q in set(active)]

    # unknown round (no evidence.json): fail toward completeness
    monkeypatch.setattr(bench, "_build_round", lambda: None)
    assert bench.rotated_write_audits() == (list(bench.WRITE_AUDITS), [])

    # explicit override: full bucket regardless of parity
    monkeypatch.setattr(bench, "_build_round", lambda: 1)
    monkeypatch.setenv("SMS_DB_SPARK_BENCH_ALL_AUDITS", "1")
    assert bench.rotated_write_audits() == (list(bench.WRITE_AUDITS), [])


def test_build_round_reads_evidence_artifacts():
    """evidence.json is regenerated at round start, so its newest
    CORRECTNESS artifact + 1 IS the current build round."""
    rnd = bench._build_round()
    assert rnd is not None and rnd >= 13


def test_watch_tier_reports_medium_regressions_without_flagging():
    """The r10-item-4 gap: a genuine ~2x regression on a substantial
    query must be REPORTED (watch tier) even though it clears the 3x
    suspect bar — and the tier must stay era-normalized (uniform
    machine drift moves calibration too, so it never floods the list),
    disjoint from suspects, and silent on sub-second anchors."""
    flat_cal, flat_overhead = bench.ANCHOR_CAL_SEC, 0.06
    flat_py = bench.ANCHOR_CAL_PYTHON_SEC
    base = dict(bench.ANCHOR)

    # a 2.5x single-query regression on a >=1s-anchor query
    med = dict(base)
    med["q124_kmeans_hashed_seed_train"] = base["q124_kmeans_hashed_seed_train"] * 2.5
    out = bench.ambient_check(med, flat_cal, flat_overhead, flat_py)
    assert list(out["watch_vs_anchor"]) == ["q124_kmeans_hashed_seed_train"]
    assert out["suspects_vs_anchor"] == {}  # below the 3x suspect bar
    assert out["suspect_ambient"] is False

    # past 3x the same query graduates to suspects and LEAVES the watch
    hot = dict(base)
    hot["q124_kmeans_hashed_seed_train"] = base["q124_kmeans_hashed_seed_train"] * 4
    out = bench.ambient_check(hot, flat_cal, flat_overhead, flat_py)
    assert "q124_kmeans_hashed_seed_train" in out["suspects_vs_anchor"]
    assert "q124_kmeans_hashed_seed_train" not in out["watch_vs_anchor"]

    # a 2.5x on a sub-second anchor is scheduler jitter, not watched
    small = dict(base)
    small["q41_text_quality"] = base["q41_text_quality"] * 2.5
    out = bench.ambient_check(small, flat_cal, flat_overhead, flat_py)
    assert out["watch_vs_anchor"] == {}

    # uniform 2.5x slowdown WITH calibration moved 2.5x: machine era,
    # nothing watched
    slow = {q: t * 2.5 for q, t in base.items()}
    out = bench.ambient_check(slow, flat_cal * 2.5, flat_overhead, flat_py)
    assert out["watch_vs_anchor"] == {}


def test_ambient_check_flags_the_r8_signature():
    """The exact r8 contamination shape — several anchored queries far
    past 3x, JVM calibrations flat, Python-lane axis registering the
    pressure — must flag; an isolated blowup (a real per-query
    regression), a lane-wide slowdown with ALL axes flat (a real
    regression the flag must not bury), and a global slowdown WITH a
    moved calibration (machine drift) must not."""
    flat_cal, flat_overhead = bench.ANCHOR_CAL_SEC, 0.06
    flat_py = bench.ANCHOR_CAL_PYTHON_SEC
    loaded_py = flat_py * 6  # the Python axis under ambient pressure
    base = dict(bench.ANCHOR)

    # r8 shape: six Python-lane queries at 7-13x, JVM axes flat, the
    # Python axis elevated (the load is measurable where it landed)
    r8 = dict(base)
    for q, mult in (
        ("q76_filtered_ann_lsh", 13.0), ("q88_dup_ngram_coverage", 12.0),
        ("q79_sequence_packing", 10.4), ("q81_contamination", 9.3),
        ("q90_hashed_classifier", 8.2), ("q75_multimodal_real_decode", 7.8),
    ):
        r8[q] = round(base[q] * mult, 3)
    out = bench.ambient_check(r8, flat_cal, flat_overhead, loaded_py)
    assert out["suspect_ambient"] is True
    assert set(out["suspects_vs_anchor"]) >= {
        "q76_filtered_ann_lsh", "q81_contamination", "q88_dup_ngram_coverage",
    }

    # same query shape but EVERY axis flat: nothing environmental
    # explains it — a real lane-wide regression, must not be buried
    out = bench.ambient_check(r8, flat_cal, flat_overhead, flat_py)
    assert out["suspect_ambient"] is False

    # one real regression: NOT ambient (it should be investigated)
    one = dict(base)
    one["q44_minhash_signatures"] = base["q44_minhash_signatures"] * 10
    out = bench.ambient_check(one, flat_cal, flat_overhead, loaded_py)
    assert out["suspect_ambient"] is False
    assert list(out["suspects_vs_anchor"]) == ["q44_minhash_signatures"]

    # global slowdown with a MOVED calibration: machine drift, the
    # calibration normalizes it — not flagged as ambient contamination
    slow = {q: t * 4 for q, t in base.items()}
    out = bench.ambient_check(slow, flat_cal * 4, flat_overhead, loaded_py)
    assert out["suspect_ambient"] is False

    # clean run: nothing flagged, ratio near 1
    out = bench.ambient_check(base, flat_cal, flat_overhead, flat_py)
    assert out["suspect_ambient"] is False and not out["suspects_vs_anchor"]
    assert out["anchor_total_ratio"] == 1.0


def test_per_query_chunks_follow_measured_time_not_anchor():
    """The tail-surviving last chunk must hold this run's slowest lanes:
    a lane with the smallest anchor but the largest measured time lands
    in the last chunk, one with the largest anchor but the smallest
    measured time in the first."""
    import json

    fast_anchor = min(bench.ANCHOR, key=bench.ANCHOR.get)
    slow_anchor = max(bench.ANCHOR, key=bench.ANCHOR.get)
    headline = {q: 1.0 + i / 100 for i, q in enumerate(bench.HEADLINE)}
    headline[fast_anchor] = 99.0
    headline[slow_anchor] = 0.1
    lines = [json.loads(s) for s in bench._per_query_lines(headline, {})]
    chunks = [d["queries"] for d in lines if d["metric"] == "per_query_headline"]
    assert len(chunks) > 1
    assert fast_anchor in chunks[-1]
    assert slow_anchor in chunks[0]
    assert sum(len(c) for c in chunks) == len(headline)
