"""Round-over-round bench regression gate (VERDICT r8 #5).

Runs tools/compare_bench.py — the same tool the judge uses — against the
two newest committed BENCH_r*.json snapshots, so a round cannot close with
an unnoticed >1.5x headline regression or a >2x same-protocol-baseline
miss. Pure JSON reads: no Spark session, runs in milliseconds.

Also pins the unit handling that round 8's verdict flagged: the driver
contract line stores per-query times in MILLISECONDS under truncated
names, while the durable BENCH.json stores SECONDS under full names —
load() must normalize both to ms (the "23000.0 ms for a 23 ms query"
display bug class).
"""

from __future__ import annotations

import glob
import json
import os
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from tools.compare_bench import SAME_PROTOCOL_MS, load, resolve  # noqa: E402


def _rounds() -> list[str]:
    """Main-round bench artifacts only (BENCH_r<NN>.json). The driver's
    round-10 commit added BENCH_r10_c8.json — an 8-CORE CONTROL run with
    its own documented tail stall (VERDICT r10) — which sorted after
    BENCH_r10.json and made this gate compare the control run against
    the main run (inherited-state fix, round 11)."""
    import re

    return sorted(
        p
        for p in glob.glob(os.path.join(REPO, "BENCH_r*.json"))
        if re.fullmatch(r"BENCH_r\d+\.json", os.path.basename(p))
    )


def test_latest_round_has_no_regressions():
    rounds = _rounds()
    if len(rounds) < 2:
        pytest.skip("need two BENCH_r*.json snapshots to compare")
    proc = subprocess.run(
        [sys.executable, os.path.join(REPO, "tools", "compare_bench.py"), rounds[-1]],
        capture_output=True,
        text=True,
        timeout=60,
    )
    assert proc.returncode == 0, (
        f"compare_bench flagged regressions in {os.path.basename(rounds[-1])}:\n"
        + proc.stdout[-2000:]
    )


def test_load_normalizes_driver_contract_ms():
    rounds = _rounds()
    if not rounds:
        pytest.skip("no BENCH_r*.json snapshots")
    d = load(rounds[-1])
    assert d["queries_unit"] == "ms"
    # sub-second headline queries must read as ms (tens, not tens of
    # thousands): the whole suite at sf0.1 sums to single-digit seconds.
    total_ms = sum(d["queries"].values())
    assert 100 < total_ms < 600_000, f"implausible total {total_ms} ms"


def test_load_normalizes_durable_seconds_payload(tmp_path):
    p = tmp_path / "bench.json"
    p.write_text(
        json.dumps(
            {
                "metric": "headline_queries_warm_total",
                "value": 0.05,
                "unit": "sec",
                "queries": {"q1_pricing_summary": 0.023},
                "first_run": {"q1_pricing_summary": 0.1},
                "sf": 0.1,
            }
        )
    )
    d = load(str(p))
    assert d["queries"]["q1_pricing_summary"] == pytest.approx(23.0)
    assert d["first_run"]["q1_pricing_summary"] == pytest.approx(100.0)


def test_resolve_truncated_names():
    keys = {"q1_pric": 1, "tfidf": 2, "tfidf_r": 3, "cogro2": 4}
    assert resolve("q1_pricing_summary", keys) == "q1_pric"
    assert resolve("tfidf", keys) == "tfidf"  # exact beats prefix
    assert resolve("tfidf_regex", keys) == "tfidf_r"
    assert resolve("unknown_query", keys) is None


def test_baseline_rows_cover_live_headliners():
    """Every SAME_PROTOCOL_MS key must still be a bench headliner —
    otherwise the 2x baseline gate silently stops checking that row."""
    import bench

    for name in SAME_PROTOCOL_MS:
        assert name in bench.HEADLINE, f"{name} dropped from bench.HEADLINE"


def test_durable_payload_is_keyed_on_cpus(monkeypatch):
    """A full-core run writes BENCH.json; a control run at fewer cores
    writes BENCH_c{N}.json and leaves the full run's artifact alone."""
    import bench

    nproc = len(os.sched_getaffinity(0))
    for cpus in (None, "", "*", str(nproc)):
        if cpus is None:
            monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
        else:
            monkeypatch.setenv("SPARK_GRAFT_CPUS", cpus)
        assert bench.durable_path() == os.path.join(REPO, "BENCH.json"), cpus
    monkeypatch.setenv("SPARK_GRAFT_CPUS", str(nproc + 4))
    assert bench.durable_path() == os.path.join(REPO, f"BENCH_c{nproc + 4}.json")
    assert bench.durable_path("8") == os.path.join(
        REPO, "BENCH.json" if nproc == 8 else "BENCH_c8.json"
    )


def test_load_rejects_parsed_null_snapshot(tmp_path):
    """A driver wrapper with parsed: null (BENCH_r03.json's committed
    shape) must raise a clear ValueError, not a KeyError traceback."""
    import json

    p = tmp_path / "BENCH_rX.json"
    p.write_text(json.dumps({"parsed": None, "raw": "..."}))
    with pytest.raises(ValueError, match="unusable bench snapshot"):
        load(str(p))


def test_collision_truncated_key_is_skipped_for_all_claimants(tmp_path):
    """A 7-char truncation collision leaves the first member with the
    clean prefix; that key must not be attributed to ANY full name
    (round 9: 'cogroup' = customer_orders 36 ms was matched against the
    nation CoGBK's 372 ms, fabricating a 10x flag)."""
    import json
    import subprocess

    old = tmp_path / "BENCH_r97.json"
    old.write_text(
        json.dumps(
            {
                "queries_unit": "ms",
                "queries": {"cogroup": 36, "cogro2": 301, "wordcou": 22,
                            "q1_pric": 30, "q3_join": 43, "tfidf": 180,
                            "topk_pe": 27},
            }
        )
    )
    new = tmp_path / "BENCH_r98.json"
    new.write_text(
        json.dumps(
            {
                "metric": "headline_queries_warm_total",
                "value": 1.0,
                "unit": "sec",
                "queries": {
                    "cogroup_customer_orders": 0.036,
                    "cogroup_nation_customer_supplier": 0.372,
                    "wordcount": 0.022,
                    "q1_pricing_summary": 0.030,
                    "q3_join_agg": 0.043,
                    "tfidf": 0.180,
                    "topk_per_group": 0.027,
                },
            }
        )
    )
    proc = subprocess.run(
        [sys.executable, os.path.join(REPO, "tools", "compare_bench.py"),
         str(new), str(old)],
        capture_output=True,
        text=True,
        timeout=60,
    )
    # both cogroup_* rows must be "(new this round)" — neither compared
    # against the ambiguous truncated key — and nothing may flag
    assert proc.stdout.count("(new this round)") == 2, proc.stdout
    assert "cogroup_nation_customer_supplier" in proc.stdout
    assert proc.returncode == 0, proc.stdout


def test_latest_scaling_artifact_clean():
    """Scaling-ledger gate (VERDICT r9 #2): the newest committed
    SCALING_r*.json must carry the throughput column and zero flags —
    superlinear, failed_at_top_scale, or family-relative
    throughput_outlier. This is the automatic form of the audit that
    caught the q18 join, the intra-doc-trim constant, and the minhash
    verify constant by hand. Pure JSON read, no Spark."""
    arts = sorted(glob.glob(os.path.join(REPO, "SCALING_r*.json")))
    # gate only artifacts in the round-10+ format (ms_per_krow present):
    # SCALING_r09_sf10.json predates the column and carries the
    # session_windows flag the round-9 judge investigated and cleared
    # in isolation (VERDICT r9) — historical record, not a live gate.
    arts = [
        a
        for a in arts
        if any("ms_per_krow" in r for r in json.load(open(a)).values())
    ]
    if not arts:
        pytest.skip("no throughput-format SCALING_r*.json artifacts yet")
    latest = arts[-1]
    with open(latest) as fh:
        report = json.load(fh)
    assert report, f"{latest} is empty"
    flagged = {
        name: [
            k
            for k in ("superlinear", "failed_at_top_scale", "throughput_outlier")
            if row.get(k)
        ]
        for name, row in report.items()
        if any(
            row.get(k)
            for k in ("superlinear", "failed_at_top_scale", "throughput_outlier")
        )
    }
    assert not flagged, f"{os.path.basename(latest)} has flags: {flagged}"
    # the ms_per_krow column exists from round 10 on; once any row has
    # it, every measured row must (no silent partial coverage)
    if any("ms_per_krow" in row for row in report.values()):
        missing = [
            name
            for name, row in report.items()
            if "ms_per_krow" not in row and any((row.get("ms") or {}).values())
        ]
        assert not missing, f"rows without ms_per_krow: {missing}"



def test_expand_short_keys_roundtrip():
    """Contract-line truncated keys — including collision-suffixed ones —
    must expand back to exactly the HEADLINE full names (VERDICT r9 #4:
    suffixed keys were skipped, dropping headliners from the
    comparison)."""
    import bench
    from tools.compare_bench import _expand_short_keys

    keymap = bench.short_keys(list(bench.HEADLINE))
    assert len(set(keymap.values())) == len(bench.HEADLINE)
    payload = {
        "queries": {s: 1.0 for s in keymap.values()},
        "queries_unit": "ms",
    }
    out = _expand_short_keys(payload)
    assert out.get("expanded_short_keys") is True
    assert set(out["queries"]) == set(bench.HEADLINE)
    # a foreign roster (one key missing) must NOT be partially expanded
    partial = {"queries": dict(list(payload["queries"].items())[:-1]),
               "queries_unit": "ms"}
    out2 = _expand_short_keys(partial)
    assert "expanded_short_keys" not in out2


def test_throughput_baseline_excludes_pinned_flat_rows():
    """Round-10 fix for the scaling sweep's family-baseline blind spot:
    rows whose warm time does NOT track input scale (pinned-aggregate
    warm paths, top-decade slope ~0) must not define the family
    throughput baseline — a curation2 median set by six flat ~50 ms rows
    made BOTH members doing real per-row kernel work read as ~30x false
    outliers (edit_distance_near_dups 32.2x, pii_redaction 27.6x). Every
    row is still judged; genuine outliers among scale-tracking rows must
    still flag."""
    from tools.measure_scaling import apply_throughput_flags

    def row(v_krow, slope):
        return {"ms_per_krow": {"1.0": v_krow}, "slope_01_to_1": slope}

    fams = {}
    report = {}
    # curation2: six pinned-flat rows (tiny flat ms -> tiny ms_per_krow)
    # plus two real-kernel rows ~30x above the flat median but mutually
    # consistent — the round-10 false-flag shape.
    for i in range(6):
        name = f"flat{i}"
        report[name] = row(1.0 + 0.1 * i, 0.02)
        fams[name] = "curation2"
    report["edit_distance"] = row(30.0, 1.07)
    report["pii_redaction"] = row(28.0, 0.95)
    fams["edit_distance"] = fams["pii_redaction"] = "curation2"
    # dedup: three healthy tracking rows and one genuine 11x outlier
    for name, v in [("d1", 25.0), ("d2", 32.0), ("d3", 27.0)]:
        report[name] = row(v, 0.8)
        fams[name] = "dedup"
    report["runaway"] = row(300.0, 1.2)
    fams["runaway"] = "dedup"

    n = apply_throughput_flags(
        report, top_key="1.0", slope_key="slope_01_to_1", fam_of=fams.get
    )

    # membership: only scale-tracking rows define baselines
    assert not report["flat0"]["throughput_baseline_member"]
    assert report["edit_distance"]["throughput_baseline_member"]
    # the two real-kernel curation2 rows are NOT outliers any more
    # (family has <3 tracking members -> global tracking median applies)
    assert "throughput_outlier" not in report["edit_distance"]
    assert "throughput_outlier" not in report["pii_redaction"]
    assert report["edit_distance"]["throughput_vs_family_median"] < 8
    # flat rows are still judged (ratio far below 1) and never flag
    assert report["flat0"]["throughput_vs_family_median"] < 1
    assert "throughput_outlier" not in report["flat0"]
    # a genuine outlier among tracking rows still flags
    assert report["runaway"].get("throughput_outlier") is True
    assert n == 1


def test_stall_cluster_advisory_keeps_flags(tmp_path):
    """Round-10 noise-model note: when a mid-run host stall inflates a
    cluster of queries by a common factor, compare_bench must SAY so
    (the bimodal-weather signature) while keeping the flags and the
    non-zero exit — a shared-helper code regression produces the same
    shape, so the gate must not auto-dismiss it."""
    mk = lambda qs: {"queries": qs, "queries_unit": "ms", "sf": 0.1}
    steady = {f"steady{i}": 100.0 for i in range(6)}
    old = tmp_path / "old.json"
    new = tmp_path / "new.json"
    old.write_text(json.dumps(mk({**steady, **{f"stall{i}": 100.0 for i in range(6)}})))
    new.write_text(
        json.dumps(mk({**steady, **{f"stall{i}": 400.0 for i in range(6)}}))
    )
    proc = subprocess.run(
        [sys.executable, os.path.join(REPO, "tools", "compare_bench.py"),
         str(new), str(old)],
        capture_output=True,
        text=True,
        timeout=60,
    )
    assert proc.returncode == 1, proc.stdout  # flags kept
    assert proc.stdout.count("REGRESSED") == 6, proc.stdout
    assert "host stall" in proc.stdout, proc.stdout


def test_stall_advisory_cites_offset_window_and_sentinel_drift(tmp_path):
    """Round 11 (VERDICT r10 #3): with per-query warm start offsets in
    the durable payload, the stall advisory must cite the cluster's time
    window; an end-of-run sentinel far off its own warm median must be
    called out as head/tail weather drift."""
    steady = {f"steady{i}": 100.0 for i in range(6)}
    stall = {f"stall{i}": 400.0 for i in range(6)}
    offs = {f"steady{i}": 5.0 * i for i in range(6)}
    offs.update({f"stall{i}": 60.0 + 5.0 * i for i in range(6)})
    old = tmp_path / "old.json"
    new = tmp_path / "new.json"
    old.write_text(json.dumps({
        "queries": {**steady, **{k: 100.0 for k in stall}, "lead": 100.0},
        "queries_unit": "ms", "sf": 0.1,
    }))
    # durable-payload shape: seconds under full names
    new.write_text(json.dumps({
        "queries": {
            **{k: v / 1000.0 for k, v in steady.items()},
            **{k: 0.4 for k in stall},
            "lead": 0.1,
        },
        "warm_offsets": offs,
        "sentinels": {"lead": 0.35},  # 3.5x its warm median
        "sentinel_offsets": {"lead": 120.0},
        "sf": 0.1,
    }))
    proc = subprocess.run(
        [sys.executable, os.path.join(REPO, "tools", "compare_bench.py"),
         str(new), str(old)],
        capture_output=True,
        text=True,
        timeout=60,
    )
    assert proc.returncode == 1, proc.stdout  # flags still kept
    assert "cluster spans bench offsets 60" in proc.stdout, proc.stdout
    assert "sentinel lead" in proc.stdout, proc.stdout
    assert "different host weather" in proc.stdout, proc.stdout
