"""ANCHORS.json + tools/bench_compare.py — the machine-readable bench
regression gate (round-5 judge item 6). Pins: anchors cover the corpus,
the compare exits nonzero on a >2x violation, zero on a clean run, and
unanchored queries are informational only."""

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TOOL = os.path.join(REPO, "tools", "bench_compare.py")


def _run(bench: dict, tmp_path, extra=()):
    p = tmp_path / "bench.json"
    p.write_text(json.dumps(bench))
    return subprocess.run([sys.executable, TOOL, str(p), *extra],
                          capture_output=True, text=True)


def test_anchors_cover_registered_corpus():
    anchors = json.load(open(os.path.join(REPO, "ANCHORS.json")))
    sys.path.insert(0, REPO)
    from quantum_rag_data_pipeline_spark.queries import QUERIES

    missing = [n for n in QUERIES if n not in anchors]
    # every registered query has an anchor once it has been benched;
    # allow a small window for queries added mid-round before the next
    # full bench folds them in.
    assert len(missing) <= 10, missing


def test_compare_flags_violation(tmp_path):
    anchors = json.load(open(os.path.join(REPO, "ANCHORS.json")))
    name, anchor = next(iter(anchors.items()))
    # exceed the ratio bar against the EFFECTIVE anchor (max(recorded,
    # 1.0 s) — the round-10 anchor-floor policy) plus the min-delta floor
    eff = max(anchor, 1.0)
    r = _run({"sf": 0.1, "queries": {name: eff * 3 + 1.0}}, tmp_path)
    assert r.returncode == 1
    assert "VIOLATION" in r.stdout and name in r.stdout


def test_compare_delta_floor_suppresses_noise(tmp_path):
    """A sub-second 2x exceedance within the min-delta floor is jitter,
    not a regression (round-6 measured) — the gate must stay green. The
    fixture anchor must sit in [0.4, 0.9]: below that, +0.4 s over the
    floor is >8x RAW and the catastrophic raw-factor bar correctly
    fires instead (separate test below)."""
    anchors = json.load(open(os.path.join(REPO, "ANCHORS.json")))
    name = next((n for n, a in anchors.items() if 0.4 <= a <= 0.9), None)
    if name is None:
        import pytest
        pytest.skip("no 0.4-0.9s anchor in ANCHORS.json")
    eff = max(anchors[name], 1.0)
    r = _run({"sf": 0.1, "queries": {name: eff + 0.4}}, tmp_path)
    assert r.returncode == 0
    r2 = _run({"sf": 0.1, "queries": {name: eff + 0.4}}, tmp_path,
              extra=["--min-delta", "0.1"])
    assert (r2.returncode == 1) == (eff + 0.4 > 2.0 * eff)


def test_compare_anchor_floor_policy(tmp_path):
    """Round-10 anchor-floor policy: a sub-second recorded anchor is an
    era artifact (JIT-hot mid-bench position); the gate judges against
    max(recorded, 1.0 s). 1.9 s vs a 0.5 s recorded anchor is 3.8x raw
    but must NOT violate (1.9 < 2 x 1.0); with --anchor-floor 0 the old
    raw behavior is restored and the same timing violates."""
    # bench_compare reads ANCHORS.json from the repo root, so drive the
    # test through a real sub-second anchor from that file — in the
    # 0.4-0.9 band, where 1.9 s stays under the 8x raw-factor bar.
    anchors = json.load(open(os.path.join(REPO, "ANCHORS.json")))
    sub = next((n for n, a in anchors.items() if 0.4 <= a < 0.9), None)
    if sub is None:
        import pytest
        pytest.skip("no 0.4-0.9s anchor in ANCHORS.json")
    r = _run({"sf": 0.1, "queries": {sub: 1.9}}, tmp_path)
    assert "VIOLATION" not in r.stdout and r.returncode == 0
    r2 = _run({"sf": 0.1, "queries": {sub: 1.9}}, tmp_path,
              extra=["--anchor-floor", "0"])
    assert (r2.returncode == 1) == (1.9 > 2.0 * anchors[sub]
                                    and 1.9 - anchors[sub] > 0.5)


def test_compare_clean_and_unanchored(tmp_path):
    anchors = json.load(open(os.path.join(REPO, "ANCHORS.json")))
    name, anchor = next(iter(anchors.items()))
    r = _run({"sf": 0.1, "queries": {name: anchor * 1.5,
                                     "brand_new_query": 9.9}}, tmp_path)
    assert r.returncode == 0
    assert "NO-ANCHOR brand_new_query" in r.stdout


def test_compare_factor_flag(tmp_path):
    anchors = json.load(open(os.path.join(REPO, "ANCHORS.json")))
    name, anchor = next(iter(anchors.items()))
    eff = max(anchor, 1.0)  # round-10 anchor-floor policy
    r = _run({"sf": 0.1, "queries": {name: eff * 1.5 + 1.0}}, tmp_path,
             extra=["--factor", "1.2"])
    assert r.returncode == 1


def test_compare_integer_flag_value_not_eaten_as_path(tmp_path):
    """Round-6 advisor: `--factor 2` stringified to '2.0' so the raw '2'
    survived arg-stripping and was treated as the bench path (exit 2).
    argparse now owns the parse — an integer-literal flag value must
    neither break the parse nor displace the bench path."""
    anchors = json.load(open(os.path.join(REPO, "ANCHORS.json")))
    name, anchor = next(iter(anchors.items()))
    r = _run({"sf": 0.1, "queries": {name: anchor}}, tmp_path,
             extra=["--factor", "2"])
    assert r.returncode == 0, r.stdout + r.stderr
    r2 = _run({"sf": 0.1, "queries": {name: max(anchor, 1.0) * 3 + 2.0}},
              tmp_path, extra=["--factor", "2", "--min-delta", "1"])
    assert r2.returncode == 1, r2.stdout + r2.stderr


def test_compare_warn_tier_does_not_fail_gate(tmp_path):
    """Drift between warn-factor and factor prints a WARNING (so the
    anchor-drift watch list is machine-visible) but exits 0. Fixture
    anchor in the 0.4-0.9 band so the 2.8 s timing stays under the 8x
    raw-factor bar (which is a violation tier by design)."""
    anchors = json.load(open(os.path.join(REPO, "ANCHORS.json")))
    name = next((n for n, a in anchors.items() if 0.4 <= a <= 0.9), None)
    if name is None:
        import pytest
        pytest.skip("no 0.4-0.9s anchor in ANCHORS.json")
    eff = max(anchors[name], 1.0)  # round-10 anchor-floor policy
    r = _run({"sf": 0.1, "queries": {name: eff * 1.8 + 1.0}}, tmp_path,
             extra=["--warn-factor", "1.5", "--factor", "99"])
    assert r.returncode == 0
    assert "WARNING" in r.stdout and name in r.stdout


def test_compare_raw_factor_catches_catastrophic_subfloor_regression(tmp_path):
    """The anchor floor must not hide a catastrophic regression of a
    genuinely sub-second query: 1.9 s vs a 0.07 s-class anchor passes
    the floored 2x bar but trips the raw-factor bar (>8x raw anchor and
    >1 s over it)."""
    anchors = json.load(open(os.path.join(REPO, "ANCHORS.json")))
    sub = next((n for n, a in anchors.items() if a < 0.2), None)
    if sub is None:
        import pytest
        pytest.skip("no <0.2s anchor in ANCHORS.json")
    r = _run({"sf": 0.1, "queries": {sub: 1.9}}, tmp_path)
    assert r.returncode == 1 and "VIOLATION" in r.stdout
    # a mild drift on the same query stays within the floored gate
    r2 = _run({"sf": 0.1, "queries": {sub: 0.9}}, tmp_path)
    assert r2.returncode == 0


def test_compare_subfloor_drift_is_visible_but_informational(tmp_path):
    """Round-10 advisor: the anchor floor plus the 8x raw tier left a
    detection gap — a 0.9 s-anchored query regressing to ~1.9 s trips
    no tier at all, so sub-floor drift of that class was invisible. It
    now prints a DRIFT line judged vs the RAW anchor (2x + min-delta)
    but never fails the gate and is counted apart from WARNING."""
    anchors = json.load(open(os.path.join(REPO, "ANCHORS.json")))
    sub = next((n for n, a in anchors.items() if 0.4 <= a <= 0.7), None)
    if sub is None:
        import pytest
        pytest.skip("no 0.4-0.7s anchor in ANCHORS.json")
    # 1.5 s: > 2x raw and > min-delta over raw for any 0.4-0.7 anchor,
    # yet under the floored 2x bar (< 2.0 s) and the 8x raw tier
    r = _run({"sf": 0.1, "queries": {sub: 1.5}}, tmp_path,
             extra=["--warn-factor", "99"])
    assert r.returncode == 0, r.stdout + r.stderr
    assert "DRIFT" in r.stdout and sub in r.stdout
    # within 2x of raw: no drift line either
    r2 = _run({"sf": 0.1, "queries": {sub: anchors[sub] * 1.5}}, tmp_path)
    assert "DRIFT" not in r2.stdout and r2.returncode == 0


def test_override_expiry_warns_and_never_fails(tmp_path):
    """Round-10 judge item 4: every OVERRIDES entry's removal condition
    ("remove if a future full bench records <= the displaced minimum
    its prose names, recorded in REMOVAL_THRESHOLDS") is machine-
    checked per compare run. A run at the threshold prints
    OVERRIDE-EXPIRED (exit still 0 — warning, not gate); a run above
    it stays silent; a warm-retry minimum is not accepted as evidence
    (same policy as anchor adoption). Round 11: the condition compares
    against the EXPLICIT documented threshold, not collect()'s raw
    min-of-history — for queries whose historical runs were all
    warm-retry minima, the reconstruction's only raw record is the run
    being judged, which made the old uniform rule expire overrides on
    every run (false positive caught on the first real bench)."""
    sys.path.insert(0, os.path.join(REPO, "tools"))
    import bench_anchors

    if not bench_anchors.OVERRIDES:
        import pytest
        pytest.skip("no live OVERRIDES to audit")
    # every override must carry its documented removal threshold
    assert set(bench_anchors.OVERRIDES) == set(
        bench_anchors.REMOVAL_THRESHOLDS)
    name = next(iter(sorted(bench_anchors.OVERRIDES)))
    thr = bench_anchors.REMOVAL_THRESHOLDS[name]
    hit = _run({"sf": 0.1, "queries": {name: thr}}, tmp_path)
    assert hit.returncode == 0, hit.stdout + hit.stderr
    assert f"OVERRIDE-EXPIRED {name}" in hit.stdout
    miss = _run({"sf": 0.1, "queries": {name: thr + 0.5}}, tmp_path)
    assert "OVERRIDE-EXPIRED" not in miss.stdout
    warm = _run({"sf": 0.1, "queries": {name: thr},
                 "warm_retry_minima": [name]}, tmp_path)
    assert "OVERRIDE-EXPIRED" not in warm.stdout

    # unit-level: the helper reports (name, current, threshold) triples
    got = bench_anchors.expired_overrides(
        {"queries": {name: thr - 0.01}})
    assert (name, round(thr - 0.01, 3), thr) in [
        (n, round(c, 3), r) for n, c, r in got]


def test_round_gate_rejects_unknown_skip_flags():
    """A typo like --skip-benchh must error out, not silently run the
    10-minute gate it meant to skip; --skip-bench implies skipping
    compare (it would judge a stale BENCH_FULL.json)."""
    tool = os.path.join(REPO, "tools", "round_gate.py")
    r = subprocess.run([sys.executable, tool, "--skip-benchh"],
                       capture_output=True, text=True)
    assert r.returncode == 2 and "unknown gate" in r.stdout
    r2 = subprocess.run([sys.executable, tool, "oops"],
                        capture_output=True, text=True)
    assert r2.returncode == 2 and "unknown argument" in r2.stdout


def test_gen_scaledata_rejects_label_colliding_tiles():
    """--tiles 15 would derive the same sf1fresh* labels as tiles=10 and
    silently overwrite the canonical 10x controls — must be rejected."""
    tool = os.path.join(REPO, "tools", "gen_scaledata.py")
    r = subprocess.run([sys.executable, tool, "--fresh-events",
                        "--tiles", "15"], capture_output=True, text=True)
    assert r.returncode != 0 and "multiple of 10" in (r.stdout + r.stderr)


def test_anchor_eras_sidecar_covers_anchors():
    """Round-13 judge item 3: ANCHOR_ERAS.json stamps every anchor with
    the source record that set its minimum and (when the record carries
    one) that run's era vector. The sidecar must cover ANCHORS.json
    exactly and agree on the values — ANCHORS.json itself stays the flat
    {query: seconds} contract its three consumers read."""
    anchors = json.load(open(os.path.join(REPO, "ANCHORS.json")))
    eras = json.load(open(os.path.join(REPO, "ANCHOR_ERAS.json")))
    assert set(eras) == set(anchors)
    for name, a in anchors.items():
        assert abs(eras[name]["anchor_s"] - a) < 1e-9, name
        assert "src" in eras[name] and "era" in eras[name]


def test_compare_prints_anchor_era_delta_on_violation(tmp_path):
    """Round-13 judge item 3 (the Done criterion): a violation whose
    anchor carries an era stamp gets a sub-line with the per-dimension
    run-vs-anchor-run era ratios, degraded dims marked '<<'; an
    unstamped anchor gets an explicit 'unrecorded' line. Uses a private
    repo copy of nothing — bench_compare reads ANCHOR_ERAS.json from
    the repo root, so the test picks a real anchored query and relies
    only on line SHAPE, not specific values."""
    anchors = json.load(open(os.path.join(REPO, "ANCHORS.json")))
    eras = json.load(open(os.path.join(REPO, "ANCHOR_ERAS.json")))
    name = next(iter(anchors))
    eff = max(anchors[name], 1.0)
    bench = {"sf": 0.1, "queries": {name: eff * 3 + 1.0},
             "era_probe": {"pre": {"fault_gbps": 1.0, "cpu_gflops": 900.0,
                                   "cpu_gflops_min": 20.0,
                                   "disk_wgbps": 0.3}}}
    r = _run(bench, tmp_path)
    assert r.returncode == 1 and "VIOLATION" in r.stdout
    if eras[name].get("era"):
        assert "anchor-era [" in r.stdout and "run vs anchor-run" in r.stdout
    else:
        assert "anchor-era: unrecorded" in r.stdout


def test_era_dims_min_takes_worst_side():
    """era_dims_min is the conservative per-dimension MIN over the
    pre/post probe pair — the 'worst era seen during the run' reading
    both the stamping and the compare sub-line use."""
    sys.path.insert(0, os.path.join(REPO, "tools"))
    import bench_anchors

    pair = {"pre": {"fault_gbps": 1.2, "disk_wgbps": 0.4},
            "post": {"fault_gbps": 0.8, "disk_wgbps": 0.5,
                     "cpu_gflops": 900.0}}
    got = bench_anchors.era_dims_min(pair)
    assert got == {"fault_gbps": 0.8, "disk_wgbps": 0.4,
                   "cpu_gflops": 900.0}
    assert bench_anchors.era_dims_min(None) == {}
    # single-sided probe (no pre/post nesting) is accepted as-is
    assert bench_anchors.era_dims_min(
        {"disk_wgbps": 0.2})["disk_wgbps"] == 0.2


def test_round_gate_current_round_from_progress():
    """round_gate versions its bench snapshot by the driver's round
    counter; the PROGRESS.jsonl tail is the source of truth."""
    sys.path.insert(0, os.path.join(REPO, "tools"))
    import round_gate

    n = round_gate.current_round()
    assert isinstance(n, int) and n >= 13


def test_compare_era_sensitivity_fallback(tmp_path):
    """Round-13: when a violating query's anchor era is unrecorded but
    its binding mechanism is tagged in ERA_SENSITIVITY, the sub-line
    names the mechanism and compares the run's probe against the
    healthy reference for that dimension."""
    sys.path.insert(0, os.path.join(REPO, "tools"))
    import bench_anchors

    anchors = json.load(open(os.path.join(REPO, "ANCHORS.json")))
    eras = json.load(open(os.path.join(REPO, "ANCHOR_ERAS.json")))
    name = next((n for n in bench_anchors.ERA_SENSITIVITY
                 if n in anchors and not (eras.get(n) or {}).get("era")),
                None)
    if name is None:
        import pytest
        pytest.skip("every tagged query's anchor already carries an era")
    dim = bench_anchors.ERA_SENSITIVITY[name]
    eff = max(anchors[name], 1.0)
    bench = {"sf": 0.1, "queries": {name: eff * 3 + 1.0},
             "era_probe": {"pre": {dim: 0.1}}}
    r = _run(bench, tmp_path)
    assert r.returncode == 1
    assert f"{dim}-bound query" in r.stdout and "healthy ref" in r.stdout


def test_gate_snapshot_rotates_superseded_runs(tmp_path):
    """Round-13: a repeated in-round gate must ROTATE the previous
    snapshot to an indexed name (its minima + era stamps keep feeding
    the ratchet), never overwrite it; the unsuffixed file is always the
    latest run. A stale BENCH_FULL.json (older than the gate's start)
    must not be re-snapshotted."""
    import time as _time

    sys.path.insert(0, os.path.join(REPO, "tools"))
    import round_gate

    repo = str(tmp_path)
    full = tmp_path / "BENCH_FULL.json"
    # the snapshot must be versioned by the TARGET repo's round counter
    # (round-13 advisor: it used to read the module-level repo's, and
    # this test only passed because the tmp repo mirrored its number)
    (tmp_path / "PROGRESS.jsonl").write_text('{"round": 42}\n')
    n = round_gate.current_round(repo)
    assert n == 42
    base = tmp_path / f"BENCH_GATE_r{n:02d}.json"

    full.write_text('{"run": 1}')
    t0 = _time.time() - 60  # bench "started" a minute ago
    p1 = round_gate.snapshot_gate_bench(t0, repo=repo)
    assert p1 == str(base) and base.read_text() == '{"run": 1}'

    full.write_text('{"run": 2}')
    p2 = round_gate.snapshot_gate_bench(t0, repo=repo)
    assert p2 == str(base) and base.read_text() == '{"run": 2}'
    rotated = tmp_path / f"BENCH_GATE_r{n:02d}.1.json"
    assert rotated.read_text() == '{"run": 1}'

    full.write_text('{"run": 3}')
    round_gate.snapshot_gate_bench(t0, repo=repo)
    assert (tmp_path / f"BENCH_GATE_r{n:02d}.2.json").read_text() == '{"run": 2}'
    assert base.read_text() == '{"run": 3}'

    # stale source: mtime before the gate started -> no snapshot
    assert round_gate.snapshot_gate_bench(_time.time() + 60, repo=repo) is None


def test_local_era_brackets_query_position():
    """Round-14 mid-run probes: a query at run index i is attributed
    the per-dim MIN of the last probe at-or-before it and the first
    probe after it — not the whole run's min."""
    sys.path.insert(0, os.path.join(REPO, "tools"))
    import bench_anchors

    seq = [f"q{i}" for i in range(6)]
    timeline = [
        {"n_done": 0, "probe": {"disk_wgbps": 0.5, "fault_gbps": 1.0}},
        {"n_done": 3, "probe": {"disk_wgbps": 0.05, "fault_gbps": 1.1}},
        {"n_done": 6, "probe": {"disk_wgbps": 0.4, "fault_gbps": 0.9}},
    ]
    # q1 (index 1) ran between n=0 and n=3 probes
    got = bench_anchors.local_era("q1", timeline, seq)
    assert got["disk_wgbps"] == 0.05 and got["fault_gbps"] == 1.0
    # q4 (index 4) ran between n=3 and n=6 — its bracket includes the
    # degraded n=3 reading but NOT the healthy n=0 one
    got = bench_anchors.local_era("q4", timeline, seq)
    assert got["disk_wgbps"] == 0.05 and got["fault_gbps"] == 0.9
    # q2 (index 2) completed exactly AT the n=3 probe: bracket = [0, 3]
    got = bench_anchors.local_era("q2", timeline, seq)
    assert got == {"disk_wgbps": 0.05, "fault_gbps": 1.0}
    # pre-timeline records and unknown names fall back to {}
    assert bench_anchors.local_era("q1", None, seq) == {}
    assert bench_anchors.local_era("nope", timeline, seq) == {}


def test_compare_cites_segment_era(tmp_path):
    """Round-14: with a timeline in the dump, a violation's era
    sub-line compares against the query's LOCAL bracketing window and
    says 'segment', and the header carries the per-probe era-timeline
    summary — a degraded window inside an otherwise-healthy run labels
    only the queries that ran inside it."""
    sys.path.insert(0, os.path.join(REPO, "tools"))
    import bench_anchors

    anchors = json.load(open(os.path.join(REPO, "ANCHORS.json")))
    name = next((n for n in bench_anchors.ERA_SENSITIVITY if n in anchors),
                None)
    assert name is not None
    dim = bench_anchors.ERA_SENSITIVITY[name]
    eff = max(anchors[name], 1.0)
    healthy = dict(bench_anchors.ERA_REF)
    degraded = {**healthy, dim: healthy[dim] / 10.0}
    bench = {
        "sf": 0.1,
        "queries": {name: eff * 3 + 1.0},
        "query_seq": [name],
        # run probes healthy on both global sides; the degraded reading
        # sits INSIDE the query's bracket, so only the local view sees it
        "era_probe": {"pre": healthy, "post": healthy},
        "era_timeline": [{"n_done": 0, "probe": degraded},
                         {"n_done": 1, "probe": healthy}],
    }
    r = _run(bench, tmp_path)
    assert r.returncode == 1
    assert "era-timeline:" in r.stdout
    assert f"n=0 {dim}" in r.stdout and "n=1 ok" in r.stdout
    # the sub-line must cite the segment-scoped value (0.10x of ref)
    assert "segment" in r.stdout


def test_round_gate_current_round_reads_target_repo(tmp_path):
    """current_round(repo) must read the GIVEN repo's counters, not the
    module-level one (round-13 advisor item)."""
    sys.path.insert(0, os.path.join(REPO, "tools"))
    import round_gate

    (tmp_path / "PROGRESS.jsonl").write_text(
        '{"round": 7}\n{"round": 9}\n')
    assert round_gate.current_round(str(tmp_path)) == 9
    # fallback: no PROGRESS.jsonl -> max CORRECTNESS_r*.json + 1
    other = tmp_path / "other"
    other.mkdir()
    (other / "CORRECTNESS_r05.json").write_text("{}")
    assert round_gate.current_round(str(other)) == 6
    # early-round window (round-14): heartbeats lag the boundary by up
    # to ~15 min, so the round-close CORRECTNESS ledger must win when
    # it is ahead of the last heartbeat — else a gate snapshot rotates
    # the PREVIOUS round's committed artifact aside
    (other / "PROGRESS.jsonl").write_text('{"round": 5}\n')
    assert round_gate.current_round(str(other)) == 6
    (other / "PROGRESS.jsonl").write_text('{"round": 8}\n')
    assert round_gate.current_round(str(other)) == 8


def test_bench_full_provenance_marked_ephemeral():
    """Round-13 advisor: an ANCHOR_ERAS stamp citing the gitignored,
    per-round-overwritten BENCH_FULL.json must say so — a bare
    'BENCH_FULL.json' src reads as a durable citation."""
    sys.path.insert(0, os.path.join(REPO, "tools"))
    import bench_anchors

    prov = bench_anchors.collect_with_provenance()
    bare = [n for n, v in prov.items() if v.get("src") == "BENCH_FULL.json"]
    assert bare == []


def test_baseline_header_block_current_and_complete():
    """Round-14 (r13 judge item 8): BASELINE.md's current-state header
    is generated from the live override/era state and must not drift —
    every standing override appears in the committed block, and a
    refresh is a no-op when the block is current."""
    sys.path.insert(0, os.path.join(REPO, "tools"))
    import baseline_header
    import bench_anchors

    text = open(os.path.join(REPO, "BASELINE.md")).read()
    assert baseline_header.BEGIN in text and baseline_header.END in text
    block = text.split(baseline_header.BEGIN, 1)[1].split(
        baseline_header.END, 1)[0]
    for name in bench_anchors.OVERRIDES:
        assert name in block, f"override {name} missing from header"
    # the committed block matches a fresh render (stale -> exit 1)
    assert baseline_header.refresh(check=True) == 0


def test_round_gate_wait_healthy_needs_consecutive_pair():
    """Round-14: a single healthy probe is not a launch window (the r14
    gate launched on disk 0.43 and the bench's own pre-probe read 0.063
    seconds later). wait_healthy launches only on two CONSECUTIVE
    healthy readings, resets the streak on a degraded one, and falls
    through (False) on budget exhaustion rather than blocking forever."""
    sys.path.insert(0, os.path.join(REPO, "tools"))
    import round_gate

    good = {"disk_wgbps": 0.4, "cpu_gflops_min": 20.0}
    bad = {"disk_wgbps": 0.05, "cpu_gflops_min": 20.0}
    slept = []

    def run(seq, max_minutes=50):
        it = iter(seq)
        return round_gate.wait_healthy(
            max_minutes=max_minutes, poll_s=1,
            probe_fn=lambda: next(it), sleep_fn=slept.append)

    # healthy pair after a degraded start
    assert run([bad, good, good]) is True
    # a lone healthy probe followed by a flip resets the streak
    assert run([good, bad, good, good]) is True
    # missing dim fails closed
    assert not round_gate.probe_is_healthy({"disk_wgbps": 0.4})
    assert not round_gate.probe_is_healthy(
        {"disk_wgbps": None, "cpu_gflops_min": 25.0})
    # budget exhaustion -> False (deadline already passed at entry)
    assert run([bad, bad], max_minutes=0) is False


def _ab():
    sys.path.insert(0, os.path.join(REPO, "tools"))
    import ab

    return ab


def test_ab_verdict_rule():
    """tools/ab.py's verdict: a side is faster only with >= 9/10 pair
    wins AND a median gap wider than A's inter-quartile distance; ties
    count for neither side."""
    verdict = _ab().verdict
    a = [1.00, 1.02, 1.04, 1.06, 1.08, 1.10, 1.12, 1.14, 1.16, 1.18]  # IQR 0.09
    # B wins 9 of 10, medians 1.09 vs 0.79
    b9 = [x - 0.3 for x in a[:9]] + [a[9] + 0.1]
    r = verdict(a, b9)
    assert (r["b_wins"], r["a_wins"], r["verdict"]) == (9, 1, "B faster")
    # B wins 8: not enough pairs, however large the gap
    b8 = [x - 0.3 for x in a[:8]] + [x + 0.1 for x in a[8:]]
    assert verdict(a, b8)["verdict"] == "unresolved"
    # B wins all 10 but by less than A's IQR
    r = verdict(a, [x - 0.05 for x in a])
    assert (r["b_wins"], r["verdict"]) == (10, "unresolved")
    # a tied pair counts for neither side: 9 wins + 1 tie is still 9/10
    tie = [x - 0.3 for x in a[:9]] + [a[9]]
    r = verdict(a, tie)
    assert (r["b_wins"], r["a_wins"], r["verdict"]) == (9, 0, "B faster")
    # ...and 8 wins + 2 ties is not enough
    r = verdict(a, [x - 0.3 for x in a[:8]] + a[8:])
    assert (r["b_wins"], r["a_wins"], r["verdict"]) == (8, 0, "unresolved")
    # the mirror: A wins 9 and B's median is above A's by more than the IQR
    r = verdict(a, [x + 0.3 for x in a[:9]] + [a[9] - 0.1])
    assert (r["a_wins"], r["verdict"]) == (9, "B slower")


def test_ab_arms_are_isolated(sf_dir):
    """Two pairs of `ab.py HEAD .+spark.sql.shuffle.partitions=3`: order
    alternates, the HEAD child imports the package from its temporary
    worktree and the `.` child from the repo, the conf reaches only its
    arm, every timed build records its py4j round trips, each arm
    records the operators of its final adaptive plan apart from its
    initial plan, the result hashes match, and no worktree outlives the
    run."""
    def worktrees():
        return subprocess.run(["git", "-C", REPO, "worktree", "list", "--porcelain"],
                              capture_output=True, text=True, check=True).stdout

    before = worktrees()
    r = subprocess.run(
        [sys.executable, os.path.join(REPO, "tools", "ab.py"), "HEAD",
         ".+spark.sql.shuffle.partitions=3", "j2_join_agg", "--pairs", "2"],
        env={**os.environ, "SPARK_GRAFT_SF_DIR": sf_dir},
        capture_output=True, text=True, timeout=900)
    assert r.returncode == 0, r.stderr[-2000:]
    rec = json.loads(r.stdout.strip().splitlines()[-1])
    assert worktrees() == before
    assert [p["order"] for p in rec["pairs"]] == [["A", "B"], ["B", "A"]]
    head_root = rec["roots"]["A"]
    assert not os.path.exists(head_root)
    assert os.path.commonpath([head_root, REPO]) != REPO
    for p in rec["pairs"]:
        assert p["A"]["package"] == os.path.join(head_root, "quantum_rag_data_pipeline_spark")
        assert p["B"]["package"] == os.path.join(REPO, "quantum_rag_data_pipeline_spark")
        assert p["A"]["conf"] == {}
        assert p["B"]["conf"] == {"spark.sql.shuffle.partitions": "3"}
        assert set(p["era"]) >= {"fault_gbps", "cpu_gflops", "disk_wgbps"}
        assert all(r["build_py4j"] > 0 for s in "AB" for r in p[s]["queries"]["j2_join_agg"]["runs"])
        for s in "AB":
            rec_s = p[s]["queries"]["j2_join_agg"]
            # query stages exist only once adaptive execution has run
            assert not any(op.endswith("QueryStage") for op in rec_s["plan"])
            assert rec_s["final_plan"].get("ShuffleQueryStage", 0) >= 1
            assert rec_s["final_plan"]["Scan parquet"] == rec_s["plan"]["Scan parquet"]
    q = rec["queries"]["j2_join_agg"]
    assert q["errors"] == [] and q["hash_match"] is True
    assert q["pairs"] == 2 and q["verdict"] in {"B faster", "B slower", "unresolved"}
    assert isinstance(q["final_plan_diff"], dict)
