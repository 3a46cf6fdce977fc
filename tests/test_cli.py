"""CLI parity tests — the reference's ``main`` (Predictor.scala:424-432)
as ``python -m apache_spark_link_prediction_spark``, driven end-to-end
over reference-format fixture files (quoted headerless CSV, space- and
tab-separated edge lists per FIXTURES.md §1)."""

from __future__ import annotations

from apache_spark_link_prediction_spark.cli import main

_DOCS = [
    ("1", "1999", "alpha beta", "a, b", "J1", "alpha beta gamma delta epsilon zeta"),
    ("2", "2000", "alpha beta", "a", "J1", "alpha beta gamma delta epsilon zeta"),
    ("3", "2001", "other", "c", "J2", "alpha beta gamma qqq www yyy zzz xxx ppp"),
    ("4", "2002", "noise", "d", "J3", "completely unrelated words appearing nowhere else"),
]


def _write_fixtures(tmp_path):
    node_info = tmp_path / "node_information.csv"
    node_info.write_text(
        "".join(
            f'{i},{y},"{t}","{a}","{j}","{ab}"\n' for i, y, t, a, j, ab in _DOCS
        )
    )
    training = tmp_path / "training_set.txt"
    training.write_text("1 2 1\n1 3 0\n2 3 0\n1 4 0\n")
    testing = tmp_path / "testing_set.txt"
    testing.write_text("1 2\n3 4\n")
    truth = tmp_path / "Cit-HepTh.txt"
    truth.write_text("1\t2\n")
    return node_info, training, testing, truth


def test_cli_p1_prints_reference_metric_lines(spark, tmp_path, capsys):
    node_info, training, testing, truth = _write_fixtures(tmp_path)
    rc = main(
        [
            "p1",
            "--node-info", str(node_info),
            "--training-set", str(training),
            "--testing-set", str(testing),
            "--ground-truth", str(truth),
        ],
        spark=spark,
    )
    out = capsys.readouterr().out
    assert rc == 0
    # Predictor.scala:328-341 output shape
    assert "Threshold: " in out and "Precision: " in out
    assert "F-score: " in out and "Beta = 1" in out
    assert "Best F1: " in out


def test_cli_p2_prints_reference_counts(spark, tmp_path, capsys):
    node_info, _, _, truth = _write_fixtures(tmp_path)
    rc = main(
        [
            "p2",
            "--node-info", str(node_info),
            "--ground-truth", str(truth),
            "--fraction", "1.0",
            "--threshold", "0.9",
        ],
        spark=spark,
    )
    out = capsys.readouterr().out
    assert rc == 0
    # Predictor.scala:420-421 output shape; docs 1+2 are exact dups, the
    # canonical (1,2) pair is in ground truth -> both counts >= 1
    total = int(out.split("Total edges created: ")[1].splitlines()[0])
    correct = int(out.split("Correct edges detected: ")[1].splitlines()[0])
    assert total >= 1 and correct >= 1


def test_cli_p2_reference_mode_runs(spark, tmp_path, capsys):
    node_info, _, _, truth = _write_fixtures(tmp_path)
    rc = main(
        [
            "p2",
            "--node-info", str(node_info),
            "--ground-truth", str(truth),
            "--fraction", "1.0",
            "--mode", "reference",
        ],
        spark=spark,
    )
    assert rc == 0
    assert "Total edges created: " in capsys.readouterr().out



def test_cli_max_iter_and_seed_reach_the_estimators(spark, tmp_path, monkeypatch):
    """``p1 --max-iter`` sets the LR iteration count and ``p2 --seed``
    seeds the MinHashLSH model (the flag is documented as the
    sampling/LSH seed), instead of being parsed and dropped."""
    from apache_spark_link_prediction_spark.plans import p1, p2

    built = {}

    def spy(name, cls):
        def make(**kw):
            built[name] = cls(**kw)
            return built[name]

        return make

    monkeypatch.setattr(p1, "LogisticRegression", spy("lr", p1.LogisticRegression))
    monkeypatch.setattr(p2, "MinHashLSH", spy("lsh", p2.MinHashLSH))
    node_info, training, testing, truth = _write_fixtures(tmp_path)
    common = ["--node-info", str(node_info), "--ground-truth", str(truth), "--seed", "99"]
    assert main(
        ["p1", *common, "--training-set", str(training), "--testing-set", str(testing),
         "--max-iter", "7"],
        spark=spark,
    ) == 0
    assert main(["p2", *common, "--fraction", "1.0", "--threshold", "0.9"], spark=spark) == 0
    assert built["lr"].getMaxIter() == 7
    assert built["lsh"].getSeed() == 99

def test_bench_trips_gate_arithmetic():
    """Pins bench.py's per-query regression-gate predicate: 2× ratio
    AND +2s absolute slack, both required; unrecorded names never trip
    (their first measurement becomes the recorded baseline)."""
    import importlib.util
    import pathlib

    root = pathlib.Path(__file__).resolve().parent.parent
    spec = importlib.util.spec_from_file_location("bench", root / "bench.py")
    bench = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(bench)

    rec = {"fast": 0.5, "slow": 10.0}
    # ratio trips but absolute slack saves the sub-second query
    assert not bench.trips_gate("fast", 1.9, rec)      # 3.8x but +1.4s
    assert bench.trips_gate("fast", 2.6, rec)          # 5.2x and +2.1s
    # absolute excess without the ratio does not trip
    assert not bench.trips_gate("slow", 19.9, rec)     # +9.9s but 1.99x
    assert bench.trips_gate("slow", 22.1, rec)         # 2.21x and +12.1s
    # boundary: exactly 2x / exactly +2s do NOT trip (strict >)
    assert not bench.trips_gate("slow", 20.0, rec)
    assert not bench.trips_gate("fast", 1.0, rec)
    # unrecorded name never trips
    assert not bench.trips_gate("new_row", 1e9, rec)


def test_bench_tier_state_thresholds():
    """Pins bench.py's r16 load-gate retarget (VERDICT r15 item 2): the
    wait loop holds out for a genuinely quiet box (CLEAN_LOAD 0.5, up
    to 600s — the r14/r15 warn_load points ran at load1 3.5, under the
    old REFUSE-only wait trigger), and each tier is graded by the load
    sampled immediately before IT ran: ok <= 2.0 < warn_load <= 4.0 <
    invalid_load; a missing getloadavg grades ok."""
    import importlib.util
    import pathlib

    root = pathlib.Path(__file__).resolve().parent.parent
    spec = importlib.util.spec_from_file_location("bench", root / "bench.py")
    bench = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(bench)

    assert bench.CLEAN_LOAD == 0.5 and bench.LOAD_WAIT_SEC >= 600
    assert bench.tier_state(None) == "ok"
    assert bench.tier_state(0.4) == "ok"
    assert bench.tier_state(2.0) == "ok"          # boundary: strict >
    assert bench.tier_state(3.5) == "warn_load"   # the r14/r15 case
    assert bench.tier_state(4.0) == "warn_load"
    assert bench.tier_state(4.1) == "invalid_load"


def test_sf1_recorded_not_stale():
    """VERDICT r14 item 1: the regression gate's recorded baselines must
    track the shipped plans. Round 14 made four headline queries 2.5-5×
    faster while SF1_RECORDED kept their round-7/10 first measurements,
    so a silent revert to the old sort-merge plans would have passed
    ``regressions_vs_recorded: []``. This pins every recorded value to
    within ~2.2× (plus the gate's own 2s absolute slack for sub-second
    noise) of the median of the last five CLEAN series points
    (series_point_state == "ok" in BENCH_SERIES.jsonl) — a recorded
    value that rots in either direction now fails loudly, round-local.
    """
    import importlib.util
    import json
    import pathlib
    import statistics

    root = pathlib.Path(__file__).resolve().parent.parent
    spec = importlib.util.spec_from_file_location("bench", root / "bench.py")
    bench = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(bench)

    series = root / "BENCH_SERIES.jsonl"
    pts = [json.loads(line) for line in series.open()]
    clean = [p for p in pts if p.get("series_point_state") == "ok"][-5:]
    assert clean, "no clean series points — run bench.py on a quiet box"

    stale = []
    for name, rec in bench.SF1_RECORDED.items():
        vals = [p["queries"][name] for p in clean if name in p.get("queries", {})]
        if not vals:
            continue  # new headline row: first measurement becomes baseline
        med = statistics.median(vals)
        if abs(rec - med) <= 2.0:  # the gate's own absolute-slack floor
            continue
        ratio = max(rec, med) / max(min(rec, med), 1e-9)
        if ratio > 2.2:
            stale.append(f"{name}: recorded {rec} vs clean median {med:.2f}")
    assert not stale, (
        "SF1_RECORDED stale vs the shipped plans — re-pin and era-note "
        "in BASELINE.md: " + "; ".join(stale)
    )


def test_bench_control_drift_grading():
    """Pins bench.py's r18 host-throttle self-certification (VERDICT
    r17 item 1): the 1× tier doubles as an untouched control group —
    the MEDIAN per-query ratio vs the recorded clean band grades the
    point warn_host above HOST_DRIFT_RATIO, but ONLY at the band's
    reference core count (the driver's low-cpu scaling rerun is
    legitimately slower and must not self-flag)."""
    import importlib.util
    import pathlib

    root = pathlib.Path(__file__).resolve().parent.parent
    spec = importlib.util.spec_from_file_location("bench", root / "bench.py")
    bench = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(bench)

    band = bench.SF01_RECORDED
    assert set(band) == set(bench.HEADLINE), "control band must cover headline"
    # clean run: ratios ~1.0 -> no drift
    clean = {n: v * 1.02 for n, v in band.items()}
    ratio, drifted = bench.control_drift(clean, 32)
    assert ratio is not None and ratio < bench.HOST_DRIFT_RATIO and not drifted
    # throttled run: everything 1.5x -> warn_host at the band cpus
    slow = {n: v * 1.5 for n, v in band.items()}
    ratio, drifted = bench.control_drift(slow, 32)
    assert ratio is not None and ratio > bench.HOST_DRIFT_RATIO and drifted
    # same ratios at the driver's 8-core scaling rerun: telemetry only
    ratio8, drifted8 = bench.control_drift(slow, 8)
    assert ratio8 == ratio and not drifted8
    # a genuinely-optimized minority can't mask drift (median, not mean):
    # 5 queries 10x faster, the rest 1.5x slower -> still flagged
    mixed = dict(slow)
    for n in list(band)[:5]:
        mixed[n] = band[n] / 10.0
    _, drifted_mixed = bench.control_drift(mixed, 32)
    assert drifted_mixed
    # nothing to compare -> None, not a crash
    assert bench.control_drift({}, 32) == (None, False)
