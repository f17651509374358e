"""The bench headline line must survive the driver's ~2000-char
stdout tail capture at the CURRENT HEADLINE count — growth past the
budget must be a conscious choice (r12 verdict #7: the line hit
1890/1900 chars and the next entry would have silently degraded every
sub-0.1s query to 1dp zeros; the small-fold tier now absorbs that)."""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import HEADLINE, format_final_line  # noqa: E402


def _line_for(timings: dict[str, float]) -> dict:
    s = format_final_line(
        timings, round(sum(timings.values()), 3), 0.1, 0.612, "32"
    )
    assert len(s) < 1900, len(s)
    return json.loads(s)


def test_final_line_keeps_2dp_at_current_headline_count():
    # worst-plausible magnitudes: every line two-digit seconds (the r12
    # real artifact topped out at 8.35s), plus a spread of sub-0.05s
    # lines that the fold tier may absorb
    timings = {
        name: (0.04 if i % 7 == 0 else 10.0 + i / 100.0)
        for i, name in enumerate(HEADLINE)
    }
    rec = _line_for(timings)
    nd = rec.get("queries_precision", 3)
    assert nd is not None and nd >= 2, (
        "per-query map degraded below 2dp at the current HEADLINE "
        f"count (precision={nd}) — cull lines or raise the budget "
        "consciously"
    )
    # every non-folded query is in the map; folded ones reconcile
    n_map, n_small = len(rec["queries"]), rec.get("small_n", 0)
    assert n_map + n_small == len(HEADLINE)
    if n_small:
        assert rec["small_sec"] >= 0
        assert all(v >= 0.05 for v in rec["queries"].values())


def test_final_line_folds_small_queries_before_dropping_precision():
    # force the 2dp-full tier over budget with a crowd of sub-0.05s
    # long-named lines — the fold must rescue 2dp for the big ones
    timings = {
        f"query_with_a_rather_long_name_{i:03d}": 0.04 for i in range(40)
    }
    timings.update({f"expensive_q_{i:03d}": 10.0 + i for i in range(25)})
    rec = _line_for(timings)
    assert rec.get("small_n") == 40
    assert rec.get("queries_precision", 3) >= 2
    assert len(rec["queries"]) == 25
    # ADVICE r13: the artifact says WHICH fold semantics applied —
    # absolute tiers are exclusive ('lt': every folded value < small_lt)
    assert rec["small_fold"] == "lt"
    assert all(v < rec["small_lt"] for v in (0.04,))


def test_final_line_last_resort_drops_map_but_keeps_value():
    timings = {f"q{i:04d}_{'x' * 40}": 1.234 for i in range(400)}
    rec = _line_for(timings)
    assert rec["queries"] == {} and rec["queries_precision"] is None
    assert rec["value"] == round(sum(timings.values()), 3)


def test_final_line_all_slow_run_folds_by_quantile():
    """An all-slow run (nothing under any absolute fold threshold —
    here every value is identical, so even a strict-below percentile
    cut would catch nothing) must fold the cheapest entries BY RANK
    and ship the expensive tail of the map, instead of jumping from
    2dp-full straight to dropping the map."""
    timings = {
        f"quite_long_query_name_number_{i:03d}": 10.123 for i in range(58)
    }
    rec = _line_for(timings)
    assert rec.get("queries_precision", 3) is not None, "map was dropped"
    n_map, n_small = len(rec["queries"]), rec.get("small_n", 0)
    assert n_map + n_small == 58 and n_map > 0 and n_small > 0
    # the fold reconciles: folded seconds + mapped seconds ≈ value
    assert abs(rec["small_sec"] + sum(rec["queries"].values())
               - rec["value"]) < 0.1 * 58
    assert rec["small_lt"] == 10.123
    # quantile tiers fold BY RANK: small_lt is the inclusive max
    # folded value (kept entries may equal it) — self-described
    assert rec["small_fold"] == "rank"


def test_outlier_rerun_guard_selection():
    """r13 verdict #3: a min-of-reps that exceeds BOTH 2x the previous
    round's recorded value AND the 1 s floor is a re-run candidate;
    missing baselines (new or previously-folded queries) never fire."""
    from bench import is_suspect_timing, rerun_candidates

    prev = {"mmr": 1.91, "cheap": 0.06, "slowish": 3.0}
    timings = {
        "mmr": 12.66,     # the r13 phantom: 6.6x prev -> rerun
        "cheap": 0.49,    # 8x prev but under the 1 s floor -> no
        "slowish": 5.0,   # 1.7x prev -> within noise band -> no
        "brand_new": 9.0, # no baseline -> no
    }
    assert rerun_candidates(timings, prev) == ["mmr"]
    assert rerun_candidates(timings, None) == []
    assert is_suspect_timing(2.4, 1.0) and not is_suspect_timing(1.9, 1.0)
    # floor dominates when the previous value was sub-0.5 s
    assert not is_suspect_timing(0.9, 0.1)
    assert is_suspect_timing(1.1, 0.1)


def test_load_previous_timings_picks_highest_round(tmp_path):
    from bench import load_previous_timings

    (tmp_path / "BENCH_r02.json").write_text(
        json.dumps({"queries": {"a": 1.0}})
    )
    (tmp_path / "BENCH_r11.json").write_text(
        json.dumps({"queries": {"a": 3.5, "b": 0.2}})
    )
    (tmp_path / "BENCH_r12.json").write_text("not json at all")
    assert load_previous_timings(str(tmp_path)) == {"a": 3.5, "b": 0.2}
    assert load_previous_timings(str(tmp_path / "missing")) is None
    # sf-scoped: a baseline recorded at another scale factor is
    # skipped (an sf0.1 artifact says nothing about an sf0.001 run)
    (tmp_path / "BENCH_r13.json").write_text(
        json.dumps({"sf": 0.1, "queries": {"a": 9.9}})
    )
    assert load_previous_timings(str(tmp_path), 0.1) == {"a": 9.9}
    assert load_previous_timings(str(tmp_path), 0.001) is None
    # the DRIVER's artifact shape nests the final line under 'parsed'
    # ({n, rc, cpus, sf, tail, parsed: {...}}) — every real
    # BENCH_r{N}.json looks like this; the guard must read it
    (tmp_path / "BENCH_r14.json").write_text(
        json.dumps(
            {
                "n": 14, "rc": 0, "sf": 0.1, "tail": "...",
                "parsed": {"sf": 0.1, "queries": {"a": 7.7, "c": 1.1}},
            }
        )
    )
    assert load_previous_timings(str(tmp_path), 0.1) == {"a": 7.7, "c": 1.1}
    # one malformed timing value skips THAT artifact, never crashes
    (tmp_path / "BENCH_r15.json").write_text(
        json.dumps({"sf": 0.1, "queries": {"a": None}})
    )
    assert load_previous_timings(str(tmp_path), 0.1) == {"a": 7.7, "c": 1.1}


def test_load_previous_timings_reads_real_artifacts():
    """The guard must actually fire against the repo's own committed
    driver artifacts (the review-caught bug: the real shape nests
    queries under 'parsed', so the top-level read returned None and
    the guard was dead in production)."""
    import os

    from bench import load_previous_timings

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    prev = load_previous_timings(repo, 0.1)
    assert prev, "no baseline parsed from the committed BENCH_r*.json"
    assert all(isinstance(v, float) for v in prev.values())


def test_detail_records_persist_to_bench_detail_path(tmp_path):
    """``BENCH_DETAIL_PATH`` persists the detail records stdout's
    capture tail drops (the executor-time line sits before the long
    rep-samples line); unset or empty writes nothing."""
    from bench import write_detail_records

    records = [
        {"metric_detail": "per_query_executor_task_sec",
         "queries_exec_sec": {"q": 1.25}},
        {"metric_detail": "per_query_rep_samples",
         "queries_reps": {"q": [0.5, 0.4]}, "reps_per_query": 2},
    ]
    out = tmp_path / "detail.json"
    write_detail_records(records, str(out))
    assert json.loads(out.read_text()) == records
    assert [p.name for p in tmp_path.iterdir()] == ["detail.json"]
    write_detail_records(records, None)
    write_detail_records(records, "")
    assert [p.name for p in tmp_path.iterdir()] == ["detail.json"]
