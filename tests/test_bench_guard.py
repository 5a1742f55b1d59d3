"""Bench isolation guard (round-8 verdict item 8): a bench run that
detects a live sibling Spark workload must refuse to append to
BENCH_HISTORY — contaminated records poison every later regression diff
(two were scrubbed from the ledger in round 7)."""

from __future__ import annotations

import importlib.util
import os
import socket


def _bench():
    spec = importlib.util.spec_from_file_location(
        "bench_under_test",
        os.path.join(os.path.dirname(__file__), "..", "bench.py"),
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_lockfile_held_by_live_pid_flags(tmp_path):
    b = _bench()
    b._release_bench_lock()
    lock = os.path.join(os.path.dirname(os.path.abspath(b.__file__)),
                        ".bench.lock")
    try:
        with open(lock, "w") as f:
            f.write(str(os.getpid()))  # a live pid that isn't the checker's
        reason = b._contamination_reason(ports=())
        assert reason and "lockfile" in reason, reason
    finally:
        b._release_bench_lock()


def test_stale_lock_is_reclaimed_and_port_scan_runs(tmp_path):
    b = _bench()
    b._release_bench_lock()
    lock = os.path.join(os.path.dirname(os.path.abspath(b.__file__)),
                        ".bench.lock")
    with open(lock, "w") as f:
        f.write("999999999")  # dead pid: must be reclaimed, not flagged
    try:
        assert b._contamination_reason(ports=()) is None
        assert os.path.exists(lock)  # now held by us
    finally:
        b._release_bench_lock()


def test_live_spark_ui_port_flags_and_releases_lock():
    b = _bench()
    b._release_bench_lock()
    srv = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
    srv.bind(("127.0.0.1", 0))
    srv.listen(1)
    port = srv.getsockname()[1]
    lock = os.path.join(os.path.dirname(os.path.abspath(b.__file__)),
                        ".bench.lock")
    try:
        reason = b._contamination_reason(ports=(port,))
        assert reason and str(port) in reason, reason
        assert not os.path.exists(lock)  # refused runs hold no lock
    finally:
        srv.close()
        b._release_bench_lock()


def test_scaling_tools_share_the_contamination_gate():
    """tools/scaling_curve.py and tools/span_scale_probe.py append to
    SCALING_HISTORY.jsonl and must run bench's contamination gate before
    appending (round-9 verdict item 5: the curve tool appended a
    known-degraded record bench would have refused). Pin the wiring
    textually — the check must run BEFORE get_spark (our own driver
    would trip the port scan) and the append must be behind the
    not-contaminated branch."""
    root = os.path.join(os.path.dirname(__file__), "..")
    for tool in ("scaling_curve.py", "span_scale_probe.py"):
        src = open(os.path.join(root, "tools", tool)).read()
        assert "_contamination_reason" in src, tool
        assert 'record["history_append_refused"] = contaminated' in src, tool
        gate = src.index("contaminated = _contamination_reason()")
        assert gate < src.index("get_spark("), tool
        # the ledger append must sit inside the clean branch: textual
        # pin — the refused branch assigns the reason before the append
        # site appears
        assert src.index(
            'record["history_append_refused"]'
        ) < src.index('"SCALING_HISTORY.jsonl", "a"'), tool


def test_session_canary_adjudicates_flagged_regressions():
    """Round-9 verdict item 2: a flagged regression must be adjudicated
    by re-timing a stable UNFLAGGED anchor — if the anchor inflated too,
    the record says session_suspect, not regression. Pure-function test
    with a stubbed re-timer."""
    b = _bench()
    prev_q = {"fact_rollup": 1.0, "dim_user": 0.8, "decontam_excise": 3.3}
    timings = {"fact_rollup": 1.05, "dim_user": 0.85, "decontam_excise": 5.3}

    # slow session: the canary anchor re-times inflated -> suspect
    c = b._session_canary(
        {"decontam_excise"}, prev_q, timings, lambda n: 1.6
    )
    assert c["query"] == "fact_rollup" and c["session_suspect"]

    # clean session: anchor at historical speed -> regression is real
    c = b._session_canary(
        {"decontam_excise"}, prev_q, timings, lambda n: 1.02
    )
    assert c["query"] == "fact_rollup" and not c["session_suspect"]

    # a flagged anchor cannot adjudicate itself: next candidate is used
    c = b._session_canary(
        {"fact_rollup"}, prev_q, timings, lambda n: 0.81
    )
    assert c["query"] == "dim_user"

    # no candidate with history -> no canary (regressions unannotated)
    assert b._session_canary({"x"}, {}, timings, lambda n: 1.0) is None


def test_canary_verdict_lands_on_history_records(tmp_path, monkeypatch):
    """_append_history must stamp the canary verdict onto every flagged
    entry in BOTH regression diffs."""
    b = _bench()
    monkeypatch.setattr(
        b, "_previous_same_sf_queries", lambda sf: {"q1": 1.0}
    )
    monkeypatch.setattr(
        b, "_prev_round_final_queries", lambda sf, rnd: {"q1": 1.0}
    )
    import os as _os

    hist = tmp_path / "BENCH_HISTORY.jsonl"
    real_join = _os.path.join
    monkeypatch.setattr(
        b.os.path, "join",
        lambda *a: str(hist) if a[-1] == "BENCH_HISTORY.jsonl"
        else real_join(*a),
    )
    record = {
        "queries": {"q1": 2.0},
        "sf": 0.1,
        "round": 99,
        "regression_canary": {
            "query": "fact_rollup", "sec": 1.6, "prev": 1.0,
            "ratio": 1.6, "session_suspect": True,
        },
    }
    regs, regs_x = b._append_history(record)
    assert regs["q1"]["verdict"] == "session_suspect"
    assert regs_x["q1"]["verdict"] == "session_suspect"


def test_refused_record_shape_is_documented_in_main():
    """main() must key the refusal as history_append_refused and skip
    _append_history — pin the wiring textually (running a full bench in
    a unit test is out of budget)."""
    import inspect

    b = _bench()
    src = inspect.getsource(b.main)
    assert 'record["history_append_refused"] = contaminated' in src
    assert "if contaminated is None:" in src
    idx_guard = src.index("if contaminated is None:")
    assert src.index("_append_history(record)") > idx_guard


def test_multijob_canary_adjudicates_driver_gap_inflation():
    """Round-15 verdict item 8: the single-job canaries are blind to
    driver-gap inflation (fact_rollup got FASTER while 24 multi-job
    queries inflated 1.5-1.8×). A second multi-job anchor must flip the
    session verdict when it inflated even though the single-job anchor
    is clean."""
    b = _bench()
    prev_q = {
        "fact_rollup": 1.0,
        "compound_growth_index": 4.0,
        "rolling_quantiles": 4.0,
    }
    timings = {
        "fact_rollup": 1.0,
        "compound_growth_index": 4.1,
        "rolling_quantiles": 7.0,
    }

    # single-job anchor clean, multi-job anchor inflated -> suspect
    retimes = {"fact_rollup": 1.02, "compound_growth_index": 6.5}
    c = b._session_canary(
        {"rolling_quantiles"}, prev_q, timings, lambda n: retimes[n]
    )
    assert c["query"] == "fact_rollup" and not (
        c["sec"] >= b.CANARY_SUSPECT_RATIO * c["prev"]
    )
    assert c["multi_job"]["query"] == "compound_growth_index"
    assert c["session_suspect"]  # the multi-job anchor flipped it

    # both anchors clean -> regression is real
    retimes = {"fact_rollup": 1.02, "compound_growth_index": 4.2}
    c = b._session_canary(
        {"rolling_quantiles"}, prev_q, timings, lambda n: retimes[n]
    )
    assert not c["session_suspect"]

    # no multi-job anchor history -> r9 single-anchor behavior unchanged
    c = b._session_canary(
        {"rolling_quantiles"},
        {"fact_rollup": 1.0, "rolling_quantiles": 4.0},
        timings,
        lambda n: 1.02,
    )
    assert "multi_job" not in c and not c["session_suspect"]


def test_job_count_increase_flagging():
    """Round-15 verdict item 7: per-query job counts ride the ledger and
    a rise (≥2 jobs AND ≥1.25×) is flagged — the wall-noise-immune
    driver-work regression signal."""
    b = _bench()
    flags = b._flag_job_increases(
        {"a": 10, "b": 4, "c": 57, "d": 3},
        {"a": 8, "b": 3, "c": 30},
    )
    # a: +2 but 1.25x exactly -> flagged; b: +1 only -> not; c: big rise
    # -> flagged; d: no history -> not
    assert flags == {
        "a": {"prev": 8, "now": 10},
        "c": {"prev": 30, "now": 57},
    }


def test_summary_line_carries_per_query_seconds():
    """Round-15 verdict item 1: the driver parses the LAST printed JSON
    line; it must carry {"queries": {name: sec}} or PERF comes back with
    an empty per_query/scaling block (as it did in rounds 14-15). Pin
    the wiring textually: the final print includes the queries dict."""
    import inspect

    b = _bench()
    src = inspect.getsource(b.main)
    final_print = src[src.rindex("print(") :]
    assert '"queries": timings' in final_print


def test_headline_covers_every_registry_query():
    """Full-registry bench coverage (round-7 rule, round-10 pin): every
    queries() entry must appear in HEADLINE, or a new operator regresses
    silently — three round-10 queries did exactly that before this pin."""
    import __spark_entry__ as entry_mod

    b = _bench()
    missing = set(entry_mod.queries()) - set(b.HEADLINE)
    assert not missing, f"registry queries absent from bench: {missing}"


def test_baselines_match_like_for_like_sf_and_cpus(monkeypatch):
    """Ledger baselines compare only records of the same (sf, cpus): an
    8-core run must never be diffed against 32-core records (that raised
    7 false regressions on the 8-core round-17 record). Records without
    ``cpus`` ran at bench.py's default core count."""
    import inspect

    b = _bench()
    ledger = b._history_records()
    history = [
        {"sf": 0.1, "round": 16, "queries": {"q": 1.0}, "jobs": {"q": 3}},
        {"sf": 0.1, "cpus": 8, "round": 16, "queries": {"q": 2.0},
         "jobs": {"q": 4}},
        {"sf": 0.01, "cpus": 8, "round": 16, "queries": {"q": 3.0},
         "jobs": {"q": 5}},
        {"sf": 0.1, "cpus": 32, "round": 17, "queries": {"q": 4.0}},
    ]
    monkeypatch.setattr(b, "_history_records", lambda: history)
    c32, c8 = (0.1, b.DEFAULT_CPUS), (0.1, 8)
    assert b.DEFAULT_CPUS == 32
    assert b._previous_same_sf_queries(c32) == {"q": 4.0}
    assert b._previous_same_sf_queries(c8) == {"q": 2.0}
    assert b._previous_same_sf_queries((0.01, 8)) == {"q": 3.0}
    assert b._previous_same_sf_queries((0.01, 32)) == {}
    assert b._prev_round_final_queries(c32, 17) == {"q": 1.0}
    assert b._prev_round_final_queries(c8, 17) == {"q": 2.0}
    assert b._prev_jobs(c32, 17) == {"q": 3}
    assert b._prev_jobs(c8, 17) == {"q": 4}
    # the ledger's 8-core round-17 record carries its core count, and
    # main() writes cpus into every new record
    eight = [r for r in ledger if r.get("value") == 335.416]
    assert [b._config(r) for r in eight] == [c8]
    assert '"cpus": cpus' in inspect.getsource(b.main)
