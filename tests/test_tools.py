"""Units for the verification/bench meta-tools themselves (sweep_all,
bench trend math) — the gates the whole round process leans on."""

from __future__ import annotations

import glob
import json
import os
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))

from sweep_all import check_one, driver_verified  # noqa: E402


def test_driver_verified_reads_green_rows_only():
    """Only rows with all three matches and no err count as verified.

    Round-independent invariants only (the r7 verdict: an exact count is a
    self-destructing assertion — it went stale the moment CORRECTNESS_r07
    landed). What must hold in ANY round:
      * known r1 green names are present (the set never shrinks),
      * every verified name exists in the current registry,
      * the per-round union is monotone non-decreasing across sorted
        CORRECTNESS_r*.json files (verified_rN ⊇ verified_r(N-1)).
    """
    verified = driver_verified()
    assert {"eventlog_normalize", "eventlog_traces", "xes_trace_xml"} <= verified

    import __spark_entry__ as e
    from mobsos_event_log_generator_spark.plans.queries import QUERIES

    assert verified <= set(QUERIES)

    # Monotonicity: replay the artifacts one at a time in round order.
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    running: set = set()
    for path in sorted(glob.glob(os.path.join(repo, "CORRECTNESS_r*.json"))):
        rows = json.load(open(path))
        green = {
            n for n, r in rows.items()
            if isinstance(r, dict) and r.get("err") is None
            and r.get("rows_match") is True and r.get("schema_match") is True
            and r.get("hash_match") is True
        }
        assert green, f"{os.path.basename(path)} has no green rows"
        running |= green
    assert running == verified

    # The driver ordering contract: no verified name may sort into the
    # backlog-first window ahead of a never-verified one.
    order = e._driver_order(QUERIES)
    backlog = [n for n in order if n not in verified and n not in e._RECHECK_FIRST]
    window = [n for n in order if n not in e._RECHECK_FIRST][: len(backlog)]
    assert set(window) == set(backlog)


def test_check_one_pass_and_mismatch(spark):
    con = duckdb.connect()
    fn = lambda s: s.createDataFrame([(1, "a"), (2, "b")], "id int, v string")
    assert check_one(spark, con, "t", fn, "SELECT * FROM (VALUES (1, 'a'), (2, 'b')) t(id, v)") is None
    # row-count mismatch
    r = check_one(spark, con, "t", fn, "SELECT 1 AS id, 'a' AS v")
    assert r is not None and "row count" in r
    # column-name mismatch
    r = check_one(spark, con, "t", fn, "SELECT * FROM (VALUES (1, 'a'), (2, 'b')) t(id, w)")
    assert r is not None and "columns" in r
    # value mismatch
    r = check_one(spark, con, "t", fn, "SELECT * FROM (VALUES (1, 'a'), (2, 'X')) t(id, v)")
    assert r is not None and "value mismatch" in r
    # rows-only entry: spark execution is the gate
    assert check_one(spark, con, "t", fn, None) is None
    # spark error surfaces, doesn't raise
    boom = lambda s: (_ for _ in ()).throw(RuntimeError("boom"))
    r = check_one(spark, con, "t", boom, "SELECT 1")
    assert r is not None and "spark error" in r


def test_bench_warm_delta_flags(monkeypatch):
    import bench

    monkeypatch.setattr(
        bench, "_prev_bench",
        lambda: ("BENCH_rX.json", {"queries": {"q": 1.0}, "queries_warm": {"q": 1.0, "r": 2.0},
                                   "cpus": bench._cpus()}),
    )
    deltas, regs = bench._deltas_vs_prev({"q": 1.2}, {"q": 1.5, "r": 2.1})
    assert deltas["q"] == {"cold_pct": 20.0, "warm_pct": 50.0}
    assert regs == ["q: warm 1.0s -> 1.5s (+50.0%)"]  # r's +5% stays unflagged


def test_bench_record_line_is_parseable_and_compact():
    """The driver tail capture is ~2 kB and truncated BOTH r4 and r7 into
    parsed:null records. The contract (r7 verdict #2): cold map at 2dp +
    totals + warm-total scalar on the line, < 1900 bytes even with worst-case
    3-digit timings; the full warm map lives only in BENCH_DETAIL.json."""
    import bench

    fake = {n: 999.99 for n in bench.HEADLINE}
    record = {
        "metric": "headline_queries_total_runtime",
        "value": 99999.999,
        "unit": "sec",
        "queries": fake,
        "sf": 0.1,
        "value_warm": 99999.999,
    }
    line = json.dumps(record)
    assert json.loads(line)["queries"] == fake
    assert len(line) < 1900


def test_bench_prev_sidecar_joins_on_2dp_cold_map(tmp_path, monkeypatch):
    """_prev_bench supplements the 2dp record line with the sidecar's
    full-precision lanes when the cold maps agree at 2dp."""
    import bench

    monkeypatch.setattr(bench, "REPO", str(tmp_path))
    rec = {"queries": {"q": 1.23}, "value": 1.23}
    (tmp_path / "BENCH_r08.json").write_text(json.dumps({"parsed": rec}))
    (tmp_path / "BENCH_DETAIL.json").write_text(json.dumps(
        {"queries": {"q": 1.234}, "queries_warm": {"q": 0.5}}))
    name, got = bench._prev_bench()
    assert name == "BENCH_r08.json"
    assert got["queries"] == {"q": 1.234} and got["queries_warm"] == {"q": 0.5}


def test_sweep_record_schema():
    """Committed sweep artifacts keep the fields COVERAGE.md cites, AND the
    scope recorded inside matches the filename's claim — a narrow subset
    sweep must never masquerade as the standing full/backlog gate artifact
    (ADVICE r7)."""
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    expected_scope = {"SWEEP.json": {"backlog"}, "SWEEP_FULL.json": {"all"},
                      "SWEEP_PLAIN.json": {"all"}, "SWEEP_SUBSET.json": {"subset"}}
    # Session must match the filename too: in round 8 a full-registry
    # --plain run clobbered the tuned SWEEP_FULL.json because the default
    # record path ignored --plain. SWEEP.json/SWEEP_FULL.json are the
    # tuned-session gate artifacts; SWEEP_PLAIN.json is the vanilla one.
    expected_session = {"SWEEP.json": "tuned", "SWEEP_FULL.json": "tuned",
                        "SWEEP_PLAIN.json": "plain"}
    for fn, scopes in expected_scope.items():
        path = os.path.join(repo, fn)
        if not os.path.exists(path):
            continue
        rec = json.load(open(path))
        assert rec["cells_passed"] == rec["cells_checked"] and not rec["failures"]
        assert rec["started"] and rec["sf_dirs"]
        assert rec["scope"] in scopes, f"{fn} carries scope {rec['scope']!r}"
        if fn in expected_session:
            assert rec["session"] == expected_session[fn], (
                f"{fn} carries session {rec['session']!r}"
            )


def test_sweep_default_record_name_keys_on_session_and_scope():
    """Explicit subsets always route to SWEEP_SUBSET.json (never clobber a
    standing artifact); otherwise --plain routes to SWEEP_PLAIN.json
    regardless of backlog/full scope (the r8 overwrite)."""
    from sweep_all import default_record_name

    assert default_record_name(True, False, False) == "SWEEP_PLAIN.json"
    assert default_record_name(True, True, False) == "SWEEP_SUBSET.json"
    assert default_record_name(True, False, True) == "SWEEP_PLAIN.json"
    assert default_record_name(False, True, False) == "SWEEP_SUBSET.json"
    assert default_record_name(False, False, True) == "SWEEP.json"
    assert default_record_name(False, False, False) == "SWEEP_FULL.json"
