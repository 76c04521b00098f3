"""Unit tests for the benchmark's own pieces (no Spark needed):

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import os

import pytest

import duckdb

import gen
from expect import GoldOracle, repeat_fold
from stats import MIN_BEYOND, Span, Tally, min_samples, percentile, self_times
from tracing import count_codegen_fallbacks

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
SMALL = gen.Spec(days=3, lines_per_day=200, eprints=100, deposit_days=5)


@pytest.fixture(scope="module")
def robots():
    return gen.RobotLists(os.path.join(ROOT, "irstats2_spark", "operators", "data"))


def _digest(root: str) -> dict[str, str]:
    out = {}
    for dirpath, _, names in os.walk(root):
        for n in names:
            p = os.path.join(dirpath, n)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = hashlib.sha256(fh.read()).hexdigest()
    return out


def test_generator_same_seed_same_bytes(robots, tmp_path):
    gen.write_inputs(gen.generate(7, SMALL, robots), str(tmp_path / "a"))
    gen.write_inputs(gen.generate(7, SMALL, robots), str(tmp_path / "b"))
    a, b = _digest(str(tmp_path / "a")), _digest(str(tmp_path / "b"))
    assert a == b
    assert any(k.startswith("logs/") for k in a) and any(k.startswith("late/") for k in a)


def test_generator_seed_changes_inputs(robots, tmp_path):
    gen.write_inputs(gen.generate(7, SMALL, robots), str(tmp_path / "a"))
    gen.write_inputs(gen.generate(8, SMALL, robots), str(tmp_path / "b"))
    assert _digest(str(tmp_path / "a")) != _digest(str(tmp_path / "b"))


def test_generator_traffic_properties(robots):
    props = gen.properties(gen.generate(3, gen.Spec(days=4, lines_per_day=1000), robots))
    assert 0.07 < props["robot_frac"] < 0.13
    assert 0.10 < props["repeat_frac"] < 0.16
    assert 0.005 < props["malformed_frac"] < 0.02
    assert 0.005 < props["duplicate_frac"] < 0.02
    assert 0.25 < props["referrer_frac"] < 0.35
    assert props["search_referrer_frac"] > 0.1


def test_robot_flags_match_shipped_lists(robots):
    inp = gen.generate(5, SMALL, robots)
    for day in inp.day_lines.values():
        for _, ev in day:
            if ev is not None:
                assert ev.robot == robots.is_robot(ev.ua, ev.ip)


def test_ensure_inputs_caches_per_seed(robots, tmp_path):
    _, root = gen.ensure_inputs(str(tmp_path), 4, SMALL, robots)
    before = _digest(root)
    marker = os.path.join(root, ".complete")
    mtime = os.path.getmtime(marker)
    _, again = gen.ensure_inputs(str(tmp_path), 4, SMALL, robots)
    assert again == root and os.path.getmtime(marker) == mtime and _digest(root) == before


def test_min_samples_keeps_ten_beyond():
    assert min_samples(90) == 100
    assert min_samples(50) == 20
    assert min_samples(99) == 1000
    for q in (50, 90, 95, 99):
        n = min_samples(q)
        assert n * (100 - q) / 100 >= MIN_BEYOND - 1e-9
        assert (n - 1) * (100 - q) / 100 < MIN_BEYOND


def test_percentile_refuses_too_few_samples():
    with pytest.raises(ValueError):
        percentile(list(range(99)), 90)
    assert percentile(list(range(100)), 90) == pytest.approx(89.1)


def test_percentile_interpolates_closest_ranks():
    values = [float(v) for v in range(1, 201)]
    assert percentile(values, 50) == pytest.approx(100.5)
    assert percentile(values, 90) == pytest.approx(180.1)
    assert percentile(list(reversed(values)), 90) == pytest.approx(180.1)


def test_self_time_subtracts_children_once():
    spans = [
        Span(1, "request", 0.0, 10.0),
        Span(2, "plan.build", 1.0, 4.0, parent=1),
        Span(3, "exec.collect", 3.0, 6.0, parent=1),  # overlaps span 2
        Span(4, "exec.collect", 2.0, 3.0, parent=2),
        Span(5, "cache.get", 9.0, 12.0, parent=1),  # runs past its parent
    ]
    st = self_times(spans)
    assert st[1] == pytest.approx(10.0 - 5.0 - 1.0)  # children cover [1,6] and [9,10]
    assert st[2] == pytest.approx(3.0 - 1.0)
    assert st[3] == pytest.approx(3.0)
    assert st[4] == pytest.approx(1.0) and st[5] == pytest.approx(3.0)
    assert sum(st.values()) == pytest.approx(4 + 2 + 3 + 1 + 3)


def test_tally_counts_each_failed_operation_once():
    t = Tally()
    ops = [t.attempt() for _ in range(8)]
    t.fail(ops[1], "status 500")
    t.fail(ops[1], "wrong rows")
    t.fail(ops[5], "wrong rows")
    assert (t.attempted, t.failed) == (8, 2)
    assert t.failed_frac == pytest.approx(0.25)
    with pytest.raises(ValueError):
        t.fail(9, "never attempted")
    assert Tally().failed_frac == 0.0


def _ev(epoch, ip="1.2.3.4", docid=None):
    return gen.Event(epoch, ip, "ua", "", 1, docid, False)


def test_repeat_fold_keeps_anchor_on_drop():
    evs = [_ev(0), _ev(3000), _ev(3700), _ev(7300), _ev(100, ip="5.6.7.8")]
    kept = [e.epoch for e in repeat_fold(evs)]
    # 3000 is within the hour of 0 and dropped without moving the anchor,
    # so 3700 is kept; 7300 is within the hour of 3700
    assert kept == [0, 100, 3700]


def test_metric_lists_match_benchmark_json():
    import layers
    import run
    import workloads

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == layers.PER_LAYER
    assert [w["name"] for w in spec["workloads"]] == list(workloads.WORKLOADS)


@pytest.fixture
def oracle(tmp_path):
    """Gold with eprint 1 downloaded on 2024-01-01..05 (counts 1..5),
    served as of 2024-01-06."""
    con = duckdb.connect()
    for day in range(20240101, 20240106):
        part = tmp_path / "fact_downloads" / f"datestamp={day}"
        part.mkdir(parents=True)
        con.execute(f"COPY (SELECT 1 AS eprintid, '' AS value, {day % 100} AS count) "
                    f"TO '{part / 'part-0.parquet'}'")
    for dim, cols in (("sets", "1 AS eprintid, 'divisions' AS set_name, 'd' AS set_value"),
                      ("groupings", "1 AS eprintid, 'divisions' AS set_name, 'd' AS set_value, "
                                    "'authors' AS grouping_name, 'a' AS grouping_value")):
        (tmp_path / f"dim_{dim}").mkdir()
        con.execute(f"COPY (SELECT {cols}) TO '{tmp_path / f'dim_{dim}' / 'part-0.parquet'}'")
    con.close()
    o = GoldOracle(str(tmp_path), str(tmp_path), ["downloads"], dt.date(2024, 1, 6))
    yield o
    o.close()


def _series(days, desc=False):
    rows = [{"datestamp": d, "count": d % 100} for d in days]
    return json.dumps(sorted(rows, key=lambda r: r["datestamp"], reverse=desc))


def _req(kind, **params):
    import workloads

    return workloads.Req(kind, "get", "/cgi/stats/report/eprint/1", {"view": "Graph", **params}, "eprint", "1")


def test_graph_days_checked_over_the_requested_range(oracle):
    req = _req("graph_days", datatype="downloads", **{"from": "20240102", "to": "20240105"})
    assert oracle.check(req, _series(range(20240102, 20240106))) == []
    assert oracle.check(req, _series(range(20240102, 20240105)))  # last day missing
    assert oracle.check(req, _series(range(20240103, 20240106)))  # first day missing


def test_graph_days_zero_days_must_be_filled(oracle):
    req = _req("graph_days", datatype="downloads", **{"from": "20240104", "to": "20240107"})
    full = json.loads(_series(range(20240104, 20240106))) + [
        {"datestamp": 20240106, "count": 0}, {"datestamp": 20240107, "count": 0}]
    assert oracle.check(req, json.dumps(full)) == []
    assert oracle.check(req, json.dumps(full[:-1]))  # a trailing zero day dropped


def test_spark_checked_over_the_window_ending_yesterday(oracle):
    req = _req("spark", datatype="downloads")
    assert oracle.check(req, _series(range(20240101, 20240106), desc=True)) == []
    assert oracle.check(req, _series(range(20240101, 20240105), desc=True))  # yesterday missing
    assert oracle.check(req, _series(range(20240101, 20240106)))  # oldest first


def test_codegen_fallbacks_counted_from_spark_log_lines(tmp_path):
    log = tmp_path / "driver.log"
    log.write_text(
        "26/10/16 18:54:09 ERROR CodeGenerator: Failed to compile the generated Java code.\n"
        "org.codehaus.commons.compiler.InternalCompilerException: Compiling \"GeneratedClass\"\n"
        "\tat org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator$.doCompile(x.scala:1)\n"
        "Caused by: org.codehaus.commons.compiler.InternalCompilerException: Code grows beyond 64 KB\n"
        "26/10/16 18:54:09 WARN WholeStageCodegenExec: Whole-stage codegen disabled for plan (id=1):\n"
        "21/01/01 00:00:00 ERROR CodeGenerator: failed to compile: org.codehaus.janino.InternalCompilerException\n"
    )
    assert count_codegen_fallbacks(str(log)) == 2
    assert count_codegen_fallbacks(str(log), offset=len(log.read_bytes()) - 20) == 0


def test_main_page_sends_the_default_main_report(robots):
    import workloads
    from irstats2_spark.plans.registry import DEFAULT_REPORTS

    inp = gen.generate(5, SMALL, robots)
    items = [i for i in DEFAULT_REPORTS["main"].items if i.plugin != "KeyFigures"]
    for datatypes in ({"downloads", "views", "referrer", "search_terms"}, {"downloads", "views"}):
        mix = workloads.RequestMix(inp, 1, datatypes, inp.day_keys())
        main = [r for r in mix.page_loads() if r.endpoint == "get" and r.uri == "/cgi/stats/report"]
        want = [(i.plugin, i.datatype, i.options) for i in items if i.datatype in datatypes]
        assert [(r.params["view"], r.datatype, {k: v for k, v in r.params.items()
                 if k not in ("view", "datatype")}) for r in main] == want
