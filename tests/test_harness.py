"""The catalog harness (``harness.py`` at the repo root).

The command functions run on the shared session at sf0.001; ``main()`` stops
its session, so only the name check, which exits before a session starts,
goes through it.
"""

from __future__ import annotations

import json
import os
import re

import pytest

import harness
from schwab_elt_etl_pipeline_spark.catalog import all_specs


def _specs(*names: str) -> list:
    return harness.select(all_specs(), list(names))


def test_time_splits_each_query_into_build_and_exec(spark, sf_dir):
    q = "q1_pricing_summary"
    out = harness.time_specs(spark, _specs(q), sf_dir, runs=1)
    assert {"tree", "queries", "build", "exec", "jobs"} <= set(out)
    assert out["tree"] == harness.ROOT
    assert out["build"][q] > 0 and out["exec"][q] > 0
    assert out["queries"][q] == pytest.approx(out["build"][q] + out["exec"][q], abs=1e-9)
    # the job count is a counter, not a timing: a second round agrees
    again = harness.time_specs(spark, _specs(q), sf_dir, runs=1)
    assert out["jobs"][q] >= 1
    assert again["jobs"][q] == out["jobs"][q]


def test_oracle_passes_and_leaves_the_cache_empty(spark, sf_dir):
    # pipeline_verts_e2e persists two intermediates; the next query must not
    # inherit them
    q = "pipeline_verts_e2e"
    assert harness.oracle(spark, _specs(q), sf_dir) == {q: "OK"}
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_plans_write_only_under_out(spark, sf_dir, tmp_path):
    committed = os.path.join(harness.ROOT, "PLANS.md")
    before = os.stat(committed).st_mtime_ns
    q = "q1_pricing_summary"
    formatted = harness.plans(spark, _specs(q), sf_dir, str(tmp_path / "r"), "before")
    executed = harness.plans(spark, _specs(q), sf_dir, str(tmp_path))
    assert formatted == [str(tmp_path / "r" / f"{q}_before.txt")]
    assert executed == [str(tmp_path / "PLANS.md")]
    assert sorted(p.name for p in tmp_path.iterdir()) == ["PLANS.md", "r"]
    assert "== Physical Plan ==" in (tmp_path / "r" / f"{q}_before.txt").read_text()
    assert f"## {q}\n" in (tmp_path / "PLANS.md").read_text()
    assert os.stat(committed).st_mtime_ns == before


def test_unknown_name_exits_non_zero_before_a_session(monkeypatch):
    import schwab_elt_etl_pipeline_spark.session as session

    monkeypatch.setattr(session, "get_spark", lambda **_: pytest.fail("session started"))
    with pytest.raises(SystemExit) as exc:
        harness.main(["time", "q1_pricing_summary", "no_such_query"])
    assert exc.value.code not in (0, None)
    assert "no_such_query" in str(exc.value.code)


def test_scale_md_renders_from_its_own_json(tmp_path):
    committed = open(os.path.join(harness.ROOT, "SCALE.md")).read()
    data = json.loads(committed.split("```json\n")[1].split("\n```")[0])
    base = re.search(r"Base tables: `([^`]+)`", committed).group(1)
    out = tmp_path / "SCALE.md"
    harness.write_scale_md(base, data["factor"], data["runs"], data["results"], str(out))
    assert out.read_text() == committed


def test_stable_plan_renumbers_run_order_ids_only():
    # the same plan from two runs: AQE completion order, exchange plan ids and
    # expression ids differ; literals and the partition count do not
    run1 = (
        "ResultQueryStage 4\n"
        "+- *(5) HashAggregate(keys=[SS#367, CP#40], functions=[max(O#465)])\n"
        "   +- ShuffleQueryStage 3\n"
        "      +- Exchange hashpartitioning(SS#367, CP#40, 32), [plan_id=907]\n"
        "         +- *(2) Project [SS#367, (Strike#39 - 5) AS LS#369, _we1#471L]"
    )
    run2 = (
        "ResultQueryStage 2\n"
        "+- *(3) HashAggregate(keys=[SS#1201, CP#12], functions=[max(O#1299)])\n"
        "   +- ShuffleQueryStage 0\n"
        "      +- Exchange hashpartitioning(SS#1201, CP#12, 32), [plan_id=4410]\n"
        "         +- *(1) Project [SS#1201, (Strike#11 - 5) AS LS#1203, _we1#1305L]"
    )
    stable = harness.stable_plan(run1)
    assert stable == harness.stable_plan(run2)
    assert stable == (
        "ResultQueryStage 1\n"
        "+- *(1) HashAggregate(keys=[SS#1, CP#2], functions=[max(O#3)])\n"
        "   +- ShuffleQueryStage 2\n"
        "      +- Exchange hashpartitioning(SS#1, CP#2, 32), [plan_id=1]\n"
        "         +- *(2) Project [SS#1, (Strike#4 - 5) AS LS#5, _we1#6L]"
    )
