"""Tests of the benchmark itself, on tiny inputs.

    python3 -m pytest perfbench/tests -q

Each run starts its own Spark session, so the file takes a few minutes.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import layers  # noqa: E402
import workloads  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    SPEC = json.load(_fh)

# shrinks every workload's inputs before the run starts
TINY = (
    "import workloads\n"
    "workloads.SIZES.update(spatial_corpus='sf0.01', pages=200, pairs=6)\n"
)


def _run(*args: str, prelude: str = "") -> tuple[int, dict | None, str]:
    """Run the benchmark on tiny inputs in a fresh interpreter;
    ``prelude`` is Python executed before ``run.main`` (to corrupt an
    oracle)."""
    code = (
        "import sys\n"
        f"sys.path[:0] = [{BENCH!r}, {ROOT!r}]\n"
        f"{TINY}{prelude}\n"
        "import run\n"
        f"sys.exit(run.main({list(args)!r}))\n"
    )
    p = subprocess.run(
        [sys.executable, "-c", code], cwd=ROOT, capture_output=True, text=True, timeout=600
    )
    lines = p.stdout.strip().splitlines()
    try:
        result = json.loads(lines[-1]) if lines else None
    except json.JSONDecodeError:
        result = None
    return p.returncode, result, p.stderr[-4000:]


def test_spec_matches_the_benchmark():
    assert [w["name"] for w in SPEC["workloads"]] == list(workloads.WORKLOADS)
    assert SPEC["paths"] == ["perfbench"]
    per_layer = [{k: s[k] for k in ("name", "unit", "better")} for s in layers.metric_specs()]
    assert SPEC["per_layer"] == per_layer
    assert {m["name"] for m in SPEC["end_to_end"]} == set(
        __import__("run").UNITS
    )


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", list(workloads.WORKLOADS))
def test_tiny_run_prints_every_metric_with_its_unit(workload, trace):
    rc, result, err = _run(
        "--workload", workload, "--seed", "5", "--seconds", "1", "--trace", str(trace)
    )
    assert rc == 0, err
    assert result["correct"] is True and result["failed"] == 0, err
    assert result["attempted"] >= len(workloads.WORKLOADS[workload].op_names)
    spec = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    assert set(result["metrics"]) == {m["name"] for m in spec}
    for m in spec:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"]
        assert isinstance(got["value"], float)
        if not trace:
            assert got["value"] > 0, m["name"]
    if trace:
        # every layer the workload calls was timed and joined with its jobs
        value = {k: v["value"] for k, v in result["metrics"].items()}
        for span, (_, wls) in layers.LAYERS.items():
            if workload in wls:
                assert value[f"{span}.busy_s"] > 0, span
                assert value[f"{span}.jobs"] > 0, span
        if workload == "pages_etl":
            assert value["pipeline.geo_stage.rows"] > 0
        assert value["session.start_s"] > 0


_PLUS_ONE = "'SELECT * REPLACE (page_count + 1 AS page_count) FROM (' + {} + ')'"
CORRUPTIONS = {
    # a query loop: the DuckDB oracle of one query counts one page too many
    "tile_rollup_oracle": ("spatial_queries", (
        "from web_template_forensics_spark.plans import queries as q\n"
        "q.ORACLE_SQL['tile_rollup_z6'] = " + _PLUS_ONE.format("q.ORACLE_SQL['tile_rollup_z6']") + "\n"
    )),
    # the pages pipeline: the expected tile page counts are shifted
    "pages_tiles_oracle": ("pages_etl", (
        "from web_template_forensics_spark.plans import queries as q\n"
        "_orig = q._q_pages_tiles_sql\n"
        "q._q_pages_tiles_sql = lambda n, seed: " + _PLUS_ONE.format("_orig(n, seed)") + "\n"
    )),
    # the exact Jaccard recomputation behind minhash_pairs loses a pair
    "minhash_reference": ("near_dup_cascade", (
        "_orig = workloads.exact_minhash_pairs\n"
        "workloads.exact_minhash_pairs = lambda *a: _orig(*a).iloc[1:]\n"
    )),
    # the cascade replay scores every pair a little higher; patched only
    # once the check starts, as the operator's workers run the same replay
    "cascade_replay": ("near_dup_cascade", (
        "from web_template_forensics_spark.oracle import cascade_oracle as co\n"
        "_orig, _check = co.replay_cascade, workloads.NearDupCascade.check\n"
        "def _shifted(*a, **k):\n"
        "    rep = _orig(*a, **k)\n"
        "    rep['overall_similarity'] += 0.01\n"
        "    return rep\n"
        "def _late_check(self, op, result):\n"
        "    co.replay_cascade = _shifted\n"
        "    return _check(self, op, result)\n"
        "workloads.NearDupCascade.check = _late_check\n"
    )),
}


@pytest.mark.parametrize("corruption", sorted(CORRUPTIONS))
def test_corrupted_expected_output_fails_the_run(corruption):
    workload, prelude = CORRUPTIONS[corruption]
    rc, result, err = _run(
        "--workload", workload, "--seed", "5", "--seconds", "1", "--trace", "0", prelude=prelude
    )
    assert rc != 0
    assert result is not None and result["correct"] is False, err
