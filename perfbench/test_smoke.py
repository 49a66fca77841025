"""Smoke test of the benchmark itself, on tiny inputs.

    python3 -m pytest perfbench/test_smoke.py -q

Runs a few sf0.001 queries of each registry half and a short lifecycle,
from a working directory outside the checkout and without the checkout on
``PYTHONPATH``. Checks that every metric named in ``BENCHMARK.json`` is
emitted with its unit, that the layers separate as the workloads claim,
and that a corrupted CSV is counted as a failure.
"""

from __future__ import annotations

import json
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import harness  # noqa: E402
import lifecycle  # noqa: E402
import registry  # noqa: E402
import run  # noqa: E402

SPEC = json.load(open(os.path.join(harness.ROOT, "BENCHMARK.json")))

#: A few queries of each half; the LLM ones use Python UDFs that import
#: the package inside the workers.
TINY_PANEL = ("text_compression_ratio", "dedup_embedding_lsh", "dedup_simhash",
              "q1_pricing_summary", "events_hourly_rollup", "user_activity")


@pytest.fixture
def work(tmp_path, monkeypatch) -> str:
    """A work directory; the test runs from outside the checkout with an
    empty PYTHONPATH."""
    monkeypatch.chdir(tmp_path)
    monkeypatch.setenv("PYTHONPATH", "")
    return str(tmp_path / "work")


def _assert_metrics(result: dict) -> None:
    """Every metric of BENCHMARK.json is emitted with its unit; the
    end-to-end ones are measured (never 0) on every workload."""
    for traced, key in ((False, "end_to_end"), (True, "per_layer")):
        out = run.summary(result, traced)
        assert out["attempted"] >= 1
        want = {m["name"]: m["unit"] for m in SPEC[key]}
        assert {k: v["unit"] for k, v in out["metrics"].items()} == want
    assert set(result["e2e"]) == {m["name"] for m in SPEC["end_to_end"]}
    assert all(v > 0 for v in result["e2e"].values()), result["e2e"]


def _nonzero(layers: dict, prefix: str) -> bool:
    return any(v for k, v in layers.items() if k.startswith(prefix))


def test_registry_runs_checks_and_separates_the_halves(work):
    result = run.run_workload("registry", 7, 0, True, work, sf=0.001, panel=TINY_PANEL)
    assert result["failed"] == 0, result["errors"]
    halves = registry.registry_halves()
    for half, queries in registry.HALVES.items():
        assert set(queries) <= set(halves[half])
    # warm-up passes, then one untraced and one traced pass
    assert result["attempted"] == (registry.WARM_PASSES + 2) * len(TINY_PANEL)
    _assert_metrics(result)
    layers = result["layers"]
    assert layers["scheduler.jobs"] > 0 and layers["operators.action_jobs"] > 0
    assert not any(_nonzero(layers, p) for p in ("ingest.", "dispatch.", "control."))
    llm, sql = result["detail"]["halves"]["llm"], result["detail"]["halves"]["sql"]
    assert llm["model_memo.fits"] > 0 and sql["model_memo.fits"] == 0

    def build_share(h):
        return h["operators.build_s"] / (h["operators.build_s"] + h["operators.action_s"])

    assert build_share(llm) > build_share(sql)


def test_lifecycle_counts_a_corrupted_csv(work):
    damaged = []

    def corrupt(loop):
        for req in loop.requests:
            path = lifecycle.csv_path(loop.dirs["out"], req)
            if os.path.exists(path):
                with open(path, "a") as fh:
                    fh.write("9,9\n")
                damaged.append(req["request_id"])
                return

    result = run.run_workload("lifecycle", 7, 0, True, work,
                              ticks=200, captures=2, requests=10, corrupt=corrupt)
    assert damaged
    assert result["failed"] == 1, result["failures"]
    assert result["failures"][0].startswith(f"request {damaged[0]} ")
    _assert_metrics(result)
    layers = result["layers"]
    assert all(_nonzero(layers, p) for p in ("ingest.", "dispatch.", "control."))
    assert layers["dispatch.rejected"] == 1 and layers["dispatch.fulfilled"] == 9
    assert not _nonzero(layers, "model_memo.") and not _nonzero(layers, "operators.")
