"""Pure-Python tests of the benchmark's arithmetic (no Spark).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import math
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

from layers import (  # noqa: E402
    Span,
    iteration_blocks,
    iteration_seconds,
    jobs_in_group,
    self_time_by_kind,
    self_times,
    stages_of,
    summarize_stages,
    tail_percentile,
)

FIXTURE = os.path.join(HERE, "fixtures", "status_store.json")


# ------------------------------------------------------- tail percentile


@pytest.mark.parametrize(
    ("n", "pct"),
    [(20, 50), (21, 52), (30, 66), (40, 75), (100, 90), (200, 95), (1000, 99)],
)
def test_tail_percentile_keeps_ten_samples_beyond(n, pct):
    samples = [float(i) for i in range(1, n + 1)]
    got_pct, value = tail_percentile(samples)
    assert got_pct == pct
    assert sum(1 for s in samples if s > value) >= 10
    # one percentile higher would leave fewer than ten beyond it
    assert n - math.ceil((pct + 1) * n / 100) < 10


def test_tail_percentile_is_order_free():
    a = [5.0, 1.0, 9.0, 3.0] * 10
    assert tail_percentile(a) == tail_percentile(sorted(a))


def test_tail_percentile_below_twenty_samples_falls_back_to_max():
    # 18 samples: the rule would give p44, under the median
    assert tail_percentile([float(i) for i in range(18)]) == (100, 17.0)
    assert tail_percentile([3.0, 1.0, 2.0]) == (100, 3.0)
    assert tail_percentile([]) == (100, 0.0)


# ------------------------------------------------------------ span self time


def test_self_time_subtracts_direct_children_only():
    spans = [
        Span("q", 0.0, 10.0, "query"),
        Span("build", 0.0, 4.0, "build", parent=0),
        Span("exec", 4.0, 10.0, "exec", parent=0),
        Span("job 1", 4.5, 9.0, "job", parent=2),
        Span("job 0", 1.0, 2.0, "job", parent=1),
    ]
    assert self_times(spans) == pytest.approx([0.0, 3.0, 1.5, 4.5, 1.0])
    by_kind = self_time_by_kind(spans)
    assert by_kind == pytest.approx({"query": 0.0, "build": 3.0, "exec": 1.5, "job": 5.5})
    # self times partition the root's wall time
    assert sum(by_kind.values()) == pytest.approx(spans[0].seconds)


def test_self_time_is_floored_when_children_overrun():
    spans = [Span("exec", 0.0, 1.0, "exec"), Span("job", -0.01, 1.02, "job", parent=0)]
    assert self_times(spans)[0] == 0.0


# ------------------------------------------------- status-store records


@pytest.fixture(scope="module")
def recorded():
    with open(FIXTURE) as fh:
        return json.load(fh)


def test_fixture_query_layers(recorded):
    """A recorded query: its build and exec job groups map to stage
    figures exactly as the checked-in expectation says."""
    jobs = recorded["jobs"]
    stages = {s["stageId"]: s for s in recorded["stages"]}
    q = recorded["query"]
    build = jobs_in_group(jobs, q["group"] + ":build")
    execj = jobs_in_group(jobs, q["group"] + ":exec")
    got = summarize_stages(stages_of(build + execj, stages))
    assert len(build) == q["expect"]["build_jobs"]
    for key, want in q["expect"]["layers"].items():
        assert got[key] == pytest.approx(want), key


def test_fixture_skipped_stages_are_not_counted(recorded):
    stages = {s["stageId"]: s for s in recorded["stages"]}
    skipped = [s for s in stages.values() if s["status"] == "SKIPPED"]
    ran = [s for s in stages.values() if s["status"] != "SKIPPED"]
    assert summarize_stages(list(stages.values()))["stages"] == len(ran)
    assert summarize_stages(skipped)["tasks"] == 0


def test_fixture_fit_iterations(recorded):
    """A recorded parafac_distributed fit splits into its iterations, each
    the same job sequence, and the per-iteration seconds tile the loop."""
    fit = recorded["fit"]
    jobs = jobs_in_group(recorded["jobs"], fit["group"])
    blocks = iteration_blocks(jobs, fit["n_iter"])
    assert len(blocks) == fit["n_iter"]
    assert [len(b) for b in blocks] == [fit["expect"]["jobs_per_iter"]] * fit["n_iter"]
    its = iteration_seconds(blocks, fit["end_ms"])
    assert its == pytest.approx(fit["expect"]["iter_s"], abs=1e-9)
    assert all(s > 0 for s in its)
    loop = (min(fit["end_ms"], blocks[-1][-1]["completionTime"]) - blocks[0][0]["submissionTime"]) / 1e3
    assert sum(its) == pytest.approx(loop)


def test_iteration_blocks_prefers_the_whole_iteration():
    # prologue (shape, norm), 3 iterations of 3 same-site jobs, no epilogue
    names = ["first", "treeAggregate"] + ["aggregate"] * 9
    jobs = [{"jobId": i, "name": n, "submissionTime": i, "completionTime": i + 0.5} for i, n in enumerate(names)]
    blocks = iteration_blocks(jobs, 3)
    assert [[j["jobId"] for j in b] for b in blocks] == [[2, 3, 4], [5, 6, 7], [8, 9, 10]]


def test_iteration_blocks_drops_an_epilogue():
    names = ["first", "treeAggregate"] + ["aggregate"] * 8 + ["count"]
    jobs = [{"jobId": i, "name": n, "submissionTime": i, "completionTime": i + 0.5} for i, n in enumerate(names)]
    blocks = iteration_blocks(jobs, 4)
    assert [len(b) for b in blocks] == [2, 2, 2, 2]
    assert blocks[0][0]["jobId"] == 2


def test_iteration_blocks_reports_a_loop_without_a_period():
    jobs = [{"jobId": i, "name": n} for i, n in enumerate(["a", "b", "c"])]
    assert iteration_blocks(jobs, 2) == []


# ------------------------------------------------------------ fit checks


def test_fit_checks_bound_each_fit_around_the_reachable_fit():
    from worker import FIT_MARGIN, FIT_OVERSHOOT, fit_checks

    reachable = 1.0 - 0.29
    fits = [
        {"op": "fit_dist", "ok": True, "fit": reachable - 0.01},
        {"op": "fit_local", "ok": True, "fit": reachable - FIT_MARGIN - 0.01},
        {"op": "fit_dist", "ok": True, "fit": reachable + FIT_OVERSHOOT + 0.01},
        {"op": "fit_local", "ok": False},
    ]
    got = fit_checks(fits, {"noise_ratio": 0.29})
    assert [c["ok"] for c in got.values()] == [True, False, False, False]
    assert list(got) == ["fit_dist#0", "fit_local#1", "fit_dist#2", "fit_local#3"]


# ------------------------------------------------------- input provenance


def test_provenance_detects_a_changed_or_broken_input(tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq
    from run import provenance

    pq.write_table(pa.table({"k": [1, 2, 3]}), tmp_path / "region.parquet")
    pinned = provenance(str(tmp_path))
    assert pinned["region"]["rows"] == 3 and len(pinned["region"]["sha256"]) == 64
    pq.write_table(pa.table({"k": [1, 2, 4]}), tmp_path / "region.parquet")
    assert provenance(str(tmp_path)) != pinned
    (tmp_path / "region.parquet").write_bytes(b"not parquet")
    assert provenance(str(tmp_path))["region"]["rows"] is None
