"""The benchmark's own tests.

    python3 -m pytest perfbench/tests -q

The smoke runs start one Spark process per workload and trace mode at the
workloads' own corpus size and take about five minutes on a 4-core host.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest
from py4j.protocol import Py4JError

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import corpus  # noqa: E402
from perfbench.tracing import (  # noqa: E402
    Span,
    Tracer,
    catalyst_phases,
    children_coverage,
    self_times,
    union_length,
)


@pytest.fixture
def corpus_dir():
    """A corpus with 200 documents (the recursive cluster-canonical oracle
    takes minutes on the workloads' 500) under the checkout's
    ``.perfbench`` (the benchmark writes nowhere else)."""
    path = os.path.join(ROOT, ".perfbench", f"test-corpus-{os.getpid()}")
    corpus.write(path, 5, dict(corpus.SIZES, documents=200))
    yield path
    shutil.rmtree(path, ignore_errors=True)


def _span(id, start, end, parent=None, name="s"):
    sp = Span(id, name, start, parent, "t1")
    sp.end = end
    return sp


def test_self_time_subtracts_union_of_nested_children():
    # op [0, 10]; runner [1, 9] under it; two parallel builds [2, 6] and
    # [4, 8] under runner, one checkpoint [3, 5] inside the first build.
    spans = [
        _span(1, 0.0, 10.0),
        _span(2, 1.0, 9.0, parent=1),
        _span(3, 2.0, 6.0, parent=2),
        _span(4, 4.0, 8.0, parent=2),
        _span(5, 3.0, 5.0, parent=3),
    ]
    st = self_times(spans)
    assert st[1] == pytest.approx(2.0)  # 10 - 8
    assert st[2] == pytest.approx(2.0)  # 8 - union([2,6],[4,8]) = 8 - 6
    assert st[3] == pytest.approx(2.0)  # 4 - 2
    assert st[4] == pytest.approx(4.0)  # leaf
    assert st[5] == pytest.approx(2.0)  # leaf
    assert children_coverage(spans, spans[0]) == pytest.approx(0.8)


def test_union_length_clips_and_merges():
    assert union_length([(0, 2), (1, 3), (5, 6)], 0, 10) == pytest.approx(4.0)
    assert union_length([(-5, 2), (8, 20)], 0, 10) == pytest.approx(4.0)
    assert union_length([], 0, 10) == 0.0


def test_tracer_parents_worker_thread_spans_to_the_op():
    import threading

    tr = Tracer()
    with tr.op("op1") as op:
        with tr.span("runner.run") as run:
            t = threading.Thread(target=lambda: tr.span("models.build").__enter__())
            t.start()
            t.join(timeout=10)
            assert not t.is_alive()
    build = [s for s in tr.spans if s.name == "models.build"][0]
    assert build.parent == run.id and run.parent == op.id
    assert {s.trace_id for s in tr.spans} == {"op1"}


class _Raises:
    def queryExecution(self):
        raise Py4JError("tracker is gone")


class _NoTracker:
    _jdf = _Raises()


def test_unreachable_catalyst_tracker_degrades_to_wall_time_only():
    assert catalyst_phases(_NoTracker()) is None
    assert catalyst_phases(object()) is None


def test_generator_is_deterministic_for_a_fixed_seed():
    a = corpus.tables(7)
    b = corpus.tables(7)
    c = corpus.tables(8)
    assert sorted(a) == sorted(corpus.SIZES.keys() | {"region", "nation"})
    for name in a:
        assert a[name].equals(b[name]), name
        assert a[name].num_rows == c[name].num_rows, name
        assert a[name].schema.equals(c[name].schema), name
    assert not a["events"].equals(c["events"])
    assert not a["documents"].equals(c["documents"])


@pytest.mark.parametrize("workload,trace", [
    ("nightly_dag", 0), ("nightly_dag", 1), ("curation_ops", 0), ("curation_ops", 1),
])
def test_smoke_run(workload, trace):
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "3",
         "--seconds", "1", "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    res = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] is True and res["failed"] == 0 and res["attempted"] >= 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    wanted = bench["per_layer" if trace else "end_to_end"]
    assert set(res["metrics"]) == {m["name"] for m in wanted}
    for m in wanted:
        assert res["metrics"][m["name"]]["unit"] == m["unit"]
    if trace:
        path = os.path.join(ROOT, ".perfbench",
                            f"{workload}-seed3-trace1-layers.json")
        with open(path) as f:
            layers = json.load(f)
        assert layers["min_coverage"] >= 0.9


def test_oracle_check_rejects_an_int_column_the_oracle_fetches_as_float():
    import duckdb
    import pandas as pd

    from perfbench.workloads import oracle, same_rows

    con = duckdb.connect()
    got = pd.DataFrame({"x": [3]})
    # An integer SUM is HUGEINT in DuckDB: equal values, float in fetchdf.
    assert not same_rows(got, oracle(con, "SELECT SUM(v) AS x FROM (VALUES (1), (2)) t(v)"))
    assert same_rows(got, oracle(
        con, "SELECT CAST(SUM(v) AS BIGINT) AS x FROM (VALUES (1), (2)) t(v)"))
    assert not same_rows(got, oracle(con, "SELECT 4 AS x"))


def test_rewrite_report_fails_when_a_partition_outside_the_window_changes():
    from perfbench.workloads import rewrite_report

    before = {"d=1": {"a": (1, "x")}, "d=2": {"b": (1, "y")}}
    rewritten = {"d=1": {"a": (1, "x")}, "d=2": {"c": (2, "z")}}
    assert rewrite_report(before, rewritten, {"d=2"})["ok"]
    assert not rewrite_report(before, {"d=2": {"c": (2, "z")}}, {"d=2"})["ok"]
    assert not rewrite_report(before, dict(rewritten, **{"d=1": {"a": (1, "w")}}),
                              {"d=2"})["ok"]


def test_frame_digest_equals_verify_local_frame_hash(corpus_dir):
    import datetime as dt
    from decimal import Decimal

    import numpy as np
    import pandas as pd

    from getdbt_spark.queries import ORACLES, load_all
    from perfbench.workloads import CURATION_IDS, cluster_canonical_oracle, frame_digest, oracle
    from tools.verify_local import duck_con, frame_hash

    load_all()
    con = duck_con(corpus_dir)
    frames = [oracle(con, ORACLES[q])[0] for q in
              ("model_dashboard_channel_weekly", "model_streams_daily_v4")
              + tuple(q for q in CURATION_IDS if q != "dedup_cluster_canonical")]
    frames.append(cluster_canonical_oracle(con)[0])
    frames.append(pd.DataFrame({
        "f": [0.5, -0.0, 1e16, np.inf, -np.inf, np.nan, 3.0, 1 / 3],
        "i": np.arange(8), "b": [True, False] * 4,
        "s": ["a", None, "c", "d", "e", "f", "g", "h"],
        "t": pd.to_datetime(["2024-01-01 00:00:01.5"] * 8),
        "d": [dt.date(2024, 1, i + 1) for i in range(7)] + [None],
        "m": [Decimal("1.50"), None, Decimal(7)] + [Decimal(-2)] * 5,
        "o": [1, None, 3, 4, 5, 6, 7, True],
    }))
    for df in frames:
        assert frame_digest(df) == frame_hash(df)[:3]


def test_cluster_canonical_check_matches_the_recursive_oracle(corpus_dir):
    from getdbt_spark.queries import ORACLES, load_all
    from perfbench.workloads import cluster_canonical_oracle, frame_digest, oracle
    from tools.verify_local import duck_con

    load_all()
    con = duck_con(corpus_dir)
    want_rows, want_classes = oracle(con, ORACLES["dedup_cluster_canonical"])
    got_rows, got_classes = cluster_canonical_oracle(con)
    assert (~want_rows["keep"]).sum() > 0  # the corpus has near-duplicate clusters
    assert frame_digest(got_rows) == frame_digest(want_rows)
    assert got_classes == want_classes
