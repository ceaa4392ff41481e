"""The materialization boundary: every eager job a builder runs goes
through ``getdbt_spark.materialize``, carries a ``materialize:`` job
tag, honours the durable-checkpoint policy, and a pure model build
runs no job at all."""

from __future__ import annotations

import datetime as dt
import os
import pathlib
import re

import pytest
from pyspark.sql import functions as F

from getdbt_spark import materialize as MZ
from getdbt_spark.__main__ import DEFAULT_SF_DIR as SF

PKG = pathlib.Path(__file__).resolve().parents[1] / "getdbt_spark"


def _hits(paths, pattern):
    rx = re.compile(pattern)
    return [
        f"{p.relative_to(PKG)}:{i}"
        for p in paths
        if p.name != "materialize.py"
        for i, line in enumerate(p.read_text().splitlines(), 1)
        if rx.search(line)
    ]


def test_eager_jobs_only_through_materialize():
    """Lineage cuts anywhere in the package, and driver counts or
    collects in builder code, go through the three verbs.  The CLI,
    ``streaming.py``'s foreachBatch sink, ``dq.py`` and ``scale.py``
    are not builders."""
    assert _hits(PKG.rglob("*.py"), r"\.(localCheckpoint|checkpoint)\(") == []
    builders = [PKG / "pipeline.py", PKG / "functions.py", PKG / "runner.py"]
    builders += sorted((PKG / "models").rglob("*.py"))
    builders += sorted((PKG / "queries").rglob("*.py"))
    assert _hits(builders, r"\.(count|collect|first)\(\)") == []
    callers = _hits(PKG.rglob("*.py"), r"\bdurable_checkpoints\(")
    assert [c for c in callers if not c.startswith("session.py")] == []
    assert "durable_checkpoints(" in (PKG / "materialize.py").read_text()


def test_pure_model_builds_run_no_job(spark):
    """``Runner.run([m], reuse=None)`` builds every registered model
    without running a Spark job (dbt compiles; the materialization
    does the work)."""
    from getdbt_spark import models as M
    from getdbt_spark.fixtures import sources_map
    from getdbt_spark.registry import MODELS
    from getdbt_spark.runner import Runner

    M.load_all()
    sources = sources_map(spark, SF)
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    ran = {}
    for name in MODELS:
        group = f"pure-build-{name}"
        sc.setJobGroup(group, group)
        try:
            Runner(spark, sources, dt.date(2024, 1, 30)).run(
                [name], reuse=None
            )
        finally:
            sc.setJobGroup(None, None)
        ran[name] = len(tracker.getJobIdsForGroup(group))
    assert len(ran) == len(MODELS) >= 20
    assert {n: k for n, k in ran.items() if k} == {}


def _job_tags(spark, after: int) -> dict[int, list[str]]:
    store = spark.sparkContext._jsc.sc().statusStore()
    it = store.jobsList(None).iterator()
    out = {}
    while it.hasNext():
        j = it.next()
        if j.jobId() > after:
            t = j.jobTags()
            out[j.jobId()] = [t.apply(i) for i in range(t.size())]
    return out


def _last_job_id(spark) -> int:
    return max(_job_tags(spark, -1), default=-1)


def test_every_build_job_is_tagged(spark):
    """Every job ``dedup_cluster_canonical``'s build runs (measured
    shingle tables, CC cuts and convergence probes) carries a
    ``materialize:<reason>`` tag, and a verb that raises leaves no tag
    behind on the thread."""
    from getdbt_spark.queries import QUERIES, load_all

    load_all()
    before = _last_job_id(spark)
    QUERIES["dedup_cluster_canonical"](spark, SF)
    tags = _job_tags(spark, before)
    spark.catalog.clearCache()
    assert tags, "the build runs CC rounds eagerly"
    untagged = {
        j: t for j, t in tags.items()
        if not any(x.startswith("materialize:") for x in t)
    }
    assert untagged == {}
    reasons = {x for t in tags.values() for x in t}
    assert {"materialize:cc_round", "materialize:cc_converged"} <= reasons

    boom = spark.range(1).select(F.raise_error(F.lit("boom")).alias("x"))
    with pytest.raises(Exception, match="boom"):
        MZ.cut(boom, "boom")
    with pytest.raises(Exception, match="boom"):
        MZ.rows(boom, "boom")
    assert not any(
        t.startswith("materialize:")
        for t in spark.sparkContext.getJobTags()
    )


def test_durable_checkpoints_give_local_rows(spark, monkeypatch):
    """``GETDBT_SPARK_RELIABLE_CKPT=1`` routes every cut through
    reliable checkpoint files: eager cuts and CC rounds
    (``dedup_cluster_canonical``), a lazy cut (``sim_ann_ivf_trained``),
    a slice-offset helper and a ``reuse="checkpoint"`` runner model all
    return local mode's rows, and checkpoint files appear."""
    from getdbt_spark import functions as E
    from getdbt_spark import models as M
    from getdbt_spark.fixtures import sources_map
    from getdbt_spark.queries import QUERIES, load_all
    from getdbt_spark.runner import Runner

    load_all()
    M.load_all()

    def rows_of(df):
        return sorted(map(tuple, df.collect()), key=repr)

    def run_all():
        out = {
            qid: rows_of(QUERIES[qid](spark, SF))
            for qid in ("dedup_cluster_canonical", "sim_ann_ivf_trained")
        }
        base = spark.range(0, 3000).select(
            "id", (F.col("id") * 7919 % 3001).alias("k")
        )
        out["rank"] = rows_of(
            E.with_global_rank(base, order=["k", "id"], num_slices=4)
        )
        runner = Runner(spark, sources_map(spark, SF), dt.date(2024, 1, 30))
        out["vod"] = rows_of(
            runner.run(["integral_reporting_vodstreaming"], reuse="checkpoint")[
                "integral_reporting_vodstreaming"
            ]
        )
        spark.catalog.clearCache()
        return out

    def ckpt_files():
        d = spark.sparkContext.getCheckpointDir()
        if d is None:
            return set()
        root = d.removeprefix("file:")
        return {
            os.path.join(r, f) for r, _, fs in os.walk(root) for f in fs
        }

    monkeypatch.delenv("GETDBT_SPARK_RELIABLE_CKPT", raising=False)
    local = run_all()
    before = ckpt_files()
    monkeypatch.setenv("GETDBT_SPARK_RELIABLE_CKPT", "1")
    durable = run_all()
    written = ckpt_files() - before
    assert durable.keys() == local.keys()
    for key in local:
        assert durable[key] == local[key], key
    assert any("/rdd-" in f for f in written), sorted(written)[:5]


def test_api_run_anchors_on_the_credible_clock(spark, tmp_path, monkeypatch):
    """One far-future event must not become ``api.run``'s run date: the
    anchor is ``io.run_date_anchor``'s max CREDIBLE event date, the
    clamp every oracle applies."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from getdbt_spark import api

    for t in os.listdir(SF):
        if t != "events.parquet":
            os.symlink(os.path.join(SF, t), tmp_path / t)
    ev = pq.read_table(os.path.join(SF, "events.parquet"))
    ts = ev.column("ts").to_pylist()
    ts[0] = dt.datetime(9999, 12, 30, 23, 59)
    want = max(t for t in ts[1:] if t is not None).date()
    i = ev.schema.get_field_index("ts")
    ev = ev.set_column(i, "ts", pa.array(ts, ev.schema.field("ts").type))
    pq.write_table(ev, tmp_path / "events.parquet")

    seen = []

    class Recording(api.Runner):
        def __init__(self, spark_, sources, run_date, **kw):
            seen.append(run_date)
            super().__init__(spark_, sources, run_date, **kw)

    monkeypatch.setattr(api, "Runner", Recording)
    api.run(spark, str(tmp_path), select=["media_events"])
    assert seen == [want]
