"""The benchmark's workloads.

A workload owns one corpus shape, a set-up, one op (one unit of user work)
and a correctness check against the package's DuckDB oracles.  Every call
into the package goes through a public entry point.
"""

from __future__ import annotations

import datetime as dt
import decimal
import hashlib
import os
from contextlib import nullcontext

import numpy as np
import pandas as pd

from getdbt_spark import api, fixtures, io
from getdbt_spark import models as M
from getdbt_spark.pipeline import JACCARD_THRESHOLD
from getdbt_spark.queries import ORACLES, QUERIES
from getdbt_spark.queries import load_all as load_queries
from getdbt_spark.registry import MODELS
from getdbt_spark.runner import Runner
from tools.verify_local import _classes_ok, _dtype_class, _fetch_spark, _norm_cell, duck_con

DASHBOARD = "integral_reporting_dashboard_channel_weekly"
STREAMS = "atinternet_smarttag_streams_daily_v4"
DEFAULT_RUN_DATE = dt.date(2024, 1, 30)


class Ctx:
    """What a workload needs from the run loop: the session, the corpus
    directory, a private work directory, the (optional) tracer, and the sink
    that executes an op's outputs.

    The timed ops execute outputs through the noop sink; the warm-up op
    fetches them to pandas instead, for the correctness check."""

    def __init__(self, spark, corpus: str, work: str, tracer=None):
        self.spark, self.corpus, self.work, self.tracer = spark, corpus, work, tracer
        self.fetch = False
        self.executed: list = []

    def span(self, name: str):
        return self.tracer.span(name) if self.tracer else nullcontext()

    def execute(self, df):
        """Run ``df`` to completion; returns its rows when fetching."""
        self.executed.append(df)
        with self.span("exec.action"):
            if self.fetch:
                return _fetch_spark(df)
            df.write.format("noop").mode("overwrite").save()
            return None


def _cells(s: pd.Series) -> list[str]:
    """One column canonicalized exactly as ``verify_local._norm_cell`` does,
    vectorized for the column kinds that dominate large outputs."""
    k = s.dtype.kind
    if k in "iu":
        return s.astype(str).tolist()
    if k == "b":
        return np.where(s.to_numpy(), "true", "false").tolist()
    if k == "f":
        v = s.to_numpy(dtype=np.float64)
        out = np.full(len(v), "NULL", dtype=object)
        fin = np.isfinite(v)
        whole = fin & (np.abs(v) < 1e15)
        whole[whole] = v[whole] == np.trunc(v[whole])
        out[whole] = v[whole].astype(np.int64).astype(str)
        out[np.isposinf(v)] = "inf"
        out[np.isneginf(v)] = "-inf"
        frac = fin & ~whole
        out[frac] = [f"{x:.9g}" for x in v[frac]]
        return out.tolist()
    if k == "O":
        vals = s.tolist()
        kinds = {type(v) for v in vals} - {type(None)}
        if kinds <= {str, int, decimal.Decimal}:
            return ["NULL" if v is None else str(v) for v in vals]
        if kinds == {dt.date}:
            return ["NULL" if v is None else v.isoformat() for v in vals]
    return [_norm_cell(v) for v in s]


def frame_digest(df: pd.DataFrame) -> tuple[int, list[str], str]:
    """``verify_local.frame_hash``'s row count, sorted columns and digest,
    computed column-wise (the benchmark's tests pin the two equal).  A
    ``nightly_dag`` check digests two dashboard frames of about 230k rows;
    on a 4-core host this takes 1.8 s per frame where ``frame_hash`` takes
    5.0 s, which saves about 6 s of every run."""
    cols = sorted(df.columns)
    columns = [_cells(df[c]) for c in cols]
    rows = sorted("\x01".join(r) for r in zip(*columns))
    return len(df), cols, hashlib.md5("\n".join(rows).encode()).hexdigest()


def oracle(con, sql: str) -> tuple[pd.DataFrame, dict[str, str]]:
    """The oracle's rows and dtype classes, fetched as
    ``verify_local.compare`` fetches them: values through Arrow (it keeps
    DATE as a date), dtype classes through ``fetchdf`` (the driver's path,
    where an integer SUM left as HUGEINT turns float).  The result is kept
    in a temp table so the oracle runs once for both fetches."""
    con.execute(f"CREATE OR REPLACE TEMP TABLE oracle_out AS {sql}")
    fdf = con.execute("SELECT * FROM oracle_out").fetchdf()
    return (con.execute("SELECT * FROM oracle_out").arrow().to_pandas(),
            {c: _dtype_class(fdf[c]) for c in fdf.columns})


def same_rows(got: pd.DataFrame, want: tuple[pd.DataFrame, dict[str, str]]) -> bool:
    """``verify_local.compare``'s verdict on a fetched Spark frame: row
    count, column names and order-insensitive value hash agree, and no
    column's dtype class differs from the oracle's."""
    rows, classes = want
    got_classes = {c: _dtype_class(got[c]) for c in got.columns}
    return frame_digest(got) == frame_digest(rows) and not _classes_ok(got_classes, classes)


# -- warehouse snapshots ------------------------------------------------------

def snapshot(table_dir: str) -> dict[str, dict[str, tuple[int, str]]]:
    """Partition dir → {data file name: (size, md5)} for a partitioned table."""
    out: dict[str, dict[str, tuple[int, str]]] = {}
    if not os.path.isdir(table_dir):
        return out
    for part in sorted(os.listdir(table_dir)):
        pdir = os.path.join(table_dir, part)
        if not os.path.isdir(pdir) or "=" not in part:
            continue
        files = {}
        for f in sorted(os.listdir(pdir)):
            if f.startswith((".", "_")):
                continue
            with open(os.path.join(pdir, f), "rb") as fh:
                files[f] = (os.path.getsize(fh.name), hashlib.md5(fh.read()).hexdigest())
        out[part] = files
    return out


def rewrite_report(before, after, expected: set[str]) -> dict:
    """Which partitions one incremental write replaced, and whether it
    replaced exactly ``expected`` and left every other one byte-identical."""
    rewritten = {p for p in after if after[p] != before.get(p)}
    untouched_ok = all(after.get(p) == files for p, files in before.items()
                       if p not in expected)
    new_files = [after[p][f] for p in rewritten for f in after[p]
                 if f not in before.get(p, {})]
    return {
        "ok": rewritten == expected and untouched_ok,
        "partitions_written": len(rewritten),
        "files_written": len(new_files),
        "bytes_written": sum(size for size, _ in new_files),
    }


# -- nightly_dag ---------------------------------------------------------------

class NightlyDag:
    """One nightly production run of the dashboard DAG: anchor the run
    date, build the 22-model closure with checkpointed intermediates (the
    streams model is insert-overwritten into the warehouse), then execute
    the dashboard.  Every op replays the same night, so each rewrites the
    same 9 partitions; after the warm-up op the warehouse also holds an
    earlier night, which every op must leave byte-identical."""

    name = "nightly_dag"

    def setup(self, ctx: Ctx) -> None:
        M.load_all()
        self.warehouse = os.path.join(ctx.work, "warehouse")
        cfg = MODELS[STREAMS].config
        self.table_dir = os.path.join(self.warehouse, cfg.schema, STREAMS)
        self.partition_col = cfg.partition_by
        self.replay_days = cfg.replay_days
        self.writes: list[dict] = []
        self.history: dict = {}

    def op(self, ctx: Ctx) -> dict:
        spark, corpus = ctx.spark, ctx.corpus
        with ctx.span("io.anchor"):
            run_date = io.run_date_anchor(io.load_table(spark, corpus, "events"),
                                          DEFAULT_RUN_DATE)
        self.run_date = run_date
        with ctx.span("fixtures.sources_map"):
            sources = fixtures.sources_map(spark, corpus)
        runner = Runner(spark, sources, run_date, warehouse=self.warehouse)
        with ctx.span("runner.run"):
            out = runner.run([DASHBOARD], reuse="checkpoint")
        return {"model_dashboard_channel_weekly": ctx.execute(out[DASHBOARD])}

    def window(self) -> set[str]:
        """Partition dirs of the op's night."""
        return {f"{self.partition_col}={self.run_date - dt.timedelta(days=i)}"
                for i in range(self.replay_days)}

    def after_warmup(self, ctx: Ctx) -> None:
        """Materialize the night ``replay_days`` before the op's, so the
        warehouse holds partitions outside every op's window.  Runs after
        the warm-up op, whose dashboard is checked against an oracle that
        knows only the op's window."""
        api.run_incremental(ctx.spark, ctx.corpus, STREAMS,
                            self.run_date - dt.timedelta(days=self.replay_days),
                            self.warehouse)
        window = self.window()
        self.history = {p: f for p, f in snapshot(self.table_dir).items()
                        if p not in window}

    def cleanup(self, ctx: Ctx) -> None:
        ctx.spark.catalog.clearCache()

    def before_op(self) -> None:
        self._before = snapshot(self.table_dir)

    def after_op(self) -> bool:
        rep = rewrite_report(self._before, snapshot(self.table_dir), self.window())
        self.writes.append(rep)
        return rep["ok"]

    def check(self, ctx: Ctx, fetched: dict) -> dict[str, bool]:
        """The warm-up op's dashboard; the op's window of the streams table
        as the last op left it in the warehouse; and the earlier night's
        partitions, still as they were written."""
        load_queries()
        con = duck_con(ctx.corpus)
        stored = _fetch_spark(ctx.spark.read.option("basePath", self.table_dir).parquet(
            *(os.path.join(self.table_dir, p) for p in sorted(self.window()))))
        final = snapshot(self.table_dir)
        return {
            "model_dashboard_channel_weekly": same_rows(
                fetched["model_dashboard_channel_weekly"],
                oracle(con, ORACLES["model_dashboard_channel_weekly"])),
            "model_streams_daily_v4": same_rows(
                stored, oracle(con, ORACLES["model_streams_daily_v4"])),
            "earlier_night_untouched": bool(self.history) and all(
                final.get(p) == files for p, files in self.history.items()),
        }


# -- curation_ops --------------------------------------------------------------

# pipeline_end_to_end (a composed funnel over these same kernels) and
# text_quality_score (a cheap scalar score) are left out to keep a run inside
# the benchmark's time budget; see README.md.
CURATION_IDS = (
    "dedup_simhash",
    "dedup_containment",
    "dedup_cluster_canonical",
    "sim_ann_ivf",
    "emb_kmeans_train",
)

# The recursive-CTE oracle of dedup_cluster_canonical takes minutes even on
# 500 documents, and its pair self-join tens of seconds.  The check takes the
# oracle's own trigram shingles from DuckDB, applies the oracle's pair
# predicate with Python sets and closes the pair graph with a union-find.
_CC_SPLIT = "), pairs AS ("


def cluster_canonical_oracle(con) -> tuple[pd.DataFrame, dict[str, str]]:
    """The oracle's rows and dtype classes, as ``oracle`` returns them (the
    benchmark's tests pin both equal to the recursive oracle's)."""
    sql = ORACLES["dedup_cluster_canonical"]
    if _CC_SPLIT not in sql:
        raise RuntimeError("dedup_cluster_canonical oracle changed shape")
    shingles = [(d, set(s)) for d, s in con.execute(
        sql.split(_CC_SPLIT)[0] + ") SELECT doc_id, s FROM sh ORDER BY doc_id").fetchall()]
    docs = [r[0] for r in con.execute("SELECT doc_id FROM documents").fetchall()]
    parent = {d: d for d in docs}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for i, (a, sa) in enumerate(shingles):
        for b, sb in shingles[i + 1:]:
            if round(len(sa & sb) / len(sa | sb), 6) >= JACCARD_THRESHOLD:
                ra, rb = find(a), find(b)
                if ra != rb:
                    parent[max(ra, rb)] = min(ra, rb)
    canon = [find(d) for d in docs]
    rows = pd.DataFrame({"doc_id": docs, "canonical_id": canon,
                         "keep": [d == c for d, c in zip(docs, canon)]})
    return rows, {c: _dtype_class(rows[c]) for c in rows.columns}


class CurationOps:
    """One pass of the curation kernels: each query built, executed, then
    the cache cleared."""

    name = "curation_ops"

    def setup(self, ctx: Ctx) -> None:
        load_queries()

    def op(self, ctx: Ctx) -> dict:
        out = {}
        for qid in CURATION_IDS:
            with ctx.span("queries.build"):
                df = QUERIES[qid](ctx.spark, ctx.corpus)
            out[qid] = ctx.execute(df)
            ctx.spark.catalog.clearCache()
        return out

    def after_warmup(self, ctx: Ctx) -> None:
        pass

    def cleanup(self, ctx: Ctx) -> None:
        pass

    def before_op(self) -> None:
        pass

    def after_op(self) -> bool:
        return True

    def check(self, ctx: Ctx, fetched: dict) -> dict[str, bool]:
        """The warm-up op's outputs."""
        con = duck_con(ctx.corpus)
        res = {}
        for qid, got in fetched.items():
            want = (cluster_canonical_oracle(con) if qid == "dedup_cluster_canonical"
                    else oracle(con, ORACLES[qid]))
            res[qid] = same_rows(got, want)
        return res


WORKLOADS = {w.name: w for w in (NightlyDag, CurationOps)}
