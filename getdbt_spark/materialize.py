"""The materialization boundary: the one place where builder code
(``pipeline``, ``functions``, ``runner``, ``models/``, ``queries/``)
runs an eager Spark job.  Builders return lazy DataFrames, the way dbt
compiles a model and leaves the data work to its materialization; a
builder that needs data first calls ``cut``, ``measure`` or ``rows``
with a ``reason``, and every job the verb runs carries the Spark job
tag ``materialize:<reason>``.

The eager sites, one line of reason per family:

- runner checkpoints (``model:<name>``): ``Runner.run(reuse=
  "checkpoint")`` cuts each intermediate model so Catalyst stops
  re-analysing the inlined upstream plans;
- CC rounds: ``pipeline.connected_components`` cuts every star round
  and reads one convergence flag — the loop bound is data;
- trainer rounds: k-means/PQ codebooks, PCA power iteration, BPE
  merges, PageRank and NB tables — each round's model is the next
  round's literal;
- measured shingle tables: ``pipeline.shingle_table`` and the other
  Arrow-kernel stages a join plans against (Catalyst sizes a Python
  kernel from its input columns, ~50× low: the sf10 broadcast OOM);
- scalar anchors (``io.scalar_anchor``): run dates, totals and bounds
  injected as literals, so they prune or size the plan;
- slice offsets: ``functions``' global rank/cumsum helpers fold
  per-slice counts into broadcast offsets.
"""

from __future__ import annotations

from contextlib import contextmanager

from pyspark import StorageLevel
from pyspark.sql import DataFrame, Row

from .session import durable_checkpoints


@contextmanager
def _tagged(df: DataFrame, reason: str):
    sc = df.sparkSession.sparkContext
    tag = f"materialize:{reason}"
    sc.addJobTag(tag)
    try:
        yield
    finally:
        sc.removeJobTag(tag)


def cut(df: DataFrame, reason: str, *, eager: bool = True) -> DataFrame:
    """Cut ``df``'s lineage: every consumer reads one materialization
    through a constant-depth plan.  ``eager=False`` runs no job here;
    the first consuming action materializes it.

    With a durable checkpoint dir (``session.durable_checkpoints``)
    the cut writes reliable files; eager persists first, so the file
    write (a second job) reads blocks instead of recomputing.  Locally
    the executors are the driver, and files would add only a round
    trip: ``localCheckpoint``.  Not ``persist()``: cached plans match
    by logical plan, so a build over rewritten source files could be
    served old data; checkpoints never match."""
    with _tagged(df, reason):
        if not durable_checkpoints(df.sparkSession):
            return df.localCheckpoint(eager=eager)
        if not eager:
            return df.checkpoint(eager=False)
        cached = df.persist(StorageLevel.MEMORY_AND_DISK)
        try:
            return cached.checkpoint(eager=True)
        finally:
            cached.unpersist()


def measure(df: DataFrame, reason: str) -> DataFrame:
    """Persist ``df`` (MEMORY_AND_DISK: a large run spills instead of
    evicting) and count it, so downstream plans read the cache's
    measured size.  Not a cut: a checkpoint keeps the static estimate,
    orders of magnitude low below an expanding Arrow kernel, and the
    planner then broadcasts a data-sized side (the sf10 OOM).  The
    count is the traversal the first consumer would pay anyway."""
    out = df.persist(StorageLevel.MEMORY_AND_DISK)
    with _tagged(df, reason):
        out.count()
    return out


def rows(df: DataFrame, reason: str) -> list[Row]:
    """Collect ``df`` to the driver: a small answer — a scalar anchor,
    a model-sized codebook, per-slice counts — never data-sized."""
    with _tagged(df, reason):
        return df.collect()
