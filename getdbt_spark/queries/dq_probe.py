"""Driver-visible degenerate-input probe (VERDICT r9 #7).

Round 6's registry-wide sweeps (``tests/test_empty_corpus.py``) found
and fixed 26 crash classes on zero-row and all-NULL corpora — but that
hardening lived only in pytest, invisible to the driver's per-round
gate.  ``dq_degenerate_probe`` registers a representative operator
battery as a first-class query: it materializes a zero-row corpus and
an all-NULL-documents corpus from the live ``sf_dir`` schemas, runs
REAL registered operators (the same ``QUERIES`` entries the driver
verifies) over each, and returns the per-operator row-count table.
The DuckDB oracle replays every battery operator's own registered
oracle over identically-degenerate CTE views, so a regression in any
operator's empty/NULL semantics — a crash OR a silent row-count
drift — turns this id red in ``CORRECTNESS_r{N}.json``.

At 100 TB the degenerate case is routine, not exotic: a new tenant's
empty slice, a pruned date range, a feed outage writing NULL payloads.
The probe's own cost is bounded by construction — the battery runs on
zero or |documents| rows regardless of corpus scale.
"""

from __future__ import annotations

import re

from pyspark.sql import functions as F

from .. import functions as E
from . import ORACLES, query

# The battery: one representative, oracle-checked operator per family
# whose degenerate behavior the round-6 sweeps hardened.  Doc ops run
# on BOTH probes; table ops only on the empty probe (the all-NULL
# probe nulls document payload columns specifically).
_DOC_OPS = [
    "text_token_stats",        # tokenization on NULL text ≡ empty text
    "text_quality_score",      # ratio metrics with zero denominators
    "text_langid",             # classifier on NULL text + NULL label
    "dedup_exact",             # hash-groupBy over NULL fingerprints
    "dedup_minhash_lsh",       # shingle kernel on zero shingles
    "dsir_importance_weights", # bucket stats over an empty token feed
    "quality_nb_score",        # trained artifact over a degenerate corpus
]
_TABLE_OPS = [
    "sim_topk_cosine",         # ANN over zero vectors
    "agg_basic",               # aggregate over zero fact rows
    "win_row_number_dedup",    # window over zero fact rows
]
# Round-11 additions (VERDICT r10 #6): the fourth-batch operators'
# degenerate-input risks, each on the probe that triggers it.
_EMB_OPS = [
    "emb_whitening",           # all-constant dims → every z NULL
    "emb_pca_power_iteration", # zero/constant matrix → no principal axis
]
_SRC_OPS = [
    "mix_epoch_schedule",           # single-source Hamilton (catalog of 1)
    "mix_token_budget_allocation",  # whole budget to the only source
]
_GRAPH_OPS = [
    "doc_pagerank_winnow",     # edgeless graph → all docs dangling
]
# Round-12 addition: the deployment ANN stack (normalize + K=256 +
# multiprobe + IVFADC+R re-rank).  zeroemb is the probe that found
# this round's ANSI DIVIDE_BY_ZERO in the unit-normalizer (every
# vector zero-norm → all dropped, empty verdict, no abort); constemb
# collapses every unit vector to one point (all ADC distances tie →
# pure tie-break ordering, candidate mass |emb|² in ONE cell — fine
# at probe scale, and the tie-break totality is exactly what the
# hash gate then checks).
_NPQ_OPS = [
    "sim_ann_ivfpq_normalized",
    # round-13: the corpus-scaled-k dial — its count()-anchored k
    # must survive the same empty/constant/zero/NULL-component
    # corpora (k floors at 8 when the valid count is 0)
    "sim_ann_ivfpq_scaled_k",
]

_TABLES = ["documents", "lineitem", "embeddings"]

# (probe name, oracle CTE suffix, operator list) — one probe corpus per
# pathology; ops run on every probe that can trigger their risk.
_BATTERY = [
    (
        "empty",
        "e",
        _DOC_OPS + _TABLE_OPS + _EMB_OPS + _SRC_OPS + _GRAPH_OPS + _NPQ_OPS,
    ),
    ("nulldoc", "n", _DOC_OPS + _GRAPH_OPS),
    ("constemb", "c", _EMB_OPS + _NPQ_OPS),
    ("zeroemb", "z", _EMB_OPS + _NPQ_OPS),
    ("onesrc", "s", _SRC_OPS),
    # Round-13 addition (r12 ADVICE): NULL-component vectors on half
    # the corpus — the one pathology where DuckDB and Spark natively
    # disagree (list_sum SKIPS NULL elements; the Spark fold
    # propagates them), so an oracle missing its NULL-component guard
    # diverges HERE, not on the zero/NaN/Inf probes.  Half the corpus
    # stays valid so the parity check covers both the dropped and the
    # surviving populations.
    ("nullcomp", "u", _NPQ_OPS),
]


def _rewire(sql: str, suffix: str) -> str:
    """Re-point an oracle's base-table references at the degenerate
    CTE views (``documents`` → ``documents_e`` etc.).  Word-boundary
    replace — the battery oracles reference tables as plain tokens
    (asserted by the probe's own hash gate: a miss would produce a
    DuckDB binder error, not a silent wrong answer)."""
    for t in _TABLES:
        sql = re.sub(rf"\b{t}\b", f"{t}_{suffix}", sql)
    return sql


def _degen_oracle() -> str:
    defs = """
    documents_e AS (SELECT * FROM documents WHERE false),
    lineitem_e AS (SELECT * FROM lineitem WHERE false),
    embeddings_e AS (SELECT * FROM embeddings WHERE false),
    documents_n AS (
      SELECT doc_id, NULL::VARCHAR AS text, NULL::VARCHAR AS lang,
             NULL::VARCHAR AS source, n_chars
      FROM documents
    ),
    embeddings_c AS (
      SELECT * REPLACE ([0.5 for x in embedding] AS embedding)
      FROM embeddings
    ),
    embeddings_z AS (
      SELECT * REPLACE ([0.0 for x in embedding] AS embedding)
      FROM embeddings
    ),
    documents_s AS (
      SELECT * REPLACE ('src0' AS source) FROM documents
    ),
    embeddings_u AS (
      SELECT * REPLACE (
        CASE WHEN vec_id % 2 = 0
             THEN list_concat([NULL::FLOAT], embedding[2:])
             ELSE embedding END AS embedding)
      FROM embeddings
    )"""
    arms = []
    first = True
    for probe, suffix, ops in _BATTERY:
        for op in ops:
            cols = (
                " AS probe, '{op}' AS operator,\n" if first else ", '{op}',\n"
            ).format(op=op)
            arms.append(
                f"SELECT '{probe}'{cols}"
                f"       (SELECT count(*) FROM "
                f"({_rewire(ORACLES[op], suffix)}) q)"
                f"::BIGINT{' AS n_rows' if first else ''}"
            )
            first = False
    return "WITH " + defs + "\n" + "\nUNION ALL\n".join(arms)


@query("dq_degenerate_probe", oracle=_degen_oracle())
def dq_degenerate_probe(spark, sf_dir):
    """Run the degenerate-input battery and return
    ``(probe, operator, n_rows)`` — one row per (corpus pathology,
    representative operator).

    The probe corpora are derived from the LIVE ``sf_dir`` schemas
    (``limit(0)`` writes and NULL-cast payload columns), written once
    to a session temp dir, and the battery calls the REGISTERED query
    builders against them — the probe exercises production code paths,
    not re-implementations.  A battery operator that crashes fails the
    whole id (the driver sees ``err``); one whose degenerate row count
    drifts from its own oracle's replay hash-mismatches.  The counts
    are one lazy report (``functions.count_report``): the caller's
    action counts every operator's output, with no driver round trip.

    Scale: every battery input is 0, |documents| or |embeddings| rows
    by construction; the only full-scale work is the map-side
    column-rewrite scans that build the degenerate variants (all-NULL
    documents, constant/zero embedding matrices, single-source
    catalog).
    """
    import tempfile

    from . import QUERIES

    base = tempfile.mkdtemp(prefix="dq_degen_probe_")
    for t in _TABLES:
        df = spark.read.parquet(f"{sf_dir}/{t}.parquet")
        df.limit(0).write.mode("overwrite").parquet(
            f"{base}/empty/{t}.parquet"
        )
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    types = dict(d.dtypes)
    dn = d
    for c in ("text", "lang", "source"):
        dn = dn.withColumn(c, F.lit(None).cast(types[c]))
    dn.write.mode("overwrite").parquet(f"{base}/nulldoc/documents.parquet")
    # round-11 probes: constant / zero embedding matrices (whitening's
    # all-NULL-z and the power iteration's no-principal-axis cases)
    # and the single-source catalog (Hamilton over a catalog of one)
    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    for name, val in (("constemb", 0.5), ("zeroemb", 0.0)):
        e.withColumn(
            "embedding",
            F.transform("embedding", lambda x: F.lit(val).cast("float")),
        ).write.mode("overwrite").parquet(
            f"{base}/{name}/embeddings.parquet"
        )
    d.withColumn("source", F.lit("src0")).write.mode("overwrite").parquet(
        f"{base}/onesrc/documents.parquet"
    )
    e.withColumn(
        "embedding",
        F.when(
            F.col("vec_id") % 2 == 0,
            F.concat(
                F.array(F.lit(None).cast("float")),
                F.slice("embedding", 2, F.size("embedding") - 1),
            ),
        ).otherwise(F.col("embedding")),
    ).write.mode("overwrite").parquet(f"{base}/nullcomp/embeddings.parquet")

    return E.count_report(
        "probe string, operator string",
        [
            ((probe, op), "n_rows", QUERIES[op](spark, f"{base}/{probe}"))
            for probe, _suffix, ops in _BATTERY
            for op in ops
        ],
    )
