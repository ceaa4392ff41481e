"""Empirical scaling audit: per-decade scaling exponents.

Plan inspection (PLANS.md) argues each operator *should* scale; this
tool MEASURES it: queries and flagship models run at a list of scale
factors (10× data steps) in one warm session, and the observed
scaling exponent α = log10(t_next / t_prev) per decade is reported.
Reading:

- α ≈ 0      fixed-overhead-bound at these sizes (scheduling, codegen,
             broadcast builds) — data cost invisible; fine.
- α ≈ 1      linear — scan/shuffle-bound, the expected asymptote for
             every operator in this engine.
- α > 1.3    superlinear — a quadratic-ish term is growing faster than
             the data; at 100 TB this operator is a bug.  Flagged ⚠.

The LAST decade is the signal; the first mostly measures overhead.
Absolute numbers are host-dependent (see bench.py's canary); exponents
are not.

One timing loop, bench.py's methodology: warm-up, noop sink, min of
two reps per (id, sf), SQL cache cleared between reps, model DAGs in
production checkpoint mode.

Usage:
  python tools/scaling_curve.py                      # writes SCALING.md
  python tools/scaling_curve.py --sf 0.1,1 --ids a,b # prints table rows
  python tools/scaling_curve.py --sf 1,10 --ids a,b  # also merges the
                                                     # rows into
                                                     # SCALING_SF10.json
                                                     # (needs sf1 AND
                                                     # sf10 in --sf)

sf0.001–0.1 are the test corpora; sf1 and sf10 come from
``tools/gen_sf1.py`` under ``.scale_data/`` (sf10 stacks the growth
law twice: ``GEN_SF_SRC=.scale_data/sf1``, prefix ``d``).
"""

from __future__ import annotations

import argparse
import json
import math
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

DEFAULT_SFS = ["0.001", "0.01", "0.1"]  # + "1" when generated

# One representative per plan family.
SUBSET = [
    "agg_two_stage",          # groupBy chain
    "join_full_outer",        # shuffle join
    "win_row_number_dedup",   # window
    "filter_partition_window",# pruned scan
    "fn_math_pipeline",       # codegen'd projection
    "dedup_exact",            # hash dedup
    "dedup_minhash_lsh",      # banded LSH + Arrow kernel
    "dedup_ngram_jaccard",    # prefix-filter join
    "sim_topk_cosine",        # block matrix product
    "sim_ann_ivf",            # bucketed ANN
    "text_paragraph_dedup",   # explode→df→join back
    "emb_kmeans_train",       # iterative trainer
    "text_decontaminate",     # broadcast semi-join
    "pack_token_budget",      # single-exchange window
    "join_asof_nearest",      # the reference's signature as-of match
    "streaming_session_stats",# session_window sessionization (batch twin)
    "win_forward_fill",       # analytic-window extension family
]

# Flagship end-to-end models (VERDICT r4 #6: the dashboard's 100×
# claim rested on plan shape alone).
MODEL_SUBSET = ["model_streams_daily_v4", "model_dashboard_channel_weekly"]


def sf_dir(label: str) -> str:
    """Directory of scale factor ``label``: a test corpus beside the
    CLI's default one, else the generated ``.scale_data/sf<label>``."""
    from getdbt_spark.__main__ import DEFAULT_SF_DIR

    test = os.path.join(os.path.dirname(DEFAULT_SF_DIR), f"sf{label}")
    return test if os.path.isdir(test) else os.path.join(
        REPO, ".scale_data", f"sf{label}"
    )


def _time(spark, name: str, sf: str) -> float:
    """Min of two noop-sink runs of query or model ``name`` at ``sf``."""
    from getdbt_spark.queries import QUERIES
    from getdbt_spark.queries.model_queries import _MODEL_QUERIES, _run_model

    best = float("inf")
    for _rep in range(2):
        t0 = time.perf_counter()
        if name in _MODEL_QUERIES:
            df = _run_model(
                spark, sf_dir(sf), _MODEL_QUERIES[name][0], reuse="checkpoint"
            )
        else:
            df = QUERIES[name](spark, sf_dir(sf))
        df.write.format("noop").mode("overwrite").save()
        best = min(best, time.perf_counter() - t0)
        spark.catalog.clearCache()
    return best


def _alphas(ts: list[float]) -> list[float]:
    return [
        math.log10(ts[i + 1] / ts[i]) if ts[i] > 0 else float("nan")
        for i in range(len(ts) - 1)
    ]


def _rows(times: dict[str, list[float]]) -> list[str]:
    """Markdown rows, slowest at the largest SF first."""
    rows = []
    for name, ts in sorted(times.items(), key=lambda kv: -kv[1][-1]):
        alphas = _alphas(ts)
        mark = "⚠" if alphas and alphas[-1] > 1.3 else "ok"
        rows.append(
            f"| {name} | "
            + " | ".join([f"{x:.2f}" for x in ts] + [f"{a:+.2f}" for a in alphas])
            + f" | {mark} |"
        )
    return rows


def _header(first: str, sfs: list[str]) -> list[str]:
    cols = [f"t({s}) s" for s in sfs] + [
        f"α{i + 1}" for i in range(len(sfs) - 1)
    ]
    return [
        f"| {first} | " + " | ".join(cols) + " | verdict |",
        "|---|" + "---|" * (len(cols) + 1),
    ]


def _write_scaling_md(sfs, q_times, m_times) -> None:
    rows, model_rows = _rows(q_times), _rows(m_times)
    flagged = sum(r.endswith("⚠ |") for r in rows + model_rows)
    out = [
        "# SCALING — measured per-decade scaling exponents",
        "",
        "Generated by `python tools/scaling_curve.py`: each query runs",
        f"at sf{' / '.join(sfs)} (10× data per step; sf1 via",
        "`tools/gen_sf1.py`), one warm session, min of two reps, cache",
        "cleared between runs.  α = log10(t_next/t_prev) per decade:",
        "≈0 overhead-bound, ≈1 linear (the design asymptote), >1.3",
        "superlinear = ⚠ scale bug.  The LAST decade is the signal;",
        "absolute seconds are host-dependent, exponents are not.",
        "",
        *_header("query", sfs),
        *rows,
        "",
        "## Flagship models",
        "",
        "Production materialization mode (`reuse=\"checkpoint\"`, the",
        "full model DAG under one timing).  sf1 is generated by",
        "`tools/gen_sf1.py` — key-shifted 10× replication of sf0.1",
        "following the driver generator's own growth law (facts 10×,",
        "catalogs fixed), so the 0.1 → 1 decade measures the engine on",
        "the corpus family's real growth, not a synthetic worst case.",
        "",
        *_header("model", sfs),
        *model_rows,
        "",
        f"Flagged superlinear: {flagged}.",
        "",
        "Caveats: sub-second timings are dominated by fixed scheduling/",
        "codegen cost, which *deflates* α (the data term is invisible);",
        "a query can only earn ⚠ by growing faster than the data across",
        "a full decade, which fixed costs cannot cause.  dedup_* on the",
        "synthetic ~20-word vocabulary carries documented candidate",
        "inflation (SCALE.md) — their α reflects that corpus, not the",
        "algorithm's asymptote on natural text.  sim_topk_cosine is",
        "O(n²) BY CONTRACT (it is the exactness baseline the ANN",
        "operators exist to replace); its flat α here means the",
        "quadratic term hasn't crossed the overhead floor yet at",
        "these sizes, not that it scales.",
    ]
    with open(os.path.join(REPO, "SCALING.md"), "w") as fh:
        fh.write("\n".join(out) + "\n")
    print(f"SCALING.md written ({len(rows)} queries, {flagged} flagged)")


def _merge_sf10(sfs, times, canary_spark) -> None:
    """Merge the sf1/sf10 times into SCALING_SF10.json: a subset run
    must not drop the committed rows for the other ids, and each row's
    two times come from one session."""
    import bench

    path = os.path.join(REPO, "SCALING_SF10.json")
    queries = {}
    if os.path.exists(path):
        with open(path) as fh:
            queries = json.load(fh).get("queries", {})
    for name, ts in times.items():
        row = {
            f"sf{s}": round(t, 3)
            for s, t in zip(sfs, ts)
            if s in ("1", "10")
        }
        row["alpha4"] = round(math.log10(row["sf10"] / row["sf1"]), 2)
        queries[name] = row
    with open(path, "w") as fh:
        json.dump(
            {
                "metric": "heavy_family_sf10_decade",
                "queries": queries,
                "canary_cpu_sec": bench._host_canary(),
                "canary_spark_sec": canary_spark,
                "passes": 2,
                "superlinear": [
                    q
                    for q, r in queries.items()
                    if (r.get("alpha4") or 0) > 1.3
                ],
            },
            fh,
            indent=1,
        )
    print(f"SCALING_SF10.json merged ({len(times)} ids)")


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--sf", help="comma-separated scale factors")
    ap.add_argument("--ids", help="comma-separated query/model ids")
    args = ap.parse_args()

    import bench
    from getdbt_spark.queries import QUERIES, load_all
    from getdbt_spark.queries.model_queries import _MODEL_QUERIES
    from getdbt_spark.session import get_spark

    load_all()
    sfs = args.sf.split(",") if args.sf else DEFAULT_SFS + (
        ["1"] if os.path.isdir(sf_dir("1")) else []
    )
    missing = [s for s in sfs if not os.path.isdir(sf_dir(s))]
    if missing:
        raise SystemExit(f"missing {missing}; run tools/gen_sf1.py first")
    names = (
        args.ids.split(",")
        if args.ids
        else [q for q in SUBSET if q in QUERIES] + MODEL_SUBSET
    )
    spark = get_spark(app_name="scaling_curve")
    bench._warmup(spark, sf_dir(sfs[0]))
    canary_spark = bench._spark_canary(spark)

    times: dict[str, list[float]] = {}
    for name in names:
        times[name] = [_time(spark, name, s) for s in sfs]
        print(f"# {name}: {times[name]}", file=sys.stderr)

    if {"1", "10"} <= set(sfs):
        _merge_sf10(sfs, times, canary_spark)
    if args.ids:
        print("\n".join(_header("id", sfs) + _rows(times)))
        return
    _write_scaling_md(
        sfs,
        {n: t for n, t in times.items() if n not in _MODEL_QUERIES},
        {n: t for n, t in times.items() if n in _MODEL_QUERIES},
    )


if __name__ == "__main__":
    main()
