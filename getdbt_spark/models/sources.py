"""Source-layer models — thin views over declared raw tables.

Mirrors ``models/source/{ingest_latest,static}/*.sql`` plus the two
intermediary passthroughs: every one is ``select *`` except
``quintly_youtube_allchannels_weekly``, which keeps only the newest
``partitionDate`` snapshot and drops the partition column
(``quintly_youtube_allchannels_weekly.sql:7-13`` — the
``scan_latest_partition`` operator).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..registry import DQTest, model

# Column tests on the source layer (→ dbt schema.yml; the reference
# ships none — SURVEY §5.1 — so these assert OUR fixture invariants:
# the episode dim's key really is a key, the enum columns really are
# enums, every vertaaltabel series maps into the dim).  Two tests are
# EXPECTED to fail with deterministic counts (nullable Naam, the
# many-episodes-per-series Serie_mid) — n_failures is the output, and
# the driver oracle pins it; dq.run_dq reports, it does not raise.
_DQ: dict[str, list[DQTest]] = {
    "dim_poms_episodes": [
        DQTest("unique", "episode_id"),
        DQTest("not_null", "episode_id"),
        DQTest(
            "accepted_values", "episode_type", values=("BROADCAST", "CLIP")
        ),
        DQTest("not_null", "start_linear_first_broadcast"),
    ],
    "360_graden_rapportage_vertaaltabel_upload_20_21": [
        DQTest("not_null", "Naam"),
        DQTest("unique", "Serie_mid"),
        DQTest(
            "relationships",
            "Serie_mid",
            to="dim_poms_episodes",
            to_field="series_ref",
        ),
    ],
    "advantedge_tv_viewer_density_per_show_daily_v1": [
        DQTest("accepted_values", "RepeatType", values=("FIRST", "RERUN")),
        DQTest("not_null", "kdh"),
    ],
    "media_events": [
        DQTest("not_null", "d_uv_id"),
        DQTest("not_null", "d_date_hour_event"),
    ],
}

_PASSTHROUGH = (
    # (model name, fixture/source table) — reference file of each is the
    # same-named one-line `select *` model (SURVEY.md §2.1 scan_direct_table).
    "media_events",
    "advantedge_tv_viewer_density_per_show_daily_v1",
    "audiovisual_metadata_poms_metadata_v1",
    "quintly_facebook_pages_weekly",
    "quintly_instagram_pages_weekly",
    "live_stream_name_mapping_v1",
    "360_graden_rapportage_vertaaltabel_upload_20_21",
    "dim_poms_episodes",
    "atinternet_smarttag_pages_weekly_v2",
    "atinternet_smarttag_pages_programmes_weekly_v2",
)


def _register_passthrough(name: str) -> None:
    @model(name, sources=[("npo", name)], dq_tests=_DQ.get(name, ()))
    def _m(ctx, _name=name):
        return ctx.source("npo", _name)

    _m.__name__ = name
    _m.__doc__ = f"`select *` passthrough view (reference {name}.sql:1)."


for _name in _PASSTHROUGH:
    _register_passthrough(_name)


@model(
    "quintly_youtube_allchannels_weekly",
    sources=[("npo", "quintly_youtube_allchannels_weekly_raw")],
)
def quintly_youtube_allchannels_weekly(ctx):
    """Latest-partition dedup + ``* EXCEPT(partitionDate)``
    (``quintly_youtube_allchannels_weekly.sql:7-13``).

    Spark shape: the reference's own ``WHERE partitionDate = (SELECT
    MAX(partitionDate) ...)`` — a scalar subquery, so the build runs
    no job (a max-over-empty-window would funnel the table through a
    single partition).  An empty source yields NULL, so zero rows."""
    raw = ctx.source("npo", "quintly_youtube_allchannels_weekly_raw")
    latest = raw.select(F.max("partitionDate")).scalar()
    return raw.filter(F.col("partitionDate") == latest).drop("partitionDate")
