"""The benchmark's workloads and what each per-layer metric is expected to move.

Each workload is a closed loop: one client on one thread sends the next query
only after the previous one has finished, as the weather board's
poll-render-sleep loop does.  A pass runs every key of the workload once, in
an order drawn from the run's seed.

BENCHMARK.json names the workloads and the metrics; the key lists live here.
"""

from __future__ import annotations

WORKLOADS: dict[str, tuple[str, ...]] = {
    # Many short queries: per-query fixed cost dominates -- parquet schema
    # inference inside session.load_table, job launch, and register_views
    # for the SQL-view keys s16 and s76.  A footer-derived schema change
    # should show here first.
    "board_refresh": (
        "r07b_code_to_text_map_expr",
        "r08_icon_banded_case",
        "r09_12_display_formatting",
        "r14_conditions_board",
        "r16_trig_icon_geometry",
        "r20_unit_conversion",
        "s03_filter_predicates",
        "s04c_semi_anti_join",
        "s05d_count_distinct",
        "s07_global_topk",
        "s16_sql_api_shipping_priority",
        "s20_q6_forecast_revenue",
        "s62_q4_order_priority",
        "s76_parameterized_sql",
    ),
    # Streaming and write-path keys: state-store files, checkpoints and
    # staged parquet under session.scratch_base(), plus the Python stream
    # source in sources.open_meteo (r21).  Nearly all time is inside fn();
    # scratch placement and heap sizing should show here.
    "stream_ingest": (
        "s14b_stream_latest_board",
        "s14e_stateful_running_totals",
        "s24_file_sink_exactly_once",
        "r21_open_meteo_stream_replay",
        "s02_parquet_sink_roundtrip",
        "s41_write_audit_publish",
    ),
}

# Per-layer metric (or metric prefix) -> (end-to-end metric it should move,
# workloads where it should move it).  Written down before measuring; a
# change that moves a layer elsewhere has not done what it claimed.
EXPECTED_MOVES: dict[str, tuple[str, tuple[str, ...]]] = {
    "session.build_session_s": ("setup_s", ("board_refresh", "stream_ingest")),
    "session.load_table": ("pass_s, query_p50_s", ("board_refresh",)),
    "session.scratch_bytes": ("pass_s, process.peak_rss_mb", ("stream_ingest",)),
    "registry.fn": ("query_tail_s, pass_s", ("stream_ingest",)),
    "catalyst.plan_s": ("query_p50_s", ("board_refresh",)),
    "sink.": ("pass_s", ("board_refresh",)),
    "spark.build.": ("pass_s", ("board_refresh", "stream_ingest")),
    "spark.write.": ("pass_s", ("board_refresh",)),
    "streaming.": ("pass_s, query_tail_s", ("stream_ingest",)),
    "jvm.": ("process.peak_rss_mb, query_tail_s", ("board_refresh", "stream_ingest")),
}
