"""The benchmark's workloads: which registered queries a pass runs.

A pass runs every query of its workload once, in an order drawn from
the run's seed.  ``fresh_root`` gives every pass an empty temp root
(``tempfile.tempdir``), so staging, txn-log commits, compaction,
matcache builds and streaming sinks write again on every pass instead
of finding an earlier pass's output.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class Workload:
    name: str
    queries: tuple[str, ...]
    fresh_root: bool


WORKLOADS = {
    w.name: w
    for w in (
        # The reference app's operator surface: short queries whose
        # fixed per-query cost (build, plan, job launch) dominates.
        Workload(
            "console",
            (
                "flagship_range_counts",
                "anti_join_exclude_sent",
                "semi_join_fetch_selected",
                "capacity_distribution",
                "distribution_summary",
                "egress_batch_metadata",
                "egress_retry_audit",
                "filter_eq_segment",
                "filter_ilike_substring",
                "filter_isnull_bucket",
                "filter_isin_list",
                "pagination_offset_limit",
                "sort_topk_orders",
                "agg_sent_counts_by_segment",
                "project_whitelist_coalesce",
                "ingest_json_parse",
                "ingest_quarantine_bad_records",
                "ledger_merge_upsert",
                "window_topk_per_group",
                "agg_capacity_arithmetic",
            ),
            fresh_root=False,
        ),
        # The write path, all from an empty temp root: eager writes
        # inside the query call (small-file staging and compaction, a
        # format round trip, a dynamic partition overwrite, a bucketed
        # table), a streaming sink committing to a txn log, and a
        # matcache build (the co-purchase pair table behind the graph
        # operators).  bucketed_colocated_join stages its bucketed
        # tables once per session catalog, so every timed pass reads
        # the correctness pass's files instead of writing again; it
        # stays in so a fix shows in the per-pass write counts.
        Workload(
            "lake_write",
            (
                "layout_compact_small_files",
                "bucketed_colocated_join",
                "layout_dynamic_partition_overwrite",
                "source_csv_roundtrip",
                "streaming_txn_log_sink",
                "graph_bfs_hops",
            ),
            fresh_root=True,
        ),
    )
}
