"""The benchmark's workloads and what each layer metric should move.

A workload is a fixed list of registry ops run in order, one pass after
another, by one client. Each workload reads the tables in ``tables``; the
warm-up of every set-up scans exactly those.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class Workload:
    ops: tuple[str, ...]
    tables: tuple[str, ...]
    why: str
    # Timed passes a run makes at least. A run also pays for the JVM start and
    # an untimed check pass that costs about two warm passes; dedup_daily's
    # passes are long enough that only one more fits the run's time budget.
    min_passes: int = 2


WORKLOADS = {
    "fraud_graph": Workload(
        ops=(
            "q22_connected_components",
            "q23_pagerank",
            "q111_shortest_paths",
            "q142_strongly_connected",
        ),
        tables=("events",),
        why=(
            "The fraud graph stage on the short-diameter event co-occurrence "
            "graph: each op builds the edges, then CC, PageRank, BFS or SCC "
            "fires 20-65 jobs with little final execution."
        ),
    ),
    "dedup_daily": Workload(
        ops=(
            "q264_standing_labels_report",
            "q265_incremental_cluster_maintenance",
        ),
        tables=("documents",),
        min_passes=1,
        why=(
            "The incremental near-dup loop: a bucketed standing-table write "
            "and label maintenance, about 40-100 jobs per op, most of them "
            "fixed per-op cost since the sampled near-dup graph is small."
        ),
    ),
}

# (per-layer metrics, end-to-end metrics they should move, where they move)
LAYER_EXPECTATIONS = (
    (("registry.build_s", "registry.build_jobs", "spark.jobs", "spark.no_task_s"),
     ("pass_s", "op_tail_s"),
     "both; dedup_daily most"),
    (("graph.cc_s", "graph.cc_jobs"),
     ("op_tail_s", "pass_s"),
     "dedup_daily most; fraud_graph through q22 only"),
    (("graph.pagerank_s", "graph.pagerank_jobs", "graph.bfs_s", "graph.bfs_jobs",
      "graph.scc_s", "graph.scc_jobs"),
     ("op_p50_s", "pass_s"),
     "fraud_graph; flat on dedup_daily"),
    (("dedup.labels_s", "dedup.labels_jobs", "dedup.update_s", "dedup.update_jobs",
      "dedup.pairs_s", "dedup.pairs_jobs"),
     ("pass_s", "op_tail_s"),
     "dedup_daily; flat on fraud_graph"),
    (("sources.write_s", "sources.bytes_written"),
     ("pass_s",),
     "dedup_daily; a cheaper probe bought with a dearer write shows here"),
    (("sources.load_s",),
     ("pass_s", "op_p50_s"),
     "both; parquet listing, footer and schema reads, the events timestamp rebuild"),
    (("registry.exec_s", "registry.exec_jobs", "spark.task_run_s", "spark.task_cpu_s",
      "spark.shuffle_read_bytes", "spark.shuffle_write_bytes", "sources.files_read",
      "sources.bytes_read"),
     ("pass_s", "op_p50_s", "pass_cpu_s"),
     "both; the edge build and the label report are the data-bound parts"),
    (("spark.stages", "spark.tasks", "spark.task_failures", "spark.gc_s",
      "spark.spill_bytes"),
     ("op_tail_s",),
     "both; gc and spill also move the artifact's peak_rss_mb"),
    (("spark.core_busy_ratio",),
     ("pass_s",),
     "low on both; fusing jobs should raise it"),
)
