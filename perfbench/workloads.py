"""The benchmark's workloads and the map from layer metrics to the
end-to-end metrics they should move.

Each workload is a list of registered engine queries
(`__spark_entry__.queries()`), run one after another in a closed loop.
Inputs are generated at scale `SF` by `datagen` (about 1.5 MB of parquet,
fits in memory at any core count).

Each list is a subset of a traffic class in `TRAFFIC_CLASSES`, chosen from
one traced pass over the whole class (`survey.py`, 4 cores): the subset's
construct / plan / execute shares of wall time, median per-query time and
Spark jobs per query are close to its class's, and every layer the class
exercises (sinks, Python workers, local checkpoints, connected components,
graph operators, keyed stream state) is exercised by some query in it.  The
lists stay short because one run (set-up, a cold pass with the output check,
and the timed passes) has to end in about a minute.

`WARM_PASSES` untimed passes follow the cold pass.  The JVM's compiler is
still busy after it: on 4 cores the JVM spends 30-45 CPU seconds in the
cold pass, 15-20 in the next pass, 11-14 in the one after and 8-11 from
then on.  The first of those passes is left untimed; a second would add
about 6 s to every run, which has to stay near a minute even on a contended
host.  `timed_passes` is the least number of timed passes a run
makes; the benchmark's `--seconds` is shorter than that many passes of
either workload, so every run times the same passes.
"""

from __future__ import annotations

SF = 0.01
WARM_PASSES = 1

WORKLOADS: dict[str, dict] = {
    "registry": {
        "queries": [
            "q_wf_results_register",
            "q_pdf_metadata",
            "q_vacuum_report",
            "q_query_files",
            "q_experiment_type_counts",
        ],
        "timed_passes": 3,
        "why": "dropbox registration, Arrow decode in Python workers, a vacuum that writes "
               "files, reporting reads: fixed per-query job cost dominates; no iterative rounds",
    },
    "iterative_state": {
        "queries": [
            "q_incremental_components",
            "q_k_core",
            "q_stream_user_totals",
        ],
        "timed_passes": 3,
        "why": "eager per-round checkpoint jobs (connected components, k-core) and an "
               "AvailableNow drain through keyed Python stream state; registry bypasses both",
    },
}

#: the full traffic classes the workloads are drawn from; `survey.py` runs
#: them once, traced, to compare each workload's subset with its class
TRAFFIC_CLASSES: dict[str, list[str]] = {
    "registry": [
        "q_register_fastq", "q_register_ms_batch", "q_wf_results_register", "q_vcf_parse",
        "q_pdf_metadata", "q_merge_upsert", "q_vacuum_report", "q_sample_lookup",
        "q_parent_map", "q_two_hop_lineage", "q_lineage_roots", "q_projects_with_data",
        "q_query_files", "q_experimental_design", "q_experiment_type_counts",
        "q_experiment_numbering", "q_barcode_validate", "q_sorted_spreadsheet",
    ],
    "iterative": [
        "q_graph_components", "q_graph_components_chain", "q_incremental_components",
        "q_near_dup_clusters", "q_resolve_entities", "q_pagerank", "q_k_core",
        "q_kmeans_assign",
    ],
    "stream_state": [
        "q_stream_user_totals", "q_stream_dedup", "q_stream_cms", "q_stream_hll",
        "q_stream_kmv", "q_stream_hourly_rollup", "q_stream_sessionize",
    ],
}

#: layer metric -> (end-to-end metric it should move, workloads where it should)
LAYER_MAP: dict[str, tuple[str, str]] = {
    "session.start_s": ("setup_s", "all"),
    "construct.*": ("pass_s, cpu_s", "iterative_state; flat on registry"),
    "plan.*": ("query_p50_s", "registry; the counts explain cpu_s on iterative_state"),
    "execute.*": ("pass_s, query_p50_s", "registry"),
    "stage.*": ("cpu_s, pass_s", "both; stage.gc_s moves peak_rss_mb and query_tail_s"),
    "ckpt.*": ("pass_s", "iterative_state; small on registry (q_vacuum_report pins its result)"),
    "dedup.cc_*, graph.*": ("pass_s", "iterative_state"),
    "stream.*": ("pass_s, cpu_s", "iterative_state; absent on registry"),
    "python.*, jvm.cpu_s": ("cpu_s", "iterative_state (keyed state), registry (q_pdf_metadata)"),
    "sinks.*": ("pass_s", "registry (q_vacuum_report); 0 on iterative_state"),
}
