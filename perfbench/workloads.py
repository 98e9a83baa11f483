"""The benchmark's workloads: which declared queries run, in what order, on
inputs of what size, and why each workload was chosen.

Every workload is a closed loop with one client: one query at a time, in
the order listed, each fully materialized before the next starts.  Row
counts are fixed so that every seed does the same amount of work; the seed
only changes the values.
"""

from __future__ import annotations

from dataclasses import dataclass

# sf0.01-shaped inputs (lineitem 60k rows), shared by all workloads: small
# enough that a run, cold JVM included, stays under a minute
ROWS = {
    "customer": 1500,
    "supplier": 100,
    "part": 2000,
    "orders": 15000,
    "lineitem": 60000,
    "events": 10000,
    "documents": 1000,
    "embeddings": 500,
}


@dataclass(frozen=True)
class Workload:
    name: str
    why: str
    queries: tuple[str, ...]
    # index-store accessors built cold, before the first probe pass:
    # (module, function) under mapreduce_on_google_cloud_platform_spark.operators
    index_build: tuple[tuple[str, str], ...] = ()


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            name="star_events",
            why=(
                "TPC-H-shaped scans, multi-way joins and aggregates plus event-time "
                "windows and temporal joins; no tokenizer, no index store"
            ),
            queries=(
                "q1_pricing_summary",
                "q5_region_revenue",
                "q21_waiting_suppliers",
                "tumbling_window_events",
                "asof_join_purchase_view",
            ),
        ),
        Workload(
            name="curation_index",
            why=(
                "the reference word count and inverted index (tokenizer), then "
                "dedup and PageRank probes over an index store built cold in the same run"
            ),
            queries=(
                "wordcount",
                "inverted_index_postings",
                "dedup_ngram_jaccard",
                "neardup_pagerank",
            ),
            index_build=(
                ("dedup", "shingles_indexed"),
                ("dedup", "jaccard_pairs_indexed"),
            ),
        ),
    )
}

# Row counts for the self-test: every table small enough that a run is
# dominated by fixed per-query overhead.
TINY_ROWS = {
    "customer": 150,
    "supplier": 10,
    "part": 200,
    "orders": 1500,
    "lineitem": 6000,
    "events": 1000,
    "documents": 300,
    "embeddings": 300,
}
