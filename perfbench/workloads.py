"""The benchmark's workloads: which registered queries, on what data.

``isolation`` says how executions share index state:

- ``shared``: every execution reads the one dataset directory;
- ``cold``: every execution reads a fresh dataset version (a new
  directory of symlinks to the same parquet files), so every
  fingerprint-keyed index memo misses and each index is built, then
  probed;
- ``warm``: set-up runs each query once to build its indexes, and the
  timed executions only probe them.
"""

from __future__ import annotations

import dataclasses

from perfbench.fixtures import Scale

TPCH = (
    "agg_groupby",  # Q1
    "tpch_q2_min_cost_supplier",
    "tpch_q3_shipping",
    "tpch_q4_order_priority",
    "join_multiway",  # Q5
    "tpch_q6_forecast_revenue",
    "tpch_q7_volume_shipping",
    "tpch_q8_market_share",
    "tpch_q9_product_profit",
    "tpch_q10_returned_items",
    "tpch_q11_important_stock",
    "tpch_q12_late_line_priority",
    "tpch_q13_customer_orders_hist",
    "tpch_q14_promo_effect",
    "tpch_q15_top_supplier",
    "tpch_q16_supplier_variety",
    "tpch_q17_small_qty_revenue",
    "tpch_q18_large_volume_customers",
    "tpch_q19_disjunctive_revenue",
    "tpch_q20_dominant_suppliers",
    "tpch_q21_waiting_suppliers",
    "tpch_q22_idle_customers",
)

#: the mr primitive each word-count query isolates (per-layer ``mr.*``)
MR_LAYER = {
    "udtf_flatmap_generator": "flat_map",
    "udaf_fold": "fold_by_key",
    "mr_pipeline_api": "map_reduce",
}


@dataclasses.dataclass(frozen=True)
class Workload:
    name: str
    queries: tuple[str, ...]
    scale: Scale
    isolation: str  # shared | cold | warm
    #: untimed noop passes after the gated warm-up pass: pass times keep
    #: falling for several passes while the JIT compiles, so without them
    #: a run's figures depend on how many passes it managed
    extra_warmup_passes: int = 0


WORKLOADS = {
    w.name: w
    for w in (
        Workload("sql_tpch", TPCH, Scale(sf=0.1, n_docs=5000, n_embeddings=2000), "shared"),
        Workload(
            "mr_wordcount",
            (
                "mr_pipeline_api",
                "udtf_flatmap_generator",
                "udaf_fold",
                "scan_text_wordcount",
                "stream_stateful_running_total",
            ),
            Scale(sf=0.01, n_docs=2000, n_embeddings=500, zipf_vocab=20000),
            "shared",
            extra_warmup_passes=1,
        ),
        Workload(
            "llm_cold",
            (
                "pipeline_dedup_end2end",
                "dedup_semdedup",
                "dedup_minhash_near",
                "graph_sssp",
                "dedup_incremental_ingest_near",
                "sim_search_ivfpq",
                "sim_search_recall_curve",
            ),
            Scale(sf=0.001, n_docs=500, n_embeddings=500),
            "cold",
        ),
        Workload(
            "llm_warm",
            (
                # vector-index probes only: the MinHash band index
                # (dedup_incremental_ingest_near) and the recall curve
                # cost more to build than a run can spend; llm_cold's
                # traced run measures them cold and re-probed warm.  An
                # odd count keeps the median execution inside one
                # query's latencies rather than in the gap between two.
                "sim_search_ivfpq",
                "sim_search_ivf_sq8",
                "dedup_semdedup_incremental",
                "sim_search_sq8_rerank",
                "sim_search_hamming_rerank",
            ),
            Scale(sf=0.001, n_docs=500, n_embeddings=2000),
            "warm",
            extra_warmup_passes=2,
        ),
    )
}
