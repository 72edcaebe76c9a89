"""The benchmark's workloads and the query rows each one submits.

The 54 rows of the headline query set are split three ways, each row
exactly once, by the layer that dominates its time: ``JVM_SQL``,
``DRIVER_ITERATIVE`` and ``PYTHON_UDF``. ``EVIDENCE`` records, per row, what
the traced run measured that put the row in its split (``records/`` holds
that run). The last two splits share one workload, ``driver_python``: both
are the rows on which the JVM mostly waits, and a run of the benchmark has
too little time for a fourth workload (see README.md).

``timed`` is the subset a default run submits: a warm pass over a whole
split takes 20 to 30 s, too long to repeat inside one measuring window, so
a default run submits a subset chosen from ``EVIDENCE`` by
``select_timed``, and ``--rows all`` submits every row.
"""

from __future__ import annotations

import random
from dataclasses import dataclass

# Scale factor and seed of the generated tables. The seed is fixed: on the
# query workloads ``--seed`` orders the submissions and changes no input row.
SF = 0.1
TABLE_SEED = 42
TABLES = f"tables-sf{SF:g}-seed{TABLE_SEED}"


@dataclass(frozen=True)
class Workload:
    name: str
    why: str
    kind: str  # "queries" or "mapreduce"
    rows: tuple[str, ...] = ()
    timed: tuple[str, ...] = ()
    # EVIDENCE wall time of one default pass (see select_timed)
    pass_budget_s: float = 0.0
    # untimed passes after the checked one, before timing starts: how many
    # passes it takes the JIT to bring a pass near its steady time
    warm_passes: int = 0

    def order_rng(self, seed: int) -> random.Random:
        """Draws the submission order of each pass."""
        return random.Random(f"{self.name}:{seed}")


JVM_SQL = (
    "q1_pricing_summary",
    "q3_top_revenue_orders",
    "q5_nation_revenue",
    "q6_forecast_revenue",
    "q18_large_volume_orders",
    "window_top3_orders_per_customer",
    "window_running_supplier_revenue",
    "agg_distinct_parts_per_supplier",
    "topk_expensive_orders",
    "events_hourly_type_counts",
    "mr_wordcount",
    "mr_inverted_index",
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_ngram_jaccard",
    "sim_topk_bruteforce",
    "sim_topk_ivf",
    "kv_cas_replay",
    "kv_last_writer_wins",
    "text_quality_score",
    "text_fingerprint",
    "asof_join_last_order_before_event",
    "range_join_error_context",
    "events_sessionization",
    "percentile_prices_by_status",
    "pipeline_curated_documents",
    "sim_topk_pq_adc",
    "dedup_incremental_batch",
    "dedup_repeated_spans",
    "kv_consistent_hash_movement",
    "sim_ivf_probe_sweep",
    "dedup_ppjoin_shingles",
    "table_delta_log_replay",
    "pipeline_pretrain_corpus",
    "dedup_ppjoin_capped",
    "sim_tfidf_topk",
)

DRIVER_ITERATIVE = (
    "dedup_cc_two_phase",
    "sim_bm25_prf_expansion",
    "mm_pca_power_iteration",
    "vocab_bpe_merges",
    "dedup_minhash_pr_eval",
    "basket_frequent_triples",
    "profile_fk_candidates",
    "sim_bm25_topk",
)

PYTHON_UDF = (
    "mm_decode_frames",
    "mm_decode_jpeg_color_stats",
    "mm_decode_warc_stats",
    "mm_decode_auto_dispatch_stats",
    "mm_decode_mp3_stats",
    "mm_decode_zstd_entropy_stats",
    "mm_warc_http_stats",
    "mm_video_shot_boundaries",
    "mm_warc_source_stats",
    "mm_zst_shard_pointread_stats",
)

# What the traced full-split run (records/full-*-trace1.json: sf 0.1,
# local[4], per-query medians over the traced passes) measured per row.
@dataclass(frozen=True)
class Evidence:
    wall_s: float  # query time, plan-build plus execution
    build: float  # plan-build share of wall_s
    task_s: float  # task time
    # share of task time in Python workers; 1.0 for the two Python data
    # sources, whose reader runs in Python workers but reports no Python
    # timing metric
    python: float
    shuffle_mb: float  # shuffle written
    build_stages: int  # stages run inside fn(spark, sf_dir)
    exec_stages: int  # stages run by the noop-sink write


EVIDENCE = {
    "agg_distinct_parts_per_supplier": Evidence(0.96, 0.05, 1.5, 0.00, 18.6, 1, 3),
    "asof_join_last_order_before_event": Evidence(0.35, 0.30, 0.1, 0.00, 0.0, 2, 3),
    "basket_frequent_triples": Evidence(1.92, 0.40, 3.9, 0.00, 13.2, 5, 12),
    "dedup_cc_two_phase": Evidence(4.55, 0.96, 8.7, 0.00, 12.7, 33, 4),
    "dedup_exact": Evidence(0.15, 0.25, 0.1, 0.00, 1.0, 1, 3),
    "dedup_incremental_batch": Evidence(0.79, 0.37, 1.0, 0.00, 0.1, 3, 11),
    "dedup_minhash_lsh": Evidence(0.80, 0.43, 0.4, 0.00, 0.6, 1, 5),
    "dedup_minhash_pr_eval": Evidence(0.78, 0.82, 0.5, 0.00, 0.2, 13, 9),
    "dedup_ngram_jaccard": Evidence(0.44, 0.32, 0.4, 0.00, 0.1, 1, 6),
    "dedup_ppjoin_capped": Evidence(3.21, 0.05, 7.0, 0.00, 12.3, 1, 11),
    "dedup_ppjoin_shingles": Evidence(3.26, 0.04, 8.0, 0.00, 12.6, 1, 8),
    "dedup_repeated_spans": Evidence(0.92, 0.17, 1.4, 0.00, 1.6, 1, 8),
    "events_hourly_type_counts": Evidence(0.21, 0.21, 0.1, 0.00, 0.1, 1, 2),
    "events_sessionization": Evidence(0.45, 0.11, 0.6, 0.00, 3.2, 1, 2),
    "kv_cas_replay": Evidence(0.44, 0.23, 0.3, 0.00, 2.4, 1, 2),
    "kv_consistent_hash_movement": Evidence(1.17, 0.15, 1.1, 0.00, 0.5, 1, 4),
    "kv_last_writer_wins": Evidence(0.28, 0.24, 0.2, 0.00, 2.2, 1, 2),
    "mm_decode_auto_dispatch_stats": Evidence(0.37, 0.12, 1.1, 0.97, 0.0, 1, 2),
    "mm_decode_frames": Evidence(0.32, 0.18, 0.7, 0.87, 0.8, 1, 2),
    "mm_decode_jpeg_color_stats": Evidence(1.46, 0.04, 5.3, 0.99, 0.0, 1, 2),
    "mm_decode_mp3_stats": Evidence(0.48, 0.08, 1.4, 0.98, 0.0, 1, 2),
    "mm_decode_warc_stats": Evidence(0.45, 0.09, 1.4, 0.99, 0.0, 1, 2),
    "mm_decode_zstd_entropy_stats": Evidence(0.77, 0.06, 2.5, 0.99, 0.0, 1, 2),
    "mm_pca_power_iteration": Evidence(0.96, 0.83, 0.8, 0.67, 0.8, 19, 9),
    "mm_video_shot_boundaries": Evidence(1.29, 0.05, 4.1, 0.97, 1.9, 1, 3),
    "mm_warc_http_stats": Evidence(0.50, 0.09, 1.5, 0.98, 0.0, 1, 2),
    "mm_warc_source_stats": Evidence(0.72, 0.14, 1.7, 1.00, 0.1, 0, 2),
    "mm_zst_shard_pointread_stats": Evidence(0.29, 0.25, 0.1, 1.00, 0.0, 0, 1),
    "mr_inverted_index": Evidence(0.40, 0.14, 0.3, 0.00, 0.9, 1, 2),
    "mr_wordcount": Evidence(0.17, 0.29, 0.1, 0.00, 0.0, 1, 2),
    "percentile_prices_by_status": Evidence(0.62, 0.08, 0.8, 0.00, 3.9, 1, 2),
    "pipeline_curated_documents": Evidence(0.37, 0.21, 0.5, 0.00, 1.2, 1, 5),
    "pipeline_pretrain_corpus": Evidence(1.03, 0.19, 1.3, 0.00, 1.9, 2, 11),
    "profile_fk_candidates": Evidence(1.02, 0.44, 1.2, 0.00, 2.3, 10, 3),
    "q18_large_volume_orders": Evidence(0.53, 0.26, 0.4, 0.00, 1.2, 3, 4),
    "q1_pricing_summary": Evidence(0.74, 0.13, 0.6, 0.00, 0.0, 1, 2),
    "q3_top_revenue_orders": Evidence(0.49, 0.26, 0.3, 0.00, 0.6, 3, 4),
    "q5_nation_revenue": Evidence(0.65, 0.37, 0.4, 0.00, 0.0, 6, 7),
    "q6_forecast_revenue": Evidence(0.19, 0.27, 0.1, 0.00, 0.0, 1, 2),
    "range_join_error_context": Evidence(0.48, 0.15, 0.3, 0.00, 0.1, 1, 3),
    "sim_bm25_prf_expansion": Evidence(2.38, 0.70, 2.3, 0.00, 6.8, 31, 13),
    "sim_bm25_topk": Evidence(1.12, 0.33, 1.1, 0.00, 3.9, 4, 16),
    "sim_ivf_probe_sweep": Evidence(1.27, 0.25, 1.9, 0.00, 1.1, 2, 18),
    "sim_tfidf_topk": Evidence(3.51, 0.08, 3.6, 0.00, 3.6, 4, 18),
    "sim_topk_bruteforce": Evidence(0.25, 0.29, 0.3, 0.00, 0.5, 1, 5),
    "sim_topk_ivf": Evidence(0.69, 0.26, 1.0, 0.00, 1.1, 1, 9),
    "sim_topk_pq_adc": Evidence(0.76, 0.24, 1.0, 0.00, 1.2, 1, 11),
    "table_delta_log_replay": Evidence(0.52, 0.30, 0.3, 0.00, 0.0, 1, 2),
    "text_fingerprint": Evidence(0.11, 0.32, 0.1, 0.00, 0.8, 1, 2),
    "text_quality_score": Evidence(0.14, 0.45, 0.1, 0.00, 0.8, 1, 2),
    "topk_expensive_orders": Evidence(0.11, 0.36, 0.0, 0.00, 0.0, 1, 1),
    "vocab_bpe_merges": Evidence(0.53, 0.85, 0.2, 0.00, 0.1, 16, 7),
    "window_running_supplier_revenue": Evidence(0.80, 0.07, 1.6, 0.00, 27.6, 1, 2),
    "window_top3_orders_per_customer": Evidence(0.29, 0.18, 0.2, 0.00, 0.7, 1, 2),
}

# Rows whose result differs from their DuckDB oracle on the generated
# tables: they stay in their split, so `--rows all` reports them, but no
# default run submits them, because a default run must not fail.
# sim_tfidf_topk: doc 62 has two neighbours at cosine 0.9785 whose unrounded
# scores depend on the order of float sums, which differs between Spark and
# DuckDB (and between two DuckDB runs).
ORACLE_MISMATCH = ("sim_tfidf_topk",)


def profile(rows) -> dict[str, float]:
    """What a set of rows spends its time on: plan-build share of the wall
    time, Python share of task time, shuffle MB and stages per second."""
    ev = [EVIDENCE[r] for r in rows]
    wall = sum(e.wall_s for e in ev)
    task = sum(e.task_s for e in ev)
    return {
        "build": sum(e.build * e.wall_s for e in ev) / wall,
        "python": sum(e.python * e.task_s for e in ev) / task if task else 0.0,
        "shuffle_mb_per_s": sum(e.shuffle_mb for e in ev) / wall,
        "stages_per_s": sum(e.build_stages + e.exec_stages for e in ev) / wall,
    }


def _distance(got: dict[str, float], want: dict[str, float]) -> float:
    return sum(abs(got[k] - v) / v if v else abs(got[k]) for k, v in want.items())


def select_timed(rows, focus: str, budget_s: float) -> tuple[str, ...]:
    """The rows a default pass submits: a subset whose ``EVIDENCE`` wall
    time fits ``budget_s`` and that spends its time the way the whole split
    does.

    It starts from the row that carries the most of the workload's focus
    (``"shuffle"``: shuffle MB; ``"build"``: plan-build seconds) without
    carrying more than the split's rate of it times the budget, so the
    subset can still match the split. It then adds, while a row still fits
    the budget, the row that brings the subset's ``profile`` closest to the
    split's (sum of relative differences; ties by name). Rows in
    ``ORACLE_MISMATCH`` are not eligible.
    """
    want = profile(rows)
    amount = {
        "shuffle": (lambda e: e.shuffle_mb, want["shuffle_mb_per_s"]),
        "build": (lambda e: e.build * e.wall_s, want["build"]),
    }
    of, rate = amount[focus]
    eligible = [r for r in rows if r not in ORACLE_MISMATCH]
    chosen = [max((r for r in eligible if of(EVIDENCE[r]) <= rate * budget_s),
                  key=lambda r: (of(EVIDENCE[r]), r))]
    while True:
        left = budget_s - sum(EVIDENCE[r].wall_s for r in chosen)
        fits = [r for r in eligible if r not in chosen and EVIDENCE[r].wall_s <= left]
        if not fits:
            return tuple(chosen)
        chosen.append(min(fits, key=lambda r: (_distance(profile(chosen + [r]), want), r)))


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            "jvm_sql",
            "JVM-only SQL (scan, exchange, join, aggregate, window) with no Python node: the control for driver and Python changes",
            "queries",
            rows=JVM_SQL,
            pass_budget_s=3.0,
            # select_timed(JVM_SQL, "shuffle", 3.0)
            timed=(
                "percentile_prices_by_status",
                "q3_top_revenue_orders",
                "window_top3_orders_per_customer",
                "mr_inverted_index",
                "kv_cas_replay",
                "events_hourly_type_counts",
                "events_sessionization",
            ),
            warm_passes=5,
        ),
        Workload(
            "driver_python",
            "the JVM waits: plan-build runs driver loops and eager checkpoints, or Python workers do the task work",
            "queries",
            rows=DRIVER_ITERATIVE + PYTHON_UDF,
            pass_budget_s=3.5,
            # select_timed(DRIVER_ITERATIVE + PYTHON_UDF, "build", 3.5)
            timed=(
                "sim_bm25_prf_expansion",
                "mm_decode_zstd_entropy_stats",
                "mm_zst_shard_pointread_stats",
            ),
            warm_passes=3,
        ),
        Workload(
            "mapreduce_corpus",
            "the paper's two-phase engine on a seeded Zipf text corpus: wholetext source, pickled RDD shuffle, committer writes",
            "mapreduce",
            warm_passes=1,
        ),
    )
}

# MapReduce corpus: files, approximate characters per file, reduce partitions.
CORPUS_FILES = 4
CORPUS_FILE_BYTES = 256_000
MR_REDUCE_TASKS = 10
