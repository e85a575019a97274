"""The benchmark's named workloads: which registered queries each runs, and why.

Every name is a key of ``__spark_entry__.queries()``. The lists are
disjoint. Each workload stresses a different layer of the engine, so a
change to one layer should move one workload and leave the others alone:

- ``alert_enrich`` spends its time in the Python/Arrow kernels under
  ``fink_science_spark/operators`` (history features, sky joins, flag
  predicates, fits, model scoring).
- ``alert_stream`` spends its time in per-micro-batch coordination under
  ``fink_science_spark/streaming`` and ``sources``: planning, ``addBatch``,
  WAL and offset commits, state-store commits. It is the only workload that
  writes checkpoint and state data.
- ``curation_batch`` has the most shuffles and the most short jobs, so plan
  build, eager jobs inside builders and the scheduling floor dominate. Its
  SQL queries run JVM codegen only.

Each list is sized so one warm pass takes about 3-4 s at sf0.01 on four
cores, and a whole run (session start, output check, warm-up, a 10 s
measured window) about 50 s: repeated measurement of every workload in
``BENCHMARK.json``, some 22 runs each, has to fit in an hour.
"""

from __future__ import annotations

WORKLOADS: dict[str, tuple[str, ...]] = {
    "alert_enrich": (
        "band_features",  # per-row history features
        "crossmatch_sky",  # sky join
        "alert_pipeline",  # flag predicates gating a masked Arrow scoring kernel
        "ssoft_hg_fit",  # phase-curve fit
        "model_score_forest",  # forest descent
        "t2_real",  # real transformer head; no oracle, checked by digest
    ),
    "alert_stream": (
        "stream_weekly_counts",
        "stream_sliding_counts",
        "stream_session_windows",
        "stream_foreachbatch_enrich",
    ),
    "curation_batch": (
        "pricing_summary",  # decision-support SQL
        "min_cost_supplier",
        "grouping_sets_id",
        "dedup_minhash_lsh",  # dedup
        "ann_ivf_topk",  # similarity
        "bloom_prune_join",  # sketches
        "text_quality",  # text
    ),
}
