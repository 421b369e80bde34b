"""Per-layer metrics: what each one measures, which end-to-end metric it
should move and on which workload, and how it is read from the span table
of a traced run (see spans.py).

Every value is the median over the calls of that layer in the traced
rounds of one run, so runs of different lengths stay comparable. A layer
a workload never calls reads 0.
"""

from __future__ import annotations

import statistics

# span name -> (should move, on workloads)
LAYERS = {
    "pipeline.geo_stage": ("items_per_s", ["pages_etl"]),
    "spatial_join.pip_join": ("items_per_s", ["pages_etl", "spatial_queries"]),
    "spatial_join.knn_join": ("items_per_s, op_p50_s", ["spatial_queries"]),
    "tiles.tile_rollup": ("items_per_s", ["pages_etl", "spatial_queries"]),
    "tiles.rasterize_tiles": ("items_per_s", ["spatial_queries"]),
    "catalog.checkpointed_write": ("items_per_s", ["pages_etl"]),
    "dedup.minhash_lsh_pairs": ("items_per_s, op_p50_s", ["near_dup_cascade"]),
    "dedup.hamming_band_pairs": ("items_per_s, op_p50_s", ["near_dup_cascade"]),
    "dedup.ngram_jaccard_pairs": ("items_per_s, op_p50_s", ["near_dup_cascade"]),
    "dedup.exact_dedup": ("items_per_s", ["near_dup_cascade"]),
    "similarity_search.cosine_topk_bruteforce": ("items_per_s, engine.peak_rss_mb", ["near_dup_cascade"]),
    "cascade.cascade_reports_per_pair": ("items_per_s", ["near_dup_cascade"]),
}
# Spark task counters reported for every layer above
TASK_METRICS = [
    ("executor_run_s", "s", "lower"),
    ("executor_cpu_s", "s", "lower"),
    ("gc_s", "s", "lower"),
    ("slot_idle_s", "s", "lower"),
    ("failed_tasks", "count", "lower"),
    ("jobs", "count", "lower"),
]
QUERY_NAMES = [
    "doc_cells", "tile_rollup_z6", "pip_rectangles", "knn_k5", "raster_roundtrip",
    "minhash_pairs", "simhash_pairs", "ngram_jaccard_pairs", "embedding_topk", "exact_dedup",
]


def _sql(row: dict, metric: str) -> float:
    """Sum of one SQL metric over every plan node of the span."""
    return sum(v for k, v in row["sql"].items() if k.split("|", 1)[1] == metric)


def _first(row: dict, node: str) -> float:
    """Output rows of the top-most ``node`` of the span's plans."""
    return row["first_node"].get(f"{node}|number of output rows", 0.0)


def _ratio(a: float, b: float) -> float:
    return a / b if b else 0.0


# (span, metric, unit, better, extractor over one span row)
_SPECIFIC = [
    ("pipeline.geo_stage", "python_s", "s", "lower", lambda r: _sql(r, "time to run Python workers")),
    ("pipeline.geo_stage", "arrow_sent_bytes", "bytes", "lower", lambda r: _sql(r, "data sent to Python workers")),
    ("pipeline.geo_stage", "arrow_returned_bytes", "bytes", "lower", lambda r: _sql(r, "data returned from Python workers")),
    ("pipeline.geo_stage", "rows", "count", "higher", lambda r: r["rows"] or 0),
    ("spatial_join.pip_join", "candidate_rows", "count", "lower", lambda r: _first(r, "BroadcastHashJoin")),
    ("spatial_join.pip_join", "hit_rows", "count", "higher", lambda r: r["rows"] or 0),
    ("spatial_join.pip_join", "hit_ratio", "ratio", "higher", lambda r: _ratio(r["rows"] or 0, _first(r, "BroadcastHashJoin"))),
    ("spatial_join.knn_join", "shuffle_bytes", "bytes", "lower", lambda r: r["shuffle_bytes"]),
    ("tiles.tile_rollup", "shuffle_bytes", "bytes", "lower", lambda r: r["shuffle_bytes"]),
    ("tiles.tile_rollup", "task_skew", "ratio", "lower", lambda r: r["task_skew"]),
    ("catalog.checkpointed_write", "bytes_written", "bytes", "lower", lambda r: _sql(r, "written output") or r["bytes_written"]),
    ("catalog.checkpointed_write", "files_written", "count", "lower", lambda r: _sql(r, "number of written files")),
    ("dedup.minhash_lsh_pairs", "candidate_pairs", "count", "lower", lambda r: _first(r, "HashAggregate")),
    ("dedup.minhash_lsh_pairs", "pairs", "count", "higher", lambda r: r["rows"] or 0),
    ("dedup.minhash_lsh_pairs", "verify_ratio", "ratio", "higher", lambda r: _ratio(r["rows"] or 0, _first(r, "HashAggregate"))),
    ("dedup.minhash_lsh_pairs", "shuffle_bytes", "bytes", "lower", lambda r: r["shuffle_bytes"]),
    ("dedup.minhash_lsh_pairs", "spill_bytes", "bytes", "lower", lambda r: r["spill_bytes"]),
    ("dedup.hamming_band_pairs", "candidate_pairs", "count", "lower", lambda r: _first(r, "HashAggregate")),
    ("dedup.hamming_band_pairs", "pairs", "count", "higher", lambda r: r["rows"] or 0),
    ("similarity_search.cosine_topk_bruteforce", "driver_collect_bytes", "bytes", "lower", lambda r: r["result_bytes"]),
    ("cascade.cascade_reports_per_pair", "python_s", "s", "lower", lambda r: _sql(r, "time to run Python workers")),
    ("cascade.cascade_reports_per_pair", "shuffle_bytes", "bytes", "lower", lambda r: r["shuffle_bytes"]),
    ("cascade.cascade_reports_per_pair", "pairs", "count", "higher", lambda r: r["rows"] or 0),
    ("cascade.cascade_reports_per_pair", "files", "count", "higher", lambda r: r.get("input_rows", 0)),
]


def metric_specs() -> list[dict]:
    """Every per-layer metric as {name, unit, better, moves, workloads}."""
    specs = [
        {"name": "session.start_s", "unit": "s", "better": "lower",
         "moves": "setup_s", "workloads": ["all"]},
        {"name": "engine.peak_rss_mb", "unit": "MB", "better": "lower",
         "moves": "none: summed RSS of this process, the JVM and its Python workers", "workloads": ["all"]},
    ]
    for span, (moves, wls) in LAYERS.items():
        specs.append({"name": f"{span}.busy_s", "unit": "s", "better": "lower", "moves": moves, "workloads": wls})
        specs += [
            {"name": f"{s}.{m}", "unit": u, "better": b, "moves": moves, "workloads": wls}
            for s, m, u, b, _ in _SPECIFIC if s == span
        ]
        specs += [
            {"name": f"{span}.{m}", "unit": u, "better": b, "moves": moves, "workloads": wls}
            for m, u, b in TASK_METRICS
        ]
    specs += [
        {"name": f"queries.{q}.plan_s", "unit": "s", "better": "lower",
         "moves": "cold_op_s", "workloads": ["spatial_queries", "near_dup_cascade"]}
        for q in QUERY_NAMES
    ]
    specs += [
        {"name": "trace.overhead_frac", "unit": "ratio", "better": "lower",
         "moves": "none: traced op time over untraced, minus 1", "workloads": ["all"]},
        {"name": "trace.layer_coverage_frac", "unit": "ratio", "better": "higher",
         "moves": "none: summed layer self time over traced op time", "workloads": ["all"]},
        {"name": "trace.untraced_gap_frac", "unit": "ratio", "better": "lower",
         "moves": "none: 1 - summed layer self time over untraced op time", "workloads": ["all"]},
    ]
    return specs


def _med(values: list[float]) -> float:
    return float(statistics.median(values)) if values else 0.0


def layer_values(rows: list[dict]) -> dict[str, float]:
    """Per-layer metric values from the span rows of the traced rounds."""
    by_name: dict[str, list[dict]] = {}
    for r in rows:
        if r["kind"] == "layer":
            by_name.setdefault(r["name"], []).append(r)
    out: dict[str, float] = {}
    for span in LAYERS:
        calls = by_name.get(span, [])
        out[f"{span}.busy_s"] = _med([r["self_s"] for r in calls])
        for s, m, _, _, f in _SPECIFIC:
            if s == span:
                out[f"{span}.{m}"] = _med([float(f(r)) for r in calls])
        for m, _, _ in TASK_METRICS:
            out[f"{span}.{m}"] = _med([float(r[m]) for r in calls])
    return out
