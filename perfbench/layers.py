"""Per-layer metrics of a traced run.

``PER_LAYER`` is the full list, in the order BENCHMARK.json gives it.  A
traced run reports every name; a layer the workload does not reach reads 0
(no calls, no time).  Timings are medians per call over the timed window;
``spark.*`` counters come from Spark's event log.
"""

from __future__ import annotations

import time

import numpy as np
import pyarrow as pa

from parquet_python_spark.codecs import chunk_stats, decode_column, encode_column
from parquet_python_spark.codecs.arrow_io import decode_str_column, encode_str_column

from .harness import p50, spark_counters

INT_CODECS = ["plain32", "bitpack", "for", "delta_bp", "rle", "dict", "fsst"]
STR_CODECS = ["str_plain", "str_fsst", "str_dba", "dict"]
# metric key of a (kind, codec) pair: string dict is told apart from int dict
CODEC_KEYS = INT_CODECS + ["str_plain", "str_fsst", "str_dba", "str_dict"]


def codec_key(kind: str, codec: str) -> str:
    key = "str_dict" if kind == "str" and codec == "dict" else codec
    return key if key in CODEC_KEYS else "other"


SPAN_CALLS = [
    "engine.encode_job",
    "engine.decode_blocks_files",
    "engine.decode_blocks",
    "engine.decode_blocks_files_pruned",
    "engine.compact_blocks",
    "generic_codec.roundtrip",
    "generic_codec.encode_df",
    "generic_codec.decode_df_pruned",
    "generic_codec.count_filtered_meta",
    "pipeline_ops.dedup_minhash_candidates",
    "pipeline_ops.dedup_keep_canonical",
]
SPARK_TOTALS = [
    "jobs", "stages", "tasks", "task_run_s", "task_cpu_s", "task_gc_s",
    "shuffle_write_bytes", "shuffle_read_bytes", "core_busy_ratio",
]
SPARK_PER_CALL = ["jobs", "stages", "shuffle_read_bytes"]

PER_LAYER: list[tuple[str, str]] = (
    [(f"codecs.{c}.{m}", u) for c in CODEC_KEYS for m, u in (
        ("encode_mvals_per_s", "Mvalues/s"),
        ("decode_mvals_per_s", "Mvalues/s"),
        ("bytes_per_value", "B/value"),
    )]
    + [("codecs.chunk_stats_mvals_per_s", "Mvalues/s")]
    + [(f"codecs.chosen.{c}.value_share", "ratio") for c in CODEC_KEYS + ["other"]]
    + [
        ("engine.encode_job_s", "s"),
        ("engine.encode_job_bulk_s", "s"),
        ("engine.decode_blocks_files_s", "s"),
        ("engine.decode_blocks_s", "s"),
        ("engine.decode_blocks_files_pruned_s", "s"),
        ("engine.compact_blocks_s", "s"),
        ("engine.parts", "count"),
        ("engine.parts_skipped", "count"),
        ("engine.block_files", "count"),
        ("engine.kernel_ms_share", "ratio"),
        ("engine.prune_bytes_kept_ratio", "ratio"),
        ("engine.stored_bytes_per_raw_byte", "ratio"),
        ("sources.write_snapshot_s", "s"),
        ("sources.snapshot_files", "count"),
        ("generic_codec.roundtrip_s.lineitem", "s"),
        ("generic_codec.roundtrip_s.documents", "s"),
        ("generic_codec.roundtrip_s.events", "s"),
        ("generic_codec.encode_df_s", "s"),
        ("generic_codec.decode_df_s", "s"),
        ("generic_codec.decode_df_pruned_s", "s"),
        ("generic_codec.count_filtered_meta_s", "s"),
        ("generic_codec.prune_bytes_kept_ratio", "ratio"),
        ("generic_codec.pruned_over_full", "ratio"),
        ("pipeline_ops.dedup_minhash_candidates_s", "s"),
        ("pipeline_ops.dedup_components_s", "s"),
        ("pipeline_ops.dedup_keep_canonical_s", "s"),
        ("pipeline_ops.candidate_pairs", "count"),
        ("pipeline_ops.twin_recall", "ratio"),
        ("pipeline_ops.candidate_precision", "ratio"),
    ]
    + [
        (f"spark.{m}", u) for m, u in zip(
            SPARK_TOTALS,
            ["count", "count", "count", "s", "s", "s", "B", "B", "ratio"],
        )
    ]
    + [
        (f"spark.{call}.{m}", "B" if m.endswith("bytes") else "count")
        for call in SPAN_CALLS for m in SPARK_PER_CALL
    ]
    + [
        ("trace.bulk_items_per_s", "items/s"),
        ("trace.write_p50_s", "s"),
        ("trace.read_p50_s", "s"),
        ("trace.prune_p50_s", "s"),
        ("trace.cycle_s", "s"),
        ("trace.unaccounted_share", "ratio"),
        ("trace.spans", "count"),
    ]
)

# span name -> per-layer timing metric (median seconds per call)
# (engine.encode_job is split by phase in span_metrics)
SPAN_TIMINGS = {
    "engine.decode_blocks_files": "engine.decode_blocks_files_s",
    "engine.decode_blocks": "engine.decode_blocks_s",
    "engine.decode_blocks_files_pruned": "engine.decode_blocks_files_pruned_s",
    "engine.compact_blocks": "engine.compact_blocks_s",
    "sources.write_snapshot": "sources.write_snapshot_s",
    "generic_codec.encode_df": "generic_codec.encode_df_s",
    "generic_codec.decode_df": "generic_codec.decode_df_s",
    "generic_codec.decode_df_pruned": "generic_codec.decode_df_pruned_s",
    "generic_codec.count_filtered_meta": "generic_codec.count_filtered_meta_s",
    "pipeline_ops.dedup_minhash_candidates": "pipeline_ops.dedup_minhash_candidates_s",
    "pipeline_ops.dedup_components": "pipeline_ops.dedup_components_s",
    "pipeline_ops.dedup_keep_canonical": "pipeline_ops.dedup_keep_canonical_s",
}


# ------------------------------------------------------- codec kernels

def _best(fn, reps: int) -> tuple[float, object]:
    best, out = float("inf"), None
    for _ in range(reps):
        t0 = time.perf_counter()
        out = fn()
        best = min(best, time.perf_counter() - t0)
    return best, out


def codec_micro(ledger, int_chunks, str_chunks, reps: int = 2) -> dict:
    """Single-thread encode/decode of every listed codec on each chunk.

    Returns codecs.* metrics: Mvalues/s summed over chunks as total values
    over total best-of-``reps`` time, bytes/value as total payload bytes
    over total values.  A codec that refuses a chunk (ValueError/KeyError/
    OverflowError) is left out for that chunk; a decode that differs from
    its input counts as a failed check."""
    acc = {k: [0, 0.0, 0.0, 0] for k in CODEC_KEYS}
    stats_vals, stats_s = 0, 0.0
    for vals in int_chunks:
        dt, _ = _best(lambda: chunk_stats(vals), reps)
        stats_vals += len(vals)
        stats_s += dt
        for codec in INT_CODECS:
            try:
                enc_s, (c, params, payload, _) = _best(
                    lambda: encode_column(vals, "int", codec=codec), reps
                )
            except (ValueError, KeyError, OverflowError):
                continue
            dec_s, out = _best(
                lambda: decode_column(c, payload, len(vals), params, "int"), reps
            )
            ledger.check(
                f"codec.{codec}.roundtrip", np.array_equal(out, vals), codec
            )
            a = acc[codec_key("int", codec)]
            a[0] += len(vals)
            a[1] += enc_s
            a[2] += dec_s
            a[3] += len(payload)
    for arr in str_chunks:
        for codec in STR_CODECS:
            try:
                enc_s, (c, params, payload) = _best(
                    lambda: encode_str_column(arr, codec), reps
                )
            except (ValueError, KeyError, OverflowError):
                continue
            dec_s, out = _best(
                lambda: decode_str_column(c, payload, len(arr), params), reps
            )
            ledger.check(
                f"codec.{codec}.roundtrip",
                out.cast(pa.utf8()).equals(arr.cast(pa.utf8())), codec,
            )
            a = acc[codec_key("str", codec)]
            a[0] += len(arr)
            a[1] += enc_s
            a[2] += dec_s
            a[3] += len(payload)
    out = {}
    for key, (n, enc_s, dec_s, nbytes) in acc.items():
        out[f"codecs.{key}.encode_mvals_per_s"] = n / enc_s / 1e6 if n else 0.0
        out[f"codecs.{key}.decode_mvals_per_s"] = n / dec_s / 1e6 if n else 0.0
        out[f"codecs.{key}.bytes_per_value"] = nbytes / n if n else 0.0
    out["codecs.chunk_stats_mvals_per_s"] = (
        stats_vals / stats_s / 1e6 if stats_vals else 0.0
    )
    return out


def value_shares(rows) -> dict:
    """codecs.chosen.* from (kind, codec, n_values) of written blocks."""
    totals: dict[str, int] = {}
    for kind, codec, n in rows:
        key = codec_key(kind, codec)
        totals[key] = totals.get(key, 0) + int(n)
    all_n = sum(totals.values()) or 1
    return {
        f"codecs.chosen.{k}.value_share": v / all_n for k, v in totals.items()
    }


# ------------------------------------------------------------ assembly

def span_metrics(tracer, window: dict, jobs, stages, cores: int) -> dict:
    """Timings and Spark counters of the spans inside the timed window."""
    inside = tracer.descendants(window["id"])
    spans = [s for s in tracer.spans if s["id"] in inside]
    out = {}
    for name, metric in SPAN_TIMINGS.items():
        ds = [s["dt"] for s in spans if s["name"] == name]
        out[metric] = p50(ds) or 0.0
    # append-phase encode_job calls resume; bulk ones encode a whole table
    enc = [s for s in spans if s["name"] == "engine.encode_job"]
    resumed = [s for s in enc if s.get("phase") != "bulk"]
    out["engine.encode_job_s"] = p50([s["dt"] for s in resumed]) or 0.0
    out["engine.encode_job_bulk_s"] = (
        p50([s["dt"] for s in enc if s.get("phase") == "bulk"]) or 0.0
    )
    for table in ("lineitem", "documents", "events"):
        ds = [
            s["dt"] for s in spans
            if s["name"] == "generic_codec.roundtrip" and s.get("table") == table
        ]
        out[f"generic_codec.roundtrip_s.{table}"] = p50(ds) or 0.0
    tot = spark_counters(jobs, stages, inside)
    for k in SPARK_TOTALS[:-1]:
        out[f"spark.{k}"] = tot[k]
    out["spark.core_busy_ratio"] = tot["task_run_s"] / (window["dt"] * cores)
    for call in SPAN_CALLS:
        mine = resumed if call == "engine.encode_job" else [
            s for s in spans if s["name"] == call
        ]
        for m in SPARK_PER_CALL:
            vals = [spark_counters(jobs, stages, tracer.descendants(s["id"]))[m]
                    for s in mine]
            out[f"spark.{call}.{m}"] = sum(vals) / len(vals) if vals else 0.0
    # wall time of the window spent outside every call into the package
    # (the benchmark's own copies and comparisons)
    op_names = set(SPAN_TIMINGS) | {
        "engine.encode_job", "generic_codec.roundtrip", "append",
    }
    covered = sum(
        s["dt"] for s in spans if s["name"] in op_names
        and not any(tracer.spans[p]["name"] in op_names for p in _ancestors(tracer, s))
    )
    out["trace.unaccounted_share"] = 1.0 - covered / window["dt"]
    out["trace.spans"] = len(spans)
    return out


def _ancestors(tracer, span):
    p = span["parent"]
    while p is not None:
        yield p
        p = tracer.spans[p]["parent"]


def kernel_ms_share(encode_ms_total: float, tracer, span, stages) -> float:
    """Σ encode_ms of the blocks one encode_job wrote over the task run time
    of that job's largest stage (the encode stage)."""
    inside = tracer.descendants(span["id"])
    runs = [st["task_run_s"] for st in stages if st["span"] in inside]
    return encode_ms_total / 1e3 / max(runs) if runs else 0.0
