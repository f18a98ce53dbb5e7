"""Per-layer metrics of a traced run, computed from its spans.

``UNITS`` maps each per-layer metric, in the order of
``BENCHMARK.json``, to its unit and the direction that is better. A layer's time is the median self time of its spans
(duration minus child spans) over the traced operations, or over the
setup repetitions when the workload calls the layer only in setup
(``rag_query`` builds its index there). ``spark.*`` numbers are per
operation, diffed from the driver's stage metrics around each op. A
layer the workload never calls reads 0.
"""

from __future__ import annotations

import os
import statistics

UNITS = {
    "session.start_s": ("s", "lower"),
    "sources.load_s": ("s", "lower"),
    "sources.input_bytes": ("bytes", "lower"),
    "sources.scan_bytes_per_query": ("bytes", "lower"),
    "dedup.busy_s": ("s", "lower"),
    "dedup.shuffle_bytes": ("bytes", "lower"),
    "dedup.strategy_minhash": ("count", "higher"),
    "dedup.strategy_allpairs": ("count", "higher"),
    "dedup.candidate_pairs": ("count", "lower"),
    "dedup.verified_pairs": ("count", "higher"),
    "dedup.candidate_precision": ("ratio", "higher"),
    "chunk.busy_s": ("s", "lower"),
    "chunk.chunks_out": ("count", "higher"),
    "embed.busy_s": ("s", "lower"),
    "embed.vectors_out": ("count", "higher"),
    "embed.vectors_per_cpu_s": ("1/s", "higher"),
    "index.write_s": ("s", "lower"),
    "index.bytes_written": ("bytes", "lower"),
    "index.files_written": ("count", "lower"),
    "topk.plan_ms": ("ms", "lower"),
    "topk.exec_ms": ("ms", "lower"),
    "topk.jobs_per_query": ("count", "lower"),
    "topk.tasks_per_query": ("count", "lower"),
    "topk.rows_scored_per_query": ("count", "lower"),
    "context.query_ms": ("ms", "lower"),
    "context.batch_s": ("s", "lower"),
    "knn.busy_s": ("s", "lower"),
    "knn.strategy_exact": ("count", "higher"),
    "knn.strategy_gemm": ("count", "higher"),
    "knn.strategy_lsh": ("count", "higher"),
    "knn.pair_ops": ("count", "lower"),
    "knn.candidate_rows": ("count", "lower"),
    "ann.build_s": ("s", "lower"),
    "ann.n_centroids": ("count", "higher"),
    "ann.list_skew": ("ratio", "lower"),
    "ann.probe_s": ("s", "lower"),
    "ann.candidates_per_query": ("count", "lower"),
    "ann.candidate_frac": ("ratio", "lower"),
    "spark.jobs": ("count", "lower"),
    "spark.stages": ("count", "lower"),
    "spark.tasks": ("count", "lower"),
    "spark.executor_run_s": ("s", "lower"),
    "spark.executor_cpu_s": ("s", "lower"),
    "spark.core_busy_frac": ("ratio", "higher"),
    "spark.task_skew": ("ratio", "lower"),
    "spark.gc_s": ("s", "lower"),
    "spark.shuffle_write_bytes": ("bytes", "lower"),
    "spark.shuffle_read_bytes": ("bytes", "lower"),
    "spark.spill_bytes": ("bytes", "lower"),
    "spark.failed_tasks": ("count", "lower"),
    "host.steal_s": ("s", "lower"),
    "host.other_cpu_s": ("s", "lower"),
    "host.load1_start": ("load", "lower"),
    "host.spark_cores": ("count", "higher"),
    "host.blas_threads": ("count", "higher"),
    "trace.overhead_frac": ("ratio", "lower"),
}


def _med(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def per_layer(wl, setup_tr, ops_tr, ops, state, session_start, extras, cores) -> dict:
    """name -> (value, unit) for every metric in ``UNITS``."""
    from workloads import data_files

    def spans(name):
        for tr in (ops_tr, setup_tr):
            found = tr.named(name)
            if found:
                return tr, found
        return ops_tr, []

    def busy(name, scale=1.0):
        tr, ss = spans(name)
        return _med(tr.self_time(s) for s in ss) * scale

    def wall(name, scale=1.0):
        return _med(s.duration for s in spans(name)[1]) * scale

    def stage(name, key):
        return _med(s.spark.get(key, 0.0) for s in spans(name)[1])

    def count(name, key):
        return _med(s.counts.get(key, 0) for s in spans(name)[1])

    def strategy(name):
        ss = spans(name)[1]
        return ss[-1].counts.get("strategy") if ss else None

    per_item = 1 if wl.name == "rag_query" else getattr(wl, "Q", 0)
    m = {
        "session.start_s": session_start,
        "sources.load_s": busy("sources.load"),
        "sources.input_bytes": stage("op", "input_bytes"),
        "sources.scan_bytes_per_query": stage("op", "input_bytes") / per_item if per_item else 0.0,
        "dedup.busy_s": busy("dedup"),
        "dedup.shuffle_bytes": stage("dedup", "shuffle_write_bytes"),
        "dedup.strategy_minhash": float(strategy("dedup") == "minhash"),
        "dedup.strategy_allpairs": float(strategy("dedup") == "allpairs"),
        "dedup.candidate_pairs": 0.0,
        "dedup.verified_pairs": 0.0,
        "dedup.candidate_precision": 0.0,
        "chunk.busy_s": busy("chunk"),
        "chunk.chunks_out": count("chunk", "chunks_out"),
        "embed.busy_s": busy("embed"),
        "embed.vectors_out": count("embed", "vectors_out"),
        "embed.vectors_per_cpu_s": _med(
            s.counts.get("vectors_out", 0) / s.spark["executor_cpu_s"]
            for s in spans("embed")[1] if s.spark.get("executor_cpu_s")
        ),
        "index.write_s": busy("index"),
        "index.bytes_written": 0.0,
        "index.files_written": 0.0,
        "topk.plan_ms": wall("topk.plan", 1e3),
        "topk.exec_ms": wall("topk.exec", 1e3),
        "topk.jobs_per_query": stage("topk.exec", "jobs"),
        "topk.tasks_per_query": stage("topk.exec", "tasks"),
        "topk.rows_scored_per_query": stage("topk.exec", "input_records"),
        "context.query_ms": wall("context", 1e3),
        "context.batch_s": wall("context.batch"),
        "knn.busy_s": busy("knn"),
        "knn.strategy_exact": float(strategy("knn") == "exact"),
        "knn.strategy_gemm": float(strategy("knn") == "gemm"),
        "knn.strategy_lsh": float(strategy("knn") == "lsh"),
        "knn.pair_ops": 0.0,
        "knn.candidate_rows": stage("knn", "shuffle_write_records"),
        "ann.build_s": wall("ann.build"),
        "ann.n_centroids": 0.0,
        "ann.list_skew": 0.0,
        "ann.probe_s": wall("ann.probe"),
        "ann.candidates_per_query": 0.0,
        "ann.candidate_frac": 0.0,
        "spark.jobs": stage("op", "jobs"),
        "spark.stages": stage("op", "stages"),
        "spark.tasks": stage("op", "tasks"),
        "spark.executor_run_s": stage("op", "executor_run_s"),
        "spark.executor_cpu_s": stage("op", "executor_cpu_s"),
        "spark.core_busy_frac": _med(
            s.spark.get("executor_run_s", 0.0) / (s.duration * cores) for s in ops_tr.named("op")
        ),
        "spark.task_skew": stage("op", "task_skew"),
        "spark.gc_s": stage("op", "gc_s"),
        "spark.shuffle_write_bytes": stage("op", "shuffle_write_bytes"),
        "spark.shuffle_read_bytes": stage("op", "shuffle_read_bytes"),
        "spark.spill_bytes": stage("op", "spill_bytes"),
        "spark.failed_tasks": stage("op", "failed_tasks"),
        "host.steal_s": state["steal_s"],
        "host.other_cpu_s": state["other_cpu_s"],
        "host.load1_start": state["load1_start"],
        "host.spark_cores": float(state["spark_cores"]),
        "host.blas_threads": float(state["blas_threads"]),
        "trace.overhead_frac": (
            _med(o["wall"] for o in ops if o["tag"] == "t")
            / _med(o["wall"] for o in ops if o["tag"] == "u") - 1.0
        ),
    }
    if hasattr(wl, "out") and spans("index")[1]:
        files = data_files(wl.out)
        m["index.files_written"] = float(len(files))
        m["index.bytes_written"] = float(sum(os.path.getsize(f) for f in files))
    m.update(extras)
    return {k: (float(m[k]), unit) for k, (unit, _) in UNITS.items()}
