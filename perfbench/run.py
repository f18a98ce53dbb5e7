"""perfbench — the repository's benchmark.

Run from the repository root:

    python3 perfbench/run.py --workload ingest --seed 1 --seconds 8 --trace 0

It generates the workload's inputs from the seed, starts a local Spark
session on the engine's defaults, runs the workload's setup once (it
pays the JVM's warm-up, as every fresh process does) and a few
unmeasured warm-up operations, then runs the operation in a closed loop (one client) for
``--seconds`` and checks every output. The last line of standard output
is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` — the end-to-end metrics of ``BENCHMARK.json`` with
``--trace 0``, its per-layer metrics with ``--trace 1``. The line before
it carries the workload's own metrics, its input sizes, the
machine-state record and the run's phase times (``perfbench/README.md``).

Everything it writes stays under ``.perfbench_work/`` in the current
directory; a traced run leaves its spans in
``.perfbench_work/traces/<workload>-<seed>.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time
import traceback

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

DRIVER_MEM = "1g"


def _median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def _descendants(root: int) -> list[int]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                with open(f"/proc/{name}/stat") as f:
                    data = f.read()
            except OSError:
                continue
            kids.setdefault(int(data[data.rindex(")") + 2:].split()[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _environment(root: str, work: str) -> int:
    """Pin everything the run writes under ``work`` and fix the engine's
    tunables, before the JVM starts. Returns the core count."""
    tmp = os.path.join(work, "tmp")
    for d in (tmp, os.path.join(work, "spark-local"), os.path.join(work, "scratch")):
        os.makedirs(d, exist_ok=True)
    for knob in ("SPARK_GRAFT_SHUFFLE", "SPARK_GRAFT_INITIAL_PARTITIONS"):
        os.environ.pop(knob, None)
    os.environ.update(
        {
            "TMPDIR": tmp,
            "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
            "SPARK_GRAFT_SCRATCH_DIR": os.path.join(work, "scratch"),
            "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
            "PYTHONDONTWRITEBYTECODE": "1",
            # spark-submit's launcher JVM: no perf-data file, temp files here
            "SPARK_LAUNCHER_OPTS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        }
    )
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    sys.dont_write_bytecode = True
    sys.path.insert(0, root)
    return min(4, len(os.sched_getaffinity(0)))


def _start_session(cores: int, work: str):
    from pyspark.sql import SparkSession

    from cli_rag_spark.session import configure

    tmp = os.path.join(work, "tmp")
    builder = (
        SparkSession.builder.appName("perfbench")
        .master(f"local[{cores}]")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.extraJavaOptions", f"-Xms{DRIVER_MEM} -XX:-UsePerfData -Djava.io.tmpdir={tmp}")
    )
    spark = configure(builder).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _shutdown(spark) -> None:
    """Stop Spark, end the JVM and wait for every process it started."""
    from pyspark import SparkContext

    procs = _descendants(os.getpid())
    spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 30
    for pid in procs:
        while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, signal.SIGKILL)
            except OSError:
                pass


def _blas_threads(spark) -> int:
    """BLAS thread count the Python workers actually run with."""
    vals = spark.sparkContext.parallelize([0], 1).map(
        lambda _: [os.environ.get(v) for v in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS")]
    ).collect()[0]
    for v in vals:
        if v:
            return int(v)
    return os.cpu_count() or 1


def _op(wl, spark, tr, tag: str, n: int) -> dict:
    """One timed op (the engine's calls only), then its output check."""
    import host

    s0 = host.steal_s()
    t0 = time.perf_counter()
    try:
        with tr.span("op", trace_id=f"{wl.name}-{tag}{n}"):
            result = wl.op(spark, tr)
        wall = time.perf_counter() - t0
        steal = (host.steal_s() - s0) / wall
        items, ok = wl.check(result)
    except Exception:
        traceback.print_exc()
        wall, items, ok = time.perf_counter() - t0, 0, False
        steal = (host.steal_s() - s0) / wall
        wl.last = {}
    return {"wall": wall, "steal_per_s": steal, "items": items, "ok": ok, "tag": tag, **wl.last}


def _loop(wl, spark, tr, seconds: float, ops: list, tag: str) -> None:
    """Closed loop, one client: the next op starts when the previous one
    returns, and only if an op of the median length so far still ends
    inside the window; at least one op."""
    deadline = time.perf_counter() + seconds
    walls = []
    while True:
        ops.append(_op(wl, spark, tr, tag, len(ops)))
        walls.append(ops[-1]["wall"])
        if time.perf_counter() + _median(walls) > deadline:
            return


def clean_ops(ops: list) -> list:
    """The ops the host let run: those during which the hypervisor stole
    at most ``host.STEAL_OK_PER_S``. When fewer than a quarter of the
    ops (and at least three) qualify, that many ops with the least
    steal."""
    import host

    need = min(len(ops), max(3, len(ops) // 4))
    ok = [o for o in ops if o["steal_per_s"] <= host.STEAL_OK_PER_S]
    return ok if len(ok) >= need else sorted(ops, key=lambda o: o["steal_per_s"])[:need]


def end_to_end(wl, ops, setup_s, rss_mb) -> tuple[dict, dict]:
    """(BENCHMARK.json end-to-end metrics, the workload's own metrics).
    Op timings in the end-to-end metrics come from the clean ops; the
    workload's own latency percentiles from every correct op."""
    good = [o for o in ops if o["ok"]] or ops
    timed = clean_ops(good)
    walls = [o["wall"] for o in good]
    quality = statistics.fmean(o.get("quality", 0.0) for o in good)
    if wl.name == "ann_batch":
        items_per_s = wl.Q / _median([o["probe_s"] for o in timed])
    else:
        items_per_s = _median(o["items"] for o in timed) / _median(o["wall"] for o in timed)
    e2e = {
        "setup_s": (setup_s, "s"),
        "peak_rss_mb": (rss_mb, "MB"),
        "op_p50_ms": (_median(o["wall"] for o in timed) * 1e3, "ms"),
        "items_per_s": (items_per_s, "1/s"),
        "recall": (quality, "ratio"),
    }
    own = {
        "setup_s": (setup_s, "s"),
        "peak_rss_mb": (rss_mb, "MB"),
        "failed_frac": (sum(not o["ok"] for o in ops) / len(ops), "ratio"),
    }
    last = good[-1]
    if wl.name == "ingest":
        own["ingest_docs_per_s"] = (items_per_s, "docs/s")
        for k in ("index_bytes_per_text_byte", "dedup_recall", "dedup_precision"):
            own[k] = (last.get(k, 0.0), "ratio")
    elif wl.name == "rag_query":
        ms = sorted(w * 1e3 for w in walls)
        own["query_p50_ms"] = (_median(ms), "ms")
        own["query_p90_ms"] = (ms[min(len(ms) - 1, int(0.9 * len(ms)))], "ms")
        own["query_samples"] = (len(ms), "count")
    elif wl.name == "batch_rag":
        own["batch_queries_per_s"] = (items_per_s, "queries/s")
        own["batch_recall_at_10"] = (quality, "ratio")
    elif wl.name == "ann_batch":
        own["ann_build_rows_per_s"] = (wl.N / _median([o["build_s"] for o in timed]), "rows/s")
        own["ann_queries_per_s"] = (items_per_s, "queries/s")
        own["ann_recall_at_10"] = (quality, "ratio")
    return e2e, own


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "cli_rag_spark", "__init__.py")):
        print("perfbench: run from the repository root (no cli_rag_spark/ here)", file=sys.stderr)
        return 2
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    base = os.path.join(root, ".perfbench_work")
    work = os.path.join(base, f"{args.workload}-{args.seed}-{os.getpid()}")
    try:
        return _run(args, root, base, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(args, root: str, base: str, work: str) -> int:
    import host
    import layers
    from spans import NullTracer, Tracer, dump
    from workloads import WORKLOADS

    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    cores = _environment(root, work)
    load1_start = host.load1()

    wl = WORKLOADS[args.workload](args.seed, os.path.join(work, "inputs"))
    gen_s = time.perf_counter() - T_START
    traced = bool(args.trace)
    null = NullTracer()
    setup_tr = ops_tr = null

    t0 = time.perf_counter()
    spark = _start_session(cores, work)
    session_start = time.perf_counter() - t0
    jvm_pid = int(spark._jvm.java.lang.ProcessHandle.current().pid())
    try:
        if traced:
            setup_tr = Tracer(spark, f"{wl.name}-setup")
        t0 = time.perf_counter()
        wl.setup(spark, setup_tr)
        setup_s = session_start + time.perf_counter() - t0
        wl.after_setup(spark)
        # the op's own code paths warm up (JIT, codegen caches) before
        # timing; these ops are checked but not measured
        warm = [_op(wl, spark, null, "w", n) for n in range(wl.WARMUP_OPS)]

        ops: list[dict] = []
        window = host.Window([os.getpid()])
        probe_start = host.cpu_probe_s()
        window.start()
        t_measure = time.perf_counter()
        if traced:
            _loop(wl, spark, null, args.seconds / 2, ops, "u")
            ops_tr = Tracer(spark, f"{wl.name}-ops")
            _loop(wl, spark, ops_tr, args.seconds / 2, ops, "t")
        else:
            _loop(wl, spark, null, args.seconds, ops, "u")
        state = window.stop()
        state["cpu_probe_s"] = [probe_start, host.cpu_probe_s()]
        state["load1_start"] = load1_start
        window_s = time.perf_counter() - t_measure
        rss_mb = host.vm_hwm_mb(jvm_pid)
        state["spark_cores"] = spark.sparkContext.defaultParallelism
        state["blas_threads"] = _blas_threads(spark)
        extras = wl.traced_extras(spark, ops_tr) if traced else {}
    finally:
        t_stop = time.perf_counter()
        _shutdown(spark)
    shutdown_s = time.perf_counter() - t_stop

    flags = host.flags(state, window_s, cores)
    for f in flags:
        print(f"perfbench: machine-state flag: {f}", file=sys.stderr)
    e2e, own = end_to_end(wl, ops, setup_s, rss_mb)
    sides = list(wl.side.values())
    failed = sum(not o["ok"] for o in ops + warm) + sum(not x["ok"] for x in sides)
    detail = {
        "workload": wl.name,
        "seed": args.seed,
        "trace": args.trace,
        "inputs": wl.inputs,
        "ops": len(ops),
        "op_walls_s": [o["wall"] for o in ops],
        "op_steal_per_s": [o["steal_per_s"] for o in ops],
        "clean_ops": len(clean_ops([o for o in ops if o["ok"]] or ops)),
        "workload_metrics": {k: {"value": v, "unit": u} for k, (v, u) in own.items()},
        "side_ops": wl.side,
        "host": {**state, "window_s": window_s, "flags": flags},
        "phases_s": {
            "imports_and_inputs": gen_s,
            "setup": setup_s - session_start,
            "measure": window_s,
            "shutdown": shutdown_s,
            "total": time.perf_counter() - T_START,
        },
    }
    if traced:
        per_layer = layers.per_layer(wl, setup_tr, ops_tr, ops, state, session_start, extras, cores)
        os.makedirs(os.path.join(base, "traces"), exist_ok=True)
        trace_path = os.path.join(base, "traces", f"{wl.name}-{args.seed}.json")
        dump(trace_path, {"setup": setup_tr, "ops": ops_tr})
        detail["trace_file"] = os.path.relpath(trace_path, root)
        names = [m["name"] for m in spec["per_layer"]]
        metrics = {n: {"value": per_layer[n][0], "unit": per_layer[n][1]} for n in names}
    else:
        names = [m["name"] for m in spec["end_to_end"]]
        metrics = {n: {"value": e2e[n][0], "unit": e2e[n][1]} for n in names}
    print(json.dumps(detail))
    print(json.dumps({"correct": failed == 0, "attempted": len(ops + warm) + len(sides), "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
