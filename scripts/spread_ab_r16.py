#!/usr/bin/env python
"""Interleaved A/B for the r16 spread_small_input sites.

Usage: python scripts/spread_ab_r16.py [-n PAIRS] query [query ...]

One session, fresh DataFrame per run (bench.py protocol, noop sink).
Arms alternate A,B,A,B,... per query: arm A monkeypatches every
import site of spread_small_input to identity (the pre-change plan),
arm B leaves the shipped helper active. Interleaving cancels ambient
drift; each run carries its own hypervisor-steal delta so throttled
runs are visibly throttled. Quote steal-clean pairs only: the output
gives the best raw run per arm and the best steal-clean run
("best_clean", null when an arm has none).
"""

from __future__ import annotations

import json
import os
import sys
import time

_REPO_DIR = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if _REPO_DIR not in sys.path:
    sys.path.insert(0, _REPO_DIR)

from cli_rag_spark.session import get_session  # noqa: E402
from cli_rag_spark.plans import registry  # noqa: E402
from cli_rag_spark.operators import bootstrap, dedup, fuzzy  # noqa: E402
from cli_rag_spark.plans import queries_corpus  # noqa: E402

# every module that does `from cli_rag_spark.session import
# spread_small_input` (the setsim, bloom_decontamination,
# ngram_novelty, bpe word_frequencies and winsorized-cents sites were
# A/B'd with this harness and reverted — see each site's comment)
SITES = [bootstrap, dedup, fuzzy, queries_corpus]

# a run is steal-clean when hypervisor steal stayed at or below this
# many CPU-seconds per wall second (the perfbench clean-op threshold)
STEAL_CLEAN = 0.1


def _steal() -> float:
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / 100.0


def _jvm_pid(spark) -> int:
    """The pid of this session's own driver JVM (not the first
    SparkSubmit on the box, which may belong to another session)."""
    return int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())


def _proc_cpu(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/stat") as f:
            parts = f.read().rsplit(")", 1)[1].split()
        return (int(parts[11]) + int(parts[12])) / 100.0
    except Exception:
        return 0.0


def main() -> None:
    args = sys.argv[1:]
    n_pairs = 3
    if args and args[0] == "-n":
        n_pairs = int(args[1])
        args = args[2:]
    names = args
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_session(app_name="spread-ab-r16")
    spark.sparkContext.setLogLevel("ERROR")
    queries = registry.all_queries()
    jvm = _jvm_pid(spark)
    shipped = SITES[0].spread_small_input
    identity = lambda df: df  # noqa: E731

    def set_arm(active: bool) -> None:
        fn = shipped if active else identity
        for m in SITES:
            m.spread_small_input = fn

    def run(name: str):
        j0, s0 = _proc_cpu(jvm), _steal()
        t0 = time.perf_counter()
        queries[name](spark, sf_dir).write.mode("overwrite").format("noop").save()
        return (
            round(time.perf_counter() - t0, 3),
            round(_proc_cpu(jvm) - j0, 2),
            round(_steal() - s0, 2),
        )

    spark.sparkContext.setJobDescription("warmup")
    queries["cosine_topk"](spark, sf_dir).write.mode("overwrite").format("noop").save()

    for name in names:
        arms = {"off": [], "on": []}
        # one untimed settle run per arm so checkpoint/codegen warm both
        for active, key in ((False, "off"), (True, "on")):
            set_arm(active)
            spark.sparkContext.setJobDescription(f"settle:{name}:{key}")
            run(name)
        for i in range(n_pairs):
            for active, key in ((False, "off"), (True, "on")):
                set_arm(active)
                spark.sparkContext.setJobDescription(f"ab:{name}:{key}:{i}")
                arms[key].append(run(name))
        best = {k: min(v)[0] for k, v in arms.items()}
        best_clean = {
            k: min((r[0] for r in v if r[2] <= STEAL_CLEAN * r[0]), default=None)
            for k, v in arms.items()
        }
        print(
            name,
            json.dumps({"best": best, "best_clean": best_clean, "runs": arms}),
            flush=True,
        )
    set_arm(True)
    spark.stop()


if __name__ == "__main__":
    main()
