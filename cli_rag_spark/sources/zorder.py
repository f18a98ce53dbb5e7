"""Z-order (Morton-curve) clustered parquet layout.

Partitioning prunes on ONE low-cardinality column (sources/
partitioned.py); at 100 TB the second-most-filtered column still
forces full scans of every matching partition. The classical fix —
the OPTIMIZE ZORDER of the lakehouse engines, public since Morton
1966 — is to sort the data along an interleaved-bit space-filling
curve over several columns: every output file then covers a NARROW
range of EACH z-column, so parquet min/max file statistics prune
scans filtered on any of them, not just the partition key.

Spark-native construction, no custom writer:

1. per column: map values to a uniform bucket id via approx-quantile
   cut points (``approxQuantile`` — a bounded driver-side list of
   n_buckets-1 doubles, broadcast as a literal array; rank-uniform
   bucketing keeps the curve balanced under ANY value distribution,
   where naive min/max scaling collapses under skew);
2. interleave the bucket bits into one Morton key — pure
   shift/and/or expressions, whole-stage codegen;
3. ``repartitionByRange(n_files, zkey)`` + per-partition sort →
   each parquet file is one contiguous curve segment.

The bucket HOF (count of cut points <= value) is interpreted per row
(CodegenFallback) — acceptable because z-ordering is a one-time
storage-maintenance pass, not a query path; the scan side is plain
parquet with better statistics and zero read-time cost.
"""

from __future__ import annotations

import functools
import operator

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from cli_rag_spark.functions.vectors import vector_literal

BITS = 8  # bits per column -> 256 rank buckets each


def _bucket(col: Column, cuts: list[float]) -> Column:
    """Rank bucket of ``col`` among the quantile cut points: the count
    of cut points <= value (NULLs -> bucket 0, sorting first)."""
    cuts_arr = vector_literal(cuts)
    n = F.size(
        F.filter(cuts_arr, lambda c: c <= col.cast("double"))
    )
    return F.when(col.isNull(), F.lit(0)).otherwise(n).cast("long")


def _interleave(buckets: list[Column]) -> Column:
    """Morton key: bit j of bucket i lands at position j*len+i."""
    terms = [
        F.shiftleft(
            F.shiftright(b, j).bitwiseAND(F.lit(1)),
            j * len(buckets) + i,
        )
        for i, b in enumerate(buckets)
        for j in range(BITS)
    ]
    return functools.reduce(operator.add, terms)


def zorder_key(df: DataFrame, cols: list[str], n_buckets: int = 1 << BITS) -> Column:
    """The Morton-curve sort key over ``cols`` (numeric or castable to
    double). Cut points are computed once per column via
    ``approxQuantile`` (relative error 1e-3 — a bounded driver list,
    never a shuffle)."""
    if not 2 <= len(cols) <= 4:
        raise ValueError("z-order needs 2-4 columns")
    # _interleave extracts exactly BITS bits per bucket id; a bucket id
    # >= 1<<BITS would silently alias (256 interleaves as 0) and
    # degrade the curve with no error, so reject it here (ADVICE r4)
    if not 2 <= n_buckets <= 1 << BITS:
        raise ValueError(
            f"n_buckets must be in [2, {1 << BITS}] (= 1<<BITS: "
            f"_interleave extracts {BITS} bits per column); got {n_buckets}"
        )
    probs = [i / n_buckets for i in range(1, n_buckets)]
    casted = df.select(*[F.col(c).cast("double").alias(c) for c in cols])
    buckets = []
    for c in cols:
        cuts = casted.stat.approxQuantile(c, probs, 1e-3)
        buckets.append(_bucket(F.col(c), cuts))
    return _interleave(buckets)


def write_zordered(
    df: DataFrame, path: str, cols: list[str], n_files: int = 16
) -> None:
    """Write ``df`` as ``n_files`` parquet files clustered along the
    Morton curve of ``cols``: range-partition on the z-key (one
    shuffle sized by n_files) with an intra-partition sort, so every
    file is a contiguous curve segment and carries tight min/max
    statistics on EVERY z-column."""
    zk = zorder_key(df, cols)
    (
        df.withColumn("_zkey", zk)
        .repartitionByRange(n_files, F.col("_zkey"))
        .sortWithinPartitions("_zkey")
        .drop("_zkey")
        .write.mode("overwrite")
        .parquet(path)
    )


def clustering_spread(spark, path: str, cols: list[str]) -> dict[str, float]:
    """Diagnostic: mean per-file (max-min) extent of each column as a
    fraction of the global extent — the direct measure of how much a
    min/max-pruned scan can skip (1.0 = unclustered, -> 0 = perfectly
    clustered). Reads only parquet footers."""
    import pyarrow.dataset as ds

    dataset = ds.dataset(path, format="parquet")
    per_file: dict[str, list[tuple[float, float]]] = {c: [] for c in cols}
    for frag in dataset.get_fragments():
        md = frag.metadata
        lo: dict[str, float] = {}
        hi: dict[str, float] = {}
        for rg in range(md.num_row_groups):
            g = md.row_group(rg)
            for ci in range(g.num_columns):
                col = g.column(ci)
                name = col.path_in_schema
                if name not in per_file:
                    continue
                st = col.statistics
                # stats object present but min/max unset (all-NULL
                # chunk, writers that skip bounds) must not crash the
                # diagnostic — skip the chunk
                if st is None or st.min is None or st.max is None:
                    continue
                lo[name] = min(lo.get(name, st.min), st.min)
                hi[name] = max(hi.get(name, st.max), st.max)
        for c in cols:
            if c in lo:
                per_file[c].append((float(lo[c]), float(hi[c])))
    out = {}
    for c in cols:
        spans = per_file[c]
        if not spans:
            # no usable statistics anywhere: a pruned scan can skip
            # nothing, which is exactly what 1.0 (unclustered) means
            out[c] = 1.0
            continue
        glo = min(l for l, _ in spans)
        ghi = max(h for _, h in spans)
        width = (ghi - glo) or 1.0
        out[c] = sum(h - l for l, h in spans) / len(spans) / width
    return out
