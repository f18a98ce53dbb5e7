"""E10 — retrieval context assembly (the RAG prompt build).

Reference: ``generate_instruct_prompt_with_db`` (multirag.c:52-153)
gathers the top-k chunk texts by index and concatenates
``"Context %li:\\n"`` headers (multirag.c:108-124, format string
:109) with ``" \\n "`` separators (multirag.c:80,121-124).

Spark-native: the k-row top-k result is aggregated with
``sort_array(collect_list(struct(rank, piece)))`` + ``array_join`` —
a driver-safe single-row result. The Llama-3 wrapper tokens
(multirag.c:68-78) are parameters, not hardcoded; the reference's
"assistent" typo token (multirag.c:77) is NOT inherited (SURVEY §7
quirks ledger).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from cli_rag_spark.functions.vectors import quote_ident

CONTEXT_HEADER_FMT = "Context %d:\n"  # multirag.c:109 ("Context %li:\n")
CONTEXT_SEP = " \n "  # multirag.c:80


def _context_agg(rank_col: str, text_col: str, out_col: str) -> Column:
    """The shared aggregation column: collect (rank, text) structs,
    sort by rank (order-insensitive under any partitioning), render
    each as a 'Context i:' piece (multirag.c:108-119), join with the
    reference separator. Built as one parsed SQL expression: a few py4j
    round trips instead of one per Column-API node."""
    return F.expr(
        "array_join(transform(sort_array(collect_list(struct("
        f"{quote_ident(rank_col)} AS r, {quote_ident(text_col)} AS t))), "
        f"s -> concat(format_string('{CONTEXT_HEADER_FMT}', s.r), s.t)), "
        f"'{CONTEXT_SEP}') AS {quote_ident(out_col)}"
    )


def assemble_context(
    hits: DataFrame,
    rank_col: str = "rank",
    text_col: str = "text",
    out_col: str = "context",
) -> DataFrame:
    """k hit rows → 1 row with the assembled context string, ordered
    by rank regardless of partitioning (sort_array over the collected
    struct makes the aggregation order-insensitive)."""
    return hits.select(_context_agg(rank_col, text_col, out_col))


def assemble_contexts_grouped(
    hits: DataFrame,
    query_col: str = "query_id",
    rank_col: str = "rank",
    text_col: str = "text",
    out_col: str = "context",
) -> DataFrame:
    """Batch E10: one assembled context string PER QUERY from a kNN
    JOIN result — the scale form of :func:`assemble_context` (the
    reference serves one query at a time, multirag.c:394-456; a batch
    RAG pipeline assembles thousands of prompts in one pass). One
    groupBy on the query key; each group is k rows, so collect_list
    state is bounded by k·chunk_size regardless of corpus size."""
    return hits.groupBy(query_col).agg(_context_agg(rank_col, text_col, out_col))


def rag_prompt(
    context: Column,
    user_input: Column,
    system_prompt: str = (
        "You are a helpful assistant. Use the following contexts "
        "to answer the question."
    ),
) -> Column:
    """Full instruct prompt in the reference's Llama-3 shape
    (multirag.c:68-78, 127-149), typo-free."""
    return F.concat(
        F.lit("<|begin_of_text|><|start_header_id|>system<|end_header_id|>\n"),
        F.lit(system_prompt + "\n"),
        context,
        F.lit("<|eot_id|><|start_header_id|>user<|end_header_id|>\n"),
        user_input,
        F.lit("<|eot_id|><|start_header_id|>assistant<|end_header_id|>\n"),
    )
