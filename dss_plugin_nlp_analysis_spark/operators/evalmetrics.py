"""Retrieval evaluation metrics over ranked-run tables.

The retrieval family (bm25 / cosine_topk / lsh_ann / ivf / rrf_fuse)
produces ranked (query, doc, rank) runs; a training-data pipeline that
mines hard negatives or fuses retrievers needs the matching *eval* side
— MRR, nDCG@k, recall@k against a judgments (qrels) table — computed at
corpus scale, not exported to a driver-side script.

Reference scope note: the reference plugin (dataiku/dss-plugin-nlp-
analysis) has no retrieval surface; this extends the engine's
LLM-pipeline family (SURVEY.md "beyond the reference" mandate) in the
same oracle-gated style as bm25/hybrid_rrf.

Numeric contract (house rule — no floats in hash-gated outputs): the
rank discount 1/log2(rank+1) is precomputed on the DRIVER as an integer
micro-unit table (``discount_table``), embedded as literals in the plan,
so DCG/nDCG are pure int64 sums + floor divisions that Spark and any
ANSI engine evaluate identically. MRR is floor(1e6 / first_rel_rank),
recall is floor(1e6 * hits / n_rel).

Scale shape: one equi-join runs ⋈ qrels on (query, doc) — both sides
shuffle-partitioned by the join key, AQE handles skewed queries — then
one groupBy(query). Every aggregate is map-side combinable except the
IDCG term, which needs the query's judged relevance multiset; that
``collect_list`` is bounded by the number of JUDGED docs per query
(qrels are human-labeled, O(100) per query by construction — never
corpus-sized), the same bounded-group argument as inverted_index's
capped postings. No windows, no driver collect.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def discount_table(k: int) -> list[int]:
    """Integer micro-unit DCG discounts for ranks 1..k:
    round(1e6 / log2(rank + 1)). Computed once on the driver (floats
    never enter the distributed plan) — embed the SAME literals in any
    cross-engine oracle."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    return [round(1_000_000 / math.log2(r + 1)) for r in range(1, k + 1)]


def retrieval_metrics(
    runs: DataFrame,
    qrels: DataFrame,
    *,
    k: int = 10,
    query_col: str = "query_id",
    doc_col: str = "doc_id",
    rank_col: str = "rank",
    rel_col: str = "rel",
) -> DataFrame:
    """Per-query retrieval metrics of a ranked run against judgments.

    ``runs``: (query, doc, rank) with rank 1-based within query.
    ``qrels``: (query, doc, rel) with integer graded relevance; rel <= 0
    rows are dropped (standard TREC convention: non-positive = not
    relevant). NULL keys on either side are dropped (NULL-key contract
    shared with kg.py/rollup.py). A doc listed more than once for a
    query counts once, at its smallest rank.

    Returns one row per query appearing in qrels:
      n_rel        judged-relevant docs for the query
      hits_at_k    relevant docs retrieved at rank <= k
      recall_at_k_ppm   floor(1e6 * hits_at_k / n_rel)
      mrr_ppm      floor(1e6 / rank of first relevant result), 0 if none
      dcg_micro    sum(rel * discount_micro[rank]) over rank <= k
      idcg_micro   ideal DCG (rels sorted desc, top k)
      ndcg_ppm     floor(1e6 * dcg / idcg), 0 when idcg = 0

    Queries with judgments but no run rows score 0 across the board
    (left join from qrels) — a retriever must be penalized for queries
    it returns nothing for, not silently excused.
    """
    disc = discount_table(k)
    q = (
        qrels.select(
            F.col(query_col).alias("q"),
            F.col(doc_col).alias("d"),
            F.col(rel_col).cast("long").alias("rel"),
        )
        .where(
            F.col("q").isNotNull() & F.col("d").isNotNull() & (F.col("rel") > 0)
        )
    )
    # one run row per (query, doc) at its best rank: a doc listed twice
    # must not count twice in n_rel, hits, DCG or the ideal-DCG multiset
    # (the aggregate shares the join's (q, d) partitioning — no new shuffle)
    r = (
        runs.select(
            F.col(query_col).alias("q"),
            F.col(doc_col).alias("d"),
            F.col(rank_col).cast("long").alias("rank"),
        )
        .where(F.col("q").isNotNull() & F.col("d").isNotNull() & F.col("rank").isNotNull())
        .groupBy("q", "d")
        .agg(F.min("rank").alias("rank"))
    )

    # rank -> discount lookup as a literal CASE chain (k is small)
    def _disc(rank: Column) -> Column:
        expr = F.lit(0).cast("long")
        for i, dv in enumerate(disc):
            expr = F.when(rank == i + 1, F.lit(dv).cast("long")).otherwise(expr)
        return expr

    joined = q.join(r, ["q", "d"], "left")
    per_q = joined.groupBy("q").agg(
        F.count(F.lit(1)).alias("n_rel"),
        F.sum(
            F.when((F.col("rank").isNotNull()) & (F.col("rank") <= k), 1).otherwise(0)
        ).alias("hits_at_k"),
        F.min(F.when(F.col("rank").isNotNull(), F.col("rank"))).alias("first_rank"),
        F.sum(
            F.when(
                (F.col("rank").isNotNull()) & (F.col("rank") <= k),
                F.col("rel") * _disc(F.col("rank")),
            ).otherwise(F.lit(0).cast("long"))
        ).alias("dcg_micro"),
        # bounded by judged docs per query (see module doc)
        F.sort_array(F.collect_list("rel"), asc=False).alias("rels_desc"),
    )

    # ideal DCG: top-k judged rels (already sorted desc) x discount table
    # try_element_at: rels_desc is shorter than k for thinly-judged
    # queries, and plain element_at raises under ANSI mode
    idcg = F.lit(0).cast("long")
    for i, dv in enumerate(disc):
        idcg = idcg + F.coalesce(
            F.try_element_at(F.col("rels_desc"), F.lit(i + 1)),
            F.lit(0).cast("long"),
        ) * F.lit(dv).cast("long")

    return (
        per_q.withColumn("idcg_micro", idcg)
        .select(
            F.col("q").alias(query_col),
            F.col("n_rel").cast("long").alias("n_rel"),
            F.col("hits_at_k").cast("long").alias("hits_at_k"),
            F.expr("1000000 * hits_at_k div n_rel").alias("recall_at_k_ppm"),
            F.when(F.col("first_rank").isNotNull(), F.expr("1000000 div first_rank"))
            .otherwise(F.lit(0).cast("long"))
            .alias("mrr_ppm"),
            F.col("dcg_micro").cast("long").alias("dcg_micro"),
            F.col("idcg_micro").cast("long").alias("idcg_micro"),
            F.when(
                F.col("idcg_micro") > 0,
                F.expr("1000000 * dcg_micro div idcg_micro"),
            )
            .otherwise(F.lit(0).cast("long"))
            .alias("ndcg_ppm"),
        )
    )
