"""retrieval_metrics: hand-computed goldens, zero-row penalty, NULL and
non-positive-rel contracts."""

from dss_plugin_nlp_analysis_spark.operators.evalmetrics import (
    discount_table,
    retrieval_metrics,
)


def test_discount_table_values():
    d = discount_table(3)
    # round(1e6 / log2(r+1)) for r = 1, 2, 3
    assert d == [1_000_000, 630_930, 500_000]


def test_hand_computed_metrics(spark):
    runs = spark.createDataFrame(
        [("a", "d1", 1), ("a", "d9", 2), ("a", "d2", 3), ("a", "d3", 4)],
        "query_id string, doc_id string, rank int",
    )
    qrels = spark.createDataFrame(
        [
            ("a", "d1", 2),
            ("a", "d2", 1),
            ("a", "d3", 1),
            # judged query with NO run rows: must score zero, not vanish
            ("b", "d1", 1),
            # non-positive rel is dropped (TREC convention)
            ("a", "d9", 0),
            # NULL keys dropped
            (None, "d1", 1),
            ("a", None, 1),
        ],
        "query_id string, doc_id string, rel int",
    )
    out = {
        r["query_id"]: r.asDict()
        for r in retrieval_metrics(runs, qrels, k=3).collect()
    }
    a = out["a"]
    assert a["n_rel"] == 3
    assert a["hits_at_k"] == 2  # d1@1, d2@3; d3@4 is past k
    assert a["recall_at_k_ppm"] == 1_000_000 * 2 // 3
    assert a["mrr_ppm"] == 1_000_000  # first relevant at rank 1
    dcg = 2 * 1_000_000 + 1 * 500_000
    idcg = 2 * 1_000_000 + 1 * 630_930 + 1 * 500_000
    assert a["dcg_micro"] == dcg
    assert a["idcg_micro"] == idcg
    assert a["ndcg_ppm"] == 1_000_000 * dcg // idcg

    b = out["b"]
    assert b["n_rel"] == 1
    assert (
        b["hits_at_k"],
        b["recall_at_k_ppm"],
        b["mrr_ppm"],
        b["dcg_micro"],
        b["ndcg_ppm"],
    ) == (0, 0, 0, 0, 0)
    assert b["idcg_micro"] == 1_000_000
    assert len(out) == 2  # NULL-key qrels rows contributed nothing


def test_mrr_counts_any_relevant_rank_not_just_top_k(spark):
    # first relevant result at rank 5 with k = 3: MRR still credits it
    runs = spark.createDataFrame(
        [("q", "d%d" % i, i) for i in range(1, 6)],
        "query_id string, doc_id string, rank int",
    )
    qrels = spark.createDataFrame(
        [("q", "d5", 1)], "query_id string, doc_id string, rel int"
    )
    row = retrieval_metrics(runs, qrels, k=3).collect()[0]
    assert row["hits_at_k"] == 0
    assert row["mrr_ppm"] == 1_000_000 // 5


def test_duplicate_run_rows_count_once_at_best_rank(spark):
    # d1 listed twice (ranks 1 and 3): it is one relevant doc, at rank 1
    qrels = spark.createDataFrame(
        [("q", "d1", 2), ("q", "d2", 1)], "query_id string, doc_id string, rel int"
    )
    clean = spark.createDataFrame(
        [("q", "d1", 1), ("q", "d2", 2)], "query_id string, doc_id string, rank int"
    )
    dup = spark.createDataFrame(
        [("q", "d1", 1), ("q", "d2", 2), ("q", "d1", 3)],
        "query_id string, doc_id string, rank int",
    )
    want = retrieval_metrics(clean, qrels, k=3).collect()[0].asDict()
    got = retrieval_metrics(dup, qrels, k=3).collect()[0].asDict()
    assert got == want
    assert (got["n_rel"], got["hits_at_k"], got["mrr_ppm"]) == (2, 2, 1_000_000)
    assert got["dcg_micro"] == got["idcg_micro"] == 2 * 1_000_000 + 630_930
