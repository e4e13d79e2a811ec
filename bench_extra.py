"""Isolation benchmarks for the optimization round (guide §1.4): decompose
the bench.py queries into stages so each optimization targets the measured
bottleneck, not a guess. NOT part of the driver contract — bench.py is the
frozen measurement harness; this file only produces evidence for
OPTIMIZATION_r06.md.

Usage: python bench_extra.py [tag|minhash|linededup|topk|kg|all]
Env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS, KG_BENCH_REPLICAS (same as bench.py).
"""

from __future__ import annotations

import json
import os
import sys
import time
from collections.abc import Iterator

import pyarrow as pa
from pyspark.sql import SparkSession
from pyspark.sql import functions as F

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
REPLICAS = int(os.environ.get("KG_BENCH_REPLICAS", "20"))
TAG_REPLICAS = int(os.environ.get("KG_BENCH_TAG_REPLICAS", str(REPLICAS * 5)))
LANGS = ["en", "de", "zh", "fr", "es"]
RUNS = int(os.environ.get("KG_EXTRA_RUNS", "3"))


def make_spark() -> SparkSession:
    return (
        SparkSession.builder.master(f"local[{CPUS}]")
        .appName("kg-bench-extra")
        .config("spark.sql.shuffle.partitions", str(CPUS))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        .config("spark.driver.memory", os.environ.get("KG_BENCH_DRIVER_MEM", "24g"))
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )


def replicated_docs(spark, replicas: int, parts: int | None = None):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    reps = spark.range(replicas).withColumnRenamed("id", "rep")
    return (
        docs.crossJoin(F.broadcast(reps))
        .withColumn("doc_id", F.col("doc_id") + F.col("rep") * 1_000_000)
        .drop("rep")
        .repartition(parts or CPUS * 2, "doc_id")
    )


def timed(spark, name: str, fn, warm: int = 2, runs: int = RUNS) -> float:
    spark.sparkContext.setJobDescription(name)
    for _ in range(warm):
        fn()
    best = float("inf")
    for _ in range(runs):
        t0 = time.perf_counter()
        fn()
        best = min(best, time.perf_counter() - t0)
    spark.sparkContext.setJobDescription(None)
    print(f"  {name}: {best:.3f}s", flush=True)
    return round(best, 3)


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def bench_tag(spark) -> dict:
    from dss_plugin_nlp_analysis_spark.demo import demo_ontology_df
    from pyspark.sql import types as T
    from pyspark.sql.functions import arrow_udf
    from pyspark.sql.pandas.types import to_arrow_type

    from dss_plugin_nlp_analysis_spark.operators.tagger import _doc_udf, tag_documents
    from dss_plugin_nlp_analysis_spark.operators.ontology import (
        TagOptions,
        clean_ontology,
        compile_ontology,
    )
    from dss_plugin_nlp_analysis_spark.functions.langsupport import validate_languages

    docs = replicated_docs(spark, TAG_REPLICAS).cache()
    n = docs.count()
    onto = demo_ontology_df(spark)
    out: dict[str, float] = {"n_docs": n}

    out["scan_count"] = timed(
        spark, "tag/scan+count", lambda: docs.select(F.count("*"), F.count("text")).collect()
    )

    # the kernel's full result (sentences + matches) as one struct, so the
    # kernel legs ship back everything process_document produces
    schema = T.StructType(
        [
            T.StructField("sentences", T.ArrayType(T.StringType())),
            T.StructField("matches", T.ArrayType(T.StructType(
                [T.StructField(f, T.StringType()) for f in ("tag", "category", "keyword")]
                + [T.StructField("sent_idx", T.IntegerType())]
            ))),
        ]
    )
    arrow_type = to_arrow_type(schema)

    # boundary-only: identical UDF shape, trivial per-row work
    @arrow_udf(schema)
    def null_udf(it: Iterator[tuple[pa.Array, pa.Array]]) -> Iterator[pa.Array]:
        for text_a, _lang_a in it:
            yield pa.array([([], [])] * len(text_a), type=arrow_type)

    boundary = docs.withColumn("_t", null_udf(F.col("text"), F.col("lang")))
    out["udf_boundary"] = timed(
        spark, "tag/udf-boundary", lambda: boundary.select(F.count("_t")).collect()
    )

    rows = [(r["tag"], r["keyword"], None) for r in clean_ontology(onto, "tag", "keyword", None).collect()]
    compiled = compile_ontology(rows, validate_languages(LANGS, False), TagOptions(), False)
    kernel = _doc_udf(
        spark.sparkContext.broadcast(compiled), "en", False, schema,
        lambda sentences, matches: (
            sentences,
            [(m["tag"], m["category"], m["keyword"], m["sent_idx"]) for m in matches],
        ),
    )
    extracted = docs.withColumn("_tagging", kernel(F.col("text"), F.col("lang")))
    out["udf_kernel"] = timed(
        spark, "tag/udf-kernel", lambda: extracted.select(F.count("_tagging")).collect()
    )
    # kernel + ship full struct through count of a projected field
    out["udf_kernel_field"] = timed(
        spark,
        "tag/udf-kernel-field",
        lambda: extracted.select(F.count(F.col("_tagging")["matches"])).collect(),
    )

    def full():
        tag_documents(docs, onto, lang_col="lang", languages=LANGS).select(
            F.count("*"), F.count("tag")
        ).collect()

    out["tag_match_full"] = timed(spark, "tag/full", full)
    docs.unpersist()
    return out


def bench_minhash(spark) -> dict:
    from dss_plugin_nlp_analysis_spark.operators.dedup import (
        _band_buckets,
        exploded_shingles,
        minhash_candidate_pairs,
    )

    docs = replicated_docs(spark, REPLICAS).cache()
    n = docs.count()
    out: dict[str, float] = {"n_docs": n}

    ex = exploded_shingles(docs, "doc_id", "text", 3)
    out["shingles_explode"] = timed(
        spark, "minhash/shingles", lambda: ex.select(F.count("*")).collect()
    )
    exh = ex.withColumn("h", F.md5("g"))
    out["shingles_md5"] = timed(
        spark, "minhash/md5", lambda: exh.select(F.count("h")).collect()
    )
    sig = exh.groupBy("id").agg(
        *[
            F.min(F.conv(F.substring("h", 1 + 4 * i, 4), 16, 10).cast("int")).alias(f"s{i}")
            for i in range(8)
        ]
    )
    out["signatures"] = timed(
        spark, "minhash/signatures", lambda: sig.select(F.count("*")).collect()
    )
    buckets = _band_buckets(docs, "doc_id", "text", 8, 4, 3)
    out["banded_keys"] = timed(
        spark, "minhash/banded", lambda: buckets.select(F.count("*")).collect()
    )

    def full():
        minhash_candidate_pairs(docs, "doc_id", "text", num_hashes=8, bands=4).select(
            F.count("*")
        ).collect()

    out["pairs_full"] = timed(spark, "minhash/full", full)
    docs.unpersist()
    return out


def bench_linededup(spark) -> dict:
    from dss_plugin_nlp_analysis_spark.operators.webclean import line_dedup

    docs = replicated_docs(spark, REPLICAS).cache()
    n = docs.count()

    def lined(d):
        t = F.trim(F.col("text"))
        for sep in (" table ", " value ", " a ", " the "):
            t = F.replace(t, F.lit(sep), F.lit("\n"))
        return d.withColumn("text", t)

    out: dict[str, float] = {"n_docs": n}
    ld = lined(docs)
    out["line_explode"] = timed(
        spark,
        "linededup/explode",
        lambda: ld.select(
            F.posexplode(F.filter(F.transform(F.split(F.col("text"), "\n"), F.trim), lambda x: x != ""))
        ).select(F.count("*")).collect(),
    )

    def full():
        line_dedup(lined(docs), "doc_id", "text").select(
            F.count("*"), F.sum(F.length("clean_text"))
        ).collect()

    out["line_dedup_full"] = timed(spark, "linededup/full", full)
    docs.unpersist()
    return out


def bench_topk(spark) -> dict:
    from dss_plugin_nlp_analysis_spark.operators.similarity import cosine_topk

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    out: dict[str, float] = {"n_vecs": emb.count()}

    def full():
        cosine_topk(emb, emb.limit(50), k=10).select(F.count("*")).collect()

    out["topk_full"] = timed(spark, "topk/full", full)
    return out


def bench_kg(spark) -> dict:
    from dss_plugin_nlp_analysis_spark.demo import kg_oracle_ontology_df
    from dss_plugin_nlp_analysis_spark.operators.kg import build_triples

    docs = replicated_docs(spark, TAG_REPLICAS).cache()
    n = docs.count()
    out: dict[str, float] = {"n_docs": n}

    def full():
        build_triples(
            docs, kg_oracle_ontology_df(spark), url_col="doc_id", lang_col="lang",
            ts_col=None, category_col=None, languages=LANGS,
        ).select(F.count("*")).collect()

    out["kg_full"] = timed(spark, "kg/full", full)
    docs.unpersist()
    return out


def main() -> None:
    which = sys.argv[1] if len(sys.argv) > 1 else "all"
    spark = make_spark()
    try:
        res: dict[str, dict] = {}
        if which in ("tag", "all"):
            res["tag"] = bench_tag(spark)
        if which in ("minhash", "all"):
            res["minhash"] = bench_minhash(spark)
        if which in ("linededup", "all"):
            res["linededup"] = bench_linededup(spark)
        if which in ("topk", "all"):
            res["topk"] = bench_topk(spark)
        if which in ("kg", "all"):
            res["kg"] = bench_kg(spark)
        print(json.dumps(res))
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
