"""Structured Streaming smoke: file-source pages → match UDF → triples →
exactly-once parquet sink (SURVEY.md §2.9 new surface)."""

from dss_plugin_nlp_analysis_spark.operators.ontology import TagOptions, compile_ontology
from dss_plugin_nlp_analysis_spark.sources.webpages import WEB_PAGE_SCHEMA, pages_df
from dss_plugin_nlp_analysis_spark.streaming.stream_tagger import (
    run_stream_to_parquet,
    stream_pages,
    stream_triples,
)


def test_stream_triples_end_to_end(spark, tmp_path):
    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    pages_df(spark, 60, seed=42).coalesce(2).write.parquet(src)

    rows = [("spark_engine", "spark engine", None), ("nyc", "New York", None)]
    compiled = compile_ontology(rows, ["en", "fr", "es", "de"], TagOptions(), False)

    pages = stream_pages(spark, src, WEB_PAGE_SCHEMA)
    assert pages.isStreaming
    triples = stream_triples(pages, compiled)
    q = run_stream_to_parquet(triples, out, ckpt)
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    got = spark.read.parquet(out)
    assert got.count() > 0
    preds = {r["pred"] for r in got.select("pred").distinct().collect()}
    assert preds <= {"spark_engine", "nyc"}
    # epoch lineage recorded per batch
    assert got.select("epoch_id").distinct().count() >= 1


def test_stream_mention_rate_windowed_watermark(spark, tmp_path):
    import pyspark.sql.functions as F

    from dss_plugin_nlp_analysis_spark.streaming.stream_tagger import (
        stream_mention_rate,
    )

    src = str(tmp_path / "src_rate")
    pages_df(spark, 60, seed=7).coalesce(2).write.parquet(src)

    rows = [("spark_engine", "spark engine", None), ("nyc", "New York", None)]
    compiled = compile_ontology(rows, ["en", "fr", "es", "de"], TagOptions(), False)

    pages = stream_pages(spark, src, WEB_PAGE_SCHEMA)
    rate = stream_mention_rate(pages, compiled, window="1 hour", watermark="2 hours")
    assert rate.isStreaming
    q = (
        rate.writeStream.outputMode("complete")
        .format("memory")
        .queryName("mention_rate")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = spark.sql("SELECT * FROM mention_rate")
    assert got.count() > 0
    r = got.agg(F.sum("n_pages").alias("p"), F.sum("n_mentions").alias("m")).collect()[0]
    assert r["p"] == 60  # every page lands in exactly one window
    assert r["m"] >= 0
    # window struct carries event-time bounds
    assert {f.name for f in got.schema["window"].dataType.fields} == {"start", "end"}


def test_stream_mention_rate_append_finalizes_and_drops_late(spark, tmp_path):
    """Append mode is where the watermark contract is observable: a window
    is emitted exactly once after the watermark passes its end, and rows
    arriving later than the watermark are dropped from it."""
    import pyspark.sql.functions as F

    from dss_plugin_nlp_analysis_spark.streaming.stream_tagger import (
        stream_mention_rate,
    )

    src = str(tmp_path / "src_wm")

    def write_pages(rows):
        df = spark.createDataFrame(
            [(f"http://a.com/{i}", ts, None, "spark engine runs", "en") for i, ts in rows],
            "url string, warc_ts string, html binary, text string, lang string",
        ).withColumn("warc_ts", F.col("warc_ts").cast("timestamp"))
        df.coalesce(1).write.mode("append").parquet(src)

    write_pages([(i, f"2024-01-01 00:0{i}:00") for i in range(3)])  # on-time, hour 00

    rows = [("spark_engine", "spark engine", None)]
    compiled = compile_ontology(rows, ["en"], TagOptions(), False)
    st = stream_pages(spark, src, WEB_PAGE_SCHEMA)
    rate = stream_mention_rate(st, compiled, window="1 hour", watermark="30 minutes")
    q = (
        rate.writeStream.outputMode("append")
        .format("memory")
        .queryName("rate_append")
        .start()
    )
    try:
        q.processAllAvailable()
        # hour-00 window not finalized yet (watermark hasn't passed 01:00)
        assert spark.sql("SELECT * FROM rate_append").count() == 0
        write_pages([(9, "2024-01-01 03:00:00")])  # advances the watermark
        q.processAllAvailable()
        write_pages([(7, "2024-01-01 00:05:00")])  # LATE for hour 00
        q.processAllAvailable()
    finally:
        q.stop()
    got = spark.sql("SELECT * FROM rate_append").collect()
    hour0 = [r for r in got if r["window"]["start"].hour == 0]
    # finalized exactly once, counting ONLY the on-time pages (late dropped)
    assert len(hour0) == 1
    assert hour0[0]["n_pages"] == 3 and hour0[0]["n_mentions"] == 3
    # the 03:00 window never finalizes (no later event) -> not emitted
    assert not [r for r in got if r["window"]["start"].hour == 3]


def test_stream_triples_equal_batch_triples(spark, tmp_path):
    """Batch ``build_triples`` and ``stream_triples`` over the same pages
    give the same multiset of rows over every triple column — including
    the canonical ``obj`` (the demo ontology's shared 'engine' alias maps
    spark_engine to analytics_engine) and the page's ``warc_ts``."""
    from collections import Counter

    from dss_plugin_nlp_analysis_spark.operators.kg import TRIPLE_COLUMNS, build_triples
    from dss_plugin_nlp_analysis_spark.sources.webpages import demo_kg_ontology

    langs = ["en", "fr", "es", "de"]
    src, out, ckpt = (str(tmp_path / d) for d in ("src_par", "out_par", "ckpt_par"))
    pages_df(spark, 80, seed=11).coalesce(3).write.parquet(src)
    onto = demo_kg_ontology(spark)
    compiled = compile_ontology([tuple(r) for r in onto.collect()], langs, TagOptions(), True)

    q = run_stream_to_parquet(
        stream_triples(stream_pages(spark, src, WEB_PAGE_SCHEMA), compiled), out, ckpt
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    streamed = spark.read.parquet(out).select(*TRIPLE_COLUMNS).collect()
    batch = build_triples(spark.read.parquet(src), onto, languages=langs).collect()

    assert any(r["pred"] != r["obj"] for r in batch)
    assert len(batch) > 0
    assert Counter(map(tuple, streamed)) == Counter(map(tuple, batch))
