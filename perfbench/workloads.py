"""The two workloads: each runs one complete job through the package's
public API, checks the job's output against a single-process reference,
and (in a traced run) derives its layer metrics.

Every job reads its inputs from the parquet files ``gen.py`` wrote and
ends with a written or collected result, so a job's wall time covers
scan, Python boundary, kernel, JVM stages and sink.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import statistics
import time
from concurrent.futures import ThreadPoolExecutor

import pyarrow.parquet as pq

import gen
from observe import Tracer

LANGS = ["en", "de", "fr", "es", "zh"]
# one checkpoint job group over a few buckets: at this input size more
# groups only repeat the per-group fixed cost
CHECKPOINT_BUCKETS = 4
_MASK = (1 << 64) - 1


# --- reference helpers ----------------------------------------------------

def multiset_fp(rows) -> list[int]:
    """``[count, fingerprint]`` of a multiset of tuples: a sum of per-row
    64-bit digests, so row order does not matter and a dropped, added or
    changed row does."""
    n = fp = 0
    for r in rows:
        d = hashlib.blake2b(repr(tuple(r)).encode(), digest_size=8).digest()
        fp = (fp + int.from_bytes(d, "little")) & _MASK
        n += 1
    return [n, fp]


def _read_rows(path: str, columns: list[str]) -> list[tuple]:
    """Rows of a parquet file or of every ``*.parquet`` file under a
    directory (Spark's ``_bucket=<n>/`` partition directories included),
    read with pyarrow outside Spark."""
    files = [path] if os.path.isfile(path) else sorted(
        os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs if f.endswith(".parquet"))
    out: list[tuple] = []
    for f in files:
        t = pq.read_table(f, columns=columns)
        out.extend(zip(*(t.column(c).to_pylist() for c in columns)))
    return out


def _fresh(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    return path


def _count(nodes, pred) -> int:
    return sum(1 for n in nodes if pred(n))


def _sum_metric(nodes, metric: str, pred) -> float:
    return sum(n["metrics"].get(metric, 0) for n in nodes if pred(n))


def _is_textprep(n) -> bool:
    return "_extract(" in n["desc"]


def _is_python(n) -> bool:
    return "pythonTotalTime" in n["metrics"]


def python_layers(nodes, per: int) -> dict[str, float]:
    """Boundary metrics of the Python eval nodes, split into HTML
    extraction (textprep) and tagging kernel (tagger), per job."""
    tag = lambda n: _is_python(n) and not _is_textprep(n)  # noqa: E731
    txt = lambda n: _is_python(n) and _is_textprep(n)  # noqa: E731
    return {
        "tagger.python_boot_s": _sum_metric(nodes, "pythonBootTime", tag) / per,
        "tagger.python_init_s": _sum_metric(nodes, "pythonInitTime", tag) / per,
        "tagger.python_total_s": _sum_metric(nodes, "pythonTotalTime", tag) / per,
        "tagger.arrow_bytes_sent": _sum_metric(nodes, "pythonDataSent", tag) / per,
        "tagger.arrow_bytes_received": _sum_metric(nodes, "pythonDataReceived", tag) / per,
        "textprep.python_total_s": _sum_metric(nodes, "pythonTotalTime", txt) / per,
        "textprep.arrow_bytes_sent": _sum_metric(nodes, "pythonDataSent", txt) / per,
        "tagger.lambda_nodes": _count(nodes, lambda n: "lambdafunction" in n["desc"]) / per,
    }


def scan_layers(nodes, marker: str, per: int) -> dict[str, float]:
    """Scan time and bytes of the scans that read the workload's input
    (``marker`` is a path component of the input directory)."""
    scan = lambda n: n["name"].startswith("Scan") and marker in n["desc"]  # noqa: E731
    return {
        "sources.scan_s": _sum_metric(nodes, "scanTime", scan) / per,
        "sources.bytes_read": _sum_metric(nodes, "filesSize", scan) / per,
    }


def collect_call(res: dict, tracer, name: str, build) -> list:
    """Build a DataFrame with the public call ``build()`` and collect it,
    inside a span named after the call (some calls run Spark jobs while
    building, e.g. ``cluster_dedup``'s component rounds); record the wall
    time under ``res["call_s"][name]`` and, when traced, the executed plan
    under ``res["plans"][name]``."""
    t0 = time.perf_counter()
    with tracer.span(name):
        df = build()
        rows = df.collect()
    res["call_s"][name] = time.perf_counter() - t0
    if tracer.enabled:
        from observe import plan_nodes
        res["plans"][name] = plan_nodes(df)
    return rows


def _exchanges(nodes) -> int:
    return _count(nodes, lambda n: n["name"] == "Exchange")


# --- direct calls into the kernel modules ----------------------------------

def _rate(fn, work: float, min_s: float = 0.25) -> float:
    """``work`` units per second of ``fn()``, repeated for at least
    ``min_s`` seconds on this one core."""
    reps, t0 = 0, time.perf_counter()
    while True:
        fn()
        reps += 1
        dt = time.perf_counter() - t0
        if dt >= min_s:
            return work * reps / dt


def kernel_rates(compiled, texts_langs, htmls=None) -> dict[str, float]:
    """Single-core throughput of each kernel module's public function on a
    sample of the workload's documents."""
    from dss_plugin_nlp_analysis_spark.functions.html_text import extract_text
    from dss_plugin_nlp_analysis_spark.functions.sentencizer import sentence_token_spans
    from dss_plugin_nlp_analysis_spark.functions.textnorm import clean_linebreaks
    from dss_plugin_nlp_analysis_spark.functions.tokenizer import tokenize_raw
    from dss_plugin_nlp_analysis_spark.operators.tagger import process_document

    out: dict[str, float] = {}
    if htmls:
        mchars = sum(len(h) for h in htmls) / 1e6
        out["html_text.mchars_per_s_core"] = _rate(lambda: [extract_text(h) for h in htmls], mchars)
    clean = [(clean_linebreaks(t), l) for t, l in texts_langs]
    for key, sel in (("tokenizer.mchars_per_s_core", lambda l: l != "zh"),
                     ("tokenizer.mchars_per_s_core.zh", lambda l: l == "zh")):
        part = [(t, l) for t, l in clean if sel(l)]
        if part:
            mchars = sum(len(t) for t, _ in part) / 1e6
            out[key] = _rate(lambda: [tokenize_raw(t, l) for t, l in part], mchars)
    toks = [(tokenize_raw(t, l), l) for t, l in clean]
    mchars = sum(len(t) for t, _ in clean) / 1e6
    out["sentencizer.mchars_per_s_core"] = _rate(
        lambda: [sentence_token_spans(tk) for tk, _ in toks], mchars)
    keys = [([x[0] for x in tk if not x[3]], l) for tk, l in toks]
    autos = {l: compiled.automaton_for(l) for l in {l for _, l in keys}}
    n_tokens = sum(len(k) for k, _ in keys)
    out["automaton.tokens_per_s_core"] = _rate(
        lambda: [autos[l].find_all(k) for k, l in keys], n_tokens)
    out["tagger.docs_per_s_core"] = _rate(
        lambda: [process_document(compiled, t, l) for t, l in texts_langs], len(texts_langs))
    return out


# --- workloads ------------------------------------------------------------

class Workload:
    """One workload over one seed's inputs in ``inputs_dir``; its jobs
    write their output under ``out_root``."""

    name = ""
    input_marker = ""  # the input directory the jobs scan

    def __init__(self, inputs_dir: str, props: dict, out_root: str):
        self.dir = inputs_dir
        self.props = props
        self.out_root = out_root
        self.ref: dict = {}

    # reference results are cached per seed and per version of the
    # sources that compute them (see run.prepare_inputs)
    def reference(self) -> dict:
        raise NotImplementedError

    def use_reference(self, ref: dict) -> None:
        self.ref = ref

    def setup(self, spark) -> dict:
        """Workload set-up after the session: the ontology compile, then
        one job over the generator's small copy of the inputs (``warm/``,
        one row per file), its independent parts run at the same time on
        threads of their own. That job boots the Python workers and runs
        every public call of the job once, on plans of the same shape as
        the measured jobs, so that their generated code is compiled in
        set-up and not in the first measured job. Returns layer metrics."""
        layers = self.compile(spark)
        t0 = time.perf_counter()
        parts = self.warm_parts(spark, os.path.join(self.dir, gen.WARM_DIR))
        with ThreadPoolExecutor(len(parts)) as pool:
            for f in [pool.submit(p) for p in parts]:
                f.result()
        layers["setup.first_udf_s"] = time.perf_counter() - t0
        return layers

    def warm_parts(self, spark, src: str) -> list:
        """Callables that together run one job over the inputs under
        ``src``."""
        return [lambda: self.job(spark, Tracer(False), -1, src)]

    def compile(self, spark) -> dict:
        """Compile the ontology; returns its layer metrics."""
        return {"ontology.compile_s": 0.0, "ontology.patterns": 0.0}

    def job(self, spark, tracer, i: int, src: str | None = None) -> dict:
        """One complete job over the inputs under ``src`` (default: the
        seed's inputs); returns at least ``{"docs": n}`` plus what
        ``check`` needs."""
        raise NotImplementedError

    def check(self, res: dict) -> list[str]:
        raise NotImplementedError

    def trace_metrics(self, jobs: list[dict], evlog, ev_jobs) -> dict[str, float]:
        """Layer metrics for the traced jobs from their results, plan walks
        and event-log jobs."""
        raise NotImplementedError

    def direct_metrics(self) -> dict[str, float]:
        return {}


def _demo_rows():
    from dss_plugin_nlp_analysis_spark.demo import DEMO_ONTOLOGY
    return [(t, k, None) for t, k, _c in DEMO_ONTOLOGY]


def _ontology_rows(path: str) -> list[tuple]:
    return _read_rows(path, ["tag", "keyword", "category"])


def web_reference(pages_dir: str, stream_dir: str, onto_path: str) -> dict:
    """Triples of every page from a single-process loop over
    ``extract_text`` and ``process_document``, as multiset fingerprints:
    all of them for the batch leg, and the columns the stream shares with
    batch for the pages the streaming leg reads."""
    from dss_plugin_nlp_analysis_spark.functions.html_text import extract_text
    from dss_plugin_nlp_analysis_spark.operators.kg import canonical_map
    from dss_plugin_nlp_analysis_spark.operators.ontology import TagOptions, compile_ontology
    from dss_plugin_nlp_analysis_spark.operators.tagger import process_document

    onto = _ontology_rows(onto_path)
    compiled = compile_ontology(onto, LANGS, TagOptions(), True)
    cmap = canonical_map(onto)
    triples, texts = [], []
    for url, lang, html in _read_rows(pages_dir, ["url", "lang", "html"]):
        text = extract_text(html)
        texts.append(text)
        sents, matches = process_document(compiled, text, lang)
        for m in matches:
            tag = m["tag"]
            triples.append((url, tag, cmap.get(tag, tag), m["keyword"],
                            sents[m["sent_idx"]], m["sent_idx"], m["category"]))
    stream_urls = {r[0] for r in _read_rows(stream_dir, ["url"])}
    return {
        "triples": multiset_fp(triples),
        "stream_cols": multiset_fp((t[0], t[1], t[3], t[4]) for t in triples if t[0] in stream_urls),
        "fast_path_share": gen.fast_path_share(texts),
        "docs": len(texts),
        "stream_docs": len(stream_urls),
    }


class WebKG(Workload):
    """HTML pages through two legs over the same pages: the batch leg
    (extract_text_udf → build_triples → run_checkpointed_build, a
    checkpointed parquet write) and the streaming leg (stream_pages over a
    copy of the first pages in many small files, one file per epoch →
    extract_text_udf → stream_triples → run_stream_to_parquet, run to
    completion). A job's documents are the pages of both legs."""

    name = "web_kg"
    input_marker = "pages"

    def reference(self) -> dict:
        return web_reference(os.path.join(self.dir, "pages"), os.path.join(self.dir, "stream"),
                             os.path.join(self.dir, "ontology.parquet"))

    def compile(self, spark) -> dict:
        from dss_plugin_nlp_analysis_spark.operators.kg import canonical_map
        from dss_plugin_nlp_analysis_spark.operators.ontology import TagOptions, compile_ontology

        rows = _ontology_rows(os.path.join(self.dir, "ontology.parquet"))
        t0 = time.perf_counter()
        self.compiled = compile_ontology(rows, LANGS, TagOptions(), True)
        t1 = time.perf_counter()
        self.cmap = canonical_map(rows)
        self.onto = spark.read.parquet(os.path.join(self.dir, "ontology.parquet"))
        return {
            "ontology.compile_s": t1 - t0,
            "ontology.patterns": float(sum(len(p) for p in self.compiled.patterns.values())),
        }

    def job(self, spark, tracer, i: int, src: str | None = None) -> dict:
        res: dict = {"docs": self.ref["docs"] + self.ref["stream_docs"], "call_s": {}}
        self.batch_leg(spark, tracer, i, src or self.dir, res)
        self.stream_leg(spark, tracer, i, src or self.dir, res)
        return res

    def warm_parts(self, spark, src: str) -> list:
        res: dict = {"call_s": {}}
        return [lambda: self.batch_leg(spark, Tracer(False), -1, src, res),
                lambda: self.stream_leg(spark, Tracer(False), -1, src, res)]

    def _out(self, i: int, name: str) -> str:
        # each job writes under its own directory: outputs are checked
        # after the measured jobs
        return _fresh(os.path.join(self.out_root, f"job{i}", name))

    def batch_leg(self, spark, tracer, i: int, src: str, res: dict) -> None:
        from pyspark.sql import functions as F

        from dss_plugin_nlp_analysis_spark.operators.kg import build_triples
        from dss_plugin_nlp_analysis_spark.operators.textprep import extract_text_udf
        from dss_plugin_nlp_analysis_spark.plans.checkpoint import run_checkpointed_build

        res["out"] = self._out(i, "triples")
        ckpt = self._out(i, "checkpoint")
        built = []

        def triple_fn(part):
            with tracer.span("kg.build_triples"):
                df = build_triples(part, self.onto, url_col="url", ts_col=None, languages=LANGS)
            built.append(df)
            return df

        t0 = time.perf_counter()
        with tracer.span("textprep.extract_text_udf"):
            docs = spark.read.parquet(os.path.join(src, "pages")).withColumn(
                "text", extract_text_udf()(F.col("html")))
        with tracer.span("checkpoint.run_checkpointed_build"):
            res["total_triples"] = run_checkpointed_build(
                spark, docs, triple_fn, res["out"], ckpt, url_col="url",
                num_buckets=CHECKPOINT_BUCKETS, buckets_per_job=CHECKPOINT_BUCKETS).total_triples
        res["call_s"]["checkpoint.run_checkpointed_build"] = time.perf_counter() - t0
        if tracer.enabled:  # planning needs the live session: walk the plan now
            from observe import plan_nodes
            res["kg_plan_nodes"] = plan_nodes(built[0])

    def stream_leg(self, spark, tracer, i: int, src: str, res: dict) -> None:
        from pyspark.sql import functions as F

        from dss_plugin_nlp_analysis_spark.operators.textprep import extract_text_udf
        from dss_plugin_nlp_analysis_spark.streaming.stream_tagger import (
            run_stream_to_parquet, stream_pages, stream_triples)

        res["stream_out"] = self._out(i, "stream_out")
        res["stream_ckpt"] = self._out(i, "stream_ckpt")
        t0 = time.perf_counter()
        with tracer.span("streaming.stream_triples"):
            pages = stream_pages(spark, os.path.join(src, "stream"),
                                 "url string, lang string, html binary")
            pages = pages.withColumn("text", extract_text_udf()(F.col("html")))
            triples = stream_triples(pages, self.compiled, url_col="url", lang_col="lang")
        with tracer.span("streaming.run_stream_to_parquet"):
            q = run_stream_to_parquet(triples, res["stream_out"], res["stream_ckpt"])
            try:
                q.processAllAvailable()
            finally:
                q.stop()
        res["call_s"]["streaming.run_stream_to_parquet"] = time.perf_counter() - t0
        res["progress"] = [p for p in q.recentProgress if p.get("numInputRows", 0) > 0]

    def check(self, res: dict) -> list[str]:
        errs = []
        rows = _read_rows(res["out"], ["subj", "pred", "obj", "keyword", "sentence", "sent_idx", "category"])
        got = multiset_fp(rows)
        if got != self.ref["triples"]:
            errs.append(f"web_kg batch triples {got} != reference {self.ref['triples']}")
        if res["total_triples"] != self.ref["triples"][0]:
            errs.append(f"web_kg manifest total {res['total_triples']} != {self.ref['triples'][0]}")
        res["triples"] = got[0]
        res["out_bytes"] = sum(
            os.path.getsize(os.path.join(d, f))
            for d, _, fs in os.walk(res["out"]) for f in fs if f.endswith(".parquet"))

        rows = _read_rows(res["stream_out"], ["subj", "pred", "obj", "keyword", "sentence"])
        got = multiset_fp((s, p, k, t) for s, p, _o, k, t in rows)
        if got != self.ref["stream_cols"]:
            errs.append(f"web_kg stream (subj, pred, keyword, sentence) {got} != batch {self.ref['stream_cols']}")
        # known divergence: the stream emits the raw tag as obj where batch
        # emits the canonical node; measured, not failed
        res["obj_mismatch"] = sum(1 for _s, p, o, _k, _t in rows if o != self.cmap.get(p, p)) / max(1, len(rows))
        # epoch latency from the checkpoint's own logs: offsets/<n> is
        # written when epoch n is planned, commits/<n> once its sink wrote
        lat = []
        commits = os.path.join(res["stream_ckpt"], "commits")
        for name in os.listdir(commits):
            if name.isdigit():
                t_off = os.stat(os.path.join(res["stream_ckpt"], "offsets", name)).st_mtime_ns
                lat.append((os.stat(os.path.join(commits, name)).st_mtime_ns - t_off) / 1e9)
        res["epoch_s"] = lat
        if len(lat) != gen.STREAM_FILES:
            errs.append(f"web_kg stream committed {len(lat)} epochs, expected {gen.STREAM_FILES}")
        return errs

    def trace_metrics(self, jobs, evlog, ev_jobs) -> dict[str, float]:
        n = len(jobs)
        nodes = [nd for e in evlog.executions_of(ev_jobs) for nd in e.get("nodes", [])]
        ckpt_jobs = [j for j in ev_jobs if j["group"] == "checkpoint.run_checkpointed_build"]
        ckpt_execs = evlog.executions_of(ckpt_jobs)
        sites = {}
        for j in ckpt_jobs:
            sites.setdefault(j["execution"], []).append(j["call_site"])

        def writes_triples(e):
            return "InsertIntoHadoopFsRelationCommand" in e["plan_text"] and "/triples" in e["plan_text"]

        def lineage(e):  # manifest reads and writes, per-bucket counts and fingerprints
            return not writes_triples(e) and (
                any("checkpoint.py" in s for s in sites.get(e["id"], ())) or "/manifest" in e["plan_text"])

        def dur(es):
            return sum((e["end"] or e["start"]) - e["start"] for e in es)

        prog = [p for j in jobs for p in j["progress"]]

        def med(key):
            return statistics.median(p["durationMs"].get(key, 0) / 1e3 for p in prog) if prog else 0.0

        return {
            **python_layers(nodes, n),
            **scan_layers(nodes, "/" + self.input_marker, n),
            "checkpoint.write_s": dur([e for e in ckpt_execs if writes_triples(e)]) / n,
            "checkpoint.lineage_s": dur([e for e in ckpt_execs if lineage(e)]) / n,
            "checkpoint.jobs": len(ckpt_jobs) / n,
            "checkpoint.bytes_written": sum(t["bytes_written"] for t in evlog.tasks_of(ckpt_jobs)) / n,
            "kg.triples_per_doc": statistics.mean(j["triples"] for j in jobs) / self.ref["docs"],
            "kg.exchanges": statistics.mean(_exchanges(j["kg_plan_nodes"]) for j in jobs),
            "streaming.leg_s": statistics.mean(j["call_s"]["streaming.run_stream_to_parquet"] for j in jobs),
            "streaming.epochs": statistics.mean(len(j["progress"]) for j in jobs),
            "streaming.trigger_s_p50": med("triggerExecution"),
            "streaming.add_batch_s_p50": med("addBatch"),
            "streaming.obj_mismatch_share": statistics.mean(j["obj_mismatch"] for j in jobs),
            "checkpoint.leg_s": statistics.mean(
                j["call_s"]["checkpoint.run_checkpointed_build"] for j in jobs),
        }

    def direct_metrics(self) -> dict[str, float]:
        from dss_plugin_nlp_analysis_spark.functions.html_text import extract_text

        rows = _read_rows(os.path.join(self.dir, "pages"), ["lang", "html"])[:300]
        texts = [(extract_text(h), l) for l, h in rows]
        return kernel_rates(self.compiled, texts, [h for _, h in rows])


class PlainTag(Workload):
    """ASCII word bags → tag_documents in all three output formats plus
    build_triples, collecting aggregate counts only. One part of the
    ``plain_dedup`` workload."""

    name = "plain_tag"
    input_marker = "docs"

    def reference(self) -> dict:
        from dss_plugin_nlp_analysis_spark.operators.kg import canonical_map
        from dss_plugin_nlp_analysis_spark.operators.ontology import TagOptions, compile_ontology
        from dss_plugin_nlp_analysis_spark.operators.tagger import process_document

        rows = _demo_rows()
        compiled = compile_ontology(rows, LANGS, TagOptions(), False)
        cmap = canonical_map(rows)
        per_match: dict = {}
        triples: dict = {}
        docs_with = json_len = 0
        texts = []
        for doc_id, text, lang in _read_rows(os.path.join(self.dir, "docs"), ["doc_id", "text", "lang"]):
            texts.append(text)
            sents, matches = process_document(compiled, text, lang)
            seen = list(dict.fromkeys((m["tag"], m["keyword"], sents[m["sent_idx"]]) for m in matches))
            for tag, kw, _s in seen or [(None, None, None)]:
                c = per_match.setdefault(f"{tag}|{kw}", [0, 0])
                c[0] += 1
                c[1] += doc_id
            for m in matches:
                key = f"{m['tag']}|{cmap.get(m['tag'], m['tag'])}|{m['keyword']}"
                c = triples.setdefault(key, [0, 0])
                c[0] += 1
                c[1] += doc_id
            tags = list(dict.fromkeys(m["tag"] for m in matches))
            if tags:
                docs_with += 1
                json_len += len(json.dumps(tags, separators=(",", ":")))
        return {
            "per_match": per_match, "triples": triples, "docs_with_tags": docs_with,
            "tag_list_chars": json_len, "docs": len(texts),
            "fast_path_share": gen.fast_path_share(texts),
        }

    def compile(self, spark) -> dict:
        from dss_plugin_nlp_analysis_spark.demo import demo_ontology_df
        from dss_plugin_nlp_analysis_spark.operators.ontology import TagOptions, compile_ontology

        t0 = time.perf_counter()
        self.compiled = compile_ontology(_demo_rows(), LANGS, TagOptions(), False)
        t1 = time.perf_counter()
        self.onto = demo_ontology_df(spark)
        return {
            "ontology.compile_s": t1 - t0,
            "ontology.patterns": float(sum(len(p) for p in self.compiled.patterns.values())),
        }

    def job(self, spark, tracer, i: int, src: str | None = None) -> dict:
        from pyspark.sql import functions as F

        from dss_plugin_nlp_analysis_spark.operators.kg import build_triples
        from dss_plugin_nlp_analysis_spark.operators.tagger import tag_documents

        docs = spark.read.parquet(os.path.join(src or self.dir, "docs"))
        res: dict = {"docs": self.ref["docs"], "call_s": {}, "plans": {}}

        def run(name, build):
            return collect_call(res, tracer, name, build)

        def fmt(output_format):
            return tag_documents(docs, self.onto, languages=LANGS, output_format=output_format)

        res["per_match"] = {
            f"{r[0]}|{r[1]}": [r[2], r[3]]
            for r in run("tagger.tag_documents.per_match", lambda: fmt("one_row_per_match").groupBy(
                "tag", "tag_keyword").agg(F.count(F.lit(1)), F.sum("doc_id")))
        }
        res["per_doc"] = list(run("tagger.tag_documents.per_doc", lambda: fmt("one_row_per_doc").agg(
            F.count("tag_list"), F.sum(F.length("tag_list"))))[0])
        res["doc_json"] = run("tagger.tag_documents.doc_json", lambda: fmt("one_row_per_doc_json").agg(
            F.count("tag_json_full")))[0][0]

        built = []

        def triples():
            built.append(build_triples(docs, self.onto, url_col="doc_id", ts_col=None,
                                       category_col=None, languages=LANGS))
            return built[0].groupBy("pred", "obj", "keyword").agg(F.count(F.lit(1)), F.sum("subj"))

        res["triples"] = {f"{r[0]}|{r[1]}|{r[2]}": [r[3], r[4]] for r in run("kg.build_triples", triples)}
        if tracer.enabled:
            from observe import plan_nodes
            res["kg_plan_nodes"] = plan_nodes(built[0])
        return res

    def check(self, res: dict) -> list[str]:
        errs = []
        if res["per_match"] != self.ref["per_match"]:
            errs.append("plain_tag one_row_per_match (tag, keyword) multiset differs from reference")
        if res["per_doc"] != [self.ref["docs_with_tags"], self.ref["tag_list_chars"]]:
            errs.append(f"plain_tag one_row_per_doc {res['per_doc']} != reference")
        if res["doc_json"] != self.ref["docs_with_tags"]:
            errs.append(f"plain_tag one_row_per_doc_json {res['doc_json']} != {self.ref['docs_with_tags']}")
        if res["triples"] != self.ref["triples"]:
            errs.append("plain_tag build_triples (pred, obj, keyword) multiset differs from reference")
        return errs

    def trace_metrics(self, jobs, evlog, ev_jobs) -> dict[str, float]:
        n = len(jobs)
        nodes = [nd for j in jobs for p in j["plans"].values() for nd in p]
        fmt = lambda k: statistics.mean(j["call_s"][k] for j in jobs)  # noqa: E731
        return {
            **python_layers(nodes, n),
            **scan_layers(nodes, "/" + self.input_marker, n),
            "tagger.format_s.per_match": fmt("tagger.tag_documents.per_match"),
            "tagger.format_s.per_doc": fmt("tagger.tag_documents.per_doc"),
            "tagger.format_s.doc_json": fmt("tagger.tag_documents.doc_json"),
            "kg.triples_per_doc": statistics.mean(
                sum(v[0] for v in j["triples"].values()) / j["docs"] for j in jobs),
            "kg.exchanges": statistics.mean(_exchanges(j["kg_plan_nodes"]) for j in jobs),
        }

    def direct_metrics(self) -> dict[str, float]:
        rows = _read_rows(os.path.join(self.dir, "docs"), ["text", "lang"])[:2000]
        return kernel_rates(self.compiled, rows)


class CrawlDedup(Workload):
    """Near-duplicate pages with string ids → minhash_candidate_pairs,
    cluster_dedup and line_dedup, each collected. One part of the
    ``plain_dedup`` workload."""

    name = "crawl_dedup"
    input_marker = "crawl"

    def reference(self) -> dict:
        rows = _read_rows(os.path.join(self.dir, self.input_marker), ["doc_id", "text"])
        first: dict[str, tuple] = {}
        lines_in = 0
        for doc_id, text in rows:
            for pos, line in enumerate(x.strip() for x in text.split("\n") if x.strip()):
                lines_in += 1
                if line not in first or (doc_id, pos) < first[line]:
                    first[line] = (doc_id, pos)
        kept: dict[str, list] = {}
        for line, (doc_id, pos) in first.items():
            kept.setdefault(doc_id, []).append((pos, line))
        clean = [(d, "\n".join(l for _, l in sorted(kept.get(d, [])))) for d, _ in rows]
        return {
            "line_dedup": multiset_fp(clean), "lines_in": lines_in, "lines_kept": len(first),
            "ids": sorted(d for d, _ in rows), "docs": len(rows),
            "fast_path_share": gen.fast_path_share(t for _, t in rows),
        }

    def compile(self, spark) -> dict:
        with open(os.path.join(self.dir, "truth.json")) as f:
            self.truth = json.load(f)
        return super().compile(spark)

    def job(self, spark, tracer, i: int, src: str | None = None) -> dict:
        from dss_plugin_nlp_analysis_spark.operators.dedup import cluster_dedup, minhash_candidate_pairs
        from dss_plugin_nlp_analysis_spark.operators.webclean import line_dedup

        docs = spark.read.parquet(os.path.join(src or self.dir, self.input_marker))
        res: dict = {"docs": self.ref["docs"], "call_s": {}, "plans": {}}

        def run(name, build):
            return collect_call(res, tracer, name, build)

        res["pairs"] = [tuple(r) for r in run(
            "dedup.minhash_candidate_pairs", lambda: minhash_candidate_pairs(docs, "doc_id", "text"))]
        res["clusters"] = [tuple(r) for r in run(
            "dedup.cluster_dedup", lambda: cluster_dedup(docs, "doc_id", "text"))]
        res["lines"] = [tuple(r) for r in run(
            "webclean.line_dedup", lambda: line_dedup(docs, "doc_id", "text"))]
        return res

    def check(self, res: dict) -> list[str]:
        errs = []
        ids = set(self.ref["ids"])
        pairs = res["pairs"]
        if len(set(pairs)) != len(pairs):
            errs.append("minhash pairs contain duplicates")
        if any(not (a < b) or a not in ids or b not in ids for a, b in pairs):
            errs.append("minhash pairs break the id_a < id_b / known-id invariant")
        # cluster_dedup == connected components of the pair graph, min id wins
        parent: dict[str, str] = {}

        def find(x):
            while parent.get(x, x) != x:
                parent[x] = parent.get(parent[x], parent[x])
                x = parent[x]
            return x

        for a, b in pairs:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        got = sorted(res["clusters"])
        want = sorted((d, find(d), find(d) != d) for d in ids)
        if got != want:
            errs.append("cluster_dedup differs from the components of its candidate pairs")
        if multiset_fp(res["lines"]) != self.ref["line_dedup"]:
            errs.append("line_dedup differs from the first-occurrence reference")
        heavy = self.truth["heavy_group"]
        cluster = {d: c for d, c, _ in res["clusters"]}
        top = statistics.mode(cluster.get(d) for d in heavy)
        res["template_recall"] = (sum(1 for d in heavy if cluster.get(d) == top) - 1) / (len(heavy) - 1)
        res["lines_kept"] = sum(len([x for x in t.split("\n") if x]) for _, t in res["lines"])
        return errs

    def trace_metrics(self, jobs, evlog, ev_jobs) -> dict[str, float]:
        n = len(jobs)
        dd = [j for j in ev_jobs if (j["group"] or "").startswith("dedup.")]
        wc = [j for j in ev_jobs if (j["group"] or "").startswith("webclean.")]
        dd_tasks, wc_tasks = evlog.tasks_of(dd), evlog.tasks_of(wc)
        mh = [nd for j in jobs for nd in j["plans"]["dedup.minhash_candidate_pairs"]]
        ld = [nd for j in jobs for nd in j["plans"]["webclean.line_dedup"]]
        all_nodes = [nd for j in jobs for p in j["plans"].values() for nd in p]
        return {
            **scan_layers(all_nodes, "/" + self.input_marker, n),
            "dedup.shuffle_bytes": sum(t["shuffle_bytes"] for t in dd_tasks) / n,
            "dedup.spill_bytes": sum(t["spill_bytes"] for t in dd_tasks) / n,
            "dedup.exchanges": _exchanges(mh) / n,
            "dedup.jobs": len(dd) / n,
            "dedup.candidate_pairs": statistics.mean(len(j["pairs"]) for j in jobs),
            "dedup.template_recall": statistics.mean(j["template_recall"] for j in jobs),
            "webclean.lines_in": float(self.ref["lines_in"]),
            "webclean.lines_kept": statistics.mean(j["lines_kept"] for j in jobs),
            "webclean.shuffle_bytes": sum(t["shuffle_bytes"] for t in wc_tasks) / n,
            "webclean.sort_aggregates": _count(ld, lambda x: x["name"] == "SortAggregate") / n,
        }


class PlainDedup(Workload):
    """Plain ASCII text, no HTML, in one job of two parts over two inputs:
    the word bags of ``PlainTag`` (kernel fast path, Arrow boundary and
    output formats) and the near-duplicate pages of ``CrawlDedup``
    (shuffles and aggregates, no Python kernel). A job's documents are the
    inputs of both parts."""

    name = "plain_dedup"
    input_marker = PlainTag.input_marker

    def __init__(self, inputs_dir: str, props: dict, out_root: str):
        super().__init__(inputs_dir, props, out_root)
        self.tag = PlainTag(inputs_dir, props, out_root)
        self.dedup = CrawlDedup(inputs_dir, props, out_root)

    def reference(self) -> dict:
        tag, dedup = self.tag.reference(), self.dedup.reference()
        return {"tag": tag, "dedup": dedup, "docs": tag["docs"] + dedup["docs"],
                "fast_path_share": tag["fast_path_share"]}

    def use_reference(self, ref: dict) -> None:
        super().use_reference(ref)
        self.tag.use_reference(ref["tag"])
        self.dedup.use_reference(ref["dedup"])

    def compile(self, spark) -> dict:
        self.dedup.compile(spark)
        return self.tag.compile(spark)

    def warm_parts(self, spark, src: str) -> list:
        return self.tag.warm_parts(spark, src) + self.dedup.warm_parts(spark, src)

    def job(self, spark, tracer, i: int, src: str | None = None) -> dict:
        tag = self.tag.job(spark, tracer, i, src)
        dedup = self.dedup.job(spark, tracer, i, src)
        return {"docs": tag["docs"] + dedup["docs"], "tag": tag, "dedup": dedup,
                "call_s": {**tag["call_s"], **dedup["call_s"]},
                "plans": {**tag["plans"], **dedup["plans"]}}

    def check(self, res: dict) -> list[str]:
        return self.tag.check(res["tag"]) + self.dedup.check(res["dedup"])

    def trace_metrics(self, jobs, evlog, ev_jobs) -> dict[str, float]:
        tag = self.tag.trace_metrics([j["tag"] for j in jobs], evlog, ev_jobs)
        dedup = self.dedup.trace_metrics([j["dedup"] for j in jobs], evlog, ev_jobs)
        out = {**tag, **dedup}
        for k in ("sources.scan_s", "sources.bytes_read"):  # scans of both inputs
            out[k] = tag[k] + dedup[k]
        return out

    def direct_metrics(self) -> dict[str, float]:
        return self.tag.direct_metrics()


WORKLOADS = {w.name: w for w in (WebKG, PlainDedup)}
