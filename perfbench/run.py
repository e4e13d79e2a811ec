"""Benchmark of the spark-kg pipeline.

    python3 perfbench/run.py --workload web_kg --seed 1 --seconds 4 --trace 0

Run from the root of a checkout. One invocation is one fresh process for
one workload: it generates the seed's inputs (or reuses those already
generated for the seed under ``.perfbench_work/``), sets the pipeline up
once (JVM launch included), runs complete jobs for ``--seconds`` seconds
of job time (at least one job), then checks every job's output against
a single-process reference, and prints the end-to-end metrics
(``--trace 0``) or the per-layer metrics of a traced run
(``--trace 1``). The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.

See ``perfbench/README.md`` for the workloads, the metrics and what each
layer metric should move.
"""

from __future__ import annotations

import argparse
import glob
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
PACKAGE = "dss_plugin_nlp_analysis_spark"

# driver JVM heap: far below the 15 GB of the reference host, and enough
# for the largest workload (plain_dedup's collected outputs)
DRIVER_MEMORY = "2g"
# a run measures complete jobs until ``--seconds`` of job time, and at
# least this many
MIN_JOBS = 1

END_TO_END = {
    "setup_s": "s",
    "docs_per_s": "docs/s",
    "job_s_p50": "s",
    "peak_rss_mb": "MB",
}

# end-to-end metrics that are printed on every run but carry no bound:
# they exist on one workload only or are 0 at a correct commit. The
# traced run reports them among the per-layer metrics.
UNBOUNDED_E2E = {
    "failed_share": "ratio",
    "epoch_s_p50": "s",
    "out_bytes_per_triple": "B",
}

PER_LAYER = {
    "setup.session_s": "s",
    "setup.first_udf_s": "s",
    "ontology.compile_s": "s",
    "ontology.patterns": "count",
    "sources.scan_s": "s",
    "sources.bytes_read": "B",
    "html_text.mchars_per_s_core": "Mchar/s",
    "textprep.python_total_s": "s",
    "textprep.arrow_bytes_sent": "B",
    "tokenizer.mchars_per_s_core": "Mchar/s",
    "tokenizer.mchars_per_s_core.zh": "Mchar/s",
    "sentencizer.mchars_per_s_core": "Mchar/s",
    "automaton.tokens_per_s_core": "tokens/s",
    "tagger.docs_per_s_core": "docs/s",
    "tagger.fast_path_share": "ratio",
    "tagger.python_boot_s": "s",
    "tagger.python_init_s": "s",
    "tagger.python_total_s": "s",
    "tagger.arrow_bytes_sent": "B",
    "tagger.arrow_bytes_received": "B",
    "tagger.format_s.per_match": "s",
    "tagger.format_s.per_doc": "s",
    "tagger.format_s.doc_json": "s",
    "tagger.lambda_nodes": "count",
    "kg.triples_per_doc": "count",
    "kg.exchanges": "count",
    "checkpoint.leg_s": "s",
    "checkpoint.write_s": "s",
    "checkpoint.lineage_s": "s",
    "checkpoint.jobs": "count",
    "checkpoint.bytes_written": "B",
    "dedup.shuffle_bytes": "B",
    "dedup.spill_bytes": "B",
    "dedup.exchanges": "count",
    "dedup.jobs": "count",
    "dedup.candidate_pairs": "count",
    "dedup.template_recall": "ratio",
    "webclean.lines_in": "count",
    "webclean.lines_kept": "count",
    "webclean.shuffle_bytes": "B",
    "webclean.sort_aggregates": "count",
    "streaming.leg_s": "s",
    "streaming.epochs": "count",
    "streaming.trigger_s_p50": "s",
    "streaming.add_batch_s_p50": "s",
    "streaming.obj_mismatch_share": "ratio",
    "spark.jobs": "count",
    "spark.tasks": "count",
    "spark.executor_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.scheduler_delay_s": "s",
    "spark.cpu_busy_share": "ratio",
    "input.docs": "count",
    "input.mchars": "Mchar",
    "input.lang_share.en": "ratio",
    "input.lang_share.de": "ratio",
    "input.lang_share.fr": "ratio",
    "input.lang_share.es": "ratio",
    "input.lang_share.zh": "ratio",
    "input.repeated_line_share": "ratio",
    "input.template_groups": "count",
    "input.template_max_group": "count",
    **UNBOUNDED_E2E,
    "trace.docs_per_s_untraced": "docs/s",
    "trace.docs_per_s_traced": "docs/s",
    "trace.overhead_share": "ratio",
}


def _log(msg: str) -> None:
    print(msg, flush=True)


def host_cores() -> int:
    return len(os.sched_getaffinity(0))


def isolate_temp_dirs() -> None:
    """Keep every file Spark, the JVM and Python write inside the work dir."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["PYTHONPATH"] = ROOT + os.pathsep + os.environ.get("PYTHONPATH", "")
    import tempfile
    tempfile.tempdir = tmp


def import_modules() -> None:
    """Import pyspark and the package before set-up is timed, in every
    process alike: set-up time covers the session, the ontology compile
    and the first job, not Python imports."""
    import pyspark.sql  # noqa: F401

    import dss_plugin_nlp_analysis_spark.operators.dedup  # noqa: F401
    import dss_plugin_nlp_analysis_spark.operators.kg  # noqa: F401
    import dss_plugin_nlp_analysis_spark.plans.checkpoint  # noqa: F401
    import dss_plugin_nlp_analysis_spark.streaming.stream_tagger  # noqa: F401


def start_session(cores: int, event_log_dir: str | None = None):
    from pyspark.sql import SparkSession

    b = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", str(cores))
        .config("spark.default.parallelism", str(cores))
        .config("spark.driver.memory", DRIVER_MEMORY)
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.warehouse.dir", os.path.join(WORK, "warehouse"))
        # plan node descriptions keep the whole input path: scans are told
        # apart by the input directory they read
        .config("spark.sql.maxMetadataStringLength", "10000")
        .config("spark.driver.extraJavaOptions",
                f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')} -Dderby.system.home={WORK}")
    )
    if event_log_dir:
        os.makedirs(event_log_dir, exist_ok=True)
        b = (
            b.config("spark.eventLog.enabled", "true")
            .config("spark.eventLog.dir", "file://" + event_log_dir)
            .config("spark.eventLog.compress", "false")
        )
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_jvm() -> None:
    """Close the py4j gateway and wait until the JVM (and with it the
    Python workers it forked) has exited. pyspark starts the JVM on the
    first session and keeps it for the life of the process."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits on EOF on its stdin
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


# --- inputs ---------------------------------------------------------------

def sources_key(paths: list[str]) -> str:
    """Digest of the source files ``paths``: cached inputs and reference
    results are kept under the digest of the sources that made them, so
    that a cached copy made by other code is never used."""
    h = hashlib.sha256()
    for path in paths:
        h.update(os.path.relpath(path, ROOT).encode() + b"\0")
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def prepare_inputs(workload: str, seed: int):
    """Generate (or reuse) the seed's inputs, then compute (or reuse) their
    reference results for the current sources."""
    import gen
    from workloads import WORKLOADS

    cls = WORKLOADS[workload]
    gen_py = os.path.join(HERE, "gen.py")
    d = os.path.join(WORK, "inputs", f"{workload}-seed{seed}-{sources_key([gen_py])}")
    props_path = os.path.join(d, "props.json")
    if not os.path.exists(props_path):
        tmp = f"{d}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        t0 = time.perf_counter()
        props = gen.generate(workload, seed, tmp)
        with open(os.path.join(tmp, "props.json"), "w") as f:
            json.dump(props, f)
        shutil.rmtree(d, ignore_errors=True)
        os.replace(tmp, d)
        _log(f"inputs: generated {d} in {time.perf_counter() - t0:.1f} s")
    with open(props_path) as f:
        props = json.load(f)
    wl = cls(d, props, os.path.join(WORK, "out", f"{workload}-{os.getpid()}"))
    # the reference is computed with the package's own kernel functions
    package = sorted(glob.glob(os.path.join(ROOT, PACKAGE, "**", "*.py"), recursive=True))
    ref_key = sources_key(package + [gen_py, os.path.join(HERE, "workloads.py")])
    ref_path = os.path.join(d, f"reference-{ref_key}.json")
    if not os.path.exists(ref_path):
        t0 = time.perf_counter()
        ref = wl.reference()
        with open(f"{ref_path}.tmp{os.getpid()}", "w") as f:
            json.dump(ref, f)
        os.replace(f"{ref_path}.tmp{os.getpid()}", ref_path)
        _log(f"inputs: reference {ref_path} in {time.perf_counter() - t0:.1f} s")
    with open(ref_path) as f:
        wl.use_reference(json.load(f))
    return wl


# --- set-up ---------------------------------------------------------------

def setup(wl, cores: int, event_log_dir: str | None = None):
    """Start to ready: session, ontology compile and one job over the small
    copy of the inputs (``Workload.setup``), which boots the Python
    workers and compiles the jobs' plans. The first call
    in a process also launches the JVM; the traced phase's call (after
    ``spark.stop``) starts a new SparkContext in the same JVM. Returns
    (spark, setup_s, layer metrics)."""
    t0 = time.perf_counter()
    spark = start_session(cores, event_log_dir)
    t1 = time.perf_counter()
    layers = wl.setup(spark)
    total = time.perf_counter() - t0
    layers["setup.session_s"] = t1 - t0
    return spark, total, layers


# --- measured loop --------------------------------------------------------

class Outcome:
    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.times: list[float] = []
        self.results: list[dict] = []
        self.window: list[float] = []  # wall clock at the first and after the last job
        self.cpu: list[float] = []  # process-tree CPU seconds at the same two points

    def run(self, wl, spark, tracer, i: int) -> bool:
        self.attempted += 1
        try:
            with tracer.span("job"):
                t0 = time.perf_counter()
                res = wl.job(spark, tracer, i)
                dt = time.perf_counter() - t0
        except Exception:  # a failed job is counted, reported, and ends the loop
            self.failed += 1
            self.errors.append(traceback.format_exc())
            return False
        self.times.append(dt)
        self.results.append(res)
        return True

    def check(self, wl) -> None:
        """Check every job's output against the reference. Runs after the
        jobs, so that the checks' own work stays out of the measured
        window. A check that raises drops its job from the results, whose
        metrics it would have filled in."""
        kept = []
        for res, dt in zip(self.results, self.times):
            try:
                errs = wl.check(res)
                kept.append((res, dt))
            except Exception:
                errs = [traceback.format_exc()]
            if errs:
                self.failed += 1
                self.errors.extend(errs)
        self.results = [r for r, _ in kept]
        self.times = [t for _, t in kept]


def measure(wl, spark, tracer, seconds: float, out: Outcome) -> None:
    """Complete jobs until ``seconds`` of job time and at least MIN_JOBS
    jobs. Set-up has already run one job over a small copy of the inputs,
    so the first measured job is not a warm-up. Records the jobs'
    wall-clock window and the process tree's CPU seconds over it. Outputs
    are checked later, by ``Outcome.check``."""
    from observe import tree_cpu_s

    out.window, out.cpu = [time.time()], [tree_cpu_s()]
    i = 0
    while sum(out.times) < seconds or len(out.times) < MIN_JOBS:
        if not out.run(wl, spark, tracer, i):
            break
        i += 1
    out.window.append(time.time())
    out.cpu.append(tree_cpu_s())


def docs_per_s(out: Outcome) -> float:
    """Steady-state throughput: median over the timed jobs of input
    documents per second of job wall time."""
    if not out.times:
        return 0.0
    return statistics.median(r["docs"] / t for r, t in zip(out.results, out.times))


def e2e_metrics(setup_s: float, out: Outcome, peak_mb: float) -> dict[str, float]:
    return {
        "setup_s": setup_s,
        "peak_rss_mb": peak_mb,
        "docs_per_s": docs_per_s(out),
        "job_s_p50": statistics.median(out.times) if out.times else 0.0,
    }


def unbounded_e2e(wl, out: Outcome) -> dict[str, float]:
    """The UNBOUNDED_E2E metrics this workload has."""
    extra = {"failed_share": out.failed / max(1, out.attempted)}
    if wl.name == "web_kg" and out.results:
        extra["epoch_s_p50"] = statistics.median(x for r in out.results for x in r["epoch_s"])
        extra["out_bytes_per_triple"] = statistics.median(
            r["out_bytes"] / max(1, r["triples"]) for r in out.results)
    return extra


# --- traced run -------------------------------------------------------------

def traced_phase(wl, cores: int, seconds: float, run_dir: str) -> tuple[dict, Outcome, dict]:
    """A second session with the Spark event log on, spans around every
    public call, and plan walks; returns (layer metrics, outcome, dump)."""
    from observe import EventLog, Tracer, sql_store_nodes

    log_dir = os.path.join(run_dir, "eventlog")
    spark, _, _ = setup(wl, cores, event_log_dir=log_dir)
    tracer = Tracer(True, spark.sparkContext)
    out = Outcome()
    measure(wl, spark, tracer, seconds, out)
    store_nodes = sql_store_nodes(spark, *out.window) if out.results else {}
    spark.stop()
    out.check(wl)
    layers: dict[str, float] = {}
    dump: dict = {"spans": tracer.spans, "self_time_s": tracer.self_times()}
    if out.results:
        evlog = EventLog(log_dir)
        (wall0, wall1), (cpu0, cpu1) = out.window, out.cpu
        ev_jobs = evlog.jobs_in(wall0, wall1)
        for eid, nodes in store_nodes.items():
            if eid in evlog.executions:
                evlog.executions[eid]["nodes"] = nodes
        tasks = evlog.tasks_of(ev_jobs)
        n = len(out.results)
        layers.update(wl.trace_metrics(out.results, evlog, ev_jobs))
        layers.update({
            "spark.jobs": len(ev_jobs) / n,
            "spark.tasks": len(tasks) / n,
            "spark.executor_cpu_s": sum(t["cpu_s"] for t in tasks) / n,
            "spark.gc_s": sum(t["gc_s"] for t in tasks) / n,
            "spark.scheduler_delay_s": sum(t["scheduler_delay_s"] for t in tasks) / n,
            "spark.cpu_busy_share": (cpu1 - cpu0) / ((wall1 - wall0) * cores),
        })
        dump["event_log_jobs"] = sorted(ev_jobs, key=lambda j: j["id"])
        dump["executions"] = [
            {k: e.get(k) for k in ("id", "start", "end", "details", "nodes")}
            for e in evlog.executions_of(ev_jobs)
        ]
        dump["last_job_plans"] = out.results[-1].get("plans", {})
    return layers, out, dump


# --- main -------------------------------------------------------------------

def parse_args(argv):
    import gen

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=gen.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: package {PACKAGE}/ not found next to perfbench/ in {ROOT}",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    isolate_temp_dirs()

    cores = min(4, host_cores())
    load_start = os.getloadavg()[0]
    wl = prepare_inputs(args.workload, args.seed)
    import_modules()
    from observe import RssSampler, Tracer

    sampler = RssSampler().start()
    spark, setup_s, setup_layers = setup(wl, cores)
    out = Outcome()
    measure(wl, spark, Tracer(False), args.seconds, out)
    peak_mb = sampler.stop()
    spark.stop()
    out.check(wl)

    e2e = e2e_metrics(setup_s, out, peak_mb)
    extra = unbounded_e2e(wl, out)
    layers: dict[str, float] = {}
    if args.trace:
        run_dir = os.path.join(WORK, "traces", f"{args.workload}-seed{args.seed}-{os.getpid()}")
        shutil.rmtree(run_dir, ignore_errors=True)
        traced, tout, dump = traced_phase(wl, cores, args.seconds, run_dir)
        out.attempted += tout.attempted
        out.failed += tout.failed
        out.errors += tout.errors
        layers.update(setup_layers)
        layers.update({k: v for k, v in wl.props.items() if k in PER_LAYER})
        layers["tagger.fast_path_share"] = wl.ref["fast_path_share"]
        layers.update(traced)
        layers.update(wl.direct_metrics())
        layers.update(extra)
        traced_dps = docs_per_s(tout)
        layers["trace.docs_per_s_untraced"] = e2e["docs_per_s"]
        layers["trace.docs_per_s_traced"] = traced_dps
        layers["trace.overhead_share"] = 1 - traced_dps / e2e["docs_per_s"] if e2e["docs_per_s"] else 0.0
        missing = {k: f"layer not run by the {args.workload} workload" for k in PER_LAYER if k not in layers}
        for k in missing:
            layers[k] = 0.0
        dump.update({"layers": layers, "unavailable": missing, "e2e": e2e})
        with open(os.path.join(run_dir, "trace.json"), "w") as f:
            json.dump(dump, f, indent=1, default=str)
        _log(f"trace: {os.path.join(run_dir, 'trace.json')}")

    load_end = os.getloadavg()[0]
    under_load = load_start > cores / 2
    _log(f"perfbench {args.workload} seed={args.seed} local[{cores}] "
         f"load1 start={load_start:.2f} end={load_end:.2f}"
         + (" STARTED UNDER LOAD" if under_load else ""))
    for k, v in {**wl.props, "tagger.fast_path_share": wl.ref["fast_path_share"]}.items():
        if k.startswith(("input.", "tagger.")):
            _log(f"input {k} = {v:.4g}")
    for k, v in e2e.items():
        n = 1 if k in ("setup_s", "peak_rss_mb") else len(out.times)
        _log(f"e2e {k} = {v:.6g} {END_TO_END[k]} (n={n})")
    for k, v in extra.items():
        _log(f"e2e {k} = {v:.6g} {UNBOUNDED_E2E[k]} (no bound)")
    for k in sorted(layers):
        _log(f"layer {k} = {layers[k]:.6g} {PER_LAYER[k]}")
    for name in sorted(out.results[0]["call_s"]) if out.results else ():
        t = statistics.median(r["call_s"][name] for r in out.results)
        _log(f"call {name} = {t:.4g} s (median of {len(out.results)})")
    _log("job_s: " + ", ".join(f"{t:.3f}" for t in out.times))
    for e in out.errors[:10]:
        _log(f"error: {e}")

    stop_jvm()
    shutil.rmtree(wl.out_root, ignore_errors=True)
    metrics = layers if args.trace else e2e
    print(json.dumps({
        "correct": out.failed == 0 and out.attempted > 0,
        "attempted": out.attempted,
        "failed": out.failed,
        "metrics": {
            k: {"value": v, "unit": (PER_LAYER if args.trace else END_TO_END)[k]}
            for k, v in metrics.items()
        },
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
