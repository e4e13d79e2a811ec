"""Self-tests of the benchmark itself (not of the package):

1. the same seed gives byte-identical input files;
2. every workload's check passes on a real job's output and fails once a
   single output row is dropped from it;
3. ``BENCHMARK.json`` lists exactly the workloads and metrics ``run.py``
   reports, with the same units.

    python3 perfbench/selftest.py          # from the root of a checkout

Exits 0 when all pass. Takes a few minutes: test 2 runs one job of each
workload on a local Spark session.
"""

from __future__ import annotations

import copy
import hashlib
import json
import os
import shutil
import sys

import pyarrow.parquet as pq

import gen
import run


def _digests(root: str) -> dict[str, str]:
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = hashlib.sha256(fh.read()).hexdigest()
    return out


def test_same_seed_same_bytes(tmp: str) -> None:
    for w in gen.WORKLOADS:
        a, b, c = (os.path.join(tmp, f"{w}-{x}") for x in "abc")
        gen.generate(w, 7, a)
        gen.generate(w, 7, b)
        gen.generate(w, 8, c)
        da, db, dc = _digests(a), _digests(b), _digests(c)
        assert da and da == db, f"{w}: seed 7 twice gave different files"
        assert da != dc, f"{w}: seeds 7 and 8 gave identical files"
        print(f"ok  {w}: same seed, byte-identical inputs ({len(da)} files)")


def _drop_one_output_row(out_dir: str) -> None:
    """Rewrite the first parquet file under ``out_dir`` without its first row."""
    for d, _, files in sorted(os.walk(out_dir)):
        for f in sorted(files):
            if f.endswith(".parquet"):
                p = os.path.join(d, f)
                t = pq.read_table(p)
                if t.num_rows:
                    pq.write_table(t.slice(1), p)
                    return
    raise AssertionError(f"no output rows under {out_dir}")


def _planted(name: str, res: dict):
    """Copies of a job's result, each with one output row dropped."""
    if name == "web_kg":  # the written output: only one copy, planted on disk
        _drop_one_output_row(res["out"])
        yield "batch triples", res
        return
    tag = copy.deepcopy(res)
    key = next(k for k in sorted(tag["tag"]["per_match"]) if not k.startswith("None"))
    tag["tag"]["per_match"][key][0] -= 1
    yield "one_row_per_match", tag
    lines = copy.deepcopy(res)
    lines["dedup"]["lines"] = lines["dedup"]["lines"][1:]
    yield "line_dedup", lines
    pairs = copy.deepcopy(res)
    pairs["dedup"]["clusters"] = pairs["dedup"]["clusters"][1:]
    yield "cluster_dedup", pairs


def test_checks_catch_a_dropped_row() -> None:
    run.import_modules()
    wls = {w: run.prepare_inputs(w, 7) for w in gen.WORKLOADS}
    spark = run.start_session(min(4, run.host_cores()))
    try:
        from observe import Tracer

        for name, wl in wls.items():
            wl.setup(spark)
            res = wl.job(spark, Tracer(False), 0)
            errs = wl.check(res)
            assert not errs, f"{name}: check failed on a real job: {errs}"
            print(f"ok  {name}: check passes on the job's output")
            for what, planted in _planted(name, res):
                errs = wl.check(planted)
                assert errs, f"{name}: check passed with a dropped {what} row"
                print(f"ok  {name}: check fails with a dropped {what} row ({errs[0][:80]})")
            shutil.rmtree(wl.out_root, ignore_errors=True)
    finally:
        spark.stop()


def test_benchmark_json_matches() -> None:
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert [w["name"] for w in bench["workloads"]] == list(gen.WORKLOADS)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == run.PER_LAYER
    print("ok  BENCHMARK.json lists the workloads and metrics run.py reports")


def main() -> int:
    sys.path.insert(0, run.ROOT)
    run.isolate_temp_dirs()
    tmp = os.path.join(run.WORK, "selftest")
    shutil.rmtree(tmp, ignore_errors=True)
    try:
        test_benchmark_json_matches()
        test_same_seed_same_bytes(tmp)
        test_checks_catch_a_dropped_row()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
