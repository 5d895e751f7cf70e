"""Self-test of the benchmark at a tiny size.

Run from the repository root:

    python3 -m pytest jobbench/ -q -p no:cacheprovider
"""

from __future__ import annotations

import os
import subprocess
import sys
from pathlib import Path

import pytest

BENCH_DIR = Path(__file__).resolve().parent
ROOT = BENCH_DIR.parent
sys.path[:0] = [str(BENCH_DIR), str(ROOT)]

import run  # noqa: E402

TINY = {
    "default_seed": 1,
    "convs": {"mixed_job": 20, "near_dup": 20},
    "near_dup_docs": 300,
    "pins": {},
}


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    work_dir = tmp_path_factory.mktemp("jobbench")
    session = run.start_spark(work_dir, 2)
    session.sparkContext.setLogLevel("ERROR")
    yield session, work_dir
    run.stop_spark(session, set())


def _run(spark, workload: str, trace: bool):
    session, work_dir = spark
    return run.run_workload(session, TINY, workload, 1, 0.0, trace,
                            work_dir, 0.0)


@pytest.mark.parametrize("workload", run.WORKLOADS)
@pytest.mark.parametrize("trace", [False, True])
def test_every_metric_is_emitted_with_its_unit(spark, workload, trace):
    result, context = _run(spark, workload, trace)
    declared = run.declared("per_layer" if trace else "end_to_end")
    assert result["correct"], context
    assert result["attempted"] >= 1 and result["failed"] == 0
    assert set(result["metrics"]) == {m["name"] for m in declared}
    for m in declared:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"]
        assert isinstance(got["value"], (int, float))
    assert context["leaked_rdds"] == 0
    if not trace:
        assert all(v["value"] > 0 for v in result["metrics"].values())


def _job_after_one_pass(spark, cfg=TINY):
    import passes
    from spans import Tracer

    session, work_dir = spark
    wl = passes.make_workload(session, cfg, "mixed_job", 1, work_dir)
    wl.build_input()
    wl.prepare()
    wl.run_pass(Tracer("t", False), 0)
    return wl


def test_output_check_accepts_the_real_output(spark):
    wl = _job_after_one_pass(spark)
    try:
        assert wl.final_check() == []
    finally:
        wl.close()


def test_output_check_rejects_corrupted_output(spark):
    from output_checks import check_job_output
    from pyspark.sql import functions as F

    wl = _job_after_one_pass(spark)
    try:
        written = wl.written()
        conv_id, turn_idx = next(iter(wl.expected))
        hit = (F.col("conv_id") == conv_id) & (F.col("turn_idx") == turn_idx)
        dropped = written.filter(~hit)
        altered = written.withColumn(
            "extracted_text",
            F.when(hit, F.concat(F.col("extracted_text"), F.lit("!")))
            .otherwise(F.col("extracted_text")))
        duplicated = written.unionByName(written.filter(hit))
        for bad in (dropped, altered, duplicated):
            assert check_job_output(bad, wl.n_items, wl.expected)
    finally:
        wl.close()


def test_job_rejects_more_failures_than_pinned(spark):
    cfg = dict(TINY, pins={"mixed_job": {"max_failed_or_skipped": -1}})
    wl = _job_after_one_pass(spark, cfg)
    try:
        assert wl.final_check()
    finally:
        wl.close()


def test_near_dup_rejects_a_changed_fingerprint(spark):
    import passes
    from spans import Tracer

    session, work_dir = spark
    zero = [0, 0]
    cfg = dict(TINY, pins={"near_dup": {"fingerprint": {
        "exact": zero, "candidate_pairs": zero, "overflow": zero,
        "simhash_pairs": zero, "cosine_pairs": zero}}})
    wl = passes.make_workload(session, cfg, "near_dup", 1, work_dir)
    try:
        wl.build_input()
        wl.run_pass(Tracer("t", False), 0)
        assert wl.final_check()
    finally:
        wl.close()


@pytest.mark.parametrize("seed", [0, 1, 2**63 + 5, -987654321])
def test_any_integer_seed_keeps_doc_ids_in_a_long(seed):
    import gen_inputs

    args = run.parse_args(["--workload", "near_dup", "--seed", str(seed)],
                          TINY)
    start, end = gen_inputs.conv_range(args.seed, 1000)
    assert gen_inputs.conv_range(args.seed, 1000) == (start, end)
    assert 0 <= start < end
    assert (end + 1) * gen_inputs.DOC_ID_STRIDE < 2**63


def test_exits_nonzero_without_the_program(tmp_path):
    (tmp_path / "jobbench").mkdir()
    for f in BENCH_DIR.iterdir():
        if f.is_file() and f.suffix in (".py", ".json"):
            (tmp_path / "jobbench" / f.name).write_bytes(f.read_bytes())
    (tmp_path / "BENCHMARK.json").write_bytes(
        (ROOT / "BENCHMARK.json").read_bytes())
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        [sys.executable, "jobbench/run.py", "--workload", "mixed_job",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=120)
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout
