"""Pipeline verification queries (FIXTURES.md §6): completeness, stable
ordering, failure containment, resume idempotence, determinism."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from docling_spark.jobs.extract_job import run_extract
from docling_spark.operators.extract_ops import extract_turns, with_turn_rank
from docling_spark.sources.transcripts import gen_conversation, transcripts_df

N_CONVS = 40


@pytest.fixture(scope="module")
def transcripts(spark):
    return transcripts_df(spark, N_CONVS, partitions=8).cache()


@pytest.fixture(scope="module")
def extracted(spark, transcripts):
    return extract_turns(transcripts).cache()


def test_generator_deterministic_and_partition_invariant(spark):
    a = transcripts_df(spark, 10, partitions=2).orderBy("conv_id", "turn_idx").collect()
    b = transcripts_df(spark, 10, partitions=7).orderBy("conv_id", "turn_idx").collect()
    assert a == b
    # matches the pure-python generator row-for-row
    rows = [r.asDict() for r in a if r["conv_id"] == "conv00000003"]
    pure = gen_conversation(3)
    assert len(rows) == len(pure)
    assert [r["text"] for r in rows] == [p["text"] for p in pure]


def test_completeness_one_row_per_turn(transcripts, extracted):
    # missing-page placeholder rule: every input turn yields exactly one row
    n_in = transcripts.count()
    n_out = extracted.count()
    assert n_in == n_out
    both = transcripts.select("conv_id", "turn_idx").exceptAll(
        extracted.select("conv_id", "turn_idx")
    )
    assert both.count() == 0


def test_stable_ordering_under_shuffle(extracted):
    ranked = with_turn_rank(extracted.repartition(37))
    bad = ranked.filter(F.col("turn_rank") != F.col("turn_idx")).count()
    assert bad == 0


def test_failure_containment(extracted):
    failures = extracted.filter(F.col("status") == "failure")
    assert failures.count() > 0  # the corpus plants malformed payloads
    with_err = failures.filter(F.size("errors") > 0).count()
    assert with_err == failures.count()
    # and no extraction exception ever killed a task (we got here)


def test_statuses_and_formats(extracted):
    statuses = {r["status"] for r in extracted.select("status").distinct().collect()}
    assert statuses <= {"success", "partial_success", "failure", "skipped"}
    fmts = {r["format"] for r in extracted.select("format").distinct().collect()}
    assert {"html", "md", "csv", "pdfish", "vtt", "email", "asciidoc",
            "code", "plain"} <= fmts


def test_extraction_deterministic_across_runs(spark, transcripts):
    a = (
        extract_turns(transcripts)
        .select("conv_id", "turn_idx", "extracted_text", "status")
        .orderBy("conv_id", "turn_idx")
        .collect()
    )
    b = (
        extract_turns(transcripts.repartition(13))
        .select("conv_id", "turn_idx", "extracted_text", "status")
        .orderBy("conv_id", "turn_idx")
        .collect()
    )
    assert a == b


def test_spans_consistent(extracted):
    rows = (
        extracted.filter(F.col("status") == "success")
        .select("extracted_text", F.explode("items").alias("it"))
        .filter(F.col("it.span_start") >= 0)
        .select("extracted_text", "it.span_start", "it.span_end")
        .limit(200)
        .collect()
    )
    assert rows
    for r in rows:
        assert 0 <= r["span_start"] <= r["span_end"] <= len(r["extracted_text"])


def test_resume_rejects_bucket_count_change(spark, transcripts, tmp_path):
    import pytest

    out = str(tmp_path / "out")
    state = str(tmp_path / "state")
    run_extract(spark, transcripts, out, run_id="r1", n_buckets=8,
                state_path=state)
    with pytest.raises(ValueError, match="n_buckets"):
        run_extract(spark, transcripts, out, run_id="r2", n_buckets=16,
                    state_path=state)


def test_resume_metrics_not_double_counted(spark, transcripts, tmp_path):
    """A resumed run's sidecar rows cover only the buckets IT completed:
    summing n_turns across run_ids equals the corpus exactly once."""
    from docling_spark.jobs.extract_job import bucket_col

    out = str(tmp_path / "out")
    state = str(tmp_path / "state")
    metrics = str(tmp_path / "metrics")
    half = transcripts.withColumn("b", bucket_col(8)) \
        .filter(F.col("b") < 4).drop("b")
    run_extract(spark, half, out, run_id="r1", n_buckets=8,
                state_path=state, metrics_path=metrics)
    run_extract(spark, transcripts, out, run_id="r2", n_buckets=8,
                state_path=state, metrics_path=metrics)
    m = spark.read.parquet(metrics)
    assert m.agg(F.sum("n_turns")).collect()[0][0] == transcripts.count()
    # wall_ms is recorded, not the dead 0 column
    assert m.filter(F.col("wall_ms") > 0).count() > 0


def test_resume_idempotence(spark, transcripts, tmp_path):
    out = str(tmp_path / "out")
    state = str(tmp_path / "state")
    # run on half the buckets only (simulate partial completion)
    from docling_spark.jobs.extract_job import bucket_col

    half = transcripts.withColumn("b", bucket_col(8)).filter(F.col("b") < 4).drop("b")
    run_extract(spark, half, out, run_id="r1", n_buckets=8, state_path=state)
    partial_count = spark.read.parquet(out).count()
    # full rerun resumes: only missing buckets processed, no duplicates
    res = run_extract(spark, transcripts, out, run_id="r2", n_buckets=8,
                      state_path=state)
    assert res["skipped_buckets"] > 0
    final = spark.read.parquet(out)
    assert final.count() == transcripts.count()
    assert final.count() > partial_count
    dupes = (
        final.groupBy("conv_id", "turn_idx").agg(F.count("*").alias("n"))
        .filter(F.col("n") > 1).count()
    )
    assert dupes == 0


def test_stale_buckets_not_recounted_or_marked_done(spark, tmp_path):
    """Dynamic partition overwrite preserves partitions a run did not
    touch: a second run over a SUBSET of conversations must not count
    run 1's untouched buckets in its summary, nor mark them done in
    state, nor re-append their metrics."""
    from docling_spark.jobs.extract_job import run_extract
    from docling_spark.sources.transcripts import transcripts_df

    out = str(tmp_path / "out")
    state = str(tmp_path / "state")
    metrics = str(tmp_path / "metrics")

    tr = transcripts_df(spark, 12, partitions=2, long_every=0)
    r1 = run_extract(spark, tr, out, run_id="r1", n_buckets=8)
    # run 2: no state from run 1 (fresh state path), subset input
    sub = tr.filter(F.col("conv_id") == "conv00000000")
    r2 = run_extract(spark, sub, out, run_id="r2", n_buckets=8,
                     state_path=state, metrics_path=metrics)
    # r2's summary counts only its own conversations, not r1's table
    assert r2["total"] < r1["total"]
    n_turns_r2 = sub.count()
    assert r2["total"] == n_turns_r2
    # state marks only r2's bucket(s) done
    st = spark.read.parquet(state)
    assert st.select("conv_bucket").distinct().count() < 8
    # metrics sum equals r2's turns only
    m = spark.read.parquet(metrics)
    assert m.agg(F.sum("n_turns")).collect()[0][0] == n_turns_r2


def test_state_log_append_only_preserves_lineage(spark, tmp_path):
    """Each bucket keeps the run_id that actually completed it; resumed
    runs append their own rows, never rewriting prior runs'."""
    from docling_spark.jobs.extract_job import run_extract
    from docling_spark.sources.transcripts import transcripts_df

    out = str(tmp_path / "out")
    state = str(tmp_path / "state")
    tr = transcripts_df(spark, 12, partitions=2, long_every=0)
    run_extract(spark, tr, out, run_id="r1", n_buckets=8,
                state_path=state)
    st1 = {(r["run_id"], r["conv_bucket"])
           for r in spark.read.parquet(state).collect()}
    # resume: nothing left to do -> no new rows, r1 rows untouched
    run_extract(spark, tr, out, run_id="r2", n_buckets=8,
                state_path=state)
    st2 = {(r["run_id"], r["conv_bucket"])
           for r in spark.read.parquet(state).collect()}
    assert st2 == st1
    assert all(rid == "r1" for rid, _ in st2)


def test_corrupt_state_raises_instead_of_fresh_start(spark, tmp_path):
    import pytest

    from docling_spark.jobs.extract_job import run_extract
    from docling_spark.sources.transcripts import transcripts_df

    out = str(tmp_path / "out")
    state = str(tmp_path / "state")
    # plant a corrupt state dir (not parquet)
    import os
    os.makedirs(state, exist_ok=True)
    with open(os.path.join(state, "part-corrupt.parquet"), "w") as f:
        f.write("this is not parquet")
    tr = transcripts_df(spark, 4, partitions=2, long_every=0)
    with pytest.raises(Exception):
        run_extract(spark, tr, out, run_id="r1", n_buckets=8,
                    state_path=state)


def test_written_files_sorted_one_per_bucket(spark, transcripts, tmp_path):
    """Each bucket gets one writer, and every part file is sorted by the
    turn key: the planned write keeps the job's sort."""
    import pyarrow.parquet as pq

    out = tmp_path / "out"
    run_extract(spark, transcripts, str(out), run_id="r1", n_buckets=8)
    buckets = sorted(out.glob("conv_bucket=*"))
    assert buckets
    for bucket in buckets:
        parts = sorted(bucket.glob("part-*.parquet"))
        assert len(parts) == 1, bucket.name
        for part in parts:
            rows = pq.read_table(part, columns=["conv_id", "turn_idx"])
            keys = list(zip(rows["conv_id"].to_pylist(),
                            rows["turn_idx"].to_pylist()))
            assert keys == sorted(keys), part


def _status_counts(spark, out: str, buckets) -> dict:
    written = spark.read.parquet(out).filter(
        F.col("conv_bucket").isin(sorted(buckets)))
    return {r["status"]: r["count"]
            for r in written.groupBy("status").count().collect()}


def test_counters_match_written_rows(spark, transcripts, tmp_path):
    """counts/total come from the write itself; they equal a groupBy over
    the run's buckets in the written table, fresh and on resume. A
    resume with nothing left counts nothing and appends no state."""
    from docling_spark.jobs.extract_job import bucket_col

    out = str(tmp_path / "out")
    state = str(tmp_path / "state")
    fresh = run_extract(spark, transcripts, str(tmp_path / "fresh"),
                        run_id="f", n_buckets=8)
    want = _status_counts(spark, str(tmp_path / "fresh"), range(8))
    assert fresh["counts"] == want
    assert fresh["total"] == sum(want.values()) == transcripts.count()

    half = transcripts.withColumn("b", bucket_col(8)) \
        .filter(F.col("b") < 4).drop("b")
    r1 = run_extract(spark, half, out, run_id="r1", n_buckets=8,
                     state_path=state)
    r2 = run_extract(spark, transcripts, out, run_id="r2", n_buckets=8,
                     state_path=state)
    st = spark.read.parquet(state)
    for res, run in ((r1, "r1"), (r2, "r2")):
        mine = {r["conv_bucket"] for r in
                st.filter(F.col("run_id") == run).collect()}
        assert mine
        want = _status_counts(spark, out, mine)
        assert res["counts"] == want
        assert res["total"] == sum(want.values())
    assert r1["total"] + r2["total"] == transcripts.count()

    n_state = st.count()
    r3 = run_extract(spark, transcripts, out, run_id="r3", n_buckets=8,
                     state_path=state)
    assert r3["counts"] == {}
    assert r3["total"] == 0
    st = spark.read.parquet(state)
    assert st.count() == n_state
    assert st.schema.simpleString() == (
        "struct<run_id:string,conv_bucket:int,status:string,"
        "n_buckets:int,ts:timestamp>")


def test_sidecar_is_the_writes_observation(spark, tmp_path, monkeypatch):
    """The sidecar row comes from the write's observation: run_extract
    never reads its output back, and the one row per run equals
    sidecar_metrics over the written table. A fully resumed rerun
    appends none."""
    from pyspark.sql import DataFrameReader

    from docling_spark.jobs.extract_job import sidecar_metrics
    from docling_spark.schema import SIDECAR_SCHEMA

    out = str(tmp_path / "out")
    state = str(tmp_path / "state")
    metrics = str(tmp_path / "metrics")
    tr = transcripts_df(spark, 12, partitions=2, long_every=0)
    reads: list = []
    parquet = DataFrameReader.parquet

    def recording(self, *paths, **options):
        reads.extend(paths)
        return parquet(self, *paths, **options)

    monkeypatch.setattr(DataFrameReader, "parquet", recording)
    for run in ("r1", "r2"):
        run_extract(spark, tr, out, run_id=run, n_buckets=8,
                    state_path=state, metrics_path=metrics)
    monkeypatch.undo()
    assert out not in reads

    m = spark.read.parquet(metrics)
    assert m.columns == SIDECAR_SCHEMA.fieldNames()
    assert [f.dataType for f in m.schema] == \
        [f.dataType for f in SIDECAR_SCHEMA]
    rows = m.collect()
    assert [r["run_id"] for r in rows] == ["r1"]
    assert rows[0]["wall_ms"] > 0
    got = rows[0].asDict()
    want = sidecar_metrics(spark.read.parquet(out), "r1").first().asDict()
    for d in (got, want):
        del d["run_id"], d["wall_ms"]
    assert got.pop("boilerplate_ratio") == \
        pytest.approx(want.pop("boilerplate_ratio"))
    assert got == want
    assert got["n_turns"] == tr.count()


def test_run_extract_leaves_no_cached_blocks(spark, tmp_path):
    sc = spark.sparkContext
    tr = transcripts_df(spark, 12, partitions=2, long_every=0)
    before = sc._jsc.getPersistentRDDs().size()
    run_extract(spark, tr, str(tmp_path / "out"), run_id="r1", n_buckets=8,
                state_path=str(tmp_path / "state"),
                metrics_path=str(tmp_path / "metrics"))
    assert sc._jsc.getPersistentRDDs().size() == before
