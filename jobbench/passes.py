"""The workloads: set-up, one timed pass, output checks and the traced
per-layer probes.

``mixed_job`` runs the full ``run_extract`` job; a traced pass runs
``extract_turns`` into a noop sink before it, for the extraction ledger.
``near_dup`` runs the LSH near-duplicate chain of ``operators.dedup`` and
``operators.similarity`` over extracted turns made in set-up; it calls no
extraction layer while timed.
"""

from __future__ import annotations

import shutil
import statistics
import time
from collections.abc import Iterator
from pathlib import Path

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

import gen_inputs
from output_checks import (check_job_output, check_same, expected_sample,
                           fingerprint)
from spans import Clock, StageMetrics, Tracer

from docling_spark.engine.extract import (DEFAULT_MAX_BYTES, detect_format,
                                          extract_payload)
from docling_spark.jobs.extract_job import (OUTPUT_SCHEMA, run_extract,
                                            sidecar_metrics)
from docling_spark.operators import dedup, similarity
from docling_spark.operators.extract_ops import extract_turns

KERNEL_FORMATS = ("html", "pdfish", "md", "plain", "latex", "csv", "vtt",
                  "code", "email", "asciidoc")
PROBE_REPS = 3
# one turn in SAMPLE_MODULUS is re-extracted in the driver and compared
SAMPLE_MODULUS = 8
EXTRACT_COLS = ["conv_id", "turn_idx", "role", "ts", "text", "tool"]


def noop(df: DataFrame) -> None:
    df.write.format("noop").mode("overwrite").save()


def _identity(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    yield from batches


class Workload:
    """One workload on one Spark session.

    ``build_input`` builds and caches the seeded input, ``prepare`` makes
    what the checks need from it, ``run_pass`` is one pass returning the
    ``Clock`` of the call users run and the problems its output check found,
    ``final_check`` checks what only the last pass leaves, ``probe`` runs
    the traced-only layer probes and ``ledger`` turns spans and counts
    into per-layer metrics. ``close`` releases caches and files."""

    item_unit = "items"

    def __init__(self, spark: SparkSession, cfg: dict, seed: int,
                 work_dir: Path):
        self.spark = spark
        self.cfg = cfg
        self.seed = seed
        self.work_dir = work_dir
        self.cores = spark.sparkContext.defaultParallelism
        self.stage_metrics = StageMetrics(spark)
        self.convs = cfg["convs"][self.name]
        self.n_items = 0
        self.first: dict | None = None

    def _group(self, name: str) -> str:
        group = f"jobbench-{name}"
        self.spark.sparkContext.setJobGroup(group, name)
        return group

    def pinned(self) -> dict:
        """Values pinned for the default seed, or {} for other seeds."""
        if self.seed != self.cfg["default_seed"]:
            return {}
        return self.cfg["pins"].get(self.name, {})


class JobWorkload(Workload):
    """``mixed_job``: the extraction job over the generator's default
    format mix."""

    name = "mixed_job"
    item_unit = "turns"

    def __init__(self, spark, cfg, seed, work_dir):
        super().__init__(spark, cfg, seed, work_dir)
        self.input: DataFrame | None = None
        self.last_out: Path | None = None
        self.last_counts: dict = {}

    def build_input(self) -> None:
        if self.input is not None:
            self.input.unpersist(blocking=True)
        self.input = gen_inputs.transcripts(
            self.spark, self.seed, self.convs).cache()
        self.n_items = self.input.count()

    def prepare(self) -> None:
        """Input-derived set-up the checks and probes need."""
        self.input_bytes = self.input.agg(
            F.sum(F.octet_length("text"))).first()[0]
        self.sample = (
            gen_inputs.sample_keys(self.input, SAMPLE_MODULUS)
            .select("conv_id", "turn_idx", "text", "tool")
            .orderBy("conv_id", "turn_idx").collect())
        self.expected = expected_sample(self.sample)

    def _drop_last_out(self) -> None:
        if self.last_out is not None:
            shutil.rmtree(self.last_out, ignore_errors=True)
            self.last_out = None

    def run_pass(self, tracer: Tracer, idx) -> tuple[Clock, list[str]]:
        out = self.work_dir / f"{self.name}-pass-{idx}"
        with tracer.span("pass"):
            if tracer.enabled:
                self._group(f"extract-{idx}")
                with tracer.span("operators.extract_ops.extract_turns"):
                    noop(extract_turns(self.input))
            group = self._group(f"job-{idx}")
            with tracer.span("jobs.extract_job.run_extract"), Clock() as clock:
                res = run_extract(self.spark, self.input, str(out / "table"),
                                  run_id=f"pass-{idx}",
                                  state_path=str(out / "state"),
                                  metrics_path=str(out / "metrics"))
        self._drop_last_out()
        self.last_out = out
        self.last_counts = res["counts"]
        problems = []
        if res["total"] != self.n_items:
            problems.append(f"run_extract counted {res['total']} rows for "
                            f"{self.n_items} input turns")
        if self.first is None:
            self.first = res["counts"]
        problems += check_same("status counts", self.first, res["counts"])
        if tracer.enabled:
            self._record_files(tracer, out / "table")
            stages = self.stage_metrics.for_group(group)
            for k, v in stages.items():
                tracer.count(f"job.{k}", v)
        return clock, problems

    def _record_files(self, tracer: Tracer, table: Path) -> None:
        parts = [p for p in table.rglob("part-*") if p.is_file()]
        tracer.count("job.files_written", len(parts))
        tracer.count("job.bytes_written", sum(p.stat().st_size for p in parts))

    def written(self) -> DataFrame:
        return self.spark.read.schema(OUTPUT_SCHEMA).parquet(
            str(self.last_out / "table"))

    def final_check(self) -> list[str]:
        problems = check_job_output(self.written(), self.n_items,
                                    self.expected)
        bad = (self.last_counts.get("failure", 0)
               + self.last_counts.get("skipped", 0))
        cap = self.pinned().get("max_failed_or_skipped")
        if cap is not None and bad > cap:
            problems.append(f"{bad} failed or skipped turns, pinned at most "
                            f"{cap} for the default seed")
        return problems

    def probe(self, tracer: Tracer) -> None:
        cols = [c for c in EXTRACT_COLS if c in self.input.columns]
        scan = self.input.select("text", "tool")
        ident = self.input.select(*cols)
        readback = self.written()
        for _ in range(PROBE_REPS):
            with tracer.span("sources.transcripts.scan"):
                noop(scan)
            with tracer.span("operators.extract_ops.boundary"):
                noop(ident.mapInPandas(_identity, schema=ident.schema))
            with tracer.span("jobs.extract_job.sidecar_metrics"):
                noop(sidecar_metrics(readback, "probe"))
        self._kernel_probe(tracer)
        counts = self.last_counts
        tracer.count("job.turns", self.n_items)
        tracer.count("job.failed_or_skipped",
                     counts.get("failure", 0) + counts.get("skipped", 0))
        tracer.count("job.input_bytes", self.input_bytes)

    def _kernel_probe(self, tracer: Tracer) -> None:
        """Single-thread, driver-side ``extract_payload`` and
        ``detect_format`` over the fixed sample: no JVM involved."""
        rows = [(r["text"], r["tool"] or "") for r in self.sample]
        sizes = [len(t.encode("utf-8", "replace")) for t, _ in rows]
        per_fmt: dict[str, list[float]] = {}
        fmt_bytes: dict[str, int] = {}
        fmt_rows: dict[str, int] = {}
        totals = []
        for _ in range(PROBE_REPS):
            secs: dict[str, float] = {}
            with tracer.span("engine.kernels"):
                for (text, tool), size in zip(rows, sizes):
                    t0 = time.perf_counter()
                    res = extract_payload(text, tool)
                    dt = time.perf_counter() - t0
                    # a skipped turn never reached a format kernel
                    fmt = ("skipped" if res["status"] == "skipped"
                           else res["format"])
                    secs[fmt] = secs.get(fmt, 0.0) + dt
                    fmt_bytes[fmt] = fmt_bytes.get(fmt, 0) + size
                    fmt_rows[fmt] = fmt_rows.get(fmt, 0) + 1
            totals.append(sum(secs.values()))
            for fmt, s in secs.items():
                per_fmt.setdefault(fmt, []).append(s)
        tracer.count("kernel.rows", len(rows))
        tracer.count("kernel.s", statistics.median(totals))
        for fmt, s in per_fmt.items():
            tracer.count(f"kernel.{fmt}.s", statistics.median(s))
            tracer.count(f"kernel.{fmt}.rows", fmt_rows[fmt] // PROBE_REPS)
            tracer.count(f"kernel.{fmt}.bytes", fmt_bytes[fmt] // PROBE_REPS)
        detectable = [(t, tool) for t, tool in rows
                      if len(t) <= DEFAULT_MAX_BYTES]
        tracer.count("detect.rows", len(detectable))
        for _ in range(PROBE_REPS):
            with tracer.span("engine.extract.detect_format"):
                for text, tool in detectable:
                    detect_format(text, tool)

    def ledger(self, tracer: Tracer) -> dict[str, float]:
        c = tracer.counts
        m: dict[str, float] = {}
        extract_s = tracer.median("operators.extract_ops.extract_turns")
        job_s = tracer.median("jobs.extract_job.run_extract")
        boundary_s = tracer.median("operators.extract_ops.boundary")
        kernel_us = c["kernel.s"] / c["kernel.rows"] * 1e6
        m["scan.s"] = tracer.median("sources.transcripts.scan")
        m["boundary.s"] = boundary_s
        m["boundary.share"] = boundary_s / extract_s
        m["detect.us_per_turn"] = (tracer.median("engine.extract.detect_format")
                                   / max(c["detect.rows"], 1) * 1e6)
        m["kernel.us_per_turn"] = kernel_us
        for fmt in KERNEL_FORMATS:
            s = c.get(f"kernel.{fmt}.s", 0.0)
            rows = c.get(f"kernel.{fmt}.rows", 0)
            m[f"kernel.{fmt}.us_per_turn"] = s / rows * 1e6 if rows else 0.0
            m[f"kernel.{fmt}.share"] = s / c["kernel.s"]
            m[f"kernel.{fmt}.mb_per_s"] = (
                c.get(f"kernel.{fmt}.bytes", 0) / s / 1e6 if s else 0.0)
        residual = (extract_s - boundary_s
                    - kernel_us * 1e-6 * c["job.turns"] / self.cores)
        m["extract.s"] = extract_s
        m["extract.turns_per_s"] = c["job.turns"] / extract_s
        m["extract.residual_s"] = residual
        m["extract.residual_share"] = residual / extract_s
        m["job.s"] = job_s
        m["job.overhead_s"] = job_s - extract_s
        m["job.sidecar_s"] = tracer.median("jobs.extract_job.sidecar_metrics")
        for k in ("bytes_written", "files_written", "shuffle_write_bytes",
                  "spill_bytes", "task_skew"):
            m[f"job.{k}"] = c[f"job.{k}"]
        m["job.bytes_per_input_byte"] = (c["job.bytes_written"]
                                         / c["job.input_bytes"])
        m["job.turn_failure_frac"] = c["job.failed_or_skipped"] / c["job.turns"]
        return m

    def close(self) -> None:
        self._drop_last_out()
        if self.input is not None:
            self.input.unpersist(blocking=True)
            self.input = None


NEAR_DUP_STEPS = (
    ("operators.dedup.exact_dedup", "dedup.exact_s"),
    ("operators.dedup.signatures", "dedup.signatures_s"),
    ("operators.dedup.lsh_candidate_pairs", "dedup.lsh_pairs_s"),
    ("operators.dedup.lsh_bucket_overflow", "dedup.lsh_overflow_s"),
    ("operators.dedup.simhash", "dedup.simhash_s"),
    ("operators.dedup.simhash_near_pairs", "dedup.simhash_pairs_s"),
    ("operators.similarity.cosine_pairs_lsh", "similarity.cosine_lsh_s"),
)


class NearDupWorkload(Workload):
    """The LSH near-duplicate chain over the successful extracted turns of
    a mixed corpus."""

    name = "near_dup"
    item_unit = "docs"

    def __init__(self, spark, cfg, seed, work_dir):
        super().__init__(spark, cfg, seed, work_dir)
        self.docs: DataFrame | None = None
        self.last: dict = {}

    def build_input(self) -> None:
        if self.docs is not None:
            self.docs.unpersist(blocking=True)
        turns = gen_inputs.transcripts(self.spark, self.seed, self.convs)
        # the same doc count for every seed: the chain's cost is mostly
        # per call, so docs/s would otherwise follow the seed's doc count
        self.docs = (gen_inputs.near_dup_docs(turns).orderBy("doc_id")
                     .limit(self.cfg["near_dup_docs"])
                     .repartition(self.cores, "doc_id").cache())
        self.n_items = self.docs.count()

    def prepare(self) -> None:
        pass

    def run_pass(self, tracer: Tracer, idx) -> tuple[Clock, list[str]]:
        docs = self.docs
        steps = iter(name for name, _ in NEAR_DUP_STEPS)
        group = self._group(f"near-dup-{idx}")
        with tracer.span("pass"), Clock() as clock:
            with tracer.span(next(steps)):
                exact = fingerprint(dedup.exact_dedup(docs),
                                    ["fp", "keep_doc_id", "n_dupes"])
            with tracer.span(next(steps)):
                sigs = dedup.minhash_signatures(dedup.shingles(docs)).cache()
                sigs.count()
            with tracer.span(next(steps)):
                pairs = fingerprint(dedup.lsh_candidate_pairs(sigs),
                                    ["doc_a", "doc_b"])
            with tracer.span(next(steps)):
                ov = dedup.lsh_bucket_overflow(sigs).agg(
                    F.count("*").alias("n"),
                    F.sum("n_dropped").alias("dropped")).first()
            with tracer.span(next(steps)):
                sim = dedup.simhash(docs).cache()
                sim.count()
            with tracer.span(next(steps)):
                sim_pairs = fingerprint(dedup.simhash_near_pairs(sim),
                                        ["doc_a", "doc_b", "hamming"])
            with tracer.span(next(steps)):
                cos = fingerprint(
                    similarity.cosine_pairs_lsh(docs, id_col="doc_id"),
                    ["id_a", "id_b", "cos"])
            sigs.unpersist(blocking=True)
            sim.unpersist(blocking=True)
        result = {"exact": exact, "candidate_pairs": pairs,
                  "overflow": (int(ov["n"]), int(ov["dropped"] or 0)),
                  "simhash_pairs": sim_pairs, "cosine_pairs": cos}
        self.last = result
        if self.first is None:
            self.first = result
        problems = check_same("pair-set fingerprint", self.first, result)
        if tracer.enabled:
            tracer.count("near_dup.shuffle_write_bytes",
                         self.stage_metrics.for_group(group)
                         ["shuffle_write_bytes"])
            tracer.count("dedup.candidate_pairs", pairs[0])
            tracer.count("dedup.overflow_buckets", result["overflow"][0])
            tracer.count("dedup.capped_dropped", result["overflow"][1])
            tracer.count("dedup.simhash_pairs", sim_pairs[0])
            tracer.count("similarity.cosine_pairs", cos[0])
        return clock, problems

    def final_check(self) -> list[str]:
        pin = self.pinned().get("fingerprint")
        if pin is None:
            return []
        got = {k: list(v) for k, v in self.last.items()}
        return check_same("pair-set fingerprint against the pinned value",
                          pin, got)

    def probe(self, tracer: Tracer) -> None:
        pass

    def ledger(self, tracer: Tracer) -> dict[str, float]:
        m = {metric: tracer.median(span) for span, metric in NEAR_DUP_STEPS}
        for k in ("dedup.candidate_pairs", "dedup.overflow_buckets",
                  "dedup.capped_dropped", "dedup.simhash_pairs",
                  "similarity.cosine_pairs", "near_dup.shuffle_write_bytes"):
            m[k] = tracer.counts[k]
        return m

    def close(self) -> None:
        if self.docs is not None:
            self.docs.unpersist(blocking=True)
            self.docs = None


WORKLOADS = {w.name: w for w in (JobWorkload, NearDupWorkload)}


def make_workload(spark, cfg: dict, name: str, seed: int,
                  work_dir: Path) -> Workload:
    return WORKLOADS[name](spark, cfg, seed, work_dir)
