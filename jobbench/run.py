"""Job-level benchmark of the docling_spark extraction engine.

Usage, from the root of the repository:

    python3 jobbench/run.py --workload mixed_job --seed 1 --seconds 18 --trace 0

One driver process runs Spark on ``local[<cores>]`` in a closed loop: a
pass starts only when the previous one has finished. After
``WARM_UP_PASSES`` passes at full size, which are set-up, a run makes
``MIN_PASSES`` timed passes, and more while the next one is expected to
end within ``--seconds``. The seed picks the generated
conversations (see ``gen_inputs``); generation and caching are set-up
too and never timed. Sizes, the default seed and the values pinned for
it are in ``config.json``.

Passes are timed in CPU seconds as well as wall seconds, summed over
Spark's JVM and Python workers (``spans.Clock``).

Workloads (``passes``):

- ``mixed_job``: the generator's default format mix. A pass runs
  ``run_extract`` with a state table and a metrics sidecar; a traced pass
  runs ``extract_turns`` into a noop sink first.
- ``near_dup``: the LSH near-duplicate chain over extracted turns.

With ``--trace 0`` the last line of standard output carries the
end-to-end metrics:

- ``items_per_cpu_s``: input items (turns through ``run_extract``, or
  docs through the near-duplicate chain) divided by the median, over the
  timed passes, of the CPU seconds Spark's JVM (less its JIT compiler
  threads) and Python workers spent in that call. Wall-clock throughput
  on a machine shared with other tenants spreads by a quarter between
  runs; CPU time much less, so the wall figure (``items_per_s``) is
  reported only with ``--trace 1``;
- ``setup_s``: JVM and worker start, plus the median of ``SETUP_REPS``
  generate-and-cache runs, plus sample preparation and the warm-up
  passes;
- ``worker_rss_peak_mb``: the largest resident set of any Python worker,
  sampled only while the timed passes run.

With ``--trace 1`` passes alternate between untraced and traced, the
layer probes run after them, and the last line carries the per-layer
metrics that ``BENCHMARK.json`` declares; layers a workload does not run
read 0. Spans go to ``.jobbench/spans/``.

The line before it carries the context: seed, conversation range, pass
walls with their median and quartiles, the set-up phases, and the
machine (cores, CPU canary, load average, steal). No metric is scaled by
the canary.

Each pass checks its output; a failed check or a raised error counts in
``failed`` and makes the command exit with 1. Without the package under
test next to this directory the command exits with 2.
"""

from __future__ import annotations

import argparse
import hashlib
import importlib.util
import json
import os
import shutil
import statistics
import sys
import time
import traceback
from pathlib import Path

BENCH_DIR = Path(__file__).resolve().parent
ROOT = BENCH_DIR.parent
WORKLOADS = ("mixed_job", "near_dup")
# the input is built this many times in set-up and the median counts in
# setup_s, so that one slow build does not decide it
SETUP_REPS = 3
# full-size passes before the timed ones: the first pass of a fresh JVM
# costs twice the CPU of the next, and the second still runs a tenth
# slower than those after it
WARM_UP_PASSES = 2
# a run makes at least this many timed passes, however long they take
MIN_PASSES = 2


def load_config() -> dict:
    with open(BENCH_DIR / "config.json") as f:
        return json.load(f)


def parse_args(argv, cfg: dict) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, default=cfg["default_seed"])
    p.add_argument("--seconds", type=float, default=18.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _meminfo_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def driver_memory_mb() -> int:
    """A quarter of the machine's RAM, between 1 and 4 GiB."""
    return max(1024, min(4096, _meminfo_mb() // 4))


def cpu_canary_mops() -> float:
    """Fixed single-thread Python work in M ops/s: context only."""
    n = 200_000
    t0 = time.perf_counter()
    h = 0
    for i in range(n):
        h ^= int.from_bytes(hashlib.md5(b"canary %d" % i).digest()[:8], "big")
    return n / (time.perf_counter() - t0) / 1e6


def _loadavg() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def _cpu_ticks() -> tuple[int, int]:
    """(total, steal) jiffies since boot."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return sum(ticks), ticks[7] if len(ticks) > 7 else 0


def _quartiles(xs: list[float]) -> dict:
    if not xs:
        return {"n": 0}
    q = statistics.quantiles(xs, n=4) if len(xs) > 1 else [xs[0]] * 3
    return {"n": len(xs), "median": q[1], "q1": q[0], "q3": q[2]}


def start_spark(work_dir: Path, cores: int):
    """A local session whose temp files stay under ``work_dir`` and whose
    Python workers import the package from the repository root."""
    tmp = work_dir / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT), str(BENCH_DIR)]
        + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ.setdefault("SPARK_LOCAL_IP", "127.0.0.1")
    from pyspark.sql import SparkSession

    return (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("jobbench")
        .config("spark.driver.memory", f"{driver_memory_mb()}m")
        .config("spark.sql.shuffle.partitions", str(2 * cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # the Arrow batch caps of the spark-submit job (jobs/main.py)
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2000")
        .config("spark.sql.execution.arrow.maxBytesPerBatch",
                str(64 * 1024 * 1024))
        .config("spark.ui.port", "0")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.local.dir", str(tmp))
        .config("spark.sql.warehouse.dir", str(work_dir / "warehouse"))
        .config("spark.driver.extraJavaOptions", f"-Djava.io.tmpdir={tmp}")
        .getOrCreate()
    )


def start_workers(spark) -> None:
    """Start one Python worker per core, so that their start-up is timed
    with the JVM's and not inside a workload's first set-up."""
    import passes

    n = spark.sparkContext.defaultParallelism
    df = spark.range(n, numPartitions=n)
    passes.noop(df.mapInPandas(passes._identity, schema=df.schema))


def stop_spark(spark, worker_pids: set[int]) -> None:
    """Stop the session, the JVM and the Python workers, and wait for
    each to end."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        proc = gateway.proc
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.monotonic() + 30
    while worker_pids and time.monotonic() < deadline:
        worker_pids = {p for p in worker_pids if Path(f"/proc/{p}").exists()}
        time.sleep(0.1)


def run_workload(spark, cfg: dict, name: str, seed: int, seconds: float,
                 trace: bool, work_dir: Path, start_s: float,
                 rss=None) -> tuple[dict, dict]:
    """Set up, warm up, run timed passes for ``seconds`` and check them.

    Returns (result, context); ``result`` has the keys of the benchmark's
    last output line."""
    import passes
    from spans import Tracer, WorkerRssSampler

    sc = spark.sparkContext
    rdds_before = len(sc._jsc.getPersistentRDDs())
    run_id = f"{name}-seed{seed}-{os.getpid()}"
    wl = passes.make_workload(spark, cfg, name, seed, work_dir)

    data_s = []
    for _ in range(SETUP_REPS):
        t0 = time.perf_counter()
        wl.build_input()
        data_s.append(time.perf_counter() - t0)
    t0 = time.perf_counter()
    wl.prepare()
    # the warm-up passes' output is checked like the timed passes'
    warm_problems = []
    for i in range(WARM_UP_PASSES):
        warm_problems += wl.run_pass(Tracer(run_id, False), f"warm-up-{i}")[1]
    rest_s = time.perf_counter() - t0
    setup_s = start_s + statistics.median(data_s) + rest_s

    tracers = {False: Tracer(run_id, False), True: Tracer(run_id, True)}
    clocks: dict[bool, list] = {False: [], True: []}
    attempted = failed = 0
    rss = rss or WorkerRssSampler()
    ticks0, load0 = _cpu_ticks(), _loadavg()
    with rss:
        t_window = time.perf_counter()
        last_pass_s = 0.0
        while (attempted < MIN_PASSES
               or time.perf_counter() - t_window + last_pass_s <= seconds):
            # untraced and traced passes in ABBA order, so that neither
            # side always runs the warmer pass
            traced = trace and attempted % 4 in (1, 2)
            attempted += 1
            t_pass = time.perf_counter()
            try:
                clock, problems = wl.run_pass(tracers[traced], attempted)
            except Exception:
                traceback.print_exc()
                failed += 1
                continue
            finally:
                last_pass_s = time.perf_counter() - t_pass
            clocks[traced].append(clock)
            if problems:
                print(f"pass {attempted}: {problems}", file=sys.stderr)
                failed += 1
        window_s = time.perf_counter() - t_window
    ticks1, load1 = _cpu_ticks(), _loadavg()

    try:
        problems = warm_problems + wl.final_check()
    except Exception:
        traceback.print_exc()
        problems = ["final check raised"]
    if problems:
        print(f"final check: {problems}", file=sys.stderr)
        failed = min(attempted, failed + 1)

    tracer = tracers[True]
    layers: dict[str, float] = {}
    if trace:
        try:
            wl.probe(tracer)
            layers = wl.ledger(tracer)
        except Exception:
            traceback.print_exc()
            failed = min(attempted, failed + 1)
    wl.close()
    leaked = len(sc._jsc.getPersistentRDDs()) - rdds_before

    walls = {k: [c.wall_s for c in v] for k, v in clocks.items()}
    cpus = [c.cpu_s for c in clocks[False]]
    untraced = walls[False]
    if trace:
        metrics = {m["name"]: 0.0 for m in declared("per_layer")}
        metrics.update(layers)
        if untraced and walls[True]:
            metrics["trace.overhead_frac"] = (
                statistics.median(walls[True]) / statistics.median(untraced)
                - 1.0)
        if untraced:
            metrics["items_per_s"] = wl.n_items / statistics.median(untraced)
        metrics["cache.leaked_rdds"] = leaked
        metrics["bench.run_error_frac"] = failed / attempted
        tracer.dump(ROOT / ".jobbench" / "spans" / f"{run_id}.jsonl")
    else:
        metrics = {"setup_s": setup_s,
                   "worker_rss_peak_mb": rss.peak_mb}
        if cpus:
            metrics["items_per_cpu_s"] = wl.n_items / statistics.median(cpus)
    units = {m["name"]: m["unit"] for kind in ("end_to_end", "per_layer")
             for m in declared(kind)}
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]}
                    for k, v in metrics.items()},
    }
    d_total, d_steal = (ticks1[0] - ticks0[0], ticks1[1] - ticks0[1])
    context = {
        "workload": name,
        "seed": seed,
        "conv_range": list(passes.gen_inputs.conv_range(
            seed, cfg["convs"][name])),
        "items": wl.n_items,
        "item_unit": wl.item_unit,
        "trace": trace,
        "window_s": window_s,
        "pass_walls_s": {"untraced": walls[False], "traced": walls[True]},
        "pass_wall_s": _quartiles(untraced),
        "pass_cpu_s": _quartiles(cpus),
        "pass_jit_cpu_s": [c.jit_cpu_s for c in clocks[False]],
        "setup_phases_s": {"start": start_s, "data": data_s,
                           "prepare_and_warm_up": rest_s},
        "leaked_rdds": leaked,
        "machine": {"loadavg_1m": [load0, load1],
                    "steal_frac": d_steal / d_total if d_total else 0.0},
    }
    return result, context


def declared(kind: str) -> list[dict]:
    """The ``end_to_end`` or ``per_layer`` metrics of BENCHMARK.json."""
    with open(ROOT / "BENCHMARK.json") as f:
        return json.load(f)[kind]


def main(argv=None) -> int:
    cfg = load_config()
    args = parse_args(argv, cfg)
    for p in (str(BENCH_DIR), str(ROOT)):
        if p not in sys.path:
            sys.path.insert(0, p)
    if importlib.util.find_spec("docling_spark") is None:
        print(f"docling_spark is not importable from {ROOT}: nothing to "
              "measure", file=sys.stderr)
        return 2

    from spans import WorkerRssSampler

    cores = os.cpu_count() or 1
    machine = {"cores": cores, "ram_mb": _meminfo_mb(),
               "driver_memory_mb": driver_memory_mb(),
               "cpu_canary_mops": cpu_canary_mops()}
    work_dir = ROOT / ".jobbench" / f"run-{os.getpid()}"
    rss = WorkerRssSampler()
    spark = None
    try:
        t0 = time.perf_counter()
        spark = start_spark(work_dir, cores)
        spark.sparkContext.setLogLevel("ERROR")
        start_workers(spark)
        start_s = time.perf_counter() - t0
        result, context = run_workload(
            spark, cfg, args.workload, args.seed, args.seconds,
            bool(args.trace), work_dir, start_s, rss)
    finally:
        if spark is not None:
            stop_spark(spark, rss.pids_seen)
        shutil.rmtree(work_dir, ignore_errors=True)
    context["machine"].update(machine)
    print(json.dumps({"context": context}), flush=True)
    print(json.dumps(result), flush=True)
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
