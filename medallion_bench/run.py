"""Medallion benchmark: event-to-Silver freshness, Gold refresh cycle and
corpus build, driven from outside the engine through its public
functions.

    python3 medallion_bench/run.py --workload silver_ingest --seed 1 --seconds 12 --trace 0

Run from the repository root.  One Spark session on ``local[<cores>]``
and at most three driver threads (load generator, ingest, Gold).  The
last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` — the end-to-end metrics of BENCHMARK.json
with ``--trace 0``, its per-layer metrics with ``--trace 1``.  The lines
before it name every metric of the workload with unit and sample count.

Exit codes: 0 all outputs correct; 1 an output check failed or an
operation raised; 2 the engine sources are not beside the benchmark;
3 the run is invalid (load generator late, or Silver backlog growing),
reported without numbers.  See README.md.
"""

from __future__ import annotations

import time

T_PROCESS_START = time.monotonic()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402
from pathlib import Path  # noqa: E402

from stats import MIN_JUDGED_DRAINS, ErrorLedger, backlog_grew, generator_lateness, median, open_loop_latencies, tail  # noqa: E402

BENCH_DIR = Path(__file__).resolve().parent
ROOT = BENCH_DIR.parent
ENGINE = ROOT / "realtimechurnpredictiondataengineering_spark"
#: Read-only Gold and corpus inputs: the sf0.1 tables of TESTDATA.md
#: (seed 42), fixed for every run whatever ``--seed`` is.
SF_DIR = BENCH_DIR / "data" / "sf0.1"

# Silver open loop: 4 files/s of 120 wire events = 480 events/s offered,
# far below the capacity the backlog phase measures (README.md).  A drain
# costs about 50 ms per small file it finds, so a drain finding more files
# is longer and the next one finds more again; few larger files keep that
# feedback, and the noise it amplifies, small.
EVENTS_PER_FILE = 120
RATE_FILES_PER_S = 4.0
#: Set-up warms the Silver queries with WARM_DRAINS drains of WARM_FILES
#: files each (about what an open-loop drain finds): drain time falls
#: steeply for two drains after the cold one, then by a few percent.
WARM_DRAINS = 3
WARM_FILES = 16
#: Gold cycle time falls (JIT) for five to ten cycles after the cold one,
#: depending on the machine's load.  Set-up runs this many; what is left
#: of the fall lands in the first measured cycles, below their median.
WARM_GOLD_CYCLES = 8
#: Capacity phase: BACKLOG_FILES files of BACKLOG_EVENTS_PER_FILE events
#: (150 000 in all) land at once after the open loop and one drain takes
#: them.  At this size per-event work is about half the drain or more.
BACKLOG_FILES = 30
BACKLOG_EVENTS_PER_FILE = 5000
#: A run whose load generator fell further behind its schedule than this
#: is invalid: latency would no longer be measured at the stated rate.
LATE_BOUND_S = 1.0


def cores() -> int:
    return len(os.sched_getaffinity(0))


def start_session(work: Path):
    from realtimechurnpredictiondataengineering_spark.session import get_spark

    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "local")
    spark = get_spark(
        app_name="medallion-bench",
        master=f"local[{cores()}]",
        extra_conf={
            "spark.local.dir": str(work / "local"),
            # keep the JVM's temporary and perf-data files inside the checkout
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.sql.warehouse.dir": str(work / "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the driver JVM to exit."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits at EOF on its stdin
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


class Run:
    """State of one benchmark run: session, tracer, ledger and the
    metrics each workload fills in."""

    def __init__(self, args, work: Path) -> None:
        self.args, self.work = args, work
        self.ledger = ErrorLedger()
        self.e2e: dict[str, float] = {}
        self.named: list[tuple[str, float, str, str]] = []  # metrics printed by their own names
        self.layer: dict[str, float] = {}
        self.measured_groups: set[tuple[str, str]] = set()
        self.measure_wall = 0.0
        self.window_start = 0.0  # clock time the measured window of an open loop opens
        self.invalid: list[str] = []
        self.spark = None
        self.tracer = None
        self._stage_metrics = None

    # -- helpers ----------------------------------------------------------

    def report(self, metric: str, value: float, unit: str, note: str) -> None:
        self.named.append((metric, value, unit, note))

    def ready(self) -> None:
        self.e2e["setup_s"] = time.monotonic() - T_PROCESS_START

    def join(self, *threads) -> None:
        for t in threads:
            t.join(timeout=self.args.seconds + 150)
            if t.is_alive():
                raise TimeoutError(f"{t.name} thread did not finish")
            if t.error is not None:
                raise t.error

    # -- set-up pieces ----------------------------------------------------

    def setup_feed(self):
        from legs import make_feed

        n_warm = WARM_DRAINS * WARM_FILES
        n_open = int(RATE_FILES_PER_S * self.args.seconds)
        sizes = [EVENTS_PER_FILE] * (n_warm + n_open) + [BACKLOG_EVENTS_PER_FILE] * BACKLOG_FILES
        with self.tracer.span("generator.feed_gen", "setup"):
            paths = make_feed(self.spark, str(self.work / "stage"), self.args.seed, sizes)
        return paths[:n_warm], paths[n_warm : n_warm + n_open], paths[n_warm + n_open :]

    def warm_silver(self, silver, warm_paths) -> None:
        from legs import land

        with self.tracer.span("warmup.silver", "warmup", job_group=False):
            for k in range(WARM_DRAINS):
                for p in warm_paths[k * WARM_FILES : (k + 1) * WARM_FILES]:
                    land(p, silver.land_dir)
                silver.drain(f"warmup-{k}")

    def warm_gold(self, gold) -> None:
        with self.tracer.span("warmup.gold", "warmup", job_group=False):
            for k in range(WARM_GOLD_CYCLES):
                gold.cycle(f"warmup-{k}")

    # -- measured phases --------------------------------------------------

    def open_loop(self, silver, open_paths, gold=None):
        """Silver open loop; with ``gold``, Gold cycles run back to back on
        the same session until the ingest thread is done."""
        from legs import GoldLoop, IngestLoop, LoadGenerator

        stop = threading.Event()
        t0 = time.monotonic() + 0.05
        self.window_start = t0
        if gold is not None:
            gold_loop = GoldLoop(gold, stop, "cycle")
            gold_loop.start()
        loadgen = LoadGenerator(open_paths, silver.land_dir, RATE_FILES_PER_S, t0)
        ingest = IngestLoop(silver, loadgen, "drain")
        loadgen.start()
        ingest.start()
        try:
            self.join(loadgen, ingest)
        finally:
            stop.set()
            if gold is not None:
                self.join(gold_loop)
        self.measure_wall = time.monotonic() - self.window_start
        return loadgen

    def silver_results(self, silver, loadgen) -> list[float]:
        commit = silver.commit_times()
        lat = open_loop_latencies(loadgen.due, commit)
        self.ledger.ok(len(lat))
        late = generator_lateness(loadgen.due, loadgen.landed)
        measured = [d for d in silver.drains if d.drain_id.startswith("drain")]
        backlog = [
            sum(1 for n, t in loadgen.landed.items() if t <= d.start and commit[n] > d.start)
            for d in measured
        ]
        invalid = []
        if late > LATE_BOUND_S:
            invalid.append(f"load generator {late:.3f}s behind schedule (bound {LATE_BOUND_S}s)")
        if len(measured) < MIN_JUDGED_DRAINS:
            invalid.append(f"{len(measured)} drains in the open loop; backlog growth needs {MIN_JUDGED_DRAINS}")
        elif backlog_grew(backlog):
            invalid.append(f"Silver backlog grew over the open loop: {backlog}")
        self.layer["silver.backlog_files_max"] = max(backlog, default=0)
        self.layer["loadgen.late_max_s"] = late
        self.invalid = invalid
        for d in measured:
            self.measured_groups.update((rid, "") for rid in d.run_ids)
        t = tail(lat)
        over = f"over {len(measured)} drains"
        self.report("event_to_silver_p50_s", median(lat), "s", f"n={len(lat)} files {over}")
        self.report("event_to_silver_tail_s", t.value, "s", f"{t.label} files {over}")
        self.silver_layers(silver, measured)
        return lat

    def silver_layers(self, silver, measured) -> None:
        if not self.tracer.enabled:
            return
        keys = {
            "silver.query_planning_ms": "queryPlanning",
            "silver.get_batch_ms": "getBatch",
            "silver.latest_offset_ms": "latestOffset",
            "silver.wal_commit_ms": "walCommit",
            "silver.commit_ms": "commitOffsets",
            "silver.add_batch_ms": "addBatch",
        }
        batches = [p for d in measured for prog in d.progress.values() for p in prog]
        for metric, key in keys.items():
            vals = [p["durationMs"].get(key, 0) for p in batches]
            self.layer[metric] = sum(vals) / len(vals) if vals else 0.0
        self.layer["silver.query_start_s"] = median([d.returned - d.start for d in measured])
        self.layer["silver.drain_s"] = median([d.end - d.start for d in measured])
        from legs import ENTITIES

        state_rows = state_mem = 0
        for e in ENTITIES:
            batches_e = [p for d in measured for p in d.progress[e]]
            last_batch = max(batches_e, key=lambda p: p["batchId"], default={"stateOperators": []})
            for op in last_batch["stateOperators"]:
                state_rows += op["numRowsTotal"]
                state_mem += op["memoryUsedBytes"]
        self.layer["silver.state_rows"] = state_rows
        self.layer["silver.state_mem_mb"] = state_mem / 2**20

    def capacity(self, silver, backlog_paths) -> float:
        """One drain of a backlog landed all at once: events per second."""
        from legs import land

        for p in backlog_paths:
            land(p, silver.land_dir)
        d = silver.drain("capacity")
        events = len(backlog_paths) * BACKLOG_EVENTS_PER_FILE
        cap = events / (d.end - d.start)
        self.ledger.ok(len(backlog_paths))
        self.report("silver_capacity_events_per_s", cap, "1/s",
                    f"n=1 drain of {events} events in {len(backlog_paths)} files")
        return cap

    def gold_closed_loop(self, gold) -> None:
        t0 = time.monotonic()
        deadline = t0 + self.args.seconds
        k = 0
        while time.monotonic() < deadline:
            gold.cycle(f"cycle-{k:03d}")
            k += 1
        self.measure_wall = time.monotonic() - t0

    def gold_results(self, gold) -> tuple[list[float], float]:
        """Cycle times, and the median over cycles of Gold feature rows per
        second of Spark task time: the core time a refresh costs, which
        moves apart from the cycle time when driver-side work (planning,
        the pandas hand-off) or parallelism changes."""
        from checks import check_gold
        from spans import sum_groups

        cycles = [
            c for c in gold.cycles
            if c.cycle_id.startswith("cycle") and c.end > self.window_start
        ]
        durs = [c.end - c.start for c in cycles]
        self.ledger.ok(len(cycles))
        self.tracer.untag()
        snap = self.spark.read.parquet(gold.snapshot_path(cycles[-1].cycle_id))
        rows = snap.count()
        t = tail(durs)
        self.report("gold_cycle_p50_s", median(durs), "s", f"n={len(durs)}")
        self.report("gold_cycle_tail_s", t.value, "s", t.label)
        check_gold(self.spark, gold, cycles[-1].cycle_id, self.ledger, self.oracle())
        # after the checks, so the Spark UI has recorded the last cycle's stages
        by = self.stage_metrics()
        task_s = [sum_groups(by, lambda grp, desc: desc == c.cycle_id).get("task_s", 0.0) for c in cycles]
        if min(task_s) <= 0:
            raise RuntimeError(f"a Gold cycle recorded no task time: {task_s}")
        per_task_s = median([rows / s for s in task_s])
        self.report("gold_rows_per_task_s", per_task_s, "1/s", f"n={len(cycles)} cycles of {rows} rows")
        if self.tracer.enabled:
            self.gold_layers(gold, cycles, rows)
        return durs, per_task_s

    def gold_layers(self, gold, cycles, rows) -> None:
        from spans import sum_groups

        ids = {c.cycle_id for c in cycles}
        n = len(cycles)
        for group in ("gold.append", "score", "report"):
            self.measured_groups.update((group, i) for i in ids)
        by = self.stage_metrics()
        g = sum_groups(by, lambda grp, desc: grp == "gold.append" and desc in ids)
        self.layer["gold.append_s"] = self.tracer.total("gold.append", ids) / n
        for m in ("task_s", "input_mb", "shuffle_write_mb", "shuffle_read_mb", "spill_mb", "stages", "tasks"):
            self.layer[f"gold.{m}"] = g.get(m, 0.0) / n
        s = sum_groups(by, lambda grp, desc: grp == "score" and desc in ids)
        self.layer["score.s"] = self.tracer.total("score", ids) / n
        self.layer["score.task_s"] = s.get("task_s", 0.0) / n
        self.layer["score.rows"] = self.spark.read.parquet(gold.scores_path(cycles[-1].cycle_id)).count()
        self.layer["report.s"] = self.tracer.total("report", ids) / n
        self.layer["report.rows_collected"] = sum(c.report_rows for c in cycles) / n

    def oracle(self):
        from checks import Oracle

        return Oracle(str(SF_DIR), str(ROOT / ".bench_cache"))

    def stage_metrics(self):
        from spans import stage_metrics_by_group

        if self._stage_metrics is None:
            self._stage_metrics = stage_metrics_by_group(self.spark)
        return self._stage_metrics

    def common_layers(self) -> None:
        from spans import jvm_gc_and_heap, sum_groups

        for metric, span in (
            ("session.start_s", "session.start"),
            ("generator.feed_gen_s", "generator.feed_gen"),
            ("warmup.silver_s", "warmup.silver"),
            ("warmup.gold_s", "warmup.gold"),
            ("warmup.corpus_s", "warmup.corpus"),
        ):
            self.layer[metric] = self.tracer.total(span)
        by = self.stage_metrics()
        busy = sum_groups(by, lambda grp, desc: (grp, desc) in self.measured_groups or (grp, "") in self.measured_groups)
        self.layer["spark.core_busy_ratio"] = busy.get("task_s", 0.0) / (self.measure_wall * cores())
        self.layer["jvm.gc_s"], self.layer["jvm.heap_peak_mb"] = jvm_gc_and_heap(self.spark)


# ------------------------------------------------------------------ workloads


def silver_ingest(run: Run) -> None:
    from checks import check_silver
    from legs import SilverLeg

    silver = SilverLeg(run.spark, str(run.work), run.tracer)
    warm, open_paths, backlog = run.setup_feed()
    run.warm_silver(silver, warm)
    run.ready()
    loadgen = run.open_loop(silver, open_paths)
    lat = run.silver_results(silver, loadgen)
    cap = run.capacity(silver, backlog)
    run.e2e.update(latency_p50_s=median(lat), throughput_per_s=cap)
    counts = check_silver(run.spark, silver, run.ledger)
    silver_entity_layers(run, silver, counts)


def silver_entity_layers(run: Run, silver, counts) -> None:
    for e, c in counts.items():
        rows_in = sum(p["numInputRows"] for d in silver.drains for p in d.progress[e])
        run.layer[f"silver.{e}.input_rows"] = rows_in
        run.layer[f"silver.{e}.output_rows"] = c["table"]
        run.layer[f"silver.{e}.keep_ratio"] = c["table"] / rows_in if rows_in else 0.0


def gold_refresh(run: Run) -> None:
    from legs import GoldLeg

    gold = GoldLeg(run.spark, str(SF_DIR), str(run.work), run.tracer)
    run.warm_gold(gold)
    run.ready()
    run.gold_closed_loop(gold)
    durs, rows_per_task_s = run.gold_results(gold)
    run.e2e.update(latency_p50_s=median(durs), throughput_per_s=rows_per_task_s)


def medallion_mixed(run: Run) -> None:
    from checks import check_silver
    from legs import GoldLeg, SilverLeg

    silver = SilverLeg(run.spark, str(run.work), run.tracer)
    gold = GoldLeg(run.spark, str(SF_DIR), str(run.work), run.tracer)
    warm, open_paths, _ = run.setup_feed()
    run.warm_silver(silver, warm)
    run.warm_gold(gold)
    run.ready()
    loadgen = run.open_loop(silver, open_paths, gold=gold)
    lat = run.silver_results(silver, loadgen)
    _, rows_per_task_s = run.gold_results(gold)
    run.e2e.update(latency_p50_s=median(lat), throughput_per_s=rows_per_task_s)
    counts = check_silver(run.spark, silver, run.ledger)
    silver_entity_layers(run, silver, counts)


def corpus_refinedweb(run: Run) -> None:
    from checks import check_frame
    from legs import corpus_run
    from spans import sum_groups

    with run.tracer.span("warmup.corpus", "warmup", job_group=False):
        corpus_run(run.spark, str(SF_DIR), "warmup", run.tracer)
    run.ready()
    t0 = time.monotonic()
    deadline = t0 + run.args.seconds
    runs = []
    while time.monotonic() < deadline:
        runs.append(corpus_run(run.spark, str(SF_DIR), f"run-{len(runs):03d}", run.tracer))
    run.measure_wall = time.monotonic() - t0
    run.tracer.untag()
    durs = [r.end - r.start for r in runs]
    n_docs = run.spark.read.parquet(str(SF_DIR / "documents.parquet")).count()
    t = tail(durs)
    run.report("corpus_run_p50_s", median(durs), "s", f"n={len(durs)}")
    run.report("corpus_run_tail_s", t.value, "s", t.label)
    run.e2e.update(latency_p50_s=median(durs), throughput_per_s=n_docs * len(durs) / sum(durs))
    run.ledger.ok(len(runs))
    oracle = run.oracle()
    for r in runs:
        check_frame(run.ledger, oracle, "ll06_refinedweb_pipeline", *r.output)
    if run.tracer.enabled:
        ids = {r.run_id for r in runs}
        n = len(runs)
        run.measured_groups.update((g, i) for g in ("corpus.build", "corpus.collect") for i in ids)
        c = sum_groups(run.stage_metrics(), lambda grp, desc: grp.startswith("corpus.") and desc in ids)
        run.layer["corpus.build_s"] = run.tracer.total("corpus.build", ids) / n
        run.layer["corpus.collect_s"] = run.tracer.total("corpus.collect", ids) / n
        for m in ("jobs", "task_s", "shuffle_write_mb", "spill_mb"):
            run.layer[f"corpus.{m}"] = c.get(m, 0.0) / n
        run.layer["corpus.keep_ratio"] = sum(len(r.output[1]) for r in runs) / (n * n_docs)


WORKLOADS = {
    "silver_ingest": silver_ingest,
    "gold_refresh": gold_refresh,
    "medallion_mixed": medallion_mixed,
    "corpus_refinedweb": corpus_refinedweb,
}


# ----------------------------------------------------------------------- main


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    if args.seconds < 1:
        p.error("--seconds must be at least 1")
    return args


def emit(metrics_spec: list[dict], values: dict[str, float]) -> dict:
    out = {}
    for m in metrics_spec:
        if m["name"] not in values:
            raise KeyError(f"metric {m['name']} not measured")
        out[m["name"]] = {"value": values[m["name"]], "unit": m["unit"]}
    return out


def main(argv=None) -> int:
    args = parse_args(argv)
    spec_path = ROOT / "BENCHMARK.json"
    if not ENGINE.is_dir() or not spec_path.is_file():
        print(f"error: engine package or BENCHMARK.json not found under {ROOT}", file=sys.stderr)
        return 2
    spec = json.loads(spec_path.read_text())
    sys.path[:0] = [str(ROOT), str(ROOT / "tests")]

    from spans import Tracer, peak_rss_mb

    work = ROOT / ".bench_work" / f"{args.workload}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    run = Run(args, work)
    run.tracer = Tracer(enabled=bool(args.trace))
    error = None
    try:
        with run.tracer.span("session.start", "setup", job_group=False):
            run.spark = start_session(work)
        run.tracer.sc = run.spark.sparkContext
        try:
            WORKLOADS[args.workload](run)
        except Exception as exc:  # noqa: BLE001 - reported as a failed operation
            import traceback

            traceback.print_exc()
            error = f"{type(exc).__name__}: {exc}"
            run.ledger.fail(error)
        if run.tracer.enabled and error is None:
            run.tracer.untag()
            run.common_layers()
        jvm = getattr(run.spark.sparkContext._gateway, "proc", None)
        run.e2e["peak_rss_mb"] = peak_rss_mb(os.getpid(), *([jvm.pid] if jvm else []))
    finally:
        if run.spark is not None:
            stop_session(run.spark)
        shutil.rmtree(work, ignore_errors=True)
        if not any((ROOT / ".bench_work").iterdir()):
            (ROOT / ".bench_work").rmdir()

    ledger = run.ledger
    print(f"workload={args.workload} seed={args.seed} seconds={args.seconds} trace={args.trace} "
          f"cores={cores()} gold/corpus inputs=fixed sf0.1 tables (TESTDATA.md seed 42); "
          f"feed seed={args.seed}")
    for metric, value, unit, note in run.named:
        print(f"  {metric} = {value:.6g} {unit} ({note})")
    print(f"  error_rate = {ledger.error_rate:.6g} ({ledger.failed}/{ledger.attempted} operations failed)")
    for msg in ledger.messages:
        print(f"  FAILED: {msg}")
    results = ROOT / ".bench_results"
    results.mkdir(exist_ok=True)
    stem = f"{args.workload}-seed{args.seed}"
    if error is not None:
        return 1
    record = {"seed": args.seed, "workload": args.workload, "e2e": run.e2e, "invalid": run.invalid,
              "named": {m: v for m, v, _, _ in run.named}, "error_rate": ledger.error_rate}
    (results / f"{stem}-trace{args.trace}.json").write_text(json.dumps(record, indent=1))
    if args.trace:
        overhead = {}
        untraced = results / f"{stem}-trace0.json"
        if untraced.is_file():
            base = json.loads(untraced.read_text())["e2e"]
            overhead = {k: run.e2e[k] - base[k] for k in run.e2e if k in base}
            for k, v in overhead.items():
                print(f"  tracing overhead {k} = {v:+.6g}")
        run.tracer.write(str(results / f"{stem}-spans.json"),
                         {"seed": args.seed, "layers": run.layer, "e2e": run.e2e,
                          "tracing_overhead": overhead})
        metrics = emit(spec["per_layer"], {m["name"]: run.layer.get(m["name"], 0.0) for m in spec["per_layer"]})
    else:
        metrics = emit(spec["end_to_end"], run.e2e)
    if run.invalid:
        for why in run.invalid:
            print(f"INVALID RUN: {why}")
        return 3
    print(json.dumps({"correct": ledger.failed == 0, "attempted": ledger.attempted,
                      "failed": ledger.failed, "metrics": metrics}))
    return 0 if ledger.failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
