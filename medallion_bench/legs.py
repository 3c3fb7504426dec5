"""The benchmark's drivers of the engine's two legs and the corpus build.

Silver leg: a pre-generated feed (``synthetic_topic_feed``) split into
JSON files that a load-generator thread lands, by atomic rename, into the
file-stream source directory on a fixed schedule; an ingest thread drains
the four entities with ``run_silver_dual_sink`` (Trigger.AvailableNow,
checkpoints reused across drains) back to back.

Gold leg: one refresh cycle = ``churn_features`` appended to the Gold
table, ``churn_scores(MODEL_V1)`` over that cycle's snapshot appended to
the score table, and ``gold_report_frames`` over the same snapshot.

Corpus leg: ``refinedweb_pipeline`` over the documents table with the
ll06 inventory entry's arguments, output collected.
"""

from __future__ import annotations

import glob
import json
import math
import os
import threading
import time
from dataclasses import dataclass

import numpy as np

from realtimechurnpredictiondataengineering_spark import ml
from realtimechurnpredictiondataengineering_spark.cache import release_caches
from realtimechurnpredictiondataengineering_spark.operators.partitioning import stage_hot_table
from realtimechurnpredictiondataengineering_spark.plans.corpus_prep import refinedweb_pipeline
from realtimechurnpredictiondataengineering_spark.plans.gold import churn_features
from realtimechurnpredictiondataengineering_spark.plans.medallion import gold_report_frames
from realtimechurnpredictiondataengineering_spark.sources.batch import load_table
from realtimechurnpredictiondataengineering_spark.sources.generator import synthetic_topic_feed
from realtimechurnpredictiondataengineering_spark.sources.sinks import delta_batch_append
from realtimechurnpredictiondataengineering_spark.streaming.pipelines import (
    SILVER_PIPELINES,
    run_silver_dual_sink,
)

ENTITIES = tuple(SILVER_PIPELINES)

#: Rows ``synthetic_topic_feed`` emits per ``n_per_topic``: three full
#: topics plus ~5% Bernoulli tickets.
FEED_ROWS_PER_TOPIC_UNIT = 3.05

#: Longest a single drain may take before the run is declared failed.
DRAIN_TIMEOUT_S = 120


# --------------------------------------------------------------------- feed


def make_feed(spark, stage_dir: str, seed: int, sizes: list[int]) -> list[str]:
    """Generate the feed for ``seed`` and write it as one JSON-lines file
    of wire records per entry of ``sizes`` (its event count), topics
    interleaved by a seeded permutation so every file feeds every entity.
    The seed reaches the engine only through ``synthetic_topic_feed``."""
    need = sum(sizes)
    n_per_topic = math.ceil(need / FEED_ROWS_PER_TOPIC_UNIT * 1.02)
    pdf = synthetic_topic_feed(spark, n_per_topic, seed=str(seed)).toPandas()
    if len(pdf) < need:
        raise RuntimeError(f"feed too small: {len(pdf)} rows < {need}")
    order = np.random.default_rng(seed).permutation(len(pdf))[:need]
    values = pdf["value"].to_numpy()[order]
    topics = pdf["topic"].to_numpy()[order]
    os.makedirs(stage_dir, exist_ok=True)
    paths = []
    lo = 0
    for i, size in enumerate(sizes):
        path = os.path.join(stage_dir, f"f{i:05d}.json")
        with open(path, "w") as fh:
            for v, t in zip(values[lo : lo + size], topics[lo : lo + size]):
                fh.write(json.dumps({"value": v, "topic": t}))
                fh.write("\n")
        paths.append(path)
        lo += size
    return paths


def land(path: str, land_dir: str) -> None:
    os.rename(path, os.path.join(land_dir, os.path.basename(path)))


class LoadGenerator(threading.Thread):
    """Open loop: lands file ``i`` at ``start + i / rate`` whatever the
    engine is doing, and records when each file was due and landed."""

    def __init__(self, paths: list[str], land_dir: str, rate: float, start: float) -> None:
        super().__init__(name="loadgen", daemon=True)
        self.paths, self.land_dir, self.rate, self.start_at = paths, land_dir, rate, start
        self.due: dict[str, float] = {}
        self.landed: dict[str, float] = {}
        self.n_landed = 0
        self.error: Exception | None = None

    def run(self) -> None:
        try:
            for i, path in enumerate(self.paths):
                due = self.start_at + i / self.rate
                wait = due - time.monotonic()
                if wait > 0:
                    time.sleep(wait)
                land(path, self.land_dir)
                name = os.path.basename(path)
                self.due[name] = due
                self.landed[name] = time.monotonic()
                self.n_landed = i + 1
        except Exception as exc:  # noqa: BLE001 - re-raised by the caller after join
            self.error = exc


# ------------------------------------------------------------------- silver


@dataclass
class Drain:
    drain_id: str
    start: float
    returned: float  # all four queries started
    end: float
    progress: dict[str, list[dict]]  # entity -> StreamingQuery.recentProgress
    run_ids: list[str]


class SilverLeg:
    """Four dual-sink Silver queries over one landing directory; every
    drain reuses the same checkpoints, so dedup state accumulates across
    drains exactly as in the reference's long-running Silver job."""

    def __init__(self, spark, work: str, tracer) -> None:
        self.spark, self.tracer = spark, tracer
        self.land_dir = os.path.join(work, "land")
        self.out_dir = os.path.join(work, "silver")
        self.ckpt_dir = os.path.join(work, "ckpt")
        os.makedirs(self.land_dir, exist_ok=True)
        self.drains: list[Drain] = []

    def drain(self, drain_id: str) -> Drain:
        t0 = time.monotonic()
        with self.tracer.span("silver.drain", drain_id, job_group=False):
            with self.tracer.span("silver.query_start", drain_id, job_group=False):
                queries = {
                    e: run_silver_dual_sink(
                        self.spark,
                        e,
                        self.land_dir,
                        os.path.join(self.out_dir, e),
                        os.path.join(self.ckpt_dir, e),
                    )
                    for e in ENTITIES
                }
            t1 = time.monotonic()
            with self.tracer.span("silver.await", drain_id, job_group=False):
                for e, q in queries.items():
                    if not q.awaitTermination(DRAIN_TIMEOUT_S):
                        for other in queries.values():
                            other.stop()
                        raise TimeoutError(f"silver {e} drain exceeded {DRAIN_TIMEOUT_S}s")
        t2 = time.monotonic()
        for e, q in queries.items():
            if q.exception() is not None:
                raise RuntimeError(f"silver {e} query failed: {q.exception()}")
        d = Drain(
            drain_id,
            t0,
            t1,
            t2,
            {e: q.recentProgress for e, q in queries.items()},
            [str(q.runId) for q in queries.values()],
        )
        self.drains.append(d)
        return d

    def committed_batches(self) -> dict[str, dict[str, int]]:
        """entity -> {landed file name -> batch id that read it}, from the
        file source's own log in each checkpoint."""
        out = {}
        for e in ENTITIES:
            files: dict[str, int] = {}
            for log in glob.glob(os.path.join(self.ckpt_dir, e, "sources", "0", "*")):
                if os.path.basename(log).startswith("."):
                    continue
                with open(log) as fh:
                    for line in fh:
                        line = line.strip()
                        if line.startswith("{"):
                            entry = json.loads(line)
                            files[os.path.basename(entry["path"])] = int(entry["batchId"])
            out[e] = files
        return out

    def committed_files(self) -> set[str]:
        """Landed files every entity's query has read and committed."""
        per_entity = self.committed_batches()
        return set.intersection(*(set(v) for v in per_entity.values()))

    def commit_times(self) -> dict[str, float]:
        """Landed file name -> end of the drain after which the file was in
        both sinks of every entity."""
        batch_end: dict[str, dict[int, float]] = {e: {} for e in ENTITIES}
        for d in self.drains:
            for e, prog in d.progress.items():
                for p in prog:
                    batch_end[e][int(p["batchId"])] = d.end
        per_entity = self.committed_batches()
        names = set().union(*(set(v) for v in per_entity.values()))
        out = {}
        for name in names:
            ends = [batch_end[e].get(per_entity[e].get(name, -1)) for e in ENTITIES]
            if all(t is not None for t in ends):
                out[name] = max(ends)
        return out


class IngestLoop(threading.Thread):
    """Drains back to back while landed files are uncommitted, until the
    load generator is done and every file it landed is committed."""

    def __init__(self, silver: SilverLeg, loadgen: LoadGenerator, prefix: str) -> None:
        super().__init__(name="ingest", daemon=True)
        self.silver, self.loadgen, self.prefix = silver, loadgen, prefix
        self.error: Exception | None = None

    def run(self) -> None:
        try:
            names = [os.path.basename(p) for p in self.loadgen.paths]
            committed: set[str] = set()
            k = 0
            while True:
                done = not self.loadgen.is_alive()
                landed = names[: self.loadgen.n_landed]
                if any(n not in committed for n in landed):
                    self.silver.drain(f"{self.prefix}-{k:03d}")
                    committed = self.silver.committed_files()
                    k += 1
                elif done:
                    break
                else:
                    time.sleep(0.005)
        except Exception as exc:  # noqa: BLE001 - re-raised by the caller after join
            self.error = exc


# --------------------------------------------------------------------- gold


@dataclass
class Cycle:
    cycle_id: str
    start: float
    end: float
    report_rows: int


class GoldLeg:
    def __init__(self, spark, sf_dir: str, work: str, tracer) -> None:
        self.spark, self.sf_dir, self.tracer = spark, sf_dir, tracer
        self.features_dir = os.path.join(work, "gold", "features")
        self.scores_dir = os.path.join(work, "gold", "scores")
        self.cycles: list[Cycle] = []

    def snapshot_path(self, cycle_id: str) -> str:
        return os.path.join(self.features_dir, f"cycle={cycle_id}")

    def scores_path(self, cycle_id: str) -> str:
        return os.path.join(self.scores_dir, f"cycle={cycle_id}")

    def cycle(self, cycle_id: str) -> Cycle:
        """One refresh.  Its Spark jobs carry ``cycle_id`` as their job
        description, traced or not, so each cycle's task time can be read
        from the Spark UI after the run; the traced run's layer spans
        re-tag the group but keep the description."""
        sc = self.spark.sparkContext
        sc.setJobGroup("gold.cycle", cycle_id)
        t0 = time.monotonic()
        with self.tracer.span("gold.cycle", cycle_id, job_group=False):
            with self.tracer.span("gold.append", cycle_id):
                delta_batch_append(churn_features(self.spark, self.sf_dir), self.snapshot_path(cycle_id))
            snapshot = self.spark.read.parquet(self.snapshot_path(cycle_id))
            with self.tracer.span("score", cycle_id):
                scores = ml.churn_scores(
                    snapshot, ml.MODEL_V1["coefficients"], ml.MODEL_V1["intercept"]
                )
                delta_batch_append(scores, self.scores_path(cycle_id))
            with self.tracer.span("report", cycle_id):
                frames = gold_report_frames(snapshot)
        c = Cycle(cycle_id, t0, time.monotonic(), sum(len(f) for f in frames.values()))
        sc.setJobGroup("bench.other", "")
        self.cycles.append(c)
        return c


class GoldLoop(threading.Thread):
    """Closed loop, one caller: the next cycle starts when the last ends,
    until ``stop`` is set."""

    def __init__(self, gold: GoldLeg, stop: threading.Event, prefix: str) -> None:
        super().__init__(name="gold", daemon=True)
        self.gold, self.stop, self.prefix = gold, stop, prefix
        self.error: Exception | None = None

    def run(self) -> None:
        try:
            k = 0
            while not self.stop.is_set():
                self.gold.cycle(f"{self.prefix}-{k:03d}")
                k += 1
        except Exception as exc:  # noqa: BLE001 - re-raised by the caller after join
            self.error = exc


# ------------------------------------------------------------------- corpus


#: ll06_refinedweb_pipeline's arguments (plans/inventory.py).
LL06_ARGS = {"budget": 20_000, "repetition_max": 0.6, "portable_hash": True}


@dataclass
class CorpusRun:
    run_id: str
    start: float
    end: float
    output: tuple[list[str], list[tuple]]  # column names, rows


def corpus_run(spark, sf_dir: str, run_id: str, tracer) -> CorpusRun:
    t0 = time.monotonic()
    with tracer.span("corpus.run", run_id, job_group=False):
        with tracer.span("corpus.build", run_id):
            docs = stage_hot_table(load_table(spark, "documents", sf_dir))
            out = refinedweb_pipeline(docs, **LL06_ARGS)
        with tracer.span("corpus.collect", run_id):
            columns = out.columns
            rows = [tuple(r) for r in out.collect()]
        release_caches()
    return CorpusRun(run_id, t0, time.monotonic(), (columns, rows))
