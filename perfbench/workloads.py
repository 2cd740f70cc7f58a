"""The benchmark's three workloads, driven through the engine's public drivers.

Each workload is closed-loop with one producer: the next input file lands
only after the previous driver run has committed. Every timed batch is one
``availableNow`` run of the driver, timed from the moment its input file is
renamed into the source directory until the run has committed. Oracle
checks, input generation and file writes happen outside that window.

* ``hourly_increment`` -- ``run_autocomplete_serving_pipeline`` (default
  layout) merging one hourly file per run into state seeded from a day of
  traffic: the state-sized layers (merge rewrite, top-K, diff) dominate.
* ``backfill_cold`` -- the same driver draining a 24-file backlog into empty
  state in one run: read, normalize, fan-out and the first full publish.
* ``neardedup_increment`` -- ``run_neardedup_stream`` probing batches with
  planted near-duplicates against an indexed history.
"""

from __future__ import annotations

import os
import shutil
import time
from dataclasses import dataclass

from perfbench import gen
from perfbench.oracle import (
    AutocompleteOracle,
    ServingMirror,
    compacted_log,
    dedup_mismatches,
    read_log,
    table_mismatches,
)
from perfbench.sinks import Recorder

K = 10
DOC_SCHEMA = "doc_id long, text string"

# Input sizes: chosen so that one run (three set-up repetitions, 12 s of
# timed batches, the checks) stays under a minute on a 4-core host.
HOURLY_POOL = 12_000  # distinct general queries behind the Zipf draw
HOURLY_HISTORY_LINES = 60_000  # the seeded "day" of traffic
HOURLY_LINES = 3_000  # one hourly file
BACKFILL_POOL = 6_000
BACKFILL_FILES = 24
BACKFILL_LINES = 4_000  # per hourly file of the backlog
DEDUP_HISTORY_DOCS = 4_000
DEDUP_BATCH_DOCS = 400
DEDUP_SHARE = 0.10


@dataclass
class Batch:
    started: float  # epoch seconds when the input landed
    wall_s: float
    records: int
    ok: bool
    note: str = ""


def dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _dirs, files in os.walk(path, followlinks=False):
        for f in files:
            p = os.path.join(dirpath, f)
            if not os.path.islink(p):
                total += os.path.getsize(p)
    return total


def _doc_ids(path: str) -> set[int]:
    """Survivor ids from the engine's parquet output, read without a Spark
    job so the check between batches stays short."""
    import pyarrow.parquet as pq

    return set(pq.read_table(path, columns=["doc_id"]).column("doc_id").to_pylist())


def _fresh(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


class Workload:
    """One workload instance over a work directory. ``prepare`` is one
    set-up repetition: fresh directories, input generation, state seeding
    and one untimed warm-up batch on the seeded state. ``batch`` is one
    timed batch plus its oracle check; ``final_check`` compares the whole
    output once more after the run."""

    name = ""

    def __init__(self, spark, work: str, seed: int):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.tracer = None  # set by the traced run

    def prepare(self) -> None:
        self.seed_state()
        b = self.batch()
        if not b.ok:
            raise RuntimeError(f"warm-up batch failed: {b.note}")

    def _window_opened(self) -> tuple[float, float]:
        if self.tracer is not None:
            self.tracer.begin()
        return time.time(), time.perf_counter()

    def _window_closed(self) -> None:
        if self.tracer is not None:
            self.tracer.end()

    def _await(self, query) -> None:
        query.awaitTermination()
        if query.exception() is not None:
            raise RuntimeError(str(query.exception()))


class _Autocomplete(Workload):
    """Shared driver call and oracle bookkeeping of both autocomplete workloads."""

    def _reset(self, root: str) -> None:
        self.root = _fresh(root)
        self.logs = _fresh(os.path.join(root, "logs"))
        self.serve = _fresh(os.path.join(root, "serve"))
        self.ckpt = os.path.join(root, "ckpt")
        self.oracle = AutocompleteOracle(K)
        self.mirror = ServingMirror()
        self.records: list = []
        self.recorder = Recorder(self.spark.sparkContext)

    def _run_driver(self) -> None:
        from batch_processing_pipeline_spark.streaming.jobs import (
            run_autocomplete_serving_pipeline,
        )

        q = run_autocomplete_serving_pipeline(
            self.spark,
            self.logs,
            self.serve,
            self.ckpt,
            k=K,
            redis_client_factory=self.recorder.store_factory(),
            kafka_producer_factory=self.recorder.producer_factory(),
        )
        self._await(q)

    def _absorb(self, paths: list[str], full: bool) -> tuple[bool, str, int]:
        """Fold the published ops into the mirror and the files into the
        oracle; compare either every key or only the keys this batch
        touched or published. Returns ``(ok, note, ops)``."""
        ops, records = self.recorder.drain()
        n_ops = self.mirror.apply(ops)
        self.records.extend(records)
        touched = self.oracle.add_lines([line for p in paths for line in read_log(p)])
        if full:
            expected, served = self.oracle.table, self.mirror.store
        else:
            keys = touched | {key for _verb, key, _value in ops}
            expected = {k: self.oracle.table[k] for k in keys if k in self.oracle.table}
            served = {k: self.mirror.store[k] for k in keys if k in self.mirror.store}
        n_bad, examples = table_mismatches(expected, served)
        if n_bad:
            return False, f"{n_bad} serving rows differ from the oracle, e.g. {examples[:2]}", n_ops
        if len(records) != n_ops:
            return False, f"store got {n_ops} ops, log got {len(records)} records", n_ops
        return True, "", n_ops

    def final_check(self) -> tuple[bool, str]:
        n_bad, examples = table_mismatches(self.oracle.table, self.mirror.store)
        if n_bad:
            return False, f"{n_bad} serving rows differ from the oracle, e.g. {examples[:2]}"
        if compacted_log(self.records) != self.mirror.store:
            return False, "compacted change log differs from the serving store"
        return True, ""

    def state_bytes(self) -> int:
        return dir_bytes(os.path.realpath(os.path.join(self.serve, "current")))


class HourlyIncrement(_Autocomplete):
    name = "hourly_increment"

    def seed_state(self) -> None:
        self._reset(os.path.join(self.work, "hourly"))
        self.model = gen.query_model(self.seed, HOURLY_POOL)
        self.hour = 0
        path = self._land(self.model.lines(HOURLY_HISTORY_LINES))
        self._run_driver()
        ok, note, _ = self._absorb([path], full=True)
        if not ok:
            raise RuntimeError(f"seeding disagrees with the oracle: {note}")

    def _land(self, lines: list[str]) -> str:
        path = os.path.join(self.logs, gen.hour_name(self.hour))
        self.hour += 1
        gen.write_lines(path, lines)
        return path

    def batch(self) -> Batch:
        lines = self.model.lines(HOURLY_LINES)
        path = self._land(lines)
        started, t0 = self._window_opened()
        self._run_driver()
        wall = time.perf_counter() - t0
        self._window_closed()
        ok, note, n_ops = self._absorb([path], full=False)
        if self.tracer is not None:
            self.tracer.count("publish", "ops", n_ops)
        return Batch(started, wall, len(lines), ok, note)


class BackfillCold(_Autocomplete):
    name = "backfill_cold"

    def seed_state(self) -> None:
        self.model = gen.query_model(self.seed, BACKFILL_POOL)  # state starts empty

    def batch(self) -> Batch:
        self._reset(os.path.join(self.work, "backfill"))
        backlog = [self.model.lines(BACKFILL_LINES) for _ in range(BACKFILL_FILES)]
        paths = [os.path.join(self.logs, gen.hour_name(h)) for h in range(BACKFILL_FILES)]
        for path, lines in zip(paths, backlog):
            gen.write_lines(path, lines)
        started, t0 = self._window_opened()
        self._run_driver()
        wall = time.perf_counter() - t0
        self._window_closed()
        ok, note, n_ops = self._absorb(paths, full=True)
        if ok:
            ok, note = self.final_check()
        if self.tracer is not None:
            self.tracer.count("publish", "ops", n_ops)
        return Batch(started, wall, sum(map(len, backlog)), ok, note)


class NeardedupIncrement(Workload):
    name = "neardedup_increment"

    def seed_state(self) -> None:
        self.root = _fresh(os.path.join(self.work, "neardedup"))
        self.src = _fresh(os.path.join(self.root, "in"))
        self.index = os.path.join(self.root, "index")
        self.out = os.path.join(self.root, "out")
        self.ckpt = os.path.join(self.root, "ckpt")
        self.model = gen.doc_model(self.seed)
        self.originals: list[tuple[int, str]] = []
        self.planted: set[int] = set()
        self.n_files = 0
        docs, _ = self.model.batch(DEDUP_HISTORY_DOCS, self.originals, 0.0)
        self._land(docs)
        self._run_driver()

    def _land(self, docs) -> str:
        path = os.path.join(self.src, f"b{self.n_files:05d}.json")
        gen.write_docs(path, docs)
        self.n_files += 1
        return path

    def _run_driver(self):
        from batch_processing_pipeline_spark.streaming.dedup import run_neardedup_stream

        stream = self.spark.readStream.schema(DOC_SCHEMA).json(self.src)
        q = run_neardedup_stream(stream, self.index, self.out, self.ckpt)
        self._await(q)
        return q.lastProgress["batchId"]

    def batch(self) -> Batch:
        docs, planted = self.model.batch(DEDUP_BATCH_DOCS, self.originals, DEDUP_SHARE)
        self.planted.update(planted)
        path = self._land(docs)
        started, t0 = self._window_opened()
        epoch = self._run_driver()
        wall = time.perf_counter() - t0
        self._window_closed()
        kept = _doc_ids(os.path.join(self.out, f"batch={epoch}"))
        ids = {d[0] for d in docs}
        planted_kept, originals_dropped = dedup_mismatches(kept, ids - set(planted), set(planted))
        ok = not planted_kept and not originals_dropped and kept <= ids
        if self.tracer is not None:
            self.tracer.count("dedup", "index_rows", self.spark.read.parquet(self.index).count())
        note = "" if ok else (
            f"planted kept {sorted(planted_kept)[:5]}, originals dropped {sorted(originals_dropped)[:5]}"
        )
        return Batch(started, wall, len(docs), ok, note)

    def final_check(self) -> tuple[bool, str]:
        kept = _doc_ids(self.out)
        originals = {d[0] for d in self.originals}
        planted_kept, originals_dropped = dedup_mismatches(kept, originals, self.planted)
        if planted_kept or originals_dropped or kept != originals:
            return False, (
                f"survivors differ: {len(planted_kept)} planted kept, "
                f"{len(originals_dropped)} originals dropped"
            )
        return True, ""

    def state_bytes(self) -> int:
        return dir_bytes(self.index) + dir_bytes(self.out)


WORKLOADS = {w.name: w for w in (HourlyIncrement, BackfillCold, NeardedupIncrement)}
