"""Traced run: per-layer spans and Spark event-log statistics.

Spark evaluates lazily, so a span around a plan-building call would time
nothing. While a traced batch runs, the public functions the drivers call are
replaced by wrappers from this file that call each layer's public function in
turn and materialize its output (persist + count), so each layer's work runs
inside its own span. A span opens where the driver calls into a layer and
lasts until the driver calls into the next one, so work the driver does on a
layer's output in between (the state write after the merge, the serving
table write after top-K) is charged to that layer. The batch root's self
time, the wall time no layer span covers, is the driver's: trigger start,
offset and checkpoint commits, the pointer swap and query shutdown.

Layer boundaries per driver:

* ``run_autocomplete_serving_pipeline``: the engine's ``autocomplete_batch``
  runs unchanged, and the operators it calls are wrapped in the plan
  module's namespace: ``normalize_queries`` -> sources, prefix;
  ``merge_frequencies`` -> merge. Then ``suggestions`` -> topk;
  ``diff_suggestions`` -> diff; ``publish_delta`` ..
  ``publish_delta_records`` -> publish.
* ``run_neardedup_stream``: ``neardedup_against_index`` -> sources, dedup
  (the dedup span ends with the batch's last Spark job in that layer, read
  from the event log: survivor write and index append included).

Every Spark job run inside a span carries the job group
``pb|<batch>|<layer>``; the event log is parsed after the session stops and
task metrics are summed per (batch, layer). Spans are kept in memory and
written out when the run ends.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import json
import os
import re
import statistics
import time
from collections import defaultdict

LAYERS = ("sources", "prefix", "merge", "topk", "diff", "publish", "dedup", "driver")

#: Layer -> the modules it covers, the end-to-end metrics it should move (and
#: on which workload), and the workloads on which it should move nothing.
#: GC time and spill should also move ``peak_rss_mb`` and ``batch_tail_s``.
LAYER_MAP = {
    "session": {"modules": ["session.get_spark"], "moves": {"setup_s": "all"}, "unchanged_on": []},
    "sources": {
        "modules": ["sources.pyds", "sources.text"],
        "moves": {"records_per_s": "backfill_cold"},
        "unchanged_on": ["neardedup_increment"],
    },
    "prefix": {
        "modules": ["operators.prefix.normalize_queries", "operators.prefix.prefix_frequencies"],
        "moves": {"records_per_s": "backfill_cold"},
        "unchanged_on": ["neardedup_increment", "hourly_increment (about)"],
    },
    "merge": {
        "modules": ["operators.merge", "operators.state_store"],
        "moves": {"batch_p50_s": "hourly_increment", "state_mb": "hourly_increment"},
        "unchanged_on": ["backfill_cold"],
    },
    "topk": {
        "modules": ["plans.autocomplete.suggestions", "operators.topk"],
        "moves": {"batch_p50_s": "hourly_increment"},
        "unchanged_on": ["neardedup_increment"],
    },
    "diff": {
        "modules": ["plans.autocomplete.diff_suggestions"],
        "moves": {"batch_p50_s": "hourly_increment"},
        "unchanged_on": ["backfill_cold"],
    },
    "publish": {
        "modules": ["sinks.redis.publish_delta", "sources.kafka.publish_delta_records"],
        "moves": {"records_per_s": "backfill_cold", "batch_tail_s": "hourly_increment"},
        "unchanged_on": ["neardedup_increment"],
    },
    "driver": {
        "modules": ["streaming.jobs", "streaming.dedup (trigger/commit)"],
        "moves": {
            "batch_p50_s": "hourly_increment, neardedup_increment",
            "batch_tail_s": "hourly_increment, neardedup_increment",
        },
        "unchanged_on": ["backfill_cold (one trigger)"],
    },
    "dedup": {
        "modules": [
            "operators.dedup.shingle_hash_sets",
            "operators.dedup.minhash_signatures",
            "operators.dedup.neardedup_against_index",
            "operators.dedup.minhash_band_index",
        ],
        "moves": {"batch_p50_s": "neardedup_increment", "records_per_s": "neardedup_increment"},
        "unchanged_on": ["hourly_increment", "backfill_cold"],
    },
}

#: Event-log statistics reported for every layer that runs Spark jobs.
JOB_STATS = ("tasks", "shuffle_write_mb", "spill_mb", "cpu_ratio", "gc_s", "tasks_failed")

#: Layer-specific counts, all medians over traced batches.
COUNTS = (
    "sources.records",
    "prefix.lines_kept_ratio",
    "prefix.fanout_rows",
    "prefix.combine_ratio",
    "merge.state_rows_in",
    "merge.state_rows_out",
    "merge.write_mb",
    "topk.prefixes_ranked",
    "diff.changed",
    "diff.changed_ratio",
    "publish.ops",
    "driver.overhead_s",
    "driver.jobs_per_batch",
    "dedup.candidates",
    "dedup.verified_ratio",
    "dedup.index_rows",
)

#: Every per-layer metric name the traced run prints, with its unit.
PER_LAYER = (
    [("session.start_s", "s")]
    + [(f"{layer}.s", "s") for layer in LAYERS]
    + [
        (f"{layer}.{stat}", unit)
        for layer in LAYERS
        for stat, unit in zip(JOB_STATS, ("count", "MB", "MB", "ratio", "s", "count"))
    ]
    + [
        (name, unit)
        for name, unit in zip(
            COUNTS,
            ("count", "ratio", "count", "ratio", "count", "count", "MB", "count",
             "count", "ratio", "count", "s", "count", "count", "ratio", "count"),
        )
    ]
    + [("trace.batch_s", "s"), ("trace.overhead_s", "s")]
)


#: The layer spans a traced batch opens, in order, per driver.
SPAN_SEQUENCES = (
    ["sources", "prefix", "merge", "topk", "diff", "publish"],
    ["sources", "dedup"],
)


def _group(batch: int, layer: str) -> str:
    return f"pb|{batch}|{layer}"


class Tracer:
    """Spans and counts of traced batches, kept in memory."""

    def __init__(self, spark):
        self.spark = spark
        self.spans: list[dict] = []  # name, start, end, parent, batch
        self.counts: dict[int, dict[str, float]] = defaultdict(dict)
        self.batch: int | None = None
        self.n_batches = 0
        self.open: dict | None = None
        self.cached: list = []

    # -- span bookkeeping -------------------------------------------------
    def begin(self) -> None:
        """The batch's input landed: its timed window opens."""
        self.n_batches += 1
        batch = self.batch = self.n_batches
        self.spans.append({"name": "batch", "start": time.time(), "end": None, "parent": None, "batch": batch})
        self.spark.sparkContext.setJobGroup(_group(batch, "driver"), "perfbench")

    def enter(self, layer: str) -> None:
        """Close the open layer span (if any) and open ``layer``'s."""
        now = time.time()
        if self.open is not None:
            self.open["end"] = now
        self.open = {"name": layer, "start": now, "end": None, "parent": "batch", "batch": self.batch}
        self.spans.append(self.open)
        self.spark.sparkContext.setJobGroup(_group(self.batch, layer), "perfbench")

    def leave(self) -> None:
        if self.open is not None:
            self.open["end"] = time.time()
            self.open = None
        self.spark.sparkContext.setJobGroup(_group(self.batch, "driver"), "perfbench")

    def end(self) -> None:
        """The batch's timed window closed: close its open spans; jobs the
        benchmark runs afterwards (oracle checks, counts) are grouped apart.
        Raises if the driver did not pass through every wrapped entry point
        in order, so a changed call path fails the traced run instead of
        leaving a layer unmeasured."""
        now = time.time()
        for s in self.spans:
            if s["batch"] == self.batch and s["end"] is None and s["name"] != "dedup":
                s["end"] = now
        self.open = None
        for df in self.cached:
            df.unpersist()
        self.cached = []
        self.spark.sparkContext.setJobGroup(_group(self.batch, "count"), "perfbench")
        names = [s["name"] for s in self.spans if s["batch"] == self.batch and s["parent"]]
        if names not in SPAN_SEQUENCES:
            raise RuntimeError(
                f"traced batch {self.batch} opened spans {names}, expected one of {SPAN_SEQUENCES}: "
                "the engine's call path changed, update the wrappers in perfbench/trace.py"
            )

    def count(self, layer: str, name: str, value: float) -> None:
        if self.batch is not None:
            self.counts[self.batch][f"{layer}.{name}"] = value

    def _materialize(self, df):
        df = df.persist()
        n = df.count()
        self.cached.append(df)
        return df, n

    # -- wrappers ---------------------------------------------------------
    @contextlib.contextmanager
    def installed(self):
        """Replace the layer entry points the drivers and the plan look up at
        call time. The engine's own ``autocomplete_batch`` body runs; only
        the operators it calls are wrapped."""
        from pyspark.sql import functions as F

        from batch_processing_pipeline_spark.operators import dedup as dedup_mod
        from batch_processing_pipeline_spark.operators.prefix import (
            DEFAULT_MAX_PREFIX_LEN,
            DEFAULT_MIN_PREFIX_LEN,
        )
        from batch_processing_pipeline_spark.plans import autocomplete as plan
        from batch_processing_pipeline_spark.sinks import redis as redis_sink
        from batch_processing_pipeline_spark.sources import kafka as kafka_sink

        orig = {
            (plan, "autocomplete_batch"): plan.autocomplete_batch,
            (plan, "normalize_queries"): plan.normalize_queries,
            (plan, "prefix_frequencies"): plan.prefix_frequencies,
            (plan, "merge_frequencies"): plan.merge_frequencies,
            (plan, "suggestions"): plan.suggestions,
            (plan, "diff_suggestions"): plan.diff_suggestions,
            (redis_sink, "publish_delta"): redis_sink.publish_delta,
            (kafka_sink, "publish_delta_records"): kafka_sink.publish_delta_records,
            (dedup_mod, "neardedup_against_index"): dedup_mod.neardedup_against_index,
        }
        tr = self
        in_plan = []

        def autocomplete_batch(*args, **kwargs):
            in_plan.append(True)
            try:
                return orig[(plan, "autocomplete_batch")](*args, **kwargs)
            finally:
                in_plan.pop()

        def normalize_queries(raw_lines, *args, **kwargs):
            tr.enter("sources")
            src, n_lines = tr._materialize(raw_lines)
            tr.count("sources", "records", n_lines)
            tr.enter("prefix")
            queries, n_kept = tr._materialize(orig[(plan, "normalize_queries")](src, *args, **kwargs))
            tr.count("prefix", "lines_kept_ratio", n_kept / max(n_lines, 1))
            return queries

        def prefix_frequencies(queries, *args, min_len=DEFAULT_MIN_PREFIX_LEN,
                               max_len=DEFAULT_MAX_PREFIX_LEN, **kwargs):
            fanout = queries.agg(
                F.sum(F.greatest(F.least(F.length("query"), F.lit(max_len)) - (min_len - 1), F.lit(0)))
            ).first()[0] or 0
            counts, n_pairs = tr._materialize(
                orig[(plan, "prefix_frequencies")](queries, *args, min_len=min_len, max_len=max_len, **kwargs)
            )
            tr.count("prefix", "fanout_rows", fanout)
            tr.count("prefix", "combine_ratio", n_pairs / max(fanout, 1))
            return counts

        def merge_frequencies(state, *args, **kwargs):
            tr.enter("merge")
            tr.count("merge", "state_rows_in", state.count() if state is not None else 0)
            return orig[(plan, "merge_frequencies")](state, *args, **kwargs)

        def suggestions(freq, *args, **kwargs):
            if in_plan:  # the plan's own lazy top-K; the driver drops it
                return orig[(plan, "suggestions")](freq, *args, **kwargs)
            tr.enter("topk")
            tr.count("merge", "state_rows_out", freq.count())
            tr.count("merge", "write_mb", sum(map(_file_bytes, freq.inputFiles())) / 1e6)
            return orig[(plan, "suggestions")](freq, *args, **kwargs)

        def diff_suggestions(prev, cur, *args, **kwargs):
            tr.enter("diff")
            tr.count("topk", "prefixes_ranked", cur.count())
            return orig[(plan, "diff_suggestions")](prev, cur, *args, **kwargs)

        def publish_delta(df, *args, **kwargs):
            tr.enter("publish")
            n = df.count()
            tr.count("diff", "changed", n)
            ranked = tr.counts[tr.batch].get("topk.prefixes_ranked", 0)
            tr.count("diff", "changed_ratio", n / max(ranked, 1))
            return orig[(redis_sink, "publish_delta")](df, *args, **kwargs)

        def publish_delta_records(df, *args, **kwargs):
            out = orig[(kafka_sink, "publish_delta_records")](df, *args, **kwargs)
            tr.leave()
            return out

        def neardedup_against_index(batch, *args, **kwargs):
            tr.enter("sources")
            docs, n = tr._materialize(batch)
            tr.count("sources", "records", n)
            tr.enter("dedup")
            return orig[(dedup_mod, "neardedup_against_index")](docs, *args, **kwargs)

        repl = {
            (plan, "autocomplete_batch"): autocomplete_batch,
            (plan, "normalize_queries"): normalize_queries,
            (plan, "prefix_frequencies"): prefix_frequencies,
            (plan, "merge_frequencies"): merge_frequencies,
            (plan, "suggestions"): suggestions,
            (plan, "diff_suggestions"): diff_suggestions,
            (redis_sink, "publish_delta"): publish_delta,
            (kafka_sink, "publish_delta_records"): publish_delta_records,
            (dedup_mod, "neardedup_against_index"): neardedup_against_index,
        }
        for key, fn in repl.items():
            setattr(key[0], key[1], functools.wraps(orig[key])(fn))
        try:
            yield self
        finally:
            for (mod, name), fn in orig.items():
                setattr(mod, name, fn)


def _file_bytes(uri: str) -> int:
    path = uri[len("file:"):] if uri.startswith("file:") else uri
    return os.path.getsize(path)


# ------------------------------------------------------------- event log
def read_event_log(log_dir: str) -> list[dict]:
    events = []
    for path in sorted(glob.glob(os.path.join(log_dir, "*"))):
        with open(path, encoding="utf-8") as f:
            events.extend(json.loads(line) for line in f if line.strip())
    return events


def job_table(events: list[dict]) -> list[dict]:
    """One record per job: group, submit/complete times (s), task stats."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    for e in events:
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            jid = e["Job ID"]
            props = e.get("Properties") or {}
            jobs[jid] = {
                "group": props.get("spark.jobGroup.id"),
                "submit": e.get("Submission Time", 0) / 1000,
                "end": None,
                "tasks": 0, "tasks_failed": 0, "run_ms": 0, "cpu_ns": 0, "gc_ms": 0,
                "shuffle_write": 0, "spill": 0,
            }
            for sid in e.get("Stage IDs", []):
                stage_job.setdefault(sid, jid)
        elif kind == "SparkListenerJobEnd" and e["Job ID"] in jobs:
            jobs[e["Job ID"]]["end"] = e.get("Completion Time", 0) / 1000
        elif kind == "SparkListenerTaskEnd":
            job = jobs.get(stage_job.get(e.get("Stage ID")))
            if job is None:
                continue
            job["tasks"] += 1
            if (e.get("Task End Reason") or {}).get("Reason") != "Success":
                job["tasks_failed"] += 1
            m = e.get("Task Metrics") or {}
            job["run_ms"] += m.get("Executor Run Time", 0)
            job["cpu_ns"] += m.get("Executor CPU Time", 0)
            job["gc_ms"] += m.get("JVM GC Time", 0)
            job["spill"] += m.get("Disk Bytes Spilled", 0)
            job["shuffle_write"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
    return list(jobs.values())


#: Plan nodes of ``neardedup_against_index``'s probe against the index,
#: matched on the plan's own column names: the signature-estimate prefilter
#: over the (batch_id, snap_id) pair aggregate, whose rows are the candidate
#: pairs the engine verifies, and the node that applies the exact Jaccard
#: test to them (a join condition or a filter), whose rows are the verified
#: pairs.
_CANDIDATES = re.compile(r"keys=\[batch_id#\d+L?, snap_id#\d+L?\]")
_VERIFIED = "array_intersect(sh_batch"


def dedup_pairs(events: list[dict]) -> dict[str, dict[str, int]]:
    """Candidate and verified pairs per job group, summed from the SQL
    metrics ("number of output rows") of the engine's own plan nodes in the
    event log. A cached node shows up again in later plans under the same
    accumulator, so each accumulator counts once, for the group of the
    first plan that shows it."""
    exec_group: dict[int, str] = {}
    for e in events:
        if e.get("Event") == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            if "spark.sql.execution.id" in props:
                exec_group.setdefault(int(props["spark.sql.execution.id"]), props.get("spark.jobGroup.id"))
    accum: dict[int, tuple[str, str]] = {}  # accumulator id -> (group, count)

    def claim(node, group, name):
        for m in node.get("metrics", []):
            if m["name"] == "number of output rows":
                accum.setdefault(m["accumulatorId"], (group, name))

    def walk(node, group):
        if _VERIFIED in node.get("simpleString", ""):
            claim(node, group, "verified")
        for child in node.get("children", []):
            if node["nodeName"] == "Filter" and _CANDIDATES.search(child.get("simpleString", "")):
                claim(node, group, "candidates")
            walk(child, group)

    for e in events:
        if e.get("Event", "").endswith(("SQLExecutionStart", "SQLAdaptiveExecutionUpdate")):
            group = exec_group.get(e["executionId"])
            if group:
                walk(e["sparkPlanInfo"], group)
    # a node can first appear in an adaptive plan update posted after its
    # tasks ended, so the updates are summed in a pass of their own
    rows: dict[int, int] = defaultdict(int)
    for e in events:
        kind = e.get("Event", "")
        if kind == "SparkListenerTaskEnd":
            for a in (e.get("Task Info") or {}).get("Accumulables", []):
                if a["ID"] in accum:
                    rows[a["ID"]] += int(a["Update"])
        elif kind.endswith("SparkListenerDriverAccumUpdates"):
            for aid, value in e["accumUpdates"]:
                if aid in accum:
                    rows[aid] += int(value)
    out: dict[str, dict[str, int]] = defaultdict(lambda: {"candidates": 0, "verified": 0})
    for aid, (group, name) in accum.items():
        out[group][name] += rows[aid]
    return out


def _median(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0


def layer_metrics(tracer: Tracer, jobs: list[dict], pairs: dict[str, dict[str, int]],
                  untraced: list[tuple[float, float, float]]):
    """Per-layer medians over traced batches, and the per-batch rows they
    come from. ``pairs`` is ``dedup_pairs`` of the same event log;
    ``untraced`` holds ``(start, end, wall)`` of the untraced batches run in
    the same session."""
    batches = sorted({s["batch"] for s in tracer.spans})
    roots = {s["batch"]: s for s in tracer.spans if s["name"] == "batch"}
    by_group: dict[str, list[dict]] = defaultdict(list)
    for j in jobs:
        group = j["group"] or ""
        if not group.startswith("pb|"):
            # jobs the driver runs before the first layer call carry the
            # stream's own job group: charge them to the batch's driver
            b = next((b for b, r in roots.items() if r["start"] <= j["submit"] <= r["end"]), None)
            if b is None:
                continue
            group = _group(b, "driver")
        by_group[group].append(j)
    per_batch: dict[int, dict[str, float]] = {}
    for b in batches:
        spans = [s for s in tracer.spans if s["batch"] == b]
        root = roots[b]
        row: dict[str, float] = dict(tracer.counts.get(b, {}))
        covered = 0.0
        for s in spans:
            if s["name"] == "batch":
                continue
            if s["end"] is None:  # closed by its last job (see module doc)
                ends = [j["end"] for j in by_group.get(_group(b, s["name"]), []) if j["end"]]
                s["end"] = min(max(ends, default=s["start"]), root["end"])
            row[f"{s['name']}.s"] = row.get(f"{s['name']}.s", 0.0) + s["end"] - s["start"]
            covered += s["end"] - s["start"]
        wall = root["end"] - root["start"]
        row["driver.s"] = row["driver.overhead_s"] = wall - covered
        row["trace.batch_s"] = wall
        if any(s["name"] == "dedup" for s in spans):
            p = pairs.get(_group(b, "dedup"))
            if not p or not p["candidates"]:
                raise RuntimeError(
                    f"traced batch {b}: no candidate pairs found in the dedup plan; "
                    "the engine's probe plan changed, update perfbench/trace.py:_CANDIDATES"
                )
            row["dedup.candidates"] = p["candidates"]
            row["dedup.verified_ratio"] = p["verified"] / p["candidates"]
        for layer in LAYERS:
            js = by_group.get(_group(b, layer), [])
            run_ms = sum(j["run_ms"] for j in js)
            row[f"{layer}.tasks"] = sum(j["tasks"] for j in js)
            row[f"{layer}.tasks_failed"] = sum(j["tasks_failed"] for j in js)
            row[f"{layer}.shuffle_write_mb"] = sum(j["shuffle_write"] for j in js) / 1e6
            row[f"{layer}.spill_mb"] = sum(j["spill"] for j in js) / 1e6
            row[f"{layer}.gc_s"] = sum(j["gc_ms"] for j in js) / 1000
            row[f"{layer}.cpu_ratio"] = (sum(j["cpu_ns"] for j in js) / 1e6) / run_ms if run_ms else 0.0
        per_batch[b] = row
    out = {}
    for name, _unit in PER_LAYER:
        out[name] = _median(r.get(name, 0.0) for r in per_batch.values())
    # jobs the driver runs per batch, counted on the untraced batches
    out["driver.jobs_per_batch"] = _median(
        sum(1 for j in jobs if start <= j["submit"] <= end) for start, end, _ in untraced
    )
    untraced_p50 = _median(w for _, _, w in untraced)
    out["trace.overhead_s"] = out["trace.batch_s"] - untraced_p50
    return out, per_batch
