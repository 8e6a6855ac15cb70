"""Per-layer attribution of one traced run, measured from outside the
program.

While a ``Tracer`` is installed, the public function at each layer
boundary of the flagship path is replaced by a wrapper (and restored on
exit). The wrapper tags the call's Spark jobs with the local property
``perfbench.layer``, forces the layer's output at its boundary with an
eager local checkpoint, and takes the layer's counts. The program's own
code runs unchanged, so the traced composition cannot drift from
``pipeline.py`` or the CLI.

Time is split into segments at every tag switch: a segment's wall time
and process-tree CPU go to the tag that was active, so each layer's
``wall_s`` is its self time. Counting jobs run in segments tagged
``count``, which are left out of both the layer walls and the traced
total. Task metrics come from the uncompressed Spark event log: each
stage carries the local properties of the job that submitted it.
"""

from __future__ import annotations

import inspect
import json
import time
from collections import defaultdict
from contextlib import contextmanager
from pathlib import Path

from pyspark.sql import DataFrame, functions as F

import procstat

PROP = "perfbench.layer"
COUNT = "count"
TIMED_LAYERS = ("exact", "minhash", "simhash", "components", "canonical", "catalog")
TIMINGS = (
    "wall_s", "task_run_s", "jvm_cpu_s", "python_cpu_s", "gc_s",
    "shuffle_write_mb", "spill_mb", "spark_jobs",
)
COUNTS = (
    "exact.rows_in", "exact.stage1_survivors", "exact.hashed_mb",
    "exact.dup_rows", "exact.hash_yield",
    "minhash.candidates", "minhash.verified", "minhash.verify_yield",
    "simhash.candidates", "simhash.verified", "simhash.verify_yield",
    "banding.minhash.star_buckets", "banding.minhash.star_edges",
    "banding.simhash.star_buckets", "banding.simhash.star_edges",
    "components.edges_in", "components.iterations",
    "components.edges_final", "components.clusters",
    "catalog.bytes_written",
)
EVENTLOG_CONF = {
    "spark.eventLog.enabled": "true",
    "spark.eventLog.compress": "false",
    "spark.eventLog.rolling.enabled": "false",
}
MB = 2**20


def unit(name: str) -> str:
    """The unit of a per-layer metric, from its name."""
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("_yield"):
        return "ratio"
    if name.endswith("bytes_written"):
        return "B"
    return "count"


def _bound(fn, args, kwargs) -> inspect.BoundArguments:
    b = inspect.signature(fn).bind(*args, **kwargs)
    b.apply_defaults()
    return b


def _dir_bytes(path: str) -> int:
    return sum(p.stat().st_size for p in Path(path).rglob("*") if p.is_file())


class Tracer:
    def __init__(self, spark, jvm_pid: int | None):
        self.sc = spark.sparkContext
        self.jvm_pid = jvm_pid
        self.tag = "idle"
        self.wall = defaultdict(float)
        self.tree_cpu = defaultdict(float)
        self.jvm_cpu = defaultdict(float)
        self.counts: dict[str, float] = {}
        self._mark = self._sample()

    def _sample(self) -> tuple[float, float, float]:
        return (time.perf_counter(), *procstat.cpu_seconds(self.jvm_pid))

    def switch(self, tag: str) -> str:
        """Close the running segment and start one tagged ``tag``;
        returns the previous tag."""
        now = self._sample()
        prev = self.tag
        self.wall[prev] += now[0] - self._mark[0]
        self.tree_cpu[prev] += now[1] - self._mark[1]
        self.jvm_cpu[prev] += now[2] - self._mark[2]
        self._mark, self.tag = now, tag
        self.sc.setLocalProperty(PROP, tag)
        return prev

    @contextmanager
    def tagged(self, tag: str):
        prev = self.switch(tag)
        try:
            yield
        finally:
            self.switch(prev)

    def count(self, name: str, value) -> None:
        self.counts[name] = float(value)

    # -- wrappers ---------------------------------------------------------

    def _layer(self, layer: str, fn, before=None, after=None):
        """Run ``fn`` as ``layer``, force its output, count around it."""

        def wrapped(*args, **kwargs):
            b = _bound(fn, args, kwargs)
            if before:
                with self.tagged(COUNT):
                    before(b)
            prev = self.switch(layer)
            try:
                out = fn(*b.args, **b.kwargs)
                if isinstance(out, DataFrame):
                    out = out.localCheckpoint(eager=True)
            finally:
                self.switch(prev)
            if after:
                with self.tagged(COUNT):
                    after(b, out)
            return out

        return wrapped

    def _probe(self, fn, edit=None, after=None):
        """Observe a call inside the running layer without a new tag.
        ``edit`` may force or replace arguments before the call."""

        def wrapped(*args, **kwargs):
            b = _bound(fn, args, kwargs)
            if edit:
                edit(b)
            out = fn(*b.args, **b.kwargs)
            if after:
                out = after(b, out)
            return out

        return wrapped

    def _force_output(self, name: str):
        def after(b, out):
            out = out.localCheckpoint(eager=True)
            with self.tagged(COUNT):
                self.count(name, out.count())
            return out

        return after

    def _stage1(self, b, out):
        if "exact.stage1_survivors" not in self.counts:
            with self.tagged(COUNT):
                row = out.agg(F.count(F.lit(1)), F.sum("_len")).first()
                self.count("exact.stage1_survivors", row[0])
                self.count("exact.hashed_mb", (row[1] or 0) / MB)
        return out

    def _star(self, b):
        """Force the bucketed rows, then count the buckets the star
        guard collapses and the star edges it emits for them."""
        tier = self.tag
        b.arguments["bucketed"] = b.arguments["bucketed"].localCheckpoint(eager=True)
        with self.tagged(COUNT):
            row = (
                b.arguments["bucketed"].groupBy(*b.arguments["bucket_cols"]).count()
                .filter(F.col("count") > b.arguments["max_bucket"])
                .agg(F.count(F.lit(1)), F.sum(F.col("count") - 1))
                .first()
            )
            self.count(f"banding.{tier}.star_buckets", row[0])
            self.count(f"banding.{tier}.star_edges", row[1] or 0)

    def _cc_metrics(self, b):
        from dedup_spark.plans.lineage import StageMetrics

        if b.arguments["metrics"] is None:
            b.arguments["metrics"] = StageMetrics("connected_components")
        self._cc = b.arguments["metrics"]

    def _cc_counts(self, b, out):
        edges = [e["value"] for e in self._cc.entries if e["stage"].endswith("_edges")]
        self.count("components.iterations", len(edges))
        self.count("components.edges_final", edges[-1] if edges else 0)
        return out

    def _targets(self):
        import dedup_spark.operators.banding as banding
        import dedup_spark.operators.components as components
        import dedup_spark.operators.exact as exact
        import dedup_spark.operators.minhash as minhash
        import dedup_spark.operators.simhash as simhash
        import dedup_spark.pipeline as pipeline
        import dedup_spark.sources.catalog as catalog

        def rows_in(b):
            self.count("exact.rows_in", b.arguments["df"].count())

        def out_rows(name):
            return lambda b, out: self.count(name, out.count())

        def edges_in(b):
            self.count("components.edges_in", b.arguments["pairs"].count())

        def clusters(b, out):
            n = out.groupBy("cluster_id").count().filter(F.col("count") >= 2).count()
            self.count("components.clusters", n)

        def bytes_written(b, out):
            self.count("catalog.bytes_written", _dir_bytes(b.arguments["target"]))

        return [
            (pipeline, "exact_duplicate_clusters",
             lambda fn: self._layer("exact", fn, rows_in, out_rows("exact.dup_rows"))),
            (exact, "semi_join_candidates", lambda fn: self._probe(fn, after=self._stage1)),
            (pipeline, "minhash_near_duplicates",
             lambda fn: self._layer("minhash", fn, after=out_rows("minhash.verified"))),
            (minhash, "band_candidates",
             lambda fn: self._probe(fn, after=self._force_output("minhash.candidates"))),
            (pipeline, "phash_near_duplicates",
             lambda fn: self._layer("simhash", fn, after=out_rows("simhash.verified"))),
            (simhash, "hamming_candidates",
             lambda fn: self._probe(fn, after=self._force_output("simhash.candidates"))),
            (banding, "star_guarded_pairs", lambda fn: self._probe(fn, edit=self._star)),
            (pipeline, "clusters_from_pairs",
             lambda fn: self._layer("components", fn, edges_in, clusters)),
            (components, "connected_components",
             lambda fn: self._probe(fn, edit=self._cc_metrics, after=self._cc_counts)),
            (pipeline, "with_canonical", lambda fn: self._layer("canonical", fn)),
            (catalog, "write_table", lambda fn: self._layer("catalog", fn, after=bytes_written)),
        ]

    @contextmanager
    def installed(self):
        """Wrap every layer boundary for the duration of the block."""
        saved = []
        try:
            for module, name, wrap in self._targets():
                fn = getattr(module, name)
                saved.append((module, name, fn))
                setattr(module, name, wrap(fn))
            yield self
        finally:
            for module, name, fn in saved:
                setattr(module, name, fn)

    @contextmanager
    def run(self, root: str):
        """Trace one call; jobs outside every layer are tagged ``root``."""
        self.switch(root)
        try:
            yield self
        finally:
            self.switch("idle")


def read_event_log(path: Path) -> dict[str, dict[str, float]]:
    """Σ task metrics and job counts per ``perfbench.layer`` tag."""
    stage_tag: dict[tuple[int, int], str] = {}
    out: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    with open(path) as f:
        for line in f:
            e = json.loads(line)
            kind = e["Event"]
            if kind == "SparkListenerStageSubmitted":
                info = e["Stage Info"]
                tag = (e.get("Properties") or {}).get(PROP, "untagged")
                stage_tag[(info["Stage ID"], info["Stage Attempt ID"])] = tag
            elif kind == "SparkListenerJobStart":
                tag = (e.get("Properties") or {}).get(PROP, "untagged")
                out[tag]["spark_jobs"] += 1
            elif kind == "SparkListenerTaskEnd":
                m = e.get("Task Metrics") or {}
                acc = out[stage_tag.get((e["Stage ID"], e["Stage Attempt ID"]), "untagged")]
                acc["task_run_s"] += m.get("Executor Run Time", 0) / 1e3
                acc["jvm_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                acc["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                acc["shuffle_write_mb"] += (
                    m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0) / MB
                )
                acc["spill_mb"] += m.get("Disk Bytes Spilled", 0) / MB
    return out


def layer_metrics(tracer: Tracer, events: dict, untraced_s: float) -> dict[str, float]:
    """The per-layer metric set of one traced run, named ``<layer>.<metric>``."""
    m: dict[str, float] = {}
    for layer in TIMED_LAYERS:
        ev = events.get(layer, {})
        m[f"{layer}.wall_s"] = tracer.wall[layer]
        m[f"{layer}.python_cpu_s"] = tracer.tree_cpu[layer] - tracer.jvm_cpu[layer]
        for k in TIMINGS:
            if k not in ("wall_s", "python_cpu_s"):
                m[f"{layer}.{k}"] = float(ev.get(k, 0.0))
    m["job.wall_s"] = tracer.wall["job"]
    m["job.spark_jobs"] = float(events.get("job", {}).get("spark_jobs", 0.0))
    for name in COUNTS:
        m[name] = tracer.counts.get(name, 0.0)
    for num, den, ratio in (
        ("exact.dup_rows", "exact.stage1_survivors", "exact.hash_yield"),
        ("minhash.verified", "minhash.candidates", "minhash.verify_yield"),
        ("simhash.verified", "simhash.candidates", "simhash.verify_yield"),
    ):
        m[ratio] = m[num] / m[den] if m[den] else 0.0
    total = sum(w for tag, w in tracer.wall.items() if tag not in (COUNT, "idle"))
    m["trace.total_s"] = total
    m["trace.residual_s"] = total - sum(m[f"{layer}.wall_s"] for layer in (*TIMED_LAYERS, "job"))
    m["trace.overhead_s"] = total - untraced_s
    m["trace.count_s"] = tracer.wall[COUNT]
    return m
