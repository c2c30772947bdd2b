"""Span recording for the traced run.

`Tracer.install` rebinds the public functions of each package layer to
span-recording wrappers, in this process only. A span keeps its parent (so `run_incremental` ->
`build_release` -> `AccessionRegistry.assign` nests), its duration, the
Spark jobs, stages and tasks it ran, and, for layers that write, the
bytes and files it wrote and removed, from directory listings taken
before and after the call.

Jobs are attributed exactly: while a span is open its thread's Spark job
group is the span's id, so every job lands in the innermost open span of
the thread that ran it. Worker threads the package starts (the graph
commit runs its 11 table MERGEs on a thread pool) parent their spans to
the main thread's innermost open span.

Spark evaluates lazily, so a call that only returns a DataFrame does no
work. For those layers the traced run adds a probe span ("probe" layer)
that forces the returned frame with a count; the probe's time is the
layer's work. Probes re-run upstream lineage the program does not cache,
which is part of the tracing overhead the run reports.
"""

from __future__ import annotations

import itertools
import json
import os
import statistics
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

GROUP_KEY = "spark.jobGroup.id"


@dataclass
class Span:
    sid: int
    parent: int | None
    layer: str
    name: str
    phase: str
    t0: float
    t1: float = 0.0
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    counts: dict = field(default_factory=dict)
    main: bool = True  # opened on the main thread

    @property
    def dur(self) -> float:
        return self.t1 - self.t0


def _listing(root: str) -> dict[str, tuple[int, int]]:
    out = {}
    for d, _dirs, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            try:
                st = os.stat(p)
            except FileNotFoundError:
                continue
            out[p] = (st.st_size, st.st_mtime_ns)
    return out


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self.phase = "setup"
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        self._main = threading.main_thread()
        self._main_stack: list[Span] = []
        self._ungrouped_start: set[int] = set()
        self.ungrouped_jobs: dict[str, set[int]] = {}
        # seconds spent on listings, job counting and probes, per phase
        self.bookkeeping_s: dict[str, float] = {}

    def _charge(self, phase: str, t0: float) -> None:
        with self._lock:
            self.bookkeeping_s[phase] = self.bookkeeping_s.get(phase, 0.0) + time.perf_counter() - t0

    # ---- spans ----------------------------------------------------------

    def _stack(self) -> list[Span]:
        if threading.current_thread() is self._main:
            return self._main_stack
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextmanager
    def span(self, layer: str, name: str, fs_root: str | None = None):
        stack = self._stack()
        parent = stack[-1] if stack else (self._main_stack[-1] if self._main_stack else None)
        sp = Span(next(self._ids), parent.sid if parent else None, layer, name, self.phase, 0.0,
                  main=stack is self._main_stack)
        with self._lock:
            self.spans.append(sp)
        tb = time.perf_counter()
        before = _listing(fs_root) if fs_root else None
        prev_group = self.sc.getLocalProperty(GROUP_KEY)
        gid = f"perfbench-{sp.sid}"
        self.sc.setLocalProperty(GROUP_KEY, gid)
        stack.append(sp)
        sp.t0 = time.perf_counter()
        self._charge(sp.phase, tb)
        try:
            yield sp
        finally:
            sp.t1 = time.perf_counter()
            tb = sp.t1
            stack.pop()
            self.sc.setLocalProperty(GROUP_KEY, prev_group)
            self._spark_counts(sp, gid)
            if before is not None:
                after = _listing(fs_root)
                written = [p for p, v in after.items() if before.get(p) != v]
                sp.counts["bytes_written"] = sum(after[p][0] for p in written)
                sp.counts["files_written"] = len(written)
                sp.counts["files_removed"] = len(before.keys() - after.keys())
            self._charge(sp.phase, tb)

    def _spark_counts(self, sp: Span, gid: str) -> None:
        tracker = self.sc.statusTracker()
        stage_ids: set[int] = set()
        job_ids = list(tracker.getJobIdsForGroup(gid))
        sp.jobs = len(job_ids)
        for jid in job_ids:
            info = tracker.getJobInfo(jid)
            if info is not None:
                stage_ids.update(info.stageIds)
        for sid in stage_ids:
            st = tracker.getStageInfo(sid)
            if st is None or st.numCompletedTasks + st.numFailedTasks == 0:
                continue  # skipped (shuffle output reused) or evicted
            sp.stages += 1
            sp.tasks += st.numCompletedTasks + st.numFailedTasks
            sp.failed_tasks += st.numFailedTasks

    def set_phase(self, phase: str) -> None:
        """Switch phase; jobs run outside any span are tracked per phase."""
        ungrouped = set(self.sc.statusTracker().getJobIdsForGroup(None))
        self.ungrouped_jobs[self.phase] = ungrouped - self._ungrouped_start
        self._ungrouped_start = ungrouped
        self.phase = phase

    # ---- rebinding --------------------------------------------------------

    def wrap(self, layer: str, name: str, fn, after=None, fs_root=None):
        """Wrapper recording a span around `fn`; `after(result, args,
        kwargs, span)` runs inside the span to add counts or probes."""
        tracer = self

        def traced(*args, **kwargs):
            root = fs_root(args, kwargs) if fs_root else None
            with tracer.span(layer, name, fs_root=root) as sp:
                result = fn(*args, **kwargs)
                if after is not None:
                    after(result, args, kwargs, sp)
                return result

        traced.__wrapped__ = fn
        return traced

    def patch(self, owner, attr: str, layer: str, name: str | None = None, **kw) -> None:
        raw = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)
        is_static = isinstance(raw, staticmethod)
        fn = raw.__func__ if is_static else raw
        wrapped = self.wrap(layer, name or attr, fn, **kw)
        setattr(owner, attr, staticmethod(wrapped) if is_static else wrapped)

    def install(self) -> None:
        """Rebind every layer's public functions (see module docstring)."""
        from pyspark.sql import functions as F

        import gfe_db_spark.plans.accession as accession
        import gfe_db_spark.plans.build as build
        import gfe_db_spark.plans.load as load
        import gfe_db_spark.plans.motif as motif
        import gfe_db_spark.plans.queries as queries
        import gfe_db_spark.plans.txtable as txtable
        import gfe_db_spark.sources.imgt as imgt
        import gfe_db_spark.streaming.incremental as incremental

        tracer = self

        def probe(name, fn):
            t0 = time.perf_counter()
            with tracer.span("probe", name) as sp:
                sp.counts.update(fn())
            tracer._charge(sp.phase, t0)
            return sp

        def after_read(df, _a, _k, sp):
            def count():
                row = df.agg(F.count(F.lit(1)).alias("n"), F.count("parse_error").alias("e")).first()
                return {"records": row["n"], "parse_errors": row["e"]}

            sp.counts.update(probe("sources.parse", count).counts)

        def after_build(tables, _a, _k, sp):
            def count():
                return {
                    "feature_rows": tables.all_features.count(),
                    "gfe_rows": tables.gfe_sequences.count(),
                }

            sp.counts.update(probe("build.tables", count).counts)

        def after_load(graph, _a, _k, sp):
            def count():
                rows = {name: df.count() for name, df in graph.items()}
                return {
                    "node_rows": sum(n for k, n in rows.items() if k.startswith("nodes_")),
                    "edge_rows": sum(n for k, n in rows.items() if k.startswith("edges_")),
                }

            sp.counts.update(probe("load.graph", count).counts)

        def after_upsert(touched, args, kwargs, sp):
            n_buckets = kwargs.get("n_buckets", 16)
            sp.counts["touched_buckets"] = sum(len(v) for v in touched.values())
            sp.counts["bucket_slots"] = n_buckets * len(touched)

        orig_assign = accession.AccessionRegistry.assign

        def assign(registry, features, release):
            # counts taken around the commit, outside its own span
            before = probe("accession.before", lambda: {
                "registry_rows": registry.load().count(),
                "presented": features.select("locus", "term", "rank", "sequence").distinct().count(),
            }).counts
            with tracer.span("accession", "assign", fs_root=registry.path) as sp:
                out = orig_assign(registry, features, release)
            after = probe("accession.after", lambda: {
                "registry_rows": registry.load().count(),
                "segments": txtable.txlog_segment_count(registry.spark, registry.path),
            }).counts
            sp.counts.update(
                new_sequences=after["registry_rows"] - before["registry_rows"],
                presented=before["presented"],
                segments=after["segments"],
            )
            return out

        accession.AccessionRegistry.assign = assign

        def graph_root(args, kwargs):
            return kwargs.get("graph_path", args[1] if len(args) > 1 else None)

        self.patch(imgt, "read_imgt_dat", "sources", after=after_read)
        self.patch(incremental, "read_imgt_dat", "sources", after=after_read)
        self.patch(build, "build_release", "build", after=after_build)
        self.patch(incremental, "build_release", "build", after=after_build)
        self.patch(load, "load_release", "load", after=after_load)
        self.patch(incremental, "load_release", "load", after=after_load)
        self.patch(load, "upsert_graph", "txtable", after=after_upsert, fs_root=graph_root)
        self.patch(incremental, "upsert_graph", "txtable", after=after_upsert, fs_root=graph_root)
        self.patch(txtable, "tx_upsert", "txtable")
        self.patch(load, "vacuum_graph", "txtable", fs_root=graph_root)
        self.patch(txtable, "txlog_compact", "accession")
        self.patch(load.GraphTables, "load", "txread")
        self.patch(incremental, "run_incremental", "streaming")
        self.patch(incremental, "validation_snapshot", "streaming")
        self.patch(queries, "node_counts", "validation")
        self.patch(queries, "has_ipd_allele_release_counts", "validation")
        self.patch(queries, "ipd_accession_release_counts", "validation")
        self.patch(queries, "features_of_allele", "motif")
        self.patch(queries, "find", "motif")
        self.patch(motif, "find", "motif")
        self.patch(motif, "run_cypher", "motif")

    # ---- summaries ------------------------------------------------------------

    def self_time(self, sp: Span, children: dict[int, list[Span]]) -> float:
        """Duration minus the union of the intervals of the children on
        the same thread. A span opened on a worker thread runs in
        parallel with its parent: it is not subtracted, and its own self
        time is 0, so layer sums stay within wall-clock time."""
        if not sp.main:
            return 0.0
        ivs = sorted(
            (max(c.t0, sp.t0), min(c.t1, sp.t1)) for c in children.get(sp.sid, []) if c.main
        )
        covered, end = 0.0, sp.t0
        for a, b in ivs:
            a = max(a, end)
            if b > a:
                covered += b - a
                end = b
        return sp.dur - covered

    def dump(self, path: str) -> None:
        children: dict[int, list[Span]] = {}
        for sp in self.spans:
            if sp.parent is not None:
                children.setdefault(sp.parent, []).append(sp)
        rows = [
            {**sp.__dict__, "dur": sp.dur, "self": self.self_time(sp, children)}
            for sp in self.spans
        ]
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump(rows, fh)


# layers with generic numbers; the session layer only has start_s
LAYERS = ("sources", "accession", "build", "load", "txtable", "txread",
          "streaming", "motif", "validation")


def layer_metrics(tracer: Tracer) -> dict[str, float]:
    """Per-layer numbers over the timed window's spans (the session's
    start from set-up)."""
    spans = tracer.spans
    children: dict[int, list[Span]] = {}
    for sp in spans:
        if sp.parent is not None:
            children.setdefault(sp.parent, []).append(sp)
    win = [sp for sp in spans if sp.phase == "window"]
    out: dict[str, float] = {}

    def of(layer, name=None):
        return [s for s in win if s.layer == layer and (name is None or s.name == name)]

    def probes(sp):
        # a span's own probes are named after its layer ("build.tables");
        # the registry's before/after counts are overhead of no layer
        return [
            c for c in children.get(sp.sid, [])
            if c.layer == "probe" and c.name.startswith(sp.layer + ".")
        ]

    def probe_time(sp):
        return sum(c.dur for c in probes(sp))

    def med_ms(xs):
        return statistics.median(xs) * 1e3 if xs else 0.0

    for layer in LAYERS:
        ls = of(layer)
        # a layer's probes do its lazy work: count them as its own
        out[f"{layer}.self_s"] = sum(tracer.self_time(s, children) + probe_time(s) for s in ls)
        for k in ("jobs", "stages", "tasks"):
            out[f"{layer}.spark_{k}"] = sum(getattr(s, k) for s in ls) + sum(
                getattr(c, k) for s in ls for c in probes(s)
            )
    out["session.start_s"] = sum(s.dur for s in spans if s.layer == "session")

    reads = of("sources", "read_imgt_dat")
    parse_s = sum(probe_time(s) for s in reads)
    records = sum(s.counts.get("records", 0) for s in reads)
    out["sources.parse_s"] = parse_s
    out["sources.records_per_s"] = records / parse_s if parse_s else 0.0
    out["sources.parse_errors"] = sum(s.counts.get("parse_errors", 0) for s in reads)

    assigns = of("accession", "assign")
    new = sum(s.counts.get("new_sequences", 0) for s in assigns)
    presented = sum(s.counts.get("presented", 0) for s in assigns)
    out["accession.commit_s"] = sum(s.dur for s in assigns)
    out["accession.new_sequences"] = new
    out["accession.new_ratio"] = new / presented if presented else 0.0
    out["accession.segments"] = assigns[-1].counts.get("segments", 0) if assigns else 0
    out["accession.compactions"] = len(of("accession", "txlog_compact"))
    out["accession.bytes_written"] = sum(s.counts.get("bytes_written", 0) for s in assigns)

    builds = of("build", "build_release")
    out["build.tables_s"] = sum(probe_time(s) for s in builds)
    out["build.feature_rows"] = sum(s.counts.get("feature_rows", 0) for s in builds)
    loads = of("load", "load_release")
    out["load.graph_s"] = sum(probe_time(s) for s in loads)
    out["load.node_rows"] = sum(s.counts.get("node_rows", 0) for s in loads)
    out["load.edge_rows"] = sum(s.counts.get("edge_rows", 0) for s in loads)

    ups = of("txtable", "upsert_graph")
    touched = sum(s.counts.get("touched_buckets", 0) for s in ups)
    slots = sum(s.counts.get("bucket_slots", 0) for s in ups)
    out["txtable.upsert_s"] = sum(s.dur for s in ups)
    out["txtable.touched_buckets"] = touched
    out["txtable.touched_ratio"] = touched / slots if slots else 0.0
    out["txtable.bytes_written"] = sum(s.counts.get("bytes_written", 0) for s in ups)
    out["txtable.files_written"] = sum(s.counts.get("files_written", 0) for s in ups)
    vacs = of("txtable", "vacuum_graph")
    out["txtable.vacuum_s"] = sum(s.dur for s in vacs)
    out["txtable.files_removed"] = sum(s.counts.get("files_removed", 0) for s in vacs)
    out["txtable.resolve_ms"] = med_ms([s.dur for s in of("txread", "load")])

    out["streaming.validate_s"] = sum(s.dur for s in of("streaming", "validation_snapshot"))
    out["streaming.orchestrate_self_s"] = sum(
        tracer.self_time(s, children) for s in of("streaming", "run_incremental")
    )
    out["motif.compile_ms"] = med_ms(
        [s.dur for s in win if s.layer == "motif" and s.name != "exec"]
    )
    out["motif.exec_ms"] = med_ms([s.dur for s in of("motif", "exec")])
    out["validation.exec_ms"] = med_ms([s.dur for s in of("validation", "exec")])

    # totals over the layers (with their own probes) and jobs run outside
    # any span; the registry's before/after count probes are left out
    ungrouped = tracer.ungrouped_jobs.get("window", set())
    out["spark.jobs"] = sum(out[f"{layer}.spark_jobs"] for layer in LAYERS) + len(ungrouped)
    out["spark.stages"] = sum(out[f"{layer}.spark_stages"] for layer in LAYERS)
    out["spark.tasks"] = sum(out[f"{layer}.spark_tasks"] for layer in LAYERS)
    out["spark.failed_tasks"] = sum(s.failed_tasks for s in win)
    out["trace.spans"] = len(win)
    return out
