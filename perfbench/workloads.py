"""The benchmark's workloads. Each is a closed loop driven by one client
thread. A workload function does its set-up and returns its timed window
as a callable, which the runner calls once, or twice in a traced run (an
untraced window for the overhead baseline, then the traced one). Every
operation and correctness check is counted in one `Outcome`.

- ``release_stream``: the write path. Setup generates two releases and
  ingests the first cold (the pre-loaded history, which also warms the
  JVM); each window copies that history and ingests the second release
  into the copy through `run_incremental`, as the cron orchestrator does.
- ``graph_query``: the read path. Setup builds two releases and commits
  them as one multi-release graph; the timed window sends requests that
  each resolve the latest committed snapshot with `GraphTables.load` and
  run one query.
"""

from __future__ import annotations

import json
import os
import random
import shutil
import time
import traceback
from collections.abc import Callable
from dataclasses import dataclass, field

from perfbench import gen, oracle, procs

# Alleles in the first release of both workloads; the second adds 3%. On
# a 4-core host a release's ingest cost is dominated by per-job fixed
# costs (300 and 1000 alleles per release differ by about 10% in ingest
# time) and each run must fit a tight time budget.
ALLELES = 1000
# graph_query sends at least this many requests, however long they take
MIN_REQUESTS = 4
# release_stream: the timed window is exactly one ingest (a fixed amount
# of work, so a faster ingest cannot change what is measured). With the
# package's retention defaults (vacuum once 8 graph manifests exist) the
# vacuum would need 7 pre-loaded commits, about 7 ingests of set-up per
# run; instead it fires once 2 exist, keeps 1 and has no grace period,
# so the window's ingest (the second commit) runs a vacuum that deletes
# the superseded manifest, as a release arriving after the grace period
# would.
VACUUM = {"vacuum_every": 2, "keep_graph_manifests": 1, "vacuum_grace_seconds": 0.0}
# graph_query: request kinds in a fixed rotation, so every run sends the
# same mix (mostly lookups); the seed picks alleles, GFEs and aggregates.
# BENCHMARK.json's run_seconds lets a window hold about one rotation.
MIX = ("lookup", "validation", "lookup", "cypher_doc", "lookup",
       "cypher_2hop", "lookup", "validation", "lookup", "lookup")
DOC_QUERY = (
    "MATCH (:WHO {{name:'{name}'}})-[]-(:GFE)-[]-(f:Feature) "
    "RETURN f.term, f.rank ORDER BY f.term, f.rank"
)
SHARED_QUERY = (
    "MATCH (a:GFE {{name:'{gfe}'}})-[:HAS_FEATURE]->(f:Feature)<-[:HAS_FEATURE]-(b:GFE) "
    "RETURN b.name AS other, count(f) AS shared ORDER BY other"
)


@dataclass
class Samples:
    """The operations of one timed window."""

    op_ms: list[float] = field(default_factory=list)
    op_cpu_ms: list[float] = field(default_factory=list)  # process-tree CPU time
    kinds: list[str] = field(default_factory=list)
    window_s: float = 0.0
    work_units: int = 0

    def add(self, kind: str, dt: float, dc: float) -> None:
        self.op_ms.append(dt * 1e3)
        self.op_cpu_ms.append(dc * 1e3)
        self.kinds.append(kind)


@dataclass
class Outcome:
    """Failure accounting over the whole run, and what stored bytes are
    measured against."""

    input_bytes: int = 0
    stored_dirs: list[str] = field(default_factory=list)
    attempted: int = 0
    failed: int = 0
    errors: list[str] = field(default_factory=list)

    def check(self, what: str, ok: bool, detail: str = "") -> None:
        """Count one correctness check; a mismatch is a failed operation."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.errors.append(f"{what}: {detail}"[:500])

    def run(self, what: str, fn: Callable):
        """Run one operation; an exception is recorded with its
        traceback and counted as a failed operation, and None returned."""
        try:
            return fn()
        except Exception:
            self.attempted += 1
            self.failed += 1
            self.errors.append(f"{what}: {traceback.format_exc()}"[-2000:])
            return None


def _dir_bytes(path: str) -> int:
    total = 0
    for d, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(d, f))
    return total


def _check_graph(out: Outcome, spark, graph_path: str, exp: oracle.Expected, what: str) -> None:
    """Reopen the graph and compare GFE names, node counts and both
    release histograms with the oracle."""
    from gfe_db_spark.plans import queries
    from gfe_db_spark.plans.load import GraphTables

    g = GraphTables.load(spark, graph_path)
    names = {
        r["dst"]: (r["src"], tuple(r["releases"]))
        for r in g.edges_has_ipd_allele.select("src", "dst", "releases").collect()
    }
    want = {
        hla: (gfe, tuple(sorted(exp.ipd_releases[(gfe, hla)]))) for hla, gfe in exp.gfe_of.items()
    }
    bad = [h for h in want if names.get(h) != want[h]]
    out.check(f"{what} GFE names", not bad and len(names) == len(want),
              f"{len(bad)} of {len(want)} differ, e.g. {bad[:1]} got {[names.get(h) for h in bad[:1]]}"
              f" want {[want[h] for h in bad[:1]]}; {len(names)} edges")
    counts = {r["node"]: r["count"] for r in queries.node_counts(g).collect()}
    out.check(f"{what} node counts", counts == exp.node_counts(),
              f"got {counts} want {exp.node_counts()}")
    a8 = {r["release_version"]: r["count"] for r in queries.has_ipd_allele_release_counts(g).collect()}
    out.check(f"{what} release histogram", a8 == exp.release_histogram(),
              f"got {a8} want {exp.release_histogram()}")
    a9 = {r["release"]: r["count"] for r in queries.ipd_accession_release_counts(g).collect()}
    out.check(f"{what} accession histogram", a9 == exp.accession_histogram(),
              f"got {a9} want {exp.accession_histogram()}")


def _ingest(spark, data_dir: str, root: str, releases: list[str], **kw):
    from gfe_db_spark.streaming import incremental

    return incremental.run_incremental(
        spark,
        data_dir,
        releases,
        state_path=os.path.join(root, "state.json"),
        registry_path=os.path.join(root, "registry"),
        graph_path=os.path.join(root, "graph"),
        **kw,
    )


def release_stream(ctx, out: Outcome) -> Callable[[int], Samples]:
    hist, new = rels = gen.generate(ctx.seed, ALLELES)
    data = os.path.join(ctx.work, "data")
    paths = gen.write_releases(rels, data)
    out.input_bytes = sum(os.path.getsize(p) for p in paths.values())
    exp = oracle.replay(rels)  # the graph after the window's ingest
    history = os.path.join(ctx.work, "history")

    # pre-loaded history: the first release bootstraps registry and graph
    res = _ingest(ctx.spark, data, history, [hist.release], **VACUUM)
    out.check("history ingest", res.processed == [hist.release], f"processed {res.processed}")

    def window(n: int) -> Samples:
        root = os.path.join(ctx.work, f"stream-{n}")
        shutil.copytree(history, root)
        s = Samples()
        ctx.start_window()
        t0, c0 = time.perf_counter(), procs.tree_cpu_s()
        res = out.run(f"ingest {new.release}", lambda: _ingest(
            ctx.spark, data, root, [hist.release, new.release], **VACUUM))
        dt, dc = time.perf_counter() - t0, procs.tree_cpu_s() - c0
        s.window_s = dt
        ctx.end_window()
        if res is not None:
            s.add("ingest", dt, dc)
            s.work_units = len(new.alleles)
            post = res.validations[0]["post"] if res.validations else None
            out.check(f"ingest {new.release}",
                      res.processed == [new.release] and post == exp.node_counts(),
                      f"processed {res.processed} post {post} want {exp.node_counts()}")
        _check_graph(out, ctx.spark, os.path.join(root, "graph"), exp, f"stream {n}")
        with open(os.path.join(root, "state.json")) as fh:
            state = json.load(fh)["releases"]
        want = [hist.release, new.release]
        out.check(f"stream {n} watermark", state == want, f"state {state} want {want}")
        out.stored_dirs = [os.path.join(root, "graph"), os.path.join(root, "registry")]
        return s

    return window


def _bulk_load(spark, rels, paths: dict[str, str], registry_path: str, graph_path: str) -> None:
    """Build every release against one registry, merge the releases'
    graphs in memory and commit them to disk in one graph commit."""
    from gfe_db_spark.plans import build, load
    from gfe_db_spark.plans.accession import AccessionRegistry
    from gfe_db_spark.sources import imgt

    registry = AccessionRegistry(spark, registry_path)
    graph = None
    for rel in rels:
        alleles = imgt.read_imgt_dat(spark, paths[rel.release])
        tables = build.build_release(spark, alleles, rel.release, registry)
        graph = load.load_release(spark, tables, rel.release, existing=graph)
    load.upsert_graph(graph, graph_path)


class _Requests:
    """The graph_query request plan for one seed."""

    def __init__(self, seed: int, exp: oracle.Expected):
        self.rng = random.Random(seed ^ 0x5EED)
        self.exp = exp
        names = sorted(exp.gfe_of)
        self.rng.shuffle(names)  # Zipf rank order of alleles
        self.names = names
        self.cum = gen.zipf_cum(len(names))
        self.aggs = ["node_counts", "has_ipd_allele_release_counts", "ipd_accession_release_counts"]

    def allele(self) -> str:
        return self.rng.choices(self.names, cum_weights=self.cum, k=1)[0]

    def make(self, kind: str):
        """(layer, query builder, expected rows normalizer, expected)."""
        from gfe_db_spark.plans import motif, queries

        exp = self.exp
        if kind == "lookup":
            name = self.allele()
            return ("motif", lambda g: queries.features_of_allele(g, name),
                    lambda rows: [(r["term"], r["rank"]) for r in rows],
                    exp.features_of_allele(name))
        if kind == "cypher_doc":
            name = self.allele()
            return ("motif", lambda g: motif.run_cypher(g, DOC_QUERY.format(name=name)),
                    lambda rows: [(r["f_term"], r["f_rank"]) for r in rows],
                    sorted((t, str(r)) for t, r in exp.features_of_allele(name)))
        if kind == "cypher_2hop":
            gfe = exp.gfe_of[self.allele()]
            return ("motif", lambda g: motif.run_cypher(g, SHARED_QUERY.format(gfe=gfe)),
                    lambda rows: dict((r["other"], r["shared"]) for r in rows),
                    exp.shared_features(gfe))
        agg = self.aggs[self.rng.randrange(3)]
        want = {
            "node_counts": exp.node_counts,
            "has_ipd_allele_release_counts": exp.release_histogram,
            "ipd_accession_release_counts": exp.accession_histogram,
        }[agg]()
        return ("validation", lambda g: getattr(queries, agg)(g),
                lambda rows: {r[0]: r[1] for r in rows}, want)


def graph_query(ctx, out: Outcome) -> Callable[[int], Samples]:
    from gfe_db_spark.plans.load import GraphTables

    rels = gen.generate(ctx.seed, ALLELES)
    paths = gen.write_releases(rels, os.path.join(ctx.work, "data"))
    out.input_bytes = sum(os.path.getsize(p) for p in paths.values())
    exp = oracle.replay(rels)
    graph_path = os.path.join(ctx.work, "graph")
    registry_path = os.path.join(ctx.work, "registry")
    _bulk_load(ctx.spark, rels, paths, registry_path, graph_path)
    out.stored_dirs = [graph_path, registry_path]

    def request(plan: _Requests, kind: str, s: Samples) -> None:
        layer, build, norm, want = plan.make(kind)
        t0, c0 = time.perf_counter(), procs.tree_cpu_s()

        def call():
            g = GraphTables.load(ctx.spark, graph_path)
            df = build(g)
            with ctx.span(layer, "exec"):
                return df.collect()

        rows = out.run(f"{kind} request", call)
        dt, dc = time.perf_counter() - t0, procs.tree_cpu_s() - c0
        if rows is None:
            return
        got = norm(rows)
        out.check(f"{kind} result", got == want, f"got {str(got)[:200]} want {str(want)[:200]}")
        s.add(kind, dt, dc)

    # no warm-up: the window's first requests pay the JVM's first-use
    # costs, which the median over a whole rotation of the mix absorbs
    def window(_n: int) -> Samples:
        # every response is checked: the validation requests cover node
        # counts and both histograms, the two-hop query the names of the
        # GFEs that share features
        plan = _Requests(ctx.seed, exp)  # the same requests in every window
        s = Samples()
        ctx.start_window()
        t_start = time.perf_counter()
        i = 0
        while len(s.op_ms) < MIN_REQUESTS or time.perf_counter() - t_start < ctx.seconds:
            request(plan, MIX[i % len(MIX)], s)
            i += 1
            if i > 10 * MIN_REQUESTS and not s.op_ms:
                break  # every request fails: stop instead of spinning
        s.window_s = time.perf_counter() - t_start
        ctx.end_window()
        s.work_units = len(s.op_ms)
        return s

    return window


WORKLOADS = {"release_stream": release_stream, "graph_query": graph_query}
