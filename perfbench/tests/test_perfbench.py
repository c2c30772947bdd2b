"""The benchmark's own tests: run with ``python3 -m pytest perfbench/tests -q``
from the repository root."""

from __future__ import annotations

import filecmp
import json
import os
import subprocess
import sys
import tempfile

import pytest

from perfbench import gen, oracle
from perfbench.trace import Span, Tracer

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
TINY = 60  # alleles in the first release


def test_generator_is_byte_identical_for_a_seed(tmp_path):
    a = gen.write_releases(gen.generate(7, TINY), str(tmp_path / "a"))
    b = gen.write_releases(gen.generate(7, TINY), str(tmp_path / "b"))
    c = gen.write_releases(gen.generate(8, TINY), str(tmp_path / "c"))
    assert list(a) == list(b) == list(c)
    for rel in a:
        assert filecmp.cmp(a[rel], b[rel], shallow=False)
        assert not filecmp.cmp(a[rel], c[rel], shallow=False)


def test_generator_covers_every_record_kind():
    rels = gen.generate(3, 2000)
    kinds = {a.kind for a in rels[-1].alleles}
    assert kinds == {gen.FULL, gen.PARTIAL, gen.NOCDS, gen.SKIP, gen.SHORT, gen.MALFORMED}
    assert {a.locus for a in rels[-1].alleles} == {locus for locus, _w, _e in gen.LOCI}
    # release i+1 restates release i
    assert rels[1].alleles[: len(rels[0].alleles)] == rels[0].alleles


def test_oracle_numbering_offsets_by_prior_maximum():
    a1 = gen.Allele("HLA1", "HLA-A*101:001", "HLA-A", gen.PARTIAL, [("exon", 2, "GGGGGG")], "M")
    a2 = gen.Allele("HLA2", "HLA-A*101:002", "HLA-A", gen.PARTIAL, [("exon", 2, "AAAAAA")], "M")
    a3 = gen.Allele("HLA3", "HLA-A*101:003", "HLA-A", gen.PARTIAL, [("exon", 2, "CCCCCC")], "M")
    exp = oracle.replay([gen.Release("3400", [a1]), gen.Release("3410", [a1, a2, a3])])
    # first release: GGGGGG -> 1; second: new ones sorted (AAAAAA, CCCCCC) -> 2, 3
    assert exp.gfe_of == {a1.hla_name: "HLA-Aw1", a2.hla_name: "HLA-Aw2", a3.hla_name: "HLA-Aw3"}
    assert exp.release_histogram() == {3400: 1, 3410: 3}
    assert exp.accession_histogram() == {"3.40.0": 1, "3.41.0": 2}


def test_self_time_subtracts_the_union_of_same_thread_children():
    tr = Tracer.__new__(Tracer)
    parent = Span(1, None, "build", "b", "window", 0.0, 10.0)
    kids = [
        Span(2, 1, "accession", "a", "window", 1.0, 4.0),
        Span(3, 1, "accession", "a", "window", 3.0, 5.0),  # overlaps the first
        Span(4, 1, "txtable", "t", "window", 6.0, 9.0, main=False),  # worker thread
    ]
    children = {1: kids}
    assert tr.self_time(parent, children) == pytest.approx(6.0)
    assert tr.self_time(kids[2], children) == 0.0


def _tree(root: str) -> dict[str, tuple[int, int]]:
    out = {}
    for d, dirs, files in os.walk(root):
        dirs[:] = [x for x in dirs if x not in (".git", ".perfbench_run", "__pycache__",
                                                ".pytest_cache", ".hypothesis")]
        for f in files:
            p = os.path.join(d, f)
            st = os.stat(p)
            out[p] = (st.st_size, st.st_mtime_ns)
    return out


def test_harness_writes_only_inside_its_run_directory():
    """A traced run on tiny inputs leaves the repository (BENCH_TREND.md
    included) and the system temp dir untouched, and is correct."""
    sys_tmp = tempfile.gettempdir()
    tmp_before = set(os.listdir(sys_tmp))
    tree_before = _tree(ROOT)
    code = (
        "import sys; sys.path.insert(0, '.');"
        "from perfbench import workloads, run;"
        "workloads.ALLELES = 60;"
        "workloads.MIN_REQUESTS = 3;"
        "sys.exit(run.main(['--workload', 'graph_query', '--seed', '5', '--seconds', '1', '--trace', '1']))"
    )
    p = subprocess.run([sys.executable, "-c", code], cwd=ROOT, capture_output=True, text=True,
                       timeout=600)
    assert p.returncode == 0, p.stderr[-3000:]
    lines = p.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    assert result["correct"] and result["failed"] == 0, p.stderr[-3000:]
    assert result["metrics"]["motif.exec_ms"]["value"] > 0
    # one line per metric, with its unit and sample count, before the result
    assert len(lines) == len(result["metrics"]) + 1
    assert all("(samples: " in line for line in lines[:-1])
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        declared = {m["name"]: m["unit"] for m in json.load(fh)["per_layer"]}
    assert {k: v["unit"] for k, v in result["metrics"].items()} == declared
    assert _tree(ROOT) == tree_before
    spark_litter = ("spark-", "blockmgr-", "gfe_db_spark_pkg_", "hsperfdata")
    new = [n for n in set(os.listdir(sys_tmp)) - tmp_before if n.startswith(spark_litter)]
    assert not new, new


def test_harness_refuses_a_tree_without_the_package(tmp_path):
    """Only BENCHMARK.json and the benchmark's files: exit non-zero, no result."""
    import shutil

    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "graph_query",
                        "--seed", "1", "--seconds", "1", "--trace", "0"],
                       cwd=tmp_path, capture_output=True, text=True, timeout=180)
    assert p.returncode != 0
    assert p.stdout.strip() == ""


# in-process session last: the harness tests above watch the temp dir
@pytest.fixture(scope="module")
def spark():
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "1g")
    from gfe_db_spark.session import get_spark

    s = get_spark("perfbench-tests", cpus="2")
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


def test_oracle_agrees_with_the_package_on_a_tiny_stream(spark, tmp_path):
    from gfe_db_spark.plans import queries
    from gfe_db_spark.plans.load import GraphTables
    from perfbench import workloads

    rels = gen.generate(11, 200, releases=3)
    gen.write_releases(rels, str(tmp_path / "data"))
    res = workloads._ingest(spark, str(tmp_path / "data"), str(tmp_path), [r.release for r in rels])
    assert res.processed == [r.release for r in rels]
    exp = oracle.replay(rels)
    out = workloads.Outcome()
    workloads._check_graph(out, spark, str(tmp_path / "graph"), exp, "tiny")
    assert out.failed == 0, out.errors
    g = GraphTables.load(spark, str(tmp_path / "graph"))
    for name in sorted(exp.gfe_of)[:3]:
        rows = queries.features_of_allele(g, name).collect()
        assert [(r["term"], r["rank"]) for r in rows] == exp.features_of_allele(name)
