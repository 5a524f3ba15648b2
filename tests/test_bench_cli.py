"""bench.py's command line and query registry, checked without Spark."""

import importlib.util
import os
import subprocess
import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parents[1]
DOC_QUERIES = ["minhash_lsh", "simhash_pairs", "ann_topk", "ann_lsh_banded"]


@pytest.fixture(scope="module")
def bench():
    spec = importlib.util.spec_from_file_location("bench", REPO / "bench.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_import_has_no_side_effects():
    # the GeoLite2 fixture is written, and Spark started, only by a run
    code = (
        "import __spark_entry__ as e\n"
        "def boom(): raise AssertionError('GeoLite2 fixture resolved at import')\n"
        "e._geolite_fixture_dir = boom\n"
        "import bench\n"
        "from pyspark import SparkContext\n"
        "assert SparkContext._active_spark_context is None\n"
    )
    subprocess.run([sys.executable, "-c", code], cwd=REPO, check=True, timeout=300)


def test_unknown_query_fails_listing_valid_names(bench, capsys):
    with pytest.raises(SystemExit) as exc:
        bench.parse_args(["--queries", "scalar_native,no_such_query"])
    assert exc.value.code != 0
    err = capsys.readouterr().err
    assert "no_such_query" in err
    assert all(name in err for name in bench.QUERIES)


def test_queries_subset_parses(bench):
    args = bench.parse_args(["--queries", ",".join(DOC_QUERIES), "--plans", "p"])
    assert args.queries == DOC_QUERIES and args.plans == "p"
    assert bench.parse_args([]).queries == list(bench.QUERIES)


def test_declared_inputs_are_input_builders(bench):
    assert len(bench.QUERIES) == 12
    for name, q in bench.QUERIES.items():
        assert q.inputs and set(q.inputs) <= set(bench.INPUTS), name
    # the document/embedding operators read neither lineitem nor the corpus
    doc_inputs = {i for name in DOC_QUERIES for i in bench.QUERIES[name].inputs}
    assert doc_inputs == {"docs", "emb"}


def test_pipeline_checkpoint_dirs_removed_at_exit(tmp_path):
    # each pipeline_e2e rep writes a fresh checkpoint dir; none may
    # outlive the process (run_pipeline is faked: no Spark)
    code = (
        "import os, sys, types\n"
        "import bench\n"
        "def fake(spark, corpus, ckpt):\n"
        "    open(os.path.join(ckpt, 'part'), 'w').write('x')\n"
        "    print(ckpt)\n"
        "    return {'metrics': {}, 'clusters': None}\n"
        "bench.run_pipeline = fake\n"
        "corpus = types.SimpleNamespace(sparkSession=None)\n"
        "rep = bench.pipeline_e2e({'corpus': corpus}, {}, {})\n"
        "rep(); rep()\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", code], cwd=REPO, check=True, timeout=300,
        capture_output=True, text=True, env={**os.environ, "TMPDIR": str(tmp_path)},
    ).stdout.split()
    assert len(out) == 2 and all(p.startswith(str(tmp_path)) for p in out)
    assert list(tmp_path.iterdir()) == []


def test_fresh_cache_releases_then_recaches_inputs(bench):
    # before each rep: every cached frame released first, then only the
    # query's own inputs cached and counted again (fakes: no Spark)
    calls = []

    class Frame:
        def __init__(self, name):
            self.name = name

        def cache(self):
            calls.append(("cache", self.name))
            return self

        def count(self):
            calls.append(("count", self.name))
            return 0

    class Catalog:
        def clearCache(self):
            calls.append(("clearCache",))

    class Spark:
        catalog = Catalog()

    inp = {"docs": Frame("docs"), "emb": Frame("emb"), "ips": Frame("ips")}
    bench.fresh_cache(Spark(), inp, ("docs", "emb"))
    assert calls == [
        ("clearCache",), ("cache", "docs"), ("count", "docs"), ("cache", "emb"), ("count", "emb"),
    ]
