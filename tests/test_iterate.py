"""The iteration driver (operators/iterate.py): its stop rules, its round
limit, its job labels, the reliable checkpoint, and that it is the only
place in the package that checkpoints."""

from __future__ import annotations

import ast
import os
from contextlib import contextmanager
from pathlib import Path

import pytest
from pyspark.sql import functions as F

import hbase_hadoop_flightsearch_spark
from hbase_hadoop_flightsearch_spark.operators.iterate import (
    EMPTY,
    UNCHANGED,
    iterate,
    materialize,
)

from .plan_utils import lambda_bodies

_LABEL = "spark.job.description"


def _ids(df):
    return sorted(r.id for r in df.collect())


def test_fixed_rounds_run_exactly_n(spark):
    calls = []

    def step(df):
        calls.append(1)
        return df.select((F.col("id") + 1).alias("id"))

    loop = iterate("toy", spark.range(3), step, 4)
    assert len(calls) == 4
    assert (loop.rounds, loop.converged) == (4, True)
    assert _ids(loop.state) == [4, 5, 6]


def test_stop_fires_on_unchanged_count(spark):
    # round 1 keeps the 5 even ids of 10; round 2 keeps them all -> stop
    loop = iterate(
        "toy",
        spark.range(10),
        lambda df: df.filter(F.col("id") % 2 == 0),
        10,
        until=UNCHANGED,
    )
    assert (loop.rounds, loop.converged) == (2, True)
    assert _ids(loop.state) == [0, 2, 4, 6, 8]


def test_stop_fires_on_zero_count(spark):
    # {0,1,2} -> {0,1} -> {0} -> {}
    loop = iterate(
        "toy",
        spark.range(3),
        lambda df: df.filter(F.col("id") > 0).select((F.col("id") - 1).alias("id")),
        10,
        until=EMPTY,
    )
    assert (loop.rounds, loop.converged) == (3, True)
    assert _ids(loop.state) == []


def test_round_limit_raises_naming_the_operator(spark):
    with pytest.raises(RuntimeError, match="toy loop did not converge in 2 rounds"):
        iterate("toy loop", spark.range(3), lambda df: df, 2, until=lambda df: False)


def test_round_limit_returns_unconverged_when_not_strict(spark):
    loop = iterate(
        "toy", spark.range(3), lambda df: df, 2, until=lambda df: False, strict=False
    )
    assert (loop.rounds, loop.converged) == (2, False)
    assert _ids(loop.state) == [0, 1, 2]


def test_rounds_are_labelled_and_the_caller_label_restored(spark):
    sc = spark.sparkContext
    seen = []

    def step(df):
        seen.append(sc.getLocalProperty(_LABEL))
        return df

    sc.setLocalProperty(_LABEL, "caller")
    try:
        iterate("toy", spark.range(1), step, 2)
        assert seen == ["toy round 1", "toy round 2"]
        assert sc.getLocalProperty(_LABEL) == "caller"
    finally:
        sc.setLocalProperty(_LABEL, None)


@contextmanager
def _checkpoint_dir(spark, path):
    sc = spark.sparkContext
    sc.setCheckpointDir(str(path))
    try:
        yield
    finally:
        sc._jsc.sc().setCheckpointDir(None)  # back to localCheckpoint
        assert not sc.getCheckpointDir()


def _files_under(path):
    return [f for _, _, fs in os.walk(path) for f in fs]


def test_reliable_checkpoint_when_a_dir_is_set(spark, tmp_path):
    def step(df):
        return df.select((F.col("id") * 2).alias("id"))

    local = _ids(iterate("toy", spark.range(5), step, 3).state)
    with _checkpoint_dir(spark, tmp_path):
        df, rows = materialize(spark.range(5))
        reliable = _ids(iterate("toy", spark.range(5), step, 3).state)
    assert rows == 5 and _ids(df) == [0, 1, 2, 3, 4]
    assert reliable == local == [0, 8, 16, 24, 32]
    assert _files_under(tmp_path)


_PORTED = [
    "dedup_cc_clusters",
    "graph_pagerank_suppliers",
    "graph_bfs_distances",
    "graph_kcore",
    "graph_label_propagation",
    "graph_hits_authorities",
    "text_textrank_keywords",
    "sample_coreset_kcenter",
]


@pytest.mark.parametrize("name", _PORTED)
def test_ported_loops_checkpoint_reliably_with_the_same_rows(
    spark, sf_smoke, tmp_path, name
):
    from hbase_hadoop_flightsearch_spark.plans.registry import load_all

    fn = load_all()[name].fn
    local = sorted(map(tuple, fn(spark, sf_smoke).collect()))
    with _checkpoint_dir(spark, tmp_path):
        reliable = sorted(map(tuple, fn(spark, sf_smoke).collect()))
    assert reliable == local and local
    assert _files_under(tmp_path)


def test_kcore_and_bfs_run_one_action_a_round_without_count(spark, monkeypatch):
    """Every round's row count comes from the checkpoint's own action, so
    neither loop needs DataFrame.count."""
    from hbase_hadoop_flightsearch_spark.operators.graph import (
        bfs_distances,
        kcore_peel,
    )

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (3, 4), (4, 5), (5, 6)], ["a", "b"]
    )

    def boom(self):
        raise AssertionError("DataFrame.count called")

    monkeypatch.setattr(type(edges), "count", boom)
    core, _, rounds, converged = kcore_peel(edges, 2)
    assert (rounds, converged) == (3, True)
    assert {r.v for r in core.collect()} == {1, 2, 3}
    got = {r.v: r.dist for r in bfs_distances(edges, 6).collect()}
    assert got == {6: 0, 5: 1, 4: 2, 3: 3, 1: 4, 2: 4}


def test_one_function_checkpoints():
    """Every localCheckpoint/checkpoint call in the package sits in
    iterate.materialize."""
    root = Path(hbase_hadoop_flightsearch_spark.__file__).parent
    calls, in_materialize = 0, 0
    for path in root.rglob("*.py"):
        tree = ast.parse(path.read_text())
        for node in ast.walk(tree):
            if isinstance(node, ast.FunctionDef) and node.name == "materialize":
                in_materialize += sum(_checkpoint_calls(node))
        calls += sum(_checkpoint_calls(tree))
    assert calls == in_materialize == 2


def _checkpoint_calls(tree):
    for node in ast.walk(tree):
        yield (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr in ("localCheckpoint", "checkpoint")
        )


def _ngram_reference(toks, n):
    return [tuple(toks[i : i + n]) for i in range(len(toks) - n + 1)]


def _ngram_set_reference(toks, n):
    return list(dict.fromkeys(" ".join(g) for g in _ngram_reference(toks, n)))


def _shingle_reference(text):
    return _ngram_set_reference(text.split(" "), 3)


def test_shingles_split_once_and_match_a_reference(spark):
    import random

    from hbase_hadoop_flightsearch_spark.operators.dedup import (
        ngram_set,
        shingles_from,
        word_ngrams,
    )

    rng = random.Random(5)
    long_doc = " ".join(rng.choice("abcdefghij") for _ in range(1000))
    texts = {
        1: "a b",
        2: "a b c",
        3: "a b c d",
        4: "x y z x y z x y",
        5: long_doc,
    }
    docs = spark.createDataFrame(list(texts.items()), "doc_id long, text string")
    sh = shingles_from(spark, docs)
    got = {r.doc_id: r.shingles for r in sh.collect()}
    want = {d: _shingle_reference(t) for d, t in texts.items() if len(t.split(" ")) >= 3}
    assert got == want
    assert got[4] == ["x y z", "y z x", "z x y"]
    bodies = list(lambda_bodies(sh._jdf.queryExecution().optimizedPlan().toString()))
    assert bodies and not any("split(" in b for b in bodies)

    # the n-gram primitive itself, on token arrays of 0, 1, n-1, n and
    # 1000 tokens: in-order n-grams, never an error below n tokens
    long_toks = long_doc.split(" ")
    for n in (2, 3, 5):
        arrays = [[], ["a"], long_toks[: n - 1], long_toks[:n], long_toks]
        toks = spark.createDataFrame(list(enumerate(arrays)), "i int, t array<string>")
        grams = toks.select(
            "i", word_ngrams("t", n).alias("g"), ngram_set("t", n).alias("s")
        )
        fields = grams.schema["g"].dataType.elementType.fieldNames()
        assert fields == [f"w{i}" for i in range(1, n + 1)]
        for r in grams.collect():
            assert [tuple(g) for g in r.g] == _ngram_reference(arrays[r.i], n)
            assert r.s == _ngram_set_reference(arrays[r.i], n)
