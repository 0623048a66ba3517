"""One lineage-cut primitive: ``session.cut`` is the only code in
adtl_spark that calls ``localCheckpoint``/``checkpoint``, so
spark.adtl.reliableCheckpoint holds at every cut point."""

from __future__ import annotations

import ast
import inspect
import pathlib
import shutil

import pytest
from pyspark.sql import functions as F

import adtl_spark
from adtl_spark.operators import dedup as D
from adtl_spark.operators.feedback import bradley_terry
from adtl_spark.operators.retrieval import (
    append_to_search_index,
    best_snippet,
    mmr_topk,
    write_search_index,
)
from adtl_spark.operators.text import schedule_frontier
from adtl_spark.operators.tokenizer import unigram_train
from adtl_spark.session import RELIABLE_CKPT_CONF

from test_round9 import DOCS, QUERIES, VECS

CUT_METHODS = {"localCheckpoint", "checkpoint"}


def test_only_session_calls_checkpoint():
    """An AST scan: no attribute call named localCheckpoint/checkpoint
    anywhere in adtl_spark outside session.py (comments and docstrings
    are not calls, so they never trip it)."""
    root = pathlib.Path(adtl_spark.__file__).parent
    found = []
    for path in sorted(root.rglob("*.py")):
        if path == root / "session.py":
            continue
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr in CUT_METHODS
            ):
                found.append(f"{path.relative_to(root)}:{node.lineno}")
    assert not found, f"lineage cuts bypassing session.cut: {found}"
    assert "checkpoint_dir" not in inspect.signature(D.cluster_pairs).parameters


def _rows(df):
    """Order-free, float-stable rows of a collected frame."""
    return sorted(
        tuple(round(v, 9) if isinstance(v, float) else v for v in r)
        for r in df.collect()
    )


def _docs(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string, source string")


def _queries(spark):
    return spark.createDataFrame(QUERIES, "query_id long, query string")


def _simhash_components(spark, tmp):
    near = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog")] * 2
        + [(3, "the quick brown fox leaps over the lazy dog")],
        "doc_id long, text string",
    )
    return D.simhash_components(near)


def _bradley_terry(spark, tmp):
    games = spark.createDataFrame(
        [(2, 1), (2, 1), (1, 2), (1, 0), (0, 1), (2, 0)],
        "winner long, loser long",
    )
    return bradley_terry(games, iters=1)


def _mmr_topk(spark, tmp):
    emb = spark.createDataFrame(
        list(VECS.items()), "vec_id long, embedding array<double>"
    )
    return mmr_topk(emb, emb.filter(F.col("vec_id") == 1), k=2, pool=3)


def _best_snippet(spark, tmp):
    return best_snippet(_docs(spark), _queries(spark), w=5, n_docs=2)


def _append_to_search_index(spark, tmp):
    """Append to a copy of one base index; the appended postings are
    the result (the base write makes no cut)."""
    docs = _docs(spark)
    base = tmp / "base"
    if not base.exists():
        write_search_index(docs.filter(F.col("doc_id") <= 2), str(base), n_buckets=4)
    path = tmp / f"index{len(list(tmp.glob('index*')))}"
    shutil.copytree(base, path)
    append_to_search_index(docs.filter(F.col("doc_id") > 2), str(path), n_buckets=4)
    return spark.read.parquet(str(path / "delta" / "1" / "postings"))


def _schedule_frontier(spark, tmp):
    urls = spark.range(0, 40).select(
        F.format_string("http://h%d.test/p/%d", F.col("id") % 3, "id").alias("url")
    )
    return schedule_frontier(urls, banded_numbering=True, n_bands=5)


def _unigram_train(spark, tmp):
    return unigram_train(_docs(spark), vocab_size=30, iters=1)


def _cluster_pairs(spark, tmp):
    pairs = spark.createDataFrame([(1, 2), (2, 3)], "id_a long, id_b long")
    return D.cluster_pairs(pairs)


@pytest.mark.parametrize(
    "case",
    [
        _simhash_components,
        _bradley_terry,
        _mmr_topk,
        _best_snippet,
        _append_to_search_index,
        _schedule_frontier,
        _unigram_train,
        _cluster_pairs,
    ],
    ids=lambda case: case.__name__.lstrip("_"),
)
def test_reliable_cut_equals_default(spark, tmp_path, monkeypatch, case):
    """Under the reliable conf the operator leaves no local-checkpoint
    RDD in its lineage (localCheckpoint raises) and returns exactly its
    default-path result.  Inputs are the smallest that run each cut
    site once."""
    try:
        from pyspark.sql.classic.dataframe import DataFrame
    except ImportError:  # pyspark < 4
        from pyspark.sql import DataFrame

    want = _rows(case(spark, tmp_path))
    assert want

    def no_local(*args, **kwargs):
        raise AssertionError("localCheckpoint under the reliable conf")

    spark.sparkContext.setCheckpointDir(str(tmp_path / "ckpt"))
    monkeypatch.setattr(DataFrame, "localCheckpoint", no_local)
    try:
        spark.conf.set(RELIABLE_CKPT_CONF, "true")
        assert _rows(case(spark, tmp_path)) == want
    finally:
        spark.conf.unset(RELIABLE_CKPT_CONF)
