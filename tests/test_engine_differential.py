"""Tier A differential tests — the test-mr.sh strategy (SURVEY.md §5):
the pure-Python sequential executor is the golden oracle; the Spark engine
must produce byte-identical merged output, at more than one partition
count (determinism w.r.t. parallelism), with indexer's posting order
proving the sorted-values-into-reduce guarantee.
"""

from __future__ import annotations

import pytest

from mr_spark.engine import get_app, run_mapreduce, run_sequential
from mr_spark.engine.apps.wc import tokenize
from mr_spark.engine.sequential import to_text_lines
from mr_spark.sources import load_table

from conftest import SF_DIR

APP_NAMES = ["wc", "indexer", "crash", "early_exit"]


@pytest.fixture(scope="module")
def corpus(spark):
    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text").collect()
    return [(f"doc_{r[0]}", r[1]) for r in docs]


@pytest.mark.parametrize("app_name", APP_NAMES)
def test_spark_matches_sequential(spark, corpus, app_name):
    app = get_app(app_name)
    golden = to_text_lines(run_sequential(corpus, app))
    got = sorted(
        f"{k} {v}" for k, v in run_mapreduce(spark, corpus, app, n_reduce=10).collect()
    )
    assert got == golden


@pytest.mark.parametrize("app_name", ["wc", "indexer"])
def test_output_independent_of_partition_count(spark, corpus, app_name):
    app = get_app(app_name)
    five = sorted(run_mapreduce(spark, corpus, app, n_reduce=5).collect())
    ten = sorted(run_mapreduce(spark, corpus, app, n_reduce=10).collect())
    assert five == ten


# AQE coalesces the batched executor's reduce side to one partition at
# sf0.001; the second input pins seven uncoalesced reduce partitions so a
# multi-partition reduce stays covered.
_BATCHED_CONFS = [
    {},
    {
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
        "spark.sql.shuffle.partitions": "7",
    },
]


@pytest.mark.parametrize("app_name", APP_NAMES)
def test_batched_executor_matches_rdd_engine(spark, app_name):
    """The Arrow-batched executor (mapInPandas plumbing) is semantically
    the same engine: identical (k, v) multiset to the faithful RDD path,
    including indexer's sorted-postings guarantee (covered by app output
    equality — the posting string embeds the value order)."""
    from mr_spark.engine.mapreduce import run_on_documents, run_on_documents_batched

    app = get_app(app_name)
    rdd_out = sorted(run_on_documents(spark, SF_DIR, app, n_reduce=10).collect())
    for conf in _BATCHED_CONFS:
        saved = {k: spark.conf.get(k, None) for k in conf}
        try:
            for k, v in conf.items():
                spark.conf.set(k, v)
            batched = sorted(
                (r["k"], r["v"])
                for r in run_on_documents_batched(spark, SF_DIR, app).collect()
            )
        finally:
            for k, v in saved.items():
                if v is None:
                    spark.conf.unset(k)
                else:
                    spark.conf.set(k, v)
        assert batched == rdd_out, conf


def test_indexer_postings_sorted(spark, corpus):
    """The sorted-values guarantee, observed at the output: every posting
    list ascends (app-indexer relies on engine order, not its own sort)."""
    out = run_mapreduce(spark, corpus, get_app("indexer"), n_reduce=10).collect()
    assert out, "indexer produced no output"
    for _, v in out:
        files = v.split(" ", 1)[1].split(",")
        assert files == sorted(files)


def test_partitioning_contract(spark, corpus):
    """All values of one key land in one partition, and partitions are
    hash-disjoint (the semantic contract of E3, worker.rs:127-135)."""
    rdd = run_mapreduce(spark, corpus, get_app("wc"), n_reduce=10)
    per_part = rdd.glom().collect()
    assert len(per_part) == 10
    seen: dict[str, int] = {}
    for idx, part in enumerate(per_part):
        for k, _ in part:
            assert seen.setdefault(k, idx) == idx, f"key {k} in two partitions"


def test_tokenizer_unicode_parity():
    """Rust char::is_alphabetic ↔ str.isalpha parity on the cases that
    could drift (SURVEY.md §7 risk 2): accents, CJK, digits, underscore."""
    assert tokenize("Hello, wörld! 你好 abc_123 déjà-vu") == [
        "Hello", "wörld", "你好", "abc", "déjà", "vu",
    ]
    assert tokenize("") == []
    assert tokenize("123 456") == []
