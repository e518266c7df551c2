"""Tier A engine runs surfaced as driver-harness queries.

These run the Tier A apps through the engine's Arrow-batched executor
(``run_on_documents_batched``) over the documents table and return its
string-typed ``(k, v)`` output as a DataFrame — so the engine's execution
semantics (engine sort, sorted-values-into-reduce, hash co-location of
keys) are validated by the DuckDB oracle too, not only by the differential
tests, which pin the batched executor to the faithful RDD engine.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..engine import get_app
from ..engine.mapreduce import run_on_documents_batched
from . import query

_TOKENS_SQL = (
    "SELECT 'doc_' || CAST(doc_id AS VARCHAR) AS doc, "
    "unnest(regexp_split_to_array(text, '[^\\p{L}]+')) AS word FROM documents"
)


@query(
    "tier_a_wc",
    oracle=f"""
    SELECT word AS k, CAST(COUNT(*) AS VARCHAR) AS v
    FROM ({_TOKENS_SQL}) WHERE word <> ''
    GROUP BY word
    """,
)
def tier_a_wc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word count through the Tier A engine (Python App, Arrow-batched
    executor, AQE-sized reduce side). Output is the engine's text model:
    both columns string. The batched executor is pinned record-for-record
    to the faithful RDD engine by test_engine_differential, so the oracle
    here transitively validates both."""
    return run_on_documents_batched(spark, sf_dir, get_app("wc"))


@query(
    "tier_a_indexer",
    oracle=f"""
    WITH wd AS (SELECT DISTINCT doc, word FROM ({_TOKENS_SQL}) WHERE word <> '')
    SELECT word AS k,
           CAST(COUNT(*) AS VARCHAR) || ' ' || string_agg(doc, ',' ORDER BY doc) AS v
    FROM wd GROUP BY word
    """,
)
def tier_a_indexer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted index through the Tier A engine (Arrow-batched executor).
    The oracle's ORDER BY doc inside string_agg is matched by the ENGINE's
    sorted-values-into-reduce guarantee — the app itself never sorts
    (app-indexer/src/lib.rs:23-25), so a pass here proves the guarantee
    holds in the batched executor's sortWithinPartitions too."""
    return run_on_documents_batched(spark, sf_dir, get_app("indexer"))
