"""Shared prelude for the pipeline gate registry (split round 11).

Imports, the augmented-corpus builders, and the SQL fragments every
gate family shares.  The catalog contract and the family modules are
documented in pipeline/queries.py, which re-exports everything.

Same contract as steel_datafusion_spark.queries: name -> (fn, oracle_sql).
The synthetic corpus has no natural duplicates (500/500 distinct texts at
sf0.01), so the dedup queries run on a deterministic augmented corpus —
docs with id<20 get a near-copy (id+1000000, ' steel spark dedup' appended)
— built identically in the Spark plan and the oracle CTE, so the operators
demonstrably find the planted near-dups.

Embeddings likewise get exact copies (id+1000000) of vec_id<10 for the
near-dup query.  All scoring is rounded to 6dp before ranking on both
engines (see pipeline/similarity.py determinism notes).
"""

from __future__ import annotations

import os as _os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.windows import window_spec
from ..queries import build_once
from ..sources.readers import load_tables
from . import text as TX
from .dedup import (
    SQL as DSQL, build_dedup_index, connected_components, dedup_against_index,
    exact_dedup, md5_int60, minhash_dedup_against, minhash_dedup_pairs,
    ngram_jaccard_pairs, shingles, simhash_from_hashes, simhash_pairs,
)
from .dedup import winnow_fingerprints
from .curation import decontaminate, mixture_resample, repetition_stats
from .multimodal import extract_features, frame_sample, make_media_table
from .similarity import (
    cosine_neardup_pairs, cosine_topk, hyperplanes, ivf_topk, kmeans, lsh_topk,
)
from .text import bpe_ish_token_count, sql_bpe_ish_token_count

_COS = ("(list_dot_product({a}, {b}) / "
        "sqrt(list_dot_product({a}, {a}) * list_dot_product({b}, {b})))")

_AUG_DOCS_SQL = """
corpus AS (
  SELECT doc_id, text, lang FROM documents
  UNION ALL
  SELECT doc_id + 1000000, text || ' steel spark dedup', lang
  FROM documents WHERE doc_id < 20
)"""

_AUG_EMB_SQL = """
corpus AS (
  SELECT vec_id, embedding::DOUBLE[] AS v, label FROM embeddings
  UNION ALL
  SELECT vec_id + 1000000, embedding::DOUBLE[], label
  FROM embeddings WHERE vec_id < 10
)"""


def _aug_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_tables(spark, sf_dir)["documents"].select("doc_id", "text", "lang")
    var = d.filter(F.col("doc_id") < 20).select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" steel spark dedup")).alias("text"),
        F.col("lang"),
    )
    return d.union(var)


def _aug_emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_tables(spark, sf_dir)["embeddings"]
    base = e.select("vec_id", F.col("embedding"), "label")
    var = e.filter(F.col("vec_id") < 10).select(
        (F.col("vec_id") + 1000000).alias("vec_id"), F.col("embedding"), "label")
    return base.union(var)


__all__ = ['_os', 'DataFrame', 'SparkSession', 'F', 'window_spec', 'build_once', 'load_tables', 'TX', 'DSQL', 'build_dedup_index', 'connected_components', 'dedup_against_index', 'exact_dedup', 'md5_int60', 'minhash_dedup_against', 'minhash_dedup_pairs', 'ngram_jaccard_pairs', 'shingles', 'simhash_from_hashes', 'simhash_pairs', 'winnow_fingerprints', 'decontaminate', 'mixture_resample', 'repetition_stats', 'extract_features', 'frame_sample', 'make_media_table', 'cosine_neardup_pairs', 'cosine_topk', 'hyperplanes', 'ivf_topk', 'kmeans', 'lsh_topk', 'bpe_ish_token_count', 'sql_bpe_ish_token_count', '_COS', '_AUG_DOCS_SQL', '_AUG_EMB_SQL', '_aug_docs', '_aug_emb']
