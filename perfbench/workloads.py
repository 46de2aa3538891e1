"""The benchmark's workloads, written as ordered layer calls.

A batch workload is a list of ``Step``s. Each step makes one call into
a public function of the package (the layer it is named after) and
stores the result under ``out`` in a shared environment. The untraced
pass builds every step and then consumes the workload's outputs; the
traced suite (``tracing.py``) runs the same steps one at a time with
their inputs persisted, so each step's span is that layer's self time.

The names are the per-layer metric prefixes in ``BENCHMARK.json``.
"""

from __future__ import annotations

import os
from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F

from hybridbackend_spark.functions import metrics
from hybridbackend_spark.functions.spec import DataSpec
from hybridbackend_spark.operators import dedup, graph, joins, similarity, structural, text
from hybridbackend_spark.sources import tabular


@dataclass(frozen=True)
class Step:
    name: str  # "<module>.<function>", the per-layer metric prefix
    inputs: tuple[str, ...]  # env keys the call reads
    out: str  # env key the call writes
    call: Callable[[SparkSession, dict], object]


# ---------------------------------------------------------------- train_feed

# the reference tutorial's spec format: impute + normalize a numeric
# feature, bucket a categorical id into its embedding table
TRAIN_SPEC = DataSpec([
    {"name": "u_score", "dtype": "int64", "default": 0, "norm": 4},
    {"name": "item_bias", "dtype": "int64", "default": 0},
    {"name": "item_cat", "dtype": "int64", "default": 0,
     "embedding": {"size": 64, "dimension": 8}},
])

# The "model" a trainer would score with: every term is a multiple of
# 1/4, so scores are exact in double on every engine and AUC compares
# bit for bit against the reference.
def _score():
    return (
        F.aggregate("vec", F.lit(0.0), lambda a, x: a + x)
        + F.col("item_bias") + F.col("u_score") + F.col("item_cat")
    )


def _rows(spark, env):
    restored = structural.dedup_restore(
        env["blocks"], {"user_id": "user_id_idx", "item_id": "item_id_idx"}
    )
    return structural.unbatch(
        restored.drop("batch_id"), ["row_id", "label", "ids", "user_id", "item_id"]
    )


def _pooled(spark, env):
    fact = env["with_item"]
    pooled = joins.pooled_lookup(
        fact, env["emb"], "ids", "row_id", "vec", combiner="sum",
        dedup_keys=True, broadcast_dim=False,
    )
    return fact.drop("ids").join(pooled, "row_id")


TRAIN_STEPS = [
    Step("sources.read_parquet", ("dir",), "blocks",
         lambda s, e: tabular.read_parquet(s, os.path.join(e["dir"], "events"))),
    Step("structural.dedup_restore", ("blocks",), "rows", _rows),
    Step("joins.lookup_join", ("rows", "items"), "with_item",
         lambda s, e: joins.lookup_join(e["rows"], e["items"], "item_id")),
    Step("joins.pooled_lookup", ("with_item", "emb"), "with_vec", _pooled),
    Step("joins.left_join_with_default", ("with_vec", "users"), "joined",
         lambda s, e: joins.left_join_with_default(
             e["with_vec"], e["users"], "user_id",
             {"u_score": F.lit(0).cast("long")})),
    Step("spec.DataSpec.apply", ("joined",), "features",
         lambda s, e: TRAIN_SPEC.apply(e["joined"]).select(
             "row_id", "user_id", "label", _score().alias("score"))),
    Step("metrics.auc", ("features",), "auc",
         lambda s, e: metrics.auc(e["features"], "label", "score")),
    Step("metrics.gauc", ("features",), "gauc",
         lambda s, e: metrics.gauc(e["features"], "user_id", "label", "score")),
]


def train_tables(spark: SparkSession, d: str) -> dict:
    return {
        "dir": d,
        "emb": spark.read.parquet(os.path.join(d, "emb.parquet")),
        "items": spark.read.parquet(os.path.join(d, "items.parquet")),
        "users": spark.read.parquet(os.path.join(d, "users.parquet")),
    }


# ----------------------------------------------------------- corpus_curation

KMEANS_K = 8


def _quality(spark, env):
    sig = text.quality_signals("text")
    return env["docs"].select("doc_id", *[c.alias(k) for k, c in sig.items()])


CORPUS_STEPS = [
    Step("text.quality_signals", ("docs",), "quality", _quality),
    Step("dedup.minhash_lsh_dedup", ("docs",), "near_dup_survivors",
         lambda s, e: dedup.minhash_lsh_dedup(
             e["docs"], "text", "doc_id", threshold=0.8, portable=True)),
    Step("similarity.kmeans_train", ("docs",), "centroids",
         lambda s, e: similarity.kmeans_train(
             e["docs"], "embedding", k=KMEANS_K, iters=2, id_col="doc_id")),
    Step("dedup.semantic_dedup", ("docs", "centroids"), "semantic_survivors",
         lambda s, e: dedup.semantic_dedup(
             e["docs"], "embedding", "doc_id", e["centroids"], threshold=0.95)),
    Step("graph.pagerank", ("links",), "pagerank",
         lambda s, e: graph.pagerank(e["links"], "src", "dst", iterations=3)),
    Step("graph.bfs_distances", ("links", "seeds"), "bfs",
         lambda s, e: graph.bfs_distances(
             e["links"], e["seeds"], "src", "dst", "id", max_hops=64)),
    Step("graph.shortest_paths", ("links", "seeds"), "sssp",
         lambda s, e: graph.shortest_paths(
             e["links"], e["seeds"], "src", "dst", "w", "id", max_rounds=64)),
    Step("graph.connected_components", ("links",), "components",
         lambda s, e: graph.connected_components(e["links"], "src", "dst")),
]


def corpus_tables(spark: SparkSession, d: str) -> dict:
    return {
        "dir": d,
        "docs": spark.read.parquet(os.path.join(d, "documents.parquet")),
        "links": spark.read.parquet(os.path.join(d, "links.parquet")),
        "seeds": spark.read.parquet(os.path.join(d, "seeds.parquet")),
    }


CORPUS_OUTPUTS = ["quality", "near_dup_survivors", "centroids",
                  "semantic_survivors", "pagerank", "bfs", "sssp", "components"]


def _fetch(value):
    """A DataFrame is fetched as Arrow (the result tables are a few
    thousand rows at most); anything else (trained centroids) is already
    on the driver."""
    return value.toArrow() if isinstance(value, DataFrame) else value


# How each workload's consumer takes its outputs. The trainer asks for
# both metrics in one query, so the feature pipeline they share runs
# once (Spark reuses the common exchanges); the curation job fetches
# every table.
CONSUME = {
    "train_feed": lambda env: {
        "metrics": env["auc"].crossJoin(env["gauc"]).toArrow()},
    "corpus_curation": lambda env: {k: _fetch(env[k]) for k in CORPUS_OUTPUTS},
}
STEPS = {"train_feed": TRAIN_STEPS, "corpus_curation": CORPUS_STEPS}
TABLES = {"train_feed": train_tables, "corpus_curation": corpus_tables}
# rows_per_s counts these input rows per pass
INPUT_ROWS = {"train_feed": "events", "corpus_curation": "docs"}


def run_pass(spark: SparkSession, workload: str, tables: dict) -> dict:
    """One untraced pass: build every step, then consume the outputs."""
    env = dict(tables)
    for step in STEPS[workload]:
        env[step.out] = step.call(spark, env)
    return CONSUME[workload](env)
