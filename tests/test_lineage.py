"""Lineage-truncation durability follows the session (operators/lineage.py).

No checkpoint directory: `truncate_lineage` uses localCheckpoint
(executor-local blocks; a lost executor kills the query). Checkpoint
directory set (`spark.checkpoint.dir` or `setCheckpointDir`): a reliable
checkpoint through it, which survives executor loss at the cost of a
distributed-FS write+read. These tests pin that every truncation site in
the package follows that rule in both states, that the reliable path
really writes under the directory, and that answers do not depend on it.
"""

from __future__ import annotations

import contextlib
import os
from types import SimpleNamespace

import numpy as np
import pytest

from pyspark.sql import functions as F

from ascii_hydra_spark import verification
from ascii_hydra_spark.operators import (
    analytics,
    clustering,
    corpus,
    dedup,
    graph,
    retrieval,
    text,
)
from ascii_hydra_spark.operators.lineage import truncate_lineage


@contextlib.contextmanager
def checkpoint_dir(spark, path):
    """Set (path) or unset (None) the session checkpoint dir; on exit
    restore whatever was there before, including the unset state."""
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    prev = jsc.checkpointDir()
    if path:
        sc.setCheckpointDir(path)
    else:
        getattr(jsc, "checkpointDir_$eq")(spark._jvm.scala.Option.empty())
    try:
        yield path
    finally:
        getattr(jsc, "checkpointDir_$eq")(prev)


@pytest.fixture()
def ckpt_dir(spark, tmp_path):
    with checkpoint_dir(spark, str(tmp_path / "ckpt")) as d:
        yield d


@pytest.fixture()
def no_ckpt_dir(spark):
    with checkpoint_dir(spark, None):
        yield


@pytest.fixture()
def calls(spark, monkeypatch):
    """Count DataFrame.checkpoint / DataFrame.localCheckpoint calls."""
    n = {"checkpoint": 0, "localCheckpoint": 0}
    cls = type(spark.range(1))
    for name in n:
        orig = getattr(cls, name)

        def counted(self, *a, _orig=orig, _name=name, **kw):
            n[_name] += 1
            return _orig(self, *a, **kw)

        monkeypatch.setattr(cls, name, counted)
    return n


def _files(d):
    return [os.path.join(r, f) for r, _, fs in os.walk(d) for f in fs]


def _checkpointed_rdd(df):
    """The JVM RDD a truncated DataFrame reads from."""
    return df._jdf.queryExecution().logical().rdd()


@pytest.fixture(scope="module")
def inputs(spark, sf_dir):
    rs = np.random.RandomState(7)
    vecs = rs.randn(12, 4)
    return SimpleNamespace(
        spark=spark,
        sf_dir=sf_dir,
        edges=spark.createDataFrame(
            [(1, 2), (2, 3), (3, 1), (3, 4), (4, 1), (4, 2)], "src INT, dst INT"
        ),
        seeds=spark.createDataFrame([(1,)], "n INT"),
        docs=spark.createDataFrame(
            [
                (i, f"body{i} alpha beta gamma alpha beta\nshared footer line",
                 "en" if i % 2 else "de")
                for i in range(6)
            ],
            "doc_id LONG, text STRING, lang STRING",
        ),
        emb=spark.createDataFrame(
            [(i, [float(x) for x in vecs[i % 8]]) for i in range(12)],
            "vec_id BIGINT, embedding ARRAY<FLOAT>",
        ),
        daily=spark.createDataFrame(
            [(f"2024-01-{d:02d}", 2.0 * d) for d in range(1, 8)], "day STRING, v DOUBLE"
        ).select(F.col("day").cast("date").alias("day"), "v"),
    )


# Every function in the package that truncates lineage, on a tiny input.
SITES = {
    "graph.pagerank": lambda i: graph.pagerank(i.edges, iterations=2),
    "graph.triangle_count": lambda i: graph.triangle_count(i.edges),
    "graph.label_propagation": lambda i: graph.label_propagation(i.edges, iterations=2),
    "graph.kcore_peel": lambda i: graph.kcore_peel(i.edges, k=2, rounds=2),
    "graph.clustering_coefficients": lambda i: graph.clustering_coefficients(i.edges),
    "graph.bfs_frontier_counts": lambda i: graph.bfs_frontier_counts(i.edges, i.seeds, hops=2),
    "graph.hits": lambda i: graph.hits(i.edges, iterations=2, k=3),
    "dedup.connected_components": lambda i: dedup.connected_components(
        i.edges.select(F.col("src").alias("id")), i.edges
    ),
    "dedup.cluster_dedup": lambda i: dedup.cluster_dedup(
        i.docs, i.edges.toDF("id_a", "id_b"), "doc_id"
    ),
    "text.remove_boilerplate": lambda i: text.remove_boilerplate(i.docs),
    "text.pmi_collocations": lambda i: text.pmi_collocations(i.docs, min_count=1),
    "text.distinctive_terms": lambda i: text.distinctive_terms(i.docs, "lang", min_count=1),
    "text.vocab_jaccard_matrix": lambda i: text.vocab_jaccard_matrix(i.docs, "lang"),
    "clustering.kmeans_assign": lambda i: clustering.kmeans_assign(i.emb, k=2, iterations=2),
    "clustering.semantic_dup_pairs": lambda i: clustering.semantic_dup_pairs(
        i.emb, k=2, iterations=2, threshold=0.99
    ),
    "corpus.bigram_lm_scores": lambda i: corpus.bigram_lm_scores(i.docs),
    "corpus.token_distribution_drift": lambda i: corpus.token_distribution_drift(
        i.docs, i.docs.filter("doc_id > 2")
    ),
    # the postings arm (dense_vocab_max=0) is the one that truncates
    "retrieval.tfidf_doc_neighbors": lambda i: retrieval.tfidf_doc_neighbors(
        i.docs, threshold=0.5, dense_vocab_max=0
    ),
    "analytics.theil_sen_trend": lambda i: analytics.theil_sen_trend(i.daily, "day", "v"),
    "verification.theil_sen_slope_ci": lambda i: verification.theil_sen_slope_ci(
        i.spark, i.sf_dir
    ),
    "verification.wat_edges_multisuffix": lambda i: verification._wat_edges_multisuffix(i.spark),
}


@pytest.mark.parametrize("site", sorted(SITES))
def test_site_checkpoints_under_dir_when_set(site, inputs, ckpt_dir, calls):
    SITES[site](inputs)  # truncation is eager: building the result runs it
    assert calls["checkpoint"] >= 1 and calls["localCheckpoint"] == 0, calls
    assert _files(ckpt_dir), f"{site} wrote nothing under the checkpoint dir"


@pytest.mark.parametrize("site", sorted(SITES))
def test_site_local_checkpoints_without_dir(site, inputs, no_ckpt_dir, calls):
    SITES[site](inputs)
    assert calls["localCheckpoint"] >= 1 and calls["checkpoint"] == 0, calls


def test_reliable_truncation_writes_checkpoint_files(spark, ckpt_dir):
    df = spark.range(100).withColumn("v", F.col("id") * 2)
    out = truncate_lineage(df)
    assert out.count() == 100
    # a real reliable checkpoint materializes RDD files under the dir
    assert _files(ckpt_dir), "no files in the checkpoint dir"
    rdd = _checkpointed_rdd(out)
    assert not rdd.isLocallyCheckpointed()
    assert rdd.getCheckpointFile().get().startswith(f"file:{ckpt_dir}")


def test_truncation_without_checkpoint_dir_is_local(spark, no_ckpt_dir):
    out = truncate_lineage(spark.range(100))
    assert out.count() == 100
    rdd = _checkpointed_rdd(out)
    assert rdd.isLocallyCheckpointed()
    assert rdd.getCheckpointFile().isEmpty()


def test_checkpoint_dir_fixture_restores_unset_state(spark, tmp_path):
    with checkpoint_dir(spark, None):
        with checkpoint_dir(spark, str(tmp_path)):
            assert spark.sparkContext.getCheckpointDir()
        assert spark.sparkContext.getCheckpointDir() is None


def test_pagerank_reliable_matches_default(spark, tmp_path):
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (4, 1)], ["src", "dst"]
    )
    ranks = lambda: {  # noqa: E731
        r["node"]: round(r["rank"], 9)
        for r in graph.pagerank(edges, iterations=5).collect()
    }
    with checkpoint_dir(spark, None):
        base = ranks()
    with checkpoint_dir(spark, str(tmp_path)):
        assert ranks() == base


def test_cluster_dedup_reliable_matches_default(spark, tmp_path):
    df = spark.range(10).select(F.col("id").alias("doc_id"))
    pairs = spark.createDataFrame(
        [(0, 1), (1, 2), (5, 6)], ["id_a", "id_b"]
    )
    keep = lambda: sorted(  # noqa: E731
        r["doc_id"] for r in dedup.cluster_dedup(df, pairs, "doc_id").collect()
    )
    with checkpoint_dir(spark, None):
        base = keep()
    with checkpoint_dir(spark, str(tmp_path)):
        assert keep() == base


def test_remove_boilerplate_reliable_matches_default(spark, tmp_path):
    docs = spark.createDataFrame(
        [(i, f"body{i} unique tokens here\nshared footer line") for i in range(6)],
        ["doc_id", "text"],
    )
    rows = lambda: sorted(  # noqa: E731
        (r["doc_id"], r["text_clean"], r["n_segments_kept"])
        for r in text.remove_boilerplate(docs).collect()
    )
    with checkpoint_dir(spark, None):
        base = rows()
    with checkpoint_dir(spark, str(tmp_path)):
        assert rows() == base
