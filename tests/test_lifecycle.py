"""Persist lifecycle: operators that cache an intermediate must not
leak cached blocks past their result's lifetime (r3 judge finding #3).
Each case runs the operator, consumes it, drops the result, and
asserts the JVM holds ZERO persistent RDDs — without any
clearCache() after the operator runs."""

import gc

import pytest
from pyspark.sql import functions as F

from bht_etl_app_spark.session import load_table

SF = "/root/testdata/sf0.001"


def _n_persistent(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def _docs(spark):
    return load_table(spark, SF, "documents").limit(200)


def _emb(spark):
    return load_table(spark, SF, "embeddings").limit(300)


_SURVEY_CFG = {
    "awareness": {"tom": "tom_brand", "unaided": ["UA_Indomie", "UA_Sedaap"]},
    "satisfaction": {"csat": "csat"},
    "nps": {"score": "nps_score"},
}


def _survey_tables(spark):
    """Every table BhtPipeline.transform builds (cached input, cached
    outputs), plus a cached crosstab on the same input."""
    from bht_etl_app_spark.pipeline import BhtPipeline

    df = spark.createDataFrame(
        [("Indomie", "1", "0", "5", "10", "M"), ("Sedaap", "", "1", "3", "6", "F"),
         (None, "1", "1", None, "9", "F")],
        "tom_brand string, UA_Indomie string, UA_Sedaap string, csat string, "
        "nps_score string, gender string",
    )
    pipe = BhtPipeline(_SURVEY_CFG)
    tables = pipe.transform(df)
    tables["crosstab"] = pipe.crosstab(df, "gender", "tom_brand")
    return tables


CASES = {
    # one table kept: the other outputs are dropped at once, and the
    # shared input cache must live on until the kept table dies
    "pipeline_transform": lambda spark: _survey_tables(spark)["tabulation"],
    "near_dup_incremental": lambda spark: __import__(
        "bht_etl_app_spark.operators.dedup", fromlist=["x"]
    ).near_dup_incremental(
        _docs(spark).where("doc_id % 3 != 0"),
        _docs(spark).where("doc_id % 3 = 0"),
    ),
    "ngram_jaccard_pairs": lambda spark: __import__(
        "bht_etl_app_spark.operators.dedup", fromlist=["x"]
    ).ngram_jaccard_pairs(_docs(spark)),
    "minhash_lsh_pairs": lambda spark: __import__(
        "bht_etl_app_spark.operators.dedup", fromlist=["x"]
    ).minhash_lsh_pairs(_docs(spark)),
    "simhash_near_dup_pairs": lambda spark: __import__(
        "bht_etl_app_spark.operators.dedup", fromlist=["x"]
    ).simhash_near_dup_pairs(_docs(spark)),
    "embedding_lsh_near_dup_pairs": lambda spark: __import__(
        "bht_etl_app_spark.operators.dedup", fromlist=["x"]
    ).embedding_lsh_near_dup_pairs(
        _emb(spark),
        __import__(
            "bht_etl_app_spark.operators.similarity", fromlist=["x"]
        ).lsh_planes(
            16, len(_emb(spark).select("embedding").first()[0]), seed=42
        ),
    ),
    "tfidf_top_terms": lambda spark: __import__(
        "bht_etl_app_spark.operators.text", fromlist=["x"]
    ).tfidf_top_terms(_docs(spark)),
    "bigram_logprob_scores": lambda spark: __import__(
        "bht_etl_app_spark.operators.text", fromlist=["x"]
    ).bigram_logprob_scores(_docs(spark)),
    "domain_token_sketches": lambda spark: __import__(
        "bht_etl_app_spark.operators.corpus", fromlist=["x"]
    ).domain_token_sketches(_docs(spark)),
    "semantic_dedup": lambda spark: __import__(
        "bht_etl_app_spark.operators.clustering", fromlist=["x"]
    ).semantic_dedup(_emb(spark), k=4, max_iter=2),
}


@pytest.mark.parametrize("name", sorted(CASES))
def test_operator_frees_cached_blocks_on_drop(spark, name):
    # isolate from earlier tests only: clearCache covers SQL-cached
    # frames; the sweep covers explicit-release checkpoint blocks an
    # earlier test may have left (building a curate_corpus query now
    # materializes its stage boundaries — r12 plan-truncation — and
    # those blocks await release()/sweep by contract, so a plan-pin
    # or oracle test running first legitimately leaves them)
    from bht_etl_app_spark.functions.lifecycle import sweep_checkpoints

    spark.catalog.clearCache()
    sweep_checkpoints(spark.sparkContext)
    gc.collect()
    assert _n_persistent(spark) == 0

    out = CASES[name](spark)
    assert out.count() >= 0  # consume: populates the operator's cache
    # dropping the result must free the intermediates automatically;
    # checkpoint-based operators (dedup_clusters inside semantic_dedup)
    # additionally need the JVM ContextCleaner pass for the final
    # round's blocks, whose plan reference just died with `out`
    del out
    gc.collect()
    left = _n_persistent(spark)
    assert left == 0, f"{name} leaked {left} cached RDDs"


def _pairs(spark):
    # a chain + an isolated edge: two clusters, known min-labels
    return spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], "id_a long, id_b long"
    )


def test_chained_call_on_distributed_clusters_is_safe(spark):
    """The r4 ADVICE landmine: a chained call drops the intermediate
    Python result mid-expression. With GC-freed checkpoint blocks the
    later action failed ('checkpoint block not found'); the explicit-
    release contract must keep the blocks alive until sweep."""
    from bht_etl_app_spark.functions.lifecycle import sweep_checkpoints
    from bht_etl_app_spark.operators.dedup import dedup_clusters

    spark.catalog.clearCache()
    gc.collect()
    sweep_checkpoints(spark.sparkContext)

    rows = (
        dedup_clusters(_pairs(spark), driver_edge_threshold=0)
        .groupBy("cluster_id")
        .count()
        .orderBy("cluster_id")
        .collect()
    )
    gc.collect()  # the intermediate result object is long dead here
    assert [(r["cluster_id"], r["count"]) for r in rows] == [(1, 4), (10, 2)]
    # the final round's non-recomputable blocks are still registered;
    # the session-level sweep reclaims them
    assert sweep_checkpoints(spark.sparkContext) > 0
    assert _n_persistent(spark) == 0


def test_release_frees_checkpoint_blocks(spark):
    """Explicit release() on a distributed dedup_clusters result frees
    its final-round checkpoint blocks immediately (caller asserts it
    is done — the result is NOT reusable after, unlike the
    recomputable-persist tier)."""
    from bht_etl_app_spark.functions.lifecycle import release, sweep_checkpoints
    from bht_etl_app_spark.operators.dedup import dedup_clusters

    spark.catalog.clearCache()
    gc.collect()
    sweep_checkpoints(spark.sparkContext)

    out = dedup_clusters(_pairs(spark), driver_edge_threshold=0)
    assert out.count() == 6
    assert _n_persistent(spark) > 0
    release(out)
    assert _n_persistent(spark) == 0
    release(out)  # idempotent
    # already released -> the sweep has nothing left to free
    assert sweep_checkpoints(spark.sparkContext) == 0


def test_release_traverses_carried_parents(spark):
    """release() on a carry()-composed result recursively frees the
    parents' blocks — one handle for a whole composition."""
    from bht_etl_app_spark.functions.lifecycle import (
        carry,
        release,
        sweep_checkpoints,
    )
    from bht_etl_app_spark.operators.dedup import dedup_clusters

    spark.catalog.clearCache()
    gc.collect()
    sweep_checkpoints(spark.sparkContext)

    clusters = dedup_clusters(_pairs(spark), driver_edge_threshold=0)
    derived = carry(clusters.where(F.col("doc_id") != F.col("cluster_id")), clusters)
    assert derived.count() == 4
    assert _n_persistent(spark) > 0
    release(derived)
    assert _n_persistent(spark) == 0
    assert sweep_checkpoints(spark.sparkContext) == 0


def test_release_frees_blocks_while_result_alive(spark):
    """Explicit release(): frees the cache immediately, result stays
    usable (recomputes instead of reading cache)."""
    from bht_etl_app_spark.functions.lifecycle import release, sweep_checkpoints
    from bht_etl_app_spark.operators.dedup import minhash_lsh_pairs

    spark.catalog.clearCache()
    sweep_checkpoints(spark.sparkContext)
    gc.collect()
    out = minhash_lsh_pairs(_docs(spark))
    n1 = out.count()
    assert _n_persistent(spark) > 0, "expected cached intermediates"
    release(out)
    assert _n_persistent(spark) == 0
    assert out.count() == n1  # still correct, just uncached
    release(out)  # idempotent


def test_tracking_is_actually_exercised(spark):
    """Guard against the lifecycle silently tracking nothing: while
    the result is alive and consumed, the persisted intermediate must
    be present in the JVM's persistent-RDD registry."""
    from bht_etl_app_spark.functions.lifecycle import sweep_checkpoints
    from bht_etl_app_spark.operators.text import tfidf_top_terms

    spark.catalog.clearCache()
    sweep_checkpoints(spark.sparkContext)
    gc.collect()
    out = tfidf_top_terms(_docs(spark))
    out.count()
    assert _n_persistent(spark) > 0
    del out
    gc.collect()
    assert _n_persistent(spark) == 0


def test_pipeline_tables_free_every_cache_on_drop(spark):
    """All of a pipeline run's caches (the input and one per output
    table) are live while the tables are, and dropping the tables frees
    them without clearCache()."""
    from bht_etl_app_spark.functions.lifecycle import sweep_checkpoints

    spark.catalog.clearCache()
    sweep_checkpoints(spark.sparkContext)
    gc.collect()
    assert _n_persistent(spark) == 0

    tables = _survey_tables(spark)
    for t in tables.values():
        t.count()
    # the input plus every output table
    assert _n_persistent(spark) == len(tables) + 1
    del tables, t
    gc.collect()
    assert _n_persistent(spark) == 0
