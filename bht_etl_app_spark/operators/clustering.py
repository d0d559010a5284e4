"""Embedding clustering: distributed Lloyd's k-means and
SemDeDup-style semantic deduplication built on it.

Scale posture: one parquet scan + one k-row aggregation per k-means
iteration. Centroids live in the EXPRESSION (a literal matrix, k x dim
doubles), not in a joined table — for IVF-scale k (tens to low
thousands) that keeps every iteration a single codegen'd map-side
partial aggregation with a k-row reduce; the driver only ever holds
k x dim floats (model parameters, not data). For k large enough that
the literal matrix stops inlining (~10^4+), switch to a broadcast
centroid DataFrame + bucket join; that variant is deliberately not the
default because it adds a join to every iteration.

SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning at
web-scale through semantic deduplication"): cluster the corpus, then
look for near-duplicate pairs ONLY within a cluster — the quadratic
pair search is bounded by cluster size instead of corpus size, and
clusters are joined on an equi-key so the shuffle is a plain hash
partition by ``list_id``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from bht_etl_app_spark.session import ensure_min_parallelism, local_frame


def _l2_scores_expr(vec: Column, centroids: list[list[float]]) -> Column:
    """Per-centroid L2 affinity as one array column:
    ``dot(v, c) - |c|^2 / 2`` — argmax of this is the nearest centroid
    in Euclidean distance (the |v|^2 term is constant per row), without
    materializing per-pair differences.

    One ``transform`` over a single literal k x dim matrix (plus a
    k-element bias array), NOT k separate dot aggregates — the same
    shape as ``hyperplane_bucket_expr``: a k-fold smaller expression
    tree, which matters because codegen/analysis cost is paid once per
    k-means ITERATION (fresh plan each round)."""
    from bht_etl_app_spark.operators.similarity import (
        lit_double_array,
        lit_double_matrix,
    )

    mat = lit_double_matrix(centroids)
    bias = lit_double_array(
        [0.5 * sum(float(x) * float(x) for x in c) for c in centroids]
    )
    dots = F.transform(
        mat,
        lambda c: F.aggregate(
            F.zip_with(vec, c, lambda x, y: x.cast("double") * y),
            F.lit(0.0),
            lambda a, v: a + v,
        ),
    )
    return F.zip_with(dots, bias, lambda d, b: d - b)


def _argmax_expr(scores: Column) -> Column:
    """First index of the max score (0-based, ties -> lowest index)."""
    return (F.array_position(scores, F.array_max(scores)) - 1).cast("long")


def kmeans_assign(
    emb: DataFrame,
    centroids: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Nearest-centroid assignment (L2, deterministic ties -> lowest
    centroid index) as a pure projection. Output: ``(id, list_id)``
    plus the original vector column."""
    scored = ensure_min_parallelism(emb).select(
        F.col(id_col),
        F.col(vec_col),
        _l2_scores_expr(F.col(vec_col), centroids).alias("__scores__"),
    )
    return scored.select(
        F.col(id_col), F.col(vec_col), _argmax_expr(F.col("__scores__")).alias("list_id")
    )


def kmeans_fit(
    emb: DataFrame,
    k: int = 8,
    max_iter: int = 10,
    tol: float = 1e-4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[float]]:
    """Distributed Lloyd's k-means; returns the centroid matrix.

    - init: the k vectors with the smallest ids (deterministic, no RNG
      — reproducibility matters more than seeding quality here; callers
      wanting k-means++ can pass their own loop).
    - assign: nearest centroid via ``_l2_scores_expr`` (projection).
    - update: per-cluster elementwise mean via ``posexplode`` +
      ``groupBy(list_id, pos).avg(val)``. The explode streams n x dim
      narrow rows through the MAP side only: hash aggregation runs
      ``partial_avg`` below the Exchange (verified in the physical
      plan), so the shuffle carries at most k x dim partial rows per
      partition — same network cost as a dim-wide ``avg`` column list,
      but the generated aggregate is 3 columns instead of ``dim``,
      which cuts first-iteration whole-stage-codegen compile from
      ~3.4 s to ~0.3 s at dim=64 (the dominant cost of a small-k fit;
      measured at sf0.1).
    - each round collects k x dim doubles to the driver (model
      parameters), rounds them to 9 dp to quantize away run-to-run
      float-reduction jitter, and stops early when the max centroid
      shift drops below ``tol``.

    Empty clusters keep their previous centroid.
    """
    from pyspark import StorageLevel

    if k <= 0:
        raise ValueError("k must be positive")
    # (id, vec) projection persisted: re-scanned once per iteration
    base = (
        ensure_min_parallelism(emb)
        .select(F.col(id_col).alias("__id__"), F.col(vec_col).alias("__v__"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    try:
        seed_rows = base.orderBy("__id__").limit(k).collect()
        if len(seed_rows) < k:
            raise ValueError(f"k={k} but only {len(seed_rows)} vectors")
        centroids = [[float(x) for x in r["__v__"]] for r in seed_rows]

        spark = emb.sparkSession
        # Centroids ride in a BROADCAST 1-row DataFrame, not as
        # literals: literal centroids change every round, which makes
        # every iteration a brand-new plan and re-pays analysis +
        # whole-stage codegen (~1-2 s/round measured at toy scale, and
        # the same fixed cost on a cluster). With a broadcast
        # parameter the plan/generated code is IDENTICAL across rounds
        # — compile once, iterate cheap. (Scores get their own
        # projection: _argmax_expr references the array twice, see
        # PERFORMANCE.md multi-reference rule.) The frame comes from
        # ``local_frame``, a LocalRelation: building it runs no job, and
        # its broadcast is a one-task JVM job per round, where a
        # parallelized Python list was a Python-worker job of one task
        # per core.
        #
        # The score expression references only column NAMES, so the
        # Column tree is built ONCE here and reused every round —
        # rebuilding the nested transform/aggregate/zip_with lambdas
        # per iteration paid a py4j construction tax each time.
        dots = F.transform(
            F.col("mat"),
            lambda c: F.aggregate(
                F.zip_with(F.col("__v__"), c, lambda x, y: x.cast("double") * y),
                F.lit(0.0),
                lambda a, v: a + v,
            ),
        )
        for _ in range(max_iter):
            cdf = local_frame(
                spark,
                [(centroids, [0.5 * sum(x * x for x in c) for c in centroids])],
                "mat array<array<double>>, bias array<double>",
            )
            assigned = (
                base.join(F.broadcast(cdf))
                .select(
                    F.col("__v__"),
                    F.zip_with(dots, F.col("bias"), lambda d, b: d - b).alias("__s__"),
                )
                .select(F.col("__v__"), _argmax_expr(F.col("__s__")).alias("list_id"))
            )
            rows = (
                assigned.select(
                    "list_id", F.posexplode("__v__").alias("pos", "val")
                )
                .groupBy("list_id", "pos")
                .agg(F.avg("val").alias("c"))
                .collect()
            )
            # empty clusters get no rows -> keep their previous centroid
            new_centroids = [list(c) for c in centroids]
            for r in rows:
                new_centroids[r["list_id"]][r["pos"]] = round(float(r["c"]), 9)
            shift = max(
                sum((a - b) ** 2 for a, b in zip(old, new)) ** 0.5
                for old, new in zip(centroids, new_centroids)
            )
            centroids = new_centroids
            if shift < tol:
                break
        return centroids
    finally:
        base.unpersist()


def semantic_dedup(
    emb: DataFrame,
    k: int = 8,
    threshold: float = 0.95,
    max_iter: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup: k-means the embeddings, find cosine near-duplicate
    pairs WITHIN each cluster, connected-component them, and keep the
    minimum id per component. Output: ``(vec_id, list_id, kept)`` for
    every input vector — survivors have ``kept = true``.

    The pair search joins on ``list_id`` (plain equi-join), so the
    quadratic term is bounded by the largest cluster, the standard
    SemDeDup trade: larger k = cheaper pairs, lower cross-cluster
    recall. Norms are precomputed per vector, not per pair.
    """
    from pyspark import StorageLevel

    from bht_etl_app_spark.operators.dedup import dedup_clusters
    from bht_etl_app_spark.operators.similarity import dot_expr, norm_expr

    centroids = kmeans_fit(
        emb, k=k, max_iter=max_iter, id_col=id_col, vec_col=vec_col
    )
    assigned = (
        kmeans_assign(emb, centroids, id_col=id_col, vec_col=vec_col)
        .select(
            F.col(id_col).alias("id"),
            F.col(vec_col).alias("v"),
            norm_expr(F.col(vec_col)).alias("nrm"),
            "list_id",
        )
        # referenced by both self-join sides AND the survivor join
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    cosine = dot_expr(F.col("x.v"), F.col("y.v")) / F.nullif(
        F.col("x.nrm") * F.col("y.nrm"), F.lit(0.0)
    )
    pairs = (
        assigned.alias("x")
        .join(assigned.alias("y"), "list_id")
        .where(F.col("x.id") < F.col("y.id"))
        .where(cosine >= threshold)
        .select(F.col("x.id").alias("id_a"), F.col("y.id").alias("id_b"))
    )
    comp = dedup_clusters(pairs)
    dropped = comp.where(F.col("doc_id") != F.col("cluster_id")).select(
        F.col("doc_id").alias("id")
    )
    out = (
        assigned.join(dropped.withColumn("__drop__", F.lit(True)), "id", "left")
        .select(
            F.col("id").alias(id_col),
            "list_id",
            F.coalesce(~F.col("__drop__"), F.lit(True)).alias("kept"),
        )
    )
    from bht_etl_app_spark.functions.lifecycle import carry, track_persisted

    # out's plan reads comp's checkpoint blocks (via `dropped`)
    return carry(track_persisted(out, assigned), comp)


def cluster_top_terms(
    assign: DataFrame,
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    assign_id_col: str = "vec_id",
    top_k: int = 5,
) -> DataFrame:
    """c-TF-IDF cluster labels (class-based TF-IDF, the BERTopic
    topic-representation formula): treat every cluster as one pseudo
    document and rank its characteristic terms.

    For term t in cluster c:
    ``tf = count of t in c``; ``idf = ln(1 + A / f_t)`` with ``A`` =
    average token count per cluster and ``f_t`` = corpus-wide count
    of t; ``score = tf * idf`` rounded to 6 dp. Output: top
    ``top_k`` terms per cluster ``(list_id, term, score, rank)``,
    ties broken alphabetically.

    Scale posture: one tokenize+explode projection, then two
    aggregations — per-(cluster, term) counts (shuffle keyed on
    (list_id, term) with map-side combine) and the term-level
    corpus counts (VOCABULARY-sized, same skew profile as
    ``text.tfidf_top_terms``'s docfreq, handled by partial
    aggregation); the grand totals ride a broadcast 1-row cross
    join. The per-cluster top-k is a grouped-window rank filtered
    to ``rank <= top_k`` — ``WindowGroupLimit``-eligible, so each
    cluster keeps a top_k heap instead of sorting its whole term
    list. Score arithmetic stays on integer counts until the final
    ln/multiply, so the only float ops are per-output-row —
    engine-portable without a fold discipline.
    """
    from pyspark.sql.window import Window

    from pyspark import StorageLevel

    from bht_etl_app_spark.functions.lifecycle import track_persisted
    from bht_etl_app_spark.operators.text import tokens_expr

    a = assign.select(F.col(assign_id_col).alias("doc_id"), "list_id")
    toks = ensure_min_parallelism(docs).select(
        F.col(id_col).alias("doc_id"),
        F.explode(tokens_expr(text_col)).alias("term"),
    )
    # (cluster, term) counts feed three consumers (scores, term
    # totals, grand totals) — persist the narrow aggregate, not the
    # token stream
    ct = (
        toks.join(a, "doc_id")
        .groupBy("list_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    f_t = ct.groupBy("term").agg(F.sum("tf").alias("f"))
    tot = ct.agg(
        F.sum("tf").alias("__tok_total__"),
        F.countDistinct("list_id").alias("__n_clusters__"),
    )
    scored = (
        ct.join(f_t, "term")
        .crossJoin(F.broadcast(tot))
        .select(
            "list_id",
            "term",
            F.bround(
                F.col("tf")
                * F.log(
                    F.lit(1.0)
                    + (
                        F.col("__tok_total__").cast("double")
                        / F.col("__n_clusters__").cast("double")
                    )
                    / F.col("f").cast("double")
                ),
                6,
            ).alias("score"),
        )
    )
    w = Window.partitionBy("list_id").orderBy(
        F.col("score").desc(), F.col("term").asc()
    )
    out = (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= top_k)
    )
    return track_persisted(out, ct)


def kcenter_select(
    emb: DataFrame,
    k: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Greedy k-center (farthest-point traversal) over the
    int8-quantized store — the classic 2-approximation to the k-center
    objective, used as DIVERSE SUBSET SELECTION in data curation
    (coreset seeding, eval-set picking, k-means++-style init): each
    round adds the point FARTHEST from everything selected so far, so
    the chosen set spreads across the embedding space instead of
    sampling the densest mode. Output: one row per selection,
    ``(sel_rank, vec_id, dist_sq)`` where ``dist_sq`` is the squared
    L2 distance to the previously-selected set at selection time (the
    monotonically non-increasing coverage-radius sequence; NULL for
    the seed). Seed = the smallest id (deterministic, no RNG — the
    ``kmeans_fit`` convention).

    Exactness: distances are INTEGER sums of squared int8-code
    deltas ((2·127)²·dim ≈ 4.1e6 — comfortably int64), argmax ties
    broken by smallest id; the whole trajectory is exact, so the
    DuckDB round-for-round replay hash-matches with no float
    discipline at all.

    Scale shape: k rounds; each is ONE corpus scan projecting the
    min-distance to an r-row literal center matrix (model parameters
    in the expression, the ``kmeans_fit`` shape) followed by a
    global top-1 that lowers to TakeOrderedAndProject (per-partition
    heaps, k·dim ints to the driver per round). Recomputing min-dist
    against all r centers keeps rounds STATELESS — no chained
    lineage, no caching obligations — at O(n·r·d) integer ops per
    round, the right trade until k reaches the hundreds.
    """
    from bht_etl_app_spark.operators.similarity import quantize_embeddings

    qz = quantize_embeddings(emb, id_col=id_col, vec_col=vec_col).select(
        F.col(id_col), "qvec"
    )
    seed = qz.orderBy(F.asc(id_col)).limit(1).head()
    if seed is None:
        raise ValueError("kcenter_select on an empty input")
    picked: list[tuple[int, list[int], int | None]] = [
        (seed[id_col], [int(x) for x in seed["qvec"]], None)
    ]
    for _ in range(1, int(k)):
        mat = F.array(
            *[F.array(*[F.lit(int(x)) for x in c]) for _, c, _ in picked]
        )
        dists = F.transform(
            mat,
            lambda c: F.aggregate(
                F.zip_with(
                    F.col("qvec"),
                    c,
                    lambda a, b: (a.cast("long") - b) * (a.cast("long") - b),
                ),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x,
            ),
        )
        top = (
            qz.select(F.col(id_col), "qvec", F.array_min(dists).alias("mind"))
            .orderBy(F.desc("mind"), F.asc(id_col))
            .limit(1)
            .head()
        )
        # coverage radius 0 means every remaining point duplicates a
        # selected center — picking one adds no diversity; stop (the
        # oracle mirrors this with WHERE mind > 0 before each argmax)
        if top is None or top["mind"] == 0:
            break
        picked.append(
            (top[id_col], [int(x) for x in top["qvec"]], int(top["mind"]))
        )
    spark = emb.sparkSession
    return local_frame(
        spark,
        [
            (r + 1, pid, dist)
            for r, (pid, _, dist) in enumerate(picked)
        ],
        "sel_rank long, vec_id long, dist_sq long",
    )


def kcenter_oracle_sql(k: int = 8) -> str:
    """Round-for-round DuckDB replay of :func:`kcenter_select`:
    unrolled MATERIALIZED CTE chain (the ``pagerank_oracle_sql``
    pattern — inlined CTE chains re-expand exponentially), one
    (distance-update, argmax) pair per round, exact integer
    arithmetic throughout."""
    from bht_etl_app_spark.operators.embstats import QUANTIZE_SQL_CTE

    def dist(outer: str, sel: str) -> str:
        return (
            f"(SELECT list_sum(list_transform(range(1, len({outer}.qvec) + 1),"
            f" i -> ({outer}.qvec[CAST(i AS INT)] - s.qvec[CAST(i AS INT)])"
            f" * ({outer}.qvec[CAST(i AS INT)] - s.qvec[CAST(i AS INT)])))"
            f" FROM {sel} s)"
        )

    parts = ["WITH " + QUANTIZE_SQL_CTE + ","]
    parts.append(
        "sel1 AS MATERIALIZED (SELECT vec_id, qvec FROM q"
        " ORDER BY vec_id LIMIT 1),"
    )
    parts.append(
        "d1 AS MATERIALIZED (SELECT q.vec_id, q.qvec,"
        f" {dist('q', 'sel1')} AS mind FROM q),"
    )
    for r in range(2, int(k) + 1):
        parts.append(
            f"sel{r} AS MATERIALIZED (SELECT vec_id, qvec, mind"
            f" FROM d{r - 1} WHERE mind > 0"
            f" ORDER BY mind DESC, vec_id LIMIT 1),"
        )
        if r < int(k):
            parts.append(
                f"d{r} AS MATERIALIZED (SELECT d.vec_id, d.qvec,"
                f" least(d.mind, {dist('d', f'sel{r}')}) AS mind"
                f" FROM d{r - 1} d),"
            )
    # strip the trailing comma of the last CTE
    parts[-1] = parts[-1].rstrip(",")
    selects = [
        "SELECT CAST(1 AS BIGINT) AS sel_rank, vec_id,"
        " CAST(NULL AS BIGINT) AS dist_sq FROM sel1"
    ]
    for r in range(2, int(k) + 1):
        selects.append(
            f"SELECT CAST({r} AS BIGINT) AS sel_rank, vec_id,"
            f" CAST(mind AS BIGINT) AS dist_sq FROM sel{r}"
        )
    return "\n".join(parts) + "\n" + "\nUNION ALL\n".join(selects)
