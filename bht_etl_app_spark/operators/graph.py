"""Graph operators over similarity/dedup pair lists: PageRank
centrality and centrality-based duplicate-cluster representative
selection.

Why an engine for training corpora carries PageRank: near-duplicate
clusters need a KEEPER, and "minimum doc_id" (the dedup.py default)
is arbitrary — the curation literature keeps the most REPRESENTATIVE
member instead. Within a similarity graph, that is the highest-
centrality vertex: the doc most connected to the rest of its cluster.
:func:`cluster_representatives` composes connected components
(dedup.dedup_clusters) with :func:`pagerank` to pick it.

Scale posture (100 TB):

- The pair list is the DEDUP graph — orders of magnitude smaller than
  the corpus (pairs above a similarity threshold), and the only thing
  shuffled here. Documents never enter.
- Each PageRank round is one co-partitioned edge⨝rank join (edges are
  repartitioned on src ONCE and persisted; every round's rank frame
  shuffles to the same partitioning) plus one contribution aggregation
  keyed on dst with map-side partial sums.
- ``num_iters`` is a fixed constant, so the WHOLE computation is one
  lazy plan — no per-round driver action, no collect (the one driver
  scalar is the vertex count, computed up front like the k-means
  seed). Rank mass is vertex-sized end to end.
- Float discipline (the kmeans_fit rule, applied in-dataflow): each
  round's rank is quantized to 12 dp, absorbing partial-sum ordering
  jitter (per-vertex sums are degree-bounded, error ~1e-16·deg per
  round) so results are partitioning-invariant and replayable by the
  DuckDB oracle's unrolled rounds.

PageRank on the SYMMETRIZED graph: every vertex in a pair list has
degree ≥ 1, so there is no dangling mass to redistribute — the
textbook complication disappears by construction.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from bht_etl_app_spark.session import local_frame

__all__ = [
    "pagerank",
    "cluster_representatives",
    "link_prediction_scores",
    "label_propagation_communities",
]


def pagerank(
    pairs: DataFrame,
    num_iters: int = 6,
    damping: float = 0.85,
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """PageRank over the undirected graph given as a unique pair list
    ``(id_a, id_b)`` (``id_a < id_b``, as every dedup operator here
    emits). Returns ``(id, rank)`` for every vertex that appears in a
    pair, ranks rounded to 6 dp, summing to ~1 over the graph.

    ``rank'(v) = (1-d)/N + d * Σ_{u ~ v} rank(u)/deg(u)`` for
    ``num_iters`` rounds from the uniform ``1/N`` start.
    """
    from pyspark import StorageLevel

    from bht_etl_app_spark.functions.lifecycle import track_persisted

    # the symmetrized edge list is read by three consumers (degree
    # table, the per-round join input, and r0's vertex set) — persist
    # it so the caller's pair computation (often a full jaccard/LSH
    # plan) runs ONCE, not once per consumer
    sym = (
        pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
        .union(pairs.select(F.col(id_b).alias("src"), F.col(id_a).alias("dst")))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    deg = sym.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    # edges carry their src degree from the start; partitioned on src
    # ONCE so each round's rank join is co-partitioned
    edges = (
        sym.join(deg, "src")
        .repartition("src")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    n = deg.count()  # driver scalar, computed once (primes the cache)
    if n == 0:
        # nothing downstream will ever read the caches — free eagerly
        sym.unpersist()
        edges.unpersist()
        spark = pairs.sparkSession
        return local_frame(spark, [], "id long, rank double")
    base = (1.0 - damping) / n
    ranks = deg.select("src", F.lit(1.0 / n).alias("rank"))
    for _ in range(num_iters):
        contribs = edges.join(ranks, "src").select(
            F.col("dst").alias("src"),
            (F.col("rank") / F.col("deg")).alias("c"),
        )
        ranks = contribs.groupBy("src").agg(
            F.round(F.lit(base) + F.lit(damping) * F.sum("c"), 12).alias("rank")
        )
    out = ranks.select(
        F.col("src").alias("id"), F.round("rank", 6).alias("rank")
    )
    return track_persisted(out, edges, sym)


def cluster_representatives(
    pairs: DataFrame,
    num_iters: int = 6,
    damping: float = 0.85,
) -> DataFrame:
    """Representative (keeper) per near-duplicate cluster: the member
    with the highest PageRank centrality within the pair graph, ties
    to the lowest id. Output: ``(cluster_id, rep_id, size)`` — one row
    per connected component of the pair list.

    The curation-grade alternative to min-id keeper selection: the
    chosen doc is the one most similar to the rest of its cluster.
    Composition: dedup.dedup_clusters (min-label components) ⨝
    :func:`pagerank`, then one per-cluster window argmax — cluster
    partitions are component-sized, never corpus-wide.
    """
    from pyspark import StorageLevel

    from bht_etl_app_spark.functions.lifecycle import carry, track_persisted
    from bht_etl_app_spark.operators.dedup import dedup_clusters

    # both sub-operators consume the pair list (components AND the
    # rank graph) — persist it so the caller's pair plan (a full
    # jaccard/LSH computation) runs once, not once per consumer
    pairs = pairs.persist(StorageLevel.MEMORY_AND_DISK)
    clusters = dedup_clusters(pairs)  # (doc_id, cluster_id)
    ranks = pagerank(pairs, num_iters=num_iters, damping=damping)
    joined = clusters.join(ranks, clusters["doc_id"] == ranks["id"]).select(
        "cluster_id", "doc_id", "rank"
    )
    w = Window.partitionBy("cluster_id").orderBy(
        F.desc("rank"), F.asc("doc_id")
    )
    out = (
        joined.withColumn("__rn__", F.row_number().over(w))
        .groupBy("cluster_id")
        .agg(
            F.min(F.when(F.col("__rn__") == 1, F.col("doc_id"))).alias("rep_id"),
            F.count(F.lit(1)).alias("size"),
        )
    )
    return carry(track_persisted(out, pairs), clusters, ranks)


def pagerank_oracle_sql(
    pairs_cte: str,
    num_iters: int = 6,
    damping: float = 0.85,
) -> dict[str, str]:
    """DuckDB oracles replaying :func:`pagerank` /
    :func:`cluster_representatives` with unrolled MATERIALIZED rounds
    (the bpe/kmeans unrolled-iteration pattern — inlined CTEs would
    re-expand the chain exponentially).

    ``pairs_cte``: WITH-clause text (no ``WITH`` keyword) defining a
    CTE ``pairs(id_a, id_b)`` — the edge list. Returns SQL for keys
    ``"pagerank"`` (``(id, rank)``) and ``"representatives"``
    (``(cluster_id, rep_id, size)``; components via recursive
    min-label reachability, keeper by (rank DESC, id ASC)).
    """
    # embed Python-computed doubles and CAST: bare 1.0/0.85 literals
    # parse as DECIMAL in DuckDB and decimal arithmetic would diverge
    # from Spark's double path
    d = f"CAST({float(damping)!r} AS DOUBLE)"
    one_minus_d = f"CAST({(1.0 - float(damping))!r} AS DOUBLE)"
    head = f"""
WITH RECURSIVE {pairs_cte},
und AS MATERIALIZED (
  SELECT id_a AS s, id_b AS t FROM pairs
  UNION
  SELECT id_b, id_a FROM pairs
),
deg AS MATERIALIZED (SELECT s AS src, count(*) AS deg FROM und GROUP BY 1),
nn AS MATERIALIZED (SELECT count(*) AS n FROM deg),
r0 AS MATERIALIZED (SELECT src, CAST(1.0 AS DOUBLE) / (SELECT n FROM nn) AS rank FROM deg)"""
    rounds = "".join(
        f""",
r{i + 1} AS MATERIALIZED (
  SELECT u.t AS src,
         round({one_minus_d} / (SELECT n FROM nn)
               + {d} * sum(r.rank / dg.deg), 12) AS rank
  FROM und u JOIN r{i} r ON u.s = r.src JOIN deg dg ON dg.src = u.s
  GROUP BY 1
)"""
        for i in range(num_iters)
    )
    pagerank_sql = (
        f"{head}{rounds}\n"
        f"SELECT src AS id, round(rank, 6) AS rank FROM r{num_iters}"
    )
    reps_sql = f"""{head}{rounds},
reach(id, r) AS (
  SELECT s, s FROM und
  UNION
  SELECT u.s, reach.r FROM und u JOIN reach ON u.t = reach.id
),
clusters AS (SELECT id AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY 1),
j AS (
  SELECT c.cluster_id, c.doc_id, rk.rank,
         row_number() OVER (PARTITION BY c.cluster_id
                            ORDER BY round(rk.rank, 6) DESC, c.doc_id ASC) AS rn
  FROM clusters c JOIN r{num_iters} rk ON rk.src = c.doc_id
)
SELECT cluster_id,
       min(CASE WHEN rn = 1 THEN doc_id END) AS rep_id,
       count(*) AS size
FROM j GROUP BY 1"""
    return {"pagerank": pagerank_sql, "representatives": reps_sql}


def triangle_stats(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """Triangle census of an undirected graph given as a unique pair
    list (``id_a < id_b`` — the shape every dedup/co-occurrence
    operator here emits): total triangles, wedges (open + closed
    2-paths), and the global clustering coefficient ``3T / W`` — the
    one-row graph-shape diagnostic that separates "clumpy communities"
    (high coefficient: co-purchase baskets, near-dup families) from
    "hub-and-spoke" noise. Output:
    ``(n_nodes, n_edges, n_triangles, n_wedges, global_clustering)``.

    Algorithm: the degree-ordered NODE-ITERATOR. Orient every edge
    from the endpoint earlier in the ``(degree, id)`` total order to
    the later one; each triangle {x,y,z} (ordered x<y<z) then exists
    as exactly ONE wedge at its smallest vertex, closed by one
    oriented edge — so triangles = oriented-wedge candidates
    semi-joined against the oriented edge list. The orientation is
    the classic skew bound: a hub of degree D contributes wedges only
    through its LOW-degree neighbors, capping candidate fan-out at
    O(m^1.5) total instead of Σ deg² (a single celebrity vertex
    otherwise generates D² candidates).

    Exactness: pure integer counting; the coefficient is one
    int/int division of exact counts (wedge power sums ride
    DECIMAL(38,0) against int64 overflow at web-graph degrees).

    Scale shape: degree aggregation (map-side combine), two
    co-keyed equi-joins to attach endpoint degrees, one self-join on
    the oriented source key (bounded by the orientation), one
    left-semi probe of the oriented edge set — every shuffle keys on
    a vertex id, nothing is ever quadratic in the graph.
    """
    from concurrent.futures import ThreadPoolExecutor

    from pyspark import StorageLevel, inheritable_thread_target

    # Materialize-or-recompute (r12 optimization): this operator runs
    # FOUR actions (triangles, nodes, edges, wedge power sum), and
    # every frame here derives from the caller's pair plan — often a
    # basket self-join over the whole fact table. Un-persisted, that
    # upstream evaluated once PER ACTION (4x; measured ~3x the
    # operator's wall at sf0.1). The edge list, the degree table, and
    # the oriented edge set (three consumers: both wedge arms + the
    # closing semi-join probe) are all edge-/vertex-sized — the
    # canonical things to materialize at 100 TB too. All actions
    # complete inside this function, so the caches are released
    # before returning — no lifecycle registry needed.
    e = pairs.select(
        F.col(id_a).cast("long").alias("a"), F.col(id_b).cast("long").alias("b")
    ).persist(StorageLevel.MEMORY_AND_DISK)
    # both endpoint legs from ONE explode per edge row, not a union of
    # two selects — Catalyst reuses nothing across the union's aliased
    # consumers (the dedup_clusters r12 rule)
    deg = (
        e.select(F.explode(F.array(F.col("a"), F.col("b"))).alias("v"))
        .groupBy("v")
        .agg(F.count(F.lit(1)).cast("long").alias("deg"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    ed = (
        e.join(deg.select(F.col("v").alias("a"), F.col("deg").alias("da")), "a")
        .join(deg.select(F.col("v").alias("b"), F.col("deg").alias("db")), "b")
    )
    a_first = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))
    )
    o = ed.select(
        F.when(a_first, F.col("a")).otherwise(F.col("b")).alias("src"),
        F.when(a_first, F.col("b")).otherwise(F.col("a")).alias("dst"),
        F.when(a_first, F.col("db")).otherwise(F.col("da")).alias("ddst"),
    ).persist(StorageLevel.MEMORY_AND_DISK)
    w1 = o.select("src", F.col("dst").alias("x"), F.col("ddst").alias("dx"))
    w2 = o.select("src", F.col("dst").alias("y"), F.col("ddst").alias("dy"))
    # keep each out-neighbor pair ONCE, ordered by the same total
    # order the orientation uses — the strict '<' also drops x == y
    x_first = (F.col("dx") < F.col("dy")) | (
        (F.col("dx") == F.col("dy")) & (F.col("x") < F.col("y"))
    )
    cands = (
        w1.join(w2, "src")
        .where(x_first)
        .select(F.col("x").alias("src"), F.col("y").alias("dst"))
    )
    # materialize e then deg once (these two actions ARE two of the
    # four outputs), then overlap the remaining independent jobs from
    # a driver thread pool (guide §2.6) — the wedge join's straggler
    # tail backfills with the trivial power-sum aggregate; each task
    # is wrapped at submit time so its job keeps the caller's job group
    edges = e.count()
    nodes = deg.count()
    spark = pairs.sparkSession
    with ThreadPoolExecutor(max_workers=2) as pool:
        # left-semi keeps every matched wedge row (one per CENTER
        # vertex — distinct centers are distinct triangles; semi join
        # preserves left multiplicity, it only collapses the build
        # side)
        f_tri = pool.submit(inheritable_thread_target(spark)(
            cands.join(o.select("src", "dst"), ["src", "dst"], "left_semi").count
        ))
        f_wedges = pool.submit(inheritable_thread_target(spark)(
            deg.agg(
                F.sum(
                    F.col("deg").cast("decimal(38,0)")
                    * (F.col("deg") - 1).cast("decimal(38,0)")
                ).alias("w2x")
            ).head
        ))
        tri = f_tri.result()
        wedges_row = f_wedges.result()
    for cached in (o, deg, e):
        cached.unpersist()
    wedges = int(wedges_row["w2x"]) // 2 if wedges_row["w2x"] is not None else 0
    coeff = (3.0 * float(tri) / float(wedges)) if wedges > 0 else None
    return local_frame(
        spark,
        [(nodes, edges, int(tri), wedges, coeff)],
        "n_nodes long, n_edges long, n_triangles long, n_wedges long,"
        " global_clustering double",
    )


def link_prediction_scores(
    pairs: DataFrame,
    top_k: int = 50,
    max_center_degree: int = 256,
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """Link prediction over an undirected unique pair list
    (``id_a < id_b``): for every NON-edge (u,v) with at least one
    common neighbor, the common-neighbor count and the Resource
    Allocation index ``RA = Σ_{w ∈ Γ(u)∩Γ(v)} 1/deg(w)`` (Zhou 2009
    — RA beats Adamic-Adar in link-prediction benchmarks and, unlike
    AA's ``1/ln deg``, needs no transcendental: ``1.0/deg`` is one
    correctly-rounded IEEE division, bit-identical across engines).
    The recommendation layer over the co-purchase graph ("customers
    who bought these together also...") and the missing-edge
    diagnostic over dedup graphs. Output: global top ``top_k`` by
    ``(ra, cn, ids)``: ``(id_u, id_v, common_neighbors, ra, rank)``.

    Exactness: cn is an exact integer; RA terms are 12dp-quantized
    doubles summed as DECIMAL(38,12) — an EXACT, order-free
    accumulation (the float-fold discipline without the fold); the
    one final decimal→double cast is re-quantized at 12dp because
    DuckDB's decimal→double cast is not correctly rounded.

    Scale shape: wedge enumeration at center w fans out deg(w)²,
    so centers above ``max_center_degree`` are EXCLUDED (the
    ``max_shingle_df`` stop-shingle argument: a hub shared by
    everyone carries ~no signal — RA weights it 1/deg ≈ 0 anyway —
    while costing the square of its degree; the cap is part of the
    operator's semantics and mirrored in the oracle). Everything
    shuffles on vertex ids or candidate pairs; the existing-edge
    subtraction is a left-anti equi-join; the global top-k lowers to
    TakeOrderedAndProject.
    """
    from pyspark import StorageLevel

    from bht_etl_app_spark.functions.lifecycle import track_persisted

    # the edge list has FOUR consumers (degree table, both wedge
    # arms via nbrs, the existing-edge anti-join) — persist it so the
    # caller's pair derivation (often a basket self-join or a full
    # LSH plan) runs once, not once per consumer (the pagerank rule)
    e = pairs.select(
        F.col(id_a).cast("long").alias("a"), F.col(id_b).cast("long").alias("b")
    ).persist(StorageLevel.MEMORY_AND_DISK)
    deg = (
        e.select(F.col("a").alias("v"))
        .unionAll(e.select(F.col("b").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).cast("long").alias("deg"))
    )
    nbrs = e.select(F.col("a").alias("w"), F.col("b").alias("x")).unionAll(
        e.select(F.col("b").alias("w"), F.col("a").alias("x"))
    )
    centers = nbrs.join(
        deg.select(F.col("v").alias("w"), "deg"), "w"
    ).where((F.col("deg") >= 2) & (F.col("deg") <= int(max_center_degree)))
    n1 = centers.select("w", "deg", F.col("x").alias("u"))
    n2 = centers.select("w", F.col("x").alias("v"))
    wedges = n1.join(n2, "w").where(F.col("u") < F.col("v"))
    non_edges = wedges.join(
        e.select(F.col("a").alias("u"), F.col("b").alias("v")),
        ["u", "v"],
        "left_anti",
    )
    term = F.bround(F.lit(1.0) / F.col("deg").cast("double"), 12).cast(
        "decimal(38,12)"
    )
    scored = non_edges.groupBy("u", "v").agg(
        F.count(F.lit(1)).cast("long").alias("common_neighbors"),
        F.sum(term).alias("__ra__"),
    )
    ra = F.bround(F.col("__ra__").cast("double"), 12)
    out = scored.select(
        F.col("u").alias("id_u"),
        F.col("v").alias("id_v"),
        "common_neighbors",
        ra.alias("ra"),
    )
    order = [
        F.desc("ra"),
        F.desc("common_neighbors"),
        F.asc("id_u"),
        F.asc("id_v"),
    ]
    ranked = out.orderBy(*order).limit(int(top_k))
    w = Window.orderBy(*order)
    return track_persisted(
        ranked.withColumn("rank", F.row_number().over(w).cast("long")), e
    )


def label_propagation_communities(
    pairs: DataFrame,
    num_rounds: int = 4,
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """Community detection by synchronous label propagation
    (Raghavan 2007) over an undirected unique pair list: every vertex
    starts as its own label; each round it adopts the most frequent
    label among its NEIGHBORS (ties -> smallest label). Communities
    are the coarser, denser cousin of connected components
    (``dedup.dedup_clusters``): CC merges anything touching, LPA
    splits a component along its sparse cuts — the topic/basket
    grouping layer over co-purchase and similarity graphs. Output:
    ``(id, community)`` for every vertex in a pair.

    Determinism: synchronous rounds + the (count desc, label asc)
    total-order tie-break make every round a pure function of the
    previous labelling — bit-identical across engines and
    partitionings with zero float anywhere. ``num_rounds`` is FIXED
    (not run-to-convergence): sync LPA can oscillate on bipartite
    structures, so a bounded unrolling is both the determinism and
    the termination story (the pagerank rule), and the oracle replays
    the same rounds as materialized CTEs.

    Scale shape: each round is one edge⨝label equi-join co-located
    on the symmetrized edge partitioning (persisted once, the
    pagerank pattern), a (vertex,label)-keyed count with map-side
    combine, and a vertex-keyed argmax window — everything keys on
    vertex ids, nothing quadratic; label frames are vertex-sized.
    """
    from pyspark import StorageLevel

    from bht_etl_app_spark.functions.lifecycle import track_persisted

    sym = (
        pairs.select(F.col(id_a).cast("long").alias("src"),
                     F.col(id_b).cast("long").alias("dst"))
        .union(
            pairs.select(F.col(id_b).cast("long").alias("src"),
                         F.col(id_a).cast("long").alias("dst"))
        )
        .repartition("src")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    labels = sym.select(F.col("src").alias("v")).distinct().select(
        "v", F.col("v").alias("lab")
    )
    w = Window.partitionBy("v").orderBy(F.desc("cnt"), F.asc("lab"))
    for _ in range(int(num_rounds)):
        msgs = sym.join(
            labels.withColumnRenamed("v", "src"), "src"
        ).select(F.col("dst").alias("v"), "lab")
        counts = msgs.groupBy("v", "lab").agg(
            F.count(F.lit(1)).alias("cnt")
        )
        labels = (
            counts.withColumn("__rn__", F.row_number().over(w))
            .where(F.col("__rn__") == 1)
            .select("v", "lab")
        )
    out = labels.select(F.col("v").alias("id"), F.col("lab").alias("community"))
    return track_persisted(out, sym)


def label_propagation_oracle_sql(
    edges_cte: str, num_rounds: int = 4
) -> str:
    """DuckDB twin of :func:`label_propagation_communities`:
    ``edges_cte`` must define ``e(a, b)`` with ``a < b``; rounds are
    unrolled as MATERIALIZED CTEs (the pagerank-oracle rule — DuckDB
    re-inlines chained CTEs exponentially otherwise)."""
    parts = [
        edges_cte,
        """sym AS MATERIALIZED (
  SELECT a AS src, b AS dst FROM e UNION ALL SELECT b AS src, a AS dst FROM e
)""",
        """l0 AS MATERIALIZED (
  SELECT DISTINCT src AS v, src AS lab FROM sym
)""",
    ]
    for i in range(int(num_rounds)):
        parts.append(f"""c{i + 1} AS MATERIALIZED (
  SELECT s.dst AS v, l.lab, count(*) AS cnt
  FROM sym s JOIN l{i} l ON s.src = l.v
  GROUP BY 1, 2
)""")
        parts.append(f"""l{i + 1} AS MATERIALIZED (
  SELECT v, lab FROM c{i + 1}
  QUALIFY row_number() OVER (PARTITION BY v ORDER BY cnt DESC, lab) = 1
)""")
    return (
        "WITH " + ",\n".join(parts)
        + f"\nSELECT v AS id, lab AS community FROM l{int(num_rounds)}"
    )


# degree-from-endpoint-union SQL, shared verbatim by every oracle
# that derives degrees from e(a, b) (triangles + degree histogram)
DEGREE_CTE = """deg AS (
  SELECT v, CAST(count(*) AS BIGINT) AS deg
  FROM (SELECT a AS v FROM e UNION ALL SELECT b AS v FROM e)
  GROUP BY v
)"""


def degree_histogram(

    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """Degree distribution of an undirected unique pair list — the
    first graph-shape question (power law or uniform? any hubs the
    banded/wedge operators' caps must worry about?): ``(degree,
    n_nodes, share)`` per distinct degree. Pure integer counting;
    ``share`` is one int/int division, 12dp-quantized.

    Scale shape: two map-side-combining aggregates (vertex → degree,
    degree → count) + a 1-row total broadcast for the share — the
    histogram is |distinct degrees|-sized, never graph-sized.
    """
    e = pairs.select(
        F.col(id_a).cast("long").alias("a"), F.col(id_b).cast("long").alias("b")
    )
    # one explode per edge row, not a union of two aliased selects —
    # the union's legs would each evaluate the caller's pair plan
    # (the dedup_clusters r12 rule)
    deg = (
        e.select(F.explode(F.array(F.col("a"), F.col("b"))).alias("v"))
        .groupBy("v")
        .agg(F.count(F.lit(1)).cast("long").alias("deg"))
    )
    hist = deg.groupBy(F.col("deg").alias("degree")).agg(
        F.count(F.lit(1)).cast("long").alias("n_nodes")
    )
    tot = hist.agg(F.sum("n_nodes").cast("long").alias("__t__"))
    return hist.crossJoin(F.broadcast(tot)).select(
        "degree",
        "n_nodes",
        F.bround(
            F.col("n_nodes").cast("double") / F.col("__t__").cast("double"),
            12,
        ).alias("share"),
    )


def degree_histogram_oracle_sql(edges_cte: str) -> str:
    """DuckDB twin of :func:`degree_histogram`; ``edges_cte`` defines
    ``e(a, b)`` (the shared co-purchase fragment)."""
    return (
        "WITH " + edges_cte + ",\n" + DEGREE_CTE + """,
hist AS (
  SELECT deg AS degree, CAST(count(*) AS BIGINT) AS n_nodes
  FROM deg GROUP BY 1
),
tot AS (SELECT CAST(sum(n_nodes) AS BIGINT) AS t FROM hist)
SELECT degree, n_nodes,
       round_even(CAST(n_nodes AS DOUBLE) / CAST(t AS DOUBLE), 12) AS share
FROM hist CROSS JOIN tot
"""
    )
