"""Similarity-search queries (Tier C — SURVEY.md §2.3 J6, §2.5 W3, §2.12-3).

dims=64 matches the fixture embeddings; at other widths the operators take
the dimension as a parameter (it's a config constant, like the reference's
300 at worker.py:78).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..operators import clustering, graph, similarity
from ..sources import load_table
from .registry import register

DIMS = 64
NEAR_DUP_COSINE = 0.3  # fixture embeddings are near-orthogonal random; 0.3 ≈ p99


@register("sim_cosine_topk", oracle=similarity.topk_sql(5))
def sim_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-5 per query vector (brute force — the recall oracle
    for any ANN variant)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.topk(emb, 5)


@register("sim_cosine_near_dups", oracle=similarity.neighbors_above_sql(NEAR_DUP_COSINE))
def sim_cosine_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space near-duplicate pairs (cosine >= threshold)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.neighbors_above(emb, NEAR_DUP_COSINE)


@register("sim_lsh_ann", oracle=similarity.lsh_ann_sql(DIMS, 3))
def sim_lsh_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-3 via random-hyperplane LSH buckets + exact in-bucket
    rerank — the 100 TB path (bucket equi-join replaces the quadratic cross
    join)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.lsh_ann(emb, DIMS, 3)


@register(
    "sim_lsh_ann_multiprobe", oracle=similarity.lsh_ann_sql(DIMS, 3, multiprobe=True)
)
def sim_lsh_ann_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe LSH top-3: each query also probes its 8 Hamming-1
    neighbor buckets (one sign bit flipped) — strictly higher recall than
    sim_lsh_ann with the same single equi-join shuffle shape (the probe side
    explodes 9x, the build side and shuffle key are unchanged)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.lsh_ann(emb, DIMS, 3, multiprobe=True)


@register("sim_label_centroids", oracle=similarity.LABEL_CENTROIDS_SQL)
def sim_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean embedding per label, long form (vector aggregation / IVF
    training-step shape)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.label_centroids(emb)


KNN_GRAPH_K = 5


@register(
    "sim_knn_graph_mutual",
    oracle=f"""
WITH t AS ({similarity.topk_sql(KNN_GRAPH_K)})
SELECT a.query_id AS src, a.neighbor_id AS dst, a.cosine,
       CAST(a.rk AS INT) AS rk_forward, CAST(b.rk AS INT) AS rk_backward
FROM t a JOIN t b
  ON a.query_id = b.neighbor_id AND a.neighbor_id = b.query_id
WHERE a.query_id < a.neighbor_id
""",
)
def sim_knn_graph_mutual(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual-kNN graph: undirected edges kept only when BOTH endpoints
    rank each other inside their top-{KNN_GRAPH_K} — the standard
    symmetrization that turns a kNN list into a clustering / manifold
    graph (one-directional edges are mostly hub noise: a popular vector is
    in everyone's top-k without reciprocating).

    Scale shape: the kNN lists come from the tiled brute-force kernel
    (swap in lsh_ann for the 100 TB path — same output contract); the
    mutuality check is a self-equi-join of the n*k edge list on the
    swapped (query, neighbor) pair — a plain shuffle join on a composite
    key, both sides n*k rows, never n². Edge weight is the forward cosine;
    the rounded score is symmetric, so orientation cannot change it."""
    emb = load_table(spark, sf_dir, "embeddings")
    t = similarity.topk(emb, KNN_GRAPH_K)
    a, b = t.alias("a"), t.alias("b")
    return (
        a.join(
            b,
            (F.col("a.query_id") == F.col("b.neighbor_id"))
            & (F.col("a.neighbor_id") == F.col("b.query_id")),
        )
        .where(F.col("a.query_id") < F.col("a.neighbor_id"))
        .select(
            F.col("a.query_id").alias("src"),
            F.col("a.neighbor_id").alias("dst"),
            F.col("a.cosine").alias("cosine"),
            F.col("a.rk").alias("rk_forward"),
            F.col("b.rk").alias("rk_backward"),
        )
    )


@register("sim_pagerank_knn", oracle=graph.pagerank_sql())
def sim_pagerank_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Damped PageRank (2 unrolled power iterations) over the mutual-kNN
    similarity graph — hub/centrality scoring of the embedding corpus,
    with the ITERATION itself oracle-checked cross-engine (round-12
    decimal contribution grid; see operators/graph.py)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return graph.pagerank_knn(emb)


@register("sim_kmeans_portable", oracle=clustering.kmeans_sql())
def sim_kmeans_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-iteration Lloyd KMeans with a DuckDB oracle — a distributed
    ITERATIVE algorithm verified cross-engine (operators/clustering.py:
    deterministic lowest-id seeding, sequential-fold distances,
    lexicographic argmin, round-6 DECIMAL means). The [Q] companion to
    the MLlib-backed sim_ivf_ann, whose library-private KMeans can only
    be rows-only; the same centroids are exactly the IVF coarse lists."""
    emb = load_table(spark, sf_dir, "embeddings")
    return clustering.kmeans(emb)


@register("sim_pq_quantize", oracle=clustering.pq_sql())
def sim_pq_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product quantization train→encode→distortion profile: 2 subspace
    codebooks (portable KMeans, 8 codes each = 6 bits/vector vs 2048),
    every vector encoded as its nearest-code tuple, per-cell count +
    mean squared quantization error. The whole pipeline — including the
    subspace clustering — is oracle-checked (operators/clustering.py)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return clustering.pq_quantize(emb)


@register("sim_ivfpq_search", oracle=clustering.ivfpq_sql())
def sim_ivfpq_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ ADC search: coarse KMeans lists bound the candidates
    (nprobe=1), PQ code centroids supply the asymmetric distances, top-3
    per query — the full compressed-index ANN stack (train coarse, train
    codebooks, encode, search) in ONE oracle-checked plan. The neighbor
    side joins only its 6-bit code tuple; raw vectors never join
    (operators/clustering.py::ivfpq_search)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return clustering.ivfpq_search(emb)


@register("sim_semdedup_prune", oracle=clustering.semdedup_sql())
def sim_semdedup_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup semantic near-duplicate pruning (cluster-then-dedup,
    Abbas et al. 2023): portable-KMeans clusters bound the pair search,
    then keep-first-by-id inside each cluster at cosine > 0.3. Returns
    the PRUNED rows with their smallest witness — the drop list a
    curation pipeline would anti-join against the corpus. Fully
    oracle-checked including the clustering (operators/clustering.py)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return clustering.semdedup_prune(emb)


@register("sim_ivf_portable", oracle=clustering.ivf_search_sql())
def sim_ivf_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF train -> index -> search in one ORACLE-CHECKED plan: portable
    KMeans coarse lists (sim_kmeans_portable's centroids), a final
    assignment pass as the inverted index, and exact cosine top-3 inside
    each query's own list (nprobe=1). Approximate by design — the oracle
    runs the SAME lists, so the check is exact over the declared
    candidate set (the sim_lsh_ann pattern); recall vs brute force is the
    operator-level test's job (tests/test_wave14.py)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return clustering.ivf_search(emb)


@register("sim_dbscan", oracle=clustering.dbscan_sql())
def sim_dbscan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grid-accelerated DBSCAN over the 2D JL projection of the
    embeddings: every point is labeled core / border / noise and density-
    connected components get the MIN core vec_id as their cluster label.
    The Spark plan never forms n² pairs — points bucket into eps-sized
    grid cells and probe only their 3x3 neighborhood through ONE equi-
    join (9n probe rows), the exact-recall analog of LSH banding for
    fixed-radius search; connectivity reuses dedup's min-label
    propagation. The DuckDB oracle is the UNPRUNED brute-force n² join +
    recursive-CTE closure, so the cell pruning itself is what the check
    proves (operators/clustering.py::dbscan)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return clustering.dbscan(emb)


def _recall_sql() -> str:
    """One row per ANN method: hits against the brute-force top-3 truth.
    Each method's full pipeline SQL nests as a parenthesized WITH
    subquery, so the report re-states every index end-to-end."""
    methods = {
        "lsh": similarity.lsh_ann_sql(DIMS, 3),
        "lsh_multiprobe": similarity.lsh_ann_sql(DIMS, 3, multiprobe=True),
        "ivf": clustering.ivf_search_sql(),
    }
    arms = "\nUNION ALL\n".join(
        f"""SELECT '{name}' AS method,
       (SELECT count(*) FROM truth) AS n_expected,
       (SELECT count(*) FROM truth t
        JOIN ({sql}) m
          ON m.query_id = t.query_id AND m.neighbor_id = t.neighbor_id)
         AS n_hit
FROM (SELECT 1)"""
        for name, sql in methods.items()
    )
    return f"""
WITH truth AS (SELECT query_id, neighbor_id FROM ({similarity.topk_sql(3)}))
SELECT method, CAST(n_expected AS BIGINT) AS n_expected,
       CAST(n_hit AS BIGINT) AS n_hit,
       CAST(n_hit AS DOUBLE) / CAST(n_expected AS DOUBLE) AS recall
FROM ({arms})
"""


@register("sim_recall_report", oracle=_recall_sql())
def sim_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN index-quality report, computed IN-ENGINE: recall@3 of every
    approximate method (single-bucket LSH, multi-probe LSH, IVF nprobe=1)
    against the brute-force truth — the monitoring query a production
    vector platform runs to detect index/recall drift after re-training
    or data shift. The oracle re-states all four pipelines end-to-end,
    so the report itself is hash-checked; recall is an exact division of
    integer counts (bit-identical doubles).

    Scale shape: truth comes from the tiled brute-force kernel over a
    SAMPLE at real scale (swap the input for a hash-sampled slice — the
    report needs statistical, not exhaustive, truth); each method arm is
    its own bounded pipeline, and the hit join keys on (query, neighbor)
    pairs — n·k rows per side."""
    from ..cache import persist_tracked

    emb = load_table(spark, sf_dir, "embeddings")
    truth = similarity.topk(emb, 3).select("query_id", "neighbor_id")
    arms = {
        "lsh": similarity.lsh_ann(emb, DIMS, 3),
        "lsh_multiprobe": similarity.lsh_ann(emb, DIMS, 3, multiprobe=True),
        "ivf": clustering.ivf_search(emb),
    }
    spark_truth = persist_tracked(truth)
    out = None
    for name, df in arms.items():
        hits = spark_truth.join(
            df.select("query_id", "neighbor_id"), ["query_id", "neighbor_id"]
        )
        row = (
            spark_truth.agg(F.count("*").alias("n_expected"))
            .crossJoin(hits.agg(F.count("*").alias("n_hit")))
            .select(
                F.lit(name).alias("method"),
                F.col("n_expected").cast("bigint"),
                F.col("n_hit").cast("bigint"),
                (
                    F.col("n_hit").cast("double")
                    / F.col("n_expected").cast("double")
                ).alias("recall"),
            )
        )
        out = row if out is None else out.unionByName(row)
    return out


# ---------------------------------------------------------------------------
# Adamic-Adar link prediction over the mutual-kNN graph (built r8, staged r9)
# ---------------------------------------------------------------------------


def _mutual_edges(t: DataFrame) -> DataFrame:
    """src<dst mutual edges from any kNN list (query_id, neighbor_id, ...).

    The kNN producer is pluggable: the exact broadcast-tile `topk` kernel
    for eval-sized ground truth, or `lsh_ann` for the corpus-scale path —
    both emit the same (query_id, neighbor_id) contract, so the graph
    algebra downstream is producer-agnostic."""
    a, b = t.alias("a"), t.alias("b")
    return (
        a.join(
            b,
            (F.col("a.query_id") == F.col("b.neighbor_id"))
            & (F.col("a.neighbor_id") == F.col("b.query_id")),
        )
        .where(F.col("a.query_id") < F.col("a.neighbor_id"))
        .select(
            F.col("a.query_id").alias("src"),
            F.col("a.neighbor_id").alias("dst"),
        )
    )


def _aa_sql(t_sql: str) -> str:
    return f"""
WITH t AS ({t_sql}),
edges AS (
  SELECT a.query_id AS src, a.neighbor_id AS dst
  FROM t a JOIN t b
    ON a.query_id = b.neighbor_id AND a.neighbor_id = b.query_id
  WHERE a.query_id < a.neighbor_id
),
und AS (
  SELECT src AS u, dst AS v FROM edges
  UNION ALL SELECT dst, src FROM edges
),
deg AS (SELECT u AS node, CAST(count(*) AS BIGINT) AS deg FROM und GROUP BY u),
cand AS (
  SELECT e1.u AS u, e2.v AS v, e1.v AS z
  FROM und e1 JOIN und e2 ON e1.v = e2.u
  WHERE e1.u < e2.v
),
noedge AS (
  SELECT c.u, c.v, c.z
  FROM cand c LEFT JOIN edges e ON e.src = c.u AND e.dst = c.v
  WHERE e.src IS NULL
)
SELECT n.u AS src, n.v AS dst, CAST(count(*) AS BIGINT) AS n_common,
       CAST(sum(CAST(round(1.0 / log10(CAST(d.deg AS DOUBLE)), 8)
                     AS DECIMAL(20,8))) AS DOUBLE) AS aa_score
FROM noedge n JOIN deg d ON d.node = n.z
GROUP BY n.u, n.v
"""


def _adamic_adar(edges_in: DataFrame) -> DataFrame:
    """The AA graph algebra over a src<dst edge list — shared verbatim by
    the exact-kNN and lsh_ann edge producers (identical output contract)."""
    from ..cache import checkpoint_tracked, persist_tracked

    # r12: checkpoint the edge producer (lineage cut — the sim_hits_ann
    # finding: consumers re-plan a cached producer's full tree) and
    # persist the doubled list its joins fan out over.
    edges = checkpoint_tracked(edges_in)
    und = persist_tracked(
        edges.select(
            F.col("src").alias("u"), F.col("dst").alias("v")
        ).unionAll(
            edges.select(F.col("dst").alias("u"), F.col("src").alias("v"))
        )
    )
    deg = und.groupBy(F.col("u").alias("node")).agg(
        F.count("*").cast("bigint").alias("deg")
    )
    e1 = und.select(F.col("u"), F.col("v").alias("z"))
    e2 = und.select(F.col("u").alias("z2"), F.col("v"))
    cand = e1.join(e2, e1["z"] == e2["z2"]).where(
        F.col("u") < F.col("v")
    ).select("u", "v", "z")
    noedge = cand.join(
        edges,
        (cand["u"] == edges["src"]) & (cand["v"] == edges["dst"]),
        "left_anti",
    )
    term = F.round(
        F.lit(1.0) / F.log10(F.col("deg").cast("double")), 8
    ).cast("decimal(20,8)")
    return (
        noedge.join(deg, noedge["z"] == deg["node"])
        .select("u", "v", term.alias("term"))
        .groupBy("u", "v")
        .agg(
            F.count("*").cast("bigint").alias("n_common"),
            F.sum("term").cast("double").alias("aa_score"),
        )
        .select(
            F.col("u").alias("src"),
            F.col("v").alias("dst"),
            "n_common",
            "aa_score",
        )
    )


@register("sim_adamic_adar_links", oracle=_aa_sql(similarity.topk_sql(KNN_GRAPH_K)))
def sim_adamic_adar_links(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adamic-Adar link prediction on the mutual-kNN similarity graph:
    for every non-adjacent pair (u, v) sharing at least one common
    neighbor, score sum_z 1/log10(deg(z)) over the common neighbors z —
    rare shared neighbors say more than hub ones. This is the
    graph-side near-duplicate/recommendation miner that complements the
    geometric ones: it predicts which vectors WOULD be neighbors from
    graph structure alone (no new kernel passes), the basis of
    cluster-repair and candidate augmentation over kNN indexes.

    Exactness: degrees are exact integers from the mutual edge list;
    each 1/log10(deg) term rounds to 8dp DECIMAL before the exact sum
    (deg >= 2 by construction — a common neighbor is adjacent to both u
    and v — so log10 never sees 1). Ranking-free output: every scored
    pair is emitted.

    Scale shape: the edge list is n*k rows (k={KNN_GRAPH_K}); the
    triangle-path join und><und on the shared endpoint is bounded by
    sum_z deg(z)^2 <= n*k^2 candidates — a bounded-degree self equi-join,
    never n^2; the existing-edge removal is a left-anti hash join and
    degrees reduce map-side. The kernel-built edge list is persisted so
    its 5 consumers (two join sides, degrees, anti probe, build) reuse
    one materialization instead of re-running the broadcast-tile kernel.

    This EXACT form is the eval-sized ground-truth witness: the kNN edge
    build is the tiled brute-force kernel (probe x build — measured 54x
    wall under 10x data, SCALE.md r8). The registered corpus-scale form
    is sim_adamic_adar_links_ann (lsh_ann edge build, linear shuffle)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return _adamic_adar(_mutual_edges(similarity.topk(emb, KNN_GRAPH_K)))


@register(
    "sim_adamic_adar_links_ann",
    oracle=_aa_sql(similarity.lsh_ann_sql(DIMS, KNN_GRAPH_K)),
)
def sim_adamic_adar_links_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adamic-Adar link prediction with the edge list built from lsh_ann
    (bucketed approximate kNN) instead of the exact broadcast-tile kernel —
    the 100 TB form. The graph algebra (_adamic_adar) is shared verbatim
    with the exact witness sim_adamic_adar_links; only the kNN producer
    differs, and the producer is the scale story: lsh_ann's candidate
    generation is a bucket equi-join (shuffle ~ vectors x probes), so the
    whole query is linear-shuffle end-to-end where the exact form's
    kernel was probe x build quadratic (SCALE.md r8: 54x wall at 10x).

    The oracle re-states the SAME lsh_ann pipeline in DuckDB (the pairing
    proved bit-identical by the green sim_lsh_ann row since r2), so this
    is a full [Q] hash-checked query, not a weaker recall-only check —
    recall vs the exact edge list is additionally bounded in
    tests/test_retrieval.py."""
    emb = load_table(spark, sf_dir, "embeddings")
    return _adamic_adar(
        _mutual_edges(similarity.lsh_ann(emb, DIMS, KNN_GRAPH_K))
    )


# ---------------------------------------------------------------------------
# Triangle count + local clustering coefficient (built r12, staged r13)
# ---------------------------------------------------------------------------

def _tri_sql(t_sql: str) -> str:
    return f"""
WITH t AS ({t_sql}),
edges AS (
  SELECT a.query_id AS src, a.neighbor_id AS dst
  FROM t a JOIN t b
    ON a.query_id = b.neighbor_id AND a.neighbor_id = b.query_id
  WHERE a.query_id < a.neighbor_id
),
und AS (
  SELECT src AS u, dst AS v FROM edges
  UNION ALL SELECT dst, src FROM edges
),
deg AS (SELECT u AS node, CAST(count(*) AS BIGINT) AS deg FROM und GROUP BY u),
tri AS (
  SELECT e1.src AS a, e1.dst AS b, e3.dst AS c
  FROM edges e1
  JOIN edges e2 ON e2.src = e1.dst
  JOIN edges e3 ON e3.src = e1.src AND e3.dst = e2.dst
),
tcnt AS (
  SELECT node, CAST(count(*) AS BIGINT) AS triangles
  FROM (
    SELECT a AS node FROM tri
    UNION ALL SELECT b FROM tri
    UNION ALL SELECT c FROM tri
  ) GROUP BY node
)
SELECT d.node, d.deg,
       CAST(coalesce(t.triangles, 0) AS BIGINT) AS triangles,
       round(2.0 * coalesce(t.triangles, 0)
             / (d.deg * (d.deg - 1)), 9) AS lcc
FROM deg d LEFT JOIN tcnt t ON t.node = d.node
WHERE d.deg >= 2
"""


def _triangles(edges_in: DataFrame) -> DataFrame:
    """Per-node triangle participation + local clustering coefficient
    over a src<dst edge list — shared verbatim by the exact-kNN and
    lsh_ann edge producers (the _adamic_adar convention). Triangles
    enumerate once each as a<b<c via two bounded-degree equi-joins on
    the half-list; per-node counts come from the 3-way unpivot."""
    from ..cache import checkpoint_tracked, persist_tracked

    # r12: checkpoint the edge producer (lineage cut — the sim_hits_ann
    # finding: consumers re-plan a cached producer's full tree) and
    # persist the doubled list its joins fan out over.
    edges = checkpoint_tracked(edges_in)
    und = persist_tracked(
        edges.select(
            F.col("src").alias("u"), F.col("dst").alias("v")
        ).unionAll(
            edges.select(F.col("dst").alias("u"), F.col("src").alias("v"))
        )
    )
    deg = und.groupBy(F.col("u").alias("node")).agg(
        F.count("*").cast("bigint").alias("deg")
    )
    e1 = edges.select(F.col("src").alias("a"), F.col("dst").alias("b"))
    e2 = edges.select(F.col("src").alias("b2"), F.col("dst").alias("c"))
    e3 = edges.select(F.col("src").alias("a3"), F.col("dst").alias("c3"))
    tri = (
        e1.join(e2, F.col("b") == F.col("b2"))
        .join(e3, (F.col("a") == F.col("a3")) & (F.col("c") == F.col("c3")))
        .select("a", "b", "c")
    )
    nodes = (
        tri.select(F.col("a").alias("node"))
        .unionAll(tri.select(F.col("b").alias("node")))
        .unionAll(tri.select(F.col("c").alias("node")))
    )
    tcnt = nodes.groupBy("node").agg(
        F.count("*").cast("bigint").alias("triangles")
    )
    t = F.coalesce(F.col("triangles"), F.lit(0))
    return (
        deg.join(tcnt, "node", "left")
        .where(F.col("deg") >= 2)
        .select(
            "node", "deg",
            t.cast("bigint").alias("triangles"),
            F.round(
                F.lit(2.0) * t / (F.col("deg") * (F.col("deg") - 1)), 9
            ).alias("lcc"),
        )
    )


@register(
    "sim_triangle_count",
    oracle=_tri_sql(similarity.topk_sql(KNN_GRAPH_K)),
)
def sim_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle count + local clustering coefficient on the
    mutual-kNN similarity graph (built r12, staged r13) — the COHESION
    member of the graph family: pagerank ranks nodes, HITS splits
    hub/authority roles, k-core peels the dense core, adamic-adar
    predicts missing links; the clustering coefficient measures how
    CLIQUE-LIKE each node's neighborhood already is (lcc ~ 1 flags a
    tight duplicate/paraphrase cluster worth collapsing, lcc ~ 0 a hub
    bridging unrelated regions — the classic semantic-hub smell in
    embedding graphs). Triangles enumerate exactly once as ordered
    a<b<c paths through the src<dst half-list.

    Exactness: pure integer combinatorics (degrees and triangle counts
    are exact BIGINTs); lcc = 2T/(deg*(deg-1)) is one double division
    of exact <2^53 integers rounded to the 9dp grid — identical
    expression shape in both engines. Nodes with deg < 2 carry no
    wedge and drop explicitly.

    Scale shape: mutual-kNN degree is capped at k={KNN_GRAPH_K}, so
    the two triangle equi-joins are bounded-degree (n*k^2 candidate
    paths, never n^2); degrees and per-node counts reduce map-side;
    the persisted edge list is reused by all five consumers. This
    EXACT form is the eval-sized ground-truth witness (the kNN edge
    build is the tiled brute-force kernel — the adamic_adar/kcore
    convention); the corpus-scale form is sim_triangle_count_ann."""
    emb = load_table(spark, sf_dir, "embeddings")
    return _triangles(_mutual_edges(similarity.topk(emb, KNN_GRAPH_K)))


@register(
    "sim_triangle_count_ann",
    oracle=_tri_sql(similarity.lsh_ann_sql(DIMS, KNN_GRAPH_K)),
)
def sim_triangle_count_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle count / clustering coefficient with the edge list built
    from lsh_ann (bucketed approximate kNN) instead of the exact
    broadcast-tile kernel — the 100 TB form, sharing the _triangles
    algebra verbatim with the exact witness (the adamic_adar_links_ann
    convention). The producer is the scale story: lsh_ann's candidate
    generation is a bucket equi-join (shuffle ~ vectors x probes), so
    the whole query is linear-shuffle end-to-end; downstream the
    bounded-degree triangle joins cost n*k^2 regardless of producer.
    The oracle re-states the SAME lsh_ann pipeline in DuckDB (the
    pairing proved bit-identical by the green sim_lsh_ann row since
    r2), so this is a full [Q] hash-checked query."""
    emb = load_table(spark, sf_dir, "embeddings")
    return _triangles(
        _mutual_edges(similarity.lsh_ann(emb, DIMS, KNN_GRAPH_K))
    )


# ---------------------------------------------------------------------------
# ColBERT-style maxsim late interaction (built r8, staged r9)
# ---------------------------------------------------------------------------

_MAXSIM_K = 3
_MAXSIM_PROBE_MOD = 50  # every 50th vector plays the query role


@register(
    "sim_maxsim_late_interaction",
    oracle=similarity.maxsim_topk_sql(
        _MAXSIM_K, probe_pred=f"q.vec_id % {_MAXSIM_PROBE_MOD} = 0"
    ),
)
def sim_maxsim_late_interaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-vector (late-interaction / ColBERT-style) retrieval: every
    embedding is read as 8 token-vectors of 8 dims; relevance is the
    mean over query tokens of the max cosine against the candidate's
    tokens, and each probe (every 50th vector — the
    query-vs-corpus asymmetry retrieval actually has) gets its
    top-3. Maxsim is the standard upgrade over single-vector
    cosine when queries and documents match on PARTS (a query token
    should find its best-matching doc token, not be averaged away).

    Exactness + scale: see operators/similarity.py::maxsim_topk — exact
    integer micro-unit scores (rank ties engine-free), seq-fold token
    cosines, broadcast build side with probe streaming, probe-chunked
    interaction tensor; the n^2-by-token-pair expansion exists only in
    the DuckDB oracle twin."""
    emb = load_table(spark, sf_dir, "embeddings")
    probe = emb.where(F.col("vec_id") % _MAXSIM_PROBE_MOD == 0)
    return similarity.maxsim_topk(emb, _MAXSIM_K, probe=probe)


# ---------------------------------------------------------------------------
# k-core peeling profile of the mutual-kNN graph (built r8, staged r9)
# ---------------------------------------------------------------------------

_KCORE_K = 3       # minimum in-subgraph degree to survive a peel round
_KCORE_ROUNDS = 3  # unrolled peel rounds (the pagerank/kmeans convention)

def _kcore_sql(t_sql: str) -> str:
    return f"""
WITH t AS ({t_sql}),
edges AS (
  SELECT a.query_id AS src, a.neighbor_id AS dst
  FROM t a JOIN t b
    ON a.query_id = b.neighbor_id AND a.neighbor_id = b.query_id
  WHERE a.query_id < a.neighbor_id
),
und AS (
  SELECT src AS u, dst AS v FROM edges
  UNION ALL SELECT dst, src FROM edges
),
d0 AS (SELECT u AS node, CAST(count(*) AS BIGINT) AS deg FROM und GROUP BY u),
a1 AS (SELECT node FROM d0 WHERE deg >= {_KCORE_K}),
d1 AS (
  SELECT e.u AS node, count(*) AS deg FROM und e
  JOIN a1 x ON x.node = e.u JOIN a1 y ON y.node = e.v
  GROUP BY e.u
),
a2 AS (SELECT node FROM d1 WHERE deg >= {_KCORE_K}),
d2 AS (
  SELECT e.u AS node, count(*) AS deg FROM und e
  JOIN a2 x ON x.node = e.u JOIN a2 y ON y.node = e.v
  GROUP BY e.u
),
a3 AS (SELECT node FROM d2 WHERE deg >= {_KCORE_K})
SELECT d0.node, d0.deg AS deg0,
       CAST(CASE WHEN a3.node IS NOT NULL THEN 3
                 WHEN a2.node IS NOT NULL THEN 2
                 WHEN a1.node IS NOT NULL THEN 1
                 ELSE 0 END AS INT) AS rounds_survived,
       a3.node IS NOT NULL AS in_core
FROM d0
LEFT JOIN a1 ON a1.node = d0.node
LEFT JOIN a2 ON a2.node = d0.node
LEFT JOIN a3 ON a3.node = d0.node
"""


def _kcore(edges_in: DataFrame) -> DataFrame:
    """The unrolled peel algebra over a src<dst edge list — shared by the
    exact-kNN witness and the lsh_ann corpus-scale form."""
    from ..cache import checkpoint_tracked, persist_tracked

    # r12: the edge producer is CHECKPOINTED, not just persisted — every
    # peel round and the final survivor joins re-PLAN the producer's full
    # analyzed tree even when the data is cached, and for the lsh_ann
    # producer that driver-side optimizer/AQE cost dominated wall clock
    # (the sim_hits_ann finding, operators/graph.py). und is persisted:
    # d0 plus every round's degree semi-join consume it.
    edges = checkpoint_tracked(edges_in)
    und = persist_tracked(
        edges.select(
            F.col("src").alias("u"), F.col("dst").alias("v")
        ).unionAll(
            edges.select(F.col("dst").alias("u"), F.col("src").alias("v"))
        )
    )

    def degrees(alive):
        au = alive.select(F.col("node").alias("au"))
        av = alive.select(F.col("node").alias("av"))
        return (
            und.join(F.broadcast(au), und["u"] == au["au"])
            .join(F.broadcast(av), und["v"] == av["av"])
            .groupBy(F.col("u").alias("node"))
            .agg(F.count("*").alias("deg"))
        )

    # d0 is consumed by round 1 AND the final profile joins; each round's
    # survivor set is consumed by its degree semi-join AND the final
    # joins — checkpointing the vertex-sized sets keeps every plan flat
    # instead of embedding all previous rounds' trees.
    d0 = persist_tracked(
        und.groupBy(F.col("u").alias("node")).agg(
            F.count("*").cast("bigint").alias("deg")
        )
    )
    alive = d0
    survivors = []
    for _ in range(_KCORE_ROUNDS):
        alive = checkpoint_tracked(
            alive.where(F.col("deg") >= _KCORE_K).select("node")
        )
        survivors.append(alive)
        alive = degrees(alive)
    a1, a2, a3 = (
        s.select(F.col("node").alias(f"n{i}"), F.lit(True).alias(f"s{i}"))
        for i, s in enumerate(survivors, 1)
    )
    return (
        d0.join(a1, d0["node"] == a1["n1"], "left")
        .join(a2, d0["node"] == a2["n2"], "left")
        .join(a3, d0["node"] == a3["n3"], "left")
        .select(
            "node",
            F.col("deg").alias("deg0"),
            F.when(F.col("s3"), 3)
            .when(F.col("s2"), 2)
            .when(F.col("s1"), 1)
            .otherwise(0)
            .cast("int")
            .alias("rounds_survived"),
            F.coalesce(F.col("s3"), F.lit(False)).alias("in_core"),
        )
    )


@register("sim_kcore_peeling", oracle=_kcore_sql(similarity.topk_sql(KNN_GRAPH_K)))
def sim_kcore_peeling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-core peeling profile of the mutual-kNN similarity graph:
    3 unrolled rounds of "remove nodes with fewer than
    3 surviving neighbors", reporting each node's initial
    degree, how many rounds it survived, and whether it sits in the
    3-round 3-core approximation. Dense cores of
    a near-dup/similarity graph are template clusters and SEO farms
    (peel-resistant); genuinely diverse content peels early — the graph
    complement to the dedup family's content signals, and the same
    distributed-iteration shape as the repo's unrolled PageRank (each
    round is one bounded join+aggregate, verified cross-engine rather
    than run to a data-dependent fixpoint).

    Exactness: degrees and survival are integers end-to-end; there is
    no floating point anywhere past the kernel's round-6 cosines.

    Scale shape: the edge list is n*k rows (persisted once for all
    3 rounds + the output joins); each peel round is a
    semi-join of the edge list against the surviving-node set (alive
    sets only shrink) and a map-side-combinable degree count — cost is
    O(rounds * |E|), never quadratic. This EXACT form is the eval-sized
    ground-truth witness (tiled kernel edge build — 19x wall under 10x
    data, SCALE.md r8); the registered corpus-scale form is
    sim_kcore_peeling_ann (lsh_ann edge build, linear shuffle)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return _kcore(_mutual_edges(similarity.topk(emb, KNN_GRAPH_K)))


@register(
    "sim_kcore_peeling_ann",
    oracle=_kcore_sql(similarity.lsh_ann_sql(DIMS, KNN_GRAPH_K)),
)
def sim_kcore_peeling_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-core peeling with the mutual edge list built from lsh_ann
    (bucketed approximate kNN) — the 100 TB form of sim_kcore_peeling.
    The peel algebra (_kcore) is shared verbatim; only the kNN producer
    differs. lsh_ann candidates come from a bucket equi-join (shuffle ~
    vectors x probes, never vectors²), so every stage of this plan is a
    linear-shuffle join/aggregate where the exact witness pays the
    probe x build kernel (19x wall at 10x data, SCALE.md r8).

    Full [Q] hash check: the oracle re-states the lsh_ann pipeline + peel
    rounds in DuckDB (same pairing the green sim_lsh_ann row proves);
    edge-set recall vs the exact witness is bounded in
    tests/test_retrieval.py."""
    emb = load_table(spark, sf_dir, "embeddings")
    return _kcore(_mutual_edges(similarity.lsh_ann(emb, DIMS, KNN_GRAPH_K)))


# ---------------------------------------------------------------------------
# local clustering coefficient over the ANN mutual-kNN graph
# (built r9, staged r10)
# ---------------------------------------------------------------------------

def _cc_sql(t_sql: str) -> str:
    return f"""
WITH t AS ({t_sql}),
edges AS (
  SELECT a.query_id AS src, a.neighbor_id AS dst
  FROM t a JOIN t b
    ON a.query_id = b.neighbor_id AND a.neighbor_id = b.query_id
  WHERE a.query_id < a.neighbor_id
),
und AS (
  SELECT src AS u, dst AS v FROM edges
  UNION ALL SELECT dst, src FROM edges
),
deg AS (SELECT u AS node, CAST(count(*) AS BIGINT) AS deg FROM und GROUP BY u),
wedge AS (
  SELECT e1.u AS z, e1.v AS a, e2.v AS b
  FROM und e1 JOIN und e2 ON e1.u = e2.u
  WHERE e1.v < e2.v
),
tri AS (
  SELECT w.z AS node, CAST(count(*) AS BIGINT) AS triangles
  FROM wedge w JOIN edges e ON e.src = w.a AND e.dst = w.b
  GROUP BY w.z
)
SELECT d.node, d.deg,
       CAST(coalesce(t.triangles, 0) AS BIGINT) AS triangles,
       CASE WHEN d.deg >= 2 THEN
         CAST(2 * coalesce(t.triangles, 0) AS DOUBLE) / (d.deg * (d.deg - 1))
       END AS clustering_coeff
FROM deg d LEFT JOIN tri t ON t.node = d.node
"""


@register(
    "sim_clustering_coefficient",
    oracle=_cc_sql(similarity.lsh_ann_sql(DIMS, KNN_GRAPH_K)),
)
def sim_clustering_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local clustering coefficient per node of the mutual-kNN graph
    with the lsh_ann edge build (built r9, staged r10) — completes the
    graph-eval family: Adamic-Adar predicts missing edges, k-core finds
    peel-resistant density, the clustering coefficient measures how
    template-like each node's NEIGHBORHOOD is (near-1 = its neighbors
    are all near-dups of each other — SEO farms and boilerplate
    clusters; near-0 = hub stitching unrelated content). Coefficient =
    2*triangles / (deg*(deg-1)), NULL when deg < 2; the double is a
    single IEEE division of exact integers, bit-identical cross-engine.

    Scale shape: lsh_ann edge build (bucket equi-join, linear shuffle —
    the measured r9 trend of the shared producer); wedges are a
    bounded-degree self-join on the center node (sum deg(z)^2 <= n*k^2
    rows); triangle closure is one hash semi-join of wedges against the
    edge list. No stage is quadratic in the corpus."""
    from ..cache import persist_tracked

    emb = load_table(spark, sf_dir, "embeddings")
    edges = persist_tracked(
        _mutual_edges(similarity.lsh_ann(emb, DIMS, KNN_GRAPH_K))
    )
    und = edges.select(
        F.col("src").alias("u"), F.col("dst").alias("v")
    ).unionAll(edges.select(F.col("dst").alias("u"), F.col("src").alias("v")))
    deg = und.groupBy(F.col("u").alias("node")).agg(
        F.count("*").cast("bigint").alias("deg")
    )
    e1 = und.select(F.col("u").alias("z"), F.col("v").alias("a"))
    e2 = und.select(F.col("u").alias("z2"), F.col("v").alias("b"))
    wedge = e1.join(e2, e1["z"] == e2["z2"]).where(
        F.col("a") < F.col("b")
    ).select("z", "a", "b")
    tri = (
        wedge.join(
            edges,
            (wedge["a"] == edges["src"]) & (wedge["b"] == edges["dst"]),
            "left_semi",
        )
        .groupBy(F.col("z").alias("tnode"))
        .agg(F.count("*").cast("bigint").alias("triangles"))
    )
    return (
        deg.join(tri, deg["node"] == tri["tnode"], "left")
        .select(
            "node",
            "deg",
            F.coalesce("triangles", F.lit(0)).cast("bigint")
            .alias("triangles"),
            F.when(
                F.col("deg") >= 2,
                (2 * F.coalesce("triangles", F.lit(0))).cast("double")
                / (F.col("deg") * (F.col("deg") - 1)),
            ).alias("clustering_coeff"),
        )
    )


@register("sim_rq_quantize", oracle=clustering.rq_sql())
def sim_rq_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Residual quantization train→encode→distortion profile (built r9,
    staged r10): a full-vector codebook, then a second codebook fit on
    the stage-1 residuals — SEQUENTIAL composition (vs sim_pq_quantize's
    orthogonal split), the additive-codebook family modern ANN indexes
    compress with. Both Lloyd trains, both encodes, and the per-cell
    distortion profile are oracle-checked end to end
    (operators/clustering.py::rq_quantize / rq_sql)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return clustering.rq_quantize(emb)


@register(
    "sim_knn_graph_mutual_ann",
    oracle=f"""
WITH t AS ({similarity.lsh_ann_sql(DIMS, KNN_GRAPH_K)})
SELECT a.query_id AS src, a.neighbor_id AS dst, a.cosine,
       CAST(a.rk AS INT) AS rk_forward, CAST(b.rk AS INT) AS rk_backward
FROM t a JOIN t b
  ON a.query_id = b.neighbor_id AND a.neighbor_id = b.query_id
WHERE a.query_id < a.neighbor_id
""",
)
def sim_knn_graph_mutual_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual-kNN graph over lsh_ann lists (built r9, staged r10) — the
    corpus-scale twin of sim_knn_graph_mutual, completing the ANN-backed
    graph family (edges / Adamic-Adar / k-core / clustering coefficient
    all now have both an exact eval-sized witness and a linear-shuffle
    production form). Emits the full edge payload (forward cosine, both
    ranks); the mutuality check is the same n*k self-join on the swapped
    key pair, never n²."""
    emb = load_table(spark, sf_dir, "embeddings")
    t = similarity.lsh_ann(emb, DIMS, KNN_GRAPH_K)
    a, b = t.alias("a"), t.alias("b")
    return (
        a.join(
            b,
            (F.col("a.query_id") == F.col("b.neighbor_id"))
            & (F.col("a.neighbor_id") == F.col("b.query_id")),
        )
        .where(F.col("a.query_id") < F.col("a.neighbor_id"))
        .select(
            F.col("a.query_id").alias("src"),
            F.col("a.neighbor_id").alias("dst"),
            F.col("a.cosine").alias("cosine"),
            F.col("a.rk").cast("int").alias("rk_forward"),
            F.col("b.rk").cast("int").alias("rk_backward"),
        )
    )


# ---------------------------------------------------------------------------
# diagonal-Mahalanobis embedding outliers (built r9, staged r10)
# ---------------------------------------------------------------------------

_ZS_TOPK = 25


_ZSCORE_SQL = f"""
WITH longf AS (
  SELECT vec_id, km_j AS dim, CAST(embedding[km_j] AS DOUBLE) AS v
  FROM embeddings, generate_series(1, {DIMS}) AS t(km_j)
),
stats AS (
  SELECT dim,
         CAST(sum(CAST(round(v, 9) AS DECIMAL(28,9))) AS DOUBLE)
           / count(*) AS mean,
         CAST(sum(CAST(round(v * v, 9) AS DECIMAL(28,9))) AS DOUBLE)
           / count(*) AS m2
  FROM longf GROUP BY dim
),
arrs AS (
  SELECT list(mean ORDER BY dim) AS means,
         list(sqrt(m2 - mean * mean) ORDER BY dim) AS stds
  FROM stats
),
scored AS (
  SELECT e.vec_id,
         list_reduce(list_prepend(0.0,
           list_transform(generate_series(1, {DIMS}), zs_j ->
             CASE WHEN a.stds[zs_j] > 0 THEN
               ((CAST(e.embedding[zs_j] AS DOUBLE) - a.means[zs_j])
                / a.stds[zs_j])
               * ((CAST(e.embedding[zs_j] AS DOUBLE) - a.means[zs_j])
                  / a.stds[zs_j])
             ELSE 0.0 END)),
           (zs_a, zs_b) -> zs_a + zs_b) AS md2
  FROM embeddings e, arrs a
)
SELECT vec_id, md2, CAST(rk AS INT) AS rk
FROM (
  SELECT vec_id, md2,
         row_number() OVER (ORDER BY md2 DESC, vec_id) AS rk
  FROM scored
) WHERE rk <= {_ZS_TOPK}
"""


@register("sim_zscore_outliers", oracle=_ZSCORE_SQL)
def sim_zscore_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding OOD scoring by diagonal Mahalanobis distance (built r9,
    staged r10): per-dimension mean/std from exact DECIMAL sufficient
    statistics; each vector's score = sum of squared z-scores across dims,
    top-{k} outliers ranked (score desc, vec_id). The cheap
    whole-corpus out-of-distribution sweep a curation pipeline runs
    before expensive model-based OOD — mixed-modality contamination,
    corrupt embeddings, and scale bugs all surface as extreme diagonal
    Mahalanobis scores.

    Exactness: moment sums reduce round-9 DECIMAL terms (v is
    float32-exact, v*v exact in double — 48-bit product); mean/m2 are
    unrounded quotients; sqrt is IEEE-correctly-rounded; the per-row
    fold is the sequential zip order both engines share; zero-variance
    dims contribute 0 by explicit guard (ANSI division guard + the
    planted test). No rounding anywhere past the DECIMAL grid.

    Scale shape: ONE map-side-combinable 64-key moment aggregate (the
    dim_covariance shape), one 1-row broadcast of the stat arrays, one
    in-codegen fold per row, and a global top-k (TakeOrderedAndProject
    — never a full sort at the driver)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return zscore_readout(emb, zscore_moment_deltas(emb))


def zscore_moment_deltas(emb: DataFrame) -> DataFrame:
    """(dim, s1, s2, n) ADDITIVE sufficient statistics — the mergeable
    state: batch splits (or streaming micro-batches through the add
    sink) sum component-wise into exactly the one-pass moments."""
    longf = emb.select(
        F.posexplode("embedding").alias("dim0", "v32")
    ).select(
        (F.col("dim0") + 1).alias("dim"),
        F.col("v32").cast("double").alias("v"),
    )
    return longf.groupBy("dim").agg(
        F.sum(F.round(F.col("v"), 9).cast("decimal(28,9)")).alias("s1"),
        F.sum(
            F.round(F.col("v") * F.col("v"), 9).cast("decimal(28,9)")
        ).alias("s2"),
        F.count("*").cast("bigint").alias("n"),
    )


def zscore_readout(emb: DataFrame, stats: DataFrame) -> DataFrame:
    """Top-k diagonal-Mahalanobis outliers from (dim, s1, s2, n) state —
    a pure function of the moments, identical over a one-pass build or
    merged streaming state."""
    divided = stats.select(
        "dim",
        (F.col("s1").cast("double") / F.col("n")).alias("mean"),
        (F.col("s2").cast("double") / F.col("n")).alias("m2"),
    )
    arrs = divided.groupBy().agg(
        F.transform(
            F.sort_array(F.collect_list(F.struct("dim", "mean"))),
            lambda s: s["mean"],
        ).alias("means"),
        F.transform(
            F.sort_array(F.collect_list(F.struct("dim", "mean", "m2"))),
            lambda s: F.sqrt(s["m2"] - s["mean"] * s["mean"]),
        ).alias("stds"),
    )
    z2 = F.aggregate(
        F.zip_with(
            F.zip_with(
                F.col("embedding"),
                F.col("means"),
                lambda x, m: x.cast("double") - m,
            ),
            F.col("stds"),
            lambda d, s: F.when(s > 0, (d / s) * (d / s)).otherwise(
                F.lit(0.0)
            ),
        ),
        F.lit(0.0),
        lambda acc, t: acc + t,
    )
    scored = emb.crossJoin(F.broadcast(arrs)).select(
        "vec_id", z2.alias("md2")
    )
    from pyspark.sql.window import Window as W

    return (
        scored.withColumn(
            "rk", F.row_number().over(W.orderBy(F.desc("md2"), F.asc("vec_id")))
        )
        .where(F.col("rk") <= _ZS_TOPK)
        .select("vec_id", "md2", F.col("rk").cast("int").alias("rk"))
    )


# ---------------------------------------------------------------------------
# Rocchio nearest-centroid classification eval (label-quality diagnostic)
# ---------------------------------------------------------------------------

_ROCCHIO_SQL = """
WITH dims AS (
  SELECT label, embedding,
         unnest(generate_series(1, len(embedding))) AS d
  FROM embeddings
),
terms AS (
  SELECT label, CAST(d AS INT) AS d,
         CAST(round(CAST(embedding[d] AS DOUBLE), 7)
              AS DECIMAL(22,7)) AS v
  FROM dims
),
cent AS (
  SELECT label AS label_c, d,
         CAST(CAST(sum(v) AS DECIMAL(38,7)) AS DOUBLE) / count(*) AS c
  FROM terms GROUP BY label, d
),
centarr AS (
  SELECT label_c, list(c ORDER BY d) AS cent FROM cent GROUP BY label_c
),
pairs AS (
  SELECT e.vec_id, e.label, ca.label_c,
         list_reduce(
           list_prepend(CAST(0 AS DOUBLE),
             list_transform(generate_series(1, len(e.embedding)),
               rc_i -> (CAST(e.embedding[rc_i] AS DOUBLE) - ca.cent[rc_i])
                       * (CAST(e.embedding[rc_i] AS DOUBLE) - ca.cent[rc_i]))),
           (acc, t) -> acc + t) AS dist2
  FROM embeddings e, centarr ca
),
ranked AS (
  SELECT vec_id, label, label_c,
         row_number() OVER (PARTITION BY vec_id
                            ORDER BY dist2, label_c) AS rk
  FROM pairs
)
SELECT CAST(label AS INT) AS label, CAST(label_c AS INT) AS predicted,
       CAST(count(*) AS BIGINT) AS n
FROM ranked WHERE rk = 1 GROUP BY label, label_c
"""


@register("sim_rocchio_centroid_eval", oracle=_ROCCHIO_SQL)
def sim_rocchio_centroid_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rocchio nearest-centroid classification eval (built r10, staged
    r11) — the label-quality diagnostic behind weak-supervision audits:
    fit one centroid per label (the Rocchio/nearest-class-mean
    classifier), assign every vector to its nearest centroid by
    Euclidean distance, and emit the confusion matrix. High off-
    diagonal mass means labels do not match embedding geometry (noisy
    labels or an embedding that ignores the label concept).
    Determinism: per-dim centroid numerators are EXACT DECIMAL sums of
    7dp-rounded elements (sums < 2^53 scaled units, so the
    decimal->double conversion is bit-identical cross-engine — the
    zipf lesson), the mean and the in-row distance fold are identical
    double expressions evaluated in FIXED array order, and the argmin
    breaks ties on (dist2, label).

    Scale shape: one (label, dim)-keyed map-side-combinable aggregate
    fits the k centroids; the k-row centroid table BROADCASTS and
    assignment is a scan-stage cross of each row against k in-row
    folds + a vec-keyed argmin window; the confusion reduce is
    k*k-sized. No all-pairs term anywhere — cost is n*k*d, the
    nearest-class-mean production shape."""
    emb = load_table(spark, sf_dir, "embeddings")
    terms = emb.select(
        "label",
        F.posexplode(F.col("embedding").cast("array<double>")).alias(
            "d0", "x"
        ),
    ).select(
        "label",
        (F.col("d0") + 1).alias("d"),
        F.round(F.col("x"), 7).cast("decimal(22,7)").alias("v"),
    )
    cent = terms.groupBy(F.col("label").alias("label_c"), "d").agg(
        (
            F.sum("v").cast("decimal(38,7)").cast("double")
            / F.count("*")
        ).alias("c")
    )
    centarr = cent.groupBy("label_c").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("d", "c"))),
            lambda s: s["c"],
        ).alias("cent")
    )
    x = F.col("embedding").cast("array<double>")
    dist2 = F.aggregate(
        F.zip_with(x, F.col("cent"), lambda a, b: (a - b) * (a - b)),
        F.lit(0.0),
        lambda acc, t: acc + t,
    )
    pairs = emb.crossJoin(F.broadcast(centarr)).select(
        "vec_id", "label", "label_c", dist2.alias("dist2")
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("vec_id").orderBy("dist2", "label_c")
    return (
        pairs.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") == 1)
        .groupBy(
            F.col("label").cast("int").alias("label"),
            F.col("label_c").cast("int").alias("predicted"),
        )
        .agg(F.count("*").cast("bigint").alias("n"))
    )


@register(
    "sim_pq_adc_scan", oracle=clustering.pq_adc_sql()
)
def sim_pq_adc_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ asymmetric-distance top-k scan via LOOKUP TABLES (built r10,
    staged r11) — the factorization that makes ADC cheap, completing
    the PQ family: sim_pq_quantize builds/audits the codebooks,
    sim_ivfpq_search ranks IVF-list candidates by folding a distance
    PER PAIR (Q·cand·dims multiplies — correct but not the trick),
    and THIS query implements the actual Jegou et al. device: per
    query, ONE k-entry exact-distance table per subspace (Q·m·k
    distance folds in total), after which EVERY candidate is priced by
    m integer code lookups joined on code keys and summed as EXACT
    round-6 decimals — no distance fold ever touches a candidate.
    Top-10 per query with (adist, vec_id) tiebreak, self excluded.
    Full pipeline (train → encode → LUT → join-scan → rank) is
    hash-checked against the oracle's restatement of every stage.

    Scale shape: LUTs are broadcast-sized (Q·m·k rows); the scan is an
    equi-join of the code table against the LUTs on code keys plus a
    query-keyed top-k window — no distance fold ever touches a
    candidate vector. At 100 TB this is the inner loop of IVF-PQ: the
    IVF stage (sim_ivf_ann / sim_ivf_portable) bounds the candidate
    list, ADC prices each candidate at m lookups. (operators/
    clustering.py::pq_adc_scan; reference has no ANN at all — repo
    extension mandated by SURVEY §2.12.)"""
    emb = load_table(spark, sf_dir, "embeddings")
    return clustering.pq_adc_scan(emb)


# ---------------------------------------------------------------------------
# per-label centroid drift between corpus halves (embedding drift monitor)
# ---------------------------------------------------------------------------

_CENTROID_DRIFT_SQL = """
WITH dims AS (
  SELECT label, vec_id % 2 AS half, embedding,
         unnest(generate_series(1, len(embedding))) AS d
  FROM embeddings
),
terms AS (
  SELECT label, half, CAST(d AS INT) AS d,
         CAST(round(CAST(embedding[d] AS DOUBLE), 7)
              AS DECIMAL(22,7)) AS v
  FROM dims
),
cent AS (
  SELECT label, half, d,
         CAST(CAST(sum(v) AS DECIMAL(38,7)) AS DOUBLE) / count(*) AS c,
         max(count(*)) OVER (PARTITION BY label, half) AS n
  FROM terms GROUP BY label, half, d
),
arr AS (
  SELECT label, half, max(n) AS n, list(c ORDER BY d) AS cv
  FROM cent GROUP BY label, half
),
pairs AS (
  SELECT a.label, a.n AS n_a, b.n AS n_b,
         list_reduce(list_prepend(CAST(0 AS DOUBLE),
           list_transform(generate_series(1, len(a.cv)),
             cd_i -> (a.cv[cd_i] - b.cv[cd_i]) * (a.cv[cd_i] - b.cv[cd_i]))),
           (acc, t) -> acc + t) AS d2,
         list_reduce(list_prepend(CAST(0 AS DOUBLE),
           list_transform(generate_series(1, len(a.cv)),
             cd_i -> a.cv[cd_i] * b.cv[cd_i])), (acc, t) -> acc + t) AS dot,
         list_reduce(list_prepend(CAST(0 AS DOUBLE),
           list_transform(generate_series(1, len(a.cv)),
             cd_i -> a.cv[cd_i] * a.cv[cd_i])), (acc, t) -> acc + t) AS na2,
         list_reduce(list_prepend(CAST(0 AS DOUBLE),
           list_transform(generate_series(1, len(a.cv)),
             cd_i -> b.cv[cd_i] * b.cv[cd_i])), (acc, t) -> acc + t) AS nb2
  FROM arr a JOIN arr b ON a.label = b.label AND a.half = 0 AND b.half = 1
)
SELECT CAST(label AS INT) AS label,
       CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
       sqrt(d2) AS l2_drift,
       CASE WHEN na2 > 0 AND nb2 > 0
            THEN dot / (sqrt(na2) * sqrt(nb2)) END AS cos_sim
FROM pairs
"""


@register(
    "sim_label_centroid_drift", oracle=_CENTROID_DRIFT_SQL
)
def sim_label_centroid_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding centroid drift (built r10, staged r11) — the
    embedding-space companion to the value-distribution drift monitors
    (PSI on scalars, z-score moments on dims): split the corpus into
    deterministic halves (vec_id parity standing in for the
    train-vs-serve or week-vs-week split), fit per-(label, half)
    centroids, and report each label's centroid displacement (L2) and
    directional agreement (cosine). A label whose centroid moves while
    others hold still means ITS concept drifted — retraining triage at
    class granularity. Centroid numerators are exact DECIMAL sums of
    7dp-rounded elements (< 2^53 scaled units → bit-identical double
    conversion); the L2/cosine folds run in FIXED array order over
    identical doubles (the Rocchio/ADC kernel convention).

    Scale shape: one (label, half, dim)-keyed map-side-combinable
    aggregate; everything after is (2·labels)-row. The drift readout
    at 100 TB costs exactly one corpus scan regardless of label
    count."""
    emb = load_table(spark, sf_dir, "embeddings")
    terms = emb.select(
        "label",
        (F.col("vec_id") % 2).alias("half"),
        F.posexplode(F.col("embedding").cast("array<double>")).alias(
            "d0", "x"
        ),
    ).select(
        "label", "half", (F.col("d0") + 1).alias("d"),
        F.round(F.col("x"), 7).cast("decimal(22,7)").alias("v"),
    )
    cent = terms.groupBy("label", "half", "d").agg(
        (
            F.sum("v").cast("decimal(38,7)").cast("double") / F.count("*")
        ).alias("c"),
        F.count("*").alias("n"),
    )
    arr = cent.groupBy("label", "half").agg(
        F.max("n").alias("n"),
        F.transform(
            F.array_sort(F.collect_list(F.struct("d", "c"))),
            lambda s: s["c"],
        ).alias("cv"),
    )
    a = arr.where(F.col("half") == 0).select(
        "label", F.col("n").alias("n_a"), F.col("cv").alias("cva")
    )
    b = arr.where(F.col("half") == 1).select(
        "label", F.col("n").alias("n_b"), F.col("cv").alias("cvb")
    )

    def fold(expr):
        return F.aggregate(expr, F.lit(0.0), lambda acc, t: acc + t)

    d2 = fold(F.zip_with("cva", "cvb", lambda x, y: (x - y) * (x - y)))
    dot = fold(F.zip_with("cva", "cvb", lambda x, y: x * y))
    na2 = fold(F.zip_with("cva", "cva", lambda x, y: x * y))
    nb2 = fold(F.zip_with("cvb", "cvb", lambda x, y: x * y))
    return a.join(b, "label").select(
        F.col("label").cast("int").alias("label"),
        F.col("n_a").cast("bigint").alias("n_a"),
        F.col("n_b").cast("bigint").alias("n_b"),
        F.sqrt(d2).alias("l2_drift"),
        F.when(
            (na2 > 0) & (nb2 > 0), dot / (F.sqrt(na2) * F.sqrt(nb2))
        ).alias("cos_sim"),
    )


@register("sim_hits_hubs_authorities", oracle=graph.hits_sql())
def sim_hits_hubs_authorities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS hubs & authorities (built r11, staged r12) — Kleinberg's
    directed companion to sim_pagerank_knn, run on the RAW top-k graph
    (u -> v iff v is in u's top-k) where out-links are uniform (k per
    vertex) but in-links concentrate on popular vectors, so hub and
    authority genuinely separate: a high-authority embedding is one
    many neighborhoods rank (a cluster center / canonical document), a
    high-hub one ranks well-ranked vectors (a good router). TWO
    unrolled hub/authority half-steps with L1 normalization; every
    contribution crosses the sum as round-9 DECIMAL (exact, order-free)
    and every normalization total converts to double once below 2^53
    (operators/graph.py::hits_knn, mirrored in hits_sql).

    Scale shape: per half-step one edge-keyed projection + one keyed
    exchange with map-side DECIMAL partial sums + a 1-row broadcast
    total — the canonical distributed power iteration; no all-pairs
    term past the ANN top-k edge list."""
    emb = load_table(spark, sf_dir, "embeddings")
    return graph.hits_knn(emb)


@register(
    "sim_hits_ann",
    oracle=graph.hits_ann_sql(DIMS, KNN_GRAPH_K),
)
def sim_hits_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS over lsh_ann lists (built r11, staged r12) — the
    corpus-scale production twin of sim_hits_hubs_authorities,
    completing the dual-form convention for the directed-graph family
    (the knn_graph_mutual / adamic_adar precedent: an exact eval-sized
    witness AND a linear-shuffle ANN-backed form sharing one iteration
    contract — operators/graph.py::hits_from_edges is literally the
    same code under both). Edges come from the random-hyperplane LSH
    bucket join (shuffle ∝ docs·k, never n²); the oracle runs the SAME
    lists, so the check is exact over the declared candidate set (the
    sim_lsh_ann pattern); recall vs the exact witness is the operator
    test's job."""
    emb = load_table(spark, sf_dir, "embeddings")
    edges = similarity.lsh_ann(emb, DIMS, KNN_GRAPH_K).select(
        F.col("query_id").alias("src"),
        F.col("neighbor_id").alias("dst"),
    )
    return graph.hits_from_edges(edges)


@register(
    "sim_label_propagation",
    oracle=graph.lpa_sql_from(
        [
            f"t AS ({similarity.topk_sql(graph.LPA_K)})",
            """edges AS (
  SELECT a.query_id AS src, a.neighbor_id AS dst
  FROM t a JOIN t b
    ON a.query_id = b.neighbor_id AND a.neighbor_id = b.query_id
)""",
        ]
    ),
)
def sim_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label-propagation communities (built r12, staged r13) — the
    community-detection member of the mutual-kNN graph family
    (PageRank = centrality, HITS = hub/authority, k-core = density,
    components = reachability; LPA = dense neighborhoods INSIDE a
    component): synchronous mode-of-neighbors propagation (Raghavan
    2007) made deterministic and EXACT — min-label tie-break, FIXED
    three unrolled rounds, pure integer arithmetic start to finish, so
    cross-engine equality is structural rather than numeric. The
    per-round argmax uses the integer-packed device
    (key = cnt*2^33 - label; max realizes max-count-then-min-label;
    operators/graph.py::lpa_from_edges) — one map-side-combinable
    aggregate per round, no per-vertex sort window.

    Scale shape: per round one edge-keyed join + one keyed exchange
    with map-side partial max — the canonical distributed LPA plan;
    the edge list is persisted once for the round loop (the
    hits_from_edges lesson). At corpus scale the edge producer swaps
    to the lsh_ann lists exactly like the _ann graph twins."""
    from ..cache import persist_tracked

    emb = load_table(spark, sf_dir, "embeddings")
    edges = persist_tracked(graph._mutual_edges(emb, graph.LPA_K))
    return graph.lpa_from_edges(edges)


from ..operators import quantization  # noqa: E402


@register("sim_sq8_scan", oracle=quantization.sq8_scan_sql())
def sim_sq8_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar-quantized (SQ8) serving scan (built r12, staged r13) —
    the uniform-grid member of the compressed-vector family beside the
    codebook forms (sim_pq_adc_scan / sim_rq_quantize) and the binary
    form (sim_binary_hamming): per-dimension min/max define 256 levels
    on the round-9 integer lattice, codes and midpoint reconstructions
    are pure trunc-divisions (Spark div == DuckDB // on BIGINT), and
    the query-vs-reconstruction inner product is an exact int64 fold
    at 1e-6 pinning — no float past the one blessed ingestion cast,
    so Spark and the oracle are structurally identical
    (operators/quantization.py::sq8_scan).

    Scale shape: quantization is one embarrassingly parallel pass
    emitting 64 int8-range codes per vector (4x smaller than float32 —
    the operational point); the scan is a broadcast eval query set
    against the corpus with an in-row fold, and at corpus scale the
    candidate source swaps to the LSH/IVF lists like sim_pq_adc_scan."""
    emb = load_table(spark, sf_dir, "embeddings")
    return quantization.sq8_scan(emb)


@register(
    "sim_binary_hamming",
    oracle=quantization.binary_hamming_sql(DIMS),
)
def sim_binary_hamming(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary (sign-bit) Hamming serving scan (built r12, staged r13)
    — the 1-bit extreme of the quantization family: one sign bit per
    dimension packed into 32-bit words (exact 1<<i integer sums,
    32x smaller than float32), candidates ranked by
    sum(bit_count(xor(word_a, word_b))) — the Hamming distance a
    binary index serves, here exact-integer end to end so the oracle
    equality is structural (operators/quantization.py).

    Scale shape: packing is one scan-stage pass to a 2-BIGINT row;
    the eval query set broadcasts; popcount distance is branch-free
    per candidate. At corpus scale the scan rides the LSH bucket
    lists, and the packed words double as the bucket payload."""
    emb = load_table(spark, sf_dir, "embeddings")
    return quantization.binary_hamming_scan(emb, DIMS)


@register(
    "sim_label_propagation_ann",
    oracle=graph.lpa_sql_from(
        [
            f"t AS ({similarity.lsh_ann_sql(DIMS, KNN_GRAPH_K)})",
            """e1 AS (
  SELECT a.query_id AS src, a.neighbor_id AS dst
  FROM t a JOIN t b
    ON a.query_id = b.neighbor_id AND a.neighbor_id = b.query_id
  WHERE a.query_id < a.neighbor_id
)""",
            """edges AS (
  SELECT src, dst FROM e1 UNION ALL SELECT dst, src FROM e1
)""",
        ]
    ),
)
def sim_label_propagation_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label propagation over the mutualized lsh_ann lists (built r12,
    staged r13) — the corpus-scale production twin of
    sim_label_propagation, completing the dual-form convention for the
    graph family (knn_graph_mutual / adamic_adar / kcore / HITS
    precedent): operators/graph.py::lpa_from_edges is literally the
    same iteration under both forms; only the edge producer swaps from
    the exact quadratic kernel (the eval-sized witness — measured 61x
    wall at 10x data, the honest quadratic) to the random-hyperplane
    bucket join (shuffle ∝ docs·k — measured flat on the other _ann
    twins). The oracle runs the SAME lists, so the check is exact over
    the declared candidate set (the sim_lsh_ann pattern)."""
    from ..cache import persist_tracked

    emb = load_table(spark, sf_dir, "embeddings")
    e1 = _mutual_edges(similarity.lsh_ann(emb, DIMS, KNN_GRAPH_K))
    edges = persist_tracked(
        e1.unionAll(
            e1.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
    )
    return graph.lpa_from_edges(edges)


# ---------------------------------------------------------------------------
# Degree assortativity (built r12, staged r13)
# ---------------------------------------------------------------------------

def _assort_sql(t_sql: str) -> str:
    return f"""
WITH t AS ({t_sql}),
edges AS (
  SELECT a.query_id AS src, a.neighbor_id AS dst
  FROM t a JOIN t b
    ON a.query_id = b.neighbor_id AND a.neighbor_id = b.query_id
  WHERE a.query_id < a.neighbor_id
),
und AS (
  SELECT src AS u, dst AS v FROM edges
  UNION ALL SELECT dst, src FROM edges
),
deg AS (SELECT u AS node, CAST(count(*) AS BIGINT) AS deg FROM und GROUP BY u),
s AS (
  SELECT CAST(count(*) AS BIGINT) AS m2,
         CAST(sum(du.deg) AS BIGINT) AS sx,
         CAST(sum(dv.deg) AS BIGINT) AS sy,
         CAST(sum(CAST(du.deg AS DECIMAL(38,0)) * dv.deg)
              AS DECIMAL(38,0)) AS sxy,
         CAST(sum(CAST(du.deg AS DECIMAL(38,0)) * du.deg)
              AS DECIMAL(38,0)) AS sxx,
         CAST(sum(CAST(dv.deg AS DECIMAL(38,0)) * dv.deg)
              AS DECIMAL(38,0)) AS syy
  FROM und e JOIN deg du ON du.node = e.u JOIN deg dv ON dv.node = e.v
),
nodes AS (SELECT CAST(count(*) AS BIGINT) AS n_nodes FROM deg)
SELECT n.n_nodes, s.m2 // 2 AS n_edges,
       CASE WHEN CAST(s.m2 AS DECIMAL(38,0)) * s.sxx
                 - CAST(s.sx AS DECIMAL(38,0)) * s.sx > 0
             AND CAST(s.m2 AS DECIMAL(38,0)) * s.syy
                 - CAST(s.sy AS DECIMAL(38,0)) * s.sy > 0 THEN
         CAST(CAST(s.m2 AS DECIMAL(38,0)) * s.sxy
              - CAST(s.sx AS DECIMAL(38,0)) * s.sy AS DOUBLE)
         / (sqrt(CAST(CAST(s.m2 AS DECIMAL(38,0)) * s.sxx
                      - CAST(s.sx AS DECIMAL(38,0)) * s.sx AS DOUBLE))
            * sqrt(CAST(CAST(s.m2 AS DECIMAL(38,0)) * s.syy
                        - CAST(s.sy AS DECIMAL(38,0)) * s.sy AS DOUBLE)))
       END AS assortativity
FROM s, nodes n
"""


@register(
    "sim_degree_assortativity",
    oracle=_assort_sql(similarity.topk_sql(KNN_GRAPH_K)),
)
def sim_degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity of the mutual-kNN similarity graph (built
    r12, staged r13) — the MIXING-PATTERN member completing the graph
    family's health panel: pagerank ranks, HITS splits roles, k-core
    peels the dense core, the clustering coefficient measures local
    cliquishness, and Newman's r answers the GLOBAL structural
    question — do well-connected items attach to each other (r > 0:
    one dense near-dup mesh worth deduplicating wholesale) or to
    sparse spokes (r < 0: semantic hubs bridging unrelated regions —
    the embedding-hubness smell)? One number, read next to lcc.

    Exactness: Pearson r over the endpoint-degree pairs of BOTH edge
    orientations — degrees and the five moment sums are exact
    integers on the DECIMAL(38,0) lattice, the variance terms compare
    to zero exactly in decimal (regular graphs yield NULL
    explicitly), and r is one fixed-shape double expression
    num/(sqrt(vx)*sqrt(vy)) of the exact sums (the spearman_rho
    device; allowlisted in tests/test_oracle.py).

    Scale shape: degree is k-capped so und is 2nk rows; the two
    degree lookups are node-keyed joins and the moment reduce is
    map-side combinable — nothing quadratic anywhere past the edge
    producer. This EXACT form is the eval-sized witness (tiled
    brute-force kNN kernel — the triangle/adamic_adar convention);
    the corpus-scale form is sim_degree_assortativity_ann."""
    emb = load_table(spark, sf_dir, "embeddings")
    return graph.assortativity_from_edges(
        _mutual_edges(similarity.topk(emb, KNN_GRAPH_K))
    )


@register(
    "sim_degree_assortativity_ann",
    oracle=_assort_sql(similarity.lsh_ann_sql(DIMS, KNN_GRAPH_K)),
)
def sim_degree_assortativity_ann(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Degree assortativity with the edge list built from lsh_ann
    (bucketed approximate kNN) instead of the exact broadcast-tile
    kernel — the 100 TB form, sharing assortativity_from_edges
    VERBATIM with the exact witness (the triangle_count_ann
    convention). lsh_ann's candidate generation is a bucket equi-join
    (shuffle ~ vectors x probes), so the whole query is
    linear-shuffle end to end; the oracle re-states the same lsh_ann
    pipeline in DuckDB, so this is a full [Q] hash-checked query."""
    emb = load_table(spark, sf_dir, "embeddings")
    return graph.assortativity_from_edges(
        _mutual_edges(similarity.lsh_ann(emb, DIMS, KNN_GRAPH_K))
    )
