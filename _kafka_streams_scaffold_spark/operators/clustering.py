"""Duplicate-cluster resolution: connected components over the
near-duplicate pair graph.

Pair generators (simhash_pairs / minhash_lsh_pairs / ivf_near_dup)
emit edges; a dedup pipeline then needs each document assigned to a
canonical cluster (keep one representative per component, drop the
rest). That is connected components — an inherently *iterative*
algorithm, the one operator family a single declarative plan cannot
express.

Spark-first formulation: min-label propagation. Every node starts
labeled with its own id; each round every node takes the min of its
label and its neighbors' labels; converged when no label changes.
Rounds needed = component diameter (near-dup components are dense,
so typically 2-4). Each round is one shuffle-join + partial-
aggregatable min — the same shape GraphX/GraphFrames use, without
the dependency.

The driver loop materializes one count() per round (the convergence
check). That is a deliberate, bounded driver crossing: one scalar per
round, never data. Each round's labels are cut with
``pinning.checkpoint``: iterative plans otherwise grow their lineage
every round and re-analysis dominates (measured 187s -> 14s at sf0.01
for the same seven rounds). The cut is a lazy localCheckpoint owned by
the caller's pin scope, so the scope frees every round's blocks on
exit. localCheckpoint truncates the plan but stores blocks without
replication — on a real cluster swap in a reliable ``checkpoint(dir)``
for fault tolerance at the cost of one HDFS/S3 write per round.

The DuckDB oracle expresses the same fixpoint as a recursive CTE
(reachability + min over the reach set), so even this iterative
operator is hash-checked, not just rows-counted. Note the complexity
asymmetry: the CTE materializes each node's full reach set
(O(sum |component|^2) rows), fine at the sf0.01 gate but intractable
on the 1M-edge sf0.1 graph — while the Spark side stays
O(|E| * rounds). That gap is the point: label propagation IS the
scalable formulation.
"""

from __future__ import annotations

from functools import partial

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import tables
from ..pinning import checkpoint, parallel, pin
from ..pinning import shared_pin as _shared_pin
from .dedup import simhash_pairs_query

MAX_ROUNDS = 50  # safety bound; real convergence is diameter-bounded


def undirected(edges: DataFrame) -> DataFrame:
    """Both directions of a once-per-pair edge list, hash-partitioned
    + sorted on ``src``: the shared input shape of both iterative
    engines. A plan; callers that read it more than once store it
    (``checkpoint``, or the ``graph.both`` shared pin)."""
    return (
        edges.union(
            edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        .repartition(F.col("src"))
        .sortWithinPartitions("src")
    )


# --------------------------------------------------------------------------
# Round-11 shared roots of the SimHash doc-graph family: nine
# registered queries (dedup_clusters, dedup_representative_stats,
# contrastive_collision, dup_pagerank, cluster_keep_list,
# dup_graph_degrees, kcore, source_modularity, degree_assortativity)
# derive from the same near-dup pair list — and four of them from the
# same CC labels / PageRank vector. Each root is a ``graph.*`` shared
# pin (the dedup ``_tier_pairs`` hoist pattern): within one scope —
# a composite query, or the bench's graph-family block —
# the banded self-join, the 2|E| undirected table, the CC fixpoint
# and the PR iteration each run ONCE instead of once per consumer.
# Keys embed the memoized documents frame (``tables.table``), so
# distinct sf_dirs, a rewritten file or monkeypatched test frames
# never collide.
# --------------------------------------------------------------------------


def _doc_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(src, dst) SimHash near-dup pairs, one row per pair."""
    return _shared_pin(
        ("graph.edges", tables.table(spark, sf_dir, "documents")),
        lambda: simhash_pairs_query(spark, sf_dir).select(
            F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
        ),
    )


def _doc_both(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Both directions, partitioned on src — the iterative engines'
    input shape, materialized once per scope."""
    return _shared_pin(
        ("graph.both", tables.table(spark, sf_dir, "documents")),
        lambda: undirected(_doc_edges(spark, sf_dir)),
    )


def _doc_cc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, cluster_id) — the SimHash CC labels."""
    docs = tables.table(spark, sf_dir, "documents")

    def build() -> DataFrame:
        return connected_components(
            docs.select("doc_id"),
            _doc_edges(spark, sf_dir),
            both=_doc_both(spark, sf_dir),
        )

    return _shared_pin(("graph.cc_labels", docs), build)


def _doc_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, pagerank) — the fixed-iteration PR vector."""
    docs = tables.table(spark, sf_dir, "documents")

    def build() -> DataFrame:
        return pagerank(
            docs.select("doc_id"),
            _doc_edges(spark, sf_dir),
            both=_doc_both(spark, sf_dir),
        )

    return _shared_pin(("graph.pagerank", docs), build)


def _contract_partition(batches):
    """Partition-local union-find over an edge-batch iterator
    (round-12, guide §2.4/§4.2): every path INSIDE one partition
    collapses to a star in a single pass, so the distributed fixpoint
    afterwards only has to stitch stars ACROSS partitions. Emits one
    ``(doc_id, label)`` row per node seen in the partition, with label
    = the minimum id of the node's partition-local set (union by min
    root, so roots are always local minima). Connectivity-preserving
    by construction: treating the output pairs as edges yields a graph
    with exactly the original components, so the min-reachable-id
    result — the only thing consumers observe — is identical no matter
    how rows landed in partitions (and therefore independent of
    partition count / core count)."""
    import pandas as pd

    parent: dict = {}

    def find(x):
        r = x
        while True:
            p = parent.get(r, r)
            if p == r:
                break
            r = p
        while x != r:  # path compression
            parent[x], x = r, parent.get(x, x)
        return r

    seen: set = set()
    for pdf in batches:
        # tolist(): plain Python ints/strs hash ~2x faster than the
        # boxed numpy scalars pandas iteration would yield
        for a, b in zip(pdf["src"].tolist(), pdf["dst"].tolist()):
            seen.add(a)
            seen.add(b)
            ra, rb = find(a), find(b)
            if ra == rb:
                continue
            if rb < ra:
                ra, rb = rb, ra
            parent[rb] = ra
    if seen:
        out = list(seen)
        yield pd.DataFrame(
            {"doc_id": out, "label": [find(x) for x in out]}
        )


def connected_components(
    nodes: DataFrame, edges: DataFrame, both: DataFrame | None = None
) -> DataFrame:
    """``nodes(doc_id)``, ``edges(src, dst)`` undirected (pass each
    pair once; both directions are derived here). Returns
    ``(doc_id, cluster_id)`` with cluster_id = min doc_id reachable."""
    # Every ``checkpoint`` in this loop is lazy: the convergence count (or
    # first consumer) materializes each checkpoint, so every round
    # runs ONE job instead of checkpoint-job + count-job (measured
    # 6.2s -> 5.5s for 7 rounds at sf0.1).
    #
    # The edge table is hash-partitioned and sorted on the join key
    # BEFORE the checkpoint (localCheckpoint preserves partitioning
    # and ordering): every round's edges-x-labels join then exchanges
    # only the |V|-sized label frame, never the O(|E|) edge rows —
    # per-round shuffle volume drops from edge-width to id-width. At
    # sf0.1 this is wall-clock parity (scheduling noise dominates a
    # 2M-row graph on local[32]); the win is proportional to
    # |E|/|V| x rounds on a real graph.
    if both is None:
        both = checkpoint(undirected(edges))
    idt = both.schema["src"].dataType.simpleString()
    # Round-12: LOCAL STAR CONTRACTION before the distributed loop.
    # Measured (sf0.1, per-round phase timings; plans/r12/
    # cc_rounds_{before,after}.txt): each loop round costs a
    # near-constant ~0.45s of driver-side planning + tiny-stage
    # scheduling regardless of data size, and the embedding near-dup
    # graph needed 14 rounds (long chains) on a 1,309-edge graph — the
    # fixpoint was ALL fixed overhead. One partition-local union-find
    # pass collapses every within-partition path to a star; the loop
    # then only has to stitch stars across partitions, in
    # ~log(#partitions-per-chain) rounds. The ``nodes``-restriction
    # contract is preserved by semi-joining both endpoints before the
    # contraction (only ids present in ``nodes`` may relay
    # connectivity — the same effective edge set the old loop's label
    # join enforced). Those two ``left_semi`` joins are not free:
    # ``both`` is hash-partitioned on ``src`` only, so unless ``nodes``
    # broadcasts, the ``dst`` join re-exchanges the edge rows and the
    # union-find runs over that join's output partitioning.
    eligible = (
        both.join(
            nodes.select(F.col("doc_id").alias("src")), "src", "left_semi"
        )
        .join(
            nodes.select(F.col("doc_id").alias("dst")), "dst", "left_semi"
        )
        .select("src", "dst")
    )
    # Eager: ``pairs`` feeds both the initial labels and the contracted
    # edge table below; a lazy checkpoint would re-run the union-find
    # once per consumer subtree inside round 1's job.
    pairs = pin(
        eligible.mapInPandas(
            _contract_partition, schema=f"doc_id {idt}, label {idt}"
        )
    )
    # ACTIVE-SET restriction (unchanged contract): isolated nodes never
    # change labels, so only edge endpoints participate; they rejoin as
    # singleton clusters in the final left join. Every eligible
    # endpoint appears in ``pairs`` with label = its partition-local
    # min — already a valid partial propagation state, so the loop
    # starts from the contracted labels instead of the identity
    # labeling.
    labels = checkpoint(
        pairs.groupBy("doc_id").agg(F.min("label").alias("label"))
    )
    # The cross-partition stitch graph: node -> partition-local root.
    # Self-loops (roots) carry no connectivity; drop them before the
    # undirected expansion.
    cboth = checkpoint(
        undirected(
            pairs.filter(F.col("doc_id") != F.col("label")).select(
                F.col("doc_id").alias("src"), F.col("label").alias("dst")
            )
        )
    )
    for _ in range(MAX_ROUNDS):
        neighbor_min = (
            cboth.join(labels, cboth.src == labels.doc_id)
            .groupBy(F.col("dst").alias("doc_id"))
            .agg(F.min("label").alias("nmin"))
        )
        hooked = labels.join(neighbor_min, "doc_id", "left").select(
            "doc_id",
            F.least(F.col("label"), F.coalesce("nmin", "label")).alias("label"),
            (F.coalesce("nmin", "label") < F.col("label")).alias("moved"),
        )
        # Pointer jumping (shortcutting): replace each label with ITS
        # label, collapsing two propagation hops into one round — the
        # classic parallel-CC trick that turns diameter-many rounds
        # into ~log(diameter). One extra join in the same job, paid
        # back by halving the number of rounds (each of which costs
        # fixed scheduling + checkpoint overhead). The jump reads the
        # PREVIOUS round's checkpointed labels only: jumping against
        # the in-flight frame (a self-join of an un-checkpointed
        # plan) de-duplicates into two distinct lineages, so the
        # lazy checkpoint covers only one copy and the other
        # re-derives the whole history each round — measured as
        # exponential round times (0.3s -> 119s by round 6 at sf0.1).
        parent = labels.select(
            F.col("doc_id").alias("p_id"), F.col("label").alias("p_label")
        )
        step = checkpoint(
            hooked.join(parent, hooked.label == parent.p_id, "left").select(
                "doc_id",
                F.least(
                    F.col("label"), F.coalesce("p_label", "label")
                ).alias("label"),
                (
                    F.col("moved")
                    | (F.coalesce("p_label", "label") < F.col("label"))
                ).alias("moved"),
            )
        )
        labels = step.select("doc_id", "label")
        if step.filter("moved").count() == 0:
            break
    return nodes.join(labels, "doc_id", "left").select(
        "doc_id", F.coalesce("label", "doc_id").alias("cluster_id")
    )


def dedup_clusters_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical duplicate clusters from the SimHash near-dup pairs:
    every document labeled with the min doc_id of its component
    (isolated docs label themselves). Reads the shared ``graph.cc``
    labels (round-11): representative-stats, collision and keep-list
    queries ride the same fixpoint instead of re-running it."""
    return _doc_cc(spark, sf_dir)


# Same fixpoint as a recursive reachability CTE: cluster_id is the min
# over each node's reach set. The SimHash edge derivation is inlined
# (DuckDB has no cross-statement CTE reuse with recursion).
def _simhash_edges_sql() -> str:
    from .dedup import SIMHASH_PAIRS_ORACLE

    return SIMHASH_PAIRS_ORACLE.strip().rstrip(";")


DEDUP_CLUSTERS_ORACLE = f"""
WITH RECURSIVE pairs AS (
  {_simhash_edges_sql()}
),
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION ALL
  SELECT doc_b AS src, doc_a AS dst FROM pairs
),
walk(doc_id, reach) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT w.doc_id, e.dst FROM walk w JOIN edges e ON w.reach = e.src
)
SELECT doc_id, min(reach) AS cluster_id
FROM walk
GROUP BY doc_id
"""


def embedding_dup_clusters_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The embedding-space twin of dedup_clusters: canonical clusters
    over the IVF near-dup pair graph (cosine >= tau within bounded
    quantizer cells). Same min-label propagation engine; only the edge
    generator differs — which is the point of factoring
    connected_components over (nodes, edges)."""
    from .similarity import ivf_near_dup_query

    def build() -> DataFrame:
        vecs = tables.table(spark, sf_dir, "embeddings").select(
            F.col("vec_id").alias("doc_id")
        )
        edges = ivf_near_dup_query(spark, sf_dir).select(
            F.col("vec_a").alias("src"), F.col("vec_b").alias("dst")
        )
        return connected_components(vecs, edges).select(
            F.col("doc_id").alias("vec_id"), "cluster_id"
        )

    # Round-11: a ``sim.emb_cc`` shared pin — semantic_dedup_keep
    # composes these labels with the quality score, so the embedding
    # CC fixpoint runs once per family scope, not once per consumer.
    # The near-dup dials join the key: a patched threshold/cell cap
    # must build fresh labels, never read the other-dial table.
    from .similarity import IVF_TARGET_CELL, NEAR_DUP_COSINE

    return _shared_pin(
        (
            "sim.emb_cc",
            tables.table(spark, sf_dir, "embeddings"),
            IVF_TARGET_CELL,
            NEAR_DUP_COSINE,
        ),
        build,
    )


def _embedding_clusters_oracle() -> str:
    from .similarity import DUCK_NEAR_DUP_CTES, DUCK_NEAR_DUP_SELECT

    return f"""
WITH RECURSIVE {DUCK_NEAR_DUP_CTES},
pairs AS (
  {DUCK_NEAR_DUP_SELECT}
),
uedges AS (
  SELECT vec_a AS src, vec_b AS dst FROM pairs
  UNION ALL
  SELECT vec_b AS src, vec_a AS dst FROM pairs
),
walk(vec_id, reach) AS (
  SELECT vec_id, vec_id FROM embeddings
  UNION
  SELECT w.vec_id, e.dst FROM walk w JOIN uedges e ON w.reach = e.src
)
SELECT vec_id, min(reach) AS cluster_id
FROM walk
GROUP BY vec_id
"""


EMBEDDING_DUP_CLUSTERS_ORACLE = _embedding_clusters_oracle()


# --------------------------------------------------------------------------
# PageRank over the dup graph (canonical-representative scoring)
# --------------------------------------------------------------------------

PR_ITERS = 5
PR_DAMP = 0.85
PR_BASE = 0.15
_PR_SCALE = 10**12


def pagerank(
    nodes: DataFrame, edges: DataFrame, both: DataFrame | None = None
) -> DataFrame:
    """Unnormalized PageRank, fixed iteration count, over an
    undirected graph: rank_{t+1}(v) = 0.15 + 0.85 * sum over
    neighbors u of rank_t(u)/deg(u). Within a dup cluster the
    highest-rank node is the most-connected member — a principled
    canonical-representative choice (vs min-id, which is arbitrary).

    Determinism: the neighbor sum is a float reduction, so each
    contribution is fixed-pointed exactly (floor(x * 1e12) -> BIGINT,
    associative sum, one rounded division back) — the same contract
    as label_centroids. Scale: each iteration is one equi-join on the
    edge list plus a partial-aggregatable sum, O(|E|) per round with
    a FIXED round count (no convergence scalar to the driver);
    ``checkpoint`` truncates lineage exactly as in
    connected_components.
    """
    # The edge list feeds every iteration and the iterations chain
    # into ONE action (no per-round convergence count like CC has), so
    # without materialization iteration i's plan would embed the
    # pair-generation subtree i times over. The checkpoint below cuts
    # that once. Round-12: the per-round rank checkpoints are LAZY —
    # localCheckpoint compiles-and-wraps the plan at call time either
    # way (so round i+1 still builds on a one-join-deep LogicalRDD),
    # but eager=True ran one job per round while eager=False lets the
    # consumer's single action materialize all five round RDDs in one
    # job cascade (each rank frame is referenced exactly once per
    # round, so the self-join lineage-cloning failure mode of the CC
    # loop cannot occur here). Measured 4.1s -> 2.8s first-touch /
    # 2.5 -> 2.4s warm at sf0.1, bit-identical output.
    if both is None:
        both = checkpoint(undirected(edges))
    deg = both.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    # Degree is static across iterations, so it joins onto the edge
    # table ONCE, outside the loop — one join per round instead of
    # two. ``both`` arrives hash-partitioned + sorted on src (see
    # undirected()), so this join exchanges only the |V|-sized deg
    # frame (never broadcast — deg is node-cardinality, huge at real
    # scale), and the checkpoint pins the resulting partitioning/
    # ordering so each round's join exchanges only the |V|-sized rank
    # frame, never the O(|E|) edge rows. sf0.1 is wall-clock parity
    # (noise-dominated); the shuffle-volume drop is |E|/|V| per round
    # on a real graph.
    wedges = checkpoint(both.join(deg, "src"))
    ranks = nodes.select("doc_id", F.lit(1.0).alias("rank"))
    for _ in range(PR_ITERS):
        contrib = (
            wedges.join(ranks, wedges.src == ranks.doc_id)
            .select(
                F.col("dst").alias("doc_id"),
                F.floor((F.col("rank") / F.col("deg")) * _PR_SCALE).alias(
                    "fp"
                ),
            )
        )
        sums = contrib.groupBy("doc_id").agg(F.sum("fp").alias("sfp"))
        ranks = checkpoint(
            nodes.join(sums, "doc_id", "left").select(
                "doc_id",
                (
                    F.lit(PR_BASE)
                    + F.lit(PR_DAMP)
                    * (
                        F.coalesce(F.col("sfp"), F.lit(0)).cast("double")
                        / F.lit(float(_PR_SCALE))
                    )
                ).alias("rank"),
            )
        )
    return ranks.select("doc_id", F.col("rank").alias("pagerank"))


def dup_pagerank_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the SimHash near-dup pair graph: isolated docs
    settle at the 0.15 base; hub documents of dense dup clusters rank
    highest and become the keep candidates."""
    return _doc_pagerank(spark, sf_dir)


def _pagerank_oracle() -> str:
    """Unrolled fixed-iteration twin: r0..r5 as chained CTEs (DuckDB
    disallows aggregates in recursive terms, and the iteration count
    is a constant anyway)."""
    iters = []
    prev = "r0"
    for i in range(1, PR_ITERS + 1):
        iters.append(f"""r{i} AS (
  SELECT n.doc_id,
         {PR_BASE} + {PR_DAMP} * (CAST(COALESCE(s.sfp, 0) AS DOUBLE)
                                  / {float(_PR_SCALE)}) AS rank
  FROM documents n LEFT JOIN (
    SELECT e.dst AS doc_id,
           SUM(CAST(floor((r.rank / d.deg) * {_PR_SCALE}) AS BIGINT)) AS sfp
    FROM uedges e
    JOIN {prev} r ON r.doc_id = e.src
    JOIN deg d ON d.src = e.src
    GROUP BY e.dst
  ) s ON s.doc_id = n.doc_id
)""")
        prev = f"r{i}"
    chain = ",\n".join(iters)
    # uedges is referenced by every unrolled iteration; DuckDB inlines
    # CTEs by default, which would re-run the banded self-join 5x —
    # MATERIALIZED pins it (the Spark twin's localCheckpoint).
    return f"""
WITH pairs AS MATERIALIZED (
  {_simhash_edges_sql()}
),
uedges AS MATERIALIZED (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION ALL
  SELECT doc_b AS src, doc_a AS dst FROM pairs
),
deg AS (SELECT src, COUNT(*) AS deg FROM uedges GROUP BY src),
r0 AS (SELECT doc_id, CAST(1.0 AS DOUBLE) AS rank FROM documents),
{chain}
SELECT doc_id, rank AS pagerank FROM {prev}
"""


DUP_PAGERANK_ORACLE = _pagerank_oracle()


# --------------------------------------------------------------------------
# Cluster keep-list (the dedup pipeline's actual output)
# --------------------------------------------------------------------------


def cluster_keep_list_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup pipeline's END PRODUCT: one keep/drop decision per
    document — keep the highest-PageRank member of each near-dup
    cluster (most-connected = most canonical), everything else in the
    cluster drops. Isolated documents are their own cluster and keep
    trivially.

    Composes the two iterative engines over ONE pinned edge table:
    simhash pairs are computed once, then connected_components labels
    clusters and pagerank scores members — without the shared pin the
    banded self-join would run twice. The final argmax is one window
    over (cluster, rank desc, doc_id), deterministic because pagerank
    itself is bit-exact (fixed-point contributions) and ties break on
    doc_id. Scale: adds one |V|-row join + window on top of the two
    engines' documented O(E * rounds) behavior."""
    from pyspark.sql import Window

    # Round-11: both engines' outputs are graph.* shared pins — in a
    # family-warm scope (the bench's graph block) they are
    # already materialized and this query is one join + one window.
    # Cold, the two builds are independent given the shared edge pin;
    # submitting them from two threads overlaps their jobs on the
    # shared executors (the dedup_tier_agreement scheduling pattern),
    # so wall time is max(CC, PR), not the sum — shared_pin's per-key
    # locks make the concurrent builds race-free.
    _doc_both(spark, sf_dir)  # build the shared prefix once, not per thread
    cc, pr = parallel(
        spark,
        partial(_doc_cc, spark, sf_dir),
        partial(_doc_pagerank, spark, sf_dir),
    )
    w = Window.partitionBy("cluster_id").orderBy(
        F.col("pagerank").desc(), F.col("doc_id")
    )
    return (
        cc.join(pr, "doc_id")
        .withColumn("keep_rank", F.row_number().over(w))
        .select(
            "doc_id",
            "cluster_id",
            "pagerank",
            (F.col("keep_rank") == 1).alias("keep"),
        )
    )


def _keep_list_oracle() -> str:
    """Recursive-CTE clusters + unrolled PageRank, joined, argmax per
    cluster. Shares the MATERIALIZED pairs/uedges CTEs so the banded
    self-join runs once on the oracle side too."""
    iters = []
    prev = "r0"
    for i in range(1, PR_ITERS + 1):
        iters.append(f"""r{i} AS (
  SELECT n.doc_id,
         {PR_BASE} + {PR_DAMP} * (CAST(COALESCE(s.sfp, 0) AS DOUBLE)
                                  / {float(_PR_SCALE)}) AS rank
  FROM documents n LEFT JOIN (
    SELECT e.dst AS doc_id,
           SUM(CAST(floor((r.rank / d.deg) * {_PR_SCALE}) AS BIGINT)) AS sfp
    FROM uedges e
    JOIN {prev} r ON r.doc_id = e.src
    JOIN deg d ON d.src = e.src
    GROUP BY e.dst
  ) s ON s.doc_id = n.doc_id
)""")
        prev = f"r{i}"
    chain = ",\n".join(iters)
    return f"""
WITH RECURSIVE pairs AS MATERIALIZED (
  {_simhash_edges_sql()}
),
uedges AS MATERIALIZED (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION ALL
  SELECT doc_b AS src, doc_a AS dst FROM pairs
),
walk(doc_id, reach) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT w.doc_id, e.dst FROM walk w JOIN uedges e ON w.reach = e.src
),
clusters AS (
  SELECT doc_id, min(reach) AS cluster_id FROM walk GROUP BY doc_id
),
deg AS (SELECT src, COUNT(*) AS deg FROM uedges GROUP BY src),
r0 AS (SELECT doc_id, CAST(1.0 AS DOUBLE) AS rank FROM documents),
{chain}
SELECT doc_id, cluster_id, pagerank, keep_rank = 1 AS keep FROM (
  SELECT c.doc_id, c.cluster_id, r.rank AS pagerank,
         CAST(row_number() OVER (
           PARTITION BY c.cluster_id ORDER BY r.rank DESC, c.doc_id
         ) AS INTEGER) AS keep_rank
  FROM clusters c JOIN {prev} r ON r.doc_id = c.doc_id
)
"""


CLUSTER_KEEP_LIST_ORACLE = _keep_list_oracle()


# --------------------------------------------------------------------------
# Dup-graph degree profile (pair-generation observability)
# --------------------------------------------------------------------------


def dup_graph_degrees_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(degree_bucket, n_docs, max_degree): log2-bucketed degree
    distribution of the SimHash near-dup graph, including the
    degree-0 mass (docs with no near-dup). The observability gate a
    dedup pipeline runs BEFORE clustering: a fat high-degree tail
    means boilerplate leaked through the banding and the pair join is
    about to do quadratic work — cheaper to catch here, on one
    aggregate of the edge list, than inside the CC/PageRank rounds.
    Shape: edges -> per-doc degree (one partial-aggregated shuffle),
    left join docs for the zero mass, log2 bucket, tiny groupBy."""
    docs = tables.table(spark, sf_dir, "documents").select("doc_id")
    edges = _doc_edges(spark, sf_dir)
    both = edges.union(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    deg = both.groupBy("src").agg(F.count(F.lit(1)).alias("degree"))
    per_doc = docs.join(deg, docs.doc_id == deg.src, "left").select(
        F.coalesce("degree", F.lit(0)).alias("degree")
    )
    bucket = F.when(
        F.col("degree") == 0, F.lit(-1)
    ).otherwise(F.floor(F.log2(F.col("degree").cast("double"))).cast("int"))
    return (
        per_doc.select(bucket.alias("degree_bucket"), "degree")
        .groupBy("degree_bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.max("degree").alias("max_degree"),
        )
    )


DUP_GRAPH_DEGREES_ORACLE = f"""
WITH pairs AS (
  {{pairs_sql}}
),
uedges AS (
  SELECT doc_a AS src FROM pairs
  UNION ALL
  SELECT doc_b AS src FROM pairs
),
deg AS (SELECT src, CAST(count(*) AS BIGINT) AS degree FROM uedges GROUP BY src),
per_doc AS (
  SELECT COALESCE(degree, 0) AS degree
  FROM documents d LEFT JOIN deg ON deg.src = d.doc_id
)
SELECT CASE WHEN degree = 0 THEN -1
            ELSE CAST(floor(log2(CAST(degree AS DOUBLE))) AS INT) END
         AS degree_bucket,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(max(degree) AS BIGINT) AS max_degree
FROM per_doc
GROUP BY 1
"""


def _degrees_oracle() -> str:
    return DUP_GRAPH_DEGREES_ORACLE.replace("{pairs_sql}", _simhash_edges_sql())


# --------------------------------------------------------------------------
# k-core decomposition (dense-duplicate nucleus extraction)
# --------------------------------------------------------------------------

KCORE_K = 2  # minimum induced degree to stay in the core
# Oracle unroll depth: the Spark side peels to FIXPOINT (true k-core);
# the DuckDB twin unrolls this many rounds. Peeling is monotone, so
# extra rounds are identity — the unroll only needs to COVER the
# gate data's peel depth (sf0.01 converges in <= 4; 12 is slack).
KCORE_ORACLE_ROUNDS = 12


def kcore_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, core_degree): the K-core of the SimHash near-dup graph
    — iteratively peel every node whose degree in the surviving
    induced subgraph is < K, then report each survivor with its final
    induced degree. The dense nucleus this isolates is the template/
    boilerplate family a curation pipeline drops wholesale (a chain
    of pairwise near-dups keeps its middle; only mutually-dense
    regions survive the peel), complementing connected components
    (which merge everything reachable) and PageRank (which scores but
    never prunes).

    Peeling is the standard parallel k-core formulation (Matula &
    Beck's algorithm restated as fixpoint): the first degrees come
    straight off the pinned undirected edge table (no edge touches
    every doc, so an initial all-docs restriction is the identity and
    is skipped), then each round restricts the edge table to
    surviving endpoints with two BROADCAST left-semi joins — the
    survivor frame is id-width and peeling only shrinks it, so it
    rides the broadcast path, the 2|E| edge rows never shuffle, and
    the per-round degree count reuses the edge pin's src hash
    partitioning (map-side, exchange-free). Work per round is
    O(|E_surviving|) scan + |V|-width broadcast and rounds are
    bounded by the peel depth (typically 2-4 on near-dup graphs).
    The loop runs to FIXPOINT (true k-core) with the same
    one-scalar-per-round convergence check and ``checkpoint``
    regime as connected_components — and at fixpoint the last degree
    frame IS the answer (nothing fell below K), so the result
    re-derives nothing. On a graph whose core outgrows a broadcast
    (~10M+ survivors) the same loop holds with the semi-joins falling
    back to the exchange plan — flip the hint, not the algorithm.
    The DuckDB oracle unrolls KCORE_ORACLE_ROUNDS of the same peel,
    which covers the gate data's peel depth (peeling is monotone —
    extra unrolled rounds are identity once stable).

    Reference scope note: the reference (Kafka Streams scaffold) has
    no graph tier at all; this extends the dedup family per the
    north-star brief.
    """
    both = _doc_both(spark, sf_dir)
    deg = both.groupBy("src").agg(F.count(F.lit(1)).alias("degree"))
    prev_n = None
    for _ in range(MAX_ROUNDS):
        surv = checkpoint(
            deg.filter(F.col("degree") >= KCORE_K).select(
                F.col("src").alias("doc_id")
            )
        )
        n = surv.count()  # one scalar/round, as connected_components
        if n == prev_n:
            break
        prev_n = n
        alive = (
            both.join(
                F.broadcast(surv.select(F.col("doc_id").alias("src"))),
                "src",
                "left_semi",
            ).join(
                F.broadcast(surv.select(F.col("doc_id").alias("dst"))),
                "dst",
                "left_semi",
            )
        )
        deg = alive.groupBy("src").agg(F.count(F.lit(1)).alias("degree"))
    # At fixpoint every node in ``deg`` cleared the K filter (else the
    # survivor count would have shrunk once more); the filter is kept
    # only for the MAX_ROUNDS-exhaustion edge where the loop stops
    # before convergence.
    return deg.filter(F.col("degree") >= KCORE_K).select(
        F.col("src").alias("doc_id"), F.col("degree").alias("core_degree")
    )


def _kcore_round(prev_s: str, r: int) -> str:
    return f"""
e{r} AS MATERIALIZED (
  SELECT e.src, e.dst FROM uedges e
  WHERE e.src IN (SELECT doc_id FROM {prev_s})
    AND e.dst IN (SELECT doc_id FROM {prev_s})
),
d{r} AS (SELECT src, count(*) AS degree FROM e{r} GROUP BY src),
s{r} AS MATERIALIZED (
  SELECT src AS doc_id FROM d{r} WHERE degree >= {KCORE_K})"""


def _kcore_oracle() -> str:
    rounds = ",".join(
        _kcore_round(f"s{r - 1}", r)
        for r in range(1, KCORE_ORACLE_ROUNDS + 1)
    )
    last = f"s{KCORE_ORACLE_ROUNDS}"
    return f"""
WITH pairs AS MATERIALIZED (
  {_simhash_edges_sql()}
),
uedges AS MATERIALIZED (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION ALL
  SELECT doc_b AS src, doc_a AS dst FROM pairs
),
s0 AS (SELECT doc_id FROM documents),
{rounds}
SELECT e.src AS doc_id, CAST(count(*) AS BIGINT) AS core_degree
FROM uedges e
WHERE e.src IN (SELECT doc_id FROM {last})
  AND e.dst IN (SELECT doc_id FROM {last})
GROUP BY e.src
"""


KCORE_ORACLE = _kcore_oracle()


# --------------------------------------------------------------------------
# Source modularity (does near-duplication stay within sources?)
# --------------------------------------------------------------------------


def source_modularity_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(source, n_docs_in_graph, e_intra, d_sum, q_num, q_contrib):
    Newman modularity of the SimHash near-dup graph with respect to
    the SOURCE partition — per source, the intra-source edge count
    against the expectation under random wiring, Q_c = e_c/m -
    (d_c/2m)^2. A strongly positive sum means duplication is
    source-internal (dedup can shard by source); contributions near
    or below zero mean templates cross sources and dedup MUST be
    global — the measurement that justifies (or forbids) partitioning
    the dedup job. Exact arithmetic: q_num = 4*m*e_c - d_c^2 over
    integer edge/degree counts, one double division at the end
    (q_contrib = q_num / (4*m^2)).

    Unlike a connected-component partition (where every edge is
    intra by construction and d_c = 2*e_c), the source partition can
    cut edges, so both terms carry information.

    Scale: the pair table is the banded detector output; degrees and
    intra-counts are partial-aggregatable rollups to |sources| rows;
    m is a one-row broadcast. Nothing here is heavier than the
    detector that feeds it."""
    docs = tables.table(spark, sf_dir, "documents").select("doc_id", "source")
    edges = _doc_edges(spark, sf_dir).select(
        F.col("src").alias("doc_a"), F.col("dst").alias("doc_b")
    )
    sa = docs.select(F.col("doc_id").alias("doc_a"), F.col("source").alias("src_a"))
    sb = docs.select(F.col("doc_id").alias("doc_b"), F.col("source").alias("src_b"))
    labeled = edges.join(sa, "doc_a").join(sb, "doc_b")
    m_frame = edges.agg(F.count(F.lit(1)).cast("bigint").alias("m"))
    intra = (
        labeled.filter(F.col("src_a") == F.col("src_b"))
        .groupBy(F.col("src_a").alias("source"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("e_intra"))
    )
    deg = (
        labeled.select(F.col("doc_a").alias("doc_id"), F.col("src_a").alias("source"))
        .union(
            labeled.select(
                F.col("doc_b").alias("doc_id"), F.col("src_b").alias("source")
            )
        )
        .groupBy("doc_id", "source")
        .agg(F.count(F.lit(1)).cast("bigint").alias("degree"))
    )
    per_source = deg.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs_in_graph"),
        F.sum("degree").cast("bigint").alias("d_sum"),
    )
    return (
        per_source.join(intra, "source", "left")
        .crossJoin(F.broadcast(m_frame))
        .select(
            "source",
            "n_docs_in_graph",
            F.coalesce("e_intra", F.lit(0)).cast("bigint").alias("e_intra"),
            "d_sum",
            (
                4 * F.col("m") * F.coalesce("e_intra", F.lit(0))
                - F.col("d_sum") * F.col("d_sum")
            )
            .cast("bigint")
            .alias("q_num"),
            (
                (
                    4 * F.col("m") * F.coalesce("e_intra", F.lit(0))
                    - F.col("d_sum") * F.col("d_sum")
                ).cast("double")
                / (4 * F.col("m") * F.col("m")).cast("double")
            ).alias("q_contrib"),
        )
    )


SOURCE_MODULARITY_ORACLE = f"""
WITH pairs AS (
  {{pairs_sql}}
),
labeled AS (
  SELECT p.doc_a, p.doc_b, da.source AS src_a, db.source AS src_b
  FROM pairs p
  JOIN documents da ON da.doc_id = p.doc_a
  JOIN documents db ON db.doc_id = p.doc_b
),
m AS (SELECT CAST(count(*) AS BIGINT) AS m FROM labeled),
intra AS (
  SELECT src_a AS source, CAST(count(*) AS BIGINT) AS e_intra
  FROM labeled WHERE src_a = src_b GROUP BY 1
),
deg AS (
  SELECT doc_id, source, CAST(count(*) AS BIGINT) AS degree
  FROM (
    SELECT doc_a AS doc_id, src_a AS source FROM labeled
    UNION ALL
    SELECT doc_b AS doc_id, src_b AS source FROM labeled
  )
  GROUP BY 1, 2
),
per_source AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_docs_in_graph,
         CAST(sum(degree) AS BIGINT) AS d_sum
  FROM deg GROUP BY 1
)
SELECT ps.source, ps.n_docs_in_graph,
       CAST(coalesce(i.e_intra, 0) AS BIGINT) AS e_intra,
       ps.d_sum,
       CAST(4 * m.m * coalesce(i.e_intra, 0) - ps.d_sum * ps.d_sum
            AS BIGINT) AS q_num,
       CAST(4 * m.m * coalesce(i.e_intra, 0) - ps.d_sum * ps.d_sum
            AS DOUBLE)
         / CAST(4 * m.m * m.m AS DOUBLE) AS q_contrib
FROM per_source ps
LEFT JOIN intra i ON i.source = ps.source
CROSS JOIN m
"""


def _source_modularity_oracle() -> str:
    return SOURCE_MODULARITY_ORACLE.replace("{pairs_sql}", _simhash_edges_sql())


# --------------------------------------------------------------------------
# Degree assortativity (do hubs attach to hubs?)
# --------------------------------------------------------------------------


def degree_assortativity_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(n_edges, sxy, sx, sx2, assortativity): Newman's degree
    assortativity coefficient of the SimHash near-dup graph — the
    Pearson correlation of endpoint degrees over the directed edge
    list (both directions, so the statistic is symmetric and sy == sx
    collapse into one set of sums). Near-dup graphs are typically
    strongly assortative (template families form near-cliques whose
    members all share high degree); a drop toward 0 after a dedup
    pass is evidence the cliques were actually removed. Power sums
    are exact integers (degrees are counts); only the final Pearson
    assembly is floating point — one deterministic expression on
    five integers.

    Scale: degree rollup + one id-width join per endpoint + a single
    global integer aggregate. No pair work beyond the existing edge
    list."""
    edges = _doc_edges(spark, sf_dir).select(
        F.col("src").alias("doc_a"), F.col("dst").alias("doc_b")
    )
    both = edges.union(
        edges.select(F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b"))
    )
    deg = both.groupBy(F.col("doc_a").alias("doc_id")).agg(
        F.count(F.lit(1)).cast("bigint").alias("degree")
    )
    da = deg.select(F.col("doc_id").alias("doc_a"), F.col("degree").alias("dx"))
    db = deg.select(F.col("doc_id").alias("doc_b"), F.col("degree").alias("dy"))
    sums = (
        both.join(da, "doc_a")
        .join(db, "doc_b")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_edges"),
            F.sum(F.col("dx") * F.col("dy")).cast("bigint").alias("sxy"),
            F.sum("dx").cast("bigint").alias("sx"),
            F.sum(F.col("dx") * F.col("dx")).cast("bigint").alias("sx2"),
        )
    )
    r = (
        (F.col("n_edges") * F.col("sxy") - F.col("sx") * F.col("sx")).cast(
            "double"
        )
        / (
            (F.col("n_edges") * F.col("sx2") - F.col("sx") * F.col("sx")).cast(
                "double"
            )
        )
    )
    return sums.select(
        "n_edges",
        "sxy",
        "sx",
        "sx2",
        F.when(
            F.col("n_edges") * F.col("sx2") != F.col("sx") * F.col("sx"), r
        ).alias("assortativity"),
    )


DEGREE_ASSORTATIVITY_ORACLE = f"""
WITH pairs AS (
  {{pairs_sql}}
),
both_dir AS (
  SELECT doc_a, doc_b FROM pairs
  UNION ALL
  SELECT doc_b AS doc_a, doc_a AS doc_b FROM pairs
),
deg AS (
  SELECT doc_a AS doc_id, CAST(count(*) AS BIGINT) AS degree
  FROM both_dir GROUP BY 1
),
sums AS (
  SELECT CAST(count(*) AS BIGINT) AS n_edges,
         CAST(sum(da.degree * db.degree) AS BIGINT) AS sxy,
         CAST(sum(da.degree) AS BIGINT) AS sx,
         CAST(sum(da.degree * da.degree) AS BIGINT) AS sx2
  FROM both_dir b
  JOIN deg da ON da.doc_id = b.doc_a
  JOIN deg db ON db.doc_id = b.doc_b
)
SELECT n_edges, sxy, sx, sx2,
       CASE WHEN n_edges * sx2 <> sx * sx THEN
         CAST(n_edges * sxy - sx * sx AS DOUBLE)
           / CAST(n_edges * sx2 - sx * sx AS DOUBLE)
       END AS assortativity
FROM sums
"""


def _degree_assortativity_oracle() -> str:
    return DEGREE_ASSORTATIVITY_ORACLE.replace(
        "{pairs_sql}", _simhash_edges_sql()
    )


# --------------------------------------------------------------------------
# Dedup-aware corpus estimation (representative + cluster-size weights)
# --------------------------------------------------------------------------


def dedup_representative_stats_query(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """(n_docs, n_clusters, exact_chars, est_chars, err_per_mille):
    the dedup-aware sampling identity check — keep ONE representative
    per duplicate cluster (min doc_id over the SimHash near-dup
    components, singletons representing themselves) and estimate the
    corpus character total as sum(cluster_size * rep_n_chars), the
    Horvitz-Thompson-style weighting a pipeline uses when it
    processes only representatives but must report corpus-level
    stats. err_per_mille = |est - exact| * 1000 div exact is the
    integer-exact bias readout: near-dups are NOT byte-identical, so
    the estimate drifts exactly as much as members differ from their
    representative — the number that says whether rep-only
    processing is safe for a given metric.

    Scale: rides the shared CC engine (bounded near-dup edge list,
    O(E)/round min-label propagation); everything after the cluster
    labels is id-width rollups. Reference mirror: the KTable
    "one value stands for the key" contract
    (streams/PurchasesTopology.java:57) lifted to duplicate classes."""
    docs = tables.table(spark, sf_dir, "documents").select(
        "doc_id", "n_chars"
    )
    clusters = dedup_clusters_query(spark, sf_dir)
    sized = clusters.groupBy("cluster_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("sz"),
        F.min("doc_id").alias("rep_id"),
    )
    est = sized.join(
        docs.select(F.col("doc_id").alias("rep_id"), "n_chars"), "rep_id"
    ).agg(
        F.sum("sz").cast("bigint").alias("n_docs"),
        F.count(F.lit(1)).cast("bigint").alias("n_clusters"),
        F.sum(F.col("sz") * F.col("n_chars")).cast("bigint").alias("est_chars"),
    )
    exact = docs.agg(F.sum("n_chars").cast("bigint").alias("exact_chars"))
    return (
        est.crossJoin(F.broadcast(exact))
        .filter(F.col("n_docs") > 0)
        .select(
            "n_docs",
            "n_clusters",
            "exact_chars",
            "est_chars",
            F.expr(
                "(abs(est_chars - exact_chars) * 1000)"
                " div greatest(exact_chars, cast(1 as bigint))"
            ).cast("bigint").alias("err_per_mille"),
        )
    )


DEDUP_REPRESENTATIVE_STATS_ORACLE = f"""
WITH RECURSIVE pairs AS (
  {_simhash_edges_sql()}
),
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION ALL
  SELECT doc_b AS src, doc_a AS dst FROM pairs
),
walk(doc_id, reach) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT w.doc_id, e.dst FROM walk w JOIN edges e ON w.reach = e.src
),
clusters AS (
  SELECT doc_id, min(reach) AS cluster_id FROM walk GROUP BY doc_id
),
sized AS (
  SELECT cluster_id, CAST(count(*) AS BIGINT) AS sz,
         min(doc_id) AS rep_id
  FROM clusters GROUP BY 1
),
est AS (
  SELECT CAST(sum(s.sz) AS BIGINT) AS n_docs,
         CAST(count(*) AS BIGINT) AS n_clusters,
         CAST(sum(s.sz * d.n_chars) AS BIGINT) AS est_chars
  FROM sized s JOIN documents d ON d.doc_id = s.rep_id
),
exact AS (
  SELECT CAST(sum(n_chars) AS BIGINT) AS exact_chars FROM documents
)
SELECT n_docs, n_clusters, exact_chars, est_chars,
       CAST((abs(est_chars - exact_chars) * 1000)
            // greatest(exact_chars, 1) AS BIGINT) AS err_per_mille
FROM est, exact
WHERE n_docs > 0
"""

# --------------------------------------------------------------------------
# Semantic dedup keep-manifest (round 8): one keep per embedding cluster
# --------------------------------------------------------------------------


def semantic_dedup_keep_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, cluster_id, cluster_size, quality_score, keep): the
    SEMANTIC dedup end product — embedding near-dup clusters
    (``embedding_dup_clusters``: cosine >= tau inside bounded IVF
    cells, components over that graph) crossed with the per-doc
    composite quality score, keeping the HIGHEST-QUALITY member of
    each cluster (ties on doc_id). The embedding-space twin of
    ``cluster_keep_list`` (whose clusters are lexical MinHash and
    whose canonicality is PageRank): lexical dedup drops re-typed
    copies; semantic dedup drops re-PHRASED ones, and keep-best-
    quality is the production rule for that tier (you keep the clean
    rendition, not the most-connected one). Round-7 verdict
    suggestion (c).

    Exactness: clusters come from the certified CC engine;
    quality_score is a fixed IEEE expression on exact counts; the
    keep rank is a deterministic window (score DESC, doc_id). The
    vec_id == doc_id identity is the fixtures' 1:1 contract
    (embeddings ARE the documents' vectors).

    Scale: composes two certified plans plus one |docs|-row join and
    one window partitioned by cluster (cluster sizes are bounded by
    the IVF cell cap). One new shuffle (the join), nothing pairwise."""
    from pyspark.sql import Window
    from .textops import quality_score_query

    clusters = embedding_dup_clusters_query(spark, sf_dir)
    quality = quality_score_query(spark, sf_dir).select(
        "doc_id", "quality_score"
    )
    joined = clusters.join(
        quality, clusters["vec_id"] == quality["doc_id"]
    ).select("doc_id", "cluster_id", "quality_score")
    w = Window.partitionBy("cluster_id").orderBy(
        F.col("quality_score").desc(), "doc_id"
    )
    sized = Window.partitionBy("cluster_id")
    return joined.select(
        "doc_id",
        "cluster_id",
        F.count(F.lit(1)).over(sized).cast("bigint").alias("cluster_size"),
        "quality_score",
        (F.row_number().over(w) == 1).alias("keep"),
    )


def _semantic_keep_oracle() -> str:
    from .similarity import DUCK_NEAR_DUP_CTES, DUCK_NEAR_DUP_SELECT
    from .textops import _EN_STOPWORDS, _sql_list

    return f"""
WITH RECURSIVE {DUCK_NEAR_DUP_CTES},
pairs AS (
  {DUCK_NEAR_DUP_SELECT}
),
uedges AS (
  SELECT vec_a AS src, vec_b AS dst FROM pairs
  UNION ALL
  SELECT vec_b AS src, vec_a AS dst FROM pairs
),
walk(vec_id, reach) AS (
  SELECT vec_id, vec_id FROM embeddings
  UNION
  SELECT w.vec_id, e.dst FROM walk w JOIN uedges e ON w.reach = e.src
),
clusters AS (
  SELECT vec_id, min(reach) AS cluster_id
  FROM walk GROUP BY vec_id
),
sq_base AS (
  SELECT doc_id, text,
         list_filter(string_split_regex(lower(text), '\\W+'),
                     x -> x <> '') AS toks,
         length(text) AS n_chars_actual,
         length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS alpha_chars
  FROM documents
),
sq AS (
  SELECT doc_id,
         0.4 * least(1.0, CAST(len(toks) AS DOUBLE) / 50.0)
           + 0.3 * (CAST(alpha_chars AS DOUBLE) / n_chars_actual)
           + 0.3 * (1.0 - CAST(len(list_filter(toks,
                 x -> x IN ({_sql_list(_EN_STOPWORDS)}))) AS DOUBLE)
               / len(toks)) AS quality_score
  FROM sq_base
),
joined AS (
  SELECT q.doc_id, c.cluster_id, q.quality_score
  FROM clusters c JOIN sq q ON q.doc_id = c.vec_id
)
SELECT doc_id, cluster_id,
       CAST(count(*) OVER (PARTITION BY cluster_id) AS BIGINT)
         AS cluster_size,
       quality_score,
       row_number() OVER (
         PARTITION BY cluster_id ORDER BY quality_score DESC, doc_id
       ) = 1 AS keep
FROM joined
"""


SEMANTIC_DEDUP_KEEP_ORACLE = _semantic_keep_oracle()


# --------------------------------------------------------------------------
# In-batch negative collision rate from the duplicate clusters
# --------------------------------------------------------------------------

_COLLISION_BATCH = 1024


def contrastive_collision_query(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """(n_docs, n_clusters, n_multi, same_pair_mass, p_collision,
    exp_dups_per_batch): the probability that two documents drawn
    uniformly (without replacement) into the same contrastive
    training batch are near-duplicates of each other — computed
    exactly from the SimHash duplicate clusters as
    p = sum_c |c|(|c|-1) / (N(N-1)) — and the expected number of
    duplicate pairs a batch of _COLLISION_BATCH carries
    (C(B,2) * p). THE number that decides whether a corpus needs
    dedup BEFORE contrastive/embedding training: in-batch negatives
    that are secretly positives poison InfoNCE at exactly this rate.

    Exactness: cluster sizes and the pair mass are exact BIGINTs off
    the (driver-green) connected-components labels; both readouts
    are fixed flop sequences on those integers.

    Scale: rides the CC engine's certified path (cluster labels are
    id-width); the rollup is |clusters|-sized, the readout one row."""
    labels = dedup_clusters_query(spark, sf_dir)
    sizes = labels.groupBy("cluster_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("sz")
    )
    b = _COLLISION_BATCH
    return sizes.agg(
        F.sum("sz").cast("bigint").alias("n_docs"),
        F.count(F.lit(1)).cast("bigint").alias("n_clusters"),
        F.sum((F.col("sz") > 1).cast("bigint")).alias("n_multi"),
        F.sum(F.col("sz") * (F.col("sz") - 1)).cast("bigint").alias(
            "same_pair_mass"
        ),
    ).select(
        "n_docs",
        "n_clusters",
        "n_multi",
        "same_pair_mass",
        F.when(
            F.col("n_docs") > 1,
            F.col("same_pair_mass").cast("double")
            / (F.col("n_docs") * (F.col("n_docs") - 1)).cast("double"),
        ).otherwise(F.lit(0.0)).alias("p_collision"),
        F.when(
            F.col("n_docs") > 1,
            F.lit(float(b * (b - 1) // 2))
            * F.col("same_pair_mass").cast("double")
            / (F.col("n_docs") * (F.col("n_docs") - 1)).cast("double"),
        ).otherwise(F.lit(0.0)).alias("exp_dups_per_batch"),
    )


CONTRASTIVE_COLLISION_ORACLE = f"""
WITH labels AS (
  {DEDUP_CLUSTERS_ORACLE.strip().rstrip(';')}
),
sizes AS (
  SELECT cluster_id, CAST(count(*) AS BIGINT) AS sz
  FROM labels GROUP BY 1
),
agg AS (
  SELECT CAST(sum(sz) AS BIGINT) AS n_docs,
         CAST(count(*) AS BIGINT) AS n_clusters,
         CAST(sum(CASE WHEN sz > 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_multi,
         CAST(sum(sz * (sz - 1)) AS BIGINT) AS same_pair_mass
  FROM sizes
)
SELECT n_docs, n_clusters, n_multi, same_pair_mass,
       CASE WHEN n_docs > 1 THEN
         CAST(same_pair_mass AS DOUBLE)
           / CAST(n_docs * (n_docs - 1) AS DOUBLE)
       ELSE 0.0 END AS p_collision,
       CASE WHEN n_docs > 1 THEN
         {float(_COLLISION_BATCH * (_COLLISION_BATCH - 1) // 2)!r}
           * CAST(same_pair_mass AS DOUBLE)
           / CAST(n_docs * (n_docs - 1) AS DOUBLE)
       ELSE 0.0 END AS exp_dups_per_batch
FROM agg
"""
