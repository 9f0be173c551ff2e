"""Graph analytics over relationship edges mined from the corpus.

The reference engine has no graph surface (its single query is a
windowed hashtag count, `SparkApplication.scala:63-95`), but a
training-data pipeline at 100 TB needs link-graph signals: PageRank
for source-quality weighting (a la Common Crawl host ranks feeding
corpus sampling weights) and degree distributions for connectivity
audits. Both are expressed as DataFrame join/agg algebra so Catalyst
plans distributed hash joins — the GraphX-free idiom that survives a
1000-executor cluster.

Graph: the undirected bipartite customer<->supplier graph induced by
order lines (an edge when a customer ordered a part supplied by that
supplier). Node ids are prefixed ('c'/'s') so the two key spaces
cannot collide.

Scale design: the edge list is built once (distinct equi-join), then
`localCheckpoint`ed — every PageRank iteration re-reads the
materialized edges instead of re-planning the orders⋈lineitem join,
and the lineage cut keeps the plan from growing by two joins per
iteration (unbounded lineage is the classic iterative-Spark failure).
Each iteration is ONE shuffle (the groupBy(dst) contribution sum);
the rank side is tiny (O(nodes)) relative to edges at real scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import register
from ..sources import load_table
from ..util import LastHandle

DAMPING = 0.85
N_ITER = 3


# Supersession holder for each graph operator's checkpointed edge
# blocks: repeated bench/verify runs keep at most one generation in
# the block manager instead of accumulating for the session lifetime
# (same pattern as _LAST_BLOOM_OUT in joins.py).
_LAST_GRAPH_CKPT = LastHandle()


# Round-13 NOTE: the edge-list MEMO that used to live here (one
# materialized generation shared across the five _edges consumers,
# keyed on sf_dir + lineitem mtime) was REMOVED: a module-level memo
# of a corpus-derived intermediate makes each query's bench number
# depend on which query ran first — the optimization-round rules
# forbid exactly that. Every query now pays its own edge build,
# checkpointed within the query for iteration hygiene and released
# by supersession when the SECOND-next graph query builds its own
# (keep=2: the previous query's returned DataFrame may still be
# acting when the next one builds; each query calls _edges exactly
# once, so a newer build never evicts its own caller's edges).
_LAST_EDGE_BUILD = LastHandle(keep=2)


def _edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Undirected (both-direction) prefixed edge list, materialized
    per query invocation (iterations re-read the checkpointed RDD,
    never the fact join).

    LIFETIME CONTRACT (ADVICE r13): a graph query's returned
    DataFrame depends on checkpoint blocks released when the
    SECOND-next graph query builds its own edges (keep=2
    supersession). Act on a graph result (noop/collect/write)
    before invoking two further graph queries; a consumer that must
    hold results longer should materialize them first. The bench,
    oracle and CLI paths all act immediately, so they are safe by
    construction."""
    df, ck = _build_edges(spark, sf_dir)
    _LAST_EDGE_BUILD.replace(ck)
    return df


def _build_edges(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey"
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey"
    )
    cs = (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .select(
            F.concat(F.lit("c"), F.col("o_custkey")).alias("src"),
            F.concat(F.lit("s"), F.col("l_suppkey")).alias("dst"),
        )
        .distinct()
        # Materialize ONE direction only: iterations must not re-run
        # the fact join, and the lineage cut keeps the iterative plan
        # flat — but the reverse direction is a narrow column swap,
        # so checkpointing it too wrote and pinned every edge TWICE
        # (round-14: half the materialized bytes; each consumer scan
        # reads the same blocks for both union branches).
        .localCheckpoint(eager=True)
    )
    und = cs.union(cs.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    return und, cs


# Three unrolled PageRank iterations as DuckDB CTEs — same damping,
# same teleport, same double arithmetic (1e0 literals keep DuckDB in
# DOUBLE; bare 1.0 would be DECIMAL and diverge).
_PAGERANK_ORACLE = """
    WITH e0 AS (
        SELECT DISTINCT 'c' || o_custkey AS src, 's' || l_suppkey AS dst
        FROM orders JOIN lineitem ON l_orderkey = o_orderkey
    ),
    edges AS (SELECT src, dst FROM e0
              UNION ALL SELECT dst AS src, src AS dst FROM e0),
    deg AS (SELECT src, count(*) AS d FROM edges GROUP BY src),
    nn AS (SELECT count(*) AS n FROM deg),
    r0 AS (SELECT src AS node, 1e0 / nn.n AS r FROM deg, nn),
    c1 AS (SELECT e.dst AS node, sum(r.r / d.d) AS s
           FROM edges e JOIN r0 r ON r.node = e.src
                        JOIN deg d ON d.src = e.src
           GROUP BY e.dst),
    r1 AS (SELECT node, 0.15e0 / nn.n + 0.85e0 * s AS r FROM c1, nn),
    c2 AS (SELECT e.dst AS node, sum(r.r / d.d) AS s
           FROM edges e JOIN r1 r ON r.node = e.src
                        JOIN deg d ON d.src = e.src
           GROUP BY e.dst),
    r2 AS (SELECT node, 0.15e0 / nn.n + 0.85e0 * s AS r FROM c2, nn),
    c3 AS (SELECT e.dst AS node, sum(r.r / d.d) AS s
           FROM edges e JOIN r2 r ON r.node = e.src
                        JOIN deg d ON d.src = e.src
           GROUP BY e.dst),
    r3 AS (SELECT node, 0.15e0 / nn.n + 0.85e0 * s AS r FROM c3, nn)
    SELECT node, round(r * (SELECT n FROM nn), 4) AS rank_scaled
    FROM r3
"""


@register("q_graph_pagerank", oracle=_PAGERANK_ORACLE)
def q_graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank (damping 0.85, 3 iterations) over the customer<->
    supplier graph, as pure DataFrame join/agg iteration.

    Every node of the undirected graph has out-edges, so there is no
    dangling-mass term; ranks are emitted scaled by N (so values are
    O(1) and the 4-decimal parity grid is meaningful at any corpus
    size). Per iteration: the rank vector is pre-divided by
    out-degree on the O(nodes) side (tiny join of two node-sized
    frames), broadcast, joined map-side to the one checkpointed edge
    list, then one groupBy(dst) shuffle and the teleport affine map —
    the textbook bulk-synchronous PageRank expressed declaratively.
    Degree lives ONLY on the node side: attaching d to every edge row
    (the earlier shape) re-materialized the edge list with an extra
    column — O(|E|) storage and a second checkpoint pass that folding
    r/d into the broadcast avoids (measured ~20% end-to-end at
    sf 0.1, and at 100 TB the |E|-sized write it saves is the
    dominant term).
    """
    edges = _edges(spark, sf_dir)
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("d"))
    _LAST_GRAPH_CKPT.persist(deg)
    n = deg.count()
    if n == 0:  # empty graph: no nodes, no ranks (restart robustness)
        return spark.createDataFrame([], "node string, rank_scaled double")
    ranks = deg.select(
        F.col("src").alias("node"), F.lit(1.0 / n).alias("r")
    )
    for _ in range(N_ITER):
        # Explicit broadcast of the per-node contribution vector:
        # |nodes| << |edges| by construction, and without it each
        # iteration sort-merge shuffles the full edge list — the
        # broadcast turns all three iterations into map-side joins
        # over the one checkpointed edge partitioning (measured 2x
        # end-to-end at sf0.1).
        rd = ranks.join(deg, ranks.node == deg.src).select(
            "node", (F.col("r") / F.col("d")).alias("rd")
        )
        contribs = (
            edges.join(F.broadcast(rd), edges.src == rd.node)
            .groupBy("dst")
            .agg(F.sum("rd").alias("s"))
        )
        ranks = contribs.select(
            F.col("dst").alias("node"),
            (F.lit(0.15 / n) + F.lit(DAMPING) * F.col("s")).alias("r"),
        )
    return ranks.select(
        "node", F.round(F.col("r") * F.lit(float(n)), 4).alias("rank_scaled")
    )


@register(
    "q_graph_degree",
    oracle="""
    WITH e0 AS (
        SELECT DISTINCT 'c' || o_custkey AS src, 's' || l_suppkey AS dst
        FROM orders JOIN lineitem ON l_orderkey = o_orderkey
    ),
    edges AS (SELECT src, dst FROM e0
              UNION ALL SELECT dst AS src, src AS dst FROM e0),
    deg AS (SELECT src, count(*) AS d FROM edges GROUP BY src)
    SELECT d AS degree, count(*) AS n_nodes
    FROM deg GROUP BY d
    """,
)
def q_graph_degree(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree distribution of the same graph — the connectivity audit
    run before any graph algorithm at scale (skew in the degree
    histogram predicts shuffle skew in the PageRank contribution
    join; a heavy-tail head is what you'd salt)."""
    edges = _edges(spark, sf_dir)
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("d"))
    return deg.groupBy(F.col("d").alias("degree")).agg(
        F.count(F.lit(1)).alias("n_nodes")
    )


def _orient_by_degree(base: DataFrame) -> DataFrame:
    """Re-orient a deduplicated undirected edge set (stored once per
    edge as id-ordered (u, v)) so every edge points from its
    lower-(degree, id) endpoint to the higher — the arboricity-bounded
    orientation: a hub of degree d takes the wedge SOURCE role only
    against neighbors of equal-or-higher rank, so its out-fan-out
    (and thus the wedge blowup it can cause) is bounded by the
    graph's degeneracy instead of d. The degree table is O(|V|),
    broadcast (same |V| << |E| argument as the PageRank rank vector).
    """
    deg = (
        base.select(F.col("u").alias("node"))
        .unionAll(base.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    joined = base.join(
        F.broadcast(deg.select(F.col("node").alias("u"), F.col("d").alias("du"))),
        "u",
    ).join(
        F.broadcast(deg.select(F.col("node").alias("v"), F.col("d").alias("dv"))),
        "v",
    )
    u_first = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    return joined.select(
        F.when(u_first, F.col("u")).otherwise(F.col("v")).alias("u"),
        F.when(u_first, F.col("v")).otherwise(F.col("u")).alias("v"),
    )


@register(
    "q_graph_triangles",
    oracle="""
    WITH edges AS (
      SELECT DISTINCT least(a.l_partkey, b.l_partkey) AS u,
             greatest(a.l_partkey, b.l_partkey) AS v
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    )
    SELECT CAST((SELECT count(*) FROM edges) AS BIGINT) AS n_edges,
           CAST((SELECT count(*) FROM edges e1
                 JOIN edges e2 ON e1.v = e2.u
                 JOIN edges e3 ON e3.u = e1.u AND e3.v = e2.v)
                AS BIGINT) AS n_triangles
    """,
)
def q_graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle counting over the co-order part graph (parts are
    connected when some order contains both) — the classic clustering
    /community signal, and the canonical test of a join planner's
    wedge enumeration. Oriented formulation: every edge is stored
    once, directed from its lower-(degree, id) endpoint to the higher
    (a total order, so the orientation is acyclic and each triangle
    is counted exactly once as the wedge a→b→c closed by a→c — no
    post-hoc division by 6). Degree-orientation is the 100 TB design:
    on a power-law graph an id-oriented hub with d co-parts fans out
    O(d²) wedges whenever its id sorts low, while (degree, id)
    orientation bounds every node's wedge fan-out by the graph's
    degeneracy. The triangle count itself is orientation-invariant,
    so the id-oriented DuckDB oracle is unchanged. The edge list is
    built once and localCheckpointed (superseded per run via
    _LAST_GRAPH_CKPT): the triangle join re-reads the materialized
    ~|E| rows, not the fact join.
    """
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey"
    )
    a, b = li.alias("a"), li.alias("b")
    base = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .select(
            F.col("a.l_partkey").alias("u"),
            F.col("b.l_partkey").alias("v"),
        )
        .distinct()
    )
    edges = _orient_by_degree(base).localCheckpoint(eager=True)
    _LAST_GRAPH_CKPT.replace(edges)
    e1, e2, e3 = edges.alias("e1"), edges.alias("e2"), edges.alias("e3")
    wedges = e1.join(e2, F.col("e1.v") == F.col("e2.u"))
    closed = wedges.join(
        e3,
        (F.col("e3.u") == F.col("e1.u")) & (F.col("e3.v") == F.col("e2.v")),
    )
    n_tri = closed.agg(F.count(F.lit(1)).alias("n")).first()["n"]
    n_edges = edges.count()
    return spark.createDataFrame(
        [(n_edges, n_tri)], "n_edges long, n_triangles long"
    )


BFS_MAX_LVL = 4

# Min-distance BFS as a recursive CTE: UNION (not UNION ALL) dedups
# the (node, lvl) frontier each step, so the recursion enumerates
# at most nodes x levels states, never paths.
_BFS_ORACLE = f"""
    WITH RECURSIVE e0 AS (
        SELECT DISTINCT 'c' || o_custkey AS src, 's' || l_suppkey AS dst
        FROM orders JOIN lineitem ON l_orderkey = o_orderkey
    ),
    edges AS (SELECT src, dst FROM e0
              UNION ALL SELECT dst AS src, src AS dst FROM e0),
    seeds AS (
        SELECT src AS node FROM (SELECT DISTINCT src FROM edges) t
        WHERE src LIKE 'c%'
        ORDER BY CAST(substr(src, 2) AS BIGINT) LIMIT 3
    ),
    bfs(node, lvl) AS (
        SELECT node, 0 FROM seeds
        UNION
        SELECT e.dst, b.lvl + 1
        FROM bfs b JOIN edges e ON e.src = b.node
        WHERE b.lvl < {BFS_MAX_LVL}
    )
    SELECT node, CAST(min(lvl) AS BIGINT) AS lvl
    FROM bfs GROUP BY node
"""


@register("q_graph_bfs", oracle=_BFS_ORACLE)
def q_graph_bfs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source BFS: minimum hop distance (<= BFS_MAX_LVL) from
    the three lowest-numbered customer nodes, over the same
    customer<->supplier edge list as PageRank — the reachability /
    blast-radius primitive (which sources does a contaminated node
    touch within k hops?). The DuckDB oracle re-derives min-distance
    with a recursive CTE, so the frontier iteration is hash-certified,
    not rows-only.

    Scale: classic frontier BFS — per level ONE hash join of the
    frontier against the edge list plus an anti-join against the
    visited set; the frontier/visited sets are O(nodes) while edges
    stay put, and each level is localCheckpoint'ed so the iterative
    plan stays flat (the PageRank lineage rule). Path explosion never
    happens because expansion is set-valued (distinct), exactly like
    the oracle's UNION recursion.
    """
    edges = _edges(spark, sf_dir)
    ckpts = []
    seeds = (
        edges.select("src")
        .where(F.col("src").startswith("c"))
        .distinct()
        .orderBy(F.substring("src", 2, 100).cast("bigint"))
        .limit(3)
        .select(F.col("src").alias("node"), F.lit(0).alias("lvl"))
    )
    # One eager checkpoint PER LEVEL (the frontier); the visited set
    # is a union of those already-materialized leaves, so it needs no
    # checkpoint of its own — half the jobs of checkpointing both,
    # with the lineage still flat (every union input is an RDD leaf).
    frontier = seeds.localCheckpoint(eager=True)
    ckpts.append(frontier)
    levels = [frontier]
    for lvl in range(1, BFS_MAX_LVL + 1):
        visited_nodes = levels[0].select("node")
        for lv in levels[1:]:
            visited_nodes = visited_nodes.unionByName(lv.select("node"))
        # Frontier and visited sets are O(|V|) vs the O(|E|) edge
        # list: broadcast both so the expansion join and the
        # visited anti-join are map-side, leaving the frontier
        # `distinct` as the level's only shuffle — previously each
        # level sort-merge-shuffled the edge list (round-14
        # optimization pass; the q_graph_pagerank |V| << |E| rule).
        nxt = (
            F.broadcast(frontier).join(edges, frontier.node == edges.src)
            .select(F.col("dst").alias("node"))
            .distinct()
            .join(F.broadcast(visited_nodes), "node", "left_anti")
            .select("node", F.lit(lvl).alias("lvl"))
            .localCheckpoint(eager=True)
        )
        ckpts.append(nxt)
        levels.append(nxt)
        frontier = nxt
    _LAST_GRAPH_CKPT.replace(*ckpts)
    out = levels[0]
    for lv in levels[1:]:
        out = out.unionByName(lv)
    return out.select("node", F.col("lvl").cast("long").alias("lvl"))



@register(
    "q_graph_common_neighbors",
    oracle="""
    WITH e AS (
        SELECT DISTINCT o_custkey AS c, l_suppkey AS s
        FROM orders JOIN lineitem ON l_orderkey = o_orderkey
    ),
    cs AS (SELECT DISTINCT c FROM e),
    probes AS (
        SELECT a.c AS cust_a, b.c AS cust_b
        FROM cs a JOIN cs b ON b.c = a.c + 1
        ORDER BY a.c LIMIT 20
    ),
    scored AS (
        SELECT p.cust_a, p.cust_b, count(*) AS n_common
        FROM probes p
        JOIN e ea ON ea.c = p.cust_a
        JOIN e eb ON eb.c = p.cust_b AND eb.s = ea.s
        GROUP BY 1, 2
    )
    SELECT p.cust_a, p.cust_b,
           CAST(coalesce(s.n_common, 0) AS BIGINT) AS n_common
    FROM probes p
    LEFT JOIN scored s
        ON s.cust_a = p.cust_a AND s.cust_b = p.cust_b
    """,
)
def q_graph_common_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link-prediction SCORING by common neighbors on the
    customer-supplier bipartite graph: |N(a) ∩ N(b)| for a bounded
    CANDIDATE pair list (here the 20 smallest consecutive-custkey
    pairs, generated window-free by a c = c+1 self-join + TakeOrdered
    — a deterministic stand-in for pairs a blocking stage proposes).
    Scoring-not-enumeration is the deliberate scale shape: this
    synthetic graph is DENSE (every supplier reaches ~half the
    customers — measured min degree 518 of 2k customers at sf 0.1),
    so all-pairs wedge enumeration is 172 M pairs at sf 0.1 and
    quadratic at 100 TB, while scoring k given pairs is two
    broadcast-filtered edge scans and one partial-aggregable count —
    O(k x avg-degree) total. Candidate generation belongs to a
    blocking tier (LSH/banding, as the dedup family does); scoring
    composes behind it.

    Zero-overlap candidates survive via the left join (a score of 0
    is information to a ranker, not an absent row).
    """
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey"
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey"
    )
    # e (|E|-sized fact join + distinct) feeds THREE consumers (cs,
    # ea, the cb/sb probe side) and probes TWO (ea's broadcast, the
    # final left join) — truncate both once (round-13 optimization
    # pass, q_graph_hits pattern).
    e = (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .select(
            F.col("o_custkey").alias("c"), F.col("l_suppkey").alias("s")
        )
        .distinct()
        .localCheckpoint(eager=False)
    )
    cs = e.select("c").distinct()
    probes = (
        cs.alias("a")
        .join(cs.alias("b"), F.col("b.c") == F.col("a.c") + 1)
        .select(
            F.col("a.c").alias("cust_a"), F.col("b.c").alias("cust_b")
        )
        .orderBy("cust_a")
        .limit(20)
        .localCheckpoint(eager=False)
    )
    ea = e.join(
        F.broadcast(probes.select("cust_a", "cust_b")),
        e.c == F.col("cust_a"),
    ).select("cust_a", "cust_b", "s")
    scored = (
        ea.join(
            e.select(F.col("c").alias("cb"), F.col("s").alias("sb")),
            (F.col("cb") == F.col("cust_b")) & (F.col("sb") == F.col("s")),
        )
        .groupBy("cust_a", "cust_b")
        .agg(F.count(F.lit(1)).alias("nc"))
    )
    return (
        probes.join(scored, ["cust_a", "cust_b"], "left")
        .select(
            "cust_a",
            "cust_b",
            F.coalesce("nc", F.lit(0)).cast("bigint").alias("n_common"),
        )
    )


@register(
    "q_graph_assortativity",
    oracle="""
    WITH e0 AS (
        SELECT DISTINCT 'c' || o_custkey AS src, 's' || l_suppkey AS dst
        FROM orders JOIN lineitem ON l_orderkey = o_orderkey
    ),
    edges AS (SELECT src, dst FROM e0
              UNION ALL SELECT dst AS src, src AS dst FROM e0),
    deg AS (SELECT src, CAST(count(*) AS DOUBLE) AS d
            FROM edges GROUP BY src)
    SELECT round(corr(ds.d, dd.d), 6) AS assortativity,
           CAST(count(*) AS BIGINT) AS n_edges
    FROM edges e
    JOIN deg ds ON ds.src = e.src
    JOIN deg dd ON dd.src = e.dst
    """,
)
def q_graph_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity of the customer–supplier graph: Pearson
    correlation of endpoint degrees over the (both-direction) edge
    list — negative means hubs attach to leaves (typical bipartite
    commerce graphs), positive means hub-to-hub. With q_graph_degree
    it is the structural audit run before graph algorithms: strong
    disassortativity predicts the hub-key shuffle skew PageRank's
    contribution join will hit, i.e. which keys to salt.

    Scale: degrees are one map-side-combinable count; the two
    deg-lookup joins hash-partition on node id, and corr is a
    mergeable second-moment aggregate, so the whole thing is two
    bounded shuffles over the edge list. Spark's corr yields NaN on
    a zero-variance (regular) graph where DuckDB yields NULL —
    normalized NaN→NULL like q_ts_autocorr.
    """
    edges = _edges(spark, sf_dir)
    deg = edges.groupBy("src").agg(
        F.count(F.lit(1)).cast("double").alias("d")
    )
    ds = deg.select(F.col("src").alias("e_src"), F.col("d").alias("d_src"))
    dd = deg.select(F.col("src").alias("e_dst"), F.col("d").alias("d_dst"))
    joined = (
        edges.join(ds, edges.src == ds.e_src)
        .join(dd, edges.dst == dd.e_dst)
    )
    c = F.corr("d_src", "d_dst")
    return joined.agg(
        F.round(F.when(~F.isnan(c), c), 6).alias("assortativity"),
        F.count(F.lit(1)).alias("n_edges"),
    )


@register("q_graph_kcore")  # rows-only: iterative fixpoint, no SQL twin
def q_graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-core of the customer–supplier graph: repeatedly peel nodes
    of degree < 2 until the remainder is stable, and report each
    surviving node with its degree INSIDE the core. The k-core is
    the standard "remove the dangling fringe" preprocessing before
    community/cycle analytics — pendant vertices can never be in a
    cycle, so q_graph_triangles-style work on the core sees the same
    result on less data — and the peel count is a robustness signal
    (a supplier in no 2-core has a single point of failure).

    Iterative hygiene per the repo rule: the edge list is the shared
    checkpointed _edges frame; each round recomputes degrees on the
    induced subgraph (one map-side-combinable count + two broadcast
    semi joins — the survivor set is O(|V|) against the O(|E|) edge
    list), re-checkpoints the survivor set so round k never replays
    rounds 1..k-1, and takes ONE action, the survivor count that also
    materializes the lazy checkpoint (_peel). 20 rounds bound any
    graph this corpus generates; a graph that needs more raises
    instead of returning a partial core (a production run raises the
    bound, not the per-round cost). Certified by the constructed-graph
    pytest (cycle survives, pendant peels) — a fixpoint has no
    single-query SQL twin on THIS unbounded graph, hence rows-only;
    the identical peel kernel is hash-certified end-to-end by
    q_graph_kcore_cert on the bounded nation trade graph (25-round
    unrolled MATERIALIZED-CTE oracle).
    """
    edges = _edges(spark, sf_dir)  # both directions, checkpointed
    core = _peel(edges, "src", "dst", 20)
    return core.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).alias("core_degree")
    )


def _peel(edges: DataFrame, src: str, dst: str, rounds: int) -> DataFrame:
    """The 2-core's edges: `edges` (both directions listed) restricted
    to the nodes left after repeatedly peeling nodes of degree < 2 —
    the degree-peel kernel of q_graph_kcore and q_graph_kcore_cert.

    Each round recomputes degrees on the induced subgraph (two
    endpoint semi-joins + one map-side-combinable count),
    re-checkpoints the survivor set so round k never replays rounds
    1..k-1, and ships only the survivor count to the driver. One
    action per round: the checkpoint is lazy, so the survivor count()
    both materializes it and tests convergence, and last round's count
    is this round's baseline. Raises if `rounds` run out while nodes
    are still peeling.

    Both semi-joins broadcast the survivor set, which is O(|V|) while
    the edge side is O(|E|): they run map-side and a round's only
    shuffle is the degree groupBy (round-14 optimization pass, guide
    §3.1). They broadcast the same unaliased frame, so the second
    plans as a ReusedExchange of the first: one broadcast per round.
    """

    def induced(nodes: DataFrame) -> DataFrame:
        return edges.join(
            F.broadcast(nodes), F.col(src) == F.col("node"), "left_semi"
        ).join(F.broadcast(nodes), F.col(dst) == F.col("node"), "left_semi")

    nodes = (
        edges.select(F.col(src).alias("node")).distinct()
        .localCheckpoint(eager=False)
    )
    n_prev = nodes.count()
    for _ in range(rounds):
        nodes = (
            induced(nodes)
            .groupBy(src)
            .agg(F.count(F.lit(1)).alias("d"))
            .filter(F.col("d") >= 2)
            .select(F.col(src).alias("node"))
            .localCheckpoint(eager=False)
        )
        n_now = nodes.count()
        if n_now == n_prev or n_now == 0:
            return induced(nodes)
        n_prev = n_now
    raise RuntimeError(f"_peel: nodes still peeling after {rounds} rounds")


@register(
    "q_graph_modularity",
    oracle="""
    WITH e0 AS (SELECT DISTINCT o_custkey AS ck, l_suppkey AS sk
                FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
    lab AS (SELECT nc.n_name AS cn, ns.n_name AS sn
            FROM e0
            JOIN customer c ON c.c_custkey = e0.ck
            JOIN nation nc ON nc.n_nationkey = c.c_nationkey
            JOIN supplier s ON s.s_suppkey = e0.sk
            JOIN nation ns ON ns.n_nationkey = s.s_nationkey),
    m AS (SELECT CAST(count(*) AS DOUBLE) AS m FROM lab),
    win AS (SELECT cn AS n_name, count(*) AS e_within
            FROM lab WHERE cn = sn GROUP BY 1),
    degs AS (SELECT n_name, count(*) AS deg_sum FROM (
                 SELECT cn AS n_name FROM lab
                 UNION ALL SELECT sn AS n_name FROM lab)
             GROUP BY 1)
    SELECT d.n_name,
           CAST(coalesce(w.e_within, 0) AS BIGINT) AS e_within,
           CAST(d.deg_sum AS BIGINT) AS deg_sum,
           round(CAST(coalesce(w.e_within, 0) AS DOUBLE) / m.m
                 - (CAST(d.deg_sum AS DOUBLE) / (2 * m.m))
                   * (CAST(d.deg_sum AS DOUBLE) / (2 * m.m)), 6)
               AS q_contrib
    FROM degs d LEFT JOIN win w ON w.n_name = d.n_name, m
    """,
)
def q_graph_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman modularity of the NATION partition over the
    customer–supplier trade graph: per nation c,
    Q_c = e_c/m − (d_c/2m)², where e_c counts within-nation edges,
    d_c sums member degrees, m the undirected edge count. Σ Q_c is
    the standard did-the-clustering-find-real-structure certificate
    — here it audits whether trade stays domestic, and in the
    training-pipeline it is the quality gate you run on ANY cluster
    assignment (q_dedup_clusters, q_sim_semantic_clusters) before
    trusting it for dedup or split decisions. Per-community rows are
    emitted (not just the scalar) so the skewed community is
    identifiable.

    Scale: one distinct fact join builds the edge list; the four
    label lookups are broadcastable dims; e_c and d_c are
    map-side-combinable counts over O(communities) groups; m is a
    1-row broadcast. No shuffle exceeds the edge list. Float
    arithmetic appears only in the final 25-row projection, with the
    identical operation order as the oracle.
    """
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey"
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey"
    )
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    supp = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_nationkey"
    )
    nat = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name"
    )
    e0 = (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .select(
            F.col("o_custkey").alias("ck"), F.col("l_suppkey").alias("sk")
        )
        .distinct()
    )
    nc = nat.select(
        F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("cn")
    )
    ns = nat.select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("sn")
    )
    # lab (the |E|-sized labeled edge list: fact join + distinct + 4
    # broadcast lookups) feeds FOUR consumers (m, win, both unionAll
    # legs of degs) — truncate it once (lazy localCheckpoint,
    # round-13 optimization pass; the q_graph_hits A/B measured this
    # class of repeated |E| subtree at ~Nx the truncated cost).
    lab = (
        e0.join(F.broadcast(cust), e0.ck == cust.c_custkey)
        .join(F.broadcast(nc), F.col("c_nationkey") == F.col("c_nk"))
        .join(F.broadcast(supp), F.col("sk") == supp.s_suppkey)
        .join(F.broadcast(ns), F.col("s_nationkey") == F.col("s_nk"))
        .select("cn", "sn")
        .localCheckpoint(eager=False)
    )
    m = lab.agg(F.count(F.lit(1)).cast("double").alias("m"))
    win = (
        lab.filter(F.col("cn") == F.col("sn"))
        .groupBy(F.col("cn").alias("w_name"))
        .agg(F.count(F.lit(1)).alias("e_within"))
    )
    degs = (
        lab.select(F.col("cn").alias("n_name"))
        .unionAll(lab.select(F.col("sn").alias("n_name")))
        .groupBy("n_name")
        .agg(F.count(F.lit(1)).alias("deg_sum"))
    )
    ew = F.coalesce(F.col("e_within"), F.lit(0))
    half = F.col("deg_sum").cast("double") / (2 * F.col("m"))
    return (
        degs.join(win, degs.n_name == win.w_name, "left")
        .crossJoin(F.broadcast(m))
        .select(
            "n_name",
            ew.cast("bigint").alias("e_within"),
            F.col("deg_sum").cast("bigint").alias("deg_sum"),
            F.round(
                ew.cast("double") / F.col("m") - half * half, 6
            ).alias("q_contrib"),
        )
    )


@register(
    "q_graph_hits",
    oracle="""
    WITH e0 AS (SELECT DISTINCT o_custkey AS ck, l_suppkey AS sk
                FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
    a1 AS (SELECT sk, CAST(count(*) AS DOUBLE) AS a
           FROM e0 GROUP BY sk),
    h1 AS (SELECT ck, sum(a) AS h
           FROM e0 JOIN a1 USING (sk) GROUP BY ck),
    a2 AS (SELECT sk, sum(h) AS a
           FROM e0 JOIN h1 USING (ck) GROUP BY sk),
    h2 AS (SELECT ck, sum(a) AS h
           FROM e0 JOIN a2 USING (sk) GROUP BY ck),
    ma AS (SELECT max(a) AS m FROM a2),
    mh AS (SELECT max(h) AS m FROM h2)
    SELECT 's' || CAST(sk AS VARCHAR) AS node, 'authority' AS role,
           round(a / ma.m, 6) AS score
    FROM a2, ma
    UNION ALL
    SELECT 'c' || CAST(ck AS VARCHAR) AS node, 'hub' AS role,
           round(h / mh.m, 6) AS score
    FROM h2, mh
    """,
)
def q_graph_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS hubs & authorities on the bipartite customer→supplier
    trade graph (Kleinberg): two unrolled mutual-reinforcement
    iterations from h₀ = 1 — a supplier is authoritative when
    well-connected customers buy from it, a customer is a hub when
    it buys from authoritative suppliers. The complementary
    centrality to q_graph_pagerank (which ranks by random-walk mass,
    not by the hub/authority duality); on a crawl graph this is the
    classic seed-quality signal for corpus source weighting. Scores
    are max-normalized per role (scale-free, so no L2 norm whose
    sqrt could drift across engines); h₀ = 1 keeps every iterate an
    INTEGER-valued double (exact under reordering) until the single
    normalizing division.

    Scale: each half-iteration is one equi-join of the edge list
    against an O(nodes) score table + a partial-aggregable sum —
    the q_graph_pagerank shape, two shuffles per iteration, never
    O(n²). The max is a 1-row broadcast.
    """
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey"
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey"
    )
    # e0 feeds FOUR consumers (a1 and the three half-iteration joins)
    # and its orders><lineitem join + distinct is the only |E|-sized
    # work in the query — truncate it once (lazy localCheckpoint,
    # round-13 optimization pass; guide §2.1 "remove shuffles
    # outright"). a2/h2 likewise each feed >1 consumer (next
    # half-iteration + their own max/normalize), and without the
    # truncation every consumer replays the whole mutual-
    # reinforcement chain above it.
    e0 = (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .select(
            F.col("o_custkey").alias("ck"), F.col("l_suppkey").alias("sk")
        )
        .distinct()
        .localCheckpoint(eager=False)
    )
    a1 = e0.groupBy("sk").agg(
        F.count(F.lit(1)).cast("double").alias("a")
    )
    h1 = (
        e0.join(a1, "sk")
        .groupBy("ck")
        .agg(F.sum("a").alias("h"))
    )
    a2 = (
        e0.join(h1, "ck")
        .groupBy("sk")
        .agg(F.sum("h").alias("a"))
        .localCheckpoint(eager=False)
    )
    h2 = (
        e0.join(a2, "sk")
        .groupBy("ck")
        .agg(F.sum("a").alias("h"))
        .localCheckpoint(eager=False)
    )
    ma = a2.agg(F.max("a").alias("m"))
    mh = h2.agg(F.max("h").alias("m"))
    auths = a2.crossJoin(F.broadcast(ma)).select(
        F.concat(F.lit("s"), F.col("sk")).alias("node"),
        F.lit("authority").alias("role"),
        F.round(F.col("a") / F.col("m"), 6).alias("score"),
    )
    hubs = h2.crossJoin(F.broadcast(mh)).select(
        F.concat(F.lit("c"), F.col("ck")).alias("node"),
        F.lit("hub").alias("role"),
        F.round(F.col("h") / F.col("m"), 6).alias("score"),
    )
    return auths.unionAll(hubs)


@register(
    "q_graph_adamic_adar",
    oracle="""
    WITH e AS (
        SELECT DISTINCT o_custkey AS c, l_suppkey AS s
        FROM orders JOIN lineitem ON l_orderkey = o_orderkey
    ),
    deg AS (SELECT s, CAST(count(*) AS DOUBLE) AS d FROM e GROUP BY s),
    cs AS (SELECT DISTINCT c FROM e),
    probes AS (
        SELECT a.c AS cust_a, b.c AS cust_b
        FROM cs a JOIN cs b ON b.c = a.c + 1
        ORDER BY a.c LIMIT 20
    ),
    scored AS (
        SELECT p.cust_a, p.cust_b,
               count(*) AS n_common,
               sum(CAST(1 AS DOUBLE) / ln(dg.d)) AS aa
        FROM probes p
        JOIN e ea ON ea.c = p.cust_a
        JOIN e eb ON eb.c = p.cust_b AND eb.s = ea.s
        JOIN deg dg ON dg.s = ea.s
        GROUP BY 1, 2
    )
    SELECT p.cust_a, p.cust_b,
           CAST(coalesce(s.n_common, 0) AS BIGINT) AS n_common,
           round(coalesce(s.aa, CAST(0 AS DOUBLE)), 6) AS adamic_adar
    FROM probes p
    LEFT JOIN scored s
        ON s.cust_a = p.cust_a AND s.cust_b = p.cust_b
    """,
)
def q_graph_adamic_adar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adamic-Adar link-prediction scoring — the degree-weighted
    upgrade of `q_graph_common_neighbors`: each shared supplier
    contributes 1/ln(degree) instead of 1, so RARE common neighbors
    (a supplier serving few customers) carry more signal than hubs
    that everyone shares — the classic fix for dense graphs like
    this one, where raw common-neighbor counts saturate (every pair
    shares most hub suppliers). Same bounded probe list (20
    consecutive-custkey pairs via the window-free c = c+1 self-join
    + TakeOrdered); a supplier serving exactly one customer can
    never BE a common neighbor of two distinct customers, so
    ln(degree) >= ln(2) and the weight is always finite. Zero-overlap
    pairs survive via the left join with score 0.

    Scale: degrees are one map-side-combinable count joined into the
    common-neighbor stream (broadcast — the supplier dim is tiny
    relative to the edge list); scoring stays O(k x avg-degree) for
    k given pairs, never all-pairs wedge enumeration.
    """
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey"
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey"
    )
    # e (|E|-sized fact join + distinct) feeds FOUR consumers (deg,
    # cs, ea, the cb/sb probe side) — truncate it once (lazy
    # localCheckpoint, round-13 optimization pass, q_graph_hits
    # pattern: each consumer otherwise replays the whole join).
    e = (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .select(
            F.col("o_custkey").alias("c"), F.col("l_suppkey").alias("s")
        )
        .distinct()
        .localCheckpoint(eager=False)
    )
    deg = e.groupBy("s").agg(
        F.count(F.lit(1)).cast("double").alias("d")
    )
    cs = e.select("c").distinct()
    probes = (
        cs.alias("a")
        .join(cs.alias("b"), F.col("b.c") == F.col("a.c") + 1)
        .select(
            F.col("a.c").alias("cust_a"), F.col("b.c").alias("cust_b")
        )
        .orderBy("cust_a")
        .limit(20)
        .localCheckpoint(eager=False)
    )
    ea = e.join(
        F.broadcast(probes.select("cust_a", "cust_b")),
        e.c == F.col("cust_a"),
    ).select("cust_a", "cust_b", "s")
    scored = (
        ea.join(
            e.select(F.col("c").alias("cb"), F.col("s").alias("sb")),
            (F.col("cb") == F.col("cust_b")) & (F.col("sb") == F.col("s")),
        )
        .join(F.broadcast(deg), "s")
        .groupBy("cust_a", "cust_b")
        .agg(
            F.count(F.lit(1)).alias("nc"),
            F.sum(F.lit(1.0) / F.log(F.col("d"))).alias("aa"),
        )
    )
    return (
        probes.join(scored, ["cust_a", "cust_b"], "left")
        .select(
            "cust_a",
            "cust_b",
            F.coalesce("nc", F.lit(0)).cast("bigint").alias("n_common"),
            F.round(F.coalesce("aa", F.lit(0.0)), 6).alias("adamic_adar"),
        )
    )


@register(
    "q_graph_degree_powerlaw",
    oracle="""
    WITH e AS (
        SELECT DISTINCT o_custkey AS c, l_suppkey AS s
        FROM orders JOIN lineitem ON l_orderkey = o_orderkey
    ),
    deg AS (SELECT s, count(*) AS d FROM e GROUP BY s),
    dist AS (SELECT d, count(*) AS cnt FROM deg GROUP BY d),
    tot AS (SELECT CAST(sum(cnt) AS DOUBLE) AS n FROM dist),
    ccdf AS (
        SELECT a.d, sum(b.cnt) / tot.n AS p_ge
        FROM dist a JOIN dist b ON b.d >= a.d, tot
        GROUP BY a.d, tot.n
    )
    SELECT count(*) AS n_points,
           round(regr_slope(ln(p_ge), ln(CAST(d AS DOUBLE))), 6)
               AS ccdf_slope,
           round(regr_r2(ln(p_ge), ln(CAST(d AS DOUBLE))), 6) AS r2
    FROM ccdf
    """,
)
def q_graph_degree_powerlaw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale-free test on the supplier degree distribution: fit the
    log-log CCDF P(D >= d) with least squares — a power-law (scale-
    free) graph shows a straight line with slope ~ -(alpha - 1) in
    [-1.5, -2.5] and r2 near 1, and the answer decides which graph
    algorithms are safe (hub-skew salting for PageRank, sampling
    strategies, epidemic thresholds). The verdict here is honestly
    NEGATIVE: this synthetic bipartite graph is dense with degrees
    clustered near n/2, so the fit returns a cliff-steep slope with
    mediocre r2 — "not scale-free, no hub mitigation needed", the
    same measured-go/no-go shape as q_sim_mips_prune. The CCDF
    cumulative is a self-join over DISTINCT degrees (O(50) rows),
    deliberately window-free; the slope uses the regr_* aggregates
    probed bit-exact across engines.

    Scale: degrees are one map-side count; everything after runs on
    the O(distinct-degrees) table. The d2 >= d self-join is
    quadratic only in distinct degree VALUES, never in nodes.
    """
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey"
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey"
    )
    e = (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .select(
            F.col("o_custkey").alias("c"), F.col("l_suppkey").alias("s")
        )
        .distinct()
    )
    deg = e.groupBy("s").agg(F.count(F.lit(1)).alias("d"))
    # dist is O(distinct-degrees) rows but costs the full |E| join to
    # compute, and feeds THREE consumers (tot, both sides of the CCDF
    # self-join) — truncate it once (round-13 optimization pass).
    dist = deg.groupBy("d").agg(F.count(F.lit(1)).alias("cnt")).localCheckpoint(
        eager=False
    )
    tot = dist.agg(F.sum("cnt").cast("double").alias("n"))
    ccdf = (
        dist.alias("a")
        .join(
            F.broadcast(dist.alias("b")),
            F.col("b.d") >= F.col("a.d"),
        )
        .crossJoin(F.broadcast(tot))
        .groupBy(F.col("a.d").alias("d"), F.col("n"))
        .agg((F.sum("b.cnt") / F.first("n")).alias("p_ge"))
    )
    lx = F.log(F.col("d").cast("double"))
    ly = F.log(F.col("p_ge"))
    return ccdf.agg(
        F.count(F.lit(1)).alias("n_points"),
        F.round(F.regr_slope(ly, lx), 6).alias("ccdf_slope"),
        F.round(F.regr_r2(ly, lx), 6).alias("r2"),
    )


@register(
    "q_graph_components_cert",
    oracle="""
    WITH e0 AS (
        SELECT nc.n_name AS cn, ns.n_name AS sn, count(*) AS cnt
        FROM orders JOIN lineitem ON l_orderkey = o_orderkey
        JOIN customer c ON c.c_custkey = o_custkey
        JOIN nation nc ON nc.n_nationkey = c.c_nationkey
        JOIN supplier s ON s.s_suppkey = l_suppkey
        JOIN nation ns ON ns.n_nationkey = s.s_nationkey
        WHERE nc.n_name <> ns.n_name
        GROUP BY 1, 2
    ),
    tot AS (SELECT count(*) AS n, sum(cnt) AS s FROM e0),
    strong AS (
        SELECT cn, sn FROM e0, tot WHERE cnt * 4 * tot.n >= 7 * tot.s
    ),
    und AS (SELECT cn AS a, sn AS b FROM strong
            UNION SELECT sn, cn FROM strong),
    nodes AS (SELECT n_name AS node FROM nation),
    reach AS (
        WITH RECURSIVE r(node, lbl) AS (
            SELECT node, node FROM nodes
            UNION
            SELECT u.b, r.lbl FROM r JOIN und u ON u.a = r.node
            WHERE r.lbl < u.b
        ) SELECT * FROM r
    ),
    comp AS (SELECT node, min(lbl) AS component FROM reach GROUP BY node)
    SELECT comp.node AS n_name, comp.component, sizes.comp_size
    FROM comp
    JOIN (SELECT component, count(*) AS comp_size
          FROM comp GROUP BY 1) sizes USING (component)
    """,
)
def q_graph_components_cert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle-CERTIFIED connected components — the iterative
    min-label-propagation kernel that q_dedup_clusters /
    q_sim_semantic_clusters build on, hash-certified end-to-end for
    the first time: the DuckDB twin replays the fixpoint as a
    RECURSIVE CTE (labels flow along edges while strictly
    decreasing, then min per node — the same certification trick as
    q_graph_bfs's min-distance CTE), so every node's component id
    and every component size is value-compared cross-engine, not
    just row-counted. The graph is real but BOUNDED by construction:
    nations as nodes, an edge where cross-nation trade volume is
    ≥ 1.75× the mean pair volume (the comparison is integer cross-
    multiplication, cnt·4·n ≥ 7·s — no double threshold to disagree
    on), yielding trade blocs at any SF (13 components at sf0.001,
    2 at sf0.01) while keeping the oracle's quadratic
    reach-enumeration at ≤ 25² rows.

    The Spark side runs dedup.min_label_propagate, the kernel of
    q_dedup_clusters: labels start as the node id, each round
    takes min(own, neighbors' labels) (one equi-join + one
    map-side-combinable groupBy), re-checkpoints (lineage stays
    flat), and exits when no label changed — one job per round, the
    change count, bounded by 25 rounds (≤ 25 nodes bound any
    diameter). Nations with no strong edge keep their own label. On
    a 100 TB edge list the SAME loop runs with the node frame
    hash-partitioned; the certification graph is small because the
    ORACLE must enumerate reachability, not because the kernel is.
    """
    from .dedup import min_label_propagate

    und = _nation_trade_graph(spark, sf_dir, 7)
    labels = min_label_propagate(
        und.select(F.col("a").alias("doc_a"), F.col("b").alias("doc_b")),
        25,
        pairs_materialized=True,
    )
    comp = (
        load_table(spark, sf_dir, "nation")
        .join(F.broadcast(labels), F.col("n_name") == F.col("doc"), "left")
        .select("n_name", F.coalesce("label", "n_name").alias("component"))
    )
    sizes = comp.groupBy("component").agg(
        F.count(F.lit(1)).alias("comp_size")
    )
    return comp.join(F.broadcast(sizes), "component").select(
        "n_name", "component", "comp_size"
    )


def _nation_trade_graph(spark: SparkSession, sf_dir: str,
                        num: int) -> DataFrame:
    """Undirected (a, b) nation-name edges, both directions listed,
    checkpointed: an edge where cross-nation trade volume (order lines
    from a customer of one nation to a supplier of the other, either
    way round) is >= num/4 of the mean pair volume. The comparison is
    integer cross-multiplication, cnt·4·n >= num·s — no double
    threshold for the engines to disagree on. The bounded graph (<= 25
    nodes) of the two graph certificates."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    nat = load_table(spark, sf_dir, "nation")
    e0 = (
        orders.join(li, li.l_orderkey == orders.o_orderkey)
        .join(cust, cust.c_custkey == orders.o_custkey)
        .join(
            F.broadcast(nat.select(
                F.col("n_nationkey").alias("ck"),
                F.col("n_name").alias("cn"),
            )),
            F.col("ck") == cust.c_nationkey,
        )
        .join(F.broadcast(supp.select("s_suppkey", "s_nationkey")),
              F.col("s_suppkey") == li.l_suppkey)
        .join(
            F.broadcast(nat.select(
                F.col("n_nationkey").alias("sk"),
                F.col("n_name").alias("sn"),
            )),
            F.col("sk") == F.col("s_nationkey"),
        )
        .filter(F.col("cn") != F.col("sn"))
        .groupBy("cn", "sn")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    tot = e0.agg(F.count(F.lit(1)).alias("n"), F.sum("cnt").alias("s"))
    strong = (
        e0.crossJoin(F.broadcast(tot))
        .filter(F.col("cnt") * 4 * F.col("n") >= num * F.col("s"))
        .select("cn", "sn")
    )
    return (
        strong.select(F.col("cn").alias("a"), F.col("sn").alias("b"))
        .union(strong.select(F.col("sn").alias("a"), F.col("cn").alias("b")))
        .distinct()
        .localCheckpoint()
    )


# q_graph_kcore_cert — VERDICT r07 item 3: hash-certify the degree-
# peel kernel. The oracle unrolls the peel as 25 MATERIALIZED CTE
# rounds (MATERIALIZED is load-bearing: alive_{i} references
# alive_{i-1} twice, and inlining would expand 2^25-fold). 25 rounds
# is a true fixpoint bound — each non-final round removes >= 1 of
# the <= 25 nation nodes — so alive25 IS the 2-core, not an
# approximation.
KCORE_CERT_ROUNDS = 25


def _kcore_cert_oracle() -> str:
    base = """
    WITH e0 AS (
        SELECT nc.n_name AS cn, ns.n_name AS sn, count(*) AS cnt
        FROM orders JOIN lineitem ON l_orderkey = o_orderkey
        JOIN customer c ON c.c_custkey = o_custkey
        JOIN nation nc ON nc.n_nationkey = c.c_nationkey
        JOIN supplier s ON s.s_suppkey = l_suppkey
        JOIN nation ns ON ns.n_nationkey = s.s_nationkey
        WHERE nc.n_name <> ns.n_name
        GROUP BY 1, 2
    ),
    tot AS (SELECT count(*) AS n, sum(cnt) AS s FROM e0),
    und AS MATERIALIZED (
        SELECT cn AS a, sn AS b FROM e0, tot
        WHERE cnt * 4 * tot.n >= 5 * tot.s
        UNION
        SELECT sn, cn FROM e0, tot WHERE cnt * 4 * tot.n >= 5 * tot.s
    ),
    alive0 AS MATERIALIZED (SELECT n_name AS node FROM nation)"""
    rounds = [
        f"""
    alive{i} AS MATERIALIZED (
        SELECT a AS node FROM und
        JOIN alive{i - 1} x ON und.a = x.node
        JOIN alive{i - 1} y ON und.b = y.node
        GROUP BY a HAVING count(*) >= 2
    )"""
        for i in range(1, KCORE_CERT_ROUNDS + 1)
    ]
    final = f"""
    SELECT und.a AS n_name, CAST(count(*) AS BIGINT) AS core_degree
    FROM und
    JOIN alive{KCORE_CERT_ROUNDS} x ON und.a = x.node
    JOIN alive{KCORE_CERT_ROUNDS} y ON und.b = y.node
    GROUP BY und.a"""
    return base + "," + ",".join(rounds) + final


@register("q_graph_kcore_cert", oracle=_kcore_cert_oracle())
def q_graph_kcore_cert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle-CERTIFIED 2-core — the iterative degree-peel kernel
    that q_graph_kcore runs on the customer-supplier graph,
    hash-certified end-to-end for the first time via the bounded-
    graph recipe q_graph_components_cert introduced: nations as
    nodes, an edge where cross-nation trade volume is >= 1.25x the
    mean pair volume (integer cross-multiplication cnt*4*n >= 5*s —
    the 1.75x threshold components_cert uses empties out at sf 0.1,
    so the cert holds a non-trivial core at every tested SF: 15
    nodes at sf 0.001, 25 at sf 0.01, 15 at sf 0.1). The DuckDB
    twin replays the peel as 25 unrolled MATERIALIZED CTE rounds —
    a true fixpoint on <= 25 nodes — so every surviving node AND
    its in-core degree is value-compared cross-engine, closing the
    one no_oracle driver row from CORRECTNESS_r07.

    The Spark side is the production peel, the _peel kernel
    q_graph_kcore runs: each round recomputes degrees on the induced
    subgraph (two left-semi joins + one map-side-combinable count),
    re-checkpoints the survivor set so lineage stays flat, and
    takes one action, the survivor count; it exits at the observed
    fixpoint rather than running all 25 rounds. The survivor set is
    broadcast into both semi-joins, as in q_graph_kcore: nations are
    the nodes, so it never exceeds 25 rows, and the joins need no
    32-way Exchange of the edge list each round. The certification
    graph is small because the ORACLE must unroll the peel, not
    because the kernel is.
    """
    core = _peel(
        _nation_trade_graph(spark, sf_dir, 5), "a", "b", KCORE_CERT_ROUNDS
    )
    return core.groupBy(F.col("a").alias("n_name")).agg(
        F.count(F.lit(1)).alias("core_degree")
    )
