"""Iterative graph computation on DataFrames — PageRank.

The operator class the registry lacked: a fixed-point algorithm driven
by a driver-side loop of DISTRIBUTED join+aggregate rounds (the classic
Spark PageRank shape).  The reference cannot express iteration at all —
its model is one map/reduce pass (/root/reference/tinymr.py:156-230);
this extends SURVEY §2's beyond-reference surface.

Graph: the part<->supplier bipartite graph from lineitem (distinct
(l_partkey, l_suppkey) pairs, symmetrized into directed edges both
ways; node ids disambiguate the two families as 2*part and 2*supp+1).
Every node of the symmetrized graph has outdegree >= 1, so no dangling
mass handling is needed.

Cross-engine determinism — FIXED-POINT INTEGER arithmetic throughout.
The first draft kept ranks as ROUND(double, 12) and diverged from the
oracle on ~half the rows by exactly 1e-12: a 12-digit rank divided by
outdeg=2 lands EXACTLY on a .5 digit boundary, where Spark
(shortest-repr HALF_UP) and DuckDB (binary-value rounding) go opposite
ways by design.  Measured, not theoretical.  The production fix is the
classic one: ranks live in integer units of 1e-12 (bigint), every
divide is integer `div` (truncation — identical everywhere), damping is
*85 div 100, and sums are exact bigint — bit-equality by construction,
at the cost of truncating ~1 unit of mass per division (identically in
both engines; irrelevant to ranking).

100 TB notes: edges are computed once and persisted (each iteration
re-reads the edge table, not the fact scan); contributions shuffle on
dst (one hash shuffle per iteration — inherent to the algorithm); and
the rank lineage is cut by localCheckpoint every PR_CHECKPOINT_EVERY
rounds so plan depth stays O(K) no matter the iteration count.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tinymr_spark.sources import load_table

N_PAGERANK_ITERS = 5
PR_UNIT = 10**12  # fixed-point scale: 1.0 == 1e12 units
PR_DAMP_NUM, PR_DAMP_DEN = 85, 100  # damping 0.85 as an exact ratio

# Truncate the iteration lineage every K rounds: each round's plan embeds
# the previous round's whole subtree, so an L-round loop compiles an
# O(L)-deep (and, printed, O(L)-times-repeated-edge-scan) plan — the
# classic iterative-Spark failure at real iteration depth (optimizer time
# grows superlinearly; task binaries bloat).  localCheckpoint materializes
# the rank vector (ONE small row per node — exact bigints, so the cut
# cannot perturb the fixed-point arithmetic) and restarts the lineage
# from it.  Measured at sf0.001: K=None prints 68 exchanges / 29
# repeated edge-cache scans, K=2 prints 33 / 7 (one live round).  Local
# cost of the cut: ~+0.35s per run at sf0.1 (two eager materialization
# jobs' launch overhead; interleaved min-of-4: 1.8s uncut vs 2.2s cut)
# — the price of bounding plan growth, which at real iteration depth
# inverts hard in the cut's favor (optimizer time grows superlinearly
# uncut).  The checkpointed RDD is executor-local (non-reliable) —
# acceptable: losing an executor mid-loop recomputes from the persisted
# edge table, and the ContextCleaner reclaims it once the result
# DataFrame is dropped.
#
# K=3, not 2: interleaved warm-cache min-of-4 at sf0.1 measured K=2
# 2.68s / K=3 2.30s / uncut 1.91s — each cut costs ~0.4s of eager-job
# launch overhead, and K=3 keeps the same O(K)-bounded live-plan depth
# (<=3 uncut rounds) at half the cuts.  The same sweep adjudicated the
# r12 bench's 3.01s row as environmental (K=2 reproduces well under it
# on an idle box).
PR_CHECKPOINT_EVERY = 3


def _edge_cache(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """(edges, nodes) persisted once per lineitem version — the graph is
    read 5+1 times per PageRank run and twice per bench pass, so the
    distinct-pairs shuffle must not repeat.  Edges are pre-partitioned
    by src (the per-iteration join key), so each round shuffles only the
    small rank vector; same staleness lifecycle as every session cache
    (tests/test_cache_staleness.py)."""
    from tinymr_spark.sources import file_version, session_cache, table_path

    cache = session_cache(spark, "_tinymr_graph_cache")
    key = (sf_dir, file_version(table_path(sf_dir, "lineitem")), "bipartite")
    if key not in cache:
        li = load_table(spark, sf_dir, "lineitem")
        pairs = li.select(
            (F.col("l_partkey") * 2).alias("p"),
            (F.col("l_suppkey") * 2 + 1).alias("s"),
        ).distinct()
        edges = (
            pairs.select(F.col("p").alias("src"), F.col("s").alias("dst"))
            .unionByName(
                pairs.select(F.col("s").alias("src"), F.col("p").alias("dst"))
            )
            .repartition("src")
            .persist()
        )
        nodes = (
            edges.groupBy("src")
            .agg(F.count("*").alias("outdeg"))
            .select(F.col("src").alias("node"), "outdeg")
            .persist()
        )
        _evict_stale(cache, key)
        cache[key] = (edges, nodes)
    return cache[key]


def _evict_stale(cache: dict, key: tuple) -> None:
    """Pop+unpersist superseded corpus generations of the SAME graph
    kind (key = (sf_dir, version, kind)) — the established session-cache
    lifecycle; other kinds sharing the dict are untouched.  unpersist()
    frees persist()-ed entries immediately; for localCheckpoint-ed
    entries (the copurchase tables) it is a no-op on the checkpoint
    blocks — those are reclaimed by the ContextCleaner once the pop
    drops the last reference, i.e. eventually rather than eagerly
    (review r15)."""
    for stale in [k for k in cache if k[0] == key[0] and k[2] == key[2] and k != key]:
        for df in cache.pop(stale):
            df.unpersist()


def q146_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges, nodes = _edge_cache(spark, sf_dir)
    # n is a session constant over the CACHED node table: collect it
    # once (bounded scalar, the convergence-read pattern) and inline it
    # as a literal divisor — the previous broadcast-crossJoin re-embedded
    # the count aggregate in the initial ranks and every iteration's
    # plan (~6 small jobs + exchanges per run, re-run after each
    # checkpoint cut), in a module that explicitly tunes exchange counts
    # (review r15).
    n = nodes.count()

    ranks = nodes.select(
        "node", "outdeg", F.expr(f"{PR_UNIT} div {n}").alias("rank_u")
    )
    base_num = PR_UNIT * (PR_DAMP_DEN - PR_DAMP_NUM)  # (1-d) * UNIT * DEN
    for it in range(1, N_PAGERANK_ITERS + 1):
        contrib = (
            edges.join(ranks.withColumnRenamed("node", "src"), "src")
            .select(
                F.col("dst").alias("node"),
                F.expr("rank_u div outdeg").alias("c"),
            )
            .groupBy("node")
            .agg(F.sum("c").cast("bigint").alias("s"))
        )
        ranks = (
            nodes.join(contrib, "node")  # inner: every node has in-edges here
            .select(
                "node",
                "outdeg",
                F.expr(
                    f"{base_num} div ({PR_DAMP_DEN * n}) "
                    f"+ (s * {PR_DAMP_NUM}) div {PR_DAMP_DEN}"
                ).alias("rank_u"),
            )
        )
        if it % PR_CHECKPOINT_EVERY == 0 and it < N_PAGERANK_ITERS:
            ranks = ranks.localCheckpoint(eager=True)
    is_part = F.pmod(F.col("node"), F.lit(2)) == 0
    return ranks.select(
        "node",
        F.when(is_part, F.lit("part")).otherwise(F.lit("supplier")).alias("kind"),
        (F.col("node") / 2).cast("bigint").alias("entity_id"),
        F.col("rank_u"),  # rank in 1e-12 units; exact by construction
    )


def _oracle_pagerank() -> str:
    base = f"""
WITH pairs AS (
    SELECT DISTINCT l_partkey * 2 AS p, l_suppkey * 2 + 1 AS s FROM lineitem
),
edges AS (
    SELECT p AS src, s AS dst FROM pairs
    UNION ALL
    SELECT s AS src, p AS dst FROM pairs
),
deg AS (SELECT src AS node, COUNT(*) AS outdeg FROM edges GROUP BY 1),
nn AS (SELECT COUNT(*) AS n FROM deg),
r0 AS (
    SELECT node, outdeg, {PR_UNIT} // n AS rank_u FROM deg, nn
)"""
    base_num = PR_UNIT * (PR_DAMP_DEN - PR_DAMP_NUM)
    steps = []
    for i in range(N_PAGERANK_ITERS):
        steps.append(f""",
c{i} AS (
    SELECT e.dst AS node, CAST(SUM(r.rank_u // r.outdeg) AS BIGINT) AS s
    FROM edges e JOIN r{i} r ON r.node = e.src
    GROUP BY 1
),
r{i + 1} AS (
    SELECT d.node, d.outdeg,
           {base_num} // ({PR_DAMP_DEN} * nn.n)
           + (c.s * {PR_DAMP_NUM}) // {PR_DAMP_DEN} AS rank_u
    FROM deg d JOIN c{i} c ON c.node = d.node, nn
)"""
        )
    final = f"""
SELECT node,
       CASE WHEN node % 2 = 0 THEN 'part' ELSE 'supplier' END AS kind,
       node // 2 AS entity_id,
       CAST(rank_u AS BIGINT) AS rank_u
FROM r{N_PAGERANK_ITERS}
"""
    return base + "".join(steps) + final


ORACLE_Q146 = _oracle_pagerank()


# ---------------------------------------------------------------------------
# q168 — TRIANGLE COUNTING over the part co-purchase graph: the classic
# non-iterative distributed graph analytic (Suri & Vassilvitskii 2011,
# "Counting Triangles and the Curse of the Last Reducer"), completing the
# graph family next to q146 (iterative fixed-point) and q46 (connected
# components).  Graph: parts in the sampled decile family (l_partkey % 4
# == 0) are nodes; two parts are adjacent iff some order contains both
# (distinct canonical a<b pairs).
#
# Scale design — DEGREE ORIENTATION, the whole point: enumerating wedges
# on the undirected graph explodes as sum(deg^2) (the "last reducer"
# holds the hub).  Orienting every edge from its (degree, id)-smaller
# endpoint bounds out-degrees by O(sqrt(m)), so the wedge join is
# sum(outdeg^2) = O(m^1.5) worst-case and far less in practice; each
# triangle is then found EXACTLY once (the acyclic orientation has one
# node with two out-edges).  The hash gate proves orientation
# independence: the oracle counts on the canonical (a<b) form with no
# orientation trick, and every output metric — including per-node
# participation — must agree bit-for-bit.
#
# The edge set is built once per corpus version and persisted
# (_copurchase_cache, same lifecycle as q146's edges); the wedge metric
# is computed as the per-middle-node product aggregate hi(b)*lo(b) —
# one groupBy, NO join — rather than materializing wedges.
# ---------------------------------------------------------------------------
TRI_PART_MOD = 4  # sampled part family: l_partkey % TRI_PART_MOD == 0


def _copurchase_cache(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """(edges, deg) checkpointed once per lineitem version: canonical
    (a < b) co-purchase edges between sampled parts and per-node
    degrees — the base tables both q168 and q172 read.  The
    degree-ORIENTED table lives in _oriented_cache: only q168 reads it,
    and building it here charged every cold k-core run two degree joins
    plus a checkpoint job it never used (review r15)."""
    from tinymr_spark.sources import file_version, session_cache, table_path

    cache = session_cache(spark, "_tinymr_graph_cache")
    key = (sf_dir, file_version(table_path(sf_dir, "lineitem")), "copurchase")
    if key not in cache:
        li = (
            load_table(spark, sf_dir, "lineitem")
            .where(F.col("l_partkey") % TRI_PART_MOD == 0)
            .select("l_orderkey", "l_partkey")
            .distinct()
        )
        x, y = li.alias("x"), li.alias("y")
        edges = (
            x.join(
                y,
                (F.col("x.l_orderkey") == F.col("y.l_orderkey"))
                & (F.col("x.l_partkey") < F.col("y.l_partkey")),
            )
            .select(F.col("x.l_partkey").alias("a"), F.col("y.l_partkey").alias("b"))
            .distinct()
            .localCheckpoint(eager=True)
        )
        deg = (
            edges.select(F.col("a").alias("node"))
            .unionByName(edges.select(F.col("b").alias("node")))
            .groupBy("node")
            .agg(F.count("*").alias("deg"))
            .localCheckpoint(eager=True)
        )
        _evict_stale(cache, key)
        cache[key] = (edges, deg)
    return cache[key]


def _oriented_cache(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The degree-ORIENTED edge table, checkpointed once per lineitem
    version on q168's FIRST use.  Caching (rather than deriving per
    probe) still matters: the triangle query scans it three times per
    run (two wedge sides + the closing-edge semi join), so an uncached
    build would compile and execute its two degree joins three times
    over."""
    from tinymr_spark.sources import file_version, session_cache, table_path

    cache = session_cache(spark, "_tinymr_graph_cache")
    key = (sf_dir, file_version(table_path(sf_dir, "lineitem")), "copurchase_ed")
    if key not in cache:
        edges, deg = _copurchase_cache(spark, sf_dir)
        # Orient each edge from its (deg, id)-lexicographically smaller
        # endpoint: out-degree is O(sqrt(m))-bounded, so the out-edge
        # self-join cannot hit the undirected sum(deg^2) blowup.
        ed = (
            edges.join(
                deg.withColumnRenamed("node", "a").withColumnRenamed("deg", "da"), "a"
            )
            .join(deg.withColumnRenamed("node", "b").withColumnRenamed("deg", "db"), "b")
            .select(
                F.when(
                    (F.col("da") < F.col("db"))
                    | ((F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))),
                    F.struct(
                        F.col("a").alias("src"),
                        F.col("b").alias("dst"),
                        F.col("db").alias("ddst"),
                    ),
                )
                .otherwise(
                    F.struct(
                        F.col("b").alias("src"),
                        F.col("a").alias("dst"),
                        F.col("da").alias("ddst"),
                    )
                )
                .alias("o")
            )
            .select("o.src", "o.dst", "o.ddst")
            .repartition("src")  # the wedge self-join key: co-located probes
            # localCheckpoint, not bare persist: ed's lineage nests the
            # edge self-join + two degree joins, and the triangle query
            # scans ed three times — uncut, the PRINTED plan repeats that
            # subtree per scan (the q146 lineage-inflation case).  The cut
            # materializes once at build and bounds plan depth; exact
            # bigint columns, so it cannot perturb results.
            .localCheckpoint(eager=True)
        )
        _evict_stale(cache, key)
        cache[key] = (ed,)
    return cache[key][0]


def q168_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    e, deg = _copurchase_cache(spark, sf_dir)
    ed = _oriented_cache(spark, sf_dir)
    # Each triangle appears exactly once: the orientation-minimal node u
    # has out-edges to both v and w ((deg,id)-ordered v < w), and the
    # closing edge v -> w is itself oriented.
    p, q = ed.alias("p"), ed.alias("q")
    cand = p.join(q, F.col("p.src") == F.col("q.src")).where(
        (F.col("p.ddst") < F.col("q.ddst"))
        | ((F.col("p.ddst") == F.col("q.ddst")) & (F.col("p.dst") < F.col("q.dst")))
    )
    tri = cand.join(
        ed.select(F.col("src").alias("v"), F.col("dst").alias("w")),
        (F.col("p.dst") == F.col("v")) & (F.col("q.dst") == F.col("w")),
        "left_semi",
    ).select(
        F.col("p.src").alias("u"), F.col("p.dst").alias("v"), F.col("q.dst").alias("w")
    )
    per_node = (
        tri.select(F.col("u").alias("node"))
        .unionByName(tri.select(F.col("v").alias("node")))
        .unionByName(tri.select(F.col("w").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("t"))
    )
    # Canonical wedge count (a<b<c paths) via the middle-node product —
    # lo(m) edges where m is the smaller endpoint, hi(m) where larger:
    # one aggregation, no wedge materialization.
    wedges = (
        e.select(F.col("a").alias("node"), F.lit(1).alias("lo"), F.lit(0).alias("hi"))
        .unionByName(
            e.select(F.col("b").alias("node"), F.lit(0).alias("lo"), F.lit(1).alias("hi"))
        )
        .groupBy("node")
        .agg((F.sum("lo") * F.sum("hi")).alias("w"))
        # coalesced: empty edge set -> 0 wedges (oracle COUNT), not NULL
        .agg(
            F.coalesce(F.sum("w").cast("bigint"), F.lit(0).cast("bigint")).alias(
                "n_wedges"
            )
        )
    )
    globals_ = (
        deg.agg(
            F.count("*").alias("n_nodes"),
            # exact: each edge counted twice; coalesced like n_triangles
            # so an empty sampled graph reads 0 (matching the oracle's
            # COUNT(*)), not sum()'s NULL
            F.expr("coalesce(sum(deg), 0L) div 2").alias("n_edges"),
        )
        .crossJoin(F.broadcast(wedges))
        .crossJoin(
            F.broadcast(
                per_node.agg(
                    F.count("*").cast("bigint").alias("n_tri_nodes"),
                    F.max("t").alias("max_node_triangles"),
                    # each triangle contributes 3 participation rows; exact
                    # integer div, coalesced so a triangle-free graph is 0
                    F.expr("coalesce(sum(t), 0L) div 3").alias("n_triangles"),
                )
            )
        )
    )
    return globals_.select(
        "n_nodes", "n_edges", "n_wedges", "n_triangles", "n_tri_nodes",
        "max_node_triangles",
    )


ORACLE_Q168 = f"""
WITH li AS (
    SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    WHERE l_partkey % {TRI_PART_MOD} = 0
),
e AS (
    SELECT DISTINCT x.l_partkey AS a, y.l_partkey AS b
    FROM li x JOIN li y
      ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey
),
w AS (SELECT e1.a, e1.b, e2.b AS c FROM e e1 JOIN e e2 ON e2.a = e1.b),
tri AS (SELECT w.a, w.b, w.c FROM w JOIN e e3 ON e3.a = w.a AND e3.b = w.c),
pern AS (
    SELECT node, COUNT(*) AS t FROM (
        SELECT a AS node FROM tri
        UNION ALL SELECT b FROM tri
        UNION ALL SELECT c FROM tri
    ) GROUP BY node
)
SELECT (SELECT COUNT(DISTINCT node)
        FROM (SELECT a AS node FROM e UNION ALL SELECT b FROM e)) AS n_nodes,
       (SELECT COUNT(*) FROM e) AS n_edges,
       (SELECT COUNT(*) FROM w) AS n_wedges,
       (SELECT COUNT(*) FROM tri) AS n_triangles,
       (SELECT COUNT(*) FROM pern) AS n_tri_nodes,
       (SELECT MAX(t) FROM pern) AS max_node_triangles
"""


# ---------------------------------------------------------------------------
# q172 — K-CORE PEELING on the co-purchase graph: the third distributed
# graph-analytics shape next to q146 (fixed-point iteration) and q168
# (multi-way join) — iterative SUBGRAPH CONTRACTION, where each round's
# input is the previous round's filtered output.  Classic k-core: drop
# every node of degree < K, recompute degrees on the induced subgraph,
# repeat; survivors form the k-core (community cores / spam-farm
# detection in web graphs).  K=20, four peel rounds (a FIXED round count
# so both engines execute the identical computation; true cores converge
# by fixed-point, and round 4's removals here are already near zero).
#
# Scale shape: each round is one degree aggregation + two anti-joins on
# the shrinking edge set — O(surviving edges) per round, monotonically
# cheaper.  Each round's edge set is localCheckpoint-ed (lazily, so the
# next round's aggregate is still the only job): persist() alone keeps
# the full nested anti-join lineage, whose *plan tree* grows ~6x per
# round — at round 4 even printing it OOMs the driver (measured; the
# q146 lesson at higher fan-out).  Checkpointing truncates the tree to
# a leaf per round.  Superseded degree tables are unpersisted one round
# later; checkpointed edge generations are freed by the ContextCleaner
# when the loop drops its references.  Per-round metrics are single-row
# aggregates (the k-means/BPE convergence-check pattern), not data
# collects.  The oracle replays the
# peel in MATERIALIZED CTEs — without materialization the recursive
# reference chain re-inlines exponentially (measured: the un-hinted
# 4-round chain does not finish; materialized it runs in milliseconds).
# ---------------------------------------------------------------------------
KCORE_K = 20
KCORE_ROUNDS = 4


def q172_kcore_peel(spark: SparkSession, sf_dir: str) -> DataFrame:
    e, deg0 = _copurchase_cache(spark, sf_dir)
    cur = e
    rows: list[tuple] = []
    prev: tuple[int, int] | None = None  # (n_removed, n_remaining) of round i-1
    # ONE driver job per round: iteration i's degree aggregate yields
    # round i's removal stats AND round i-1's surviving edge count (sum
    # of degrees div 2), so the loop runs ROUNDS+1 aggregates total —
    # driver round-trips dominate at this size, not data.  Each round
    # persists its degree table (the weak set feeds TWO anti-join
    # probes) and edge set (next round's input); both retire one round
    # later, after the following aggregate has materialized everything
    # derived from them — the working set is never more than two graph
    # generations.
    retired: list[DataFrame] = []
    for i in range(1, KCORE_ROUNDS + 2):
        if i == 1:
            # round 1's degrees over cur = e are byte-identical to the
            # cached, already-checkpointed table — reuse it instead of
            # re-running the full aggregation over the largest edge set
            # (review r15; unpersist on the derived rename is a no-op,
            # so the shared retire path below stays uniform)
            deg = deg0.select("node", F.col("deg").alias("d"))
        else:
            deg = (
                cur.select(F.col("a").alias("node"))
                .unionByName(cur.select(F.col("b").alias("node")))
                .groupBy("node")
                .agg(F.count("*").alias("d"))
                .persist()
            )
        s = deg.agg(
            F.expr("coalesce(sum(d), 0L) div 2").alias("m"),
            F.sum(F.when(F.col("d") < KCORE_K, 1).otherwise(0)).alias("rm"),
            F.sum(F.when(F.col("d") >= KCORE_K, 1).otherwise(0)).alias("keep"),
        ).collect()[0]
        # this aggregate materialized deg AND cur: last round's tables
        # have no un-materialized dependents left — retire them
        for df in retired:
            df.unpersist()
        retired = []
        if prev is not None:
            rows.append((i - 1, prev[0], prev[1], int(s["m"])))
        if i > KCORE_ROUNDS:
            deg.unpersist()
            break
        prev = (int(s["rm"] or 0), int(s["keep"] or 0))
        weak = deg.where(F.col("d") < KCORE_K).select("node")
        nxt = (
            cur.join(weak.withColumnRenamed("node", "a"), "a", "left_anti")
            .join(weak.withColumnRenamed("node", "b"), "b", "left_anti")
            .select("a", "b")
            # lineage cut + cache in one: materializes inside the NEXT
            # round's aggregate job (eager=False), then reads back as a
            # leaf — the plan tree stays O(1) per round instead of ~6^i
            .localCheckpoint(eager=False)
        )
        retired.append(deg)
        cur = nxt
    return spark.createDataFrame(
        rows, "round int, n_removed bigint, n_remaining bigint, n_edges bigint"
    )


def _oracle_kcore() -> str:
    sql = f"""
WITH li AS MATERIALIZED (
    SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    WHERE l_partkey % {TRI_PART_MOD} = 0
),
e0 AS MATERIALIZED (
    SELECT DISTINCT x.l_partkey AS a, y.l_partkey AS b
    FROM li x JOIN li y
      ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey
)"""
    sels = []
    prev = "e0"
    for r in range(1, KCORE_ROUNDS + 1):
        sql += f""",
deg{r} AS MATERIALIZED (
    SELECT node, COUNT(*) AS d FROM (
        SELECT a AS node FROM {prev} UNION ALL SELECT b FROM {prev})
    GROUP BY node
),
weak{r} AS MATERIALIZED (SELECT node FROM deg{r} WHERE d < {KCORE_K}),
e{r} AS MATERIALIZED (
    SELECT e.a, e.b FROM {prev} e
    LEFT JOIN weak{r} wa ON e.a = wa.node
    LEFT JOIN weak{r} wb ON e.b = wb.node
    WHERE wa.node IS NULL AND wb.node IS NULL
)"""
        sels.append(
            f"SELECT {r} AS round,"
            f" (SELECT COUNT(*) FROM weak{r}) AS n_removed,"
            f" (SELECT COUNT(*) FROM deg{r} WHERE d >= {KCORE_K}) AS n_remaining,"
            f" (SELECT COUNT(*) FROM e{r}) AS n_edges"
        )
        prev = f"e{r}"
    return sql + "\n" + "\nUNION ALL\n".join(sels)


ORACLE_Q172 = _oracle_kcore()


QUERIES = {
    "q146_pagerank": q146_pagerank,
    "q168_triangle_count": q168_triangle_count,
    "q172_kcore_peel": q172_kcore_peel,
}

ORACLE = {
    "q146_pagerank": ORACLE_Q146,
    "q168_triangle_count": ORACLE_Q168,
    "q172_kcore_peel": ORACLE_Q172,
}
