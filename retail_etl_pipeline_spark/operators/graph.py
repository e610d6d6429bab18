"""Iterative graph algorithms as DataFrame loops: fixed-point PageRank.

The reference has no graph surface; this extends the engine the way a
training-data pipeline needs it (SURVEY.md §2.10): link-style authority
scores over an item co-occurrence graph (here: parts co-purchased in the
same order), computed as a *bounded unrolled loop of equi-joins* — the
idiomatic Spark shape for iterative algorithms (each iteration is one
shuffle on the edge key; no driver-side adjacency, no RDDs).

Determinism contract (SURVEY.md §5 cross-engine parity): PageRank in
floating point is NOT reproducible across engines — per-node inbound
sums accumulate in engine/partition order, and double addition is not
associative. We therefore run the whole recurrence in **fixed-point
integer arithmetic** (rank scaled by ``SCALE = 1e12``):

    r0(v)   = SCALE
    r_{i+1}(v) = (15 * SCALE) div 100
               + (85 * sum_{u->v}( r_i(u) div out_deg(u) )) div 100

Integer division and integer sums are exact and order-independent, so
Spark and the DuckDB oracle agree bit-for-bit — the same trick the
decimal money metrics use (functions/metrics.py), applied to an
iterative recurrence.

Scale notes (100 TB):
- Edge build is a self-equi-join of lineitem on ``l_orderkey`` — per-key
  fan-out is bounded by order size (~7 lines in TPC-H-shaped data), so
  the join output is O(rows * lines_per_order), not quadratic in the
  table.
- Each iteration shuffles the rank relation once on ``src`` (edges are
  pre-partitioned by the persist) and aggregates on ``dst`` — the
  standard 2-shuffle/iteration profile; the edge+degree relation is
  persisted once and reused by all iterations.
- For deep iteration counts, truncate lineage every ~5 rounds with
  ``localCheckpoint`` (documented, not needed at the fixed 5 used here).
- ``localCheckpoint`` trades fault tolerance for speed: the truncated
  lineage lives in executor block storage, so an executor loss KILLS the
  job instead of recomputing (acceptable in local mode and for short
  bounded loops — a retry re-runs the whole query). On a long-running
  1000-executor job, swap in reliable ``checkpoint()`` +
  ``setCheckpointDir`` on durable storage at the same call sites; the
  loop structure is unchanged. This note covers every iterative loop in
  the package (PageRank/label-prop/BFS here, star contraction in
  operators/dedup.py).
- Overflow lattice: ranks stay near SCALE (total mass is conserved at
  N*SCALE by the column-stochastic update), but a hub's inbound sum is
  bounded only by in_degree * max_rank, so the `85 * sum` step runs in
  DECIMAL(38,0) (the same hardening as the corpus_split hash,
  operators/corpus.py:380 — a BIGINT product would overflow under ANSI
  at 1/85th of the representable range). `div` returns BIGINT, so the
  representable limit on any single node's RANK is 2^63 (~9.2e6 *
  SCALE inbound mass); a graph concentrating more mass than that onto
  one node needs a smaller SCALE.
- Cache lifetime: the edge/adjacency relations are persisted for the
  iteration loop and stay cached until the session clears them — the
  same contract as the shingle relation in operators/dedup.py (bench
  and the plan tests clearCache() between queries).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

SCALE = 1_000_000_000_000  # 1e12 fixed-point scale
TELEPORT_FP = (15 * SCALE) // 100  # 0.15 in fixed point — exact


def _loop_partitions(df: DataFrame, cap: int = 64) -> int:
    """Iteration-loop shuffle width: one partition per core, capped.
    Iterative graph loops run many small shuffles; sizing them to the
    cluster's parallelism instead of spark.sql.shuffle.partitions keeps
    per-round scheduling overhead proportional to the hardware, not to a
    width tuned for one big fact shuffle. On a real cluster, pass the
    graph's own scale through ``repartition`` upstream if edges vastly
    exceed core count * target partition size."""
    return max(1, min(cap, df.sparkSession.sparkContext.defaultParallelism))


def copurchase_edges(lineitem: DataFrame) -> DataFrame:
    """Symmetric directed edge list (src, dst) of parts appearing in the
    same order. DISTINCT collapses repeat co-purchases; both directions
    are present because (a, b) and (b, a) both survive the <> filter.

    r10: built as ONE grouped pass + an in-row pair explode instead of
    the (ok)-keyed self-join — the join shuffled the incidence relation
    twice (both join inputs) before the pair distinct; grouping
    shuffles it once and the pair fan-out happens post-shuffle in
    parallel (guide §2.4). Per-order part sets are bounded (an order
    has a bounded number of lines at any corpus scale), so the
    collect_set rows are bounded. Result-identical: the same distinct
    (src, dst) pair set."""
    per_order = (
        lineitem.select(
            F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pk")
        )
        .groupBy("ok")
        .agg(F.collect_set("pk").alias("ps"))
    )
    return (
        per_order.select(F.explode("ps").alias("src"), "ps")
        .select("src", F.explode("ps").alias("dst"))
        .where(F.col("src") != F.col("dst"))
        .select("src", "dst")
        .distinct()
    )


#: materialized-edge registry: (id(session), key) -> (session, table).
#: The session object is pinned in the value so CPython cannot recycle
#: its id() for a NEW session while the entry is alive (a stale entry
#: would then hand the new session a table it never wrote).
_MATERIALIZED_EDGES: dict[tuple[int, str], tuple[object, str]] = {}


def materialized_edges(spark, key: str, build) -> DataFrame:
    """Materialize a deterministic edge relation ONCE per (session, key)
    as a parquet table in the session warehouse; return a scan over it.

    Why not persist(): the five co-purchase graph queries (PageRank,
    label-prop, BFS, triangles, link prediction) all derive from the
    same lineitem self-join (+ distinct or support aggregation) — the
    dominant cost of the family (BENCH_DIFF_r05 triage: ~3-4 s of each
    query's clean time is the shared edge build). A persisted relation
    cannot carry across queries because bench and the plan tests
    ``clearCache()`` between queries by contract (module doc above); a
    saved table survives that, so each query pays only its own
    iteration/aggregation cost after the first builds the table.

    At cluster scale this is the standard materialized-intermediate
    pattern: the distinct edge list is tiny relative to the fact table,
    and writing it once to durable storage replaces N fact-scale
    self-joins with N edge-table scans. ``mode("overwrite")`` on the
    first call per process also defends against a stale same-named
    table left in the warehouse by an earlier process over different
    input.

    ``build`` is a zero-arg callable returning the edge DataFrame; it
    runs only on the first call for this (session, key).

    The write is PATH-based parquet under the session warehouse dir,
    not ``saveAsTable``: a managed table whose location survives from
    an earlier PROCESS (the warehouse dir outlives sessions) makes
    CREATE fail with LOCATION_ALREADY_EXISTS even under
    mode("overwrite"), because the new session's catalog has no entry
    to overwrite — path overwrite has no such split-brain.
    """
    import hashlib

    cache_key = (id(spark), key)
    hit = _MATERIALIZED_EDGES.get(cache_key)
    if hit is not None and hit[0] is spark:
        return spark.read.parquet(hit[1])
    warehouse = spark.conf.get(
        "spark.sql.warehouse.dir", "spark-warehouse"
    ).removeprefix("file:")
    path = (
        warehouse.rstrip("/")
        + "/shared_edges_"
        + hashlib.md5(key.encode()).hexdigest()[:12]
    )
    build().write.mode("overwrite").parquet(path)
    _MATERIALIZED_EDGES[cache_key] = (spark, path)
    return spark.read.parquet(path)


def clear_materialized_edges(spark) -> None:
    """Remove this session's materialized edge relations (test hygiene)."""
    import shutil

    for (sid, key), (sess, path) in list(_MATERIALIZED_EDGES.items()):
        if sess is spark:
            shutil.rmtree(path, ignore_errors=True)
            del _MATERIALIZED_EDGES[(sid, key)]


def pagerank_fixed_point(edges: DataFrame, iterations: int = 5) -> DataFrame:
    """PageRank over a symmetric edge list in exact fixed-point integer
    arithmetic. Returns (node, rank_fp, out_deg); rank_fp is the rank
    scaled by SCALE. Every node in a symmetric edge list has in-degree
    >= 1, so no node drops out of the aggregation between iterations
    (no dangling-mass term needed)."""
    # the edge build (self-join + distinct) is the expensive part: persist
    # it ONCE — degrees, the per-iteration adjacency join, and the final
    # projection all derive from the cached relation instead of re-running
    # the self-join per action. The cached relation is hash-partitioned
    # on src at core-count width FIRST: every iteration's join then
    # reuses that partitioning (only the tiny rank relation moves), and
    # the iteration stages run at the pinned width instead of the
    # session's shuffle width — under a plain 200-partition session the
    # difference is 30 s vs 4 s at sf0.01, pure scheduling overhead of
    # near-empty tasks. The per-iteration aggregation stays two-phase
    # (map-side combine) — pre-repartitioning contrib by dst would
    # collapse it to a single-phase agg that moves every raw
    # contribution row (measured 3x slower at sf0.1).
    edges = edges.repartition(_loop_partitions(edges), "src").persist()
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("out_deg"))
    # (src, dst, out_deg): deg is one bounded row per node, so AQE
    # broadcast-joins it against the cached edges — no forced hint (deg
    # scales with |V|; a forced broadcast would OOM at corpus scale).
    adj = edges.join(deg, "src").persist()
    ranks = deg.select(
        F.col("src").alias("node"), F.lit(SCALE).cast("bigint").alias("r")
    )
    for _ in range(iterations):
        contrib = adj.join(
            ranks, adj.src == ranks.node, "inner"
        ).select(
            F.col("dst"), F.expr("r div out_deg").alias("c")
        )
        ranks = contrib.groupBy("dst").agg(
            # the 85x step in DECIMAL(38,0): a hub's inbound sum times 85
            # overflows BIGINT long before the sum itself does (ANSI mode
            # would throw); `div` brings the result back to BIGINT
            (
                F.lit(TELEPORT_FP)
                + F.expr("(85 * cast(sum(c) as decimal(38,0))) div 100")
            ).alias("r")
        ).select(F.col("dst").alias("node"), "r")
    return ranks.join(deg, ranks.node == deg.src).select(
        "node", F.col("r").alias("rank_fp"), "out_deg"
    )


def pagerank_topk(
    edges: DataFrame, iterations: int = 5, k: int = 20
) -> DataFrame:
    """Top-k nodes by PageRank (deterministic tie-break on node key).
    The limit lands as TakeOrderedAndProject — no global sort
    materialization."""
    pr = pagerank_fixed_point(edges, iterations)
    return pr.orderBy(F.desc("rank_fp"), F.asc("node")).limit(k).select(
        F.col("node").alias("p_partkey"), "rank_fp", "out_deg"
    )


def pagerank_oracle_sql(iterations: int = 5, k: int = 20) -> str:
    """Unrolled-CTE DuckDB twin of the exact fixed-point recurrence.
    (Recursive CTEs can't aggregate in the recursive member, so the
    bounded loop is unrolled — same shape the Spark side executes.)
    DuckDB's BIGINT sums widen to HUGEINT; `//` on integers is exact
    integer division, matching Spark's `div`."""
    cte = [
        """edges AS (
  SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
  FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
  WHERE a.l_partkey <> b.l_partkey
)""",
        """deg AS (
  SELECT src, CAST(COUNT(*) AS BIGINT) AS out_deg FROM edges GROUP BY src
)""",
        f"""r0 AS (
  SELECT src AS node, CAST({SCALE} AS BIGINT) AS r FROM deg
)""",
    ]
    for i in range(iterations):
        cte.append(
            f"""r{i + 1} AS (
  SELECT e.dst AS node,
         CAST({TELEPORT_FP} + (85 * SUM(r.r // d.out_deg)) // 100 AS BIGINT) AS r
  FROM edges e
  JOIN r{i} r ON e.src = r.node
  JOIN deg d ON e.src = d.src
  GROUP BY e.dst
)"""
        )
    return (
        "WITH "
        + ",\n".join(cte)
        + f"""
SELECT r.node AS p_partkey, r.r AS rank_fp, d.out_deg
FROM r{iterations} r JOIN deg d ON r.node = d.src
ORDER BY rank_fp DESC, p_partkey ASC
LIMIT {k}
"""
    )


# ---------------------------------------------------------------------------
# min-label propagation (community detection / connected components by
# bounded rounds) — the second iterative-loop pattern, fully relational
# ---------------------------------------------------------------------------


def min_label_propagation(edges: DataFrame, rounds: int = 3) -> DataFrame:
    """Label every node with the smallest node id reachable within
    ``rounds`` hops: l_0(v) = v; l_{t+1}(v) = min(l_t(v), min over
    in-neighbors l_t(u)). After diameter rounds this is exact connected
    components; at a fixed round count it is a deterministic partial
    state either way (pure min-algebra — order- and engine-independent),
    which is what makes it oracle-checkable without convergence
    detection. Complements operators/dedup.connected_components (the
    hybrid driver/distributed version used by near-dup clustering) with
    the fully-relational unrolled form.

    Plan (the dedup.connected_components discipline): the iteration
    partitioning is sized to the GRAPH, not the session default — under
    a plain 200-shuffle-partition session each round otherwise pays
    ~600 near-empty tasks of scheduling overhead to move a few hundred
    KB (measured 6 s/round -> sub-second at sf0.01). Each round's labels
    are localCheckpoint'd: the previous labels are read TWICE per round
    (neighbor min + keep-own-label join), so an unmaterialized chain
    doubles the plan per round — 2^rounds recomputes of the edge build."""
    n_parts = _loop_partitions(edges)
    edges = edges.repartition(n_parts, "src").persist()
    # initialize from src UNION dst: on a non-symmetric edge list a
    # dst-only node would otherwise vanish from the output entirely
    # (the label relation drives the final left join). Symmetric inputs
    # (copurchase_edges) pay only a cheap distinct over the same keys.
    labels = (
        edges.select(F.col("src").alias("node"))
        .unionByName(edges.select(F.col("dst").alias("node")))
        .distinct()
        .select("node", F.col("node").alias("label"))
        .repartition(n_parts, "node")
        .localCheckpoint(eager=True)
    )
    for _ in range(rounds):
        neigh = (
            edges.join(labels, edges.src == labels.node, "inner")
            .select(F.col("dst").alias("n2"), "label")
            .repartition(n_parts, "n2")
            .groupBy("n2")
            .agg(F.min("label").alias("neigh_min"))
        )
        labels = (
            labels.join(neigh, labels.node == F.col("n2"), "left")
            .select(
                "node",
                F.least(
                    F.col("label"), F.coalesce(F.col("neigh_min"), F.col("label"))
                ).alias("label"),
            )
            .localCheckpoint(eager=True)
        )
    return labels


def label_propagation_oracle_sql(rounds: int = 3) -> str:
    """Unrolled DuckDB twin of :func:`min_label_propagation` over the
    co-purchase edge list (same edges CTE as the PageRank oracle)."""
    cte = [
        """edges AS (
  SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
  FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
  WHERE a.l_partkey <> b.l_partkey
)""",
        "l0 AS (SELECT DISTINCT src AS node, src AS label FROM edges)",
    ]
    for i in range(rounds):
        cte.append(
            f"""l{i + 1} AS (
  SELECT l.node,
         LEAST(l.label, COALESCE(m.neigh_min, l.label)) AS label
  FROM l{i} l
  LEFT JOIN (
    SELECT e.dst AS node, MIN(l.label) AS neigh_min
    FROM edges e JOIN l{i} l ON e.src = l.node
    GROUP BY e.dst
  ) m ON l.node = m.node
)"""
        )
    return (
        "WITH "
        + ",\n".join(cte)
        + f"""
SELECT CAST(label AS BIGINT) AS community,
       CAST(COUNT(*) AS BIGINT) AS n_members,
       CAST(MIN(node) AS BIGINT) AS min_member,
       CAST(MAX(node) AS BIGINT) AS max_member
FROM l{rounds}
GROUP BY label
"""
    )


# ---------------------------------------------------------------------------
# Bounded-depth BFS: min hop distance from a seed node
# ---------------------------------------------------------------------------

#: "unreached" sentinel — large enough that dist+1 can never collide
#: with a real hop count, small enough that +rounds stays in BIGINT.
BFS_INF = 10**15


def bfs_hops(edges: DataFrame, rounds: int = 4) -> DataFrame:
    """Min-hop distance from the smallest node id, bounded at ``rounds``
    hops, as *frontier-delta* level-synchronous BFS: in an unweighted
    graph a node's FIRST reach is its final distance, so round t only
    relaxes edges out of the nodes first reached at round t-1 (the
    frontier) — frontier x degree work per round, not rounds x |E| as
    the old full-table min-plus relaxation did. Result is identical
    (d(v) = smallest t with v reachable in t hops; unreached nodes keep
    the BFS_INF sentinel), so the unrolled min-plus oracle below is
    unchanged. Returns (node, hops).

    Scale shape per round: one join of the (small) frontier against the
    src-partitioned persisted edge relation — AQE broadcasts the
    frontier while it is tiny, and a planet-sized frontier falls back
    to a shuffle of frontier-many rows against edges' existing
    partitioning — then a frontier-sized distinct and an anti-join
    against the (bounded, union-of-checkpointed-frontiers) reached set.
    ONE localCheckpoint per round, on the frontier delta only; the
    loop short-circuits when the frontier empties, so rounds beyond the
    graph's eccentricity cost nothing."""
    n_parts = _loop_partitions(edges)
    edges = edges.repartition(n_parts, "src").persist()
    nodes = (
        edges.select(F.col("src").alias("node"))
        .unionByName(edges.select(F.col("dst").alias("node")))
        .distinct()
        .repartition(n_parts, "node")
        .localCheckpoint(eager=True)
    )
    # the seed is derived relationally (one bounded agg row) — no
    # driver round-trip; the 1-row aggregate IS the initial frontier
    frontier = (
        nodes.agg(F.min("node").alias("node"))
        .select("node", F.lit(0).cast("bigint").alias("hops"))
        .localCheckpoint(eager=True)
    )
    reached = [frontier]
    for t in range(1, rounds + 1):
        seen = reached[0]
        for part in reached[1:]:
            seen = seen.unionByName(part)
        frontier = (
            edges.join(
                frontier.select(F.col("node").alias("src")), "src"
            )
            .select(F.col("dst").alias("node"))
            .distinct()
            .join(seen.select("node"), "node", "left_anti")
            .select("node", F.lit(t).cast("bigint").alias("hops"))
            .repartition(n_parts, "node")
            .localCheckpoint(eager=True)
        )
        # checkpoint already materialized the delta; take(1) on the
        # cached blocks is the cheap emptiness probe for short-circuit
        if not frontier.take(1):
            break
        reached.append(frontier)
    edges.unpersist()
    dist = reached[0]
    for part in reached[1:]:
        dist = dist.unionByName(part)
    unreached = nodes.join(
        dist.select("node"), "node", "left_anti"
    ).select("node", F.lit(BFS_INF).cast("bigint").alias("hops"))
    return dist.unionByName(unreached)


def bfs_oracle_sql(rounds: int = 4) -> str:
    """Unrolled DuckDB twin of :func:`bfs_hops` over the co-purchase
    edge list, aggregated to a per-hop histogram."""
    cte = [
        """edges AS (
  SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
  FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
  WHERE a.l_partkey <> b.l_partkey
)""",
        # src UNION dst, matching bfs_hops — they only coincide on a
        # src-only node set when the edge list is symmetric, and this
        # oracle must not depend on that precondition
        "nodes AS (SELECT src AS node FROM edges"
        " UNION SELECT dst FROM edges)",
        f"""d0 AS (
  SELECT node,
         CASE WHEN node = (SELECT MIN(node) FROM nodes)
              THEN 0 ELSE {BFS_INF} END AS hops
  FROM nodes
)""",
    ]
    for i in range(rounds):
        cte.append(
            f"""d{i + 1} AS (
  SELECT d.node,
         LEAST(d.hops, COALESCE(m.relaxed, d.hops)) AS hops
  FROM d{i} d
  LEFT JOIN (
    SELECT e.dst AS node, MIN(d.hops) + 1 AS relaxed
    FROM edges e JOIN d{i} d ON e.src = d.node
    GROUP BY e.dst
  ) m ON d.node = m.node
)"""
        )
    return (
        "WITH "
        + ",\n".join(cte)
        + f"""
SELECT CAST(hops AS BIGINT) AS hops,
       CAST(COUNT(*) AS BIGINT) AS n_nodes,
       CAST(MIN(node) AS BIGINT) AS min_node,
       CAST(MAX(node) AS BIGINT) AS max_node
FROM d{rounds}
WHERE hops < {BFS_INF}
GROUP BY hops
"""
    )


# ---------------------------------------------------------------------------
# triangle counting (degree-ordered orientation) — the third classic
# distributed graph kernel next to PageRank and label propagation
# ---------------------------------------------------------------------------

#: minimum co-purchase support (distinct orders containing the pair)
#: for the triangle census graph — the RAW copurchase graph is a union
#: of per-order cliques over a small part vocabulary and is near-dense
#: (2.4M directed edges over 20k parts at sf0.1: the wedge join
#: materializes hundreds of millions of rows, measured 22 s); pairs
#: seen in >= 2 independent orders cut it to ~7k edges while keeping
#: the signal pairs (the same reasoning as part_pair_lift's support
#: floor)
TRIANGLE_MIN_SUPPORT = 2


def copurchase_edges_supported(
    lineitem: DataFrame, min_support: int = TRIANGLE_MIN_SUPPORT
) -> DataFrame:
    """Symmetric (src, dst) edge list keeping only part pairs
    co-purchased in at least ``min_support`` DISTINCT orders. Same
    self-join as copurchase_edges but aggregated on the pair with a
    distinct-order count instead of DISTINCT — the support floor is
    what makes dense clique-union graphs triangle-countable.

    r10: one grouped pass + in-row pair explode (see
    :func:`copurchase_edges`) — collect_set dedups the (order, part)
    incidence, so each order emits each pair exactly once and the
    support aggregate stays a plain count."""
    per_order = (
        lineitem.select(
            F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pk")
        )
        .groupBy("ok")
        .agg(F.collect_set("pk").alias("ps"))
    )
    return (
        per_order.select(F.explode("ps").alias("src"), "ps")
        .select("src", F.explode("ps").alias("dst"))
        .where(F.col("src") != F.col("dst"))
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .where(F.col("n_orders") >= min_support)
        .select("src", "dst")
    )


def _edges_supported_cte(min_support: int) -> str:
    return f"""inc AS (
  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
),
edges AS (
  SELECT a.pk AS src, b.pk AS dst
  FROM inc a JOIN inc b ON a.ok = b.ok
  WHERE a.pk <> b.pk
  GROUP BY 1, 2
  HAVING COUNT(*) >= {min_support}
)"""


def triangle_count(edges: DataFrame) -> DataFrame:
    """Global triangle census over a SYMMETRIC edge list: one row with
    node/edge counts, the exact triangle count, the wedge (open-triad)
    count, and the global clustering coefficient in exact integer ppm.

    The count uses the standard degree-ordered orientation: each
    undirected edge is kept once, directed from the smaller to the
    larger endpoint under the (degree, id) total order. Every triangle
    then materializes exactly once (its unique (deg,id)-minimal corner
    emits both out-edges), and — the reason this formulation scales —
    out-adjacency under this orientation is bounded by O(sqrt(m)) per
    node regardless of how skewed the raw degree distribution is, so
    the wedge join's fan-out is O(m^1.5) worst-case instead of
    sum-of-squared-degrees (a single celebrity hub never explodes).

    Plan: edge relation repartitioned to graph-sized width and
    persisted (three consumers: degrees + both orientation joins); the
    wedge join shuffles on the middle vertex; the closing edge check is
    an equi-join on the (u,w) pair. All integer arithmetic; the
    clustering ratio is DECIMAL(38,0)-widened exact division (the
    3*T*1e6 product overflows BIGINT long before T does)."""
    n_parts = _loop_partitions(edges)
    edges = edges.repartition(n_parts, "src").persist()
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    du = deg.select(F.col("src").alias("u"), F.col("deg").alias("deg_u"))
    dv = deg.select(F.col("src").alias("v"), F.col("deg").alias("deg_v"))
    oriented = (
        edges.select(F.col("src").alias("u"), F.col("dst").alias("v"))
        .join(du, "u")
        .join(dv, "v")
        .where(
            (F.col("deg_u") < F.col("deg_v"))
            | ((F.col("deg_u") == F.col("deg_v")) & (F.col("u") < F.col("v")))
        )
        .select("u", "v")
        .persist()
    )
    a = oriented.alias("a")
    b = oriented.alias("b")
    c = oriented.alias("c")
    tri = (
        a.join(b, F.col("a.v") == F.col("b.u"))
        .join(
            c,
            (F.col("c.u") == F.col("a.u")) & (F.col("c.v") == F.col("b.v")),
        )
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    stats = deg.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_nodes"),
        F.expr("cast(sum(deg) as bigint) div 2").alias("n_edges"),
        F.expr(
            "cast(sum(cast(deg as bigint) * (deg - 1)) as bigint) div 2"
        ).alias("n_wedges"),
    )
    return (
        tri.crossJoin(F.broadcast(stats))
        .select(
            "n_nodes",
            "n_edges",
            F.col("n_triangles").cast("bigint").alias("n_triangles"),
            "n_wedges",
            F.expr(
                "(cast(n_triangles as decimal(38,0)) * 3000000)"
                " div n_wedges"
            ).cast("bigint").alias("clustering_ppm"),
        )
    )


def triangle_oracle_sql(min_support: int = TRIANGLE_MIN_SUPPORT) -> str:
    """DuckDB twin: identical support-filtered edge build + orientation
    + wedge-close joins; HUGEINT replaces DECIMAL(38,0) for the widened
    ratio arithmetic."""
    return f"""
WITH {_edges_supported_cte(min_support)},
deg AS (
  SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS deg FROM edges GROUP BY src
),
oriented AS (
  SELECT e.src AS u, e.dst AS v
  FROM edges e
  JOIN deg du ON e.src = du.node
  JOIN deg dv ON e.dst = dv.node
  WHERE du.deg < dv.deg OR (du.deg = dv.deg AND e.src < e.dst)
),
tri AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_triangles
  FROM oriented a
  JOIN oriented b ON a.v = b.u
  JOIN oriented c ON c.u = a.u AND c.v = b.v
),
stats AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes,
         CAST(SUM(deg) // 2 AS BIGINT) AS n_edges,
         CAST(SUM(deg * (deg - 1)) // 2 AS BIGINT) AS n_wedges
  FROM deg
)
SELECT n_nodes, n_edges, n_triangles, n_wedges,
       CAST((CAST(n_triangles AS HUGEINT) * 3000000) // n_wedges AS BIGINT)
         AS clustering_ppm
FROM tri, stats
"""


def jaccard_link_prediction(edges: DataFrame, k: int = 20) -> DataFrame:
    """Top-``k`` NON-adjacent node pairs ranked by neighborhood Jaccard
    similarity — the classic common-neighbors link-prediction kernel
    (predicting which parts WOULD be co-purchased). Exact integer
    arithmetic end-to-end: ``jaccard_ppm = common * 1e6 div
    (deg_u + deg_w - common)`` in DECIMAL(38,0), deterministic top-k
    via the (u, w) tie-break.

    Plan: wedges are enumerated by joining the symmetric edge list with
    itself on the MIDDLE vertex (u–v, v–w, u < w), shuffling on ``v``;
    candidate pairs then drop existing edges with a left-anti equi-join
    (symmetry means checking one direction suffices) and pick up both
    endpoint degrees via two joins on the small per-node degree
    relation. Fan-out is sum-of-squared-degrees over the SUPPORT-
    FILTERED graph — the same bound as the triangle census's wedge
    stage; on a rawer graph, cap per-middle adjacency or raise the
    support floor before calling (a celebrity hub contributes
    deg^2 candidate pairs and should be pre-capped, not joined)."""
    n_parts = _loop_partitions(edges)
    edges = edges.repartition(n_parts, "src").persist()
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    e1 = edges.select(F.col("dst").alias("u"), F.col("src").alias("v"))
    e2 = edges.select(F.col("src").alias("v"), F.col("dst").alias("w"))
    pairs = (
        e1.join(e2, "v")
        .where(F.col("u") < F.col("w"))
        .groupBy("u", "w")
        .agg(F.count(F.lit(1)).alias("common"))
    )
    non_adjacent = pairs.join(
        edges.select(F.col("src").alias("u"), F.col("dst").alias("w")),
        ["u", "w"],
        "left_anti",
    )
    du = deg.select(F.col("src").alias("u"), F.col("deg").alias("deg_u"))
    dw = deg.select(F.col("src").alias("w"), F.col("deg").alias("deg_w"))
    return (
        non_adjacent.join(du, "u")
        .join(dw, "w")
        .select(
            F.col("u").cast("bigint").alias("u"),
            F.col("w").cast("bigint").alias("w"),
            F.col("common").cast("bigint").alias("common"),
            F.col("deg_u").cast("bigint").alias("deg_u"),
            F.col("deg_w").cast("bigint").alias("deg_w"),
            F.expr(
                "cast((cast(common as decimal(38,0)) * 1000000)"
                " div (deg_u + deg_w - common) as bigint)"
            ).alias("jaccard_ppm"),
        )
        .orderBy(F.desc("jaccard_ppm"), F.asc("u"), F.asc("w"))
        .limit(k)
    )


def link_prediction_oracle_sql(
    min_support: int = TRIANGLE_MIN_SUPPORT, k: int = 20
) -> str:
    """DuckDB twin of :func:`jaccard_link_prediction` over the
    support-filtered copurchase graph: identical wedge join, anti-join
    via NOT EXISTS, HUGEINT for the widened ppm ratio."""
    return f"""
WITH {_edges_supported_cte(min_support)},
deg AS (
  SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS deg FROM edges GROUP BY src
),
pairs AS (
  SELECT e1.dst AS u, e2.dst AS w, CAST(COUNT(*) AS BIGINT) AS common
  FROM edges e1 JOIN edges e2 ON e1.src = e2.src
  WHERE e1.dst < e2.dst
  GROUP BY 1, 2
),
non_adjacent AS (
  SELECT p.* FROM pairs p
  WHERE NOT EXISTS (
    SELECT 1 FROM edges e WHERE e.src = p.u AND e.dst = p.w
  )
)
SELECT CAST(p.u AS BIGINT) AS u,
       CAST(p.w AS BIGINT) AS w,
       p.common,
       du.deg AS deg_u,
       dw.deg AS deg_w,
       CAST((CAST(p.common AS HUGEINT) * 1000000)
            // (du.deg + dw.deg - p.common) AS BIGINT) AS jaccard_ppm
FROM non_adjacent p
JOIN deg du ON p.u = du.node
JOIN deg dw ON p.w = dw.node
ORDER BY jaccard_ppm DESC, u ASC, w ASC
LIMIT {k}
"""
