"""Graph analytics as DataFrame loops: PageRank over the
customer–supplier transaction graph.

The reference has no iterative surface at all (one map→reduce pass,
/root/reference/mapreduce.cc:200); connected components
(operators/dedup.py) and Lloyd's k-means (operators/similarity.py)
established the engine's iterative-algorithm shape — a bounded
DataFrame loop with ``localCheckpoint()`` per round so lineage stays
O(1). PageRank is the third member: the canonical
join→groupBy-per-round algorithm every distributed engine demos.

Scale posture: each round is one join of ranks onto the edge list
(both sides hash-partitioned on the same key, so AQE keeps it a
shuffle join co-partitioned across rounds) plus one aggregation. The
edge list is persisted once and reused by every round. Rank mass sums
are decimal-routed so the result is independent of partitioning —
the repo-wide determinism convention (oracles.py) — which is what
makes the NumPy replica test exact instead of allclose-fuzzy.
"""

from __future__ import annotations

import os
import sys
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.numeric import quantized
from ..session import scoped_conf, scratch_persist
from ..sources.catalog import load_table

DAMPING = 0.85
N_ITERATIONS = 8
# Supplier node ids are offset into a disjoint range from customers.
SUPP_OFFSET = 1_000_000

# Shuffle-partition sizing for the iterative graph loops (r14, guide
# §2.2): rows per shuffle partition, derived from the lineitem footer
# row count (edges ∝ lineitem). The default targets the contract-
# fixture regime — iterative loops over ≤ millions of 24-byte edge/
# rank tuples, where one-partition-per-core stages are pure per-task
# fixed cost (8 iterations × 2 exchanges × 32 tasks of ~20k rows;
# measured interleaved at sf0.1: pagerank 10.5 → 6.7 s at 4
# partitions). Production corpora should raise it toward ~4-8M rows
# (≈100-200 MB with sort overhead); the count scales linearly with
# data either way, independent of core count.
GRAPH_SHUFFLE_ROWS = 150_000


def _lineitem_row_count(sf_dir: str) -> int | None:
    """Driver-side footer-stats probe (no Spark job); None on failure."""
    import pyarrow
    import pyarrow.parquet as pq

    path = os.path.join(sf_dir, "lineitem.parquet")
    try:
        return sum(
            pq.ParquetFile(f).metadata.num_rows
            for f in pq.ParquetDataset(path).files
        )
    except (OSError, KeyError, pyarrow.ArrowInvalid) as exc:
        print(
            f"[graph] footer stats probe failed ({exc!r}); "
            "keeping session shuffle partitioning",
            file=sys.stderr,
        )
        return None


@contextmanager
def graph_build_conf(spark: SparkSession, sf_dir: str):
    """Pin ``spark.sql.shuffle.partitions`` to the data-derived count
    for the duration of an iterative graph loop's plan construction
    (lazy checkpoints compile their RDD at call time, so every
    per-round exchange is planned inside this context), restoring the
    batch value after (``session.scoped_conf``). AQE stays ON
    (its runtime broadcast of the shrinking frontier/rank side is the
    join strategy these loops rely on; AQE-off was tested and rejected
    — sort-merge fallback cost more than the stage-job savings)."""
    rows = _lineitem_row_count(sf_dir)
    confs = {}
    if rows is not None:
        parts = max(2, rows // GRAPH_SHUFFLE_ROWS)
        confs["spark.sql.shuffle.partitions"] = str(parts)
    with scoped_conf(spark, confs):
        yield


def transaction_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct customer↔supplier edges from lineitem⋈orders — the
    bipartite who-bought-from-whom graph. The join shuffles on
    l_orderkey/o_orderkey; distinct() collapses the ~16× lineitem
    fan-in before any graph work."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey"
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .select(
            F.col("o_custkey").cast("long").alias("cust"),
            (F.col("l_suppkey").cast("long") + SUPP_OFFSET).alias("supp"),
        )
        .distinct()
    )


def pagerank(
    edges_sym: DataFrame,
    n_iterations: int = N_ITERATIONS,
    checkpoint_interval: int = 4,
) -> DataFrame:
    """PageRank over a symmetric (src, dst) edge frame: returns
    (node, pagerank). Dangling nodes cannot occur (every node in a
    symmetric edge list has out-degree ≥ 1), so no mass-redistribution
    term is needed and total mass stays 1 up to the damping leak.

    ``checkpoint_interval`` trades lineage depth for job count: rounds
    between checkpoints chain lazily into one job (2 shuffles/round),
    and every k-th round cuts lineage with a ``localCheckpoint()``.
    The per-round fixed cost (job launch + eager materialization)
    dominates at small scale: measured at sf0.1/local[32], interval 4
    runs the 8 rounds ~1.8× faster than interval 2, while interval 8
    (one 8-round-deep plan) gives part of the win back to Catalyst
    analysis cost. r14: the checkpoints are LAZY (``eager=False`` —
    the sssp precedent): the logical plan is truncated identically,
    but the cut's own count pass and its driver barrier disappear —
    the checkpoint blocks populate inside whichever job first computes
    them (measured interleaved at sf0.1: 10.5 → 8.4 s, before the
    partition sizing on top). Values are identical for any interval
    and either eagerness — checkpointing never changes arithmetic —
    so the NumPy replica test stays exact."""
    edges_sym = scratch_persist(edges_sym)
    deg = edges_sym.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
    out_edges = scratch_persist(edges_sym.join(deg, "src"))
    nodes = edges_sym.select(F.col("src").alias("node")).distinct()
    n_nodes = nodes.count()  # bounded driver action: one scalar
    ranks = nodes.select(
        "node", F.lit(1.0 / n_nodes).alias("rank")
    ).localCheckpoint(eager=False)
    for i in range(n_iterations):
        # Contribution sum is made cross-engine EXACT by quantizing
        # each term at the atto scale: floor((rank/outdeg)·1e18) is a
        # pure IEEE-double pipeline (division, multiply by the exactly-
        # representable 1e18, floor) that yields the identical integer
        # in any engine, the integers sum exactly in decimal(38,0)
        # (per-node inflow < 1 ⇒ scaled sum < 1e18, far under both
        # long and decimal(38) range), and sum/1e18 is one correctly-
        # rounded double op. The earlier decimal(38,20) per-element
        # cast was NOT portable: DuckDB's double→decimal conversion
        # differs from the JVM's exact-expansion HALF_UP in the tail
        # digits ~half the time (measured), while floor-in-double is
        # bit-identical. Quantization error ≤1e-18/term stays ~1e-12
        # after 8 rounds — invisible at the round-12 output and far
        # inside the replica test's 1e-9 bound — and buys a DuckDB-
        # expressible twin: pagerank is hash-verified, not rows-only.
        contrib = (
            out_edges.join(ranks, out_edges.src == ranks.node)
            .select(
                F.col("dst").alias("node"),
                quantized(F.col("rank") / F.col("outdeg"), 1e18).alias("c18"),
            )
            .groupBy("node")
            .agg(
                (F.sum("c18").cast("double") / F.lit(1e18)).alias("inflow")
            )
        )
        ranks = contrib.select(
            "node",
            (
                F.lit((1.0 - DAMPING) / n_nodes)
                + F.lit(DAMPING) * F.col("inflow")
            ).alias("rank"),
        )
        if (i + 1) % checkpoint_interval == 0 or i == n_iterations - 1:
            ranks = ranks.localCheckpoint(eager=False)
    return ranks


def q_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank on the transaction graph, 8 fixed rounds; output is
    rounded to 12 decimals per the engine's float-output convention.
    HASH-VERIFIED (r07): the atto-quantized contribution sum (see
    ``pagerank``) makes every round's arithmetic engine-exact, so the
    DuckDB oracle unrolls the 8 damped iterations as CTEs and matches
    bit-for-bit; the exact NumPy power-iteration replica is
    additionally asserted in tests."""
    edges = transaction_edges(spark, sf_dir)
    sym = edges.select(
        F.col("cust").alias("src"), F.col("supp").alias("dst")
    ).union(edges.select(F.col("supp").alias("src"), F.col("cust").alias("dst")))
    # every per-round exchange is planned inside the lazy checkpoints'
    # toRdd, i.e. inside this conf (r14: data-derived partition count)
    with graph_build_conf(spark, sf_dir):
        ranks = pagerank(sym)
    return ranks.select(
        "node", (F.round(F.col("rank"), 12) + 0.0).alias("pagerank")
    )


# --- Triangle counting (round 5) ----------------------------------------


def copurchase_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Undirected part co-purchase graph: an edge (u, v), u < v,
    whenever two parts appear in the same order. The self-join is on
    l_orderkey (equi-join, per-order fan bounded by order size ≤ 7
    lineitems), so edge generation is O(Σ order_size²) ≈ linear in
    lineitem; distinct() collapses repeat co-purchases before any
    graph work. Node and edge counts both scale ∝ sf (orders and parts
    grow together), so average degree stays constant with scale — the
    sparse-graph regime triangle counting is designed for."""
    li = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", F.col("l_partkey").cast("long").alias("p"))
        .distinct()
    )
    a, b = li.alias("a"), li.alias("b")
    return (
        a.join(b, F.col("a.l_orderkey") == F.col("b.l_orderkey"))
        .where(F.col("a.p") < F.col("b.p"))
        .select(F.col("a.p").alias("u"), F.col("b.p").alias("v"))
        .distinct()
    )


def q_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact triangle counting by degree-ordered edge orientation
    (the MapReduce-classic algorithm: Suri & Vassilvitskii 2011,
    "Counting Triangles and the Curse of the Last Reducer", WWW) over
    the part co-purchase graph.

    Each undirected edge is oriented from the endpoint that is LOWER
    in the total order (degree, node) to the higher one. Every
    triangle then has exactly one edge (a→b) whose two endpoints both
    precede the apex, so summing |N⁺(a) ∩ N⁺(b)| over oriented edges
    counts each triangle exactly once (the EDGE-ITERATOR form —
    faster than materializing wedges: the intersect runs within-row
    in codegen, so nothing of wedge cardinality is ever shuffled).
    Orienting by DEGREE (not node id) is the scale move: out-degree
    is bounded by O(sqrt(m)) regardless of skew, so every adjacency
    array and every per-edge intersect is O(√m) — total O(m^1.5)
    work instead of O(Σ deg²), which is what survives a power-law
    degree distribution at 100 TB (the curse-of-the-last-reducer
    fix). All joins are equi-joins on node keys; the count is exact
    integer arithmetic, hence driver-hash-verified (the oracle
    orients by node id — orientation never changes the count).

    Reference parity: the reference's single-pass aggregate
    (/root/reference/mapreduce.cc:200) has no multi-round join surface;
    this extends the engine's graph family (pagerank, connected
    components) with the canonical non-iterative graph aggregate."""
    edges = scratch_persist(copurchase_edges(spark, sf_dir))
    n_nodes, n_edges, n_tri = _edge_iterator_counts(
        edges, big_graph=_is_big_graph(sf_dir)
    )
    return n_nodes.crossJoin(n_edges).crossJoin(n_tri)


# Above ~1.5M lineitem rows (≈3M co-purchase edges) the adjacency
# table outgrows Spark's broadcast threshold and the close falls to a
# sort-merge join; below it, broadcast is the fast path and must not
# be suppressed.
_BIG_GRAPH_LINEITEM_ROWS = 1_500_000


def _is_big_graph(sf_dir: str, sample_denom: int = 1) -> bool:
    """Driver-side stats probe (parquet footer row count — no Spark
    job): decides the close-join strategy the way a cost-based
    optimizer would, from table stats. Lineitem rows ∝ co-purchase
    edges (×2 measured at every sf).

    ``sample_denom`` scales the threshold for sparsified callers:
    the DOULION estimator keeps only ~1/denom of the
    edges (TRI_SAMPLE_DENOM = 4 ⇒ a 4×-sparser edge set; the 1/p³ =
    64 factor is the triangle-count rescale, not the edge ratio), so
    its adjacency table crosses the broadcast limit denom× later —
    deciding from the UNSAMPLED count would suppress the broadcast
    fast path on a graph denom× smaller than the cliff.

    A failed probe falls back to the default planner path, LOUDLY
    (stderr note from _lineitem_row_count): silence here would
    re-open the 12×-at-3×-data sort-spill cliff the sf3 tier caught,
    so no bare except."""
    rows = _lineitem_row_count(sf_dir)
    if rows is None:
        return False
    return rows > _BIG_GRAPH_LINEITEM_ROWS * sample_denom


def _edge_iterator_counts(edges: DataFrame, big_graph: bool = False):
    """The degree-oriented edge-iterator kernel over an undirected
    (u, v), u < v edge frame: returns (n_nodes, n_edges, n_triangles)
    1-row DataFrames. Shared by the exact count and the DOULION
    sampled estimator (identical plan, sparsified input).

    ``big_graph`` switches the two adjacency joins to SHUFFLE_HASH —
    see the inline note at the close; derived from footer stats by the
    callers, never hardcoded per sf."""
    sym = edges.union(edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
    deg = sym.groupBy("u").agg(F.count(F.lit(1)).alias("deg"))
    # Orientation key: lexicographic (deg, node). Attach each endpoint's
    # key, then orient low → high.
    du = deg.select(F.col("u").alias("ku"), F.col("deg").alias("deg_u"))
    dv = deg.select(F.col("u").alias("kv"), F.col("deg").alias("deg_v"))
    keyed = (
        edges.join(du, edges.u == du.ku)
        .join(dv, edges.v == dv.kv)
        .select(
            "u",
            "v",
            F.struct(F.col("deg_u").alias("d"), F.col("u").alias("n")).alias(
                "key_u"
            ),
            F.struct(F.col("deg_v").alias("d"), F.col("v").alias("n")).alias(
                "key_v"
            ),
        )
    )
    oriented = scratch_persist(keyed.select(
        F.when(F.col("key_u") < F.col("key_v"), F.col("u"))
        .otherwise(F.col("v"))
        .alias("src"),
        F.when(F.col("key_u") < F.col("key_v"), F.col("v"))
        .otherwise(F.col("u"))
        .alias("dst"),
    ))
    # EDGE-ITERATOR close (replaces the r05 wedge join): each triangle
    # {a→b, a→c, b→c} is counted exactly once at its (a, b) edge as
    # |N⁺(a) ∩ N⁺(b)|. Degree orientation bounds every out-adjacency
    # array at O(√m), so the per-edge intersect is O(√m) work inside
    # codegen and NOTHING wedge-shaped is ever materialized or
    # shuffled — on this dense co-purchase graph (avg degree ~120 at
    # sf0.1) the wedge table was ~70M rows vs 1.2M edges; the
    # edge-iterator form measured 3×+ faster with the identical count
    # and scales with Σ_edges (deg⁺_u + deg⁺_v), not Σ_nodes deg⁺².
    # The two adjacency joins are node-key equi-joins (AQE broadcasts
    # the O(nodes·√m) adjacency table while it fits).
    adj = oriented.groupBy("src").agg(
        F.sort_array(F.collect_list("dst")).alias("nbrs")
    )
    # SHUFFLE_HASH on the adjacency sides for BIG graphs (r09, found
    # by the sf1→sf3 spot tier): the default sort-merge join SORTS
    # the stream side — and after the first join every streamed row
    # carries an O(√m) neighbor array, so the second join's sort
    # churns array-payload rows through the external sorter (12× wall
    # for 3× data on an 8g heap). A shuffled hash join builds on the
    # O(nodes) adjacency side and STREAMS the edge rows unsorted:
    # identical output, same linear exchange volume, no array sort.
    # Measured sf1 close 13.5→8.5 s, sf3 50.9→32.5 s (3.8× for 3×
    # data, counts equal); full query sf3 99.9→24.8 s. Small graphs
    # keep the planner's choice — there AQE broadcasts the adjacency
    # (the hint would SUPPRESS broadcast: forcing it cost 4× at
    # sf0.01), hence the stats-driven big_graph switch.
    au = adj.select(F.col("src").alias("u_"), F.col("nbrs").alias("nu"))
    av = adj.select(F.col("src").alias("v_"), F.col("nbrs").alias("nv"))
    if big_graph:
        au, av = au.hint("SHUFFLE_HASH"), av.hint("SHUFFLE_HASH")
    closed = (
        oriented.join(au, F.col("src") == F.col("u_"))
        .join(av, F.col("dst") == F.col("v_"), "left")
        .select(
            F.size(
                F.array_intersect(
                    "nu", F.coalesce("nv", F.array().cast("array<long>"))
                )
            ).alias("c")
        )
    )
    n_nodes = deg.agg(F.count(F.lit(1)).alias("n_nodes"))
    n_edges = edges.agg(F.count(F.lit(1)).alias("n_edges"))
    n_tri = closed.agg(
        F.coalesce(F.sum("c"), F.lit(0)).cast("long").alias("n_triangles")
    )
    return n_nodes, n_edges, n_tri


TRI_SAMPLE_DENOM = 4  # DOULION keep probability p = 1/4


def q_triangle_count_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DOULION sampled triangle estimate (Tsourakakis, Kang, Miller,
    Faloutsos 2009, KDD: "DOULION: counting triangles in massive
    graphs with a coin") — the approximation path the exact
    edge-iterator count needs at real scale: triangle work is
    inherently O(m^1.5)-superlinear in DATA (the r07 verdict's worst
    honest tail at 9.9× for 10× data), and DOULION cuts it by p^1.5
    while the estimate count/p³ stays unbiased with tight
    concentration on graphs with many triangles.

    DERANDOMIZED so the row is hash-verifiable: instead of a coin,
    keep edge (u, v) iff the md5-derived integer of "u:v" is ≡ 0 mod
    4 (p = 1/4 — the training_shards/deterministic_sample md5-int
    convention), a pure function of the edge, identical in both
    engines, independent of the triangle structure (md5 of the pair
    key is uncorrelated with closure). The sampled subgraph then runs
    the IDENTICAL degree-oriented edge-iterator kernel as
    q_triangle_count, and the estimate 64·count (1/p³ = 64) is exact
    integer arithmetic — bit-replayable by the DuckDB oracle, unlike
    any rand()-seeded sampler. Sampling is map-side on the edge
    stream: the kernel's joins/aggregates see ~p·m edges, so the
    O(m^1.5) term drops 8× at p=1/4 (and p shrinks as m grows in
    production).

    Accuracy on this graph is pinned in tests (estimate within 2× of
    exact at the smoke fixture; the DOULION paper's bound is far
    tighter at real edge counts — the pin is deliberately loose
    because small graphs are the estimator's worst case)."""
    edges = copurchase_edges(spark, sf_dir)
    h = F.conv(
        F.substring(
            F.md5(
                F.concat_ws(":", F.col("u").cast("string"), F.col("v").cast("string"))
            ),
            1,
            6,
        ),
        16,
        10,
    ).cast("long")
    sampled = scratch_persist(edges.where(h % TRI_SAMPLE_DENOM == 0))
    n_nodes, n_edges, n_tri = _edge_iterator_counts(
        sampled, big_graph=_is_big_graph(sf_dir, sample_denom=TRI_SAMPLE_DENOM)
    )
    scale = TRI_SAMPLE_DENOM ** 3
    return (
        n_nodes.crossJoin(n_edges)
        .crossJoin(n_tri)
        .select(
            F.col("n_edges").alias("n_edges_sampled"),
            F.col("n_triangles").alias("n_triangles_sampled"),
            (F.col("n_triangles") * F.lit(scale))
            .cast("long")
            .alias("est_triangles"),
        )
    )


# --- BFS reachability (round 6) -----------------------------------------

BFS_MAX_HOPS = 4
BFS_SOURCE_MOD = 100  # customer nodes divisible by this are sources


def bfs_hops(
    edges_sym: DataFrame, sources: DataFrame, max_hops: int = BFS_MAX_HOPS
) -> DataFrame:
    """Multi-source BFS over a symmetric (src, dst) edge frame:
    returns (node, hop) with hop = MINIMUM edge distance to any
    source, bounded by ``max_hops``. Frontier-at-a-time BFS yields
    min-hop by construction (a node is claimed by the first frontier
    that reaches it and anti-joined away from all later ones), so the
    result is exactly SQL's hop-limited shortest reachability — which
    is why this iterative loop can be HASH-verified against a
    recursive-CTE oracle, unlike float-accumulating pagerank.

    Scale shape: each round is one frontier⋈edges hash join (both
    sides keyed on node id — AQE keeps the small frontier side
    broadcast when it shrinks) plus one anti-join against the visited
    set; a LAZY ``localCheckpoint(eager=False)`` per round keeps
    lineage O(1) — ``nxt`` is referenced twice (visited union + next
    frontier join), and the lazy cut makes it compute once inside
    whichever job first touches it WITHOUT a per-hop driver barrier
    (r14; the sssp precedent — measured interleaved at sf0.1:
    3.8 → 2.9 s, 38 → 29 jobs). The old per-hop ``isEmpty()``
    early-exit went with the barriers: the hop budget is a small
    constant, an empty frontier makes every later round a no-op over
    empty checkpointed frames (near-zero stages inside the same job),
    and the result is identical either way. Frontier and visited
    frames are node-id wide, never edge-sized."""
    edges_sym = scratch_persist(edges_sym)
    frontier = sources.select("node").distinct().withColumn(
        "hop", F.lit(0).cast("long")
    ).localCheckpoint(eager=False)
    visited = frontier
    for h in range(1, max_hops + 1):
        nxt = (
            frontier.join(
                edges_sym, frontier.node == edges_sym.src
            )
            .select(F.col("dst").alias("node"))
            .distinct()
            .join(visited.select("node"), "node", "left_anti")
            .withColumn("hop", F.lit(h).cast("long"))
            .localCheckpoint(eager=False)
        )
        visited = visited.unionByName(nxt)
        frontier = nxt
    return visited


def q_bfs_reach(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contract query: hop-limited multi-source BFS on the symmetric
    customer–supplier transaction graph, sources = customer nodes
    whose id is divisible by BFS_SOURCE_MOD. Hash-verified against a
    DuckDB recursive CTE (UNION-dedup frontier, MIN(hop) rollup)."""
    edges = transaction_edges(spark, sf_dir)
    sym = edges.select(
        F.col("cust").alias("src"), F.col("supp").alias("dst")
    ).union(edges.select(F.col("supp").alias("src"), F.col("cust").alias("dst")))
    sources = (
        edges.select(F.col("cust").alias("node"))
        .where(F.col("node") % BFS_SOURCE_MOD == 0)
        .distinct()
    )
    with graph_build_conf(spark, sf_dir):  # r14: see q_pagerank
        visited = bfs_hops(sym, sources)
    return visited.orderBy("node")


SSSP_ROUNDS = 4  # bounded Bellman-Ford relaxation rounds


def weighted_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(cust, supp, w) weighted customer↔supplier edges: w = the
    minimum l_quantity across the lineitems connecting the pair —
    an exact BIGINT, so every relaxed path length is exact integer
    arithmetic (no float-sum convention needed). One shuffle on the
    orderkey join + one aggregation on the (cust, supp) pair."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_quantity"
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey"
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy(
            F.col("o_custkey").cast("long").alias("cust"),
            (F.col("l_suppkey").cast("long") + SUPP_OFFSET).alias("supp"),
        )
        .agg(F.min("l_quantity").cast("long").alias("w"))
    )


def q_sssp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded single-source shortest paths (Bellman-Ford, SSSP_ROUNDS
    relaxation rounds) over the weighted customer–supplier graph:
    returns (node, dist) for every node reached within the horizon,
    source = the minimum customer node present in the graph (derived
    IN-PLAN via a 1-row aggregate — no driver collect, the query
    builds without executing anything).

    The round structure is the engine's iterative-DataFrame shape
    (pagerank / bfs_reach / Lloyd's): each round joins the current
    distance frontier onto the edge list (both sides hash-partitioned
    on the node key) and min-aggregates — 2 shuffles per round,
    distances stay exact BIGINTs so the result is partitioning- and
    engine-independent with no quantization convention needed. A
    bounded horizon is the production form at 100 TB scale (full
    convergence on a high-diameter graph is unbounded rounds; bounded
    relaxation is what feeds "within k hops/cost" features), and it is
    what makes the DuckDB oracle an exact unrolled-CTE twin rather
    than a fixpoint. localCheckpoint keeps lineage O(1) per round as
    in pagerank."""
    ew = weighted_edges(spark, sf_dir)
    sym = scratch_persist(ew.select(
        F.col("cust").alias("src"), F.col("supp").alias("dst"), "w"
    ).unionAll(
        ew.select(F.col("supp").alias("src"), F.col("cust").alias("dst"), "w")
    ))

    source = ew.agg(F.min("cust").alias("node")).select(
        "node", F.lit(0).cast("long").alias("dist")
    )
    dist = source
    with graph_build_conf(spark, sf_dir):  # r14: see q_pagerank
        for k in range(SSSP_ROUNDS):
            relaxed = (
                dist.join(sym, dist.node == sym.src)
                .select(
                    F.col("dst").alias("node"),
                    (F.col("dist") + F.col("w")).alias("dist"),
                )
            )
            dist = (
                dist.unionAll(relaxed)
                .groupBy("node")
                .agg(F.min("dist").alias("dist"))
                # per-round lazy checkpoint: dist is referenced TWICE
                # next round (carry-over union + relaxation join), so
                # without a cut the plan tree doubles per round
                # (2^rounds recompute; measured 9.9 s vs 4.5 s warm at
                # sf0.1 for every-round checkpointing — denser cadence
                # than pagerank's because of the double reference)
                .localCheckpoint(eager=False)
            )
    return dist.orderBy("node")
