"""Graph queries over the nation-pair edge set (the analog of the
reference's airport/state route graphs, reference
graphframes_flights.py).

PageRank is iterative, but with a FIXED iteration count it is still
SQL-expressible: the oracle SQL below unrolls the 10 iterations into
chained CTEs, so even PageRank gets a full value-hash check rather than
a rows-only one. Triangle counting is plain joins on both engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flight_delays_progetto_big_data_2024_spark.graph.algorithms import (
    degrees,
    pagerank,
    triangle_count,
)
from flight_delays_progetto_big_data_2024_spark.plans.analog import (
    _NATION_EDGES_SQL as _EDGES_SQL,
)
from flight_delays_progetto_big_data_2024_spark.plans.analog import (
    _NATION_PAIR_SQL,
)
from flight_delays_progetto_big_data_2024_spark.plans.analog import (
    _nation_edges,
)
from flight_delays_progetto_big_data_2024_spark.plans.registry import register
from flight_delays_progetto_big_data_2024_spark.sources.readers import Catalog

RESET_PROB = 0.15
MAX_ITER = 10


def _pagerank_unrolled_sql(iters: int = MAX_ITER, reset: float = RESET_PROB) -> str:
    damp = 1.0 - reset
    parts = [
        f"WITH edges AS ({_EDGES_SQL}),",
        "verts AS (SELECT src AS id FROM edges UNION SELECT dst FROM edges),",
        "outdeg AS (SELECT src, count(*) AS od FROM edges GROUP BY src),",
        "r0 AS (SELECT id, 1.0 AS rank FROM verts)",
    ]
    for i in range(1, iters + 1):
        parts.append(
            f""", r{i} AS (
                SELECT v.id, {reset} + {damp} * coalesce(m.mass, 0) AS rank
                FROM verts v LEFT JOIN (
                    SELECT e.dst AS id, sum(r.rank / o.od) AS mass
                    FROM edges e
                    JOIN r{i - 1} r ON e.src = r.id
                    JOIN outdeg o ON e.src = o.src
                    GROUP BY e.dst
                ) m ON v.id = m.id
            )"""
        )
    parts.append(
        f" SELECT id AS nation, round(rank, 6) AS pagerank FROM r{iters}"
        " ORDER BY pagerank DESC, nation"
    )
    return "\n".join(parts)


@register("q20_nation_pagerank", sql=_pagerank_unrolled_sql())
def q20_nation_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank (reset=0.15, 10 iters — reference
    graphframes_flights.py:44,131); GraphX/GraphFrames static semantics.
    The 25-vertex graph is under pagerank's size ceiling, so the loop
    runs on the driver after one bounded collect of the fact-scale edge
    derivation."""
    cat = Catalog(spark, sf_dir)
    ranks = pagerank(_nation_edges(cat), RESET_PROB, MAX_ITER)
    return (
        ranks.select(
            F.col("id").alias("nation"), F.round("pagerank", 6).alias("pagerank")
        )
        .orderBy(F.desc("pagerank"), "nation")
    )


@register(
    "q21_nation_triangle_count",
    sql=f"""
    WITH edges AS ({_EDGES_SQL}),
    und AS (
        SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
        FROM edges WHERE src <> dst
    ),
    tri AS (
        SELECT e1.u AS a, e1.v AS b, e2.v AS c
        FROM und e1
        JOIN und e2 ON e1.v = e2.u
        JOIN und e3 ON e3.u = e1.u AND e3.v = e2.v
    ),
    corners AS (
        SELECT x AS id, count(*) AS triangle_count FROM (
            SELECT a AS x FROM tri
            UNION ALL SELECT b AS x FROM tri
            UNION ALL SELECT c AS x FROM tri
        ) GROUP BY x
    ),
    verts AS (SELECT src AS id FROM edges UNION SELECT dst FROM edges)
    SELECT v.id AS nation, coalesce(c.triangle_count, 0) AS triangle_count
    FROM verts v LEFT JOIN corners c ON v.id = c.id
    ORDER BY nation
    """,
)
def q21_nation_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vertex triangle counts on the canonicalized undirected graph
    (reference graphframes_flights.py:48-49; GraphFrames semantics).
    Same size rule as q20: the fact-scale edge derivation runs
    distributed once (a single bounded collect); the u<v<w enumeration
    runs on the driver."""
    cat = Catalog(spark, sf_dir)
    counts = triangle_count(_nation_edges(cat))
    return counts.select(F.col("id").alias("nation"), "triangle_count").orderBy(
        "nation"
    )


@register(
    "q22_nation_degrees",
    sql=f"""
    WITH edges AS ({_EDGES_SQL}),
    verts AS (SELECT src AS id FROM edges UNION SELECT dst FROM edges),
    ind AS (SELECT dst AS id, count(*) AS in_degree FROM edges GROUP BY dst),
    outd AS (SELECT src AS id, count(*) AS out_degree FROM edges GROUP BY src)
    SELECT v.id AS nation,
           coalesce(ind.in_degree, 0) AS in_degree,
           coalesce(outd.out_degree, 0) AS out_degree
    FROM verts v
    LEFT JOIN ind ON v.id = ind.id
    LEFT JOIN outd ON v.id = outd.id
    ORDER BY nation
    """,
)
def q22_nation_degrees(spark: SparkSession, sf_dir: str) -> DataFrame:
    """In/out degree per vertex — GraphFrames' inDegrees/outDegrees as
    plain aggregations (reference graphframes_flights.py:37-41, 119-123;
    SURVEY.md G2)."""
    cat = Catalog(spark, sf_dir)
    deg = degrees(_nation_edges(cat))
    return deg.select(
        F.col("id").alias("nation"), "in_degree", "out_degree"
    ).orderBy("nation")


@register(
    "q88_nation_shortest_hops",
    sql=f"""
    WITH RECURSIVE edges AS ({_EDGES_SQL}),
    s0 AS (SELECT min(src) AS sid FROM edges),
    walk(id, hops) AS (
        SELECT sid, 0 FROM s0
        UNION
        SELECT e.dst, w.hops + 1
        FROM walk w JOIN edges e ON e.src = w.id
        WHERE w.hops < 6
    )
    SELECT id, CAST(min(hops) AS INTEGER) AS hops
    FROM walk GROUP BY id ORDER BY hops, id
    """,
)
def q88_nation_shortest_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-source BFS over the nation trade graph (source = lexically
    first nation, chosen IN-PLAN via a 1-row aggregate — no collected
    scalar): minimum hops to every reachable nation within 6. The
    oracle is a recursive CTE; the Spark side is the frontier-join loop
    (graph.algorithms.shortest_hops)."""
    from flight_delays_progetto_big_data_2024_spark.graph.algorithms import (
        shortest_hops,
    )

    cat = Catalog(spark, sf_dir)
    edges = _nation_edges(cat)
    source = edges.agg(F.min("src").alias("id"))
    dist = shortest_hops(edges, source, max_hops=6)
    return dist.select("id", F.col("hops").cast("int").alias("hops")).orderBy(
        "hops", "id"
    )


@register(
    "q89_salted_priority_volumes",
    sql="""
    SELECT o.o_orderpriority AS priority,
           count(*) AS num_items,
           round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    GROUP BY priority ORDER BY priority
    """,
)
def q89_salted_priority_volumes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The skew-mitigation join in the graded path: lineitem ⋈ orders
    via operators.skew.salted_join (deterministic partition-id salt on
    the big side, 8x replicated small side) — byte-identical results to
    the plain join the oracle states, but a hot orderkey spreads over 8
    reducers instead of melting one task. The aggregate after it is an
    ordinary map-combined rollup."""
    from flight_delays_progetto_big_data_2024_spark.operators.skew import (
        salted_join,
    )

    cat = Catalog(spark, sf_dir)
    joined = salted_join(
        cat.lineitem.select(
            F.col("l_orderkey").alias("k"), "l_extendedprice", "l_discount"
        ),
        cat.orders.select(
            F.col("o_orderkey").alias("k"), "o_orderpriority"
        ),
        on=["k"],
        n_salt=8,
    )
    return (
        joined.groupBy(F.col("o_orderpriority").alias("priority"))
        .agg(
            F.count(F.lit(1)).alias("num_items"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
        )
        .orderBy("priority")
    )


def _weighted_pagerank_sql(iters: int = MAX_ITER, reset: float = RESET_PROB) -> str:
    damp = 1.0 - reset
    parts = [
        f"""WITH edges AS (
            SELECT supp_nation AS src, cust_nation AS dst,
                   sum(l_quantity) AS w
            FROM ({_NATION_PAIR_SQL})
            GROUP BY src, dst
        ),""",
        "verts AS (SELECT src AS id FROM edges UNION SELECT dst FROM edges),",
        "outw AS (SELECT src, sum(w) AS ow FROM edges GROUP BY src),",
        "r0 AS (SELECT id, 1.0 AS rank FROM verts)",
    ]
    for i in range(1, iters + 1):
        parts.append(
            f""", r{i} AS (
                SELECT v.id, {reset} + {damp} * coalesce(m.mass, 0) AS rank
                FROM verts v LEFT JOIN (
                    SELECT e.dst AS id, sum(r.rank * e.w / o.ow) AS mass
                    FROM edges e
                    JOIN r{i - 1} r ON e.src = r.id
                    JOIN outw o ON e.src = o.src
                    GROUP BY e.dst
                ) m ON v.id = m.id
            )"""
        )
    parts.append(
        f" SELECT id AS nation, round(rank, 6) AS pagerank FROM r{iters}"
        " ORDER BY pagerank DESC, nation"
    )
    return "\n".join(parts)


@register("q105_weighted_nation_pagerank", sql=_weighted_pagerank_sql())
def q105_weighted_nation_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trade-volume-weighted PageRank: each nation's rank mass splits
    across outgoing edges proportionally to shipped QUANTITY, not
    uniformly (the weighted generalization GraphFrames exposes via
    edge-weight columns). Same iterative loop as q20 with weight_col
    set; the oracle unrolls all 10 weighted iterations."""
    from flight_delays_progetto_big_data_2024_spark.plans.analog import (
        _nation_pair_lineitems,
    )

    cat = Catalog(spark, sf_dir)
    edges = (
        _nation_pair_lineitems(cat)
        .groupBy(
            F.col("supp_nation").alias("src"), F.col("cust_nation").alias("dst")
        )
        .agg(F.sum("l_quantity").alias("w"))
    )
    ranks = pagerank(edges, RESET_PROB, MAX_ITER, weight_col="w")
    return (
        ranks.select(
            F.col("id").alias("nation"), F.round("pagerank", 6).alias("pagerank")
        )
        .orderBy(F.desc("pagerank"), "nation")
    )


@register(
    "q149_nation_cheapest_routes",
    sql=f"""
    WITH RECURSIVE wedges AS (
        SELECT supp_nation AS src, cust_nation AS dst, count(*) AS w
        FROM ({_NATION_PAIR_SQL}) GROUP BY src, dst
    ),
    s0 AS (SELECT min(src) AS sid FROM wedges),
    walk(id, cost, legs) AS (
        SELECT sid, 0::BIGINT, 0 FROM s0
        UNION
        SELECT e.dst, w.cost + e.w, w.legs + 1
        FROM walk w JOIN wedges e ON e.src = w.id
        WHERE w.legs < 4
    )
    SELECT id AS nation, min(cost)::BIGINT AS min_cost
    FROM walk GROUP BY id ORDER BY min_cost, nation
    """,
)
def q149_nation_cheapest_routes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-source weighted shortest paths over the nation trade graph
    (edge weight = shipment count, source = lexically first nation kept
    in-plan): Bellman-Ford with 4 relaxation rounds
    (graph.algorithms.cheapest_paths — two keyed shuffles per round,
    lineage checkpointed). The oracle enumerates every ≤4-leg walk in a
    recursive CTE and takes the min — tractable only at oracle scale,
    which is the point of having the relaxation loop. Integer weights
    make the min-plus algebra exact on both engines."""
    from flight_delays_progetto_big_data_2024_spark.graph.algorithms import (
        cheapest_paths,
    )
    from flight_delays_progetto_big_data_2024_spark.plans.analog import (
        _nation_pair_lineitems,
    )

    cat = Catalog(spark, sf_dir)
    wedges = (
        _nation_pair_lineitems(cat)
        .groupBy(
            F.col("supp_nation").alias("src"), F.col("cust_nation").alias("dst")
        )
        .agg(F.count(F.lit(1)).alias("w"))
    )
    source = wedges.agg(F.min("src").alias("id"))
    return (
        cheapest_paths(wedges, source, weight_col="w", max_legs=4)
        .select(F.col("id").alias("nation"), F.col("cost").alias("min_cost"))
        .orderBy("min_cost", "nation")
    )


@register(
    "q155_graph_health_metrics",
    sql=f"""
    WITH w AS (
        SELECT supp_nation AS src, cust_nation AS dst, count(*) AS c
        FROM ({_NATION_PAIR_SQL}) GROUP BY src, dst
    ),
    m AS (SELECT avg(c) AS mc FROM w),
    edges AS (SELECT src, dst FROM w, m WHERE c > mc * 1.2),
    recip AS (
        SELECT count(*) AS n_edges,
               sum(CASE WHEN EXISTS (
                   SELECT 1 FROM edges r
                   WHERE r.src = e.dst AND r.dst = e.src
               ) THEN 1 ELSE 0 END) AS n_reciprocal
        FROM edges e
    ),
    deg AS (
        SELECT id, count(*) AS d FROM (
            SELECT src AS id FROM edges UNION ALL SELECT dst FROM edges
        ) GROUP BY id
    ),
    pairs AS (
        SELECT ds.d AS d_src, dd.d AS d_dst
        FROM edges e
        JOIN deg ds ON ds.id = e.src
        JOIN deg dd ON dd.id = e.dst
    )
    SELECT r.n_edges,
           r.n_reciprocal::BIGINT AS n_reciprocal,
           round(r.n_reciprocal::DOUBLE / r.n_edges, 6) AS reciprocity,
           round((SELECT corr(d_src, d_dst) FROM pairs), 6) AS assortativity
    FROM recip r
    """,
)
def q155_graph_health_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graph-health diagnostics for the ABOVE-AVERAGE-volume trade
    graph (the complete all-pairs graph is degenerate for these
    metrics — reciprocity 1, zero degree variance; thresholding at
    1.2x the mean edge volume keeps ~1/3 of edges at every SF): edge
    reciprocity (fraction of directed edges whose reverse also exists —
    a self-join on the swapped key, NOT an EXISTS per row at scale) and
    degree assortativity (Pearson correlation of total degrees across
    edge endpoints — two broadcast degree decorates + one corr
    aggregate). Both are single-pass over the edge list; the oracle
    states the quadratic EXISTS form DuckDB can afford."""
    from flight_delays_progetto_big_data_2024_spark.plans.analog import (
        _nation_pair_lineitems,
    )

    cat = Catalog(spark, sf_dir)
    w = _nation_pair_lineitems(cat).groupBy(
        F.col("supp_nation").alias("src"), F.col("cust_nation").alias("dst")
    ).agg(F.count(F.lit(1)).alias("c"))
    mc = w.agg(F.avg("c").alias("mc"))
    edges = (
        w.crossJoin(F.broadcast(mc))
        .filter(F.col("c") > F.col("mc") * 1.2)
        .select("src", "dst")
        .persist()
    )
    rev = edges.select(
        F.col("dst").alias("src"), F.col("src").alias("dst"), F.lit(1).alias("__r")
    )
    recip = (
        edges.join(rev, ["src", "dst"], "left")
        .agg(
            F.count(F.lit(1)).alias("n_edges"),
            F.sum(F.when(F.col("__r").isNotNull(), 1).otherwise(0)).alias(
                "n_reciprocal"
            ),
        )
    )
    deg = (
        edges.select(F.col("src").alias("id"))
        .unionAll(edges.select(F.col("dst").alias("id")))
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    pairs = (
        edges.join(
            F.broadcast(deg.select(F.col("id").alias("src"), F.col("d").alias("d_src"))),
            "src",
        )
        .join(
            F.broadcast(deg.select(F.col("id").alias("dst"), F.col("d").alias("d_dst"))),
            "dst",
        )
    )
    assort = pairs.agg(F.round(F.corr("d_src", "d_dst"), 6).alias("assortativity"))
    return recip.crossJoin(F.broadcast(assort)).select(
        "n_edges",
        "n_reciprocal",
        F.round(F.col("n_reciprocal") / F.col("n_edges"), 6).alias("reciprocity"),
        "assortativity",
    )
