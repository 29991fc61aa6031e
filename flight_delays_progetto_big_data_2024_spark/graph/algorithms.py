"""Native DataFrame graph algorithms (SURVEY.md §2.8).

The reference delegates to GraphFrames 0.6 (a Scala package + runtime
JAR) for in-degree, PageRank and triangle counting (reference
graphframes_flights.py:34-49, 116-133). Here each is plain DataFrame
algebra — no extra JAR, deterministic, testable against hand-computed
golden graphs:

- degrees: groupBy + count (exactly GraphFrames' inDegrees semantics);
- pagerank: GraphX-style iterate ``rank = reset + (1-reset) * Σ
  rank_u/outdeg_u`` starting from rank=1 (ranks sum ≤ |V|, dangling
  mass is dropped — same as GraphX's static PageRank, which GraphFrames
  wraps with these exact semantics);
- triangle_count: canonicalize to an undirected simple graph, enumerate
  each triangle once via a double self-join with ``u < v < w``, then
  credit all three corners.

Scale posture: pagerank and triangle_count first run one bounded
collect of the projected edge relation (at most 32 ×
``LOCAL_ITER_MAX_VERTICES`` edges + 1). A graph under that cap is
dimension-sized — the reference's ~322-airport route graph, the
25-nation graph here — and runs its loop on the driver. Above it the
distributed loop runs: the per-iteration state of PageRank is one row
per vertex; each iteration is one shuffle (groupBy dst) plus a join
against the out-degree table that AQE broadcasts when it is small.
``localCheckpoint`` truncates the 10-iteration lineage so plan size
stays constant. Triangle enumeration shuffles on edge endpoints;
worst-case cost is bounded by sum-of-squared-degrees — salting/AQE
handles hub skew.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, LongType, StructField, StructType


def _vertices_from_edges(edges: DataFrame, src: str, dst: str) -> DataFrame:
    return (
        edges.select(F.col(src).alias("id"))
        .unionByName(edges.select(F.col(dst).alias("id")))
        .distinct()
    )


def degrees(edges: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """Per-vertex (in_degree, out_degree) over the directed edge set —
    GraphFrames' inDegrees/outDegrees as one aggregation each
    (reference graphframes_flights.py:37-41; SURVEY.md G2)."""
    # the edge relation is referenced three times (in-degree aggregate,
    # out-degree aggregate, vertex derivation) — when it is itself a
    # computed graph (the fact-table join-aggregate behind
    # _nation_edges), an unpersisted lineage replays that upstream per
    # reference; cache it once (caller owns the lifetime —
    # session.release_caches)
    edges = edges.persist()
    in_deg = edges.groupBy(F.col(dst).alias("id")).agg(
        F.count("*").alias("in_degree")
    )
    out_deg = edges.groupBy(F.col(src).alias("id")).agg(
        F.count("*").alias("out_degree")
    )
    verts = _vertices_from_edges(edges, src, dst)
    return (
        verts.join(in_deg, "id", "left")
        .join(out_deg, "id", "left")
        .na.fill(0, ["in_degree", "out_degree"])
    )


#: Size ceiling for the driver-local path. A graph whose edge relation
#: has at most 32 × this many rows (and, for pagerank, at most this
#: many vertices) is dimension-sized: its loop runs on the driver, where
#: 10 distributed supersteps would be pure stage-scheduling floor.
#: Anything larger runs the distributed loop — the fast path must never
#: become the scale path by accident. Read at call time, so the edge cap
#: follows a patched value.
LOCAL_ITER_MAX_VERTICES = 65_536


def _small_graph_rows(projected: DataFrame) -> list | None:
    """The size probe both operators share: ONE bounded collect of the
    projected edge relation. Returns its rows when the graph is under
    the edge cap, else None (the caller runs its distributed loop, which
    re-evaluates the edge derivation — persisting before the probe was
    measured slower on the small path)."""
    max_edges = 32 * LOCAL_ITER_MAX_VERTICES
    rows = projected.limit(max_edges + 1).collect()
    return rows if len(rows) <= max_edges else None


def _sorted_ids(vset: set) -> list:
    # NULL endpoints are vertices too (matching the distributed
    # _vertices_from_edges); sort the real ids for determinism, NULL
    # can't be compared and goes last
    vids = sorted(v for v in vset if v is not None)
    if None in vset:
        vids.append(None)
    return vids


def _local_relation(
    spark, vids: list, values: list, id_type, name: str, value_type
) -> DataFrame:
    """A driver-computed (id, ``name``) result as a 1-partition relation.
    pandas + Arrow, NOT a list of tuples: the tuple path parallelizes
    through pickled Python RDD slices and its coalesce(1) costs seconds
    per collect; the Arrow path is a JVM-side local table (~0.2s).
    coalesce(1) keeps the dimension-sized result in one partition
    instead of defaultParallelism slivers."""
    import pandas as pd

    schema = StructType(
        [StructField("id", id_type), StructField(name, value_type)]
    )
    pdf = pd.DataFrame({"id": vids, name: values})
    return spark.createDataFrame(pdf, schema=schema).coalesce(1)


def _local_pagerank(
    edge_rows: list, vert_ids: list, reset_prob: float, max_iter: int
) -> dict:
    """The identical GraphX-style recurrence executed as a driver-local
    loop: for a dimension-sized graph, 10 distributed supersteps are
    pure stage-scheduling floor (~0.4s each on a 25-vertex graph), while
    this loop is microseconds. Same IEEE-double arithmetic as the
    distributed sum; edge order is fixed (sorted by (dst, src)) so the
    result is run-to-run deterministic, which the shuffled distributed
    sum cannot promise either engine. Parity with the distributed loop
    is pinned by tests/test_graph.py golden tests."""
    ranks = {v: 1.0 for v in vert_ids}
    damp = 1.0 - reset_prob
    ordered = sorted(edge_rows, key=lambda r: (str(r[1]), str(r[0])))
    for _ in range(max_iter):
        mass: dict = {}
        for s, d, w, out_w in ordered:
            if s is None or d is None:
                # NULL endpoints mirror the distributed loop's
                # null-unsafe joins: a NULL src never matches a rank
                # row, a NULL dst's mass never joins back — the NULL
                # vertex exists but holds the reset probability
                continue
            rs = ranks.get(s)
            if rs is None:
                # src outside the caller-supplied vertex set: no rank row
                # exists, so the edge contributes nothing (the inner join
                # against ranks drops it in the distributed loop too)
                continue
            mass[d] = mass.get(d, 0.0) + rs * w / out_w
        ranks = {
            v: reset_prob + damp * mass.get(v, 0.0) for v in vert_ids
        }
    return ranks


def pagerank(
    edges: DataFrame,
    reset_prob: float = 0.15,
    max_iter: int = 10,
    src: str = "src",
    dst: str = "dst",
    vertices: DataFrame | None = None,
    weight_col: str | None = None,
) -> DataFrame:
    """Static PageRank with GraphX/GraphFrames semantics (reference
    graphframes_flights.py:44-46: resetProbability=0.15, maxIter=10).

    Returns (id, pagerank). ``vertices`` (an ``id`` column) defaults to
    src ∪ dst — GraphFrames' ``GraphFrame(v, e)``: a vertex with no
    in-edges holds the reset probability, and an edge whose src is not
    a vertex contributes nothing. Distinct parallel edges are kept as
    distinct contribution channels only if present in ``edges`` — pass
    a deduped edge set for simple-graph semantics.

    A graph under the size ceiling (``LOCAL_ITER_MAX_VERTICES``) runs
    the recurrence on the driver after one bounded collect; a larger one
    runs the distributed loop. Both give the same ranks.
    """
    w = F.col(weight_col) if weight_col else F.lit(1.0)
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"), w.alias("w"))

    erows = _small_graph_rows(e)
    if erows is not None:
        if vertices is not None:
            vrows = (
                vertices.select("id").limit(LOCAL_ITER_MAX_VERTICES + 1).collect()
            )
            vids = [r["id"] for r in vrows]
            id_type = vertices.schema["id"].dataType
        else:
            vids = _sorted_ids({r["src"] for r in erows} | {r["dst"] for r in erows})
            id_type = e.schema["src"].dataType
        if len(vids) <= LOCAL_ITER_MAX_VERTICES:
            # NULL weights match the distributed loop: F.sum skips them
            # in out_deg, and a NULL contrib drops out of the
            # contribution sum — so here a None-weight edge neither
            # accumulates out-weight nor joins the quads. A vertex whose
            # out-edges are ALL None-weight has no out_w entry →
            # dangling, same as the distributed out_w-NULL filter.
            out_w: dict = {}
            for r in erows:
                if r["w"] is None:
                    continue
                out_w[r["src"]] = out_w.get(r["src"], 0.0) + r["w"]
            # zero out-weight == dangling (same rule as contrib_base
            # below): those edges carry no contribution
            quads = [
                (r["src"], r["dst"], r["w"], out_w[r["src"]])
                for r in erows
                if r["w"] is not None and out_w.get(r["src"], 0.0) != 0
            ]
            ranks_map = _local_pagerank(quads, vids, reset_prob, max_iter)
            return _local_relation(
                edges.sparkSession,
                vids,
                [ranks_map[v] for v in vids],
                id_type,
                "pagerank",
                DoubleType(),
            )

    # Persist the edge list: vertices, out-degrees and the contrib base
    # all derive from it, and the caller's edge derivation may be an
    # arbitrarily expensive join pipeline — without persist it would
    # re-execute in every iteration (10× the scan + shuffle cost at
    # 100 TB).
    e = e.persist()
    verts = (
        vertices if vertices is not None else _vertices_from_edges(e, "src", "dst")
    ).select("id")

    # No broadcast hints: out-degree and rank tables are O(|V|) — forcing
    # a broadcast is a scale bug at billions of vertices. AQE converts
    # these joins to broadcast at runtime whenever the side is small.
    # weighted: contribution splits rank by edge weight share instead of
    # 1/out_degree; with no weight_col every edge weighs 1.0 and this is
    # exactly the classic formulation
    out_deg = e.groupBy("src").agg(F.sum("w").alias("out_w"))
    # a vertex whose out-weights sum to 0 cannot split rank by weight
    # share (rank*w/out_w divides by zero — an ANSI-mode abort); treat
    # it as DANGLING, exactly like a vertex with no out-edges: its
    # edges carry no contribution. Unweighted graphs never hit this
    # (every edge weighs 1.0).
    contrib_base = e.join(out_deg, "src").filter(F.col("out_w") != 0)

    verts = verts.persist()
    contrib_base = contrib_base.persist()

    ranks = verts.withColumn("rank", F.lit(1.0))
    for i in range(max_iter):
        contribs = (
            contrib_base.join(ranks, contrib_base["src"] == ranks["id"])
            .select(
                "dst",
                (F.col("rank") * F.col("w") / F.col("out_w")).alias("contrib"),
            )
            .groupBy("dst")
            .agg(F.sum("contrib").alias("mass"))
        )
        ranks = verts.join(contribs, verts["id"] == contribs["dst"], "left").select(
            "id",
            (
                F.lit(reset_prob)
                + F.lit(1.0 - reset_prob) * F.coalesce(F.col("mass"), F.lit(0.0))
            ).alias("rank"),
        )
        if (i + 1) % 3 == 0:
            # truncate lineage so the plan doesn't grow unboundedly; every
            # few iterations balances plan depth vs checkpoint cost
            ranks = ranks.localCheckpoint(eager=False)
    # materialize the final ranks so the loop inputs can be released
    # without ever recomputing the iteration chain
    result = ranks.select("id", F.col("rank").alias("pagerank")).localCheckpoint(
        eager=True
    )
    verts.unpersist()
    contrib_base.unpersist()
    e.unpersist()
    return result


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    vertices: DataFrame | None = None,
    max_iter: int = 25,
) -> DataFrame:
    """(id, component) with ``component`` = minimum vertex id in the
    connected component (undirected reachability; GraphFrames'
    connectedComponents contract). Vertices absent from any edge (pass
    ``vertices`` with an ``id`` column to include them) are their own
    singleton components.

    Default vertex set = every NON-NULL endpoint of the ORIGINAL edge
    list — not of the symmetrized one: the ``u != v`` canonicalization
    drops self-loops and NULL-partner edges, which silently erased a
    vertex whose only edge was a self-loop or half-NULL (it appeared in
    the input yet vanished from the output; pagerank/triangle_count
    keep such endpoints as 0-mass vertices). Those vertices are
    singletons here. NULL itself is NOT a vertex: a NULL label can
    neither give nor receive in the min-propagation (join keys never
    match NULL) and a NULL component id is meaningless — the one
    deliberate divergence from pagerank's NULL-vertex bookkeeping.

    Min-label propagation WITH POINTER JUMPING (round-12; probe/jump
    plumbing reworked round-13): each round every vertex takes the
    minimum of its own label, its neighbors' labels, and — the jump —
    the PREVIOUS round's label of its tentative label
    (``comp(v) ← min(comp(v), prev_comp(comp(v)))``, one extra O(|V|)
    hash join per round against the already-materialized previous
    mapping). Labels only ever decrease and are bounded below by
    the component minimum, and the fixed point (each label equal to its
    neighborhood minimum) is unique — the same component-min
    labeling plain propagation reaches, so output is identical; the
    jump contracts label chains geometrically, turning O(diameter)
    rounds into O(log diameter). Measured r12 on q115's 0.35-cosine
    graph (4,137 edges, long chains): 23 rounds → 6, CC stage 8.3s →
    2.4s at sf0.1; near-dup clusters with tiny diameters converge in
    the same ~3 rounds as before with one cheap extra join. At 100 TB
    the round count is the wall-clock driver (each round is a full
    shuffle barrier), so the log bound is the scale win, exactly the
    two-phase reasoning of the guide's §1.2.

    Converged when a round changes nothing. The convergence probe is a
    metadata-free count on the changed set — no driver-side collection
    of vertex data; lineage truncated via localCheckpoint per round.
    """
    sym = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .filter(F.col("u") != F.col("v"))
        .unionByName(
            edges.select(F.col(dst).alias("u"), F.col(src).alias("v"))
            .filter(F.col("u") != F.col("v"))
        )
        .distinct()
        .persist()
    )
    verts = (
        vertices
        if vertices is not None
        else _vertices_from_edges(edges, src, dst).filter(F.col("id").isNotNull())
    ).select("id").persist()
    labels = verts.withColumn("comp", F.col("id")).localCheckpoint(eager=False)
    for i in range(max_iter):
        nbr_min = (
            sym.join(labels, sym["v"] == labels["id"])
            .groupBy("u")
            .agg(F.min("comp").alias("nbr_comp"))
        )
        step = labels.join(nbr_min, labels["id"] == nbr_min["u"], "left").select(
            "id",
            F.col("comp").alias("__old"),
            F.least(
                F.col("comp"), F.coalesce(F.col("nbr_comp"), F.col("comp"))
            ).alias("comp"),
        )
        # pointer jump: comp(v) ← min(comp(v), prev_comp(comp(v))),
        # resolved against the PREVIOUS round's materialized labels
        # (round-13, r12 advisor): jumping through ``step`` itself fed
        # the un-materialized labels⋈nbr_min join into BOTH sides of
        # the jump join, so the neighbor-min join executed twice per
        # round; the previous mapping is already checkpointed, costs
        # nothing to re-read, and prev_comp(x) ≥ comp(x) keeps the
        # descent monotone with the same unique fixed point (labels
        # only take mins of labels, so chains still contract
        # geometrically — O(log diameter) rounds). Every comp value IS
        # a vertex id (labels start at id and only take mins of ids),
        # so the join resolves; left join + coalesce keeps the row if
        # a comp points at a vertex filtered from the vertex set
        # (possible only with a caller-supplied ``vertices`` narrower
        # than the edge endpoints).
        jump = labels.select(
            F.col("id").alias("__jid"), F.col("comp").alias("__jcomp")
        )
        new_comp = F.least(
            F.col("comp"), F.coalesce(F.col("__jcomp"), F.col("comp"))
        )
        # eager checkpoint every round: the round's shuffle output is
        # O(|V|) and both the convergence probe and the next round read
        # it. The probe rides a __changed flag computed IN the
        # checkpointed pass (round-13): the old probe re-joined
        # new_labels against labels — two more exchanges per round just
        # to ask "did anything move"; the flag turns it into a
        # pushed-filter limit-1 scan of the already-cached partitions.
        new_labels = (
            step.join(jump, step["comp"] == jump["__jid"], "left")
            .select(
                "id",
                new_comp.alias("comp"),
                (new_comp != F.col("__old")).alias("__changed"),
            )
            .localCheckpoint(eager=True)
        )
        changed = new_labels.filter(F.col("__changed")).limit(1).count()
        labels = new_labels.select("id", "comp")
        if changed == 0:
            break
    sym.unpersist()
    verts.unpersist()
    return labels.select("id", F.col("comp").alias("component"))


def undirected_edges(edges: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """Canonical simple undirected edge set: (u, v) with u < v, self-loops
    dropped, duplicates and reverse duplicates collapsed — the
    canonicalization GraphFrames' triangleCount applies internally
    (SURVEY.md §7 risk register)."""
    return (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("u"),
            F.greatest(F.col(src), F.col(dst)).alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def triangle_count(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Per-vertex triangle membership count, GraphFrames semantics
    (reference graphframes_flights.py:48-49): each triangle of the
    canonicalized undirected graph credits all three corners once.

    Enumeration: edges (u<v) joined (v,w) then closed by (u,w); the
    ``u < v < w`` ordering guarantees each triangle appears exactly once.

    A graph under the edge cap (same probe as :func:`pagerank`) runs the
    canonicalization and the enumeration on the driver as O(Σ min(deg))
    set intersections; a larger one runs the distributed self-joins.
    """
    rows = _small_graph_rows(
        edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    )
    if rows is not None:
        vert_set = {r["src"] for r in rows} | {r["dst"] for r in rows}
        # NULL endpoints: least/greatest(NULL, x) = x in the distributed
        # canonicalization, so the edge collapses to a dropped self-pair
        # — but NULL stays a vertex (count 0)
        und_set = set()
        for r in rows:
            a, b = r["src"], r["dst"]
            if a is None or b is None or a == b:
                continue
            und_set.add((a, b) if a < b else (b, a))
        adj: dict = {}
        for a, b in und_set:
            adj.setdefault(a, set()).add(b)  # greater endpoint only
        counts = {v: 0 for v in vert_set}
        empty: set = set()
        for a, b in und_set:
            for c in adj.get(a, empty) & adj.get(b, empty):
                counts[a] += 1
                counts[b] += 1
                counts[c] += 1
        vids = _sorted_ids(vert_set)
        return _local_relation(
            edges.sparkSession,
            vids,
            [counts[v] for v in vids],
            edges.schema[src].dataType,
            "triangle_count",
            LongType(),
        )

    und = undirected_edges(edges, src, dst)
    e1 = und.select(F.col("u").alias("a"), F.col("v").alias("b"))
    e2 = und.select(F.col("u").alias("b2"), F.col("v").alias("c"))
    e3 = und.select(F.col("u").alias("a3"), F.col("v").alias("c3"))
    triangles = (
        e1.join(e2, F.col("b") == F.col("b2"))
        .join(e3, (F.col("a") == F.col("a3")) & (F.col("c") == F.col("c3")))
        .select("a", "b", "c")
    )
    corner_counts = (
        triangles.select(F.explode(F.array("a", "b", "c")).alias("id"))
        .groupBy("id")
        .agg(F.count("*").alias("triangle_count"))
    )
    verts = _vertices_from_edges(edges, src, dst)
    return verts.join(corner_counts, "id", "left").na.fill(0, ["triangle_count"])


def shortest_hops(
    edges: DataFrame,
    source: DataFrame,
    max_hops: int = 6,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Single-source BFS: minimum hop count from ``source`` (a 1-row
    DataFrame with an ``id`` column — kept as a plan, not a collected
    scalar) to every reachable vertex within ``max_hops``.

    Frontier expansion as iterative joins: each round joins the CURRENT
    frontier (not the full distance table) to the edge list, anti-joins
    already-settled vertices, and unions the new layer in. The per-round
    ``isEmpty`` early-exit is a control-plane action on an
    already-shrunk frontier — the standard BFS driver loop; data never
    collects. Frontiers persist for the round they're used and
    distances localCheckpoint so lineage stays O(1) per round rather
    than O(rounds²) at replay.

    Half-NULL edges are dropped: a NULL src can never match a frontier
    anyway, and a NULL dst made the traversal "reach" a phantom NULL
    vertex ((NULL, 1) in the output) — NULL is not a vertex here, the
    connected_components rule.
    """
    e = (
        edges.select(F.col(src).alias("__s"), F.col(dst).alias("__d"))
        .filter(F.col("__s").isNotNull() & F.col("__d").isNotNull())
        .persist()
    )
    dist = source.select(F.col("id"), F.lit(0).alias("hops")).persist()
    frontier = dist.select("id")
    prev_frontier = None  # persisted frontier backing `frontier`
    for h in range(1, max_hops + 1):
        nxt = (
            frontier.join(e, frontier["id"] == e["__s"])
            .select(F.col("__d").alias("id"))
            .distinct()
            .join(dist, "id", "left_anti")
            .withColumn("hops", F.lit(h))
            .persist()
        )
        if nxt.isEmpty():
            nxt.unpersist()
            break
        new_dist = dist.unionByName(nxt).localCheckpoint(eager=True)
        dist.unpersist()
        dist = new_dist
        # the eager checkpoint above fully materialized nxt's cache, so
        # the frontier that produced it is dead — drop it now instead of
        # leaking every round's frontier until function exit
        if prev_frontier is not None:
            prev_frontier.unpersist()
        prev_frontier = nxt
        frontier = nxt.select("id")
    if prev_frontier is not None:
        prev_frontier.unpersist()
    e.unpersist()
    return dist


def cheapest_paths(
    edges: DataFrame,
    source: DataFrame,
    weight_col: str = "w",
    max_legs: int = 4,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Single-source CHEAPEST paths (Bellman-Ford, ``max_legs``
    relaxation rounds): minimum total edge weight from ``source`` (a
    1-row DataFrame with an ``id`` column — a plan, never a collected
    scalar) to every vertex reachable in ≤ ``max_legs`` edges.

    Each round relaxes the full tentative-distance table against the
    edge list (one keyed join + one min-aggregate — two shuffles per
    round, the textbook distributed Bellman-Ford), then localCheckpoints
    so lineage stays O(1) per round. Early exit when a round improves
    nothing. INTEGER weights keep min-plus sums exact, so the result is
    engine-portable bit-for-bit (doubles would make path-sum ties
    association-order dependent).

    Half-NULL edges and NULL weights are dropped (shortest_hops /
    connected_components rule: NULL is not a vertex, and an
    undefined-cost edge cannot relax a path — a vertex reachable only
    through one would otherwise surface with a meaningless NULL
    tentative cost)."""
    e = (
        edges.select(
            F.col(src).alias("__s"),
            F.col(dst).alias("__d"),
            F.col(weight_col).alias("__w"),
        )
        .filter(
            F.col("__s").isNotNull()
            & F.col("__d").isNotNull()
            & F.col("__w").isNotNull()
        )
        .persist()
    )
    dist = source.select(
        F.col("id"), F.lit(0).cast("long").alias("cost")
    ).localCheckpoint(eager=True)
    for _ in range(max_legs):
        relaxed = (
            dist.join(e, dist["id"] == e["__s"])
            .select(F.col("__d").alias("id"), (F.col("cost") + F.col("__w")).alias("cost"))
        )
        new_dist = (
            dist.unionByName(relaxed)
            .groupBy("id")
            .agg(F.min("cost").alias("cost"))
            .localCheckpoint(eager=True)
        )
        # converged? (control-plane scalar on the vertex-sized table):
        # isEmpty() == True means NO row improved this leg
        converged = (
            new_dist.join(dist.withColumnRenamed("cost", "old"), "id", "left")
            .filter(F.col("old").isNull() | (F.col("cost") < F.col("old")))
            .isEmpty()
        )
        dist = new_dist
        if converged:
            break
    e.unpersist()
    return dist
