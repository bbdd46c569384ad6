"""Connected components → near-duplicate cluster assignment.

LSH/Jaccard dedup produces *pairs*; curation needs *clusters* (keep one
doc per component, drop the rest).  Pair→cluster is connected
components, an inherently iterative computation Spark has no built-in
for (GraphFrames is an external package), so this implements min-label
propagation as a DataFrame loop:

    label(v) ← min(label(v), min over neighbors label(u))   until fixpoint

Each round is one join + one groupBy on the edge list — both
partitioned by the same key, so AQE reuses the exchange — and
``localCheckpoint`` truncates the growing lineage (the classic
iterative-Spark trap: without it, round N replays rounds 1..N-1).
Rounds needed = graph diameter.  Near-dup components are star/clique
shaped (diameter ≤ ~4 even at 100 TB — dups of a doc are dups of each
other), so label propagation beats the O(log n)-round star-contraction
algorithms (Kiveris et al., "Connected Components in MapReduce", SoCC
'14) on constant factors here; swap in star-contraction only if you
feed this adversarial long-path graphs.

The driver-side loop is control flow only (per-round scalar
convergence count); all data movement is distributed.

Reference: no graph/clustering operator exists in Ksql.Linq (its dedup
story is key-equality upsert only) — superset per the build brief.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _fetch_if_small(frame: DataFrame, gate: int):
    """``frame`` as a driver-side Arrow table if it has at most ``gate``
    rows, else None (always None when ``gate`` is 0).

    One upstream execution decides the regime AND fetches the rows:
    collect gate+1 rows — if the limit is hit, the caller falls through
    to its distributed regime (a count() probe would run the whole
    upstream pair-mining pipeline a second time).  The Arrow fetch (not
    collect) keeps the rows columnar: 1M id pairs is ~16 MB of Arrow
    buffers vs hundreds of MB of boxed Row objects, and it does not
    depend on the session's arrow.pyspark.enabled conf."""
    if not gate:
        return None
    tbl = frame.limit(gate + 1).toArrow()
    return tbl if tbl.num_rows <= gate else None


def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_rounds: int = 30,
    driver_max_edges: int = 1_000_000,
) -> DataFrame:
    """(node, component) for every node in ``edges``; component id =
    min node id in the component.  Raises if not converged within
    ``max_rounds`` (diameter bound exceeded — see module doc).

    Size-gated two-regime execution (group_percentiles discipline):
    the edge list is the DEDUP BYPRODUCT — orders of magnitude smaller
    than the corpus (LSH bucket caps bound it) — so up to
    ``driver_max_edges`` (~16 MB of id pairs at the 1M default) the
    components are solved with one bounded collect + union-find on the
    driver and broadcast back: a single job instead of
    diameter × 4 distributed stages (measured 4.6 s -> 0.3 s on the
    sf0.1 near-dup graph; identical output by construction — min-root
    union-find).  Above the gate the distributed min-label-propagation
    loop below takes over unchanged."""
    # null-keyed edges contribute nothing in the distributed regime
    # (null never equi-joins); drop them up front so both regimes agree
    # and the driver union-find never compares None ids
    non_null = F.col(src).isNotNull() & F.col(dst).isNotNull()
    tbl = _fetch_if_small(
        edges.select(src, dst).where(non_null).distinct(), driver_max_edges
    )
    if tbl is not None:
        parent: dict = {}

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]  # path halving
                x = parent[x]
            return x

        # to_pylist: native ints/strs (createDataFrame rejects numpy
        # scalars); the wire transfer stays columnar Arrow
        for a, b in zip(tbl.column(0).to_pylist(), tbl.column(1).to_pylist()):
            parent.setdefault(a, a)
            parent.setdefault(b, b)
            ra, rb = find(a), find(b)
            if ra != rb:
                # union by MIN id so the component label is the min node
                lo, hi = (ra, rb) if ra < rb else (rb, ra)
                parent[hi] = lo
        out = [(n, find(n)) for n in parent]
        node_type = edges.schema[src].dataType
        from pyspark.sql import types as T

        schema = T.StructType(
            [T.StructField("node", node_type), T.StructField("component", node_type)]
        )
        return edges.sparkSession.createDataFrame(out, schema)

    # one scan of the (possibly expensive) upstream edge pipeline: emit
    # both directions via explode instead of union(edges, edges) — the
    # union form computes the edge plan TWICE before the checkpoint cuts
    # lineage (measured 29 s → ~0 on an LSH-pair input at sf0.1)
    und = (
        edges.where(non_null).select(
            F.explode(
                F.array(
                    F.struct(F.col(src).alias("u"), F.col(dst).alias("v")),
                    F.struct(F.col(dst).alias("u"), F.col(src).alias("v")),
                )
            ).alias("e")
        )
        .select("e.u", "e.v")
        .distinct()
        .localCheckpoint()
    )
    labels = (
        und.select(F.col("u").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
        .localCheckpoint()
    )
    for _ in range(max_rounds):
        neighbor_min = (
            und.join(labels, und["u"] == labels["node"])
            .groupBy(F.col("v").alias("node2"))
            .agg(F.min("label").alias("nmin"))
        )
        stepped = (
            labels.join(neighbor_min, labels["node"] == F.col("node2"), "left")
            .select(
                "node",
                F.least("label", F.coalesce("nmin", "label")).alias("label"),
                (F.col("nmin") < F.col("label")).alias("_changed"),
            )
        )
        # pointer doubling: label <- label(label).  Plain neighbor-min
        # propagation converges in O(diameter) rounds, and the LSH
        # 256-cap turns degenerate buckets into O(n) CHAINS — at 100x
        # exact-duplication (the r8 invariant harness) chain diameters
        # blew past any fixed round cap.  Shortcutting through the
        # label graph (a label is always a node id of the same
        # component, so the self-join below always resolves) halves the
        # effective diameter per round: convergence is O(log d), and
        # max_rounds=30 now covers diameters past 2^30.  Labels only
        # ever decrease toward the component min, so the fixpoint is
        # unchanged — pinned by test_graph_cc_long_chain_converges.
        # checkpoint before the self-join so the neighbor-min subtree
        # runs once per round, not twice
        stepped = stepped.localCheckpoint()
        lab_of_lab = stepped.select(
            F.col("node").alias("_ln"), F.col("label").alias("_ll")
        )
        new_labels = (
            stepped.join(lab_of_lab, stepped["label"] == F.col("_ln"), "left")
            .select(
                "node",
                F.least("label", F.coalesce("_ll", "label")).alias("label"),
                (
                    F.col("_changed") | (F.col("_ll") < F.col("label"))
                ).alias("_changed"),
            )
            .localCheckpoint()
        )
        changed = new_labels.filter(F.col("_changed")).limit(1).count()
        labels = new_labels.drop("_changed")
        if changed == 0:
            return labels.select("node", F.col("label").alias("component"))
    raise RuntimeError(f"connected_components: no fixpoint in {max_rounds} rounds")


def dedup_clusters(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    src: str = "id_a",
    dst: str = "id_b",
) -> DataFrame:
    """Cluster id per document: connected component over the near-dup
    ``pairs`` for paired docs, self for singletons.  Downstream keep-one
    policy is then ``filter(doc_id == cluster_id)`` (or join a quality
    rank and keep the best per cluster)."""
    cc = connected_components(pairs, src, dst)
    return df.join(cc, df[id_col] == cc["node"], "left").select(
        df["*"], F.coalesce("component", df[id_col]).alias("cluster_id")
    )


def _canonical_edges(pairs: DataFrame, id_a: str, id_b: str) -> DataFrame:
    """Distinct undirected edges as (u < v); self-loops and NULL
    endpoints drop out (least/greatest skip NULL, and u != v fails)."""
    return (
        pairs.select(
            F.least(id_a, id_b).alias("u"), F.greatest(id_a, id_b).alias("v")
        )
        .where(F.col("u") != F.col("v"))
        .distinct()
    )


def _oriented_triangles(tbl):
    """Exact per-node triangle counts of a canonical (u, v) Arrow edge
    table on the driver: degree-ordered orientation (low-degree →
    high-degree, ties by id) + forward adjacency intersection — the
    same arboricity-bound algorithm :func:`_closed_triangles` runs as
    joins.  Returns (per-node Counter, degree dict)."""
    from collections import Counter, defaultdict

    edges = list(zip(tbl.column(0).to_pylist(), tbl.column(1).to_pylist()))
    deg: Counter = Counter()
    for u, v in edges:
        deg[u] += 1
        deg[v] += 1

    def ahead(a, b):
        return (deg[a], a) < (deg[b], b)

    fwd = defaultdict(set)
    for u, v in edges:
        s, t = (u, v) if ahead(u, v) else (v, u)
        fwd[s].add(t)
    tri: Counter = Counter()
    for s, ts in fwd.items():
        for t in ts:
            for w in ts & fwd.get(t, _EMPTY_SET):
                tri[s] += 1
                tri[t] += 1
                tri[w] += 1
    return tri, deg


_EMPTY_SET: frozenset = frozenset()


def _closed_triangles(canon: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Distributed triangle dataflow over canonical edges: ``(deg,
    closed)`` with deg = (n, d) per node and one (apex, x, y) row per
    triangle.  Degree-ordered orientation (each edge points low-degree
    → high-degree, ties by id) bounds the two-path self-join by the
    graph's arboricity; a left-semi join on the edge list closes it.

    The canonical edge list is materialized once (lazy localCheckpoint,
    the connected_components lineage-cut discipline): the dataflow
    references it four times, and without the cut each reference
    re-expands the whole upstream pair-mining pipeline — measured 11
    corpus scans / 38 shuffles (triangle_count) and 13 / 45
    (clustering_coefficient) for the LSH-pairs caller, vs one pipeline
    run + the triangle joins."""
    e = canon.localCheckpoint(eager=False)
    deg = (
        e.select(F.col("u").alias("n"))
        .unionAll(e.select(F.col("v").alias("n")))
        .groupBy("n")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    ed = (
        e.join(deg.withColumnRenamed("n", "u").withColumnRenamed("d", "du"), "u")
        .join(deg.withColumnRenamed("n", "v").withColumnRenamed("d", "dv"), "v")
        .select(
            F.when(
                (F.col("du") < F.col("dv"))
                | ((F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))),
                F.struct(F.col("u").alias("s"), F.col("v").alias("t")),
            )
            .otherwise(F.struct(F.col("v").alias("s"), F.col("u").alias("t")))
            .alias("o")
        )
        .select(F.col("o.s").alias("s"), F.col("o.t").alias("t"))
    )
    p2 = (
        ed.alias("a")
        .join(ed.alias("b"), F.col("a.s") == F.col("b.s"))
        .where(F.col("a.t") < F.col("b.t"))
        .select(
            F.col("a.s").alias("apex"),
            F.col("a.t").alias("x"),
            F.col("b.t").alias("y"),
        )
    )
    closed = p2.join(
        e.select(F.col("u").alias("x"), F.col("v").alias("y")),
        ["x", "y"],
        "left_semi",
    )
    return deg, closed


def triangle_count(
    pairs, id_a: str = "id_a", id_b: str = "id_b", driver_max_edges: int = 1_000_000
):
    """Exact triangle count over an undirected edge list — the
    clustering-coefficient numerator that distinguishes a near-dup
    CLUSTER (template pages: dense, many triangles) from a CHAIN
    (incremental edits: sparse, none).  Degree-ordered edge orientation
    keeps the two-path join from exploding on hubs (see
    :func:`_closed_triangles`).

    Size-gated two-regime execution (the connected_components
    discipline): the edge list is the dedup BYPRODUCT — orders of
    magnitude smaller than the corpus — so up to ``driver_max_edges``
    the canonical edges are fetched once (bounded limit+1 Arrow probe)
    and the SAME oriented-intersection algorithm runs on the driver:
    one job instead of ~9 join/aggregate stages whose per-stage latency
    dominates at small edge counts.  Above the gate the distributed
    two-self-join dataflow takes over unchanged.

    Returns a 1-row DataFrame: ``triangles``.
    """
    from pyspark.sql import types as T

    canon = _canonical_edges(pairs, id_a, id_b)
    tbl = _fetch_if_small(canon, driver_max_edges)
    if tbl is not None:
        tri, _ = _oriented_triangles(tbl)
        total = sum(tri.values()) // 3
        schema = T.StructType([T.StructField("triangles", T.LongType(), False)])
        return pairs.sparkSession.createDataFrame([(total,)], schema)
    _, closed = _closed_triangles(canon)
    return closed.agg(F.count(F.lit(1)).alias("triangles"))


def clustering_coefficient(
    pairs, id_a: str = "id_a", id_b: str = "id_b", driver_max_edges: int = 1_000_000
):
    """Local clustering coefficient per node: closed triangles at the
    node / (deg·(deg−1)/2) — near 1 inside template families (dense
    near-dup cliques), near 0 on drift chains; per-node where
    :func:`triangle_count` is corpus-global.

    Size-gated like :func:`triangle_count`: under ``driver_max_edges``
    the per-node counts come from the driver-side oriented
    intersection (one bounded fetch, one job).  The driver leg
    replicates the distributed expression OPERAND-FOR-OPERAND:
    coefficient = round((t·2.0)/(d·(d−1.0)), 6) with Spark's
    BigDecimal-of-shortest-repr HALF_UP rounding (Decimal(repr(x))
    quantize), so results are bit-identical across regimes.

    Distributed regime: :func:`_closed_triangles`; each closed triangle
    credits all three member nodes via one explode.  Returns (node,
    degree, triangles, coefficient).
    """
    canon = _canonical_edges(pairs, id_a, id_b)
    tbl = _fetch_if_small(canon, driver_max_edges)
    if tbl is not None:
        from decimal import ROUND_HALF_UP, Decimal

        from pyspark.sql import types as T

        tri, deg = _oriented_triangles(tbl)
        out = []
        for n in deg:
            d = deg[n]
            t = tri.get(n, 0)
            if d >= 2:
                # Spark round(double, 6): BigDecimal.valueOf (shortest
                # repr) setScale(6, HALF_UP) — replicated exactly
                c = float(
                    Decimal(repr((t * 2.0) / (d * (d - 1.0)))).quantize(
                        Decimal("0.000001"), rounding=ROUND_HALF_UP
                    )
                )
            else:
                c = 0.0
            out.append((n, d, t, c))
        node_type = pairs.schema[id_a].dataType
        schema = T.StructType(
            [
                T.StructField("node", node_type),
                T.StructField("degree", T.LongType(), False),
                T.StructField("triangles", T.LongType(), False),
                T.StructField("coefficient", T.DoubleType()),
            ]
        )
        return pairs.sparkSession.createDataFrame(out, schema)
    deg, closed = _closed_triangles(canon)
    node_tri = (
        closed.select(
            F.explode(F.array("apex", "x", "y")).alias("n")
        )
        .groupBy("n")
        .agg(F.count(F.lit(1)).alias("triangles"))
    )
    return (
        deg.join(node_tri, "n", "left")
        .na.fill({"triangles": 0})
        .select(
            F.col("n").alias("node"),
            F.col("d").alias("degree"),
            "triangles",
            F.when(
                F.col("d") >= 2,
                F.round(
                    F.col("triangles").cast("double") * 2.0
                    / (F.col("d").cast("double") * (F.col("d") - 1.0)),
                    6,
                ),
            ).otherwise(F.lit(0.0)).alias("coefficient"),
        )
    )
