"""Similarity search over embedding columns (array<float>).

- :func:`cosine` / :func:`dot` — pure Column expressions (F.zip_with +
  F.aggregate): JVM-side fold, deterministic left-to-right order.
- :func:`brute_force_topk` — exact cosine top-k against one query vector:
  one projection + one ORDER BY LIMIT k (Spark's TakeOrdered — no full
  sort at scale).
- :func:`random_projection_buckets` — sign-LSH bucketing: deterministic
  pseudo-random hyperplanes derived from md5 (engine-portable, no RNG
  state).  ANN = search only the query's bucket (or multi-probe its
  neighbors).  This is the 100 TB path: bucket key shuffles once,
  candidate sets are bucket-bounded.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ._exprtext import cosine_sql, dbl_arr_sql, dlit, dlit_array, dot_sql, ilit_array, qcol


def dot(a, b, dim: int | None = None, cast_elements: bool = False) -> Column:
    """Dot product.  With ``dim`` known statically the fold is unrolled
    into a left-associative Add chain over element_at — bitwise identical
    to the F.aggregate fold (same order, same 0.0 seed) but eligible for
    whole-stage codegen instead of interpreted higher-order eval.

    Operands may be Columns or SQL fragments (strings — a bare column
    name is one).  When BOTH are strings the whole chain is assembled
    as text and parsed by ONE ``F.expr`` call instead of ~6 py4j round
    trips per term — a bit-identical tree (see operators/_exprtext) at
    ~1/25 the driver-side build cost (guide §7.3).

    ``cast_elements`` casts each element to double INSIDE the chain
    (for float arrays).  Never wrap the input in an array-level
    F.transform(cast) instead: CollapseProject will inline that
    interpreted transform into every element_at reference (2*dim
    evaluations per pair when the expression lands in a join condition)
    — that is a ~100x regression at n^2 pair counts."""
    if isinstance(a, str) and isinstance(b, str):
        return F.expr(dot_sql(a, b, dim, cast_elements))
    if dim is not None:
        def elem(c: Column, i: int) -> Column:
            e = F.element_at(c, i)
            return e.cast("double") if cast_elements else e

        expr = F.lit(0.0)
        for i in range(1, dim + 1):
            expr = expr + elem(a, i) * elem(b, i)
        return expr
    if cast_elements:
        # cast INSIDE the zip_with lambda (per element-pair, once) so
        # the product is computed in double like the unrolled chain —
        # float*float would round each product to float32 first,
        # silently diverging from the dim-unrolled path and the numpy
        # kernels (which are all-double)
        prod = F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double"))
    else:
        prod = F.zip_with(a, b, lambda x, y: x * y)
    return F.aggregate(
        prod,
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a, dim: int | None = None, cast_elements: bool = False) -> Column:
    if isinstance(a, str):
        return F.expr(f"SQRT({dot_sql(a, a, dim, cast_elements)})")
    return F.sqrt(dot(a, a, dim, cast_elements))


def cosine(
    a, b, dim: int | None = None, cast_elements: bool = False
) -> Column:
    if isinstance(a, str) and isinstance(b, str):
        return F.expr(cosine_sql(a, b, dim, cast_elements))
    return dot(a, b, dim, cast_elements) / (
        norm(a, dim, cast_elements) * norm(b, dim, cast_elements)
    )


def brute_force_topk(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Exact top-k by cosine to ``query_vec`` (ties broken by id).

    Linear (one cosine per row), so the interpreted fold is fine here —
    unrolled chains only pay off at n^2 pair counts (see :func:`dot`);
    for a per-row projection the janino compile cost of a 190-term
    expression exceeds the eval saving."""
    q = dbl_arr_sql(dlit_array(query_vec))
    scored = df.select(
        F.col(id_col),
        cosine(dbl_arr_sql(qcol(vec_col)), q).alias("cos"),
    )
    return scored.orderBy(F.col("cos").desc(), F.col(id_col)).limit(k)


def brute_force_top1_ids(
    df: DataFrame,
    query_df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    max_queries: int = 10_000,
) -> DataFrame:
    """(lid, exact_rid): each query vector's exact nearest neighbor id
    over the full corpus by cosine, self excluded, ties by smallest
    neighbor id — the brute-force verification leg of an ANN join.

    Bit-identical to the expression form (cross join + unrolled cosine
    + ``row_number() OVER (ORDER BY cos DESC, rid)``): the numpy block
    kernel accumulates dot products and norms dimension-at-a-time
    (``acc += a[:,i]*b[:,i]``) — the identical left-associative IEEE-754
    fold as the Column expression and the DuckDB ``list_reduce`` oracle,
    vectorized ACROSS pairs only — and the per-query winner is picked by
    exact-equality argmax with min-id tie-break, matching the window's
    (cos DESC, rid) order.  NaN cosines (zero-norm vectors) rank FIRST,
    as in both engines' descending sorts.

    The query side is the bounded side (collected and shipped to every
    task — the footprint a broadcast join would ship), gated at
    ``max_queries`` like the other quadratic opt-ins; the corpus is
    streamed through ``mapInPandas`` and never shuffled by pair — the
    guide-§8 proxy discipline: per corpus batch only |queries| winner
    rows (a few bytes each) flow into the final tiny aggregate.
    """
    import numpy as np
    import pandas as pd

    from pyspark.sql import types as T

    qt = (
        query_df.select(F.col(id_col), F.col(vec_col))
        .orderBy(id_col)
        .limit(max_queries + 1)
        .toArrow()
    )
    if qt.num_rows > max_queries:
        raise ValueError(
            f"brute_force_top1_ids: more than {max_queries} query rows hit "
            "the exact-verify gate — this leg is |queries| x corpus by "
            "contract; raise max_queries deliberately or drop the exact leg"
        )
    id_type = df.schema[id_col].dataType
    out_schema = T.StructType(
        [
            T.StructField("lid", id_type),
            T.StructField("rid", id_type),
            T.StructField("cos", T.DoubleType()),
        ]
    )
    sess = df.sparkSession
    if qt.num_rows == 0:
        return sess.createDataFrame([], out_schema).select("lid", F.col("rid").alias("exact_rid"))
    q_ids = np.array(qt.column(id_col).to_pylist(), dtype=np.int64)
    q_mat = np.array(qt.column(vec_col).to_pylist(), dtype=np.float64)  # float->double exact
    ndim = q_mat.shape[1]
    q_acc = np.zeros(len(q_ids), dtype=np.float64)
    for i in range(ndim):  # same fold order as the expression/oracle
        q_acc += q_mat[:, i] * q_mat[:, i]
    q_norms = np.sqrt(q_acc)
    m = len(q_ids)
    # cap the m x block dots matrix at ~64 MB (embedding_cosine_pairs_
    # blocked discipline), floor 16 rows
    block_rows = max(16, int(8_000_000 / m))

    def run(batches):
        for pdf in batches:
            for s in range(0, len(pdf), block_rows):
                sub = pdf.iloc[s : s + block_rows]
                c_ids = sub[id_col].to_numpy(dtype=np.int64)
                if len(c_ids) == 0:
                    continue
                c_mat = np.array(list(sub[vec_col]), dtype=np.float64)
                c_acc = np.zeros(len(c_ids), dtype=np.float64)
                dots = np.zeros((m, len(c_ids)), dtype=np.float64)
                for i in range(ndim):
                    col = c_mat[:, i]
                    c_acc += col * col
                    dots += q_mat[:, i][:, None] * col[None, :]
                cos = dots / (q_norms[:, None] * np.sqrt(c_acc)[None, :])
                # self-pairs excluded exactly as the join's lid != rid
                valid = q_ids[:, None] != c_ids[None, :]
                out_l, out_r, out_c = [], [], []
                for qi in range(m):
                    row, v = cos[qi], valid[qi]
                    if not v.any():
                        continue  # block held only the self row
                    nan_mask = np.isnan(row) & v
                    if nan_mask.any():
                        # NaN sorts ABOVE every double in cos DESC (both
                        # engines); tie-break min rid among NaNs
                        cand = np.flatnonzero(nan_mask)
                    else:
                        best = row[v].max()
                        cand = np.flatnonzero(v & (row == best))
                    rid = c_ids[cand].min()
                    out_l.append(q_ids[qi])
                    out_r.append(rid)
                    out_c.append(row[np.flatnonzero(c_ids == rid)[0]])
                yield pd.DataFrame({"lid": out_l, "rid": out_r, "cos": out_c})

    parts = min(
        2048,
        max(
            sess.sparkContext.defaultParallelism,
            -(-qt.num_rows // max(block_rows, 1)),
        ),
    )
    winners = (
        df.select(F.col(id_col), F.col(vec_col))
        .repartition(parts)
        .mapInPandas(run, out_schema)
    )
    # per-block winners -> global winner per query: lexicographic max of
    # (cos, -rid) == highest cos, ties by smallest rid.  NaN cos (ranked
    # first in both engines) is mapped to +inf for the struct compare —
    # exact cos values are per-pair deterministic, so cross-block
    # comparisons reproduce the window's total order.
    key = F.struct(
        F.when(F.isnan(F.col("cos")), F.lit(float("inf")))
        .otherwise(F.col("cos"))
        .alias("c"),
        (-F.col("rid")).alias("nr"),
    )
    return (
        winners.groupBy("lid")
        .agg(F.max(key).alias("_w"))
        .select("lid", (-F.col("_w.nr")).alias("exact_rid"))
    )


def _hyperplane(plane_idx: int, dim: int) -> list[float]:
    """Deterministic pseudo-random unit-free hyperplane from md5 bytes.

    Component j = (md5(f"{plane_idx}:{j}")[:8] as uint32) / 2^31 - 1.0
    (uniform in [-1, 1)); reproducible in any engine/language.
    """
    out = []
    for j in range(dim):
        h = hashlib.md5(f"{plane_idx}:{j}".encode()).hexdigest()[:8]
        out.append(int(h, 16) / 2**31 - 1.0)
    return out


def random_projection_buckets(
    df: DataFrame,
    dim: int,
    num_planes: int = 8,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """(id, bucket STRING): sign-LSH bucket of each vector.

    bucket = bitstring of sign(v . h_p) for p in 0..num_planes-1.
    Cosine-similar vectors collide with high probability; 2^num_planes
    buckets bound candidate-set size.
    """
    return df.select(
        F.col(id_col), _bucket_expr(dim, num_planes, vec_col).alias("bucket")
    )


def _bucket_expr(dim: int, num_planes: int, vec_col: str) -> Column:
    """Sign-LSH bucket bitstring as a reusable Column expression."""
    # per-row linear scan: the fold is cheaper than compiling an
    # 8*dim-term unrolled expression (see brute_force_topk note);
    # assembled as ONE text parse — num_planes * dim literals through
    # the Column API were ~70 py4j round trips per plane
    v = dbl_arr_sql(qcol(vec_col))
    bits = [
        f"CASE WHEN {dot_sql(v, dlit_array(_hyperplane(p, dim)))} >= 0 "
        f"THEN '1' ELSE '0' END"
        for p in range(num_planes)
    ]
    return F.expr("concat(" + ", ".join(bits) + ")")


def _probe_buckets(query_vec: list[float], num_planes: int, max_hamming: int) -> list[str]:
    """The query's bucket plus every bucket within ``max_hamming`` flips."""
    import itertools

    planes = [_hyperplane(p, len(query_vec)) for p in range(num_planes)]
    qbits = [
        "1" if sum(q * h for q, h in zip(query_vec, pl)) >= 0 else "0"
        for pl in planes
    ]
    probes = {"".join(qbits)}
    for r in range(1, max_hamming + 1):
        for idxs in itertools.combinations(range(num_planes), r):
            flipped = qbits.copy()
            for i in idxs:
                flipped[i] = "0" if flipped[i] == "1" else "1"
            probes.add("".join(flipped))
    return sorted(probes)


def build_ann_index(
    df: DataFrame,
    path: str,
    dim: int,
    num_planes: int = 8,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    mode: str = "overwrite",
) -> None:
    """Persist the corpus PARTITIONED BY its sign-LSH bucket — the
    at-rest ANN index.  A probe query then reads ONLY the probed
    partition directories (Spark partition pruning happens at file
    listing, before any IO), so query cost is
    |probes| / 2^num_planes of the corpus regardless of total size.
    This is the 100 TB serving shape: index once (one shuffle-free
    scan + partitioned write), probe cheaply forever; re-index is
    append-friendly because the bucket of a vector never changes
    (hyperplanes are md5-derived constants, no trained state).

    The partition value is ``b<bits>`` — the letter prefix stops
    Spark's partition-column type inference from reading ``0010`` back
    as the integer 10 and breaking probe equality.
    """
    (
        df.withColumn(
            "bucket", F.concat(F.lit("b"), _bucket_expr(dim, num_planes, vec_col))
        )
        .write.mode(mode)
        .partitionBy("bucket")
        .parquet(path)
    )


def query_ann_index(
    spark: SparkSession,
    path: str,
    query_vec: list[float],
    k: int = 10,
    num_planes: int = 8,
    max_hamming: int = 1,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Top-k probe against a :func:`build_ann_index` layout: reads only
    the probed bucket partitions (pruned at listing time), then exact
    cosine top-k over the candidate set."""
    probes = ["b" + p for p in _probe_buckets(query_vec, num_planes, max_hamming)]
    cand = spark.read.parquet(path).filter(F.col("bucket").isin(probes))
    return brute_force_topk(cand.drop("bucket"), query_vec, k, vec_col, id_col)


def lsh_topk(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    num_planes: int = 8,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    max_hamming: int = 1,
) -> DataFrame:
    """ANN top-k: score only vectors in the query's sign-LSH bucket.

    Recall < 1.0 by construction; ``max_hamming`` widens the multi-probe
    neighborhood (all buckets within that hamming distance of the
    query's bucket).  Tune (num_planes, max_hamming) to the corpus:
    fewer planes / wider probes → higher recall, larger candidate sets.
    """
    dim = len(query_vec)
    probes = _probe_buckets(query_vec, num_planes, max_hamming)
    bucketed = random_projection_buckets(df, dim, num_planes, vec_col, id_col)
    cand = df.join(
        bucketed.filter(F.col("bucket").isin(*probes)).select(id_col), on=id_col
    )
    return brute_force_topk(cand, query_vec, k, vec_col, id_col)


def _lloyd(points, k: int, seed: int, iters: int = 25):
    """Deterministic Lloyd's k-means on a bounded in-memory sample
    (numpy; kmeans++-style farthest-point seeding from a fixed RNG).
    Runs in milliseconds at the 4096-row training bound."""
    import numpy as np

    rng = np.random.RandomState(seed)
    n = len(points)
    k = min(k, n)
    # kmeans++ seeding: first center random, rest ~ squared-distance.
    # Running min over the one NEW center per step (each center's
    # distance vector is computed exactly once) — bit-identical to
    # re-minimizing over all centers, which recomputed the same O(k²)
    # distance vectors (r13: was the dominant pq/ivf build cost).
    centers = [points[rng.randint(n)]]
    d2 = ((points - centers[0]) ** 2).sum(axis=1)
    for _ in range(1, k):
        tot = d2.sum()
        if tot <= 0:
            c = points[rng.randint(n)]
        else:
            c = points[np.searchsorted(np.cumsum(d2 / tot), rng.rand())]
        centers.append(c)
        d2 = np.minimum(d2, ((points - c) ** 2).sum(axis=1))
    C = np.array(centers, dtype=np.float64)
    prev = None
    pn2 = (points**2).sum(1)[:, None]
    for _ in range(iters):
        d2 = pn2 - 2 * points @ C.T + (C**2).sum(1)[None, :]
        lab = d2.argmin(1)
        # only centroids whose member set changed need a new mean: an
        # unchanged member set reproduces the current center bit-exactly
        # (same rows, same order, same np.mean), so copying C[j] is
        # identical to recomputing it (r13; late iterations move a
        # handful of points, the full per-centroid mask scan was O(k·n)
        # every round)
        if prev is None:
            dirty = range(k)
        else:
            moved = lab != prev
            dirty = np.unique(np.concatenate([lab[moved], prev[moved]]))
        newC = C.copy()
        for j in dirty:
            sel = lab == j
            newC[j] = points[sel].mean(0) if sel.any() else C[j]
        prev = lab
        if np.allclose(newC, C):
            break
        C = newC
    return C


def _train_sample(df, vec_col: str, id_col: str, train_rows: int):
    """Deterministic bounded training sample as a dense float64 matrix:
    the ``train_rows`` smallest md5(id) rows (one top-k job, no full
    sort), fetched via ``toArrow`` — columnar transfer, no per-element
    Row objects (the graph.py Arrow-fetch discipline; a plain
    ``collect()`` of list<float> columns deserializes rows×dim Python
    floats and measured ~4× slower at the 4096-row bound)."""
    import numpy as np

    tbl = (
        df.select(
            F.col(vec_col).alias("_v"),
            F.md5(F.col(id_col).cast("string")).alias("_h"),
        )
        .orderBy("_h")
        .limit(train_rows)
        .toArrow()
    )
    return np.array(tbl.column("_v").to_pylist(), dtype=np.float64)


class ClumpedCorpusWarning(UserWarning):
    """An IVF training sample shows an indivisible hot cell (a tight
    near-duplicate clump); candidate volume will blow up, not spread."""


class ClumpedCorpusError(ValueError):
    """Strict-mode variant of :class:`ClumpedCorpusWarning`."""


def _clump_check(
    pts,
    C,
    n_centroids: int,
    warn_ratio: float = 8.0,
    strict: bool = False,
    context: str = "ivf_assign",
):
    """Degenerate-clump guardrail — pure driver-side numpy over the
    training sample already in hand (zero extra Spark jobs).

    Measured pathology (r6 zipf/hot-cluster probe): a tight embedding
    clump is indivisible by the coarse quantizer — one cell held 30% of
    a 200k corpus at nlist 16 AND 448, so candidate volume (cell² work
    in a kNN join) silently grows ~100× and neither nlist nor AQE
    skew-split helps (sub-splitting measured no-win: 199 s vs 209 s).
    Detection from the bounded sample is statistically sound: a clump
    that matters (≥10% of the corpus) appears in a 4096-row sample with
    overwhelming probability.

    Fires when the max/median sample-cell ratio exceeds ``warn_ratio``
    or one cell holds ≥25% of the sample despite n_centroids ≥ 8.
    Warns by default; raises :class:`ClumpedCorpusError` when
    ``strict``.  Returns (ratio, max_fraction, fired) for callers that
    react to the detection (ann_join auto-engages its sub-split cap
    when skew-join is unavailable) and for tests/telemetry.
    """
    import warnings

    import numpy as np

    if len(pts) == 0 or len(C) == 0:
        return 0.0, 0.0, False
    d2 = (pts**2).sum(1)[:, None] - 2 * pts @ C.T + (C**2).sum(1)[None, :]
    counts = np.bincount(d2.argmin(1), minlength=len(C)).astype(np.float64)
    nonzero = counts[counts > 0]
    med = float(np.median(nonzero))
    mx = float(counts.max())
    frac = mx / max(1.0, float(counts.sum()))
    ratio = mx / med if med > 0 else float("inf")
    fired = ratio >= warn_ratio or (frac >= 0.25 and n_centroids >= 8)
    if fired:
        msg = (
            f"{context}: IVF training sample is clumped — hottest cell "
            f"holds {frac:.0%} of the sample ({ratio:.1f}x the median "
            f"cell). A tight near-duplicate cluster is indivisible by "
            f"the coarse quantizer at ANY n_centroids, so candidate "
            f"volume (not stragglers) blows up ~ (clump size)². "
            f"Mitigation order: (1) semantic-dedup the corpus first "
            f"(semantic_dedup_blocked — the clump IS a near-dup "
            f"cluster), (2) cap probes / set max_cell_rows to spread "
            f"the shuffle, (3) pass strict_clumps=False deliberately "
            f"if the quadratic cost is accepted."
        )
        if strict:
            raise ClumpedCorpusError(msg)
        warnings.warn(msg, ClumpedCorpusWarning, stacklevel=3)
    return ratio, frac, fired


def ivf_assign(
    df: DataFrame,
    n_centroids: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seed: int = 7,
    train_rows: int = 4096,
    strict_clumps: bool = False,
    return_stats: bool = False,
):
    """IVF coarse quantizer: k-means centroids + per-vector cell assignment.

    Returns (assigned_df with a ``cell`` column, centroids list).  The
    centroid count trades recall for candidate-set size: cells ≈ n/k
    vectors each.  With ``return_stats`` a third element carries the
    clump-guardrail telemetry ({ratio, max_frac, fired}) so callers can
    react to a detected clump without re-sampling (ann_join uses it to
    auto-engage its sub-split cap when AQE skew-join is off).

    Scale discipline — the whole point of IVF training is that it does
    NOT need the corpus: a deterministic bounded sample (the
    ``train_rows`` smallest md5(id) rows — one top-k, no full sort)
    is collected to the driver (bounded memory BY CONSTRUCTION) and
    clustered with in-process Lloyd's; the FULL dataset is then assigned
    in ONE pass via broadcast centroids inside a vectorized Pandas UDF
    (numpy matmul per Arrow batch).  No iterative distributed ML: a
    driver-coordinated MLlib fit costs a scan per iteration (measured
    ~6 s at sf0.1 vs <1 s for this formulation) and would be a
    scale-killer on the full corpus.  Persist ``cell`` as a partition
    column so probes prune at read time.
    """
    import numpy as np
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import IntegerType

    pts = _train_sample(df, vec_col, id_col, train_rows)
    C = _lloyd(pts, n_centroids, seed)
    ratio, max_frac, fired = _clump_check(pts, C, n_centroids, strict=strict_clumps)
    cn2 = (C**2).sum(1)

    def _cell_of(vecs):
        import pandas as pd

        M = np.array(vecs.tolist(), dtype=np.float64)
        d2 = (M**2).sum(1)[:, None] - 2 * M @ C.T + cn2[None, :]
        return pd.Series(d2.argmin(1))

    # explicit returnType (no type-hint inference: the module uses
    # `from __future__ import annotations`, which turns hints into
    # strings the UDF resolver can't evaluate)
    cell_of = pandas_udf(_cell_of, IntegerType())

    assigned = df.withColumn("cell", cell_of(F.col(vec_col)))
    cents = [list(map(float, c)) for c in C]
    if return_stats:
        return assigned, cents, {
            "ratio": ratio, "max_frac": max_frac, "fired": fired,
        }
    return assigned, cents


def ivf_topk(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    n_centroids: int = 16,
    n_probes: int = 3,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seed: int = 7,
) -> DataFrame:
    """IVF ANN top-k: score only vectors in the ``n_probes`` cells whose
    centroids are nearest the query (the classic inverted-file scheme —
    recall < 1 by construction, bounded candidate sets by design).

    Complements :func:`lsh_topk`: IVF adapts cells to the data
    distribution (clustered corpora), sign-LSH needs no training.
    """
    assigned, centroids = ivf_assign(df, n_centroids, vec_col, id_col, seed)

    def _cos(a: list[float], b: list[float]) -> float:
        import math

        dp = sum(x * y for x, y in zip(a, b))
        na = math.sqrt(sum(x * x for x in a))
        nb = math.sqrt(sum(x * x for x in b))
        return dp / (na * nb) if na and nb else -1.0

    probe_cells = sorted(
        range(len(centroids)), key=lambda c: -_cos(query_vec, centroids[c])
    )[:n_probes]
    cand = assigned.filter(F.col("cell").isin(probe_cells)).drop("cell")
    return brute_force_topk(cand, query_vec, k, vec_col, id_col)


def embedding_centroids(df: DataFrame, vec_col: str = "embedding",
                        label_col: str = "label",
                        scale: int = 1_000_000) -> DataFrame:
    """Per-label, per-dimension centroid in fixed-point arithmetic.

    Floats are quantized per element (floor(x * scale) as BIGINT) so the
    cross-row sum is an EXACT integer aggregation — associative, order-
    free, bit-identical on any engine/partitioning — then divided back
    once at the end.  This is the scale-safe way to get deterministic
    centroids: a double sum over a shuffled groupBy has partition-order-
    dependent rounding.  One shuffle on (label, dim) with map-side
    partial sums; output cardinality = labels x dims (tiny)."""
    ex = df.select(
        F.col(label_col), F.posexplode(F.col(vec_col)).alias("dim", "e")
    )
    efp = F.floor(F.col("e").cast("double") * F.lit(float(scale))).cast("bigint")
    return (
        ex.groupBy(label_col, "dim")
        .agg(F.count(F.lit(1)).alias("n"), F.sum(efp).alias("sum_fp"))
        .withColumn(
            "centroid",
            F.col("sum_fp").cast("double") / (F.col("n") * F.lit(float(scale))),
        )
    )


def quantize_embeddings_int8(
    df: DataFrame, vec_col: str = "embedding", id_col: str = "vec_id"
) -> DataFrame:
    """Symmetric per-vector int8 quantization — the storage/IO lever for
    vector search at corpus scale (4x smaller than float32, and int8
    dot products are the SIMD fast path in every ANN runtime).

    scale = max|v| / 127 per vector; codes = floor(v / scale) clamped to
    [-127, 127].  floor (not round) on purpose: IEEE floor of an IEEE
    division is bit-deterministic across engines, while round()
    half-way conventions differ (JVM HALF_UP vs others' half-even) —
    same determinism discipline as embedding_centroids' fixed-point
    sums.  Zero vectors get scale 0 and all-zero codes.  Pure per-row
    expressions: no shuffle, rides the scan.

    Known cost (accepted): the lambda re-derives the max per element
    (Spark doesn't hoist loop invariants out of HOF lambdas — see
    operators/text.shingles), so work is O(d²) per row with d fixed at
    the model's dim — 0.4 s for 5k x 64-dim warm.  If d grows large,
    precompute the scale into a materialized column (checkpoint/cache
    boundary) so CollapseProject can't inline it back.
    """
    v = dbl_arr_sql(qcol(vec_col))
    mx = f"array_max(transform({v}, x -> ABS(x)))"
    scale = F.expr(f"{mx} / 127.0D").alias("scale")
    codes = F.expr(
        f"CASE WHEN {mx} = 0.0D THEN transform({v}, x -> 0) "
        f"ELSE transform({v}, x -> greatest(-127, least(127, "
        f"CAST(FLOOR(x / ({mx} / 127.0D)) AS INT)))) END"
    )
    return df.select(
        F.col(id_col), scale, codes.alias("q"),
        F.expr(f"size({v})").alias("n_dims")
    )


def int8_topk(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Exact top-k by int8-quantized dot product — the compressed-domain
    search every production ANN runtime runs (score in the int8 space,
    optionally rescore survivors in float).

    Both sides go through :func:`quantize_embeddings_int8`'s code
    mapping; the score is a sum of INT products — associative, exact,
    order-free — so unlike the float paths this search is bit-
    deterministic end-to-end and fully value-checkable.  Scores are
    comparable across vectors up to each vector's own scale; ties break
    by id.  Per-row linear scan + TakeOrdered, no shuffle.
    """
    qmax = max(abs(x) for x in query_vec)
    qcodes = [
        0 if qmax == 0 else max(-127, min(127, int(
            __import__("math").floor(x / (qmax / 127.0)))))
        for x in query_vec
    ]
    # one text parse (the Column build was ~650 py4j round trips: 64
    # int literals + per-element clamp lambdas); tree shape unchanged
    v = dbl_arr_sql(qcol(vec_col))
    mx = f"array_max(transform({v}, x -> ABS(x)))"
    codes = (
        f"CASE WHEN {mx} = 0.0D THEN transform({v}, x -> 0) "
        f"ELSE transform({v}, x -> greatest(-127, least(127, "
        f"CAST(FLOOR(x / ({mx} / 127.0D)) AS INT)))) END"
    )
    score = F.expr(
        f"aggregate(zip_with({codes}, {ilit_array(qcodes)}, "
        f"(a, b) -> CAST(a * b AS BIGINT)), "
        f"CAST(0 AS BIGINT), (acc, x) -> acc + x)"
    )
    return (
        df.select(F.col(id_col), score.alias("score_i8"))
        .orderBy(F.col("score_i8").desc(), F.col(id_col))
        .limit(k)
    )


def knn_graph_blocked(
    df: DataFrame,
    block_col: str,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 5,
    dim: int | None = None,
    kernel: str = "arrow",
) -> DataFrame:
    """k-nearest-neighbor GRAPH (every node's top-k by cosine) computed
    WITHIN blocks — the corpus-scale kNN recipe: an all-pairs kNN over
    N vectors is N², but blocked by a coarse partitioner (here a
    precomputed column; at 100 TB the IVF ``cell`` or an LSH bucket from
    :func:`random_projection_buckets`), each block's pair expansion is
    |block|² and blocks run fully in parallel.  Recall is whatever the
    blocker gives — IVF cells with multi-probe for high recall.

    One self-join on the block key (the only shuffle) + a per-node
    row_number window (same key, exchange reused).  Ties break by
    neighbor id.

    KERNEL CHOICE (measured at sf0.1, 2k vectors / 400k in-block
    pairs):
    - ``"arrow"`` (default): groupBy(block).applyInPandas — the shuffle
      moves only the VECTORS (2k rows), never pair rows, and the
      block's cosine matrix accumulates dimension-at-a-time
      (``dots += un[:,i] ⊗ un[:,i]``) — the identical left-assoc
      IEEE fold as the expression path and the DuckDB oracle,
      vectorized ACROSS pairs.  ~1 s end-to-end.
    - ``"expr"``: block-keyed self-join + zip_with/aggregate fold over
      pre-normalized unit vectors + per-node window — pure JVM, ~6.7 s
      (the interpreted fold costs ~240 ns/element at pair cardinality;
      the 64-wide unrolled cast chain is WORSE here, +14 s, because its
      ~320-node method exceeds the JIT bytecode limit — the opposite
      regime from join-condition context, see similarity.dot).
    Both produce bit-identical output; keep "expr" when a cluster
    must stay Python-free.
    """
    from pyspark.sql import Window

    if kernel not in ("arrow", "expr"):
        raise ValueError(f"kernel must be arrow|expr, got {kernel!r}")
    if kernel == "arrow":
        return _knn_graph_arrow(df, block_col, vec_col, id_col, k)

    vn = _unit_vec(vec_col, dim)
    a = df.select(
        F.col(block_col).alias("_blk"),
        F.col(id_col).alias(id_col),
        vn.alias("_vn"),
    )
    b = df.select(
        F.col(block_col).alias("_blk"),
        F.col(id_col).alias("neighbor_id"),
        vn.alias("_wn"),
    )
    pairs = a.join(b, "_blk").where(F.col(id_col) != F.col("neighbor_id"))
    cos = F.aggregate(
        F.zip_with("_vn", "_wn", lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    w = Window.partitionBy(id_col).orderBy(F.desc("cos"), "neighbor_id")
    return (
        pairs.select(id_col, "neighbor_id", cos.alias("cos"))
        .withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= k)
    )


def _unit_vec(vec_col: str, dim: int | None) -> Column:
    """L2-normalized double array (norm from the unrolled codegen chain
    — evaluated once per ROW, so chain size is irrelevant here)."""
    n = norm(F.col(vec_col), dim, cast_elements=True)
    return F.transform(F.col(vec_col), lambda x: x.cast("double") / n)


def _knn_graph_arrow(
    df: DataFrame, block_col: str, vec_col: str, id_col: str, k: int
) -> DataFrame:
    """Per-block kNN kernel (see knn_graph_blocked).  Deterministic:
    normalization is element/sqrt(left-assoc sum of squares) and the
    pair dots accumulate dimension-at-a-time, the same IEEE op sequence
    as the expression path and the DuckDB oracle; ranking sorts by
    (-cos, neighbor_id) via lexsort — ties identical to SQL
    ``ORDER BY cos DESC, neighbor_id``."""
    import numpy as np
    import pandas as pd

    from pyspark.sql import types as T

    out_schema = T.StructType(
        [
            T.StructField(id_col, df.schema[id_col].dataType),
            T.StructField("neighbor_id", df.schema[id_col].dataType),
            T.StructField("cos", T.DoubleType()),
            T.StructField("rnk", T.IntegerType()),
        ]
    )

    def blk(pdf: "pd.DataFrame") -> "pd.DataFrame":
        n = len(pdf)
        if n < 2:
            return pd.DataFrame(
                {id_col: [], "neighbor_id": [], "cos": [], "rnk": []}
            ).astype({id_col: "int64", "neighbor_id": "int64",
                      "cos": "float64", "rnk": "int32"})
        ids = pdf[id_col].to_numpy(dtype=np.int64)
        mat = np.array(list(pdf[vec_col]), dtype=np.float64)
        ndim = mat.shape[1]
        acc = np.zeros(n, dtype=np.float64)
        for i in range(ndim):  # same fold order as expression/oracle
            acc += mat[:, i] * mat[:, i]
        un = mat / np.sqrt(acc)[:, None]
        dots = np.zeros((n, n), dtype=np.float64)
        for i in range(ndim):
            col = un[:, i]
            dots += col[:, None] * col[None, :]
        kk = min(k, n - 1)
        out_id, out_nb, out_cos, out_rnk = [], [], [], []
        self_idx = np.arange(n)
        for r in range(n):
            row = dots[r]
            # order by (cos DESC, neighbor_id ASC), excluding self by
            # POSITION (not value — self-cos is float, not exactly 1.0)
            order = np.lexsort((ids, -row))
            order = order[order != self_idx[r]][:kk]
            out_id.extend([ids[r]] * len(order))
            out_nb.extend(ids[order])
            out_cos.extend(row[order])
            out_rnk.extend(range(1, len(order) + 1))
        return pd.DataFrame(
            {id_col: out_id, "neighbor_id": out_nb,
             "cos": np.asarray(out_cos, dtype=np.float64),
             "rnk": np.asarray(out_rnk, dtype=np.int32)}
        )

    return (
        df.select(block_col, id_col, vec_col)
        .groupBy(block_col)
        .applyInPandas(blk, out_schema)
    )


def norm_outliers(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dim: int | None = None,
    k: float = 3.0,
) -> DataFrame:
    """Embedding hygiene: flag vectors whose L2 norm is a robust
    outlier (outside median ± k·IQR) — the standard pre-index screen
    for truncated, zeroed, or blown-up vectors before they poison an
    ANN index or a cosine-dedup pass.

    Scale shape: one narrow projection computes every norm (unrolled
    exact fold, whole-stage codegen), one exact-percentile aggregate
    reduces to a single broadcast row, and the outlier filter is a
    second narrow pass.  No wide shuffle at any size; the percentile
    aggregate is the only all-reduce and returns 3 doubles.  Norms and
    thresholds round to 6 dp so the cut is engine-deterministic.
    """
    n = df.select(
        F.col(id_col),
        F.round(norm(F.col(vec_col), dim, cast_elements=True), 6).alias(
            "l2_norm"
        ),
    )
    q = n.agg(
        F.percentile("l2_norm", F.lit(0.25)).alias("q1"),
        F.percentile("l2_norm", F.lit(0.5)).alias("med"),
        F.percentile("l2_norm", F.lit(0.75)).alias("q3"),
    ).select(
        F.round(F.col("med") - k * (F.col("q3") - F.col("q1")), 6).alias(
            "lo"
        ),
        F.round(F.col("med") + k * (F.col("q3") - F.col("q1")), 6).alias(
            "hi"
        ),
    )
    return (
        n.join(F.broadcast(q))
        .where((F.col("l2_norm") < F.col("lo")) | (F.col("l2_norm") > F.col("hi")))
        .select(
            id_col,
            "l2_norm",
            F.when(F.col("l2_norm") < F.col("lo"), F.lit("low"))
            .otherwise(F.lit("high"))
            .alias("kind"),
        )
    )


def centroid_outliers(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    label_col: str = "label",
    dim: int = 64,
    bottom_k: int = 5,
    scale: int = 1_000_000,
) -> DataFrame:
    """Mislabeled-vector screen: for each label, the ``bottom_k``
    vectors LEAST similar (cosine) to their own label centroid —
    the standard noisy-label / junk-embedding audit before using a
    labeled corpus for training or as ANN ground truth.

    Scale shape: centroids come from embedding_centroids' exact
    fixed-point sums (order-free), pivot back to one array row per
    label (output cardinality = #labels — tiny, broadcast), the
    cosine is an unrolled whole-stage-codegen expression over the
    fact scan, and the per-label bottom-k is a WindowGroupLimit
    (rank pushes the k-filter before the exchange).  One wide
    shuffle total (the (label, dim) rollup); cosines round to 6 dp,
    ties break on id — engine-deterministic output."""
    from pyspark.sql import Window

    cent = embedding_centroids(df, vec_col, label_col, scale)
    carr = (
        cent.groupBy(label_col)
        .agg(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("dim", "centroid"))
                ),
                lambda s: s["centroid"],
            ).alias("cvec")
        )
    )
    j = df.join(F.broadcast(carr), label_col)
    cos = F.round(
        cosine(qcol(vec_col), "`cvec`", dim, cast_elements=True), 6
    )
    w = Window.partitionBy(label_col).orderBy("centroid_cos", id_col)
    return (
        j.select(
            F.col(id_col),
            F.col(label_col),
            cos.alias("centroid_cos"),
        )
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= bottom_k)
        .drop("rn")
    )


# ----------------------------------------------------------------------
# Product quantization (PQ) — compressed-domain ANN, IVF's storage twin
# ----------------------------------------------------------------------


def pq_train(
    df: DataFrame,
    m: int = 8,
    n_codes: int = 32,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seed: int = 11,
    train_rows: int = 4096,
):
    """Train product-quantization codebooks (Jégou et al., "Product
    Quantization for Nearest Neighbor Search", TPAMI 2011): split the
    vector into ``m`` contiguous subvectors and k-means each subspace
    independently to ``n_codes`` codewords.

    Same scale discipline as :func:`ivf_assign` — training never touches
    the corpus: a deterministic bounded sample (``train_rows`` smallest
    md5(id) rows, one top-k) is collected to the driver and clustered
    with in-process Lloyd's per subspace.  Returns
    ``codebooks[m][n_codes][sub_dim]`` (plain python floats, broadcast-
    able as literals).  At 100 TB the codebooks are a few KB regardless
    of corpus size; assignment (below) is the only full-data pass.
    """
    import numpy as np

    pts = _train_sample(df, vec_col, id_col, train_rows)
    dim = pts.shape[1]
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m={m} subvectors")
    sub = dim // m
    books = []
    for mi in range(m):
        seg = np.ascontiguousarray(pts[:, mi * sub : (mi + 1) * sub])
        C = _lloyd(seg, n_codes, seed + mi)
        books.append([[float(x) for x in c] for c in C])
    return books


def quantize_embeddings_pq(
    df: DataFrame,
    codebooks,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    out_col: str = "pq_codes",
) -> DataFrame:
    """Assign every vector its PQ code word per subspace: ``out_col`` is
    an ``array<int>`` of length m — dim·4 bytes of float32 become m
    bytes on disk (n_codes ≤ 256), the storage lever that makes
    billion-vector search fit a cluster's memory.

    One full-data pass, Arrow-vectorized (numpy argmin per subspace per
    batch), no shuffle — rides the scan like int8 quantization."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import ArrayType, IntegerType

    B = [np.array(b, dtype=np.float64) for b in codebooks]
    Bn2 = [(b**2).sum(1) for b in B]
    m = len(B)
    sub = B[0].shape[1]

    def _codes(vecs):
        import pandas as pd

        M = np.array(vecs.tolist(), dtype=np.float64)
        out = np.empty((M.shape[0], m), dtype=np.int64)
        for mi in range(m):
            seg = M[:, mi * sub : (mi + 1) * sub]
            d2 = (seg**2).sum(1)[:, None] - 2 * seg @ B[mi].T + Bn2[mi][None, :]
            out[:, mi] = d2.argmin(1)
        return pd.Series(list(out))

    codes_of = pandas_udf(_codes, ArrayType(IntegerType()))
    return df.withColumn(out_col, codes_of(F.col(vec_col)))


def pq_topk(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    m: int = 8,
    n_codes: int = 32,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seed: int = 11,
    rerank: int = 0,
) -> DataFrame:
    """PQ ANN top-k by asymmetric distance computation (ADC): the query
    stays in float space; every database vector is scored from its PQ
    codes alone via per-subspace lookup tables.

    ``rerank=r > 0`` runs the production two-stage shape: ADC shortlist
    of r candidates (TakeOrdered over codes only — the corpus-wide pass
    never touches float vectors), then EXACT cosine over just those r
    rows.  Recall is set by r, not by the quantizer's error; the exact
    stage costs O(r·dim) — independent of corpus size.

    The LUTs (``m × n_codes`` floats) are baked in as array literals, so
    after the one-pass Arrow quantization the scoring plan is PURE
    codegen — ``element_at(array<lit>, code+1)`` per subspace, summed —
    followed by TakeOrdered.  No shuffle, no Python in the scoring path.
    Approximate cosine: ADC dot product over the reconstruction, divided
    by ‖q‖ and the reconstruction norm (exact per-subspace: subspaces
    are disjoint coordinates, so ‖recon‖² = Σ‖codeword‖²).

    Recall < 1 by construction (quantization error); complements
    :func:`ivf_topk` (cell pruning) and :func:`int8_topk` (exact
    compressed scan) — production systems compose IVF+PQ; here they
    compose by calling :func:`pq_topk` on an IVF cell subset.
    """
    import math

    books = pq_train(df, m, n_codes, vec_col, id_col, seed)
    sub = len(books[0][0])
    qn = math.sqrt(sum(x * x for x in query_vec))

    coded = quantize_embeddings_pq(df, books, vec_col, id_col)

    # LUT scoring assembled as ONE text parse (m * n_codes * 2 double
    # literals through the Column API were thousands of py4j round
    # trips); tree shape identical to the old Column build: per-term
    # element_at(array<lit>, code+1), left-assoc sums, same CASE.
    dot_terms = []
    nrm_terms = []
    for mi in range(m):
        qseg = query_vec[mi * sub : (mi + 1) * sub]
        dlut = [sum(q * c for q, c in zip(qseg, cw)) for cw in books[mi]]
        nlut = [sum(c * c for c in cw) for cw in books[mi]]
        code = f"element_at(`pq_codes`, {mi + 1}) + 1"
        dot_terms.append(f"element_at({dlit_array(dlut)}, {code})")
        nrm_terms.append(f"element_at({dlit_array(nlut)}, {code})")
    adc_dot = "(" + " + ".join(dot_terms) + ")"
    recon_n = "SQRT((" + " + ".join(nrm_terms) + "))"
    score = F.expr(
        f"CASE WHEN {recon_n} = 0.0D THEN -1.0D "
        f"ELSE {adc_dot} / ({recon_n} * {dlit(qn)}) END"
    )
    if rerank <= 0:
        return (
            coded.select(F.col(id_col), score.alias("pq_cos"))
            .orderBy(F.col("pq_cos").desc(), F.col(id_col))
            .limit(k)
        )
    shortlist = (
        coded.select(F.col(id_col), F.col(vec_col), score.alias("pq_cos"))
        .orderBy(F.col("pq_cos").desc(), F.col(id_col))
        .limit(max(rerank, k))
    )
    exact = cosine(
        dbl_arr_sql(qcol(vec_col)), dbl_arr_sql(dlit_array(query_vec))
    )
    return (
        shortlist.select(F.col(id_col), exact.alias("pq_cos"))
        .orderBy(F.col("pq_cos").desc(), F.col(id_col))
        .limit(k)
    )


def reduce_dim_rp(
    df: DataFrame,
    dim: int,
    out_dim: int = 8,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    jl_scale: bool = False,
) -> DataFrame:
    """Random-projection dimensionality reduction (Johnson–Lindenstrauss
    / Achlioptas dense variant): project each vector onto ``out_dim``
    deterministic md5-derived hyperplanes (:func:`_hyperplane` — the
    same family sign-LSH thresholds, here kept as real coordinates).
    Distances are preserved within (1±ε) for out_dim = O(log n / ε²);
    the reduced vectors feed cheaper clustering / ANN / dedup stages at
    1/‖dim/out_dim‖ the IO.

    ``jl_scale`` multiplies by 1/√out_dim (the isometry normalization);
    off by default so the oracle is a plain dot product.  Pure per-row
    fold expressions — codegen, zero shuffle, rides the scan; the
    projection matrix is literals in the plan, no broadcast.
    """
    import math

    v = dbl_arr_sql(qcol(vec_col))
    cols = []
    for d in range(out_dim):
        plane = _hyperplane(d, dim)
        proj = dot_sql(v, dlit_array(plane))
        if jl_scale:
            proj = f"({proj} / {dlit(math.sqrt(float(out_dim)))})"
        cols.append(F.expr(proj).alias(f"rp_{d}"))
    return df.select(F.col(id_col), *cols)


def build_ivf_index(
    df: DataFrame,
    path: str,
    n_centroids: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seed: int = 7,
    train_rows: int = 4096,
    mode: str = "overwrite",
) -> list:
    """Persist the corpus PARTITIONED BY its IVF cell — the trained-
    quantizer sibling of :func:`build_ann_index` (sign-LSH needs no
    training but ignores the data distribution; IVF cells adapt to it).
    One bounded driver training + one assignment pass + partitioned
    write; the centroid table is co-persisted at ``<path>__centroids``
    so probes reopen the index without retraining.  Probe cost =
    n_probes/n_centroids of the corpus, pruned at file listing.

    Unlike LSH buckets, cell assignments change if the index is
    retrained — append new data with the SAME persisted centroids
    (recompute assignment only), and retrain/rewrite on drift like
    every production IVF deployment.
    """
    assigned, centroids = ivf_assign(
        df, n_centroids, vec_col, id_col, seed, train_rows
    )
    assigned.write.mode(mode).partitionBy("cell").parquet(path)
    spark = df.sparkSession
    rows = [(i, [float(x) for x in c]) for i, c in enumerate(centroids)]
    spark.createDataFrame(rows, "cell int, centroid array<double>").coalesce(
        1
    ).write.mode(mode).parquet(path + "__centroids")
    return centroids


def query_ivf_index(
    spark: SparkSession,
    path: str,
    query_vec: list[float],
    k: int = 10,
    n_probes: int = 3,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Top-k probe against a :func:`build_ivf_index` layout: rank the
    persisted centroids by cosine to the query (driver-side — the
    centroid table is n_centroids rows), read ONLY the n_probes nearest
    cell partitions (listing-time pruning), exact cosine within them."""
    import math

    cent = spark.read.parquet(path + "__centroids").collect()

    def _cos(a, b):
        dp = sum(x * y for x, y in zip(a, b))
        na = math.sqrt(sum(x * x for x in a))
        nb = math.sqrt(sum(x * x for x in b))
        return dp / (na * nb) if na and nb else -1.0

    probes = [
        r["cell"]
        for r in sorted(cent, key=lambda r: -_cos(query_vec, r["centroid"]))
    ][:n_probes]
    cand = spark.read.parquet(path).filter(F.col("cell").isin(probes))
    return brute_force_topk(cand.drop("cell"), query_vec, k, vec_col, id_col)


def ivfpq_topk(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    n_centroids: int = 8,
    n_probes: int = 3,
    m: int = 16,
    n_codes: int = 32,
    rerank: int = 100,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seed: int = 7,
) -> DataFrame:
    """IVF+PQ composed search — the production billion-vector index
    shape (FAISS IVFPQ): the IVF coarse quantizer prunes the corpus to
    ``n_probes`` cells, PQ's ADC scores ONLY the surviving cells from
    m-byte codes, and a bounded exact rerank fixes the shortlist.

    Composition of the two verified operators, not new machinery:
    :func:`ivf_assign` (bounded driver k-means + one broadcast
    assignment pass) then :func:`pq_topk` (codebooks trained on the
    same bounded sample discipline) over the cell-filtered candidates.
    Cost at scale: (n_probes/n_centroids) of the corpus touched, codes
    not floats scanned, exact math on ≤ rerank rows."""
    import math

    assigned, centroids = ivf_assign(
        df, n_centroids, vec_col, id_col, seed
    )

    def _cos(a, b):
        dp = sum(x * y for x, y in zip(a, b))
        na = math.sqrt(sum(x * x for x in a))
        nb = math.sqrt(sum(x * x for x in b))
        return dp / (na * nb) if na and nb else -1.0

    probes = sorted(
        range(len(centroids)), key=lambda c: -_cos(query_vec, centroids[c])
    )[:n_probes]
    cand = assigned.filter(F.col("cell").isin(probes)).drop("cell")
    return pq_topk(
        cand,
        query_vec,
        k=k,
        m=m,
        n_codes=n_codes,
        vec_col=vec_col,
        id_col=id_col,
        seed=seed + 100,
        rerank=rerank,
    )


def ann_join(
    left: DataFrame,
    right: DataFrame,
    k: int = 1,
    n_centroids: int = 8,
    n_probes: int = 2,
    vec_col: str = "embedding",
    left_id: str = "vec_id",
    right_id: str = "vec_id",
    seed: int = 7,
    dim: int | None = None,
    max_cell_rows: int | None = None,
    kernel: str = "expr",
    strict_clumps: bool = False,
) -> DataFrame:
    """Approximate k-NN JOIN between two embedding tables — the
    retrieval join (each left row fetches its nearest right rows)
    behind RAG indexing, cross-corpus near-dedup, and label transfer.
    NEVER an all-pairs product: the IVF quantizer trains on the RIGHT
    (corpus) side, both sides assign/probe cells, and candidates are
    bounded by cell size × n_probes.

    Left-side probing is one Arrow pass (vectorized top-p centroid
    argsort per batch); the cell equi-join shuffles both sides on the
    cell key; per-left top-k is a WindowGroupLimit (rank prunes
    map-side).  Output: (left_id, right_id, cos, rank).  Self-matches
    survive when the same table is on both sides — filter on the
    caller's identity columns if unwanted.

    ``max_cell_rows``: degenerate-clump guard.  A tight cluster stays
    ONE cell at any n_centroids (k-means cannot split a clump tighter
    than its own convergence — measured: 30% of a 200k corpus in one
    cell at nlist 16 AND 448), so cell size is unbounded by nlist
    alone.  With the cap set, oversized cells sub-split on a hash of
    the right id and probes fan out to every sub-cell: results are
    bit-identical, the hot cell spreads over ceil(size/cap) shuffle
    partitions.  Size n_centroids ~ sqrt(n) for balanced corpora and
    set this cap when the corpus may contain near-duplicate clumps
    (better: semantic-dedup first — the clump IS a near-dup cluster).
    AUTO-ENGAGED when left None, the build-time clump guardrail fires,
    AND the session has AQE skew-join split disabled (the r7 AQE-off
    probe's 2.60x straggler case): the cap defaults to 2x the median
    actual cell size.  AQE-on deployments (Spark's default) are
    unaffected — the skew split already handles the hot partition.

    ``kernel``: candidate scoring path.  ``"expr"`` scores each joined
    pair with the JVM cosine expression (measured ~0.5M pairs/s/core —
    per-pair array traversal).  ``"arrow"`` cogroups both sides by
    cell and scores each cell with the numpy block kernel
    (embedding_cosine_pairs_blocked's fold: acc += a[:,i]*b[:,i] per
    dimension — the identical left-to-right IEEE fold the expression
    performs, so cos values are BIT-IDENTICAL), pre-reducing to the
    per-cell top-k by (cos desc, id asc) — a sound superset of the
    global top-k under the same ordering — before the final window.
    Same results, far less scoring cost, and a window input of
    k x probes rows per query instead of every candidate.

    ``strict_clumps``: build-time clump guardrail.  The IVF training
    sample is histogrammed per cell on the driver (zero extra jobs);
    a clumped corpus (one indivisible hot cell — the measured silent
    100x-candidate pathology) warns with the mitigation order, or
    raises :class:`ClumpedCorpusError` when True.

    Zero-norm vectors (NaN cosine) are excluded from results on BOTH
    kernels — the expr path filters ~isnan, the arrow path drops NaN
    before its per-cell cut — so degenerate input cannot diverge
    between paths.  ``dim`` likewise applies to both kernels (the
    arrow matrices are sliced to [:, :dim]).
    """
    import numpy as np
    from pyspark.sql import Window
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import ArrayType, IntegerType

    assigned_r, centroids, clump = ivf_assign(
        right, n_centroids, vec_col, right_id, seed,
        strict_clumps=strict_clumps, return_stats=True,
    )
    C = np.array(centroids, dtype=np.float64)
    Cn = np.sqrt((C**2).sum(1))
    p = min(n_probes, len(centroids))

    def _probes(vecs):
        import pandas as pd

        M = np.array(vecs.tolist(), dtype=np.float64)
        Mn = np.sqrt((M**2).sum(1))
        Mn[Mn == 0] = 1.0
        cos = (M @ C.T) / (Mn[:, None] * Cn[None, :])
        top = np.argsort(-cos, axis=1)[:, :p]
        return pd.Series(list(top.astype(np.int64)))

    probes_of = pandas_udf(_probes, ArrayType(IntegerType()))
    lp = left.select(
        F.col(left_id).alias("_lid"),
        F.col(vec_col).alias("_lv"),
        F.explode(probes_of(F.col(vec_col))).alias("cell"),
    )
    rp = assigned_r.select(
        F.col(right_id).alias("_rid"), F.col(vec_col).alias("_rv"), "cell"
    )
    join_keys = ["cell"]
    sizes = None
    if max_cell_rows is None and clump["fired"]:
        # Auto-engage the sub-split cap when the deployment cannot fall
        # back on AQE's skew-join split (r7 AQE-off probe: ann_join was
        # the ONLY operator whose skew story delegated to AQE — the
        # hot-cell run degraded 178 s -> 289 s with a 2.60x straggler
        # ratio when adaptive.skewJoin was disabled and the cap, which
        # is exactly the mitigation, sat unset).  The clump signal is
        # free (build-time training-sample histogram); the cap defaults
        # to ~2x the median ACTUAL cell so balanced cells never split
        # while the clump spreads.  With AQE skew-split on (Spark's
        # default) behavior is unchanged — measured fine there.
        conf = right.sparkSession.conf
        aqe_skew_on = (
            str(conf.get("spark.sql.adaptive.enabled", "true")).lower()
            == "true"
            and str(conf.get("spark.sql.adaptive.skewJoin.enabled", "true"))
            .lower() == "true"
        )
        if not aqe_skew_on:
            import warnings

            sizes = assigned_r.groupBy("cell").agg(
                F.count(F.lit(1)).alias("n")
            ).collect()
            med = float(np.median([int(r["n"]) for r in sizes])) if sizes else 0.0
            if med > 0:
                max_cell_rows = max(1, int(2 * med))
                # only claim a spread that will actually happen: when
                # 2x-median exceeds every real cell, nsub is all-1 and
                # no split occurs, so stay silent (the cap is then a
                # no-op).  The AQE conf was sampled at plan-build time
                # above; a conf flip before the action runs is not seen.
                if any(int(r["n"]) > max_cell_rows for r in sizes):
                    warnings.warn(
                        f"ann_join: clumped corpus detected (hottest sample "
                        f"cell {clump['max_frac']:.0%}) and AQE skew-join "
                        f"split is disabled (as of plan build) — "
                        f"auto-engaging "
                        f"max_cell_rows={max_cell_rows} (2x median cell) so "
                        f"the hot cell spreads across shuffle partitions. "
                        f"Results are bit-identical; pass max_cell_rows "
                        f"explicitly to override.",
                        ClumpedCorpusWarning,
                        stacklevel=2,
                    )
    if max_cell_rows is not None:
        # Degenerate-clump guard (measured in the r6 zipf probe: a
        # tight cluster holding 30% of the corpus stays ONE cell at
        # ANY n_centroids — k-means cannot split a clump tighter than
        # its own convergence, so cell size is unbounded by nlist).
        # Sub-split oversized cells on a hash of the right id and
        # fan each probe out to every sub-cell of its probed cell:
        # the candidate SET is unchanged (results bit-identical), but
        # the join key becomes (cell, sub) so the clump spreads over
        # ceil(size/max_cell_rows) shuffle partitions instead of
        # pinning one.  Cell sizes are an n_centroids-row driver
        # fetch — bounded like the training sample.
        import math as _math

        if sizes is None:
            sizes = assigned_r.groupBy("cell").agg(
                F.count(F.lit(1)).alias("n")
            ).collect()
        nsub = {
            int(r["cell"]): max(1, _math.ceil(int(r["n"]) / max_cell_rows))
            for r in sizes
        }
        if any(v > 1 for v in nsub.values()):
            nsub_expr = F.coalesce(
                F.element_at(
                    F.create_map(
                        *[F.lit(x) for kv in sorted(nsub.items()) for x in kv]
                    ),
                    F.col("cell").cast("int"),
                ),
                F.lit(1),
            )
            rp = rp.withColumn("_sub", F.pmod(F.hash(F.col("_rid")), nsub_expr))
            lp = lp.withColumn(
                "_sub", F.explode(F.sequence(F.lit(0), nsub_expr - 1))
            )
            join_keys = ["cell", "_sub"]
    if kernel not in ("expr", "arrow"):
        raise ValueError(f"kernel must be expr|arrow, got {kernel!r}")
    if kernel == "arrow":
        import pandas as pd
        from pyspark.sql import types as T

        out_schema = T.StructType(
            [
                T.StructField("_lid", T.LongType()),
                T.StructField("_rid", T.LongType()),
                T.StructField("cos", T.DoubleType()),
            ]
        )
        kk = k

        def score_cell(left_pdf, right_pdf):
            if len(left_pdf) == 0 or len(right_pdf) == 0:
                return pd.DataFrame(
                    {"_lid": pd.Series(dtype="int64"),
                     "_rid": pd.Series(dtype="int64"),
                     "cos": pd.Series(dtype="float64")}
                )
            R = np.array(list(right_pdf["_rv"]), dtype=np.float64)
            if dim is not None:
                # fail loudly like the expr path would (element_at past
                # the array end is NULL/ANSI error, never a silent
                # narrowing) — numpy slicing would otherwise just use
                # fewer components than requested
                if R.shape[1] < dim:
                    raise ValueError(
                        f"ann_join arrow kernel: dim={dim} exceeds stored "
                        f"vector length {R.shape[1]}"
                    )
                R = R[:, :dim]
            rids = right_pdf["_rid"].to_numpy(np.int64)
            nd = R.shape[1]
            r_acc = np.zeros(len(rids))
            for i in range(nd):
                rc = R[:, i]
                r_acc += rc * rc
            r_norm = np.sqrt(r_acc)
            out_l, out_r, out_c = [], [], []
            # chunk the probe side so the dots matrix stays ~64 MB even
            # for a degenerate mega-cell (embedding_cosine_pairs_blocked
            # discipline)
            chunk = max(16, int(8_000_000 / max(len(rids), 1)))
            for s in range(0, len(left_pdf), chunk):
                sub = left_pdf.iloc[s : s + chunk]
                L = np.array(list(sub["_lv"]), dtype=np.float64)
                if dim is not None:
                    if L.shape[1] < dim:
                        raise ValueError(
                            f"ann_join arrow kernel: dim={dim} exceeds stored "
                            f"vector length {L.shape[1]}"
                        )
                    L = L[:, :dim]
                lids = sub["_lid"].to_numpy(np.int64)
                l_acc = np.zeros(len(lids))
                dots = np.zeros((len(lids), len(rids)))
                for i in range(nd):
                    lc = L[:, i]
                    l_acc += lc * lc
                    dots += lc[:, None] * R[None, :, i]
                cos = dots / (np.sqrt(l_acc)[:, None] * r_norm[None, :])
                top = min(kk, len(rids))
                for j in range(len(lids)):
                    # per-left top-k by (cos desc, rid asc) — the exact
                    # ordering of the final window, so the per-cell cut
                    # is a sound superset of the global top-k.  NaN
                    # cosines (zero-norm vectors) are excluded — both
                    # kernels filter them identically (the expr path
                    # applies ~isnan), so degenerate vectors cannot
                    # diverge between paths.
                    valid = np.flatnonzero(~np.isnan(cos[j]))
                    if len(valid) == 0:
                        continue
                    idx = valid[np.lexsort((rids[valid], -cos[j, valid]))][:top]
                    out_l.extend([lids[j]] * len(idx))
                    out_r.extend(rids[idx])
                    out_c.extend(cos[j, idx])
            return pd.DataFrame({"_lid": out_l, "_rid": out_r, "cos": out_c})

        cand = (
            lp.groupBy(*join_keys)
            .cogroup(rp.groupBy(*join_keys))
            .applyInPandas(score_cell, out_schema)
        )
        w = Window.partitionBy("_lid").orderBy(
            F.col("cos").desc(), F.col("_rid")
        )
        return (
            cand.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select(
                F.col("_lid").alias(f"left_{left_id}"),
                F.col("_rid").alias(f"right_{right_id}"),
                "cos",
                "rank",
            )
        )
    d = dim
    # try_divide (not /): a zero-norm vector is a 0/0 cosine — ANSI mode
    # would abort the whole join; NULL-then-filter drops exactly the
    # degenerate pairs, matching the arrow kernel's NaN exclusion
    cand = lp.join(rp, join_keys).select(
        "_lid",
        "_rid",
        F.expr(
            f"try_divide({dot_sql('`_lv`', '`_rv`', d, True)}, "
            f"SQRT({dot_sql('`_lv`', '`_lv`', d, True)}) * "
            f"SQRT({dot_sql('`_rv`', '`_rv`', d, True)}))"
        ).alias("cos"),
    ).where(F.col("cos").isNotNull() & ~F.isnan(F.col("cos")))
    # distinct: a right row can appear in several probed cells? no — each
    # right row has ONE cell; but a (left,right) pair can repeat only if
    # the same right cell is probed twice, which explode prevents.
    w = Window.partitionBy("_lid").orderBy(F.col("cos").desc(), F.col("_rid"))
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            F.col("_lid").alias(f"left_{left_id}"),
            F.col("_rid").alias(f"right_{right_id}"),
            "cos",
            "rank",
        )
    )


def standardize_embeddings(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    scale: int = 1_000_000,
) -> DataFrame:
    """Per-dimension z-standardization (whitening-lite): subtract the
    corpus mean and divide by the stddev of EACH coordinate — the
    normalization that stops high-variance dimensions from dominating
    cosine/L2 before ANN or clustering.

    Determinism discipline = :func:`embedding_centroids`: coordinates
    quantize to fixed-point (floor(x·scale), BIGINT), so the per-dim
    first/second moments are EXACT integer sums (order-free under any
    partitioning); the float math after that is a fixed expression per
    row.  One (dim)-keyed aggregate over the posexploded coordinates
    (bounded output: dims rows, broadcast back), one explode-join-
    reassemble.  BIGINT second moments hold to ~1e18 — at corpora
    beyond ~1e6·rows·scale² swap the sums to DECIMAL(38,0) unchanged.

    Returns (id, z) with ``z`` the standardized array<double> (input
    read at quantized precision — 1/scale — by construction).
    """
    ex = df.select(
        F.col(id_col), F.posexplode(F.col(vec_col)).alias("dim", "e")
    ).select(
        id_col,
        "dim",
        F.floor(F.col("e").cast("double") * F.lit(float(scale)))
        .cast("bigint")
        .alias("q"),
    )
    st = ex.groupBy("dim").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("q").alias("s1"),
        F.sum(F.col("q") * F.col("q")).alias("s2"),
    )
    m = F.col("s1").cast("double") / F.col("n") / F.lit(float(scale))
    # clamp: float cancellation can push an exactly-zero variance a hair
    # negative, and sqrt(neg) is NaN
    v = F.greatest(
        F.col("s2").cast("double") / F.col("n") / F.lit(float(scale) ** 2)
        - m * m,
        F.lit(0.0),
    )
    stats = st.select("dim", m.alias("_m"), F.sqrt(v).alias("_sd"))
    # constant dimension (sd=0): define z=0 rather than emit inf/NaN —
    # a zero-information coordinate should not poison downstream cosines
    z = F.when(F.col("_sd") == 0.0, F.lit(0.0)).otherwise(
        (F.col("q").cast("double") / F.lit(float(scale)) - F.col("_m"))
        / F.col("_sd")
    )
    zr = ex.join(F.broadcast(stats), "dim").select(
        id_col, "dim", z.alias("z")
    )
    return zr.groupBy(id_col).agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("dim", "z"))),
            lambda s: s["z"],
        ).alias("z")
    )
