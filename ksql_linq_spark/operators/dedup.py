"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard,
embedding-cosine near-dup.

Scale design notes (100 TB):
- exact: one hash-shuffle on the fingerprint; keep-first via min(doc_id)
  aggregation (no window sort needed).
- MinHash (Broder-style): ONE md5 per shingle, split into two 32-bit
  halves (h1, h2); hash family i is the linear permutation
  (h1 + i*h2) mod 2^32.  Signatures are 8 plain min() aggregates over
  the exploded shingle rows — whole-stage-codegen arithmetic with
  map-side partial aggregation, one shuffle of 8 longs per doc.  md5
  (not xxhash) so the DuckDB oracle reproduces bit-for-bit.
- LSH pairs: band the signature, groupBy (band_idx, band_hash) and
  expand pairs INSIDE each bucket from a collect_list — the signature
  subtree is computed once (a self-join would compute it twice) and
  the shuffle carries one row per (doc, band), never n^2.
- SimHash: 32-bit sign-aggregated token-hash fingerprint; near-dups =
  equal fingerprint (hamming-0 fast path) or banded hamming join.
- n-gram Jaccard: explode shingles carrying the per-doc set size with
  each row, bucket by shingle, expand in-bucket pairs, then one
  groupBy(pair) — set sizes ride along so no extra join or
  re-computation of the shingle subtree.  Prune frequent shingles
  (stop-shingles) before pairing at scale.
- embedding cosine: exact pairwise guarded by a similarity threshold;
  norms precomputed per vector (not per pair) and the dot product
  unrolled into a left-associative codegen'd Add chain — bitwise
  identical to the F.aggregate fold, ~30x faster.  At scale use lsh
  buckets from similarity.py.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .text import fingerprint, shingle_rows

_MOD32 = 2**32


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep the lowest-id row per normalized-text fingerprint."""
    fp = df.select(F.col(id_col), fingerprint(F.col(text_col)).alias("fp"))
    keep = fp.groupBy("fp").agg(F.min(id_col).alias(id_col)).drop("fp")
    return df.join(keep, on=id_col, how="inner")


def _md5_half(s: Column, offset: int) -> Column:
    """One 32-bit half of md5(s) as a non-negative BIGINT (offset 1 or 9)."""
    return F.conv(F.substring(F.md5(s), offset, 8), 16, 10).cast("long")


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 8,
    shingle_n: int = 3,
) -> DataFrame:
    """(id, sig ARRAY<BIGINT>): sig[i] = min over shingles of
    (h1(s) + i*h2(s)) mod 2^32, with h1/h2 the two 32-bit halves of
    md5(shingle) — the classic Broder linear-permutation hash family.

    One md5 per shingle (common-subexpression-eliminated across the two
    halves), then num_hashes codegen'd min() aggregates with map-side
    partial aggregation: the shuffle carries num_hashes longs per doc.
    Reference parity: this is the Spark-native stand-in for content
    near-dup detection the reference delegates to Kafka (no equivalent
    op exists there; brief-mandated training-data extension).
    """
    ex = shingle_rows(df, text_col, id_col, shingle_n)
    h = ex.select(
        F.col(id_col),
        _md5_half(F.col("s"), 1).alias("h1"),
        _md5_half(F.col("s"), 9).alias("h2"),
    )
    # one text parse per aggregate (the Column build was ~10 py4j round
    # trips per hash); exact integer math — tree and results identical
    mins = [
        F.expr(f"MIN(pmod(`h1` + {i} * `h2`, {_MOD32}))").alias(f"m{i}")
        for i in range(num_hashes)
    ]
    agg = h.groupBy(id_col).agg(*mins)
    return agg.select(
        F.col(id_col), F.array(*[F.col(f"m{i}") for i in range(num_hashes)]).alias("sig")
    )


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 8,
    bands: int = 4,
    shingle_n: int = 3,
    max_bucket_size: int = 256,
) -> DataFrame:
    """Candidate near-dup pairs (a < b) sharing >= 1 LSH band.

    bands divides num_hashes; rows_per_band = num_hashes // bands.
    One groupBy on (band_idx, band_hash) then in-bucket pair expansion:
    the signature subtree runs once (a self-join would run it twice) and
    the shuffle is bucket-bounded, not quadratic.

    DEGENERATE-BUCKET CAP: an adversarial corpus (everything identical)
    puts n docs in ONE bucket, and full expansion is n² — the one
    quadratic escape hatch left in round 2.  Buckets larger than
    ``max_bucket_size`` now emit a sorted CONSECUTIVE CHAIN
    (ids[i], ids[i+1]) instead: O(n) pairs that keep the bucket a single
    connected component, so downstream clustering
    (graph.connected_components / dedup_minhash_clusters) produces the
    IDENTICAL partition of documents — only the redundant transitive
    edges are dropped.  Candidate-pair consumers that verify pairwise
    should verify per-cluster after clustering (the chain is a recall
    statement about components, not about individual edges).  The cap is
    deterministic (array_sort order), so results are stable run to run.
    """
    # Band key = the RAW signature slice (2 longs), not md5 of its
    # string form: bucket equality is slice equality either way (md5 is
    # deterministic on the slice; a cross-slice md5 collision — odds
    # ~2^-128 — is the only world where the md5 form differs, and the
    # oracle's own md5 banding shares that world), but the raw slice
    # shuffles 16 bytes instead of a 32-char string and skips one md5 +
    # array_join + transform per (doc, band) — guide §2.3 narrower keys.
    rows_per_band = num_hashes // bands
    sig = minhash_signatures(df, text_col, id_col, num_hashes, shingle_n)
    band_structs = [
        F.struct(
            F.lit(b).alias("band_idx"),
            F.slice(F.col("sig"), b * rows_per_band + 1, rows_per_band).alias(
                "band_key"
            ),
        )
        for b in range(bands)
    ]
    banded = sig.select(
        F.col(id_col), F.explode(F.array(*band_structs)).alias("band")
    ).select(id_col, "band.band_idx", "band.band_key")
    buckets = (
        banded.groupBy("band_idx", "band_key")
        .agg(F.collect_list(id_col).alias("ids"))
        .filter(F.size("ids") >= 2)
    )
    # sort each bucket ONCE through a Generate barrier: the pair
    # expressions reference the sorted array many times (slice per
    # element), and without the barrier CollapseProject re-inlines
    # array_sort into EVERY reference — the before-plan shows 8+
    # array_sort evaluations per bucket (the _shingle_arrays hazard)
    sorted_b = buckets.select(
        F.explode(F.array(F.array_sort(F.col("ids")))).alias("sids")
    )
    pair_expr = F.when(
        F.size("sids") <= max_bucket_size, _presorted_pairs(F.col("sids"))
    ).otherwise(_presorted_chain(F.col("sids")))
    return (
        sorted_b.select(F.explode(pair_expr).alias("p"))
        .select("p.id_a", "p.id_b")
        .distinct()
    )


def _presorted_pairs(sorted_ids: Column) -> Column:
    """All (id_a < id_b) pairs of an ALREADY-SORTED id array.  The
    caller should bind ``sorted_ids`` to an attribute (Generate
    barrier) — the expression references it per element, and an inlined
    array_sort would be re-evaluated at every reference."""
    return F.flatten(
        F.transform(
            sorted_ids,
            lambda x, i: F.transform(
                F.slice(sorted_ids, i + 2, F.size(sorted_ids)),
                lambda y: F.struct(x.alias("id_a"), y.alias("id_b")),
            ),
        )
    )


def _presorted_chain(sorted_ids: Column) -> Column:
    """Consecutive (ids[i], ids[i+1]) pairs of an ALREADY-SORTED array
    (see :func:`_presorted_pairs` for the attribute-binding contract)."""
    n = F.size(sorted_ids)
    return F.zip_with(
        F.slice(sorted_ids, 1, n - 1),
        F.slice(sorted_ids, 2, n - 1),
        lambda a, b: F.struct(a.alias("id_a"), b.alias("id_b")),
    )


def simhash(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
            bits: int = 32) -> DataFrame:
    """(id, simhash BIGINT): sign-aggregated 32-bit token-hash fingerprint.

    Token hash = first 8 hex chars of md5 (engine-portable); bit j of the
    fingerprint is 1 iff sum over tokens of (+1 if token-hash bit j else -1)
    is positive.
    """
    from .text import norm_tokens

    # explode tokens (tokenizer runs once per row), hash each token, then
    # 32 codegen'd sign-vote SUM aggregates with map-side partials — the
    # earlier form ran 32 interpreted F.aggregate folds per row
    th = df.select(
        F.col(id_col),
        F.explode(norm_tokens(F.col(text_col))).alias("tok"),
    ).select(
        F.col(id_col), _md5_half(F.col("tok"), 1).alias("h")
    )
    # text-parsed builds (the Column loops were ~18 py4j round trips
    # per bit x 2 passes); exact integer math — results identical
    votes = [
        F.expr(
            f"SUM(CASE WHEN (`h` & CAST({1 << j} AS BIGINT)) != 0 "
            f"THEN 1 ELSE -1 END)"
        ).alias(f"v{j}")
        for j in range(bits)
    ]
    agg = th.groupBy(id_col).agg(*votes)
    fp = "CAST(0 AS BIGINT)"
    for j in range(bits):
        fp = (
            f"({fp} | CASE WHEN `v{j}` > 0 THEN CAST({1 << j} AS BIGINT) "
            f"ELSE CAST(0 AS BIGINT) END)"
        )
    return agg.select(F.col(id_col), F.expr(fp).alias("simhash"))


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """Exact n-gram Jaccard similarity for pairs sharing >= 1 shingle.

    Single pass over the shingle sets: the per-doc set size rides along
    with every exploded row, shingle buckets expand their own (a < b)
    pairs, and one groupBy(pair) counts intersections — no re-scan of
    the shingle subtree and no size-lookup join.
    """
    from .text import _shingle_arrays

    # the distinct shingle SET and its size are per-doc quantities —
    # row-local array expressions, no exchange and no window (the
    # earlier distinct() + count().over(partitionBy(id)) form paid an
    # (id, s) exchange plus an id exchange+sort before the first real
    # cross-doc shuffle below; guide §2.4)
    # _set goes through the same Generate barrier as _occ (see
    # _shingle_arrays): it is referenced twice below (size + explode),
    # and a plain Project would inline the array_distinct per reference
    sets = _shingle_arrays(df, text_col, id_col, shingle_n).select(
        F.col(id_col).alias("id"),
        F.explode(F.array(F.array_distinct(F.col("_occ")))).alias("_set"),
    )
    ex = sets.select(
        F.col("id"),
        F.size("_set").cast("long").alias("sz"),
        F.explode(F.col("_set")).alias("s"),
    )
    buckets = (
        ex.groupBy("s")
        .agg(F.collect_list(F.struct("id", "sz")).alias("ds"))
        .filter(F.size("ds") >= 2)
    )
    # sort each bucket ONCE through a Generate barrier (the
    # minhash_lsh_pairs r14 fix): the pair expansion references the
    # sorted array per element, and without the barrier CollapseProject
    # re-inlines array_sort into every slice/size reference —
    # O(k² log k) sorts per k-doc bucket
    buckets = buckets.select(
        F.explode(F.array(F.array_sort(F.col("ds")))).alias("sds")
    )
    sorted_ds = F.col("sds")
    pair_expr = F.flatten(
        F.transform(
            sorted_ds,
            lambda x, i: F.transform(
                F.slice(sorted_ds, i + 2, F.size(sorted_ds)),
                lambda y: F.struct(
                    x["id"].alias("id_a"),
                    x["sz"].alias("sz_a"),
                    y["id"].alias("id_b"),
                    y["sz"].alias("sz_b"),
                ),
            ),
        )
    )
    inter = (
        buckets.select(F.explode(pair_expr).alias("p"))
        .groupBy("p.id_a", "p.id_b", "p.sz_a", "p.sz_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    return (
        inter.withColumn(
            "jaccard",
            F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def embedding_cosine_pairs_blocked(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.95,
    max_rows: int = 200_000,
) -> DataFrame:
    """Exact cosine near-dup pairs (id_a < id_b, cos >= threshold) via
    the shared numpy fold (similarity._cosine_chunks, mapInPandas):
    bit-for-bit the cosine of similarity.cosine's Column expression and
    the DuckDB list_reduce oracle, ~10x faster than evaluating the
    unrolled expression per pair in a join condition.

    The comparison side is collected to the driver and shipped to every
    task (n*d doubles — the same footprint a broadcast join would ship).
    This is the exact-small-side regime; when both sides are large,
    bucket first (similarity.random_projection_buckets) and run this
    kernel per bucket.  The ``max_rows`` gate makes the quadratic regime an
    explicit opt-in: above it the operator REFUSES rather than
    launching an O(n²) job by accident — raise the cap deliberately or
    switch to minhash_lsh_pairs / semantic_dedup, the scale paths.
    """
    import numpy as np
    import pandas as pd

    from pyspark.sql import types as T

    from .graph import _fetch_if_small
    from .similarity import _as_matrix, _cosine_chunks, _require_integral_ids, _work_partitions

    _require_integral_ids("embedding_cosine_pairs_blocked", (df, id_col))
    # one execution of the upstream plan decides the regime AND fetches
    # the vectors, as Arrow (graph._fetch_if_small)
    tbl = _fetch_if_small(
        df.select(F.col(id_col), F.col(vec_col)).orderBy(id_col), max_rows
    )
    if tbl is None:
        raise ValueError(
            f"embedding_cosine_pairs_blocked: more than {max_rows} rows hit "
            f"the exact-quadratic gate (max_rows={max_rows}); this op is "
            "O(n^2) by contract — use minhash_lsh_pairs/semantic_dedup at "
            "corpus scale, or raise max_rows deliberately"
        )
    ids = np.array(tbl.column(id_col).to_pylist(), dtype=np.int64)
    mat = _as_matrix(tbl.column(vec_col).to_pylist())

    out_schema = T.StructType(
        [
            T.StructField("id_a", T.LongType()),
            T.StructField("id_b", T.LongType()),
            T.StructField("cos", T.DoubleType()),
        ]
    )

    def run(batches):
        for pdf in batches:
            batch_ids = pdf[id_col].to_numpy(dtype=np.int64)
            for s, cos in _cosine_chunks(pdf[vec_col], mat):
                a_ids = batch_ids[s : s + len(cos)]
                ai, bi = np.nonzero(
                    (cos >= threshold) & (a_ids[:, None] < ids[None, :])
                )
                yield pd.DataFrame(
                    {"id_a": a_ids[ai], "id_b": ids[bi], "cos": cos[ai, bi]}
                )

    return (
        df.select(F.col(id_col), F.col(vec_col))
        .repartition(_work_partitions(df.sparkSession, tbl.num_rows))
        .mapInPandas(run, out_schema)
    )


def semantic_dedup_blocked(
    df: DataFrame,
    block_col: str,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.95,
) -> DataFrame:
    """SemDeDup-style semantic deduplication: vectors whose cosine
    exceeds ``threshold`` within a block are near-duplicates; each
    similarity cluster keeps ONE representative (its min id).

    Returns every input id with its ``cluster_id`` (= min id of its
    component; singletons cluster to themselves) and ``keep`` — the
    per-cluster representative flag a curation pipeline filters on.

    Dataflow: blocked cosine pairs (|block|² per block, blocks in
    parallel — block by IVF cell / LSH bucket at corpus scale) →
    connected components over the PAIR list only (near-dup graphs are
    tiny relative to the corpus) → broadcast-scale join back.  Exact
    within blocks; cross-block near-dups are the blocker's recall
    trade, same contract as the published SemDeDup recipe (clusters
    from k-means cells).
    """
    from .graph import dedup_clusters
    from .similarity import _require_integral_ids

    _require_integral_ids("semantic_dedup_blocked", (df, id_col))
    pairs = _block_pairs_arrow(df, block_col, vec_col, id_col, threshold)
    clusters = dedup_clusters(df.select(id_col), pairs, id_col)
    return clusters.select(
        id_col, "cluster_id", (F.col("cluster_id") == F.col(id_col)).alias("keep")
    )


def incremental_dedup(
    new_df: DataFrame,
    corpus_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Incremental ingestion dedup: from a NEW batch, keep only
    documents whose normalized-text fingerprint (a) wins within the
    batch (min id per fingerprint — deterministic) and (b) does not
    already exist in the CORPUS.

    This is the day-2 shape of exact_dedup: the corpus side reduces to
    a distinct single-column fingerprint projection (at 100 TB, a
    bucketed/Z-ordered fingerprint table or a Bloom pre-filter feeding
    this anti-join), so re-deduplicating the whole corpus per ingest is
    never needed.  Two fingerprint-keyed shuffles (batch groupBy +
    anti-join); the corpus scan reads one derived column.
    """
    from .text import fingerprint

    batch = new_df.withColumn("fp", fingerprint(text_col))
    # NB: alias the aggregate's key — joining batch_best["fp"] against
    # batch["fp"] dedups to a trivially-true self-comparison (both
    # resolve to the same attribute through the groupBy lineage)
    batch_best = batch.groupBy("fp").agg(F.min(id_col).alias("_keep_id")).select(
        F.col("fp").alias("_fp"), "_keep_id"
    )
    batch_kept = batch.join(
        batch_best,
        (F.col("fp") == F.col("_fp")) & (F.col(id_col) == F.col("_keep_id")),
    ).select(batch["*"])
    seen = corpus_df.select(fingerprint(text_col).alias("fp")).distinct()
    return batch_kept.join(seen, "fp", "left_anti")


def _block_pairs_arrow(
    df: DataFrame, block_col: str, vec_col: str, id_col: str, threshold: float
) -> DataFrame:
    """Per-block (id_a < id_b, cos >= threshold) pair kernel for
    :func:`semantic_dedup_blocked`: groupBy(block).applyInPandas moves
    VECTORS, not pair rows, and each block is scored with the shared
    fold over unit vectors (similarity._cosine_chunks, ``unit=True`` —
    the oracle's normalise-then-dot form)."""
    import numpy as np
    import pandas as pd

    from pyspark.sql import types as T

    from .similarity import _cosine_chunks

    out_schema = T.StructType(
        [
            T.StructField("id_a", df.schema[id_col].dataType),
            T.StructField("id_b", df.schema[id_col].dataType),
        ]
    )

    def blk(pdf: "pd.DataFrame") -> "pd.DataFrame":
        ids = pdf[id_col].to_numpy(dtype=np.int64)
        out_a, out_b = [np.zeros(0, dtype=np.int64)], [np.zeros(0, dtype=np.int64)]
        for s, cos in _cosine_chunks(pdf[vec_col], unit=True):
            a_ids = ids[s : s + len(cos)]
            ai, bi = np.nonzero((cos >= threshold) & (a_ids[:, None] < ids[None, :]))
            out_a.append(a_ids[ai])
            out_b.append(ids[bi])
        return pd.DataFrame({"id_a": np.concatenate(out_a), "id_b": np.concatenate(out_b)})

    return (
        df.select(block_col, id_col, vec_col)
        .groupBy(block_col)
        .applyInPandas(blk, out_schema)
    )
