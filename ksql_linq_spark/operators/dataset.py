"""Dataset-curation operators for training-data pipelines.

Two ops a 100 TB corpus pipeline needs that are pure, deterministic
column expressions (no state, no shuffle of their own — they ride the
enclosing query's plan):

- :func:`hash_split` — stable train/val/test assignment by hashing a key
  column through md5.  Hash-based splitting is THE at-scale method: no
  global sort, no sampling state, reproducible across runs/engines, and
  adding data never reassigns existing rows.  (Random sampling with a
  seed is engine-specific; md5 is bit-identical everywhere, so the split
  is oracle-checkable.)
- :func:`pack_sequences` — greedy contiguous packing of documents into
  token-budget bins (sequence packing for LLM pretraining batches).
  Bin id = floor((running_total - own_tokens) / budget) over a per-group
  ordered window: each document goes to the bin where its prefix-sum
  starts; a document straddling a boundary belongs to the bin it starts
  in (standard streaming-packing semantics — bins can overflow by at
  most one document, never underfill by more than a document).  One
  window shuffle on the partition key; the cumulative sum is O(1) state
  per row.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..session import cut


def split_bucket(key: Column | str, buckets: int = 1000) -> Column:
    """Deterministic [0, buckets) bucket from md5 of the key's string form."""
    c = F.col(key) if isinstance(key, str) else key
    return (
        F.conv(F.substring(F.md5(c.cast("string")), 1, 4), 16, 10).cast("int")
        % buckets
    )


def hash_split(
    key: Column | str,
    fractions: dict[str, float] | None = None,
    buckets: int = 1000,
) -> Column:
    """Split-name column, e.g. ``{"train": .8, "val": .1, "test": .1}``.
    Boundaries are cumulative bucket thresholds, so fractions are exact
    to 1/buckets granularity."""
    fractions = fractions or {"train": 0.8, "val": 0.1, "test": 0.1}
    if abs(sum(fractions.values()) - 1.0) > 1e-9:
        raise ValueError(f"fractions must sum to 1, got {fractions}")
    b = split_bucket(key, buckets)
    expr = None
    cum = 0.0
    names = list(fractions)
    for name in names[:-1]:
        cum += fractions[name]
        cond = b < int(round(cum * buckets))
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
    return (expr.otherwise(names[-1]) if expr is not None else F.lit(names[-1])).alias(
        "split"
    )


def stratified_hash_sample(
    df: DataFrame,
    key: Column | str,
    strata_col: str,
    rates: dict[str, float],
    default_rate: float = 1.0,
    buckets: int = 1000,
) -> DataFrame:
    """Deterministic per-stratum downsampling: keep a row iff its md5
    bucket falls under its stratum's rate (e.g. rebalance a corpus by
    language: ``{"en": 0.25}`` keeps a quarter of English docs and all
    others).  Same hash discipline as :func:`hash_split` — no sampling
    state, reproducible across engines/runs, appends never resample
    existing rows, and filtering happens before any shuffle so
    downstream stages only see the kept fraction."""
    for name, r in rates.items():
        if not 0.0 <= r <= 1.0:
            raise ValueError(f"rate for {name!r} must be in [0,1], got {r}")
    if not 0.0 <= default_rate <= 1.0:
        raise ValueError(f"default_rate must be in [0,1], got {default_rate}")
    b = split_bucket(key, buckets)
    expr = None
    for name, r in rates.items():
        cond = F.col(strata_col) == name
        val = int(round(r * buckets))
        expr = F.when(cond, val) if expr is None else expr.when(cond, val)
    default = int(round(default_rate * buckets))
    thr = expr.otherwise(default) if expr is not None else F.lit(default)
    return df.filter(b < thr)


def mixture_upsample(
    df: DataFrame,
    key: Column | str,
    strata_col: str,
    weights: dict[str, float],
    default_weight: float = 1.0,
    buckets: int = 1000,
) -> DataFrame:
    """Deterministic source-mixture materialization with FRACTIONAL
    epoch weights — the "2.5 epochs of Wikipedia, 0.5 of CommonCrawl"
    knob every pretraining data recipe has.  A row with weight ``w``
    is emitted ``floor(w)`` times, plus once more iff its md5 bucket
    falls under ``frac(w)`` — so both up- and down-sampling are the
    same op, reproducible across engines/runs (no RNG state), and
    appends never change existing rows' copy counts.

    Output = input columns + ``copy`` (1..n for that row).  The explode
    is per-row with no shuffle of its own; at 100 TB the weight map is
    a literal CASE expression (no join), so this rides the scan and
    costs only the output volume it creates.
    """
    for name, w in weights.items():
        if w < 0:
            raise ValueError(f"weight for {name!r} must be >= 0, got {w}")
    if default_weight < 0:
        raise ValueError(f"default_weight must be >= 0, got {default_weight}")

    def parts(w: float) -> tuple[int, int]:
        whole = int(w)
        return whole, int(round((w - whole) * buckets))

    dwhole, dfb = parts(default_weight)
    if isinstance(key, str) and isinstance(strata_col, str):
        # whole weight map as ONE text parse (the Column loop was ~70
        # py4j round trips per stratum — 1.4k for a 20-source recipe);
        # identical CASE tree, exact integer math
        b_sql = (
            f"(CAST(conv(substring(md5(CAST(`{key}` AS STRING)), 1, 4), "
            f"16, 10) AS INT) % {buckets})"
        )
        branches = []
        for name, w in weights.items():
            whole, fb = parts(w)
            nm = name.replace("'", "''")
            branches.append(
                f"WHEN `{strata_col}` = '{nm}' "
                f"THEN {whole} + CAST({b_sql} < {fb} AS INT)"
            )
        default_sql = f"{dwhole} + CAST({b_sql} < {dfb} AS INT)"
        n_copies = (
            F.expr("CASE " + " ".join(branches) + f" ELSE {default_sql} END")
            if branches else F.expr(default_sql)
        )
    else:
        b = split_bucket(key, buckets)
        expr = None
        for name, w in weights.items():
            whole, fb = parts(w)
            n = F.lit(whole) + (b < fb).cast("int")
            cond = F.col(strata_col) == name
            expr = F.when(cond, n) if expr is None else expr.when(cond, n)
        default = F.lit(dwhole) + (b < dfb).cast("int")
        n_copies = expr.otherwise(default) if expr is not None else default
    return df.withColumn("__n", n_copies).where(F.col("__n") > 0).select(
        "*", F.explode(F.sequence(F.lit(1), F.col("__n"))).alias("copy")
    ).drop("__n")


def pack_sequences(
    df: DataFrame,
    token_col: str,
    order_col: str,
    budget: int,
    partition_cols: list[str] | None = None,
    bin_col: str = "bin",
) -> DataFrame:
    """Assign each row a contiguous token-budget bin id per partition
    group.  ``order_col`` must be a total order within each group
    (otherwise the cumulative sum — and thus binning — is
    nondeterministic)."""
    w = (
        Window.partitionBy(*partition_cols) if partition_cols else Window.partitionBy()
    ).orderBy(order_col)
    cum = F.sum(token_col).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    bin_id = F.floor((cum - F.col(token_col)) / float(budget)).cast("long")
    return df.withColumn(bin_col, bin_id)


def chunk_documents(df: DataFrame, text_col: str = "text",
                    id_col: str = "doc_id", chunk_chars: int = 256,
                    chunk_col: str = "chunk") -> DataFrame:
    """Split each document into fixed-width character chunks (RAG /
    context-window prep).  Pure per-row explode — no shuffle, rides the
    scan; chunk count is data-derived (sequence over length), so the
    operator streams documents of any size without driver involvement.
    Empty/blank docs yield one empty chunk (chunk_id 0) so no document
    is silently dropped."""
    n_chunks = F.greatest(
        (F.length(F.col(text_col)) - F.lit(1)) / F.lit(chunk_chars), F.lit(0)
    ).cast("long")
    ex = df.select(
        F.col(id_col),
        F.col(text_col),
        F.explode(F.sequence(F.lit(0).cast("long"), n_chunks)).alias("chunk_id"),
    )
    chunk = F.expr(
        f"substring({text_col}, CAST(chunk_id * {chunk_chars} + 1 AS INT), {chunk_chars})"
    )
    return ex.select(
        id_col,
        "chunk_id",
        chunk.alias(chunk_col),
        F.length(chunk).alias("chunk_chars"),
    )


def paragraph_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    sep: str = "\n\n",
    min_chars: int = 0,
) -> DataFrame:
    """Corpus-wide paragraph-level dedup (the C4/RefinedWeb recipe: a
    boilerplate paragraph repeated across pages is removed EVERYWHERE
    except its first occurrence, even though no two whole documents
    match).  Returns (id, text) with each document reassembled from the
    paragraphs it is allowed to keep, preserving original paragraph
    order; documents whose every paragraph was claimed elsewhere come
    back with empty text rather than disappearing (the caller decides
    the drop policy).

    Dataflow: posexplode paragraphs → md5 fingerprint → one groupBy
    min(id, pos) per fingerprint (the keeper) → broadcast-free
    self-join on fingerprint to tag keepers → re-agg by doc with
    sort_array over (pos, para) structs.  Two key-partitioned shuffles
    (fingerprint, then doc id) regardless of corpus size; the
    fingerprint shuffle carries (md5, id, pos) — never the paragraph
    text twice.  ``min_chars`` exempts short paragraphs (headings,
    list stubs) from dedup, mirroring C4's length guard.

    Reference: no text-curation surface exists in Ksql.Linq —
    training-data extension mandated by the build brief.
    """
    paras = df.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), F.lit(sep))).alias("pos", "para"),
    )
    fp = paras.withColumn("fp", F.md5(F.col("para")))
    # first occurrence = min (id, pos) pair per fingerprint, carried as a
    # single struct min (one map-side-combinable aggregate)
    keeper = (
        fp.filter(F.length("para") >= min_chars)
        .groupBy("fp")
        .agg(F.min(F.struct(id_col, "pos")).alias("k"))
        .select("fp", F.col(f"k.{id_col}").alias("_kid"), F.col("k.pos").alias("_kpos"))
    )
    kept = fp.join(keeper, "fp", "left").filter(
        (F.length("para") < min_chars)  # exempt short paras
        | ((F.col(id_col) == F.col("_kid")) & (F.col("pos") == F.col("_kpos")))
    )
    return (
        kept.groupBy(id_col)
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "para"))),
                    lambda s: s["para"],
                ),
                sep,
            ).alias(text_col)
        )
        .join(df.select(id_col), id_col, "right")
        .na.fill({text_col: ""})
    )


def distributed_ntile(
    df: DataFrame,
    n_tiles: int,
    value_col: str,
    tiebreak_col: str,
    out_col: str = "tier",
) -> DataFrame:
    """EXACT ``ntile(n) OVER (ORDER BY value, tiebreak)`` without a
    corpus-wide single-partition sort.

    The naive plan (one global window) funnels every row through ONE
    task — the classic 100 TB scale-killer.  But ntile only needs each
    row's GLOBAL RANK, and rank decomposes:

      1. per-value counts        — groupBy(value), map-side combined;
         output is |distinct values| rows (a bounded summary table, NOT
         the corpus — for token lengths it's at most max-doc-len rows),
      2. base rank per value     — running sum over that summary.  This
         is the plan's only global window and it runs over the
         aggregate, never the corpus,
      3. within-value rank       — row_number() partitioned BY VALUE
         over the corpus (distributed; skew bounded by the largest
         single value's multiplicity),
      4. global_rank = base + within, joined back via broadcast of the
         summary, and the ntile tier computed in closed form: with
         N rows, q = N div n, r = N mod n, the first r tiers get q+1
         rows — identical output, row for row, to SQL ntile.

    Exactness means the DuckDB oracle stays green; distribution means
    the same code survives 100×.
    """
    counts = df.groupBy(value_col).agg(F.count(F.lit(1)).alias("_vc"))
    w_cum = Window.orderBy(value_col).rowsBetween(
        Window.unboundedPreceding, -1
    )
    base = counts.select(
        value_col,
        F.coalesce(F.sum("_vc").over(w_cum), F.lit(0)).alias("_base"),
    )
    n_total = counts.agg(F.sum("_vc").alias("_n"))
    within = F.row_number().over(
        Window.partitionBy(value_col).orderBy(tiebreak_col)
    )
    rank = (F.col("_base") + within).alias("_rank")
    q = F.floor(F.col("_n") / n_tiles)
    r = F.col("_n") % n_tiles
    head = r * (q + F.lit(1))  # rows covered by the (q+1)-sized tiers
    tier = F.when(
        F.col("_rank") <= head,
        F.floor((F.col("_rank") - 1) / (q + F.lit(1))) + 1,
    ).otherwise(r + F.floor((F.col("_rank") - head - 1) / q) + 1)
    return (
        df.join(F.broadcast(base), value_col)
        .join(F.broadcast(n_total))
        .withColumn("_rank", rank)
        .withColumn(out_col, tier.cast("int"))
        .drop("_base", "_n", "_rank")
    )


def cap_per_group(
    df: DataFrame,
    group_col: str,
    order_by: list[Column],
    k: int,
) -> DataFrame:
    """Keep at most ``k`` rows per group, chosen by a DETERMINISTIC
    total order (pass a tiebreak column last) — the crawl-hygiene
    "max N documents per domain" cap.

    One row_number window partitioned by the group: fully distributed,
    and Spark's WindowGroupLimit pushes the rank<=k filter below the
    sort, so each partition keeps only k rows before any data moves.
    Skew bound: the largest single group's row count."""
    from pyspark.sql import Window

    w = Window.partitionBy(group_col).orderBy(*order_by)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .drop("__rn")
    )


def token_budget_sample(
    df: DataFrame,
    budget: int,
    token_col: Column | str,
    group_col: str = "source",
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic per-group corpus downsample to a TOKEN budget:
    within each group, order documents by md5(id) (an unbiased,
    append-stable shuffle order — same discipline as hash_split) and
    keep the prefix whose RUNNING token total stays within ``budget``.
    The first document of a group is always kept, so a single
    over-budget document cannot empty its group.

    One window per group (distributed); output adds ``cum_tokens`` so
    the consumer can audit how much of the budget each group used."""
    from pyspark.sql import Window

    tok = F.col(token_col) if isinstance(token_col, str) else token_col
    order = F.md5(F.col(id_col).cast("string"))
    w = (
        Window.partitionBy(group_col)
        .orderBy(order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    out = df.withColumn("__tok", tok).withColumn(
        "cum_tokens", F.sum("__tok").over(w)
    )
    return out.filter(
        (F.col("cum_tokens") <= budget)
        | (F.col("cum_tokens") - F.col("__tok") == 0)
    ).drop("__tok")


def global_order_index(
    df: DataFrame,
    order_cols: list,
    idx_col: str = "idx",
    partitions: int | None = None,
) -> DataFrame:
    """Assign a contiguous 0-based global index in the total order of
    ``order_cols`` WITHOUT a corpus-global single-partition sort — the
    scalable form of `row_number() OVER (ORDER BY ...)`.

    This is the epoch-shuffle primitive for training pipelines: order
    by a seeded hash and the index becomes a deterministic global
    shuffle position (see epoch_shuffle).

    How it scales: `repartitionByRange` samples the order keys and
    range-partitions the corpus (partition i holds keys < partition
    i+1's), so the global index decomposes into (rows in earlier
    ranges) + (rank within my range).  Per-range counts reduce to one
    row per partition — a broadcast-sized summary whose running sum
    gives each range its base offset — and the within-range rank is an
    ordinary partitioned window.  Two data shuffles (range + the
    window's hash exchange), each corpus-linear; no stage ever sees
    more than one range's rows.  ``order_cols`` must be a total order
    (append a unique id as the last column) or ranks within ties are
    partition-dependent.
    """
    n = partitions or df.sparkSession.sparkContext.defaultParallelism
    r = df.repartitionByRange(n, *order_cols).withColumn(
        "_range_id", F.spark_partition_id()
    )
    counts = r.groupBy("_range_id").agg(F.count(F.lit(1)).alias("_n"))
    offsets = counts.select(
        "_range_id",
        (
            F.sum("_n").over(
                Window.orderBy("_range_id").rowsBetween(
                    Window.unboundedPreceding, -1
                )
            )
        ).alias("_base"),
    ).fillna({"_base": 0})
    w = Window.partitionBy("_range_id").orderBy(*order_cols)
    return (
        r.withColumn("_rk", F.row_number().over(w))
        .join(F.broadcast(offsets), "_range_id")
        .withColumn(idx_col, (F.col("_base") + F.col("_rk") - 1).cast("bigint"))
        .drop("_range_id", "_rk", "_base", "_n")
    )


def epoch_shuffle(
    df: DataFrame,
    id_col: str = "doc_id",
    seed: int = 0,
    idx_col: str = "epoch_pos",
) -> DataFrame:
    """Deterministic global training-order shuffle for one epoch:
    position = global rank of md5(seed ‖ id).  Different seeds give
    independent permutations; the same seed gives the same order on
    any cluster size or partitioning (md5 is engine-portable, the
    (hash, id) pair is a total order).  Cost = global_order_index's
    two linear shuffles — no single-task sort at any corpus size."""
    h = F.md5(F.concat(F.lit(str(seed)), F.lit(":"), F.col(id_col).cast("string")))
    out = global_order_index(
        df.withColumn("_h", h), ["_h", id_col], idx_col=idx_col
    )
    return out.drop("_h")


def remove_dup_ngrams(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 5,
    min_docs: int = 2,
) -> DataFrame:
    """Cross-document duplicate-substring REMOVAL at n-gram granularity
    (the ExactSubstr recipe of Lee et al. 2022, "Deduplicating Training
    Data Makes Language Models Better", arXiv:2107.06499, relaxed from
    suffix-array substrings to fixed-n token grams so it stays a pure
    dataflow): every token covered by an n-gram occurring in ≥
    ``min_docs`` DISTINCT documents is dropped from ALL documents, and
    each document reassembles from its surviving tokens in order.
    text.cross_doc_dup_stats MEASURES this signal; this operator acts
    on it.

    Returns (id, text, n_total, n_kept) over the normalized token
    stream; fully-boilerplate documents come back with empty text (the
    caller owns the drop policy, like paragraph_dedup).

    Dataflow: positioned tokens (one doc-keyed window assembles grams
    via lead) → distinct (doc, gram) → gram doc-frequency → the
    ≥min_docs tail is the ONLY cross-doc structure, and it is the
    boilerplate dim — tiny, and always broadcast; matched gram
    occurrences expand n× into covered positions (matched only, never
    the corpus); anti-join tokens on (doc, pos); ordered reassembly per
    doc.  No all-pairs anywhere; every wide exchange is keyed by doc,
    gram, or (doc, pos).  At web scale the dup dim grows with shared
    boilerplate, not corpus size.

    The positioned-token stream feeds 3 branches (grams, survivors,
    totals); Catalyst does not reuse exchanges across
    differently-pruned branches (measured: 5 parquet scans — the regex
    tokenize re-ran per consumer), so the token stream is cut once
    (session.cut).  The gram frame is deliberately NOT
    cut: its n-gram strings are ~n× the token stream, so its
    two consumers re-run the (cheap, key-local) lead window over the
    materialized tokens instead of spilling the fattest frame in the
    plan.
    """
    from .text import norm_tokens

    if n < 2:
        raise ValueError(
            f"remove_dup_ngrams requires n >= 2 (got {n}); n=1 is plain "
            "cross-doc token dedup — use cross_doc_dup_stats/filters instead"
        )
    # r13: gram assembly and document reassembly are ROW-LOCAL over the
    # per-doc token array (guide §2.4) — the former shape paid (a) a
    # doc-keyed window exchange + sort over the FULL token stream to
    # build grams via lead(), and (b) a doc-keyed groupBy +
    # array_sort(collect_list) to reassemble survivors.  Now the token
    # array rides one materialized row per doc, grams slice out of it
    # in place, and reassembly is an ordered array filter against the
    # (bounded, matched-only) covered-position set joined back per doc.
    # Output bit-identical (exceptAll both ways empty at sf0.1).
    sub = cut(df.select(
        F.col(id_col),
        # Generate barrier (the _shingle_arrays discipline): the token
        # array is referenced by grams, the rebuild filter, and both
        # sizes — a plain Project would inline the tokenizer per use.
        # NULL text coalesces to an empty token array so those rows
        # keep the ("", 0, 0) contract (size(NULL) is -1, not 0)
        F.explode(
            F.array(
                F.coalesce(
                    norm_tokens(F.col(text_col)), F.array().cast("array<string>")
                )
            )
        ).alias("_toks"),
    ))
    # docs shorter than n tokens contribute NO grams; the when-guard is
    # load-bearing (sequence(1, 0) would COUNT DOWN, not come up empty)
    gram_expr = F.when(
        F.size("_toks") >= n,
        F.expr(
            f"transform(sequence(1, size(_toks) - {n - 1}), "
            f"i -> array_join(slice(_toks, i, {n}), ' '))"
        ),
    ).otherwise(F.array().cast("array<string>"))
    grams = sub.select(
        F.col(id_col), F.posexplode(gram_expr).alias("pos", "s")
    )
    dup_dim = F.broadcast(
        grams.select(id_col, "s")
        .distinct()
        .groupBy("s")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .where(F.col("n_docs") >= min_docs)
        .select("s")
    )
    # pos is the 0-based gram start; collect_set dedups overlapping
    # coverage, so no separate distinct() pass is needed
    cov = (
        grams.join(dup_dim, "s", "left_semi")
        .select(
            F.col(id_col),
            F.explode(F.sequence(F.col("pos"), F.col("pos") + (n - 1))).alias(
                "p"
            ),
        )
        .groupBy(id_col)
        .agg(F.collect_set("p").alias("_cov"))
    )
    kept = F.expr(
        "filter(_toks, (x, i) -> _cov IS NULL OR NOT array_contains(_cov, i))"
    )
    return (
        sub.join(cov, id_col, "left")
        .select(
            F.col(id_col),
            F.array_join(kept, " ").alias(text_col),
            F.size("_toks").cast("bigint").alias("n_total"),
            F.size(kept).cast("bigint").alias("n_kept"),
        )
    )


def weighted_sample(
    df: DataFrame,
    weight_col: str,
    k: int,
    id_col: str = "doc_id",
    group_cols: list[str] | None = None,
    seed: int = 42,
    round_to: int = 9,
) -> DataFrame:
    """Deterministic weighted sampling WITHOUT replacement (the
    Efraimidis–Spirakis A-ES scheme): each row draws key = u^(1/w) from
    a hash-derived uniform u and the k largest keys win [per group] —
    inclusion probability proportional to weight, one pass, no state.

    Engine-portable by the same md5 discipline as :func:`hash_split`:
    u comes from the first 8 md5 hex chars of (id, seed), so reruns,
    engines, and incremental appends all agree on every draw.  The key
    is rounded (9 dp) before ranking with an id tie-break — pow()'s
    last-ulp is the only cross-engine wiggle and rounding + total
    tie-order removes it.  Per-group selection is a WindowGroupLimit
    (rank prunes map-side before the exchange); ungrouped selection is
    TakeOrdered — no global sort either way.
    """
    u = (
        F.conv(
            F.substring(
                F.md5(F.concat_ws(":", F.col(id_col).cast("string"), F.lit(str(seed)))),
                1,
                8,
            ),
            16,
            10,
        ).cast("double")
        + F.lit(0.5)
    ) / F.lit(4294967296.0)
    w = F.col(weight_col).cast("double")
    key = F.round(F.pow(u, F.lit(1.0) / w), round_to)
    scored = df.withColumn("_sk", F.when(w > 0, key).otherwise(F.lit(-1.0)))
    if group_cols:
        win = Window.partitionBy(*group_cols).orderBy(
            F.col("_sk").desc(), F.col(id_col)
        )
        return (
            scored.withColumn("_rn", F.row_number().over(win))
            .where((F.col("_rn") <= k) & (F.col("_sk") >= 0))
            .drop("_rn", "_sk")
        )
    return (
        scored.where(F.col("_sk") >= 0)
        .orderBy(F.col("_sk").desc(), F.col(id_col))
        .limit(k)
        .drop("_sk")
    )


def write_shards(
    df: DataFrame,
    path: str,
    token_col: str,
    tokens_per_shard: int,
    order_cols: list[str] | None = None,
) -> "DataFrame":
    """Materialize a training corpus as token-budgeted SHARDS — the
    delivery format data loaders stream (webdataset/tfrecord-style
    "each file ≈ N tokens"), with a manifest the loader can schedule
    from without listing data files.

    Shard assignment reuses :func:`pack_sequences`' prefix-sum bins
    (one ordered window — deterministic given the order column, which
    must totally order the rows);
    the write is ``partitionBy(shard)`` so each shard is its own
    directory, and the returned manifest (shard, n_docs, n_tokens) is
    also persisted at ``<path>__manifest``.  One window + one
    partitioned write; shard count = token mass / budget, independent
    of row count.
    """
    from pyspark.sql import functions as F

    order_col = (order_cols or [token_col])[0]
    packed = pack_sequences(
        df,
        token_col=token_col,
        order_col=order_col,
        budget=tokens_per_shard,
    )
    out = packed.withColumn("shard", F.col("bin").cast("string"))
    out.write.mode("overwrite").partitionBy("shard").parquet(path)
    manifest = (
        out.groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(token_col).cast("bigint").alias("n_tokens"),
        )
    )
    manifest.coalesce(1).write.mode("overwrite").parquet(path + "__manifest")
    return manifest
