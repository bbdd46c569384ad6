"""Row-level data-quality gate: declarative constraints → pass/fail
routing with machine-readable reasons.

The reference validates eagerly at model-build time (ModelCreating /
EntityModel validation, /root/reference/src/Core/Modeling — schema-level
only); a 100 TB ingest additionally needs ROW-level gates (the
Delta-expectations / Great-Expectations shape): every row either passes
all constraints or is routed to a quarantine side with the list of rules
it violated, so bad data never silently poisons downstream aggregates
and every drop is attributable.

Spark-first: each rule compiles to one boolean Column; the reasons
column is a ``filter(array(...))`` over (name, ok) structs — the whole
gate is a single projection fused into the scan (zero shuffles, zero
Python), and the good/bad split reuses one cached pass or two scan-fused
filters.  At scale, route ``bad`` to the DLQ sink (streaming/dlq.py) and
let ``good`` flow on — same topology as the consume path's error
routing.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


@dataclass(frozen=True)
class Rule:
    """One named constraint; ``cond`` must be a boolean Column that is
    True for PASSING rows.  NULL evaluates as a failure (three-valued
    logic would otherwise let null rows slip through every gate)."""

    name: str
    cond: Column


def not_null(col: str) -> Rule:
    return Rule(f"{col}_not_null", F.col(col).isNotNull())


def in_range(col: str, lo, hi) -> Rule:
    return Rule(f"{col}_in_range", (F.col(col) >= lo) & (F.col(col) <= hi))


def one_of(col: str, values: list) -> Rule:
    return Rule(f"{col}_one_of", F.col(col).isin(values))


def matches(col: str, pattern: str) -> Rule:
    """Anchored regex match (rlike is unanchored by default — anchor
    explicitly so the rule reads as 'the whole value matches')."""
    return Rule(f"{col}_matches", F.col(col).rlike(f"^(?:{pattern})$"))


def expression(name: str, cond: Column) -> Rule:
    return Rule(name, cond)


def _ok(rule: Rule) -> Column:
    return F.coalesce(rule.cond.cast("boolean"), F.lit(False))


def validate(
    df: DataFrame,
    rules: list[Rule],
    reasons_col: str = "_violations",
) -> DataFrame:
    """Stamp every row with the array of rule names it violates (empty
    array = clean row).  One fused projection; rule conditions are
    evaluated once each."""
    if not rules:
        raise ValueError("validate() needs at least one rule")
    names = [r.name for r in rules]
    if len(set(names)) != len(names):
        raise ValueError(f"duplicate rule names: {names}")
    checks = F.array(
        *[
            F.struct(F.lit(r.name).alias("rule"), _ok(r).alias("ok"))
            for r in rules
        ]
    )
    reasons = F.transform(
        F.filter(checks, lambda c: ~c["ok"]), lambda c: c["rule"]
    )
    return df.withColumn(reasons_col, reasons)


def quality_gate(
    df: DataFrame,
    rules: list[Rule],
    reasons_col: str = "_violations",
) -> tuple[DataFrame, DataFrame]:
    """(good, bad): rows passing every rule, and quarantined rows with
    their violation list.  Both sides are scan-fused filters over the
    same validated projection — callers that consume both should
    ``.persist()`` the validated frame or land it once and filter at
    read."""
    v = validate(df, rules, reasons_col)
    good = v.filter(F.size(reasons_col) == 0).drop(reasons_col)
    bad = v.filter(F.size(reasons_col) > 0)
    return good, bad


def violation_summary(
    df: DataFrame,
    rules: list[Rule],
    reasons_col: str = "_violations",
) -> DataFrame:
    """(rule, n_violations, violation_rate) per rule — the audit table a
    curation run publishes.  One explode + groupBy on a tiny
    (rows × violated-rules) frame, plus a broadcast 1-row total."""
    v = validate(df, rules, reasons_col)
    total = v.agg(F.count(F.lit(1)).alias("_n"))
    ex = v.select(F.explode(reasons_col).alias("rule"))
    return (
        ex.groupBy("rule")
        .agg(F.count(F.lit(1)).alias("n_violations"))
        .crossJoin(F.broadcast(total))
        .select(
            "rule",
            "n_violations",
            (F.col("n_violations") / F.col("_n")).alias("violation_rate"),
        )
    )


def corpus_report(
    df: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
    lang_col: str = "lang",
    chars_col: str = "n_chars",
) -> DataFrame:
    """Per-source curation dashboard: the one table a crawl operator
    reads before deciding mixture weights — volume, token mass, exact
    duplicate rate, and the dominant language per source.

    Scale shape: token counts and fingerprints are computed in one
    narrow projection; everything then reduces through TWO grouped
    aggregates keyed on (source) and (source, lang) — both partial-
    aggregated map-side.  The dominant-language pick is a row_number
    window over the (source × lang) summary, which is bounded by
    #sources · #languages, not by corpus size.  Ratios divide exact
    integer counts once and round to 6 dp (engine-deterministic).
    """
    from pyspark.sql import Window

    from .text import fingerprint, token_count

    base = df.select(
        F.col(group_col).alias("source"),
        F.col(lang_col).alias("lang"),
        F.col(chars_col).alias("n_chars"),
        token_count(F.col(text_col)).alias("toks"),
        fingerprint(F.col(text_col)).alias("fp"),
    )
    per_source = base.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("toks").alias("total_tokens"),
        F.round(
            F.sum("n_chars").cast("double") / F.count(F.lit(1)), 6
        ).alias("avg_chars"),
        F.count_distinct("fp").alias("n_unique"),
        F.count_distinct("lang").alias("n_langs"),
    )
    lang_counts = base.groupBy("source", "lang").agg(
        F.count(F.lit(1)).alias("lang_docs")
    )
    w = Window.partitionBy("source").orderBy(
        F.col("lang_docs").desc(), F.col("lang")
    )
    top_lang = (
        lang_counts.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("source", F.col("lang").alias("top_lang"))
    )
    return (
        per_source.join(top_lang, "source")
        .select(
            "source",
            "n_docs",
            "total_tokens",
            "avg_chars",
            F.round(
                1.0
                - F.col("n_unique").cast("double") / F.col("n_docs"),
                6,
            ).alias("dup_ratio"),
            "n_langs",
            "top_lang",
        )
    )


def profile_table(
    df: DataFrame,
    numeric_cols: list[str] | None = None,
    string_cols: list[str] | None = None,
):
    """Deequ-style column profile in ONE aggregate pass: per column —
    completeness (non-null fraction), approx distinctness, and for
    numerics min/max/decimal-exact mean.  All statistics compute as
    parallel aggregate expressions over a single scan (no per-column
    jobs — the mistake naïve profilers make at 100 TB), then unpivot
    via a literal Expand to one row per column.

    approx_count_distinct keeps the pass sketch-bounded; swap for exact
    count_distinct per column only when the profile job owns the budget
    (it multiplies the aggregate state by each column's cardinality).
    Ratios are BIGINT/BIGINT or decimal-sum divisions — deterministic.
    """
    from pyspark.sql import functions as F

    numeric_cols = numeric_cols or []
    string_cols = string_cols or []
    aggs = [F.count(F.lit(1)).alias("_n")]
    for c in numeric_cols + string_cols:
        aggs.append(F.count(c).alias(f"_nn_{c}"))
        aggs.append(F.approx_count_distinct(c).alias(f"_ad_{c}"))
    for c in numeric_cols:
        aggs.append(F.min(F.col(c).cast("double")).alias(f"_min_{c}"))
        aggs.append(F.max(F.col(c).cast("double")).alias(f"_max_{c}"))
        aggs.append(
            F.sum(F.col(c).cast("decimal(28,6)")).alias(f"_sum_{c}")
        )
    one = df.agg(*aggs)
    rows = []
    for c in numeric_cols + string_cols:
        is_num = c in numeric_cols
        rows.append(
            F.struct(
                F.lit(c).alias("column"),
                (F.col(f"_nn_{c}").cast("double") / F.col("_n")).alias(
                    "completeness"
                ),
                F.col(f"_ad_{c}").cast("bigint").alias("approx_distinct"),
                (F.col(f"_min_{c}") if is_num else F.lit(None).cast("double")).alias(
                    "min"
                ),
                (F.col(f"_max_{c}") if is_num else F.lit(None).cast("double")).alias(
                    "max"
                ),
                (
                    # exact decimal sum cast to double, THEN one IEEE
                    # division — decimal-division scale rules differ
                    # across engines, double division does not
                    (F.col(f"_sum_{c}").cast("double") / F.col(f"_nn_{c}"))
                    if is_num
                    else F.lit(None).cast("double")
                ).alias("mean"),
            )
        )
    return one.select(F.explode(F.array(*rows)).alias("p")).select("p.*")


def table_diff(
    old: DataFrame,
    new: DataFrame,
    keys: list[str],
):
    """Keyed snapshot diff — the regression gate between two runs of
    the same pipeline: per-key status ``added`` / ``removed`` /
    ``changed`` / ``unchanged``, with changed-ness attributed per
    non-key column both snapshots share (null-safe equality).  One
    full-outer join on the key; at scale both snapshots shuffle once on
    the same key (or co-locate for free from a bucketed layout,
    operators/layout.py).

    Returns (per_key_df, summary_df): the row-level statuses and the
    bounded per-status/per-column rollup a CI check asserts on.
    """
    from pyspark.sql import functions as F

    compare_cols = [c for c in old.columns if c not in keys and c in new.columns]
    o = old.select(
        *[F.col(k) for k in keys],
        *[F.col(c).alias(f"_o_{c}") for c in compare_cols],
        F.lit(True).alias("_in_o"),
    )
    n = new.select(
        *[F.col(k) for k in keys],
        *[F.col(c).alias(f"_n_{c}") for c in compare_cols],
        F.lit(True).alias("_in_n"),
    )
    j = o.join(n, keys, "full_outer")
    in_both = F.col("_in_o").isNotNull() & F.col("_in_n").isNotNull()
    # per-column diffs only count for keys present in BOTH snapshots —
    # added/removed rows differ by existence, not by column value
    diffs = [
        (in_both & ~F.col(f"_o_{c}").eqNullSafe(F.col(f"_n_{c}"))).alias(
            f"diff_{c}"
        )
        for c in compare_cols
    ]
    any_diff = None
    for c in compare_cols:
        d = ~F.col(f"_o_{c}").eqNullSafe(F.col(f"_n_{c}"))
        any_diff = d if any_diff is None else (any_diff | d)
    status = (
        F.when(F.col("_in_o").isNull(), "added")
        .when(F.col("_in_n").isNull(), "removed")
        .when(any_diff, "changed")
        .otherwise("unchanged")
    )
    per_key = j.select(*keys, status.alias("status"), *diffs)
    summary = per_key.groupBy("status").agg(
        F.count(F.lit(1)).alias("n"),
        *[
            F.sum(F.col(f"diff_{c}").cast("int")).alias(f"n_diff_{c}")
            for c in compare_cols
        ],
    )
    return per_key, summary
