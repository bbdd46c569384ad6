"""Train/eval contamination detection via n-gram shingle overlap.

Standard LLM benchmark-decontamination method (GPT-3 appendix C /
PaLM-style): an eval document is contaminated when it shares word
n-grams with any training document.  This reports, per eval doc, how
much of its shingle set appears anywhere in the training split —
the decision input for dropping eval docs (or quarantining train docs).

Dataflow (all codegen'd, reusing :func:`~..operators.text._shingle_arrays`'s
row-local shingle assembly):

    train shingles (distinct values)  ──┐
                                        ├── inner join on shingle ──
    eval shingles (id, s, set size) ────┘
    → groupBy(eval id): overlap count / distinct train docs hit
    → left join back onto eval ids (docs with zero overlap report 0)

Scale notes: the join key is the shingle string — high cardinality,
well distributed, so the shuffle is even.  Stop-shingles (boilerplate
appearing in thousands of train docs) would blow up the exact join's
fan-out; ``approx_train_docs`` collapses the train side to one row per
distinct shingle before the join.  The reference has no such operator
(superset per the build brief's training-data list).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import cut
from .text import _shingle_arrays, shingle_rows

# HLL sketch size of the ``approx_train_docs`` path (rsd ~
# 1.04/sqrt(2^lgk)): lgk=12 is ~1.6% rsd, measured max error 6.2% over
# 15k docs at 30x (a ~4-sigma tail breaches a 5% accuracy contract);
# lgk=14 halves the rsd so the same 5% bound sits at ~6 sigma.  Sketches
# stay sparse (small) for the long tail of rare shingles — only hot
# shingles pay the dense-mode size, so the shuffle cost is marginal.
HLL_LGK = 14


def contamination_report(
    train: DataFrame,
    eval_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    approx_train_docs: bool = False,
    exact_check_col: str | None = None,
) -> DataFrame:
    """Per eval document: ``total`` distinct shingles, ``overlap`` of
    them present in the train corpus, ``train_docs`` distinct training
    documents sharing at least one shingle, and ``ratio`` =
    overlap/total.  Every eval doc appears exactly once (zero rows for
    clean docs).

    The per-doc eval set frame feeds two branches (the train join and
    the per-doc base); Catalyst does not reuse work across them
    (measured: the eval shingling re-ran per branch), so it is cut
    once — eval splits are a small fraction of the corpus by
    construction, making this the cheap side to pin.

    ``approx_train_docs`` is the boilerplate-proof scale path: the
    exact join emits one row per (eval shingle × matching train
    OCCURRENCE), so a shingle shared by k train docs fans out k× — on
    duplication-heavy corpora the join output is quadratic in the
    duplication factor (measured 12.6 s vs 1.8 s on a 10× all-dup
    probe).  With the flag on, the train side first collapses to ONE
    row per distinct shingle carrying an HLL sketch of its train-doc
    ids (datasketches hll_sketch_agg — fixed-size, mergeable), the
    join output is capped at |matched eval shingles| regardless of
    train-side multiplicity, and ``train_docs`` becomes
    hll_sketch_estimate(hll_union_agg(...)) per eval doc (``HLL_LGK``;
    ``overlap``/``ratio``/``total`` stay exact — eval shingle rows are
    distinct by construction)."""
    # the distinct eval shingle SET and its size are per-doc, hence
    # row-local array expressions (guide §2.4): no (id, s) distinct
    # exchange and no count-over-window exchange+sort.  The per-doc
    # frame (one compact row per eval doc) is what gets materialized;
    # the exploded view and the base totals both derive from it, and
    # base needs no distinct() any more — it is one row per doc by
    # construction.
    ev_sets = cut(
        _shingle_arrays(eval_df, text_col, id_col, shingle_n)
        # Generate barrier (see _shingle_arrays): _set is referenced by
        # the filter, the size, and the explode below — a Project would
        # inline the array_distinct chain into each
        .select(
            F.col(id_col),
            F.explode(F.array(F.array_distinct(F.col("_occ")))).alias("_set"),
        )
        .where(F.size("_set") > 0)
        .select(
            F.col(id_col),
            F.col("_set"),
            F.size("_set").cast("long").alias("total"),
        )
    )
    ev = ev_sets.select(
        F.col(id_col), F.explode(F.col("_set")).alias("s"), F.col("total")
    )
    tr = shingle_rows(train, text_col, id_col, shingle_n).withColumnRenamed(
        id_col, "_train_id"
    )
    if exact_check_col is not None and not approx_train_docs:
        raise ValueError("exact_check_col requires approx_train_docs=True")
    if exact_check_col is not None:
        # the train shingle stream feeds BOTH the sketch dim and the
        # exact-recount join below; without a cut the whole train
        # shingling re-runs per branch (r13: the hll query previously
        # made two operator calls and shingled train + eval TWICE)
        tr = cut(tr)
    if approx_train_docs:
        tr_dim = tr.groupBy("s").agg(
            F.hll_sketch_agg("_train_id", F.lit(HLL_LGK)).alias("_hll")
        )
        hits = (
            ev.join(tr_dim, "s")
            .groupBy(id_col)
            .agg(
                # ev rows are distinct (id, s): a plain count IS the
                # distinct-overlap count, no dedup aggregate needed
                F.count(F.lit(1)).alias("overlap"),
                F.hll_sketch_estimate(F.hll_union_agg("_hll")).alias(
                    "train_docs"
                ),
            )
        )
        base = ev_sets.select(id_col, "total")
        out = base.join(hits, id_col, "left").select(
            id_col,
            "total",
            F.coalesce("overlap", F.lit(0)).alias("overlap"),
            F.coalesce("train_docs", F.lit(0)).alias("train_docs"),
            (F.coalesce("overlap", F.lit(0)) / F.col("total")).alias("ratio"),
        )
        if exact_check_col is not None:
            # the exact recount rides the SAME cut shingle
            # frames — one extra doc-keyed aggregate instead of a whole
            # second report's shingling (identical values to the exact
            # path's train_docs: same countDistinct over the same join)
            hits_exact = (
                ev.join(tr, "s")
                .groupBy(id_col)
                .agg(F.countDistinct("_train_id").alias(exact_check_col))
            )
            out = out.join(hits_exact, id_col, "left").withColumn(
                exact_check_col, F.coalesce(exact_check_col, F.lit(0))
            )
        return out
    hits = (
        ev.join(tr, "s")
        .groupBy(id_col)
        .agg(
            F.countDistinct("s").alias("overlap"),
            F.countDistinct("_train_id").alias("train_docs"),
        )
    )
    base = ev_sets.select(id_col, "total")
    return base.join(hits, id_col, "left").select(
        id_col,
        "total",
        F.coalesce("overlap", F.lit(0)).alias("overlap"),
        F.coalesce("train_docs", F.lit(0)).alias("train_docs"),
        (F.coalesce("overlap", F.lit(0)) / F.col("total")).alias("ratio"),
    )
