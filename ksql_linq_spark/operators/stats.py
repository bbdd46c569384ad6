"""Exact-moment statistical aggregates (stddev / variance / correlation).

Built-in ``stddev``/``corr`` stream doubles through Welford-style
per-partition accumulators, so results depend on partition fold order —
fine operationally, but not bit-stable across engines, partition counts,
or reruns (see the repo's oracle-parity rules).  For pipelines that need
*reproducible* statistics (data-quality gates, drift detection on
training corpora), this module aggregates **exact decimal moments**
(sum, sum of squares, cross-sum) — decimal addition is associative and
commutative, so any partitioning gives the identical moment — and only
then evaluates the closed-form formulas in IEEE double with one fixed
expression shape.  Two engines computing the same formula over the same
exact moments produce bit-identical doubles.

Scale: one map-side-combinable groupBy — the same shuffle the plain
``stddev`` would take; no extra passes.  decimal(38) headroom: with
scale 8 the sums hold ~1e30, i.e. quadrillions of rows of |x| ≤ 1e6 —
plenty past 100 TB.  (SURVEY §2.4 supersets the reference's aggregate
set; Ksql.Linq has no statistical aggregates at all —
src/Query/Builders/Functions/KsqlFunctionRegistry lists none.)
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import cut


def moment_stats(
    df: DataFrame,
    group_cols: list[str],
    x_col: str,
    y_col: str | None = None,
    scale: int = 4,
) -> DataFrame:
    """Per-group n / mean / var_samp / stddev_samp of ``x_col`` — plus
    covar_samp / corr against ``y_col`` when given — from exact decimal
    moments.

    The decimal casts quantize inputs to ``scale`` fractional digits
    first (money-style data is already exact at its native scale; pick
    ``scale`` >= the data's).  All engines computing
    ``(n*sxx - sx*sx) / (n*(n-1))`` over the same exact moments in
    double agree bitwise.
    """
    x = F.col(x_col).cast(f"decimal(18,{scale})")
    aggs = [
        F.count(F.lit(1)).alias("n"),
        F.sum(x).alias("_sx"),
        F.sum((x * x).cast(f"decimal(38,{2 * scale})")).alias("_sxx"),
    ]
    if y_col is not None:
        y = F.col(y_col).cast(f"decimal(18,{scale})")
        aggs += [
            F.sum(y).alias("_sy"),
            F.sum((y * y).cast(f"decimal(38,{2 * scale})")).alias("_syy"),
            F.sum((x * y).cast(f"decimal(38,{2 * scale})")).alias("_sxy"),
        ]
    g = df.groupBy(*group_cols).agg(*aggs)

    n = F.col("n").cast("double")
    sx = F.col("_sx").cast("double")
    sxx = F.col("_sxx").cast("double")
    mean = sx / n
    mx = n * sxx - sx * sx  # n^2 * (n-1)/n * var — shared subterm
    var = mx / (n * (n - F.lit(1.0)))
    out = [
        *group_cols,
        F.col("n"),
        mean.alias("mean"),
        F.when(F.col("n") > 1, var).alias("var_samp"),
        F.when(F.col("n") > 1, F.sqrt(var)).alias("stddev_samp"),
    ]
    if y_col is not None:
        sy = F.col("_sy").cast("double")
        syy = F.col("_syy").cast("double")
        sxy = F.col("_sxy").cast("double")
        my = n * syy - sy * sy
        cov = (n * sxy - sx * sy) / (n * (n - F.lit(1.0)))
        corr = (n * sxy - sx * sy) / (F.sqrt(mx) * F.sqrt(my))
        out += [
            F.when(F.col("n") > 1, cov).alias("covar_samp"),
            F.when((F.col("n") > 1) & (mx > 0) & (my > 0), corr).alias("corr"),
        ]
    return g.select(*out)


def trend_fit(
    df: DataFrame,
    group_cols: list[str],
    ts_col: str,
    y_col: str,
    t0: str,
    y_scale: int = 6,
) -> DataFrame:
    """Per-group ordinary-least-squares trend of ``y_col`` over time —
    slope (units/second), intercept (value at ``t0``), and r² — from
    exact decimal moments, bit-stable across engines and partitionings
    (same discipline as :func:`moment_stats`).

    The regressor is integer seconds since the FIXED anchor ``t0``
    (e.g. the corpus epoch), never a data-dependent origin: a constant
    anchor keeps the op incremental (appending rows never re-centers
    old moments) and keeps x² magnitudes bounded so the decimal(38)
    sums hold ~1e12 rows of multi-year spans.  This is the drift-
    detection primitive for data-quality gates ("is this source's
    quality score trending down?") — the reference has no statistical
    aggregates at all (src/Query/Builders/Functions/
    KsqlFunctionRegistry.cs lists none).

    One map-side-combinable groupBy — the same single shuffle a plain
    avg would cost.

    Pick ``y_scale`` = the data's NATIVE decimal scale (money → 2), not
    "as precise as possible": the y² moment carries 2·y_scale fractional
    digits, and once a summed moment's unscaled integer exceeds 2^53 the
    decimal→double cast itself becomes a rounding step that engines
    perform differently (observed: DuckDB int128-scaling vs JVM
    BigDecimal differ by 1 ulp on DECIMAL(38,12) sums).  At the native
    scale the casts are exact far longer and the outputs stay
    bit-identical.
    """
    x = (
        F.unix_seconds(F.col(ts_col).cast("timestamp"))
        - F.unix_seconds(F.lit(t0).cast("timestamp"))
    ).cast("decimal(18,0)")
    y = F.col(y_col).cast(f"decimal(18,{y_scale})")
    g = df.groupBy(*group_cols).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x).alias("_sx"),
        F.sum((x * x).cast("decimal(38,0)")).alias("_sxx"),
        F.sum(y).alias("_sy"),
        F.sum((y * y).cast(f"decimal(38,{2 * y_scale})")).alias("_syy"),
        F.sum((x * y).cast(f"decimal(38,{y_scale})")).alias("_sxy"),
    )
    n = F.col("n").cast("double")
    sx = F.col("_sx").cast("double")
    sxx = F.col("_sxx").cast("double")
    sy = F.col("_sy").cast("double")
    syy = F.col("_syy").cast("double")
    sxy = F.col("_sxy").cast("double")
    mx = n * sxx - sx * sx
    my = n * syy - sy * sy
    cxy = n * sxy - sx * sy
    slope = cxy / mx
    return g.select(
        *group_cols,
        F.col("n"),
        F.when(mx > 0, slope).alias("slope"),
        F.when(mx > 0, (sy - slope * sx) / n).alias("intercept"),
        F.when((mx > 0) & (my > 0), (cxy * cxy) / (mx * my)).alias("r2"),
    )


def twap(
    df: DataFrame,
    keys: list[str],
    ts_col: str,
    value_col: str,
    timeframe: str,
    tiebreak_col: str | None = None,
    value_scale: int = 6,
) -> DataFrame:
    """Time-weighted average per (keys, bucket) — the TWAP aggregate
    (each observation weighted by how long it was the live value, until
    the next tick or the bucket end).  A plain avg over ticks overweights
    bursts; TWAP is the standard fix and the reference's registry has no
    analog (KsqlFunctionRegistry.cs lists only plain AVG).

    Dataflow: bucket each event, lead() the next event time within the
    (keys, bucket) window — ordered by (ts, tiebreak) so simultaneous
    ticks weight deterministically — defaulting the last tick's horizon
    to the bucket end.  Weights are exact integer microseconds and the
    weighted sum is carried in DECIMAL, so the one double division at
    the end is bit-stable across engines and partitionings (same
    discipline as :func:`moment_stats`).  The interval before the first
    tick of a bucket has no observation and carries no weight ("TWAP
    from first tick" convention).  One window + one groupBy, both on the
    same (keys, bucket) shuffle.
    """
    from pyspark.sql import Window

    from .windows import bucket_start, timeframe_seconds

    step = timeframe_seconds(timeframe)
    if step is None:
        raise ValueError("twap needs a fixed-duration timeframe")
    b = bucket_start(F.col(ts_col), timeframe).alias("bucket_start")
    order = [F.col(ts_col).asc()] + (
        [F.col(tiebreak_col).asc()] if tiebreak_col else []
    )
    w = Window.partitionBy(*keys, "bucket_start").orderBy(*order)
    extra = [F.col(tiebreak_col)] if tiebreak_col else []
    ticks = df.select(*keys, b, F.col(ts_col), F.col(value_col), *extra)
    nxt = F.lead(F.col(ts_col)).over(w)
    end = F.col("bucket_start") + F.expr(f"INTERVAL {step} SECONDS")
    dt_us = (
        F.unix_micros(F.coalesce(nxt, end)) - F.unix_micros(F.col(ts_col))
    ).cast("decimal(20,0)")
    wv = (
        F.col(value_col).cast(f"decimal(18,{value_scale})") * dt_us
    ).cast(f"decimal(38,{value_scale})")
    return (
        ticks.select(*keys, "bucket_start", dt_us.alias("_dt"), wv.alias("_wv"))
        .groupBy(*keys, "bucket_start")
        .agg(
            (
                F.sum("_wv").cast("double") / F.sum("_dt").cast("double")
            ).alias("twap"),
            F.count(F.lit(1)).alias("n_ticks"),
        )
    )


def mad_outliers(
    df,
    keys: list[str],
    value_col: str,
    k: float = 5.0,
):
    """Robust per-group outlier screen: |v − median| > k·MAD (median
    absolute deviation) — the heavy-tail-safe sibling of z-scores
    (mean/stddev move with the outliers they are meant to find; the
    median/MAD pair does not break until half the data is corrupt).

    Two grouped EXACT percentile aggregates (the per-group summary is
    bounded by group count, broadcast back into the row stream both
    times) + one codegen'd flag projection.  Same size regime as
    sketch.group_percentiles' exact path; at unbounded group
    cardinality swap the percentile calls for the GK sketch exactly as
    there.  Returns the input plus ``med``, ``mad``, ``is_outlier``.

    Degenerate case (documented contract): when MAD = 0 — a group where
    more than half the values are identical — ``k`` has no leverage, and
    ANY value that deviates from the median at all is flagged (the
    ``mad == 0`` branch below).  That is the standard strict reading of
    the MAD rule for near-constant groups: with >50% of mass at one
    point, every departure from it is anomalous.  Callers who want a
    softer fallback can pre-screen groups with a secondary scale
    estimate (e.g. mean absolute deviation) before applying this flag.
    """
    from pyspark.sql import functions as F

    v = F.col(value_col).cast("double")
    # both percentile dims are cut (session.cut): each is
    # a bounded per-group summary whose producing aggregate is an EXACT
    # percentile over the full input, and each feeds two downstream
    # branches — without the pin the median pass ran twice and the
    # input was scanned 4x (the psi_drift edge-dim pattern; broadcast
    # reuse does not fire across differently-pruned branches)
    # NOTE (r13): the frequency-compressed exact percentile rewrite
    # (sketch.group_percentiles ``compress``) was measured here and
    # REVERTED — the metric values are near-unique continuous doubles,
    # so the (keys, value) pre-aggregate buys no reduction and its
    # extra exchange made the query slower (med dim 0.21 s → 0.33 s at
    # sf0.1).  The direct grouped percentile stays.
    med_dim = cut(
        df.groupBy(*keys).agg(
            F.expr(f"percentile({value_col}, 0.5)").alias("med")
        )
    )
    with_med = df.join(F.broadcast(med_dim), keys)
    mad_dim = cut(
        with_med.select(*keys, F.abs(v - F.col("med")).alias("_ad"))
        .groupBy(*keys)
        .agg(F.expr("percentile(_ad, 0.5)").alias("mad"))
    )
    out = with_med.join(F.broadcast(mad_dim), keys)
    return out.withColumn(
        "is_outlier",
        F.when(F.col("mad") == 0.0, F.abs(v - F.col("med")) > 0.0).otherwise(
            F.abs(v - F.col("med")) > F.lit(float(k)) * F.col("mad")
        ),
    )


def psi_drift(
    ref: DataFrame,
    cur: DataFrame,
    value_col: str,
    keys: list[str] | None = None,
    n_bins: int = 10,
    value_scale: int | None = None,
):
    """Population Stability Index between a reference and a current
    snapshot — THE production drift alarm for feature/score
    distributions (PSI < 0.1 stable, 0.1–0.25 drifting, > 0.25 broken).

    Bin edges are the REFERENCE's exact inner quantiles (one grouped
    ``percentile(value, array(...))`` — a bounded per-key summary,
    broadcast back), so the reference distribution is uniform over bins
    by construction and the statistic measures the CURRENT snapshot's
    departure.  Bin of v = #edges strictly below v (codegen filter over
    the broadcast edge array); both sides then need only one grouped
    count each.  Laplace-smoothed fractions ((c+0.5)/(n+bins/2)) keep
    empty current bins finite and deterministic.  ln() is the one
    libm-vs-JVM wiggle — quantize the result (callers: guarded floor
    at 6 dp).

    ``value_scale``: when the data lives on a fixed-point grid (prices
    in cents -> 2), binning compares INTEGER grid units instead of raw
    doubles: v_int = round(v * 10^s) against edge_int = floor(edge *
    10^s + 1e-6).  An interpolated quantile edge routinely lands
    EXACTLY on a repeated data value, where engines' lerp formulas
    differ by 1 ulp (a+(b-a)f returns `a` exactly when a==b;
    a(1-f)+bf does not — observed Spark-vs-DuckDB at 10x SF) and the
    strict `value > edge` comparison flips the whole cohort of tied
    rows between bins.  Grid comparison is exact for grid data and
    invariant to any sub-grid edge wiggle.

    Returns one row per key: psi, n_ref, n_cur.  Keys present only in
    the CURRENT snapshot (no reference distribution to bin against) are
    emitted as sentinel rows with psi = +inf and n_ref = 0 — a
    brand-new key is the strongest drift signal, not a row to drop.
    """
    from pyspark.sql import functions as F

    keys = keys or []
    qs = [i / n_bins for i in range(1, n_bins)]
    qlit = "array(" + ", ".join(str(q) for q in qs) + ")"
    # the edge dim feeds BOTH binning branches through a broadcast;
    # broadcast-exchange reuse does not fire across them (measured: the
    # full ref scan + grouped exact percentile ran twice), so the tiny
    # keys x (n_bins-1) summary is cut once — expensive subtree,
    # bounded result frame
    edges = cut(
        ref.groupBy(*keys).agg(
            F.expr(f"percentile({value_col}, {qlit})").alias("_edges")
        )
    )

    def binned_counts(df, name):
        # LEFT join against the edge dim: keys absent from the reference
        # keep their rows under a -1 pseudo-bin, so the per-key TOTALS
        # fall out of this frame (sum of bin counts = row count) instead
        # of a second full scan of the input — ref/cur are each scanned
        # ONCE by the whole operator (plus the reference edges pass)
        j = (
            df.join(F.broadcast(edges), keys, "left")
            if keys
            else df.crossJoin(F.broadcast(edges))
        )
        if value_scale is not None:
            scale = float(10 ** value_scale)
            v_int = F.round(F.col(value_col).cast("double") * scale).cast("long")
            in_bin = F.filter(
                F.transform(
                    F.col("_edges"), lambda e: F.floor(e * scale + F.lit(1e-6))
                ),
                lambda e: v_int > e,
            )
        else:
            in_bin = F.filter(
                F.col("_edges"),
                lambda e: F.col(value_col).cast("double") > e,
            )
        b = F.when(F.col("_edges").isNull(), F.lit(-1)).otherwise(
            F.size(in_bin)
        )
        return (
            j.select(*keys, b.alias("_bin"))
            .groupBy(*keys, "_bin")
            .agg(F.count(F.lit(1)).alias(name))
        )

    rc = binned_counts(ref, "c_ref")
    cc = binned_counts(cur, "c_cur")
    on = [*keys, "_bin"]
    both = rc.join(cc, on, "full_outer").na.fill({"c_ref": 0, "c_cur": 0})
    # per-key totals as ONE window over the tiny binned frame (sum of
    # bin counts = row count, since every row lands in exactly one bin
    # incl. the -1 pseudo-bin): no totals re-scans of ref/cur, no
    # broadcast totals joins, no anti-join sentinel leg — the whole
    # tail is one keys-exchange + one colocated aggregate (r4 plan:
    # 9 shuffles / 8 scans; now 3 scans of the inputs total)
    from pyspark.sql import Window as _Win

    wk = _Win.partitionBy(*keys)
    st = both.select(
        *keys,
        "_bin",
        "c_ref",
        "c_cur",
        F.sum("c_ref").over(wk).alias("n_ref"),
        F.sum("c_cur").over(wk).alias("n_cur"),
    )
    half = F.lit(0.5)
    pad = F.lit(n_bins * 0.5)
    p = (F.col("c_ref") + half) / (F.col("n_ref") + pad)
    q = (F.col("c_cur") + half) / (F.col("n_cur") + pad)
    term = (q - p) * F.log(q / p)
    # a key present ONLY in the current snapshot has no reference
    # distribution to bin against (all its rows carry the -1 pseudo-bin,
    # so n_ref = 0), but it is the strongest drift signal there is —
    # emit psi = +inf, n_ref = 0 instead of silently dropping it.  Keys
    # absent from the CURRENT snapshot keep the old inner-join-on-
    # current-totals semantics: n_cur = 0 -> no output row.
    return (
        st.where(F.col("n_cur") > 0)
        .groupBy(*keys)
        .agg(
            F.when(F.max("n_ref") == 0, F.lit(float("inf")))
            .otherwise(F.sum(F.when(F.col("_bin") >= 0, term)))
            .alias("psi"),
            F.max("n_ref").alias("n_ref"),
            F.max("n_cur").alias("n_cur"),
        )
    )


def seasonal_baseline(
    df,
    keys: list[str],
    ts_col: str,
    value_col: str,
):
    """Weekly-seasonality baseline: expected value per (key, day-of-week,
    hour-of-day) as a DECIMAL-exact mean — the de-seasonalizing step
    before any residual-based anomaly rule (a Monday-9am spike is only
    a spike relative to Monday 9am).

    The profile is a bounded dim (keys × 168 cells) built in one
    grouped aggregate and broadcast back; residual = value − expected
    is a codegen projection.  Returns the input plus ``expected`` and
    ``residual``.
    """
    from pyspark.sql import functions as F

    dow = F.dayofweek(F.col(ts_col)).alias("_dow")
    hr = F.hour(F.col(ts_col)).alias("_hr")
    cells = df.select(*keys, dow, hr, F.col(value_col))
    prof = cells.groupBy(*keys, "_dow", "_hr").agg(
        (
            F.sum(F.col(value_col).cast("decimal(28,6)")).cast("double")
            / F.count(F.lit(1))
        ).alias("expected")
    )
    out = df.select("*", dow, hr).join(
        F.broadcast(prof), [*keys, "_dow", "_hr"]
    )
    return out.withColumn(
        "residual", F.col(value_col) - F.col("expected")
    ).drop("_dow", "_hr")
