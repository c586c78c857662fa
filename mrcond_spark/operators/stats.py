"""Cross-engine-exact moment statistics (mean / stddev per key).

The standardization half of q115 and the streaming anomaly gate share this
definition. Moments are computed from SUM(value) and SUM(value^2) with
per-term ``DECIMAL`` casts — exact, order-independent sums — then combined
in double with a fixed operation tree, so ``mu`` and ``sd`` are
bit-identical in Spark and the DuckDB oracle (no Welford merge-order
drift). One partial->final hash aggregate; the output is |keys|-sized.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from . import materialize_once
from .prefix_sum import banded_running_sums


def moment_stats(
    df: DataFrame,
    key_cols: list[str],
    value_col: str = "value",
) -> DataFrame:
    """Per-key ``(n, mu, sd)`` with sample (n-1) standard deviation.

    Keys with a single row get ``sd = NaN`` via an explicit ``n > 1``
    branch (a bare ``/(n-1)`` would raise DIVIDE_BY_ZERO under Spark's
    default ANSI mode instead of producing the documented NaN — the whole
    training job would die on one rare key); keys with zero spread get
    ``sd = 0``. Callers joining this back for z-scores should treat both
    as "no standardization possible".
    """
    s = df.groupBy(*key_cols).agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum(F.col(value_col).cast("decimal(28,12)")).cast("double").alias("__s1"),
        F.sum((F.col(value_col) * F.col(value_col)).cast("decimal(38,18)"))
        .cast("double")
        .alias("__s2"),
    )
    mu = F.col("__s1") / F.col("n")
    var = F.when(
        F.col("n") > 1,
        (F.col("__s2") - F.col("n") * mu * mu) / (F.col("n") - F.lit(1.0)),
    ).otherwise(F.lit(float("nan")))
    return s.select(*key_cols, "n", mu.alias("mu"), F.sqrt(var).alias("sd"))


#: pinned bands for non-finite doubles, ordered the way both engines sort
#: them: -inf < every finite value < +inf < NaN. Finite bands are CLAMPED
#: into (_BAND_NEG_INF, _BAND_FINITE_MAX]: Spark's non-ANSI double->long
#: cast saturates at Long.MaxValue, so an unclamped |v / band_width| >=
#: 2^63 (reachable: equal-valued groups clamp the derived width to 1e-9,
#: making 1e10 / 1e-9 overflow) would land finite values ON the NaN band,
#: ABOVE +Infinity, and misorder the running counts. Clamped extremes
#: still order correctly inside their band via the within-band value sort.
_BAND_NEG_INF = -(2**63)
_BAND_FINITE_MIN = -(2**63) + 1
_BAND_FINITE_MAX = 2**63 - 3
_BAND_POS_INF = 2**63 - 2
_BAND_NAN = 2**63 - 1


def _pinned_band(df: DataFrame, value_col: str, band_width: float) -> Column:
    """Band ``floor(value / band_width)`` for ``banded_running_sums``, with
    non-finite values PINNED instead of ``floor``'s NULL/overflow (a NULL
    band would silently drop the row from the offset equi-join while its
    count still reached the group total): ``-Infinity`` below every
    finite band, ``+Infinity`` above, ``NaN`` last — matching both
    engines' sort order, so a >5% NaN tail correctly surfaces in p95
    rather than vanishing."""
    # isfinite + > 0 rejects NaN, +-inf, 0, and negatives — inf slipped the
    # old `> 0` check and folded every finite value into band 0 (round-7
    # ADVICE: the guard must match the "positive finite" message)
    if not (math.isfinite(float(band_width)) and float(band_width) > 0):
        raise ValueError(
            f"robust_stats: band_width={band_width} must be a "
            "positive finite number (a negative width inverts band order "
            "and silently corrupts every quantile gate; an infinite width "
            "folds every value into one band)"
        )
    v = F.col(value_col)
    finite_band = F.greatest(
        F.least(
            F.floor(v / F.lit(float(band_width))).cast("long"),
            F.lit(_BAND_FINITE_MAX),
        ),
        F.lit(_BAND_FINITE_MIN),
    )
    if dict(df.dtypes)[value_col] not in ("double", "float"):
        return finite_band  # exact types cannot hold NaN/inf; isnan won't parse
    return (
        F.when(F.isnan(v), F.lit(_BAND_NAN))
        .when(v == F.lit(float("inf")), F.lit(_BAND_POS_INF))
        .when(v == F.lit(float("-inf")), F.lit(_BAND_NEG_INF))
        .otherwise(finite_band)
    )


#: percentile_disc thresholds as exact rationals: smallest stored value whose
#: cumulative count ``cw`` satisfies ``cw * den >= num * n`` — the integer
#: form of ``cume_dist >= p`` (verified against DuckDB's percentile_disc on
#: tied/untied multisets of both parities).
_DISC_GATES: dict[str, tuple[int, int]] = {"p05": (1, 20), "p95": (19, 20), "med": (1, 2)}


def robust_stats(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    *,
    exact: bool = True,
    accuracy: int = 10_000,
    band_width: float | None = None,
    collapse_values: bool = True,
    bounded_groups: bool = False,
) -> DataFrame:
    """Per-group robust center/spread: ``(n, p05, p95, med, win_mean, mad)``
    — 5/95 winsorized mean and the median absolute deviation (the q145
    shape, exposed as a reusable operator).

    Two interchangeable percentile backends, same output schema, and
    NEITHER buffers group members in aggregation state:

    - ``exact=True``: banded running-count selection. The frame collapses
      to ``(group, value, count)`` (one map-side-combinable shuffle), and
      each ``percentile_disc`` quantile is the smallest stored value whose
      exact running count clears an integer gate (``cw * den >= num * n``
      — the integer form of ``cume_dist >= p``, verified against DuckDB on
      tied multisets of both parities). Running counts come from
      ``prefix_sum.banded_running_sums`` over ``_pinned_band``, so
      parallelism is |groups| x |bands| and per-task state is one band
      of DISTINCT values — the exact path no longer needs a value-buffering
      ``percentile_disc`` aggregate, which capped the old route at
      ~10^8-row groups. The MAD reruns the same selection over
      ``abs(value - med)`` with the same multiplicities. Bit-identical to
      the ``percentile_disc`` definition the DuckDB oracle runs.
    - ``exact=False``: ``approx_percentile`` — Greenwald-Khanna sketch with
      rank error <= 1/accuracy and O(accuracy * log n) state per group,
      map-side mergeable like any partial aggregate — the cheap screening
      path, at the cost of a bounded rank error on the three quantiles
      (and hence a bounded perturbation of the clip points feeding
      ``win_mean`` / the MAD pivot). ``approx_percentile`` also selects a
      stored value, so output types match the exact route exactly.

    Both paths finish with a |groups|-row broadcast back and a plain hash
    aggregate for the winsorized mean (order-independent DECIMAL(38,18)
    summation over the raw rows — no count-multiplication, so no decimal
    overflow/rescale to diverge cross-engine). Two scans of ``df``, all
    shuffles keyed on ``group_cols``. Tolerance-tested against each other
    in tests/test_robust_stats.py.

    ``band_width`` (exact path): ``None`` RUNS A FULL SCAN OF ``df`` AT
    CONSTRUCTION TIME — an eager min/max aggregate over the collapsed
    frame derives ~256 bands before the caller ever triggers an action
    (marked the EAGER-builder way per PLANS.md, but it is the one place
    this otherwise-lazy operator API spends a data-sized job up front).
    Passing an explicit width from domain knowledge (the q145 style) is
    the recommended path at scale; it also trades parallelism against
    the broadcast offset frame exactly as in ``weighted_median``.
    ``collapse_values=False`` (exact
    path) skips the ``(group, value, count)`` collapse and runs the banded
    windows on raw unit-multiplicity rows — the right call when the value
    domain is near-unique and the collapse would shuffle full-width for no
    dedup; identical output either way. ``bounded_groups=True`` is the
    caller's attestation that the group key's cardinality is bounded
    (e.g. flag x year): it adds explicit broadcast hints on the
    |groups|-row stats frames and the |groups x bands| offset frame,
    skipping AQE's extra exchange round-trip; the default leaves those
    joins hint-free so an unbounded group key can never force-broadcast
    past autoBroadcastJoinThreshold (the ntile.py round-6 advisory
    pattern).

    NULL ``value_col`` rows are dropped up front (round-6 ADVICE): the
    percentile aggregates skip NULLs but ``count(*)`` would include them
    and the NULL-skipping least/greatest would clamp a NULL value to p95
    inside the winsorized sum — n, win_mean and the quantiles would
    silently disagree about the population. Dropping makes every output
    column describe the same non-NULL population, matching the
    weighted_median convention.
    """
    df = df.filter(F.col(value_col).isNotNull())
    if exact:
        if collapse_values:
            counts = (
                df.groupBy(*group_cols, value_col)
                .agg(F.count("*").cast("long").alias("__cnt"))
            )
            # Three consumers (in-band window, band totals, the MAD's
            # derived frame) of a shuffle-priced stage: evaluate once
            # (PERF.md rule).
            counts = materialize_once(counts, eager=False)
        else:
            # ``collapse_values=False``: the value domain is near-unique
            # (e.g. continuous measurements), so the collapse pays a
            # full-width shuffle + materialization for no dedup — run the
            # banded windows on raw rows with unit multiplicity instead.
            # Still exact and still memory-bounded: the running count is a
            # streaming frame over a per-(group, band) sort-based window,
            # which spills rather than buffers. The three consumers each
            # re-read the (columnar, pruned) scan — cheap relative to the
            # avoided shuffle; a production pipeline over a duplicate-heavy
            # corpus keeps the default collapse.
            counts = df.select(*group_cols, value_col).withColumn(
                "__cnt", F.lit(1).cast("long")
            )
        if band_width is None:
            fin = counts
            if dict(counts.dtypes)[value_col] in ("double", "float"):
                # derive the width from FINITE values only: a NaN max would
                # make every finite band NULL, an infinite range would fold
                # all finite values into one band (the pinned bands handle
                # the non-finite rows themselves either way).
                v = F.col(value_col)
                fin = counts.filter(
                    ~F.isnan(v)
                    & (v != F.lit(float("inf")))
                    & (v != F.lit(float("-inf")))
                )
            lohi = fin.agg(
                F.min(value_col).alias("lo"), F.max(value_col).alias("hi")
            ).first()
            lo = float(lohi["lo"]) if lohi["lo"] is not None else 0.0
            hi = float(lohi["hi"]) if lohi["hi"] is not None else 0.0
            band_width = max((hi - lo) / 256.0, 1e-9)
        # Tied values may accumulate in either order: every consumer
        # selects by VALUE at a count gate, and all orderings agree on the
        # smallest value whose running count clears it.
        cum = banded_running_sums(
            counts, group_cols, _pinned_band(counts, value_col, band_width),
            [value_col], {"__cw": F.col("__cnt")}, broadcast=bounded_groups,
        )
        q = cum.groupBy(*group_cols).agg(
            # coalesce: groups are never empty, but a bare max() is marked
            # nullable and the approx path's count(*) is not — keep the two
            # backends schema-identical (nullability included).
            F.coalesce(F.max("__cw_total"), F.lit(0)).cast("bigint").alias("n"),
            *[
                F.min(
                    F.when(
                        F.col("__cw") * F.lit(den)
                        >= F.lit(num) * F.col("__cw_total"),
                        F.col(value_col),
                    )
                ).alias(name)
                for name, (num, den) in _DISC_GATES.items()
            ],
        )
        # |groups|-row frame consumed by TWO branches (the MAD's derived
        # frame and the final stats join), each of which would otherwise
        # re-derive its whole subtree — including the data-sized window
        # exchange — once per branch. Metadata-sized, so the
        # materialization itself is free; lazy keeps construction job-free.
        q = materialize_once(q, eager=False)
        # MAD: percentile_disc(0.5) over |v - med| with the same
        # multiplicities — selection only, no summation, so collapsing to
        # distinct values loses nothing.
        med_frame = q.select(*group_cols, "med")
        av = counts.join(
            F.broadcast(med_frame) if bounded_groups else med_frame, group_cols
        ).select(
            *group_cols,
            F.abs(F.col(value_col) - F.col("med")).alias("__av"),
            "__cnt",
        )
        cum_av = banded_running_sums(
            av, group_cols, _pinned_band(av, "__av", band_width),
            ["__av"], {"__cw": F.col("__cnt")}, broadcast=bounded_groups,
        )
        mad = cum_av.groupBy(*group_cols).agg(
            F.min(
                F.when(2 * F.col("__cw") >= F.col("__cw_total"), F.col("__av"))
            ).alias("mad")
        )
        # |groups|-row frames, but |groups| is unbounded in general —
        # broadcast hints only under the caller's bounded_groups attestation
        # (AQE still broadcasts them when actually small either way).
        stats = q.join(F.broadcast(mad) if bounded_groups else mad, group_cols)
        j = df.join(F.broadcast(stats) if bounded_groups else stats, group_cols)
        clipped = F.greatest(
            F.col("p05"), F.least(F.col("p95"), F.col(value_col))
        )
        return (
            j.groupBy(*group_cols, "n", "p05", "p95", "med", "mad")
            .agg(
                F.round(
                    F.sum(clipped.cast("decimal(38,18)")).cast("double")
                    / F.count("*"),
                    4,
                ).alias("win_mean"),
            )
            .select(*group_cols, "n", "p05", "p95", "med", "win_mean", "mad")
            .orderBy(*group_cols)
        )

    def pct(p: float, order_expr: str):
        return F.expr(f"approx_percentile({order_expr}, {p}, {accuracy})")

    q = df.groupBy(*group_cols).agg(
        F.count("*").cast("bigint").alias("n"),
        pct(0.05, value_col).alias("p05"),
        pct(0.95, value_col).alias("p95"),
        pct(0.5, value_col).alias("med"),
    )
    j = df.join(F.broadcast(q) if bounded_groups else q, group_cols)
    clipped = F.greatest(
        F.col("p05"), F.least(F.col("p95"), F.col(value_col))
    )
    return (
        j.groupBy(*group_cols, "n", "p05", "p95", "med")
        .agg(
            F.round(
                F.sum(clipped.cast("decimal(38,18)")).cast("double")
                / F.count("*"),
                4,
            ).alias("win_mean"),
            pct(0.5, f"abs({value_col} - med)").alias("mad"),
        )
        .select(*group_cols, "n", "p05", "p95", "med", "win_mean", "mad")
        .orderBy(*group_cols)
    )


def mann_whitney_u_x2(
    df: DataFrame,
    group_col: str,
    side_col: str,
    value_col: str,
    band_width: int,
) -> DataFrame:
    """Per-group Mann-Whitney rank-sum statistic, DOUBLED to stay integer.

    ``side_col`` is a boolean column (True = sample A); ``value_col`` must
    be integer-typed and non-NULL (exact band math and exact midranks).
    Returns one row per group: ``(group_col, n_a, n_b, u_a_x2)`` where
    ``u_a_x2 = 2*U_A`` — midranks of ties are half-integers, so doubling
    keeps every quantity integral with no float boundary anywhere; the
    doubled rank sum itself grows as n(n+1), so it accumulates in
    DECIMAL(38,0) and the BIGINT output cast raises loudly past ~3e9
    rows per group side (same contract as ``ks_d_numerator``). The
    classic distribution-free two-sample location test (Mann & Whitney
    1947): under H0 the expectation of u_a_x2 is n_a*n_b, and callers with
    large samples can normalize downstream (kept out of this operator: the
    z-score needs a sqrt, and libm does not reproduce across engines).

    Plan shape / 100 TB: per-group midranks are a running count over
    DISTINCT values, and ``SUM() OVER (PARTITION BY group ORDER BY v)``
    with O(1) groups would be a corpus-sized single task. Instead: (1) one
    (group, value) hash aggregate collapses rows to distinct values
    (cnt_a, cnt); (2) ``prefix_sum.banded_running_sums`` gives the running
    count, banded on ``v div band_width`` with the broadcast offset join;
    (3) per-value contributions (cnt_a * (2*less + cnt + 1) = the A rows'
    doubled midrank mass at that value) fold into one final group
    aggregate. Fully lazy, no construction job.
    """
    pts = df.select(
        F.col(group_col).alias("g"),
        F.col(side_col).cast("boolean").alias("is_a"),
        F.col(value_col).alias("v"),
    )
    vals = pts.groupBy("g", "v").agg(
        F.sum(F.col("is_a").cast("bigint")).alias("ca"),
        F.count(F.lit(1)).alias("c"),
    ).withColumn("band", F.expr(f"v div {int(band_width)}"))
    # same two-consumer aggregate shape as ks_d_numerator: evaluate once.
    vals = materialize_once(vals, eager=False)
    contrib = banded_running_sums(
        vals, ["g"], F.col("band"), ["v"], {"cum": F.col("c")}, broadcast=True
    ).select("g", "ca", "c", (F.col("cum") - F.col("c")).alias("less"))
    # two_ra ~ 2*R_A <= n(n+1) wraps a silent (non-ANSI) BIGINT sum once a
    # group side passes ~3e9 rows — accumulate in DECIMAL(38,0) and guard
    # the output cast loudly, the same contract as ks_d_numerator below.
    dec = "decimal(38,0)"
    bigint_max = F.lit("9223372036854775807").cast(dec)
    u_dec = F.col("two_ra") - F.col("n_a").cast(dec) * (F.col("n_a").cast(dec) + 1)
    return (
        contrib.groupBy("g")
        .agg(
            F.sum("ca").cast("bigint").alias("n_a"),
            F.sum(F.col("c") - F.col("ca")).cast("bigint").alias("n_b"),
            F.sum(
                F.col("ca").cast(dec) * (2 * F.col("less").cast(dec) + F.col("c") + 1)
            ).alias("two_ra"),
        )
        .select(
            F.col("g").alias(group_col),
            "n_a",
            "n_b",
            F.when(u_dec <= bigint_max, u_dec.cast("bigint"))
            .otherwise(
                F.expr(
                    "raise_error('mann_whitney_u_x2: u_a_x2 exceeds BIGINT"
                    " (group sides beyond ~3e9 rows) — widen the output to"
                    " DECIMAL before normalizing')"
                ).cast("bigint")
            )
            .alias("u_a_x2"),
        )
        .orderBy(group_col)
    )


def ks_d_numerator(
    df: DataFrame,
    group_col: str,
    side_col: str,
    value_col: str,
    band_width: int,
) -> DataFrame:
    """Per-group two-sample Kolmogorov-Smirnov statistic as an EXACT integer.

    ``D = max_v |F_A(v) - F_B(v)|`` compares the two empirical CDFs; this
    returns its integer numerator ``d_num = max_v |cumA(v)*n_b -
    cumB(v)*n_a|`` so that ``D = d_num / (n_a * n_b)`` — no float division
    inside the operator, no boundary ambiguity (callers doing the
    Kolmogorov tail bound need an exp(); libm stays out for the same
    reason as ``mann_whitney_u_x2``'s z-score). ``side_col`` boolean
    (True = sample A), ``value_col`` integer non-NULL. Returns
    ``(group_col, n_a, n_b, d_num)``.

    The CDF difference is piecewise constant and changes only AT observed
    values, so scanning distinct values suffices. Running counts of BOTH
    sides and their group totals come from
    ``prefix_sum.banded_running_sums``, banded on ``v div band_width`` as
    in ``mann_whitney_u_x2`` (a plain per-group ordered window would
    single-task the corpus when groups are O(1)), then one final max
    aggregate. d_num grows as n^2 — BIGINT
    through ~10^9 rows per group side; the internal product is computed
    in DECIMAL(38,0), and a d_num beyond BIGINT range raises loudly at
    the output cast (round-6 ADVICE: Spark's non-ANSI decimal-to-bigint
    cast would otherwise return a silent NULL for group sides beyond
    ~3e9 rows, not saturate).
    """
    pts = df.select(
        F.col(group_col).alias("g"),
        F.col(side_col).cast("boolean").alias("is_a"),
        F.col(value_col).alias("v"),
    )
    vals = pts.groupBy("g", "v").agg(
        F.sum(F.col("is_a").cast("bigint")).alias("ca"),
        F.sum((~F.col("is_a")).cast("bigint")).alias("cb"),
    ).withColumn("band", F.expr(f"v div {int(band_width)}"))
    # vals is a shuffle-priced aggregate consumed by TWO branches (in-band
    # window + band totals): evaluate once (PERF.md multi-consumer rule).
    vals = materialize_once(vals, eager=False)
    cum = banded_running_sums(
        vals,
        ["g"],
        F.col("band"),
        ["v"],
        {"cum_a": F.col("ca"), "cum_b": F.col("cb")},
        broadcast=True,
    )
    dec = "decimal(38,0)"
    dev = F.abs(
        F.col("cum_a").cast(dec) * F.col("cum_b_total").cast(dec)
        - F.col("cum_b").cast(dec) * F.col("cum_a_total").cast(dec)
    )
    bigint_max = F.lit("9223372036854775807").cast(dec)
    return (
        cum.groupBy("g")
        .agg(
            F.max("cum_a_total").cast("bigint").alias("n_a"),
            F.max("cum_b_total").cast("bigint").alias("n_b"),
            F.max(dev).alias("__dev"),
        )
        .select(
            F.col("g").alias(group_col),
            "n_a",
            "n_b",
            F.when(F.col("__dev") <= bigint_max, F.col("__dev").cast("bigint"))
            .otherwise(
                F.expr(
                    "raise_error('ks_d_numerator: d_num exceeds BIGINT"
                    " (group sides beyond ~3e9 rows) — widen the output to"
                    " DECIMAL before normalizing')"
                ).cast("bigint")
            )
            .alias("d_num"),
        )
        .orderBy(group_col)
    )
