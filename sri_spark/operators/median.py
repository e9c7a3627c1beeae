"""Distributed EXACT quantiles — DuckDB `quantile_cont` or, with a weight
column, the weighted inverted-CDF quantile — without a global sort, a
per-group sort of raw rows, a value-map aggregate or a driver action.

One selection serves both (`exact_quantile_by_group`): a codegen
histogram over logarithmic buckets brackets the target rank, then one
exact pass over the rows inside the bracket resolves it. The shape was
chosen against measured failures of its alternatives:

- Spark's exact `percentile` buffers a value→count map per map task —
  2.4M mostly-distinct doubles OOM'd a plain 1 GiB session — and a
  global row_number window funnels every row through one sort task;
- an equi-width [min, max] histogram collapses under heavy tails (81% of
  Theil–Sen's 2.9M slopes landed in one of 1024 cells, restoring the
  single-task sort);
- a Greenwald–Khanna bracket (`percentile_approx`) is an imperative,
  non-codegen aggregate whose per-row update was the operator's wall
  floor (~1.4 s over the slope set), and it has no weighted form.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def exact_median_1row(
    df: DataFrame, col: str, out: str, *, persist_input: bool = True
) -> DataFrame:
    """1-row frame (<out>,) holding the exact median of `df[col]`.

    NULLs are ignored (SQL aggregate semantics); an empty/all-NULL input
    yields a NULL median. The keys=[] aggregate on top makes the frame
    PROVABLY one row, so callers crossJoin it as a scalar without the
    plan advisor's cartesian-product gate firing — its physical cost is
    a first() over the single cached row of the selection.
    """
    med = exact_quantile_by_group(df, [], col, out, persist_input=persist_input)
    return med.agg(F.first(out).alias(out))


def exact_quantile_by_group(
    df: DataFrame,
    keys: list[str],
    col: str,
    out: str,
    *,
    p: float = 0.5,
    weight: str | None = None,
    persist_input: bool = False,
) -> DataFrame:
    """Per-group EXACT quantile of `col`; `keys=[]` is one group.

    - `weight=None`: DuckDB `quantile_cont(col, p) GROUP BY keys` — the
      order statistics at 1-based ranks ⌊(n−1)p⌋+1 and ⌈(n−1)p⌉+1,
      blended by frac = (n−1)p − ⌊(n−1)p⌋.
    - `weight=<column>`: the inverted-CDF weighted quantile — the
      smallest value whose cumulative weight reaches p·W (numpy's
      `method='inverted_cdf'`; the weighted median at p = 0.5). Rows
      with a NULL or ≤ 0 weight are ignored. Weights are summed as
      decimal(38,6) — exact and order-independent — so the boundary
      test cum ≥ p·W cannot flip on float summation order between this
      plan and a DuckDB window oracle; use p values exact in
      decimal(12,10) (0.5, 0.25, 0.9, ...).

    Both modes sum a "mass" per run of rows (row count, or weight) and
    differ only in the rank targets and the final interpolation:

    1. bracket — ONE groupBy(group, bucket) over sign/exponent/mantissa
       buckets (below) summing mass, min and max; a per-group window
       over the populated buckets yields the group's total mass and the
       mass before each bucket, and the bucket span covering both targets
       gives the bracket [a, b] as OBSERVED data values.
    2. band — rows below [a, b] merge into one counter cell per group,
       rows inside tie-collapse to (value, mass) cells, rows above are
       dropped; a cumulative window over the cells picks the first value
       whose cumulative mass reaches each target.

    A broken bracket cannot produce a silently wrong answer: the final
    projection runs through `assert_true(both values found)`. Group keys
    ride in a struct, so NULL keys keep GROUP BY semantics through the
    band join (struct equality is null-safe). Result: `keys + [out]`, one
    row per group with ≥ 1 qualifying row, returned as a LAZY
    scoped-persist leaf: the selection runs inside the caller's first
    action, later actions share it, and nested calls (Theil–Sen feeds one
    median into another's input) stay small plans. `persist_input`
    caches the projected input for the two passes — leave it False when
    regenerating the input is cheaper than a cache write.

    At 100 TB both passes are map-side-combined codegen aggregates whose
    shuffles carry ≤ groups × populated-bucket rows or the band's
    tie-collapsed cells; the only per-group serial work is the two
    windows over those.
    """
    if not 0.0 <= p <= 1.0:
        raise ValueError(f"quantile p must be in [0,1], got {p}")
    from sri_spark.operators.caching import scoped_persist

    keep = F.col(col).isNotNull()
    cols = [
        F.struct(*[F.col(k) for k in keys]).alias("__g"),
        F.col(col).cast("double").alias("__v"),
    ]
    if weight is None:
        mass = F.count("*")
    else:
        keep = keep & F.col(weight).isNotNull() & (F.col(weight) > 0)
        cols.append(F.col(weight).cast("decimal(38,6)").alias("__w"))
        mass = F.sum("__w")
    vals = df.filter(keep).select(*cols)
    if persist_input:
        vals = scoped_persist(vals)

    v = F.col("__v")
    n = F.col("__n")  # the group's total mass
    if weight is None:
        h = (n - F.lit(1)).cast("double") * F.lit(float(p))
        t_lo = (F.floor(h) + F.lit(1)).cast("long")
        t_hi = (F.ceil(h) + F.lit(1)).cast("long")
    else:
        t_lo = t_hi = n * F.lit(p).cast("decimal(12,10)")

    def covers(start, end, lo, hi):
        # the mass run (start, end] reaches target lo and does not lie
        # past target hi; a target of 0 (weighted p = 0) names the first
        # value, whose run starts at 0
        return ((start < hi) | (start == F.lit(0))) & (end >= lo)

    # bucket b = sign · ((2048 + floor(log2|v|)) · 256 + floor((m − 1) · 256)),
    # m = |v| / 2^floor(log2|v|) ∈ [1, 2): a data-independent, MONOTONE
    # partition of the double line (6k binades × 256 mantissa slices per
    # sign, only populated ones materialize). Relative-width buckets need
    # no [min, max] pass and cannot be stretched by outliers: the bracket
    # narrows to values agreeing with the target through 8 significand
    # bits. FP rounding at binade edges can move an index by ±1 without
    # breaking monotonicity, the only property the rank arithmetic uses.
    # ±inf and NaN take sentinel buckets (NaN above +inf: Spark orders
    # NaN largest).
    sentinel = 10_000_000
    exp = F.floor(F.log2(F.abs(v)))
    mant = F.abs(v) / F.pow(F.lit(2.0), exp)  # division: subnormal-safe
    mag = (F.lit(2048.0) + exp) * F.lit(256.0) + F.floor(
        (mant - F.lit(1.0)) * F.lit(256.0)
    )
    bucket = (
        F.when(F.isnan(v), F.lit(sentinel + 1))
        .when(v == F.lit(float("inf")), F.lit(sentinel))
        .when(v == F.lit(float("-inf")), F.lit(-sentinel))
        .when(v == F.lit(0.0), F.lit(0))
        .otherwise((F.signum(v) * mag).cast("long"))
    )

    wg = Window.partitionBy("__g")
    w_cum = (
        Window.partitionBy("__g")
        .orderBy("__bk")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    hist = (
        vals.withColumn("__bk", bucket)
        .groupBy("__g", "__bk")
        .agg(
            mass.alias("__cnt"),
            F.min("__v").alias("__mn"),
            F.max("__v").alias("__mx"),
        )
        .withColumn("__n", F.sum("__cnt").over(wg))
        .withColumn(
            "__start", F.coalesce(F.sum("__cnt").over(w_cum), F.lit(0))
        )
    )
    start = F.col("__start")
    bracket = hist.filter(covers(start, start + F.col("__cnt"), t_lo, t_hi))
    bounds = [
        F.first("__n").alias("__n"),
        F.min("__mn").alias("__a"),
        F.max("__mx").alias("__b"),
    ]
    if keys:
        band = vals.join(bracket.groupBy("__g").agg(*bounds), "__g")
    else:
        # one group: an equi-join on the constant key would fold into a
        # CartesianProduct; a keys=[] aggregate is provably one row, so
        # the bracket joins as a broadcast scalar instead
        band = vals.crossJoin(F.broadcast(bracket.agg(*bounds)))

    tag = F.when(v < F.col("__a"), F.lit(-1)).when(
        v > F.col("__b"), F.lit(1)
    ).otherwise(F.lit(0))
    cells = (
        band.withColumn("__t", tag)
        .filter(F.col("__t") <= 0)
        .withColumn("__cv", F.when(F.col("__t") == 0, v))
        .groupBy("__g", "__t", "__cv")
        .agg(mass.alias("__c"), F.first("__n").alias("__n"))
    )
    w_cells = (
        Window.partitionBy("__g")
        .orderBy("__cv")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    pos_lo = F.col("__below") + F.coalesce(
        F.sum("__c").over(w_cells), F.lit(0)
    )
    positioned = (
        cells.withColumn(
            "__below",
            F.coalesce(
                F.sum(F.when(F.col("__t") == -1, F.col("__c"))).over(wg),
                F.lit(0),
            ),
        )
        .filter(F.col("__t") == 0)
        .withColumn("__pos_lo", pos_lo)
        .withColumn("__pos_hi", F.col("__pos_lo") + F.col("__c"))
    )

    def pick(t):
        return F.min(
            F.when(
                covers(F.col("__pos_lo"), F.col("__pos_hi"), t, t),
                F.col("__cv"),
            )
        )

    stats = positioned.groupBy("__g").agg(
        pick(t_lo).alias("__vlo"),
        pick(t_hi).alias("__vhi"),
        F.first("__n").alias("__n"),
    )
    vlo, vhi = F.col("__vlo"), F.col("__vhi")
    value = vlo if weight is not None else vlo + (h - F.floor(h)) * (vhi - vlo)
    guarded = stats.select(
        "__g",
        F.when(
            F.assert_true(
                vlo.isNotNull() & vhi.isNotNull(),
                F.lit(
                    "exact_quantile_by_group: histogram bracket missed "
                    "the target rank — bracket invariant broken"
                ),
            ).isNull(),
            value,
        ).alias(out),
    )
    return scoped_persist(
        guarded.select(*[F.col(f"__g.{k}").alias(k) for k in keys], out)
    )
