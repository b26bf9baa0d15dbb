"""Data-quality expectations — declarative constraint checking.

Beyond the reference (which trusts its fixtures; SURVEY §5): a 100 TB
ingest needs machine-checked contracts — null rates, value ranges,
uniqueness, referential integrity — evaluated as a handful of
map-side-combinable aggregates, never a row-by-row validator.  The
pattern is public (Deequ / Great Expectations-style constraint
suites); the implementation here is plain DataFrame aggregation.

Three rule kinds, one report schema (rule, n_rows, n_violations,
passed):

- ``row_rule(name, predicate)`` — predicate must hold per row; the
  violation count is one SUM over the negated predicate (NULL counts
  as a violation: an unevaluable constraint is a broken one).
- ``unique_rule(name, cols)`` — violations = rows beyond the first of
  each duplicated key (n_rows − n_distinct): one partial-agg distinct.
- ``fk_rule(name, ref_df, key, ref_key)`` — referential integrity:
  violations = rows whose key has no match (left-anti join; broadcast
  when the reference side is a dimension).

Each rule is a tiny 1-row aggregate; the report unions them —
evaluation cost is one scan per source table (Spark shares the scan
across same-table rules via plan reuse), and the report is a handful
of rows regardless of data size.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from nosql_join_stream_spark.operators import spread


@dataclass
class _Rule:
    name: str
    frame: DataFrame  # 1-row (rule, n_rows, n_violations)


def row_rule(name: str, df: DataFrame, predicate: Column) -> _Rule:
    """Per-row constraint; NULL predicate = violation (an unevaluable
    constraint is a broken one, not a pass)."""
    viol = F.sum(F.when(F.coalesce(predicate, F.lit(False)), 0)
                  .otherwise(1)).cast("long")
    return _Rule(name, df.agg(
        F.lit(name).alias("rule"),
        F.count("*").alias("n_rows"),
        F.coalesce(viol, F.lit(0)).alias("n_violations")))


def unique_rule(name: str, df: DataFrame, cols: list[str]) -> _Rule:
    """Key-uniqueness: violations = rows beyond the first per key."""
    return _Rule(name, df.agg(
        F.lit(name).alias("rule"),
        F.count("*").alias("n_rows"),
        (F.count("*") - F.count_distinct(*[F.col(c) for c in cols]))
            .cast("long").alias("n_violations")))


def fk_rule(name: str, df: DataFrame, ref: DataFrame,
            key: str, ref_key: str) -> _Rule:
    """Referential integrity: violations = rows whose key value has no
    match in the reference table (broadcast anti-join — reference
    sides are dimensions)."""
    orphans = df.join(F.broadcast(ref.select(F.col(ref_key).alias(key))
                                     .distinct()),
                      key, "left_anti")
    return _Rule(name, df.agg(F.count("*").alias("n_rows")).crossJoin(
        orphans.agg(F.count("*").cast("long").alias("n_violations")))
        .select(F.lit(name).alias("rule"), "n_rows", "n_violations"))


def table_profile(df: DataFrame, cols: list[str]) -> DataFrame:
    """ANALYZE-style column profile in ONE aggregate pass: per column
    — null count, exact distinct count (NULLs excluded, both engines'
    COUNT DISTINCT convention), numeric min/max via try_cast to
    double (non-numeric values profile as NULL bounds, never error).
    The single .agg computes every statistic map-side-combinable in
    one scan; ``stack`` unpivots the 1-row result into one row per
    column — at 100 TB this is one pass over the table regardless of
    how many columns are profiled, the profile that drives
    partition-size planning, skew checks, and expectations-rule
    thresholds."""
    if not cols:
        raise ValueError("table_profile needs at least one column")
    aggs = [F.count("*").alias("__n")]
    for c in cols:
        aggs += [
            F.sum(F.col(c).isNull().cast("long")).alias(f"__nn_{c}"),
            F.count_distinct(F.col(c)).alias(f"__nd_{c}"),
            F.round(F.min(F.col(c).try_cast("double")), 4)
             .alias(f"__mn_{c}"),
            F.round(F.max(F.col(c).try_cast("double")), 4)
             .alias(f"__mx_{c}"),
        ]
    one = df.agg(*aggs)
    parts = ", ".join(
        f"'{c}', __nn_{c}, __nd_{c}, __mn_{c}, __mx_{c}" for c in cols)
    return one.selectExpr(
        f"stack({len(cols)}, {parts}) AS "
        "(col_name, n_nulls, n_distinct, min_num, max_num)",
        "__n AS n_rows",
    ).select("col_name", "n_rows", "n_nulls", "n_distinct",
             "min_num", "max_num")


def expectations_report(rules: list[_Rule]) -> DataFrame:
    """Union the rule aggregates into one (rule, n_rows, n_violations,
    passed) report — a handful of rows regardless of data size."""
    if not rules:
        raise ValueError("expectations_report needs at least one rule")
    out = rules[0].frame
    for r in rules[1:]:
        out = out.unionByName(r.frame)
    return out.withColumn("passed", (F.col("n_violations") == 0))


def _sentinel_guarded_group(group_col: str) -> Column:
    """The reported group label for sketch-by-group operators: NULL
    groups become '<NULL>', and a REAL group whose string value is
    '<NULL>' or '__ALL__' raises in-plan (it would alias the
    synthesized rows).  The raise lives INSIDE the surviving label
    expression — a dropped assert_true column gets pruned by the
    optimizer along with its side effect, which is exactly the dead-
    guard bug this helper replaces."""
    grp_str = F.col(group_col).cast("string")
    return (F.when(grp_str.eqNullSafe("<NULL>"),
                   F.raise_error(F.lit(
                       "group value '<NULL>' collides with the "
                       "null-group sentinel")).cast("string"))
            .when(grp_str == "__ALL__",
                  F.raise_error(F.lit(
                      "group value '__ALL__' collides with the "
                      "merged-total sentinel")).cast("string"))
            .otherwise(F.coalesce(grp_str, F.lit("<NULL>"))))


def sketch_cardinality_by_group(df, group_col: str, value_col: str,
                                rel_err: float = 0.05):
    """Mergeable distinct-count sketches (Apache DataSketches HLL via
    Spark's ``hll_sketch_agg``) with an IN-PLAN accuracy witness —
    the cardinality machinery a 100 TB deployment actually runs:
    exact ``COUNT(DISTINCT)`` re-shuffles the full value stream every
    time, while per-partition/per-day sketches are KBs that MERGE
    without re-scanning history.

    Returns one row per group plus an ``__ALL__`` row:
    (group, n_distinct, hll_ok) where ``n_distinct`` is the exact
    count (the oracle-checkable truth) and ``hll_ok`` asserts the
    sketch estimate is within ``rel_err`` of it.  The ``__ALL__``
    row's estimate comes from UNION-MERGING the per-group sketches
    (``hll_union_agg``) — the mergeability property itself under
    test, not just the per-group accuracy.  DataSketches HLL is
    hash-deterministic and order-independent, so the witness is
    stable across runs and engines.
    """
    from pyspark.sql import functions as F

    per = df.groupBy(group_col).agg(
        F.count_distinct(value_col).alias("n_distinct"),
        F.hll_sketch_agg(value_col).alias("sk"))
    # NULL groups report as the '<NULL>' group; a REAL string group
    # named '<NULL>' (or '__ALL__', the merged-total sentinel) would
    # be indistinguishable from the synthesized row, so both fail
    # IN-PLAN.  The guard is folded into the SURVIVING grp column
    # itself (when-collision-then-raise_error), not a dropped
    # assert_true side column: Catalyst prunes a projected-then-
    # dropped column together with its assert, which left the old
    # guard dead — collisions silently produced two conflicting rows
    # (caught by test_sketches.py's liveness probes in r10).
    per_rows = per.select(
        _sentinel_guarded_group(group_col).alias("grp"),
        "n_distinct",
        F.hll_sketch_estimate("sk").alias("est"))
    total_exact = df.agg(F.count_distinct(value_col).alias("n_distinct"))
    merged = per.agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est"))
    all_row = (total_exact.crossJoin(F.broadcast(merged))
               .select(F.lit("__ALL__").alias("grp"), "n_distinct", "est"))
    ok = (F.abs(F.col("est") - F.col("n_distinct"))
          <= F.lit(rel_err) * F.col("n_distinct"))
    return (per_rows.unionByName(all_row)
            .select("grp", "n_distinct", ok.alias("hll_ok")))


def profile_drift(old: DataFrame, new: DataFrame,
                  null_rate_tol: float = 0.05,
                  range_tol: float = 0.5) -> DataFrame:
    """Day-2 drift detection between two :func:`table_profile`
    outputs (e.g. yesterday's ingest vs today's): per column, the
    null-rate delta, distinct-ratio change, and numeric-range
    movement, each with a boolean flag — the automated "did the
    upstream change under us" check that catches silently-broken
    extractors before they poison a training run.

    Flags: ``null_drift`` — |null rate delta| > ``null_rate_tol``;
    ``range_drift`` — min/max moved by more than ``range_tol`` ×
    the OLD range (a new out-of-domain tail); ``appeared`` /
    ``vanished`` — column profiled on only one side (schema drift).
    Inputs are profile outputs (rows = columns), so the comparison
    is a join of two tiny frames — free at any data size; the cost
    was the two profile passes, already paid.
    """
    o = old.select(
        F.col("col_name"),
        (F.col("n_nulls") / F.col("n_rows")).alias("o_null_rate"),
        F.col("n_distinct").alias("o_distinct"),
        F.col("min_num").alias("o_min"), F.col("max_num").alias("o_max"))
    n = new.select(
        F.col("col_name"),
        (F.col("n_nulls") / F.col("n_rows")).alias("n_null_rate"),
        F.col("n_distinct").alias("n_distinct_new"),
        F.col("min_num").alias("n_min"), F.col("max_num").alias("n_max"))
    j = o.join(n, "col_name", "full_outer")
    # in-schema drift signals are only meaningful when BOTH profiles
    # carry the column; an appeared/vanished column already signals
    # schema drift, and treating its missing side as rate 0 would
    # raise a false null_drift for any column with NULLs
    both = F.col("o_null_rate").isNotNull() & F.col("n_null_rate").isNotNull()
    null_delta = F.when(
        both, F.round(F.col("n_null_rate") - F.col("o_null_rate"), 4))
    old_range = F.col("o_max") - F.col("o_min")
    moved = F.greatest(F.abs(F.col("n_min") - F.col("o_min")),
                       F.abs(F.col("n_max") - F.col("o_max")))
    range_drift = F.when(
        F.col("o_min").isNull() | F.col("n_min").isNull(), F.lit(False)
    ).otherwise(
        F.when(old_range > 0, moved > range_tol * old_range)
         .otherwise(moved > 0))
    return j.select(
        "col_name",
        null_delta.alias("null_rate_delta"),
        F.coalesce(F.abs(null_delta) > null_rate_tol,
                   F.lit(False)).alias("null_drift"),
        F.round(F.col("n_distinct_new")
                / F.col("o_distinct"), 4).alias("distinct_ratio"),
        range_drift.alias("range_drift"),
        F.col("o_null_rate").isNull().alias("appeared"),
        F.col("n_null_rate").isNull().alias("vanished"))


def sketch_quantiles_by_group(df: DataFrame, group_col: str,
                              value_col: str,
                              qs: "tuple" = (0.25, 0.5, 0.75, 0.9),
                              rank_err: float = 0.02,
                              sketch_k: "int | None" = None) -> DataFrame:
    """Mergeable quantile sketches (Apache DataSketches KLL via Spark's
    ``kll_sketch_agg_double``) with an IN-PLAN accuracy witness — the
    percentile machinery a 100 TB deployment actually runs: exact
    ``percentile`` re-sorts the full value stream per group every
    time, while per-partition/per-day KLL sketches are KBs that MERGE
    without re-scanning history (``kll_merge_agg_double`` — the
    ``__ALL__`` row below exercises exactly that).

    KLL's contract is RANK error, not value error, and Spark's
    ``kll_sketch_get_rank_double`` takes only foldable arguments — so
    the witness is rank-faithful from the value side: take the
    SKETCH's quantile estimate at each q, re-rank it EXACTLY with one
    cheap broadcast-join aggregate, and require q to fall inside
    ``[rank_lt − rank_err, rank_le + rank_err]`` where ``rank_lt`` /
    ``rank_le`` are the exact shares of values strictly-below / at-or-
    below the estimate.  The interval (not a point check against
    ``rank_le`` alone) is what makes the witness correct under TIES:
    a duplicated mass makes rank_le jump — e.g. a 99%-one-value column
    puts the median's rank_le at 0.99 with rank_lt 0 — and any value
    KLL legitimately returns satisfies the interval while a point
    check would flag it.  Default k=200 KLL gives ~1.7% normalized
    rank error at 99% confidence, so 0.02 is the honest default
    tolerance; ``sketch_k`` is exposed so tests can force a
    low-accuracy sketch and prove the witness actually fires.

    Returns one row per group plus ``__ALL__``: (grp, q_<q> exact
    percentiles rounded to 4 — the oracle-checkable truth — and
    kll_ok).  Cost: TWO scans of the frame, both via a two-label
    explode (each row contributes to its own group AND ``__ALL__``
    inside the generator — never a self-union that reads the source
    twice per pass; r10 review catch): one for the exact percentiles
    + per-group sketches fused in the same aggregate, one for the
    rank re-check against the broadcast estimates.  The ``__ALL__``
    estimates still come from MERGING the per-group sketches — the
    mergeability property under test — not from a direct pass.
    """
    qcols = [f"q_{str(q).replace('.', '')}" for q in qs]
    exact_aggs = [F.expr(f"round(percentile(__v, {q}), 4)")
                  .alias(c) for q, c in zip(qs, qcols)]
    karg = f", {int(sketch_k)}" if sketch_k is not None else ""
    # the exact-percentile + KLL partial aggregation is the heavy
    # map-side work of this operator; an under-partitioned input (one
    # parquet file) would run it serially, so spread first (a wide
    # input is untouched)
    df = spread(df)
    vals = df.select(
        F.explode(F.array(_sentinel_guarded_group(group_col),
                          F.lit("__ALL__"))).alias("grp"),
        F.col(value_col).alias("__v"))
    per = vals.groupBy("grp").agg(
        *exact_aggs,
        F.expr(f"kll_sketch_agg_double(__v{karg})").alias("__sk"))
    # the __ALL__ row's direct sketch is DISCARDED: its estimates
    # must come from merging the per-group sketches, which is the
    # property under test
    merged = (per.filter(F.col("grp") != "__ALL__")
              .agg(F.expr("kll_merge_agg_double(__sk)").alias("__mk")))
    per = per.join(F.broadcast(merged),
                   F.lit(True)).withColumn(
        "__sk", F.when(F.col("grp") == "__ALL__", F.col("__mk"))
                 .otherwise(F.col("__sk"))).drop("__mk")
    est = per.select(
        "grp", *qcols,
        *[F.expr(f"kll_sketch_get_quantile_double(__sk, {q})")
          .alias(f"__e_{c}") for q, c in zip(qs, qcols)])
    rank_aggs = []
    for c in qcols:
        rank_aggs.append(F.avg((F.col("__v") < F.col(f"__e_{c}"))
                               .cast("double")).alias(f"__rlt_{c}"))
        rank_aggs.append(F.avg((F.col("__v") <= F.col(f"__e_{c}"))
                               .cast("double")).alias(f"__rle_{c}"))
    ranked = (vals.join(F.broadcast(est), "grp")
              .groupBy("grp").agg(*rank_aggs))
    ok = None
    for q, c in zip(qs, qcols):
        cond = ((F.lit(float(q))
                 >= F.col(f"__rlt_{c}") - F.lit(float(rank_err)))
                & (F.lit(float(q))
                   <= F.col(f"__rle_{c}") + F.lit(float(rank_err))))
        ok = cond if ok is None else (ok & cond)
    return (est.join(ranked, "grp")
            .select("grp", *qcols, ok.alias("kll_ok")))


def sketch_set_overlap(df: DataFrame, group_col: str, value_col: str,
                       group_a: str, group_b: str,
                       rel_err: float = 0.05) -> DataFrame:
    """Distinct-value set algebra between two cohorts via mergeable
    theta sketches (Apache DataSketches theta: the sketch family that
    supports INTERSECTION and DIFFERENCE, which HLL cannot), with an
    in-plan exactness witness.

    The 100 TB case: "how many users did both X and Y" across
    arbitrary cohort pairs is one KB-sized sketch per cohort plus
    set algebra at read time — exact COUNT(DISTINCT) intersection
    re-shuffles the raw stream per PAIR of cohorts.  Below the
    sketch's nominal entries (lgK=12 → 4096) theta runs in exact
    mode, so the witness tolerance holds trivially; above it the
    default ``rel_err`` matches the published RSE.

    Returns ONE row: exact n_a / n_b / n_intersect / n_union /
    n_a_only (the oracle-checkable truth) and ``theta_ok`` asserting
    every theta estimate (union, intersection, a-minus-b) is within
    ``rel_err`` of its exact counterpart.  Cost: one value-keyed
    partial-agg distinct pass for the truth + one fused sketch
    aggregate; no pair-space anything.
    """
    in_a = F.col(group_col).cast("string") == group_a
    in_b = F.col(group_col).cast("string") == group_b
    v = F.col(value_col)
    # NULL values are excluded from BOTH sides: theta sketches skip
    # NULL inputs, and counting them as set members in the exact
    # truth would false-flag the witness on legitimate data (r10
    # review catch) — same convention as sketch_cardinality_by_group,
    # whose count_distinct truth excludes NULLs.
    flags = (df.filter((in_a | in_b) & v.isNotNull())
             .groupBy(v.alias("__v"))
             .agg(F.max(in_a).alias("__a"), F.max(in_b).alias("__b")))
    # coalesce(0): with BOTH cohorts empty the flags frame has no
    # rows and SUM aggregates to NULL (caught by the r10 property
    # fuzz) — the exact counts are 0, not unknown
    exact = flags.agg(
        F.coalesce(F.sum(F.col("__a").cast("long")), F.lit(0))
        .alias("n_a"),
        F.coalesce(F.sum(F.col("__b").cast("long")), F.lit(0))
        .alias("n_b"),
        F.coalesce(F.sum((F.col("__a") & F.col("__b")).cast("long")),
                   F.lit(0)).alias("n_intersect"),
        F.count("*").alias("n_union"),
        F.coalesce(F.sum((F.col("__a") & ~F.col("__b")).cast("long")),
                   F.lit(0)).alias("n_a_only"))
    # column-based CASE, never string interpolation: a cohort value
    # carrying a quote must select normally, not parse-error (or
    # worse, inject) — r10 review catch
    sk = df.agg(
        F.theta_sketch_agg(F.when(in_a, v)).alias("__ska"),
        F.theta_sketch_agg(F.when(in_b, v)).alias("__skb"))
    ests = sk.select(
        F.expr("theta_sketch_estimate(__ska)").alias("__ea"),
        F.expr("theta_sketch_estimate(__skb)").alias("__eb"),
        F.expr("theta_sketch_estimate(theta_intersection(__ska, __skb))")
        .alias("__ei"),
        F.expr("theta_sketch_estimate(theta_union(__ska, __skb))")
        .alias("__eu"),
        F.expr("theta_sketch_estimate(theta_difference(__ska, __skb))")
        .alias("__ed"))

    def close(est, truth):
        return (F.abs(est - truth)
                <= F.greatest(F.lit(rel_err) * truth, F.lit(0.5)))

    out = exact.crossJoin(F.broadcast(ests))
    ok = (close(F.col("__ea"), F.col("n_a"))
          & close(F.col("__eb"), F.col("n_b"))
          & close(F.col("__ei"), F.col("n_intersect"))
          & close(F.col("__eu"), F.col("n_union"))
          & close(F.col("__ed"), F.col("n_a_only")))
    return out.select("n_a", "n_b", "n_intersect", "n_union",
                      "n_a_only", ok.alias("theta_ok"))


def sketch_heavy_hitters(df: DataFrame, value_col: str, k: int = 10,
                         max_tracked: int = 8192) -> DataFrame:
    """Frequent-items heavy hitters (Apache DataSketches frequent-items
    via Spark's ``approx_top_k``) with an in-plan accuracy witness.

    The 100 TB case: the exact top-k needs a full groupBy over every
    distinct value; the sketch tracks ``max_tracked`` candidates in
    fixed memory per partition and merges — the standard first pass
    for vocabulary/domain/user-agent heavy hitters.  Frequent-items
    guarantees every item with true count > 3.5·N/``max_tracked`` is
    retained and estimated within that bound (Anderson et al.,
    DataSketches); when ``max_tracked`` >= the distinct count the
    sketch is simply exact.

    Returns the EXACT top-``k`` rows (item, cnt, rank — count desc,
    item asc tie-break, the oracle-checkable truth) plus ``hh_ok``
    per row asserting the item appears in the sketch's top-2k with
    its estimate within the published bound.  NULL values are
    excluded (the sketch never sees them, so counting them would
    both false-flag the witness and inflate its N bound — same
    convention as the rest of the sketch family).  Cost: the exact
    groupBy (the truth the caller wants anyway) with the top-k cut
    as a distributed TakeOrderedAndProject (per-partition heaps —
    never a global single-task window over the whole vocabulary),
    plus one sketch aggregate fused over the same scan.
    """
    from pyspark.sql import Window

    vals = df.filter(F.col(value_col).isNotNull())
    exact = (vals.groupBy(F.col(value_col).cast("string").alias("item"))
             .agg(F.count("*").alias("cnt")))
    # orderBy+limit plans TakeOrderedAndProject; the row_number window
    # then runs over only k rows (r10 review catch: a global no-
    # partition window funneled the full distinct-item frame through
    # one task)
    w = Window.orderBy(F.desc("cnt"), F.asc("item"))
    topk = (exact.orderBy(F.desc("cnt"), F.asc("item")).limit(k)
            .withColumn("rank", F.row_number().over(w)))
    sk = vals.agg(
        F.expr(f"approx_top_k(cast({value_col} as string), {2 * k}, "
               f"{max_tracked})").alias("__tk"),
        F.count("*").alias("__n"))
    sk = sk.select(
        F.map_from_arrays(
            F.transform("__tk", lambda s: s["item"]),
            F.transform("__tk", lambda s: s["count"])).alias("__m"),
        "__n")
    err = F.ceil(F.lit(3.5) * F.col("__n") / F.lit(int(max_tracked)))
    joined = topk.crossJoin(F.broadcast(sk))
    est = F.col("__m")[F.col("item")]
    ok = (est.isNotNull() & (F.abs(est - F.col("cnt")) <= err))
    return joined.select("item", "cnt", "rank", ok.alias("hh_ok")) \
                 .orderBy("rank")


def sketch_overlap_matrix(df: DataFrame, group_col: str,
                          value_col: str,
                          rel_err: float = 0.05) -> DataFrame:
    """PAIRWISE cohort-overlap matrix via theta sketches — the read-
    time set-algebra deployment :func:`sketch_set_overlap` runs for
    one pair: every group reduces to ONE KB sketch in a single scan,
    and all G·(G−1)/2 intersections are estimated by crossing the
    G-row sketch frame with itself — the raw stream is never
    re-scanned per pair.  Exact pairwise intersection by contrast
    costs a distinct-pair self-join per question; here it is computed
    ONCE, as the witness truth.

    Returns one row per unordered group pair (g1 < g2 as strings):
    (g1, g2, n_intersect exact — the oracle-checkable truth — and
    theta_ok within ``rel_err`` or ±0.5 absolute in exact mode).
    Zero-overlap pairs are included (estimate must also be ~0).
    NULL cohorts report as '<NULL>' (a bare NULL label would fail
    every g1 < g2 comparison and silently vanish from the matrix —
    r10 review catch) and NULL values are excluded, both the family
    conventions.  Cost: one scan for the sketches, one distinct
    self-join for the truth, and a G²-row crossJoin that is
    metadata-sized for any realistic number of cohorts.
    """
    vals = df.filter(F.col(value_col).isNotNull())
    g = _sentinel_guarded_group(group_col)
    per = (vals.groupBy(g.alias("g"))
           .agg(F.expr(f"theta_sketch_agg({value_col})").alias("sk")))
    a = per.select(F.col("g").alias("g1"), F.col("sk").alias("__s1"))
    b = per.select(F.col("g").alias("g2"), F.col("sk").alias("__s2"))
    pairs = (a.join(b, F.col("g1") < F.col("g2"))
             .select("g1", "g2",
                     F.expr("theta_sketch_estimate("
                            "theta_intersection(__s1, __s2))")
                     .alias("__est")))
    d = (vals.select(g.alias("__g"), F.col(value_col).alias("__v"))
         .distinct())
    d2 = d.select(F.col("__g").alias("__g2"), F.col("__v").alias("__v2"))
    inter = (d.join(d2, (F.col("__v") == F.col("__v2"))
                    & (F.col("__g") < F.col("__g2")))
             .groupBy(F.col("__g").alias("g1"),
                      F.col("__g2").alias("g2"))
             .agg(F.count("*").alias("n_intersect")))
    out = (pairs.join(inter, ["g1", "g2"], "left")
           .withColumn("n_intersect",
                       F.coalesce(F.col("n_intersect"), F.lit(0))))
    ok = (F.abs(F.col("__est") - F.col("n_intersect"))
          <= F.greatest(F.lit(rel_err) * F.col("n_intersect"),
                        F.lit(0.5)))
    return out.select("g1", "g2", "n_intersect", ok.alias("theta_ok"))


def sketch_heavy_hitters_by_group(df: DataFrame, group_col: str,
                                  value_col: str, k: int = 10,
                                  max_tracked: int = 8192) -> DataFrame:
    """Per-group frequent-items heavy hitters with a MERGE witness —
    the partial-sketch workflow ``approx_top_k_accumulate`` /
    ``approx_top_k_combine`` exists for: every group (source, day,
    shard) reduces to one bounded-memory sketch struct in a single
    scan, and the corpus-level answer comes from COMBINING those
    partials — the raw stream is never re-scanned for the total, the
    exact mergeability contract the HLL/KLL/theta families already
    witness on their tiers.

    Returns the exact top-``k`` per group plus ``__ALL__`` rows
    (grp, item, cnt, rank — count desc, item asc tie-break, the
    oracle-checkable truth) with ``hh_ok`` per row: the item appears
    in its group's sketch estimates (top-2k) within the published
    3.5·N_grp/``max_tracked`` bound — where the ``__ALL__`` rows'
    estimates come from the COMBINED partials, so a merge that lost
    or mis-summed counts flips the witness.  Group labels pass
    through :func:`_sentinel_guarded_group` (collisions raise
    in-plan); NULL values are excluded on both sides, the family
    convention.  Cost: one scan for counts + sketches, a G-row
    combine, and broadcast map joins; the per-group top-k is a
    partitioned window over per-group counts, and the corpus-wide
    ``__ALL__`` top-k is a distributed TakeOrderedAndProject —
    never a single task holding the full vocabulary (r10 review
    catch).
    """
    from pyspark.sql import Window

    vals = df.filter(F.col(value_col).isNotNull())
    g = _sentinel_guarded_group(group_col)
    counts = (vals.groupBy(g.alias("grp"),
                           F.col(value_col).cast("string")
                           .alias("item"))
              .agg(F.count("*").alias("cnt")))
    w = Window.partitionBy("grp").orderBy(F.desc("cnt"), F.asc("item"))
    per_topk = (counts.withColumn("rank", F.row_number().over(w))
                .filter(F.col("rank") <= k))
    w_all = Window.orderBy(F.desc("cnt"), F.asc("item"))
    all_topk = (counts.groupBy("item").agg(F.sum("cnt").alias("cnt"))
                .orderBy(F.desc("cnt"), F.asc("item")).limit(k)
                .withColumn("rank", F.row_number().over(w_all))
                .select(F.lit("__ALL__").alias("grp"), "item", "cnt",
                        "rank"))
    topk = per_topk.unionByName(all_topk)
    acc = (vals.groupBy(g.alias("grp"))
           .agg(F.expr(f"approx_top_k_accumulate("
                       f"cast({value_col} as string), {max_tracked})")
                .alias("__acc"),
                F.count("*").alias("__n")))
    per_est = acc.select(
        "grp", "__n",
        F.expr(f"approx_top_k_estimate(__acc, {2 * k})").alias("__tk"))
    all_est = (acc.agg(
        F.expr(f"approx_top_k_combine(__acc, {max_tracked})")
        .alias("__c"),
        F.sum("__n").alias("__n"))
        .select(F.lit("__ALL__").alias("grp"), "__n",
                F.expr(f"approx_top_k_estimate(__c, {2 * k})")
                .alias("__tk")))
    est = per_est.unionByName(all_est).select(
        "grp", "__n",
        F.map_from_arrays(
            F.transform("__tk", lambda s: s["item"]),
            F.transform("__tk", lambda s: s["count"])).alias("__m"))
    joined = topk.join(F.broadcast(est), "grp")
    err = F.ceil(F.lit(3.5) * F.col("__n") / F.lit(int(max_tracked)))
    e = F.col("__m")[F.col("item")]
    ok = (e.isNotNull() & (F.abs(e - F.col("cnt")) <= err))
    return (joined.select("grp", "item", "cnt", "rank",
                          ok.alias("hh_ok"))
            .orderBy("grp", "rank"))


def distribution_drift_psi(old: DataFrame, new: DataFrame,
                           value_col: str, n_buckets: int = 10,
                           eps: float = 1e-4) -> DataFrame:
    """Population Stability Index between two value distributions —
    the day-2 drift monitor :func:`profile_drift`'s min/max/null-rate
    checks cannot express: a distribution can shift wholesale inside
    unchanged bounds (an upstream extractor change, a new traffic
    mix) and only a bucket-mass comparison sees it.

    Cutpoints are the OLD side's exact ``n_buckets``-quantiles
    (rounded to 4, the cross-engine float policy), so the old side's
    mass is ~uniform by construction and PSI reads as "how far the
    NEW side left the baseline buckets".  Bucket index = number of
    cutpoints strictly below the value (ties land LEFT, the
    convention both engines share); empty buckets are materialized
    (a vanished bucket is exactly the signal) and fractions are
    ``eps``-clamped before the log, the standard PSI guard.  The
    industry reading: <0.1 stable, 0.1–0.2 moderate, >0.2 drifted.

    Returns one row per bucket: (bucket, old_frac, new_frac,
    psi_term, all rounded to 6) plus a ``bucket = -1`` TOTAL row
    carrying the summed PSI — exact, engine-portable arithmetic
    throughout (one percentile pass on old, one bucket-count
    aggregate per side; the cutpoint frame is a 1-row broadcast).
    """
    qs = [i / n_buckets for i in range(1, n_buckets)]
    cuts = old.agg(*[
        F.expr(f"round(percentile({value_col}, {q}), 4)")
        .alias(f"__c{i}") for i, q in enumerate(qs)])

    def bucketed(df):
        v = F.col(value_col).cast("double")
        idx = None
        for i in range(len(qs)):
            term = (v > F.col(f"__c{i}")).cast("int")
            idx = term if idx is None else idx + term
        return (df.crossJoin(F.broadcast(cuts))
                .groupBy(idx.alias("bucket"))
                .agg(F.count("*").alias("n")))

    buckets = old.sparkSession.range(n_buckets).select(
        F.col("id").cast("int").alias("bucket"))
    o = bucketed(old).withColumnRenamed("n", "__no")
    n_ = bucketed(new).withColumnRenamed("n", "__nn")
    j = (buckets.join(o, "bucket", "left").join(n_, "bucket", "left")
         .fillna(0, ["__no", "__nn"]))
    tot = j.agg(F.sum("__no").alias("__to"),
                F.sum("__nn").alias("__tn"))
    j = j.crossJoin(F.broadcast(tot))
    of = F.greatest(F.col("__no") / F.col("__to"), F.lit(float(eps)))
    nf = F.greatest(F.col("__nn") / F.col("__tn"), F.lit(float(eps)))
    terms = j.select(
        "bucket",
        F.round(F.col("__no") / F.col("__to"), 6).alias("old_frac"),
        F.round(F.col("__nn") / F.col("__tn"), 6).alias("new_frac"),
        ((nf - of) * F.log(nf / of)).alias("__t"))
    per = terms.select("bucket", "old_frac", "new_frac",
                       F.round("__t", 6).alias("psi_term"))
    total = (terms.agg(F.round(F.sum("__t"), 6).alias("psi_term"))
             .select(F.lit(-1).alias("bucket"),
                     F.lit(None).cast("double").alias("old_frac"),
                     F.lit(None).cast("double").alias("new_frac"),
                     "psi_term"))
    return per.unionByName(total).orderBy("bucket")



def _bucket_index(value: Column, n_cuts: int,
                  cut_prefix: str = "__c") -> Column:
    """Bucket index = number of cutpoint columns strictly below the
    value (ties land LEFT — the convention every PSI form and both
    engines share).  ONE definition: the by-group monitor, the
    baseline writer, and the baseline scorer all bucket through this
    helper, so the convention cannot drift between the forms the
    equality tests pin together."""
    idx = None
    for i in range(n_cuts):
        term = (value > F.col(f"{cut_prefix}{i}")).cast("int")
        idx = term if idx is None else idx + term
    return idx


def _psi_report(bucketed_old: DataFrame, bucketed_new: DataFrame,
                n_buckets: int, eps: float,
                psi_warn: float) -> DataFrame:
    """Shared PSI tail: join per-(grp, bucket) counts over the
    materialized group×bucket grid, eps-clamp, sum the terms, mask
    psi NULL (drifted TRUE) for cohorts missing a side.  Inputs are
    POST-AGGREGATE frames — (grp, bucket, __no) / (grp, bucket, __nn)
    with bucket possibly NULL for rows of a cohort that had no
    cutpoints (appearing cohort) — so group discovery and totals come
    from these tiny frames, never another raw scan.  One definition
    serves the two-frame monitor and the standing-baseline scorer:
    their pinned equality holds by construction."""
    spark = bucketed_old.sparkSession
    grps = (bucketed_old.select("grp")
            .unionByName(bucketed_new.select("grp")).distinct())
    # totals BEFORE the grid join: NULL-bucket rows (a cohort with no
    # baseline cutpoints) still count toward n_old/n_new — dropping
    # them reported an appearing flood as n_new=0 (r10 review catch)
    tot = (grps
           .join(bucketed_old.groupBy("grp")
                 .agg(F.sum("__no").alias("__to")), "grp", "left")
           .join(bucketed_new.groupBy("grp")
                 .agg(F.sum("__nn").alias("__tn")), "grp", "left")
           .fillna(0, ["__to", "__tn"]))
    buckets = spark.range(n_buckets).select(
        F.col("id").cast("int").alias("bucket"))
    grid = grps.crossJoin(F.broadcast(buckets))
    j = (grid.join(bucketed_old, ["grp", "bucket"], "left")
         .join(bucketed_new, ["grp", "bucket"], "left")
         .fillna(0, ["__no", "__nn"])
         .join(F.broadcast(tot), "grp"))
    of = F.greatest(F.try_divide(F.col("__no"), F.col("__to")),
                    F.lit(float(eps)))
    nf = F.greatest(F.try_divide(F.col("__nn"), F.col("__tn")),
                    F.lit(float(eps)))
    per = (j.groupBy("grp")
           .agg(F.sum((nf - of) * F.log(nf / of)).alias("__psi"),
                F.first("__to").alias("n_old"),
                F.first("__tn").alias("n_new")))
    psi = F.when((F.col("n_old") > 0) & (F.col("n_new") > 0),
                 F.round(F.col("__psi"), 6))
    drifted = F.coalesce(psi > F.lit(float(psi_warn)), F.lit(True))
    return (per.select("grp", psi.alias("psi"),
                       drifted.alias("drifted"),
                       F.coalesce("n_old", F.lit(0)).alias("n_old"),
                       F.coalesce("n_new", F.lit(0)).alias("n_new"))
            .orderBy("grp"))


def distribution_drift_psi_by_group(old: DataFrame, new: DataFrame,
                                    group_col: str, value_col: str,
                                    n_buckets: int = 10,
                                    eps: float = 1e-4,
                                    psi_warn: float = 0.2) -> DataFrame:
    """Per-cohort PSI — :func:`distribution_drift_psi` fanned across a
    group column in ONE plan: each cohort's cutpoints come from ITS
    OWN baseline deciles, so the report answers "which source/shard
    drifted" directly instead of averaging a localized shift into the
    global number (a single drifted source among many stable ones is
    exactly what the global PSI dilutes).

    Returns one row per group present on EITHER side: (grp, psi
    rounded 6, drifted = psi > ``psi_warn``, plus n_old/n_new row
    counts — a cohort that appears or vanishes outright reports psi
    NULL with drifted TRUE and its REAL row count on the side it
    exists, the schema-drift analog).  Cost: one percentile aggregate
    over the baseline and one bucket-count aggregate per side
    (cutpoints joined back by group — a broadcast of G rows; an
    appearing cohort's rows bucket to NULL and still count); group
    discovery and totals come from the post-aggregate frames, never
    an extra raw scan.  NULL group labels report as '<NULL>' via the
    family's sentinel guard.
    """
    qs = [i / n_buckets for i in range(1, n_buckets)]
    g = _sentinel_guarded_group(group_col)
    cuts = (old.groupBy(g.alias("grp"))
            .agg(*[F.expr(f"round(percentile({value_col}, {q}), 4)")
                   .alias(f"__c{i}") for i, q in enumerate(qs)]))

    def bucketed(df, n_name):
        # LEFT join: a cohort with no baseline cutpoints (appearing)
        # buckets to NULL but its rows still flow into the totals
        return (df.select(g.alias("grp"),
                          F.col(value_col).cast("double")
                          .alias("__val"))
                .join(F.broadcast(cuts), "grp", "left")
                .groupBy("grp",
                         _bucket_index(F.col("__val"), len(qs))
                         .alias("bucket"))
                .agg(F.count("*").alias(n_name)))

    return _psi_report(bucketed(old, "__no"), bucketed(new, "__nn"),
                       n_buckets, eps, psi_warn)


def write_psi_baseline(df: DataFrame, path: str, value_col: str,
                       group_col: "str | None" = None,
                       n_buckets: int = 10) -> None:
    """Materialize a PSI BASELINE as a standing KB-sized table: per
    cohort (or the single '__ALL__' cohort), the exact decile
    cutpoints and per-bucket masses of the reference distribution.
    The deployment shape :func:`distribution_drift_psi` simulates by
    re-reading the baseline frame: computed ONCE at baseline time,
    every later batch scores against it via
    :func:`psi_against_baseline` without the baseline data ever
    being re-scanned — the same standing-artifact discipline as the
    dedup gram / ANN IVF indexes.  Layout: one parquet of
    (grp, c0..c{B-2}, n_0..n_{B-1}, group_col) — the grouping column
    NAME rides in the artifact so a scorer invoked with a different
    grouping fails fast instead of reporting every cohort as
    appeared/vanished."""
    qs = [i / n_buckets for i in range(1, n_buckets)]
    g = (_sentinel_guarded_group(group_col) if group_col is not None
         else F.lit("__ALL__"))
    cuts = (df.groupBy(g.alias("grp"))
            .agg(*[F.expr(f"round(percentile({value_col}, {q}), 4)")
                   .alias(f"__c{i}") for i, q in enumerate(qs)]))
    masses = (df.select(g.alias("grp"),
                        F.col(value_col).cast("double").alias("__val"))
              .join(F.broadcast(cuts), "grp")
              .groupBy("grp", _bucket_index(F.col("__val"), len(qs))
                       .alias("bucket"))
              .agg(F.count("*").alias("n")))
    pivot = (masses.groupBy("grp")
             .pivot("bucket", list(range(n_buckets)))
             .agg(F.first("n"))
             .na.fill(0))
    for b in range(n_buckets):
        pivot = pivot.withColumnRenamed(str(b), f"n_{b}")
    out = cuts.join(pivot, "grp")
    for i in range(len(qs)):
        out = out.withColumnRenamed(f"__c{i}", f"c{i}")
    (out.withColumn("group_col", F.lit(group_col or "__NONE__"))
        .write.mode("overwrite").parquet(path))


def psi_against_baseline(spark, path: str, new: DataFrame,
                         value_col: str,
                         group_col: "str | None" = None,
                         eps: float = 1e-4,
                         psi_warn: float = 0.2) -> DataFrame:
    """Score a new batch against a standing PSI baseline
    (:func:`write_psi_baseline`): the baseline side costs a KB-table
    read — its raw data is NEVER re-scanned — and the batch side is
    one bucket-count aggregate (group discovery rides the aggregate's
    output, not a second scan).  Output schema matches
    :func:`distribution_drift_psi_by_group` and on identical inputs
    the two forms agree exactly (pinned by test; they share the
    bucketing and report helpers, so the equality holds by
    construction).  A ``group_col`` that differs from the one the
    baseline was written with raises instead of silently reporting
    every cohort as appeared/vanished."""
    base = spark.read.parquet(path)
    stored = base.select("group_col").head()[0]
    asked = group_col or "__NONE__"
    if stored != asked:
        raise ValueError(
            f"baseline at {path} was written with "
            f"group_col={stored!r}; scorer asked for {asked!r}")
    qcols = sorted((c for c in base.columns if c.startswith("c")
                    and c[1:].isdigit()), key=lambda c: int(c[1:]))
    ncols = sorted((c for c in base.columns if c.startswith("n_")
                    and c[2:].isdigit()), key=lambda c: int(c[2:]))
    n_buckets = len(ncols)
    cuts = base.select(
        "grp", *[F.col(qcols[i]).alias(f"__c{i}")
                 for i in range(len(qcols))])
    g = (_sentinel_guarded_group(group_col) if group_col is not None
         else F.lit("__ALL__"))
    nb = (new.select(g.alias("grp"),
                     F.col(value_col).cast("double").alias("__val"))
          .join(F.broadcast(cuts), "grp", "left")
          .groupBy("grp", _bucket_index(F.col("__val"), len(qcols))
                   .alias("bucket"))
          .agg(F.count("*").alias("__nn")))
    stack = ", ".join(f"{b}, CAST(n_{b} AS BIGINT)"
                      for b in range(n_buckets))
    old_long = base.selectExpr(
        "grp", f"stack({n_buckets}, {stack}) AS (bucket, __no)")
    return _psi_report(old_long, nb, n_buckets, eps, psi_warn)
