"""Data-wrangling ops (SURVEY §2.P): heuristic schema inference and
entity resolution, re-expressed for distributed tables.

Reference parity: infer_types / deduplicate / identify_entities
(python/zef/core/op_implementations/data_wrangling.py:144,220,280)
operate on nested dict-objects with rule iteration on the driver.
The table-scale analogues here keep the *intent* — discover types,
merge duplicate entities, link records to canonical entities — as
set-oriented DataFrame plans (the documented deviation: rules are
column-based, not nested-object patterns; at 100 TB that is the only
shape that parallelizes).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from functools import reduce

from .._registry import register_op

_CASTS = [  # candidate target types, most specific first
    ("bigint", lambda c: c.try_cast("bigint")),
    ("double", lambda c: c.try_cast("double")),
    ("boolean", lambda c: c.try_cast("boolean")),
    ("date", lambda c: c.try_cast("date")),
    ("timestamp_ntz", lambda c: c.try_cast("timestamp_ntz")),
]


def infer_types(df: DataFrame, threshold: float = 0.95,
                sample_rows: int = 10_000) -> DataFrame:
    """Promote string columns whose values parse as a narrower type
    on ≥ threshold of non-null sampled rows (infer_types, data_
    wrangling.py:144; Spark's own inferSchema only works at read
    time — this works on any DataFrame). One aggregate pass over a
    bounded sample decides; the cast then applies lazily to the full
    data, so the decision cost is O(sample), not O(table)."""
    str_cols = [c for c, t in df.dtypes if t == "string"]
    if not str_cols:
        return df
    sample = df.select(*str_cols).limit(sample_rows)
    aggs = []
    for c in str_cols:
        col = F.col(c)
        aggs.append(F.count(col).alias(f"{c}__n"))
        for tname, cast in _CASTS:
            aggs.append(F.count(cast(col)).alias(f"{c}__{tname}"))
    row = sample.agg(*aggs).collect()[0].asDict()
    out = df
    for c in str_cols:
        n = row[f"{c}__n"]
        if not n:
            continue
        for tname, cast in _CASTS:
            if row[f"{c}__{tname}"] >= threshold * n:
                out = out.withColumn(c, cast(F.col(c)))
                break
    return out


def identify_entities(df: DataFrame, id_col: str,
                      match_cols: list[str],
                      out_col: str = "entity_id",
                      max_iters: int = 20) -> DataFrame:
    """Entity resolution: rows sharing ANY normalized match-key value
    belong to one entity; emits a canonical ``out_col`` (min id of the
    connected component). identify_entities (data_wrangling.py:280)
    as min-label propagation over the record↔key bipartite graph:
    each round two shuffles, its delta the records whose label
    changed."""
    from .distkit import fixpoint
    # record -> key nodes (normalized, null-safe)
    pairs = None
    for mc in match_cols:
        p = (df.select(F.col(id_col).alias("__rid"),
                       F.concat_ws("", F.lit(mc),
                                   F.lower(F.trim(F.col(mc).cast("string"))))
                       .alias("__key"))
             .where(F.col(mc).isNotNull()))
        pairs = p if pairs is None else pairs.unionByName(p)
    pairs = pairs.localCheckpoint()

    labels = pairs.select("__rid").distinct() \
        .withColumn("__comp", F.col("__rid"))

    def step(labels, _r):
        # key label = min over its records; record label = min over keys
        key_min = (pairs.join(labels, "__rid")
                   .groupBy("__key").agg(F.min("__comp").alias("__kmin")))
        return (pairs.join(key_min, "__key")
                .groupBy("__rid")
                .agg(F.min("__kmin").alias("__comp")))

    def changed(new, old, _r):
        return (new.join(old.withColumnRenamed("__comp", "__old"),
                         "__rid")
                .where(F.col("__comp") != F.col("__old")))

    labels = fixpoint(labels, step, max_iters, changed)
    return (df.join(labels.withColumnRenamed("__rid", id_col), id_col,
                    "left")
            .withColumn(out_col, F.coalesce(F.col("__comp"),
                                            F.col(id_col)))
            .drop("__comp"))


def merge_duplicates(df: DataFrame, id_col: str, match_cols: list[str],
                     agg: str = "first") -> DataFrame:
    """deduplicate (data_wrangling.py:220) at table scale: resolve
    entities, then collapse each component to one row."""
    resolved = identify_entities(df, id_col, match_cols)
    aggs = [getattr(F, agg)(c, ignorenulls=True).alias(c)
            if agg == "first" else getattr(F, agg)(c).alias(c)
            for c in df.columns if c != id_col]
    return (resolved.groupBy(F.col("entity_id").alias(id_col))
            .agg(*aggs))


def winsorize(df: DataFrame, col: str, lo: float = 0.01,
              hi: float = 0.99, digits: int = 6,
              out_col: str | None = None) -> DataFrame:
    """Clamp `col` to its [lo, hi] EXACT quantiles (outlier
    winsorization before training-statistics / normalization). The
    two cut points come from one percentile aggregate (exact —
    matches any engine's QUANTILE_CONT, unlike approx sketches) and
    enter the plan as a broadcast 1-row crossJoin; the clamp itself
    is row-local. At 100 TB switch the percentile agg for
    approx_percentile and accept the sketch bound — the clamp stage
    is unchanged."""
    cuts = df.agg(
        F.percentile(F.col(col), F.lit(lo)).alias("__lo"),
        F.percentile(F.col(col), F.lit(hi)).alias("__hi"))
    out = out_col or f"{col}_winsor"
    return (df.crossJoin(F.broadcast(cuts))
            .withColumn(out, F.round(
                F.least(F.greatest(F.col(col).cast("double"),
                                   F.col("__lo")), F.col("__hi")),
                digits))
            .drop("__lo", "__hi"))


def impute(df: DataFrame, cols: dict, digits: int = 6) -> DataFrame:
    """Fill nulls per column: `cols` maps column -> strategy
    ('mean' | 'median' | 'mode' | any literal value). All fill
    values come from ONE aggregate row (broadcast crossJoin); the
    fill is row-local coalesce. mean/median round to `digits`;
    mode ties break on the smallest value (deterministic)."""
    aggs, fills = [], {}
    for c, strat in cols.items():
        a = f"__fill_{c}"
        if strat == "mean":
            aggs.append(F.round(F.avg(F.col(c).cast("double")),
                                digits).alias(a))
        elif strat == "median":
            aggs.append(F.round(F.percentile(
                F.col(c).cast("double"), F.lit(0.5)), digits).alias(a))
        elif strat == "mode":
            # mode needs a per-value count — handled as its own tiny
            # aggregate below, then cross-joined into the stats row
            fills[c] = ("mode", a)
            continue
        else:
            aggs.append(F.lit(strat).alias(a))
        fills[c] = (strat, a)
    stats = df.agg(*aggs) if aggs else None
    # mode needs its own tiny per-column aggregate (count per value)
    for c, (strat, a) in list(fills.items()):
        if strat != "mode":
            continue
        mode_df = (df.where(F.col(c).isNotNull())
                   .groupBy(c).agg(F.count(F.lit(1)).alias("__n"))
                   .orderBy(F.col("__n").desc(), F.col(c))
                   .limit(1).select(F.col(c).alias(a)))
        stats = (stats.drop(a).crossJoin(F.broadcast(mode_df))
                 if stats is not None else mode_df)
    out = df.crossJoin(F.broadcast(stats))
    for c, (_strat, a) in fills.items():
        out = out.withColumn(c, F.coalesce(F.col(c).cast("double")
                                           if _strat in ("mean",
                                                         "median")
                                           else F.col(c),
                                           F.col(a)))
    return out.drop(*[a for _, a in fills.values()])


@register_op("winsorize", "df")
def _winsorize_op(df, col, *args, **kw):
    return winsorize(df, col, *args, **kw)


@register_op("impute", "df")
def _impute_op(df, cols, **kw):
    return impute(df, cols, **kw)


@register_op("infer_types", "df")
def _infer_types_op(df, threshold=0.95):
    return infer_types(df, threshold)


@register_op("identify_entities", "df")
def _identify_entities_op(df, id_col, *match_cols):
    return identify_entities(df, id_col, list(match_cols))


def profile_table(df: DataFrame, cols: list[str] | None = None,
                  digits: int = 6) -> DataFrame:
    """One-pass data profile: per column, row count, null count,
    exact distinct count, min/max (as strings for type uniformity),
    and mean for numeric columns. ALL columns profile in a single
    aggregate job — the stats stack into one wide row, then unpivot
    row-locally to (column, metric...) rows. Exact count_distinct
    expands per column but stays one stage; at 100 TB swap
    `countDistinct` for `approx_count_distinct` and keep the shape.
    """
    from pyspark.sql.types import NumericType
    cols = cols or df.columns
    numeric = {f.name for f in df.schema.fields
               if isinstance(f.dataType, NumericType)}
    aggs = [F.count(F.lit(1)).alias("__n")]
    for c in cols:
        aggs += [
            F.sum(F.when(F.col(c).isNull(), 1).otherwise(0))
            .alias(f"__nulls_{c}"),
            F.countDistinct(F.col(c)).alias(f"__dist_{c}"),
            # aggregate on the NATIVE type, cast the result — casting
            # first would rank numbers lexicographically ("99" > "101")
            F.min(F.col(c)).cast("string").alias(f"__min_{c}"),
            F.max(F.col(c)).cast("string").alias(f"__max_{c}"),
            (F.round(F.avg(F.col(c).cast("double")), digits)
             if c in numeric else F.lit(None).cast("double"))
            .alias(f"__mean_{c}"),
        ]
    row = df.agg(*aggs)
    per_col = [F.struct(
        F.lit(c).alias("column"),
        F.col("__n").alias("n_rows"),
        F.col(f"__nulls_{c}").cast("long").alias("n_nulls"),
        F.col(f"__dist_{c}").cast("long").alias("n_distinct"),
        F.col(f"__min_{c}").alias("min"),
        F.col(f"__max_{c}").alias("max"),
        F.col(f"__mean_{c}").alias("mean")) for c in cols]
    return (row.select(F.explode(F.array(*per_col)).alias("p"))
            .select("p.*"))


def diff_tables(left: DataFrame, right: DataFrame, key: str | list[str],
                compare: list[str] | None = None) -> DataFrame:
    """Keyed row-level diff (CDC / regression check): one row per key
    present in either side, status in {added, removed, changed,
    unchanged} ('added' = only in right). Changed columns are listed
    by name. ONE full-outer join on the key; comparisons are
    null-safe (`eqNullSafe`) and row-local."""
    key = [key] if isinstance(key, str) else list(key)
    compare = compare or [c for c in left.columns
                          if c not in key and c in right.columns]
    # presence flags come from sentinel columns, not payload nulls —
    # a row whose compared columns are all NULL still counts present
    l = left.select(*key,
                    *[F.col(c).alias(f"__l_{c}") for c in compare],
                    F.lit(1).alias("__lp"))
    r = right.select(*key,
                     *[F.col(c).alias(f"__r_{c}") for c in compare],
                     F.lit(1).alias("__rp"))
    j = l.join(r, key, "full_outer")
    changed_cols = F.filter(
        F.array(*[F.when(~F.col(f"__l_{c}").eqNullSafe(
            F.col(f"__r_{c}")), F.lit(c)) for c in compare]),
        lambda x: x.isNotNull())
    status = (F.when(F.col("__lp").isNull(), F.lit("added"))
              .when(F.col("__rp").isNull(), F.lit("removed"))
              .when(F.size(changed_cols) > 0, F.lit("changed"))
              .otherwise(F.lit("unchanged")))
    # changed_columns is only meaningful for 'changed' rows — an
    # added/removed row trivially differs in every column
    listed = F.when(status == "changed", changed_cols)         .otherwise(F.array().cast("array<string>"))
    return (j.select(*key, status.alias("status"),
                     listed.alias("changed_columns")))


def scd2_from_events(df: DataFrame, key: str | list[str],
                     ts_col: str, value_cols: list[str]) -> DataFrame:
    """Build SCD-2 validity intervals from a change-event stream:
    one row per (key, change) with [valid_from, valid_to) — valid_to
    NULL for the current row. Consecutive events with UNCHANGED
    values collapse into one interval (true change detection via lag
    over the same window). One shuffle on the key; this is the
    standalone form of what graph ingestion does to attr_values."""
    from pyspark.sql import Window
    key = [key] if isinstance(key, str) else list(key)
    w = Window.partitionBy(*key).orderBy(ts_col)
    same_as_prev = reduce(
        lambda a, b: a & b,
        [F.col(c).eqNullSafe(F.lag(c, 1).over(w)) for c in value_cols])
    changes = (df.withColumn("__new", F.when(
        F.lag(ts_col, 1).over(w).isNull() | ~same_as_prev, 1)
        .otherwise(0))
        .where(F.col("__new") == 1))
    w2 = Window.partitionBy(*key).orderBy(ts_col)
    return (changes.select(
        *key, *value_cols,
        F.col(ts_col).alias("valid_from"),
        F.lead(ts_col, 1).over(w2).alias("valid_to")))


@register_op("profile_table", "df")
def _profile_table_op(df, cols=None, digits=6):
    return profile_table(df, cols, digits)


@register_op("diff_tables", "df")
def _diff_tables_op(df, other, key, compare=None):
    return diff_tables(df, other, key, compare)


@register_op("scd2_from_events", "df")
def _scd2_op(df, key, ts_col, value_cols):
    return scd2_from_events(df, key, ts_col, value_cols)


def _join_stats(df: DataFrame, stats: DataFrame,
                keys: list[str]) -> DataFrame:
    """Broadcast the per-group stats back onto the rows. NULL-SAFE on
    the keys (eqNullSafe) — a plain equi-join would silently DROP
    every row whose group key is NULL, turning a column-adding
    transform into a row filter."""
    from pyspark.sql import functions as F
    if not keys:
        return df.crossJoin(F.broadcast(stats))
    renamed = stats
    for k in keys:
        renamed = renamed.withColumnRenamed(k, f"__k_{k}")
    cond = None
    for k in keys:
        c = df[k].eqNullSafe(renamed[f"__k_{k}"])
        cond = c if cond is None else (cond & c)
    return (df.join(F.broadcast(renamed), cond)
            .drop(*[f"__k_{k}" for k in keys]))


def standardize(df: DataFrame, cols: list[str], by=None,
                digits: int = 6) -> DataFrame:
    """Adds ``<col>_z`` per listed column: (v - mean) / stddev_samp,
    the feature-scaling step before clustering/classification.
    Grouped form computes the moments per ``by`` key. ONE aggregate
    over the input + a broadcast join back (global: 1-row cross;
    grouped: |keys| rows, NULL-safe so NULL-key rows keep their own
    group's stats instead of vanishing) — never a window over the
    full table, so nothing forces a single partition. Zero-variance
    columns yield NULL z (not a divide-by-zero)."""
    from pyspark.sql import functions as F
    keys = ([] if by is None
            else [by] if isinstance(by, str) else list(by))
    aggs = []
    for c in cols:
        aggs += [F.avg(c).alias(f"__m_{c}"),
                 F.stddev_samp(c).alias(f"__s_{c}")]
    stats = df.groupBy(*keys).agg(*aggs) if keys else df.agg(*aggs)
    out = _join_stats(df, stats, keys)
    for c in cols:
        z = F.when(F.col(f"__s_{c}") > 0,
                   F.round((F.col(c) - F.col(f"__m_{c}"))
                           / F.col(f"__s_{c}"), digits))
        out = out.withColumn(f"{c}_z", z)
    return out.drop(*[f"__m_{c}" for c in cols],
                    *[f"__s_{c}" for c in cols])


def min_max_scale(df: DataFrame, cols: list[str], by=None,
                  digits: int = 6) -> DataFrame:
    """Adds ``<col>_scaled`` in [0,1] per listed column:
    (v - min) / (max - min), same one-agg + NULL-safe broadcast-join
    shape as standardize. Constant columns yield NULL (undefined
    range)."""
    from pyspark.sql import functions as F
    keys = ([] if by is None
            else [by] if isinstance(by, str) else list(by))
    aggs = []
    for c in cols:
        aggs += [F.min(c).alias(f"__lo_{c}"),
                 F.max(c).alias(f"__hi_{c}")]
    stats = df.groupBy(*keys).agg(*aggs) if keys else df.agg(*aggs)
    out = _join_stats(df, stats, keys)
    for c in cols:
        rng = F.col(f"__hi_{c}") - F.col(f"__lo_{c}")
        out = out.withColumn(
            f"{c}_scaled",
            F.when(rng > 0, F.round((F.col(c) - F.col(f"__lo_{c}"))
                                    / rng, digits)))
    return out.drop(*[f"__lo_{c}" for c in cols],
                    *[f"__hi_{c}" for c in cols])


@register_op("standardize", "df")
def _standardize_op(df, cols, by=None, digits=6):
    return standardize(df, cols, by, digits)


@register_op("min_max_scale", "df")
def _min_max_op(df, cols, by=None, digits=6):
    return min_max_scale(df, cols, by, digits)


def robust_scale(df: DataFrame, cols: list[str], by=None,
                 digits: int = 6) -> DataFrame:
    """Adds ``<col>_robust`` per listed column: (v - median) / IQR —
    the outlier-insensitive cousin of standardize (a single extreme
    value drags mean/stddev but not the quartiles). EXACT percentiles
    (Spark `percentile`, DuckDB `quantile_cont` — same linear
    interpolation), same one-agg + NULL-safe broadcast-join shape.
    Zero-IQR columns yield NULL. Exact grouped percentiles buffer
    each group's values in the agg — fine for the report/feature
    scale this targets; at 100 TB use approx_quantiles' KLL sketches
    and accept the epsilon."""
    from pyspark.sql import functions as F
    keys = ([] if by is None
            else [by] if isinstance(by, str) else list(by))
    aggs = []
    for c in cols:
        aggs += [F.expr(f"percentile({c}, 0.5)").alias(f"__md_{c}"),
                 F.expr(f"percentile({c}, 0.25)").alias(f"__q1_{c}"),
                 F.expr(f"percentile({c}, 0.75)").alias(f"__q3_{c}")]
    stats = df.groupBy(*keys).agg(*aggs) if keys else df.agg(*aggs)
    out = _join_stats(df, stats, keys)
    for c in cols:
        iqr = F.col(f"__q3_{c}") - F.col(f"__q1_{c}")
        out = out.withColumn(
            f"{c}_robust",
            F.when(iqr > 0, F.round((F.col(c) - F.col(f"__md_{c}"))
                                    / iqr, digits)))
    return out.drop(*[f"__{p}_{c}" for c in cols
                      for p in ("md", "q1", "q3")])


@register_op("robust_scale", "df")
def _robust_scale_op(df, cols, by=None, digits=6):
    return robust_scale(df, cols, by, digits)


def benford_check(df: DataFrame, value_col: str,
                  digits: int = 6) -> DataFrame:
    """(digit, n, observed_p, expected_p, abs_dev) — first-significant-
    digit distribution of a positive numeric column against Benford's
    law (expected_p = log10(1 + 1/d)), the standard screen for
    fabricated or truncated numeric data in a profiling pass
    (complements profile_table's null/distinct stats).

    First digit extracted STRING-wise from the double's round-trip
    decimal rendering (CAST to string, then first char that is 1-9)
    — no log/pow on the data path and no fixed-decimal formatting, so
    the digit is exact at EVERY magnitude (1e-300 to 1e308; the
    former format_number(·, 10) approach silently dropped values
    below ~5e-11 and mis-carried 0.0999…9-style renderings). Both
    plain ("123.45") and scientific ("1.0E-7") renderings lead with
    the first significant digit, so stripping non-1-9 chars and
    taking char 1 is exact. ONE aggregate over a 9-row output;
    non-positive and non-finite rows are excluded (no leading
    significant digit)."""
    v = F.col(value_col).cast("double")
    s = F.regexp_replace(F.abs(v).cast("string"), r"[^1-9]", "")
    digit = F.substring(s, 1, 1).cast("int")
    base = (df.where(v.isNotNull() & (v > 0) & ~F.isnan(v))
            .select(digit.alias("digit"))
            .where(F.col("digit").isNotNull())
            .groupBy("digit").agg(F.count(F.lit(1)).alias("n")))
    tot = base.agg(F.sum("n").cast("double").alias("__t"))
    expected = F.log10(F.lit(1.0) + F.lit(1.0) / F.col("digit"))
    return (base.crossJoin(F.broadcast(tot))
            .select("digit", "n",
                    F.round(F.col("n") / F.col("__t"), digits)
                    .alias("observed_p"),
                    F.round(expected, digits).alias("expected_p"),
                    F.round(F.abs(F.col("n") / F.col("__t")
                                  - expected), digits)
                    .alias("abs_dev")))


@register_op("benford_check", "df")
def _benford_op(df, *args, **kw):
    return benford_check(df, *args, **kw)


def validate_expectations(df: DataFrame,
                          rules: list[tuple[str, "F.Column"]],
                          unique: list[str] | None = None
                          ) -> DataFrame:
    """(rule, n_violations, pct) — dataset-expectation report (the
    Great-Expectations shape, engine-native): each rule is
    (name, boolean Column that is True when the row SATISFIES the
    expectation); violations count rows where it's false/null.

    ALL row-level rules evaluate in ONE scan as conditional
    aggregates — a 20-rule contract over 100 TB costs one pass, not
    20 filtered counts (the filter_funnel discipline). ``unique``
    adds a key-uniqueness expectation, the one rule that genuinely
    needs its own keyed aggregate (count-distinct vs count on the
    key columns). The wide 1-row result unpivots row-locally."""
    aggs = [F.count(F.lit(1)).alias("__n")]
    for i, (_, pred) in enumerate(rules):
        aggs.append(F.sum(F.when(F.coalesce(pred, F.lit(False)),
                                 0).otherwise(1))
                    .cast("long").alias(f"__v{i}"))
    wide = df.agg(*aggs)
    names = [n for n, _ in rules]
    if unique:
        dup = (df.groupBy(*unique).agg(F.count(F.lit(1)).alias("c"))
               .agg(F.coalesce(F.sum(F.when(F.col("c") > 1,
                                            F.col("c"))), F.lit(0))
                    .cast("long").alias("__dups")))
        wide = wide.crossJoin(F.broadcast(dup))
        names = names + [f"unique({','.join(unique)})"]
    entries = []
    for i, n in enumerate(names):
        src = (F.col("__dups") if unique and i == len(names) - 1
               else F.col(f"__v{i}"))
        entries.append(F.struct(
            F.lit(n).alias("rule"), src.alias("n_violations"),
            F.round(src * 100.0 / F.greatest(F.col("__n"), F.lit(1)),
                    6).alias("pct")))
    return (wide.select(F.explode(F.array(*entries)).alias("r"))
            .select("r.*"))


@register_op("validate_expectations", "df")
def _validate_op(df, *args, **kw):
    return validate_expectations(df, *args, **kw)


def ks_distance(df: DataFrame, key_cols, sample_col: str,
                value_col: str, digits: int = 6) -> DataFrame:
    """(keys..., n_a, n_b, ks) — the two-sample Kolmogorov–Smirnov
    statistic per key: D = max over observed points of
    |F_a(x) − F_b(x)|, the standard distribution-drift test between
    two samples (sample_col ∈ {'a','b'} — e.g. last week vs this
    week, corpus v1 vs v2).

    SINGLE KS implementation: thin compatibility face over
    pipeline.abtest.ks_test (which adds arbitrary group values, the
    asymptotic √(n_a·n_b/n)·D statistic, and exact-integer ecdf
    cross-products so D never touches per-row float division). For
    |D| ≤ 1 the sig-safe release equals the original fixed
    ROUND(·, digits), so the column contract is unchanged. NULL
    values now drop before the ecdf (previously they perturbed the
    cumulative counts — strictly a fix)."""
    from .abtest import ks_test
    keys = [key_cols] if isinstance(key_cols, str) else list(key_cols)
    out = ks_test(df, sample_col, value_col, "a", "b", by=keys,
                  digits=digits)
    return out.select(*keys, "n_a", "n_b",
                      F.col("d_stat").alias("ks"))


@register_op("ks_distance", "df")
def _ks_op(df, *args, **kw):
    return ks_distance(df, *args, **kw)


def psi_drift(df: DataFrame, sample_col: str, value_col: str,
              by=None, bins: int = 10, eps: float = 1e-6,
              digits: int = 6) -> DataFrame:
    """(by..., n_a, n_b, psi) — the Population Stability Index
    between reference sample 'a' and current sample 'b' of a numeric
    column (sample_col ∈ {'a','b'}):

        PSI = Σ_bins (q_i − p_i) · ln(q_i / p_i)

    over quantile bins DERIVED FROM THE REFERENCE (the monitoring
    convention: bin edges freeze on the baseline; the score reads
    how far today's distribution drifted). The binned,
    magnitude-weighted companion to ks_distance (KS reads the max
    CDF gap; PSI reads total reweighting — the model-monitoring
    standard with its 0.1/0.25 rule-of-thumb gates).

    Bin edges are EXACT reference percentiles by the same integer
    rank arithmetic as group_percentiles (value at row ceil(p·n) of
    the sorted reference) — no approxQuantile, so any engine derives
    identical edges. A value x lands in bin = #edges < x (strict:
    edge values stay in the lower bin, matching PERCENTILE_DISC's
    closed upper edge). Zero-count bins clamp to ``eps`` before the
    log (the standard smoothing).

    Plan: ONE key shuffle shared by the reference rank window and
    the edge pivot; edges come back as a per-key ARRAY (bins−1
    values, bounded by `bins`) broadcast-joined to the data; bin
    assignment is a row-local array fold; the final agg is
    (keys × bins)-bounded."""
    from pyspark.sql import Window
    by = [] if by is None else ([by] if isinstance(by, str)
                                else list(by))
    s, v = F.col(sample_col), F.col(value_col).cast("double")
    base = df.select(*by, s.alias("__s"), v.alias("__v"))
    ref = base.where(F.col("__s") == "a")
    if by:
        w = Window.partitionBy(*by).orderBy("__v")
        wn = Window.partitionBy(*by)
        ranked = (ref.withColumn("__rn", F.row_number().over(w))
                  .withColumn("__n", F.count(F.lit(1)).over(wn)))
    else:
        # global mode (r11): the reference sample is ROW-SIZED, so
        # the rank comes from the range-partitioned two-phase prefix
        # engine, never a keyless window (Catalyst folds the old
        # partitionBy(lit(1)) to an empty spec = one task for the
        # whole reference — found by the r11 keyless-window sweep).
        # Rank ties on equal __v are edge-value-invariant: the value
        # at rank ceil(p·n) is the same under any tie permutation.
        from .distkit import global_row_number
        nref = ref.agg(F.count(F.lit(1)).alias("__n"))
        ranked = (global_row_number(ref, ["__v"], "__rn")
                  .withColumn("__rn", F.col("__rn") + 1)
                  .crossJoin(F.broadcast(nref)))
    edge_vals = [F.max(F.when(
        F.col("__rn") == F.ceil(F.lit(i / bins) * F.col("__n")),
        F.col("__v"))).alias(f"__e{i}") for i in range(1, bins)]
    edges = (ranked.groupBy(*by).agg(*edge_vals)
             .select(*by, F.array(*[F.col(f"__e{i}")
                                    for i in range(1, bins)])
                     .alias("__edges")))
    # LEFT join (r07 ADVICE): a by-key present only in sample 'b' —
    # a NEW segment appearing after the baseline — must SURFACE (as
    # NULL psi, the no-reference-distribution sentinel), not vanish
    # from the output the way an inner join made it.
    joined = (base.join(F.broadcast(edges), by, "left") if by
              else base.crossJoin(F.broadcast(edges)))
    bin_ = F.aggregate("__edges", F.lit(0),
                       lambda acc, e: acc + (e < F.col("__v"))
                       .cast("int"))
    binned = (joined.select(*by, "__s", bin_.alias("__bin"))
              .groupBy(*by, "__bin")
              .agg(F.sum(F.when(F.col("__s") == "a", 1).otherwise(0))
                   .alias("ca"),
                   F.sum(F.when(F.col("__s") == "b", 1).otherwise(0))
                   .alias("cb")))
    tot = binned.groupBy(*by).agg(F.sum("ca").alias("n_a"),
                                  F.sum("cb").alias("n_b"))
    # try_divide: n_a=0 (no reference) must reach the NULL-psi path
    # below, not throw under ANSI mode
    p = F.greatest(F.try_divide(F.col("ca"), F.col("n_a")),
                   F.lit(float(eps)))
    q = F.greatest(F.try_divide(F.col("cb"), F.col("n_b")),
                   F.lit(float(eps)))
    term = F.round((q - p) * F.log(q / p), 12).cast("decimal(38,12)")
    res = (binned.join(tot, by) if by
           else binned.crossJoin(F.broadcast(tot))) \
        .groupBy(*by, "n_a", "n_b") \
        .agg(F.round(F.sum(term).cast("double"), digits)
             .alias("__psi_raw"))
    # no reference (n_a=0) or no sample (n_b=0) → psi is UNDEFINED:
    # emit NULL, never the greatest(NULL,eps)=eps garbage path.
    return res.select(*by, "n_a", "n_b",
                      F.when((F.col("n_a") > 0) & (F.col("n_b") > 0),
                             F.col("__psi_raw")).alias("psi"))


@register_op("psi_drift", "df")
def _psi_drift_op(df, *args, **kw):
    return psi_drift(df, *args, **kw)


def mutual_info(df: DataFrame, col_a: str, col_b: str,
                digits: int = 6) -> DataFrame:
    """One-row (n, h_a, h_b, mi, nmi) — mutual information between
    two categorical columns in nats, plus both marginal entropies and
    the sqrt-normalized NMI ∈ [0,1]. The dependence half of a
    profiling pass: validate_expectations checks values, MI answers
    "is this column redundant given that one" (feature selection,
    leakage hunting — a label-correlated feature shows up as high
    NMI).

        MI = Σ_ab (c_ab/n) · ln(n·c_ab / (c_a·c_b))

    Plan: ONE (a,b) hash agg (map-side combinable, |A|×|B|-bounded),
    marginals as two aggs ON the joint table, totals as a 1-row
    broadcast. Determinism: every term derives from exact integer
    counts (identical doubles in any engine) and rounds half-up to
    scale-12 DECIMAL before the sum (token_entropy discipline).
    Null category values count as their own category (the profiling
    convention — nulls carry dependence information too)."""
    a = F.coalesce(F.col(col_a).cast("string"), F.lit("∅"))
    b = F.coalesce(F.col(col_b).cast("string"), F.lit("∅"))
    joint = (df.select(a.alias("__a"), b.alias("__b"))
             .groupBy("__a", "__b")
             .agg(F.count(F.lit(1)).alias("c_ab")))
    ma = joint.groupBy("__a").agg(F.sum("c_ab").alias("c_a"))
    mb = joint.groupBy("__b").agg(F.sum("c_ab").alias("c_b"))
    tot = joint.agg(F.sum("c_ab").alias("n"))
    dec = "decimal(38,12)"
    term = lambda c: F.round(c, 12).cast(dec)
    n = F.col("n").cast("double")
    mi_t = term((F.col("c_ab") / n)
                * F.log(n * F.col("c_ab")
                        / (F.col("c_a") * F.col("c_b"))))
    ha_t = term(-(F.col("c_a") / n) * F.log(F.col("c_a") / n))
    hb_t = term(-(F.col("c_b") / n) * F.log(F.col("c_b") / n))
    stats = (joint.join(ma, "__a").join(mb, "__b")
             .crossJoin(F.broadcast(tot))
             .agg(F.max("n").alias("__n"),
                  F.sum(mi_t).cast("double").alias("__mi")))
    ents = (ma.crossJoin(F.broadcast(tot))
            .agg(F.sum(ha_t).cast("double").alias("__ha")))
    entsb = (mb.crossJoin(F.broadcast(tot))
             .agg(F.sum(hb_t).cast("double").alias("__hb")))
    nmi = F.when((F.col("__ha") > 0) & (F.col("__hb") > 0),
                 F.round(F.col("__mi")
                         / F.sqrt(F.col("__ha") * F.col("__hb")),
                         digits))
    return (stats.crossJoin(F.broadcast(ents))
            .crossJoin(F.broadcast(entsb))
            .select(F.col("__n").cast("long").alias("n"),
                    F.round("__ha", digits).alias("h_a"),
                    F.round("__hb", digits).alias("h_b"),
                    F.round("__mi", digits).alias("mi"),
                    nmi.alias("nmi")))


@register_op("mutual_info", "df")
def _mutual_info_op(df, *args, **kw):
    return mutual_info(df, *args, **kw)


def chi2_independence(df: DataFrame, col_a: str, col_b: str,
                      digits: int = 6) -> DataFrame:
    """One-row (n, dof, chi2, cramers_v) — Pearson's χ² test of
    independence between two categorical columns plus Cramér's V
    (the [0,1] effect size, comparable across table shapes):

        χ² = Σ_ab (o_ab − e_ab)² / e_ab,  e_ab = c_a·c_b / n

    computed over the FULL |A|×|B| grid (absent cells contribute
    e_ab, not 0 — the joint table is sparse but the expected side is
    dense: the zero-cell terms telescope to n − Σ_observed e'). The
    frequentist companion to mutual_info; p-values need the χ²
    CDF — gate on the statistic vs a looked-up critical value, or on
    V directly.

    Plan: same ONE joint agg + marginal aggs as mutual_info; the
    dense-grid correction runs on the |A|+|B|-sized marginals, never
    materializing absent cells. Decimal-exact term sums."""
    a = F.coalesce(F.col(col_a).cast("string"), F.lit("∅"))
    b = F.coalesce(F.col(col_b).cast("string"), F.lit("∅"))
    joint = (df.select(a.alias("__a"), b.alias("__b"))
             .groupBy("__a", "__b")
             .agg(F.count(F.lit(1)).alias("c_ab")))
    ma = joint.groupBy("__a").agg(F.sum("c_ab").alias("c_a"))
    mb = joint.groupBy("__b").agg(F.sum("c_ab").alias("c_b"))
    tot = joint.agg(F.sum("c_ab").alias("n"))
    dec = "decimal(38,12)"
    term = lambda c: F.round(c, 12).cast(dec)
    n = F.col("n").cast("double")
    e = F.col("c_a") * F.col("c_b") / n
    # observed cells: (o-e)²/e − e  (the −e folds the dense-grid
    # zero cells: Σ_dense e = n, so χ² = n + Σ_obs [(o−e)²/e − e])
    obs_t = term((F.col("c_ab") - e) * (F.col("c_ab") - e) / e - e)
    ka = ma.agg(F.count(F.lit(1)).alias("ka"))
    kb = mb.agg(F.count(F.lit(1)).alias("kb"))
    stats = (joint.join(ma, "__a").join(mb, "__b")
             .crossJoin(F.broadcast(tot))
             .agg(F.max("n").alias("__n"),
                  F.sum(obs_t).cast("double").alias("__s")))
    chi2 = F.col("__n") + F.col("__s")
    out = (stats.crossJoin(F.broadcast(ka))
           .crossJoin(F.broadcast(kb)))
    dof = (F.col("ka") - 1) * (F.col("kb") - 1)
    v = F.when(dof > 0, F.round(F.sqrt(
        F.greatest(chi2, F.lit(0.0)) / (F.col("__n")
                                        * F.least(F.col("ka") - 1,
                                                  F.col("kb") - 1))),
        digits))
    return out.select(F.col("__n").cast("long").alias("n"),
                      dof.cast("long").alias("dof"),
                      F.round(chi2, digits).alias("chi2"),
                      v.alias("cramers_v"))


@register_op("chi2_independence", "df")
def _chi2_op(df, *args, **kw):
    return chi2_independence(df, *args, **kw)


def _global_ranked(df: DataFrame, value_col: str, tiebreak_col: str,
                   n_ranges: int | None = None):
    """Internal: global ascending rank + decimal-exact cumulative sum
    of ``value_col`` WITHOUT a single-partition sort — the two-phase
    distributed prefix sum (range partitions + broadcast per-range
    offsets; same shape as concurrency_profile's sweep line in
    pipeline/rollup.py). Returns (rows, totals): rows carries
    ``__rank`` (1-based over (value, tiebreak) order) and ``__cum``
    (inclusive decimal cumsum of round(value,12)); totals is the
    1-row (n, sum) aggregate. Driver traffic: 2 scalars per range.

    localCheckpoint pins the range boundaries AND partition ids so
    the offset job and the final join see the same __rid mapping
    (AQE would otherwise re-sample boundaries per job)."""
    from pyspark.sql import Window
    from decimal import Decimal
    spark = df.sparkSession
    if n_ranges is None:
        n_ranges = spark.sparkContext.defaultParallelism
    dec = "decimal(38,12)"
    x = F.col(value_col).cast("double")
    base = df.select(x.alias("__x"),
                     F.col(tiebreak_col).alias("__tb"),
                     F.round(x, 12).cast(dec).alias("__xd"))
    ranged = (base.repartitionByRange(n_ranges, "__x", "__tb")
              .withColumn("__rid", F.spark_partition_id())
              .localCheckpoint())
    w_in = Window.partitionBy("__rid").orderBy("__x", "__tb") \
        .rowsBetween(Window.unboundedPreceding, 0)
    local = (ranged
             .withColumn("__ln", F.row_number().over(
                 Window.partitionBy("__rid").orderBy("__x", "__tb")))
             .withColumn("__lc", F.sum("__xd").over(w_in)))
    stats = (ranged.groupBy("__rid")
             .agg(F.count(F.lit(1)).alias("__cnt"),
                  F.sum("__xd").alias("__sx")))
    rows = sorted((r["__rid"], r["__cnt"], r["__sx"] or Decimal(0))
                  for r in stats.collect())
    off, acc_n, acc_x = {}, 0, Decimal(0)
    for rid, cnt, sx in rows:
        off[rid] = (acc_n, acc_x)
        acc_n += int(cnt)
        acc_x += sx
    off_df = spark.createDataFrame(
        [(rid, o_n, o_x) for rid, (o_n, o_x) in off.items()],
        f"__rid int, __offn long, __offx {dec}")
    ranked = (local.join(F.broadcast(off_df), "__rid")
              .select("__x", "__tb",
                      (F.col("__ln") + F.col("__offn")).alias("__rank"),
                      (F.col("__lc") + F.col("__offx")).alias("__cum")))
    totals = spark.createDataFrame(
        [(acc_n, acc_x)], f"__n long, __sx {dec}")
    return ranked, totals


def gini_coefficient(df: DataFrame, value_col: str,
                     tiebreak_col: str, n_ranges: int | None = None,
                     digits: int = 6) -> DataFrame:
    """One row (n, total, gini) — the Gini concentration coefficient
    of a non-negative value column (revenue concentration, token
    ownership, degree inequality):

        G = 2·Σᵢ rᵢ·xᵢ / (n·Σx) − (n+1)/n

    with rᵢ the 1-based ascending rank. Tie order does not affect the
    statistic (tied x contribute x·Σranks over the tied block, which
    is permutation-invariant), so any total tiebreak yields identical
    values — ``tiebreak_col`` only makes the rank assignment itself
    reproducible.

    Plan: the global rank is the DISTRIBUTED two-phase prefix sum
    (range partitions + 2-scalars-per-range broadcast offsets), never
    a single-partition sort; then ONE hash agg. Decimal-exact sums,
    FP only on the final bit-identical aggregates."""
    ranked, totals = _global_ranked(df, value_col, tiebreak_col,
                                    n_ranges)
    dec = "decimal(38,12)"
    term = lambda c: F.round(c, 12).cast(dec)
    agg = (ranked.agg(
        F.count(F.lit(1)).alias("__n"),
        F.sum(term(F.col("__x"))).cast("double").alias("__sx"),
        F.sum(term(F.col("__rank") * F.col("__x"))).cast("double")
        .alias("__srx")))
    n = F.col("__n").cast("double")
    gini = (F.lit(2.0) * F.col("__srx") / (n * F.col("__sx"))
            - (n + F.lit(1.0)) / n)
    return agg.select(F.col("__n").alias("n"),
                      F.round("__sx", digits).alias("total"),
                      F.round(gini, digits).alias("gini"))


def lorenz_points(df: DataFrame, value_col: str, tiebreak_col: str,
                  points: int = 10, n_ranges: int | None = None,
                  digits: int = 6) -> DataFrame:
    """(point, cum_count, cum_value, cum_share) — the Lorenz curve
    sampled at k/points population quantiles: row k reads "the bottom
    k/points of entities hold cum_share of the total". The curve
    behind gini_coefficient; (k/points − cum_share) gaps ARE the Gini
    integrand.

    Each curve point is the entity at global rank ⌈k·n/points⌉; a row
    serves every k with ⌈k·n/P⌉ == rank (exact integer-division
    interval: k ∈ [⌊P(rank−1)/n⌋+1, ⌊P·rank/n⌋]), so tiny inputs
    (n < points) still emit all P points. Same distributed-rank
    machinery as gini_coefficient — no global sort task, decimal-exact
    cumulative sums."""
    ranked, totals = _global_ranked(df, value_col, tiebreak_col,
                                    n_ranges)
    P = int(points)
    # exact long floor-division (a − a mod n)/n: the quotient is an
    # exact integer ≤ P, so the double division cannot round
    fdiv = lambda a: ((a - F.pmod(a, F.col("__n")))
                      / F.col("__n")).cast("long")
    k_lo = fdiv(F.lit(P) * (F.col("__rank") - 1)) + 1
    k_hi = fdiv(F.lit(P) * F.col("__rank"))
    pts = (ranked.crossJoin(F.broadcast(totals))
           .where(k_hi >= k_lo)
           .select(F.explode(F.sequence(k_lo, k_hi)).alias("point"),
                   F.col("__rank").alias("cum_count"),
                   # round in the DECIMAL domain, cast once: rounding
                   # the DOUBLE at 6 dp diverges across engines once
                   # value·10^6 exceeds 2^53 (DuckDB's scale-multiply
                   # vs Spark's exact-decimal HALF_UP — the sf0.1
                   # full-sweep strict-gate catch); a decimal round is
                   # exact in both, so the cast is bit-identical
                   F.round(F.col("__cum"), digits).cast("double")
                   .alias("cum_value"),
                   F.col("__cum").cast("double").alias("__cv"),
                   F.col("__sx").cast("double").alias("__t")))
    return (pts.select("point", "cum_count", "cum_value",
                       F.round(F.col("__cv") / F.col("__t"),
                               digits).alias("cum_share")))


@register_op("gini_coefficient", "df")
def _gini_op(df, *args, **kw):
    return gini_coefficient(df, *args, **kw)


@register_op("lorenz_points", "df")
def _lorenz_op(df, *args, **kw):
    return lorenz_points(df, *args, **kw)


def target_encode(df: DataFrame, cat_col: str, target_col: str,
                  smoothing: float = 10.0, loo: bool = False,
                  out_col: str | None = None,
                  digits: int = 6) -> DataFrame:
    """Input + ``out_col`` (default ``te_<cat_col>``) — smoothed
    mean-target encoding of a categorical column:

        enc(c) = (Σ_c y + m·μ) / (n_c + m)          (loo=False)
        enc_i  = (Σ_c y − y_i + m·μ) / (n_c − 1 + m) (loo=True)

    with μ the global target mean and m the smoothing pseudo-count
    (rare categories shrink toward μ). loo=True excludes each row's
    OWN target — the leakage-safe form for training folds (a
    category's singleton row degenerates to exactly μ). NULL
    categories encode as their own category.

    Plan: one cat-keyed hash agg (vocabulary-sized) joined back by
    hash join (broadcast when the vocab fits), the global mean a
    1-row broadcast. LOO needs NO window: the per-row exclusion is
    arithmetic on the category aggregate. Decimal-exact sums."""
    dec = "decimal(38,12)"
    term = lambda c: F.round(c, 12).cast(dec)
    out_col = out_col or f"te_{cat_col}"
    y = F.col(target_col).cast("double")
    key = F.coalesce(F.col(cat_col).cast("string"), F.lit("∅"))
    cat = (df.groupBy(key.alias("__cat"))
           .agg(F.count(y).alias("__nc"),
                F.sum(term(y)).cast("double").alias("__sc")))
    tot = df.agg((F.sum(term(y)).cast("double")
                  / F.count(y)).alias("__mu"))
    m = float(smoothing)
    joined = (df.withColumn("__cat", key)
              .join(cat, "__cat")
              .crossJoin(F.broadcast(tot)))
    nc = F.col("__nc").cast("double")
    if loo:
        enc = F.when(
            y.isNotNull() & (nc - 1 + m > 0),
            (F.col("__sc") - y + m * F.col("__mu"))
            / (nc - 1 + m)).otherwise(F.col("__mu"))
    else:
        enc = (F.col("__sc") + m * F.col("__mu")) / (nc + m)
    # the smoothed numerator is Σy + m·μ — a multiply-ADD, the
    # FMA-contraction exposure class (r07 verdict) — so the encoding
    # rounds magnitude-safely (≤9 total significant digits) rather
    # than at a fixed 6 dp.
    from ..functions.rounding import round_sig_safe
    return (joined.withColumn("__enc_raw", enc)
            .withColumn(out_col,
                        round_sig_safe(F.col("__enc_raw"), digits))
            .drop("__cat", "__nc", "__sc", "__mu", "__enc_raw"))


def corr_matrix(df: DataFrame, cols: list[str],
                digits: int = 6) -> DataFrame:
    """(col_a, col_b, n, r) — the Pearson correlation of every
    unordered column pair (pair order follows the ``cols`` list
    order), from ONE scan:
    all k(k+1)/2 decimal-exact sums (Σxᵢ, Σxᵢ², Σxᵢxⱼ) land in a
    single hash aggregate, and the pair rows unfold from the 1-row
    result via an inline array — no per-pair jobs, no collect.
    Rows with a NULL in ANY listed column are dropped (listwise
    deletion) so every pair shares one n. Zero-variance columns
    yield NULL r."""
    dec = "decimal(38,12)"
    term = lambda c: F.round(c, 12).cast(dec)
    cols = list(cols)
    xs = {c: F.col(c).cast("double") for c in cols}
    base = df.where(F.lit(True))
    for c in cols:
        base = base.where(xs[c].isNotNull())
    aggs = [F.count(F.lit(1)).alias("__n")]
    for c in cols:
        aggs.append(F.sum(term(xs[c])).cast("double")
                    .alias(f"__s_{c}"))
        aggs.append(F.sum(term(xs[c] * xs[c])).cast("double")
                    .alias(f"__q_{c}"))
    for i, a in enumerate(cols):
        for b in cols[i + 1:]:
            aggs.append(F.sum(term(xs[a] * xs[b])).cast("double")
                        .alias(f"__p_{a}_{b}"))
    one = base.agg(*aggs)
    n = F.col("__n").cast("double")
    pairs = []
    for i, a in enumerate(cols):
        for b in cols[i + 1:]:
            num = n * F.col(f"__p_{a}_{b}") \
                - F.col(f"__s_{a}") * F.col(f"__s_{b}")
            da = n * F.col(f"__q_{a}") \
                - F.col(f"__s_{a}") * F.col(f"__s_{a}")
            db = n * F.col(f"__q_{b}") \
                - F.col(f"__s_{b}") * F.col(f"__s_{b}")
            r = F.when((da > 0) & (db > 0),
                       F.round(num / F.sqrt(da * db), digits))
            pairs.append(F.struct(F.lit(a).alias("col_a"),
                                  F.lit(b).alias("col_b"),
                                  r.alias("r")))
    return (one.select(F.col("__n").alias("n"),
                       F.explode(F.array(*pairs)).alias("__pr"))
            .select("__pr.col_a", "__pr.col_b", "n", "__pr.r"))


def linreg(df: DataFrame, x_col: str, y_col: str, by=None,
           digits: int = 6, qscale: int = 4) -> DataFrame:
    """(by..., n, slope, intercept, r2) — closed-form simple OLS of
    y on x per key:

        slope = (nΣxy − ΣxΣy) / (nΣx² − (Σx)²)
        intercept = (ΣyΣx² − ΣxΣxy) / (nΣx² − (Σx)²)
        r² = (nΣxy − ΣxΣy)² / ((nΣx²−(Σx)²)(nΣy²−(Σy)²))

    The trend-line primitive (daily-revenue slope per segment,
    latency growth per host). ONE keyed hash agg, map-side
    combinable; degenerate keys (n<2 or zero x-variance) yield NULL
    slope/intercept/r2.

    Cross-engine determinism (r07 verdict order #1): every numerator
    and denominator is built EXACTLY in decimal — sums accumulate in
    DECIMAL(38,12), quantize once to DECIMAL(19,qscale) (width 19
    forces DuckDB's int128 multiply path so (19,s)×(19,s)→(38,2s) is
    exact; Spark computes the product exactly in BigDecimal and its
    precision-loss adjustment keeps scale 2s, also exact), and the
    cross products never leave decimal. Each statistic is then ONE
    double division of two bit-identical doubles (no double
    multiply-subtract, so no FMA-contraction divergence), rounded
    magnitude-safely to ≤9 total significant digits
    (functions/rounding.py). `qscale` trades fractional precision
    for headroom: sums and squared sums must fit 10^(19-qscale);
    lower it for large-magnitude series."""
    from ..functions.rounding import round_sig_safe
    dec = "decimal(38,12)"
    q = f"decimal(19,{int(qscale)})"
    term = lambda c: F.round(c, 12).cast(dec)
    by = [] if by is None else ([by] if isinstance(by, str)
                                else list(by))
    x = F.col(x_col).cast("double")
    y = F.col(y_col).cast("double")
    # quantize via explicit ROUND then cast: a bare decimal downcast
    # TRUNCATES in DuckDB while Spark's rounds HALF_UP — ROUND is
    # half-away-from-zero in both engines.
    quant = lambda c: F.round(c, int(qscale)).cast(q)
    agg = (df.where(x.isNotNull() & y.isNotNull())
           .groupBy(*by)
           .agg(F.count(F.lit(1)).alias("__n"),
                quant(F.sum(term(x))).alias("__sx"),
                quant(F.sum(term(y))).alias("__sy"),
                quant(F.sum(term(x * x))).alias("__qx"),
                quant(F.sum(term(y * y))).alias("__qy"),
                quant(F.sum(term(x * y))).alias("__sxy")))
    nd = F.col("__n").cast("decimal(12,0)")
    num = nd * F.col("__sxy") - F.col("__sx") * F.col("__sy")
    dx = nd * F.col("__qx") - F.col("__sx") * F.col("__sx")
    dy = nd * F.col("__qy") - F.col("__sy") * F.col("__sy")
    inum = (F.col("__sy") * F.col("__qx")
            - F.col("__sx") * F.col("__sxy"))
    num_d, dx_d, dy_d = (num.cast("double"), dx.cast("double"),
                         dy.cast("double"))
    ok = (F.col("__n") >= 2) & (dx > 0)
    # two-step projection: materialize the raw doubles under aliases
    # FIRST, then round plain column refs — round_sig_safe expands to
    # a per-scale CASE chain, and inlining the decimal arithmetic
    # into every branch blows whole-stage codegen past janino's
    # method-size limit (observed: 10k-line generated.java,
    # interpreted fallback). CollapseProject keeps the split because
    # each raw column is referenced by many non-cheap branches.
    raw = agg.select(
        *by, F.col("__n").alias("n"),
        F.when(ok, num_d / dx_d).alias("__slope_raw"),
        F.when(ok, inum.cast("double") / dx_d).alias("__int_raw"),
        F.when(ok & (dy > 0),
               (num_d * num_d) / (dx_d * dy_d)).alias("__r2_raw"))
    return raw.select(
        *by, "n",
        round_sig_safe(F.col("__slope_raw"), digits).alias("slope"),
        round_sig_safe(F.col("__int_raw"), digits).alias("intercept"),
        round_sig_safe(F.col("__r2_raw"), digits).alias("r2"))


@register_op("target_encode", "df")
def _target_encode_op(df, *args, **kw):
    return target_encode(df, *args, **kw)


# registered as corr_matrix_exact: ops/df_ops.py already owns the
# `corr_matrix` op name (built-in F.corr, per-pair NULL deletion,
# digits=4); this one is the decimal-exact, shared-n, listwise form
@register_op("corr_matrix_exact", "df")
def _corr_matrix_op(df, *args, **kw):
    return corr_matrix(df, *args, **kw)


@register_op("linreg", "df")
def _linreg_op(df, *args, **kw):
    return linreg(df, *args, **kw)


def spearman_corr(df: DataFrame, x_col: str, y_col: str, by=None,
                  digits: int = 6) -> DataFrame:
    """(by..., n, rho) — Spearman rank correlation with midrank tie
    handling: Pearson r computed over each column's midranks, the
    monotone-association measure that ignores scale and outliers
    (the nonparametric sibling of corr_matrix; a rank-based linreg
    face). NULL in either column drops the row (listwise, shared n).

    Plan: TWO key-ordered windows (one per column — irreducible for
    ranks) share the single ``by``-keyed shuffle, then ONE hash agg
    of decimal-exact rank sums. Determinism (same discipline as
    linreg): midranks are exact halves, sums quantize to
    DECIMAL(19,2) (exact: midrank products carry scale ≤4),
    numerator/denominators never leave decimal, and rho is
    num / √(dx·dy) — a multiply, a √ and a ÷ of bit-identical
    doubles, no multiply-ADD, released sig-safely (|rho| ≤ 1)."""
    from pyspark.sql import Window
    from ..functions.rounding import round_sig_safe
    by = [] if by is None else ([by] if isinstance(by, str)
                                else list(by))
    x = F.col(x_col).cast("double")
    y = F.col(y_col).cast("double")
    base = df.where(x.isNotNull() & y.isNotNull()) \
             .select(*by, x.alias("__x"), y.alias("__y"))
    part = by if by else [F.lit(1)]

    def midrank(c):
        wr = Window.partitionBy(*part).orderBy(c)
        wt = Window.partitionBy(*part, c)
        return (F.rank().over(wr).cast("double")
                + (F.count(F.lit(1)).over(wt).cast("double") - 1.0)
                / 2.0)

    ranked = base.select(*by, midrank(F.col("__x")).alias("__ra"),
                         midrank(F.col("__y")).alias("__rb"))
    q = "decimal(19,2)"
    dec = "decimal(38,12)"
    term = lambda c: F.round(c, 12).cast(dec)
    quant = lambda c: F.round(c, 2).cast(q)
    ra, rb = F.col("__ra"), F.col("__rb")
    agg = (ranked.groupBy(*by)
           .agg(F.count(F.lit(1)).alias("__n"),
                quant(F.sum(term(ra))).alias("__sa"),
                quant(F.sum(term(rb))).alias("__sb"),
                quant(F.sum(term(ra * ra))).alias("__qa"),
                quant(F.sum(term(rb * rb))).alias("__qb"),
                quant(F.sum(term(ra * rb))).alias("__sab")))
    nd = F.col("__n").cast("decimal(12,0)")
    num = nd * F.col("__sab") - F.col("__sa") * F.col("__sb")
    dx = nd * F.col("__qa") - F.col("__sa") * F.col("__sa")
    dy = nd * F.col("__qb") - F.col("__sb") * F.col("__sb")
    raw = agg.select(
        *by, F.col("__n").alias("n"),
        F.when((F.col("__n") >= 2) & (dx > 0) & (dy > 0),
               num.cast("double")
               / F.sqrt(dx.cast("double") * dy.cast("double")))
        .alias("__rho_raw"))
    return raw.select(*by, "n",
                      round_sig_safe(F.col("__rho_raw"), digits)
                      .alias("rho"))


@register_op("spearman_corr", "df")
def _spearman_op(df, *args, **kw):
    return spearman_corr(df, *args, **kw)


def theil_sen(df: DataFrame, x_col: str, y_col: str, by=None,
              digits: int = 6,
              max_points_per_key: int | None = 5000) -> DataFrame:
    """(by..., n, n_pairs, slope) — the Theil-Sen robust trend
    estimator: the MEDIAN of all pairwise slopes
    (y_j−y_i)/(x_j−x_i) over x_i < x_j, the 29%-breakdown-point
    alternative to linreg's OLS slope (one wild day cannot drag it).
    Pairs with equal x are skipped (slope undefined); keys with no
    valid pair yield NULL slope.

    COST NOTE: quadratic in per-key points — this is the
    bounded-series estimator (a key's daily/hourly aggregate rows,
    tens to low thousands of points), NOT a raw-event op; aggregate
    first. The join is key-local (one shuffle both sides share), so
    k keys × m points cost k·m²/2 pair rows — each 24 bytes.

    Determinism: every pair slope is one subtract + one divide of
    bit-identical doubles; the median is an exact PERCENTILE_DISC
    element pick (value at ceil(m/2) of the sorted pair-slope
    multiset, ties broken by value only — duplicates collapse
    identically in any engine)."""
    from pyspark.sql import Window
    by = [] if by is None else ([by] if isinstance(by, str)
                                else list(by))
    x = F.col(x_col).cast("double")
    y = F.col(y_col).cast("double")
    base = (df.where(x.isNotNull() & y.isNotNull())
            .select(*by, x.alias("__x"), y.alias("__y")))
    part = by if by else [F.lit(1)]
    w = Window.partitionBy(*part).orderBy("__x", "__y")
    pts = base.withColumn("__rn", F.row_number().over(w))
    if max_points_per_key is not None:
        # the COST NOTE, ENFORCED: a key past the cap would silently
        # launch an m² pair join (50k raw events in one key = 1.25B
        # pair rows). Fails the job with the fix in the message; an
        # informed caller passes max_points_per_key=None. The check
        # rides the row_number's existing partitioning — a count over
        # the same window adds no shuffle.
        wc = Window.partitionBy(*part)
        cap = int(max_points_per_key)
        pts = pts.withColumn(
            "__guard",
            F.when(
                F.count(F.lit(1)).over(wc) <= cap, F.lit(1)
            ).otherwise(F.raise_error(F.lit(
                "theil_sen: a key has more than "
                f"{cap} points (max_points_per_key) — the "
                "pairwise-slope join is quadratic per key. "
                "Aggregate the series first (e.g. one point "
                "per day: groupBy(key, day).agg(sum(y))) or "
                "pass max_points_per_key=None if the series "
                "is genuinely this long and the m^2/2 pair "
                "cost is intended."))))
        pts = pts.where(F.col("__guard") == 1).drop("__guard")
    a = pts.select(*by, F.col("__x").alias("__xa"),
                   F.col("__y").alias("__ya"),
                   F.col("__rn").alias("__ra"))
    b = pts.select(*by, F.col("__x").alias("__xb"),
                   F.col("__y").alias("__yb"),
                   F.col("__rn").alias("__rb"))
    pairs = (a.join(b, by) if by else a.crossJoin(b))         .where((F.col("__ra") < F.col("__rb"))
               & (F.col("__xa") != F.col("__xb")))         .select(*by, ((F.col("__yb") - F.col("__ya"))
                      / (F.col("__xb") - F.col("__xa")))
                .alias("__sl"))
    ws = Window.partitionBy(*part).orderBy("__sl")
    wc = Window.partitionBy(*part)
    ranked = (pairs.withColumn("__r", F.row_number().over(ws))
              .withColumn("__m", F.count(F.lit(1)).over(wc)))
    med = ranked.groupBy(*by).agg(
        F.max("__m").alias("n_pairs"),
        F.max(F.when(F.col("__r") == F.ceil(F.col("__m") / 2),
                     F.col("__sl"))).alias("slope"))
    npts = base.groupBy(*by).agg(F.count(F.lit(1)).alias("n"))
    joined = npts.join(med, by, "left") if by else         npts.crossJoin(med)
    return joined.select(*by, "n",
                         F.coalesce("n_pairs", F.lit(0)).alias("n_pairs"),
                         "slope")


def js_divergence(df: DataFrame, sample_col: str, cat_col: str,
                  by=None, digits: int = 6) -> DataFrame:
    """(by..., n_a, n_b, kl_ab, kl_ba, js) — distribution drift of a
    CATEGORICAL column between samples 'a' (reference) and 'b'
    (current), in nats. Jensen-Shannon is always defined (zero cells
    contribute 0 to their own side); KL(p‖q) is NULL whenever q has
    a zero cell where p > 0 (the standard undefined case — no
    silent smoothing; psi_drift is the smoothed-binned alternative
    for numeric columns).

    Plan: ONE (by, category) hash agg with conditional counts, then
    a (by)-keyed agg of decimal-quantized terms — every p/q derives
    from exact integer counts (identical doubles cross-engine), each
    term rounds half-up to scale-12 DECIMAL before the sum (the
    mutual_info discipline), output sums are one decimal→double cast
    (≤ ln 2 magnitude — far inside the 9-digit envelope)."""
    by = [] if by is None else ([by] if isinstance(by, str)
                                else list(by))
    s = F.col(sample_col)
    cat = F.coalesce(F.col(cat_col).cast("string"), F.lit("∅"))
    cells = (df.where(s.isin("a", "b"))
             .groupBy(*by, cat.alias("__c"))
             .agg(F.sum(F.when(s == "a", 1).otherwise(0)).alias("ca"),
                  F.sum(F.when(s == "b", 1).otherwise(0)).alias("cb")))
    from pyspark.sql import Window
    wk = Window.partitionBy(*by) if by else Window.partitionBy(F.lit(1))
    t = (cells.withColumn("n_a", F.sum("ca").over(wk))
         .withColumn("n_b", F.sum("cb").over(wk)))
    p = F.col("ca").cast("double") / F.col("n_a").cast("double")
    q_ = F.col("cb").cast("double") / F.col("n_b").cast("double")
    m = (p + q_) / 2.0
    dec = "decimal(38,12)"
    term = lambda c: F.round(c, 12).cast(dec)
    z = F.lit(0.0).cast(dec)
    # a zero-q cell with p>0 makes KL(p‖q) UNDEFINED for the whole
    # key — a NULL term would silently vanish from SUM, so the
    # undefined state travels as an explicit flag instead (and the
    # term itself guards the log: 0-count cells never reach p/q_,
    # which would be a double Infinity and an ANSI decimal-cast
    # error)
    kl_ab_t = F.when(F.col("ca") == 0, z) \
        .when(F.col("cb") == 0, z) \
        .otherwise(term(p * F.log(p / q_)))
    kl_ba_t = F.when(F.col("cb") == 0, z) \
        .when(F.col("ca") == 0, z) \
        .otherwise(term(q_ * F.log(q_ / p)))
    bad_ab = F.when((F.col("cb") == 0) & (F.col("ca") > 0), 1) \
        .otherwise(0)
    bad_ba = F.when((F.col("ca") == 0) & (F.col("cb") > 0), 1) \
        .otherwise(0)
    # the two JS half-terms sum SEPARATELY: adding two DECIMAL(38,12)
    # values per row trips Spark's precision-loss adjustment
    # ((38,12)+(38,12)→(38,11) — a silent per-row round DuckDB does
    # not mirror); two exact sums combined as bit-identical doubles
    # stay deterministic.
    # a key whose sample 'a' (or 'b') is entirely absent has n_a=0:
    # p would be 0/0 = NaN, which poisons m and the js terms (and
    # under ANSI mode the NaN→DECIMAL cast throws). Every term is
    # therefore ALSO conditioned on both window totals being
    # positive — the term collapses to exact 0 and the OUTPUT is
    # NULLed below (mirroring psi_drift's no-reference contract).
    both = (F.col("n_a") > 0) & (F.col("n_b") > 0)
    js_p = F.when((F.col("ca") == 0) | ~both, z) \
        .otherwise(term(p * F.log(p / m)))
    js_q = F.when((F.col("cb") == 0) | ~both, z) \
        .otherwise(term(q_ * F.log(q_ / m)))
    kl_ab_t = F.when(~both, z).otherwise(kl_ab_t)
    kl_ba_t = F.when(~both, z).otherwise(kl_ba_t)
    from ..functions.rounding import round_sig_safe
    raw = (t.groupBy(*by, "n_a", "n_b")
           .agg(F.when((F.max(bad_ab) == 0) & both,
                       F.sum(kl_ab_t).cast("double")).alias("__klab"),
                F.when((F.max(bad_ba) == 0) & both,
                       F.sum(kl_ba_t).cast("double")).alias("__klba"),
                F.when(both,
                       (F.sum(js_p).cast("double")
                        + F.sum(js_q).cast("double")) / F.lit(2.0))
                .alias("__js")))
    return raw.select(
        *by, "n_a", "n_b",
        round_sig_safe(F.col("__klab"), digits).alias("kl_ab"),
        round_sig_safe(F.col("__klba"), digits).alias("kl_ba"),
        round_sig_safe(F.col("__js"), digits).alias("js"))


@register_op("js_divergence", "df")
def _jsd_op(df, *args, **kw):
    return js_divergence(df, *args, **kw)


def mad_outliers(df: DataFrame, value_col: str, by=None,
                 threshold: float = 3.5,
                 summarize: bool = True) -> DataFrame:
    """Robust outlier detection by the modified z-score
    |0.6745·(x − median)| / MAD > threshold (Iglewicz-Hoaglin), with
    median and MAD both EXACT by the integer-rank PERCENTILE_DISC
    definition (value at row ceil(n/2) of the sorted multiset) — no
    interpolation, tie-independent, engine-exact, so the whole
    detector replays bit-for-bit in any engine.

    summarize=True → (by..., n, median, mad, n_outliers) per key;
    summarize=False → input rows + (median, mad, is_outlier).

    Plan: TWO key-ordered window shuffles (one for the value rank,
    one for the |x−median| rank — the second pass is data-dependent
    on the first, irreducible for an exact MAD) + a final hash agg
    sharing the same key partitioning. Nothing global, nothing
    collected. MAD = 0 (≥half the group at the median) flags nothing
    — the modified z is undefined there, documented behavior."""
    from pyspark.sql import Window
    keys = ([] if by is None
            else [by] if isinstance(by, str) else list(by))
    x = F.col(value_col).cast("double")
    base = df.where(x.isNotNull())
    w = Window.partitionBy(*keys).orderBy(x)
    wn = Window.partitionBy(*keys)
    med_t = (base
             .withColumn("__rn", F.row_number().over(w))
             .withColumn("__n", F.count(F.lit(1)).over(wn))
             .withColumn("__med", F.max(F.when(
                 F.col("__rn") == F.ceil(F.col("__n") / 2),
                 x)).over(wn)))
    dev = F.abs(x - F.col("__med"))
    wd = Window.partitionBy(*keys).orderBy(dev)
    mad_t = (med_t
             .withColumn("__rd", F.row_number().over(wd))
             .withColumn("__mad", F.max(F.when(
                 F.col("__rd") == F.ceil(F.col("__n") / 2),
                 dev)).over(wn)))
    is_out = ((F.col("__mad") > 0)
              & (0.6745 * dev / F.col("__mad") > F.lit(threshold)))
    if not summarize:
        return (mad_t.withColumn("median", F.col("__med"))
                .withColumn("mad", F.col("__mad"))
                .withColumn("is_outlier", is_out)
                .drop("__rn", "__n", "__med", "__rd", "__mad"))
    return (mad_t.groupBy(*keys)
            .agg(F.count(F.lit(1)).alias("n"),
                 F.max("__med").alias("median"),
                 F.max("__mad").alias("mad"),
                 F.sum(F.when(is_out, 1).otherwise(0))
                 .cast("long").alias("n_outliers")))


def rank_transform(df: DataFrame, value_col: str, by=None,
                   out_col: str | None = None,
                   bins: int | None = None,
                   digits: int = 6) -> DataFrame:
    """Input + `out_col` — rank-based feature scaling per key:
    bins=None → PERCENT_RANK in [0,1] (the quantile-uniform
    transform; rank-tied rows share a value); bins=k → NTILE(k)
    bucket index in 1..k (equal-population binning, SQL NTILE
    semantics). ONE key-ordered window shuffle; NULL values pass
    through with NULL output (excluded from ranking)."""
    from pyspark.sql import Window
    keys = ([] if by is None
            else [by] if isinstance(by, str) else list(by))
    out_col = out_col or (f"ntile_{value_col}" if bins
                          else f"pct_rank_{value_col}")
    x = F.col(value_col)
    w = Window.partitionBy(*keys).orderBy(x)
    ranked = (F.ntile(int(bins)).over(w) if bins
              else F.round(F.percent_rank().over(w), digits))
    nn = df.where(x.isNotNull()).withColumn(out_col, ranked)
    nulls = df.where(x.isNull()).withColumn(
        out_col, F.lit(None).cast("int" if bins else "double"))
    return nn.unionByName(nulls)


@register_op("mad_outliers", "df")
def _mad_outliers_op(df, *args, **kw):
    return mad_outliers(df, *args, **kw)


@register_op("rank_transform", "df")
def _rank_transform_op(df, *args, **kw):
    return rank_transform(df, *args, **kw)


def _moment_raw(df: DataFrame, value_col: str, by=None) -> DataFrame:
    """Internal engine shared by group_moments and jarque_bera:
    (by..., n, __mu_raw, __m2_raw, __sk_raw, __ku_raw) with the
    population central-moment ratios UNROUNDED (callers round once,
    at release). One map-side-combinable hash agg of decimal-exact
    power sums; stepwise attribute-referencing projections (the
    janino-64KB codegen discipline — see group_moments)."""
    dec = "decimal(38,12)"
    term = lambda c: F.round(c, 12).cast(dec)
    by = [] if by is None else ([by] if isinstance(by, str)
                                else list(by))
    x = F.col(value_col).cast("double")
    pre = (df.where(x.isNotNull())
           .select(*by,
                   term(x).alias("__t1"),
                   term(x * x).alias("__t2"),
                   term(x * x * x).alias("__t3"),
                   term(x * x * x * x).alias("__t4")))
    agg = (pre.groupBy(*by)
           .agg(F.count(F.lit(1)).alias("__n"),
                F.sum("__t1").cast("double").alias("__s1"),
                F.sum("__t2").cast("double").alias("__s2"),
                F.sum("__t3").cast("double").alias("__s3"),
                F.sum("__t4").cast("double").alias("__s4")))
    n = F.col("__n").cast("double")
    mu_ = F.col("__mu")
    d1 = agg.select(*by, "__n",
                    (F.col("__s1") / n).alias("__mu"),
                    (F.col("__s2") / n).alias("__p2"),
                    (F.col("__s3") / n).alias("__p3"),
                    (F.col("__s4") / n).alias("__p4"))
    d2 = d1.select(
        *by, "__n", "__mu",
        (F.col("__p2") - mu_ * mu_).alias("__m2"),
        (F.col("__p3") - 3 * mu_ * F.col("__p2")
         + 2 * mu_ * mu_ * mu_).alias("__m3"),
        (F.col("__p4") - 4 * mu_ * F.col("__p3")
         + 6 * mu_ * mu_ * F.col("__p2")
         - 3 * mu_ * mu_ * mu_ * mu_).alias("__m4"))
    m2 = F.col("__m2")
    return d2.select(
        *by, F.col("__n").alias("n"),
        F.col("__mu").alias("__mu_raw"), m2.alias("__m2_raw"),
        F.when(m2 > 0, F.col("__m3") / F.sqrt(m2 * m2 * m2))
        .alias("__sk_raw"),
        F.when(m2 > 0, F.col("__m4") / (m2 * m2) - 3.0)
        .alias("__ku_raw"))


def group_moments(df: DataFrame, value_col: str, by=None,
                  digits: int = 6) -> DataFrame:
    """(by..., n, mean, variance, skewness, kurtosis) — the full
    population-moment profile per key from ONE map-side-combinable
    hash agg of decimal-exact power sums (Σx..Σx⁴):

        m_k = Σ(x−μ)^k/n  expanded algebraically from raw sums;
        skewness = m₃/m₂^1.5, kurtosis = m₄/m₂² − 3 (excess).

    POPULATION moments (no bias correction) because the algebra then
    matches bit-for-bit in any engine computing the same raw sums —
    sample-corrected variants differ across engines' estimator
    choices. Zero-variance keys yield NULL skew/kurtosis. One scan,
    no windows. x⁴ term: values beyond ~|1e6| lose the 12-dp decimal
    guarantee to double rounding first — same envelope as every other
    decimal-exact op here."""
    from ..functions.rounding import round_sig_safe
    by = [] if by is None else ([by] if isinstance(by, str)
                                else list(by))
    # the ROUND→DECIMAL(38,12) power chains are PRE-PROJECTED once
    # and the central-moment ratios assemble through STEPWISE
    # attribute-referencing projections inside _moment_raw — the
    # janino-64KB codegen discipline (r08 verdict "what's wrong" #2;
    # guarded by tools/check_oracle.py's CODEGEN-FALLBACK stderr grep
    # and tests/test_new_op_plans.py).
    raw = _moment_raw(df, value_col, by)
    # the central-moment assembly is a multiply-ADD chain in double —
    # the FMA-contraction exposure class (r07 verdict) — so outputs
    # round magnitude-safely (≤9 total significant digits) instead of
    # at a fixed 6 dp: variance ~1e7 at 6 dp would demand 14
    # cross-engine-identical digits.
    return raw.select(
        *by, "n",
        round_sig_safe(F.col("__mu_raw"), digits).alias("mean"),
        round_sig_safe(F.col("__m2_raw"), digits).alias("variance"),
        round_sig_safe(F.col("__sk_raw"), digits).alias("skewness"),
        round_sig_safe(F.col("__ku_raw"), digits).alias("kurtosis"))


@register_op("group_moments", "df")
def _group_moments_op(df, *args, **kw):
    return group_moments(df, *args, **kw)


def quantile_normalize(df: DataFrame, cols: list[str],
                       digits: int = 6) -> DataFrame:
    """Input + ``qn_<col>`` per listed column — QUANTILE NORMALIZATION
    (the microarray/omics standard, limma normalizeQuantiles): every
    column is forced onto the identical distribution, namely the
    across-column mean of order statistics; a value at sorted
    position r maps to mean_cols(col's r-th smallest). Ties within a
    column receive the MEAN of the reference values over their rank
    span, which makes the result independent of tie order (and of
    any row-id tiebreak — value-deterministic, so it cross-engine
    replays exactly).

    Plan, per the standing no-global-sort rule: each column's global
    rank comes from the range-partitioned two-phase prefix machinery
    (`_global_ranked` — the gini/Mann-Whitney engine), NOT a
    single-partition window; the reference distribution is one
    rank-keyed agg over the k unioned rank vectors; the value→
    normalized mapping is (col, value)-keyed (distinct-value-sized)
    and joins back per column as a hash join. Rows with a NULL in
    ANY listed column are dropped (listwise) so every column shares
    one n — the definition requires equal-length vectors."""
    cols = list(cols)
    k = len(cols)
    base = df
    for c in cols:
        base = base.where(F.col(c).isNotNull())
    ranked_frames = []
    for c in cols:
        ranked, _ = _global_ranked(base, c, c)
        ranked_frames.append(
            ranked.select(F.lit(c).alias("__col"),
                          F.col("__x"), F.col("__rank")))
    allr = reduce(lambda a, b: a.unionByName(b), ranked_frames)
    dec = "decimal(38,12)"
    ref = (allr.groupBy("__rank")
           .agg((F.sum(F.round(F.col("__x"), 12).cast(dec))
                 .cast("double") / F.lit(float(k))).alias("__m")))
    mapping = (allr.join(ref, "__rank")
               .groupBy("__col", "__x")
               .agg(F.round(F.sum(F.round(F.col("__m"), 12)
                                  .cast(dec)).cast("double")
                            / F.count(F.lit(1)), digits)
                    .alias("__qn")))
    out = base
    for c in cols:
        m_c = (mapping.where(F.col("__col") == c)
               .select(F.col("__x").alias("__key"),
                       F.col("__qn").alias(f"qn_{c}")))
        out = out.join(m_c, out[c].cast("double") == F.col("__key"),
                       "left").drop("__key")
    return out


@register_op("quantile_normalize", "df")
def _quantile_normalize_op(df, *args, **kw):
    return quantile_normalize(df, *args, **kw)


@register_op("theil_sen", "df")
def _theil_sen_op(df, *args, **kw):
    return theil_sen(df, *args, **kw)


def mann_kendall(df: DataFrame, x_col: str, y_col: str, by=None,
                 digits: int = 6,
                 max_points_per_key: int | None = 5000) -> DataFrame:
    """(by..., n, s_stat, var_s, z) — the Mann-Kendall trend test
    over a series ordered by ``x_col``: S = Σ_{i<j} sign(y_j − y_i)
    counts concordant minus discordant pairs, with the tie-corrected
    variance

        Var(S) = [n(n−1)(2n+5) − Σ_t t(t−1)(2t+5)] / 18

    and z = (S∓1)/√Var(S) (continuity-corrected; 0 when S=0). The
    significance companion to theil_sen: theil_sen says HOW steep,
    Mann-Kendall says WHETHER the monotone trend is real — same
    bounded-series posture, same key-local pair join, same
    max_points_per_key guard (quadratic per key; aggregate first).

    Determinism: S and the tie term are exact integers; Var(S)/18
    and z are two IEEE-exact ops on integer-derived doubles — z
    releases sig-safe."""
    from pyspark.sql import Window
    from ..functions.rounding import round_sig_safe
    by = [] if by is None else ([by] if isinstance(by, str)
                                else list(by))
    x = F.col(x_col).cast("double")
    y = F.col(y_col).cast("double")
    base = (df.where(x.isNotNull() & y.isNotNull())
            .select(*by, x.alias("__x"), y.alias("__y")))
    part = by if by else [F.lit(1)]
    w = Window.partitionBy(*part).orderBy("__x", "__y")
    pts = base.withColumn("__rn", F.row_number().over(w))
    if max_points_per_key is not None:
        wc = Window.partitionBy(*part)
        cap = int(max_points_per_key)
        pts = pts.withColumn(
            "__guard",
            F.when(F.count(F.lit(1)).over(wc) <= cap, F.lit(1))
            .otherwise(F.raise_error(F.lit(
                "mann_kendall: a key has more than "
                f"{cap} points (max_points_per_key) — the pair "
                "join is quadratic per key. Aggregate the series "
                "first (e.g. one point per day) or pass "
                "max_points_per_key=None deliberately."))))
        pts = pts.where(F.col("__guard") == 1).drop("__guard")
    a = pts.select(*by, F.col("__x").alias("__xa"),
                   F.col("__y").alias("__ya"),
                   F.col("__rn").alias("__ra"))
    b = pts.select(*by, F.col("__x").alias("__xb"),
                   F.col("__y").alias("__yb"),
                   F.col("__rn").alias("__rb"))
    pairs = (a.join(b, by) if by else a.crossJoin(b)) \
        .where(F.col("__ra") < F.col("__rb")) \
        .select(*by, F.signum(F.col("__yb") - F.col("__ya"))
                .cast("long").alias("__sgn"))
    s_df = pairs.groupBy(*by).agg(
        F.sum("__sgn").alias("s_stat"))
    # tie groups over VALUES (y), n per key
    ties = (base.groupBy(*by, "__y")
            .agg(F.count(F.lit(1)).alias("__t"))
            .groupBy(*by)
            .agg(F.sum(F.lit(1) * F.col("__t")).cast("long")
                 .alias("n"),
                 F.sum(F.col("__t") * (F.col("__t") - 1)
                       * (2 * F.col("__t") + 5)).cast("long")
                 .alias("__tt")))
    j = (ties.join(s_df, by) if by
         else ties.crossJoin(F.broadcast(s_df)))  # 1-row broadcast
    nd = F.col("n").cast("double")
    var_s = (nd * (nd - 1.0) * (2.0 * nd + 5.0)
             - F.col("__tt").cast("double")) / 18.0
    s = F.col("s_stat").cast("double")
    z = F.when(var_s <= 0, F.lit(None).cast("double")) \
        .when(s > 0, (s - 1.0) / F.sqrt(var_s)) \
        .when(s < 0, (s + 1.0) / F.sqrt(var_s)) \
        .otherwise(F.lit(0.0))
    return j.select(*by, "n", "s_stat",
                    round_sig_safe(var_s, digits).alias("var_s"),
                    round_sig_safe(z, digits).alias("z"))


@register_op("mann_kendall", "df")
def _mann_kendall_op(df, *args, **kw):
    return mann_kendall(df, *args, **kw)


def trimmed_mean(df: DataFrame, value_col: str, by=None,
                 trim: float = 0.1, digits: int = 6,
                 out_col: str = "trimmed_mean",
                 fixed_round: bool = False) -> DataFrame:
    """(by..., n, n_used, trimmed_mean) — the symmetric trimmed mean:
    drop the k = floor(trim·n) smallest and largest values per key
    and average the middle n−2k (trim=0.1 → the 10% trimmed mean,
    the robust-location workhorse between mean and median). Exact
    ranks (row_number, ties broken among EQUAL values — the trimmed
    sum is tie-order-invariant), decimal-exact middle sum, ONE
    division, sig-safe release (or plain ROUND(·, digits) with
    ``fixed_round=True`` — the ops.df_ops compatibility contract).
    One key-ordered window shuffle. SINGLE implementation: the
    ops.df_ops.trimmed_mean entry point delegates here."""
    from pyspark.sql import Window
    from ..functions.rounding import round_sig_safe
    by = [] if by is None else ([by] if isinstance(by, str)
                                else list(by))
    part = by if by else [F.lit(1)]
    x = F.col(value_col).cast("double")
    base = df.where(x.isNotNull()).select(*by, x.alias("__x"))
    w = Window.partitionBy(*part).orderBy("__x")
    wn = Window.partitionBy(*part)
    t = (base.withColumn("__rn", F.row_number().over(w))
         .withColumn("__n", F.count(F.lit(1)).over(wn)))
    k = F.floor(F.col("__n").cast("double") * F.lit(float(trim))) \
        .cast("long")
    dec = "decimal(38,12)"
    mid = (F.col("__rn") > k) & (F.col("__rn") <= F.col("__n") - k)
    agg = (t.groupBy(*by)
           .agg(F.max("__n").cast("long").alias("n"),
                F.sum(F.when(mid, F.lit(1)).otherwise(0))
                .cast("long").alias("n_used"),
                F.sum(F.when(mid, F.round(F.col("__x"), 12)
                             .cast(dec))).cast("double")
                .alias("__s")))
    tm = F.when(F.col("n_used") > 0,
                F.col("__s") / F.col("n_used").cast("double"))
    val = (F.round(tm, digits) if fixed_round
           else round_sig_safe(tm, digits))
    return agg.select(*by, "n", "n_used", val.alias(out_col))


@register_op("trimmed_mean", "df")
def _trimmed_mean_op(df, *args, **kw):
    return trimmed_mean(df, *args, **kw)


def jarque_bera(df: DataFrame, value_col: str, by=None,
                digits: int = 6) -> DataFrame:
    """(by..., n, skewness, kurtosis, jb) — the Jarque-Bera
    normality test per key:

        JB = n/6 · (g₁² + g₂²/4)

    with g₁/g₂ the population skewness and excess kurtosis. JB ~ χ²₂
    under normality (critical value 5.99 at α=0.05); the one-scan
    distribution-shape gate a feature pipeline runs before trusting
    z-scores or parametric tests on a column. No p-value emitted —
    neither engine exposes the χ² CDF (abtest house rule); callers
    gate on the looked-up critical value.

    Plan: rides the SAME _moment_raw engine as group_moments — ONE
    map-side-combinable hash agg of decimal-exact power sums
    Σx..Σx⁴, stepwise codegen-safe assembly. Zero-variance keys
    yield NULL everything (shape undefined)."""
    from ..functions.rounding import round_sig_safe
    by = [] if by is None else ([by] if isinstance(by, str)
                                else list(by))
    raw = _moment_raw(df, value_col, by)
    sk = F.col("__sk_raw")
    ku = F.col("__ku_raw")
    jb = F.col("n").cast("double") / 6.0 \
        * (sk * sk + ku * ku / 4.0)
    return raw.select(
        *by, "n",
        round_sig_safe(sk, digits).alias("skewness"),
        round_sig_safe(ku, digits).alias("kurtosis"),
        round_sig_safe(jb, digits).alias("jb"))


@register_op("jarque_bera", "df")
def _jarque_bera_op(df, *args, **kw):
    return jarque_bera(df, *args, **kw)


def kendall_tau(df: DataFrame, x_col: str, y_col: str, by=None,
                digits: int = 6,
                max_points_per_key: int | None = 5000) -> DataFrame:
    """(by..., n, s_stat, tau_b, z) — Kendall's τ-b rank correlation
    between two variables per key:

        S   = Σ_{i<j} sign(x_j−x_i)·sign(y_j−y_i)   (C − D)
        τ_b = S / √((n₀−n₁)(n₀−n₂)),  n₀ = n(n−1)/2,
        n₁/n₂ = Σ t(t−1)/2 over x-/y-tied blocks

    with the fully tie-corrected normal approximation for z
    (Kendall 1976 — the three-term variance including both marginal
    tie corrections and the joint cross terms). The ordinal
    companion to spearman_corr: τ is a direct probability statement
    (P(concordant) − P(discordant)) and more robust to outlying
    ranks.

    Plan: mann_kendall's bounded-series posture — the pair join is
    quadratic PER KEY, so the same max_points_per_key guard raises
    with the aggregate-first hint before an m² join can launch. S,
    n₀, n₁, n₂ and every variance term are EXACT integers
    (decimal(38,0) products, overflow-free); τ and z are a handful
    of IEEE-exact double ops at release, sig-safe rounded."""
    from pyspark.sql import Window
    from ..functions.rounding import round_sig_safe
    by = [] if by is None else ([by] if isinstance(by, str)
                                else list(by))
    x = F.col(x_col).cast("double")
    y = F.col(y_col).cast("double")
    base = (df.where(x.isNotNull() & y.isNotNull())
            .select(*by, x.alias("__x"), y.alias("__y")))
    part = by if by else [F.lit(1)]
    w = Window.partitionBy(*part).orderBy("__x", "__y")
    pts = base.withColumn("__rn", F.row_number().over(w))
    if max_points_per_key is not None:
        wc = Window.partitionBy(*part)
        cap = int(max_points_per_key)
        pts = pts.withColumn(
            "__guard",
            F.when(F.count(F.lit(1)).over(wc) <= cap, F.lit(1))
            .otherwise(F.raise_error(F.lit(
                "kendall_tau: a key has more than "
                f"{cap} points (max_points_per_key) — the pair "
                "join is quadratic per key. Aggregate the series "
                "first (e.g. one point per day) or pass "
                "max_points_per_key=None deliberately."))))
        pts = pts.where(F.col("__guard") == 1).drop("__guard")
    a = pts.select(*by, F.col("__x").alias("__xa"),
                   F.col("__y").alias("__ya"),
                   F.col("__rn").alias("__ra"))
    b = pts.select(*by, F.col("__x").alias("__xb"),
                   F.col("__y").alias("__yb"),
                   F.col("__rn").alias("__rb"))
    pairs = (a.join(b, by) if by else a.crossJoin(b)) \
        .where(F.col("__ra") < F.col("__rb")) \
        .select(*by, (F.signum(F.col("__xb") - F.col("__xa"))
                      * F.signum(F.col("__yb") - F.col("__ya")))
                .cast("long").alias("__sgn"))
    s_df = pairs.groupBy(*by).agg(F.sum("__sgn").alias("s_stat"))
    # marginal tie profiles over x and y values — exact integers
    d0 = "decimal(38,0)"

    def _tie_profile(col, pre):
        t = F.col("__t").cast(d0)
        return (base.groupBy(*by, col)
                .agg(F.count(F.lit(1)).alias("__t"))
                .groupBy(*by)
                .agg(F.sum(F.col("__t")).cast("long")
                     .alias(f"{pre}n"),
                     F.sum(t * (t - 1)).alias(f"{pre}p2"),
                     F.sum(t * (t - 1) * (2 * t + 5))
                     .alias(f"{pre}v"),
                     F.sum(t * (t - 1) * (t - 2)).alias(f"{pre}p3")))

    tx = _tie_profile("__x", "__x")
    ty = _tie_profile("__y", "__y")
    j = tx.join(ty, by) if by else tx.crossJoin(F.broadcast(ty))
    # LEFT join (r09 ADVICE): a single-point key produces no pair
    # rows — it must still emit (n=1, s=0, NULL tau/z), not vanish
    j = (j.join(s_df, by, "left") if by
         else j.crossJoin(F.broadcast(s_df)))  # 1-row broadcasts
    j = j.withColumn("s_stat",
                     F.coalesce(F.col("s_stat"),
                                F.lit(0).cast("long")))
    nL = F.col("__xn").cast(d0)
    n0 = nL * (nL - 1)  # 2·n₀, exact
    # τ_b denominator: (2n₀ − Σtx(tx−1))(2n₀ − Σty(ty−1)) / 4
    dx = (n0 - F.col("__xp2")).cast("double")
    dy = (n0 - F.col("__yp2")).cast("double")
    s = F.col("s_stat").cast("double")
    # dx·dy = 4(n₀−n₁)(n₀−n₂), so τ_b = S/√((n₀−n₁)(n₀−n₂)) = 2S/√(dx·dy)
    tau = F.when((dx > 0) & (dy > 0), 2.0 * s / F.sqrt(dx * dy))
    # Kendall (1976) tie-corrected Var(S), three exact-integer terms
    nd = F.col("__xn").cast("double")
    v0 = (nd * (nd - 1) * (2 * nd + 5)
          - F.col("__xv").cast("double")
          - F.col("__yv").cast("double")) / 18.0
    v1 = (F.col("__xp3").cast("double")
          * F.col("__yp3").cast("double")) \
        / (9.0 * nd * (nd - 1) * (nd - 2))
    v2 = (F.col("__xp2").cast("double")
          * F.col("__yp2").cast("double")) \
        / (2.0 * nd * (nd - 1))
    var_s = v0 + v1 + v2
    # n > 2 guard (r09 ADVICE): at n = 2 the v1 denominator is 0 —
    # Spark yields NULL where DuckDB yields ±inf/NaN; the explicit
    # guard makes the degenerate row engine-portable (z needs n ≥ 3
    # anyway — the normal approximation has no content below that)
    z = F.when((nd > 2) & (var_s > 0), s / F.sqrt(var_s))
    return j.select(*by, F.col("__xn").alias("n"), "s_stat",
                    round_sig_safe(tau, digits).alias("tau_b"),
                    round_sig_safe(z, digits).alias("z"))


@register_op("kendall_tau", "df")
def _kendall_tau_op(df, *args, **kw):
    return kendall_tau(df, *args, **kw)


def weighted_percentile(df: DataFrame, value_col: str,
                        weight_col: str, by=None,
                        ps: tuple = (0.5, 0.9, 0.99),
                        digits: int = 6) -> DataFrame:
    """(by..., n, w_total, wp<NN>...) — EXACT weighted percentiles:
    wp_p = the smallest value v whose cumulative weight (over all
    rows with value ≤ v) reaches p·W. The reporting form where rows
    are not equal — revenue-weighted median price, bytes-weighted
    p99 latency — reducing to PERCENTILE_DISC when weights are 1.

    Determinism: NO floating point anywhere. Weights round half-up
    to 6 dp and scale to exact micro-weight INTEGERS
    (decimal(38,0)); the cumulative sum uses a RANGE frame (every
    row sees the weight of ALL its value-ties — the tie-correct
    cdf); the threshold test is 100·cumw ≥ pct·W in exact integers
    (ps must be whole percents). The picked value is an ELEMENT of
    the input, bit-identical in any engine reading the same data.
    Zero-weight rows are kept but can never be picked ahead of a
    lighter value; negative weights raise.

    Plan: ONE group-keyed shuffle — the cumulative RANGE window,
    the total window, and the final conditional agg all share the
    by-key partitioning (group_percentiles' shape, weight-
    generalized)."""
    from pyspark.sql import Window
    keys = ([] if by is None
            else [by] if isinstance(by, str) else list(by))
    part = keys if keys else [F.lit(1)]
    d0 = "decimal(38,0)"
    v = F.col(value_col).cast("double")
    w = F.col(weight_col).cast("double")
    pcts = []
    for p in ps:
        pct = round(float(p) * 100)
        if abs(pct - float(p) * 100) > 1e-9:
            raise ValueError(
                "weighted_percentile: ps must be whole percents "
                f"(got {p}) — the exact-integer threshold test "
                "compares 100*cumw >= pct*W")
        pcts.append(int(pct))
    wi = F.round(w * F.lit(1e6)).cast(d0)
    base = (df.where(v.isNotNull() & w.isNotNull())
            .select(*keys, v.alias("__v"),
                    F.when(w >= 0, wi).otherwise(F.raise_error(F.lit(
                        "weighted_percentile: negative weight")))
                    .alias("__wi")))
    wr = (Window.partitionBy(*part).orderBy("__v")
          .rangeBetween(Window.unboundedPreceding, 0))
    wn = Window.partitionBy(*part)
    cum = (base.withColumn("__cw", F.sum("__wi").over(wr))
           .withColumn("__W", F.sum("__wi").over(wn)))
    aggs = [F.count(F.lit(1)).alias("n"),
            F.round(F.max("__W").cast("double") / F.lit(1e6), digits)
            .alias("w_total")]
    for pct in pcts:
        cond = (F.col("__cw") * F.lit(100).cast(d0)
                >= F.col("__W") * F.lit(pct).cast(d0))
        aggs.append(F.min(F.when(cond, F.col("__v")))
                    .alias(f"wp{pct}"))
    return cum.groupBy(*keys).agg(*aggs)


@register_op("weighted_percentile", "df")
def _weighted_percentile_op(df, *args, **kw):
    return weighted_percentile(df, *args, **kw)
