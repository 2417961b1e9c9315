"""Temporal operators over the tile table (SURVEY.md A5/A6/A11, J4, F1).

Reference semantics:
- statistic_by_interval (analysis/summary.py:87-112): reshape (n/k, k, y, x)
  → mean/sum over axis 1; asserts n % k == 0. The CLI bin_ts variant
  (cli/calc.py:65-129) drops the trailing partial interval with a warning.
- linear_regression (analysis/timeseries.py:79-133): per-pixel OLS of value
  vs timestep via lstsq; mask taken from the t=0 slice (:105-108).
- calculate_delta (cli/calc.py:10-15): elementwise comp-base, (comp-base)/base.

Spark mapping:
- interval agg: groupBy(interval=t/k, ty, tx) + applyInPandas summing
  blocks — ONE shuffle of tile rows keyed (interval, ty, tx). At scale the
  shuffle moves each tile once; partial intervals are filtered out first
  (JVM predicate), mirroring bin_ts truncation.
- regression: one hash aggregate of the OLS sufficient statistics
  (n, Σt, Σt², Σv, Σtv) per group, then closed-form slope/intercept —
  algebraically identical to lstsq for 1-D X — and, with ``full``, r²
  and the exact Student-t p-value as SQL expressions (scipy is absent).
- delta: equi-join of two tile tables on (t, ty, tx) + vectorized block
  arithmetic (broadcast if one side is small, else sort-merge co-keyed).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# The p-value uses exact finite sums for df <= DF_EXACT_MAX and an O(1)
# normal asymptotic above it (see _t_p_stage_exprs).
DF_EXACT_MAX = 2000


def statistic_by_interval(
    tiles: DataFrame, interval: int, statistic: str = "mean", n_timesteps: int | None = None
) -> DataFrame:
    """Tumbling-window temporal aggregation of tiles.

    ``n_timesteps``: if given, trailing timesteps not filling a whole
    interval are dropped (bin_ts rule, calc.py:99-100); if None the caller
    guarantees n % interval == 0 (summary.py:103 assert).
    """
    if statistic not in ("mean", "sum"):
        raise ValueError(f"Unsupported statistic {statistic}")
    src = tiles
    if n_timesteps is not None:
        full = (n_timesteps // interval) * interval
        src = src.filter(F.col("t") < full)
    src = src.withColumn("interval", (F.col("t") / interval).cast("int"))

    is_mean = statistic == "mean"

    def agg(key, pdf: pd.DataFrame) -> pd.DataFrame:
        first = pdf.iloc[0]
        h, w = int(first["h"]), int(first["w"])
        acc = np.zeros((h, w), dtype=np.float64)
        cnt = np.zeros((h, w), dtype=np.int64)
        for blk in pdf["block"]:
            v = np.frombuffer(blk, dtype=np.float32).reshape(h, w).astype(np.float64)
            ok = ~np.isnan(v)
            acc[ok] += v[ok]
            cnt += ok
        # numpy masked mean/sum: all-masked pixels stay masked (NaN)
        out = np.where(cnt > 0, acc / np.where(cnt > 0, cnt, 1), np.nan) if is_mean \
            else np.where(cnt > 0, acc, np.nan)
        return pd.DataFrame(
            [
                (
                    str(first["var"]),
                    int(key[0]),
                    int(first["ty"]),
                    int(first["tx"]),
                    int(first["cell"]),
                    out.astype(np.float32).tobytes(),
                    h,
                    w,
                )
            ],
            columns=["var", "t", "ty", "tx", "cell", "block", "h", "w"],
        )

    return src.groupBy("interval", "ty", "tx").applyInPandas(
        agg, schema="var string, t int, ty int, tx int, cell bigint, block binary, h int, w int"
    )


def _t_p_stage_exprs(dialect: str) -> list[tuple[str, str]]:
    """Staged (name, expression) list computing r², t-statistic and the
    EXACT two-sided Student-t p-value from the OLS sufficient statistics
    (_n.._stv + _svv), as twin Spark-SQL / DuckDB text.

    The reference chain (trefoil/analysis/timeseries.py:115-127):
    r = √r², tiny = 1e-20, t = r·√(df/((1−r+tiny)(1+r+tiny))),
    p = 2·t_sf(|t|, df); scipy's ``t.sf`` is absent here. For integer
    df ≤ DF_EXACT_MAX the tail uses the exact finite sums of Abramowitz &
    Stegun 26.7.3/26.7.4 (θ = atan(t/√ν), A = P(|T| ≤ t), p = 1 − A):

        ν even: A = sinθ · Σ_{j=0}^{ν/2-1} c_j cos^{2j}θ,
                c_0 = 1, c_j = c_{j-1}·(2j-1)/(2j)
        ν odd:  A = (2/π)[θ + sinθ · Σ_{j=1}^{(ν-1)/2} d_j cos^{2j-1}θ],
                d_1 = 1, d_j = d_{j-1}·(2j-2)/(2j-1)

    Above the cut the fold length would grow with the group size, so p
    takes the moment-matching normal asymptotic z = t(1−1/(4ν))/√(1+t²/(2ν)),
    p = erfc(z/√2), with erfc from the A&S 7.1.26 polynomial (|ε| ≤
    1.5e-7). The finite sums are emitted as a
    FOLD — Spark `aggregate(sequence(...))` ≡ DuckDB
    `list_reduce(list_prepend(...))` — with identical IEEE arithmetic per
    step, so both engines produce the p-value bit-for-bit."""
    one = "CAST(1 AS DOUBLE)"
    zero = "CAST(0 AS DOUBLE)"
    # per-step ratios ride inside the list ELEMENTS (same struct type as
    # the fold state — DuckDB's list_reduce requires it); integers < 2^52
    # are exact in double, so both engines' ratios are bit-identical.
    #
    # LAGGED recurrence, 's' field FIRST: DuckDB 1.0's list_reduce
    # evaluates the result-struct fields in place, so a later field
    # reading acc.term would see the ALREADY-UPDATED term. With
    #   s' = acc.s + acc.term   (old term, evaluated first)
    #   term' = (acc.term * cos2) * x.term
    # both engines agree (probed), and the series total is s + term of
    # the final state.
    ratio_e = "CAST(2 * j - 1 AS DOUBLE) / CAST(2 * j AS DOUBLE)"
    ratio_o = "CAST(2 * j - 2 AS DOUBLE) / CAST(2 * j - 1 AS DOUBLE)"
    if dialect == "spark":
        idiv = "idf DIV 2"
        modd = "(idf - 1) DIV 2"

        def st(s_, t_):
            return f"named_struct('s', {s_}, 'term', {t_})"

        def fold(seq, elem_ratio, init):
            return (
                f"aggregate(transform({seq}, j -> {st(zero, elem_ratio)}), "
                f"{init}, "
                f"(acc, x) -> {st('acc.s + acc.term', '((acc.term * cos2) * x.term)')})"
            )

        fold_e = (
            f"CASE WHEN is_exact AND m_e >= 2 THEN "
            f"{fold('sequence(1, m_e - 1)', ratio_e, st(zero, one))} "
            f"ELSE {st(zero, one)} END"
        )
        fold_o = (
            f"CASE WHEN is_exact AND m_o >= 2 THEN "
            f"{fold('sequence(2, m_o)', ratio_o, st(zero, 'cos_t'))} "
            f"ELSE {st(zero, 'cos_t')} END"
        )
    elif dialect == "duckdb":
        idiv = "idf // 2"
        modd = "(idf - 1) // 2"

        def st(s_, t_):
            return f"{{'s': {s_}, 'term': {t_}}}"

        def fold(seq, elem_ratio, init):
            return (
                f"list_reduce(list_prepend({init}, "
                f"list_transform({seq}, j -> {st(zero, elem_ratio)})), "
                f"(acc, x) -> {st('acc.s + acc.term', '((acc.term * cos2) * x.term)')})"
            )

        fold_e = (
            f"CASE WHEN is_exact AND m_e >= 2 THEN "
            f"{fold('range(1, m_e)', ratio_e, st(zero, one))} "
            f"ELSE {st(zero, one)} END"
        )
        fold_o = (
            f"CASE WHEN is_exact AND m_o >= 2 THEN "
            f"{fold('range(2, m_o + 1)', ratio_o, st(zero, 'cos_t'))} "
            f"ELSE {st(zero, 'cos_t')} END"
        )
    else:
        raise ValueError(dialect)
    return [
        ("sxx", "(_n * _stt - _st * _st)"),
        ("syy", "(_n * _svv - _sv * _sv)"),
        ("sxy", "(_n * _stv - _st * _sv)"),
        ("good", "(_n >= 3 AND sxx > 0 AND syy > 0)"),
        ("r2", f"CASE WHEN good THEN LEAST((sxy * sxy) / (sxx * syy), {one}) END"),
        ("r", "SQRT(r2)"),
        ("dfree", "(_n - CAST(2 AS DOUBLE))"),
        ("idf", "(CAST(_n AS BIGINT) - 2)"),
        ("tstat",
         f"r * SQRT(dfree / (({one} - r + CAST(1.0E-20 AS DOUBLE)) "
         f"* ({one} + r + CAST(1.0E-20 AS DOUBLE))))"),
        # exact finite sums below the cut; O(1) asymptotic above — the
        # fold length is m = df/2, an O(group-size) wall at scale
        ("is_exact", f"(idf <= {DF_EXACT_MAX})"),
        ("theta", "ATAN(tstat / SQRT(dfree))"),
        ("sin_t", "SIN(theta)"),
        ("cos_t", "COS(theta)"),
        ("cos2", "(COS(theta) * COS(theta))"),
        ("m_e", idiv),
        ("m_o", modd),
        ("f_e", fold_e),
        ("f_o", fold_o),
        ("s_e", "(f_e.s + f_e.term)"),
        ("s_o", f"CASE WHEN m_o >= 1 THEN (f_o.s + f_o.term) ELSE {zero} END"),
        ("a_t",
         "CASE WHEN idf % 2 = 0 THEN sin_t * s_e "
         "ELSE (CAST(2 AS DOUBLE) / PI()) * (theta + sin_t * s_o) END"),
        # moment-matching normal asymptotic (see the docstring):
        # z = t(1-1/(4df))/sqrt(1+t^2/(2df)); p = erfc(z/sqrt(2)) via the
        # A&S 7.1.26 polynomial — identical scalar text in both dialects
        ("z_n",
         f"tstat * ({one} - {one} / (CAST(4 AS DOUBLE) * dfree)) "
         f"/ SQRT({one} + (tstat * tstat) / (CAST(2 AS DOUBLE) * dfree))"),
        ("x_n", "z_n / SQRT(CAST(2 AS DOUBLE))"),
        ("u_n", f"{one} / ({one} + CAST(0.3275911 AS DOUBLE) * x_n)"),
        ("p_n",
         "(u_n * (CAST(0.254829592 AS DOUBLE) + u_n * (CAST(-0.284496736 AS DOUBLE) "
         "+ u_n * (CAST(1.421413741 AS DOUBLE) + u_n * (CAST(-1.453152027 AS DOUBLE) "
         "+ u_n * CAST(1.061405429 AS DOUBLE)))))) * EXP(-(x_n * x_n))"),
        ("p",
         f"CASE WHEN good THEN LEAST(GREATEST("
         f"CASE WHEN is_exact THEN {one} - a_t ELSE p_n END, "
         f"CAST(0 AS DOUBLE)), {one}) END"),
    ]


def linear_regression_rows(
    df: DataFrame,
    group_cols,
    t_col: str,
    v_col: str,
    exact_ints: bool = False,
    full: bool = False,
) -> DataFrame:
    """Row-grain closed-form OLS (for oracle-checkable queries): one hash
    aggregate, engine-portable expression tree.

    ``exact_ints=True``: inputs are integers — accumulate Σt, Σt², Σv, Σtv
    as BIGINT (exact, order-independent), cast to double only for the
    final slope/intercept arithmetic. This is what makes the result
    bit-identical across engines (double sums are order-dependent).

    ``full=True`` adds the reference's `full` outputs (r², p) — see
    :func:`_t_p_stage_exprs`; p is the exact integer-df Student-t tail,
    still bit-identical to the DuckDB twin."""
    if isinstance(group_cols, str):
        group_cols = [group_cols]
    typ = "bigint" if exact_ints else "double"
    t = F.col(t_col).cast(typ)
    v = F.col(v_col).cast(typ)
    aggs = [
        F.count(F.lit(1)).cast("double").alias("_n"),
        F.sum(t).cast("double").alias("_st"),
        F.sum(t * t).cast("double").alias("_stt"),
        F.sum(v).cast("double").alias("_sv"),
        F.sum(t * v).cast("double").alias("_stv"),
    ]
    if full:
        aggs.append(F.sum(v * v).cast("double").alias("_svv"))
    g = df.filter(v.isNotNull()).groupBy(*group_cols).agg(*aggs)
    denom = F.col("_n") * F.col("_stt") - F.col("_st") * F.col("_st")
    slope = (F.col("_n") * F.col("_stv") - F.col("_st") * F.col("_sv")) / denom
    base = g.withColumn("slope", slope).withColumn(
        "intercept", (F.col("_sv") - F.col("slope") * F.col("_st")) / F.col("_n")
    )
    if not full:
        return base.select(*group_cols, "slope", "intercept")
    for name, expr in _t_p_stage_exprs("spark"):
        base = base.withColumn(name, F.expr(expr))
    return base.select(*group_cols, "slope", "intercept", "r2", "p")


def regression_sql(
    group_cols: str,
    t_col: str,
    v_col: str,
    table: str,
    exact_ints: bool = False,
    full: bool = False,
) -> str:
    """DuckDB twin of linear_regression_rows (same expression tree)."""
    typ = "BIGINT" if exact_ints else "DOUBLE"
    t, v = f"CAST({t_col} AS {typ})", f"CAST({v_col} AS {typ})"
    svv = f",\n                   CAST(SUM({v} * {v}) AS DOUBLE) AS _svv" if full else ""
    g = f"""
        g AS (
            SELECT {group_cols},
                   CAST(COUNT(*) AS DOUBLE) AS _n,
                   CAST(SUM({t}) AS DOUBLE) AS _st,
                   CAST(SUM({t} * {t}) AS DOUBLE) AS _stt,
                   CAST(SUM({v}) AS DOUBLE) AS _sv,
                   CAST(SUM({t} * {v}) AS DOUBLE) AS _stv{svv}
            FROM {table} WHERE {v_col} IS NOT NULL GROUP BY {group_cols}
        ),
        b AS (
            SELECT *,
               (_n * _stv - _st * _sv) / (_n * _stt - _st * _st) AS slope
            FROM g
        ),
        c AS (
            SELECT *, (_sv - slope * _st) / _n AS intercept FROM b
        )"""
    if not full:
        return f"WITH {g} SELECT {group_cols}, slope, intercept FROM c"
    stages = _t_p_stage_exprs("duckdb")
    ctes = [g]
    prev = "c"
    for i, (name, expr) in enumerate(stages):
        cur = f"s{i}"
        ctes.append(f"{cur} AS (SELECT *, {expr} AS {name} FROM {prev})")
        prev = cur
    return (
        "WITH " + ",\n        ".join(ctes)
        + f" SELECT {group_cols}, slope, intercept, r2, p FROM {prev}"
    )


def calculate_delta(
    baseline: DataFrame, comparison: DataFrame, proportion: bool = False
) -> DataFrame:
    """J4/F1 (cli/calc.py:10-54): elementwise comp−base or (comp−base)/base
    across two tile tables aligned on (t, ty, tx)."""
    b = baseline.select(
        "t", "ty", "tx", F.col("block").alias("base_block"), "h", "w"
    )
    c = comparison.select(
        "var", "t", "ty", "tx", "cell", F.col("block").alias("comp_block")
    )
    joined = c.join(b, ["t", "ty", "tx"])

    def gen(batches):
        for pdf in batches:
            rows = []
            for row in pdf.itertuples(index=False):
                base = np.frombuffer(row.base_block, dtype=np.float32).astype(np.float64)
                comp = np.frombuffer(row.comp_block, dtype=np.float32).astype(np.float64)
                out = comp - base
                if proportion:
                    with np.errstate(divide="ignore", invalid="ignore"):
                        out = out / base
                rows.append(
                    (row.var, int(row.t), int(row.ty), int(row.tx), int(row.cell),
                     out.astype(np.float32).tobytes(), int(row.h), int(row.w))
                )
            yield pd.DataFrame(
                rows, columns=["var", "t", "ty", "tx", "cell", "block", "h", "w"]
            )

    return joined.mapInPandas(
        gen,
        schema="var string, t int, ty int, tx int, cell bigint, block binary, h int, w int",
    )
