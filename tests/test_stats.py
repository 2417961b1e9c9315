"""Student-t tail + regression `full` outputs (A11 tail closure;
reference trefoil/analysis/timeseries.py:110-127 via scipy — scipy is
absent here, so ground truth = closed forms for df=1/2, the standard
t-table quantiles, and exactness properties of the A&S finite sums).

The subject is the p-value the engine ships: the SQL stage chain of
raster/timeseries.py (`_t_p_stage_exprs`), run here in DuckDB from a
given t-statistic and df, and end to end through `regression_sql` and
`linear_regression_rows`."""

import math

import duckdb
import numpy as np
import pandas as pd

from trefoil_spark.raster.timeseries import (
    DF_EXACT_MAX,
    _t_p_stage_exprs,
    linear_regression_rows,
    regression_sql,
)


def t_sf_twosided(t, df) -> np.ndarray:
    """Two-sided p = P(|T| >= t) from the shipped DuckDB stage chain,
    entered at the t-statistic (t >= 0, integer df >= 1)."""
    t = np.asarray(t, np.float64)
    df = np.asarray(df)
    stages = _t_p_stage_exprs("duckdb")
    tail = stages[[n for n, _ in stages].index("is_exact"):]
    rows = ", ".join(
        f"({i}, CAST({float(tv)!r} AS DOUBLE), {int(d)})"
        for i, (tv, d) in enumerate(zip(t, df))
    )
    ctes = [
        "s0 AS (SELECT i, tstat, CAST(k AS DOUBLE) AS dfree, "
        f"CAST(k AS BIGINT) AS idf, TRUE AS good FROM (VALUES {rows}) v(i, tstat, k))"
    ]
    for j, (name, expr) in enumerate(tail):
        ctes.append(f"s{j + 1} AS (SELECT *, {expr} AS {name} FROM s{j})")
    sql = "WITH " + ",\n".join(ctes) + f" SELECT p FROM s{len(tail)} ORDER BY i"
    return duckdb.sql(sql).fetchnumpy()["p"].astype(np.float64)


def test_t_sf_closed_forms_df1_df2():
    t = np.array([0.0, 0.3, 1.0, 2.5, 12.7062047362])
    # df=1 (Cauchy): p = 1 - (2/pi) atan t
    got = t_sf_twosided(t, np.full(t.shape, 1))
    want = 1 - (2 / np.pi) * np.arctan(t)
    assert np.allclose(got, want, rtol=0, atol=1e-14)
    # df=2: p = 1 - t/sqrt(2+t^2)
    got = t_sf_twosided(t, np.full(t.shape, 2))
    want = 1 - t / np.sqrt(2 + t * t)
    assert np.allclose(got, want, rtol=0, atol=1e-14)


def test_t_sf_known_quantiles():
    """t_{0.975,df} from the standard table → two-sided p = 0.05."""
    knowns = {
        1: 12.7062047362, 2: 4.30265272991, 5: 2.57058183661,
        10: 2.22813885196, 30: 2.04227245630, 100: 1.98397151845,
    }
    p = t_sf_twosided(list(knowns.values()), list(knowns))
    for (df, _), pv in zip(knowns.items(), p):
        assert abs(pv - 0.05) < 1e-9, (df, pv)


def test_t_sf_properties():
    rng = np.random.default_rng(5)
    t = np.sort(rng.uniform(0, 6, 50))
    for df in (1, 2, 3, 8, 33, 240):
        p = t_sf_twosided(t, np.full(50, df))
        assert np.all(np.diff(p) <= 1e-15)  # decreasing in |t|
        assert np.all((p >= 0) & (p <= 1))
    assert t_sf_twosided([0.0], [9])[0] == 1.0
    # df→∞ approaches the normal tail: p(1.96, df=100000) ≈ 0.05
    assert abs(t_sf_twosided([1.959964], [100000])[0] - 0.05) < 1e-3


def test_t_sf_asymptotic_branch():
    """df > DF_EXACT_MAX takes the O(1) moment-matching normal branch;
    accuracy vs the exact finite sums at the cut ≤ ~2e-7 absolute, and
    the branch transition is continuous to that tolerance."""
    t = np.linspace(0.05, 5.0, 40)
    exact = t_sf_twosided(t, np.full(t.shape, DF_EXACT_MAX))       # exact side
    asym = t_sf_twosided(t, np.full(t.shape, DF_EXACT_MAX + 1))    # asymptotic
    assert np.max(np.abs(asym - exact)) < 5e-4  # df-step + approx error
    # against libm erfc ground truth for the big-df formula itself
    df = 10_000.0
    z = t * (1 - 1 / (4 * df)) / np.sqrt(1 + t * t / (2 * df))
    want = np.vectorize(math.erfc)(z / np.sqrt(2))
    got = t_sf_twosided(t, np.full(t.shape, int(df)))
    assert np.max(np.abs(got - want)) < 2e-7  # A&S 7.1.26 bound
    # a huge df takes the O(1) branch (no fold over df/2 terms)
    p = t_sf_twosided([2.0], [10**9])[0]
    assert abs(p - 0.0455) < 1e-3  # ~normal two-sided at z=2


def test_t_sf_crossover_continuity_property():
    """Across arbitrary t the exact-sum branch at df=DF_EXACT_MAX and the
    asymptotic branch at df=DF_EXACT_MAX+1 agree within the documented
    error budget, and p is monotone non-increasing in df through the
    crossover (no branch seam a regression query could fall into)."""
    rng = np.random.default_rng(9)
    t = np.concatenate([[0.0, 40.0], rng.uniform(0.0, 40.0, 148)])
    dfs = np.array(
        [DF_EXACT_MAX - 1, DF_EXACT_MAX, DF_EXACT_MAX + 1, DF_EXACT_MAX * 4]
    )
    p = t_sf_twosided(np.repeat(t, 4), np.tile(dfs, len(t))).reshape(-1, 4)
    # branch seam: |p(2000 exact) - p(2001 asym)| within budget
    assert np.all(np.abs(p[:, 1] - p[:, 2]) < 5e-7)
    # monotone non-increasing in df (tolerance = seam budget)
    assert np.all(p[:, 0] >= p[:, 1] - 1e-12)
    assert np.all(p[:, 1] >= p[:, 2] - 5e-7)
    assert np.all(p[:, 2] >= p[:, 3] - 1e-12)
    # valid probabilities
    assert ((p >= 0.0) & (p <= 1.0)).all()


def _duckdb_regression(df: pd.DataFrame, exact_ints=False) -> pd.DataFrame:
    con = duckdb.connect()
    con.register("obs", df)
    sql = regression_sql("g", "t", "v", "obs", exact_ints=exact_ints, full=True)
    return con.execute(sql + " ORDER BY g").df().set_index("g")


def test_regression_sql_full_reference_chain():
    """Matches the reference chain on a hand-checked fixture: y = 2x+1
    plus symmetric noise (n=4, df=2 → exact closed-form p)."""
    t = np.array([0.0, 1.0, 2.0, 3.0])
    v = np.array([1.0, 3.4, 4.6, 7.0])  # 2x+1 ± 0.2 symmetric
    obs = pd.DataFrame({
        "g": [0] * 4 + [1] * 4 + [2] * 4,
        "t": np.tile(t, 3),
        # group 1: perfect fit; group 2: constant y
        "v": np.concatenate([v, 2 * t + 1, np.full(4, 5.0)]),
    })
    out = _duckdb_regression(obs)
    r2, p = out.loc[0, "r2"], out.loc[0, "p"]
    # independent recompute via Pearson correlation
    r_direct = np.corrcoef(t, v)[0, 1]
    assert abs(r2 - r_direct**2) < 1e-12
    r = np.sqrt(r2)
    tstat = r * np.sqrt(2.0 / ((1 - r + 1e-20) * (1 + r + 1e-20)))
    p_closed = 1 - tstat / np.sqrt(2 + tstat * tstat)  # df=2 closed form
    assert abs(p - p_closed) < 1e-14

    # perfect fit: r2 == 1, p == 0
    assert out.loc[1, "r2"] == 1.0 and out.loc[1, "p"] == 0.0
    # degenerate: constant y → syy == 0 → NULL outputs
    assert pd.isna(out.loc[2, "r2"]) and pd.isna(out.loc[2, "p"])


def test_linear_regression_rows_full(spark):
    """Row-grain full=True over integer values (exact_ints, so the sums
    are order-free): Spark's r²/p equal the DuckDB twin bit for bit and
    r² equals the Pearson recompute per group; NULL values drop
    their timesteps (per-group df); groups with fewer than 3 values get
    NULL outputs."""
    nt, ng = 12, 20
    rng = np.random.default_rng(11)
    ts = np.arange(nt, dtype=np.float64)
    rows = []
    for g in range(ng):
        vals = np.round(15 * ts * (1 + g % 4) + g + rng.normal(0, 20.0, nt))
        for t in range(nt):
            masked = (g == 1 and t == 3) or (g == 2 and t > 1)
            rows.append((g, t, None if masked else int(vals[t])))
    pdf = pd.DataFrame(rows, columns=["g", "t", "v"]).astype({"v": "Int64"})
    got = linear_regression_rows(
        spark.createDataFrame(rows, "g int, t int, v bigint"),
        "g", "t", "v", exact_ints=True, full=True,
    ).toPandas().set_index("g").sort_index()
    want = _duckdb_regression(pdf, exact_ints=True)

    assert pd.isna(got.loc[2, "r2"]) and pd.isna(got.loc[2, "p"])
    for g in range(ng):
        if g == 2:
            continue
        assert got.loc[g, "r2"] == want.loc[g, "r2"], g
        assert got.loc[g, "p"] == want.loc[g, "p"], g
        sub = pdf[(pdf.g == g) & pdf.v.notna()]
        r = np.corrcoef(sub.t.astype(float), sub.v.astype(float))[0, 1]
        assert abs(got.loc[g, "r2"] - r * r) < 1e-9, g
    # high-signal groups are significant
    assert got.loc[3, "p"] < 0.001 and got.loc[3, "r2"] > 0.9
