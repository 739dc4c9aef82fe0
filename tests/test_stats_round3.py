"""Unit goldens for the round-3 stats additions: each new statistic is
recomputed with an INDEPENDENT pandas/numpy implementation on the same
sf0.001 slice, so a formula error shared by the Spark plan and its SQL
oracle cannot hide behind cross-engine agreement."""

import numpy as np
import pandas as pd
import pytest

from results_ingestor_spark.plans import QUERIES


def _events_pdf(sf_dir):
    return pd.read_parquet(f"{sf_dir}/events.parquet")


def test_mann_whitney_matches_numpy_reference(spark, sf_dir):
    row = QUERIES["stats_mann_whitney_u"](spark, sf_dir).collect()[0]
    ev = _events_pdf(sf_dir)
    ev = ev[ev.event_type.isin(["click", "view"])]
    vals = ev["value"].to_numpy()
    # midrank via average method (independent of the SQL formulation)
    order = vals.argsort(kind="mergesort")
    ranks = np.empty(len(vals))
    sv = vals[order]
    i = 0
    while i < len(sv):
        j = i
        while j < len(sv) and sv[j] == sv[i]:
            j += 1
        ranks[order[i:j]] = (i + j + 1) / 2.0  # 1-based midrank
        i = j
    is_click = (ev.event_type == "click").to_numpy()
    n1, n2 = int(is_click.sum()), int((~is_click).sum())
    r1 = ranks[is_click].sum()
    u1 = r1 - n1 * (n1 + 1) / 2.0
    assert row.n_click == n1 and row.n_view == n2
    assert row.u_click == pytest.approx(u1, abs=1e-6)
    _, counts = np.unique(vals, return_counts=True)
    ties = float((counts.astype(np.int64) ** 3 - counts).sum())
    big_n = n1 + n2
    var = n1 * n2 / 12.0 * ((big_n + 1) - ties / (big_n * (big_n - 1.0)))
    z = (u1 - n1 * n2 / 2.0) / np.sqrt(var)
    assert row.z == pytest.approx(z, rel=1e-9)


def test_welch_ttest_matches_numpy_reference(spark, sf_dir):
    row = QUERIES["stats_welch_ttest"](spark, sf_dir).collect()[0]
    ev = _events_pdf(sf_dir)
    a = ev.loc[ev.event_type == "click", "value"].to_numpy()
    b = ev.loc[ev.event_type == "view", "value"].to_numpy()
    v1, v2 = a.var(ddof=1), b.var(ddof=1)
    t = (a.mean() - b.mean()) / np.sqrt(v1 / len(a) + v2 / len(b))
    df = (v1 / len(a) + v2 / len(b)) ** 2 / (
        (v1 / len(a)) ** 2 / (len(a) - 1)
        + (v2 / len(b)) ** 2 / (len(b) - 1))
    assert row.n_click == len(a) and row.n_view == len(b)
    assert row.mean_diff == pytest.approx(a.mean() - b.mean(), abs=1e-6)
    assert row.t_stat == pytest.approx(t, rel=1e-6)
    assert row.df == pytest.approx(df, rel=1e-6)


def test_acf_matches_numpy_reference(spark, sf_dir):
    got = {r.lag: r.acf
           for r in QUERIES["events_acf_hourly"](spark, sf_dir).collect()}
    ev = _events_pdf(sf_dir)
    y = (ev.assign(bucket=ev.ts.dt.floor("h"))
         .groupby("bucket").size().sort_index().to_numpy(dtype=float))
    # textbook ACF on the EXISTING hourly buckets in time order
    ybar = y.mean()
    den = ((y - ybar) ** 2).sum()
    for k in range(1, 7):
        num = ((y[:-k] - ybar) * (y[k:] - ybar)).sum()
        assert got[k] == pytest.approx(num / den, abs=1e-8), f"lag {k}"


def test_t_closeness_matches_pandas_reference(spark, sf_dir):
    rows = QUERIES["privacy_t_closeness"](spark, sf_dir).collect()
    docs = pd.read_parquet(f"{sf_dir}/documents.parquet")
    docs["len_bucket"] = docs.n_chars // 100
    glob = docs.lang.value_counts(normalize=True)
    for r in rows[:40]:
        g = docs[(docs.source == r.source)
                 & (docs.len_bucket == r.len_bucket)]
        assert len(g) == r.k
        p = g.lang.value_counts(normalize=True)
        tvd = 0.5 * sum(abs(p.get(lang, 0.0) - glob[lang])
                        for lang in glob.index)
        assert r.t_closeness == pytest.approx(tvd, abs=1e-9)
        assert r.close == (tvd <= 0.25)


def test_covariance_and_pca_match_numpy_reference(spark, sf_dir):
    import numpy as np
    cov_rows = QUERIES["embedding_covariance"](spark, sf_dir).collect()
    emb = pd.read_parquet(f"{sf_dir}/embeddings.parquet")
    x = np.array(emb.embedding.to_list(), dtype=np.float64)
    want = np.cov(x, rowvar=False, ddof=1)
    got = np.zeros_like(want)
    for r in cov_rows:
        got[r.i, r.j] = r.cov
        got[r.j, r.i] = r.cov
    assert len(cov_rows) == 64 * 65 // 2
    np.testing.assert_allclose(got, want, atol=2e-6)

    pca_df = QUERIES["embedding_pca_variance"](spark, sf_dir)
    assert "LocalTableScan" in pca_df._jdf.queryExecution().executedPlan().toString()
    pca = pca_df.collect()
    w = np.linalg.eigvalsh(want)[::-1]
    total = w.sum()
    for r in pca:
        assert r.eigenvalue == pytest.approx(w[r.component], abs=1e-4)
        assert r.explained_ratio == pytest.approx(
            w[r.component] / total, abs=1e-4)
    cum = [r.cumulative_ratio for r in sorted(pca, key=lambda r: r.component)]
    assert cum == sorted(cum)


def test_theil_sen_matches_numpy_reference(spark, sf_dir):
    import numpy as np
    row = QUERIES["stats_theil_sen_trend"](spark, sf_dir).collect()[0]
    ev = _events_pdf(sf_dir)
    h = (ev.assign(x=ev.ts.dt.floor("h").astype("datetime64[ns]")
                   .astype("int64") // (3600 * 10**9),
                   v=ev.value.round(2))
         .groupby("x").v.agg(lambda s: round(s.sum() / len(s), 9)))
    x, y = h.index.to_numpy(), h.to_numpy()
    slopes = [(y[j] - y[i]) / (x[j] - x[i])
              for i in range(len(x)) for j in range(i + 1, len(x))]
    m = float(np.median(slopes))
    b0 = float(np.median(y - m * x))
    assert row.n_hours == len(x)
    assert row.n_pairs == len(slopes)
    assert row.slope_per_hour == pytest.approx(m, abs=1e-9)
    assert row.intercept == pytest.approx(b0, abs=1e-6)


def test_bootstrap_ci_brackets_mean(spark, sf_dir):
    row = QUERIES["stats_bootstrap_ci_mean"](spark, sf_dir).collect()[0]
    assert row.ci_lo < row.mean_v < row.ci_hi
    width = row.ci_hi - row.ci_lo
    assert 0 < width < abs(row.mean_v) + 1  # sane, nondegenerate interval


def test_mahalanobis_matches_numpy_reference(spark, sf_dir):
    import numpy as np
    got = QUERIES["embedding_mahalanobis_outliers"](spark, sf_dir).collect()
    emb = pd.read_parquet(f"{sf_dir}/embeddings.parquet")
    x = np.array(emb.embedding.to_list(), dtype=np.float64)
    # independent path: full-precision covariance (the operator's is
    # 6dp-rounded, so compare loosely but rank-exactly at the top)
    c = np.cov(x, rowvar=False, ddof=1) + 1e-6 * np.eye(x.shape[1])
    inv = np.linalg.inv(c)
    xc = x - x.mean(axis=0)
    m2 = np.einsum("ij,jk,ik->i", xc, inv, xc)
    order = np.argsort(-m2)
    want_ids = [int(emb.vec_id.iloc[i]) for i in order[:5]]
    assert [r.vec_id for r in got[:5]] == want_ids
    for r in got:
        i = emb.index[emb.vec_id == r.vec_id][0]
        assert r.m2 == pytest.approx(m2[i], rel=5e-3)


def test_km_survival_matches_pandas_reference(spark, sf_dir):
    rows = QUERIES["survival_km_signup_to_purchase"](spark, sf_dir) \
        .collect()
    ev = _events_pdf(sf_dir)
    su = (ev[ev.event_type == "signup"].groupby("user_id").ts.min()
          .rename("s_ts"))
    pur = ev[ev.event_type == "purchase"][["user_id", "ts"]]
    m = pur.merge(su, on="user_id")
    first_p = (m[m.ts >= m.s_ts].groupby("user_id").ts.min()
               .rename("p_ts"))
    subj = pd.concat([su, first_p], axis=1)
    horizon = ev.ts.max()
    end = subj.p_ts.fillna(horizon)
    t_days = ((end - subj.s_ts).dt.total_seconds() // 86400).astype(int)
    event = subj.p_ts.notna()

    # classic KM recursion, independently of the SQL formulation
    import numpy as np
    surv, out = 1.0, {}
    n_risk = len(subj)
    for t in sorted(t_days.unique()):
        at_t = t_days == t
        d = int((at_t & event).sum())
        c = int((at_t & ~event).sum())
        if d > 0:
            surv *= 1.0 - d / n_risk
            out[t] = (n_risk, d, surv)
        n_risk -= d + c
    got = {r.t_days: (r.n_risk, r.d_events, r.survival) for r in rows}
    assert set(got) == set(out)
    for t, (n, d, s) in out.items():
        gn, gd, gs = got[t]
        assert (gn, gd) == (n, d), f"day {t}"
        assert gs == pytest.approx(s, abs=1e-9), f"day {t}"
    # survival is monotone nonincreasing
    ss = [got[t][2] for t in sorted(got)]
    assert ss == sorted(ss, reverse=True)


def test_mann_kendall_matches_numpy_reference(spark, sf_dir):
    row = QUERIES["stats_mann_kendall_trend"](spark, sf_dir).collect()[0]
    ev = _events_pdf(sf_dir)
    y = (ev.assign(bucket=ev.ts.dt.floor("h"))
         .groupby("bucket")["value"].mean().round(9)
         .sort_index().to_numpy())
    n = len(y)
    s_stat = int(sum(np.sign(y[j] - y[i])
                     for i in range(n) for j in range(i + 1, n)))
    _, counts = np.unique(y, return_counts=True)
    c = counts[counts > 1].astype(np.int64)
    tie = float((c * (c - 1) * (2 * c + 5)).sum())
    var = (n * (n - 1.0) * (2 * n + 5) - tie) / 18.0
    if s_stat > 0:
        z = (s_stat - 1.0) / np.sqrt(var)
    elif s_stat < 0:
        z = (s_stat + 1.0) / np.sqrt(var)
    else:
        z = 0.0
    assert row.n_hours == n
    assert row.n_pairs == n * (n - 1) // 2
    assert row.s_stat == s_stat
    assert row.var_s == pytest.approx(var, abs=1e-6)
    assert row.z_score == pytest.approx(z, rel=1e-9)
    expected = ("increasing" if z > 1.959964
                else "decreasing" if z < -1.959964 else "no_trend")
    assert row.trend == expected


def test_ewma_forecast_matches_numpy_reference(spark, sf_dir):
    got = {r.x: r for r in
           QUERIES["stats_ewma_forecast_hourly"](spark, sf_dir).collect()}
    ev = _events_pdf(sf_dir)
    hourly = (ev.assign(x=(ev.ts.values.astype("datetime64[h]")
                           .astype("int64")))
              .groupby("x")["value"].mean().round(9).sort_index())
    xs, ys = hourly.index.to_numpy(), hourly.to_numpy()
    lookup = dict(zip(xs, ys))
    targets = [x for x in xs if x > xs.max() - 24]
    assert sorted(got) == sorted(targets)
    for x in targets:
        num = den = 0.0
        n_lags = 0
        for lag in range(1, 101):
            yb = lookup.get(x - lag)
            if yb is None:
                continue
            w = 0.7 ** (lag - 1)
            num += w * yb
            den += w
            n_lags += 1
        r = got[x]
        assert r.n_lags == n_lags
        assert r.yhat == pytest.approx(num / den, abs=1e-5)
        assert r.y == pytest.approx(lookup[x], abs=1e-9)
