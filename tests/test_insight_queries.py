"""Independent verification of the insight-query semantics at sf0.001.

The registry parity test already compares these entries against their
DuckDB oracles — but the oracle is the same algorithm transcribed, so
these tests verify the *semantics* a second way: pure-Python
recomputation from the raw parquet (intervals, anomaly), dominance
properties checked against the full candidate set (skyline), and
estimator invariants (Kaplan-Meier).
"""

from __future__ import annotations

import math

import pandas as pd
import pytest

from bigdata_electricity_spark.plans import REGISTRY

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def events_pdf():
    return pd.read_parquet(f"{SF_DIR}/events.parquet")


def test_user_active_runs_match_python(spark, events_pdf):
    got = {
        r["user_id"]: (r["n_runs"], r["active_hours"], r["longest_run"])
        for r in REGISTRY["intervals_user_active_runs"].fn(spark, SF_DIR).collect()
    }
    ts = pd.to_datetime(events_pdf["ts"])
    hours = (ts.astype("datetime64[s]").astype("int64") // 3600).astype("int64")
    want = {}
    for uid, hs in hours.groupby(events_pdf["user_id"]):
        uniq = sorted(set(hs))
        runs = []
        start = prev = uniq[0]
        for h in uniq[1:]:
            if h > prev + 1:
                runs.append(prev - start + 1)
                start = h
            prev = h
        runs.append(prev - start + 1)
        want[uid] = (len(runs), sum(runs), max(runs))
    assert got == want


def test_skyline_dominance_properties(spark):
    out = REGISTRY["skyline_customer_frontier"].fn(spark, SF_DIR).collect()
    import duckdb

    per_cust = duckdb.sql(
        f"""
        SELECT o_custkey, floor(SUM(o_totalprice)*100.0+0.5)/100.0 AS spend,
               MAX(CAST(o_orderdate AS DATE)) AS last_day
        FROM '{SF_DIR}/orders.parquet' GROUP BY o_custkey
        """
    ).fetchall()
    frontier = {r["custkey"] for r in out}
    assert frontier  # non-degenerate
    pts = {k: (s, d) for k, s, d in per_cust}

    def dominated(k):
        s, d = pts[k]
        return any(
            (s2 >= s and d2 >= d and (s2 > s or d2 > d))
            for k2, (s2, d2) in pts.items()
            if k2 != k
        )

    for k in frontier:
        assert not dominated(k), f"frontier customer {k} is dominated"
    for k in pts:
        if k not in frontier:
            assert dominated(k), f"non-frontier customer {k} is undominated"


def test_km_estimator_invariants(spark):
    rows = REGISTRY["survival_session_km"].fn(spark, SF_DIR).collect()
    assert len(rows) >= 3  # non-degenerate curve
    prev_t, prev_s, prev_risk = -1, 1.0 + 1e-9, None
    running = 1.0
    for r in rows:
        assert r["t_min5"] > prev_t
        assert 0.0 <= r["survival"] < prev_s  # strictly decreasing at death times
        assert r["n_events"] >= 1
        assert r["n_events"] <= r["n_risk"]
        if prev_risk is not None:
            assert r["n_risk"] < prev_risk  # at-risk shrinks over time
        running *= 1.0 - r["n_events"] / r["n_risk"]
        assert math.isclose(r["survival"], running, abs_tol=5e-7)
        prev_t, prev_s, prev_risk = r["t_min5"], r["survival"], r["n_risk"]


def test_seasonal_anomaly_counts_match_pandas(spark, events_pdf):
    out = REGISTRY["anomaly_seasonal_residual"].fn(spark, SF_DIR).collect()
    pdf = events_pdf.copy()
    ts = pd.to_datetime(pdf["ts"])
    pdf["dow"] = ts.dt.dayofweek.map(lambda d: (d + 1) % 7 + 1)  # Spark: 1=Sunday
    pdf["h"] = ts.dt.hour
    g = pdf.groupby(["dow", "h"])["value"]
    stats = g.agg(["mean", "std"]).rename(columns={"mean": "m", "std": "s"})
    merged = pdf.merge(stats, on=["dow", "h"])
    z = ((merged["value"] - merged["m"]) / merged["s"]).abs()
    merged = merged[z.notna()].copy()  # 1-sample cells: NULL std on both engines
    merged["abs_z"] = (z[z.notna()] * 10000.0 + 0.5).apply(math.floor) / 10000.0
    want_anom = (
        merged[merged["abs_z"] > 3.0].groupby(["event_type", "dow"]).size().to_dict()
    )
    got_anom = {
        (r["event_type"], r["dow"]): r["n_anomalies"] for r in out if r["n_anomalies"]
    }
    assert got_anom == {k: v for k, v in want_anom.items() if v}


def test_seasonal_anomaly_nonvacuous_at_driver_sf():
    """sf0.001 has too few events per cell for 3-sigma hits; the driver's
    sf0.01 gate must exercise the anomaly branch — pin that here."""
    import duckdb

    n = duckdb.sql(
        """
        WITH c AS (
            SELECT dayofweek(ts) AS dow, hour(ts) AS h,
                   AVG(value) AS m, STDDEV_SAMP(value) AS s
            FROM '/root/testdata/sf0.01/events.parquet' GROUP BY 1, 2
        )
        SELECT COUNT(*) FROM '/root/testdata/sf0.01/events.parquet' e
        JOIN c ON dayofweek(e.ts) = c.dow AND hour(e.ts) = c.h
        WHERE abs((e.value - c.m) / c.s) > 3.0
        """
    ).fetchone()[0]
    assert n > 0


@pytest.mark.heavy
def test_pca_top_component_matches_numpy(spark):
    """Same 3-round power iteration in numpy must reproduce the loadings
    (to rounding), and the Rayleigh quotient must sit within the true
    spectral range and near the true top eigenvalue."""
    import numpy as np

    rows = REGISTRY["embedding_pca_top_component"].fn(spark, SF_DIR).collect()
    v_got = np.array([r["loading"] for r in sorted(rows, key=lambda r: r["dim_j"])])
    lam_got = rows[0]["eigval"]

    X = np.stack(pd.read_parquet(f"{SF_DIR}/embeddings.parquet")["embedding"].to_numpy())
    X = X.astype(np.float64)
    C = np.cov(X, rowvar=False, ddof=1)
    C = np.floor(C * 1e9 + 0.5) / 1e9
    v = np.full(C.shape[0], 0.125)
    for _ in range(3):
        w = C @ v
        v = np.floor((w / np.linalg.norm(w)) * 1e9 + 0.5) / 1e9
    lam = float(v @ (C @ v))
    m = np.argmax(np.abs(v))
    if v[m] < 0:
        v = -v
    assert np.allclose(v_got, np.floor(v * 1e6 + 0.5) / 1e6, atol=2e-6)
    assert abs(lam_got - lam) < 1e-4
    true_top = float(np.linalg.eigvalsh(C)[-1])
    assert lam_got <= true_top + 1e-6  # Rayleigh quotient never exceeds lambda_max
    assert lam_got >= 0.5 * true_top  # 3 rounds already in the top of the spectrum


@pytest.mark.heavy
def test_kcore_peel_matches_python(spark):
    """Re-peel the same graph with a driver-side set implementation and
    compare the full trajectory (run at sf0.01 — sf0.001's co-purchase
    graph is dense enough that nothing peels, which would be vacuous)."""
    import collections

    import duckdb

    sf = "/root/testdata/sf0.01"
    rows = REGISTRY["graph_kcore_peel"].fn(spark, sf).collect()
    edges = set(
        duckdb.sql(
            f"""
            SELECT a.l_partkey, b.l_partkey
            FROM '{sf}/lineitem.parquet' a JOIN '{sf}/lineitem.parquet' b
              ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
            GROUP BY 1, 2 HAVING COUNT(*) >= 2
            """
        ).fetchall()
    )
    for r in rows:
        deg = collections.Counter()
        for u, v in edges:
            deg[u] += 1
            deg[v] += 1
        bad = {n for n, d in deg.items() if d < 3}
        edges = {(u, v) for u, v in edges if u not in bad and v not in bad}
        nodes = {n for e in edges for n in e}
        assert (r["n_removed"], r["n_nodes_after"], r["n_edges_after"]) == (
            len(bad),
            len(nodes),
            len(edges),
        ), f"round {r['peel_round']} diverges"
    assert rows[0]["n_removed"] > 0  # non-degenerate at sf0.01


def test_bootstrap_ci_statistical_sanity(spark):
    """The Poisson-bootstrap CI must bracket the sample mean and have
    width of the same order as the normal-theory CI (1.96*sd/sqrt(n))."""
    import numpy as np

    r = REGISTRY["stats_bootstrap_ci_mean"].fn(spark, SF_DIR).collect()[0]
    assert r["ci_lo"] < r["mean_full"] < r["ci_hi"]
    y = pd.read_parquet(f"{SF_DIR}/orders.parquet")["o_totalprice"].to_numpy()
    theory_half = 1.96 * np.std(y, ddof=1) / np.sqrt(len(y))
    boot_half = (r["ci_hi"] - r["ci_lo"]) / 2.0
    assert 0.4 < boot_half / theory_half < 2.5


def test_mutual_information_matches_scipy_style(spark, events_pdf):
    """Recompute MI/entropies from the raw contingency table in numpy."""
    import numpy as np

    r = REGISTRY["stats_mutual_information"].fn(spark, SF_DIR).collect()[0]
    pdf = events_pdf.copy()
    ts = pd.to_datetime(pdf["ts"])
    pdf["dow"] = ts.dt.dayofweek.map(lambda d: (d + 1) % 7 + 1)
    ct = pdf.groupby(["event_type", "dow"]).size().unstack(fill_value=0).to_numpy()
    p = ct / ct.sum()
    px, py = p.sum(axis=1), p.sum(axis=0)
    nz = p > 0
    mi = float((p[nz] * np.log(p[nz] / np.outer(px, py)[nz])).sum())
    hx = float(-(px[px > 0] * np.log(px[px > 0])).sum())
    hy = float(-(py[py > 0] * np.log(py[py > 0])).sum())
    assert abs(r["mi_nats"] - mi) < 1e-5
    assert abs(r["h_event_type"] - hx) < 1e-5
    assert abs(r["h_dow"] - hy) < 1e-5
    assert 0.0 <= r["nmi"] <= 1.0
    assert r["mi_nats"] <= min(hx, hy) + 1e-9  # MI bounded by marginal entropies


@pytest.mark.heavy
def test_gd_linreg_matches_numpy_and_descends(spark):
    """Identical 5-round GD in numpy (with the same 1e-9 lockstep
    rounding) must reproduce the trajectory; MSE must strictly descend
    and beat the null model by 10x at round 5."""
    import numpy as np

    rows = REGISTRY["ml_gd_linreg_rounds"].fn(spark, SF_DIR).collect()
    docs = pd.read_parquet(f"{SF_DIR}/documents.parquet")
    toks = docs["text"].str.split(" ")
    f1 = toks.str.len().to_numpy(dtype=float)
    f2 = toks.apply(lambda t: len(set(t))).to_numpy(dtype=float)
    fy = docs["n_chars"].to_numpy(dtype=float)

    r9 = lambda a: np.floor(np.asarray(a) * 1e9 + 0.5) / 1e9  # noqa: E731
    m1, s1 = r9(f1.mean()), r9(f1.std(ddof=1))
    m2, s2 = r9(f2.mean()), r9(f2.std(ddof=1))
    my, sy = r9(fy.mean()), r9(fy.std(ddof=1))
    x1, x2, y = (f1 - m1) / s1, (f2 - m2) / s2, (fy - my) / sy
    n = float(len(y))
    w1 = w2 = b = 0.0
    prev_mse = 1.0 + 1e9
    for r in rows:
        resid = w1 * x1 + w2 * x2 + b - y
        w1 = float(r9(w1 - 0.3 * 2.0 / n * (resid * x1).sum()))
        w2 = float(r9(w2 - 0.3 * 2.0 / n * (resid * x2).sum()))
        b = float(r9(b - 0.3 * 2.0 / n * resid.sum()))
        mse = float(((w1 * x1 + w2 * x2 + b - y) ** 2).mean())
        assert abs(r["w1"] - w1) < 2e-6 and abs(r["w2"] - w2) < 2e-6
        assert abs(r["b"] - b) < 2e-6
        assert abs(r["mse"] - mse) < 1e-5
        assert r["mse"] < prev_mse  # strict descent
        prev_mse = r["mse"]
    assert rows[-1]["mse"] < 0.1  # explains >90% of variance by round 5


def test_isotonic_fit_matches_pav(spark):
    """The minimax closed form must equal classic pool-adjacent-
    violators pooling, and the fit must be monotone non-decreasing."""
    rows = REGISTRY["ml_isotonic_fit"].fn(spark, SF_DIR).collect()
    rows.sort(key=lambda r: r["x"])
    fits = [r["iso_fit"] for r in rows]
    assert all(a <= b + 1e-9 for a, b in zip(fits, fits[1:]))  # monotone

    li = pd.read_parquet(f"{SF_DIR}/lineitem.parquet")
    g = (
        li.groupby("l_quantity")["l_extendedprice"]
        .agg(["count", "sum"])
        .sort_index()
    )
    # classic PAV: pool blocks while a violator exists
    blocks = [[w, s] for w, s in zip(g["count"], g["sum"])]  # [weight, sum]
    k = 0
    while k < len(blocks) - 1:
        if blocks[k][1] / blocks[k][0] > blocks[k + 1][1] / blocks[k + 1][0] + 1e-12:
            blocks[k][0] += blocks[k + 1][0]
            blocks[k][1] += blocks[k + 1][1]
            del blocks[k + 1]
            k = max(k - 1, 0)
        else:
            k += 1
    # expand blocks back to per-level fits
    expanded = []
    bi, used = 0, 0
    counts = list(g["count"])
    for lev_w in counts:
        expanded.append(blocks[bi][1] / blocks[bi][0])
        used += lev_w
        block_w = blocks[bi][0]
        if used >= block_w:
            bi += 1
            used = 0
    assert len(expanded) == len(fits)
    for got, want in zip(fits, expanded):
        assert abs(got - want) < 1e-4


def test_periodogram_matches_numpy(spark, events_pdf):
    import numpy as np

    rows = {r["period_hours"]: r for r in REGISTRY["events_periodogram"].fn(spark, SF_DIR).collect()}
    ts = pd.to_datetime(events_pdf["ts"])
    th = ts.astype("datetime64[s]").astype("int64") // 3600
    hourly = events_pdf.groupby(th)["value"].sum()
    xv = np.floor(hourly.to_numpy() * 1e6 + 0.5) / 1e6
    t = (hourly.index - hourly.index.min()).to_numpy().astype(float)
    xc = xv - xv.mean()
    nf = 2.0 * xc.var()
    for T, r in rows.items():
        c = (xc * np.cos(2 * np.pi * t / T)).sum()
        s = (xc * np.sin(2 * np.pi * t / T)).sum()
        p = (c * c + s * s) * 2.0 / len(xc)
        assert abs(r["power"] - p) < max(1e-2, 1e-9 * abs(p) * 1e4)
        assert abs(r["noise_floor"] - nf) < 0.05
        assert abs(r["snr"] - p / nf) < 1e-3


def test_sprt_walk_matches_python(spark, events_pdf):
    """Replay the SPRT walk in pure Python: crossings and final LLR."""
    import math as m

    a, b = m.log(0.22 / 0.18), m.log(0.78 / 0.82)
    up, lo = m.log(19.0), -m.log(19.0)
    got = {r["grp"]: r for r in REGISTRY["abtest_sprt_sequential"].fn(spark, SF_DIR).collect()}
    pdf = events_pdf.sort_values(["ts", "event_id"])
    for grp, sub in pdf.groupby(pdf["user_id"] % 2):
        name = "even" if grp == 0 else "odd"
        llr, s, first_up, first_lo = 0.0, 0, -1, -1
        for t, et in enumerate(sub["event_type"], start=1):
            x = 1 if et == "purchase" else 0
            s += x
            llr = a * s + b * (t - s)
            if first_up == -1 and llr >= up:
                first_up = t
            if first_lo == -1 and llr <= lo:
                first_lo = t
        r = got[name]
        assert r["n_events"] == len(sub) and r["n_success"] == s
        assert r["first_up_cross"] == first_up and r["first_lo_cross"] == first_lo
        assert abs(r["llr_final"] - llr) < 1e-6


def test_pit_features_no_leakage(spark, events_pdf):
    """Replay the point-in-time features in pandas, asserting strict
    'as of before' semantics (the leakage property PIT joins exist for)."""
    got = {r["user_id"]: r for r in REGISTRY["featurestore_pit_features"].fn(spark, SF_DIR).collect()}
    pdf = events_pdf.sort_values(["ts", "event_id"])
    es = pdf["ts"].astype("datetime64[s]").astype("int64")
    pdf = pdf.assign(es=es)
    for uid, sub in pdf.groupby("user_id"):
        sub = sub.reset_index(drop=True)
        feats = []
        for i in range(len(sub)):
            if sub.loc[i, "event_type"] != "purchase" or i == 0:
                continue
            last_val = sub.loc[i - 1, "value"]
            t = sub.loc[i, "es"]
            cnt24 = int(((sub["es"] >= t - 86400) & (sub["es"] <= t - 1)).sum())
            # range frame counts by value, not position: include i's own
            # second only if strictly earlier rows share it (es <= t-1 excludes it)
            feats.append((last_val, cnt24, i))
        if not feats:
            assert uid not in got
            continue
        r = got[uid]
        assert r["n_purchases"] == len(feats)
        import math as m

        avg_lv = sum(f[0] for f in feats) / len(feats)
        avg_c = sum(f[1] for f in feats) / len(feats)
        assert abs(r["avg_last_val"] - m.floor(avg_lv * 1e4 + 0.5) / 1e4) < 1e-9
        assert abs(r["avg_cnt_24h"] - m.floor(avg_c * 1e4 + 0.5) / 1e4) < 1e-9
        assert r["max_prior_events"] == max(f[2] for f in feats)


def test_haar_multiscale_matches_numpy_and_parseval(spark, events_pdf):
    """Replay the zero-padded Haar pyramid in numpy (same lockstep
    rounding) and verify the exact Parseval split:
    sum(x^2) = sum_k 2^k E_dk + 2^L sum(a_L^2)."""
    import numpy as np

    rows = REGISTRY["events_haar_multiscale"].fn(spark, SF_DIR).collect()
    ts = events_pdf["ts"].astype("datetime64[s]").astype("int64") // 3600
    hourly = events_pdf.groupby(ts)["value"].sum()
    r = lambda a, n: np.floor(np.asarray(a) * 10.0**n + 0.5) / 10.0**n  # noqa: E731
    idx = np.arange(hourly.index.min(), hourly.index.max() + 1)
    x = np.zeros(len(idx))
    x[hourly.index.to_numpy() - idx[0]] = r(hourly.to_numpy(), 6)
    total = float((x**2).sum())
    acc = 0.0
    for k, row in enumerate(rows, start=1):
        if len(x) % 2:
            x = np.append(x, 0.0)
        a = r((x[0::2] + x[1::2]) / 2.0, 9)
        d = r((x[0::2] - x[1::2]) / 2.0, 9)
        assert row["level"] == k and row["n_coeffs"] == len(a)
        e = float((d**2).sum())
        assert abs(row["detail_energy"] - r(e, 2)) < 0.02
        acc += 2.0**k * e
        x = a
    acc += 2.0 ** len(rows) * float((x**2).sum())
    assert abs(acc - total) / total < 1e-6  # Parseval (zero-pad exact)


def test_absorbing_conversion_matches_numpy(spark, events_pdf):
    """Recompute the 6-step absorption probabilities with an explicit
    transition matrix in numpy (same lockstep rounding)."""
    import numpy as np

    rows = {r["event_type"]: r for r in REGISTRY["funnel_absorbing_conversion"].fn(spark, SF_DIR).collect()}
    pdf = events_pdf.sort_values(["ts", "event_id"])
    pairs = []
    for _, sub in pdf.groupby("user_id"):
        ets = sub["event_type"].tolist()
        pairs.extend(zip(ets, ets[1:]))
    states = sorted({p for p, _ in pairs})
    r9 = lambda a: np.floor(np.asarray(a) * 1e9 + 0.5) / 1e9  # noqa: E731
    import collections

    cnt = collections.Counter(pairs)
    row_tot = collections.Counter()
    for (v, _), c in cnt.items():
        row_tot[v] += c
    P = {(v, w): r9(c / row_tot[v]) for (v, w), c in cnt.items()}
    transients = [s for s in states if s != "purchase"]
    h = {s: 0.0 for s in transients}
    for _ in range(6):
        h = {
            s: float(
                r9(
                    P.get((s, "purchase"), 0.0)
                    + sum(P.get((s, t), 0.0) * h[t] for t in transients)
                )
            )
            for s in transients
        }
    for s in transients:
        assert abs(rows[s]["p_convert_6steps"] - h[s]) < 2e-6
        assert rows[s]["p_convert_1step"] < rows[s]["p_convert_6steps"] < 1.0


def test_spearman_matches_scipy_free_recompute(spark):
    """Recompute Spearman with pandas' average-rank method."""
    r = REGISTRY["stats_spearman_rank_corr"].fn(spark, SF_DIR).collect()[0]
    docs = pd.read_parquet(f"{SF_DIR}/documents.parquet")
    x = docs["text"].str.split(" ").str.len()
    y = docs["n_chars"]
    rho = x.rank(method="average").corr(y.rank(method="average"))
    pear = x.astype(float).corr(y.astype(float))
    assert abs(r["spearman_rho"] - rho) < 1e-5
    assert abs(r["pearson_r"] - pear) < 1e-5
    assert r["n_docs"] == len(docs)
