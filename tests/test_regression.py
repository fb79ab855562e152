"""NumPy replicas for the closed-form regression family: the Spark
sufficient-statistic estimators must agree with a from-scratch
float computation on the same raw rows (independent of the DuckDB
oracle, which shares the estimator's formula shape)."""

import math

import numpy as np
from pyspark.sql import functions as F

from tests.conftest import SF_SMALL
from etl_jlp_spark.catalog import load_table
from etl_jlp_spark.plans import regression

import __spark_entry__ as ent

QS = ent.queries()


def test_ols_matches_numpy_polyfit(spark):
    li = load_table(spark, SF_SMALL, "lineitem").select(
        F.year("l_shipdate").alias("y"),
        F.round(F.col("l_discount") * 100).cast("long").alias("x"),
        F.round("l_extendedprice").cast("long").alias("v"),
    )
    rows = li.collect()
    got = {r["ship_year"]: r for r in QS["ols_discount_elasticity"](spark, SF_SMALL).collect()}
    years = {r["y"] for r in rows}
    assert set(got) == years
    for yr in years:
        xs = np.array([r["x"] for r in rows if r["y"] == yr], dtype=float)
        ys = np.array([r["v"] for r in rows if r["y"] == yr], dtype=float)
        slope, intercept = np.polyfit(xs, ys, 1)
        r = np.corrcoef(xs, ys)[0, 1]
        assert math.isclose(got[yr]["slope_usd_per_pct"], slope, rel_tol=1e-6, abs_tol=1e-4)
        assert math.isclose(got[yr]["intercept_usd"], intercept, rel_tol=1e-6, abs_tol=1e-3)
        assert math.isclose(got[yr]["r2"], r * r, rel_tol=1e-6, abs_tol=1e-6)
        assert got[yr]["n"] == len(xs)


def test_acf_matches_numpy(spark):
    daily = (
        load_table(spark, SF_SMALL, "orders")
        .groupBy(F.to_date("o_orderdate").alias("day"))
        .agg(F.sum(F.round("o_totalprice").cast("long")).alias("rev"))
        .orderBy("day")
        .collect()
    )
    days = {r["day"]: r["rev"] for r in daily}
    xs = np.array([r["rev"] for r in daily], dtype=float)
    dev = xs - xs.mean()
    den = float((dev * dev).sum())
    got = {r["lag"]: r for r in QS["acf_daily_revenue"](spark, SF_SMALL).collect()}
    assert set(got) == set(range(1, regression.ACF_MAX_LAG + 1))
    ordered_days = [r["day"] for r in daily]
    idx = {d: i for i, d in enumerate(ordered_days)}
    for lag in got:
        num = 0.0
        n_pairs = 0
        for d, i in idx.items():
            from datetime import timedelta

            d2 = d + timedelta(days=lag)
            if d2 in days:
                num += dev[i] * dev[idx[d2]]
                n_pairs += 1
        assert got[lag]["n_pairs"] == n_pairs
        assert math.isclose(got[lag]["acf"], num / den, rel_tol=1e-5, abs_tol=1e-5)


def test_acf_lag_zero_would_be_one_and_bounds(spark):
    """|ACF| <= 1 for every reported lag (Cauchy-Schwarz on the
    truncated sums can exceed 1 only via the missing-day truncation;
    the series is day-dense so the bound holds)."""
    for r in QS["acf_daily_revenue"](spark, SF_SMALL).collect():
        assert -1.0 <= r["acf"] <= 1.0
        assert r["n_pairs"] > 0


def test_did_cell_means_match_pandas(spark):
    ev = load_table(spark, SF_SMALL, "events").select("event_type", "user_id", "ts", "value")
    pdf = ev.toPandas()
    import hashlib

    pdf["treated"] = [
        1 if hashlib.md5(str(u).encode()).hexdigest()[0] < regression.DID_SPLIT_HEX else 0
        for u in pdf["user_id"]
    ]
    boundary = np.datetime64(regression.DID_PERIOD_BOUNDARY.replace(" ", "T"))
    pdf["post"] = (pdf["ts"].values >= boundary).astype(int)
    pdf["v_e4"] = np.round(pdf["value"].values * 10000).astype("int64")
    got = {r["event_type"]: r for r in QS["did_lift_report"](spark, SF_SMALL).collect()}
    for et, grp in pdf.groupby("event_type"):
        cells = {}
        for (t, p), sub in grp.groupby(["treated", "post"]):
            cells[(t, p)] = sub["v_e4"].mean() / 10000.0
        r = got[et]
        assert math.isclose(r["mean_treat_pre"], cells[(1, 0)], abs_tol=5e-5)
        assert math.isclose(r["mean_treat_post"], cells[(1, 1)], abs_tol=5e-5)
        assert math.isclose(r["mean_ctrl_pre"], cells[(0, 0)], abs_tol=5e-5)
        assert math.isclose(r["mean_ctrl_post"], cells[(0, 1)], abs_tol=5e-5)
        did = (cells[(1, 1)] - cells[(1, 0)]) - (cells[(0, 1)] - cells[(0, 0)])
        assert math.isclose(r["did_estimate"], did, abs_tol=1e-4)
        assert r["n_events"] == len(grp)


def test_zipf_slope_matches_numpy(spark):
    import re
    from collections import Counter

    docs = load_table(spark, SF_SMALL, "documents").select("text").collect()
    counts = Counter()
    for r in docs:
        counts.update(re.findall("[a-z]+", r["text"].lower()))
    ranked = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[:1000]
    xs = np.log(np.arange(1, len(ranked) + 1, dtype=float))
    ys = np.log(np.array([c for _, c in ranked], dtype=float))
    slope, intercept = np.polyfit(xs, ys, 1)
    row = QS["zipf_rank_slope"](spark, SF_SMALL).first()
    assert row["n_terms"] == len(counts)
    assert row["n_fit"] == len(ranked)
    assert math.isclose(row["zipf_slope"], slope, rel_tol=1e-5, abs_tol=1e-5)
    assert math.isclose(row["intercept"], intercept, rel_tol=1e-5, abs_tol=1e-4)
    assert row["zipf_slope"] < 0  # frequency decreases with rank


def test_knn_loo_matches_numpy(spark):
    import hashlib

    from etl_jlp_spark.operators.embeddings import KNN_EVAL_SAMPLE_HEX

    emb = load_table(spark, SF_SMALL, "embeddings").collect()
    ids = np.array([r["vec_id"] for r in emb])
    labels = np.array([r["label"] for r in emb])
    V = np.array([list(r["embedding"]) for r in emb], dtype=float)
    Vn = V / np.linalg.norm(V, axis=1, keepdims=True)
    cos = np.round(Vn @ Vn.T, 6)
    order = np.argsort(ids)
    ids, labels, cos = ids[order], labels[order], cos[np.ix_(order, order)]
    np.fill_diagonal(cos, -2.0)
    correct = {}
    n = {}
    for i in range(len(ids)):
        # query side is the operator's deterministic md5 sample (~25%);
        # every vector still serves as a candidate neighbor
        if hashlib.md5(str(int(ids[i])).encode()).hexdigest()[0] >= KNN_EVAL_SAMPLE_HEX:
            continue
        # max cosine, tie-break by smallest neighbor id (ids sorted asc)
        j = int(np.argmax(cos[i]))
        lab = int(labels[i])
        n[lab] = n.get(lab, 0) + 1
        if labels[j] == lab:
            correct[lab] = correct.get(lab, 0) + 1
    got = {r["label"]: r for r in QS["knn_loo_accuracy"](spark, SF_SMALL).collect()}
    assert set(got) == set(n)
    for lab in n:
        assert got[lab]["n"] == n[lab]
        assert got[lab]["n_correct"] == correct.get(lab, 0)


def test_knn_loo_zero_norm_vector_does_not_empty_report(spark, tmp_path):
    """One zero-norm vector has no cosine to anything. It must not turn
    every query's row max into NaN (an empty report); as a query it has
    no neighbor and is skipped."""
    import hashlib

    from etl_jlp_spark.operators.embeddings import KNN_EVAL_SAMPLE_HEX

    def sampled(i):
        return hashlib.md5(str(i).encode()).hexdigest()[0] < KNN_EVAL_SAMPLE_HEX

    q_ids = [i for i in range(100) if sampled(i)][:5]
    c_ids = [i for i in range(100) if not sampled(i)][:6]
    zero_id, q_ids = q_ids[0], q_ids[1:]
    rows = [(zero_id, [0.0] * 4, 0)]
    for k, i in enumerate(q_ids + c_ids):
        lab = k % 2
        rows.append((i, [1.0 - lab, float(lab), 0.01 * k, 0.0], lab))
    sf = str(tmp_path / "sf")
    spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int").coalesce(
        1
    ).write.parquet(f"{sf}/embeddings.parquet")
    got = {r["label"]: (r["n"], r["accuracy"]) for r in QS["knn_loo_accuracy"](spark, sf).collect()}
    want = {lab: sum(1 for k in range(len(q_ids)) if k % 2 == lab) for lab in (0, 1)}
    assert got == {lab: (n, 1.0) for lab, n in want.items()}


def test_calendar_dim_iso_conventions(spark):
    from datetime import date

    rows = QS["calendar_dim"](spark, SF_SMALL).collect()
    assert len(rows) == len({r["day"] for r in rows})
    by_day = {r["day"]: r for r in rows}
    # span is contiguous
    assert (max(by_day) - min(by_day)).days + 1 == len(rows)
    for d in list(sorted(by_day))[:400]:
        r = by_day[d]
        iso = d.isocalendar()
        assert r["iso_dow"] == iso[2]
        assert r["iso_week"] == iso[1]
        assert r["yr"] == d.year and r["mo"] == d.month and r["dom"] == d.day
        assert r["qtr"] == (d.month - 1) // 3 + 1
        assert r["is_weekend"] == (iso[2] >= 6)
        nxt = date(d.year + (d.month == 12), d.month % 12 + 1, 1)
        from datetime import timedelta

        assert r["days_in_month"] == (nxt - timedelta(days=1)).day


def test_corr_matrix_matches_numpy(spark):
    li = load_table(spark, SF_SMALL, "lineitem").select(
        F.col("l_quantity").cast("long").alias("qty"),
        F.round("l_extendedprice").cast("long").alias("price"),
        F.round(F.col("l_discount") * 100).cast("long").alias("disc"),
        F.round(F.col("l_tax") * 100).cast("long").alias("tax"),
    )
    pdf = li.toPandas()
    got = {
        (r["col_x"], r["col_y"]): r["corr"]
        for r in QS["lineitem_corr_matrix"](spark, SF_SMALL).collect()
    }
    names = {
        "qty": "l_quantity",
        "price": "l_extendedprice",
        "disc": "l_discount",
        "tax": "l_tax",
    }
    cols = list(names)
    assert len(got) == 6
    for i, a in enumerate(cols):
        for b in cols[i + 1 :]:
            want = np.corrcoef(pdf[a].values.astype(float), pdf[b].values.astype(float))[0, 1]
            assert math.isclose(got[(names[a], names[b])], want, abs_tol=1e-6)


def test_user_event_entropy_matches_numpy(spark):
    ev = load_table(spark, SF_SMALL, "events").select("user_id", "event_type").collect()
    from collections import Counter, defaultdict

    per_user = defaultdict(Counter)
    for r in ev:
        per_user[r["user_id"]][r["event_type"]] += 1
    got = {r["user_id"]: r for r in QS["user_event_entropy"](spark, SF_SMALL).collect()}
    assert set(got) == set(per_user)
    for u, cnt in per_user.items():
        n = sum(cnt.values())
        ps = np.array(list(cnt.values()), dtype=float) / n
        h = float(-(ps * np.log(ps)).sum())
        assert got[u]["n_events"] == n
        assert got[u]["n_types"] == len(cnt)
        assert math.isclose(got[u]["entropy_nats"], h, abs_tol=5e-5)
        assert 0.0 <= got[u]["entropy_nats"] <= math.log(max(len(cnt), 1)) + 1e-9


def test_equidepth_buckets_are_balanced_and_ordered(spark):
    rows = sorted(QS["equidepth_histogram"](spark, SF_SMALL).collect(), key=lambda r: r["bucket"])
    assert [r["bucket"] for r in rows] == list(range(1, 11))
    counts = [r["n"] for r in rows]
    assert max(counts) - min(counts) <= 1  # ntile balance property
    for a, b in zip(rows, rows[1:]):
        assert a["hi"] <= b["lo"] + 1e-9  # ranges are ordered
        assert a["lo"] <= a["hi"]


def test_event_weekday_mi_matches_numpy(spark):
    ev = load_table(spark, SF_SMALL, "events").select(
        "event_type", (F.weekday(F.to_date("ts")) + 1).alias("wd")
    ).collect()
    from collections import Counter

    cells = Counter((r["event_type"], r["wd"]) for r in ev)
    n = sum(cells.values())
    rx = Counter()
    ry = Counter()
    for (x, y), c in cells.items():
        rx[x] += c
        ry[y] += c
    mi = sum(
        (c / n) * math.log(c * n / (rx[x] * ry[y])) for (x, y), c in cells.items()
    )
    hx = -sum((c / n) * math.log(c / n) for c in rx.values())
    hy = -sum((c / n) * math.log(c / n) for c in ry.values())
    row = QS["event_weekday_mi"](spark, SF_SMALL).first()
    assert row["n_events"] == n and row["n_cells"] == len(cells)
    assert math.isclose(row["mi_nats"], mi, abs_tol=5e-5)
    assert math.isclose(row["h_event_type"], hx, abs_tol=5e-5)
    assert math.isclose(row["h_weekday"], hy, abs_tol=5e-5)
    assert math.isclose(row["nmi"], mi / math.sqrt(hx * hy), abs_tol=5e-5)
    assert 0.0 <= row["nmi"] <= 1.0


def test_bootstrap_ci_deterministic_and_sane(spark):
    """Two invocations must agree exactly (md5 resampling is a pure
    function of the data), and the interval must bracket the
    population mean for this well-behaved distribution."""
    a = QS["bootstrap_ci_mean"](spark, SF_SMALL).first()
    b = QS["bootstrap_ci_mean"](spark, SF_SMALL).first()
    assert a == b
    assert a["ci_lo"] <= a["mean_value"] <= a["ci_hi"]
    assert a["se_boot"] > 0
    assert a["n_resamples"] == 50


def test_bootstrap_replicates_python_resampling(spark):
    """Replicate the md5 index stream in pure Python for one resample
    and match the implied resample mean by reconstructing ALL resample
    means: the CI endpoints must equal the quantiles of the Python
    means."""
    import hashlib

    ev = (
        load_table(spark, SF_SMALL, "events")
        .select("event_id", F.round(F.col("value") * 10000).cast("long").alias("v_e4"))
        .orderBy("event_id")
        .collect()
    )
    v = [r["v_e4"] for r in ev]
    n = len(v)
    means = []
    for b in range(1, 51):
        s = 0
        for i in range(1, n + 1):
            h = int(hashlib.md5(f"{b}:{i}".encode()).hexdigest()[:15], 16)
            s += v[h % n]
        means.append(s / n / 10000)
    means.sort()

    def qcont(xs, p):
        k = (len(xs) - 1) * p
        lo, hi = int(math.floor(k)), int(math.ceil(k))
        return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)

    row = QS["bootstrap_ci_mean"](spark, SF_SMALL).first()
    assert math.isclose(row["ci_lo"], qcont(means, 0.025), abs_tol=1e-4)
    assert math.isclose(row["ci_hi"], qcont(means, 0.975), abs_tol=1e-4)


def test_theil_sen_matches_python(spark):
    """From-scratch pairwise-slope median replica (pure Python, exact
    rank selection) for the Theil-Sen trend row."""
    daily = (
        load_table(spark, SF_SMALL, "orders")
        .groupBy(F.to_date("o_orderdate").alias("day"))
        .agg(F.sum(F.round("o_totalprice").cast("long")).cast("long").alias("rev"))
        .collect()
    )
    day0 = min(r["day"] for r in daily)
    pts = sorted(((r["day"] - day0).days, r["rev"]) for r in daily)
    slopes = []
    for i in range(len(pts)):
        for j in range(i + 1, len(pts)):
            (ai, arev), (bi, brev) = pts[i], pts[j]
            slopes.append(((brev - arev) / (bi - ai), ai, bi))
    slopes.sort()
    n = len(slopes)
    mids = {(n + 1) // 2, (n + 2) // 2}
    slope = round(sum(slopes[r - 1][0] for r in mids) / len(mids), 6)
    resid = sorted((rev - slope * di, di) for di, rev in pts)
    m = len(resid)
    rmids = {(m + 1) // 2, (m + 2) // 2}
    intercept = round(sum(resid[r - 1][0] for r in rmids) / len(rmids), 2)
    row = QS["theil_sen_trend"](spark, SF_SMALL).collect()[0]
    assert row["n_days"] == len(pts)
    assert row["n_pairs"] == n
    assert math.isclose(row["slope_per_day"], slope, rel_tol=0, abs_tol=1e-9)
    assert math.isclose(row["intercept"], intercept, rel_tol=0, abs_tol=1e-9)


def test_spearman_matches_scipy_style_numpy(spark):
    """Tie-averaged rank correlation replica via numpy argsort ranks —
    independent of both the value-histogram rank derivation and the
    DuckDB oracle."""
    li = load_table(spark, SF_SMALL, "lineitem").select(
        F.col("l_quantity").cast("long").alias("qty"),
        F.round("l_extendedprice").cast("long").alias("price"),
        F.round(F.col("l_discount") * 100).cast("long").alias("disc"),
        F.round(F.col("l_tax") * 100).cast("long").alias("tax"),
    )
    rows = li.collect()
    cols = {}
    for k in ("qty", "price", "disc", "tax"):
        v = np.array([r[k] for r in rows], dtype=float)
        order = np.argsort(v, kind="stable")
        ranks = np.empty(len(v))
        i = 0
        sv = v[order]
        while i < len(v):
            j = i
            while j + 1 < len(v) and sv[j + 1] == sv[i]:
                j += 1
            ranks[order[i : j + 1]] = (i + j) / 2 + 1  # average tie rank
            i = j + 1
        cols[k] = ranks
    got = {
        (r["col_x"], r["col_y"]): r["rho"]
        for r in QS["spearman_corr_matrix"](spark, SF_SMALL).collect()
    }
    assert len(got) == 6
    for (x, y), rho in got.items():
        expect = np.corrcoef(cols[x], cols[y])[0, 1]
        assert math.isclose(rho, expect, rel_tol=0, abs_tol=1e-6), (x, y)


def test_ljung_box_recomputes_from_registered_acf(spark):
    """ljung_box_daily must equal the fixed-order expression over the
    REGISTERED (6-dp rounded) acf values and the exact day count — the
    PACF composition discipline — and be monotone in the horizon."""
    from etl_jlp_spark.plans.regression import LB_LAGS

    acf = {r["lag"]: r["acf"] for r in QS["acf_daily_revenue"](spark, SF_SMALL).collect()}
    row = QS["ljung_box_daily"](spark, SF_SMALL).collect()[0]
    n = row["n_days"]
    for h in LB_LAGS:
        s = 0.0
        for k in range(1, h + 1):  # ascending k == the expression's textual order
            s = s + acf[k] * acf[k] / (n - k)
        want = round(n * (n + 2.0) * s, 6)
        assert abs(row[f"q_stat_{h}"] - want) < 1e-9, (h, row[f"q_stat_{h}"], want)
        assert row[f"q_stat_{h}"] >= 0.0
    assert row[f"q_stat_{max(LB_LAGS)}"] >= row[f"q_stat_{min(LB_LAGS)}"]
