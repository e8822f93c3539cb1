"""Round-7 third-continuation additions: weighted sampling (A-ES),
training-order interleave, lag-1 autocorrelation, RFM segmentation,
fuzzy (containment) decontamination, and power-iteration PCA —
behavioral invariants against independent recomputation plus the
100 TB plan posture."""

import math

import numpy as np
from pyspark.sql import functions as F

from etl_data_pipeline_spark.llm import curation, similarity, text_analysis
from etl_data_pipeline_spark.operators import analytics, scans
from etl_data_pipeline_spark.plans import plan_str as _plan
from etl_data_pipeline_spark.session import load_table


# ---------------------------------------------------------------- sampling


def test_sample_weighted_k_per_group_and_replay(spark, sf_dir):
    """Exactly <= k rows per source, ranks dense from 1, and the
    selection replays identically (hash keys, no rand())."""
    df1 = scans.sample_weighted(spark, sf_dir)
    rows = df1.collect()
    by_src = {}
    for r in rows:
        by_src.setdefault(r.source, []).append(r.sample_rank)
    for src, rks in by_src.items():
        assert sorted(rks) == list(range(1, len(rks) + 1))
        assert len(rks) <= scans.WSAMPLE_K
    assert sorted(rows) == sorted(scans.sample_weighted(spark, sf_dir).collect())


def test_sample_weighted_biases_toward_long_docs(spark, sf_dir):
    """A-ES with w = n_chars must overrepresent long documents: the
    sampled mean length exceeds the corpus mean (the whole point of
    exposure weighting)."""
    samp = scans.sample_weighted(spark, sf_dir).agg(F.avg("n_chars")).first()[0]
    full = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("n_chars") > 0)
        .agg(F.avg("n_chars"))
        .first()[0]
    )
    assert samp > full


def test_sample_weighted_matches_bruteforce_aes(spark, sf_dir):
    """The picked doc_ids must equal an independent Python replay of
    the Efraimidis-Spirakis keys over the collected corpus."""
    import hashlib

    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "source", "n_chars")
        .filter(F.col("n_chars") > 0)
        .collect()
    )
    keyed = []
    for r in docs:
        h = int(hashlib.md5(f"{r.doc_id}:wsamp".encode()).hexdigest()[:15], 16)
        u = (h + 1) / float(1 << 60)
        key = math.floor(math.log(u) / r.n_chars * 1e9 + 0.5) / 1e9
        keyed.append((r.source, -key, r.doc_id))
    keyed.sort()
    expected = set()
    seen = {}
    for src, _negkey, did in keyed:
        seen[src] = seen.get(src, 0) + 1
        if seen[src] <= scans.WSAMPLE_K:
            expected.add(did)
    got = {r.doc_id for r in scans.sample_weighted(spark, sf_dir).collect()}
    assert got == expected


# -------------------------------------------------------------- interleave


def test_corpus_interleave_is_dense_total_order(spark, sf_dir):
    rows = curation.corpus_interleave(spark, sf_dir).collect()
    n = len(rows)
    assert sorted(r.global_pos for r in rows) == list(range(1, n + 1))
    # within each lang, within_rank dense from 1
    by_lang = {}
    for r in rows:
        by_lang.setdefault(r.lang, []).append(r.within_rank)
    for lang, rks in by_lang.items():
        assert sorted(rks) == list(range(1, len(rks) + 1))


def test_corpus_interleave_respects_stride_weights(spark, sf_dir):
    """In any output prefix, a weight-w stream of ample length should
    have emitted ~w docs per unit of virtual time: after the k-th doc
    of the heaviest stream, a lighter stream must not be AHEAD of its
    weight ratio (checked on stride positions directly: the i-th doc
    of stream s appears at virtual time (i-0.5)/w_s, which is the
    definition — so per-lang counts in the first half follow the
    weight ratios within rounding)."""
    rows = curation.corpus_interleave(spark, sf_dir).collect()
    n = len(rows)
    half = [r for r in rows if r.global_pos <= n // 2]
    counts = {}
    totals = {}
    for r in rows:
        totals[r.lang] = totals.get(r.lang, 0) + 1
    for r in half:
        counts[r.lang] = counts.get(r.lang, 0) + 1
    w = curation.INTERLEAVE_WEIGHTS
    # emitted-so-far count for lang should be ~ min(total, w*T) where T
    # is the cut virtual time; verify the ORDER of exhaustion: heavier
    # (relative to stream size) streams exhaust earlier. Sanity: every
    # lang present in the first half.
    assert set(counts) == set(totals)
    # stride property: the first half must contain a strictly larger
    # FRACTION of each heavier stream than of the weight-1 stream,
    # unless the heavy stream is already exhausted.
    assert "en" in totals, "fixture precondition: needs lang='en' docs"
    base = counts.get("en", 0) / totals["en"]  # weight 1.0
    for lang, wt in w.items():
        if wt > 1.0 and counts.get(lang, 0) < totals[lang]:
            assert counts[lang] / totals[lang] >= base


# -------------------------------------------------------------- autocorr


def test_timeseries_autocorr_matches_numpy(spark, sf_dir):
    got = {
        r.user_id: r.autocorr_lag1
        for r in analytics.timeseries_autocorr(spark, sf_dir).collect()
    }
    ev = (
        load_table(spark, sf_dir, "events")
        .select("user_id", "ts", "event_id", "value")
        .collect()
    )
    series = {}
    for r in sorted(ev, key=lambda r: (r.user_id, r.ts, r.event_id)):
        series.setdefault(r.user_id, []).append(r.value)
    expected = {}
    for uid, xs in series.items():
        if len(xs) - 1 < analytics.AUTOCORR_MIN_PAIRS:
            continue
        x = np.array(xs[1:])
        xl = np.array(xs[:-1])
        if x.std() == 0 or xl.std() == 0:
            continue
        expected[uid] = float(np.corrcoef(x, xl)[0, 1])
    assert set(got) == set(expected)
    for uid, v in expected.items():
        assert abs(got[uid] - v) < 1e-5


# -------------------------------------------------------------------- rfm


def test_events_rfm_quartiles_and_segment(spark, sf_dir):
    rows = analytics.events_rfm(spark, sf_dir).collect()
    n = len(rows)
    for col in ("r_q", "f_q", "m_q"):
        vals = sorted(getattr(r, col) for r in rows)
        # ntile(4): bucket sizes differ by at most 1 and cover 1..4
        sizes = [vals.count(q) for q in range(1, 5)]
        assert max(sizes) - min(sizes) <= 1
        assert sum(sizes) == n
    for r in rows:
        assert r.rfm_segment == f"{r.r_q}{r.f_q}{r.m_q}"
        assert r.frequency > 0 and r.recency_days >= 0


def test_events_rfm_monetary_ranking(spark, sf_dir):
    """m_q=1 users must all have monetary >= every m_q=4 user (ntile
    is order-preserving)."""
    rows = analytics.events_rfm(spark, sf_dir).collect()
    top = [r.monetary for r in rows if r.m_q == 1]
    bot = [r.monetary for r in rows if r.m_q == 4]
    assert min(top) >= max(bot)


# ---------------------------------------------------- fuzzy contamination


def test_contamination_fuzzy_matches_python_replay(spark, sf_dir):
    got = {
        r.doc_id: (r.n_ngrams, r.n_shared, r.contaminated)
        for r in text_analysis.text_contamination_fuzzy(spark, sf_dir).collect()
    }
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text").collect()
    n = text_analysis.FUZZY_NGRAM

    def shingles(text):
        toks = text.split(" ")
        return {
            " ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)
        } if len(toks) >= n else set()

    ev = set()
    tr = {}
    for r in docs:
        sh = shingles(r.text)
        if r.doc_id % text_analysis.CONTAM_EVAL_MOD == 0:
            ev |= sh
        elif sh:
            tr[r.doc_id] = sh
    assert set(got) == set(tr)
    for did, sh in tr.items():
        hits = len(sh & ev)
        flag = 1 if hits / len(sh) >= text_analysis.FUZZY_CONTAM_MIN else 0
        assert got[did] == (len(sh), hits, flag)


def test_contamination_fuzzy_plan_broadcasts_eval_set(spark, sf_dir):
    plan = _plan(text_analysis.text_contamination_fuzzy(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


# -------------------------------------------------------------------- pca


def test_embedding_pca_power_matches_numpy_trajectory(spark, sf_dir):
    """The loading vector must equal a numpy replay of the SAME
    rounded power iteration on the covariance matrix the engine
    itself reports (which test_llm already oracles)."""
    cov_rows = similarity.embedding_covariance(spark, sf_dir).collect()
    d = max(r.dim_j for r in cov_rows) + 1
    C = np.zeros((d, d))
    for r in cov_rows:
        C[r.dim_i, r.dim_j] = r.cov
        C[r.dim_j, r.dim_i] = r.cov

    def rnd(a, p=6):
        return np.floor(a * 10**p + 0.5) / 10**p

    x = np.full(d, similarity.PCA_INIT)
    for _ in range(similarity.PCA_ITERS):
        y = rnd(C @ x)
        x = rnd(y / np.sqrt((y * y).sum()))
    yf = C @ x
    lam = rnd((yf * x).sum() / (x * x).sum())

    rows = similarity.embedding_pca_power(spark, sf_dir).collect()
    assert len(rows) == d
    for r in rows:
        assert abs(r.loading - x[r.dim]) < 2e-6
        assert abs(r.eigenvalue - lam) < 2e-6
    # unit norm (to rounding) and a positive, trace-bounded eigenvalue
    nrm = sum(r.loading**2 for r in rows)
    assert abs(nrm - 1.0) < 1e-4
    assert 0 < rows[0].eigenvalue <= np.trace(C)


def test_embedding_pca_power_plan_no_corpus_rejoin(spark, sf_dir):
    """The corpus is scanned only by the covariance stage, whose upper
    triangle is collected once; the iteration runs on the driver and
    the result is a local frame — no cartesian product in the plan."""
    plan = _plan(similarity.embedding_pca_power(spark, sf_dir))
    assert "CartesianProduct" not in plan


# -------------------------------------------------- interval-overlap join


def test_join_interval_overlap_matches_bruteforce(spark, sf_dir):
    """Pairs + overlap durations must equal an independent Python
    replay: sessionize (30-min gap), hot 6h windows, closed-session ×
    half-open-window intersection."""
    from etl_data_pipeline_spark.functions.sessions import SESSION_GAP_US
    from etl_data_pipeline_spark.operators.joins import (
        OVERLAP_BIN_US,
        OVERLAP_HOT_MIN,
        join_interval_overlap,
    )

    got = {
        (r.user_id, r.session_seq, r.window_start_us): (r.n_purchases, r.overlap_us)
        for r in join_interval_overlap(spark, sf_dir).collect()
    }

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type"
    ).collect()
    by_user = {}
    hot = {}
    for r in sorted(ev, key=lambda r: (r.user_id, r.ts, r.event_id)):
        us = round(r.ts.timestamp() * 1_000_000)
        by_user.setdefault(r.user_id, []).append(us)
        if r.event_type == "purchase":
            w = us - us % OVERLAP_BIN_US
            hot[w] = hot.get(w, 0) + 1
    hot = {w: c for w, c in hot.items() if c > OVERLAP_HOT_MIN}
    expected = {}
    for uid, uss in by_user.items():
        seq, s_start, s_end = 0, None, None
        sessions = []
        for us in uss:
            if s_end is None or us - s_end > SESSION_GAP_US:
                if s_end is not None:
                    sessions.append((seq, s_start, s_end))
                seq += 1
                s_start = us
            s_end = us
        sessions.append((seq, s_start, s_end))
        for seq, a, b in sessions:
            for w, c in hot.items():
                if a < w + OVERLAP_BIN_US and b >= w:
                    ov = min(b, w + OVERLAP_BIN_US - 1) - max(a, w)
                    expected[(uid, seq, w)] = (c, ov)
    assert got == expected


def test_join_interval_overlap_plan_no_nested_loop(spark, sf_dir):
    """The bin equi-join must plan as a (broadcast) hash join — never
    BroadcastNestedLoop/Cartesian (the theta-join trap this operator
    exists to avoid)."""
    from etl_data_pipeline_spark.operators.joins import join_interval_overlap

    plan = _plan(join_interval_overlap(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan


# ---------------------------------------------------------- pca project


def test_embedding_pca_project_identities(spark, sf_dir):
    """Per-vector identities: residual² + score² == ‖centered‖²
    (to rounding), every corpus vector present, and the scores'
    variance ≈ the reported eigenvalue (the defining property of the
    top principal component)."""
    rows = similarity.embedding_pca_project(spark, sf_dir).collect()
    e = load_table(spark, sf_dir, "embeddings").collect()
    assert len(rows) == len(e)
    vecs = {r.vec_id: np.array([float(v) for v in r.embedding]) for r in e}
    mean = np.mean(np.stack(list(vecs.values())), axis=0)
    mean = np.floor(mean * 1e6 + 0.5) / 1e6
    eig = similarity.embedding_pca_power(spark, sf_dir).first().eigenvalue
    scores = []
    for r in rows:
        xc = vecs[r.vec_id] - mean
        total = float(xc @ xc)
        assert abs((r.pc1_score**2 + r.residual_norm**2) - total) < 1e-3
        scores.append(r.pc1_score)
    var = float(np.mean(np.square(scores)) - np.mean(scores) ** 2)
    # power iteration on a near-flat spectrum: score variance must be
    # in the eigenvalue's ballpark (exact equality needs convergence)
    assert var > 0.5 * eig


# ------------------------------------------------------------------ holt


def test_timeseries_holt_matches_python_fold(spark, sf_dir):
    got = {
        r.user_id: (r.n_events, r.level, r.trend, r.forecast_next)
        for r in analytics.timeseries_holt(spark, sf_dir).collect()
    }
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "value"
    ).collect()
    series = {}
    for r in sorted(ev, key=lambda r: (r.user_id, r.ts, r.event_id)):
        series.setdefault(r.user_id, []).append(r.value)
    a, b = analytics.HOLT_ALPHA, analytics.HOLT_BETA
    assert set(got) == {u for u, xs in series.items() if len(xs) >= 2}
    for uid, xs in series.items():
        if len(xs) < 2:
            continue
        level, trend = xs[1], xs[1] - xs[0]
        for x in xs[2:]:
            nl = a * x + (1 - a) * (level + trend)
            trend = b * (nl - level) + (1 - b) * trend
            level = nl
        r8 = lambda v: math.floor(v * 1e8 + 0.5) / 1e8
        assert got[uid] == (len(xs), r8(level), r8(trend), r8(level + trend))


# ------------------------------------------------------------------ basket


def test_basket_affinity_matches_bruteforce(spark, sf_dir):
    """Pair counts and the derived support/confidence/lift must equal
    an independent Python recomputation from the raw baskets."""
    got = {
        (r.item_a, r.item_b): (r.n_pair, r.n_a, r.n_b, r.n_baskets,
                               r.support, r.conf_a_b, r.conf_b_a, r.lift)
        for r in analytics.basket_affinity(spark, sf_dir).collect()
    }
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey").collect()
    pt = {r.p_partkey: r.p_type for r in load_table(spark, sf_dir, "part").collect()}
    baskets = {}
    for r in li:
        baskets.setdefault(r.l_orderkey, set()).add(pt[r.l_partkey])
    n = len(baskets)
    ic, pc = {}, {}
    for items in baskets.values():
        s = sorted(items)
        for it in s:
            ic[it] = ic.get(it, 0) + 1
        for i, a in enumerate(s):
            for b in s[i + 1:]:
                pc[(a, b)] = pc.get((a, b), 0) + 1
    r6 = lambda v: math.floor(v * 1e6 + 0.5) / 1e6
    expected = {
        (a, b): (c, ic[a], ic[b], n, r6(c / n), r6(c / ic[a]), r6(c / ic[b]),
                 r6(c * n / (ic[a] * ic[b])))
        for (a, b), c in pc.items()
    }
    assert got == expected


def test_basket_affinity_plan_no_big_selfjoin(spark, sf_dir):
    """Pairs must come from the per-basket array expansion — the plan
    joins only broadcast-sized count relations (no sort-merge join of
    two basket-level inputs, no cartesian)."""
    plan = _plan(analytics.basket_affinity(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan


# ------------------------------------------------------- streaming twin


def test_running_holt_matches_batch_exactly(spark, tmp_path):
    """The streaming Holt twin replayed over time-ordered micro-batches
    must converge to BIT-IDENTICAL per-user (level, trend, forecast)
    as the batch timeseries_holt fold — including when a micro-batch
    boundary splits the two seed observations (max_files_per_trigger=1
    over time-quartile chunks makes that split occur for real)."""
    import os

    from etl_data_pipeline_spark.streaming import jobs
    from tests.conftest import SF_DIR
    from tests.test_streaming import (
        _run_to_memory,
        _time_quartile_chunks,
        _write_stream_file,
    )

    ev = load_table(spark, SF_DIR, "events")
    src = os.path.join(str(tmp_path), "holt_src")
    for seq, c in enumerate(_time_quartile_chunks(ev)):
        _write_stream_file(c, src, seq)

    stream = jobs.events_file_stream(spark, src, max_files_per_trigger=1)
    got = _run_to_memory(spark, jobs.running_user_holt(stream), "t_holt")
    rows = got.collect()
    final = {}
    for r in rows:
        if r.user_id not in final or r.n_events > final[r.user_id][0]:
            final[r.user_id] = (r.n_events, r.level, r.trend, r.forecast_next)
    truth = {
        r.user_id: (r.n_events, r.level, r.trend, r.forecast_next)
        for r in analytics.timeseries_holt(spark, SF_DIR).collect()
    }
    assert final == truth
    assert got.count() > len(truth)  # cross-batch statefulness


# ------------------------------------------------------------ attribution


def test_events_attribution_matches_bruteforce(spark, sf_dir):
    """All three models must equal a Python replay over the raw
    events: per purchase, the touches in the 24-h lookback; last/first
    by (ts, event_id); linear = value split evenly."""
    from etl_data_pipeline_spark.operators.analytics import (
        ATTR_LOOKBACK_US,
        ATTR_TOUCHES,
        events_attribution,
    )

    got = {
        r.channel: (r.conv_last, r.value_last, r.conv_first, r.value_linear)
        for r in events_attribution(spark, sf_dir).collect()
    }
    ev = load_table(spark, sf_dir, "events").collect()
    rows = sorted(
        (
            (r.user_id, round(r.ts.timestamp() * 1e6), r.event_id, r.event_type, r.value)
            for r in ev
        ),
    )
    by_user = {}
    for u, us, eid, et, val in rows:
        by_user.setdefault(u, []).append((us, eid, et, val))
    last_cnt, last_val, first_cnt, lin = {}, {}, {}, {}
    for u, seq in by_user.items():
        seq.sort()
        for us, eid, et, val in seq:
            if et != "purchase":
                continue
            touches = [
                (tus, teid, tet)
                for tus, teid, tet, _ in seq
                if tet in ATTR_TOUCHES and us - ATTR_LOOKBACK_US <= tus < us
            ]
            if not touches:
                continue
            lc = max(touches)[2]
            fc = min(touches)[2]
            last_cnt[lc] = last_cnt.get(lc, 0) + 1
            last_val[lc] = last_val.get(lc, 0.0) + val
            first_cnt[fc] = first_cnt.get(fc, 0) + 1
            for _, _, tet in touches:
                lin[tet] = lin.get(tet, 0.0) + val / len(touches)
    r2 = lambda v: math.floor(v * 100 + 0.5) / 100
    channels = set(last_cnt) | set(first_cnt) | set(lin)
    expected = {
        c: (
            last_cnt.get(c, 0),
            r2(last_val.get(c, 0.0)),
            first_cnt.get(c, 0),
            r2(lin.get(c, 0.0)),
        )
        for c in channels
    }
    assert set(got) == set(expected)
    for c in expected:
        g, e = got[c], expected[c]
        assert g[0] == e[0] and g[2] == e[2]
        assert abs(g[1] - e[1]) < 0.02 and abs(g[3] - e[3]) < 0.02


def test_events_attribution_single_exchange_windows(spark, sf_dir):
    """All window signals must share the one user-hash exchange; the
    per-channel joins are broadcast-sized."""
    from etl_data_pipeline_spark.functions.caching import release_tracked
    from etl_data_pipeline_spark.operators.analytics import events_attribution
    from etl_data_pipeline_spark.plans import exchange_count

    # a prior test's persisted relation would splice InMemoryTableScan
    # sections (with their own printed exchanges) into this plan text
    spark.catalog.clearCache()
    release_tracked(spark)
    plan = _plan(events_attribution(spark, sf_dir))
    assert "CartesianProduct" not in plan
    # 1 user exchange + the three tiny per-channel aggregates
    assert exchange_count(plan) <= 5, plan


# -------------------------------------------------------------- psi drift


def test_profile_drift_psi_matches_python(spark, sf_dir):
    from etl_data_pipeline_spark.operators.analytics import (
        PSI_PRICE_BINS,
        PSI_SPLIT_DATE,
        profile_drift_psi,
    )

    got = {
        r.column_name: (r.n_bins, r.psi, r.drifted)
        for r in profile_drift_psi(spark, sf_dir).collect()
    }
    orders = load_table(spark, sf_dir, "orders").collect()
    import datetime

    split = datetime.datetime.fromisoformat(PSI_SPLIT_DATE)

    def psi(pairs):
        bins = {}
        for ref, b in pairs:
            c = bins.setdefault(b, [0, 0])
            c[0 if ref else 1] += 1
        n_ref = sum(c[0] for c in bins.values())
        n_cur = sum(c[1] for c in bins.values())
        nb = len(bins)
        s = 0.0
        for c_ref, c_cur in bins.values():
            p = (c_ref + 1) / (n_ref + nb)
            q = (c_cur + 1) / (n_cur + nb)
            s += (p - q) * math.log(p / q)
        return nb, math.floor(s * 1e6 + 0.5) / 1e6

    lo = min(r.o_totalprice for r in orders)
    hi = max(r.o_totalprice for r in orders)
    w = (hi - lo) / PSI_PRICE_BINS
    price_pairs = [
        (r.o_orderdate < split,
         min(math.floor((r.o_totalprice - lo) / w), PSI_PRICE_BINS - 1))
        for r in orders
    ]
    prio_pairs = [(r.o_orderdate < split, r.o_orderpriority) for r in orders]
    for col, pairs in [("o_totalprice", price_pairs), ("o_orderpriority", prio_pairs)]:
        nb, s = psi(pairs)
        assert got[col][0] == nb
        assert abs(got[col][1] - s) < 2e-6
        assert got[col][2] == (1 if got[col][1] >= 0.1 else 0)


# ---------------------------------------------------------------- ab test


def test_events_ab_test_matches_python(spark, sf_dir):
    import hashlib

    from etl_data_pipeline_spark.operators.analytics import (
        AB_CONV_MIN_PURCHASES,
        AB_SALT,
        AB_Z_CRITICAL,
        events_ab_test,
    )

    r = events_ab_test(spark, sf_dir).first()
    ev = load_table(spark, sf_dir, "events").select("user_id", "event_type").collect()
    purchases = {}
    users = set()
    for e in ev:
        users.add(e.user_id)
        if e.event_type == "purchase":
            purchases[e.user_id] = purchases.get(e.user_id, 0) + 1
    n = {False: 0, True: 0}
    x = {False: 0, True: 0}
    for u in users:
        t = int(hashlib.md5(f"{u}{AB_SALT}".encode()).hexdigest()[:15], 16) % 2 == 1
        n[t] += 1
        x[t] += 1 if purchases.get(u, 0) >= AB_CONV_MIN_PURCHASES else 0
    assert (r.n_control, r.n_treatment) == (n[False], n[True])
    assert (r.conv_control, r.conv_treatment) == (x[False], x[True])
    p_c, p_t = x[False] / n[False], x[True] / n[True]
    pool = (x[False] + x[True]) / (n[False] + n[True])
    d2 = pool * (1 - pool) * (1 / n[False] + 1 / n[True])
    assert 0 < pool < 1  # the conversion bar must actually split users
    z = (p_t - p_c) / math.sqrt(d2)
    assert abs(r.z_score - z) < 2e-6
    assert r.significant == (1 if abs(z) >= AB_Z_CRITICAL else 0)
    # variants roughly balanced: a broken hash assignment shows up here
    assert abs(n[False] - n[True]) < 0.3 * (n[False] + n[True])


# --------------------------------------------------------------- bpe pairs


def test_text_bpe_pairs_matches_python(spark, sf_dir):
    from etl_data_pipeline_spark.llm.text_analysis import (
        BPE_TOP_K,
        text_bpe_pairs,
    )

    got = [
        (r.merge_rank, r.left_sym, r.right_sym, r.pair_count)
        for r in text_bpe_pairs(spark, sf_dir).collect()
    ]
    docs = load_table(spark, sf_dir, "documents").select("text").collect()
    wc = {}
    for r in docs:
        for w in r.text.split(" "):
            if len(w) >= 2:
                wc[w] = wc.get(w, 0) + 1
    pc = {}
    for w, n in wc.items():
        for i in range(len(w) - 1):
            pc[(w[i], w[i + 1])] = pc.get((w[i], w[i + 1]), 0) + n
    top = sorted(pc.items(), key=lambda kv: (-kv[1], kv[0]))[:BPE_TOP_K]
    expected = [(i + 1, a, b, c) for i, ((a, b), c) in enumerate(top)]
    assert sorted(got) == expected


def test_text_bpe_pairs_plan_preaggregates_vocab(spark, sf_dir):
    """The pair explosion must run over the distinct-word relation:
    exactly one corpus scan, and a word-count aggregate BELOW the
    pair aggregate (two exchanges + the 1-partition rank window)."""
    from etl_data_pipeline_spark.llm.text_analysis import text_bpe_pairs
    from etl_data_pipeline_spark.plans import exchange_count, scan_count

    plan = _plan(text_bpe_pairs(spark, sf_dir))
    assert scan_count(plan) == 1
    assert exchange_count(plan) <= 3, plan
    assert "CartesianProduct" not in plan


def test_text_bpe_round2_matches_python(spark, sf_dir):
    """Round 2 must equal a Python replay: apply round 1's argmax
    merge greedily leftmost-non-overlapping, recount, rank."""
    from etl_data_pipeline_spark.llm.text_analysis import (
        BPE_TOP_K,
        text_bpe_round2,
    )

    got = [
        (r.merge_rank, r.left_sym, r.right_sym, r.pair_count)
        for r in text_bpe_round2(spark, sf_dir).collect()
    ]
    docs = load_table(spark, sf_dir, "documents").select("text").collect()
    wc = {}
    for r in docs:
        for w in r.text.split(" "):
            if len(w) >= 2:
                wc[w] = wc.get(w, 0) + 1

    def counts(vocab):
        pc = {}
        for w, n in vocab.items():
            for i in range(len(w) - 1):
                pc[(w[i], w[i + 1])] = pc.get((w[i], w[i + 1]), 0) + n
        return pc

    (ml, mr), _ = min(counts(wc).items(), key=lambda kv: (-kv[1], kv[0]))
    M = "\x01"
    v2 = {}
    for w, n in wc.items():
        w2 = w.replace(ml + mr, M)
        if len(w2) >= 2:
            v2[w2] = v2.get(w2, 0) + n
    disp = lambda s: s.replace(M, f"<{ml}{mr}>")
    pc2 = {}
    for (a, b), c in counts(v2).items():
        key = (disp(a), disp(b))
        pc2[key] = pc2.get(key, 0) + c
    top = sorted(pc2.items(), key=lambda kv: (-kv[1], kv[0]))[:BPE_TOP_K]
    expected = [(i + 1, a, b, c) for i, ((a, b), c) in enumerate(top)]
    assert sorted(got) == expected
    # the merged symbol must actually appear in round 2's top pairs
    assert any(f"<{ml}{mr}>" in (a, b) for _, a, b, _ in got)


# ---------------------------------------------------------- concurrency


def test_events_peak_concurrency_matches_bruteforce(spark, sf_dir):
    """Daily peaks must equal a brute-force instant-count: for each
    day, the max over all session start instants of how many clipped
    sessions cover that instant (closed intervals — the sweep's
    +1-before-−1 tie rule)."""
    from etl_data_pipeline_spark.functions.sessions import SESSION_GAP_US
    from etl_data_pipeline_spark.operators.analytics import (
        DAY_US,
        events_peak_concurrency,
    )

    got = {
        r.day: (r.peak_concurrency, r.n_session_slices)
        for r in events_peak_concurrency(spark, sf_dir).collect()
    }
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id"
    ).collect()
    by_user = {}
    for r in sorted(ev, key=lambda r: (r.user_id, r.ts, r.event_id)):
        by_user.setdefault(r.user_id, []).append(round(r.ts.timestamp() * 1e6))
    slices = {}  # day_start -> list[(c_start, c_end)]
    for uss in by_user.values():
        s, e = None, None
        spans = []
        for us in uss:
            if e is None or us - e > SESSION_GAP_US:
                if e is not None:
                    spans.append((s, e))
                s = us
            e = us
        spans.append((s, e))
        for a, b in spans:
            for d in range(a // DAY_US, b // DAY_US + 1):
                slices.setdefault(d * DAY_US, []).append(
                    (max(a, d * DAY_US), min(b, (d + 1) * DAY_US - 1))
                )
        del spans
    import datetime

    expected = {}
    for day_start, ivs in slices.items():
        peak = max(
            sum(1 for a2, b2 in ivs if a2 <= a <= b2) for a, _ in ivs
        )
        day = datetime.datetime.fromtimestamp(
            day_start / 1e6, datetime.timezone.utc
        ).strftime("%Y-%m-%d")
        expected[day] = (peak, len(ivs))
    assert got == expected
