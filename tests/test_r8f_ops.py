"""Plain-Python reference pins for the r8 continuation operator tier.

Same discipline as test_r8e_ops.py: each test recomputes the operator's
result from raw parquet with math/Counter code that shares NOTHING with
either engine, and requires exact equality (after the operators' own
IEEE rounding).
"""

from __future__ import annotations

import math
from collections import Counter

import duckdb

from conftest import SF_SMALL

from shelf_spark.queries import QUERIES


def _round_ieee_py(x: float, nd: int = 6) -> float:
    scale = float(10**nd)
    return math.floor(x * scale + 0.5) / scale


def _duck(sf_dir: str, sql: str):
    con = duckdb.connect()
    for t in ("lineitem", "orders", "events", "documents"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con.execute(sql).fetchall()


def test_kendall_tau_matches_python_reference(spark):
    rows = _duck(SF_SMALL, "SELECT l_quantity, l_extendedprice FROM lineitem")
    pts = [(int(math.floor(q + 0.5)), int(math.floor(p / 1000))) for q, p in rows]
    cells = Counter(pts)
    items = list(cells.items())
    conc = disc = 0
    for i, ((x1, y1), n1) in enumerate(items):
        for (x2, y2), n2 in items[i + 1 :]:
            if x1 == x2:
                continue
            # orient so x increases
            lo_y, hi_y = (y1, y2) if x1 < x2 else (y2, y1)
            if lo_y < hi_y:
                conc += n1 * n2
            elif lo_y > hi_y:
                disc += n1 * n2
    n = len(pts)
    tx = Counter(x for x, _ in pts)
    ty = Counter(y for _, y in pts)
    u1 = sum(t * (t - 1) for t in tx.values())
    u2 = sum(t * (t - 1) for t in ty.values())
    tau = 2.0 * (float(conc) - float(disc)) / math.sqrt(
        (float(n) * (float(n) - 1.0) - float(u1))
        * (float(n) * (float(n) - 1.0) - float(u2))
    )
    got = QUERIES["stats_kendall_tau"](spark, SF_SMALL).collect()[0]
    assert got.n == n
    assert int(got.conc) == conc
    assert int(got.disc) == disc
    assert got.tau_b == _round_ieee_py(tau)


def test_mann_kendall_matches_python_reference(spark):
    rows = _duck(
        SF_SMALL,
        "SELECT o_orderdate, CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)"
        " FROM orders",
    )
    daily: Counter = Counter()
    for d, cents in rows:
        daily[d] += cents
    series = [rev for _, rev in sorted(daily.items())]
    n = len(series)
    s = 0
    for i in range(n):
        for j in range(i + 1, n):
            if series[j] > series[i]:
                s += 1
            elif series[j] < series[i]:
                s -= 1
    ties = Counter(series)
    u = sum(t * (t - 1) * (2 * t + 5) for t in ties.values() if t > 1)
    var18 = (float(n) * (float(n) - 1.0) * (2.0 * float(n) + 5.0) - float(u)) / 18.0
    if s > 0:
        z = (float(s) - 1.0) / math.sqrt(var18)
    elif s < 0:
        z = (float(s) + 1.0) / math.sqrt(var18)
    else:
        z = 0.0
    got = QUERIES["ts_mann_kendall"](spark, SF_SMALL).collect()[0]
    assert got.n == n
    assert got.s_stat == s
    assert got.z_stat == _round_ieee_py(z)


def test_acf_matches_python_reference(spark):
    rows = _duck(
        SF_SMALL,
        "SELECT o_orderdate, CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)"
        " FROM orders",
    )
    daily: Counter = Counter()
    for d, cents in rows:
        daily[d] += cents
    by_day = dict(daily)
    n = len(by_day)
    s = sum(by_day.values())
    q = sum(v * v for v in by_day.values())
    want = {}
    from datetime import timedelta

    for lag in (1, 2, 3, 7, 14):
        pk = hk = tk = n_terms = 0
        for d, v in by_day.items():
            d2 = d + timedelta(days=lag)
            if d2 in by_day:
                pk += v * by_day[d2]
                hk += v
                tk += by_day[d2]
                n_terms += 1
        num = (
            float(n) * float(n) * float(pk)
            - float(n) * float(s) * (float(hk) + float(tk))
            + (float(n) - float(lag)) * float(s) * float(s)
        )
        den = float(n) * float(n) * float(q) - float(n) * float(s) * float(s)
        want[lag] = (n_terms, _round_ieee_py(num / den))
    got = {
        r.lag: (r.n_terms, r.acf)
        for r in QUERIES["ts_acf"](spark, SF_SMALL).collect()
    }
    assert got == want


def test_concurrent_sessions_matches_python_reference(spark):
    rows = _duck(
        SF_SMALL,
        "SELECT user_id, ts, event_id FROM events ORDER BY user_id, ts, event_id",
    )
    from datetime import timedelta

    sessions = []
    cur_user, cur_start, cur_end = None, None, None
    for u, ts, _ in rows:
        if u != cur_user or (ts - cur_end) > timedelta(minutes=30):
            if cur_user is not None:
                sessions.append((cur_start, cur_end))
            cur_user, cur_start, cur_end = u, ts, ts
        else:
            cur_end = ts
    if cur_user is not None:
        sessions.append((cur_start, cur_end))

    bounds: Counter = Counter()
    for s, e in sessions:
        bounds[(s, 0)] += 1
        bounds[(e, 1)] -= 1
    conc = 0
    want: dict = {}
    starts: Counter = Counter()
    for (ts, k), d in sorted(bounds.items()):
        conc += d
        day = ts.date()
        want[day] = max(want.get(day, 0), conc)
        if k == 0:
            starts[day] += d
    got = {
        r.day: (r.peak_concurrent, r.n_session_starts)
        for r in QUERIES["events_concurrent_sessions"](spark, SF_SMALL).collect()
    }
    assert got == {d: (p, starts[d]) for d, p in want.items()}


def test_union_by_name_matches_python_reference(spark):
    rows = _duck(
        SF_SMALL,
        "SELECT o_orderkey, o_custkey, o_totalprice, o_orderpriority FROM orders",
    )
    n_rows = len(rows)
    n_with_priority = sum(1 for k, _, _, _ in rows if k % 2 == 1)
    custkeys = {c for _, c, _, _ in rows}
    cents = sum(int(math.floor(p * 100 + 0.5)) for _, _, p, _ in rows)
    got = QUERIES["set_union_by_name"](spark, SF_SMALL).collect()[0]
    assert got.n_rows == n_rows
    assert got.n_with_priority == n_with_priority
    assert got.n_null_padded == n_rows - n_with_priority
    assert got.n_custkeys == len(custkeys)
    assert got.total_price == cents / 100.0


def test_phrase_search_matches_python_reference(spark):
    rows = _duck(SF_SMALL, "SELECT doc_id, text FROM documents")
    want = {}
    for doc_id, text in rows:
        toks = text.split(" ")
        hits = [
            i + 1
            for i in range(len(toks) - 1)
            if toks[i] == "order" and toks[i + 1] == "fast"
        ]
        if hits:
            want[doc_id] = (len(hits), hits[0])
    got = {
        r.doc_id: (r.n_occurrences, r.first_pos)
        for r in QUERIES["text_phrase_search"](spark, SF_SMALL).collect()
    }
    assert got == want
    assert want  # non-vacuity: the phrase must exist at sf0.001


def test_image_dhash_matches_python_reference(spark):
    rows = _duck(SF_SMALL, "SELECT doc_id FROM documents WHERE doc_id % 2 = 1")
    want = {}
    for (doc_id,) in rows:
        w, h = doc_id % 31 + 1, doc_id % 17 + 1
        gw, gh = min(w, 9), min(h, 8)
        s: Counter = Counter()
        n: Counter = Counter()
        for y in range(h):
            for x in range(w):
                b = (y * gh // h, x * gw // w)
                s[b] += (doc_id + x + y) % 256
                n[b] += 1
        bits = "".join(
            "1" if s[(i, j + 1)] * n[(i, j)] > s[(i, j)] * n[(i, j + 1)] else "0"
            for i in range(gh)
            for j in range(gw - 1)
        )
        want[doc_id] = (w, h, bits)
    got = {
        r.doc_id: (r.width, r.height, r.dhash)
        for r in QUERIES["multimodal_image_dhash"](spark, SF_SMALL).collect()
    }
    assert got == want
    assert any(len(b) == 0 for _, _, b in want.values())


def test_mrr_matches_python_reference(spark):
    rows = _duck(SF_SMALL, "SELECT doc_id, source, n_chars, lang FROM documents")
    by_source: dict = {}
    for doc_id, source, n_chars, lang in rows:
        by_source.setdefault(source, []).append((-n_chars, doc_id, lang == "en"))
    total_rr = 0  # in 1e-9 units, exact
    n_with_hit = 0
    for docs in by_source.values():
        docs.sort()
        first = next((i + 1 for i, (_, _, rel) in enumerate(docs) if rel), None)
        if first is not None:
            n_with_hit += 1
            total_rr += int(math.floor(1.0 / first * 1e9 + 0.5))
    n_queries = len(by_source)
    got = QUERIES["ml_mrr"](spark, SF_SMALL).collect()[0]
    assert got.n_queries == n_queries
    assert got.n_with_hit == n_with_hit
    assert got.mrr == _round_ieee_py((total_rr / 1e9) / n_queries)


def test_best_f1_threshold_matches_python_reference(spark):
    rows = _duck(SF_SMALL, "SELECT n_chars, lang = 'en' FROM documents")
    from collections import defaultdict

    dom: dict = defaultdict(lambda: [0, 0])
    for score, y in rows:
        dom[score][0] += 1
        dom[score][1] += 1 if y else 0
    p = sum(np for _, np in dom.values())
    t = len(rows)
    best = None
    nt_upto = np_upto = 0
    for score in sorted(dom):
        nt, np_ = dom[score]
        nt_upto += nt
        np_upto += np_
        tp = p - np_upto + np_
        fp = (t - nt_upto + nt) - tp
        fn = p - tp
        f1 = _round_ieee_py(2.0 * tp / (2.0 * tp + fp + fn))
        key = (-f1, score)
        if best is None or key < best[0]:
            best = (key, (score, tp, fp, fn, f1))
    got = QUERIES["ml_best_f1_threshold"](spark, SF_SMALL).collect()[0]
    score, tp, fp, fn, f1 = best[1]
    assert (got.threshold, got.tp, got.fp, got.fn, got.f1) == (score, tp, fp, fn, f1)
    assert got.precision_ == _round_ieee_py(tp / (tp + fp))
    assert got.recall_ == _round_ieee_py(tp / (tp + fn))


def test_freshness_lag_matches_python_reference(spark):
    rows = _duck(SF_SMALL, "SELECT event_type, ts FROM events")
    latest: dict = {}
    counts: Counter = Counter()
    for et, ts in rows:
        counts[et] += 1
        if et not in latest or ts > latest[et]:
            latest[et] = ts
    global_ts = max(latest.values())
    import math as _m

    want = {
        et: (
            counts[et],
            latest[et],
            int(_m.floor(global_ts.timestamp())) - int(_m.floor(latest[et].timestamp())),
        )
        for et in latest
    }
    got = {
        r.event_type: (r.n_rows, r.latest_ts, r.lag_seconds)
        for r in QUERIES["dq_freshness_lag"](spark, SF_SMALL).collect()
    }
    assert got == want


def test_modularity_matches_python_reference(spark):
    baskets = _duck(
        SF_SMALL,
        "SELECT DISTINCT l_orderkey, l_partkey FROM lineitem",
    )
    c2 = duckdb.connect()
    c2.execute(f"CREATE VIEW part AS SELECT * FROM '{SF_SMALL}/part.parquet'")
    brands = dict(c2.execute("SELECT p_partkey, p_brand FROM part").fetchall())
    by_order: dict = {}
    for o, pk in baskets:
        by_order.setdefault(o, set()).add(pk)
    und = set()
    for parts in by_order.values():
        ps = sorted(parts)
        for i in range(len(ps)):
            for j in range(i + 1, len(ps)):
                und.add((ps[i], ps[j]))
    m = len(und)
    a_in = sum(1 for p1, p2 in und if brands[p1] == brands[p2])
    degs: Counter = Counter()
    for p1, p2 in und:
        degs[brands[p1]] += 1
        degs[brands[p2]] += 1
    b = sum(d * d for d in degs.values())
    q = float(a_in) / float(m) - float(b) / (4.0 * float(m) * float(m))
    got = QUERIES["graph_modularity"](spark, SF_SMALL).collect()[0]
    assert got.m == m
    assert got.n_communities == len(degs)
    assert got.a_in == a_in
    assert got.modularity == _round_ieee_py(q)


def test_cdc_diff_matches_python_reference(spark):
    rows = _duck(SF_SMALL, "SELECT o_orderkey, o_totalprice FROM orders")
    old = {
        k: int(math.floor(p * 100 + 0.5)) for k, p in rows if k % 4 != 1
    }
    new = {
        k: int(math.floor(p * 100 + 0.5)) + (100 if k % 4 == 3 else 0)
        for k, p in rows
        if k % 4 != 2
    }
    want = {}
    for k in set(old) | set(new):
        if k not in old:
            want[k] = ("insert", None, new[k] / 100.0)
        elif k not in new:
            want[k] = ("delete", old[k] / 100.0, None)
        elif old[k] != new[k]:
            want[k] = ("update", old[k] / 100.0, new[k] / 100.0)
    got = {
        r.o_orderkey: (r.op, r.old_price, r.new_price)
        for r in QUERIES["cdc_diff_snapshots"](spark, SF_SMALL).collect()
    }
    assert got == want
    ops = Counter(op for op, _, _ in want.values())
    assert ops["insert"] and ops["delete"] and ops["update"]  # non-vacuous


def test_fairness_parity_matches_python_reference(spark):
    rows = _duck(SF_SMALL, "SELECT source, n_chars FROM documents")
    per: dict = {}
    for source, n_chars in rows:
        n, p = per.get(source, (0, 0))
        per[source] = (n + 1, p + (1 if n_chars >= 300 else 0))
    gn = sum(n for n, _ in per.values())
    gp = sum(p for _, p in per.values())
    got = {
        r.source: (r.n, r.n_pos, r.pos_rate, r.di_ratio, r.flagged_four_fifths)
        for r in QUERIES["ml_fairness_parity"](spark, SF_SMALL).collect()
    }
    assert set(got) == set(per)
    for source, (n, p) in per.items():
        rate = _round_ieee_py(p / n)
        di = _round_ieee_py((p / n) / (gp / gn))
        flagged = p * 10 * gn < gp * 8 * n
        assert got[source] == (n, p, rate, di, flagged), source


def test_kneser_ney_matches_python_reference(spark):
    rows = _duck(SF_SMALL, "SELECT doc_id, text FROM documents")
    docs = {d: t.split(" ") for d, t in rows}
    big: Counter = Counter()
    for toks in docs.values():
        for i in range(len(toks) - 1):
            big[(toks[i], toks[i + 1])] += 1
    c1: Counter = Counter()
    nf: Counter = Counter()
    nb: Counter = Counter()
    for (w1, w2), c in big.items():
        c1[w1] += c
        nf[w1] += 1
        nb[w2] += 1
    b = len(big)
    lp = {}
    for (w1, w2), c in big.items():
        disc = c - 0.75 if c - 0.75 > 0.0 else 0.0
        p = disc / c1[w1] + (0.75 * nf[w1] / c1[w1]) * (nb[w2] / b)
        lp[(w1, w2)] = int(math.floor(_round_ieee_py(math.log(p)) * 1e6 + 0.5))
    perdoc = []
    for d, toks in docs.items():
        if len(toks) < 2:
            continue
        micros = sum(lp[(toks[i], toks[i + 1])] for i in range(len(toks) - 1))
        nbg = len(toks) - 1
        perdoc.append((d, nbg, _round_ieee_py(-(micros / 1e6) / nbg)))
    want = sorted(perdoc, key=lambda r: (-r[2], r[0]))[:20]
    got = [
        (r.doc_id, r.n_bigrams, r.xent)
        for r in QUERIES["text_kneser_ney_perplexity"](spark, SF_SMALL).collect()
    ]
    assert got == want


def test_audio_spectrogram_matches_python_reference(spark):
    from shelf_spark.queries.multimodal import _TWIDDLES, _DFT_BANDS, _DFT_N

    rows = _duck(SF_SMALL, "SELECT doc_id FROM documents WHERE doc_id % 2 = 0")
    tw = {(k, j): (c, s) for k, j, c, s in _TWIDDLES}
    want = {}
    for (doc_id,) in rows:
        n = 50 + doc_id % 100
        x = [(doc_id * 31 + i * 17) % 2000 - 1000 for i in range(n)]
        for k in _DFT_BANDS:
            powers = []
            for f in range(n // _DFT_N):
                re = sum(
                    x[f * _DFT_N + j] * tw[(k, j)][0] for j in range(_DFT_N)
                )
                im = sum(
                    x[f * _DFT_N + j] * tw[(k, j)][1] for j in range(_DFT_N)
                )
                powers.append(
                    _round_ieee_py((re / 1e9) * (re / 1e9) + (im / 1e9) * (im / 1e9))
                )
            micros = [int(math.floor(p * 1e6 + 0.5)) for p in powers]
            peak_i = max(range(len(micros)), key=lambda i: (micros[i], -i))
            want[(doc_id, k)] = (
                len(powers),
                sum(micros) / 1e6,
                peak_i,
                micros[peak_i] / 1e6,
            )
    got = {
        (r.doc_id, r.band): (r.n_frames, r.power_total, r.peak_frame, r.peak_power)
        for r in QUERIES["multimodal_audio_spectrogram"](spark, SF_SMALL).collect()
    }
    assert got == want


def test_merge_schema_matches_python_reference(spark):
    rows = _duck(
        SF_SMALL,
        "SELECT o_orderkey, o_totalprice, o_orderpriority FROM orders",
    )
    agg: dict = {}
    for k, p, pri in rows:
        key = pri if k % 2 == 1 else None
        n, cents = agg.get(key, (0, 0))
        agg[key] = (n + 1, cents + int(math.floor(p * 100 + 0.5)))
    got = {
        r.o_orderpriority: (r.n_orders, r.total_price)
        for r in QUERIES["scan_merge_schema"](spark, SF_SMALL).collect()
    }
    assert got == {k: (n, c / 100.0) for k, (n, c) in agg.items()}
    assert None in got and len(got) == 6  # null-padded old generation present


def test_stream_freshness_matches_batch(spark):
    # The streaming op's own oracle is the batch SQL; this pins the
    # Spark streaming result against the BATCH Spark operator too
    # (mergeable-max equivalence across the micro-batch split).
    batch = {
        r.event_type: (r.n_rows, r.latest_ts, r.lag_seconds, r.is_stale)
        for r in QUERIES["dq_freshness_lag"](spark, SF_SMALL).collect()
    }
    stream = {
        r.event_type: (r.n_rows, r.latest_ts, r.lag_seconds, r.is_stale)
        for r in QUERIES["stream_freshness_lag"](spark, SF_SMALL).collect()
    }
    assert stream == batch


def test_ljung_box_matches_python_reference(spark):
    rows = _duck(
        SF_SMALL,
        "SELECT o_orderdate, CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)"
        " FROM orders",
    )
    daily: Counter = Counter()
    for d, cents in rows:
        daily[d] += cents
    by_day = dict(daily)
    n = len(by_day)
    s = sum(by_day.values())
    q = sum(v * v for v in by_day.values())
    from datetime import timedelta

    nanos = 0
    for lag in range(1, 8):
        pk = hk = tk = 0
        for d, v in by_day.items():
            d2 = d + timedelta(days=lag)
            if d2 in by_day:
                pk += v * by_day[d2]
                hk += v
                tk += by_day[d2]
        num = (
            float(n) * float(n) * float(pk)
            - float(n) * float(s) * (float(hk) + float(tk))
            + (float(n) - float(lag)) * float(s) * float(s)
        )
        den = float(n) * float(n) * float(q) - float(n) * float(s) * float(s)
        r = num / den
        term = _round_ieee_py(r * r / (float(n) - float(lag)), 9)
        nanos += int(math.floor(term * 1e9 + 0.5))
    want = _round_ieee_py(float(n) * (float(n) + 2.0) * (nanos / 1e9))
    got = QUERIES["ts_ljung_box"](spark, SF_SMALL).collect()[0]
    assert got.n_days == n
    assert got.k_lags == 7
    assert got.q_stat == want


def test_dim_variance_matches_python_reference(spark):
    c2 = duckdb.connect()
    c2.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM '{SF_SMALL}/embeddings.parquet'"
    )
    rows = c2.execute("SELECT embedding FROM embeddings").fetchall()
    from collections import defaultdict

    mom: dict = defaultdict(lambda: [0, 0, 0])  # n, sx_grid, sxx_grid (1e-8 ints)
    for (vec,) in rows:
        for dim, xf in enumerate(vec):
            x = float(xf)
            m = mom[dim]
            m[0] += 1
            m[1] += int(math.floor(x * 1e8 + 0.5))
            m[2] += int(math.floor(x * x * 1e8 + 0.5))
    want = {}
    for dim, (n, sxg, sxxg) in mom.items():
        sx, sxx = sxg / 1e8, sxxg / 1e8
        var = _round_ieee_py((n * sxx - sx * sx) / (float(n) * float(n)))
        want[dim] = (n, _round_ieee_py(sx / n), var, var < 0.0001)
    got = {
        r.dim: (r.n, r.mean_, r.variance, r.is_degenerate)
        for r in QUERIES["vectors_dim_variance"](spark, SF_SMALL).collect()
    }
    assert got == want


def test_golden_record_matches_python_reference(spark):
    c2 = duckdb.connect()
    c2.execute(
        f"CREATE VIEW customer AS SELECT * FROM '{SF_SMALL}/customer.parquet'"
    )
    rows = c2.execute(
        "SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment"
        " FROM customer"
    ).fetchall()
    clusters: dict = {}
    for k, name, nat, bal, seg in rows:
        band = int(math.floor(bal / 1000))
        clusters.setdefault((nat, band), []).append((k, name, bal, seg))
    want = {}
    for (nat, band), mem in clusters.items():
        if len(mem) < 2:
            continue
        master = min(k for k, _, _, _ in mem)
        latest = max(mem, key=lambda m: m[0])[1]
        best = round(max(b for _, _, b, _ in mem), 2)
        segc = Counter(s for _, _, _, s in mem)
        seg = min(segc.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        want[(nat, band)] = (len(mem), master, latest, best, seg)
    got = {
        (r.nationkey, r.bal_band): (
            r.n_dupes, r.master_id, r.latest_name, r.best_acctbal, r.seg_mode
        )
        for r in QUERIES["er_golden_record"](spark, SF_SMALL).collect()
    }
    assert got == want
    assert want  # non-vacuity


def test_referential_integrity_matches_python_reference(spark):
    c2 = duckdb.connect()
    for t in ("customer", "orders", "lineitem"):
        c2.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_SMALL}/{t}.parquet'")
    custs = {
        k for (k,) in c2.execute("SELECT c_custkey FROM customer").fetchall()
        if k % 5 != 0
    }
    orders = c2.execute("SELECT o_orderkey, o_custkey FROM orders").fetchall()
    okeys = {k for k, _ in orders}
    lkeys = [k for (k,) in c2.execute("SELECT l_orderkey FROM lineitem").fetchall()]
    o_orph = sum(1 for _, c in orders if c not in custs)
    l_orph = sum(1 for k in lkeys if k not in okeys)
    got = {
        r.relation: (r.n_child, r.n_orphans, r.orphan_rate, r.passed)
        for r in QUERIES["dq_referential_integrity"](spark, SF_SMALL).collect()
    }
    assert got["orders->customer_degraded"] == (
        len(orders), o_orph, _round_ieee_py(o_orph / len(orders)), o_orph == 0
    )
    assert got["lineitem->orders"] == (
        len(lkeys), l_orph, _round_ieee_py(l_orph / len(lkeys)), True
    )
    assert o_orph > 0  # the degraded relation must actually detect orphans


def test_median_ci_matches_python_reference(spark):
    rows = _duck(SF_SMALL, "SELECT l_extendedprice FROM lineitem")
    vals = sorted(int(math.floor(p * 100 + 0.5)) for (p,) in rows)
    n = len(vals)
    z = 1.959964
    lo = max(int(math.floor((n - z * math.sqrt(n)) / 2.0)), 1)
    hi = min(int(math.ceil((n + z * math.sqrt(n)) / 2.0 + 1.0)), n)
    med = int((n + 1) / 2)
    got = QUERIES["stats_median_ci_exact"](spark, SF_SMALL).collect()[0]
    assert (got.n, got.lo_rank, got.hi_rank) == (n, lo, hi)
    assert got.ci_low == vals[lo - 1] / 100.0
    assert got.median_ == vals[med - 1] / 100.0
    assert got.ci_high == vals[hi - 1] / 100.0
    assert got.ci_low <= got.median_ <= got.ci_high


def test_rolling_origin_matches_python_reference(spark):
    rows = _duck(SF_SMALL, "SELECT ts FROM events")
    days = [int(math.floor(ts.timestamp())) // 86400 for (ts,) in rows]
    d0, d1 = min(days), max(days) + 1
    got = {
        r.fold: (r.test_start, r.test_end, r.n_train, r.n_test)
        for r in QUERIES["sample_rolling_origin_folds"](spark, SF_SMALL).collect()
    }
    for f in range(5):
        ts_ = d0 + ((f + 1) * (d1 - d0)) // 6
        te = d0 + ((f + 2) * (d1 - d0)) // 6
        n_train = sum(1 for d in days if d < ts_)
        n_test = sum(1 for d in days if ts_ <= d < te)
        assert got[f] == (ts_, te, n_train, n_test), f
        assert n_train and n_test  # every fold non-vacuous


def test_corpus_curation_e2e_matches_python_reference(spark):
    import hashlib

    rows = _duck(SF_SMALL, "SELECT doc_id, source, n_chars, text FROM documents")
    filtered = [
        (d, src, nc, t, len(t.split(" ")))
        for d, src, nc, t in rows
        if 100 <= nc <= 520 and len(t.split(" ")) >= 20
    ]
    seen_exact: dict = {}
    for d, src, nc, t, ntok in sorted(filtered):
        h = hashlib.sha256(t.encode()).hexdigest()
        if h not in seen_exact:
            seen_exact[h] = (d, src, nc, t, ntok)
    seen_near: dict = {}
    for d, src, nc, t, ntok in sorted(seen_exact.values()):
        fp = " ".join(t.split(" ")[:5])
        if fp not in seen_near:
            seen_near[fp] = (d, src, nc, ntok)
    agg: dict = {}
    for d, src, nc, ntok in seen_near.values():
        split = (
            "train"
            if hashlib.sha256(str(d).encode()).hexdigest()[:4] < "7fff"
            else "valid"
        )
        n, tok, chars = agg.get((split, src), (0, 0, 0))
        agg[(split, src)] = (n + 1, tok + ntok, chars + nc)
    got = {
        (r.split, r.source): (r.n_docs, r.total_tokens, r.avg_chars)
        for r in QUERIES["pipeline_corpus_curation_e2e"](spark, SF_SMALL).collect()
    }
    want = {
        k: (n, tok, round(chars / n, 6)) for k, (n, tok, chars) in agg.items()
    }
    assert got == want
    assert len(filtered) > len(seen_exact) or len(seen_exact) >= len(seen_near)


def test_orc_roundtrip_matches_python_reference(spark):
    rows = _duck(
        SF_SMALL,
        "SELECT l_returnflag, l_linestatus, l_extendedprice FROM lineitem",
    )
    agg: dict = {}
    for rf, ls, p in rows:
        n, cents = agg.get((rf, ls), (0, 0))
        agg[(rf, ls)] = (n + 1, cents + int(math.floor(p * 100 + 0.5)))
    got = {
        (r.l_returnflag, r.l_linestatus): (r.n_rows, r.total_price)
        for r in QUERIES["sink_orc_roundtrip"](spark, SF_SMALL).collect()
    }
    assert got == {k: (n, c / 100.0) for k, (n, c) in agg.items()}


def test_csv_malformed_matches_python_reference(spark):
    rows = _duck(SF_SMALL, "SELECT o_orderkey, o_totalprice FROM orders")
    n = len(rows)
    n_corrupt = sum(1 for k, _ in rows if k % 97 == 0)
    cents = sum(
        int(math.floor(p * 100 + 0.5)) for k, p in rows if k % 97 != 0
    )
    got = QUERIES["scan_csv_malformed"](spark, SF_SMALL).collect()[0]
    assert (got.n_rows, got.n_corrupt, got.n_good) == (n, n_corrupt, n - n_corrupt)
    assert got.total_good == cents / 100.0
    assert n_corrupt > 0  # the quarantine path is actually exercised


def test_tukey_hsd_matches_python_reference(spark):
    rows = _duck(SF_SMALL, "SELECT event_type, value FROM events")
    from collections import defaultdict

    g: dict = defaultdict(lambda: [0, 0, 0])  # n, s, q (cents)
    for grp, v in rows:
        c = int(math.floor(v * 100 + 0.5))
        g[grp][0] += 1
        g[grp][1] += c
        g[grp][2] += c * c
    n = sum(m[0] for m in g.values())
    q_tot = sum(m[2] for m in g.values())
    # The engines sum the per-group ratio in FIXED literal group order
    # (click, error, purchase, signup, view) — mirror that order.
    order = ("click", "error", "purchase", "signup", "view")
    ratio = 0.0
    for grp in order:
        m = g[grp]
        ratio += float(m[1]) * float(m[1]) / float(m[0])
    msw = (float(q_tot) - ratio) / (float(n) - 5.0)
    got = {
        (r.grp_a, r.grp_b): (r.mean_diff, r.q_stat, r.significant)
        for r in QUERIES["stats_tukey_hsd"](spark, SF_SMALL).collect()
    }
    import itertools

    for ga, gb in itertools.combinations(sorted(g), 2):
        na, sa = g[ga][0], g[ga][1]
        nb, sb = g[gb][0], g[gb][1]
        diff = float(sa) / na - float(sb) / nb
        qs = abs(diff) / math.sqrt((msw / 2.0) * (1.0 / na + 1.0 / nb))
        q6 = _round_ieee_py(qs)
        assert got[(ga, gb)] == (
            _round_ieee_py(diff / 100.0), q6, q6 > 3.858
        ), (ga, gb)


def test_power_analysis_matches_python_reference(spark):
    rows = _duck(
        SF_SMALL,
        "SELECT count(*), count(*) FILTER (WHERE event_type = 'purchase')"
        " FROM events",
    )
    n_events, n_purch = rows[0]
    p1 = n_purch / n_events
    p2 = p1 * 1.1
    za, zb = 1.959964, 0.841621
    n_arm = math.ceil(
        (za + zb) * (za + zb) * (p1 * (1 - p1) + p2 * (1 - p2))
        / ((p2 - p1) * (p2 - p1))
    )
    got = QUERIES["stats_power_analysis"](spark, SF_SMALL).collect()[0]
    assert (got.n_events, got.n_purch) == (n_events, n_purch)
    assert got.base_rate == _round_ieee_py(p1)
    assert got.target_rate == _round_ieee_py(p2)
    assert got.n_per_arm == n_arm


def test_holt_winters_matches_python_reference(spark):
    rows = _duck(
        SF_SMALL,
        "SELECT CAST(date_trunc('day', ts) AS DATE) AS day,"
        " CAST(sum(CAST(floor(value * 100.0 + 0.5) AS DECIMAL(18,0)))"
        "      AS DOUBLE) / 100.0 AS y"
        " FROM events WHERE event_type = 'purchase' GROUP BY 1 ORDER BY day",
    )
    ys = [y for _, y in rows]
    n = len(ys)
    assert n >= 15
    # mirror the engines' op order exactly (left-assoc sums, inlined l_new)
    l = (ys[0] + ys[1] + ys[2] + ys[3] + ys[4] + ys[5] + ys[6]) / 7.0
    m2 = (ys[7] + ys[8] + ys[9] + ys[10] + ys[11] + ys[12] + ys[13]) / 7.0
    t = (m2 - l) / 7.0
    s = [ys[k] - l for k in range(7)]
    for i in range(8, n + 1):  # 1-based positions 8..n
        y = ys[i - 1]
        j = (i - 1) % 7
        sold = s[j]
        lnew = 0.5 * (y - sold) + 0.5 * (l + t)
        tnew = 0.5 * (lnew - l) + 0.5 * t
        s[j] = 0.5 * (y - lnew) + 0.5 * sold
        l, t = lnew, tnew
    got = {
        r.h: (r.day, r.forecast)
        for r in QUERIES["ts_holt_winters"](spark, SF_SMALL).collect()
    }
    from datetime import timedelta

    last_day = rows[-1][0]
    for h in range(1, 8):
        want = _round_ieee_py(l + float(h) * t + s[(n + h - 1) % 7])
        assert got[h] == (last_day + timedelta(days=h), want), h


def test_novelty_matches_python_reference(spark):
    rows = _duck(SF_SMALL, "SELECT doc_id, text FROM documents")
    per_doc = {}
    for doc_id, text in rows:
        toks = text.split(" ")
        per_doc[doc_id] = {
            " ".join(toks[i : i + 3]) for i in range(len(toks) - 2)
        }
    first: dict = {}
    for doc_id in sorted(per_doc):
        for g in per_doc[doc_id]:
            if g not in first:
                first[g] = doc_id
    scored = []
    for doc_id, grams in per_doc.items():
        novel = sum(1 for g in grams if first[g] == doc_id)
        scored.append(
            (doc_id, len(grams), novel, _round_ieee_py(novel / len(grams)))
        )
    want = sorted(scored, key=lambda r: (r[3], r[0]))[:25]
    got = [
        (r.doc_id, r.n_grams, r.n_novel, r.novelty)
        for r in QUERIES["text_novelty_score"](spark, SF_SMALL).collect()
    ]
    assert got == want


def test_max_drawdown_matches_python_reference(spark):
    rows = _duck(
        SF_SMALL,
        "SELECT o_orderdate, CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)"
        " FROM orders",
    )
    daily: Counter = Counter()
    for d, cents in rows:
        daily[d] += cents
    c = 0
    peak = 0
    best = None  # (drawdown, trough_day)
    for day in sorted(daily):
        c += daily[day]
        peak = max(peak, c)
        dd = peak - c
        if best is None or dd > best[0]:
            best = (dd, day)
    got = QUERIES["ts_max_drawdown"](spark, SF_SMALL).collect()[0]
    assert got.trough_day == best[1]
    assert int(got.drawdown_cents) == best[0]
    assert got.drawdown == best[0] / 100.0


def test_er_e2e_matches_python_reference(spark):
    # sf0.01, not SF_SMALL: the 5.00-balance blocking rule needs ~60
    # customers per nation for transitive chains to exist (at sf0.001
    # the 150-customer corpus is too sparse for ANY pair, which would
    # make the closure check vacuous).
    sf = "/root/testdata/sf0.01"
    c2 = duckdb.connect()
    c2.execute(
        f"CREATE VIEW customer AS SELECT * FROM '{sf}/customer.parquet'"
    )
    rows = c2.execute(
        "SELECT c_custkey, c_nationkey, c_acctbal FROM customer"
    ).fetchall()
    recs = [(k, nat, int(math.floor(bal * 100 + 0.5))) for k, nat, bal in rows]
    by_nat: dict = {}
    for k, nat, bal in recs:
        by_nat.setdefault(nat, []).append((bal, k))
    parent: dict = {}

    def find(x):
        while parent.get(x, x) != x:
            parent[x] = parent.get(parent[x], parent[x])
            x = parent[x]
        return x

    def union(x, y):
        rx, ry = find(x), find(y)
        if rx != ry:
            parent[max(rx, ry)] = min(rx, ry)

    in_cluster = set()
    for nat, lst in by_nat.items():
        lst.sort()
        for i in range(len(lst) - 1):
            if lst[i + 1][0] - lst[i][0] <= 500:
                union(lst[i][1], lst[i + 1][1])
                in_cluster.add(lst[i][1])
                in_cluster.add(lst[i + 1][1])
    want = {}
    for nat, lst in by_nat.items():
        ks = [k for _, k in lst]
        inc = [k for k in ks if k in in_cluster]
        clusters = {find(k) for k in inc}
        want[nat] = (len(ks), len(inc), len(clusters), len(inc) - len(clusters))
    got = {
        r.nationkey: (r.n_records, r.n_in_clusters, r.n_clusters, r.n_merged_away)
        for r in QUERIES["pipeline_entity_resolution_e2e"](spark, sf).collect()
    }
    assert got == want
    # transitivity non-vacuous: some cluster merged MORE than one pair's
    # worth of records (inc - clusters >= 2 means a >=3-member chain)
    assert any(v[3] >= 2 for v in want.values())


def test_feature_store_e2e_matches_python_reference(spark):
    import hashlib

    rows = _duck(SF_SMALL, "SELECT user_id, event_type, ts, value FROM events")
    sec = [
        (u, et, int(math.floor(ts.timestamp())), int(math.floor(v * 100 + 0.5)))
        for u, et, ts, v in rows
    ]
    cutoff = max(s for _, _, s, _ in sec) - 7 * 86400
    feats: dict = {}
    for u, et, s, c in sec:
        if s > cutoff:
            continue
        f = feats.setdefault(u, [0, set(), 0, 0])  # n, days, last_s, cents
        f[0] += 1
        f[1].add(s // 86400)
        f[2] = max(f[2], s)
        if et == "purchase":
            f[3] += c
    labeled_users = {
        u for u, et, s, _ in sec if s > cutoff and et == "purchase"
    }
    agg: dict = {}
    for u, (n, days, last_s, cents) in feats.items():
        split = (
            "train"
            if hashlib.sha256(str(u).encode()).hexdigest()[:4] < "7fff"
            else "valid"
        )
        label = u in labeled_users
        a = agg.setdefault((split, label), [0, 0, 0, 0, 0])
        a[0] += 1
        a[1] += n
        a[2] += len(days)
        a[3] += cutoff - last_s
        a[4] += cents
    got = {
        (r.split, r.label): (
            r.n_users, r.avg_events, r.avg_active_days,
            r.avg_recency_s, r.total_purchases,
        )
        for r in QUERIES["pipeline_feature_store_e2e"](spark, SF_SMALL).collect()
    }
    want = {
        k: (
            n,
            round(ne / n, 6),
            round(nd / n, 6),
            round(rs / n, 6),
            c / 100.0,
        )
        for k, (n, ne, nd, rs, c) in agg.items()
    }
    assert got == want
    # non-vacuity: both labels and both splits appear (the tiny sf0.001
    # user base may legitimately miss one (split, label) combination)
    assert {k[0] for k in want} == {"train", "valid"}
    assert {k[1] for k in want} == {True, False}


def test_seasonal_anomaly_matches_python_reference(spark):
    rows = _duck(
        SF_SMALL,
        "SELECT o_orderdate, CAST(round(o_totalprice * 100) AS BIGINT)"
        " FROM orders",
    )
    daily: Counter = Counter()
    for d, c in rows:
        daily[d.date() if hasattr(d, "date") else d] += c
    days = sorted(daily)
    n = len(days)
    # centered 7-day trend (clipped at the ends), dow seasonal, residual
    dow_sum: Counter = Counter()
    dow_n: Counter = Counter()
    for d in days:
        k = (d.isoweekday() % 7)  # Sunday=0, matching dayofweek-1
        dow_sum[k] += daily[d]
        dow_n[k] += 1
    st = sum(daily.values())
    resid = {}
    for i, d in enumerate(days):
        lo, hi = max(0, i - 3), min(n - 1, i + 3)
        s7 = sum(daily[days[j]] for j in range(lo, hi + 1))
        c7 = hi - lo + 1
        k = (d.isoweekday() % 7)
        r = (
            daily[d] / 100.0
            - s7 / (100.0 * c7)
            - (dow_sum[k] / (100.0 * dow_n[k]) - st / (100.0 * n))
        )
        resid[d] = int(round(r * 1e6))
    vals = sorted(resid.values())
    med = vals[(n + 1) // 2 - 1]
    devs = sorted(abs(r - med) for r in resid.values())
    mad = devs[(n + 1) // 2 - 1]
    want = {
        d: (round(daily[d] / 100.0, 6), round(r / 1e6, 6), r > med)
        for d, r in resid.items()
        if abs(r - med) > 3 * mad
    }
    got = {
        r.day: (r.revenue, r.residual, r.is_high)
        for r in QUERIES["ts_anomaly_seasonal_mad"](spark, SF_SMALL).collect()
    }
    assert got == want
    assert want  # anomalies exist at sf0.001


def test_knn_curve_matches_python_reference(spark):
    baskets = _duck(SF_SMALL, "SELECT DISTINCT l_orderkey, l_partkey FROM lineitem")
    by_order: dict = {}
    for o, pk in baskets:
        by_order.setdefault(o, set()).add(pk)
    und = set()
    for parts in by_order.values():
        ps = sorted(parts)
        for i in range(len(ps)):
            for j in range(i + 1, len(ps)):
                und.add((ps[i], ps[j]))
    adj: dict = {}
    for a, b in und:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    deg = {n: len(v) for n, v in adj.items()}
    from collections import defaultdict

    per_k: dict = defaultdict(lambda: [0, 0])  # n_nodes, sum of nbr-deg sums
    for n, nbrs in adj.items():
        per_k[deg[n]][0] += 1
        per_k[deg[n]][1] += sum(deg[m] for m in nbrs)
    want = {
        k: (cnt, _round_ieee_py(tot / (float(k) * float(cnt))))
        for k, (cnt, tot) in per_k.items()
    }
    got = {
        r.degree: (r.n_nodes, r.knn)
        for r in QUERIES["graph_knn_degree_curve"](spark, SF_SMALL).collect()
    }
    assert got == want
