"""Plain-Python reference pins for the post-close r8 operator tier.

Each test recomputes an operator's full result from raw parquet with
hashlib / math / Counter — an implementation that shares NOTHING with
either engine — and requires exact equality. The DuckDB oracles already
cross-check Spark against a second engine; these pin both against a
third, hand-written formulation (the discipline test_queries.py applies
to window funnels, Markov attribution, BH, k-core, Naive Bayes…).
"""

from __future__ import annotations

import hashlib
import math
from collections import Counter

import duckdb
import pytest

from conftest import BOUNDS, SF_SMALL, runs_in_one_task

from shelf_spark.queries import QUERIES, sampling

_HEX = "0123456789abcdef"


def _round_ieee_py(x: float, nd: int = 6) -> float:
    scale = float(10**nd)
    return math.floor(x * scale + 0.5) / scale


def _duck(sf_dir: str, sql: str):
    con = duckdb.connect()
    for t in ("lineitem", "orders", "events", "documents", "customer", "supplier"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
    return con.execute(sql).fetchall()


def test_bpe_pair_counts_matches_python_reference(spark):
    texts = [r[0] for r in _duck(SF_SMALL, "SELECT text FROM documents")]
    vocab: Counter = Counter()
    for t in texts:
        vocab.update(t.split(" "))
    pairs: Counter = Counter()
    nwords: Counter = Counter()
    for w, wc in vocab.items():
        for i in range(len(w) - 1):
            pairs[w[i : i + 2]] += wc
        for p in {w[i : i + 2] for i in range(len(w) - 1)}:
            nwords[p] += 1
    want = sorted(
        ((p, c, nwords[p]) for p, c in pairs.items()),
        key=lambda x: (-x[1], x[0]),
    )[:20]
    got = [
        (r.pair, r.n_occurrences, r.n_vocab_words)
        for r in QUERIES["text_bpe_pair_counts"](spark, SF_SMALL).collect()
    ]
    assert got == want


def test_path_trigrams_matches_python_reference(spark):
    rows = _duck(
        SF_SMALL,
        "SELECT user_id, event_type, ts, event_id FROM events"
        " ORDER BY user_id, ts, event_id",
    )
    by_user: dict = {}
    for u, et, _, _ in rows:
        by_user.setdefault(u, []).append(et)
    occ: Counter = Counter()
    conv: Counter = Counter()
    for seq in by_user.values():
        for i in range(len(seq) - 2):
            path = f"{seq[i]}>{seq[i + 1]}>{seq[i + 2]}"
            occ[path] += 1
            if seq[i + 2] == "purchase":
                conv[path] += 1
    want = sorted(
        ((p, n, conv[p]) for p, n in occ.items()), key=lambda x: (-x[1], x[0])
    )[:15]
    got = [
        (r.path, r.n_occurrences, r.n_converting)
        for r in QUERIES["events_path_trigrams"](spark, SF_SMALL).collect()
    ]
    assert got == want


def test_dsir_matches_python_reference(spark):
    docs = _duck(SF_SMALL, "SELECT doc_id, source, text FROM documents")
    target = {"src0", "src1"}
    B, half_b = 256, 128.0

    def bucket(w: str) -> int:
        h = hashlib.sha256(w.encode()).hexdigest()
        return _HEX.index(h[0]) * 16 + _HEX.index(h[1])

    c_r: Counter = Counter()
    c_t: Counter = Counter()
    n_r = n_t = 0
    toks = []
    for doc_id, source, text in docs:
        ws = text.split(" ")
        toks.append((doc_id, source, ws))
        for w in ws:
            b = bucket(w)
            c_r[b] += 1
            n_r += 1
            if source in target:
                c_t[b] += 1
                n_t += 1
    lr = {
        b: _round_ieee_py(
            math.log(
                ((c_t.get(b, 0) + 0.5) / (n_t + half_b))
                / ((c_r[b] + 0.5) / (n_r + half_b))
            )
        )
        for b in c_r
    }
    scored = []
    for doc_id, source, ws in toks:
        if source in target:
            continue
        micro = sum(round(lr[bucket(w)] * 1e6) for w in ws)
        scored.append(
            (doc_id, source, len(ws), _round_ieee_py(micro / 1e6))
        )
    want = sorted(scored, key=lambda x: (-x[3], x[0]))[:25]
    got = [
        (r.doc_id, r.source, r.n_tokens, r.importance)
        for r in QUERIES["sample_importance_dsir"](spark, SF_SMALL).collect()
    ]
    assert got == want


def test_zorder_tile_invariant(spark):
    """The Morton property the docstring claims: every zbucket is a
    16×16 tile — both spans ≤ 15 — and the bucket counts partition the
    table exactly."""
    rows = QUERIES["sink_zorder_layout"](spark, SF_SMALL).collect()
    (n_orders,) = _duck(SF_SMALL, "SELECT count(*) FROM orders")[0]
    assert sum(r.n_rows for r in rows) == n_orders
    for r in rows:
        assert 0 <= r.x_max - r.x_min <= 15, r
        assert 0 <= r.y_max - r.y_min <= 15, r
        # bucket id is exactly the interleave of the two tile indices
        xt, yt = r.x_min // 16, r.y_min // 16
        zb = 0
        for b in range(4):
            zb |= ((xt >> b) & 1) << (2 * b + 1)
            zb |= ((yt >> b) & 1) << (2 * b)
        assert r.zbucket == zb, r


def test_poisson_bootstrap_matches_python_reference(spark):
    rows = _duck(
        SF_SMALL,
        "SELECT event_id, value FROM events WHERE event_type = 'purchase'",
    )
    cdf = (
        0.36787944117144233,
        0.7357588823428847,
        0.9196986029286058,
        0.9810118431238462,
        0.9963401531726563,
        0.9994058151824183,
    )

    def weight(event_id: int, b: int) -> int:
        h = hashlib.sha256(f"{event_id}:{b}".encode()).hexdigest()[:8]
        u = int(h, 16) / 4294967296.0
        for k, t in enumerate(cdf):
            if u < t:
                return k
        return 6

    means = []
    for b in range(64):
        cents = wsum = 0
        for event_id, value in rows:
            w = weight(event_id, b)
            cents += int(math.floor(value * 100.0 + 0.5)) * w
            wsum += w
        means.append((_round_ieee_py(float(cents) / 100.0 / wsum), b))
    means.sort()
    pt_cents = sum(int(math.floor(v * 100.0 + 0.5)) for _, v in rows)
    want = (
        len(rows),
        64,
        _round_ieee_py(float(pt_cents) / 100.0 / len(rows)),
        means[3][0],   # rank 4
        means[60][0],  # rank 61
    )
    (r,) = QUERIES["stats_poisson_bootstrap_ci"](spark, SF_SMALL).collect()
    assert (r.n_rows, r.n_replicates, r.point_mean, r.boot_lo, r.boot_hi) == want


def test_holt_forecast_matches_python_reference(spark):
    daily = _duck(
        SF_SMALL,
        "SELECT CAST(date_trunc('day', ts) AS DATE) AS day,"
        " sum(CAST(floor(value * 100.0 + 0.5) AS BIGINT)) AS cents"
        " FROM events WHERE event_type = 'purchase' GROUP BY 1 ORDER BY day",
    )
    ys = [float(c) / 100.0 for _, c in daily]
    assert len(ys) >= 2
    l, t = ys[0], ys[1] - ys[0]
    for y in ys[1:]:
        l_new = 0.5 * y + 0.5 * (l + t)
        t = 0.5 * ((0.5 * y + 0.5 * (l + t)) - l) + 0.5 * t
        l = l_new
    import datetime

    last_day = daily[-1][0]
    want = [
        (h, last_day + datetime.timedelta(days=h), _round_ieee_py(l + h * t))
        for h in range(1, 8)
    ]
    got = [
        (r.h, r.day, r.forecast)
        for r in QUERIES["ts_holt_linear_forecast"](spark, SF_SMALL).collect()
    ]
    assert got == want


def test_link_prediction_matches_python_reference(spark):
    pairs = _duck(
        SF_SMALL,
        """
        WITH baskets AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)
        SELECT a.l_partkey, b.l_partkey
        FROM baskets a JOIN baskets b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        """,
    )
    supp = {p for p, c in Counter(pairs).items() if c >= 3}
    nbrs: dict = {}
    for a, b in supp:
        nbrs.setdefault(a, set()).add(b)
        nbrs.setdefault(b, set()).add(a)
    cand: Counter = Counter()
    for hub, ns in nbrs.items():
        if len(ns) > 64:
            continue
        sn = sorted(ns)
        for i in range(len(sn)):
            for j in range(i + 1, len(sn)):
                cand[(sn[i], sn[j])] += 1
    scored = [
        (u, v, cn, _round_ieee_py(cn / (len(nbrs[u]) + len(nbrs[v]) - cn)))
        for (u, v), cn in cand.items()
        if (u, v) not in supp
    ]
    want = sorted(scored, key=lambda x: (-x[3], x[0], x[1]))[:20]
    got = [
        (r.p1, r.p2, r.common_neighbors, r.jaccard)
        for r in QUERIES["graph_link_prediction"](spark, SF_SMALL).collect()
    ]
    assert got == want


def test_cms_matches_python_reference(spark):
    rows = _duck(SF_SMALL, "SELECT l_partkey FROM lineitem")
    keys = [r[0] for r in rows]
    true_cnt = Counter(keys)

    def buckets(key: int) -> list[int]:
        h = hashlib.sha256(str(key).encode()).hexdigest()
        return [
            _HEX.index(h[2 * j]) * 16 + _HEX.index(h[2 * j + 1])
            for j in range(4)
        ]

    cells: Counter = Counter()
    for k, c in true_cnt.items():
        for j, b in enumerate(buckets(k)):
            cells[(j, b)] += c
    tops = sorted(true_cnt.items(), key=lambda x: (-x[1], x[0]))[:10]
    want = []
    for k, c in tops:
        est = min(cells[(j, b)] for j, b in enumerate(buckets(k)))
        want.append((k, c, est, est >= c))
    want.sort(key=lambda x: (-x[1], x[0]))
    got = [
        (r.l_partkey, r.true_cnt, r.est_cnt, r.never_undercounts)
        for r in QUERIES["rollup_cms_frequencies"](spark, SF_SMALL).collect()
    ]
    assert got == want
    assert all(g[3] for g in got)  # one-sided error, checked not assumed


def test_winnowing_matches_python_reference(spark):
    K, W = 3, 4
    docs = _duck(SF_SMALL, "SELECT doc_id, text FROM documents")
    want = []
    for doc_id, text in sorted(docs):
        t = text.split(" ")
        if len(t) < K + W - 1:
            continue
        hs = []
        for g in range(len(t) - K + 1):
            h = hashlib.sha256(" ".join(t[g : g + K]).encode()).hexdigest()
            hs.append(int(h[:8], 16))
        sel = set()
        for i in range(len(hs) - W + 1):
            best_h, best_p = None, None
            for j in range(W):
                if best_h is None or hs[i + j] <= best_h:
                    best_h, best_p = hs[i + j], i + j
            sel.add(best_p)
        want.append(
            (doc_id, len(hs), len(sel), min(hs[p] for p in sel))
        )
    got = [
        (r.doc_id, r.n_grams, r.n_selected, r.min_fp)
        for r in QUERIES["text_winnowing_fingerprints"](spark, SF_SMALL).collect()
    ]
    assert got == want
    # the winnowing density guarantee: ~2/(w+1) selections per window
    for _, n_grams, n_sel, _ in want:
        windows = n_grams - W + 1
        assert n_sel <= windows


def test_mann_whitney_matches_python_reference(spark):
    rows = _duck(
        SF_SMALL,
        "SELECT value, event_type FROM events"
        " WHERE event_type IN ('purchase', 'click')",
    )
    c1: Counter = Counter()
    c2: Counter = Counter()
    for v, t in rows:
        (c1 if t == "purchase" else c2)[v] += 1
    n1, n2 = sum(c1.values()), sum(c2.values())
    N = n1 + n2
    two_r1 = tie = 0
    cum = 0
    for v in sorted(set(c1) | set(c2)):
        t = c1.get(v, 0) + c2.get(v, 0)
        two_r1 += c1.get(v, 0) * (2 * cum + t + 1)
        tie += t**3 - t
        cum += t
    two_u = two_r1 - n1 * (n1 + 1)
    u = float(two_u) / 2.0
    mu = float(n1) * float(n2) / 2.0
    sigma = math.sqrt(
        float(n1) * float(n2) / 12.0
        * ((float(N) + 1.0) - float(tie) / (float(N) * (float(N) - 1.0)))
    )
    z = _round_ieee_py((u - mu) / sigma)
    (r,) = QUERIES["stats_mann_whitney_u"](spark, SF_SMALL).collect()
    assert (r.n1, r.n2, r.u_stat, r.z_score) == (n1, n2, u, z)


def test_kruskal_wallis_matches_python_reference(spark):
    rows = _duck(SF_SMALL, "SELECT value, event_type FROM events")
    by_grp: dict[str, Counter] = {}
    for v, g in rows:
        by_grp.setdefault(g, Counter())[v] += 1
    groups = sorted(by_grp)
    dom = sorted({v for c in by_grp.values() for v in c})
    # midrank sums in exact half-units over the compressed value domain
    two_r = {g: 0 for g in groups}
    tie = cum = 0
    for v in dom:
        t = sum(c.get(v, 0) for c in by_grp.values())
        for g in groups:
            two_r[g] += by_grp[g].get(v, 0) * (2 * cum + t + 1)
        tie += t**3 - t
        cum += t
    n_g = {g: sum(by_grp[g].values()) for g in groups}
    n = sum(n_g.values())
    term = sum(
        float(two_r[g]) * float(two_r[g]) / (4.0 * float(n_g[g]))
        for g in groups
    )
    h = (12.0 / (float(n) * (float(n) + 1.0))) * term - 3.0 * (float(n) + 1.0)
    h_corr = _round_ieee_py(
        h / (1.0 - float(tie) / (float(n) ** 3 - float(n)))
    )
    got = {
        r.grp: (r.n_g, r.mean_rank, r.h_corr)
        for r in QUERIES["stats_kruskal_wallis"](spark, SF_SMALL).collect()
    }
    assert set(got) == set(groups)
    for g in groups:
        assert got[g][0] == n_g[g]
        assert got[g][1] == _round_ieee_py(
            float(two_r[g]) / (2.0 * float(n_g[g]))
        )
        assert got[g][2] == h_corr
    # sanity: the five synthetic event types share one value distribution,
    # so H should be far from pathological (positive, finite)
    assert h_corr > 0.0


def test_average_precision_matches_python_reference(spark):
    rows = _duck(SF_SMALL, "SELECT n_chars, (lang = 'en') FROM documents")
    # sklearn-style step AP over descending distinct thresholds
    dom: dict[int, list[int]] = {}
    for s, y in rows:
        c = dom.setdefault(s, [0, 0])
        c[0] += 1
        c[1] += int(y)
    p = sum(c[1] for c in dom.values())
    t = sum(c[0] for c in dom.values())
    tp = seen = 0
    terms = []
    for s in sorted(dom, reverse=True):
        nt, np_ = dom[s]
        tp += np_
        seen += nt
        if np_ > 0:
            terms.append(
                _round_ieee_py(
                    (float(np_) * float(tp)) / (float(p) * float(seen)), 9
                )
            )
    # exact decimal-grid sum, as both engines perform it
    ap = _round_ieee_py(sum(round(x * 1e9) for x in terms) / 1e9)
    (r,) = QUERIES["ml_average_precision"](spark, SF_SMALL).collect()
    assert (r.n_pos, r.n_neg) == (p, t - p)
    assert r.avg_precision == ap
    assert 0.0 < ap <= 1.0


def test_spearman_rho_matches_python_reference(spark):
    rows = _duck(
        SF_SMALL,
        "SELECT CAST(floor(l_quantity * 100 + 0.5) AS BIGINT),"
        "       CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)"
        " FROM lineitem",
    )
    xs = [r[0] for r in rows]
    ys = [r[1] for r in rows]

    def midranks_x2(vals: list[int]) -> dict[int, int]:
        c = Counter(vals)
        out, cum = {}, 0
        for v in sorted(c):
            t = c[v]
            out[v] = 2 * cum + t + 1  # 2 * midrank, exact integer
            cum += t
        return out

    wx_map, wy_map = midranks_x2(xs), midranks_x2(ys)
    wx = [wx_map[v] for v in xs]
    wy = [wy_map[v] for v in ys]
    n = len(wx)
    sx, sy = sum(wx), sum(wy)
    sxy = sum(a * b for a, b in zip(wx, wy))
    sxx = sum(a * a for a in wx)
    syy = sum(b * b for b in wy)
    rho = _round_ieee_py(
        (float(n) * float(sxy) - float(sx) * float(sy))
        / math.sqrt(
            (float(n) * float(sxx) - float(sx) * float(sx))
            * (float(n) * float(syy) - float(sy) * float(sy))
        )
    )
    (r,) = QUERIES["stats_spearman_rho"](spark, SF_SMALL).collect()
    assert (r.n, r.spearman_rho) == (n, rho)
    # qty and price are essentially independent in TPC-H: |rho| small
    assert abs(rho) < 0.2


def test_t_closeness_matches_python_reference(spark):
    rows = _duck(
        SF_SMALL,
        "SELECT CAST(date_trunc('day', ts) AS DATE),"
        "       CAST(floor(value / 50) AS BIGINT), event_type FROM events",
    )
    cv: Counter = Counter()
    for day, band, et in rows:
        cv[(day, band, et)] += 1
    cls: Counter = Counter()
    gl: Counter = Counter()
    for (day, band, et), c in cv.items():
        cls[(day, band)] += c
        gl[et] += c
    n = sum(gl.values())
    max_tvd, n_viol, rows_risk = 0.0, 0, 0
    for (day, band), n_c in cls.items():
        s = sum(
            abs(cv.get((day, band, et), 0) * n - n_v * n_c)
            for et, n_v in gl.items()
        )
        max_tvd = max(max_tvd, float(s) / (2.0 * float(n_c) * float(n)))
        if 5 * s > 2 * n_c * n:  # exact rational t = 1/5
            n_viol += 1
            rows_risk += n_c
    (r,) = QUERIES["privacy_t_closeness"](spark, SF_SMALL).collect()
    assert r.n_classes == len(cls)
    assert r.max_tvd == _round_ieee_py(max_tvd)
    assert r.n_violating_classes == n_viol
    assert r.n_rows_at_risk == rows_risk
    assert r.share_t_close == _round_ieee_py(
        float(len(cls) - n_viol) / float(len(cls))
    )
    # the QI grid genuinely stresses the check: some classes skew
    assert len(cls) > 100


def test_hits_matches_python_reference(spark, monkeypatch):
    rows = _duck(SF_SMALL, "SELECT DISTINCT l_orderkey, l_partkey FROM lineitem")
    baskets: dict[int, list[int]] = {}
    for o, p in rows:
        baskets.setdefault(o, []).append(p)
    edges = set()
    for parts in baskets.values():
        ps = sorted(parts)
        for i, a in enumerate(ps):
            for b in ps[i + 1 :]:
                edges.add((a, b))

    def norm(raw: dict[int, int]) -> dict[int, float]:
        s = float(sum(raw.values()))
        return {k: _round_ieee_py(float(v) / s, 8) for k, v in raw.items()}

    def push(vals: dict[int, float], forward: bool) -> dict[int, float]:
        raw: Counter = Counter()
        for s, d in edges:
            src, dst = (s, d) if forward else (d, s)
            if src in vals:
                raw[dst] += math.floor(vals[src] * 1e8 + 0.5)
        return norm(raw)

    indeg: Counter = Counter(d for _, d in edges)
    a = norm(indeg)
    h = push(a, forward=False)
    a = push(h, forward=True)
    h = push(a, forward=False)
    nodes = set(a) | set(h)
    want = sorted(
        ((n, a.get(n, 0.0), h.get(n, 0.0)) for n in nodes),
        key=lambda r: (-r[1], -r[2], r[0]),
    )[:20]
    for bound, one_task in BOUNDS:
        monkeypatch.setattr(sampling, "_ONE_TASK_EDGES", bound)
        df = QUERIES["graph_hits"](spark, SF_SMALL)
        assert runs_in_one_task(df) == one_task, bound
        assert [(r.node, r.authority, r.hub) for r in df.collect()] == want, bound
    # hubs and authorities are both normalized distributions over the grid
    assert all(0.0 <= v <= 1.0 for _, v, w in want for v in (v, w))


def test_bfs_distances_matches_python_reference(spark, monkeypatch):
    rows = _duck(SF_SMALL, "SELECT DISTINCT l_orderkey, l_partkey FROM lineitem")
    baskets: dict[int, list[int]] = {}
    for o, p in rows:
        baskets.setdefault(o, []).append(p)
    adj: dict[int, set[int]] = {}
    for parts in baskets.values():
        ps = sorted(parts)
        for i, a in enumerate(ps):
            for b in ps[i + 1 :]:
                adj.setdefault(a, set()).add(b)
                adj.setdefault(b, set()).add(a)
    root = min(adj)
    frontier, visited = {root}, {root}
    want = [(0, 1, root, root)]
    for d in range(1, 5):
        nxt = set()
        for u in frontier:
            nxt |= adj[u]
        nxt -= visited
        if nxt:
            want.append((d, len(nxt), min(nxt), max(nxt)))
        visited |= nxt
        frontier = nxt
    for bound, one_task in BOUNDS:
        monkeypatch.setattr(sampling, "_ONE_TASK_EDGES", bound)
        df = QUERIES["graph_bfs_distances"](spark, SF_SMALL)
        assert runs_in_one_task(df) == one_task, bound
        got = [(r.distance, r.n_nodes, r.min_node, r.max_node) for r in df.collect()]
        assert got == want, bound
    # the basket graph is connected enough that BFS leaves level 0
    assert len(want) >= 2


def test_zipf_fit_matches_python_reference(spark):
    rows = _duck(SF_SMALL, "SELECT text FROM documents")
    vocab: Counter = Counter()
    for (text,) in rows:
        vocab.update(text.split(" "))
    cls: Counter = Counter(vocab.values())
    tt = sum(cls.values())
    cum = 0
    n = sx = sy = sxy = sxx = 0
    for c in sorted(cls):
        t = cls[c]
        cum += t
        gx = round(
            _round_ieee_py(math.log((2 * (tt - cum) + t + 1) / 2.0)) * 1e6
        )
        gy = round(_round_ieee_py(math.log(float(c))) * 1e6)
        n += t
        sx += t * gx
        sy += t * gy
        sxy += t * gx * gy
        sxx += t * gx * gx
    fx, fy, fxy, fxx = sx / 1e6, sy / 1e6, sxy / 1e12, sxx / 1e12
    slope = (float(n) * fxy - fx * fy) / (float(n) * fxx - fx * fx)
    icept = (fy - slope * fx) / float(n)
    (r,) = QUERIES["text_zipf_fit"](spark, SF_SMALL).collect()
    assert r.n_terms == n
    assert abs(r.zipf_slope - slope) < 1e-5
    assert abs(r.zipf_intercept - icept) < 1e-5
    # frequency falls with rank (the 31-word synthetic vocab is nearly
    # uniform, so the slope is shallow — the fit itself is what's pinned)
    assert r.zipf_slope < 0.0


def test_mutual_information_matches_python_reference(spark):
    rows = _duck(
        SF_SMALL,
        "SELECT event_type, CAST(floor(value / 50) AS BIGINT) FROM events",
    )
    xy: Counter = Counter(rows)
    mx: Counter = Counter()
    my: Counter = Counter()
    for (x, y), c in xy.items():
        mx[x] += c
        my[y] += c
    n = sum(xy.values())

    def gsum(terms):  # the engines' 1e-9-grid decimal sum
        return _round_ieee_py(sum(round(t * 1e9) for t in terms) / 1e9)

    mi = gsum(
        _round_ieee_py(
            (c / n) * math.log(n * c / (mx[x] * my[y])), 9
        )
        for (x, y), c in xy.items()
    )
    hx = gsum(
        _round_ieee_py(-(c / n) * math.log(c / n), 9) for c in mx.values()
    )
    hy = gsum(
        _round_ieee_py(-(c / n) * math.log(c / n), 9) for c in my.values()
    )
    (r,) = QUERIES["ml_mutual_information"](spark, SF_SMALL).collect()
    assert (r.n, r.mutual_info, r.h_x, r.h_y) == (n, mi, hx, hy)
    # information inequalities: 0 <= I <= min(H_X, H_Y)
    assert 0.0 <= r.mutual_info <= min(r.h_x, r.h_y) + 1e-6


def test_jarque_bera_matches_python_reference(spark):
    rows = _duck(
        SF_SMALL,
        "SELECT CAST(floor(value * 100 + 0.5) AS BIGINT) FROM events"
        " WHERE event_type = 'purchase'",
    )
    cs = [r[0] for r in rows]
    n = len(cs)
    s1 = sum(cs)
    s2 = sum(c * c for c in cs)
    s3 = sum(c**3 for c in cs)
    s4 = sum(c**4 for c in cs)
    fn = float(n)
    m2 = (float(s2) - float(s1) * float(s1) / fn) / fn
    m3 = (
        float(s3)
        - 3.0 * float(s1) * float(s2) / fn
        + 2.0 * float(s1) * float(s1) * float(s1) / (fn * fn)
    ) / fn
    m4 = (
        float(s4)
        - 4.0 * float(s1) * float(s3) / fn
        + 6.0 * float(s1) * float(s1) * float(s2) / (fn * fn)
        - 3.0 * float(s1) * float(s1) * float(s1) * float(s1) / (fn * fn * fn)
    ) / fn
    sk = m3 / m2**1.5
    ku = m4 / (m2 * m2)
    jb = (fn / 6.0) * (sk * sk + (ku - 3.0) * (ku - 3.0) / 4.0)
    (r,) = QUERIES["stats_jarque_bera"](spark, SF_SMALL).collect()
    assert r.n == n
    assert r.skewness == _round_ieee_py(sk)
    assert r.kurtosis == _round_ieee_py(ku)
    assert r.jb_stat == _round_ieee_py(jb)
    # purchase values are uniform-ish, decidedly non-normal: JB large
    assert r.jb_stat > 10.0


def test_cohens_kappa_matches_python_reference(spark):
    rows = _duck(SF_SMALL, "SELECT n_chars, (lang = 'en') FROM documents")
    got = QUERIES["ml_cohens_kappa"](spark, SF_SMALL).collect()
    assert [r.threshold for r in got] == [200, 300, 400]
    for r in got:
        tp = sum(1 for s, y in rows if s >= r.threshold and y)
        fp = sum(1 for s, y in rows if s >= r.threshold and not y)
        fn = sum(1 for s, y in rows if s < r.threshold and y)
        tn = sum(1 for s, y in rows if s < r.threshold and not y)
        n = len(rows)
        pe_num = float(tp + fp) * float(tp + fn) + float(fn + tn) * float(
            fp + tn
        )
        kappa = (float(tp + tn) * float(n) - pe_num) / (
            float(n) * float(n) - pe_num
        )
        assert (r.tp, r.fp, r.fn, r.tn) == (tp, fp, fn, tn)
        assert r.kappa == _round_ieee_py(kappa)
        assert -1.0 <= r.kappa <= 1.0


def test_sax_symbols_matches_python_reference(spark):
    daily = _duck(
        SF_SMALL,
        "SELECT CAST(date_trunc('day', ts) AS DATE) AS day,"
        " sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS cents"
        " FROM events WHERE event_type = 'purchase' GROUP BY 1 ORDER BY day",
    )
    n = len(daily)
    s1 = sum(c for _, c in daily)
    s2 = sum(c * c for _, c in daily)
    mu = float(s1) / float(n)
    sd = math.sqrt(float(s2) / float(n) - mu * mu)
    day0 = daily[0][0]
    frames: dict[int, list] = {}
    for day, c in daily:
        frames.setdefault((day - day0).days // 4, []).append((day, c))
    bp = (-0.6744897501960817, 0.0, 0.6744897501960817)
    want = []
    for fid in sorted(frames):
        ds = frames[fid]
        fs1 = sum(c for _, c in ds)
        z = (float(fs1) / float(len(ds)) - mu) / sd
        sym = "a" if z < bp[0] else "b" if z < bp[1] else "c" if z < bp[2] else "d"
        want.append((fid, min(d for d, _ in ds), len(ds), _round_ieee_py(z), sym))
    got = [
        (r.frame_id, r.day if hasattr(r, "day") else r.start_day, r.n_days, r.z, r.symbol)
        for r in QUERIES["ts_sax_symbols"](spark, SF_SMALL).collect()
    ]
    assert got == want
    # the alphabet is actually exercised
    assert len({s for *_, s in want}) >= 2


def test_bigram_lm_perplexity_matches_python_reference(spark):
    docs = _duck(SF_SMALL, "SELECT doc_id, text FROM documents")
    big: Counter = Counter()
    doc_pairs = {}
    vocab = set()
    for doc_id, text in docs:
        ws = text.split(" ")
        vocab.update(ws)
        ps = list(zip(ws, ws[1:]))
        doc_pairs[doc_id] = ps
        big.update(ps)
    firsts: Counter = Counter()
    for (w1, _), c in big.items():
        firsts[w1] += c
    v = len(vocab)
    micro = {
        p: round(
            _round_ieee_py(math.log((c + 0.5) / (firsts[p[0]] + 0.5 * v))) * 1e6
        )
        for p, c in big.items()
    }
    scored = []
    for doc_id, ps in doc_pairs.items():
        if not ps:
            continue
        s = sum(micro[p] for p in ps)
        scored.append(
            (doc_id, len(ps), _round_ieee_py(-(s / 1e6) / len(ps)))
        )
    want = sorted(scored, key=lambda r: (-r[2], r[0]))[:20]
    got = [
        (r.doc_id, r.n_bigrams, r.xent)
        for r in QUERIES["text_bigram_lm_perplexity"](spark, SF_SMALL).collect()
    ]
    assert got == want
    # cross-entropy of a smoothed LM on its own training data is positive
    assert all(x > 0 for _, _, x in want)


def test_anova_oneway_matches_python_reference(spark):
    rows = _duck(
        SF_SMALL,
        "SELECT event_type, CAST(floor(value * 100 + 0.5) AS BIGINT)"
        " FROM events",
    )
    by: dict[str, list[int]] = {}
    for g, c in rows:
        by.setdefault(g, []).append(c)
    groups = sorted(by)
    n = sum(len(v) for v in by.values())
    s = sum(sum(v) for v in by.values())
    q = sum(c * c for v in by.values() for c in v)
    ratio = sum(
        float(sum(by[g])) * float(sum(by[g])) / float(len(by[g]))
        for g in groups
    )
    ssb = ratio - float(s) * float(s) / float(n)
    ssw = float(q) - ratio
    f_stat = (ssb / float(len(groups) - 1)) / (ssw / (float(n) - float(len(groups))))
    got = {
        r.grp: (r.n_g, r.mean_cents, r.f_stat)
        for r in QUERIES["stats_anova_oneway"](spark, SF_SMALL).collect()
    }
    assert set(got) == set(groups)
    for g in groups:
        assert got[g][0] == len(by[g])
        assert got[g][1] == _round_ieee_py(
            float(sum(by[g])) / float(len(by[g])) / 100.0
        )
        assert got[g][2] == _round_ieee_py(f_stat)
    assert f_stat >= 0.0


def test_bag_set_ops_match_python_reference(spark):
    rows = _duck(
        SF_SMALL,
        "SELECT l_returnflag, l_linestatus, CAST(l_quantity AS BIGINT),"
        " (l_shipdate < TIMESTAMP '1997-01-01') FROM lineitem",
    )
    early: Counter = Counter()
    late: Counter = Counter()
    for rf, ls, q, is_early in rows:
        (early if is_early else late)[(rf, ls, q)] += 1
    want_int: Counter = Counter(
        {k: min(early[k], late[k]) for k in early if k in late}
    )
    want_exc: Counter = Counter(
        {k: late[k] - early.get(k, 0) for k in late if late[k] > early.get(k, 0)}
    )
    got_int: Counter = Counter(
        (r.l_returnflag, r.l_linestatus, r.qty)
        for r in QUERIES["set_intersect_all"](spark, SF_SMALL).collect()
    )
    got_exc: Counter = Counter(
        (r.l_returnflag, r.l_linestatus, r.qty)
        for r in QUERIES["set_except_all"](spark, SF_SMALL).collect()
    )
    assert got_int == {k: v for k, v in want_int.items() if v > 0}
    assert got_exc == {k: v for k, v in want_exc.items() if v > 0}
    # both non-vacuous, and the bag identity |A| = |A∩B| + |A∖B| holds
    assert sum(got_int.values()) > 0 and sum(got_exc.values()) > 0
    assert sum(got_int.values()) + sum(got_exc.values()) == sum(late.values())


def test_bounce_rate_matches_python_reference(spark):
    rows = _duck(
        SF_SMALL,
        "SELECT user_id, ts, event_id FROM events ORDER BY user_id, ts, event_id",
    )
    sessions = []  # (start_ts, n_events)
    prev_user = prev_ts = None
    for u, ts, _ in rows:
        if u != prev_user or (ts - prev_ts).total_seconds() > 1800:
            sessions.append([ts, 1])
        else:
            sessions[-1][1] += 1
        prev_user, prev_ts = u, ts
    byday: dict = {}
    for start, n in sessions:
        d = start.date()
        tot, b = byday.get(d, (0, 0))
        byday[d] = (tot + 1, b + (1 if n == 1 else 0))
    want = [
        (d, t, b, _round_ieee_py(b / t))
        for d, (t, b) in sorted(byday.items())
    ]
    got = [
        (r.day, r.n_sessions, r.n_bounces, r.bounce_rate)
        for r in QUERIES["events_bounce_rate"](spark, SF_SMALL).collect()
    ]
    assert got == want
    assert sum(b for _, _, b, _ in want) > 0  # non-vacuous: bounces exist


def test_levene_matches_python_reference(spark):
    rows = _duck(
        SF_SMALL,
        "SELECT event_type, CAST(floor(value * 100 + 0.5) AS BIGINT)"
        " FROM events",
    )
    by: dict[str, list[int]] = {}
    for g, c in rows:
        by.setdefault(g, []).append(c)
    groups = sorted(by)
    meds = {}
    for g in groups:
        vs = sorted(by[g])
        # lower discrete median: min c with cum >= (n+1)//2
        meds[g] = vs[(len(vs) + 1) // 2 - 1]
    devs = {g: [abs(c - meds[g]) for c in by[g]] for g in groups}
    n = sum(len(v) for v in devs.values())
    s = sum(sum(v) for v in devs.values())
    q = sum(d * d for v in devs.values() for d in v)
    ratio = sum(
        float(sum(devs[g])) ** 2 / float(len(devs[g])) for g in groups
    )
    ssb = ratio - float(s) * float(s) / float(n)
    ssw = float(q) - ratio
    w = (ssb / float(len(groups) - 1)) / (ssw / (float(n) - float(len(groups))))
    got = {
        r.grp: (r.n_g, r.grp_median, r.mean_absdev, r.levene_w)
        for r in QUERIES["stats_levene"](spark, SF_SMALL).collect()
    }
    assert set(got) == set(groups)
    for g in groups:
        assert got[g][0] == len(by[g])
        assert got[g][1] == meds[g] / 100.0
        assert got[g][2] == _round_ieee_py(
            float(sum(devs[g])) / float(len(devs[g])) / 100.0
        )
        assert got[g][3] == _round_ieee_py(w)
    assert w >= 0.0


def test_ndcg_matches_python_reference(spark):
    rows = _duck(
        SF_SMALL,
        "SELECT doc_id, source, n_chars, CASE WHEN lang = 'en' THEN 1 ELSE 0 END"
        " FROM documents",
    )
    disc = [
        1000000000, 630929754, 500000000, 430676558, 386852807,
        356207187, 333333333, 315464877, 301029996, 289064826,
    ]
    cum = [sum(disc[: i + 1]) for i in range(10)]
    by: dict[str, list] = {}
    for doc_id, src, score, rel in rows:
        by.setdefault(src, []).append((-score, doc_id, rel))
    scored = []
    for src, docs in by.items():
        docs.sort()
        n_rel = sum(r for _, _, r in docs)
        dcg = sum(r * disc[i] for i, (_, _, r) in enumerate(docs[:10]))
        ndcg = (
            0.0 if n_rel == 0 else _round_ieee_py(dcg / cum[min(n_rel, 10) - 1])
        )
        scored.append((src, len(docs), n_rel, ndcg))
    want = sorted(scored, key=lambda r: (-r[3], r[0]))[:20]
    got = [
        (r.source, r.n_docs, r.n_rel, r.ndcg)
        for r in QUERIES["ml_ndcg_at_k"](spark, SF_SMALL).collect()
    ]
    assert got == want
    assert all(0.0 <= x <= 1.0 for *_, x in want)


def test_balanced_downsample_matches_python_reference(spark):
    rows = _duck(SF_SMALL, "SELECT event_id, event_type FROM events")
    by: dict[str, list] = {}
    for eid, grp in rows:
        # Knuth multiplicative hash — pure 64-bit integer, engine-agnostic
        h = ((eid % 2**31) * 2654435761) % 2**31
        by.setdefault(grp, []).append((h, eid))
    m = min(len(v) for v in by.values())
    want = []
    for grp in sorted(by):
        sel = sorted(by[grp])[:m]
        want.append(
            (grp, len(by[grp]), m, sum(e for _, e in sel), max(h for h, _ in sel))
        )
    got = [
        (r.grp, r.n_in_class, r.n_selected, int(r.id_checksum), r.h_threshold)
        for r in QUERIES["sample_balanced_downsample"](spark, SF_SMALL).collect()
    ]
    assert got == want
    # balance achieved: every class contributes exactly m rows
    assert len({n for _, _, n, _, _ in got}) == 1


def test_open_backlog_matches_python_reference(spark):
    spans = _duck(
        SF_SMALL,
        "SELECT CAST(date_trunc('day', o.o_orderdate) AS DATE),"
        "       CAST(date_trunc('day', max(l.l_shipdate)) AS DATE)"
        " FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey"
        " GROUP BY o.o_orderkey, o.o_orderdate",
    )
    import datetime

    deltas: Counter = Counter()
    for d0, d1 in spans:
        deltas[d0] += 1
        deltas[d1 + datetime.timedelta(days=1)] -= 1
    want, cum = [], 0
    for day in sorted(deltas):
        cum += deltas[day]
        want.append((day, cum))
    got = [
        (r.day, r.open_orders)
        for r in QUERIES["orders_open_backlog_daily"](spark, SF_SMALL).collect()
    ]
    assert got == want
    # sweep invariants: ends at zero, peaks positive
    assert want[-1][1] == 0 and max(c for _, c in want) > 0


def test_sorted_neighborhood_matches_python_reference(spark):
    rows = _duck(
        SF_SMALL,
        "SELECT c_custkey, c_nationkey,"
        " CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) FROM customer"
        " ORDER BY 3, 1",
    )
    cand = []
    for i, (ka, na, ca) in enumerate(rows):
        for j in (i + 1, i + 2):
            if j >= len(rows):
                continue
            kb, nb, cb = rows[j]
            if na != nb and abs(ca - cb) <= 100:
                cand.append((ka, kb, abs(ca - cb)))
    want = sorted(cand, key=lambda r: (r[2], r[0], r[1]))[:50]
    got = [
        (r.key_a, r.key_b, r.dist_cents)
        for r in QUERIES["er_sorted_neighborhood"](spark, SF_SMALL).collect()
    ]
    assert got == want
    # non-vacuous even on the tiny sf0.001 fixture (sparse balances →
    # few neighbors); at the driver's sf0.01 the same query yields 186
    # candidates and the 50-row cap binds
    assert len(want) >= 1


def test_friedman_matches_python_reference(spark):
    rows = _duck(
        SF_SMALL,
        "SELECT CAST(date_trunc('day', ts) AS DATE), event_type,"
        " sum(CAST(floor(value * 100 + 0.5) AS BIGINT))"
        " FROM events GROUP BY 1, 2",
    )
    byday: dict = {}
    for day, grp, cents in rows:
        byday.setdefault(day, []).append((grp, cents))
    groups = sorted({g for _, g, _ in rows})
    k = len(groups)
    r2_sum: Counter = Counter()
    q4 = 0
    for day, cells in byday.items():
        for grp, cents in cells:
            smaller = sum(1 for _, c in cells if c < cents)
            ties = sum(1 for _, c in cells if c == cents)
            r2 = 2 * smaller + ties + 1
            r2_sum[grp] += r2
            q4 += r2 * r2
    n = len(byday)
    num = sum(
        (float(r2_sum[g]) - float(n) * (k + 1)) ** 2 for g in groups
    )
    chi2 = float(k - 1) * num / (float(q4) - float(n) * k * float((k + 1) ** 2))
    got = {
        r.grp: (r.rank_sum, r.chi2)
        for r in QUERIES["stats_friedman"](spark, SF_SMALL).collect()
    }
    assert set(got) == set(groups)
    for g in groups:
        assert got[g][0] == r2_sum[g] / 2.0
        assert got[g][1] == _round_ieee_py(chi2)
    assert chi2 >= 0.0


def test_bitmap_distinct_matches_python_reference(spark):
    rows = _duck(
        SF_SMALL,
        "SELECT CAST(date_trunc('day', ts) AS DATE), user_id FROM events",
    )
    byday: dict = {}
    allu = set()
    for day, u in rows:
        byday.setdefault(day, set()).add(u)
        allu.add(u)
    want = [(d, len(s), len(allu)) for d, s in sorted(byday.items())]
    got = [
        (r.day, r.n_distinct, r.merged_distinct_all)
        for r in QUERIES["rollup_bitmap_distinct"](spark, SF_SMALL).collect()
    ]
    assert got == want
    # mergeability is non-trivial: users overlap across days, so the
    # merged count is strictly less than the per-day sum
    assert want[0][2] < sum(n for _, n, _ in want)


def test_benford_matches_python_reference(spark):
    rows = _duck(
        SF_SMALL,
        "SELECT CAST(floor(value * 100 + 0.5) AS BIGINT) FROM events"
        " WHERE value >= 0.01",
    )
    P = {
        1: 0.301029996, 2: 0.176091259, 3: 0.124938737, 4: 0.096910013,
        5: 0.079181246, 6: 0.066946790, 7: 0.057991947, 8: 0.051152522,
        9: 0.045757491,
    }
    obs: Counter = Counter(int(str(c)[0]) for (c,) in rows)
    n = sum(obs.values())
    got = [
        (r.digit, r.n_obs, r.p_observed, r.p_benford, r.chi2_term)
        for r in QUERIES["dq_benford_law"](spark, SF_SMALL).collect()
    ]
    assert [g[0] for g in got] == sorted(obs)
    for digit, n_obs, p_o, p_b, chi in got:
        assert n_obs == obs[digit]
        assert p_o == _round_ieee_py(obs[digit] / n)
        assert p_b == P[digit]
        dev = obs[digit] - n * P[digit]
        assert chi == _round_ieee_py(dev * dev / (n * P[digit]))
    # all nine digits observed, deviation terms strictly positive (the
    # uniform [0.01, 500] fixture happens to land NEAR Benford — its
    # 4.7-decade span mimics the log-uniform shape; the audit reports
    # the per-digit terms either way)
    assert len(got) == 9
    assert all(g[4] >= 0 for g in got) and sum(g[4] for g in got) > 0


def test_periodogram_matches_python_reference(spark):
    daily = _duck(
        SF_SMALL,
        "SELECT CAST(date_trunc('day', ts) AS DATE) AS day,"
        " sum(CAST(floor(value * 100 + 0.5) AS BIGINT))"
        " FROM events WHERE event_type = 'purchase' GROUP BY 1 ORDER BY day",
    )
    n = len(daily)
    s1 = sum(c for _, c in daily)
    day0 = daily[0][0]
    TWO_PI = 6.283185307179586
    want = []
    for period in (3, 7, 14, 30):
        sc = ss = 0
        for day, c in daily:
            t = (day - day0).days
            d = float(c) - float(s1) / float(n)
            ang = TWO_PI * float(t) / float(period)
            sc += round(_round_ieee_py(d * math.cos(ang)) * 1e6)
            ss += round(_round_ieee_py(d * math.sin(ang)) * 1e6)
        power = _round_ieee_py(
            ((sc / 1e6) ** 2 + (ss / 1e6) ** 2) / float(n), 4
        )
        want.append((period, power))
    got = [
        (r.period, r.power)
        for r in QUERIES["ts_fourier_periodogram"](spark, SF_SMALL).collect()
    ]
    assert got == want
    assert all(p >= 0 for _, p in want)


def test_stream_bitmap_distinct_matches_batch_truth(spark):
    rows = _duck(
        SF_SMALL,
        "SELECT CAST(date_trunc('day', ts) AS DATE), user_id FROM events",
    )
    byday: dict = {}
    allu = set()
    for day, u in rows:
        byday.setdefault(day, set()).add(u)
        allu.add(u)
    want = [(d, len(s), len(allu)) for d, s in sorted(byday.items())]
    got = [
        (r.day, r.n_distinct, r.merged_distinct_all)
        for r in QUERIES["stream_bitmap_distinct"](spark, SF_SMALL).collect()
    ]
    # the micro-batch OR-merged bitmap state equals the batch truth for
    # this batch split — the idempotent-merge invariance, third-engine
    assert got == want


def test_gini_matches_python_reference(spark):
    rows = _duck(
        SF_SMALL,
        "SELECT user_id, sum(CAST(floor(value * 100 + 0.5) AS BIGINT))"
        " FROM events WHERE event_type = 'purchase' GROUP BY user_id",
    )
    xs = sorted(c for _, c in rows)
    n = len(xs)
    t = sum(xs)
    s = sum((i + 1) * x for i, x in enumerate(xs))
    gini = (2.0 * float(s)) / (float(n) * float(t)) - (float(n) + 1.0) / float(n)
    (r,) = QUERIES["events_user_lifetime_gini"](spark, SF_SMALL).collect()
    assert r.n_users == n
    assert r.total_revenue == t / 100.0
    assert r.gini == _round_ieee_py(gini)
    assert 0.0 <= r.gini < 1.0


def test_weighted_median_matches_python_reference(spark):
    rows = _duck(
        SF_SMALL,
        "SELECT l_returnflag, CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT),"
        " CAST(l_quantity AS BIGINT) FROM lineitem",
    )
    by: dict = {}
    for g, c, w in rows:
        by.setdefault(g, Counter())[c] += w
    want = []
    for g in sorted(by):
        tw = sum(by[g].values())
        cum = 0
        for c in sorted(by[g]):
            cum += by[g][c]
            if cum >= (tw + 1) // 2:
                want.append((g, tw, c / 100.0))
                break
    got = [
        (r.grp, r.total_weight, r.weighted_median)
        for r in QUERIES["agg_weighted_median"](spark, SF_SMALL).collect()
    ]
    assert got == want


def test_clustering_coefficient_matches_python_reference(spark):
    rows = _duck(SF_SMALL, "SELECT DISTINCT l_orderkey, l_partkey FROM lineitem")
    baskets: dict[int, list[int]] = {}
    for o, p in rows:
        baskets.setdefault(o, []).append(p)
    adj: dict[int, set[int]] = {}
    for parts in baskets.values():
        ps = sorted(parts)
        for i, a in enumerate(ps):
            for b in ps[i + 1 :]:
                adj.setdefault(a, set()).add(b)
                adj.setdefault(b, set()).add(a)
    n_nodes = len(adj)
    n_edges = sum(len(s) for s in adj.values()) // 2
    n_wedges = sum(len(s) * (len(s) - 1) // 2 for s in adj.values())
    n_tri = (
        sum(
            1
            for a in adj
            for b in adj[a]
            if b > a
            for c in (adj[a] & adj[b])
            if c > b
        )
    )
    (r,) = QUERIES["graph_clustering_coefficient"](spark, SF_SMALL).collect()
    assert (r.n_nodes, r.n_edges, r.n_triangles, r.n_wedges) == (
        n_nodes, n_edges, n_tri, n_wedges,
    )
    assert r.global_clustering == _round_ieee_py(3.0 * n_tri / n_wedges)
    assert 0.0 < r.global_clustering <= 1.0


def test_wilcoxon_signed_rank_matches_python_reference(spark):
    rows = _duck(
        SF_SMALL,
        "SELECT user_id,"
        " sum(CASE WHEN date_part('day', ts) <= 15"
        "     THEN CAST(floor(value * 100 + 0.5) AS BIGINT) ELSE 0 END),"
        " sum(CASE WHEN date_part('day', ts) > 15"
        "     THEN CAST(floor(value * 100 + 0.5) AS BIGINT) ELSE 0 END)"
        " FROM events WHERE event_type = 'purchase' GROUP BY user_id",
    )
    diffs = [h2 - h1 for _, h1, h2 in rows if h1 != h2]
    dom: dict[int, list[int]] = {}
    for dv in diffs:
        c = dom.setdefault(abs(dv), [0, 0])
        c[0] += 1
        c[1] += 1 if dv > 0 else 0
    n = len(diffs)
    two_w = tie = cum = 0
    for a in sorted(dom):
        t, tp = dom[a]
        two_w += tp * (2 * cum + t + 1)
        tie += t**3 - t
        cum += t
    z = _round_ieee_py(
        (float(two_w) - float(n) * (float(n) + 1.0) / 2.0)
        / math.sqrt(
            float(n) * (float(n) + 1.0) * (2.0 * float(n) + 1.0) / 6.0
            - float(tie) / 12.0
        )
    )
    (r,) = QUERIES["stats_wilcoxon_signed_rank"](spark, SF_SMALL).collect()
    assert (r.n, r.w_plus, r.z_score) == (n, two_w / 2.0, z)
    # non-vacuous (sf0.001 has ~15 users with unequal halves; ~10x more
    # at the driver's sf0.01)
    assert n >= 10


def test_runs_test_matches_python_reference(spark):
    daily = _duck(
        SF_SMALL,
        "SELECT CAST(date_trunc('day', ts) AS DATE) AS day,"
        " sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS cents"
        " FROM events WHERE event_type = 'purchase' GROUP BY 1 ORDER BY day",
    )
    vals = sorted(c for _, c in daily)
    m = vals[(len(vals) + 1) // 2 - 1]  # lower median
    signs = [1 if c > m else 0 for _, c in daily if c != m]
    n, n1 = len(signs), sum(signs)
    n0 = n - n1
    r = 1 + sum(1 for a, b in zip(signs, signs[1:]) if a != b)
    mu = 2.0 * n1 * n0 / n + 1.0
    var = 2.0 * n1 * n0 * (2.0 * n1 * n0 - n) / (float(n) ** 2 * (n - 1.0))
    z = _round_ieee_py((float(r) - mu) / math.sqrt(var))
    (row,) = QUERIES["stats_runs_test"](spark, SF_SMALL).collect()
    assert (row.n, row.n1, row.n0, row.n_runs, row.z_score) == (n, n1, n0, r, z)
    assert n >= 20


def test_heaps_law_matches_python_reference(spark):
    docs = sorted(_duck(SF_SMALL, "SELECT doc_id, text FROM documents"))
    mid = max(d for d, _ in docs)
    ntok = {d: len(t.split(" ")) for d, t in docs}
    firstseen: dict[str, int] = {}
    for d, t in docs:
        for w in t.split(" "):
            if w not in firstseen:
                firstseen[w] = d
    pts = []
    for k in range(1, 11):
        cutoff = mid * k // 10
        tokens = sum(n for d, n in ntok.items() if d <= cutoff)
        vocab = sum(1 for fs in firstseen.values() if fs <= cutoff)
        pts.append((k, tokens, vocab))
    gx = [round(_round_ieee_py(math.log(t)) * 1e6) for _, t, _ in pts]
    gy = [round(_round_ieee_py(math.log(v)) * 1e6) for _, _, v in pts]
    n = len(pts)
    sx, sy = sum(gx) / 1e6, sum(gy) / 1e6
    sxy = sum(a * b for a, b in zip(gx, gy)) / 1e12
    sxx = sum(a * a for a in gx) / 1e12
    beta = _round_ieee_py(
        (n * sxy - sx * sy) / (n * sxx - sx * sx)
    )
    got = [
        (r.k, r.tokens, r.vocab, r.heaps_beta)
        for r in QUERIES["text_heaps_law_fit"](spark, SF_SMALL).collect()
    ]
    assert got == [(k, t, v, beta) for k, t, v in pts]
    # the 31-word synthetic vocab saturates instantly: beta ≈ 0 — the
    # fit itself (not a naturalness claim) is what's pinned
    assert beta < 0.5


def test_grubbs_matches_python_reference(spark):
    rows = _duck(
        SF_SMALL,
        "SELECT CAST(floor(value * 100 + 0.5) AS BIGINT) FROM events"
        " WHERE event_type = 'purchase'",
    )
    cs = [r[0] for r in rows]
    n = len(cs)
    mu = sum(cs) / n
    sd = math.sqrt((sum(c * c for c in cs) - sum(cs) ** 2 / n) / (n - 1))
    g = _round_ieee_py(max(max(cs) - mu, mu - min(cs)) / sd)
    (r,) = QUERIES["stats_grubbs_outlier"](spark, SF_SMALL).collect()
    assert (r.n, r.max_value, r.min_value) == (n, max(cs) / 100.0, min(cs) / 100.0)
    assert r.g_stat == g
    assert r.suspect_is_max == (max(cs) - mu >= mu - min(cs))
    assert g > 1.0


def test_mcc_matches_python_reference(spark):
    rows = _duck(SF_SMALL, "SELECT n_chars, (lang = 'en') FROM documents")
    got = QUERIES["ml_matthews_corrcoef"](spark, SF_SMALL).collect()
    assert [r.threshold for r in got] == [200, 300, 400]
    for r in got:
        tp = sum(1 for s, y in rows if s >= r.threshold and y)
        fp = sum(1 for s, y in rows if s >= r.threshold and not y)
        fn = sum(1 for s, y in rows if s < r.threshold and y)
        tn = sum(1 for s, y in rows if s < r.threshold and not y)
        mcc = (float(tp) * tn - float(fp) * fn) / math.sqrt(
            float(tp + fp) * (tp + fn) * (tn + fp) * (tn + fn)
        )
        assert (r.tp, r.fp, r.fn, r.tn) == (tp, fp, fn, tn)
        assert r.mcc == _round_ieee_py(mcc)
        assert -1.0 <= r.mcc <= 1.0


def test_xmr_chart_matches_python_reference(spark):
    daily = _duck(
        SF_SMALL,
        "SELECT CAST(date_trunc('day', ts) AS DATE) AS day,"
        " sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS cents"
        " FROM events WHERE event_type = 'purchase' GROUP BY 1 ORDER BY day",
    )
    cs = [c for _, c in daily]
    n = len(cs)
    center = sum(cs) / n / 100.0
    mrs = [abs(a - b) for a, b in zip(cs, cs[1:])]
    mr_bar = sum(mrs) / len(mrs) / 100.0
    K = 2.6595744680851063
    ucl, lcl = center + K * mr_bar, center - K * mr_bar
    viol = sum(1 for c in cs if c / 100.0 > ucl or c / 100.0 < lcl)
    (r,) = QUERIES["ts_control_chart_xmr"](spark, SF_SMALL).collect()
    assert r.n_days == n
    assert r.center == _round_ieee_py(center)
    assert r.mr_bar == _round_ieee_py(mr_bar)
    assert r.ucl == _round_ieee_py(ucl)
    assert r.lcl == _round_ieee_py(lcl)
    assert r.n_violations == viol


def test_peak_detection_matches_python_reference(spark):
    daily = _duck(
        SF_SMALL,
        "SELECT CAST(date_trunc('day', ts) AS DATE) AS day,"
        " sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS cents"
        " FROM events WHERE event_type = 'purchase' GROUP BY 1 ORDER BY day",
    )
    want = []
    for i in range(1, len(daily) - 1):
        d, c = daily[i]
        if c > daily[i - 1][1] and c > daily[i + 1][1]:
            want.append((d, c / 100.0, c - daily[i - 1][1], c - daily[i + 1][1]))
    got = [
        (r.day, r.revenue, r.rise_cents, r.fall_cents)
        for r in QUERIES["ts_peak_detection"](spark, SF_SMALL).collect()
    ]
    assert got == want
    assert len(want) >= 3


def test_snaive_backtest_matches_python_reference(spark):
    daily = dict(
        _duck(
            SF_SMALL,
            "SELECT CAST(date_trunc('day', ts) AS DATE),"
            " sum(CAST(floor(value * 100 + 0.5) AS BIGINT))"
            " FROM events WHERE event_type = 'purchase' GROUP BY 1",
        )
    )
    import datetime

    errs, rels = [], []
    for d, c in daily.items():
        prev = daily.get(d - datetime.timedelta(days=7))
        if prev is not None:
            errs.append(abs(c - prev))
            rels.append(abs(c - prev) * 1000000 // c)
    n = len(errs)
    mae = _round_ieee_py(sum(errs) / n / 100.0)
    mape = _round_ieee_py(sum(rels) / n / 1000000.0)
    (r,) = QUERIES["ts_snaive_backtest"](spark, SF_SMALL).collect()
    assert (r.n_backtest_days, r.mae, r.mape_like) == (n, mae, mape)
    assert n >= 20


def test_effect_sizes_match_python_reference(spark):
    rows = _duck(
        SF_SMALL,
        "SELECT CAST(floor(value * 100 + 0.5) AS BIGINT), event_type"
        " FROM events WHERE event_type IN ('purchase', 'click')",
    )
    a = [c for c, t in rows if t == "purchase"]
    b = [c for c, t in rows if t == "click"]
    n1, n2 = len(a), len(b)
    s1a, s1b = sum(a), sum(b)
    s2a, s2b = sum(c * c for c in a), sum(c * c for c in b)
    d = (s1a / n1 - s1b / n2) / math.sqrt(
        ((s2a - s1a * s1a / n1) + (s2b - s1b * s1b / n2)) / (n1 + n2 - 2)
    )
    # Cliff's delta brute force: P(a > b) - P(a < b)
    from bisect import bisect_left, bisect_right

    sb = sorted(b)
    gt = sum(bisect_left(sb, x) for x in a)
    lt = sum(len(sb) - bisect_right(sb, x) for x in a)
    delta = (gt - lt) / (n1 * n2)
    (r,) = QUERIES["stats_effect_sizes"](spark, SF_SMALL).collect()
    assert (r.n1, r.n2) == (n1, n2)
    assert r.cohens_d == _round_ieee_py(d)
    assert abs(r.cliffs_delta - delta) < 1e-6
    assert -1.0 <= r.cliffs_delta <= 1.0


def test_ece_matches_python_reference(spark):
    rows = _duck(SF_SMALL, "SELECT n_chars, (lang = 'en') FROM documents")
    smax = max(s for s, _ in rows)
    bins: dict[int, list] = {}
    for s, y in rows:
        conf = s / smax
        b = int(math.floor(min(conf * 10.0, 9.0)))
        st = bins.setdefault(b, [0, 0, 0])
        st[0] += 1
        st[1] += int(y)
        st[2] += round(_round_ieee_py(conf, 9) * 1e9)
    n = len(rows)
    terms = []
    for n_b, n_pos, conf_nanos in bins.values():
        conf_mean = conf_nanos / 1e9 / n_b
        terms.append(
            round(
                _round_ieee_py((n_b / n) * abs(n_pos / n_b - conf_mean), 9)
                * 1e9
            )
        )
    ece = _round_ieee_py(sum(terms) / 1e9)
    (r,) = QUERIES["ml_expected_calibration_error"](spark, SF_SMALL).collect()
    assert (r.n, r.n_bins, r.ece) == (n, len(bins), ece)
    assert 0.0 <= r.ece <= 1.0


def test_keep_best_per_cluster_matches_python_reference(spark):
    docs = _duck(SF_SMALL, "SELECT doc_id, source, n_chars, text FROM documents")

    def shingles(text: str) -> frozenset:
        ws = text.split(" ")
        if len(ws) < 3:
            return frozenset([text])
        return frozenset(" ".join(ws[i : i + 3]) for i in range(len(ws) - 2))

    sh = {d: shingles(t) for d, _, _, t in docs}
    ids = sorted(sh)
    # brute-force exact-Jaccard pairs (reference only; engines use
    # prefix filtering / inverted index)
    import itertools

    parent = {d: d for d in ids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    in_cluster = set()
    for a, b in itertools.combinations(ids, 2):
        inter = len(sh[a] & sh[b])
        if inter and inter / (len(sh[a]) + len(sh[b]) - inter) >= 0.6:
            in_cluster |= {a, b}
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
    meta = {d: (src, nc) for d, src, nc, _ in docs}
    clusters: dict = {}
    for d in ids:
        cid = find(d) if d in in_cluster else d
        clusters.setdefault(cid, []).append(d)
    ledger: dict = {}
    for cid, members in clusters.items():
        best = max(members, key=lambda x: (meta[x][1], -x))
        for m in members:
            src = meta[m][0]
            row = ledger.setdefault(src, [0, 0, 0, 0])
            row[0] += 1
            row[1] += 1 if m in in_cluster else 0
            if m == best:
                row[2] += 1
            else:
                row[3] += 1
    want = [(s, *ledger[s]) for s in sorted(ledger)]
    got = [
        (r.source, r.n_docs, r.n_in_clusters, r.n_kept, r.n_dropped)
        for r in QUERIES["dedup_keep_best_per_cluster"](spark, SF_SMALL).collect()
    ]
    assert got == want
    assert sum(r[4] for r in want) > 0  # the action actually drops docs


def test_time_to_convert_matches_python_reference(spark):
    rows = _duck(
        SF_SMALL, "SELECT user_id, event_type, ts FROM events ORDER BY ts"
    )
    firstv: dict = {}
    firstp: dict = {}
    for u, et, ts in rows:
        if et == "view" and u not in firstv:
            firstv[u] = ts
        if et == "purchase" and u in firstv and ts >= firstv[u] and u not in firstp:
            firstp[u] = ts
    # engines count SECOND BOUNDARIES (each timestamp floors to its
    # second before differencing) — truncate per-timestamp, not the diff
    lats = sorted(
        int(
            (
                firstp[u].replace(microsecond=0)
                - firstv[u].replace(microsecond=0)
            ).total_seconds()
        )
        for u in firstp
    )
    n = len(lats)
    p50 = lats[(n + 1) // 2 - 1]
    p90 = lats[(n * 9 + 9) // 10 - 1]
    (r,) = QUERIES["events_time_to_convert"](spark, SF_SMALL).collect()
    assert (r.n_converters, r.p50_seconds, r.p90_seconds, r.has_data) == (
        n, p50, p90, True,
    )
    # sf0.001 has ~15 view→purchase converters; ~10x more at sf0.01
    assert n >= 10 and p50 < p90


def test_cosine_histogram_matches_python_reference(spark):
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM '{SF_SMALL}/embeddings.parquet'"
    )
    rows = con.execute("SELECT vec_id, embedding FROM embeddings").fetchall()
    vecs = {
        vid: [float(x) for x in emb]
        for vid, emb in rows
    }
    import itertools

    def bucket(vid: int) -> str:
        return hashlib.sha256(str(vid).encode()).hexdigest()[:2]

    by: dict[str, list[int]] = {}
    for vid in vecs:
        by.setdefault(bucket(vid), []).append(vid)
    bins: Counter = Counter()
    micros = []
    for members in by.values():
        for a, b in itertools.combinations(sorted(members), 2):
            va, vb = vecs[a], vecs[b]
            dot = sum(x * y for x, y in zip(va, vb))
            na = math.sqrt(sum(x * x for x in va))
            nb = math.sqrt(sum(x * x for x in vb))
            c = dot / (na * nb)
            bins[int(math.floor(min(max((c + 1.0) * 10.0, 0.0), 19.0)))] += 1
            micros.append(round(_round_ieee_py(c, 9) * 1e9))
    n = len(micros)
    mean = _round_ieee_py(sum(micros) / 1e9 / n)
    got = [
        (r.bin, r.n_pairs, r.n_pairs_total, r.mean_cosine)
        for r in QUERIES["vectors_cosine_histogram"](spark, SF_SMALL).collect()
    ]
    assert got == [(b, bins[b], n, mean) for b in sorted(bins)]
    assert n > 50  # the bucket sample is non-trivial


def test_brier_matches_python_reference(spark):
    rows = _duck(SF_SMALL, "SELECT n_chars, (lang = 'en') FROM documents")
    smax = max(s for s, _ in rows)
    n = len(rows)
    np_ = sum(1 for _, y in rows if y)
    ts = sum(
        round(_round_ieee_py((s / smax - (1.0 if y else 0.0)) ** 2, 9) * 1e9)
        for s, y in rows
    )
    bs = ts / 1e9 / n
    base = np_ / n
    (r,) = QUERIES["ml_brier_score"](spark, SF_SMALL).collect()
    assert r.n == n
    assert r.brier == _round_ieee_py(bs)
    assert r.brier_climatology == _round_ieee_py(base * (1 - base))
    assert r.brier_skill == _round_ieee_py(1.0 - bs / (base * (1 - base)))


def test_negative_table_matches_python_reference(spark):
    rows = _duck(SF_SMALL, "SELECT text FROM documents")
    vocab: Counter = Counter()
    for (t,) in rows:
        vocab.update(t.split(" "))
    micros = {
        w: round(_round_ieee_py(c**0.75) * 1e6) for w, c in vocab.items()
    }
    total = sum(micros.values())
    want, cum = [], 0
    for w in sorted(vocab):
        m = micros[w]
        want.append(
            (w, vocab[w], cum, cum + m, _round_ieee_py(m / total, 9))
        )
        cum += m
    got = [
        (r.word, r.n_occurrences, r.range_lo, r.range_hi, r.p_negative)
        for r in QUERIES["sample_negative_table"](spark, SF_SMALL).collect()
    ]
    assert got == want
    # ranges tile [0, total) exactly with no gaps
    assert want[-1][3] == total
    for (_, _, _, hi, _), (_, _, lo2, _, _) in zip(want, want[1:]):
        assert hi == lo2


def test_pii_redact_matches_python_reference(spark):
    import re

    rows = _duck(SF_SMALL, "SELECT doc_id, source, text FROM documents")
    pats = [
        (re.compile(r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"), "<EMAIL>"),
        (re.compile(r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b"), "<IP>"),
        (re.compile(r"[0-9]{6,}"), "<NUM>"),
        (re.compile(r"\b(key|hash)\b"), "<TERM>"),
    ]
    ledger: dict = {}
    for _, src, text in rows:
        red = text
        for p, repl in pats:
            red = p.sub(repl, red)
        removed = len(text) - len(red)
        for p, repl in pats:
            removed += len(repl) * len(p.findall(text))
        row = ledger.setdefault(src, [0, 0, 0, 0])
        row[0] += 1
        row[1] += 1 if red != text else 0
        row[2] += removed
        row[3] += len(red)
    want = [(s, *ledger[s]) for s in sorted(ledger)]
    got = [
        (r.source, r.n_docs, r.n_docs_redacted, r.n_chars_removed, r.chars_after)
        for r in QUERIES["text_pii_redact"](spark, SF_SMALL).collect()
    ]
    assert got == want
    # non-vacuous: the deny-list class genuinely rewrites documents
    assert sum(r[2] for r in want) > 0
