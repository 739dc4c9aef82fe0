"""Semantic invariants for the round-4g..4k additions (Gopher
rules, Ljung-Box, MATTR, rater agreement, burstiness, pseudonym
collisions, vocab concentration, layout pruning, transitivity, bot
regularity, session gap curve, dict encoding, aspect bucketing).  The oracle gate checks cross-engine equality;
these recompute each result with an independent Python reference so an
edit changing the math identically in both engines still trips."""

from __future__ import annotations

import math
from collections import defaultdict

import pytest

from results_ingestor_spark.plans import QUERIES
from results_ingestor_spark.sources.tables import load_tables

_STOPS = {"the", "be", "to", "of", "and", "that", "have", "with"}


def _docs(spark, sf_dir):
    t = load_tables(spark, sf_dir, ("documents",))
    return t["documents"].select("doc_id", "source", "text").collect()


def test_gopher_rules_match_python_model(spark, sf_dir):
    rows = {r.source: r for r in
            QUERIES["quality_gopher_rules"](spark, sf_dir).collect()}
    agg = defaultdict(lambda: defaultdict(int))
    for r in _docs(spark, sf_dir):
        toks = r.text.split(" ")
        n = len(toks)
        c = len(r.text.replace(" ", ""))
        fails = {
            "n_fail_word_count": not (50 <= n <= 100000),
            "n_fail_mean_word_len": not (3 * n <= c <= 10 * n),
            "n_fail_alpha_frac":
                10 * sum(1 for x in toks
                         if any(ch.isalpha() and ch.isascii() for ch in x))
                < 8 * n,
            "n_fail_stopwords": len(set(toks) & _STOPS) < 2,
            "n_fail_symbol": 10 * r.text.count("#") > n,
        }
        a = agg[r.source]
        a["n_docs"] += 1
        for k, v in fails.items():
            a[k] += int(v)
        a["n_keep"] += int(not any(fails.values()))
        a["n_keep_ex_stopword"] += int(not any(
            v for k, v in fails.items() if k != "n_fail_stopwords"))
    assert set(rows) == set(agg)
    for src, a in agg.items():
        got = rows[src]
        for k in ("n_docs", "n_fail_word_count", "n_fail_mean_word_len",
                  "n_fail_alpha_frac", "n_fail_stopwords", "n_fail_symbol",
                  "n_keep", "n_keep_ex_stopword"):
            assert getattr(got, k) == a[k], (src, k)
        assert got.keep_rate == round(a["n_keep"] / a["n_docs"], 9)
    # the synthetic vocabulary holds only "the" from the 8-word list, so
    # the stopword rule (correctly) rejects everything here, while the
    # prose-agnostic rules must discriminate, not pass/fail everything
    total = sum(a["n_docs"] for a in agg.values())
    assert sum(a["n_fail_stopwords"] for a in agg.values()) == total
    kept_ex = sum(a["n_keep_ex_stopword"] for a in agg.values())
    assert 0 < kept_ex < total


def test_ljung_box_matches_python_model(spark, sf_dir):
    row = QUERIES["stats_ljung_box_hourly"](spark, sf_dir).collect()[0]
    t = load_tables(spark, sf_dir, ("events",))
    cnt = defaultdict(int)
    for r in t["events"].select("ts").collect():
        cnt[r.ts.replace(minute=0, second=0, microsecond=0)] += 1
    y = [cnt[k] for k in sorted(cnt)]
    n = len(y)
    mean = sum(y) / n
    den = sum((v - mean) ** 2 for v in y)
    q = 0.0
    for k in range(1, 7):
        rk = round(sum((y[i] - mean) * (y[i + k] - mean)
                       for i in range(n - k)) / den, 9)
        q += rk * rk / (n - k)
    q *= n * (n + 2)
    assert row.n_hours == n
    assert math.isclose(row.q_stat, q, rel_tol=0, abs_tol=5e-6)
    assert row.reject_whiteness == (round(q, 6) > 12.5915872437)


def test_mattr_matches_python_model(spark, sf_dir):
    rows = {r.source: r for r in
            QUERIES["text_mattr_diversity"](spark, sf_dir).collect()}
    W = 25
    agg = defaultdict(lambda: [0, 0, 0, 0])  # docs, windows, distinct, long_d
    long_w = defaultdict(int)
    for r in _docs(spark, sf_dir):
        toks = r.text.split(" ")
        n = len(toks)
        a = agg[r.source]
        a[0] += 1
        if n >= W:
            wins = [len(set(toks[s:s + W])) for s in range(n - W + 1)]
            a[3] += sum(wins)
            long_w[r.source] += len(wins)
        else:
            wins = [len(set(toks))]
        a[1] += len(wins)
        a[2] += sum(wins)
    for src, (docs, wins, dist, long_dist) in agg.items():
        got = rows[src]
        assert (got.n_docs, got.sum_windows, got.sum_distinct) == \
            (docs, wins, dist), src
        assert got.mattr_micro == round(long_dist / (W * long_w[src]), 9)
        # MATTR is a ratio of distinct-to-window-size, strictly in (0, 1]
        assert 0.0 < got.mattr_micro <= 1.0


def test_rater_agreement_matches_python_model(spark, sf_dir):
    row = QUERIES["quality_rater_agreement"](spark, sf_dir).collect()[0]
    n11 = n10 = n01 = n00 = 0
    for r in _docs(spark, sf_dir):
        toks = r.text.split(" ")
        n = len(toks)
        c = len(r.text.replace(" ", ""))
        stop = sum(1 for x in toks if x in ("the", "a"))
        ra = (len(set(toks)) * 100 >= 35 * n
              and n <= stop * 100 <= 15 * n)
        rb = (50 <= n <= 100000 and 3 * n <= c <= 10 * n
              and 10 * sum(1 for x in toks
                           if any(ch.isalpha() and ch.isascii()
                                  for ch in x)) >= 8 * n
              and 10 * r.text.count("#") <= n)
        if ra and rb:
            n11 += 1
        elif ra:
            n10 += 1
        elif rb:
            n01 += 1
        else:
            n00 += 1
    tot = n11 + n10 + n01 + n00
    assert (row.n_docs, row.n11, row.n10, row.n01, row.n00) == \
        (tot, n11, n10, n01, n00)
    po = (n11 + n00) / tot
    pe = ((n11 + n10) * (n11 + n01) + (n01 + n00) * (n10 + n00)) / tot ** 2
    assert math.isclose(row.kappa, (po - pe) / (1 - pe), abs_tol=5e-9)
    # kappa is bounded and the confusion matrix is non-degenerate here
    assert -1.0 <= row.kappa <= 1.0
    assert 0 < n11 + n10 and 0 < n01 + n00


def test_burstiness_matches_python_model(spark, sf_dir):
    rows = QUERIES["text_term_burstiness"](spark, sf_dir).collect()
    ctf, dfc = defaultdict(int), defaultdict(set)
    docs = _docs(spark, sf_dir)
    for r in docs:
        for w in r.text.split(" "):
            ctf[w] += 1
            dfc[w].add(r.doc_id)
    n = len(docs)
    scored = []
    for w, f in ctf.items():
        if f < 20:
            continue
        e = n * (1 - math.exp(-f / n))
        scored.append((round(len(dfc[w]) / e, 6), w, f, len(dfc[w]),
                       round(e, 6)))
    scored.sort(key=lambda x: (x[0], x[1]))
    want = scored[:20]
    assert [(r.burstiness, r.term, r.ctf, r.df, r.expected_df)
            for r in rows] == want
    # clumping can only REDUCE df below the Poisson expectation
    assert all(r.burstiness <= 1.0 + 1e-6 for r in rows)


def test_pseudonym_collisions_match_python_model(spark, sf_dir):
    import hashlib
    from collections import Counter
    row = QUERIES["privacy_pseudonym_collisions"](spark, sf_dir) \
        .collect()[0]
    t = load_tables(spark, sf_dir, ("events",))
    users = {r.user_id for r in t["events"].select("user_id")
             .distinct().collect()}
    buckets = Counter(
        int(hashlib.md5(f"pseudo:{u}".encode()).hexdigest()[:15], 16)
        % 65536 for u in users)
    n_coll = sum(1 for v in buckets.values() if v >= 2)
    assert row.n_users == len(users)
    assert row.n_pseudonyms == len(buckets)
    assert row.n_collided == n_coll
    assert row.n_users_in_collisions == sum(
        v for v in buckets.values() if v >= 2)
    assert row.max_bucket == max(buckets.values())
    exp = 65536 * (1 - (1 - 1 / 65536) ** len(users))
    assert math.isclose(row.expected_pseudonyms, exp, abs_tol=2e-6)
    # the audit's contract: distinct pseudonyms near uniform expectation
    assert abs(row.n_pseudonyms - exp) < 6 * math.sqrt(exp)


def test_vocab_concentration_matches_python_model(spark, sf_dir):
    from collections import Counter
    rows = {r.source: r for r in
            QUERIES["text_vocab_concentration"](spark, sf_dir).collect()}
    per_src = defaultdict(Counter)
    for r in _docs(spark, sf_dir):
        per_src[r.source].update(r.text.split(" "))
    for src, cnt in per_src.items():
        got = rows[src]
        F_tot = sum(cnt.values())
        coll2 = sum(f * (f - 1) for f in cnt.values())
        hapax = sum(1 for f in cnt.values() if f == 1)
        assert (got.vocab, got.n_tokens, got.n_hapax) == \
            (len(cnt), F_tot, hapax), src
        assert got.simpson_lambda == round(coll2 / (F_tot * (F_tot - 1)), 9)
        assert got.effective_vocab == round(F_tot * (F_tot - 1) / coll2, 6)
        # tight bound for the unbiased estimator: inverse-lambda is
        # maximized by the uniform distribution, where it equals
        # V(F-1)/(F-V)  (slightly ABOVE V - the without-replacement
        # correction), and it can never fall below 1
        V = len(cnt)
        assert 1.0 <= got.effective_vocab \
            <= V * (F_tot - 1) / (F_tot - V) + 1e-6


def test_layout_pruning_clustered_beats_hash(spark, sf_dir):
    rows = {r.layout: r for r in
            QUERIES["layout_pruning_effectiveness"](spark, sf_dir)
            .collect()}
    docs = load_tables(spark, sf_dir, ("documents",))["documents"] \
        .select("doc_id", "n_chars").collect()
    lo = min(r.n_chars for r in docs)
    hi = max(r.n_chars for r in docs)
    groups = defaultdict(lambda: [10**9, -1, 0])
    import hashlib
    for r in docs:
        h = int(hashlib.md5(str(r.doc_id).encode()).hexdigest()[:15], 16)
        for layout, grp in (
                ("hash_layout", h % 32),
                ("clustered_layout",
                 min(32 * (r.n_chars - lo) // (hi - lo + 1), 31))):
            g = groups[(layout, grp)]
            g[0] = min(g[0], r.n_chars)
            g[1] = max(g[1], r.n_chars)
            g[2] += 1
    for layout in ("hash_layout", "clustered_layout"):
        ms = [(mn, mx, n) for (la, _), (mn, mx, n) in groups.items()
              if la == layout]
        scanned = [(mn, mx, n) for mn, mx, n in ms
                   if mx >= 40 and mn <= 60]
        got = rows[layout]
        assert got.n_groups == len(ms)
        assert got.n_groups_scanned == len(scanned)
        assert got.n_rows_scanned == sum(n for _, _, n in scanned)
    # the whole point: clustering the key must prune MORE than hashing
    assert rows["clustered_layout"].scan_fraction \
        < rows["hash_layout"].scan_fraction


def test_global_transitivity_matches_python_model(spark, sf_dir):
    row = QUERIES["graph_global_transitivity"](spark, sf_dir).collect()[0]
    li = load_tables(spark, sf_dir, ("lineitem",))["lineitem"]
    orders = defaultdict(set)
    for r in li.select("l_orderkey", "l_partkey").collect():
        orders[r.l_orderkey].add(r.l_partkey)
    edges = set()
    for parts in orders.values():
        ps = sorted(parts)
        for i in range(len(ps)):
            for j in range(i + 1, len(ps)):
                edges.add((ps[i], ps[j]))
    adj = defaultdict(set)
    for u, v in edges:
        adj[u].add(v)
        adj[v].add(u)
    wedges = sum(len(s) * (len(s) - 1) // 2 for s in adj.values())
    tri = 0
    for u, v in edges:
        tri += len(adj[u] & adj[v] - {u, v})
    tri //= 3
    assert row.n_wedges == wedges
    assert row.n_triangles == tri
    assert row.transitivity == round(3.0 * tri / wedges, 9)
    # every triangle contributes exactly 3 wedges
    assert 3 * tri <= wedges


def test_bot_regularity_matches_python_model(spark, sf_dir):
    rows = QUERIES["events_bot_regularity"](spark, sf_dir).collect()
    ev = load_tables(spark, sf_dir, ("events",))["events"] \
        .select("user_id", "ts", "event_id").collect()
    per_user = defaultdict(list)
    for r in ev:
        us = r.ts.timestamp() * 1_000_000
        per_user[r.user_id].append((r.ts, r.event_id, round(us)))
    scored = []
    for u, evs in per_user.items():
        evs.sort(key=lambda x: (x[0], x[1]))
        gaps = [b[2] - a[2] for a, b in zip(evs, evs[1:])]
        n = len(gaps)
        if n < 9:
            continue
        sg, sgg = sum(gaps), sum(g * g for g in gaps)
        cv2 = round(n * (n * sgg - sg * sg) / ((n - 1) * sg * sg), 9)
        scored.append((cv2, u, n, sg // n))
    scored.sort()
    want = scored[:20]
    assert [(r.cv2, r.user_id, r.n_gaps, r.mean_gap_us)
            for r in rows] == want
    assert all(r.is_bot_like == (r.cv2 < 0.1) for r in rows)


def test_session_gap_curve_matches_python_model(spark, sf_dir):
    rows = {r.threshold_min: r for r in
            QUERIES["events_session_gap_curve"](spark, sf_dir).collect()}
    ev = load_tables(spark, sf_dir, ("events",))["events"] \
        .select("user_id", "ts", "event_id").collect()
    per_user = defaultdict(list)
    for r in ev:
        per_user[r.user_id].append((r.ts, r.event_id))
    gaps = []
    for evs in per_user.values():
        evs.sort()
        gaps += [round((b[0] - a[0]).total_seconds() * 1e6)
                 for a, b in zip(evs, evs[1:])]
    n_users, n_events = len(per_user), len(ev)
    prev_sessions = None
    for m in (5, 15, 30, 60):
        boundaries = sum(1 for g in gaps if g > m * 60_000_000)
        sess = n_users + boundaries
        got = rows[m]
        assert got.n_sessions == sess, m
        assert got.avg_events_per_session == round(n_events / sess, 6)
        # monotone: a larger gap threshold can only merge sessions
        if prev_sessions is not None:
            assert sess <= prev_sessions
        prev_sessions = sess


def test_dict_encoding_estimate_matches_python_model(spark, sf_dir):
    from collections import Counter
    rows = {r.col: r for r in
            QUERIES["layout_dict_encoding_estimate"](spark, sf_dir)
            .collect()}
    t = load_tables(spark, sf_dir, ("documents",))
    pdf = t["documents"].select("lang", "source", "text").toPandas()
    for col in ("lang", "source", "text"):
        cnt = Counter(pdf[col])
        nd = len(cnt)
        width = 1 if nd <= 256 else 2 if nd <= 65536 else \
            3 if nd <= 16777216 else 4
        plain = sum(len(v) * n for v, n in cnt.items())
        dict_b = sum(len(v) for v in cnt) + len(pdf) * width
        got = rows[col]
        assert (got.n_rows, got.n_distinct, got.plain_bytes,
                got.dict_bytes) == (len(pdf), nd, plain, dict_b), col
        assert got.recommend_dict == (dict_b < plain)
    # the report's raison d'etre: dict wins on categoricals, loses on text
    assert rows["lang"].recommend_dict and rows["source"].recommend_dict
    assert not rows["text"].recommend_dict


def test_aspect_bucketing_matches_python_model(spark, sf_dir):
    rows = {r.bucket: r for r in
            QUERIES["multimodal_aspect_bucketing"](spark, sf_dir)
            .collect()}
    docs = load_tables(spark, sf_dir, ("documents",))["documents"] \
        .select("doc_id").collect()
    targets = {"1:4": (1, 4), "1:2": (1, 2), "3:4": (3, 4), "1:1": (1, 1),
               "4:3": (4, 3), "2:1": (2, 1), "4:1": (4, 1)}
    agg = defaultdict(lambda: [0, 0, 0, 0])
    for r in docs:
        w, h = r.doc_id % 1920 + 1, r.doc_id % 1080 + 1
        if 8 * w < 3 * h:
            b = "1:4"
        elif 8 * w < 5 * h:
            b = "1:2"
        elif 8 * w < 7 * h:
            b = "3:4"
        elif 6 * w < 7 * h:
            b = "1:1"
        elif 3 * w < 5 * h:
            b = "4:3"
        elif w < 3 * h:
            b = "2:1"
        else:
            b = "4:1"
        ta, tb = targets[b]
        if w * tb > h * ta:
            kept = ((h * ta) // tb) * h
        elif w * tb < h * ta:
            kept = w * ((w * tb) // ta)
        else:
            kept = w * h
        a = agg[b]
        a[0] += 1
        a[1] += w * h
        a[2] += min(w, h) ** 2
        a[3] += kept
    assert set(rows) == set(agg)
    for b, (n, px, ksq, kb) in agg.items():
        got = rows[b]
        assert (got.n_images, got.total_pixels) == (n, px), b
        assert got.square_crop_loss == round(1.0 - ksq / px, 9)
        assert got.bucket_crop_loss == round(1.0 - kb / px, 9)
        # cropping to the assigned (nearest) ratio never loses more
        # pixels than forcing a square
        assert got.bucket_crop_loss <= got.square_crop_loss + 1e-9


def test_golden_record_survivorship_rules(spark, sf_dir):
    from collections import Counter
    rows = QUERIES["er_golden_record"](spark, sf_dir).collect()
    labels = {}
    members = defaultdict(list)
    for r in rows:
        labels[r.cluster_rep] = r
    # independent check: rebuild member lists from the cluster query
    lab = QUERIES["er_candidate_records"](spark, sf_dir).collect()
    sizes = {r.cluster_rep: r.n_records for r in lab}
    assert set(labels) == set(sizes)
    for rep, row in labels.items():
        assert row.n_records == sizes[rep]
        # the representative is a member-encoded record id: its fields
        # obey the fusion rules' domains
        cand, first, middle, last = rep.split("|")
        assert row.golden_last == last  # blocking key is constant
        assert row.n_first_variants >= 1
        if row.n_records == 1:
            assert row.golden_first == first
            assert row.golden_middle == middle


def test_generalization_ladder_is_monotone(spark, sf_dir):
    rows = {r.level: r for r in
            QUERIES["privacy_generalization_ladder"](spark, sf_dir)
            .collect()}
    assert set(rows) == {"L0:lang+source+len", "L1:lang+len",
                         "L2:lang", "L3:none"}
    # coarsening can only grow min k and shrink the group count
    order = ["L0:lang+source+len", "L1:lang+len", "L2:lang", "L3:none"]
    for a, b in zip(order, order[1:]):
        assert rows[b].min_k >= rows[a].min_k
        assert rows[b].n_groups <= rows[a].n_groups
    # L3 is the 1-group full suppression: k = corpus size
    docs = load_tables(spark, sf_dir, ("documents",))["documents"].count()
    assert rows["L3:none"].n_groups == 1
    assert rows["L3:none"].min_k == docs
    # L0 must agree with the standalone k-anonymity audit
    k0 = QUERIES["privacy_k_anonymity"](spark, sf_dir).collect()[0]
    assert rows["L0:lang+source+len"].n_groups == k0.n_groups
    assert rows["L0:lang+source+len"].min_k == k0.min_k
    assert rows["L0:lang+source+len"].n_docs_below_5 == k0.n_docs_below_5


def test_decayed_leaderboard_matches_python_model(spark, sf_dir):
    rows = QUERIES["events_decayed_leaderboard"](spark, sf_dir).collect()
    ev = load_tables(spark, sf_dir, ("events",))["events"] \
        .select("user_id", "ts").collect()
    as_of = max(r.ts for r in ev).date()
    scores = defaultdict(lambda: [0, 0])
    for r in ev:
        age = (as_of - r.ts.date()).days
        if age <= 40:
            s = scores[r.user_id]
            s[0] += 2 << (40 - age)
            s[1] += 1
    want = sorted(((v[0], u, v[1]) for u, v in scores.items() if v[0] > 0),
                  key=lambda x: (-x[0], x[1]))[:20]
    assert [(r.scaled, r.user_id, r.n_recent) for r in rows] == want
    for r in rows:
        assert r.decayed_score == round(r.scaled / 2 ** 41, 9)
    # exact integer ranking: strictly non-increasing scaled scores
    assert all(a.scaled >= b.scaled for a, b in zip(rows, rows[1:]))


def test_haar_energy_matches_python_model(spark, sf_dir):
    rows = {r.level: r for r in
            QUERIES["stats_haar_energy_hourly"](spark, sf_dir).collect()}
    ev = load_tables(spark, sf_dir, ("events",))["events"] \
        .select("ts").collect()
    cnt = defaultdict(int)
    for r in ev:
        cnt[r.ts.replace(minute=0, second=0, microsecond=0)] += 1
    lo, hi = min(cnt), max(cnt)
    series, cur = [], lo
    from datetime import timedelta
    while cur <= hi:
        series.append(cnt.get(cur, 0))
        cur += timedelta(hours=1)
    total_sq = sum(v * v for v in series)
    a = series
    for lvl in (1, 2, 3):
        pairs = [(a[i], a[i + 1]) for i in range(0, len(a) - 1, 2)]
        d = [x - y for x, y in pairs]
        energy = sum(v * v for v in d)
        got = rows[lvl]
        assert (got.n_pairs, got.energy) == (len(pairs), energy), lvl
        assert got.normalized_energy == round(energy / 2 ** lvl, 6)
        a = [x + y for x, y in pairs]
    # Parseval sanity: total detail energy (normalized) never exceeds
    # the series' total sum of squares
    assert sum(rows[k].energy / 2 ** k for k in rows) <= total_sq


def test_aging_buckets_match_python_model(spark, sf_dir):
    rows = {r.bucket: r for r in
            QUERIES["orders_aging_buckets"](spark, sf_dir).collect()}
    o = load_tables(spark, sf_dir, ("orders",))["orders"] \
        .select("o_orderdate", "o_orderstatus", "o_totalprice").collect()
    as_of = max(r.o_orderdate for r in o)
    # r8 wire: money as IEEE-exact integer cents (floor(v*100+0.5))
    agg = defaultdict(lambda: [0, 0])
    for r in o:
        if r.o_orderstatus == "F":
            continue
        age = (as_of - r.o_orderdate).days
        b = "0-30" if age <= 30 else "31-60" if age <= 60 \
            else "61-90" if age <= 90 else "90+"
        agg[b][0] += 1
        agg[b][1] += int(math.floor(r.o_totalprice * 100 + 0.5))
    assert set(rows) == set(agg)
    tot = sum(v[1] for v in agg.values())
    for b, (n, v) in agg.items():
        assert rows[b].n_orders == n, b
        assert rows[b].open_value_cents == v
        assert rows[b].value_share == round(v / tot, 9)


def test_table_checksum_detects_any_mutation(spark, sf_dir):
    import hashlib
    rows = {r.tbl: r for r in
            QUERIES["dq_table_checksum"](spark, sf_dir).collect()}
    MOD = (1 << 61) - 1
    t = load_tables(spark, sf_dir, ("nation",))
    vals = [(r.n_nationkey, r.n_name, r.n_regionkey)
            for r in t["nation"].collect()]

    def cksum(rws):
        s = 0
        for tup in rws:
            cat = "\x1f".join(str(x) for x in tup)
            s += int(hashlib.md5(cat.encode()).hexdigest()[:15], 16) % MOD
        return s % MOD

    assert rows["nation"].n_rows == len(vals)
    assert rows["nation"].checksum == cksum(vals)
    # order independence: shuffled copy checksums identically
    assert cksum(list(reversed(vals))) == rows["nation"].checksum
    # sensitivity: any single-field mutation changes the checksum
    mutated = [(k, n + "X", rk) if i == 0 else (k, n, rk)
               for i, (k, n, rk) in enumerate(vals)]
    assert cksum(mutated) != rows["nation"].checksum
    # a dropped row changes it too
    assert cksum(vals[1:]) != rows["nation"].checksum


def test_ams_f2_matches_python_model(spark, sf_dir):
    import hashlib
    from collections import Counter
    row = QUERIES["sketch_ams_f2_selfjoin"](spark, sf_dir).collect()[0]
    ev = load_tables(spark, sf_dir, ("events",))["events"] \
        .select("user_id").collect()
    cnt = Counter(r.user_id for r in ev)
    exact = sum(c * c for c in cnt.values())
    assert row.n_rows == len(ev)
    assert row.exact_f2 == exact
    zs = []
    for j in range(16):
        z = 0
        for u, c in cnt.items():
            h = int(hashlib.md5(f"{j}:{u}".encode()).hexdigest()[:15], 16)
            z += (1 if h % 2 == 0 else -1) * c
        zs.append((z * z, j))
    zs.sort()
    assert row.ams_f2 == zs[8][0]  # upper median of 16
    assert row.rel_error == round(abs(row.ams_f2 - exact) / exact, 6)
    # the AMS guarantee at 16 estimators: median within a small
    # constant factor of the truth (loose bound, deterministic here)
    assert row.ams_f2 <= 5 * exact and exact <= 5 * row.ams_f2


def test_partition_skew_census_matches_python_model(spark, sf_dir):
    import hashlib
    from collections import Counter
    rows = {r.join_key: r for r in
            QUERIES["dq_partition_skew_census"](spark, sf_dir).collect()}
    t = load_tables(spark, sf_dir, ("events", "lineitem"))
    for tbl, key, jk in (("events", "user_id", "events.user_id"),
                         ("lineitem", "l_orderkey",
                          "lineitem.l_orderkey")):
        vals = [getattr(r, key) for r in t[tbl].select(key).collect()]
        parts = Counter(
            int(hashlib.md5(str(v).encode()).hexdigest()[:15], 16) % 32
            for v in vals)
        got = rows[jk]
        assert got.n_parts == len(parts)
        assert got.n_rows == len(vals)
        assert got.max_load == max(parts.values())
        assert got.imbalance == round(32 * max(parts.values())
                                      / len(vals), 6)
        assert got.top_part_share == round(max(parts.values())
                                           / len(vals), 9)
        # the hottest partition is at least the uniform share
        assert got.imbalance >= 1.0 - 1e-9


def test_partial_correlation_matches_python_model(spark, sf_dir):
    rows = {r.pair: r for r in
            QUERIES["stats_partial_correlation"](spark, sf_dir).collect()}
    li = load_tables(spark, sf_dir, ("lineitem",))["lineitem"] \
        .select("l_quantity", "l_extendedprice", "l_discount").collect()
    import numpy as np
    q = np.array([float(r.l_quantity) for r in li])
    p = np.array([float(r.l_extendedprice) for r in li])
    dd = np.array([float(r.l_discount) for r in li])

    def r(a, b):
        return round(float(np.corrcoef(a, b)[0, 1]), 9)

    r_qp, r_qd, r_pd = r(q, p), r(q, dd), r(p, dd)
    import math as _m
    cases = {
        "quantity~extendedprice | discount": (r_qp, r_qd, r_pd),
        "quantity~discount | extendedprice": (r_qd, r_qp, r_pd),
        "extendedprice~discount | quantity": (r_pd, r_qp, r_qd),
    }
    for pair, (rxy, rxz, ryz) in cases.items():
        want = (rxy - rxz * ryz) / _m.sqrt((1 - rxz ** 2) * (1 - ryz ** 2))
        got = rows[pair]
        assert math.isclose(got.r_xy, rxy, abs_tol=2e-7), pair
        assert math.isclose(got.r_partial, want, abs_tol=2e-6), pair
        assert -1.0 <= got.r_partial <= 1.0


def test_temporal_split_leakage_matches_python_model(spark, sf_dir):
    rows = {(r.split_a, r.split_b): r for r in
            QUERIES["dataset_temporal_split_leakage"](spark, sf_dir)
            .collect()}
    ev = load_tables(spark, sf_dir, ("events",))["events"] \
        .select("user_id", "ts").collect()
    lo = min(r.ts for r in ev)
    hi = max(r.ts for r in ev)
    span_us = round((hi - lo).total_seconds() * 1e6)
    t1 = span_us // 3
    t2 = 2 * (span_us // 3)
    splits = defaultdict(set)
    for r in ev:
        off = round((r.ts - lo).total_seconds() * 1e6)
        s = "train" if off < t1 else "val" if off < t2 else "test"
        splits[s].add(r.user_id)
    for (a, b), got in rows.items():
        shared = len(splits[a] & splits[b])
        assert got.n_shared == shared, (a, b)
        assert got.n_users_a == len(splits[a])
        assert got.n_users_b == len(splits[b])
        assert got.leakage_into_b == round(shared / len(splits[b]), 9)
    # CHRONOLOGICAL upper triangle: split_a is always the earlier
    # split, so leakage_into_b reads "share of the later split's users
    # already seen earlier"
    assert set(rows) <= {("train", "val"), ("train", "test"),
                         ("val", "test")}


def test_hubness_census_matches_knn_graph(spark, sf_dir):
    rows = {r.in_degree: r.n_nodes for r in
            QUERIES["embedding_hubness_census"](spark, sf_dir).collect()}
    g = QUERIES["ann_knn_graph_banded"](spark, sf_dir).collect()
    from collections import Counter
    indeg = Counter(r.nbr for r in g)
    n_all = load_tables(spark, sf_dir, ("embeddings",))["embeddings"] \
        .count()
    hist = Counter(indeg.values())
    hist[0] = n_all - len(indeg)
    assert rows == {k: v for k, v in hist.items() if v > 0}
    # census conserves nodes and graph edges
    assert sum(rows.values()) == n_all
    assert sum(k * v for k, v in rows.items()) == len(g)


def test_rich_club_matches_python_model(spark, sf_dir):
    rows = {r.k: r for r in
            QUERIES["graph_rich_club"](spark, sf_dir).collect()}
    li = load_tables(spark, sf_dir, ("lineitem",))["lineitem"]
    orders = defaultdict(set)
    for r in li.select("l_orderkey", "l_partkey").collect():
        orders[r.l_orderkey].add(r.l_partkey)
    edges = set()
    for parts in orders.values():
        ps = sorted(parts)
        for i in range(len(ps)):
            for j in range(i + 1, len(ps)):
                edges.add((ps[i], ps[j]))
    deg = defaultdict(int)
    for u, v in edges:
        deg[u] += 1
        deg[v] += 1
    prev_phi = None
    for k in (2, 4, 8, 16):
        nodes = {n for n, d in deg.items() if d > k}
        ek = sum(1 for u, v in edges if u in nodes and v in nodes)
        got = rows[k]
        assert got.n_nodes == len(nodes), k
        assert got.n_edges == ek, k
        if len(nodes) >= 2:
            assert got.phi == round(2 * ek / (len(nodes)
                                              * (len(nodes) - 1)), 9)
        else:
            assert got.phi is None


def test_time_decay_attribution_matches_python_model(spark, sf_dir):
    # r8 wire: revenue in integer microdollars, credits as
    # round-half-up integer divisions (rev_micro*w*2 + s) // (2*s)
    rows = {r.channel: r for r in
            QUERIES["attribution_time_decay"](spark, sf_dir).collect()}
    ev = load_tables(spark, sf_dir, ("events",))["events"] \
        .select("user_id", "ts", "event_type", "value").collect()
    touches = defaultdict(dict)
    purchases = []
    for r in ev:
        if r.event_type in ("click", "view"):
            cur = touches[r.user_id].get(r.ts)
            if cur is None or r.event_type > cur:
                touches[r.user_id][r.ts] = r.event_type
        elif r.event_type == "purchase":
            purchases.append(r)
    agg = defaultdict(lambda: [0, 0])
    for p in purchases:
        cand = [(ts, ty) for ts, ty in touches[p.user_id].items()
                if ts <= p.ts
                and (p.ts - ts).total_seconds() * 1e6 <= 7 * 86400e6]
        if not cand:
            continue
        ws = {}
        for ts, ty in cand:
            age = int(round((p.ts - ts).total_seconds() * 1e6)
                      ) // 86_400_000_000
            ws[(ts, ty)] = 2 << (7 - age)
        s = sum(ws.values())
        rev_micro = int(math.floor(p.value * 100 + 0.5)) * 10000
        for (ts, ty), w in ws.items():
            c = (rev_micro * w * 2 + s) // (2 * s)
            agg[ty][0] += 1
            agg[ty][1] += c
    assert set(rows) == set(agg)
    for ch, (n, total) in agg.items():
        assert rows[ch].n_credits == n, ch
        assert rows[ch].attributed_revenue_micro == total, ch


def test_vad_segments_match_energy_runs(spark, sf_dir):
    rows = {r.doc_id: r for r in
            QUERIES["multimodal_vad_segments"](spark, sf_dir).collect()}
    en = defaultdict(dict)
    for r in QUERIES["multimodal_chunk_energy"](spark, sf_dir).collect():
        en[r.doc_id][r.chunk_idx] = r.energy
    assert set(rows) == set(en)
    for doc, ch in en.items():
        thr = round(sum(ch.values()) / len(ch), 6)
        voiced = sorted(i for i, e in ch.items() if e > thr)
        segs = []
        for i in voiced:
            if segs and i == segs[-1][1] + 1:
                segs[-1][1] = i
            else:
                segs.append([i, i])
        got = rows[doc]
        assert got.total_chunks == len(ch)
        assert got.voiced_chunks == len(voiced)
        assert got.n_segments == len(segs)
        assert got.longest_segment == max(
            (b - a + 1 for a, b in segs), default=0)
        # an adaptive mean threshold always leaves BOTH classes
        # non-empty for a non-constant signal
        if len(set(ch.values())) > 1:
            assert 0 < got.voiced_chunks < got.total_chunks


def test_isotropy_matches_python_model(spark, sf_dir):
    import numpy as np
    row = QUERIES["embedding_isotropy_score"](spark, sf_dir).collect()[0]
    vecs = [np.array(r.embedding, dtype=np.float64) for r in
            load_tables(spark, sf_dir, ("embeddings",))["embeddings"]
            .select("embedding").collect()]
    V = np.stack([v / np.linalg.norm(v) for v in vecs])
    n = len(V)
    S = V.sum(axis=0)
    sum_sq = float(S @ S)
    assert row.n_vecs == n
    assert math.isclose(row.mean_vector_norm,
                        math.sqrt(sum_sq) / n, abs_tol=2e-6)
    want = (sum_sq - n) / (n * (n - 1))
    assert math.isclose(row.avg_pairwise_cosine, want, abs_tol=2e-6)
    # identity check against a literal O(n^2) pair average on a sample
    idx = list(range(0, n, max(1, n // 50)))
    samp = V[idx]
    m = len(samp)
    pair_avg = (np.sum(samp @ samp.T) - m) / (m * (m - 1))
    # the sample mean cosine should be in the same ballpark (not a
    # strict equality — different pair population)
    assert abs(pair_avg - want) < 0.2
    assert -1.0 <= row.avg_pairwise_cosine <= 1.0


def test_reliability_report_matches_python_model(spark, sf_dir):
    from datetime import timedelta
    row = QUERIES["events_reliability_report"](spark, sf_dir).collect()[0]
    ev = load_tables(spark, sf_dir, ("events",))["events"] \
        .select("user_id", "ts", "event_id", "event_type").collect()
    per_user = defaultdict(list)
    for r in ev:
        per_user[r.user_id].append((r.ts, r.event_id, r.event_type))
    n_sessions = n_error_free = 0
    for evs in per_user.values():
        evs.sort(key=lambda x: (x[0], x[1]))
        sessions, cur = [], [evs[0]]
        for a, b in zip(evs, evs[1:]):
            if b[0] - a[0] > timedelta(minutes=30):
                sessions.append(cur)
                cur = []
            cur.append(b)
        sessions.append(cur)
        n_sessions += len(sessions)
        n_error_free += sum(1 for s in sessions
                            if not any(e[2] == "error" for e in s))
    n_events = len(ev)
    n_errors = sum(1 for r in ev if r.event_type == "error")
    assert (row.n_events, row.n_errors) == (n_events, n_errors)
    assert (row.n_sessions, row.n_error_free) == (n_sessions,
                                                  n_error_free)
    assert row.error_rate == round(n_errors / n_events, 9)
    assert row.mean_events_between_errors == round(
        (n_events - n_errors) / n_errors, 6)
    assert row.crash_free_session_rate == round(
        n_error_free / n_sessions, 9)
    # session count must agree with the 30-min point on the gap curve
    curve = {r.threshold_min: r.n_sessions for r in
             QUERIES["events_session_gap_curve"](spark, sf_dir).collect()}
    assert curve[30] == n_sessions


def test_tukey_hsd_matches_python_model(spark, sf_dir):
    rows = {(r.type_a, r.type_b): r for r in
            QUERIES["stats_tukey_hsd"](spark, sf_dir).collect()}
    ev = load_tables(spark, sf_dir, ("events",))["events"] \
        .select("event_type", "value").collect()
    from decimal import ROUND_HALF_UP, Decimal
    two = Decimal("0.01")
    g = defaultdict(lambda: [0, Decimal(0), Decimal(0)])
    for r in ev:
        v = Decimal(repr(r.value)).quantize(two, rounding=ROUND_HALF_UP)
        e = g[r.event_type]
        e[0] += 1
        e[1] += v
        e[2] += v * v
    k = len(g)
    nn = sum(e[0] for e in g.values())
    bsum = 0.0
    for t in sorted(g):  # the ANOVA ordered fold
        n, s, _ = g[t]
        bsum += float(s) * float(s) / n
    qd = sum(float(e[2]) for e in g.values())
    mse = (qd - bsum) / (nn - k)
    types = sorted(g)
    n_sig = 0
    for i in range(len(types)):
        for j in range(i + 1, len(types)):
            ta, tb = types[i], types[j]
            ma = round(float(g[ta][1]) / g[ta][0], 9)
            mb = round(float(g[tb][1]) / g[tb][0], 9)
            q = abs(ma - mb) / math.sqrt(
                mse / 2 * (1 / g[ta][0] + 1 / g[tb][0]))
            got = rows[(ta, tb)]
            assert math.isclose(got.mean_diff, ma - mb, abs_tol=2e-6)
            assert math.isclose(got.q_stat, q, abs_tol=5e-5)
            assert got.significant == (got.q_stat > 3.858)
            n_sig += int(got.significant)
    assert len(rows) == k * (k - 1) // 2


def test_james_stein_matches_python_model(spark, sf_dir):
    from decimal import ROUND_HALF_UP, Decimal
    rows = {r.event_type: r for r in
            QUERIES["stats_james_stein_shrinkage"](spark, sf_dir)
            .collect()}
    ev = load_tables(spark, sf_dir, ("events",))["events"] \
        .select("event_type", "value").collect()
    two = Decimal("0.01")
    g = defaultdict(lambda: [0, Decimal(0), Decimal(0)])
    for r in ev:
        v = Decimal(repr(r.value)).quantize(two, rounding=ROUND_HALF_UP)
        e = g[r.event_type]
        e[0] += 1
        e[1] += v
        e[2] += v * v
    k = len(g)
    nn = sum(e[0] for e in g.values())
    sd = float(sum(e[1] for e in g.values()))
    qd = float(sum(e[2] for e in g.values()))
    grand = round(sd / nn, 9)
    mse = (qd - sd * sd / nn) / (nn - k)
    means = {t: round(float(e[1]) / e[0], 9) for t, e in g.items()}
    ssdev = sum((m - grand) ** 2 for m in means.values())
    min_n = min(e[0] for e in g.values())
    shrink = max(0.0, 1.0 - (k - 3) * (mse / min_n) / ssdev)
    for t, m in means.items():
        got = rows[t]
        assert got.mean == m
        assert math.isclose(got.js_mean,
                            grand + shrink * (m - grand), abs_tol=2e-6)
        assert math.isclose(got.shrink_factor, shrink, abs_tol=2e-6)
    # shrinkage moves every mean strictly TOWARD the grand mean
    for t, m in means.items():
        assert abs(rows[t].js_mean - grand) <= abs(m - grand) + 1e-9
    assert 0.0 <= rows[list(means)[0]].shrink_factor <= 1.0


def test_keyness_matches_python_model(spark, sf_dir):
    rows = QUERIES["text_keyness_dunning"](spark, sf_dir).collect()
    from collections import Counter
    a_cnt, b_cnt = Counter(), Counter()
    for r in _docs(spark, sf_dir):
        tgt = a_cnt if r.source == "src0" else b_cnt
        tgt.update(r.text.split(" "))
    ta, tb = sum(a_cnt.values()), sum(b_cnt.values())
    scored = []
    for term in set(a_cnt) | set(b_cnt):
        a, b = a_cnt.get(term, 0), b_cnt.get(term, 0)
        if a + b < 10:
            continue
        g2 = 0.0
        if a > 0:
            g2 += a * math.log(a * (ta + tb) / (ta * (a + b)))
        if b > 0:
            g2 += b * math.log(b * (ta + tb) / (tb * (a + b)))
        scored.append((round(2 * g2, 6), term, a, b, a * tb > b * ta))
    scored.sort(key=lambda x: (-x[0], x[1]))
    want = [(t, a, b, g, o) for g, t, a, b, o in scored[:20]]
    assert [(r.term, r.n_focus, r.n_rest, r.g2, r.overused)
            for r in rows] == want
    # G2 is a likelihood ratio: non-negative everywhere
    assert all(r.g2 >= -1e-9 for r in rows)


def test_vocabulary_richness_matches_python_model(spark, sf_dir):
    from collections import Counter
    row = QUERIES["text_vocabulary_richness"](spark, sf_dir).collect()[0]
    cnt = Counter()
    for r in _docs(spark, sf_dir):
        cnt.update(r.text.split(" "))
    N = sum(cnt.values())
    V = len(cnt)
    n1 = sum(1 for c in cnt.values() if c == 1)
    n2 = sum(1 for c in cnt.values() if c == 2)
    assert (row.n_tokens, row.v_obs, row.n1, row.n2) == (N, V, n1, n2)
    assert row.gt_missing_mass == round(n1 / N, 9)
    if n2 > 0:
        assert row.chao1_estimate == round(V + n1 * n1 / (2 * n2), 6)
    assert row.gt_adjusted_r1 == round(2 * n2 / n1 if n1 else 0.0, 6)
    # Chao1 is a LOWER bound estimator: never below the observed V
    assert row.chao1_estimate >= V


def test_monetary_unit_sampling_matches_python_model(spark, sf_dir):
    import hashlib
    rows = QUERIES["sampling_monetary_unit"](spark, sf_dir).collect()
    o = load_tables(spark, sf_dir, ("orders",))["orders"] \
        .select("o_orderkey", "o_totalprice").collect()
    ledger = sorted((r.o_orderkey, round(r.o_totalprice * 100))
                    for r in o)
    T = sum(c for _, c in ledger)
    iv = T // 100
    start = int(hashlib.md5(b"mus").hexdigest()[:15], 16) % iv
    pts = [start + k * iv for k in range(100)]
    cum, hits = 0, {}
    for key, cents in ledger:
        n = sum(1 for p in pts if cum <= p < cum + cents)
        if n:
            hits[key] = (cents, n)
        cum += cents
    want = sorted(hits.items())[:50]
    assert [(r.o_orderkey, (r.cents, r.n_hits)) for r in rows] == want
    assert all(r.n_selected == len(hits) for r in rows)
    # systematic PPS: every point lands in exactly one order, so total
    # hits == number of points, and selection prob ∝ value by design
    assert sum(n for _, (_, n) in hits.items()) == 100


def test_twonn_matches_knn_graph(spark, sf_dir):
    row = QUERIES["embedding_intrinsic_dim_twonn"](spark, sf_dir) \
        .collect()[0]
    g = QUERIES["ann_knn_graph_banded"](spark, sf_dir).collect()
    per_src = defaultdict(dict)
    for r in g:
        if r.rn <= 2:
            per_src[r.src][r.rn] = 1.0 - r.cosine
    mus = []
    for src, rr in per_src.items():
        if len(rr) == 2 and rr[1] > 0 and rr[2] >= rr[1]:
            mus.append(round(math.log(rr[2] / rr[1]), 9))
    assert row.n_valid == len(mus)
    assert math.isclose(row.intrinsic_dim, len(mus) / sum(mus),
                        abs_tol=1e-4)
    # a 64-dim ambient space bounds the estimate loosely from above;
    # the estimator must be positive
    assert 0 < row.intrinsic_dim < 200


def test_entropy_rate_matches_python_model(spark, sf_dir):
    from collections import Counter
    row = QUERIES["text_bigram_entropy_rate"](spark, sf_dir).collect()[0]
    bc, cc = Counter(), Counter()
    for r in _docs(spark, sf_dir):
        toks = r.text.split(" ")
        for a, b in zip(toks, toks[1:]):
            bc[(a, b)] += 1
            cc[a] += 1
    N = sum(bc.values())
    hj = -sum(c / N * math.log(c / N) for c in bc.values())
    hctx = -sum(c / N * math.log(c / N) for c in cc.values())
    assert (row.n_bigrams, row.v_bigrams) == (N, len(bc))
    assert math.isclose(row.h_joint_nats, hj, abs_tol=1e-5)
    assert math.isclose(row.h_context_nats, hctx, abs_tol=1e-5)
    assert math.isclose(row.h_conditional_nats, hj - hctx, abs_tol=2e-5)
    # information theory bounds: 0 <= H(W2|W1) <= H(W1,W2), and the
    # per-token perplexity can't exceed the bigram vocabulary
    assert -1e-9 <= row.h_conditional_nats <= row.h_joint_nats + 1e-9
    assert row.perplexity_per_token <= len(cc) + 1


def test_mase_matches_python_model(spark, sf_dir):
    rows = {r.model: r for r in
            QUERIES["stats_forecast_accuracy_mase"](spark, sf_dir)
            .collect()}
    cnt = defaultdict(int)
    for r in load_tables(spark, sf_dir, ("events",))["events"] \
            .select("ts").collect():
        cnt[r.ts.replace(minute=0, second=0, microsecond=0)] += 1
    y = [cnt[k] for k in sorted(cnt)]
    n = len(y)
    mae1 = sum(abs(a - b) for a, b in zip(y[1:], y)) / (n - 1)
    mae24 = sum(abs(y[i] - y[i - 24]) for i in range(24, n)) / (n - 24)
    S = sum(y)
    mae_mu = sum(abs(v * n - S) for v in y) / n / n
    got1, got24 = rows["naive_lag1"], rows["seasonal_naive_lag24"]
    gotm = rows["mean_forecast"]
    assert got1.n_forecasts == n - 1
    assert got24.n_forecasts == n - 24
    assert gotm.n_forecasts == n
    assert math.isclose(got1.mae, mae1, abs_tol=1e-5)
    assert math.isclose(got24.mae, mae24, abs_tol=1e-5)
    assert math.isclose(gotm.mae, mae_mu, abs_tol=1e-5)
    assert got1.mase == 1.0  # the scale itself
    assert math.isclose(got24.mase, mae24 / mae1, abs_tol=1e-4)
    # MASE is a positive ratio (on near-white noise the in-sample
    # mean legitimately beats the one-step naive: sigma vs sigma*sqrt2)
    assert got24.mase > 0 and gotm.mase > 0


def test_abc_xyz_matches_python_model(spark, sf_dir):
    from decimal import Decimal
    rows = {(r.abc, r.xyz): r.n_parts for r in
            QUERIES["abc_xyz_matrix"](spark, sf_dir).collect()}
    t = load_tables(spark, sf_dir, ("lineitem", "orders"))
    od = {r.o_orderkey: r.o_orderdate for r in
          t["orders"].select("o_orderkey", "o_orderdate").collect()}
    rev = defaultdict(Decimal)
    wk = defaultdict(lambda: defaultdict(int))
    for r in t["lineitem"].select("l_orderkey", "l_partkey",
                                  "l_extendedprice", "l_discount",
                                  "l_quantity").collect():
        rv = Decimal(str(round(r.l_extendedprice
                               * (1 - r.l_discount), 4)))
        rev[r.l_partkey] += rv
        d = od[r.l_orderkey]
        week = d - __import__("datetime").timedelta(
            days=(d.weekday()))
        wk[r.l_partkey][week] += int(r.l_quantity)
    tot = sum(rev.values())
    cum = Decimal(0)
    abc = {}
    for part, rv in sorted(rev.items(), key=lambda kv: (-kv[1], kv[0])):
        cum += rv
        abc[part] = ("A" if float(cum) <= 0.8 * float(tot)
                     else "B" if float(cum) <= 0.95 * float(tot)
                     else "C")
    want = defaultdict(int)
    for part, weeks in wk.items():
        qs = list(weeks.values())
        n, s, qq = len(qs), sum(qs), sum(q * q for q in qs)
        if n < 2:
            x = "Z"
        elif n * (n * qq - s * s) * 100 <= (n - 1) * s * s * 25:
            x = "X"
        elif n * (n * qq - s * s) * 100 <= (n - 1) * s * s * 100:
            x = "Y"
        else:
            x = "Z"
        want[(abc[part], x)] += 1
    assert rows == dict(want)
    # conservation: the matrix partitions the part population
    assert sum(rows.values()) == len(rev)


def test_brand_homophily_matches_python_model(spark, sf_dir):
    from collections import Counter
    row = QUERIES["graph_brand_homophily"](spark, sf_dir).collect()[0]
    t = load_tables(spark, sf_dir, ("lineitem", "part"))
    brand = {r.p_partkey: r.p_brand for r in
             t["part"].select("p_partkey", "p_brand").collect()}
    orders = defaultdict(set)
    for r in t["lineitem"].select("l_orderkey", "l_partkey").collect():
        orders[r.l_orderkey].add(r.l_partkey)
    edges = set()
    for parts in orders.values():
        ps = sorted(parts)
        for i in range(len(ps)):
            for j in range(i + 1, len(ps)):
                edges.add((ps[i], ps[j]))
    m = len(edges)
    same = sum(1 for u, v in edges if brand[u] == brand[v])
    ends = Counter()
    for u, v in edges:
        ends[brand[u]] += 1
        ends[brand[v]] += 1
    sc2 = sum(c * c for c in ends.values())
    assert (row.n_edges, row.n_same_brand, row.n_brands) == \
        (m, same, len(ends))
    assert row.assortativity_r == round(
        (4 * m * same - sc2) / (4 * m * m - sc2), 9)
    # r is bounded by 1 and its sign matches observed-vs-expected
    assert row.assortativity_r <= 1.0
    assert (row.assortativity_r > 0) == (row.same_share
                                         > row.expected_share)


def test_wilcoxon_signed_rank_matches_python_model(spark, sf_dir):
    row = QUERIES["stats_wilcoxon_signed_rank"](spark, sf_dir) \
        .collect()[0]
    cnt = defaultdict(lambda: [0, 0])
    for r in load_tables(spark, sf_dir, ("events",))["events"] \
            .select("ts", "event_type").collect():
        if r.event_type in ("click", "view"):
            h = r.ts.replace(minute=0, second=0, microsecond=0)
            cnt[h][0 if r.event_type == "click" else 1] += 1
    diffs = [c - v for c, v in cnt.values() if c != v]
    n = len(diffs)
    order = sorted(abs(d) for d in diffs)
    # midranks
    from collections import Counter
    pos_of = {}
    i = 0
    cc = Counter(order)
    for ad in sorted(cc):
        t = cc[ad]
        pos_of[ad] = (2 * (i + 1) + t - 1) / 2  # midrank
        i += t
    w_plus = sum(pos_of[abs(d)] for d in diffs if d > 0)
    tie = sum(t ** 3 - t for t in cc.values() if t > 1)
    mu = n * (n + 1) / 4
    sd = math.sqrt((n * (n + 1) * (2 * n + 1) - tie / 2) / 24)
    diff = w_plus - mu
    z = (diff - 0.5 * (1 if diff > 0 else -1 if diff < 0 else 0)) / sd
    assert row.n_pairs == n
    assert row.w_plus == w_plus
    assert math.isclose(row.z, z, abs_tol=2e-6)
    assert row.reject_symmetry == (abs(row.z) > 1.9599639845)
    # W+ is bounded by the total rank sum
    assert 0 <= row.w_plus <= n * (n + 1) / 2


def test_mmd_linear_matches_python_model(spark, sf_dir):
    import numpy as np
    row = QUERIES["embedding_mmd_linear"](spark, sf_dir).collect()[0]
    a, b = [], []
    for r in load_tables(spark, sf_dir, ("embeddings",))["embeddings"] \
            .select("embedding", "label").collect():
        (a if r.label % 2 == 0 else b).append(
            np.array(r.embedding, dtype=np.float64))
    ma, mb = np.mean(a, axis=0), np.mean(b, axis=0)
    mmd2 = float(np.sum((ma - mb) ** 2))
    assert (row.na, row.nb) == (len(a), len(b))
    assert math.isclose(row.mmd2_linear, mmd2, abs_tol=2e-6)
    assert math.isclose(row.mean_distance, math.sqrt(mmd2), abs_tol=2e-6)
    # MMD^2 is a squared norm: non-negative, and consistent with its root
    assert row.mmd2_linear >= 0


def test_duplicate_payments_match_python_model(spark, sf_dir):
    rows = QUERIES["dq_duplicate_payment_candidates"](spark, sf_dir) \
        .collect()
    o = load_tables(spark, sf_dir, ("orders",))["orders"] \
        .select("o_orderkey", "o_custkey", "o_totalprice",
                "o_orderdate").collect()
    # r8 wire: blocking at IEEE-exact integer-cent granularity
    blocks = defaultdict(list)
    for r in o:
        blocks[(r.o_custkey,
                int(math.floor(r.o_totalprice * 100 + 0.5)))].append(
            (r.o_orderkey, r.o_orderdate))
    pairs = []
    for (ck, amt), mem in blocks.items():
        mem.sort()
        for i in range(len(mem)):
            for j in range(i + 1, len(mem)):
                gap = (mem[j][1] - mem[i][1]).days
                if -7 <= gap <= 7:
                    pairs.append((ck, amt, mem[i][0], mem[j][0], gap))
    pairs.sort()
    want = pairs[:50]
    assert [(r.custkey, r.amount_cents, r.key_a, r.key_b, r.gap_days)
            for r in rows] == want
    # blocking invariant: every pair shares customer AND exact amount
    assert all(r.gap_days == (r.date_b - r.date_a).days for r in rows)


def test_hill_tail_index_matches_python_model(spark, sf_dir):
    from collections import Counter
    row = QUERIES["stats_hill_tail_index"](spark, sf_dir).collect()[0]
    cnt = Counter(r.user_id for r in
                  load_tables(spark, sf_dir, ("events",))["events"]
                  .select("user_id").collect())
    xs = [c for c in cnt.values() if c >= 10]
    slx = sum(round(math.log(x / 10), 9) for x in xs)
    alpha = 1 + len(xs) / slx
    assert row.n_users == len(cnt)
    assert row.n_tail == len(xs)
    assert math.isclose(row.alpha_hat, alpha, abs_tol=2e-6)
    assert math.isclose(row.alpha_se,
                        (alpha - 1) / math.sqrt(len(xs)), abs_tol=2e-6)
    # a power-law exponent from counts >= xmin is always > 1
    assert row.alpha_hat > 1.0


def test_lsh_s_curve_matches_closed_form(spark, sf_dir):
    df = QUERIES["dedup_lsh_s_curve"](spark, sf_dir)
    assert "ExistingRDD" not in df._jdf.queryExecution().executedPlan().toString()
    rows = df.collect()
    for r in rows:
        s = r.sim_pct / 100
        assert r.p_candidate == round(1 - (1 - s ** r.r) ** r.b, 9)
        assert r.n_hashes == r.b * r.r
    # the production (4,4) curve crosses 0.5 between s=0.5 and s=0.65
    prod = {r.sim_pct: r.p_candidate for r in rows
            if (r.b, r.r) == (4, 4)}
    assert prod[50] < 0.5 < prod[65]
    # monotone in s for every configuration
    by_cfg = defaultdict(list)
    for r in rows:
        by_cfg[(r.b, r.r)].append((r.sim_pct, r.p_candidate))
    for pts in by_cfg.values():
        pts.sort()
        assert all(a[1] <= b[1] + 1e-12 for a, b in zip(pts, pts[1:]))


def test_bloom_sizing_matches_textbook_formulas(spark, sf_dir):
    rows = {r.config: r for r in
            QUERIES["join_bloom_sizing_table"](spark, sf_dir).collect()}
    n = rows["current_8KiB_k3"].n_keys
    cur = rows["current_8KiB_k3"]
    assert cur.fpr == round((1 - math.exp(-3 * n / 65536)) ** 3, 9)
    ln2 = math.log(2)
    for p in (0.01, 0.001, 0.0001):
        got = rows[f"target_fpr_{p}"]
        m = math.ceil(-(n * math.log(p)) / ln2 ** 2)
        assert got.m_bits == m
        assert got.k == max(1, round(m / n * ln2))
        assert got.bytes == (m + 7) // 8
        # tighter targets need monotonically more bits
    assert (rows["target_fpr_0.0001"].m_bits
            > rows["target_fpr_0.001"].m_bits
            > rows["target_fpr_0.01"].m_bits)


def test_whitening_effect_matches_python_model(spark, sf_dir):
    import numpy as np
    row = QUERIES["embedding_whitening_effect"](spark, sf_dir) \
        .collect()[0]
    V = np.stack([np.array(r.embedding, dtype=np.float64) for r in
                  load_tables(spark, sf_dir, ("embeddings",))
                  ["embeddings"].select("embedding").collect()])
    n = len(V)

    def avg_cos(M):
        Mh = M / np.linalg.norm(M, axis=1, keepdims=True)
        S = Mh.sum(axis=0)
        return (float(S @ S) - n) / (n * (n - 1))

    before = avg_cos(V)
    m = np.round(V.mean(axis=0), 9)
    sd = np.round(np.sqrt((V * V).mean(axis=0) - V.mean(axis=0) ** 2), 9)
    after = avg_cos((V - m) / sd)
    assert row.n_vecs == n
    assert math.isclose(row.avg_cos_before, before, abs_tol=2e-6)
    assert math.isclose(row.avg_cos_after, after, abs_tol=2e-6)
    # centering guarantees the mean of the (unnormalized) whitened
    # cloud is exactly zero, so the normalized average cosine must sit
    # near zero whatever the input's anisotropy (the synthetic corpus
    # is already near-isotropic, so "strictly shrinks" is NOT a valid
    # claim here - near-zero is)
    assert abs(row.avg_cos_after) < 0.01


def test_logrank_matches_python_model(spark, sf_dir):
    row = QUERIES["stats_logrank_test"](spark, sf_dir).collect()[0]
    ev = load_tables(spark, sf_dir, ("events",))["events"] \
        .select("user_id", "ts", "event_type").collect()
    signup, purchase = {}, {}
    horizon = max(r.ts for r in ev)
    for r in ev:
        if r.event_type == "signup":
            signup[r.user_id] = min(r.ts, signup.get(r.user_id, r.ts))
    for r in ev:
        if (r.event_type == "purchase" and r.user_id in signup
                and r.ts >= signup[r.user_id]):
            purchase[r.user_id] = min(r.ts,
                                      purchase.get(r.user_id, r.ts))
    subj = []
    for u, s in signup.items():
        end = purchase.get(u, horizon)
        t = int((end - s).total_seconds() * 1e6) // 86_400_000_000
        subj.append((u % 2 == 1, t, u in purchase))
    times = sorted({t for _, t, e in subj if e})
    o1 = e1 = v = 0.0
    for t in times:
        n1 = sum(1 for g, tt, _ in subj if g and tt >= t)
        n2 = sum(1 for g, tt, _ in subj if not g and tt >= t)
        d1 = sum(1 for g, tt, e in subj if g and e and tt == t)
        d2 = sum(1 for g, tt, e in subj if not g and e and tt == t)
        dt, nt = d1 + d2, n1 + n2
        o1 += d1
        e1 += round(dt * n1 / nt, 9)
        if nt > 1:
            v += round(dt * n1 * n2 * (nt - dt) / (nt ** 2 * (nt - 1)), 9)
    assert row.observed_grp1 == o1
    assert math.isclose(row.expected_grp1, e1, abs_tol=2e-5)
    chi2 = (o1 - e1) ** 2 / v
    assert math.isclose(row.chi2, chi2, abs_tol=1e-3)
    # random parity assignment: survival curves should NOT differ
    assert not row.reject_equal_survival


def test_concordance_matches_python_model(spark, sf_dir):
    from collections import Counter
    row = QUERIES["source_ranking_concordance"](spark, sf_dir) \
        .collect()[0]
    per_src = defaultdict(Counter)
    for r in _docs(spark, sf_dir):
        per_src[r.source].update(r.text.split(" "))
    met = {}
    for src, cnt in per_src.items():
        F_tot = sum(cnt.values())
        met[src] = (round(sum(1 for c in cnt.values() if c == 1)
                          / len(cnt), 9),
                    round(len(cnt) / F_tot, 9), F_tot)
    srcs = sorted(met)
    ranks = defaultdict(int)
    for axis in range(3):
        order = sorted(srcs, key=lambda s: (met[s][axis], s))
        for i, s in enumerate(order, 1):
            ranks[s] += i
    n, m = len(srcs), 3
    sum_r = sum(ranks.values())
    sum_r2 = sum(v * v for v in ranks.values())
    w = (12 * (sum_r2 - sum_r * sum_r / n)) / (m * m * n * (n * n - 1))
    assert row.n_sources == n
    assert math.isclose(row.kendalls_w, w, abs_tol=2e-6)
    assert math.isclose(row.chi2, m * (n - 1) * w, abs_tol=5e-5)
    # W is a normalized concordance: within [0, 1]
    assert -1e-9 <= row.kendalls_w <= 1.0 + 1e-9


def test_edge_churn_matches_python_model(spark, sf_dir):
    row = QUERIES["graph_edge_churn_halves"](spark, sf_dir).collect()[0]
    t = load_tables(spark, sf_dir, ("lineitem", "orders"))
    od = {r.o_orderkey: r.o_orderdate for r in
          t["orders"].select("o_orderkey", "o_orderdate").collect()}
    lo, hi = min(od.values()), max(od.values())
    import datetime
    cut = lo + datetime.timedelta(days=(hi - lo).days // 2)
    halves = {True: defaultdict(set), False: defaultdict(set)}
    for r in t["lineitem"].select("l_orderkey", "l_partkey").collect():
        halves[od[r.l_orderkey] < cut][r.l_orderkey].add(r.l_partkey)

    def edges(orders):
        es = set()
        for parts in orders.values():
            ps = sorted(parts)
            for i in range(len(ps)):
                for j in range(i + 1, len(ps)):
                    es.add((ps[i], ps[j]))
        return es

    e1, e2 = edges(halves[True]), edges(halves[False])
    assert (row.n_before, row.n_after) == (len(e1), len(e2))
    assert row.n_stable == len(e1 & e2)
    assert row.n_lost == len(e1 - e2) and row.n_new == len(e2 - e1)
    assert row.edge_jaccard == round(len(e1 & e2) / len(e1 | e2), 9)


def test_fd_strength_matches_python_model(spark, sf_dir):
    from collections import Counter
    rows = {r.fd: r for r in
            QUERIES["dq_functional_dependency_strength"](spark, sf_dir)
            .collect()}
    docs = _docs(spark, sf_dir)
    lang_of = {}
    for r in load_tables(spark, sf_dir, ("documents",))["documents"] \
            .select("doc_id", "lang", "source").collect():
        lang_of[r.doc_id] = (r.source, r.lang)
    for det_i, dep_i, name in ((0, 1, "source -> lang"),
                               (1, 0, "lang -> source")):
        groups = defaultdict(Counter)
        for src, lang in lang_of.values():
            pair = (src, lang)
            groups[pair[det_i]][pair[dep_i]] += 1
        n_rows = sum(sum(c.values()) for c in groups.values())
        viol = sum(sum(c.values()) - max(c.values())
                   for c in groups.values())
        got = rows[name]
        assert got.n_determinant_values == len(groups)
        assert got.n_rows == n_rows
        assert got.n_violations == viol
        assert got.confidence == round(1 - viol / n_rows, 9)
        # confidence is a share, and exact groups obey their definition
        assert 0 <= got.confidence <= 1


def test_ccf_matches_python_model(spark, sf_dir):
    rows = {r.lag: r.ccf for r in
            QUERIES["events_ccf_click_purchase"](spark, sf_dir)
            .collect()}
    cnt = defaultdict(lambda: [0, 0])
    for r in load_tables(spark, sf_dir, ("events",))["events"] \
            .select("ts", "event_type").collect():
        if r.event_type in ("click", "purchase"):
            h = r.ts.replace(minute=0, second=0, microsecond=0)
            cnt[h][0 if r.event_type == "click" else 1] += 1
    keys = sorted(cnt)
    x = [cnt[k][0] for k in keys]
    y = [cnt[k][1] for k in keys]
    n = len(x)
    sx, qx = sum(x), sum(v * v for v in x)
    sy, qy = sum(y), sum(v * v for v in y)
    for k in range(-3, 4):
        pairs = [(x[i], y[i + k]) for i in range(n)
                 if 0 <= i + k < n]
        m = len(pairs)
        p = sum(a * b for a, b in pairs)
        a = sum(a for a, _ in pairs)
        b = sum(b for _, b in pairs)
        want = (m * p - a * b) / (
            math.sqrt(m * qx - sx * sx) * math.sqrt(m * qy - sy * sy))
        assert math.isclose(rows[k], want, abs_tol=2e-6), k
    # a correlation-like quantity stays within loose unit bounds
    assert all(abs(v) <= 1.5 for v in rows.values())


def test_last_digit_uniformity_matches_python_model(spark, sf_dir):
    from collections import Counter
    row = QUERIES["dq_last_digit_uniformity"](spark, sf_dir).collect()[0]
    digs = Counter(round(r.o_totalprice * 100) % 10 for r in
                   load_tables(spark, sf_dir, ("orders",))["orders"]
                   .select("o_totalprice").collect())
    n = sum(digs.values())
    chi2 = sum((digs.get(d, 0) - n / 10) ** 2 / (n / 10)
               for d in range(10))
    assert row.n_rows == n
    assert row.n_digits_seen == len(digs)
    assert math.isclose(row.chi2, chi2, abs_tol=2e-5)
    assert row.reject_uniform == (row.chi2 > 16.9189776046)


def test_rayleigh_matches_python_model(spark, sf_dir):
    row = QUERIES["events_peak_hour_rayleigh"](spark, sf_dir) \
        .collect()[0]
    hrs = [r.ts.hour for r in
           load_tables(spark, sf_dir, ("events",))["events"]
           .select("ts", "event_type").collect()
           if r.event_type == "purchase"]
    n = len(hrs)
    C = round(sum(math.cos(2 * math.pi * h / 24) for h in hrs), 6)
    S = round(sum(math.sin(2 * math.pi * h / 24) for h in hrs), 6)
    assert row.n_events == n
    assert math.isclose(row.resultant_length,
                        math.sqrt(C * C + S * S) / n, abs_tol=2e-6)
    assert math.isclose(row.rayleigh_z, (C * C + S * S) / n,
                        abs_tol=2e-5)
    ang = math.atan2(S, C)
    if ang < 0:
        ang += 2 * math.pi
    assert row.peak_hour == round(ang * 24 / (2 * math.pi)) % 24
    # resultant length is a normalized magnitude in [0, 1]
    assert 0.0 <= row.resultant_length <= 1.0


def test_capacity_profile_matches_python_model(spark, sf_dir):
    rows = {r.hour_of_day: r for r in
            QUERIES["events_capacity_profile"](spark, sf_dir).collect()}
    loads = defaultdict(lambda: defaultdict(int))
    for r in load_tables(spark, sf_dir, ("events",))["events"] \
            .select("ts").collect():
        loads[r.ts.hour][r.ts.date()] += 1
    for hr, per_day in loads.items():
        cs = sorted(per_day.values())
        n = len(cs)
        got = rows[hr]
        assert got.n_days == n
        assert got.median_load == cs[(n + 1) // 2 - 1]
        assert got.p95_load == cs[max(1, (n * 95 + 99) // 100) - 1]
        assert got.peak_load == cs[-1]
        assert got.mean_load == round(sum(cs) / n, 6)
        # ordering of the order statistics
        assert got.median_load <= got.p95_load <= got.peak_load


def test_lsh_bucket_stats_bound_actual_candidates(spark, sf_dir):
    rows = QUERIES["dedup_lsh_bucket_stats"](spark, sf_dir).collect()
    # the per-band pair bounds must cover the DISTINCT candidate pairs
    # the actual LSH join emits (a pair can collide in several bands,
    # so the summed bound >= distinct candidates)
    from results_ingestor_spark.operators.dedup import (
        lsh_candidate_pairs, with_minhash)
    t = load_tables(spark, sf_dir, ("documents",))
    sig = with_minhash(t["documents"]).select(
        "doc_id", "band0", "band1", "band2", "band3")
    n_cand = lsh_candidate_pairs(sig).count()
    total_bound = sum(r.candidate_pairs_bound for r in rows)
    assert total_bound >= n_cand
    for r in rows:
        assert r.max_bucket >= 1 and r.n_buckets >= 1
        assert r.mean_bucket * r.n_buckets >= r.max_bucket - 1e-6


def test_transitivity_violation_consistent_with_pairs(spark, sf_dir):
    row = QUERIES["dedup_transitivity_violation_rate"](spark, sf_dir) \
        .collect()[0]
    pairs = {(r.id_a, r.id_b) for r in
             QUERIES["dedup_minhash_lsh"](spark, sf_dir)
             .select("id_a", "id_b").collect()}
    assert row.n_pairs == len(pairs)
    adj = defaultdict(set)
    for a, b in pairs:
        adj[a].add(b)
        adj[b].add(a)
    wedges = closed = 0
    for mid, nbrs in adj.items():
        ns = sorted(nbrs)
        for i in range(len(ns)):
            for j in range(i + 1, len(ns)):
                wedges += 1
                x, y = ns[i], ns[j]
                if (x, y) in pairs or (y, x) in pairs:
                    closed += 1
    assert (row.n_wedges, row.n_closed) == (wedges, closed)
    assert row.n_open == wedges - closed
    if wedges:
        assert row.violation_rate == round((wedges - closed) / wedges, 9)


def test_theil_decomposition_additivity(spark, sf_dir):
    row = QUERIES["text_theil_inequality_decomposition"](spark, sf_dir) \
        .collect()[0]
    docs = load_tables(spark, sf_dir, ("documents",))["documents"] \
        .select("source", "n_chars").collect()
    xs = [(r.source, r.n_chars) for r in docs]
    n = len(xs)
    sx = sum(x for _, x in xs)
    mu = sx / n
    theil = sum((x / mu) * math.log(x / mu) for _, x in xs) / n
    groups = defaultdict(list)
    for s, x in xs:
        groups[s].append(x)
    theil_b = sum((sum(g) / sx) * math.log((sum(g) / len(g)) / mu)
                  for g in groups.values())
    # the explicit within-group Theil must reproduce total - between
    theil_w = sum((sum(g) / sx)
                  * (sum((x / (sum(g) / len(g)))
                         * math.log(x / (sum(g) / len(g))) for x in g)
                     / len(g))
                  for g in groups.values())
    assert row.n_docs == n
    assert math.isclose(row.theil_total, theil, abs_tol=2e-5)
    assert math.isclose(row.theil_between, theil_b, abs_tol=2e-5)
    assert math.isclose(row.theil_within, theil_w, abs_tol=5e-5)
    # Theil's defining property: exact additive decomposition, and
    # both components are non-negative
    assert math.isclose(row.theil_total,
                        row.theil_between + row.theil_within,
                        abs_tol=3e-6)
    assert row.theil_between >= -1e-9 and row.theil_within >= -1e-9


def test_burstiness_memory_matches_python_model(spark, sf_dir):
    rows = {r.event_type: r for r in
            QUERIES["events_burstiness_memory"](spark, sf_dir).collect()}
    streams = defaultdict(list)
    for r in load_tables(spark, sf_dir, ("events",))["events"] \
            .select("event_type", "user_id", "ts", "event_id").collect():
        streams[(r.event_type, r.user_id)].append(
            (r.ts, r.event_id))
    gaps_by_type = defaultdict(list)
    pairs_by_type = defaultdict(list)
    for (et, _), evs in streams.items():
        evs.sort()
        gs = [round((b[0] - a[0]).total_seconds() * 1e6)
              for a, b in zip(evs, evs[1:])]
        gaps_by_type[et] += gs
        pairs_by_type[et] += list(zip(gs, gs[1:]))
    for et, gs in gaps_by_type.items():
        n = len(gs)
        mu = sum(gs) / n
        sig = math.sqrt((n * sum(g * g for g in gs)
                         - sum(gs) ** 2)) / n
        got = rows[et]
        assert got.n_gaps == n
        assert math.isclose(got.burstiness_b, (sig - mu) / (sig + mu),
                            abs_tol=2e-6)
        ps = pairs_by_type[et]
        m = len(ps)
        sa, sb = sum(a for a, _ in ps), sum(b for _, b in ps)
        qa = sum(a * a for a, _ in ps)
        qb = sum(b * b for _, b in ps)
        pab = sum(a * b for a, b in ps)
        want_m = (m * pab - sa * sb) / (
            math.sqrt(m * qa - sa * sa) * math.sqrt(m * qb - sb * sb))
        assert math.isclose(got.memory_m, want_m, abs_tol=2e-6)
        # B and M live on the phase diagram's bounded axes
        assert -1.0 <= got.burstiness_b <= 1.0
        assert -1.0 - 1e-9 <= got.memory_m <= 1.0 + 1e-9


def test_deletion_vector_tradeoff_matches_python_model(spark, sf_dir):
    import hashlib
    row = QUERIES["layout_deletion_vector_tradeoff"](spark, sf_dir) \
        .collect()[0]
    docs = load_tables(spark, sf_dir, ("documents",))["documents"] \
        .select("doc_id", "n_chars").collect()
    shards = defaultdict(lambda: [0, 0, 0, 0])
    for r in docs:
        h = int(hashlib.md5(str(r.doc_id).encode()).hexdigest()[:15], 16)
        dele = int(hashlib.md5(f"del:{r.doc_id}".encode())
                   .hexdigest()[:15], 16) % 100 < 5
        s = shards[h % 64]
        s[0] += 1
        s[1] += r.n_chars
        if dele:
            s[2] += 1
            s[3] += r.n_chars
    touched = [s for s in shards.values() if s[2] > 0]
    cow = sum(s[1] for s in touched)
    dv = sum((s[0] + 7) // 8 for s in shards.values())
    assert row.n_shards == len(shards)
    assert row.n_shards_touched == len(touched)
    assert row.n_rows_deleted == sum(s[2] for s in shards.values())
    assert row.cow_rewrite_bytes == cow
    assert row.dv_bytes == dv
    assert row.cow_write_amplification == round(
        cow / sum(s[3] for s in touched), 6)
    assert row.cow_over_dv_ratio == round(cow / dv, 6)
    # the report's point: at a scattered 5% delete, COW amplification
    # is large (touched shards rewrite whole)
    assert row.cow_write_amplification > 2.0


def test_source_influence_loo_matches_python_model(spark, sf_dir):
    rows = {r.source: r for r in
            QUERIES["dataset_source_influence_loo"](spark, sf_dir)
            .collect()}
    g = defaultdict(lambda: [0, 0])
    for r in load_tables(spark, sf_dir, ("documents",))["documents"] \
            .select("source", "n_chars").collect():
        g[r.source][0] += 1
        g[r.source][1] += r.n_chars
    nn = sum(v[0] for v in g.values())
    ss = sum(v[1] for v in g.values())
    full = ss / nn
    total_influence = 0.0
    for src, (n, s) in g.items():
        got = rows[src]
        loo = (ss - s) / (nn - n)
        assert got.n_docs == n
        assert got.corpus_mean_chars == round(full, 6)
        assert got.loo_mean_chars == round(loo, 6)
        assert got.influence == round(full - loo, 6)
        total_influence += full - loo
    # influences are signed deviations around the mean: they (weighted
    # by the complement sizes) cancel — the unweighted sum is small
    assert abs(total_influence) < abs(full) * 0.5


def test_id_sequence_gaps_match_python_model(spark, sf_dir):
    row = QUERIES["dq_id_sequence_gaps"](spark, sf_dir).collect()[0]
    ids = sorted(r.o_orderkey for r in
                 load_tables(spark, sf_dir, ("orders",))["orders"]
                 .select("o_orderkey").collect())
    gaps = [b - a - 1 for a, b in zip(ids, ids[1:]) if b - a > 1]
    assert (row.min_id, row.max_id, row.n_ids) == \
        (ids[0], ids[-1], len(ids))
    assert row.n_gaps == len(gaps)
    assert row.total_missing == sum(gaps)
    assert row.largest_gap == (max(gaps) if gaps else 0)
    assert row.density == round(len(ids) / (ids[-1] - ids[0] + 1), 9)
    # conservation: observed + missing spans the id range exactly
    assert row.n_ids + row.total_missing == row.max_id - row.min_id + 1


def test_slo_burn_rate_matches_python_model(spark, sf_dir):
    from datetime import timedelta
    row = QUERIES["events_slo_burn_rate"](spark, sf_dir).collect()[0]
    ev = load_tables(spark, sf_dir, ("events",))["events"] \
        .select("ts", "event_type").collect()
    as_of = max(r.ts for r in ev)

    def window(h):
        lo = as_of - timedelta(hours=h)
        n = sum(1 for r in ev if r.ts > lo)
        e = sum(1 for r in ev if r.ts > lo and r.event_type == "error")
        return n, e

    n1, e1 = window(1)
    n6, e6 = window(6)
    n24, e24 = window(24)
    assert (row.n_events_1h, row.n_errors_1h) == (n1, e1)
    assert row.burn_1h == round(100 * e1 / n1 / 1, 6)
    assert row.burn_6h == round(100 * e6 / n6 / 1, 6)
    assert row.burn_24h == round(100 * e24 / n24 / 1, 6)
    assert row.page_alert == (row.burn_1h > 14.4 and row.burn_6h > 6.0)
    assert row.ticket_alert == (row.burn_6h > 6.0
                                and row.burn_24h > 3.0)
    # the 24h window always holds enough of the ~20%-error stream to
    # show a hard burn; the shorter windows can be sparse at tiny SF,
    # so the alert CONJUNCTIONS are only consistency-checked above
    assert row.burn_24h > 3.0


def test_duplicate_payments_constructed_fixture(spark, tmp_path):
    """The synthetic corpus has no same-customer same-cent pairs within
    +/-7 days at ANY tested SF (measured r8), so the corpus-model test
    above compares empty sets.  This fixture engineers true duplicates,
    a near-miss amount, and an out-of-window repeat so the blocking
    key, the day band, the key_a<key_b dedup, and the LIMIT ordering
    are all actually exercised."""
    import datetime as dt
    rows = [
        # (orderkey, custkey, status, totalprice, orderdate, priority)
        (1, 10, "O", 100.00, dt.datetime(1995, 3, 1), "1-URGENT"),
        (2, 10, "O", 100.00, dt.datetime(1995, 3, 5), "1-URGENT"),  # dup
        (3, 10, "O", 100.00, dt.datetime(1995, 3, 20), "1-URGENT"),  # out of window
        (4, 10, "O", 100.01, dt.datetime(1995, 3, 2), "1-URGENT"),  # near miss
        (5, 11, "O", 100.00, dt.datetime(1995, 3, 2), "1-URGENT"),  # other cust
        (6, 11, "O", 250.50, dt.datetime(1995, 4, 1), "1-URGENT"),
        (7, 11, "F", 250.50, dt.datetime(1995, 4, 3), "1-URGENT"),  # dup
        (8, 12, "O", 0.29, dt.datetime(1995, 5, 1), "1-URGENT"),
        (9, 12, "O", 0.29, dt.datetime(1995, 5, 8), "1-URGENT"),  # dup, 7d edge
    ]
    df = spark.createDataFrame(
        rows, "o_orderkey bigint, o_custkey bigint, o_orderstatus string,"
        " o_totalprice double, o_orderdate timestamp,"
        " o_orderpriority string")
    df.coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "orders.parquet"))
    got = [(r.key_a, r.key_b, r.custkey, r.amount_cents, r.gap_days)
           for r in QUERIES["dq_duplicate_payment_candidates"](
               spark, str(tmp_path)).collect()]
    assert got == [
        (1, 2, 10, 10000, 4),
        (6, 7, 11, 25050, 2),
        (8, 9, 12, 29, 7),
    ]


@pytest.mark.parametrize("draw", [1, 2, 3, 4, 5])
def test_lottery_corpus_generator_invariants(draw, tmp_path, sf_dir):
    """tools/gen_lottery_corpus.py must preserve shape (row counts,
    schemas, referential keys) while genuinely perturbing the lottery
    surfaces — full-precision money, shifted dates, changed text —
    for EVERY defined draw, otherwise a sweep on that draw proves
    nothing.  Constants come from DRAWS, not hardcoded, so editing a
    draw keeps the invariants checked rather than breaking the test."""
    import duckdb

    from tools.gen_lottery_corpus import DRAW_KEYS, DRAWS, generate
    params = dict(zip(DRAW_KEYS, DRAWS[draw]))
    base = sf_dir
    out = str(tmp_path / f"lottery{draw}")
    generate(base, out, draw)
    con = duckdb.connect()
    try:
        for t in ("events", "orders", "lineitem", "documents",
                  "embeddings", "customer", "part"):
            nb = con.execute(
                f"SELECT count(*) FROM '{base}/{t}.parquet'").fetchone()[0]
            no = con.execute(
                f"SELECT count(*) FROM '{out}/{t}.parquet'").fetchone()[0]
            assert nb == no, t
        # money is off the 2-decimal grid for (nearly) every row, and
        # stays strictly positive under every draw's multiplier
        frac, vmin = con.execute(f"""
            SELECT count_if(abs(value*100 - round(value*100)) > 1e-6)
                   / count(*), min(value)
            FROM '{out}/events.parquet'""").fetchone()
        assert frac > 0.95 and vmin > 0
        # order->lineitem key space intact (referential joins survive)
        orphans = con.execute(f"""
            SELECT count(*) FROM '{out}/lineitem.parquet' l
            WHERE NOT EXISTS (SELECT 1 FROM '{out}/orders.parquet' o
                              WHERE o.o_orderkey = l.l_orderkey)
        """).fetchone()[0]
        assert orphans == 0
        # text actually changed, vocab perturbation present
        suffixed = con.execute(f"""
            SELECT count_if(text LIKE '% zq%') FROM
            '{out}/documents.parquet'""").fetchone()[0]
        assert suffixed == con.execute(
            f"SELECT count(*) FROM '{out}/documents.parquet'").fetchone()[0]
        # lineitem ship shift follows its ORDER's key (relationships
        # kept): un-shifting by the DRAW's day_mod must reproduce the
        # base multiset exactly (multiset compare — the
        # (orderkey, linenumber, partkey) tuple is not unique in the
        # base, so a row-level join would cross-pair dups)
        bad = con.execute(f"""
            SELECT count(*) FROM (
              SELECT l_orderkey, l_linenumber, l_partkey,
                     l_shipdate - INTERVAL
                       (l_orderkey % {params["day_mod"]}) DAY AS s
              FROM '{out}/lineitem.parquet'
              EXCEPT ALL
              SELECT l_orderkey, l_linenumber, l_partkey, l_shipdate
              FROM '{base}/lineitem.parquet')
        """).fetchone()[0]
        assert bad == 0
    finally:
        con.close()
