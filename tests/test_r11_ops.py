"""Round-11 additions: mechanism-contract pins (brute-force /
replay) for the operators registered in round 11.  The DuckDB
oracle certifies cross-engine values; these tests certify the
SEMANTICS against independent python replays."""

from __future__ import annotations

from pyspark.sql import functions as F

from fxblue_etl_spark.io import table


def _union_find(edges):
    parent: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    for a, b in edges:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo
    comps: dict = {}
    for v in parent:
        comps.setdefault(find(v), set()).add(v)
    return comps


def test_chunk_dedup_rewrite_keeps_one_canonical_chunk_per_component(
    spark, sf_dir
):
    """Full python replay of the SlimPajama rewrite step: union-find
    over the certified chunk near-dup pairs, survivor = the member
    whose parent doc has max q10 (ties → min key), per-doc
    accounting — every output cell must match exactly."""
    from fxblue_etl_spark.operators.dedup import (
        CHUNK_KEY_MOD,
        chunk_dedup_rewrite,
        chunk_lsh_neardup,
        chunk_pseudo_docs,
    )
    from fxblue_etl_spark.operators.textops import quality_score

    pairs = [
        (
            r["doc_a"] * CHUNK_KEY_MOD + r["chunk_a"],
            r["doc_b"] * CHUNK_KEY_MOD + r["chunk_b"],
        )
        for r in chunk_lsh_neardup(spark, sf_dir).collect()
    ]
    assert pairs, "fixture must exercise the rewrite"
    comps = _union_find(pairs)
    q10 = {
        r["doc_id"]: int(round(r["quality_score"] * 10))
        for r in quality_score(spark, sf_dir).collect()
    }
    sizes = {
        r["key"]: r["n"]
        for r in chunk_pseudo_docs(table(spark, sf_dir, "documents"))
        .select("key", F.size("ctoks").alias("n"))
        .collect()
    }
    dropped_keys: set = set()
    for members in comps.values():
        assert len(members) > 1  # components only exist from pairs
        survivor = max(
            members, key=lambda k: (q10[k // CHUNK_KEY_MOD], -k)
        )
        dropped_keys |= members - {survivor}
    # exactly one survivor per component
    assert sum(len(m) for m in comps.values()) - len(comps) == len(
        dropped_keys
    )
    per_doc_all: dict = {}
    for k, n in sizes.items():
        d = per_doc_all.setdefault(k // CHUNK_KEY_MOD, [0, 0])
        d[0] += 1
        d[1] += n
    per_doc_drop: dict = {}
    for k in dropped_keys:
        d = per_doc_drop.setdefault(k // CHUNK_KEY_MOD, [0, 0])
        d[0] += 1
        d[1] += sizes[k]
    expected = {
        doc: (
            per_doc_all[doc][0],
            nd,
            per_doc_all[doc][1],
            td,
            1_000_000 * (per_doc_all[doc][1] - td) // per_doc_all[doc][1],
        )
        for doc, (nd, td) in per_doc_drop.items()
    }
    got = {
        r["doc_id"]: (
            r["n_chunks"],
            r["n_chunks_dropped"],
            r["chunk_toks"],
            r["chunk_toks_dropped"],
            r["keep_ppm"],
        )
        for r in chunk_dedup_rewrite(spark, sf_dir).collect()
    }
    assert got == expected
    # rewrite must actually drop something on the near-dup-rich
    # fixture, and never everything (the survivor stays)
    assert got
    for n_chunks, n_dropped, toks, toks_dropped, keep in got.values():
        # a doc CAN lose every chunk (survivors may all live in other
        # docs), so the bounds are inclusive
        assert 1 <= n_dropped <= n_chunks
        assert 0 < toks_dropped <= toks
        assert 0 <= keep < 1_000_000


def test_streaming_observed_metrics_state_bounds_at_sf01(spark):
    """Round-10 verdict item 8's 'Done' clause: a state-bound
    assertion at sf0.1 — the state-store row total must be bounded by
    the number of distinct event-time windows (state scales with OPEN
    WINDOWS, never with stream length), evictions must account for
    every expired window, and the flush batch must drain all but the
    still-open tail."""
    from fxblue_etl_spark.streaming.pipelines import (
        OBS_WIN_MS,
        streaming_observed_metrics,
    )

    sf01 = "/root/testdata/sf0.1"
    rows = sorted(
        streaming_observed_metrics(spark, sf01).collect(),
        key=lambda r: r["batch_id"],
    )
    ev = table(spark, sf01, "events")
    n_events = ev.count()
    n_windows = ev.select(
        (F.expr("unix_millis(cast(ts as timestamp))") / OBS_WIN_MS)
        .cast("long")
        .alias("w")
    ).distinct().count()
    # conservation: every event enters exactly one micro-batch
    assert sum(r["n_input_rows"] for r in rows) == n_events
    # THE bound: state never exceeds the distinct-window count, at
    # 100x the fixture exactly as at 1x
    for r in rows:
        assert r["state_rows_total"] <= n_windows
    # total evictions + final open state account for every window
    # that ever entered state
    assert (
        sum(r["state_rows_removed"] for r in rows)
        + rows[-1]["state_rows_total"]
        <= n_windows
    )
    # the flush batch drains state down to the un-expirable tail
    # (windows newer than final watermark - one window width)
    assert rows[-1]["n_input_rows"] == 0
    assert rows[-1]["state_rows_total"] <= 2
    # watermark is monotone non-decreasing across batches
    wms = [r["wm_epoch_ms"] for r in rows]
    assert wms == sorted(wms)


def _pair_samples(spark, sf_dir):
    from fxblue_etl_spark.io import table as _t

    rows = (
        _t(spark, sf_dir, "lineitem")
        .select(
            F.col("l_returnflag").alias("g"),
            F.floor(F.col("l_extendedprice") * 100).cast("long").alias("y"),
        )
        .collect()
    )
    by: dict = {}
    for r in rows:
        by.setdefault(r["g"], []).append(r["y"])
    return by


def test_mann_whitney_u_matches_bruteforce(spark, sf_dir):
    """Pure-python replay: U via pairwise comparison counting (2x
    scaled: wins count 2, ties count 1), tie term over the merged
    multiset, z off the identical formula — every cell exact."""
    import math

    from fxblue_etl_spark.plans.stats import mann_whitney_u

    by = _pair_samples(spark, sf_dir)
    got = {
        (r["ga"], r["gb"]): r
        for r in mann_whitney_u(spark, sf_dir).collect()
    }
    assert set(got) == {
        (a, b) for a in by for b in by if a < b
    }
    for (ga, gb), r in got.items():
        xs, ys = sorted(by[ga]), sorted(by[gb])
        # counting via merged value histogram (O(V) — the brute pair
        # loop would be 1e8 at sf0.001 already)
        from collections import Counter

        cx, cy = Counter(xs), Counter(ys)
        u2 = 0
        cum_b = 0
        for v in sorted(set(cx) | set(cy)):
            u2 += cx.get(v, 0) * (2 * cum_b + cy.get(v, 0))
            cum_b += cy.get(v, 0)
        na, nb = len(xs), len(ys)
        tie = sum(
            t ** 3 - t for t in (Counter(xs + ys)).values()
        )
        assert r["n_a"] == na and r["n_b"] == nb
        assert r["u2_a"] == u2
        assert r["tie_term"] == tie
        n = na + nb
        var = (na * nb / 12.0) * ((n + 1) - tie / (n * (n - 1.0)))
        z = (u2 - na * nb) / (2.0 * math.sqrt(var))
        assert r["z_e6"] == math.floor(z * 1e6)
        # antisymmetry sanity: U_a + U_b == n_a * n_b (2x scale)
        u2_b = 2 * na * nb - u2
        assert 0 <= u2_b <= 2 * na * nb


def test_ks_two_sample_matches_bruteforce(spark, sf_dir):
    from collections import Counter

    from fxblue_etl_spark.plans.stats import _KS_C2_E6, ks_two_sample

    by = _pair_samples(spark, sf_dir)
    got = {
        (r["ga"], r["gb"]): r for r in ks_two_sample(spark, sf_dir).collect()
    }
    for (ga, gb), r in got.items():
        cx, cy = Counter(by[ga]), Counter(by[gb])
        na, nb = sum(cx.values()), sum(cy.values())
        d_num = 0
        ca = cb = 0
        for v in sorted(set(cx) | set(cy)):
            ca += cx.get(v, 0)
            cb += cy.get(v, 0)
            d_num = max(d_num, abs(ca * nb - cb * na))
        assert (r["n_a"], r["n_b"], r["d_num"]) == (na, nb, d_num)
        assert r["d_ppm"] == 1_000_000 * d_num // (na * nb)
        assert r["sig_05"] == int(
            d_num * d_num * 1_000_000 > _KS_C2_E6 * (na + nb) * na * nb
        )


def test_t_closeness_matches_python_emd(spark, sf_dir):
    """Replay the ordered EMD exactly: per QI group, cumulative
    cross-multiplied distance against the corpus distribution over
    the 5 ordered priorities."""
    from fxblue_etl_spark.plans.dq import (
        BAL_BUCKET_WIDTH,
        T_CLOSE_T_PPM,
        t_closeness_audit,
    )

    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    rows = (
        c.select(
            "c_custkey",
            F.col("c_nationkey").alias("nk"),
            F.col("c_mktsegment").alias("seg"),
            F.floor(F.col("c_acctbal") / BAL_BUCKET_WIDTH)
            .cast("long")
            .alias("bb"),
        )
        .join(o.select("o_custkey", "o_orderpriority"), F.col("c_custkey") == F.col("o_custkey"))
        .select("nk", "seg", "bb", F.col("o_orderpriority").alias("pri"))
        .collect()
    )
    pris = sorted({r["pri"] for r in rows})
    m = len(pris)
    from collections import Counter

    corpus = Counter(r["pri"] for r in rows)
    n_all = len(rows)
    groups: dict = {}
    for r in rows:
        groups.setdefault((r["nk"], r["seg"], r["bb"]), Counter())[r["pri"]] += 1
    expected = {}
    for key, cnt in groups.items():
        n_g = sum(cnt.values())
        gcum = ccum = t_num = 0
        for p in pris[:-1]:  # last step is identically zero
            gcum += cnt.get(p, 0)
            ccum += corpus[p]
            t_num += abs(gcum * n_all - ccum * n_g)
        t_ppm = 1_000_000 * t_num // (n_g * n_all * (m - 1))
        expected[key] = (n_g, t_num, t_ppm, int(t_ppm > T_CLOSE_T_PPM))
    got = {
        (r["nationkey"], r["mktsegment"], r["bal_bucket"]): (
            r["n_rows"],
            r["t_num"],
            r["t_ppm"],
            r["at_risk_t"],
        )
        for r in t_closeness_audit(spark, sf_dir).collect()
    }
    assert got == expected
    # the audit is load-bearing on the fixture: distances vary
    assert len({v[2] for v in got.values()}) > 1


def test_cusum_matches_naive_recursion(spark, sf_dir):
    """The window identities must equal the textbook recursion
    S+_i = max(0, S+_{i-1} + n·(x_i − μ)) replayed in python on the
    n-scaled integer series, peak and alarm counts included."""
    from fxblue_etl_spark.operators.temporal import (
        CUSUM_H_PCT,
        cusum_drift_monitor,
    )

    daily = sorted(
        (r["d"], r["cents"])
        for r in table(spark, sf_dir, "orders")
        .groupBy(F.col("o_orderdate").cast("string").alias("d"))
        .agg(
            F.sum(F.floor(F.col("o_totalprice") * 100))
            .cast("long")
            .alias("cents")
        )
        .collect()
    )
    n = len(daily)
    s_tot = sum(c for _, c in daily)
    h = s_tot * n * CUSUM_H_PCT // 100
    sp = sn = 0
    exp = {"pos": [0, None, 0], "neg": [0, None, 0]}  # max, peak day, alarms
    for d, c in daily:
        dev = n * c - s_tot
        sp = max(0, sp + dev)
        sn = max(0, sn - dev)
        for name, v in (("pos", sp), ("neg", sn)):
            if v > exp[name][0]:
                exp[name][0], exp[name][1] = v, d
            if exp[name][1] is None:
                exp[name][1] = d  # all-zero series: first day peaks
            if v > h:
                exp[name][2] += 1
    got = {
        r["direction"]: r for r in cusum_drift_monitor(spark, sf_dir).collect()
    }
    for name in ("pos", "neg"):
        r = got[name]
        assert r["n_days"] == n
        assert r["max_stat_scaled"] == exp[name][0]
        assert r["peak_date"] == exp[name][1]
        assert r["n_alarm_days"] == exp[name][2]
        assert r["h_scaled"] == h


def test_compaction_tier_plan_is_a_partition_of_the_manifest(spark, sf_dir):
    """The offset-bin rule must partition the manifest: contiguous
    date ranges per task, every row accounted for once, fill ppm
    consistent, task count within budget."""
    from fxblue_etl_spark.plans.sinks import (
        COMPACT_TASKS,
        compaction_tier_plan,
    )

    out = sorted(
        compaction_tier_plan(spark, sf_dir).collect(),
        key=lambda r: r["task_id"],
    )
    o = table(spark, sf_dir, "orders")
    total = o.count()
    n_months = (
        o.select(F.year("o_orderdate"), F.month("o_orderdate"))
        .distinct()
        .count()
    )
    assert 1 <= len(out) <= COMPACT_TASKS
    assert sum(r["n_files"] for r in out) == n_months
    assert sum(r["rows_total"] for r in out) == total
    target = max(1, total // COMPACT_TASKS)
    prev_to = None
    for r in out:
        assert r["from_ym"] <= r["to_ym"]
        if prev_to is not None:
            assert r["from_ym"] > prev_to  # contiguous, non-overlapping
        prev_to = r["to_ym"]
        assert r["fill_ppm"] == 1_000_000 * r["rows_total"] // target


def test_query_expansion_prf_matches_python_replay(spark, sf_dir):
    """Full python replay of BOTH rational-BM25 passes and the
    expansion mining: same integer formula, same (fb_tf desc, tok)
    term selection, same df stopword guard, same final ordering."""
    import re as _re
    from collections import Counter

    from fxblue_etl_spark.operators.retrieval import (
        PRF_DF_CAP_PCT,
        PRF_EXP,
        PRF_FB,
        PRF_K,
        QUERY_TERMS,
        query_expansion_prf,
    )

    docs = {
        r["doc_id"]: (r["lang"], [t for t in _re.split(r"\s+", r["text"].strip()) if t])
        for r in table(spark, sf_dir, "documents")
        .select("doc_id", "lang", "text")
        .collect()
    }
    n_docs = len(docs)
    l_total = sum(len(t) for _, t in docs.values())

    def bm25(terms):
        termset = set(terms)
        df = Counter()
        tfs = {}
        for did, (_, toks) in docs.items():
            c = Counter(t for t in toks if t in termset)
            if c:
                tfs[did] = c
                for t in c:
                    df[t] += 1
        out = {}
        for did, c in tfs.items():
            dl = len(docs[did][1])
            r_ppm = 10**6 * dl * n_docs // l_total
            s = 0
            for t, tf in c.items():
                s += (
                    10**12 * (2 * n_docs - 2 * df[t] + 1) * 22 * tf
                    // ((2 * df[t] + 1) * (10**7 * tf + 3 * 10**6 + 9 * r_ppm))
                )
            out[did] = (s, len(c))
        return out

    p1 = bm25(QUERY_TERMS)
    fb = [d for d, _ in sorted(p1.items(), key=lambda kv: (-kv[1][0], kv[0]))[:PRF_FB]]
    cand = Counter()
    for did in fb:
        for t in docs[did][1]:
            if t not in QUERY_TERMS:
                cand[t] += 1
    dfc = Counter()
    for did, (_, toks) in docs.items():
        for t in set(toks) & set(cand):
            dfc[t] += 1
    kept = {t: n for t, n in cand.items() if dfc[t] * 100 < n_docs * PRF_DF_CAP_PCT}
    exp = [t for t, _ in sorted(kept.items(), key=lambda kv: (-kv[1], kv[0]))[:PRF_EXP]]
    p2 = bm25(set(QUERY_TERMS) | set(exp))
    expect = sorted(p2.items(), key=lambda kv: (-kv[1][0], kv[0]))[:PRF_K]

    got = sorted(
        query_expansion_prf(spark, sf_dir).collect(), key=lambda r: r["rank"]
    )
    assert len(got) == len(expect) == PRF_K
    for r, (did, (score, nt)) in zip(got, expect):
        assert r["doc_id"] == did
        assert r["bm25_ppm"] == score
        assert r["n_terms_hit"] == nt
        assert r["lang"] == docs[did][0]
        assert r["is_seed_doc"] == int(did in fb)
    # the expansion genuinely changed the ranking surface: the second
    # pass must hit more terms somewhere than the seed set allows
    assert any(r["n_terms_hit"] > len(QUERY_TERMS) for r in got) or exp


def _xy2d(n, x, y):
    """Textbook Hilbert xy2d (Wikipedia variant: flips use n-1)."""
    d = 0
    s = n // 2
    while s > 0:
        rx = 1 if (x & s) > 0 else 0
        ry = 1 if (y & s) > 0 else 0
        d += s * s * ((3 * rx) ^ ry)
        if ry == 0:
            if rx == 1:
                x, y = n - 1 - x, n - 1 - y
            x, y = y, x
        s //= 2
    return d


def test_hilbert_index_matches_textbook_and_beats_zorder_locality(
    spark, sf_dir
):
    from fxblue_etl_spark.plans.zorder import (
        DIM_MOD,
        ZB_DIV,
        hilbert_clustering_stats,
        zorder_clustering_stats,
    )

    # 1. the unrolled-rounds index IS the textbook curve: replay every
    #    distinct (x, y) the fixture produces
    o = table(spark, sf_dir, "orders")
    pts = (
        o.select(
            (F.col("o_custkey") % DIM_MOD).cast("int").alias("x"),
            (
                F.datediff(
                    F.col("o_orderdate").cast("date"),
                    F.lit("1970-01-01").cast("date"),
                )
                % DIM_MOD
            )
            .cast("int")
            .alias("y"),
        )
        .distinct()
        .collect()
    )
    got = {
        (r["hb"], r["min_x"], r["max_x"], r["min_y"], r["max_y"]): r["n"]
        for r in hilbert_clustering_stats(spark, sf_dir).collect()
    }
    # bucket membership must equal the replay's bucket partition
    from collections import defaultdict

    exp_buckets = defaultdict(list)
    for p in pts:
        exp_buckets[_xy2d(DIM_MOD, p["x"], p["y"]) // ZB_DIV].append(
            (p["x"], p["y"])
        )
    exp_keys = {
        (
            b,
            min(x for x, _ in v),
            max(x for x, _ in v),
            min(y for _, y in v),
            max(y for _, y in v),
        )
        for b, v in exp_buckets.items()
    }
    assert {k for k in got} == exp_keys
    # 2. the locality claim: on ALIGNED power-of-4 ranges both
    #    quadrant-recursive curves tile exactly (the operator's fixed
    #    buckets tie by construction) — the Hilbert win appears on the
    #    EQUAL-COUNT splits a real file writer produces.  Sort the
    #    occupied cells by each curve, cut into equal-count runs, and
    #    compare total bounding-box area: Hilbert must cover less.
    def z2d(x, y):
        z = 0
        for i in range(8):
            z += ((x >> i) & 1) << (2 * i)
            z += ((y >> i) & 1) << (2 * i + 1)
        return z

    cells = [(p["x"], p["y"]) for p in pts]

    def run_area(key):
        order = sorted(cells, key=key)
        total = 0
        run = 97  # deliberately unaligned run length
        for i in range(0, len(order), run):
            chunk = order[i : i + run]
            xs = [c[0] for c in chunk]
            ys = [c[1] for c in chunk]
            total += (max(xs) - min(xs) + 1) * (max(ys) - min(ys) + 1)
        return total

    h_area = run_area(lambda c: _xy2d(DIM_MOD, c[0], c[1]))
    z_area = run_area(lambda c: z2d(c[0], c[1]))
    assert h_area < z_area, (h_area, z_area)


def test_greedy_max_cover_matches_python_greedy(spark, sf_dir):
    """Exact python replay of the greedy: same shingle universe, same
    (gain desc, doc_id asc) argmax, same coverage accounting."""
    from fxblue_etl_spark.operators.dedup import word_shingles
    from fxblue_etl_spark.operators.corpusops import (
        MAXCOV_K,
        greedy_max_cover_selection,
    )

    sets = {
        r["doc_id"]: set(r["sh"])
        for r in table(spark, sf_dir, "documents")
        .select("doc_id", word_shingles("text").alias("sh"))
        .filter(F.size(F.split(F.trim(F.lower("text")), r"\s+")) >= 3)
        .collect()
    }
    covered: set = set()
    expect = []
    for k in range(1, MAXCOV_K + 1):
        best = None
        for did, sh in sets.items():
            gain = len(sh - covered)
            if gain > 0 and (best is None or (gain, -did) > (best[0], -best[1])):
                best = (gain, did)
        if best is None:
            break
        covered |= sets[best[1]]
        expect.append((k, best[1], best[0], len(covered)))
    got = sorted(
        (
            (r["rank"], r["doc_id"], r["gain"], r["cum_tokens"])
            for r in greedy_max_cover_selection(spark, sf_dir).collect()
        )
    )
    assert got == expect
    # greedy gains are non-increasing (submodularity) and coverage
    # strictly grows
    gains = [g for _, _, g, _ in got]
    assert gains == sorted(gains, reverse=True)
    assert all(b[3] > a[3] for a, b in zip(got, got[1:]))


def test_kneser_ney_matches_python_replay(spark, sf_dir):
    """Exact python KN replay: same bigram stats, same D = 3/4
    single-quotient rational, floored to ppm — plus the smoothing
    contract (KN discounts observed-bigram mass and never exceeds
    MLE on top bigrams whose continuation share is below their MLE
    share)."""
    import re as _re
    from collections import Counter

    from fxblue_etl_spark.operators.tfidf import (
        KN_TOPK,
        kneser_ney_bigram_lm,
    )

    toks = [
        [t for t in _re.split(r"\s+", r["text"].strip()) if t]
        for r in table(spark, sf_dir, "documents").select("text").collect()
    ]
    pairs = Counter()
    for ts in toks:
        for a, b in zip(ts, ts[1:]):
            pairs[(a, b)] += 1
    ch = Counter()
    fanout = Counter()
    ncont = Counter()
    for (a, b), n in pairs.items():
        ch[a] += n
        fanout[a] += 1
        ncont[b] += 1
    t_types = len(pairs)
    top = sorted(pairs.items(), key=lambda kv: (-kv[1], kv[0]))[:KN_TOPK]
    got = sorted(
        kneser_ney_bigram_lm(spark, sf_dir).collect(),
        key=lambda r: r["rank"],
    )
    assert len(got) == KN_TOPK
    for r, ((a, b), n) in zip(got, top):
        assert (r["head"], r["nxt"], r["n"]) == (a, b, n)
        assert r["ch"] == ch[a] and r["fanout"] == fanout[a]
        assert r["ncont"] == ncont[b]
        kn = (
            1_000_000 * ((4 * n - 3) * t_types + 3 * fanout[a] * ncont[b])
        ) // (4 * ch[a] * t_types)
        assert r["kn_ppm"] == kn
        assert r["mle_ppm"] == 1_000_000 * n // ch[a]
        # discounting: observed-bigram KN mass sits below MLE unless
        # the continuation bonus outweighs the discount
        if 3 * fanout[a] * ncont[b] < 3 * t_types:
            assert r["kn_ppm"] <= r["mle_ppm"]
    # per-head KN masses are probabilities: sum over ALL continuations
    # of one observed head must be ~1 (within ppm flooring loss)
    a0 = got[0]["head"]
    total = 0
    for (a, b), n in pairs.items():
        if a != a0:
            continue
        total += (
            1_000_000 * ((4 * n - 3) * t_types + 3 * fanout[a0] * ncont[b])
        ) // (4 * ch[a0] * t_types)
    # unobserved continuations carry the rest of the interpolated
    # mass, so observed mass is <= 1; flooring loses < 1ppm per term
    assert total <= 1_000_000


def test_fwf_roundtrip_parses_every_row_and_width_gates(spark, sf_dir):
    from fxblue_etl_spark.sources.fwf import (
        FWF_LINE_WIDTH,
        _stage_fwf,
        fwf_ingest,
        read_fwf,
    )

    out = {r["o_orderstatus"]: r for r in fwf_ingest(spark, sf_dir).collect()}
    o = table(spark, sf_dir, "orders")
    exp = {
        r["o_orderstatus"]: r
        for r in o.groupBy("o_orderstatus")
        .agg(
            F.count("*").cast("long").alias("n_orders"),
            F.sum(F.floor(F.col("o_totalprice") * 100))
            .cast("long")
            .alias("total_cents"),
            F.count_distinct("o_custkey").cast("long").alias("n_customers"),
        )
        .collect()
    }
    assert set(out) == set(exp)
    for k, r in out.items():
        assert r["n_orders"] == exp[k]["n_orders"]
        assert r["total_cents"] == exp[k]["total_cents"]
        assert r["n_customers"] == exp[k]["n_customers"]
        assert r["n_bad_width"] == 0  # every rendered line is exact
    # the width gate is real: every staged line is FWF_LINE_WIDTH chars
    path = _stage_fwf(spark, sf_dir)
    lens = (
        spark.read.text(path)
        .select(F.length("value").alias("n"))
        .distinct()
        .collect()
    )
    assert [r["n"] for r in lens] == [FWF_LINE_WIDTH]
    # tolerant posture (F4): a malformed slice casts to NULL, the read
    # never raises
    import tempfile, os, uuid

    bad_dir = os.path.join(tempfile.gettempdir(), f"fwf_bad_{uuid.uuid4().hex[:8]}")
    os.makedirs(bad_dir)
    with open(os.path.join(bad_dir, "part.txt"), "w") as f:
        f.write("garbage-line-not-fixed-width\n")
    rows = read_fwf(spark, bad_dir).collect()
    assert len(rows) == 1
    assert rows[0]["o_orderkey"] is None and rows[0]["cents"] is None


def test_linkage_assignment_matches_reciprocal_best_replay(spark, sf_dir):
    """Python replay of the reciprocal-best assignment over the same
    scored candidates, plus the one-to-one and quality contracts."""
    from fxblue_etl_spark.operators.linkage import (
        LNK_ODDS_INF,
        _clean_side,
        _dirty_side,
        linkage_greedy_assignment,
        record_linkage_fs,
    )

    c = table(spark, sf_dir, "customer")
    odds = {
        (r["agree_name"], r["agree_bal"], r["agree_seg"]): (
            r["odds_ppm"] if r["odds_ppm"] is not None else LNK_ODDS_INF
        )
        for r in record_linkage_fs(spark, sf_dir).collect()
    }
    cand = (
        _clean_side(c)
        .join(_dirty_side(c), ["blk_nation", "blk_bal"])
        .select("key_c", "key_d", "name_c", "name_d", "bal_c", "bal_d", "seg_c", "seg_d")
        .collect()
    )
    scored = [
        (
            r["key_c"],
            r["key_d"],
            odds[
                (
                    int(r["name_c"] == r["name_d"]),
                    int(r["bal_c"] == r["bal_d"]),
                    int(r["seg_c"] == r["seg_d"]),
                )
            ],
        )
        for r in cand
    ]
    best_c: dict = {}
    best_d: dict = {}
    for kc, kd, s in scored:
        if kc not in best_c or (s, -kd) > (best_c[kc][0], -best_c[kc][1]):
            best_c[kc] = (s, kd)
        if kd not in best_d or (s, -kc) > (best_d[kd][0], -best_d[kd][1]):
            best_d[kd] = (s, kc)
    assigned = [
        (kc, kd)
        for kc, (_, kd) in best_c.items()
        if best_d[kd][1] == kc
    ]
    n_correct = sum(1 for kc, kd in assigned if kc == kd)
    n_dirty = len({r["key_d"] for r in cand} | set())  # candidates' dirty side
    r = linkage_greedy_assignment(spark, sf_dir).collect()[0]
    assert r["n_candidates"] == len(scored)
    assert r["n_assigned"] == len(assigned)
    assert r["n_correct"] == n_correct
    assert r["precision_ppm"] == 1_000_000 * n_correct // len(assigned)
    assert r["recall_ppm"] == 1_000_000 * n_correct // r["n_dirty_records"]
    # one-to-one: no clean or dirty key assigned twice
    assert len({a for a, _ in assigned}) == len(assigned)
    assert len({b for _, b in assigned}) == len(assigned)
    # the assignment is high-precision on the synthetic feed (odds
    # carry real signal) and recalls most of the feed
    assert r["precision_ppm"] > 900_000
    assert r["recall_ppm"] > 500_000


def test_embedding_pca_project_matches_numpy_and_partitions_corpus(
    spark, sf_dir
):
    """numpy replay of the projection histogram off the SAME
    eigenvector the operator emits, plus conservation (every vector
    lands in exactly one bin) and the variance-concentration sanity
    (the projection spreads across bins — the direction is not
    degenerate)."""
    import numpy as np

    from fxblue_etl_spark.operators.ml import (
        PCA_PROJ_BINS,
        embedding_pca_project,
        pca_power_iteration,
    )

    v = np.zeros(64, dtype=np.int64)
    for r in pca_power_iteration(spark, sf_dir).collect():
        v[r["dim_i"]] = r["v_scaled"]
    emb = np.stack(
        [
            np.asarray(r["embedding"], dtype=np.float64)
            for r in table(spark, sf_dir, "embeddings").collect()
        ]
    )
    q = np.floor(emb * 1e3).astype(np.int64)
    p = q @ v
    mn, mx = int(p.min()), int(p.max())
    bins = (p - mn) * PCA_PROJ_BINS // (mx - mn + 1)
    from collections import Counter

    expect = Counter(int(b) for b in bins)
    got = {
        r["bin_i"]: r["n_vectors"]
        for r in embedding_pca_project(spark, sf_dir).collect()
    }
    assert got == dict(expect)
    assert sum(got.values()) == len(emb)
    # non-degenerate: the top direction spreads the corpus over
    # multiple bins
    assert len(got) >= 4


def test_streaming_cusum_split_invariant_equals_batch(spark, sf_dir):
    """incremental == rebuild for the control chart: any micro-batch
    split of the order stream yields EXACTLY the batch CUSUM (keyed
    daily sums are confluent), and the carried state is calendar-
    bounded."""
    from fxblue_etl_spark.operators.temporal import cusum_drift_monitor
    from fxblue_etl_spark.streaming.pipelines import streaming_cusum_monitor

    key = lambda r: tuple(r[c] for c in r.__fields__)
    batch = sorted(map(key, cusum_drift_monitor(spark, sf_dir).collect()))
    for n_splits in (1, 4):
        prog: list = []
        got = sorted(
            map(
                key,
                streaming_cusum_monitor(
                    spark, sf_dir, prog, n_splits=n_splits
                ).collect(),
            )
        )
        assert got == batch
        if n_splits == 4:
            assert (
                len([p for p in prog if p.get("numInputRows", 0) > 0]) >= 2
            )
    n_days = (
        table(spark, sf_dir, "orders")
        .select(F.col("o_orderdate").cast("string"))
        .distinct()
        .count()
    )
    # state bound: the carried frame is one row per active day
    assert batch[0][1] == n_days  # n_days column of either direction row
