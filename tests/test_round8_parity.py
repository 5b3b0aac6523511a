"""Round-8 independent-verification tests.

The r7 program's rule, carried forward: every NEW registration whose
oracle mirrors the Spark formula ships a plain-Python brute-force
recompute or a conservation/bounds invariant in the same commit —
oracle parity cannot catch a formula error both engines share (the
vocab_growth_curve lesson). Kernels whose oracle is already an
independent formulation (correlated subqueries for the as-of joins)
need no recompute and are noted as such.
"""

from __future__ import annotations

import math
import os

import duckdb
import pytest

from velox_hadoop_spark.plans import registry

SF_SMALL = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


def _daily_rev(sf=SF_SMALL):
    """Independent daily (date, rev_cents, n_orders) via plain DuckDB scan."""
    return duckdb.sql(
        f"""
        SELECT CAST(o_orderdate AS DATE) AS d,
               CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS rev_c,
               count(*) AS n
        FROM '{sf}/orders.parquet' GROUP BY 1 ORDER BY 1
        """
    ).fetchall()


# ---------------------------------------------------------------------------
# MACD: brute-force truncated-EMA recompute (mirrored-oracle kernel)
# ---------------------------------------------------------------------------


def test_macd_brute_force_recompute(spark):
    from velox_hadoop_spark.operators.timeseries4 import (
        MACD_FAST,
        MACD_HORIZON,
        MACD_SIGNAL,
        MACD_SLOW,
    )

    daily = _daily_rev()
    days = [r[0] for r in daily]
    rev = {r[0]: r[1] / 100.0 for r in daily}

    def ema(series: dict, alpha: float) -> dict:
        out = {}
        for d in days:
            num = den = 0.0
            for b in days:
                age = (d - b).days
                if 0 <= age <= MACD_HORIZON - 1 and b in series:
                    w = (1.0 - alpha) ** age
                    num += series[b] * w
                    den += w
            out[d] = num / den
        return out

    r4 = lambda x: math.floor(x * 10000 + 0.5) / 10000  # noqa: E731
    fast, slow = ema(rev, MACD_FAST), ema(rev, MACD_SLOW)
    macd = {d: r4(fast[d] - slow[d]) for d in days}
    sig = {d: r4(v) for d, v in ema(macd, MACD_SIGNAL).items()}

    got = {
        r.d: r
        for r in registry.specs()["macd_daily_revenue"].fn(spark, SF_SMALL).collect()
    }
    assert set(got) == set(days)
    for d in days:
        assert got[d].macd == pytest.approx(macd[d], abs=2e-4), d
        assert got[d].signal == pytest.approx(sig[d], abs=2e-4), d
        assert got[d].histogram == pytest.approx(
            r4(macd[d] - sig[d]), abs=2e-4
        ), d


# ---------------------------------------------------------------------------
# Kendall tau-b: brute-force pair scan (mirrored-oracle kernel)
# ---------------------------------------------------------------------------


def test_kendall_tau_brute_force_recompute(spark):
    daily = _daily_rev()
    C = D = TX = TY = 0
    for i in range(len(daily)):
        for j in range(i + 1, len(daily)):
            dx = daily[i][1] - daily[j][1]
            dy = daily[i][2] - daily[j][2]
            if dx * dy > 0:
                C += 1
            elif dx * dy < 0:
                D += 1
            elif dx == 0 and dy != 0:
                TX += 1
            elif dx != 0 and dy == 0:
                TY += 1
    tau = (C - D) / math.sqrt((C + D + TX) * (C + D + TY))

    row = registry.specs()["kendall_tau_daily"].fn(spark, SF_SMALL).collect()[0]
    assert row.n_concordant == C and row.n_discordant == D
    assert row.tau_b == pytest.approx(round(tau, 6), abs=2e-6)
    assert -1.0 <= row.tau_b <= 1.0


# ---------------------------------------------------------------------------
# Grouped LOCF fill: conservation invariants (mirrored window formula)
# ---------------------------------------------------------------------------


def test_grouped_locf_fill_conservation(spark):
    """(1) Observed cells carry their own day average with gap_days=0;
    (2) filled cells carry EXACTLY the group's latest prior observed
    average and gap_days equals the day distance to it; (3) every
    group emits one row per spine day from its first observation on."""
    obs_rows = duckdb.sql(
        f"""
        SELECT event_type, CAST(ts AS DATE) AS d, ROUND(avg(value), 6) AS v
        FROM '{SF_SMALL}/events.parquet' GROUP BY 1, 2
        """
    ).fetchall()
    obs = {(r[0], r[1]): r[2] for r in obs_rows}
    all_days = sorted({d for _, d in obs})
    got = {
        (r.event_type, r.d): r
        for r in registry.specs()["grouped_locf_daily_fill"]
        .fn(spark, SF_SMALL)
        .collect()
    }

    types = {t for t, _ in obs}
    n_expected = 0
    for t in types:
        t_days = sorted(d for tt, d in obs if tt == t)
        first = t_days[0]
        last_obs = None
        for d in all_days:
            if d < first:
                assert (t, d) not in got
                continue
            n_expected += 1
            if (t, d) in obs:
                last_obs = d
            row = got[(t, d)]
            assert row.filled_avg == pytest.approx(obs[(t, last_obs)], abs=1e-9)
            assert row.gap_days == (d - last_obs).days
    assert len(got) == n_expected


# ---------------------------------------------------------------------------
# As-of joins: oracle is an independent correlated subquery — no
# recompute needed; pin the tolerance semantics on a synthetic frame.
# ---------------------------------------------------------------------------


def test_decontam_span_merge_brute_force(spark):
    """Interval-merge recompute, independent of both engines' window
    formula: rebuild the positioned 13-gram hits in plain Python (set
    intersection of tokenized grams), merge [pos, pos+12] intervals
    with a sort-and-sweep, and compare spans/coverage per doc. Also
    checks the hit-span query's extremes against the same ground
    truth."""
    from velox_hadoop_spark.operators.contamination import BENCH_SOURCE
    from velox_hadoop_spark.operators.contamination2 import DECONTAM13_K as K

    docs = duckdb.sql(
        f"SELECT doc_id, source, text FROM '{SF_SMALL}/documents.parquet'"
    ).fetchall()
    bench_grams = set()
    for _, source, text in docs:
        if source == BENCH_SOURCE:
            w = text.split()
            bench_grams.update(
                " ".join(w[i : i + K]) for i in range(len(w) - K + 1)
            )
    expected = {}
    for doc_id, source, text in docs:
        if source == BENCH_SOURCE:
            continue
        w = text.split()
        hits = sorted(
            i + 1
            for i in range(len(w) - K + 1)
            if " ".join(w[i : i + K]) in bench_grams
        )
        if not hits:
            continue
        spans = []
        for p in hits:  # sort-and-sweep merge of [p, p+K-1]
            if spans and p <= spans[-1][1] + 1:
                spans[-1][1] = max(spans[-1][1], p + K - 1)
            else:
                spans.append([p, p + K - 1])
        covered = sum(e - s + 1 for s, e in spans)
        expected[doc_id] = (hits, spans, covered, len(w))

    got_cov = {
        r.doc_id: r
        for r in registry.specs()["decontam_span_coverage"]
        .fn(spark, SF_SMALL)
        .collect()
    }
    got_spans = {
        r.doc_id: r
        for r in registry.specs()["decontam_13gram_hit_spans"]
        .fn(spark, SF_SMALL)
        .collect()
    }
    assert set(got_cov) == set(expected) and set(got_spans) == set(expected)
    for doc_id, (hits, spans, covered, n_tokens) in expected.items():
        c = got_cov[doc_id]
        assert c.n_spans == len(spans) and c.covered_tokens == covered
        assert c.coverage_frac == pytest.approx(round(covered / n_tokens, 6))
        s = got_spans[doc_id]
        assert s.n_hits == len(hits)
        assert s.first_hit_pos == hits[0] and s.last_hit_pos == hits[-1]
    assert expected, "corpus must contain at least one contaminated doc"


# ---------------------------------------------------------------------------
# dedup2: independent recomputes and conservation invariants
# ---------------------------------------------------------------------------


def _md5_60(s: str) -> int:
    import hashlib

    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def _bucket(key, seed: str, n: int = 100) -> int:
    return _md5_60(f"{seed}|{key}") % n


def test_epoch_sampling_brute_force(spark):
    """Recompute every epoch membership in plain-Python MD5 — all seven
    overlap counters and both quota plans must match exactly (the hash
    formula is mirrored in the oracle, so parity alone can't catch a
    shared seeding mistake)."""
    from velox_hadoop_spark.operators.dedup2 import (
        EPOCH_PCT,
        EPOCH_SEEDS,
        QUOTA_PER_SOURCE,
    )

    docs = duckdb.sql(
        f"SELECT doc_id, source FROM '{SF_SMALL}/documents.parquet'"
    ).fetchall()
    members = [
        {d for d, _ in docs if _bucket(d, s) < EPOCH_PCT} for s in EPOCH_SEEDS
    ]
    row = registry.specs()["epoch_sample_overlap"].fn(spark, SF_SMALL).collect()[0]
    assert (row.n_epoch0, row.n_epoch1, row.n_epoch2) == tuple(
        len(m) for m in members
    )
    assert row.n_overlap_01 == len(members[0] & members[1])
    assert row.n_overlap_12 == len(members[1] & members[2])
    assert row.n_overlap_02 == len(members[0] & members[2])
    assert row.n_never_sampled == len(
        {d for d, _ in docs} - members[0] - members[1] - members[2]
    )

    # exact quotas: the K smallest re-seeded hashes per source, per epoch
    expected = {}
    sources = {}
    for d, src in docs:
        sources.setdefault(src, []).append(d)
    for e, seed in enumerate(EPOCH_SEEDS[:2]):
        for src, ids in sources.items():
            pick = sorted(ids, key=lambda d: (_md5_60(f"{seed}|{d}"), d))[
                :QUOTA_PER_SOURCE
            ]
            expected[(e, src)] = (len(pick), sum(pick))
    got = {
        (r.epoch, r.source): (r.n_sampled, r.id_checksum)
        for r in registry.specs()["epoch_quota_exact_per_source"]
        .fn(spark, SF_SMALL)
        .collect()
    }
    assert got == expected


def test_tablesample_nesting_and_fractions(spark):
    """The three samples are nested by construction and their counts
    match a plain-Python bucket recompute."""
    ids = [
        r[0]
        for r in duckdb.sql(
            f"SELECT doc_id FROM '{SF_SMALL}/documents.parquet'"
        ).fetchall()
    ]
    buckets = {d: _bucket(d, "split42") for d in ids}
    got = {
        r.pct: r
        for r in registry.specs()["tablesample_parity_report"]
        .fn(spark, SF_SMALL)
        .collect()
    }
    prev = set()
    for pct in (10, 20, 50):
        sample = {d for d in ids if buckets[d] < pct}
        assert got[pct].n_docs == len(sample)
        assert prev <= sample  # nesting
        assert got[pct].observed_frac == pytest.approx(
            round(len(sample) / len(ids), 6)
        )
        prev = sample


def test_cross_snapshot_decay_keeper_invariants(spark):
    """Conservation + keeper optimality, independent of the mirrored
    keeper SQL: Σ n_docs = corpus size, Σ n_kept = number of clusters,
    and for every cluster the keeper chosen by the Spark pipeline has
    the maximum decayed weight (tie → lowest id) among its members."""
    from velox_hadoop_spark.operators.dedup2 import (
        DECAY_MILLE,
        N_SNAPSHOTS,
        SNAP_SEED,
        _cluster_labels,
    )

    labels = {
        r.doc_id: r.cluster_id
        for r in _cluster_labels(spark, SF_SMALL).collect()
    }
    chars = dict(
        duckdb.sql(
            f"SELECT doc_id, n_chars FROM '{SF_SMALL}/documents.parquet'"
        ).fetchall()
    )
    clusters = {}
    for d, c in labels.items():
        clusters.setdefault(c, []).append(d)
    keepers = {}
    for c, ids in clusters.items():
        keepers[c] = max(
            ids,
            key=lambda d: (
                chars[d] * DECAY_MILLE[_bucket(d, SNAP_SEED, N_SNAPSHOTS)],
                -d,
            ),
        )
    per_snap_kept = {}
    per_snap_docs = {}
    per_snap_chars = {}
    for d in labels:
        s = _bucket(d, SNAP_SEED, N_SNAPSHOTS)
        per_snap_docs[s] = per_snap_docs.get(s, 0) + 1
        if d == keepers[labels[d]]:
            per_snap_kept[s] = per_snap_kept.get(s, 0) + 1
            per_snap_chars[s] = per_snap_chars.get(s, 0) + chars[d]
    got = {
        r.snapshot: r
        for r in registry.specs()["cross_snapshot_dedup_decay"]
        .fn(spark, SF_SMALL)
        .collect()
    }
    assert sum(r.n_docs for r in got.values()) == len(labels)
    assert sum(r.n_kept for r in got.values()) == len(clusters)
    for s, r in got.items():
        assert r.n_docs == per_snap_docs.get(s, 0)
        assert r.n_kept == per_snap_kept.get(s, 0)
        assert r.n_dropped == r.n_docs - r.n_kept
        assert r.kept_chars == per_snap_chars.get(s, 0)


def test_intra_cluster_jaccard_brute_force(spark):
    """Exact 5-gram Jaccard recompute in plain-Python sets over the
    pipeline's own cluster assignment (cluster derivation is already
    cross-checked by dedup_clusters' recursive-CTE oracle); pins the
    shingle cap, the member cap, and the zero-overlap pairs the
    shared-shingle join must not drop."""
    from velox_hadoop_spark.operators.dedup import MAX_KEY_DOC_FREQ, SHINGLE_K
    from velox_hadoop_spark.operators.dedup2 import (
        CLUSTER_AUDIT_CAP,
        _cluster_labels,
    )

    texts = dict(
        duckdb.sql(
            f"SELECT doc_id, text FROM '{SF_SMALL}/documents.parquet'"
        ).fetchall()
    )
    shingles = {}
    for d, t in texts.items():
        w = t.split()
        shingles[d] = {
            " ".join(w[i : i + SHINGLE_K]) for i in range(len(w) - SHINGLE_K + 1)
        }
    freq = {}
    for s in shingles.values():
        for g in s:
            freq[g] = freq.get(g, 0) + 1
    hot = {g for g, c in freq.items() if c > MAX_KEY_DOC_FREQ}
    capped = {d: s - hot for d, s in shingles.items()}

    labels = {
        r.doc_id: r.cluster_id
        for r in _cluster_labels(spark, SF_SMALL).collect()
    }
    clusters = {}
    for d, c in labels.items():
        clusters.setdefault(c, []).append(d)

    expected = {}
    for c, ids in clusters.items():
        if len(ids) < 2:
            continue
        members = sorted(ids)[:CLUSTER_AUDIT_CAP]
        js = []
        for i in range(len(members)):
            for j in range(i + 1, len(members)):
                a, b = capped[members[i]], capped[members[j]]
                inter = len(a & b)
                js.append(inter / (len(a) + len(b) - inter))
        expected[c] = (
            len(ids),
            len(js),
            round(sum(js) / len(js), 6),
            round(min(js), 6),
        )

    got = {
        r.cluster_id: (r.n_members, r.n_pairs, r.avg_jaccard, r.min_jaccard)
        for r in registry.specs()["intra_cluster_jaccard_audit"]
        .fn(spark, SF_SMALL)
        .collect()
    }
    assert set(got) == set(expected)
    for c in expected:
        assert got[c][:2] == expected[c][:2], c
        assert got[c][2] == pytest.approx(expected[c][2], abs=2e-6), c
        assert got[c][3] == pytest.approx(expected[c][3], abs=2e-6), c
    assert expected, "corpus must contain at least one multi-member cluster"


# ---------------------------------------------------------------------------
# Large-star/small-star CC: cross-implementation equivalence + depth
# ---------------------------------------------------------------------------


def test_lss_equals_union_find_on_lsh_graph(spark):
    """connected_components_lss and connected_components' driver
    union-find regime must assign IDENTICAL labels on the real LSH
    candidate-pair graph — two independent algorithms, one truth. This
    is the cross-implementation check the recursive-CTE oracle can't
    give (it mirrors only one edge derivation)."""
    from velox_hadoop_spark.operators.dedup import (
        lsh_bands,
        lsh_candidate_pairs,
        minhash_signature_inline,
    )
    from velox_hadoop_spark.operators.graph import (
        connected_components,
        connected_components_lss,
    )

    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet")
    sig = minhash_signature_inline(docs, "doc_id", "text")
    pairs = lsh_candidate_pairs(lsh_bands(sig, "doc_id"), "doc_id").persist()
    try:
        a = {r.node: r.lbl for r in connected_components(pairs).collect()}
        b = {r.node: r.lbl for r in connected_components_lss(pairs).collect()}
    finally:
        pairs.unpersist()
    assert a == b
    assert a, "LSH graph must be non-empty at this SF"


def test_lss_collapses_long_chain(spark):
    """A 200-node chain — the adversarial topology for per-pass label
    propagation — must collapse to one component rooted at the min id
    within the default pass budget (LSS's O(log n) round bound is the
    100 TB story; this pins it on depth the real corpus never has)."""
    from velox_hadoop_spark.operators.graph import connected_components_lss

    n = 200
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(1, n)], "id_a long, id_b long"
    )
    labels = {r.node: r.lbl for r in connected_components_lss(chain).collect()}
    assert labels == {i: 1 for i in range(1, n + 1)}


# ---------------------------------------------------------------------------
# stats3: brute-force recomputes (no scipy — plain arithmetic)
# ---------------------------------------------------------------------------


def _priority_cents(sf=SF_SMALL):
    return duckdb.sql(
        f"""SELECT o_orderpriority, CAST(round(o_totalprice*100) AS BIGINT)
            FROM '{sf}/orders.parquet'"""
    ).fetchall()


def test_kruskal_wallis_brute_force(spark):
    rows = _priority_cents()
    vals = sorted(v for _, v in rows)
    # midranks per value
    rank_of = {}
    i = 0
    while i < len(vals):
        j = i
        while j < len(vals) and vals[j] == vals[i]:
            j += 1
        rank_of[vals[i]] = (i + 1 + j) / 2.0  # avg of ranks i+1..j
        i = j
    groups = {}
    for g, v in rows:
        groups.setdefault(g, []).append(rank_of[v])
    n = len(rows)
    s = sum(sum(rs) ** 2 / len(rs) for rs in groups.values())
    h = 12.0 / (n * (n + 1)) * s - 3 * (n + 1)
    from collections import Counter

    tie3 = sum(t**3 - t for t in Counter(vals).values())
    hc = h / (1 - tie3 / (n**3 - n))

    row = registry.specs()["kruskal_wallis_priority"].fn(spark, SF_SMALL).collect()[0]
    assert row.n == n and row.k == len(groups)
    assert row.h == pytest.approx(round(h, 6), abs=2e-6)
    assert row.h_tie_corrected == pytest.approx(round(hc, 6), abs=2e-6)


def test_jarque_bera_brute_force(spark):
    rows = _priority_cents()
    groups = {}
    for g, v in rows:
        groups.setdefault(g, []).append(v)
    got = {
        r.g: r
        for r in registry.specs()["jarque_bera_order_values"]
        .fn(spark, SF_SMALL)
        .collect()
    }
    assert set(got) == set(groups)
    for g, vs in groups.items():
        n = len(vs)
        m = sum(vs) / n
        m2 = sum((x - m) ** 2 for x in vs) / n
        m3 = sum((x - m) ** 3 for x in vs) / n
        m4 = sum((x - m) ** 4 for x in vs) / n
        S, K = m3 / m2**1.5, m4 / m2**2
        jb = n / 6.0 * (S**2 + (K - 3) ** 2 / 4.0)
        assert got[g].skewness == pytest.approx(S, abs=2e-6)
        assert got[g].kurtosis == pytest.approx(K, abs=2e-6)
        assert got[g].jb == pytest.approx(jb, rel=1e-5)


def test_brown_forsythe_brute_force(spark):
    rows = _priority_cents()
    groups = {}
    for g, v in rows:
        groups.setdefault(g, []).append(v)

    def median(vs):
        vs = sorted(vs)
        n = len(vs)
        return (
            vs[n // 2] if n % 2 else (vs[n // 2 - 1] + vs[n // 2]) / 2.0
        )

    z = {g: [abs(x - median(vs)) for x in vs] for g, vs in groups.items()}
    n = sum(len(v) for v in z.values())
    k = len(z)
    zbar = sum(sum(v) for v in z.values()) / n
    ssb = sum(len(v) * (sum(v) / len(v) - zbar) ** 2 for v in z.values())
    ssw = sum(
        sum((x - sum(v) / len(v)) ** 2 for x in v) for v in z.values()
    )
    f = (ssb / (k - 1)) / (ssw / (n - k))
    row = registry.specs()["brown_forsythe_priority"].fn(spark, SF_SMALL).collect()[0]
    assert (row.n, row.k) == (n, k)
    assert row.f_stat == pytest.approx(round(f, 6), abs=2e-6)


def test_cramers_v_brute_force(spark):
    rows = duckdb.sql(
        f"SELECT o_orderstatus, o_orderpriority FROM '{SF_SMALL}/orders.parquet'"
    ).fetchall()
    from collections import Counter

    obs = Counter(rows)
    rt = Counter(r for r, _ in rows)
    ct = Counter(c for _, c in rows)
    n = len(rows)
    chi2 = 0.0
    for r in rt:
        for c in ct:
            e = rt[r] * ct[c] / n
            chi2 += (obs.get((r, c), 0) - e) ** 2 / e
    v = (chi2 / (n * (min(len(rt), len(ct)) - 1))) ** 0.5
    row = (
        registry.specs()["cramers_v_status_priority"].fn(spark, SF_SMALL).collect()[0]
    )
    assert (row.n, row.n_rows, row.n_cols) == (n, len(rt), len(ct))
    assert row.chi2 == pytest.approx(chi2, rel=1e-6)
    assert row.cramers_v == pytest.approx(round(v, 6), abs=2e-6)
    assert 0.0 <= row.cramers_v <= 1.0


# ---------------------------------------------------------------------------
# llmops5: brute-force recomputes
# ---------------------------------------------------------------------------


def _doc_rows(sf=SF_SMALL):
    return duckdb.sql(
        f"SELECT doc_id, text, lang, source FROM '{sf}/documents.parquet'"
    ).fetchall()


def test_gopher_rules_brute_force(spark):
    from collections import Counter

    from velox_hadoop_spark.operators.llmops5 import (
        LANG_MARKERS,
        R_MAX_MWL,
        R_MAX_TOP_WORD_FRAC,
        R_MAX_WORDS,
        R_MIN_DISTINCT_RATIO,
        R_MIN_MWL,
        R_MIN_STOP_HITS,
        R_MIN_WORDS,
    )

    en = set(LANG_MARKERS["en"])
    per_source = {}
    for _, text, _, source in _doc_rows():
        w = text.split()
        if not w:
            continue
        nw = len(w)
        mwl = sum(len(x) for x in w) / nw
        dr = len(set(w)) / nw
        top = max(Counter(w).values()) / nw
        stop = sum(1 for x in w if x in en)
        flags = (
            R_MIN_WORDS <= nw <= R_MAX_WORDS,
            R_MIN_MWL <= mwl <= R_MAX_MWL,
            dr >= R_MIN_DISTINCT_RATIO,
            top <= R_MAX_TOP_WORD_FRAC,
            stop >= R_MIN_STOP_HITS,
        )
        acc = per_source.setdefault(source, [0] * 7)
        acc[0] += 1
        for i, f in enumerate(flags):
            acc[1 + i] += f
        acc[6] += all(flags)
    got = {
        r.source: (
            r.n_docs,
            r.pass_word_count,
            r.pass_mean_word_len,
            r.pass_distinct_ratio,
            r.pass_top_word,
            r.pass_stopwords,
            r.pass_all,
        )
        for r in registry.specs()["gopher_rule_report"].fn(spark, SF_SMALL).collect()
    }
    assert got == {s: tuple(v) for s, v in per_source.items()}


def test_cohens_kappa_brute_force(spark):
    from velox_hadoop_spark.operators.llmops5 import LANG_MARKERS, R_MIN_STOP_HITS

    en = set(LANG_MARKERS["en"])
    n11 = n10 = n01 = n00 = 0
    for _, text, lang, _ in _doc_rows():
        a = 1 if lang == "en" else 0
        b = 1 if sum(1 for x in text.split() if x in en) >= R_MIN_STOP_HITS else 0
        if a and b:
            n11 += 1
        elif a:
            n10 += 1
        elif b:
            n01 += 1
        else:
            n00 += 1
    n = n11 + n10 + n01 + n00
    po = (n11 + n00) / n
    pe = ((n11 + n10) * (n11 + n01) + (n01 + n00) * (n10 + n00)) / (n * n)
    kappa = (po - pe) / (1 - pe)
    row = (
        registry.specs()["cohens_kappa_lang_signals"].fn(spark, SF_SMALL).collect()[0]
    )
    assert row.n == n
    assert row.po == pytest.approx(round(po, 6), abs=2e-6)
    assert row.pe == pytest.approx(round(pe, 6), abs=2e-6)
    assert row.kappa == pytest.approx(round(kappa, 6), abs=2e-6)
    assert -1.0 <= row.kappa <= 1.0


def test_bigram_logprob_brute_force(spark):
    import math as _math
    from collections import Counter

    docs = {d: t.split() for d, t, _, _ in _doc_rows()}
    bgc = Counter()
    vocab = set()
    for w in docs.values():
        vocab.update(w)
        bgc.update(zip(w, w[1:]))
    ugc = Counter()
    for (w1, _), c in bgc.items():
        ugc[w1] += c
    V = len(vocab)
    got = {
        r.doc_id: r
        for r in registry.specs()["bigram_logprob_score"].fn(spark, SF_SMALL).collect()
    }
    expected_docs = {d for d, w in docs.items() if len(w) >= 2}
    assert set(got) == expected_docs
    for d in expected_docs:
        w = docs[d]
        lps = [
            _math.log2((bgc[(a, b)] + 1.0) / (ugc[a] + V))
            for a, b in zip(w, w[1:])
        ]
        assert got[d].n_bigrams == len(lps)
        assert got[d].avg_log2_prob == pytest.approx(
            round(sum(lps) / len(lps), 6), abs=2e-6
        ), d


# ---------------------------------------------------------------------------
# sqlbreadth3: recomputes and cross-query invariants
# ---------------------------------------------------------------------------


def test_regexp_count_positions_brute_force(spark):
    import re
    from collections import defaultdict

    acc = defaultdict(lambda: [0, 0, 0.0])
    for _, text, _, source in _doc_rows():
        a = acc[source]
        a[0] += len(re.findall(r"[aeiou][aeiou]+", text))
        p = text.find("table") + 1
        if p > 0:
            a[1] += 1
            a[2] += p
    got = {
        r.source: r
        for r in registry.specs()["regexp_count_positions"].fn(spark, SF_SMALL).collect()
    }
    assert set(got) == set(acc)
    for s, (runs, nd, psum) in acc.items():
        assert got[s].total_vowel_runs == runs
        assert got[s].docs_with_table == nd
        if nd:
            assert got[s].avg_first_table_pos == pytest.approx(
                round(psum / nd, 6), abs=2e-6
            )
        else:
            assert got[s].avg_first_table_pos is None


def test_attribution_credit_conserves_to_converters(spark):
    """Every converting user with >=1 touch hands out exactly 1.0 of
    credit, so total credit across types equals that user count — the
    conservation the mirrored CASE ladder can't prove about itself.
    Also recomputes the per-type splits outright."""
    ev = duckdb.sql(
        f"""SELECT user_id, event_type, ts, event_id
            FROM '{SF_SMALL}/events.parquet' ORDER BY user_id, ts, event_id"""
    ).fetchall()
    converters = {u for u, t, _, _ in ev if t == "purchase"}
    touches = {}
    for u, t, _, _ in ev:
        if t in ("view", "click") and u in converters:
            touches.setdefault(u, []).append(t)
    expected = {}
    for u, ts in touches.items():
        k = len(ts)
        for i, t in enumerate(ts):
            if k == 1:
                c = 1.0
            elif k == 2:
                c = 0.5
            elif i == 0:
                c = 0.4
            elif i == k - 1:
                c = 0.4
            else:
                c = 0.2 / (k - 2)
            e = expected.setdefault(t, [0, 0.0])
            e[0] += 1
            e[1] += c
    got = {
        r.event_type: r
        for r in registry.specs()["attribution_position_based"]
        .fn(spark, SF_SMALL)
        .collect()
    }
    assert set(got) == set(expected)
    for t, (n, credit) in expected.items():
        assert got[t].n_touches == n
        assert got[t].total_credit == pytest.approx(round(credit, 6), abs=2e-6)
    assert sum(r.total_credit for r in got.values()) == pytest.approx(
        len(touches), abs=1e-3
    )


def test_event_path_3grams_conservation(spark):
    counts = duckdb.sql(
        f"SELECT user_id, count(*) FROM '{SF_SMALL}/events.parquet' GROUP BY 1"
    ).fetchall()
    expected_total = sum(max(c - 2, 0) for _, c in counts)
    rows = registry.specs()["event_path_3grams"].fn(spark, SF_SMALL).collect()
    assert sum(r.n_occurrences for r in rows) == expected_total
    assert all(r.path.count(">") == 2 for r in rows)


def test_weighted_quartiles_cross_query_and_order(spark):
    q = {
        r.l_returnflag: r
        for r in registry.specs()["weighted_quartiles_quantity"]
        .fn(spark, SF_SMALL)
        .collect()
    }
    med = {
        r.l_returnflag: r.weighted_median
        for r in registry.specs()["weighted_median_quantity"]
        .fn(spark, SF_SMALL)
        .collect()
    }
    assert set(q) == set(med)
    for flag, r in q.items():
        assert r.p50 == med[flag]  # the quartile kernel generalizes it
        assert r.p25 <= r.p50 <= r.p75


def test_yoy_quarter_growth_brute_force(spark):
    daily = duckdb.sql(
        f"""SELECT year(o_orderdate), quarter(o_orderdate),
                   CAST(SUM(CAST(round(o_totalprice*100) AS BIGINT)) AS BIGINT)
            FROM '{SF_SMALL}/orders.parquet' GROUP BY 1, 2 ORDER BY 1, 2"""
    ).fetchall()
    got = {
        (r.yr, r.qtr): r
        for r in registry.specs()["yoy_quarter_growth"].fn(spark, SF_SMALL).collect()
    }
    assert len(got) == len(daily)
    for i, (y, qt, rc) in enumerate(daily):
        r = got[(y, qt)]
        assert r.revenue == pytest.approx(rc / 100.0)
        if i >= 4:
            prev = daily[i - 4][2]
            assert r.yoy_growth == pytest.approx(
                round((rc - prev) / prev, 6), abs=2e-6
            )
        else:
            assert r.yoy_growth is None


def test_brown_double_smoothing_brute_force(spark):
    from velox_hadoop_spark.operators.timeseries4 import (
        BROWN_ALPHA,
        BROWN_K,
        MACD_HORIZON,
    )

    daily = _daily_rev()
    days = [r[0] for r in daily]
    rev = {r[0]: r[1] / 100.0 for r in daily}

    def ema(series):
        out = {}
        for d in days:
            num = den = 0.0
            for b in days:
                age = (d - b).days
                if 0 <= age <= MACD_HORIZON - 1 and b in series:
                    w = (1.0 - BROWN_ALPHA) ** age
                    num += series[b] * w
                    den += w
            out[d] = num / den
        return out

    r4 = lambda x: math.floor(x * 10000 + 0.5) / 10000  # noqa: E731
    s1 = {d: r4(v) for d, v in ema(rev).items()}
    s2 = {d: r4(v) for d, v in ema(s1).items()}
    got = {
        r.d: r
        for r in registry.specs()["brown_double_smoothing_daily"]
        .fn(spark, SF_SMALL)
        .collect()
    }
    assert set(got) == set(days)
    for d in days:
        level = 2 * s1[d] - s2[d]
        trend = BROWN_K * (s1[d] - s2[d])
        assert got[d].level == pytest.approx(r4(level), abs=2e-4), d
        assert got[d].trend == pytest.approx(r4(trend), abs=2e-4), d
        assert got[d].forecast_1d == pytest.approx(r4(level + trend), abs=2e-4), d


def test_local_extrema_brute_force(spark):
    daily = _daily_rev()
    expected = {}
    for i in range(1, len(daily) - 1):
        d, rc, _ = daily[i]
        if rc > daily[i - 1][1] and rc > daily[i + 1][1]:
            expected[d] = "max"
        elif rc < daily[i - 1][1] and rc < daily[i + 1][1]:
            expected[d] = "min"
    got = {
        r.d: r.kind
        for r in registry.specs()["local_extrema_daily"].fn(spark, SF_SMALL).collect()
    }
    assert got == expected


def test_embedding_doclen_corr_brute_force(spark):
    rows = duckdb.sql(
        f"""SELECT d.lang, d.n_chars, e.embedding
            FROM '{SF_SMALL}/documents.parquet' d
            JOIN '{SF_SMALL}/embeddings.parquet' e ON d.doc_id = e.vec_id"""
    ).fetchall()
    groups = {}
    for lang, nc, emb in rows:
        # sequential fold like both engines (not np pairwise), then the
        # kernel's exact micro-unit quantization of the norm
        acc = 0.0
        for x in emb:
            acc += float(x) * float(x)
        nrm_u = math.floor(math.sqrt(acc) * 1_000_000 + 0.5)
        groups.setdefault(lang, []).append((nc, nrm_u))
    got = {
        r.lang: r
        for r in registry.specs()["embedding_doclen_correlation"]
        .fn(spark, SF_SMALL)
        .collect()
    }
    for lang, pts in groups.items():
        n = len(pts)
        sx = sum(p[0] for p in pts)
        sy = sum(p[1] for p in pts)
        sxx = sum(p[0] ** 2 for p in pts)
        syy = sum(p[1] ** 2 for p in pts)
        sxy = sum(p[0] * p[1] for p in pts)
        vx, vy = n * sxx - sx * sx, n * syy - sy * sy
        if n < 2 or vx <= 0 or vy <= 0:
            assert lang not in got
            continue
        corr = (n * sxy - sx * sy) / math.sqrt(vx * vy)
        assert got[lang].n == n
        assert got[lang].len_norm_corr == pytest.approx(round(corr, 6), abs=2e-6)
        assert -1.0 <= got[lang].len_norm_corr <= 1.0


def test_time_to_convert_brute_force(spark):
    ev = duckdb.sql(
        f"SELECT user_id, event_type, ts FROM '{SF_SMALL}/events.parquet'"
    ).fetchall()
    fv = {}
    for u, t, ts in ev:
        if t == "view" and (u not in fv or ts < fv[u]):
            fv[u] = ts
    gaps = {}
    for u, t, ts in ev:
        if t == "purchase" and u in fv and ts >= fv[u]:
            g = int((ts - fv[u]).total_seconds())
            if u not in gaps or g < gaps[u]:
                gaps[u] = g
    gs = sorted(gaps.values())
    n = len(gs)

    def pick(q_num, q_den):
        cum = 0
        from collections import Counter

        for g, c in sorted(Counter(gs).items()):
            cum += c
            if cum * q_den >= n * q_num:
                return g

    row = (
        registry.specs()["time_to_convert_percentiles"].fn(spark, SF_SMALL).collect()[0]
    )
    assert row.n_converters == n
    assert (row.p25_s, row.p50_s, row.p75_s) == (
        pick(1, 4),
        pick(1, 2),
        pick(3, 4),
    )


def test_cluster_source_span_consistency(spark):
    """Span rows agree with the audit's membership counts and the raw
    provenance columns (recomputed via the pipeline's own labels)."""
    from velox_hadoop_spark.operators.dedup2 import _cluster_labels

    labels = {
        r.doc_id: r.cluster_id for r in _cluster_labels(spark, SF_SMALL).collect()
    }
    prov = {
        r[0]: (r[1], r[2])
        for r in duckdb.sql(
            f"SELECT doc_id, source, lang FROM '{SF_SMALL}/documents.parquet'"
        ).fetchall()
    }
    clusters = {}
    for d, c in labels.items():
        clusters.setdefault(c, []).append(d)
    expected = {
        c: (
            len(ids),
            len({prov[d][0] for d in ids}),
            len({prov[d][1] for d in ids}),
        )
        for c, ids in clusters.items()
        if len(ids) >= 2
    }
    got = {
        r.cluster_id: (r.n_members, r.n_sources, r.n_langs, r.is_cross_source)
        for r in registry.specs()["dedup_cluster_source_span"]
        .fn(spark, SF_SMALL)
        .collect()
    }
    assert {c: v[:3] for c, v in got.items()} == expected
    for c, v in got.items():
        assert v[3] == (v[1] > 1)


def test_ngram_novelty_conservation(spark):
    """Σ n_first_seen across buckets equals the corpus's distinct
    trigram count; Σ instances equals the distinct (doc, trigram)
    count; every bucket is in 1..10 — the conservation that caught the
    1-based-id bug in vocab_growth_curve."""
    docs = {d: t.split() for d, t, _, _ in _doc_rows()}
    per_doc = {
        d: {" ".join(w[i : i + 3]) for i in range(len(w) - 2)}
        for d, w in docs.items()
        if len(w) >= 3
    }
    all_grams = set().union(*per_doc.values())
    rows = registry.specs()["ngram_novelty_curve"].fn(spark, SF_SMALL).collect()
    assert all(1 <= r.bucket <= 10 for r in rows)
    assert sum(r.n_first_seen for r in rows) == len(all_grams)
    assert sum(r.n_gram_instances for r in rows) == sum(
        len(s) for s in per_doc.values()
    )
    # rates are valid fractions and the curve is anchored: the bucket
    # containing the very first doc cannot be all-repeat
    assert all(0.0 <= r.novelty_rate <= 1.0 for r in rows)
    first = min(rows, key=lambda r: r.bucket)
    assert first.n_first_seen > 0


def test_dedup_threshold_sweep_nesting(spark):
    """Thresholds are nested by construction: pair and doc counts must
    be nonincreasing in the threshold, and each row's doc count is
    bounded by 2x its pair count (every pair touches ≤2 new docs)."""
    rows = sorted(
        registry.specs()["dedup_threshold_sweep"].fn(spark, SF_SMALL).collect(),
        key=lambda r: r.threshold,
    )
    from velox_hadoop_spark.operators.dedup2 import SWEEP_THRESHOLDS

    assert [r.threshold for r in rows] == sorted(SWEEP_THRESHOLDS)
    for a, b in zip(rows, rows[1:]):
        assert a.n_pairs >= b.n_pairs
        assert a.n_docs_affected >= b.n_docs_affected
    for r in rows:
        assert r.n_docs_affected <= 2 * r.n_pairs
        assert (r.n_pairs == 0) == (r.n_docs_affected == 0)
    assert rows[0].n_pairs > 0, "lowest cut must keep some pairs at this SF"


def test_rolling_ols_slope_brute_force(spark):
    from velox_hadoop_spark.operators.timeseries4 import OLS_WINDOW_D

    daily = _daily_rev()
    pts = [((d - __import__("datetime").date(1970, 1, 1)).days, rc) for d, rc, _ in daily]
    got = {
        r.d: r
        for r in registry.specs()["rolling_ols_slope_30d"].fn(spark, SF_SMALL).collect()
    }
    import datetime as dt

    for i, (x0, _) in enumerate(pts):
        win = [(x, y) for x, y in pts if x0 - (OLS_WINDOW_D - 1) <= x <= x0]
        n = len(win)
        d = dt.date(1970, 1, 1) + dt.timedelta(days=x0)
        if n < 2:
            assert d not in got
            continue
        sx = sum(x for x, _ in win)
        sy = sum(y for _, y in win)
        sxy = sum(x * y for x, y in win)
        sxx = sum(x * x for x, _ in win)
        denom = n * sxx - sx * sx
        if denom <= 0:
            assert d not in got
            continue
        slope = (n * sxy - sx * sy) / denom / 100.0
        assert got[d].n_days == n, d
        assert got[d].slope_per_day == pytest.approx(round(slope, 6), abs=2e-6), d
    assert len(got) <= len(pts)


def test_revenue_share_two_level_consistency(spark):
    """Shares sum to 1 within each level and the two-level product
    reproduces the total share — the multiplicative consistency the
    mirrored window SQL can't prove about itself."""
    rows = registry.specs()["revenue_share_two_level"].fn(spark, SF_SMALL).collect()
    by_region = {}
    for r in rows:
        by_region.setdefault(r.region, []).append(r)
    total_share = 0.0
    for region, rs in by_region.items():
        assert sum(x.share_in_region for x in rs) == pytest.approx(1.0, abs=1e-4)
        assert len({x.region_share for x in rs}) == 1
        total_share += rs[0].region_share
        for x in rs:
            assert x.share_of_total == pytest.approx(
                x.share_in_region * x.region_share, abs=5e-6
            )
    assert total_share == pytest.approx(1.0, abs=1e-4)
    assert sum(r.share_of_total for r in rows) == pytest.approx(1.0, abs=1e-4)


def test_snapshot_novelty_conservation(spark):
    """Σ n_in_new_clusters over snapshots counts every doc belonging
    to a cluster whose oldest member sits in that doc's snapshot; the
    cluster-level view must see each cluster first-seen EXACTLY once,
    and Σ n_docs = corpus size. Recomputed via the pipeline's own
    labels + plain-Python MD5 snapshots."""
    from velox_hadoop_spark.operators.dedup2 import (
        N_SNAPSHOTS,
        SNAP_SEED,
        _cluster_labels,
    )

    labels = {
        r.doc_id: r.cluster_id for r in _cluster_labels(spark, SF_SMALL).collect()
    }
    snaps = {d: _bucket(d, SNAP_SEED, N_SNAPSHOTS) for d in labels}
    first = {}
    for d, c in labels.items():
        first[c] = max(first.get(c, -1), snaps[d])
    expected_docs = {}
    expected_new = {}
    for d, c in labels.items():
        s = snaps[d]
        expected_docs[s] = expected_docs.get(s, 0) + 1
        if first[c] == s:
            expected_new[s] = expected_new.get(s, 0) + 1
    got = {
        r.snapshot: r
        for r in registry.specs()["snapshot_novelty_rate"].fn(spark, SF_SMALL).collect()
    }
    assert {s: r.n_docs for s, r in got.items()} == expected_docs
    assert {s: r.n_in_new_clusters for s, r in got.items()} == expected_new
    assert sum(r.n_docs for r in got.values()) == len(labels)


def test_conversion_paths_share_conserves(spark):
    rows = registry.specs()["conversion_paths_top"].fn(spark, SF_SMALL).collect()
    assert rows
    assert sum(r.share for r in rows) == pytest.approx(1.0, abs=1e-4)
    assert all(r.prefix.count(">") == 1 for r in rows)
    # cross-query consistency: conversions counted here equal the
    # 3-gram table's purchase-terminated paths
    tri = registry.specs()["event_path_3grams"].fn(spark, SF_SMALL).collect()
    tri_purchases = sum(
        r.n_occurrences for r in tri if r.path.endswith(">purchase")
    )
    assert sum(r.n_conversions for r in rows) == tri_purchases


def test_trunc_ema_collect_list_frame_order(spark):
    """The ordered-fold EMA kernel's cross-engine determinism rests on
    collect_list accumulating in the window frame's ascending order.
    Pin that assumption DIRECTLY (inspect the collected lists) on a
    deliberately shuffled multi-partition input: if a Spark upgrade
    ever breaks frame-order accumulation, this fails loudly instead of
    the EMA silently reverting to rounding-lucky parity. (The fold
    VALUES are compared against Python only approximately — Java's
    Math.pow and CPython's ** differ in the last ulp, which %.9g
    canonicalization absorbs in the real gate.)"""
    import datetime as dt
    import random

    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    from velox_hadoop_spark.operators.timeseries4 import (
        MACD_HORIZON,
        trunc_ema_ordered,
    )

    days = [
        (dt.date(2024, 1, 1) + dt.timedelta(days=i), float(i * i % 97))
        for i in range(120)
    ]
    rng = random.Random(7)
    rng.shuffle(days)
    src = spark.createDataFrame(days, "d date, rev double").repartition(8)

    # 1) the frame-order assumption itself: every collected list is
    #    strictly ascending by day
    od = F.datediff(F.col("d"), F.lit("1970-01-01").cast("date"))
    w = W.orderBy(od).rangeBetween(-(MACD_HORIZON - 1), 0)
    lists = src.select(
        "d",
        F.collect_list(F.struct(F.col("d").alias("bd"), F.col("rev").alias("x")))
        .over(w)
        .alias("lst"),
    ).collect()
    for row in lists:
        bds = [e["bd"] for e in row.lst]
        assert bds == sorted(bds), row.d
        assert bds[-1] == row.d  # current row closes its own frame

    # 2) the fold values against a same-order Python recompute
    out = {r.d: r.ema for r in trunc_ema_ordered(src, "rev", 0.3, "ema").collect()}
    ordered = sorted(days)
    for i, (d, _) in enumerate(ordered):
        num = den = 0.0
        for b, y in ordered[: i + 1]:
            age = (d - b).days
            if age <= MACD_HORIZON - 1:
                wt = 0.7**age
                num += y * wt
                den += wt
        assert out[d] == pytest.approx(num / den, rel=1e-12), d


def test_survivorship_golden_brute_force(spark):
    """Recompute every survivorship rule in plain Python over the
    pipeline's own cluster labels: golden = longest copy (tie → lowest
    id), provenance mins, lineage counters — and conservation: each
    multi-member cluster emits exactly one golden row and singletons
    emit nothing."""
    from velox_hadoop_spark.operators.dedup2 import _cluster_labels

    labels = {
        r.doc_id: r.cluster_id for r in _cluster_labels(spark, SF_SMALL).collect()
    }
    meta = {
        r[0]: (r[1], r[2], r[3])
        for r in duckdb.sql(
            f"SELECT doc_id, n_chars, source, lang FROM '{SF_SMALL}/documents.parquet'"
        ).fetchall()
    }
    clusters = {}
    for d, c in labels.items():
        clusters.setdefault(c, []).append(d)
    expected = {}
    for c, ids in clusters.items():
        if len(ids) < 2:
            continue
        golden = max(ids, key=lambda d: (meta[d][0], -d))
        expected[c] = (
            len(ids),
            min(ids),
            golden,
            min(meta[d][1] for d in ids),
            min(meta[d][2] for d in ids),
            sum(meta[d][0] for d in ids),
            max(meta[d][0] for d in ids),
        )
    got = {
        r.cluster_id: (
            r.n_merged,
            r.first_seen_id,
            r.golden_doc_id,
            r.golden_source,
            r.golden_lang,
            r.total_chars,
            r.golden_chars,
        )
        for r in registry.specs()["dedup_survivorship_golden"]
        .fn(spark, SF_SMALL)
        .collect()
    }
    assert got == expected
    assert expected, "corpus must contain at least one multi-member cluster"


def test_asof_tolerance_synthetic_semantics(spark):
    """A click exactly AT the bound is fresh (inclusive); one second
    past is NULL; a later purchase reuses the same carried click while
    fresh. Built on a synthetic frame so the bound itself is exercised
    (real data rarely lands a pair exactly on the boundary)."""
    import datetime as dt

    from velox_hadoop_spark.operators import timeseries4

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    s = timeseries4.ASOF_TOLERANCE_S
    rows = [
        (1, t0, 7, "click", 5.0, None),
        (2, t0 + dt.timedelta(seconds=s), 7, "purchase", 1.0, None),
        (3, t0 + dt.timedelta(seconds=s + 1), 7, "purchase", 2.0, None),
        (4, t0 + dt.timedelta(seconds=10), 8, "purchase", 3.0, None),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    )
    import tempfile

    with tempfile.TemporaryDirectory() as tmp:
        df.write.parquet(f"{tmp}/events.parquet")
        out = {
            r.event_id: r.click_value_10m
            for r in timeseries4.q_asof_join_tolerance(spark, tmp).collect()
        }
    assert out[2] == 5.0  # exactly at the bound: fresh
    assert out[3] is None  # one second stale: expired
    assert out[4] is None  # user with no click at all
