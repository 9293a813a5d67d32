"""Mathematical invariants, round 6 — the families the round-5 verdict
named as still unpinned (item 5): prefix-filter completeness vs brute
force, CDC chunk-boundary shift-invariance, PageRank mass conservation —
plus the waterfall/WAU/interval/Markov/zorder identities.

The DuckDB differential proves Spark == oracle; these prove both are
RIGHT: each assertion is a property the mathematics forces regardless of
fixture content, so a bug present in BOTH implementations still fails
here. Two tests additionally run operators on SEEDED custom tables
(written to a tmp dir with the fixture schema) so near-threshold cases
the fixtures may not contain are exercised deterministically.
"""

from __future__ import annotations

import hashlib
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

import __spark_entry__ as entrymod

QUERIES = entrymod.queries()


@pytest.fixture(scope="module")
def run(spark, sf_dir):
    def go(key):
        return QUERIES[key](spark, sf_dir).collect()

    return go


def _write_documents(dirpath: str, rows: list[tuple[int, str]]) -> str:
    """Write a documents.parquet with the fixture schema into dirpath."""
    os.makedirs(dirpath, exist_ok=True)
    tbl = pa.table(
        {
            "doc_id": pa.array([r[0] for r in rows], pa.int64()),
            "text": pa.array([r[1] for r in rows], pa.string()),
            "lang": pa.array(["en"] * len(rows), pa.string()),
            "source": pa.array(["seed"] * len(rows), pa.string()),
            "n_chars": pa.array([len(r[1]) for r in rows], pa.int64()),
        }
    )
    pq.write_table(tbl, os.path.join(dirpath, "documents.parquet"))
    return dirpath


# --- prefix-filter set-similarity join: exactness vs brute force -----------


def _shingles3(text: str) -> set[str]:
    """Token-identical to the operator/oracle: distinct 3-word windows at
    1-based starts 1..len(w)-3 (docs with <= 3 words get the empty set)."""
    w = text.split(" ")
    if len(w) < 4:
        return set()
    return {" ".join(w[i : i + 3]) for i in range(len(w) - 3)}


def _brute_pairs(texts: dict[int, str]) -> set[tuple[int, int, int, int]]:
    sh = {d: _shingles3(t) for d, t in texts.items()}
    out = set()
    ids = sorted(sh)
    for ai in range(len(ids)):
        for bi in range(ai + 1, len(ids)):
            a, b = ids[ai], ids[bi]
            inter = len(sh[a] & sh[b])
            uni = len(sh[a] | sh[b])
            if inter * 10 >= uni * 8 and uni > 0:
                out.add((a, b, inter, uni))
    return out


def test_prefix_filter_completeness_vs_bruteforce_fixture(run, spark, sf_dir):
    """Prefix filtering is EXACT (pigeonhole): the operator's pair set on
    the real fixture must equal the all-pairs brute force — zero recall
    loss, zero false positives."""
    docs = {
        r.doc_id: r.text
        for r in spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "text")
        .collect()
    }
    expected = _brute_pairs(docs)
    got = {
        (r.a_id, r.b_id, r.inter, r.uni)
        for r in run("join_set_similarity_prefix")
    }
    assert got == expected


def test_prefix_filter_completeness_seeded_near_threshold(spark, tmp_path):
    """Engineered corpus with pairs AT the 0.8 threshold, just below it,
    and identical: the operator must keep >= 0.8 (inclusive) and drop
    everything below — brute force is the referee."""
    words = [f"w{i}" for i in range(40)]
    base = " ".join(words[:24])  # 21 shingles
    rows = [
        (1, base),
        (2, base),  # identical: jaccard 1.0
        # shares a long prefix of the token stream; jaccard high but < 1
        (3, " ".join(words[:23] + ["zz"])),
        # disjoint vocabulary: jaccard 0
        (4, " ".join(words[24:40])),
        (5, "tiny doc"),  # < 4 words: empty shingle set
    ]
    sf = _write_documents(str(tmp_path / "seeded"), rows)
    texts = {d: t for d, t in rows}
    expected = _brute_pairs(texts)
    assert (1, 2, 21, 21) in expected  # the seed really contains a dup pair
    got = {
        (r.a_id, r.b_id, r.inter, r.uni)
        for r in QUERIES["join_set_similarity_prefix"](spark, sf).collect()
    }
    assert got == expected


# --- CDC chunking: reference chunker + shift invariance ---------------------

_CDC_GRAM, _CDC_MOD = 8, 16


def _cdc_chunks(text: str) -> list[str]:
    """Reference content-defined chunker, oracle-identical arithmetic:
    boundary after 1-based position i (cut at i+8) whenever the first 8
    hex chars of md5(text[i..i+7]) are == 0 mod 16, i in [1, L-8]."""
    L = len(text)
    cuts = [1]
    for i in range(1, max(L - _CDC_GRAM, 0) + 1):
        gram = text[i - 1 : i - 1 + _CDC_GRAM]
        h = int(hashlib.md5(gram.encode()).hexdigest()[:8], 16)
        if h % _CDC_MOD == 0:
            cuts.append(i + _CDC_GRAM)
    cuts = sorted(set(cuts)) + [L + 1]
    return [
        text[s - 1 : e - 1] for s, e in zip(cuts, cuts[1:]) if e > s
    ]


def test_cdc_chunking_shift_invariance_seeded(spark, tmp_path):
    """THE property CDC exists for: prepending bytes to a document leaves
    every boundary past the perturbation window at the same CONTENT
    position, so the two docs share almost all chunks. The operator's
    duplicated-chunk report on a (base, prefixed-base) pair must equal
    the reference chunker's multiset intersection."""
    rng_text = (
        "the quick brown fox jumps over the lazy dog while seventeen "
        "green bottles hang on the wall and every byte of this sentence "
        "feeds the rolling hash that decides where one chunk ends and "
        "the next begins which is the whole point of content defined "
        "chunking for shift robust duplicate detection at corpus scale"
    )
    shifted = "PREFIX-INSERT " + rng_text
    ca, cb = _cdc_chunks(rng_text), _cdc_chunks(shifted)
    # shift invariance on the reference: all but the head chunks coincide
    shared = set(ca) & set(cb)
    assert len(shared) >= max(len(ca) - 2, 1)
    sf = _write_documents(
        str(tmp_path / "cdc"), [(1, rng_text), (2, shifted)]
    )
    got = {
        r.chunk_hash: (r.n_occurrences, r.n_docs)
        for r in QUERIES["dedup_cdc_chunking"](spark, sf).collect()
    }
    from collections import Counter

    occ = Counter(ca) + Counter(cb)
    expected = {
        hashlib.md5(c.encode()).hexdigest(): (
            n,
            (c in ca) + (c in cb),
        )
        for c, n in occ.items()
        if n > 1
    }
    assert got == expected
    assert any(nd == 2 for (_, nd) in got.values())  # cross-doc dups exist


# --- PageRank mass conservation ---------------------------------------------


def test_pagerank_mass_conservation_bounds(run, spark, sf_dir):
    """Integer PageRank loses mass only to floors: after each round
    sum(r) lies in (N*teleport + 0.85*(prev - E) - N, N*teleport +
    0.85*prev]. Chaining the bounds over the 3 rounds brackets the final
    total — a damping or join bug lands far outside."""
    from c2_duckdb_runner_spark.relations import trade_edges as _edges

    e = _edges(spark, sf_dir)
    E = e.count()
    N = e.select("src").distinct().count()
    total = sum(r.rank_micros for r in run("graph_pagerank_iterations"))
    hi = lo = N * 1_000_000
    for _ in range(3):
        hi = N * 150_000 + 0.85 * hi
        lo = N * 150_000 + 0.85 * (lo - E) - N
    assert lo <= total <= hi


# --- BFS frontier invariant --------------------------------------------------


def test_bfs_levels_frontier_invariant(run, spark, sf_dir):
    """Multi-source BFS with 4 relaxation rounds: sources sit at 0, every
    level is in [0, 4], and along any edge (u, v) with dist(u) <= 3 the
    head must have dist(v) <= dist(u) + 1 (the frontier expands by
    exactly one hop per round)."""
    from c2_duckdb_runner_spark.relations import trade_edges as _edges

    dist = {r.node: r.dist for r in run("graph_bfs_multisource")}
    sources = {
        r.c_custkey
        for r in spark.read.parquet(f"{sf_dir}/customer.parquet")
        .select("c_custkey")
        .collect()
        if r.c_custkey % 100 == 0
    }
    assert sources and all(dist.get(s) == 0 for s in sources)
    assert all(0 <= d <= 4 for d in dist.values())
    edges = _edges(spark, sf_dir).collect()
    for r in edges:
        du = dist.get(r.src)
        if du is not None and du <= 3:
            assert dist.get(r.dst) is not None and dist[r.dst] <= du + 1


# --- Z-order clustering: NTILE balance law (pins the round-6 rewrite) -------


def test_zorder_buckets_balanced_and_exhaustive(run, spark, sf_dir):
    """The two-pass range-exchange rank must reproduce NTILE exactly:
    8 buckets, sizes differing by at most 1 (balance law), covering every
    lineitem row exactly once."""
    rows = run("layout_zorder_cluster")
    n_rows = spark.read.parquet(f"{sf_dir}/lineitem.parquet").count()
    sizes = {r.bucket: r.n for r in rows}
    assert set(sizes) == set(range(1, 9))
    assert sum(sizes.values()) == n_rows
    assert max(sizes.values()) - min(sizes.values()) <= 1
    # first buckets get the remainder rows (NTILE's fill rule)
    q, rem = divmod(n_rows, 8)
    assert all(
        sizes[b] == q + (1 if b <= rem else 0) for b in range(1, 9)
    )


# --- FIFO waterfall conservation ---------------------------------------------


def test_fifo_waterfall_identities(run):
    """The pay pool is exactly floor(0.8 * total) per customer and FIFO
    application can leave AT MOST ONE partially paid invoice; applied +
    outstanding reconstructs the invoice total."""
    for r in run("alloc_fifo_waterfall"):
        total = r.applied_cents + r.outstanding_cents
        assert r.applied_cents == (8 * total) // 10
        assert r.n_partial <= 1
        assert 0 <= r.n_paid_full <= r.n_invoices
        assert r.n_paid_full + r.n_partial <= r.n_invoices


# --- interval union bounds ----------------------------------------------------


def test_interval_union_bounds(run, spark, sf_dir):
    """Union length per user is bounded below by one interval width per
    island and above by width * n_events (no-overlap worst case)."""
    from c2_duckdb_runner_spark.operators.chunking_health_ext import (
        _IU_WIDTH_MS,
    )
    from c2_duckdb_runner_spark.tables import load

    n_ev = {
        r.user_id: r.n
        for r in load(spark, sf_dir, "events")
        .groupBy("user_id")
        .count()
        .withColumnRenamed("count", "n")
        .collect()
    }
    rows = run("interval_union_duration")
    assert {r.user_id for r in rows} == set(n_ev)
    for r in rows:
        assert r.n_islands >= 1
        assert r.covered_ms >= r.n_islands * _IU_WIDTH_MS
        assert r.covered_ms <= n_ev[r.user_id] * _IU_WIDTH_MS


# --- Markov stationary mass ---------------------------------------------------


def test_markov_stationary_mass(run):
    """Power iteration over a row-stochastic matrix preserves probability
    mass up to integer floors: the stationary vector still sums to ~1e6
    (each of the 8 rounds can only LOSE a few micro-units to floors)."""
    rows = run("agg_markov_stationary_power")
    total = sum(r.stationary_micro for r in rows)
    assert 1_000_000 - 2_000 <= total <= 1_000_000
    assert all(r.stationary_micro >= 0 for r in rows)


# --- per-domain cap ------------------------------------------------------------


def test_domain_cap_exact_counts(run, spark, sf_dir):
    """Output per domain is exactly min(cap, domain size) and ranks are
    the dense prefix 1..k — the salted two-stage top-K loses nothing."""
    dom = {
        r.source: r.n
        for r in spark.read.parquet(f"{sf_dir}/documents.parquet")
        .groupBy("source")
        .count()
        .withColumnRenamed("count", "n")
        .collect()
    }
    rows = run("sample_domain_cap")
    from collections import defaultdict

    per = defaultdict(list)
    for r in rows:
        per[r.source].append(r.rk)
    assert set(per) == {s for s, n in dom.items() if n > 0}
    for s, rks in per.items():
        assert sorted(rks) == list(range(1, min(10, dom[s]) + 1))


# --- exact dedup count identity -------------------------------------------------


def test_dedup_exact_count_identity(run, spark, sf_dir):
    """sum(dup_count) over hash groups equals the unioned input size
    (N + planted every-10th docs) and at least one group collapsed."""
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    n = d.count()
    planted = d.filter("doc_id % 10 = 0").count()
    rows = run("dedup_exact")
    assert sum(r.dup_count for r in rows) == n + planted
    assert sum(1 for r in rows if r.dup_count >= 2) >= 1
    assert all(r.dup_count >= 1 for r in rows)


# --- rolling WAU vs direct trailing-window distinct ------------------------------


def test_wau_delta_matches_direct_window_distinct(run, duck):
    """The delta-encoded sweep must equal the textbook definition: WAU(d)
    = COUNT(DISTINCT user active in [d-6, d]) — recomputed directly in
    DuckDB (a different algorithm, not the operator's oracle)."""
    direct = {
        int(day_ms): int(wau)
        for day_ms, wau in duck.execute(
            """
            WITH ud AS (
              SELECT DISTINCT user_id,
                     date_diff('day', DATE '1970-01-01',
                               CAST(date_trunc('day', ts) AS DATE)) AS dnum
              FROM events
            ),
            bounds AS (SELECT MIN(dnum) AS lo, MAX(dnum) AS hi FROM ud),
            spine AS (SELECT unnest(range(lo, hi + 1)) AS dnum FROM bounds)
            SELECT spine.dnum * 86400000,
                   (SELECT COUNT(DISTINCT user_id) FROM ud
                    WHERE ud.dnum BETWEEN spine.dnum - 6 AND spine.dnum)
            FROM spine
            """
        ).fetchall()
    }
    got = {r.day_ms: r.wau for r in run("agg_rolling_wau_delta")}
    assert got == direct


# --- Holt forecast identity ------------------------------------------------------


def test_holt_forecast_identity(run):
    for r in run("ts_holt_linear_forecast"):
        assert r.forecast_7d_milli == r.level_milli + 7 * r.trend_milli
        assert r.n_points >= 2


# --- KS statistic structure ------------------------------------------------------


def test_ks_cross_multiplied_consistency(run, duck):
    """ks_ppm is exactly the integer ratio of the cross-multiplied CDF
    gap; D in [0, 1]; sample splits reconcile with the raw event count."""
    totals = dict(
        duck.execute(
            "SELECT event_type, COUNT(*) FROM events GROUP BY 1"
        ).fetchall()
    )
    rows = run("stats_ks_drift_test")
    assert {r.event_type for r in rows} == set(totals)
    for r in rows:
        assert r.ks_den == r.n1 * r.n2
        assert r.ks_ppm == r.ks_num * 1_000_000 // r.ks_den
        assert 0 <= r.ks_ppm <= 1_000_000
        assert r.n1 + r.n2 == totals[r.event_type]


# --- quantile normalization structure ---------------------------------------------


def test_quantile_normalize_monotone_and_bounded(run, spark, sf_dir):
    """Normalized values come from the GLOBAL length distribution (so they
    are bounded by its min/max) and the map is monotone within each
    source: a longer doc never normalizes below a shorter one."""
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    lo, hi = d.agg({"n_chars": "min"}).first()[0], d.agg(
        {"n_chars": "max"}
    ).first()[0]
    rows = run("stats_quantile_normalize")
    assert len(rows) == d.count()
    from collections import defaultdict

    per = defaultdict(list)
    for r in rows:
        assert lo <= r.qnorm_chars <= hi
        per[r.source].append((r.n_chars, r.doc_id, r.qnorm_chars))
    for vals in per.values():
        vals.sort()
        assert all(
            a[2] <= b[2] for a, b in zip(vals, vals[1:])
        )  # monotone in within-source rank


# --- repetition ratio bounds --------------------------------------------------------


def test_repetition_ratio_bounds(run):
    for r in run("text_repetition_ratio"):
        assert 1 <= r.top_bigram_n <= r.n_bigrams
        assert r.top_bigram_ppm == r.top_bigram_n * 1_000_000 // r.n_bigrams
        assert 0 <= r.dup_trigram_ppm <= 1_000_000
        assert r.n_trigrams >= 1


# === round-6 new-operator invariants ==========================================


def test_ams_f2_estimator_structure(run, spark, sf_dir):
    """Each AMS estimate is a square (>= 0), the reported error is exactly
    the integer ppm identity, and the exact F2 equals a driver-side
    recompute from the key counts."""
    from collections import Counter

    (r,) = run("sketch_ams_f2_moment")
    keys = [
        x.l_partkey
        for x in spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        .select("l_partkey")
        .collect()
    ]
    c = Counter(keys)
    assert r.n_rows == len(keys)
    assert r.f2_exact == sum(v * v for v in c.values())
    assert r.f2_est_median >= 0
    assert r.err_ppm == abs(r.f2_est_median - r.f2_exact) * 1_000_000 // r.f2_exact


def test_heaps_law_monotone_growth(run):
    """Prefixes nest, so docs/tokens/vocab must be non-decreasing in the
    checkpoint, and vocabulary can never exceed prefix token count."""
    rows = sorted(run("text_heaps_law"), key=lambda r: r.checkpoint)
    assert [r.checkpoint for r in rows] == [1, 2, 3, 4]
    for a, b in zip(rows, rows[1:]):
        assert a.n_docs <= b.n_docs
        assert a.n_tokens <= b.n_tokens
        assert a.vocab <= b.vocab
        assert a.cutoff <= b.cutoff
    for r in rows:
        assert 0 <= r.vocab <= r.n_tokens


def test_rbp_bounds_and_zero_case(run):
    """RBP in [0, 1]; zero relevant -> zero score; the numerator is
    bounded by the all-relevant weight sum."""
    wsum = sum(4 ** (i - 1) * 5 ** (10 - i) for i in range(1, 11))
    for r in run("eval_rank_biased_precision"):
        assert 0 <= r.rbp_ppm <= 1_000_000
        assert 0 <= r.rbp_num <= wsum
        assert r.rbp_ppm == r.rbp_num * 1_000_000 // 5**10
        if r.n_rel_at_k == 0:
            assert r.rbp_num == 0


def test_vocab_overlap_jaccard_structure(run, spark, sf_dir):
    n_src = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("source")
        .distinct()
        .count()
    )
    rows = run("corpus_source_vocab_overlap")
    assert len(rows) <= n_src * (n_src - 1) // 2
    for r in rows:
        assert r.src_a < r.src_b
        assert 1 <= r.inter <= r.uni
        assert r.jacc_ppm == r.inter * 1_000_000 // r.uni
        assert 0 < r.jacc_ppm <= 1_000_000


def test_length_bucket_batching_conservation(run, spark, sf_dir):
    """Every doc lands in exactly one bucket; batch count is the ceil
    identity; padding is a strict sub-unit fraction."""
    n = spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    rows = run("pipeline_length_bucket_batching")
    assert sum(r.n_docs for r in rows) == n
    for r in rows:
        assert r.n_batches == (r.n_docs + 31) // 32
        assert 0 <= r.pad_tokens < r.n_docs * r.cap
        assert 0 <= r.pad_ppm < 1_000_000


def test_kfold_stratified_conservation(run, spark, sf_dir):
    from collections import defaultdict

    per_src = {
        r.source: r.n
        for r in spark.read.parquet(f"{sf_dir}/documents.parquet")
        .groupBy("source")
        .count()
        .withColumnRenamed("count", "n")
        .collect()
    }
    rows = run("mlsplit_kfold_stratified")
    folds = defaultdict(dict)
    for r in rows:
        assert 0 <= r.fold < 5
        folds[r.source][r.fold] = r.n
    assert set(folds) == set(per_src)
    for src, by_fold in folds.items():
        assert sum(by_fold.values()) == per_src[src]
        imb = max(by_fold.values()) - min(by_fold.values())
        assert all(
            r.imbalance == imb for r in rows if r.source == src
        )


def test_mad_matches_python_reference(run, spark, sf_dir):
    """Low median, MAD and the 3-MAD outlier count recomputed exactly in
    Python from the raw values — a third implementation."""
    from collections import defaultdict

    vals = defaultdict(list)
    for r in (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .selectExpr("event_type", "CAST(round(value * 100) AS BIGINT) AS x")
        .collect()
    ):
        vals[r.event_type].append(r.x)

    def low_median(xs):
        xs = sorted(xs)
        return xs[(len(xs) + 1) // 2 - 1]

    rows = run("stats_mad_robust_z")
    assert {r.event_type for r in rows} == set(vals)
    for r in rows:
        xs = vals[r.event_type]
        med = low_median(xs)
        mad = low_median([abs(x - med) for x in xs])
        assert r.n == len(xs)
        assert r.median_cents == med
        assert r.mad_cents == mad
        assert r.n_outliers == sum(1 for x in xs if abs(x - med) > 3 * mad)


def test_page_hinkley_matches_python_reference(run, duck):
    """PH statistic recomputed from the daily series in Python."""
    daily = duck.execute(
        """
        SELECT event_type, date_trunc('day', ts) AS d,
               (10 * CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT))
                 // CAST(COUNT(*) AS BIGINT) AS x
        FROM events GROUP BY 1, 2 ORDER BY 1, 2
        """
    ).fetchall()
    from collections import defaultdict

    series = defaultdict(list)
    for et, _, x in daily:
        series[et].append(int(x))
    rows = run("ts_page_hinkley")
    assert {r.event_type for r in rows} == set(series)
    for r in rows:
        xs = series[r.event_type]
        mean = sum(xs) // len(xs)
        m = ph = alarms = 0
        runmin = None  # min over OBSERVED prefix sums (s >= 1), no m_0 = 0
        for x in xs:
            m += x - mean
            runmin = m if runmin is None else min(runmin, m)
            ph = max(ph, m - runmin)
            alarms += (m - runmin) > 50_000
        assert r.n_days == len(xs)
        assert r.mean_milli == mean
        assert r.ph_milli == ph
        assert r.n_alarm_days == alarms


def test_boilerplate_ngrams_df_recount(run, spark, sf_dir):
    """Every reported 5-gram's document frequency recounted in Python
    against the raw texts (distinct per-doc grams, same windows)."""
    texts = [
        r.text
        for r in spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("text")
        .collect()
    ]

    def grams(t):
        w = t.split(" ")
        return (
            {" ".join(w[i : i + 5]) for i in range(len(w) - 4)}
            if len(w) >= 5
            else set()
        )

    docs = [grams(t) for t in texts]
    rows = run("text_boilerplate_ngrams")
    assert rows and len(rows) <= 15
    dfs = [r.df for r in rows]
    assert dfs == sorted(dfs, reverse=True)
    for r in rows:
        assert r.df == sum(1 for g in docs if r.ngram in g)
        assert r.df >= 3
        assert r.doc_share_ppm == r.df * 1_000_000 // len(texts)


def test_trimmed_mean_matches_python_reference(run, spark, sf_dir):
    from collections import defaultdict

    vals = defaultdict(list)
    for r in (
        spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        .selectExpr("l_returnflag", "CAST(round(l_quantity) AS BIGINT) AS x")
        .collect()
    ):
        vals[r.l_returnflag].append(r.x)
    rows = run("stats_trimmed_mean")
    assert {r.l_returnflag for r in rows} == set(vals)
    for r in rows:
        xs = sorted(vals[r.l_returnflag])
        n = len(xs)
        lo, hi = n // 10, n - n // 10
        kept = xs[lo:hi]
        assert r.n == n
        assert r.n_kept == len(kept) == hi - lo
        assert r.trimmed_sum == sum(kept)
        assert r.trimmed_mean_milli == sum(kept) * 1000 // len(kept)
        assert min(xs) * 1000 <= r.trimmed_mean_milli <= max(xs) * 1000


# === round-6 batch C invariants ================================================


def test_hodges_lehmann_matches_numpy_reference(run, spark, sf_dir):
    """Walsh-pair count is exactly n(n+1)/2 and the weighted-histogram
    median equals a brute-force numpy Walsh median over the raw rows."""
    import numpy as np
    from collections import defaultdict

    vals = defaultdict(list)
    for r in (
        spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        .selectExpr("l_returnflag", "CAST(round(l_quantity) AS BIGINT) AS x")
        .collect()
    ):
        vals[r.l_returnflag].append(r.x)
    rows = run("stats_hodges_lehmann")
    assert {r.l_returnflag for r in rows} == set(vals)
    for r in rows:
        x = np.array(sorted(vals[r.l_returnflag]), dtype=np.int64)
        n = len(x)
        assert r.n_walsh == n * (n + 1) // 2
        sums = np.add.outer(x, x)[np.triu_indices(n)]
        k = (len(sums) + 1) // 2 - 1
        expected = np.partition(sums, k)[k]
        assert r.hl_double == int(expected)
        assert r.hl_milli == r.hl_double * 500
        assert 2 * x.min() <= r.hl_double <= 2 * x.max()


def test_wilcoxon_rank_sum_identity(run, duck):
    """W2+ + W2- = n(n+1) (doubled total rank sum) and the split matches
    a Python recompute with scipy-style mid-ranks."""
    daily = duck.execute(
        """
        SELECT event_type, date_trunc('day', ts) AS d,
               (10 * CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT))
                 // CAST(COUNT(*) AS BIGINT) AS x
        FROM events WHERE event_type IN ('view', 'click') GROUP BY 1, 2
        """
    ).fetchall()
    by = {}
    for et, d, x in daily:
        by.setdefault(d, {})[et] = int(x)
    diffs = [
        v["view"] - v["click"]
        for v in by.values()
        if "view" in v and "click" in v and v["view"] != v["click"]
    ]
    (r,) = run("stats_wilcoxon_signed_rank")
    assert r.n_pairs == len(diffs)
    assert r.w2_plus + r.w2_minus == r.n_pairs * (r.n_pairs + 1)
    srt = sorted(abs(d) for d in diffs)
    w2p = 0
    for d in diffs:
        if d > 0:
            below = sum(1 for a in srt if a < abs(d))
            tied = sum(1 for a in srt if a == abs(d))
            w2p += 2 * below + tied + 1
    assert r.w2_plus == w2p


def test_krippendorff_alpha_python_reference(run, spark, sf_dir):
    """Alpha recomputed exactly (fractions.Fraction) from the raw
    (unit, label) pairs; bounded above by 1."""
    from collections import Counter, defaultdict
    from fractions import Fraction

    units = defaultdict(Counter)
    for r in (
        spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        .select("l_orderkey", "l_returnflag")
        .collect()
    ):
        units[r.l_orderkey][r.l_returnflag] += 1
    do = Fraction(0)
    n = 0
    labels = Counter()
    for cnt in units.values():
        m = sum(cnt.values())
        if m < 2:
            continue
        n += m
        labels.update(cnt)
        do += Fraction(m * m - sum(v * v for v in cnt.values()), m - 1)
    snv2 = sum(v * v for v in labels.values())
    alpha = 1 - Fraction(n - 1) * do / (n * n - snv2)
    (r,) = run("eval_krippendorff_alpha")
    assert r.n == n
    assert r.snv2_all == snv2
    assert r.o_sc == do * 720720  # LCM-scaled sum is exact
    assert r.alpha <= 1
    assert abs(r.alpha - float(alpha)) < 1e-6


def test_temperature_mixture_budget_and_weights(run, spark, sf_dir):
    import math

    per_src = {
        r.source: r.n
        for r in spark.read.parquet(f"{sf_dir}/documents.parquet")
        .groupBy("source")
        .count()
        .withColumnRenamed("count", "n")
        .collect()
    }
    rows = run("sample_temperature_mixture")
    assert {r.source for r in rows} == set(per_src)
    assert sum(r.alloc for r in rows) == 1000
    for r in rows:
        assert r.n_docs == per_src[r.source]
        assert r.weight == round(math.sqrt(r.n_docs) * 1000)
        assert r.alloc >= 0


def test_iqr_fences_python_reference(run, spark, sf_dir):
    from collections import defaultdict

    vals = defaultdict(list)
    for r in (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .selectExpr("event_type", "CAST(round(value * 100) AS BIGINT) AS x")
        .collect()
    ):
        vals[r.event_type].append(r.x)
    rows = run("stats_iqr_fences")
    assert {r.event_type for r in rows} == set(vals)
    for r in rows:
        xs = sorted(vals[r.event_type])
        n = len(xs)
        q1 = xs[(n + 3) // 4 - 1]
        q3 = xs[(3 * n + 3) // 4 - 1]
        out = sum(
            1
            for x in xs
            if 2 * x < 2 * q1 - 3 * (q3 - q1) or 2 * x > 2 * q3 + 3 * (q3 - q1)
        )
        assert (r.n, r.q1_cents, r.q3_cents, r.n_outliers) == (n, q1, q3, out)
        assert r.q1_cents <= r.q3_cents


# === round-6 batch D invariants ================================================


def test_auprc_matches_python_reference(run, spark, sf_dir):
    """Step-wise average precision recomputed exactly in Python from the
    raw (score, label) pairs; bounded in [0, 1]; baseline = prevalence."""
    rows_raw = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .selectExpr(
            "CAST(n_chars AS BIGINT) AS s",
            "CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y",
        )
        .collect()
    )
    from collections import defaultdict

    hist = defaultdict(lambda: [0, 0])
    for r in rows_raw:
        hist[r.s][0] += 1
        hist[r.s][1] += r.y
    p_all = sum(v[1] for v in hist.values())
    n_all = sum(v[0] for v in hist.values())
    tp = npred = 0
    ap_num = 0
    for s in sorted(hist, reverse=True):
        cnt, pos = hist[s]
        tp_prev = tp
        tp += pos
        npred += cnt
        ap_num += (tp - tp_prev) * (1_000_000 * tp // npred)
    (r,) = run("eval_auprc_threshold_sweep")
    assert (r.n_pos, r.n_docs) == (p_all, n_all)
    assert r.auprc_micro == ap_num // p_all
    assert 0 <= r.auprc_micro <= 1_000_000
    assert r.baseline_micro == 1_000_000 * p_all // n_all


def test_avg_neighbor_degree_endpoint_identity(run, spark, sf_dir):
    """A degree-k node contributes exactly k endpoint rows, so
    n_endpoints = degree * n_nodes per class and the classes partition
    the edge set."""
    from c2_duckdb_runner_spark.relations import trade_edges as _edges

    E = _edges(spark, sf_dir).count()
    rows = run("graph_avg_neighbor_degree")
    assert sum(r.n_endpoints for r in rows) == E
    for r in rows:
        assert r.n_endpoints == r.degree * r.n_nodes
        assert r.knn_micro == 1_000_000 * r.sum_nbr_deg // r.n_endpoints
        assert r.knn_micro >= 1_000_000  # every neighbor has degree >= 1


def test_poisson_dispersion_python_reference(run, duck):
    daily = duck.execute(
        "SELECT event_type, date_trunc('day', ts), COUNT(*) FROM events"
        " GROUP BY 1, 2"
    ).fetchall()
    from collections import defaultdict

    series = defaultdict(list)
    for et, _, x in daily:
        series[et].append(int(x))
    rows = run("stats_poisson_dispersion")
    assert {r.event_type for r in rows} == set(series)
    for r in rows:
        xs = series[r.event_type]
        n, sx, sxx = len(xs), sum(xs), sum(x * x for x in xs)
        assert r.n_days == n and r.n_events == sx
        assert r.vmr_micro == 1_000_000 * (n * sxx - sx * sx) // (n * sx)
        assert r.vmr_micro >= 0


def test_compression_rate_conservation(run, spark, sf_dir):
    n = spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    rows = run("pipeline_tokenizer_compression_rate")
    assert sum(r.n_docs for r in rows) == n
    for r in rows:
        assert r.total_chars >= r.total_tokens  # every token >= 1 char
        assert r.chars_per_token_micro >= 1_000_000
        assert (
            r.chars_per_token_micro
            == 1_000_000 * r.total_chars // r.total_tokens
        )


# === final round-6 additions: conservation laws for older keys ================


def test_largest_remainder_conservation(run, spark, sf_dir):
    """THE property Hamilton allocation exists for: per order,
    sum(alloc_cents) == the order's total cents, exactly — and pinned on
    the operator whose 10x tie-break bug round 6 fixed."""
    from collections import defaultdict

    totals = {
        r.k: r.t
        for r in spark.read.parquet(f"{sf_dir}/orders.parquet")
        .filter("o_orderkey % 9 = 0")
        .selectExpr(
            "o_orderkey AS k",
            "CAST(round(o_totalprice * 100) AS BIGINT) AS t",
        )
        .collect()
    }
    alloc = defaultdict(int)
    for r in run("alloc_largest_remainder"):
        alloc[r.order_key] += r.alloc_cents
    assert set(alloc) == set(totals) & set(alloc)  # only orders with lines
    for k, s in alloc.items():
        assert s == totals[k], f"order {k}: {s} != {totals[k]}"


def test_benford_shares_sum_and_reference_law(run):
    """Observed digit shares partition the sample (sum ~ 1e6 up to floor
    loss per digit); the reference column IS Benford's law."""
    import math

    rows = run("audit_benford_digits")
    assert {r.d for r in rows} <= set(range(1, 10))
    tot_ppm = sum(r.observed_ppm for r in rows)
    assert 1_000_000 - 9 <= tot_ppm <= 1_000_000
    for r in rows:
        expect = math.floor(math.log10(1.0 + 1.0 / r.d) * 1_000_000)
        assert r.benford_ppm == expect
        n_tot = sum(x.n for x in rows)
        assert r.observed_ppm == r.n * 1_000_000 // n_tot


def test_retention_cohort_structure(run):
    """Week-0 actives equal the cohort size (everyone is active in their
    first week by construction) and no offset exceeds week 0."""
    from collections import defaultdict

    by_cohort = defaultdict(dict)
    for r in run("retention_cohort_weekly"):
        assert r.offset_wk >= 0
        by_cohort[r.cohort_wk][r.offset_wk] = r.n_active
    for cohort, offs in by_cohort.items():
        assert 0 in offs  # week-0 row always present
        for off, n in offs.items():
            assert n <= offs[0]
