"""Stop-shingle df-cap (the dedup skew knob, SCALE.md "Text / dedup
ladder"): behavioral contract of ``jaccard_neardup_pairs(max_doc_freq)``.

Runs at sf0.01 — the gate scale with planted duplicates (each text has
10 copies), which is exactly the regime the cap reasons about."""

from distributed_map_reduce_spark.operators.dedup import (
    jaccard_neardup_pairs,
    q24_ngram_jaccard_dedup,
)

SF = "/root/testdata/sf0.01"


def _pairs(df):
    return {(r["ad"], r["bd"]): r["jacc"] for r in df.collect()}


def test_cap_one_yields_no_pairs(spark):
    """A shingle in only one document can never generate a pair."""
    assert _pairs(jaccard_neardup_pairs(spark, SF, max_doc_freq=1)) == {}


def test_loose_cap_equals_uncapped(spark):
    """A cap above every shingle's document frequency is a no-op."""
    uncapped = _pairs(q24_ngram_jaccard_dedup(spark, SF))
    assert uncapped, "gate corpus must contain near-dup pairs"
    capped = _pairs(jaccard_neardup_pairs(spark, SF, max_doc_freq=10**6))
    assert capped == uncapped


def test_cap_drops_boilerplate_pairs_keeps_true_neardups(spark):
    """The skew scenario the cap exists for: 4 docs sharing a dominant
    boilerplate block pair up only via that block (J≈0.67); one genuine
    near-dup pair overlaps via low-frequency shingles (J=0.6). A cap of
    3 (< boilerplate df of 4) kills the boilerplate pairs and keeps the
    true near-dup — exactly the documented trade."""
    boiler = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [(i, f"{boiler} unique{i} filler{i}") for i in range(4)]
    rows += [
        (10, "one two three four five six seven eight nine ten"),
        (11, "one two three four five six seven eight nine END"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    uncapped = _pairs(jaccard_neardup_pairs(spark, "", docs=docs))
    boiler_pairs = {(a, b) for a in range(4) for b in range(4) if a < b}
    assert boiler_pairs <= set(uncapped)
    assert (10, 11) in uncapped

    capped = _pairs(jaccard_neardup_pairs(spark, "", max_doc_freq=3, docs=docs))
    assert not boiler_pairs & set(capped)
    assert (10, 11) in capped


def test_fuzzy_blocked_equals_nested_loop_variant(spark):
    """Prefix-filter blocking must find exactly the pairs the open
    nested-loop q57 finds — at a cap well beyond the demo range, so the
    equivalence isn't an artifact of the oracle's tiny window."""
    from distributed_map_reduce_spark.operators.dedup import (
        fuzzy_pairs_blocked,
        q57_fuzzy_name_pairs,
    )
    import distributed_map_reduce_spark.operators.dedup as dd

    def rows(df):
        return {(r["ak"], r["bk"]): r["dist"] for r in df.collect()}

    blocked = rows(fuzzy_pairs_blocked(spark, SF, key_cap=400))
    # widen the nested-loop demo cap for the comparison only
    part_cap = dd.LEV_KEY_CAP
    try:
        dd.LEV_KEY_CAP = 400
        reference = rows(q57_fuzzy_name_pairs(spark, SF))
    finally:
        dd.LEV_KEY_CAP = part_cap
    assert blocked == reference
    assert blocked, "cap-400 range must contain fuzzy pairs"


def test_fuzzy_blocked_short_strings_use_length_bands(spark):
    """The part corpus never has names below the q*(k+1) count-filter
    threshold, so pin the short-string path synthetically: short names
    sharing NO q-gram must still pair when within edit distance k
    (length-band blocking), and the result must equal brute force."""
    from distributed_map_reduce_spark.operators.dedup import (
        LEV_MAX,
        fuzzy_blocked_pairs_frame,
    )

    names = ["ab", "xy", "abcd", "abcf", "x", "", "gainsboro peru red sandy",
             "gainsboro peru red sandz"]
    df = spark.createDataFrame(
        [(i, n) for i, n in enumerate(names)], "p_partkey long, p_name string"
    )
    got = {
        (r["ak"], r["bk"]): r["dist"]
        for r in fuzzy_blocked_pairs_frame(df).collect()
    }

    def lev(a, b):
        dp = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            prev, dp[0] = dp[0], i
            for j, cb in enumerate(b, 1):
                prev, dp[j] = dp[j], min(
                    dp[j] + 1, dp[j - 1] + 1, prev + (ca != cb)
                )
        return dp[len(b)]

    want = {
        (i, j): lev(names[i], names[j])
        for i in range(len(names))
        for j in range(i + 1, len(names))
        if lev(names[i], names[j]) <= LEV_MAX
    }
    assert got == want
    # the interesting case really is in there: zero shared grams, ed<=k
    assert (0, 1) in want  # "ab" vs "xy"


def test_cap_bounds_candidates_on_hot_shingle_corpus(spark):
    """VERDICT r3 item 5a: a corpus where one boilerplate block sits in
    80% of documents. Uncapped, that block alone generates
    C(40,2)=780 candidate pairs; with the df-cap the hot shingles never
    enter the self-join, so the candidate count collapses to the pairs
    sharing at least one sub-cap shingle — and surviving results equal
    the cap-free run minus boilerplate-only pairs."""
    import pyspark.sql.functions as F

    from distributed_map_reduce_spark.operators.dedup import (
        _doc_shingle_keys,
    )

    boiler = "the quick brown fox jumps over the lazy dog again today"
    n_hot, n_clean = 40, 10

    def wid(i):  # letter-only id: the tokenizer drops digits
        return "".join(chr(97 + int(d)) for d in str(i))

    rows = [(i, f"{boiler} tag{wid(i)} mark{wid(i)}") for i in range(n_hot)]
    rows += [
        (100 + i, " ".join(f"{w}{wid(i)}" for w in
                           ["item", "alpha", "beta", "gamma", "delta", "zeta"]))
        for i in range(n_clean)
    ]
    # one genuine near-dup pair among the clean docs
    rows += [
        (200, "orange purple silver golden copper bronze iron steel"),
        (201, "orange purple silver golden copper bronze iron METAL"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    cap = 8  # < n_hot, > any clean shingle's df

    def cand_count(sh):
        a = sh.select(F.col("doc_id").alias("ad"), "k")
        b = sh.select(F.col("doc_id").alias("bd"), "k")
        return (
            a.join(b, "k").filter(F.col("ad") < F.col("bd"))
            .select("ad", "bd").distinct().count()
        )

    sh = _doc_shingle_keys(spark, "", docs=docs)
    df_per_key = sh.groupBy("k").agg(F.count(F.lit(1)).alias("df"))
    keep = df_per_key.filter(F.col("df") <= cap).select("k")
    uncapped_cands = cand_count(sh)
    capped_cands = cand_count(sh.join(keep, "k"))
    assert uncapped_cands >= (n_hot * (n_hot - 1)) // 2  # hot blowup real
    assert capped_cands < 20  # bounded: no hot bucket survives

    uncapped = _pairs(jaccard_neardup_pairs(spark, "", docs=docs))
    capped = _pairs(jaccard_neardup_pairs(spark, "", max_doc_freq=cap, docs=docs))
    hot_ids = set(range(n_hot))
    # capped = cap-free minus the pairs that exist only via boilerplate
    assert set(capped) == {
        p for p in uncapped if not (p[0] in hot_ids and p[1] in hot_ids)
    }
    assert (200, 201) in capped


def test_incremental_dedup_equals_batch_recompute(spark, sf_dir):
    """The incremental store probe (q90) must find EXACTLY the pairs the
    full-corpus batch recompute (q25) finds among pairs touching a new
    doc — the recompute-equivalence contract of append-only-crawl
    dedup."""
    import pyspark.sql.functions as F

    from distributed_map_reduce_spark.operators.dedup import (
        INC_MOD,
        INC_REM,
        q25_minhash_lsh_dedup,
        q90_incremental_dedup,
    )

    touches_delta = (F.col("ad") % INC_MOD == INC_REM) | (
        F.col("bd") % INC_MOD == INC_REM
    )
    want = sorted(
        tuple(r)
        for r in q25_minhash_lsh_dedup(spark, sf_dir)
        .filter(touches_delta)
        .collect()
    )
    got = sorted(tuple(r) for r in q90_incremental_dedup(spark, sf_dir).collect())
    assert got == want and len(got) > 0


def test_overlap_pairs_matches_brute_force_sets(spark):
    """The pair-overlap kernel on a hand-built 4-doc corpus, with and
    without weights, equals brute-force Python set arithmetic: one
    (ad, bd, i, na, nb) row per unordered sharing pair, ad < bd — no
    self pair, no mirrored pair, no row for doc 4, which shares
    nothing."""
    from distributed_map_reduce_spark.operators.dedup import overlap_pairs

    sets = {1: {10, 11, 12}, 2: {11, 12, 13}, 3: {12, 14}, 4: {99}}
    w = {10: 5, 11: 3, 12: 2, 13: 7, 14: 1, 99: 4}  # a function of k
    elems = spark.createDataFrame(
        [(d, k, w[k]) for d, ks in sets.items() for k in ks],
        "doc_id long, k long, w long",
    )
    for weight, mass in ((None, len), ("w", lambda ks: sum(w[k] for k in ks))):
        want = {
            (a, b): (mass(sets[a] & sets[b]), mass(sets[a]), mass(sets[b]))
            for a in sets
            for b in sets
            if a < b and sets[a] & sets[b]
        }
        rows = overlap_pairs(elems, weight).collect()
        got = {(r["ad"], r["bd"]): (r["i"], r["na"], r["nb"]) for r in rows}
        assert len(rows) == len(got) and got == want, (weight, rows)
        assert 4 not in {d for pair in got for d in pair}
