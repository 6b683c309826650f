"""Unit tests for the training-data pipeline operators (dedup, textproc,
simsearch, multimodal) — the rows-only-checked sketches get their semantic
verification here (SURVEY.md §5.3.1).
"""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from crawlspark import dedup, multimodal, simsearch, textproc

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet").persist()


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet").persist()


def test_exact_groups_finds_planted_duplicates(spark, docs):
    dup = docs.filter(F.col("doc_id") % 7 == 0).withColumn(
        "doc_id", F.col("doc_id") + 5000
    )
    groups = dedup.exact_groups(docs.unionByName(dup)).persist()
    n_docs = docs.count()
    n_dup = dup.count()
    assert groups.filter(F.col("n_copies") == 2).count() == n_dup
    # keeper is always the minimum doc_id (the original)
    assert groups.filter(F.col("keeper_id") >= 5000).count() == 0
    assert groups.count() == n_docs  # one group per distinct text


def test_jaccard_pairs_symmetric_and_thresholded(spark, docs):
    pairs = dedup.jaccard_pairs(docs, threshold=0.5).toPandas()
    assert (pairs["doc_a"] < pairs["doc_b"]).all()
    assert (pairs["jaccard"] >= 0.5).all()
    assert (pairs["jaccard"] <= 1.0).all()


def test_minhash_lsh_finds_jaccard_neardups(spark, docs):
    """LSH candidates must cover the true high-Jaccard pairs (16 bands x 4
    rows -> ~100% recall at j >= 0.7), and the MinHash estimate must be close
    to the true Jaccard."""
    true_pairs = dedup.jaccard_pairs(docs, threshold=0.7).toPandas()
    sigs = dedup.minhash_signatures(docs)
    cand = dedup.lsh_candidate_pairs(sigs).toPandas()
    got = set(zip(cand.doc_a, cand.doc_b))
    missing = [
        (a, b) for a, b in zip(true_pairs.doc_a, true_pairs.doc_b) if (a, b) not in got
    ]
    assert not missing, f"LSH missed true near-dup pairs: {missing}"
    merged = cand.merge(true_pairs, on=["doc_a", "doc_b"])
    if len(merged):
        err = (merged.est_jaccard - merged.jaccard).abs()
        assert err.max() < 0.25, f"MinHash estimate error too high: {err.max()}"


def test_simhash_neardup_covers_exact_dups(spark, docs):
    """A doc and its identical copy have identical simhash -> hamming 0."""
    dup = docs.filter(F.col("doc_id") % 11 == 0).withColumn(
        "doc_id", F.col("doc_id") + 5000
    )
    sh = dedup.simhash(docs.unionByName(dup))
    pairs = dedup.simhash_pairs(sh, max_hamming=0).toPandas()
    expected = {(int(r), int(r) + 5000) for r in dup.select(F.col("doc_id") - 5000).toPandas().iloc[:, 0]}
    got = set(zip(pairs.doc_a, pairs.doc_b))
    assert expected <= got


def test_simhash_is_64bit_stable(spark, docs):
    a = dedup.simhash(docs).toPandas().set_index("doc_id")["simhash"]
    b = dedup.simhash(docs.repartition(7)).toPandas().set_index("doc_id")["simhash"]
    pd.testing.assert_series_equal(a.sort_index(), b.sort_index())


def test_ann_lsh_recall_vs_bruteforce(spark, emb):
    exact = simsearch.topk_bruteforce(emb, k=5).toPandas()
    approx = simsearch.topk_lsh(emb, k=5).toPandas()
    e = set(zip(exact.q_vec_id, exact.neighbor_id))
    a = set(zip(approx.q_vec_id, approx.neighbor_id))
    recall = len(e & a) / len(e)
    assert recall >= 0.8, f"LSH recall {recall} too low"
    # every query returns exactly k ranked rows in both
    assert exact.groupby("q_vec_id").size().eq(5).all()
    assert approx.groupby("q_vec_id").size().le(5).all()


@pytest.mark.parametrize(
    "topk",
    [
        simsearch.topk_bruteforce,
        simsearch.topk_bruteforce_arrow,
        simsearch.topk_lsh,
        simsearch.ivf_topk,
    ],
    ids=lambda f: f.__name__,
)
def test_topk_with_no_matching_query_returns_no_rows(spark, emb, topk):
    """A query id absent from the corpus selects an empty query side; every
    top-k path must return zero rows, never fail building its query matrix."""
    assert topk(emb, query_ids=[10**9], k=5).count() == 0


def test_embedding_neardup_matches_numpy(spark, emb):
    import numpy as np

    pairs = dedup.embedding_neardup(emb, threshold=0.3).toPandas()
    pdf = emb.toPandas().sort_values("vec_id")
    V = np.array(list(pdf.embedding), dtype=np.float64)
    Vn = V / np.linalg.norm(V, axis=1, keepdims=True)
    C = np.round(Vn @ Vn.T, 4)
    ids = pdf.vec_id.to_numpy()
    iu = np.triu_indices(len(V), 1)
    want = {
        (int(ids[i]), int(ids[j]))
        for i, j in zip(*iu)
        if C[i, j] >= 0.3
    }
    got = set(zip(pairs.vec_a, pairs.vec_b))
    assert got == want


def test_semdedup_drops_planted_within_cluster_duplicate(spark, emb):
    """SemDeDup semantics: a planted exact-duplicate vector (cos=1.0) must
    land in its original's cluster and be the dropped member of the pair
    (greedy keep-lowest), while at a threshold above the corpus's max
    natural cosine (~0.51 at this SF) nothing ELSE is dropped."""
    dup = emb.filter(F.col("vec_id") == 0).withColumn(
        "vec_id", F.col("vec_id") + 9000
    )
    aug = emb.unionByName(dup)
    out = dedup.semdedup(aug, threshold=0.9).toPandas()
    assert len(out) == aug.count()  # one verdict per vector
    by_id = out.set_index("vec_id")
    assert by_id.loc[9000, "cluster_id"] == by_id.loc[0, "cluster_id"]
    assert bool(by_id.loc[0, "kept"]) is True
    assert bool(by_id.loc[9000, "kept"]) is False
    assert (~out["kept"]).sum() == 1  # only the planted dup drops at 0.9


def test_semdedup_drops_exactly_the_within_cell_numpy_pairs(spark, emb):
    """The shared blocked screen partitioned by cell: at q84's threshold the
    dropped set is the higher id of every numpy all-pairs cosine pair
    (rounded to 4 places) whose two vectors share an ivf_assign_arrow cell
    — no cross-cell pair may leak in, no within-cell pair may be lost."""
    import numpy as np

    out = dedup.semdedup(emb, threshold=0.35).toPandas()
    cents = simsearch.train_ivf_centroids(emb)
    cell = {
        r["vid"]: r["cid"] for r in simsearch.ivf_assign_arrow(emb, cents).collect()
    }
    pdf = emb.toPandas().sort_values("vec_id")
    V = np.array(list(pdf.embedding), dtype=np.float64)
    Vn = V / np.linalg.norm(V, axis=1, keepdims=True)
    C = np.round(Vn @ Vn.T, 4)
    ids = pdf.vec_id.to_numpy()
    want = {
        int(ids[j])
        for i, j in zip(*np.triu_indices(len(V), 1))
        if C[i, j] >= 0.35 and cell[ids[i]] == cell[ids[j]]
    }
    got = set(out.loc[~out["kept"], "vec_id"].astype(int))
    assert got == want
    assert len(got) >= 1


def test_duplicate_spans_recovers_planted_passage_and_xxh_twin_matches(spark, docs):
    """A 10-word passage planted into two otherwise-unique docs must come
    back as exactly one maximal span per doc at the right word offsets
    (ExactSubstr semantics); a within-doc repetition must also flag; and the
    xxh n-ary scale twin must produce the identical span set on the real
    corpus (gram identity is hash-equivalence under either hash)."""
    passage = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    uniq1 = " ".join(f"u{i}" for i in range(6))
    uniq2 = " ".join(f"v{i}" for i in range(4))
    rep = "one two three four five"
    crafted = spark.createDataFrame(
        [
            (1, f"{uniq1} {passage}"),            # passage at words 7..16
            (2, f"{passage} {uniq2}"),            # passage at words 1..10
            (3, f"{rep} x1 x2 x3 {rep}"),         # within-doc repetition
        ],
        "doc_id long, text string",
    )
    out = dedup.duplicate_spans(crafted, n=5).toPandas()
    spans = {
        (r.doc_id, r.span_start, r.span_end, r.n_grams)
        for r in out.itertuples()
    }
    assert (1, 7, 16, 6) in spans   # 10 words -> 6 overlapping 5-grams
    assert (2, 1, 10, 6) in spans
    assert {(3, 1, 5, 1), (3, 9, 13, 1)} <= spans
    assert len(spans) == 4
    a = (
        dedup.duplicate_spans(docs, n=5)
        .toPandas()
        .sort_values(["doc_id", "span_start"])
        .reset_index(drop=True)
    )
    b = (
        dedup.duplicate_spans(docs, n=5, hash_fn="xxh")
        .toPandas()
        .sort_values(["doc_id", "span_start"])
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(a, b)


def test_cocitation_pairs_couples_by_shared_keys_and_cuts_ubiquitous(spark):
    """Bibliographic coupling on a crafted edge table: A and B share
    {k1, k2} -> one pair with n_shared=2 and jaccard 2/(4+3-2)=0.4; the
    nav link every doc carries (df=3 > max_df=2) is stop-cut so it couples
    nothing; C shares only the nav link and pairs with nobody.  The
    cap-stats twin must report exactly the cut."""
    edges = spark.createDataFrame(
        [("A", k) for k in ("k1", "k2", "k3", "nav")]
        + [("B", k) for k in ("k1", "k2", "nav")]
        + [("C", k) for k in ("k9", "nav")],
        "doc_id string, sh string",
    )
    out = dedup.cocitation_pairs(edges, min_shared=2, max_df=2).toPandas()
    assert len(out) == 1
    r = out.iloc[0]
    assert (r.doc_a, r.doc_b) == ("A", "B")
    assert r.n_a == 4 and r.n_b == 3 and r.n_shared == 2
    assert r.link_jaccard == 0.4
    stats = dedup.cocitation_stop_key_stats(edges, max_df=2).toPandas().iloc[0]
    assert stats.n_rows == 9
    assert stats.rows_dropped == 3       # the nav key's three edges
    assert stats.buckets_dropped == 1
    assert stats.max_bucket_n == 3


def test_cocitation_pairs_never_couple_on_null_keys(spark):
    """NULL keys couple nothing, as in SQL ``JOIN USING``: A and B share one
    real key plus a NULL key each, so at min_shared=2 no pair exists."""
    edges = spark.createDataFrame(
        [("A", "k1"), ("A", None), ("B", "k1"), ("B", None)],
        "doc_id string, sh string",
    )
    assert dedup.cocitation_pairs(edges, min_shared=2, max_df=20).count() == 0
    one = dedup.cocitation_pairs(edges, min_shared=1, max_df=20).collect()
    assert [(r.doc_a, r.doc_b, r.n_a, r.n_b, r.n_shared) for r in one] == [
        ("A", "B", 1, 1, 1)
    ]


def test_funnel_enforces_strict_event_ordering(spark):
    """Funnel semantics: user 1 completes view<click<purchase; user 2's
    click PRECEDES their first view so they stall at stage 1; user 3
    clicks after viewing but purchases BEFORE clicking, stalling at stage
    2; user 4 never views (absent from every stage)."""
    from crawlspark.pipeline_queries import q91_funnel

    rows = [
        (1, "view", 10), (1, "click", 20), (1, "purchase", 30),
        (2, "click", 5), (2, "view", 10), (2, "purchase", 50),
        (3, "view", 10), (3, "purchase", 15), (3, "click", 20),
        (4, "click", 10), (4, "purchase", 20),
    ]
    ev = spark.createDataFrame(
        rows, "user_id long, event_type string, m long"
    ).select(
        "user_id",
        "event_type",
        F.timestamp_seconds(F.col("m") * 60).alias("ts"),
    )
    import tempfile

    with tempfile.TemporaryDirectory() as td:
        ev.write.parquet(f"{td}/events.parquet")
        out = q91_funnel(spark, td).toPandas().set_index("stage")
    assert out.loc["1_view", "n_users"] == 3      # users 1,2,3
    assert out.loc["2_click", "n_users"] == 2     # users 1,3 (2's click too early)
    assert out.loc["3_purchase", "n_users"] == 1  # user 1 only
    assert out.loc["1_view", "conversion"] == 1.0
    assert out.loc["2_click", "conversion"] == round(2 / 3, 4)
    assert out.loc["3_purchase", "conversion"] == round(1 / 3, 4)


def test_retention_cohorts_two_cohorts_with_churn(spark):
    """Two cohorts with known churn: cohort A (users 1,2,3 first active
    week of Jan 6 2025) keeps 2/3 in week 1 and 1/3 in week 2; cohort B
    (user 4, week of Jan 13) churns immediately.  Exact cells + ratios."""
    from crawlspark.pipeline_queries import q90_retention_cohorts

    rows = [
        (1, "2025-01-06"), (2, "2025-01-07"), (3, "2025-01-08"),  # A age 0
        (1, "2025-01-14"), (2, "2025-01-15"),                     # A age 1
        (1, "2025-01-21"),                                        # A age 2
        (4, "2025-01-16"),                                        # B age 0
    ]
    ev = spark.createDataFrame(
        [(i, u, d) for i, (u, d) in enumerate(rows)],
        "event_id long, user_id long, d string",
    ).select("user_id", F.col("d").cast("timestamp").alias("ts"))
    import tempfile

    with tempfile.TemporaryDirectory() as td:
        ev.write.parquet(f"{td}/events.parquet")
        out = q90_retention_cohorts(spark, td).toPandas()
    cells = {
        (r.cohort_week, r.age_weeks): (r.n_users, r.retention)
        for r in out.itertuples()
    }
    assert cells[("2025-01-06", 0)] == (3, 1.0)
    assert cells[("2025-01-06", 1)] == (2, round(2 / 3, 4))
    assert cells[("2025-01-06", 2)] == (1, round(1 / 3, 4))
    assert cells[("2025-01-13", 0)] == (1, 1.0)
    assert len(cells) == 4


def test_excise_duplicate_spans_keeps_first_occurrence_only(spark):
    """ExactSubstr excision semantics on the q88 crafted corpus: the
    lexicographically-first copy of each duplicated span survives (doc 1's
    passage, doc 3's first repetition), every other copy is cut, span-free
    words pass through in order, and a doc with no duplicated spans comes
    back verbatim."""
    passage = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    uniq1 = " ".join(f"u{i}" for i in range(6))
    uniq2 = " ".join(f"v{i}" for i in range(4))
    rep = "one two three four five"
    crafted = spark.createDataFrame(
        [
            (1, f"{uniq1} {passage}"),
            (2, f"{passage} {uniq2}"),
            (3, f"{rep} x1 x2 x3 {rep}"),
            (4, "Totally UNIQUE words Nothing shared HERE at all"),
            (5, f"Mixed CASE prefix {passage.upper()}"),
        ],
        "doc_id long, text string",
    )
    out = (
        dedup.excise_duplicate_spans(crafted, n=5)
        .toPandas()
        .set_index("doc_id")
    )
    assert out.loc[1, "clean_text"] == f"{uniq1} {passage}"
    assert out.loc[1, "n_words_excised"] == 0
    assert out.loc[2, "clean_text"] == uniq2
    assert out.loc[2, "n_words_excised"] == 10
    assert out.loc[3, "clean_text"] == f"{rep} x1 x2 x3"
    assert out.loc[3, "n_words_excised"] == 5
    # ORIGINAL case preserved for surviving words (detection is
    # case-insensitive: doc 5's uppercased passage IS a duplicate of doc
    # 1's and gets excised, but its kept prefix keeps its casing)
    assert out.loc[4, "clean_text"] == "Totally UNIQUE words Nothing shared HERE at all"
    assert out.loc[4, "n_words_excised"] == 0
    assert out.loc[5, "clean_text"] == "Mixed CASE prefix"
    assert out.loc[5, "n_words_excised"] == 10


def test_embedding_decontaminate_flags_planted_bench_copy(spark, emb):
    """A corpus vector that IS a bench vector (cos=1.0) must be flagged,
    clean-by-construction corpus rows must not be, n_bench_hits must agree
    with a brute-force numpy count at the same rounded threshold, and the
    bench_max_rows gate must raise rather than collect an oversized bench
    frame."""
    import numpy as np

    bench = emb.filter(F.col("vec_id") < 8)
    corpus = emb.filter(F.col("vec_id") >= 8).unionByName(
        bench.limit(1).withColumn("vec_id", F.col("vec_id") + 9000)
    )
    out = (
        dedup.embedding_decontaminate(corpus, bench, threshold=0.9)
        .toPandas()
        .set_index("vec_id")
    )
    assert bool(out.loc[9000, "contaminated"]) is True
    assert out.loc[9000, "n_bench_hits"] >= 1
    # brute-force check of the full flag set at the operator's threshold
    c_pdf = corpus.toPandas().sort_values("vec_id")
    b_pdf = bench.toPandas().sort_values("vec_id")
    V = np.array(list(c_pdf.embedding), dtype=np.float64)
    B = np.array(list(b_pdf.embedding), dtype=np.float64)
    V /= np.linalg.norm(V, axis=1, keepdims=True)
    B /= np.linalg.norm(B, axis=1, keepdims=True)
    want = (np.round(V @ B.T, 4) >= 0.9).sum(axis=1)
    got = out.loc[c_pdf.vec_id.to_numpy(), "n_bench_hits"].to_numpy()
    assert (got == want).all()
    with pytest.raises(ValueError, match="bench_max_rows"):
        dedup.embedding_decontaminate(corpus, bench, bench_max_rows=3)
    # an EMPTY eval slice returns the all-clean verdict, never a numpy
    # crash in the bench-matrix build
    empty = bench.filter(F.col("vec_id") < -1)
    res = dedup.embedding_decontaminate(corpus, empty).toPandas()
    assert (~res["contaminated"]).all()
    assert (res["n_bench_hits"] == 0).all()
    assert len(res) == corpus.count()


def test_gopher_rules_flags_each_planted_failure_mode(spark, docs):
    """One crafted doc per Gopher rule, engineered to fail EXACTLY that
    rule (every filler satisfies the other four bounds); a clean doc passes
    all five; a whitespace-padded 49-word doc must NOT be inflated past the
    word-count bound (empty split tokens are filtered); and over the real
    corpus BOTH outcomes of `passes` occur."""
    stops = "the a of in"
    crafted = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over a lazy dog and then " * 10),
            (2, "the a short doc"),                 # only word count (4)
            (3, f"{stops} " + "data# " * 56),       # only symbol ratio
            (4, "11 " * 15 + f"{stops} " + "word " * 41),  # only alpha frac
            (5, " ".join(["zzzz"] * 60)),           # only stopwords
            (6, f"{stops} " + "ab " * 56),          # only mean word len
            (7, "   " + "word " * 45 + stops + "   "),  # 49 words, padded
        ],
        "doc_id long, text string",
    )
    out = textproc.gopher_rules(crafted).toPandas().set_index("doc_id")
    rules = (
        "ok_word_count",
        "ok_mean_word_len",
        "ok_symbol_ratio",
        "ok_alpha_words",
        "ok_stopwords",
    )
    assert bool(out.loc[1, "passes"]) and all(bool(out.loc[1, r]) for r in rules)
    planted = {
        2: "ok_word_count",
        3: "ok_symbol_ratio",
        4: "ok_alpha_words",
        5: "ok_stopwords",
        6: "ok_mean_word_len",
    }
    for doc_id, failing in planted.items():
        assert not bool(out.loc[doc_id, failing]), (doc_id, failing)
        assert not bool(out.loc[doc_id, "passes"])
        for other in rules:
            if other != failing:
                assert bool(out.loc[doc_id, other]), (doc_id, other)
    # padded doc: 49 REAL words — empty tokens must not push it over 50
    assert out.loc[7, "n_words"] == 49
    assert not bool(out.loc[7, "ok_word_count"])
    corpus = textproc.gopher_rules(docs).toPandas()
    assert corpus["passes"].any() and (~corpus["passes"]).any()


def test_nb_quality_classifier_separates_planted_classes(spark):
    """Train on a separable seed set (positive seeds full of 'excellent
    wonderful prose', negative seeds full of 'spam pills click'), score two
    UNLABELED docs: the one written in positive vocabulary must classify
    is_quality=True, the spam-vocabulary one False — and unlabeled docs must
    not have influenced training (scoring them twice with and without an
    unrelated extra unlabeled doc gives identical log-odds sums)."""
    rows = (
        [(i, "excellent wonderful prose insightful " * 8) for i in range(4)]
        + [(i + 10, "spam pills click buy now cheap " * 8) for i in range(4)]
        + [(100, "excellent insightful prose indeed"), (101, "buy cheap pills now")]
    )
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    labels = spark.createDataFrame(
        [(i, 1) for i in range(4)] + [(i + 10, 0) for i in range(4)],
        "doc_id long, label int",
    )
    out = textproc.nb_quality_scores(docs, labels).toPandas().set_index("doc_id")
    assert bool(out.loc[100, "is_quality"]) is True
    assert bool(out.loc[101, "is_quality"]) is False
    assert out.loc[100, "nb_score"] > 0 > out.loc[101, "nb_score"]
    extra = spark.createDataFrame(
        [(200, "unrelated neutral filler words entirely")],
        "doc_id long, text string",
    )
    out2 = (
        textproc.nb_quality_scores(docs.unionByName(extra), labels)
        .toPandas()
        .set_index("doc_id")
    )
    assert out2.loc[100, "nb_score"] == out.loc[100, "nb_score"]
    assert out2.loc[101, "nb_score"] == out.loc[101, "nb_score"]


def test_winnowing_fingerprint_locality(spark):
    """Hallmark of winnowing: a local edit changes only a bounded number of
    fingerprints; disjoint texts share none."""
    base = "the quick brown fox jumps over the lazy dog and runs far away home tonight"
    edited = base.replace("lazy", "hazy")
    other = "completely different words entirely unrelated content nothing shared at all here"
    df = spark.createDataFrame(
        [(0, base * 3), (1, edited * 3), (2, other * 3)], "doc_id long, text string"
    )
    fps = textproc.fingerprints(df).toPandas()
    s0 = set(fps[fps.doc_id == 0].fp)
    s1 = set(fps[fps.doc_id == 1].fp)
    s2 = set(fps[fps.doc_id == 2].fp)
    jac01 = len(s0 & s1) / len(s0 | s1)
    assert jac01 > 0.3, "near-identical docs must share most fingerprints"
    assert not (s0 & s2), "disjoint docs must share no fingerprints"


def test_lang_id_and_quality_deterministic(spark, docs):
    a = textproc.lang_id(docs).toPandas().sort_values("doc_id").reset_index(drop=True)
    b = (
        textproc.lang_id(docs.repartition(13))
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(a, b)
    q = textproc.quality_score(docs).toPandas()
    assert ((q.quality >= 0) & (q.quality <= 1)).all()
    assert (q.n_words > 0).all()


def test_multimodal_roundtrip_and_stub(spark, docs):
    media = multimodal.with_payload(docs)
    feats = multimodal.extract_features(media, fake=True).toPandas()
    orig = docs.select("doc_id", F.length(F.encode("text", "utf-8")).alias("n")).toPandas()
    m = feats.merge(orig, on="doc_id")
    assert (m.n_bytes == m.n).all()
    assert set(feats.media_kind) <= {"image", "audio", "video"}
    assert ((feats.width >= 16) & (feats.width < 80)).all()
    # the real-decoder path is an explicit stub in this sandbox
    with pytest.raises(NotImplementedError):
        multimodal.decode_image(b"\x89PNG")


def test_connected_components_chain_and_clusters(spark):
    """Known graph: chain 1-2-3-4, pair 10-11, singleton edge 20-21;
    labels must be the component minimum."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21)], "doc_a long, doc_b long"
    )
    got = {
        (r["doc_id"], r["label"])
        for r in dedup.connected_components(pairs).collect()
    }
    assert got == {(1, 1), (2, 1), (3, 1), (4, 1), (10, 10), (11, 10), (20, 20), (21, 20)}


def test_flatten_for_training_orders_and_placeholders(spark):
    from crawlspark import assemble

    rows = [
        # spans arrive OUT of offset order; flatten must restore by offset
        (1, "image", None, "img://1/0", 1),
        (1, "text", "hello", None, 0),
        (1, "text", "world", None, 2),
        (2, "text", "solo", None, 0),
    ]
    span_rows = spark.createDataFrame(
        rows, "doc_id long, kind string, text string, media_ref string, offset int"
    )
    out = {
        r["doc_id"]: r
        for r in assemble.flatten_for_training(
            assemble.collect_spans(span_rows)
        ).collect()
    }
    assert out[1]["flat_text"] == "hello <|image|> world"
    assert out[1]["n_spans"] == 3 and out[1]["n_media"] == 1
    assert out[2]["flat_text"] == "solo" and out[2]["n_media"] == 0
    assert out[1]["flat_len"] == len("hello <|image|> world")


def test_pack_sequences_straddles_budget(spark):
    rows = [
        ("s", 1, "a b c d"),        # 4 tokens, start 0
        ("s", 2, "e f g"),          # 3 tokens, start 4 -> straddles budget 6
        ("s", 3, "h"),              # start 7
        ("t", 9, "x y"),            # independent stream restarts at 0
    ]
    df = spark.createDataFrame(rows, "source string, doc_id long, text string")
    out = {
        (r["source"], r["doc_id"]): (r["seq_id"], r["seq_pos"], r["n_tokens"])
        for r in textproc.pack_sequences(df, budget=6).collect()
    }
    assert out[("s", 1)] == (0, 0, 4)
    assert out[("s", 2)] == (0, 4, 3)  # starts in seq 0, straddles into seq 1
    assert out[("s", 3)] == (1, 1, 1)
    assert out[("t", 9)] == (0, 0, 2)


def test_cluster_representatives_max_quality_min_id_tiebreak(spark):
    labels = spark.createDataFrame(
        [(10, 1), (11, 1), (12, 1), (20, 2), (21, 2)], "doc_id long, label long"
    )
    quality = spark.createDataFrame(
        [(10, 0.5), (11, 0.9), (12, 0.9), (20, 0.3), (21, 0.3)],
        "doc_id long, quality double",
    )
    out = {
        r["label"]: r
        for r in dedup.cluster_representatives(labels, quality).collect()
    }
    # cluster 1: quality tie at 0.9 between 11 and 12 -> min doc_id wins
    assert out[1]["keeper_id"] == 11 and out[1]["best_quality"] == 0.9
    assert out[1]["n_members"] == 3
    # cluster 2: all-tie -> lowest doc_id
    assert out[2]["keeper_id"] == 20 and out[2]["n_members"] == 2


def test_ann_ivf_recall_vs_bruteforce(spark, emb):
    truth = {
        (r["q_vec_id"], r["neighbor_id"])
        for r in simsearch.topk_bruteforce(emb, k=5).collect()
    }
    got = {
        (r["q_vec_id"], r["neighbor_id"])
        for r in simsearch.ivf_topk(emb, k=5).collect()
    }
    recall = len(truth & got) / len(truth)
    # 4/16 probed cells over isotropic vectors: the trained coarse index must
    # keep a usable fraction of the true neighbors scanning ~1/4 of the
    # corpus (everything is seeded — these numbers are deterministic:
    # 0.55 trained vs 0.525 untrained at this config)
    assert recall >= 0.5, f"IVF recall {recall:.2f} < 0.5"
    # at 6/16 cells the trained codebook clears 0.6 (0.675 measured;
    # untrained is 0.575) — the Lloyd's rounds must keep paying for recall
    got6 = {
        (r["q_vec_id"], r["neighbor_id"])
        for r in simsearch.ivf_topk(emb, k=5, nprobe=6).collect()
    }
    recall6 = len(truth & got6) / len(truth)
    assert recall6 >= 0.6, f"IVF recall@nprobe=6 {recall6:.2f} < 0.6"


def test_pack_sequences_matches_python_reference(spark):
    """Seeded pseudo-random corpus vs a pure-Python packer: seq_id/seq_pos
    must equal the concat-then-split reference for every doc, and invariants
    hold (seq_pos < budget; start offset == seq_id*budget + seq_pos is the
    exact running token sum)."""
    import random

    rng = random.Random(7)
    rows = [
        (f"s{rng.randrange(5)}", i, " ".join("w" * 1 for _ in range(rng.randrange(1, 40))))
        for i in range(200)
    ]
    budget = 64
    df = spark.createDataFrame(rows, "source string, doc_id long, text string")
    got = {
        (r["source"], r["doc_id"]): (r["seq_id"], r["seq_pos"], r["n_tokens"])
        for r in textproc.pack_sequences(df, budget=budget).collect()
    }
    # pure-Python reference
    per_stream: dict[str, int] = {}
    for src, did, text in sorted(rows, key=lambda r: (r[0], r[1])):
        n = len(text.split())
        start = per_stream.get(src, 0)
        exp = (start // budget, start % budget, n)
        assert got[(src, did)] == exp, (src, did, got[(src, did)], exp)
        per_stream[src] = start + n
    assert all(pos < budget for (_, pos, _) in got.values())


def test_sample_frames_fanout_and_partition_invariance(spark, docs):
    media = multimodal.with_payload(docs)
    frames = multimodal.sample_frames(media, frame_size=256, every=4)
    rows = frames.collect()
    # frame-count law: every video doc emits ceil(ceil(n_bytes/256)/4) frames
    import math

    vids = {
        r["doc_id"]: len(bytes(r["payload"]))
        for r in media.filter(F.col("meta.media_kind") == "video").collect()
    }
    per_doc: dict[int, int] = {}
    for r in rows:
        per_doc[r["doc_id"]] = per_doc.get(r["doc_id"], 0) + 1
        assert len(bytes(r["frame"])) <= 256 and r["frame_idx"] % 4 == 0
    assert set(per_doc) == set(vids)
    for did, nb in vids.items():
        assert per_doc[did] == math.ceil(max(1, math.ceil(nb / 256)) / 4)
    # batch/partition layout must not change the emitted frames
    again = set(
        (r["doc_id"], r["frame_idx"], bytes(r["frame"]))
        for r in multimodal.sample_frames(
            media.repartition(2), frame_size=256, every=4
        ).collect()
    )
    assert again == {(r["doc_id"], r["frame_idx"], bytes(r["frame"])) for r in rows}


def test_incremental_minhash_refresh_equals_full_recompute(spark, docs):
    """Incremental near-dup maintenance: splicing delta signatures over the
    stored table reproduces the full recompute exactly, and the
    delta-restricted banded join returns precisely the full pair set
    filtered to delta-touching pairs."""
    delta = docs.filter(F.col("doc_id") % 10 == 0)
    corpus_v1 = docs.filter(F.col("doc_id") % 10 != 0).unionByName(
        delta.withColumn("text", F.concat(F.col("text"), F.lit(" stale version")))
    )
    old_sigs = dedup.minhash_signatures(corpus_v1)
    inc_sigs = dedup.minhash_signatures_delta(old_sigs, delta)
    full_sigs = dedup.minhash_signatures(docs)
    assert sorted(map(tuple, inc_sigs.collect())) == sorted(
        map(tuple, full_sigs.collect())
    )

    pinned = full_sigs.localCheckpoint()
    delta_ids = delta.select("doc_id")
    inc_pairs = {
        (r["doc_a"], r["doc_b"], r["est_jaccard"])
        for r in dedup.lsh_pairs_touching(pinned, delta_ids).collect()
    }
    touched = {r["doc_id"] for r in delta_ids.collect()}
    full_pairs = {
        (r["doc_a"], r["doc_b"], r["est_jaccard"])
        for r in dedup.lsh_candidate_pairs(pinned).collect()
        if r["doc_a"] in touched or r["doc_b"] in touched
    }
    assert inc_pairs == full_pairs and len(inc_pairs) > 0


def test_ivf_arrow_assignment_equals_hof_path(spark, emb):
    """The Arrow matmul assignment must agree with a sequential-sum
    struct-argmax assignment (the q57 oracle's form) on every corpus vector
    over the TRAINED codebook — the wiring ivf_topk and q57 ship with (the
    q44-vs-q34 pattern: BLAS path == oracle-parity path)."""
    d = emb.select(
        F.col("vec_id").alias("vid"),
        simsearch._as_double(F.col("embedding")).alias("v"),
    ).withColumn("norm", simsearch._norm(F.col("v")))
    cents = simsearch.train_ivf_centroids(emb)
    cent = cents.withColumn("cn", simsearch._norm(F.col("cv")))
    ccos = simsearch._dot(F.col("v"), F.col("cv")) / (F.col("norm") * F.col("cn"))
    hof = {
        (r["vid"], r["cid"])
        for r in (
            d.crossJoin(F.broadcast(cent))
            .withColumn("ccos", ccos)
            .groupBy("vid")
            .agg(F.max(F.struct(F.col("ccos"), (-F.col("cid")).alias("nc"))).alias("b"))
            .select("vid", (-F.col("b.nc")).alias("cid"))
        ).collect()
    }
    arrow = {
        (r["vid"], r["cid"])
        for r in simsearch.ivf_assign_arrow(emb, cents).collect()
    }
    assert arrow == hof


def test_cdc_chunks_survive_prefix_insertion(spark):
    """The CDC property: prepending text shifts offsets but leaves the chunk
    hashes downstream of the first content boundary intact — a fixed-size
    chunker would invalidate every chunk."""
    base = (
        "the quick brown fox jumps over the lazy dog while the cat watches "
        "from the warm windowsill and the birds sing in the garden outside "
        "the old house near the river bend under the bright morning sun"
    )
    df = spark.createDataFrame(
        [(1, base), (2, "INSERTED PREFIX >>> " + base)], "doc_id long, text string"
    )
    out = textproc.cdc_chunks(df)
    h1 = [r["chunk_md5"] for r in out.filter(F.col("doc_id") == 1).orderBy("chunk_idx").collect()]
    h2 = [r["chunk_md5"] for r in out.filter(F.col("doc_id") == 2).orderBy("chunk_idx").collect()]
    shared = set(h1) & set(h2)
    # everything after the edit realigns: all of doc 1's chunks except its
    # head chunk must reappear verbatim in doc 2
    assert set(h1[1:]) <= set(h2), (h1, h2)
    assert len(shared) >= len(h1) - 1 and len(h1) >= 3
    # chunks tile the document exactly
    row = out.filter(F.col("doc_id") == 1).orderBy("chunk_idx").collect()
    assert row[0]["chunk_start"] == 0
    for a, b in zip(row, row[1:]):
        assert a["chunk_start"] + a["chunk_len"] == b["chunk_start"]
    assert row[-1]["chunk_start"] + row[-1]["chunk_len"] == len(base)


def test_cdc_chunks_match_python_reference(spark):
    """Chunk boundaries/hashes vs a straight-line Python chunker over a
    seeded random corpus — every (doc, idx, start, len, md5) must agree."""
    import hashlib
    import random

    rng = random.Random(99)
    alpha = "abcdef gh"
    docs = [
        (i, "".join(rng.choice(alpha) for _ in range(rng.randrange(5, 300))))
        for i in range(40)
    ]

    def ref_chunks(doc_id, text):
        starts = [0]
        for i in range(len(text) - 7):
            if i > 0 and hashlib.md5(text[i : i + 8].encode()).hexdigest()[0] == "0":
                starts.append(i)
        out = []
        for ci, s in enumerate(starts):
            e = starts[ci + 1] if ci + 1 < len(starts) else len(text)
            out.append(
                (doc_id, ci, s, e - s, hashlib.md5(text[s:e].encode()).hexdigest())
            )
        return out

    expected = sorted(r for d, t in docs for r in ref_chunks(d, t))
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = sorted(
        (r["doc_id"], r["chunk_idx"], r["chunk_start"], r["chunk_len"], r["chunk_md5"])
        for r in textproc.cdc_chunks(df).collect()
    )
    assert got == expected


def test_packing_and_flatten_partition_invariant(spark, docs):
    """Window/sort determinism contract: repartitioning the input must not
    change packing assignments or flattened span text (unique sort keys ->
    unique results at any parallelism)."""
    from crawlspark import assemble
    from crawlspark import pipeline_queries as pq

    a = {
        (r["source"], r["doc_id"]): (r["seq_id"], r["seq_pos"])
        for r in textproc.pack_sequences(docs, budget=256).collect()
    }
    b = {
        (r["source"], r["doc_id"]): (r["seq_id"], r["seq_pos"])
        for r in textproc.pack_sequences(docs.repartition(7), budget=256).collect()
    }
    assert a == b

    spans = pq.interleaved_spans(spark, SF)
    f1 = {
        r["doc_id"]: r["flat_text"]
        for r in assemble.flatten_for_training(
            assemble.collect_spans(spans)
        ).collect()
    }
    f2 = {
        r["doc_id"]: r["flat_text"]
        for r in assemble.flatten_for_training(
            assemble.collect_spans(spans.repartition(11))
        ).collect()
    }
    assert f1 == f2


# ------------------------------------------------- hot-key degenerate inputs


def test_jaccard_hot_shingle_never_collected(spark):
    """Synthetic skew: one boilerplate shingle shared by 10^4 docs (df >>
    max_df).  The stop-shingle cut must run BEFORE collect_set — the viral
    shingle contributes no pairs, docs stay pairable via their rare
    shingles, and the job completes without a quadratic bucket."""
    n = 10_000
    base = spark.range(n).select(
        F.col("id").alias("doc_id"),
        # every doc shares 'all rights reserved'; each doc also carries a
        # unique trigram pair so near-dup pairs exist only where planted
        F.concat(
            F.lit("all rights reserved unique"),
            F.col("id").cast("string"),
            F.lit(" token"),
            F.col("id").cast("string"),
            F.lit(" tail"),
        ).alias("text"),
    )
    # plant one true near-dup pair: doc n and doc n+1 share doc 0's text
    twin = spark.range(2).select(
        (F.col("id") + n).alias("doc_id"),
        F.lit("all rights reserved unique0 token0 tail x y z").alias("text"),
    )
    pairs = dedup.jaccard_pairs(
        base.unionByName(twin), n=3, max_df=20, threshold=0.3
    ).toPandas()
    # the planted twins pair with each other (and possibly doc 0), but no
    # viral-shingle cross-product materializes
    assert len(pairs) <= 10
    assert {(int(a), int(b)) for a, b in zip(pairs.doc_a, pairs.doc_b)} >= {
        (n, n + 1)
    }


def test_lsh_degenerate_bucket_capped(spark):
    """10^3 byte-identical docs share every band hash.  With the bucket cap
    the self-join must not expand the C(1000,2) pair grid; genuinely
    near-dup (non-identical) docs below the cap still pair."""
    clones = spark.range(1000).select(
        F.col("id").alias("doc_id"),
        F.lit("the same viral page body repeated verbatim everywhere").alias("text"),
    )
    near = spark.range(2).select(
        (F.col("id") + 5000).alias("doc_id"),
        F.concat(
            F.lit("a distinctive document about spark batch vectors "),
            F.when(F.col("id") == 0, F.lit("alpha")).otherwise(F.lit("alpha extra")),
        ).alias("text"),
    )
    sigs = dedup.minhash_signatures(clones.unionByName(near)).localCheckpoint()
    out = dedup.lsh_candidate_pairs(sigs, max_bucket=100).toPandas()
    got = set(zip(out.doc_a, out.doc_b))
    assert (5000, 5001) in got           # real near-dups survive the cap
    assert all(a >= 5000 for a, _ in got)  # viral bucket emitted nothing


def test_simhash_degenerate_bucket_capped(spark):
    """Same contract for SimHash banding: identical docs form one giant
    (band, chunk) bucket that must be dropped, not expanded."""
    clones = spark.range(1000).select(
        F.col("id").alias("doc_id"),
        F.lit("the same viral page body repeated verbatim everywhere").alias("text"),
    )
    near = spark.range(2).select(
        (F.col("id") + 5000).alias("doc_id"),
        F.concat(
            F.lit(
                "a distinctive long document about spark batch vectors and "
                "streams with many shared words that dominate the simhash "
                "fingerprint across every bit position "
            ),
            F.when(F.col("id") == 0, F.lit("alpha")).otherwise(F.lit("beta")),
        ).alias("text"),
    )
    sh = dedup.simhash(clones.unionByName(near))
    out = dedup.simhash_pairs(sh, max_hamming=16, max_bucket=100).toPandas()
    got = set(zip(out.doc_a, out.doc_b))
    assert (5000, 5001) in got
    assert all(a >= 5000 for a, _ in got)


def test_lsh_incremental_matches_capped_full_recompute(spark, docs):
    """The delta-restricted LSH twin must equal the capped full recompute
    filtered to delta-touching pairs — with the cap applied on the full
    corpus side in both."""
    sigs = dedup.minhash_signatures(docs).localCheckpoint()
    delta = docs.select("doc_id").filter(F.col("doc_id") % 3 == 0)
    full = dedup.lsh_candidate_pairs(sigs, max_bucket=50).toPandas()
    inc = dedup.lsh_pairs_touching(sigs, delta, max_bucket=50).toPandas()
    dset = {int(r) for r in delta.toPandas().doc_id}
    expect = {
        (a, b)
        for a, b in zip(full.doc_a, full.doc_b)
        if a in dset or b in dset
    }
    assert set(zip(inc.doc_a, inc.doc_b)) == expect


def test_train_ivf_centroids_partition_invariant(spark, emb):
    """Fixed-point means make the distributed Arrow executor's centroids
    bit-identical regardless of input partitioning (a float sum would drift
    with partial-agg merge order); driver_max_rows=0 forces that executor."""
    a = {
        r["cid"]: tuple(r["cv"])
        for r in simsearch.train_ivf_centroids(emb, driver_max_rows=0).collect()
    }
    b = {
        r["cid"]: tuple(r["cv"])
        for r in simsearch.train_ivf_centroids(
            emb.repartition(13), driver_max_rows=0
        ).collect()
    }
    assert a == b


def test_train_ivf_centroids_driver_and_arrow_bit_identical(spark, emb):
    """Training picks its executor by input size: the default call on this
    driver-sized corpus runs driver-local numpy, while driver_max_rows=0
    makes the size probe fall back to the distributed Arrow executor
    (mapInPandas matmul + per-cell fixed-point partial sums).  Both must
    produce bit-identical centroids — same seeded init, same lowest-cid
    tie-breaking, same exact integer means — so the choice changes cost,
    never results."""

    def train(**kw):
        return {
            r["cid"]: tuple(r["cv"])
            for r in simsearch.train_ivf_centroids(emb, **kw).collect()
        }

    assert train() == train(driver_max_rows=0)


def test_lsh_cap_stats_report_dropped_buckets(spark):
    """No silent caps (ADVICE r3): when the bucket cap bites, the stats twin
    must report it; on a clean corpus it must report zero."""
    clones = spark.range(500).select(
        F.col("id").alias("doc_id"),
        F.lit("the same viral page body repeated verbatim everywhere").alias("text"),
    )
    sigs = dedup.minhash_signatures(clones).localCheckpoint()
    m = dedup.lsh_bucket_cap_stats(sigs, max_bucket=100).collect()[0]
    assert m["rows_dropped"] > 0, "cap bit but was not reported"
    assert m["max_bucket_n"] == 500
    assert m["buckets_dropped"] >= 1
    assert m["n_rows"] == 500 * 16  # 16 bands per signature
    # clean corpus: the same instrumentation reports a quiet cap
    near = spark.range(4).select(
        F.col("id").alias("doc_id"),
        F.concat(
            F.lit("a distinctive document about spark batch vectors "),
            F.col("id").cast("string"),
        ).alias("text"),
    )
    sigs2 = dedup.minhash_signatures(near).localCheckpoint()
    m2 = dedup.lsh_bucket_cap_stats(sigs2, max_bucket=100).collect()[0]
    assert m2["rows_dropped"] == 0 and m2["buckets_dropped"] == 0
    # simhash twin shares the machinery; smoke it on the viral corpus
    sh = dedup.simhash(clones)
    m3 = dedup.simhash_bucket_cap_stats(sh, max_bucket=100).collect()[0]
    assert m3["rows_dropped"] > 0 and m3["max_bucket_n"] == 500


def test_jaccard_stats_report_stop_shingle_cut(spark):
    """The max_df stop-shingle cut is observable: a corpus where a few
    boilerplate shingles saturate every doc reports exactly those shingles
    dropped; max_bucket_n names the hottest document frequency."""
    docs = spark.range(50).select(
        F.col("id").alias("doc_id"),
        F.concat(
            F.lit("all rights reserved worldwide "),
            F.lit("unique token "),
            F.col("id").cast("string"),
        ).alias("text"),
    )
    m = dedup.jaccard_stop_shingle_stats(docs, n=3, max_df=20).collect()[0]
    # 4 boilerplate 3-shingles appear in all 50 docs; the 'unique token <id>'
    # shingle is per-doc
    assert m["buckets_dropped"] == 4
    assert m["rows_dropped"] == 4 * 50
    assert m["max_bucket_n"] == 50


def test_decontaminate_bloom_strategy_identical(spark, docs):
    """The past-the-broadcast-threshold path: bloom-prefiltered scrub must
    produce IDENTICAL rows to the broadcast join (false positives are
    eliminated by the exact join; the bloom only prunes its left side) —
    on the real corpus AND on a planted-overlap case, including a
    deliberately tiny/collision-prone bitset."""
    bench = spark.createDataFrame(
        [(9001, "the quick brown fox jumps over the lazy dog tonight")],
        "doc_id long, text string",
    )
    train = docs.select("doc_id", "text").limit(200).unionByName(
        spark.createDataFrame(
            [
                (8000, "prefix words the quick brown fox jumps over the lazy dog tonight suffix"),
                (8001, "totally unrelated content about spark physical plans"),
            ],
            "doc_id long, text string",
        )
    )
    a = {
        tuple(r)
        for r in dedup.decontaminate(train, bench, strategy="broadcast").collect()
    }
    b = {
        tuple(r)
        for r in dedup.decontaminate(train, bench, strategy="bloom").collect()
    }
    assert a == b and len(a) > 0
    # a 2^10-bit bloom over the bench shingles WILL false-positive heavily;
    # the exact join must still make the output identical
    c = {
        tuple(r)
        for r in dedup.decontaminate(
            train, bench, strategy="bloom", bloom_m=1 << 10, bloom_k=2
        ).collect()
    }
    assert a == c


def test_fingerprint_overlap_catches_copied_passage(spark):
    """The MOSS case jaccard misses: a paragraph copied VERBATIM into a much
    larger document.  Whole-doc jaccard dilutes below threshold, but the
    passage's winnowing fingerprints survive intact — the pair must surface
    with high containment; unrelated docs must not pair."""
    passage = (
        "the winnowing algorithm selects the minimum hash of every window "
        "of consecutive grams which guarantees detection of any match "
        "longer than the window plus gram size "
    )
    filler = " ".join(f"filler{i} distinct background prose" for i in range(120))
    rows = [
        (1, passage),                      # the small original
        (2, filler + " " + passage),       # passage embedded in a big doc
        (3, "completely unrelated text about politeness token buckets " * 6),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = dedup.fingerprint_overlap_pairs(docs, max_df=20, min_shared=2).collect()
    pairs = {(r["doc_a"], r["doc_b"]): r for r in out}
    assert (1, 2) in pairs, "embedded passage not detected"
    assert pairs[(1, 2)]["containment"] >= 0.8  # most of doc 1 is contained
    assert all(3 not in p for p in pairs)
    # and the whole-doc jaccard indeed dilutes this pair away (the reason
    # this operator exists)
    jac = {
        (r["doc_a"], r["doc_b"])
        for r in dedup.jaccard_pairs(docs, threshold=0.5).collect()
    }
    assert (1, 2) not in jac


def test_fingerprint_overlap_arrow_twin_bit_equal(spark, docs):
    """VERDICT r4 'What's wrong #1': the scale form of q74 —
    fingerprint_overlap_pairs(hash_fn='xxh', variant='arrow') — must equal
    the xxh CODEGEN form bit-exactly (the q73 pattern: the composed
    operator, not just the underlying fingerprint twins, is asserted).
    The md5 codegen form stays the DuckDB-oracle shape."""
    sub = docs.filter(F.col("doc_id") < 120)
    kw = dict(k=8, w=16, max_df=20, min_shared=2)
    codegen = dedup.fingerprint_overlap_pairs(
        sub, hash_fn="xxh", variant="codegen", **kw
    )
    arrow = dedup.fingerprint_overlap_pairs(
        sub, hash_fn="xxh", variant="arrow", **kw
    )
    cols = ["doc_a", "doc_b", "n_shared", "containment"]
    a = sorted(map(tuple, codegen.select(*cols).collect()))
    b = sorted(map(tuple, arrow.select(*cols).collect()))
    assert a == b and len(a) > 0


def test_bloom_bits_no_false_negatives(spark):
    """Property of the decontamination prefilter: every inserted key tests
    as a member (bloom false negatives are impossible; the exact-join
    equality relies on this)."""
    import numpy as np

    from crawlspark.seen import _probe_indices

    keys = spark.range(5000).select(
        (F.xxhash64(F.col("id"))).alias("sh")
    )
    m, k = 1 << 16, 7
    bits = dedup._bloom_bits_of_keys(keys, "sh", m, k)
    u = np.array([r["sh"] for r in keys.collect()], dtype=np.int64)
    idx = _probe_indices(u, m, k)
    word, bit = idx >> np.uint64(6), idx & np.uint64(63)
    member = ((bits[word] >> bit) & np.uint64(1)).all(axis=1)
    assert member.all()


def test_decontaminate_flags_planted_overlap(spark):
    """A train doc copying a benchmark sentence (>= 4 shared 3-gram
    shingles) is flagged contaminated; a partially-overlapping doc is
    reported but not flagged; a disjoint doc never appears."""
    bench = spark.createDataFrame(
        [(1000, "the quick brown fox jumps over the lazy dog tonight")],
        "doc_id long, text string",
    )
    train = spark.createDataFrame(
        [
            (1, "intro words then the quick brown fox jumps over the lazy dog tonight"),
            (2, "only quick brown fox here and nothing else shared beyond"),
            (3, "completely different text with no common trigrams at all"),
        ],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in dedup.decontaminate(train, bench).collect()}
    assert rows[1]["contaminated"] and rows[1]["n_hits"] >= 8
    assert 2 in rows and not rows[2]["contaminated"]
    assert rows[2]["n_hits"] == 1  # 'quick brown fox' only
    assert 3 not in rows
    # ratio is exact n_hits/n_sh
    r1 = rows[1]
    assert abs(r1["hit_ratio"] - round(r1["n_hits"] / r1["n_sh"], 6)) < 1e-12


def test_decontaminate_spans_excises_only_planted_paragraphs(spark):
    """Span-level decontamination (the Dolma recipe, q75): a train doc whose
    MIDDLE paragraph copies a benchmark passage loses exactly that
    paragraph — the clean paragraphs survive and reassemble in order; a
    fully-contaminated doc degrades to clean_text='' and an untouched doc
    reassembles to its original text verbatim."""
    passage = (
        "alpha beta gamma delta epsilon zeta eta theta iota kappa "
        "lambda mu nu xi omicron pi"
    )
    p0 = " ".join(f"w{i:02d}" for i in range(16))
    p2 = " ".join(f"z{i:02d}" for i in range(16))
    bench = spark.createDataFrame([(1000, passage)], "doc_id long, text string")
    train = spark.createDataFrame(
        [
            (1, f"{p0} {passage} {p2}"),  # middle paragraph planted
            (2, passage),                 # fully contaminated
            (3, f"{p0} {p2}"),            # untouched
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r
        for r in dedup.decontaminate_spans(
            train, bench, min_hits=2, words_per=16
        ).collect()
    }
    assert out[1]["n_paras"] == 3 and out[1]["n_dropped"] == 1
    assert out[1]["clean_text"] == f"{p0} {p2}"
    assert out[2]["n_paras"] == 1 and out[2]["n_dropped"] == 1
    assert out[2]["clean_text"] == ""
    assert out[3]["n_paras"] == 2 and out[3]["n_dropped"] == 0
    assert out[3]["clean_text"] == f"{p0} {p2}"


def test_dedup_lines_drops_planted_boilerplate_everywhere(spark):
    """Corpus-internal line dedup (the CCNet/RefinedWeb recipe, q79): a
    16-word cookie-banner paragraph planted in three docs (one of them
    UPPERCASED — the key is case-normalized) is excised from all of them
    wherever it sits; unique paragraphs survive in order; a doc that IS the
    banner degrades to clean_text=''; a banner-free doc is untouched."""
    banner = " ".join(f"cookie{i:02d}" for i in range(16))
    u1 = " ".join(f"a{i:02d}" for i in range(16))
    u2 = " ".join(f"b{i:02d}" for i in range(16))
    u3 = " ".join(f"c{i:02d}" for i in range(16))
    docs = spark.createDataFrame(
        [
            (1, f"{banner} {u1}"),   # banner leads
            (2, f"{u2} {banner}"),   # banner trails
            (3, u3),                 # untouched
            (4, banner.upper()),     # the banner itself, case-varied
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r
        for r in dedup.dedup_lines(docs, min_df=2, words_per=16).collect()
    }
    assert out[1]["n_paras"] == 2 and out[1]["n_dropped"] == 1
    assert out[1]["clean_text"] == u1
    assert out[2]["n_paras"] == 2 and out[2]["n_dropped"] == 1
    assert out[2]["clean_text"] == u2
    assert out[3]["n_paras"] == 1 and out[3]["n_dropped"] == 0
    assert out[3]["clean_text"] == u3
    assert out[4]["n_paras"] == 1 and out[4]["n_dropped"] == 1
    assert out[4]["clean_text"] == ""


def test_dedup_lines_identity_on_all_unique_corpus_and_xxh_twin(spark):
    """With every paragraph unique, dedup_lines is the identity (clean_text
    reassembles the original word stream); the xxhash64 key variant makes
    the same drop decisions as the md5 oracle form on both corpora."""
    docs = spark.createDataFrame(
        [(i, " ".join(f"d{i}w{j:02d}" for j in range(32))) for i in range(5)],
        "doc_id long, text string",
    )
    for r in dedup.dedup_lines(docs, min_df=2, words_per=16).collect():
        assert r["n_dropped"] == 0
        assert r["clean_text"] == " ".join(
            f"d{r['doc_id']}w{j:02d}" for j in range(32)
        )
    banner = " ".join(f"cookie{i:02d}" for i in range(16))
    shared = spark.createDataFrame(
        [(1, banner + " one extra tail word"), (2, banner)],
        "doc_id long, text string",
    )
    for corpus in (docs, shared):
        md5_rows = sorted(
            dedup.dedup_lines(corpus, min_df=2, words_per=16).collect()
        )
        xxh_rows = sorted(
            dedup.dedup_lines(
                corpus, min_df=2, words_per=16, hash_fn="xxh"
            ).collect()
        )
        assert md5_rows == xxh_rows


def test_paragraphs_regex_mode_splits_on_blank_lines(spark):
    """The real-corpus paragraphizer: regex mode splits on blank lines and
    preserves order via para_idx."""
    df = spark.createDataFrame(
        [(1, "first para here\n\nsecond para there\n\n\nthird one")],
        "doc_id long, text string",
    )
    rows = (
        dedup.paragraphs(df, mode="regex")
        .orderBy("para_idx")
        .collect()
    )
    assert [r["para"] for r in rows] == [
        "first para here",
        "second para there",
        "third one",
    ]


def test_leakage_free_split_keeps_clusters_together(spark, docs):
    """Near-dup pairs must never straddle the train/val boundary — the whole
    point of splitting by cluster label instead of by doc."""
    from crawlspark import pipeline_queries

    out = pipeline_queries.QUERIES["q69_leakage_free_split"](spark, SF).toPandas()
    assert len(out) == docs.count()  # every doc gets a split
    split = out.set_index("doc_id")["split"]
    label = out.set_index("doc_id")["label"]
    pairs = dedup.jaccard_pairs(docs, threshold=0.5).toPandas()
    assert len(pairs) > 0  # testdata plants near-dups
    for a, b in zip(pairs.doc_a, pairs.doc_b):
        assert split[a] == split[b], f"near-dup pair ({a},{b}) straddles the split"
        assert label[a] == label[b]
    # deterministic md5 bucketing: val stays a minority (at this tiny SF the
    # val bucket can legitimately be empty; the 90/10 split parity itself is
    # value-hash-checked by the q69 oracle at sf0.01)
    assert (out.split == "val").mean() <= 0.3
    assert set(out.split) <= {"train", "val"}


def test_unigram_logprob_orders_rare_below_common(spark, tmp_path):
    """A doc of corpus-frequent words must out-score a doc of hapax
    gibberish; scores are partition-invariant (fixed-point log sums)."""
    from crawlspark import pipeline_queries

    rows = [(i, "the quick brown fox jumps the lazy dog the end") for i in range(20)]
    rows += [(100, "the the quick quick fox fox"), (101, "zxqv wplk njrd fhgt bbnm qqwz")]
    d = str(tmp_path / "docs")
    spark.createDataFrame(rows, "doc_id long, text string").write.parquet(
        d + "/documents.parquet"
    )
    out = {
        r["doc_id"]: r["mean_logprob"]
        for r in pipeline_queries.QUERIES["q70_unigram_logprob"](spark, d).collect()
    }
    assert out[100] > out[101], out  # common words >> hapax gibberish
    assert all(v < 0 for v in out.values())  # log-probs
    q = pipeline_queries.QUERIES["q70_unigram_logprob"]
    again = {r["doc_id"]: r["mean_logprob"] for r in q(spark, d).collect()}
    assert out == again


def test_pagerank_hub_ranks_highest_and_is_partition_invariant(spark):
    """Star graph: every leaf links to the hub, hub links to one leaf.
    The hub must out-rank every leaf; fixed-point sums make the result
    bit-identical under repartitioning."""
    from crawlspark import graph

    edges = [(f"leaf{i}", "hub") for i in range(8)] + [("hub", "leaf0")]
    e = spark.createDataFrame(edges, "src string, dst string")
    # odd round count: a star is near-bipartite, so rank mass SLOSHES on
    # even iterations (hub -> leaf0) — textbook power-method oscillation
    r = {row["host"]: row["rank"] for row in graph.pagerank(e, n_rounds=3).collect()}
    assert all(r["hub"] > v for h, v in r.items() if h != "hub"), r
    # leaf0 receives the hub's whole outflow -> beats the other leaves
    assert r["leaf0"] > r["leaf1"]
    r2 = {
        row["host"]: row["rank"]
        for row in graph.pagerank(e.repartition(13), n_rounds=3).collect()
    }
    assert r == r2


def test_revisit_priority_ranks_changing_stale_sources_first(spark, tmp_path):
    """Source 1 changes every fetch and was seen long ago -> top priority;
    source 2 never changes -> priority 0; source 3 changes but was seen
    just now -> low priority."""
    from datetime import datetime

    from crawlspark import pipeline_queries

    t0 = datetime(2024, 1, 1)
    rows = []
    for i in range(5):  # source 1: value flips every observation, old
        rows.append((i, datetime(2024, 1, 1, i), 1, "fetch", float(i % 2), "{}"))
    for i in range(5):  # source 2: constant value
        rows.append((10 + i, datetime(2024, 1, 2, i), 2, "fetch", 7.0, "{}"))
    for i in range(5):  # source 3: flips, but freshly observed
        rows.append((20 + i, datetime(2024, 1, 3, i), 3, "fetch", float(i % 2), "{}"))
    d = str(tmp_path / "t")
    spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    ).write.parquet(d + "/events.parquet")
    out = {
        r["user_id"]: r
        for r in pipeline_queries.QUERIES["q72_revisit_priority"](spark, d).collect()
    }
    assert out[1]["change_rate"] == 1.0 and out[3]["change_rate"] == 1.0
    assert out[2]["change_rate"] == 0.0 and out[2]["revisit_priority"] == 0.0
    assert out[3]["staleness_hours"] == 0.0  # source 3 holds the corpus max ts
    assert out[3]["revisit_priority"] == 0.0  # fresh -> nothing to revisit yet
    assert out[1]["revisit_priority"] > 0  # changing AND stale -> act


def test_pipeline_health_unifies_cap_stats(spark, docs):
    """VERDICT r4 'Next #7': one labeled diagnostics frame carries every
    capped generator's no-silent-caps signal; each row equals the
    stand-alone twin, and extra same-schema rows (engine admission stats)
    splice in."""
    from crawlspark import metrics

    sub = docs.filter(F.col("doc_id") < 100)
    sigs = dedup.minhash_signatures(sub)
    sh = dedup.simhash(sub)
    extra = spark.createDataFrame(
        [(42, 0, 1, 7)],
        "n_rows long, rows_dropped long, buckets_dropped long, max_bucket_n long",
    )
    health = metrics.pipeline_health(
        docs=sub, sigs=sigs, simhashes=sh, extra={"wave_k_admission": extra}
    )
    rows = {r["check"]: r for r in health.collect()}
    assert set(rows) == {
        "jaccard_stop_shingle",
        "lsh_bucket_cap",
        "simhash_bucket_cap",
        "wave_k_admission",
    }
    assert rows["wave_k_admission"]["n_rows"] == 42
    direct = dedup.jaccard_stop_shingle_stats(sub).collect()[0]
    got = rows["jaccard_stop_shingle"]
    assert (
        got["n_rows"],
        got["rows_dropped"],
        got["buckets_dropped"],
        got["max_bucket_n"],
    ) == tuple(direct)
    import pytest as _pytest

    with _pytest.raises(ValueError):
        metrics.pipeline_health()


def test_decontaminate_spans_identity_without_overlap(spark):
    """With a disjoint benchmark, span-level decontamination is the
    IDENTITY: every paragraph survives and the reassembled clean_text
    equals the original text byte-for-byte (the reassembly path itself is
    therefore lossless — order, spacing, short-tail paragraphs)."""
    rows = [
        (
            i,
            " ".join(f"t{i}w{j}" for j in range((i * 13) % 37 + 1)),
        )
        for i in range(40)
    ]
    train = spark.createDataFrame(rows, "doc_id long, text string")
    bench = spark.createDataFrame(
        [(999, "zz yy xx ww vv uu tt ss rr qq")], "doc_id long, text string"
    )
    out = {
        r["doc_id"]: r
        for r in dedup.decontaminate_spans(train, bench, words_per=7).collect()
    }
    for doc_id, text in rows:
        assert out[doc_id]["n_dropped"] == 0
        assert out[doc_id]["clean_text"] == text
        assert out[doc_id]["n_paras"] == (len(text.split()) + 6) // 7


def test_bm25_scores_match_hand_computed_values(spark):
    """Okapi BM25 (q80) against the closed-form formula computed in plain
    Python on a 3-doc corpus: tf/df/dl/avgdl all exercised, a doc with no
    query term is absent, n_terms counts matched terms."""
    import math

    docs = spark.createDataFrame(
        [
            (1, "spark join spark x y"),        # dl=5, tf: spark=2 join=1
            (2, "join stream a b c d"),          # dl=6, tf: join=1 stream=1
            (3, "nothing here at all"),          # dl=4, no query terms
        ],
        "doc_id long, text string",
    )
    terms = ("spark", "join", "stream", "dup", "window")
    out = {
        r["doc_id"]: r
        for r in textproc.bm25_scores(docs, terms=terms).collect()
    }
    assert set(out) == {1, 2}
    assert out[1]["n_terms"] == 2 and out[2]["n_terms"] == 2

    n_docs, avgdl, k1, b = 3.0, 5.0, 1.2, 0.75

    def idf(df_):
        return math.log(1.0 + (n_docs - df_ + 0.5) / (df_ + 0.5))

    def w(tf_, df_, dl_):
        return (
            idf(df_)
            * (tf_ * (k1 + 1.0))
            / (tf_ + k1 * (1.0 - b + b * dl_ / avgdl))
        )

    exp1 = round(w(2, 1, 5) + w(1, 2, 5), 6)      # spark df=1, join df=2
    exp2 = round(w(1, 2, 6) + w(1, 1, 6), 6)      # join df=2, stream df=1
    assert out[1]["bm25"] == pytest.approx(exp1, abs=2e-6)
    assert out[2]["bm25"] == pytest.approx(exp2, abs=2e-6)


def test_trap_stats_flags_url_manufacturing_host(spark):
    """Spider-trap detection (q81): a host serving one content under four
    session URLs reads url_per_content=4 and is flagged; an honest host
    with one URL per distinct content reads 1.0 and is not; re-fetches of
    the SAME url do not inflate the ratio."""
    from crawlspark import metrics

    log = spark.createDataFrame(
        [
            # trap.example.com: 1 content, 4 session urls
            ("trap.example.com", "https://trap.example.com/?s=1", "c1"),
            ("trap.example.com", "https://trap.example.com/?s=2", "c1"),
            ("trap.example.com", "https://trap.example.com/?s=3", "c1"),
            ("trap.example.com", "https://trap.example.com/?s=4", "c1"),
            # ok.example.com: 2 contents, 2 urls, one url re-fetched
            ("ok.example.com", "https://ok.example.com/a", "a1"),
            ("ok.example.com", "https://ok.example.com/a", "a1"),
            ("ok.example.com", "https://ok.example.com/b", "b1"),
        ],
        "host string, url string, content_key string",
    )
    out = {r["host"]: r for r in metrics.trap_stats(log).collect()}
    t, ok = out["trap.example.com"], out["ok.example.com"]
    assert t["n_fetches"] == 4 and t["n_urls"] == 4 and t["n_content"] == 1
    assert t["url_per_content"] == 4.0 and bool(t["is_trap"])
    assert ok["n_fetches"] == 3 and ok["n_urls"] == 2 and ok["n_content"] == 2
    assert ok["url_per_content"] == 1.0 and not ok["is_trap"]


def test_contamination_report_attributes_leaks_to_bench_docs(spark):
    """q82: a bench doc copied verbatim into one train doc (18 shared
    shingles), partially into another (4 — exactly at min_hits), and
    grazed by a third (1 — below threshold) reports 3 hitting docs, 2
    contaminating, total 23, max 18; a clean bench doc is absent."""
    from crawlspark import dedup

    bwords = [f"w{i:02d}" for i in range(20)]        # 18 shingles
    bench = spark.createDataFrame(
        [
            (7, " ".join(bwords)),
            (57, " ".join(f"clean{i:02d}" for i in range(20))),
        ],
        "doc_id long, text string",
    )
    train = spark.createDataFrame(
        [
            (1, " ".join(bwords)),                                 # full copy
            (2, " ".join(bwords[:6] + [f"u2x{i}" for i in range(10)])),  # 4 shared
            (3, " ".join(bwords[:3] + [f"u3x{i}" for i in range(10)])),  # 1 shared
            (4, " ".join(f"u4x{i}" for i in range(20))),           # untouched
        ],
        "doc_id long, text string",
    )
    out = {
        r["bench_id"]: r
        for r in dedup.contamination_report(train, bench).collect()
    }
    assert set(out) == {7}
    r = out[7]
    assert r["n_train_docs_hit"] == 3
    assert r["n_contaminating"] == 2
    assert r["total_hits"] == 18 + 4 + 1
    assert r["max_hits"] == 18


def test_novelty_scores_split_repeated_vs_unique_shingles(spark):
    """q83: a 16-word banner shared by two docs zeroes the novelty of a doc
    that IS the banner (all 14 shingles df=2) and dilutes a doc that embeds
    it; a fully unique doc scores exactly 1.0."""
    from crawlspark import dedup

    banner = " ".join(f"cookie{i:02d}" for i in range(16))   # 14 shingles
    uniq = " ".join(f"u{i:02d}" for i in range(16))
    docs = spark.createDataFrame(
        [
            (1, banner),                 # all shingles shared with doc 2
            (2, f"{banner} {uniq}"),     # 32 words -> 30 shingles
            (3, " ".join(f"v{i:02d}" for i in range(16))),  # unique
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in dedup.novelty_scores(docs).collect()}
    assert out[1]["n_sh"] == 14 and out[1]["n_novel"] == 0
    assert out[1]["novelty"] == 0.0
    # doc 2: the banner's 14 shingles are shared; the 2 bridge shingles
    # (banner tail x uniq head) and the 14 uniq-only shingles are novel
    assert out[2]["n_sh"] == 30 and out[2]["n_novel"] == 16
    assert out[2]["novelty"] == round(16 / 30, 6)
    assert out[3]["n_sh"] == 14 and out[3]["novelty"] == 1.0
