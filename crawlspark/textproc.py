"""Text-analysis operators for a training-data pipeline over ``documents``:
language-ID (marker n-gram heuristic), quality scoring, token counting, and
winnowing document fingerprints.

Everything is native column expressions (JVM-side, whole-stage codegen) —
including the winnowing fingerprint, which composes ``transform`` +
``md5(substring(...))`` + per-window ``array_min`` instead of a Python UDF.
The DuckDB oracle SQL in pipeline_queries.py mirrors each formula
token-for-token, so results hash-match exactly.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# marker word sets for the language-ID heuristic; the testdata vocabulary is
# shared across langs, so this is a *deterministic classifier structure*
# (scored marker sets + argmax with fixed tie-break), not a trained model
LANG_MARKERS = {
    "en": ("the", "a", "of", "and"),
    "de": ("table", "row", "column", "query"),
    "fr": ("spark", "batch", "stream", "vector"),
}
STOPWORDS = ("the", "a", "of", "and", "to", "in")


def words(text: Column) -> Column:
    return F.split(F.lower(text), r"\s+")


def seq1(n: Column) -> Column:
    """sequence(1, n), but EMPTY when n < 1 — Spark's sequence(1, 0) would
    yield the descending [1, 0], which silently corrupts position math."""
    return F.when(n >= 1, F.sequence(F.lit(1), n)).otherwise(
        F.array_remove(F.array(F.lit(0)), 0)
    )


def _hits(w: Column, markers: tuple[str, ...]) -> Column:
    return F.size(F.filter(w, lambda x: x.isin(*markers)))


def lang_id(df: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, pred_lang, lang_conf): argmax of marker-set hit ratios with a
    fixed en>de>fr tie-break."""
    w = words(F.col(text_col))
    nw = F.greatest(F.size(w), F.lit(1))
    s_en, s_de, s_fr = (_hits(w, LANG_MARKERS[k]) for k in ("en", "de", "fr"))
    pred = (
        F.when((s_en >= s_de) & (s_en >= s_fr), F.lit("en"))
        .when(s_de >= s_fr, F.lit("de"))
        .otherwise(F.lit("fr"))
    )
    conf = F.round(
        F.greatest(s_en, s_de, s_fr).cast("double") / nw.cast("double"), 4
    )
    return df.select("doc_id", pred.alias("pred_lang"), conf.alias("lang_conf"))


def quality_score(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Length / stopword / alpha-density heuristics -> one quality scalar.
    All ratios are exact integer/integer divisions — oracle-reproducible."""
    w = words(F.col(text_col))
    n_words = F.size(w)
    nw = F.greatest(n_words, F.lit(1)).cast("double")
    n_alpha = F.length(F.regexp_replace(F.col(text_col), "[^A-Za-z]", ""))
    stop_ratio = F.round(_hits(w, STOPWORDS).cast("double") / nw, 4)
    avg_wlen = F.round(n_alpha.cast("double") / nw, 4)
    quality = F.round(
        F.least(F.lit(1.0), n_words.cast("double") / F.lit(400.0))
        * (F.lit(1.0) - stop_ratio),
        4,
    )
    return df.select(
        "doc_id",
        n_words.alias("n_words"),
        avg_wlen.alias("avg_word_len"),
        stop_ratio.alias("stopword_ratio"),
        quality.alias("quality"),
    )


TOKEN_RE = r"[a-z]+|[0-9]+|[^a-z0-9\s]"


def token_counts(
    df: DataFrame,
    text_col: str = "text",
    variant: str = "regex",
    merges: list | None = None,
) -> DataFrame:
    """Token counts per doc.

    ``variant="regex"`` (default — the q37 oracle shape): whitespace tokens
    plus a BPE-ish regex token count (runs of letters, runs of digits,
    single punctuation) — native expressions, map-only.

    ``variant="bpe"``: adds ``n_bpe_tokens``, the TOKENIZER-ACCURATE count
    under a GPT-2-style merge list (crawlspark.bpe — pure-Python reference
    semantics, Arrow-batched application; parity-tested).  ``merges`` is
    required: learned once via bpe.learn_merges (bounded driver collect)
    and reused across calls, the way a production pipeline ships a frozen
    tokenizer.  Real packing budgets (pack_sequences merges=...) count
    these, not regex words."""
    if variant not in ("regex", "bpe"):
        raise ValueError(f"variant must be 'regex' or 'bpe', got {variant!r}")
    t = F.lower(F.col(text_col))
    base = df.select(
        "doc_id",
        F.size(F.split(t, r"\s+")).cast("long").alias("n_ws_tokens"),
        F.size(F.regexp_extract_all(t, F.lit(TOKEN_RE), F.lit(0)))
        .cast("long")
        .alias("n_re_tokens"),
    )
    if variant == "regex":
        return base
    if merges is None:
        raise ValueError("variant='bpe' requires a learned merge list")
    from crawlspark import bpe

    udf = bpe.token_count_udf(df.sparkSession, merges)
    # one projection, map-only: the native counts and the Arrow UDF column
    # evaluate in a single pass (no join, no shuffle)
    return df.select(
        "doc_id",
        F.size(F.split(t, r"\s+")).cast("long").alias("n_ws_tokens"),
        F.size(F.regexp_extract_all(t, F.lit(TOKEN_RE), F.lit(0)))
        .cast("long")
        .alias("n_re_tokens"),
        udf(F.col(text_col)).cast("long").alias("n_bpe_tokens"),
    )


def fingerprints(
    df: DataFrame,
    text_col: str = "text",
    k: int = 8,
    w: int = 16,
    hash_fn: str = "md5",
    variant: str = "codegen",
) -> DataFrame:
    """Winnowing fingerprints (Schleimer et al., SIGMOD'03): hash every
    k-char gram, keep the minimum hash of each w-window, distinct per doc.
    Native expressions only: positions via sequence, gram hash via
    md5(substring), window min via slice+array_min.

    ``hash_fn``: "md5" (default — the DuckDB-mirrorable q38 oracle form;
    fp is a hex string) or "xxh" (``F.xxhash64``; fp is a signed long —
    the variant the map-only Arrow twin ``rolling.fingerprints_arrow``
    reproduces bit-for-bit, since md5 has no vectorized numpy form).

    ``variant``: "codegen" (default — the exploded char/window form below)
    or "arrow" (the map-only mapInPandas twin ``rolling.fingerprints_arrow``
    — one row per doc end-to-end, ZERO exchanges, so a giant document is
    one local-numpy task instead of one giant window partition; requires
    hash_fn="xxh" since md5 has no vectorized form).  Both variants are
    bit-equal on hash_fn="xxh" (equality-tested); pipeline callers flip the
    flag without importing rolling directly.

    Output: (doc_id, fp) exploded — the near-dup building block that survives
    small edits (a changed char perturbs <= k+w-1 windows)."""
    if variant not in ("codegen", "arrow"):
        raise ValueError(f"variant must be 'codegen' or 'arrow', got {variant!r}")
    if variant == "arrow":
        if hash_fn != "xxh":
            raise ValueError(
                "variant='arrow' requires hash_fn='xxh' (md5 has no "
                "vectorized numpy form; the md5 codegen variant is the "
                "DuckDB-oracle shape)"
            )
        from crawlspark import rolling

        return rolling.fingerprints_arrow(df, text_col=text_col, k=k, w=w)
    from pyspark.sql import Window

    # explode CHARACTERS first, assemble each k-gram from window leads, md5
    # it natively — everything whole-stage-codegens.  The alternatives are
    # both pathological: a nested transform(slice(...)) re-inlines the gram
    # array per window (O(len²) md5 calls), and even the flat
    # transform(seq1, i -> md5(substring(t, i, k))) is evaluated INTERPRETED
    # per array element by Catalyst (measured ~10× slower than this shape)
    chars = df.select(
        "doc_id", F.posexplode(F.split(F.col(text_col), "")).alias("idx", "c0")
    )
    wlead = Window.partitionBy("doc_id").orderBy("idx")
    gram_cols = [F.col("c0")]
    cur = chars
    for j in range(1, k):
        cur = cur.withColumn(f"c{j}", F.lead("c0", j).over(wlead))
        gram_cols.append(F.col(f"c{j}"))
    gram_h = (
        F.md5(F.concat(*gram_cols))
        if hash_fn == "md5"
        else F.xxhash64(F.concat(*gram_cols))
    )
    pos = (
        cur.filter(F.col(f"c{k-1}").isNotNull())
        .select("doc_id", "idx", gram_h.alias("h"))
    )
    wd = Window.partitionBy("doc_id")
    wmin = wd.orderBy("idx").rowsBetween(Window.currentRow, w - 1)
    return (
        pos.withColumn("npos", F.count("*").over(wd))
        .withColumn("fp", F.min("h").over(wmin))
        .filter(F.col("idx") + w <= F.col("npos"))
        .select("doc_id", "fp")
        .distinct()
    )


def pack_sequences(
    df: DataFrame,
    budget: int = 256,
    stream_col: str = "source",
    order_col: str = "doc_id",
    text_col: str = "text",
    merges: list | None = None,
) -> DataFrame:
    """Token-budget sequence packing: concatenate each stream's documents in
    a deterministic order and assign every doc its fixed-length training
    sequence (``seq_id``) and start position (``seq_pos``) — the standard
    concat-then-split packing for LLM pretraining batches (docs may straddle
    sequence boundaries; the split is by token offset, not per-doc greedy).

    One shuffle (window on the stream key); the running token offset is a
    window cumsum, so the whole op is two codegen stages at any scale.  At
    100 TB the stream key is the per-source shard — each stream's docs are
    ordered independently, so no global sort and no single-partition stage.

    ``merges``: when given, budgets count TOKENIZER tokens (crawlspark.bpe
    under this GPT-2-style merge list) instead of whitespace words — the
    form a real pretraining pipeline packs by.  Same plan shape; the count
    column becomes one Arrow-batched projection."""
    from pyspark.sql import Window

    if merges is not None:
        from crawlspark import bpe

        udf = bpe.token_count_udf(df.sparkSession, merges)
        n_tok = udf(F.col(text_col)).cast("long")
    else:
        n_tok = F.size(words(F.col(text_col))).cast("long")
    toks = df.select(stream_col, order_col, n_tok.alias("n_tokens"))
    w = Window.partitionBy(stream_col).orderBy(order_col)
    start = F.sum("n_tokens").over(w) - F.col("n_tokens")
    return toks.select(
        stream_col,
        order_col,
        "n_tokens",
        F.floor(start / F.lit(budget)).cast("long").alias("seq_id"),
        (start % budget).cast("long").alias("seq_pos"),
    )


def cdc_chunks(
    df: DataFrame,
    w: int = 8,
    text_col: str = "text",
    hash_fn: str = "md5",
    variant: str = "codegen",
) -> DataFrame:
    """Content-defined chunking (Rabin-style, cf. LBFS Muthitacharoen et al.
    SOSP'01): a chunk boundary opens at every position whose w-gram hash
    starts with hex '0' (expected chunk ~16 chars at w=8; no min/max clamp —
    documented simplification), so chunk boundaries survive insertions and
    deletions and chunk hashes dedupe SHARED SUBSTRINGS across documents —
    the sub-document complement of whole-doc near-dup.

    Same codegen shape as the winnowing fingerprints: char posexplode +
    w-1 window leads + native md5 for the boundary flags (never a HOF gram
    lambda), then one lead() over the boundary rows for chunk extents and a
    co-partitioned join back to the doc text for the chunk md5s.  Returns
    (doc_id, chunk_idx, chunk_start, chunk_len, chunk_md5).

    ``hash_fn``: "md5" (default — the q61 oracle form: boundary where the
    gram md5 leads with hex '0', chunk identity is chunk_md5) or "xxh"
    (``F.xxhash64``: boundary where pmod(hash, 16) == 0 — the same 1/16
    probability — and the identity column is chunk_hash, a signed long;
    the variant ``rolling.cdc_chunks_arrow`` reproduces bit-for-bit).

    ``variant``: "codegen" (default) or "arrow" — the map-only
    ``rolling.cdc_chunks_arrow`` twin (xxh only; see fingerprints)."""
    if variant not in ("codegen", "arrow"):
        raise ValueError(f"variant must be 'codegen' or 'arrow', got {variant!r}")
    if variant == "arrow":
        if hash_fn != "xxh":
            raise ValueError(
                "variant='arrow' requires hash_fn='xxh' (md5 codegen is the "
                "DuckDB-oracle shape)"
            )
        from crawlspark import rolling

        return rolling.cdc_chunks_arrow(df, w=w, text_col=text_col)
    from pyspark.sql import Window

    chars = df.select(
        "doc_id", F.posexplode(F.split(F.col(text_col), "")).alias("idx", "c0")
    )
    wlead = Window.partitionBy("doc_id").orderBy("idx")
    cur = chars
    gram_cols = [F.col("c0")]
    for j in range(1, w):
        cur = cur.withColumn(f"c{j}", F.lead("c0", j).over(wlead))
        gram_cols.append(F.col(f"c{j}"))
    flag = (F.col(f"c{w-1}").isNotNull()) & (
        (F.substring(F.md5(F.concat(*gram_cols)), 1, 1) == "0")
        if hash_fn == "md5"
        else (F.pmod(F.xxhash64(F.concat(*gram_cols)), F.lit(16)) == 0)
    )
    starts = cur.filter((F.col("idx") == 0) | flag).select("doc_id", "idx")
    wdoc = Window.partitionBy("doc_id").orderBy("idx")
    bounds = starts.select(
        "doc_id",
        F.col("idx").alias("chunk_start"),
        (F.row_number().over(wdoc) - 1).alias("chunk_idx"),
        F.lead("idx").over(wdoc).alias("next_start"),
    )
    chunk = F.col(text_col).substr(
        F.col("chunk_start") + 1,
        F.coalesce(F.col("next_start"), F.length(text_col)) - F.col("chunk_start"),
    )
    chunk_id = (
        F.md5(chunk).alias("chunk_md5")
        if hash_fn == "md5"
        else F.xxhash64(chunk).alias("chunk_hash")
    )
    return (
        bounds.join(df.select("doc_id", text_col), "doc_id")
        .select(
            "doc_id",
            F.col("chunk_idx").cast("int").alias("chunk_idx"),
            F.col("chunk_start").cast("long").alias("chunk_start"),
            F.length(chunk).cast("long").alias("chunk_len"),
            chunk_id,
        )
    )


def bm25_scores(
    df: DataFrame,
    terms: tuple[str, ...],
    k1: float = 1.2,
    b: float = 0.75,
    text_col: str = "text",
) -> DataFrame:
    """Okapi BM25 of every document against a fixed query-term set
    (Robertson & Zaragoza 2009) — the retrieval-scoring primitive behind
    quality-weighted sampling and contamination triage.  Returns
    ``(doc_id, n_terms, bm25)`` for every doc containing >= 1 query term.

    Plan contract (q80): the corpus is scanned and exploded ONCE.  The
    query-term set is a FIXED small tuple, so per-term tf becomes
    conditional sums inside a single ``groupBy(doc_id)`` — one wide
    shuffle, map-side combined to one row per doc per partition.  Every
    global scalar (n_docs, avgdl, and per-term df) folds into ONE 1-row
    aggregate broadcast back over the per-doc frame (the q29 idiom, so
    there is no vocabulary join at all for a literal term set).  The
    per-doc aggregate is referenced twice (scalars + scoring), and both
    references read the IDENTICAL column set, so Spark's exchange-reuse
    rule collapses them into one physical exchange — a plan test pins the
    single-scan shape.  idf = ln(1 + (N - df + 0.5)/(df + 0.5)), positive
    for any df.  With the defaults, ``k1 + 1.0`` etc. are BIT-IDENTICAL to
    the oracle's decimal literals (2.2 / 1.2 / 0.25 / 0.75), and per-doc
    sums span <= len(terms) values, so ``round(.., 6)`` is stable under
    any partial-agg merge order.
    """
    toks = df.select(
        "doc_id", F.explode(words(F.col(text_col))).alias("word")
    ).filter(F.col("word") != "")
    per_doc = toks.groupBy("doc_id").agg(
        F.count("*").alias("dl"),
        *[
            F.sum(F.when(F.col("word") == t, 1).otherwise(0)).alias(f"tf_{i}")
            for i, t in enumerate(terms)
        ],
    )
    # One 1-row aggregate carries EVERY global scalar; count(doc_id) (not
    # count(*)) keeps this branch's column pruning identical to the scoring
    # branch's, which is what makes the exchange reusable.
    scalars = per_doc.agg(
        F.count("doc_id").cast("double").alias("n_docs"),
        F.avg("dl").alias("avgdl"),
        *[
            F.sum((F.col(f"tf_{i}") > 0).cast("long")).alias(f"df_{i}")
            for i in range(len(terms))
        ],
    )

    def idf(i):
        return F.log(
            F.lit(1.0)
            + (F.col("n_docs") - F.col(f"df_{i}") + F.lit(0.5))
            / (F.col(f"df_{i}") + F.lit(0.5))
        )

    def term_w(i):
        return F.when(
            F.col(f"tf_{i}") > 0,
            idf(i)
            * (F.col(f"tf_{i}") * F.lit(k1 + 1.0))
            / (
                F.col(f"tf_{i}")
                + F.lit(k1)
                * (F.lit(1.0 - b) + F.lit(b) * F.col("dl") / F.col("avgdl"))
            ),
        ).otherwise(F.lit(0.0))

    n_terms = sum(
        ((F.col(f"tf_{i}") > 0).cast("long") for i in range(len(terms))),
        F.lit(0).cast("long"),
    )
    score = sum((term_w(i) for i in range(len(terms))), F.lit(0.0))
    return (
        per_doc.crossJoin(F.broadcast(scalars))
        .withColumn("n_terms", n_terms)
        .filter(F.col("n_terms") > 0)
        .select(
            "doc_id",
            "n_terms",
            F.round(score, 6).alias("bm25"),
        )
    )


GOPHER_STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "that")


def gopher_rules(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Gopher quality-filter rules (Rae et al. 2021, Appendix A1.1 — the
    public MassiveWeb recipe, also the skeleton of Dolma/RefinedWeb
    filtering): per-document signals plus one boolean per rule plus the
    conjunction, so downstream stages can either hard-filter (``passes``)
    or re-weight on individual rule failures.

    Signals and bounds (the paper's published thresholds):
      - word count in [50, 100_000]                      -> ok_word_count
      - mean word length in [3, 10] chars                -> ok_mean_word_len
      - symbol-to-word ratio ('#' or '...'/'…') <= 0.1   -> ok_symbol_ratio
      - >= 80% of words contain an alphabetic character  -> ok_alpha_words
      - >= 2 distinct stopwords present                  -> ok_stopwords
    The stop set is a local variant, ``GOPHER_STOPWORDS`` (the, a, of,
    and, to, in, is, that), not the paper's A1.1 set (the, be, to, of,
    and, that, have, with).
    (The paper's line-level bullet/ellipsis rules operate on display lines,
    which this corpus' single-line documents don't have; they belong to the
    line-grain operator family — see dedup.dedup_lines.)

    Scale shape: map-only native expressions over one scan — no shuffle, no
    HOF lambda doing per-element regex work (the CLAUDE.md transform() trap):
    per-word facts are derived from whole-text regexp counts and set
    intersections instead.  Ratios are exact divisions rounded to 4 — the
    DuckDB mirror reproduces every value.  Empty split tokens (leading /
    trailing whitespace artifacts) are filtered before counting, so padded
    documents can't inflate n_words past a bound."""
    t = F.lower(F.col(text_col))
    w = F.filter(words(F.col(text_col)), lambda x: x != "")
    n_words = F.size(w)
    nw = F.greatest(n_words, F.lit(1)).cast("double")
    # mean word length over non-whitespace chars (char count / word count)
    mean_wlen = F.round(
        F.length(F.regexp_replace(t, r"\s+", "")).cast("double") / nw, 4
    )
    n_symbols = F.regexp_count(t, F.lit("#")) + F.regexp_count(
        t, F.lit(r"\.\.\.")
    ) + F.regexp_count(t, F.lit("…"))
    symbol_ratio = F.round(n_symbols.cast("double") / nw, 4)
    # words containing a letter, counted on the WHOLE text (one regex scan,
    # non-overlapping: each match consumes the word's leading separator
    # through its first letter, so every lettered word counts exactly once)
    n_alpha_words = F.regexp_count(
        F.concat(F.lit(" "), t), F.lit(r"\s[^\s]*[a-z]")
    )
    frac_alpha = F.round(n_alpha_words.cast("double") / nw, 4)
    n_stop_distinct = F.size(
        F.array_intersect(
            F.array_distinct(w), F.array(*[F.lit(s) for s in GOPHER_STOPWORDS])
        )
    )
    ok_wc = (n_words >= 50) & (n_words <= 100_000)
    ok_mwl = (mean_wlen >= 3.0) & (mean_wlen <= 10.0)
    ok_sym = symbol_ratio <= 0.1
    ok_alpha = frac_alpha >= 0.8
    ok_stop = n_stop_distinct >= 2
    return df.select(
        "doc_id",
        n_words.cast("long").alias("n_words"),
        mean_wlen.alias("mean_word_len"),
        symbol_ratio.alias("symbol_ratio"),
        frac_alpha.alias("frac_alpha_words"),
        n_stop_distinct.cast("long").alias("n_stop_distinct"),
        ok_wc.alias("ok_word_count"),
        ok_mwl.alias("ok_mean_word_len"),
        ok_sym.alias("ok_symbol_ratio"),
        ok_alpha.alias("ok_alpha_words"),
        ok_stop.alias("ok_stopwords"),
        (ok_wc & ok_mwl & ok_sym & ok_alpha & ok_stop).alias("passes"),
    )


def nb_quality_scores(
    df: DataFrame,
    labels: DataFrame,
    text_col: str = "text",
) -> DataFrame:
    """Naive-Bayes quality classifier (the classic multinomial NB with
    Laplace +1 smoothing — the public-recipe stand-in for CCNet/GPT-3's
    fastText quality classifier: train log-odds on a labeled seed set, score
    every document, keep score > 0).  ``labels`` is (doc_id, label) with
    label 1 = curated/positive seed, 0 = negative; docs outside ``labels``
    are scored but contribute nothing to training.

    Per word w: lo(w) = ln((n1+1)/(T1+V)) − ln((n0+1)/(T0+V)); per doc:
    score = ln(D1) − ln(D0) + Σ_occurrences lo(w);  is_quality = score > 0.

    Shape (q70's discipline end-to-end): one exploded-word hash agg for the
    class-conditional counts, corpus scalars (T1/T0/V and the doc-count
    priors) in 1-row-agg crossJoins (q29 idiom, no driver count), an
    AQE-sized join back to the words (a web-scale vocabulary exceeds
    broadcast limits), one per-doc hash agg.  Determinism: each word's
    log-odds is rounded to 6dp and summed as fixed-point BIGINTs (the
    IVF-centroid trick), so the result is independent of partial-agg merge
    order and bit-reproducible in the DuckDB mirror.

    Out-of-vocabulary words carry no evidence (Laplace mass cancels only
    approximately, so NB convention drops them — the vocab join is inner);
    a doc with NO seed-vocabulary words at all is absent from the output
    rather than scored on the prior alone."""
    w = df.join(labels, "doc_id", "left").select(
        "doc_id",
        F.coalesce(F.col("label"), F.lit(-1)).alias("lab"),
        F.explode(words(F.col(text_col))).alias("w"),
    ).filter(F.col("w") != "")
    vocab = w.filter(F.col("lab") >= 0).groupBy("w").agg(
        F.sum(F.when(F.col("lab") == 1, 1).otherwise(0)).cast("long").alias("n1"),
        F.sum(F.when(F.col("lab") == 0, 1).otherwise(0)).cast("long").alias("n0"),
    )
    scal = vocab.agg(
        F.sum("n1").cast("long").alias("t1"),
        F.sum("n0").cast("long").alias("t0"),
        F.count("*").cast("long").alias("v"),
    )
    pri = labels.agg(
        F.sum(F.when(F.col("label") == 1, 1).otherwise(0)).cast("long").alias("d1"),
        F.sum(F.when(F.col("label") == 0, 1).otherwise(0)).cast("long").alias("d0"),
    )

    def _fp(x):
        return F.floor(F.round(x, 6) * F.lit(1000000.0) + F.lit(0.5)).cast("long")

    lo = vocab.crossJoin(F.broadcast(scal)).select(
        "w",
        (
            _fp(F.log((F.col("n1") + 1).cast("double")
                      / (F.col("t1") + F.col("v")).cast("double")))
            - _fp(F.log((F.col("n0") + 1).cast("double")
                        / (F.col("t0") + F.col("v")).cast("double")))
        ).alias("lo_fp"),
    )
    per_doc = (
        w.join(lo, "w")
        .groupBy("doc_id")
        .agg(F.count("*").cast("long").alias("n_words"), F.sum("lo_fp").alias("s"))
    )
    prior = F.round(F.log(F.col("d1").cast("double")), 6) - F.round(
        F.log(F.col("d0").cast("double")), 6
    )
    score = F.col("s").cast("double") / F.lit(1000000.0) + prior
    return per_doc.crossJoin(F.broadcast(pri)).select(
        "doc_id",
        "n_words",
        F.round(score, 6).alias("nb_score"),
        (score > 0).alias("is_quality"),
    )
