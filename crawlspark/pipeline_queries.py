"""Training-data pipeline operators as driver-checkable queries (q30+).

Same contract as crawlspark.queries: ``QUERIES[key](spark, sf_dir) ->
DataFrame``; ``ORACLE[key]`` is the DuckDB mirror where the semantics are
ANSI-SQL-expressible.  The xxhash64-based sketches (MinHash, SimHash) and the
binary multimodal plumbing cannot be mirrored in DuckDB (no xxhash64) — those
keys are intentionally absent from ORACLE → the driver's rows-only check;
their correctness is covered by unit/property tests instead
(tests/unit/test_pipeline_ops.py).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from crawlspark import dedup, multimodal, simsearch, textproc
from crawlspark.queries import read


def _docs_with_dups(spark, sf_dir):
    """documents ∪ exact copies of every 5th doc (doc_id + 1_000_000) — so
    exact-dedup has real duplicate groups to find."""
    d = read(spark, sf_dir, "documents")
    dups = d.filter(F.col("doc_id") % 5 == 0).withColumn(
        "doc_id", F.col("doc_id") + 1000000
    )
    return d.unionByName(dups)


def q30_dedup_exact(spark, sf_dir):
    return dedup.exact_groups(_docs_with_dups(spark, sf_dir))


def q31_jaccard_shingles(spark, sf_dir):
    return dedup.jaccard_pairs(
        read(spark, sf_dir, "documents"), n=3, max_df=20, threshold=0.5
    )


def q32_minhash_lsh(spark, sf_dir):
    # pin the signatures: lsh_candidate_pairs consumes them from four plan
    # subtrees (both sides of the bucket join + both signature re-joins),
    # and the 64-min aggregation over the shingle table is the expensive
    # stage — at production scale signatures are materialized to a table
    # between the two operators for the same reason
    sigs = dedup.minhash_signatures(read(spark, sf_dir, "documents")).localCheckpoint()
    return dedup.lsh_candidate_pairs(sigs).filter(F.col("est_jaccard") >= 0.5)


def q33_simhash_neardup(spark, sf_dir):
    sh = dedup.simhash(read(spark, sf_dir, "documents"))
    return dedup.simhash_pairs(sh, max_hamming=6)


def q34_ann_cosine(spark, sf_dir):
    return simsearch.topk_bruteforce(read(spark, sf_dir, "embeddings"), k=5)


def q35_lang_id(spark, sf_dir):
    return textproc.lang_id(read(spark, sf_dir, "documents"))


def q36_quality_score(spark, sf_dir):
    return textproc.quality_score(read(spark, sf_dir, "documents"))


def q37_token_count(spark, sf_dir):
    return textproc.token_counts(read(spark, sf_dir, "documents"))


def q38_fingerprint(spark, sf_dir):
    return textproc.fingerprints(read(spark, sf_dir, "documents"))


def q39_multimodal_features(spark, sf_dir):
    media = multimodal.with_payload(read(spark, sf_dir, "documents"))
    return multimodal.extract_features(media, fake=True)


def q40_embedding_neardup(spark, sf_dir):
    return dedup.embedding_neardup(read(spark, sf_dir, "embeddings"), threshold=0.35)


def q41_ann_lsh(spark, sf_dir):
    return simsearch.topk_lsh(read(spark, sf_dir, "embeddings"), k=5)


def q42_corpus_pipeline(spark, sf_dir):
    """The composed training-corpus cleaning pipeline: quality filter ->
    exact dedup (md5, keep min doc_id) -> near-dup removal (3-gram Jaccard
    >= 0.5, greedy keep-lowest).  Every stage is the already-verified
    operator; this checks the COMPOSITION end-to-end against SQL."""
    docs = read(spark, sf_dir, "documents")
    q = textproc.quality_score(docs).select("doc_id", "n_words", "quality")
    good = docs.join(q.filter(F.col("quality") >= 0.12), "doc_id")
    keepers = dedup.exact_groups(good).select(F.col("keeper_id").alias("doc_id"))
    kept = good.join(keepers, "doc_id", "left_semi")
    pairs = dedup.jaccard_pairs(kept, threshold=0.5)
    dropped = pairs.select(F.col("doc_b").alias("doc_id")).distinct()
    return kept.join(dropped, "doc_id", "left_anti").select(
        "doc_id", "n_words", "quality"
    )


def q43_vocab_stats(spark, sf_dir):
    """Corpus vocabulary statistics: per word, collection frequency and
    document frequency — one explode + one hash agg (map-side combined)."""
    d = read(spark, sf_dir, "documents")
    w = d.select(
        "doc_id", F.explode(F.split(F.lower(F.col("text")), r"\s+")).alias("word")
    ).filter(F.col("word") != "")
    return w.groupBy("word").agg(
        F.count("*").alias("cf"),
        F.countDistinct("doc_id").alias("df"),
    )


def q45_neardup_components(spark, sf_dir):
    """Connected components over the Jaccard>=0.5 near-dup graph: each doc
    in a dup cluster labeled with the cluster's minimum doc_id.  Iterative
    hash-min propagation in Spark; recursive-CTE reachability in DuckDB."""
    pairs = dedup.jaccard_pairs(read(spark, sf_dir, "documents"), threshold=0.5)
    return dedup.connected_components(pairs.select("doc_a", "doc_b"))


def q46_tfidf(spark, sf_dir):
    """Per (doc, word) TF-IDF over the corpus: tf = in-doc count, idf =
    ln(N/df).  Two hash aggregations + an AQE-sized equi join with the df
    table.  N is a 1-row aggregate cross-joined in (the q29 scalar-subquery
    idiom) — no eager driver-side count(); and the df-table join carries NO
    broadcast hint: a web-scale vocabulary exceeds broadcast limits, so AQE
    picks broadcast only when the measured size allows it."""
    d = read(spark, sf_dir, "documents")
    n = d.agg(F.count("*").cast("double").alias("n_docs"))
    w = d.select(
        "doc_id", F.explode(F.split(F.lower(F.col("text")), r"\s+")).alias("word")
    ).filter(F.col("word") != "")
    tf = w.groupBy("doc_id", "word").agg(F.count("*").alias("tf"))
    df_tbl = w.groupBy("word").agg(F.countDistinct("doc_id").alias("df"))
    return (
        tf.join(df_tbl, "word")
        .crossJoin(F.broadcast(n))
        .withColumn(
            "tfidf",
            F.round(F.col("tf") * F.log(F.col("n_docs") / F.col("df")), 6),
        )
        .select("doc_id", "word", "tf", "tfidf")
    )


def _md5_bucket(col, mod: int):
    """Deterministic sampling bucket in [0, mod): two bytes of md5(col).
    THE shared idiom behind q49/q67/q69 — auditable, stable under re-ids
    and re-partitioning, token-identical to its DuckDB mirror
    ``(ascii(substr(md5(x),1,1))*256 + ascii(substr(md5(x),2,1))) % mod``.
    One definition so the three queries (and their mirrors) cannot drift."""
    m = F.md5(col)
    return (
        (F.ascii(F.substring(m, 1, 1)) * 256 + F.ascii(F.substring(m, 2, 1))) % mod
    ).cast("int")


def q49_stratified_sample(spark, sf_dir):
    """Deterministic stratified downsampling per source — the per-domain
    rate-capping step of a training-corpus mix.  The sampling key is a
    CONTENT hash bucket (md5 of the text), so the sample is stable under
    doc re-ids and identical on any engine; the per-source rate here derives
    from the source name (stand-in for a curated mix table, which at scale
    is a broadcast dimension).  Never rand()/sample(): non-deterministic
    samples cannot be audited or reproduced."""
    d = read(spark, sf_dir, "documents")
    bucket = _md5_bucket(F.col("text"), 100)
    rate = F.lit(10) + (F.ascii(F.substring(F.col("source"), -1, 1)) % 5) * 10
    return (
        d.withColumn("bucket", bucket.cast("int"))
        .withColumn("rate", rate.cast("int"))
        .filter(F.col("bucket") < F.col("rate"))
        .select("doc_id", "source", "bucket", "rate")
    )


def q50_pii_scrub(spark, sf_dir):
    """PII detection + redaction stats: count email-/phone-shaped spans and
    measure the redacted length.  The synthetic contact block is appended
    deterministically from doc_id (the corpus text itself is clean), so both
    engines scrub byte-identical inputs.  All regexp work is native
    (JVM-side in Spark); at 100 TB this is a map-only pass."""
    d = read(spark, sf_dir, "documents")
    text2 = F.concat(
        F.col("text"),
        F.lit(" Contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@ex"),
        (F.col("doc_id") % 10).cast("string"),
        F.lit(".example.com or call 555-0"),
        (F.col("doc_id") % 100).cast("string"),
    )
    email_re = "[A-Za-z0-9._]+@[A-Za-z0-9.-]+"
    phone_re = "[0-9]{3}-[0-9]{1,4}"
    both = f"({email_re}|{phone_re})"
    return d.select(
        "doc_id",
        F.size(F.regexp_extract_all(text2, F.lit(email_re), F.lit(0))).alias("n_emails"),
        F.size(F.regexp_extract_all(text2, F.lit(phone_re), F.lit(0))).alias("n_phones"),
        F.length(F.regexp_replace(text2, both, "<PII>")).alias("redacted_len"),
    )


def q51_repetition_stats(spark, sf_dir):
    """Gopher-style repetition quality signal (Rae et al. 2021, public):
    fraction of duplicate word 2-grams per doc — high values flag boilerplate
    /spam for corpus filtering.  Pure per-row array expressions: no shuffle,
    map-only at any scale."""
    d = read(spark, sf_dir, "documents")
    w = F.split(F.lower(F.col("text")), r"\s+")
    idx = textproc.seq1(F.size(w) - F.lit(1))
    grams = F.transform(
        idx,
        lambda i: F.concat_ws(
            " ", F.element_at(w, i.cast("int")), F.element_at(w, (i + 1).cast("int"))
        ),
    )
    total = F.size(grams)
    distinct = F.size(F.array_distinct(grams))
    return d.select(
        "doc_id",
        total.cast("long").alias("n_2grams"),
        distinct.cast("long").alias("n_distinct"),
        F.round(
            F.lit(1.0) - distinct.cast("double") / F.greatest(total, F.lit(1)).cast("double"), 4
        ).alias("dup_2gram_frac"),
    )


def interleaved_spans(spark, sf_dir, chunk: int = 40):
    """Deterministic interleaved span rows derived from the documents table
    (the input_hint shape at test scale): each doc's text is cut into
    `chunk`-char text spans, and an image span (media_ref from doc_id) is
    interleaved after every second text chunk.  Pure map-side: explode of a
    bounded per-doc sequence, no shuffle."""
    d = read(spark, sf_dir, "documents")
    nc = F.greatest(F.ceil(F.length("text") / F.lit(float(chunk))).cast("int"), F.lit(1))
    chunks = d.select(
        "doc_id", "text", F.explode(F.sequence(F.lit(0), nc - 1)).alias("i")
    )
    text_rows = chunks.select(
        "doc_id",
        F.lit("text").alias("kind"),
        F.col("text").substr(F.col("i") * chunk + 1, F.lit(chunk)).alias("text"),
        F.lit(None).cast("string").alias("media_ref"),
        (F.col("i") * 3).cast("int").alias("offset"),
    )
    media_rows = chunks.filter(F.col("i") % 2 == 1).select(
        "doc_id",
        F.lit("image").alias("kind"),
        F.lit(None).cast("string").alias("text"),
        F.concat(
            F.lit("img://"), F.col("doc_id"), F.lit("/"), F.floor(F.col("i") / 2)
        ).alias("media_ref"),
        (F.col("i") * 3 + 1).cast("int").alias("offset"),
    )
    return text_rows.unionByName(media_rows)


def q54_interleaved_flatten(spark, sf_dir):
    """Interleaved text+media docs -> flat LLM-pretraining text with <|kind|>
    placeholders: span rows are assembled into the mandated
    array<struct<kind,text,media_ref,offset>> shape (offset-ordered), then
    serialized map-only.  Exercises the full C8/F4 span path end-to-end
    against a SQL oracle."""
    from crawlspark import assemble

    docs = assemble.collect_spans(interleaved_spans(spark, sf_dir))
    return assemble.flatten_for_training(docs)


def q55_sequence_packing(spark, sf_dir):
    """Token-budget packing of each source's docs into fixed 256-token
    training sequences (concat-then-split; docs may straddle)."""
    return textproc.pack_sequences(read(spark, sf_dir, "documents"), budget=256)


def q56_cluster_representatives(spark, sf_dir):
    """Keep-best near-dup removal: connected components over the Jaccard>=0.5
    graph, then one representative per cluster by max quality (ties -> min
    doc_id).  Composes three verified operators (jaccard_pairs,
    connected_components, quality_score) into the canonical corpus-dedup
    decision step."""
    docs = read(spark, sf_dir, "documents")
    pairs = dedup.jaccard_pairs(docs, threshold=0.5)
    labels = dedup.connected_components(pairs.select("doc_a", "doc_b"))
    quality = textproc.quality_score(docs).select("doc_id", "quality")
    return dedup.cluster_representatives(labels, quality)


def q57_ann_ivf(spark, sf_dir):
    """IVF coarse-quantizer ANN: TRAINED 16-cell codebook, 4-probe search,
    exact rerank inside probed cells — the scale path the brief names
    alongside LSH, and (unlike LSH) fully hash-checked against SQL.
    Training picks its executor by input size: the embeddings table at
    bench/correctness SFs (2k rows at sf0.1) is under driver_max_rows, so
    it trains driver-local, the FAISS-style sample-trained quantizer.  Both
    executors are bit-identical (equality-tested), so the oracle is
    unaffected by the choice."""
    return simsearch.ivf_topk(read(spark, sf_dir, "embeddings"), k=5)


def q58_frame_sample(spark, sf_dir):
    """Video frame sampling: every 4th 256-byte frame of each video payload,
    hashed JVM-side (F.md5 over the binary frame).  The payload is the doc's
    utf-8 text (with_payload), so the frame hashes are SQL-mirrorable —
    unlike q39's rows-only plumbing check, this hash-checks the mapInPandas
    fan-out end-to-end."""
    media = multimodal.with_payload(read(spark, sf_dir, "documents"))
    frames = multimodal.sample_frames(media, frame_size=256, every=4)
    return frames.select(
        "doc_id",
        "frame_idx",
        F.md5("frame").alias("frame_md5"),
        F.length("frame").cast("int").alias("frame_len"),
    )


def q59_lang_pivot(spark, sf_dir):
    """Corpus-mix report: per source, document counts pivoted by language
    plus mean quality — the groupBy().pivot() relational surface (wide
    reporting shape).  Pivot values are EXPLICIT (the 5 corpus langs): an
    unlisted-values pivot would need a driver-side distinct pass; fixed
    values keep it one aggregation at any scale."""
    langs = ["de", "en", "es", "fr", "zh"]
    d = read(spark, sf_dir, "documents")
    out = (
        d.groupBy("source")
        .pivot("lang", langs)
        .agg(F.count(F.lit(1)))
    )
    for lang in langs:
        out = out.withColumnRenamed(lang, f"n_{lang}")
    out = out.select(
        "source", *[F.coalesce(F.col(f"n_{l}"), F.lit(0)).alias(f"n_{l}") for l in langs]
    )
    avgq = d.groupBy("source").agg(
        F.round(F.avg(F.length("text")), 4).alias("avg_len")
    )
    return out.join(avgq, "source")


def q60_sql_surface(spark, sf_dir):
    """The SQL entry point: the same engine tables addressed through
    spark.sql() text instead of the DataFrame DSL — users of the reference
    who prefer SQL run queries like this verbatim.  Per-source quality/length
    profile with a HAVING cut; Catalyst plans it identically to the DSL."""
    read(spark, sf_dir, "documents").createOrReplaceTempView("documents_v")
    return spark.sql(
        """
        SELECT source,
               CAST(count(*) AS BIGINT)            AS n_docs,
               CAST(sum(n_chars) AS BIGINT)        AS total_chars,
               round(avg(n_chars), 4)              AS avg_chars,
               CAST(max(n_chars) AS BIGINT)        AS max_chars
        FROM documents_v
        WHERE lang IN ('en', 'es')
        GROUP BY source
        HAVING count(*) >= 5
        """
    )


def q61_cdc_chunks(spark, sf_dir):
    """Content-defined chunking over the corpus: boundary-stable sub-document
    chunks whose md5s dedupe shared substrings across docs."""
    return textproc.cdc_chunks(read(spark, sf_dir, "documents"))


def q62_training_batches(spark, sf_dir):
    """The capstone composition crawl -> clean -> batch: drop every near-dup
    cluster member except the max-quality representative (q56 semantics),
    then pack the surviving corpus into 256-token training sequences (q55
    semantics).  One checked query covering the full corpus-to-batches
    decision chain; each stage is the already-verified operator."""
    docs = read(spark, sf_dir, "documents")
    pairs = dedup.jaccard_pairs(docs, threshold=0.5)
    labels = dedup.connected_components(pairs.select("doc_a", "doc_b"))
    quality = textproc.quality_score(docs).select("doc_id", "quality")
    reps = dedup.cluster_representatives(labels, quality).select(
        F.col("keeper_id").alias("doc_id")
    )
    non_keepers = labels.join(reps, "doc_id", "left_anti").select("doc_id")
    kept = docs.join(non_keepers, "doc_id", "left_anti")
    return textproc.pack_sequences(kept, budget=256)


def _chunk_dedup_stats(ch, id_col):
    """Shared q63/q73 aggregation: for every chunk identity shared by more
    than one (doc, position), the occurrence count, distinct docs, and the
    canonical keeper (lowest doc_id, then offset) — the sub-document analog
    of q30's exact groups.  ONE hash agg on the chunk identity column."""
    return (
        ch.groupBy(id_col)
        .agg(
            F.count("*").alias("n_occurrences"),
            F.countDistinct("doc_id").alias("n_docs"),
            F.min(F.struct("doc_id", "chunk_start")).alias("k"),
            F.min("chunk_len").alias("chunk_len"),
        )
        .filter(F.col("n_occurrences") > 1)
        .select(
            id_col,
            "n_occurrences",
            "n_docs",
            F.col("k.doc_id").alias("keeper_doc"),
            F.col("k.chunk_start").cast("long").alias("keeper_start"),
            "chunk_len",
        )
    )


def q63_chunk_dedup_stats(spark, sf_dir):
    """Chunk-level dedup decision over the CDC output (_chunk_dedup_stats
    over the md5 oracle form)."""
    return _chunk_dedup_stats(
        textproc.cdc_chunks(read(spark, sf_dir, "documents")), "chunk_md5"
    )


def q73_chunk_dedup_arrow(spark, sf_dir):
    """q63's chunk-level dedup composed over the MAP-ONLY Arrow CDC twin
    (textproc.cdc_chunks(variant="arrow") -> rolling.cdc_chunks_arrow): the
    selection flag pipeline callers flip to kill the giant-document window
    skew, exercised end-to-end.  Driver check is rows-only (chunk identity
    is xxhash64, which DuckDB lacks); the strong check is the unit equality
    test asserting this whole pipeline is bit-equal to the codegen
    hash_fn="xxh" form, which in turn is hash-checked at the q61/q63 md5
    oracles' plan shape."""
    ch = textproc.cdc_chunks(
        read(spark, sf_dir, "documents"), hash_fn="xxh", variant="arrow"
    )
    return _chunk_dedup_stats(ch, "chunk_hash")


def q74_fingerprint_overlap(spark, sf_dir):
    """MOSS-style sub-document overlap pairs (dedup.fingerprint_overlap_pairs
    over the q38 winnowing fingerprints): doc pairs sharing >= 2 rare
    fingerprints, with the asymmetric containment coefficient — catches a
    copied passage that whole-doc Jaccard (q31) dilutes below threshold.
    Fully hash-checked: the DuckDB oracle composes q38's fingerprint CTE
    with the same max_df cut and pair aggregation."""
    return dedup.fingerprint_overlap_pairs(
        read(spark, sf_dir, "documents"), max_df=20, min_shared=2
    )


def q64_link_extraction(spark, sf_dir):
    """The discovery chain extract -> resolve -> canonicalize as one checked
    query: deterministic synthetic anchors (root-relative, path-relative,
    absolute external) are built per doc, hrefs pulled with one
    regexp_extract_all, absolutized against the page URL (urlkit.resolve),
    and canonicalized.  The synthetic URLs are canonical-by-construction
    after resolution, so the SQL mirror resolves with plain CASE/concat and
    the canonicalize step must be the identity -- any deviation hash-fails."""
    from crawlspark import urlkit

    d = read(spark, sf_dir, "documents")
    page = F.concat(
        F.lit("https://docs.example.com/dir"),
        (F.col("doc_id") % 5).cast("string"),
        F.lit("/page"),
        F.col("doc_id").cast("string"),
        F.lit(".html"),
    )
    html = F.concat(
        F.lit('<a href="/hotel/'), (F.col("doc_id") % 50).cast("string"),
        F.lit('">x</a> <a href="p'), (F.col("doc_id") % 7).cast("string"),
        F.lit('.html">y</a> <a href="https://ext.example.com/'),
        (F.col("doc_id") % 3).cast("string"), F.lit('">z</a>'),
    )
    links = d.select(
        "doc_id",
        page.alias("page_url"),
        F.explode(
            F.regexp_extract_all(html, F.lit('href="([^"]+)"'), 1)
        ).alias("href"),
    )
    # PROJECTION BOUNDARY, measured 48x (8.2s -> 0.17s, constant in data
    # size): canonicalize(resolve(...)) composed as one expression
    # substitutes the whole resolve tree at EVERY input reference inside
    # canonicalize (~10 of them), exploding the expression tree and the
    # Janino compile.  Resolving into a named column first keeps each tree
    # linear; Catalyst's CollapseProject will not re-inline a non-cheap
    # expression referenced more than once.
    resolved = urlkit.with_resolved(links, "page_url", "href")
    return urlkit.with_canonical(resolved, url_col="url_res").select(
        "doc_id", "href", "url_canon"
    )


def q65_host_link_graph(spark, sf_dir):
    """Host-level web graph over the extracted links: (src_host, dst_host,
    n_links) -- the aggregation behind crawl-budget and authority decisions.
    One hash agg on top of q64's chain."""
    from crawlspark import urlkit

    links = q64_link_extraction(spark, sf_dir)
    return (
        links.select(
            F.lit("docs.example.com").alias("src_host"),
            urlkit.host(F.col("url_canon")).alias("dst_host"),
        )
        .groupBy("src_host", "dst_host")
        .agg(F.count("*").alias("n_links"))
    )


def q66_grouping_sets(spark, sf_dir):
    """Explicit GROUPING SETS (the asymmetric cousin of q15 rollup / q26
    cube): per-source totals, per-lang totals, and the grand total in one
    aggregation pass, with grouping_id disambiguating the null dimension."""
    read(spark, sf_dir, "documents").createOrReplaceTempView("documents_v")
    return spark.sql(
        """
        SELECT source, lang,
               CAST(grouping(source) * 2 + grouping(lang) AS INT) AS gid,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(n_chars) AS BIGINT) AS total_chars
        FROM documents_v
        GROUP BY GROUPING SETS ((source), (lang), ())
        """
    )


def q67_mixture_rebalance(spark, sf_dir):
    """Language-mixture rebalancing: downsample over-represented languages
    toward a uniform 20% target share.  Per-lang keep rate =
    min(1, target/share) quantized to basis points; the keep decision is a
    deterministic md5 content-hash bucket (q49 idiom — auditable, stable
    under re-ids); corpus totals enter via 1-row-agg cross joins (q29
    idiom — no driver-side count)."""
    d = read(spark, sf_dir, "documents")
    total = d.agg(F.count("*").cast("double").alias("n_total"))
    shares = d.groupBy("lang").agg(F.count("*").cast("double").alias("n_lang"))
    rate_bp = F.floor(
        F.least(F.lit(1.0), F.lit(0.2) / (F.col("n_lang") / F.col("n_total")))
        * 10000
    ).cast("int")
    rates = shares.crossJoin(F.broadcast(total)).select(
        "lang", rate_bp.alias("rate_bp")
    )
    bucket = _md5_bucket(F.col("text"), 10000)
    return (
        d.withColumn("bucket", bucket)
        .join(rates, "lang")
        .filter(F.col("bucket") < F.col("rate_bp"))
        .select("doc_id", "lang", "bucket", "rate_bp")
    )


def q68_decontaminate(spark, sf_dir):
    """Benchmark decontamination (dedup.decontaminate): the doc_id % 50 == 7
    slice plays the held-out eval set; every other doc sharing 3-gram
    shingles with it is flagged with hit counts and a >= 4-hits
    contamination verdict.  Broadcast eval-shingle join — the corpus is
    never shuffled by shingle."""
    d = read(spark, sf_dir, "documents")
    bench = d.filter(F.pmod(F.col("doc_id"), F.lit(50)) == 7)
    train = d.filter(F.pmod(F.col("doc_id"), F.lit(50)) != 7)
    return dedup.decontaminate(train, bench)


def q69_leakage_free_split(spark, sf_dir):
    """Leakage-free train/val split: the split unit is the NEAR-DUP CLUSTER,
    not the document — splitting per doc leaks near-duplicates of training
    docs into validation (the classic eval-inflation bug).  Cluster labels
    come from the q45 hash-min CC over the Jaccard>=0.5 graph; unclustered
    docs are their own singleton cluster; the decision is a deterministic
    md5 bucket of the LABEL (q49/q67 idiom — auditable, stable under
    re-partitioning and re-ids), bucket < 9000/10000 -> train.  The label
    join is docs vs the (small) clustered subset — AQE broadcasts it."""
    d = read(spark, sf_dir, "documents")
    pairs = dedup.jaccard_pairs(d, threshold=0.5)
    labels = dedup.connected_components(pairs.select("doc_a", "doc_b"))
    lab = (
        d.select("doc_id")
        .join(labels, "doc_id", "left")
        .select("doc_id", F.coalesce("label", F.col("doc_id")).alias("label"))
    )
    bucket = _md5_bucket(F.col("label").cast("string"), 10000)
    return lab.select(
        "doc_id",
        "label",
        F.when(bucket < 9000, F.lit("train")).otherwise(F.lit("val")).alias("split"),
    )


def q70_unigram_logprob(spark, sf_dir):
    """Unigram language-model quality score (the CCNet/Dolma perplexity
    filter with a self-scored unigram LM standing in for KenLM): per doc,
    the mean log-probability of its words under the corpus unigram
    distribution — rare-token soup scores very negative, stopword soup
    scores near the top; both tails get filtered in a real pipeline.

    Shape: one exploded-word hash agg for corpus frequencies, an AQE-sized
    join back to the words (no broadcast hint — a web-scale vocabulary
    exceeds broadcast limits, q46 discipline), one per-doc hash agg.  The
    corpus total rides a 1-row-agg crossJoin (q29 idiom, no driver count).
    Hot stopword keys skew the word-keyed join; the cf side is one row per
    word (no buffering hazard) and the session's AQE skew-join splits the
    oversized partitions at runtime.

    Determinism: a float SUM of logs would depend on partial-aggregate
    merge order, so each word's ln(cf) is rounded to 6dp and summed as
    fixed-point BIGINTs (the IVF-centroid trick); ln(total) is subtracted
    once at the end.  floor(x*1e6 + 0.5) keeps Spark's truncating cast and
    DuckDB's rounding cast out of the comparison."""
    d = read(spark, sf_dir, "documents")
    words = d.select(
        "doc_id", F.explode(F.split(F.lower(F.col("text")), r"\s+")).alias("w")
    ).filter(F.col("w") != "")
    cf = words.groupBy("w").agg(F.count("*").alias("cf"))
    tot = cf.agg(F.sum("cf").cast("double").alias("n_total"))
    lp_fp = F.floor(
        F.round(F.log(F.col("cf").cast("double")), 6) * F.lit(1000000.0) + F.lit(0.5)
    ).cast("long")
    per_doc = (
        words.join(cf, "w")
        .select("doc_id", lp_fp.alias("lp"))
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_words"), F.sum("lp").alias("s"))
    )
    mean_lp = (
        F.col("s").cast("double") / F.col("n_words").cast("double") / F.lit(1000000.0)
        - F.round(F.log(F.col("n_total")), 6)
    )
    return (
        per_doc.crossJoin(F.broadcast(tot))
        .select(
            "doc_id",
            "n_words",
            F.round(mean_lp, 6).alias("mean_logprob"),
        )
    )


def q71_host_pagerank(spark, sf_dir):
    """Host-authority PageRank for frontier prioritization (graph.pagerank,
    2 damped power-iteration rounds, fixed-point edge sums): the classic
    crawl-scheduling signal — high-rank hosts get fetched first.  The host
    link graph is synthesized deterministically from doc ids (each doc's
    host links to three arithmetic neighbors), mirroring q64/q65's
    synthetic-HTML idiom; the DuckDB oracle unrolls the same rounds, so an
    ITERATIVE float algorithm gets a full value-hash check."""
    from crawlspark import graph

    d = read(spark, sf_dir, "documents").select("doc_id")
    src = F.concat(F.lit("h"), (F.col("doc_id") % 20).cast("string"))
    e = (
        d.select(
            src.alias("src"),
            F.explode(
                F.array(*[(F.col("doc_id") * 7 + F.lit(k)) % 20 for k in (1, 2, 3)])
            ).alias("t"),
        )
        .select("src", F.concat(F.lit("h"), F.col("t").cast("string")).alias("dst"))
        .filter(F.col("src") != F.col("dst"))
    )
    return graph.pagerank(e, n_rounds=2)


def q72_revisit_priority(spark, sf_dir):
    """Freshness-driven revisit scheduling (adaptive re-crawl, cf. Cho &
    Garcia-Molina, "Effective Page Refresh Policies for Web Crawlers"):
    per monitored source (user_id as the host key over the events
    observation log), the change rate is estimated from consecutive
    observations (value changed between fetches) and revisit priority =
    change_rate × staleness_hours — frequently-changing, long-unvisited
    sources bubble to the top of the recrawl frontier.

    Shape: ONE lag window per source + one hash agg; 'now' is the corpus
    max-ts via a 1-row-agg crossJoin (q29 idiom).  All arithmetic is exact
    integer epoch-micros until the final rounded divisions."""
    from pyspark.sql import Window

    e = read(spark, sf_dir, "events")
    tsc = F.col("ts").cast("timestamp")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    obs = e.select(
        "user_id",
        F.unix_micros(tsc).alias("ts_us"),
        F.col("value").alias("v"),
        F.lag("value").over(w).alias("prev"),
    )
    per = obs.groupBy("user_id").agg(
        F.count("prev").alias("n_intervals"),
        F.sum(
            F.when(F.col("prev").isNotNull() & (F.col("v") != F.col("prev")), 1)
            .otherwise(0)
        ).alias("n_changes"),
        F.max("ts_us").alias("last_us"),
    )
    now = e.agg(F.max(F.unix_micros(tsc)).alias("now_us"))
    rate = F.round(
        F.col("n_changes").cast("double")
        / F.greatest(F.col("n_intervals"), F.lit(1)).cast("double"),
        6,
    )
    stale_h = F.round(
        (F.col("now_us") - F.col("last_us")).cast("double") / F.lit(3600000000.0), 6
    )
    return (
        per.crossJoin(F.broadcast(now))
        .select(
            "user_id",
            "n_intervals",
            F.col("n_changes").cast("long").alias("n_changes"),
            rate.alias("change_rate"),
            stale_h.alias("staleness_hours"),
            F.round(rate * stale_h, 6).alias("revisit_priority"),
        )
    )


def q44_ann_cosine_arrow(spark, sf_dir):
    """Arrow/numpy fast path of q34 — identical results, BLAS-vectorized."""
    return simsearch.topk_bruteforce_arrow(read(spark, sf_dir, "embeddings"), k=5)


def q75_decontaminate_spans(spark, sf_dir):
    """Span-level decontamination (dedup.decontaminate_spans — the Dolma
    recipe): q68's eval slice (doc_id % 50 == 7) again plays the benchmark,
    but instead of flagging whole training docs, each 16-word paragraph
    sharing >= 2 distinct 3-gram shingles with the benchmark is EXCISED and
    the document is reassembled from the surviving paragraphs.  Broadcast
    eval-shingle join; the corpus is never shuffled by shingle."""
    d = read(spark, sf_dir, "documents")
    bench = d.filter(F.pmod(F.col("doc_id"), F.lit(50)) == 7)
    train = d.filter(F.pmod(F.col("doc_id"), F.lit(50)) != 7)
    return dedup.decontaminate_spans(train, bench, min_hits=2, words_per=16)


def q77_minhash_lsh_md5(spark, sf_dir):
    """The md5 ORACLE TWIN of q32's MinHash+LSH (the q38/q61 discipline
    brought to the sketches): permutation i = md5(shingle || '|i') with
    lexicographic-min signatures, band hash = md5 of the band's
    concatenated hex signatures — every step DuckDB-mirrorable, so the
    sketch family finally gets a full value-hash check.  xxh64 (q32) stays
    the production path; this twin is the correctness witness."""
    sigs = dedup.minhash_signatures(
        read(spark, sf_dir, "documents"), hash_fn="md5"
    ).localCheckpoint()
    return dedup.lsh_candidate_pairs(sigs, hash_fn="md5").filter(
        F.col("est_jaccard") >= 0.5
    )


def q78_simhash_md5(spark, sf_dir):
    """The md5 ORACLE TWIN of q33's SimHash near-dup pairs: word hash = the
    first 15 md5 hex chars as a 60-bit integer, fingerprint reconstructed
    from the 64 sign sums, pigeonhole 16-bit chunk join + exact
    bit_count(xor) — every step DuckDB-expressible (positional hex-digit
    sums + >> & xor bit_count), so the second sketch family also gets a
    full value-hash check.  xxh64 (q33) stays the production path."""
    sh = dedup.simhash(read(spark, sf_dir, "documents"), hash_fn="md5")
    return dedup.simhash_pairs(sh, max_hamming=6)


def q76_bpe_token_count(spark, sf_dir):
    """Tokenizer-accurate token counting (crawlspark.bpe): learn a
    GPT-2-style merge table from the corpus (distributed vocab agg +
    bounded driver-side rank learning), then count each doc's BPE tokens
    through the Arrow-batched counter alongside the q37 regex proxies.
    Rows-only by design: the BPE merge loop is not SQL-expressible —
    correctness is the pure-Python-reference parity + Hypothesis losslessness
    suite (tests/props/test_bpe_properties.py)."""
    from crawlspark import bpe

    d = read(spark, sf_dir, "documents")
    merges = bpe.learn_merges(d, n_merges=100, max_vocab_rows=20000)
    return textproc.token_counts(d, variant="bpe", merges=merges)


def q79_line_dedup(spark, sf_dir):
    """Corpus-internal boilerplate-line removal (dedup.dedup_lines — the
    CCNet / RefinedWeb recipe): every 16-word paragraph whose normalized
    md5 appears in >= 2 distinct documents is excised corpus-wide and each
    document reassembled from its unique remainder.  The frequency pass
    moves only narrow (lkey, doc_id) rows; the text never rides the
    line-hash shuffle."""
    return dedup.dedup_lines(
        read(spark, sf_dir, "documents"), min_df=2, words_per=16
    )


# Fixed query-term set for q80: high-df terms plus one rare term ("dup",
# df≈25/500 at sf0.01) so the idf spread is real.  A literal tuple, so the
# isin() compiles to a codegen In-set below the aggregations.
BM25_QUERY_TERMS = ("spark", "join", "window", "stream", "dup")


def q80_bm25(spark, sf_dir):
    """Okapi BM25 (k1=1.2, b=0.75) of every document against the fixed
    query-term set — see textproc.bm25_scores for the plan contract (ONE
    corpus scan: per-term conditional sums in a single groupBy(doc_id),
    every global scalar — n_docs, avgdl, per-term df — in one broadcast
    1-row aggregate, reused exchange plan-tested).  Python's ``1.2 + 1.0``
    is the SAME double as the oracle's literal ``2.2``, so defaults
    hash-match."""
    return textproc.bm25_scores(
        read(spark, sf_dir, "documents"), terms=BM25_QUERY_TERMS
    )


def q81_crawl_traps(spark, sf_dir):
    """Spider-trap host detection over a deterministic synthetic fetch log
    (the q64/q50 synthesis idiom): 20 hosts derived from doc_id, three
    fetches per doc; on the four "trap" hosts every fetch invents a fresh
    ?session= URL while the content stays the doc's md5 — the URL-space /
    content-space ratio metrics.trap_stats flags.  Trap hosts read ~3.0,
    honest hosts 1.0.  One explode + one hash agg (see trap_stats for the
    Expand contract)."""
    from crawlspark import metrics

    d = read(spark, sf_dir, "documents")
    host = F.concat(
        F.lit("h"), (F.col("doc_id") % 20).cast("string"), F.lit(".example.com")
    )
    fetches = d.select(
        "doc_id",
        host.alias("host"),
        ((F.col("doc_id") % 20) < 4).alias("trapish"),
        F.md5("text").alias("content_key"),
        F.explode(F.array(F.lit(0), F.lit(1), F.lit(2))).alias("i"),
    )
    url = F.concat(
        F.lit("https://"),
        F.col("host"),
        F.lit("/doc"),
        F.col("doc_id").cast("string"),
        F.when(
            F.col("trapish"),
            F.concat(
                F.lit("?session="),
                (F.col("doc_id") * 3 + F.col("i")).cast("string"),
            ),
        ).otherwise(F.lit("")),
    )
    return metrics.trap_stats(
        fetches.select("host", url.alias("url"), "content_key"),
        ratio_threshold=2.5,
    )


def q82_contamination_report(spark, sf_dir):
    """Per-benchmark-doc contamination triage (dedup.contamination_report):
    the flip of q68 — same doc_id % 50 == 7 eval slice, but the report is
    keyed by BENCH doc: which eval items leak into the corpus, through how
    many training docs, and how deep the worst overlap runs.  Broadcast
    (bench_id, sh) attribution join; the corpus never shuffles by shingle."""
    d = read(spark, sf_dir, "documents")
    bench = d.filter(F.pmod(F.col("doc_id"), F.lit(50)) == 7)
    train = d.filter(F.pmod(F.col("doc_id"), F.lit(50)) != 7)
    return dedup.contamination_report(train, bench)


def q83_novelty_scores(spark, sf_dir):
    """Per-doc 3-gram novelty over the corpus (dedup.novelty_scores): the
    df==1 shingle fraction — the memorization/duplication-risk audit that
    catches stitched-together documents no pairwise threshold flags."""
    return dedup.novelty_scores(read(spark, sf_dir, "documents"))


def q85_gopher_rules(spark, sf_dir):
    """Gopher quality-filter rules (textproc.gopher_rules): the published
    MassiveWeb per-document bounds — word count, mean word length, symbol
    ratio, alpha-word fraction, stopword presence — as signals + per-rule
    flags + the filtering conjunction.  Map-only, one scan."""
    return textproc.gopher_rules(read(spark, sf_dir, "documents"))


def q86_nb_quality(spark, sf_dir):
    """Trained Naive-Bayes quality classifier (textproc.nb_quality_scores):
    seed labels derive deterministically from the source id's parity (even
    sources stand in for the curated reference corpus, the CCNet/GPT-3
    recipe's "looks like Wikipedia" side), log-odds trained corpus-wide,
    every doc scored and thresholded at 0."""
    d = read(spark, sf_dir, "documents")
    labels = d.select(
        "doc_id",
        (
            (F.regexp_extract(F.col("source"), r"(\d+)", 1).cast("int") % 2) == 0
        )
        .cast("int")
        .alias("label"),
    )
    return textproc.nb_quality_scores(d, labels)


def q87_embedding_decontaminate(spark, sf_dir):
    """Embedding-space decontamination (dedup.embedding_decontaminate):
    vec_id % 25 == 3 plays the held-out eval embedding set (20 vectors),
    the rest the training corpus; every corpus vector within cosine 0.35 of
    ANY bench vector is flagged — the paraphrase-robust complement of q68's
    n-gram scrub.  Broadcast bench matrix + map-only screen + bit-exact
    recheck (embedding_neardup's contract, cross-frame)."""
    e = read(spark, sf_dir, "embeddings")
    bench = e.filter(F.pmod(F.col("vec_id"), F.lit(25)) == 3)
    corpus = e.filter(F.pmod(F.col("vec_id"), F.lit(25)) != 3)
    return dedup.embedding_decontaminate(corpus, bench, threshold=0.35)


def q88_duplicate_spans(spark, sf_dir):
    """Exact duplicate-substring spans (dedup.duplicate_spans): maximal
    runs of 5-grams occurring more than once corpus-wide, with 1-based word
    offsets — the ExactSubstr (Lee et al. 2022) span-grain exact
    complement to q74's sampled fingerprint pairs.  Linear plan: posexplode
    + lead window + one gram agg + island grouping, no self-join."""
    return dedup.duplicate_spans(read(spark, sf_dir, "documents"), n=5)


def q89_excise_duplicate_spans(spark, sf_dir):
    """ExactSubstr excision (dedup.excise_duplicate_spans): q88's
    duplicated 5-gram runs cut out of every document, keeping the first
    occurrence of each distinct span content — detect (q88) -> clean
    (q89), the same pairing as q68 -> q75."""
    return dedup.excise_duplicate_spans(read(spark, sf_dir, "documents"), n=5)


def q90_retention_cohorts(spark, sf_dir):
    """Weekly cohort-retention report over the events table — the classic
    crawl/usage-analytics shape the engine's report family lacked: each
    user's cohort is their first active ISO week; for every (cohort,
    age_weeks) cell, distinct active users and the retention ratio vs the
    cohort's age-0 size.

    Scale shape: one user-keyed agg for cohorts (hash shuffle), an
    AQE-sized join back to events, one (cohort, age) agg — and the
    first_value window runs over the AGGREGATED cells only (cohorts ×
    ages, tiny at any corpus size), never over raw events.  Week
    truncation is Monday-based on both engines; age division is exact
    (multiples of 7), so the only float is the final round(·,4) ratio."""
    from pyspark.sql import Window

    e = read(spark, sf_dir, "events").select(
        "user_id", F.to_date(F.date_trunc("week", F.col("ts"))).alias("wk")
    )
    u = e.groupBy("user_id").agg(F.min("wk").alias("cohort"))
    act = e.join(u, "user_id").select(
        "user_id",
        "cohort",
        (F.datediff(F.col("wk"), F.col("cohort")) / 7).cast("long").alias(
            "age_weeks"
        ),
    )
    agg = act.groupBy("cohort", "age_weeks").agg(
        F.countDistinct("user_id").cast("long").alias("n_users")
    )
    w = Window.partitionBy("cohort").orderBy("age_weeks")
    return agg.select(
        F.date_format("cohort", "yyyy-MM-dd").alias("cohort_week"),
        "age_weeks",
        "n_users",
        F.round(
            F.col("n_users").cast("double")
            / F.first("n_users").over(w).cast("double"),
            4,
        ).alias("retention"),
    )


def q91_funnel(spark, sf_dir):
    """Strictly-ordered funnel conversion over events (view -> click ->
    purchase): a user reaches a stage only via an event AFTER their
    earliest previous-stage event (min-ts chaining per stage — the
    sequential-pattern report shape the engine's family lacked).  Returns
    one row per stage: distinct users + conversion vs stage 1.

    Scale shape: each stage is a user-keyed min agg; the chain joins are
    all on user_id (co-partitioned with the aggs, AQE-sized); the final
    counts are three 1-row reductions and the base rides the q29
    1-row-agg crossJoin(broadcast) idiom — no window over raw events, no
    driver count."""
    e = read(spark, sf_dir, "events")
    v = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    c = (
        e.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("ts") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    p = (
        e.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("ts") > F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )
    s = (
        v.select(F.lit("1_view").alias("stage"), "user_id")
        .unionByName(c.select(F.lit("2_click").alias("stage"), "user_id"))
        .unionByName(p.select(F.lit("3_purchase").alias("stage"), "user_id"))
        .groupBy("stage")
        .agg(F.count("*").cast("long").alias("n_users"))
    )
    base = v.agg(F.count("*").cast("double").alias("n1"))
    return s.crossJoin(F.broadcast(base)).select(
        "stage",
        "n_users",
        F.round(F.col("n_users").cast("double") / F.col("n1"), 4).alias(
            "conversion"
        ),
    )


def q92_link_coupling(spark, sf_dir):
    """Bibliographic coupling over the q64 link graph
    (dedup.cocitation_pairs): doc pairs sharing >= 2 distinct outbound
    canonical URLs, with the link-set Jaccard — the web-graph relatedness
    signal (Kessler 1963).  The ubiquitous external link (df ~ n/3) is
    stop-cut by max_df=20, the jaccard hot-key contract; the oracle
    reuses q64's CTE chain verbatim so the two cannot drift."""
    links = q64_link_extraction(spark, sf_dir)
    return dedup.cocitation_pairs(
        links.select("doc_id", F.col("url_canon").alias("sh")),
        min_shared=2,
        max_df=20,
    )


def q84_semdedup(spark, sf_dir):
    """SemDeDup (dedup.semdedup): cluster embeddings with the q57-verified
    trained codebook, drop near-identical pairs WITHIN each cluster — the
    published recipe that bounds embedding-dedup's quadratic work per cell.
    The within-cluster pairs come from q40's blocked screen partitioned by
    cluster id; the codebook trains driver-local at bench SFs (input size
    under driver_max_rows), bit-identical to the distributed Arrow path."""
    return dedup.semdedup(read(spark, sf_dir, "embeddings"), threshold=0.35)


QUERIES = {
    "q30_dedup_exact": q30_dedup_exact,
    "q31_jaccard_shingles": q31_jaccard_shingles,
    "q32_minhash_lsh": q32_minhash_lsh,
    "q33_simhash_neardup": q33_simhash_neardup,
    "q34_ann_cosine": q34_ann_cosine,
    "q35_lang_id": q35_lang_id,
    "q36_quality_score": q36_quality_score,
    "q37_token_count": q37_token_count,
    "q38_fingerprint": q38_fingerprint,
    "q39_multimodal_features": q39_multimodal_features,
    "q40_embedding_neardup": q40_embedding_neardup,
    "q41_ann_lsh": q41_ann_lsh,
    "q42_corpus_pipeline": q42_corpus_pipeline,
    "q43_vocab_stats": q43_vocab_stats,
    "q44_ann_cosine_arrow": q44_ann_cosine_arrow,
    "q45_neardup_components": q45_neardup_components,
    "q46_tfidf": q46_tfidf,
    "q49_stratified_sample": q49_stratified_sample,
    "q50_pii_scrub": q50_pii_scrub,
    "q51_repetition_stats": q51_repetition_stats,
    "q54_interleaved_flatten": q54_interleaved_flatten,
    "q55_sequence_packing": q55_sequence_packing,
    "q56_cluster_representatives": q56_cluster_representatives,
    "q57_ann_ivf": q57_ann_ivf,
    "q58_frame_sample": q58_frame_sample,
    "q59_lang_pivot": q59_lang_pivot,
    "q60_sql_surface": q60_sql_surface,
    "q61_cdc_chunks": q61_cdc_chunks,
    "q62_training_batches": q62_training_batches,
    "q63_chunk_dedup_stats": q63_chunk_dedup_stats,
    "q64_link_extraction": q64_link_extraction,
    "q65_host_link_graph": q65_host_link_graph,
    "q66_grouping_sets": q66_grouping_sets,
    "q67_mixture_rebalance": q67_mixture_rebalance,
    "q68_decontaminate": q68_decontaminate,
    "q69_leakage_free_split": q69_leakage_free_split,
    "q70_unigram_logprob": q70_unigram_logprob,
    "q71_host_pagerank": q71_host_pagerank,
    "q72_revisit_priority": q72_revisit_priority,
    "q73_chunk_dedup_arrow": q73_chunk_dedup_arrow,
    "q74_fingerprint_overlap": q74_fingerprint_overlap,
    "q75_decontaminate_spans": q75_decontaminate_spans,
    "q76_bpe_token_count": q76_bpe_token_count,
    "q77_minhash_lsh_md5": q77_minhash_lsh_md5,
    "q78_simhash_md5": q78_simhash_md5,
    "q79_line_dedup": q79_line_dedup,
    "q80_bm25": q80_bm25,
    "q81_crawl_traps": q81_crawl_traps,
    "q82_contamination_report": q82_contamination_report,
    "q83_novelty_scores": q83_novelty_scores,
    "q84_semdedup": q84_semdedup,
    "q85_gopher_rules": q85_gopher_rules,
    "q86_nb_quality": q86_nb_quality,
    "q87_embedding_decontaminate": q87_embedding_decontaminate,
    "q88_duplicate_spans": q88_duplicate_spans,
    "q89_excise_duplicate_spans": q89_excise_duplicate_spans,
    "q90_retention_cohorts": q90_retention_cohorts,
    "q91_funnel": q91_funnel,
    "q92_link_coupling": q92_link_coupling,
}


def _simhash_md5_oracle_sql(
    bands: int = 4, max_bucket: int = 1000, max_hamming: int = 6
) -> str:
    """DuckDB mirror of q78: 60-bit word hash from the first 15 md5 hex
    digits (positional digit sums — no hex cast needed), 64 sign sums,
    power-of-two fingerprint reconstruction (bits 60-63 constantly 0, so
    the BIGINT never overflows), chunk join with QUALIFY cap, exact
    bit_count(xor) filter.  Generated so the 64 bit columns can't drift."""
    h_terms = " + ".join(
        f"CAST((strpos('0123456789abcdef', substr(hx, {k + 1}, 1)) - 1) "
        f"AS BIGINT) * {16 ** (15 - 1 - k)}"
        for k in range(15)
    )
    s_cols = ", ".join(
        f"sum(CASE WHEN (h >> {j}) & 1 = 1 THEN 1 ELSE -1 END) AS s{j}"
        for j in range(64)
    )
    fp_sum = " + ".join(
        f"(CASE WHEN s{j} > 0 THEN CAST({1 << j} AS BIGINT) ELSE 0 END)"
        for j in range(60)  # bits 60-63 are constantly 0 under the 60-bit hash
    )
    chunks = ", ".join(str(b) for b in range(bands))
    return (
        "WITH wds AS (SELECT doc_id, unnest(string_split_regex(lower(text), "
        "'\\s+')) AS word FROM documents), "
        "hx0 AS (SELECT doc_id, md5(word) AS hx FROM wds), "
        f"hs AS (SELECT doc_id, {h_terms} AS h FROM hx0), "
        f"s AS (SELECT doc_id, {s_cols} FROM hs GROUP BY doc_id), "
        f"fp AS (SELECT doc_id, CAST({fp_sum} AS BIGINT) AS simhash FROM s), "
        f"ch AS (SELECT doc_id, simhash, b AS band, "
        "(simhash >> (b * 16)) & 65535 AS chunk "
        f"FROM fp, unnest([{chunks}]) AS t(b)), "
        "capped AS (SELECT doc_id, simhash, band, chunk FROM ch "
        f"QUALIFY count(*) OVER (PARTITION BY band, chunk) <= {max_bucket}), "
        "cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b, "
        "CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming "
        "FROM capped a JOIN capped b ON a.band = b.band AND a.chunk = b.chunk "
        "AND a.doc_id < b.doc_id) "
        f"SELECT doc_a, doc_b, hamming FROM cand WHERE hamming <= {max_hamming}"
    )


def _minhash_md5_oracle_sql(
    n_perm: int = 64, bands: int = 16, max_bucket: int = 1000, threshold: float = 0.5
) -> str:
    """DuckDB mirror of q77: md5 permutations, lexicographic min signatures,
    md5 band hashes, QUALIFY bucket cap, per-position equality estimate —
    generated so the 64 columns / 16 bands can't drift from the parameters.
    Shares q68's shingle construction (string 3-grams over the lowercased
    whitespace split)."""
    r = n_perm // bands
    mins = ", ".join(
        f"min(md5(sh || '|{i}')) AS m{i}" for i in range(n_perm)
    )
    band_selects = " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band, "
        f"md5({' || '.join(f'm{b * r + j}' for j in range(r))}) AS bh FROM sig"
        for b in range(bands)
    )
    eq_sum = " + ".join(
        f"(CASE WHEN sa.m{i} = sb.m{i} THEN 1 ELSE 0 END)" for i in range(n_perm)
    )
    return (
        "WITH w AS (SELECT doc_id, string_split_regex(lower(text), '\\s+') AS ws "
        "FROM documents), "
        "sh0 AS (SELECT doc_id, unnest(list_distinct(list_transform("
        "range(1, greatest(len(ws)-1, 1)), "
        "i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]))) AS sh FROM w), "
        f"sig AS (SELECT doc_id, {mins} FROM sh0 GROUP BY doc_id), "
        f"bands AS ({band_selects}), "
        "capped AS (SELECT doc_id, band, bh FROM bands "
        f"QUALIFY count(*) OVER (PARTITION BY band, bh) <= {max_bucket}), "
        "cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b "
        "FROM capped a JOIN capped b ON a.band = b.band AND a.bh = b.bh "
        "AND a.doc_id < b.doc_id) "
        f"SELECT doc_a, doc_b, round(({eq_sum}) / {float(n_perm)}, 6) AS est_jaccard "
        "FROM cand JOIN sig sa ON sa.doc_id = doc_a "
        "JOIN sig sb ON sb.doc_id = doc_b "
        f"WHERE round(({eq_sum}) / {float(n_perm)}, 6) >= {threshold}"
    )

def _ivf_train_asg_parts(
    n_rounds: int = 2, n_cells: int = 16, dim: int = 64
) -> list:
    """Shared CTE prefix for the trained-codebook oracles (q57 IVF search,
    q84 SemDeDup): v (double vectors), cent0..centN Lloyd's rounds with the
    identical fixed-point arithmetic (floor(x*1e6) BIGINT sums, then double
    division) as train_ivf_centroids, and the final asg (vid -> cid) nearest-
    centroid assignment.  One builder, reused verbatim, so the trained
    codebook cannot drift between the two oracles."""
    sums = ", ".join(
        f"CAST(sum(CAST(floor(v.v[{i + 1}] * 1000000.0) AS BIGINT)) AS BIGINT)"
        f" AS s{i}"
        for i in range(dim)
    )
    means = ", ".join(
        f"CAST(s.s{i} AS DOUBLE) / CAST(s.n AS DOUBLE) / 1000000.0"
        for i in range(dim)
    )
    parts = [
        "WITH v AS (SELECT vec_id AS vid, "
        "list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings), ",
        "cent0 AS (SELECT vec_id AS cid, "
        "list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cv "
        f"FROM embeddings WHERE vec_id >= 8 AND vec_id < {8 + n_cells}), ",
    ]
    for r in range(n_rounds):
        parts.append(
            f"asg{r} AS (SELECT vid, cid FROM ("
            "SELECT v.vid, c.cid, row_number() OVER (PARTITION BY v.vid "
            "ORDER BY list_cosine_similarity(v.v, c.cv) DESC, c.cid) AS rc "
            f"FROM v, cent{r} c) WHERE rc = 1), "
            f"sums{r} AS (SELECT cid, count(*) AS n, {sums} "
            f"FROM asg{r} JOIN v USING (vid) GROUP BY cid), "
            f"cent{r + 1} AS (SELECT c.cid, "
            f"CASE WHEN s.n IS NULL THEN c.cv ELSE [{means}] END AS cv "
            f"FROM cent{r} c LEFT JOIN sums{r} s USING (cid)), "
        )
    fin = f"cent{n_rounds}"
    parts.append(
        "asg AS (SELECT vid, cid FROM ("
        "SELECT v.vid, c.cid, row_number() OVER (PARTITION BY v.vid "
        "ORDER BY list_cosine_similarity(v.v, c.cv) DESC, c.cid) AS rc "
        f"FROM v, {fin} c) WHERE rc = 1), "
    )
    return parts


def _ivf_oracle_sql(
    n_rounds: int = 2, n_cells: int = 16, dim: int = 64, nprobe: int = 4, k: int = 5
) -> str:
    """DuckDB mirror of simsearch.ivf_topk with a TRAINED codebook: the
    shared _ivf_train_asg_parts rounds/assignment prefix plus the
    probe/rerank tail.  Cosine-ordering parity (list_cosine_similarity vs
    the Spark HOF dot/norms) is the same contract the untrained q57 already
    hash-passed."""
    parts = _ivf_train_asg_parts(n_rounds=n_rounds, n_cells=n_cells, dim=dim)
    fin = f"cent{n_rounds}"
    parts.append(
        "q AS (SELECT vid AS q_vec_id, v AS qv FROM v WHERE vid < 8), "
        "probe AS (SELECT q_vec_id, cid FROM ("
        "SELECT q_vec_id, c.cid, row_number() OVER (PARTITION BY q_vec_id "
        "ORDER BY list_cosine_similarity(qv, c.cv) DESC, c.cid) AS rc "
        f"FROM q, {fin} c) WHERE rc <= {nprobe}), "
        "ranked AS (SELECT c.q_vec_id, c.vid, "
        "row_number() OVER (PARTITION BY c.q_vec_id "
        "ORDER BY list_cosine_similarity(q.qv, v.v) DESC, c.vid) AS rk FROM "
        "(SELECT p.q_vec_id, a.vid FROM probe p JOIN asg a ON a.cid = p.cid "
        "WHERE a.vid <> p.q_vec_id) c "
        "JOIN q ON q.q_vec_id = c.q_vec_id JOIN v ON v.vid = c.vid) "
        f"SELECT q_vec_id, vid AS neighbor_id, rk FROM ranked WHERE rk <= {k}"
    )
    return "".join(parts)


# Shared oracle CTE chains.  Each constant is a CTE list WITHOUT the leading
# keyword: callers prefix "WITH " or, when the chain includes the recursive
# reach CTE, "WITH RECURSIVE ".  Compose these constants; never derive an
# oracle from another by string .replace.
#
# 3-shingle pair counts (q31's definition): w, sh0, sizes, rare (max_df 20),
# shr = (doc_a, doc_b, n_shared) over the rare shingles.
_SHINGLE_CTES = """
w AS (
  SELECT doc_id, string_split_regex(lower(text), '\\s+') AS ws FROM documents
), sh0 AS (
  SELECT doc_id, unnest(list_distinct(list_transform(range(1, greatest(len(ws)-1, 1)),
         i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]))) AS sh
  FROM w
), sizes AS (
  SELECT doc_id, count(*) AS n_sh FROM sh0 GROUP BY 1
), rare AS (
  SELECT sh FROM (SELECT sh, count(*) AS c FROM sh0 GROUP BY 1) WHERE c <= 20
), shr AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared
  FROM sh0 a JOIN sh0 b USING (sh) JOIN rare USING (sh)
  WHERE a.doc_id < b.doc_id GROUP BY 1, 2
)
"""

# near-duplicate components (q45's definition, shared by q56/q62/q69):
# Jaccard >= 0.5 pairs, symmetric edges, the recursive reach closure, and
# cc = (doc_id, label = least doc_id of its component) for paired docs only.
_NEARDUP_CC_CTES = _SHINGLE_CTES + (
    ", pairs AS ("
    "SELECT doc_a, doc_b FROM shr "
    "JOIN sizes sa ON sa.doc_id = doc_a JOIN sizes sb ON sb.doc_id = doc_b "
    "WHERE round(CAST(n_shared AS DOUBLE) / (sa.n_sh + sb.n_sh - n_shared), 6) >= 0.5"
    "), edges AS ("
    "SELECT doc_a AS src, doc_b AS dst FROM pairs "
    "UNION SELECT doc_b, doc_a FROM pairs"
    "), reach(src, dst) AS ("
    "SELECT src, dst FROM edges "
    "UNION SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src"
    "), cc AS ("
    "SELECT src AS doc_id, least(src, min(dst)) AS label FROM reach GROUP BY src"
    ")"
)

# component members with q42's quality score (shared by q56/q62):
# m = (doc_id, label, quality).
_CLUSTER_QUALITY_CTES = _NEARDUP_CC_CTES + (
    ", qs AS ("
    "SELECT doc_id, round(least(1.0, len(string_split_regex(lower(text), '\\s+')) / 400.0)"
    " * (1.0 - round(len(list_filter(string_split_regex(lower(text), '\\s+'),"
    " x -> x IN ('the','a','of','and','to','in')))"
    " / CAST(greatest(len(string_split_regex(lower(text), '\\s+')), 1) AS DOUBLE), 4)), 4)"
    " AS quality FROM documents"
    "), m AS ("
    "SELECT cc.doc_id, cc.label, qs.quality FROM cc JOIN qs USING (doc_id)"
    ")"
)

# link-extraction CTEs (q64's definition, shared by q65/q92): d = each doc's
# synthetic page_url and anchor html, l = the extracted hrefs, r = (doc_id,
# href, url_canon) with relative hrefs resolved against page_url.
_LINK_CTES = (
    "d AS (SELECT doc_id, 'https://docs.example.com/dir' || CAST(doc_id % 5 AS VARCHAR) "
    "|| '/page' || CAST(doc_id AS VARCHAR) || '.html' AS page_url, "
    "'<a href=\"/hotel/' || CAST(doc_id % 50 AS VARCHAR) || '\">x</a> "
    "<a href=\"p' || CAST(doc_id % 7 AS VARCHAR) || '.html\">y</a> "
    "<a href=\"https://ext.example.com/' || CAST(doc_id % 3 AS VARCHAR) || '\">z</a>' "
    "AS html FROM documents), "
    "l AS (SELECT doc_id, page_url, unnest(regexp_extract_all(html, 'href=\"([^\"]+)\"', 1)) "
    "AS href FROM d), "
    "r AS (SELECT doc_id, href, CASE WHEN href LIKE 'https://%' THEN href "
    "WHEN href LIKE '/%' THEN 'https://docs.example.com' || href "
    "ELSE regexp_replace(page_url, '[^/]*$', '') || href END AS url_canon FROM l)"
)

# shared winnowing-fingerprint CTEs (q38's definition, reused verbatim by
# q74 so the two oracles cannot drift): g = per-position 8-char gram md5s,
# f = distinct window minima per doc
_FP_CTE = (
    "g AS (SELECT doc_id, list_transform(range(1, greatest(length(text)-6, 1)), "
    "i -> md5(substr(text, CAST(i AS BIGINT), 8))) AS hs FROM documents), "
    "f AS (SELECT doc_id, list_distinct(list_transform(range(1, greatest(len(hs)-14, 1)), "
    "j -> list_aggregate(list_slice(hs, j, j+15), 'min'))) AS fps FROM g)"
)

ORACLE = {
    "q30_dedup_exact": (
        "WITH alldocs AS (SELECT doc_id, text FROM documents UNION ALL "
        "SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id % 5 = 0) "
        "SELECT md5(text) AS content_hash, min(doc_id) AS keeper_id, "
        "count(*) AS n_copies FROM alldocs GROUP BY 1"
    ),
    "q31_jaccard_shingles": "WITH " + _SHINGLE_CTES
    + (
        "SELECT doc_a, doc_b, n_shared, "
        "round(CAST(n_shared AS DOUBLE) / (sa.n_sh + sb.n_sh - n_shared), 6) AS jaccard "
        "FROM shr JOIN sizes sa ON sa.doc_id = doc_a JOIN sizes sb ON sb.doc_id = doc_b "
        "WHERE round(CAST(n_shared AS DOUBLE) / (sa.n_sh + sb.n_sh - n_shared), 6) >= 0.5"
    ),
    "q34_ann_cosine": (
        "SELECT q_vec_id, neighbor_id, rk FROM ("
        "SELECT q.vec_id AS q_vec_id, e.vec_id AS neighbor_id, "
        "row_number() OVER (PARTITION BY q.vec_id ORDER BY "
        "list_cosine_similarity(list_transform(q.embedding, x -> CAST(x AS DOUBLE)), "
        "list_transform(e.embedding, x -> CAST(x AS DOUBLE))) DESC, e.vec_id) AS rk "
        "FROM embeddings q, embeddings e "
        "WHERE q.vec_id < 8 AND e.vec_id <> q.vec_id) WHERE rk <= 5"
    ),
    "q35_lang_id": (
        "WITH s AS (SELECT doc_id, string_split_regex(lower(text), '\\s+') AS ws FROM documents), "
        "sc AS (SELECT doc_id, greatest(len(ws), 1) AS nw, "
        "len(list_filter(ws, x -> x IN ('the','a','of','and'))) AS s_en, "
        "len(list_filter(ws, x -> x IN ('table','row','column','query'))) AS s_de, "
        "len(list_filter(ws, x -> x IN ('spark','batch','stream','vector'))) AS s_fr FROM s) "
        "SELECT doc_id, CASE WHEN s_en >= s_de AND s_en >= s_fr THEN 'en' "
        "WHEN s_de >= s_fr THEN 'de' ELSE 'fr' END AS pred_lang, "
        "round(CAST(greatest(s_en, s_de, s_fr) AS DOUBLE) / nw, 4) AS lang_conf FROM sc"
    ),
    "q36_quality_score": (
        "WITH s AS (SELECT doc_id, text, string_split_regex(lower(text), '\\s+') AS ws FROM documents), "
        "m AS (SELECT doc_id, len(ws) AS n_words, "
        "CAST(greatest(len(ws), 1) AS DOUBLE) AS nw, "
        "length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS n_alpha, "
        "len(list_filter(ws, x -> x IN ('the','a','of','and','to','in'))) AS n_stop FROM s) "
        "SELECT doc_id, n_words, round(n_alpha / nw, 4) AS avg_word_len, "
        "round(n_stop / nw, 4) AS stopword_ratio, "
        "round(least(1.0, n_words / 400.0) * (1.0 - round(n_stop / nw, 4)), 4) AS quality FROM m"
    ),
    "q37_token_count": (
        "SELECT doc_id, "
        "CAST(len(string_split_regex(lower(text), '\\s+')) AS BIGINT) AS n_ws_tokens, "
        "CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS BIGINT) AS n_re_tokens "
        "FROM documents"
    ),
    "q38_fingerprint": (
        f"WITH {_FP_CTE} SELECT doc_id, unnest(fps) AS fp FROM f"
    ),
    "q74_fingerprint_overlap": (
        # q38's winnowing-fingerprint CTEs composed with the same max_df cut
        # and shared-key pair aggregation the Spark side uses
        f"WITH {_FP_CTE}, "
        "fp AS (SELECT doc_id, unnest(fps) AS fp FROM f), "
        "sizes AS (SELECT doc_id, count(*) AS n_fp FROM fp GROUP BY 1), "
        "rare AS (SELECT fp FROM (SELECT fp, count(*) AS c FROM fp GROUP BY 1) WHERE c <= 20), "
        "shr AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(count(*) AS BIGINT) AS n_shared "
        "FROM fp a JOIN fp b USING (fp) JOIN rare USING (fp) "
        "WHERE a.doc_id < b.doc_id GROUP BY 1, 2) "
        "SELECT doc_a, doc_b, n_shared, "
        "round(CAST(n_shared AS DOUBLE) / CAST(least(sa.n_fp, sb.n_fp) AS DOUBLE), 6) AS containment "
        "FROM shr JOIN sizes sa ON sa.doc_id = doc_a JOIN sizes sb ON sb.doc_id = doc_b "
        "WHERE n_shared >= 2"
    ),
    "q42_corpus_pipeline": """
WITH q AS (
  SELECT doc_id,
         len(string_split_regex(lower(text), '\\s+')) AS n_words,
         round(least(1.0, len(string_split_regex(lower(text), '\\s+')) / 400.0)
           * (1.0 - round(len(list_filter(string_split_regex(lower(text), '\\s+'),
               x -> x IN ('the','a','of','and','to','in')))
             / CAST(greatest(len(string_split_regex(lower(text), '\\s+')), 1) AS DOUBLE), 4)), 4)
           AS quality
  FROM documents
), good AS (
  SELECT d.doc_id, d.text, q.n_words, q.quality
  FROM documents d JOIN q USING (doc_id) WHERE q.quality >= 0.12
), keepers AS (
  SELECT min(doc_id) AS doc_id FROM good GROUP BY md5(text)
), kept AS (
  SELECT g.* FROM good g JOIN keepers USING (doc_id)
), w AS (
  SELECT doc_id, string_split_regex(lower(text), '\\s+') AS ws FROM kept
), sh0 AS (
  SELECT doc_id, unnest(list_distinct(list_transform(range(1, greatest(len(ws)-1, 1)),
         i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]))) AS sh FROM w
), sizes AS (
  SELECT doc_id, count(*) AS n_sh FROM sh0 GROUP BY 1
), rare AS (
  SELECT sh FROM (SELECT sh, count(*) AS c FROM sh0 GROUP BY 1) WHERE c <= 20
), shr AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared
  FROM sh0 a JOIN sh0 b USING (sh) JOIN rare USING (sh)
  WHERE a.doc_id < b.doc_id GROUP BY 1, 2
), pairs AS (
  SELECT doc_a, doc_b FROM shr
  JOIN sizes sa ON sa.doc_id = doc_a JOIN sizes sb ON sb.doc_id = doc_b
  WHERE round(CAST(n_shared AS DOUBLE) / (sa.n_sh + sb.n_sh - n_shared), 6) >= 0.5
)
SELECT doc_id, n_words, quality FROM kept
WHERE doc_id NOT IN (SELECT doc_b FROM pairs)
""",
    "q45_neardup_components": (
        "WITH RECURSIVE " + _NEARDUP_CC_CTES + " SELECT doc_id, label FROM cc"
    ),
    # same oracle as q34 — the Arrow path must produce identical neighbors
    "q44_ann_cosine_arrow": (
        "SELECT q_vec_id, neighbor_id, rk FROM ("
        "SELECT q.vec_id AS q_vec_id, e.vec_id AS neighbor_id, "
        "row_number() OVER (PARTITION BY q.vec_id ORDER BY "
        "list_cosine_similarity(list_transform(q.embedding, x -> CAST(x AS DOUBLE)), "
        "list_transform(e.embedding, x -> CAST(x AS DOUBLE))) DESC, e.vec_id) AS rk "
        "FROM embeddings q, embeddings e "
        "WHERE q.vec_id < 8 AND e.vec_id <> q.vec_id) WHERE rk <= 5"
    ),
    "q43_vocab_stats": (
        "SELECT word, count(*) AS cf, count(DISTINCT doc_id) AS df FROM ("
        "SELECT doc_id, unnest(string_split_regex(lower(text), '\\s+')) AS word "
        "FROM documents) WHERE word <> '' GROUP BY word"
    ),
    "q46_tfidf": (
        "WITH w AS (SELECT doc_id, unnest(string_split_regex(lower(text), '\\s+')) AS word "
        "FROM documents), w2 AS (SELECT * FROM w WHERE word <> ''), "
        "tf AS (SELECT doc_id, word, count(*) AS tf FROM w2 GROUP BY 1, 2), "
        "dfw AS (SELECT word, count(DISTINCT doc_id) AS df FROM w2 GROUP BY 1), "
        "n AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs FROM documents) "
        "SELECT doc_id, word, tf, round(tf * ln(n_docs / df), 6) AS tfidf "
        "FROM tf JOIN dfw USING (word), n"
    ),
    "q49_stratified_sample": (
        "SELECT doc_id, source, bucket, rate FROM ("
        "SELECT doc_id, source, "
        "CAST((ascii(substr(md5(text), 1, 1)) * 256 + ascii(substr(md5(text), 2, 1))) % 100 AS INTEGER) AS bucket, "
        "CAST(10 + (ascii(substr(source, length(source), 1)) % 5) * 10 AS INTEGER) AS rate "
        "FROM documents) WHERE bucket < rate"
    ),
    "q50_pii_scrub": (
        "WITH t AS (SELECT doc_id, text || ' Contact user' || CAST(doc_id AS VARCHAR) "
        "|| '@ex' || CAST(doc_id % 10 AS VARCHAR) || '.example.com or call 555-0' "
        "|| CAST(doc_id % 100 AS VARCHAR) AS text2 FROM documents) "
        "SELECT doc_id, "
        "CAST(len(regexp_extract_all(text2, '[A-Za-z0-9._]+@[A-Za-z0-9.-]+')) AS INTEGER) AS n_emails, "
        "CAST(len(regexp_extract_all(text2, '[0-9]{3}-[0-9]{1,4}')) AS INTEGER) AS n_phones, "
        "CAST(length(regexp_replace(text2, '([A-Za-z0-9._]+@[A-Za-z0-9.-]+|[0-9]{3}-[0-9]{1,4})', '<PII>', 'g')) AS INTEGER) AS redacted_len "
        "FROM t"
    ),
    "q51_repetition_stats": (
        "WITH g AS (SELECT doc_id, string_split_regex(lower(text), '\\s+') AS ws FROM documents), "
        "h AS (SELECT doc_id, list_transform(range(1, greatest(len(ws), 1)), "
        "i -> ws[i] || ' ' || ws[i+1]) AS grams FROM g) "
        "SELECT doc_id, CAST(len(grams) AS BIGINT) AS n_2grams, "
        "CAST(len(list_distinct(grams)) AS BIGINT) AS n_distinct, "
        "round(1.0 - CAST(len(list_distinct(grams)) AS DOUBLE) / greatest(len(grams), 1), 4) AS dup_2gram_frac "
        "FROM h"
    ),
    "q54_interleaved_flatten": (
        "WITH c AS (SELECT doc_id, text, "
        "greatest(CAST(ceil(length(text)/40.0) AS BIGINT), 1) AS nc FROM documents), "
        "p AS (SELECT doc_id, text, unnest(range(0, nc)) AS i FROM c), "
        "u AS (SELECT doc_id, 3*i AS ord, "
        "substr(text, CAST(i*40+1 AS BIGINT), 40) AS piece, 0 AS is_media FROM p "
        "UNION ALL SELECT doc_id, 3*i+1 AS ord, '<|image|>' AS piece, 1 AS is_media "
        "FROM p WHERE i % 2 = 1) "
        "SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans, "
        "CAST(sum(is_media) AS BIGINT) AS n_media, "
        "string_agg(piece, ' ' ORDER BY ord) AS flat_text, "
        "CAST(length(string_agg(piece, ' ' ORDER BY ord)) AS BIGINT) AS flat_len "
        "FROM u GROUP BY doc_id"
    ),
    "q55_sequence_packing": (
        "WITH t AS (SELECT source, doc_id, "
        "CAST(len(string_split_regex(lower(text), '\\s+')) AS BIGINT) AS n_tokens "
        "FROM documents), "
        "s AS (SELECT source, doc_id, n_tokens, "
        "CAST(sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id) - n_tokens "
        "AS BIGINT) AS st FROM t) "
        "SELECT source, doc_id, n_tokens, "
        "CAST(floor(st / 256.0) AS BIGINT) AS seq_id, "
        "CAST(st % 256 AS BIGINT) AS seq_pos FROM s"
    ),
    "q56_cluster_representatives": "WITH RECURSIVE " + _CLUSTER_QUALITY_CTES
    + (
        ", g AS ("
        "SELECT label, CAST(count(*) AS BIGINT) AS n_members FROM m GROUP BY label"
        "), r AS ("
        "SELECT label, doc_id AS keeper_id, quality AS best_quality, "
        "row_number() OVER (PARTITION BY label ORDER BY quality DESC, doc_id) AS rk FROM m"
        ") SELECT g.label, g.n_members, r.keeper_id, r.best_quality "
        "FROM g JOIN r ON g.label = r.label AND r.rk = 1"
    ),
    "q57_ann_ivf": _ivf_oracle_sql(),
    "q58_frame_sample": (
        "WITH v AS (SELECT doc_id, text FROM documents WHERE doc_id % 3 = 2), "
        "f AS (SELECT doc_id, text, "
        "unnest(range(0, greatest(CAST(ceil(length(text)/256.0) AS BIGINT), 1))) AS fi "
        "FROM v) "
        "SELECT doc_id, CAST(fi AS INTEGER) AS frame_idx, "
        "md5(substr(text, CAST(fi*256+1 AS BIGINT), 256)) AS frame_md5, "
        "CAST(length(substr(text, CAST(fi*256+1 AS BIGINT), 256)) AS INTEGER) AS frame_len "
        "FROM f WHERE fi % 4 = 0"
    ),
    "q59_lang_pivot": (
        "WITH c AS (SELECT source, "
        "CAST(count(*) FILTER (lang = 'de') AS BIGINT) AS n_de, "
        "CAST(count(*) FILTER (lang = 'en') AS BIGINT) AS n_en, "
        "CAST(count(*) FILTER (lang = 'es') AS BIGINT) AS n_es, "
        "CAST(count(*) FILTER (lang = 'fr') AS BIGINT) AS n_fr, "
        "CAST(count(*) FILTER (lang = 'zh') AS BIGINT) AS n_zh, "
        "round(avg(length(text)), 4) AS avg_len "
        "FROM documents GROUP BY source) "
        "SELECT source, n_de, n_en, n_es, n_fr, n_zh, avg_len FROM c"
    ),
    "q60_sql_surface": (
        "SELECT source, CAST(count(*) AS BIGINT) AS n_docs, "
        "CAST(sum(n_chars) AS BIGINT) AS total_chars, "
        "round(avg(n_chars), 4) AS avg_chars, "
        "CAST(max(n_chars) AS BIGINT) AS max_chars "
        "FROM documents WHERE lang IN ('en', 'es') "
        "GROUP BY source HAVING count(*) >= 5"
    ),
    "q61_cdc_chunks": (
        "WITH d AS (SELECT doc_id, text, length(text) AS n FROM documents), "
        "pos AS (SELECT doc_id, text, n, "
        "unnest(range(0, greatest(n - 7, 1))) AS i FROM d), "
        "fl AS (SELECT doc_id, text, n, i FROM pos WHERE i = 0 "
        "OR substr(md5(substr(text, CAST(i + 1 AS BIGINT), 8)), 1, 1) = '0'), "
        "st AS (SELECT doc_id, text, n, i AS cs, "
        "lead(i) OVER (PARTITION BY doc_id ORDER BY i) AS nxt, "
        "row_number() OVER (PARTITION BY doc_id ORDER BY i) - 1 AS ci FROM fl) "
        "SELECT doc_id, CAST(ci AS INTEGER) AS chunk_idx, "
        "CAST(cs AS BIGINT) AS chunk_start, "
        "CAST(coalesce(nxt, n) - cs AS BIGINT) AS chunk_len, "
        "md5(substr(text, CAST(cs + 1 AS BIGINT), CAST(coalesce(nxt, n) - cs AS BIGINT))) AS chunk_md5 "
        "FROM st"
    ),
    "q62_training_batches": "WITH RECURSIVE " + _CLUSTER_QUALITY_CTES
    + (
        ", keepers AS ("
        "SELECT doc_id FROM (SELECT doc_id, "
        "row_number() OVER (PARTITION BY label ORDER BY quality DESC, doc_id) AS rk FROM m) "
        "WHERE rk = 1"
        "), kept AS ("
        "SELECT source, doc_id, text FROM documents WHERE doc_id NOT IN ("
        "SELECT doc_id FROM m WHERE doc_id NOT IN (SELECT doc_id FROM keepers))"
        "), t AS ("
        "SELECT source, doc_id, "
        "CAST(len(string_split_regex(lower(text), '\\s+')) AS BIGINT) AS n_tokens FROM kept"
        "), st AS ("
        "SELECT source, doc_id, n_tokens, "
        "CAST(sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id) - n_tokens "
        "AS BIGINT) AS s0 FROM t) "
        "SELECT source, doc_id, n_tokens, "
        "CAST(floor(s0 / 256.0) AS BIGINT) AS seq_id, "
        "CAST(s0 % 256 AS BIGINT) AS seq_pos FROM st"
    ),
    "q63_chunk_dedup_stats": (
        "WITH d AS (SELECT doc_id, text, length(text) AS n FROM documents), "
        "pos AS (SELECT doc_id, text, n, "
        "unnest(range(0, greatest(n - 7, 1))) AS i FROM d), "
        "fl AS (SELECT doc_id, text, n, i FROM pos WHERE i = 0 "
        "OR substr(md5(substr(text, CAST(i + 1 AS BIGINT), 8)), 1, 1) = '0'), "
        "st AS (SELECT doc_id, text, n, i AS cs, "
        "lead(i) OVER (PARTITION BY doc_id ORDER BY i) AS nxt FROM fl), "
        "ch AS (SELECT doc_id, CAST(cs AS BIGINT) AS cs, "
        "CAST(coalesce(nxt, n) - cs AS BIGINT) AS cl, "
        "md5(substr(text, CAST(cs + 1 AS BIGINT), CAST(coalesce(nxt, n) - cs AS BIGINT))) AS chunk_md5 "
        "FROM st) "
        "SELECT chunk_md5, CAST(count(*) AS BIGINT) AS n_occurrences, "
        "CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs, "
        "min(doc_id) AS keeper_doc, "
        "CAST(min(cs) FILTER (doc_id = (SELECT min(doc_id) FROM ch c2 WHERE c2.chunk_md5 = ch.chunk_md5)) AS BIGINT) AS keeper_start, "
        "CAST(min(cl) AS BIGINT) AS chunk_len "
        "FROM ch GROUP BY chunk_md5 HAVING count(*) > 1"
    ),
    "q64_link_extraction": "WITH " + _LINK_CTES + " SELECT doc_id, href, url_canon FROM r",
    "q65_host_link_graph": "WITH " + _LINK_CTES + (
        " SELECT 'docs.example.com' AS src_host, "
        "regexp_extract(url_canon, '^[A-Za-z][A-Za-z0-9+.\\\\-]*://([^/?#]+)', 1) AS dst_host, "
        "CAST(count(*) AS BIGINT) AS n_links FROM r GROUP BY 1, 2"
    ),
    "q66_grouping_sets": (
        "SELECT source, lang, "
        "CAST(grouping(source) * 2 + grouping(lang) AS INTEGER) AS gid, "
        "CAST(count(*) AS BIGINT) AS n_docs, "
        "CAST(sum(n_chars) AS BIGINT) AS total_chars "
        "FROM documents GROUP BY GROUPING SETS ((source), (lang), ())"
    ),
    "q67_mixture_rebalance": (
        "WITH tot AS (SELECT CAST(count(*) AS DOUBLE) AS n_total FROM documents), "
        "sh AS (SELECT lang, CAST(count(*) AS DOUBLE) AS n_lang FROM documents GROUP BY lang), "
        "rates AS (SELECT lang, CAST(floor(least(1.0, 0.2 / (n_lang / n_total)) * 10000) AS INTEGER) AS rate_bp "
        "FROM sh, tot), "
        "b AS (SELECT doc_id, lang, "
        "CAST((ascii(substr(md5(text), 1, 1)) * 256 + ascii(substr(md5(text), 2, 1))) % 10000 AS INTEGER) AS bucket "
        "FROM documents) "
        "SELECT doc_id, b.lang, bucket, rate_bp FROM b JOIN rates ON rates.lang = b.lang "
        "WHERE bucket < rate_bp"
    ),
    "q68_decontaminate": (
        "WITH w AS (SELECT doc_id, string_split_regex(lower(text), '\\s+') AS ws "
        "FROM documents), "
        "sh0 AS (SELECT doc_id, unnest(list_distinct(list_transform("
        "range(1, greatest(len(ws)-1, 1)), "
        "i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]))) AS sh FROM w), "
        "bench AS (SELECT DISTINCT sh FROM sh0 WHERE doc_id % 50 = 7), "
        "tr AS (SELECT * FROM sh0 WHERE doc_id % 50 <> 7), "
        "sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_sh FROM tr GROUP BY 1), "
        "hits AS (SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_hits "
        "FROM tr t JOIN bench USING (sh) GROUP BY 1) "
        "SELECT h.doc_id, h.n_hits, s.n_sh, "
        "round(CAST(h.n_hits AS DOUBLE) / CAST(s.n_sh AS DOUBLE), 6) AS hit_ratio, "
        "h.n_hits >= 4 AS contaminated "
        "FROM hits h JOIN sizes s USING (doc_id)"
    ),
    # q75: the Spark side hashes shingles with xxhash64 (the scale form);
    # the oracle keeps them as strings — identical hit counts, the same
    # collision-free-at-sf contract q68 already hash-passes on.  Paragraphs
    # are 16-word list_slice windows; string_agg(... ORDER BY para_idx)
    # mirrors the sorted-struct array_join reassembly.
    "q75_decontaminate_spans": (
        "WITH tw AS (SELECT doc_id, string_split_regex(text, '\\s+') AS ws "
        "FROM documents WHERE doc_id % 50 <> 7), "
        "bw AS (SELECT string_split_regex(lower(text), '\\s+') AS ws "
        "FROM documents WHERE doc_id % 50 = 7), "
        "bsh AS (SELECT DISTINCT unnest(list_transform("
        "range(1, greatest(len(ws)-1, 1)), "
        "i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS sh FROM bw), "
        "paras AS (SELECT doc_id, CAST(i - 1 AS INTEGER) AS para_idx, "
        "array_to_string(list_slice(ws, (i-1)*16+1, (i-1)*16+16), ' ') AS para "
        "FROM tw, unnest(range(1, CAST(ceil(len(ws)/16.0) AS BIGINT) + 1)) AS u(i)), "
        "pw AS (SELECT doc_id, para_idx, "
        "string_split_regex(lower(para), '\\s+') AS ws FROM paras), "
        "psh AS (SELECT doc_id, para_idx, unnest(list_distinct(list_transform("
        "range(1, greatest(len(ws)-1, 1)), "
        "i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]))) AS sh FROM pw), "
        "hits AS (SELECT doc_id, para_idx, CAST(count(*) AS BIGINT) AS n_hits "
        "FROM psh JOIN bsh USING (sh) GROUP BY 1, 2), "
        "fl AS (SELECT p.doc_id, p.para_idx, p.para, "
        "coalesce(h.n_hits >= 2, false) AS bad "
        "FROM paras p LEFT JOIN hits h "
        "ON h.doc_id = p.doc_id AND h.para_idx = p.para_idx) "
        "SELECT doc_id, CAST(count(*) AS BIGINT) AS n_paras, "
        "CAST(sum(CASE WHEN bad THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped, "
        "coalesce(string_agg(CASE WHEN NOT bad THEN para END, ' ' "
        "ORDER BY para_idx), '') AS clean_text "
        "FROM fl GROUP BY doc_id"
    ),
    # q79: same fixed-window paragraph CTE as q75; the line key is
    # md5(lower(trim(para))) on BOTH sides (Spark md5 == DuckDB md5), the
    # boilerplate set is the keys seen in >= 2 distinct docs, reassembly is
    # the same string_agg ORDER BY para_idx mirror of the sorted-struct
    # array_join.
    "q79_line_dedup": (
        "WITH tw AS (SELECT doc_id, string_split_regex(text, '\\s+') AS ws "
        "FROM documents), "
        "paras AS (SELECT doc_id, CAST(i - 1 AS INTEGER) AS para_idx, "
        "array_to_string(list_slice(ws, (i-1)*16+1, (i-1)*16+16), ' ') AS para "
        "FROM tw, unnest(range(1, CAST(ceil(len(ws)/16.0) AS BIGINT) + 1)) AS u(i)), "
        "keyed AS (SELECT doc_id, para_idx, para, md5(lower(trim(para))) AS lkey "
        "FROM paras), "
        "boiler AS (SELECT lkey FROM (SELECT lkey, "
        "count(DISTINCT doc_id) AS line_df FROM keyed GROUP BY 1) "
        "WHERE line_df >= 2), "
        "fl AS (SELECT k.doc_id, k.para_idx, k.para, b.lkey IS NOT NULL AS bad "
        "FROM keyed k LEFT JOIN boiler b USING (lkey)) "
        "SELECT doc_id, CAST(count(*) AS BIGINT) AS n_paras, "
        "CAST(sum(CASE WHEN bad THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped, "
        "coalesce(string_agg(CASE WHEN NOT bad THEN para END, ' ' "
        "ORDER BY para_idx), '') AS clean_text "
        "FROM fl GROUP BY doc_id"
    ),
    # q80: the q43/q46 token CTE; constants written as the SAME decimal
    # literals as the Spark side (2.2 / 1.2 / 0.25 / 0.75 — never k1+1 at
    # runtime); per-doc sums are <= 5 terms so round(...,6) is safe under
    # any partial-agg merge order.
    "q80_bm25": (
        "WITH w AS (SELECT doc_id, unnest(string_split_regex(lower(text), '\\s+')) AS word "
        "FROM documents), w2 AS (SELECT * FROM w WHERE word <> ''), "
        "dl AS (SELECT doc_id, count(*) AS dl FROM w2 GROUP BY 1), "
        "s AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs, avg(dl) AS avgdl FROM dl), "
        "qt AS (SELECT * FROM w2 WHERE word IN "
        "('spark', 'join', 'window', 'stream', 'dup')), "
        "tf AS (SELECT doc_id, word, count(*) AS tf FROM qt GROUP BY 1, 2), "
        "dfw AS (SELECT word, count(DISTINCT doc_id) AS df FROM qt GROUP BY 1) "
        "SELECT doc_id, count(*) AS n_terms, "
        "round(sum(ln(1 + (n_docs - df + 0.5) / (df + 0.5)) "
        "* (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))), 6) AS bm25 "
        "FROM tf JOIN dfw USING (word) JOIN dl USING (doc_id), s "
        "GROUP BY doc_id"
    ),
    # q83: q68's shingle CTE + a df table join; ratio CAST to DOUBLE on
    # both operands (DuckDB sum()->HUGEINT trap).  Spark hashes shingles,
    # the oracle keeps strings — counts, same collision-free contract.
    "q83_novelty_scores": (
        "WITH w AS (SELECT doc_id, string_split_regex(lower(text), '\\s+') AS ws "
        "FROM documents), "
        "sh0 AS (SELECT doc_id, unnest(list_distinct(list_transform("
        "range(1, greatest(len(ws)-1, 1)), "
        "i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]))) AS sh FROM w), "
        "dfs AS (SELECT sh, count(*) AS df FROM sh0 GROUP BY 1) "
        "SELECT doc_id, CAST(count(*) AS BIGINT) AS n_sh, "
        "CAST(sum(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_novel, "
        "round(CAST(sum(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS DOUBLE) "
        "/ CAST(count(*) AS DOUBLE), 6) AS novelty "
        "FROM sh0 JOIN dfs USING (sh) GROUP BY doc_id"
    ),
    # q82: q68's shingle CTE with bench doc ids KEPT; Spark hashes shingles
    # (xxhash64), the oracle keeps strings — outputs are COUNTS, identical
    # under the collision-free-at-sf contract q68 already hash-passes on.
    # sum(BIGINT) CAST per the DuckDB HUGEINT trap.
    "q82_contamination_report": (
        "WITH w AS (SELECT doc_id, string_split_regex(lower(text), '\\s+') AS ws "
        "FROM documents), "
        "sh0 AS (SELECT doc_id, unnest(list_distinct(list_transform("
        "range(1, greatest(len(ws)-1, 1)), "
        "i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]))) AS sh FROM w), "
        "bench AS (SELECT doc_id AS bench_id, sh FROM sh0 WHERE doc_id % 50 = 7), "
        "tr AS (SELECT doc_id AS train_id, sh FROM sh0 WHERE doc_id % 50 <> 7), "
        "pp AS (SELECT bench_id, train_id, CAST(count(*) AS BIGINT) AS n_hits "
        "FROM tr JOIN bench USING (sh) GROUP BY 1, 2) "
        "SELECT bench_id, CAST(count(*) AS BIGINT) AS n_train_docs_hit, "
        "CAST(sum(CASE WHEN n_hits >= 4 THEN 1 ELSE 0 END) AS BIGINT) AS n_contaminating, "
        "CAST(sum(n_hits) AS BIGINT) AS total_hits, "
        "max(n_hits) AS max_hits "
        "FROM pp GROUP BY bench_id"
    ),
    # q81: the same deterministic fetch-log synthesis (integer-derived
    # hosts/urls + md5 content keys); is_trap compares the ROUNDED ratio on
    # both sides so the flag can never disagree with the printed ratio.
    "q81_crawl_traps": (
        "WITH f AS (SELECT doc_id, "
        "'h' || CAST(doc_id % 20 AS VARCHAR) || '.example.com' AS host, "
        "doc_id % 20 < 4 AS trapish, md5(text) AS content_key, i "
        "FROM documents, unnest([0, 1, 2]) AS u(i)), "
        "log AS (SELECT host, 'https://' || host || '/doc' || CAST(doc_id AS VARCHAR) || "
        "CASE WHEN trapish THEN '?session=' || CAST(doc_id * 3 + i AS VARCHAR) "
        "ELSE '' END AS url, content_key FROM f) "
        "SELECT host, count(*) AS n_fetches, count(DISTINCT url) AS n_urls, "
        "count(DISTINCT content_key) AS n_content, "
        "round(count(DISTINCT url) / count(DISTINCT content_key), 6) AS url_per_content, "
        "round(count(DISTINCT url) / count(DISTINCT content_key), 6) >= 2.5 AS is_trap "
        "FROM log GROUP BY host"
    ),
    "q69_leakage_free_split": "WITH RECURSIVE " + _NEARDUP_CC_CTES
    + (
        ", lab AS ("
        "SELECT d.doc_id, coalesce(cc.label, d.doc_id) AS label "
        "FROM documents d LEFT JOIN cc ON cc.doc_id = d.doc_id) "
        "SELECT doc_id, label, CASE WHEN "
        "(ascii(substr(md5(CAST(label AS VARCHAR)), 1, 1)) * 256 + "
        "ascii(substr(md5(CAST(label AS VARCHAR)), 2, 1))) % 10000 < 9000 "
        "THEN 'train' ELSE 'val' END AS split FROM lab"
    ),
    "q70_unigram_logprob": (
        "WITH words AS (SELECT doc_id, w FROM (SELECT doc_id, "
        "unnest(string_split_regex(lower(text), '\\s+')) AS w FROM documents) "
        "WHERE w <> ''), "
        "cf AS (SELECT w, CAST(count(*) AS BIGINT) AS cf FROM words GROUP BY w), "
        "tot AS (SELECT CAST(CAST(sum(cf) AS BIGINT) AS DOUBLE) AS n_total FROM cf), "
        "lp AS (SELECT doc_id, CAST(floor(round(ln(CAST(cf AS DOUBLE)), 6) "
        "* 1000000.0 + 0.5) AS BIGINT) AS lp FROM words JOIN cf USING (w)), "
        "per_doc AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words, "
        "CAST(sum(lp) AS BIGINT) AS s FROM lp GROUP BY doc_id) "
        "SELECT doc_id, n_words, "
        "round(CAST(s AS DOUBLE) / CAST(n_words AS DOUBLE) / 1000000.0 "
        "- round(ln(n_total), 6), 6) AS mean_logprob "
        "FROM per_doc, tot"
    ),
    "q71_host_pagerank": (
        "WITH e0 AS (SELECT 'h' || CAST(doc_id % 20 AS VARCHAR) AS src, "
        "'h' || CAST((doc_id * 7 + k) % 20 AS VARCHAR) AS dst "
        "FROM documents, unnest([1, 2, 3]) AS t(k)), "
        "e AS (SELECT DISTINCT src, dst FROM e0 WHERE src <> dst), "
        "nodes AS (SELECT src AS host FROM e UNION SELECT dst FROM e), "
        "n AS (SELECT CAST(count(*) AS DOUBLE) AS n_nodes FROM nodes), "
        "outdeg AS (SELECT src, CAST(count(*) AS BIGINT) AS outdeg FROM e GROUP BY 1), "
        "r0 AS (SELECT host, round(1.0 / n_nodes, 9) AS rank FROM nodes, n), "
        "s1 AS (SELECT e.dst AS host, CAST(sum(CAST(floor((r.rank / CAST(o.outdeg AS DOUBLE)) "
        "* 1000000000.0 + 0.5) AS BIGINT)) AS BIGINT) AS s "
        "FROM e JOIN outdeg o ON o.src = e.src JOIN r0 r ON r.host = e.src GROUP BY 1), "
        "r1 AS (SELECT nd.host, round(0.15 / n.n_nodes + 0.85 * "
        "(CAST(coalesce(s1.s, 0) AS DOUBLE) / 1000000000.0), 9) AS rank "
        "FROM nodes nd LEFT JOIN s1 ON s1.host = nd.host, n), "
        "s2 AS (SELECT e.dst AS host, CAST(sum(CAST(floor((r.rank / CAST(o.outdeg AS DOUBLE)) "
        "* 1000000000.0 + 0.5) AS BIGINT)) AS BIGINT) AS s "
        "FROM e JOIN outdeg o ON o.src = e.src JOIN r1 r ON r.host = e.src GROUP BY 1), "
        "r2 AS (SELECT nd.host, round(0.15 / n.n_nodes + 0.85 * "
        "(CAST(coalesce(s2.s, 0) AS DOUBLE) / 1000000000.0), 9) AS rank "
        "FROM nodes nd LEFT JOIN s2 ON s2.host = nd.host, n) "
        "SELECT host, rank FROM r2"
    ),
    "q72_revisit_priority": (
        "WITH obs AS (SELECT user_id, epoch_us(ts) AS ts_us, value AS v, "
        "lag(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev "
        "FROM events), "
        "per AS (SELECT user_id, CAST(count(prev) AS BIGINT) AS n_intervals, "
        "CAST(sum(CASE WHEN prev IS NOT NULL AND v <> prev THEN 1 ELSE 0 END) AS BIGINT) "
        "AS n_changes, CAST(max(ts_us) AS BIGINT) AS last_us FROM obs GROUP BY user_id), "
        "now_t AS (SELECT CAST(max(epoch_us(ts)) AS BIGINT) AS now_us FROM events) "
        "SELECT user_id, n_intervals, n_changes, "
        "round(CAST(n_changes AS DOUBLE) / CAST(greatest(n_intervals, 1) AS DOUBLE), 6) "
        "AS change_rate, "
        "round(CAST(now_us - last_us AS DOUBLE) / 3600000000.0, 6) AS staleness_hours, "
        "round(round(CAST(n_changes AS DOUBLE) / CAST(greatest(n_intervals, 1) AS DOUBLE), 6) "
        "* round(CAST(now_us - last_us AS DOUBLE) / 3600000000.0, 6), 6) "
        "AS revisit_priority "
        "FROM per, now_t"
    ),
    "q40_embedding_neardup": (
        "SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, "
        "round(list_cosine_similarity(list_transform(a.embedding, x -> CAST(x AS DOUBLE)), "
        "list_transform(b.embedding, x -> CAST(x AS DOUBLE))), 4) AS cos "
        "FROM embeddings a, embeddings b WHERE a.vec_id < b.vec_id "
        "AND round(list_cosine_similarity(list_transform(a.embedding, x -> CAST(x AS DOUBLE)), "
        "list_transform(b.embedding, x -> CAST(x AS DOUBLE))), 4) >= 0.35"
    ),
}

ORACLE["q77_minhash_lsh_md5"] = _minhash_md5_oracle_sql()
ORACLE["q78_simhash_md5"] = _simhash_md5_oracle_sql()

# q92: bibliographic coupling — composes q64's link CTEs (_LINK_CTES, the
# q38/q74 shared-CTE discipline) + distinct non-NULL edges, the max_df=20
# stop-key cut, and the shared-key pair agg with link-set Jaccard.
_Q92_TAIL = (
    ", l1 AS (SELECT DISTINCT doc_id, url_canon AS sh FROM r "
    "WHERE url_canon IS NOT NULL), "
    "sizes AS (SELECT doc_id, count(*) AS n_sh FROM l1 GROUP BY doc_id), "
    "keep AS (SELECT sh FROM (SELECT sh, count(*) AS c FROM l1 GROUP BY sh) "
    "WHERE c <= 20), "
    "shr AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, "
    "count(*) AS n_shared FROM l1 a JOIN l1 b USING (sh) JOIN keep USING (sh) "
    "WHERE a.doc_id < b.doc_id GROUP BY 1, 2) "
    "SELECT doc_a, doc_b, CAST(sa.n_sh AS BIGINT) AS n_a, "
    "CAST(sb.n_sh AS BIGINT) AS n_b, CAST(n_shared AS BIGINT) AS n_shared, "
    "round(CAST(n_shared AS DOUBLE) "
    "/ CAST(sa.n_sh + sb.n_sh - n_shared AS DOUBLE), 4) AS link_jaccard "
    "FROM shr JOIN sizes sa ON sa.doc_id = shr.doc_a "
    "JOIN sizes sb ON sb.doc_id = shr.doc_b WHERE n_shared >= 2"
)
ORACLE["q92_link_coupling"] = "WITH " + _LINK_CTES + _Q92_TAIL


def _semdedup_oracle_sql(threshold: float = 0.35) -> str:
    """DuckDB mirror of q84: the SAME trained-codebook CTEs as q57
    (_ivf_train_asg_parts — codebook parity proven there), then all
    within-cluster pairs with round(cos,4) >= threshold and the greedy
    keep-lowest drop (q42's convention: every HIGHER id of a hit pair is
    dropped)."""
    parts = _ivf_train_asg_parts()
    parts.append(
        "pr AS (SELECT a.vid AS vec_a, b.vid AS vec_b, "
        "round(list_cosine_similarity(va.v, vb.v), 4) AS cos "
        "FROM asg a JOIN asg b ON a.cid = b.cid AND a.vid < b.vid "
        "JOIN v va ON va.vid = a.vid JOIN v vb ON vb.vid = b.vid), "
        f"dropped AS (SELECT DISTINCT vec_b FROM pr WHERE cos >= {threshold}) "
        "SELECT a.vid AS vec_id, a.cid AS cluster_id, (d.vec_b IS NULL) AS kept "
        "FROM asg a LEFT JOIN dropped d ON d.vec_b = a.vid"
    )
    return "".join(parts)


ORACLE["q84_semdedup"] = _semdedup_oracle_sql()


def _gopher_rules_oracle_sql() -> str:
    """DuckDB mirror of q85: same whole-text regex counts (regexp_extract_all
    lengths vs Spark's regexp_count — both non-overlapping left-to-right
    scans), same greatest(n,1) denominators, same round(·,4); the stopword
    literal list is built from textproc.GOPHER_STOPWORDS so it cannot
    drift."""
    from crawlspark.textproc import GOPHER_STOPWORDS

    stops = ", ".join(f"'{s}'" for s in GOPHER_STOPWORDS)
    nw = "CAST(greatest(len(ws), 1) AS DOUBLE)"
    return (
        "WITH w AS (SELECT doc_id, lower(text) AS t, "
        "list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') "
        "AS ws FROM documents), "
        "s AS (SELECT doc_id, len(ws) AS n_words, "
        "round(CAST(length(regexp_replace(t, '\\s+', '', 'g')) AS DOUBLE) "
        f"/ {nw}, 4) AS mean_word_len, "
        "round(CAST(len(regexp_extract_all(t, '#')) "
        "+ len(regexp_extract_all(t, '\\.\\.\\.')) "
        f"+ len(regexp_extract_all(t, '…')) AS DOUBLE) / {nw}, 4) "
        "AS symbol_ratio, "
        "round(CAST(len(regexp_extract_all(' ' || t, '\\s[^\\s]*[a-z]')) "
        f"AS DOUBLE) / {nw}, 4) AS frac_alpha_words, "
        "len(list_distinct(list_intersect(list_distinct(ws), "
        f"[{stops}]))) AS n_stop_distinct FROM w) "
        "SELECT doc_id, n_words, mean_word_len, symbol_ratio, "
        "frac_alpha_words, n_stop_distinct, "
        "(n_words >= 50 AND n_words <= 100000) AS ok_word_count, "
        "(mean_word_len >= 3.0 AND mean_word_len <= 10.0) AS ok_mean_word_len, "
        "(symbol_ratio <= 0.1) AS ok_symbol_ratio, "
        "(frac_alpha_words >= 0.8) AS ok_alpha_words, "
        "(n_stop_distinct >= 2) AS ok_stopwords, "
        "((n_words >= 50 AND n_words <= 100000) "
        "AND (mean_word_len >= 3.0 AND mean_word_len <= 10.0) "
        "AND symbol_ratio <= 0.1 AND frac_alpha_words >= 0.8 "
        "AND n_stop_distinct >= 2) AS passes FROM s"
    )


ORACLE["q85_gopher_rules"] = _gopher_rules_oracle_sql()

# q91: strictly-ordered funnel.  Per-stage min-ts chaining; only counts
# cross the engine boundary (no timestamp columns in the output).
ORACLE["q91_funnel"] = (
    "WITH v AS (SELECT user_id, min(ts) AS t1 FROM events "
    "WHERE event_type = 'view' GROUP BY user_id), "
    "c AS (SELECT e.user_id, min(ts) AS t2 FROM events e JOIN v USING (user_id) "
    "WHERE e.event_type = 'click' AND e.ts > v.t1 GROUP BY e.user_id), "
    "p AS (SELECT e.user_id, min(ts) AS t3 FROM events e JOIN c USING (user_id) "
    "WHERE e.event_type = 'purchase' AND e.ts > c.t2 GROUP BY e.user_id), "
    "s AS (SELECT '1_view' AS stage, count(*) AS n_users FROM v "
    "UNION ALL SELECT '2_click', count(*) FROM c "
    "UNION ALL SELECT '3_purchase', count(*) FROM p), "
    "base AS (SELECT count(*) AS n1 FROM v) "
    "SELECT stage, CAST(n_users AS BIGINT) AS n_users, "
    "round(CAST(n_users AS DOUBLE) / CAST(n1 AS DOUBLE), 4) AS conversion "
    "FROM s, base"
)

# q90: weekly cohort retention.  Monday week truncation on both engines;
# age division exact (multiples of 7, CAST-direction-proof); first_value
# window default frame = unbounded preceding..current row on both sides.
ORACLE["q90_retention_cohorts"] = (
    "WITH e AS (SELECT user_id, CAST(date_trunc('week', ts) AS DATE) AS wk "
    "FROM events), "
    "u AS (SELECT user_id, min(wk) AS cohort FROM e GROUP BY user_id), "
    "act AS (SELECT e.user_id, cohort, "
    "CAST(date_diff('day', cohort, wk) / 7 AS BIGINT) AS age_weeks "
    "FROM e JOIN u USING (user_id)), "
    "agg AS (SELECT cohort, age_weeks, "
    "CAST(count(DISTINCT user_id) AS BIGINT) AS n_users "
    "FROM act GROUP BY cohort, age_weeks) "
    "SELECT strftime(cohort, '%Y-%m-%d') AS cohort_week, age_weeks, n_users, "
    "round(CAST(n_users AS DOUBLE) / CAST(first_value(n_users) OVER "
    "(PARTITION BY cohort ORDER BY age_weeks) AS DOUBLE), 4) AS retention "
    "FROM agg"
)

# q89: ExactSubstr excision — q88's span CTEs + content-key keeper
# (lexicographically least (doc_id, s, e) per md5'd span content), DISTINCT
# excised positions, string_agg ORDER BY pos reassembly; every doc appears
# (span-free verbatim modulo whitespace normalization, fully-excised -> '').
ORACLE["q89_excise_duplicate_spans"] = (
    "WITH w AS (SELECT doc_id, "
    "list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') AS ws "
    "FROM documents), "
    "p AS (SELECT doc_id, ws, "
    "unnest(range(1, greatest(len(ws) - 4, 0) + 1)) AS pos FROM w), "
    "g AS (SELECT doc_id, pos, "
    "md5(array_to_string(ws[pos:pos+4], ' ')) AS gh FROM p), "
    "dup AS (SELECT gh FROM g GROUP BY gh HAVING count(*) > 1), "
    "h AS (SELECT doc_id, pos FROM g JOIN dup USING (gh)), "
    "isl AS (SELECT doc_id, pos, pos - row_number() OVER "
    "(PARTITION BY doc_id ORDER BY pos) AS grp FROM h), "
    "spans AS (SELECT doc_id, min(pos) AS s, max(pos) + 4 AS e "
    "FROM isl GROUP BY doc_id, grp), "
    "ck AS (SELECT spans.doc_id, s, e, "
    "md5(array_to_string(w.ws[s:e], ' ')) AS ckey "
    "FROM spans JOIN w ON w.doc_id = spans.doc_id), "
    "exc AS (SELECT doc_id, s, e FROM (SELECT doc_id, s, e, "
    "row_number() OVER (PARTITION BY ckey ORDER BY doc_id, s, e) AS rn "
    "FROM ck) WHERE rn > 1), "
    # reassembly uses the ORIGINAL-CASE words (identical positions:
    # lowercasing never touches whitespace)
    "wr AS (SELECT doc_id, "
    "list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS ws "
    "FROM documents), "
    "word AS (SELECT doc_id, unnest(range(1, len(ws) + 1)) AS pos, ws FROM wr), "
    "word2 AS (SELECT doc_id, pos, ws[pos] AS wd FROM word), "
    "drp AS (SELECT DISTINCT word2.doc_id, word2.pos FROM word2 "
    "JOIN exc ON word2.doc_id = exc.doc_id "
    "AND word2.pos >= exc.s AND word2.pos <= exc.e), "
    "kept AS (SELECT word2.doc_id, word2.pos, word2.wd FROM word2 "
    "ANTI JOIN drp ON word2.doc_id = drp.doc_id AND word2.pos = drp.pos), "
    "agg AS (SELECT doc_id, string_agg(wd, ' ' ORDER BY pos) AS clean_text, "
    "count(*) AS n_words_kept FROM kept GROUP BY doc_id) "
    "SELECT w.doc_id, coalesce(a.clean_text, '') AS clean_text, "
    "CAST(coalesce(a.n_words_kept, 0) AS BIGINT) AS n_words_kept, "
    "CAST(len(w.ws) - coalesce(a.n_words_kept, 0) AS BIGINT) "
    "AS n_words_excised "
    "FROM w LEFT JOIN agg a ON a.doc_id = w.doc_id"
)

# q88: exact duplicate-substring spans (n=5).  The gram is the md5 of the
# space-joined 5 words (hash_fn="md5" oracle form; the xxh n-ary scale twin
# is span-equal, equality-tested); positions are 1-based over the
# empty-filtered word sequence on both sides.
ORACLE["q88_duplicate_spans"] = (
    "WITH w AS (SELECT doc_id, "
    "list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') AS ws "
    "FROM documents), "
    "p AS (SELECT doc_id, ws, "
    "unnest(range(1, greatest(len(ws) - 4, 0) + 1)) AS pos FROM w), "
    "g AS (SELECT doc_id, pos, "
    "md5(array_to_string(ws[pos:pos+4], ' ')) AS gh FROM p), "
    "dup AS (SELECT gh FROM g GROUP BY gh HAVING count(*) > 1), "
    "h AS (SELECT doc_id, pos FROM g JOIN dup USING (gh)), "
    "isl AS (SELECT doc_id, pos, pos - row_number() OVER "
    "(PARTITION BY doc_id ORDER BY pos) AS grp FROM h) "
    "SELECT doc_id, CAST(min(pos) AS BIGINT) AS span_start, "
    "CAST(max(pos) + 4 AS BIGINT) AS span_end, "
    "count(*) AS n_grams FROM isl GROUP BY doc_id, grp"
)

# q87: embedding-space decontamination.  Same list_cosine_similarity /
# round(·,4) parity contract as q40; the bench slice is vec_id % 25 == 3.
ORACLE["q87_embedding_decontaminate"] = (
    "WITH v AS (SELECT vec_id AS vid, "
    "list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v "
    "FROM embeddings WHERE vec_id % 25 <> 3), "
    "b AS (SELECT vec_id AS bid, "
    "list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v "
    "FROM embeddings WHERE vec_id % 25 = 3), "
    "hits AS (SELECT v.vid, b.bid FROM v, b "
    "WHERE round(list_cosine_similarity(v.v, b.v), 4) >= 0.35), "
    "agg AS (SELECT vid, count(*) AS n FROM hits GROUP BY vid) "
    "SELECT v.vid AS vec_id, "
    "CAST(coalesce(a.n, 0) AS BIGINT) AS n_bench_hits, "
    "(a.n IS NOT NULL) AS contaminated "
    "FROM v LEFT JOIN agg a USING (vid)"
)

# q86: multinomial-NB quality classifier.  Same fixed-point-log discipline
# as q70 (round(ln,6) -> floor(x*1e6+0.5) BIGINT sums, scalars folded in at
# the end), CASE sums CAST to BIGINT (DuckDB's sum(BIGINT) is HUGEINT).
ORACLE["q86_nb_quality"] = (
    "WITH lab AS (SELECT doc_id, CASE WHEN "
    "CAST(regexp_extract(source, '([0-9]+)', 1) AS INTEGER) % 2 = 0 "
    "THEN 1 ELSE 0 END AS label FROM documents), "
    "w0 AS (SELECT d.doc_id, l.label AS lab, "
    "unnest(string_split_regex(lower(d.text), '\\s+')) AS w "
    "FROM documents d JOIN lab l USING (doc_id)), "
    "w2 AS (SELECT * FROM w0 WHERE w <> ''), "
    "vocab AS (SELECT w, "
    "CAST(sum(CASE WHEN lab = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1, "
    "CAST(sum(CASE WHEN lab = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0 "
    "FROM w2 GROUP BY w), "
    "scal AS (SELECT CAST(sum(n1) AS BIGINT) AS t1, "
    "CAST(sum(n0) AS BIGINT) AS t0, count(*) AS v FROM vocab), "
    "pri AS (SELECT "
    "CAST(sum(CASE WHEN label = 1 THEN 1 ELSE 0 END) AS BIGINT) AS d1, "
    "CAST(sum(CASE WHEN label = 0 THEN 1 ELSE 0 END) AS BIGINT) AS d0 "
    "FROM lab), "
    "lo AS (SELECT w, "
    "CAST(floor(round(ln(CAST(n1 + 1 AS DOUBLE) / CAST(t1 + v AS DOUBLE)), 6) "
    "* 1000000.0 + 0.5) AS BIGINT) "
    "- CAST(floor(round(ln(CAST(n0 + 1 AS DOUBLE) / CAST(t0 + v AS DOUBLE)), 6) "
    "* 1000000.0 + 0.5) AS BIGINT) AS lo_fp FROM vocab, scal), "
    "per_doc AS (SELECT doc_id, count(*) AS n_words, "
    "CAST(sum(lo_fp) AS BIGINT) AS s FROM w2 JOIN lo USING (w) "
    "GROUP BY doc_id) "
    "SELECT doc_id, n_words, "
    "round(CAST(s AS DOUBLE) / 1000000.0 "
    "+ round(ln(CAST(d1 AS DOUBLE)), 6) - round(ln(CAST(d0 AS DOUBLE)), 6), 6) "
    "AS nb_score, "
    "(CAST(s AS DOUBLE) / 1000000.0 "
    "+ round(ln(CAST(d1 AS DOUBLE)), 6) - round(ln(CAST(d0 AS DOUBLE)), 6)) > 0 "
    "AS is_quality FROM per_doc, pri"
)
