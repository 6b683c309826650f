"""Deduplication operators for a training-data pipeline over ``documents``:
exact (content-hash groupBy), word-shingle Jaccard, MinHash+LSH, SimHash, and
embedding-cosine near-dup.

Design for 100 TB:
- candidate generation is always *bucketed* (shared shingle / LSH band /
  simhash band / hyperplane bucket) so the pair join is an equi join on a
  bucket key, never an O(n²) cross join;
- hot buckets are capped (``max_df`` stop-shingle cut, the standard trick)
  so one viral shingle can't create a quadratic bucket — the cap is part of
  the operator contract and mirrored in the oracle SQL;
- sketches (minhash mins, simhash bit-sums) are plain aggregations with
  map-side partial combine; signatures stay as N columns, not exploded rows.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from crawlspark import simsearch, textproc
from crawlspark.session import map_batches


def _capped_bucket_rows(exploded: DataFrame, key_cols, max_bucket: int):
    """Shared hot-bucket cut: window-count rows per bucket key on the same
    exchange the downstream consumer needs, drop buckets above
    ``max_bucket``."""
    counted = exploded.withColumn(
        "bucket_n", F.count("*").over(Window.partitionBy(*key_cols))
    )
    return counted.filter(F.col("bucket_n") <= max_bucket)


def bucket_cap_stats(exploded: DataFrame, key_cols, max_bucket: int) -> DataFrame:
    """NO SILENT CAPS (ADVICE r3): the observability twin of every capped
    candidate generator.  One row — (n_rows, rows_dropped, buckets_dropped,
    max_bucket_n) — telling a caller whether the hot-bucket cap actually bit,
    so 'no near-dups there' is distinguishable from 'the cap dropped them'.
    rows_dropped > 0 on a corpus that was NOT exact-deduped first is the
    operator-contract violation signal.

    A separate lazily-priced DataFrame rather than an in-flight
    ``Observation``: Spark's CollectMetrics node comes back EMPTY when the
    observed subtree feeds this family's explode-of-nested-HOF plans
    (measured on 4.1: ``Observation.getRow`` returns a 0-field row), so the
    honest interface is an explicit diagnostics query.  Shape: ONE
    map-side-combined groupBy over the bucket keys + a 1-row agg — a viral
    bucket's count is sharded across input partitions (partial aggregation),
    so the diagnostics path is itself skew-proof."""
    per_bucket = exploded.groupBy(*key_cols).agg(F.count("*").alias("bucket_n"))
    over = F.col("bucket_n") > max_bucket
    return per_bucket.agg(
        F.coalesce(F.sum("bucket_n"), F.lit(0)).cast("long").alias("n_rows"),
        F.coalesce(
            F.sum(F.when(over, F.col("bucket_n")).otherwise(F.lit(0))), F.lit(0)
        ).cast("long").alias("rows_dropped"),
        F.coalesce(
            F.sum(F.when(over, F.lit(1)).otherwise(F.lit(0))), F.lit(0)
        ).cast("long").alias("buckets_dropped"),
        F.coalesce(F.max("bucket_n"), F.lit(0)).cast("long").alias("max_bucket_n"),
    )


def exact_groups(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Exact dedup: md5 content hash -> (content_hash, keeper_id, n_copies).
    One hash-shuffle on the 128-bit content hash."""
    return (
        df.withColumn("content_hash", F.md5(F.col(text_col)))
        .groupBy("content_hash")
        .agg(F.min("doc_id").alias("keeper_id"), F.count("*").alias("n_copies"))
    )


def word_shingles(df: DataFrame, text_col: str = "text", n: int = 3) -> DataFrame:
    """Distinct n-word shingles per doc: (doc_id, sh)."""
    w = F.split(F.lower(F.col(text_col)), r"\s+")
    idx = textproc.seq1(F.size(w) - F.lit(n - 1))
    sh = F.transform(
        idx,
        lambda i: F.concat_ws(
            " ", *[F.element_at(w, (i + j).cast("int")) for j in range(n)]
        ),
    )
    return df.select("doc_id", F.explode(F.array_distinct(sh)).alias("sh"))


def shingle_hashes(df: DataFrame, text_col: str = "text", n: int = 3) -> DataFrame:
    """Distinct 64-bit n-word shingle hashes per doc: (doc_id, sh long).

    posexplode the words, window-lead the next n-1 words, n-ary xxhash64 —
    every operator whole-stage-codegens (measured ~10× faster than the
    equivalent higher-order ``transform`` + ``element_at`` formulation,
    which Catalyst evaluates INTERPRETED per array element), and no concat
    string is ever materialized.  Costs one (doc_id)-shuffle for the window
    plus the (doc_id, sh)-dedup exchange; both are shingle-scale narrow rows."""
    words = df.select(
        "doc_id",
        F.posexplode(F.split(F.lower(F.col(text_col)), r"\s+")).alias("pos", "w0"),
    )
    win = Window.partitionBy("doc_id").orderBy("pos")
    cur = words
    cols = [F.col("w0")]
    for j in range(1, n):
        cur = cur.withColumn(f"w{j}", F.lead("w0", j).over(win))
        cols.append(F.col(f"w{j}"))
    return (
        cur.filter(F.col(f"w{n-1}").isNotNull())
        .select("doc_id", F.xxhash64(*cols).alias("sh"))
        .dropDuplicates(["doc_id", "sh"])
    )


def _shared_key_pairs(sized: DataFrame, max_df: int) -> DataFrame:
    """Candidate pairs by shared key WITHOUT a self-join — the single-pass
    core of jaccard_pairs and fingerprint_overlap_pairs.  Input columns are
    exactly (doc_id, sh, n_sh): distinct key rows per doc plus the per-doc
    key-set size.  Group each key's (<= max_df, sorted) doc list once,
    expand the C(df,2) ordered pairs locally with bounded higher-order
    functions (one shuffle on sh instead of a two-sided join shuffle; the
    stop-key cut falls out of the same pass), then count shared keys per
    pair.  Returns (doc_a, doc_b, n_a, n_b, n_shared) with doc_a < doc_b.

    HOT-KEY SAFETY: the max_df cut runs BEFORE any doc list is collected —
    see jaccard_pairs for the full contract, the hot-key straggler bound,
    and the plan assertions."""
    counted = sized.withColumn(
        "df_sh", F.count("*").over(Window.partitionBy("sh"))
    )
    doclists = (
        counted.filter(F.col("df_sh") <= max_df)
        .groupBy("sh")
        .agg(F.collect_set(F.struct("doc_id", "n_sh")).alias("ds"))
        .select(F.array_sort("ds").alias("ds"))
    )
    pair_arr = F.flatten(
        F.transform(
            F.col("ds"),
            lambda x, i: F.transform(
                F.slice(F.col("ds"), i + 2, max_df),
                lambda y: F.struct(
                    x["doc_id"].alias("doc_a"),
                    y["doc_id"].alias("doc_b"),
                    x["n_sh"].alias("n_a"),
                    y["n_sh"].alias("n_b"),
                ),
            ),
        )
    )
    return (
        doclists.select(F.explode(pair_arr).alias("p"))
        .groupBy("p.doc_a", "p.doc_b", "p.n_a", "p.n_b")
        .agg(F.count("*").alias("n_shared"))
    )


def jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    n: int = 3,
    max_df: int = 20,
    threshold: float = 0.5,
) -> DataFrame:
    """n-gram Jaccard near-dup pairs via shared-shingle candidate join.

    Shingles appearing in more than ``max_df`` docs are dropped from pairing
    (stop-shingle cut: bounds any bucket to max_df², keeping the join linear
    in data size); set sizes use ALL shingles, so the estimate is
    conservative.  jaccard = |shared| / (|A| + |B| - |shared|).

    The per-shingle document frequency is ``count(*) over (partition by
    sh)`` on the same hash(sh) exchange the doclist aggregation needs — the
    single-pass shape (1 scan / 3 exchanges / 0 joins, plan-asserted).
    CONTRACT: a viral shingle's rows all land in ONE window task; WindowExec
    sorts through a spillable external sorter, so this is a bounded
    linear-work STRAGGLER, never an OOM — measured on a synthetic
    million-occurrence shingle (BENCH/BASELINE.md §6e), where it ran ~15%
    faster than a sharded groupBy+join count.

    NO SILENT CAPS: ``jaccard_stop_shingle_stats`` (same df/n/max_df)
    reports how many shingle rows and distinct shingles the max_df cut
    dropped, and the hottest document frequency seen."""
    # 8-byte shingle keys everywhere (see shingle_hashes); a collision would
    # merge two shingles — P ~ n²/2^65, negligible and deterministic.
    # SINGLE-PASS shape: the shingle pipeline's window already hash-partitions
    # on doc_id, so the per-doc set size is a window count on the SAME
    # exchange (no extra shuffle, no second execution of the shingle scan)
    # and rides into the doclists as struct fields — the two sizes re-joins
    # of the previous two-consumer form disappear entirely.  At 100 TB this
    # is one scan + three exchanges (doc_id window, sh doclists, pair agg).
    sh = shingle_hashes(df, text_col, n)
    shsz = sh.withColumn(
        "n_sh", F.count("*").over(Window.partitionBy("doc_id"))
    )
    # candidate pairs WITHOUT a self-join: group each shingle's (<= max_df,
    # sorted) doc list once, expand the C(df,2) ordered pairs locally with
    # higher-order functions — one shuffle on sh instead of a two-sided
    # join shuffle, and the stop-shingle cut falls out of the same pass.
    # (The nested transform/slice is bounded by max_df elements — the
    # interpreted-HOF rule allows cheap bounded lambdas.)
    #
    # HOT-SHINGLE SAFETY: the max_df cut must run BEFORE any doc list is
    # collected.  A viral boilerplate shingle ("all rights reserved …")
    # appears in 10⁸⁺ docs at web scale; filtering on size(collect_set(...))
    # would materialize that full doc list in a single aggregation-buffer row
    # (multi-GB, un-spillable) before dropping it.  Instead the shingle df is
    # a window count on the SAME hash(sh) exchange the aggregation needs —
    # WindowExec buffers rows through a spillable external sorter, and the
    # collect_set buffer then never holds more than max_df entries.  Same
    # single-pass shape: 1 scan, 3 exchanges (doc_id window, sh window+agg,
    # pair agg), 0 joins — plan-asserted in tests/unit/test_plans.py.
    shared = _shared_key_pairs(shsz, max_df)
    out = (
        shared.withColumn(
            "jaccard",
            F.round(
                F.col("n_shared").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("n_shared")).cast("double"),
                6,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "n_shared", "jaccard")
    )
    return out


def jaccard_stop_shingle_stats(
    df: DataFrame, text_col: str = "text", n: int = 3, max_df: int = 20
) -> DataFrame:
    """Observability twin of ``jaccard_pairs``'s max_df stop-shingle cut
    (no silent caps — see bucket_cap_stats): one row of (n_rows,
    rows_dropped, buckets_dropped, max_bucket_n) where a 'bucket' is a
    distinct shingle and max_bucket_n is the hottest shingle's document
    frequency."""
    return bucket_cap_stats(shingle_hashes(df, text_col, n), ["sh"], max_df)


def _edge_keys(edges: DataFrame, id_col: str, key_col: str) -> DataFrame:
    """Distinct non-NULL (doc_id, sh) rows of an (entity, key) edge table."""
    return (
        edges.select(F.col(id_col).alias("doc_id"), F.col(key_col).alias("sh"))
        .filter(F.col("sh").isNotNull())
        .distinct()
    )


def cocitation_pairs(
    edges: DataFrame,
    id_col: str = "doc_id",
    key_col: str = "sh",
    min_shared: int = 2,
    max_df: int = 20,
) -> DataFrame:
    """Bibliographic-coupling pairs over any (entity, key) edge table —
    Kessler 1963's coupling / Small 1973's co-citation, the web-graph
    similarity behind 'docs that cite the same pages are related': entity
    pairs sharing at least ``min_shared`` DISTINCT keys, with the key-set
    Jaccard.  For a link graph pass (doc_id, dst_url) edges; flipping the
    roles (dst as entity, src as key) gives co-citation proper.

    Returns (doc_a, doc_b, n_a, n_b, n_shared, link_jaccard), doc_a < doc_b.

    Single-pass ``_shared_key_pairs`` core (one shuffle on the key, never a
    two-sided self-join); ubiquitous keys (df > max_df — a nav link every
    page carries) are stop-cut before any doc list is collected, the same
    hot-key contract as jaccard_pairs, observable via
    ``cocitation_stop_key_stats``.  NULL keys couple nothing (SQL ``JOIN
    USING`` never matches NULL), so they are dropped before sizing."""
    sized = _edge_keys(edges, id_col, key_col).withColumn(
        "n_sh", F.count("*").over(Window.partitionBy("doc_id"))
    )
    pairs = _shared_key_pairs(sized, max_df)
    union = (F.col("n_a") + F.col("n_b") - F.col("n_shared")).cast("double")
    return (
        pairs.filter(F.col("n_shared") >= min_shared)
        .select(
            "doc_a",
            "doc_b",
            F.col("n_a").cast("long").alias("n_a"),
            F.col("n_b").cast("long").alias("n_b"),
            F.col("n_shared").cast("long").alias("n_shared"),
            F.round(F.col("n_shared").cast("double") / union, 4).alias(
                "link_jaccard"
            ),
        )
    )


def cocitation_stop_key_stats(
    edges: DataFrame,
    id_col: str = "doc_id",
    key_col: str = "sh",
    max_df: int = 20,
) -> DataFrame:
    """Observability twin of ``cocitation_pairs``'s max_df stop-key cut (no
    silent caps): a 'bucket' is a distinct key, max_bucket_n the hottest
    key's entity frequency."""
    return bucket_cap_stats(_edge_keys(edges, id_col, key_col), ["sh"], max_df)


def fingerprint_overlap_pairs(
    df: DataFrame,
    text_col: str = "text",
    k: int = 8,
    w: int = 16,
    max_df: int = 20,
    min_shared: int = 2,
    hash_fn: str = "md5",
    variant: str = "codegen",
) -> DataFrame:
    """MOSS-style sub-document overlap detection (the pairing stage of
    Schleimer et al., "Winnowing: Local Algorithms for Document
    Fingerprinting", SIGMOD'03): two documents sharing ``min_shared``+
    winnowing fingerprints contain near-identical PASSAGES even when their
    whole-document similarity is low — the copied-paragraph/boilerplate
    complement of jaccard_pairs' whole-doc estimate.  Returns
    (doc_a, doc_b, n_shared, containment) with containment =
    n_shared / min(|A|, |B|) (the asymmetric overlap coefficient, the
    natural measure when a small doc is embedded in a big one).

    Scale shape: identical to jaccard_pairs — textproc.fingerprints is one
    exploded-char window pass (or the map-only Arrow twin via
    variant="arrow" + hash_fn="xxh"), and the pairing is the shared
    single-pass core (_shared_key_pairs): fingerprints appearing in more
    than max_df docs are cut BEFORE collection, no self-join, no corpus
    shuffle beyond the fp doclists."""
    fp = textproc.fingerprints(
        df, text_col=text_col, k=k, w=w, hash_fn=hash_fn, variant=variant
    )
    sized = fp.select("doc_id", F.col("fp").alias("sh")).withColumn(
        "n_sh", F.count("*").over(Window.partitionBy("doc_id"))
    )
    shared = _shared_key_pairs(sized, max_df)
    return (
        shared.filter(F.col("n_shared") >= min_shared)
        .select(
            "doc_a",
            "doc_b",
            F.col("n_shared").cast("long").alias("n_shared"),
            F.round(
                F.col("n_shared").cast("double")
                / F.least("n_a", "n_b").cast("double"),
                6,
            ).alias("containment"),
        )
    )


def _bloom_bits_of_keys(keys: DataFrame, col: str, m: int, k: int):
    """Bloom bitset (uint64[m/64]) of a long-key column: one mapInPandas
    pass emits a per-partition blob (m/8 bytes), the driver ORs them
    INCREMENTALLY via toLocalIterator — driver memory holds one blob plus
    the accumulator (2·m/8 bytes) regardless of partition count, where a
    collect() would stage partitions × m/8 bytes at once (driver-ADVICE
    r4).  Probe math is seen.py's bloom kernel (_probe_indices +
    _bloom_test_and_set) — one shared definition across the seen-set and
    this prefilter."""
    import numpy as np
    import pandas as pd

    from crawlspark.seen import _bloom_test_and_set, _probe_indices

    if m % 64:
        raise ValueError(f"bloom m must be a multiple of 64, got {m}")

    def build(batches):
        bits = np.zeros(m // 64, dtype=np.uint64)
        any_rows = False
        for pdf in batches:
            if not len(pdf):
                continue
            any_rows = True
            _bloom_test_and_set(bits, _probe_indices(pdf[col].to_numpy(), m, k))
        if any_rows:
            yield pd.DataFrame({"blob": [bits.tobytes()]})

    out = np.zeros(m // 64, dtype=np.uint64)
    for r in keys.select(col).mapInPandas(build, "blob binary").toLocalIterator():
        out |= np.frombuffer(r["blob"], dtype=np.uint64)
    return out


# broadcast-bitset memo for decontaminate(strategy="bloom"): the broadcast
# must outlive the returned LAZY DataFrame, so it can never be eagerly
# destroyed — but a long-lived session re-scrubbing against the same
# benchmark each crawl round would otherwise accumulate one m/8-byte
# broadcast per call (driver-ADVICE r4).  Keyed by the bitset content
# (md5) — identical bench/m/k produce an identical bitset and reuse one
# broadcast; memory is bounded by the number of DISTINCT benchmark bitsets
# seen in the session, not the number of calls.
_BLOOM_BC_MEMO: dict = {}


def _memoized_broadcast(spark, payload: bytes):
    import hashlib

    sc = spark.sparkContext
    key = (id(sc), hashlib.md5(payload).hexdigest(), len(payload))
    bc = _BLOOM_BC_MEMO.get(key)
    if bc is None:
        bc = sc.broadcast(payload)
        _BLOOM_BC_MEMO[key] = bc
    return bc


def decontaminate(
    train: DataFrame,
    bench: DataFrame,
    text_col: str = "text",
    n: int = 3,
    min_hits: int = 4,
    strategy: str = "broadcast",
    bloom_m: int = 1 << 23,
    bloom_k: int = 7,
) -> DataFrame:
    """Benchmark decontamination — the eval-overlap scrub every LLM
    training pipeline runs before training (n-gram collision flagging, cf.
    the GPT-3 appendix-C / Dolma recipes): a training document sharing
    ``min_hits``+ distinct n-word shingles with the held-out benchmark set
    is flagged as contaminated.

    Returns every training doc with at least one hit:
    (doc_id, n_hits, n_sh, hit_ratio, contaminated).

    Scale shape, ``strategy="broadcast"`` (default): the benchmark side
    reduces to its DISTINCT shingle keys — eval sets are tiny by contract
    (thousands of docs vs billions), so that key set is broadcast and the
    scrub is ONE map-side hash-join over the training shingles plus a
    doc_id hash agg; the per-doc shingle count rides the window exchange
    shingle_hashes already pays (same single-pass trick as jaccard_pairs).
    No shuffle of the training corpus by shingle, no self-join anywhere.

    ``strategy="bloom"`` is the past-the-broadcast-threshold path: the
    bench keys are folded into a bloom bitset (``bloom_m`` bits, one
    mapInPandas pass + driver OR — the BITSET broadcasts even when the key
    LIST cannot), training shingles are pre-filtered by an Arrow-batched
    membership test, and only the survivors (true hits + the bloom's few
    false positives) reach an exact equi join with the bench keys, which
    eliminates the false positives.  Output is therefore IDENTICAL to the
    broadcast strategy (equality-tested) — the bloom only prunes the exact
    join's left side from all training shingles down to ~hits.  Size
    bloom_m ≈ 10 bits/bench-shingle for ~1% FP prune leakage.  Two
    lifetime notes: the bloom strategy runs ONE Spark job at CALL time (the
    bitset must be materialized before it can be broadcast — the broadcast
    branch stays fully lazy), and the broadcast bitset lives until the
    session ends (it must outlive the returned lazy DataFrame, so it is
    never eagerly destroyed) but is MEMOIZED by content: repeated scrubs
    against the same benchmark reuse one broadcast, so session memory is
    m/8 bytes per distinct bitset, not per call."""
    if strategy not in ("broadcast", "bloom"):
        raise ValueError(
            f"strategy must be 'broadcast' or 'bloom', got {strategy!r}"
        )
    if bloom_m % 64:
        raise ValueError(f"bloom_m must be a multiple of 64, got {bloom_m}")
    tr = shingle_hashes(train, text_col, n).withColumn(
        "n_sh", F.count("*").over(Window.partitionBy("doc_id"))
    )
    bench_sh = shingle_hashes(bench, text_col, n).select("sh").distinct()
    if strategy == "bloom":
        import numpy as np
        import pandas as pd

        from crawlspark.seen import _bloom_test, _probe_indices

        m, k = bloom_m, bloom_k
        bits = _bloom_bits_of_keys(bench_sh, "sh", m, k)
        bc = _memoized_broadcast(train.sparkSession, bits.tobytes())

        # NO type hints on the udf body: this module's postponed annotations
        # stringify them and pandas_udf's hint inference rejects the strings
        # even in the explicit-functionType form (CLAUDE.md trap)
        def member_fn(s):
            b = np.frombuffer(bc.value, dtype=np.uint64)
            return pd.Series(_bloom_test(b, _probe_indices(s.to_numpy(), m, k)))

        member = F.pandas_udf(member_fn, "boolean")
        tr = tr.filter(member(F.col("sh")))
        joined = tr.join(bench_sh, "sh")  # exact join kills bloom FPs
    else:
        joined = tr.join(F.broadcast(bench_sh), "sh")
    return (
        joined
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_hits"), F.first("n_sh").alias("n_sh"))
        .select(
            "doc_id",
            "n_hits",
            "n_sh",
            F.round(
                F.col("n_hits").cast("double") / F.col("n_sh").cast("double"), 6
            ).alias("hit_ratio"),
            (F.col("n_hits") >= min_hits).alias("contaminated"),
        )
    )


def paragraphs(
    df: DataFrame,
    text_col: str = "text",
    mode: str = "fixed",
    words_per: int = 16,
    para_re: str = r"\n{2,}",
) -> DataFrame:
    """Split documents into ordered paragraphs -> (doc_id, para_idx, para).

    ``mode="regex"`` splits on ``para_re`` (the real-corpus form — blank
    lines, the Dolma unit); ``mode="fixed"`` chunks the whitespace word
    stream into ``words_per``-word windows (the deterministic stand-in for
    corpora without newline structure, mirrored exactly by DuckDB
    list_slice in the q75 oracle).  Map-only either way: the word array is
    staged behind a projection boundary so the transform lambda slices a
    BOUND attribute — referencing the raw split() expression inside the
    lambda would re-inline its tree per element (the nested-HOF O(n²)
    compile/eval trap), and each slice is a bounded words_per-element copy,
    so total work stays linear in document length."""
    if mode == "regex":
        arr = F.split(F.col(text_col), para_re)
        return df.select("doc_id", F.posexplode(arr).alias("para_idx", "para"))
    if mode != "fixed":
        raise ValueError(f"mode must be 'fixed' or 'regex', got {mode!r}")
    staged = df.withColumn("_ws", F.split(F.col(text_col), r"\s+"))
    npara = F.ceil(F.size("_ws") / F.lit(float(words_per))).cast("int")
    arr = F.transform(
        textproc.seq1(npara),
        lambda i: F.array_join(
            F.slice(F.col("_ws"), (i - 1) * words_per + 1, words_per), " "
        ),
    )
    return staged.select("doc_id", F.posexplode(arr).alias("para_idx", "para"))


def decontaminate_spans(
    train: DataFrame,
    bench: DataFrame,
    text_col: str = "text",
    n: int = 3,
    min_hits: int = 2,
    mode: str = "fixed",
    words_per: int = 16,
    para_re: str = r"\n{2,}",
    sep: str = " ",
) -> DataFrame:
    """SPAN-LEVEL benchmark decontamination (the Dolma recipe): instead of
    flagging whole documents (``decontaminate``/q68), excise only the
    contaminated PARAGRAPHS — a paragraph sharing ``min_hits``+ distinct
    n-word shingles with the benchmark set is dropped, the rest of the
    document survives.  Returns every training doc as
    (doc_id, n_paras, n_dropped, clean_text) with clean_text the
    ``sep``-joined surviving paragraphs in original order ('' when every
    paragraph was contaminated).

    Scale shape: same as q68's broadcast strategy — the benchmark reduces
    to its distinct 64-bit shingle keys (broadcast by contract: eval sets
    are tiny), paragraph shingles are the exploded-words + window-lead +
    n-ary xxhash64 chain keyed by (doc_id, para_idx) (whole-stage codegen,
    no concat strings), and the scrub is one map-side hash join + two
    (doc_id,para)-grain aggs.  The corpus is never shuffled by shingle; the
    reassembly is one hash agg whose collect_list is bounded by the
    document's own paragraph count."""
    paras = paragraphs(train, text_col, mode=mode, words_per=words_per, para_re=para_re)
    words = paras.select(
        "doc_id",
        "para_idx",
        F.posexplode(F.split(F.lower(F.col("para")), r"\s+")).alias("pos", "w0"),
    )
    win = Window.partitionBy("doc_id", "para_idx").orderBy("pos")
    cur = words
    cols = [F.col("w0")]
    for j in range(1, n):
        cur = cur.withColumn(f"w{j}", F.lead("w0", j).over(win))
        cols.append(F.col(f"w{j}"))
    psh = (
        cur.filter(F.col(f"w{n-1}").isNotNull())
        .select("doc_id", "para_idx", F.xxhash64(*cols).alias("sh"))
        .dropDuplicates(["doc_id", "para_idx", "sh"])
    )
    bench_sh = shingle_hashes(bench, text_col, n).select("sh").distinct()
    hits = (
        psh.join(F.broadcast(bench_sh), "sh")
        .groupBy("doc_id", "para_idx")
        .agg(F.count("*").alias("n_hits"))
    )
    flagged = paras.join(hits, ["doc_id", "para_idx"], "left").withColumn(
        "bad", F.coalesce(F.col("n_hits") >= min_hits, F.lit(False))
    )
    return flagged.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_paras"),
        F.sum(F.when(F.col("bad"), 1).otherwise(0)).cast("long").alias("n_dropped"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(~F.col("bad"), F.struct("para_idx", "para"))
                    )
                ),
                lambda x: x["para"],
            ),
            sep,
        ).alias("clean_text"),
    )


def contamination_report(
    train: DataFrame,
    bench: DataFrame,
    text_col: str = "text",
    n: int = 3,
    min_hits: int = 4,
) -> DataFrame:
    """Per-BENCHMARK-doc contamination triage — the report the eval owner
    reads after ``decontaminate``/q68 flags the corpus: for every benchmark
    document, how many training documents share its n-gram shingles, how
    many cross the ``min_hits`` contamination threshold, and how deep the
    worst overlap runs.  Returns ``(bench_id, n_train_docs_hit,
    n_contaminating, total_hits, max_hits)`` for every bench doc with at
    least one hit.

    Scale shape: q68's broadcast contract with the bench doc id KEPT — the
    bench side stays eval-sized (thousands of docs by contract), so its
    (bench_id, sh) attribution pairs broadcast and the training corpus is
    never shuffled by shingle; only the hit rows (a tiny minority) carry
    (bench_id, train_id) into the two downstream hash aggs."""
    tsh = shingle_hashes(train, text_col=text_col, n=n)
    bsh = shingle_hashes(bench, text_col=text_col, n=n).select(
        F.col("doc_id").alias("bench_id"), "sh"
    )
    hits = tsh.join(F.broadcast(bsh), "sh").select(
        "bench_id", F.col("doc_id").alias("train_id")
    )
    per_pair = hits.groupBy("bench_id", "train_id").agg(
        F.count("*").alias("n_hits")
    )
    return per_pair.groupBy("bench_id").agg(
        F.count("*").alias("n_train_docs_hit"),
        F.sum((F.col("n_hits") >= min_hits).cast("long")).alias(
            "n_contaminating"
        ),
        F.sum("n_hits").alias("total_hits"),
        F.max("n_hits").alias("max_hits"),
    )


def novelty_scores(
    df: DataFrame, text_col: str = "text", n: int = 3
) -> DataFrame:
    """Per-doc n-gram novelty: the fraction of a document's distinct
    n-word shingles that appear in NO other document (corpus df == 1) —
    the memorization/duplication-risk signal motivating Lee et al. 2022's
    "Deduplicating Training Data Makes Language Models Better": a
    low-novelty document is stitched from text repeated elsewhere even
    when no single near-dup pair crosses a Jaccard threshold.  Returns
    ``(doc_id, n_sh, n_novel, novelty)``.

    Scale shape: shingle_hashes' (doc_id, sh) rows take ONE extra
    exchange keyed by sh for a window count(*) — the jaccard single-pass
    trick, no self-join and no df-table re-join; the hot-shingle
    straggler bound is the measured BENCH §6e contract (the window form
    wins even at a 10^6-occurrence shingle).  Then one doc_id hash agg."""
    sh = shingle_hashes(df, text_col=text_col, n=n)
    flagged = sh.withColumn(
        "df", F.count("*").over(Window.partitionBy("sh"))
    )
    return (
        flagged.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_sh"),
            F.sum((F.col("df") == 1).cast("long")).alias("n_novel"),
        )
        .withColumn(
            "novelty", F.round(F.col("n_novel") / F.col("n_sh"), 6)
        )
    )


def dedup_lines(
    df: DataFrame,
    text_col: str = "text",
    min_df: int = 2,
    mode: str = "fixed",
    words_per: int = 16,
    para_re: str = r"\n{2,}",
    sep: str = " ",
    hash_fn: str = "md5",
) -> DataFrame:
    """CORPUS-INTERNAL line/paragraph dedup (the CCNet / RefinedWeb
    boilerplate-removal recipe): a paragraph whose normalized exact hash
    appears in ``min_df``+ DISTINCT documents is boilerplate (nav bars,
    footers, cookie banners — the crawl-corpus noise that repeats across a
    site) and is excised from every document that carries it; unique
    paragraphs survive.  Complements ``decontaminate_spans`` (q75), which
    scrubs against an EXTERNAL benchmark — this one needs no reference set.
    Returns every doc as (doc_id, n_paras, n_dropped, clean_text) with
    clean_text the ``sep``-joined survivors in original order ('' when the
    whole document was boilerplate).

    Scale shape: the corpus text never rides the line-hash shuffle — the
    frequency pass moves only the narrow (lkey, doc_id) projection
    (per-doc-distinct partial agg, then a count per lkey), and only the
    BOILERPLATE keys (line_df >= min_df — the small side by construction:
    boilerplate is the repeated minority) come back, joined to the narrow
    (doc_id, para_idx, lkey) spine; AQE broadcasts that hit set when it
    fits.  Reassembly is q75's one (doc_id)-grain hash agg, collect_list
    bounded by the document's own paragraph count.  ``hash_fn="md5"`` is
    the DuckDB-mirrorable oracle form (the q38/q61 discipline);
    ``hash_fn="xxh"`` swaps in xxhash64 for a cheaper 64-bit key at scale
    (identical drop decisions absent collisions)."""
    if hash_fn == "md5":
        key_of = lambda c: F.md5(c)  # noqa: E731
    elif hash_fn == "xxh":
        key_of = lambda c: F.xxhash64(c)  # noqa: E731
    else:
        raise ValueError(f"hash_fn must be 'md5' or 'xxh', got {hash_fn!r}")
    paras = paragraphs(df, text_col, mode=mode, words_per=words_per, para_re=para_re)
    keyed = paras.withColumn("lkey", key_of(F.lower(F.trim(F.col("para")))))
    spine = keyed.select("doc_id", "para_idx", "lkey")
    boiler = (
        spine.select("lkey", "doc_id")
        .dropDuplicates(["lkey", "doc_id"])
        .groupBy("lkey")
        .agg(F.count("*").cast("long").alias("line_df"))
        .filter(F.col("line_df") >= min_df)
    )
    hits = spine.join(boiler, "lkey").select("doc_id", "para_idx")
    flagged = paras.join(
        hits.withColumn("bad", F.lit(True)), ["doc_id", "para_idx"], "left"
    ).withColumn("bad", F.coalesce(F.col("bad"), F.lit(False)))
    return flagged.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_paras"),
        F.sum(F.when(F.col("bad"), 1).otherwise(0)).cast("long").alias("n_dropped"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(~F.col("bad"), F.struct("para_idx", "para"))
                    )
                ),
                lambda x: x["para"],
            ),
            sep,
        ).alias("clean_text"),
    )


# ---------------------------------------------------------------- MinHash + LSH

N_PERM = 64


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    n_perm: int = N_PERM,
    hash_fn: str = "xxh",
) -> DataFrame:
    """(doc_id, m0..m{n-1}): per-permutation minimum hash over the doc's
    distinct 3-word shingles.  One aggregation with n_perm min() columns —
    map-side combine, no row blowup (shingle rows are NOT exploded n_perm
    times).

    ``hash_fn="xxh"`` (default — the scale form): permutation i =
    xxhash64(sh_hash, i) over 8-byte shingle hashes; signatures are longs.
    ``hash_fn="md5"`` — the DuckDB-ORACLE twin (the q38/q61 discipline
    brought to the sketches): permutation i = md5(shingle_string || '|i'),
    minimum by lexicographic hex order, which DuckDB reproduces
    token-for-token (min over uniform hex strings is an equally valid
    MinHash permutation); signatures are 32-char hex strings — heavier
    (string shingles + 32-byte values), so the md5 twin is the correctness
    witness, not the production path."""
    if hash_fn not in ("xxh", "md5"):
        raise ValueError(f"hash_fn must be 'xxh' or 'md5', got {hash_fn!r}")
    if hash_fn == "md5":
        sh = word_shingles(df, text_col)
        mins = [
            F.min(F.md5(F.concat(F.col("sh"), F.lit(f"|{i}")))).alias(f"m{i}")
            for i in range(n_perm)
        ]
    else:
        sh = shingle_hashes(df, text_col)
        mins = [
            F.min(F.xxhash64(F.col("sh"), F.lit(i))).alias(f"m{i}")
            for i in range(n_perm)
        ]
    return sh.groupBy("doc_id").agg(*mins)


def _lsh_banded(
    sigs: DataFrame, n_perm: int, bands: int, hash_fn: str = "xxh"
) -> DataFrame:
    """(doc_id, band, bh) band-hash rows — ONE posexplode pass shared by the
    candidate join and its cap-stats twin, so the two can never drift.
    hash_fn="md5" concatenates the band's hex signatures and md5s them (the
    oracle-mirrorable form for md5 signatures)."""
    r = n_perm // bands
    if hash_fn == "md5":
        band_hash = F.array(
            *[
                F.md5(F.concat(*[F.col(f"m{b * r + j}") for j in range(r)]))
                for b in range(bands)
            ]
        )
    else:
        band_hash = F.array(
            *[
                F.xxhash64(*[F.col(f"m{b * r + j}") for j in range(r)])
                for b in range(bands)
            ]
        )
    return sigs.select("doc_id", F.posexplode(band_hash).alias("band", "bh"))


def lsh_bucket_cap_stats(
    sigs: DataFrame, n_perm: int = N_PERM, bands: int = 16, max_bucket: int = 1000
) -> DataFrame:
    """Observability twin of ``lsh_candidate_pairs``'s bucket cap (no silent
    caps — see bucket_cap_stats): call with the SAME parameters to learn
    whether (and how hard) the cap bit."""
    return bucket_cap_stats(_lsh_banded(sigs, n_perm, bands), ["band", "bh"], max_bucket)


def _est_jaccard(cand: DataFrame, sigs: DataFrame, n_perm: int) -> DataFrame:
    """(doc_a, doc_b, est_jaccard) for candidate pairs (doc_a, doc_b):
    the fraction of matching MinHash signature positions (the standard
    unbiased estimate), rounded to 6 places."""
    sig_a = sigs.select(
        F.col("doc_id").alias("doc_a"),
        F.array(*[F.col(f"m{i}") for i in range(n_perm)]).alias("sig_a"),
    )
    sig_b = sigs.select(
        F.col("doc_id").alias("doc_b"),
        F.array(*[F.col(f"m{i}") for i in range(n_perm)]).alias("sig_b"),
    )
    est = F.round(
        F.size(
            F.filter(
                F.zip_with(F.col("sig_a"), F.col("sig_b"), lambda x, y: x == y),
                lambda z: z,
            )
        ).cast("double")
        / F.lit(float(n_perm)),
        6,
    )
    return (
        cand.join(sig_a, "doc_a")
        .join(sig_b, "doc_b")
        .select("doc_a", "doc_b", est.alias("est_jaccard"))
    )


def lsh_candidate_pairs(
    sigs: DataFrame,
    n_perm: int = N_PERM,
    bands: int = 16,
    max_bucket: int = 1000,
    hash_fn: str = "xxh",
) -> DataFrame:
    """Band the signature (r = n_perm/bands rows per band), bucket-join docs
    sharing any band hash: (doc_a, doc_b, est_jaccard).

    est_jaccard = fraction of matching signature positions (the standard
    unbiased MinHash estimate).

    OPERATOR CONTRACT — run exact dedup first.  A bucket of ``m`` docs emits
    C(m,2) candidate pairs; 10⁶ byte-identical copies of one viral page share
    every band hash and would emit ~5·10¹¹ pairs from a single bucket.
    Buckets larger than ``max_bucket`` are dropped BEFORE the self-join (a
    window count on the same (band, bh) exchange the join's left side makes).
    Exact duplicates must therefore be collapsed upstream (dedup.exact_groups
    — q42 does this); among genuine near-dups a >max_bucket bucket is
    astronomically unlikely for r ≥ 4 band bits, so recall is unaffected.
    The cap is NOT silent: ``lsh_bucket_cap_stats`` (same parameters)
    reports rows/buckets dropped."""
    # single posexplode pass — a union of per-band projections would
    # recompute the (expensive) signature aggregation once per band
    exploded = _capped_bucket_rows(
        _lsh_banded(sigs, n_perm, bands, hash_fn), ["band", "bh"], max_bucket
    )
    a = exploded.select(F.col("doc_id").alias("doc_a"), "bh", "band")
    b_ = exploded.select(F.col("doc_id").alias("doc_b"), "bh", "band")
    cand = (
        a.join(b_, ["band", "bh"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    return _est_jaccard(cand, sigs, n_perm)


# --------------------------------------------------------------------- SimHash


def simhash(df: DataFrame, text_col: str = "text", hash_fn: str = "xxh") -> DataFrame:
    """64-bit SimHash per doc: bit j of the fingerprint is the sign of
    Σ_words (±1 by bit j of hash(word)).  64 conditional-sum aggregate
    columns + a shiftleft/sum reconstruction — all JVM-side.

    ``hash_fn="xxh"`` (default, the scale form): word hash = xxhash64.
    ``hash_fn="md5"`` — the DuckDB-ORACLE twin (q77 discipline): word hash
    = the first 15 hex chars of md5(word) as a 60-bit integer (bits 60-63
    are constantly 0 — a 60-bit SimHash, which DuckDB reconstructs exactly
    via positional hex-digit sums; q78 carries the full value-hash check).
    Downstream banding/pairing (simhash_pairs) is hash_fn-agnostic."""
    if hash_fn not in ("xxh", "md5"):
        raise ValueError(f"hash_fn must be 'xxh' or 'md5', got {hash_fn!r}")
    word_h = (
        F.conv(F.substring(F.md5(F.col("word")), 1, 15), 16, 10).cast("long")
        if hash_fn == "md5"
        else F.xxhash64("word")
    )
    w = df.select(
        "doc_id", F.explode(F.split(F.lower(F.col(text_col)), r"\s+")).alias("word")
    ).withColumn("h", word_h)
    sums = [
        F.sum(
            F.when(F.shiftright(F.col("h"), j).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"s{j}")
        for j in range(64)
    ]
    agg = w.groupBy("doc_id").agg(*sums)
    fp = reduce(
        lambda x, y: x.bitwiseOR(y),
        [
            F.when(F.col(f"s{j}") > 0, F.shiftleft(F.lit(1).cast("long"), j)).otherwise(
                F.lit(0).cast("long")
            )
            for j in range(64)
        ],
    )
    return agg.select("doc_id", fp.alias("simhash"))


def _simhash_chunked(sh: DataFrame, bands: int) -> DataFrame:
    """(doc_id, simhash, band, chunk) pigeonhole-chunk rows — shared by the
    pair join and its cap-stats twin."""
    width = 64 // bands
    mask = (1 << width) - 1
    chunk_arr = F.array(
        *[
            F.shiftright(F.col("simhash"), b * width).bitwiseAND(F.lit(mask))
            for b in range(bands)
        ]
    )
    return sh.select(
        "doc_id", F.col("simhash"), F.posexplode(chunk_arr).alias("band", "chunk")
    )


def simhash_bucket_cap_stats(
    sh: DataFrame, bands: int = 4, max_bucket: int = 1000
) -> DataFrame:
    """Observability twin of ``simhash_pairs``'s bucket cap (no silent
    caps — see bucket_cap_stats)."""
    return bucket_cap_stats(_simhash_chunked(sh, bands), ["band", "chunk"], max_bucket)


def simhash_pairs(
    sh: DataFrame,
    max_hamming: int = 6,
    bands: int = 4,
    max_bucket: int = 1000,
) -> DataFrame:
    """Near-dup pairs by Hamming distance: band the 64-bit fingerprint into
    ``bands`` 16-bit chunks; any pair within max_hamming < bands must share
    at least one exact chunk (pigeonhole) -> equi join per chunk, then exact
    bit_count(xor) filter.

    OPERATOR CONTRACT — run exact dedup first (see lsh_candidate_pairs):
    identical docs share all chunks, so a viral page's copies form one
    quadratic bucket.  (band, chunk) buckets above ``max_bucket`` are dropped
    before the self-join via a window count on the join's own exchange; with
    16-bit chunks a genuine near-dup bucket that large is vanishingly rare.
    The cap is NOT silent: ``simhash_bucket_cap_stats`` reports what it
    dropped."""
    # single posexplode pass (see lsh_candidate_pairs for rationale)
    exploded = _capped_bucket_rows(
        _simhash_chunked(sh, bands), ["band", "chunk"], max_bucket
    )
    a = exploded.select(
        F.col("doc_id").alias("doc_a"), F.col("simhash").alias("sh_a"), "band", "chunk"
    )
    b_ = exploded.select(
        F.col("doc_id").alias("doc_b"), F.col("simhash").alias("sh_b"), "band", "chunk"
    )
    return (
        a.join(b_, ["band", "chunk"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))).alias("hamming"))
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


# --------------------------------------------------- near-dup cluster labels


def connected_components(
    pairs: DataFrame, a_col: str = "doc_a", b_col: str = "doc_b", max_iter: int = 20
) -> DataFrame:
    """Connected components over the near-dup pair graph -> (doc_id, label)
    with label = min doc_id of the component (the canonical keeper).

    Hash-min label propagation (the standard large-graph CC for dataflow
    engines, cf. Kiveris et al. "Connected Components in MapReduce", SoCC'13):
    every vertex repeatedly adopts the minimum label in its neighborhood;
    converges in O(diameter) rounds, each round one join + one aggregation.
    Near-dup components are tiny (dup clusters), so this converges in 2-3
    rounds; the loop stops as soon as a round changes nothing."""
    edges = (
        pairs.select(F.col(a_col).alias("src"), F.col(b_col).alias("dst"))
        .unionByName(pairs.select(F.col(b_col).alias("src"), F.col(a_col).alias("dst")))
        .distinct()
        .persist()
    )
    labels = (
        edges.select(F.col("src").alias("doc_id"))
        .distinct()
        .withColumn("label", F.col("doc_id"))
        .persist()
    )
    for _ in range(max_iter):
        neigh = (
            edges.join(labels, edges.dst == labels.doc_id)
            .select(F.col("src").alias("doc_id"), "label")
        )
        new_labels = (
            labels.unionByName(neigh)
            .groupBy("doc_id")
            .agg(F.min("label").alias("label"))
            .persist()
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "doc_id")
            .filter(F.col("n.label") != F.col("o.label"))
            .limit(1)
            .count()
        )
        labels.unpersist()
        labels = new_labels
        if changed == 0:
            break
    edges.unpersist()
    # pin the converged labels (cache is warm, so this is one cheap job),
    # then drop the loop cache instead of leaking it to the session
    out = labels.localCheckpoint()
    labels.unpersist()
    return out


# ------------------------------------------------------- embedding near-dup


def embedding_neardup(
    emb: DataFrame,
    threshold: float = 0.35,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_blocks: int = 16,
) -> DataFrame:
    """ALL pairs with cosine >= threshold — exact, via blocked matrix
    multiplication, never a row-level cross join.

    Exact all-pairs similarity is inherently O(n²) WORK, so the scalable
    design spends that work at BLAS speed, not per-pair interpreted
    expressions: ``_blocked_screen`` groups vectors into ``n_blocks`` hash
    blocks, generates the upper-triangular block grid with an explode + an
    equi join (no CartesianProduct in the plan), and screens each block
    pair with one numpy matmul inside mapInPandas.  Candidate pairs are then
    re-checked by ``_exact_cos_pairs_ab``, so the emitted cosines are
    bit-identical to a per-pair evaluation.

    Scale notes: data replication is O(n·B) (each block ships to B partner
    pairs) against O(n²) work — callers pick n_blocks ≈ n/10⁴ so a block
    pair (two ~10⁴×dim float blocks) fits an Arrow batch.  For high
    thresholds (0.9+ true near-dups) LSH pruning (simsearch.
    hyperplane_buckets) cuts the grid before the matmul; at low thresholds
    over isotropic data no bucketing scheme can prune without losing pairs
    (measured: recall-1.0 buckets regenerate ~the full grid, slower)."""
    vecs = emb.select(F.col(id_col).alias("vid"), F.col(vec_col).alias("v"))
    cand = _blocked_screen(vecs, [], threshold, n_blocks)
    return _exact_cos_pairs_ab(emb, emb, cand, threshold, id_col, vec_col)


# margin covers the round(·,4) in the exact recheck: a true cosine of
# threshold - 4.9999e-5 still rounds up to the threshold
_SCREEN_EPS = 1e-4

_PAIR_SCHEMA = T.StructType(
    [T.StructField("vec_a", T.LongType()), T.StructField("vec_b", T.LongType())]
)


def _blocked_screen(
    vecs: DataFrame, part_cols: list[str], threshold: float, n_blocks: int
) -> DataFrame:
    """Screened candidate pairs (vec_a < vec_b) among ``vecs`` (vid, v,
    *part_cols): only vectors with equal ``part_cols`` values are paired.
    Each partition's vectors are split into ``n_blocks`` blocks by
    vid % n_blocks; the upper-triangular block grid is an explode plus one
    equi join on (*part_cols, bj), and every block pair is one numpy
    matmul.  The screen keeps cosines >= threshold - _SCREEN_EPS, a superset
    of the exact recheck's output, so it changes cost, never results."""
    import numpy as np

    blocks = (
        vecs.withColumn("blk", F.pmod(F.col("vid"), F.lit(n_blocks)).cast("int"))
        .groupBy(*part_cols, "blk")
        .agg(F.collect_list(F.struct("vid", "v")).alias("items"))
    )
    grid = blocks.select(
        *part_cols,
        F.col("blk").alias("bi"),
        F.col("items").alias("ia"),
        F.explode(F.sequence(F.col("blk"), F.lit(n_blocks - 1))).alias("bj"),
    )
    right = blocks.select(*part_cols, F.col("blk").alias("bj"), F.col("items").alias("ib"))
    block_pairs = grid.join(right, [*part_cols, "bj"])

    def _items_matrix(items):
        ids, V = simsearch.rows_matrix(
            [r["vid"] for r in items], [r["v"] for r in items]
        )
        return ids, simsearch.unit_rows(V)

    def screen(pdf):
        pairs = []
        for bi, ia, bj, ib in zip(pdf["bi"], pdf["ia"], pdf["bj"], pdf["ib"]):
            ids_a, Va = _items_matrix(ia)
            ids_b, Vb = (ids_a, Va) if bi == bj else _items_matrix(ib)
            ii, jj = np.nonzero(Va @ Vb.T >= threshold - _SCREEN_EPS)
            a_ids, b_ids = ids_a[ii], ids_b[jj]
            keep = a_ids != b_ids
            a_ids, b_ids = a_ids[keep], b_ids[keep]
            lo, hi = np.minimum(a_ids, b_ids), np.maximum(a_ids, b_ids)
            pairs.append(np.stack([lo, hi], axis=1))
        pairs = np.unique(np.concatenate(pairs), axis=0)
        return {"vec_a": pairs[:, 0], "vec_b": pairs[:, 1]}

    cols = ["bi", "ia", "bj", "ib"]
    return map_batches(block_pairs, cols, _PAIR_SCHEMA, screen).dropDuplicates(
        ["vec_a", "vec_b"]
    )


def _exact_cos_pairs_ab(
    emb_a: DataFrame,
    emb_b: DataFrame,
    cand: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact recheck of screened candidate pairs (vec_a, vec_b) with
    simsearch's sequential-sum cosine — the oracles' own expressions, so
    the output cosine is bit-identical to a per-pair evaluation and a
    numpy-matmul screen upstream (a superset by the eps margin) never
    changes results, only cost.  vec_a ids resolve against ``emb_a``,
    vec_b ids against ``emb_b`` (the same frame for self-pairs).  Returns
    (vec_a, vec_b, cos) filtered to >= threshold."""
    a = simsearch.vectors(emb_a, id_col, vec_col).select(
        F.col("vid").alias("vec_a"), F.col("v").alias("va"), F.col("norm").alias("na")
    )
    b = simsearch.vectors(emb_b, id_col, vec_col).select(
        F.col("vid").alias("vec_b"), F.col("v").alias("vb"), F.col("norm").alias("nb")
    )
    cos = simsearch.cosine(F.col("va"), F.col("na"), F.col("vb"), F.col("nb"))
    return (
        cand.join(a, "vec_a")
        .join(b, "vec_b")
        .withColumn("cos", F.round(cos, 4))
        .filter(F.col("cos") >= threshold)
        .select("vec_a", "vec_b", "cos")
    )


def semdedup(
    emb: DataFrame,
    threshold: float = 0.35,
    n_cells: int = 16,
    n_rounds: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_blocks: int = 4,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic dedup by
    clustering embeddings with a k-means codebook and removing near-identical
    pairs WITHIN each cluster — the published recipe for making embedding
    dedup tractable at corpus scale, because the quadratic pair work is
    bounded per cluster (O(Σ|cell|²) ≈ n²/k for balanced cells) instead of
    n² over the corpus.

    Stages (every one an already-verified primitive):
      1. codebook — ``simsearch.train_ivf_centroids`` (seeded init,
         fixed-point bit-deterministic means; executor picked by input
         size);
      2. assignment — ``simsearch.ivf_assign_arrow`` (one numpy matmul per
         Arrow batch, ties -> lowest cid);
      3. within-cluster pairs — ``_blocked_screen`` partitioned by cid, so
         the grid join only pairs blocks of the SAME cluster (no
         cross-cluster work, no CartesianProduct);
      4. exact recheck — ``_exact_cos_pairs_ab`` (sequential-sum
         expressions, bit-identical to the SQL oracle);
      5. greedy keep-lowest (q42's convention): any vec that appears as the
         HIGHER id of a >= threshold pair is dropped.

    Returns one row per input vector: (vec_id, cluster_id, kept).

    Scale notes: replication is O(n·n_blocks) within clusters only; callers
    size n_blocks so two ~10⁴-vector cluster blocks fit an Arrow batch.  At
    100 TB the codebook is trained on a sample (train_ivf_centroids
    contract) with n_cells sized so cells stay ~10⁵-10⁶ vectors — the
    SemDeDup paper's k≈10⁴ clusters over 5B embeddings is exactly this
    shape."""
    cents = simsearch.train_ivf_centroids(
        emb, n_cells=n_cells, n_rounds=n_rounds, id_col=id_col, vec_col=vec_col
    )
    asg = simsearch.ivf_assign_arrow(emb, cents, id_col, vec_col)
    tagged = emb.select(
        F.col(id_col).alias("vid"), F.col(vec_col).alias("v")
    ).join(asg, "vid")
    cand = _blocked_screen(tagged, ["cid"], threshold, n_blocks)
    pairs = _exact_cos_pairs_ab(emb, emb, cand, threshold, id_col, vec_col)
    dropped = pairs.select(F.col("vec_b").alias("vid")).distinct()
    return (
        asg.join(dropped.withColumn("hit", F.lit(True)), "vid", "left")
        .select(
            F.col("vid").alias("vec_id"),
            F.col("cid").alias("cluster_id"),
            F.col("hit").isNull().alias("kept"),
        )
    )


def _word_spine(
    df: DataFrame, text_col: str = "text", lower: bool = True
) -> DataFrame:
    """(doc_id, p0, w, pos): the whitespace words of each doc (lowercased
    by default — the gram-identity convention; ``lower=False`` preserves
    case for reassembly, with IDENTICAL positions since lowercasing never
    touches whitespace) with a 1-based position over the FILTERED word
    sequence (empty tokens from leading whitespace drop out, identically
    to the oracles' list_filter)."""
    t = F.lower(F.col(text_col)) if lower else F.col(text_col)
    w = df.select(
        "doc_id", F.posexplode(F.split(t, r"\s+")).alias("p0", "w")
    ).filter(F.col("w") != "")
    bypos = Window.partitionBy("doc_id").orderBy("p0")
    return w.withColumn("pos", F.row_number().over(bypos))


def duplicate_spans(
    df: DataFrame,
    text_col: str = "text",
    n: int = 5,
    hash_fn: str = "md5",
) -> DataFrame:
    """Exact duplicate-substring spans (the ExactSubstr criterion of Lee et
    al. 2022, "Deduplicating Training Data Makes Language Models Better",
    re-expressed as n-gram runs): every maximal run of word positions whose
    n-grams occur more than once in the corpus (across docs OR repeated
    within one doc), with 1-based word offsets — the span-grain exact
    complement to q74's sampled fingerprint pairing.

    Returns (doc_id, span_start, span_end, n_grams): a span of duplicated
    text covering words [span_start, span_end] built from n_grams
    consecutive duplicated n-grams (so its word length is span_end −
    span_start + 1 = n_grams + n − 1).

    Shape (all linear, no self-join — the suffix-array subquadratic trick
    isn't needed because fixed-n gram identity is enough for maximal-run
    recovery): posexplode words → per-doc lead() window builds each
    position's gram (the CLAUDE.md exploded-rows rule, never a HOF lambda)
    → one gram-keyed hash agg for occurrence counts (a viral gram costs a
    COUNT, never a pair join) → hits join back (AQE-sized) → per-doc
    island grouping via pos − row_number() → one agg.

    ``hash_fn="md5"`` (default) hashes the joined gram string — the DuckDB
    oracle form; ``"xxh"`` hashes the word parts n-ary (no intermediate
    string, the q31/q38 scale twin) — gram-identity is hash-equivalence in
    both, so the emitted spans are identical (equality-tested)."""
    if hash_fn not in ("md5", "xxh"):
        raise ValueError(f"hash_fn must be 'md5' or 'xxh', got {hash_fn!r}")
    w = _word_spine(df, text_col)
    bypos = Window.partitionBy("doc_id").orderBy("p0")
    parts = [F.col("w")] + [F.lead("w", i).over(bypos) for i in range(1, n)]
    last = F.lead("w", n - 1).over(bypos)
    if hash_fn == "md5":
        gh = F.md5(F.concat_ws(" ", *parts))
    else:
        gh = F.xxhash64(*parts)
    g = (
        w.select("doc_id", "pos", gh.alias("gh"), last.alias("_last"))
        .filter(F.col("_last").isNotNull())
        .drop("_last")
    )
    dup = g.groupBy("gh").agg(F.count("*").alias("c")).filter(F.col("c") > 1)
    h = g.join(dup.select("gh"), "gh").select("doc_id", "pos")
    grp = F.col("pos") - F.row_number().over(
        Window.partitionBy("doc_id").orderBy("pos")
    )
    return (
        h.withColumn("grp", grp)
        .groupBy("doc_id", "grp")
        .agg(
            F.min("pos").cast("long").alias("span_start"),
            (F.max("pos") + F.lit(n - 1)).cast("long").alias("span_end"),
            F.count("*").cast("long").alias("n_grams"),
        )
        .drop("grp")
    )


def excise_duplicate_spans(
    df: DataFrame,
    text_col: str = "text",
    n: int = 5,
    hash_fn: str = "md5",
) -> DataFrame:
    """ExactSubstr EXCISION (the action half of ``duplicate_spans``, the
    way q75 is the action half of q68): emit every document's cleaned text
    with duplicated spans cut out, keeping the FIRST occurrence of each
    distinct span content — Lee et al. 2022 remove all-but-one copy of
    each duplicated substring; the deterministic keeper here is the
    lexicographically least (doc_id, span_start, span_end) per span
    content key.

    Identical maximal runs deduplicate to exactly one surviving copy;
    partially-overlapping runs have different content keys and are
    conservatively each kept once.  Word ranges of nearby runs may overlap
    — excised positions are unioned (DISTINCT) before removal.

    Returns (doc_id, clean_text, n_words_kept, n_words_excised) for EVERY
    input doc (span-free docs pass through verbatim — ORIGINAL CASE —
    modulo whitespace normalization; a fully-excised doc yields '').
    Span DETECTION and content keys are case-insensitive (the gram-identity
    convention); the emitted text is rebuilt from the case-preserving word
    spine at the same positions.

    Shape: ``duplicate_spans``'s linear plan + one spans-to-doc-array join
    (F.slice for the content key — no per-span aggregation), one window
    over the SPAN rows (tiny), a doc-equi range join spine×excised-spans,
    and the F4 ordered-collect reassembly."""
    spans = duplicate_spans(df, text_col=text_col, n=n, hash_fn=hash_fn)
    ws_tbl = df.select(
        "doc_id",
        F.filter(
            F.split(F.lower(F.col(text_col)), r"\s+"), lambda x: x != ""
        ).alias("ws"),
    )
    length = (F.col("span_end") - F.col("span_start") + 1).cast("int")
    ck = spans.join(ws_tbl, "doc_id").select(
        "doc_id",
        "span_start",
        "span_end",
        F.md5(
            F.concat_ws(
                " ", F.slice(F.col("ws"), F.col("span_start").cast("int"), length)
            )
        ).alias("ckey"),
    )
    rn = F.row_number().over(
        Window.partitionBy("ckey").orderBy("doc_id", "span_start", "span_end")
    )
    # rename the excised-span columns so the spine join predicate is
    # unambiguous (both frames descend from df — an unrenamed doc_id would
    # lean on Spark's dataset-id self-join heuristic)
    exc = (
        ck.withColumn("rn", rn)
        .filter(F.col("rn") > 1)
        .select(
            F.col("doc_id").alias("e_doc_id"),
            F.col("span_start").alias("e_start"),
            F.col("span_end").alias("e_end"),
        )
    )
    spine = _word_spine(df, text_col, lower=False)
    drop = (
        spine.join(
            exc,
            (spine["doc_id"] == exc["e_doc_id"])
            & (spine["pos"] >= exc["e_start"])
            & (spine["pos"] <= exc["e_end"]),
        )
        .select(spine["doc_id"], spine["pos"])
        .distinct()
    )
    kept = spine.join(drop, ["doc_id", "pos"], "left_anti")
    agg = kept.groupBy("doc_id").agg(
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct(F.col("pos").alias("p"), F.col("w").alias("t")))
                ),
                lambda s: s["t"],
            ),
        ).alias("clean_text"),
        F.count("*").cast("long").alias("n_words_kept"),
    )
    return (
        ws_tbl.select("doc_id", F.size("ws").cast("long").alias("n_total"))
        .join(agg, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("clean_text"), F.lit("")).alias("clean_text"),
            F.coalesce(F.col("n_words_kept"), F.lit(0).cast("long")).alias(
                "n_words_kept"
            ),
            (F.col("n_total") - F.coalesce(F.col("n_words_kept"), F.lit(0))).cast(
                "long"
            ).alias("n_words_excised"),
        )
    )


def embedding_decontaminate(
    emb: DataFrame,
    bench: DataFrame,
    threshold: float = 0.35,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bench_max_rows: int = 1_000_000,
) -> DataFrame:
    """Embedding-space benchmark decontamination: flag every corpus vector
    whose cosine against ANY benchmark vector reaches ``threshold`` — the
    semantic complement of the n-gram scrub (``decontaminate``/q68), which
    misses paraphrased eval leakage that embeddings catch.

    Returns one row per corpus vector: (vec_id, n_bench_hits, contaminated).

    Scale shape mirrors decontaminate's broadcast contract: the BENCH side
    is the small-by-nature frame (an eval set), so its matrix is collected
    once — gated IN CODE by ``bench_max_rows`` via a bounded limit-probe,
    raising rather than silently collecting an unbounded frame — and closed
    over a mapInPandas screen: one numpy matmul per corpus Arrow batch, the
    corpus itself never shuffled.  Screened (vec, bench) hits (threshold −
    eps margin) are then re-checked with ``_exact_cos_pairs_ab``'s
    sequential-sum expressions, so the emitted hit set is bit-identical to
    per-pair evaluation and the DuckDB mirror.  The final flag join touches
    only the hit minority (AQE broadcasts it)."""
    import numpy as np

    probe = bench.select(F.lit(1).alias("one")).limit(bench_max_rows + 1).count()
    if probe > bench_max_rows:
        raise ValueError(
            f"bench side exceeds bench_max_rows={bench_max_rows}; "
            "decontaminate against a bench sample or raise the gate "
            "explicitly — the broadcast-matrix contract needs a "
            "driver-sized bench frame"
        )
    # an empty eval slice is a (0, DIM) matrix: no hits, all-clean verdict
    b_ids, B = simsearch.collect_matrix(bench, id_col, vec_col)
    Bn = simsearch.unit_rows(B)

    def screen(pdf):
        ids, V = simsearch.rows_matrix(pdf[id_col], pdf[vec_col])
        ii, jj = np.nonzero(simsearch.unit_rows(V) @ Bn.T >= threshold - _SCREEN_EPS)
        return {"vec_a": ids[ii], "vec_b": b_ids[jj]}

    cand = map_batches(emb, [id_col, vec_col], _PAIR_SCHEMA, screen).dropDuplicates(
        ["vec_a", "vec_b"]
    )
    hits = _exact_cos_pairs_ab(emb, bench, cand, threshold, id_col, vec_col)
    agg = hits.groupBy("vec_a").agg(F.count("*").cast("long").alias("n_bench_hits"))
    return (
        emb.select(F.col(id_col).alias("vec_id"))
        .join(agg.withColumnRenamed("vec_a", "vec_id"), "vec_id", "left")
        .select(
            "vec_id",
            F.coalesce(F.col("n_bench_hits"), F.lit(0).cast("long")).alias(
                "n_bench_hits"
            ),
            F.col("n_bench_hits").isNotNull().alias("contaminated"),
        )
    )


def cluster_representatives(labels: DataFrame, quality: DataFrame) -> DataFrame:
    """Pick one representative document per near-dup cluster: the member with
    the highest quality score (ties -> lowest doc_id) — the keep-best variant
    of near-dup removal (vs q42's keep-lowest-id greedy drop).

    ``labels`` is (doc_id, label) from ``connected_components``; ``quality``
    is (doc_id, quality).  One equi join + ONE aggregation on the label key:
    the argmax is a max over (quality, -doc_id) structs (map-side combined),
    so no window pass and no second shuffle.  Scales as a plain hash agg.
    """
    m = labels.join(quality, "doc_id")
    agg = m.groupBy("label").agg(
        F.count("*").cast("long").alias("n_members"),
        F.max(
            F.struct(F.col("quality").alias("q"), (-F.col("doc_id")).alias("nid"))
        ).alias("best"),
    )
    return agg.select(
        "label",
        "n_members",
        (-F.col("best.nid")).cast("long").alias("keeper_id"),
        F.col("best.q").alias("best_quality"),
    )


# ----------------------------------------------- incremental near-dup refresh


def minhash_signatures_delta(
    old_sigs: DataFrame, changed_docs: DataFrame, text_col: str = "text"
) -> DataFrame:
    """Incremental signature maintenance: recompute MinHash signatures ONLY
    for the changed/new docs and splice them over the stored signature table
    (changed doc_ids replace their old rows via left_anti).  At 100 TB the
    signature table is the materialized state between crawls; a refresh
    touches O(|delta|) docs, never the corpus."""
    fresh = minhash_signatures(changed_docs, text_col)
    kept = old_sigs.join(changed_docs.select("doc_id"), "doc_id", "left_anti")
    return kept.unionByName(fresh)


def lsh_pairs_touching(
    sigs: DataFrame,
    delta_ids: DataFrame,
    n_perm: int = N_PERM,
    bands: int = 16,
    max_bucket: int = 1000,
) -> DataFrame:
    """LSH candidate pairs RESTRICTED to pairs with at least one side in
    ``delta_ids`` (doc_id) — the incremental twin of lsh_candidate_pairs.
    The banded bucket join puts the (small) delta side left, so candidate
    cost is O(|delta| x bucket) instead of the corpus self-join; output is
    normalized (doc_a < doc_b) and equals the full recompute filtered to
    delta-touching pairs (equality-tested)."""
    # bucket cap counted over the FULL corpus side (not the delta) so the
    # result stays bit-equal to the capped full recompute (equality-tested);
    # cap observability: lsh_bucket_cap_stats over the same sigs
    exploded = _capped_bucket_rows(
        _lsh_banded(sigs, n_perm, bands), ["band", "bh"], max_bucket
    ).drop("bucket_n")
    d = exploded.join(delta_ids.select("doc_id"), "doc_id", "left_semi")
    a = d.select(F.col("doc_id").alias("doc_a"), "band", "bh")
    b_ = exploded.select(F.col("doc_id").alias("doc_b"), "band", "bh")
    cand = (
        a.join(b_, ["band", "bh"])
        .filter(F.col("doc_a") != F.col("doc_b"))
        .select(
            F.least("doc_a", "doc_b").alias("doc_a"),
            F.greatest("doc_a", "doc_b").alias("doc_b"),
        )
        .distinct()
    )
    return _est_jaccard(cand, sigs, n_perm)
