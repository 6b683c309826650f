"""Independent expected outputs for the benchmark's output checks.

None of this calls Spark: the frontier schedule follows in closed form from
the generator, the crawl comes from the frozen sequential oracle
(tests/oracle_ref.py), and the near-duplicate pairs and components are
recomputed with plain Python sets.  The near-dup reference is also
cross-checked against the repository's DuckDB oracle SQL (q31/q45) by
``duckdb_neardup``, which the benchmark's smoke test runs.

    python3 perfbench/reference.py --pin     # refresh pinned_crawl.json
"""

from __future__ import annotations

import hashlib
import json
import os
import sys

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PINNED_CRAWL = os.path.join(HERE, "pinned_crawl.json")


def _sha(lines) -> str:
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()


# --------------------------------------------------------------- frontier


def frontier_digest(n_urls: int, salt: int, n_hosts: int, take_k: int) -> tuple:
    """(rows, min seq, max seq, distinct seqs, sum uid, sum seq*uid) of the
    scheduled batch.  Mirrors Frontier.synth: distinct URLs are uid
    0..base-1; the host is the hot host when (uid+salt)%10 == 0 else
    h{(uid+salt)%n_hosts}; (uid+salt)%20 == 19 is robots-blocked.  Every
    row has the same priority/depth/page_offset and listing_rank = uid, so
    each host keeps its take_k smallest allowed uids, and crawl_seq numbers
    the kept uids in ascending order from 1."""
    base = int(n_urls * (1 - 0.2))
    uid = np.arange(base, dtype=np.int64)
    key = uid + salt
    host = np.where(key % 10 == 0, -1, key % n_hosts)
    uid, host = uid[key % 20 != 19], host[key % 20 != 19]
    kept = []
    for h in np.unique(host):
        kept.append(uid[host == h][:take_k])  # uid is ascending within a host
    s = np.sort(np.concatenate(kept))
    n = len(s)
    seq = np.arange(1, n + 1, dtype=np.int64)
    return (n, 1, n, n, int(s.sum()), int((seq * s).sum()))


# ------------------------------------------------------------------ crawl


def order_digest(seq_url) -> str:
    return _sha(f"{s}\t{u}" for s, u in seq_url)


def seen_digest(hashes) -> str:
    return _sha(str(h) for h in sorted(hashes))


def _run_crawl_oracle(n_hotels: int) -> dict:
    sys.path.insert(0, os.path.join(ROOT, "tests"))
    try:
        from oracle_ref import run_oracle
    finally:
        sys.path.remove(os.path.join(ROOT, "tests"))
    res = run_oracle(n_hotels)
    return {
        "pages": len(res.crawl_order),
        "order": order_digest(res.crawl_order),
        "seen": seen_digest(res.seen),
    }


def crawl_oracle_digests(n_hotels: int, cache_dir: str | None = None) -> dict:
    """Oracle digests for ``n_hotels``: pinned in pinned_crawl.json for the
    default-scale sizes, else computed once and cached under cache_dir."""
    key = str(n_hotels)
    pinned = {}
    if os.path.exists(PINNED_CRAWL):
        with open(PINNED_CRAWL) as fh:
            pinned = json.load(fh)
    if key in pinned:
        return pinned[key]
    cache = os.path.join(cache_dir, "crawl_oracle.json") if cache_dir else None
    cached = {}
    if cache and os.path.exists(cache):
        with open(cache) as fh:
            cached = json.load(fh)
    if key not in cached:
        cached[key] = _run_crawl_oracle(n_hotels)
        if cache:
            os.makedirs(cache_dir, exist_ok=True)
            with open(cache, "w") as fh:
                json.dump(cached, fh, sort_keys=True)
    return cached[key]


# ---------------------------------------------------------------- neardup

FAMILY = 5
DOC_WORDS = 200
MUTATION = 0.03  # near copies: Jaccard ~0.7, always kept
DISTANT = 0.3  # last member: Jaccard ~0.2, a candidate the threshold rejects
VOCAB = 200_000
BOILERPLATE = "copyright all rights reserved"


def neardup_corpus(n_docs: int, seed: int) -> list[tuple[int, str]]:
    """Documents in families of FAMILY copies of a random base text, every
    word of a copy independently replaced by a random word from a
    VOCAB-word vocabulary with probability MUTATION (DISTANT for the
    family's last copy), behind a boilerplate head shared by every
    document (its shingles exceed any max_df and must be cut).  The near
    copies form cliques, so the components converge in the same number of
    rounds for every seed."""
    rng = np.random.default_rng(seed)
    rows = []
    n_fam = -(-n_docs // FAMILY)
    for f in range(n_fam):
        base = rng.integers(0, VOCAB, DOC_WORDS)
        for m in range(FAMILY):
            i = f * FAMILY + m
            if i >= n_docs:
                break
            rate = DISTANT if m == FAMILY - 1 else MUTATION
            words = np.where(rng.random(DOC_WORDS) < rate, rng.integers(0, VOCAB, DOC_WORDS), base)
            rows.append((i, BOILERPLATE + " " + " ".join(f"w{w}" for w in words)))
    order = rng.permutation(len(rows))  # families are not contiguous by doc_id
    return [(int(j), rows[k][1]) for j, k in enumerate(order)]


def neardup_pairs(rows, n: int, max_df: int, threshold: float) -> list[tuple[int, int, int]]:
    """(doc_a, doc_b, n_shared) with doc_a < doc_b for every pair whose
    shingle Jaccard |A∩B| / |A∪B| >= threshold, counting shared shingles
    only among those in at most max_df documents (set sizes count all)."""
    sets = {}
    for doc, text in rows:
        w = text.lower().split()
        sets[doc] = {tuple(w[i : i + n]) for i in range(len(w) - n + 1)}
    index: dict[tuple, list[int]] = {}
    for doc, shs in sets.items():
        for s in shs:
            index.setdefault(s, []).append(doc)
    shared: dict[tuple[int, int], int] = {}
    for docs in index.values():
        if 1 < len(docs) <= max_df:
            docs = sorted(docs)
            for i, a in enumerate(docs):
                for b in docs[i + 1 :]:
                    shared[(a, b)] = shared.get((a, b), 0) + 1
    out = []
    for (a, b), k in shared.items():
        union = len(sets[a]) + len(sets[b]) - k
        if k >= threshold * union:
            out.append((a, b, k))
    return sorted(out)


def components(pairs) -> list[tuple[int, int]]:
    """(doc_id, label = smallest doc_id of its component) for every doc
    in some pair."""
    parent: dict[int, int] = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b, *_ in pairs:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return sorted((d, find(d)) for d in parent)


def pairs_digest(pairs) -> str:
    return _sha(f"{a},{b},{k}" for a, b, k, *_ in sorted(pairs))


def labels_digest(labels) -> str:
    return _sha(f"{d},{l}" for d, l in sorted(labels))


def neardup_digests(rows, n: int, max_df: int, threshold: float) -> tuple[str, str]:
    pairs = neardup_pairs(rows, n, max_df, threshold)
    return pairs_digest(pairs), labels_digest(components(pairs))


def duckdb_neardup(rows, work_dir: str) -> tuple[str, str]:
    """The same two digests from the q31/q45 DuckDB oracle SQL, run over
    the corpus written as documents.parquet."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from crawlspark.pipeline_queries import ORACLE

    os.makedirs(work_dir, exist_ok=True)
    path = os.path.join(work_dir, "documents.parquet")
    pq.write_table(
        pa.table({"doc_id": [r[0] for r in rows], "text": [r[1] for r in rows]}), path
    )
    con = duckdb.connect()
    try:
        con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{path}')")
        pairs = con.execute(ORACLE["q31_jaccard_shingles"]).fetchall()
        labels = con.execute(ORACLE["q45_neardup_components"]).fetchall()
    finally:
        con.close()
    return (
        pairs_digest((int(a), int(b), int(k)) for a, b, k, _ in pairs),
        labels_digest((int(d), int(l)) for d, l in labels),
    )


if __name__ == "__main__":
    if sys.argv[1:] != ["--pin"]:
        sys.exit("usage: python3 perfbench/reference.py --pin")
    sys.path.insert(0, ROOT)
    from perfbench.workloads import Crawl

    sizes = range(Crawl.min_hotels(1.0), Crawl.max_hotels(1.0) + 1)
    pinned = {str(h): _run_crawl_oracle(h) for h in sizes}
    with open(PINNED_CRAWL, "w") as fh:
        json.dump(pinned, fh, indent=0, sort_keys=True)
    print(f"pinned {len(pinned)} crawl sizes -> {PINNED_CRAWL}")
