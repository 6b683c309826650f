"""URL-seen set (SURVEY.md §2 D1-D4, J1/J5) — the heart of the engine.

The reference keeps an in-memory Python set (BASELINE.json:6).  At 10^10 URLs
that is ~80 GB of raw hashes; the engine instead keeps a *partitioned bloom
filter* — P shards of an m-bit array stored as one `binary` row each, pinned
to hash partitions (shard i owns url_h residues pmod(url_h, P) == i), probed
and updated by vectorized numpy inside grouped-map pandas UDFs (Arrow
batches, no per-row Python).  A cuckoo filter provides the delete-capable
fallback (re-crawl support).

One probe kernel, one shard plumbing.  The bloom word/bit arithmetic lives
only here: `_probe_indices` (k double-hashed bit indices per key), then
`_bloom_test` (member mask) or `_bloom_test_and_set` (member mask, then set
the non-members' bits).  filter_new, streaming.seen_filter_stream and
dedup's bench-shingle prefilter all call them.  filter_new and cuckoo_apply
share one shard-pinned cogroup (`_shard_cogroup`); each passes only its
per-shard kernel and its state schema.

The empty states (`empty_state`, `cuckoo_empty_state`) are JVM plans over
`spark.range(p)`: the executors emit the p shard rows, and the one m/8-byte
zero blob is a constant of the plan, so bootstrap starts no Python task and
never builds p x m/8 bytes on the driver (~12 GB at the design point below).

Sizing math for the 10^10 design point (BASELINE.md): 1% FPP needs ~9.6
bits/key -> ~12 GB of bits total -> 4096 partitions x ~2.9 MB blobs; each
blob is a single Arrow binary cell well under batch limits.  The fixtures use
P=16, m=2^17, k=7 (FIXTURES.md §5) — FPP at the 100-hotel scale ~1e-10, so
oracle-equality tests are deterministic in practice, and property tests
guarantee ZERO false negatives.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

STATE_SCHEMA = T.StructType(
    [
        T.StructField("partition_id", T.IntegerType(), False),
        T.StructField("bloom_bits", T.BinaryType(), False),
        T.StructField("n_inserted", T.LongType(), False),
        T.StructField("fpp", T.DoubleType(), False),
    ]
)

_SPLITMIX_1 = np.uint64(0xBF58476D1CE4E5B9)
_SPLITMIX_2 = np.uint64(0x94D049BB133111EB)


def _mix64(u: np.ndarray) -> np.ndarray:
    """splitmix64 finalizer — derives the second probe stride from url_h so
    all k probes come from the one 64-bit hash (J1: no string re-hashing)."""
    with np.errstate(over="ignore"):
        z = u.copy()
        z ^= z >> np.uint64(30)
        z *= _SPLITMIX_1
        z ^= z >> np.uint64(27)
        z *= _SPLITMIX_2
        z ^= z >> np.uint64(31)
    return z


def _probe_indices(url_h: np.ndarray, m: int, k: int) -> np.ndarray:
    """(rows, k) bit indices via double hashing: idx_i = h1 + i*h2 mod m."""
    u = url_h.astype(np.int64).view(np.uint64)
    h2 = _mix64(u) | np.uint64(1)
    i = np.arange(k, dtype=np.uint64)
    with np.errstate(over="ignore"):
        idx = u[:, None] + i[None, :] * h2[:, None]
    return (idx % np.uint64(m)).astype(np.uint64)


def _bits_from_blob(blob, m: int) -> np.ndarray:
    if blob is None:
        return np.zeros(m // 64, dtype=np.uint64)
    return np.frombuffer(bytes(blob), dtype=np.uint64).copy()


def nominal_fpp(n: int, m: int, k: int) -> float:
    return (1.0 - math.exp(-k * n / m)) ** k


def _bloom_word_bit(idx: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    return idx >> np.uint64(6), idx & np.uint64(63)


def _bloom_test(bits: np.ndarray, idx: np.ndarray) -> np.ndarray:
    """Member mask of the keys whose probe indices are `idx` (rows, k)."""
    word, bit = _bloom_word_bit(idx)
    return ((bits[word] >> bit) & np.uint64(1)).all(axis=1)


def _bloom_test_and_set(bits: np.ndarray, idx: np.ndarray) -> np.ndarray:
    """Member mask against the pre-insert `bits`; then set (in place) the
    bits of the non-members.  Callers dedup keys first when the mask is a
    set decision: two copies of a new key both test as non-members."""
    member = _bloom_test(bits, idx)
    word, bit = _bloom_word_bit(idx[~member])
    np.bitwise_or.at(bits, word.ravel(), np.uint64(1) << bit.ravel())
    return member


def _shard_cogroup(
    df: DataFrame, state: DataFrame, p: int, state_schema: T.StructType, kernel
) -> tuple[DataFrame, DataFrame]:
    """One cogrouped pass per shard, shared by every partitioned seen-set.
    Data and state meet on the same pmod(url_h, P) partitioning — shard-local
    by construction, no broadcast of state, no driver round-trip.

    `kernel(u, state_pdf) -> (emit_mask, state_values)` sees the shard's
    within-batch-deduped keys `u` (uint64) and its state rows (empty when the
    shard has none); it returns which rows to emit and the new state columns
    of `state_schema` (everything but partition_id).  Returns (rows, state):
    rows keeps all input columns plus partition_id."""
    in_cols = df.columns
    st_fields = [f for f in state_schema.fields if f.name != "partition_id"]
    st_cols = ["_s_" + f.name for f in st_fields]
    # state-marker rows carry nulls in the data columns (and data rows in
    # the state columns): force nullability
    out_schema = T.StructType(
        [T.StructField(f.name, f.dataType, True) for f in df.schema.fields]
        + [
            T.StructField("partition_id", T.IntegerType()),
            T.StructField("_is_state", T.BooleanType()),
        ]
        + [T.StructField(c, f.dataType, True) for c, f in zip(st_cols, st_fields)]
    )
    out_cols = out_schema.fieldNames()

    def fn(key, left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        pid = int(key[0])
        frames = []
        if len(left):
            # within-batch duplicates: membership is tested against the
            # pre-insert state, so dedup first (the filter is a set op)
            left = left.drop_duplicates(subset=["url_h"])
            u = left["url_h"].to_numpy().astype(np.int64).view(np.uint64)
        else:
            u = np.zeros(0, dtype=np.uint64)
        emit, st = kernel(u, right)
        if len(left):
            # no state columns on data rows: concat fills them with nulls
            frames.append(left.loc[emit].assign(partition_id=pid, _is_state=False))
        frames.append(
            pd.DataFrame(
                [{c: None for c in in_cols}
                 | {"partition_id": pid, "_is_state": True}
                 | {"_s_" + name: v for name, v in st.items()}]
            )
        )
        return pd.concat(frames, ignore_index=True)[out_cols]

    keyed = df.withColumn("partition_id", F.pmod(F.col("url_h"), F.lit(p)).cast("int"))
    # materialize the one cogrouped pass, then serve BOTH outputs (rows +
    # updated shard state) from the pinned blocks — a persist() here would
    # leak a cached frame per call for the session lifetime
    res = (
        keyed.groupBy("partition_id")
        .cogroup(state.groupBy("partition_id"))
        .applyInPandas(fn, out_schema)
    ).localCheckpoint()
    rows = res.filter(~F.col("_is_state")).select(*in_cols, "partition_id")
    new_state = res.filter(F.col("_is_state")).select(
        "partition_id", *[F.col(c).alias(f.name) for c, f in zip(st_cols, st_fields)]
    )
    return rows, new_state


def _zero_blob(nbytes: int):
    """`nbytes` zero bytes as a non-null binary column."""
    return F.repeat(F.lit("\x00"), nbytes).cast("binary")


def empty_state(spark, p: int, m: int = 1 << 17, k: int = 7) -> DataFrame:
    """P empty shards (STATE_SCHEMA, nullability included) as a JVM plan:
    no Python task, and no p x m/8 bytes built on the driver."""
    return spark.range(p).select(
        F.col("id").cast("int").alias("partition_id"),
        _zero_blob(m // 8).alias("bloom_bits"),
        F.lit(0).cast("long").alias("n_inserted"),
        F.lit(0.0).alias("fpp"),
    )


def filter_new(
    df: DataFrame, state: DataFrame, p: int, m: int = 1 << 17, k: int = 7
) -> tuple[DataFrame, DataFrame]:
    """Membership-test the incoming url_h against each shard's bit array,
    emit the rows judged NEW (inserting them), and emit the updated shard
    blobs with their nominal fpp at the new fill.

    Returns (new_rows_df, new_state_df).  new_rows_df keeps all input
    columns.  Bloom guarantees: no false negatives (a URL is never judged
    new twice); false positives drop a never-seen URL with probability
    `fpp` — acceptable for crawl dedup, and the cuckoo variant (below)
    supports deletes where exactness matters.
    """

    def kernel(u: np.ndarray, right: pd.DataFrame):
        bits = _bits_from_blob(right["bloom_bits"].iloc[0] if len(right) else None, m)
        n_ins = int(right["n_inserted"].iloc[0]) if len(right) else 0
        new = ~_bloom_test_and_set(bits, _probe_indices(u, m, k))
        n_ins += int(new.sum())
        return new, {
            "bloom_bits": bits.tobytes(),
            "n_inserted": n_ins,
            "fpp": nominal_fpp(n_ins, m, k),
        }

    return _shard_cogroup(df, state, p, STATE_SCHEMA, kernel)


def merge_states(a: DataFrame, b: DataFrame, m: int = 1 << 17) -> DataFrame:
    """UDAF-equivalent (J5): OR the shard bit arrays of two states."""

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        bits = np.zeros(m // 64, dtype=np.uint64)
        for blob in pdf["bloom_bits"]:
            bits |= _bits_from_blob(blob, m)
        return pd.DataFrame(
            [
                {
                    "partition_id": int(pdf["partition_id"].iloc[0]),
                    "bloom_bits": bits.tobytes(),
                    "n_inserted": int(pdf["n_inserted"].max()),
                    "fpp": float(pdf["fpp"].max()),
                }
            ]
        )

    return (
        a.unionByName(b).groupBy("partition_id").applyInPandas(fn, STATE_SCHEMA)
    )


# ---------------------------------------------------------------------------
# exact dedup (D1/E1) — small scale + the oracle of the bloom path
# ---------------------------------------------------------------------------


def dedup_exact(df: DataFrame, seen_keys: DataFrame) -> DataFrame:
    """dropDuplicates within the batch + left-anti join against the seen
    keys (url_h).  This is the test oracle for the bloom path and the right
    plan below ~10^8 URLs (AQE picks broadcast/SMJ as sizes dictate)."""
    return df.dropDuplicates(["url_h"]).join(
        seen_keys.select("url_h"), "url_h", "left_anti"
    )


# ---------------------------------------------------------------------------
# cuckoo filter (D3) — delete-capable seen-set for re-crawls
# ---------------------------------------------------------------------------
# Standard partial-key cuckoo hashing (Fan et al., CoNEXT'14 — public).
# Table = (n_buckets, 4) uint16 fingerprints, 0 = empty.  All batch ops
# (fingerprint, bucket probe, membership, slot placement, deletion) are
# vectorized numpy over the whole Arrow batch — per-row Python survives ONLY
# in the rare kick-chain fallback (a key whose two buckets are both full).
#
# Capacity contract: size n_buckets for load factor <= ~0.95 (cuckoo's
# practical fill limit).  A key whose kick chain exhausts (table full) is
# NOT stored — for a seen-set that means the URL could be admitted twice
# later, so the engine freezes the sharding geometry in the wave-0 manifest
# and the fixtures size shards at ~100x the crawl's key count.

_CK_SLOTS = 4
_CK_MAX_KICKS = 200


def _ck_fp(u: np.ndarray) -> np.ndarray:
    """uint16 fingerprint per key (0 remapped to 1: 0 means empty slot)."""
    f = ((u ^ (u >> np.uint64(32))) & np.uint64(0xFFFF)).astype(np.uint16)
    f[f == 0] = 1
    return f


def _ck_alt(b: np.ndarray, fp: np.ndarray, nb: int) -> np.ndarray:
    """Partner bucket: b XOR (mix64(fp) mod nb), mod nb — an involution, so
    either bucket recovers the other during kicks."""
    h = _mix64(fp.astype(np.uint64))
    return (b ^ (h % np.uint64(nb))) % np.uint64(nb)


def _cumcount(keys: np.ndarray) -> np.ndarray:
    """Occurrence rank of each element within its equal-key group (vectorized
    groupby-cumcount): two same-bucket keys get ranks 0 and 1, so they claim
    DIFFERENT empty slots in the batched scatter below."""
    order = np.argsort(keys, kind="stable")
    sk = keys[order]
    newgrp = np.r_[True, sk[1:] != sk[:-1]] if len(sk) else np.zeros(0, dtype=bool)
    starts = np.flatnonzero(newgrp)
    gid = np.cumsum(newgrp) - 1
    c_sorted = np.arange(len(sk)) - starts[gid] if len(sk) else np.zeros(0, dtype=np.int64)
    c = np.empty(len(keys), dtype=np.int64)
    c[order] = c_sorted
    return c


def _ck_contains(t: np.ndarray, u: np.ndarray, nb: int) -> np.ndarray:
    fp = _ck_fp(u)
    b1 = u % np.uint64(nb)
    b2 = _ck_alt(b1, fp, nb)
    i1, i2 = b1.astype(np.int64), b2.astype(np.int64)
    return (t[i1] == fp[:, None]).any(axis=1) | (t[i2] == fp[:, None]).any(axis=1)


def _ck_kick(t: np.ndarray, u: int, fp: int, b: int, nb: int) -> bool:
    """Kick chain for one key whose buckets are full (rare).  Deterministic
    per key: the victim-slot RNG is seeded from the key."""
    rng = np.random.default_rng(u & 0xFFFFFFFF)
    for _ in range(_CK_MAX_KICKS):
        slot = int(rng.integers(_CK_SLOTS))
        fp, t[b, slot] = int(t[b, slot]), fp
        b = int(
            _ck_alt(np.array([b], dtype=np.uint64), np.array([fp], dtype=np.uint16), nb)[0]
        )
        empt = np.flatnonzero(t[b] == 0)
        if len(empt):
            t[b, empt[0]] = fp
            return True
    return False  # table full


def _ck_insert(t: np.ndarray, u: np.ndarray, nb: int) -> None:
    """Batch-insert keys (callers pass keys already known absent, deduped).
    Two vectorized placement rounds (bucket 1, then bucket 2): within each
    round a key claims the c-th empty slot of its bucket, c = its occurrence
    rank among this batch's keys targeting that bucket — collision-free by
    construction.  Leftovers (both buckets full) go to the kick chain."""
    if not len(u):
        return
    fp = _ck_fp(u)
    b1 = u % np.uint64(nb)
    b2 = _ck_alt(b1, fp, nb)
    pending = np.arange(len(u))
    for buck_all in (b1, b2):
        if not len(pending):
            break
        bb = buck_all[pending].astype(np.int64)
        c = _cumcount(bb)
        cum = (t[bb] == 0).cumsum(axis=1)
        has = cum[:, -1] > c
        pos = np.argmax(cum == (c + 1)[:, None], axis=1)
        sel = pending[has]
        t[bb[has], pos[has]] = fp[sel]
        pending = pending[~has]
    for i in pending:  # rare: kick chains only
        _ck_kick(t, int(u[i]), int(fp[i]), int(b1[i]), nb)


def _ck_delete(t: np.ndarray, u: np.ndarray, nb: int) -> np.ndarray:
    """Batch-delete: clear one matching fingerprint slot per key (bucket 1
    first, then bucket 2).  Same cumcount trick, grouped by (bucket, fp), so
    two distinct keys sharing a fingerprint+bucket clear DIFFERENT slots.
    Returns the per-key found mask."""
    if not len(u):
        return np.zeros(0, dtype=bool)
    fp = _ck_fp(u)
    b1 = u % np.uint64(nb)
    b2 = _ck_alt(b1, fp, nb)
    found = np.zeros(len(u), dtype=bool)
    remaining = np.arange(len(u))
    for buck_all in (b1, b2):
        if not len(remaining):
            break
        bb = buck_all[remaining].astype(np.int64)
        fps = fp[remaining]
        key = (bb.astype(np.uint64) << np.uint64(16)) | fps.astype(np.uint64)
        c = _cumcount(key)
        cum = (t[bb] == fps[:, None]).cumsum(axis=1)
        has = cum[:, -1] > c
        pos = np.argmax(cum == (c + 1)[:, None], axis=1)
        t[bb[has], pos[has]] = 0
        found[remaining[has]] = True
        remaining = remaining[~has]
    return found


CUCKOO_STATE_SCHEMA = T.StructType(
    [
        T.StructField("partition_id", T.IntegerType(), False),
        T.StructField("table", T.BinaryType(), False),
        T.StructField("n_buckets", T.IntegerType(), False),
    ]
)


def cuckoo_empty_state(spark, p: int, n_buckets: int = 1 << 13) -> DataFrame:
    """P empty cuckoo tables (CUCKOO_STATE_SCHEMA) as a JVM plan, like
    empty_state."""
    return spark.range(p).select(
        F.col("id").cast("int").alias("partition_id"),
        _zero_blob(n_buckets * _CK_SLOTS * 2).alias("table"),
        F.lit(n_buckets).alias("n_buckets"),
    )


def cuckoo_apply(
    df: DataFrame, state: DataFrame, p: int, op: str
) -> tuple[DataFrame, DataFrame]:
    """Cuckoo op per shard over the same shard-pinned cogroup as the bloom.
    op='insert' returns rows that were NOT already present (and inserts
    them); op='delete' removes the rows' fingerprints and returns every row."""
    assert op in ("insert", "delete")

    def kernel(u: np.ndarray, right: pd.DataFrame):
        nb = int(right["n_buckets"].iloc[0]) if len(right) else 1 << 13
        t = (
            np.frombuffer(bytes(right["table"].iloc[0]), dtype=np.uint16).reshape(nb, _CK_SLOTS).copy()
            if len(right)
            else np.zeros((nb, _CK_SLOTS), dtype=np.uint16)
        )
        if op == "insert":
            emit = ~_ck_contains(t, u, nb)
            _ck_insert(t, u[emit], nb)
        else:
            _ck_delete(t, u, nb)
            emit = np.ones(len(u), dtype=bool)
        return emit, {"table": t.tobytes(), "n_buckets": nb}

    return _shard_cogroup(df, state, p, CUCKOO_STATE_SCHEMA, kernel)


def distinct_urls(df: DataFrame, exact: bool = False):
    """D4 metrics: distinct URL count (approx by default at scale)."""
    agg = F.countDistinct("url_h") if exact else F.approx_count_distinct("url_h")
    return df.agg(agg.alias("distinct_urls"))
