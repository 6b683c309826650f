"""Property tests for the partitioned bloom / cuckoo seen-set (SURVEY.md §5.3.3):
zero false negatives, bounded false positives, permutation invariance,
cuckoo delete-then-query."""

from __future__ import annotations

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from crawlspark import seen

M, K = 1 << 14, 7


def _bits():
    return np.zeros(M // 64, dtype=np.uint64)


def _idx(keys):
    return seen._probe_indices(np.asarray(keys, dtype=np.int64), M, K)


def _insert(bits, keys):
    seen._bloom_test_and_set(bits, _idx(keys))


def _member(bits, keys):
    return seen._bloom_test(bits, _idx(keys))


@settings(max_examples=50, deadline=None)
@given(st.lists(st.integers(min_value=-(2**63), max_value=2**63 - 1), max_size=300))
def test_bloom_zero_false_negatives(keys):
    bits = _bits()
    _insert(bits, keys or [0])
    assert _member(bits, keys or [0]).all()


def test_bloom_fpp_bounded():
    rng = np.random.default_rng(42)
    inserted = rng.integers(-(2**62), 2**62, 1000, dtype=np.int64)
    probes = rng.integers(-(2**62), 2**62, 20000, dtype=np.int64)
    probes = np.setdiff1d(probes, inserted)
    bits = _bits()
    _insert(bits, inserted)
    fp = _member(bits, probes).mean()
    nominal = seen.nominal_fpp(len(inserted), M, K)
    assert fp <= max(2 * nominal, 1e-3), (fp, nominal)


def test_filter_new_permutation_invariant(spark):
    """Dedup result is invariant under input permutation + repartition."""
    import random

    keys = list(range(-500, 500)) * 2  # every key duplicated
    random.Random(7).shuffle(keys)
    df = spark.createDataFrame([(k,) for k in keys], "url_h long").repartition(13)
    st0 = seen.empty_state(spark, 8, M, K)
    new, st1 = seen.filter_new(df, st0, 8, M, K)
    got = sorted(r["url_h"] for r in new.collect())
    assert got == sorted(set(keys))
    # second pass: everything already seen
    new2, _ = seen.filter_new(df, st1, 8, M, K)
    assert new2.count() == 0
    # each shard's fpp is the nominal rate at that shard's fill
    rows = st1.collect()
    assert sum(r["n_inserted"] for r in rows) == len(set(keys))
    for r in rows:
        assert r["fpp"] == seen.nominal_fpp(r["n_inserted"], M, K)


def test_merge_states_is_union(spark):
    a_keys = [(k,) for k in range(100)]
    b_keys = [(k,) for k in range(50, 150)]
    st0 = seen.empty_state(spark, 4, M, K)
    _, sa = seen.filter_new(spark.createDataFrame(a_keys, "url_h long"), st0, 4, M, K)
    _, sb = seen.filter_new(spark.createDataFrame(b_keys, "url_h long"), st0, 4, M, K)
    merged = seen.merge_states(sa, sb, M)
    probe = spark.createDataFrame([(k,) for k in range(150)], "url_h long")
    new, _ = seen.filter_new(probe, merged, 4, M, K)
    assert new.count() == 0  # all 0..149 are members of the union


def test_cuckoo_insert_contains_delete():
    nb = 1 << 10
    t = np.zeros((nb, seen._CK_SLOTS), dtype=np.uint16)
    keys = np.arange(1, 2000, 3, dtype=np.uint64)
    assert not seen._ck_contains(t, keys, nb).any()
    seen._ck_insert(t, keys, nb)
    assert seen._ck_contains(t, keys, nb).all()
    assert seen._ck_delete(t, keys[::2], nb).all()
    assert not seen._ck_contains(t, keys[::2], nb).any()  # deleted ⇒ absent (no FP twin here)
    assert seen._ck_contains(t, keys[1::2], nb).all()  # survivors intact


def test_cuckoo_spark_roundtrip(spark):
    st0 = seen.cuckoo_empty_state(spark, 4, 1 << 10)
    # every key twice in one batch, with a payload column: each key comes
    # back once, with its payload
    twice = spark.createDataFrame(
        [(k, f"p{k}") for k in range(200)] * 2, "url_h long, payload string"
    ).repartition(5)
    new, st1 = seen.cuckoo_apply(twice, st0, 4, "insert")
    got = sorted((r["url_h"], r["payload"], r["partition_id"]) for r in new.collect())
    assert got == [(k, f"p{k}", k % 4) for k in range(200)]
    df = spark.createDataFrame([(k,) for k in range(200)], "url_h long")
    again, st2 = seen.cuckoo_apply(df, st1, 4, "insert")
    assert again.count() == 0  # all present
    # delete half, reinsert succeeds
    half = spark.createDataFrame([(k,) for k in range(0, 200, 2)], "url_h long")
    _, st3 = seen.cuckoo_apply(half, st2, 4, "delete")
    back, _ = seen.cuckoo_apply(df, st3, 4, "insert")
    assert back.count() == 100
