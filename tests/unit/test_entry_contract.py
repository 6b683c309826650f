"""Driver-contract registry guards: every oracle key maps to a registered
query, the rows-only set stays exactly the documented exceptions (a typo in
either dict silently downgrades a query to rows-only), and the counts the
docs quote match the registry."""

from __future__ import annotations

import importlib.util
import os
import re

_ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _entry():
    spec = importlib.util.spec_from_file_location(
        "spark_entry", os.path.join(_ROOT, "__spark_entry__.py")
    )
    m = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(m)
    return m


def test_every_oracle_key_has_a_query():
    m = _entry()
    q, o = m.queries(), m.oracle_sql()
    assert set(o) <= set(q), f"orphan oracle keys: {set(o) - set(q)}"


def test_rows_only_set_is_exactly_the_documented_exceptions():
    m = _entry()
    q, o = m.queries(), m.oracle_sql()
    assert set(q) - set(o) == {
        "q27_session_window",      # DuckDB lacks session_window (q47 twin is checked)
        "q32_minhash_lsh",         # xxhash64 sketch
        "q33_simhash_neardup",     # xxhash64 sketch
        "q39_multimodal_features", # binary plumbing
        "q41_ann_lsh",             # xxhash-free but numpy-bucketed (rows-only by design)
        "q73_chunk_dedup_arrow",   # xxhash64 chunk ids; bit-equality unit test
        "q76_bpe_token_count",     # BPE merge loop not SQL-expressible; parity props
    }


def test_driver_window_covers_the_freshest_keys():
    """The grading driver checks exactly the first 50 queries() entries in
    iteration order (VERDICT r3).  r5 makes the window SELF-MAINTAINING
    (VERDICT r4 "Next #1"): it is computed from the recorded
    CORRECTNESS_r*.json files, least-recently-driver-checked keys first.
    Guard the rotation invariants: 50 unique registered keys, iteration
    starts with the window, never-checked keys are always inside it, and
    max driver-row staleness is one round — every key OUTSIDE the window
    must carry a driver row from the latest recorded round."""
    m = _entry()
    win = m._DRIVER_WINDOW_FIRST
    assert len(win) == 50 and len(set(win)) == 50
    qs = list(m.queries())
    assert qs[:50] == win
    last = m._LAST_DRIVER_ROUND
    latest = max(last.values())
    never_checked = {k for k in qs if k not in last}
    assert never_checked <= set(win), (
        f"never-driver-checked keys outside the window: "
        f"{never_checked - set(win)}"
    )
    stale_out = {
        k for k in set(qs) - set(win) if last.get(k, 0) < latest
    }
    assert not stale_out, (
        f"keys rotated out without a latest-round (r{latest}) driver row — "
        f"staleness would exceed 1 round: {stale_out}"
    )


def test_query_keys_are_well_formed():
    m = _entry()
    for k in m.queries():
        assert k[0] == "q" and k[3] == "_" and k[1:3].isdigit(), k


def test_docs_quote_the_registry_counts():
    """The key counts quoted in COVERAGE.md and README.md (DuckDB-checked,
    rows-only, total) must equal the registry's, so they cannot drift."""
    m = _entry()
    n_total, n_checked = len(m.queries()), len(m.oracle_sql())
    want = {
        r"\b(\d+) DuckDB[- ]": n_checked,
        r"\b(\d+) rows-only": n_total - n_checked,
        r"\b(\d+) (?:total|driver queries)": n_total,
    }
    for name in ("COVERAGE.md", "README.md"):
        with open(os.path.join(_ROOT, name)) as fh:
            text = " ".join(fh.read().split())
        for pattern, n in want.items():
            quoted = [int(x) for x in re.findall(pattern, text)]
            assert quoted, f"{name} quotes no count for {pattern!r}"
            assert set(quoted) == {n}, f"{name}: {pattern!r} quotes {quoted}, registry has {n}"
