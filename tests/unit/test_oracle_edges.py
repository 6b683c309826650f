"""Spark query vs DuckDB oracle on tiny hand-built tables: edge inputs the
sf corpora never produce (an empty funnel stage, a digitless source id).
Each table is written as one parquet file that both engines read."""

from __future__ import annotations

import duckdb
import pandas as pd
import pytest

from crawlspark import pipeline_queries as pq


def _both(spark, tmp_path, key: str, tables: dict[str, pd.DataFrame]):
    """(spark frame, oracle frame) of ``key`` over ``tables``, both with
    sorted columns and rows, floats rounded to 6 places."""
    con = duckdb.connect()
    for name, pdf in tables.items():
        path = f"{tmp_path}/{name}.parquet"
        pdf.to_parquet(path, index=False, coerce_timestamps="us")
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{path}'")

    def norm(df):
        df = df.reindex(sorted(df.columns), axis=1).round(6)
        return df.sort_values(list(df.columns)).reset_index(drop=True)

    got = norm(pq.QUERIES[key](spark, str(tmp_path)).toPandas())
    want = norm(con.execute(pq.ORACLE[key]).df())
    return got, want


@pytest.mark.parametrize(
    "events, stages",
    [
        # views and clicks but no purchase
        (
            [(1, "view", 10), (1, "click", 20), (2, "view", 10), (2, "click", 30)],
            {"1_view": 2, "2_click": 2, "3_purchase": 0},
        ),
        # no views at all: every stage is empty and conversion is NULL
        ([(1, "click", 10)], {"1_view": 0, "2_click": 0, "3_purchase": 0}),
    ],
)
def test_funnel_empty_stage_matches_oracle(spark, tmp_path, events, stages):
    """Both engines report all three stages, an empty one with 0 users."""
    ev = pd.DataFrame(events, columns=["user_id", "event_type", "m"])
    ev = ev.assign(ts=pd.to_datetime(ev.pop("m"), unit="m"))
    got, want = _both(spark, tmp_path, "q91_funnel", {"events": ev})
    assert dict(zip(want["stage"], want["n_users"])) == stages
    pd.testing.assert_frame_equal(got, want, check_dtype=False)


def test_nb_quality_digitless_source_matches_oracle(spark, tmp_path):
    """A source id without digits gets label 0 on both engines (its empty
    digit string failed the integer cast in both)."""
    docs = pd.DataFrame(
        {
            "doc_id": [1, 2, 3, 4],
            "source": ["src_2", "src_4", "src_1", "wiki"],
            "text": [
                "excellent wonderful prose",
                "insightful wonderful prose",
                "spam pills click",
                "cheap pills click now",
            ],
        }
    )
    got, want = _both(spark, tmp_path, "q86_nb_quality", {"documents": docs})
    assert len(want) == 4
    pd.testing.assert_frame_equal(got, want, check_dtype=False)
