"""Shared Spark-vs-DuckDB comparison helper for oracle parity tests."""

from __future__ import annotations

import duckdb
import pandas as pd

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]


def duck_con(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def compare_frames(spark_df, con, sql: str) -> dict:
    """Non-raising variant of :func:`assert_frames_match` returning the
    driver-harness row shape (rows/schema/hash match flags + counts).
    Used by ``jobs/parity_self.py`` to record ``PARITY_SELF.json``.

    STRICT since round 5: the driver hashes exact values after sorting
    columns by name, so ``5`` (int64) and ``5.0`` (float64, e.g. DuckDB
    HUGEINT materialized by pandas) must NOT compare equal here.  Round 4
    shipped 8 driver-RED rows precisely because this gate was
    ``check_dtype=False`` with default rtol while PARITY_SELF claimed
    218/218 green.  ``check_dtype=True, check_exact=True`` makes the
    self-gate at least as strict as the driver's hash."""
    spd = spark_df.toPandas()
    dpd = con.sql(sql).df()
    schema_match = sorted(spd.columns) == sorted(dpd.columns)
    rows_match = len(spd) == len(dpd)
    hash_match = False
    err = None
    if schema_match and rows_match:
        try:
            cols = sorted(spd.columns)
            a = spd[cols].sort_values(cols).reset_index(drop=True)
            b = dpd[cols].sort_values(cols).reset_index(drop=True)
            pd.testing.assert_frame_equal(
                a, b, check_dtype=True, check_exact=True
            )
            hash_match = True
        except AssertionError as exc:
            err = str(exc)[:300]
    return {
        "rows_match": rows_match,
        "schema_match": schema_match,
        "hash_match": hash_match,
        "spark_rows": len(spd),
        "oracle_rows": len(dpd),
        "err": err,
    }


def assert_frames_match(spark_df, con, sql: str) -> pd.DataFrame:
    """Order-insensitive, dtype- and value-EXACT equality of a Spark
    DataFrame against a DuckDB query (at least as strict as the driver's
    correctness hash — see :func:`compare_frames`)."""
    spd = spark_df.toPandas()
    dpd = con.sql(sql).df()
    assert sorted(spd.columns) == sorted(dpd.columns), (
        f"columns differ: {sorted(spd.columns)} vs {sorted(dpd.columns)}"
    )
    cols = sorted(spd.columns)
    spd = spd[cols].sort_values(cols).reset_index(drop=True)
    dpd = dpd[cols].sort_values(cols).reset_index(drop=True)
    assert len(spd) == len(dpd), f"row counts differ: {len(spd)} vs {len(dpd)}"
    pd.testing.assert_frame_equal(spd, dpd, check_dtype=True, check_exact=True)
    return spd


def assert_candidates_match_reference(mentions, max_k: int) -> pd.DataFrame:
    """Both candidate-pair generators against DuckDB's all-pairs
    reference (``duck_candidates_cte``) over the same mention rows:
    every column, sorted, dtype- and value-exact. ``candidate_pairs``
    must equal the reference row for row; ``candidate_pairs_fast`` must
    hold the same pairs under its ``conv#e1#e2`` cand_id. Returns the
    reference rows."""
    from cross_sentence_relation_extraction_idepnn_spark.operators.candidates import (
        candidate_pairs,
        candidate_pairs_fast,
        duck_candidates_cte,
    )

    con = duckdb.connect()
    con.register("mentions", mentions.toPandas())
    ref = con.sql(duck_candidates_cte(max_k)).df()

    def exact(got: pd.DataFrame, want: pd.DataFrame) -> None:
        assert sorted(got.columns) == sorted(want.columns)
        cols = sorted(want.columns)
        pd.testing.assert_frame_equal(
            got[cols].sort_values(cols).reset_index(drop=True),
            want[cols].sort_values(cols).reset_index(drop=True),
            check_dtype=True,
            check_exact=True,
        )

    exact(candidate_pairs(mentions, max_k).toPandas(), ref)
    fast_ref = ref.drop(columns=["cand_seq"]).assign(
        cand_id=ref.conv_id + "#" + ref.e1_id + "#" + ref.e2_id
    )
    exact(candidate_pairs_fast(mentions, max_k).toPandas(), fast_ref)
    return ref
