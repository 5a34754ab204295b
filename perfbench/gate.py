"""Oracle gate: the DuckDB ``kg`` oracle and the exact comparison rule.

The oracle is ``__spark_entry__.oracle_sql()["kg"]`` run over the
generated ``documents.parquet`` alone. A collected Spark KG matches it
under the ``tests/compare_util.compare_frames`` rule: same column set,
rows sorted on every column (sorted by name), then
``assert_frame_equal(check_dtype=True, check_exact=True)``. The Spark
side drops ``max_score`` first, as the ``kg`` query of
``__spark_entry__`` does: the raw RNN posterior is the one quantity SQL
cannot reproduce.
"""

from __future__ import annotations

import duckdb
import pandas as pd


def oracle_kg(corpus_dir: str) -> pd.DataFrame:
    """The oracle KG for the corpus in ``corpus_dir``."""
    import __spark_entry__

    con = duckdb.connect()
    try:
        con.sql(
            f"CREATE VIEW documents AS SELECT * FROM '{corpus_dir}/documents.parquet'"
        )
        return con.sql(__spark_entry__.oracle_sql()["kg"]).df()
    finally:
        con.close()


def _sorted(df: pd.DataFrame) -> pd.DataFrame:
    cols = sorted(df.columns)
    return df[cols].sort_values(cols).reset_index(drop=True)


def frames_equal(a: pd.DataFrame, b: pd.DataFrame) -> bool:
    """Order-insensitive, dtype- and value-exact equality."""
    if sorted(a.columns) != sorted(b.columns) or len(a) != len(b):
        return False
    try:
        pd.testing.assert_frame_equal(
            _sorted(a), _sorted(b), check_dtype=True, check_exact=True
        )
    except AssertionError:
        return False
    return True


def kg_matches(kg: pd.DataFrame, oracle: pd.DataFrame) -> bool:
    """True when a collected KG (with ``max_score``) equals the oracle."""
    return frames_equal(kg.drop(columns=["max_score"]), oracle)
