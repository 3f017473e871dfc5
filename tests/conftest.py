from __future__ import annotations

import duckdb
import pandas as pd
import pytest

from realtime_datawarehouse_spark.session import build_session
from realtime_datawarehouse_spark.tables import TABLE_NAMES

SF_DIR = "/root/testdata/sf0.001"
SF_DIR_MID = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    s = build_session(app_name="rdw-tests", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def duck():
    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'"
        )
    yield con
    con.close()


def assert_matches_oracle(
    spark_df, duck_con, oracle: str, atol: float = 1e-6
) -> None:
    """Replicates the driver's t2 compare: sort columns by name, check row
    count and values order-insensitively (rows sorted by every column)."""
    got = spark_df.toPandas()
    exp = duck_con.execute(oracle).fetchdf()
    got = got.reindex(sorted(got.columns), axis=1)
    exp = exp.reindex(sorted(exp.columns), axis=1)
    assert list(got.columns) == list(exp.columns), (
        f"column mismatch: {list(got.columns)} vs {list(exp.columns)}"
    )
    assert len(got) == len(exp), f"row count {len(got)} != {len(exp)}"
    if len(exp) == 0:
        return
    got = got.sort_values(by=list(got.columns)).reset_index(drop=True)
    exp = exp.sort_values(by=list(exp.columns)).reset_index(drop=True)
    for c in exp.columns:
        e = exp[c]
        g = got[c]
        if pd.api.types.is_float_dtype(e) or pd.api.types.is_float_dtype(g):
            pd.testing.assert_series_equal(
                g.astype("float64"),
                e.astype("float64"),
                check_names=False,
                rtol=0,
                atol=atol,
            )
        else:
            assert g.astype(str).tolist() == e.astype(str).tolist(), (
                f"value mismatch in column {c}"
            )
