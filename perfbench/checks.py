"""Output checks, run outside the timed region.

Everything is checked against DuckDB over the same parquet fixtures. Each
check returns a list of mismatch messages (empty = correct); every
mismatch counts as one failed operation.
"""

from __future__ import annotations

import math
import os

import duckdb
import numpy as np

REL_TOL = 1e-9


def _close(a: float, b: float) -> bool:
    return math.isclose(a, b, rel_tol=REL_TOL, abs_tol=1e-6)


TABLES = (
    "region nation customer supplier part orders lineitem events documents "
    "embeddings"
).split()


def _duck(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{os.path.join(sf_dir, t + '.parquet')}')"
        )
    return con


def warehouse(
    sf_dir: str, out_dir: str, gmv: dict[str, float]
) -> list[str]:
    """ADS gmv per date and the DWS ``sku_order`` row count and amount
    sum, each against DuckDB over the fixtures."""
    con = _duck(sf_dir)
    bad = []
    for dt, got in gmv.items():
        (want,) = con.execute(
            "SELECT coalesce(sum(l_quantity * l_extendedprice), 0) FROM lineitem "
            "JOIN orders ON l_orderkey = o_orderkey "
            "WHERE strftime(o_orderdate, '%Y-%m-%d') = ?",
            [dt],
        ).fetchone()
        if not _close(got, want):
            bad.append(f"ads gmv {dt}: {got} != {want}")
    sku = os.path.join(out_dir, "dws", "sku_order", "*.parquet")
    got_n, got_sum = con.execute(
        f"SELECT count(*), sum(original_amount) FROM read_parquet('{sku}')"
    ).fetchone()
    want_n, want_sum = con.execute(
        "SELECT count(DISTINCT l_partkey), sum(l_quantity * l_extendedprice) "
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey"
    ).fetchone()
    if got_n != want_n or not _close(got_sum, want_sum):
        bad.append(f"dws sku_order: ({got_n}, {got_sum}) != ({want_n}, {want_sum})")
    return bad


def serving(sf_dir: str, replies: list[tuple[str, str, dict]]) -> list[str]:
    """Every /gmv and /province payload against DuckDB. The service rounds
    money to cents, so values agree to within a cent."""
    con = _duck(sf_dir)
    bad = []
    for route, date, body in replies:
        if route == "gmv":
            (want,) = con.execute(
                "SELECT coalesce(sum(o_totalprice), 0) FROM orders "
                "WHERE strftime(o_orderdate, '%Y%m%d') = ?",
                [date],
            ).fetchone()
            ok = body.get("status") == 0 and math.isclose(body["data"], want, abs_tol=0.011)
        else:
            want = dict(
                con.execute(
                    "SELECT n_name, sum(o_totalprice) FROM orders "
                    "JOIN customer ON o_custkey = c_custkey "
                    "JOIN nation ON c_nationkey = n_nationkey "
                    "WHERE strftime(o_orderdate, '%Y%m%d') = ? GROUP BY 1",
                    [date],
                ).fetchall()
            )
            got = {m["name"]: m["value"] for m in body.get("data", {}).get("mapData", [])}
            ok = body.get("status") == 0 and got.keys() == want.keys() and all(
                math.isclose(got[k], want[k], abs_tol=0.011) for k in want
            )
        if not ok:
            bad.append(f"/{route}?date={date}: {body} != {want}")
    return bad


def _canon(df):
    df = df[sorted(df.columns)]
    return df.sort_values(list(df.columns), ignore_index=True)


def queries(sf_dir: str, results: dict, oracles: dict[str, str]) -> list[str]:
    """Each query's rows against its registered DuckDB oracle, compared
    canonically: columns by name, rows sorted by every column,
    floats to 1e-9."""
    con = _duck(sf_dir)
    bad = []
    for name, got in results.items():
        got, want = _canon(got), _canon(con.execute(oracles[name]).fetchdf())
        if list(got.columns) != list(want.columns) or len(got) != len(want):
            bad.append(f"query {name}: shape {got.shape} != {want.shape}")
            continue
        for c in got.columns:
            g, w = got[c], want[c]
            if g.dtype.kind == "f" or w.dtype.kind == "f":
                ok = np.allclose(g.astype(float), w.astype(float), atol=1e-9, rtol=0,
                                 equal_nan=True)
            else:
                ok = (g.astype(str) == w.astype(str)).all()
            if not ok:
                bad.append(f"query {name}: column {c} differs")
                break
    return bad

