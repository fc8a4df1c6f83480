"""Local re-implementation of the driver's DuckDB-oracle comparison.

Runs a catalog query on Spark and its oracle SQL on DuckDB over the
same parquet tables, then compares row count, column names, dtypes, and
values (order-insensitive, float-tolerant). Keeping this in-tree means
every oracle mismatch is caught at `pytest` time, not at driver-verify
time.

Dtype strictness: the driver hashes stringified values, so a KIND
divergence (e.g. DuckDB ``sum(INTEGER)`` returning HUGEINT — surfaced
as float64/object by pandas — while Spark returns LongType) is a
driver hash mismatch even when the numbers are equal: ``"123"`` vs
``"123.0"``. Width-only differences (int32 vs int64) stringify
identically and DID pass the driver in round 1 (q_grouped_map_zscore),
so ``_dtype_tag`` is kind-level: int / float / bool / datetime /
object. ``assert_matches_oracle`` fails on any per-column tag
difference — fix the oracle SQL with an explicit CAST, never this
check.
"""

from __future__ import annotations

import datetime
import math

import duckdb
import pandas as pd

from cost_of_living_data_etl_spark.sources.tables import TABLE_NAMES

#: Float comparison tolerance, empirically calibrated to the driver's
#: value hash: every driver-green query measured ≤ 2.1e-10 max relative
#: drift vs its oracle (pure partial-agg ulp noise the driver's float
#: canonicalization absorbs), while the one driver-red float case
#: (q_embedding_dim_stats, rounds 1-2) came from a float32-vs-float64
#: aggregation divergence in the 1e-7 class. 1e-9 sits between: it
#: catches the driver-red class without false-alarming on ulp noise.
#: At 1e-6 a query can be locally green yet driver-red — which is
#: exactly how that one stayed undetected for two rounds — so local
#: green must use this tolerance to predict driver green.
STRICT_REL_TOL = 1e-9
STRICT_ABS_TOL = 1e-12


def duckdb_con(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def _is_datelike_object(s: pd.Series) -> bool:
    if s.dtype != object:
        return False
    nonnull = s.dropna()
    if nonnull.empty:
        return False
    v = nonnull.iloc[0]
    return isinstance(v, (datetime.date, datetime.datetime))


def _canon(df: pd.DataFrame) -> pd.DataFrame:
    """Sort columns by name, canonicalize temporal representations
    (object-of-date and any datetime64 unit → datetime64[us]) and
    list values (→ tuples), sort rows. Integer/float widths are NOT
    normalized — see module docstring.

    Row ordering: non-float columns sort first, float columns last and
    ROUNDED for sorting only — otherwise permitted cross-engine float
    drift in a leading sort key could pair row i of one engine with a
    different logical row of the other, turning in-tolerance drift
    into a spurious mismatch on the exact-compared columns."""
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        s = df[c]
        if pd.api.types.is_datetime64_any_dtype(s) or _is_datelike_object(s):
            df[c] = pd.to_datetime(s).astype("datetime64[us]")
        elif s.dtype == object:
            df[c] = s.map(
                lambda v: tuple(v) if isinstance(v, (list, tuple)) else v,
                na_action="ignore",
            )
    float_cols = [c for c in df.columns if pd.api.types.is_float_dtype(df[c])]
    other_cols = [c for c in df.columns if c not in float_cols]
    sort_keys = list(other_cols)
    tmp = []
    for c in float_cols:
        k = f"__sort_{c}"
        df[k] = df[c].round(6)
        sort_keys.append(k)
        tmp.append(k)
    out = df.sort_values(by=sort_keys, kind="mergesort").reset_index(drop=True)
    return out.drop(columns=tmp)


def _dtype_tag(s: pd.Series) -> str:
    """Canonical dtype label used for the strict cross-engine check."""
    if pd.api.types.is_datetime64_any_dtype(s):
        return "datetime"
    if pd.api.types.is_bool_dtype(s):
        return "bool"
    if pd.api.types.is_integer_dtype(s):
        return "int"
    if pd.api.types.is_float_dtype(s):
        return "float"
    return "object"


def assert_matches_oracle(spark_df, oracle: str, sf_dir: str):
    got = _canon(spark_df.toPandas())
    con = duckdb_con(sf_dir)
    try:
        want = _canon(con.execute(oracle).fetchdf())
    finally:
        con.close()

    assert list(got.columns) == list(want.columns), (
        f"column mismatch: spark={list(got.columns)} oracle={list(want.columns)}"
    )
    assert len(got) == len(want), f"row count: spark={len(got)} oracle={len(want)}"

    for c in got.columns:
        gt, wt = _dtype_tag(got[c]), _dtype_tag(want[c])
        assert gt == wt, (
            f"dtype mismatch on col {c}: spark={gt} ({got[c].dtype}) "
            f"oracle={wt} ({want[c].dtype}) — the driver hashes types; "
            f"add an explicit CAST to the oracle SQL or the Spark plan"
        )

    for c in got.columns:
        g, w = got[c], want[c]
        if pd.api.types.is_float_dtype(g) or pd.api.types.is_float_dtype(w):
            ga = g.astype("float64").to_numpy()
            wa = w.astype("float64").to_numpy()
            for i, (x, y) in enumerate(zip(ga, wa)):
                if math.isnan(x) and math.isnan(y):
                    continue
                assert math.isclose(
                    x, y, rel_tol=STRICT_REL_TOL, abs_tol=STRICT_ABS_TOL
                ), (
                    f"col {c} row {i}: "
                    f"spark={x!r} oracle={y!r} — drift above the "
                    f"driver-green envelope; pin with a deterministic-"
                    f"order fold or grid-aligned rounding on both "
                    f"engines (see q_embedding_dim_stats / "
                    f"q_revenue_anomaly_days)"
                )
        else:
            mism = (g.astype(str) != w.astype(str))
            if mism.any():
                i = int(mism.idxmax())
                raise AssertionError(
                    f"col {c} first mismatch at row {i}: "
                    f"spark={g.iloc[i]!r} oracle={w.iloc[i]!r}"
                )
