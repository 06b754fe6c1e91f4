"""Parity tests for the signature reshape (normalize_wide) against an
independent re-implementation of the reference's pandas chain
(``/root/reference/scripts/extract_load.py:119-201``):

    melt → str.rsplit('_', n=1) → replace('cod','') →
    pivot_table(aggfunc='first') → reset_index → sha256 uid

This is a stronger check than the DuckDB oracle because pandas is the
engine the reference actually runs — groupby(dropna=True) and
pivot_table's all-NaN-group dropping come for free, not hand-modeled.
"""

from __future__ import annotations

import hashlib

import duckdb
import pandas as pd
import pytest

from automate_data_ingestion_project_spark.analytics.dv3f import (
    ID_VARS,
    METRICS,
    UID_COLS,
    WIDE_FIXTURE_SQL,
)
from automate_data_ingestion_project_spark.operators.reshape import melt, normalize_wide


def _pandas_reference_chain(wide: pd.DataFrame) -> pd.DataFrame:
    """The reference transform, re-implemented with the same pandas calls."""
    long = wide.melt(id_vars=ID_VARS, var_name="cod_full", value_name="valeur")
    split = long["cod_full"].str.rsplit("_", n=1, expand=True)
    long["metric"] = split[0]
    long["cod"] = split[1].str.replace("cod", "", regex=False)
    pivoted = long.pivot_table(
        index=[*ID_VARS, "cod"], columns="metric", values="valeur", aggfunc="first"
    ).reset_index()
    pivoted.columns.name = None
    pivoted["uid"] = pivoted.apply(
        lambda r: hashlib.sha256(
            ("".join(str(r[c]) for c in UID_COLS)).encode()
        ).hexdigest(),
        axis=1,
    )
    # column order + metric completeness (pivot_table drops metrics that
    # are all-NaN across every group; reinstate as NaN columns)
    for m in METRICS:
        if m not in pivoted.columns:
            pivoted[m] = float("nan")
    return pivoted[["uid", *ID_VARS, "cod", *METRICS]]


def _normalize_for_compare(df: pd.DataFrame) -> list[tuple]:
    out = []
    for row in df.itertuples(index=False):
        vals = []
        for v in row:
            if isinstance(v, float):
                vals.append(None if pd.isna(v) else round(v, 9))
            else:
                vals.append(None if pd.isna(v) else v)
        out.append(tuple(vals))
    return sorted(out, key=lambda t: tuple((x is None, str(x)) for x in t))


def test_normalize_wide_matches_pandas_reference(spark):
    wide_pd = duckdb.sql(WIDE_FIXTURE_SQL).df()
    expected = _pandas_reference_chain(wide_pd)

    wide_spark = spark.sql(WIDE_FIXTURE_SQL)
    got = normalize_wide(wide_spark, ID_VARS, METRICS, UID_COLS).toPandas()

    assert list(got.columns) == list(expected.columns)
    assert _normalize_for_compare(got) == _normalize_for_compare(expected)


def test_normalize_wide_drops_null_key_and_allnull_groups(spark):
    wide = spark.sql(WIDE_FIXTURE_SQL)
    got = normalize_wide(wide, ID_VARS, METRICS, UID_COLS).toPandas()
    # fixture: 6 wide rows × 2 cods = 12 potential groups;
    # - ('2015', NULL) row: 2 groups dropped (NULL key)
    # - ('2016','03') allnull row: 2 groups dropped
    # - ('2014','02') no111 row: cod111 group dropped
    # → 12 - 5 = 7 surviving groups
    assert len(got) == 7
    assert got["uid"].notna().all()
    assert got["uid"].str.len().eq(64).all()
    assert got["uid"].is_unique
    # the partial row keeps NULL cells
    partial = got[(got["annee"] == "2015") & (got["dep"] == "01")]
    assert partial[METRICS].isna().to_numpy().any()


def test_split_metric_code_no_separator(spark):
    """pandas rsplit('_', n=1) on a separator-less value yields a single
    part; our Spark twin must give metric=whole string, cod=NULL."""
    from automate_data_ingestion_project_spark.operators.reshape import (
        split_metric_code,
    )

    df = spark.createDataFrame([("plain",), ("a_cod1",)], "cod_full string")
    rows = {
        r["cod_full"]: (r["metric"], r["cod"])
        for r in split_metric_code(df).collect()
    }
    assert rows["plain"] == ("plain", None)
    assert rows["a_cod1"] == ("a", "1")


def test_melt_edge_names_match_pandas(spark):
    """Dotted ``json_normalize`` names, quotes and backticks survive the
    one-expression ``stack`` melt: pandas-``melt`` rows, nulls kept,
    every value double, labels exact."""
    wide = pd.DataFrame(
        {
            "id": ["a", "b"],
            "geo.lat": [1.5, None],
            "a'b": [1, 2],
            "a`b": [None, 3.0],
            "c\\d": [4.0, 5.0],
        }
    )
    got = melt(spark.createDataFrame(wide), ["id"])
    assert dict(got.dtypes) == {"id": "string", "cod_full": "string", "valeur": "double"}
    expected = wide.melt(id_vars=["id"], var_name="cod_full", value_name="valeur")
    assert _normalize_for_compare(got.toPandas()) == _normalize_for_compare(expected)


def test_melt_without_value_columns_raises(spark):
    df = spark.createDataFrame([("a", 1.0)], "id string, v double")
    with pytest.raises(ValueError, match="at least one value column"):
        melt(df, ["id", "v"])
    with pytest.raises(ValueError, match="at least one value column"):
        melt(df, ["id"], value_vars=[])
