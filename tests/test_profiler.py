"""Differential tests: the lake profiler calls against pandas/Python
references on adversarial small tables (NULLs of every type, all-null
and zero-row tables, duplicate rows, k and n above the distinct counts,
headers that are not identifiers)."""

from __future__ import annotations

from decimal import ROUND_HALF_UP, Decimal

import pandas as pd
import pytest

_SCHEMA = "s string, i int, d double, z string"
_ROWS = [
    ("b", 1, 1.5, None),
    (None, None, 2.0, None),
    ("", 3, None, None),
    ("b", 1, 1.5, None),
    ("aa", None, None, None),
    ("", 3, None, None),
    (None, None, 2.0, None),
    ("c|d", 10, 0.25, None),
]


def _pdf(rows, columns):
    # object dtype keeps NULLs as None (no NaN coercion)
    return pd.DataFrame(rows, columns=columns, dtype=object)


def _as_string(v) -> str:
    return str(v)  # Spark's cast-to-string for str/int/finite doubles


def _round2(x: float) -> float:
    """Spark's round(x, 2): HALF_UP on the decimal form of the double."""
    return float(Decimal(repr(x)).quantize(Decimal("0.01"), ROUND_HALF_UP))


def _ref_profile(pdf: pd.DataFrame, dtypes: dict[str, str]):
    from semantic_ann_in_data_lake_spark.operators.profiler import infer_col_type

    out = {}
    for c in pdf.columns:
        vals = [_as_string(v) for v in pdf[c] if v is not None]
        lens = [len(v) for v in vals]
        out[c] = (
            infer_col_type(dtypes[c]),
            len(pdf),
            len(pdf) - len(vals),
            len(vals),
            min(lens, default=0),
            max(lens, default=0),
            _round2(sum(lens) / len(lens)) if lens else 0.0,
        )
    return out


def _ref_samples(pdf: pd.DataFrame, k: int):
    return {
        c: sorted({_as_string(v) for v in pdf[c] if v is not None})[:k]
        for c in pdf.columns
    }


def _ref_markdown(pdf: pd.DataFrame, string_cols: set[str], n: int, seed: str):
    from semantic_ann_in_data_lake_spark.functions.hashing import portable_hash64_py

    distinct = list(dict.fromkeys(pdf.itertuples(index=False, name=None)))

    def order(row):
        # fillna('') renders string NULLs as ""; concat_ws skips the rest
        parts = [
            "" if v is None and c in string_cols else _as_string(v)
            for c, v in zip(pdf.columns, row)
            if v is not None or c in string_cols
        ]
        h = portable_hash64_py((seed + "|".join(parts)).encode())
        return (h, [(v is not None, v) for v in row])

    picked = sorted(distinct, key=order)[:n]
    lines = [
        "| " + " | ".join(pdf.columns) + " |",
        "| " + " | ".join("---" for _ in pdf.columns) + " |",
    ]
    lines += [
        "| " + " | ".join("" if v is None else str(v) for v in r) + " |"
        for r in picked
    ]
    return "\n".join(lines)


def _check_all(df, pdf, k: int, n: int):
    from pyspark.sql.types import StringType

    from semantic_ann_in_data_lake_spark.operators.profiler import (
        distinct_sample,
        profile,
        sample_rows_markdown,
    )

    prof = {
        r["column_name"]: tuple(r)[2:]
        for r in profile(df, "t").collect()
    }
    assert prof == _ref_profile(pdf, dict(df.dtypes))

    samples = distinct_sample(df, "t", df.columns, k=k).collect()
    assert {r["table_name"] for r in samples} <= {"t"}
    assert {r["column_name"]: r["values_sample"] for r in samples} == _ref_samples(
        pdf, k
    )
    assert len(samples) == len(df.columns)

    strings = {f.name for f in df.schema.fields if isinstance(f.dataType, StringType)}
    assert sample_rows_markdown(df, n=n) == _ref_markdown(pdf, strings, n, "md42")


@pytest.mark.parametrize("k", [1, 2, 50])
def test_profiler_matches_pandas_with_nulls_and_duplicates(spark, k):
    df = spark.createDataFrame(_ROWS, _SCHEMA)
    pdf = _pdf(_ROWS, df.columns)
    # n=3 < 6 distinct rows; n=20 exceeds them, and the 8 rows with
    # duplicates never fill the 2n prefix
    for n in (3, 20):
        _check_all(df, pdf, k, n)


def test_profiler_zero_row_table(spark):
    df = spark.createDataFrame([], _SCHEMA)
    pdf = _pdf([], df.columns)
    # row_count 0 and one [] sample per column
    _check_all(df, pdf, k=5, n=5)


def test_markdown_sample_duplicate_heavy_table(spark):
    """Every row repeated 5x: the first 2n sorted rows hold fewer than n
    distinct rows, so the deduping plan must pick the same rows."""
    from semantic_ann_in_data_lake_spark.operators.profiler import (
        sample_rows_markdown,
    )

    base = [(f"v{i}", i) for i in range(12)]
    rows = [r for r in base for _ in range(5)]
    df = spark.createDataFrame(rows, "s string, i int")
    pdf = _pdf(rows, df.columns)
    for n in (1, 3, 7, 12, 30):
        assert sample_rows_markdown(df, n=n) == _ref_markdown(pdf, {"s"}, n, "md42")


def test_markdown_sample_null_next_to_empty_string(spark):
    """A NULL row and a "" row are distinct rows that render alike:
    both stay, as distinct rows did before the driver-side dedupe."""
    from semantic_ann_in_data_lake_spark.operators.profiler import (
        sample_rows_markdown,
    )

    df = spark.createDataFrame([(None,), ("",), ("",), (None,)], "s string")
    assert sample_rows_markdown(df, n=5).splitlines()[2:] == ["|  |", "|  |"]


def test_profiler_non_identifier_headers(spark):
    """CSV headers may hold dots, spaces, quotes and backticks: every
    profiler call references columns by their literal name."""
    from semantic_ann_in_data_lake_spark.operators.profiler import (
        categorical_entropy,
        most_common_values,
        profile_approx_distinct,
        profile_partial,
    )

    cols = ["a.b", "x y", "it's", "b`q"]
    rows = [("1", "p", None, "z"), ("2", "p", "q", "z"), ("1", None, "q", None)]
    df = spark.createDataFrame(rows, "s1 string, s2 string, s3 string, s4 string").toDF(
        *cols
    )
    _check_all(df, _pdf(rows, cols), k=5, n=5)
    assert [r["column_name"] for r in profile_partial(df, "t").collect()] == cols
    assert [r["column_name"] for r in profile_approx_distinct(df, "t").collect()] == cols
    top = {
        (r["column_name"], r["rank"]): r["value"]
        for r in most_common_values(df, "t", cols, k=1).collect()
    }
    assert top == {("a.b", 1): "1", ("x y", 1): "p", ("it's", 1): "q", ("b`q", 1): "z"}
    assert {r["column"] for r in categorical_entropy(df, cols).collect()} == set(cols)
