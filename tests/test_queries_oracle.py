"""Local replica of the driver's correctness gate: run every
``__spark_entry__.queries()`` entry against its DuckDB ``oracle_sql()``
twin at sf0.001 and require identical row-count + column names + values
(order-insensitive, exact after both sides' rounding)."""

from __future__ import annotations

import os
from typing import Optional

import duckdb
import pandas as pd
import pytest

import __spark_entry__ as entry_mod
from tests.conftest import SF_SMALL

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


@pytest.fixture(scope="module")
def ducks():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{os.path.join(SF_SMALL, t)}.parquet'"
        )
    return con


def _canon(pdf: pd.DataFrame) -> pd.DataFrame:
    """The canonical form the correctness gate compares: columns by name,
    integers as int64 and timestamps as datetime64[ns] (the width and
    unit each engine picks are not part of the answer), floats rounded to
    9 places with -0.0 collapsed to 0.0, rows ordered by ``sort_values``
    over every column. A column's kind is kept as the engine delivered
    it, so an integer that one side delivers as float64 (a DuckDB HUGEINT
    ``sum()``) stays visible, and a list or map cell fails the sort (a
    pandas sort cannot order such cells)."""
    pdf = pdf[sorted(pdf.columns)].copy()
    for c in pdf.columns:
        kind = pdf[c].dtype.kind
        if kind in "iu":
            pdf[c] = pdf[c].astype("int64")
        elif kind == "M":
            pdf[c] = pdf[c].astype("datetime64[ns]")
        elif kind == "f":
            pdf[c] = pdf[c].round(9) + 0.0
    return pdf.sort_values(list(pdf.columns), ignore_index=True)


def _mismatch(spark_pdf: pd.DataFrame, duck_pdf: pd.DataFrame) -> Optional[str]:
    """Why the engine's frame and the oracle's differ (None if they
    match): column names, row count, a column's dtype after ``_canon``,
    or the row hashes of the canonical frames."""
    if sorted(spark_pdf.columns) != sorted(duck_pdf.columns):
        return f"columns {sorted(spark_pdf.columns)} vs {sorted(duck_pdf.columns)}"
    if len(spark_pdf) != len(duck_pdf):
        return f"row count {len(spark_pdf)} vs {len(duck_pdf)}"
    a, b = _canon(spark_pdf), _canon(duck_pdf)
    for c in a.columns:
        if a[c].dtype != b[c].dtype:
            return f"column {c}: dtype {a[c].dtype} vs {b[c].dtype}"
    ha = pd.util.hash_pandas_object(a, index=False)
    hb = pd.util.hash_pandas_object(b, index=False)
    if not (ha.values == hb.values).all():
        return "values differ"
    return None


ORACLED = sorted(entry_mod.oracle_sql().keys())
ROWS_ONLY = sorted(set(entry_mod.queries().keys()) - set(ORACLED))


@pytest.mark.parametrize("name", ORACLED)
def test_oracle_match(spark, ducks, name):
    spdf = entry_mod.queries()[name](spark, SF_SMALL).toPandas()
    dpdf = ducks.sql(entry_mod.oracle_sql()[name]).df()
    why = _mismatch(spdf, dpdf)
    assert why is None, f"{name}: {why}"


def test_delay_oracle_integer_column(ducks):
    """DuckDB's sum() is HUGEINT, which reaches pandas as float64; the
    oracle casts ``delay_ms`` back to BIGINT so it compares as int64."""
    pdf = ducks.sql(entry_mod.oracle_sql()["adaptive_politeness_delay"]).df()
    assert str(pdf["delay_ms"].dtype) == "int64"


def test_inverted_index_postings_are_strings(ducks):
    """The postings head reaches pandas as one comma-joined string per
    row: a list cell is unhashable, so sorting or deduplicating the
    frame would fail."""
    pdf = ducks.sql(entry_mod.oracle_sql()["inverted_index_terms"]).df()
    assert len(pdf) and all(isinstance(v, str) for v in pdf["postings"])
    assert all(v.split(",") == sorted(v.split(","), key=int)
               for v in pdf["postings"])


def test_canon_flags_float_aggregates_and_list_cells(ducks):
    """The gate fails an oracle whose integer aggregate reaches pandas as
    float64 (DuckDB's HUGEINT ``sum()``) and an output with list cells,
    the two ways an oracle has failed the correctness gate while matching
    row by row; an integer width or a timestamp unit alone is no
    failure."""
    engine = pd.DataFrame({"k": [1, 2], "s": [3, 4]})
    hugeint = ducks.sql(
        "SELECT k, sum(v) AS s FROM (VALUES (1, 1), (1, 2), (2, 4)) t(k, v) GROUP BY k"
    ).df()
    assert str(hugeint["s"].dtype) == "float64"
    assert _mismatch(engine, hugeint) == "column s: dtype int64 vs float64"
    cast = ducks.sql("SELECT k, CAST(sum(v) AS BIGINT) AS s FROM "
                     "(VALUES (1, 1), (1, 2), (2, 4)) t(k, v) GROUP BY k").df()
    assert _mismatch(engine, cast) is None
    assert _mismatch(engine.astype({"s": "int32"}), cast) is None

    lists = ducks.sql("SELECT 1 AS k, [1, 2] AS s UNION ALL SELECT 2, [3]").df()
    with pytest.raises(TypeError):
        _mismatch(lists, lists)

    ts = pd.DataFrame({"t": pd.to_datetime(["2024-01-01", "2024-01-02"])})
    assert _mismatch(ts.astype("datetime64[us]"), ts.astype("datetime64[ns]")) is None
    assert _mismatch(ts, ts.iloc[::-1]) is None


@pytest.mark.parametrize("name", ROWS_ONLY)
def test_rows_only_queries_run(spark, name):
    df = entry_mod.queries()[name](spark, SF_SMALL)
    assert df.columns
    assert df.count() >= 0


# ---------------------------------------------------------------------------
# driver-window rotation (round-3 VERDICT ask #2): the first 50 dict
# entries are the driver's correctness window; ordering is mechanical
# (staleness from committed CORRECTNESS_r*.json), not hand-curated.
# ---------------------------------------------------------------------------


def test_rotation_fronts_never_green_then_stalest(tmp_path):
    import json

    qdict = {f"q{i}": (lambda s, d: None) for i in range(6)}
    # r1: q0,q1 hash-green; q2 clean rows-only green
    (tmp_path / "CORRECTNESS_r01.json").write_text(
        json.dumps(
            {
                "q0": {"hash_match": True},
                "q1": {"hash_match": True},
                "q2": {"hash_match": None, "spark_rows": 5, "err": "no_oracle"},
            }
        )
    )
    # r2: q0 green again; q3 checked but RED (error) — stays maximally stale
    (tmp_path / "CORRECTNESS_r02.json").write_text(
        json.dumps(
            {
                "q0": {"hash_match": True},
                "q3": {"hash_match": None, "spark_rows": 5, "err": "boom"},
            }
        )
    )
    out = list(
        entry_mod._rotate_by_driver_staleness(qdict, here=str(tmp_path))
    )
    # never-green first (canonical tie-break), then r1-green, then r2-green
    assert out == ["q3", "q4", "q5", "q1", "q2", "q0"]


def test_rotation_no_history_keeps_canonical_order(tmp_path):
    qdict = {"b": 1, "a": 2, "c": 3}
    assert list(
        entry_mod._rotate_by_driver_staleness(qdict, here=str(tmp_path))
    ) == ["b", "a", "c"]


def test_driver_window_staleness_bounded():
    """Every registered query must be either inside this round's 50-entry
    window or green within the last two committed driver rounds — i.e. max
    driver staleness of two rounds, the standing rotation contract."""
    import glob
    import json

    names = list(entry_mod.queries())
    window = set(names[:50])
    here = os.path.dirname(os.path.abspath(entry_mod.__file__))
    paths = sorted(glob.glob(os.path.join(here, "CORRECTNESS_r*.json")))
    if not paths:
        pytest.skip("no driver history yet")
    recent_green = set()
    for path in paths[-2:]:
        for name, row in json.load(open(path)).items():
            if row.get("hash_match") is True or (
                row.get("err") == "no_oracle"
                and row.get("spark_rows") is not None
            ):
                recent_green.add(name)
    uncovered = set(names) - window - recent_green
    assert not uncovered, f"stale beyond two rounds: {sorted(uncovered)}"
