"""Local replica of the driver's correctness gate: run every
``__spark_entry__.queries()`` entry against its DuckDB ``oracle_sql()``
twin at sf0.001 and require identical row-count + column names + values
(order-insensitive, exact after both sides' rounding)."""

from __future__ import annotations

import math
import os

import duckdb
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


def _normalize_cell(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        if v == 0.0:
            return 0.0  # collapse -0.0
        return round(v, 9)
    return v


def _canon(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(_normalize_cell(r[i]) for i in order) for r in rows]
    return sorted(out, key=lambda t: tuple(str(x) for x in t))


ORACLED = sorted(entry_mod.oracle_sql().keys())
ROWS_ONLY = sorted(set(entry_mod.queries().keys()) - set(ORACLED))


@pytest.mark.parametrize("name", ORACLED)
def test_oracle_match(spark, ducks, name):
    q = entry_mod.queries()[name]
    sdf = q(spark, SF_SMALL)
    scols = sdf.columns
    srows = [tuple(r) for r in sdf.collect()]

    rel = ducks.sql(entry_mod.oracle_sql()[name])
    dcols = list(rel.columns)
    drows = rel.fetchall()

    assert sorted(scols) == sorted(dcols), f"{name}: column names differ"
    assert len(srows) == len(drows), f"{name}: row count {len(srows)} vs {len(drows)}"
    assert _canon(srows, scols) == _canon(drows, dcols), f"{name}: values differ"


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
    import re

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
