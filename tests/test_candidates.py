"""Candidate-staging gates vs the bit-exact DuckDB oracle at sf0.001 —
the same compare scripts/check_oracle.py runs, pinned in CI so every
staged candidate is hash-ready before it rotates into the live window.

The staging registry (`__spark_entry__.candidate_queries()`) is empty
right after a rotation; the whole module skips cleanly then."""

import math

import pytest

import __spark_entry__ as e


def _norm(v):
    if v is None:
        return None
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    if hasattr(v, "isoformat"):
        return v.isoformat()
    return v


def _none_safe_key(row):
    # rows can mix None with values in a column (card-diff deltas on
    # added/removed slices) — Python can't order None vs int, so key
    # each cell as (is-None, value); the driver's pandas path is fine
    return tuple((v is None, 0 if v is None else v) for v in row)


def _canon(cols, rows):
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(
        (tuple(_norm(r[i]) for i in idx) for r in rows),
        key=_none_safe_key,
    )


ORACLED = sorted(e.candidate_oracles())


@pytest.mark.parametrize("name", ORACLED)
def test_candidate_matches_oracle(spark, sf_dir, duck, name):
    sdf = e.candidate_queries()[name](spark, sf_dir)
    srows = [tuple(r) for r in sdf.collect()]
    cur = duck.execute(e.candidate_oracles()[name])
    ocols = [d[0] for d in cur.description]
    orows = cur.fetchall()
    assert sorted(sdf.columns) == sorted(ocols), name
    assert len(srows) == len(orows), name
    assert _canon(sdf.columns, srows) == _canon(ocols, orows), name
    assert len(srows) > 0, f"{name}: degenerate empty gate"


def test_rows_only_candidates_run(spark, sf_dir):
    """Candidates without an oracle (rows-only by design) must still run
    and produce rows."""
    rows_only = set(e.candidate_queries()) - set(ORACLED)
    for name in sorted(rows_only):
        out = e.candidate_queries()[name](spark, sf_dir)
        assert out.count() > 0, name


def test_candidates_disjoint_from_live_registry():
    live = set(e.queries())
    assert not live & set(e.candidate_queries())
    # every oracled candidate is a real candidate
    assert set(ORACLED) <= set(e.candidate_queries())
