"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its seed and sizes: the same seed gives
byte-identical inputs, a different seed different ones. The program under test
only ever sees what these functions produce (plus the vectors it generates
itself through ``datagen.generate_vectors`` with a seed derived here, and the
fixed curation tables in ``data/``, whose row order the seed draws).

Nothing here imports Spark, so the generators are testable without a
session.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# --- filtered_groundtruth: typed metadata rows and PNode predicate trees ---

CATEGORIES = [f"cat{i}" for i in range(8)]
REGIONS = ["north", "south", "east", "west", "central"]
_LETTERS = np.array(list("abcdefghijklmnopqrstuvwxyz"))
INT_FIELDS = {"age": (0, 100), "score": (0, 1000), "bucket": (0, 16)}
STR_FIELDS = {"category": CATEGORIES, "region": REGIONS}
_COMPARISONS = ["GT", "LT", "GE", "LE", "EQ", "NE"]
_PATTERNS = ["[a-h].*", ".*[xyz].*", "[a-m][a-m].*", ".*e", "cat[0-3]", "(north|south)"]


def rng_for(seed: int, stream: str) -> np.random.Generator:
    """Independent generator per (seed, stream), stable across numpy versions."""
    h = hashlib.sha256(f"{seed}:{stream}".encode()).digest()
    return np.random.Generator(np.random.PCG64(int.from_bytes(h[:8], "little")))


def vector_seed(seed: int, stream: str) -> int:
    """Seed handed to ``datagen.generate_vectors`` for one vector set."""
    return int(rng_for(seed, stream).integers(1, 2**31 - 1))


def metadata_rows(seed: int, n: int) -> pd.DataFrame:
    """``n`` metadata rows keyed by ``ordinal`` with int and string fields."""
    rng = rng_for(seed, "metadata")
    cols: dict = {"ordinal": np.arange(n, dtype=np.int64)}
    for name, (lo, hi) in INT_FIELDS.items():
        cols[name] = rng.integers(lo, hi, n, dtype=np.int64)
    for name, values in STR_FIELDS.items():
        cols[name] = np.array(values, dtype=object)[rng.integers(0, len(values), n)]
    letters = _LETTERS[rng.integers(0, 26, (n, 6))]
    cols["tag"] = ["".join(r) for r in letters]
    return pd.DataFrame(cols)


def _leaf(rng: np.random.Generator, op: str) -> dict:
    if op == "MATCHES":
        field = str(rng.choice(["tag", "category", "region"]))
        return {"fieldName": field, "op": op, "values": [str(rng.choice(_PATTERNS))]}
    if op == "IN":
        if rng.random() < 0.5:
            field = str(rng.choice(list(STR_FIELDS)))
            pool = STR_FIELDS[field]
            vals = rng.choice(pool, size=int(rng.integers(1, 4)), replace=False)
            return {"fieldName": field, "op": op, "values": [str(v) for v in vals]}
        field = str(rng.choice(list(INT_FIELDS)))
        lo, hi = INT_FIELDS[field]
        vals = rng.integers(lo, hi, int(rng.integers(1, 6)))
        return {"fieldName": field, "op": op, "values": [int(v) for v in vals]}
    if op in ("EQ", "NE") and rng.random() < 0.5:
        field = str(rng.choice(list(STR_FIELDS)))
        return {"fieldName": field, "op": op, "values": [str(rng.choice(STR_FIELDS[field]))]}
    field = str(rng.choice(list(INT_FIELDS)))
    lo, hi = INT_FIELDS[field]
    return {"fieldName": field, "op": op, "values": [int(rng.integers(lo, hi))]}


# Tree shapes (L = leaf, tuple = AND/OR conjugate), dealt in turn so every
# seed compiles the same number of nodes: the seed varies ops, fields, values
# and conjugates, never the amount of predicate work.
_SHAPES = [
    "L",
    ("L", "L"),
    ("L", ("L", "L")),
    (("L", "L", "L"), "L"),
    (("L", ("L", "L")), ("L", "L")),
    ("L", ("L", ("L", "L")), "L"),
]


def _tree(rng: np.random.Generator, shape, deck: list[str]) -> dict:
    if shape == "L":
        return _leaf(rng, deck.pop())
    children = [_tree(rng, s, deck) for s in shape]
    return {"op": str(rng.choice(["AND", "OR"])), "nodes": children}


def predicate_trees(seed: int, count: int) -> list[dict]:
    """``count`` PNode trees (JSON dicts): AND/OR conjugates up to depth 3.

    Leaf ops are dealt from shuffled decks of all eight comparison ops, so
    every op appears in every set of eight leaves."""
    rng = rng_for(seed, "predicates")
    deck: list[str] = []
    out = []
    for i in range(count):
        if len(deck) < 8:
            deck[:0] = rng.permutation(_COMPARISONS + ["IN", "MATCHES"]).tolist()
        out.append(_tree(rng, _SHAPES[i % len(_SHAPES)], deck))
    return out


def hybrid_predicates(seed: int, count: int) -> list[dict]:
    """One predicate per hybrid query, all of one shape whose expected
    selectivity (~0.36) does not depend on the seed: the answer key's cost
    follows the allowed-set sizes, so the seed must not move them. The seed
    picks the IN set, the EQ/NE values and the MATCHES pattern's position,
    each uniform over equally likely values."""
    rng = rng_for(seed, "hybrid_predicates")
    lo, hi = INT_FIELDS["bucket"]
    out = []
    for _ in range(count):
        start = int(rng.integers(0, 20))
        out.append({"op": "AND", "nodes": [
            {"op": "OR", "nodes": [
                {"fieldName": "bucket", "op": "IN",
                 "values": [int(v) for v in rng.choice(np.arange(lo, hi), 4, replace=False)]},
                {"fieldName": "category", "op": "EQ", "values": [str(rng.choice(CATEGORIES))]},
                {"fieldName": "tag", "op": "MATCHES",
                 "values": [f"[{_LETTERS[start]}-{_LETTERS[start + 5]}].*"]},
            ]},
            {"fieldName": "region", "op": "NE", "values": [str(rng.choice(REGIONS))]},
            {"fieldName": "age", "op": "GE", "values": [10]},
        ]})
    return out


def count_nodes(tree: dict) -> int:
    return 1 + sum(count_nodes(c) for c in tree.get("nodes", ()))


# --- curation_gates: the sf0.001 documents / events / lineitem tables -------

# Copies of the sf0.001 tables the program's unit tests read (500 documents,
# 1,000 events, 6,000 lineitem rows), so the gates run on the same traffic.
DATA_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")
CURATION_TABLES = ("documents", "events", "lineitem")


def curation_source(name: str) -> str:
    """Path of the unpermuted copy of table ``name``."""
    return os.path.join(DATA_DIR, f"{name}.parquet")


def curation_table(seed: int, name: str) -> pa.Table:
    """Table ``name`` with its rows in an order drawn from the seed. The rows,
    schema and values are those of the copy; only the file order varies, which
    the registry gates (and the oracle) must not depend on."""
    tab = pq.read_table(curation_source(name))
    return tab.take(rng_for(seed, f"rows.{name}").permutation(tab.num_rows))
