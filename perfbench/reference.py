"""Independent references the benchmark checks the program's outputs against.

- KNN: numpy float64 exact top-k, ties broken by ordinal.
- Predicates: a pandas evaluator of PNode JSON trees, written here from the
  predicate format, not from the program's compiler.
- Hybrid: numpy top-k over each query's allowed ordinals.
- Curation gates: the registry's DuckDB ``oracle_sql``, compared with
  ``scripts/check_oracle.py``'s bit-exact row normalization. Oracle results
  are cached on disk, keyed by the SQL text and the bytes of the input files.
"""

from __future__ import annotations

import hashlib
import json
import operator
import os
import re

import numpy as np
import pandas as pd

# Distances agree with the program's to this absolute tolerance: its kernels
# sum in another order (BLAS blocks, or a sequential Catalyst fold) than
# numpy, so the last float64 bits differ; float32 files round at ~6e-8.
DIST_TOL_F64 = 1e-9
DIST_TOL_F32 = 1e-6


def read_fvec(path: str, dtype: str = "<f4") -> np.ndarray:
    """Plain numpy xvec reader: int32 dim header, then ``dim`` values per record."""
    raw = np.fromfile(path, dtype=np.uint8)
    if raw.size == 0:
        return np.zeros((0, 0), dtype=dtype)
    dim = int(raw[:4].view("<i4")[0])
    stride = 4 + dim * np.dtype(dtype).itemsize
    if raw.size % stride:
        raise ValueError(f"{path}: size {raw.size} is not a multiple of record stride {stride}")
    rec = raw.reshape(-1, stride)
    if not (rec[:, :4].copy().view("<i4") == dim).all():
        raise ValueError(f"{path}: ragged record headers")
    return rec[:, 4:].copy().view(dtype)


def cosine_distances(queries: np.ndarray, base: np.ndarray) -> np.ndarray:
    """(Q, B) cosine distances in float64."""
    q = queries.astype(np.float64)
    b = base.astype(np.float64)
    qn = np.linalg.norm(q, axis=1)
    bn = np.linalg.norm(b, axis=1)
    return 1.0 - (q @ b.T) / np.outer(qn, bn)


def topk(dist_row: np.ndarray, ordinals: np.ndarray, k: int) -> tuple[np.ndarray, np.ndarray]:
    """Top-k (ordinals, distances) of one query, ascending, ties by ordinal."""
    order = np.lexsort((ordinals, dist_row))[:k]
    return ordinals[order], dist_row[order]


def topk_problem(
    got_idx, got_dist, ref_dist_row: np.ndarray, ref_idx, ref_dist, tol: float,
    tie_order: bool = True,
) -> str | None:
    """Why ``got`` is not a valid top-k for one query, or None.

    Valid means: same length; no repeated ordinal; each reported distance is
    the reference distance of its ordinal; the sorted distances equal the
    reference's top-k distances; and, with ``tie_order``, ordinals ascend
    within runs of equal reported distance (skip it for distances rounded to
    float32 after ranking, which creates ties the ranking never saw).
    Near-ties (within ``tol``) may order differently from the reference, as
    the two sides sum in a different order."""
    got_idx = np.asarray(got_idx, dtype=np.int64)
    got_dist = np.asarray(got_dist, dtype=np.float64)
    if len(got_idx) != len(ref_idx):
        return f"length {len(got_idx)} != {len(ref_idx)}"
    if len(np.unique(got_idx)) != len(got_idx):
        return "repeated ordinal"
    if np.any(np.abs(got_dist - ref_dist_row[got_idx]) > tol):
        return "reported distance differs from the reference distance of its ordinal"
    if np.any(np.abs(np.sort(got_dist) - np.asarray(ref_dist)) > tol):
        return f"not the top-k: got {got_idx[:5]}..., want {np.asarray(ref_idx)[:5]}..."
    if np.any(np.diff(got_dist) < -tol):
        return "distances not ascending"
    same = np.diff(got_dist) == 0
    if tie_order and np.any(same & (np.diff(got_idx) < 0)):
        return "tie not broken by ordinal"
    return None


# --- PNode evaluator ----------------------------------------------------------

_CMP = {
    "GT": operator.gt, "LT": operator.lt, "GE": operator.ge,
    "LE": operator.le, "EQ": operator.eq, "NE": operator.ne,
}


def eval_pnode(tree: dict, df: pd.DataFrame) -> np.ndarray:
    """Boolean mask of the rows of ``df`` that satisfy a PNode JSON tree.

    Semantics of the predicate format: AND = all children, OR = any;
    MATCHES is a full-string regex match; IN is membership; comparisons are
    on the field's own type. The generated inputs carry no nulls."""
    op = tree["op"]
    if op in ("AND", "OR"):
        masks = [eval_pnode(c, df) for c in tree["nodes"]]
        return np.logical_and.reduce(masks) if op == "AND" else np.logical_or.reduce(masks)
    col = df[tree["fieldName"]]
    values = tree["values"]
    if op == "MATCHES":
        pattern = re.compile(values[0])
        return np.array([pattern.fullmatch(v) is not None for v in col], dtype=bool)
    if op == "IN":
        return col.isin(values).to_numpy()
    return _CMP[op](col, values[0]).to_numpy()


def result_indices(trees: list[dict], meta: pd.DataFrame) -> dict[int, np.ndarray]:
    """pid -> ascending matching ordinals, for predicates with any match
    (the program omits predicates that match nothing)."""
    ords = meta["ordinal"].to_numpy()
    out = {}
    for pid, tree in enumerate(trees):
        hit = ords[eval_pnode(tree, meta)]
        if len(hit):
            out[pid] = hit
    return out


def hybrid_topk(
    dist: np.ndarray, allowed: dict[int, np.ndarray], k: int
) -> dict[int, tuple[np.ndarray, np.ndarray]]:
    """query -> top-k (ordinals, distances) over its allowed base ordinals."""
    return {q: topk(dist[q, ords], ords, k) for q, ords in allowed.items()}


# --- DuckDB oracle --------------------------------------------------------------

def _file_digest(path: str) -> str:
    h = hashlib.sha256()
    with open(path, "rb") as fh:
        for block in iter(lambda: fh.read(1 << 20), b""):
            h.update(block)
    return h.hexdigest()


def _tuples(x):
    return tuple(_tuples(v) for v in x) if isinstance(x, list) else x


def oracle_rows(sql: str, tables: dict[str, str], cache_dir: str, norm_rows) -> dict:
    """Run one oracle query on DuckDB over ``tables`` (view name -> parquet
    path) and return ``{"cols", "rows"}`` with rows normalized by
    ``norm_rows``. Cached under ``cache_dir`` by SQL text and input bytes."""
    key = hashlib.sha256(sql.encode())
    for name in sorted(tables):
        key.update(f"{name}:{_file_digest(tables[name])}".encode())
    path = os.path.join(cache_dir, key.hexdigest() + ".json")
    if os.path.exists(path):
        with open(path) as fh:
            hit = json.load(fh)
        return {"cols": hit["cols"], "rows": [_tuples(r) for r in hit["rows"]]}
    import duckdb

    con = duckdb.connect()
    try:
        for name, p in tables.items():
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{p}')")
        cur = con.execute(sql)
        cols = [d[0] for d in cur.description]
        rows = norm_rows(cols, cur.fetchall())
    finally:
        con.close()
    os.makedirs(cache_dir, exist_ok=True)
    tmp = f"{path}.{os.getpid()}.tmp"
    with open(tmp, "w") as fh:
        json.dump({"cols": cols, "rows": rows}, fh)
    os.replace(tmp, path)
    return {"cols": cols, "rows": rows}
