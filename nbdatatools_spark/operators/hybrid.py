"""Hybrid-query ground truth: ANN search ∧ metadata predicate (SURVEY §0.3).

Reference semantics (specs/ordinal_predicate_writers_v1.md:24-33): predicate
*i* pairs with query vector *i*; the filtered answer key for query i is the
top-k of base vectors RESTRICTED to the ordinals matching predicate i
(result_indices facet). This is the reference's core correctness query for
filtered vector search.

Physical strategy: compile each predicate to a Column once (driver-side, the
predicate table is small by construction — one row per query) and evaluate
them all in ONE scan of the metadata, which tags every metadata row with the
ids of the predicates it satisfies (``__pids``). ``result_indices_table``
inverts that array into per-predicate match lists. ``hybrid_ground_truth``
instead joins it to the base rows by ordinal and pushes the filter into the
GEMM partial top-k kernel of operators.knn: each Arrow batch masks its
(batch x Q) distance matrix by the rows' predicate ids, so candidate pairs
are never materialized and the base table streams through once.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from nbdatatools_spark.operators.knn import _exact_knn_gemm, _metric_scorer, _neighbor_arrays
from nbdatatools_spark.predicates.compiler import compile_pnode
from nbdatatools_spark.predicates.pnode import PNode, parse_pnode


def _predicate_ids(
    meta: DataFrame, predicates: list[tuple[int, PNode | str]], ordinal: str
) -> DataFrame:
    """-> (__mord, __pids ARRAY<pid>): each metadata row with the ids of the
    predicates it satisfies, all predicates evaluated in one projection."""
    cols = []
    for pid, node in predicates:
        if isinstance(node, (str, bytes, dict)):
            node = parse_pnode(node)
        pred = compile_pnode(node, columns=meta.columns)
        cols.append(F.when(pred, F.lit(pid)))
    return meta.select(
        F.col(ordinal).alias("__mord"),
        F.array_compact(F.array(*cols)).alias("__pids"),
    )


def _allowed_mask(col: pa.Array, n: int, q_ids: np.ndarray) -> np.ndarray:
    """(n x Q) mask: base row r may answer query j when q_ids[j] is one of
    the predicate ids listed in row r of the Arrow list column ``col``."""
    lens = np.diff(col.offsets.to_numpy())
    pids = col.flatten().to_numpy(zero_copy_only=False).astype(np.int64)
    rows = np.repeat(np.arange(n), lens)
    order = np.argsort(q_ids, kind="stable")
    pos = np.minimum(np.searchsorted(q_ids[order], pids), len(q_ids) - 1)
    hit = q_ids[order][pos] == pids
    mask = np.zeros((n, len(q_ids)), dtype=bool)
    mask[rows[hit], order[pos[hit]]] = True
    return mask


def result_indices_table(
    meta: DataFrame,
    predicates: list[tuple[int, PNode | str]],
    ordinal: str = "ordinal",
) -> DataFrame:
    """Materialize the result_indices facet for MANY predicates in one job.

    -> (ordinal BIGINT, matches ARRAY<BIGINT>) where row i lists the
    ascending metadata ordinals satisfying predicate i (P8;
    TestDataKind.java:85-89). One scan of ``meta`` evaluates every compiled
    predicate as a boolean projection; explode+filter+collect keeps it a
    single shuffle keyed by predicate ordinal.
    """
    exploded = _predicate_ids(meta, predicates, ordinal).select(
        "__mord", F.explode("__pids").alias("pid")
    )
    return (
        exploded.groupBy("pid")
        .agg(F.array_sort(F.collect_list("__mord")).alias("matches"))
        .select(F.col("pid").cast("bigint").alias(ordinal), "matches")
    )


def hybrid_ground_truth(
    queries: DataFrame,
    base: DataFrame,
    meta: DataFrame,
    predicates: list[tuple[int, PNode | str]],
    k: int,
    metric: str = "cosine",
    ordinal: str = "ordinal",
    vec: str = "vector",
) -> DataFrame:
    """Filtered KNN answer key: for each query i, top-k over base vectors
    whose ordinal satisfies predicate i.

    Returns (ordinal, indices, distances) like exact_knn, ordered by
    (distance, base ordinal), NULL (zero-magnitude cosine) last. Queries
    with no predicate, or whose predicate matches no base vector, have no
    row. Metadata ordinals are unique: one metadata row per vector.
    """
    pids = _predicate_ids(meta, predicates, ordinal).where(F.size("__pids") > 0)
    b = base.select(F.col(ordinal).alias("__bid"), F.col(vec).alias("__bvec")).join(
        pids, F.col("__bid") == F.col("__mord")
    ).select("__bid", "__bvec", "__pids")
    knn_scorer = _metric_scorer(metric)

    def scorer(q):
        q_ids = q[0].to_numpy().astype(np.int64)
        score = knn_scorer(q)

        def masked(batch):
            D, key = score(batch)
            key[~_allowed_mask(batch.column(2), batch.num_rows, q_ids)] = np.nan
            return D, key

        return masked

    nn = _neighbor_arrays(_exact_knn_gemm(queries.select(ordinal, vec), b, k, scorer))
    qtype = queries.schema[ordinal].dataType.simpleString()
    btype = base.schema[ordinal].dataType.simpleString()
    return nn.select(
        F.col("ordinal").cast(qtype).alias(ordinal),
        F.col("indices").cast(f"array<{btype}>").alias("indices"),
        "distances",
    )
