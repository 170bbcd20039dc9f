"""Registry gates on the answer-key path vs the bit-exact DuckDB oracle at
sf0.001 — the compare scripts/check_oracle.py runs (its row canonicalization
and hash-hazard scan), for every live or candidate gate whose body calls
the predicate compiler, operators.hybrid, read_xvec or the top-k family
that shares the broadcast-query kernel of operators.knn (exact_knn,
brute_force_topk, hard_negatives, pq_topk, ivfpq_topk and the neighbor
statistics built on them). The gates are found from their source, so a
new gate on these paths is checked too."""

import inspect
import os
import sys

import pytest

import __spark_entry__ as e

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(ROOT, "scripts"))
import check_oracle  # noqa: E402

PATH_NAMES = ("compile_pnode", "where_pnode", "hybrid_ground_truth", "result_indices_table",
              "operators.hybrid", "read_xvec", "exact_knn", "brute_force_topk", "hard_negatives",
              "pq_topk", "ivfpq_topk", "hubness_stats", "mutual_knn_pairs", "knn_label_accuracy",
              "knn_overlap")


def _gates():
    out = []
    for queries, oracles in ((e.queries(), e.oracle_sql()),
                             (e.candidate_queries(), e.candidate_oracles())):
        for name, fn in queries.items():
            if name in oracles and any(n in inspect.getsource(fn) for n in PATH_NAMES):
                out.append((name, fn, oracles[name]))
    return sorted(out, key=lambda g: g[0])


GATES = _gates()


def test_answer_key_gates_found():
    assert {
        "hybrid_filtered_knn",
        "result_indices_hybrid",
        "pq_rerank_self_top1",
        "embedding_hard_negatives",
    } <= {g[0] for g in GATES}


@pytest.mark.parametrize("name,fn,sql", GATES, ids=[g[0] for g in GATES])
def test_gate_matches_oracle(spark, sf_dir, duck, name, fn, sql):
    sdf = fn(spark, sf_dir)
    srows = [tuple(r) for r in sdf.collect()]
    cur = duck.execute(sql)
    ocols = [d[0] for d in cur.description]
    orows = cur.fetchall()
    check_oracle.HAZARDS.clear()
    check_oracle.hazard_scan(duck, sql, sdf)
    assert not check_oracle.HAZARDS, name
    assert sorted(sdf.columns) == sorted(ocols), name
    assert check_oracle.norm_rows(sdf.columns, srows) == check_oracle.norm_rows(ocols, orows), name
