"""Tests for the benchmark's own code: helpers, generators, references and the
event-log parser. Run with ``python3 -m pytest perfbench/tests -q``."""

from __future__ import annotations

import hashlib
import json
import os
import sys

import numpy as np
import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path[:0] = [BENCH, os.path.dirname(BENCH)]

import inputs  # noqa: E402
import reference as ref  # noqa: E402
import tracing  # noqa: E402


# --- statistics helpers ------------------------------------------------------

def test_median_and_geomean():
    assert tracing.median([3.0, 1.0, 2.0]) == 2.0
    assert tracing.median([1.0, 2.0, 3.0, 10.0]) == 2.5
    assert tracing.geomean([1.0, 4.0]) == pytest.approx(2.0)
    assert tracing.geomean(x for x in [2.0, 8.0, 4.0]) == pytest.approx(4.0)
    with pytest.raises(ValueError):
        tracing.geomean([1.0, 0.0])


def _span(i, parent, start, end):
    return {"id": i, "parent": parent, "start": start, "end": end}


def test_self_times_subtract_the_union_of_children():
    spans = [
        _span(0, None, 0.0, 10.0),
        _span(1, 0, 1.0, 4.0),
        _span(2, 0, 3.0, 6.0),  # overlaps span 1: the union is 1..6
        _span(3, 0, 8.0, 12.0),  # runs past its parent: clipped at 10
        _span(4, 1, 2.0, 3.0),
    ]
    st = tracing.self_times(spans)
    assert st[0] == pytest.approx(10.0 - 5.0 - 2.0)
    assert st[1] == pytest.approx(3.0 - 1.0)
    assert st[2] == pytest.approx(3.0)
    assert st[4] == pytest.approx(1.0)


# --- seeded generators ---------------------------------------------------------

def frame_digest(df: pd.DataFrame) -> str:
    h = hashlib.sha256()
    for name in df.columns:
        h.update(f"{name}:{df[name].dtype}".encode())
        h.update(pd.util.hash_pandas_object(df[name], index=False).to_numpy().tobytes())
    return h.hexdigest()


GENERATED = {
    "metadata": lambda seed: inputs.metadata_rows(seed, 500),
    **{name: (lambda seed, name=name: inputs.curation_table(seed, name).to_pandas())
       for name in inputs.CURATION_TABLES},
    "predicates": lambda seed: pd.DataFrame(
        {"tree": [json.dumps(t, sort_keys=True) for t in inputs.predicate_trees(seed, 30)]}
    ),
    "hybrid_predicates": lambda seed: pd.DataFrame(
        {"tree": [json.dumps(t, sort_keys=True) for t in inputs.hybrid_predicates(seed, 8)]}
    ),
}


@pytest.mark.parametrize("name", sorted(GENERATED))
def test_same_seed_same_digest_other_seed_other_digest(name):
    make = GENERATED[name]
    assert frame_digest(make(7)) == frame_digest(make(7))
    assert frame_digest(make(7)) != frame_digest(make(8))


def test_curation_tables_keep_their_rows_and_schema():
    import pyarrow.parquet as pq

    def sorted_digest(tab):
        df = tab.to_pandas()
        return frame_digest(df.sort_values(list(df.columns)).reset_index(drop=True))

    for name in inputs.CURATION_TABLES:
        source = pq.read_table(inputs.curation_source(name))
        staged = inputs.curation_table(3, name)
        assert staged.schema == source.schema
        assert not staged.equals(source)  # another row order ...
        assert sorted_digest(staged) == sorted_digest(source)  # ... of the same rows


def test_vector_seeds_depend_on_seed_and_stream():
    assert inputs.vector_seed(1, "knn.base") == inputs.vector_seed(1, "knn.base")
    assert inputs.vector_seed(1, "knn.base") != inputs.vector_seed(2, "knn.base")
    assert inputs.vector_seed(1, "knn.base") != inputs.vector_seed(1, "knn.queries")


def test_predicate_work_is_seed_independent_and_uses_every_op():
    a, b = inputs.predicate_trees(1, 60), inputs.predicate_trees(2, 60)
    assert sum(map(inputs.count_nodes, a)) == sum(map(inputs.count_nodes, b))
    ops = set()

    def walk(t, depth=0):
        assert depth <= 3
        ops.add(t["op"])
        for c in t.get("nodes", ()):
            walk(c, depth + 1)

    for t in a:
        walk(t)
    assert ops == {"AND", "OR", "GT", "LT", "GE", "LE", "EQ", "NE", "IN", "MATCHES"}


def test_hybrid_allowed_sets_are_seed_independent_in_size():
    sizes = []
    for seed in (1, 2, 3):
        meta = inputs.metadata_rows(seed, 3000)
        allowed = ref.result_indices(inputs.hybrid_predicates(seed, 16), meta)
        sizes.append(sum(len(v) for v in allowed.values()))
    assert max(sizes) / min(sizes) < 1.06  # random trees spread ~1.7x


# --- references -------------------------------------------------------------------

def test_eval_pnode():
    df = pd.DataFrame({"age": [5, 50, 95], "category": ["cat1", "cat5", "cat2"], "tag": ["abc", "xyz", "aee"]})
    tree = {"op": "OR", "nodes": [
        {"op": "AND", "nodes": [
            {"fieldName": "age", "op": "GE", "values": [50]},
            {"fieldName": "category", "op": "IN", "values": ["cat5", "cat7"]},
        ]},
        {"fieldName": "tag", "op": "MATCHES", "values": [".*e"]},
    ]}
    assert ref.eval_pnode(tree, df).tolist() == [False, True, True]
    # MATCHES is a full match, not a search
    assert ref.eval_pnode({"fieldName": "tag", "op": "MATCHES", "values": ["b"]}, df).tolist() == [False] * 3


def test_topk_problem_accepts_the_reference_and_rejects_wrong_answers():
    rng = np.random.default_rng(0)
    dist = rng.random(50)
    ords = np.arange(50)
    idx, d = ref.topk(dist, ords, 5)
    assert ref.topk_problem(idx, d, dist, idx, d, 1e-9) is None
    wrong = idx.copy()
    wrong[-1] = np.argsort(dist)[5]  # the 6th nearest in place of the 5th
    assert ref.topk_problem(wrong, dist[wrong], dist, idx, d, 1e-9) is not None
    assert ref.topk_problem(idx, d + 1e-6, dist, idx, d, 1e-9) is not None
    assert ref.topk_problem(idx[::-1], d[::-1], dist, idx, d, 1e-9) is not None


def test_topk_ties_break_by_ordinal():
    dist = np.array([0.5, 0.1, 0.1, 0.3])
    idx, _ = ref.topk(dist, np.arange(4), 3)
    assert idx.tolist() == [1, 2, 3]
    assert ref.topk_problem([2, 1, 3], dist[[2, 1, 3]], dist, idx, dist[idx], 1e-9) is not None
    assert ref.topk_problem([2, 1, 3], dist[[2, 1, 3]], dist, idx, dist[idx], 1e-9,
                            tie_order=False) is None


def test_read_fvec_round_trip(tmp_path):
    mat = np.arange(12, dtype="<f4").reshape(3, 4)
    rec = np.empty((3, 4 + 16), dtype=np.uint8)
    rec[:, :4] = np.full(3, 4, dtype="<i4").view(np.uint8).reshape(3, 4)
    rec[:, 4:] = mat.view(np.uint8)
    path = tmp_path / "m.fvec"
    path.write_bytes(rec.tobytes())
    assert np.array_equal(ref.read_fvec(str(path)), mat)


# --- event log ------------------------------------------------------------------------

def test_parse_event_log_attributes_jobs_to_tags(tmp_path):
    from pyspark.sql import functions as F

    from nbdatatools_spark.session import get_spark

    logs = tmp_path / "eventlog"
    logs.mkdir()
    spark = get_spark("perfbench-test", master="local[2]", shuffle_partitions=2, extra_conf={
        "spark.ui.showConsoleProgress": "false",
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": str(logs),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    })
    try:
        tr = tracing.Tracer(spark, "w", enabled=True)
        tr.op = "agg"
        with tr.span("layer", "exec"):
            spark.range(1000).groupBy((F.col("id") % 7).alias("m")).count().collect()
        spark.range(10).count()  # untagged: ignored by the parser
    finally:
        spark.stop()
    [log] = os.listdir(logs)
    stats = tracing.parse_event_log(str(logs / log))
    assert list(stats) == ["bench:w:agg:layer:exec"]
    st = stats["bench:w:agg:layer:exec"]
    assert st["jobs"] >= 1 and st["stages"] >= 2 and st["tasks"] >= 2
    assert st["shuffle_write_bytes"] > 0 and st["shuffle_records_written"] > 0
    assert st["shuffle_read_bytes"] > 0
    assert st["exchanges"] >= 1
    assert st["task_s"] >= 0.0 and st["max_stage_skew"] >= 1.0
    assert [s["tag"] for s in tr.spans] == ["bench:w:agg:layer:exec"]
