"""The benchmark's two workloads: set-up, timed ops, references and checks.

Each op calls the program's public functions the way a user of the library or
CLI does and ends in an action, so its wall covers the work. Calls into a
layer (a module of the program) sit inside ``tracer.span(layer, phase)``:
``build`` is the call that constructs a DataFrame (it may already fire Spark
jobs), ``exec`` the action that runs it. Spans cost nothing in the timed run.

Sizes keep one run (set-up, cold pass, warm passes and reference checks)
near a minute on 4 cores, so that 22 runs of each workload fit in under an
hour. Most of a run is fixed cost (JVM start, first Spark jobs, first Python
workers), so the KNN and filtered answer keys share one workload and one
session instead of paying it twice.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow.parquet as pq

import inputs
import reference as ref

# knn_groundtruth: the `compute knn` + `analyze verify_knn` flow.
KNN_BASE, KNN_QUERIES, KNN_DIM, KNN_K = 10_000, 100, 256, 100
VERIFY_K, VERIFY_SAMPLE = 10, 100
# filtered_groundtruth: result_indices facet + predicate ∧ KNN answer key.
FILT_ROWS, FILT_PREDICATES, FILT_QUERIES, FILT_DIM, FILT_K = 3_000, 60, 16, 64, 10
# curation_gates: registry gates over the sf0.001 tables in data/, one per
# layer the iteration and guard changes land in, then single-pass controls.
GATES = [
    ("events_pagerank", "operators.graph"),  # iterative: 10 power steps
    ("doc_textrank_keywords", "operators.analysis"),  # iterative: 6 rank steps
    ("minhash_candidate_pairs", "operators.dedup"),  # LSH banding
    ("doc_exact_dedup", "functions.text"),  # single-pass controls from here on
    ("q1_pricing_summary", "registry"),
    ("events_sessionize", "streaming.events"),
]


class Workload:
    """Set-up, ops in pass order, reference and per-op check of one workload."""

    name: str
    ops: list[str]
    # warm pass wall on 4 cores at the commit that defined the benchmark;
    # it turns --seconds into a fixed number of warm passes
    nominal_pass_s: float
    min_warm_passes = 1

    def __init__(self, ctx):
        self.ctx = ctx
        self.spark = ctx.spark
        self.tr = ctx.tracer

    def sizes(self) -> dict:
        raise NotImplementedError

    def setup(self, input_dir: str) -> dict:
        """Generate and stage inputs under ``input_dir``; returns the state."""
        raise NotImplementedError

    def run_op(self, op: str, st: dict, p: dict):
        """Run one op; ``p`` carries DataFrames between the ops of one pass."""
        return getattr(self, "op_" + op)(st, p)

    def reference(self, st: dict) -> dict:
        raise NotImplementedError

    def check(self, op: str, outputs: dict, refs: dict) -> str | None:
        """Problem with ``outputs[op]`` (one pass's outputs), or None."""
        return getattr(self, "check_" + op)(outputs, refs)

    def layer_metrics(self, span_s, tag_stats, outputs: dict, st: dict) -> dict:
        """Workload-specific per-layer metrics; see run.layer_report."""
        return {}


# --- answer_keys, part 1: KNN ground truth ---------------------------------------

class KnnGroundTruth(Workload):
    name = "knn_groundtruth"
    ops = ["read_xvec", "exact_knn", "write_xvec", "read_indices", "verify_knn"]

    def sizes(self):
        return {"base": KNN_BASE, "queries": KNN_QUERIES, "dim": KNN_DIM, "k": KNN_K,
                "metric": "cosine", "verify_k": VERIFY_K, "verify_sample": VERIFY_SAMPLE}

    def setup(self, input_dir):
        from nbdatatools_spark.datagen import generate_vectors
        from nbdatatools_spark.sources.xvec import read_xvec, write_xvec

        seed = self.ctx.seed
        st = {
            "base": os.path.join(input_dir, "base.fvec"),
            "queries": os.path.join(input_dir, "queries.fvec"),
            "indices": os.path.join(input_dir, "indices.ivec"),
            "distances": os.path.join(input_dir, "distances.fvec"),
        }
        with self.tr.span("datagen", "exec"):
            for key, n in (("base", KNN_BASE), ("queries", KNN_QUERIES)):
                vs = inputs.vector_seed(seed, f"knn.{key}")
                write_xvec(generate_vectors(self.spark, n, KNN_DIM, seed=vs), st[key])
        with self.tr.span("sources", "exec"):  # warm-up: starts the Python workers
            read_xvec(self.spark, st["queries"]).count()
        return st

    def op_read_xvec(self, st, p):
        from nbdatatools_spark.sources.xvec import read_xvec

        with self.tr.span("sources", "build"):
            base = read_xvec(self.spark, st["base"])
            queries = read_xvec(self.spark, st["queries"])
        p["base"] = self.tr.materialize(base, "sources")
        p["queries"] = self.tr.materialize(queries, "sources")
        with self.tr.span("sources", "exec"):
            return [p["base"].count(), p["queries"].count()]

    def op_exact_knn(self, st, p):
        from nbdatatools_spark.operators.knn import exact_knn

        with self.tr.span("operators.knn", "build"):
            nn = exact_knn(p["queries"], p["base"], k=KNN_K)
        p["nn"] = self.tr.materialize(nn, "operators.knn")

    def op_write_xvec(self, st, p):
        # exactly the CLI's `compute knn --indices --distances` writes
        from pyspark.sql import functions as F

        from nbdatatools_spark.sources.xvec import write_xvec

        nn = p["nn"]
        with self.tr.span("sources", "exec"):
            n_idx = write_xvec(
                nn.select("ordinal", F.col("indices").cast("array<int>").alias("vector")),
                st["indices"],
            )
            n_dist = write_xvec(
                nn.select("ordinal", F.col("distances").cast("array<float>").alias("vector")),
                st["distances"],
            )
        return {"written": [n_idx, n_dist], "distances": ref.read_fvec(st["distances"])}

    def op_read_indices(self, st, p):
        from nbdatatools_spark.sources.xvec import read_xvec

        with self.tr.span("sources", "build"):
            truth = read_xvec(self.spark, st["indices"]).withColumnRenamed("vector", "indices")
        with self.tr.span("sources", "exec"):
            tab = truth.toArrow()
        p["truth"] = truth
        return {
            "ordinal": tab.column("ordinal").to_numpy(),
            "indices": np.array(tab.column("indices").to_pylist(), dtype=np.int64),
        }

    def op_verify_knn(self, st, p):
        from nbdatatools_spark.operators.knn import verify_knn

        with self.tr.span("operators.knn", "build"):
            v = verify_knn(p["queries"], p["base"], p["truth"], k=VERIFY_K,
                           sample_size=VERIFY_SAMPLE, impl="gemm")
        with self.tr.span("operators.knn", "exec"):
            row = v.collect()[0]
        return row.asDict()

    def reference(self, st):
        q = ref.read_fvec(st["queries"])
        base = ref.read_fvec(st["base"])
        dist = ref.cosine_distances(q, base)
        ords = np.arange(base.shape[0], dtype=np.int64)
        return {"dist": dist, "topk": [ref.topk(row, ords, KNN_K) for row in dist]}

    def check_read_xvec(self, out, refs):
        want = [KNN_BASE, KNN_QUERIES]
        return None if out["read_xvec"] == want else f"records read {out['read_xvec']}"

    def check_exact_knn(self, out, refs):
        return None  # its answer is checked through the files ops 3 and 4 see

    def check_write_xvec(self, out, refs):
        w = out["write_xvec"]
        if w["written"] != [KNN_QUERIES, KNN_QUERIES]:
            return f"records written {w['written']}"
        if w["distances"].shape != (KNN_QUERIES, KNN_K):
            return f"distances.fvec shape {w['distances'].shape}"
        return None

    def check_read_indices(self, out, refs):
        r = out["read_indices"]
        if not np.array_equal(r["ordinal"], np.arange(KNN_QUERIES)):
            return "indices.ivec ordinals are not 0..Q-1"
        dist = out["write_xvec"]["distances"]
        for qi in range(KNN_QUERIES):
            want_idx, want_dist = refs["topk"][qi]
            problem = ref.topk_problem(
                r["indices"][qi], dist[qi], refs["dist"][qi], want_idx, want_dist,
                ref.DIST_TOL_F32, tie_order=False,
            )
            if problem:
                return f"query {qi}: {problem}"
        return None

    def check_verify_knn(self, out, refs):
        v = out["verify_knn"]
        if v["mean_recall"] != 1.0 or v["n_queries"] != VERIFY_SAMPLE:
            return f"verify_knn {v}"
        return None

    def layer_metrics(self, span_s, tag_stats, outputs, st):
        knn_exec = tag_stats("exact_knn", "operators.knn", "exec")
        task_s = knn_exec["task_s"]
        merge_rows = knn_exec["shuffle_records_written"]
        read_ops = ("read_xvec", "read_indices")
        return {
            "xvec.read_s": sum(span_s(op, "sources") for op in read_ops),
            "xvec.read_bytes": sum(os.path.getsize(st[k]) for k in ("base", "queries", "indices")),
            "xvec.read_tasks": sum(tag_stats(op, "sources", "exec")["tasks"] for op in read_ops),
            "xvec.write_s": span_s("write_xvec", "sources"),
            "xvec.write_bytes": os.path.getsize(st["indices"]) + os.path.getsize(st["distances"]),
            "knn.build_s": span_s("exact_knn", "operators.knn", "build"),
            "knn.exec_s": span_s("exact_knn", "operators.knn", "exec"),
            "knn.task_s": task_s,
            "knn.distance_evals": KNN_QUERIES * KNN_BASE,
            "knn.merge_rows": merge_rows,
            "knn.merge_useful_ratio": KNN_QUERIES * KNN_K / merge_rows if merge_rows else 0.0,
            "knn.verify_s": span_s("verify_knn", "operators.knn"),
            # computed, not counted: 2*Q*B*d multiply-adds over the kernel's task time
            "knn.flops_per_task_s": 2 * KNN_QUERIES * KNN_BASE * KNN_DIM / task_s if task_s else 0.0,
        }


# --- answer_keys, part 2: filtered ground truth ----------------------------------

class FilteredGroundTruth(Workload):
    name = "filtered_groundtruth"
    ops = ["result_indices_table", "hybrid_ground_truth"]

    def sizes(self):
        return {"rows": FILT_ROWS, "predicates": FILT_PREDICATES, "queries": FILT_QUERIES,
                "base": FILT_ROWS, "dim": FILT_DIM, "k": FILT_K, "metric": "cosine"}

    def setup(self, input_dir):
        from nbdatatools_spark.datagen import generate_vectors
        from nbdatatools_spark.sources.xvec import read_xvec, write_xvec

        seed = self.ctx.seed
        st = {
            "meta_path": os.path.join(input_dir, "metadata.parquet"),
            "base": os.path.join(input_dir, "base.fvec"),
            "queries": os.path.join(input_dir, "queries.fvec"),
        }
        with self.tr.span("datagen", "exec"):
            st["meta"] = inputs.metadata_rows(seed, FILT_ROWS)
            st["meta"].to_parquet(st["meta_path"], index=False)
            st["trees"] = inputs.predicate_trees(seed, FILT_PREDICATES)
            st["hybrid_trees"] = inputs.hybrid_predicates(seed, FILT_QUERIES)
            for key, n in (("base", FILT_ROWS), ("queries", FILT_QUERIES)):
                vs = inputs.vector_seed(seed, f"filtered.{key}")
                write_xvec(generate_vectors(self.spark, n, FILT_DIM, seed=vs), st[key])
        st["predicates"] = [(i, json.dumps(t)) for i, t in enumerate(st["trees"])]
        st["hybrid_predicates"] = [(i, json.dumps(t)) for i, t in enumerate(st["hybrid_trees"])]
        with self.tr.span("sources", "exec"):
            st["meta_df"] = self.spark.read.parquet(st["meta_path"])
            st["meta_df"].count()
            st["base_df"] = read_xvec(self.spark, st["base"])
            st["queries_df"] = read_xvec(self.spark, st["queries"])
            st["queries_df"].count()
        return st

    def op_result_indices_table(self, st, p):
        from nbdatatools_spark.operators.hybrid import result_indices_table

        with self.tr.span("operators.hybrid", "build"):
            ri = result_indices_table(st["meta_df"], st["predicates"])
        with self.tr.span("operators.hybrid", "exec") as rec:
            tab = ri.toArrow()
        if rec is not None:
            rec["catalyst_ms"] = catalyst_ms(ri)
        return {
            int(pid): np.asarray(m, dtype=np.int64)
            for pid, m in zip(tab.column("ordinal").to_pylist(), tab.column("matches").to_pylist())
        }

    def op_hybrid_ground_truth(self, st, p):
        from nbdatatools_spark.operators.hybrid import hybrid_ground_truth

        with self.tr.span("operators.hybrid", "build"):
            gt = hybrid_ground_truth(
                st["queries_df"], st["base_df"], st["meta_df"],
                st["hybrid_predicates"], k=FILT_K,
            )
        with self.tr.span("operators.hybrid", "exec"):
            tab = gt.toArrow()
        return {
            int(q): (np.asarray(i, dtype=np.int64), np.asarray(d, dtype=np.float64))
            for q, i, d in zip(*(tab.column(c).to_pylist() for c in ("ordinal", "indices", "distances")))
        }

    def reference(self, st):
        dist = ref.cosine_distances(ref.read_fvec(st["queries"]), ref.read_fvec(st["base"]))
        allowed = ref.result_indices(st["hybrid_trees"], st["meta"])
        return {"matches": ref.result_indices(st["trees"], st["meta"]), "dist": dist,
                "hybrid": ref.hybrid_topk(dist, allowed, FILT_K)}

    def check_result_indices_table(self, out, refs):
        got, want = out["result_indices_table"], refs["matches"]
        if sorted(got) != sorted(want):
            return f"predicates with matches: got {len(got)}, want {len(want)}"
        bad = [pid for pid in want if not np.array_equal(got[pid], want[pid])]
        return f"match sets differ for predicates {bad[:5]}" if bad else None

    def check_hybrid_ground_truth(self, out, refs):
        got, want = out["hybrid_ground_truth"], refs["hybrid"]
        if sorted(got) != sorted(want):
            return f"queries answered: got {sorted(got)}, want {sorted(want)}"
        for q, (want_idx, want_dist) in want.items():
            problem = ref.topk_problem(*got[q], refs["dist"][q], want_idx, want_dist,
                                       ref.DIST_TOL_F64)
            if problem:
                return f"query {q}: {problem}"
        return None

    def layer_metrics(self, span_s, tag_stats, outputs, st):
        answered = outputs["hybrid_ground_truth"]
        matches = outputs["result_indices_table"]
        allowed = ref.result_indices(st["hybrid_trees"], st["meta"])
        attempted = len(answered) * FILT_ROWS
        useful = sum(len(allowed[q]) for q in answered)
        return {
            "predicates.parse_s": span_s(None, "predicates", "parse"),
            "predicates.compile_s": span_s(None, "predicates", "compile"),
            # trees parsed and compiled per pass, by both ops
            "predicates.nodes": sum(map(inputs.count_nodes, st["trees"] + st["hybrid_trees"])),
            "hybrid.ri_build_s": span_s("result_indices_table", "operators.hybrid", "build"),
            "hybrid.ri_catalyst_ms": span_s("result_indices_table", "operators.hybrid", "exec",
                                            field="catalyst_ms"),
            "hybrid.ri_exec_s": span_s("result_indices_table", "operators.hybrid", "exec"),
            "hybrid.match_rows": sum(len(m) for m in matches.values()),
            "hybrid.gt_exec_s": span_s("hybrid_ground_truth", "operators.hybrid", "exec"),
            "hybrid.pairs_attempted": attempted,
            "hybrid.pairs_useful": useful,
            "hybrid.pair_useful_ratio": useful / attempted if attempted else 0.0,
        }


def catalyst_ms(df) -> float:
    """Analysis + optimization + planning ms of ``df``'s last query execution,
    from Spark's ``QueryPlanningTracker``."""
    phases = df._jdf.queryExecution().tracker().phases()
    jvm = df.sparkSession.sparkContext._jvm
    as_java = jvm.scala.jdk.javaapi.CollectionConverters.asJava(phases)
    return float(sum(as_java.get(k).durationMs() for k in as_java.keySet()))


# --- answer_keys ----------------------------------------------------------------

class AnswerKeys(Workload):
    """The ``compute knn`` + verify flow, then the filtered (predicate and
    KNN) answer key, in one session: each part stages its own inputs in its
    own directory, and a pass runs the KNN ops, then the filtered ones."""

    name = "answer_keys"
    nominal_pass_s = 12.5

    def __init__(self, ctx):
        super().__init__(ctx)
        self.parts = [KnnGroundTruth(ctx), FilteredGroundTruth(ctx)]
        self.ops = [op for part in self.parts for op in part.ops]
        self.owner = {op: part for part in self.parts for op in part.ops}

    def sizes(self):
        return {part.name: part.sizes() for part in self.parts}

    def setup(self, input_dir):
        st = {}
        for part in self.parts:
            part_dir = os.path.join(input_dir, part.name)
            os.makedirs(part_dir)
            st[part.name] = part.setup(part_dir)
        return st

    def run_op(self, op, st, p):
        part = self.owner[op]
        return part.run_op(op, st[part.name], p)

    def reference(self, st):
        return {part.name: part.reference(st[part.name]) for part in self.parts}

    def check(self, op, outputs, refs):
        part = self.owner[op]
        return part.check(op, outputs, refs[part.name])

    def layer_metrics(self, span_s, tag_stats, outputs, st):
        out = {}
        for part in self.parts:
            out.update(part.layer_metrics(span_s, tag_stats, outputs, st[part.name]))
        return out


# --- curation_gates ---------------------------------------------------------------

class CurationGates(Workload):
    name = "curation_gates"
    ops = [g for g, _ in GATES]
    nominal_pass_s = 13.0
    # the first warm pass still runs while the JIT settles and reads either
    # ~10.8 s or ~14.5 s; a second one halves that jump in the median
    min_warm_passes = 2

    def sizes(self):
        return {"tables": {n: pq.read_metadata(inputs.curation_source(n)).num_rows
                           for n in inputs.CURATION_TABLES},
                "gates": self.ops}

    def setup(self, input_dir):
        st = {"sf_dir": input_dir}
        with self.tr.span("datagen", "exec"):
            for name in inputs.CURATION_TABLES:
                path = os.path.join(input_dir, f"{name}.parquet")
                pq.write_table(inputs.curation_table(self.ctx.seed, name), path)
        with self.tr.span("sources", "exec"):
            for name in inputs.CURATION_TABLES:
                self.spark.read.parquet(os.path.join(input_dir, f"{name}.parquet")).count()
        return st

    def run_op(self, op, st, p):
        import __spark_entry__ as registry

        layer = dict(GATES)[op]
        with self.tr.span(layer, "build"):
            df = registry.queries()[op](self.spark, st["sf_dir"])
        with self.tr.span(layer, "exec"):
            rows = [tuple(r) for r in df.collect()]
        return {"cols": df.columns, "rows": rows}

    def reference(self, st):
        # The oracle reads the unpermuted copies: the staged files hold the
        # same rows in another order, so their answer is the same, and the
        # cache (keyed by SQL text and file bytes) serves every seed.
        import __spark_entry__ as registry
        from check_oracle import norm_rows

        sql = registry.oracle_sql()
        tables = {n: inputs.curation_source(n) for n in inputs.CURATION_TABLES}
        return {op: ref.oracle_rows(sql[op], tables, self.ctx.cache_dir, norm_rows)
                for op in self.ops}

    def check(self, op, outputs, refs):
        from check_oracle import norm_rows

        got, want = outputs[op], refs[op]
        if sorted(got["cols"]) != sorted(want["cols"]):
            return f"columns {sorted(got['cols'])} != oracle {sorted(want['cols'])}"
        if len(got["rows"]) != len(want["rows"]):
            return f"{len(got['rows'])} rows != oracle {len(want['rows'])}"
        rows = norm_rows(got["cols"], got["rows"])
        if rows != want["rows"]:
            first = next(i for i, (a, b) in enumerate(zip(rows, want["rows"])) if a != b)
            return f"row {first} differs: {rows[first]} != oracle {want['rows'][first]}"
        return None

    def layer_metrics(self, span_s, tag_stats, outputs, st):
        out = {}
        for gate, layer in GATES:
            build = tag_stats(gate, layer, "build")
            run = tag_stats(gate, layer, "exec")
            out[f"{gate}.build_s"] = span_s(gate, layer, "build")
            out[f"{gate}.build_jobs"] = build["jobs"]
            out[f"{gate}.exec_s"] = span_s(gate, layer, "exec")
            out[f"{gate}.shuffle_bytes"] = build["shuffle_write_bytes"] + run["shuffle_write_bytes"]
        return out


WORKLOADS = {w.name: w for w in (AnswerKeys, CurationGates)}
