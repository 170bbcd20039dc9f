"""Benchmark entry point.

    python3 perfbench/run.py --workload answer_keys --seed 1 --seconds 10 --trace 0

Runs one workload against the program in the checkout around this directory,
on ``local[<cores>]``, as a closed loop with one client: set-up, a cold pass,
then about ``--seconds`` of warm passes. Every op's output is checked against
an independent reference. The last line of stdout is one JSON object:
``correct``, ``attempted``, ``failed`` and ``metrics`` (the end-to-end
metrics of BENCHMARK.json with ``--trace 0``, its per-layer metrics with
``--trace 1``). A full run record goes to ``perfbench/out/``.
The exit code is 0 only when every output matched its reference.
"""

_T_PROCESS = __import__("time").perf_counter()

import argparse  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import time  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# The driver heap is pinned (-Xms = -Xmx, where the program defaults to 8g and
# lets G1 grow the heap): G1 resizes by GC-time ratios, so with the default
# the JVM's VmHWM follows machine speed more than the program (a 0.24 spread
# over five curation_gates seeds). Pinned, the JVM part of peak_rss_mb follows
# native and off-heap memory; heap growth shows in the walls as GC time.
DRIVER_MEMORY = "1g"


class Ctx:
    def __init__(self, spark, tracer, seed, cache_dir):
        self.spark, self.tracer, self.seed, self.cache_dir = spark, tracer, seed, cache_dir


# --- process and environment helpers ---------------------------------------------

def _vm_hwm_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def _children(pid: int) -> list[int]:
    out = []
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                with open(f"/proc/{name}/stat") as fh:
                    stat = fh.read()
            except OSError:
                continue
            if int(stat.rsplit(")", 1)[1].split()[1]) == pid:
                out.append(int(name))
    return out


def _descendants(pid: int) -> list[int]:
    out, todo = [], [pid]
    while todo:
        kids = _children(todo.pop())
        out += kids
        todo += kids
    return out


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def stop_spark(spark) -> None:
    """Stop the session, then the JVM and the Python workers it started, and
    wait until every one of them has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if proc is None:
        return
    spawned = _descendants(proc.pid)
    gateway.shutdown()
    proc.stdin.close()  # the gateway JVM exits when its stdin closes
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    deadline = time.monotonic() + 15
    while any(_alive(p) for p in spawned) and time.monotonic() < deadline:
        time.sleep(0.1)
    for p in spawned:
        if _alive(p):
            os.kill(p, signal.SIGKILL)


def _versions() -> dict:
    import numpy
    import pyarrow
    import pyspark

    return {"spark": pyspark.__version__, "numpy": numpy.__version__,
            "pyarrow": pyarrow.__version__, "python": sys.version.split()[0]}


def _git_sha() -> str | None:
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return None  # a source tree exported without its git metadata
    r = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True, text=True)
    return r.stdout.strip() or None


def _source_digest() -> str:
    """sha256 over the program's Python sources: identifies the code measured
    where no git SHA exists."""
    h = hashlib.sha256()
    files = [os.path.join(ROOT, "__spark_entry__.py")]
    for d, _, names in os.walk(os.path.join(ROOT, "nbdatatools_spark")):
        files += [os.path.join(d, n) for n in names if n.endswith(".py")]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def _loadavg() -> list[float]:
    return [float(x) for x in open("/proc/loadavg").read().split()[:3]]


# --- passes -----------------------------------------------------------------------

def run_pass(wl, st, tracer, trace_id) -> dict:
    """One pass over the workload's ops, in order. Op failures are recorded,
    not raised: the pass goes on and the failure counts in the result."""
    tracer.trace_id = trace_id
    walls, outputs, errors = {}, {}, {}
    t_pass = time.perf_counter()
    with tracer.span("bench", "pass", tag=False):
        p: dict = {}
        for op in wl.ops:
            tracer.op = op
            t0 = time.perf_counter()
            try:
                with tracer.span("bench", "op", tag=False):
                    outputs[op] = wl.run_op(op, st, p)
            except Exception:  # an op that raises is a failed op, not a failed run
                errors[op] = traceback.format_exc(limit=3)
            walls[op] = time.perf_counter() - t0
    wall = time.perf_counter() - t_pass
    tracer.release()
    return {"trace": trace_id, "wall": wall, "op_walls": walls, "outputs": outputs, "errors": errors}


def check_passes(wl, passes, refs) -> tuple[int, int, list]:
    attempted, problems = 0, []
    for ps in passes:
        for op in wl.ops:
            attempted += 1
            problem = ps["errors"].get(op)
            if problem is None:
                try:
                    problem = wl.check(op, ps["outputs"], refs)
                except Exception:
                    problem = traceback.format_exc(limit=3)
            if problem:
                problems.append({"pass": ps["trace"], "op": op, "problem": problem})
    return attempted, len(problems), problems


# --- metrics ----------------------------------------------------------------------

def end_to_end(passes, cold, setup_s, rss_mb, attempted, failed, wl) -> dict:
    from tracing import geomean, median

    return {
        "setup_s": setup_s,
        "cold_pass_s": cold["wall"],
        "pass_s": median(p["wall"] for p in passes),
        "op_geomean_s": geomean(median(p["op_walls"][op] for p in passes) for op in wl.ops),
        "peak_rss_mb": rss_mb,
        "op_ok_ratio": (attempted - failed) / attempted,
    }


def layer_report(wl, tracer, tag_totals, traced, plain, st, parallelism) -> dict:
    """Per-layer metrics of the traced passes: span times and event-log
    counts, each the mean over the traced passes."""
    from tracing import TAG_PREFIX, empty_tag_stats, median, self_times

    ids = {p["trace"] for p in traced}
    n = len(traced)
    spans = [s for s in tracer.spans if s["trace"] in ids]

    def span_s(op, layer, phase=None, field=None):
        vals = [s.get(field, 0.0) if field else s["end"] - s["start"]
                for s in spans
                if (op is None or s["op"] == op) and s["layer"] == layer
                and (phase is None or s["phase"] == phase)]
        return sum(vals) / n

    def tag_stats(op, layer, phase):
        tot = tag_totals.get(f"{TAG_PREFIX}{wl.name}:{op}:{layer}:{phase}", empty_tag_stats())
        return {k: (v if k == "max_stage_skew" else v / n) for k, v in tot.items()}

    tagged = {(s["op"], s["layer"], s["phase"]) for s in spans if s["tag"]}
    stats = [(phase, tag_stats(op, layer, phase)) for op, layer, phase in tagged]

    def total(key, phase=None):
        return sum(s[key] for ph, s in stats if phase is None or ph == phase)

    layer_spans = [s for s in spans if s["phase"] in ("build", "exec") and s["layer"] != "bench"]
    build_s = sum(s["end"] - s["start"] for s in layer_spans if s["phase"] == "build") / n
    exec_s = sum(s["end"] - s["start"] for s in layer_spans if s["phase"] == "exec") / n
    exec_task_s = total("task_s", "exec")
    metrics = {
        "session.jobs": total("jobs"),
        "session.build_jobs": total("jobs", "build"),
        "session.stages": total("stages"),
        "session.tasks": total("tasks"),
        "session.build_s": build_s,
        "session.exec_s": exec_s,
        "session.task_s": total("task_s"),
        "session.core_busy_ratio": exec_task_s / (exec_s * parallelism) if exec_s else 0.0,
        "session.task_skew": max([s["max_stage_skew"] for _, s in stats], default=1.0),
        "session.shuffle_write_bytes": total("shuffle_write_bytes"),
        "session.shuffle_read_bytes": total("shuffle_read_bytes"),
        "session.spill_bytes": total("spill_bytes"),
        "session.exchanges": total("exchanges"),
        "datagen.s": sum(s["end"] - s["start"] for s in tracer.spans
                         if s["op"] == "setup" and s["layer"] == "datagen"),
    }
    selfs = self_times(spans)
    for s in spans:
        key = f"self.{s['layer']}_s"
        metrics[key] = metrics.get(key, 0.0) + selfs[s["id"]] / n
    metrics.update(wl.layer_metrics(span_s, tag_stats, traced[-1]["outputs"], st))
    traced_s = median(p["wall"] for p in traced)
    plain_s = median(p["wall"] for p in plain)
    metrics.update({"trace.pass_s": traced_s, "trace.untraced_pass_s": plain_s,
                    "trace.overhead_s": traced_s - plain_s})
    return metrics


# --- main -------------------------------------------------------------------------

def measure(args, workdir: str) -> tuple[dict, dict]:
    sys.path[:0] = [ROOT, os.path.join(ROOT, "scripts")]
    from nbdatatools_spark.session import get_spark

    import tracing as tr
    from workloads import WORKLOADS

    record: dict = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
                    "loadavg_start": _loadavg()}
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(workdir, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEMORY}",
    }
    eventlog_dir = os.path.join(workdir, "eventlog")
    if args.trace:
        os.makedirs(eventlog_dir)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": eventlog_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_spark(f"perfbench-{args.workload}", extra_conf=conf)
    try:
        spark.sparkContext.setLogLevel("ERROR")
        session_s = time.perf_counter() - _T_PROCESS
        tracer = tr.Tracer(spark, args.workload, enabled=bool(args.trace))
        ctx = Ctx(spark, tracer, args.seed, os.path.join(HERE, ".cache", "oracle"))
        wl = WORKLOADS[args.workload](ctx)
        undo = []
        if args.trace:
            from nbdatatools_spark.operators import hybrid

            undo = [tracer.wrap(hybrid, "parse_pnode", "predicates", "parse"),
                    tracer.wrap(hybrid, "compile_pnode", "predicates", "compile")]

        input_dir = os.path.join(workdir, "inputs")
        os.makedirs(input_dir)
        st = wl.setup(input_dir)
        setup_s = time.perf_counter() - _T_PROCESS  # process start to the first pass

        # cold pass untraced; in a traced run, warm passes alternate traced
        # and untraced so the overhead is measured under the same load
        tracer.enabled = False
        cold = run_pass(wl, st, tracer, "cold")
        # The pass count depends on --seconds only, never on how fast passes
        # run: walls still fall pass by pass as the JVM warms, so a
        # time-bounded loop would give a faster program more, later passes.
        n_warm = max(wl.min_warm_passes, math.ceil(args.seconds / wl.nominal_pass_s))
        if args.trace:  # at least one traced and one untraced pass
            n_warm = max(n_warm, 2)
        passes = []
        for i in range(n_warm):
            tracer.enabled = bool(args.trace) and i % 2 == 0
            passes.append(run_pass(wl, st, tracer, f"warm{i}"))
        tracer.enabled = False
        rss = {"python_mb": _vm_hwm_kb(os.getpid()) / 1024,
               "jvm_mb": _vm_hwm_kb(spark.sparkContext._gateway.proc.pid) / 1024}
        rss_mb = rss["python_mb"] + rss["jvm_mb"]
        parallelism = spark.sparkContext.defaultParallelism
        record["loadavg_end"] = _loadavg()
        for u in undo:
            u()

        refs = wl.reference(st)
        attempted, failed, problems = check_passes(wl, [cold] + passes, refs)
    finally:
        stop_spark(spark)

    plain = [p for i, p in enumerate(passes) if not (args.trace and i % 2 == 0)]
    traced = [p for i, p in enumerate(passes) if args.trace and i % 2 == 0]
    e2e = end_to_end(plain, cold, setup_s, rss_mb, attempted, failed, wl)
    record.update({
        "env": {"default_parallelism": parallelism, "nproc": len(os.sched_getaffinity(0)),
                "git_sha": _git_sha(), "source_digest": _source_digest(), **_versions()},
        "sizes": wl.sizes(),
        "session_start_s": session_s,
        "peak_rss": rss,
        "cold": {"wall": cold["wall"], "op_walls": cold["op_walls"]},
        "warm": [{"trace": p["trace"], "wall": p["wall"], "op_walls": p["op_walls"]} for p in passes],
        "warm_samples": len(plain),
        "attempted": attempted, "failed": failed, "problems": problems,
        "end_to_end": e2e,
    })
    metrics = e2e
    if args.trace:
        logs = os.listdir(eventlog_dir)
        tag_totals = tr.parse_event_log(os.path.join(eventlog_dir, logs[0]))
        metrics = layer_report(wl, tracer, tag_totals, traced, plain, st, parallelism)
        record.update({"per_layer": metrics, "spans": tracer.spans, "tag_totals": tag_totals})
    return record, metrics


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        ap.error(f"unknown workload {args.workload!r}")
    if not os.path.isfile(os.path.join(ROOT, "nbdatatools_spark", "session.py")):
        print(f"error: the program (nbdatatools_spark/) is not in {ROOT}", file=sys.stderr)
        return 2
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]

    # everything the run writes stays in the checkout and goes at exit
    os.makedirs(os.path.join(HERE, ".work"), exist_ok=True)
    workdir = tempfile.mkdtemp(prefix="run-", dir=os.path.join(HERE, ".work"))
    os.environ.update({
        "TMPDIR": workdir,
        "SPARK_LOCAL_DIRS": os.path.join(workdir, "local"),
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={workdir} -XX:-UsePerfData",
        "PYTHONWARNINGS": "ignore",
        "MALLOC_ARENA_MAX": "2",  # fewer glibc arenas: steadier native RSS
    })
    tempfile.tempdir = workdir
    try:
        record, metrics = measure(args, workdir)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)

    if args.trace:  # a layer this workload never calls reads 0
        for m in wanted:
            metrics.setdefault(m["name"], 0.0)
    missing = [m["name"] for m in wanted if m["name"] not in metrics]
    if missing:
        raise RuntimeError(f"metrics not computed: {missing}")
    out_dir = os.path.join(HERE, "out")
    os.makedirs(out_dir, exist_ok=True)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    with open(os.path.join(out_dir, name), "w") as fh:
        json.dump(record, fh, indent=1, default=str)

    for p in record["problems"]:
        print(f"MISMATCH {p['pass']} {p['op']}: {p['problem']}", file=sys.stderr)
    for m in wanted:
        print(f"{m['name']:>40} = {metrics[m['name']]:.6g} {m['unit']}")
    print(f"{'warm passes':>40} = {record['warm_samples']}")
    correct = record["failed"] == 0
    print(json.dumps({
        "correct": correct,
        "attempted": record["attempted"],
        "failed": record["failed"],
        "metrics": {m["name"]: {"value": metrics[m["name"]], "unit": m["unit"]} for m in wanted},
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
