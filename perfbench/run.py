"""Seeded, oracle-checked benchmark of the autoextract pipeline.

    python3 perfbench/run.py --workload forms_spans --seed 1 --seconds 25 --trace 0

One process runs one workload in a closed loop (one client, the next
pipeline call starts when the previous one returns) on ``local[N]``, checks every
output against the generator's oracle and prints one JSON object as its last
stdout line: ``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the
per-layer metrics and writes the trace spans to ``perfbench/out/traces/``.
See README.md in this directory.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import subprocess
import sys
import threading
import time
import traceback
from statistics import median

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT = os.path.join(ROOT, "perfbench", "out")

#: Spark driver heap: the program's 48g default exceeds this host class's RAM
DRIVER_MEM = "4g"
#: local[N] with N = min(nproc, this): the program's envelope is ~2 vCPUs
#: per Python task, and on the 4-vCPU host class this benchmark is sized for
#: the other two carry the JVM's JIT compiler and GC threads, so a cycle's
#: wall depends less on how far the JIT has got
MAX_LOCAL_N = 2
#: set-ups per run, each on a freshly launched JVM; setup_s is their median
SETUPS = 2
#: cycles a run times at least: the session's cold first cycle and one warm one
MIN_CYCLES = 2
RSS_SAMPLE_S = 0.2
STORAGE_SAMPLE_S = 0.25
#: pages / documents timed directly against the layout and HTML kernels
DIRECT_SAMPLE_DOCS = 200
#: documents in a traced run's probe of the layers its loop does not exercise
PROBE_DOCS = 200
DIRECT_REPEATS = 5


def metric_units() -> tuple[dict[str, str], dict[str, str]]:
    """``{name: unit}`` of the end-to-end and the per-layer metrics, as
    BENCHMARK.json at the checkout's root defines them."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return ({m["name"]: m["unit"] for m in spec["end_to_end"]},
            {m["name"]: m["unit"] for m in spec["per_layer"]})


class Tracer:
    """In-memory spans (name, start, end, parent, run id), written at the end.
    Disabled tracers record nothing."""

    def __init__(self, enabled: bool, run_id: str):
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[dict] = []

    def add(self, name: str, start: float, end: float, parent: int | None = None) -> int | None:
        if not self.enabled:
            return None
        self.spans.append(
            {"id": len(self.spans), "name": name, "start": start, "end": end,
             "parent": parent, "run_id": self.run_id}
        )
        return len(self.spans) - 1

    def around(self, name: str, fn):
        """Call ``fn`` inside a top-level span; return its result."""
        t0 = time.time()
        result = fn()
        self.add(name, t0, time.time())
        return result


# ----------------------------------------------------------------------
# host envelope
# ----------------------------------------------------------------------
def host_env(run_dir: str) -> None:
    """Only host-envelope settings, through the program's own env knobs; every
    Spark tuning conf stays at the program's default."""
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    # Python workers unpickle kernels by module path, so they must import
    # autoextract from this checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["AUTOEXTRACT_DRIVER_MEM"] = DRIVER_MEM
    # scratch, shuffle and temp files stay inside the checkout
    os.environ["AUTOEXTRACT_LOCAL_DIR"] = local
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"


_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def tree_usage(root_pid: int) -> tuple[int, float]:
    """(resident bytes, CPU seconds) of every live descendant of
    ``root_pid`` (the Spark JVM and its Python workers), not counting
    ``root_pid`` itself. CPU seconds include reaped children, so the total
    stays monotone when a worker exits."""
    stats: dict[int, list[str]] = {}
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except (OSError, IndexError):
            continue
        stats[int(name)] = fields
        kids.setdefault(int(fields[1]), []).append(int(name))
    rss, ticks = 0, 0
    todo = list(kids.get(root_pid, []))
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, []))
        f = stats[pid]
        ticks += sum(int(x) for x in f[11:15])  # utime stime cutime cstime
        rss += int(f[21]) * _PAGE
    return rss, ticks / _TICK


class UsageSampler:
    """Peak resident memory and CPU seconds of the Spark process tree while
    the ``with`` block runs."""

    def __init__(self):
        self.peak_rss = 0
        self.cpu_s = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        me = os.getpid()
        while not self._stop.is_set():
            self.peak_rss = max(self.peak_rss, tree_usage(me)[0])
            self._stop.wait(RSS_SAMPLE_S)

    def __enter__(self):
        self._cpu0 = tree_usage(os.getpid())[1]
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self.cpu_s = tree_usage(os.getpid())[1] - self._cpu0


class StoragePoller:
    """Peak bytes of persisted RDD blocks (``/storage/rdd``) while the
    ``with`` block runs; records nothing when disabled."""

    def __init__(self, rest, enabled: bool):
        self.rest = rest
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True) if enabled else None

    def _run(self):
        while not self._stop.wait(STORAGE_SAMPLE_S):
            self.peak = max(self.peak, self.rest.storage_bytes())

    def __enter__(self):
        if self._thread is not None:
            self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        if self._thread is not None:
            self._thread.join()


def stop_spark() -> None:
    """Stop the session and the py4j JVM this process launched, and wait."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    spark = SparkSession.getActiveSession()
    if spark is not None:
        spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            proc.terminate()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None


# ----------------------------------------------------------------------
# the run
# ----------------------------------------------------------------------
def setup(wl, n_cores: int, i: int, tracer: Tracer):
    """``get_spark`` to ready on a freshly launched JVM, including one warm-up
    pass: a first Spark job, which starts the scheduler and the local
    executor's task threads. This is what every run of the program pays."""
    from autoextract.session import get_spark

    stop_spark()  # any earlier set-up's session and JVM
    t0, e0 = time.monotonic(), time.time()
    spark = get_spark(app_name=f"perfbench-{wl.name}", parallelism=n_cores)
    get_s = time.monotonic() - t0
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(0, 64, 1, n_cores).selectExpr("sum(id)").collect()
    total = time.monotonic() - t0
    tracer.add(f"setup[{i}]", e0, time.time())
    return spark, total, get_s


def timed_loop(spark, wl, src, run_dir: str, seconds: float, tracer: Tracer):
    """Closed loop, one client: the next cycle starts when the last returns,
    and, after the first ``MIN_CYCLES``, only if it is expected to end within
    ``seconds`` (the last cycle's wall is the estimate). Timing starts with
    the session's first, cold cycle: it pays the JIT and the Python workers'
    first start, about 1.6x a warm cycle's wall, and every run of the
    program pays it, since each runs in a fresh session."""
    cycles = []
    t0 = time.monotonic()
    est_s = 0.0
    with UsageSampler() as usage:
        while len(cycles) < MIN_CYCLES or time.monotonic() - t0 + est_s <= seconds:
            k = len(cycles)
            c0, e0 = time.monotonic(), time.time()
            calls = wl.cycle(spark, src, os.path.join(run_dir, f"out-{k:03d}"), f"t{k}-")
            est_s = time.monotonic() - c0
            parent = tracer.add(f"cycle[{k}]", e0, time.time())
            for c in calls:
                c.span = tracer.add(c.name, c.start, c.end, parent)
            cycles.append(calls)
    return cycles, usage


def committed(calls):
    return [c for c in calls if c.docs > 0]


def call_layers(call, kernels: dict, rest, snap, trace: bool, tracer: Tracer) -> dict:
    """Per-layer numbers of one pipeline call, from its tagged jobs."""
    from perfbench.sparkrest import union_seconds

    jobs, stages, execs = snap
    call_jobs = jobs.get(call.tag, [])
    job_ids = {j["jobId"] for j in call_jobs}
    stage_ids = {s for j in call_jobs for s in j["stageIds"]}
    done = [stages[s] for s in sorted(stage_ids) if s in stages and stages[s].status == "COMPLETE"]
    m: dict[str, float] = {
        "shuffle_bytes": float(sum(s.shuffle_write_bytes for s in done)),
        "pipeline.jobs": float(len(job_ids)),
        "pipeline.write_s": 0.0,
        "pipeline.files_written": 0.0,
        "pipeline.output_bytes": 0.0,
    }
    m["pipeline.driver_gap_s"] = call.wall_s - union_seconds(
        [(s.start, s.end) for s in done if s.start and s.end]
    )
    if not trace:
        return m
    for s in done:
        if s.start and s.end:
            tracer.add(f"stage {s.stage_id}: {s.name[:60]}", s.start, s.end, call.span)
    for e in (e for e in execs if e.job_ids & job_ids):
        names = {n.name for n in e.nodes.values()}
        for n in e.named("Execute InsertIntoHadoopFsRelationCommand"):
            if "Exchange" not in names:
                continue  # checkpoint / lineage appends
            m["pipeline.files_written"] += n.total("number of written files")
            m["pipeline.output_bytes"] += n.total("written output")
            ws = stages.get(n.stage())
            if ws and ws.start and ws.end:
                m["pipeline.write_s"] += ws.end - ws.start
        for n in e.nodes.values():
            layer = kernels.get(n.name)
            if layer is None or n.total("number of output rows") == 0:
                continue  # not a kernel, or a cached plan's idle copy
            add = {
                "py_start_s": n.total("time to start Python workers"),
                "py_init_s": n.total("time to initialize Python workers"),
                "py_run_s": n.total("time to run Python workers"),
                "arrow_bytes_to_py": n.total("data sent to Python workers"),
                "arrow_bytes_from_py": n.total("data returned from Python workers"),
            }
            st = stages.get(n.stage())
            if st is not None:
                add.update(stage_run_s=st.run_s, stage_cpu_s=st.cpu_s, gc_s=st.gc_s,
                           tasks=st.num_tasks, spill_bytes=st.spill_bytes,
                           task_skew=rest.task_skew(st.stage_id))
            if layer == "layout":
                up = e.upstream(n.node_id)
                ex = [u for u in up if u.name == "Exchange"]
                add["exchanges"] = len(ex)
                add["shuffle_write_bytes"] = sum(u.total("shuffle bytes written") for u in ex)
                add["shuffle_records"] = sum(u.total("shuffle records written") for u in ex)
                sorts = [u for u in up if u.name == "Sort"]
                add["sort_s"] = sum(u.total("sort time") for u in sorts)
                add["spill_bytes"] = add.get("spill_bytes", 0) + sum(u.total("spill size") for u in sorts)
            for k, v in add.items():
                key = f"{layer}.{k}"
                m[key] = m.get(key, 0.0) + float(v)
    return m


def direct_layers(spark, wl, base: str, out: str, m: dict, tracer: Tracer) -> None:
    """Time the layers' pure-Python public functions directly, outside Spark."""
    import numpy as np
    from pyspark.sql import functions as F

    from autoextract.operators.html import html_to_spans
    from autoextract.operators.layout import page_reading_order
    from autoextract.plans.checkpoint import CheckpointStore
    from autoextract.plans.pipeline import SPANS_STAGE

    def per_item_us(name, items, fn):
        def once():
            t = time.perf_counter()
            for it in items:
                fn(it)
            return time.perf_counter() - t

        walls = tracer.around(name, lambda: [once() for _ in range(DIRECT_REPEATS)])
        return median(walls) / len(items) * 1e6

    pages = wl.pages(spark, base)
    if pages is not None:
        ids = pages.select("doc_id").distinct().orderBy("doc_id").limit(DIRECT_SAMPLE_DOCS)
        pdf = pages.join(ids, "doc_id").toPandas().sort_values(["doc_id", "page", "word_seq"])
        sample = [
            (g[["x0", "y0", "x1", "y1"]].to_numpy(dtype=np.float64), g["word_seq"].to_numpy())
            for _, g in pdf.groupby(["doc_id", "page"], sort=True)
        ]
        m["layout.page_order_us_per_page"] = per_item_us(
            "direct:page_reading_order", sample, lambda p: page_reading_order(p[0], tiebreak=p[1])
        )
        # the geometry memo keys on a page's exact (boxes, tiebreak) bytes:
        # equal (word_seq, box) lists ⇔ equal keys
        geom = pages.groupBy("doc_id", "page").agg(
            F.sort_array(F.collect_list(F.struct("word_seq", "x0", "y0", "x1", "y1"))).alias("g")
        )
        row = geom.agg(F.count("*").alias("n"), F.countDistinct("g").alias("d")).collect()[0]
        m["layout.geom_repeat_ratio"] = 1.0 - row["d"] / row["n"]
    if "html" in wl.kernels.values():
        docs = wl.source(spark, base).orderBy("doc_id").limit(DIRECT_SAMPLE_DOCS).collect()
        m["html.us_per_doc"] = per_item_us(
            "direct:html_to_spans", docs, lambda r: html_to_spans(r["doc_id"], r["html"])
        )
    store = CheckpointStore(spark, out)
    walls = tracer.around(
        "direct:done_buckets",
        lambda: [_timed(lambda: store.done_buckets(SPANS_STAGE)) for _ in range(3)],
    )
    m["checkpoint.done_buckets_s"] = median(walls)


def fill_stats(extracted) -> dict:
    """``extract.fields_out`` and ``extract.filled_ratio`` (non-empty values ÷
    emitted fields) of one extraction output."""
    from pyspark.sql import functions as F

    r = extracted.agg(
        F.count("*").alias("n"), F.sum((F.col("value") != "").cast("long")).alias("f")
    ).collect()[0]
    return {"extract.fields_out": float(r["n"]), "extract.filled_ratio": r["f"] / r["n"]}


def _timed(fn) -> float:
    t = time.perf_counter()
    fn()
    return time.perf_counter() - t


def probe(spark, pw, seed: int, run_dir: str, rest, layer_names, tracer: Tracer):
    """One cycle of workload ``pw`` over ``PROBE_DOCS`` documents, so a traced
    run also measures the layers its own loop does not exercise. Returns the
    probe's layer metrics, its failing ``(job, doc_id)`` pairs and its
    input base dir."""
    base = os.path.join(run_dir, f"probe-{pw.name}")
    out = os.path.join(base, "out")
    pw.generate_input(spark, PROBE_DOCS, seed, base)
    pw.generate_oracle(spark, PROBE_DOCS, seed, base)
    src = pw.source(spark, base)
    extracts = "extract" in pw.kernels.values()
    with StoragePoller(rest, extracts) as storage:
        e0 = time.time()
        calls = pw.cycle(spark, src, out, f"probe-{pw.name}-")
    parent = tracer.add(f"probe:{pw.name}", e0, time.time())
    for c in calls:
        c.span = tracer.add(c.name, c.start, c.end, parent)
    snap = rest.snapshot()
    per_call = [call_layers(c, pw.kernels, rest, snap, True, tracer) for c in committed(calls)]
    m = {k: median([p.get(k, 0.0) for p in per_call]) for p in per_call for k in p if k in layer_names}
    if pw.resumes:
        m.update(resume_layers(pw, [calls]))
    if extracts:
        m.update(fill_stats(spark.read.parquet(os.path.join(out, "extracted"))))
        m["pipeline.persist_bytes"] = float(storage.peak)
    return m, pw.bad_docs(spark, base, [out]), base


def resume_layers(wl, cycles) -> dict:
    """``checkpoint.*`` numbers of kill/resume/rerun cycles."""
    walls = {n: [c.wall_s for cy in cycles for c in cy if c.name.endswith(n)] for n in (":resume", ":noop")}
    pending = wl.N_BUCKETS - len(wl.KILLED_AFTER)
    return {
        "checkpoint.resume_s": median(walls[":resume"]),
        "checkpoint.noop_rerun_s": median(walls[":noop"]),
        "checkpoint.resume_waste_ratio": median(
            [c.buckets / pending for cy in cycles for c in cy if c.name.endswith(":resume")]
        ),
    }


def run(args):
    from pyspark.sql import functions as F

    from perfbench.oracle import count_failed
    from perfbench.sparkrest import Rest
    from perfbench.workloads import WORKLOADS

    wl = WORKLOADS[args.workload]
    e2e_units, layer_units = metric_units()
    nproc = len(os.sched_getaffinity(0))
    n_cores = min(nproc, MAX_LOCAL_N)
    run_id = f"{wl.name}-s{args.seed}-p{os.getpid()}"
    run_dir = os.path.join(OUT, "runs", run_id)
    base = os.path.join(run_dir, "data")
    os.makedirs(run_dir, exist_ok=True)
    host_env(run_dir)
    trace = bool(args.trace)
    tracer = Tracer(trace, run_id)
    try:
        setups = [setup(wl, n_cores, i, tracer) for i in range(SETUPS)]
        spark = setups[-1][0]
        sc = spark.sparkContext

        def generate():
            wl.generate_input(spark, wl.docs_per_job, args.seed, base)
            wl.generate_oracle(spark, wl.docs_per_job, args.seed, base)

        tracer.around("generate", generate)
        src = wl.source(spark, base)

        rest = Rest(sc.uiWebUrl, sc.applicationId)
        extracts = "extract" in wl.kernels.values()
        with StoragePoller(rest, trace and extracts) as storage:
            cycles, usage = timed_loop(spark, wl, src, run_dir, args.seconds, tracer)

        outs = [os.path.join(run_dir, f"out-{k:03d}") for k in range(len(cycles))]
        bad = wl.bad_docs(spark, base, outs)
        loop_docs = attempted = wl.docs_per_job * len(cycles)
        # every document counts once per cycle, against the wall of every
        # call the cycle made: a call that redoes finished work adds wall,
        # CPU and shuffle but no documents
        snap = rest.snapshot(sql=trace)
        all_calls = [c for cy in cycles for c in cy]
        layers = [call_layers(c, wl.kernels, rest, snap, trace, tracer) for c in all_calls]
        e2e = {
            "docs_per_s": loop_docs / sum(c.wall_s for c in all_calls),
            "setup_s": median([s[1] for s in setups]),
            "shuffle_bytes_per_doc": sum(p["shuffle_bytes"] for p in layers) / loop_docs,
        }
        m = {k: 0.0 for k in layer_units}
        if trace:
            m["session.get_spark_s"] = median([s[2] for s in setups])
            m["session.peak_rss_mb"] = usage.peak_rss / 2**20
            m["session.cpu_ms_per_doc"] = usage.cpu_s * 1000 / loop_docs
            # layer numbers are medians over the warm cycles' committing calls
            n_cold = len(cycles[0])
            per_call = [p for c, p in zip(all_calls[n_cold:], layers[n_cold:]) if c.docs > 0]
            for k in {k for p in per_call for k in p if k in layer_units}:
                m[k] = median([p.get(k, 0.0) for p in per_call])
            if wl.resumes:
                m.update(resume_layers(wl, cycles[1:]))
            else:
                m["checkpoint.noop_rerun_s"] = wl.cycle(spark, src, outs[-1], "noop-")[0].wall_s
            if extracts:
                m.update(fill_stats(spark.read.parquet(os.path.join(outs[-1], "extracted"))))
                m["pipeline.persist_bytes"] = float(storage.peak)
            direct_layers(spark, wl, base, outs[-1], m, tracer)
            # layers the loop does not exercise are measured on a small probe:
            # layout and extract through run_full_job, html and resume through
            # the kill/resume/rerun cycle; the loop's own numbers are kept
            probes = []
            if {"layout", "extract"} - set(wl.kernels.values()):
                probes.append(WORKLOADS["forms_full"])
            if not wl.resumes:
                probes.append(WORKLOADS["html_resume"])
            for k, pw in enumerate(probes, start=1):
                pm, pbad, pbase = probe(spark, pw, args.seed, run_dir, rest, layer_units, tracer)
                direct_layers(spark, pw, pbase, os.path.join(pbase, "out"), pm, tracer)
                for key, v in pm.items():
                    own = key.startswith(("pipeline.", "checkpoint.done", "checkpoint.noop"))
                    if m[key] == 0.0 and (not own or key == "pipeline.persist_bytes"):
                        m[key] = v
                bad += [b.select((F.col("job") + len(outs) + k).alias("job"), "doc_id") for b in pbad]
                attempted += PROBE_DOCS
            m["trace.docs_per_s"] = e2e["docs_per_s"]
        failed = tracer.around("oracle", lambda: count_failed(*bad))
        info = {
            "workload": wl.name, "seed": args.seed, "seconds": args.seconds, "trace": args.trace,
            "host": platform.node(), "nproc": nproc, "local_n": n_cores, "driver_mem": DRIVER_MEM,
            "spark": spark.version, "pyspark": _version("pyspark"), "pyarrow": _version("pyarrow"),
            "java": sc._jvm.System.getProperty("java.version"), "python": platform.python_version(),
            "docs_per_job": wl.docs_per_job, "cycles": len(cycles),
            "call_walls_s": [[c.name, c.wall_s] for cy in cycles for c in cy],
            "setup_walls_s": [s[1] for s in setups],
            "get_spark_walls_s": [s[2] for s in setups],
            "failed_doc_frac": failed / attempted,
            "peak_rss_mb": usage.peak_rss / 2**20,
            "cpu_ms_per_doc": usage.cpu_s * 1000 / loop_docs,
            **e2e,
        }
        if wl.resumes:
            info["resume_s"] = resume_layers(wl, cycles[1:])["checkpoint.resume_s"]
        result = {"correct": failed == 0, "attempted": attempted, "failed": failed}
        if trace:
            os.makedirs(os.path.join(OUT, "traces"), exist_ok=True)
            with open(os.path.join(OUT, "traces", f"{run_id}.json"), "w") as f:
                json.dump({"info": info, "metrics": m, "spans": tracer.spans}, f, indent=1)
            result["metrics"] = {k: {"value": m[k], "unit": u} for k, u in layer_units.items()}
        else:
            result["metrics"] = {k: {"value": e2e[k], "unit": u} for k, u in e2e_units.items()}
        return info, result
    finally:
        stop_spark()
        shutil.rmtree(run_dir, ignore_errors=True)


def _version(module: str) -> str:
    return __import__(module).__version__


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = p.parse_args(argv)
    if not (os.path.isdir(os.path.join(ROOT, "autoextract")) and os.path.isfile(os.path.join(ROOT, "__spark_entry__.py"))):
        print(f"perfbench: no autoextract checkout at {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    try:
        info, result = run(args)
    except Exception:
        traceback.print_exc()
        return 1
    print(json.dumps({"perfbench": info}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
