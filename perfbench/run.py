"""The engine's benchmark: one command, two workloads, end-to-end and
per-layer metrics.

    python3 perfbench/run.py --workload mix_sf0.01 --seed 1 --seconds 14 --trace 0

Run from the repository root (any checkout of it). Each run is one process
that builds the engine's SparkSession at ``local[<nproc>]`` (the package's
``SPARK_GRAFT_CPUS`` set to the usable core count, every other engine
default untouched), then:

1. times its own set-up (import, ``get_spark``, ``all_queries``) as
   ``setup_s``;
2. runs one cold pass over the workload, then warm passes until
   ``--seconds`` would be exceeded (at least ``MIN_WARM_PASSES``);
3. checks every execution's output and calls ``release_caches`` after it,
   both outside the timed span, so no pass reuses another pass's memo.

``--trace 1`` is a separate run for the per-layer numbers: the same passes
with Spark's event log on and every span tagged as a Spark job group; the
log is reduced onto the spans after the run. The last line of standard
output is the JSON result.

Inputs live under ``.bench_build/perfbench`` in the checkout. The tables are
generated once per checkout (``datagen.py``); the seed picks the query order
of every pass and, for ``refjob_files``, the document-to-file mapping and the
four centres.
"""

from __future__ import annotations

import argparse
import hashlib
import importlib.metadata
import json
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

import checks
import datagen
import procstat
import spans

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
PACKAGE = "hadoop_web_browsing_logs_spark"
WORK = os.path.join(ROOT, ".bench_build", "perfbench")

SF = 0.01
#: one registered query per query module, over tables small enough that
#: planning, eager barriers, iteration loops and per-job scheduling dominate
MIX_QUERIES = (
    "q_graph_bfs_frontier",
    "q_dedup_jaccard_prefix_t7",
    "q_vec_nearest_center",
    "q_sim_range_search",
    "q_text_tfidf",
    "q1_pricing_summary",
    "q_events_funnel",
    "q_llm_chunk",
    "q_udf_cogrouped_map",
    "q_agg_salted_hotkey",
    "q_stream_session_batch",
)
MODULES = (
    "operators.graph",
    "operators.dedup",
    "operators.vectors",
    "operators.similarity",
    "operators.text",
    "operators.relational",
    "operators.events_analytics",
    "operators.llm_pipeline",
    "operators.udf_surface",
    "operators.skew",
    "streaming.windows",
)
N_FILES = 250
N_CENTERS = 4
REF_STOPWORDS = ("a", "an", "and", "of", "the", "to")
WORKLOADS = ("mix_sf0.01", "refjob_files")
#: ``pass_s`` takes each query's fastest of at least this many warm passes:
#: the JIT is still compiling through the first one (30-50% slow), and a
#: neighbour on the shared host that slows another one does not move it
MIN_WARM_PASSES = 3
SPAN_KINDS = ("run", "setup", "pass", "query", "build", "exec", "job1", "job2", "write")
#: spans whose wall time is the execution of a result (parallelism's base)
EXEC_KINDS = ("exec", "job1", "job2")

#: ``cold_pass_s`` is one sample per process, and a run has room for one
#: process, so it is a per-layer metric of the traced run (no bound)
END_TO_END = {"setup_s": "s", "pass_s": "s"}


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def _median(xs):
    return statistics.median(xs) if xs else None


def _env(cpus: int) -> None:
    """Environment every process of a run shares: the core count as the
    tier-1 tests set it, scratch space inside the checkout, and the package
    importable by the PySpark workers."""
    for d in ("spark-local", "tmp", "eventlog"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


# ---------------------------------------------------------------------------
# Session lifetime
# ---------------------------------------------------------------------------


def setup(tracer: spans.Tracer, extra_conf: dict | None = None):
    """Import the package, build the session and load the registry: the
    set-up a fresh process pays before its first query."""
    with tracer.span("setup"):
        t0 = time.perf_counter()
        from hadoop_web_browsing_logs_spark import session
        from hadoop_web_browsing_logs_spark.plans import registry

        t1 = time.perf_counter()
        spark = session.get_spark("perfbench", extra_conf=extra_conf)
        t2 = time.perf_counter()
        queries = registry.all_queries()
        t3 = time.perf_counter()
    times = {"import_s": t1 - t0, "get_spark_s": t2 - t1, "registry_s": t3 - t2, "setup_s": t3 - t0}
    return spark, queries, times


def _run_child(cmd: list[str], timeout: float, stderr_path: str) -> int | str:
    """Run ``cmd`` in its own process group and return its exit code. On
    timeout the whole group (its JVM and PySpark workers too) is killed and
    waited for, and ``"a timeout"`` is returned."""
    with open(stderr_path, "w") as err:
        proc = subprocess.Popen(cmd, stdout=subprocess.DEVNULL, stderr=err, start_new_session=True)
        try:
            return proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            tree = procstat.descendants(proc.pid)
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            procstat.wait_gone(tree, timeout=30)
            return "a timeout"


def _jvm_pid() -> int:
    from pyspark import SparkContext

    return SparkContext._gateway.proc.pid


def shutdown(spark) -> None:
    """Stop the session and the JVM, and wait until the JVM and every
    PySpark worker have exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = gateway.proc
    workers = procstat.python_workers(proc.pid)
    spark.stop()
    gateway.shutdown()
    proc.stdin.close()
    proc.wait(timeout=60)
    if not procstat.wait_gone(workers, timeout=30):
        log("perfbench: PySpark workers still alive after 30 s")


# ---------------------------------------------------------------------------
# Inputs
# ---------------------------------------------------------------------------


def data_dir() -> str:
    """The generated tables at scale ``SF`` (built on first use)."""
    d = os.path.join(WORK, "data", f"sf{SF}")
    if not os.path.exists(os.path.join(d, "_COMPLETE")):
        t0 = time.perf_counter()
        tmp = d + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        datagen.write(SF, tmp)
        open(os.path.join(tmp, "_COMPLETE"), "w").close()
        shutil.rmtree(d, ignore_errors=True)
        os.rename(tmp, d)
        log(f"perfbench: generated sf{SF} tables in {time.perf_counter() - t0:.1f} s")
    return d


def refjob_inputs(seed: int, docs: list[str]) -> dict:
    """The reference's four arguments for ``N_FILES`` documents: the seed
    maps documents to file numbers 1..N and draws the centres."""
    rng = random.Random(seed)
    base = os.path.join(WORK, "refjob")
    shutil.rmtree(base, ignore_errors=True)
    corpus = os.path.join(base, "docs")
    os.makedirs(corpus)
    numbers = list(range(1, N_FILES + 1))
    rng.shuffle(numbers)
    by_file = {}
    for text, n in zip(docs[:N_FILES], numbers):
        by_file[n] = text
        with open(os.path.join(corpus, f"{n}.txt"), "w", encoding="utf-8") as fh:
            fh.write(text)
    stop = os.path.join(base, "stopwords.txt")
    with open(stop, "w") as fh:
        fh.write("\n".join(REF_STOPWORDS) + "\n")
    centers = []
    while len(centers) < N_CENTERS:
        c = [rng.randint(0, 1) for _ in range(N_FILES)]
        if any(c):
            centers.append(c)
    center_file = os.path.join(base, "centers.txt")
    with open(center_file, "w") as fh:
        for c in centers:
            fh.write("[" + "".join(f"{v}," for v in c) + "]\n")
    return {
        "input_dir": corpus,
        "output_dir": os.path.join(base, "out"),
        "stopwords_file": stop,
        "centers_file": center_file,
        "docs": by_file,
        "centers": centers,
    }


# ---------------------------------------------------------------------------
# Workloads: one pass = every query once
# ---------------------------------------------------------------------------


class Workload:
    """A workload's inputs and expected outputs; ``run_pass`` runs it once."""

    def __init__(self, tracer: spans.Tracer):
        self.tracer = tracer
        self.spark = None
        #: count persistent RDDs after each execution (traced runs)
        self.traced = False

    def _after(self, rec: dict, release) -> dict:
        if self.traced:
            rec["rdds_left"] = len(self.spark.sparkContext._jsc.getPersistentRDDs())
        release(self.spark)
        return rec


class Mix(Workload):
    """The registered queries of ``MIX_QUERIES`` over the generated tables;
    each result is collected (the timed sink) and checked against its DuckDB
    oracle."""

    def __init__(self, queries, tracer, seed):
        super().__init__(tracer)
        self.dir = data_dir()
        self.fns = {q: queries[q].fn for q in MIX_QUERIES}
        self.module = {q: queries[q].fn.__module__.removeprefix(PACKAGE + ".") for q in MIX_QUERIES}
        unknown = set(self.module.values()) - set(MODULES)
        if unknown:
            raise RuntimeError(f"queries in modules outside MODULES: {sorted(unknown)}")
        t0 = time.perf_counter()
        self.expected = checks.oracle_expectations(
            self.dir, {q: queries[q].oracle for q in MIX_QUERIES}, os.path.join(WORK, "expect", f"sf{SF}.json")
        )
        log(f"perfbench: oracle expectations ready in {time.perf_counter() - t0:.1f} s")
        self.rng = random.Random(seed)

    def run_pass(self, release, cold: bool = False) -> list[dict]:
        tr = self.tracer
        order = list(MIX_QUERIES)
        if not cold:
            self.rng.shuffle(order)
        out = []
        for q in order:
            rec = {"query": q, "module": self.module[q], "ok": False}
            try:
                sid = tr.open("query", q)
                try:
                    b = tr.open("build", q)
                    df = self.fns[q](self.spark, self.dir)
                    rec["build_s"] = tr.close(b)
                    e = tr.open("exec", q)
                    rows = df.collect()
                    rec["exec_s"] = tr.close(e)
                finally:
                    tr.unwind(sid)
                rec["t"] = rec["build_s"] + rec["exec_s"]
                got = checks.digest(df.columns, [tuple(r) for r in rows])
                want = self.expected[q]
                rec["ok"] = got["rows"] == want["rows"] and got["sha256"] == want["sha256"]
                if not rec["ok"]:
                    log(f"perfbench: {q}: output {got} differs from oracle {want}")
            except Exception:  # a failed execution is counted, not fatal
                log(f"perfbench: {q} raised:\n{traceback.format_exc(limit=3)}")
            out.append(self._after(rec, release))
        return out


class RefJob(Workload):
    """``refcli.run_reference_jobs`` over a directory of one-file-per-document
    text files, checked line for line against a pure-Python run of both jobs."""

    def __init__(self, queries, tracer, seed):
        import pyarrow.parquet as pq

        from hadoop_web_browsing_logs_spark import refcli
        from hadoop_web_browsing_logs_spark.functions.porter import porter_stem
        from hadoop_web_browsing_logs_spark.sources import writers

        super().__init__(tracer)
        path = os.path.join(data_dir(), "documents.parquet")
        docs = pq.read_table(path, columns=["text"]).column("text").to_pylist()
        self.inp = refjob_inputs(seed, docs)
        self.expected = checks.reference_outputs(
            self.inp["docs"], list(REF_STOPWORDS), self.inp["centers"], porter_stem
        )
        self.run_reference_jobs = refcli.run_reference_jobs
        # time the inverted-index write from outside; its end splits Job 1
        # from Job 2
        original = writers.write_reference_text

        def timed_write(*args, **kwargs):
            w = tracer.open("write", "inverted_index")
            original(*args, **kwargs)
            tracer.close(w)
            tracer.close(tracer.current())  # job1
            tracer.open("job2")

        writers.write_reference_text = timed_write

    def run_pass(self, release, cold: bool = False) -> list[dict]:
        tr, inp = self.tracer, self.inp
        shutil.rmtree(inp["output_dir"], ignore_errors=True)
        rec = {"query": "refjob", "module": "refcli", "ok": False}
        try:
            sid = tr.open("query", "refjob")
            try:
                tr.open("job1")
                self.run_reference_jobs(
                    self.spark, inp["input_dir"], inp["output_dir"], inp["stopwords_file"], inp["centers_file"]
                )
            finally:
                tr.unwind(sid)
            rec["t"] = tr.duration(sid)
            job1 = checks.read_text_output(os.path.join(inp["output_dir"], "inverted_index"))
            job2 = checks.read_text_output(os.path.join(inp["output_dir"], "kmeans"))
            rec["ok"] = (job1, job2) == self.expected
            if not rec["ok"]:
                log("perfbench: refjob output differs from the pure-Python reference")
            rec["output_mb"] = _dir_bytes(inp["output_dir"]) / (1024.0 * 1024.0)
        except Exception:
            log(f"perfbench: refjob raised:\n{traceback.format_exc(limit=3)}")
        return [self._after(rec, release)]


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(r, f)) for r, _, fs in os.walk(path) for f in fs)


# ---------------------------------------------------------------------------
# One measured session: cold pass, then warm passes for the window
# ---------------------------------------------------------------------------


def measure(wl: Workload, spark, seconds: float, traced: bool) -> dict:
    from hadoop_web_browsing_logs_spark.session import release_caches

    wl.spark, wl.traced = spark, traced
    tracer = wl.tracer
    jvm = _jvm_pid()

    def cpu():
        me = os.times()
        return procstat.cpu_seconds(procstat.python_workers(jvm)), procstat.cpu_seconds([jvm]) + me.user + me.system

    def one_pass(label):
        w0, j0 = cpu()
        with tracer.span("pass", label) as p:
            recs = wl.run_pass(release_caches, cold=label == "cold")
        w1, j1 = cpu()
        return {
            "span": p,
            "wall": tracer.duration(p),
            "records": recs,
            "worker_cpu_s": max(0.0, w1 - w0),
            "cpu_s": max(0.0, w1 - w0) + (j1 - j0),
        }

    cold = one_pass("cold")
    warm = []
    t0 = time.perf_counter()
    while len(warm) < MIN_WARM_PASSES or time.perf_counter() - t0 + warm[-1]["wall"] <= seconds:
        warm.append(one_pass(f"warm{len(warm) + 1}"))
    return {"cold": cold, "warm": warm}


def timings(m: dict) -> dict:
    """Pass times from checked executions only; a query with a failed
    execution posts no time."""
    execs = [r for p in [m["cold"], *m["warm"]] for r in p["records"]]
    failed = sum(not r["ok"] for r in execs)
    per_query: dict[str, list[float]] = {}
    for p in m["warm"]:
        for r in p["records"]:
            per_query.setdefault(r["query"], []).append(r["t"] if r["ok"] else None)
    clean = failed == 0
    return {
        "attempted": len(execs),
        "failed": failed,
        "cold_pass_s": sum(r["t"] for r in m["cold"]["records"]) if clean else None,
        "pass_s": sum(min(ts) for ts in per_query.values()) if clean else None,
        "pass_cpu_s": _median([p["cpu_s"] for p in m["warm"]]),
        "per_query": {
            q: _quartiles([t for t in ts if t is not None]) for q, ts in sorted(per_query.items())
        },
    }


def _quartiles(xs: list[float]) -> dict:
    xs = sorted(xs)
    if len(xs) >= 2:
        q1, _, q3 = statistics.quantiles(xs, n=4)
    else:
        q1 = q3 = xs[0] if xs else None
    return {"n": len(xs), "min": xs[0] if xs else None, "median": _median(xs), "q1": q1, "q3": q3}


# ---------------------------------------------------------------------------
# Per-layer table (traced run)
# ---------------------------------------------------------------------------


def per_layer(m: dict, tracer: spans.Tracer, per_group: dict, setup_times: dict, run_span: int) -> dict:
    def pass_metrics(p) -> dict:
        ids = tracer.subtree(p["span"])
        kinds = {k: [i for i in ids if tracer.spans[i]["kind"] == k] for k in SPAN_KINDS}
        agg = spans.sum_groups(per_group, ids)
        exec_wall = sum(tracer.duration(i) for k in EXEC_KINDS for i in kinds[k])
        out = {
            "operators.build_jobs": spans.sum_groups(per_group, kinds["build"])["jobs"],
            "spark.jobs": agg["jobs"],
            "spark.stages": agg["stages"],
            "spark.tasks": agg["tasks"],
            "spark.single_task_stages": agg["single_task_stages"],
            "spark.parallelism": agg["executor_run_s"] / exec_wall if exec_wall else 0.0,
            "spark.executor_run_s": agg["executor_run_s"],
            "spark.shuffle_read_mb": agg["shuffle_read_mb"],
            "spark.shuffle_write_mb": agg["shuffle_write_mb"],
            "spark.spill_mb": agg["spill_mb"],
            "spark.gc_s": agg["gc_s"],
            "session.rdds_left": sum(r.get("rdds_left", 0) for r in p["records"]),
            "sources.corpus_scans": agg["text_scans"],
            "sources.input_mb": agg["input_mb"],
            "sources.write_s": sum(tracer.duration(i) for i in kinds["write"]),
            "sources.output_mb": sum(r.get("output_mb", 0.0) for r in p["records"]),
            "refcli.job1_s": sum(tracer.duration(i) for i in kinds["job1"]),
            "refcli.job2_s": sum(tracer.duration(i) for i in kinds["job2"]),
            "python.worker_cpu_s": p["worker_cpu_s"],
        }
        selfs = tracer.self_times(p["span"])
        for k in SPAN_KINDS[2:]:
            out[f"span.{k}.self_s"] = selfs.get(k, 0.0)
        return out

    rows = [pass_metrics(p) for p in m["warm"]]
    table = {k: _median([r[k] for r in rows]) for k in rows[0]}
    run_self = tracer.self_times(run_span)
    table["span.run.self_s"] = run_self.get("run", 0.0)
    table["span.setup.self_s"] = run_self.get("setup", 0.0)
    table["session.get_spark_s"] = setup_times["get_spark_s"]
    table["registry.load_s"] = setup_times["registry_s"]
    for mod in MODULES:
        for part in ("build_s", "exec_s"):
            per_q: dict[str, list[float]] = {}
            for p in m["warm"]:
                for r in p["records"]:
                    if r["module"] == mod and r["ok"]:
                        per_q.setdefault(r["query"], []).append(r[part])
            table[f"{mod}.{part}"] = sum(_median(v) for v in per_q.values())
    return table


def _units(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name in ("spark.parallelism",):
        return "x"
    if name.endswith("_frac"):
        return "ratio"
    return "count"


# ---------------------------------------------------------------------------
# Run record
# ---------------------------------------------------------------------------


def _source_sha256() -> str:
    h = hashlib.sha256()
    for top in (PACKAGE, os.path.basename(BENCH_DIR)):
        for r, _, fs in sorted(os.walk(os.path.join(ROOT, top))):
            for f in sorted(fs):
                if f.endswith(".py"):
                    p = os.path.join(r, f)
                    h.update(os.path.relpath(p, ROOT).encode())
                    with open(p, "rb") as fh:
                        h.update(fh.read())
    return h.hexdigest()


def _commit() -> str | None:
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return None
    r = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True, text=True, check=False)
    return r.stdout.strip() or None


def host_key(workload: str, cpus: int, data_sha256: str) -> dict:
    """What a result is keyed by: results with a different workload, cpus or
    data are never compared."""
    mem_kb = None
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    return {
        "workload": workload,
        "cpus": cpus,
        "nproc": os.cpu_count(),
        "mem_total_kb": mem_kb,
        "loadavg": os.getloadavg(),
        "spark_version": importlib.metadata.version("pyspark"),
        "commit": _commit(),
        "source_sha256": _source_sha256(),
        "data_sha256": data_sha256,
    }


def _same_key(a: dict, b: dict) -> bool:
    return all(a[k] == b[k] for k in ("workload", "cpus", "source_sha256", "data_sha256"))


def untraced_pass_s(args, key: dict) -> float | None:
    """Median ``pass_s`` of this checkout's stored untraced results with the
    same key and window, the base of ``trace.overhead_frac``. With none
    stored, one untraced run is made first, in a child process, so both
    sides start from a fresh JVM."""

    def stored():
        path = os.path.join(WORK, "results.jsonl")
        vals = []
        if os.path.exists(path):
            with open(path) as fh:
                for line in fh:
                    r = json.loads(line)
                    v = r["metrics"]["pass_s"]["value"]
                    if _same_key(r["key"], key) and r["seconds"] == args.seconds and v is not None:
                        vals.append(v)
        return _median(vals)

    if stored() is None:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", args.workload, "--seed", str(args.seed)]
        cmd += ["--seconds", str(args.seconds), "--trace", "0"]
        path = os.path.join(WORK, "tmp", "untraced-child.log")
        code = _run_child(cmd, 75, path)
        if code != 0:
            log(f"perfbench: untraced child run ended with {code}; trace.overhead_frac is null (see {path})")
    return stored()


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS, required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=14)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        log(f"perfbench: no {PACKAGE} package under {ROOT}; run from a checkout of the repository")
        return 2
    cpus = len(os.sched_getaffinity(0))
    _env(cpus)

    traced = bool(args.trace)
    key = host_key(args.workload, cpus, checks.data_fingerprint(data_dir()))
    baseline = untraced_pass_s(args, key) if traced else None
    tracer = spans.Tracer()
    t_start = time.perf_counter()
    run_span = tracer.open("run", args.workload)
    log_dir = os.path.join(WORK, "eventlog")
    if traced:
        shutil.rmtree(log_dir, ignore_errors=True)
        os.makedirs(log_dir)
    conf = {**spans.EVENT_LOG_CONF, "spark.eventLog.dir": "file://" + log_dir} if traced else None
    spark, queries, setup_times = setup(tracer, extra_conf=conf)
    wl = (Mix if args.workload.startswith("mix") else RefJob)(queries, tracer, args.seed)
    app_id = spark.sparkContext.applicationId
    if traced:
        tracer.sc = spark.sparkContext
    peak = procstat.PeakRss(_jvm_pid()) if traced else None
    busy0, steal0 = procstat.cpu_ticks()
    m = measure(wl, spark, args.seconds, traced=traced)
    busy1, steal1 = procstat.cpu_ticks()
    peak_rss_mb = peak.close() / (1024.0 * 1024.0) if traced else None
    # share of busy CPU time the hypervisor gave to other guests: a run
    # with a high share reads slow for reasons outside the program
    steal_frac = (steal1 - steal0) / max(1, busy1 - busy0 + steal1 - steal0)
    tracer.sc = None
    res = timings(m)
    tracer.close(run_span)
    shutdown(spark)

    if traced:
        per_group = spans.reduce_by_group(spans.read_event_log(log_dir, app_id))
        table = per_layer(m, tracer, per_group, setup_times, run_span)
        table["peak_rss_mb"] = peak_rss_mb
        table["cold_pass_s"] = res["cold_pass_s"]
        ok = res["pass_s"] is not None and baseline is not None
        table["trace.overhead_frac"] = res["pass_s"] / baseline - 1.0 if ok else None
        metrics = {k: {"value": v, "unit": _units(k)} for k, v in sorted(table.items())}
        trace_file = os.path.join(WORK, "trace", f"{args.workload}-seed{args.seed}.json")
        os.makedirs(os.path.dirname(trace_file), exist_ok=True)
        with open(trace_file, "w") as fh:
            json.dump(
                {"key": key, "per_layer": table, "spans": tracer.dump(t_start), "groups": per_group}, fh, indent=1
            )
        log(f"perfbench: spans and per-group counts written to {trace_file}")
    else:
        values = {"setup_s": setup_times["setup_s"], "pass_s": res["pass_s"]}
        metrics = {k: {"value": values[k], "unit": END_TO_END[k]} for k in END_TO_END}
        record = {
            "key": key,
            "seed": args.seed,
            "seconds": args.seconds,
            "setup": setup_times,
            "warm_passes": len(m["warm"]),
            "cold_pass_s": res["cold_pass_s"],
            "failed_frac": res["failed"] / res["attempted"],
            "pass_cpu_s": res["pass_cpu_s"],
            "steal_frac": steal_frac,
            "metrics": metrics,
            "per_query": res["per_query"],
            "passes": [
                {"wall": p["wall"], "t": {r["query"]: r.get("t") for r in p["records"]}}
                for p in [m["cold"], *m["warm"]]
            ],
        }
        with open(os.path.join(WORK, "results.jsonl"), "a") as fh:
            fh.write(json.dumps(record) + "\n")
        print(f"steal_frac {steal_frac:.3f} (CPU time the hypervisor gave to other guests)")

    print(f"workload {args.workload}  seed {args.seed}  cpus {cpus}  warm passes {len(m['warm'])}")
    print(f"failed_frac {res['failed'] / res['attempted']:.4f}  ({res['failed']} of {res['attempted']} executions)")
    for k, v in metrics.items():
        print(f"{k:32s} {v['value'] if v['value'] is None else round(v['value'], 6)!s:>14} {v['unit']}")
    print(
        json.dumps(
            {
                "correct": res["failed"] == 0,
                "attempted": res["attempted"],
                "failed": res["failed"],
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
