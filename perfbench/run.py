"""The repository's benchmark: one run of one workload.

    python3 perfbench/run.py --workload serve-read --seed 1 --seconds 15 --trace 0

Run from the root of a checkout.  The run generates its inputs from the
seed under ``.perfbench_work/`` in the checkout (removed at exit),
starts a local Spark session, sets up the workload (an untimed warm pass
included), runs one closed-loop client for ``--seconds`` (the op
running when they end is finished and counted), checks the outputs and
prints one JSON line last: ``{"correct", "attempted", "failed",
"metrics"}``.  The line before it (``perfbench-info {...}``) records the
environment, the input shape and the diagnostics; the same record, with
the spans of a traced run, is written to ``.perfbench_results/``.

``--trace 0`` reports the end-to-end metrics.  ``latency_p50_ms`` is the
geometric mean over a round's slots (serving paths, or registry queries)
of each slot's median latency, so that it does not jump with the slot a
median over all ops lands on.  ``peak_rss_mb`` is the VmHWM of the
Spark JVM plus that of the Python process (the info line gives both),
read right after the window; the Python peak is reset after set-up, so
the benchmark's own input generation and oracle checks do not count.  ``--trace 1`` runs at
least three whole rounds, untraced, traced and untraced, and reports the
per-layer metrics and the tracing overhead between the two kinds.

Workloads:

- ``serve-read``: 20 libraries of 250 chunks ingested into a temp
  warehouse; one library per index kind and profile, two unindexed ones
  served by brute force; filtered top-k ``search_timed`` requests.  Puts
  the per-request fixed cost of the service, operators, functions and the
  Spark scheduler in the window, and none of the registry, its table
  sources or its artifact cache.
- ``batch-registry``: a fixed family-stratified subset of the registry
  queries at sf0.01, each through the noop sink, after a warm pass that
  builds the serving artifacts and is checked against the DuckDB oracle.
  Puts plan construction, table resolution, Catalyst, executor compute
  and artifact serving in the window, and no VectorEngine.
"""

from __future__ import annotations

import time

_T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402
from collections import defaultdict  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench import checks, datagen, stats, workloads  # noqa: E402
from perfbench.tracing import Tracer, stage_stats  # noqa: E402
from perfbench.workloads import ANN_KINDS, SERVE_KINDS, Op  # noqa: E402

PKG = "vector_database_api_spark"
JVM_MEM = "2g"
SERVE_SF = 0.1
BATCH_SF = 0.01
CALIB_REPS = 3
CALIB_ROWS = 2_000_000
OP_ROUNDS = 200  # more rounds than any window can use

E2E_UNITS = {
    "setup_s": "s",
    "latency_p50_ms": "ms",
    "ops_per_s": "op/s",
    "peak_rss_mb": "MB",
}
LAYER_UNITS = {
    "session.start_s": "s",
    "sources.load_table_calls": "count",
    "sources.load_table_ms": "ms",
    "queries.build_ms": "ms",
    "queries.exec_ms": "ms",
    "artifact.hits": "count",
    "artifact.misses": "count",
    "artifact.evictions": "count",
    "artifact.hit_ratio": "ratio",
    "artifact.entries": "count",
    "artifact.build_ms": "ms",
    "artifact.storage_mb": "MB",
    "service.search_plan_ms": "ms",
    "service.search_collect_ms": "ms",
    **{f"service.search_ms.{k}": "ms" for k in SERVE_KINDS},
    "service.warehouse_reads_per_search": "count",
    **{f"service.index_build_ms.{k}": "ms" for k in SERVE_KINDS if k != "brute"},
    "service.index_build_s": "s",
    "functions.embed_query_ms": "ms",
    "operators.build_ms": "ms",
    **{f"operators.rows_examined_per_result.{k}": "ratio" for k in SERVE_KINDS},
    "operators.recall_at_k": "ratio",
    **{f"operators.recall_at_k.{k}": "ratio" for k in ANN_KINDS},
    "catalyst.analysis_ms": "ms",
    "catalyst.optimize_plan_ms": "ms",
    "sched.jobs_per_op": "count",
    "sched.stages_per_op": "count",
    "sched.tasks_per_op": "count",
    "sched.gap_ms": "ms",
    "exec.run_ms": "ms",
    "exec.cpu_ms": "ms",
    "exec.gc_ms": "ms",
    "exec.input_records": "count",
    "exec.shuffle_read_bytes": "bytes",
    "exec.shuffle_write_bytes": "bytes",
    "exec.output_bytes": "bytes",
    "box.calib_ms": "ms",
    "batch.pass_drift": "ratio",
    "trace.overhead_pct": "%",
}


def parse_args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=workloads.WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    if args.seconds <= 0:
        p.error("--seconds must be positive")
    return args


def pin_env(work: str) -> dict[str, str]:
    """Pin the Spark environment before the JVM starts; the Python
    workers inherit it, PYTHONPATH included, so executor UDFs import
    the package."""
    cpus = str(len(os.sched_getaffinity(0)))  # nproc, unaffected by OMP_NUM_THREADS
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    pythonpath = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p
    )
    env = {
        "SPARK_GRAFT_CPUS": cpus,
        "SPARK_GRAFT_DRIVER_MEM": JVM_MEM,
        "SPARK_LOCAL_DIRS": local,
        "PYTHONPATH": pythonpath,
        "TMPDIR": tmp,
        # every JVM Spark starts keeps its temp files in the checkout
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
    }
    os.environ.update(env)
    tempfile.tempdir = tmp
    return env


def cpu_times() -> list[int]:
    """The machine's cumulative CPU times from /proc/stat: user, nice,
    system, idle, iowait, irq, softirq, steal."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def reset_hwm() -> None:
    """Reset this process's VmHWM to its current resident size."""
    with open("/proc/self/clear_refs", "w") as f:
        f.write("5")


def vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


class Bench:
    def __init__(self, args: argparse.Namespace, work: str) -> None:
        self.args = args
        self.work = work
        self.data_dir = os.path.join(work, "data")
        self.spark = None
        self.tracer = None
        self.check_s = 0.0  # correctness-check time inside set-up
        self.info: dict = {"workload": args.workload, "seed": args.seed,
                           "seconds": args.seconds, "trace": args.trace}
        self.layer: dict[str, float] = {}
        self.peak_rss_mb = 0.0

    # -- session ----------------------------------------------------------

    def start_session(self) -> None:
        from vector_database_api_spark.session import get_spark

        t = time.perf_counter()
        self.spark = get_spark(
            "perfbench",
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                "spark.sql.warehouse.dir": os.path.join(self.work, "spark-warehouse"),
            },
        )
        self.layer["session.start_s"] = time.perf_counter() - t

    def stop_session(self) -> None:
        if self.spark is None:
            return
        from pyspark import SparkContext

        gw = SparkContext._gateway
        proc = getattr(gw, "proc", None)
        self.spark.stop()
        if gw is not None:
            gw.shutdown()
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()  # the gateway JVM exits on stdin EOF
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        self.spark = None

    def jvm_pid(self) -> int | None:
        proc = getattr(self.spark.sparkContext._gateway, "proc", None)
        return proc.pid if proc is not None else None

    def calibrate(self) -> list[float]:
        """A spark.range aggregation that touches no engine code."""
        out = []
        for _ in range(CALIB_REPS):
            t = time.perf_counter()
            self.spark.range(CALIB_ROWS).selectExpr("sum(id % 7) AS s").collect()
            out.append((time.perf_counter() - t) * 1000.0)
        return out

    # -- one op -------------------------------------------------------------

    def run_op(self, op, execute, traced: bool) -> dict:
        from vector_database_api_spark import queries

        rec: dict = {"op": op, "ok": True}
        if traced:
            self.tracer.reset_op(op.op_id)
            self.spark.sparkContext.setJobGroup(op.op_id, op.op_id)
            keys_before = list(queries._SERVING_INDEXES)
        wall0 = time.time()
        t0 = time.perf_counter()
        try:
            if traced:
                with self.tracer.span(f"op.{op.kind}"):
                    out = execute(op, rec)
            else:
                out = execute(op, rec)
        except Exception as exc:  # noqa: BLE001 — a failed op is counted, the run goes on
            out = None
            rec["ok"] = False
            rec["error"] = repr(exc)
            traceback.print_exc(file=sys.stderr)
        rec["ms"] = (time.perf_counter() - t0) * 1000.0
        wall1 = time.time()
        rec["out"] = out
        if traced:
            rec["stages"] = stage_stats(self.spark, op.op_id, wall0 * 1000.0, wall1 * 1000.0)
            if "df" in rec:
                # the noop write plans in its own QueryExecution; planning
                # the frame's own one after the op gives the same phases
                qe = rec.pop("df")._jdf.queryExecution()
                qe.executedPlan()
                self.tracer.add_phases(qe)
            rec["counters"] = dict(self.tracer.counters)
            before_set, after_set = set(keys_before), set(queries._SERVING_INDEXES)
            rec["artifact"] = {
                "misses": len(after_set - before_set),
                "evictions": len(before_set - after_set),
                "hits": len(self.tracer.cache_reads & before_set),
            }
        rec.pop("df", None)
        return rec

    def window(self, ops, execute, traced_rounds: bool) -> tuple[list[dict], float]:
        """Closed loop until ``--seconds`` have passed; the op running then
        is the last.  Ops come in rounds that fill every slot once, so
        every window holds nearly the same mix, and the latency statistic
        weighs slots alike whatever the unfinished last round holds.  With
        ``traced_rounds`` the window ends on a round boundary after at
        least three rounds, and every second round is traced, so the
        untraced rounds before and after a traced one cancel the warm-up
        drift between them."""
        per_round = workloads.round_length(self.args.workload)
        start = time.perf_counter()
        recs: list[dict] = []
        traced = False
        try:
            for i, op in enumerate(ops):
                done, pos = divmod(i, per_round)
                if time.perf_counter() - start >= self.args.seconds and (
                    not traced_rounds or (pos == 0 and done >= 3)
                ):
                    break
                if traced_rounds and pos == 0 and traced != (done % 2 == 1):
                    traced = not traced
                    if traced:
                        self.tracer.install()
                    else:
                        self.tracer.uninstall()
                rec = self.run_op(op, execute, traced)
                rec["traced"] = traced
                recs.append(rec)
            wall = time.perf_counter() - start
        finally:
            if traced:
                self.tracer.uninstall()
            if traced_rounds:
                self.spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
        return recs, wall

    # -- workloads ------------------------------------------------------------

    def run(self) -> tuple[list[dict], list[dict], float, float]:
        """Returns (untraced window records, traced window records, window
        wall, setup seconds)."""
        self.start_session()
        if self.args.trace:
            self.tracer = Tracer()
            self.tracer.install()
        if self.args.workload == "serve-read":
            names, sf = ("documents", "embeddings"), SERVE_SF
        else:
            names, sf = datagen.ALL_TABLES, BATCH_SF
        self.info["input_rows"] = datagen.write(self.data_dir, self.args.seed, sf, names)
        self.info["sf"] = sf
        setup = self.setup_serve if self.args.workload == "serve-read" else self.setup_batch
        ops, execute = setup()
        if self.tracer is not None:
            self.tracer.uninstall()
        self.spark.sparkContext._jvm.System.gc()
        reset_hwm()
        setup_s = time.perf_counter() - _T0 - self.check_s
        calib = self.calibrate()
        cpu0 = cpu_times()
        recs, wall = self.window(ops, execute, bool(self.args.trace))
        d = [b - a for a, b in zip(cpu0, cpu_times())]
        # the share of CPU time the hypervisor gave to other guests: host
        # contention that slows every op of the window alike
        self.info["box.steal_share"] = d[7] / max(sum(d), 1)
        pid = self.jvm_pid()
        self.info["peak_rss_mb.python"] = vm_hwm_mb("self")
        self.info["peak_rss_mb.jvm"] = vm_hwm_mb(pid) if pid else 0.0
        self.peak_rss_mb = self.info["peak_rss_mb.python"] + self.info["peak_rss_mb.jvm"]
        self.info["box.calib_ms"] = calib + self.calibrate()
        plain = [r for r in recs if not r["traced"]]
        return plain, [r for r in recs if r["traced"]], wall, setup_s

    # serve-read

    def setup_serve(self):
        from vector_database_api_spark.service import VectorEngine
        from vector_database_api_spark.sources.tables import chunks_table

        docs_tbl = datagen.tables(self.args.seed, SERVE_SF, ("documents",))["documents"]
        docs: dict[str, list] = defaultdict(list)
        for d, text, lang, src in zip(
            docs_tbl["doc_id"].to_pylist(), docs_tbl["text"].to_pylist(),
            docs_tbl["lang"].to_pylist(), docs_tbl["source"].to_pylist(),
        ):
            docs[src].append((str(d), text, lang))
        self.info["library_sizes"] = {k: len(v) for k, v in sorted(docs.items())}
        self.engine = VectorEngine(self.spark, os.path.join(self.work, "warehouse"))
        t = time.perf_counter()
        self.engine.ingest_chunks(chunks_table(self.spark, self.data_dir))
        self.info["ingest_s"] = time.perf_counter() - t
        builds: dict[str, list[float]] = defaultdict(list)
        for kind, libs in workloads.SERVE_PATHS:
            for lib, kwargs in libs:
                if kind == "brute":
                    continue
                t = time.perf_counter()
                self.engine.index_library(lib, kind, **kwargs)
                builds[kind].append(time.perf_counter() - t)
        self.info["index_build_s"] = sum(sum(v) for v in builds.values())
        self.info["index_builds_s"] = builds
        self.info["paths"] = {kind: dict(libs) for kind, libs in workloads.SERVE_PATHS}
        # one round of searches with their own seeded draws
        warm = workloads.serve_ops(self.args.seed, docs, 1, prefix="warm")
        t = time.perf_counter()
        self.warm_recs = [self.run_op(op, self.exec_search, False) for op in warm]
        self.info["warm_s"] = time.perf_counter() - t
        return workloads.serve_ops(self.args.seed, docs, OP_ROUNDS), self.exec_search

    def exec_search(self, op, rec):
        rows, _ = self.engine.search_timed(
            op.library, query_text=op.query_text, k=op.k,
            metadata_filters=op.filters, **op.params,
        )
        return rows

    # batch-registry

    def setup_batch(self):
        from vector_database_api_spark import queries

        self.fns = queries.spark_queries()
        oracles = queries.oracle_queries()
        import duckdb
        from tools.oracle_check import compare

        con = duckdb.connect()
        for name in self.info["input_rows"]:
            path = os.path.join(self.data_dir, f"{name}.parquet")
            con.sql(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
        self.warm_recs = []
        warm_rows = self.info["warm_rows"] = {}
        for name in workloads.BATCH_NAMES:
            op = Op(op_id=f"warm-{name}", kind="query", path=name)
            rec = self.run_op(op, self.exec_query_collect, False)
            t = time.perf_counter()
            if rec["ok"]:
                warm_rows[name] = len(rec["out"])
                # two empty frames compare equal; an empty result would
                # time trivial work
                problems = compare(name, rec["out"], con.sql(oracles[name]).df())
                if rec["out"].empty:
                    problems.append("empty output")
                if problems:
                    rec["ok"] = False
                    rec["error"] = "; ".join(problems)
            rec["out"] = None
            self.check_s += time.perf_counter() - t
            self.warm_recs.append(rec)
        con.close()
        self.info["artifact_keys"] = len(queries._SERVING_INDEXES)
        self.info["artifact_cap"] = type(queries._SERVING_INDEXES).CAP
        return workloads.batch_ops(self.args.seed, OP_ROUNDS), self.exec_query

    def exec_query_collect(self, op, rec):
        return self.fns[op.path](self.spark, self.data_dir).toPandas()

    def exec_query(self, op, rec):
        t0 = time.perf_counter()
        df = self.fns[op.path](self.spark, self.data_dir)
        t1 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        rec["build_ms"] = (t1 - t0) * 1000.0
        rec["exec_ms"] = (time.perf_counter() - t1) * 1000.0
        if self.tracer is not None:
            rec["df"] = df
        return None

    # -- correctness (outside every timed interval) -----------------------

    def check_serve(self, recs: list[dict]) -> dict[str, list[float]]:
        """Check every search; returns recall samples per index kind."""
        import numpy as np
        from pyspark.sql import functions as F

        from vector_database_api_spark.functions.embedding import text_to_vector

        pdf = (
            self.engine.chunks()
            .filter(F.col("embedding").isNotNull())
            .select("id", "library_id", "embedding", F.col("metadata")["lang"].alias("lang"))
            .toPandas()
        )
        libs = {}
        for lib, g in pdf.groupby("library_id"):
            libs[lib] = checks.Library(
                g["id"].tolist(), g["lang"].tolist(),
                np.stack([np.asarray(e, dtype=np.float64) for e in g["embedding"]]),
            )
        recall: dict[str, list[float]] = defaultdict(list)
        for rec in recs:
            if not rec["ok"]:
                continue
            op = rec["op"]
            kind = op.path
            rows = [r.asDict() for r in rec["out"]]
            lib = libs[op.library]
            q = text_to_vector(op.query_text, 64).astype(np.float64)
            if kind == "brute":
                problems = checks.check_exact(rows, lib, q, op.k, op.filters)
            else:
                score_col = "score" if kind == "bm25" else "similarity"
                problems = checks.check_valid(rows, lib, op.k, op.filters, score_col)
                if kind == "bm25" and op.params.get("mode") in ("maxscore", "blockmax"):
                    ref = self.engine.search(
                        op.library, query_text=op.query_text, k=op.k,
                        metadata_filters=op.filters, mode="or",
                    ).collect()
                    problems += checks.same_ranking(rows, [r.asDict() for r in ref], "score")
                elif kind != "bm25":
                    recall[kind].append(checks.recall(rows, lib, q, op.k, op.filters))
            if problems:
                rec["ok"] = False
                rec["error"] = f"{op.path}: " + "; ".join(problems)
        return recall


# -- metrics -------------------------------------------------------------------


def _ms_by_slot(recs: list[dict]) -> dict[str, list[float]]:
    out: dict[str, list[float]] = defaultdict(list)
    for r in recs:
        if r["ok"]:
            out[r["op"].slot].append(r["ms"])
    return out


def pass_drift(recs: list[dict]) -> float:
    """Median over slots of last latency / first latency in the window."""
    ratios = [v[-1] / v[0] for v in _ms_by_slot(recs).values() if len(v) > 1 and v[0] > 0]
    return stats.median(ratios) if ratios else 1.0


def overhead_pct(plain: list[dict], traced: list[dict]) -> float:
    """Median over slots of traced / untraced mean latency, as a percent
    above 1."""
    a, b = _ms_by_slot(plain), _ms_by_slot(traced)
    ratios = [sum(b[p]) / len(b[p]) / (sum(a[p]) / len(a[p])) for p in a if p in b]
    return (stats.median(ratios) - 1.0) * 100.0 if ratios else 0.0


def shape(recs: list[dict]) -> dict:
    n = max(len(recs), 1)
    paths: dict[str, int] = defaultdict(int)
    ks: dict[int, int] = defaultdict(int)
    filtered = 0
    for r in recs:
        op = r["op"]
        paths[op.path] += 1
        if op.k:
            ks[op.k] += 1
        filtered += op.filters is not None
    return {
        "ops": len(recs),
        "path_share": {p: round(c / n, 4) for p, c in sorted(paths.items())},
        "k_share": {str(k): round(c / n, 4) for k, c in sorted(ks.items())},
        "filter_share": round(filtered / n, 4),
    }


def per_layer(bench: Bench, plain: list[dict], traced: list[dict],
              recall: dict[str, list[float]]) -> dict[str, float]:
    """Per-layer metrics from the traced window, the set-up spans and the
    untraced window's per-path latencies."""
    from vector_database_api_spark import queries

    tr = bench.tracer
    selfs = stats.self_times(tr.spans)
    by_op: dict[str, list[int]] = defaultdict(list)
    for i, s in enumerate(tr.spans):
        by_op[s.op_id].append(i)
    ok = [r for r in traced if r["ok"]]
    n = max(len(ok), 1)

    def per_op(fn) -> float:
        return sum(fn(r) for r in ok) / n

    def spans_of(r, *names):
        return [i for i in by_op[r["op"].op_id] if tr.spans[i].name in names]

    m = dict(bench.layer)
    src = ("sources.load_table", "sources.chunks_table")
    m["sources.load_table_calls"] = per_op(lambda r: len(spans_of(r, *src)))
    m["sources.load_table_ms"] = per_op(lambda r: sum(selfs[i] for i in spans_of(r, *src)) * 1e3)
    queries_ok = [r for r in ok if r["op"].kind == "query"]
    searches = [r for r in ok if r["op"].kind == "search"]
    nq, ns = max(len(queries_ok), 1), max(len(searches), 1)
    m["queries.build_ms"] = sum(r["build_ms"] for r in queries_ok) / nq
    m["queries.exec_ms"] = sum(r["exec_ms"] for r in queries_ok) / nq
    hits = sum(r["artifact"]["hits"] for r in ok)
    misses = sum(r["artifact"]["misses"] for r in ok)
    m["artifact.hits"] = hits
    m["artifact.misses"] = misses
    m["artifact.evictions"] = sum(r["artifact"]["evictions"] for r in ok)
    m["artifact.hit_ratio"] = hits / (hits + misses) if hits + misses else 0.0
    m["artifact.entries"] = len(queries._SERVING_INDEXES)

    def outermost(i: int, name: str) -> bool:
        p = tr.spans[i].parent
        while p >= 0:
            if tr.spans[p].name == name:
                return False
            p = tr.spans[p].parent
        return True

    m["artifact.build_ms"] = sum(
        s.duration for i, s in enumerate(tr.spans)
        if s.name == "artifact.build" and outermost(i, "artifact.build")
    ) * 1e3
    store = bench.spark.sparkContext._jsc.sc().statusStore()
    m["artifact.storage_mb"] = store.executorList(True).apply(0).memoryUsed() / 2**20

    def span_ms(r, name):
        return sum(tr.spans[i].duration for i in spans_of(r, name)) * 1e3

    m["service.search_plan_ms"] = sum(span_ms(r, "service.search") for r in searches) / ns
    m["service.search_collect_ms"] = sum(span_ms(r, "spark.collect") for r in searches) / ns
    kinds = SERVE_KINDS
    for kind in kinds:
        ms = [r["ms"] for r in plain if r["ok"] and r["op"].kind == "search"
              and r["op"].path == kind]
        m[f"service.search_ms.{kind}"] = stats.median(ms) if ms else 0.0
    m["service.warehouse_reads_per_search"] = (
        sum(r["counters"].get("parquet_reads", 0) for r in searches) / ns
    )
    builds = bench.info.get("index_builds_s", {})
    for kind in kinds:
        if kind == "brute":
            continue
        b = builds.get(kind, [])
        m[f"service.index_build_ms.{kind}"] = sum(b) / len(b) * 1e3 if b else 0.0
    m["service.index_build_s"] = bench.info.get("index_build_s", 0.0)
    m["functions.embed_query_ms"] = sum(
        span_ms(r, "functions.text_to_vector") for r in searches) / ns
    m["operators.build_ms"] = sum(
        selfs[i] for i, s in enumerate(tr.spans) if s.name == "operators.build") * 1e3
    for kind in kinds:
        rs = [r for r in searches if r["op"].path == kind]
        m[f"operators.rows_examined_per_result.{kind}"] = (
            sum(r["stages"].get("input_records", 0) / max(len(r["out"] or []), 1) for r in rs)
            / len(rs) if rs else 0.0
        )
    all_recall = [x for v in recall.values() for x in v]
    m["operators.recall_at_k"] = sum(all_recall) / len(all_recall) if all_recall else 0.0
    for kind in ANN_KINDS:
        v = recall.get(kind, [])
        m[f"operators.recall_at_k.{kind}"] = sum(v) / len(v) if v else 0.0
    m["catalyst.analysis_ms"] = per_op(lambda r: r["counters"].get("analysis_ms", 0.0))
    m["catalyst.optimize_plan_ms"] = per_op(lambda r: r["counters"].get("optimize_plan_ms", 0.0))
    m["sched.jobs_per_op"] = per_op(lambda r: r["stages"].get("jobs", 0))
    m["sched.stages_per_op"] = per_op(lambda r: r["stages"].get("stages", 0))
    m["sched.tasks_per_op"] = per_op(lambda r: r["stages"].get("tasks", 0))

    def plan_ms(r) -> float:
        if r["op"].kind == "query":
            return r["build_ms"]
        return span_ms(r, "service.search")

    m["sched.gap_ms"] = per_op(lambda r: max(r["ms"] - plan_ms(r) - r["stages"].get("busy_ms", 0.0), 0.0))
    for key in ("run_ms", "cpu_ms", "gc_ms", "input_records", "shuffle_read_bytes",
                "shuffle_write_bytes", "output_bytes"):
        m[f"exec.{key}"] = per_op(lambda r, key=key: r["stages"].get(key, 0.0))
    m["box.calib_ms"] = stats.median(bench.info["box.calib_ms"])
    m["batch.pass_drift"] = pass_drift(plain)
    m["trace.overhead_pct"] = overhead_pct(plain, traced)
    return m


def main(argv: list[str]) -> int:
    if not os.path.isfile(os.path.join(ROOT, PKG, "service.py")):
        print(f"perfbench: {PKG}/ not found under {ROOT}; run from a full checkout",
              file=sys.stderr)
        return 2
    args = parse_args(argv)
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    env = pin_env(work)
    bench = Bench(args, work)
    try:
        import duckdb
        import pyspark

        bench.info["env"] = {
            **env, "nproc": env["SPARK_GRAFT_CPUS"], "pyspark": pyspark.__version__,
            "duckdb": duckdb.__version__, "python": platform.python_version(),
        }
        plain, traced, wall, setup_s = bench.run()
        check_t = time.perf_counter()
        all_recs = bench.warm_recs + plain + traced
        recall: dict[str, list[float]] = {}
        if args.workload == "serve-read":
            recall = bench.check_serve(all_recs)
        bench.info["check_s"] = bench.check_s + time.perf_counter() - check_t
        by_slot = _ms_by_slot(plain)
        lat = stats.slot_median_geomean(by_slot) if by_slot else 0.0
        failed = [r for r in all_recs if not r["ok"]]
        bench.info["error_rate"] = len(failed) / len(all_recs)
        for r in failed:
            print(f"perfbench: FAILED {r['op'].op_id} {r['op'].path}: {r.get('error')}",
                  file=sys.stderr)
        if args.trace:
            metrics = per_layer(bench, plain, traced, recall)
            if set(metrics) != set(LAYER_UNITS):
                raise RuntimeError(f"per-layer metrics differ: {set(metrics) ^ set(LAYER_UNITS)}")
        else:
            metrics = {
                "setup_s": setup_s,
                "latency_p50_ms": lat,
                "ops_per_s": sum(r["ok"] for r in plain) / wall,
                "peak_rss_mb": bench.peak_rss_mb,
            }
        all_recall = [x for v in recall.values() for x in v]
        bench.info.update({
            "setup_s": setup_s,
            "window_s": wall,
            "latency_p50_ms": lat,
            "slot_p50_ms": {k: stats.median(v) for k, v in sorted(by_slot.items())},
            "recall_at_k": sum(all_recall) / len(all_recall) if all_recall else None,
            "batch.pass_drift": pass_drift(plain),
            "peak_rss_mb": bench.peak_rss_mb,
            "shape": shape(plain),
            "ops": [(r["op"].slot, round(r["ms"], 1)) for r in plain],
            "warm_ops": [(r["op"].slot, round(r["ms"], 1)) for r in bench.warm_recs],
        })
        if args.workload == "batch-registry":
            bench.info["queries"] = workloads.BATCH_QUERIES
        spans = [s.__dict__ for s in bench.tracer.spans] if bench.tracer else []
        bench.stop_session()
    except Exception:  # noqa: BLE001 — report, print no result, exit non-zero
        traceback.print_exc(file=sys.stderr)
        bench.stop_session()
        shutil.rmtree(work, ignore_errors=True)
        return 1
    shutil.rmtree(work, ignore_errors=True)
    units = LAYER_UNITS if args.trace else E2E_UNITS
    result = {
        "correct": not failed,
        "attempted": len(all_recs),
        "failed": len(failed),
        "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in metrics.items()},
    }
    out_dir = os.path.join(ROOT, ".perfbench_results")
    os.makedirs(out_dir, exist_ok=True)
    report = os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    with open(report, "w") as f:
        json.dump({"info": bench.info, "result": result, "spans": spans}, f, default=str)
    print("perfbench-info " + json.dumps(bench.info, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
