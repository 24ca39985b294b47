#!/usr/bin/env python3
"""Layered benchmark of the engine: one workload per process.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run it from the root of a checkout. Workloads:

- ``headline_sf0.1``: the frozen ``bench.HEADLINE`` queries on the sf0.1
  fixture, each constructed, then forced with a noop write.
- ``headline_sf0.001``: the same queries on the sf0.001 fixture, where
  fixed costs dominate.
- ``table_lifecycle``: appends, merges, updates, deletes, reads and CDC
  pipe ticks on one transactional table seeded from sf0.1 ``lineitem``.

Spark runs ``local[nproc]`` with one client in a closed loop: each op
starts when the previous one has finished. ``--seconds`` fixes the
number of passes (headline) or rounds (table_lifecycle) through the
nominal time of one, so that runs with the same ``--seconds`` have the
same op count. ``--trace 1`` sets a Spark job group per span, writes
Spark's event log and reports the per-layer metrics; ``--trace 0``
reports the end-to-end metrics. Every op's output is checked; an op
that raises or returns a wrong result counts as failed.

The last stdout line is ``{"correct", "attempted", "failed",
"metrics"}``; the line before it holds every measured number, the
stamps, per-op job counts and span self times. ``README.md`` next to
this file lists the metrics, the layers and how the seed is used.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import statistics
import sys
import time
from contextlib import contextmanager

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
FIXTURES = os.path.join(HERE, "fixtures")
WORK = os.path.join(ROOT, ".perfbench")

sys.path.insert(0, HERE)

from harness import (  # noqa: E402
    ProcessTree,
    Tracer,
    py_cpu_self,
    self_time,
    tail_percentile,
)

MB = 1024.0 * 1024.0

#: nominal seconds of one headline pass / one lifecycle round on a
#: 4-core box; ``--seconds`` divided by it (rounded down, at least 1)
#: is the number of passes or rounds.
NOMINAL = {
    "headline_sf0.1": 25.0,
    "headline_sf0.001": 16.0,
    "table_lifecycle": 35.0,
}
#: JVM heap of the driver (``build_session`` reads SPARK_GRAFT_DRIVER_MEM).
#: The heap is fixed at this size and touched at JVM start
#: (``JVM_HEAP_OPTS``): a heap G1 may grow makes the JVM's peak RSS depend
#: on when G1 happens to grow it. So ``peak_rss_mb`` holds this constant
#: heap plus what does move with the engine: the JVM's off-heap memory,
#: the Python driver and the Python workers. Heap demand shows in the
#: detail line's ``jvm_pool_peak_mb`` and in ``wall_s`` (GC time).
DRIVER_MEM = "2g"
JVM_HEAP_OPTS = f"-Xms{DRIVER_MEM} -XX:+AlwaysPreTouch"

SF_DIR = {
    "headline_sf0.1": "sf0.1",
    "headline_sf0.001": "sf0.001",
    "table_lifecycle": "sf0.1",
}

#: end-to-end metrics reported with ``--trace 0`` on every workload.
#: op_p50_s and op_tail_s are in the detail line only: at 15-18 ops a
#: run, these order statistics spread too much between runs to gate on.
END_TO_END = {
    "setup_s": "s",
    "wall_s": "s",
    "peak_rss_mb": "MB",
}

#: per-layer metrics reported with ``--trace 1`` on every workload
PER_LAYER = {
    "session.build_s": "s",
    "registry.load_s": "s",
    "process.py_cpu_s": "s",
    "process.jvm_cpu_s": "s",
    "functions.pyworker_starts": "count",
    "queries.construct_jobs": "count",
    "operators.jobs": "count",
    "operators.stages": "count",
    "operators.tasks": "count",
    "operators.idle_core_frac": "ratio",
    "operators.scan_mb": "MB",
    "operators.shuffle_write_mb": "MB",
    "operators.shuffle_read_mb": "MB",
    "operators.spill_mb": "MB",
    "txlog.append_jobs": "count",
    "txlog.merge_jobs": "count",
    "txlog.merge_into_jobs": "count",
    "txlog.update_jobs": "count",
    "txlog.delete_jobs": "count",
    "txlog.compact_jobs": "count",
    "txlog.vacuum_jobs": "count",
    "txlog.read_plan_jobs": "count",
    "txlog.read_scan_frac": "ratio",
    "txlog.files_added": "count",
    "txlog.files_removed": "count",
    "txlog.live_files_end": "count",
    "txlog.log_entries_end": "count",
    "txlog.rewrite_ratio": "ratio",
    "streaming.tick_jobs": "count",
    "streaming.lag_versions": "count",
    "session.retained_storage_mb": "MB",
    "trace.spark_jobs": "count",
    "trace.unattributed_jobs": "count",
    "trace.wall_s": "s",
}


#: per-layer metrics each workload family reports only in the detail line
HEADLINE_LAYERS = (
    "queries.construct_s", "queries.construct_jobs", "operators.jobs",
    "operators.stages", "operators.tasks", "operators.idle_core_frac",
    "operators.execute_s", "operators.executor_run_s", "operators.executor_cpu_s",
    "operators.gc_s", "operators.scan_mb", "operators.shuffle_write_mb",
    "operators.shuffle_read_mb", "operators.fetch_wait_s", "operators.spill_mb",
)
LIFECYCLE_LAYERS = tuple(
    f"txlog.{n}_{u}"
    for n in ("append", "merge", "merge_into", "update", "delete", "compact", "vacuum")
    for u in ("s", "jobs")
) + (
    "txlog.read_plan_s", "txlog.read_plan_jobs", "txlog.read_exec_s",
    "txlog.read_scan_frac", "txlog.files_added", "txlog.files_removed",
    "txlog.live_files_end", "txlog.log_entries_end", "txlog.rewrite_ratio",
    "streaming.tick_s", "streaming.tick_jobs", "streaming.lag_versions",
)


def mark_unavailable(run: "Run", names, reason: str) -> None:
    """Layers a workload does not touch: 0 in the result line when
    listed there, and named with the reason in the detail line."""
    for k in names:
        if k in PER_LAYER:
            run.layers.setdefault(k, 0.0)
        run.unavailable[k] = reason


def fail(msg: str) -> "None":
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def check_checkout() -> None:
    need = [
        os.path.join(ROOT, "bench.py"),
        os.path.join(ROOT, "distributed_mapreduce__spark", "registry.py"),
        os.path.join(ROOT, "scripts", "strict_check.py"),
        os.path.join(ROOT, "tests", "oracle_utils.py"),
    ]
    missing = [os.path.relpath(p, ROOT) for p in need if not os.path.exists(p)]
    if missing:
        fail(f"not a checkout of the engine (missing {', '.join(missing)})")


class Run:
    """State of one benchmark process."""

    def __init__(self, workload: str, seed: int, seconds: int, traced: bool):
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.traced = traced
        self.nproc = len(os.sched_getaffinity(0))
        self.work = os.path.join(WORK, f"{workload}-s{seed}-t{int(traced)}-{os.getpid()}")
        self.tracer = Tracer(traced)
        self.proc = ProcessTree()
        self.ops: "list[dict]" = []
        self.e2e: "dict[str, dict]" = {}
        self.layers: "dict[str, float]" = {}
        self.unavailable: "dict[str, str]" = {}
        self.extra: dict = {}
        self.sf_name = SF_DIR[workload]
        self.spark = None
        self.t_start = time.perf_counter()
        self.loads: "dict[str, float]" = {}
        self.busy: "dict[str, float]" = {}

    # -- environment ------------------------------------------------
    def prepare_env(self) -> None:
        os.makedirs(self.work, exist_ok=True)
        for sub in ("tmp", "spark-local", "eventlog"):
            os.makedirs(os.path.join(self.work, sub), exist_ok=True)
        os.environ["SPARK_GRAFT_CPUS"] = str(self.nproc)
        os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.work, "spark-local")
        os.environ["TMPDIR"] = os.path.join(self.work, "tmp")
        # bench.py's idle guard, without its waits: a stamp, not a gate
        os.environ["SPARK_GRAFT_BENCH_IDLE_RETRIES"] = "0"
        os.environ["SPARK_GRAFT_BENCH_BUSY_SETTLE_SEC"] = "0.2"
        os.environ.pop("SPARK_GRAFT_PROFILE_DIR", None)
        import tempfile

        tempfile.tempdir = os.environ["TMPDIR"]
        sys.path.insert(0, ROOT)

    def session_conf(self) -> dict:
        tmp = os.path.join(self.work, "tmp")
        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} {JVM_HEAP_OPTS}",
        }
        if self.traced:
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.compress": "false",
                "spark.eventLog.dir": "file://" + os.path.join(self.work, "eventlog"),
            })
        return conf

    # -- ops ----------------------------------------------------------
    @contextmanager
    def op(self, name: str, layer: str, kind: str = ""):
        """One timed op. An exception inside marks the op failed and is
        swallowed so the closed loop continues."""
        rec = {"name": name, "layer": layer, "kind": kind, "ok": True}
        with self.tracer.span(name, layer) as sp:
            try:
                yield rec
            except Exception as e:  # noqa: BLE001 - counted as failed
                rec["ok"] = False
                rec["error"] = f"{type(e).__name__}: {e}"[:400]
        rec["seconds"] = sp.duration
        rec["span"] = sp.id
        self.ops.append(rec)

    def probe_load(self, label: str) -> None:
        import bench

        self.loads[label] = round(os.getloadavg()[0], 2)
        self.busy[label] = round(bench.outside_busy(), 2)

    def settle(self, quiet_cpus: float = 0.25, window: float = 0.25, limit: float = 5.0) -> None:
        """Wait (at most ``limit`` s) until the JVM's background work
        from set-up (JIT compilation, GC) uses under ``quiet_cpus``."""
        t_end = time.perf_counter() + limit
        last = self.proc.jvm_cpu()
        while time.perf_counter() < t_end:
            time.sleep(window)
            now = self.proc.jvm_cpu()
            if (now - last) / window < quiet_cpus:
                break
            last = now

    def begin_timed(self) -> None:
        self.settle()
        self.probe_load("start")
        self.e2e["setup_s"] = {"value": time.perf_counter() - self.t_start, "n": 1}
        self.cpu0 = self.cpu_now()
        for pool in self.jvm_heap_pools():
            pool.resetPeakUsage()

    def end_timed(self) -> None:
        self.cpu1 = self.cpu_now()
        # before the output checks, whose DuckDB work runs in this process
        parts = self.proc.peak_rss_parts_mb()
        self.e2e["peak_rss_mb"] = {"value": sum(parts.values()), "n": 1}
        self.extra["peak_rss_parts_mb"] = parts
        self.extra["jvm_pool_peak_mb"] = {
            pool.getName(): pool.getPeakUsage().getUsed() / MB for pool in self.jvm_heap_pools()
        }
        self.probe_load("end")

    def jvm_heap_pools(self) -> list:
        """The JVM's heap memory pools (G1 eden, survivor, old gen)."""
        jvm = self.spark.sparkContext._jvm
        heap = jvm.java.lang.management.MemoryType.HEAP
        pools = jvm.java.lang.management.ManagementFactory.getMemoryPoolMXBeans()
        return [p for p in pools if p.getType().equals(heap)]

    def cpu_now(self) -> dict:
        return {
            "py": py_cpu_self(),
            "jvm": self.proc.jvm_cpu(),
            "pyworker": self.proc.pyworker_cpu(),
        }

    def fail_op(self, rec: dict, why: str) -> None:
        rec["ok"] = False
        rec.setdefault("error", why)

    # -- results --------------------------------------------------------
    def latency_metrics(self) -> None:
        lat = [o["seconds"] for o in self.ops]
        tail, pct = tail_percentile(lat)
        self.e2e["op_p50_s"] = {"value": statistics.median(lat), "n": len(lat)}
        self.e2e["op_tail_s"] = {"value": tail, "n": len(lat), "percentile": pct}

    def finish_session(self) -> None:
        """Read what needs the live session, then stop it (which flushes
        the event log)."""
        sc = self.spark.sparkContext
        infos = sc._jsc.sc().getRDDStorageInfo()
        self.layers["session.retained_storage_mb"] = sum(
            (i.memSize() + i.diskSize()) for i in infos
        ) / MB
        self.extra["retained_rdds"] = len(infos)
        self.layers["functions.pyworker_starts"] = float(len(self.proc.worker_pids_seen))
        self.spark.stop()

    def common_layers(self) -> None:
        d0, d1 = self.cpu0, self.cpu1
        self.layers["process.py_cpu_s"] = d1["py"] - d0["py"]
        self.layers["process.jvm_cpu_s"] = d1["jvm"] - d0["jvm"]
        self.layers["functions.pyworker_cpu_s"] = d1["pyworker"] - d0["pyworker"]
        for name, layer in (("session.build_s", "session"), ("registry.load_s", "registry")):
            self.layers[name] = sum(
                s.duration for s in self.tracer.spans if s.layer == layer
            )

    def trace_layers(self, layer_fn) -> None:
        """Parse the event log and fill the Spark-side layer metrics.
        ``layer_fn(stats, spans)`` adds the workload's own."""
        import eventlog

        files = eventlog.event_files(os.path.join(self.work, "eventlog"))
        if not files:
            self.unavailable["trace"] = "no event log written"
            return
        log = eventlog.parse(files)
        spans = self.tracer.spans
        unattributed = eventlog.attribute(log, spans)
        stats = eventlog.per_span(log)
        self.layers["trace.spark_jobs"] = float(len(log.jobs))
        self.layers["trace.unattributed_jobs"] = float(len(unattributed))
        self.extra["unattributed_jobs"] = unattributed
        self.extra["jobs_by_time"] = sorted(
            j.id for j in log.jobs.values() if j.how == "time"
        )
        op_jobs = []
        for o in self.ops:
            acc = eventlog.sum_spark(stats, eventlog.subtree(spans, o["span"]))
            o["jobs"] = acc.jobs
            op_jobs.append([o["name"], acc.jobs])
        self.extra["op_jobs"] = op_jobs
        layer_fn(stats, spans)

    def span_report(self) -> dict:
        """Self time per (layer, span name), summed over spans."""
        out: "dict[str, dict]" = {}
        for s in self.tracer.spans:
            key = f"{s.layer}:{s.name}"
            r = out.setdefault(key, {"n": 0, "total_s": 0.0, "self_s": 0.0})
            r["n"] += 1
            r["total_s"] += s.duration
            r["self_s"] += self_time(s, self.tracer.children(s.id))
        return {k: {kk: round(vv, 6) for kk, vv in v.items()} for k, v in out.items()}


# ------------------------------------------------------------ workloads


def build_session(run: Run):
    from distributed_mapreduce__spark.session import build_session as _build

    with run.tracer.span("build_session", "session"):
        spark = _build(app_name=f"perfbench-{run.workload}", extra_conf=run.session_conf())
    run.spark = spark
    run.tracer.spark_context = spark.sparkContext
    from distributed_mapreduce__spark import registry

    with run.tracer.span("load_all", "registry"):
        registry.load_all()
    return spark


def run_headline(run: Run) -> None:
    import bench
    from pyspark.sql import Observation

    import headline
    from distributed_mapreduce__spark import registry

    sf_dir = os.path.join(FIXTURES, run.sf_name)
    spark = build_session(run)
    names = list(bench.HEADLINE)
    passes = max(1, int(run.seconds // NOMINAL[run.workload]))
    orders = headline.query_order(names, run.seed, passes)

    with run.tracer.span("profile_sidecars", "setup"):
        from distributed_mapreduce__spark.operators.profile import save_profile
        from distributed_mapreduce__spark.sources.tables import load_table

        prof_dir = os.path.join(run.work, "profiles")
        for table, gcols in bench.PROFILE_TABLES.items():
            save_profile(
                load_table(spark, sf_dir, table),
                os.path.join(prof_dir, table),
                group_count_cols=gcols,
            )
        os.environ["SPARK_GRAFT_PROFILE_DIR"] = prof_dir
    with run.tracer.span("warm_up", "setup"):
        # bench.py's warm-up: the first headline query, whatever the order
        registry.resolve(names[0])(spark, sf_dir).count()

    run.begin_timed()
    fps: "list[tuple[dict, object]]" = []
    walls = []
    for order in orders:
        t0 = time.perf_counter()
        for name in order:
            obs = Observation(f"op{len(run.ops)}")
            with run.op(name, "op", "query") as rec:
                with run.tracer.span(name, "queries"):
                    df = registry.resolve(name)(spark, sf_dir)
                with run.tracer.span(name, "operators"):
                    df.observe(obs, *headline.fingerprint_exprs(df)).write.format(
                        "noop"
                    ).mode("overwrite").save()
            fps.append((rec, obs))
        walls.append(time.perf_counter() - t0)
    run.end_timed()
    run.e2e["wall_s"] = {"value": statistics.median(walls), "n": len(walls)}
    run.extra["passes"] = passes

    # output check, outside every timed metric
    with run.tracer.span("certify", "check"):
        cert = headline.Certifier(
            os.path.join(WORK, "cache", headline.source_key(ROOT, sf_dir), run.sf_name),
            sf_dir,
        )
        certs: "dict[str, object]" = {}
        notes: "dict[str, str]" = {}
        for name in names:
            certs[name], notes[name] = cert.certificate(spark, name)
        for rec, obs in fps:
            if not rec["ok"]:
                continue
            ref = certs[rec["name"]]
            if ref is None:
                run.fail_op(rec, f"no certified reference: {notes[rec['name']]}")
            elif headline.fingerprint_of(obs) != ref:
                run.fail_op(rec, "output fingerprint differs from the certified one")
        spot = names[run.seed % len(names)]
        ok, msg, fp = cert.compare(spark, spot)
        run.extra["spot_check"] = {"query": spot, "ok": ok and fp == certs[spot], "note": msg}
        run.extra["certificates"] = notes
        if not run.extra["spot_check"]["ok"]:
            run.extra["spot_check_failed"] = True

    run.latency_metrics()
    run.finish_session()
    run.common_layers()
    run.layers["queries.construct_s"] = sum(
        s.duration for s in run.tracer.spans if s.layer == "queries"
    )
    run.layers["operators.execute_s"] = sum(
        s.duration for s in run.tracer.spans if s.layer == "operators"
    )

    def layer_fn(stats, spans):
        import eventlog

        q = eventlog.sum_spark(stats, [s.id for s in spans if s.layer == "queries"])
        o = eventlog.sum_spark(stats, [s.id for s in spans if s.layer == "operators"])
        t = o.totals
        run.layers["queries.construct_jobs"] = float(q.jobs)
        run.layers["operators.jobs"] = float(o.jobs)
        run.layers["operators.stages"] = float(o.stages)
        run.layers["operators.tasks"] = float(t.tasks)
        run.layers["operators.executor_run_s"] = t.run_ms / 1000.0
        run.layers["operators.executor_cpu_s"] = t.cpu_ns / 1e9
        run.layers["operators.gc_s"] = t.gc_ms / 1000.0
        run.layers["operators.scan_mb"] = t.input_bytes / MB
        run.layers["operators.shuffle_write_mb"] = t.shuffle_write_bytes / MB
        run.layers["operators.shuffle_read_mb"] = t.shuffle_read_bytes / MB
        run.layers["operators.fetch_wait_s"] = t.fetch_wait_ms / 1000.0
        run.layers["operators.spill_mb"] = t.spill_bytes / MB
        cores = run.nproc
        ex = run.layers["operators.execute_s"]
        run.layers["operators.idle_core_frac"] = (
            1.0 - (t.run_ms / 1000.0) / (ex * cores) if ex > 0 else 0.0
        )

    if run.traced:
        run.trace_layers(layer_fn)
    mark_unavailable(
        run, LIFECYCLE_LAYERS, "the headline workloads make no txlog or streaming calls"
    )


def run_lifecycle(run: Run) -> None:
    import lifecycle as lc

    sf_dir = os.path.join(FIXTURES, run.sf_name)
    spark = build_session(run)
    rounds = max(1, int(run.seconds // NOMINAL[run.workload]))
    from distributed_mapreduce__spark.sources.tx_sql import tx_sql
    from distributed_mapreduce__spark.sources.txlog import (
        tx_apply_deletes,
        tx_compact,
        tx_delete,
        tx_delete_where,
        tx_files,
        tx_merge,
        tx_read,
        tx_set_properties,
        tx_update,
        tx_vacuum,
        tx_write,
    )
    from distributed_mapreduce__spark.streaming.table_stream import (
        load_cursor,
        pipe_available_now,
        save_cursor,
    )

    tdir = os.path.join(run.work, "tables")
    src, sink, ck = (os.path.join(tdir, n) for n in ("src", "sink", "pipe_ck"))
    inputs = os.path.join(run.work, "inputs")

    import duckdb
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    with run.tracer.span("make_inputs", "setup"):
        orderkeys = sorted(set(
            pq.read_table(os.path.join(sf_dir, "lineitem.parquet"), columns=["l_orderkey"])
            .column(0).to_pylist()
        ))
        specs = lc.plan(run.seed, orderkeys, rounds)
        con = duckdb.connect()
        # the keyed seed table depends only on the fixture: made once
        with open(lc.__file__, "rb") as fh:
            tag = hashlib.sha256(fh.read()).hexdigest()[:12]
        base_dir = os.path.join(WORK, "cache", f"lifecycle-{run.sf_name}-{tag}")
        lc.prepare_base(con, sf_dir, base_dir)
        lc.make_inputs(con, base_dir, inputs, specs)
        con.close()
        reset_peak_rss()  # the input files are the benchmark's, not the engine's
    with run.tracer.span("seed_table", "setup"):
        # one key range per file: the seed files are small enough that
        # Spark reads each as its own partition
        tx_write(
            spark.read.parquet(os.path.join(base_dir, "seed")),
            src,
            stats_cols=["l_key", "l_orderkey"],
        )
        v_seed = tx_set_properties(spark, src, {"cdf.enabled": True})
    with run.tracer.span("start_pipe", "setup"):
        # the pipe starts at the seeded version; its first commit (the
        # round's append) creates the sink
        save_cursor(spark, ck, v_seed)
    before = listing(tdir)
    live_start = sum(1 for k in before if _is_data_file(k))
    run.begin_timed()
    t0 = time.perf_counter()
    head = {"v": None}
    pending: "list[float]" = []  # end times of commits no tick has drained
    read_aggs: "list[tuple[dict, list]]" = []
    scan_fracs: "list[float]" = []
    lags: "list[int]" = []
    tick_fresh: "list[float]" = []
    vacuum_listing = None
    v_tt = None

    def committed(v):
        if v is not None:
            pending.append(time.perf_counter())
            head["v"] = v
        return v

    for s in specs:
        op = s["op"]
        inp = os.path.join(inputs, s["input"] + ".parquet") if "input" in s else None
        kind = "commit" if op in lc.COMMIT_OPS else "read" if op in lc.READ_OPS else op
        layer = "streaming" if op == "tick" else "txlog"
        if op == "vacuum":
            # vacuum deletes files: count what the ops wrote before it runs
            vacuum_listing = listing(tdir)
            data_new = [k for k in vacuum_listing if k not in before and _is_data_file(k)]
            rows_new = sum(
                pq.ParquetFile(os.path.join(tdir, k)).metadata.num_rows for k in data_new
            )
            v_tt = head["v"]
        with run.op(op, layer, kind) as rec:
            if op == "append":
                rec["version"] = committed(tx_write(spark.read.parquet(inp), src))
            elif op == "merge":
                rec["version"] = committed(tx_merge(spark.read.parquet(inp), src, "l_key"))
            elif op == "merge_into":
                spark.read.parquet(inp).createOrReplaceTempView("perfbench_mi_src")
                rec["version"] = committed(tx_sql(
                    spark,
                    f"MERGE INTO txtable.`{src}` USING perfbench_mi_src AS s "
                    "ON t.l_key = s.l_key "
                    f"WHEN MATCHED AND s.l_quantity > {lc.MERGE_INTO_DELETE_QTY} "
                    "THEN DELETE "
                    "WHEN MATCHED THEN UPDATE SET l_extendedprice = "
                    "s.l_extendedprice, l_linestatus = 'S' "
                    "WHEN NOT MATCHED THEN INSERT *",
                ))
            elif op == "update":
                lo, hi = s["window"]
                rec["version"] = committed(tx_update(
                    spark, src, f"l_key BETWEEN {lo} AND {hi}",
                    {"l_discount": "l_discount + CAST(0.01 AS DOUBLE)",
                     "l_linestatus": "'D'"},
                    prune=("l_key", lo, hi),
                ))
            elif op == "delete_where":
                lo, hi = s["window"]
                rec["version"] = committed(tx_delete_where(
                    spark, src, f"l_key BETWEEN {lo} AND {hi} AND l_returnflag = 'R'",
                    prune=("l_key", lo, hi),
                ))
            elif op == "settle":
                rec["version"] = committed(tx_apply_deletes(spark, src))
            elif op in ("delete_cow", "delete_mor"):
                mode = "copy_on_write" if op == "delete_cow" else "merge_on_read"
                rec["version"] = committed(
                    tx_delete(spark.read.parquet(inp), src, "l_key", mode=mode)
                )
            elif op in lc.READ_OPS:
                with run.tracer.span("read_plan", "txlog"):
                    if op == "read_pruned":
                        lo, hi = s["window"]
                        df = tx_read(spark, src, where=("l_key", lo, hi))
                    elif op == "read_tt":
                        df = tx_read(spark, src, version=v_tt)
                    else:
                        df = tx_read(spark, src)
                with run.tracer.span("read_exec", "txlog"):
                    rec["agg"] = lc.read_agg(df)
                read_aggs.append((rec, rec["agg"]))
            elif op == "tick":
                lags.append(head["v"] - (load_cursor(spark, ck) or 0))
                pipe_available_now(
                    spark, src, sink, checkpoint=ck, name="perfbench", cdc_key="l_key"
                )
                t_end = time.perf_counter()
                tick_fresh += [t_end - t for t in pending]
                pending.clear()
            elif op == "compact":
                rec["version"] = committed(tx_compact(spark, src))
            elif op == "vacuum":
                tx_vacuum(spark, src, retain_last=1)
        if op == "read_pruned" and rec["ok"]:
            with run.tracer.span("scan_frac", "check"):
                full = sum(r["size_bytes"] for r in tx_files(spark, src).collect())
                part = sum(os.path.getsize(f[len("file:"):] if f.startswith("file:") else f)
                           for f in df.inputFiles())
                scan_fracs.append(part / full if full else 0.0)
    wall = time.perf_counter() - t0
    run.end_timed()
    after = listing(tdir)
    run.e2e["wall_s"] = {"value": wall, "n": 1}
    run.extra["rounds"] = rounds

    # -- checks against the DuckDB replay (outside timing)
    with run.tracer.span("replay_check", "check"):
        con = duckdb.connect()
        with run.tracer.span("replay", "check"):
            rep = lc.replay(con, base_dir, inputs, specs)
        for (rec, got), want in zip(read_aggs, rep["reads"]):
            if got != [tuple(r[:3]) + (float(r[3]),) for r in want]:
                run.fail_op(rec, f"read aggregate {got} != replay {want}")
        if len(read_aggs) != len(rep["reads"]):
            run.extra["check_error"] = "read count differs from the replay"
        checks = {}
        out = os.path.join(run.work, "check")
        try:
            with run.tracer.span("export", "check"):
                snaps = [
                    tx_read(spark, src).withColumn("snap", F.lit("final")),
                    tx_read(spark, src, version=v_tt).withColumn("snap", F.lit("time_travel")),
                    tx_read(spark, sink).withColumn("snap", F.lit("sink")),
                ]
                exported = snaps[0].unionByName(snaps[1]).unionByName(snaps[2])
                exported.write.mode("overwrite").parquet(out)
            with run.tracer.span("diff", "check"):
                for label in ("final", "time_travel", "sink"):
                    extra, missing = lc.snapshot_diff(
                        con, os.path.join(out, "*.parquet"), label,
                        "sink" if label == "sink" else "t",
                    )
                    checks[label] = {"extra": extra, "missing": missing}
        except Exception as e:  # noqa: BLE001 - reported as a failed check
            checks["error"] = f"{type(e).__name__}: {e}"[:400]
        run.extra["snapshot_checks"] = checks
        final_ok = "error" not in checks and all(
            c == {"extra": 0, "missing": 0} for c in checks.values()
        )
        if not final_ok:
            # the end state is wrong: the ops that produced it are not trusted
            for rec in run.ops:
                if rec["kind"] == "commit" or rec["name"] in ("tick", "read_tt"):
                    run.fail_op(rec, "end-state snapshot differs from the replay")

    # -- end-to-end
    run.latency_metrics()
    by_kind = lambda k: [o["seconds"] for o in run.ops if o["kind"] == k]  # noqa: E731
    run.extra["lifecycle_e2e"] = {
        "commit_p50_s": {"value": statistics.median(by_kind("commit")), "unit": "s",
                         "n": len(by_kind("commit"))},
        "read_p50_s": {"value": statistics.median(by_kind("read")), "unit": "s",
                       "n": len(by_kind("read"))},
        "freshness_p50_s": {"value": statistics.median(tick_fresh) if tick_fresh else None,
                            "unit": "s", "n": len(tick_fresh)},
        "written_mb": {"value": written_bytes(before, vacuum_listing or after, after) / MB,
                       "unit": "MB", "n": 1},
        "stored_mb": {"value": sum(v for k, v in after.items()
                                   if k.startswith("src" + os.sep)) / MB,
                      "unit": "MB", "n": 1},
    }

    # -- per-layer (untraced part)
    with run.tracer.span("live_files", "check"):
        live_end = tx_files(spark, src).count()
    run.layers["txlog.files_added"] = float(len(data_new))
    run.layers["txlog.files_removed"] = float(live_start + len(data_new) - live_end)
    run.layers["txlog.live_files_end"] = float(live_end)
    run.layers["txlog.log_entries_end"] = float(sum(
        1 for k in after if k.startswith(os.path.join("src", "_log") + os.sep)
        or k.startswith(os.path.join("src", "_txlog") + os.sep)
    ))
    changed = sum(rep["changed"])
    run.layers["txlog.rewrite_ratio"] = rows_new / changed if changed else 0.0
    run.layers["txlog.read_scan_frac"] = statistics.median(scan_fracs) if scan_fracs else 0.0
    run.layers["streaming.lag_versions"] = statistics.median(lags) if lags else 0.0
    for name in ("append", "merge", "merge_into", "update", "delete", "compact", "vacuum"):
        run.layers[f"txlog.{name}_s"] = sum(
            o["seconds"] for o in run.ops if lc.OP_METRIC.get(o["name"]) == name
        )
    for nm in ("read_plan", "read_exec"):
        run.layers[f"txlog.{nm}_s"] = sum(
            s.duration for s in run.tracer.spans if s.name == nm
        )
    run.layers["streaming.tick_s"] = sum(o["seconds"] for o in run.ops if o["name"] == "tick")
    run.extra["table_dir_files_end"] = len(after)

    run.finish_session()
    run.common_layers()

    def layer_fn(stats, spans):
        import eventlog

        for name in ("append", "merge", "merge_into", "update", "delete", "compact", "vacuum"):
            ids = [sid for o in run.ops if lc.OP_METRIC.get(o["name"]) == name
                   for sid in eventlog.subtree(spans, o["span"])]
            run.layers[f"txlog.{name}_jobs"] = float(eventlog.sum_spark(stats, ids).jobs)
        plan_ids = [s.id for s in spans if s.name == "read_plan"]
        run.layers["txlog.read_plan_jobs"] = float(eventlog.sum_spark(stats, plan_ids).jobs)
        tick_ids = [sid for o in run.ops if o["name"] == "tick"
                    for sid in eventlog.subtree(spans, o["span"])]
        run.layers["streaming.tick_jobs"] = float(eventlog.sum_spark(stats, tick_ids).jobs)

    if run.traced:
        run.trace_layers(layer_fn)
    mark_unavailable(run, HEADLINE_LAYERS, "table_lifecycle calls no registered query")


def _is_data_file(rel: str) -> bool:
    """A data file of the source table, by its path under the tables dir."""
    return rel.startswith(os.path.join("src", "data") + os.sep) and rel.endswith(".parquet")


def reset_peak_rss() -> None:
    """Reset this process's VmHWM to its current RSS."""
    try:
        with open("/proc/self/clear_refs", "w") as fh:
            fh.write("5")
    except OSError:
        pass


def listing(root: str) -> "dict[str, int]":
    """relative path -> size of every file under ``root``."""
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            try:
                out[os.path.relpath(p, root)] = os.path.getsize(p)
            except OSError:
                pass
    return out


def written_bytes(before: dict, mid: dict, after: dict) -> int:
    """Bytes of files that appeared after ``before`` (seen at ``mid``
    or ``after``)."""
    seen = {**mid, **after}
    return sum(v for k, v in seen.items() if k not in before)


WORKLOADS = {
    "headline_sf0.1": run_headline,
    "headline_sf0.001": run_headline,
    "table_lifecycle": run_lifecycle,
}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    check_checkout()
    if not os.path.isdir(os.path.join(FIXTURES, SF_DIR[args.workload])):
        fail("fixtures missing")

    run = Run(args.workload, args.seed, args.seconds, bool(args.trace))
    run.prepare_env()
    try:
        with run.tracer.span("import", "setup"):
            import bench  # pyspark and the package

        load_start = bench.wait_for_idle()
        WORKLOADS[args.workload](run)

        contended, note = bench.contended_stamp(load_start, run.loads, run.busy)
        stamp = {
            "nproc": run.nproc,
            "cores": int(os.environ["SPARK_GRAFT_CPUS"]),
            "contended": contended,
            "load_note": note,
            "load_start": round(load_start, 2),
            "loads": run.loads,
            "busy": run.busy,
            **bench.validity_stamp(contended, 1),
        }
        return report(run, stamp)
    finally:
        if run.spark is not None:
            try:
                run.spark.stop()
            except Exception:  # noqa: BLE001 - already stopped
                pass
            stop_jvm(run.proc)
        shutil.rmtree(run.work, ignore_errors=True)


def stop_jvm(tree: ProcessTree, limit: float = 60.0) -> None:
    """End the JVM this process launched and its Python workers, and
    wait until they are gone (the JVM exits when its stdin closes)."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    pids = tree.jvm_pids() + tree.pyworker_roots()
    if gw is None:
        return
    gw.shutdown()
    proc = getattr(gw, "proc", None)
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=limit)
        except Exception:  # noqa: BLE001 - a stuck JVM is killed below
            proc.kill()
            proc.wait()
    deadline = time.perf_counter() + limit
    for pid in pids:
        while os.path.exists(f"/proc/{pid}") and time.perf_counter() < deadline:
            time.sleep(0.05)


def report(run: Run, stamp: dict) -> int:
    attempted = len(run.ops)
    failed = sum(1 for o in run.ops if not o["ok"])
    spot_failed = bool(run.extra.get("spot_check_failed"))
    run.e2e["fail_frac"] = {"value": failed / attempted if attempted else 1.0, "n": attempted}
    trace_wall = run.e2e["wall_s"]["value"]
    if run.traced:
        run.layers["trace.wall_s"] = trace_wall
        prior = _prior_untraced(run)
        run.extra["tracing_overhead_s"] = (
            trace_wall - prior if prior is not None else None
        )
        if prior is None:
            run.unavailable["tracing_overhead_s"] = (
                "no untraced run of this workload and seed in this checkout yet"
            )
        _job_count_drift(run)
    else:
        _save_untraced(run)
    if run.traced:
        metrics = {k: {"value": float(run.layers.get(k, 0.0)), "unit": u}
                   for k, u in PER_LAYER.items()}
        missing = [k for k in PER_LAYER if k not in run.layers]
        for k in missing:
            run.unavailable.setdefault(k, "not measured on this workload")
    else:
        metrics = {k: {"value": float(run.e2e[k]["value"]), "unit": u}
                   for k, u in END_TO_END.items()}
    detail = {
        "workload": run.workload,
        "seed": run.seed,
        "seconds": run.seconds,
        "trace": int(run.traced),
        **stamp,
        "end_to_end": {
            k: {**v, "unit": "fraction" if k == "fail_frac" else END_TO_END.get(k, "s")}
            for k, v in run.e2e.items()
        },
        "lifecycle": run.extra.pop("lifecycle_e2e", None),
        "per_layer": {k: round(v, 6) for k, v in sorted(run.layers.items())},
        "unavailable": run.unavailable,
        "spans": run.span_report(),
        "failures": [
            {"name": o["name"], "error": o.get("error")} for o in run.ops if not o["ok"]
        ],
        **run.extra,
    }
    print(json.dumps(detail, default=str))
    correct = failed == 0 and not spot_failed
    print(json.dumps({
        "correct": correct,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


def _result_path(run: Run, traced: bool) -> str:
    d = os.path.join(WORK, "results")
    os.makedirs(d, exist_ok=True)
    return os.path.join(d, f"{run.workload}-s{run.seed}-t{int(traced)}.json")


def _save_untraced(run: Run) -> None:
    with open(_result_path(run, False), "w") as fh:
        json.dump({"wall_s": run.e2e["wall_s"]["value"]}, fh)


def _prior_untraced(run: Run) -> "float | None":
    try:
        with open(_result_path(run, False)) as fh:
            return json.load(fh)["wall_s"]
    except (OSError, ValueError, KeyError):
        return None


def _job_count_drift(run: Run) -> None:
    """Compare per-op job counts with the previous traced run of the
    same workload and seed; record any op whose count differs."""
    path = _result_path(run, True)
    cur = run.extra.get("op_jobs")
    if cur is None:
        return
    try:
        with open(path) as fh:
            prev = json.load(fh)["op_jobs"]
    except (OSError, ValueError, KeyError):
        prev = None
    if prev is not None:
        run.extra["job_count_drift"] = [
            {"op": i, "name": a[0], "before": b[1], "now": a[1]}
            for i, (a, b) in enumerate(zip(cur, prev))
            if a != b
        ]
    with open(path, "w") as fh:
        json.dump({"op_jobs": cur}, fh)


if __name__ == "__main__":
    sys.exit(main())
