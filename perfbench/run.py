#!/usr/bin/env python3
"""Closed-loop benchmark of the micmac_li3ds_spark engine.

    python3 perfbench/run.py --workload relational_ingest --seed 1 \
        --seconds 4 --trace 0

One driver thread runs a workload's operations back to back on
``local[N]`` (N = usable CPUs): set-up (three session starts with table
loads, then one untimed warm-up pass), then timed passes until
``--seconds`` of operation time have run, each pass in a seed-permuted
order. Every operation's output is checked. Caches are never cleared
between operations, so the engine's own cache scope decides what lives.
The last stdout line is one JSON object with the end-to-end metrics
(``--trace 0``) or the per-layer metrics (``--trace 1``); the lines
before it and ``.perfbench_run/<workload>.report.json`` hold the full
report, and a traced run writes ``.perfbench_run/<workload>.spans.json``.
perfbench/METRICS.md describes the workloads and every metric.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import sys
import tempfile
import time
import traceback
from statistics import median

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench import digest, eventlog, workloads  # noqa: E402
from perfbench.metrics import PER_LAYER, UNITS  # noqa: E402
from perfbench.stats import tail_percentile  # noqa: E402

SETUP_ROUNDS = 3


def usable_cpus() -> int:
    return len(os.sched_getaffinity(0))


def load_telemetry() -> dict:
    """Load average, usable CPUs and the host's cumulative CPU jiffies
    (``steal`` is time the hypervisor gave to other guests)."""
    with open("/proc/stat") as fh:
        cpu = [int(x) for x in fh.readline().split()[1:]]
    return {
        "loadavg": [round(x, 2) for x in os.getloadavg()],
        "cpus_avail": usable_cpus(),
        "jiffies": sum(cpu),
        "steal_jiffies": cpu[7] if len(cpu) > 7 else 0,
    }


def steal_frac(start: dict, end: dict) -> float:
    """Share of all CPU time between two telemetry samples that the
    hypervisor stole for other guests."""
    total = end["jiffies"] - start["jiffies"]
    return (end["steal_jiffies"] - start["steal_jiffies"]) / max(total, 1)


def pin_environment(run_dir: str) -> None:
    """Keep every file the run writes inside ``run_dir`` and make the
    package importable on Spark's Python workers from any cwd."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    os.environ["TMPDIR"] = tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    java_opts = " ".join(
        [
            f"-Djava.io.tmpdir={tmp}",
            f"-Dderby.system.home={run_dir}",
            f"-Dspark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')}",
            "-Dspark.ui.showConsoleProgress=false",
            "-XX:-UsePerfData",
        ]
    )
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f'--driver-java-options "{java_opts}" pyspark-shell'
    )
    # the JVM spark-submit starts to build the driver command
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"


def _process_tree() -> list[int]:
    """This process and its descendants (the JVM, Python workers)."""
    children: dict[int, list[int]] = {}
    for pid in filter(str.isdigit, os.listdir("/proc")):
        try:
            with open(f"/proc/{pid}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue  # the process ended while we listed
        children.setdefault(ppid, []).append(int(pid))
    tree, todo = [], [os.getpid()]
    while todo:
        pid = todo.pop()
        tree.append(pid)
        todo.extend(children.get(pid, []))
    return tree


_TICK = os.sysconf("SC_CLK_TCK")


def tree_cpu_s() -> float:
    """User + system CPU seconds used so far by this process tree,
    including the children its members have reaped."""
    total = 0
    for pid in _process_tree():
        try:
            with open(f"/proc/{pid}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(f) for f in fields[11:15])  # utime stime cutime cstime
    return total / _TICK


def peak_rss_mb() -> float:
    """VmHWM of this process plus its JVM descendants, in MB."""
    total = 0
    for pid in _process_tree():
        try:
            with open(f"/proc/{pid}/status") as fh:
                status = dict(line.split(":", 1) for line in fh if ":" in line)
        except OSError:
            continue
        if pid == os.getpid() or status.get("Name", "").strip() == "java":
            total += int(status.get("VmHWM", "0 kB").split()[0])
    return total / 1024


def _median(xs) -> float:
    return median(xs) if xs else 0.0


class Context:
    """What an operation needs: the session, paths and expectations."""

    def __init__(self, run_dir: str):
        self.run_dir = run_dir
        self.spark = None
        self.expected: dict[str, str] = {}
        self.sink_dir = os.path.join(run_dir, "sink")
        self.sink_path = os.path.join(self.sink_dir, "lineitem.parquet")
        self.sink_source_print = None
        self.feed_dir = os.path.join(run_dir, "feed")
        self.feed_rows = 0
        self.feed_digest = None
        self.observed: dict = {}  # what the op being checked reports


class Runner:
    def __init__(self, workload: str, run_dir: str):
        from micmac_li3ds_spark import registry

        registry.registry()  # imports every operator module
        self.workload = workload
        self.cpus = usable_cpus()
        self.ctx = Context(run_dir)
        self.trace_cache = False
        self.records: list[dict] = []  # one per executed op
        self.failures: list[str] = []

    def start_session(self, event_log: str | None = None) -> float:
        """(Re)start the engine session; returns the seconds it took."""
        from pyspark import SparkContext

        from micmac_li3ds_spark.functions.cache_scope import query_scope
        from micmac_li3ds_spark.session import get_spark

        if self.ctx.spark is not None:
            with query_scope():  # release the previous session's caches
                pass
            self.ctx.spark.stop()
        if SparkContext._jvm is not None:  # read by the next SparkContext
            props = SparkContext._jvm.java.lang.System
            props.setProperty("spark.eventLog.enabled", str(bool(event_log)).lower())
            if event_log:
                os.makedirs(event_log, exist_ok=True)
                props.setProperty("spark.eventLog.dir", event_log)
                props.setProperty("spark.eventLog.compress", "false")
                props.setProperty("spark.eventLog.rolling.enabled", "false")
        t0 = time.perf_counter()
        self.ctx.spark = get_spark("perfbench", cpus=self.cpus)
        self.ctx.spark.sparkContext.setLogLevel("ERROR")
        return time.perf_counter() - t0

    def load_tables(self) -> float:
        from micmac_li3ds_spark.tables import TABLES, load

        t0 = time.perf_counter()
        for t in TABLES:
            load(self.ctx.spark, digest.CORPUS, t)
        return time.perf_counter() - t0

    def persistent_rdds(self) -> set[int]:
        jsc = self.ctx.spark.sparkContext._jsc
        return set(jsc.getPersistentRDDs().keySet())

    def run_op(self, op, label: str, pass_no: int) -> dict:
        sc = self.ctx.spark.sparkContext
        group = f"{self.workload}/{op.name}#{label}"
        sc.setJobGroup(group, group)
        before = self.persistent_rdds() if self.trace_cache else set()
        rec = {"group": group, "op": op.name, "pass": pass_no,
               "label": label, "module": op.module, "ok": False, "rows": 0}
        try:
            cpu0 = tree_cpu_s()
            rec["build0"] = time.time() * 1e3
            t0 = time.perf_counter()
            handle = op.build(self.ctx)
            t1 = time.perf_counter()
            rec["build1"] = time.time() * 1e3
            rows = op.execute(self.ctx, handle)
            t2 = time.perf_counter()
            rec["exec1"] = time.time() * 1e3
            rec.update(build_s=t1 - t0, exec_s=t2 - t1, wall_s=t2 - t0,
                       cpu_s=tree_cpu_s() - cpu0)
            if self.trace_cache:
                rec["entry_rdds"] = sorted(before & self.persistent_rdds())
            rec["rows"] = len(rows) if rows is not None else 0
            self.ctx.observed = {}
            rec["ok"] = bool(op.check(self.ctx, handle, rows))
            rec.update(self.ctx.observed)
            if self.trace_cache:
                rec["new_rdds"] = sorted(self.persistent_rdds() - before)
        except Exception:  # a failing op is counted, the run goes on
            rec["error"] = traceback.format_exc(limit=3)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        if not rec["ok"]:
            self.failures.append(f"{group}: {rec.get('error', 'wrong output')}")
            print(f"# FAILED {group}\n{rec.get('error', '')}", file=sys.stderr)
        self.records.append(rec)
        return rec

    def run_pass(self, units, rng, label: str, pass_no: int = -1) -> float:
        """One pass in seeded order; returns the summed op wall time (the
        output checks between ops are not part of the pass)."""
        order = list(units)
        rng.shuffle(order)
        return sum(
            self.run_op(op, label, pass_no).get("wall_s", 0.0)
            for unit in order
            for op in unit
        )

    def measure(self, units, rng, label: str, seconds: float) -> list[float]:
        """Passes back to back until ``seconds`` of op time have run."""
        passes: list[float] = []
        while sum(passes) < seconds:
            passes.append(
                self.run_pass(units, rng, f"{label}{len(passes)}", len(passes))
            )
            if not passes[-1]:  # every op failed before it could be timed
                break
        return passes

    def shutdown(self) -> None:
        """Stop the session and the JVM, and wait for the JVM to exit."""
        from pyspark import SparkContext

        if self.ctx.spark is not None:
            self.ctx.spark.stop()
        gw = SparkContext._gateway
        if gw is not None:
            gw.shutdown()
            gw.proc.stdin.close()
            gw.proc.wait(timeout=60)


def prepare_inputs(ctx: Context, units, seed: int) -> None:
    """Expected digests, and the seeded ingest feed."""
    import duckdb
    import pyarrow.parquet as pq

    ctx.expected = digest.expected_digests(
        {op.name: op.oracle for unit in units for op in unit if op.oracle}
    )
    if any(isinstance(op, workloads.StreamExactDedup) for u in units for op in u):
        docs = pq.read_table(
            os.path.join(digest.CORPUS, "documents.parquet"), columns=["doc_id"]
        )
        plan = workloads.feed_plan(docs.column("doc_id").to_pylist(), seed)
        ctx.feed_rows = workloads.write_feed(plan, ctx.feed_dir)
        con = duckdb.connect()
        ctx.feed_digest = digest.oracle_digest(
            con, workloads.FEED_DEDUP_SQL.format(feed=ctx.feed_dir)
        )
        con.close()


def op_summary(records) -> dict:
    by_op: dict[str, list[float]] = {}
    for r in records:
        if "wall_s" in r:
            by_op.setdefault(r["op"], []).append(r["wall_s"])
    return {op: round(median(ws), 4) for op, ws in sorted(by_op.items())}


def etl_metrics(recs) -> dict:
    """Sink, JDBC, XML and stream numbers from the benchmark's timers and
    the ops' observations."""

    def of(op):
        return [r for r in recs if r["op"] == op and r["ok"]]

    out = {}
    sinks = of("sink_lineitem_parquet")
    if sinks:
        write_s = _median([r["wall_s"] for r in sinks])
        size = sinks[-1]["sink_bytes"]
        out.update({
            "sinks.write_s": write_s,
            "sinks.write_mb_s": size / 1e6 / write_s,
            "sinks.bytes_per_input_byte": size / os.path.getsize(
                os.path.join(digest.CORPUS, "lineitem.parquet")
            ),
            "sinks.files_written": sinks[-1]["sink_files"],
        })
    jdbc = of("q_jdbc_roundtrip")
    if jdbc:
        # the fn call writes customer to Derby; the collect reads it back
        out["jdbc.write_s"] = _median([r["build_s"] for r in jdbc])
        out["jdbc.read_s"] = _median([r["exec_s"] for r in jdbc])
    xml = [
        a["wall_s"] + b["wall_s"]
        for a, b in zip(of("q_etl_xml_normalize"), of("q_etl_explode_block"))
    ]
    if xml:
        out["etl.xml_parse_s"] = _median(xml)
    streams = of("stream_exact_dedup")
    if streams:
        batches = [b for r in streams for b in r["batches"]]

        def part(key):
            return [b.get(key, 0) for b in batches]

        state_files, state_bytes = streams[-1]["state"]
        out.update({
            "stream.feed_files": workloads.FEED_FILES,
            "stream.batches": _median([len(r["batches"]) for r in streams]),
            "stream.batch_p50_ms": _median(part("triggerExecution")),
            "stream.batch_p90_ms": tail_percentile(
                part("triggerExecution"), min_beyond=0, floor=90
            )[1],
            "stream.add_batch_ms": _median(part("addBatch")),
            "stream.wal_commit_ms": _median(part("walCommit")),
            "stream.query_planning_ms": _median(part("queryPlanning")),
            "stream.state_files": state_files,
            "stream.state_mb": state_bytes / 1e6,
            "compaction.s": _median(
                [workloads.compaction_ms(r["batches"]) for r in streams]
            ) / 1e3,
            "compaction.bytes_rewritten": streams[-1]["generation_bytes"],
        })
    return out


def cache_metrics(recs) -> dict:
    """Persistent-RDD deltas: RDDs each op left persisted, and those of
    them still alive after the next op's entry."""
    leaked = sum(
        len(set(prev.get("new_rdds", ())) & set(cur.get("entry_rdds", ())))
        for prev, cur in zip(recs, recs[1:])
    )
    materialized = sum(len(r.get("new_rdds", ())) for r in recs)
    return {"cache.materialized": materialized, "cache.leaked": leaked}


def run_untraced(runner: Runner, units, rng, seconds: float) -> tuple[dict, dict]:
    n0 = len(runner.records)
    passes = runner.measure(units, rng, "pass", seconds)
    measured = runner.records[n0:]
    op_walls = [r["wall_s"] for r in measured if "wall_s" in r]
    p, p90, beyond = tail_percentile(op_walls) if op_walls else (0, 0.0, 0)
    pass_cpu = [
        sum(r.get("cpu_s", 0.0) for r in measured if r["pass"] == k)
        for k in range(len(passes))
    ]
    metrics = {"pass_cpu_s": _median(pass_cpu)}
    extra = {
        "pass_s": _median(passes),
        "op_p50_s": _median(op_walls),
        "peak_rss_mb": peak_rss_mb(),
        "op_p90_s": p90,
        "op_p90_percentile": p,
        "op_p90_beyond": beyond,
        "n_ops": len(op_walls),
        "n_passes": len(passes),
        **etl_metrics(measured),
    }
    return metrics, extra


def run_traced(runner: Runner, units, rng, seconds: float, run_dir: str):
    """Per-layer metrics from event-logged passes, and their span tree.

    Untraced reference passes run before and after the traced ones, each
    the first pass on a fresh SparkContext like the first traced pass, so
    JIT warming between them cancels out of the tracing overhead."""
    runner.start_session()
    refs = [runner.run_pass(units, rng, "ref")]
    log_dir = os.path.join(run_dir, "eventlog")
    runner.start_session(event_log=log_dir)
    runner.trace_cache = True
    n0 = len(runner.records)
    passes = runner.measure(units, rng, "traced", seconds)
    traced = [r for r in runner.records[n0:] if "exec1" in r]  # timed ops
    runner.trace_cache = False
    runner.start_session()  # also closes the event log
    refs.append(runner.run_pass(units, rng, "ref"))

    log = eventlog.EventLog(eventlog.read_events(eventlog.find_log(log_dir)))
    found = eventlog.layer_metrics(log, traced, len(passes), runner.cpus)
    for key, value in cache_metrics(traced).items():
        found[key] = value / len(passes)
    if found["cache.materialized"]:
        found["cache.reads_per_materialization"] = (
            found["spark.in_memory_scans"] / found["cache.materialized"]
        )
    found.update(etl_metrics(traced))
    found.update({
        "peak_rss_mb": peak_rss_mb(),
        "trace.pass_s": _median(passes),
        "trace.overhead": passes[0] / _median(refs) if _median(refs) else 0.0,
    })
    spans = eventlog.span_tree(
        log, traced,
        {"name": runner.workload, "start": traced[0]["build0"],
         "end": traced[-1]["exec1"]},
    )
    return found, spans


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=4.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not (
        os.path.isfile(os.path.join(ROOT, "micmac_li3ds_spark", "registry.py"))
        and os.path.isfile(os.path.join(ROOT, "tools", "check.py"))
    ):
        print(f"perfbench: no engine checkout at {ROOT}", file=sys.stderr)
        return 2

    run_dir = os.path.join(ROOT, ".perfbench_run", args.workload)
    shutil.rmtree(run_dir, ignore_errors=True)
    pin_environment(run_dir)
    load_start = load_telemetry()
    t0 = time.perf_counter()
    runner = Runner(args.workload, run_dir)
    import_s = time.perf_counter() - t0
    units = workloads.WORKLOADS[args.workload]()
    prepare_inputs(runner.ctx, units, args.seed)
    rng = random.Random(f"order:{args.seed}")

    try:
        starts, loads = [], []
        for _ in range(SETUP_ROUNDS):
            starts.append(runner.start_session())
            loads.append(runner.load_tables())
        warmup_s = runner.run_pass(units, rng, "warmup")
        setup = {
            "setup_s": _median([a + b for a, b in zip(starts, loads)]) + warmup_s,
            "session.start_s": starts[0],
            "registry.import_s": import_s,
            "tables.load_s": _median(loads),
            "warmup_s": warmup_s,
        }
        if args.trace:
            found, spans = run_traced(runner, units, rng, args.seconds, run_dir)
            found.update(setup)
            found["failed_frac"] = len(runner.failures) / len(runner.records)
            metrics = {k: float(found.get(k, 0.0)) for k in PER_LAYER}
            extra = {}
            with open(f"{run_dir}.spans.json", "w") as fh:
                json.dump(spans, fh)
        else:
            metrics, extra = run_untraced(runner, units, rng, args.seconds)
            metrics = {"setup_s": setup["setup_s"], **metrics}
            extra.update(setup)
    finally:
        runner.shutdown()

    load_end = load_telemetry()
    attempted, failed = len(runner.records), len(runner.failures)
    report = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "load_start": load_start, "load_end": load_end,
        "cpu_steal_frac": steal_frac(load_start, load_end),
        "failed_frac": failed / attempted, "failures": runner.failures,
        "setup_rounds": {"start_s": starts, "load_s": loads},
        "op_median_s": op_summary(r for r in runner.records if r["pass"] >= 0),
        "warmup_op_s": op_summary(
            r for r in runner.records if r["label"] == "warmup"
        ),
        "metrics": metrics,
        **extra,
    }
    with open(f"{run_dir}.report.json", "w") as fh:
        json.dump(report, fh, indent=1, sort_keys=True)
    for k, v in sorted({**metrics, **extra}.items()):
        print(f"# {k} = {v} {UNITS[k]}")
    print(f"# failed_frac = {failed / attempted} ratio ({failed}/{attempted})")
    print(
        f"# loadavg start {load_start['loadavg']} end {load_end['loadavg']}, "
        f"cpus_avail {load_end['cpus_avail']}, "
        f"cpu_steal_frac {report['cpu_steal_frac']:.3f}"
    )
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": UNITS[k]} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
