#!/usr/bin/env python3
"""The repository benchmark: one workload, one process, one caller.

Run from the repository root::

    python3 perfbench/run.py --workload llm_sf001 --seed 1 --seconds 16 --trace 0

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` runs the same
loop with spans and status-store reads on every other timed pass and
prints the per-layer metrics. The last stdout line is
``{"correct", "attempted", "failed", "metrics"}``; the line before it is
the run record (host, versions, seed, failures, raw pass times), also
written with its spans to ``perfbench/.work/runs/<nonce>.json`` under
the same nonce. perfbench/MAP.md maps every metric to its layer and
workload.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shlex
import shutil
import statistics
import sys
import tempfile
import time
import uuid
from pathlib import Path

import workloads as wl

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = HERE / ".work"

QUERY_WORKLOADS = {"analytics_sf001": wl.ANALYTICS, "llm_sf001": wl.LLM}
#: analytics_sf001 is not in BENCHMARK.json: three workloads do not fit the
#: benchmark schedule's time budget (perfbench/MAP.md). It is run by hand
#: as the no-change control for fan-out, and adds its per-query metrics.
WORKLOAD_NAMES = (*QUERY_WORKLOADS, "incremental_cycles")

MIN_UNITS = 2  # timed passes even when --seconds runs out
DATA = "sf0.01"  # committed fixture scale the workloads read
#: Default JVM heap cap (the engine's SPARK_GRAFT_DRIVER_MEM, whose own
#: default is 48g): runs stay small on a shared host. The heap is not
#: pre-touched, so it grows only as far as the workload drives it.
DRIVER_MEM = "2g"

END_TO_END = {  # name -> unit
    "setup_s": "s",
    "pass_s": "s",
    "pass_cpu_s": "s",
    "live_heap_mb": "MB",
}


def per_layer_units(queries) -> dict:
    units = {
        "session.get_spark_s": "s",
        "registry.load_all_s": "s",
        "io.read_table.calls": "count",
        "io.read_table_s": "s",
        "operators.build_s": "s",
        "operators.build_jobs": "count",
        "catalyst.analysis_ms": "ms",
        "catalyst.optimization_ms": "ms",
        "catalyst.planning_ms": "ms",
        "exec.s": "s",
        "exec.jobs": "count",
        "exec.stages": "count",
        "exec.tasks": "count",
        "exec.task_s": "s",
        "exec.failed_tasks": "count",
        "exec.core_busy": "ratio",
        "exec.task_skew_max": "ratio",
        "exec.shuffle_write_mb": "MB",
        "exec.spill_mb": "MB",
        "sources.fetch_timeseries_s": "s",
        "sources.fetch_retries": "count",
        "incremental.discover_cursor_s": "s",
        "incremental.discover_cursor.calls": "count",
        "incremental.jobs_per_cycle": "count",
        "sinks.idempotent_append_s": "s",
        "sinks.inserted_per_fetched": "ratio",
        "sinks.files": "count",
        "sinks.bytes_per_row": "B",
        "checkpoints.released_rdds": "count",
        "proc.peak_rss_mb": "MB",
    }
    for q in queries:
        units.update({
            f"exec.s.{q}": "s",
            f"exec.stages.{q}": "count",
            f"exec.shuffle_write_mb.{q}": "MB",
            f"exec.task_skew.{q}": "ratio",
        })
    for layer in SELF_LAYERS:
        units[f"self_s.{layer}"] = "s"
    units.update({"trace.spans": "count", "trace.overhead_s": "s",
                  "trace.overhead_frac": "ratio"})
    return units


SELF_LAYERS = ("bench", "operators", "io", "exec", "catalyst", "checkpoints",
               "sources", "incremental", "sinks")


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), required=True)
    return p.parse_args(argv)


def prepare_environment(work: Path) -> None:
    """Keep every file Spark, Python and the JVM write inside ``work``."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    # cursors come back from Spark as naive local datetimes; read them as UTC
    os.environ["TZ"] = "UTC"
    time.tzset()
    os.environ["TMPDIR"] = str(tmp)
    tempfile.tempdir = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(tmp)
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", DRIVER_MEM)
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UseDynamicNumberOfCompilerThreads"
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join([
        "--conf", "spark.ui.showConsoleProgress=false",
        "--conf", f"spark.driver.extraJavaOptions={java_opts}",
        "--conf", f"spark.sql.warehouse.dir={work / 'warehouse'}",
        "pyspark-shell",
    ])
    for path in (HERE, ROOT / "tests", ROOT):
        if str(path) not in sys.path:
            sys.path.insert(0, str(path))


def verify_fixtures(data: Path) -> None:
    """The committed tables must be byte-identical to the listed ones."""
    for line in (data / "SHA256SUMS").read_text().splitlines():
        digest, name = line.split()
        if hashlib.sha256((data / name).read_bytes()).hexdigest() != digest:
            raise RuntimeError(f"fixture {name} differs from its SHA256SUMS entry")


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def run_workload(args, spark_factory=None, data=DATA) -> tuple[dict, dict]:
    """Run one workload and return (record, result line).

    ``spark_factory`` lets an in-process caller reuse a session; the
    CLI boots its own and stops it afterwards. ``data`` names the
    fixture scale under ``perfbench/data``.
    """
    from host import cpu_jiffies, live_heap_mb, steal_pct, tree_peak_rss_mb
    from layers import Tracer, install_wrappers

    nonce = uuid.uuid4().hex[:16]
    cores = len(os.sched_getaffinity(0))
    tracer = Tracer(nonce, enabled=bool(args.trace))
    record = {"run_nonce": nonce, "workload": args.workload, "seed": args.seed,
              "seconds": args.seconds, "trace": args.trace, "data": data}

    t_setup = time.perf_counter()
    with tracer.span("session.get_spark") as s_session:
        from weather_etl_spark import get_spark

        spark = (spark_factory or get_spark)(
            "perfbench", master=f"local[{cores}]")
    with tracer.span("registry.load_all") as s_registry:
        from weather_etl_spark import registry

        specs = registry.load_all()
    restore = install_wrappers(tracer) if args.trace else (lambda: None)
    tracer.enabled = False  # warm-up is untraced
    sink, warm_sink = WORK / f"sink-{nonce}", WORK / f"warm-{nonce}"
    try:
        if args.workload in QUERY_WORKLOADS:
            sf_dir = str(HERE / "data" / data)
            work = wl.QueryWorkload(spark, specs, QUERY_WORKLOADS[args.workload],
                                    sf_dir, args.seed, tracer)
            parts = [work]

            def warm_unit(tag):  # one pass
                return [work.run_pass(tag)]
            timed_unit, n_timed = warm_unit, None
        else:
            work = wl.IncrementalWorkload(spark, sink, args.seed, tracer)
            work.seed_sink()
            record["sink_files"] = [len(list(sink.glob("*.parquet")))]  # timed start, end
            # warm up on a copy, so the timed cycles always start from the
            # seeded sink, and run a fixed number of them
            rehearsal = work.fork(warm_sink)
            parts = [work, rehearsal]
            warm_unit, timed_unit = rehearsal.run_block, work.run_block
            n_timed = wl.timed_blocks(args.seconds)

        # warm up, from the cold unit on, on the median sample time of each
        # unit until it settles
        warm = [_median([p["wall"] for p in warm_unit(f"w{i}")]) for i in (1, 2)]
        while not wl.settled(warm) and len(warm) < wl.WARMUP_CAP:
            warm.append(_median([p["wall"] for p in warm_unit(f"w{len(warm) + 1}")]))
        setup_s = time.perf_counter() - t_setup

        timed, n_units = [], 0
        j0 = cpu_jiffies()
        t_end = time.perf_counter() + args.seconds
        while (n_units < n_timed if n_timed is not None
               else n_units < MIN_UNITS or time.perf_counter() < t_end):
            traced = bool(args.trace) and n_units % 2 == 1
            tracer.enabled = traced
            timed += [(traced, p) for p in timed_unit(f"t{n_units}")]
            n_units += 1
        tracer.enabled = False
        steal = steal_pct(j0, cpu_jiffies())
        # memory is read before the checks add their own
        peak_rss, heap_readings = tree_peak_rss_mb(), live_heap_mb(spark)

        if args.workload in QUERY_WORKLOADS:
            work.check()
            live_rows = 0
        else:
            sink_files = len(list(sink.glob("*.parquet")))
            record["sink_files"].append(sink_files)
            sink_bytes = sum(f.stat().st_size for f in sink.iterdir())
            live_rows = work.check_sink()
            rehearsal.check_sink()
    finally:
        restore()
        shutil.rmtree(sink, ignore_errors=True)
        shutil.rmtree(warm_sink, ignore_errors=True)

    untraced = [p for t, p in timed if not t]
    traced_passes = [p for t, p in timed if t]
    record.update(
        host_steal_pct=steal,
        warmup_s=warm,
        warmup_settled=wl.settled(warm),
        timed_s=[round(p["wall"], 6) for _, p in timed],
        timed_cpu=[round(p["cpu"], 3) for _, p in timed],
        timed_traced=[t for t, _ in timed],
        samples=len(untraced),
        live_heap_readings=heap_readings,
        failures=[f for p in parts for f in p.failures],
    )
    failed = len({f["op"] for f in record["failures"]})
    result = {"correct": failed == 0, "attempted": sum(p.attempted for p in parts),
              "failed": failed, "metrics": {}}

    if not args.trace:
        values = {
            "setup_s": setup_s,
            "pass_s": _median([p["wall"] for p in untraced]),
            "pass_cpu_s": _median([p["cpu"] for p in untraced]),
            "live_heap_mb": heap_readings[-1],
        }
        units = END_TO_END
    else:
        units = per_layer_units(wl.LLM + (wl.ANALYTICS if args.workload == "analytics_sf001" else ()))
        values = dict.fromkeys(units, 0.0)
        values.update(layer_metrics(tracer, traced_passes, cores))
        over = _median([p["wall"] for p in traced_passes]) - _median(
            [p["wall"] for p in untraced])
        values.update({
            "session.get_spark_s": s_session["end"] - s_session["start"],
            "registry.load_all_s": s_registry["end"] - s_registry["start"],
            "proc.peak_rss_mb": peak_rss,
            "trace.overhead_s": over,
            "trace.overhead_frac": over / _median([p["wall"] for p in untraced]),
        })
        if args.workload == "incremental_cycles":
            cycles = [p["ops"]["cycle"] for _, p in timed]
            values.update({
                "sinks.inserted_per_fetched": (sum(c["inserted"] for c in cycles)
                                               / sum(c["fetched"] for c in cycles)),
                "sinks.files": sink_files,
                "sinks.bytes_per_row": sink_bytes / max(live_rows, 1),
            })
        record["spans"] = tracer.spans
    result["metrics"] = {k: {"value": values[k], "unit": u} for k, u in units.items()}
    return record, result


def layer_metrics(tracer, passes: list[dict], cores: int) -> dict:
    """Per-pass layer numbers from spans and status-store reads, as the
    median over traced passes (a pass is one cycle on incremental)."""
    from layers import layer_of, self_times

    selfs = self_times(tracer.spans)
    per_pass = []
    for p in passes:
        lo, hi = p["spans"]
        spans = tracer.spans[lo:hi]
        ops = [op for op in p["ops"].values() if "exec" in op]
        d: dict[str, float] = {"trace.spans": len(spans)}

        def total(prefix, spans=spans):
            return sum(s["end"] - s["start"] for s in spans if s["name"].split("@")[0] == prefix)

        def count(prefix, spans=spans):
            return sum(1 for s in spans if s["name"].split("@")[0] == prefix)

        for layer in SELF_LAYERS:
            d[f"self_s.{layer}"] = sum(selfs[s["span_id"]] for s in spans if layer_of(s["name"]) == layer)
        d["io.read_table.calls"] = count("io.read_table")
        d["io.read_table_s"] = total("io.read_table")
        d["operators.build_s"] = total("operators.build")
        d["operators.build_jobs"] = sum(op["build"]["jobs"] for op in ops if "build" in op)
        for phase in ("analysis", "optimization", "planning"):
            d[f"catalyst.{phase}_ms"] = sum(op["catalyst"][phase] for op in ops if "catalyst" in op)
        d["exec.s"] = sum(op["exec_s"] for op in ops)
        for k in ("jobs", "stages", "tasks", "task_s", "failed_tasks", "shuffle_write_mb", "spill_mb"):
            d[f"exec.{k}"] = sum(op["exec"][k] for op in ops)
        d["exec.core_busy"] = d["exec.task_s"] / (d["exec.s"] * cores) if d["exec.s"] else 0.0
        d["exec.task_skew_max"] = max((op["exec"]["task_skew"] for op in ops), default=0.0)
        d["checkpoints.released_rdds"] = sum(op.get("released", 0) for op in p["ops"].values())
        for q, op in p["ops"].items():
            if "exec" in op and q != "cycle":
                d[f"exec.s.{q}"] = op["exec_s"]
                d[f"exec.stages.{q}"] = op["exec"]["stages"]
                d[f"exec.shuffle_write_mb.{q}"] = op["exec"]["shuffle_write_mb"]
                d[f"exec.task_skew.{q}"] = op["exec"]["task_skew"]
        cyc = p["ops"].get("cycle")
        if cyc is not None:
            d["sources.fetch_timeseries_s"] = cyc["fetch_s"]
            d["sources.fetch_retries"] = cyc["retries"]
            d["incremental.discover_cursor_s"] = total("incremental.discover_cursor")
            d["incremental.discover_cursor.calls"] = count("incremental.discover_cursor")
            d["incremental.jobs_per_cycle"] = d["exec.jobs"]
            d["sinks.idempotent_append_s"] = total("sinks.idempotent_append")
        per_pass.append(d)
    keys = {k for d in per_pass for k in d}
    return {k: _median([d.get(k, 0.0) for d in per_pass]) for k in keys}


def main(argv=None) -> int:
    args = parse_args(argv)
    prepare_environment(WORK)
    try:
        import pyspark  # noqa: F401
        import weather_etl_spark  # noqa: F401
        import oracle_utils  # noqa: F401
        verify_fixtures(HERE / "data")
    except (ImportError, OSError, RuntimeError) as err:
        print(f"perfbench: cannot run here: {type(err).__name__}: {err}", file=sys.stderr)
        return 2

    from host import host_record, stop_spark
    from pyspark.sql import SparkSession

    try:
        record, result = run_workload(args)
        spark = SparkSession.getActiveSession()
        record["host"] = host_record(ROOT, spark)
    finally:
        active = SparkSession.getActiveSession()
        if active is not None:
            stop_spark(active)
    runs = WORK / "runs"
    runs.mkdir(parents=True, exist_ok=True)
    sidecar = runs / f"{record['run_nonce']}.json"
    record["sidecar"] = str(sidecar.relative_to(ROOT))
    tmp = sidecar.with_suffix(".tmp")
    tmp.write_text(json.dumps({**record, "result": result}))
    tmp.replace(sidecar)
    record.pop("spans", None)
    print(json.dumps(record, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
