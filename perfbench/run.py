#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload crawl --seed 1 --seconds 10 --trace 0

Runs one workload at ``local[nproc]`` from the root of a checkout and
prints every metric by name with its unit, the oracle verdict, and, as
the last stdout line, one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``. With ``--trace 0`` the metrics are the
end-to-end ones. With ``--trace 1`` the run enables Spark's event log
and times ``StateStore`` calls from outside the program, runs the
kernel table, and reports the per-layer metrics. Everything a run
writes lives under ``.perfbench/`` in the checkout; only the detail
file ``.perfbench/last-<workload>-trace<N>.json`` is kept.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import shlex
import shutil
import statistics
import sys
import time
from dataclasses import dataclass

import datagen
import tracing

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

E2E_UNITS = {"total_s": "s", "peak_mem_mb": "MB", "setup_s": "s"}
KERNEL_UNITS = {
    "corpus.fetch_one_us": "us", "corpus.gen_image_us": "us",
    "html.extract_hrefs_us": "us", "urlnorm.resolve_us": "us",
    "urlnorm.canonicalize_us": "us", "codecs.encode_us": "us",
    "codecs.decode_us": "us", "codecs.phash64_us": "us",
    "fetch.stage_us_per_page": "us", "bloom.probe_ns_per_key": "ns",
    "bloom.build_ns_per_key": "ns", "bloom.fp_rate": "ratio",
}
LAYER_UNITS = {
    "op.cold_s": "s", "op.steady_s": "s", "op.peak_s": "s",
    **KERNEL_UNITS,
    "spark.init_jobs": "count", "spark.jobs_per_op": "count",
    "spark.stages_per_op": "count", "spark.tasks_per_op": "count",
    "spark.busy_frac": "ratio", "spark.driver_gap_s": "s",
    "spark.shuffle_mb_per_op": "MB", "spark.task_skew": "ratio",
    "spark.heavy_stage_frac": "ratio",
    "tableio.writes_per_round": "count", "tableio.state_mb": "MB",
    "tableio.state_files": "count", "pending.rewritten_rows": "count",
    "mem.python_rss_mb": "MB", "mem.jvm_live_heap_mb": "MB", "mem.jvm_rss_mb": "MB",
    "trace.total_s": "s",
}


@dataclass
class Context:
    seed: int
    seconds: int
    cores: int
    work: str
    data_dir: str | None = None


def _parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=["crawl", "queries"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return p.parse_args(argv)


def _configure_env(work: str, trace: bool) -> str | None:
    """Point the temp and log paths of Spark, its JVM and its Python
    workers inside ``work``. Must run before the JVM starts."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["TMPDIR"] = tmp
    # no hsperfdata files (the JVM writes them to /tmp whatever
    # java.io.tmpdir says), for the launcher JVM too; the heap is the
    # program's own (spark.driver.memory from session.py)
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    # the GC log gives the heap occupancy after each collection, which
    # follows the program's live data where the heap's size follows G1
    confs = [f"spark.driver.extraJavaOptions=-XX:-UsePerfData -Djava.io.tmpdir={tmp} "
             f"-Xlog:gc:file={os.path.join(work, 'gc.log')}",
             f"spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
             "spark.ui.showConsoleProgress=false"]
    log_dir = None
    if trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir)
        confs += ["spark.eventLog.enabled=true", f"spark.eventLog.dir=file://{log_dir}",
                  "spark.eventLog.compress=false", "spark.eventLog.rolling.enabled=false"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        f"--conf {shlex.quote(c)}" for c in confs) + " pyspark-shell"
    return log_dir


def _vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def _descendant_hwm_mb(root: int) -> float:
    """Summed VmHWM of every live descendant of ``root``: the JVM's
    Python daemon and workers."""
    children = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue  # exited while being read
            children.setdefault(ppid, []).append(int(d))
    total, todo = 0.0, list(children.get(root, []))
    while todo:
        pid = todo.pop()
        todo += children.get(pid, [])
        try:
            total += _vm_hwm_mb(pid)
        except (OSError, RuntimeError):
            continue
    return total


_GC_LINE = re.compile(r"^\[([\d.]+)s\].*?\d+[KMG]->(\d+)([KMG])\(\d+[KMG]\)")
_MB = {"K": 1 / 1024, "M": 1, "G": 1024}


def _live_heap_mb(gc_log: str, until_s: float) -> float:
    """The JVM's largest heap occupancy right after a collection, from
    its ``-Xlog:gc`` file, over the collections of its first
    ``until_s`` seconds of uptime."""
    peak = 0.0
    with open(gc_log) as f:
        for line in f:
            m = _GC_LINE.match(line)
            if m and float(m.group(1)) <= until_s:
                peak = max(peak, int(m.group(2)) * _MB[m.group(3)])
    return peak


def _footprint(path: str) -> tuple[float, int]:
    """(MB, files) under ``path``."""
    size, files = 0, 0
    for d, _, names in os.walk(path):
        for n in names:
            size += os.path.getsize(os.path.join(d, n))
            files += 1
    return size / 1e6, files


def _warm_up(spark) -> None:
    """One Python-worker job, so worker spawn and package import are
    paid in set-up and not by the first timed operation."""
    import pandas as pd

    def touch(batches):
        import nightcrawlercmd_spark.streaming.engine  # noqa: F401

        for b in batches:
            yield pd.DataFrame({"id": b["id"] * 2})

    n = spark.range(0, 256, numPartitions=spark.sparkContext.defaultParallelism).mapInPandas(
        touch, "id long").count()
    if n != 256:
        raise RuntimeError("warm-up job lost rows")


def _set_up(cores: int):
    """The one session start of the run: JVM launch and ``get_spark``,
    then the warm-up job. Returns the session and its seconds."""
    from nightcrawlercmd_spark.session import get_spark

    t0 = time.time()
    spark = get_spark(app="perfbench", cpus=cores, shuffle_partitions=max(8, cores))
    _warm_up(spark)
    return spark, time.time() - t0


def _stop(spark) -> None:
    """Stop the session, then the JVM, and wait until the JVM has exited
    (its Python workers exit with it)."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def _hardware_probe(cores: int) -> float:
    """``bench.hardware_capacity``: pure-CPU hash rate at ``cores``
    processes, measured next to this run."""
    from bench import hardware_capacity

    return hardware_capacity(cores, total=400_000, reps=1)


def _median_or(values, default: float) -> float:
    vals = [v for v in values if v is not None]
    return statistics.median(vals) if vals else default


def _op_windows(res: dict, store) -> list[tuple[str, float, float]]:
    """The workload's operations; crawl rounds are instead delimited by
    the ends of the timed ``StateStore.commit`` calls (round 0 is
    ``init``)."""
    ends = [t1 for _, _, t1 in store.outer(["commit"])]
    if not ends:
        return res["ops"]
    starts = [res["ops"][0][1]] + ends[:-1]
    return [("init" if r == 0 else f"round{r}", t0, t1)
            for r, (t0, t1) in enumerate(zip(starts, ends))]


def layer_metrics(res: dict, windows, records, store, cores: int, footprint) -> dict:
    """Per-operation Spark counts from the event log, StateStore call
    counts, and the state footprint."""
    ops = [records.window(t0, t1, cores) for kind, t0, t1 in windows if kind != "init"]
    init = [records.window(t0, t1, cores) for kind, t0, t1 in windows if kind == "init"]
    n_ops = max(len(ops), 1)
    n_commits = len(store.outer(["commit"]))
    counts = res["detail"].get("counts", {})
    return {
        "spark.init_jobs": sum(w["jobs"] for w in init),
        "spark.jobs_per_op": sum(w["jobs"] for w in ops) / n_ops,
        "spark.stages_per_op": sum(w["stages"] for w in ops) / n_ops,
        "spark.tasks_per_op": sum(w["tasks"] for w in ops) / n_ops,
        "spark.busy_frac": _median_or((w["busy_frac"] for w in ops), 0.0),
        "spark.driver_gap_s": _median_or((w["driver_gap_s"] for w in ops), 0.0),
        "spark.shuffle_mb_per_op": sum(w["shuffle_mb"] for w in ops) / n_ops,
        "spark.task_skew": _median_or((w["skew"] for w in ops), 1.0),
        "spark.heavy_stage_frac": _median_or((w["heavy_stage_frac"] for w in ops), 0.0),
        "tableio.writes_per_round": len(store.outer(tracing.WRITE_METHODS)) / max(n_commits, 1),
        "tableio.state_mb": footprint[0],
        "tableio.state_files": footprint[1],
        "pending.rewritten_rows": counts.get("pending.rewritten_rows", 0),
        "trace.total_s": res["total_s"],
        **res["op_s"],
    }


def main(argv=None) -> int:
    args = _parse_args(argv)
    cores = len(os.sched_getaffinity(0))
    base = os.path.join(ROOT, ".perfbench")
    work = os.path.join(base, f"run-{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        return _run(args, cores, base, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(args, cores: int, base: str, work: str) -> int:
    log_dir = _configure_env(work, bool(args.trace))
    sys.path.insert(0, ROOT)
    try:
        import nightcrawlercmd_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the program is not in this checkout ({e})", file=sys.stderr)
        return 2
    import workloads

    hw_rate = _hardware_probe(cores)
    ctx = Context(seed=args.seed, seconds=args.seconds, cores=cores, work=work)
    if args.workload == "queries":
        ctx.data_dir = os.path.join(work, "data")
        datagen.write_tables(ctx.data_dir, args.seed, workloads.QUERY_SCALE)
    store = tracing.StoreTrace()
    spark, setup_s = _set_up(cores)
    try:
        app_id = spark.sparkContext.applicationId
        jvm_pid = int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())
        if args.trace:
            store.install()
        try:
            res = workloads.WORKLOADS[args.workload](spark, ctx)
        finally:
            store.uninstall()
        mem = {"mem.python_rss_mb": _vm_hwm_mb(os.getpid()) + _descendant_hwm_mb(jvm_pid),
               "mem.jvm_rss_mb": _vm_hwm_mb(jvm_pid)}
        jvm_uptime_s = spark.sparkContext._jvm.java.lang.management.ManagementFactory \
            .getRuntimeMXBean().getUptime() / 1000.0
        kernels = {}
        if args.trace:
            import kernels as kn

            # depends only on the seed's crawl world, so on queries this
            # repeats the crawl's measurement as a host-speed control
            kernels = kn.kernel_table(spark, workloads.crawl_world(args.seed), args.seed)
    finally:
        _stop(spark)
    footprint = _footprint(res["state_dir"])
    mem["mem.jvm_live_heap_mb"] = _live_heap_mb(os.path.join(work, "gc.log"), jvm_uptime_s)
    e2e = {"total_s": res["total_s"],
           "peak_mem_mb": mem["mem.python_rss_mb"] + mem["mem.jvm_live_heap_mb"],
           "setup_s": setup_s}
    detail = {
        "workload": args.workload, "seed": args.seed, "cpus": cores,
        "hardware_capacity": hw_rate, "setup_s": setup_s, "e2e": e2e,
        "mem": mem,
        "op_s": res["op_s"], "attempted": res["attempted"], "failed": res["failed"],
        "state_mb": footprint[0], "state_files": footprint[1], **res["detail"],
    }
    if args.trace:
        records = tracing.SparkRecords(tracing.read_event_log(log_dir, app_id))
        windows = _op_windows(res, store)
        metrics = layer_metrics(res, windows, records, store, cores, footprint)
        metrics.update(mem)
        metrics.update({k: v[0] for k, v in kernels.items()})
        detail["kernel_iqr"] = {k: v[1] for k, v in kernels.items()}
        detail["per_op"] = [dict(op=k, **records.window(t0, t1, cores))
                            for k, t0, t1 in windows]
        by_site = records.exec_s_by_site(windows[0][1], windows[-1][2], store)
        detail["exec_s_by_site"] = {os.path.relpath(k, ROOT) if k.startswith(ROOT) else k: v
                                    for k, v in by_site.items()}
        detail["store_calls"] = store.summary()
        detail["layers"] = metrics
        units = LAYER_UNITS
    else:
        metrics, units = e2e, E2E_UNITS
    metrics = {k: metrics[k] for k in units}
    with open(os.path.join(base, f"last-{args.workload}-trace{args.trace}.json"), "w") as f:
        json.dump(detail, f, indent=1, default=str)
    ok = res["failed"] == 0
    for name, value in metrics.items():
        print(f"{args.workload:8s} {name:26s} {value:14.6g} {units[name]}")
    print(f"{args.workload:8s} oracle: {'PASS' if ok else 'FAIL'}, {res['failed']} of "
          f"{res['attempted']} operations failed; cpus={cores} "
          f"hardware_capacity={hw_rate:.0f}/s")
    print(json.dumps({
        "correct": ok, "attempted": res["attempted"], "failed": res["failed"],
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
