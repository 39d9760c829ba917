"""The repository benchmark: one command, three workloads, checked outputs.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> \\
        --trace <0|1>

Run from the repository root. Workloads: ``medallion_nightly`` (the
landing -> bronze -> silver -> gold pipeline, full then incremental run, on
seeded sources), ``warehouse_queries`` and ``curation_corpus`` (fixed mixes
of registry queries, materialized, over tables generated at sf0.1).
``BENCHMARK.json`` names the first and the last and says why each exists;
``README.md`` says why ``warehouse_queries`` is left out of it.

Load model: one process, one ``get_spark()`` session at ``local[nproc]``,
one closed-loop client issuing one operation at a time. A run:

1. makes its inputs from the seed (the query tables do not depend on it
   and are generated once per checkout under ``.perfbench_work/data``);
2. sets up once: ``get_spark()``, a fixed warm-up and the standing store
   builds of ``curation_corpus``; ``setup_s`` is their sum;
3. runs passes of the workload until ``--seconds`` have elapsed (at least
   one pass), checking every operation's output;
4. prints a ``{"detail": ...}`` line with the per-operation breakdown (also
   written to ``.perfbench_work/results/``), then, as the last stdout line,
   ``{"correct", "attempted", "failed", "metrics"}``: the end-to-end
   metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.

With ``--trace 1`` the session is created with Spark's event log on, and
the per-layer counters come from that log. The traced pass time is
reported as ``trace.pass_s``; the tracing overhead is it minus ``pass_s``
of an untraced run with the same seed.

``--record`` writes the outputs of the run's first pass to
``perfbench/expected/`` as the digests later runs must match.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
QUERY_SF = 0.1


def _isolate(run_dir: str) -> None:
    """Keep every file the program and Spark write inside the checkout."""
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(run_dir, d), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ.setdefault("SPARK_GRAFT_CPUS",
                          str(len(os.sched_getaffinity(0))))


class Probe:
    """Times each benchmark call into the program, tags it with its own
    Spark job group, records failures, and adds up the wall and CPU time
    of the timed regions of a pass (output checks stay outside them)."""

    def __init__(self, traced: bool, recording: bool):
        self.traced = traced
        self.recording = recording
        self.spark = None
        self.cpu = lambda: 0.0
        self.wall_s = self.cpu_s = 0.0

    @contextlib.contextmanager
    def timed(self):
        c0, t0 = self.cpu(), time.perf_counter()
        try:
            yield
        finally:
            self.wall_s += time.perf_counter() - t0
            self.cpu_s += self.cpu() - c0

    def begin(self, name: str, family: str) -> dict:
        self.spark.sparkContext.setJobGroup(name, f"perfbench {name}")
        return {"name": name, "family": family, "wall0": time.time(),
                "t0": time.perf_counter()}

    def mark(self, op: dict) -> None:
        """End of the construct phase (queries)."""
        op["construct_s"] = time.perf_counter() - op["t0"]
        op["wall_mark"] = time.time()

    def end(self, op: dict) -> None:
        op["latency_s"] = time.perf_counter() - op.pop("t0")
        op["wall1"] = time.time()

    def fail(self, op: dict, exc: BaseException) -> None:
        if "t0" in op:
            self.end(op)
        op["error"] = f"{type(exc).__name__}: {exc}"[:500]


def _warm_up(spark) -> None:
    """The session's first job, a shuffle aggregate over generated rows, so
    the first measured operation does not pay the session's one-time job
    start-up (class loading, code generation set-up) alone."""
    from pyspark.sql import functions as F  # noqa: PLC0415

    spark.range(5_000).groupBy((F.col("id") % 97).alias("k")).agg(
        F.sum("id")).write.format("noop").mode("overwrite").save()


class Session:
    def __init__(self, run_dir: str):
        self.run_dir = run_dir
        self.spark = None
        self.event_dir = os.path.join(run_dir, "eventlog")

    def start(self, traced: bool) -> float:
        from gcp_healthcare_data_pipeline_spark.session import (  # noqa: PLC0415
            get_spark,
        )

        self.stop()
        conf = {
            "spark.sql.warehouse.dir": os.path.join(self.run_dir, "warehouse"),
            # no JVM perf-data file under the system /tmp
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData",
        }
        if traced:
            shutil.rmtree(self.event_dir, ignore_errors=True)
            os.makedirs(self.event_dir)
            conf.update({"spark.eventLog.enabled": "true",
                         "spark.eventLog.dir": f"file://{self.event_dir}",
                         "spark.eventLog.compress": "false",
                         "spark.eventLog.rolling.enabled": "false"})
        t0 = time.perf_counter()
        self.spark = get_spark(extra_conf=conf)
        elapsed = time.perf_counter() - t0
        self.spark.sparkContext.setLogLevel("ERROR")
        return elapsed

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def jvm(self):
        return self.spark.sparkContext._jvm

    def gc_s(self) -> float:
        beans = self.jvm().java.lang.management.ManagementFactory \
            .getGarbageCollectorMXBeans()
        return sum(b.getCollectionTime() for b in beans) / 1000

    def jvm_pid(self) -> int:
        return self.jvm().java.lang.ProcessHandle.current().pid()

    def cpu_s(self) -> float:
        """CPU seconds used so far by the session JVM and this process."""
        with open(f"/proc/{self.jvm_pid()}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
        jvm = (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")
        own = os.times()
        return jvm + own.user + own.system

    def peak_rss_mb(self) -> float:
        with open(f"/proc/{self.jvm_pid()}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
        raise RuntimeError("VmHWM missing from /proc status")

    def shutdown(self) -> None:
        """Stop the session and wait for the JVM process to exit."""
        from pyspark import SparkContext  # noqa: PLC0415

        self.stop()
        gateway = SparkContext._gateway
        if gateway is None:
            return
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None

    def event_log(self) -> str:
        (name,) = os.listdir(self.event_dir)
        return os.path.join(self.event_dir, name)


def _workload(name: str, seed: int, run_dir: str):
    """(workload object, its input directory or None)."""
    if name == "medallion_nightly":
        from nightly import Nightly  # noqa: PLC0415

        return Nightly(seed, run_dir), None
    if name in ("warehouse_queries", "curation_corpus"):
        import querydata  # noqa: PLC0415
        from querymix import QueryMix  # noqa: PLC0415

        return QueryMix(name, seed), querydata.ensure(
            os.path.join(WORK, "data"), QUERY_SF)
    raise SystemExit(f"unknown workload {name!r}")


def _storage(wl, data: str | None, run_dir: str) -> float:
    """On-disk bytes the workload's warehouse holds after the pass per byte
    of its sources: the pipeline's zones over its source CSVs, or, for the
    query mixes, the input tables plus everything the program keeps
    on disk (standing stores, snapshots) over the input tables."""
    from nightly import tree_bytes  # noqa: PLC0415

    if data is None:
        kept, source = wl.storage()
        return kept / source
    source = tree_bytes(data)
    kept = sum(tree_bytes(os.path.join(run_dir, d))
               for d in ("tmp", "warehouse"))
    return (source + kept) / source


def _set_up(session, wl, data, traced: bool):
    """Session start, warm-up, then the workload's standing state. Returns
    the start time, the warm-up time and the seconds per store build."""
    start_s = session.start(traced)
    t0 = time.perf_counter()
    _warm_up(session.spark)
    warmup_s = time.perf_counter() - t0
    return start_s, warmup_s, wl.build_state(session.spark, data)


def _median_pass(passes: list[dict]) -> dict:
    """The pass whose wall time is the (lower) median."""
    ordered = sorted(passes, key=lambda p: p["pass_s"])
    return ordered[(len(ordered) - 1) // 2]


def _layer_metrics(passes, log, start_s, warmup_s, peak_rss) -> dict:
    """Per-layer metrics of the median traced pass; also annotates every
    op with its own Spark counters for the detail output."""
    from eventlog import Counters  # noqa: PLC0415

    for p in passes:
        p["counters"], p["driver_s"] = Counters(), 0.0
        for op in p["ops"]:
            w = log.window(op["wall0"], op["wall1"])
            p["counters"].add(w)
            p["driver_s"] += op["latency_s"] - w.job_busy_s
            op.update(jobs=w.jobs, stages=w.stages, tasks=w.tasks,
                      shuffle_bytes=w.shuffle_read_bytes
                      + w.shuffle_write_bytes,
                      spill_bytes=w.spill_bytes,
                      codegen_fallback_ops=w.codegen_fallback_ops)
            if "wall_mark" in op:
                a = log.window(op["wall_mark"], op["wall1"])
                op.update(action_s=op["latency_s"] - op["construct_s"],
                          action_jobs=a.jobs)
    p = _median_pass(passes)
    c = p["counters"]
    return {
        "session.start_s": (start_s, "s"),
        "session.warmup_s": (warmup_s, "s"),
        "session.gc_s": (p["gc_s"], "s"),
        "session.peak_rss_mb": (peak_rss, "MB"),
        "ops.cpu_s": (p["cpu_s"], "s"),
        "ops.driver_s": (p["driver_s"], "s"),
        "ops.job_s": (c.job_busy_s, "s"),
        "spark.jobs": (c.jobs, "count"),
        "spark.stages": (c.stages, "count"),
        "spark.tasks": (c.tasks, "count"),
        "spark.shuffle_read_bytes": (c.shuffle_read_bytes, "bytes"),
        "spark.shuffle_write_bytes": (c.shuffle_write_bytes, "bytes"),
        "spark.spill_bytes": (c.spill_bytes, "bytes"),
        "spark.output_bytes": (c.output_bytes, "bytes"),
        "spark.codegen_fallback_ops": (c.codegen_fallback_ops, "count"),
        "trace.pass_s": (p["pass_s"], "s"),
    }


def run(args) -> dict:
    run_dir = os.path.join(WORK, "runs",
                           f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    _isolate(run_dir)
    sys.path[:0] = [ROOT, HERE]
    import stats  # noqa: PLC0415
    from eventlog import EventLog  # noqa: PLC0415

    traced = bool(args.trace)
    probe = Probe(traced, args.record)
    session = Session(run_dir)
    try:
        wl, data = _workload(args.workload, args.seed, run_dir)
        if args.record and not hasattr(wl, "record"):
            raise SystemExit(f"{args.workload} has no recorded outputs")
        start_s, warmup_s, state = _set_up(session, wl, data, traced)
        probe.spark, probe.cpu = session.spark, session.cpu_s
        setup_s = start_s + warmup_s + sum(state.values())

        passes = []
        t_measure = time.perf_counter()
        while not passes or time.perf_counter() - t_measure < args.seconds:
            probe.wall_s = probe.cpu_s = 0.0
            gc0 = session.gc_s()
            ops = wl.run_pass(session.spark, data, probe)
            passes.append({"pass_s": probe.wall_s, "cpu_s": probe.cpu_s,
                           "gc_s": session.gc_s() - gc0, "ops": ops})
        storage_ratio = _storage(wl, data, run_dir)
        peak_rss = session.peak_rss_mb()
        session.stop()     # also completes the event log of a traced run
        log = EventLog.parse(session.event_log()) if traced else None
    finally:
        session.shutdown()
        shutil.rmtree(run_dir, ignore_errors=True)

    all_ops = [op for p in passes for op in p["ops"]]
    failed = sum("error" in op for op in all_ops)
    if args.record:
        if failed:
            raise SystemExit(f"not recording, failed ops: {all_ops}")
        wl.record(passes[0]["ops"])
    ok = [op["latency_s"] for op in all_ops if "error" not in op]
    tail = stats.tail_percentile(ok)
    detail = dict(
        getattr(wl, "detail", {}), stores_build_s=state, samples=len(ok),
        op_p50_s=statistics.median(ok) if ok else None,
        op_tail=tail and {"percentile": tail[0], "value_s": tail[1]},
        errors={op["name"]: op["error"] for op in all_ops if "error" in op})
    if traced:
        metrics = _layer_metrics(passes, log, start_s, warmup_s, peak_rss)
    else:
        metrics = {
            "setup_s": (setup_s, "s"),
            "pass_s": (_median_pass(passes)["pass_s"], "s"),
            "ok_op_share": (1 - stats.failed_share(len(all_ops), failed),
                            "ratio"),
            "warehouse_bytes_per_source_byte": (storage_ratio, "ratio"),
        }
    _check_names(metrics, traced)
    detail["ops"] = [{k: v for k, v in op.items() if not k.startswith("wall")}
                     for op in all_ops]
    detail["families"] = _families(passes[0]["ops"])
    _save(args, detail)
    print(json.dumps({"detail": detail}, default=str))
    return {
        "correct": failed == 0,
        "attempted": len(all_ops),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in metrics.items()},
    }


def _check_names(metrics: dict, traced: bool) -> None:
    """The printed metrics must be exactly the ones BENCHMARK.json names."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)["per_layer" if traced else "end_to_end"]
    want = {m["name"]: m["unit"] for m in spec}
    got = {k: u for k, (_v, u) in metrics.items()}
    if got != want:
        raise RuntimeError(f"metrics {got} do not match BENCHMARK.json {want}")


def _families(ops: list[dict]) -> dict:
    out: dict[str, dict] = {}
    for op in ops:
        f = out.setdefault(op["family"], {"ops": 0, "latency_s": 0.0})
        f["ops"] += 1
        f["latency_s"] += op["latency_s"]
        if "construct_s" in op:
            f["construct_s"] = f.get("construct_s", 0.0) + op["construct_s"]
    return out


def _save(args, detail: dict) -> None:
    out = os.path.join(WORK, "results")
    os.makedirs(out, exist_ok=True)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    with open(os.path.join(out, name), "w") as f:
        json.dump(detail, f, indent=1, default=str)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", action="store_true",
                    help="write the pass's query outputs as expected digests")
    args = ap.parse_args(argv)
    print(json.dumps(run(args)))
    return 0


if __name__ == "__main__":
    sys.exit(main())
