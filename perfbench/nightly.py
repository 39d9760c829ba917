"""The ``medallion_nightly`` workload: the paper's own system, run twice.

One pass = a fresh warehouse, run 1 (full load of seeded sources), the
seeded run-2 delta, run 2 (watermark filter, archive, SCD2 merge). Each
operation is one ``Runner`` stage call (``ingest_to_landing``,
``build_bronze``, ``build_silver``, ``build_gold``). After each run, outside
the timed region, the warehouse is checked against the generator's truth
(``MedallionSources.expected``):

- a success audit row with the expected landed row count for every active
  config row, and no failed row (read through ``AuditLedger.read``);
- per SCD2 silver entity: the expected row count, one current row for
  every business key except the keys changed in run 2, each of which has
  exactly one row, expired (the runner's strict reference semantics do
  not re-insert the new version in the same run);
- the row count of every gold mart.

A violation fails the run's four stage operations.
"""

from __future__ import annotations

import os
import shutil
import time
from collections import Counter

import pyarrow.parquet as pq

from gcp_healthcare_data_pipeline_spark.pipeline.audit import AuditLedger
from gcp_healthcare_data_pipeline_spark.pipeline.runner import (
    Runner,
    SourcePaths,
)

from medallion import RUN1, RUN2, MedallionSources

SCALE = 0.3
STAGES = (("landing", "ingest_to_landing"), ("bronze", "build_bronze"),
          ("silver", "build_silver"), ("gold", "build_gold"))
ZONES = ("landing", "archive", "bronze", "silver", "gold", "control")
SCD2_KEYS = {"patients": "Patient_Key", "encounters": "Encounter_Key",
             "transactions": "Transaction_Key"}


def zone_usage(warehouse: str) -> dict[str, tuple[int, int]]:
    """(bytes, data files) on disk per warehouse zone; landing archives
    (``landing/<ds>/archive``) count as their own zone."""
    out = {z: [0, 0] for z in ZONES}
    for dirpath, _dirs, files in os.walk(warehouse):
        rel = os.path.relpath(dirpath, warehouse).split(os.sep)
        zone = "archive" if "archive" in rel[:3] else rel[0]
        if zone not in out:
            continue
        for f in files:
            out[zone][0] += os.path.getsize(os.path.join(dirpath, f))
            out[zone][1] += f.startswith("part-")
    return {z: (b, n) for z, (b, n) in out.items()}


def tree_bytes(root: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _dirs, files in os.walk(root) for f in files)


class Nightly:
    def __init__(self, seed: int, work: str, scale: float = SCALE):
        self.seed = seed
        self.scale = scale
        self.src = os.path.join(work, "sources")
        self.warehouse = os.path.join(work, "warehouse")
        self.detail: dict = {}
        self.rows_landed: dict[str, int] = {}

    def build_state(self, spark, data) -> dict[str, float]:
        return {}

    def run_pass(self, spark, data, probe) -> list[dict]:
        for d in (self.src, self.warehouse):
            shutil.rmtree(d, ignore_errors=True)
        gen = MedallionSources(self.seed, self.scale)
        sources = SourcePaths(**gen.write(self.src))
        ops, runs = [], {}
        for run, clock in (("full", RUN1), ("incr", RUN2)):
            if run == "incr":
                gen.apply_delta()
                gen.write(self.src)
            run_ops = []
            t0 = time.perf_counter()
            with probe.timed():
                runner = Runner(spark, self.warehouse, clock=clock)
                for stage, method in STAGES:
                    op = probe.begin(f"{stage}.{run}", "pipeline")
                    args = (sources,) if stage in ("landing", "bronze") else ()
                    try:
                        getattr(runner, method)(*args)
                        probe.end(op)
                    except Exception as exc:  # noqa: BLE001 - record, go on
                        probe.fail(op, exc)
                    run_ops.append(op)
                runner.ledger.flush()
                runner.logger.flush()
            runs[run] = time.perf_counter() - t0
            problems = self.check(spark, gen, clock)
            for op in run_ops:
                if problems and "error" not in op:
                    op["error"] = "; ".join(problems[:5])
            ops += run_ops
        usage = zone_usage(self.warehouse)
        self.detail = {
            "pipeline_full_s": runs["full"], "pipeline_incr_s": runs["incr"],
            "source_rows": gen.source_rows(),
            "rows_landed": self.rows_landed,
            "scd2_closed_rows": sum(v["closed"] for v in
                                    gen.expected()["scd2"].values()),
            "bytes_written": {z: b for z, (b, _n) in usage.items()},
            "files": {z: n for z, (_b, n) in usage.items()},
        }
        self.detail["incr_landed_share"] = (
            self.rows_landed["incr"] / self.detail["source_rows"])
        return ops

    def storage(self) -> tuple[int, int]:
        """(warehouse bytes, source bytes) after the pass."""
        return tree_bytes(self.warehouse), tree_bytes(self.src)

    # -- invariants -------------------------------------------------------------
    def check(self, spark, gen: MedallionSources, clock) -> list[str]:
        want = gen.expected()
        problems = []
        ledger = [r for r in AuditLedger(
            spark, os.path.join(self.warehouse, "control")).read().collect()
            if r.load_timestamp == clock]
        self.rows_landed["incr" if clock == RUN2 else "full"] = sum(
            r.record_count for r in ledger)
        got = Counter((r.data_source, r.tablename, r.status,
                       r.record_count) for r in ledger)
        expect = Counter((ds, t, "success", n)
                         for (ds, t), n in want["landed"].items())
        if got != expect:
            problems.append(f"audit rows differ: {sorted(got - expect)[:3]} "
                            f"vs {sorted(expect - got)[:3]}")
        for table, key in SCD2_KEYS.items():
            t = pq.read_table(os.path.join(self.warehouse, "silver", table),
                              columns=[key, "is_current"]).to_pydict()
            w = want["scd2"][table]
            rows = Counter(k for k in t[key] if k is not None)
            current = Counter(k for k, c in zip(t[key], t["is_current"])
                              if c and k is not None)
            closed = sum(not c for c in t["is_current"])
            multi = [k for k, n in rows.items() if n != 1]
            not_current = {k for k in rows if current[k] != 1}
            if (len(t[key]) != w["rows"] or closed != w["closed"] or multi
                    or not_current != w["changed"]):
                problems.append(
                    f"silver/{table}: rows {len(t[key])}/{w['rows']}, "
                    f"closed {closed}/{w['closed']}, multi-version keys "
                    f"{multi[:3]}, non-current keys "
                    f"{sorted(not_current ^ w['changed'])[:3]}")
        for mart, n in want["gold"].items():
            path = os.path.join(self.warehouse, "gold", mart)
            rows = sum(pq.read_metadata(os.path.join(path, f)).num_rows
                       for f in os.listdir(path) if f.endswith(".parquet"))
            if rows != n:
                problems.append(f"gold/{mart}: {rows} rows, expected {n}")
        return problems
