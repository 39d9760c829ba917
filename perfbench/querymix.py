"""The query workloads: a fixed mix of registry queries, materialized.

- ``curation_corpus``: the array- and HOF-heavy, many-jobs-per-query half
  of the registry: the composed curation pipeline (exact and MinHash
  dedup, SemDeDup and text-quality stages over one survivor set), and the
  two forms of the two-level argmin: k-means assignment and the IVF-PQ
  serving query over the standing IVF-PQ store (whose build writes
  versioned snapshots).
- ``warehouse_queries``: the analyst-facing read-only surface, one or two
  representatives of every warehouse query family (TPC-H shapes,
  analytics, stats, events, windows, gold and silver analogs, lake) plus
  the two scale-factor pipeline queries.

Standing stores are built once in set-up (their builds also warm the
vector and snapshot code paths the curation queries share) and never
cleared between queries; the per-query dedup caches are cleared
before each query, as ``bench.py`` does. The seed permutes the query
order.

Each operation is one registry query: ``spec.fn(spark, sf_dir)`` (the
construct phase, which includes any eager driver-side actions) followed by
the materializing action, a ``noop``-format write of the full result. The
action carries a ``DataFrame.observe`` that gathers the row count and an
order-insensitive content digest in the same job, so checking an output
costs no second execution. The digests are compared with the ones recorded
from the parent tree over the same generated tables (``expected/``).

In a traced run, after the pass's last timed query, each query's result is
also counted (``count_s``): the count-versus-materialize gap, a diagnostic
that runs outside every timed region.
"""

from __future__ import annotations

import json
import os
import random
import time

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.sql import types as T

from gcp_healthcare_data_pipeline_spark.queries import all_queries
from gcp_healthcare_data_pipeline_spark.queries.dedup_queries import (
    clear_shared_state,
)
from gcp_healthcare_data_pipeline_spark.queries.vector_queries import (
    standing_ivfpq_tables,
)

HERE = os.path.dirname(os.path.abspath(__file__))

# queries/<module>.py -> family name
FAMILIES = {"vector_queries": "vector", "dedup_queries": "dedup",
            "text_queries": "text", "curation_queries": "curation",
            "extended_queries": "tpch", "analytics_queries": "analytics",
            "stats_queries": "stats", "event_queries": "event",
            "window_queries": "window", "gold_analogs": "gold",
            "silver_analogs": "silver", "lake_queries": "lake",
            "pipeline_queries": "pipeline"}

MIXES = {
    "curation_corpus": (
        "q_curation_pipeline",                            # composed pipeline
        "q_kmeans",                                       # _kmeans_assign
        "q_ann_ivfpq_serve",                              # ivf_assign, store
    ),
    "warehouse_queries": (
        "q_cube_sales",                                   # tpch
        "q_pricing_summary", "q_min_cost_supplier",       # analytics
        "q_profile_table",                                # stats
        "q_events_funnel",                                # event
        "q_topk_orders",                                  # window
        "q_charge_summary",                               # gold
        "q_scd2_customer",                                # silver
        "q_version_diff",                                 # lake
        "q_pipeline_sf", "q_scd2_sf",                     # pipeline
    ),
}

# standing stores built once in set-up and never cleared between queries
STORES = {
    "curation_corpus": {"ivfpq": standing_ivfpq_tables},
    "warehouse_queries": {},
}


def family(spec) -> str:
    module = spec.raw_fn.__module__.rsplit(".", 1)[-1]
    return FAMILIES[module]


def _float_type(dt: T.DataType) -> T.DataType:
    """``dt`` with every double replaced by float: the digest then ignores
    last-bit differences that float summation order can cause."""
    if isinstance(dt, (T.DoubleType, T.FloatType)):
        return T.FloatType()
    if isinstance(dt, T.ArrayType):
        return T.ArrayType(_float_type(dt.elementType), dt.containsNull)
    if isinstance(dt, T.StructType):
        return T.StructType([T.StructField(f.name, _float_type(f.dataType),
                                           f.nullable) for f in dt.fields])
    return dt


def _digest_col(c: Column, dt: T.DataType) -> Column:
    if isinstance(dt, (T.DoubleType, T.FloatType)):
        return c.cast("float") + F.lit(0.0).cast("float")   # -0.0 -> 0.0
    if isinstance(dt, T.MapType):
        return F.array_sort(F.map_entries(c))
    if isinstance(dt, T.VariantType):
        return c.cast("string")
    return c.cast(_float_type(dt))


def digest_metrics(df: DataFrame) -> list[Column]:
    """Row count and the sum of per-row 40-bit hashes (order-insensitive,
    and small enough that the sum cannot overflow)."""
    cols = [_digest_col(df[i], f.dataType)
            for i, f in enumerate(df.schema.fields)] or [F.lit(0)]
    return [F.count(F.lit(1)).alias("rows"),
            F.sum(F.shiftright(F.xxhash64(*cols), 24)).alias("digest")]


class QueryMix:
    def __init__(self, name: str, seed: int):
        specs = all_queries()
        self.name = name
        self.specs = {q: specs[q] for q in MIXES[name]}
        self.stores = STORES[name]
        self.order = list(MIXES[name])
        random.Random(seed).shuffle(self.order)
        self.expected_path = os.path.join(HERE, "expected", f"{name}.json")
        self.expected = {}
        if os.path.exists(self.expected_path):
            with open(self.expected_path) as f:
                self.expected = json.load(f)

    def build_state(self, spark, data: str) -> dict[str, float]:
        """Seconds per standing-store build."""
        out = {}
        for name, build in self.stores.items():
            t0 = time.perf_counter()
            build(spark, data)
            out[name] = time.perf_counter() - t0
        return out

    def run_pass(self, spark, data: str, probe) -> list[dict]:
        ops, results = [], []
        for i, name in enumerate(self.order):
            spec = self.specs[name]
            clear_shared_state()
            op = probe.begin(name, family(spec))
            obs = Observation(f"check{i}")
            try:
                with probe.timed():
                    df = spec.fn(spark, data)
                    probe.mark(op)
                    df.observe(obs, *digest_metrics(df)).write.format(
                        "noop").mode("overwrite").save()
                    probe.end(op)
                got = obs.get
                op["output"] = [got["rows"], got["digest"]]
                want = self.expected.get(name)
                if want is not None and want != op["output"]:
                    op["error"] = f"output {op['output']} != expected {want}"
                elif want is None and not probe.recording:
                    op["error"] = "no recorded output to compare with"
                results.append((op, df))
            except Exception as exc:  # noqa: BLE001 - one failed op, go on
                probe.fail(op, exc)
            ops.append(op)
        if probe.traced:
            self._count(spark, results)
        return ops

    @staticmethod
    def _count(spark, results: list[tuple[dict, DataFrame]]) -> None:
        """Diagnostic: ``count()`` each result after the pass, so the timed
        queries of a traced run execute exactly what an untraced run
        executes."""
        for op, df in results:
            spark.sparkContext.setJobGroup(f"{op['name']}.count",
                                           "perfbench count diagnostic")
            t0 = time.perf_counter()
            try:
                df.count()
                op["count_s"] = time.perf_counter() - t0
            except Exception as exc:  # noqa: BLE001 - diagnostic only
                op["count_error"] = f"{type(exc).__name__}: {exc}"[:500]

    def record(self, ops: list[dict]) -> None:
        """Write the outputs of a clean pass as the expected digests."""
        out = {op["name"]: op["output"] for op in ops}
        os.makedirs(os.path.dirname(self.expected_path), exist_ok=True)
        with open(self.expected_path, "w") as f:
            json.dump(dict(sorted(out.items())), f, indent=1)
            f.write("\n")
