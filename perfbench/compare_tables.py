"""Compare the generated query tables with a reference table directory.

    python3 perfbench/compare_tables.py <reference_sf_dir> [--sf 0.1]

Run from the repository root. Fails if a table's column names, column
types or row count differ; prints, per column, reference / generated
figures: mean, min and max of numeric columns, min and max of timestamps,
distinct counts of numeric and string columns, and each numeric column's
mean gap in units of the reference's standard deviation.
"""

from __future__ import annotations

import argparse
import os
import sys

import pyarrow.compute as pc
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import querydata  # noqa: E402

NUMERIC = ("int32", "int64", "float", "double")


def _column(name: str, ref, gen) -> tuple[str, float]:
    ty = str(ref.type)
    if ty in NUMERIC:
        gap = abs(pc.mean(ref).as_py() - pc.mean(gen).as_py()) / (
            pc.stddev(ref).as_py() or 1.0)
        figures = " ".join(
            f"{k} {f(ref).as_py():.6g}/{f(gen).as_py():.6g}"
            for k, f in (("mean", pc.mean), ("min", pc.min), ("max", pc.max)))
        return (f"{name}: {figures} distinct {pc.count_distinct(ref)}/"
                f"{pc.count_distinct(gen)} gap {gap:.3f} sd"), gap
    if ty.startswith("timestamp"):
        return (f"{name}: min {pc.min(ref)}/{pc.min(gen)} "
                f"max {pc.max(ref)}/{pc.max(gen)}"), 0.0
    if ty == "string":
        return (f"{name}: distinct {pc.count_distinct(ref)}/"
                f"{pc.count_distinct(gen)}"), 0.0
    return f"{name}: {ty}", 0.0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("reference")
    ap.add_argument("--sf", type=float, default=0.1)
    args = ap.parse_args(argv)
    gen_dir = querydata.ensure(
        os.path.join(os.path.dirname(HERE), ".perfbench_work", "data"),
        args.sf)
    worst, bad = (0.0, ""), []
    for name in sorted(os.listdir(gen_dir)):
        ref_path = os.path.join(args.reference, name)
        if not os.path.exists(ref_path):
            bad.append(f"{name}: missing from the reference")
            continue
        ref = pq.read_table(ref_path)
        gen = pq.read_table(os.path.join(gen_dir, name))
        if ref.schema.remove_metadata() != gen.schema.remove_metadata():
            bad.append(f"{name}: schema {gen.schema} != {ref.schema}")
            continue
        if ref.num_rows != gen.num_rows:
            bad.append(f"{name}: {gen.num_rows} rows != {ref.num_rows}")
        print(f"{name}: rows {ref.num_rows}/{gen.num_rows}")
        for col in ref.column_names:
            line, gap = _column(col, ref[col], gen[col])
            print(f"  {line}")
            worst = max(worst, (gap, f"{name}.{col}"))
    print(f"largest mean gap: {worst[0]:.3f} sd ({worst[1]})")
    for line in bad:
        print(f"MISMATCH {line}")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
