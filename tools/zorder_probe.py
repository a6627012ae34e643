"""Z-order file-skipping probe: write the SAME 2-D table linearly
sorted vs z-order clustered, then measure — from the parquet footer
min/max stats, exactly what a scan planner sees — how many files a
selective predicate on EACH dimension can skip.

Usage: python tools/zorder_probe.py [n_rows] [n_files] [grid_bits]

Expectation at 100 TB: a linear sort prunes ~perfectly on its sort
key and not at all on the other; z-order prunes strongly on BOTH
(each file is a tight bounding box), which is the whole point of
`layout.cluster_by_zorder`.
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from vector_database_spark import get_spark
from vector_database_spark.operators import layout


def file_stats(path: str, cols: list[str]):
    import pyarrow.parquet as pq

    out = []
    for f in sorted(os.listdir(path)):
        if not f.endswith(".parquet"):
            continue
        md = pq.ParquetFile(os.path.join(path, f)).metadata
        lo = {c: None for c in cols}
        hi = {c: None for c in cols}
        idx = {md.schema.column(i).name: i for i in range(md.num_columns)}
        for rg in range(md.num_row_groups):
            for c in cols:
                st = md.row_group(rg).column(idx[c]).statistics
                lo[c] = st.min if lo[c] is None else min(lo[c], st.min)
                hi[c] = st.max if hi[c] is None else max(hi[c], st.max)
        out.append((lo, hi))
    return out


def skip_fraction(stats, col: str, q_lo: int, q_hi: int) -> float:
    """Fraction of files whose [min,max] for `col` misses [q_lo,q_hi]."""
    skipped = sum(
        1 for lo, hi in stats if hi[col] < q_lo or lo[col] > q_hi
    )
    return skipped / len(stats)


def main() -> int:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 2_000_000
    n_files = int(sys.argv[2]) if len(sys.argv) > 2 else 64
    bits = int(sys.argv[3]) if len(sys.argv) > 3 else 12
    top = (1 << bits) - 1

    spark = get_spark(
        app_name="zorder-probe",
        shuffle_partitions=n_files,
        extra_conf={"spark.ui.enabled": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    from pyspark.sql import functions as F

    # cast BEFORE abs: ANSI aborts on abs(Int.MinValue)
    df = spark.range(n).select(
        F.col("id"),
        (F.abs(F.hash(F.col("id"), F.lit(1)).cast("long")) % (top + 1))
        .alias("a"),
        (F.abs(F.hash(F.col("id"), F.lit(2)).cast("long")) % (top + 1))
        .alias("b"),
    )
    tmp = tempfile.mkdtemp()
    lin_p, z_p = f"{tmp}/linear", f"{tmp}/zorder"
    bounds = {"a": (0, top), "b": (0, top)}

    df.repartitionByRange(n_files, "a").sortWithinPartitions("a") \
        .write.mode("overwrite").parquet(lin_p)
    layout.cluster_by_zorder(
        df, ["a", "b"], bits=bits, num_partitions=n_files, bounds=bounds
    ).write.mode("overwrite").parquet(z_p)

    lin = file_stats(lin_p, ["a", "b"])
    zo = file_stats(z_p, ["a", "b"])
    # a selective 1/64-width range in the middle of each dimension
    width = (top + 1) // 64
    q_lo, q_hi = top // 2, top // 2 + width
    res = {
        "n_rows": n,
        "n_files": n_files,
        "predicate_width_frac": round(width / (top + 1), 4),
        "skip_linear_on_sortkey_a": round(skip_fraction(lin, "a", q_lo, q_hi), 3),
        "skip_linear_on_other_b": round(skip_fraction(lin, "b", q_lo, q_hi), 3),
        "skip_zorder_on_a": round(skip_fraction(zo, "a", q_lo, q_hi), 3),
        "skip_zorder_on_b": round(skip_fraction(zo, "b", q_lo, q_hi), 3),
    }
    import json

    print(json.dumps(res))
    shutil.rmtree(tmp, ignore_errors=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
