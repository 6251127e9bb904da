"""2-D data-layout skipping: Z-order vs 1-D sort vs insertion order.

Extends reports/LAYOUT_SKIPPING.md (1-D sorted parquet) to the
multi-dimensional case every lakehouse layout service targets: a
predicate on BOTH time and user. A 1-D sort clusters only its sort
column — footer min/max on the second column stay full-range, so the
second predicate prunes nothing. The Z-order (Morton) layout
(`sources/layout.write_zordered`) interleaves the two dimensions into
one sort key, giving tight min/max on both.

Method: write `events` (sf0.1, 100k rows, ts spans ~30 days, user_id
0..1499) three ways × 16 files; for the predicate
`ts IN a 3-day window AND user_id IN [100, 300)` count row groups that
MUST be read (a group survives iff BOTH columns' [min,max] intersect
their ranges — exactly parquet footer pruning).

Usage: python tools/experiment_zorder_skipping.py
Writes reports/ZORDER_SKIPPING.md.
"""

from __future__ import annotations

import os
import sys
import tempfile

import pyarrow.parquet as pq

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

N_FILES = 64
TS_LO, TS_HI = "2024-01-10 00:00:00", "2024-01-13 00:00:00"
UID_LO, UID_HI = 100, 300


def rowgroup_stats_2d(store: str, preds: list[tuple[str, object, object]]):
    """(n_groups, n_must_read, bytes_total, bytes_must_read): a row
    group must be read iff EVERY (col, lo, hi) stats-range intersects."""
    n = m = bt = bm = 0
    for root, _d, files in os.walk(store):
        for f in files:
            if not f.endswith(".parquet"):
                continue
            meta = pq.ParquetFile(os.path.join(root, f)).metadata
            idx = {meta.schema.column(i).name: i for i in range(meta.num_columns)}
            for rg in range(meta.num_row_groups):
                g = meta.row_group(rg)
                size = sum(
                    g.column(ci).total_compressed_size
                    for ci in range(g.num_columns)
                )
                n += 1
                bt += size
                must = True
                for col, lo, hi in preds:
                    st = g.column(idx[col]).statistics
                    if st is None or st.min is None:
                        continue  # no stats → cannot prune on this col
                    if st.max < lo or st.min > hi:
                        must = False
                        break
                if must:
                    m += 1
                    bm += size
    return n, m, bt, bm


def main() -> None:
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from bandwidth_first_ann_refinement_precision_on_demand_in_vector_databases_spark.sources.layout import (
        write_zordered,
    )

    spark = (
        SparkSession.builder.master("local[16]")
        .config("spark.sql.shuffle.partitions", "32")
        .getOrCreate()
    )
    ev = spark.read.parquet("/root/testdata/sf0.1/events.parquet")
    t0, t1, u1 = ev.agg(
        F.min(F.unix_timestamp("ts")),
        F.max(F.unix_timestamp("ts")),
        F.max("user_id"),
    ).collect()[0]
    # Z-order inputs must SPAN the full 16-bit range — a dimension
    # that only uses its low bits never reaches the interleave's high
    # bits, and the range partitioner then sorts by the other
    # dimension alone (measured: unscaled user_id < 2^11 made the
    # layout time-sorted in practice). Normalize both to [0, 65535].
    prepared = ev.withColumn(
        "__zb_ts",
        (
            (F.unix_timestamp("ts") - F.lit(t0)) * 65535 / F.lit(t1 - t0)
        ).cast("bigint"),
    ).withColumn(
        "__zb_uid", (F.col("user_id") * 65535 / F.lit(u1)).cast("bigint")
    )

    import datetime

    ts_lo = datetime.datetime.fromisoformat(TS_LO)
    ts_hi = datetime.datetime.fromisoformat(TS_HI)
    pred_sets = {
        "2-D (3-day ts AND user range)": [
            ("ts", ts_lo, ts_hi),
            ("user_id", UID_LO, UID_HI - 1),
        ],
        "user-only (all time, user range)": [
            ("user_id", UID_LO, UID_HI - 1),
        ],
    }
    lines = [
        "# 2-D layout skipping: Z-order vs 1-D sort vs insertion",
        "",
        f"`events` sf0.1 (100k rows), {N_FILES} files per layout. "
        f"Predicates: 3-day ts window; user_id ∈ [{UID_LO}, {UID_HI}).",
        "",
        "| predicate | layout | groups must-read | of total | of store bytes |",
        "|---|---|---|---|---|",
    ]
    with tempfile.TemporaryDirectory() as tmp:
        layouts = {}
        p = os.path.join(tmp, "insertion")
        ev.repartition(N_FILES).write.parquet(p)
        layouts["insertion order"] = p
        p = os.path.join(tmp, "sorted_ts")
        ev.repartitionByRange(N_FILES, "ts").sortWithinPartitions("ts").write.parquet(p)
        layouts["sorted by ts (1-D)"] = p
        p = os.path.join(tmp, "zorder")
        write_zordered(prepared, p, "__zb_ts", "__zb_uid", n_files=N_FILES)
        layouts["z-ordered (ts × user)"] = p
        for pname, preds in pred_sets.items():
            for name, store in layouts.items():
                n, m, bt, bm = rowgroup_stats_2d(store, preds)
                lines.append(
                    f"| {pname} | {name} | {m} | {n} | {100.0 * bm / bt:.1f}% |"
                )
                print(lines[-1], flush=True)
    lines += [
        "",
        "The 1-D sort prunes the TIME dimension only — every surviving",
        "group still spans all users, so the user predicate prunes",
        "nothing. The Z-order layout carries tight min/max on BOTH",
        "columns, so the 2-D predicate multiplies its selectivities.",
        "At 100 TB this is the layout lever for multi-dimensional scan",
        "pruning (lakehouse OPTIMIZE ZORDER), expressed as one",
        "repartitionByRange + sortWithinPartitions over the Morton key",
        "(`sources/layout.zorder_key_sql` — shifts/masks in codegen,",
        "no UDF).",
    ]
    with open(os.path.join(ROOT, "reports", "ZORDER_SKIPPING.md"), "w") as f:
        f.write("\n".join(lines) + "\n")
    print("wrote reports/ZORDER_SKIPPING.md")


if __name__ == "__main__":
    main()
