"""Distributed CSR/run-length index: boundary-merge correctness under
multi-partition range shuffles (reference src/index/index.cpp parity)."""

from __future__ import annotations

import numpy as np
import pytest

from pyspark.sql import functions as F

from sparkcodec.index import build_index, csr_offsets, edge_ranges, prefix_sum_exclusive


def _runs_oracle(nodes):
    """Single-threaded reference: maximal runs of nodes in order."""
    out = []
    start = 0
    for i in range(1, len(nodes) + 1):
        if i == len(nodes) or nodes[i] != nodes[i - 1]:
            out.append((nodes[start], start, i))
            start = i
    return sorted(out, key=lambda r: r[1])


def _collect_ranges(df):
    return sorted(
        ((r["node_id"], r["range_start"], r["range_end"]) for r in df.collect()),
        key=lambda r: r[1],
    )


@pytest.mark.parametrize(
    "nodes",
    [
        [7] * 5000,  # one run spanning every partition
        [1, 2] * 2500,  # maximal alternation: 5000 runs
        list(np.repeat(np.arange(50), 100)),  # 50 runs of 100
        list(np.random.default_rng(0).integers(0, 3, 5000)),  # random short runs
    ],
    ids=["constant", "alternating", "blocks", "random"],
)
def test_edge_ranges_matches_serial_oracle(spark, nodes):
    rows = [(int(v), i) for i, v in enumerate(nodes)]
    df = spark.createDataFrame(rows, "node long, ord long").repartition(16)
    got = _collect_ranges(edge_ranges(df, "node", ["ord"]))
    want = _runs_oracle([int(v) for v in nodes])
    assert got == want
    # contiguity: half-open ranges tile [0, n) exactly
    assert got[0][1] == 0 and got[-1][2] == len(nodes)
    assert all(a[2] == b[1] for a, b in zip(got, got[1:]))


def test_edge_ranges_string_nodes(spark):
    vals = ["aa", "aa", "bb", "bb", "bb", "aa"] * 300
    df = spark.createDataFrame(
        [(v, i) for i, v in enumerate(vals)], "node string, ord long"
    ).repartition(8)
    got = _collect_ranges(edge_ranges(df, "node", ["ord"]))
    assert got == _runs_oracle(vals)


def test_csr_offsets_dense(spark):
    nodes = list(np.repeat([10, 20, 10, 30, 20], 40))
    df = spark.createDataFrame(
        [(int(v), i) for i, v in enumerate(nodes)], "node long, ord long"
    )
    offsets, ranges = build_index(df, "node", ["ord"])
    per_node = {
        r["node_id"]: r["n"]
        for r in ranges.groupBy("node_id").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    rows = sorted((r["node_id"], r["offset_start"], r["offset_end"]) for r in offsets.collect())
    # offsets tile [0, total_ranges) in node order with width n_ranges
    acc = 0
    for node, lo, hi in rows:
        assert lo == acc and hi - lo == per_node[node]
        acc = hi
    assert acc == sum(per_node.values())


def test_prefix_sum_exclusive_matches_numpy(spark):
    rng = np.random.default_rng(1)
    vals = rng.integers(0, 100, 3000)
    df = spark.createDataFrame(
        [(i, int(v)) for i, v in enumerate(vals)], "k long, v long"
    ).repartition(16)
    out = prefix_sum_exclusive(df, ["k"], "v", "before")
    got = {r["k"]: r["before"] for r in out.collect()}
    want = np.concatenate([[0], np.cumsum(vals)[:-1]])
    assert all(got[i] == want[i] for i in range(len(vals)))


def test_edge_ranges_plan_has_no_global_window(spark):
    df = spark.range(1000).select(
        (F.col("id") % 5).alias("node"), F.col("id").alias("ord")
    )
    plan = edge_ranges(df, "node", ["ord"])._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan, plan


def test_prefix_sum_negative_values(spark):
    """Per-partition totals come from the kernel's actual running sum, so
    negative values (non-monotone running totals) produce correct exclusive
    prefix sums — the max-of-running-total shortcut would not."""
    vals = [5, -3, 7, -10, 2, 4, -1, 6, -8, 9, 0, -2]
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vals)], "k long, v long"
    ).repartition(4)
    out = prefix_sum_exclusive(df, ["k"], "v", "off")
    got = {r["k"]: r["off"] for r in out.collect()}
    acc = 0
    for i, v in enumerate(vals):
        assert got[i] == acc, (i, got[i], acc)
        acc += v


def test_prefix_sum_exclusive_matches_window(spark):
    """Cross-check against the single-task window on a larger input."""
    df = spark.range(5000).select(
        F.col("id").alias("k"), (F.col("id") % 7 + 1).alias("v")
    )
    out = prefix_sum_exclusive(df, ["k"], "v", "off")
    got = {r["k"]: r["off"] for r in out.collect()}
    acc = 0
    for k in range(5000):
        assert got[k] == acc
        acc += k % 7 + 1


def test_edge_ranges_sorted_multi_file_input(spark, tmp_path):
    """A sorted multi-file parquet scan (partitions hold disjoint, ordered
    key ranges) indexes exactly like the serial oracle over key order."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = tmp_path / "sorted_multi"
    d.mkdir()
    n_files, rows = 8, 20000
    per = rows // n_files
    nodes = [k // 37 % 5 for k in range(rows)]
    for i in range(n_files):
        lo = i * per
        pq.write_table(pa.table({
            "k": pa.array(range(lo, lo + per), type=pa.int64()),
            "node": pa.array(nodes[lo:lo + per], type=pa.int64()),
            "pad": pa.array(["x" * 64] * per),
        }), str(d / f"part-{i:02d}.parquet"))
    conf = spark.conf
    old_mpb = conf.get("spark.sql.files.maxPartitionBytes")
    old_open = conf.get("spark.sql.files.openCostInBytes")
    try:
        conf.set("spark.sql.files.maxPartitionBytes", str(64 << 10))
        conf.set("spark.sql.files.openCostInBytes", str(1 << 10))
        df = spark.read.parquet(str(d))
        assert df.rdd.getNumPartitions() >= 4
        got = _collect_ranges(edge_ranges(df, "node", ["k"]))
    finally:
        conf.set("spark.sql.files.maxPartitionBytes", old_mpb)
        conf.set("spark.sql.files.openCostInBytes", old_open)
    assert got == _runs_oracle(nodes) and len(got) > 100


def test_build_index_reads_input_once(spark):
    """build_index computes its input DataFrame once: the range sampler
    and the shuffle map stage read the materialized projection, and the
    consuming action reads only the index's own checkpoints."""
    import pyarrow as pa
    import pyarrow.compute as pc

    passes = spark.sparkContext.accumulator(0)

    def counting_fn(batches):
        passes.add(1)
        for b in batches:
            node = pc.divide(b.column(0), pa.scalar(97, pa.int64()))
            yield pa.RecordBatch.from_arrays(
                [node, b.column(0)], names=["node", "ord"]
            )

    df = spark.range(0, 20000, 1, numPartitions=4).mapInArrow(
        counting_fn, "node long, ord long"
    )
    offsets, ranges = build_index(df, "node", ["ord"])
    got = _collect_ranges(ranges)
    assert len(offsets.collect()) == len(got) == 20000 // 97 + 1
    assert passes.value == 4, passes.value
