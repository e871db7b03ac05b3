"""Seeded inputs, generated once and cached in the checkout.

``code_files``: ``sparkcodec.tables.code_files_arrow`` is pure Python
(seconds per thousand rows), so one base corpus per scale is generated
once and cached with a per-row checksum; each seed then derives its
table as a seeded, order-preserving row subset of it — the same seed
always gives the same rows, and no run pays for generation inside
``setup_s``. The edge table comes straight from numpy with the seed.

Row checksum: ``crc32`` of the row's columns joined by NUL, summed over
rows — computed here with zlib and in Spark with
``crc32(concat_ws('\\0', ...))``, so expected values never go through
the program under test.
"""

from __future__ import annotations

import os
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

CF_COLS = ["repo", "path", "commit", "lang", "content"]
EDGE_COLS = ["edge_id", "source_node_id", "target_node_id", "afferent_section_id",
             "syn_weight", "delay"]

# rows per scale; "full" sizes keep one op in the seconds range at
# local[2] while a whole run stays near half a minute
SCALES = {
    "full": {"base": 40_000, "bulk": 24_000, "maint": 6_000,
             "edges": 300_000, "nodes": 20_000},
    "tiny": {"base": 1_600, "bulk": 800, "maint": 500,
             "edges": 20_000, "nodes": 1_000},
}


def row_crc(table: pa.Table) -> np.ndarray:
    """Per-row crc32 of the NUL-joined code_files columns (as int64)."""
    pys = [table.column(c).to_pylist() for c in CF_COLS]
    return np.fromiter(
        (zlib.crc32("\x00".join(v).encode()) for v in zip(*pys)),
        dtype=np.int64, count=table.num_rows,
    )


def _atomic_parquet(table: pa.Table, path: str) -> None:
    tmp = f"{path}.tmp-{os.getpid()}"
    pq.write_table(table, tmp, compression="zstd")
    os.replace(tmp, path)


def code_files_base(cache: str, scale: str) -> pa.Table:
    """The cached base corpus for ``scale`` with a ``__crc`` column."""
    from sparkcodec.tables import code_files_arrow

    path = os.path.join(cache, f"code_files_base-{scale}.parquet")
    if not os.path.exists(path):
        os.makedirs(cache, exist_ok=True)
        t = code_files_arrow(SCALES[scale]["base"], seed=0)
        t = t.append_column("__crc", pa.array(row_crc(t)))
        _atomic_parquet(t, path)
    return pq.read_table(path)


def code_files_for_seed(cache: str, scale: str, seed: int, n: int) -> tuple[pa.Table, np.ndarray]:
    """Seeded order-preserving subset of about ``n`` base rows, drawn per
    stratum (repo x giant file or not) in proportion: every seed gets the
    same rows per repo and the same number of giant files, but different
    rows, so costs and sizes compare across seeds. Also returns the base
    row ids taken (so a workload can draw disjoint extras)."""
    base = code_files_base(cache, scale)
    rng = np.random.default_rng(seed)
    repo = base.column("repo").combine_chunks().dictionary_encode().indices.to_numpy()
    big = pc.binary_length(base.column("content")).to_numpy() >= 100_000
    strata = repo.astype(np.int64) * 2 + big
    frac = n / base.num_rows
    idx = []
    for s in np.unique(strata):
        rows = np.flatnonzero(strata == s)
        k = int(round(len(rows) * frac))
        if k:
            idx.append(rng.choice(rows, size=k, replace=False))
    idx = np.sort(np.concatenate(idx))
    return base.take(pa.array(idx)), idx


def write_input_dir(table: pa.Table, path: str) -> str:
    """Materialize the program's input (data columns only) as a parquet
    dataset of eight files; cached per (workload, scale, seed)."""
    done = os.path.join(path, "_DONE")
    if os.path.exists(done):
        return path
    os.makedirs(path, exist_ok=True)
    data = table.select([c for c in table.column_names if not c.startswith("__")])
    step = max(1, -(-data.num_rows // 8))
    for i in range(8):
        sl = data.slice(i * step, step)
        if sl.num_rows:
            _atomic_parquet(sl, os.path.join(path, f"part-{i:04d}.parquet"))
    open(done, "w").close()
    return path


def data_nbytes(table: pa.Table) -> int:
    """Raw size of the data columns (Arrow buffers, as the engine counts)."""
    return sum(table.column(c).nbytes for c in table.column_names if not c.startswith("__"))


def crc_stats(table: pa.Table, mask=None) -> tuple[int, int]:
    """(rows, checksum) of the rows ``mask`` keeps (all when None)."""
    t = table if mask is None else table.filter(mask)
    return t.num_rows, int(pc.sum(t.column("__crc")).as_py() or 0)


def edges_for_seed(scale: str, seed: int) -> pa.Table:
    """Seeded numeric edge table in the reference's layout: rows sorted
    by target (each target's afferent edges contiguous), sources drawn
    with locality, plus numeric attributes — ids for FoR/bit-pack, runs
    for RLE, the sequential edge id for delta, floats for ALP."""
    sz = SCALES[scale]
    n, nodes = sz["edges"], sz["nodes"]
    rng = np.random.default_rng(seed)
    fan_in = rng.multinomial(n, rng.dirichlet(np.full(nodes, 2.0)))
    target = np.repeat(np.arange(nodes, dtype=np.int64), fan_in)
    # afferent sources cluster near the target id, with bursts of the
    # same source (multi-synapse connections)
    src = (target + rng.integers(-nodes // 20, nodes // 20 + 1, n)) % nodes
    burst = rng.random(n) < 0.6
    src[1:][burst[1:]] = src[:-1][burst[1:]]
    return pa.table({
        "edge_id": pa.array(np.arange(n, dtype=np.int64)),
        "source_node_id": pa.array(src.astype(np.int64)),
        "target_node_id": pa.array(target),
        "afferent_section_id": pa.array(rng.integers(0, 200, n).astype(np.int32)),
        "syn_weight": pa.array(np.round(rng.gamma(2.0, 0.5, n), 3)),
        "delay": pa.array(np.round(rng.uniform(0.1, 5.0, n), 1)),
    })


def run_stats(nodes: np.ndarray) -> dict:
    """Expected index aggregates for runs of ``nodes`` in row order: the
    ranges (count, row coverage, node-weighted coverage, sum of starts)
    and the CSR level (distinct nodes, total ranges)."""
    n = len(nodes)
    starts = np.flatnonzero(np.concatenate([[True], nodes[1:] != nodes[:-1]]))
    ends = np.append(starts[1:], n)
    return {
        "ranges": int(len(starts)),
        "covered": int((ends - starts).sum()),
        "node_weighted": int((nodes[starts] * (ends - starts)).sum()),
        "start_sum": int(starts.sum()),
        "nodes": int(len(np.unique(nodes))),
    }
