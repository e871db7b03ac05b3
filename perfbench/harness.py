"""Measurement plumbing shared by the workloads: percentiles, metric
names, the span tracer and its instrumentation of sparkcodec's public
functions, Spark stage metrics per op, filesystem call counts and the
host calibration burn.

Nothing here edits sparkcodec: the tracer wraps module attributes for
the life of one traced run, so calls *into* a layer (and calls between
public functions of a layer) are spanned from outside.
"""

from __future__ import annotations

import functools
import re
import statistics
import time
from contextlib import contextmanager

import numpy as np

_NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.\-]{0,63}$")

# percentile ladder searched for the highest one the sample supports
_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0)


def valid_metric_name(name: str) -> bool:
    """Metric names: start with a letter or digit, at most 64 of
    letters, digits, ``_``, ``.`` and ``-``."""
    return bool(_NAME_RE.match(name))


def percentiles(values) -> dict:
    """Median plus the highest ladder percentile with at least ten
    samples beyond it, with the sample count.

    ``{"n": n, "p50": median, "tail": (pct, value) or None}`` — the tail
    is None below 20 samples (no ladder entry leaves ten beyond it).
    """
    vals = sorted(float(v) for v in values)
    n = len(vals)
    out = {"n": n, "p50": statistics.median(vals) if vals else None, "tail": None}
    for pct in _LADDER:
        if n * (1.0 - pct / 100.0) >= 10.0 - 1e-9:
            # nearest-rank: the value at or below which pct% of samples lie
            k = max(0, min(n - 1, int(np.ceil(pct / 100.0 * n)) - 1))
            out["tail"] = (pct, vals[k])
            break
    return out


def cpu_burn() -> float:
    """Fixed single-thread numpy work; its wall tells a slow host window
    apart from a slow program. Context only: it moves no metric."""
    rng = np.random.default_rng(0)
    x = rng.random(1 << 20)
    t0 = time.perf_counter()
    acc = 0.0
    for _ in range(12):
        acc += float(np.sort(x)[1000])
        x = x[::-1].copy()
    return time.perf_counter() - t0


# --------------------------------------------------------------------------
# spans


class Tracer:
    """In-memory spans: (id, parent, layer, name, op, t0, t1). Written
    out only when the run ends."""

    def __init__(self):
        self.spans: list[list] = []
        self._stack: list[int] = []
        self.op_id: str | None = None
        self.bookkeeping_s = 0.0

    @contextmanager
    def span(self, layer: str, name: str):
        b0 = time.perf_counter()
        sid = len(self.spans)
        rec = [sid, self._stack[-1] if self._stack else None, layer, name,
               self.op_id, 0.0, 0.0]
        self.spans.append(rec)
        self._stack.append(sid)
        rec[5] = time.perf_counter()
        self.bookkeeping_s += rec[5] - b0
        try:
            yield
        finally:
            rec[6] = time.perf_counter()
            self._stack.pop()
            self.bookkeeping_s += time.perf_counter() - rec[6]

    def self_times(self) -> dict[str, float]:
        """Per layer: sum over its spans of duration minus the union of
        the intervals its child spans cover."""
        kids: dict[int, list] = {}
        for s in self.spans:
            if s[1] is not None:
                kids.setdefault(s[1], []).append((s[5], s[6]))
        out: dict[str, float] = {}
        for s in self.spans:
            covered, end = 0.0, None
            for a, b in sorted(kids.get(s[0], ())):
                if end is None or a > end:
                    covered += b - a
                    end = b
                elif b > end:
                    covered += b - end
                    end = b
            out[s[2]] = out.get(s[2], 0.0) + (s[6] - s[5]) - covered
        return out

    def dump(self, path: str) -> None:
        import json

        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(dict(zip(
                    ("id", "parent", "layer", "name", "op", "start", "end"), s
                ))) + "\n")


# public functions spanned per layer; calls between them nest
_SPANNED = {
    "engine": (
        "encode_table", "decode_table", "upsert_rows", "delete_rows",
        "compact_table", "expire_snapshots", "snapshots", "snapshot_parts",
        "part_meta", "prune_parts", "prune_parts_eq", "prune_parts_bloom",
        "prune_parts_nulls", "blocks_stats",
    ),
    "index": ("build_index", "edge_ranges", "csr_offsets", "prefix_sum_exclusive"),
}

_FS_METHODS = ("open_read", "read_bytes", "put_atomic", "append_line",
               "exists", "listdir", "remove", "getsize", "create_exclusive")


def _wrap(tracer: Tracer, layer: str, name: str, fn):
    @functools.wraps(fn)
    def inner(*a, **kw):
        with tracer.span(layer, f"{layer}.{name}"):
            return fn(*a, **kw)
    return inner


@contextmanager
def instrumented(tracer: Tracer, counts: dict):
    """Span every public function in ``_SPANNED`` and count calls (and
    bytes) through the local ``FileSystem`` methods, driver side.
    Everything is restored on exit."""
    from sparkcodec import engine, fs, index

    saved = []
    for mod, names in ((engine, _SPANNED["engine"]), (index, _SPANNED["index"])):
        layer = mod.__name__.rsplit(".", 1)[-1]
        for n in names:
            saved.append((mod, n, getattr(mod, n)))
            setattr(mod, n, _wrap(tracer, layer, n, getattr(mod, n)))
    cls = type(fs.get_fs("/"))
    for n in _FS_METHODS:
        orig = getattr(cls, n)
        saved.append((cls, n, orig))

        def counted(self, *a, _n=n, _orig=orig, **kw):
            r = _orig(self, *a, **kw)
            counts[f"fs.{_n}"] = counts.get(f"fs.{_n}", 0) + 1
            if _n == "read_bytes":
                counts["fs.bytes_read"] = counts.get("fs.bytes_read", 0) + len(r)
            elif _n == "put_atomic":
                counts["fs.bytes_put"] = counts.get("fs.bytes_put", 0) + int(r or 0)
            return r
        setattr(cls, n, counted)
    try:
        yield
    finally:
        for owner, n, orig in reversed(saved):
            setattr(owner, n, orig)


# --------------------------------------------------------------------------
# Spark stage metrics, one job group per op

STAGE_FIELDS = (
    ("tasks", "numTasks", 1.0),
    ("executor_run_s", "executorRunTime", 1e-3),
    ("executor_cpu_s", "executorCpuTime", 1e-9),
    ("gc_s", "jvmGcTime", 1e-3),
    ("shuffle_write_mb", "shuffleWriteBytes", 1e-6),
    ("shuffle_read_mb", "shuffleReadBytes", 1e-6),
)


class StageMeter:
    """Reads per-stage metrics from the status store (works with the UI
    disabled). Each op runs under its own job group; ``collect`` maps the
    group to its jobs and stages and sums their metrics."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()

    def begin(self, group: str) -> None:
        self.sc.setJobGroup(group, group)

    def collect(self, group: str) -> dict:
        st = self.sc.statusTracker()
        jobs = list(st.getJobIdsForGroup(group))
        sids = set()
        for j in jobs:
            info = st.getJobInfo(j)
            if info is not None:
                sids.update(info.stageIds)
        out = {"jobs": float(len(jobs)), "first_stage_tasks": 0.0}
        out.update({k: 0.0 for k, _, _ in STAGE_FIELDS})
        for sid in sorted(sids):
            try:
                sd = self.store.lastStageAttempt(sid)
            except Exception:  # skipped stages never reach the store
                continue
            if not out["first_stage_tasks"]:
                out["first_stage_tasks"] = float(sd.numTasks())
            for key, attr, scale in STAGE_FIELDS:
                out[key] += float(getattr(sd, attr)()) * scale
        return out
