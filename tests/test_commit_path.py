"""One writer, one live set.

A table's rows are those its committed snapshots reach: parts on disk
that no committed entry names are never read, whatever wrote them. Every
commit goes through ``_commit_snapshot_entry`` while the writer holds the
single-writer lease. The fault-injection test below drives that one
commit path through a filesystem that fails at each of its mutating
calls in turn.
"""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from sparkcodec import engine
from sparkcodec.datasource import SparkcodecDataSource
from sparkcodec.engine import (
    ConcurrentWriterError,
    compact_table,
    completed_parts,
    decode_table,
    delete_rows,
    encode_table,
    expire_snapshots,
    optimize_table,
    snapshot_parts,
    snapshots,
    upsert_rows,
    vacuum_orphans,
)


def _df(spark, lo, n):
    return spark.range(lo, lo + n).select(
        F.col("id"), (F.col("id") % 3).alias("g"), (F.col("id") * 2).alias("v"),
    )


def _encode(spark, df, out, **kw):
    return encode_table(spark, df, out, cluster_by=["id"], **kw)


def _rows(spark, out):
    return sorted(tuple(r) for r in decode_table(spark, out).collect())


def test_uncommitted_create_reads_empty(spark, tmp_path):
    """``commit=False`` on a new path writes parts but commits no
    snapshot: every reader sees an empty table. A plain rerun of the
    create resumes those parts and commits them."""
    out = str(tmp_path / "t")
    df = _df(spark, 0, 400)
    _encode(spark, df, out, num_parts=4, resume=False, commit=False)
    assert len(completed_parts(out)) == 4
    assert decode_table(spark, out).count() == 0
    assert snapshots(out) == [] and snapshot_parts(out) == []
    spark.dataSource.register(SparkcodecDataSource)
    assert spark.read.format("sparkcodec").load(out).count() == 0
    rep = _encode(spark, df, out, num_parts=4)
    assert rep["parts_skipped"] == 4 and len(snapshots(out)) == 1
    assert decode_table(spark, out).count() == 400
    assert spark.read.format("sparkcodec").load(out).count() == 400


def test_uncommitted_fresh_reencode_reads_empty(spark, tmp_path):
    """An uncommitted ``resume=False`` re-encode erases the committed
    table and commits nothing, so the table reads empty — not the rows
    that were never committed."""
    out = str(tmp_path / "t")
    _encode(spark, _df(spark, 0, 400), out, num_parts=4, resume=False)
    assert decode_table(spark, out).count() == 400
    _encode(spark, _df(spark, 0, 50), out, num_parts=1, resume=False,
            commit=False)
    assert snapshots(out) == []
    assert decode_table(spark, out).count() == 0


def test_append_onto_uncommitted_table_commits_only_its_parts(spark, tmp_path):
    out = str(tmp_path / "t")
    _encode(spark, _df(spark, 0, 400), out, num_parts=4, resume=False,
            commit=False)
    rep = _encode(spark, _df(spark, 400, 60), out, num_parts=2, append=True)
    assert snapshot_parts(out) == [4, 5]
    assert len(snapshots(out)) == 1 and rep["snapshot_id"] == 1
    assert [r[0] for r in _rows(spark, out)] == list(range(400, 460))


def test_vacuum_spares_a_table_with_no_committed_snapshot(spark, tmp_path):
    out = str(tmp_path / "t")
    df = _df(spark, 0, 400)
    _encode(spark, df, out, num_parts=4, resume=False, commit=False)
    files = sorted(os.walk(out))
    assert vacuum_orphans(out) == {"files_deleted": 0, "parts_vacuumed": 0}
    assert sorted(os.walk(out)) == files
    _encode(spark, df, out, num_parts=4)
    assert decode_table(spark, out).count() == 400


@pytest.mark.parametrize("where, sql", [
    (("x", 5.0, None), "x >= 5"),
    (("x", None, 5.0), "x <= 5"),
])
def test_delete_ranks_nan_like_reads(spark, tmp_path, where, sql):
    """``delete_rows`` deletes exactly the rows a Spark filter selects:
    NaN sorts above every number (Spark SQL's order)."""
    out = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(0, 1.0), (1, float("nan")), (2, 7.0)], "id long, x double"
    )
    encode_table(spark, df, out, num_parts=1, resume=False)
    hit = sorted(r.id for r in decode_table(spark, out).filter(sql).collect())
    delete_rows(spark, out, where)
    left = sorted(r.id for r in decode_table(spark, out).collect())
    assert sorted(set(range(3)) - set(left)) == hit
    if where[1] is not None:
        assert left == [0]  # the pinned case: ids 1 (NaN) and 2 go


# ---------------------------------------------------------------------------
# fault injection on the one commit path


class _Fault(RuntimeError):
    pass


class _FaultFS:
    """A filesystem that raises at its k-th mutating call (``put_atomic``,
    ``append_line``, ``create_exclusive`` or ``remove``) on any path but
    the writer lock. With ``after=True`` the k-th call lands first and
    then raises, as a crash right after a durable write would. Snapshot
    log writes (its objects, and the removal of a legacy one-file log)
    must run while the lock file exists."""

    OPS = ("put_atomic", "append_line", "create_exclusive", "remove")

    def __init__(self, inner, k: int, after: bool = False):
        self.inner, self.k, self.after, self.n = inner, k, after, 0

    def __getattr__(self, name):
        fn = getattr(self.inner, name)
        if name not in self.OPS:
            return fn

        def op(path, *args, **kw):
            if path.endswith("_writer.lock"):
                return fn(path, *args, **kw)
            for log in ("/_snapshots.jsonl", "/_snapshots.d/"):
                if log in path:
                    lock = path.split(log)[0] + "/_writer.lock"
                    assert self.inner.exists(lock), f"{path} outside the lease"
            self.n += 1
            if self.n == self.k and not self.after:
                raise _Fault(f"{name} #{self.k} {path}")
            out = fn(path, *args, **kw)
            if self.n == self.k:
                raise _Fault(f"{name} #{self.k} (after) {path}")
            return out

        return op


_OPS = {
    "append": lambda spark, out: _encode(
        spark, _df(spark, 1000, 90), out, num_parts=2, append=True
    ),
    "delete": lambda spark, out: delete_rows(spark, out, ("id", 100, 250)),
    "compact": lambda spark, out: compact_table(
        spark, out, target_part_rows=10_000
    ),
    # keys 480-529: 20 replace stored rows, 30 are new
    "upsert": lambda spark, out: upsert_rows(
        spark, _df(spark, 480, 50).withColumn("v", -F.col("id")), out, "id",
        cluster_by=["id"], num_parts=1,
    ),
    "optimize": lambda spark, out: optimize_table(
        spark, out, zorder_by=["g", "v"], num_parts=2
    ),
    "expire": lambda spark, out: expire_snapshots(out, keep_last=1),
    # on a new path
    "create": lambda spark, out: _encode(
        spark, _df(spark, 2000, 120), out, num_parts=2
    ),
    # resume=False over the existing table: erases it, then creates
    "recreate": lambda spark, out: _encode(
        spark, _df(spark, 2000, 120), out, num_parts=2, resume=False
    ),
}


def _on_disk_parts(out):
    blocks = os.path.join(out, "blocks")
    return {
        int(f[len("part_"):-len(".parquet")])
        for d in os.listdir(blocks)
        for f in os.listdir(os.path.join(blocks, d))
        if f.startswith("part_") and f.endswith(".parquet")
    }


@pytest.mark.parametrize("scheme", ["", "mock://"])
@pytest.mark.parametrize("op", sorted(_OPS))
def test_fault_at_every_commit_step_recovers(
    spark, tmp_path, monkeypatch, op, scheme
):
    """For each mutating filesystem call the driver makes during ``op``
    (counted on a clean run), fail before it and right after it. Then a
    read shows the prior snapshot's rows or the clean run's (a create or
    re-create may also leave a table with no committed snapshot, which
    reads empty, and a create may leave no table at all); rerunning the
    op takes the lease, reaches the clean run's rows and snapshot count;
    and
    ``vacuum_orphans`` leaves only the part files and manifests the log
    names. A fault right after the last call leaves a finished op (an
    append rerun would append again), so only vacuum follows it. Python
    workers are separate processes, so only the driver's steps fail;
    the data-source writer commits in such a worker, which is why it is
    not among the ops. Local paths and the object-store protocol
    (``mock://``) run the same calls: every table file is written
    through the filesystem."""
    tmpl = scheme + str(tmp_path / "tmpl")
    _encode(spark, _df(spark, 0, 400), tmpl, num_parts=4, resume=False)
    _encode(spark, _df(spark, 400, 100), tmpl, num_parts=2, append=True)
    real = engine._get_fs(tmpl)
    on_new_path = op == "create"

    def state(out):
        try:
            return _rows(spark, out), snapshot_parts(out)
        except FileNotFoundError:
            return None  # no table at ``out``

    allowed = [state(scheme + str(tmp_path / "none") if on_new_path else tmpl)]
    if op in ("create", "recreate"):
        # a table with no committed snapshot yet (for a re-create, the
        # old log is superseded) reads empty
        allowed.append(([], []))

    def start(name):
        local = tmp_path / name
        if not on_new_path:
            shutil.copytree(tmp_path / "tmpl", local)
        return local, scheme + str(local)

    def run(out, fs):
        monkeypatch.setattr(engine, "_get_fs", lambda path: fs)
        try:
            _OPS[op](spark, out)
        finally:
            monkeypatch.setattr(engine, "_get_fs", lambda path: real)

    _, clean_out = start("clean")
    counter = _FaultFS(real, k=0)
    run(clean_out, counter)
    clean, n_snaps = _rows(spark, clean_out), len(snapshots(clean_out))
    allowed.append(state(clean_out))
    assert counter.n >= 1
    assert n_snaps == (
        1 if op in ("create", "recreate", "expire")
        else len(snapshots(tmpl)) + 1
    )
    for k in range(1, counter.n + 1):
        for after in (False, True):
            case = f"k={k}{' after' if after else ''}"
            local, out = start(f"k{k}{'a' if after else 'b'}")
            with pytest.raises(_Fault):
                run(out, _FaultFS(real, k, after))
            assert state(out) in allowed, case
            try:
                if not (after and k == counter.n):
                    _OPS[op](spark, out)
                vacuum_orphans(out)
            except ConcurrentWriterError:  # pragma: no cover - the bug
                pytest.fail(f"{case}: the faulted op left the lease held")
            assert _rows(spark, out) == clean, case
            assert len(snapshots(out)) == n_snaps, case
            named = {p for s in snapshots(out) for p in s["new_parts"]}
            assert _on_disk_parts(local) == named, case
            assert set(os.listdir(local / "_manifests")) == {
                s["manifest"] for s in snapshots(out) if s.get("manifest")
            }, case
