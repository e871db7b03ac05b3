"""`spark.read.format("sparkcodec")` — a PySpark Python DataSource over
the encoded blocks table, with filter pushdown driving the zone maps.

The reader surface (Spark 4.1 Python DataSource API):

* ``schema()`` is the schema recorded at the read snapshot (the tip, or
  the ``snapshot_id`` / ``as_of`` / ``ref`` option), resolved by
  ``engine._resolve_snapshot_meta`` like every other reader and writer.
* ``pushFilters`` turns comparison, IN, prefix and null filters into the
  normalized predicates ``decode_table(where=...)`` takes. Pruning is
  *conservative* (a kept part/block may still hold non-matching rows), so
  every filter is returned to Spark for post-scan re-evaluation — the
  pushdown only reduces I/O, never correctness obligations.
* ``partitions()`` plans the read with ``engine._plan_read`` and ships
  one sub-plan per input partition; ``read()`` decodes it with
  ``_ReadPlan.batches``.

The batch reader, the changefeed and ``decode_table`` are equivalent by
construction: they share one planner (part set, add_column defaults,
field-id ghosts and aliases, part and block pruning) and one part
decoder, and all split a read into ``min(parts, slots)`` tasks of
contiguous parts. There is no task-count option. This surface exists so
plain ``spark.read`` users get predicate pushdown from Catalyst filters
with no engine-specific API. Writes go through ``engine.encode_table``
(clustering + skew fanout need a job-level exchange a per-task writer
cannot express).
"""

from __future__ import annotations

import json
import os

from dataclasses import dataclass

from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    DataSourceReader,
    DataSourceStreamReader,
    EqualTo,
    GreaterThan,
    GreaterThanOrEqual,
    In,
    InputPartition,
    IsNotNull,
    IsNull,
    LessThan,
    LessThanOrEqual,
    StringStartsWith,
    WriterCommitMessage,
)


def _resolve_sid_option(options, out_dir: str) -> int | None:
    """snapshot_id / as_of options -> a concrete snapshot id (None =
    tip). ``as_of`` accepts unix seconds or an ISO-8601 timestamp and
    resolves through engine.snapshot_id_as_of, same as decode_table."""
    sid = int(options["snapshot_id"]) if options.get("snapshot_id") else None
    as_of = options.get("as_of")
    ref = options.get("ref")
    for label, v in (("as_of", as_of), ("ref", ref)):
        if v == "":
            # an empty option silently reading the TIP would defeat the
            # reproducibility these options exist for — fail loudly
            raise ValueError(f"empty {label} option; pass a value or omit it")
    if sum(1 for x in (sid, as_of, ref) if x is not None) > 1:
        raise ValueError("pass at most one of snapshot_id / as_of / ref, not both")
    if as_of:
        from .engine import snapshot_id_as_of

        sid = snapshot_id_as_of(out_dir, as_of)  # ISO-first string coercion
    if ref:
        from .engine import resolve_ref

        sid = resolve_ref(out_dir, ref)
    return sid


def _slots() -> int:
    """Task slots of the session a read runs in: the count decode_table
    splits its plan by. Spark plans a Python data source in a worker the
    JVM starts, where no SparkSession is reachable; there the count comes
    from ``SPARKCODEC_SLOTS``, which ``sparkcodec.session.get_spark``
    exports before it starts the JVM."""
    from pyspark.sql import SparkSession

    s = SparkSession.getActiveSession()
    if s is not None:
        return s.sparkContext.defaultParallelism
    return int(os.environ.get("SPARKCODEC_SLOTS") or os.cpu_count() or 1)


def _pushed_pred(f) -> tuple | None:
    """One Catalyst filter as a normalized predicate (engine
    ``_normalize_where`` forms, plus the ``(col, "isnull" | "notnull")``
    null tests only this reader makes), or None when it cannot prune."""
    if not hasattr(f, "attribute"):
        return None
    col = ".".join(f.attribute)
    val = getattr(f, "value", None)
    if isinstance(f, IsNotNull):
        return (col, "notnull")
    if isinstance(f, IsNull):
        return (col, "isnull")
    if isinstance(f, In):
        vs = [v for v in val if v is not None]
        if vs and all(isinstance(v, type(vs[0])) for v in vs):
            return (col, tuple(vs))
        return None
    if val is None:
        return None
    if isinstance(f, EqualTo):
        return (col, val, val)
    if isinstance(f, (GreaterThan, GreaterThanOrEqual)):
        return (col, val, None)
    if isinstance(f, (LessThan, LessThanOrEqual)):
        return (col, None, val)
    if isinstance(f, StringStartsWith) and isinstance(val, str) and val:
        # every string with this prefix sorts in
        # [prefix, prefix-with-last-char-incremented)
        hi = None
        if ord(val[-1]) < 0x10FFFF:
            hi = val[:-1] + chr(ord(val[-1]) + 1)
        return (col, val, hi)
    return None


class SparkcodecReader(DataSourceReader):
    def __init__(self, options, schema):
        self.out_dir = options.get("path")
        if not self.out_dir:
            raise ValueError("sparkcodec reader requires .load(<blocks dir>)")
        self.snapshot_id = _resolve_sid_option(options, self.out_dir)
        self.columns = [f.name for f in schema.fields]
        self.wheres: list[tuple] = []  # conjunction of pushed filters

    def pushFilters(self, filters):
        for f in filters:
            w = _pushed_pred(f)
            if w is not None:
                self.wheres.append(w)
        # zone maps are conservative: Spark must re-evaluate every filter
        return filters

    def partitions(self):
        # the plan rides the partition values: the reader object is
        # serialized before partitions() runs, so a mutated self
        # attribute would never reach the executors
        from .engine import _plan_read

        plan = _plan_read(
            self.out_dir, self.columns, snapshot_id=self.snapshot_id,
            wheres=self.wheres,
        )
        return [InputPartition(t) for t in plan.tasks(_slots())]

    def read(self, partition):
        yield from partition.value.batches()


class SparkcodecStreamReader(DataSourceStreamReader):
    """Snapshot changefeed: each micro-batch delivers exactly the parts
    committed by snapshots in (start, end] — the streaming twin of
    ``encode_stream``'s one-snapshot-per-batch ingestion. Offsets are
    snapshot ids, so Spark's streaming checkpoint gives replayable,
    never-torn batches (a snapshot commits atomically after every part
    of its run is durable)."""

    def __init__(self, options, schema):
        self.out_dir = options.get("path")
        if not self.out_dir:
            raise ValueError("sparkcodec stream reader requires .load(<blocks dir>)")
        self.columns = [f.name for f in schema.fields]
        # predicate pushdown for changefeed consumers: the streaming API
        # has no pushFilters hook, so predicates ride an option as JSON —
        # .option("where", '[["doc_id",100,200],["lang",["de","fr"]]]')
        # (a CONJUNCTION in decode_table's where forms). Pruning is
        # conservative (zone maps), so compose with .filter for exactness.
        self.wheres = self._parse_where(options.get("where") or "[]")
        # DNF disjunction, same semantics as decode_table(where_any=):
        # JSON list of DISJUNCTS, each a predicate or conjunction —
        # '[[["lang",["de"]]], [["doc_id",0,99]]]' = lang IN ('de')
        # OR doc_id BETWEEN 0 AND 99. An empty disjunct prunes nothing.
        wa = options.get("where_any")
        self.wheres_any = (
            [self._parse_where(d) for d in json.loads(wa)] if wa else None
        )

    @staticmethod
    def _parse_where(spec):
        """JSON -> normalized conjunction through the engine's validator,
        so a scalar where a value LIST is required raises here instead of
        silently pruning wrong (["lang","de"] must not become the chars
        'd','e'). Accepts a pre-parsed list (where_any disjuncts) or a
        JSON string."""
        from .engine import _normalize_where

        if isinstance(spec, str):
            spec = json.loads(spec)
        if spec and isinstance(spec[0], str):
            spec = [spec]  # single bare predicate -> conjunction of one
        return _normalize_where([tuple(p) for p in spec])

    def initialOffset(self):
        return {"snapshot": 0}

    def latestOffset(self):
        from .engine import snapshots

        snaps = snapshots(self.out_dir)
        return {"snapshot": snaps[-1]["id"] if snaps else 0}

    def partitions(self, start, end):
        from .engine import _plan_read, snapshots

        lo, hi = start["snapshot"], end["snapshot"]
        parts = [
            int(p)
            for s in snapshots(self.out_dir)
            # compaction/delete/rollback snapshots rearrange existing rows
            # — replaying their parts would duplicate data already
            # delivered (the changefeed is append-only). Merge entries
            # record which parts carry genuinely new rows under
            # append_parts: deliver those, skip the rewrites.
            if lo < s["id"] <= hi
            and not s.get("compaction")
            and not s.get("delete")
            and not s.get("rollback_of")
            # materialized tagged roots overlap the retained root's rows
            and not s.get("tag_only")
            # branch commits are off-main; their net new rows arrive
            # once, via the fast-forward entry's append_parts
            and not s.get("branch")
            for p in (
                s["append_parts"] if s.get("append_parts") is not None
                else s["new_parts"]
            )
        ]
        plan = _plan_read(
            self.out_dir, self.columns, parts=parts,
            wheres=self.wheres, wheres_any=self.wheres_any,
        )
        return [InputPartition(t) for t in plan.tasks(_slots())]

    def read(self, partition):
        yield from partition.value.batches()

    def commit(self, end):
        pass  # snapshot log is append-only; nothing to clean up


class SparkcodecCDCStreamReader(DataSourceStreamReader):
    """Changefeed in CDC mode (``.option("cdc", "true").option("key",
    <col>)``): instead of replaying appended ROWS, each micro-batch
    delivers change EVENTS ``(key, _op, _snapshot_id, _n)`` for the
    snapshots in (start, end] — including the delete events the
    append-only feed cannot express (takedown / right-to-erasure
    propagation). Deletes are the exact per-key multiset diff of a
    snapshot's removed parts against its rewrite survivors
    (engine._cdc_plan, same semantics as the batch
    ``engine.table_changes``); a merged key shows as delete(preimage) +
    insert(new row). Each task diffs ONE snapshot's changed parts,
    decoding only the key column — memory is bounded by that snapshot's
    distinct changed keys; for bulk historical diffs use the batch API,
    which aggregates via a full shuffle instead."""

    def __init__(self, options, schema):
        self.out_dir = options.get("path")
        if not self.out_dir:
            raise ValueError("sparkcodec stream reader requires .load(<blocks dir>)")
        self.key_col = options.get("key")
        if not self.key_col:
            raise ValueError('cdc mode requires .option("key", "<column>")')
        from .engine import _resolve_snapshot_meta

        # a key column's storage type never changes (retyping is refused)
        self.key_type = _resolve_snapshot_meta(self.out_dir)[0]["schema"][
            self.key_col
        ]

    def initialOffset(self):
        return {"snapshot": 0}

    def latestOffset(self):
        from .engine import snapshots

        snaps = snapshots(self.out_dir)
        return {"snapshot": snaps[-1]["id"] if snaps else 0}

    def partitions(self, start, end):
        from .engine import _cdc_plan, _plan_read, snapshots

        plan = _cdc_plan(snapshots(self.out_dir), start["snapshot"], end["snapshot"])
        if not plan:
            return [InputPartition([])]
        # field-id resolution for the key column rides each plan row
        remap = _plan_read(
            self.out_dir, [self.key_col], parts=[p[1] for p in plan]
        ).remap
        by_sid: dict[int, list] = {}
        for sid, pid, w, ch in plan:
            gh, al = remap.get(int(pid), (frozenset(), {}))
            by_sid.setdefault(sid, []).append((sid, pid, w, ch, gh, al))
        return [InputPartition(rows) for _sid, rows in sorted(by_sid.items())]

    def read(self, partition):
        import numpy as np
        import pyarrow as pa
        import pyarrow.compute as pc

        from .engine import _DECODE_ARROW_OF, _part_key_counts

        if not partition.value:
            return
        key_arrow = _DECODE_ARROW_OF[self.key_type]
        key_schema = pa.schema([(self.key_col, key_arrow)])
        out_schema = pa.schema([
            (self.key_col, key_arrow), ("_op", pa.string()),
            ("_snapshot_id", pa.int64()), ("_n", pa.int64()),
        ])
        sid = partition.value[0][0]
        # per-part vectorized value_counts, then one Arrow group-by sum
        # per channel — no per-row Python anywhere on the key path
        per_ch: dict[str, list] = {"insert": [], "delete": []}
        for _sid, pid, w, ch, gh, al in partition.value:
            res = _part_key_counts(
                self.out_dir, self.key_col, key_schema, pid, gh, al
            )
            if res is None:
                continue
            values, counts = res
            per_ch[ch].append(pa.table({
                "k": values,
                "n": pc.multiply(counts, pa.scalar(w, pa.int64())),
            }))
        for ch, op in (("insert", "insert"), ("delete", "delete")):
            if not per_ch[ch]:
                continue
            agg = (
                pa.concat_tables(per_ch[ch])
                .group_by("k")
                .aggregate([("n", "sum")])
            )
            keys, n = agg.column("k"), agg.column("n_sum")
            if ch == "delete":
                # multiset diff: only keys with net-positive removal count
                mask = pc.greater(n, 0)
                keys, n = keys.filter(mask), n.filter(mask)
            m = len(keys)
            if m == 0:
                continue
            yield pa.RecordBatch.from_arrays(
                [
                    keys.combine_chunks(),
                    pc.fill_null(pa.nulls(m, pa.string()), op),
                    pa.array(np.full(m, sid, dtype=np.int64)),
                    n.combine_chunks(),
                ],
                schema=out_schema,
            )

    def commit(self, end):
        pass  # snapshot log is append-only; nothing to clean up


@dataclass
class _PartCommit(WriterCommitMessage):
    part_id: int
    n_rows: int
    raw_bytes: int
    enc_bytes: int


class SparkcodecWriter(DataSourceArrowWriter):
    """``df.write.format("sparkcodec").mode("append")`` — the plain-Spark
    write path for *pre-grouped* data: each task encodes its input
    partition as one part (the engine's aligned layout, no exchange),
    and the driver commits one snapshot only after every task's parts
    are durable. Clustering/salting/skew-fanout need a job-level
    exchange a per-task writer cannot express — use
    ``engine.encode_table`` for those. The single-writer lease is held
    from planning to commit, so part ids come from one driver-side base
    and the entry commits under the lease like every other write."""

    def __init__(self, options, schema, overwrite):
        if overwrite:
            raise ValueError(
                "sparkcodec supports mode('append'); for a fresh table use "
                "encode_table(resume=False) or a new path"
            )
        self.out_dir = options.get("path")
        if not self.out_dir:
            raise ValueError("sparkcodec writer requires .save(<blocks dir>)")
        self.block_rows = int(options.get("block_rows", 65536))
        self.block_bytes = int(options.get("block_bytes", 32 << 20))
        from pyspark.sql.pandas.types import to_arrow_schema

        from .codecs import type_name
        from .engine import (
            _acquire_writer_lock,
            _exists,
            _j,
            _new_table_state,
            _next_part_base,
            _release_writer_lock,
            _resolve_snapshot_meta,
            evolve_schema,
        )

        arrow = to_arrow_schema(schema)
        self.columns = [f.name for f in arrow]
        self.type_names = {f.name: type_name(f.type) for f in arrow}
        # single-writer lease held from planning (driver-side __init__)
        # through commit()/abort(): part ids are assigned from a
        # driver-side base, so a concurrent exclusive writer would collide
        self._lock_owner = _acquire_writer_lock(self.out_dir, "ds-write")
        try:
            # field-id identity: tasks stamp each part's {col: id} into
            # its checkpoint lineage, so the schema state this append
            # commits is resolved up front — evolved from the tip's, the
            # same rule as encode_table, or a new table's
            self.state = _new_table_state(self.columns, self.type_names)
            if _exists(_j(self.out_dir, "_table_meta.json")):
                self.state = evolve_schema(
                    _resolve_snapshot_meta(self.out_dir)[0],
                    self.type_names, self.columns,
                )
            self.base = _next_part_base(self.out_dir)
        except BaseException:
            _release_writer_lock(self.out_dir, self._lock_owner)
            raise

    def write(self, iterator):
        from pyspark import TaskContext

        from .engine import _encode_one_part

        batches = [b for b in iterator if b.num_rows]
        pid = self.base + TaskContext.get().partitionId()
        if not batches:
            return _PartCommit(-1, 0, 0, 0)
        r = _encode_one_part(
            pid, batches, self.columns, self.out_dir,
            self.block_rows, self.block_bytes, set(), {},
            field_ids=self.state["field_ids"],
        )
        return _PartCommit(pid, r["n_rows"], r["raw_bytes"], r["enc_bytes"])

    def commit(self, messages):
        from .engine import (
            _append_entry,
            _atomic_write_json,
            _commit_snapshot_entry,
            _exists,
            _j,
            _release_writer_lock,
        )

        try:
            parts = sorted(m.part_id for m in messages if m and m.part_id >= 0)
            meta_path = _j(self.out_dir, "_table_meta.json")
            if not _exists(meta_path):
                _atomic_write_json(meta_path, {
                    "schema": self.state["schema"],
                    "columns": self.columns,
                    "num_parts": -1,
                    "layout": "aligned",
                    "cluster_by": None,
                    "salt_by": None,
                    "sort_by": [],
                    "block_rows": self.block_rows,
                    "target_part_rows": None,
                    "field_metadata": {},
                    "field_ids": self.state["field_ids"],
                    "next_field_id": self.state["next_field_id"],
                    "engine_version": "0.1.0",
                })
            _commit_snapshot_entry(
                self.out_dir,
                _append_entry(
                    self.state, parts,
                    sum(m.n_rows for m in messages if m),
                    sum(m.enc_bytes for m in messages if m), "aligned",
                ),
                append=True,
            )
        finally:
            _release_writer_lock(self.out_dir, self._lock_owner)

    def abort(self, messages):
        # written parts are invisible without a snapshot commit (readers
        # resolve the snapshot log); leave them for a later resume/retry
        from .engine import _release_writer_lock

        _release_writer_lock(self.out_dir, self._lock_owner)


class SparkcodecDataSource(DataSource):
    """Register once per session:
    ``spark.dataSource.register(SparkcodecDataSource)`` then
    ``spark.read.format("sparkcodec").load(out_dir)`` for batch,
    ``spark.readStream.format("sparkcodec").load(out_dir)`` to tail
    committed snapshots, or ``df.write.format("sparkcodec")
    .mode("append").save(out_dir)`` for exchange-free appends.
    Reading requires ``spark.sql.python.filterPushdown.enabled=true``
    (on by default in ``sparkcodec.session.get_spark``) because the
    reader implements filter pushdown.

    Every reader here plans and decodes exactly as ``decode_table`` does
    (``engine._plan_read``), so the same snapshot, predicates and columns
    give the same parts and rows through either surface. A read runs
    ``min(parts, slots)`` tasks, where slots is the session's
    ``defaultParallelism``; no option changes that.

    Column pruning: the Python DataSource API pushes filters but not
    projections, so a bare ``.load(dir).select("lang")`` still decodes
    every column. Pass ``.option("columns", "lang,doc_id")`` to restrict
    the scan — only the named columns' block files are opened (file-level
    pruning, same as ``decode_table(columns=...)``). The option applies
    to BOTH the batch reader and the streaming changefeed (the restricted
    schema flows into the stream reader's decode).

    Time travel: ``.option("snapshot_id", 3)`` by id, or
    ``.option("as_of", "2026-08-17T12:00:00")`` (ISO-8601 or unix
    seconds) for the latest snapshot committed at or before that time.

    Changefeed predicates: the streaming API has no pushFilters hook,
    so ``spark.readStream`` accepts ``.option("where",
    '[["doc_id",100,200],["lang",["de"]]]')`` — a JSON conjunction in
    ``decode_table``'s where forms — and ``.option("where_any",
    '[[["lang",["de"]]],[["doc_id",0,99]]]')``, a DNF disjunction of
    such conjunctions (matching ``decode_table(where_any=...)``: each
    disjunct prunes independently, survivors union, and the result
    intersects ``where``). Parts and blocks outside every predicate are
    never decoded (zone maps + value sets + blooms); pruning is
    conservative, so compose with ``.filter`` for exactness.

    CDC: ``spark.readStream ... .option("cdc", "true").option("key",
    "doc_id")`` switches the changefeed from replaying appended rows to
    delivering change EVENTS ``(key, _op, _snapshot_id, _n)`` including
    DELETE events (see :class:`SparkcodecCDCStreamReader`); the batch
    twin is ``engine.table_changes``.
    """

    @classmethod
    def name(cls):
        return "sparkcodec"

    def schema(self):
        from .engine import _SPARK_TYPE_OF, _resolve_snapshot_meta

        if (self.options.get("cdc") or "").lower() == "true":
            # CDC change-event schema: key + op/snapshot/count metadata
            key = self.options.get("key")
            if not key:
                raise ValueError('cdc mode requires .option("key", "<column>")')
            meta = _resolve_snapshot_meta(self.options.get("path"))[0]
            if key not in meta["schema"]:
                raise ValueError(
                    f"cdc key {key!r} not in table columns {meta['columns']}"
                )
            return (
                f"`{key}` {_SPARK_TYPE_OF[meta['schema'][key]]}, "
                f"`_op` string, `_snapshot_id` long, `_n` long"
            )
        # Spark may call schema() repeatedly while planning one read:
        # compute the snapshot-schema overlay (one log read) once per
        # DataSource instance
        cached = getattr(self, "_schema_cache", None)
        if cached is not None:
            meta, cols = cached
        else:
            path = self.options.get("path")
            # schema as recorded at the resolved snapshot (explicit
            # snapshot_id option, else the tip): matches decode_table — a
            # rollback across an add-column evolution narrows the DS read
            # schema back too
            meta = _resolve_snapshot_meta(
                path, _resolve_sid_option(self.options, path)
            )[0]
            cols = meta["columns"]
            self._schema_cache = (meta, cols)
        sel = self.options.get("columns")
        if sel:
            want = [c.strip() for c in sel.split(",") if c.strip()]
            unknown = sorted(set(want) - set(cols))
            if unknown:
                raise ValueError(
                    f"columns option names unknown columns {unknown}; "
                    f"table has {cols}"
                )
            cols = [c for c in cols if c in want]  # keep table order
        return ", ".join(f"`{c}` {_SPARK_TYPE_OF[meta['schema'][c]]}" for c in cols)

    def reader(self, schema):
        return SparkcodecReader(self.options, schema)

    def streamReader(self, schema):
        if (self.options.get("cdc") or "").lower() == "true":
            return SparkcodecCDCStreamReader(self.options, schema)
        return SparkcodecStreamReader(self.options, schema)

    def writer(self, schema, overwrite):
        return SparkcodecWriter(self.options, schema, overwrite)
