"""encode_table / decode_table — the Spark jobs at the heart of the engine.

Physical layout of an encoded table at ``out_dir``:

    _table_meta.json                     # layout config; create-time schema
    _snapshots.d/<seq>.json              # snapshot log, one object per
                                         # entry: parts + schema state
    _manifests/m-<id>.parquet            # per-entry pruning metadata
    blocks/col=<column>/part_<id>.parquet   # one blocks file per (column, part)
    blocks/col=_checkpoint/part_<id>.parquet# lineage row, written LAST per part

Each blocks file holds rows ``(col, part_id, block_id, codec, n_rows,
raw_bytes, enc_bytes, meta json, payload binary)``. This is the Spark
translation of the reference's one-HDF5-dataset-per-column layout
(src/circuit/sonata_file.cpp:45-65) with block addressing replacing the
MPI global-offset choreography (src/parquet2hdf5.cpp:97-110): blocks are
independent, so no collective "create datasets up front" step exists and
an atomic per-part rename + checkpoint-last protocol replaces it.

Scale design:
- logical partition = hash(cluster_key) ⊕ salt, where giant cluster keys
  (e.g. one repo with 30% of rows) get a per-key salt fan-out derived
  from a cheap count aggregation — explicit skew defusal (north rule);
- rows are sorted within partitions by the cluster/sort key so dict/RLE
  see runs (the reference gets this for free from its per-neuron input
  order, src/touches/touch_reader.cpp:79-145);
- the encode kernel is one ``mapInArrow`` pass: payloads never transit a
  shuffle or the driver — each task writes its parts' block files
  directly and emits only tiny summary rows;
- every reader plans through ``_plan_read`` and decodes through
  ``_ReadPlan.batches``: one task per slot, each a contiguous run of
  parts; a task reads only the requested columns' files (no shuffle)
  and emits Arrow batches block-group by block-group;
- resume = skip parts whose checkpoint file exists (per-partition
  checkpoints with lineage, north rule).
"""

from __future__ import annotations

import dataclasses
import io
import json
import os
import re
import time
import uuid

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .codecs import decode_array, encode_array
from .codecs.api import type_name
from .fs import get_fs as _get_fs
from .fs import join as _j
from .select import choose_codec

PART_COL = "__sc_part"
FILE_COL = "__sc_file"
ZV_COL = "__sc_zv"
ZB_COL = "__sc_zb"
CHECKPOINT_COL = "_checkpoint"
ZORDER_BITS = 16  # bucket resolution per z-order dimension
# string z-order dims: exact rank dictionary up to this many distincts
# (broadcast-join sized — 64k strings is a few MB), byte-prefix proxy above
ZORDER_STRING_DICT_CAP = 65536

BLOCKS_ARROW_SCHEMA = pa.schema(
    [
        ("col", pa.string()),
        ("part_id", pa.int32()),
        ("block_id", pa.int32()),
        ("codec", pa.string()),
        ("n_rows", pa.int64()),
        ("raw_bytes", pa.int64()),
        ("enc_bytes", pa.int64()),
        ("meta", pa.string()),
        ("payload", pa.large_binary()),
    ]
)

SUMMARY_SPARK_SCHEMA = (
    "part_id int, n_rows long, n_blocks int, raw_bytes long, enc_bytes long, "
    "wall_ms double, lineage string"
)


# ---------------------------------------------------------------------------
# partition assignment (skew-aware, deterministic)


def assign_partitions(
    df: DataFrame,
    num_parts: int,
    cluster_by: list[str] | None,
    salt_by: list[str] | None,
    target_part_rows: int,
) -> DataFrame:
    """Add PART_COL: a deterministic, skew-defused logical partition id.

    part = pmod(xxhash64(cluster_key) * PRIME + salt, P) with
    salt = pmod(xxhash64(salt_key), fanout(cluster_key)) and
    fanout = ceil(count(cluster_key) / target_part_rows) from a cheap
    pre-aggregation (broadcast-joined). Small cluster keys stay fully
    co-located (runs for dict/RLE); giant ones spread over exactly the
    number of parts their row count requires.
    """
    cols = [c for c in df.columns if c not in (PART_COL, FILE_COL)]
    if not cluster_by or not all(c in cols for c in cluster_by):
        key = [F.col(c) for c in (salt_by or cols) if c in cols] or [F.lit(0)]
        return df.withColumn(PART_COL, F.pmod(F.xxhash64(*key), F.lit(num_parts)).cast("int"))
    salt_cols = [c for c in (salt_by or []) if c in cols] or [c for c in cols if c not in cluster_by]
    salt_exprs = [F.col(c) for c in salt_cols] or [F.lit(0)]
    # no non-key column to salt by (every column IS the cluster key):
    # fanout degenerates to 1 effective part per key — correct, just no
    # skew spread, which is unattainable without a distinguishing column
    counts = df.groupBy(*cluster_by).agg(F.count(F.lit(1)).alias("__cnt"))
    fanout = counts.withColumn(
        "__fanout", F.greatest(F.lit(1), F.ceil(F.col("__cnt") / F.lit(target_part_rows))).cast("long")
    ).drop("__cnt")
    joined = df.join(F.broadcast(fanout), on=cluster_by, how="left")
    salt = F.pmod(F.xxhash64(*salt_exprs), F.col("__fanout"))
    # hash(cluster_key, salt): same key+salt -> same part; a key with
    # fanout f spreads over exactly f distinct parts (overflow-safe under
    # ANSI mode, unlike hash*prime+salt arithmetic)
    part = F.pmod(
        F.xxhash64(*[F.col(c) for c in cluster_by], salt), F.lit(num_parts)
    ).cast("int")
    return joined.withColumn(PART_COL, part).drop("__fanout")


def _str_prefix_proxy(s: str, lcp: int) -> int:
    """Monotone numeric proxy of a string: the first 7 UTF-8 bytes after
    the table-wide common prefix, big-endian, zero-padded. Must mirror
    the Catalyst expression in _zorder_prep exactly (hex/substr/rpad):
    UTF-8 byte order equals code-point order, so the proxy preserves
    Spark's string ordering."""
    b = s[lcp : lcp + 7].encode("utf-8")[:7]
    return int.from_bytes(b.ljust(7, b"\0"), "big")


def _zorder_prep(df: DataFrame, zcols: list[str]):
    """Interleaved-bit z-value over numeric/string columns (Morton order).

    Each column is normalized into a per-dimension bucket of
    ``min(ZORDER_BITS, 63 // k)`` bits — scaled down with the dimension
    count (the Delta OPTIMIZE ZORDER posture) so the interleaved value
    always fits the 63 non-sign bits of a long: at 16 bits a 4th
    dimension would set the sign bit and a 5th would wrap shift counts
    mod 64, silently destroying the clustering. Bits interleave into one
    long — rows close in EVERY dimension get close z-values, so sorting
    by it gives every dimension's zone maps locality at once: a
    conjunctive predicate on k dimensions prunes blocks on all k, where
    a lexicographic sort only serves the leading column. The classic
    multi-dimensional clustering trade (Morton 1966): each dimension's
    individual runs get coarser, so single-column pruning and RLE/dict
    run locality are somewhat weaker than a dedicated single-key sort.

    Numeric dims min-max normalize. String dims bucket monotonically in
    Spark's (byte-order) string comparison, two regimes:

    * ``<= ZORDER_STRING_DICT_CAP`` distincts — exact rank dictionary:
      one bounded distinct scan, ranks scaled onto the bucket range,
      applied as a broadcast-joined mapping (the idiomatic small-dim
      join; zero skew because the build side is tiny and sorted).
    * above the cap — byte-prefix proxy: strip the longest common
      prefix (computed from min/max — every value between them shares
      it), then treat the next 7 UTF-8 bytes as a big-endian integer
      and min-max normalize like a numeric. Pure Catalyst
      (substr/hex/conv), monotone, data-independent per row.

    Either way the bucket is monotone in the string, so the z-sort gives
    the string column block/part locality and its ordinary [min, max]
    zone maps prune — no new pruning machinery.

    Pure Catalyst in the row path (shift/and/or fold, ~bits*k codegen'd
    ops); NULLs bucket to 0. One agg job computes bounds, cardinality
    AND the row count (the caller reuses it for num_parts sizing — no
    extra input scan); each dictionary dim adds one bounded distinct
    scan. Returns (prep_fn, {col: [min, max]}, bits_per_dim, n_rows);
    ``prep_fn(src)`` attaches ZV_COL (joining any rank dictionaries and
    dropping its helper columns)."""
    from pyspark.sql import types as T

    numeric = (
        T.ByteType, T.ShortType, T.IntegerType, T.LongType,
        T.FloatType, T.DoubleType, T.DecimalType,
    )
    schema = {f.name: f.dataType for f in df.schema.fields}
    str_dims = set()
    for c in zcols:
        if c not in schema:
            raise ValueError(f"zorder_by column {c!r} not in {list(schema)}")
        if isinstance(schema[c], T.StringType):
            str_dims.add(c)
        elif not isinstance(schema[c], numeric):
            raise ValueError(
                f"zorder_by supports numeric and string columns; {c} is "
                f"{schema[c]} (cast dates/timestamps to long first)"
            )
    k = len(zcols)
    bits = min(ZORDER_BITS, 63 // k)
    aggs = [F.count(F.lit(1)).alias("__n")]
    for c in zcols:
        if c in str_dims:
            aggs += [
                F.min(F.col(c)).alias(f"__mn_{c}"),
                F.max(F.col(c)).alias(f"__mx_{c}"),
                F.approx_count_distinct(c).alias(f"__cd_{c}"),
            ]
        else:
            cc = F.col(c).cast("double")
            aggs += [F.min(cc).alias(f"__mn_{c}"), F.max(cc).alias(f"__mx_{c}")]
    row = df.agg(*aggs).first()
    maxb = (1 << bits) - 1
    bounds = {}
    buckets: dict[str, object] = {}  # col -> Column in [0, maxb]
    dict_maps: list[tuple[str, list]] = []  # (col, [(value, bucket), ...])
    for c in zcols:
        mn, mx = row[f"__mn_{c}"], row[f"__mx_{c}"]
        bounds[c] = [mn, mx]
        if mn is None:
            buckets[c] = F.lit(0).cast("long")
        elif c in str_dims:
            vals = None
            if int(row[f"__cd_{c}"]) <= ZORDER_STRING_DICT_CAP:
                # approx estimate says dictionary-sized: fetch the exact
                # set, bounded — if the estimate lied, fall to the proxy
                vals = [
                    r[0]
                    for r in df.select(c).na.drop().distinct()
                    .limit(ZORDER_STRING_DICT_CAP + 1).collect()
                ]
                if len(vals) > ZORDER_STRING_DICT_CAP:
                    vals = None
            if vals is not None:
                # Python str sort == Spark UTF8 byte order (UTF-8 bytes
                # sort like code points), so ranks agree across engines
                vals.sort()
                n = len(vals) or 1
                dict_maps.append(
                    (c, [(v, i * (maxb + 1) // n) for i, v in enumerate(vals)])
                )
                buckets[c] = F.coalesce(F.col(f"__zb_{c}"), F.lit(0)).cast("long")
            else:
                lcp = 0
                for x, y in zip(mn, mx):
                    if x != y:
                        break
                    lcp += 1
                pmn = _str_prefix_proxy(mn, lcp)
                span = float(_str_prefix_proxy(mx, lcp) - pmn) or 1.0
                # first 7 UTF-8 bytes after the common prefix as a
                # big-endian long (14 hex digits keeps it under 2^56):
                # monotone in the string, NULL-propagating
                hx = F.rpad(
                    F.substring(
                        F.hex(F.encode(F.substring(F.col(c), lcp + 1, 7), "UTF-8")),
                        1, 14,
                    ),
                    14, "0",
                )
                frac = (F.conv(hx, 16, 10).cast("long") - F.lit(pmn)).cast(
                    "double"
                ) / F.lit(span)
                buckets[c] = F.coalesce(
                    F.least(F.lit(maxb), F.greatest(F.lit(0), (frac * maxb).cast("long"))),
                    F.lit(0),
                )
        else:
            span = (mx - mn) or 1.0
            frac = (F.col(c).cast("double") - F.lit(float(mn))) / F.lit(float(span))
            buckets[c] = F.coalesce(
                F.least(
                    F.lit(maxb),
                    F.greatest(F.lit(0), (frac * maxb).cast("long")),
                ),
                F.lit(0),
            )
    expr = F.lit(0).cast("long")
    for j, c in enumerate(zcols):
        for i in range(bits):
            bit = F.shiftright(buckets[c], i).bitwiseAND(F.lit(1))
            expr = expr.bitwiseOR(F.shiftleft(bit, i * k + j))

    def prep(src: DataFrame) -> DataFrame:
        spark = src.sparkSession
        helper = []
        for c, mapping in dict_maps:
            map_df = spark.createDataFrame(
                mapping, f"`__zk_{c}` string, `__zb_{c}` long"
            )
            src = src.join(
                F.broadcast(map_df), F.col(c) == F.col(f"__zk_{c}"), "left"
            ).drop(f"__zk_{c}")
            helper.append(f"__zb_{c}")
        return src.withColumn(ZV_COL, expr).drop(*helper)

    return prep, bounds, bits, int(row["__n"])


# ---------------------------------------------------------------------------
# encode


def _part_file(out_dir: str, col: str, part_id: int) -> str:
    return _j(out_dir, "blocks", f"col={col}", f"part_{part_id:06d}.parquet")


def _exists(path: str) -> bool:
    return _get_fs(path).exists(path)


def _read_json(path: str):
    return json.loads(_get_fs(path).read_bytes(path))


SNAPDIR = "_snapshots.d"  # the snapshot log: one object per entry
# the one-file log of older engines: still read as the log's prefix
LEGACY_SNAPLOG = "_snapshots.jsonl"
# log dir -> ((name, bytes) of its lowest-seq object, {name: entries}):
# log objects are write-once, so each is parsed once (see snapshots())
_SNAP_OBJ_CACHE: dict[str, tuple] = {}


def _snapdir_objects(fs, d: str) -> list[tuple[int, str]]:
    """(seq, name) of snapshot-log objects under ``d``, ordered by seq."""
    out = []
    for name in fs.listdir(d):
        stem = name.split(".", 1)[0]
        if name.endswith(".json") and stem.isdigit():
            out.append((int(stem), name))
    return sorted(out)


def _snapshot_log_append(out_dir: str, entry: dict) -> None:
    """Commit one snapshot entry — THE atomic publish point.

    Each entry is its own object ``_snapshots.d/<seq>.json``, published
    with a CONDITIONAL PUT (``fs.create_exclusive``: link(2) locally,
    If-None-Match on object stores) — one protocol on every filesystem,
    as Delta Lake's put-if-absent commit. Object stores have no atomic
    append, and read-modify-PUT of a whole log is O(n^2) bytes and can
    tear on a crash. A sequence collision (a crashed commit's leftover,
    a stale lease's former holder) just advances seq and re-PUTs. Every
    log object — entry or squash — claims the SAME name for a given
    seq, so exactly one writer wins each seq: squash-ness rides INSIDE
    the object (a ``{"_squash": 1}`` sentinel first line) rather than in
    a different filename, which would let an entry and a squash land at
    one seq and silently erase the entry. Readers merge the ordered
    objects; a squash object REPLACES everything before it (how
    ``_squash_log`` rewrites history without an atomic multi-delete);
    the legacy ``<seq>.squash.json`` suffix from earlier layouts is
    still honored on read."""
    data = (json.dumps(entry, separators=(",", ":")) + "\n").encode()
    _snapdir_put(_get_fs(out_dir), _j(out_dir, SNAPDIR), data)


SQUASH_SENTINEL = '{"_squash":1}'


def _snapdir_put(fs, d: str, data: bytes) -> int:
    """Claim the next free seq in the log dir with a conditional PUT;
    returns the seq won. Single namespace per seq — see
    _snapshot_log_append."""
    fs.makedirs(d)
    objs = _snapdir_objects(fs, d)
    seq = (objs[-1][0] + 1) if objs else 1
    while not fs.create_exclusive(_j(d, f"{seq:010d}.json"), data):
        seq += 1
    cached = _SNAP_OBJ_CACHE.get(d)
    if cached is not None:
        # a directory re-created by a byte copy can hold an older
        # table's parse under this name
        cached[1].pop(f"{seq:010d}.json", None)
    return seq


def _squash_log(fs, out_dir: str, entries: list[dict]) -> None:
    """Replace the whole snapshot log with ``entries``. A squash object
    (sentinel first line) at a fresh seq supersedes every earlier log
    object and any legacy jsonl the moment it lands (readers replace
    history when they hit it); THEN the dead log files go — a crash
    between the two leaves files readers already ignore. Log-object
    paths stay write-once: later entries continue at higher seqs."""
    d = _j(out_dir, SNAPDIR)
    objs = _snapdir_objects(fs, d)
    body = "".join(
        json.dumps(s, separators=(",", ":")) + "\n" for s in entries
    )
    _snapdir_put(fs, d, (SQUASH_SENTINEL + "\n" + body).encode())
    legacy = _j(out_dir, LEGACY_SNAPLOG)
    if fs.exists(legacy):
        fs.remove(legacy)
    for _seq, name in objs:
        fs.remove(_j(d, name))


def _pq_read(path: str, **kw) -> pa.Table:
    fs = _get_fs(path)
    if fs.native_paths:
        return pq.read_table(path, **kw)
    with fs.open_read(path) as fh:
        return pq.read_table(fh, **kw)


def _pq_file(path: str) -> pq.ParquetFile:
    fs = _get_fs(path)
    return pq.ParquetFile(path if fs.native_paths else fs.open_read(path))


def _atomic_write_blocks(path: str, rows: list[dict]) -> int:
    """Write one (column, part) blocks file atomically (one
    ``fs.put_atomic`` of the whole file); returns bytes.

    One parquet ROW GROUP per block row: readers can then fetch exactly
    the blocks that survive zone-map pruning (`read_row_groups`), so
    block-level pruning skips disk bytes — the Spark-storage analog of
    the reference's directory-seek reads (touch_reader.cpp:147-219).
    Metadata overhead is a few hundred bytes per block against multi-MB
    payloads."""
    table = pa.Table.from_pylist(rows, schema=BLOCKS_ARROW_SCHEMA)
    buf = io.BytesIO()
    # payloads are pre-compressed by the codecs
    pq.write_table(table, buf, compression="none", row_group_size=1)
    return _get_fs(path).put_atomic(path, buf.getvalue())


def _atomic_write_json(path: str, obj) -> None:
    """Atomic publish so concurrent readers never see a truncated file."""
    _get_fs(path).put_atomic(path, json.dumps(obj, indent=1).encode())


class ConcurrentWriterError(RuntimeError):
    """Another writer holds this table's lock (single-writer contract)."""


import threading as _threading  # noqa: E402

# In-process lease registry: key -> ident of the thread that acquired.
# Reentrancy is THREAD-scoped (merge's rewrite + append hold one lease
# end to end within a single call stack) — a second thread in the same
# driver writing the same table goes through the on-disk exclusive
# create and is REFUSED; a process-wide bare set would let it silently
# bypass the single-writer contract and the first finisher would delete
# the lock out from under the other. Release pops by key regardless of
# thread (the DataSource writer acquires in __init__ and Spark may call
# commit()/abort() from a different driver thread).
_HELD_LOCKS: dict[str, int] = {}
_HELD_MUTEX = _threading.Lock()
_LOCK_LEASE_SEC = 3600.0


def _acquire_writer_lock(out_dir: str, op: str, lease_sec: float = _LOCK_LEASE_SEC):
    """Take the table's single-writer lease (``_writer.lock``) or raise
    :class:`ConcurrentWriterError` naming the holder. The lock file is
    created exclusively (O_EXCL locally; an object-store impl should use
    a conditional PUT); a lease older than its ``lease_sec`` is presumed
    abandoned (crashed writer) and taken over via an ATOMIC claim
    (``fs.claim_stale`` — rename-based locally, conditional delete on
    object stores), so two racing takeovers can never both acquire.
    Re-acquiring within the same thread is a no-op (returns None) so
    composite operations — upsert's rewrite + append — hold ONE lease."""
    key = _j(out_dir, "_writer.lock")
    with _HELD_MUTEX:
        if _HELD_LOCKS.get(key) == _threading.get_ident():
            return None  # reentrant within the acquiring thread
    fs = _get_fs(out_dir)
    fs.makedirs(out_dir)
    me = {
        "owner": uuid.uuid4().hex,
        "pid": os.getpid(),
        "op": op,
        "ts": time.time(),
        "lease_sec": lease_sec,
    }
    data = json.dumps(me, separators=(",", ":")).encode()
    for _ in range(3):
        if fs.create_exclusive(key, data):
            with _HELD_MUTEX:
                _HELD_LOCKS[key] = _threading.get_ident()
            return me["owner"]
        try:
            cur = json.loads(fs.read_bytes(key))
        except FileNotFoundError:
            continue  # holder released between our PUT attempt and read
        except Exception:
            # unreadable/partial lease body: treat as FRESH, never stale
            # — assuming staleness here would let a racer steal a live
            # writer's lock whose body it couldn't (yet) read. The FS
            # publishes lock bodies atomically (fs.create_exclusive), so
            # this is a legacy artifact or transient store hiccup.
            cur = {"ts": time.time(), "owner": "unreadable"}
        age = time.time() - cur.get("ts", 0)
        if age > cur.get("lease_sec", lease_sec):
            # stale lease (writer crashed without releasing): claim it
            # atomically — exactly one racer's claim succeeds, the loser
            # loops back and finds the winner's FRESH lease
            fs.claim_stale(key)
            continue
        raise ConcurrentWriterError(
            f"table at {out_dir} is locked by writer "
            f"{cur.get('owner', '?')[:8]} (op={cur.get('op')}, "
            f"pid={cur.get('pid')}, held {age:.0f}s of "
            f"{cur.get('lease_sec', lease_sec):.0f}s lease); concurrent "
            f"writes are refused — wait for the holder, or remove "
            f"_writer.lock if the holder is known dead"
        )
    raise ConcurrentWriterError(
        f"could not acquire writer lock at {out_dir} after stale-lease "
        f"takeover retries (live contention)"
    )


def _release_writer_lock(out_dir: str, owner: str | None) -> None:
    if owner is None:
        return  # reentrant acquisition: the outer holder releases
    key = _j(out_dir, "_writer.lock")
    with _HELD_MUTEX:
        _HELD_LOCKS.pop(key, None)
    fs = _get_fs(out_dir)
    try:
        if json.loads(fs.read_bytes(key)).get("owner") == owner:
            fs.remove(key)
    except (FileNotFoundError, ValueError):
        pass  # lease expired and was taken over: never remove theirs


def _with_writer_lock(op: str):
    """Decorator enforcing the single-writer contract on a mutating
    table operation (the function must take ``out_dir``): the lease is
    held for the whole operation, so every commit of the table runs
    under it."""
    import functools
    import inspect

    def deco(fn):
        pos = list(inspect.signature(fn).parameters).index("out_dir")

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            out_dir = kwargs["out_dir"] if "out_dir" in kwargs else args[pos]
            tok = _acquire_writer_lock(out_dir, op)
            try:
                return fn(*args, **kwargs)
            finally:
                _release_writer_lock(out_dir, tok)

        return wrapper

    return deco


def _encode_one_part(
    part_id: int,
    batches: list[pa.RecordBatch],
    data_cols: list[str],
    out_dir: str,
    block_rows: int,
    block_bytes: int,
    input_files: set[str],
    select_cache: dict | None = None,
    field_ids: dict | None = None,
) -> dict:
    """Encode all columns of one logical partition and commit its files.

    ``select_cache`` memoizes (codec spec, FSST table) per column across
    the parts one Spark task processes: selection and symbol-table
    sampling run on the task's first part and are reused after — the
    "per-partition" granularity of the north rule is the Spark partition;
    lineage records the choice either way.
    """
    t0 = time.time()
    table = pa.Table.from_batches(batches)
    n = table.num_rows
    specs: dict[str, str] = {}
    part_raw = part_enc = 0
    n_blocks = 0
    sym_sha = {}
    col_stats: dict[str, list] = {}
    col_nulls: dict[str, int] = {}
    col_vsets: dict[str, list] = {}
    col_blooms: dict[str, dict] = {}
    for col in data_cols:
        arr = table.column(col).combine_chunks()
        st = _part_col_stats(arr)
        if st is not None:
            col_stats[col] = st
            vs, bl = _part_col_value_index(arr)
            if vs is not None:
                col_vsets[col] = vs
            elif bl is not None:
                col_blooms[col] = bl
        col_nulls[col] = int(arr.null_count)
        if select_cache is not None and col in select_cache:
            spec, fsst_table = select_cache[col]
        else:
            spec, fsst_table = choose_codec(arr)
            if select_cache is not None:
                select_cache[col] = (spec, fsst_table)
        specs[col] = spec
        rows_out: list[dict] = []
        pos = 0
        block_id = 0
        while pos < n or (n == 0 and block_id == 0):
            # size the block: row cap, then shrink if byte estimate blows up
            take = min(block_rows, n - pos)
            sl = arr.slice(pos, take)
            if take and sl.nbytes > block_bytes and take > 1:
                frac = max(1, int(take * block_bytes / sl.nbytes))
                sl = arr.slice(pos, frac)
                take = frac
            payload, meta = encode_array(sl, spec, fsst_table=fsst_table)
            bmm = _part_col_stats(sl)
            if bmm is not None:
                meta["mm"] = bmm  # block zone map: [min, max]
            meta["nc"] = sl.null_count  # null count (IS [NOT] NULL pruning)
            rows_out.append(
                {
                    "col": col,
                    "part_id": part_id,
                    "block_id": block_id,
                    "codec": spec,
                    "n_rows": len(sl),
                    "raw_bytes": sl.nbytes,
                    "enc_bytes": len(payload),
                    "meta": json.dumps(meta, separators=(",", ":")),
                    "payload": payload,
                }
            )
            part_raw += sl.nbytes
            part_enc += len(payload)
            block_id += 1
            pos += take
            if n == 0:
                break
        if fsst_table is not None and spec.startswith("fsst"):
            sym_sha[col] = fsst_table.sha[:16]
        n_blocks += block_id
        _atomic_write_blocks(_part_file(out_dir, col, part_id), rows_out)

    lineage = {
        "part_id": part_id,
        "n_rows": n,
        "codecs": specs,
        "stats": col_stats,  # zone maps: [min, max] per prunable column
        "nulls": col_nulls,  # per-column null counts (every column)
        "vset": col_vsets,  # exact distinct-value sets (low-card columns)
        "bloom": col_blooms,  # point-lookup blooms (mid-card columns)
        # field-id column identity: which field each stored column IS
        # (drop + re-add allocates a fresh id; old parts then decode the
        # re-added name as NULL instead of resurrecting dead values)
        "fids": {
            c: field_ids[c] for c in data_cols if c in (field_ids or {})
        },
        "symbol_tables": sym_sha,
        "raw_bytes": part_raw,
        "enc_bytes": part_enc,
        "input_files": sorted(f for f in input_files if f),
        "engine_version": "0.1.0",
    }
    # checkpoint file LAST: its existence marks the part durably complete
    _atomic_write_blocks(
        _part_file(out_dir, CHECKPOINT_COL, part_id),
        [
            {
                "col": CHECKPOINT_COL,
                "part_id": part_id,
                "block_id": 0,
                "codec": "",
                "n_rows": n,
                "raw_bytes": part_raw,
                "enc_bytes": part_enc,
                "meta": json.dumps(lineage, separators=(",", ":")),
                "payload": b"",
            }
        ],
    )
    return {
        "part_id": part_id,
        "n_rows": n,
        "n_blocks": n_blocks,
        "raw_bytes": part_raw,
        "enc_bytes": part_enc,
        "wall_ms": (time.time() - t0) * 1000.0,
        "lineage": json.dumps(lineage, separators=(",", ":")),
    }


def _make_encode_kernel(data_cols, out_dir, block_rows, block_bytes,
                        field_ids=None):
    def kernel(batches):
        cur_part = None
        buf: list[pa.RecordBatch] = []
        files: set[str] = set()
        summaries: list[dict] = []
        select_cache: dict = {}

        def flush():
            if cur_part is not None and buf:
                summaries.append(
                    _encode_one_part(
                        cur_part, buf, data_cols, out_dir, block_rows, block_bytes,
                        files, select_cache, field_ids=field_ids,
                    )
                )

        for batch in batches:
            if batch.num_rows == 0:
                continue
            parts = batch.column(PART_COL).to_numpy()
            fnames = batch.column(FILE_COL)
            data = batch.select(data_cols)
            # split the batch at part boundaries (input sorted by PART_COL)
            bounds = np.flatnonzero(np.diff(parts)) + 1
            starts = np.concatenate([[0], bounds])
            ends = np.concatenate([bounds, [len(parts)]])
            for s, e in zip(starts, ends):
                pid = int(parts[s])
                if pid != cur_part:
                    flush()
                    cur_part, buf, files = pid, [], set()
                buf.append(data.slice(s, e - s))
                fv = fnames[s].as_py()
                if fv:
                    files.add(fv)
        flush()
        if summaries:
            yield pa.RecordBatch.from_pylist(
                summaries,
                schema=pa.schema(
                    [
                        ("part_id", pa.int32()),
                        ("n_rows", pa.int64()),
                        ("n_blocks", pa.int32()),
                        ("raw_bytes", pa.int64()),
                        ("enc_bytes", pa.int64()),
                        ("wall_ms", pa.float64()),
                        ("lineage", pa.string()),
                    ]
                ),
            )

    return kernel


def _parse_size_conf(s: str, default: int) -> int:
    """Parse a Spark byte-size conf value ("134217728", "128MB", "2m")."""
    try:
        t = str(s).strip().lower()
        for suf, mul in (("kb", 1 << 10), ("mb", 1 << 20), ("gb", 1 << 30),
                         ("k", 1 << 10), ("m", 1 << 20), ("g", 1 << 30),
                         ("b", 1)):
            if t.endswith(suf):
                return int(float(t[: -len(suf)]) * mul)
        return int(t)
    except (ValueError, TypeError):
        return default


def _aligned_direct_splits(spark, df):
    """Row-group split plan for the aligned layout's direct-scan path.

    Returns ``(splits, fingerprint_src)`` when ``df`` is a bare local
    parquet scan — splits are ``(path, rg_off, rg_cnt)`` built by packing
    consecutive row groups of each file up to
    ``spark.sql.files.maxPartitionBytes`` of compressed bytes — or None
    when the plan is anything else (computed DataFrame, filters or
    projections on the scan, non-local files, columns some file does not
    physically store, files with Spark's legacy calendar-rebase metadata
    or INT96 columns): those fall back to the Spark-scan path. The plan
    depends only on the file listing and the split size, never on session
    parallelism, so every leg of a scaling pair runs the identical part
    layout by construction.

    Why it exists: ``mapInArrow`` over a JVM scan pays a row-to-Arrow
    conversion of every payload byte (measured ~5 s of a 21 s two-core
    encode of 655 MB); reading the row groups with pyarrow inside the
    kernel moves the bytes from storage into the encoder once, with no
    JVM round trip. Driver cost is one parquet footer read per file.
    """
    from urllib.parse import unquote, urlparse

    try:
        files = sorted(df.inputFiles())
    except Exception:
        return None
    if not files:
        return None
    paths = []
    for f in files:
        u = urlparse(f)
        if u.scheme not in ("", "file"):
            return None
        paths.append((f, unquote(u.path) if u.scheme else f))
    # bare-scan check: the optimized plan must be a single relation node
    # covering every column — a Filter/Project above the scan means rows
    # or columns differ from the raw files and the fallback must run
    try:
        plan = df._jdf.queryExecution().optimizedPlan()
        if not plan.getClass().getSimpleName().startswith("LogicalRelation"):
            return None
        if plan.output().size() != len(df.columns):
            return None
    except Exception:
        return None
    target = _parse_size_conf(
        spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728"),
        128 << 20,
    )
    import pyarrow.parquet as _pq

    splits = []
    wanted = set(df.columns)
    try:
        for uri, path in paths:
            pf = _pq.ParquetFile(path)
            # a column the file does not store (hive partition value,
            # mergeSchema column absent here) comes from the Spark scan
            # only: the pyarrow read would miss it
            if not wanted <= set(pf.schema_arrow.names):
                return None
            md = pf.metadata
            # pyarrow + cast reads neither Spark's legacy-calendar rebase
            # nor INT96 the way the Spark scan does: those files take it
            kv = md.metadata or {}
            if (
                b"org.apache.spark.legacyDateTime" in kv
                or b"org.apache.spark.legacyINT96" in kv
                or any(
                    md.schema.column(j).physical_type == "INT96"
                    for j in range(md.num_columns)
                )
            ):
                return None
            if md.num_row_groups == 0:
                continue
            sizes = []
            for i in range(md.num_row_groups):
                rg = md.row_group(i)
                sizes.append(
                    sum(rg.column(j).total_compressed_size for j in range(rg.num_columns))
                )
            off = 0
            while off < md.num_row_groups:
                cnt, acc = 1, sizes[off]
                while off + cnt < md.num_row_groups and acc + sizes[off + cnt] <= target:
                    acc += sizes[off + cnt]
                    cnt += 1
                splits.append((uri, path, off, cnt))
                off += cnt
    except Exception:
        return None
    if not splits:
        return None
    return splits, [files, "rowgroup-plan-v1", target]


def _make_aligned_scan_kernel(data_cols, out_dir, block_rows, block_bytes,
                              field_ids, arrow_types, descriptors):
    """Encode kernel for the direct-scan aligned path: the input rows are
    just ``spark.range`` indexes into the closure-shipped descriptor
    list (part_id, uri, path, rg_off, rg_cnt); the kernel reads its row
    groups with pyarrow, normalizes column types to what the Spark scan
    would have produced (so stored blocks are identical either way), and
    encodes the part."""

    def kernel(batches):
        import pyarrow.parquet as _pq

        select_cache: dict = {}
        summaries: list[dict] = []
        for batch in batches:
            for idx in batch.column(0).to_pylist():
                part_id, uri, path, rg_off, rg_cnt = descriptors[int(idx)]
                pf = _pq.ParquetFile(path)
                t = pf.read_row_groups(
                    list(range(rg_off, rg_off + rg_cnt)),
                    columns=data_cols,
                )
                cols = []
                for c in data_cols:
                    arr = t.column(c).combine_chunks()
                    tgt = arrow_types[c]
                    if arr.type != tgt:
                        arr = arr.cast(tgt)
                    cols.append(arr)
                part = pa.table(dict(zip(data_cols, cols)))
                summaries.append(
                    _encode_one_part(
                        int(part_id), part.to_batches(), data_cols,
                        out_dir, block_rows, block_bytes, {uri},
                        select_cache, field_ids=field_ids,
                    )
                )
        if summaries:
            yield pa.RecordBatch.from_pylist(
                summaries,
                schema=pa.schema(
                    [
                        ("part_id", pa.int32()),
                        ("n_rows", pa.int64()),
                        ("n_blocks", pa.int32()),
                        ("raw_bytes", pa.int64()),
                        ("enc_bytes", pa.int64()),
                        ("wall_ms", pa.float64()),
                        ("lineage", pa.string()),
                    ]
                ),
            )

    return kernel


_STATS_MAX_STR = 256  # skip string stats when bounds would exceed this


def _part_col_stats(arr: pa.Array):
    """[min, max] zone-map bounds for one part's column, or None.

    JSON-safe orderable types only (ints, floats, bools, short strings);
    None (no stats) always means "can't prune", never "empty" — pruning
    stays conservative. NaN-bearing float parts get no stats (NaN breaks
    ordering); string bounds are stored only when exact and short.
    """
    import pyarrow.compute as pc

    if len(arr) == 0 or arr.null_count == len(arr):
        return None
    t = arr.type
    if not (
        pa.types.is_integer(t)
        or pa.types.is_floating(t)
        or pa.types.is_boolean(t)
        or pa.types.is_string(t)
        or pa.types.is_large_string(t)
    ):
        return None
    if pa.types.is_uint64(t):
        # u64 decodes as the int64 BIT VIEW (values >= 2^63 come out
        # negative), which is not monotone in the unsigned domain — a
        # [min, max] crossing 2^63 maps to two disjoint signed ranges,
        # so bounds here would prune wrongly. No stats = never pruned.
        return None
    if pa.types.is_string(t) or pa.types.is_large_string(t):
        # bound the length from the offsets first (no character scan):
        # long-text columns (content) skip the O(chars) string min_max
        if pc.max(pc.binary_length(arr)).as_py() > _STATS_MAX_STR:
            return None
    if pa.types.is_floating(t) and pc.any(pc.is_nan(arr)).as_py():
        # min_max skips NaN, yet SQL orders NaN above every number (Spark,
        # DuckDB): bounds without it would refute ``x >= lo`` wrongly
        return None
    mm = pc.min_max(arr)
    mn, mx = mm["min"].as_py(), mm["max"].as_py()
    if mn is None or mx is None:
        return None
    return [mn, mx]


_VSET_MAX = 64  # exact value sets recorded only for low-cardinality parts


def _part_col_value_index(arr: pa.Array):
    """One distinct-values pass yielding (vset, bloom) for a part column
    — at most one of the two is non-None.

    - vset: the sorted distinct non-null values of a low-cardinality
      column (at most _VSET_MAX; the categorical case — lang, status
      flags — where a part whose [min, max] spans a probe may still not
      hold it, and the exact set proves that).
    - bloom: {"kinds": [...], "b64": z} over the distinct values of a
      MID-cardinality column (above _VSET_MAX, at most
      _BLOOM_MAX_DISTINCT), for point lookups where spans are wide.

    A 4k-row head that is (near-)unique skips the full unique pass:
    neither index would help there."""
    import pyarrow.compute as pc

    head = pc.unique(arr.slice(0, 4096).drop_null())
    if len(head) >= 4096:
        return None, None  # (near-)unique column: neither index helps
    vals = pc.unique(arr.drop_null())
    if len(vals) <= _VSET_MAX:
        return sorted(vals.to_pylist()), None
    if len(vals) <= _BLOOM_MAX_DISTINCT:
        return None, _bloom_of_values(vals.to_pylist())
    return None, None


_BLOOM_M = 1 << 16  # bits (8 KiB bitset; zlib-compressed in lineage)
_BLOOM_K = 4
_BLOOM_MAX_DISTINCT = 8192  # FPR <~2% at this fill; above it, skip


def _bloom_key(v) -> str:
    # kind-tagged so an int never matches a float/string bit pattern;
    # cross-kind probes are handled conservatively at prune time
    if isinstance(v, bool):
        return f"b:{v}"
    if isinstance(v, int):
        return f"i:{v}"
    if isinstance(v, float):
        # IEEE equality must drive the key: -0.0 == 0.0 but their reprs
        # differ, so normalize signed zero or a part storing -0.0 would
        # be bloom-pruned for probe 0.0 (silently dropping matches)
        if v == 0:
            v = 0.0
        return f"f:{v!r}"
    import decimal

    if isinstance(v, decimal.Decimal):
        # no decimal STORAGE type exists today, but a Decimal probe must
        # still key consistently with the numeric kinds (3 == Decimal(3)
        # == 3.0), not by repr through the string fallback. Non-finite
        # Decimals (NaN/Infinity) cannot int()/compare — key them like
        # their float twins so the probe stays conservative, not fatal.
        if not v.is_finite():
            return f"f:{float(v)!r}"
        iv = int(v)
        return f"i:{iv}" if v == iv else f"f:{float(v)!r}"
    return f"s:{v}"


def _bloom_positions(v):
    import hashlib

    d = hashlib.blake2b(_bloom_key(v).encode(), digest_size=16).digest()
    return [
        int.from_bytes(d[i * 4 : (i + 1) * 4], "little") % _BLOOM_M
        for i in range(_BLOOM_K)
    ]


def _bloom_of_values(values: list):
    import base64
    import hashlib
    import zlib

    # one blake2b per value; the 4 per-value positions are the digest's
    # four little-endian u32 words mod _BLOOM_M — bit-for-bit the same
    # layout _bloom_positions computes one value at a time on the probe
    # side, with the per-position Python loop replaced by one numpy pass
    keys = [_bloom_key(v) for v in values]
    kinds = {k[0] for k in keys}
    digs = b"".join(
        hashlib.blake2b(k.encode(), digest_size=16).digest() for k in keys
    )
    pos = np.frombuffer(digs, dtype="<u4") % np.uint32(_BLOOM_M)
    bits = np.zeros(_BLOOM_M // 8, dtype=np.uint8)
    np.bitwise_or.at(bits, pos >> 3, np.uint8(1) << (pos & 7).astype(np.uint8))
    return {
        "kinds": sorted(kinds),
        "b64": base64.b64encode(zlib.compress(bits.tobytes())).decode(),
    }


def prune_parts_bloom(
    out_dir: str, col: str, values: list, parts: list[int], blooms: dict | None = None
) -> list[int]:
    """Bloom-filter part pruning for equality/IN: drop a part when every
    probe value misses its bloom. Probes whose kind the bloom never saw
    keep the part (cross-type equality goes through Spark casts the
    bloom can't model); parts without a bloom are kept."""
    if blooms is None:
        blooms = {p: d["bloom"] for p, d in part_meta(out_dir).items()}
    refuted = _refutes((col, tuple(values)))
    return [
        p for p in parts
        if not refuted({"bloom": (blooms.get(p) or {}).get(col)})
    ]


MANIFESTDIR = "_manifests"
# "fids" = the part's {column: field_id} at encode time — not a pruning
# dimension but it rides the same container (checkpoint lineage →
# manifest → part_meta) so field-id column identity survives manifest
# consolidation and expire exactly like the zone maps do
_PRUNE_META_KEYS = ("stats", "nulls", "vset", "bloom", "fids")
# manifest files are WRITE-ONCE (uuid-named, referenced by exactly one
# snapshot entry, never rewritten), so parsed contents cache per process
_MANIFEST_CACHE: dict[str, dict[int, dict]] = {}


def _prune_meta_of(meta_json: str, n_rows: int) -> dict:
    m = json.loads(meta_json)
    return {
        "n_rows": int(n_rows),
        **{k: m.get(k) or {} for k in _PRUNE_META_KEYS},
    }


def _checkpoint_prune_meta(out_dir: str, pid: int) -> dict:
    """One part's pruning metadata straight from its checkpoint file —
    the per-part fallback for parts no manifest covers (pre-manifest
    snapshots, uncommitted orphans)."""
    t = _pq_read(
        _part_file(out_dir, CHECKPOINT_COL, pid), columns=["n_rows", "meta"]
    )
    return _prune_meta_of(t.column("meta")[0].as_py(), t.column("n_rows")[0].as_py())


def write_manifest(out_dir: str, parts, pm: dict | None = None) -> str | None:
    """Fold the per-part pruning metadata (zone maps, null counts, value
    sets, blooms) of ``parts`` into ONE manifest parquet under
    ``_manifests/`` and return its filename — the Iceberg manifest idiom
    that makes pruned reads O(#snapshots) metadata files instead of
    O(#parts): a 100k-part table would otherwise pay a 100k-file listing
    + footer parse on the driver for EVERY pruned read (reference analog:
    the sidecar directory read once up front, touch_reader.cpp:79-145).

    Called at snapshot-commit time (``_commit_snapshot_entry``), before
    the log append that publishes it — a crash leaves an orphan manifest
    no entry references (reclaimed by ``vacuum_orphans``). ``pm`` gives
    already-in-hand metadata ({pid: {n_rows, stats, nulls, vset,
    bloom}}) so the encode hot path never re-reads its own checkpoint
    files; missing pids fall back to one checkpoint read each."""
    parts = sorted(parts)
    if not parts:
        return None
    rows = []
    for pid in parts:
        d = (pm or {}).get(int(pid))
        if d is None:
            d = _checkpoint_prune_meta(out_dir, int(pid))
        rows.append({
            "part_id": int(pid),
            "n_rows": int(d["n_rows"]),
            "meta": json.dumps(
                {k: d.get(k) or {} for k in _PRUNE_META_KEYS},
                separators=(",", ":"),
            ),
        })
    table = pa.Table.from_pylist(rows, schema=pa.schema(
        [("part_id", pa.int64()), ("n_rows", pa.int64()), ("meta", pa.string())]
    ))
    name = f"m-{uuid.uuid4().hex[:16]}.parquet"
    buf = io.BytesIO()
    pq.write_table(table, buf, compression="zstd")
    _get_fs(out_dir).put_atomic(_j(out_dir, MANIFESTDIR, name), buf.getvalue())
    return name


def _read_manifest(out_dir: str, name: str) -> dict[int, dict]:
    path = _j(out_dir, MANIFESTDIR, name)
    cached = _MANIFEST_CACHE.get(path)
    if cached is not None:
        return cached
    t = _pq_read(path)
    out = {}
    for pid, n, meta in zip(
        t.column("part_id").to_pylist(),
        t.column("n_rows").to_pylist(),
        t.column("meta").to_pylist(),
    ):
        out[int(pid)] = _prune_meta_of(meta, n)
    if len(_MANIFEST_CACHE) > 1024:  # bound driver memory
        _MANIFEST_CACHE.clear()
    _MANIFEST_CACHE[path] = out
    return out


def part_meta(
    out_dir: str,
    parts: list[int] | None = None,
    snaps: list[dict] | None = None,
) -> dict[int, dict]:
    """All pruning metadata ({part_id: {"n_rows", "stats", "nulls",
    "vset", "bloom"}}) in O(#manifests) reads: each snapshot entry
    carries a ``manifest`` parquet folding its new parts' checkpoint
    stats (see :func:`write_manifest`); entries merge oldest-first and
    part ids are never reused across commits, so first-covered wins.

    ``parts`` is the id set the caller actually needs (a snapshot's live
    set, a rewrite's affected set): ids no manifest covers —
    pre-manifest snapshots, crashed-run orphans — fall back to
    their individual checkpoint files. With ``parts=None`` the fallback
    spans every checkpointed part (the legacy full-scan contract). The
    per-dimension accessors below are views over this — callers applying
    several pruning dimensions (DataSource partitions, decode_table)
    should load this once instead of scanning per dimension."""
    if snaps is None:
        snaps = snapshots(out_dir)
    out: dict[int, dict] = {}
    needed = {int(p) for p in parts} if parts is not None else None
    # NEWEST-first with early exit: part ids are never reused, and any
    # id covered by several manifests (a consolidated compaction/expire
    # manifest re-covering survivors, a rollback re-listing restored
    # parts) carries IDENTICAL stats in each — merge order is therefore
    # free, and stopping once the needed set is covered is what makes a
    # pruned read after a consolidating compaction O(1) manifest opens
    # instead of O(#snapshots)
    for s in reversed(snaps):
        if needed is not None and needed <= out.keys():
            break
        name = s.get("manifest")
        if name:
            try:
                mf = _read_manifest(out_dir, name)
            except FileNotFoundError:
                continue  # raced an expire's cleanup: checkpoint fallback
            for pid, d in mf.items():
                out.setdefault(pid, d)
    if needed is None:
        needed = completed_parts(out_dir)
    for pid in sorted(needed - out.keys()):
        try:
            out[pid] = _checkpoint_prune_meta(out_dir, pid)
        except FileNotFoundError:
            pass  # expired or never-checkpointed id: no metadata
    return out


def part_vsets(out_dir: str, meta: dict | None = None) -> dict[int, dict]:
    """{part_id: {col: [values]}}; tables written before value-set
    accounting yield empty dicts (never pruned)."""
    pm = meta if meta is not None else part_meta(out_dir)
    return {p: d["vset"] for p, d in pm.items()}


def prune_parts_eq(
    out_dir: str, col: str, values: list, parts: list[int], vstats: dict | None = None
) -> list[int]:
    """Exact-membership part pruning for equality/IN predicates: keep a
    part only if its recorded value set intersects ``values``; parts
    without a value set for the column, and probes of a kind the set
    does not hold, are kept (conservative)."""
    if vstats is None:
        vstats = part_vsets(out_dir)
    refuted = _refutes((col, tuple(values)))
    return [
        p for p in parts if not refuted({"vset": vstats.get(p, {}).get(col)})
    ]


def part_stats(out_dir: str, meta: dict | None = None) -> dict[int, dict]:
    """Per-part zone maps ({part_id: {col: [min, max]}}) from the
    checkpoint lineage — one O(#parts) metadata read, no payload I/O."""
    pm = meta if meta is not None else part_meta(out_dir)
    return {p: d["stats"] for p, d in pm.items()}


def prune_parts(
    out_dir: str, where: tuple, parts: list[int], stats: dict | None = None
) -> list[int]:
    """Zone-map part pruning: keep parts whose [min, max] for the
    predicate column overlaps [lo, hi] (either bound may be None for a
    half-open range). Parts without stats are kept — pruning is
    conservative, exactly like parquet row-group pruning; rows inside
    kept parts are NOT filtered, so compose with ``df.filter`` for exact
    results."""
    if stats is None:
        stats = part_stats(out_dir)
    refuted = _refutes(tuple(where))
    return [
        p for p in parts if not refuted({"mm": stats.get(p, {}).get(where[0])})
    ]


def part_null_stats(out_dir: str, meta: dict | None = None) -> dict[int, dict]:
    """{part_id: {"n_rows": n, "nulls": {col: null_count}}}; tables
    written before null accounting have an empty "nulls" dict (never
    pruned)."""
    pm = meta if meta is not None else part_meta(out_dir)
    return {p: {"n_rows": d["n_rows"], "nulls": d["nulls"]} for p, d in pm.items()}


def _null_kind(w: tuple) -> str | None:
    """'isnull' / 'notnull' for a null test, else None. Null tests are
    ``(col, kind)`` pairs that only the data source's pushFilters makes;
    the public where grammar normalizes IN-lists to tuple values, so a
    string in second place can never come from it."""
    return w[1] if len(w) == 2 and isinstance(w[1], str) else None


def _value_kind(x) -> str:
    # bool before int (bool is an int subclass); int/float unify so
    # probe 3 matches stored 3.0 the same way set equality does
    if isinstance(x, bool):
        return "bool"
    if isinstance(x, (int, float)):
        return "num"
    return type(x).__name__


_NAN = object()


def _eq_key(v):
    """Equality key under SQL semantics: NaN equals NaN (Spark, DuckDB,
    Arrow's ``is_in``), unlike Python floats."""
    return _NAN if isinstance(v, float) and v != v else v


def _refutes(w: tuple):
    """The one pruning test: ``_refutes(w)(zone)`` is True only when the
    zone provably holds no row matching the normalized predicate ``w``.

    A *zone* is what pruning knows about one column over a run of rows —
    a part (:func:`_part_zone`) or a block (:func:`_block_zones`): ``n``
    rows, ``nc`` nulls, ``mm`` = [min, max] of the non-null values,
    ``vset`` = the exact distinct values, ``bloom``. Any may be absent
    (unknown), which never refutes. The rules:

    - IS [NOT] NULL is decided from ``nc`` and ``n``;
    - an all-NULL zone refutes every other predicate (NULL matches no
      range and no IN-list);
    - a range is refuted when it misses [min, max];
    - a point or IN predicate is refuted when no probe lies in
      [min, max], when the value set holds no probe, or when the bloom
      misses every probe.

    Comparisons that raise TypeError, value sets holding other kinds
    than the probes, and blooms that never saw a probe's kind keep the
    zone. Probe sets and bloom hashes are computed once per predicate,
    not per zone."""
    import base64
    import zlib

    kind = _null_kind(w)
    probes = None
    if len(w) == 3:
        _, lo, hi = w
        if lo is not None and lo == hi:
            probes = [lo]  # a point: exact membership can refute parts
            # whose [min, max] merely spans the value
    elif not kind:
        probes = list(w[1])
    if probes is not None:
        keys = {_eq_key(v) for v in probes}
        kinds = {_value_kind(v) for v in probes}
    positions = None  # bloom probes, hashed at the first bloom met

    def refuted(z: dict) -> bool:
        nonlocal positions
        n, nc = z.get("n"), z.get("nc")
        if kind == "isnull":
            return bool(n) and nc == 0
        if n and nc == n:
            return True
        if kind:
            return False
        mm = z.get("mm")
        if mm is not None:
            mn, mx = mm
            try:
                if len(w) == 3:
                    if (hi is not None and mn > hi) or (lo is not None and mx < lo):
                        return True
                elif not any(mn <= v <= mx for v in probes):
                    return True
            except TypeError:
                pass  # bound/stat type mismatch: keep (conservative)
        if probes is None:
            return False
        vs = z.get("vset")
        # a probe of another kind (string "3" against an int value set)
        # keeps the zone: membership would just come back empty
        if vs is not None and kinds <= {_value_kind(x) for x in vs}:
            if not any(_eq_key(x) in keys for x in vs):
                return True
        bl = z.get("bloom")
        if bl is not None and positions is None:
            positions = [(_bloom_key(v)[0], _bloom_positions(v)) for v in probes]
        if bl is not None and all(k in bl["kinds"] for k, _ in positions):
            bits = np.frombuffer(
                zlib.decompress(base64.b64decode(bl["b64"])), dtype=np.uint8
            )
            if not any(
                all(bits[pos >> 3] & (1 << (pos & 7)) for pos in poss)
                for _, poss in positions
            ):
                return True
        return False

    return refuted


# A column the part does not hold (added after it was written, or stored
# under a retired field id) reads NULL in every row: one all-NULL zone
# over the whole part, kept or refuted whole, so its size decides nothing.
_ALL_NULL = {"n": 1, "nc": 1}


def _part_zone(d: dict | None, col: str, remap: tuple | None = None) -> dict:
    """The zone of ``col`` in one part, from its :func:`part_meta`
    record ``d`` (None: no metadata, nothing known). ``remap`` is the
    part's ``(ghosts, aliases)`` (:func:`_column_remap`): the column is
    looked up under the part's storage name, and a ghost, or a name the
    part's null accounting does not list, is the all-NULL zone."""
    if d is None:
        return {}
    ghosts, aliases = remap or (frozenset(), {})
    c = aliases.get(col, col)
    if col in ghosts or (d["nulls"] and c not in d["nulls"]):
        return _ALL_NULL
    return {
        "n": d["n_rows"],
        "nc": d["nulls"].get(c),
        "mm": d["stats"].get(c),
        "vset": d["vset"].get(c),
        "bloom": d["bloom"].get(c),
    }


def _prune_parts_conj(
    wheres: list[tuple], parts: list[int], pm: dict, remap: dict | None = None,
) -> list[int]:
    """Part pruning for one CONJUNCTION of normalized predicates: keep
    the parts whose zone no predicate refutes (:func:`_refutes`). ``pm``
    is :func:`part_meta` over ``parts``; ``remap`` ({part_id: (ghosts,
    aliases)}, :func:`_column_remap`) resolves each predicate column to
    the part's storage name, or to the all-NULL zone."""
    tests = [(w[0], _refutes(w)) for w in wheres]
    remap = remap or {}
    return [
        p for p in parts
        if not any(
            refuted(_part_zone(pm.get(p), col, remap.get(p)))
            for col, refuted in tests
        )
    ]


def prune_parts_nulls(
    out_dir: str, col: str, kind: str, parts: list[int], nstats: dict | None = None
) -> list[int]:
    """Null-aware part pruning: ``kind='notnull'`` drops all-null parts,
    ``kind='isnull'`` drops null-free parts. Parts without null
    accounting (legacy lineage) are kept — conservative, like the
    [min, max] zone maps."""
    if kind not in ("isnull", "notnull"):
        raise ValueError(f"kind must be 'isnull' or 'notnull', got {kind!r}")
    if nstats is None:
        nstats = part_null_stats(out_dir)
    refuted = _refutes((col, kind))

    def zone(st):
        if st is None or col not in st["nulls"]:
            return {}
        return {"n": st["n_rows"], "nc": st["nulls"][col]}

    return [p for p in parts if not refuted(zone(nstats.get(p)))]


# commits between automatic full-coverage manifests (the metadata-read
# bound for cold pruned reads of never-compacted tables)
_CONSOLIDATE_EVERY = 64


def _manifests_since_full(snaps: list[dict]) -> int:
    """Main-chain manifests committed since the last FULL-coverage one.

    Only entries flagged ``manifest_full`` reset the count — every path
    that truly consolidates (compaction, partial optimize, expire's
    squashed root, the auto-consolidation itself) sets the flag, while a
    bare ``compaction`` or ``tag_only`` marker proves nothing about
    coverage. Branch commits don't extend the MAIN chain a cold pruned
    read walks, so they don't inflate the count either."""
    n = 0
    for s in reversed(snaps):
        if s.get("branch"):
            continue
        if s.get("manifest_full"):
            break
        if s.get("manifest"):
            n += 1
    return n


def _commit_snapshot_entry(
    out_dir: str,
    entry: dict,
    *,
    append: bool,
    pm: dict | None = None,
    branch: str | None = None,
    branch_parent: int | None = None,
) -> dict:
    """Publish a prepared snapshot entry — the one commit path: every
    writer calls it while holding the single-writer lease. Write the
    entry's pruning MANIFEST first, then append the entry with id/parent
    assigned from the current log tip. The single-line log append is the
    atomic publish point — everything written before it (parts, manifest) is
    an invisible orphan until the entry lands, and the schema state the
    entry stamps takes effect with it, so a failed or refused append
    never widens the schema. ``pm`` forwards already-in-hand per-part
    metadata to :func:`write_manifest` so the encode hot path never
    re-reads its own checkpoints.

    AUTO-CONSOLIDATION: once every :data:`_CONSOLIDATE_EVERY` main-chain
    commits since the last full-coverage manifest, the entry's manifest
    covers the FULL post-commit live set instead of just its new parts
    (flagged ``manifest_full``) — so part_meta's newest-first early exit
    bounds a cold pruned read at ≤ _CONSOLIDATE_EVERY manifest opens on
    a pure-append table that never compacts (compaction/expire
    consolidate eagerly anyway). Amortized cost: one O(#live) metadata
    fold per _CONSOLIDATE_EVERY commits, read from the manifests
    already in hand."""
    e = dict(entry)
    snaps = snapshots(out_dir)
    if (
        e.get("new_parts") and not e.get("manifest")
        and branch is None and append and snaps
        and _manifests_since_full(snaps) + 1 >= _CONSOLIDATE_EVERY
    ):
        prior = snapshot_parts(out_dir, _tip_entry(snaps)["id"], snaps=snaps)
        survivors = sorted(
            set(prior or []) - set(e.get("removed_parts") or [])
        )
        full = sorted(set(survivors) | set(e["new_parts"]))
        e["manifest"] = write_manifest(
            out_dir, full,
            pm={**part_meta(out_dir, parts=survivors, snaps=snaps),
                **(pm or {})},
        )
        e["manifest_full"] = True
    if e.get("new_parts") and not e.get("manifest"):
        e["manifest"] = write_manifest(out_dir, e["new_parts"], pm=pm)
    # ids are log-sequence (unique across ALL chains); the parent is
    # chain-specific: the named branch's ref tip, else the main tip —
    # a trailing branch commit must never become a main parent
    e["id"] = (snaps[-1]["id"] + 1) if snaps else 1
    if branch is not None:
        # normal branch commits parent onto the ref tip; a rebase passes
        # branch_parent to re-fork the chain onto the main tip instead
        bid = (
            branch_parent if branch_parent is not None
            else _branch_tip(out_dir, branch, snaps)
        )
        e["parent"] = bid
        e["branch"] = branch
    else:
        tip = _tip_entry(snaps) if snaps else None
        e["parent"] = tip["id"] if (tip and append) else 0
    _snapshot_log_append(out_dir, e)
    if branch is not None:
        # move the ref AFTER the entry is durable: a crash between the
        # two leaves the entry as an unreachable bystander (its parts
        # are protected from vacuum like any committed entry) and the
        # branch simply did not advance
        _write_ref(out_dir, branch, e["id"], kind="branch", force=True)
    return e


def _append_entry(
    state: dict, new_parts: list[int], n_rows: int, enc_bytes: int, layout: str
) -> dict:
    """The snapshot entry of a plain append: its parts, and the schema
    state it commits (versioned per snapshot: time travel to a
    pre-evolution snapshot reads the schema in effect then)."""
    return {
        "new_parts": new_parts,
        "n_rows": n_rows,
        "enc_bytes": enc_bytes,
        "layout": layout,
        **_schema_stamp(state),
        "ts": time.time(),
    }


def completed_parts(out_dir: str) -> set[int]:
    d = _j(out_dir, "blocks", f"col={CHECKPOINT_COL}")
    out = set()
    for f in _get_fs(out_dir).listdir(d):
        if f.startswith("part_") and f.endswith(".parquet"):
            out.add(int(f[len("part_") : -len(".parquet")]))
    return out


def _log_parts(snaps: list[dict]) -> set[int]:
    """Every part id a snapshot entry of the log names, on any chain."""
    return {p for s in snaps for p in s.get("new_parts") or ()}


def _next_part_base(out_dir: str) -> int:
    """First id of a writer's new parts (append, rewrite, data-source
    write): above every checkpointed part and every part the snapshot
    log names. Writers hold the lease, so no other writer picks ids
    concurrently."""
    named = _log_parts(snapshots(out_dir))
    return max(completed_parts(out_dir) | named, default=-1) + 1


@_with_writer_lock("encode")
def encode_table(
    spark: SparkSession,
    df: DataFrame,
    out_dir: str,
    *,
    num_parts: int | None = None,
    cluster_by: list[str] | None = None,
    salt_by: list[str] | None = None,
    sort_by: list[str] | None = None,
    zorder_by: list[str] | None = None,
    block_rows: int = 65536,
    block_bytes: int = 32 << 20,
    target_part_rows: int = 262_144,
    shuffle_tasks: int | None = None,
    layout: str = "clustered",
    resume: bool = True,
    append: bool = False,
    snapshot_extra: dict | None = None,
    commit: bool = True,
    branch: str | None = None,
) -> dict:
    """Encode ``df`` into a blocks table at ``out_dir``; returns metrics.

    Defaults fit the code_files shape: cluster by ``repo``, salt by
    ``(path, commit)``, sort by the full key for deterministic output.

    ``layout``:
    - ``"clustered"`` (default): hash exchange on the skew-defused
      cluster key + local sort — maximizes run locality for dict/RLE;
      one full shuffle of the data.
    - ``"aligned"``: zero-shuffle — logical parts are the input splits
      (the reference's static file split, parquet2hdf5.cpp:45-55, as
      Spark's scan planning). Right when the input is already laid out
      well (repo dumps arrive grouped); skew-free by construction
      because splits are uniform bytes. Resume still skips completed
      parts, but must rescan (filter, not partition-prune) their rows;
      part ids are deterministic for a fixed file listing and
      maxPartitionBytes.

    A table's rows are those its committed snapshots reach: every run
    writes its parts first and commits one snapshot entry (id, parent,
    new part ids, schema state) under the single-writer lease only
    after every part of the run checkpointed, so readers see either the
    previous snapshot or the complete new one, never a torn write. An
    interrupted run leaves orphan parts no snapshot references; a rerun
    with ``resume=True`` adopts the checkpointed ones and commits.

    ``append=True`` adds ``df`` as a NEW SNAPSHOT of an existing table
    (Iceberg-style): new parts get ids above every existing part (an
    append onto a table with no committed snapshot commits only its own
    parts). Each successful run (including the first) commits a
    snapshot, so ``decode_table(snapshot_id=...)`` time-travels. A
    resumed append
    reuses the interrupted run's part-id base (recorded in
    ``_pending_append.json``) and must present the same partitioning
    config — the same guard the base table applies.

    ``zorder_by=[c1, c2, ...]`` (clustered layout only) sorts rows by
    the interleaved-bit Morton value of the named numeric/string columns
    (strings bucket monotonically: exact rank dictionary up to
    ``ZORDER_STRING_DICT_CAP`` distincts, byte-prefix proxy above)
    instead of ``sort_by``, and — when no ``cluster_by`` is given —
    assigns parts from the z-value's high bits, so parts AND blocks get
    tight zone maps on EVERY named dimension at once: a conjunctive
    ``where`` on k z-ordered columns prunes on all k (a lexicographic
    sort only serves the leading column). The trade: each dimension's
    individual runs get coarser, so single-column pruning and RLE/dict
    run locality are somewhat weaker than a dedicated single-key sort.

    ``commit=False`` runs the full encode but defers the snapshot
    publish: the prepared entry (stamped with the schema state evolved
    at the tip, or at ``branch``'s tip) comes back under
    ``result["pending_commit"]`` for the caller to publish via
    ``_commit_snapshot_entry`` onto the same chain — this is how
    ``upsert_rows`` folds an append and a copy-on-write delete into ONE
    atomic snapshot. Until the caller commits, the written parts are
    invisible orphans.
    """
    _t_enter = time.time()
    if branch is not None and not append:
        raise ValueError(
            "branch= requires append=True: a branch commit adds a "
            "snapshot onto an existing table's branch tip"
        )
    cols = df.columns
    zb_shift = 0
    zexpr = None
    zbounds = None
    zrange_parts = False
    if zorder_by:
        if layout == "aligned":
            raise ValueError(
                "zorder_by requires the clustered layout (the z-sort "
                "rides the exchange the aligned layout avoids)"
            )
        if sort_by is not None:
            raise ValueError(
                "pass either sort_by or zorder_by, not both: zorder_by "
                "replaces the block sort with the Morton order"
            )
        # ONE agg job yields the z bounds AND the row count, so the
        # num_parts sizing below never re-scans the input
        zexpr, zbounds, zbits, zcount = _zorder_prep(df, zorder_by)
        if num_parts is None:
            num_parts = max(1, int(np.ceil(zcount / target_part_rows)))
        sort_by = [ZV_COL]
        if cluster_by is None:
            # parts = CONTIGUOUS z-ranges: bucket the z-value's high bits
            # (~4 buckets per part for balance headroom), then bin-pack
            # ADJACENT buckets into parts by measured row counts below —
            # part-level zone maps tighten on every z dimension. (A hash
            # of the buckets would scatter opposite corners of z-space
            # into one part and void the part-level pruning.)
            total_bits = zbits * len(zorder_by)
            zb_shift = max(
                0, total_bits - (int(np.ceil(np.log2(max(2, num_parts)))) + 2)
            )
            zrange_parts = True
    if cluster_by is None and "repo" in cols and not zorder_by:
        cluster_by = ["repo"]
    if salt_by is None:
        salt_by = [c for c in ("path", "commit") if c in cols] or None
    if sort_by is None:
        sort_by = (cluster_by or []) + (salt_by or [])

    if num_parts is None:
        if layout == "aligned":
            num_parts = -1  # parts = input splits; modulus unused
        else:
            approx_rows = df.count()
            num_parts = max(1, int(np.ceil(approx_rows / target_part_rows)))

    # raises for unregistered URL schemes; local paths and registered
    # object-store filesystems (fs.register_filesystem) both work —
    # workers resolve the same registry at decode/encode kernel time
    fs = _get_fs(out_dir)
    # a fresh (resume=False, non-append) run erases the earlier table.
    # The log goes FIRST, superseded by an empty squash, so a crash at
    # any later step leaves a log that names no deleted file.
    if not resume and not append:
        if fs.exists(_j(out_dir, LEGACY_SNAPLOG)) or _snapdir_objects(
            fs, _j(out_dir, SNAPDIR)
        ):
            _squash_log(fs, out_dir, [])
        blocks_dir = _j(out_dir, "blocks")
        for cdir in fs.listdir(blocks_dir):
            for f in fs.listdir(_j(blocks_dir, cdir)):
                fs.remove(_j(blocks_dir, cdir, f))
        mdir = _j(out_dir, MANIFESTDIR)
        for f in fs.listdir(mdir):
            fs.remove(_j(mdir, f))  # manifests of the erased history
        for ref in fs.listdir(_j(out_dir, REFDIR)):
            fs.remove(_j(out_dir, REFDIR, ref))  # tags of the erased history
        for extra in (
            "_pending_append.json", "_aligned_fingerprint", "_log.jsonl",
        ):
            p = _j(out_dir, extra)
            if fs.exists(p):
                fs.remove(p)
        # part ids are about to be REUSED for different data — the
        # progress cache's immutability premise no longer holds here
        _PROGRESS_CACHE.pop(out_dir, None)
    fs.makedirs(out_dir)
    state = _new_table_state(
        cols,
        {c: type_name(f) for c, f in _spark_schema_arrow(df).items()},
        # P7 metadata routing: field-level metadata (e.g. Spark's
        # enumeration_values, the reference's sonata_writer.cpp:97-128
        # concern) rides the schema state and is reattached on decode
        {f.name: f.metadata for f in df.schema.fields if f.metadata},
    )
    meta = {
        "schema": state["schema"],
        "columns": cols,
        "num_parts": num_parts,
        "layout": layout,
        "cluster_by": cluster_by,
        "salt_by": salt_by,
        "sort_by": sort_by,
        "zorder_by": zorder_by,
        # informational: this RUN's z normalization space (appends
        # re-derive their own — per-snapshot z-spaces are self-contained)
        "zorder_bounds": zbounds,
        "block_rows": block_rows,
        "target_part_rows": target_part_rows,
        "field_metadata": state["field_metadata"],
        # field-id column identity (Iceberg posture): ids assigned at
        # CREATE in column order; appends evolve the resolved state below
        "field_ids": state["field_ids"],
        "next_field_id": state["next_field_id"],
        "engine_version": "0.1.0",
    }
    # part ids are only meaningful under the partitioning config that
    # produced them — resuming under different num_parts / keys / layout
    # would skip the wrong rows. Refuse instead. target_part_rows drives
    # the skew fan-out salt (assign_partitions), so it is part of the
    # partitioning identity for the clustered layout; the aligned layout
    # never salts, so changing it there is harmless.
    meta_path = _j(out_dir, "_table_meta.json")
    pending_path = _j(out_dir, "_pending_append.json")
    part_keys = ("num_parts", "layout", "cluster_by", "salt_by", "columns",
                 "zorder_by")
    if layout != "aligned":
        part_keys = part_keys + ("target_part_rows",)
    run_config = {k: meta[k] for k in part_keys}
    base = 0
    if append and fs.exists(meta_path):
        # evolve the state resolved at the snapshot this append commits
        # onto (the tip, or the branch tip): its field ids, defaults and
        # columns, never a copy a rollback or a branch does not own. The
        # evolved state publishes with the entry, so a failed or refused
        # append never widens the schema.
        snaps = snapshots(out_dir)
        state = evolve_schema(
            _resolve_snapshot_meta(
                out_dir,
                _branch_tip(out_dir, branch, snaps) if branch else None,
                snaps,
            )[0],
            state["schema"], cols, state["field_metadata"],
        )
        if resume and fs.exists(pending_path):
            pend = _read_json(pending_path)
            if pend.get("config") != run_config:
                raise ValueError(
                    "append resume refused: partitioning config changed "
                    f"since the interrupted append: {pend.get('config')} "
                    f"vs {run_config}; rerun with resume=False"
                )
            if pend.get("branch") != branch:
                # the crashed append targeted a different chain: adopting
                # its base would classify ITS checkpointed parts as this
                # run's and commit another chain's rows here
                raise ValueError(
                    f"append resume refused: the interrupted append "
                    f"targeted {pend.get('branch') or 'main'!r}, this run "
                    f"targets {branch or 'main'!r}; resume it there or "
                    f"rerun with resume=False"
                )
            base = pend["base"]
        else:
            base = _next_part_base(out_dir)
            _atomic_write_json(
                pending_path,
                {"base": base, "config": run_config, "branch": branch},
            )
        done = (
            {p for p in completed_parts(out_dir) if p >= base}
            if resume else set()
        )
    else:
        if resume and fs.exists(meta_path):
            prev = _read_json(meta_path)
            diffs = {
                k: (prev.get(k), meta[k])
                for k in part_keys
                # tables written before target_part_rows was recorded resume
                # fine as long as the configured value matches the default
                if prev.get(k, meta[k] if k == "target_part_rows" else None) != meta[k]
            }
            if diffs and completed_parts(out_dir):
                raise ValueError(
                    f"resume refused: partitioning config changed since the "
                    f"checkpointed run: {diffs}; rerun with resume=False to "
                    f"re-encode from scratch"
                )
        _atomic_write_json(meta_path, meta)
        done = completed_parts(out_dir) if resume else set()

    # input_file_name() must bind below any multi-source join, so attach it
    # to the scan before partition assignment (lineage: input files per part)
    src = df.withColumn(FILE_COL, F.input_file_name())
    if zexpr is not None:
        src = zexpr(src)  # attaches ZV_COL (plus any rank-dict joins)
        if zrange_parts:
            src = src.withColumn(ZB_COL, F.shiftright(F.col(ZV_COL), zb_shift))

    aligned_direct = None
    if layout == "aligned":
        # direct-scan plan when the input is a bare local parquet scan:
        # parts are deterministic row-group packs and the kernel reads
        # them with pyarrow, skipping the JVM scan + row->Arrow transpose
        # of every payload byte (see _aligned_direct_splits); any other
        # input falls back to Spark's scan splits below
        aligned_direct = _aligned_direct_splits(spark, df)
        # split composition depends on the file listing AND the split
        # plan parameters — resuming under a different plan would map
        # part ids to different rows. Fingerprint and refuse.
        import hashlib

        if aligned_direct is not None:
            fp_src = json.dumps(aligned_direct[1])
        else:
            fp_src = json.dumps(
                [
                    sorted(df.inputFiles()),
                    spark.conf.get("spark.sql.files.maxPartitionBytes", "128MB"),
                    spark.sparkContext.defaultParallelism,
                ]
            )
        fingerprint = hashlib.sha256(fp_src.encode()).hexdigest()[:16]
        # appends fingerprint their own input plan (the base table's
        # fingerprint describes a different file listing)
        fp_path = _j(
            out_dir, "_aligned_fingerprint_append" if append else "_aligned_fingerprint"
        )
        if resume and fs.exists(fp_path):
            prev_fp = fs.read_bytes(fp_path).decode().strip()
            if prev_fp != fingerprint:
                raise ValueError(
                    "aligned-layout resume refused: input files or scan "
                    f"plan changed since the checkpointed run "
                    f"({prev_fp} != {fingerprint}); rerun with resume=False "
                    "or restore the original session scan configuration"
                )
        else:
            fs.put_atomic(fp_path, fingerprint.encode())
        if aligned_direct is not None:
            desc = [
                (int(i + base), uri, path, int(off), int(cnt))
                for i, (uri, path, off, cnt) in enumerate(aligned_direct[0])
            ]
            if done:
                desc = [d for d in desc if d[0] not in done]
            # drive the kernel with spark.range (pure JVM, one id per
            # partition) and ship the tiny descriptor list inside the
            # kernel closure: a parallelize()+createDataFrame descriptor
            # table would add a pickled-RDD Python scan to EVERY task
            # (measured ~2.6 s of pure overhead for 32 tasks at local[2]
            # — comparable to the whole encode after the native kernel)
            work = spark.range(0, len(desc), 1, max(1, len(desc)))
        else:
            # no exchange: rows stay in scan order within each split
            work = src.withColumn(PART_COL, F.spark_partition_id())
    elif zrange_parts:
        # balanced CONTIGUOUS z-range part assignment: count rows per
        # coarse z-bucket (<= ~4*num_parts buckets — a tiny driver list),
        # greedily bin-pack ADJACENT buckets to the per-part row target,
        # broadcast the bucket->part map. Deterministic for a fixed
        # input (same property every resume path relies on); contiguity
        # is what makes part-level zone maps tight on every z dimension.
        cnt_rows = (
            src.groupBy(ZB_COL).agg(F.count(F.lit(1)).alias("__c")).collect()
        )
        buckets = sorted((int(r[ZB_COL]), int(r["__c"])) for r in cnt_rows)
        total = sum(c for _, c in buckets) or 1
        per_part = max(1, total // num_parts)
        mapping = []
        pid = acc = 0
        for zb, c in buckets:
            if acc >= per_part and pid < num_parts - 1:
                pid += 1
                acc = 0
            mapping.append((zb, pid))
            acc += c
        map_df = spark.createDataFrame(mapping, f"{ZB_COL} long, __sc_zpart int")
        work = (
            src.join(F.broadcast(map_df), on=ZB_COL, how="left")
            .withColumn(
                PART_COL, F.coalesce(F.col("__sc_zpart"), F.lit(0)).cast("int")
            )
            .drop("__sc_zpart")
        )
    else:
        work = assign_partitions(src, num_parts, cluster_by, salt_by, target_part_rows)
    if aligned_direct is None:
        # this run's part ids start at its base; resumed parts drop out
        if base:
            work = work.withColumn(PART_COL, (F.col(PART_COL) + F.lit(base)).cast("int"))
        if done:
            done_df = spark.createDataFrame(
                [(int(p),) for p in sorted(done)], f"{PART_COL} int"
            )
            work = work.join(F.broadcast(done_df), on=PART_COL, how="left_anti")
    if layout != "aligned":
        # logical parts (checkpoint/resume granularity) are decoupled from
        # shuffle tasks (scheduling granularity): each task handles several
        # parts sequentially — 1000 tiny tasks cost more in Python handoff
        # than they buy in balance, while parts must stay small enough that
        # a straggler part can't dominate a wave
        if shuffle_tasks is None:
            par = spark.sparkContext.defaultParallelism
            # scale-adaptive: ~8 logical parts per task amortizes the
            # per-task Python handoff and codec selection, floored at one
            # wave of the cluster, capped at 4 waves for balance headroom
            shuffle_tasks = max(1, min(num_parts, 4 * par, max(par, num_parts // 8)))
        work = work.repartition(shuffle_tasks, PART_COL).sortWithinPartitions(
            PART_COL, *sort_by
        )

    if aligned_direct is not None:
        kernel = _make_aligned_scan_kernel(
            cols, out_dir, block_rows, block_bytes,
            field_ids=state["field_ids"], arrow_types=_spark_schema_arrow(df),
            descriptors=desc,
        )
    else:
        kernel = _make_encode_kernel(cols, out_dir, block_rows, block_bytes,
                                     field_ids=state["field_ids"])
    t0 = time.time()
    summary = work.mapInArrow(kernel, SUMMARY_SPARK_SCHEMA).collect()
    wall = time.time() - t0
    _t_job_end = time.time()

    rows = [r.asDict() for r in summary]
    if rows:
        # the per-part encode summary; each part's lineage stays in its
        # checkpoint file only
        _get_fs(out_dir).append_line(
            _j(out_dir, "_log.jsonl"),
            "".join(
                json.dumps({k: v for k, v in r.items() if k != "lineage"}) + "\n"
                for r in rows
            ),
        )

    # snapshot commit LAST (Iceberg posture): the entry appears only once
    # every part of this run is durably checkpointed, so readers resolve
    # either the previous snapshot or the complete new one
    snaps = snapshots(out_dir)
    committed = None
    new_parts = sorted(done | {int(r["part_id"]) for r in rows})
    if append:
        # a resumed append whose entry already landed (a crash between
        # the log append and the pending marker's removal) must not
        # commit its parts a second time
        named = _log_parts(snaps)
        new_parts = [p for p in new_parts if p not in named]
    # append: commit when this run produced or resumed any uncommitted
    # part (a fully checkpointed append that crashed before its commit
    # still commits on resume); create: commit when work happened or no
    # snapshot exists yet
    entry = None
    if new_parts if append else (rows or not snaps):
        entry = _append_entry(
            state, new_parts, sum(r["n_rows"] for r in rows),
            sum(r["enc_bytes"] for r in rows), layout,
        )
        if snapshot_extra:
            # caller-scoped identity keys (e.g. encode_stream's
            # (checkpoint, batch_id) tag) ride the committed entry so
            # replays can recognize an already-committed unit of work
            entry.update(snapshot_extra)
        # the kernels already shipped each part's full lineage back in
        # the summary — the commit-time manifest folds it with ZERO
        # checkpoint re-reads (resumed `done` parts fall back to theirs)
        pm_new = {
            int(r["part_id"]): _prune_meta_of(r["lineage"], r["n_rows"])
            for r in rows
        }
        if commit:
            committed = _commit_snapshot_entry(
                out_dir, entry, append=append, pm=pm_new, branch=branch,
            )
    for p in (pending_path, _j(out_dir, "_aligned_fingerprint_append")):
        if fs.exists(p):
            fs.remove(p)
    result = {
        "parts_encoded": len(rows),
        "parts_skipped": len(done),
        "n_rows": sum(r["n_rows"] for r in rows),
        "raw_bytes": sum(r["raw_bytes"] for r in rows),
        "enc_bytes": sum(r["enc_bytes"] for r in rows),
        "wall_sec": wall,
        # driver-phase attribution: plan (listing/exchange planning before
        # the job launches), job (the distributed encode), commit (log
        # append + manifest). plan+commit are the FIXED serial cost C that
        # bounds strong scaling — wall(n) = T/n + C — so the bench reads
        # these to see whether a scaling miss is engine overhead or host
        "phase_sec": {
            "plan": round(t0 - _t_enter, 3),
            "job": round(wall, 3),
            "commit": round(time.time() - _t_job_end, 3),
        },
    }
    if committed is not None:
        # the id this run's snapshot committed as (time-travel handle)
        result["snapshot_id"] = committed.get("id")
    if not commit:
        result["pending_commit"] = (
            {"entry": entry, "pm": pm_new} if entry else None
        )
    return result


def snapshots(out_dir: str) -> list[dict]:
    """Committed snapshot entries, oldest first.

    Merges the per-entry objects of ``_snapshots.d/`` in sequence order
    (see :func:`_snapshot_log_append`); a squash object (sentinel first
    line, or the legacy ``.squash.json`` name) replaces everything
    before it, and a legacy ``_snapshots.jsonl`` (the one-file log of
    older engines) is the prefix. Entries are treated as immutable by
    every caller."""
    fs = _get_fs(out_dir)
    d, legacy = _j(out_dir, SNAPDIR), _j(out_dir, LEGACY_SNAPLOG)

    def parse(raw: bytes) -> list[dict]:
        return [json.loads(ln) for ln in raw.decode().splitlines() if ln.strip()]

    # LIST-then-GET race with a concurrent expire (readers take no lock):
    # an object listed here may be deleted before we read it — but every
    # deleter (expire, fresh-run reset) FIRST publishes a squash object
    # that supersedes what it deletes. So on a missing object (the
    # legacy jsonl included), re-list: the fresh listing contains that
    # squash and the merge is complete.
    for _attempt in range(5):
        try:
            out = parse(fs.read_bytes(legacy)) if fs.exists(legacy) else []
            objs = _snapdir_objects(fs, d)
            if not objs:
                return out
            # log objects are write-once, but a table deleted and
            # re-created at this path restarts at seq 1: the lowest
            # object's bytes (one small GET) tell the table apart
            first = (objs[0][1], fs.read_bytes(_j(d, objs[0][1])))
            cached = _SNAP_OBJ_CACHE.get(d)
            if cached is None or cached[0] != first:
                if len(_SNAP_OBJ_CACHE) > 256:  # bound driver memory
                    _SNAP_OBJ_CACHE.clear()
                cached = _SNAP_OBJ_CACHE[d] = (first, {first[0]: parse(first[1])})
            parsed = cached[1]
            for _seq, name in objs:
                lines = parsed.get(name)
                if lines is None:
                    lines = parsed[name] = parse(fs.read_bytes(_j(d, name)))
                if lines and "_squash" in lines[0]:
                    # sentinel first line: squash owns all history before
                    out = list(lines[1:])
                elif name.endswith(".squash.json"):
                    out = list(lines)  # legacy squash-by-filename layout
                else:
                    out.extend(lines)
            return out
        except FileNotFoundError:
            continue
    raise RuntimeError(
        f"snapshot log at {out_dir} kept changing under reads (concurrent "
        f"expire storm?) — retry the operation"
    )


def _tip_entry(snaps: list[dict]) -> dict | None:
    """The MAIN-chain tip: the newest entry not flagged ``branch``.
    Branch commits live in the same log (ids stay globally unique and
    vacuum/expire see their parts) but are bystanders to the main
    table — every default-tip resolution (reads, commit parents, tags,
    expire's retention walk, the changefeed watermark semantics) goes
    through here so a trailing branch commit never shifts what "the
    table" means. None only for an empty log; a non-empty log always
    has a main root (entry 1 is never branch-flagged)."""
    for s in reversed(snaps):
        if not s.get("branch"):
            return s
    return None


def snapshot_parts(
    out_dir: str, snapshot_id: int | None = None, snaps: list[dict] | None = None
) -> list[int]:
    """Resolve the live part set of a snapshot (default: the main-chain
    tip) by walking the parent chain — the only live set: a table with
    no committed snapshot has none (``[]``), whatever parts sit on disk.
    Pass ``snaps`` when the log is already in hand."""
    if snaps is None:
        snaps = snapshots(out_dir)
    if not snaps:
        if snapshot_id is not None:
            raise ValueError(f"table at {out_dir} has no snapshot log")
        return []
    by_id = {s["id"]: s for s in snaps}
    sid = snapshot_id if snapshot_id is not None else _tip_entry(snaps)["id"]
    if sid not in by_id:
        raise ValueError(f"unknown snapshot {sid}; have {sorted(by_id)}")
    chain = []
    cur = by_id.get(sid)
    while cur:
        chain.append(cur)
        cur = by_id.get(cur["parent"])
    live: set[int] = set()
    for s in reversed(chain):  # root -> sid: removals apply before adds
        live -= set(s.get("removed_parts", []))
        live |= set(s["new_parts"])
    return sorted(live)


def _field_ids_of(meta: dict) -> tuple[dict[str, int], int]:
    """(field_ids, next_field_id) of a table meta, synthesizing the
    identity mapping {col: position+1} for tables written before field
    ids existed — the legacy contract IS name-identity, so the synthetic
    ids must be deterministic from column order alone."""
    fids = meta.get("field_ids")
    if fids is None:
        fids = {c: i + 1 for i, c in enumerate(meta["columns"])}
    nxt = meta.get("next_field_id")
    if nxt is None:
        nxt = (max(fids.values()) + 1) if fids else 1
    return dict(fids), int(nxt)


def _needs_remap(snaps) -> bool:
    """Field-id resolution is needed only after a drop_column (retired
    ids → ghosts) or rename_column (moved names → aliases) somewhere in
    the log; plain tables skip the metadata load entirely."""
    return any(
        s.get("drop_column") or s.get("rename_column") for s in snaps or []
    )


def _column_remap(
    out_dir: str,
    columns,
    parts,
    want_ids: dict[str, int] | None,
    snaps: list[dict] | None = None,
    pm: dict | None = None,
) -> dict[int, tuple[frozenset, dict]]:
    """Per-part column resolution under field-id identity:
    ``{part_id: (ghost_columns, alias_map)}`` where

    - a GHOST column must decode as NULL — the part stores the name
      with a RETIRED field id (dropped and re-added; the dead values
      must not resurrect), and
    - an ALIAS maps a requested name to the STORAGE name under which
      this part holds that field id (the column was renamed after the
      part was written; rename is metadata-only, so old parts keep
      their old block-file names).

    Per-part ids ride the prune-meta container ("fids" in checkpoint
    lineage → manifests → part_meta), so resolution survives expire's
    manifest consolidation. Parts or chains without ids (legacy) read
    under name identity — never remapped. Callers gate on
    :func:`_needs_remap`."""
    if not want_ids:
        return {}
    if pm is None:
        pm = part_meta(out_dir, parts=parts, snaps=snaps)
    out: dict[int, tuple[frozenset, dict]] = {}
    for p in parts:
        fids = (pm.get(int(p)) or {}).get("fids") or {}
        if not fids:
            continue
        by_id = {v: k for k, v in fids.items()}
        ghosts: set = set()
        aliases: dict = {}
        for c in columns:
            w = want_ids.get(c)
            if w is None:
                continue
            stored = by_id.get(w)
            if stored == c:
                continue  # stored under the requested name: normal
            if stored is not None:
                aliases[c] = stored  # renamed: stored under the old name
            elif c in fids:
                ghosts.add(c)  # same name, different (retired) field
        if ghosts or aliases:
            out[int(p)] = (frozenset(ghosts), aliases)
    return out


def _resolve_snapshot_meta(
    out_dir: str,
    snapshot_id: int | None = None,
    snaps: list[dict] | None = None,
) -> tuple[dict, int | None, list[dict]]:
    """The schema state at a snapshot (explicit id or branch tip, else
    the main tip) — the one schema authority every reader, rewriter,
    writer and DDL goes through. Returns ``(state, sid, snaps)`` with
    ``state`` = ``columns``, ``schema``, ``field_ids``, ``defaults``,
    ``field_metadata`` and ``next_field_id``.

    The state is the one stamped on the nearest entry of the snapshot's
    parent chain that records a schema (entries stamp ``defaults`` and
    ``field_metadata`` only when non-empty). ``next_field_id`` is one
    past the highest field id anywhere in the log — every chain, every
    rolled-back entry, and the ``last_field_id`` an expire squash
    keeps — so a retired id is never handed out again.

    Legacy fallback, and the only schema read of ``_table_meta.json``:
    chains older than per-snapshot stamps (or tables without a log)
    read the whole state from it; entries older than per-snapshot
    defaults and field metadata take the file's values for the columns
    whose field id still matches."""
    if snaps is None:
        snaps = snapshots(out_dir)
    sid = snapshot_id if snapshot_id is not None else (
        _tip_entry(snaps)["id"] if snaps else None
    )
    tm = _read_json(_j(out_dir, "_table_meta.json"))
    by_id = {s["id"]: s for s in snaps}
    src = by_id.get(sid)
    while src is not None and "schema" not in src:
        src = by_id.get(src["parent"])
    if src is None:
        src = tm
    columns = src.get("columns") or list(src["schema"])
    fids = src.get("field_ids")
    if fids is None:
        fids = {
            c: f for c, f in _field_ids_of(dict(tm, columns=columns))[0].items()
            if c in columns
        }
    tm_fids, tm_next = _field_ids_of(tm)

    def stamped(key):
        if key in src:
            return dict(src[key])
        return {
            c: v for c, v in (tm.get(key) or {}).items()
            if c in fids and tm_fids.get(c) == fids[c]
        }

    state = {
        "columns": list(columns),
        "schema": dict(src["schema"]),
        "field_ids": dict(fids),
        "defaults": stamped("defaults"),
        "field_metadata": stamped("field_metadata"),
        "next_field_id": max(tm_next, _max_field_id(snaps) + 1),
    }
    return state, sid, snaps


def _max_field_id(snaps: list[dict]) -> int:
    """The highest field id the entries name, in their mappings or in
    the ``last_field_id`` an expire squash keeps."""
    return max(
        [0]
        + [f for s in snaps for f in (s.get("field_ids") or {}).values()]
        + [s.get("last_field_id", 0) for s in snaps]
    )


def _schema_stamp(state: dict) -> dict:
    """The entry keys that record a schema state: always the columns,
    types and field ids; defaults and field metadata only when
    non-empty, so plain tables' log entries carry nothing new."""
    out = {k: state[k] for k in ("columns", "schema", "field_ids")}
    for k in ("defaults", "field_metadata"):
        if state.get(k):
            out[k] = state[k]
    return out


def _new_table_state(
    columns: list[str], schema: dict, field_metadata: dict | None = None
) -> dict:
    """The schema state of a table being created: field ids assigned in
    column order (Iceberg posture)."""
    return {
        "columns": list(columns),
        "schema": {c: schema[c] for c in columns},
        "field_ids": {c: i + 1 for i, c in enumerate(columns)},
        "defaults": {},
        "field_metadata": dict(field_metadata or {}),
        "next_field_id": len(columns) + 1,
    }


def evolve_schema(
    state: dict, schema: dict[str, str], columns: list[str],
    field_metadata: dict | None = None,
) -> dict:
    """The schema state an append of ``columns`` / ``schema`` commits
    onto ``state`` (the Iceberg add-column rule). Columns both sides
    have must keep their storage type — retyping raises. Columns on one
    side only are optional: parts without a column's block file decode
    it as NULL, in both directions. Old column order is kept, new
    columns follow under FRESH field ids from ``next_field_id`` (a
    re-added name never gets its retired id back, so old parts read it
    as NULL, not as the dead field's values), and field metadata from
    both sides merges. Pure: returns ``state`` itself when nothing
    changes."""
    if state["schema"] == schema and state["columns"] == columns:
        return state
    if any(state["schema"][c] != schema[c] for c in columns if c in state["schema"]):
        raise ValueError(
            "append refused: shared columns change storage type "
            f"({state['schema']} vs {schema})"
        )
    new_cols = [c for c in columns if c not in state["schema"]]
    fids = dict(state["field_ids"])
    nxt = state["next_field_id"]
    for c in new_cols:
        fids[c] = nxt
        nxt += 1
    cols = state["columns"] + new_cols
    merged = {**state["schema"], **schema}
    return dict(
        state,
        columns=cols,
        schema={c: merged[c] for c in cols},
        field_ids=fids,
        next_field_id=nxt,
        field_metadata={**state["field_metadata"], **(field_metadata or {})},
    )


def _spark_schema_arrow(df: DataFrame) -> dict:
    from pyspark.sql.pandas.types import to_arrow_schema

    sch = to_arrow_schema(df.schema)
    return {f.name: f.type for f in sch}


# ---------------------------------------------------------------------------
# decode


def _to_output_type(arr: pa.Array, target: pa.DataType) -> pa.Array:
    """Cast a decoded block to the Spark-facing Arrow type. u64 -> int64
    is a lossless bit view (Spark has no unsigned types; mirrors the
    encode-side bijection in codecs/api._to_int64); other unsigned types
    widen into the next signed type via a plain cast."""
    if arr.type == target:
        return arr
    if pa.types.is_uint64(arr.type) and pa.types.is_int64(target):
        return arr.view(target)
    return arr.cast(target)


def _intersect_ranges(a, b):
    """Intersection of two sorted half-open row-range lists (the AND
    side of block pruning: per-predicate ranges intersect)."""
    out, i, j = [], 0, 0
    while i < len(a) and j < len(b):
        lo = max(a[i][0], b[j][0])
        hi = min(a[i][1], b[j][1])
        if lo < hi:
            out.append([lo, hi])
        if a[i][1] <= b[j][1]:
            i += 1
        else:
            j += 1
    return out


def _union_ranges(a, b):
    """Union of two sorted half-open row-range lists (merged, sorted) —
    the OR side of DNF pruning."""
    out = []
    for lo, hi in sorted(a + b):
        if out and lo <= out[-1][1]:
            out[-1][1] = max(out[-1][1], hi)
        else:
            out.append([lo, hi])
    return out


def _normalize_where(where) -> list[tuple]:
    """``where`` may be one predicate or a list of them (conjunction).
    Predicate forms: ``(col, lo, hi)`` — range, either bound None for
    half-open — or ``(col, [v1, v2, ...])`` — IN-list membership.
    Returns 3-tuples (range) and 2-tuples (col, tuple-of-values)."""
    if where is None:
        return []

    def one(w):
        if (
            len(w) == 2
            and isinstance(w[0], str)
            and isinstance(w[1], (list, tuple, set, frozenset))
        ):
            vals = list(w[1])
            if not vals:
                raise ValueError("IN predicate needs at least one value")
            return (w[0], tuple(vals))
        if len(w) == 3 and isinstance(w[0], str):
            return tuple(w)
        raise ValueError(
            f"each predicate must be (col, lo, hi) or (col, [values]), got {w!r}"
        )

    if len(where) in (2, 3) and isinstance(where[0], str):
        return [one(where)]
    return [one(w) for w in where]


def _prunable_preds(wheres, defaults):
    """Predicates safe to PRUNE with when ``defaults`` (add_column
    initial defaults) exist: a defaulted column's pre-add parts carry no
    stats and no block file, yet their rows READ as the default — every
    pruning structure would misjudge them (a missing block file prunes
    to nothing, NOT NULL stats say all-NULL), so predicates on such
    columns are dropped from the pruning set (pruning is conservative;
    exactness always comes from the composed filter)."""
    if not defaults:
        return wheres
    return [w for w in wheres if w[0] not in defaults]


def _prunable_dnf(wheres_any, defaults):
    """DNF twin of :func:`_prunable_preds`: dropping a predicate widens
    its disjunct (conservative); a disjunct that becomes EMPTY keeps
    everything, making the whole disjunction unprunable (None)."""
    if not defaults or not wheres_any:
        return wheres_any
    out = []
    for conj in wheres_any:
        kept = [w for w in (conj or []) if w[0] not in defaults]
        if not kept:
            return None  # this disjunct matches anything: no pruning
        out.append(kept)
    return out


def _block_zones(out_dir: str, pid: int, col: str) -> list[dict] | None:
    """The zone of each block of one stored column of a part, in block
    order, from the blocks' meta JSON and row counts (payloads are never
    read): ``{"n", "nc", "mm"}``. None when the part has no block file
    for the column."""
    path = _part_file(out_dir, col, pid)
    if not _exists(path):
        return None
    t = _pq_read(path, columns=["block_id", "n_rows", "meta"]).sort_by("block_id")
    out = []
    for n, meta in zip(t.column("n_rows").to_pylist(), t.column("meta").to_pylist()):
        m = json.loads(meta)
        out.append({"n": n, "nc": m.get("nc"), "mm": m.get("mm")})
    return out


def _keep_row_ranges_multi(
    out_dir: str, pid: int, wheres: list[tuple], aliases: dict | None = None,
    ghosts: frozenset = frozenset(), zones: dict | None = None,
):
    """Row ranges of one part whose blocks no predicate of the
    conjunction refutes (:func:`_refutes`), merged and sorted; None =
    nothing pruned. Each predicate column's block zones are read once
    (``zones`` caches them across calls for one part), under the part's
    storage name: ``aliases`` map a renamed column to it. A ghost, or a
    column without a block file, is one all-NULL zone over the part."""
    al = aliases or {}
    zones = {} if zones is None else zones
    ranges = None
    for col in dict.fromkeys(w[0] for w in wheres):
        tests = [_refutes(w) for w in wheres if w[0] == col]
        if col in ghosts:
            blocks = None
        else:
            c = al.get(col, col)
            if c not in zones:
                zones[c] = _block_zones(out_dir, pid, c)
            blocks = zones[c]
        if blocks is None:
            if any(t(_ALL_NULL) for t in tests):
                return []
            continue
        kept: list[list[int]] = []
        off = 0
        cut = False
        for z in blocks:
            n = z["n"]
            if any(t(z) for t in tests):
                cut = True
            elif n:
                if kept and kept[-1][1] == off:
                    kept[-1][1] = off + n
                else:
                    kept.append([off, off + n])
            off += n
        if cut:
            ranges = kept if ranges is None else _intersect_ranges(ranges, kept)
            if not ranges:
                return []
    return ranges


def _keep_row_ranges_dnf(
    out_dir: str, pid: int, wheres: list[tuple], wheres_any: list[list[tuple]],
    aliases: dict | None = None, ghosts: frozenset = frozenset(),
):
    """Block ranges surviving ``wheres`` (conjunction) AND the
    disjunction of ``wheres_any``'s conjunctions: each disjunct's ranges
    UNION (a row matching any disjunct must be read), the result
    intersects the conjunctive side. None = nothing pruned. ``aliases``
    and ``ghosts`` resolve field ids (see _keep_row_ranges_multi)."""
    zones: dict = {}
    ranges = (
        _keep_row_ranges_multi(out_dir, pid, wheres, aliases, ghosts, zones)
        if wheres else None
    )
    if wheres_any:
        u = None
        for conj in wheres_any:
            r = _keep_row_ranges_multi(out_dir, pid, conj, aliases, ghosts, zones)
            if r is None:
                break  # this disjunct keeps everything
            u = r if u is None else _union_ranges(u, r)
        else:
            ranges = u if ranges is None else _intersect_ranges(ranges, u)
    return ranges


# per-process I/O accounting for the pruned-decode path (tests assert that
# block pruning skips BYTES, not just decode calls; workers each keep their
# own counters — read them only when calling the decode helpers in-process)
_IO_COUNTERS = {"rg_read": 0, "rg_total": 0, "bytes_read": 0, "bytes_total": 0}


def _reset_io_counters():
    for k in _IO_COUNTERS:
        _IO_COUNTERS[k] = 0


def _decode_column_ranges(out_dir, col, pid, target, ranges):
    """Decode only the blocks of one column overlapping the kept row
    ranges, slicing each to the exact intersection. All columns of a part
    share one row order, so identical ranges keep columns aligned even
    when their block grids diverge.

    Blocks map 1:1 to parquet row groups (`_atomic_write_blocks`), so
    only the surviving blocks' payload bytes are read from disk
    (`read_row_groups`); files written before the one-row-group-per-block
    layout fall back to a whole-file read (decode is still skipped for
    pruned blocks — CPU savings only). A missing block file (column added
    by schema evolution after this part) yields nulls over the ranges."""
    path = _part_file(out_dir, col, pid)
    if not _exists(path):
        pieces = [pa.nulls(b - a, type=target) for a, b in ranges if b > a]
        return pa.chunked_array(pieces, type=target) if pieces else pa.chunked_array(
            [pa.array([], type=target)], type=target
        )
    pf = _pq_file(path)
    idx = pf.read(columns=["block_id", "n_rows"])
    blk = idx.column("block_id").to_pylist()
    nrs = idx.column("n_rows").to_pylist()
    order = sorted(range(len(blk)), key=lambda i: blk[i])  # file row -> block order
    starts = [0]
    for bi in order:
        starts.append(starts[-1] + nrs[bi])
    import bisect

    n_blocks = len(order)
    needed: list[int] = []  # block-order indices, ascending
    for a, bnd in ranges:
        first = bisect.bisect_right(starts, a) - 1
        for b in range(first, n_blocks):
            if starts[b] >= bnd:
                break
            if not needed or needed[-1] != b:
                needed.append(b)
    needed = sorted(set(needed))

    one_rg_per_block = pf.metadata.num_row_groups == len(blk)
    _IO_COUNTERS["rg_total"] += len(blk)
    _IO_COUNTERS["bytes_total"] += sum(
        pf.metadata.row_group(g).total_byte_size
        for g in range(pf.metadata.num_row_groups)
    )
    if one_rg_per_block:
        rgs = sorted(order[b] for b in needed)  # file-row == row-group index
        t = (
            pf.read_row_groups(rgs, columns=["block_id", "meta", "payload"])
            if rgs
            else None
        )
        _IO_COUNTERS["rg_read"] += len(rgs)
        _IO_COUNTERS["bytes_read"] += sum(
            pf.metadata.row_group(g).total_byte_size for g in rgs
        )
    else:  # legacy single-row-group file
        t = pf.read(columns=["block_id", "meta", "payload"])
        _IO_COUNTERS["rg_read"] += pf.metadata.num_row_groups
        _IO_COUNTERS["bytes_read"] += sum(
            pf.metadata.row_group(g).total_byte_size
            for g in range(pf.metadata.num_row_groups)
        )
    by_block: dict[int, int] = (
        {t.column("block_id")[r].as_py(): r for r in range(t.num_rows)} if t is not None else {}
    )

    cache: dict[int, pa.Array] = {}
    pieces = []
    for a, bnd in ranges:
        first = bisect.bisect_right(starts, a) - 1
        for b in range(first, n_blocks):
            if starts[b] >= bnd:
                break
            if b not in cache:
                r = by_block[blk[order[b]]]
                cache[b] = _to_output_type(
                    decode_array(
                        t.column("payload")[r].as_py(),
                        json.loads(t.column("meta")[r].as_py()),
                    ),
                    target,
                )
            s = max(a, starts[b])
            e = min(bnd, starts[b + 1])
            if e > s:
                pieces.append(cache[b].slice(s - starts[b], e - s))
    return pa.chunked_array(pieces, type=target) if pieces else pa.chunked_array(
        [pa.array([], type=target)], type=target
    )


def _part_row_count(out_dir: str, pid: int) -> int:
    t = _pq_read(_part_file(out_dir, CHECKPOINT_COL, pid), columns=["n_rows"])
    return int(t.column("n_rows")[0].as_py())


def _decode_part_batches_ranged(
    out_dir: str, columns, arrow_schema: pa.Schema, pid: int, ranges=None,
    ghost_cols: frozenset = frozenset(),
    aliases: dict | None = None,
    fill: dict | None = None,
):
    """Decode one part's requested columns into Arrow batches, restricted
    to the given row ranges (None = all rows, [] = nothing) — the part
    decoder of every reader and rewrite (:meth:`_ReadPlan.batches`).

    - With ranges, only the blocks overlapping them are read and decoded
      (:func:`_decode_column_ranges`); without, each column file is read
      whole. Block grids are per column (the byte cap can split a wide
      column finer than a narrow one), so each column reassembles
      independently as a chunked array — zero-copy concat — and Arrow
      re-slices aligned output batches.
    - A column with no block file for this part predates a schema
      evolution: it decodes as nulls. ``ghost_cols`` are columns whose
      block files belong to a RETIRED field id (dropped and re-added; see
      :func:`_column_remap`): nulls too, never the dead field's values.
    - ``aliases`` maps a requested name to the STORAGE name this part
      holds the field under (rename_column is metadata-only).
    - ``fill`` carries add_column initial DEFAULTS: they apply exactly
      where an absent or ghosted column would yield NULL — rows written
      after the add keep their stored values, including stored NULLs."""
    if ranges is not None and not ranges:
        return  # every block of this part pruned
    per_col = []
    for col in columns:
        target = arrow_schema.field(col).type
        stored = (aliases or {}).get(col, col)
        path = _part_file(out_dir, stored, pid)
        if col in ghost_cols or not _exists(path):
            n = (
                _part_row_count(out_dir, pid) if ranges is None
                else sum(e - s for s, e in ranges)
            )
            dv = (fill or {}).get(col)
            arr = (
                pa.nulls(n, type=target) if dv is None
                else pa.array([dv] * n, type=target)
            )
            per_col.append(pa.chunked_array([arr], type=target))
        elif ranges is not None:
            per_col.append(
                _decode_column_ranges(out_dir, stored, pid, target, ranges)
            )
        else:
            t = _pq_read(path).sort_by("block_id")
            per_col.append(pa.chunked_array(
                [
                    _to_output_type(
                        decode_array(
                            t.column("payload")[b].as_py(),
                            json.loads(t.column("meta")[b].as_py()),
                        ),
                        target,
                    )
                    for b in range(t.num_rows)
                ],
                type=target,
            ))
    tbl = pa.Table.from_arrays(per_col, schema=arrow_schema)
    yield from tbl.to_batches(max_chunksize=65536)


def _split_runs(n: int, slots: int) -> list[tuple[int, int]]:
    """The task rule of every Python stage: ``min(n, slots)`` contiguous
    ``[a, b)`` runs over ``range(n)``, in order (one run when n = 0).
    Each Python task pays a fixed floor (~0.2-0.3 s measured at local[2]
    on a 4-vCPU VM) before doing any work, so a second wave of tasks
    costs a floor per slot for no parallelism."""
    k = max(1, min(n, slots))
    cuts = [i * n // k for i in range(k + 1)]
    return list(zip(cuts, cuts[1:]))


def _run_tasks(spark: SparkSession, tasks: list, fn, ddl: str) -> DataFrame:
    """One Python task per entry of ``tasks``: ``fn(task)`` yields Arrow
    record batches of schema ``ddl``. ``spark.range`` drives the kernel
    (pure JVM) with the tasks in the kernel closure — a
    ``createDataFrame(plan).repartition()`` driver table would add a
    pickled-RDD Python scan plus an exchange to every job."""

    def kernel(batches):
        for batch in batches:
            for idx in batch.column(0).to_pylist():
                yield from fn(tasks[idx])

    return spark.range(0, len(tasks), 1, len(tasks)).mapInArrow(kernel, ddl)


@dataclasses.dataclass(frozen=True)
class _ReadPlan:
    """One read, planned on the driver by :func:`_plan_read` and decoded
    on executors by :meth:`batches` — the single read path behind
    ``decode_table``, ``format("sparkcodec")``, its changefeed and the
    maintenance rewrites. Picklable: it rides the ``mapInArrow``
    closures and the data sources' ``InputPartition`` values."""

    out_dir: str
    columns: list
    types: dict  # {column: storage type name} of the requested columns
    fill: dict  # add_column defaults of the requested columns
    wheres: list  # prunable conjunction
    wheres_any: list | None  # prunable DNF; None = no disjunction
    parts: list  # kept part ids, in part order
    remap: dict  # {part_id: (ghosts, aliases)} of kept parts
    field_metadata: dict
    field_ids: dict  # {column: field id} at the planned snapshot

    @property
    def arrow_schema(self) -> pa.Schema:
        return pa.schema(
            [(c, _DECODE_ARROW_OF[self.types[c]]) for c in self.columns]
        )

    @property
    def spark_ddl(self) -> str:
        return ", ".join(
            f"`{c}` {_SPARK_TYPE_OF[self.types[c]]}" for c in self.columns
        )

    def tasks(self, slots: int) -> list[_ReadPlan]:
        """Sub-plans, one per run of :func:`_split_runs` (part order
        kept)."""
        return [
            dataclasses.replace(
                self,
                parts=self.parts[a:b],
                remap={p: self.remap[p] for p in self.parts[a:b] if p in self.remap},
            )
            for a, b in _split_runs(len(self.parts), slots)
        ]

    def part_batches(self, pid: int):
        """Decode one part: block ranges from the prunable predicates,
        then only the surviving blocks of each column."""
        gh, al = self.remap.get(pid, (frozenset(), {}))
        ranges = _keep_row_ranges_dnf(
            self.out_dir, pid, self.wheres, self.wheres_any, al, gh
        )
        yield from _decode_part_batches_ranged(
            self.out_dir, self.columns, self.arrow_schema, pid, ranges, gh,
            al, self.fill,
        )

    def batches(self):
        """Decode every part of the plan."""
        for pid in self.parts:
            yield from self.part_batches(pid)


def _plan_read(
    out_dir: str,
    columns: list[str] | None = None,
    *,
    snapshot_id: int | None = None,
    as_of=None,
    ref: str | None = None,
    parts=None,
    wheres: list[tuple] = (),
    wheres_any: list[list[tuple]] | None = None,
) -> _ReadPlan:
    """Plan a read: the one place the read rules live, applied once and
    in this order.

    - Part set: the snapshot (tip, ``snapshot_id``, ``as_of`` or
      ``ref``; a table with no committed snapshot reads empty), or the
      explicit ``parts`` — with one snapshot-log read. The read schema is
      the one recorded at the resolved snapshot.
    - Defaults first: predicates on add_column-defaulted columns leave
      the pruning sets. Their pre-add parts carry no stats and no block
      file yet READ as the default, so every pruning structure would
      misjudge them.
    - Field-id resolution (ghosts and aliases, after a drop_column /
      rename_column) is computed next, for the decoded and the predicate
      columns.
    - Part pruning per conjunction and DNF disjunct, by the zone rule
      (:func:`_refutes`): a part is dropped when some predicate refutes
      its zone — the part's null count, [min, max], value set and bloom
      for the column, looked up under the part's storage name; a ghost
      or a column the part does not hold is all-NULL.
    - Block ranges (the same rule over each block's zone,
      :func:`_keep_row_ranges_dnf`) and decoding happen per part in
      :meth:`_ReadPlan.batches`; :meth:`_ReadPlan.tasks` splits the plan.

    ``wheres`` / ``wheres_any`` are normalized predicates
    (:func:`_normalize_where`, plus the data source's null tests).
    Pruning is conservative: compose with an exact filter."""
    if sum(x is not None for x in (snapshot_id, as_of, ref)) > 1:
        raise ValueError("pass at most one of snapshot_id / as_of / ref, not both")
    snaps = snapshots(out_dir)
    if as_of is not None:
        snapshot_id = snapshot_id_as_of(out_dir, as_of, snaps=snaps)
    if ref is not None:
        snapshot_id = resolve_ref(out_dir, ref)
    # the read schema is the one recorded AT the resolved snapshot — for
    # time travel a later add-column evolution must not leak into the
    # past, and for latest reads a rollback across an evolution narrows
    # back to the restored snapshot's columns
    meta, sid, snaps = _resolve_snapshot_meta(out_dir, snapshot_id, snaps)
    columns = list(columns or meta["columns"])
    unknown = sorted(set(columns) - set(meta["schema"]))
    if unknown:
        hint = (
            f"not in the schema of snapshot {sid} ({meta['columns']}); a "
            f"rollback may have narrowed the tip schema — pass snapshot_id "
            f"to read an evolved snapshot"
            if sid is not None
            else f"not in the table schema ({meta['columns']})"
        )
        raise ValueError(f"columns {unknown} {hint}")
    # snapshot isolation: never read parts of an uncommitted write
    if parts is None:
        parts = snapshot_parts(out_dir, snapshot_id, snaps=snaps)
    parts = sorted({int(p) for p in parts})
    fids = meta["field_ids"]
    defaults = meta["defaults"]
    wheres = _prunable_preds(list(wheres), defaults)
    wheres_any = _prunable_dnf(wheres_any, defaults) or None
    need_remap = _needs_remap(snaps) and sid is not None
    pm = None
    if wheres or wheres_any or need_remap:
        # one manifest-backed read feeds every pruning dimension AND the
        # remap — O(#snapshots) metadata files, not O(#parts) opens
        pm = part_meta(out_dir, parts=parts, snaps=snaps)
    remap = {}
    if need_remap:
        # predicate columns resolve too: a filter on a renamed column
        # must find its storage name even when it is not decoded
        pred_cols = {w[0] for conj in [wheres, *(wheres_any or [])] for w in conj}
        remap = _column_remap(
            out_dir, [*columns, *sorted(pred_cols - set(columns))], parts,
            fids, snaps=snaps, pm=pm,
        )
    if wheres:
        parts = _prune_parts_conj(wheres, parts, pm, remap)
    if wheres_any:
        # DNF: a part survives if ANY disjunct keeps it
        keep: set = set()
        for conj in wheres_any:
            keep |= set(_prune_parts_conj(conj, parts, pm, remap))
        parts = [p for p in parts if p in keep]
    return _ReadPlan(
        out_dir=out_dir,
        columns=columns,
        types={c: meta["schema"][c] for c in columns},
        fill={c: v for c, v in defaults.items() if c in columns},
        wheres=wheres,
        wheres_any=wheres_any,
        parts=parts,
        remap={p: remap[p] for p in parts if p in remap},
        field_metadata={
            c: md for c, md in meta["field_metadata"].items() if c in columns
        },
        field_ids={c: fids[c] for c in columns if c in fids},
    )


def snapshot_id_as_of(out_dir: str, ts, snaps: list[dict] | None = None) -> int:
    """Time travel by TIMESTAMP: the id of the latest snapshot committed
    at or before ``ts`` (unix seconds, ISO-8601 string — naive strings
    read as UTC — or a datetime). Entries written before commit
    timestamping count as infinitely old, so they are always eligible."""
    import datetime as _dt

    if isinstance(ts, str):
        # ISO first: digit-only forms like "20260817" are valid basic
        # ISO dates and must NOT be read as unix seconds near 1970;
        # plain unix-second strings ("1786952327.5") fail isoformat and
        # fall through to float. The explicit 8-digit match keeps the
        # basic-format date working on Python < 3.11, where fromisoformat
        # rejects "YYYYMMDD" and the value would otherwise silently
        # time-travel to 1970-era unix seconds.
        if re.fullmatch(r"\d{8}", ts):
            ts = f"{ts[:4]}-{ts[4:6]}-{ts[6:]}"
        try:
            d = _dt.datetime.fromisoformat(ts)
        except ValueError:
            t = float(ts)
        else:
            if d.tzinfo is None:
                d = d.replace(tzinfo=_dt.timezone.utc)
            t = d.timestamp()
    elif isinstance(ts, _dt.datetime):
        d = ts if ts.tzinfo else ts.replace(tzinfo=_dt.timezone.utc)
        t = d.timestamp()
    else:
        t = float(ts)
    if snaps is None:
        snaps = snapshots(out_dir)
    # main-chain semantics: a branch commit is not "the table at ts"
    eligible = [
        s for s in snaps if not s.get("branch") and float(s.get("ts", 0)) <= t
    ]
    if not eligible:
        raise ValueError(
            f"no snapshot of {out_dir} existed at {ts!r} (earliest is "
            f"{snaps[0].get('ts') if snaps else None})"
        )
    return eligible[-1]["id"]


def decode_table(
    spark: SparkSession,
    out_dir: str,
    columns: list[str] | None = None,
    snapshot_id: int | None = None,
    where: tuple | list | None = None,
    where_any: list | None = None,
    as_of=None,
    ref: str | None = None,
    _parts: list[int] | None = None,
) -> DataFrame:
    """Reconstruct the table (or a column subset — file-level pruning).

    Unsigned stored types come back as Spark signed types: u8/u16/u32
    widen losslessly (smallint/int/bigint), u64 is the int64 bit view
    (the same bijection the encoder applies — values >= 2^63 appear
    negative but round-trip bit-exactly). Field metadata recorded at
    encode time (P7) is reattached to the output schema.

    ``where`` is one predicate or a LIST of them — a conjunction, like
    ``lang='de' AND doc_id BETWEEN a AND b``. Predicate forms:
    ``(col, lo, hi)`` — range, either bound None for half-open — and
    ``(col, [v1, v2, ...])`` — IN-list membership. Each predicate prunes
    at two levels via zone maps: whole parts through the checkpoint
    lineage before any task runs (point and IN predicates additionally
    refute through exact value sets and bloom filters — lists probe all
    values at once), then individual blocks inside surviving parts
    through per-block [min, max] metadata — excluded blocks' payloads
    are never decoded. Multi-predicate block pruning intersects the
    per-column row ranges (the same plan the DataSource reader builds
    from pushed filters, see :func:`_plan_read`), and the surviving ranges are
    applied identically to every requested column (late
    materialization; one shared row order per part keeps columns aligned
    across divergent block grids). Pruning is conservative — kept blocks
    may still hold non-matching rows, so compose with ``df.filter`` for
    exact results; on a cluster-keyed, sort-keyed table a key predicate
    typically skips all but a handful of blocks.

    ``where_any`` is a DISJUNCTION of conjunctions (DNF), each in the
    same form ``where`` takes: a part/block survives when ANY disjunct
    keeps it (per-disjunct pruning, then union), and the result
    intersects ``where``'s conjunctive pruning when both are given —
    ``(A AND B) AND (C OR D)`` maps to ``where=[A, B],
    where_any=[C, D]``.

    ``as_of`` time-travels by timestamp instead of id: the latest
    snapshot committed at or before it (see :func:`snapshot_id_as_of`).
    ``ref`` time-travels by NAMED TAG (see :func:`tag_snapshot`) —
    tagged snapshots survive ``expire_snapshots``, so a ref read is
    reproducible regardless of retention.
    """
    plan = _plan_read(
        out_dir, columns, snapshot_id=snapshot_id, as_of=as_of, ref=ref,
        parts=_parts,  # internal: optimize_table's partial rewrite
        wheres=_normalize_where(where),
        wheres_any=[_normalize_where(w) for w in (where_any or [])],
    )
    out = _run_tasks(
        spark, plan.tasks(spark.sparkContext.defaultParallelism),
        _ReadPlan.batches, plan.spark_ddl,
    )
    for c, md in plan.field_metadata.items():
        out = out.withMetadata(c, md)
    return out


_SPARK_TYPE_OF = {
    "i8": "tinyint",
    "i16": "smallint",
    "i32": "int",
    "i64": "long",
    "u8": "smallint",
    "u16": "int",
    "u32": "long",
    "u64": "long",  # int64 bit view, matching the encode-side bijection
    "bool": "boolean",
    "f32": "float",
    "f64": "double",
    "str": "string",
    "lstr": "string",
    "bin": "binary",
    "lbin": "binary",
    "date32": "date",
    "ts_us": "timestamp_ntz",
    "ts_us_utc": "timestamp",
}

# Arrow types the decode kernel emits (must agree with _SPARK_TYPE_OF:
# Spark has no unsigned types, so unsigned storage types widen/bit-view
# into signed Arrow types before crossing into the JVM)
from .codecs.api import _PA_BY_NAME as _STORAGE_ARROW_OF  # noqa: E402

_DECODE_ARROW_OF = dict(_STORAGE_ARROW_OF)
_DECODE_ARROW_OF.update(
    {"u8": pa.int16(), "u16": pa.int32(), "u32": pa.int64(), "u64": pa.int64()}
)


def read_lineage(spark: SparkSession, out_dir: str) -> DataFrame:
    """Per-partition checkpoint/lineage rows as a DataFrame. Requires a
    Spark-readable path (local/shared mount; on a real cluster any
    Hadoop-FS URL Spark itself resolves)."""
    path = _j(out_dir, "blocks", f"col={CHECKPOINT_COL}")
    return spark.read.parquet(path).select(
        "part_id", "n_rows", "raw_bytes", "enc_bytes", F.col("meta").alias("lineage")
    )


def blocks_stats(spark: SparkSession, out_dir: str) -> DataFrame:
    """Per-(column, codec) byte accounting over all block files (A7)."""
    # recursiveFileLookup: the physical files already carry `col`; hive
    # col= discovery would clash with it
    path = _j(out_dir, "blocks")
    df = (
        spark.read.option("recursiveFileLookup", "true")
        .schema(
            "col string, part_id int, block_id int, codec string, n_rows long, "
            "raw_bytes long, enc_bytes long, meta string, payload binary"
        )
        .parquet(path)
    )
    return (
        df.filter(F.col("col") != CHECKPOINT_COL)
        .groupBy("col", "codec")
        .agg(
            F.count(F.lit(1)).alias("n_blocks"),
            F.sum("n_rows").alias("n_rows"),
            F.sum("raw_bytes").alias("raw_bytes"),
            F.sum("enc_bytes").alias("enc_bytes"),
        )
    )


# checkpoint files are immutable once written (atomic publish, ids never
# reused for a different payload), so a watch_encode loop over many parts
# reads each checkpoint ONCE per process instead of once per tick
_PROGRESS_CACHE: dict[str, dict[int, tuple[int, int]]] = {}


def encode_progress(out_dir: str, num_parts: int | None = None) -> dict:
    """T5 progress snapshot: parts completed / total, row+byte counts so
    far — derived from the durable per-part checkpoint files, so it
    works from any process while (or after) an encode runs."""
    done = completed_parts(out_dir)
    meta_path = _j(out_dir, "_table_meta.json")
    if num_parts is None and _exists(meta_path):
        num_parts = _read_json(meta_path).get("num_parts")
    cache = _PROGRESS_CACHE.setdefault(out_dir, {})
    rows = enc = 0
    for pid in done:
        if pid not in cache:
            t = _pq_read(
                _part_file(out_dir, CHECKPOINT_COL, pid),
                columns=["n_rows", "enc_bytes"],
            )
            cache[pid] = (
                int(t.column("n_rows")[0].as_py()),
                int(t.column("enc_bytes")[0].as_py()),
            )
        r, e = cache[pid]
        rows += r
        enc += e
    total = num_parts if num_parts and num_parts > 0 else None
    return {
        "parts_done": len(done),
        "parts_total": total,
        "fraction": (len(done) / total) if total else None,
        "rows_done": rows,
        "enc_bytes_done": enc,
    }


def watch_encode(out_dir: str, num_parts: int | None = None, interval: float = 1.0):
    """Generator yielding progress snapshots at most once per ``interval``
    seconds until all parts are complete — the Spark-side analog of the
    reference's rate-limited progress bar (src/progress.hpp:31-178,
    <=1 redraw/s). Use: ``for snap in watch_encode(dir, n): print(snap)``."""
    while True:
        snap = encode_progress(out_dir, num_parts)
        yield snap
        if snap["parts_total"] and snap["parts_done"] >= snap["parts_total"]:
            return
        time.sleep(interval)


# ---------------------------------------------------------------------------
# table maintenance: compaction + snapshot expiry (the Iceberg pair for
# the measured small-part overhead: per-part fixed costs dominate under
# ~8 MB — see BENCH.md)


_REWRITE_DDL = "gi int, new_pid int, n_before long, n_after long, enc_bytes long"
_REWRITE_SCHEMA = pa.schema([
    ("gi", pa.int32()), ("new_pid", pa.int32()), ("n_before", pa.int64()),
    ("n_after", pa.int64()), ("enc_bytes", pa.int64()),
])


def _rewrite_group(
    plan: _ReadPlan, block_rows: int, gi: int, group: list[int],
    new_pid: int, mask=None,
) -> dict:
    """Rewrite group ``gi`` (parts ``group``) into part ``new_pid``:
    decode its parts through ``plan``, drop the rows ``mask`` marks (a
    picklable callable: arrow Table -> boolean mask of rows to DELETE,
    null-safe), and re-encode the rest through the standard part kernel
    with a fresh codec selection. A masked group that loses no row is
    not written (its part keeps its id), nor one that loses every row.
    Returns the group's summary row (``new_pid`` -1 = nothing written)."""
    import pyarrow.compute as pc

    tbl = pa.Table.from_batches(
        [b for pid in group for b in plan.part_batches(pid)],
        schema=plan.arrow_schema,
    )
    n_before = tbl.num_rows
    if mask is not None:
        tbl = tbl.filter(pc.invert(mask(tbl)))
    wrote, enc = -1, 0
    if mask is None or 0 < tbl.num_rows < n_before:
        r = _encode_one_part(
            new_pid, tbl.to_batches(max_chunksize=65536), plan.columns,
            plan.out_dir, block_rows, 32 << 20, set(), {},
            field_ids=plan.field_ids,
        )
        wrote, enc = new_pid, r["enc_bytes"]
    return {"gi": gi, "new_pid": wrote, "n_before": n_before,
            "n_after": tbl.num_rows, "enc_bytes": enc}


def _rewrite_summary(plan: _ReadPlan, groups: list[list[int]], rows) -> dict:
    """What a rewrite did, from its summary rows: ``removed_parts``
    (every part of a group that was written or lost rows),
    ``new_parts``, ``rows_deleted``, the written ``n_rows`` and
    ``enc_bytes``, plus the planned snapshot's schema state under
    ``stamp`` for the committed entry to carry."""
    return {
        "removed_parts": sorted(
            p for r in rows if r["new_pid"] >= 0 or r["n_after"] < r["n_before"]
            for p in groups[r["gi"]]
        ),
        "new_parts": sorted(r["new_pid"] for r in rows if r["new_pid"] >= 0),
        "rows_deleted": int(sum(r["n_before"] - r["n_after"] for r in rows)),
        "n_rows": int(sum(r["n_after"] for r in rows if r["new_pid"] >= 0)),
        "enc_bytes": int(sum(r["enc_bytes"] for r in rows)),
        "stamp": _schema_stamp({
            "columns": plan.columns, "schema": plan.types,
            "field_ids": plan.field_ids, "defaults": plan.fill,
            "field_metadata": plan.field_metadata,
        }),
    }


def _rewrite_parts(
    spark: SparkSession,
    out_dir: str,
    groups: list[list[int]],
    base: int,
    block_rows: int,
    *,
    snapshot_id: int | None = None,
    mask=None,
) -> dict:
    """The part rewriter of compaction, row-level delete and merge: group
    ``i`` of ``groups`` becomes part ``base + i`` (see
    :func:`_rewrite_group`). Rewrites resolve the schema and field ids
    at ``snapshot_id`` (default: the tip; delete and merge pass the
    branch tip) through :func:`_plan_read`, exactly like readers do: the
    snapshot's columns and types, add_column defaults, and per-part
    ghosts and aliases. So a rollback or a branch rewrites under its own
    schema, and the new parts carry that snapshot's field ids. One Spark
    job of
    ``min(len(groups), slots)`` Python tasks on ``spark.range``.
    Returns :func:`_rewrite_summary`."""
    plan = _plan_read(
        out_dir, snapshot_id=snapshot_id, parts=[p for g in groups for p in g]
    )
    jobs = [(gi, g, base + gi) for gi, g in enumerate(groups)]
    tasks = [
        jobs[a:b] for a, b in
        _split_runs(len(jobs), spark.sparkContext.defaultParallelism)
    ]

    def run(task):
        for gi, g, new_pid in task:
            row = _rewrite_group(plan, block_rows, gi, g, new_pid, mask)
            yield pa.RecordBatch.from_pylist([row], schema=_REWRITE_SCHEMA)

    rows = _run_tasks(spark, tasks, run, _REWRITE_DDL).collect()
    return _rewrite_summary(plan, groups, rows)


@_with_writer_lock("compact")
def compact_table(
    spark: SparkSession,
    out_dir: str,
    target_part_rows: int = 262_144,
) -> dict:
    """Merge small live parts into bigger ones as a NEW snapshot.

    Old part files stay on disk so earlier snapshots remain
    time-travelable (Iceberg posture: compaction rewrites the live set,
    `expire_snapshots` reclaims bytes). Groups are consecutive live
    parts bin-packed to ``target_part_rows``; groups of one part are
    left alone. One Spark job (:func:`_rewrite_parts`): each task decodes
    its groups' parts and re-encodes them through the standard part
    kernel (codec re-selection included — merged parts may pick better
    codecs from fuller samples). The rewrite resolves the schema and
    field ids at the tip, like readers do, and the entry stamps them: a
    rollback across a schema change compacts under the restored schema.
    The entry commits under the writer lease the whole call holds.
    """
    layout = _read_json(_j(out_dir, "_table_meta.json"))
    live = snapshot_parts(out_dir)
    rows_of = {p: d["n_rows"] for p, d in part_meta(out_dir, parts=live).items()}
    groups: list[list[int]] = []
    cur: list[int] = []
    cur_rows = 0
    for pid in live:
        n = int(rows_of.get(pid, 0))
        if cur and cur_rows + n > target_part_rows:
            groups.append(cur)
            cur, cur_rows = [], 0
        cur.append(pid)
        cur_rows += n
    if cur:
        groups.append(cur)
    groups = [g for g in groups if len(g) >= 2]
    if not groups:
        return {"groups": 0, "parts_removed": 0, "parts_created": 0}

    rw = _rewrite_parts(
        spark, out_dir, groups, _next_part_base(out_dir),
        layout.get("block_rows") or 65536,
    )
    removed, created = rw["removed_parts"], rw["new_parts"]

    # CONSOLIDATED manifest: cover the full post-compaction live set
    # (survivors folded from the older manifests + the merged parts from
    # their fresh checkpoints), so part_meta's newest-first early exit
    # satisfies any later pruned read from THIS one file — a 10k-commit
    # table stops paying a 10k-manifest cold-driver read at its next
    # compaction (the Iceberg rewrite_manifests idiom).
    survivors = sorted(set(live) - set(removed))
    _commit_snapshot_entry(out_dir, {
        "new_parts": created,
        "removed_parts": removed,
        "n_rows": rw["n_rows"],
        "enc_bytes": rw["enc_bytes"],
        "layout": layout.get("layout", "clustered"),
        **rw["stamp"],
        "compaction": True,
        "ts": time.time(),
        "manifest": write_manifest(
            out_dir, survivors + created,
            pm=part_meta(out_dir, parts=survivors),
        ),
        "manifest_full": True,
    }, append=True)
    return {
        "groups": len(groups),
        "parts_removed": len(removed),
        "parts_created": len(created),
    }


def _storage_roundtrips(tname: str) -> bool:
    """Whether a storage type survives decode->Spark->re-encode with the
    same name: u8/u16/u32/u64 and lstr/lbin don't (Spark has no unsigned
    or large types, so the loop launders them into i16/i32/i64/str/bin).
    Uses the engine's own decode mapping (_SPARK_TYPE_OF), not pyspark's
    generic from_arrow_type, so ts_us -> timestamp_ntz -> ts_us counts
    as the round-trip it really is."""
    from pyspark.sql.pandas.types import to_arrow_type
    from pyspark.sql.types import _parse_datatype_string

    try:
        spark_t = _parse_datatype_string(_SPARK_TYPE_OF[tname])
        return type_name(to_arrow_type(spark_t)) == tname
    except Exception:
        return False


@_with_writer_lock("optimize")
def optimize_table(
    spark: SparkSession,
    out_dir: str,
    *,
    zorder_by: list[str] | None = None,
    sort_by: list[str] | None = None,
    cluster_by: list[str] | None = None,
    salt_by: list[str] | None = None,
    num_parts: int | None = None,
    target_part_rows: int = 262_144,
    where: tuple | list | None = None,
) -> dict:
    """Re-cluster the ENTIRE live table as ONE atomic snapshot — the
    Delta ``OPTIMIZE ZORDER BY`` / Iceberg rewrite-data-files posture,
    and the intended append story for z-ordered tables: append fast
    under whatever layout the writer has (hash-clustered, aligned),
    then periodically optimize so every live row shares one coherent
    z-space. (The alternative — freezing the first snapshot's z
    normalization bounds and forcing appends into it — silently
    degrades as the data's value range drifts; a rewrite re-derives
    bounds from ALL live rows.)

    Decode the live snapshot (distributed, parts-parallel), re-encode
    it through :func:`encode_table` with the requested clustering
    (``zorder_by`` for multidimensional locality, or ``sort_by`` /
    ``cluster_by``+``salt_by`` for single-key layouts), publish
    deferred, then commit one snapshot entry with ``removed_parts`` =
    every previous live part and ``new_parts`` = the rewrite. Readers
    resolve either the complete old clustering or the complete new one;
    a crash leaves only invisible orphans (``expire_snapshots``
    reclaims). Earlier snapshots stay time-travelable. The entry is
    flagged ``compaction`` so the changefeed skips it (rewritten rows
    are not new data).

    ``where`` (the Delta ``OPTIMIZE ... WHERE`` posture) bounds the
    rewrite to the live parts whose zone maps overlap the predicate
    (``decode_table``'s where forms; a conjunction when a list): only
    those parts decode, re-cluster, and appear in ``removed_parts`` —
    untouched parts keep their ids with zero I/O. At 100 TB this is the
    difference between re-clustering yesterday's partitions and
    rewriting the world. The subset's z normalization space derives
    from the subset (its parts cluster coherently among themselves).

    The decoded source is persisted for the rewrite's multiple passes
    (z-bounds agg, rank dictionaries, encode) — one decode, not three.
    """
    state = _resolve_snapshot_meta(out_dir)[0]
    # fail FAST (before the decode + z-bounds jobs) on storage types the
    # decode->Spark->encode loop cannot preserve: u8/u16/u32 widen to
    # signed, u64 is an int64 bit view, lstr/lbin relax to str/bin — the
    # re-encode would then trip the schema-evolution type guard anyway
    bad = {
        c: s for c, s in state["schema"].items() if not _storage_roundtrips(s)
    }
    if bad:
        raise ValueError(
            f"optimize_table cannot rewrite columns whose storage types "
            f"don't round-trip through Spark ({bad}); compact_table "
            f"(which re-encodes under the SAME storage schema) still works"
        )
    live = snapshot_parts(out_dir)
    if not live:
        return {"parts_removed": 0, "parts_created": 0, "n_rows": 0}
    affected = live
    if where is not None:
        wheres = _normalize_where(where)
        # zone-map pruning keeps parts conservatively when a column is
        # unknown — right for reads, but here it would silently escalate
        # a bounded rewrite into the whole-table rewrite the WHERE
        # exists to avoid (a typo'd column name = 100 TB of I/O)
        bad_cols = sorted({w[0] for w in wheres} - set(state["schema"]))
        if bad_cols:
            raise ValueError(
                f"optimize where references unknown columns {bad_cols}; "
                f"table has {state['columns']}"
            )
        affected = _plan_read(out_dir, parts=live, wheres=wheres).parts
        if not affected:
            return {"parts_removed": 0, "parts_created": 0, "n_rows": 0}
    meta_path = _j(out_dir, "_table_meta.json")
    meta = _read_json(meta_path)
    src = decode_table(spark, out_dir, _parts=affected).persist()
    try:
        rep = encode_table(
            spark, src, out_dir, append=True, commit=False, resume=False,
            zorder_by=zorder_by, sort_by=sort_by,
            cluster_by=cluster_by, salt_by=salt_by,
            num_parts=num_parts, target_part_rows=target_part_rows,
            block_rows=meta.get("block_rows") or 65536,
        )
    finally:
        src.unpersist()
    pend = rep.get("pending_commit")
    if pend is None:  # empty live set raced to empty decode: nothing to do
        return {"parts_removed": 0, "parts_created": 0, "n_rows": 0}
    entry = dict(pend["entry"])
    entry.update({
        "removed_parts": sorted(affected),
        "compaction": True,  # changefeed: rearranged rows, not new data
        "optimize": {"zorder_by": zorder_by, "sort_by": sort_by,
                     "cluster_by": cluster_by,
                     "partial": where is not None},
        "ts": time.time(),
    })
    if where is not None:
        # partial rewrite: consolidate the manifest over survivors too
        # (same rule as compact_table), so the entry alone satisfies any
        # later cold pruned read via part_meta's newest-first early exit
        survivors = sorted(set(live) - set(affected))
        entry["manifest"] = write_manifest(
            out_dir, survivors + entry["new_parts"],
            pm={**part_meta(out_dir, parts=survivors), **(pend.get("pm") or {})},
        )
        entry["manifest_full"] = True
    # table meta tracks the NEW clustering (informational + resume
    # identity) — but only for a FULL rewrite: a partial optimize leaves
    # a mixed layout, so the table-level clustering claim must not change
    if where is None:
        _atomic_write_json(meta_path, dict(
            meta,
            zorder_by=zorder_by, sort_by=sort_by,
            cluster_by=cluster_by, salt_by=salt_by,
            target_part_rows=target_part_rows,
            # the rewrite's ACTUAL layout: without this the pre-rewrite
            # part count would survive and misdescribe the live table
            # (encode_progress totals, resume identity)
            num_parts=len(entry["new_parts"]),
        ))
    committed = _commit_snapshot_entry(
        out_dir, entry, append=True, pm=pend.get("pm")
    )
    return {
        "parts_removed": len(affected),
        "parts_created": len(entry["new_parts"]),
        "n_rows": rep["n_rows"],
        "snapshot_id": committed["id"],
    }


def _copy_on_write_delete(
    spark: SparkSession,
    out_dir: str,
    affected: list[int],
    meta: dict,
    mask_fn,
    tag: list,
    extra: dict | None = None,
    commit: bool = True,
    branch: str | None = None,
) -> dict:
    """Shared copy-on-write rewrite for row-level delete/merge: decode
    each affected part, drop the rows ``mask_fn`` marks (a picklable
    callable: the part's arrow Table -> boolean mask of rows to DELETE,
    null-safe), re-encode survivors under new part ids, and commit one
    snapshot (removed_parts = changed parts only; an untouched part
    keeps its id with no write). ``tag`` is recorded under the entry's
    ``delete`` key so the changefeed skips the rewrite. The rewritten
    parts stay invisible orphans until that entry commits.

    ``commit=False`` skips the snapshot publish and returns the
    removed/created part ids under ``result["pending"]`` — the merge
    path folds them with its append into one atomic entry.

    The rewrite (:func:`_rewrite_parts`) resolves the schema and field
    ids at ``meta["snapshot_id"]`` (set by :func:`_load_live`: the tip or
    the branch tip; absent = the tip), like readers do."""
    rw = _rewrite_parts(
        spark, out_dir, [[int(p)] for p in affected],
        _next_part_base(out_dir), meta.get("block_rows") or 65536,
        snapshot_id=meta.get("snapshot_id"), mask=mask_fn,
    )
    out = _delete_report(rw, len(affected))
    if not commit:
        return out
    del out["pending"]
    if rw["removed_parts"]:
        entry = {
            "new_parts": rw["new_parts"],
            "removed_parts": rw["removed_parts"],
            "n_rows": -rw["rows_deleted"],
            "enc_bytes": 0,
            "layout": meta.get("layout", "clustered"),
            **rw["stamp"],
            "delete": tag,
            "ts": time.time(),
            **(extra or {}),
        }
        _commit_snapshot_entry(out_dir, entry, append=True, branch=branch)
    return out


def _delete_report(rw: dict, n_scanned: int) -> dict:
    """The result of a copy-on-write delete or merge rewrite; ``pending``
    holds what its snapshot entry commits."""
    return {
        "parts_scanned": n_scanned,
        "parts_rewritten": len(rw["removed_parts"]),
        "rows_deleted": rw["rows_deleted"],
        "pending": {
            k: rw[k] for k in ("removed_parts", "new_parts", "rows_deleted")
        },
    }


def _load_live(
    out_dir: str, cols: list[str], branch: str | None = None
) -> tuple[dict, list[int]]:
    """(meta, live) at the tip, or at ``branch``'s tip: the schema state
    in effect there (main may have evolved since a fork, and a rollback
    narrows the tip) with the table's ``layout`` and ``block_rows``, the
    live part set (empty without a committed snapshot), and the resolved
    id under ``meta["snapshot_id"]`` — delete and merge rewrite at that
    snapshot. Raises on the first of ``cols`` the schema lacks."""
    snaps = snapshots(out_dir)
    bid = _branch_tip(out_dir, branch, snaps) if branch is not None else None
    meta, sid, _ = _resolve_snapshot_meta(out_dir, bid, snaps)
    layout = _read_json(_j(out_dir, "_table_meta.json"))
    for col in cols:
        if col not in meta["columns"]:
            raise ValueError(
                f"unknown column {col!r}; table has {meta['columns']}"
            )
    live = snapshot_parts(out_dir, sid, snaps=snaps)
    return dict(
        meta, layout=layout.get("layout", "clustered"),
        block_rows=layout.get("block_rows"), snapshot_id=sid,
    ), live


@_with_writer_lock("delete")
def delete_rows(
    spark: SparkSession,
    out_dir: str,
    where: tuple,
    branch: str | None = None,
) -> dict:
    """Row-level DELETE as a new snapshot (Iceberg copy-on-write posture).

    ``where`` takes the SAME predicate algebra as ``decode_table``: one
    predicate or a list of them (a conjunction). Forms: ``(col, lo,
    hi)`` — range, either bound None for half-open — and ``(col, [v1,
    v2, ...])`` — IN-list membership. A row is deleted when it matches
    EVERY predicate; NULL never matches (SQL semantics). The parts to
    rewrite are the read plan's (:func:`_plan_read`, the zone rule of
    :func:`_refutes`), so parts refuted by any predicate are untouched;
    surviving (or stat-less) parts are decoded, filtered exactly, and
    re-encoded under new part ids in one Spark job. A rewritten part
    that turns out unchanged keeps its original id (no write). Earlier
    snapshots still time-travel to the pre-delete rows;
    ``expire_snapshots`` reclaims the bytes.

    Delete snapshots are flagged so the changefeed stream reader does not
    re-deliver the rewritten rows (the feed is append-only, like
    compaction rewrites). The rewrite resolves the schema and field ids
    at the tip, or at ``branch``'s tip, like readers do: survivors keep
    the values that snapshot reads, after a rollback or on a branch."""
    wheres = _normalize_where(where)
    if not wheres:
        raise ValueError("delete_rows needs at least one predicate")
    meta, live = _load_live(out_dir, [w[0] for w in wheres], branch=branch)
    if not live:
        return {"parts_scanned": 0, "parts_rewritten": 0, "rows_deleted": 0}
    affected = _plan_read(
        out_dir, snapshot_id=meta["snapshot_id"], parts=live, wheres=wheres
    ).parts
    if not affected:
        return {"parts_scanned": 0, "parts_rewritten": 0, "rows_deleted": 0}

    def mask(tbl):
        import pyarrow.compute as pc

        m = None
        for w in wheres:
            v = tbl.column(w[0])
            mm = _in_set(v, list(w[1])) if len(w) == 2 else _in_range(v, *w[1:])
            m = mm if m is None else pc.and_(m, mm)
        return m

    return _copy_on_write_delete(
        spark, out_dir, affected, meta, mask,
        [list(w) for w in wheres], branch=branch,
    )


def _rewrite_parts_dropping_matched_keys(
    spark: SparkSession,
    out_dir: str,
    affected: list[int],
    meta: dict,
    df: DataFrame,
    key_col: str,
) -> dict:
    """Join-based delete mask for the merge rewrite — the incoming keys
    NEVER visit the driver, so the merge batch's distinct-key count is
    unbounded. Shape:

    1. decode only ``key_col`` of each affected part -> (old_pid, key)
       rows (one cheap column, zone-map-bounded part set);
    2. inner-join (shuffle, keys only) against the DISTINCT incoming
       keys — exact membership, so a range-affected part holding none of
       the keys drops out here and keeps its id with no write;
    3. group matched keys by part (``applyInPandas``): each rewrite task
       holds one part's matched keys — memory bounded by that part's own
       row count, not the incoming batch size — decodes the part, drops
       the matched rows, re-encodes under its pre-assigned new id.

    Steps 1 and 3 plan through :func:`_plan_read` at ``meta["snapshot_id"]``
    (the tip or branch tip :func:`_load_live` resolved), and step 3 is
    :func:`_rewrite_group`, the same per-group rewrite as compaction and
    delete. Returns the same ``pending`` shape as
    ``_copy_on_write_delete(commit=False)``; the caller owns the commit.
    """
    base = _next_part_base(out_dir)
    groups = [[int(p)] for p in affected]
    gi_of = {p: gi for gi, (p,) in enumerate(groups)}
    sid = meta.get("snapshot_id")
    plan = _plan_read(out_dir, snapshot_id=sid, parts=affected)
    key_plan = _plan_read(out_dir, [key_col], snapshot_id=sid, parts=affected)
    key_spark = _SPARK_TYPE_OF[key_plan.types[key_col]]
    block_rows = meta.get("block_rows") or 65536

    def part_keys_of(sub):
        for pid in sub.parts:
            for b in sub.part_batches(pid):
                yield pa.RecordBatch.from_arrays(
                    [pa.array(np.full(b.num_rows, pid, dtype=np.int32)),
                     b.column(0)],
                    names=["old_pid", "__k"],
                )

    part_keys = _run_tasks(
        spark, key_plan.tasks(spark.sparkContext.defaultParallelism),
        part_keys_of, f"old_pid int, __k {key_spark}",
    )
    incoming = (
        df.select(F.col(key_col).cast(key_spark).alias("__k"))
        .where(F.col("__k").isNotNull())
        .distinct()
    )
    matched = part_keys.join(incoming, on="__k", how="inner").select(
        "old_pid", "__k"
    )

    def rewrite(pdf):
        import pandas as pd

        gi = gi_of[int(pdf["old_pid"].iloc[0])]
        row = _rewrite_group(
            plan, block_rows, gi, groups[gi], base + gi,
            lambda tbl: _in_set(tbl.column(key_col), pdf["__k"]),
        )
        return pd.DataFrame([row])

    rows = matched.groupBy("old_pid").applyInPandas(rewrite, _REWRITE_DDL).collect()
    return _delete_report(_rewrite_summary(plan, groups, rows), len(affected))


def _in_range(v, lo, hi):
    """Null-safe range mask in Spark SQL's order: NULL never matches, and
    NaN sorts above every number and equals itself (Arrow's IEEE
    comparisons match NaN to no bound)."""
    import pyarrow.compute as pc

    nan = pc.is_nan(v) if pa.types.is_floating(v.type) else None
    # and_kleene: false AND null = false, so a NULL value yields
    # match=false (kept) — plain and_ would propagate null into the mask
    # and filter() would drop the row
    mm = pc.is_valid(v)
    if lo is not None:
        ge = pc.greater_equal(v, pa.scalar(lo, v.type))
        if nan is not None:  # NaN passes every lower bound; NaN admits NaN
            ge = nan if lo != lo else pc.or_kleene(ge, nan)
        mm = pc.and_kleene(mm, ge)
    if hi is not None and (nan is None or hi == hi):  # anything <= NaN
        mm = pc.and_kleene(mm, pc.less_equal(v, pa.scalar(hi, v.type)))
    return mm


def _in_set(v, values):
    """Null-safe membership mask: NULL never matches (SQL semantics)."""
    import pyarrow.compute as pc

    return pc.and_kleene(
        pc.is_valid(v), pc.is_in(v, value_set=pa.array(values).cast(v.type))
    )


@_with_writer_lock("merge")
def upsert_rows(
    spark: SparkSession,
    df: DataFrame,
    out_dir: str,
    key_col: str,
    *,
    broadcast_keys: int = 100_000,
    branch: str | None = None,
    **encode_kwargs,
) -> dict:
    """MERGE (upsert) by key as ONE atomic snapshot: rows of ``df``
    replace existing rows with the same ``key_col`` value; new keys
    append. Copy-on-write like :func:`delete_rows`:

    1. the zone rule (:func:`_refutes`) bounds the delete side — only
       live parts whose ``key_col`` zone the incoming key span does not
       refute are scanned (one tiny min/max aggregation over the batch);
    2. affected parts are rewritten without the incoming keys, exact
       set membership: at most ``broadcast_keys`` distinct keys ride a
       driver broadcast into the mask (after an IN-list of them prunes
       the parts again); above that the mask becomes a distributed
       key-column join (:func:`_rewrite_parts_dropping_matched_keys`)
       and the keys never visit the driver — no key-count ceiling;
       unchanged parts keep their ids with no write. Either way the
       rewrite resolves the schema and field ids at the tip, or at
       ``branch``'s tip, like readers do (:func:`_rewrite_parts`);
    3. ``df`` appends under new part ids with the snapshot publish
       DEFERRED (``encode_table(commit=False)``), then ONE combined
       entry carrying ``removed_parts`` (rewrites) + ``new_parts``
       (rewrites ∪ appends) + the ``merge`` id commits — readers
       resolve either the complete pre-merge table or the complete
       post-merge table, never a delete-without-replacement state. A
       crash before the commit leaves only invisible orphan parts
       (reclaimed by ``expire_snapshots``); rerunning the merge is
       safe.

    The entry's ``append_parts`` records which new parts carry
    genuinely new rows, so the changefeed delivers the appended rows
    and skips the rewrites.

    Duplicate keys WITHIN ``df`` are ALL retained (the delete side
    removes only STORED rows; the whole batch then appends) — callers
    wanting one-row-per-key semantics dedupe first
    (``df.dropDuplicates([key_col])``), as :func:`sparkcodec.streaming.
    upsert_stream` does per micro-batch."""
    merge_id = uuid.uuid4().hex[:16]
    # the batch is read up to four times (key span, distinct-key head,
    # key join, append encode) — materialize it once instead of
    # recomputing an arbitrarily expensive upstream pipeline per pass
    df = df.persist()
    try:
        return _upsert_rows_inner(spark, df, out_dir, key_col, merge_id,
                                  broadcast_keys, encode_kwargs, branch)
    finally:
        df.unpersist()


def _upsert_rows_inner(
    spark, df, out_dir, key_col, merge_id, broadcast_keys, encode_kwargs,
    branch=None,
) -> dict:
    pending_del = {"removed_parts": [], "new_parts": [], "rows_deleted": 0}
    parts_rewritten = 0
    meta = None
    if _exists(_j(out_dir, "_table_meta.json")):
        meta, live = _load_live(out_dir, [key_col], branch=branch)
        span = df.agg(
            F.min(key_col).alias("lo"), F.max(key_col).alias("hi")
        ).first()
        affected = []
        if span["lo"] is not None and live:
            # the read planner's rule at the resolved snapshot: storage
            # names and ghosts from the field ids, no pruning on defaults
            pm = part_meta(out_dir, parts=live)
            remap = (
                _column_remap(out_dir, [key_col], live, meta["field_ids"], pm=pm)
                if meta["snapshot_id"] is not None else {}
            )

            def prune(w, parts):
                return _prune_parts_conj(
                    _prunable_preds([w], meta["defaults"]), parts, pm, remap
                )

            affected = prune((key_col, span["lo"], span["hi"]), live)
        if affected:
            head = (
                df.select(key_col).where(F.col(key_col).isNotNull())
                .distinct().limit(broadcast_keys + 1).collect()
            )
            if len(head) <= broadcast_keys:
                keys = sorted(r[0] for r in head)
                # exact membership can refute parts the range merely spans
                affected = prune((key_col, tuple(keys)), affected)
            if affected and len(head) <= broadcast_keys and keys:
                key_bc = spark.sparkContext.broadcast(keys)

                def mask(tbl):
                    return _in_set(tbl.column(key_col), key_bc.value)

                rep = _copy_on_write_delete(
                    spark, out_dir, affected, meta, mask,
                    [key_col, "in-set", len(keys)], commit=False,
                )
                pending_del = rep["pending"]
                parts_rewritten = rep["parts_rewritten"]
            elif affected:
                rep = _rewrite_parts_dropping_matched_keys(
                    spark, out_dir, affected, meta, df, key_col
                )
                pending_del = rep["pending"]
                parts_rewritten = rep["parts_rewritten"]
    # resume=False ALWAYS: the merge's commit is atomic at the end, so a
    # replayed merge re-encodes from scratch — adopting a crashed
    # attempt's _pending_append.json base would classify this replay's
    # own rewrite parts (ids >= that stale base) as already-done and
    # anti-join their rows away: silent data loss. Orphans of the
    # crashed attempt are reclaimed by expire_snapshots.
    encode_kwargs.pop("resume", None)
    app = encode_table(
        spark, df, out_dir, append=True, commit=False, resume=False,
        branch=branch, **encode_kwargs,
    )
    pend_app = app.get("pending_commit")
    append_parts = pend_app["entry"]["new_parts"] if pend_app else []
    if pend_app is None and not pending_del["removed_parts"]:
        return {"rows_deleted": 0, "parts_rewritten": 0, "rows_appended": 0}
    base_entry = pend_app["entry"] if pend_app else {
        "n_rows": 0,
        "enc_bytes": 0,
        "layout": meta["layout"],
        **_schema_stamp(meta),
    }
    # start from the append's prepared entry so caller-scoped identity
    # keys (snapshot_extra, e.g. a stream replay tag) survive into the
    # combined commit, then overlay the merge-specific fields
    entry = dict(base_entry)
    entry.update({
        "new_parts": sorted(set(pending_del["new_parts"]) | set(append_parts)),
        "removed_parts": pending_del["removed_parts"],
        # the changefeed replays only these (rewrites are old rows)
        "append_parts": sorted(append_parts),
        "n_rows": base_entry["n_rows"] - pending_del["rows_deleted"],
        "merge": merge_id,
        # the merge's logical identity (key column) rides the entry so a
        # row-level rebase can REPLAY the upsert on a new fork: the
        # upserted rows themselves are the append_parts' contents
        "merge_key": key_col,
        "ts": time.time(),
    })
    _commit_snapshot_entry(
        out_dir, entry, append=True,
        # append parts' metadata rode the encode summary; rewrite parts
        # fall back to their checkpoints inside write_manifest
        pm=pend_app.get("pm") if pend_app else None,
        branch=branch,
    )
    return {
        "rows_deleted": pending_del["rows_deleted"],
        "parts_rewritten": parts_rewritten,
        "rows_appended": app["n_rows"],
    }


def _commit_schema_change(out_dir: str, change: dict, state: dict) -> dict:
    """Commit a metadata-only DDL (drop, add or rename a column) as one
    snapshot on the main tip: no part file is touched, the entry records
    ``change`` and stamps the new schema ``state``."""
    entry = {
        "new_parts": [],
        "removed_parts": [],
        "n_rows": 0,
        "enc_bytes": 0,
        "layout": _read_json(_j(out_dir, "_table_meta.json")).get(
            "layout", "clustered"
        ),
        **change,
        **_schema_stamp(state),
        "ts": time.time(),
    }
    return _commit_snapshot_entry(out_dir, entry, append=True)


def _renamed(d: dict, old: str, new: str | None) -> dict:
    """``d`` with key ``old`` renamed to ``new`` (dropped when None),
    keeping key order."""
    return {
        (new if k == old else k): v for k, v in d.items()
        if k != old or new is not None
    }


@_with_writer_lock("evolve")
def drop_column(out_dir: str, col: str) -> dict:
    """DROP COLUMN as a metadata-only snapshot (the Iceberg posture): no
    part file is touched — the committed entry carries the narrowed
    schema, so reads at the new tip stop decoding the column, later
    appends and DDL evolve the post-drop shape, and time travel (id /
    timestamp / tag) to any pre-drop snapshot still reconstructs it
    (schema is versioned per snapshot). Columns are identified by
    Iceberg-style FIELD ID, not name: the drop retires the column's id,
    and an append that re-introduces the name is ADD-COLUMN evolution
    under a FRESH id — old parts decode the re-added name as NULL (their
    block files hold the retired field's bytes, which never resurrect;
    see :func:`_column_remap`). The dropped bytes are reclaimed only
    when the pre-drop snapshots expire and a compaction or optimize
    rewrites the old parts."""
    state = _resolve_snapshot_meta(out_dir)[0]
    if col not in state["columns"]:
        raise ValueError(f"unknown column {col!r}; table has {state['columns']}")
    if len(state["columns"]) == 1:
        raise ValueError(f"cannot drop {col!r}: it is the table's only column")
    # the field id leaves the mapping for good: ids are allocated above
    # the log's high-water mark, so re-adding the name gets a fresh id
    new = {
        k: _renamed(state[k], col, None)
        for k in ("schema", "field_ids", "defaults", "field_metadata")
    }
    new["columns"] = [c for c in state["columns"] if c != col]
    e = _commit_schema_change(out_dir, {"drop_column": col}, new)
    return {"snapshot_id": e["id"], "dropped": col, "columns": new["columns"]}


@_with_writer_lock("evolve")
def add_column(
    out_dir: str, col: str, storage_type: str, default=None
) -> dict:
    """ADD COLUMN as a metadata-only snapshot, with an optional Iceberg
    initial DEFAULT: rows written BEFORE the column existed read
    ``default`` (filled in the decode kernel exactly where the absent
    block file would yield NULL — rows written after the add with a
    stored NULL stay NULL, the distinction SQL DEFAULT semantics
    require and a DataFrame-level coalesce cannot make). The column gets
    a fresh field id; appends may then include it, and a rewrite
    (compaction/optimize) materializes the default physically. A plain
    evolving append (a wider DataFrame) remains the implicit add with
    NULL backfill — this is the explicit form for when a real default
    is wanted."""
    state = _resolve_snapshot_meta(out_dir)[0]
    if col in state["columns"]:
        raise ValueError(f"column {col!r} already exists")
    if storage_type not in _DECODE_ARROW_OF:
        raise ValueError(
            f"unknown storage type {storage_type!r}; have "
            f"{sorted(_DECODE_ARROW_OF)}"
        )
    if default is not None:
        # validate NOW: a bad default must fail the DDL, not every read
        pa.scalar(default, type=_DECODE_ARROW_OF[storage_type])
    new = evolve_schema(
        state, {**state["schema"], col: storage_type}, state["columns"] + [col]
    )
    if default is not None:
        new = dict(new, defaults={**new["defaults"], col: default})
    e = _commit_schema_change(
        out_dir, {"add_column": [col, storage_type]}, new
    )
    return {"snapshot_id": e["id"], "added": col,
            "type": storage_type, "default": default}


@_with_writer_lock("evolve")
def rename_column(out_dir: str, old: str, new: str) -> dict:
    """RENAME COLUMN as a metadata-only snapshot (Iceberg field-id
    semantics): the field id stays, only the name changes — no part file
    is touched. Old parts keep their block files under the old name;
    reads resolve the new name to each part's storage name through the
    per-part field ids (:func:`_column_remap`), block-level pruning
    follows the same aliases, and any rewrite (compaction, optimize,
    delete, merge) re-encodes survivors under the NEW name, so the alias
    set shrinks as the table churns. Time travel to a pre-rename
    snapshot reads the old name (schema is versioned per snapshot).
    Refuses a name already in the schema; renaming onto a previously
    DROPPED name is fine (that name's id was retired, this one's id
    moves with the rename). The clustering keys recorded in
    ``_table_meta.json`` follow the rename."""
    state = _resolve_snapshot_meta(out_dir)[0]
    if old not in state["columns"]:
        raise ValueError(f"unknown column {old!r}; table has {state['columns']}")
    if new in state["columns"]:
        raise ValueError(f"column {new!r} already exists; drop it first")
    if old == new:
        raise ValueError("old and new names are identical")
    # the ID is the identity; the name moves
    renamed = {
        k: _renamed(state[k], old, new)
        for k in ("schema", "field_ids", "defaults", "field_metadata")
    }
    renamed["columns"] = [new if c == old else c for c in state["columns"]]
    meta_path = _j(out_dir, "_table_meta.json")
    meta = _read_json(meta_path)
    keys = {
        k: [new if c == old else c for c in meta[k]]
        for k in ("cluster_by", "salt_by", "sort_by", "zorder_by")
        if old in (meta.get(k) or [])
    }
    if keys:
        _atomic_write_json(meta_path, dict(meta, **keys))
    e = _commit_schema_change(out_dir, {"rename_column": [old, new]}, renamed)
    return {"snapshot_id": e["id"], "renamed": [old, new],
            "columns": renamed["columns"]}


@_with_writer_lock("rollback")
def rollback_table(out_dir: str, snapshot_id: int) -> dict:
    """Roll the table back to ``snapshot_id`` as a NEW snapshot (Iceberg
    posture: rollback is a forward-moving commit, never history
    rewriting). The entry's live set is exactly the target snapshot's;
    no part file moves — parts added after the target become orphans of
    the new tip (still reachable by time travel until
    ``expire_snapshots``). The entry stamps the target's whole schema
    state (:func:`_resolve_snapshot_meta`: columns, types, field ids,
    defaults, field metadata), so a rollback across a schema change
    restores the read schema too, and later writers and DDL evolve the
    restored state. Field ids allocated after the target stay retired."""
    snaps = snapshots(out_dir)
    if not snaps:
        raise ValueError(f"table at {out_dir} has no snapshot log")
    by_branch = {s["id"]: s.get("branch") for s in snaps}
    if by_branch.get(snapshot_id):
        raise ValueError(
            f"snapshot {snapshot_id} is a commit of branch "
            f"{by_branch[snapshot_id]!r}; rollback targets main history — "
            f"use fast_forward to adopt a branch's state"
        )
    target_parts = snapshot_parts(out_dir, snapshot_id, snaps=snaps)  # validates
    cur = snapshot_parts(out_dir, snaps=snaps)
    # a target older than per-snapshot schemas resolves to the legacy
    # fallback — stamped HERE, so the chain walk never drifts past the
    # rollback to some newer evolved entry's schema
    state = _resolve_snapshot_meta(out_dir, snapshot_id, snaps)[0]
    # real row delta for the history audit: visible rows after - before
    # (one O(#parts) metadata read; this is a maintenance op). Refuse to
    # guess when any involved part's meta is unreadable — same posture
    # as table_column_stats (None, never a wrong number).
    involved = set(target_parts) | set(cur)
    pm = part_meta(out_dir, parts=sorted(involved), snaps=snaps)
    rows_of = {p: d["n_rows"] for p, d in pm.items()}
    delta = (
        sum(rows_of[p] for p in target_parts) - sum(rows_of[p] for p in cur)
        if involved <= set(rows_of)
        else None
    )
    by_id = {s["id"]: s for s in snaps}
    entry = {
        "new_parts": target_parts,
        "removed_parts": sorted(set(cur) - set(target_parts)),
        "n_rows": delta,
        "enc_bytes": 0,
        "layout": by_id[snapshot_id].get("layout", "clustered"),
        # first-class flag: the changefeed must not replay the restored
        # parts (consumers already received them)
        "rollback_of": snapshot_id,
        **_schema_stamp(state),
        "ts": time.time(),
    }
    # pm already covers every restored part — the rollback entry's
    # manifest writes without re-reading a single checkpoint
    e = _commit_snapshot_entry(out_dir, entry, append=True, pm=pm)
    return {
        "snapshot_id": e["id"],
        "restored": snapshot_id,
        "parts_live": len(target_parts),
        "parts_removed": len(entry["removed_parts"]),
    }


def _cdc_plan(snaps: list[dict], start: int, end: int | None) -> list[tuple]:
    """(snapshot_id, part_id, weight, channel) rows describing the change
    events of snapshots in (start, end] — the shared planning step of the
    batch :func:`table_changes` and the stream reader's cdc mode.

    Per snapshot: ``insert`` channel = parts carrying genuinely new rows
    (``append_parts`` when recorded, else ``new_parts`` of plain
    appends); ``delete`` channel = the rows of ``removed_parts`` (+1)
    MINUS the rewrite survivors (new parts that are not appends, -1) —
    a per-key multiset diff, so a key replaced by a merge shows as one
    delete (preimage) plus one insert (new row), and a key merely
    carried through a rewrite cancels to zero. Compaction, rollback, and
    materialized tag roots rearrange existing rows and emit nothing
    (same skip set as the append changefeed)."""
    plan: list[tuple] = []
    for s in snaps:
        sid = s["id"]
        if not (start < sid and (end is None or sid <= end)):
            continue
        if s.get("compaction") or s.get("tag_only") or s.get("rollback_of"):
            continue
        if s.get("branch"):
            # branch commits are invisible to the main feed; their net
            # delta arrives once, via the fast-forward entry (which is
            # a plain entry to this planner)
            continue
        removed = s.get("removed_parts") or []
        if s.get("append_parts") is not None:
            appends = s["append_parts"]
        else:
            appends = [] if removed else s["new_parts"]
        aset = set(appends)
        for p in appends:
            plan.append((sid, int(p), 1, "insert"))
        for p in removed:
            plan.append((sid, int(p), 1, "delete"))
        for p in s["new_parts"]:
            if p not in aset:
                plan.append((sid, int(p), -1, "delete"))
    return plan


def _part_key_counts(
    out_dir: str, key_col: str, key_schema, pid: int,
    ghost_cols: frozenset = frozenset(), aliases: dict | None = None,
):
    """Distinct-key counts of ONE part's key column, fully vectorized:
    decode only the key column, one ``pyarrow.compute.value_counts``
    over the part's batches — NO per-row Python (a null key counts as a
    distinct value, matching the SQL oracle's GROUP BY). Returns
    ``(values: pa.Array, counts: pa.Int64Array)`` or ``None`` for an
    empty part. ``ghost_cols``/``aliases`` apply field-id resolution
    (a renamed key column reads from its storage name in old parts)."""
    import pyarrow.compute as pc

    chunks = [
        b.column(0)
        for b in _decode_part_batches_ranged(
            out_dir, [key_col], key_schema, pid, None, ghost_cols, aliases
        )
    ]
    if not chunks:
        return None
    vc = pc.value_counts(pa.chunked_array(chunks))
    if len(vc) == 0:
        return None
    return vc.field("values"), vc.field("counts").cast(pa.int64())


def _cdc_key_kernel(out_dir: str, key_col: str, key_arrow, remap=None):
    """Task kernel (:func:`_run_tasks`): a run of (sid, pid, w, ch) plan
    rows -> per-part PRE-AGGREGATED (snapshot_id, key, ch, n) counts
    (map-side combine: the shuffle ships one row per distinct key per
    part, never raw rows). Decodes ONLY the key column; the key path is
    vectorized (``_part_key_counts`` — the only Python loop here is over
    plan rows, i.e. O(#changed parts), never over data rows). ``remap`` carries
    field-id resolution for a renamed/re-added key column."""
    import numpy as np
    import pyarrow.compute as pc

    key_schema = pa.schema([(key_col, key_arrow)])
    out_schema = pa.schema([
        ("snapshot_id", pa.int64()), ("__k", key_arrow),
        ("ch", pa.string()), ("n", pa.int64()),
    ])

    def kernel(rows):
        for sid, pid, w, ch in rows:  # O(#plan rows) = parts
            gh, al = (remap or {}).get(int(pid), (frozenset(), {}))
            res = _part_key_counts(out_dir, key_col, key_schema, pid, gh, al)
            if res is None:
                continue
            values, counts = res
            n = len(values)
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(np.full(n, sid, dtype=np.int64)),
                    values,
                    pc.fill_null(pa.nulls(n, pa.string()), ch),
                    pc.multiply(counts, pa.scalar(w, pa.int64())),
                ],
                schema=out_schema,
            )

    return kernel


def table_changes(
    spark: SparkSession,
    out_dir: str,
    key_col: str,
    start_snapshot: int = 0,
    end_snapshot: int | None = None,
) -> DataFrame:
    """CDC view of the table (the Delta ``table_changes`` posture): one
    row per (snapshot, key, op) for snapshots in ``(start_snapshot,
    end_snapshot]``, with ``n`` = affected row count. ``op='insert'``
    rows are the keys of genuinely appended parts; ``op='delete'`` rows
    are the keys a delete/merge removed, computed as an exact per-key
    multiset diff of removed parts against their rewrite survivors —
    only the KEY COLUMN of the involved parts is ever decoded, and the
    diff is a distributed aggregation (no driver materialization, no
    key-count ceiling). A key a merge replaced appears as BOTH a delete
    (preimage) and an insert (new row), so downstream takedown /
    right-to-erasure propagation and incremental consumers get removals
    without a full re-read — the append-only changefeed cannot express
    them. Rollback snapshots emit nothing (consumers that must follow a
    rollback should resync from the restored snapshot)."""
    meta, _sid, snaps = _resolve_snapshot_meta(out_dir)
    if key_col not in meta["columns"]:
        raise ValueError(
            f"unknown key column {key_col!r}; table has {meta['columns']}"
        )
    plan = _cdc_plan(snaps, start_snapshot, end_snapshot)
    key_arrow = _DECODE_ARROW_OF[meta["schema"][key_col]]
    key_spark = _SPARK_TYPE_OF[meta["schema"][key_col]]
    out_fields = (
        f"snapshot_id long, {key_col} {key_spark}, op string, n long"
    )
    if not plan:
        return spark.createDataFrame([], out_fields)
    # field-id resolution for the key column: a renamed key reads from
    # its storage name in pre-rename parts; a dropped-and-re-added key
    # diffs as NULL there (the dead field's keys never resurrect)
    remap = _plan_read(out_dir, [key_col], parts=[p[1] for p in plan]).remap
    tasks = [
        plan[a:b]
        for a, b in _split_runs(len(plan), spark.sparkContext.defaultParallelism)
    ]
    per_part = _run_tasks(
        spark, tasks, _cdc_key_kernel(out_dir, key_col, key_arrow, remap=remap),
        f"snapshot_id long, __k {key_spark}, ch string, n long",
    )
    agg = per_part.groupBy("snapshot_id", "__k", "ch").agg(
        F.sum("n").alias("n")
    )
    # inserts keep their counts; deletes survive only where the multiset
    # diff is positive (rows present before the snapshot, absent after)
    out = agg.filter(
        (F.col("ch") == "insert") | (F.col("n") > 0)
    ).select(
        "snapshot_id",
        F.col("__k").alias(key_col),
        F.when(F.col("ch") == "insert", F.lit("insert"))
        .otherwise(F.lit("delete")).alias("op"),
        "n",
    )
    return out


def table_column_stats(out_dir: str, snapshot_id: int | None = None) -> dict:
    """EXACT per-column statistics from checkpoint metadata alone — no
    payload decode, one O(#parts) read (the Iceberg table-stats idiom):
    ``{col: {"min", "max", "nulls", "rows", "exact"}}``.

    Zone maps record [min, max] over each part's NON-NULL values, and
    null counts are recorded for every column, so:
    * ``nulls``/``rows`` are exact whenever every live part's checkpoint
      metadata is present (``nulls`` additionally needs post-r3 null
      accounting) — otherwise they come back None, never an undercount;
    * ``min``/``max`` are exact iff every live part either records stats
      for the column or holds only NULLs in it (parts skip stats for
      long strings, NaN-bearing floats, unorderable types) — otherwise
      they are None with ``exact=False`` (never a wrong value).

    Columns are those of the RESOLVED snapshot's schema (explicit
    ``snapshot_id``, else the tip) — consistent with ``decode_table``:
    after a rollback across an add-column evolution, narrowed-away
    columns are not reported."""
    meta, _sid, snaps = _resolve_snapshot_meta(out_dir, snapshot_id)
    parts = snapshot_parts(out_dir, snapshot_id, snaps=snaps)
    pm = part_meta(out_dir, parts=parts, snaps=snaps)
    # field-id resolution, same rule as decode: a renamed column's stats
    # live under its STORAGE name in old parts; a dropped-and-re-added
    # column's old parts are all-NULL at this snapshot — without this
    # the stats would read the dead field's values and claim exactness
    remap = (
        _column_remap(
            out_dir, meta["columns"], parts,
            meta["field_ids"] if _sid is not None else None,
            snaps=snaps, pm=pm,
        )
        if _needs_remap(snaps) else {}
    )
    out: dict = {}
    for col in meta["columns"]:
        mn = mx = None
        nulls: int | None = 0
        rows: int | None = 0
        exact = True
        for p in parts:
            d = pm.get(p)
            if d is None:
                # live part with no readable checkpoint meta: every
                # aggregate would be an undercount — refuse, don't guess
                exact = False
                nulls = None
                rows = None
                continue
            n = d["n_rows"]
            if rows is not None:
                rows += n
            gh, al = remap.get(p, (frozenset(), {}))
            c = al.get(col, col)
            if col in gh:
                nc = n  # retired field: this part reads all-NULL
            elif c in d["nulls"]:
                nc = d["nulls"][c]
            elif d["nulls"]:
                # null accounting present but column absent: the part
                # predates an add-column evolution — every row is NULL
                nc = n
            else:
                nc = None  # legacy lineage without null accounting
            if nc is None:
                exact = False
                nulls = None
            elif nulls is not None:
                nulls += nc
            st = None if col in gh else d["stats"].get(c)
            if st is not None:
                mn = st[0] if mn is None or st[0] < mn else mn
                mx = st[1] if mx is None or st[1] > mx else mx
            elif nc != n:  # part has non-null values but no zone map
                exact = False
        out[col] = {
            "min": mn if exact else None,
            "max": mx if exact else None,
            "nulls": nulls,  # None when some lineage predates accounting
            "rows": rows,  # None when a live part's meta was unreadable
            "exact": exact,  # min/max trustworthiness
        }
    return out


REFDIR = "_refs"
_REF_NAME_OK = re.compile(r"^[A-Za-z0-9][A-Za-z0-9._-]{0,127}$")


def _read_refs(out_dir: str) -> dict[str, dict]:
    """Every ref object: {name: {"snapshot_id": int, "kind": "tag" |
    "branch", ...}}. Refs written before branches landed carry no
    ``kind`` and read as tags (the only kind that existed)."""
    fs = _get_fs(out_dir)
    out: dict[str, dict] = {}
    for f in fs.listdir(_j(out_dir, REFDIR)):
        if f.endswith(".json"):
            try:
                obj = _read_json(_j(out_dir, REFDIR, f))
            except FileNotFoundError:
                continue  # deleted between the listing and the read
            obj.setdefault("kind", "tag")
            out[f[: -len(".json")]] = obj
    return out


def _write_ref(
    out_dir: str, name: str, sid: int, *, kind: str, force: bool
) -> bool:
    """Publish one ref object (atomic PUT). ``force=False`` is
    create-only (conditional PUT); returns False on collision."""
    fs = _get_fs(out_dir)
    path = _j(out_dir, REFDIR, f"{name}.json")
    body = json.dumps(
        {"snapshot_id": int(sid), "kind": kind, "ts": time.time()}
    ).encode()
    fs.makedirs(_j(out_dir, REFDIR))
    if force:
        fs.put_atomic(path, body)
        return True
    return fs.create_exclusive(path, body)


def _branch_tip(out_dir: str, name: str, snaps: list[dict]) -> int:
    """Snapshot id a branch ref points at; validates the ref exists,
    is a branch, and its tip is still in the log."""
    refs = _read_refs(out_dir)
    r = refs.get(name)
    if r is None or r["kind"] != "branch":
        have = sorted(n for n, o in refs.items() if o["kind"] == "branch")
        raise ValueError(f"unknown branch {name!r}; have {have}")
    sid = int(r["snapshot_id"])
    if sid not in {s["id"] for s in snaps}:
        raise ValueError(
            f"branch {name!r} points at snapshot {sid}, which is no "
            f"longer in the log (expired without branch protection?)"
        )
    return sid


@_with_writer_lock("tag")
def tag_snapshot(
    out_dir: str, name: str, snapshot_id: int | None = None, *, force: bool = False
) -> dict:
    """Pin a NAMED TAG to a snapshot (default: the tip) — Iceberg-style
    refs, the dataset-versioning primitive a training pipeline needs:
    ``decode_table(ref="v1-training")`` reproduces the exact rows of a
    run months later, and ``expire_snapshots`` PROTECTS tagged snapshots
    (their entries and part files survive any retention window until
    the tag is deleted). One object per tag (atomic PUT); creating an
    existing tag requires ``force=True``."""
    if not _REF_NAME_OK.match(name):
        raise ValueError(
            f"tag name {name!r} must be [A-Za-z0-9._-], start alphanumeric"
        )
    snaps = snapshots(out_dir)
    if not snaps:
        raise ValueError(f"table at {out_dir} has no snapshots to tag")
    sid = snapshot_id if snapshot_id is not None else _tip_entry(snaps)["id"]
    if sid not in {s["id"] for s in snaps}:
        raise ValueError(f"unknown snapshot {sid}; have {[s['id'] for s in snaps]}")
    existing = _read_refs(out_dir).get(name)
    if existing is not None and existing["kind"] != "tag":
        raise ValueError(f"ref {name!r} is a branch, not a tag")
    if not _write_ref(out_dir, name, sid, kind="tag", force=force):
        raise ValueError(
            f"tag {name!r} already exists (snapshot "
            f"{list_tags(out_dir).get(name)}); pass force=True to move it"
        )
    return {"name": name, "snapshot_id": sid}


@_with_writer_lock("untag")
def delete_tag(out_dir: str, name: str) -> bool:
    """Remove a tag; its snapshot becomes expirable again. False when
    the tag does not exist. Refuses branch refs (use
    :func:`delete_branch`)."""
    ref = _read_refs(out_dir).get(name)
    if ref is None:
        return False
    if ref["kind"] != "tag":
        raise ValueError(f"ref {name!r} is a branch; use delete_branch")
    _get_fs(out_dir).remove(_j(out_dir, REFDIR, f"{name}.json"))
    return True


def list_tags(out_dir: str) -> dict[str, int]:
    """{tag name: snapshot id} of every TAG ref (branches excluded)."""
    return {
        n: int(o["snapshot_id"])
        for n, o in _read_refs(out_dir).items()
        if o["kind"] == "tag"
    }


def list_branches(out_dir: str) -> dict[str, int]:
    """{branch name: tip snapshot id} of every user BRANCH ref
    (``__rebase_*`` throwaway refs a row-level replay is using — or a
    crashed one abandoned — are internal and hidden; expire still
    protects them via _read_refs until they are reaped)."""
    return {
        n: int(o["snapshot_id"])
        for n, o in _read_refs(out_dir).items()
        if o["kind"] == "branch" and not n.startswith("__rebase_")
    }


def resolve_ref(out_dir: str, ref: str) -> int:
    """Ref name (tag or branch) -> snapshot id (shared by decode_table
    and the DataSource's ``ref`` option; one place for the error
    wording and the ref semantics)."""
    refs = _read_refs(out_dir)
    if ref not in refs:
        raise ValueError(f"unknown ref {ref!r}; have {sorted(refs)}")
    return int(refs[ref]["snapshot_id"])


@_with_writer_lock("branch")
def create_branch(
    out_dir: str, name: str, snapshot_id: int | None = None
) -> dict:
    """Create a WRITABLE named ref (Iceberg-style branch) at
    ``snapshot_id`` (default: the main tip). Branch commits share the
    table's part-id space and snapshot log — their entries carry a
    ``branch`` marker and parent onto the branch's own tip, so the main
    table never sees them: ``decode_table(out_dir)`` keeps reading main,
    ``decode_table(out_dir, ref=name)`` reads the branch, and
    :func:`fast_forward` folds the branch back into main as one atomic
    snapshot. ``delete_rows`` / ``upsert_rows`` / ``encode_table(
    append=True)`` all take ``branch=`` to write against the branch tip.
    Like tags, branch tips are protected from ``expire_snapshots``."""
    if not _REF_NAME_OK.match(name):
        raise ValueError(
            f"branch name {name!r} must be [A-Za-z0-9._-], start alphanumeric"
        )
    snaps = snapshots(out_dir)
    if not snaps:
        raise ValueError(f"table at {out_dir} has no snapshots to branch")
    sid = snapshot_id if snapshot_id is not None else _tip_entry(snaps)["id"]
    if sid not in {s["id"] for s in snaps}:
        raise ValueError(f"unknown snapshot {sid}; have {[s['id'] for s in snaps]}")
    if not _write_ref(out_dir, name, sid, kind="branch", force=False):
        kind = _read_refs(out_dir).get(name, {}).get("kind", "ref")
        raise ValueError(f"ref {name!r} already exists (a {kind})")
    return {"name": name, "snapshot_id": sid}


@_with_writer_lock("branch")
def delete_branch(out_dir: str, name: str) -> bool:
    """Drop a branch ref; its commits become unreachable bystanders
    (their part files are reclaimed by the next ``expire_snapshots``,
    which only protects referenced chains). False when the branch does
    not exist; refuses tag refs."""
    ref = _read_refs(out_dir).get(name)
    if ref is None:
        return False
    if ref["kind"] != "branch":
        raise ValueError(f"ref {name!r} is a tag; use delete_tag")
    _get_fs(out_dir).remove(_j(out_dir, REFDIR, f"{name}.json"))
    return True


def _rows_delta(pm: dict, added, removed, ctx: str) -> int | None:
    """Net row delta of a part-set diff from checkpoint metadata; None
    (with a loud warning naming the parts) when any part's metadata is
    missing — consumers of snapshot ``n_rows`` see a null for an
    otherwise-healthy commit, which must not pass silently."""
    touched = set(added) | set(removed)
    missing = sorted(touched - set(pm))
    if missing:
        import warnings

        warnings.warn(
            f"{ctx}: part metadata missing for parts {missing[:8]}"
            f"{'...' if len(missing) > 8 else ''}; committing with "
            f"n_rows=None (row accounting unavailable for this snapshot)",
            stacklevel=2,
        )
        return None
    rows_of = {p: d["n_rows"] for p, d in pm.items()}
    return sum(rows_of[p] for p in added) - sum(rows_of[p] for p in removed)


def _branch_fork(
    by_id: dict[int, dict], btip_id: int
) -> tuple[int | None, list[dict]]:
    """Walk the branch-flagged ancestry from a branch tip: returns
    (fork snapshot id — the first NON-branch ancestor, or the
    ``fork_base`` an expire stamped on a materialized branch root, or
    None when neither survives — and the branch-flagged entries walked,
    tip first)."""
    walked: list[dict] = []
    cur = by_id.get(btip_id)
    while cur is not None:
        if not cur.get("branch"):
            return cur["id"], walked
        walked.append(cur)
        nxt = by_id.get(cur["parent"])
        if nxt is None:
            return cur.get("fork_base"), walked
        cur = nxt
    return None, walked


def _branch_appended(
    walked: list[dict], live_b: set[int], added
) -> set[int]:
    """Which of a branch's net-added parts carry genuinely NEW rows (vs
    rewrite survivors): the union of the walked branch entries' own
    append sets, restricted to parts still live at the branch tip — the
    plain (append-only) changefeed delivers exactly these."""
    appended: set[int] = set()
    for e in walked:
        if e.get("tag_only"):
            # materialized branch root: an expire squashed the branch's
            # history, but stamped the exact appended set (computed from
            # the pre-squash log) back onto the root as append_parts —
            # without it a later fast-forward would commit
            # append_parts=[] and changefeed consumers would silently
            # never receive the branch's pre-expire inserted rows (the
            # stream reader skips tag_only roots too)
            appended |= set(e.get("append_parts") or [])
            continue
        if e.get("append_parts") is not None:
            app = e["append_parts"]
        elif e.get("removed_parts") or e.get("delete") or e.get("compaction"):
            app = []
        else:
            app = e["new_parts"]
        appended |= set(app)
    return appended & live_b & set(added)


@_with_writer_lock("fast-forward")
def fast_forward(out_dir: str, name: str) -> dict:
    """Fold branch ``name`` into main as ONE atomic snapshot — the
    merge primitive (fast-forward only, like ``git merge --ff-only``):
    allowed iff main has not moved since the branch forked (the branch
    tip's first non-branch ancestor IS the main tip, or the main tip is
    a previous fast-forward of this same branch). The committed entry
    is a self-contained net diff of the branch against main —
    ``new_parts`` = parts the branch added that are still live,
    ``removed_parts`` = main-live parts the branch dropped,
    ``append_parts`` = the added parts carrying genuinely new rows — so
    the changefeed, CDC diff, expire, and rollback all treat it exactly
    like a normal commit: a streaming consumer that skipped the branch
    commits receives the branch's net inserts (and, in CDC mode, its
    net deletes) once, at the fast-forward. A diverged branch is
    refused — rebase it (:func:`rebase_branch`) or rewrite it on the new
    tip (e.g. re-run the upserts). No part file moves."""
    snaps = snapshots(out_dir)
    if not snaps:
        raise ValueError(f"table at {out_dir} has no snapshot log")
    by_id = {s["id"]: s for s in snaps}
    btip = _branch_tip(out_dir, name, snaps)
    main = _tip_entry(snaps)
    fork, walked = _branch_fork(by_id, btip)
    walked_ids = {e["id"] for e in walked}
    ok = main["id"] == fork or (
        main.get("fast_forward_of") == name
        and main.get("ff_from") in walked_ids | ({fork} - {None})
    )
    if not ok:
        raise ValueError(
            f"branch {name!r} (tip {btip}, forked at {fork}) cannot "
            f"fast-forward onto main tip {main['id']}: main moved since "
            f"the fork — re-apply the branch's changes on the current "
            f"tip instead"
        )
    live_main = set(snapshot_parts(out_dir, main["id"], snaps=snaps))
    live_b = set(snapshot_parts(out_dir, btip, snaps=snaps))
    added = sorted(live_b - live_main)
    removed = sorted(live_main - live_b)
    if not added and not removed:
        return {"fast_forwarded": False, "snapshot_id": main["id"],
                "branch_tip": btip, "parts_added": 0, "parts_removed": 0}
    appended = _branch_appended(walked, live_b, added)
    pm = part_meta(out_dir, parts=sorted(set(added) | set(removed)), snaps=snaps)
    delta = _rows_delta(pm, added, removed, f"fast_forward({name!r})")
    entry = {
        "new_parts": added,
        "removed_parts": removed,
        "append_parts": sorted(appended),
        "n_rows": delta,
        "enc_bytes": 0,
        "layout": by_id[btip].get("layout", "clustered"),
        "fast_forward_of": name,
        "ff_from": btip,
        # the branch's schema state becomes main's
        **_schema_stamp(_resolve_snapshot_meta(out_dir, btip, snaps)[0]),
        "ts": time.time(),
    }
    e = _commit_snapshot_entry(out_dir, entry, append=True, pm=pm)
    return {"fast_forwarded": True, "snapshot_id": e["id"],
            "branch_tip": btip, "parts_added": len(added),
            "parts_removed": len(removed)}


def merge_branch(
    out_dir: str, name: str, spark: SparkSession | None = None
) -> dict:
    """Merge a branch into main: :func:`rebase_branch` when it diverged
    (part-granular three-way merge; genuine conflicts still refuse),
    then :func:`fast_forward`. The two steps commit separately — a crash
    between them leaves the branch rebased and main untouched, and
    re-running merge_branch completes the publish. Pass ``spark`` to
    enable ROW-LEVEL replay when both sides rewrote a part (see
    :func:`rebase_branch`)."""
    reb = rebase_branch(out_dir, name, spark=spark)
    ff = fast_forward(out_dir, name)
    return {"rebased": reb.get("rebased", False), **ff}


def _rebase_replay(
    spark: SparkSession, out_dir: str, name: str, walked: list[dict],
    main_id: int,
) -> dict:
    """Row-level rebase: re-apply the branch's recorded logical ops
    (oldest first) onto a throwaway branch forked at the current main
    tip, then atomically move ``name``'s ref to the result. Runs under
    the rebase writer lock (the op functions re-enter it — the lease is
    thread-reentrant). A failure mid-replay leaves the ORIGINAL branch
    ref untouched; the throwaway chain's commits become unreachable
    bystanders reclaimed by expire."""
    ops: list[tuple] = []
    for e in reversed(walked):  # oldest branch commit first
        if e.get("tag_only"):
            raise ValueError(
                f"branch {name!r} cannot replay: an expire materialized "
                f"its root, squashing the per-commit op history the "
                f"replay needs — re-apply the branch's changes on a "
                f"fresh branch of the current tip"
            )
        if e.get("compaction"):
            continue  # pure rearrangement: nothing logical to replay
        if e.get("rollback_of") or e.get("fast_forward_of") or e.get("rebase_of"):
            raise ValueError(
                f"branch {name!r} cannot replay: commit {e['id']} is a "
                f"rollback/fast-forward/rebase entry, which has no "
                f"row-level interpretation on a different base"
            )
        if e.get("drop_column") or e.get("rename_column") or e.get("add_column"):
            # rename/add entries would otherwise fall through to the
            # append arm with empty parts and VANISH from the replayed
            # chain — schema ops refuse loudly, all three kinds alike
            kind = (
                "drops" if e.get("drop_column")
                else "renames" if e.get("rename_column")
                else "adds"
            )
            what = (
                e.get("drop_column") or e.get("rename_column")
                or e.get("add_column")
            )
            raise ValueError(
                f"branch {name!r} cannot replay: commit {e['id']} {kind} "
                f"column {what!r}; schema changes must be re-applied on "
                f"main first"
            )
        if e.get("merge"):
            key = e.get("merge_key")
            if not key:
                raise ValueError(
                    f"branch {name!r} cannot replay: merge commit "
                    f"{e['id']} predates merge_key recording"
                )
            ops.append(("upsert", e["id"], key, e.get("append_parts") or []))
        elif e.get("delete") is not None:
            ops.append(("delete", e["id"], e["delete"]))
        elif e.get("removed_parts"):
            raise ValueError(
                f"branch {name!r} cannot replay: commit {e['id']} is an "
                f"unrecognized rewrite kind"
            )
        else:
            app = (
                e["append_parts"] if e.get("append_parts") is not None
                else e["new_parts"]
            )
            ops.append(("append", e["id"], app))
    meta = _read_json(_j(out_dir, "_table_meta.json"))
    enc_kw = dict(
        cluster_by=meta.get("cluster_by"), salt_by=meta.get("salt_by"),
    )
    fs = _get_fs(out_dir)
    # reap throwaway refs a CRASHED replay left behind: they are only
    # ever created under the rebase writer lock (held here), so any
    # existing one is dead — left in place, expire would protect its
    # chain as a live branch tip forever
    for stale in list(_read_refs(out_dir)):
        if stale.startswith("__rebase_"):
            fs.remove(_j(out_dir, REFDIR, f"{stale}.json"))
    tmp = f"__rebase_{uuid.uuid4().hex[:8]}"
    if not _write_ref(out_dir, tmp, main_id, kind="branch", force=False):
        raise RuntimeError(f"throwaway rebase ref {tmp} already exists")
    try:
        for op in ops:
            if op[0] == "append":
                _, sid, parts = op
                if not parts:
                    continue
                df = decode_table(
                    spark, out_dir, snapshot_id=sid, _parts=list(parts)
                )
                encode_table(
                    spark, df, out_dir, append=True, branch=tmp,
                    num_parts=max(1, len(parts)), resume=False, **enc_kw,
                )
            elif op[0] == "delete":
                _, sid, preds = op
                delete_rows(
                    spark, out_dir, [tuple(w) for w in preds], branch=tmp
                )
            else:
                _, sid, key, parts = op
                if not parts:
                    continue
                df = decode_table(
                    spark, out_dir, snapshot_id=sid, _parts=list(parts)
                )
                upsert_rows(
                    spark, df, out_dir, key, branch=tmp,
                    num_parts=max(1, len(parts)), **enc_kw,
                )
        new_tip = _branch_tip(out_dir, tmp, snapshots(out_dir))
    except Exception:
        fs.remove(_j(out_dir, REFDIR, f"{tmp}.json"))
        raise
    # atomic publish: the real ref adopts the replayed chain; until this
    # line the original branch is fully intact
    _write_ref(out_dir, name, new_tip, kind="branch", force=True)
    fs.remove(_j(out_dir, REFDIR, f"{tmp}.json"))
    return {
        "rebased": True,
        "snapshot_id": new_tip,
        "replayed_ops": len(ops),
        "conflicts": [],
        "row_level": True,
    }


@_with_writer_lock("rebase")
def rebase_branch(out_dir: str, name: str, spark: SparkSession | None = None) -> dict:
    """Re-fork a DIVERGED branch onto the current main tip — the step
    that makes ``rebase_branch`` + :func:`fast_forward` a full merge
    workflow. The branch's net diff against its OLD fork (parts it
    added, parts it rewrote or deleted) is replayed as ONE new branch
    commit whose parent is the main tip; the three-way merge is
    part-granular:

    - parts only MAIN touched since the fork: main's version wins
      (they simply stay in the rebased live set);
    - parts only the BRANCH touched: the branch's version wins
      (its removals and additions apply on top of main);
    - parts BOTH sides rewrote or removed: a part-level merge would
      resurrect or double-delete rows main has since changed, so the
      branch's RECORDED LOGICAL OPS replay row-by-row on a fresh fork
      of the current tip instead (git-rebase semantics): each walked
      branch commit re-applies — appends re-encode their appended
      rows, deletes re-run their recorded predicate, merges re-upsert
      their appended rows by the recorded ``merge_key`` — as new
      branch commits, via a throwaway ref that moves onto ``name``
      only when every op lands (a crash leaves the original branch
      untouched plus vacuumable orphans). Requires ``spark`` (the
      replay runs real rewrite jobs); without a session the conflict
      still refuses with the part list. Replay refuses only when an
      op's inputs are truly gone: the branch history was squashed by
      expire, a merge entry predates ``merge_key`` recording, or the
      commit kind is not replayable (rollback / nested rebase).

    A branch with no commits just moves its ref to the main tip. No
    part file moves in any case; a not-diverged branch is a no-op
    (fast_forward directly)."""
    snaps = snapshots(out_dir)
    if not snaps:
        raise ValueError(f"table at {out_dir} has no snapshot log")
    by_id = {s["id"]: s for s in snaps}
    btip = _branch_tip(out_dir, name, snaps)
    main = _tip_entry(snaps)
    fork, walked = _branch_fork(by_id, btip)
    walked_ids = {e["id"] for e in walked}
    if main["id"] == fork or (
        main.get("fast_forward_of") == name
        and main.get("ff_from") in walked_ids | ({fork} - {None})
    ):
        return {"rebased": False, "reason": "not diverged",
                "branch_tip": btip}
    if fork is None or fork not in by_id:
        # fork can be a stamped fork_base whose ENTRY an expire has since
        # dropped (main moved past it) — same refusal as a lost fork, not
        # an "unknown snapshot" internal error from snapshot_parts
        raise ValueError(
            f"branch {name!r} (tip {btip}) cannot rebase: its fork point "
            f"{'' if fork is None else f'{fork} '}expired from the log, "
            f"so its diff base is unknowable — re-apply the branch's "
            f"changes on a fresh branch of the current tip"
        )
    if not walked:
        # ref parked on a stale main entry with no branch commits:
        # rebasing is just catching the ref up to the tip
        _write_ref(out_dir, name, main["id"], kind="branch", force=True)
        return {"rebased": True, "snapshot_id": main["id"],
                "parts_added": 0, "parts_removed": 0, "conflicts": []}
    live_fork = set(snapshot_parts(out_dir, fork, snaps=snaps))
    live_b = set(snapshot_parts(out_dir, btip, snaps=snaps))
    live_main = set(snapshot_parts(out_dir, main["id"], snaps=snaps))
    added = sorted(live_b - live_fork)
    removed = sorted(live_fork - live_b)
    conflicts = sorted(set(removed) - live_main)
    if conflicts:
        if spark is not None:
            return _rebase_replay(spark, out_dir, name, walked, main["id"])
        raise ValueError(
            f"branch {name!r} cannot rebase onto main tip {main['id']}: "
            f"parts {conflicts[:8]}{'...' if len(conflicts) > 8 else ''} "
            f"were rewritten or removed by BOTH the branch and main "
            f"since the fork — pass spark= to replay the branch's "
            f"recorded logical ops row-by-row on the current tip, or "
            f"re-apply them on a fresh branch manually"
        )
    appended = _branch_appended(walked, live_b, added)
    pm = part_meta(out_dir, parts=sorted(set(added) | set(removed)),
                   snaps=snaps)
    delta = _rows_delta(pm, added, removed, f"rebase_branch({name!r})")
    entry = {
        "new_parts": added,
        "removed_parts": removed,
        "append_parts": sorted(appended),
        "n_rows": delta,
        "enc_bytes": 0,
        "layout": by_id[btip].get("layout", "clustered"),
        "rebase_of": btip,
        # the rebased chain keeps the branch's schema state
        **_schema_stamp(_resolve_snapshot_meta(out_dir, btip, snaps)[0]),
        "ts": time.time(),
    }
    e = _commit_snapshot_entry(
        out_dir, entry, append=True, pm=pm,
        branch=name, branch_parent=main["id"],
    )
    return {"rebased": True, "snapshot_id": e["id"],
            "parts_added": len(added), "parts_removed": len(removed),
            "conflicts": []}


def _sweep_files(
    out_dir: str, keep_parts: set[int], keep_manifests: set[str]
) -> tuple[set[int], int]:
    """Delete every part file (``blocks/*/part_*.parquet``, half-written
    parts without their checkpoint included) whose id is not in
    ``keep_parts``, and every manifest not in ``keep_manifests``.
    Returns (part ids deleted, files deleted)."""
    fs = _get_fs(out_dir)
    parts: set[int] = set()
    deleted = 0
    blocks = _j(out_dir, "blocks")
    for cdir in fs.listdir(blocks):
        d = _j(blocks, cdir)
        for f in fs.listdir(d):
            if f.startswith("part_") and f.endswith(".parquet"):
                pid = int(f[len("part_") : -len(".parquet")])
                if pid not in keep_parts:
                    fs.remove(_j(d, f))
                    parts.add(pid)
                    deleted += 1
    mdir = _j(out_dir, MANIFESTDIR)
    for f in fs.listdir(mdir):
        if f.endswith(".parquet") and f not in keep_manifests:
            fs.remove(_j(mdir, f))
            _MANIFEST_CACHE.pop(_j(mdir, f), None)
            deleted += 1
    if parts:
        # swept part ids WILL be reused by the next writer
        # (_next_part_base), breaking the progress cache's
        # ids-never-reused premise — drop this table's cache, same as the
        # fresh-run reset
        _PROGRESS_CACHE.pop(out_dir, None)
    return parts, deleted


@_with_writer_lock("vacuum")
def vacuum_orphans(out_dir: str, *, include_pending: bool = False) -> dict:
    """Delete part files no snapshot has EVER referenced — the orphans a
    crashed append/merge/optimize leaves behind (their parts were
    written but the atomic commit never published them) — and the
    manifests no entry references, WITHOUT touching retention: every
    snapshot in the log, and therefore all time travel and tags, stays
    intact (contrast ``expire_snapshots``, which trades history for
    space). Runs under the writer lease, so no writer is mid-flight; a
    ``_pending_append.json`` therefore marks a CRASHED-but-resumable
    append, and its checkpointed parts (ids at or above the recorded
    base) are protected by default — pass ``include_pending=True`` to
    reclaim them and abandon the resume (the pending marker is removed
    with them). A table with no committed snapshot is left alone: a
    rerun of its create resumes those parts."""
    snaps = snapshots(out_dir)
    if not snaps:
        return {"files_deleted": 0, "parts_vacuumed": 0}
    keep = _log_parts(snaps)
    fs = _get_fs(out_dir)
    pending_path = _j(out_dir, "_pending_append.json")
    if fs.exists(pending_path):
        if include_pending:
            fs.remove(pending_path)  # abandoning the crashed append
        else:
            base = _read_json(pending_path)["base"]
            keep |= {p for p in completed_parts(out_dir) if p >= base}
    parts, deleted = _sweep_files(
        out_dir, keep, {s.get("manifest") for s in snaps} - {None}
    )
    return {"files_deleted": deleted, "parts_vacuumed": len(parts)}


@_with_writer_lock("expire")
def expire_snapshots(out_dir: str, keep_last: int = 1) -> dict:
    """Reclaim storage: keep the newest ``keep_last`` snapshots, delete
    part files referenced by no retained snapshot, and squash the log so
    the oldest retained snapshot owns its full live set. Destroys time
    travel beyond the retained window — the explicit trade, exactly like
    Iceberg's expire_snapshots — EXCEPT tagged snapshots (see
    :func:`tag_snapshot`): their part files survive and their entries
    persist in the squashed log as materialized ``tag_only`` roots
    (full live set, parent 0) that time travel and rollback can still
    resolve but the changefeed skips (their rows fold into the retained
    root's replay; delivering them too would duplicate)."""
    snaps = snapshots(out_dir)
    if not snaps or keep_last < 1:
        return {"files_deleted": 0, "snapshots_kept": len(snaps)}
    by_id = {s["id"]: s for s in snaps}
    # the retention window counts along the TIP'S ANCESTRY only:
    # materialized tag_only roots from earlier expires are standalone
    # bystanders — keeping one inside the window must neither consume a
    # retention slot nor (critically) let it be re-rooted as a
    # replayable changefeed root, which would deliver its rows twice
    chain_ids = set()
    cur = _tip_entry(snaps)  # never a trailing branch commit
    while cur:
        chain_ids.add(cur["id"])
        cur = by_id.get(cur["parent"])
    chain = [s for s in snaps if s["id"] in chain_ids]
    kept = chain[-keep_last:]
    kept_ids = {s["id"] for s in kept}
    # reap throwaway __rebase_* refs (created and consumed under the
    # writer lock this function holds, so any visible one belongs to a
    # CRASHED replay): without this, a dead ref would sit pointing at
    # soon-to-be-unknown history forever
    for stale in list(_read_refs(out_dir)):
        if stale.startswith("__rebase_"):
            _get_fs(out_dir).remove(_j(out_dir, REFDIR, f"{stale}.json"))
    # pinned off-chain snapshots: tags AND branch tips (a branch's
    # intermediate commits expire like main history; its TIP must stay
    # readable and committable-onto)
    branch_tips = set(list_branches(out_dir).values())
    tagged = sorted(
        {
            sid
            for sid in set(list_tags(out_dir).values()) | branch_tips
            if sid in by_id and sid not in kept_ids
        }
    )
    referenced: set[int] = set()
    for s in kept:
        referenced |= set(snapshot_parts(out_dir, s["id"], snaps=snaps))
    for sid in tagged:
        referenced |= set(snapshot_parts(out_dir, sid, snaps=snaps))
    # fold surviving parts' pruning metadata BEFORE any file deletion:
    # the squashed root and tag roots get CONSOLIDATED manifests (their
    # original ones covered only their own new_parts, but as roots they
    # now own full live sets; dropped entries' manifests die below)
    pm_all = part_meta(out_dir, parts=sorted(referenced), snaps=snaps)
    fs = _get_fs(out_dir)
    # squash: oldest retained snapshot re-rooted with its full live set;
    # it is no longer a compaction delta (a changefeed consumer starting
    # fresh must receive these rows), so the flag must not survive
    first = dict(kept[0])
    first["new_parts"] = sorted(snapshot_parts(out_dir, first["id"], snaps=snaps))
    first.pop("removed_parts", None)
    first.pop("compaction", None)
    first.pop("delete", None)  # squashed root must replay to fresh consumers
    first.pop("append_parts", None)  # ditto: merge rewrites fold into the root
    first.pop("rollback_of", None)  # ditto: restored parts fold into the root
    first.pop("tag_only", None)  # a retained root MUST replay to consumers
    first.pop("fast_forward_of", None)  # ditto: ff delta folds into the root
    first.pop("ff_from", None)
    first.pop("drop_column", None)  # the root's schema already reflects it
    first["parent"] = 0
    first["manifest"] = write_manifest(out_dir, first["new_parts"], pm=pm_all)
    first["manifest_full"] = True
    # tagged snapshots outside the window: materialized as standalone
    # roots, flagged so the changefeed never replays them (a fresh
    # consumer gets the retained root's rows; tagged roots overlap it)
    tag_roots = []
    for sid in tagged:
        t = dict(by_id[sid])
        t["new_parts"] = sorted(snapshot_parts(out_dir, sid, snaps=snaps))
        for k in ("removed_parts", "compaction", "delete", "append_parts",
                  "rollback_of", "fast_forward_of", "ff_from", "rebase_of"):
            t.pop(k, None)
        t["parent"] = 0
        t["tag_only"] = True
        if sid in branch_tips and t.get("branch"):
            # a materialized BRANCH root loses its parent chain, so the
            # fast-forward divergence check can no longer walk to the
            # fork — stamp the fork id (resolved against the pre-squash
            # log) so fast_forward still recognizes an unmoved main.
            # Also stamp the branch's exact appended set (computable
            # only NOW, from the pre-squash entries): a later
            # fast_forward folds it into its entry's append_parts so the
            # changefeed delivers the branch's pre-expire inserts once —
            # safe to carry on a tag_only root because both the stream
            # reader and _cdc_plan skip tag_only entries entirely
            fork, walked_b = _branch_fork(by_id, sid)
            if fork is not None:
                t["fork_base"] = fork
            live_tip = set(t["new_parts"])
            t["append_parts"] = sorted(
                _branch_appended(walked_b, live_tip, live_tip)
            )
        t["manifest"] = write_manifest(out_dir, t["new_parts"], pm=pm_all)
        tag_roots.append(t)
    squashed = sorted(tag_roots + [first], key=lambda s: s["id"]) + kept[1:]
    if _max_field_id(snaps) > _max_field_id(squashed):
        # the dropped entries named a field id no retained one does (a
        # dropped column's): keep the high-water mark, so the id is never
        # handed out again and old parts never alias a new column onto
        # the dead field's bytes
        first["last_field_id"] = _max_field_id(snaps)
    _squash_log(fs, out_dir, squashed)
    # the files of dropped entries (their parts, their manifests and the
    # roots' superseded originals) die only AFTER the squash published —
    # a crash before this point leaves orphans no retained entry names,
    # which vacuum_orphans reclaims; kept[1:] keep their manifests
    _, deleted = _sweep_files(
        out_dir, referenced, {s.get("manifest") for s in squashed} - {None}
    )
    return {"files_deleted": deleted, "snapshots_kept": len(squashed)}
