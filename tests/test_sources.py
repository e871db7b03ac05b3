"""Tests for the binary record source (S1-S3 parity) and streaming
operators."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from sparkcodec.binsource import (
    infer_version,
    parse_sidecar,
    read_records,
    read_records_for_keys,
    sidecar_path,
    synthesize_records,
    write_record_file,
)


@pytest.fixture(scope="module")
def record_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("records")
    r1 = synthesize_records(500, version=1, seed=1)
    r2 = synthesize_records(300, version=2, seed=2)
    r2_swapped = synthesize_records(200, version=2, seed=3)
    r3 = synthesize_records(400, version=3, seed=4)
    write_record_file(str(d / "touches_v1.bin"), r1, version_string="deadbeefcafe")
    write_record_file(str(d / "touches_v2.bin"), r2, version_string="4.99.7")
    write_record_file(
        str(d / "touches_v2_be.bin"), r2_swapped, version_string="5.0", big_endian=True
    )
    write_record_file(str(d / "touches_v3.bin"), r3, version_string="5.4.1")
    return d, r1, r2, r2_swapped, r3


def test_version_string_inference():
    """The reference's dotted-version chain incl. git-hash fallback
    (touch_reader.cpp:95-117)."""
    assert infer_version("6.0") == 3
    assert infer_version("5.4.1") == 3
    assert infer_version("5.3") == 2
    assert infer_version("5.0") == 2
    assert infer_version("4.99.7") == 2
    assert infer_version("4.98") == 1
    assert infer_version("3.2.1") == 1
    assert infer_version("deadbeefcafe") == 1  # git-hash fallback


def test_sidecar_directory(record_dir):
    """S2: the sidecar carries arch, version string, and a per-key
    (id, count, offset) directory covering every record exactly once."""
    d, r1, *_ = record_dir
    arch, vs, version, entries = parse_sidecar(
        open(sidecar_path(str(d / "touches_v1.bin")), "rb").read()
    )
    assert (vs, version) == ("deadbeefcafe", 1)
    assert sum(c for _, c, _ in entries) == 500
    # offsets are monotonically increasing byte positions
    offs = [o for _, _, o in entries]
    assert offs == sorted(offs) and offs[0] == 0
    keys = [k for k, _, _ in entries]
    assert set(keys) == set(int(g) for g in np.unique(r1["pre_gid"]))


def test_sidecar_foreign_endian(record_dir):
    d, *_ , r2s_unused = record_dir[:1] + record_dir[1:]
    arch, vs, version, entries = parse_sidecar(
        open(sidecar_path(str(d / "touches_v2_be.bin")), "rb").read()
    )
    assert version == 2
    assert sum(c for _, c, _ in entries) == 200


def test_bad_magic():
    with pytest.raises(ValueError, match="magic"):
        parse_sidecar(b"XXXX" + b"\x00" * 32)


def test_distributed_scan(spark, record_dir):
    """S1: slice scan + vectorized decode across all versions incl. V3."""
    d, r1, r2, r2s, r3 = record_dir
    df = read_records(spark, str(d) + "/*.bin")
    assert df.count() == 1400
    by_ver = {r["version"]: r["n"] for r in df.groupBy("version").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert by_ver == {1: 500, 2: 500, 3: 400}
    got = df.agg(F.sum("pre_gid").alias("s")).collect()[0]["s"]
    want = int(r1["pre_gid"].sum() + r2["pre_gid"].sum() + r2s["pre_gid"].sum() + r3["pre_gid"].sum())
    assert got == want
    # V3 position columns are real values on v3 rows, null-ish elsewhere
    v3stats = df.filter(F.col("version") == 3).agg(
        F.count("pre_center_x").alias("n"), F.min("pre_center_x").alias("lo")
    ).collect()[0]
    assert v3stats["n"] == 400 and v3stats["lo"] >= 0.0


def test_subfile_splitting_identical_output(spark, record_dir):
    """One file read in N>1 slices produces exactly the whole-file rows
    (the reference's per-rank work_unit split, touch2parquet.cpp:110-115)."""
    d, _r1, r2, *_ = record_dir
    one = read_records(spark, str(d) + "/touches_v2.bin", rows_per_slice=1 << 20)
    many = read_records(spark, str(d) + "/touches_v2.bin", rows_per_slice=37)
    assert many.rdd.getNumPartitions() > 1 or many.count() == 300
    import math
    n_slices = math.ceil(300 / 37)
    assert n_slices == 9
    a = one.orderBy("pre_gid", "post_gid", "pre_section").collect()
    b = many.orderBy("pre_gid", "post_gid", "pre_section").collect()
    assert a == b and len(a) == 300


def test_read_records_for_keys(spark, record_dir):
    """Directory-driven selective read (touch_reader.cpp:147-219): only
    the requested keys' ranges are scanned, values match a full-scan
    filter."""
    d, *_ = record_dir
    full = read_records(spark, str(d) + "/*.bin")
    want_keys = [3, 7, 11]
    want = full.filter(F.col("pre_gid").isin(want_keys))
    got = read_records_for_keys(spark, str(d) + "/*.bin", want_keys)
    assert got.count() == want.count() > 0
    assert got.exceptAll(want).count() == 0


def test_synapse_id_on_records(spark, record_dir):
    """P3 applied to the decoded scan (the touch2parquet derive step)."""
    from sparkcodec.pipeline import with_synapse_id

    d, *_ = record_dir
    df = read_records(spark, str(d) + "/touches_v1.bin")
    out = with_synapse_id(df, "pre_gid", ["source_file", "post_gid"])
    row = out.filter(F.col("synapse_id") % (1 << 24) == 0).count()
    n_gids = df.select("pre_gid").distinct().count()
    assert row == n_gids  # exactly one seq-0 row per gid


# ---------------------------------------------------------------------------
# streaming


def test_windowed_stream_matches_batch(spark):
    from sparkcodec.streaming import events_stream, run_stream_to_memory, windowed_event_counts

    sf = "/root/testdata/sf0.001"
    agg = windowed_event_counts(events_stream(spark, sf))
    got = run_stream_to_memory(spark, agg, "win_counts")
    batch = spark.read.parquet(f"{sf}/events.parquet")
    want = (
        batch.groupBy(F.window("ts", "10 minutes"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"), F.round(F.sum("value"), 4).alias("total_value"))
        .select(F.col("window.start").alias("win_start"), "event_type", "n_events", "total_value")
    )
    assert got.count() == want.count()
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0


def test_sessionize_stream(spark):
    from sparkcodec.streaming import events_stream, run_stream_to_memory, sessionize

    sf = "/root/testdata/sf0.001"
    sess = sessionize(events_stream(spark, sf), gap="30 minutes")
    got = run_stream_to_memory(spark, sess, "sessions")
    assert got.count() > 0
    assert got.agg(F.sum("n_events")).collect()[0][0] == spark.read.parquet(
        f"{sf}/events.parquet"
    ).count()


def test_export_n_and_drop_columns(spark):
    from sparkcodec.pipeline import drop_columns, export_n

    df = spark.range(100).withColumn("x", F.col("id") * 2)
    assert export_n(df, 7).count() == 7
    assert export_n(df, None).count() == 100
    assert export_n(df, -1).count() == 100
    assert drop_columns(df, ["x", "nope"]).columns == ["id"]


def test_stateful_running_stats_stream(spark):
    """applyInPandasWithState custom stateful op: running per-user stats
    across micro-batches match the batch aggregation."""
    from sparkcodec.streaming import events_stream, running_user_stats

    sf = "/root/testdata/sf0.001"
    out = running_user_stats(events_stream(spark, sf))
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName("running_stats")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {
        r["user_id"]: r
        for r in spark.sql(
            "SELECT user_id, max_by(n_events, n_batches) n_events, "
            "max_by(total_value, n_batches) total_value, "
            "max_by(max_value, n_batches) max_value "
            "FROM running_stats GROUP BY user_id"
        ).collect()
    }
    batch = spark.read.parquet(f"{sf}/events.parquet")
    want = {
        r["user_id"]: r
        for r in batch.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("total_value"),
            F.max("value").alias("max_value"),
        )
        .collect()
    }
    assert set(got) == set(want)
    for uid, w in want.items():
        g = got[uid]
        assert g["n_events"] == w["n_events"]
        assert abs(g["total_value"] - w["total_value"]) < 1e-6
        assert g["max_value"] == w["max_value"]


def test_encode_stream_appends_snapshots(spark, tmp_path):
    """Streaming ingestion into the blocks table: one snapshot per
    micro-batch, decode sees complete batches only, time travel works."""
    import pandas as pd

    from sparkcodec.engine import decode_table, snapshot_parts, snapshots
    from sparkcodec.streaming import encode_stream

    import os

    src = str(tmp_path / "stream_src")
    os.makedirs(src)
    for i in range(3):
        pd.DataFrame(
            {"k": range(i * 100, (i + 1) * 100), "txt": [f"row {j}" for j in range(i * 100, (i + 1) * 100)]}
        ).to_parquet(f"{src}/f{i}.parquet")

    out = str(tmp_path / "stream_enc")
    stream = (
        spark.readStream.schema("k long, txt string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = encode_stream(
        stream, out, str(tmp_path / "ckpt"), trigger_once=True,
        cluster_by=["k"], salt_by=None, sort_by=["k"], num_parts=2,
        target_part_rows=100,
    )
    q.awaitTermination(120)
    snaps = snapshots(out)
    assert len(snaps) == 3, snaps  # one commit per micro-batch
    dec = decode_table(spark, out)
    assert dec.count() == 300
    assert dec.agg({"k": "max"}).collect()[0][0] == 299
    # time travel: the first snapshot holds exactly the first batch
    first = decode_table(spark, out, snapshot_id=snaps[0]["id"])
    assert first.count() == 100
    # replayed batch is idempotent: re-running the same available data
    # with the same checkpoint is a no-op (no new snapshots)
    q2 = encode_stream(
        stream, out, str(tmp_path / "ckpt"), trigger_once=True,
        cluster_by=["k"], salt_by=None, sort_by=["k"], num_parts=2,
        target_part_rows=100,
    )
    q2.awaitTermination(120)
    assert len(snapshots(out)) == 3


def test_encode_stream_replay_of_committed_batch_is_noop(spark, tmp_path):
    """Crash window between sink success and the streaming offset commit:
    Spark replays the batch on restart. The snapshot's (checkpoint,
    batch_id) tag makes the replay a no-op — no duplicate rows, no
    duplicate snapshot, no duplicate changefeed entries."""
    import os
    import pandas as pd

    from sparkcodec.engine import decode_table, snapshots
    from sparkcodec.streaming import encode_stream

    src = str(tmp_path / "rp_src")
    os.makedirs(src)
    for i in range(3):
        pd.DataFrame({"k": range(i * 50, (i + 1) * 50)}).to_parquet(f"{src}/f{i}.parquet")
    out = str(tmp_path / "rp_enc")
    ckpt = str(tmp_path / "rp_ckpt")
    stream = (
        spark.readStream.schema("k long").option("maxFilesPerTrigger", 1).parquet(src)
    )
    kw = dict(cluster_by=["k"], salt_by=None, sort_by=["k"], num_parts=1,
              target_part_rows=50)
    q = encode_stream(stream, out, ckpt, trigger_once=True, **kw)
    q.awaitTermination(120)
    q.stop()
    assert len(snapshots(out)) == 3
    # simulate the crash: the sink ran (snapshot committed) but the
    # streaming offset commit was lost -> Spark will replay the batch
    commits = sorted(
        f for f in os.listdir(os.path.join(ckpt, "commits")) if not f.startswith(".")
    )
    os.remove(os.path.join(ckpt, "commits", commits[-1]))
    crc = os.path.join(ckpt, "commits", f".{commits[-1]}.crc")
    if os.path.exists(crc):
        os.remove(crc)  # hadoop checksum twin; a real crash loses both
    # the same crash window can also leave encode_table's pending-append
    # marker behind (snapshot committed, cleanup lost) — the replay must
    # clear it or the NEXT batch would reuse this batch's part-id base
    import json as _json

    with open(os.path.join(out, "_pending_append.json"), "w") as fh:
        _json.dump({"base": 2, "config": {}}, fh)
    # the stopped query deregisters its checkpoint lock asynchronously
    import time as _time

    for _ in range(50):
        if not spark.streams.active:
            break
        _time.sleep(0.2)
    q2 = encode_stream(stream, out, ckpt, trigger_once=True, **kw)
    q2.awaitTermination(120)
    q2.stop()
    snaps = snapshots(out)
    assert len(snaps) == 3, [s.get("stream") for s in snaps]
    assert not os.path.exists(os.path.join(out, "_pending_append.json"))
    dec = decode_table(spark, out)
    assert dec.count() == 150
    assert dec.agg({"k": "max"}).collect()[0][0] == 149


def test_upsert_stream_cdc_merge(spark, tmp_path):
    """Streaming MERGE: each micro-batch upserts by key (one atomic
    snapshot per batch), later batches overwrite earlier keys, and a
    replayed committed batch is a no-op (the stream tag survives the
    combined merge entry)."""
    import os
    import time as _time

    import pandas as pd

    from sparkcodec.engine import decode_table, snapshots
    from sparkcodec.streaming import upsert_stream

    src = str(tmp_path / "cdc_src")
    os.makedirs(src)
    # batch 0: keys 0..99 v=old; batch 1: keys 50..99 v=new + 100..119 new
    pd.DataFrame({"k": range(100), "v": ["old"] * 100}).to_parquet(f"{src}/f0.parquet")
    pd.DataFrame(
        {"k": list(range(50, 100)) + list(range(100, 120)), "v": ["new"] * 70}
    ).to_parquet(f"{src}/f1.parquet")
    out = str(tmp_path / "cdc_enc")
    ckpt = str(tmp_path / "cdc_ckpt")
    stream = (
        spark.readStream.schema("k long, v string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    kw = dict(cluster_by=["k"], salt_by=None, sort_by=["k"], num_parts=1,
              target_part_rows=200)
    q = upsert_stream(stream, out, ckpt, "k", trigger_once=True, **kw)
    q.awaitTermination(120)
    q.stop()
    snaps = snapshots(out)
    assert len(snaps) == 2, [s.get("stream") for s in snaps]
    assert snaps[-1].get("merge") and snaps[-1].get("stream")
    dec = decode_table(spark, out)
    assert dec.count() == 120
    vals = {r["k"]: r["v"] for r in dec.collect()}
    assert vals[49] == "old" and vals[50] == "new" and vals[119] == "new"
    assert sum(1 for v in vals.values() if v == "new") == 70
    # replay with the same checkpoint: no new snapshots, no duplicates
    for _ in range(50):
        if not spark.streams.active:
            break
        _time.sleep(0.2)
    q2 = upsert_stream(stream, out, ckpt, "k", trigger_once=True, **kw)
    q2.awaitTermination(120)
    q2.stop()
    assert len(snapshots(out)) == 2
    assert decode_table(spark, out).count() == 120


def _encode_docs(spark, sf_dir, out, **kw):
    from sparkcodec.engine import encode_table

    df = spark.read.parquet(f"{sf_dir}/documents.parquet")
    kw.setdefault("cluster_by", ["lang"])
    kw.setdefault("salt_by", ["doc_id"])
    kw.setdefault("sort_by", ["lang", "doc_id"])
    kw.setdefault("num_parts", 4)
    encode_table(spark, df, out, resume=False, **kw)
    return df


def test_datasource_columns_option_prunes_files(spark, tmp_path):
    """.option('columns', ...) restricts the scan to the named columns'
    block files: the other columns' files are never opened (proved by
    corrupting them), and the pruned schema round-trips correct values."""
    import glob
    import os

    from sparkcodec.datasource import SparkcodecDataSource

    out = str(tmp_path / "dscols")
    df = _encode_docs(spark, "/root/testdata/sf0.001", out)
    spark.dataSource.register(SparkcodecDataSource)
    # corrupt every non-selected column's block files
    for col in ("text", "source", "n_chars"):
        for f in glob.glob(os.path.join(out, "blocks", f"col={col}", "*.parquet")):
            with open(f, "wb") as fh:
                fh.write(b"garbage")
    got = (
        spark.read.format("sparkcodec")
        .option("columns", "lang,doc_id")
        .load(out)
    )
    assert got.columns == ["doc_id", "lang"] or got.columns == ["lang", "doc_id"]
    assert got.count() == df.count()
    assert got.agg({"doc_id": "max"}).collect()[0][0] == \
        df.agg({"doc_id": "max"}).collect()[0][0]
    # unknown column name is rejected loudly
    import pytest as _pytest

    with _pytest.raises(Exception, match="unknown columns"):
        spark.read.format("sparkcodec").option("columns", "nope").load(out).count()


def test_datasource_null_pushdown_prunes(spark, tmp_path):
    """IS NULL / IS NOT NULL prune parts (lineage null counts) and blocks
    (per-block nc meta); results stay exact."""
    from pyspark.sql import functions as F

    from sparkcodec.datasource import SparkcodecDataSource
    from sparkcodec.engine import (
        completed_parts,
        encode_table,
        part_null_stats,
        prune_parts_nulls,
    )

    out = str(tmp_path / "dsnulls")
    # cluster by g: g=0 rows have v NULL, others never -> some all-null
    # parts, some null-free parts
    df = spark.range(2000).select(
        F.col("id"),
        (F.col("id") % 4).alias("g"),
        F.when(F.col("id") % 4 == 0, None).otherwise(F.col("id")).alias("v"),
    )
    encode_table(spark, df, out, cluster_by=["g"], salt_by=["id"], sort_by=["g", "id"],
                 num_parts=8, target_part_rows=300, resume=False)
    parts = sorted(completed_parts(out))
    nstats = part_null_stats(out)
    kept_notnull = prune_parts_nulls(out, "v", "notnull", parts, nstats)
    kept_isnull = prune_parts_nulls(out, "v", "isnull", parts, nstats)
    assert len(kept_notnull) < len(parts), "all-null parts should be pruned"
    assert len(kept_isnull) < len(parts), "null-free parts should be pruned"
    spark.dataSource.register(SparkcodecDataSource)
    ds = spark.read.format("sparkcodec").load(out)
    assert ds.filter(F.col("v").isNotNull()).count() == 1500
    assert ds.filter(F.col("v").isNull()).count() == 500
    assert ds.filter(F.col("v").isNull()).agg({"id": "max"}).collect()[0][0] == 1996


def test_datasource_tasks_follow_session_parallelism(spark, tmp_path):
    """DS scans split by the rule decode_table uses, min(parts,
    defaultParallelism) of the active session — not the machine's cpu
    count — whether planned in-process or by the worker Spark starts to
    plan a Python data source."""
    from sparkcodec.datasource import SparkcodecDataSource, SparkcodecReader
    from sparkcodec.engine import completed_parts, decode_table

    out = str(tmp_path / "dstasks")
    _encode_docs(spark, "/root/testdata/sf0.001", out, num_parts=6)
    spark.dataSource.register(SparkcodecDataSource)
    ds = spark.read.format("sparkcodec").load(out)
    want = min(len(completed_parts(out)), spark.sparkContext.defaultParallelism)
    assert len(SparkcodecReader({"path": out}, ds.schema).partitions()) == want
    assert ds.rdd.getNumPartitions() == want
    assert decode_table(spark, out).rdd.getNumPartitions() == want


def test_v3_records_to_full_sonata(spark, tmp_path):
    """P1 V2/V3 parity: a decoded V3 record file maps to the full SONATA
    column set with the reference's names and narrowed types
    (parquet_writer.cpp:20-96)."""
    import os

    from sparkcodec.binsource import read_records, synthesize_records, write_record_file
    from sparkcodec.pipeline import to_sonata

    path = str(tmp_path / "v3.bin")
    recs = synthesize_records(500, version=3, seed=7)
    write_record_file(path, recs, version_string="6.0")
    df = read_records(spark, path)
    son = to_sonata(df, version=3)
    types = dict(son.dtypes)
    assert types["source_node_id"] == "int"
    assert types["target_node_id"] == "int"
    assert types["efferent_section_id"] == "smallint"
    assert types["afferent_segment_id"] == "smallint"
    assert types["branch_order"] == "tinyint"
    assert types["efferent_section_type"] == "tinyint"
    assert types["afferent_section_type"] == "tinyint"
    for c in ("efferent_center_x", "efferent_center_y", "efferent_center_z",
              "afferent_surface_x", "afferent_surface_y", "afferent_surface_z",
              "spine_length"):
        assert types[c] == "float", (c, types.get(c))
    assert son.count() == 500
    # values survive the rename: gid column content matches the source
    got = sorted(r["source_node_id"] for r in son.select("source_node_id").collect())
    assert got == sorted(int(x) for x in recs["pre_gid"])
    # V1 data through the same surface yields the V1 subset only
    p1 = str(tmp_path / "v1.bin")
    write_record_file(p1, synthesize_records(100, version=1, seed=8),
                      version_string="cafe")
    son1 = to_sonata(read_records(spark, p1), version=3)
    assert "source_node_id" in son1.columns
    # nulls surfaced for newer fields are fine; packed byte is absent ->
    # no unpack blow-up
    assert son1.count() == 100


def test_distributed_slice_planning_many_files(spark, tmp_path):
    """Above DISTRIBUTED_PLAN_THRESHOLD files, slice planning runs as a
    Spark job (never serial driver I/O); results match the driver
    planner and the scan reads every record."""
    import os

    from sparkcodec.binsource import (
        plan_slices,
        plan_slices_df,
        read_records,
        synthesize_records,
        write_record_file,
    )

    d = str(tmp_path / "many")
    os.makedirs(d)
    n_files, rows_each = 300, 40
    for i in range(n_files):
        write_record_file(
            os.path.join(d, f"r{i:04d}.bin"),
            synthesize_records(rows_each, version=2, seed=i),
            version_string="5.0",
        )
    paths = sorted(os.path.join(d, f"r{i:04d}.bin") for i in range(n_files))
    want = sorted(plan_slices(paths, 16))
    got = sorted(
        tuple(r) for r in plan_slices_df(spark, paths, 16).collect()
    )
    assert got == want
    df = read_records(spark, os.path.join(d, "*.bin"), rows_per_slice=16)
    assert df.count() == n_files * rows_each


def test_value_set_pruning_beats_zone_maps(spark, tmp_path):
    """Exact value-set pruning: a part whose [min,max] range SPANS the
    probe value but does not CONTAIN it is skipped for equality/IN —
    something zone maps alone cannot prove."""
    from pyspark.sql import functions as F

    from sparkcodec.datasource import SparkcodecDataSource
    from sparkcodec.engine import (
        completed_parts,
        encode_table,
        part_vsets,
        prune_parts,
        prune_parts_eq,
    )

    out = str(tmp_path / "vset")
    # one part holding exactly {'aa','zz'}: range [aa, zz] covers 'mm'
    # but the value set refutes it
    df = spark.createDataFrame(
        [(i, "aa" if i % 2 == 0 else "zz") for i in range(200)], "id long, tag string"
    )
    encode_table(spark, df, out, cluster_by=None, salt_by=["id"], sort_by=["tag"],
                 num_parts=1, resume=False)
    parts = sorted(completed_parts(out))
    # zone maps keep the part (range covers 'mm')...
    assert prune_parts(out, ("tag", "mm", "mm"), parts) == parts
    # ...the value set prunes it
    assert prune_parts_eq(out, "tag", ["mm"], parts) == []
    assert prune_parts_eq(out, "tag", ["zz"], parts) == parts
    vs = part_vsets(out)[parts[0]]["tag"]
    assert vs == ["aa", "zz"]
    # end-to-end through the DataSource: results stay exact
    spark.dataSource.register(SparkcodecDataSource)
    ds = spark.read.format("sparkcodec").load(out)
    assert ds.filter(F.col("tag") == "mm").count() == 0
    assert ds.filter(F.col("tag") == "aa").count() == 100
    assert ds.filter(F.col("tag").isin("aa", "mm")).count() == 100
    # high-cardinality column records no value set (head-sample gate)
    assert "id" not in vs if isinstance(vs, dict) else True
    assert "id" not in part_vsets(out)[parts[0]]


def test_bloom_pruning_mid_cardinality(spark, tmp_path):
    """Mid-cardinality columns (above the exact value-set cap) record a
    bloom filter: absent point probes prune parts, present values and
    cross-kind probes keep them, (near-)unique columns record nothing."""
    from pyspark.sql import functions as F

    from sparkcodec.datasource import SparkcodecDataSource
    from sparkcodec.engine import (
        completed_parts,
        encode_table,
        part_meta,
        prune_parts_bloom,
        prune_parts_eq,
    )

    out = str(tmp_path / "bloom")
    # tag has 500 distinct values (> _VSET_MAX=64, <= bloom cap); id is unique
    df = spark.range(5000).select(
        F.col("id"), F.concat(F.lit("v"), (F.col("id") % 500)).alias("tag")
    )
    encode_table(spark, df, out, cluster_by=None, salt_by=["id"], sort_by=["tag"],
                 num_parts=1, resume=False)
    parts = sorted(completed_parts(out))
    pm = part_meta(out)
    rec = pm[parts[0]]["bloom"]
    assert "tag" in rec and rec["tag"]["kinds"] == ["s"], rec.keys()
    assert "id" not in rec  # unique column: head gate skips the bloom
    assert "tag" not in pm[parts[0]]["vset"]  # too many distinct for vset
    blooms = {p: d["bloom"] for p, d in pm.items()}
    assert prune_parts_bloom(out, "tag", ["nope"], parts, blooms) == []
    assert prune_parts_bloom(out, "tag", ["v123"], parts, blooms) == parts
    assert prune_parts_bloom(out, "tag", [123], parts, blooms) == parts  # kind miss
    # value-set path stays conservative for this column (no vset stored)
    assert prune_parts_eq(out, "tag", ["nope"], parts) == parts
    # end-to-end: DS point read stays exact, absent value scans nothing
    spark.dataSource.register(SparkcodecDataSource)
    ds = spark.read.format("sparkcodec").load(out)
    assert ds.filter(F.col("tag") == "v123").count() == 10
    assert ds.filter(F.col("tag") == "absent").count() == 0


def test_bloom_key_signed_zero():
    """IEEE -0.0 == 0.0, so build and probe must agree on one key — a
    part storing -0.0 must not be bloom-pruned for probe 0.0."""
    import numpy as np
    import pyarrow as pa

    from sparkcodec.engine import _bloom_key, _part_col_value_index, prune_parts_bloom

    assert _bloom_key(-0.0) == _bloom_key(0.0)
    assert _bloom_key(0.0) != _bloom_key(0)  # kinds stay distinct
    # bloom built over a mid-cardinality float column containing -0.0
    vals = np.concatenate([[-0.0], np.arange(1, 200, dtype=np.float64)])
    rec = _part_col_value_index(pa.array(np.tile(vals, 30)))[1]
    assert rec is not None and rec["kinds"] == ["f"]
    blooms = {0: {"x": rec}}
    assert prune_parts_bloom(".", "x", [0.0], [0], blooms) == [0]  # kept
    assert prune_parts_bloom(".", "x", [-0.0], [0], blooms) == [0]
    assert prune_parts_bloom(".", "x", [777.5], [0], blooms) == []  # pruned


def test_datasource_as_of_option(spark, tmp_path):
    """The batch reader time-travels by timestamp via .option("as_of"):
    reads the latest snapshot committed at or before the stamp, and
    refuses being combined with snapshot_id."""
    import time as _time

    import pytest as _pytest
    from pyspark.sql import functions as F

    from sparkcodec.datasource import SparkcodecDataSource
    from sparkcodec.engine import encode_table, snapshots

    spark.dataSource.register(SparkcodecDataSource)
    out = str(tmp_path / "asof")
    df = spark.range(200).select(F.col("id"), (F.col("id") % 2).alias("g"))
    encode_table(spark, df, out, cluster_by=["g"], salt_by=["id"],
                 num_parts=1, resume=False)
    t1 = snapshots(out)[-1]["ts"]
    _time.sleep(0.05)
    encode_table(spark, df.withColumn("id", F.col("id") + 200), out,
                 append=True, cluster_by=["g"], salt_by=["id"], num_parts=1)
    t2 = snapshots(out)[-1]["ts"]
    r1 = spark.read.format("sparkcodec").option("as_of", str((t1 + t2) / 2)) \
        .load(out)
    assert r1.count() == 200
    r2 = spark.read.format("sparkcodec").option("as_of", str(t2 + 1)).load(out)
    assert r2.count() == 400
    with _pytest.raises(Exception, match="not both"):
        spark.read.format("sparkcodec").option("as_of", str(t2)) \
            .option("snapshot_id", "1").load(out).count()


def test_stream_reader_where_option_prunes(spark, tmp_path):
    """The changefeed's .option("where", JSON) prunes parts and blocks:
    delivered rows are a superset of the matches and fewer than the
    table, and the exact filter composes downstream."""
    import json as _json

    from pyspark.sql import functions as F

    from sparkcodec.datasource import SparkcodecDataSource
    from sparkcodec.engine import encode_table

    spark.dataSource.register(SparkcodecDataSource)
    out = str(tmp_path / "swhere")
    df = spark.range(4000).select(
        F.col("id"), (F.col("id") % 8).alias("g"),
        F.concat(F.lit("x"), F.col("id")).alias("txt"),
    )
    encode_table(spark, df, out, cluster_by=["g"], salt_by=["id"],
                 sort_by=["g", "id"], num_parts=8, target_part_rows=500,
                 resume=False, block_rows=128)
    sink, ck = str(tmp_path / "sink"), str(tmp_path / "ck")
    q = (
        spark.readStream.format("sparkcodec")
        .option("where", _json.dumps([["g", 2, 2], ["id", 0, 999]]))
        .load(out)
        .writeStream.format("parquet")
        .option("path", sink).option("checkpointLocation", ck)
        .trigger(availableNow=True).start()
    )
    q.awaitTermination()
    got = spark.read.parquet(sink)
    n_exact = got.filter((F.col("g") == 2) & F.col("id").between(0, 999)).count()
    n_delivered = got.count()
    assert n_exact == 125  # ids 2,10,...,994
    assert n_exact <= n_delivered < 4000, n_delivered


def test_stream_reader_where_any_dnf(spark, tmp_path):
    """The changefeed's where_any option (OR of conjunctions) unions
    per-disjunct survivors and intersects the conjunctive where —
    delivered rows cover all matches of the OR, fewer than the table."""
    import json as _json

    from pyspark.sql import functions as F

    from sparkcodec.datasource import SparkcodecDataSource
    from sparkcodec.engine import encode_table

    spark.dataSource.register(SparkcodecDataSource)
    out = str(tmp_path / "sdnf")
    df = spark.range(4000).select(
        F.col("id"), (F.col("id") % 8).alias("g"))
    encode_table(spark, df, out, cluster_by=["g"], salt_by=["id"],
                 sort_by=["g", "id"], num_parts=8, target_part_rows=500,
                 resume=False, block_rows=128)
    sink, ck = str(tmp_path / "sink"), str(tmp_path / "ck")
    q = (
        spark.readStream.format("sparkcodec")
        .option("where_any", _json.dumps([[["g", 1, 1]], [["g", 6, 6]]]))
        .option("where", _json.dumps([["id", 0, 1999]]))
        .load(out)
        .writeStream.format("parquet")
        .option("path", sink).option("checkpointLocation", ck)
        .trigger(availableNow=True).start()
    )
    q.awaitTermination()
    got = spark.read.parquet(sink)
    n_exact = got.filter(
        F.col("g").isin(1, 6) & F.col("id").between(0, 1999)
    ).count()
    assert n_exact == 500  # 250 per g in the id range
    assert n_exact <= got.count() < 4000, got.count()


def test_table_changes_and_cdc_stream(spark, tmp_path):
    """CDC semantics: appends emit inserts; a range delete emits exactly
    the removed keys; a merge emits delete(preimage) + insert(new) for
    replaced keys and insert-only for new keys; keys merely carried
    through a rewrite cancel to zero. The stream reader's cdc mode
    delivers the same events per snapshot."""
    from pyspark.sql import functions as F

    from sparkcodec.datasource import SparkcodecDataSource
    from sparkcodec.engine import (
        delete_rows,
        encode_table,
        table_changes,
        upsert_rows,
    )

    spark.dataSource.register(SparkcodecDataSource)
    out = str(tmp_path / "cdc")
    df = spark.range(100).select(F.col("id"), (F.col("id") % 5).alias("g"))
    kw = dict(cluster_by=["g"], salt_by=["id"], num_parts=3)
    encode_table(spark, df, out, resume=False, **kw)          # snapshot 1
    delete_rows(spark, out, ("id", 10, 19))                   # snapshot 2
    up = spark.createDataFrame([(5, 0), (200, 0)], "id long, g long")
    upsert_rows(spark, up, out, "id", **kw)                   # snapshot 3

    ch = table_changes(spark, out, "id").collect()
    ev = {(r["snapshot_id"], r["op"], r["id"]): r["n"] for r in ch}
    assert sum(n for (s, o, _k), n in ev.items() if s == 1 and o == "insert") == 100
    s2_dels = sorted(k for (s, o, k) in ev if s == 2 and o == "delete")
    assert s2_dels == list(range(10, 20))
    assert not any(s == 2 and o == "insert" for (s, o, _k) in ev)
    assert sorted(k for (s, o, k) in ev if s == 3 and o == "insert") == [5, 200]
    # preimage delete for the replaced key ONLY — key 200 was new, and
    # the rewrite's carried-through keys (rest of 5's part) cancel out
    assert sorted(k for (s, o, k) in ev if s == 3 and o == "delete") == [5]
    # one Python task per slot over spark.range, no pickled driver table
    plan = str(
        table_changes(spark, out, "id")._jdf.queryExecution().executedPlan()
    )
    assert "Range" in plan and "Scan ExistingRDD" not in plan
    # start/end bounds
    assert all(
        r["snapshot_id"] == 3
        for r in table_changes(spark, out, "id", start_snapshot=2).collect()
    )

    # stream cdc mode: same events, delivered per snapshot
    sink = str(tmp_path / "cdc_sink")
    ck = str(tmp_path / "cdc_ck")
    q = (
        spark.readStream.format("sparkcodec")
        .option("cdc", "true").option("key", "id").load(out)
        .writeStream.format("parquet").option("path", sink)
        .option("checkpointLocation", ck).trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    got = spark.read.parquet(sink).collect()
    sev = {(r["_snapshot_id"], r["_op"], r["id"]): r["_n"] for r in got}
    assert sev == ev


def test_cdc_key_path_has_no_per_row_python():
    """Structural guard for the input_hint's 'no per-row Python'
    invariant: the ONLY code that touches decoded key data is
    _part_key_counts (pyarrow value_counts), which must not call
    to_pylist; the CDC kernel and stream reader must route all decoding
    through it (so their remaining to_pylist, if any, can only see
    O(#parts) plan rows, never data rows)."""
    import inspect

    from sparkcodec import datasource, engine

    assert "to_pylist" not in inspect.getsource(engine._part_key_counts)
    ker_src = inspect.getsource(engine._cdc_key_kernel)
    # the kernel never decodes directly — only via the vectorized helper
    assert "_decode_part_batches" not in ker_src
    assert "_part_key_counts" in ker_src
    rd_src = inspect.getsource(datasource.SparkcodecCDCStreamReader.read)
    assert "to_pylist" not in rd_src
    assert "_part_key_counts" in rd_src


def test_stream_and_cdc_follow_renamed_columns(spark, tmp_path):
    """The changefeed replays pre-rename parts under the renamed schema
    (alias resolution ships inside the stream partitions), and CDC key
    decoding — batch planner and stream reader — follows a renamed key
    column into its storage name."""
    from pyspark.sql import functions as F

    from sparkcodec.datasource import SparkcodecDataSource
    from sparkcodec.engine import (
        delete_rows,
        encode_table,
        rename_column,
    )

    spark.dataSource.register(SparkcodecDataSource)
    out = str(tmp_path / "t")
    df = spark.range(300).select(
        F.col("id"), (F.col("id") % 5).alias("g"), (F.col("id") * 3).alias("v"),
    )
    encode_table(spark, df, out, cluster_by=["g"], salt_by=["id"],
                 num_parts=2, resume=False)
    rename_column(out, "v", "w")
    sink, ck = str(tmp_path / "s"), str(tmp_path / "c")
    q = (spark.readStream.format("sparkcodec").load(out)
         .writeStream.format("parquet").option("path", sink)
         .option("checkpointLocation", ck).trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = spark.read.parquet(sink)
    assert got.where("w = id * 3").count() == 300

    rename_column(out, "id", "doc")
    delete_rows(spark, out, ("doc", 0, 4))
    sink2, ck2 = str(tmp_path / "s2"), str(tmp_path / "c2")
    q = (spark.readStream.format("sparkcodec")
         .option("cdc", "true").option("key", "doc").load(out)
         .writeStream.format("parquet").option("path", sink2)
         .option("checkpointLocation", ck2).trigger(availableNow=True).start())
    q.awaitTermination(120)
    ev = spark.read.parquet(sink2)
    dels = sorted(r["doc"] for r in ev.where("_op = 'delete'").collect())
    assert dels == [0, 1, 2, 3, 4]


def test_isnull_pushdown_keeps_ghost_parts(spark, tmp_path):
    """IS NULL pushdown must not prune a part by the DEAD field's null
    stats: after drop + re-add, pre-drop parts decode the column as
    all-NULL at the tip, so every one of their rows matches IS NULL even
    though the retired field recorded zero nulls."""
    from pyspark.sql import functions as F

    from sparkcodec.datasource import SparkcodecDataSource
    from sparkcodec.engine import drop_column, encode_table

    spark.dataSource.register(SparkcodecDataSource)
    out = str(tmp_path / "ghostnull")
    df = spark.range(100).select(
        F.col("id"), (F.col("id") % 2).alias("g"),
        (F.col("id") * 10).alias("v"),  # zero nulls in the retired field
    )
    encode_table(spark, df, out, cluster_by=["g"], salt_by=["id"],
                 num_parts=1, resume=False)
    drop_column(out, "v")
    encode_table(
        spark,
        spark.range(100, 150).select(
            F.col("id"), (F.col("id") % 2).alias("g"),
            (F.col("id") + 7).alias("v"),  # re-added name, fresh field id
        ),
        out, append=True, cluster_by=["g"], salt_by=["id"], num_parts=1,
    )
    r = spark.read.format("sparkcodec").load(out)
    # the 100 pre-drop rows are all-NULL for v at the tip
    assert r.filter("v IS NULL").count() == 100
    assert r.filter("v IS NOT NULL").count() == 50
