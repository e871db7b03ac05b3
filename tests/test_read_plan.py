"""One read plan behind every reader: ``decode_table``, the batch data
source ``format("sparkcodec")`` and its changefeed keep the same parts
and return the same rows for the same predicates, across schema
evolution (ghosts, aliases, add_column defaults)."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F
from pyspark.sql.datasource import (
    EqualTo,
    GreaterThanOrEqual,
    In,
    IsNotNull,
    IsNull,
    LessThanOrEqual,
    StringStartsWith,
)

from sparkcodec.datasource import (
    SparkcodecDataSource,
    SparkcodecReader,
    SparkcodecStreamReader,
)
from sparkcodec.engine import (
    _keep_row_ranges_multi,
    _normalize_where,
    _plan_read,
    add_column,
    decode_table,
    drop_column,
    encode_table,
    rename_column,
    snapshots,
)

# one part per append, each a disjoint id range, small blocks: range
# predicates prune both parts and blocks
_SPANS = [(0, 100), (100, 200), (200, 300), (300, 400)]


def _v(i):
    return None if i % 9 == 4 else i


def _cols(col="v", scale=1):
    return [
        F.col("id"),
        (F.col("id") % 4).alias("g"),
        F.format_string("k%04d", F.col("id")).alias("s"),
        F.when(F.col("id") % 9 == 4, None)
        .otherwise(F.col("id") * scale).alias(col),
    ]


def _append(spark, out, span, cols, first=False):
    encode_table(
        spark, spark.range(*span).select(*cols), out,
        cluster_by=["g"], salt_by=["id"], num_parts=1, block_rows=25,
        resume=not first, append=not first,
    )


def _build(spark, out, state):
    """Encode a four-part table in one of four states; return the model
    of what the tip reads, {id: v}."""
    early, late = _SPANS[:2], _SPANS[2:]
    if state == "plain":
        for k, span in enumerate(_SPANS):
            _append(spark, out, span, _cols(), first=k == 0)
        return {i: _v(i) for i in range(400)}
    if state == "ghost":  # drop + re-add: early parts read v as NULL
        for k, span in enumerate(early):
            _append(spark, out, span, _cols(scale=1000), first=k == 0)
        drop_column(out, "v")
    elif state == "alias":  # early parts store v under its old name x
        for k, span in enumerate(early):
            _append(spark, out, span, _cols(col="x"), first=k == 0)
        rename_column(out, "x", "v")
    elif state == "default":  # early parts read v as the default 7
        for k, span in enumerate(early):
            _append(spark, out, span, _cols()[:3], first=k == 0)
        add_column(out, "v", "i64", default=7)
    for span in late:
        _append(spark, out, span, _cols())
    pre = {"ghost": None, "alias": "same", "default": 7}[state]
    return {
        i: (_v(i) if i >= 200 or pre == "same" else pre) for i in range(400)
    }


# (name, public where or None, Catalyst filters, exact SQL, model test)
_CASES = [
    ("range", ("v", 150, 260),
     [GreaterThanOrEqual(("v",), 150), LessThanOrEqual(("v",), 260)],
     "v >= 150 AND v <= 260", lambda i, v: v is not None and 150 <= v <= 260),
    ("point", ("v", 7, 7), [EqualTo(("v",), 7)], "v = 7",
     lambda i, v: v == 7),
    ("in", ("v", [7, 250, 333]), [In(("v",), (7, 250, 333))],
     "v IN (7, 250, 333)", lambda i, v: v in (7, 250, 333)),
    ("isnull", None, [IsNull(("v",))], "v IS NULL", lambda i, v: v is None),
    ("notnull", None, [IsNotNull(("v",))], "v IS NOT NULL",
     lambda i, v: v is not None),
    ("startswith", ("s", "k03", "k04"), [StringStartsWith(("s",), "k03")],
     "s LIKE 'k03%'", lambda i, v: 300 <= i < 400),
]


def _feed(spark, out, tmp_path, tag, where=None):
    """Every row one availableNow changefeed run delivers."""
    r = spark.readStream.format("sparkcodec")
    if where is not None:
        r = r.option("where", json.dumps([list(w) for w in where]))
    q = (r.load(out).writeStream.format("parquet")
         .option("path", str(tmp_path / f"sink-{tag}"))
         .option("checkpointLocation", str(tmp_path / f"ck-{tag}"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    return spark.read.parquet(str(tmp_path / f"sink-{tag}"))


def _rows(df, sql):
    return sorted((r["id"], r["v"]) for r in df.where(sql).select("id", "v").collect())


def _parts(partitions):
    return sorted(p for ip in partitions for p in ip.value.parts)


@pytest.mark.parametrize("state", ["plain", "ghost", "alias", "default"])
def test_readers_agree_on_parts_and_rows(spark, tmp_path, state):
    spark.dataSource.register(SparkcodecDataSource)
    out = str(tmp_path / "t")
    model = _build(spark, out, state)
    schema = spark.read.format("sparkcodec").load(out).schema
    tip = {"snapshot": snapshots(out)[-1]["id"]}
    everything = _feed(spark, out, tmp_path, "all")
    pruned_somewhere = False
    for name, where, filters, sql, test in _CASES:
        want = sorted((i, v) for i, v in model.items() if test(i, v))
        # the plan decode_table makes; null tests exist only in the
        # data source's internal form
        wheres = (
            _normalize_where(where) if where is not None
            else [(f.attribute[0], "isnull" if isinstance(f, IsNull) else "notnull")
                  for f in filters]
        )
        plan_parts = _plan_read(out, wheres=wheres).parts
        r = SparkcodecReader({"path": out}, schema)
        r.pushFilters(filters)
        assert _parts(r.partitions()) == plan_parts, (state, name)
        pruned_somewhere |= len(plan_parts) < 4
        dec = decode_table(spark, out, where=where)
        assert _rows(dec, sql) == want, (state, name, "decode_table")
        ds = spark.read.format("sparkcodec").load(out)
        assert _rows(ds, sql) == want, (state, name, "format")
        if where is None:
            assert _rows(everything, sql) == want, (state, name, "feed")
            continue
        # pruning by a column the read does not decode keeps every match
        ids = decode_table(spark, out, columns=["id"], where=where).collect()
        assert {i for i, _ in want} <= {r["id"] for r in ids}, (state, name)
        s = SparkcodecStreamReader(
            {"path": out, "where": json.dumps([list(w) for w in _normalize_where(where)])},
            schema,
        )
        assert _parts(s.partitions({"snapshot": 0}, tip)) == plan_parts, (state, name)
        fed = _feed(spark, out, tmp_path, name, _normalize_where(where))
        assert _rows(fed, sql) == want, (state, name, "feed")
    assert pruned_somewhere, state


def _defaulted(spark, tmp_path):
    out = str(tmp_path / "t")
    for k, span in enumerate(_SPANS[:2]):
        _append(spark, out, span, _cols()[:3], first=k == 0)
    add_column(out, "score", "i64", default=7)
    _append(spark, out, _SPANS[2], _cols(col="score"))
    return out


def test_changefeed_fills_add_column_default(spark, tmp_path):
    """Rows appended before add_column(default=7) reach a changefeed
    consumer as 7, as they read through decode_table — not as NULL."""
    spark.dataSource.register(SparkcodecDataSource)
    out = _defaulted(spark, tmp_path)
    got = _feed(spark, out, tmp_path, "feed")
    assert got.where("id < 200 AND score = 7").count() == 200
    assert got.where("id < 200 AND score IS NULL").count() == 0
    assert got.where("id >= 200").count() == 100


def test_changefeed_where_on_defaulted_column(spark, tmp_path):
    """A changefeed predicate on a defaulted column must not prune the
    pre-add rows by block files that do not exist."""
    spark.dataSource.register(SparkcodecDataSource)
    out = _defaulted(spark, tmp_path)
    got = _feed(spark, out, tmp_path, "feed", [("score", 7, 7)])
    assert got.where("id < 200 AND score = 7").count() == 200


def _sorted_append(spark, out, span, v, first=False, block_rows=25):
    """One part holding ``span``'s ids in id order, with ``v``."""
    encode_table(
        spark, spark.range(*span).select(F.col("id"), v.alias("v")), out,
        cluster_by=None, salt_by=["id"], sort_by=["id"], num_parts=1,
        block_rows=block_rows, resume=not first, append=not first,
    )


def test_all_null_zones_are_refuted(spark, tmp_path):
    """NULL matches no range: a part whose v is all NULL is dropped, and
    so are the all-NULL blocks of a kept part (ids 100-149 here)."""
    out = str(tmp_path / "t")
    null = F.lit(None).cast("long")
    _sorted_append(spark, out, _SPANS[0], null, first=True)
    _sorted_append(spark, out, _SPANS[1],
                   F.when(F.col("id") < 150, null).otherwise(F.col("id")))
    for span in _SPANS[2:]:
        _sorted_append(spark, out, span, F.col("id"))
    parts = _plan_read(out).parts
    w = ("v", 0, 1000)
    assert _plan_read(out, wheres=[w]).parts == parts[1:]
    assert _keep_row_ranges_multi(out, parts[1], [w]) == [[50, 100]]
    got = decode_table(spark, out, where=w).where("v BETWEEN 0 AND 1000")
    assert sorted(r["id"] for r in got.collect()) == list(range(150, 400))


def test_in_list_tests_each_value_against_part_bounds(spark, tmp_path):
    """A part is kept when its [min, max] holds one of the IN values,
    not whenever it overlaps [min(values), max(values)]. Each part holds
    4096 distinct ids, too many for a value set or a bloom, so only the
    bounds decide here."""
    out = str(tmp_path / "t")
    n = 4096
    for k in range(4):
        _sorted_append(spark, out, (k * n, (k + 1) * n), F.col("id"),
                       first=k == 0, block_rows=1024)
    parts = _plan_read(out).parts
    w = ("v", (5, 4 * n - 5))
    assert _plan_read(out, wheres=[w]).parts == [parts[0], parts[3]]
    got = decode_table(spark, out, where=w).where(f"v IN (5, {4 * n - 5})")
    assert sorted(r["v"] for r in got.collect()) == [5, 4 * n - 5]


def test_renamed_column_prunes_old_parts_by_stored_stats(spark, tmp_path):
    """Parts written before rename_column("x", "v") keep their block
    files and statistics under x; a predicate on v judges them by those."""
    out = str(tmp_path / "t")
    model = _build(spark, out, "alias")
    parts = _plan_read(out).parts
    w = ("v", 0, 50)
    assert _plan_read(out, wheres=[w]).parts == parts[:1]
    want = sorted((i, v) for i, v in model.items() if v is not None and v <= 50)
    assert _rows(decode_table(spark, out, where=w), "v BETWEEN 0 AND 50") == want


def test_decode_job_reports_the_planned_parts(spark, tmp_path, monkeypatch, capsys):
    """decode_job's parts_kept is the read plan's. After drop_column +
    add_column every part holds v under a retired field id, so a range
    on v keeps no part."""
    from jobs.decode_job import main

    out = str(tmp_path / "t")
    _build(spark, out, "plain")
    drop_column(out, "v")
    add_column(out, "v", "i64")
    monkeypatch.setattr(
        "sys.argv", ["decode_job.py", "--input", out, "--where", "v:100:399"]
    )
    assert main() == 0
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    kept = _plan_read(out, wheres=[("v", 100, 399)]).parts
    assert (rep["parts_total"], rep["parts_kept"], rep["rows"]) == (4, len(kept), 0)
    assert kept == []
