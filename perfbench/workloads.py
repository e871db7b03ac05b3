"""The workloads. Each drives sparkcodec's public API from one client
in a closed loop on ``local[2]``: set up (session, input load, warm-up —
all charged to ``setup_s``), then timed ops until the next would
overrun the run's seconds, then exact correctness and byte checks.

Why these three (each stresses layers the others leave idle):

- ``bulk_encode``: encode + full decode of a code_files table. Codec
  kernels, codec selection, the clustered exchange and the Arrow
  boundary do the work; read planning and metadata do almost none.
- ``append_maintain``: append / upsert / delete commits, each followed by
  a pruned read right after the write (cold snapshot and manifest
  caches, since every commit invalidates them) and the same read again
  (warm caches), alternating ``decode_table(where=...)`` and
  ``format("sparkcodec")`` with pushed filters; plus compaction and
  snapshot expiry. Read planning, pruning, manifests, commits and
  per-job Spark overhead dominate; codecs touch a few blocks only.
- ``edges_index``: a numeric edge table encoded then indexed in both
  directions with ``build_index`` (the reference's index pipeline). The
  integer codecs and the ``index`` layer run only here.
"""

from __future__ import annotations

import gc
import os
import shutil
import statistics
import sys
import time
import traceback

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from . import harness, inputs

CORES = 2

# Warm-up ops per workload, run inside set-up (whole op cycles). Measured
# at local[2] on a 4-vCPU VM, seed 3, walls in s:
# - bulk_encode: encode 9.10 (cold), 2.33, 2.05, 2.02, 1.85, 1.79;
#   decode 2.00, 1.54, 1.57, 1.69, 1.60 — the cold encode is ~4.5x a warm
#   one, after two cycles ops sit within ~10% of their later level;
# - append_maintain: the first upsert (5.3) and data-source read (5.0)
#   are 2-5x their second (2.6, 1.0); every other op is near its steady
#   level on its first run;
# - edges_index: encode 9.6 / 1.8 / 1.8, index source 7.1 / 4.7 / 4.6,
#   index target 4.4 / 4.7 / 4.1 — one cold cycle, then flat within ~10%.
# Longer warm-ups would push a run past ~50 s, too long for a campaign of
# about 22 runs per workload within the hour.
WARMUP = {"bulk_encode": 4, "append_maintain": 10, "edges_index": 3}

PART_ROWS = 3_000  # rows per logical part of a clustered encode
# append_maintain's table is small; smaller parts give reads something to
# prune and commits several manifests to rewrite
MAINT_PART_ROWS = 750


class Failed(Exception):
    """An op returned a wrong result."""


class Bench:
    """One run: session, timers, op records, correctness tallies and,
    in a traced run, spans and per-layer counts."""

    def __init__(self, root: str, workload: str, seed: int, seconds: float,
                 trace: bool, scale: str):
        self.root, self.workload, self.seed = root, workload, seed
        self.seconds, self.trace, self.scale = seconds, trace, scale
        self.cache = os.path.join(root, "perfbench", ".cache")
        self.work = os.path.join(root, "perfbench", ".work")
        self.ops: list[dict] = []
        self.warm_walls: list[float] = []
        self.attempted = self.failed = 0
        self.tracer = harness.Tracer() if trace else None
        self.counts: dict[str, float] = {}
        self.layer: dict[str, float] = {}
        self.detail: dict[str, tuple] = {}  # name -> (value, unit, samples)
        self.meter = None
        self.spark = None
        self.setup_s = float("nan")
        self.window_s = 0.0
        self.span_end = 0

    # ---- session -------------------------------------------------------
    def start(self) -> None:
        shutil.rmtree(self.work, ignore_errors=True)
        tmp = os.path.join(self.cache, "tmp")  # native kernel build cache
        for d in (self.work, tmp):
            os.makedirs(d, exist_ok=True)
        os.environ["TMPDIR"] = tmp
        # JVMs keep their perf-data files in /tmp whatever java.io.tmpdir says
        os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (self.root, os.environ.get("PYTHONPATH")) if p
        )
        from sparkcodec.session import get_spark

        t0 = self._t_setup = time.perf_counter()
        self.spark = get_spark(
            cores=CORES,
            app_name=f"perfbench-{self.workload}",
            driver_memory="2g",
            extra_conf={
                "spark.local.dir": os.path.join(self.work, "spark-local"),
                "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
                "spark.ui.showConsoleProgress": "false",
                "spark.sql.files.maxPartitionBytes": str(4 << 20),
            },
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        self._t_started = time.perf_counter()
        self.layer["session.start_s"] = self._t_started - t0
        if self.trace:
            self.meter = harness.StageMeter(self.spark)

    def stop(self) -> None:
        """Stop the session and wait for the JVM it launched to exit."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gw = SparkContext._gateway
        proc = getattr(gw, "proc", None)
        if gw is not None:
            gw.shutdown()
            SparkContext._gateway = SparkContext._jvm = None
        if proc is not None:
            proc.terminate()
            try:
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait()
        shutil.rmtree(self.work, ignore_errors=True)

    def gc(self) -> None:
        """Between ops: a JVM GC lets the ContextCleaner drop finished
        shuffle files (else they linger and later ops slow down)."""
        self.spark._jvm.System.gc()
        gc.collect()

    # ---- ops -----------------------------------------------------------
    def op(self, kind: str, fn, timed: bool = True) -> None:
        """Run one op; ``fn`` raises :class:`Failed` on a wrong result."""
        self.gc()
        n = len(self.ops)
        op_id = f"{kind}#{n}"
        before = dict(self.counts)
        if self.tracer:
            self.tracer.op_id = op_id
            self.meter.begin(op_id)
        ok = True
        t0 = time.perf_counter()
        try:
            if self.tracer:
                with self.tracer.span("bench", kind):
                    fn()
            else:
                fn()
        except Exception as e:  # an op boundary: record, report, go on
            ok = False
            if not isinstance(e, Failed):
                traceback.print_exc(file=sys.stderr)
            else:
                print(f"[{op_id}] {e}", file=sys.stderr)
        wall = time.perf_counter() - t0
        if not timed:
            self.warm_walls.append(wall)
            if not ok:
                raise RuntimeError(f"warm-up op {kind} failed")
            return
        self.attempted += 1
        self.failed += 0 if ok else 1
        rec = {"kind": kind, "wall": wall, "ok": ok}
        if self.tracer:
            rec["stages"] = self.meter.collect(op_id)
            rec["fs"] = {k: v - before.get(k, 0) for k, v in self.counts.items()}
        self.ops.append(rec)

    def check(self, kind: str, fn) -> None:
        """An untimed correctness check that counts as an attempted op."""
        self.attempted += 1
        try:
            fn()
        except Exception as e:
            self.failed += 1
            print(f"[{kind}] check failed: {e!r}", file=sys.stderr)

    def run_ops(self, step_at, period: int, warm: int, on_timed=None) -> None:
        """``warm`` untimed steps (charged to set-up), then timed steps
        until the next one would not fit in the run's seconds, after at
        least one full ``period`` (so every op kind is measured each run).
        ``step_at(i)`` gives step i as ``(kind, fn)``."""
        for i in range(warm):
            self.op(*step_at(i), timed=False)
        self.setup_done()
        if on_timed:
            on_timed()
        t0 = time.perf_counter()
        i = 0
        while True:
            kind, fn = step_at(warm + i)
            if i >= period and (time.perf_counter() - t0
                                + statistics.median(self.walls(kind) or [0.0])
                                > self.seconds):
                break
            self.op(kind, fn)
            i += 1
        self.window_s = time.perf_counter() - t0
        if self.tracer:
            self.span_end = len(self.tracer.spans)

    def action(self, df):
        """Collect a (small, aggregated) DataFrame: the Spark action."""
        if self.tracer:
            with self.tracer.span("spark", "spark.action"):
                return df.collect()
        return df.collect()

    def setup_done(self) -> None:
        """End of set-up: warm-up time is charged here; what the timed
        window counts starts from zero."""
        now = time.perf_counter()
        self.layer["session.warmup_s"] = now - self._t_started
        self.setup_s = now - self._t_setup
        self.counts.clear()
        if self.tracer:
            self.tracer.spans.clear()
            self.tracer.bookkeeping_s = 0.0

    def walls(self, kind: str) -> list[float]:
        return [o["wall"] for o in self.ops if o["kind"] == kind and o["ok"]]

    def add_median(self, name: str, walls: list, unit: str, scale: float = 1.0) -> None:
        """A workload-specific figure for the report: a median wall."""
        if walls:
            self.detail[name] = (statistics.median(walls) * scale, unit, len(walls))

    def add_rate(self, name: str, amount: float, walls: list, unit: str) -> None:
        """A workload-specific figure for the report: amount per median wall."""
        if walls:
            self.detail[name] = (amount / statistics.median(walls), unit, len(walls))

    # ---- per-layer figures (traced run) ----------------------------------
    def replay_codecs(self, table: pa.Table, cols: list[str]) -> None:
        """Codec selection and the codec kernels run in Python workers,
        out of the tracer's reach: replay them single-thread here on one
        sample part (the first ``PART_ROWS`` rows)."""
        from sparkcodec import codecs, select
        from sparkcodec.codecs import _native
        from sparkcodec.codecs.kernels import string_parts

        sample = table.slice(0, PART_ROWS)
        choose = fsst = enc = dec = 0.0
        raw = 0
        for col in cols:
            arr = sample.column(col).combine_chunks()
            t0 = time.perf_counter()
            spec, sym = select.choose_codec(arr)
            choose += time.perf_counter() - t0
            if pa.types.is_string(arr.type):
                t0 = time.perf_counter()
                select.build_table(*string_parts(arr))
                fsst += time.perf_counter() - t0
            t0 = time.perf_counter()
            payload, meta = codecs.encode_array(arr, spec, fsst_table=sym)
            t1 = time.perf_counter()
            back = codecs.decode_array(payload, meta)
            t2 = time.perf_counter()
            if not back.equals(arr):
                raise Failed(f"codec replay of {col} with {spec} is not lossless")
            enc, dec, raw = enc + t1 - t0, dec + t2 - t1, raw + arr.nbytes
        self.layer.update({
            "select.choose_s": choose, "select.fsst_table_s": fsst,
            "codecs.encode_mb_s": raw / 1e6 / enc, "codecs.decode_mb_s": raw / 1e6 / dec,
            "codecs.fsst_native": 1.0 if _native.lib() is not None else 0.0,
        })

    def block_stats(self, out: str) -> None:
        """Exact encoded bytes per column and block counts per codec."""
        from sparkcodec import engine
        from sparkcodec.codecs.api import parse_spec

        for r in engine.blocks_stats(self.spark, out).collect():
            k = f"codecs.enc_bytes.{r['col']}"
            self.layer[k] = self.layer.get(k, 0.0) + r["enc_bytes"]
            k = f"codecs.blocks.{parse_spec(r['codec'])[0]}"
            self.layer[k] = self.layer.get(k, 0.0) + r["n_blocks"]

    def parts_kept(self, out: str, where) -> tuple[int, int]:
        """Parts a predicate keeps, through the public pruning functions."""
        from sparkcodec import engine

        parts = engine.snapshot_parts(out) or []
        kept = list(parts)
        for w in where if isinstance(where, list) else [where]:
            if len(w) == 3:
                kept = engine.prune_parts(out, w, kept)
            else:
                kept = engine.prune_parts_eq(out, w[0], w[1], kept)
                kept = engine.prune_parts_bloom(out, w[0], w[1], kept)
        return len(kept), len(parts)

    # ---- the result ----------------------------------------------------
    def end_to_end(self, byte_metrics: dict) -> dict:
        """``op_p50_ms`` is the mean over op kinds of each kind's median
        wall, so it does not depend on where the window cut the cycle."""
        kinds = sorted({o["kind"] for o in self.ops})
        p50 = [statistics.median(self.walls(k)) for k in kinds if self.walls(k)]
        if not p50:
            raise RuntimeError("no timed op succeeded")
        return {
            "setup_s": (self.setup_s, "s"),
            "op_p50_ms": (1e3 * statistics.mean(p50), "ms"),
            "compression_ratio": (byte_metrics["compression_ratio"], "x"),
            "size_vs_parquet_zstd": (byte_metrics["size_vs_parquet_zstd"], "x"),
        }

    def per_layer(self, names: dict[str, str], e2e: dict) -> dict:
        """Every per-layer metric (0 where this workload does not reach
        the layer)."""
        ops = [o for o in self.ops if o["ok"]]
        n_ops = max(1, len(ops))
        L = dict(self.layer)

        def mean_of(vals):
            return float(np.mean(vals)) if len(vals) else 0.0

        for key, _attr, _s in harness.STAGE_FIELDS:
            L[f"spark.{key}"] = mean_of([o["stages"][key] for o in ops])
        L["spark.jobs"] = mean_of([o["stages"]["jobs"] for o in ops])
        c, n_enc = self.counts, self.counts.get("encode.n", 0)
        if n_enc:
            for ph in ("plan", "job", "commit"):
                L[f"engine.encode.{ph}_s"] = c.get(f"encode.{ph}", 0) / n_enc
            L["engine.encode.parts"] = c.get("encode.parts", 0) / n_enc
        spans = self.tracer.spans[: self.span_end]
        kind_of = {s[4]: s[4].split("#")[0] for s in spans if s[4]}

        def span_ms(name, pred=lambda k: True):
            return 1e3 * mean_of([s[6] - s[5] for s in spans
                                  if s[3] == name and pred(kind_of.get(s[4], ""))])

        def is_decode(k):
            return k == "decode" or k.endswith(".decode")

        L["engine.decode.plan_ms"] = span_ms("engine.decode_table", is_decode)
        L["engine.decode.exec_ms"] = span_ms("spark.action", is_decode)
        L["datasource.plan_ms"] = span_ms("datasource.load")
        L["datasource.exec_ms"] = span_ms("spark.action", lambda k: k.endswith(".datasource"))
        L["datasource.partitions"] = mean_of(
            [o["stages"]["first_stage_tasks"] for o in ops if o["kind"].endswith(".datasource")])
        reads = [o for o in ops if is_decode(o["kind"]) or o["kind"].endswith(".datasource")]
        commits = [o for o in ops if o["kind"] in ("encode", "append", "upsert", "delete")]
        L["fs.opens_per_read"] = mean_of([o["fs"].get("fs.open_read", 0) for o in reads])
        L["fs.bytes_read_per_read"] = mean_of([o["fs"].get("fs.bytes_read", 0) for o in reads])
        L["fs.puts_per_commit"] = mean_of([
            sum(o["fs"].get(f"fs.{m}", 0) for m in ("put_atomic", "append_line",
                                                     "create_exclusive"))
            for o in commits])
        L["fs.lists_per_op"] = mean_of([o["fs"].get("fs.listdir", 0) for o in ops])
        for k in ("append", "upsert", "delete"):
            if self.walls(k):
                L[f"engine.maintain.{k}_ms"] = 1e3 * statistics.median(self.walls(k))
        n_m = len(self.walls("maintain"))
        if n_m:
            L["engine.maintain.compact_s"] = c.get("maintain.compact_s", 0) / n_m
            L["engine.maintain.expire_s"] = c.get("maintain.expire_s", 0) / n_m
        n_idx = len([o for o in ops if o["kind"].startswith("index_")])
        if n_idx:
            L["index.edge_ranges_s"] = span_ms("index.edge_ranges") / 1e3
            L["index.csr_offsets_s"] = span_ms("index.csr_offsets") / 1e3
            L["index.ranges"] = c.get("index.ranges", 0) / n_idx
            L["index.nodes"] = c.get("index.nodes", 0) / n_idx
        sub = harness.Tracer()
        sub.spans = spans
        for layer, v in sub.self_times().items():
            L[f"self.{layer}_s"] = v / n_ops
        L["trace.spans"] = len(spans) / n_ops
        L["trace.bookkeeping_s"] = self.tracer.bookkeeping_s
        L["trace.op_p50_ms"] = e2e["op_p50_ms"][0]
        return {name: (float(L.get(name, 0.0)), unit) for name, unit in names.items()}


# ---------------------------------------------------------------------------
# shared pieces


def checksum_cols(F, cols):
    return [F.count(F.lit(1)).alias("n"),
            F.sum(F.crc32(F.concat_ws("\u0000", *cols).cast("binary"))).alias("h")]


def expect_rows(row, want: tuple, what: str) -> None:
    got = (int(row["n"]), int(row["h"] or 0))
    if got != tuple(want):
        raise Failed(f"{what}: got (rows, crc)={got}, want {tuple(want)}")


def dir_bytes(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total


def parquet_zstd_bytes(b: Bench, table: pa.Table, key: str | None) -> int:
    """Bytes of a pyarrow zstd parquet write of the same rows; cached
    under ``key`` when the rows are a fixed input."""
    path = os.path.join(b.cache if key else b.work, f"pqzstd-{key}")
    if not os.path.exists(path):
        data = table.select([c for c in table.column_names if not c.startswith("__")])
        tmp = f"{path}.tmp-{os.getpid()}"
        pq.write_table(data, tmp, compression="zstd")
        os.replace(tmp, path)
    return os.path.getsize(path)


def byte_metrics(b: Bench, table: pa.Table, out_dir: str, key: str | None) -> dict:
    disk = dir_bytes(out_dir)
    return {
        "compression_ratio": inputs.data_nbytes(table) / disk,
        "size_vs_parquet_zstd": disk / parquet_zstd_bytes(b, table, key),
    }


def encode(b: Bench, df, out: str, rows: int, **kw) -> None:
    """``encode_table`` from scratch, checked for its row count; its
    phase times feed the per-layer encode figures."""
    from sparkcodec import engine

    res = engine.encode_table(b.spark, df, out, resume=False, **kw)
    if res["n_rows"] != rows:
        raise Failed(f"encode wrote {res['n_rows']} rows, want {rows}")
    for k, v in res["phase_sec"].items():
        b.counts[f"encode.{k}"] = b.counts.get(f"encode.{k}", 0.0) + v
    b.counts["encode.parts"] = b.counts.get("encode.parts", 0) + res["parts_encoded"]
    b.counts["encode.n"] = b.counts.get("encode.n", 0) + 1


def num_parts(rows: int) -> int:
    return max(2, -(-rows // PART_ROWS))


def load_code_files(b: Bench, n_key: str):
    sz = inputs.SCALES[b.scale]
    table, idx = inputs.code_files_for_seed(b.cache, b.scale, b.seed, sz[n_key])
    key = f"{b.workload}-{b.scale}-{b.seed}"
    path = inputs.write_input_dir(table, os.path.join(b.cache, "in", key))
    return table, idx, path, key


def load_edges(b: Bench):
    table = inputs.edges_for_seed(b.scale, b.seed)
    key = f"edges-{b.scale}-{b.seed}"
    return table, inputs.write_input_dir(table, os.path.join(b.cache, "in", key)), key


def fresh(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    return path


# ---------------------------------------------------------------------------
# bulk_encode


def bulk_encode(b: Bench) -> dict:
    from pyspark.sql import functions as F

    from sparkcodec import engine

    table, _, in_path, key = load_code_files(b, "bulk")
    rows, mb = table.num_rows, inputs.data_nbytes(table) / 1e6
    want = inputs.crc_stats(table)
    out = os.path.join(b.work, "bulk")
    df = b.spark.read.parquet(in_path)

    def do_encode():
        encode(b, df, fresh(out), rows, num_parts=num_parts(rows))

    def do_decode():
        r = b.action(engine.decode_table(b.spark, out).agg(*checksum_cols(F, inputs.CF_COLS)))
        expect_rows(r[0], want, "full decode")

    steps = [("encode", do_encode), ("decode", do_decode)]
    b.run_ops(lambda i: steps[i % 2], 2, WARMUP["bulk_encode"])

    b.add_rate("encode_mb_s", mb, b.walls("encode"), "MB/s")
    b.add_rate("decode_mb_s", mb, b.walls("decode"), "MB/s")
    if b.trace:
        b.check("codec_replay", lambda: b.replay_codecs(table, inputs.CF_COLS))

        def source_checksum():
            t0 = time.perf_counter()
            r = b.action(df.agg(*checksum_cols(F, inputs.CF_COLS)))
            b.layer["verify.checksum_s"] = time.perf_counter() - t0
            expect_rows(r[0], want, "source checksum")
        b.check("source_checksum", source_checksum)
        b.block_stats(out)
    return byte_metrics(b, table, out, key)


# ---------------------------------------------------------------------------
# append_maintain


def append_maintain(b: Bench) -> dict:
    from pyspark.sql import functions as F

    from sparkcodec import engine

    from sparkcodec.datasource import SparkcodecDataSource

    b.spark.dataSource.register(SparkcodecDataSource)
    table, idx, in_path, key = load_code_files(b, "maint")
    base = inputs.code_files_base(b.cache, b.scale)
    batch = max(20, inputs.SCALES[b.scale]["maint"] // 40)
    rng = np.random.default_rng(b.seed + 11)
    # each write kind targets the repo at a fixed size rank, so every seed
    # writes and reads comparable amounts (the seed picks the rows)
    vc = pc.value_counts(table.column("repo")).to_pylist()
    ranked = [d["values"] for d in sorted(vc, key=lambda d: (-d["counts"], d["values"]))]
    target = {"append": ranked[3], "upsert": ranked[4], "delete": ranked[5]}
    in_repo = pc.equal(base.column("repo"), target["append"]).to_numpy()
    extra = base.take(pa.array(np.setdiff1d(np.flatnonzero(in_repo), idx)))
    schema = ", ".join(f"{c} string" for c in inputs.CF_COLS)
    seed_dir = os.path.join(b.work, "maint-seed")
    encode(b, b.spark.read.parquet(in_path), seed_dir, table.num_rows,
           num_parts=max(2, table.num_rows // MAINT_PART_ROWS))
    st = {}

    def reset(dest: str) -> None:
        """Start from a byte-identical copy of the table encoded in set-up."""
        shutil.copytree(seed_dir, fresh(dest))
        st.update(model=table, n_appended=0, out=dest, repos=[target["append"]],
                  read_preds=set())

    def to_df(t: pa.Table):
        return b.spark.createDataFrame(t.select(inputs.CF_COLS).to_pandas(), schema)

    def rows_of(repo: str) -> pa.Table:
        return st["model"].filter(pc.equal(st["model"].column("repo"), repo))

    def do_append():
        j = st["n_appended"] % max(1, extra.num_rows - batch)
        add = extra.slice(j, batch)
        st["n_appended"] = j + batch
        encode(b, to_df(add), st["out"], add.num_rows, append=True, num_parts=1)
        st["model"] = pa.concat_tables([st["model"], add])
        st["repos"] = [target["append"]]

    def do_upsert():
        r = target["upsert"]
        mine = rows_of(r)
        take = mine.slice(int(rng.integers(0, max(1, mine.num_rows - batch))), batch)
        content = pc.binary_join_element_wise(
            take.column("content"), pa.scalar(f"// rev {st['n_appended']}"), "\n")
        new = take.set_column(take.column_names.index("content"), "content", content)
        new = new.set_column(new.column_names.index("__crc"), "__crc",
                             pa.array(inputs.row_crc(new)))
        engine.upsert_rows(b.spark, to_df(new), st["out"], "path")
        model = st["model"]
        keep = pc.invert(pc.is_in(model.column("path"), new.column("path")))
        st["model"] = pa.concat_tables([model.filter(keep), new])
        st["repos"] = [r]

    def do_delete():
        r = target["delete"]
        ps = sorted(rows_of(r).column("path").to_pylist())
        w = max(1, min(len(ps), batch // 2))
        a = int(rng.integers(0, len(ps) - w + 1))
        lo, hi = ps[a], ps[a + w - 1]
        model = st["model"]
        mask = pc.and_(pc.equal(model.column("repo"), r),
                       pc.and_(pc.greater_equal(model.column("path"), lo),
                               pc.less_equal(model.column("path"), hi)))
        engine.delete_rows(b.spark, st["out"], [("repo", [r]), ("path", lo, hi)])
        st["model"] = model.filter(pc.invert(mask))
        st["repos"] = [r]

    def read(via: str):
        """A pruned read of the repo the last write touched, composed
        with the exact filter and checked against the model."""
        def fn():
            vals, model = st["repos"], st["model"]
            if via == "decode":
                df = engine.decode_table(b.spark, st["out"], where=("repo", vals))
            elif b.tracer:
                with b.tracer.span("datasource", "datasource.load"):
                    df = b.spark.read.format("sparkcodec").load(st["out"])
            else:
                df = b.spark.read.format("sparkcodec").load(st["out"])
            r = b.action(df.filter(F.col("repo").isin(vals))
                         .agg(*checksum_cols(F, inputs.CF_COLS)))
            want = inputs.crc_stats(model, pc.is_in(model.column("repo"), pa.array(vals)))
            expect_rows(r[0], want, f"read via {via}")
            st["read_preds"].add(tuple(vals))
        return fn

    def do_maintain():
        t0 = time.perf_counter()
        engine.compact_table(b.spark, st["out"], target_part_rows=MAINT_PART_ROWS)
        t1 = time.perf_counter()
        engine.expire_snapshots(st["out"], keep_last=1)
        c = b.counts
        c["maintain.compact_s"] = c.get("maintain.compact_s", 0) + t1 - t0
        c["maintain.expire_s"] = c.get("maintain.expire_s", 0) + time.perf_counter() - t1

    # every write is followed by a read on a cold snapshot/manifest cache
    # (read_after_write) and the same read again on a warm one (read_again);
    # the readers alternate between decode_table and the data source
    steps = [("append", do_append),
             ("read_after_write.decode", read("decode")), ("read_again.decode", read("decode")),
             ("upsert", do_upsert),
             ("read_after_write.datasource", read("datasource")),
             ("read_again.datasource", read("datasource")),
             ("delete", do_delete),
             ("read_after_write.decode", read("decode")), ("read_again.decode", read("decode")),
             ("maintain", do_maintain)]
    reset(os.path.join(b.work, "maint-warm"))
    b.run_ops(lambda i: steps[i % len(steps)], len(steps), WARMUP["append_maintain"],
              on_timed=lambda: reset(os.path.join(b.work, "maint")))

    def final():
        r = engine.decode_table(b.spark, st["out"]).agg(*checksum_cols(F, inputs.CF_COLS))
        expect_rows(r.collect()[0], inputs.crc_stats(st["model"]), "final table")
    b.check("final_table", final)

    commits = [w for k in ("append", "upsert", "delete") for w in b.walls(k)]
    b.add_median("commit_p50_ms", commits, "ms", 1e3)
    for via in ("decode", "datasource"):
        for k in ("read_after_write", "read_again"):
            b.add_median(f"{k}.{via}_p50_ms", b.walls(f"{k}.{via}"), "ms", 1e3)
    reads = harness.percentiles([o["wall"] for o in b.ops
                                 if o["ok"] and o["kind"].startswith("read")])
    if reads["n"]:
        b.detail["read_p50_ms"] = (reads["p50"] * 1e3, "ms", reads["n"])
    if reads["tail"]:
        b.detail[f"read_p{reads['tail'][0]:g}_ms"] = (reads["tail"][1] * 1e3, "ms", reads["n"])
    b.add_median("maintain_s", b.walls("maintain"), "s")
    if b.trace:
        b.layer["engine.snapshots"] = float(len(engine.snapshots(st["out"])))
        b.layer["engine.live_parts"] = float(len(engine.snapshot_parts(st["out"]) or []))
        if st["read_preds"]:
            kept, total = zip(*(b.parts_kept(st["out"], ("repo", list(v)))
                                for v in sorted(st["read_preds"])))
            b.layer["engine.decode.parts_kept"] = float(np.mean(kept))
            b.layer["engine.decode.parts_total"] = float(np.mean(total))
        b.block_stats(st["out"])
    return byte_metrics(b, st["model"], st["out"], None)


# ---------------------------------------------------------------------------
# edges_index


def edges_index(b: Bench) -> dict:
    from pyspark.sql import functions as F

    from sparkcodec import engine, index

    table, in_path, key = load_edges(b)
    rows, mb = table.num_rows, inputs.data_nbytes(table) / 1e6
    out = os.path.join(b.work, "edges")
    df = b.spark.read.parquet(in_path)

    def do_encode():
        encode(b, df, fresh(out), rows, num_parts=4, cluster_by=["target_node_id"],
               sort_by=["edge_id"])

    def index_fn(col: str):
        """Index one direction (as the reference calls it per direction,
        index.cpp:309-324) from the decoded table and check both levels
        against the runs numpy finds in row order."""
        w = inputs.run_stats(table.column(col).to_numpy())

        def fn():
            src = engine.decode_table(b.spark, out, columns=["edge_id", col])
            offsets, ranges = index.build_index(src, col, ["edge_id"])
            n_len = F.col("range_end") - F.col("range_start")
            r = b.action(ranges.agg(
                F.count(F.lit(1)).alias("ranges"), F.sum(n_len).alias("covered"),
                F.sum(F.col("node_id") * n_len).alias("node_weighted"),
                F.sum("range_start").alias("start_sum"),
            ).crossJoin(offsets.agg(
                F.count(F.lit(1)).alias("nodes"),
                F.sum(F.col("offset_end") - F.col("offset_start")).alias("span"),
                F.max("offset_end").alias("last"),
            )))[0].asDict()
            got = {k: r[k] for k in w}
            if got != w or r["span"] != w["ranges"] or r["last"] != w["ranges"]:
                raise Failed(f"index on {col}: got {r}, want {w}")
            b.counts["index.ranges"] = b.counts.get("index.ranges", 0) + r["ranges"]
            b.counts["index.nodes"] = b.counts.get("index.nodes", 0) + r["nodes"]
        return fn

    steps = [("encode", do_encode), ("index_source", index_fn("source_node_id")),
             ("index_target", index_fn("target_node_id"))]
    b.run_ops(lambda i: steps[i % 3], 3, WARMUP["edges_index"])

    idx_walls = b.walls("index_source") + b.walls("index_target")
    b.add_rate("encode_mb_s", mb, b.walls("encode"), "MB/s")
    b.add_rate("index_rows_s", rows, idx_walls, "rows/s")
    if b.trace:
        b.check("codec_replay", lambda: b.replay_codecs(table, inputs.EDGE_COLS))
        b.block_stats(out)
    return byte_metrics(b, table, out, key)


WORKLOADS = {
    "bulk_encode": bulk_encode,
    "append_maintain": append_maintain,
    "edges_index": edges_index,
}


def prepare(b: Bench) -> None:
    """Generate (or find cached) the run's inputs before set-up starts:
    generation is never part of ``setup_s``."""
    if b.workload == "edges_index":
        load_edges(b)
    else:
        load_code_files(b, {"bulk_encode": "bulk", "append_maintain": "maint"}[b.workload])
