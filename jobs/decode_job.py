#!/usr/bin/env python
"""spark-submit entry point: decode a sparkcodec blocks dir back to parquet.

Cluster usage (same packaging as jobs/encode_job.py):

    spark-submit --py-files sparkcodec.zip jobs/decode_job.py \
        --input /mnt/shared/enc --output /mnt/shared/decoded \
        [--columns lang,repo] [--snapshot-id 3 | --as-of TS] \
        [--where repo:repoA:repoZ] [--where stars:100:]

--columns prunes at the file level (only those columns' block files are
read); --snapshot-id time-travels to an earlier committed append;
--where col:lo:hi prunes whole parts and individual blocks via the
recorded zone maps before any payload is decoded (conservative — rows
outside [lo, hi] may remain; bounds are coerced to the column's
recorded type, so '100' on a string column stays the string '100').
Repeat --where for a conjunction: each predicate prunes independently
and the surviving block row ranges intersect. --where-in col:v1,v2
prunes by IN-list membership (value sets + blooms refute parts the
range merely spans).
Omit --output to just count rows (a decode smoke).

Prints one JSON line with row count, wall seconds, and the pruning
telemetry (parts kept / total).
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def _bound(s: str, tname: str):
    """Coerce a CLI bound to the column's recorded type so zone-map
    comparisons never mix str and numbers (a string column named
    '100' stays the string '100')."""
    if s == "":
        return None
    if tname.startswith(("i", "u")) and tname not in ("str", "lstr"):
        return int(s)
    if tname.startswith("f"):
        return float(s)
    if tname == "bool":
        return s.lower() in ("1", "true")
    return s


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--output", default=None, help="parquet out dir; omit to count only")
    ap.add_argument("--columns", default=None, help="comma-separated subset")
    ap.add_argument("--snapshot-id", type=int, default=None)
    ap.add_argument(
        "--as-of", default=None, metavar="TS",
        help="time travel by timestamp (unix seconds or ISO-8601, naive "
             "= UTC): reads the latest snapshot committed at or before it",
    )
    ap.add_argument(
        "--where", action="append", default=None,
        help="col:lo:hi (empty bound = open); repeat for a conjunction",
    )
    ap.add_argument(
        "--where-in", action="append", default=None,
        help="col:v1,v2,... IN-list membership; repeat for a conjunction",
    )
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    from sparkcodec.engine import _normalize_where, _plan_read, decode_table

    spark = SparkSession.builder.appName("sparkcodec-decode").getOrCreate()
    if args.as_of is not None:
        if args.snapshot_id is not None:
            ap.error("pass --snapshot-id or --as-of, not both")
        from sparkcodec.engine import snapshot_id_as_of

        args.snapshot_id = snapshot_id_as_of(args.input, args.as_of)
    wheres = []
    if args.where or args.where_in:
        from sparkcodec.engine import _resolve_snapshot_meta

        schema = _resolve_snapshot_meta(args.input, args.snapshot_id)[0]["schema"]
        for spec in args.where or []:
            col, lo, hi = spec.split(":", 2)
            tname = schema[col]
            wheres.append((col, _bound(lo, tname), _bound(hi, tname)))
        for spec in args.where_in or []:
            col, vals = spec.split(":", 1)
            tname = schema[col]
            wheres.append((col, [_bound(v, tname) for v in vals.split(",")]))
    columns = args.columns.split(",") if args.columns else None

    # the read planner's own part sets: the job reports what decode_table
    # prunes (ghosts, aliases and add_column defaults included)
    parts = _plan_read(args.input, columns, snapshot_id=args.snapshot_id).parts
    kept = _plan_read(
        args.input, columns, snapshot_id=args.snapshot_id,
        wheres=_normalize_where(wheres),
    ).parts

    t0 = time.time()
    df = decode_table(
        spark, args.input, columns=columns, snapshot_id=args.snapshot_id,
        where=wheres or None,
    )
    if args.output:
        df.write.mode("overwrite").parquet(args.output)
        n = spark.read.parquet(args.output).count()
    else:
        n = df.count()
    print(
        json.dumps(
            {
                "rows": n,
                "wall_sec": round(time.time() - t0, 3),
                "parts_total": len(parts),
                "parts_kept": len(kept),
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
