#!/usr/bin/env python3
"""Record ``expected.json``: the result checksum of every query the
benchmark runs, at each scale of the testdata.

    python3 perfbench/record.py [DATA_ROOT]

``DATA_ROOT`` holds the testdata as ``sf<scale>/<table>.parquet``
(default: ``perfbench/data``, which keeps sf0.01 and sf0.001); every
scale of ``SCALES`` found there is recorded, the others keep their
stored checksums.  Run once, from the repository root, on a commit whose
query results are trusted.  Before a checksum is stored, the Spark
result is compared row for row with the query's DuckDB oracle over the
same tables
(stored twins share their in-query twin's oracle text; the rows-only
x54c is compared with its in-query twin ``x54_incremental_semdedup_auto``,
and its ``(vec_id, kept)`` decisions are what the streaming twin must
reproduce).
A mismatch stores nothing and exits 1.
"""

from __future__ import annotations

import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(1, os.getcwd())

import checks  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402

SCALES = (0.1, 0.01, 0.001)
ROWS_ONLY_TWIN = {"x54c_incremental_semdedup_auto_stored": "x54_incremental_semdedup_auto"}


def main(argv: list[str]) -> int:
    import duckdb

    from data_engineer_project_weather_analytics_spark.plans import extensions
    from data_engineer_project_weather_analytics_spark.plans.registry import REGISTRY

    data_root = argv[0] if argv else os.path.join(HERE, "data")
    work = os.path.join(os.getcwd(), ".perfbench_work", f"record-{os.getpid()}")
    os.makedirs(work)
    spark = run.start_spark(work)
    out = checks.load_expected()
    bad = []
    try:
        for sf in SCALES:
            sf_dir = os.path.join(data_root, f"sf{sf}")
            if not os.path.isdir(sf_dir):
                continue
            for attr in ("_LSH_INDEX_ROOT", "_SEM_INDEX_ROOT", "_PQ_INDEX_ROOT"):
                setattr(extensions, attr, os.path.join(work, f"index-{sf}{attr}"))
            con = duckdb.connect()
            for t in sorted(f[:-8] for f in os.listdir(sf_dir) if f.endswith(".parquet")):
                con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
                )
            sums = {}
            for name in workloads.DASHBOARD_QUERIES + workloads.CURATION_QUERIES:
                df = REGISTRY[name].fn(spark, sf_dir)
                got = checks.canonical_rows(df.toPandas())
                if name in ROWS_ONLY_TWIN:
                    ref = REGISTRY[ROWS_ONLY_TWIN[name]].fn(spark, sf_dir).toPandas()
                else:
                    ref = con.execute(REGISTRY[name].sql).fetchdf()
                want = checks.canonical_rows(ref)
                ok = got == want
                sums[name] = checks.checksum_value(checks.checksum_frame(df))
                print(f"sf{sf} {name}: {len(got)} rows, "
                      f"{'matches' if ok else 'DIFFERS FROM'} its reference", file=sys.stderr)
                if not ok:
                    bad.append(f"sf{sf}:{name}")
                if name == "x54c_incremental_semdedup_auto_stored":
                    # the stream twin must decide exactly like the batch x54c
                    pairs = [tuple(r) for r in df.select("vec_id", "kept").collect()]
                    sums[workloads.STREAM_OP] = [len(pairs), checks.pairs_digest(pairs)]
            out[checks.scale_key(sf)] = sums
            con.close()
    finally:
        run.stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    if bad:
        print(f"record: results differ from their references: {bad}", file=sys.stderr)
        return 1
    with open(checks.EXPECTED_PATH, "w") as fh:
        json.dump(out, fh, indent=1, sort_keys=True)
        fh.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
