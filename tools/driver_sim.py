"""Local simulation of the driver's correctness gate: run every
DRIVER_WINDOW query on Spark AND its DuckDB oracle at sf0.01 (the
driver's scale) and compare with the same row/schema/value contract.
Usage: python tools/driver_sim.py [sf_dir] [name ...]
"""

from __future__ import annotations

import os
import sys
import time

import duckdb

# `python tools/driver_sim.py` puts tools/ (not the repo root) on
# sys.path; add the root so `tests.compare` and the package resolve.
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tests.compare import assert_frames_match

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
ONLY = set(sys.argv[2:])

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


def main() -> int:
    from real_time_big_data_iot_monitoring_pipeline_spark.plans import DRIVER_WINDOW, REGISTRY
    from real_time_big_data_iot_monitoring_pipeline_spark.session import get_session

    # Config-axis overrides (round-12: the global-rank kernel bug was
    # CONFIG-dependent — wrong at local[32]/32 shuffle partitions, green
    # at local[8]/8 — so the sweep must be runnable under the configs a
    # real driver might use: its own timezone, a cluster-like shuffle
    # partition count, a different core count).
    extra = {"spark.ui.enabled": "false"}
    if os.environ.get("RTBD_SIM_TZ"):
        extra["spark.sql.session.timeZone"] = os.environ["RTBD_SIM_TZ"]
    if os.environ.get("RTBD_SIM_AQE"):
        extra["spark.sql.adaptive.enabled"] = os.environ["RTBD_SIM_AQE"]
    spark = get_session(
        master=os.environ.get("RTBD_SIM_MASTER", "local[32]"),
        shuffle_partitions=int(os.environ.get("RTBD_SIM_SHUFFLE", "32")),
        extra_conf=extra,
    )
    spark.sparkContext.setLogLevel("ERROR")
    # The effective session conf, so an RTBD_SIM_* sweep shows its axis took.
    print("conf: " + ", ".join(
        f"{k}={spark.conf.get(k)}" for k in (
            "spark.master", "spark.sql.shuffle.partitions",
            "spark.sql.adaptive.enabled", "spark.sql.session.timeZone",
        )
    ))
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")

    # Explicit names may name ANY registry query (not just the window) —
    # that is how a freshly-registered query gets its pre-window check;
    # a typo must fail loudly, not silently check nothing (round-5 fix:
    # names outside the window used to be dropped by the filter, letting
    # a vacuous 'ALL GREEN' pass for a query that never ran).
    if ONLY:
        unknown = ONLY - set(REGISTRY)
        assert not unknown, f"not in REGISTRY: {sorted(unknown)}"
        names = [n for n in REGISTRY if n in ONLY]
    else:
        names = list(DRIVER_WINDOW)
    failures = []
    for name in names:
        q = REGISTRY[name]
        t0 = time.time()
        try:
            spark_pdf = q.build(spark, SF_DIR).toPandas()
            if q.oracle is None:
                print(f"  {name}: rows-only, {len(spark_pdf)} rows ({time.time()-t0:.1f}s)")
                continue
            oracle_pdf = con.sql(q.oracle).df()
            assert_frames_match(spark_pdf, oracle_pdf, name)
            print(f"  {name}: OK {len(spark_pdf)} rows ({time.time()-t0:.1f}s)")
        except Exception as e:  # noqa: BLE001 - report and continue
            failures.append(name)
            print(f"  {name}: FAIL {type(e).__name__}: {str(e)[:300]}")
    print(f"\n{'FAILURES: ' + ', '.join(failures) if failures else 'ALL GREEN'}")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
