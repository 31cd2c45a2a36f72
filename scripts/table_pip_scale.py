"""Cover-as-table PIP regime at the polygon counts it exists for.

The broadcast regime (pip_join) serves polygon sets whose cell cover
fits the driver + broadcast envelope; past _TABLE_POLYS_BUDGET the
engine dispatches to pip_join_table (VERDICT r4 #1). The catalog entry
exercises that dispatch at 10^4 polygons; THIS script is the evidence
at the scale the regime was built for — 10^5..10^6 polygons arriving
as a binary WKB GeoParquet column, decoded DISTRIBUTED, cover built
distributed, probed via the cell-keyed shuffle join:

    SPARK_GRAFT_CPUS=32 python scripts/table_pip_scale.py --n 1000000

Protocol (same discipline as dedup_scaling_bench):
- the WKB fixture parquet is synthesized UNTIMED and cached on disk,
  keyed by (n, formula version) — a real user scans a catalog that
  already exists; fixture synthesis is sandbox scaffolding;
- the timed job is scan -> distributed WKB decode -> pip_join_table
  (cover build + cell-keyed probe + refine) -> count, cold cache;
- correctness rides along every run: a deterministic sample of
  hit-bearing polygons re-runs through the BROADCAST regime and the
  two hit sets must be frame-equal (the regimes share the cover kernel,
  the per-cell edge filter and the refine predicate; the cover is built
  on the driver in one, on the executors in the other, and the probe
  plans are disjoint).

Prints ONE JSON line; recorded runs live in SCALE.md ("cover as a
table" section) and BENCH.md.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

_FIXTURE_VERSION = 1  # bump when polygons_grid's formula changes


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--n", type=int, default=1_000_000, help="polygon count")
    ap.add_argument("--sf-dir", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--res", type=int, default=9)
    ap.add_argument("--res-max", type=int, default=14)
    ap.add_argument("--parity-sample", type=int, default=40,
                    help="hit-bearing polygons re-checked via the broadcast regime")
    ap.add_argument("--fixture-dir", default="/tmp/table_pip_scale")
    args = ap.parse_args()

    from htrc_ingester_spark import data as D
    from htrc_ingester_spark.operators.pip_join import pip_join, pip_join_table
    from htrc_ingester_spark.plans import flagship as FS
    from htrc_ingester_spark.session import get_spark

    spark = get_spark(
        "table_pip_scale",
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )

    # --- fixture (untimed, cached; key carries n + formula version) ---
    path = os.path.join(args.fixture_dir, f"polys_wkb_n{args.n}_v{_FIXTURE_VERSION}.parquet")
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        w = D.polygons_grid_wkb(args.n)
        spark.createDataFrame(w, "poly_id string, wkb binary").repartition(
            32
        ).write.mode("overwrite").parquet(path)

    img = FS.load_images(spark, args.sf_dir)
    n_points = img.count()
    spark.catalog.clearCache()

    # --- timed: the GeoParquet arrival a parcel-scale user runs ---
    # (the binary geometry column goes STRAIGHT in: WKB is the table
    # regime's native wire, decoded inside the executor kernels)
    t0 = time.monotonic()
    gdf = spark.read.parquet(path)
    out = pip_join_table(
        spark, img, gdf, res=args.res, res_max=args.res_max
    ).persist()
    n_hits = out.count()
    wall = time.monotonic() - t0

    # --- parity: sampled polygons through the broadcast regime ---
    hit_ids = [
        r[0]
        for r in out.select("poly_id").distinct()
        .orderBy("poly_id").limit(args.parity_sample).collect()
    ]
    wanted = set(hit_ids)
    sample_polys = [p for p in D.polygons_grid(args.n) if p["poly_id"] in wanted]
    import pandas as pd

    bc = (
        pip_join(spark, img, sample_polys, res=args.res, res_max=args.res_max)
        .select("image_id", "poly_id").toPandas()
        .sort_values(["image_id", "poly_id"]).reset_index(drop=True)
    )
    tb = (
        out.where(out.poly_id.isin(hit_ids))
        .select("image_id", "poly_id").toPandas()
        .sort_values(["image_id", "poly_id"]).reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(tb, bc)
    out.unpersist(blocking=False)

    print(json.dumps({
        "metric": "table_pip_polygons_per_sec",
        "value": round(args.n / wall, 1),
        "unit": "polys/sec",
        "n_polygons": args.n,
        "n_points": n_points,
        "n_hits": n_hits,
        "wall_sec": round(wall, 2),
        "parity_sample_polys": len(sample_polys),
        "parity_sample_rows": int(len(bc)),
        "parity": "MATCH",
        "res": args.res,
        "res_max": args.res_max,
        "cpus": os.environ.get("SPARK_GRAFT_CPUS", "*"),
        "sf_dir": args.sf_dir,
    }))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
