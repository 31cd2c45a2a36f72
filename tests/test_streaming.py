"""Structured Streaming incremental ingest (ST1-ST4 parity): drain a
delta-log directory, MERGE per micro-batch, resume via checkpoint —
each file processed exactly once across runs."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from htrc_ingester_spark.streaming import incremental as S


def _write_dlog(path: str, lines: list[str]) -> None:
    with open(path, "w") as f:
        f.write("\n".join(lines) + "\n")


@pytest.fixture()
def dirs(tmp_path):
    d = tmp_path / "dlogs"
    d.mkdir()
    return {
        "dlog": str(d),
        "snap": str(tmp_path / "snapshot"),
        "ckpt": str(tmp_path / "ckpt"),
    }


def _snapshot_ids(spark, snap_dir):
    from htrc_ingester_spark.streaming.incremental import read_snapshot

    df = read_snapshot(spark, snap_dir)
    return sorted(r.volume_id for r in df.select("volume_id").collect())


def test_available_now_drains_and_merges(spark, dirs):
    _write_dlog(
        os.path.join(dirs["dlog"], "t-001.txt"),
        [
            "DEST_ROOT=/data/root",
            "PREFIX=uc2",
            "root/ab/cd/uc2,ark+=13960=ta.zip",
            "root/ab/cd/uc2,ark+=13960=tb.zip",
            "root/ab/cd/uc2,ark+=13960=tb.mets.xml",  # dup line, collapses
        ],
    )
    S.run_incremental_merge(spark, dirs["dlog"], dirs["snap"], dirs["ckpt"])
    assert _snapshot_ids(spark, dirs["snap"]) == [
        "uc2.ark:/13960/ta",
        "uc2.ark:/13960/tb",
    ]


def test_second_run_is_incremental_and_applies_tombstones(spark, dirs):
    _write_dlog(
        os.path.join(dirs["dlog"], "t-001.txt"),
        ["root/ab/uc2,ark+=13960=ta.zip", "root/ab/uc2,ark+=13960=tb.zip"],
    )
    S.run_incremental_merge(spark, dirs["dlog"], dirs["snap"], dirs["ckpt"])
    # second delta: delete ta, add tc — first file must NOT re-process
    _write_dlog(
        os.path.join(dirs["dlog"], "t-002.txt"),
        ["deleting root/ab/uc2,ark+=13960=ta.zip", "root/ab/uc2,ark+=13960=tc.zip"],
    )
    S.run_incremental_merge(spark, dirs["dlog"], dirs["snap"], dirs["ckpt"])
    assert _snapshot_ids(spark, dirs["snap"]) == [
        "uc2.ark:/13960/tb",
        "uc2.ark:/13960/tc",
    ]


def test_rerun_with_no_new_files_is_noop(spark, dirs):
    _write_dlog(os.path.join(dirs["dlog"], "t-001.txt"), ["root/ab/uc2,ark+=13960=ta.zip"])
    S.run_incremental_merge(spark, dirs["dlog"], dirs["snap"], dirs["ckpt"])
    before = _snapshot_ids(spark, dirs["snap"])
    S.run_incremental_merge(spark, dirs["dlog"], dirs["snap"], dirs["ckpt"])
    assert _snapshot_ids(spark, dirs["snap"]) == before


def test_windowed_change_rates_with_watermark(spark, tmp_path):
    # batch frame shaped like the stream (watermark/window still apply
    # in batch mode — same plan, no streaming runtime needed here)
    import pandas as pd

    rows = [
        ("2026-01-01 00:00:10", "upsert_zip"),
        ("2026-01-01 00:00:20", "upsert_zip"),
        ("2026-01-01 00:01:10", "delete"),
    ]
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["ts_s", "kind"])).withColumn(
        "ts", F.to_timestamp("ts_s")
    )
    out = S.windowed_change_rates(df).toPandas().sort_values(["window_start", "kind"])
    assert list(out.n) == [2, 1]


def test_cross_file_ordering_large_old_small_new(spark, dirs):
    """An older-but-LARGER log in the same micro-batch must not outrank
    a newer small one (Spark schedules big splits first; seq must come
    from file chronology, not scheduling order)."""
    pad = [f"root/pad/uc2,ark+=13960=p{i}.zip" for i in range(400)]
    _write_dlog(
        os.path.join(dirs["dlog"], "t-001.txt"),
        pad + ["deleting root/ab/uc2,ark+=13960=tv.zip"],
    )
    _write_dlog(os.path.join(dirs["dlog"], "t-002.txt"), ["root/ab/uc2,ark+=13960=tv.zip"])
    S.run_incremental_merge(spark, dirs["dlog"], dirs["snap"], dirs["ckpt"])
    assert "uc2.ark:/13960/tv" in _snapshot_ids(spark, dirs["snap"])


def test_crash_before_pointer_flip_keeps_old_snapshot(spark, dirs, tmp_path):
    """A torn version write without a pointer flip must leave the
    previous snapshot intact (no silent reset)."""
    import shutil

    _write_dlog(os.path.join(dirs["dlog"], "t-001.txt"), ["root/ab/uc2,ark+=13960=ta.zip"])
    S.run_incremental_merge(spark, dirs["dlog"], dirs["snap"], dirs["ckpt"])
    before = _snapshot_ids(spark, dirs["snap"])
    # simulate a torn write: a half-written future version dir, pointer untouched
    os.makedirs(os.path.join(dirs["snap"], "v99"), exist_ok=True)
    open(os.path.join(dirs["snap"], "v99", "part-garbage.parquet"), "wb").write(b"xx")
    assert _snapshot_ids(spark, dirs["snap"]) == before


def test_processing_time_query_graceful_stop(spark, dirs):
    """ST2 parity: a long-running processingTime query stops cleanly on
    query.stop() (the reference's STOP control file)."""
    _write_dlog(os.path.join(dirs["dlog"], "t-001.txt"), ["root/ab/uc2,ark+=13960=ta.zip"])
    q = S.run_incremental_merge(
        spark, dirs["dlog"], dirs["snap"], dirs["ckpt"],
        available_now=False, processing_time="1 seconds",
    )
    try:
        import time

        deadline = time.monotonic() + 30
        while time.monotonic() < deadline:
            try:
                if _snapshot_ids(spark, dirs["snap"]) == ["uc2.ark:/13960/ta"]:
                    break
            except Exception:
                pass
            time.sleep(0.5)
        assert _snapshot_ids(spark, dirs["snap"]) == ["uc2.ark:/13960/ta"]
        assert q.isActive
    finally:
        q.stop()
    q.awaitTermination(30)
    assert not q.isActive
    # the stopped checkpoint is resumable: a later availableNow run on
    # the SAME checkpoint drains only the new file and merges it
    _write_dlog(os.path.join(dirs["dlog"], "t-002.txt"), ["root/ab/uc2,ark+=13960=tb.zip"])
    S.run_incremental_merge(spark, dirs["dlog"], dirs["snap"], dirs["ckpt"])
    assert _snapshot_ids(spark, dirs["snap"]) == ["uc2.ark:/13960/ta", "uc2.ark:/13960/tb"]


def test_stateful_collapse_emits_only_advancing_changes(spark, dirs, tmp_path):
    """applyInPandasWithState ST4: per-volume last-writer-wins across
    micro-batches — a second drain with a HIGHER seq emits the new op,
    while late/duplicate lines (seq <= state) emit nothing."""
    ckpt = str(tmp_path / "state_ckpt")

    def drain(name):
        stream = S.read_delta_log_stream(spark, dirs["dlog"])
        out = S.collapse_stream_stateful(stream)
        rows = []

        def sink(batch_df, _bid):
            rows.extend(batch_df.collect())

        q = (
            out.writeStream.foreachBatch(sink)
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return {(r.volume_id, r.op, r.pos) for r in rows}

    _write_dlog(
        os.path.join(dirs["dlog"], "d-001.txt"),
        ["root/ab/uc2,ark+=13960=ta.zip", "root/ab/uc2,ark+=13960=tb.zip"],
    )
    got1 = drain("state_run1")
    assert {(v, o) for v, o, _ in got1} == {
        ("uc2.ark:/13960/ta", "upsert"),
        ("uc2.ark:/13960/tb", "upsert"),
    }

    # batch 2: ta gets a newer delete; tb gets a DUPLICATE (stale) line
    # in an earlier-sorting file name → lower seq → must NOT emit
    _write_dlog(
        os.path.join(dirs["dlog"], "d-000-late.txt"),
        ["root/ab/uc2,ark+=13960=tb.zip"],
    )
    _write_dlog(
        os.path.join(dirs["dlog"], "d-002.txt"),
        ["deleting root/ab/uc2,ark+=13960=ta.zip"],
    )
    got2 = drain("state_run2")
    emitted = {(v, o) for v, o, _ in got2}
    assert ("uc2.ark:/13960/ta", "delete") in emitted
    assert ("uc2.ark:/13960/tb", "upsert") not in emitted


def test_windowed_tile_counts_stream_equals_batch(spark, tmp_path):
    """Real streaming runtime: file-source availableNow drain of a
    geotagged point stream == the same aggregation run in batch."""
    import pandas as pd

    src = tmp_path / "points"
    src.mkdir()
    rows = []
    for i in range(200):
        rows.append(
            {
                "image_id": i,
                "lon": -122.42 + (i % 40) * 0.01,
                "lat": 37.77 + (i % 25) * 0.01,
                "ts_s": f"2026-01-01 00:{i % 3:02d}:{i % 50:02d}",
            }
        )
    pdf = pd.DataFrame(rows)
    spark.createDataFrame(pdf).withColumn("ts", F.to_timestamp("ts_s")).drop(
        "ts_s"
    ).coalesce(2).write.parquet(str(src / "batch1"))

    batch_df = spark.read.parquet(str(src / "batch1"))
    want = (
        S.windowed_tile_counts(batch_df, zoom_res=4, n_tiles=64)
        .toPandas()
        .sort_values(["window_start", "tile_id"])
        .reset_index(drop=True)
    )

    stream = (
        spark.readStream.schema(batch_df.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "batch1"))
    )
    q = (
        S.windowed_tile_counts(stream, zoom_res=4, n_tiles=64)
        .writeStream.format("memory")
        .queryName("tile_counts_t")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ckpt_tiles"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = (
        spark.table("tile_counts_t")
        .toPandas()
        .sort_values(["window_start", "tile_id"])
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got, want)
    assert (got.groupby("tile_id")["n"].sum() > 0).all()


def test_windowed_tile_counts_drops_late_rows_across_drains(spark, tmp_path):
    """Watermark eviction across two availableNow drains of the SAME
    checkpoint: a row arriving in drain 2 with an event time far
    behind the watermark set by drain 1 must not resurrect its window
    (append mode emits each finalized window exactly once). The sink
    is foreachBatch (memory sinks cannot resume a checkpoint)."""
    import pandas as pd

    src = tmp_path / "pts2"
    src.mkdir()
    schema = None

    def write(name, ts_list):
        nonlocal schema
        pdf = pd.DataFrame(
            {
                "image_id": list(range(len(ts_list))),
                "lon": [2.35] * len(ts_list),
                "lat": [48.86] * len(ts_list),
                "ts_s": ts_list,
            }
        )
        df = spark.createDataFrame(pdf).withColumn("ts", F.to_timestamp("ts_s")).drop("ts_s")
        schema = df.schema
        df.coalesce(1).write.parquet(str(src / name))

    emitted: list = []

    def drain():
        stream = spark.readStream.schema(schema).parquet(str(src) + "/*")
        q = (
            S.windowed_tile_counts(stream, window="1 minute", watermark="2 minutes",
                                   zoom_res=4, n_tiles=64)
            .writeStream.foreachBatch(
                lambda bdf, bid: emitted.extend(bdf.collect())
            )
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ckpt_late"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    # drain 1: events at 00:00 and 00:30 → watermark lands at 00:28,
    # finalizing (emitting) every window that ends ≤ 00:28
    write("f1", ["2026-01-01 00:00:10", "2026-01-01 00:00:20", "2026-01-01 00:30:00"])
    drain()
    w00 = pd.Timestamp("2026-01-01 00:00:00")
    rows_00 = [r for r in emitted if pd.Timestamp(r["window_start"]) == w00]
    assert len(rows_00) == 1 and rows_00[0]["n"] == 2

    # drain 2: one row way behind the watermark (same 00:00 window) —
    # dropped, so append emits nothing new for that window
    n_before = len(emitted)
    write("f2", ["2026-01-01 00:00:40"])
    drain()
    rows_00_after = [r for r in emitted if pd.Timestamp(r["window_start"]) == w00]
    assert len(rows_00_after) == 1 and rows_00_after[0]["n"] == 2
    # and nothing else from the dropped row either (the 00:30 window
    # may finalize later; only the 00:00 window is the point here)
    assert all(pd.Timestamp(r["window_start"]) != w00 for r in emitted[n_before:])


def _track_pdf(n=120, entities=6, t0=0):
    import numpy as np
    import pandas as pd

    rng = np.random.RandomState(3)
    return pd.DataFrame(
        {
            "entity_id": [str(i % entities) for i in range(n)],
            "ts": (t0 + np.arange(n, dtype=float) * 7.0),
            "lon": rng.uniform(-179, 179, n),
            "lat": rng.uniform(-85, 85, n),
        }
    )


def test_trajectory_legs_stream_equals_batch(spark, tmp_path):
    """availableNow drain over two in-ts-order files (one micro-batch
    each) emits exactly the batch twin's legs — including the legs that
    BRIDGE the micro-batch boundary via state."""
    import pandas as pd

    from htrc_ingester_spark.operators.trajectory import trajectory_legs

    pdf = _track_pdf()
    src = tmp_path / "legs_src"
    src.mkdir()
    half = len(pdf) // 2
    df_all = spark.createDataFrame(pdf)
    spark.createDataFrame(pdf.iloc[:half]).coalesce(1).write.parquet(str(src / "f1"))
    spark.createDataFrame(pdf.iloc[half:]).coalesce(1).write.parquet(str(src / "f2"))

    want = (
        trajectory_legs(df_all)
        .toPandas()
        .sort_values(["entity_id", "t0"])
        .reset_index(drop=True)
    )

    emitted = []
    stream = (
        spark.readStream.schema(df_all.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src) + "/*")
    )
    q = (
        S.trajectory_legs_stream(stream)
        .writeStream.foreachBatch(lambda bdf, bid: emitted.extend(bdf.collect()))
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_legs"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = (
        pd.DataFrame([r.asDict() for r in emitted])
        .sort_values(["entity_id", "t0"])
        .reset_index(drop=True)[want.columns.tolist()]
    )
    pd.testing.assert_frame_equal(got, want, rtol=1e-9)
    # legs crossing the file boundary really exist (state did its job)
    boundary_t = float(pdf["ts"].iloc[half - 1])
    assert (got["t0"] <= boundary_t).any() and (got["t1"] > boundary_t).any()


def test_trajectory_legs_stream_drops_late_points(spark, tmp_path):
    """A point older than an entity's stored last point (arriving in a
    LATER drain of the same checkpoint) emits no leg and does not
    perturb subsequent legs."""
    import pandas as pd

    src = tmp_path / "late_src"
    src.mkdir()
    schema = None

    def write(name, rows):
        nonlocal schema
        df = spark.createDataFrame(
            pd.DataFrame(rows, columns=["entity_id", "ts", "lon", "lat"])
        )
        schema = df.schema
        df.coalesce(1).write.parquet(str(src / name))

    emitted = []

    def drain():
        stream = spark.readStream.schema(schema).parquet(str(src) + "/*")
        q = (
            S.trajectory_legs_stream(stream)
            .writeStream.foreachBatch(lambda bdf, bid: emitted.extend(bdf.collect()))
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ckpt_late_legs"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    write("f1", [("e", 100.0, 0.0, 0.0), ("e", 200.0, 1.0, 0.0)])
    drain()
    assert len(emitted) == 1 and emitted[0]["t0"] == 100.0

    # drain 2: one late point (ts=150 < state ts=200) and one fresh one
    write("f2", [("e", 150.0, 50.0, 50.0), ("e", 300.0, 2.0, 0.0)])
    drain()
    assert len(emitted) == 2
    leg2 = emitted[1]
    # the new leg connects 200 -> 300 (the late 150 vanished entirely)
    assert (leg2["t0"], leg2["t1"]) == (200.0, 300.0)


def test_geofence_stream_equals_batch(spark, tmp_path):
    """Streaming PIP (geofencing): availableNow drain of a geotagged
    point stream through the real pip_join plan == batch pip_join —
    fence set includes a donut (hole semantics live on the stream)."""
    import numpy as np
    import pandas as pd

    from htrc_ingester_spark.operators.pip_join import pip_join

    shell = [(0.0, 0.0), (8.0, 0.0), (8.0, 8.0), (0.0, 8.0), (0.0, 0.0)]
    hole = [(2.0, 2.0), (6.0, 2.0), (6.0, 6.0), (2.0, 6.0), (2.0, 2.0)]
    polys = [
        {"poly_id": "donut", "rings": [shell, hole]},
        {"poly_id": "west", "ring": [(-130.0, 30.0), (-110.0, 30.0), (-110.0, 50.0),
                                     (-130.0, 50.0), (-130.0, 30.0)]},
    ]
    rng = np.random.RandomState(11)
    pdf = pd.DataFrame(
        {
            "image_id": [f"s{i}" for i in range(400)],
            "lon": np.concatenate([rng.uniform(-1, 9, 200), rng.uniform(-135, -105, 200)]),
            "lat": np.concatenate([rng.uniform(-1, 9, 200), rng.uniform(25, 55, 200)]),
        }
    )
    src = tmp_path / "fence_pts"
    src.mkdir()
    df_all = spark.createDataFrame(pdf)
    spark.createDataFrame(pdf.iloc[:200]).coalesce(1).write.parquet(str(src / "f1"))
    spark.createDataFrame(pdf.iloc[200:]).coalesce(1).write.parquet(str(src / "f2"))

    want = (
        pip_join(spark, df_all, polys, res=6)
        .select("image_id", "poly_id")
        .toPandas()
        .sort_values(["image_id", "poly_id"])
        .reset_index(drop=True)
    )
    assert len(want) > 0 and set(want["poly_id"]) == {"donut", "west"}

    emitted = []
    stream = (
        spark.readStream.schema(df_all.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src) + "/*")
    )
    q = (
        S.geofence_stream(spark, stream, polys, res=6)
        .select("image_id", "poly_id")
        .writeStream.foreachBatch(lambda bdf, bid: emitted.extend(bdf.collect()))
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_fence"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = (
        pd.DataFrame([r.asDict() for r in emitted])
        .sort_values(["image_id", "poly_id"])
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got, want)


def test_dedup_stream_collapses_redelivery_within_watermark(spark, tmp_path):
    """Two files redelivering the same image_ids (at-least-once
    producer): dropDuplicatesWithinWatermark keeps each key's first
    arrival across micro-batches within the horizon."""
    import pandas as pd

    src = tmp_path / "ingest"
    src.mkdir()

    def mk(ids, minute, tag):
        pdf = pd.DataFrame(
            {
                "image_id": ids,
                "payload": [f"{tag}-{i}" for i in ids],
                "ts_s": [f"2026-01-01 00:{minute:02d}:{i % 50:02d}" for i in ids],
            }
        )
        return spark.createDataFrame(pdf).withColumn(
            "ts", F.to_timestamp("ts_s")
        ).drop("ts_s")

    mk(list(range(100)), 1, "a").coalesce(1).write.parquet(str(src / "f1"))
    # second delivery: 60 repeats (different payloads) + 40 new keys
    mk(list(range(40, 100)) + list(range(100, 140)), 2, "b").coalesce(1).write.parquet(
        str(src / "f2")
    )

    schema = spark.read.parquet(str(src / "f1")).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src) + "/*")
    )
    q = (
        S.dedup_stream(stream, key_cols=["image_id"], watermark="10 minutes")
        .writeStream.format("memory")
        .queryName("dedup_t")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_dedup"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.table("dedup_t").toPandas()
    # every key exactly once, 140 keys total
    assert len(got) == 140
    assert got.image_id.is_unique
    # keys 40..99 must carry the FIRST delivery's payload
    repeats = got[(got.image_id >= 40) & (got.image_id < 100)]
    assert (repeats.payload.str.startswith("a-")).all()
    # fresh keys from the second file survive
    assert set(got[got.image_id >= 100].image_id) == set(range(100, 140))


def test_stream_stream_join_equals_batch(spark, tmp_path):
    """Watermarked stream-stream attribution join: availableNow drain
    of two file-source streams == the same predicate in batch."""
    import pandas as pd

    vsrc, csrc = tmp_path / "views", tmp_path / "clicks"
    vsrc.mkdir(), csrc.mkdir()
    views = pd.DataFrame(
        {
            "view_id": range(60),
            "user_id": [i % 7 for i in range(60)],
            "ts_s": [f"2026-01-01 00:{i % 20:02d}:{(i * 13) % 60:02d}" for i in range(60)],
        }
    )
    clicks = pd.DataFrame(
        {
            "click_id": range(40),
            "user_id": [i % 7 for i in range(40)],
            "ts_s": [f"2026-01-01 00:{(i + 3) % 22:02d}:{(i * 7) % 60:02d}" for i in range(40)],
        }
    )
    vdf = (
        spark.createDataFrame(views)
        .withColumn("view_ts", F.to_timestamp("ts_s"))
        .drop("ts_s")
    )
    cdf = (
        spark.createDataFrame(clicks)
        .withColumn("click_ts", F.to_timestamp("ts_s"))
        .drop("ts_s")
    )
    vdf.coalesce(2).write.parquet(str(vsrc / "f"))
    cdf.coalesce(2).write.parquet(str(csrc / "f"))

    vb, cb = spark.read.parquet(str(vsrc / "f")), spark.read.parquet(str(csrc / "f"))
    want = (
        S.click_view_stream_join(vb, cb, max_delay="5 minutes")
        .toPandas()
        .sort_values(["view_id", "click_id"])
        .reset_index(drop=True)
    )
    assert len(want) > 0  # fixture sanity: the join is non-trivial

    vs = (
        spark.readStream.schema(vb.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(vsrc / "f"))
    )
    cs = (
        spark.readStream.schema(cb.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(csrc / "f"))
    )
    q = (
        S.click_view_stream_join(vs, cs, max_delay="5 minutes")
        .writeStream.format("memory")
        .queryName("ss_join_t")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_ssj"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = (
        spark.table("ss_join_t")
        .toPandas()
        .sort_values(["view_id", "click_id"])
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got, want)


def test_stream_stream_join_state_is_bounded_and_late_clicks_drop(spark, tmp_path):
    """Second drain from the same checkpoint: a click arriving far
    behind the advanced watermark pairs with nothing (its matching
    view's state was evicted)."""
    import pandas as pd

    vsrc, csrc = tmp_path / "v2", tmp_path / "c2"
    vsrc.mkdir(), csrc.mkdir()
    vschema = "view_id long, user_id long, view_ts timestamp"
    cschema = "click_id long, user_id long, click_ts timestamp"

    def write(df, d, name):
        df.coalesce(1).write.parquet(str(d / name))

    write(
        spark.createDataFrame(
            [(1, 1, "2026-01-01 00:01:00"), (2, 1, "2026-01-01 02:00:00")],
            "view_id long, user_id long, ts string",
        ).select("view_id", "user_id", F.to_timestamp("ts").alias("view_ts")),
        vsrc, "f1",
    )
    write(
        spark.createDataFrame(
            [(10, 1, "2026-01-01 02:00:30")],
            "click_id long, user_id long, ts string",
        ).select("click_id", "user_id", F.to_timestamp("ts").alias("click_ts")),
        csrc, "f1",
    )

    emitted: list = []

    def drain():
        vs = spark.readStream.schema(vschema).parquet(str(vsrc) + "/*")
        cs = spark.readStream.schema(cschema).parquet(str(csrc) + "/*")
        q = (
            S.click_view_stream_join(vs, cs, max_delay="5 minutes", watermark="10 minutes")
            .writeStream.foreachBatch(
                lambda bdf, bid: emitted.extend(bdf.collect())
            )
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ckpt_ssl"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    drain()
    assert {r["click_id"] for r in emitted} == {10}  # view 2 ⋈ click 10

    # late click at 00:02 — watermark has advanced past 01:50; its
    # matching view (id 1) was evicted from state → no pair emitted
    write(
        spark.createDataFrame(
            [(11, 1, "2026-01-01 00:02:00")],
            "click_id long, user_id long, ts string",
        ).select("click_id", "user_id", F.to_timestamp("ts").alias("click_ts")),
        csrc, "f2",
    )
    drain()
    assert {r["click_id"] for r in emitted} == {10}  # late click dropped


def test_kmeans_score_stream_equals_batch(spark, tmp_path):
    """Train k-means in batch, score a file-source stream with the
    frozen centroids: stream assignments == batch assignments."""
    import numpy as np
    import pandas as pd

    from htrc_ingester_spark.operators.clustering import kmeans_fit

    rng = np.random.default_rng(21)
    pdf = pd.DataFrame(
        {
            "vec_id": range(150),
            "embedding": [rng.normal(scale=0.3, size=8).tolist() for _ in range(150)],
        }
    )
    df = spark.createDataFrame(pdf)
    _, cents = kmeans_fit(df, k=4, iters=2, dim=8)
    cents = cents.persist()
    cents.count()  # freeze the codebook (stream side must not retrain)

    want = {
        r.vec_id: r.cluster
        for r in S.kmeans_score_stream(df, cents, dim=8).collect()
    }

    src = tmp_path / "vecs"
    src.mkdir()
    df.coalesce(3).write.parquet(str(src / "f"))
    stream = (
        spark.readStream.schema(df.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "f"))
    )
    q = (
        S.kmeans_score_stream(stream, cents, dim=8)
        .writeStream.format("memory")
        .queryName("km_score_t")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_km"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {r.vec_id: r.cluster for r in spark.table("km_score_t").collect()}
    assert got == want
    assert len(set(got.values())) > 1  # non-degenerate codebook


def test_session_window_stream_matches_batch_for_closed_sessions(spark, tmp_path):
    """Streaming session_window (append mode): every session the
    watermark closed matches the batch session_window run; the only
    sessions missing from the stream output are those still open at
    end-of-input (their end is within the watermark horizon)."""
    import pandas as pd

    src = tmp_path / "sess"
    src.mkdir()
    rows = []
    for u in range(6):
        # three bursts per user, 2h apart (gap 30m → 3 sessions)
        for b in range(3):
            for i in range(4):
                rows.append(
                    {
                        "user_id": u,
                        "ts_s": f"2026-01-01 {2 * b:02d}:{(10 * u + i) % 60:02d}:00",
                    }
                )
    pdf = pd.DataFrame(rows)
    df = spark.createDataFrame(pdf).withColumn("ts", F.to_timestamp("ts_s")).drop("ts_s")
    df.coalesce(2).write.parquet(str(src / "f"))
    batch = spark.read.parquet(str(src / "f"))

    want = (
        batch.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .select("user_id", F.col("w.start").alias("session_start"),
                F.col("w.end").alias("session_end"), "n")
        .toPandas()
    )

    stream = (
        spark.readStream.schema(batch.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "f"))
    )
    q = (
        S.sessionized_counts_stream(stream, gap="30 minutes", watermark="1 hour")
        .writeStream.format("memory")
        .queryName("sess_t")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_sess"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.table("sess_t").toPandas()

    key = ["user_id", "session_start", "session_end", "n"]
    gset = set(map(tuple, got[key].to_numpy()))
    wset = set(map(tuple, want[key].to_numpy()))
    assert gset <= wset                      # nothing wrong ever emitted
    # all sessions ending more than `watermark` before max ts are closed
    max_ts = pd.Timestamp("2026-01-01 04:59:00")
    horizon = max_ts - pd.Timedelta("1 hour")
    closed = {t for t in wset if pd.Timestamp(t[2]) < horizon}
    assert closed <= gset and len(closed) > 0


def test_session_window_state_survives_checkpointed_drains(spark, tmp_path):
    """Two availableNow drains from one checkpoint: a session OPEN at
    the end of drain 1 absorbs drain 2's rows (state recovered), then
    closes once the watermark passes — emitted exactly once with the
    merged count."""
    import pandas as pd

    src = tmp_path / "sess2"
    src.mkdir()
    schema = "user_id long, ts timestamp"

    def write(name, ts_list):
        df = spark.createDataFrame(
            [(1, t) for t in ts_list], "user_id long, ts string"
        ).select("user_id", F.to_timestamp("ts").alias("ts"))
        df.coalesce(1).write.parquet(str(src / name))

    emitted: list = []

    def drain():
        stream = spark.readStream.schema(schema).parquet(str(src) + "/*")
        q = (
            S.sessionized_counts_stream(stream, gap="30 minutes", watermark="1 hour")
            .writeStream.foreachBatch(lambda bdf, bid: emitted.extend(bdf.collect()))
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ckpt_sess2"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    # drain 1: two rows 10 min apart — one session, still open
    write("f1", ["2026-01-01 00:00:00", "2026-01-01 00:10:00"])
    drain()
    assert emitted == []  # nothing closed yet

    # drain 2: a third row EXTENDS the recovered session, plus a far
    # future row that pushes the watermark past the session's close
    write("f2", ["2026-01-01 00:20:00", "2026-01-01 06:00:00"])
    drain()
    closed = [r for r in emitted if r["n"] == 3]
    assert len(closed) == 1  # merged across drains, emitted once
    assert str(closed[0]["session_start"]).startswith("2026-01-01 00:00")


def test_stream_stream_left_outer_emits_unconverted_views(spark, tmp_path):
    """leftOuter stream-stream join: a view with no qualifying click is
    emitted with null click columns once the watermark passes its
    horizon — state-store expiry as an incremental anti-join."""
    vsrc, csrc = tmp_path / "v3", tmp_path / "c3"
    vsrc.mkdir(), csrc.mkdir()
    vdf = spark.createDataFrame(
        [(1, 1, "2026-01-01 00:00:00"), (2, 1, "2026-01-01 03:00:00")],
        "view_id long, user_id long, ts string",
    ).select("view_id", "user_id", F.to_timestamp("ts").alias("view_ts"))
    # one click matching view 2 only; view 1 never converts, and the
    # late traffic advances the watermark far past view 1 + delay
    cdf = spark.createDataFrame(
        [(10, 1, "2026-01-01 03:01:00")],
        "click_id long, user_id long, ts string",
    ).select("click_id", "user_id", F.to_timestamp("ts").alias("click_ts"))
    vdf.coalesce(1).write.parquet(str(vsrc / "f"))
    cdf.coalesce(1).write.parquet(str(csrc / "f"))

    vs = spark.readStream.schema(vdf.schema).parquet(str(vsrc / "f"))
    cs = spark.readStream.schema(cdf.schema).parquet(str(csrc / "f"))
    q = (
        S.click_view_stream_join(
            vs, cs, max_delay="5 minutes", watermark="10 minutes", how="leftOuter"
        )
        .writeStream.format("memory")
        .queryName("ssj_outer_t")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_ssjo"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.table("ssj_outer_t").toPandas()
    matched = got[got.click_id.notna()]
    unmatched = got[got.click_id.isna()]
    assert set(matched.view_id) == {2}
    assert set(unmatched.view_id) == {1}  # expired without a match


def test_geofence_stream_with_wkt_loaded_fences(spark, tmp_path):
    """Interchange → streaming integration: fences arrive as WKT text
    (the real user's shapefile-derived input), parse through geo.wkt,
    and drive the SAME streaming geofence — hits equal the dict-spec
    batch result on identical rows."""
    import numpy as np
    import pandas as pd

    from htrc_ingester_spark.geo.wkt import polys_from_wkt, rings_to_wkt
    from htrc_ingester_spark.operators.pip_join import pip_join

    shell = [(0.0, 0.0), (8.0, 0.0), (8.0, 8.0), (0.0, 8.0), (0.0, 0.0)]
    hole = [(2.0, 2.0), (6.0, 2.0), (6.0, 6.0), (2.0, 6.0), (2.0, 2.0)]
    spec = [{"poly_id": "donut", "rings": [shell, hole]}]
    wkt_rows = [("donut", rings_to_wkt([shell, hole], groups=[[0, 1]]))]
    polys = polys_from_wkt(wkt_rows)

    rng = np.random.RandomState(13)
    pdf = pd.DataFrame(
        {
            "image_id": [f"w{i}" for i in range(300)],
            "lon": rng.uniform(-1, 9, 300),
            "lat": rng.uniform(-1, 9, 300),
        }
    )
    src = tmp_path / "wkt_fence_pts"
    src.mkdir()
    df_all = spark.createDataFrame(pdf)
    df_all.coalesce(1).write.parquet(str(src / "f1"))

    want = (
        pip_join(spark, df_all, spec, res=6)
        .select("image_id", "poly_id")
        .toPandas()
        .sort_values(["image_id", "poly_id"])
        .reset_index(drop=True)
    )
    assert len(want) > 0

    emitted = []
    stream = (
        spark.readStream.schema(df_all.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src) + "/*")
    )
    q = (
        S.geofence_stream(spark, stream, polys, res=6)
        .select("image_id", "poly_id")
        .writeStream.foreachBatch(lambda bdf, bid: emitted.extend(bdf.collect()))
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_wkt_fence"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = (
        pd.DataFrame([r.asDict() for r in emitted])
        .sort_values(["image_id", "poly_id"])
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got, want)


def test_late_older_file_does_not_resurrect_tombstone(spark, dirs):
    """Cross-batch last-writer-wins (r5 review): a late-arriving
    OLDER-named dlog drained in a later run must not overwrite the
    snapshot state newer files already applied — pre-fix, seq was a
    within-batch rank, so the stale upsert resurrected the tombstoned
    volume."""
    _write_dlog(
        os.path.join(dirs["dlog"], "t-005.txt"),
        ["root/ab/uc2,ark+=13960=ta.zip", "deleting root/ab/uc2,ark+=13960=tb.zip"],
    )
    S.run_incremental_merge(spark, dirs["dlog"], dirs["snap"], dirs["ckpt"])
    assert _snapshot_ids(spark, dirs["snap"]) == ["uc2.ark:/13960/ta"]
    # the straggler: an older log (lower name ordinal) upserting tb
    # and deleting ta — BOTH must lose to the newer state already in
    # the snapshot
    _write_dlog(
        os.path.join(dirs["dlog"], "t-002.txt"),
        ["root/ab/uc2,ark+=13960=tb.zip", "deleting root/ab/uc2,ark+=13960=ta.zip"],
    )
    S.run_incremental_merge(spark, dirs["dlog"], dirs["snap"], dirs["ckpt"])
    assert _snapshot_ids(spark, dirs["snap"]) == ["uc2.ark:/13960/ta"]


def test_trajectory_null_ts_does_not_brick_entity(spark, tmp_path):
    """r5 review: a NULL ts cast to NaN was stored into state and every
    future comparison failed — one bad row silenced its entity
    forever. Non-finite ts rows now drop before state."""
    import pandas as pd

    src = tmp_path / "nan_src"
    src.mkdir()
    schema = None

    def write(name, rows):
        nonlocal schema
        df = spark.createDataFrame(
            pd.DataFrame(rows, columns=["entity_id", "ts", "lon", "lat"]),
            "entity_id string, ts double, lon double, lat double",
        )
        schema = df.schema
        df.coalesce(1).write.parquet(str(src / name))

    emitted = []

    def drain():
        stream = spark.readStream.schema(schema).parquet(str(src) + "/*")
        q = (
            S.trajectory_legs_stream(stream)
            .writeStream.foreachBatch(lambda bdf, bid: emitted.extend(bdf.collect()))
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ckpt_nan_legs"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    write("f1", [("e", 100.0, 0.0, 0.0), ("e", None, 9.0, 9.0)])
    drain()
    assert emitted == []  # one real point, no leg yet — and no poison
    write("f2", [("e", 200.0, 1.0, 0.0)])
    drain()
    assert len(emitted) == 1
    assert (emitted[0]["t0"], emitted[0]["t1"]) == (100.0, 200.0)


def test_geofence_stream_refuses_table_regime_fence_sets(spark):
    """r5 review: past the table-regime dispatch budget, pip_join would
    persist/repartition the streaming point side and crash at query
    start — refuse clearly instead."""
    import pytest as _pytest

    big = [
        {"poly_id": f"p{i}", "ring": [(0, 0), (1, 0), (1, 1), (0, 1)]}
        for i in range(5000)
    ]
    stream = (
        spark.readStream.format("rate").option("rowsPerSecond", 1).load()
        .selectExpr("cast(value as double) as lon", "cast(value as double) as lat")
    )
    with _pytest.raises(ValueError, match="fence polygons"):
        S.geofence_stream(spark, stream, big)


def test_parse_batch_seq_from_exactly_one_digit_run(spark):
    """The file-name ordinal is ONE digit run: concatenating every run
    made dlog-2-10 → 210 sort after dlog-10-2 → 102, so both names
    must fail the batch; the zero-padded single-run convention
    (dlog-000123.log) keeps its ordinal."""
    def seqs(name):
        df = spark.createDataFrame(
            [("root/ab/uc2,ark+=13960=ta.zip\nroot/ab/uc2,ark+=13960=tb.zip\n",
              f"file:///logs/run-7/{name}")],
            "value string, src_file string",
        )
        return sorted(r.seq for r in S.parse_batch(df).collect())

    assert seqs("dlog-000123.log") == [123 << 20, (123 << 20) + 1]
    for name in ("dlog-2-10", "dlog-10-2"):
        with pytest.raises(Exception, match="more than one numeric run"):
            seqs(name)
