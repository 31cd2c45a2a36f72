"""Structured Streaming incremental ingest (SURVEY.md §2.8 ST1-ST4).

The reference's ``PersistentIngestService`` (REF/PersistentIngestService.
java:176-252) is a sleep/wake micro-batch loop: each cycle rsyncs new
delta logs, parses them, pushes changes, renames processed logs so a
crash resumes where it left off (ST3). The Spark-native equivalent:

- SOURCE: a Structured Streaming *file source* over the delta-log
  directory — Spark's checkpointed file tracking replaces the
  ``dlog-*`` → ``_PROCESSED_`` rename state machine: a file is read
  exactly once across restarts, recorded in the checkpoint's file log
  (same contract, engine-managed).
- TRANSFORM: the SAME batch operators (ingest.parse_delta_log /
  collapse_changes / apply_changes) inside ``foreachBatch`` — one code
  path for batch and streaming (the Dataset-API promise).
- SINK: idempotent MERGE into a parquet snapshot per micro-batch,
  keyed by ``batch_id`` — re-delivery of a batch after a crash
  overwrites to the same state (ST3 exactly-once-ish).
- TRIGGER: ``availableNow`` drains everything then stops (the one-shot
  IngestService); ``processingTime`` mirrors the persistent service's
  PERSIST_WAKEUP_INTERVAL (ST1). Graceful stop = ``query.stop()``
  (ST2's STOP control file).
- Late/duplicate lines (ST4) collapse in ``collapse_changes`` exactly
  as the reference's upsert maps do (DeltaLogParser.java:242-244).

Scale notes: each micro-batch shuffles only the batch's change set
(cost ∝ change volume, §3.2); the snapshot rewrite joins changes
against the previous snapshot — on Iceberg this is MERGE INTO with
partition pruning; here (plain parquet) we rewrite via the same
apply_changes plan and an atomic directory swap.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import ingest as I


def read_snapshot(
    spark: SparkSession, snapshot_dir: str, include_tombstones: bool = False
) -> DataFrame | None:
    """Current snapshot via tables.py's atomic _LATEST pointer; None
    when nothing is committed yet. A missing/torn version dir with a
    valid pointer is a hard error (never silently reset — data loss).

    The stored table RETAINS tombstone rows (op='delete') as the
    cross-batch last-writer-wins defense: without them, a late
    straggler upsert for a deleted volume finds no stored seq to lose
    against and silently resurrects it. The default view filters them
    out (the live snapshot); ``include_tombstones=True`` is the merge
    path's internal read. Tombstones are one row per deleted volume;
    :func:`compact_tombstones` drops those older than a horizon."""
    from .. import tables as TB

    try:
        df = TB.read(spark, snapshot_dir)
    except FileNotFoundError:
        return None
    return df if include_tombstones else df.where(F.col("op") != F.lit("delete"))


def compact_tombstones(spark: SparkSession, snapshot_dir: str, horizon_seq: int) -> int:
    """Drop the stored delete markers with ``seq < horizon_seq`` and
    commit the rest as a new snapshot version (through ``tables.commit``,
    as ``tables.compact`` does); returns that version.

    A tombstone exists only so that a late straggler for its volume,
    older than the delete, loses (see :func:`read_snapshot`). Once it
    is dropped, a straggler with ``seq`` below it would resurrect the
    volume. So the horizon is safe only when no change older than it
    can still arrive: every straggler the merge may yet receive must
    have ``seq >= horizon_seq``, e.g. a horizon of the newest applied
    seq minus the longest accepted delay, in ``seq`` units (file-name
    numeral << 20). Stragglers at or past the horizon still lose to
    every surviving tombstone and to every stored upsert, and a change
    newer than a dropped tombstone applies as a fresh upsert, as it
    would have anyway."""
    from .. import tables as TB

    kept = TB.read(spark, snapshot_dir).where(
        (F.col("op") != F.lit("delete")) | (F.col("seq") >= F.lit(horizon_seq))
    )
    return TB.commit(kept, snapshot_dir, note=f"compact_tombstones seq < {horizon_seq}")


def read_delta_log_stream(spark: SparkSession, dlog_dir: str) -> DataFrame:
    """Streaming raw delta-log FILES (wholetext: one row per file).

    Whole-file rows make within-file line order exact by construction
    — split-based text reads lose it once a file spans splits (split
    partition order is bin-packed by size, not offset). Delta logs are
    small CDC files (the reference reads them whole too,
    DeltaLogParser.java:279); parsing splits lines per micro-batch."""
    return (
        spark.readStream.format("text")
        .option("wholetext", "true")
        .option("maxFilesPerTrigger", 16)
        .load(dlog_dir)
        .select(F.col("value"), F.input_file_name().alias("src_file"))
    )


def parse_batch(batch_df: DataFrame) -> DataFrame:
    """Micro-batch whole-file rows → classified change stream.

    ``seq`` = (file-name numeral ≪ 20 | line offset within the file),
    derived from the NAME — not a within-batch rank — so it is
    comparable ACROSS micro-batches and runs. The previous
    dense_rank-per-batch restarted at 1 every micro-batch: a drain
    spanning more than maxFilesPerTrigger files, or a late-arriving
    older-named dlog in a second run, produced seq values that
    compared WRONG against already-applied batches (last-BATCH-wins,
    not last-writer-wins; the stateful twin collapse_stream_stateful
    always compared (src_file, pos) across batches — this brings the
    MERGE path to the same discipline). File names carry a sortable
    numeral per the dlog convention (dlog-<ts> / t-<ts>); a name with
    no digits, more than one digit run (concatenating the runs would
    order dlog-2-10 after dlog-10-2), a 13+-digit numeral (would
    overflow the 43-bit pack; epoch SECONDS fit), or a file of ≥2^20
    lines fails the batch loudly rather than silently mis-ordering.
    posexplode of the file's own line array → EXACT within-file order
    (no dependence on split or partition scheduling)."""
    base = "element_at(split(src_file, '/'), -1)"
    fnum = (
        "case when size(_runs) = 0 then"
        f" cast(raise_error(concat('dlog file name has no numeric ordinal: ', {base})) as long)"
        " when size(_runs) > 1 then"
        f" cast(raise_error(concat('dlog file name has more than one numeric run: ', {base})) as long)"
        " when length(_runs[0]) > 12 then"
        f" cast(raise_error(concat('dlog file-name ordinal too large to order: ', {base})) as long)"
        " else cast(_runs[0] as long) end"
    )
    ranked = (
        batch_df.withColumn("_runs", F.expr(f"regexp_extract_all({base}, '[0-9]+', 0)"))
        .withColumn("_fnum", F.expr(fnum))
        .select(
            "_fnum",
            "src_file",
            F.posexplode(F.split(F.col("value"), "\n")).alias("_pos", "line"),
        )
        .where(F.col("line") != "")
        .withColumn(
            "seq",
            F.expr(
                f"if(_pos >= {1 << 20},"
                f" cast(raise_error(concat('dlog file exceeds 2^20 lines: ', src_file)) as long),"
                f" _fnum * {1 << 20} + _pos)"
            ),
        )
    )
    return I.parse_delta_log(ranked, line_col="line")


def run_incremental_merge(
    spark: SparkSession,
    dlog_dir: str,
    snapshot_dir: str,
    checkpoint_dir: str,
    available_now: bool = True,
    processing_time: str | None = None,
):
    """Drain the delta-log directory into the snapshot via foreachBatch
    MERGE. Returns the (possibly stopped) StreamingQuery."""

    def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        # persist: the emptiness probe and the commit are separate
        # actions — unpersisted, each re-ran the wholetext read, the
        # explode, and the collapse window (exchange reuse does not
        # span actions); the collapsed change set is tiny by
        # construction (≤ one row per touched volume)
        collapsed = I.collapse_changes(parse_batch(batch_df)).persist()
        changes = collapsed
        try:
            if not changes.take(1):
                return
            snapshot = read_snapshot(spark, snapshot_dir, include_tombstones=True)
            if snapshot is None:
                snapshot = spark.createDataFrame(
                    [], "volume_id string, op string, seq long, path string"
                )
            else:
                # cross-batch last-writer-wins: a change only applies
                # if it is NEWER than the snapshot's stored seq for
                # that volume (collapse_changes only collapses WITHIN
                # the batch; without this, a late-arriving older dlog
                # in a later micro-batch overwrote newer rows — e.g.
                # an old upsert resurrecting a tombstoned volume).
                # seq is name-derived (parse_batch) so the comparison
                # is valid across batches and runs; replayed batches
                # compare equal and no-op (idempotent).
                stored = snapshot.select("volume_id", F.col("seq").alias("_sseq"))
                changes = (
                    changes.join(stored, "volume_id", "left")
                    .where(F.col("_sseq").isNull() | (F.col("seq") > F.col("_sseq")))
                    .drop("_sseq")
                )
            new_rows = changes.where(F.col("op") == "upsert")
            # tombstones are RETAINED in the stored table (see
            # read_snapshot): apply_changes drops the deleted volumes'
            # old rows; the union writes the delete markers that future
            # batches' LWW filter compares stragglers against
            merged = I.apply_changes(snapshot, changes, new_rows).unionByName(
                changes.where(F.col("op") == "delete")
            )
            # commit through tables.py: it allocates latest+1 (NEVER the
            # directory the lazy `snapshot` read is still reading from —
            # version=batch_id here once self-overwrote vN on crash
            # replay, destroying the snapshot mid-read) and flips the
            # pointer atomically; a replayed batch simply commits a new
            # version with identical content (merge is idempotent)
            from .. import tables as TB

            TB.commit(merged, snapshot_dir, note=f"batch {batch_id}")
        finally:
            collapsed.unpersist()

    writer = (
        read_delta_log_stream(spark, dlog_dir)
        .writeStream.foreachBatch(merge_batch)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        q = writer.trigger(availableNow=True).start()
        q.awaitTermination()
        return q
    q = writer.trigger(processingTime=processing_time or "10 seconds").start()
    return q


def windowed_change_rates(
    parsed_stream: DataFrame, window: str = "1 minute", watermark: str = "2 minutes"
) -> DataFrame:
    """Event-time windowed upsert/delete rates with a watermark for
    late lines — the streaming-metrics analog of the reference's
    throughput log (Ingester.java:332-341). Input must carry an
    event-time ``ts`` column."""
    return (
        parsed_stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), F.col("kind"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("window_start"), "kind", "n")
    )


def windowed_tile_counts(
    point_stream: DataFrame,
    window: str = "1 minute",
    watermark: str = "2 minutes",
    zoom_res: int = 5,
    n_tiles: int = 4096,
    lon_col: str = "lon",
    lat_col: str = "lat",
    ts_col: str = "ts",
) -> DataFrame:
    """Event-time windowed per-tile arrival counts over a stream of
    geotagged points (image ingest events) — the streaming leg of the
    north-rule tile pipeline: live per-map-tile ingest rates.

    The tile assignment (``assign_tiles``) is a pure Catalyst column
    expression, so it runs inside the streaming micro-batch with no
    UDF and no extra state; the only stateful operator is the windowed
    count, whose state is (windows-in-flight × active tiles) rows —
    bounded, because the watermark evicts closed windows and
    ``n_tiles`` caps the tile axis. Late rows beyond ``watermark`` are
    dropped (ST4 discipline). Works identically on a batch frame
    (same plan minus state) — tested both ways.
    """
    from ..operators.tiles import assign_tiles

    tiled = assign_tiles(
        point_stream, zoom_res=zoom_res, n_tiles=n_tiles, lon_col=lon_col, lat_col=lat_col
    )
    return (
        tiled.withWatermark(ts_col, watermark)
        .groupBy(F.window(ts_col, window).alias("w"), F.col("tile_id"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("window_start"), "tile_id", "n")
    )


def collapse_stream_stateful(raw_stream: DataFrame) -> DataFrame:
    """ST4 as a CUSTOM STATEFUL streaming operator
    (``applyInPandasWithState``): per-volume last-writer-wins ACROSS
    micro-batches with O(1) state per volume.

    The foreachBatch MERGE path (run_incremental_merge) collapses
    within a batch and merges into a snapshot; this operator is the
    streaming dual for pipelines whose sink is a change FEED (Kafka, a
    downstream job) rather than a table: it emits a (volume_id, op,
    src_file, pos, path) row only when a volume's winning line ADVANCES
    in the (src_file, pos) total order — late or duplicate lines emit
    nothing, exactly the reference's upsert-map discipline
    (DeltaLogParser.java:242-244) held open-endedly over the stream.

    Input: the RAW whole-file stream (``read_delta_log_stream``).
    The ``parse_batch`` rank window is batch-only (non-time windows are
    illegal on streams), so ordering here is the lexicographic
    (src_file, pos) pair carried in state — file names are
    timestamp-sortable per the dlog convention, which is the same
    chronology the rank encodes.

    State = (src_file, pos, op, path) per volume — bytes-bounded, no
    timeout (volume ids recur forever; at 10^8 volumes the state store
    is a few GB across executors, RocksDB-backed on a real cluster)."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    lines = raw_stream.select(
        F.col("src_file"),
        F.posexplode(F.split(F.col("value"), "\n")).alias("pos", "line"),
    ).where(F.col("line") != "")
    # shared line grammar (ingest.classified_line_cols): this feed and
    # the MERGE path's parse_delta_log must classify identically
    kind, path = I.classified_line_cols("line")
    parsed = (
        lines.select(
            "src_file",
            F.col("pos").cast("long").alias("pos"),
            kind.alias("kind"),
            path.alias("path"),
        )
        .where(F.col("kind").isin(I.KIND_DELETE, I.KIND_ZIP, I.KIND_METS))
        .withColumn("volume_id", I.path_to_volume_id(F.col("path")))
    )

    def fn(key, pdf_iter, state):
        best = tuple(state.get) if state.exists else None
        advanced = False
        for pdf in pdf_iter:
            for r in pdf.sort_values(["src_file", "pos"]).itertuples(index=False):
                cand = (str(r.src_file), int(r.pos))
                if best is None or cand > (str(best[0]), int(best[1])):
                    op = "delete" if r.kind == I.KIND_DELETE else "upsert"
                    best = (cand[0], cand[1], op, str(r.path))
                    advanced = True
        if advanced:
            src_file, pos, op, p = best
            state.update((src_file, int(pos), op, p))
            yield pd.DataFrame(
                {
                    "volume_id": [key[0]],
                    "op": [op],
                    "src_file": [src_file],
                    "pos": [int(pos)],
                    "path": [p],
                }
            )

    return parsed.groupBy("volume_id").applyInPandasWithState(
        fn,
        outputStructType="volume_id string, op string, src_file string, pos long, path string",
        stateStructType="src_file string, pos long, op string, path string",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def trajectory_legs_stream(
    point_stream: DataFrame,
    id_col: str = "entity_id",
    ts_col: str = "ts",
    lon_col: str = "lon",
    lat_col: str = "lat",
) -> DataFrame:
    """Incremental trajectory assembly as a CUSTOM STATEFUL streaming
    operator (``applyInPandasWithState``): per-entity state is ONE
    point — the latest (ts, lon, lat) seen — and each micro-batch
    emits the haversine legs formed by the entity's new points
    (chained onto the stored last point), exactly the rows the batch
    twin :func:`...operators.trajectory.trajectory_legs` produces on
    the same data (asserted equal in test_streaming).

    Late discipline (ST4): a point whose ts is ≤ the stored last ts
    arrived out of order ACROSS batches and is dropped — state only
    advances, so replays and stragglers emit nothing, the same
    monotone rule as :func:`collapse_stream_stateful`. Within a batch,
    points sort by ts first, so intra-batch disorder is harmless.

    State is O(1) per entity (three doubles — at 10^9 entities a few
    tens of GB across executors, RocksDB-backed on a real cluster);
    emitted legs are append-only facts, so the sink can be a feed.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    pts = point_stream.select(
        F.col(id_col).cast("string").alias("entity_id"),
        F.col(ts_col).cast("double").alias("t"),
        F.col(lon_col).cast("double").alias("lon"),
        F.col(lat_col).cast("double").alias("lat"),
    )

    # shared kernel (geo.geometry.haversine_m): same formula/radius as
    # the batch twin, WITH the arcsin clip a hand-rolled copy here
    # lacked (near-antipodal pairs can round a to 1+eps → NaN leg)
    from ..geo.geometry import haversine_m as hav_np

    def hav(lat1, lon1, lat2, lon2):
        return hav_np(lat1, lon1, lat2, lon2)

    def fn(key, pdf_iter, state):
        last = tuple(state.get) if state.exists else None  # (t, lon, lat)
        pdf = pd.concat(list(pdf_iter), ignore_index=True)
        # a non-finite ts (NULL casts to NaN) must never reach state:
        # NaN compared False against every future t, so ONE bad row
        # permanently bricked its entity (no leg ever emitted again)
        pdf = pdf[np.isfinite(pdf["t"])].sort_values("t")
        if last is not None:
            pdf = pdf[pdf["t"] > last[0]]  # monotone-advance: late rows drop
        if pdf.empty:
            return
        t = pdf["t"].to_numpy()
        lon = pdf["lon"].to_numpy()
        lat = pdf["lat"].to_numpy()
        if last is not None:
            # previous-point array: stored last point, then this
            # batch's points shifted by one
            pt = np.concatenate([[last[0]], t[:-1]])
            plon = np.concatenate([[last[1]], lon[:-1]])
            plat = np.concatenate([[last[2]], lat[:-1]])
        else:
            pt, plon, plat = t[:-1], lon[:-1], lat[:-1]
            t, lon, lat = t[1:], lon[1:], lat[1:]
        state.update((float(pdf["t"].iloc[-1]), float(pdf["lon"].iloc[-1]), float(pdf["lat"].iloc[-1])))
        if len(t) == 0:
            return
        leg = hav(plat, plon, lat, lon)
        dt = t - pt
        yield pd.DataFrame(
            {
                "entity_id": key[0],
                "t0": pt,
                "t1": t,
                "leg_m": leg,
                "dt_s": dt,
                "speed_mps": np.where(dt > 0, leg / np.where(dt > 0, dt, 1.0), np.nan),
            }
        )

    return pts.groupBy("entity_id").applyInPandasWithState(
        fn,
        outputStructType=(
            "entity_id string, t0 double, t1 double,"
            " leg_m double, dt_s double, speed_mps double"
        ),
        stateStructType="t double, lon double, lat double",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def geofence_stream(
    spark,
    point_stream: DataFrame,
    polys: list[dict],
    res: int = 7,
    res_max: int | None = None,
    lon_col: str = "lon",
    lat_col: str = "lat",
) -> DataFrame:
    """Streaming geofencing: emit a (point, poly_id) hit row the moment
    a geotagged point lands inside a fence polygon — the EXACT
    ``pip_join`` plan (broadcast cell-cover equi-join refined by a
    native ray-cast predicate over the partial cells' edges, even-odd
    multi-ring semantics) applied per micro-batch.

    Nothing about the plan is stateful: the cover join is
    stream-static (the cover is a driver-built broadcast), the refine
    is a row-local Catalyst predicate in the same scan, so there is no
    state store, no watermark, no Python worker, and late data needs
    no handling (a late point is just a late hit). The micro-batch is
    read once and nothing is cached (caching a streaming frame is
    illegal).

    Output == batch ``pip_join`` on the same rows
    (test_streaming.test_geofence_stream_equals_batch, fence set
    including a polygon with a hole).

    Fence-set bound: the broadcast regime only. ``pip_join`` raises a
    ValueError on a streaming point frame whenever it would dispatch to
    the cover-as-table regime (past ``_TABLE_POLYS_BUDGET`` polygons, a
    cover table past ``spark.sql.autoBroadcastJoinThreshold``, or
    ``spark.htrc.forceDistributed=true``), which persists and
    repartitions point-side frames — illegal on a stream — so the
    refusal comes before the query starts. (A larger fence catalog
    wants a stream-static join against a pre-built cover table; the
    broadcast regime covers the realistic geofencing range.)"""
    from ..operators.pip_join import pip_join

    return pip_join(
        spark,
        point_stream,
        polys,
        res=res,
        res_max=res_max,
        lon_col=lon_col,
        lat_col=lat_col,
    )


def dedup_stream(
    stream: DataFrame,
    key_cols: list[str] | None = None,
    ts_col: str = "ts",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Exactly-once-by-key ingest over a stream that may redeliver:
    keep the FIRST arrival of each key (re-uploads, retried producers,
    at-least-once sources all collapse), forgetting keys once the
    watermark passes their event time — the streaming form of the
    reference's checksum-keyed skip of already-ingested volumes
    (SURVEY.md §2 ST4/J3 discipline; the batch twin is a plain
    min-by-arrival groupBy).

    State = one row per key seen inside the watermark horizon —
    bounded by arrival rate × horizon, NOT by corpus size; Spark's
    ``dropDuplicatesWithinWatermark`` evicts the rest. Duplicates
    arriving later than ``watermark`` after the original are NOT
    collapsed (they re-emit — downstream last-writer-wins merge
    absorbs them, same as the CDC path); that trade is what keeps the
    state finite at 10^12 keys.
    """
    keys = key_cols or ["image_id"]
    return stream.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(keys)


def click_view_stream_join(
    views: DataFrame,
    clicks: DataFrame,
    max_delay: str = "10 minutes",
    watermark: str = "10 minutes",
    how: str = "inner",
) -> DataFrame:
    """Watermarked stream-stream join — the attribution query (view →
    click within ``max_delay``) that completes the streaming taxonomy
    next to the stateless PIP probe, the windowed aggs, and the
    applyInPandasWithState collapse.

    views: (view_id, user_id, view_ts); clicks: (click_id, user_id,
    click_ts). Emits one row per (view, click) pair of the same user
    with ``view_ts <= click_ts < view_ts + max_delay`` — the classic
    interval-bounded equi-join. Both sides carry watermarks and the
    join condition bounds event time in BOTH directions, so Spark can
    size the state store exactly: each side buffers only rows inside
    the watermark horizon (state ∝ rate × horizon, never corpus), and
    evicts as the watermark advances — the stream-stream analog of
    interval_join's bin discipline.

    Late rows beyond the watermark are dropped by the state store (the
    standard contract; test pins it across checkpointed drains). The
    batch twin is the same join predicate on static frames
    (test_streaming: stream == batch on the common rows).

    ``how="leftOuter"`` additionally emits every UNMATCHED view (null
    click columns) once the watermark proves no qualifying click can
    still arrive — the "views that never converted" feed, generated
    incrementally by state-store expiry rather than a batch anti-join.
    """
    v = views.withWatermark("view_ts", watermark).alias("v")
    c = clicks.withWatermark("click_ts", watermark).alias("c")
    return v.join(
        c,
        F.expr(
            f"""
            v.user_id = c.user_id
            and c.click_ts >= v.view_ts
            and c.click_ts < v.view_ts + interval {max_delay}
            """
        ),
        how,
    ).select(
        "v.view_id", "c.click_id", "v.user_id", "v.view_ts", "c.click_ts"
    )


def kmeans_score_stream(
    stream: DataFrame,
    centroids: DataFrame,
    dim: int = 64,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    quant: int = 1000,
) -> DataFrame:
    """Score a stream of embedding rows against a BATCH-trained k-means
    codebook (clustering.kmeans_fit's centroids) — the train-offline /
    score-online split every production clusterer runs.

    The static centroid set folds into one broadcast row and the
    assignment is the same integer HOF argmin as the batch operator:
    stateless, map-only per micro-batch — no state store, no watermark,
    and stream==batch on the same rows by construction (pinned in
    test_streaming). Late data needs no handling (a late row is a late
    score)."""
    from ..operators.clustering import _argmin_expr, _fold_centroids, _quant_expr

    cs = _fold_centroids(centroids)
    q = stream.select(
        F.col(id_col), F.expr(_quant_expr(vec_col, quant, "spark")).alias("qv")
    )
    return q.crossJoin(F.broadcast(cs)).select(
        id_col, F.expr(_argmin_expr("cs", "qv", dim)).alias("cluster")
    )


def sessionized_counts_stream(
    stream: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "2 hours",
    key_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Streaming sessionization: Spark's native ``session_window``
    (dynamic-gap state merging) under a watermark — the streaming twin
    of the batch events_sessionize entry. Append mode emits a session
    only once the watermark passes its close (start of a session can
    move as late rows merge windows — that is why session state is
    special-cased by the engine and why the batch lag+cumsum twin
    cannot be streamed directly).

    State = open sessions inside the watermark horizon (∝ active keys,
    not history). Output: (key, session_start, session_end, n)."""
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(F.session_window(ts_col, gap).alias("w"), F.col(key_col))
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .select(
            key_col,
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n",
        )
    )
