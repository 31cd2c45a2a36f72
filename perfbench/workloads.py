"""The benchmark workloads.

A workload generates its inputs and oracles from the seed (``__init__``,
``oracle``; outside every timed region), registers the staged inputs
with a session (``stage``), offers one warm-up op per set-up
(``warmups``: set-up k of a run runs the k-th), and then yields one cycle of operations at a time (``cycle``). An ``Op``'s
``run`` is the timed call into the engine through its action; its
``check`` compares the result with the oracle afterwards.
"""

from __future__ import annotations

import os
from collections import Counter
from dataclasses import dataclass, field
from typing import Any, Callable

import numpy as np
from pyspark.sql import functions as F

import gen
import oracles as O


@dataclass
class Op:
    name: str
    run: Callable[[Any], Any]  # tracer -> result
    check: Callable[[Any], None]
    rows: int  # input rows the op consumes
    prepare: Callable[[], None] | None = None
    notes: dict = field(default_factory=dict)


def _rows(df) -> list[dict]:
    return [r.asDict() for r in df.collect()]


# ---------------------------------------------------------------------------


class Flagship:
    """H3-encode -> PIP join (broadcast regime) -> tile assign -> count."""

    name = "flagship"
    n_images = 600_000
    pool_size = 96  # > pip_join's 64-entry cover memo
    RES, ZOOM, TILES = 7, 5, 256

    def __init__(self, seed: int, scale: float, work: str):
        rng = np.random.default_rng(seed)
        self.img, centers = gen.images(rng, max(2000, int(self.n_images * scale)))
        self.pool = gen.polygon_pool(rng, centers, self.pool_size)
        # warm-up sets, outside the pool so they never turn a pool draw into a memo hit
        self.warm = [[dict(p, poly_id="warm" + p["poly_id"]) for p in s] for s in gen.polygon_pool(rng, centers, 3)]
        self.draws = gen.skewed_draws(rng, self.pool_size, 4096)
        self.path = os.path.join(work, "images.parquet")
        self.img.to_parquet(self.path)
        self.spark = self.df = None

    def oracle(self, tmp: str) -> None:
        self.tiles = O.tile_ids(self.img, self.ZOOM, self.TILES, tmp)
        self.want = {}
        for i in set(self.draws[:64]):  # more draws than a run reaches
            self._want(i)
        self.want_warm = [self._counts(s) for s in self.warm]

    def _counts(self, polys) -> Counter:
        return O.poly_tile_counts(self.img["lon"].to_numpy(), self.img["lat"].to_numpy(), self.tiles, polys)

    def _want(self, i: int) -> Counter:
        if i not in self.want:
            self.want[i] = self._counts(self.pool[i])
        return self.want[i]

    def stage(self, spark) -> None:
        self.spark, self.df = spark, spark.read.parquet(self.path)
        self.seen: set[int] = set()

    def _op(self, polys, want) -> Op:
        from htrc_ingester_spark.operators.pip_join import pip_join
        from htrc_ingester_spark.operators.tiles import assign_tiles

        def run(tr):
            with tr.span("pip_join.call"):
                hits = pip_join(self.spark, self.df, polys, res=self.RES)
            if tr.enabled:
                with tr.span("pip_join.exec"):
                    hits.write.format("noop").mode("overwrite").save()
            agg = assign_tiles(hits, zoom_res=self.ZOOM, n_tiles=self.TILES).groupBy("poly_id", "tile_id").agg(
                F.count(F.lit(1)).alias("n")
            )
            with tr.span("tiles.action") as s:
                rows = agg.collect()
            tr.plan_rows(s, agg, {"refine": "pythonUDF"})
            return rows

        def check(rows):
            O.check_counts(Counter({(r["poly_id"], int(r["tile_id"])): int(r["n"]) for r in rows}), want, "pip")

        return Op("pip_tiles", run, check, len(self.img))

    def warmups(self) -> list[Op]:
        return [self._op(polys, want) for polys, want in zip(self.warm, self.want_warm)]

    def cycle(self, c: int) -> list[Op]:
        i = self.draws[c % len(self.draws)]
        op = self._op(self.pool[i], self._want(i))
        op.notes["memo_hit"] = i in self.seen
        self.seen.add(i)
        return [op]

    def probe(self, tr) -> None:
        """Traced run only: the cell encode over the whole image table."""
        from htrc_ingester_spark.functions import h3_cell

        with tr.span("geo.encode"):
            self.df.select(h3_cell("lon", "lat", self.RES).alias("c")).write.format("noop").mode(
                "overwrite"
            ).save()


# ---------------------------------------------------------------------------


class Iterative:
    """kNN ring expansion (dense and sparse queries) and MinHash LSH."""

    name = "iterative"
    n_points = 200_000
    n_docs = 3000
    n_queries = 16

    def __init__(self, seed: int, scale: float, work: str):
        rng = np.random.default_rng(seed)
        self.pts, centers = gen.images(rng, max(2000, int(self.n_points * scale)))
        self.dense = [gen.knn_queries(rng, centers, self.n_queries, True) for _ in range(2)]
        self.sparse = [gen.knn_queries(rng, centers, self.n_queries, False) for _ in range(2)]
        self.warm_q = [gen.knn_queries(rng, centers, self.n_queries, dense) for dense in (True, False)]
        self.docs, self.planted = gen.documents(rng, max(200, int(self.n_docs * scale)))
        self.paths = {k: os.path.join(work, f"{k}.parquet") for k in ("points", "docs")}
        self.pts.to_parquet(self.paths["points"])
        self.docs.to_parquet(self.paths["docs"])

    def oracle(self, tmp: str) -> None:
        self.pos = {v: i for i, v in enumerate(self.pts["image_id"].tolist())}
        self.want = {id(q): O.knn_topk(self.pts, q) for q in self.dense + self.sparse + self.warm_q}
        self.texts = dict(zip(self.docs["doc_id"].tolist(), self.docs["text"].tolist()))

    def stage(self, spark) -> None:
        self.spark = spark
        self.points = spark.read.parquet(self.paths["points"])
        self.docs_df = spark.read.parquet(self.paths["docs"])

    def _knn(self, queries, name: str) -> Op:
        from htrc_ingester_spark.operators.knn_join import knn_auto_res_points, knn_join

        def run(tr):
            with tr.span("knn_join.call"):
                out = knn_join(self.spark, self.points, queries, res=knn_auto_res_points(self.points, k=5))
            with tr.span("knn_join.exec"):
                return _rows(out.select("query_id", "image_id", "rank"))

        def check(rows):
            O.check_knn(rows, self.want[id(queries)], self.pts, self.pos)

        return Op(name, run, check, len(self.pts))

    def _lsh(self) -> Op:
        from htrc_ingester_spark.operators.textdedup import lsh_near_dup_pairs

        def run(tr):
            with tr.span("textdedup.exec") as s:
                pairs = lsh_near_dup_pairs(self.docs_df)
                rows = _rows(pairs)
            tr.plan_rows(s, pairs, {"verify": "array_intersect"})
            return rows

        return Op("lsh", run, lambda rows: O.check_lsh(rows, self.texts, self.planted), len(self.docs))

    def warmups(self) -> list[Op]:
        return [self._knn(self.warm_q[0], "knn_dense"), self._lsh(), self._knn(self.warm_q[1], "knn_sparse")]

    def cycle(self, c: int) -> list[Op]:
        b = c % len(self.dense)
        return [self._knn(self.dense[b], "knn_dense"), self._knn(self.sparse[b], "knn_sparse"), self._lsh()]


# ---------------------------------------------------------------------------


class IngestWrite:
    """zip+METS ingest -> resumable manifest write -> verify -> resume
    -> streaming delta-log MERGE -> compaction."""

    name = "ingest_write"
    n_vols = 24
    vol_batches = 3
    buckets = 8
    lines_per_file = 120
    n_keys = 600
    max_cycles = 64

    def __init__(self, seed: int, scale: float, work: str):
        rng = np.random.default_rng(seed)
        self.work = work
        n_vols = max(self.buckets, int(self.n_vols * scale))
        self.vols, self.paths = [], []
        for b in range(self.vol_batches + 1):  # the last batch is the warm-up's
            frame, n_pages, bad = gen.volumes(rng, b, n_vols)
            path = os.path.join(work, f"volumes{b}.parquet")
            frame.to_parquet(path)
            self.vols.append((n_pages, bad))
            self.paths.append(path)
        self.invalid = [sorted(rng.choice(self.buckets, 2, replace=False).tolist()) for _ in range(self.max_cycles + 1)]
        self.dlogs = gen.delta_batches(rng, self.max_cycles + 1, max(20, int(self.lines_per_file * scale)), self.n_keys)

    def oracle(self, tmp: str) -> None:
        # the LWW model after each cycle's drain, warm-up (index -1) apart
        self.models, files = [], []
        for batch in self.dlogs[:-1]:
            files += batch
            self.models.append(O.lww_model(files))
        self.warm_model = O.lww_model(self.dlogs[-1])

    def stage(self, spark) -> None:
        self.spark = spark
        self.frames = [spark.read.parquet(p) for p in self.paths]
        self.run_dir = os.path.join(self.work, f"run{spark.sparkContext.applicationId}")

    def _pipeline(self, b: int):
        from htrc_ingester_spark.sources import mets as M
        from htrc_ingester_spark.sources import zipsource as Z

        vols = self.frames[b]
        zip_pages = Z.explode_zip_pages(vols.select("volume_id", "content"))
        mets_pages, _ = M.pages_table(M.parse_mets(vols.select("volume_id", "mets_xml")))
        joined, _ = Z.join_mets_pages(zip_pages, mets_pages)
        return Z.validate_pages(joined)

    def _ops(self, c: int, b: int, dlog_batch, model, invalid, root: str) -> list[Op]:
        from htrc_ingester_spark import manifest as MF
        from htrc_ingester_spark import tables as TB
        from htrc_ingester_spark.streaming.incremental import run_incremental_merge

        n_pages, bad = self.vols[b]
        pages = sum(n_pages.values())
        out = os.path.join(root, f"out{c}")
        dlog, snap, ckpt = (os.path.join(root, d) for d in ("dlog", "snapshot", "ckpt"))
        kw = dict(phash_col="md5", tile_col=None, id_col="page_key")
        vidx = {v: int(v[-4:]) % self.buckets for v in n_pages}
        parts = set(vidx.values())
        ok_pages = pages - len(bad)
        resumed = sum(n for v, n in n_pages.items() if vidx[v] in invalid) - sum(vidx[v] in invalid for v, _ in bad)

        def ingest(tr):
            with tr.span("sources.exec"):
                ok, bad_df = self._pipeline(b)
                return _rows(ok.groupBy("volume_id").agg(F.count(F.lit(1)).alias("n"))), _rows(
                    bad_df.select("volume_id", "filename")
                )

        def written():
            ok, _ = self._pipeline(b)
            return ok.select(
                "volume_id", "filename", "contents", "byte_count", "md5",
                F.concat_ws("/", "volume_id", "filename").alias("page_key"),
                (F.expr("cast(substring(volume_id, -4) as int)") % self.buckets).alias("bucket"),
            )

        def write(tr):
            with tr.span("manifest.write"):
                return MF.write_resumable(self.spark, written(), out, "bucket", commit_seq=1, **kw)

        def resume(tr):
            with tr.span("manifest.resume"):
                dropped = MF.invalidate_partitions(self.spark, out, invalid)
                stats = MF.write_resumable(self.spark, written(), out, "bucket", commit_seq=2, **kw)
            tr.note("resume_skip_ratio", stats["skipped"] / max(1, stats["skipped"] + stats["written"]))
            return dropped, stats

        def verify(tr):
            with tr.span("manifest.verify"):
                return _rows(MF.verify_manifests(self.spark, out, "bucket", **kw))

        def add_dlogs():
            os.makedirs(dlog, exist_ok=True)
            for name, lines in dlog_batch:
                tmp = os.path.join(root, "." + name)
                with open(tmp, "w") as f:
                    f.write("\n".join(lines) + "\n")
                os.replace(tmp, os.path.join(dlog, name))

        def merge(tr):
            with tr.span("streaming.drain") as s:
                q = run_incremental_merge(self.spark, dlog, snap, ckpt)
            tr.attach_group(s, str(q.runId))
            tr.note("progress", [p["durationMs"].get("triggerExecution", 0) / 1e3 for p in q.recentProgress
                                 if p.get("numInputRows", 0) > 0])
            return q

        def snapshot_rows(_=None):
            return _rows(TB.read(self.spark, snap).select("volume_id", "op", "seq"))

        def compact(tr):
            with tr.span("tables.compact"):
                return TB.compact(self.spark, snap)

        def expect_eq(got, want, what):
            O.expect(got == want, f"{what}: {got} != {want}")

        return [
            Op("ingest", ingest, lambda r: O.check_ingest(r[0], r[1], n_pages, bad), pages),
            Op("write", write, lambda r: expect_eq(r, {"written": len(parts), "skipped": 0}, "write"), ok_pages),
            Op("resume", resume,
               lambda r: expect_eq(r, (2, {"written": 2, "skipped": len(parts) - 2}), "resume"), resumed),
            Op("verify", verify, lambda r: expect_eq(r, [], "verify"), ok_pages),
            Op("merge", merge, lambda _: O.check_snapshot(snapshot_rows(), model),
               sum(len(lines) for _, lines in dlog_batch), prepare=add_dlogs),
            Op("compact", compact, lambda _: O.check_snapshot(snapshot_rows(), model), len(model)),
        ]

    def warmups(self) -> list[Op]:
        """Ingest, merge, ingest on the warm-up batch in their own
        directories: the write-path ops reuse the parquet writer and
        reader that the merge warms, and need earlier ops' output."""
        ops = self._ops(0, self.vol_batches, self.dlogs[-1], self.warm_model, self.invalid[-1],
                        os.path.join(self.run_dir, "warm"))
        return [ops[0], ops[4], ops[0]]

    def cycle(self, c: int) -> list[Op]:
        if c >= self.max_cycles:
            raise RuntimeError("ingest_write ran out of generated delta-log batches")
        self.last_model = self.models[c]
        return self._ops(c, c % self.vol_batches, self.dlogs[c], self.models[c], self.invalid[c],
                         os.path.join(self.run_dir, "main"))

    # -- storage accounting for the traced run ------------------------------

    @property
    def table_dir(self) -> str:
        return os.path.join(self.run_dir, "main", "snapshot")

    def history(self) -> list[dict]:
        from htrc_ingester_spark import tables as TB

        return TB.history(self.table_dir)

    def tombstones(self) -> int:
        return sum(op == "delete" for op, _ in self.last_model.values())

    def live_bytes(self) -> float:
        """On-disk bytes of the latest snapshot scaled to its live share
        (the stored table also keeps one tombstone per deleted key)."""
        latest = os.path.join(self.table_dir, f"v{self.history()[-1]['version']}")
        size = sum(os.path.getsize(os.path.join(latest, n)) for n in os.listdir(latest) if n.endswith(".parquet"))
        return size * (len(self.last_model) - self.tombstones()) / max(1, len(self.last_model))

    def out_dirs(self) -> list[str]:
        main = os.path.join(self.run_dir, "main")
        return [os.path.join(main, d) for d in os.listdir(main) if d.startswith("out")]


WORKLOADS = {w.name: w for w in (Flagship, Iterative, IngestWrite)}
