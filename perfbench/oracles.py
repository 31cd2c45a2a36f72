"""Reference answers for every benchmark operation.

Each oracle is computed from the generated inputs alone (numpy, DuckDB
or plain Python), once per seed and outside every timed region. A
``check_*`` function raises ``Mismatch`` when an operation's output
disagrees with its oracle.
"""

from __future__ import annotations

from collections import Counter

import numpy as np
import pandas as pd


class Mismatch(Exception):
    """An operation's output disagrees with its oracle."""


def expect(cond: bool, msg: str) -> None:
    if not cond:
        raise Mismatch(msg)


# ---------------------------------------------------------------------------
# PIP + tiles
# ---------------------------------------------------------------------------


def tile_ids(img: pd.DataFrame, zoom_res: int, n_tiles: int, tmp_dir: str) -> np.ndarray:
    """Tile id of every image through the DuckDB dialect of the
    documented cell and tile SQL definitions."""
    import duckdb

    from htrc_ingester_spark.functions import tile_sql_expr
    from htrc_ingester_spark.geo import h3lite

    tile = tile_sql_expr(h3lite.h3_sql_expr("lon", "lat", zoom_res), n_tiles, dialect="duckdb")
    con = duckdb.connect()
    try:
        con.execute(f"set temp_directory = '{tmp_dir}'")
        con.register("img", img[["lon", "lat"]])
        return con.execute(f"select {tile} as t from img").fetchnumpy()["t"].astype(np.int64)
    finally:
        con.close()


def _in_ring(px: np.ndarray, py: np.ndarray, ring) -> np.ndarray:
    """Even-odd crossing count of a horizontal ray against one ring."""
    r = np.asarray(ring, dtype=np.float64)
    inside = np.zeros(len(px), dtype=bool)
    for (x1, y1), (x2, y2) in zip(r[:-1], r[1:]):
        if y1 == y2:
            continue
        cross = (y1 > py) != (y2 > py)
        xint = x1 + (py - y1) * (x2 - x1) / (y2 - y1)
        inside ^= cross & (px < xint)
    return inside


def pip_members(lon: np.ndarray, lat: np.ndarray, poly: dict) -> np.ndarray:
    """Row indices of the points inside ``poly`` (even-odd over all
    its rings), with a bounding-box prefilter."""
    allr = np.vstack([np.asarray(r, dtype=np.float64) for r in poly["rings"]])
    (x0, y0), (x1, y1) = allr.min(axis=0), allr.max(axis=0)
    idx = np.nonzero((lon >= x0) & (lon <= x1) & (lat >= y0) & (lat <= y1))[0]
    inside = np.zeros(len(idx), dtype=bool)
    for ring in poly["rings"]:
        inside ^= _in_ring(lon[idx], lat[idx], ring)
    return idx[inside]


def poly_tile_counts(lon, lat, tiles, polys: list[dict]) -> Counter:
    """{(poly_id, tile_id): n_images} of the flagship pipeline."""
    out: Counter = Counter()
    for p in polys:
        for t, n in zip(*np.unique(tiles[pip_members(lon, lat, p)], return_counts=True)):
            out[(p["poly_id"], int(t))] = int(n)
    return out


def check_counts(got: Counter, want: Counter, what: str) -> None:
    if got != want:
        diff = sorted(set(got.items()) ^ set(want.items()))[:4]
        raise Mismatch(f"{what}: {len(got)} groups vs {len(want)} expected; first diffs {diff}")


# ---------------------------------------------------------------------------
# kNN
# ---------------------------------------------------------------------------


def _great_circle(lat1, lon1, lat2, lon2):
    """Haversine central angle; rankings do not depend on the radius."""
    la1, lo1, la2, lo2 = map(np.radians, (lat1, lon1, lat2, lon2))
    a = np.sin((la2 - la1) / 2) ** 2 + np.cos(la1) * np.cos(la2) * np.sin((lo2 - lo1) / 2) ** 2
    return 2 * np.arcsin(np.sqrt(np.clip(a, 0.0, 1.0)))


def knn_topk(points: pd.DataFrame, queries: pd.DataFrame) -> dict:
    """Brute force: {query_id: (k smallest angles sorted, lat, lon)}."""
    lon, lat = points["lon"].to_numpy(), points["lat"].to_numpy()
    out = {}
    for q in queries.itertuples(index=False):
        d = _great_circle(q.lat, q.lon, lat, lon)
        out[q.query_id] = (np.sort(np.partition(d, int(q.k))[: int(q.k)]), q.lat, q.lon)
    return out


def check_knn(rows, want: dict, points: pd.DataFrame, pos: dict) -> None:
    """Every query returns ranks 1..k whose true distances equal the k
    smallest (a tie may pick either id). ``pos`` maps image_id to its
    row in ``points``."""
    by_q: dict = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append((int(r["rank"]), int(r["image_id"])))
    expect(set(by_q) == set(want), f"knn: {len(by_q)} queries answered of {len(want)}")
    lon, lat = points["lon"].to_numpy(), points["lat"].to_numpy()
    for qid, ranked in by_q.items():
        best, qlat, qlon = want[qid]
        ranked.sort()
        expect([k for k, _ in ranked] == list(range(1, len(best) + 1)), f"knn {qid}: ranks {ranked}")
        idx = [pos[i] for _, i in ranked]
        got = np.sort(_great_circle(qlat, qlon, lat[idx], lon[idx]))
        expect(np.allclose(got, best, rtol=1e-9, atol=1e-15), f"knn {qid}: not the k nearest")


# ---------------------------------------------------------------------------
# near-duplicate documents
# ---------------------------------------------------------------------------


def _shingles(text: str, k: int = 3) -> set:
    w = text.split(" ")
    return {" ".join(w[i : i + k]) for i in range(len(w) - k + 1)}


def check_lsh(rows, texts: dict, planted: set, threshold: float = 0.5) -> int:
    """Planted-pair recall is 1 and every reported pair's exact
    word-3-gram Jaccard matches and passes the threshold. Returns the
    number of reported pairs."""
    got = {(int(r["id_a"]), int(r["id_b"])): float(r["jaccard"]) for r in rows}
    missed = planted - set(got)
    expect(not missed, f"lsh: {len(missed)} planted pairs missed, e.g. {sorted(missed)[:3]}")
    for (a, b), j in got.items():
        sa, sb = _shingles(texts[a]), _shingles(texts[b])
        exact = round(len(sa & sb) / len(sa | sb), 5)
        expect(abs(exact - j) < 1e-9 and exact >= threshold, f"lsh: pair {(a, b)} jaccard {j} vs {exact}")
    return len(got)


# ---------------------------------------------------------------------------
# ingest + write path
# ---------------------------------------------------------------------------


def check_ingest(ok_rows, bad_rows, n_pages: dict, bad: set) -> None:
    """Closed form: every page validates except the tampered ones."""
    ok = {r["volume_id"]: int(r["n"]) for r in ok_rows}
    want = Counter(n_pages)
    for vid, _ in bad:
        want[vid] -= 1
    expect(ok == dict(want), "ingest: per-volume valid page counts differ")
    got_bad = {(r["volume_id"], r["filename"]) for r in bad_rows}
    expect(got_bad == bad, f"ingest: {len(got_bad)} bad pages vs {len(bad)} tampered")


def lww_model(files: list[tuple[str, list[str]]]) -> dict:
    """Pure-Python last-writer-wins over every delta-log line drained so
    far: {volume_id: (op, seq)} with seq = file numeral << 20 | line."""
    state: dict = {}
    for name, lines in files:
        fnum = int("".join(ch for ch in name if ch.isdigit()))
        for pos, line in enumerate(lines):
            op = "delete" if line.startswith("deleting ") else "upsert"
            leaf = line.rsplit("/", 1)[-1].removesuffix(".zip")
            vid = leaf.replace("+", ":").replace("=", "/").replace(",", ".")
            seq = (fnum << 20) | pos
            if vid not in state or seq > state[vid][1]:
                state[vid] = (op, seq)
    return state


def check_snapshot(rows, model: dict) -> None:
    got = {r["volume_id"]: (r["op"], int(r["seq"])) for r in rows}
    expect(got == model, f"merge: snapshot has {len(got)} keys vs {len(model)} in the model")
