"""Seeded input generator for the benchmark workloads.

Everything here is plain numpy / stdlib: the engine only ever sees the
frames and files these functions return, and the same generator state
always yields the same inputs. Sizes are chosen by the workloads.
"""

from __future__ import annotations

import hashlib
import io
import zipfile

import numpy as np
import pandas as pd

METS_NS = "http://www.loc.gov/METS/"
XLINK_NS = "http://www.w3.org/1999/xlink"


# ---------------------------------------------------------------------------
# image table (flagship, iterative)
# ---------------------------------------------------------------------------


def images(rng: np.random.Generator, n: int, hot_share: float = 0.8, n_hot: int = 6):
    """(image_id, lon, lat) with hot-cell skew: ``hot_share`` of the
    rows cluster around ``n_hot`` centers with Zipf-like weights, the
    rest spread uniformly. Returns (frame, hot centers [(lon, lat)])."""
    centers = np.column_stack(
        [rng.uniform(-150.0, 150.0, n_hot), rng.uniform(-50.0, 60.0, n_hot)]
    )
    w = 1.0 / np.arange(1, n_hot + 1)
    n_h = int(n * hot_share)
    which = rng.choice(n_hot, n_h, p=w / w.sum())
    hot = centers[which] + rng.normal(0.0, 0.08, (n_h, 2))
    uni = np.column_stack(
        [rng.uniform(-179.9, 179.9, n - n_h), rng.uniform(-80.0, 80.0, n - n_h)]
    )
    pts = np.vstack([hot, uni])[rng.permutation(n)]
    df = pd.DataFrame(
        {
            "image_id": np.arange(n, dtype=np.int64) * 7 + 3,
            "lon": np.clip(pts[:, 0], -179.9, 179.9),
            "lat": np.clip(pts[:, 1], -85.0, 85.0),
        }
    )
    return df, [tuple(c) for c in centers]


def _rect(cx, cy, hw, hh):
    return [(cx - hw, cy - hh), (cx + hw, cy - hh), (cx + hw, cy + hh), (cx - hw, cy + hh), (cx - hw, cy - hh)]


def _polygon(rng: np.random.Generator, pid: str, kind: int, cx: float, cy: float) -> dict:
    """A rectangle (kind 0), a rectangle with a rectangular hole (1) or
    a convex n-gon (2), 0.16-0.24 degrees across, centred at (cx, cy)."""
    hw, hh = rng.uniform(0.08, 0.12, 2)
    if kind == 0:
        return {"poly_id": pid, "rings": [_rect(cx, cy, hw, hh)]}
    if kind == 1:
        return {"poly_id": pid, "rings": [_rect(cx, cy, hw, hh), _rect(cx, cy, 0.4 * hw, 0.4 * hh)]}
    k = int(rng.integers(5, 10))
    ang = np.sort(rng.uniform(0.0, 2 * np.pi, k))
    ring = [(cx + hw * np.cos(a), cy + hh * np.sin(a)) for a in ang]
    return {"poly_id": pid, "rings": [ring + ring[:1]]}


def polygon_pool(rng: np.random.Generator, centers, n_sets: int, per_set: int = 2) -> list[list[dict]]:
    """``n_sets`` polygon sets; polygon j of every set sits near hot
    center j, and the shape kind rotates with the set index, so each
    set does a similar amount of work while its cover differs."""
    return [
        [
            _polygon(rng, f"s{s}p{j}", (s + j) % 3, *(np.asarray(centers[j]) + rng.normal(0.0, 0.05, 2)))
            for j in range(per_set)
        ]
        for s in range(n_sets)
    ]


def skewed_draws(rng: np.random.Generator, n_sets: int, n_draws: int, alpha: float = 1.1) -> list[int]:
    """Zipf-like draw sequence over ``n_sets`` pool entries: a few sets
    recur (memo hits), the long tail mostly appears once (misses)."""
    w = 1.0 / np.arange(1, n_sets + 1) ** alpha
    return [int(i) for i in rng.choice(n_sets, n_draws, p=w / w.sum())]


# ---------------------------------------------------------------------------
# iterative: kNN queries and near-duplicate documents
# ---------------------------------------------------------------------------


def knn_queries(rng: np.random.Generator, centers, n: int, dense: bool, k: int = 5) -> pd.DataFrame:
    """Dense queries sit inside hot cells (ring round 1 fills k);
    sparse ones are uniform over the globe, where the background
    density forces many ring-expansion rounds."""
    if dense:
        c = np.asarray(centers)[rng.integers(len(centers), size=n)]
        lon, lat = c[:, 0] + rng.normal(0, 0.05, n), c[:, 1] + rng.normal(0, 0.05, n)
    else:
        lon, lat = rng.uniform(-179.0, 179.0, n), rng.uniform(-75.0, 75.0, n)
    tag = "d" if dense else "s"
    return pd.DataFrame(
        {"query_id": [f"{tag}{i}" for i in range(n)], "lon": lon, "lat": lat, "k": np.full(n, k, dtype=np.int64)}
    )


def documents(rng: np.random.Generator, n_docs: int, dup_share: float = 0.1, vocab: int = 20000):
    """Random-word documents plus planted near-duplicates (a copy with
    one appended word: word-3-gram Jaccard (n-2)/(n-1) >= 0.97).
    Returns (frame (doc_id, text), planted pairs {(id_a, id_b)})."""
    words = np.array([f"w{i}" for i in range(vocab)])
    texts = [" ".join(words[rng.integers(vocab, size=int(rng.integers(40, 90)))]) for _ in range(n_docs)]
    ids = list(range(n_docs))
    planted = set()
    for i in rng.choice(n_docs, int(n_docs * dup_share), replace=False):
        j = len(ids) + 1_000_000
        texts.append(texts[int(i)] + " " + words[int(rng.integers(vocab))])
        ids.append(j)
        planted.add((int(i), j))
    return pd.DataFrame({"doc_id": np.asarray(ids, dtype=np.int64), "text": texts}), planted


# ---------------------------------------------------------------------------
# ingest_write: zip+METS volumes and delta-log batches
# ---------------------------------------------------------------------------


def _page_bytes(rng: np.random.Generator) -> bytes:
    n = int(rng.integers(600, 1400))
    return bytes(rng.integers(97, 123, n, dtype=np.uint8)) + b"\n"


def volumes(rng: np.random.Generator, batch: int, n_vols: int, tamper_share: float = 0.15):
    """One batch of zip+METS volumes. A tampered volume has one page
    whose bytes no longer match its METS checksum (same size).
    Returns (frame (volume_id, content, mets_xml), {volume_id: n_pages},
    {(volume_id, filename)} of tampered pages)."""
    rows, n_pages, bad = [], {}, set()
    for v in range(n_vols):
        vid = f"bench.b{batch}v{v:04d}"
        clean = vid.replace(".", ",")
        n = int(rng.integers(3, 12))
        tamper = int(rng.integers(1, n + 1)) if rng.random() < tamper_share else None
        buf, files, divs = io.BytesIO(), [], []
        with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as z:
            for i in range(1, n + 1):
                data = _page_bytes(rng)
                name = f"{clean}_{i:08d}.txt"
                files.append(
                    f'<METS:file SIZE="{len(data)}" ID="F{i:08d}" MIMETYPE="text/plain" '
                    f'SEQ="{i:08d}" CHECKSUM="{hashlib.md5(data).hexdigest()}" CHECKSUMTYPE="MD5">'
                    f'<METS:FLocat LOCTYPE="OTHER" xlink:href="{name}"/></METS:file>'
                )
                divs.append(
                    f'<METS:div ORDER="{i}" ORDERLABEL="{i}" LABEL="PAGE" TYPE="page">'
                    f'<METS:fptr FILEID="F{i:08d}"/></METS:div>'
                )
                if i == tamper:
                    data = data[:-2] + (b"A" if data[-2:-1] != b"A" else b"B") + b"\n"
                    bad.add((vid, name))
                z.writestr(f"{clean}/{name}", data)
        mets = (
            f'<?xml version="1.0" encoding="UTF-8"?>'
            f'<METS:mets xmlns:METS="{METS_NS}" xmlns:xlink="{XLINK_NS}"><METS:fileSec>'
            f'<METS:fileGrp ID="FG1" USE="ocr">{"".join(files)}</METS:fileGrp></METS:fileSec>'
            f'<METS:structMap TYPE="physical"><METS:div TYPE="volume">{"".join(divs)}</METS:div>'
            f"</METS:structMap></METS:mets>"
        )
        rows.append((vid, buf.getvalue(), mets))
        n_pages[vid] = n
    return pd.DataFrame(rows, columns=["volume_id", "content", "mets_xml"]), n_pages, bad


def delta_batches(rng: np.random.Generator, n_batches: int, lines_per_file: int, n_keys: int,
                  delete_share: float = 0.2, straggler_share: float = 0.25):
    """Delta-log files in drain order. Batch b writes file number
    ``10 * (b + 1)``; with probability ``straggler_share`` it also
    writes a late straggler numbered ``10 * b - 5``, below the file
    batch b - 1 already applied. Each line upserts or deletes
    one of ``n_keys`` volumes. Returns [[(file_name, [line, ...]), ...]
    per batch]."""
    out = []
    for b in range(n_batches):
        files = []
        nums = [10 * (b + 1)]
        if b > 0 and rng.random() < straggler_share:
            nums.append(10 * b - 5)
        for num in nums:
            lines = []
            for _ in range(lines_per_file):
                key = f"bench.k{int(rng.integers(n_keys)):05d}"
                path = f"bench/pairtree_root/{key.replace('.', ',')}"
                if rng.random() < delete_share:
                    lines.append(f"deleting {path}/{key.replace('.', ',')}.zip")
                else:
                    lines.append(f"{path}/{key.replace('.', ',')}.zip")
            files.append((f"dlog-{num:06d}.log", lines))
        out.append(files)
    return out
