"""Seeded input generator for the geobench workloads (numpy + pyarrow only).

Every table is a function of ``(seed, size)`` and nothing else. The
workloads write them as multi-file parquet (``write_multi``) into an input
cache keyed by seed and sizes, so generation never lands inside a timed
set-up.

Tables
- ``pages``: the north-star web-page shape ``(url, warc_ts, html, text,
  lang, row_id)``. ``text`` ends in a ``geo:<ilat>,<ilon>`` marker in 1e-4
  degree integers (the format ``sources.webpages.extract_geotags`` parses).
  About 80% of pages sit around 64 "city" centres with Zipf-like weights
  and the rest are uniform, so cells and tasks are skewed.
- ``regions``: GeoParquet (WKB ``geometry`` column + ``geo`` metadata) of
  star polygons with 16-48 vertices; every 5th has a hole.
- ``directory``: kNN target points ``(row_id, lat, lon)``, half clustered.
- ``documents``: ``(doc_id, text, lang, source, n_chars)`` like the sf
  fixtures, drawn from the fixture vocabulary, with ~10% exact copies and
  ~10% one-word edits planted (see :func:`documents`); doc ids are unique
  but not contiguous.
"""

from __future__ import annotations

import json
import os
import struct

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: the 31-word vocabulary of the sf fixture ``documents.parquet``
VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the value "
    "vector window"
).split()
#: language mix of the sf fixture documents
LANGS = ("en", "zh", "es", "fr", "de")
LANG_P = (0.412, 0.151, 0.149, 0.148, 0.140)
N_CITIES = 64
N_FILES = 8
#: ``webpages_from_documents`` derives the geo marker from ``doc_id`` mod
#: 1700 (lat) and mod 3600 (lon); two doc ids get the same marker iff they
#: are congruent mod lcm(1700, 3600). Exact copies get doc ids congruent
#: to their original's, so they stay exact duplicates after the marker is
#: appended.
MARKER_PERIOD = 61_200
#: part of the input cache key: bump whenever generated data changes
GEN_VERSION = 3


def write_multi(table: pa.Table, out_dir: str, n_files: int = N_FILES) -> None:
    os.makedirs(out_dir, exist_ok=True)
    n = table.num_rows
    bounds = np.linspace(0, n, n_files + 1).astype(int)
    for i in range(n_files):
        part = table.slice(bounds[i], bounds[i + 1] - bounds[i])
        pq.write_table(part, os.path.join(out_dir, f"part-{i:05d}.parquet"))


def _words(rng: np.random.Generator, lo: int, hi: int, n: int) -> list[list[str]]:
    lens = rng.integers(lo, hi + 1, size=n)
    idx = rng.integers(0, len(VOCAB), size=int(lens.sum()))
    vocab = np.asarray(VOCAB, dtype=object)
    words = vocab[idx]
    ends = np.cumsum(lens)
    return [list(words[e - k : e]) for e, k in zip(ends, lens)]


def cities(seed: int) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """(lon, lat, sigma_deg, weight) of the city centres for ``seed``.

    Only the positions are random. Weights (Zipf-like) and spreads are
    fixed by rank, so the join work each seed produces stays about the
    same and timings compare across seeds."""
    rng = np.random.default_rng([seed, 1])
    lon = rng.uniform(-170.0, 170.0, N_CITIES)
    lat = rng.uniform(-55.0, 65.0, N_CITIES)
    rank = np.arange(N_CITIES)
    sigma = 0.6 + 0.8 * (rank % 4) / 3.0
    w = 1.0 / (rank + 1.0) ** 0.8
    return lon, lat, sigma, w / w.sum()


def _clustered_points(rng, n: int, frac: float, seed: int) -> tuple[np.ndarray, np.ndarray]:
    clon, clat, csig, cw = cities(seed)
    lon = rng.uniform(-180.0, 180.0, n)
    lat = rng.uniform(-85.0, 85.0, n)
    near = rng.random(n) < frac
    c = rng.choice(N_CITIES, size=int(near.sum()), p=cw)
    lon[near] = clon[c] + rng.normal(0.0, 1.0, c.size) * csig[c]
    lat[near] = clat[c] + rng.normal(0.0, 1.0, c.size) * csig[c]
    lon = (lon + 180.0) % 360.0 - 180.0
    lat = np.clip(lat, -89.0, 89.0)
    return lon, lat


def pages(seed: int, n: int) -> pa.Table:
    rng = np.random.default_rng([seed, 2])
    lon, lat = _clustered_points(rng, n, 0.8, seed)
    ilat = np.rint(lat * 1e4).astype(np.int64)
    ilon = np.rint(lon * 1e4).astype(np.int64)
    row_id = np.arange(n, dtype=np.int64)
    words = _words(rng, 5, 20, n)
    text = [f"{' '.join(w)} geo:{a},{b}" for w, a, b in zip(words, ilat.tolist(), ilon.tolist())]
    html = [f"<html><body>{t}</body></html>".encode() for t in text]
    url = [f"https://site{i % 97}.example.com/p/{i}" for i in row_id.tolist()]
    ts = 1_704_067_200 + rng.integers(0, 31_536_000, n)
    lang = np.asarray(LANGS, dtype=object)[rng.choice(len(LANGS), size=n, p=LANG_P)]
    return pa.table(
        {
            "url": pa.array(url, pa.string()),
            "warc_ts": pa.array(ts * 1_000_000, pa.timestamp("us", tz="UTC")),
            "html": pa.array(html, pa.binary()),
            "text": pa.array(text, pa.string()),
            "lang": pa.array(lang.tolist(), pa.string()),
            "row_id": pa.array(row_id),
        }
    )


def page_xy(tbl: pa.Table) -> tuple[np.ndarray, np.ndarray]:
    """Page (lon, lat) exactly as ``extract_geotags`` derives them:
    the marker integers divided by 1e4 in float64."""
    text = tbl.column("text").to_pylist()
    tail = [t[t.rindex("geo:") + 4 :].split(",") for t in text]
    ilat = np.array([int(a) for a, _ in tail], dtype=np.int64)
    ilon = np.array([int(b) for _, b in tail], dtype=np.int64)
    return ilon / 10000.0, ilat / 10000.0


def star_rings(seed: int, n: int) -> list[list[np.ndarray]]:
    """Star polygons: (k, 2) vertex arrays, outer ring CCW, hole CW.

    Vertices sit at evenly spaced angles (small jitter) with radii in
    [0.45, 1] x R, so every polygon is star-shaped around its centre and
    simple. A hole of radius 0.3 x the smallest vertex radius lies inside
    the disc the outer ring is guaranteed to contain. Vertex counts, sizes
    and the share of regions per city are fixed by the region index; only
    positions are random, so the refine work stays about the same across
    seeds. Even regions sit around a city, odd ones anywhere."""
    rng = np.random.default_rng([seed, 3])
    clon, clat, csig, cw = cities(seed)
    # systematic sampling: city c gets a share of the city regions ~ its weight
    half = (n + 1) // 2
    city_of = np.searchsorted(np.cumsum(cw), (np.arange(half) + 0.5) / half)
    out = []
    for i in range(n):
        if i % 2 == 0:
            c = min(int(city_of[i // 2]), N_CITIES - 1)
            cx = clon[c] + rng.normal() * csig[c]
            cy = clat[c] + rng.normal() * csig[c]
        else:
            cx, cy = rng.uniform(-175.0, 175.0), rng.uniform(-80.0, 80.0)
        cx = float(np.clip(cx, -175.0, 175.0))
        cy = float(np.clip(cy, -80.0, 80.0))
        k = 16 + (i * 7) % 33
        big = 0.3 + 1.7 * ((i * 0.6180339887) % 1.0)
        ang = (np.arange(k) + rng.uniform(-0.2, 0.2, k)) * (2 * np.pi / k)
        rad = big * rng.uniform(0.45, 1.0, k)
        outer = np.column_stack([cx + rad * np.cos(ang), cy + rad * np.sin(ang)])
        rings = [outer]
        if i % 5 == 4:
            hk = 12
            ha = -np.arange(hk) * (2 * np.pi / hk)  # clockwise
            hr = 0.3 * rad.min()
            rings.append(np.column_stack([cx + hr * np.cos(ha), cy + hr * np.sin(ha)]))
        out.append(rings)
    return out


def polygon_wkb(rings: list[np.ndarray]) -> bytes:
    """Little-endian ISO WKB Polygon; each ring closed on write."""
    parts = [b"\x01", struct.pack("<II", 3, len(rings))]
    for r in rings:
        closed = np.vstack([r, r[:1]]).astype("<f8")
        parts.append(struct.pack("<I", len(closed)))
        parts.append(closed.tobytes())
    return b"".join(parts)


def regions(seed: int, n: int) -> tuple[pa.Table, list[list[np.ndarray]]]:
    rings = star_rings(seed, n)
    geo = {
        "version": "1.0.0",
        "primary_column": "geometry",
        "columns": {"geometry": {"encoding": "WKB", "geometry_types": ["Polygon"]}},
    }
    tbl = pa.table(
        {
            "row_id": pa.array(np.arange(n, dtype=np.int64)),
            "geometry": pa.array([polygon_wkb(r) for r in rings], pa.binary()),
        }
    )
    return tbl.replace_schema_metadata({"geo": json.dumps(geo)}), rings


def directory(seed: int, n: int) -> pa.Table:
    rng = np.random.default_rng([seed, 4])
    lon, lat = _clustered_points(rng, n, 0.5, seed)
    return pa.table(
        {
            "row_id": pa.array(np.arange(n, dtype=np.int64)),
            "lat": pa.array(lat),
            "lon": pa.array(lon),
        }
    )


def documents(seed: int, n: int) -> tuple[pa.Table, list[list[int]]]:
    """Documents with planted duplicates.

    ~10% of rows are exact copies of an earlier row's text and another
    ~10% are one-word edits of an earlier row. Originals and edits take
    doc id = row index. An exact copy takes a doc id above every row
    index that is congruent to its original's id mod ``MARKER_PERIOD``,
    so the copy gets the same geo marker from ``webpages_from_documents``
    and stays an exact duplicate in the pipeline too. Doc ids are
    therefore unique but not contiguous. Returns the table and the
    exact-duplicate groups: every set of two or more doc ids that share
    one text, in row order."""
    rng = np.random.default_rng([seed, 5])
    words = _words(rng, 10, 100, n)
    kind = rng.random(n)
    doc_id = np.arange(n, dtype=np.int64)
    root = np.arange(n, dtype=np.int64)  # the original an exact copy repeats
    high = n // MARKER_PERIOD + 1  # copy ids start at high * MARKER_PERIOD >= n
    copies = 0
    for j in range(1, n):
        if kind[j] < 0.10:
            src = int(rng.integers(0, j))
            words[j] = list(words[src])
            root[j] = root[src]
            # unique: each copy has its own multiple of the period
            doc_id[j] = (high + copies) * MARKER_PERIOD + root[j] % MARKER_PERIOD
            copies += 1
        elif kind[j] < 0.20:
            w = list(words[int(rng.integers(0, j))])
            pos = int(rng.integers(0, len(w)))
            w[pos] = _other_word(rng, w[pos])
            words[j] = w
    text = [" ".join(w) for w in words]
    lang = np.asarray(LANGS, dtype=object)[rng.choice(len(LANGS), size=n, p=LANG_P)]
    tbl = pa.table(
        {
            "doc_id": pa.array(doc_id),
            "text": pa.array(text, pa.string()),
            "lang": pa.array(lang.tolist(), pa.string()),
            "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
            "n_chars": pa.array([len(t) for t in text], pa.int64()),
        }
    )
    by_text: dict[str, list[int]] = {}
    for i, t in zip(doc_id.tolist(), text):
        by_text.setdefault(t, []).append(i)
    return tbl, [g for g in by_text.values() if len(g) > 1]


def _other_word(rng: np.random.Generator, word: str) -> str:
    i = int(rng.integers(0, len(VOCAB) - 1))
    return VOCAB[i + (i >= VOCAB.index(word))]
