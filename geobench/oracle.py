"""Independent references for the output checks: numpy and DuckDB, no Spark.

Each ``*_reference`` function runs once per (seed, sizes) when the inputs
are generated and returns a JSON-able dict; each ``check_*`` function
compares one run's sink output (read back with pyarrow) against it and
returns a list of mismatch strings, empty when the run is correct.
"""

from __future__ import annotations

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

KNN_TOL = 1e-9


def even_odd(px: np.ndarray, py: np.ndarray, rings: list[np.ndarray]) -> np.ndarray:
    """Even-odd point-in-polygon over all rings (outer and holes)."""
    inside = np.zeros(px.shape, dtype=bool)
    for ring in rings:
        x0, y0 = ring[:, 0], ring[:, 1]
        x1, y1 = np.roll(x0, -1), np.roll(y0, -1)
        for a, b, c, d in zip(x0, y0, x1, y1):
            crosses = (b > py) != (d > py)
            with np.errstate(divide="ignore", invalid="ignore"):
                xint = (c - a) * (py - b) / (d - b) + a
            inside ^= crosses & (px < xint)
    return inside


def pip_reference(
    px: np.ndarray, py: np.ndarray, urls: list[str], rings: list[list[np.ndarray]], sample: np.ndarray
) -> dict:
    """Per sampled region: number of pages inside and the smallest url."""
    out = {}
    for rid in sample.tolist():
        outer = rings[rid][0]
        box = (
            (px >= outer[:, 0].min()) & (px <= outer[:, 0].max())
            & (py >= outer[:, 1].min()) & (py <= outer[:, 1].max())
        )
        idx = np.flatnonzero(box)
        hit = idx[even_odd(px[idx], py[idx], rings[rid])]
        out[str(rid)] = {
            "count": int(hit.size),
            "url_min": min(urls[i] for i in hit) if hit.size else None,
        }
    return out


def check_pip(out_path: str, ref: dict, n_regions: int) -> list[str]:
    t = pq.read_table(out_path, columns=["row_id", "page_id", "url"]).to_pydict()
    bad = []
    if len(t["row_id"]) != n_regions:
        bad.append(f"pip: {len(t['row_id'])} output rows, expected {n_regions} (left join)")
    got = {r: (c or 0, u) for r, c, u in zip(t["row_id"], t["page_id"], t["url"])}
    for rid, exp in ref.items():
        cnt, url = got.get(int(rid), (None, None))
        if cnt != exp["count"] or url != exp["url_min"]:
            bad.append(f"pip: region {rid} got ({cnt}, {url}) expected ({exp['count']}, {exp['url_min']})")
    return bad


def knn_reference(qid, qx, qy, dx: np.ndarray, dy: np.ndarray, k: int) -> dict:
    """Brute force over the whole directory for the sampled pages: the k
    nearest by planar distance, ties broken by the smaller rid (the order
    of the ``geojoin_knn`` DuckDB oracle). numpy, not DuckDB: the same
    cross join in DuckDB took ~15 s for 1,000 x 10^5 on a 4-core box,
    numpy takes under a second."""
    rid = np.arange(dx.size)
    out: dict[str, dict] = {}
    for q, x, y in zip(np.asarray(qid).tolist(), qx, qy):
        d = np.sqrt((x - dx) * (x - dx) + (y - dy) * (y - dy))
        kth = np.partition(d, k - 1)[k - 1]
        cand = np.flatnonzero(d <= kth)
        top = cand[np.lexsort((rid[cand], d[cand]))][:k]
        out[str(q)] = {"rid": rid[top].tolist(), "dist": d[top].tolist()}
    return out


def check_knn(out_path: str, ref: dict, n_pages: int, k: int) -> list[str]:
    t = pq.read_table(out_path, columns=["row_id", "neighbor_id", "distance", "rank"])
    bad = []
    if t.num_rows != n_pages * k:
        bad.append(f"knn: {t.num_rows} pairs, expected {n_pages * k}")
    want = pa.array([int(q) for q in ref], pa.int64())
    t = t.filter(pc.is_in(t.column("row_id"), value_set=want)).to_pydict()
    got: dict[int, list] = {}
    for q, r, d, rk in zip(t["row_id"], t["neighbor_id"], t["distance"], t["rank"]):
        got.setdefault(q, []).append((rk, r, d))
    for q, exp in ref.items():
        rows = sorted(got.get(int(q), []))
        rids = [r for _, r, _ in rows]
        dists = np.array([d for _, _, d in rows])
        if rids != exp["rid"] or not np.allclose(dists, exp["dist"], rtol=0, atol=KNN_TOL):
            bad.append(f"knn: page {q} got {rids} expected {exp['rid']}")
    return bad


def pipeline_reference(docs_path: str, tmp_dir: str) -> dict:
    """Distinct geotagged texts and the ids exact dedup must keep (the
    smallest id per distinct text). The geotagged text is the document
    text plus the geo marker ``webpages_from_documents`` appends (its
    documented integer math). Raises when the documents hold no exact
    duplicate, because the pipeline check could then not see a dedup
    fault."""
    con = duckdb.connect()
    try:
        con.execute(f"SET temp_directory = '{tmp_dir}'")
        keepers = con.execute(
            f"""
            SELECT min(doc_id) AS keeper, count(*) AS n
            FROM read_parquet('{docs_path}/*.parquet')
            GROUP BY text || ' geo:'
                   || CAST(((doc_id * 7919) % 1700) * 1000 + 500 - 850000 AS VARCHAR) || ','
                   || CAST(((doc_id * 104729) % 3600) * 1000 + 500 - 1800000 AS VARCHAR)
            ORDER BY keeper
            """
        ).fetchall()
    finally:
        con.close()
    rows = sum(n for _, n in keepers)
    if len(keepers) >= rows:
        raise ValueError(f"pipeline inputs: {rows} documents and no exact duplicate among them")
    return {"distinct_texts": len(keepers), "keepers": [k for k, _ in keepers]}


def check_pipeline(sum_pages: int, kept_ids: list[int], resume_events: list[str] | None, ref: dict) -> list[str]:
    """``resume_events`` is ``None`` for a run that made no re-invocation."""
    bad = []
    if sum_pages != ref["distinct_texts"]:
        bad.append(f"pipeline: sum(n_pages)={sum_pages}, distinct texts={ref['distinct_texts']}")
    kept = sorted(kept_ids)
    if kept != ref["keepers"]:
        wrong = sorted(set(kept) ^ set(ref["keepers"]))
        bad.append(f"pipeline: dedup kept {len(kept)} ids, expected {len(ref['keepers'])} keepers; first differing {wrong[:4]}")
    hits = None if resume_events is None else resume_events.count("resume_hit")
    if hits not in (None, 2):
        bad.append(f"pipeline: resume logged {hits} resume_hit events, expected 2 ({resume_events})")
    return bad


def check_neardup(out_path: str, groups: list[list[int]]) -> list[str]:
    t = pq.read_table(out_path, columns=["doc_id", "cluster_id"]).to_pydict()
    cluster = dict(zip(t["doc_id"], t["cluster_id"]))
    bad = []
    for g in groups:
        cs = {cluster.get(d) for d in g}
        if len(cs) != 1 or None in cs:
            bad.append(f"neardup: exact group {g[:4]} split over clusters {sorted(map(str, cs))[:4]}")
    return bad
