"""The benchmark workloads: seeded inputs, one closed-loop run, its check,
and the per-layer numbers a traced run yields.

Each run calls the library's public functions the way a user would,
writes its result to a parquet sink, and is checked against an
independent reference (``oracle``) computed from the generated inputs.
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
import shutil
import time

import numpy as np
import pyarrow.parquet as pq

from geobench import gen, oracle
from geobench import trace as T
from geobench.metrics import ratio

#: inputs kept in the cache; older sets are deleted when a new one is made
CACHE_KEEP = 8


class Workload:
    """One workload; subclasses set ``name``, ``sizes`` and ``rows_key``."""

    name = ""
    sizes: dict = {}
    rows_key = ""
    #: whether ``run`` follows its timed call with a re-invocation
    resume = False

    def __init__(self, work: str, seed: int):
        self.work = work
        self.seed = seed
        spec = json.dumps([self.name, seed, self.sizes, gen.GEN_VERSION], sort_keys=True)
        key = hashlib.sha256(spec.encode()).hexdigest()[:16]
        self.dir = os.path.join(work, "inputs", f"{self.name}-{seed}-{key}")
        self.out = os.path.join(work, "out", self.name)
        self.ref: dict = {}

    @property
    def rows(self) -> int:
        return self.sizes[self.rows_key]

    def prepare(self) -> None:
        """Generate the inputs and the reference, or load them from cache."""
        ref_path = os.path.join(self.dir, "ref.json")
        if not os.path.exists(ref_path):
            tmp = self.dir + ".tmp"
            shutil.rmtree(tmp, ignore_errors=True)
            os.makedirs(tmp)
            ref = self.generate(tmp)
            with open(os.path.join(tmp, "ref.json"), "w") as f:
                json.dump(ref, f)
            shutil.rmtree(self.dir, ignore_errors=True)
            os.replace(tmp, self.dir)
            self._trim_cache()
        os.utime(self.dir)
        with open(ref_path) as f:
            self.ref = json.load(f)

    def _trim_cache(self) -> None:
        sets = sorted(glob.glob(os.path.join(self.work, "inputs", "*")), key=os.path.getmtime)
        for old in sets[:-CACHE_KEEP]:
            shutil.rmtree(old, ignore_errors=True)

    def generate(self, d: str) -> dict:
        raise NotImplementedError

    def run(self, spark, tr: T.Tracer) -> dict:
        """One closed-loop run; returns at least ``job_s``."""
        raise NotImplementedError

    def check(self, rec: dict) -> list[str]:
        raise NotImplementedError

    def layers(self, rt: dict, rec: dict, tr: T.Tracer) -> dict[str, float]:
        """Workload-specific per-layer numbers of one traced run."""
        return {}

    def probes(self, spark, tr: T.Tracer) -> dict[str, float]:
        """Public-function prefixes timed or counted once per traced process,
        for layers the operator metrics cannot separate."""
        return {}


def _read_pages(spark, path: str, cols: list[str]):
    """Pages through the geotag front-end: extract the ``geo:`` marker,
    keep tagged rows, ``georef`` the coordinates (LatLon from the names)."""
    from pyspark.sql import functions as F

    from geotables_jl_spark import georef
    from geotables_jl_spark.sources.webpages import extract_geotags

    p = extract_geotags(spark.read.parquet(path)).select(*cols, "lat", "lon")
    p = p.filter(F.col("lat").isNotNull() & F.col("lon").isNotNull())
    return georef(p, coords=["lat", "lon"])


def _sample(seed: int, n: int, k: int, salt: int) -> np.ndarray:
    return np.sort(np.random.default_rng([seed, salt]).choice(n, size=min(k, n), replace=False))


def _broadcasts(tr: T.Tracer) -> tuple[float, float]:
    spans = [s for s in tr.spans if s["run"] == tr.run and s["name"] == "spark.broadcast"]
    return sum(s["bytes"] for s in spans), sum(s["s"] for s in spans)


class PipJoin(Workload):
    """Regions x pages intersects join with per-region aggregates: the one
    workload that runs the Arrow point-in-polygon refine. At these sizes
    the refine is the largest share of the Spark task time (traced
    ``geom.py_run_s`` against ``spark.run_s``)."""

    name = "pip_join"
    sizes = {"pages": 20_000, "regions": 500, "sample": 64}
    rows_key = "pages"

    def generate(self, d: str) -> dict:
        pages = gen.pages(self.seed, self.sizes["pages"])
        regions, rings = gen.regions(self.seed, self.sizes["regions"])
        gen.write_multi(pages, os.path.join(d, "pages"))
        gen.write_multi(regions, os.path.join(d, "regions"))
        px, py = gen.page_xy(pages)
        sample = _sample(self.seed, self.sizes["regions"], self.sizes["sample"], 10)
        return oracle.pip_reference(px, py, pages.column("url").to_pylist(), rings, sample)

    def run(self, spark, tr):
        from pyspark.sql import functions as F

        from geotables_jl_spark import geojoin, read_geoparquet

        t0 = time.perf_counter()
        with tr.call("read_geoparquet"):
            regions = read_geoparquet(spark, os.path.join(self.dir, "regions"), crs="LatLon")
        with tr.call("georef"):
            pages = _read_pages(
                spark, os.path.join(self.dir, "pages"),
                ["row_id", F.col("row_id").alias("page_id"), "url"],
            )
        with tr.call("geojoin"):
            out = geojoin(
                regions, pages, pred="intersects", kind="left",
                aggs={"page_id": "count", "url": "min"},
            )
        with tr.call("sink"):
            out.df.write.mode("overwrite").parquet(self.out)
        return {"job_s": time.perf_counter() - t0}

    def check(self, rec):
        return oracle.check_pip(self.out, self.ref, self.sizes["regions"])

    def layers(self, rt, rec, tr):
        wl = self.name
        counts = pq.read_table(self.out, columns=["page_id"]).column("page_id").to_pylist()
        match = sum(c or 0 for c in counts)
        py_all = [(e, n) for e in rt["execs"] for n in T.python_nodes([e])]
        # the WKB decode is the Python pass with no join below it; the
        # refine's input is the cell join's candidate stream
        decode = T.require([n for _, n in py_all if not T.has_join_below(n)], "WKB decode Python node")
        refine = T.require([(e, n) for e, n in py_all if T.has_join_below(n)], "refine Python node")
        cand = sum(T.input_rows(e, n) for e, n in refine)
        join_execs = T.by_desc(rt["execs"], wl, "geojoin") + T.by_desc(rt["execs"], wl, "sink")
        b_bytes, b_s = T.broadcast_layer(join_execs)
        pb_bytes, pb_s = _broadcasts(tr)
        return {
            "sources.decode_s": T.total(decode, T.PY_RUN),
            "geojoin.plan_s": tr.span_s("geojoin"),
            "geojoin.plan_jobs": float(len(T.by_desc(rt["jobs"], wl, "geojoin"))),
            "geojoin.cand_rows": cand,
            "geojoin.match_rows": float(match),
            "geojoin.refine_yield": ratio(match, cand)["value"],
            "geojoin.bcast_mb": (b_bytes + pb_bytes) / T.MiB,
            "geojoin.bcast_s": b_s + pb_s,
            **T.python_layer([n for _, n in refine], "geom"),
        }


class KnnJoin(Workload):
    """Pages x directory planar kNN (pair form): one map stage around the
    Arrow kNN kernel against a broadcast index, almost no shuffle."""

    name = "knn_join"
    sizes = {"pages": 30_000, "directory": 100_000, "sample": 1_000, "k": 10}
    rows_key = "pages"

    def generate(self, d: str) -> dict:
        pages = gen.pages(self.seed, self.sizes["pages"])
        directory = gen.directory(self.seed, self.sizes["directory"])
        gen.write_multi(pages, os.path.join(d, "pages"))
        gen.write_multi(directory, os.path.join(d, "directory"))
        px, py = gen.page_xy(pages)
        q = _sample(self.seed, self.sizes["pages"], self.sizes["sample"], 11)
        dx = directory.column("lon").to_numpy()
        dy = directory.column("lat").to_numpy()
        return oracle.knn_reference(q, px[q], py[q], dx, dy, self.sizes["k"])

    def run(self, spark, tr):
        from geotables_jl_spark import georef, knn_join

        t0 = time.perf_counter()
        with tr.call("georef"):
            pages = _read_pages(spark, os.path.join(self.dir, "pages"), ["row_id"])
            directory = georef(
                spark.read.parquet(os.path.join(self.dir, "directory")), coords=["lat", "lon"]
            )
        with tr.call("knn_join"):
            out = knn_join(pages, directory, k=self.sizes["k"])
        with tr.call("sink"):
            out.write.mode("overwrite").parquet(self.out)
        return {"job_s": time.perf_counter() - t0}

    def check(self, rec):
        return oracle.check_knn(self.out, self.ref, self.sizes["pages"], self.sizes["k"])

    def layers(self, rt, rec, tr):
        wl = self.name
        join_execs = T.by_desc(rt["execs"], wl, "knn_join") + T.by_desc(rt["execs"], wl, "sink")
        b_bytes, b_s = T.broadcast_layer(join_execs)
        pb_bytes, pb_s = _broadcasts(tr)
        return {
            "geojoin.plan_s": tr.span_s("knn_join"),
            "geojoin.plan_jobs": float(len(T.by_desc(rt["jobs"], wl, "knn_join"))),
            "geojoin.bcast_mb": (b_bytes + pb_bytes) / T.MiB,
            "geojoin.bcast_s": b_s + pb_s,
            **T.python_layer(
                T.require(T.python_nodes(T.by_desc(rt["execs"], wl, "sink")), "kNN kernel Python node"),
                "geom",
            ),
        }


STAGES = ("extract", "dedup", "stats", "tiles")


class GeotagPipeline(Workload):
    """The checkpointed north-star pipeline, cold into a fresh root and
    then re-invoked with ``min_quality=0.3`` (resumes two stages)."""

    name = "geotag_pipeline"
    sizes = {"documents": 30_000}
    rows_key = "documents"
    #: re-invoke after the cold run; the runner turns this off in the timed
    #: runs of an untraced process, whose ``job_s`` is the cold run alone
    resume = True

    def generate(self, d: str) -> dict:
        docs, _ = gen.documents(self.seed, self.sizes["documents"])
        path = os.path.join(d, "sf", "documents.parquet")
        gen.write_multi(docs, path)
        return oracle.pipeline_reference(path, os.path.join(self.work, "tmp"))

    def run(self, spark, tr):
        from geotables_jl_spark import geotag_pipeline

        root = os.path.join(self.work, "ckpt", self.name)
        shutil.rmtree(root, ignore_errors=True)
        sf = os.path.join(self.dir, "sf")
        t0 = time.perf_counter()
        with tr.call("pipeline_cold"):
            geotag_pipeline(spark, root, sf)
        job_s = time.perf_counter() - t0
        # read the cold outputs now: the resume rewrites stats/ and tiles/
        # in place (their data and manifests)
        run_dir = os.path.join(root, "geotag")
        manifests = {}
        for s in STAGES:
            with open(os.path.join(run_dir, s, "_MANIFEST.json")) as f:
                manifests[s] = json.load(f)
        tiles = pq.read_table(os.path.join(run_dir, "tiles", "data"), columns=["n_pages"])
        kept = pq.read_table(os.path.join(run_dir, "dedup", "data"), columns=["row_id"])
        rec = {
            "job_s": job_s,
            "sum_pages": sum(v or 0 for v in tiles.column("n_pages").to_pylist()),
            "kept_ids": kept.column("row_id").to_pylist(),
            "events": None,
            "manifests": manifests,
        }
        if not self.resume:
            return rec
        with open(os.path.join(run_dir, "metrics.jsonl")) as f:
            n_events = len(f.readlines())
        t1 = time.perf_counter()
        with tr.call("pipeline_resume"):
            geotag_pipeline(spark, root, sf, min_quality=0.3)
        resume_s = time.perf_counter() - t1
        with open(os.path.join(run_dir, "metrics.jsonl")) as f:
            rec["events"] = [json.loads(line)["event"] for line in f.readlines()[n_events:]]
        rec["resume_s"] = resume_s
        return rec

    def check(self, rec):
        return oracle.check_pipeline(rec["sum_pages"], rec["kept_ids"], rec["events"], self.ref)

    def layers(self, rt, rec, tr):
        cold = T.by_desc(rt["execs"], self.name, "pipeline_cold")
        writes = {}
        for e in cold:
            if e["write_path"]:
                stage = os.path.basename(os.path.dirname(e["write_path"].rstrip("/")))
                writes[stage] = e
        missing = [s for s in STAGES if s not in writes]
        if missing:  # the write-path parse failed; do not report its layers as 0
            raise RuntimeError(f"trace: no write command found for stages {missing} of the cold run")
        wnodes = [
            n for e in writes.values() for n in e["nodes"]
            if n["name"].startswith("Execute InsertIntoHadoopFsRelationCommand")
        ]
        w_bytes = T.total(wnodes, "written output")
        w_rows = T.total(wnodes, T.ROWS)
        dedup_x = T.require([n for n in writes["dedup"]["nodes"] if n["name"] == "Exchange"], "dedup exchange")
        stats_py = T.require(T.python_nodes([writes["stats"]]), "text-stats Python node")
        return {
            "textstats.py_run_s": T.total(stats_py, T.PY_RUN),
            "dedup.exact_shuffle_mb": T.total(dedup_x, "shuffle bytes written") / T.MiB,
            **{f"checkpoint.stage_s.{s}": float(rec["manifests"][s]["wall_sec"]) for s in STAGES},
            "checkpoint.write_mb": w_bytes / T.MiB,
            "checkpoint.bytes_per_row": ratio(w_bytes, w_rows)["value"],
            "checkpoint.jobs": float(len(T.by_desc(rt["jobs"], self.name, "pipeline_cold"))),
            "checkpoint.resume_hits": float(rec["events"].count("resume_hit")),
        }


#: dedup_clusters' documented defaults, repeated for the prefix probes
LSH = {"threshold": 0.8, "num_perm": 64, "bands": 32, "shingle_n": 3, "pair_mode": "star"}


class NearDup(Workload):
    """MinHash-LSH near-duplicate clusters over documents with planted
    exact and one-word-edit duplicates: band-bucket shuffle plus the
    driver-side connected components."""

    name = "neardup"
    sizes = {"documents": 10_000}
    rows_key = "documents"

    def generate(self, d: str) -> dict:
        docs, groups = gen.documents(self.seed, self.sizes["documents"])
        gen.write_multi(docs, os.path.join(d, "docs"))
        return {"groups": groups}

    def run(self, spark, tr):
        from geotables_jl_spark import dedup_clusters

        t0 = time.perf_counter()
        with tr.call("dedup_clusters"):
            docs = spark.read.parquet(os.path.join(self.dir, "docs"))
            clusters = dedup_clusters(docs, "doc_id", "text")
        with tr.call("sink"):
            clusters.write.mode("overwrite").parquet(self.out)
        return {"job_s": time.perf_counter() - t0}

    def check(self, rec):
        return oracle.check_neardup(self.out, self.ref["groups"])

    def layers(self, rt, rec, tr):
        call = T.by_desc(rt["execs"], self.name, "dedup_clusters")
        sig = T.require([n for n in T.python_nodes(call) if n["name"].startswith("MapIn")], "signature Python node")
        return {"dedup.call_s": tr.span_s("dedup_clusters"), "dedup.sig_py_s": T.total(sig, T.PY_RUN)}

    def probes(self, spark, tr):
        from geotables_jl_spark.operators.dedup import minhash_lsh_pairs, minhash_signatures_arrow

        docs = spark.read.parquet(os.path.join(self.dir, "docs"))
        sig = minhash_signatures_arrow(
            docs, "doc_id", "text", num_perm=LSH["num_perm"], shingle_n=LSH["shingle_n"]
        )
        counts = {}
        for verify in (False, True):
            with tr.call(f"probe_lsh_verify_{verify}"):
                counts[verify] = minhash_lsh_pairs(
                    docs, "doc_id", "text", verify=verify, signatures=sig, **LSH
                ).count()
        return {
            "dedup.cand_pairs": float(counts[False]),
            "dedup.edges": float(counts[True]),
            "dedup.lsh_yield": ratio(counts[True], counts[False])["value"],
        }


WORKLOADS = {w.name: w for w in (PipJoin, KnnJoin, GeotagPipeline, NearDup)}
