"""The benchmark workloads and the archive read path.

Each workload writes its seeded inputs (``prepare``), computes reference
answers (``oracle``), runs one warm-up pass, and then runs operations
(``op``) in a closed loop with one client. Every operation is checked;
failed checks are returned as messages, never raised.

Operations drive the engine only through its public calls.
"""

from __future__ import annotations

import contextlib
import os
import shutil
import statistics
import time
from dataclasses import dataclass, field

import numpy as np

import checks
import inputs
import tracing as TR

SIZES = {
    "full": {
        "adm4_polygons": 800, "adm4_max_zoom": 14,
        "docs": 150, "docs_max_zoom": 12,
        "points": 50_000, "zones": 300, "probes": 50, "k": 10,
        "knn_zoom": 14,
        "read_requests": 50_000, "read_warmup": 500, "read_seconds": 2.0,
        "kernel_polygons": 200, "kernel_tiles": 2000, "dir_entries": 500_000,
    },
    "smoke": {
        "adm4_polygons": 30, "adm4_max_zoom": 8,
        "docs": 20, "docs_max_zoom": 8,
        "points": 5000, "zones": 30, "probes": 10, "k": 5,
        "knn_zoom": 12,
        "read_requests": 2000, "read_warmup": 20, "read_seconds": 0.2,
        "kernel_polygons": 10, "kernel_tiles": 50, "dir_entries": 5000,
    },
}


@dataclass
class OpResult:
    seconds: float
    errors: list[str] = field(default_factory=list)


@dataclass
class Ctx:
    work: str
    seed: int
    sizes: dict
    partitions: int
    tracer: TR.Tracer | None = None
    spark: object = None
    trace_run: bool = False


class Workload:
    name = ""
    min_ops = 3

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.sz = ctx.sizes
        # the archive read path, filled in by traced conversion runs
        self.read_facts: dict = {}
        self.read_errors: list[str] = []

    def path(self, name: str) -> str:
        return os.path.join(self.ctx.work, name)

    def prepare(self) -> None:
        """Generate and write the seeded inputs (no Spark)."""

    def oracle(self) -> None:
        """Reference answers for the checks (untimed)."""

    def warmup(self) -> None:
        self.op(-1, traced=False)

    def op(self, i: int, traced: bool) -> OpResult:
        raise NotImplementedError

    def span(self, name: str, i: int, group: str | None = None):
        tr = self.ctx.tracer
        if tr is None:
            return contextlib.nullcontext()
        return tr.span(name, f"{self.name}-{self.ctx.seed}-{i}",
                       f"{group}:{i}" if group else None)

    def layers(self, jobs, stages) -> dict[str, float]:
        """Per-layer metrics of the traced operations."""
        return {}

    def kernel_inputs(self) -> tuple[list[bytes], list[bytes], int]:
        return [], [], 0

    def summary(self) -> dict:
        return {}

    def close(self) -> None:
        """Release what the workload holds open."""


def _medians(rows: list[dict]) -> dict[str, float]:
    keys = {k for r in rows for k in r}
    return {k: statistics.median(r[k] for r in rows if k in r) for k in keys}


def _sample_tiles(path: str, n: int, seed: int) -> list[bytes]:
    """Seeded sample of ``n`` decompressed tile bodies of an archive."""
    from gpq_tiles_spark.kernels.pmtiles import PMTilesReader

    r = PMTilesReader(path)
    try:
        ids = [e.tile_id for e in r.iter_entries()]
        pick = np.random.default_rng([seed, 13]).permutation(len(ids))[:n]
        return [r.get_tile_bytes(ids[j]) for j in sorted(pick.tolist())]
    finally:
        r.close()


# ---------------------------------------------------------------------------
# conversions
# ---------------------------------------------------------------------------

class _Conversion(Workload):
    """An operation turns the input into a complete archive. The warm-up
    archive gets the full check (reopen, tile and feature totals, layer
    name); every later archive must reopen and hash to the same sha256."""

    def __init__(self, ctx: Ctx):
        super().__init__(ctx)
        self.ref_sha: str | None = None
        self.ref_stats: dict | None = None
        self.facts: dict = {}
        self.archive_bytes = 0
        self.features_in = 0
        self.traced: list[tuple[int, dict]] = []
        self.sample: list[bytes] = []

    def convert(self, i: int, out: str, shard: str) -> dict:
        raise NotImplementedError

    def op(self, i: int, traced: bool) -> OpResult:
        out = self.path(f"archive-{i}.pmtiles")
        shard = self.path(f"shards-{i}")
        saved, self.ctx.tracer = self.ctx.tracer, (self.ctx.tracer if traced
                                                   else None)
        os.makedirs(shard, exist_ok=True)
        try:
            t0 = time.perf_counter()
            with self.span(f"op.{self.name}", i):
                stats = self.convert(i, out, shard)
            dt = time.perf_counter() - t0
            return OpResult(dt, self._verify(i, out, stats, traced))
        finally:
            self.ctx.tracer = saved
            shutil.rmtree(shard, ignore_errors=True)
            with contextlib.suppress(FileNotFoundError):
                os.remove(out)

    def _verify(self, i: int, out: str, stats: dict, traced: bool
                ) -> list[str]:
        sha = checks.sha256_file(out)
        if self.ref_sha is None:
            errs, self.facts = checks.check_archive(out, stats)
            self.ref_sha, self.ref_stats = sha, stats
            self.archive_bytes = os.path.getsize(out)
            if self.ctx.trace_run:
                self.sample = _sample_tiles(out, self.sz["kernel_tiles"],
                                            self.ctx.seed)
                shutil.copyfile(out, self.path("reference.pmtiles"))
            return errs
        errs = []
        from gpq_tiles_spark.kernels.pmtiles import PMTilesReader

        try:
            PMTilesReader(out).close()
        except Exception as e:  # noqa: BLE001 - any reopen failure is a wrong output
            errs.append(f"archive does not reopen: {e!r}")
        if sha != self.ref_sha:
            errs.append("archive sha256 differs within one invocation")
        for k in ("tiles", "features", "unique_blobs"):
            if stats.get(k) != self.ref_stats.get(k):
                errs.append(f"stats[{k}] differs within one invocation")
        if traced:
            self.traced.append((i, stats))
        return errs

    def layers(self, jobs, stages) -> dict[str, float]:
        tr = self.ctx.tracer
        rows = []
        for i, stats in self.traced:
            rid = f"{self.name}-{self.ctx.seed}-{i}"
            sp = {s.name: s for s in tr.spans if s.run_id == rid}
            conv = sp["pipeline.convert"]
            row = TR.conversion_layers(conv, jobs, stages, self.features_in,
                                       stats)
            tiles = max(stats["tiles"], 1)
            row["pipeline.sink.unique_blob_ratio"] = (
                self.facts["unique_blobs"] / tiles)
            row["pipeline.sink.directory_bytes"] = float(
                self.facts["directory_bytes"])
            op = sp[f"op.{self.name}"]
            accounted = (row["pipeline.fanout.busy_s"]
                         + row["pipeline.encode.busy_s"]
                         + row["pipeline.sink.archive_s"]
                         + row["pipeline.sink.driver_s"])
            if "extract" in sp:
                ex = TR.extract_layer(sp["extract"], jobs, stages,
                                      self.features_in)
                accounted += ex.pop("_extract.driver_s") + ex["extract.busy_s"]
                row.update(ex)
            row["trace.accounted_share"] = accounted / (op.end - op.start)
            rows.append(row)
        return _medians(rows) if rows else {}

    def summary(self) -> dict:
        return {"archive_sha256": self.ref_sha, "archive_bytes": self.archive_bytes,
                "tiles": (self.ref_stats or {}).get("tiles"),
                "features": (self.ref_stats or {}).get("features"),
                "features_in": self.features_in, **self.read_facts}


class Adm4Sharded(_Conversion):
    """ADM4-like vertex-dense polygons through ``convert_sharded``."""

    name = "adm4_sharded"

    def prepare(self) -> None:
        t = inputs.adm4_polygons(self.sz["adm4_polygons"], self.ctx.seed)
        inputs.write(t, self.path("adm4.parquet"), 256)
        self.features_in = t.num_rows
        self.wkbs = t.column("wkb").to_pylist()[: self.sz["kernel_polygons"]]

    def convert(self, i: int, out: str, shard: str) -> dict:
        from gpq_tiles_spark import pipeline as P
        from gpq_tiles_spark.config import TilerConfig

        cfg = TilerConfig(min_zoom=0, max_zoom=self.sz["adm4_max_zoom"],
                          tile_compression="gzip",
                          shuffle_partitions=self.ctx.partitions)
        df = self.ctx.spark.read.parquet(self.path("adm4.parquet"))
        with self.span("pipeline.convert", i, "convert"):
            return P.convert_sharded(df, out, cfg, shard_dir=shard)

    def kernel_inputs(self):
        return self.wkbs, self.sample, self.sz["dir_entries"]


def _docs_features(spark, path: str):
    """documents -> extracted features with two property tags packed."""
    from pyspark.sql import functions as F

    from gpq_tiles_spark import pipeline as P
    from gpq_tiles_spark.extract import extract_features

    feats = extract_features(spark.read.parquet(path))
    feats = (feats.withColumn("src", F.concat(F.lit("src-"), F.col("doc_id")))
             .withColumn("rank", (F.col("feature_id") % 1000).cast("long")))
    return P.encode_props_column(feats, ["src", "rank"])


class DocsPropsStream(_Conversion):
    """Interleaved documents -> extract -> props -> single-writer convert."""

    name = "docs_props_stream"

    def prepare(self) -> None:
        inputs.write(inputs.documents(self.sz["docs"], self.ctx.seed),
                     self.path("docs.parquet"), 1000)

    def convert(self, i: int, out: str, shard: str) -> dict:
        from gpq_tiles_spark import pipeline as P
        from gpq_tiles_spark.config import TilerConfig

        cfg = TilerConfig(min_zoom=0, max_zoom=self.sz["docs_max_zoom"],
                          tile_compression="gzip", write_properties=True,
                          shuffle_partitions=self.ctx.partitions)
        # materialize extraction first so it does not fuse into the fan-out
        with self.span("extract", i, "extract"):
            feats = _docs_features(self.ctx.spark,
                                   self.path("docs.parquet")).persist()
            self.features_in = feats.count()
        try:
            with self.span("pipeline.convert", i, "convert"):
                return P.convert(feats, out, cfg, progress=self._progress(i))
        finally:
            feats.unpersist()

    def _progress(self, i: int):
        tr = self.ctx.tracer
        if tr is None:
            return None
        open_: dict[str, float] = {}
        rid = f"{self.name}-{self.ctx.seed}-{i}"

        def cb(ev) -> None:
            now = time.time()
            if ev.kind == "start":
                open_[ev.phase] = now
            elif ev.kind == "complete" and ev.phase in open_:
                tr.add(f"progress.{ev.phase}", open_.pop(ev.phase), now, rid)

        return cb

    def warmup(self) -> None:
        super().warmup()
        if self.ctx.trace_run:
            rows = _docs_features(self.ctx.spark,
                                  self.path("docs.parquet")).select("wkb")
            self.wkbs = [bytes(r[0]) for r in
                         rows.limit(self.sz["kernel_polygons"]).collect()]
        else:
            self.wkbs = []

    def layers(self, jobs, stages) -> dict[str, float]:
        out = super().layers(jobs, stages)
        reads, self.read_facts, self.read_errors = read_layer(
            self.path("reference.pmtiles"), self.ctx.seed, self.sz)
        out.update(reads)
        return out

    def kernel_inputs(self):
        return self.wkbs, self.sample, self.sz["dir_entries"]


# ---------------------------------------------------------------------------
# archive reads (traced runs of docs_props_stream)
# ---------------------------------------------------------------------------

def read_layer(path: str, seed: int, sz: dict) -> tuple[dict, dict, list[str]]:
    """The archive read path on a finished archive: one client in a closed
    loop, ``get_tile_bytes`` + ``decode_tile`` through one long-lived
    ``PMTilesReader``. Requests go round-robin over the zooms (seeded order
    in each round), each to a seeded addressed tile at that zoom, so the few
    huge low-zoom tiles carry a real share. Every read must decode to
    layers named ``features``. Returns (per-layer metrics, summary facts,
    errors)."""
    from gpq_tiles_spark.kernels import hilbert as H
    from gpq_tiles_spark.kernels.mvt import decode_tile
    from gpq_tiles_spark.kernels.pmtiles import PMTilesReader

    opens = []
    for _ in range(5):
        t0 = time.perf_counter()
        PMTilesReader(path).close()
        opens.append(time.perf_counter() - t0)
    reader = PMTilesReader(path)
    try:
        entries = list(reader.iter_entries())
        ids = np.concatenate([np.arange(e.tile_id, e.tile_id + max(e.run_length, 1))
                              for e in entries])
        z = H.tile_id_to_zxy_vec(ids)[0]
        by_zoom = [ids[z == zz] for zz in np.unique(z)]
        rng = np.random.default_rng([seed, 17])
        rounds = max(sz["read_requests"] // len(by_zoom), 1)
        za = np.argsort(rng.random((rounds, len(by_zoom))), axis=1).ravel()
        lens = np.array([len(t) for t in by_zoom])
        pick = (rng.random(za.size) * lens[za]).astype(np.int64)
        requests = [int(by_zoom[a][p]) for a, p in zip(za.tolist(), pick.tolist())]

        fetch: list[int] = []
        decode: list[int] = []
        errs: list[str] = []

        def one(tid: int) -> None:
            t0 = time.perf_counter_ns()
            body = reader.get_tile_bytes(tid)
            t1 = time.perf_counter_ns()
            layers = decode_tile(body) if body is not None else []
            t2 = time.perf_counter_ns()
            fetch.append(t1 - t0)
            decode.append(t2 - t1)
            if not layers or any(lay["name"] != "features" for lay in layers):
                errs.append(f"tile {tid} does not decode to layer 'features'")

        i = 0
        t_end = time.perf_counter() + sz["read_seconds"] / 4
        while i < sz["read_warmup"] and time.perf_counter() < t_end:
            one(requests[i % len(requests)])
            i += 1
        fetch.clear()
        decode.clear()
        t_end = time.perf_counter() + sz["read_seconds"]
        while time.perf_counter() < t_end:
            one(requests[i % len(requests)])
            i += 1
        # root entries with run_length 0 point at leaf directories
        leaves = sum(1 for e in reader._root if e.run_length == 0)
        slots = reader._LEAF_CACHE_MAX
    finally:
        reader.close()
    f = np.array(fetch, dtype=np.float64)
    d = np.array(decode, dtype=np.float64)
    lat = f + d
    metrics = {
        "kernels.pmtiles.reader.open_ms": statistics.median(opens) * 1e3,
        "kernels.pmtiles.reader.fetch_p50_us": float(np.median(f)) / 1e3,
        "kernels.pmtiles.reader.decode_p50_us": float(np.median(d)) / 1e3,
        "kernels.pmtiles.reader.decode_share": float(d.sum() / lat.sum()),
        "kernels.pmtiles.reader.read_p50_us": float(np.median(lat)) / 1e3,
        "kernels.pmtiles.reader.read_p99_us": float(np.percentile(lat, 99)) / 1e3,
        "kernels.pmtiles.reader.reads_per_s": len(lat) / (lat.sum() / 1e9),
    }
    facts = {"reads": len(lat), "leaf_directories": leaves,
             "leaf_cache_slots": slots, "leaves_fit_cache": leaves <= slots}
    return metrics, facts, errs[:5]


# ---------------------------------------------------------------------------
# spatial joins
# ---------------------------------------------------------------------------

class SpatialJoins(Workload):
    """Clustered points: point-in-polygon against grid zones, then kNN."""

    name = "spatial_joins"

    def prepare(self) -> None:
        pts = inputs.clustered_points(self.sz["points"], self.ctx.seed)
        inputs.write(pts, self.path("points.parquet"), 1 << 17)
        zones = inputs.zones(self.sz["zones"])
        inputs.write(zones, self.path("zones.parquet"), 1000)
        pr = inputs.probes(self.sz["probes"], self.ctx.seed)
        inputs.write(pr, self.path("probes.parquet"), 1000)
        self.tables = (pts, zones, pr)

    def oracle(self) -> None:
        pts, zones, pr = self.tables
        lng = pts.column("lng").to_numpy()
        lat = pts.column("lat").to_numpy()
        self.want_pip = checks.pip_hits(lng, lat, inputs.zone_boxes(zones))
        self.probe_ids = pr.column("probe_id").to_numpy()
        self.want_knn = checks.knn_topk(lng, lat, pr.column("lng").to_numpy(),
                                        pr.column("lat").to_numpy(),
                                        self.sz["k"])
        self.traced: list[int] = []

    def op(self, i: int, traced: bool) -> OpResult:
        from gpq_tiles_spark.operators import joins as J

        spark = self.ctx.spark
        saved, self.ctx.tracer = self.ctx.tracer, (self.ctx.tracer if traced
                                                   else None)
        try:
            pts = spark.read.parquet(self.path("points.parquet"))
            zones = spark.read.parquet(self.path("zones.parquet"))
            probes = spark.read.parquet(self.path("probes.parquet"))
            t0 = time.perf_counter()
            with self.span(f"op.{self.name}", i):
                with self.span("operators.joins.pip", i, "pip"):
                    hits = J.point_in_polygon_join(pts, zones).count()
                with self.span("operators.joins.knn", i, "knn"):
                    rows = J.knn_join(pts, probes, self.sz["k"],
                                      zoom=self.sz["knn_zoom"]).collect()
            dt = time.perf_counter() - t0
        finally:
            self.ctx.tracer = saved
        errs = []
        if hits != self.want_pip:
            errs.append(f"pip hits {hits} != brute force {self.want_pip}")
        errs += checks.check_knn(rows, self.probe_ids, self.want_knn)
        if traced:
            self.traced.append(i)
        return OpResult(dt, errs)

    def layers(self, jobs, stages) -> dict[str, float]:
        rows = []
        for i in self.traced:
            rid = f"{self.name}-{self.ctx.seed}-{i}"
            sp = {s.name: s for s in self.ctx.tracer.spans if s.run_id == rid}
            row = TR.join_layer("operators.joins.pip",
                                sp["operators.joins.pip"], jobs, stages)
            row.update(TR.join_layer("operators.joins.knn",
                                     sp["operators.joins.knn"], jobs, stages))
            rows.append(row)
        return _medians(rows) if rows else {}

    def summary(self) -> dict:
        return {"pip_hits": self.want_pip, "probes": len(self.probe_ids)}


WORKLOADS = {w.name: w for w in (Adm4Sharded, DocsPropsStream, SpatialJoins)}
