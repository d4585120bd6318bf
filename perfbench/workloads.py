"""The four benchmark workloads and their output checks.

Every workload follows the same protocol, driven by ``run.py``:

- ``make_inputs(dir)`` generates the workload's inputs from its seed
  (set-up, timed as ``setup.inputs_s``);
- ``build(session)`` builds the query plan in a fresh session, so the
  PIP cover and kNN candidate relations, which the package caches per
  session, are rebuilt every time (set-up, timed as
  ``setup.plan_build_s``);
- ``iterate()`` runs one measured unit of work and returns the
  all-column checksum of its output;
- ``check()`` compares the output with an independent oracle;
- ``trace(tracer)`` times every layer of the chain from outside the
  package and returns the per-layer metrics by name.

Spark is lazy, so the span around a layer is the materialisation of the
chain up to and including that call, sunk by :func:`checksum` (which
reads every column); a layer's self time is its span minus the span of
the previous prefix.
"""

from __future__ import annotations

import contextlib
import glob
import io
import json
import os
import statistics
import time

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ib_tool_spark import checkpoint, codecs, delineate, ops, pipeline, synth
from ib_tool_spark.cells import encode_col, parent_col

from spans import Tracer

CELL_RES = pipeline.CELL_RES
TILE_RES = pipeline.TILE_RES
KNN_CUTOFF = 70.0  # the reference's GenerateNearTable CLOSEST cutoff (m)
# seed s owns the ids [lo, lo + n), lo = (s mod ID_SLOTS) * ID_STRIDE: ids
# stay below 10^12, so every image_id is the 16-character img_%012d the
# SQL oracle's hash lanes assume
ID_STRIDE = 10_000_000
ID_SLOTS = 99_999
N_POINTS = 4_000_000  # id-only images for geo_join / tile_sink
N_PAYLOAD = 20_000  # image+caption payload rows for validated_decode
ORACLE_SLICE = 2_000  # ids checked against the flagship SQL oracle
PER_CLUSTER = 20  # delineation: buildings per scene cluster
TRACE_REPS = 2  # traced series per workload; per-layer values are medians
KERNEL_SAMPLE = 600  # payload rows timed by the single-process kernel costs


def checksum_df(df: DataFrame) -> DataFrame:
    """All-column sink: (rows, xor of row hashes, sum of their low 32
    bits).  Order-independent, so it repeats across partitionings, and
    it reads every column, so no layer's output is pruned away."""
    h = F.xxhash64(*[F.col(c) for c in df.columns])
    return df.agg(F.count(F.lit(1)), F.bit_xor(h), F.sum(h.bitwiseAND(F.lit(0xFFFFFFFF))))


def checksum(df: DataFrame) -> tuple[int, int, int]:
    r = checksum_df(df).first()
    return int(r[0]), int(r[1] or 0), int(r[2] or 0)


def explain(df: DataFrame) -> str:
    """The formatted physical plan (``DataFrame.explain`` prints it)."""
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode="formatted")
    return buf.getvalue()


def _median(xs) -> float:
    return float(statistics.median(xs))


def _id_range(lo: int, hi: int):
    return (F.col("image_id") >= f"img_{lo:012d}") & (F.col("image_id") < f"img_{hi:012d}")


def footprint_centers(scene) -> pd.DataFrame:
    """kNN targets: the scene's building-footprint centroids."""
    b = synth.buildings_pdf(scene)
    return pd.DataFrame(
        {"center_id": b["bid"].astype(np.int64), "cx": b["cx"], "cy": b["cy"]}
    )


def write_ids(spark, lo: int, n: int, path: str) -> None:
    """Id-only image table: ``img_%012d`` for ids [lo, lo + n)."""
    parts = 2 * spark.sparkContext.defaultParallelism
    spark.range(lo, lo + n, 1, parts).select(
        F.format_string("img_%012d", F.col("id")).alias("image_id")
    ).write.parquet(path)


def write_payload(spark, lo: int, n: int, path: str) -> None:
    """Image+caption payload rows ``synth.make_row(i)`` for ids
    [lo, lo + n), in the layout ``synth.ensure_images_table`` writes
    (one file per coarse cell, 8 MB row groups)."""

    def gen(batches):
        for pdf in batches:
            yield pd.DataFrame([synth.make_row(int(i)) for i in pdf["id"]])

    x, y = synth.geocode_cols(F.col("image_id"))
    parts = 2 * spark.sparkContext.defaultParallelism
    (
        spark.range(lo, lo + n, 1, parts)
        .mapInPandas(gen, synth.IMAGES_SCHEMA)
        .withColumn("pcell", parent_col(encode_col(x, y, CELL_RES), CELL_RES, 3))
        .repartition(64, "pcell")
        .write.option("parquet.block.size", str(8 * 1024 * 1024))
        .partitionBy("pcell")
        .parquet(path)
    )


def point_chain(spark, path: str) -> list[tuple[str, DataFrame]]:
    """geocode → cell → PIP (scene settlements) → tile → kNN (footprint
    centroids), as (layer, prefix DataFrame) pairs."""
    scene = synth.default_scene()
    geo = ops.with_geocode(spark.read.parquet(path), scene)
    cell = ops.with_cell(geo, CELL_RES)
    pip = ops.pip_join(cell, scene.polygons, CELL_RES)
    tile = ops.tile_assign(pip, CELL_RES, TILE_RES)
    knn = ops.knn_assign(tile, footprint_centers(scene), KNN_CUTOFF)
    return [
        ("ops.with_geocode", geo),
        ("ops.with_cell", cell),
        ("ops.pip_join", pip),
        ("ops.tile_assign", tile),
        ("ops.knn_assign", knn),
    ]


def oracle_rows(lo: int, n: int) -> set[tuple]:
    """(image_id, cell, tile, sid) of the ids [lo, lo + n) from the
    repository's flagship SQL oracle, evaluated by DuckDB."""
    import duckdb

    import __spark_entry__ as entry

    sql = entry._flagship_oracle_sql(n)
    ids_from = f"range({n}) t(i)"
    if sql.count(ids_from) != 1:
        raise RuntimeError("flagship oracle no longer selects its ids as range(n)")
    sql = sql.replace(ids_from, f"range({lo}, {lo + n}) t(i)")
    with duckdb.connect() as con:
        return {tuple(r) for r in con.sql(sql).fetchall()}


def knn_expected(pip_rows: set[tuple], centers: pd.DataFrame) -> set[tuple]:
    """Brute-force nearest footprint within the cutoff for PIP rows
    (image_id, cell, tile, sid): the same IEEE operations as the
    engine's (x-cx)*(x-cx) + (y-cy)*(y-cy), with ties to the lower id."""
    rows = sorted(pip_rows)
    if not rows:
        return set()
    ids = [r[0] for r in rows]
    x, y = synth.geocode_np(ids, synth.default_scene())
    cx = centers["cx"].to_numpy(np.float64)
    cy = centers["cy"].to_numpy(np.float64)
    cid = centers["center_id"].to_numpy(np.int64)
    order = np.argsort(cid, kind="stable")
    cx, cy, cid = cx[order], cy[order], cid[order]
    out = set()
    for s in range(0, len(rows), 256):
        xs, ys = x[s : s + 256, None], y[s : s + 256, None]
        dx = xs - cx[None, :]
        dy = ys - cy[None, :]
        d2 = dx * dx + dy * dy
        best = np.argmin(d2, axis=1)  # first minimum = lowest center_id
        for j, b in enumerate(best):
            d = d2[j, b]
            if d <= KNN_CUTOFF**2:
                r = rows[s + j]
                out.add((r[0], r[3], float(xs[j, 0]), float(ys[j, 0]), int(cid[b]), float(np.sqrt(d))))
    return out


def point_check(chain: list[tuple[str, DataFrame]], lo: int) -> dict[str, bool]:
    """PIP+tile rows of an id slice equal the SQL oracle's, and kNN rows
    equal a brute-force nearest search over the same slice."""
    layers = dict(chain)
    sl = _id_range(lo, lo + ORACLE_SLICE)
    want = oracle_rows(lo, ORACLE_SLICE)
    got = {
        tuple(r)
        for r in layers["ops.tile_assign"].filter(sl).select("image_id", "cell", "tile", "sid").collect()
    }
    got_knn = {
        tuple(r)
        for r in layers["ops.knn_assign"]
        .filter(sl)
        .select("image_id", "sid", "x", "y", "nearest_id", "nearest_dist")
        .collect()
    }
    want_knn = knn_expected(want, footprint_centers(synth.default_scene()))
    return {
        "pip_tile_matches_sql_oracle": bool(want) and got == want,
        "knn_matches_brute_force": bool(want_knn) and got_knn == want_knn,
    }


class Workload:
    name = ""
    item = "image"
    # untimed iterations before the measured loop, at least ``warmup`` of
    # them and for at least ``warmup_s`` seconds: with every core busy
    # running tasks, the chains keep speeding up for their first 10-15 s
    # (JIT, first touch of the heap)
    warmup = 2
    warmup_s = 12.0

    def __init__(self, seed: int):
        self.seed = seed
        self.lo = (seed % ID_SLOTS) * ID_STRIDE
        self.items = 0  # items of work per iteration
        self.named: dict[str, float] = {}  # workload-specific end-to-end values

    def ledger_key(self) -> str:
        return f"{self.name}|n={self.items}|seed={self.seed}"


class GeoJoin(Workload):
    """Read-only point join ending in a tiny per-(sid, tile, nearest_id)
    rollup."""

    name = "geo_join"

    def __init__(self, seed: int):
        super().__init__(seed)
        self.items = N_POINTS

    def make_inputs(self, spark, d: str) -> None:
        self.path = os.path.join(d, "ids")
        write_ids(spark, self.lo, N_POINTS, self.path)

    def build(self, spark) -> None:
        self.chain = point_chain(spark, self.path)
        knn = self.chain[-1][1]
        self.out = knn.groupBy("sid", "tile", "nearest_id").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.round(F.col("nearest_dist") * 1000.0).cast("long")).alias("dist_mm"),
        )

    def iterate(self):
        return checksum(self.out)

    def check(self) -> dict[str, bool]:
        return point_check(self.chain, self.lo)

    def trace(self, tr: Tracer) -> dict[str, float]:
        layers = self.chain + [("rollup", self.out)]
        walls, durs, rows = [], {k: [] for k, _ in layers}, {}
        for _ in range(TRACE_REPS):
            with tr.span(f"{self.name}.series") as root:
                for layer, df in layers:
                    with tr.span(f"{self.name}.{layer}") as sp:
                        self.trace_sum = checksum(df)
                        sp["rows"] = rows[layer] = self.trace_sum[0]
                    durs[layer].append(Tracer.dur(sp))
            walls.append(Tracer.dur(root))
        m: dict[str, float] = {}
        prev = None
        for layer, _ in layers:
            own = [a - (durs[prev][i] if prev else 0.0) for i, a in enumerate(durs[layer])]
            m[f"{self.name}.{layer}.self_s"] = _median(own)
            prev = layer
        m[f"{self.name}.ops.pip_join.rows_in"] = rows["ops.with_cell"]
        m[f"{self.name}.ops.pip_join.rows_out"] = rows["ops.pip_join"]
        m[f"{self.name}.ops.knn_assign.rows_out"] = rows["ops.knn_assign"]
        with tr.span(f"{self.name}.ops.pip_join.boundary_share"):
            m[f"{self.name}.ops.pip_join.boundary_share"] = self._boundary_share()
        m[f"{self.name}.trace_overhead"] = _median(walls) / _median(durs["rollup"])
        return m

    def _boundary_share(self) -> float:
        """Share of (point, polygon) candidate pairs that land in a
        non-full cover cell, i.e. that pay the per-row refine."""
        cell = dict(self.chain)["ops.with_cell"]
        cover = cell.sparkSession.createDataFrame(
            ops.polygon_cover_pdf(synth.default_scene().polygons, CELL_RES),
            "cell long, sid long, full boolean",
        )
        r = (
            cell.join(F.broadcast(cover), "cell")
            .agg(F.count(F.lit(1)), F.sum((~F.col("full")).cast("long")))
            .first()
        )
        return float(r[1]) / float(r[0])


class TileSink(GeoJoin):
    """The same points and chain; every kNN output row is written as
    parquet partitioned by tile through ``StageCheckpoint.stage``, then a
    second ``stage`` call with the same fingerprint resumes from it."""

    name = "tile_sink"

    def build(self, spark) -> None:
        self.chain = point_chain(spark, self.path)
        self.out = self.chain[-1][1]
        self.ck = checkpoint.StageCheckpoint(spark, os.path.join(os.path.dirname(self.path), "ckpt"))
        self.n_stage = 0
        self.resume_s: list[float] = []
        self.resumed_ok = True

    def _write_and_resume(self, tr: Tracer | None = None):
        self.n_stage += 1
        fp = f"{self.name}|seed={self.seed}|n={N_POINTS}|write={self.n_stage}"
        ctx = tr.span if tr else (lambda _name: contextlib.nullcontext())
        with ctx(f"{self.name}.checkpoint.stage"):
            t0 = time.perf_counter()
            self.ck.stage("tiles", fp, lambda: self.out, partition_by=["tile"])
            t1 = time.perf_counter()
        with ctx(f"{self.name}.checkpoint.resume"):
            back = self.ck.stage("tiles", fp, lambda: self.out, partition_by=["tile"])
            sums = checksum(back.select(*self.out.columns))
            t2 = time.perf_counter()
        wrote, resumed = self.ck.events[-2], self.ck.events[-1]
        self.resumed_ok &= (
            wrote["action"] == "compute"
            and resumed["action"] == "resume"
            and resumed["rows"] == wrote["rows"] == sums[0]
        )
        self.resume_s.append(t2 - t1)
        self.trace_sum = sums
        return sums, t1 - t0, t2 - t1

    def iterate(self):
        return self._write_and_resume()[0]

    def _manifest(self) -> dict:
        with open(os.path.join(self.ck.root, f"tiles.{checkpoint.MANIFEST}")) as f:
            return json.load(f)

    def check(self) -> dict[str, bool]:
        out = point_check(self.chain, self.lo)
        written = checksum(self.out)
        man = self._manifest()
        out["resume_reads_back_written_rows"] = (
            self.resumed_ok and man["rows_total"] == written[0] and self.trace_sum == written
        )
        self.named[f"{self.name}.resume_s"] = _median(self.resume_s)
        self.named[f"{self.name}.bytes_per_image"] = man["bytes_total"] / man["rows_total"]
        return out

    def trace(self, tr: Tracer) -> dict[str, float]:
        knn_s, stage_s, resume_s, walls = [], [], [], []
        calls0 = len(self.resume_s)
        for _ in range(TRACE_REPS):
            with tr.span(f"{self.name}.series") as root:
                with tr.span(f"{self.name}.ops.knn_chain") as sp:
                    checksum(self.out)
                _, st, rs = self._write_and_resume(tr)
            knn_s.append(Tracer.dur(sp))
            stage_s.append(st)
            resume_s.append(rs)
            walls.append(Tracer.dur(root))
        man = self._manifest()
        calls = len(self.resume_s) - calls0
        hits = sum(1 for e in self.ck.events[-2 * calls :] if e["action"] == "resume")
        p = f"{self.name}.checkpoint"
        return {
            f"{self.name}.ops.knn_chain.s": _median(knn_s),
            f"{p}.stage_s": _median(stage_s),
            f"{p}.write_self_s": _median([s - k for s, k in zip(stage_s, knn_s)]),
            f"{p}.resume_s": _median(resume_s),
            f"{p}.files": man["n_files"],
            f"{p}.bytes": man["bytes_total"],
            f"{p}.bytes_per_row": man["bytes_total"] / man["rows_total"],
            f"{p}.resume_hit_ratio": hits / calls,
            f"{self.name}.trace_overhead": _median(walls)
            / _median([s + r for s, r in zip(stage_s, resume_s)]),
        }


class ValidatedDecode(Workload):
    """Decode + per-row invariant checks + the same join, over a
    materialised image+caption payload table read directly by the
    executors (``pipeline.flagship_validated(direct_path=...)``)."""

    name = "validated_decode"

    def __init__(self, seed: int):
        super().__init__(seed)
        self.items = N_PAYLOAD

    def make_inputs(self, spark, d: str) -> None:
        self.path = os.path.join(d, "images")
        write_payload(spark, self.lo, N_PAYLOAD, self.path)

    def build(self, spark) -> None:
        self.spark = spark
        self.out = pipeline.flagship_validated(spark, direct_path=self.path)
        self.validated = ops.decode_validate_direct(spark, self.path)

    def iterate(self):
        return checksum(self.out)

    def _rejections(self) -> tuple[int, dict[str, int], int]:
        ok = ["pixels_ok", "caption_ok", "phash_ok"]
        r = self.validated.agg(
            F.count(F.lit(1)),
            *[F.sum((~F.col(c)).cast("long")) for c in ok],
            F.sum((~(F.col(ok[0]) & F.col(ok[1]) & F.col(ok[2]))).cast("long")),
        ).first()
        return int(r[0]), {c[:-3]: int(r[i + 1]) for i, c in enumerate(ok)}, int(r[4])

    def check(self) -> dict[str, bool]:
        rows, by_reason, rejected = self._rejections()
        self.named[f"{self.name}.rejected_share"] = rejected / rows
        for reason, n in by_reason.items():
            self.named[f"{self.name}.rejected.{reason}"] = n
        sl = _id_range(self.lo, self.lo + ORACLE_SLICE)
        accepted = {
            r[0]
            for r in self.validated.filter(sl & F.col("pixels_ok") & F.col("caption_ok") & F.col("phash_ok"))
            .select("image_id")
            .collect()
        }
        want = {r for r in oracle_rows(self.lo, ORACLE_SLICE) if r[0] in accepted}
        got = {tuple(r) for r in self.out.filter(sl).select("image_id", "cell", "tile", "sid").collect()}
        return {
            "all_payload_rows_validated": rows == N_PAYLOAD,
            "accepted_rows_match_sql_oracle": bool(want) and got == want,
        }

    def trace(self, tr: Tracer) -> dict[str, float]:
        dec_s, full_s, walls = [], [], []
        for _ in range(TRACE_REPS):
            with tr.span(f"{self.name}.series") as root:
                with tr.span(f"{self.name}.ops.decode_validate_direct") as a:
                    checksum(self.validated)
                with tr.span(f"{self.name}.pipeline.flagship_validated") as b:
                    self.trace_sum = checksum(self.out)
            dec_s.append(Tracer.dur(a))
            full_s.append(Tracer.dur(b))
            walls.append(Tracer.dur(root))
        rows, by_reason, rejected = self._rejections()
        p = f"{self.name}.ops.decode_validate_direct"
        m = {
            f"{p}.self_s": _median(dec_s),
            f"{self.name}.ops.join_chain.self_s": _median([f - d for f, d in zip(full_s, dec_s)]),
            f"{self.name}.rejected_share": rejected / rows,
            f"{self.name}.trace_overhead": _median(walls) / _median(full_s),
        }
        for reason, n in by_reason.items():
            m[f"{p}.rejected.{reason}"] = n
        with tr.span(f"{self.name}.kernels"):
            m.update(self._kernel_costs())
        return m

    def _kernel_costs(self) -> dict[str, float]:
        """Single-process µs/image of the decode kernels on a sample of
        the table's own bytes (median of three passes)."""
        import pyarrow.parquet as pq

        cols = ["image_id", "bytes", "fmt"]
        parts, n = [], 0
        for f in sorted(glob.glob(os.path.join(self.path, "**", "*.parquet"), recursive=True)):
            t = pq.read_table(f, columns=cols).to_pandas()
            parts.append(t)
            n += len(t)
            if n >= KERNEL_SAMPLE:
                break
        sample = pd.concat(parts).head(KERNEL_SAMPLE)

        def per_image(fn, items) -> float:
            passes = []
            for _ in range(3):
                t0 = time.perf_counter()
                for it in items:
                    fn(it)
                passes.append(time.perf_counter() - t0)
            return _median(passes) / len(items) * 1e6

        p = f"{self.name}.codecs"
        m = {}
        for fmt in synth.FORMATS:
            blobs = [bytes(b) for b in sample.loc[sample["fmt"] == fmt, "bytes"]]
            m[f"{p}.decode.us_per_image.{fmt}"] = per_image(lambda b, f=fmt: codecs.decode(b, f), blobs)
        imgs = [codecs.decode(bytes(b), f) for b, f in zip(sample["bytes"], sample["fmt"])]
        stacks = {}
        for im in imgs:
            stacks.setdefault(im.shape, []).append(im)
        stacks = [np.stack(v) for v in stacks.values()]
        m[f"{p}.phash_batch.us_per_image"] = per_image(codecs.phash_batch, stacks) * len(stacks) / len(imgs)
        m[f"{self.name}.synth.expected_pixels.us_per_image"] = per_image(
            synth.expected_pixels, list(sample["image_id"])
        )
        return m


class _SpanCheckpoint:
    """Stand-in for ``checkpoint.StageCheckpoint`` passed to
    ``full_delineation_exact(ckpt=...)``: cuts lineage exactly as the
    untraced run does (eager ``localCheckpoint``), records a span per
    stage, and counts the stage's rows outside the span."""

    def __init__(self, tr: Tracer, prefix: str):
        self.tr = tr
        self.prefix = prefix
        self.stages: list[dict] = []
        self.count_s = 0.0
        self.last_end = 0.0  # when the last stage's row count finished

    def stage(self, name, fingerprint, compute, partition_by=None):
        with self.tr.span(f"{self.prefix}.{name}") as sp:
            df = compute().localCheckpoint(eager=True)
        t0 = time.perf_counter()
        sp["rows"] = df.count()
        self.last_end = time.perf_counter()
        self.count_s += self.last_end - t0
        self.stages.append(sp)
        return df


class Delineation(Workload):
    """``delineate.full_delineation_exact``: building footprints + roads →
    settlement boundaries.  Its input is synth's fixed scene, so the
    seed does not vary it."""

    name = "delineation"
    item = "building"
    warmup = 0  # one cold batch per run, as a user runs it
    warmup_s = 0.0

    STAGES = ("bp", "blocks", "joined", "rects", "pieces", "dissolved", "closed")

    def ledger_key(self) -> str:
        return f"{self.name}|per_cluster={PER_CLUSTER}"

    def make_inputs(self, spark, d: str) -> None:
        # full_delineation_exact builds its own buildings from synth;
        # the filtered count (its InputHU_Filter) is the throughput base
        b = synth.buildings_pdf(per_cluster=PER_CLUSTER)
        pos = {c[:10] for c in synth.POS_FKT}
        self.items = int((b["fkt"].str[:10].isin(pos) & (b["area"] >= 35.0)).sum())

    def build(self, spark) -> None:
        self.spark = spark

    def iterate(self):
        return checksum(delineate.full_delineation_exact(self.spark, per_cluster=PER_CLUSTER))

    def check(self) -> dict[str, bool]:
        return {}

    def trace(self, tr: Tracer) -> dict[str, float]:
        p = f"{self.name}.delineate"
        ck = _SpanCheckpoint(tr, p)
        stats: dict = {}
        with tr.span(f"{self.name}.run") as root:
            out = delineate.full_delineation_exact(
                self.spark, per_cluster=PER_CLUSTER, stats_out=stats, ckpt=ck
            )
            self.trace_sum = checksum(out)
        m = {}
        by_name = {sp["name"]: sp for sp in ck.stages}
        for st in self.STAGES:
            sp = by_name[f"{p}.fde_{st}"]
            m[f"{p}.fde_{st}.s"] = Tracer.dur(sp)
            m[f"{p}.fde_{st}.rows"] = sp["rows"]
        m[f"{p}.patch_remove_exact.s"] = root["end"] - ck.last_end
        bpc = stats["buildings_per_cluster"]
        m[f"{p}.buildings_per_cluster.max_over_median"] = bpc["max"] / bpc["median"]
        wall = Tracer.dur(root)
        m[f"{self.name}.trace_overhead"] = wall / (wall - ck.count_s)
        return m


WORKLOADS = {w.name: w for w in (GeoJoin, TileSink, ValidatedDecode, Delineation)}
