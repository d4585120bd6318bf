"""Operator-level tests: Spark plans vs pure-pandas/numpy oracles.

North-rule parity gate: the Spark pip_join / knn_assign / density_grid /
tile_assign outputs must match a brute-force single-node oracle row for
row (SURVEY.md §5 "pipeline parity tests").
"""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from ib_tool_spark import cells, geom, ops, synth

N = 1500  # smoke-tier image count for operator parity


@pytest.fixture(scope="module")
def scene():
    return synth.default_scene()


@pytest.fixture(scope="module")
def ids():
    return np.array([f"img_{i:012d}" for i in range(N)])


@pytest.fixture(scope="module")
def points_df(spark, ids):
    df = spark.createDataFrame(pd.DataFrame({"image_id": ids}))
    return ops.with_cell(ops.with_geocode(df), 10)


def test_geocode_spark_matches_numpy(spark, ids, points_df):
    got = points_df.select("image_id", "x", "y").toPandas().set_index("image_id")
    ex, ey = synth.geocode_np(ids)
    gx = got.loc[ids, "x"].to_numpy()
    gy = got.loc[ids, "y"].to_numpy()
    assert (gx == ex).all(), np.abs(gx - ex).max()
    assert (gy == ey).all()


def test_geocode_cluster_fraction(ids):
    """~80% of points fall in clusters; skew exists (cluster 0 densest)."""
    x, y = synth.geocode_np(ids)
    scene = synth.default_scene()
    inside_any = np.zeros(len(ids), dtype=bool)
    for sid, _n, rings in scene.polygons:
        inside_any |= geom.points_in_polygon(x, y, rings)
    frac = inside_any.mean()
    assert 0.45 < frac < 0.9, frac


def oracle_pip(ids, scene):
    x, y = synth.geocode_np(ids)
    rows = []
    for sid, _name, rings in scene.polygons:
        m = geom.points_in_polygon(x, y, rings)
        for i in np.nonzero(m)[0]:
            rows.append((ids[i], sid))
    return pd.DataFrame(rows, columns=["image_id", "sid"])


def test_pip_join_matches_oracle(spark, ids, points_df, scene):
    got = (
        ops.pip_join(points_df, scene.polygons, 10)
        .select("image_id", "sid")
        .toPandas()
        .sort_values(["image_id", "sid"])
        .reset_index(drop=True)
    )
    want = oracle_pip(ids, scene).sort_values(["image_id", "sid"]).reset_index(drop=True)
    pd.testing.assert_frame_equal(got, want)
    assert len(want) > N * 0.3  # sanity: a healthy share matched


def test_pip_join_anti(spark, ids, points_df, scene):
    matched = set(oracle_pip(ids, scene)["image_id"])
    got = ops.pip_join(points_df, scene.polygons, 10, how="anti").select("image_id").toPandas()
    assert set(got["image_id"]) == set(ids) - matched


def test_tile_assign_matches_parent(spark, points_df):
    got = ops.tile_assign(points_df, 10, 6).select("cell", "tile").toPandas()
    want = cells.parent(got["cell"].to_numpy(), 6)
    assert (got["tile"].to_numpy() == want).all()


def test_knn_assign_matches_bruteforce(spark, ids, points_df, scene):
    centers = pd.DataFrame(
        {"center_id": np.arange(len(scene.cx)), "cx": scene.cx, "cy": scene.cy}
    )
    cutoff = 3000.0
    got = (
        ops.knn_assign(points_df.select("image_id", "x", "y"), centers, cutoff)
        .select("image_id", "nearest_id", "nearest_dist")
        .toPandas()
        .set_index("image_id")
    )
    x, y = synth.geocode_np(ids)
    d2 = (x[:, None] - scene.cx[None, :]) ** 2 + (y[:, None] - scene.cy[None, :]) ** 2
    best = np.argmin(d2, axis=1)
    bestd = np.sqrt(d2[np.arange(len(ids)), best])
    expected_ids = {ids[i]: int(best[i]) for i in range(len(ids)) if bestd[i] <= cutoff}
    assert set(got.index) == set(expected_ids)
    for iid, bid in expected_ids.items():
        assert int(got.loc[iid, "nearest_id"]) == bid
    # distances match to float tolerance
    for iid in list(expected_ids)[:100]:
        i = int(iid[4:])
        assert abs(got.loc[iid, "nearest_dist"] - bestd[ids.tolist().index(iid)]) < 1e-9


def test_density_grid_matches_bruteforce(spark, ids, points_df):
    cs, radius = 500.0, 1200.0
    got = ops.density_grid(points_df, cs, radius).toPandas()
    x, y = synth.geocode_np(ids)
    gx = np.floor(x / cs).astype(np.int64)
    gy = np.floor(y / cs).astype(np.int64)
    binned = pd.DataFrame({"gx": gx, "gy": gy}).groupby(["gx", "gy"]).size()
    r = int(np.floor(radius / cs))
    offs = cells.k_ring_offsets(r)
    offs = offs[offs[:, 0] ** 2 + offs[:, 1] ** 2 <= (radius / cs) ** 2]
    want = {}
    for (bx, by), cnt in binned.items():
        for dx, dy in offs:
            key = (bx + dx, by + dy)
            want[key] = want.get(key, 0) + cnt
    got_map = {(int(r_.gx), int(r_.gy)): int(r_.nsum) for r_ in got.itertuples()}
    assert got_map == want
    area = np.pi * radius**2
    for r_ in got.itertuples():
        assert abs(r_.density - got_map[(int(r_.gx), int(r_.gy))] / area) < 1e-12


def test_decode_validate_all_ok(spark):
    df = synth.synth_images_df(spark, 120, 4)
    res = ops.decode_validate(df).toPandas()
    assert len(res) == 120
    assert res["pixels_ok"].all()
    assert res["caption_ok"].all()
    assert res["phash_ok"].all()
    assert set(res["fmt"]) == {"png", "ppm", "tdc"}


def test_validate_rejects_wrong_size_resynthesis(spark):
    # ADVICE r5 medium: a payload re-synthesized from the same pixel
    # hash at a WRONG size decodes to a perfect match of its own-size
    # synthesis — the id-derived size must still fail pixels_ok.
    import pandas as pd

    from ib_tool_spark import codecs

    rows = [synth.make_row(i) for i in range(6)]
    pdf = pd.DataFrame(rows)
    base = ops._validate_pdf(pdf[["image_id", "bytes", "fmt", "caption", "phash"]], 40.0)
    assert base["pixels_ok"].all()

    # forge row 0: synthesize the expected pattern at a size that is
    # NOT the id-derived one, encode it losslessly, keep the phash of
    # the forged pixels so only the size check can catch it
    import numpy as np

    hp = int(synth.id_hashes([rows[0]["image_id"]], "#px")[0])
    h = synth.IMAGE_SIZES[(hp >> 2) % 3]
    w = synth.IMAGE_SIZES[hp % 3]
    wrong_h = next(s for s in synth.IMAGE_SIZES if s != h)
    forged = synth.expected_pixels_batch_i16_cm(
        np.array([hp], dtype=np.uint64), wrong_h, w
    )[0].transpose(1, 2, 0).astype(np.uint8)
    pdf.loc[0, "bytes"] = codecs.ppm_encode(np.ascontiguousarray(forged))
    pdf.loc[0, "fmt"] = "ppm"
    pdf.loc[0, "phash"] = codecs.phash(forged)
    res = ops._validate_pdf(pdf[["image_id", "bytes", "fmt", "caption", "phash"]], 40.0)
    assert not res["pixels_ok"].iloc[0]
    assert res["psnr"].iloc[0] == 0.0
    assert res["phash_ok"].iloc[0]  # phash matches the forged pixels
    assert res["pixels_ok"].iloc[1:].all()


def test_decode_validate_direct_matches_shipped(spark):
    """r5 pin: the direct-read decode stage (executors stream their
    parquet row-group splits via pyarrow) is row-identical to the
    standard JVM-shipped path, including at n_tasks below/above the
    split count, and its manifest carries one balanced group per task."""
    path = synth.ensure_images_table(spark, 800)
    a = (
        ops.decode_validate(spark.read.parquet(path))
        .toPandas()
        .sort_values("image_id")
        .reset_index(drop=True)
    )
    for n_tasks in (2, 4, 1000):
        b = (
            ops.decode_validate_direct(spark, path, n_tasks=n_tasks)
            .toPandas()
            .sort_values("image_id")
            .reset_index(drop=True)
        )
        pd.testing.assert_frame_equal(a, b)
    assert a["pixels_ok"].all() and a["caption_ok"].all() and a["phash_ok"].all()


def test_flagship_end_to_end(spark, scene):
    from ib_tool_spark import pipeline

    out = pipeline.flagship(spark, n_images=800).toPandas()
    assert len(out) > 200
    assert out["sid"].between(0, 47).all()
    # tile is the parent of cell
    assert (cells.parent(out["cell"].to_numpy(), pipeline.TILE_RES) == out["tile"].to_numpy()).all()
    # names consistent
    assert (out["name"] == out["sid"].map(lambda s: f"SETT_{s:03d}")).all()
    # deterministic across runs
    out2 = pipeline.flagship(spark, n_images=800).toPandas()
    pd.testing.assert_frame_equal(
        out.sort_values(["image_id", "sid"]).reset_index(drop=True),
        out2.sort_values(["image_id", "sid"]).reset_index(drop=True),
    )


def pip_mirror(x, y, cell, polygons, res):
    """Numpy mirror of pip_join: the polygon cover's cell candidates,
    interior cells kept outright, boundary cells refined by the
    ray-crossing ``geom.points_in_polygon``.  Returns sorted (point
    index, sid) pairs."""
    cover = ops.polygon_cover_pdf(polygons, res)
    cand = pd.DataFrame({"i": np.arange(len(x)), "cell": cell}).merge(cover, on="cell")
    i, sid, full = cand["i"].to_numpy(), cand["sid"].to_numpy(), cand["full"].to_numpy()
    inside = full.copy()
    rings = {s: r for s, _name, r in polygons}
    for s in np.unique(sid[~full]):
        m = ~full & (sid == s)
        inside[m] = geom.points_in_polygon(x[i[m]], y[i[m]], rings[s])
    return sorted(zip(i[inside].tolist(), sid[inside].tolist()))


def pip_engine(spark, pts: pd.DataFrame, polygons, res):
    """pip_join over points given as a pandas frame (i, x, y, cell):
    sorted (point index, sid) pairs."""
    got = ops.pip_join(spark.createDataFrame(pts), polygons, res).select("i", "sid").collect()
    return sorted((int(r.i), int(r.sid)) for r in got)


def test_pip_join_sql_equals_pandas_refine(spark, ids, points_df, scene):
    """The codegen segment-parity refine and the numpy ray-crossing
    mirror produce identical join rows."""
    p = points_df.select("x", "y", "cell").toPandas()
    p.insert(0, "i", np.arange(len(p)))
    want = pip_mirror(p["x"].to_numpy(), p["y"].to_numpy(), p["cell"].to_numpy(), scene.polygons, 10)
    assert pip_engine(spark, p, scene.polygons, 10) == want
    assert len(want) > N * 0.3


def _comb_and_zigzag():
    """A comb (thin teeth, 9 m pitch) and a zig-zag ring with a hole,
    placed off every cell-center line, so res-10 cells hold many
    edges."""
    x0, y0 = 50_000.3137, 60_000.2718
    comb = [(x0, y0), (x0 + 600.0, y0), (x0 + 600.0, y0 + 40.3)]
    for k in range(65, -1, -1):
        tx = x0 + 9.0 * k + 0.41
        comb += [(tx + 4.5, y0 + 40.3), (tx + 4.5, y0 + 300.7), (tx, y0 + 300.7), (tx, y0 + 40.3)]
    comb.append((x0, y0 + 40.3))
    zx, zy = x0 + 900.17, y0 + 55.29
    top = [(zx + 7.3 * k, zy + 400.0 + (31.7 if k % 2 else 0.0)) for k in range(80)]
    zig = [(zx, zy), (zx + 7.3 * 79, zy)] + top[::-1]
    hx, hy = (zx + 100.3, zx + 300.7), (zy + 100.9, zy + 250.1)
    hole = [(hx[0], hy[0]), (hx[0], hy[1]), (hx[1], hy[1]), (hx[1], hy[0])]
    return [
        (1, "comb", [np.array(comb)]),
        (2, "zigzag", [np.array(zig), np.array(hole)]),
    ]


def test_pip_join_many_edges_per_cell_matches_mirror(spark):
    """Cells with several edges (comb teeth, zig-zag) exercise every
    edge slot of the fixed-width refine; checked against
    ``geom.points_in_polygon`` over every point."""
    polys = _comb_and_zigzag()
    widest = max(
        max(len(e) for e in geom.cover_cells_with_edges(r, 10)[5]) for _s, _n, r in polys
    )
    assert widest >= 4, widest
    rng = np.random.default_rng(7)
    x = rng.uniform(49_900.0, 51_700.0, 20_000)
    y = rng.uniform(59_900.0, 60_600.0, 20_000)
    c = cells.encode(x, y, 10)
    pts = pd.DataFrame({"i": np.arange(len(x)), "x": x, "y": y, "cell": c})
    want = sorted(
        (int(i), sid) for sid, _n, r in polys for i in np.nonzero(geom.points_in_polygon(x, y, r))[0]
    )
    assert {s for _i, s in want} == {1, 2}
    assert pip_mirror(x, y, c, polys, 10) == want
    assert pip_engine(spark, pts, polys, 10) == want


def knn_brute(x, y, centers: pd.DataFrame, cutoff: float):
    """Brute-force nearest center: the engine's IEEE operations
    (x-cx)*(x-cx) + (y-cy)*(y-cy), ties to the lower id.  Returns
    {point index: (nearest_id, nearest_dist)}."""
    c = centers.sort_values("center_id", kind="stable")
    cx, cy = c["cx"].to_numpy(np.float64), c["cy"].to_numpy(np.float64)
    cid = c["center_id"].to_numpy(np.int64)
    out = {}
    for s in range(0, len(x), 512):
        dx = x[s : s + 512, None] - cx[None, :]
        dy = y[s : s + 512, None] - cy[None, :]
        d2 = dx * dx + dy * dy
        best = np.argmin(d2, axis=1)  # first minimum = lowest id
        for j, b in enumerate(best):
            if d2[j, b] <= cutoff**2:
                out[s + j] = (int(cid[b]), float(np.sqrt(d2[j, b])))
    return out


def knn_engine(spark, x, y, centers, cutoff):
    pts = spark.createDataFrame(pd.DataFrame({"i": np.arange(len(x)), "x": x, "y": y}))
    got = ops.knn_assign(pts, centers, cutoff).select("i", "nearest_id", "nearest_dist").collect()
    return {int(r.i): (int(r.nearest_id), float(r.nearest_dist)) for r in got}


def test_knn_assign_hard_inputs_match_bruteforce(spark):
    """Dense centers (pruned lists wider than the slot bound), coincident
    centers and exact ties: nearest_id and nearest_dist are bit-exact
    against brute force, ties going to the lower id."""
    rng = np.random.default_rng(11)
    n = 400
    cx = np.round(rng.uniform(70_000.0, 70_060.0, n), 3)
    cy = np.round(rng.uniform(30_000.0, 30_060.0, n), 3)
    cid = rng.permutation(np.arange(10, 10 + 3 * n, 3))
    # coincident twins: one with a lower id, one with a higher id
    twin = rng.choice(n, 40, replace=False)
    tcid = np.where(np.arange(40) % 2 == 0, cid[twin] - 1, cid[twin] + 1)
    # equidistant pairs (dyadic coordinates: exact distances), the
    # higher id listed first; and a lone pair far from the dense block
    a, b, d = 70_200.5, 30_000.25, 12.5
    pair = [(9_001, a - d, b), (9_000, a + d, b), (9_003, a, b + 2 * d), (9_002, a, b - 2 * d)]
    centers = pd.DataFrame(
        {
            "center_id": np.r_[cid, tcid, [p[0] for p in pair]].astype(np.int64),
            "cx": np.r_[cx, cx[twin], [p[1] for p in pair]],
            "cy": np.r_[cy, cy[twin], [p[2] for p in pair]],
        }
    )
    x = np.r_[rng.uniform(69_900.0, 70_300.0, 6000), cx[twin], a, a + 0.5 * d]
    y = np.r_[rng.uniform(29_900.0, 30_200.0, 6000), cy[twin], b, b + 0.5 * d]
    # the dense block needs the step to a finer resolution
    wide = ops._runs(ops._knn_candidates(cid, cx, cy, 70.0, 10, cells.DEFAULT_GRID)[0])[1]
    assert wide.max() > ops._KNN_MAX_SLOTS
    want = knn_brute(x, y, centers, 70.0)
    got = knn_engine(spark, x, y, centers, 70.0)
    assert got == want
    # the twins resolve to the lower id, the tie points to 9_000
    assert got[6000 + 40] == (9_000, d)
    assert all(got[6000 + k][0] == min(cid[twin[k]], tcid[k]) for k in range(40))


def test_knn_assign_unsplittable_cell_matches_bruteforce(spark):
    """Centers on a circle are all candidates for the cell holding its
    middle at every resolution, so no resolution within the pair bound
    fits the slot bound; the wide coarsest layout must stay exact."""
    n = ops._KNN_MAX_SLOTS + 16
    a = np.linspace(0.0, 2.0 * np.pi, n, endpoint=False)
    centers = pd.DataFrame(
        {"center_id": np.arange(n), "cx": 40_000.3 + 30.0 * np.cos(a), "cy": 40_000.7 + 30.0 * np.sin(a)}
    )
    rng = np.random.default_rng(5)
    x = np.r_[40_000.3, rng.uniform(39_900.0, 40_100.0, 3000)]
    y = np.r_[40_000.7, rng.uniform(39_900.0, 40_100.0, 3000)]
    assert knn_engine(spark, x, y, centers, 70.0) == knn_brute(x, y, centers, 70.0)


@pytest.mark.parametrize("regime", ["footprints_70m", "clusters_3000m"])
@pytest.mark.parametrize(
    "conf",
    [
        {"spark.sql.execution.arrow.pyspark.enabled": "true"},
        {"spark.sql.execution.arrow.pyspark.enabled": "false"},
        {"spark.sql.execution.pandas.convertToArrowArraySafely": "true"},
    ],
)
def test_knn_assign_padded_cells_any_session_config(spark, scene, conf, regime):
    """The null-padded candidate slots keep bigint ids and real nulls
    whatever the session's Arrow settings (a pandas frame padded with
    None turned ``cid{j}`` into float64 and failed with Arrow off).
    Both regimes have cells of several widths: the footprint centroids
    at the reference's 70 m cutoff, and the 48 cluster centers at
    3000 m."""
    s = spark.newSession()
    for k, v in conf.items():
        s.conf.set(k, v)
    if regime == "footprints_70m":
        b = synth.buildings_pdf(scene)
        centers = pd.DataFrame({"center_id": b["bid"].astype(np.int64), "cx": b["cx"], "cy": b["cy"]})
        cutoff, spread = 70.0, 90.0
    else:
        centers = pd.DataFrame({"center_id": np.arange(len(scene.cx)), "cx": scene.cx, "cy": scene.cy})
        cutoff, spread = 3000.0, 4000.0
    rng = np.random.default_rng(3)
    k = rng.choice(len(centers), 3000)
    x = centers["cx"].to_numpy()[k] + rng.uniform(-spread, spread, 3000)
    y = centers["cy"].to_numpy()[k] + rng.uniform(-spread, spread, 3000)
    got = knn_engine(s, x, y, centers, cutoff)
    assert got == knn_brute(x, y, centers, cutoff)
    assert len(got) > 1000


def test_hex_ops_match_numpy(spark, ids, points_df):
    """Spark hex encode equals the numpy kernel; hex k-ring density
    matches a brute-force axial-offset sum."""
    got = ops.with_hex_cell(points_df, 10).select("image_id", "hex_cell").toPandas()
    x, y = synth.geocode_np(ids)
    want = cells.hex_encode(x, y, 10)
    by_id = got.set_index("image_id")["hex_cell"]
    assert (by_id[ids].to_numpy() == want).all()

    dens = ops.hex_density(points_df, 10, k=1).toPandas()
    import collections

    counts = collections.Counter(want.tolist())
    offs = cells.hex_k_ring_offsets(1)
    expect = collections.Counter()
    for cell, cnt in counts.items():
        q, r, res = cells.hex_decode(np.asarray([cell]))
        for dq, dr in offs:
            qq = (int(q[0]) + int(dq) + (1 << 28)) & ((1 << 29) - 1)
            rr = (int(r[0]) + int(dr) + (1 << 28)) & ((1 << 29) - 1)
            key = (int(res[0]) << 58) | (qq << 29) | rr
            expect[key] += cnt
    got_map = {int(r_.hex_cell): int(r_.nsum) for r_ in dens.itertuples()}
    assert got_map == dict(expect)


def test_identity_join_matches_rotated_reversed(spark):
    # J9: same point set under rotation/winding/sub-quantum noise pairs;
    # a 0.5 m shift does not
    from ib_tool_spark import geom

    r = geom.rect_ring(10.0, 5.0, 8.0, 4.0, 0.7)
    rot = np.roll(r, 2, axis=0)[::-1]  # rotated start + reversed winding
    noisy = rot + 1e-9  # below the 1e-6 quantum
    shifted = r + np.array([0.5, 0.0])
    left = spark.createDataFrame(
        [(0, [r.tolist()])], "id long, rings array<array<array<double>>>"
    )
    right = spark.createDataFrame(
        [(10, [rot.tolist()]), (11, [noisy.tolist()]), (12, [shifted.tolist()])],
        "id long, rings array<array<array<double>>>",
    )
    got = sorted((x.lid, x.rid) for x in ops.identity_join(left, right).collect())
    assert got == [(0, 10), (0, 11)]


def test_identity_join_exact_refine_kills_hash_collisions(spark):
    # _hash_mod=1 forces EVERY row pair to collide at the hash stage;
    # the canonical-bytes refine must keep exactly the true identity
    # pairs — proof a 64-bit birthday collision cannot fabricate a pair
    from ib_tool_spark import geom

    rects = [geom.rect_ring(10.0 * i, 5.0, 8.0, 4.0, 0.3) for i in range(6)]
    left = spark.createDataFrame(
        [(i, [r.tolist()]) for i, r in enumerate(rects)],
        "id long, rings array<array<array<double>>>",
    )
    # right: rotated/reversed twins of rects 0..2 plus three decoys
    right_rows = [
        (100 + i, [np.roll(rects[i], 1, axis=0)[::-1].tolist()]) for i in range(3)
    ] + [(200 + i, [(rects[i] + 0.25).tolist()]) for i in range(3)]
    right = spark.createDataFrame(
        right_rows, "id long, rings array<array<array<double>>>"
    )
    got = sorted(
        (x.lid, x.rid)
        for x in ops.identity_join(left, right, _hash_mod=1).collect()
    )
    assert got == [(0, 100), (1, 101), (2, 102)]


def test_decode_validate_direct_multi_rowgroup(spark, tmp_path):
    """r5 pin: the direct reader splits and bin-packs per ROW GROUP, so
    a table rewritten into multi-row-group files (unlike the synth
    cache's one-group files) produces identical results."""
    import pyarrow.parquet as pq

    src = synth.ensure_images_table(spark, 800)
    # rewrite the whole table as two files with ~100-row row groups
    t = pq.ParquetDataset(src).read()
    half = t.num_rows // 2
    d = tmp_path / "multirg"
    d.mkdir()
    pq.write_table(t.slice(0, half), d / "a.parquet", row_group_size=100)
    pq.write_table(t.slice(half), d / "b.parquet", row_group_size=100)
    md = pq.ParquetFile(d / "a.parquet").metadata
    assert md.num_row_groups > 1
    a = (
        ops.decode_validate(spark.read.parquet(src))
        .toPandas()
        .sort_values("image_id")
        .reset_index(drop=True)
    )
    b = (
        ops.decode_validate_direct(spark, str(d), n_tasks=3)
        .toPandas()
        .sort_values("image_id")
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(a, b)
