"""Round-7 fifth-session operator units: discrete Voronoi allocation,
streaming CMS heavy hitters, cross-document duplicate spans, region
medoid images."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F


def _pts(spark, rows, cols=("point_id", "lat", "lon")):
    return spark.createDataFrame(pd.DataFrame(rows, columns=list(cols)))


def test_voronoi_assign_nearest_and_tiebreak(spark):
    from langtoolsosm_spark.functions.cells import tile_key
    from langtoolsosm_spark.operators.tiling import voronoi_assign

    def t(lat, lon, res=4):
        return int(tile_key(np.array([lat]), np.array([lon]), res)[0])

    # two seeds four cells apart on the lon axis at res 4 (cells are
    # 22.5 x 11.25 deg): ix 5 and ix 9; points in between split by
    # Chebyshev distance, the midpoint cell ties and takes the smaller
    # seed tile id
    s1, s2 = (5.0, -56.0), (5.0, 30.0)
    seeds = _pts(spark, [(1, *s1), (2, *s2)], cols=("id", "lat", "lon"))
    pts = _pts(
        spark,
        [
            (10, *s1),          # on seed 1: dist 0
            (11, 5.0, -33.0),   # 1 cell east of s1: dist 1 vs 3
            (12, 5.0, -33.0),   # same cell — mass 2
            (13, 5.0, -10.0),   # midpoint cell (ix 7): dist 2 vs 2 tie
            (14, 5.0, 80.0),    # ix 11: dist 2 east of s2
        ],
    )
    out = {r["tile"]: r for r in voronoi_assign(pts, seeds, res=4, max_d=3).collect()}
    t1, t2 = t(*s1), t(*s2)
    assert out[t1]["seed_tile"] == t1 and out[t1]["dist"] == 0
    mid_e = out[t(5.0, -33.0)]
    assert mid_e["seed_tile"] == t1 and mid_e["dist"] == 1 and mid_e["n_points"] == 2
    tie = out[t(5.0, -10.0)]
    assert tie["dist"] == 2 and tie["seed_tile"] == min(t1, t2)
    far = out[t(5.0, 80.0)]
    assert far["seed_tile"] == t2 and far["dist"] == 2
    with pytest.raises(ValueError, match="max_d"):
        voronoi_assign(pts, seeds, res=4, max_d=0)


def test_voronoi_assign_unreachable_absent(spark):
    from langtoolsosm_spark.functions.cells import tile_key
    from langtoolsosm_spark.operators.tiling import voronoi_assign

    seeds = _pts(spark, [(1, 5.0, -56.0)], cols=("id", "lat", "lon"))
    pts = _pts(spark, [(10, 5.0, -56.0), (11, -60.0, 150.0)])
    out = voronoi_assign(pts, seeds, res=4, max_d=2).collect()
    assert len(out) == 1  # the far cell is beyond max_d and absent
    assert out[0]["tile"] == int(
        tile_key(np.array([5.0]), np.array([-56.0]), 4)[0]
    )


def test_stream_cms_parity_any_order(spark, tmp_path):
    from langtoolsosm_spark.operators.sketches import cms_heavy_hitters
    from langtoolsosm_spark.operators.tiling import assign_tiles
    from langtoolsosm_spark.streaming.microbatch import run_cms_stream_once

    rng = np.random.RandomState(7)
    lat = rng.uniform(-60, 60, 400)
    lon = np.where(rng.rand(400) < 0.6, 10.0, rng.uniform(-170, 170, 400))
    pdf = pd.DataFrame({"lat": lat, "lon": lon})
    # MAXIMALLY disordered staging: interleave by row index mod 4
    src = tmp_path / "src"
    src.mkdir()
    for i in range(4):
        p = src / f"b{i}.parquet"
        pdf.iloc[i::4].to_parquet(p, index=False)
        import os
        os.utime(p, (1000 * (i + 1), 1000 * (i + 1)))
    streamed = {
        r["key"]: (r["cms_est"], r["exact_n"], r["total_n"])
        for r in run_cms_stream_once(
            spark, str(src), str(tmp_path / "ckpt"), res=6, mass_denom=64
        ).collect()
    }
    batch = {
        r["key"]: (r["cms_est"], r["exact_n"], r["total_n"])
        for r in cms_heavy_hitters(
            assign_tiles(spark.createDataFrame(pdf), res=6), "tile",
            mass_denom=64,
        ).collect()
    }
    assert streamed == batch and len(batch) >= 1
    # the hot cell is reported and the CMS one-sided bound holds
    assert all(est >= ex for est, ex, _ in batch.values())


def test_dup_spans_cross_doc_only(spark):
    from langtoolsosm_spark.operators.textstats import dup_spans

    shared = "a b c d"  # the 4-token span docs 1 and 2 share
    docs = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [1, 2, 3, 4],
                "text": [
                    f"x {shared} y",       # 3 windows, 1 shared
                    f"{shared} z q",       # 3 windows, 1 shared
                    "a b c a b c a b c",   # self-repeats only: 0 dup
                    "p q",                 # too short: absent
                ],
            }
        )
    )
    out = {r["doc_id"]: r for r in dup_spans(docs, k=4).collect()}
    assert set(out) == {1, 2, 3}
    assert out[1]["n_windows"] == 3 and out[1]["n_dup_windows"] == 1
    assert out[1]["dup_milli"] == 333
    assert out[2]["n_dup_windows"] == 1
    assert out[3]["n_dup_windows"] == 0 and out[3]["n_windows"] == 6
    with pytest.raises(ValueError, match="k must"):
        dup_spans(docs, k=1)


def test_region_medoid_pip_and_gate(spark):
    from langtoolsosm_spark.operators.images import region_medoid

    polys = spark.createDataFrame(
        [
            ("P1", [{"lat": 0.0, "lon": 0.0}, {"lat": 0.0, "lon": 10.0},
                    {"lat": 10.0, "lon": 10.0}, {"lat": 10.0, "lon": 0.0}]),
            ("P2", [{"lat": 40.0, "lon": 40.0}, {"lat": 40.0, "lon": 50.0},
                    {"lat": 50.0, "lon": 50.0}, {"lat": 50.0, "lon": 40.0}]),
        ],
        "polygon_id string, ring array<struct<lat:double,lon:double>>",
    )
    imgs = spark.createDataFrame(
        pd.DataFrame(
            {
                "image_id": ["a", "b", "c", "d"],
                "lat": [5.0, 5.0, 5.0, 45.0],
                "lon": [5.0, 5.0, 5.0, 45.0],
                # a and b are near-identical; c is far: medoid must be
                # the smaller of {a, b}
                "phash": [0, 1, (1 << 40) - 1, 7],
            }
        )
    )
    out = {r["polygon_id"]: r for r in region_medoid(imgs, polys, res=6).collect()}
    # sums: a -> d(a,b)=1 + d(a,c)=40 = 41; b -> 1 + 39 = 40 (c's low
    # bit matches b's): b is the medoid
    assert out["P1"]["medoid_id"] == "b" and out["P1"]["n_images"] == 3
    assert out["P1"]["sum_hamming"] == 40
    assert out["P2"]["medoid_id"] == "d" and out["P2"]["sum_hamming"] == 0
    with pytest.raises(ValueError, match="occupancy"):
        region_medoid(imgs, polys, res=6, max_per_region=2)


def _ev(spark, rows):
    pdf = pd.DataFrame(rows, columns=["user_id", "epoch", "event_id", "lat", "lon"])
    return spark.createDataFrame(pdf).select(
        "user_id",
        F.timestamp_seconds("epoch").alias("ts"),
        "event_id", "lat", "lon",
    )


def test_line_density_crosses_intermediate_cells(spark):
    from langtoolsosm_spark.functions.cells import tile_key
    from langtoolsosm_spark.operators.spatial import line_density

    # one horizontal move spanning 3 cells at res 4 (cells 22.5 deg):
    # ix 5 -> ix 8 passes ix 6 and 7 even with no ping there
    rows = [(1, 0, 0, 5.0, -56.0), (1, 1, 1, 5.0, 16.0)]
    out = {r["tile"]: r for r in line_density(
        _ev(spark, rows), "user_id", "ts", res=4, order_tiebreak="event_id"
    ).collect()}
    tiles = {
        int(tile_key(np.array([5.0]), np.array([lo]), 4)[0])
        for lo in (-56.0, -33.0, -10.0, 16.0)
    }
    assert set(out) == tiles and len(out) == 4
    assert all(r["n_segments"] == 1 and r["n_entities"] == 1 for r in out.values())

    # same-cell jitter: one cell, counted once per segment
    rows2 = [(2, 0, 2, 5.0, -56.0), (2, 1, 3, 5.1, -56.1)]
    out2 = line_density(
        _ev(spark, rows2), "user_id", "ts", res=4, order_tiebreak="event_id"
    ).collect()
    assert len(out2) == 1 and out2[0]["n_segments"] == 1


def test_embedding_dim_stats_moments(spark):
    from langtoolsosm_spark.operators.similarity import embedding_dim_stats

    emb = spark.createDataFrame(
        [(1, [0.0, 1.0]), (2, [0.0, 3.0]), (3, [0.0, 2.0])],
        "vec_id long, embedding array<float>",
    )
    out = {r["dim"]: r for r in embedding_dim_stats(emb).collect()}
    d0 = out[0]
    assert d0["n"] == 3 and d0["s"] == 0 and d0["var_num"] == 0  # dead dim
    d1 = out[1]
    # xq = 1000, 3000, 2000: n*sq - s^2 = 3*14e6 - 36e6 = 6e6
    assert d1["s"] == 6000 and d1["var_num"] == 6_000_000
    assert d1["min_q"] == 1000 and d1["max_q"] == 3000


def test_msd_curve_ballistic_walker(spark):
    from langtoolsosm_spark.operators.spatial import msd_curve

    # straight-line walker, 1 micro-deg east per step: MSD(k) = k^2
    rows = [(1, i, i, 0.0, i * 1e-6) for i in range(6)]
    out = {r["lag_k"]: r for r in msd_curve(
        _ev(spark, rows), "user_id", "ts", max_lag=3,
        order_tiebreak="event_id",
    ).collect()}
    assert out[1]["n_pairs"] == 5 and out[1]["sum_disp2"] == 5 * 1
    assert out[2]["n_pairs"] == 4 and out[2]["sum_disp2"] == 4 * 4
    assert out[3]["n_pairs"] == 3 and out[3]["sum_disp2"] == 3 * 9
    with pytest.raises(ValueError, match="max_lag"):
        msd_curve(_ev(spark, rows), "user_id", "ts", max_lag=0)


def test_degree_assortativity_star_vs_clique(spark):
    from langtoolsosm_spark.operators.graphs import degree_assortativity

    # star K_{1,3}: perfectly disassortative (r = -1)
    star = spark.createDataFrame(
        [(0, 1), (0, 2), (0, 3)], "a long, b long"
    )
    r = degree_assortativity(star).collect()[0]
    # degrees: hub 3, leaves 1; per edge (3,1): sp=9, sd=12, ss=30
    assert r["n_edges"] == 3 and r["sum_prod"] == 9 and r["sum_deg"] == 12
    assert r["r_num"] == 4 * 3 * 9 - 144 == -36
    assert r["r_den"] == 2 * 3 * 30 - 144 == 36
    assert r["r_num"] == -r["r_den"]  # r = -1 exactly

    # triangle: all degrees equal -> r_den = 0 (degenerate, caller's div)
    tri = spark.createDataFrame([(1, 2), (1, 3), (2, 3)], "a long, b long")
    rt = degree_assortativity(tri).collect()[0]
    assert rt["r_num"] == 0 and rt["r_den"] == 0


def test_stream_line_density_parity_and_order_guard(spark, tmp_path):
    import os

    from langtoolsosm_spark.operators.spatial import line_density
    from langtoolsosm_spark.streaming.microbatch import (
        run_line_density_stream_once,
    )

    rng = np.random.RandomState(11)
    rows = []
    eid = 0
    for u in (1, 2, 3):
        lat0, lon0 = 40.0, 0.0
        for step in range(12):
            lat0 += rng.uniform(-2, 2)
            lon0 += rng.uniform(-4, 4)
            rows.append((u, step * 100, eid, lat0, lon0))
            eid += 1
    pdf = pd.DataFrame(rows, columns=["user_id", "epoch", "event_id", "lat", "lon"])
    pdf["ts"] = pd.to_datetime(pdf["epoch"], unit="s").astype("datetime64[us]")
    staged = pdf.sort_values(["ts", "event_id"], kind="mergesort")[
        ["user_id", "ts", "event_id", "lat", "lon"]
    ]
    src = tmp_path / "src"
    src.mkdir()
    n = len(staged)
    for i in range(3):
        p = src / f"b{i}.parquet"
        staged.iloc[i * n // 3 : (i + 1) * n // 3].to_parquet(p, index=False)
        os.utime(p, (1000 * (i + 1), 1000 * (i + 1)))
    streamed = {
        r["tile"]: (r["n_segments"], r["n_entities"])
        for r in run_line_density_stream_once(
            spark, str(src), str(tmp_path / "ckpt"), res=6
        ).collect()
    }
    batch = {
        r["tile"]: (r["n_segments"], r["n_entities"])
        for r in line_density(
            _ev(spark, [tuple(r) for r in pdf[
                ["user_id", "epoch", "event_id", "lat", "lon"]
            ].itertuples(index=False)]),
            "user_id", "ts", res=6, order_tiebreak="event_id",
        ).collect()
    }
    assert streamed == batch and len(batch) >= 3


def test_doc_scorecard_keep_rule(spark):
    from langtoolsosm_spark.operators.textstats import doc_scorecard

    long_ok = " ".join(f"w{i}" for i in range(30))
    loopy = " ".join(["spam ham"] * 20)          # heavy 3-gram repetition
    # doc 4 shares only doc 1's first 10 tokens: 3 of each doc's
    # windows are cross-doc duplicates — under the 500-milli cap
    partial = " ".join(f"w{i}" for i in range(10)) + " " + " ".join(
        f"z{i}" for i in range(20)
    )
    docs = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [1, 2, 3, 4],
                "text": [long_ok, loopy, "too short", partial],
            }
        )
    )
    out = {r["doc_id"]: r for r in doc_scorecard(docs).collect()}
    assert out[1]["keep"] and out[1]["tokens"] == 30
    assert not out[2]["keep"] and out[2]["rep_milli"] > 200
    assert not out[3]["keep"] and out[3]["dup_milli"] == 0  # short: no windows
    # 3 shared windows of 23 each -> 130 milli: both survive the cap
    assert out[1]["dup_milli"] == 130 and out[4]["dup_milli"] == 130
    assert out[4]["keep"]


def test_majority_pyramid_votes_and_ties(spark):
    from langtoolsosm_spark.functions.cells import tile_key
    from langtoolsosm_spark.operators.tiling import majority_pyramid

    # res 2 -> 1: one res-1 cell holds 4 res-2 children. Children get
    # modes B, B, A, A (tie at the parent) -> parent mode 'A' (smaller)
    cells = [
        (5.0, -125.0), (5.0, -35.0),    # (ix,iy) = (0,2), (1,2)
        (50.0, -125.0), (50.0, -35.0),  # (0,3), (1,3) — same res-1 parent
    ]
    rows = []
    # child 0/1: B wins 2-1 over A; child 2/3: A wins
    for lat, lon in cells[:2]:
        rows += [("B", lat, lon), ("B", lat, lon), ("A", lat, lon)]
    for lat, lon in cells[2:]:
        rows += [("A", lat, lon), ("A", lat, lon), ("B", lat, lon)]
    df = spark.createDataFrame(
        pd.DataFrame(rows, columns=["event_type", "lat", "lon"])
    )
    out = majority_pyramid(df, "event_type", res_hi=2, res_lo=1).collect()
    assert len(out) == 1
    r = out[0]
    assert r["mode"] == "A"  # 2-2 tie, lexicographic min
    assert r["n_children"] == 4 and r["n_votes"] == 2
    # parent index check: all four points share the res-1 cell
    t1 = {int(x) for x in tile_key(
        np.array([c[0] for c in cells]), np.array([c[1] for c in cells]), 1
    )}
    assert r["tile"] in t1 and len(t1) == 1
    with pytest.raises(ValueError, match="res_lo"):
        majority_pyramid(df, "event_type", res_hi=2, res_lo=2)


def test_tile_autocov_periodic_vs_flat(spark):
    from langtoolsosm_spark.operators.tiling import tile_autocov

    # one cell, 6-day span: alternating 2,0,2,0,2,0 (period 2) — lag 2
    # covariance positive, lag 1 negative
    rows = []
    for d in (0, 2, 4):
        rows += [(d * 86400 + 1, 10.0, 10.0)] * 2
    df = spark.createDataFrame(
        pd.DataFrame(rows, columns=["epoch", "lat", "lon"])
    ).select(F.timestamp_seconds("epoch").alias("ts"), "lat", "lon")
    out = {r["lag_k"]: r for r in tile_autocov(df, res=4, max_lag=2).collect()}
    # span d0=0, d1=4 -> D=5. lag1: n=4, prod=0, head=c0..c3=4, tail=c1..c4=4
    assert out[1]["n_terms"] == 4 and out[1]["sum_prod"] == 0
    assert out[1]["cov_num"] == 4 * 0 - 4 * 4 == -16
    # lag2: n=3, prod = c0*c2 + c2*c4 = 8, head = c0+c1+c2 = 4, tail = 4
    assert out[2]["sum_prod"] == 8 and out[2]["cov_num"] == 3 * 8 - 16 == 8
    with pytest.raises(ValueError, match="max_lag"):
        tile_autocov(df, res=4, max_lag=0)


def test_tile_trend_exact_slope(spark):
    from langtoolsosm_spark.operators.tiling import tile_trend

    # one cell, value rises 1.0/day over days 0..3: slope = 1000 milli/day
    rows = [(d * 86400 + 10, float(d), 10.0, 10.0) for d in range(4)]
    df = spark.createDataFrame(
        pd.DataFrame(rows, columns=["epoch", "value", "lat", "lon"])
    ).select(F.timestamp_seconds("epoch").alias("ts"), "value", "lat", "lon")
    r = tile_trend(df, res=4).collect()[0]
    # t = 0..3, y = 0,1000,2000,3000: num = 4*14000 - 6*6000 = 20000,
    # den = 4*14 - 36 = 20 -> slope 1000 exactly
    assert r["n_events"] == 4 and r["slope_num"] == 20000 and r["slope_den"] == 20
    assert r["slope_num"] // r["slope_den"] == 1000


def test_stream_tile_trend_parity(spark, tmp_path):
    import os

    from langtoolsosm_spark.operators.tiling import tile_trend
    from langtoolsosm_spark.streaming.microbatch import (
        run_tile_trend_stream_once,
    )

    # two cells far apart: one rising 0.5/day, one falling 2.0/day
    rows = []
    for d in range(6):
        rows.append((d * 86400 + 5, 0.5 * d, 10.0, 10.0))
        rows.append((d * 86400 + 7, 12.0 - 2.0 * d, -40.0, 120.0))
    pdf = pd.DataFrame(rows, columns=["epoch", "value", "lat", "lon"])
    pdf["ts"] = pd.to_datetime(pdf["epoch"], unit="s").astype("datetime64[us]")
    staged = pdf[["ts", "value", "lat", "lon"]]
    src = tmp_path / "src"
    src.mkdir()
    # maximal disorder: round-robin rows over 3 micro-batch files
    for i in range(3):
        p = src / f"b{i}.parquet"
        staged.iloc[i::3].to_parquet(p, index=False)
        os.utime(p, (1000 * (i + 1), 1000 * (i + 1)))
    streamed = {
        r["tile"]: (r["n_events"], r["slope_num"], r["slope_den"])
        for r in run_tile_trend_stream_once(
            spark, str(src), str(tmp_path / "ckpt"), res=5
        ).collect()
    }
    df = spark.createDataFrame(staged)
    batch = {
        r["tile"]: (r["n_events"], r["slope_num"], r["slope_den"])
        for r in tile_trend(df, res=5).collect()
    }
    assert streamed == batch and len(batch) == 2
    for n, num, den in batch.values():
        assert n == 6 and den > 0
    slopes = sorted(num / den for _, num, den in batch.values())
    assert slopes == [-2000.0, 500.0]


def test_knox_stat_exact_and_gate(spark):
    from langtoolsosm_spark.operators.spatial import knox_stat

    # 4 events: a/b close in space AND time; a/c close in space only
    # (far in time); a/d close in time only (far in space); b..d mutual
    # relations chosen so every margin is hand-countable.
    rows = [
        (1, 0, 10.0000, 10.0000),      # a
        (2, 50, 10.00005, 10.00005),   # b: ~5 micro from a, dt=50
        (3, 10_000, 10.00008, 10.0),   # c: close to a,b in space; far in t
        (4, 60, 20.0, 20.0),           # d: far in space; close to a,b in t
    ]
    pdf = pd.DataFrame(rows, columns=["event_id", "epoch", "lat", "lon"])
    df = spark.createDataFrame(pdf).select(
        "event_id", F.timestamp_seconds("epoch").alias("ts"), "lat", "lon"
    )
    r = knox_stat(df, ds_micro=1000, dt_sec=100).collect()[0]
    # space-close: (a,b), (a,c), (b,c) -> ns=3
    # time-close:  (a,b), (a,d), (b,d) -> nt=3
    # both:        (a,b)              -> nst=1
    assert (r["n_events"], r["ns_pairs"], r["nt_pairs"], r["nst_pairs"]) == (
        4, 3, 3, 1
    )
    assert (r["e_num"], r["e_den"]) == (2 * 3 * 3, 4 * 3)
    # occupancy gate fires loudly on a hot cell
    with pytest.raises(ValueError, match="max_cell"):
        knox_stat(df, ds_micro=1000, dt_sec=100, max_cell=1).collect()
    with pytest.raises(ValueError, match="ds_micro"):
        knox_stat(df, ds_micro=0, dt_sec=100)


def _knox_brute(rows, ds, dt):
    """All-pairs NumPy (n, ns, nt, nst) over (event_id, epoch, lat, lon)
    rows: space pairs need distinct ids (the oracle's a.id < b.id over
    the 9-fan), time pairs count every unordered pair of rows."""
    if not rows:
        return 0, 0, 0, 0
    ids, t, lat, lon = (np.array(c) for c in zip(*rows))
    x = np.floor(lat.astype(np.float64) * 1_000_000.0).astype(np.int64)
    y = np.floor(lon.astype(np.float64) * 1_000_000.0).astype(np.int64)
    i, j = np.triu_indices(len(rows), 1)
    s = (
        (np.abs(x[i] - x[j]) <= ds)
        & (np.abs(y[i] - y[j]) <= ds)
        & (ids[i] != ids[j])
    )
    tm = np.abs(t[i] - t[j]) <= dt
    return len(rows), int(s.sum()), int(tm.sum()), int((s & tm).sum())


def test_knox_stat_matches_brute_force(spark):
    from langtoolsosm_spark.operators.spatial import knox_stat

    # ds = 1e6 / 64 micro-degrees: every k/64-degree coordinate is an
    # exact float, lies exactly on a cell edge (180e6 is a multiple of
    # ds), and grid neighbors are exactly ds apart
    ds, dt = 15_625, 100
    rng = np.random.default_rng(7)
    rows = []
    # lattice on cell edges, plus one point 1 micro past the ds boundary
    for i in range(4):
        for j in range(4):
            rows.append((len(rows), 50 * (i + j), 10 + i / 64, 20 + j / 64))
    rows.append((len(rows), 300, 10 + 4 / 64 + 1.5e-6, 20.0))
    # negative lat/lon around the equator and the prime meridian, where
    # floor (not truncation) of the micro-degrees decides the cell
    for v in (-0.0000005, 0.0, -1 / 64, -2 / 64 - 0.0000005, -3 / 64):
        rows.append((len(rows), int(rng.integers(0, 400)), v, v / 2))
        rows.append((len(rows), int(rng.integers(0, 400)), -30 + v, -40 - v))
    # duplicate ids: same coordinates, same cell, and a neighboring cell
    rows += [
        (900, 0, 30.0, 30.0), (900, 10, 30.0, 30.0),
        (900, 20, 30.0 + 1 / 128, 30.0), (900, 30, 30.0 - 1 / 128, 30.0),
        (901, 40, 30.0, 30.0 + 1 / 256), (901, 40, 30.0 - 1 / 256, 30.0 - 1 / 128),
    ]
    # isolated point: its forward fan lands in cells with no home rows
    rows.append((len(rows) + 1000, 0, 50.0, 50.0))
    # one hot cell beside sparse neighbors
    hot = rng.uniform(0, 1 / 64, size=(80, 2))
    for a, b in hot:
        rows.append((len(rows) + 1000, int(rng.integers(0, 400)), 40 + a, 5 + b))
    for a, b in rng.uniform(-1 / 64, 2 / 64, size=(6, 2)):
        rows.append((len(rows) + 1000, int(rng.integers(0, 400)), 40 + a, 5 + b))

    want = _knox_brute(rows, ds, dt)
    # the fixture really has pairs at exactly ds and at ds + 1
    x = np.floor(np.array([r[2] for r in rows]) * 1_000_000.0).astype(np.int64)
    gaps = set(np.abs(x[:, None] - x[None, :]).ravel().tolist())
    assert {ds, ds + 1} <= gaps

    def frame(rs):
        pdf = pd.DataFrame(rs, columns=["event_id", "epoch", "lat", "lon"])
        return spark.createDataFrame(
            pdf, "event_id long, epoch long, lat double, lon double"
        ).select(
            "event_id", F.timestamp_seconds("epoch").alias("ts"), "lat", "lon"
        )

    def got(rs):
        r = knox_stat(frame(rs), ds_micro=ds, dt_sec=dt).collect()
        assert len(r) == 1
        r = r[0]
        n = r["n_events"]
        assert (r["e_num"], r["e_den"]) == (
            2 * r["ns_pairs"] * r["nt_pairs"], n * (n - 1)
        )
        return n, r["ns_pairs"], r["nt_pairs"], r["nst_pairs"]

    assert want[1] > 0 and want[3] > 0
    assert got(rows) == want
    # cells straddle Arrow batches: the kernel carries the trailing cell
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    try:
        spark.conf.set(key, "7")
        assert got(rows) == want
    finally:
        spark.conf.set(key, old)
    # one event and no event: zero counts, never NULL
    assert got(rows[:1]) == (1, 0, 0, 0)
    assert got([]) == (0, 0, 0, 0)


def test_blur_scores_flat_vs_textured(spark):
    from langtoolsosm_spark.functions import imagecodec as ic
    from langtoolsosm_spark.operators.images import blur_scores

    flat = np.full((8, 8, 3), 128, dtype=np.uint8)          # zero Laplacian
    checker = np.zeros((8, 8, 3), dtype=np.uint8)           # max texture
    checker[(np.indices((8, 8)).sum(axis=0) % 2) == 1] = 255
    tiny = np.full((2, 5, 3), 7, dtype=np.uint8)            # no interior
    rows = [
        ("flat", ic.encode_raw(flat), "raw"),
        ("checker", ic.encode_raw(checker), "raw"),
        ("tiny", ic.encode_raw(tiny), "raw"),
    ]
    out = {
        r["image_id"]: r
        for r in blur_scores(
            spark.createDataFrame(rows, "image_id string, bytes binary, fmt string")
        ).collect()
    }
    assert out["flat"]["var_num"] == 0 and out["flat"]["is_sharp"] == 0
    assert out["tiny"]["n_int"] == 0 and out["tiny"]["is_sharp"] == 0
    # checkerboard: every interior Laplacian is +-8*255 of the luminance
    # contrast; variance is enormous -> sharp
    ck = out["checker"]
    assert ck["n_int"] == 36 and ck["is_sharp"] == 1
    assert ck["var_num"] == ck["n_int"] * ck["sum_lap2"] - ck["sum_lap"] ** 2
    with pytest.raises(ValueError, match="min_var"):
        blur_scores(spark.createDataFrame(rows, "image_id string, bytes binary, fmt string"), min_var=-1)


def test_containment_pairs_asymmetric(spark):
    from langtoolsosm_spark.operators.dedup import containment_pairs

    quote = "alpha beta gamma delta epsilon"
    page = quote + " " + " ".join(f"filler{i}" for i in range(40))
    docs = spark.createDataFrame(
        [(1, quote, "s"), (2, page, "s"), (3, "zeta eta theta", "s")],
        "doc_id long, text string, source string",
    )
    rows = {(r["contained"], r["container"]): r["cont_milli"]
            for r in containment_pairs(docs, threshold_milli=800).collect()}
    # the quote is fully inside the page -> C(1 in 2) = 1000; the reverse
    # direction is 5/45 and must NOT appear; doc 3 shares nothing
    assert rows == {(1, 2): 1000}
    # prefix filter output == naive output
    naive = {(r["contained"], r["container"]): r["cont_milli"]
             for r in containment_pairs(
                 docs, threshold_milli=800, prefix_filter=False).collect()}
    assert naive == rows
    with pytest.raises(ValueError, match="threshold_milli"):
        containment_pairs(docs, threshold_milli=0)


def test_frechet_dist_order_sensitivity(spark):
    from langtoolsosm_spark.operators.spatial import frechet_dist

    # entity 1 and 2 walk the SAME five cells, entity 2 in reverse order;
    # entity 3 shadows entity 1 exactly. Hausdorff(1,2)=0 but Fréchet is
    # the full path span; Fréchet(1,3)=0.
    path = [(10.0 + 0.001 * i, 20.0) for i in range(5)]
    rows = []
    for i, (la, lo) in enumerate(path):
        rows.append((1, i * 10, 100 + i, la, lo))
        rows.append((3, i * 10, 300 + i, la, lo))
    for i, (la, lo) in enumerate(reversed(path)):
        rows.append((2, i * 10, 200 + i, la, lo))
    df = spark.createDataFrame(
        pd.DataFrame(rows, columns=["user_id", "epoch", "event_id", "lat", "lon"])
    ).select(
        "user_id", F.timestamp_seconds("epoch").alias("ts"), "event_id",
        "lat", "lon",
    )
    pairs = spark.createDataFrame([(1, 2), (1, 3)], "a long, b long")
    out = {(r["a"], r["b"]): r["frechet_d"]
           for r in frechet_dist(df, pairs).collect()}
    # reversed path: the leash starts at the full 4-milli-degree span
    # (A's first frame pairs with B's first = A's last) = 4000 micro-deg
    def brute(A, B):
        import numpy as np
        d = np.maximum(np.abs(A[:, 0][:, None] - B[:, 0][None, :]),
                       np.abs(A[:, 1][:, None] - B[:, 1][None, :]))
        n, m = d.shape
        c = np.zeros((n, m), dtype=np.int64)
        for i in range(n):
            for j in range(m):
                opts = ([c[i-1, j]] if i else []) + ([c[i, j-1]] if j else []) \
                    + ([c[i-1, j-1]] if i and j else [])
                c[i, j] = max(d[i, j], min(opts)) if opts else d[i, j]
        return int(c[-1, -1])
    A = np.array([(int(la * 1e6), int(lo * 1e6)) for la, lo in path])
    assert out[(1, 3)] == 0
    assert out[(1, 2)] == brute(A, A[::-1]) == 4000
    with pytest.raises(ValueError, match="max_len"):
        frechet_dist(df, pairs, max_len=2).collect()


def test_dtw_vs_frechet_semantics(spark):
    from langtoolsosm_spark.operators.spatial import dtw_dist, frechet_dist

    # entity 1: flat path; entity 2: same but ONE spike in the middle.
    # Fréchet = spike height (worst moment); DTW = spike height too but
    # a second small wobble adds to DTW while Fréchet ignores it.
    rows = []
    for i in range(5):
        rows.append((1, i * 10, 100 + i, 10.0, 20.0))
    spikes = [0, 0, 5000, 0, 1]          # micro-degree lat offsets
    for i, sp in enumerate(spikes):
        rows.append((2, i * 10, 200 + i, 10.0 + sp / 1e6, 20.0))
    df = spark.createDataFrame(
        pd.DataFrame(rows, columns=["user_id", "epoch", "event_id", "lat", "lon"])
    ).select(
        "user_id", F.timestamp_seconds("epoch").alias("ts"), "event_id",
        "lat", "lon",
    )
    pairs = spark.createDataFrame([(1, 2)], "a long, b long")
    fr = frechet_dist(df, pairs).collect()[0]
    dt = dtw_dist(df, pairs).collect()[0]
    assert fr["frechet_d"] == 5000          # worst moment only
    assert dt["dtw_d"] == 5001              # spike + the 1-micro wobble
    with pytest.raises(ValueError, match="mode"):
        frechet_dist(df, pairs, mode="banana")


def test_tile_bimodality_rush_hours_vs_uniform(spark):
    from langtoolsosm_spark.operators.tiling import tile_bimodality

    rows = []
    # cell A (10,10): two rush hours 8 and 17, 6 events each -> bimodal
    for i in range(6):
        rows.append((8 * 3600 + i, 10.0, 10.0))
        rows.append((17 * 3600 + i, 10.0, 10.0))
    # cell B (-40,120): all 24 hours once -> uniform, b ~ 5/9
    for h in range(24):
        rows.append((h * 3600, -40.0, 120.0))
    # cell C: single hour only -> m2 = 0 -> NULL bc
    for i in range(8):
        rows.append((5 * 3600 + i, 60.0, -60.0))
    pdf = pd.DataFrame(rows, columns=["epoch", "lat", "lon"])
    df = spark.createDataFrame(pdf).select(
        F.timestamp_seconds("epoch").alias("ts"), "lat", "lon"
    )
    out = {(r["n_events"]): r for r in tile_bimodality(df, res=4).collect()}
    a, b, c = out[12], out[24], out[8]
    # two equal point masses: skew 0, kurtosis 1 -> b = 1.0 exactly
    assert a["bc_milli"] == 1000
    # discrete uniform over 24 values: b = (0 + 1)/kurt; kurt ~ 1.79 ->
    # b ~ 0.558 (the 5/9 signature, exact value from integer algebra)
    assert 500 <= b["bc_milli"] <= 600
    assert c["bc_milli"] is None and c["m2n"] == 0


def test_lacunarity_clumped_vs_uniform(spark):
    from langtoolsosm_spark.operators.tiling import lacunarity_curve

    # res 4 grid over a 4x4-cell bounding box near (10,10): cell side is
    # 360/16 = 22.5 deg lon, 180/16 = 11.25 deg lat
    def cell_pt(cx, cy):
        return (-90.0 + 11.25 * cy + 1.0, -180.0 + 22.5 * cx + 1.0)

    uni, clump = [], []
    for cx in range(8, 12):
        for cy in range(8, 12):
            uni.append(cell_pt(cx, cy))               # 1 event/cell
    for i in range(16):
        clump.append(cell_pt(8, 8))                   # all 16 in one cell
    clump.append(cell_pt(11, 11))                     # pin the same bbox
    for name, pts, nev in (("uni", uni, 16), ("clump", clump, 17)):
        df = spark.createDataFrame(
            pd.DataFrame(pts, columns=["lat", "lon"])
        )
        out = {r["box_r"]: r for r in lacunarity_curve(df, res=4).collect()}
        assert set(out) == {1, 2, 4}
        r1 = out[1]
        assert r1["n_boxes"] == 16 and r1["sum_s"] == nev
        if name == "uni":
            # perfectly even field: Lambda(1) = 16*16/256 = 1 exactly
            assert r1["lac_num"] == r1["lac_den"]
        else:
            # one 16-mass cell + one 1-mass cell: Lambda(1) =
            # 16*(256+1)/289 ~ 14.2 >> 1
            assert r1["lac_num"] > 10 * r1["lac_den"]
    with pytest.raises(ValueError, match="box sizes"):
        lacunarity_curve(df, res=4, box_sizes=(0,))


def test_raster_slope_aspect_gradient(spark):
    from langtoolsosm_spark.operators.tiling import raster_slope_aspect

    # res 4: cells are 22.5 x 11.25 deg. Build a west->east ramp of
    # counts 1,2,3 in three adjacent cells on one row, plus an isolated
    # far cell (flat).
    def cell_pt(cx, cy):
        return (-90.0 + 11.25 * cy + 1.0, -180.0 + 22.5 * cx + 1.0)

    rows = []
    for k, cx in enumerate((6, 7, 8)):
        rows += [cell_pt(cx, 8)] * (k + 1)
    rows.append(cell_pt(14, 14))
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["lat", "lon"]))
    out = {(r["ix"], r["iy"]): r for r in raster_slope_aspect(df, res=4).collect()}
    mid = out[(7, 8)]
    # neighbors of the middle cell: east col sums 3 (x2 weight -> 6),
    # west col 1 (x2 -> 2): gx = 6 - 2 = 4; no north/south rows: gy = 0
    assert (mid["gx"], mid["gy"], mid["mag2"], mid["octant"]) == (4, 0, 16, 0)
    iso = out[(14, 14)]
    assert (iso["gx"], iso["gy"], iso["octant"]) == (0, 0, -1)
    # west edge of the ramp points downhill west->east symmetric: its
    # east neighbor holds 2 (x2) -> gx = 4, octant 0 too; east edge
    # mirrors with gx = -(2*2)+... = sees west col 2 (x2 -> 4): gx = -4
    assert out[(6, 8)]["gx"] == 4 and out[(8, 8)]["gx"] == -4
    assert out[(8, 8)]["octant"] == 4


def test_variogram_anisotropy_striped_field(spark):
    from langtoolsosm_spark.operators.spatial import variogram_anisotropy

    # res 4, a 4x4 block where count alternates 1/5 by COLUMN: E-W
    # differences are +-4 everywhere, N-S differences are 0 -> all
    # variance on the E-W axis
    def cell_pt(cx, cy):
        return (-90.0 + 11.25 * cy + 1.0, -180.0 + 22.5 * cx + 1.0)

    rows = []
    for cx in range(8, 12):
        for cy in range(8, 12):
            rows += [cell_pt(cx, cy)] * (5 if cx % 2 else 1)
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["lat", "lon"]))
    r = variogram_anisotropy(df, res=4).collect()[0]
    assert (r["n_ew"], r["n_ns"]) == (12, 12)
    assert r["sse_ew"] == 12 * 16 and r["sse_ns"] == 0
    assert r["aniso_num"] == 12 * 16 * 12 and r["aniso_den"] == 0
    with pytest.raises(ValueError, match="lag"):
        variogram_anisotropy(df, res=4, lag=0)


def test_banding_scores_periodic_rows(spark):
    from langtoolsosm_spark.functions import imagecodec as ic
    from langtoolsosm_spark.operators.images import banding_scores

    # 8x4 frame with rows alternating dark/bright (period 2): lag-2
    # autocovariance positive, lag-1 negative; a flat frame scores 0
    band = np.zeros((8, 4, 3), dtype=np.uint8)
    band[1::2] = 200
    flat = np.full((8, 4, 3), 50, dtype=np.uint8)
    rows = [("band", ic.encode_raw(band), "raw"),
            ("flat", ic.encode_raw(flat), "raw")]
    out = {(r["image_id"], r["lag_k"]): r["cov_num"]
           for r in banding_scores(
               spark.createDataFrame(
                   rows, "image_id string, bytes binary, fmt string")
           ).collect()}
    assert out[("band", 1)] < 0 and out[("band", 2)] > 0
    assert out[("flat", 1)] == out[("flat", 2)] == out[("flat", 3)] == 0
    with pytest.raises(ValueError, match="lags"):
        banding_scores(spark.createDataFrame(
            rows, "image_id string, bytes binary, fmt string"), lags=(0,))


def test_simplify_dp_shape_extremes(spark):
    from langtoolsosm_spark.operators.spatial import simplify_dp

    # straight line with ONE spike at idx 3 and a sub-eps wiggle at 6:
    # DP keeps endpoints + the spike + the spike's chord neighbors (2
    # and 4 deviate from the post-split chords), drops the wiggle and
    # every collinear point
    pts = [(i * 1000, 0) for i in range(10)]
    pts[3] = (3000, 5000)       # spike: 5000 micro perpendicular
    pts[6] = (6000, 40)         # wiggle: 40 micro < eps
    rows = [
        (1, i * 10, 100 + i, x / 1e6, y / 1e6)
        for i, (x, y) in enumerate(pts)
    ]
    df = spark.createDataFrame(
        pd.DataFrame(rows, columns=["user_id", "epoch", "event_id", "lat", "lon"])
    ).select(
        "user_id", F.timestamp_seconds("epoch").alias("ts"), "event_id",
        "lat", "lon",
    )
    kept = sorted(
        r["idx"] for r in simplify_dp(df, eps_micro=100).collect()
    )
    assert kept == [0, 2, 3, 4, 9]
    # eps 0 keeps every non-collinear point (the wiggle survives)
    kept0 = sorted(r["idx"] for r in simplify_dp(df, eps_micro=0).collect())
    assert 6 in kept0 and kept0[0] == 0 and kept0[-1] == 9
    with pytest.raises(ValueError, match="eps_micro"):
        simplify_dp(df, eps_micro=-1)


def test_path_crossings_predicate(spark):
    from langtoolsosm_spark.operators.spatial import path_crossings

    rows = []
    # entity 1: west->east along lat 10; entity 2: south->north crossing
    # it once; entity 3: parallel to 1 (never crosses); entity 4 TOUCHES
    # entity 1 at an endpoint (no proper crossing)
    for i, lon in enumerate((19.0, 21.0)):
        rows.append((1, i * 10, 100 + i, 10.0, lon))
    for i, lat_ in enumerate((9.0, 11.0)):
        rows.append((2, i * 10, 200 + i, lat_, 20.0))
    for i, lon in enumerate((19.0, 21.0)):
        rows.append((3, i * 10, 300 + i, 12.0, lon))
    rows.append((4, 0, 400, 10.0, 21.0))     # starts ON 1's endpoint
    rows.append((4, 10, 401, 13.0, 22.0))
    df = spark.createDataFrame(
        pd.DataFrame(rows, columns=["user_id", "epoch", "event_id", "lat", "lon"])
    ).select(
        "user_id", F.timestamp_seconds("epoch").alias("ts"), "event_id",
        "lat", "lon",
    )
    pairs = spark.createDataFrame(
        [(1, 2), (1, 3), (1, 4)], "a long, b long"
    )
    out = {(r["a"], r["b"]): (r["n_seg_pairs"], r["n_crossings"])
           for r in path_crossings(df, pairs).collect()}
    assert out[(1, 2)] == (1, 1)
    assert out[(1, 3)] == (1, 0)
    assert out[(1, 4)] == (1, 0)     # endpoint touch is not proper


def test_freq_spectrum_octaves(spark):
    from langtoolsosm_spark.operators.textstats import freq_spectrum

    # "a" x8 (octave 3), "b" x3 and "c" x2 (octave 1), d,e hapax (oct 0)
    docs = spark.createDataFrame(
        [(1, "a a a a b d", "s"), (2, "a a a a b b c c e", "s")],
        "doc_id long, text string, source string",
    )
    out = {r["octave"]: (r["n_words"], r["n_tokens"])
           for r in freq_spectrum(docs).collect()}
    assert out == {0: (2, 2), 1: (2, 5), 3: (1, 8)}


def test_hotspot_profile_decay(spark):
    from langtoolsosm_spark.operators.tiling import hotspot_profile

    # one hot cell (20 events) with a single ring-1 neighbor (3) and a
    # ring-3 satellite (2); an isolated medium cell far away (5)
    def cell_pt(cx, cy):
        return (-90.0 + 11.25 * cy + 1.0, -180.0 + 22.5 * cx + 1.0)

    rows = [cell_pt(8, 8)] * 20 + [cell_pt(9, 8)] * 3 + \
        [cell_pt(11, 8)] * 2 + [cell_pt(2, 2)] * 5
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["lat", "lon"]))
    out = {(r["hot_ix"], r["hot_iy"], r["ring"]): (r["n_cells"], r["sum_cnt"])
           for r in hotspot_profile(df, res=4, top_k=2).collect()}
    # top-2 hot cells: (8,8) cnt 20 and (2,2) cnt 5
    assert out[(8, 8, 0)] == (1, 20)
    assert out[(8, 8, 1)] == (1, 3)
    assert out[(8, 8, 3)] == (1, 2)
    assert (8, 8, 2) not in out              # empty ring absent
    assert out[(2, 2, 0)] == (1, 5)
    with pytest.raises(ValueError, match="top_k"):
        hotspot_profile(df, res=4, top_k=0)


def test_map_match_viterbi_stickiness(spark):
    from langtoolsosm_spark.operators.spatial import (
        map_match_viterbi, snap_to_boundary,
    )

    # two parallel vertical borders at lon 10.0 (A) and 10.001 (B); a
    # trace that hugs A but has ONE sample nudged across the midline:
    # greedy snap ping-pongs to B for that sample, Viterbi holds A
    polys = spark.createDataFrame(
        [
            ("A", [{"lat": 0.0, "lon": 10.0}, {"lat": 1.0, "lon": 10.0}]),
            ("B", [{"lat": 0.0, "lon": 10.001}, {"lat": 1.0, "lon": 10.001}]),
        ],
        "polygon_id string, ring array<struct<lat:double,lon:double>>",
    )
    lons = [10.0001, 10.0002, 10.0008, 10.0002, 10.0001]  # idx 2 nudged
    rows = [
        (1, i * 10, 100 + i, 0.1 + 0.1 * i, lo) for i, lo in enumerate(lons)
    ]
    df = spark.createDataFrame(
        pd.DataFrame(rows, columns=["user_id", "epoch", "event_id", "lat", "lon"])
    ).select(
        "user_id", F.timestamp_seconds("epoch").alias("ts"), "event_id",
        "lat", "lon",
    )
    greedy = {
        r["point_id"]: r["polygon_id"]
        for r in snap_to_boundary(
            df.select(F.col("event_id").alias("point_id"), "lat", "lon"),
            polys,
        ).collect()
    }
    assert greedy[102] == "B"                     # greedy ping-pongs
    vit = {
        r["eid"]: r["polygon_id"]
        for r in map_match_viterbi(
            df, polys, lambda_switch=10_000_000
        ).collect()
    }
    assert set(vit.values()) == {"A"}             # Viterbi holds the line
    # with zero switch cost Viterbi degrades to greedy
    vit0 = {
        r["eid"]: r["polygon_id"]
        for r in map_match_viterbi(df, polys, lambda_switch=0).collect()
    }
    assert vit0[102] == "B" and vit0[100] == "A"
    with pytest.raises(ValueError, match="lambda_switch"):
        map_match_viterbi(df, polys, lambda_switch=-1)


def test_heading_persistence_modes(spark):
    from langtoolsosm_spark.operators.spatial import heading_persistence

    rows = []
    # entity 1 ballistic: straight east, equal steps -> sum_dot = sum_v2
    for i in range(5):
        rows.append((1, i * 10, 100 + i, 10.0, 20.0 + 0.001 * i))
    # entity 2 pacing: back and forth -> sum_dot = -sum_v2
    for i, lo in enumerate((20.0, 20.001, 20.0, 20.001)):
        rows.append((2, i * 10, 200 + i, 10.0, lo))
    df = spark.createDataFrame(
        pd.DataFrame(rows, columns=["user_id", "epoch", "event_id", "lat", "lon"])
    ).select(
        "user_id", F.timestamp_seconds("epoch").alias("ts"), "event_id",
        "lat", "lon",
    )
    out = {r["entity"]: r for r in heading_persistence(df).collect()}
    b = out[1]
    assert b["n_turns"] == 3 and b["sum_dot"] == b["sum_v2a"] == b["sum_v2b"]
    assert b["sum_dot"] == 3 * 1000 * 1000
    p = out[2]
    assert p["n_turns"] == 2 and p["sum_dot"] == -p["sum_v2a"]


def test_centroid_drift_jump(spark):
    from langtoolsosm_spark.operators.tiling import centroid_drift

    rows = []
    # day 0: two events centered at (10, 20); day 1: centered at (12, 20)
    rows += [(5, 9.0, 20.0), (10, 11.0, 20.0)]
    rows += [(86400 + 5, 11.0, 20.0), (86400 + 9, 13.0, 20.0)]
    pdf = pd.DataFrame(rows, columns=["epoch", "lat", "lon"])
    df = spark.createDataFrame(pdf).select(
        F.timestamp_seconds("epoch").alias("ts"), "lat", "lon"
    )
    out = {r["day"]: r for r in centroid_drift(df).collect()}
    d0, d1 = out[0], out[1]
    assert d0["dx_num"] is None and d0["drift_den"] is None
    # dx = 12e6 - 10e6 = 2e6 micro: dx_num/den = (24e6*2 - 20e6*2)/4
    assert d1["dx_num"] // d1["drift_den"] == 2_000_000
    assert d1["dy_num"] == 0


def test_tile_isolation_censoring(spark):
    from langtoolsosm_spark.operators.tiling import tile_isolation

    def cell_pt(cx, cy):
        return (-90.0 + 11.25 * cy + 1.0, -180.0 + 22.5 * cx + 1.0)

    # pair of adjacent cells (nnd 1 each), one at ring 3 from them, one
    # beyond max_r from everything (censored to max_r+1)
    pts = [cell_pt(8, 8), cell_pt(9, 8), cell_pt(12, 8), cell_pt(1, 14)]
    df = spark.createDataFrame(pd.DataFrame(pts, columns=["lat", "lon"]))
    out = {(r["ix"], r["iy"]): r["nnd"]
           for r in tile_isolation(df, res=4, max_r=4).collect()}
    assert out[(8, 8)] == 1 and out[(9, 8)] == 1
    assert out[(12, 8)] == 3
    assert out[(1, 14)] == 5
    with pytest.raises(ValueError, match="max_r"):
        tile_isolation(df, res=4, max_r=0)


def test_vignette_scores_dark_border(spark):
    from langtoolsosm_spark.functions import imagecodec as ic
    from langtoolsosm_spark.operators.images import vignette_scores

    vig = np.full((8, 8, 3), 40, dtype=np.uint8)     # dark border
    vig[2:6, 2:6] = 200                              # bright center
    flat = np.full((8, 8, 3), 100, dtype=np.uint8)   # ratio exactly 1000
    black = np.zeros((4, 4, 3), dtype=np.uint8)      # sum_center 0 -> NULL
    rows = [("vig", ic.encode_raw(vig), "raw"),
            ("flat", ic.encode_raw(flat), "raw"),
            ("black", ic.encode_raw(black), "raw")]
    out = {r["image_id"]: r for r in vignette_scores(
        spark.createDataFrame(rows, "image_id string, bytes binary, fmt string")
    ).collect()}
    v = out["vig"]
    assert v["n_center"] == 16 and v["n_border"] == 48
    assert v["vign_milli"] == 1000 * 40 // 200 == 200
    assert v["is_vignetted"] == 1
    f = out["flat"]
    assert f["vign_milli"] == 1000 and f["is_vignetted"] == 0
    b = out["black"]
    assert b["vign_milli"] is None and b["is_vignetted"] == 0
    with pytest.raises(ValueError, match="max_milli"):
        vignette_scores(spark.createDataFrame(
            rows, "image_id string, bytes binary, fmt string"), max_milli=1001)


def test_embedding_norm_audit_tails(spark):
    from langtoolsosm_spark.operators.similarity import embedding_norm_audit

    # 100 unit-ish vectors plus one dead (zero) and one blown-up vector
    rows = [(i, [0.1, 0.2]) for i in range(100)]
    rows.append((100, [0.0, 0.0]))          # dead -> bottom tail
    rows.append((101, [9.0, 9.0]))          # blown -> top tail
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = {r["id"]: r for r in embedding_norm_audit(df, tail_milli=10).collect()}
    assert out[100]["norm2_q"] == 0 and out[100]["is_outlier"] == 1
    assert out[101]["norm2_q"] == 2 * 9000 * 9000
    assert out[101]["is_outlier"] == 1
    assert sum(r["is_outlier"] for r in out.values()) == 2
    assert out[100]["rank"] == 1 and out[101]["rank"] == 102
    with pytest.raises(ValueError, match="tail_milli"):
        embedding_norm_audit(df, tail_milli=0)


def test_temporal_drift_regime_boundary(spark):
    from langtoolsosm_spark.operators.tiling import temporal_drift

    def cell_pt(cx, cy):
        return (-90.0 + 11.25 * cy + 1.0, -180.0 + 22.5 * cx + 1.0)

    rows = []
    # cell A: morning-only (hour 8); east neighbor B: night-only (22):
    # orthogonal profiles -> dot 0. B's east neighbor C: also night ->
    # dot = counts product
    for i in range(4):
        la, lo = cell_pt(8, 8); rows.append((8 * 3600 + i, la, lo))
    for i in range(3):
        la, lo = cell_pt(9, 8); rows.append((22 * 3600 + i, la, lo))
    for i in range(5):
        la, lo = cell_pt(10, 8); rows.append((22 * 3600 + i, la, lo))
    pdf = pd.DataFrame(rows, columns=["epoch", "lat", "lon"])
    df = spark.createDataFrame(pdf).select(
        F.timestamp_seconds("epoch").alias("ts"), "lat", "lon"
    )
    out = {(r["ix"], r["iy"], r["dir"]): r
           for r in temporal_drift(df, res=4).collect()}
    a = out[(8, 8, "E")]
    assert (a["dot"], a["na2"], a["nb2"]) == (0, 16, 9)
    b = out[(9, 8, "E")]
    assert (b["dot"], b["na2"], b["nb2"]) == (15, 9, 25)
    assert (10, 8, "E") not in out           # no east neighbor
    assert all(k[2] == "E" for k in out)     # no N-adjacent pairs here


def test_ks_two_sample_exact(spark):
    from langtoolsosm_spark.operators.sketches import ks_two_sample

    # A = {1,2,3,4}, B = {3,4,5,6}: max ECDF gap is 0.5 at y<=2000
    rows = [(i, "a", float(v)) for i, v in enumerate((1, 2, 3, 4))]
    rows += [(10 + i, "b", float(v)) for i, v in enumerate((3, 4, 5, 6))]
    df = spark.createDataFrame(rows, "event_id long, event_type string, value double")
    r = ks_two_sample(df, "a", "b").collect()[0]
    assert (r["n_a"], r["n_b"]) == (4, 4)
    # at y=2000: ca=2, cb=0 -> |2*4 - 0*4| = 8; D = 8/16 = 0.5
    assert (r["d_num"], r["d_den"], r["at_y"]) == (8, 16, 2000)
    # identical samples -> D = 0
    same = ks_two_sample(
        df.withColumn("event_type", F.lit("a")).unionByName(
            df.withColumn("event_type", F.lit("b"))
        ),
        "a", "b",
    ).collect()[0]
    assert same["d_num"] == 0
    with pytest.raises(ValueError, match="differ"):
        ks_two_sample(df, "a", "a")


def test_funnel_steps_ordering(spark):
    from langtoolsosm_spark.operators.asof import funnel_steps

    rows = [
        # user 1 completes in order
        (1, "view", 10), (1, "click", 20), (1, "purchase", 30),
        # user 2: click BEFORE view -> stops at step 1
        (2, "click", 5), (2, "view", 10),
        # user 3: view+click same ts -> strict 'after' rejects step 2
        (3, "view", 10), (3, "click", 10),
        # user 4 never views
        (4, "purchase", 50),
    ]
    df = spark.createDataFrame(
        pd.DataFrame(rows, columns=["user_id", "event_type", "epoch"])
    ).select("user_id", "event_type", F.timestamp_seconds("epoch").alias("ts"))
    r = funnel_steps(df).collect()[0]
    assert (r["n_entities"], r["n_step1"], r["n_step2"], r["n_step3"]) == (
        4, 3, 1, 1
    )
    with pytest.raises(ValueError, match="distinct"):
        funnel_steps(df, steps=("view", "view"))


def test_type_transitions_matrix(spark):
    from langtoolsosm_spark.operators.asof import type_transitions

    rows = [(1, 1, "a", 10), (1, 2, "b", 20), (1, 3, "a", 30),
            (2, 4, "a", 10), (2, 5, "b", 20)]
    df = spark.createDataFrame(
        pd.DataFrame(rows, columns=["user_id", "event_id", "event_type", "epoch"])
    ).select("user_id", "event_id", "event_type",
             F.timestamp_seconds("epoch").alias("ts"))
    out = {(r["from_type"], r["to_type"]): (r["n_pairs"], r["n_from"])
           for r in type_transitions(df).collect()}
    assert out == {("a", "b"): (2, 2), ("b", "a"): (1, 1)}


def test_tile_peak_hour_tiebreak(spark):
    from langtoolsosm_spark.operators.tiling import tile_peak_hour

    rows = []
    # 2 events at hour 7 and 2 at hour 18 (tie -> smallest hour wins),
    # plus 1 at hour 3: peak (7, 2 of 5) -> share 400 milli
    for ep in (7 * 3600, 7 * 3600 + 1, 18 * 3600, 18 * 3600 + 1, 3 * 3600):
        rows.append((ep, 10.0, 10.0))
    df = spark.createDataFrame(
        pd.DataFrame(rows, columns=["epoch", "lat", "lon"])
    ).select(F.timestamp_seconds("epoch").alias("ts"), "lat", "lon")
    r = tile_peak_hour(df, res=4).collect()[0]
    assert (r["peak_hour"], r["peak_cnt"], r["n_events"], r["share_milli"]) \
        == (7, 2, 5, 400)


def test_phash_bit_bias_stuck_bit(spark):
    from langtoolsosm_spark.operators.images import phash_bit_bias

    # bit 0 alternates (balanced), bit 1 always set (stuck), bit 63 via
    # a negative hash
    hashes = [0b11, 0b10, 0b11, 0b10, -(1 << 63) | 0b10, 0b11]
    df = spark.createDataFrame([(h,) for h in hashes], "phash long")
    out = {r["bit"]: r for r in phash_bit_bias(df).collect()}
    assert len(out) == 64 and out[0]["n_images"] == 6
    assert out[1]["n_ones"] == 6 and out[1]["bias_num"] == 6   # stuck
    assert out[0]["n_ones"] == 3 and out[0]["bias_num"] == 0   # balanced
    assert out[63]["n_ones"] == 1 and out[63]["bias_num"] == 4


def test_image_emd_outlier_ranking(spark):
    from langtoolsosm_spark.functions import imagecodec as ic
    from langtoolsosm_spark.operators.images import image_emd_outliers

    # three identical mid-gray frames and one black frame: the black
    # frame's distribution sits far from the corpus mean, the gray ones
    # share one small distance (corpus mean is 3/4 gray + 1/4 black)
    gray = np.full((4, 4, 3), 128, dtype=np.uint8)
    black = np.zeros((4, 4, 3), dtype=np.uint8)
    rows = [(f"g{i}", ic.encode_raw(gray), "raw") for i in range(3)]
    rows.append(("b", ic.encode_raw(black), "raw"))
    out = {r["image_id"]: r for r in image_emd_outliers(
        spark.createDataFrame(rows, "image_id string, bytes binary, fmt string")
    ).collect()}
    assert len({out[f"g{i}"]["d_num"] for i in range(3)}) == 1
    assert out["b"]["d_num"] > out["g0"]["d_num"] > 0
    # exact: ECDFs differ by 1/4 (gray) vs 3/4 (black) on bins 0..127:
    # num = 128 * |16*256 - C*16| with C = 16 black px cumulative...
    # verify the cross-multiplied identity instead of re-deriving:
    for r in out.values():
        assert r["d_den"] == r["n_px"] * 64 and r["n_px"] == 16
    assert out["b"]["d_num"] == 3 * out["g0"]["d_num"]


def test_od_weekend_shift_regimes(spark):
    from langtoolsosm_spark.operators.tiling import od_weekend_shift

    # epoch day 3 = Sunday ((3+4)%7=0), day 1 = Friday (weekday).
    # weekday: 2 trips A->B; weekend: 2 trips B->A — fully disjoint
    # distributions -> shift = 2 * den
    rows = []
    eid = 0
    for day, (la0, lo0, la1, lo1) in (
        (1, (10.0, 10.0, 10.0, 40.0)), (1, (10.0, 10.0, 10.0, 40.0)),
        (3, (10.0, 40.0, 10.0, 10.0)), (3, (10.0, 40.0, 10.0, 10.0)),
    ):
        u = eid  # one entity per trip
        rows.append((u, day * 86400 + 10, eid * 10, la0, lo0))
        rows.append((u, day * 86400 + 20, eid * 10 + 1, la1, lo1))
        eid += 1
    df = spark.createDataFrame(
        pd.DataFrame(rows, columns=["user_id", "epoch", "event_id", "lat", "lon"])
    ).select(
        "user_id", F.timestamp_seconds("epoch").alias("ts"), "event_id",
        "lat", "lon",
    )
    r = od_weekend_shift(df, res=5).collect()[0]
    assert (r["n_we"], r["n_wd"]) == (2, 2)
    assert r["shift_num"] == 2 * r["shift_den"] == 8


def test_degree_spectrum_hub(spark):
    from langtoolsosm_spark.operators.graphs import degree_spectrum

    # star: hub 0 touches 1..5 (deg 5, octave 2); leaves deg 1 (oct 0)
    edges = spark.createDataFrame(
        [(0, i) for i in range(1, 6)], "a long, b long"
    )
    out = {r["octave"]: (r["n_vertices"], r["n_endpoints"])
           for r in degree_spectrum(edges).collect()}
    assert out == {0: (5, 5), 2: (1, 5)}


def test_symmetry_scores_mirror(spark):
    from langtoolsosm_spark.functions import imagecodec as ic
    from langtoolsosm_spark.operators.images import symmetry_scores

    sym = np.zeros((4, 6, 3), dtype=np.uint8)
    sym[:, :3] = 100
    sym[:, 3:] = 100                       # uniform -> perfectly symmetric
    asym = np.zeros((4, 6, 3), dtype=np.uint8)
    asym[:, :3] = 255                      # left bright, right black
    rows = [("sym", ic.encode_raw(sym), "raw"),
            ("asym", ic.encode_raw(asym), "raw")]
    out = {r["image_id"]: r for r in symmetry_scores(
        spark.createDataFrame(rows, "image_id string, bytes binary, fmt string")
    ).collect()}
    assert out["sym"]["sum_absdiff"] == 0 and out["sym"]["is_symmetric"] == 1
    # every pixel differs from its mirror by 255 -> asym_milli = 1000
    a = out["asym"]
    assert a["sum_absdiff"] == 24 * 255 and a["asym_milli"] == 1000
    assert a["is_symmetric"] == 0


def test_color_cast_scores(spark):
    from langtoolsosm_spark.functions import imagecodec as ic
    from langtoolsosm_spark.operators.images import color_cast_scores

    neutral = np.full((4, 4, 3), 100, dtype=np.uint8)
    warm = np.zeros((4, 4, 3), dtype=np.uint8)
    warm[..., 0] = 200                       # strong red cast
    warm[..., 1] = 100
    warm[..., 2] = 100
    dead = np.zeros((4, 4, 3), dtype=np.uint8)
    dead[..., 0] = 10                        # blue channel all zero
    rows = [("n", ic.encode_raw(neutral), "raw"),
            ("w", ic.encode_raw(warm), "raw"),
            ("d", ic.encode_raw(dead), "raw")]
    out = {r["image_id"]: r for r in color_cast_scores(
        spark.createDataFrame(rows, "image_id string, bytes binary, fmt string")
    ).collect()}
    assert out["n"]["cast_milli"] == 1000 and out["n"]["is_neutral"] == 1
    assert out["w"]["cast_milli"] == 2000 and out["w"]["is_neutral"] == 0
    assert out["d"]["cast_milli"] is None and out["d"]["is_neutral"] == 0
    with pytest.raises(ValueError, match="max_milli"):
        color_cast_scores(spark.createDataFrame(
            rows, "image_id string, bytes binary, fmt string"), max_milli=900)


def test_od_concentration_hhi(spark):
    from langtoolsosm_spark.operators.tiling import od_concentration

    # origin A: 3 trips all to B (hhi = 1); origin C: 1 trip to each of
    # two destinations (hhi = 1/2)
    A, B, C, D, E = (10.0, 10.0), (10.0, 40.0), (-40.0, 100.0), \
        (-40.0, 140.0), (-70.0, 60.0)
    rows, eid = [], 0
    for u in range(3):
        rows += [(u, eid * 10, eid, *A), (u, eid * 10 + 5, eid + 1, *B)]
        eid += 2
    rows += [(10, eid * 10, eid, *C), (10, eid * 10 + 5, eid + 1, *D)]
    eid += 2
    rows += [(11, eid * 10, eid, *C), (11, eid * 10 + 5, eid + 1, *E)]
    df = spark.createDataFrame(
        pd.DataFrame(rows, columns=["user_id", "epoch", "event_id", "lat", "lon"])
    ).select(
        "user_id", F.timestamp_seconds("epoch").alias("ts"), "event_id",
        "lat", "lon",
    )
    out = {r["n_out"]: r for r in od_concentration(df, res=5).collect()}
    a = out[3]
    assert (a["n_dests"], a["hhi_num"], a["hhi_den"]) == (1, 9, 9)
    c = out[2]
    assert (c["n_dests"], c["hhi_num"], c["hhi_den"]) == (2, 2, 4)


def test_pair_contact_time_overlap(spark):
    from langtoolsosm_spark.operators.spatial import pair_contact_time

    T = (10.0, 10.0)       # shared tile
    FAR = (-40.0, 120.0)
    rows = [
        # entity 1 in T during [0, 100), then leaves (closes at 100)
        (1, 0, 10, *T), (1, 100, 11, *FAR), (1, 200, 12, *FAR),
        # entity 2 in T during [50, 150): overlap with 1 = [50, 100) = 50s
        (2, 50, 20, *T), (2, 150, 21, *FAR), (2, 250, 22, *FAR),
        # entity 3 in T only after 1 left: [120, 180) -> zero overlap
        (3, 120, 30, *T), (3, 180, 31, *FAR),
    ]
    df = spark.createDataFrame(
        pd.DataFrame(rows, columns=["user_id", "epoch", "event_id", "lat", "lon"])
    ).select(
        "user_id", F.timestamp_seconds("epoch").alias("ts"), "event_id",
        "lat", "lon",
    )
    pairs = spark.createDataFrame([(1, 2), (1, 3)], "a long, b long")
    out = {(r["a"], r["b"]): (r["n_overlaps"], r["contact_sec"])
           for r in pair_contact_time(df, pairs, res=6).collect()}
    # FAR intervals also overlap for (1,2): [100,200) vs [150,250) = 50s
    assert out[(1, 2)] == (2, 100)
    assert (1, 3) not in out


def test_hour_type_mix_residuals(spark):
    from langtoolsosm_spark.operators.tiling import hour_type_mix

    # purchases only at hour 12, views spread at 8/12: N = 6
    rows = [(12 * 3600, "purchase")] * 2 + \
        [(8 * 3600, "view")] * 2 + [(12 * 3600, "view")] * 2
    df = spark.createDataFrame(
        pd.DataFrame(rows, columns=["epoch", "event_type"])
    ).select(F.timestamp_seconds("epoch").alias("ts"), "event_type")
    out = {(r["hour"], r["etype"]): r for r in hour_type_mix(df).collect()}
    p12 = out[(12, "purchase")]
    # obs 2, n_hour 4, n_type 2, N 6: res = 12 - 8 = +4
    assert (p12["obs"], p12["res_num"], p12["res_den"]) == (2, 4, 6)
    v8 = out[(8, "view")]
    # obs 2, n_hour 2, n_type 4: res = 12 - 8 = +4; and no (8, purchase)
    assert v8["res_num"] == 4 and (8, "purchase") not in out
    # residuals of observed cells plus implied zeros sum to 0 per table:
    # here just check the two view cells balance within the view column
    v12 = out[(12, "view")]
    assert v12["res_num"] == 2 * 6 - 4 * 4 == -4


def test_image_bimodality_backlit(spark):
    from langtoolsosm_spark.functions import imagecodec as ic
    from langtoolsosm_spark.operators.images import image_bimodality

    backlit = np.zeros((4, 4, 3), dtype=np.uint8)
    backlit[:2] = 250                    # half bright, half dark
    flat = np.full((4, 4, 3), 90, dtype=np.uint8)
    rows = [("bl", ic.encode_raw(backlit), "raw"),
            ("fl", ic.encode_raw(flat), "raw")]
    out = {r["image_id"]: r for r in image_bimodality(
        spark.createDataFrame(rows, "image_id string, bytes binary, fmt string")
    ).collect()}
    # two equal point masses: skew 0, kurtosis 1 -> b = 1000 exactly
    assert out["bl"]["bc_milli"] == 1000
    assert out["fl"]["bc_milli"] is None and out["fl"]["m2n"] == 0
