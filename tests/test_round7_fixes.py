"""Round-7 regression pins: ANN recall floors on the clustered fixture
(VERDICT r6 item 2), bench headline family freeze (item 1), and the
round-7 ADVICE guards."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F


# ---------------------------------------------------------------------------
# VERDICT item 2: recall floors on the clustered (mixture-of-Gaussians)
# fixture. The driver's uniform-sphere embeddings are the information-
# theoretic worst case for quantized ANN, so PQ/IVF-PQ recall there
# carries no regression signal; the clustered fixture is deterministic
# (datagen seed), so a drop below these floors is a real code regression,
# not noise. Measured round-7 values at the sf0.01 fixture (500 rows):
# lsh 0.98, ivf 0.90, ivf_lloyd 0.98, pq_adc 0.38, pq_rescored 0.82,
# sq8 0.98, ivf_pq 0.38, ivf_pq_rescored 0.82.
# ---------------------------------------------------------------------------

RECALL_FLOORS = {
    "lsh_kernel": 0.90,
    "ivf": 0.80,
    "ivf_lloyd": 0.90,
    "pq_adc": 0.30,       # raw 32-bit ADC ceiling — floor pins the ceiling
    "pq_rescored": 0.80,
    "sq8": 0.90,
    "ivf_pq": 0.30,       # same ADC ceiling; probing must not LOSE recall
    "ivf_pq_rescored": 0.80,
}


@pytest.fixture(scope="module")
def clustered_recalls(spark):
    from langtoolsosm_spark.datagen import ensure_clustered_embeddings
    from langtoolsosm_spark.operators.similarity import (
        ann_lsh_topk,
        ivf_ann_topk,
        ivf_lloyd_ann_topk,
        ivf_pq_ann_rescored,
        ivf_pq_ann_topk,
        pq_ann_rescored,
        pq_ann_topk,
        sq8_ann_topk,
        topk_dot_kernel,
    )

    emb = spark.read.parquet(ensure_clustered_embeddings("sf0.01"))
    exact = topk_dot_kernel(emb).select("query_id", "neighbor_id").persist()
    n_true = exact.count()

    def recall(approx):
        hit = exact.join(
            approx.select("query_id", "neighbor_id"),
            ["query_id", "neighbor_id"], "left_semi",
        ).count()
        return hit / n_true

    out = {
        "lsh_kernel": recall(ann_lsh_topk(emb)),
        "ivf": recall(ivf_ann_topk(emb)),
        "ivf_lloyd": recall(ivf_lloyd_ann_topk(emb)),
        "pq_adc": recall(pq_ann_topk(emb)),
        "pq_rescored": recall(pq_ann_rescored(emb)),
        "sq8": recall(sq8_ann_topk(emb)),
        "ivf_pq": recall(ivf_pq_ann_topk(emb)),
        "ivf_pq_rescored": recall(ivf_pq_ann_rescored(emb)),
    }
    exact.unpersist()
    return out


@pytest.mark.parametrize("family", sorted(RECALL_FLOORS))
def test_clustered_recall_floor(clustered_recalls, family):
    assert clustered_recalls[family] >= RECALL_FLOORS[family], (
        f"{family} recall@5 {clustered_recalls[family]:.3f} fell below the "
        f"clustered-fixture floor {RECALL_FLOORS[family]}"
    )


def test_rescoring_never_hurts(clustered_recalls):
    """The two-stage variants must dominate their raw-ADC counterparts —
    the property rescoring exists to buy."""
    assert clustered_recalls["pq_rescored"] >= clustered_recalls["pq_adc"]
    assert (
        clustered_recalls["ivf_pq_rescored"] >= clustered_recalls["ivf_pq"]
    )


def test_clustered_fixture_deterministic():
    """Same seed -> byte-identical fixture (the floor test is only a
    regression pin if the data cannot drift)."""
    from langtoolsosm_spark.datagen import synth_clustered_embeddings

    a = synth_clustered_embeddings(n=64)
    b = synth_clustered_embeddings(n=64)
    assert a["vec_id"].tolist() == b["vec_id"].tolist()
    assert all(
        np.array_equal(x, y) for x, y in zip(a["embedding"], b["embedding"])
    )
    # unit-norm contract
    norms = np.array([np.linalg.norm(v) for v in a["embedding"]])
    assert np.allclose(norms, 1.0, atol=1e-5)


# ---------------------------------------------------------------------------
# VERDICT item 1: the headline ANN family list is frozen — its members
# must all be timed, and no post-round-5 family may appear in it.
# ---------------------------------------------------------------------------


def test_headline_ann_family_frozen():
    import bench

    assert bench.HEADLINE_ANN == ("exact_baseline", "lsh_kernel", "ivf", "ivf_lloyd")
    assert set(bench.EXT_ANN) & set(bench.HEADLINE_ANN) == set()
    for fam in ("pq_adc", "pq_rescored", "sq8", "ivf_pq"):
        assert fam in bench.EXT_ANN


# ---------------------------------------------------------------------------
# VERDICT item 3: co_visitation hardening — occupancy gate + no dedup
# exchange on the occupancy^2 frame.
# ---------------------------------------------------------------------------


def _covis_events(spark):
    # 3 users co-located across 2 days in a quiet tile, plus an 8-entity
    # "stadium day" in another tile
    rows = []
    for day in (0, 1):
        for u in ("a", "b", "c"):
            rows.append((u, day * 86400 + 10, 10.0, 10.0))
    for i in range(8):
        rows.append((f"crowd{i}", 5 * 86400 + 10, -40.0, -40.0))
    pdf = pd.DataFrame(rows, columns=["user_id", "epoch", "lat", "lon"])
    return spark.createDataFrame(pdf).select(
        "user_id", F.timestamp_seconds("epoch").alias("ts"), "lat", "lon"
    )


def test_co_visitation_occupancy_gate_fires(spark):
    from langtoolsosm_spark.operators.tiling import co_visitation

    ev = _covis_events(spark)
    with pytest.raises(ValueError, match="max_occupancy"):
        co_visitation(ev, res=5, min_days=2, max_occupancy=5)


def test_co_visitation_capped_consistent(spark):
    """With the gate satisfied, the result on the quiet portion is the
    same whether or not the hot venue-day rows are present after
    pre-thinning them away — and the gate default passes the fixture."""
    from langtoolsosm_spark.operators.tiling import co_visitation

    ev = _covis_events(spark)
    full = co_visitation(ev, res=5, min_days=2)  # default cap 10k: passes
    got = {(r["a"], r["b"], r["n_codays"]) for r in full.collect()}
    assert got == {("a", "b", 2), ("a", "c", 2), ("b", "c", 2)}

    thinned = ev.filter(~F.col("user_id").startswith("crowd"))
    quiet = co_visitation(thinned, res=5, min_days=2, max_occupancy=5)
    assert {(r["a"], r["b"], r["n_codays"]) for r in quiet.collect()} == got


def test_co_visitation_no_pair_dedup_exchange(spark):
    """The within-(tile, day) join of a distinct presence set cannot
    duplicate, so the (a, b, tile, day) dedup aggregate that used to sit
    on the occupancy^2 pair frame (the largest intermediate) must be
    gone: no aggregate keyed on (a, b, tile, ...) anywhere in the plan.
    (A raw Exchange count is NOT asserted — AQE's plan dump repeats
    initial plans, making the count run-order-dependent.)"""
    import re

    from langtoolsosm_spark.operators.tiling import co_visitation

    df = co_visitation(
        _covis_events(spark), res=5, min_days=2, max_occupancy=None
    )
    df.count()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert not re.search(r"keys=\[a#\d+, b#\d+, tile#", plan), plan


# ---------------------------------------------------------------------------
# Round-7 ADVICE guards
# ---------------------------------------------------------------------------


def test_coverage_gaps_inverted_bbox_raises(spark):
    """An inverted bbox used to yield an empty lattice and silently
    report 'no gaps' (ADVICE r6)."""
    from langtoolsosm_spark.operators.tiling import coverage_gaps

    df = spark.createDataFrame(
        pd.DataFrame({"lat": [1.0], "lon": [1.0]})
    )
    with pytest.raises(ValueError, match="inverted bbox"):
        coverage_gaps(df, res=4, lat0=5.0, lat1=1.0, lon0=0.0, lon1=2.0)
    with pytest.raises(ValueError, match="inverted bbox"):
        coverage_gaps(df, res=4, lat0=0.0, lat1=1.0, lon0=3.0, lon1=2.0)


def test_stream_tile_cap_rejects_non_integer_ids(spark):
    """The streaming reservoir serializes int64 ids; a string id column
    used to crash mid-stream inside the state kernel (ADVICE r6)."""
    from langtoolsosm_spark.streaming.microbatch import stream_tile_cap

    df = spark.createDataFrame(
        pd.DataFrame({"point_id": ["a"], "lat": [1.0], "lon": [1.0]})
    )
    with pytest.raises(TypeError, match="integral"):
        stream_tile_cap(df, res=4, cap=2)


def test_image_shard_pack_index_overflow_raises(spark):
    """A bucket whose cumulative bytes exceed budget * 2^32 would
    silently collide into the next bucket's shard-id space (ADVICE r6):
    the encoding guard must fail loudly instead."""
    from langtoolsosm_spark.operators.sampling import image_shard_pack

    pdf = pd.DataFrame(
        {
            "image_id": ["a", "b"],
            "sz": [1 << 33, 1 << 33],  # same tile -> one bucket
            "lat": [1.0, 1.0],
            "lon": [1.0, 1.0],
        }
    )
    df = spark.createDataFrame(pdf)
    packed = image_shard_pack(df, res=8, budget=1, size_col="sz")
    with pytest.raises(Exception, match="bucket.*2\\^32|exceeds budget"):
        packed.collect()


def test_image_shard_pack_size_col_matches_blob_length(spark):
    """size_col packing must equal bytes-length packing when the sizes
    agree (and the integer-div shard index is unchanged for normal
    inputs)."""
    from langtoolsosm_spark.operators.sampling import image_shard_pack

    pdf = pd.DataFrame(
        {
            "image_id": [f"i{j}" for j in range(6)],
            "bytes": [b"x" * (j + 1) for j in range(6)],
            "sz": [j + 1 for j in range(6)],
            "lat": [1.0, 1.0, 1.0, 40.0, 40.0, 40.0],
            "lon": [1.0, 1.0, 1.0, -40.0, -40.0, -40.0],
        }
    )
    df = spark.createDataFrame(pdf)
    a = image_shard_pack(df, res=8, budget=4).orderBy("image_id").collect()
    b = image_shard_pack(df, res=8, budget=4, size_col="sz").orderBy(
        "image_id"
    ).collect()
    assert [r.asDict() for r in a] == [r.asDict() for r in b]


def test_getis_gi_single_fact_scan(spark):
    """getis_gi's (s, q) base and kring_smooth now share one histogram
    subtree, so the executed plan reuses the exchange instead of
    scanning the fact table twice (ADVICE r6)."""
    from langtoolsosm_spark.operators.spatial import getis_gi

    pdf = pd.DataFrame({"lat": [1.0, 1.0, 2.0], "lon": [1.0, 1.5, 2.0]})
    df = spark.createDataFrame(pdf)
    out = getis_gi(df, res=4, k=1)
    out.count()
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "ReusedExchange" in plan or plan.count("LocalTableScan") <= 2, plan


# ---------------------------------------------------------------------------
# VERDICT item 8: bounded-lateness streaming OD (watermark-tolerant)
# ---------------------------------------------------------------------------


def _stage_od_batches(tmp_path, batches, span_flush=None):
    import os

    src = str(tmp_path / "src")
    os.makedirs(src, exist_ok=True)
    for i, rows in enumerate(batches):
        pdf = pd.DataFrame(
            rows, columns=["user_id", "epoch", "event_id", "lat", "lon"]
        )
        pdf["ts"] = pd.to_datetime(pdf.pop("epoch"), unit="s").astype(
            "datetime64[us]"
        )
        pdf = pdf[["user_id", "ts", "event_id", "lat", "lon"]]
        p = os.path.join(src, f"b{i}.parquet")
        pdf.to_parquet(p, index=False)
        os.utime(p, (1000 * (i + 1), 1000 * (i + 1)))
    return src


def test_stream_od_late_absorbs_bounded_disorder(spark, tmp_path):
    """Cross-batch disorder within the lateness bound yields exactly the
    event-time-ordered transitions; events past the watermark stay
    buffered until a later batch (or punctuation) releases them."""
    from langtoolsosm_spark.streaming.microbatch import run_od_late_stream_once

    # one user; positions at ts 0/10/20/40 in four distinct tiles;
    # arrival order scrambles 20 before 10 across batches
    pos = {0: (10.0, 10.0), 10: (20.0, 20.0), 20: (30.0, 30.0), 40: (40.0, 40.0)}
    b0 = [(1, 0, 100, *pos[0]), (1, 20, 102, *pos[20])]
    b1 = [(1, 10, 101, *pos[10]), (1, 40, 104, *pos[40])]
    flush = [(1, 1000, -1, np.nan, np.nan)]
    src = _stage_od_batches(tmp_path, [b0, b1, flush])
    out = run_od_late_stream_once(
        spark, src, str(tmp_path / "ckpt"), res=8, lateness_s=15
    )
    got = {(r["from_tile"], r["to_tile"]) for r in out.collect()}

    from langtoolsosm_spark.functions.cells import tile_key

    tiles = {
        t: int(tile_key(np.array([la]), np.array([lo]), 8)[0])
        for t, (la, lo) in pos.items()
    }
    want = {
        (tiles[0], tiles[10]),
        (tiles[10], tiles[20]),
        (tiles[20], tiles[40]),
    }
    assert got == want


def test_stream_od_late_raises_beyond_lateness(spark, tmp_path):
    """An event BELOW the already-passed watermark (disorder beyond the
    bound) must raise, not silently emit out-of-order transitions."""
    from langtoolsosm_spark.streaming.microbatch import run_od_late_stream_once

    b0 = [(1, 0, 100, 10.0, 10.0), (1, 100, 101, 20.0, 20.0)]
    # wm after b0 = 100 - 15 = 85; ts=5 is far below it
    b1 = [(1, 5, 102, 30.0, 30.0)]
    src = _stage_od_batches(tmp_path, [b0, b1])
    with pytest.raises(Exception, match="beyond bounded lateness"):
        run_od_late_stream_once(
            spark, src, str(tmp_path / "ckpt"), res=8, lateness_s=15
        ).collect()
