"""Bench harness: headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints ONE JSON line:
  {"metric": ..., "value": N, "unit": "sec", "queries": {...}, "sf": ...}

The flagship geospatial pipeline (cell encode -> PIP join -> tile
ownership -> kNN enrich -> snapshot write) is the north-star number
(BASELINE.json: images/sec); the per-query map covers the other operator
families at the bench tier.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

REPO = os.path.dirname(os.path.abspath(__file__))

# one flagship trial in a fresh JVM (the VM's tenant noise makes identical
# runs vary up to 3x; the recorded BENCH/BASELINE.md number used alternating
# best-of-3 fresh-JVM trials, so the per-round artifact must match that
# protocol to be comparable)
FLAGSHIP_WORKER = r"""
import json, os, shutil, sys, tempfile, time
sys.path.insert(0, os.environ["REPO"])
cpus = int(sys.argv[1]); tier = sys.argv[2]
from langtoolsosm_spark.datagen import ensure_dataset
from langtoolsosm_spark.plans.pipeline import run_to_snapshot
from langtoolsosm_spark.session import get_spark
synth = ensure_dataset(tier)
spark = get_spark("benchflag", cores=cpus, shuffle_partitions=max(cpus, 8))
spark.read.parquet(f"{synth}/images.parquet").limit(100).count()  # warm JVM
out = tempfile.mkdtemp(prefix="bench_snap_")
try:
    t0 = time.time()
    m = run_to_snapshot(spark, synth, os.path.join(out, "t"), res=8,
                        with_knn=True, resume=False)
    print(json.dumps({"wall": round(time.time() - t0, 3), "rows": m["rows"]}),
          flush=True)
finally:
    shutil.rmtree(out, ignore_errors=True)
"""


def run_flagship_trial(cpus: int, tier: str, repo: str = REPO) -> dict:
    with tempfile.NamedTemporaryFile("w", suffix=".py", delete=False) as f:
        f.write(FLAGSHIP_WORKER)
        worker = f.name
    # one load-average sample per trial: tenant noise on this box swings
    # identical runs up to 3x, and a recorded load1 turns every future
    # "is this a regression or a noisy neighbor?" dispute into data
    load1 = round(os.getloadavg()[0], 2)
    try:
        res = subprocess.run(
            [sys.executable, worker, str(cpus), tier],
            capture_output=True, text=True,
            # LTOSM_DATA_ROOT pins the synth-fixture cache to THIS repo's
            # data dir even when `repo` is an A/B worktree of an older ref
            env=dict(os.environ, REPO=repo,
                     LTOSM_DATA_ROOT=os.path.join(REPO, "data")),
            timeout=1800,
        )
        for line in res.stdout.splitlines():
            if line.startswith("{"):
                out = json.loads(line)
                out["load1"] = load1
                return out
        raise RuntimeError(
            f"no flagship result:\n{res.stdout[-1500:]}\n{res.stderr[-2000:]}"
        )
    finally:
        os.unlink(worker)


def _ab_ref() -> str | None:
    """Optional A/B baseline ref: --ab <ref> argv, $BENCH_AB_REF, or a
    BENCH/ab_ref.txt file (one line; updated each round to the previous
    round's tip so the driver's plain `python bench.py` run records the
    pairwise ratio automatically)."""
    if "--ab" in sys.argv:
        return sys.argv[sys.argv.index("--ab") + 1]
    if os.environ.get("BENCH_AB_REF"):
        return os.environ["BENCH_AB_REF"]
    p = os.path.join(REPO, "BENCH", "ab_ref.txt")
    if os.path.exists(p):
        ref = open(p).read().strip()
        return ref or None
    return None


def run_ab(cpus: int, tier: str, ref: str, trials: int = 2) -> dict | None:
    """Paired A/B flagship trials: alternate fresh-JVM runs of HEAD vs
    `ref` (a git worktree of the older code) in the same minutes, so
    tenant noise hits both arms and the RATIO is trustworthy even when
    the absolute walls are not (the round-5 artifact looked like a 29%
    regression that paired trials disproved)."""
    wt = tempfile.mkdtemp(prefix="bench_ab_")
    try:
        res = subprocess.run(
            ["git", "-C", REPO, "worktree", "add", "--detach", wt, ref],
            capture_output=True, text=True, timeout=300,
        )
        if res.returncode != 0:
            print(f"ab: worktree add failed: {res.stderr[-500:]}", file=sys.stderr)
            return None
        head_walls, ref_walls, loads = [], [], []
        for _ in range(trials):
            h = run_flagship_trial(cpus, tier)
            r = run_flagship_trial(cpus, tier, repo=wt)
            head_walls.append(h["wall"])
            ref_walls.append(r["wall"])
            loads += [h["load1"], r["load1"]]
        return {
            "ref": ref,
            "head_walls": head_walls,
            "ref_walls": ref_walls,
            "ab_ratio": round(min(head_walls) / min(ref_walls), 3),
            "load1": loads,
        }
    except Exception as e:  # A/B is evidence, never a bench blocker
        print(f"ab: skipped ({e})", file=sys.stderr)
        return None
    finally:
        subprocess.run(
            ["git", "-C", REPO, "worktree", "remove", "--force", wt],
            capture_output=True, timeout=120,
        )


# Headline ann_recall_check is FROZEN to the round-5 family list — the set
# that existed when the comparability base was recorded. It is derived as
# the sum of these families' fam_sec entries (each timed under its own
# timer), so a family added later physically cannot leak into the headline
# number. New families go in ann_family_ext_sec. Do NOT edit this list.
HEADLINE_ANN = ("exact_baseline", "lsh_kernel", "ivf", "ivf_lloyd")

# round-6+ ANN families: timed per-family, summed under ann_family_ext_sec,
# never part of the headline total
EXT_ANN = ("pq_adc", "pq_rescored", "sq8", "ivf_pq")

# heaviest mobility/graph operators: timed under mobility_family_sec (same
# non-headline pattern as ann_family_ext_sec) so the operators get
# round-over-round walls without breaking headline comparability
MOBILITY_FAMILY = (
    "co_visitation", "zone_concurrency", "triangle_counts",
    # round-7 late additions: the space-time pair statistic and the
    # coupling-DP trajectory similarity (deterministic top-N pair slice)
    "knox_stat", "frechet_dist",
)

HEADLINE = [
    "tile_assign",
    "pip_join",
    "pip_unique_owner",
    "knn_join",
    "cell_histogram",
    "agg_pushdown",
    "topk_window",
    "minhash_signatures",
    "embedding_topk",
    "dedup_exact",
    "asof_join",
    "hll_estimate",
    "images_phash_pairs",
    "lsh_candidate_pairs",
    # text-pipeline headline (corpus_prep = quality -> dedup -> shard
    # packing; decontaminate = eval-vs-train 5-gram leak check): the
    # text-side counterpart of the flagship geo number, so text-pipeline
    # regressions have a tracked wall-time
    "corpus_prep",
    "decontaminate",
]


def main():
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    sf = os.path.basename(sf_dir.rstrip("/")).replace("sf", "")

    from langtoolsosm_spark.datagen import ensure_dataset, tier_for_sf_dir
    from langtoolsosm_spark.plans.driver_queries import REGISTRY
    from langtoolsosm_spark.session import get_spark

    tier = tier_for_sf_dir(sf_dir)
    synth = ensure_dataset(tier)
    load1_start = round(os.getloadavg()[0], 2)

    spark = get_spark("bench", cores=cpus, shuffle_partitions=max(cpus, 8))

    timings: dict[str, float] = {}

    # flagship pipeline (north-star: images/sec through PIP + tiling):
    # best-of-N fresh-JVM trials, matching the recorded baseline protocol
    trials = int(os.environ.get("BENCH_TRIALS", "3"))
    walls = []
    trial_loads = []
    n_images = 0
    for _ in range(trials):
        r = run_flagship_trial(cpus, tier)
        walls.append(r["wall"])
        trial_loads.append(r["load1"])
        n_images = r["rows"]
    best_wall = min(walls)
    timings["flagship_pipeline"] = best_wall
    images_per_sec = n_images / best_wall if best_wall > 0 else 0.0

    # warm the session (first-scan + codegen init otherwise lands on
    # whichever query runs first and distorts its number)
    spark.read.parquet(f"{sf_dir}/orders.parquet").count()

    for name in HEADLINE:
        fn, _oracle = REGISTRY[name]
        t0 = time.time()
        df = fn(spark, sf_dir)
        n = df.count()
        timings[name] = round(time.time() - t0, 3)
        _ = n

    # ANN quality: recall@5 of the LSH path vs the exact top-k oracle
    # (same quantized-dot metric). The fixture embeddings are ~uniform on
    # the sphere — the information-theoretic worst case for LSH — so the
    # candidate fraction is high here by construction; on clustered
    # real-world embeddings the same config prunes exponentially.
    from pyspark.sql import functions as F

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

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    t0 = time.time()
    # exact baseline computed ONCE via the broadcast kernel (the explode
    # -join formulation is the oracle spec only) and reused by all recalls
    fam_sec: dict[str, float] = {}
    exact = topk_dot_kernel(emb).select("query_id", "neighbor_id").persist()
    n_true = exact.count()
    fam_sec["exact_baseline"] = round(time.time() - t0, 3)

    def recall(name, approx):
        t1 = time.time()
        n_hit = exact.join(
            approx.select("query_id", "neighbor_id"), ["query_id", "neighbor_id"],
            "left_semi",
        ).count()
        fam_sec[name] = round(time.time() - t1, 3)
        return round(n_hit / n_true, 3) if n_true else 0.0

    # Only the kernel bucket path is timed: the expression formulation
    # stays the oracle spec, and tests/test_round4_fixes.py enforces
    # byte-identical buckets between the two, so its recall is the
    # kernel's by construction — timing it doubled the LSH wall for no
    # extra signal. Set BENCH_LSH_EXPR=1 to time it anyway.
    ann_recall_kernel = recall("lsh_kernel", ann_lsh_topk(emb))
    time_expr_lsh = os.environ.get("BENCH_LSH_EXPR", "").lower() not in ("", "0", "false")
    ann_recall = (
        recall("lsh", ann_lsh_topk(emb)) if time_expr_lsh else ann_recall_kernel
    )
    ivf_recall = recall("ivf", ivf_ann_topk(emb))
    ivf_lloyd_recall = recall("ivf_lloyd", ivf_lloyd_ann_topk(emb))
    # headline = frozen round-5 family list, derived from the per-family
    # timers — a later family CANNOT contribute (it isn't in HEADLINE_ANN)
    timings["ann_recall_check"] = round(
        sum(fam_sec[f] for f in HEADLINE_ANN), 3
    )
    # post-round-5 families (PQ, rescored PQ, SQ8, IVF-PQ): pure ADC at 32
    # bits/vector is deliberately lossy on the uniform-sphere fixture (the
    # information-theoretic worst case); the rescored two-stage number is
    # the deployment-shaped one
    pq_recall = recall("pq_adc", pq_ann_topk(emb))
    pq_rescored_recall = recall("pq_rescored", pq_ann_rescored(emb))
    sq8_recall = recall("sq8", sq8_ann_topk(emb))
    ivf_pq_recall = recall("ivf_pq", ivf_pq_ann_topk(emb))
    ann_family_ext_sec = round(sum(fam_sec[f] for f in EXT_ANN), 3)
    exact.unpersist()

    # ANN recall on the CLUSTERED fixture (mixture of Gaussians,
    # datagen.synth_clustered_embeddings): the uniform-sphere driver
    # fixture is PQ's information-theoretic worst case, so its PQ/IVF-PQ
    # recalls carry no regression signal — these do. Floors are asserted
    # in tests/test_round7_fixes.py; not part of any headline timing.
    from langtoolsosm_spark.datagen import ensure_clustered_embeddings

    t_cl = time.time()
    cemb = spark.read.parquet(ensure_clustered_embeddings(tier))
    cexact = topk_dot_kernel(cemb).select("query_id", "neighbor_id").persist()
    cn_true = cexact.count()

    def crecall(approx):
        n_hit = cexact.join(
            approx.select("query_id", "neighbor_id"),
            ["query_id", "neighbor_id"], "left_semi",
        ).count()
        return round(n_hit / cn_true, 3) if cn_true else 0.0

    ann_recall_clustered = {
        "lsh_kernel": crecall(ann_lsh_topk(cemb)),
        "ivf": crecall(ivf_ann_topk(cemb)),
        "ivf_lloyd": crecall(ivf_lloyd_ann_topk(cemb)),
        "pq_adc": crecall(pq_ann_topk(cemb)),
        "pq_rescored": crecall(pq_ann_rescored(cemb)),
        "sq8": crecall(sq8_ann_topk(cemb)),
        "ivf_pq": crecall(ivf_pq_ann_topk(cemb)),
        "ivf_pq_rescored": crecall(ivf_pq_ann_rescored(cemb)),
    }
    cexact.unpersist()
    ann_clustered_sec = round(time.time() - t_cl, 3)

    # mobility/graph family: heaviest post-round-5 registry operators,
    # timed outside the headline (same comparability contract as EXT_ANN)
    mob_sec: dict[str, float] = {}
    for name in MOBILITY_FAMILY:
        fn, _oracle = REGISTRY[name]
        t1 = time.time()
        fn(spark, sf_dir).count()
        mob_sec[name] = round(time.time() - t1, 3)
    mobility_family_sec = round(sum(mob_sec.values()), 3)

    total = round(sum(timings.values()), 3)
    out = {
        "metric": "headline_total_sec",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "images_per_sec": round(images_per_sec, 1),
        "flagship_images": n_images,
        "flagship_trials": walls,
        "ann_recall_at_5": ann_recall,
        "ann_recall_at_5_kernel": ann_recall_kernel,
        "ivf_recall_at_5": ivf_recall,
        "ivf_lloyd_recall_at_5": ivf_lloyd_recall,
        "pq_adc_recall_at_5": pq_recall,
        "pq_rescored_recall_at_5": pq_rescored_recall,
        "sq8_recall_at_5": sq8_recall,
        "ivf_pq_recall_at_5": ivf_pq_recall,
        "corpus_pipeline_sec": round(
            timings["corpus_prep"] + timings["decontaminate"], 3
        ),
        # per-family breakdown (most of the LSH cost is fixed Catalyst
        # planning of the 1,536-literal projection trees — it amortizes at
        # scale); headline ann_recall_check == sum over HEADLINE_ANN,
        # ann_family_ext_sec == sum over EXT_ANN
        "ann_family_sec": fam_sec,
        "ann_family_ext_sec": ann_family_ext_sec,
        # recall@5 per family on the clustered (mixture-of-Gaussians)
        # fixture — the regression-signal counterpart of the
        # uniform-sphere numbers above; floors pinned in pytest
        "ann_recall_clustered": ann_recall_clustered,
        "ann_clustered_sec": ann_clustered_sec,
        # heaviest mobility/graph operators, outside the headline sum
        "mobility_family_sec": mobility_family_sec,
        "mobility_family_detail": mob_sec,
        "cpus": cpus,
        "load1_start": load1_start,
        "flagship_load1": trial_loads,
    }
    ref = _ab_ref()
    if ref:
        ab = run_ab(cpus, tier, ref, trials=int(os.environ.get("BENCH_AB_TRIALS", "2")))
        if ab:
            out["ab"] = ab
            out["ab_ratio"] = ab["ab_ratio"]
    # attach the latest N-vs-4N scaling evidence (bench_scaling.py writes
    # BENCH/BASELINE.md; the JSON sidecar carries the machine numbers),
    # but only when it was measured on a host with this run's core count:
    # numbers from another machine say nothing about this run
    side = os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH", "scaling.json")
    if os.path.exists(side):
        try:
            with open(side) as f:
                sc = json.load(f)
            if sc.get("host_cores") == os.cpu_count():
                out["scaling"] = {
                    "lo_cores": sc["lo"]["cores"],
                    "hi_cores": sc["hi"]["cores"],
                    "lo_images_per_sec": sc["lo"]["rows_per_sec"],
                    "hi_images_per_sec": sc["hi"]["rows_per_sec"],
                    "efficiency": sc["scaling_efficiency"],
                    "outputs_identical": sc["outputs_identical"],
                }
        except Exception:
            pass
    print(json.dumps(out))


if __name__ == "__main__":
    main()
