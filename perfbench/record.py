"""Record reference output digests into perfbench/reference.json.

    python3 perfbench/record.py 0-20 42

Runs each workload's job once per fixture seed in one Spark session and
stores the digests that ``run.py`` later compares every run against.
``registry_heavy`` has one fixed data set, recorded under its seed. Run
it only on a commit whose outputs are known good: a recorded digest is
the definition of a correct output for that seed.
"""

from __future__ import annotations

import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work", "record")


def seeds(args: list[str]) -> list[int]:
    out = []
    for a in args:
        lo, _, hi = a.partition("-")
        out += range(int(lo), int(hi or lo) + 1)
    return out


def record(spark, workload: str, seed: int) -> dict:
    import run
    import worker

    for sub in ("data", "out"):
        shutil.rmtree(os.path.join(WORK, sub), ignore_errors=True)
    os.makedirs(os.path.join(WORK, "data"))
    run.make_fixtures(workload, seed, os.path.join(WORK, "data"))
    wl = worker.WORKLOADS[workload](WORK)
    wl.warm_scan(spark)
    _, failed = wl.run(spark, "job", None)
    digests, problems, _ = wl.checks()
    if failed or problems:
        raise SystemExit(f"{workload} seed {seed}: {failed} failed, {problems}")
    return digests["job"]


def main() -> int:
    sys.path[:0] = [ROOT, HERE]
    import run

    os.makedirs(os.path.join(WORK, "tmp"), exist_ok=True)
    # the engine reads its data root when imported, so set the worker's
    # environment first
    os.environ.update(run.worker_env(WORK))
    from langtoolsosm_spark.session import get_spark

    path = os.path.join(HERE, "reference.json")
    with open(path) as f:
        ref = json.load(f)

    def save() -> None:
        with open(path, "w") as f:
            json.dump(ref, f, indent=1)
            f.write("\n")

    spark = get_spark("perfbench-record", cores=len(os.sched_getaffinity(0)))
    try:
        ref["registry_heavy"] = {
            str(run.REGISTRY_SEED): record(spark, "registry_heavy", run.REGISTRY_SEED)
        }
        save()
        print(f"registry_heavy: {ref['registry_heavy']}", flush=True)
        for seed in seeds(sys.argv[1:]):
            ref.setdefault("pipeline", {})[str(seed)] = record(spark, "pipeline", seed)
            ref["pipeline"] = dict(sorted(ref["pipeline"].items(), key=lambda kv: int(kv[0])))
            # saved after every seed, so an interrupted recording keeps its work
            save()
            print(f"pipeline seed {seed}: {ref['pipeline'][str(seed)]}", flush=True)
    finally:
        spark.stop()
        shutil.rmtree(WORK, ignore_errors=True)
        if not os.listdir(os.path.dirname(WORK)):
            os.rmdir(os.path.dirname(WORK))
    return 0


if __name__ == "__main__":
    sys.exit(main())
