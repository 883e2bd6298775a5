"""Self-test of the benchmark (about five minutes on four cores).

    python3 perfbench/selftest.py [workload ...]

1. The status-store calls the tracer relies on have the shape it
   expects on this pyspark: ``AppStatusStore.stageList`` takes five
   arguments (a one-argument call fails), and ``taskSummary`` answers.
2. Each workload runs once with seed 42 (the repo's own fixtures),
   untraced and traced. Each run must exit 0, print a
   well-formed last line with ``correct`` true, and emit every named
   metric that BENCHMARK.json declares, with its unit; the traced
   pipeline run must attribute at least 90% of executor run time to
   named spans.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

import catalog  # noqa: E402


def check_status_store() -> None:
    from py4j.protocol import Py4JError

    from langtoolsosm_spark.session import get_spark

    spark = get_spark("perfbench-selftest", cores=1)
    try:
        sc = spark.sparkContext
        spark.range(10).count()
        store = sc._jsc.sc().statusStore()
        jlist = sc._jvm.java.util.ArrayList
        try:
            store.stageList(jlist())
        except Py4JError:
            pass
        else:
            raise AssertionError("stageList accepted one argument")
        gw = sc._gateway
        stages = store.stageList(jlist(), False, False, gw.new_array(gw.jvm.double, 0), jlist())
        assert stages.size() > 0, "stageList returned no stages"
        s = stages.apply(0)
        q = gw.new_array(gw.jvm.double, 1)
        q[0] = 1.0
        assert store.taskSummary(s.stageId(), s.attemptId(), q).isDefined()
    finally:
        spark.stop()


def run(workload: str, trace: int) -> dict:
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "42", "--seconds", "1", "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=180,
    )
    assert proc.returncode == 0, f"{workload} trace={trace}: exit {proc.returncode}\n{proc.stderr[-3000:]}"
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}, result.keys()
    assert result["correct"] and result["failed"] == 0, (workload, trace, proc.stderr[-3000:])
    want = catalog.declared("per_layer" if trace else "end_to_end")
    got = {name: m["unit"] for name, m in result["metrics"].items()}
    assert got == want, f"{workload} trace={trace}: metric names or units differ"
    for name, m in result["metrics"].items():
        assert isinstance(m["value"], (int, float)), (name, m)
    return result["metrics"]


def main() -> int:
    workloads = sys.argv[1:] or ["pipeline", "registry_heavy"]
    check_status_store()
    print("status store: ok", flush=True)
    for wl in workloads:
        e2e = run(wl, 0)
        assert all(m["value"] > 0 for m in e2e.values()), (wl, e2e)
        layers = run(wl, 1)
        if wl == "pipeline":
            share = layers["trace.attributed_share"]["value"]
            assert share >= 0.9, f"pipeline attributes only {share:.1%} to named spans"
            assert all(
                layers[f"{span}.wall_s"]["value"] > 0 for span in catalog.PIPELINE_SPANS
            ), "a pipeline span is missing"
        if wl == "registry_heavy":
            assert all(
                layers[f"query.{q}.wall_s"]["value"] > 0 for q in catalog.QUERIES
            ), "a query span is missing"
        print(f"{wl}: ok (wall_s {e2e['wall_s']['value']:.2f} s, "
              f"attributed {layers['trace.attributed_share']['value']:.1%})", flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
