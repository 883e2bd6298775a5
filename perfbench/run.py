"""spark-geotile benchmark entry point.

    python3 perfbench/run.py --workload pipeline --seed 1 --seconds 1 --trace 0

Run from the root of a checkout. Generates the seed's fixtures under
``.perfbench_work/`` (untimed), starts one worker process that sets up a
Spark session and runs the workload, checks the outputs, removes every
file the run wrote, and prints two lines: a provenance stamp
(``perfbench-stamp {...}``) and, last, the result object. ``--trace 0``
reports the end-to-end metrics, ``--trace 1`` the per-layer ones. See
perfbench/README.md.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

import catalog

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("pipeline", "registry_heavy")
# registry_heavy reads one fixed data set whatever --seed says: the
# checked-in sf0.1 test tables and the repo's own seed-42 image tier
REGISTRY_SEED = 42
TIMEOUT_S = 172


def fail(msg: str) -> int:
    print(f"perfbench: {msg}", file=sys.stderr)
    return 2


def load1() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def host_stamp() -> dict:
    with open("/proc/meminfo") as f:
        mem_kb = int(next(line for line in f if line.startswith("MemTotal")).split()[1])
    return {"nproc": len(os.sched_getaffinity(0)), "mem_total_kb": mem_kb}


def provenance() -> dict:
    """Git commit when the checkout is a repository, and always a digest
    of the engine's sources, so two results can be tied to one tree."""
    h = hashlib.sha256()
    pkg = os.path.join(ROOT, "langtoolsosm_spark")
    for d, _, files in sorted(os.walk(pkg)):
        for fn in sorted(files):
            if fn.endswith(".py"):
                p = os.path.join(d, fn)
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as f:
                    h.update(f.read())
    try:
        out = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "--show-toplevel", "HEAD"],
            capture_output=True, text=True, timeout=10,
        ).stdout.split()
    except OSError:
        out = []
    # only a repository rooted at this checkout, not one that encloses it
    commit = out[1] if len(out) == 2 and os.path.samefile(out[0], ROOT) else None
    import pyspark

    return {
        "git_commit": commit,
        "source_sha256": h.hexdigest(),
        "pyspark": pyspark.__version__,
        "python": sys.version.split()[0],
    }


def reference_for(workload: str, seed: int) -> dict | None:
    with open(os.path.join(HERE, "reference.json")) as f:
        return json.load(f).get(workload, {}).get(str(seed))


def fixture_seed(workload: str, seed: int) -> int:
    return REGISTRY_SEED if workload == "registry_heavy" else seed


def make_fixtures(workload: str, seed: int, data: str) -> None:
    import fixtures

    if workload == "registry_heavy":
        fixtures.registry_images(data)
    else:
        fixtures.synth_tier(data, "sf0.001", seed)


def group_alive(pgid: int) -> bool:
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                if os.getpgid(int(name)) == pgid:
                    return True
            except OSError:
                pass
    return False


def stop_group(proc: subprocess.Popen) -> None:
    """Kill whatever the worker left behind (JVM, Python workers) and wait."""
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    proc.wait()
    deadline = time.time() + 20
    while group_alive(proc.pid) and time.time() < deadline:
        time.sleep(0.1)


def spawn_worker(args, work: str, env: dict, trace: int, timeout: float) -> dict:
    """Run one worker to completion; return its record plus ``setup_s``."""
    for sub in ("out", "spark-local"):
        shutil.rmtree(os.path.join(work, sub), ignore_errors=True)
        os.makedirs(os.path.join(work, sub))
    result_path = os.path.join(work, "result.json")
    if os.path.exists(result_path):
        os.remove(result_path)
    log_path = os.path.join(work, "worker.log")
    cmd = [
        sys.executable, os.path.join(HERE, "worker.py"),
        "--workload", args.workload, "--trace", str(trace), "--work", work,
    ]
    with open(log_path, "wb") as log:
        t_spawn = time.time()
        proc = subprocess.Popen(
            cmd, cwd=work, env=env, stdout=log, stderr=subprocess.STDOUT,
            start_new_session=True,
        )
        try:
            code = proc.wait(timeout=max(1.0, timeout))
        except subprocess.TimeoutExpired:
            code = "timeout"
        finally:
            stop_group(proc)
    with open(log_path, errors="replace") as f:
        log_text = f.read()
    if code != 0 or not os.path.exists(result_path):
        sys.stderr.write(log_text[-6000:])
        raise RuntimeError(f"worker ended with {code}")
    if "Traceback" in log_text:
        sys.stderr.write(log_text[-6000:])
    with open(result_path) as f:
        rec = json.load(f)
    rec["setup_s"] = rec["ready"] - t_spawn
    return rec


def worker_env(work: str) -> dict:
    env = {
        k: v for k, v in os.environ.items()
        # the engine's own session defaults apply, not the caller's
        if k not in ("SPARK_DRIVER_MEM", "SPARK_GRAFT_CPUS", "SPARK_GRAFT_CLUSTER")
    }
    tmp = os.path.join(work, "tmp")
    path = [ROOT, HERE] + ([env["PYTHONPATH"]] if env.get("PYTHONPATH") else [])
    env.update(
        # Spark's Python workers import the engine too
        PYTHONPATH=os.pathsep.join(path),
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        LTOSM_DATA_ROOT=os.path.join(work, "data"),
        TMPDIR=tmp,
        JAVA_TOOL_OPTIONS=f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        PYTHONUNBUFFERED="1",
    )
    return env


def check(recs: list[dict], reference: dict | None) -> list[str]:
    """Each worker's own checks, plus: every operation's output agrees
    with the first worker's and with the reference recorded for this
    seed. An operation that raised has no digest; it is counted failed
    already."""
    problems = [p for r in recs for p in r["problems"]]
    expected = dict(reference or {})
    for r in recs:
        for op, d in (r["digest"] or {}).items():
            want = expected.setdefault(op, d)
            if d != want:
                problems.append(f"{op}: output {d}, expected {want}")
    return problems


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    t_start = time.time()
    # a terminated run still reaps its worker and removes its files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not os.path.isfile(os.path.join(ROOT, "langtoolsosm_spark", "session.py")):
        return fail(f"no engine sources next to {HERE}; run from a full checkout")
    sys.path[:0] = [ROOT, HERE]
    try:
        import pyspark  # noqa: F401
    except ImportError:
        return fail("pyspark is not importable")

    stamp = {
        "workload": args.workload,
        "seed": args.seed,
        "fixture_seed": fixture_seed(args.workload, args.seed),
        "host": host_stamp(),
        "load1_start": load1(),
        **provenance(),
    }
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    for sub in ("data", "tmp"):
        os.makedirs(os.path.join(work, sub))
    recs: list[dict] = []
    try:
        t = time.perf_counter()
        make_fixtures(args.workload, stamp["fixture_seed"], os.path.join(work, "data"))
        stamp["fixture_gen_s"] = time.perf_counter() - t
        env = worker_env(work)

        # one measured job per fresh worker process, until --seconds of
        # jobs are in (a traced run is always one worker)
        t_measure = time.time()
        while not recs or (not args.trace and time.time() - t_measure < args.seconds):
            last = recs[-1]["setup_s"] + recs[-1]["job_s"] if recs else 0.0
            if recs and time.time() + 1.5 * last > t_start + TIMEOUT_S:
                break
            recs.append(spawn_worker(
                args, work, env, args.trace, t_start + TIMEOUT_S - time.time()
            ))
    except RuntimeError as e:
        return fail(str(e))
    finally:
        shutil.rmtree(work, ignore_errors=True)
        parent = os.path.dirname(work)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)

    reference = reference_for(args.workload, stamp["fixture_seed"])
    problems = check(recs, reference)
    for p in problems:
        print(f"perfbench: check failed: {p}", file=sys.stderr)
    attempted = sum(r["attempted"] for r in recs)
    failed = min(attempted, sum(r["failed"] for r in recs) + len(problems))
    good = [r for r in recs if not r["failed"]] or recs
    wall_s = statistics.median(r["job_s"] for r in good)

    stamp.update(
        load1_end=load1(),
        reference=reference is not None,
        digest=recs[0]["digest"],
        error_rate=failed / attempted,
        java=recs[0]["java"],
        jobs=len(recs),
        job_walls_s=[r["job_s"] for r in recs],
        setups_s=[r["setup_s"] for r in recs],
        rows=recs[0]["rows"],
    )
    if args.trace:
        values = recs[0]["per_layer"]
        units = catalog.declared("per_layer")
    else:
        values = {
            "setup_s": statistics.median(r["setup_s"] for r in recs),
            "wall_s": wall_s,
            "rows_per_s": statistics.median(r["rows"] for r in good) / wall_s,
            "cpu_s": statistics.median(r["cpu_s"] for r in good),
        }
        units = catalog.declared("end_to_end")
    if set(values) != set(units):
        return fail(f"measured {sorted(values)}, BENCHMARK.json declares {sorted(units)}")
    metrics = {name: {"value": values[name], "unit": unit} for name, unit in units.items()}
    print("perfbench-stamp " + json.dumps(stamp, sort_keys=True))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
