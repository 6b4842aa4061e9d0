"""Benchmark entry point.

One run:

    python3 perfbench/run.py --workload sql --seed 1 --seconds 8 --trace 0

Run from the repository root. It writes the workload's seeded inputs
(cached under ``.perfbench_cache/``), starts ``worker.py`` in a fresh
process with its own temp and Spark local directories, waits for it, stops
every process it left, and prints the run's figures. The last line of
standard output is one JSON object: ``correct``, ``attempted``, ``failed``
and ``metrics`` (the ``end_to_end`` metrics of BENCHMARK.json with
``--trace 0``, the ``per_layer`` ones with ``--trace 1``).

Steadiness mode runs two sets of ten runs of the same code on every
workload and compares them:

    python3 perfbench/run.py --steadiness
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

RUN_TIMEOUT_S = 175
STEADY_RUNS = 10
MEM_CAP_MB = 1024


def _driver_mem() -> str:
    """Driver memory: 1 GiB, or a third of physical RAM when that is less."""
    ram_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // (1024 * 1024)
    return f"{min(MEM_CAP_MB, ram_mb // 3)}m"


def _group_alive(pgid: int) -> bool:
    from status import stat_fields

    for entry in os.listdir("/proc"):
        if entry.isdigit():
            fields = stat_fields(int(entry))
            if fields is not None and int(fields[3]) == pgid and fields[1] != "Z":
                return True
    return False


def _stop_group(proc: subprocess.Popen) -> None:
    """Kill what is left of the worker's process group and wait for it."""
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    proc.wait()
    deadline = time.time() + 20
    while _group_alive(proc.pid) and time.time() < deadline:
        time.sleep(0.1)


def run_once(root: str, workload: str, seed: int, seconds: float, trace: int) -> dict:
    import datagen
    from worker import WORKLOADS

    started = time.time()
    data_dir, sizes = datagen.ensure_inputs(
        os.path.join(root, ".perfbench_cache"), WORKLOADS[workload].sf, seed
    )
    out_dir = os.path.join(root, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    scratch = tempfile.mkdtemp(prefix=f"{workload}-{seed}-", dir=out_dir)
    env = dict(os.environ)
    env.update(
        PYTHONPATH=os.pathsep.join(p for p in (root, env.get("PYTHONPATH")) if p),
        PYSPARK_PYTHON=sys.executable,
        TMPDIR=scratch,
        SPARK_LOCAL_DIRS=os.path.join(scratch, "spark-local"),
        # keep the JVM's temp files (and its perf-data file) inside the checkout
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={scratch} -XX:-UsePerfData",
        SPARK_GRAFT_CPUS=str(os.cpu_count()),
        SPARK_GRAFT_DRIVER_MEM=_driver_mem(),
    )
    result_path = os.path.join(scratch, "result.json")
    spans_path = os.path.join(out_dir, f"spans-{workload}-seed{seed}.jsonl")
    cmd = [
        sys.executable, os.path.join(HERE, "worker.py"),
        "--workload", workload, "--data-dir", data_dir, "--seed", str(seed),
        "--seconds", str(seconds), "--trace", str(trace),
        "--result", result_path, "--spans", spans_path,
        "--oracle-cache", os.path.join(root, ".perfbench_cache", "oracle"),
    ]
    log_path = os.path.join(out_dir, f"worker-{workload}-seed{seed}-trace{trace}.log")
    try:
        with open(log_path, "w") as log:
            spawn = time.time()
            proc = subprocess.Popen(
                cmd + ["--spawn-time", repr(spawn)], cwd=scratch, env=env,
                stdout=log, stderr=subprocess.STDOUT, start_new_session=True,
            )
            try:
                code = proc.wait(timeout=RUN_TIMEOUT_S - (time.time() - started))
            except subprocess.TimeoutExpired:
                code = None
            finally:
                _stop_group(proc)
        if code != 0:
            with open(log_path) as f:
                tail = f.read()[-3000:]
            raise RuntimeError(f"worker exited with {code}; log tail:\n{tail}")
        with open(result_path) as f:
            result = json.load(f)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    result["inputs"] = sizes
    return result


def report(result: dict, specs: list[dict], trace: int) -> dict:
    """Print the run's details and return the final result object."""
    print(f"workload {result['workload']} seed {result['seed']} queries {result['queries']}")
    print("inputs " + json.dumps(result["inputs"]))
    print("env " + json.dumps(result["env"]))
    print("setups_s " + json.dumps([round(s, 3) for s in result["setups_s"]]))
    print("phases_s " + json.dumps({k: round(v, 3) for k, v in result["phases_s"].items()}))
    print("peak_rss_mb_by_process " + json.dumps(result["peak_rss_mb_by_process"]))
    print("jvm_heap_mb " + json.dumps({k: round(v, 1) for k, v in result["jvm_heap_mb"].items()}))
    for p in result["passes"]:
        print(f"pass {p['kind']:6s} traced={int(p['traced'])} wall_s={p['wall_s']:.3f} cpu_s={p['cpu_s']:.3f} jit_s={p['jit_s']:.3f} "
              + " ".join(f"{q}={t:.2f}" for q, t in p["query_s"].items()))
    for c in result["check"]:
        print(f"check {c['query']}: " + (json.dumps(c) if c["ok"] else "FAILED " + c["error"]))
    failed = len(result["failures"])
    print(f"failed_share {failed}/{result['attempted']} = {failed / result['attempted']:.4f}")
    for f in result["failures"]:
        print(f"failure {f['query']} ({f['phase']}): {f['error']}")
    print("end_to_end " + json.dumps(result["end_to_end"]))
    values = result["per_layer"] if trace else result["end_to_end"]
    if trace:
        note = result["trigger_note"]
        if note["tail_percentile"] is not None:
            print(f"streaming.trigger_tail_ms is p{note['tail_percentile']:.1f} of {note['samples']} triggers")
        else:
            print(f"streaming.trigger_tail_ms is the max of {note['samples']} triggers (fewer than 11)")
        for q in result["per_query"]:
            print("trace " + json.dumps({k: round(v, 4) if isinstance(v, float) else v for k, v in q.items()}))
        print(f"spans {result['spans_file']}")
    metrics = {}
    for spec in specs:
        if spec["name"] not in values:
            raise KeyError(f"run did not produce metric {spec['name']}")
        metrics[spec["name"]] = {"value": values[spec["name"]], "unit": spec["unit"]}
    return {
        "correct": failed == 0,
        "attempted": result["attempted"],
        "failed": failed,
        "metrics": metrics,
    }


def _quartiles(values: list[float]) -> tuple[float, float, float]:
    q1, med, q3 = statistics.quantiles(values, n=4) if len(values) > 1 else (values[0],) * 3
    return q1, med, q3


def steadiness(root: str, bench: dict, seconds: float) -> int:
    """Two sets of ``STEADY_RUNS`` runs per workload (other seeds in each
    set), then one traced run. Prints each end-to-end metric's medians,
    quartiles and spread (IQR / median, the larger of the two sets).

    Exit code 0 needs every run correct and, per metric and workload, what
    the benchmark's acceptance rests on: each set's spread within the
    metric's bound, and the two medians within the bound of each other.
    Whether the spread is also within a third of the bound (the steadiness
    target) is printed and does not decide the exit code."""
    from worker import UNBOUNDED, sum_of_medians

    ok = True
    for wl in (w["name"] for w in bench["workloads"]):
        sets = []
        for base in (0, 1000):
            values: dict[str, list[float]] = {}
            for seed in range(base + 1, base + STEADY_RUNS + 1):
                result = run_once(root, wl, seed, seconds, 0)
                res = report(result, bench["end_to_end"], 0)
                ok &= res["correct"]
                for name, value in result["end_to_end"].items():
                    values.setdefault(name, []).append(value)
                print(f"# {wl} seed {seed}: " + json.dumps(res), flush=True)
            sets.append(values)
        traced = run_once(root, wl, 1, seconds, 1)
        for spec in bench["end_to_end"] + [{"name": n, "bound": None} for n in UNBOUNDED]:
            name, bound = spec["name"], spec["bound"]
            a, b = (_quartiles(s[name]) for s in sets)
            spread = max((q[2] - q[0]) / q[1] for q in (a, b))
            if bound is None:  # reported without a bound (see README)
                agree = within = target = "n/a"
            else:
                agree = b[1] <= a[1] * (1 + bound) and a[1] <= b[1] * (1 + bound)
                within = spread <= bound
                target = spread <= bound / 3
                ok &= agree and within
            print(f"STEADY {wl:14s} {name:12s} median {a[1]:.4f}/{b[1]:.4f} "
                  f"q1-q3 {a[0]:.4f}-{a[2]:.4f} / {b[0]:.4f}-{b[2]:.4f} spread {spread:.3f} "
                  f"bound {bound} agree={agree} spread<=bound:{within} spread<=bound/3:{target}",
                  flush=True)
        traced_wall = sum_of_medians([p for p in traced["passes"] if p["traced"] and p["kind"] == "steady"])
        untraced_wall = statistics.median(sets[0]["wall_s"] + sets[1]["wall_s"])
        print(f"STEADY {wl:14s} tracing overhead {traced_wall - untraced_wall:.3f} s: traced run's "
              f"traced wall_s {traced_wall:.3f} s minus untraced median wall_s {untraced_wall:.3f} s "
              f"(in-run estimate {traced['per_layer']['trace.overhead_s']:.3f} s)", flush=True)
    return 0 if ok else 1


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--steadiness", action="store_true")
    args = ap.parse_args(argv)
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "flink_ci_flink_spark", "__init__.py")):
        print("perfbench: run from the repository root; flink_ci_flink_spark/ not found", file=sys.stderr)
        return 2
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        bench = json.load(f)
    seconds = args.seconds or bench["run_seconds"]
    # a SIGTERM runs the finally blocks that stop the worker's processes
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if args.steadiness:
        return steadiness(root, bench, seconds)
    if not args.workload:
        ap.error("--workload is required")
    result = run_once(root, args.workload, args.seed, seconds, args.trace)
    specs = bench["per_layer" if args.trace else "end_to_end"]
    print(json.dumps(report(result, specs, args.trace)))
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
