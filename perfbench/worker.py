"""The measured process: one workload, one Spark session, closed loop.

Started by ``run.py`` in a fresh process per run, so set-up time and cache
state belong to one workload. One client runs one query at a time on
``local[nproc]``; every query's full result is materialised with Spark's
``noop`` sink. The process reads the program only through its public
entry points (``get_spark``, ``load_tables``, ``QUERIES[name].fn``) and
observes it through Spark's status stores and ``/proc`` (see status.py).

Phases: the cold set-up, one cold pass, the workload's untimed warm-up
passes, steady passes until ``--seconds`` have elapsed (at least three),
the output check against each query's DuckDB oracle, then two warm
set-ups (see ``_warm_setups``). With
``--trace 1`` steady passes alternate untraced and traced; traced passes
record spans (query -> queries.build / plans.plan / spark_exec.run, and
streaming.trigger under queries.build) and per-layer counters.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import statistics
import sys
import time
import traceback
from dataclasses import dataclass
from datetime import datetime

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import status  # noqa: E402  (stdlib-only module)


@dataclass(frozen=True)
class Workload:
    sf: float
    queries: tuple[str, ...]
    # untimed passes after the cold pass: the pass after it still runs
    # much interpreted code and JIT compilation (on sql it takes more than
    # twice the CPU of the later passes), and timing it makes the figures
    # follow the JIT
    warmup: int


WORKLOADS = {
    "sql": Workload(
        0.03,
        (
            "tpch_q1_pricing_summary",
            "tpch_q21_suppliers_who_kept_waiting",
            "over_frames",
        ),
        2,
    ),
    "curation_stream": Workload(
        0.01,
        (
            "pipe_decode_gif_frames",
            "graph_dedup_clusters_minhash",
            "streaming_dedup_keeplast_replay",
        ),
        1,
    ),
}
SETUPS = 3
# end-to-end figures whose run-to-run spread on a shared 4-vCPU host is
# wider than the largest bound a metric may have; they are per-layer
# metrics, without a bound (see README)
UNBOUNDED = ("cold_setup_s", "first_pass_s", "wall_s", "cpu_s")
MIN_STEADY_PASSES = 3


class Tracer:
    """Spans kept in memory and written out when the run ends."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []

    def add(self, name: str, start: float, end: float, parent: int | None, **attrs) -> int:
        span_id = len(self.spans)
        self.spans.append(
            {"id": span_id, "name": name, "start": start, "end": end,
             "parent": parent, "run_id": self.run_id, **attrs}
        )
        return span_id

    def self_time(self, span_id: int) -> float:
        """Duration minus the part of it covered by child spans."""
        span = self.spans[span_id]
        kids = sorted(
            (max(c["start"], span["start"]), min(c["end"], span["end"]))
            for c in self.spans if c["parent"] == span_id
        )
        covered, cur_start, cur_end = 0.0, None, None
        for a, b in kids:
            if cur_end is None or a > cur_end:
                if cur_end is not None:
                    covered += cur_end - cur_start
                cur_start, cur_end = a, b
            else:
                cur_end = max(cur_end, b)
        if cur_end is not None:
            covered += cur_end - cur_start
        return span["end"] - span["start"] - covered

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for span in self.spans:
                f.write(json.dumps(span) + "\n")


def _progress_listener():
    from pyspark.sql.streaming import StreamingQueryListener

    class ProgressLog(StreamingQueryListener):
        def __init__(self):
            self.events: list[dict] = []

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            self.events.append(json.loads(event.progress.json))

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return ProgressLog()


def _epoch(iso: str) -> float:
    return datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


def sum_of_medians(passes: list[dict], key: str = "query_s") -> float:
    """Sum over queries of each query's median over ``passes``: a noise
    spike in one query of one pass does not move the figure."""
    return sum(statistics.median(p[key][q] for p in passes) for q in passes[0][key])


class Run:
    def __init__(self, args):
        self.args = args
        self.workload = WORKLOADS[args.workload]
        self.pid = os.getpid()
        self.rng = random.Random(args.seed)
        self.tracer = Tracer(f"{args.workload}-seed{args.seed}-{self.pid}")
        self.failures: list[dict] = []
        self.attempted = 0
        self.hwm: dict[int, int] = {}
        self.last_dfs: dict = {}
        self.layer: dict[str, float] = {}

    # ------------------------------------------------------------ set-up

    def _setup(self) -> None:
        """The cold set-up, from process start (interpreter, imports, JVM
        launch, session, registry, catalog): ``cold_setup_s``."""
        from flink_ci_flink_spark.catalog import load_tables
        from flink_ci_flink_spark.queries import QUERIES
        from flink_ci_flink_spark.session import get_spark

        self.QUERIES = QUERIES
        import_s = time.time() - self.args.spawn_time
        t0 = time.time()
        spark = get_spark("perfbench")
        t1 = time.time()
        if self.args.trace:
            cold_status = status.SparkStatus(spark)
            last_job, _ = cold_status.mark()
        t2 = time.time()
        load_tables(spark, self.args.data_dir)
        t3 = time.time()
        self.setups = [t3 - self.args.spawn_time - (t2 - t1)]
        if self.args.trace:
            self.layer["catalog.load_jobs"] = len(cold_status.jobs_since(last_job))
        self.layer.update({
            "session.import_s": import_s,
            "session.start_s": t1 - t0,
            "catalog.load_s": t3 - t2,
        })
        self.spark = spark
        if self.args.trace:
            self.status = status.SparkStatus(spark)
            self.progress = _progress_listener()
            spark.streams.addListener(self.progress)

    def _warm_setups(self) -> None:
        """Set up ``SETUPS - 1`` more times, after the passes and the check
        so that the cold pass runs on a fresh JVM. Each stops the session
        and builds a new session and catalog on the running JVM; the import
        time of the cold set-up is added, because a new process would pay
        it again. The JVM launch cannot be repeated inside one process, so
        these set-ups exclude it, and the median of all of them
        (``setup_s``) is a warm set-up."""
        from flink_ci_flink_spark.catalog import load_tables
        from flink_ci_flink_spark.session import get_spark

        for _ in range(SETUPS - 1):
            a = time.time()
            self.spark.stop()
            self.spark = get_spark("perfbench")
            load_tables(self.spark, self.args.data_dir)
            self.setups.append(self.layer["session.import_s"] + time.time() - a)

    # ------------------------------------------------------------ queries

    def _sample_hwm(self) -> None:
        for pid, (role, kb) in status.tree_hwm_kb(self.pid).items():
            self.hwm[pid] = (role, max(kb, self.hwm.get(pid, (role, 0))[1]))

    def _query(self, name: str, pass_span: int | None) -> dict | None:
        """Build and fully materialise one query; traced when
        ``pass_span`` is set. Returns the per-query trace record."""
        self.attempted += 1
        spec = self.QUERIES[name]
        try:
            if pass_span is None:
                df = spec.fn(self.spark, self.args.data_dir)
                df.write.format("noop").mode("overwrite").save()
                self.last_dfs[name] = df
                return None
            return self._traced_query(name, spec, pass_span)
        except Exception as exc:  # noqa: BLE001 - a failing query is reported, not fatal
            self.failures.append({"query": name, "phase": "pass", "error": f"{type(exc).__name__}: {exc}"[:500]})
            traceback.print_exc(file=sys.stderr)
            return None

    def _traced_query(self, name: str, spec, pass_span: int) -> dict:
        st, tracer = self.status, self.tracer
        job0, exec0 = st.mark()
        n_events = len(self.progress.events)
        cpu0 = status.tree_cpu(self.pid)
        q0 = time.time()
        dcpu0 = time.process_time()
        df = spec.fn(self.spark, self.args.data_dir)
        build_cpu = time.process_time() - dcpu0
        q1 = time.time()
        st.drain()
        build_jobs = st.jobs_since(job0)
        job1 = max([j["jobId"] for j in build_jobs], default=job0)
        q2 = time.time()
        df._jdf.queryExecution().executedPlan()
        q3 = time.time()
        jvm0 = status.tree_cpu(self.pid)["jvm"]
        df.write.format("noop").mode("overwrite").save()
        q4 = time.time()
        jvm_cpu = status.tree_cpu(self.pid)["jvm"] - jvm0
        self.last_dfs[name] = df
        # the drain and job read between build and plan belong to the
        # query span but to no layer: they count as tracing overhead
        qspan = tracer.add("query", q0, q4, pass_span, query=name)
        bspan = tracer.add("queries.build", q0, q1, qspan)
        tracer.add("plans.plan", q2, q3, qspan)
        tracer.add("spark_exec.run", q3, q4, qspan)
        run_jobs = st.jobs_since(job1)
        stages = status.stage_totals(st.stages_of(run_jobs))
        plan = status.plan_totals(st.executions_since(exec0))
        cpu = status.tree_cpu(self.pid)
        events = self.progress.events[n_events:]
        for ev in events:
            start = _epoch(ev["timestamp"])
            tracer.add("streaming.trigger", start,
                       start + ev["durationMs"].get("triggerExecution", 0) / 1e3,
                       bspan, batch_id=ev["batchId"])
        rec = {
            "query": name, "span": qspan,
            "queries.build_s": q1 - q0, "queries.build_jobs": len(build_jobs),
            "queries.driver_cpu_s": build_cpu,
            "plans.plan_s": q3 - q2, "plans.exchanges": plan["exchanges"], "plans.scans": plan["scans"],
            "spark_exec.run_s": q4 - q3, "spark_exec.jobs": len(run_jobs),
            "spark_exec.agg_fallback_tasks": plan["agg_fallback_tasks"],
            "spark_exec.jvm_cpu_s": jvm_cpu,
            "spark_exec.jit_cpu_s": cpu["jit"] - cpu0["jit"],
            "pyworker.cpu_s": cpu["pyworker"] - cpu0["pyworker"],
            "streaming.triggers": len(events),
            "streaming.input_rows": sum(ev["numInputRows"] for ev in events),
            "trigger_ms": [ev["durationMs"].get("triggerExecution", 0) for ev in events],
            "streaming.outside_trigger_s": 0.0, "streaming.state_rows": 0, "streaming.state_mb": 0.0,
            "graph.supersteps": 0, "graph.superstep_s": 0.0,
        }
        rec.update({f"spark_exec.{k}": v for k, v in stages.items()})
        for key in ("start_s", "init_s", "run_s", "sent_mb", "returned_mb"):
            rec[f"pyworker.{key}"] = plan[key]
        for key, phase in (("add_batch_s", "addBatch"), ("query_planning_s", "queryPlanning"),
                           ("wal_commit_s", "walCommit"), ("commit_offsets_s", "commitOffsets"),
                           ("latest_offset_s", "latestOffset"), ("trigger_s", "triggerExecution")):
            rec[f"streaming.{key}"] = sum(ev["durationMs"].get(phase, 0) for ev in events) / 1e3
        if events:
            rec["streaming.outside_trigger_s"] = rec["queries.build_s"] - rec["streaming.trigger_s"]
            last: dict[str, dict] = {}
            for ev in events:
                last[ev["runId"]] = ev
            ops = [op for ev in last.values() for op in ev.get("stateOperators", [])]
            rec["streaming.state_rows"] = sum(op.get("numRowsTotal", 0) for op in ops)
            rec["streaming.state_mb"] = sum(op.get("memoryUsedBytes", 0) for op in ops) / status.MB
        if spec.group == "graph":
            from flink_ci_flink_spark.graph.algorithms import LAST_CC_STATS

            rec["graph.supersteps"] = LAST_CC_STATS.get("supersteps", 0)
            rec["graph.superstep_s"] = sum(LAST_CC_STATS.get("superstep_secs", []))
        return rec

    def _pass(self, kind: str, traced: bool) -> dict:
        names = list(self.workload.queries)
        self.rng.shuffle(names)
        cpu0 = status.tree_cpu(self.pid)
        t0 = time.time()
        span = None
        if self.args.trace:  # every pass gets a span; only traced ones get children
            span = self.tracer.add("pass", t0, t0, self.root, kind=kind, traced=traced)
        records, query_s, query_cpu_s = [], {}, {}
        for name in names:
            c = status.tree_cpu(self.pid)["total"]
            a = time.time()
            records.append(self._query(name, span if traced else None))
            query_s[name] = time.time() - a
            query_cpu_s[name] = status.tree_cpu(self.pid)["total"] - c
        t1 = time.time()
        if span is not None:
            self.tracer.spans[span]["end"] = t1
        self._sample_hwm()
        cpu1 = status.tree_cpu(self.pid)
        return {
            "kind": kind, "traced": traced, "wall_s": t1 - t0,
            "query_s": query_s, "query_cpu_s": query_cpu_s,
            "cpu_s": cpu1["total"] - cpu0["total"],
            "jit_s": cpu1["jit"] - cpu0["jit"],
            "records": [r for r in records if r is not None],
        }

    # ------------------------------------------------------------ check

    def _oracle(self, con, sql: str):
        """The oracle's result, run once per input content: the seed only
        permutes rows, so the result is cached by the generator's
        fingerprint, the scale and the oracle SQL."""
        import hashlib
        import pickle

        import datagen

        key = hashlib.sha256(
            f"{datagen.source_fingerprint()}|{self.workload.sf}|{sql}".encode()
        ).hexdigest()[:20]
        path = os.path.join(self.args.oracle_cache, f"{key}.pkl")
        if os.path.exists(path):
            with open(path, "rb") as f:
                return pickle.load(f)
        want = con.execute(sql).fetchdf()
        os.makedirs(self.args.oracle_cache, exist_ok=True)
        with open(path + ".tmp", "wb") as f:
            pickle.dump(want, f)
        os.replace(path + ".tmp", path)
        return want

    def _check(self) -> list[dict]:
        """Compare each query's full result with its DuckDB oracle once,
        outside the timed passes. A mismatch or error is recorded by name."""
        import duckdb
        from tests.compare import assert_frames_match

        results = []
        con = duckdb.connect()
        try:
            for table in ("region nation customer supplier part orders lineitem "
                          "events documents embeddings").split():
                path = os.path.join(self.args.data_dir, f"{table}.parquet")
                con.execute(f"CREATE VIEW {table} AS SELECT * FROM '{path}'")
            for name in self.workload.queries:
                self.attempted += 1
                try:
                    if name not in self.last_dfs:
                        raise RuntimeError("no result: the query failed in every pass")
                    a = time.time()
                    got = self.last_dfs[name].toPandas()
                    b = time.time()
                    want = self._oracle(con, self.QUERIES[name].oracle)
                    c = time.time()
                    assert_frames_match(got, want, name)
                    results.append({"query": name, "ok": True, "rows": len(got),
                                    "spark_s": b - a, "oracle_s": c - b, "compare_s": time.time() - c})
                except Exception as exc:  # noqa: BLE001 - recorded, the run goes on
                    msg = f"{type(exc).__name__}: {exc}"[:500]
                    results.append({"query": name, "ok": False, "error": msg})
                    self.failures.append({"query": name, "phase": "check", "error": msg})
        finally:
            con.close()
        return results

    # ------------------------------------------------------------ report

    def _layer_metrics(self, steady: list[dict], first: dict) -> dict[str, float]:
        """Per-layer values: per traced steady pass, the sum over its
        queries; then the median over those passes."""
        traced = [p for p in steady if p["traced"]]
        out = dict(self.layer)
        for key in {k for p in traced for r in p["records"] for k in r if "." in k}:
            out[key] = statistics.median(sum(r[key] for r in p["records"]) for p in traced)
        run_s = out["spark_exec.run_s"]
        out["spark_exec.core_busy"] = out["spark_exec.task_s"] / (run_s * os.cpu_count()) if run_s else 0.0
        out["pyworker.cold_start_s"] = sum(r["pyworker.start_s"] for r in first["records"])
        out["pyworker.cold_init_s"] = sum(r["pyworker.init_s"] for r in first["records"])
        triggers = sorted(t for p in [first] + traced for r in p["records"] for t in r["trigger_ms"])
        n = len(triggers)
        out["streaming.trigger_p50_ms"] = statistics.median(triggers) if n else 0.0
        # highest percentile with at least ten triggers beyond it
        out["streaming.trigger_tail_ms"] = triggers[n - 11] if n > 10 else (triggers[-1] if n else 0.0)
        self.trigger_note = {"samples": n, "tail_percentile": 100 * (n - 10) / n if n > 10 else None}
        out["trace.overhead_s"] = statistics.median(p["wall_s"] for p in traced) - statistics.median(
            p["wall_s"] for p in steady if not p["traced"]
        )
        out["trace.unaccounted_s"] = statistics.median(
            sum(self.tracer.self_time(r["span"]) for r in p["records"]) for p in traced
        )
        return out

    def execute(self) -> dict:
        env0 = status.machine_env()
        self.root = self.tracer.add("workload", time.time(), 0.0, None, workload=self.args.workload)
        self._setup()
        self._sample_hwm()
        t_setup = time.time()
        first = self._pass("first", bool(self.args.trace))
        warmup = [self._pass("warmup", False) for _ in range(self.workload.warmup)]
        steady, t0 = [], time.time()
        while len(steady) < MIN_STEADY_PASSES or time.time() - t0 < self.args.seconds:
            traced = bool(self.args.trace) and len(steady) % 2 == 1
            steady.append(self._pass("steady", traced))
        t_passes = time.time()
        # peak RSS is sampled up to here: the check's DuckDB results and
        # pandas frames are the benchmark's, not the program's
        check = self._check()
        heap = status.jvm_heap_mb(self.spark)
        t_check = time.time()
        self._warm_setups()
        env1 = status.machine_env()
        untraced = [p for p in steady if not p["traced"]]
        result = {
            "workload": self.args.workload,
            "seed": self.args.seed,
            "queries": list(self.workload.queries),
            "setups_s": self.setups,
            "phases_s": {
                "setup": t_setup - self.args.spawn_time,
                "passes": t_passes - t_setup,
                "check": t_check - t_passes,
                "warm_setups": time.time() - t_check,
            },
            "peak_rss_mb_by_process": sorted(
                (role, round(kb / 1024, 1)) for role, kb in self.hwm.values()
            ),
            "jvm_heap_mb": heap,
            "passes": [
                {k: p[k] for k in ("kind", "traced", "wall_s", "cpu_s", "jit_s", "query_s", "query_cpu_s")}
                for p in [first] + warmup + steady
            ],
            "check": check,
            "failures": self.failures,
            "attempted": self.attempted,
            "env": {
                "start": env0, "end": env1,
                "steal_s": env1["steal_s"] - env0["steal_s"],
                "driver_mem": os.environ.get("SPARK_GRAFT_DRIVER_MEM"),
                "cpus": os.environ.get("SPARK_GRAFT_CPUS"),
            },
            "end_to_end": {
                "setup_s": statistics.median(self.setups),
                "cold_setup_s": self.setups[0],
                "first_pass_s": first["wall_s"],
                "wall_s": sum_of_medians(untraced),
                "cpu_s": sum_of_medians(untraced, "query_cpu_s"),
                "peak_rss_mb": sum(kb for _, kb in self.hwm.values()) / 1024,
            },
        }
        self.layer["session.pass_drift"] = untraced[-1]["wall_s"] / untraced[0]["wall_s"]
        if self.args.trace:
            result["per_layer"] = self._layer_metrics(steady, first)
            # too noisy run to run for a bound (see README): reported, not gated
            for name in UNBOUNDED:
                result["per_layer"][name] = result["end_to_end"][name]
            result["trigger_note"] = self.trigger_note
            result["per_query"] = []
            for rec in (r for p in steady if p["traced"] for r in p["records"]):
                span = self.tracer.spans[rec["span"]]
                row = {"query": rec["query"], "wall_s": span["end"] - span["start"]}
                for child in self.tracer.spans:
                    if child["parent"] == rec["span"]:
                        row[child["name"] + ".self_s"] = self.tracer.self_time(child["id"])
                result["per_query"].append(row)
            self.tracer.spans[self.root]["end"] = time.time()
            self.tracer.write(self.args.spans)
            result["spans_file"] = self.args.spans
        return result


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--data-dir", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--spawn-time", type=float, required=True)
    ap.add_argument("--result", required=True)
    ap.add_argument("--spans", required=True)
    ap.add_argument("--oracle-cache", required=True)
    args = ap.parse_args(argv)
    result = Run(args).execute()
    with open(args.result, "w") as f:
        json.dump(result, f)
    # The parent kills the JVM and the Python workers with the process
    # group; a graceful session stop would only add to the run's length.
    sys.stdout.flush()
    os._exit(0)


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
