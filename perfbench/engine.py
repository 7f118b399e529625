"""One measured run of a workload; started by ``run.py``, which owns the
environment (PYTHONPATH, TMPDIR, SPARK_LOCAL_DIRS, launch-time Spark conf)
and cleans up after it.

A run:
  1. sets the session up three times (``session.get_spark`` plus the
     bench.py warm-up: one parquet read and one mapInPandas noop write);
     the first start launches the JVM, the other two restart the
     SparkContext inside it;
  2. runs every query once and checks its collected output against the
     recorded digest, outside the timed window, then times bench.py's
     20M-row calibration op, as context;
  3. runs one untimed noop pass more, so that the JIT compiler has caught
     up with the code the queries run;
  4. runs whole passes, each in a fresh seeded order, until ``--seconds``
     have passed and at least two passes are done: build, then ``noop``
     write, then ``clearCache()``; each pass's wall time and the CPU time
     of every process of the run (driver, JVM, Python workers) are kept;
  5. with ``--trace 1``, every other pass is traced (spans, job groups,
     status tracker, event log) and ``load_table`` is timed directly on
     every table the workload read;
  6. prints one line per metric with its unit and sample count, a context
     line, and the result object as the last line of stdout.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import random
import statistics
import sys
import time
from contextlib import nullcontext

from digests import digest, expected, load as load_digests
from workloads import WORKLOADS
from tracing import Tracer, fold_event_log, status_counts

MB = 1024.0 * 1024.0
SETUPS = 3
MIN_PASSES = 2
PHASES = {"build", "plan", "exec", "direct"}


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _calibration(spark, cpus: int) -> float:
    """bench.py's pure-JVM calibration op (shuffle + aggregation)."""
    t0 = time.perf_counter()
    _noop(
        spark.range(0, 20_000_000, 1, cpus)
        .selectExpr("id % 1000 AS k", "id AS v")
        .groupBy("k")
        .sum("v")
    )
    return time.perf_counter() - t0


def _tail(values: list[float], min_samples: int) -> tuple[float, float]:
    """(value, percentile) of the tail: the nearest-rank percentile that
    leaves ten samples above it in the smallest pool a run can have
    (``min_samples``). Fixing it per workload keeps the estimate the same
    quantile when a faster or slower run fits more or fewer passes."""
    pct = 100.0 * (1.0 - 10.0 / min_samples)
    xs = sorted(values)
    return xs[max(0, math.ceil(pct / 100.0 * len(xs)) - 1)], pct


_TICK = os.sysconf("SC_CLK_TCK")


def _stat(path: str) -> tuple[str, list[str]]:
    """(command name, the fields after it) of a /proc stat file."""
    with open(path) as f:
        raw = f.read()
    return raw[raw.index("(") + 1:raw.rindex(")")], raw[raw.rindex(")") + 1:].split()


def _session_cpu() -> dict[tuple[int, int], tuple[bool, int]]:
    """CPU clock ticks (user + system) used so far by this run's session:
    this driver, the Python workers and each thread of the JVM, keyed
    (pid, tid) and flagged when the thread is a JIT compiler thread.

    Reaped children are left out on purpose: the Python worker daemon
    ignores SIGCHLD, so its workers' time is never handed to a parent, while
    the JVM does reap the daemon, which would add the daemon's whole life to
    the JVM at once."""
    sid = os.getsid(0)
    out = {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            comm, fields = _stat(f"/proc/{pid}/stat")
            if int(fields[3]) != sid:  # fields[0] is field 3 of proc(5), the state
                continue
            if comm != "java":
                out[int(pid), 0] = (False, int(fields[11]) + int(fields[12]))  # utime + stime
                continue
            for tid in os.listdir(f"/proc/{pid}/task"):
                try:
                    comm, fields = _stat(f"/proc/{pid}/task/{tid}/stat")
                except OSError:  # the thread ended while listing
                    continue
                jit = comm.startswith(("C1 Compiler", "C2 Compiler"))
                out[int(pid), int(tid)] = (jit, int(fields[11]) + int(fields[12]))
        except OSError:  # the process ended while listing
            continue
    return out


def _cpu_s(before: dict, after: dict, jit: bool = False) -> float:
    """CPU seconds the session used between two snapshots, outside the JIT
    compiler threads (``jit=False``) or in them. A thread or process that
    ends in between loses the part it used after ``before``: the JVM starts
    and ends compiler threads as its compile queue grows and shrinks, the
    other JVM threads live in pools, and the Python workers and their
    daemon end only when a SparkContext stops."""
    ticks = 0
    for key, (is_jit, t) in after.items():
        if is_jit == jit:
            t0 = before.get(key, (is_jit, 0))[1]
            ticks += t - t0 if t >= t0 else t  # t < t0: the id was reused
    return ticks / _TICK


def _steal_s() -> float:
    """Host steal time of the whole VM so far (all CPUs): context for
    recognising a run on a contended host."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / _TICK


def _jvm_peak_rss_mb(spark) -> float:
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing from /proc status")


class Run:
    def __init__(self, args):
        self.args = args
        self.workload = WORKLOADS[args.workload]
        self.nproc = len(os.sched_getaffinity(0))
        # half the CPUs: the JVM's JIT compiler and GC threads, the Python
        # workers and this driver need the rest, so Spark's task threads do
        # not queue behind them for a CPU
        self.cpus = max(1, self.nproc // 2)
        self.rng = random.Random(args.seed)
        self.tracer: Tracer | None = None
        self.context: dict = {
            "workload": args.workload,
            "seed": args.seed,
            "scale": self.workload.scale,
            "nproc": self.nproc,
            "spark_cores": self.cpus,
            "loadavg_before": os.getloadavg(),
        }
        self.tables_read: set[str] = set()
        self.setup_marks: list[tuple[float, float, float]] = []

    # -- set-up ---------------------------------------------------------
    def set_up(self, spark=None):
        """Stop ``spark`` if given, then ``get_spark`` plus the bench.py
        warm-up (one parquet read, one mapInPandas noop write)."""
        from gisaid_pipeline_functions_spark.session import get_spark

        if spark is not None:
            spark.stop()
        c0 = _session_cpu()
        t0 = time.perf_counter()
        spark = get_spark("perfbench", cpus=self.cpus)
        t1 = time.perf_counter()
        spark.read.parquet(os.path.join(self.args.data_dir, "lineitem.parquet")).count()
        _noop(spark.range(0, self.cpus, 1, self.cpus).mapInPandas(lambda it: it, "id long"))
        t2 = time.perf_counter()
        spark.sparkContext.setLogLevel("ERROR")
        self.setup_marks.append((t0, t1, t2))
        c1 = _session_cpu()
        for key, value in (
            ("setup_cpu_s", _cpu_s(c0, c1)),
            ("setup_jit_cpu_s", _cpu_s(c0, c1, jit=True)),
            ("setup_wall_s", t2 - t0),
            ("session_start_s", t1 - t0),
            ("session_warmup_s", t2 - t1),
        ):
            self.context.setdefault(key, []).append(value)
        return spark

    # -- layer hooks ----------------------------------------------------
    def _patch_load_table(self):
        """Record every table a query reads, and trace the call when a
        span is open. Patches the function where the query modules bound it."""
        import gisaid_pipeline_functions_spark.sources.tables as tables

        original = tables.load_table

        def load_table(spark, sf_dir, name):
            self.tables_read.add(name)
            if self.tracer is None or self.tracer.current is None:
                return original(spark, sf_dir, name)
            with self.tracer.span(f"load_table:{name}", "sources"):
                return original(spark, sf_dir, name)

        for mod in list(sys.modules.values()):
            if getattr(mod, "__name__", "").startswith("gisaid_pipeline_functions_spark") and (
                getattr(mod, "load_table", None) is original
            ):
                mod.load_table = load_table
        return original

    # -- correctness ----------------------------------------------------
    def check(self, spark, qs) -> dict[str, dict]:
        book = load_digests(self.args.digests)
        out = {}
        t0 = time.perf_counter()
        for name in self.rng.sample(self.workload.queries, len(self.workload.queries)):
            q0 = time.perf_counter()
            try:
                df = qs[name](spark, self.args.data_dir)
                rows = df.collect()
                got = digest(df.columns, rows)
                want = expected(book, self.workload.scale, name)
                out[name] = {"rows": len(rows), "ok": got == want}
                if got != want:
                    out[name]["error"] = f"digest {got[:12]} != recorded {str(want)[:12]}"
            except Exception as e:  # a failing query is a result, not a crash
                out[name] = {"rows": 0, "ok": False, "error": f"{type(e).__name__}: {e}"[:300]}
            spark.catalog.clearCache()
            out[name]["s"] = time.perf_counter() - q0
        self.context["check_s"] = time.perf_counter() - t0
        return out

    # -- measured passes ------------------------------------------------
    def _span(self, traced: bool, name: str, layer: str, query: str | None = None):
        return self.tracer.span(name, layer, query) if traced else nullcontext()

    def run_query(self, spark, qs, name, traced: bool) -> tuple[float, float, float]:
        """(build_s, plan_s, exec_s) of one query. Only a traced run plans
        the DataFrame on its own before the write; untraced, plan_s is 0."""
        with self._span(traced, name, "query", name):
            t0 = time.perf_counter()
            with self._span(traced, "build", "build"):
                df = qs[name](spark, self.args.data_dir)
            t1 = time.perf_counter()
            if traced:
                with self._span(traced, "plan", "plan"):
                    df._jdf.queryExecution().executedPlan()
            t2 = time.perf_counter()
            with self._span(traced, "exec", "exec"):
                _noop(df)
            t3 = time.perf_counter()
        return t1 - t0, t2 - t1, t3 - t2

    def passes(self, spark, qs, check: dict):
        samples: list[dict] = []
        passes: list[dict] = []
        errors: dict[str, str] = {}
        # one untimed noop pass first: right after the correctness pass
        # (collect) the JIT compiler is still busy and the next pass costs
        # more, in wall time and in CPU outside the compiler, than later ones
        w0, c0 = time.perf_counter(), _session_cpu()
        self._pass(spark, qs, check, self.rng.sample(self.workload.queries, len(self.workload.queries)),
                   -1, False, [], errors)
        self.context["warmup_pass_wall_s"] = time.perf_counter() - w0
        self.context["warmup_pass_cpu_s"] = _cpu_s(c0, _session_cpu())
        start = time.perf_counter()
        n = 0
        while n < MIN_PASSES or time.perf_counter() - start < self.args.seconds:
            traced = bool(self.args.trace) and n % 2 == 0
            order = self.rng.sample(self.workload.queries, len(self.workload.queries))
            p0, c0, st0 = time.perf_counter(), _session_cpu(), _steal_s()
            with self._span(traced, f"pass{n}", "pass"):
                self._pass(spark, qs, check, order, n, traced, samples, errors)
            wall, c1 = time.perf_counter() - p0, _session_cpu()
            passes.append({
                "traced": traced, "wall_s": wall, "cpu_s": _cpu_s(c0, c1),
                "jit_cpu_s": _cpu_s(c0, c1, jit=True), "steal_s": _steal_s() - st0,
            })
            n += 1
        self.context["window_s"] = time.perf_counter() - start
        self.context["passes"] = n
        self.context["pass_records"] = passes
        if errors:
            self.context["errors"] = errors
        attempted = len(samples)
        failed = sum(not s["ok"] for s in samples)
        return samples, passes, attempted, failed

    def _pass(self, spark, qs, check, order, n, traced, samples, errors) -> None:
        for name in order:
            t0 = time.perf_counter()
            try:
                build_s, plan_s, exec_s = self.run_query(spark, qs, name, traced)
                ok = check.get(name, {}).get("ok", False)
            except Exception as e:  # counted as failed; the run goes on
                build_s = plan_s = exec_s = 0.0
                ok = False
                errors[name] = f"{type(e).__name__}: {e}"[:300]
            spark.catalog.clearCache()
            samples.append({
                "query": name, "pass": n, "traced": traced, "ok": ok,
                "total_s": time.perf_counter() - t0,
                "build_s": build_s, "plan_s": plan_s, "exec_s": exec_s,
            })

    # -- direct source calls (traced run) -------------------------------
    def load_table_direct(self, spark, load_table) -> list[dict]:
        out = []
        for name in sorted(self.tables_read):
            times, groups = [], []
            for _ in range(3):
                with self.tracer.span(f"load_table:{name}", "direct") as s:
                    t0 = time.perf_counter()
                    load_table(spark, self.args.data_dir, name)
                    times.append(time.perf_counter() - t0)
                groups.append(s["id"])
            out.append({"table": name, "s": statistics.median(times), "groups": groups})
        return out

    # -- metrics ----------------------------------------------------------
    def end_to_end(self, samples, passes) -> dict:
        totals = [s["total_s"] for s in samples]
        tail, pct = _tail(totals, MIN_PASSES * len(self.workload.queries))
        # the pooled per-query order statistics stay in the context: with a
        # few dozen samples of nine query types they flip between adjacent
        # types when the host is contended (IQR 0.3-0.4 of the median over
        # ten runs on a shared 4-vCPU VM), too unsteady to gate on
        self.context["query_p50_s"] = statistics.median(totals)
        self.context["query_tail_s"] = tail
        self.context["query_tail_percentile"] = pct
        self.context["query_samples"] = len(totals)
        # wall times likewise: on a shared host they follow the neighbours'
        # load (see README.md), so the gated figures are CPU seconds
        self.context["wall_s"] = statistics.median(p["wall_s"] for p in passes)
        self.context["jit_cpu_s"] = statistics.median(p["jit_cpu_s"] for p in passes)
        self.context["setup_wall_median_s"] = statistics.median(self.context["setup_wall_s"])
        return {
            "pass_cpu_s": (statistics.median(p["cpu_s"] for p in passes), "s", len(passes)),
            "setup_s": (statistics.median(self.context["setup_cpu_s"]), "s", SETUPS),
        }

    def per_layer(self, spark, samples, passes, check, direct) -> dict:
        spans = self.tracer.with_self_times()
        traced = [s for s in samples if s["traced"]]
        traced_passes = [p for p in passes if p["traced"]]
        n_pass, n_q = len(traced_passes), len(traced)
        # each span's phase: its nearest build/plan/exec/direct-call ancestor,
        # itself included (spans are listed parents first)
        phase: dict[str, str | None] = {}
        for s in spans:
            phase[s["id"]] = s["layer"] if s["layer"] in PHASES else phase.get(s["parent"])
        counts = status_counts(spark.sparkContext, list(phase))
        self.context["jvm_peak_rss_mb"] = _jvm_peak_rss_mb(spark)
        app_id = spark.sparkContext.applicationId
        spark.stop()  # closes the event log
        log = fold_event_log(os.path.join(self.args.run_dir, "eventlog", app_id))

        def total(per_group: dict, phases: set, key: str) -> float:
            return sum(v.get(key, 0) for g, v in per_group.items() if phase.get(g) in phases)

        def per_pass(per_group: dict, phases: set, key: str, scale: float = 1.0) -> float:
            return total(per_group, phases, key) / n_pass / scale

        query = {"build", "plan", "exec"}
        build_s = sum(s["build_s"] for s in traced) / n_pass
        exec_s = sum(s["exec_s"] for s in traced) / n_pass
        n_direct = sum(len(d["groups"]) for d in direct)
        result_rows = sum(check.get(s["query"], {}).get("rows", 0) for s in traced)
        self.context["spans"] = spans
        self.context["python_run_s"] = per_pass(log, query, "python_run_s")
        self.context["sources_direct"] = [{"table": d["table"], "s": d["s"]} for d in direct]
        for key in ("wall_s", "cpu_s"):
            untraced, traced_value = (
                statistics.median(p[key] for p in passes if p["traced"] is t) for t in (False, True)
            )
            self.context[f"untraced_{key}"] = untraced
            self.context[f"traced_{key}"] = traced_value
            self.context[f"trace_overhead_{key}"] = traced_value - untraced
        ctx = self.context
        return {
            "session.cold_start_s": (ctx["setup_wall_s"][0], "s", 1),
            "session.start_s": (statistics.median(ctx["session_start_s"]), "s", SETUPS),
            "session.warmup_s": (statistics.median(ctx["session_warmup_s"]), "s", SETUPS),
            "session.jvm_peak_rss_mb": (ctx["jvm_peak_rss_mb"], "MB", 1),
            "jvm.jit_cpu_s": (statistics.median(p["jit_cpu_s"] for p in traced_passes), "s", n_pass),
            "sources.load_table_s": (statistics.mean(d["s"] for d in direct), "s", len(direct)),
            "sources.load_table_jobs": (total(counts, {"direct"}, "jobs") / n_direct, "count", n_direct),
            "build.s": (build_s, "s", n_pass),
            "build.jobs": (total(counts, {"build"}, "jobs") / n_q, "count", n_q),
            "build.share": (build_s / (build_s + exec_s), "ratio", n_pass),
            "plan.s": (sum(s["plan_s"] for s in traced) / n_pass, "s", n_pass),
            "exec.s": (exec_s, "s", n_pass),
            "exec.jobs": (per_pass(counts, {"exec"}, "jobs"), "count", n_pass),
            "exec.stages": (per_pass(counts, {"exec"}, "stages"), "count", n_pass),
            "exec.tasks": (per_pass(counts, {"exec"}, "tasks"), "count", n_pass),
            "exec.failed_tasks": (per_pass(counts, {"exec"}, "failed_tasks"), "count", n_pass),
            "exec.executor_run_s": (per_pass(log, {"exec"}, "run_s"), "s", n_pass),
            "exec.executor_cpu_s": (per_pass(log, {"exec"}, "cpu_s"), "s", n_pass),
            "exec.core_busy_share": (per_pass(log, {"exec"}, "run_s") / (exec_s * self.cpus), "ratio", n_pass),
            "exec.shuffle_write_mb": (per_pass(log, {"exec"}, "shuffle_write_bytes", MB), "MB", n_pass),
            "exec.shuffle_read_mb": (per_pass(log, {"exec"}, "shuffle_read_bytes", MB), "MB", n_pass),
            "exec.scan_rows_per_result_row": (total(log, {"exec"}, "scan_rows") / max(result_rows, 1), "ratio", n_q),
            "python.run_share": (total(log, query, "python_run_s") / max(total(log, query, "run_s"), 1e-9), "ratio", n_pass),
            "python.mb_sent": (per_pass(log, query, "python_sent_bytes", MB), "MB", n_pass),
            "python.mb_returned": (per_pass(log, query, "python_returned_bytes", MB), "MB", n_pass),
        }

    # -- driver -----------------------------------------------------------
    def main(self) -> int:
        from gisaid_pipeline_functions_spark import registry

        spark = None
        for _ in range(SETUPS):
            spark = self.set_up(spark)
        load_table = self._patch_load_table()
        qs = registry.queries()
        check = self.check(spark, qs)
        self.context["check"] = check
        self.context["calibration_start_s"] = _calibration(spark, self.cpus)
        if self.args.trace:
            self.tracer = Tracer(spark.sparkContext)
            for t0, t1, t2 in self.setup_marks:
                self.tracer.add("get_spark", "session.start", t0, t1)
                self.tracer.add("warm-up", "session.warmup", t1, t2)
        with self._span(bool(self.args.trace), "run", "run"):
            samples, passes, attempted, failed = self.passes(spark, qs, check)
            direct = self.load_table_direct(spark, load_table) if self.args.trace else []
        self.context["calibration_end_s"] = _calibration(spark, self.cpus)
        self.context["loadavg_after"] = os.getloadavg()
        self.context["queries"] = {
            q: statistics.median([s["total_s"] for s in samples if s["query"] == q and not s["traced"]] or [0.0])
            for q in self.workload.queries
        }
        if self.args.trace:
            metrics = self.per_layer(spark, samples, passes, check, direct)
        else:
            metrics = self.end_to_end(samples, passes)
            spark.stop()
        return self.report(metrics, attempted, failed, check, samples)

    def report(self, metrics, attempted, failed, check, samples) -> int:
        spans = self.context.pop("spans", None)
        os.makedirs(self.args.out_dir, exist_ok=True)
        stem = f"{self.args.workload}-seed{self.args.seed}-trace{self.args.trace}"
        detail = os.path.join(self.args.out_dir, stem + ".json")
        with open(detail, "w") as f:
            json.dump({"context": self.context, "samples": samples, "spans": spans}, f, indent=1)
        for name, (value, unit, n) in metrics.items():
            print(f"metric {name} = {value:.6g} {unit} (n={n})")
        for name, n in (
            ("wall_s", self.context["passes"]),
            ("jit_cpu_s", self.context["passes"]),
            ("setup_wall_median_s", SETUPS),
            ("query_p50_s", self.context.get("query_samples")),
            ("query_tail_s", self.context.get("query_samples")),
        ):
            if name in self.context:
                print(f"info {name} = {self.context[name]:.6g} s (n={n}, context only)")
        print("context " + json.dumps({**self.context, "detail": detail}))
        correct = failed == 0 and all(c["ok"] for c in check.values())
        print(json.dumps({
            "correct": correct,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u, _) in metrics.items()},
        }))
        return 0


def main(argv=None) -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), required=True)
    p.add_argument("--data-dir", required=True)
    p.add_argument("--run-dir", required=True)
    p.add_argument("--out-dir", required=True)
    p.add_argument("--digests", required=True)
    return Run(p.parse_args(argv)).main()


if __name__ == "__main__":
    sys.exit(main())
