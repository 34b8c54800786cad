"""The engine's benchmark: one workload per run, end-to-end or traced.

    python3 perfbench/run.py --workload etl --seed 1 --seconds 1 --trace 0

Run from the root of a checkout. Inputs are generated from ``--seed``
into the work directory (``$PERFBENCH_WORK``, default
``.perfbench_work`` under the current directory) and cached there by
seed; the span file goes there too. Spark's local dir, warehouse, temp
files and the outputs go to a directory of the run's own under it,
removed when the run ends; nothing else is written. The engine runs at
``local[N]`` with N the number of CPUs this process may use.

With ``--trace 0`` the run repeats whole rounds of the workload's
operations for ``--seconds`` (at least one round) and reports the
end-to-end metrics, medians over rounds. With ``--trace 1`` it runs one
plain round to warm up, then traced rounds, which time each layer's
prefix of every operation and read Spark's stage and SQL metrics per
call, and reports the per-layer metrics. Every operation's output is
checked against a computation made apart from the engine. The last line
of standard output is the result; the line before it carries the host
stamp and the per-operation detail.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from ops import CheckFailed, dir_bytes  # noqa: E402
from spans import RssSampler, Tracer, _tree_pids, tree_cpu_s  # noqa: E402

SETUPS = 5  # one cold start, then restarts; setup_s is their median


def task_slots() -> int:
    return len(os.sched_getaffinity(0))


def driver_memory_mb() -> int:
    """A fifth of the host's memory, within [1, 2] GiB: the engine's own
    default (48 GB) does not fit small hosts."""
    with open("/proc/meminfo") as fh:
        total_kb = next(int(line.split()[1]) for line in fh if line.startswith("MemTotal:"))
    return max(1024, min(2048, total_kb // 1024 // 5))


class Composite:
    """Several input sets and their operations run as one workload."""

    def __init__(self, parts):
        self.parts = parts

    def prepare(self, spark, n_slots: int) -> None:
        for p in self.parts:
            p.prepare(spark, n_slots)

    def ops(self, spark):
        return [op for p in self.parts for op in p.ops(spark)]

    def detail(self) -> dict:
        return {k: v for p in self.parts for k, v in p.detail().items()}


def workload(name: str, work: str, out: str, seed: int):
    if name == "etl":
        from wl_invoices import Invoices
        from wl_relational import Relational

        return Composite([Invoices(work, out, seed), Relational(work, out, seed)])
    from wl_docs import Docs

    return Docs(work, out, seed)


def start_session(run_dir: str):
    from implementation_of_an_etl_process_spark import get_spark

    spark = get_spark(
        "perfbench",
        extra_conf={
            "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
            # temp files inside the run's directory; no /tmp/hsperfdata file
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')} -XX:-UsePerfData"
            ),
        },
    )
    spark.range(1).count()  # the first job
    return spark


def restart_session(spark, run_dir: str):
    spark.stop()
    return start_session(run_dir)


def stop_everything(spark) -> None:
    """Stop Spark, end the JVM and wait for every process it started."""
    from pyspark import SparkContext

    pids = _tree_pids(os.getpid())
    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:  # force it down, then wait
            proc.kill()
            proc.wait(timeout=30)
    deadline = time.monotonic() + 30
    for pid in pids:  # workers are re-parented when the JVM ends
        while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, 9)
            except ProcessLookupError:
                pass


class Runner:
    def __init__(self, spark, wl, tracer: Tracer):
        self.tracer = tracer
        self.ops = wl.ops(spark)
        self.correct = True
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def _finish(self, op, result) -> None:
        self.attempted += 1
        if isinstance(result, Exception):  # only a known fault may raise
            self.failed += 1
            return
        try:
            op.check(result)
        except CheckFailed as e:
            if op.known_fault:
                self.failed += 1
            else:
                self.correct = False
                self.errors.append(f"{op.name}: {e}")

    def plain_round(self) -> dict:
        """Each operation once, timed whole: the pass times of the
        round, the bytes its writes stored and per-operation figures."""
        t = {"read": 0.0, "write": 0.0}
        cpu = {"read": 0.0, "write": 0.0}
        stored = 0
        per_op: dict[str, float] = {}
        for op in self.ops:
            c0 = tree_cpu_s()
            t0 = time.perf_counter()
            try:
                result = op.full.run()
            except Exception as e:  # noqa: BLE001
                if not op.known_fault:
                    raise
                result = e
            dt = time.perf_counter() - t0
            dc = tree_cpu_s() - c0
            t[op.kind] += dt
            cpu[op.kind] += dc
            per_op[f"{op.name}.plain_s"] = dt
            per_op[f"{op.name}.cpu_s"] = dc
            self._finish(op, result)
            paths = result if isinstance(result, list) else [result]
            if all(isinstance(p, str) for p in paths):
                b, f = map(sum, zip(*(stored_bytes(p) for p in paths)))
                per_op[f"{op.name}.out_mb"] = b / 1e6
                per_op[f"{op.name}.out_files"] = f
                if op.kind == "write":
                    stored += b
        per_op["query_pass_s"] = t["read"]
        per_op["write_pass_s"] = t["write"]
        return {"query_cpu_s": cpu["read"], "write_cpu_s": cpu["write"],
                "out_mb": stored / 1e6, "_detail": per_op}

    def traced_round(self, n_slots: int) -> dict:
        """Every prefix step of every operation, in spans; returns the
        per-layer figures of the round and per-step detail."""
        layer = {"sources": 0.0, "operators": 0.0, "sinks": 0.0}
        sums = dict.fromkeys(["run_s", "cpu_s", "wait_s", "gc_s", "shuffle_write_mb",
                              "spill_mb", "jobs", "exchanges", "broadcast_joins",
                              "files_read_mb", "stage_input_mb",
                              "shuffle_written_sql_mb"], 0.0)
        rows_read = 0
        detail: dict[str, float] = {}
        full_s = 0.0
        read_bytes = 0.0
        t_round = time.perf_counter()
        for op in self.ops:
            with self.tracer.span(op.name):
                raw: dict[str, float] = {}
                for step in op.steps:
                    with self.tracer.span(step.metric) as rec:
                        try:
                            result = step.run()
                        except Exception as e:  # noqa: BLE001
                            if not (op.known_fault and step is op.full):
                                raise
                            result = e
                    raw[step.metric] = rec["end"] - rec["start"]
                    self_s = raw[step.metric] - sum(raw[b] for b in step.base)
                    layer[step.layer] += self_s
                    detail[step.metric] = detail.get(step.metric, 0.0) + self_s
                    if step.layer == "sources":
                        rows_read += step.rows
                        detail[f"{step.metric[:-2]}_rows_per_core_s"] = (
                            step.rows / max(self_s, 1e-9) / n_slots)
                full_s += raw[op.full.metric]
                self._finish(op, result)
                m = rec  # the operation's own step: its stage and SQL metrics
                for k in sums:
                    sums[k] += m.get(k, 0.0)
                read_bytes += op.read_bytes
                detail[f"{op.name}.total_s"] = raw[op.full.metric]
                for k in ("exchanges", "broadcast_joins", "jobs", "cpu_s",
                          "shuffle_write_mb", "files_read_mb", "wait_s"):
                    detail[f"{op.name}.{k}"] = m.get(k, 0.0)
        return {
            "sources.read_s": layer["sources"],
            "operators.compute_s": layer["operators"],
            "sinks.write_s": layer["sinks"],
            "sources.rows_per_core_s": rows_read / max(layer["sources"], 1e-9) / n_slots,
            "sources.read_mb": sums["files_read_mb"] + read_bytes / 1e6,
            "exec.run_s": sums["run_s"],
            "exec.cpu_s": sums["cpu_s"],
            "exec.wait_s": sums["wait_s"],
            "exec.gc_s": sums["gc_s"],
            "shuffle.write_mb": sums["shuffle_write_mb"],
            "shuffle.spill_mb": sums["spill_mb"],
            "plans.jobs": sums["jobs"],
            "plans.exchanges": sums["exchanges"],
            "plans.broadcast_joins": sums["broadcast_joins"],
            "_full_s": full_s,
            "_round_s": time.perf_counter() - t_round,
            "_detail": detail,
            "_validate": {k: sums[k] for k in ("files_read_mb", "stage_input_mb",
                                                "shuffle_write_mb", "shuffle_written_sql_mb",
                                                "run_s", "cpu_s")},
        }


def stored_bytes(path: str) -> tuple[int, int]:
    """(bytes, data files) of an output file or directory."""
    if os.path.isfile(path):
        return os.path.getsize(path), 1
    return dir_bytes(path)


def median_of(rounds: list[dict], key: str) -> float:
    return statistics.median(r[key] for r in rounds)


def main() -> int:
    ap = argparse.ArgumentParser(description="engine benchmark")
    ap.add_argument("--workload", required=True, choices=["etl", "llm_docs"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    root = os.getcwd()
    sys.path.insert(0, root)
    work = os.path.abspath(os.environ.get("PERFBENCH_WORK", os.path.join(root, ".perfbench_work")))
    # this run's own scratch: runs sharing a work directory never touch
    # each other's outputs; a killed run's directory goes at the next start
    runs = os.path.join(work, "runs")
    for d in os.listdir(runs) if os.path.isdir(runs) else []:
        if not os.path.exists(f"/proc/{d}"):
            shutil.rmtree(os.path.join(runs, d), ignore_errors=True)
    run_dir = os.path.join(runs, str(os.getpid()))
    for d in ("tmp", "spark-local", "out"):
        os.makedirs(os.path.join(run_dir, d), exist_ok=True)
    os.makedirs(os.path.join(work, "trace"), exist_ok=True)
    n_slots = task_slots()
    mem_mb = driver_memory_mb()
    os.environ.update(
        SPARK_GRAFT_CPUS=str(n_slots),
        SPARK_DRIVER_MEMORY=f"{mem_mb}m",
        SPARK_GRAFT_LOCAL_DIR=os.path.join(run_dir, "spark-local"),
        TMPDIR=os.path.join(run_dir, "tmp"),
    )
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR
    stamp = {
        "nproc": os.cpu_count(),
        "task_slots": n_slots,
        "SPARK_GRAFT_CPUS": n_slots,
        "driver_memory_mb": mem_mb,
        "loadavg_start": os.getloadavg(),
        "python": platform.python_version(),
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
    }

    # set-up: process start to a session that has run its first job
    spark = start_session(run_dir)
    setups = [time.perf_counter() - T_PROCESS]
    stamp["spark"] = spark.version
    wl = workload(args.workload, work, os.path.join(run_dir, "out"), args.seed)
    for _ in range(SETUPS - 1):
        t0 = time.perf_counter()
        spark = restart_session(spark, run_dir)
        setups.append(time.perf_counter() - t0)

    tracer = Tracer(spark, args.workload, enabled=bool(args.trace))
    wl.prepare(spark, n_slots)
    runner = Runner(spark, wl, tracer)
    plain, traced = [], []
    # the /proc scan costs CPU next to the timed work: traced runs only
    with RssSampler(enabled=bool(args.trace)) as rss:
        if args.trace:
            # a cold first pass puts compile and JIT time on whichever
            # prefix runs first; trace a warm round instead
            cold = runner.plain_round()["_detail"]
        deadline = time.perf_counter() + args.seconds
        while not (plain or traced) or time.perf_counter() < deadline:
            if args.trace:
                traced.append(runner.traced_round(n_slots))
            else:
                plain.append(runner.plain_round())
    stamp["loadavg_end"] = os.getloadavg()

    if args.trace:
        metrics = {
            "session.start_s": (setups[0], "s"),
            "session.restart_s": (statistics.median(setups[1:]), "s"),
        }
        units = {"_s": "s", "_mb": "MB", "_core_s": "rows/s"}
        for key in traced[0]:
            if key.startswith("_"):
                continue
            unit = next((u for suf, u in sorted(units.items(), key=lambda x: -len(x[0]))
                         if key.endswith(suf)), "count")
            metrics[key] = (median_of(traced, key), unit)
        metrics["latency.query_pass_s"] = (cold["query_pass_s"], "s")
        metrics["latency.write_pass_s"] = (cold["write_pass_s"], "s")
        metrics["memory.peak_rss_mb"] = (rss.peak / 1e6, "MB")
        metrics["trace.round_s"] = (median_of(traced, "_round_s"), "s")
        metrics["trace.full_s"] = (median_of(traced, "_full_s"), "s")
        detail = {k: statistics.median(t["_detail"][k] for t in traced) for k in traced[0]["_detail"]}
        validate = {k: statistics.median(t["_validate"][k] for t in traced)
                    for k in traced[0]["_validate"]}
        tracer.dump(os.path.join(work, "trace", f"{args.workload}-s{args.seed}.json"), stamp)
    else:
        metrics = {
            "setup_s": (statistics.median(setups), "s"),
            "query_cpu_s": (median_of(plain, "query_cpu_s"), "s"),
            "write_cpu_s": (median_of(plain, "write_cpu_s"), "s"),
            "out_mb": (median_of(plain, "out_mb"), "MB"),
        }
        detail, validate = {}, {}
    for k in plain[0]["_detail"] if plain else []:
        detail[k] = statistics.median(r["_detail"][k] for r in plain)
    detail.update(wl.detail())
    detail["rounds"] = len(plain or traced)
    detail["setup_samples_s"] = setups

    stop_everything(spark)
    shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps({"host": stamp, "detail": detail, "validate": validate,
                      "errors": runner.errors[:5]}))
    print(json.dumps({
        "correct": runner.correct,
        "attempted": runner.attempted,
        "failed": runner.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
