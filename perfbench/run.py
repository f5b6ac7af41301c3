"""Benchmark runner: one workload per process.

    python3 perfbench/run.py --workload wallet_reads --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --smoke      # every workload, tiny inputs, both modes

Run from the repository root. The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``; with ``--trace 0`` the
metrics are the end-to-end ones, with ``--trace 1`` the per-layer ones.
A run-record line (host, versions, load) is printed just before it.
See perfbench/README.md for what each workload and metric means.
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
ROOT = os.getcwd()
PACKAGE = "concordium_transaction_logger_spark"
SETUP_REPEATS = 3
DRIVER_MEMORY = "2g"

END_TO_END = {
    "setup_s": "s",
    "items_per_s": "1/s",
    "op_p50_ms": "ms",
    "op_tail_ms": "ms",
    "fresh_p50_ms": "ms",
    "fresh_tail_ms": "ms",
}
_SINKS = ("summaries", "ati", "cti", "cis2_events", "bindings_all")
_READS = ("account_page", "account_next", "contract_page", "incoming", "supply", "bindings", "resume")
PER_LAYER = {
    "session.start_ms": "ms",
    "cache.block_feed_build_ms": "ms",
    "cache.persisted_bytes": "bytes",
    **{
        f"queries.{r}.{f}": u
        for r in _READS
        for f, u in (("ms", "ms"), ("plan_ms", "ms"), ("jobs", "count"),
                     ("tasks", "count"), ("transport_ms", "ms"))
    },
    "ingest.batch.jobs": "count",
    "ingest.batch.tasks": "count",
    "ingest.addBatch_ms": "ms",
    "ingest.source_ms": "ms",
    "ingest.commit_ms": "ms",
    "ingest.queryPlanning_ms": "ms",
    "ingest.gate_ms": "ms",
    **{f"ingest.write_ms.{s}": "ms" for s in _SINKS},
    "ingest.idle_poll_ms": "ms",
    "sink.tail_ms": "ms",
    "sink.supply_ms": "ms",
    "sink.bindings_ms": "ms",
    "sink.partitions": "count",
    "sink.files": "count",
    "gen.lag_ms": "ms",
    "gen.backlog_blocks": "count",
    "corpus.batch.jobs.first": "count",
    "corpus.batch.jobs.last": "count",
    "corpus.addBatch_ms": "ms",
    **{f"corpus.write_ms.{s}": "ms" for s in ("main", "rejects", "buckets")},
    "corpus.admitted": "count",
    "corpus.rejected": "count",
    "spark.tasks": "count",
    "spark.tasks_failed": "count",
    "spark.executor_run_ms": "ms",
    "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "jvm.gc_ms": "ms",
    "trace.overhead_pct": "%",
}


def _args(argv):
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "smoke"), default="full")
    ap.add_argument("--smoke", action="store_true", help="run every workload on tiny inputs, both modes")
    a = ap.parse_args(argv)
    if not a.smoke and not a.workload:
        ap.error("--workload is required")
    return a


def _isolate(work: str, cpus: int) -> None:
    """Keep every file Spark, the JVM and Python write inside ``work``
    and pin the session shape before the JVM starts."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update(
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=os.path.join(work, "local"),
        SPARK_MASTER=f"local[{cpus}]",
        CTL_SHUFFLE_PARTITIONS=str(cpus),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEMORY,
        # no hsperfdata file: HotSpot writes it under /tmp whatever the tmpdir
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        PYSPARK_SUBMIT_ARGS=" ".join(
            [
                "--conf spark.ui.showConsoleProgress=false",
                "--conf spark.ui.retainedJobs=100000",
                "--conf spark.ui.retainedStages=100000",
                "--conf spark.sql.ui.retainedExecutions=100000",
                f"--conf spark.hadoop.hadoop.tmp.dir={tmp}",
                "pyspark-shell",
            ]
        ),
    )


def _steal_s() -> float:
    """CPU time stolen from this VM by its host so far, in seconds
    (``/proc/stat``; 0 where the kernel does not report it)."""
    try:
        with open("/proc/stat") as f:
            fields = f.readline().split()
        return int(fields[8]) / os.sysconf("SC_CLK_TCK") if len(fields) > 8 else 0.0
    except OSError:
        return 0.0


def _record(spark, cpus: int) -> dict:
    jvm = spark.sparkContext._jvm
    return {
        "nproc": cpus,
        "master": spark.sparkContext.master,
        "driver_memory": spark.sparkContext.getConf().get("spark.driver.memory", "default"),
        "spark": spark.version,
        "java": jvm.java.lang.System.getProperty("java.version"),
        "python": platform.python_version(),
        "loadavg_before": list(os.getloadavg()),
        "steal_s_before": _steal_s(),
    }


def _stop(spark) -> None:
    """Stop the session and the JVM the gateway launched, and wait for it."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _summary(phase, tail_pct: int) -> tuple[dict, dict]:
    from workloads import pct

    metrics = {
        "items_per_s": phase.items_per_s,
        "op_p50_ms": pct(phase.op_ms, 50),
        "op_tail_ms": pct(phase.op_ms, tail_pct),
        "fresh_p50_ms": pct(phase.fresh_ms, 50),
        "fresh_tail_ms": pct(phase.fresh_ms, tail_pct),
    }
    beyond = lambda xs: sum(1 for x in xs if x > pct(xs, tail_pct))  # noqa: E731
    info = {
        "ops": len(phase.op_ms),
        "items": phase.items,
        "active_s": phase.active_s,
        "tail_percentile": tail_pct,
        "op_samples_beyond_tail": beyond(phase.op_ms),
        "fresh_samples": len(phase.fresh_ms),
        "fresh_samples_beyond_tail": beyond(phase.fresh_ms),
    }
    if phase.kinds:
        info["op_ms_by_type"] = {
            k: [round(x, 1) for x, kk in zip(phase.op_ms, phase.kinds) if kk == k]
            for k in dict.fromkeys(phase.kinds)
        }
    return metrics, info


def _overhead_pct(plain, traced) -> float:
    """How much longer the traced phase took than the untraced one over
    the ops both completed. Both phases run the same sequence of op
    types from their start, so the comparison is at an equal mix."""
    n = min(len(plain.done_s), len(traced.done_s))
    return (traced.done_s[n - 1] / plain.done_s[n - 1] - 1.0) * 100.0 if n else 0.0


def run_one(a) -> int:
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: no {PACKAGE}/ under {ROOT}; run from the repository root", file=sys.stderr)
        return 2
    cpus = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".perfbench", f"{a.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    _isolate(work, cpus)
    sys.path[:0] = [ROOT, HERE]
    spark = None
    try:
        import numpy as np

        # the engine's imports count in set-up; only input generation is left out
        import workloads as wl
        from concordium_transaction_logger_spark import build_session

        if a.workload not in wl.WORKLOADS:
            print(f"perfbench: unknown workload {a.workload!r}; one of {sorted(wl.WORKLOADS)}", file=sys.stderr)
            return 2
        t_gen = time.perf_counter()
        w = wl.WORKLOADS[a.workload](work, np.random.default_rng(a.seed), wl.SIZES[a.size])
        gen_s = time.perf_counter() - t_gen

        t0 = time.perf_counter()
        spark = build_session(f"perfbench-{a.workload}")
        session_s = time.perf_counter() - t0
        spark.sparkContext.setLogLevel("ERROR")
        ready_s = time.perf_counter() - T_PROCESS - gen_s

        prep_s, prep_layers = [], []
        for _ in range(SETUP_REPEATS):
            t = time.perf_counter()
            prep_layers.append(w.prepare(spark))
            prep_s.append(time.perf_counter() - t)
        setup_s = ready_s + statistics.median(prep_s)
        layers = {"session.start_ms": session_s * 1000.0}
        for key in prep_layers[0]:
            layers[key] = statistics.median(p[key] for p in prep_layers)
        layers.update(w.after_setup(spark))
        record = _record(spark, cpus)
        record.update(workload=a.workload, seed=a.seed, seconds=a.seconds, trace=a.trace,
                      size=a.size, gen_s=gen_s, session_s=session_s, prepare_s=prep_s)

        if a.trace:
            from tracing import Tracer

            plain = w.measure(spark, a.seconds / 2)
            tracer = Tracer(spark)
            mark = tracer.job_watermark()
            traced = w.measure(spark, a.seconds / 2, tracer)
            rt = tracer.runtime(mark)
            tracer.close()
            n_ops = max(1, len(traced.op_ms))
            layers.update(traced.layers)
            layers.update({
                "spark.tasks": rt["tasks"] / n_ops,
                "spark.tasks_failed": float(rt["failed"]),
                "spark.executor_run_ms": rt["run_ms"] / n_ops,
                "spark.shuffle_write_bytes": rt["shuffle_write"] / n_ops,
                "spark.spill_bytes": rt["spill"] / n_ops,
                "jvm.gc_ms": rt["gc_ms"] / n_ops,
                "trace.overhead_pct": _overhead_pct(plain, traced),
            })
            phases = [plain, traced]
            _, record["untraced"] = _summary(plain, wl.TAIL_PCT)
            _, record["traced"] = _summary(traced, wl.TAIL_PCT)
            metrics = {k: float(layers.get(k, 0.0)) for k in PER_LAYER}
            units = PER_LAYER
        else:
            steal0 = _steal_s()
            phase = w.measure(spark, a.seconds)
            phases = [phase]
            metrics, record["phase"] = _summary(phase, wl.TAIL_PCT)
            record["phase"]["steal_s"] = _steal_s() - steal0
            metrics["setup_s"] = setup_s
            units = END_TO_END

        t = time.perf_counter()
        check_failed, problems = w.check()
        record["check_s"] = time.perf_counter() - t
        for p in problems:
            print(f"perfbench: check: {p}", file=sys.stderr)
        attempted = sum(p.attempted for p in phases)
        failed = sum(p.failed for p in phases) + check_failed
        record["loadavg_after"] = list(os.getloadavg())
        record["steal_s"] = _steal_s() - record.pop("steal_s_before")
        _stop(spark)
        spark = None
        print(json.dumps({"run_record": record}))
        print(json.dumps({
            "correct": failed == 0 and attempted > 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
        }), flush=True)
        return 0
    finally:
        if spark is not None:
            _stop(spark)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run still uses it


def smoke() -> int:
    """Run every workload at the sf0.001 size in both modes and check that
    each prints every metric BENCHMARK.json names, with its unit."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    want = {
        0: {m["name"]: m["unit"] for m in bench["end_to_end"]},
        1: {m["name"]: m["unit"] for m in bench["per_layer"]},
    }
    ok = True
    for w in bench["workloads"]:
        for trace in (0, 1):
            cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", w["name"],
                   "--seed", "1", "--seconds", "4", "--trace", str(trace), "--size", "smoke"]
            out = subprocess.run(cmd, capture_output=True, text=True, timeout=300)
            lines = out.stdout.strip().splitlines()
            res = json.loads(lines[-1]) if out.returncode == 0 and lines else None
            got = {k: v["unit"] for k, v in res["metrics"].items()} if res else None
            good = bool(res) and res["correct"] and got == want[trace]
            ok &= good
            print(f"{w['name']:18s} trace={trace} {'ok' if good else 'FAILED'}"
                  + ("" if good else f"\n{out.stderr[-2000:]}"))
    return 0 if ok else 1


def main(argv=None) -> int:
    a = _args(argv)
    return smoke() if a.smoke else run_one(a)


if __name__ == "__main__":
    sys.exit(main())
