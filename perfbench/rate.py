"""Sustainable ingest rate of the live_wallet block files while the
sink reader runs.

    python3 perfbench/rate.py --seed 1 [--reader 0]

Run from the repository root. It warms up as a ``live_wallet`` run
does, indexes the genesis file, then stages ``FILES`` block files at
once (a catch-up) and times one ``StreamingIngest.run_available_now``
over all of them, one file per micro-batch, while the ``live_wallet``
reader cycles over the growing sinks in a closed loop (``--reader 0``:
the ingest runs alone). It prints one JSON line: files/s, the derived
blocks per file and per second, and the file interval that gives half
the sustainable rate. ``LIVE_INTERVAL_S`` in workloads.py is checked
against it.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import threading
import time

import run

#: Block files in one catch-up: enough micro-batches (about 30 s) that the
#: query's start and stop are a small share of the time.
FILES = 16


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--reader", type=int, choices=(0, 1), default=1,
                    help="1: the live_wallet reader runs during the catch-up; 0: the ingest runs alone")
    a = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(run.ROOT, run.PACKAGE)):
        print(f"perfbench: no {run.PACKAGE}/ under {run.ROOT}; run from the repository root", file=sys.stderr)
        return 2
    cpus = len(os.sched_getaffinity(0))
    work = os.path.join(run.ROOT, ".perfbench", f"rate-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    run._isolate(work, cpus)
    sys.path[:0] = [run.ROOT, run.HERE]
    spark = None
    try:
        import numpy as np
        from pyspark.sql import functions as F

        import gen
        import workloads as wl
        from oracle import rows_of

        from concordium_transaction_logger_spark import build_session
        from concordium_transaction_logger_spark.streaming import pipeline as sp

        w = wl.LiveWallet(work, np.random.default_rng(a.seed), wl.SIZES["full"])
        spark = build_session("perfbench-rate")
        spark.sparkContext.setLogLevel("ERROR")
        for _ in range(run.SETUP_REPEATS):
            w.prepare(spark)

        base = os.path.join(work, "catchup")
        src, out, ckpt = (os.path.join(base, k) for k in ("src", "out", "ckpt"))
        gen.split_by_rows(w.events.slice(0, w.genesis), src, w.genesis, "genesis")
        ing = sp.StreamingIngest(spark, src, out, ckpt, w.n_users, max_files_per_trigger=1)
        ing.run_available_now()
        rest = w.events.slice(w.genesis, FILES * w.file_events)
        for f in gen.split_by_rows(rest, os.path.join(base, "staged"), w.file_events, "block"):
            wl._move(f, src)

        stop = threading.Event()
        reads: list[str] = []
        errors: list[BaseException] = []

        def reader():
            last_id, i = w.genesis - 1, 0
            try:
                while not stop.is_set():
                    kind = wl.LIVE_READ_CYCLE[i % len(wl.LIVE_READ_CYCLE)]
                    i += 1
                    rows = rows_of(w._read(spark, kind, out, last_id).toPandas())
                    if kind == "tail" and rows:
                        last_id = rows[-1][0]
                    reads.append(kind)
            except BaseException as e:  # reported below; the run then fails
                errors.append(e)

        t = threading.Thread(target=reader, name="perfbench-reader")
        if a.reader:
            t.start()
        t0 = time.perf_counter()
        try:
            ing.run_available_now()
        finally:
            elapsed = time.perf_counter() - t0
            stop.set()
            if a.reader:
                t.join()
        if errors:
            raise errors[0]

        per_batch = (
            sp.read_sink(spark, out, "summaries")
            .filter(F.col("ingest_batch") > 0)  # batch 0 is the genesis file
            .groupBy("ingest_batch")
            .agg(F.countDistinct("block").alias("blocks"))
            .collect()
        )
        if len(per_batch) != FILES:
            print(f"perfbench: {len(per_batch)} micro-batches for {FILES} files", file=sys.stderr)
            return 1
        blocks = statistics.median(r["blocks"] for r in per_batch)
        files_per_s = FILES / elapsed
        print(json.dumps({
            "nproc": cpus,
            "seed": a.seed,
            "files": FILES,
            "reader": a.reader,
            "events_per_file": w.file_events,
            "catchup_s": elapsed,
            "files_per_s": files_per_s,
            "blocks_per_file": blocks,
            "blocks_per_s": files_per_s * blocks,
            "reads_during_catchup": len(reads),
            "half_rate_interval_s": 2.0 / files_per_s,
        }), flush=True)
        return 0
    finally:
        if spark is not None:
            run._stop(spark)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run still uses it


if __name__ == "__main__":
    sys.exit(main())
