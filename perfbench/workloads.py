"""The benchmark's workloads.

Each workload owns its inputs (written by ``gen`` before the session
starts), a ``prepare`` step that the run repeats to time set-up, and a
``measure`` phase that runs for a given number of seconds, optionally
traced. Correctness is checked after the timed region (``check``).

The engine is driven only through its public entry points:
``operators.queries``, ``ingest.derive.block_feed``, ``cache``'s
release call, and ``streaming.pipeline``'s ``StreamingIngest``,
``StreamingCorpusIngest``, ``read_sink``, ``supply_from_sink`` and
``bindings_from_sink``.
"""

from __future__ import annotations

import os
import shutil
import sys
import threading
import time
import traceback

import numpy as np

import gen
from oracle import SINK_COLUMNS, Oracle, rows_of
from tracing import median

from concordium_transaction_logger_spark import cache
from concordium_transaction_logger_spark.ingest import derive
from concordium_transaction_logger_spark.operators import queries as q
from concordium_transaction_logger_spark.streaming import pipeline as sp

#: Input sizes. ``full`` matches the sf0.1 test corpus; ``smoke`` the
#: sf0.001 one.
SIZES = {
    "full": dict(events=100_000, n_users=1500, docs=5000),
    "smoke": dict(events=2_000, n_users=150, docs=500),
}
TAIL_PCT = 75


def pct(values, p):
    return float(np.percentile(values, p)) if len(values) else 0.0


def _report_failure(what: str) -> None:
    print(f"perfbench: {what} failed:\n{traceback.format_exc()}", file=sys.stderr)


class Phase:
    """What one measured phase produced."""

    def __init__(self):
        self.op_ms: list[float] = []
        #: the type of each op in ``op_ms``
        self.kinds: list[str] = []
        self.fresh_ms: list[float] = []
        self.items = 0
        self.active_s = 0.0
        self.attempted = 0
        self.failed = 0
        self.layers: dict[str, float] = {}
        #: seconds from the phase start to the end of each completed op
        self.done_s: list[float] = []

    @property
    def items_per_s(self) -> float:
        return self.items / self.active_s if self.active_s > 0 else 0.0


# ---------------------------------------------------------------------------
# wallet_reads


#: The read mix, as a fixed cycle of read types so that every run of the
#: same length sees the same mix; the seed draws accounts and contracts.
READ_CYCLE = (
    "account_page", "account_next", "contract_page",
    "account_page", "account_next", "incoming",
    "account_page", "account_next", "supply",
    "account_page", "account_next", "bindings", "resume",
)
READ_TYPES = ("account_page", "account_next", "contract_page", "incoming",
              "supply", "bindings", "resume")
PAGE = 20
#: Where in ``READ_CYCLE`` each closed-loop client starts; both start at an
#: ``account_page``. One client left the cores idle between the short
#: jobs of a read, so every hand-off woke an idle vCPU and the host's
#: scheduling delay set the latency (see README, "Deviations").
CLIENT_OFFSETS = (0, 6)
#: Longest a traced phase may overrun its window to cover every op type
#: (every read type; a first and a last corpus batch).
TRACE_GRACE_S = 10.0


class WalletReads:
    """Two closed-loop clients sending the reference's read API over the
    cached block feed."""

    name = "wallet_reads"

    def __init__(self, work: str, rng: np.random.Generator, size: dict):
        self.sf = os.path.join(work, "sf")
        self.events_path = os.path.join(self.sf, "events.parquet")
        events = gen.events_table(rng, size["events"], size["n_users"])
        gen.write_table(events, self.events_path)
        n_users = gen.n_users_of(events)
        n = 4000
        self.accounts = rng.integers(0, n_users, n).tolist()
        self.contracts = list(zip(rng.integers(0, 10, n).tolist(), rng.integers(0, 3, n).tolist()))
        self.done: list[tuple[str, dict, object]] = []
        self._i = 0

    def _params(self, kind: str, i: int, prev_page) -> dict:
        if kind == "account_next":
            acct, rows = prev_page
            return {"account": acct, "limit": PAGE, "start": (rows[-1][0] - 1) if rows else -1}
        if kind in ("account_page", "incoming"):
            return {"account": self.accounts[i % len(self.accounts)], "limit": PAGE}
        if kind == "contract_page":
            idx, sub = self.contracts[i % len(self.contracts)]
            return {"idx": idx, "subidx": sub, "limit": PAGE}
        return {}

    def _frame(self, spark, kind: str, p: dict):
        sf = self.sf
        if kind in ("account_page", "account_next"):
            return q.query_account(spark, sf, p["account"], limit=PAGE, descending=True, start=p.get("start"))
        if kind == "contract_page":
            return q.query_contract(spark, sf, p["idx"], p["subidx"], limit=PAGE, descending=True)
        if kind == "incoming":
            return q.incoming_transactions(spark, sf, p["account"], limit=PAGE)
        if kind == "supply":
            return q.cis2_supply(spark, sf)
        if kind == "bindings":
            return q.key_bindings_latest(spark, sf)
        return q.resume_offset(spark, sf)

    def prepare(self, spark) -> dict:
        """Drop and rebuild the materialized feed, then send one read of
        each type (not kept), so the measured reads start on a warm feed
        and compiled code."""
        cache.release_corpus(spark, self.sf)
        t0 = time.perf_counter()
        derive.block_feed(spark, self.sf).count()
        build_s = time.perf_counter() - t0
        prev = (0, [])
        for j, kind in enumerate(READ_TYPES):
            # accounts from the far end of the drawn list, not the measured ones
            p = self._params(kind, len(self.accounts) - 1 - j, prev)
            pdf = self._frame(spark, kind, p).toPandas()
            if kind == "account_page":
                prev = (p["account"], rows_of(pdf))
        return {"cache.block_feed_build_ms": build_s * 1000.0}

    def after_setup(self, spark) -> dict:
        persisted = sum(
            r.memSize() + r.diskSize() for r in spark.sparkContext._jsc.sc().getRDDStorageInfo()
        )
        return {"cache.persisted_bytes": float(persisted)}

    def measure(self, spark, seconds: float, tracer=None) -> Phase:
        ph = Phase()
        per_type: dict[str, list[dict]] = {k: [] for k in READ_TYPES}
        lock = threading.Lock()
        t_start = time.perf_counter()
        deadline = t_start + seconds
        t_end = [t_start]

        def client(offset: int) -> None:
            prev_page = (0, [])
            n = offset
            while True:
                now = time.perf_counter()
                with lock:
                    # a traced phase runs on until every read type has a sample
                    short = tracer is not None and not all(per_type.values())
                    if now >= deadline and not (short and now < deadline + TRACE_GRACE_S):
                        return
                    i = self._i  # accounts and contracts run on across phases
                    self._i += 1
                    ph.attempted += 1
                # every phase starts each client at the same place in the
                # cycle, so a traced and an untraced phase run the same mix
                kind = READ_CYCLE[n % len(READ_CYCLE)]
                n += 1
                p = self._params(kind, i, prev_page)
                lay = None
                try:
                    if tracer is None:
                        t0 = time.perf_counter()
                        pdf = self._frame(spark, kind, p).toPandas()
                        el = time.perf_counter() - t0
                    else:
                        pdf, el, lay = tracer.traced_read(kind, lambda: self._frame(spark, kind, p))
                except Exception:
                    _report_failure(f"read {kind} {p}")
                    with lock:
                        ph.failed += 1
                    continue
                done = time.perf_counter()
                with lock:
                    t_end[0] = max(t_end[0], done)
                    ph.done_s.append(done - t_start)
                    ph.op_ms.append(el * 1000.0)
                    ph.kinds.append(kind)
                    ph.items += 1
                    self.done.append((kind, p, pdf))
                    if lay is not None:
                        per_type[kind].append(lay)
                if kind == "account_page":
                    prev_page = (p["account"], [tuple(r) for r in pdf.itertuples(index=False)])

        threads = [threading.Thread(target=client, args=(off,), name=f"perfbench-client{off}")
                   for off in CLIENT_OFFSETS]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        ph.done_s.sort()
        ph.active_s = t_end[0] - t_start
        ph.fresh_ms = list(ph.op_ms)
        for kind, lays in per_type.items():
            for field in ("ms", "plan_ms", "jobs", "tasks", "transport_ms"):
                ph.layers[f"queries.{kind}.{field}"] = median(l[field] for l in lays)
        return ph

    def check(self) -> tuple[int, list[str]]:
        orc = Oracle(self.events_path)
        bad = []
        try:
            for kind, p, pdf in self.done:
                try:
                    ok = orc.check_read(kind, p, rows_of(pdf))
                except Exception:
                    _report_failure(f"oracle for {kind}")
                    ok = False
                if not ok:
                    bad.append(f"{kind} {p}: rows differ from the oracle")
        finally:
            orc.close()
        return len(bad), bad


# ---------------------------------------------------------------------------
# streaming helpers


def _move(src: str, dst_dir: str) -> None:
    dst = os.path.join(dst_dir, os.path.basename(src))
    os.rename(src, dst)
    os.utime(dst)  # the file source orders new files by modification time


def _batch_dirs(path: str) -> tuple[int, ...]:
    try:
        names = os.listdir(path)
    except FileNotFoundError:
        return ()
    return tuple(sorted(int(n.split("=", 1)[1]) for n in names if n.startswith("ingest_batch=")))


def _sink_shape(out_dirs: list[str]) -> tuple[int, int]:
    parts = files = 0
    for d in out_dirs:
        for root, dirs, fs in os.walk(d):
            if os.path.basename(root).startswith("ingest_batch="):
                parts += 1
            files += sum(1 for f in fs if f.endswith(".parquet"))
    return parts, files


# ---------------------------------------------------------------------------
# live_wallet

#: Events per block file; one file is one micro-batch.
LIVE_FILE_EVENTS = 320
#: Events already indexed before the live phase starts (the chain so far).
LIVE_GENESIS_EVENTS = 20_000
#: Seconds between block files. ``rate.py`` measured the catch-up rate of
#: these files on 4 cores at 0.58-0.63 files/s with the reader running
#: (0.53-0.58 alone), so one file every 3 s is 53-63 % of it.
LIVE_INTERVAL_S = 3.0
#: How often the freshness watcher lists the sinks.
WATCH_INTERVAL_S = 0.01
LIVE_READ_CYCLE = ("tail", "supply", "tail", "bindings")


class LiveWallet:
    """Block files arrive on a fixed open-loop schedule; an ingest thread
    polls ``run_available_now``; a closed-loop reader tails new
    summaries and reads supply and bindings from the growing sinks."""

    name = "live_wallet"

    def __init__(self, work: str, rng: np.random.Generator, size: dict):
        self.work = work
        self.events_path = os.path.join(work, "sf", "events.parquet")
        events = gen.events_table(rng, size["events"], size["n_users"])
        gen.write_table(events, self.events_path)
        self.events = events
        self.n_users = gen.n_users_of(events)
        self.genesis = min(LIVE_GENESIS_EVENTS, size["events"] // 4)
        self.file_events = LIVE_FILE_EVENTS if size["events"] >= 50_000 else 40
        self.phases: list[dict] = []
        self._k = 0

    def _stage(self, tag: str, seconds: float) -> dict:
        """Write one phase's input: the genesis file into the source dir
        and the block files into a staging dir, from which the generator
        moves them on schedule."""
        base = os.path.join(self.work, tag)
        d = {k: os.path.join(base, k) for k in ("src", "staged", "out", "ckpt")}
        gen.split_by_rows(self.events.slice(0, self.genesis), d["src"], self.genesis, "genesis")
        n_files = int(seconds / LIVE_INTERVAL_S) + 1
        rest = self.events.slice(self.genesis, n_files * self.file_events)
        d["files"] = gen.split_by_rows(rest, d["staged"], self.file_events, "block")
        return d

    def prepare(self, spark) -> dict:
        """Warm-up: ingest one small file into a throwaway sink and run
        each sink read once on it."""
        self._k += 1
        base = os.path.join(self.work, f"warm{self._k}")
        src = os.path.join(base, "src")
        gen.split_by_rows(self.events.slice(0, self.file_events), src, self.file_events)
        sp.StreamingIngest(
            spark, src, os.path.join(base, "out"), os.path.join(base, "ckpt"),
            self.n_users, max_files_per_trigger=1,
        ).run_available_now()
        out = os.path.join(base, "out")
        sp.read_sink(spark, out, "summaries").filter("id > -1").toPandas()
        sp.supply_from_sink(spark, out).toPandas()
        sp.bindings_from_sink(spark, out).toPandas()
        shutil.rmtree(base, ignore_errors=True)
        return {}

    def after_setup(self, spark) -> dict:
        return {}

    def _read(self, spark, kind: str, out: str, last_id: int):
        if kind == "tail":
            df = sp.read_sink(spark, out, "summaries").filter(f"id > {last_id}")
            return df.select(*SINK_COLUMNS["summaries"].split(", ")).orderBy("id")
        if kind == "supply":
            return sp.supply_from_sink(spark, out).orderBy("idx", "subidx", "token_id")
        return sp.bindings_from_sink(spark, out).select(
            "address", "public_key", "credential_index", "key_index", "is_simple_account"
        ).orderBy("address")

    def measure(self, spark, seconds: float, tracer=None) -> Phase:
        tag = f"phase{len(self.phases)}"
        d = self._stage(tag, seconds)
        ing = sp.StreamingIngest(spark, d["src"], d["out"], d["ckpt"], self.n_users, max_files_per_trigger=1)
        ing.run_available_now()  # genesis: the chain indexed so far
        ph = Phase()
        rec = {"dirs": d, "reads": [], "drops": [], "idle_ms": [], "errors": []}
        self.phases.append(rec)
        stop = threading.Event()
        t_start = time.perf_counter()
        deadline = t_start + seconds

        def generator():
            for i, f in enumerate(d["files"]):
                due = t_start + i * LIVE_INTERVAL_S
                if due >= deadline:
                    break
                wait = due - time.perf_counter()
                if wait > 0 and stop.wait(wait):
                    break
                _move(f, d["src"])
                rec["drops"].append((due, time.perf_counter()))

        summaries = os.path.join(d["out"], "summaries")

        def ingest():
            while True:
                last_round = stop.is_set()
                n0 = len(_batch_dirs(summaries))
                t0 = time.perf_counter()
                try:
                    ing.run_available_now()
                except Exception:
                    _report_failure("live ingest poll")
                    rec["errors"].append("ingest")
                    return
                if len(_batch_dirs(summaries)) == n0:
                    rec["idle_ms"].append((time.perf_counter() - t0) * 1000.0)
                if last_round:
                    return

        visible: list[float] = []  # when each block file's batch became readable
        sink_dirs = [os.path.join(d["out"], s) for s in SINK_COLUMNS]

        def watcher():
            while not stop.is_set():
                # a batch is readable once all five sinks hold its partition;
                # batch 0 is the genesis file
                n = min(len(_batch_dirs(s)) for s in sink_dirs) - 1
                now = time.perf_counter()
                while len(visible) < n:
                    visible.append(now)
                stop.wait(WATCH_INTERVAL_S)

        threads = [threading.Thread(target=f, name=f"perfbench-{f.__name__}")
                   for f in (generator, ingest, watcher)]
        for t in threads:
            t.start()
        sinks = {"tail": summaries, "supply": os.path.join(d["out"], "cis2_events"),
                 "bindings": os.path.join(d["out"], "bindings_all")}
        last_id = self.genesis - 1
        backlog = []
        i = 0
        t_end = t_start
        try:
            while time.perf_counter() < deadline:
                kind = LIVE_READ_CYCLE[i % len(LIVE_READ_CYCLE)]
                i += 1
                ph.attempted += 1
                try:
                    before = _batch_dirs(sinks[kind])
                    t0 = time.perf_counter()
                    df = self._read(spark, kind, d["out"], last_id)
                    after = _batch_dirs(sinks[kind])
                    pdf = df.toPandas()
                    el = time.perf_counter() - t0
                except Exception:
                    _report_failure(f"sink read {kind}")
                    ph.failed += 1
                    continue
                t_end = time.perf_counter()
                ph.done_s.append(t_end - t_start)
                rows = rows_of(pdf)
                rec["reads"].append((kind, last_id, before, after, rows, el))
                ph.op_ms.append(el * 1000.0)
                ph.items += 1
                backlog.append(len(rec["drops"]) - len(visible))
                if kind == "tail" and rows:
                    last_id = rows[-1][0]
            # let the ingest catch up with every file dropped in the window
            settle = time.perf_counter() + 20.0
            while len(visible) < len(rec["drops"]) and time.perf_counter() < settle:
                time.sleep(WATCH_INTERVAL_S)
        finally:
            stop.set()
            for t in threads:
                t.join()
        ph.fresh_ms = [(v - due) * 1000.0 for v, (due, _) in zip(visible, rec["drops"])]
        ph.active_s = t_end - t_start
        rec["n_files"] = len(rec["drops"])
        ph.failed += len(rec["errors"])
        lag = [(actual - due) * 1000.0 for due, actual in rec["drops"]]
        by_kind = {k: [r[5] * 1000.0 for r in rec["reads"] if r[0] == k] for k in sinks}
        parts, files = _sink_shape([os.path.join(d["out"], s) for s in SINK_COLUMNS])
        ph.layers.update({
            "sink.tail_ms": median(by_kind["tail"]),
            "sink.supply_ms": median(by_kind["supply"]),
            "sink.bindings_ms": median(by_kind["bindings"]),
            "sink.partitions": float(parts),
            "sink.files": float(files),
            "gen.lag_ms": median(lag),
            "gen.backlog_blocks": float(np.mean(backlog)) if backlog else 0.0,
            "ingest.idle_poll_ms": median(rec["idle_ms"]),
        })
        if tracer is not None:
            ph.layers.update(self._ingest_layers(tracer, rec["n_files"] + 1, d["out"]))
        return ph

    def _ingest_layers(self, tracer, n_batches: int, out: str) -> dict:
        """Per-batch ingest layers of this phase's block files (the
        genesis batch is left out: it is not one block file)."""
        batches = tracer.listener.wait_for(n_batches)
        paths = {s: os.path.join(out, s) for s in SINK_COLUMNS}
        per = [
            b for b in tracer.batch_layers({b["run_id"] for b in batches}, paths)
            if b["writes"] and b["batch_id"] > 0
        ]
        dm = lambda b, *ks: sum(b["duration_ms"].get(k, 0) for k in ks)  # noqa: E731
        lay = {
            "ingest.batch.jobs": median(b["jobs"] for b in per),
            "ingest.batch.tasks": median(b["tasks"] for b in per),
            "ingest.addBatch_ms": median(dm(b, "addBatch") for b in per),
            "ingest.source_ms": median(dm(b, "latestOffset", "getBatch") for b in per),
            "ingest.commit_ms": median(dm(b, "walCommit", "commitOffsets") for b in per),
            "ingest.queryPlanning_ms": median(dm(b, "queryPlanning") for b in per),
            "ingest.gate_ms": median(b["gate_ms"] for b in per),
        }
        for s in SINK_COLUMNS:
            lay[f"ingest.write_ms.{s}"] = median(b["writes"].get(s, 0.0) for b in per)
        return lay

    def check(self) -> tuple[int, list[str]]:
        orc = Oracle(self.events_path)
        bad = []
        try:
            for rec in self.phases:
                out = rec["dirs"]["out"]
                ranges = orc.batch_ranges(out)
                # batch 0 is the genesis file; batch k>0 is block file k-1
                want = [(0, 0, self.genesis - 1, self.genesis)] + [
                    (k + 1, lo, lo + self.file_events - 1, self.file_events)
                    for k, lo in enumerate(
                        range(self.genesis, self.genesis + rec["n_files"] * self.file_events, self.file_events)
                    )
                ]
                if [tuple(r) for r in ranges] != want:
                    bad.append(f"{out}: micro-batches are not one block file each")
                hi_of = {b: hi for b, _lo, hi, _n in ranges}
                bad += [f"{out}: {m}" for m in orc.sink_mismatches(out, want[-1][2])]
                for kind, last_id, before, after, rows, _el in rec["reads"]:
                    if kind == "tail":
                        hi = rows[-1][0] if rows else last_id
                        ok = (not rows or hi in hi_of.values()) and rows == orc.tail_rows(last_id, hi)
                    else:
                        fn = orc.supply_upto if kind == "supply" else orc.bindings_upto
                        ok = any(
                            snap and rows == fn(hi_of.get(max(snap), -1))
                            for snap in {before, after}
                        )
                    if not ok:
                        bad.append(f"{kind} read after id {last_id}: rows differ from the oracle")
        finally:
            orc.close()
        return len(bad), bad


# ---------------------------------------------------------------------------
# corpus_admission

#: Documents per file; one file is one micro-batch.
CORPUS_FILE_DOCS = 250
#: Documents in the warm-up file. A batch's cost is mostly its fixed
#: number of jobs, so a small file warms the same code as a full one.
CORPUS_WARM_DOCS = 25


class CorpusAdmission:
    """Id-ordered near-duplicate admission: each op moves the next file of
    documents into the source and runs ``run_available_now``, which
    admits it as one micro-batch against everything seen before."""

    name = "corpus_admission"

    def __init__(self, work: str, rng: np.random.Generator, size: dict):
        self.work = work
        self.docs_path = os.path.join(work, "sf", "documents.parquet")
        docs = gen.documents_table(rng, size["docs"])
        gen.write_table(docs, self.docs_path)
        self.docs = docs
        self.file_docs = CORPUS_FILE_DOCS if size["docs"] >= 2000 else 50
        self.phases: list[dict] = []
        self._k = 0

    def _ingest(self, spark, base: str):
        return sp.StreamingCorpusIngest(
            spark, os.path.join(base, "src"), os.path.join(base, "out"),
            os.path.join(base, "ckpt"), max_files_per_trigger=1, near_dup=True,
        )

    def prepare(self, spark) -> dict:
        """Warm-up: admit one small file into a throwaway corpus."""
        self._k += 1
        base = os.path.join(self.work, f"warm{self._k}")
        k = min(CORPUS_WARM_DOCS, self.file_docs)
        gen.split_by_rows(self.docs.slice(0, k), os.path.join(base, "src"), k)
        self._ingest(spark, base).run_available_now()
        shutil.rmtree(base, ignore_errors=True)
        return {}

    def after_setup(self, spark) -> dict:
        return {}

    def measure(self, spark, seconds: float, tracer=None) -> Phase:
        base = os.path.join(self.work, f"phase{len(self.phases)}")
        files = gen.split_by_rows(self.docs, os.path.join(base, "staged"), self.file_docs)
        os.makedirs(os.path.join(base, "src"))
        ing = self._ingest(spark, base)
        ph = Phase()
        rec = {"base": base, "n_docs": 0}
        self.phases.append(rec)
        t_start = time.perf_counter()
        deadline = t_start + seconds
        t_end = t_start
        for f in files:
            now = time.perf_counter()
            # a traced phase runs on until it has a first and a last batch
            short = tracer is not None and len(ph.op_ms) < 2
            if now >= deadline and not (short and now < deadline + TRACE_GRACE_S):
                break
            n = self.docs.num_rows - rec["n_docs"]
            _move(f, os.path.join(base, "src"))
            ph.attempted += 1
            t0 = time.perf_counter()
            try:
                ing.run_available_now()
            except Exception:
                _report_failure("corpus admission")
                ph.failed += 1
                break
            t_end = time.perf_counter()
            ph.done_s.append(t_end - t_start)
            ph.op_ms.append((t_end - t0) * 1000.0)
            rec["n_docs"] += min(n, self.file_docs)
        ph.items = rec["n_docs"]
        ph.active_s = t_end - t_start
        ph.fresh_ms = list(ph.op_ms)
        if tracer is not None:
            ph.layers.update(self._corpus_layers(tracer, base, len(ph.op_ms)))
        return ph

    def _corpus_layers(self, tracer, base: str, n_batches: int) -> dict:
        out = os.path.join(base, "out")
        batches = tracer.listener.wait_for(n_batches)
        paths = {"main": out, "rejects": out + "_rejects", "buckets": out + "_buckets"}
        per = [b for b in tracer.batch_layers({b["run_id"] for b in batches}, paths)
               if "main" in b["writes"]]
        orc = Oracle()
        try:
            admitted = len(orc.corpus_ids(out))
            rejected = len(orc.corpus_ids(out + "_rejects"))
        finally:
            orc.close()
        lay = {
            "corpus.batch.jobs.first": float(per[0]["jobs"]) if per else 0.0,
            "corpus.batch.jobs.last": float(per[-1]["jobs"]) if per else 0.0,
            "corpus.addBatch_ms": median(b["duration_ms"].get("addBatch", 0) for b in per),
            "corpus.admitted": float(admitted),
            "corpus.rejected": float(rejected),
        }
        for s in paths:
            lay[f"corpus.write_ms.{s}"] = median(b["writes"].get(s, 0.0) for b in per)
        return lay

    def check(self) -> tuple[int, list[str]]:
        orc = Oracle(documents_path=self.docs_path)
        bad = []
        try:
            for rec in self.phases:
                out = os.path.join(rec["base"], "out")
                admitted = orc.corpus_ids(out)
                rejected = orc.corpus_ids(out + "_rejects")
                want = orc.admitted_ids(rec["n_docs"])
                if sorted(admitted) != sorted(want):
                    bad.append(f"{out}: admitted set differs from the oracle "
                               f"({len(admitted)} vs {len(want)})")
                if sorted(admitted + rejected) != list(range(rec["n_docs"])):
                    bad.append(f"{out}: admitted + rejected is not the ingested documents")
        finally:
            orc.close()
        return len(bad), bad


WORKLOADS = {w.name: w for w in (WalletReads, LiveWallet, CorpusAdmission)}
