"""Correctness checks against DuckDB over the same generated parquet.

The expected rows come from the engine's own oracle SQL: the shared
derivation prologue (``ingest.oracle.PROLOGUE``) and the registry's row
SQL for each read. Checks run after the timed region; every mismatch or
exception counts as a failed op.
"""

from __future__ import annotations

import glob
import math

import duckdb

from concordium_transaction_logger_spark import registry
from concordium_transaction_logger_spark.ingest.oracle import PROLOGUE, wrap

#: Prologue CTEs over ``events`` that are materialized once per oracle.
EVENT_CTES = ("evt", "nu", "summaries", "ati", "cti", "cis2_events", "bindings_all", "bindings")

SINK_COLUMNS = {
    "summaries": "id, block, ts_ms, height, summary, sender, event_type, k, value, user_id",
    "ati": "id, account, summary",
    "cti": "id, idx, subidx, summary",
    "cis2_events": "idx, subidx, token_id, amount, summary",
    "bindings_all": "address, public_key, credential_index, key_index, is_simple_account, event_id",
}
#: Column holding the source event id in each sink, for range filters.
SINK_EVENT_ID = {
    "summaries": "id",
    "ati": "summary",
    "cti": "summary",
    "cis2_events": "summary",
    "bindings_all": "event_id",
}


def _norm(v):
    if v is None:
        return None
    if hasattr(v, "item"):  # numpy scalar
        v = v.item()
    if isinstance(v, float) and math.isnan(v):
        return None
    return v


def rows_of(pdf) -> list[tuple]:
    return [tuple(_norm(v) for v in row) for row in pdf.itertuples(index=False)]


class Oracle:
    def __init__(self, events_path: str | None = None, documents_path: str | None = None):
        self.con = duckdb.connect()
        self.materialized = bool(events_path)
        if events_path:
            self.con.sql(f"CREATE VIEW events AS SELECT * FROM read_parquet('{events_path}')")
            for name in EVENT_CTES:
                self.con.sql(f"CREATE TABLE {name} AS {PROLOGUE} SELECT * FROM {name}")
        self.documents_path = documents_path
        self._memo: dict[str, list[tuple]] = {}

    def _plain(self, sql: str) -> str:
        """A prologue-wrapped SELECT over the event CTEs runs against the
        tables materialized from the same prologue."""
        tail = sql[len(PROLOGUE):] if sql.startswith(PROLOGUE) else ""
        if self.materialized and tail.lstrip().upper().startswith("SELECT"):
            return tail
        return sql

    def close(self):
        self.con.close()

    def query(self, sql: str) -> list[tuple]:
        if sql not in self._memo:
            rows = self.con.sql(self._plain(sql)).fetchall()
            self._memo[sql] = [tuple(_norm(v) for v in r) for r in rows]
        return self._memo[sql]

    # -- wallet reads -----------------------------------------------------

    def read_sql(self, kind: str, p: dict) -> str:
        if kind in ("account_page", "account_next"):
            return registry._account_rows_sql(p["account"], True, p.get("start"), p["limit"])
        if kind == "contract_page":
            return registry._contract_rows_sql(p["idx"], p["subidx"], True, None, p["limit"])
        if kind == "incoming":
            a = p["account"]
            return wrap(
                f"""
SELECT a.id AS ati_id, s.id, s.block, s.ts_ms, s.height, s.summary
FROM ati a JOIN summaries s ON a.summary = s.id
WHERE a.account = {a} AND (s.sender IS NULL OR s.sender <> {a})
ORDER BY a.id DESC LIMIT {p["limit"]}
"""
            )
        name = {"supply": "cis2_supply", "bindings": "key_bindings_latest", "resume": "resume_offset"}[kind]
        return registry.REGISTRY[name].oracle

    def check_read(self, kind: str, params: dict, got: list[tuple]) -> bool:
        return got == self.query(self.read_sql(kind, params))

    # -- sinks of the block ingest ---------------------------------------

    def tail_rows(self, lo_excl: int, hi_incl: int) -> list[tuple]:
        return self.query(
            wrap(
                f"SELECT {SINK_COLUMNS['summaries']} FROM summaries "
                f"WHERE id > {lo_excl} AND id <= {hi_incl} ORDER BY id"
            )
        )

    def supply_upto(self, hi_incl: int) -> list[tuple]:
        return self.query(
            wrap(
                f"""
SELECT idx, subidx, token_id,
       CAST(SUM(CAST(amount AS DECIMAL(38,0))) AS BIGINT) AS total_supply
FROM cis2_events WHERE summary <= {hi_incl}
GROUP BY idx, subidx, token_id ORDER BY idx, subidx, token_id
"""
            )
        )

    def bindings_upto(self, hi_incl: int) -> list[tuple]:
        return self.query(
            wrap(
                f"""
SELECT address, public_key, credential_index, key_index, is_simple_account
FROM bindings_all WHERE event_id <= {hi_incl}
QUALIFY ROW_NUMBER() OVER (PARTITION BY address ORDER BY event_id DESC) = 1
ORDER BY address
"""
            )
        )

    def sink_mismatches(self, out_dir: str, hi_incl: int) -> list[str]:
        """Compare each of the five sinks, as a multiset of rows, with the
        oracle rows of every event up to ``hi_incl``."""
        bad = []
        for sink, cols in SINK_COLUMNS.items():
            got = (
                f"SELECT {cols} FROM read_parquet('{out_dir}/{sink}/*/*.parquet', "
                "hive_partitioning = true)"
            )
            want = f"SELECT {cols} FROM {sink} WHERE {SINK_EVENT_ID[sink]} <= {hi_incl}"
            n = self.con.sql(
                f"WITH g AS ({got}), w AS ({want}) SELECT "
                "(SELECT COUNT(*) FROM (SELECT * FROM g EXCEPT ALL SELECT * FROM w)) + "
                "(SELECT COUNT(*) FROM (SELECT * FROM w EXCEPT ALL SELECT * FROM g))"
            ).fetchone()[0]
            if n:
                bad.append(f"{sink}: {n} rows differ")
        return bad

    def batch_ranges(self, out_dir: str) -> list[tuple[int, int, int, int]]:
        """(ingest_batch, min id, max id, rows) per summaries partition."""
        return self.con.sql(
            f"""
SELECT ingest_batch, MIN(id), MAX(id), COUNT(*)
FROM read_parquet('{out_dir}/summaries/*/*.parquet', hive_partitioning = true)
GROUP BY ingest_batch ORDER BY ingest_batch
"""
        ).fetchall()

    # -- corpus admission -------------------------------------------------

    def admitted_ids(self, n_docs: int) -> set[int]:
        """Id-ordered greedy admission over the first ``n_docs`` documents:
        a document is admitted iff no smaller doc_id shares a MinHash band
        bucket with it (``bpairs``, the registry's candidate-pair SQL) or
        has the same exact fingerprint (the prologue's ``fp``). Admission
        never looks ahead, so the prefix alone decides it."""
        self.con.sql(
            "CREATE OR REPLACE VIEW documents AS SELECT * FROM "
            f"read_parquet('{self.documents_path}') WHERE doc_id < {n_docs}"
        )
        sql = wrap(
            registry._BPAIRS_SQL
            + f"""
SELECT doc_id FROM documents d
WHERE NOT EXISTS (SELECT 1 FROM bpairs p WHERE p.doc_b = d.doc_id)
  AND NOT EXISTS (SELECT 1 FROM fp a JOIN fp b ON a.fp = b.fp AND a.doc_id < b.doc_id
                  WHERE b.doc_id = d.doc_id)
"""
        )
        return {r[0] for r in self.con.sql(sql).fetchall()}

    def corpus_ids(self, path: str) -> list[int]:
        """Doc ids in a batch-partitioned corpus sink (none when no batch
        has written to it yet)."""
        pattern = f"{path}/*/*.parquet"
        if not glob.glob(pattern):
            return []
        return [
            r[0]
            for r in self.con.sql(
                f"SELECT doc_id FROM read_parquet('{pattern}', hive_partitioning = true)"
            ).fetchall()
        ]
