"""Seeded input generators for the three benchmark workloads, with the
ground truth each pass is checked against.

Every generator is a pure function of (seed, size): the same arguments
give byte-identical inputs and truth. The program under test only ever
sees the parquet these write; the truth stays on the benchmark side.
"""

from __future__ import annotations

import hashlib
import random
from dataclasses import dataclass, field
from datetime import datetime, timedelta

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# --------------------------------------------------------------- parse_route

PR_TS_PATTERN = "yyyy-MM-dd HH:mm:ss"
# 8 tables, 4-12 columns each; ID first so deletes can key on it
PR_TABLES = {
    f'"SYSTEM"."{name}"': ["ID"] + [f"{name[:3]}_C{i}" for i in range(1, width)]
    for name, width in [
        ("CUSTOMERS", 4), ("ADDRESSES", 5), ("PRODUCTS", 6), ("ORDERS", 7),
        ("ORDER_ITEMS", 8), ("PAYMENTS", 9), ("SHIPMENTS", 10), ("INVOICES", 12),
    ]
}
# a hot host takes half the traffic (skewed url keys)
PR_HOSTS = ["hot.example"] * 4 + ["b.example", "c.example", "d.example", "e.example"]
LANGS = ["en", "de", "fr", "es", "it"]
# malformed record kinds and the parse_error label the kernel gives each
MALFORMED = {
    "arity": "insert_arity_mismatch",
    "timestamp": "bad_timestamp",
    "no_id_line": "missing_id_line",
    "unknown_op": "unknown_statement_type",
}
P_MALFORMED = 0.01
P_UPDATE = 0.015
P_DELETE = 0.005
HTML_PAD = 768  # seeded incompressible bytes per row on top of the wrapper


@dataclass
class RouteTruth:
    """Expected routing of one parse_route input."""

    rows: int = 0
    routed: dict[str, int] = field(default_factory=dict)  # sink_* -> rows
    # "op|table_id" -> [rows, distinct row ids]
    per_op_table: dict[str, list[int]] = field(default_factory=dict)
    rejects_by_error: dict[str, int] = field(default_factory=dict)


def _rid(seed: int, i: int) -> str:
    return "AAA" + hashlib.md5(f"{seed}:{i}".encode()).hexdigest()[:15].upper()


def _records_to_frame(texts, hosts, start, burst, rng_np) -> pd.DataFrame:
    """documents-shaped frame; (warc_ts, url) order equals record order:
    one timestamp and one host per `burst` consecutive records, urls
    carry the zero-padded sequence."""
    n = len(texts)
    seq = np.arange(n)
    ts = pd.to_datetime(start) + pd.to_timedelta(seq // burst, unit="s")
    urls = [f"https://{hosts[s // burst]}/redo/{s:08d}" for s in range(n)]
    pad = rng_np.integers(0, 256, size=(n, HTML_PAD), dtype=np.uint8)
    html = [
        b"<html><body><pre>" + t.encode() + b"</pre>" + pad[i].tobytes()
        + b"</body></html>"
        for i, t in enumerate(texts)
    ]
    langs = np.array(LANGS)[rng_np.integers(0, len(LANGS), size=n)]
    return pd.DataFrame(
        {"url": urls, "warc_ts": ts.astype("datetime64[us]"), "html": html,
         "text": texts, "lang": langs}
    )


def write_documents(df: pd.DataFrame, path: str, row_groups: int = 16) -> None:
    """One parquet file cut into row groups, so Spark splits the scan
    over all cores as it would a multi-file documents table."""
    pq.write_table(pa.Table.from_pandas(df, preserve_index=False), path,
                   row_group_size=max(1, -(-len(df) // row_groups)))


def gen_parse_route(seed: int, n_rows: int) -> tuple[pd.DataFrame, RouteTruth]:
    """Wide-insert redo log shaped like the reference evaluation log:
    ~97% inserts over 8 tables, updates and deletes on live rows (no
    ROWID reuse, so no incarnations), ~1% malformed records."""
    rng = random.Random(seed)
    rng_np = np.random.default_rng(seed)
    start = datetime(2021, 3, 1, 8, 0, 0)
    burst = 5
    tables = list(PR_TABLES)
    texts: list[str] = []
    live: list[tuple[str, str, str]] = []  # (table, row_id, id value)
    truth = RouteTruth(rows=n_rows)
    distinct: dict[str, set[str]] = {}
    counts: dict[str, int] = {}
    hosts = [rng.choice(PR_HOSTS) for _ in range(n_rows // burst + 1)]

    def route(op, table, row_id):
        key = f"{op}|{table}"
        counts[key] = counts.get(key, 0) + 1
        distinct.setdefault(key, set()).add(row_id)

    for i in range(n_rows):
        ts = (start + timedelta(seconds=i // burst)).strftime("%Y-%m-%d %H:%M:%S")
        u = rng.random()
        if u < P_MALFORMED:
            kind = rng.choice(sorted(MALFORMED))
            table = rng.choice(tables)
            cols = PR_TABLES[table]
            col_s = ",".join(f'"{c}"' for c in cols)
            val_s = ",".join(f"'{i}'" for _ in cols)
            if kind == "arity":
                stmt = f"insert into {table}({col_s}) values ({val_s},'x');"
                text = f"{stmt}\n{_rid(seed, i)} {ts}"
            elif kind == "timestamp":
                stmt = f"insert into {table}({col_s}) values ({val_s});"
                text = f"{stmt}\n{_rid(seed, i)} not-a-time"
            elif kind == "no_id_line":
                text = f"insert into {table}({col_s}) values ({val_s});"
            else:
                text = f"merge into {table} using x;\n{_rid(seed, i)} {ts}"
            label = MALFORMED[kind]
            truth.rejects_by_error[label] = truth.rejects_by_error.get(label, 0) + 1
        elif u < P_MALFORMED + P_DELETE and live:
            table, row_id, id_val = live.pop(rng.randrange(len(live)))
            stmt = (f"delete from {table} where \"ID\" = '{id_val}' "
                    f"and ROWID = '{row_id}';")
            text = f"{stmt}\n{row_id} {ts}"
            route("delete", table, row_id)
        elif u < P_MALFORMED + P_DELETE + P_UPDATE and live:
            table, row_id, _ = live[rng.randrange(len(live))]
            col = rng.choice(PR_TABLES[table][1:])
            stmt = (f"update {table} set \"{col}\" = 'n{i}' where \"{col}\" = "
                    f"'o{i}' and ROWID = '{row_id}';")
            text = f"{stmt}\n{row_id} {ts}"
            route("update", table, row_id)
        else:
            table = tables[min(int(rng.expovariate(0.35)), len(tables) - 1)]
            cols = PR_TABLES[table]
            row_id = _rid(seed, i)
            vals = [str(i)] + [
                f"v{rng.randrange(10**6)}" for _ in cols[1:]
            ]
            col_s = ",".join(f'"{c}"' for c in cols)
            val_s = ",".join(f"'{v}'" for v in vals)
            stmt = f"insert into {table}({col_s}) values ({val_s});"
            text = f"{stmt}\n{row_id} {ts}"
            route("insert", table, row_id)
            live.append((table, row_id, str(i)))
        texts.append(text)

    truth.per_op_table = {k: [counts[k], len(distinct[k])] for k in sorted(counts)}
    for op in ("insert", "update", "delete"):
        truth.routed[f"sink_{op}"] = sum(
            v[0] for k, v in truth.per_op_table.items() if k.startswith(op + "|")
        )
    truth.routed["sink_rejects"] = sum(truth.rejects_by_error.values())
    return _records_to_frame(texts, hosts, start, burst, rng_np), truth


# ---------------------------------------------------------------- fk_traces

FK_ROOTS = ('"SYSTEM"."ORDERS"',)
# One root keeps a cold pass near 50 s on a 4-core host; a second
# root adds its own traces and .xes jobs (~20 s). Per replica of
# fixtures.mini_log_statements (its docstring's design): 161 inserts /
# 220 updates / 52 deletes; 10 ORDERS re-inserts on reused ROWIDs; one
# trace per ORDERS incarnation (60 + 10).
_MINI_ROUTED = {"sink_insert": 161, "sink_update": 220, "sink_delete": 52,
                "sink_rejects": 0}
_MINI_TRACES = {FK_ROOTS[0]: 70}
_MINI_INCARNATIONS = 10
FK_PKS = sorted(
    (f'"SYSTEM"."{t}"', "ID") for t in ("USERS", "ORDERS", "INVOICES")
)
FK_FKS = sorted([
    ('"SYSTEM"."INVOICES"', "ORDER_ID", '"SYSTEM"."ORDERS"', "ID"),
    ('"SYSTEM"."ORDERS"', "USER_ID", '"SYSTEM"."USERS"', "ID"),
])


@dataclass
class TraceTruth:
    rows: int = 0
    routed: dict[str, int] = field(default_factory=dict)
    incarnations: int = 0
    pks: list = field(default_factory=list)
    fks: list = field(default_factory=list)
    traces: dict[str, int] = field(default_factory=dict)


def gen_fk_traces(seed: int, replicas: int) -> tuple[pd.DataFrame, TraceTruth]:
    """`replicas` copies of the mini-log state machine with distinct ids
    and ROWIDs, interleaved in a seeded order that keeps each replica's
    own statement order (concurrent sessions writing one redo log)."""
    from redo_log_parser_spark.fixtures import (
        mini_log_statements, statements_to_documents)

    rng = random.Random(seed)
    streams = [mini_log_statements(id_offset=2000 * r, rep=r + 1)
               for r in range(replicas)]
    pos = [0] * replicas
    owners = [r for r, s in enumerate(streams) for _ in s]
    rng.shuffle(owners)
    stmts = []
    for r in owners:
        stmts.append(streams[r][pos[r]])
        pos[r] += 1
    docs = statements_to_documents(stmts, seed=seed, html_bytes=HTML_PAD)
    docs["warc_ts"] = docs["warc_ts"].astype("datetime64[us]")
    truth = TraceTruth(
        rows=len(docs),
        routed={k: v * replicas for k, v in _MINI_ROUTED.items()},
        incarnations=_MINI_INCARNATIONS * replicas,
        pks=[list(p) for p in FK_PKS],
        fks=[list(f) for f in FK_FKS],
        traces={k: v * replicas for k, v in _MINI_TRACES.items()},
    )
    return docs, truth


# -------------------------------------------------------------- dedup_dense

DD_N = 3
DD_THRESHOLD = 0.5
DD_VOCAB = 3000
DD_PHRASES = 600  # shared boilerplate phrases: candidate pairs that fail
DD_DUP_SHARE = 0.35
DD_MAX_CLUSTER = 20


def _vocab() -> list[str]:
    syll = ["ka", "lo", "mi", "ne", "su", "ta", "ro", "vi", "de", "pa",
            "zu", "fe", "go", "ha", "ji", "bo"]
    return [a + b + c for a in syll for b in syll for c in syll][:DD_VOCAB]


def gen_dedup_dense(seed: int, n_docs: int) -> pd.DataFrame:
    """Docs of 80-300 tokens over a bounded vocabulary (uniform words,
    so no hot-shingle tail), each carrying two shared boilerplate
    phrases; ~35% of docs sit in near-dup clusters of 2-20 edited
    copies of one base doc."""
    rng = np.random.default_rng(seed)
    vocab = np.array(_vocab())
    phrases = [rng.integers(0, DD_VOCAB, size=rng.integers(5, 9))
               for _ in range(DD_PHRASES)]

    def fresh() -> np.ndarray:
        body = rng.integers(0, DD_VOCAB, size=rng.integers(80, 300))
        for _ in range(2):
            p = phrases[rng.integers(DD_PHRASES)]
            at = rng.integers(0, len(body))
            body = np.concatenate([body[:at], p, body[at:]])
        return body

    def edit(base: np.ndarray) -> np.ndarray:
        out = base.copy()
        k = max(1, int(len(out) * rng.uniform(0.01, 0.08)))
        at = rng.integers(0, len(out), size=k)
        out[at] = rng.integers(0, DD_VOCAB, size=k)
        if rng.random() < 0.5:
            cut = rng.integers(0, len(out))
            out = np.delete(out, slice(cut, cut + rng.integers(1, 6)))
        return out

    bodies: list[np.ndarray] = []
    n_dup_target = int(n_docs * DD_DUP_SHARE)
    while len(bodies) < n_docs:
        if len(bodies) < n_dup_target:
            size = int(rng.integers(2, DD_MAX_CLUSTER + 1))
            base = fresh()
            bodies.append(base)
            bodies.extend(edit(base) for _ in range(size - 1))
        else:
            bodies.append(fresh())
    bodies = bodies[:n_docs]
    order = rng.permutation(n_docs)
    texts = [" ".join(vocab[bodies[i]]) for i in order]
    langs = np.array(LANGS)[rng.integers(0, len(LANGS), size=n_docs)]
    return pd.DataFrame(
        {"doc_id": np.arange(n_docs, dtype=np.int64), "text": texts, "lang": langs}
    )


@dataclass
class DedupTruth:
    docs: int = 0
    pairs: list = field(default_factory=list)  # sorted [id_a, id_b]
    components: dict[int, int] = field(default_factory=dict)  # doc -> min id
    reps: dict[int, int] = field(default_factory=dict)  # component -> kept doc


def dedup_truth(docs: pd.DataFrame) -> DedupTruth:
    """Expected pairs from DuckDB running the contract's own oracle SQL,
    components from a union-find over them, and representatives by the
    select_representatives policy (most tokens, ties to the smallest id)."""
    import duckdb

    from redo_log_parser_spark.contract import SQL_NGRAM_JACCARD

    con = duckdb.connect()
    try:
        con.register("documents", docs)
        pairs = con.execute(
            f"select id_a, id_b from ({SQL_NGRAM_JACCARD}) order by 1, 2"
        ).fetchall()
    finally:
        con.close()
    parent = {int(d): int(d) for d in docs["doc_id"]}

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    comps = {d: find(d) for d in parent}
    n_tok = dict(zip(docs["doc_id"].astype(int), docs["text"].str.split().str.len()))
    best: dict[int, int] = {}
    for d, c in comps.items():
        b = best.get(c)
        if b is None or (n_tok[d], -d) > (n_tok[b], -b):
            best[c] = d
    return DedupTruth(docs=len(docs), pairs=[list(p) for p in pairs],
                      components=comps, reps=best)
