"""Seeded input generators and the plain-Python replay oracle.

Nothing here imports Spark: the generators build rows, change lists and
parquet tables from a seed, and the engine only ever receives the
DataFrames or files made from them. The same seed gives the same inputs.
"""

from __future__ import annotations

import json
import os
from collections.abc import Iterable

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: keys stay below the capture path's 1e9 key-space (cdc_id = base + key)
MAX_KEY = 999_999_999

#: the reference basic demo's operation mix: 10 INSERT, 5 UPDATE, 2 DELETE
#: (its final replica holds 8 rows); both change generators follow it
BASIC_DEMO_MIX = {"INSERT": 10, "UPDATE": 5, "DELETE": 2}


def replay(changes: Iterable[tuple[str, int, dict | None]], initial: dict | None = None) -> dict:
    """Apply ``(operation, key, image)`` changes one at a time, in order.

    The reference's row-at-a-time semantics: INSERT is insert-or-replace,
    UPDATE applies only to an existing key, DELETE removes the key.
    Returns the final ``key -> image`` table.
    """
    table = dict(initial or {})
    for op, key, image in changes:
        apply_change(table, op, key, image)
    return table


def apply_change(table: dict, op: str, key: int, image: dict | None) -> None:
    """Apply one change to ``table`` in place (see :func:`replay`)."""
    if op == "INSERT":
        table[key] = image
    elif op == "UPDATE":
        if key in table:
            table[key] = image
    elif op == "DELETE":
        table.pop(key, None)
    else:
        raise ValueError(f"unknown operation {op!r}")


def rows_table(images: list[dict]) -> pa.Table:
    """Row images as an arrow table in the tracked-table schema."""
    return pa.table(
        {
            "id": pa.array([r["id"] for r in images], pa.int64()),
            "name": pa.array([r["name"] for r in images], pa.string()),
            "balance": pa.array([r["balance"] for r in images], pa.float64()),
            "qty": pa.array([r["qty"] for r in images], pa.int32()),
        }
    )


class _Rows:
    """Seeded row images: a key's image changes with every version."""

    def __init__(self, rng: np.random.Generator):
        self.rng = rng

    def image(self, key: int, version: int) -> dict:
        return {
            "id": int(key),
            "name": f"acct{key}-v{version}",
            "balance": int(self.rng.integers(0, 10**8)) / 100.0,
            "qty": int(self.rng.integers(0, 1000)),
        }

    def bulk(self, n: int) -> list[dict]:
        """Version-0 images of keys ``0..n-1``."""
        balance = self.rng.integers(0, 10**8, n) / 100.0
        qty = self.rng.integers(0, 1000, n)
        return [
            {"id": k, "name": f"acct{k}-v0", "balance": float(balance[k]), "qty": int(qty[k])}
            for k in range(n)
        ]


class SyncLoopGen:
    """Change stream of the ``sync_loop`` workload.

    The base table has keys ``0..n_base-1``. Each iteration updates,
    inserts and deletes a fixed number of keys. Updated and deleted keys
    are drawn from a Zipf law over a seeded popularity order, so hot keys
    are often updated and then deleted in the same iteration. Inserts are
    fresh keys, plus re-inserts of keys deleted earlier. The Zipf
    exponent is an assumption: the reference picks keys without a
    recorded distribution.
    """

    def __init__(self, seed: int, n_base: int, n_update: int, n_insert: int,
                 n_delete: int, zipf_a: float = 1.2):
        self.rng = np.random.default_rng([seed, 1])
        self.rows = _Rows(self.rng)
        self.n_update, self.n_insert, self.n_delete = n_update, n_insert, n_delete
        self.zipf_a = zipf_a
        self.n_base = n_base
        self.version = 0
        self.next_key = n_base
        self.table: dict[int, dict] = {}
        #: live keys, most popular first (a seeded permutation)
        self.popular = [int(k) for k in self.rng.permutation(n_base)]
        self.dead: list[int] = []
        #: every change in capture order: (operation, key, image)
        self.log: list[tuple[str, int, dict | None]] = []
        self.op_counts = {"INSERT": 0, "UPDATE": 0, "DELETE": 0}

    def base(self) -> list[dict]:
        """Images of the bulk load; recorded as INSERT changes."""
        images = self.rows.bulk(self.n_base)
        self._record("INSERT", images)
        return images

    def _record(self, op: str, images: list[dict], deleted: bool = False) -> None:
        for img in images:
            self.log.append((op, img["id"], None if deleted else img))
        self.op_counts[op] += len(images)
        for img in images:
            apply_change(self.table, op, img["id"], None if deleted else img)

    def _zipf_keys(self, n: int) -> list[int]:
        picked: dict[int, None] = {}
        live = len(self.popular)
        for _ in range(64):
            ranks = self.rng.zipf(self.zipf_a, size=4 * n) - 1
            for r in ranks[ranks < live]:
                picked[self.popular[int(r)]] = None
                if len(picked) == n:
                    return list(picked)
        # the Zipf tail is thin: top up uniformly
        for r in self.rng.permutation(live):
            picked[self.popular[int(r)]] = None
            if len(picked) == n:
                break
        return list(picked)

    def iteration(self) -> dict:
        """The next iteration's changes, in capture order.

        Returns ``update`` (new images), ``update_old`` (their prior
        images), ``insert`` and ``delete`` (the deleted rows' images),
        plus ``keys``, the number of distinct keys touched.
        """
        self.version += 1
        v = self.version
        up_keys = self._zipf_keys(self.n_update)
        old = [self.table[k] for k in up_keys]
        new = [self.rows.image(k, v) for k in up_keys]
        self._record("UPDATE", new)

        n_re = min(len(self.dead), self.n_insert // 5)
        re_keys = [self.dead.pop(int(i)) for i in
                   sorted(self.rng.choice(len(self.dead), n_re, replace=False), reverse=True)]
        fresh = list(range(self.next_key, self.next_key + self.n_insert - n_re))
        self.next_key += len(fresh)
        if self.next_key > MAX_KEY:
            raise ValueError("key space exhausted")
        ins_keys = re_keys + fresh
        ins = [self.rows.image(k, v) for k in ins_keys]
        self._record("INSERT", ins)
        self.popular.extend(ins_keys)

        del_keys = self._zipf_keys(self.n_delete)
        dels = [self.table[k] for k in del_keys]
        self._record("DELETE", dels, deleted=True)
        gone = set(del_keys)
        self.popular = [k for k in self.popular if k not in gone]
        self.dead.extend(del_keys)
        return {
            "update": new,
            "update_old": old,
            "insert": ins,
            "delete": dels,
            "keys": len(set(up_keys) | set(ins_keys) | gone),
        }


#: audit-log schema of the change files the stream workload writes
#: (the engine's model.AUDIT_SCHEMA, in arrow form)
AUDIT_ARROW = pa.schema(
    [
        pa.field("cdc_id", pa.int64(), nullable=False),
        pa.field("operation", pa.string(), nullable=False),
        pa.field("record_id", pa.int64()),
        pa.field("old_data", pa.string()),
        pa.field("new_data", pa.string()),
        pa.field("changed_at", pa.timestamp("us", tz="UTC")),
        pa.field("synced", pa.bool_(), nullable=False),
        pa.field("sync_timestamp", pa.timestamp("us", tz="UTC")),
    ]
)


def image_json(image: dict) -> str:
    return json.dumps(image, separators=(",", ":"))


class StreamGen:
    """Change files of the ``stream_catchup`` workload.

    Each file mixes inserts of fresh keys with updates and deletes of
    keys drawn uniformly from the live table, in ``cdc_id`` order, in the
    proportions of :data:`BASIC_DEMO_MIX`. About
    ``bad_share`` of the rows are malformed: an INSERT or UPDATE whose
    JSON image does not decode. They must be dead-lettered, never applied.
    """

    def __init__(self, seed: int, n_base: int, rows_per_file: int,
                 bad_share: float = 0.01):
        self.rng = np.random.default_rng([seed, 2])
        self.rows = _Rows(self.rng)
        self.n_base = n_base
        self.rows_per_file = rows_per_file
        self.bad_share = bad_share
        self.table: dict[int, dict] = {}
        self.next_key = n_base
        self.version = 0
        self.valid: list[tuple[str, int, dict | None]] = []
        self.bad_ids: list[int] = []
        self.rows_written = 0

    def base(self) -> list[dict]:
        images = self.rows.bulk(self.n_base)
        self.table = {img["id"]: img for img in images}
        return images

    def next_file(self, first_cdc_id: int, changed_at_us: int) -> pa.Table:
        """One change file; ``cdc_id`` runs up from ``first_cdc_id``."""
        self.version += 1
        n = self.rows_per_file
        live = list(self.table)
        mix = np.array(list(BASIC_DEMO_MIX.values()), dtype=float)
        ops = self.rng.choice(list(BASIC_DEMO_MIX), size=n, p=mix / mix.sum())
        bad = self.rng.random(n) < self.bad_share
        cols: dict[str, list] = {c: [] for c in AUDIT_ARROW.names}
        for i in range(n):
            cdc_id = first_cdc_id + i
            op = str(ops[i])
            if op == "INSERT":
                key = self.next_key
                self.next_key += 1
            else:
                key = live[int(self.rng.integers(len(live)))]
            old = self.table.get(key)
            if bad[i] and op != "DELETE":
                new_data = '{"id":' + str(key) + ',"name":'  # truncated image
                self.bad_ids.append(cdc_id)
            elif op == "DELETE":
                new_data = None
                self.valid.append((op, key, None))
                apply_change(self.table, op, key, None)
            else:
                img = self.rows.image(key, self.version)
                new_data = image_json(img)
                self.valid.append((op, key, img))
                apply_change(self.table, op, key, img)
            cols["cdc_id"].append(cdc_id)
            cols["operation"].append(op)
            cols["record_id"].append(key)
            cols["old_data"].append(None if old is None else image_json(old))
            cols["new_data"].append(new_data)
            cols["changed_at"].append(changed_at_us)
            cols["synced"].append(False)
            cols["sync_timestamp"].append(None)
        self.rows_written += n
        return pa.table(cols, schema=AUDIT_ARROW)


def write_file(table: pa.Table, path: str, mtime_ns: int) -> None:
    """Write one parquet file whole, then stamp its modification time.

    The file stream source orders files by modification time, so the
    stamps fix the order in which micro-batches see the files.
    """
    tmp = os.path.join(os.path.dirname(path), "." + os.path.basename(path))
    pq.write_table(table, tmp)
    os.replace(tmp, path)
    os.utime(path, ns=(mtime_ns, mtime_ns))


# -- analytics tables ---------------------------------------------------------

_WORDS = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the"
).split()


def analytics_tables(seed: int, out_dir: str, scale: float, n_events: int) -> dict[str, int]:
    """Write the ten registry tables as parquet: TPC-H-like at ``scale``,
    and ``n_events`` rows of events over one user per 66 events (the test
    data's ratio).

    Same table names and columns as the repository's test data, with
    continuous values so top-k and rank queries have no ties. The types
    are the test data's too, except ``events.ts``: it is written as a
    nanosecond timestamp, the form ``sources.catalog.load_table``
    documents for that column, so the engine's nanos-to-micros read path
    runs. Returns the row count per table.
    """
    rng = np.random.default_rng([seed, 3])
    os.makedirs(out_dir, exist_ok=True)
    n_cust = int(150_000 * scale)
    n_supp = max(10, int(10_000 * scale))
    n_part = int(200_000 * scale)
    n_ord = int(1_500_000 * scale)
    n_line = int(6_000_000 * scale)
    n_ev = n_events
    n_doc = max(100, int(50_000 * scale))
    n_emb = max(100, int(50_000 * scale))
    day_us = 86_400_000_000
    t1995 = 788_918_400_000_000  # 1995-01-01 in microseconds

    def money(n, lo, hi):
        return np.round(rng.uniform(lo, hi, n), 2)

    tables = {}
    tables["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    tables["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    tables["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": money(n_cust, -999.99, 9999.99),
        "c_mktsegment": rng.choice(
            ["MACHINERY", "FURNITURE", "BUILDING", "AUTOMOBILE", "HOUSEHOLD"], n_cust),
    })
    tables["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": money(n_supp, -999.99, 9999.99),
    })
    adj = ["small", "red", "blue", "hot", "old", "large", "green", "cold"]
    noun = ["ring", "widget", "bolt", "gear", "plate", "rod", "nut", "pipe"]
    tables["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": [f"{adj[a]} {noun[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(["ECONOMY", "SMALL", "MEDIUM", "LARGE", "STANDARD", "PROMO"],
                             n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10.0, 2),
    })
    tables["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": rng.choice(["O", "F", "P"], n_ord),
        "o_totalprice": money(n_ord, 1000, 500000),
        "o_orderdate": pa.array(t1995 + rng.integers(0, 2400, n_ord) * day_us,
                                pa.timestamp("us")),
        "o_orderpriority": rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord),
    })
    tables["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": money(n_line, 900, 105000),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": rng.choice(["R", "A", "N"], n_line),
        "l_linestatus": rng.choice(["O", "F"], n_line),
        "l_shipdate": pa.array(t1995 + rng.integers(0, 2500, n_line) * day_us,
                               pa.timestamp("us")),
    })
    t2024 = 1_704_067_200_000_000
    ev_ts = 1000 * t2024 + np.sort(rng.integers(0, 1000 * 30 * day_us, n_ev))
    tables["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(ev_ts, pa.timestamp("ns")),
        "user_id": pa.array(rng.integers(0, max(10, n_ev // 66), n_ev), pa.int64()),
        "event_type": rng.choice(["view", "click", "purchase", "signup", "error"], n_ev),
        "value": money(n_ev, 0.01, 490),
        "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n_ev)],
    })
    texts: list[str] = []
    for i in range(n_doc):
        if i > 10 and rng.random() < 0.05:
            # near-duplicate: an earlier document with a marker word appended
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(_WORDS, int(rng.integers(10, 100)))))
    tables["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_doc), pa.int64()),
        "text": texts,
        "lang": rng.choice(["en", "zh", "es", "de", "fr"], n_doc,
                           p=[0.44, 0.14, 0.14, 0.14, 0.14]),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    labels = rng.integers(0, 10, n_emb)
    centers = rng.normal(size=(10, 64))
    vecs = centers[labels] + 0.8 * rng.normal(size=(n_emb, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    tables["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}
