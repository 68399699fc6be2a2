"""Seeded input generators and independent expected-state models.

Everything here is plain Python + numpy + pyarrow; nothing imports the
package under test. The same seed always produces the same inputs.

* ``write_operator_tables`` writes the ten TPC-H-shaped tables the
  ``bench.HEADLINE`` operators read (region ... embeddings), at the shape
  and value domains of the sf0.01 fixtures.
* ``OrdersFeed`` produces the bootstrap and trickle slices of
  ``merge_trickle`` / ``scd2_mor_mixed`` and keeps the expected silver state
  (``MergeModel`` or ``Scd2Model``) in step with what it generated.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DAY0 = dt.datetime(1995, 1, 1)


def _days(rng, n, lo, hi):
    """``n`` midnight timestamps with day offsets in [lo, hi] from DAY0."""
    off = rng.integers(lo, hi + 1, n)
    return np.datetime64(DAY0, "us") + off.astype("timedelta64[D]").astype("timedelta64[us]")


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def write_operator_tables(out_dir: str, seed: int, sf: float = 0.01) -> dict[str, int]:
    """Write the operator workload's input tables; returns rows per table."""
    rng = np.random.default_rng([seed, 1])
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp, n_part = int(150_000 * sf), max(10, int(10_000 * sf)), int(200_000 * sf)
    n_ord, n_ev, n_doc = int(1_500_000 * sf), int(1_000_000 * sf), max(500, int(50_000 * sf))
    tables: dict[str, pa.Table] = {}
    tables["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    tables["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    segments = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    tables["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
        "c_mktsegment": segments[rng.integers(0, 5, n_cust)],
    })
    tables["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, n_supp, -999.99, 9999.99),
    })
    colors = ["red", "blue", "green", "small", "large", "hot", "old", "new"]
    nouns = ["ring", "widget", "bolt", "gear", "plate", "rod", "nut", "pipe"]
    names = np.array([f"{c} {n}" for c in colors for n in nouns])
    types = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
    tables["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": names[rng.integers(0, len(names), n_part)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": types[rng.integers(0, len(types), n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2),
    })
    prios = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    tables["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, n_ord, 1000.0, 500_000.0),
        "o_orderdate": _days(rng, n_ord, 0, 2404),
        "o_orderpriority": prios[rng.integers(0, 5, n_ord)],
    })
    lines = rng.integers(1, 8, n_ord)
    lk = np.repeat(np.arange(n_ord), lines)
    ln = np.concatenate([np.arange(1, k + 1) for k in lines]).astype(np.int32)
    n_li = len(lk)
    tables["lineitem"] = pa.table({
        "l_orderkey": pa.array(lk, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(ln, pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, n_li, 900.0, 105_000.0),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _days(rng, n_li, 1, 2499),
    })
    ev_us = np.sort(rng.integers(0, 30 * 86_400 * 10**6, n_ev))
    tables["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(np.datetime64("2024-01-01T00:00:00", "us") + ev_us.astype("timedelta64[us]")),
        "user_id": pa.array(rng.integers(0, 150, n_ev), pa.int64()),
        "event_type": np.array(["click", "error", "purchase", "signup", "view"])[rng.integers(0, 5, n_ev)],
        "value": np.maximum(0.01, np.round(rng.exponential(50.0, n_ev), 2)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    vocab = ("a the join hash row batch scan column customer filter small slow merge "
             "order vector line table data agg value key stream window spark part "
             "group big sort query fast").split()
    texts: list[str] = []
    for i in range(n_doc):
        if i >= 10 and rng.random() < 0.05:  # near-duplicate of an earlier doc
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(vocab[j] for j in rng.integers(0, len(vocab), int(rng.integers(10, 100)))))
    langs = np.array(["en"] * 3 + ["de", "es", "fr", "zh"])
    tables["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_doc), pa.int64()),
        "text": texts,
        "lang": langs[rng.integers(0, len(langs), n_doc)],
        "source": [f"src{s}" for s in rng.integers(0, 20, n_doc)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    centers = rng.normal(0.0, 1.0, (10, 64))
    labels = rng.integers(0, 10, n_doc)
    emb = centers[labels] * 0.15 + rng.normal(0.0, 1.0, (n_doc, 64))
    emb = (emb / np.linalg.norm(emb, axis=1, keepdims=True)).astype(np.float32)
    tables["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_doc), pa.int64()),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })
    for name, t in tables.items():
        pq.write_table(t, f"{out_dir}/{name}.parquet")
    return {name: t.num_rows for name, t in tables.items()}


# ------------------------------------------------------------ canonical rows
def canon(v) -> str:
    """One value as a stable string, identical for a Python model value and
    the same value read back from Spark through Arrow."""
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        return repr(v)
    if isinstance(v, dt.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(dt.timezone.utc).replace(tzinfo=None)
        return v.isoformat(sep=" ")
    return str(v)


def content_hash(rows) -> tuple[int, str]:
    """(row count, order-insensitive sha256) of an iterable of tuples."""
    lines = sorted("|".join(canon(v) for v in r) for r in rows)
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return len(lines), h.hexdigest()


def _ts(pt: str) -> dt.datetime:
    return dt.datetime.fromisoformat(pt)


# ------------------------------------------------------------ orders feed
ORDERS_COLS = ["ID", "SeqNr", "o_custkey", "o_orderstatus", "o_totalprice",
               "o_orderpriority", "o_clerk"]
_STATUS = ["F", "O", "P"]
_PRIOS = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]


class MergeModel:
    """Expected state of a Merge entity with delete inference: key ->
    [payload tuple, deleted, lastSeen]. Mirrors the merge clauses: a resent
    key is updated (payload changed) or touched (unchanged; lastSeen moves),
    a new key is inserted, and a live target row whose SeqNr lies in the
    inclusive watermark window [previous max, current max] but is missing
    from the slice is soft-deleted."""

    def __init__(self) -> None:
        self.rows: dict[int, list] = {}
        self.bookmark: int | None = None

    def apply(self, rows: list[tuple], pt: str) -> dict[str, int]:
        ts = _ts(pt)
        keys = {r[0] for r in rows}
        cur = max(r[1] for r in rows)
        inserted = updated = inferred = 0
        if self.bookmark is not None:
            lo = self.bookmark
            for k, st in self.rows.items():
                if k not in keys and not st[1] and lo <= st[0][1] <= cur:
                    st[1], st[2] = True, ts
                    inferred += 1
        for r in rows:
            st = self.rows.get(r[0])
            if st is None:
                self.rows[r[0]] = [r, False, ts]
                inserted += 1
            else:
                if st[0] != r:
                    st[0], st[1] = r, False
                st[2] = ts
                updated += 1
        self.bookmark = cur
        return {"records_in_slice": len(rows), "inserted": inserted,
                "updated": updated, "deleted": 0, "inferred_deletes": inferred}

    def live_keys(self) -> list[int]:
        return [k for k, st in self.rows.items() if not st[1]]

    def current_payloads(self) -> dict[int, tuple]:
        return {k: st[0] for k, st in self.rows.items()}

    def expected_rows(self):
        return [(*st[0], st[1], st[2]) for st in self.rows.values()]


class Scd2Model:
    """Expected SCD2 history: key -> list of versions (payload, ValidFrom),
    the last one current. A changed key closes its current version and opens
    a new one; an unchanged key stays as it is; a new key gets its first
    version."""

    def __init__(self) -> None:
        self.versions: dict[int, list[tuple]] = {}

    def apply(self, rows: list[tuple], pt: str) -> dict[str, int]:
        ts = _ts(pt)
        inserted = updated = unchanged = 0
        for r in rows:
            vs = self.versions.get(r[0])
            if vs is None:
                self.versions[r[0]] = [(r, ts)]
                inserted += 1
            elif vs[-1][0] == r:
                unchanged += 1
            else:
                vs.append((r, ts))
                updated += 1
        return {"records_in_slice": len(rows), "inserted": inserted,
                "updated": updated, "unchanged": unchanged, "deleted": 0}

    def live_keys(self) -> list[int]:
        return list(self.versions)

    def current_payloads(self) -> dict[int, tuple]:
        return {k: vs[-1][0] for k, vs in self.versions.items()}

    def current_rows(self):
        return [(*vs[-1][0], vs[-1][1]) for vs in self.versions.values()]

    def version_counts(self) -> dict[int, int]:
        return {k: len(vs) for k, vs in self.versions.items()}


class OrdersFeed:
    """Orders-shaped bronze slices keyed by ``ID`` with watermark column
    ``SeqNr`` (a day number fixed per key). The bootstrap covers days
    [0, boot_days); each trickle slice adds ``n_new`` keys on the next
    ``step`` days, resends the keys of the previous boundary day (the only
    live target rows inside the next watermark window) except a
    ``drop_frac`` share, which delete inference must then soft-delete, and
    re-sends ``n_upd`` random older keys, about half of them with a changed
    payload."""

    def __init__(self, seed: int, n_boot: int, boot_days: int, n_new: int,
                 n_upd: int, step: int, drop_frac: float, model) -> None:
        self.rng = np.random.default_rng([seed, 3])
        self.n_new, self.n_upd, self.step, self.drop_frac = n_new, n_upd, step, drop_frac
        self.model = model
        self.next_id = 0
        self.day = boot_days - 1
        self.boot = self._new_rows(n_boot, 0, boot_days - 1)

    def _new_rows(self, n: int, lo: int, hi: int) -> list[tuple]:
        rng = self.rng
        days = np.sort(rng.integers(lo, hi + 1, n))
        days[-1] = hi  # the slice max is the new bookmark
        ids = range(self.next_id, self.next_id + n)
        self.next_id += n
        cust, status, prio = rng.integers(0, 15_000, n), rng.integers(0, 3, n), rng.integers(0, 5, n)
        price, clerk = np.round(rng.uniform(1000.0, 500_000.0, n), 2), rng.integers(0, 1000, n)
        return [(k, int(d), int(c), _STATUS[s], float(p), _PRIOS[q], f"Clerk#{int(e):09d}")
                for k, d, c, s, p, q, e in zip(ids, days, cust, status, price, prio, clerk)]

    def _edit(self, row: tuple) -> tuple:
        rng = self.rng
        status = _STATUS[(_STATUS.index(row[3]) + 1 + int(rng.integers(0, 2))) % 3]
        return (row[0], row[1], row[2], status,
                float(np.round(rng.uniform(1000.0, 500_000.0), 2)), row[5], row[6])

    def next_slice(self) -> list[tuple]:
        rng, m = self.rng, self.model
        current = m.current_payloads()
        boundary = [k for k in m.live_keys() if current[k][1] == self.day]
        rows: dict[int, tuple] = {}
        for k in (k for k in boundary if rng.random() >= self.drop_frac):
            rows[k] = self._edit(current[k]) if rng.random() < 0.5 else current[k]
        older = [k for k in m.live_keys() if current[k][1] < self.day]
        if older:
            for i in rng.choice(len(older), min(self.n_upd, len(older)), replace=False):
                k = older[int(i)]
                rows[k] = self._edit(current[k]) if rng.random() < 0.5 else current[k]
        lo = self.day + 1
        self.day += self.step
        for r in self._new_rows(self.n_new, lo, self.day):
            rows[r[0]] = r
        order = list(rows)
        rng.shuffle(order)
        return [rows[k] for k in order]


def orders_table(rows: list[tuple]) -> pa.Table:
    cols = list(zip(*rows))
    return pa.table({
        "ID": pa.array(cols[0], pa.int64()),
        "SeqNr": pa.array(cols[1], pa.int64()),
        "o_custkey": pa.array(cols[2], pa.int64()),
        "o_orderstatus": pa.array(cols[3], pa.string()),
        "o_totalprice": pa.array(cols[4], pa.float64()),
        "o_orderpriority": pa.array(cols[5], pa.string()),
        "o_clerk": pa.array(cols[6], pa.string()),
    })
