"""Seeded input generators for the benchmark, with ground truth.

Every input is a pure function of the seed. The program under test only
sees the files written here; the expected outcome of each row travels
next to it, so the checker knows the exact store, quarantine counts and
CRM set a correct run must produce.

Customer CSV rows are reshaped from a TPC-H-like ``customer`` table the
way ``__spark_entry__.entry()`` does it (first name from ``c_name``, last
name ``cust``, email ``c<id>@example.com``), with ids running on past the
table's keys for larger inputs, and given a seeded phone. Traffic
dimensions:

* ``INVALID_SHARE`` of rows carry one validation defect each, split
  evenly over bad_id, empty_email and malformed_line;
* ``DUPLICATE_SHARE`` of rows repeat an earlier customer's id (with a
  fresh email) or email (with a fresh id), within a file or across files;
* trickle files cycle through the reference README's demo waves
  ``WAVE_SIZES`` and one file of the first cycle is delivered again. The
  demo's 146-row wave is left out: with the program's inline backoff it
  adds ~12 s to every run, more than the benchmark's run budget allows.
"""

from __future__ import annotations

import os
import random
from dataclasses import dataclass, field

INVALID_SHARE = 0.02
DUPLICATE_SHARE = 0.03
WAVE_SIZES = (5, 10, 15, 31)  # the README demo waves, less the 146-row one
REASONS = ("bad_id", "empty_email", "malformed_line")


def _customer_row(cid: int, rng: random.Random) -> tuple:
    # entry(): first_name = split(c_name, '#')[0] of "Customer#<9 digits>"
    phone = f"+1 {rng.randint(200, 999)} 555 {rng.randint(1000, 9999)}"
    return (cid, "Customer", "cust", f"c{cid}@example.com", phone)


@dataclass
class Expect:
    """What a correct ingest of one CSV file does."""

    rows: int  # CSV lines, rejects included
    inserted: dict[str, tuple] = field(default_factory=dict)  # email -> row
    reasons: dict[str, int] = field(default_factory=dict)  # quarantine reason -> rows


class CustomerFeed:
    """Generates customer CSV files and tracks the store a correct program
    holds after ingesting them in order (validate, in-batch first-writer
    dedup by id then email, anti-join against the store)."""

    def __init__(self, seed: int):
        self.rng = random.Random(seed)
        self.next_id = 0
        self.seen: list[tuple] = []  # every valid row written so far
        self.store_ids: set[int] = set()
        self.store_emails: set[str] = set()

    def _fresh(self) -> tuple:
        row = _customer_row(self.next_id, self.rng)
        self.next_id += 1
        return row

    def _duplicate(self, batch: list[tuple]) -> tuple:
        pool = self.seen + batch
        if not pool:
            return self._fresh()
        src = self.rng.choice(pool)
        fresh = self._fresh()
        if self.rng.random() < 0.5:  # same id, fresh email
            return (src[0],) + fresh[1:]
        return fresh[:3] + (src[3],) + fresh[4:]

    def write(self, path: str, n_rows: int) -> Expect:
        lines: list[str] = []
        batch: list[tuple] = []
        reasons = dict.fromkeys(REASONS, 0)
        for _ in range(n_rows):
            u = self.rng.random()
            if u < INVALID_SHARE:
                reason = REASONS[int(u / INVALID_SHARE * len(REASONS))]
                cid, first, last, email, phone = self._fresh()
                reasons[reason] += 1
                if reason == "bad_id":
                    lines.append(f"{cid}x,{first},{last},{email},{phone}")
                elif reason == "empty_email":
                    lines.append(f"{cid},{first},{last},,{phone}")
                else:  # one field too many
                    lines.append(f"{cid},{first},{last},{email},{phone},extra")
                continue
            row = self._duplicate(batch) if u < INVALID_SHARE + DUPLICATE_SHARE else self._fresh()
            batch.append(row)
            lines.append(",".join(str(v) for v in row))
        tmp = path + ".part"
        with open(tmp, "w") as f:
            f.write("\n".join(lines) + "\n")
        os.replace(tmp, path)  # files land atomically in watched dirs
        return self._apply(n_rows, batch, reasons)

    def redeliver(self, src: str, dst: str) -> Expect:
        """The same file again under a new name: its valid rows are all in
        the store already, so nothing is inserted."""
        with open(src) as f:
            data = f.read()
        with open(dst + ".part", "w") as f:
            f.write(data)
        os.replace(dst + ".part", dst)
        return Expect(rows=data.count("\n"))

    def _apply(self, n_rows: int, batch: list[tuple], reasons: dict[str, int]) -> Expect:
        # dedupe_batch: per key, keep the smallest full row (first-writer)
        survivors = batch
        for key in (0, 3):
            best: dict = {}
            for row in survivors:
                if row[key] not in best or row < best[row[key]]:
                    best[row[key]] = row
            survivors = list(best.values())
        inserted = {
            r[3]: r
            for r in survivors
            if r[0] not in self.store_ids and r[3] not in self.store_emails
        }
        for r in inserted.values():
            self.store_ids.add(r[0])
            self.store_emails.add(r[3])
        self.seen.extend(batch)
        # quarantine counts duplicate losers by distinct (id, email) pair,
        # as operators.dedup.rejected_duplicates does
        kept = {(r[0], r[3]) for r in inserted.values()}
        reasons = dict(reasons)
        reasons["duplicate_key"] = sum(1 for r in batch if (r[0], r[3]) not in kept)
        return Expect(rows=n_rows, inserted=inserted, reasons=reasons)


# ---------------------------------------------------------------------------
# TPC-H-like tables for the headline queries
# ---------------------------------------------------------------------------

_WORDS = (
    "a agg batch big column customer data fast filter group hash join key line merge "
    "order part query row scan slow small sort spark stream table the value vector window"
).split()
NEAR_DUP_SHARE = 0.05  # documents that copy another one and append " dup"


def write_tables(out_dir: str, seed: int, sf: float) -> None:
    """Write the ten tables the headline queries read at scale factor
    ``sf``, with the schemas, row counts and value distributions of the
    repo's TPC-H-like test tables (TESTDATA.md); ``tables_profile.py``
    compares the two (perfbench/README.md has the figures). Prices are
    2-dp like TPC-H; the queries sum them through DECIMAL."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)

    def write(name: str, cols: dict, schema: list) -> None:
        table = pa.table({n: pa.array(cols[n], type=t) for n, t in schema})
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))

    def money(lo: float, hi: float, n: int):
        return np.round(rng.integers(int(lo * 100), int(hi * 100), n) / 100.0, 2)

    def days(start: str, span: int, n: int):
        base = np.datetime64(start, "us")
        return base + rng.integers(0, span, n).astype("timedelta64[D]")

    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1_500, int(1_500_000 * sf))
    n_line = max(6_000, int(6_000_000 * sf))
    n_evt = max(1_000, int(1_000_000 * sf))
    n_doc = max(500, int(50_000 * sf))
    n_emb = max(500, int(20_000 * sf))
    i32, i64, f64, s, ts = pa.int32(), pa.int64(), pa.float64(), pa.string(), pa.timestamp("us")

    write("region", {"r_regionkey": np.arange(5),
                     "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]},
          [("r_regionkey", i32), ("r_name", s)])
    write("nation", {"n_nationkey": np.arange(25), "n_name": [f"NATION_{i}" for i in range(25)],
                     "n_regionkey": np.arange(25) % 5},
          [("n_nationkey", i32), ("n_name", s), ("n_regionkey", i32)])
    segments = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    write("customer", {"c_custkey": np.arange(n_cust),
                       "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
                       "c_nationkey": rng.integers(0, 25, n_cust),
                       "c_acctbal": money(-999.99, 9999.99, n_cust),
                       "c_mktsegment": segments[rng.integers(0, 5, n_cust)]},
          [("c_custkey", i64), ("c_name", s), ("c_nationkey", i32), ("c_acctbal", f64),
           ("c_mktsegment", s)])
    write("supplier", {"s_suppkey": np.arange(n_supp),
                       "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
                       "s_nationkey": rng.integers(0, 25, n_supp),
                       "s_acctbal": money(-999.99, 9999.99, n_supp)},
          [("s_suppkey", i64), ("s_name", s), ("s_nationkey", i32), ("s_acctbal", f64)])
    adjectives = np.array(["blue", "cold", "hot", "large", "new", "old", "red", "small"])
    nouns = np.array(["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"])
    ptypes = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
    write("part", {"p_partkey": np.arange(n_part),
                   "p_name": np.char.add(np.char.add(adjectives[rng.integers(0, 8, n_part)], " "),
                                         nouns[rng.integers(0, 8, n_part)]),
                   "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
                   "p_type": ptypes[rng.integers(0, 6, n_part)],
                   "p_size": rng.integers(1, 51, n_part),
                   "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10.0, 2)},
          [("p_partkey", i64), ("p_name", s), ("p_brand", s), ("p_type", s), ("p_size", i32),
           ("p_retailprice", f64)])
    priorities = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    write("orders", {"o_orderkey": np.arange(n_ord),
                     "o_custkey": rng.integers(0, n_cust, n_ord),
                     "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
                     "o_totalprice": money(1000, 500000, n_ord),
                     "o_orderdate": days("1995-01-01", 2404, n_ord),
                     "o_orderpriority": priorities[rng.integers(0, 5, n_ord)]},
          [("o_orderkey", i64), ("o_custkey", i64), ("o_orderstatus", s), ("o_totalprice", f64),
           ("o_orderdate", ts), ("o_orderpriority", s)])
    write("lineitem", {"l_orderkey": rng.integers(0, n_ord, n_line),
                       "l_partkey": rng.integers(0, n_part, n_line),
                       "l_suppkey": rng.integers(0, n_supp, n_line),
                       "l_linenumber": rng.integers(1, 8, n_line),
                       "l_quantity": rng.integers(1, 51, n_line).astype(float),
                       "l_extendedprice": money(900, 105000, n_line),
                       "l_discount": rng.integers(0, 11, n_line) / 100.0,
                       "l_tax": rng.integers(0, 9, n_line) / 100.0,
                       "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
                       "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
                       "l_shipdate": days("1995-01-02", 2498, n_line)},
          [("l_orderkey", i64), ("l_partkey", i64), ("l_suppkey", i64), ("l_linenumber", i32),
           ("l_quantity", f64), ("l_extendedprice", f64), ("l_discount", f64), ("l_tax", f64),
           ("l_returnflag", s), ("l_linestatus", s), ("l_shipdate", ts)])
    # a Poisson stream over 30 days; purchase-like values, mean 50
    gaps = rng.exponential(30 * 86400 * 10**6 / (n_evt + 1), n_evt).astype(np.int64)
    write("events", {"event_id": np.arange(n_evt),
                     "ts": np.datetime64("2024-01-01", "us") + np.cumsum(gaps).astype("timedelta64[us]"),
                     "user_id": rng.integers(0, max(15, n_evt * 3 // 200), n_evt),
                     "event_type": np.array(["click", "error", "purchase", "signup", "view"])[
                         rng.integers(0, 5, n_evt)],
                     "value": np.maximum(np.round(rng.exponential(50.0, n_evt), 2), 0.01),
                     "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)]},
          [("event_id", i64), ("ts", ts), ("user_id", i64), ("event_type", s), ("value", f64),
           ("props", s)])
    # documents: 10-99 words drawn from a 30-word vocabulary; a share of
    # them copy another document and append " dup" (now and then twice)
    words = np.array(_WORDS)
    texts = [" ".join(words[rng.integers(0, len(words), int(n))])
             for n in rng.integers(10, 100, n_doc)]
    copies = rng.choice(n_doc, size=int(n_doc * NEAR_DUP_SHARE), replace=False)
    originals = np.setdiff1d(np.arange(n_doc), copies)
    for i, j in zip(copies, rng.choice(originals, size=len(copies), replace=False)):
        texts[i] = texts[j] + " dup" * (1 + int(rng.random() < 0.05))
    langs = np.array(["en", "en", "en", "de", "es", "fr", "zh"])[rng.integers(0, 7, n_doc)]
    write("documents", {"doc_id": np.arange(n_doc), "text": texts, "lang": langs,
                        "source": [f"src{i % 20}" for i in range(n_doc)],
                        "n_chars": [len(t) for t in texts]},
          [("doc_id", i64), ("text", s), ("lang", s), ("source", s), ("n_chars", i64)])
    # embeddings: unit vectors in random directions; labels unrelated to them
    labels = rng.integers(0, 10, n_emb)
    vecs = rng.normal(size=(n_emb, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    write("embeddings", {"vec_id": np.arange(n_emb), "embedding": list(vecs), "label": labels},
          [("vec_id", i64), ("embedding", pa.list_(pa.float32())), ("label", i32)])
