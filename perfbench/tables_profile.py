"""Profile of a directory of headline tables, to compare the tables
``gen.write_tables`` writes with another set of the same schema.

    python3 perfbench/tables_profile.py DIR [OTHER_DIR]

Run from the root of a checkout. With two directories it prints each
figure side by side with the ratio OTHER/DIR. The figures are the row
counts; per column the distinct count, and min / max / mean of numeric
columns; the statistics the headline queries are sensitive to (document
length and vocabulary, near-duplicate structure, event gaps, fan-outs,
embedding neighbourhoods); and the number of rows each headline query's
DuckDB oracle (``__spark_entry__.oracle_sql()``) returns.
"""

from __future__ import annotations

import os
import sys

TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem",
          "events", "documents", "embeddings")


def profile(d: str) -> dict[str, object]:
    import duckdb
    import numpy as np

    import __spark_entry__ as entry
    from bench import HEADLINE

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{d}/{t}.parquet'")
    out: dict[str, object] = {}

    def one(sql: str):
        return con.execute(sql).fetchone()[0]

    for t in TABLES:
        out[f"{t}.rows"] = one(f"SELECT count(*) FROM {t}")
        for col, typ, lo, hi, distinct, avg in con.execute(
                f"SELECT column_name, column_type, min, max, approx_unique, avg "
                f"FROM (SUMMARIZE {t})").fetchall():
            out[f"{t}.{col}.distinct"] = distinct
            if typ in ("INTEGER", "BIGINT", "DOUBLE"):
                out[f"{t}.{col}.min"], out[f"{t}.{col}.max"] = float(lo), float(hi)
                out[f"{t}.{col}.mean"] = float(avg)
            elif typ == "TIMESTAMP":
                out[f"{t}.{col}.min"], out[f"{t}.{col}.max"] = lo[:10], hi[:10]

    out["orders.per_customer.max"] = one(
        "SELECT max(c) FROM (SELECT count(*) c FROM orders GROUP BY o_custkey)")
    out["lineitem.orders_with_lines"] = one("SELECT count(DISTINCT l_orderkey) FROM lineitem")
    out["events.per_user.max"] = one(
        "SELECT max(c) FROM (SELECT count(*) c FROM events GROUP BY user_id)")
    gaps = con.execute(
        "SELECT quantile_cont(g, [0.1, 0.5, 0.9]) FROM (SELECT epoch(ts) - epoch(lag(ts) OVER "
        "(ORDER BY ts)) g FROM events)").fetchone()[0]
    out["events.gap_s.p10"], out["events.gap_s.p50"], out["events.gap_s.p90"] = gaps
    out["events.value.median"] = one("SELECT median(value) FROM events")

    texts = [r[0] for r in con.execute("SELECT text FROM documents ORDER BY doc_id").fetchall()]
    words = [t.split() for t in texts]
    out["documents.words.min"] = min(map(len, words))
    out["documents.words.mean"] = float(np.mean([len(w) for w in words]))
    out["documents.words.max"] = max(map(len, words))
    out["documents.vocabulary"] = len({w for ws in words for w in ws})
    out["documents.exact_copies"] = len(texts) - len(set(texts))

    vecs = np.array([r[0] for r in con.execute(
        "SELECT embedding FROM embeddings ORDER BY vec_id").fetchall()], dtype=np.float64)
    labels = np.array([r[0] for r in con.execute(
        "SELECT label FROM embeddings ORDER BY vec_id").fetchall()])
    cos = vecs @ vecs.T / np.outer(np.linalg.norm(vecs, axis=1), np.linalg.norm(vecs, axis=1))
    np.fill_diagonal(cos, -2.0)
    top5 = np.argsort(-cos, axis=1)[:, :5]
    out["embeddings.dim"] = vecs.shape[1]
    out["embeddings.top1_cos.mean"] = float(cos.max(axis=1).mean())
    out["embeddings.top5_same_label_share"] = float((labels[top5] == labels[:, None]).mean())

    oracles = entry.oracle_sql()
    for name in HEADLINE:
        out[f"q.{name}.rows"] = one(f"SELECT count(*) FROM ({oracles[name]})")
    con.close()
    return out


def main() -> int:
    if len(sys.argv) not in (2, 3):
        print(__doc__, file=sys.stderr)
        return 2
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, root)
    profiles = [profile(os.path.abspath(d)) for d in sys.argv[1:]]
    for key in profiles[0]:
        vals = [p.get(key) for p in profiles]
        line = f"{key:<40}" + "".join(
            f" {v:>14.6g}" if isinstance(v, (int, float)) else f" {v!s:>14}" for v in vals)
        if len(vals) == 2 and all(isinstance(v, (int, float)) for v in vals) and vals[0]:
            line += f" {vals[1] / vals[0]:>8.3f}"
        print(line)
    return 0


if __name__ == "__main__":
    sys.exit(main())
