"""Seeded benchmark inputs, derived from the read-only sf0.01 test tables.

The same seed always yields the same tables; graft is given only the
generated directory. Every table keeps its base row count and schema,
so the work a pass does does not depend on the seed. What the seed sets:

- key spaces: ScaleData's shift contract for copy k = 1 + seed % 8.
  Each key space moves by k x (its base max key + 1); foreign keys move
  with the key they point at; region and nation stay fixed; documents
  and embeddings share one shift (vec_id is a subset of doc_id); event
  timestamps do not move.
- measures: prices, balances, quantities, discounts and event values
  get small seeded perturbations, rounded to their base precision.
- document text: a quarter of the documents become near-duplicates of
  another document (a copy with up to three word edits), each of a
  different source document; the rest keep their text. This sets the
  near-duplicate share the dedup calls find and keeps the number of
  near-duplicate pairs the same for every seed.
- embedding vectors: seeded Gaussian noise at 8% of the base spread.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from compare import TABLES  # tools/compare.py
NEAR_DUP_SHARE = 0.25
VERSION = 3


def _shifts(t):
    def base(table, col):
        return int(np.max(t[table][col].to_numpy())) + 1
    return {"cust": base("customer", "c_custkey"), "supp": base("supplier", "s_suppkey"),
            "part": base("part", "p_partkey"), "ord": base("orders", "o_orderkey"),
            "eid": base("events", "event_id"), "user": base("events", "user_id"),
            "doc": base("documents", "doc_id")}


def _set(table, col, values):
    field = table.schema.field(col)
    return table.set_column(table.schema.get_field_index(col), field,
                            pa.array(values, type=field.type))


def _price(rng, x, spread):
    return np.round(x * (1.0 + rng.uniform(-spread, spread, len(x))), 2)


def _edit(rng, words, vocab, n):
    words = list(words)
    for _ in range(n):
        op, pos = rng.integers(0, 3), int(rng.integers(0, len(words)))
        if op == 0 or len(words) < 4:
            words[pos] = vocab[rng.integers(0, len(vocab))]
        elif op == 1:
            del words[pos]
        else:
            words.insert(pos, vocab[rng.integers(0, len(vocab))])
    return words


def _texts(rng, texts):
    docs = [t.split(" ") for t in texts]
    vocab = sorted({w for d in docs for w in d})
    order = rng.permutation(len(docs))
    n_dup = round(NEAR_DUP_SHARE * len(docs))
    # each near-duplicate copies its own source, so the pair count is fixed
    source = dict(zip(order[:n_dup].tolist(), order[n_dup:2 * n_dup].tolist()))
    out = []
    for i, words in enumerate(docs):
        if i in source:
            out.append(" ".join(_edit(rng, docs[source[i]], vocab, int(rng.integers(0, 4)))))
        else:
            out.append(" ".join(words))
    return out


def generate(base_dir, out_dir, seed):
    """Write the seed's tables to out_dir; return {table: rows}."""
    t = {n: pq.read_table(os.path.join(base_dir, f"{n}.parquet")) for n in TABLES}
    s = _shifts(t)
    k = 1 + seed % 8
    rngs = dict(zip(TABLES, (np.random.default_rng(c) for c in
                             np.random.SeedSequence(seed).spawn(len(TABLES)))))

    def shift(table, col, key):
        t[table] = _set(t[table], col, t[table][col].to_numpy() + k * s[key])

    def col(table, name):
        return t[table][name].to_numpy()

    for table, name, key in [
            ("customer", "c_custkey", "cust"), ("supplier", "s_suppkey", "supp"),
            ("part", "p_partkey", "part"), ("orders", "o_orderkey", "ord"),
            ("orders", "o_custkey", "cust"), ("lineitem", "l_orderkey", "ord"),
            ("lineitem", "l_partkey", "part"), ("lineitem", "l_suppkey", "supp"),
            ("events", "event_id", "eid"), ("events", "user_id", "user"),
            ("documents", "doc_id", "doc"), ("embeddings", "vec_id", "doc")]:
        shift(table, name, key)

    r = rngs["customer"]
    t["customer"] = _set(t["customer"], "c_acctbal",
                         np.round(col("customer", "c_acctbal") + r.normal(0, 25, t["customer"].num_rows), 2))
    r = rngs["supplier"]
    t["supplier"] = _set(t["supplier"], "s_acctbal",
                         np.round(col("supplier", "s_acctbal") + r.normal(0, 25, t["supplier"].num_rows), 2))
    t["part"] = _set(t["part"], "p_retailprice", _price(rngs["part"], col("part", "p_retailprice"), 0.02))
    t["orders"] = _set(t["orders"], "o_totalprice", _price(rngs["orders"], col("orders", "o_totalprice"), 0.02))

    r, n = rngs["lineitem"], t["lineitem"].num_rows
    t["lineitem"] = _set(t["lineitem"], "l_extendedprice", _price(r, col("lineitem", "l_extendedprice"), 0.02))
    q = col("lineitem", "l_quantity")
    t["lineitem"] = _set(t["lineitem"], "l_quantity",
                         np.clip(q + r.integers(-1, 2, n), q.min(), q.max()).astype(q.dtype))
    d = col("lineitem", "l_discount")
    nudge = np.where(r.random(n) < 0.1, r.choice([-0.01, 0.01], n), 0.0)
    t["lineitem"] = _set(t["lineitem"], "l_discount", np.round(np.clip(d + nudge, d.min(), d.max()), 2))

    v = col("events", "value")
    t["events"] = _set(t["events"], "value", np.maximum(_price(rngs["events"], v, 0.05), v.min()))

    text = _texts(rngs["documents"], t["documents"]["text"].to_pylist())
    t["documents"] = _set(t["documents"], "text", text)
    t["documents"] = _set(t["documents"], "n_chars", [len(x) for x in text])

    emb = t["embeddings"]
    vecs = np.stack(emb["embedding"].to_numpy(zero_copy_only=False)).astype(np.float64)
    vecs += rngs["embeddings"].normal(0.0, 0.08 * vecs.std(), vecs.shape)
    t["embeddings"] = _set(emb, "embedding", list(vecs.astype(np.float32)))

    os.makedirs(out_dir, exist_ok=True)
    for name, table in t.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    rows = {name: table.num_rows for name, table in t.items()}
    with open(os.path.join(out_dir, "rows.json"), "w") as f:
        json.dump({"seed": seed, "version": VERSION, "rows": rows}, f)
    return rows
