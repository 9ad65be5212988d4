"""Seeded input generation.  Every input a workload feeds the program is
made here from the seed alone and written as plain Parquet (pyarrow) plus
a `plan.json` of the parameters; the JVM side reads them and hands the
program DataFrames.  The checkers read the same files."""
import decimal
import json

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# sizes, relative to the program's own limits (see README):
# manifest cache 128 entries, checkpointInterval 10, fastPathRows 64,
# checkpointInlineFiles 4096
TXN = dict(preload=4096, counters=8, writers=3,
           writer_round=["insert", "increment", "insert", "delete"],
           reader_ops_per_round=10, insert_id_base=10_000_000, setups=3,
           history_commits=140)
LINEITEM_ROWS = 40_000
ORDERS_ROWS = 10_000
LINES_PER_ORDER = 4
DOCS = 500
EMB = 500
EMB_DIM = 16


PRICE = pa.decimal128(12, 2)


def _write(path, table):
    pq.write_table(pa.table(table), path)


def txn_objects(rng, d):
    p = TXN["preload"]
    ids = np.arange(p, dtype=np.int64)
    _write(d / "preload.parquet",
           {"obj_id": ids, "value": rng.integers(0, 1_000_000, p, dtype=np.int64)})
    counters = np.arange(900_000, 900_000 + TXN["counters"], dtype=np.int64)
    _write(d / "counter_rows.parquet",
           {"obj_id": counters, "value": np.zeros(len(counters), dtype=np.int64)})
    plan = dict(TXN, counters=counters.tolist())
    w = TXN["writers"]
    for c in range(w):
        own = ids[ids % w == c]
        plan[f"deletable_{c}"] = rng.permutation(own).tolist()
    base = TXN["insert_id_base"]
    inserted = [base * (c + 1) + 1 + i for c in range(w) for i in range(200)]
    plan["read_ids"] = (rng.choice(ids, 256, replace=False).tolist()
                        + counters.tolist() + inserted[::4])
    return plan


def lineitem(rng, n, first_id=0, orders=ORDERS_ROWS):
    """A lineitem-shaped fact: `obj_id` is the clustered key (rows arrive
    in obj_id order), `l_orderkey` follows it, `l_partkey` is uniform
    (min/max cannot prune it; the bloom can)."""
    obj = np.arange(first_id, first_id + n, dtype=np.int64)
    return {
        "obj_id": obj,
        "l_orderkey": np.minimum(obj // LINES_PER_ORDER, orders - 1),
        "l_partkey": rng.integers(1, 200_001, n, dtype=np.int64),
        "l_linenumber": (obj % 7 + 1).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n, dtype=np.int64),
        "l_extendedprice": pa.array(
            [decimal.Decimal(int(c)).scaleb(-2)
             for c in rng.integers(100, 10_000_000, n)], type=PRICE),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_returnflag": rng.choice(np.array(["A", "N", "R"]), n),
        "l_linestatus": rng.choice(np.array(["F", "O"]), n),
    }


def orders(rng, n=ORDERS_ROWS):
    k = np.arange(n, dtype=np.int64)
    return {
        "obj_id": k,
        "o_orderkey": k,
        "o_custkey": rng.integers(1, 15_001, n, dtype=np.int64),
        "o_totalprice": rng.integers(100, 50_000_000, n) / 100.0,
        "o_orderpriority": rng.choice(np.array(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]), n),
    }


def documents(rng, n=DOCS):
    """Word texts over a small vocabulary; a fifth of the documents are
    near-copies of an earlier one (a few words changed), so the exact
    jaccard join has real pairs to find."""
    vocab = np.array(("batch part spark line column order small sort fast value "
                      "scan a hash slow group agg filter query big key window row "
                      "table stream merge data vector join index plan cost page "
                      "tree log disk cache lock").split())
    texts = []
    for i in range(n):
        if i > 10 and rng.random() < 0.2:
            words = texts[int(rng.integers(0, i))].split()
            for _ in range(int(rng.integers(1, 4))):
                words[int(rng.integers(0, len(words)))] = str(rng.choice(vocab))
        else:
            words = rng.choice(vocab, int(rng.integers(8, 60))).tolist()
        texts.append(" ".join(words))
    return {"obj_id": np.arange(n, dtype=np.int64),
            "doc_id": np.arange(n, dtype=np.int64), "text": texts}


def embeddings(rng, n=EMB, dim=EMB_DIM, clusters=8):
    centers = rng.normal(size=(clusters, dim))
    lab = rng.integers(0, clusters, n)
    v = centers[lab] + 0.35 * rng.normal(size=(n, dim))
    return {"obj_id": np.arange(n, dtype=np.int64),
            "v": pa.array(v.round(4).tolist(), type=pa.list_(pa.float64()))}


def churn_batches(rng, n_base, cycles, rows, update_share, window):
    """Per cycle: `rows` MERGE source rows, `update_share` of them updates
    of distinct existing ids inside one random window of `window`
    consecutive ids (recent-data churn: the CoW rewrite touches a file or
    two), the rest inserts of new ids appended after the current end."""
    out, sizes = [], []
    n = n_base
    for c in range(cycles):
        nu = int(rows * update_share)
        lo = int(rng.integers(0, n - window))
        upd = lo + rng.choice(window, nu, replace=False)
        new = np.arange(n, n + rows - nu, dtype=np.int64)
        n += rows - nu
        b = lineitem(rng, rows)
        b["obj_id"] = np.concatenate([upd, new]).astype(np.int64)
        b["l_orderkey"] = rng.integers(0, ORDERS_ROWS, rows, dtype=np.int64)
        b["l_linenumber"] = (b["obj_id"] % 7 + 1).astype(np.int32)
        b["cycle"] = np.full(rows, c, dtype=np.int32)
        out.append(pa.table(b))
        # bytes the user hands over: 8 per number, the text's length
        sizes.append(rows * (8 * 6 + 4 + 2))
    return pa.concat_tables(out), sizes


def churn_views(rng, d):
    li = lineitem(rng, LINEITEM_ROWS)
    _write(d / "fact.parquet", li)
    _write(d / "orders.parquet", orders(rng))
    _write(d / "documents.parquet", documents(rng))
    _write(d / "embeddings.parquet", embeddings(rng))
    probe = li["l_partkey"][::997][:64].tolist()
    plan = dict(setups=3, files=4, batch_rows=500, update_share=0.7,
                retain_versions=2, max_cycles=64, fact_rows=LINEITEM_ROWS,
                probe_partkeys=probe,
                lookups_per_round=4, ivf_cells=8, ivf_probe=3, topk=10,
                ann_queries=40, emb_dim=EMB_DIM, jaccard_tau=0.5)
    batches, sizes = churn_batches(rng, LINEITEM_ROWS, plan["max_cycles"],
                                   plan["batch_rows"], plan["update_share"], 2000)
    pq.write_table(batches, d / "batches.parquet")
    plan["batch_bytes"] = sizes
    return plan


WORKLOADS = {"txn_objects": txn_objects, "churn_views": churn_views}


def generate(workload, seed, d):
    rng = np.random.default_rng(seed)
    d.mkdir(parents=True, exist_ok=True)
    plan = WORKLOADS[workload](rng, d)
    plan["seed"] = seed
    (d / "plan.json").write_text(json.dumps(plan))
    return plan
