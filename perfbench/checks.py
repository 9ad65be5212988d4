"""Output checks, made apart from the program.

Each checker takes the inputs directory (what gen.py wrote) and the out
directory (what the workload dumped) and returns a list of problems; an
empty list means every output matched its independent computation.
`self_test()` feeds each checker a deliberately corrupted answer (a row
dropped, a counter off by one) and fails unless every one is rejected.
"""
import bisect
import copy
import json
import tempfile
from collections import defaultdict
from decimal import Decimal
from pathlib import Path


def lines(path):
    """JSON lines, decimals read exactly."""
    with open(path) as f:
        return [json.loads(x, parse_float=Decimal) for x in f if x.strip()]


def plan_of(inputs):
    return json.loads((Path(inputs) / "plan.json").read_text())


# ---------------------------------------------------------------- txn_objects

class TxnModel:
    """Client-side model of the (obj_id, value) table: every id's history
    of (version, value or None), built by applying the committed
    operations in the order of the versions `commit` returned."""

    def __init__(self, base_rows, base_version):
        self.hist = defaultdict(list)
        for oid, val in base_rows:
            self.hist[oid].append((base_version, val))

    def set(self, oid, v, val):
        self.hist[oid].append((v, val))

    def at(self, oid, v):
        h = self.hist.get(oid)
        if not h:
            return None
        i = bisect.bisect_right([x[0] for x in h], v) - 1
        return h[i][1] if i >= 0 else None

    def rows_at(self, ids, v):
        return sorted([oid, self.at(oid, v)] for oid in set(ids)
                      if self.at(oid, v) is not None)


def check_txn(plan, base_rows, base_version, commits, reads, head, reopen):
    problems = []
    m = TxnModel(base_rows, base_version)
    increments = 0
    last = base_version
    for c in sorted(commits, key=lambda c: c["v"]):
        v = c["v"]
        if v <= last:
            problems.append(f"version {v} returned twice or not after {last}")
        last = v
        if c["kind"] == "insert":
            for oid, val in c["ins"]:
                if m.at(oid, v - 1) is not None:
                    problems.append(f"v{v}: insert of existing id {oid}")
                m.set(oid, v, val)
        elif c["kind"] == "delete":
            for oid in c["del"]:
                if m.at(oid, v - 1) is None:
                    problems.append(f"v{v}: delete of absent id {oid}")
                m.set(oid, v, None)
        else:
            cur = m.at(c["ctr"], v - 1)
            if cur != c["seen"]:
                problems.append(f"v{v}: increment of {c['ctr']} read {c['seen']} "
                                f"but the committed value before it was {cur}")
            m.set(c["ctr"], v, c["seen"] + 1)
            increments += 1
    total = sum(m.at(k, last) or 0 for k in plan["counters"])
    if total != increments:
        problems.append(f"counter sum {total} != committed increments {increments}")
    for r in reads:
        if not any(m.rows_at(r["ids"], v) == sorted(r["rows"])
                   for v in range(r["lo"], r["hi"] + 1)):
            problems.append(f"read of {r['ids']} in versions [{r['lo']}, {r['hi']}] "
                            f"returned {r['rows']}")
            break
    all_ids = list(m.hist)
    for name, snap in (("head", head), ("reopened", reopen)):
        if snap["v"] != last:
            problems.append(f"{name} version {snap['v']} != last commit {last}")
        if sorted(snap["rows"]) != m.rows_at(all_ids, snap["v"]):
            problems.append(f"{name} rows differ from the model at v{snap['v']}")
    return problems


def txn_objects(inputs, out):
    import pyarrow.parquet as pq
    plan = plan_of(inputs)
    base = []
    for name in ("preload", "counter_rows"):
        t = pq.read_table(Path(inputs) / f"{name}.parquet").to_pydict()
        base += list(zip(t["obj_id"], t["value"]))
    head = lines(Path(out) / "txn_head.jsonl")[0]
    return check_txn(plan, base, head["base"],
                     lines(Path(out) / "txn_commits.jsonl"),
                     lines(Path(out) / "txn_reads.jsonl"), head,
                     lines(Path(out) / "txn_reopen.jsonl")[0])


# ---------------------------------------------------------------- churn_views

def _canon(v):
    """Compare numbers by value (ints, decimals and floats alike)."""
    if isinstance(v, bool) or v is None or isinstance(v, str):
        return v
    if isinstance(v, float):
        return Decimal(repr(v))
    return Decimal(v)


def same_rows(got, want):
    key = lambda r: [str(_canon(x)) for x in r]
    return sorted(map(key, got)) == sorted(map(key, want))


VIEW_SQL = {
    "sum": "SELECT l_returnflag, l_linestatus, COUNT(*), SUM(l_quantity), "
           "SUM(l_extendedprice) FROM f GROUP BY 1, 2",
    "minmax": "SELECT l_linenumber, COUNT(*), MIN(l_extendedprice), "
              "MAX(l_quantity) FROM f GROUP BY 1",
    "star": "SELECT o_orderpriority, COUNT(*), SUM(l_quantity) FROM f "
            "JOIN ord ON l_orderkey = o_orderkey GROUP BY 1",
}


def churn_model(con, inputs):
    """DuckDB model of the fact as set up, plus orders, documents and the
    batches."""
    d = Path(inputs)
    con.execute(f"CREATE OR REPLACE TABLE f AS SELECT * FROM "
                f"read_parquet('{d / 'fact.parquet'}')")
    con.execute(f"CREATE OR REPLACE TABLE f_prev AS SELECT * FROM f")
    for name, file in (("ord", "orders"), ("documents", "documents"), ("b", "batches")):
        con.execute(f"CREATE OR REPLACE VIEW {name} AS SELECT * FROM "
                    f"read_parquet('{d / (file + '.parquet')}')")
    return [c[0] for c in con.execute("DESCRIBE f").fetchall()]


def check_queries(con, queries, tag):
    """Each query's SQL, run by DuckDB on the model: `li` is the fact at
    the head (`f`) or, for a pinned version, before this round (`f_prev`)."""
    problems = []
    for q in queries:
        con.execute("CREATE OR REPLACE VIEW li AS SELECT * FROM "
                    + ("f" if q["version"] is None else "f_prev"))
        if not same_rows(q["rows"], con.execute(q["sql"]).fetchall()):
            problems.append(f"{tag}: {q['name']} differs from DuckDB: {q['sql']}")
    return problems


def check_jaccard(con, got, oracle_sql, tag):
    want = sorted((int(a), int(b), float(j)) for a, b, j in con.execute(oracle_sql).fetchall())
    got = sorted((int(a), int(b), float(j)) for a, b, j in got)
    if ([g[:2] for g in got] != [w[:2] for w in want]
            or any(abs(g[2] - w[2]) > 1.5e-4 for g, w in zip(got, want))):
        return [f"{tag}: jaccard pairs differ from the oracle "
                f"({len(got)} vs {len(want)} pairs)"]
    return []


def ann_exact(inputs, queries, k):
    """Brute-force cosine top-k (excluding the query itself)."""
    import numpy as np
    import pyarrow.parquet as pq
    t = pq.read_table(Path(inputs) / "embeddings.parquet").to_pydict()
    ids = np.array(t["obj_id"])
    v = np.array(t["v"], dtype=float)
    v = v / np.linalg.norm(v, axis=1, keepdims=True)
    out = {}
    for q in queries:
        i = int(np.where(ids == q)[0][0])
        cs = v @ v[i]
        cs[i] = -np.inf
        order = np.lexsort((ids, -cs))[:k]
        out[q] = {int(ids[j]): float(cs[j]) for j in order}
    return out


def check_ann(got, exact, k, tag, min_recall=0.9):
    """Recall@k against brute force, and every returned cosine exact."""
    found = defaultdict(dict)
    for qid, nid, cs, rank in got:
        found[int(qid)][int(nid)] = float(cs)
    problems, hits = [], 0
    for q, nn in exact.items():
        hits += len(set(found.get(q, {})) & set(nn))
        for nid, cs in found.get(q, {}).items():
            if nid in nn and abs(nn[nid] - cs) > 2e-4:
                problems.append(f"{tag}: ann cosine of ({q}, {nid}) is {cs}, "
                                f"brute force {nn[nid]}")
                break
    recall = hits / (k * len(exact))
    if recall < min_recall:
        problems.append(f"{tag}: ann recall@{k} {recall:.3f} < {min_recall}")
    return problems


def net_changes(rows):
    """Fold a change feed per obj_id into (first pre-image, last
    post-image); None stands for absent."""
    net = {}
    for r in rows:
        oid, vals, kind = r[0], tuple(_canon(x) for x in r[1:-1]), r[-1]
        pre, post = net.get(oid, ("unset", None))
        if kind in ("update_preimage", "delete"):
            net[oid] = (vals if pre == "unset" else pre, None)
        else:
            net[oid] = (None if pre == "unset" else pre, vals)
    return {k: v for k, v in net.items() if v[0] != v[1]}


def loaded_agg(con, inputs):
    """Count and sums of the fact as generated (the set-up's version)."""
    return con.execute(
        "SELECT COUNT(*), SUM(l_quantity), SUM(l_extendedprice) FROM "
        f"read_parquet('{Path(inputs) / 'fact.parquet'}')").fetchone()


def check_churn(con, cols, log, retained, at_setup, oracle_sql=None, exact=None,
                k=None):
    """Replay every round's batch on the model, then compare the change
    feed, the three views, the SQL results, the similarity answers and
    the versions still readable after the last vacuum (`at_setup`: the
    aggregates at the set-up's versions, by version)."""
    problems = []
    sel = ", ".join(cols)
    agg_sql = "SELECT COUNT(*), SUM(l_quantity), SUM(l_extendedprice) FROM f"
    agg_at = dict(at_setup)
    for c in log:
        if "maintenance" in c:
            continue
        n = c["cycle"]
        tag = f"round {n}"
        ids = f"(SELECT obj_id FROM b WHERE cycle = {n})"
        con.execute("CREATE OR REPLACE TABLE f_prev AS SELECT * FROM f")
        pre = {r[0]: tuple(_canon(x) for x in r[1:]) for r in
               con.execute(f"SELECT {sel} FROM f WHERE obj_id IN {ids}").fetchall()}
        con.execute(f"DELETE FROM f WHERE obj_id IN {ids}")
        con.execute(f"INSERT INTO f SELECT {sel} FROM b WHERE cycle = {n}")
        post = {r[0]: tuple(_canon(x) for x in r[1:]) for r in
                con.execute(f"SELECT {sel} FROM b WHERE cycle = {n}").fetchall()}
        want = {k_: (pre.get(k_), post[k_]) for k_ in post if pre.get(k_) != post[k_]}
        if net_changes(c["cdf"]) != want:
            problems.append(f"{tag}: change feed ({c['cdf_from']}, {c['cdf_to']}] "
                            f"netted per obj_id differs from the snapshot diff")
        for name, sql in VIEW_SQL.items():
            if c["refreshed"][name] != c["merge_v"]:
                problems.append(f"{tag}: view {name} refreshed to "
                                f"v{c['refreshed'][name]}, head was v{c['merge_v']}")
            if not same_rows(c["views"][name]["rows"], con.execute(sql).fetchall()):
                problems.append(f"{tag}: view {name} differs from the aggregate "
                                f"recomputed at v{c['merge_v']}")
        problems += check_queries(con, c.get("queries", []), tag)
        if "jaccard" in c:
            problems += check_jaccard(con, c["jaccard"], oracle_sql, tag)
        if "ann" in c:
            problems += check_ann(c["ann"], exact, k, tag)
        agg_at[c["merge_v"]] = con.execute(agg_sql).fetchone()
    for r in retained:
        earlier = [v for v in agg_at if v <= r["v"]]
        want = agg_at[max(earlier)] if earlier else None
        if want is None or not same_rows([r["agg"]], [want]):
            problems.append(f"retained version v{r['v']} reads {r['agg']}, "
                            f"expected {want}")
    return problems


def churn_views(inputs, out):
    import duckdb
    plan = plan_of(inputs)
    con = duckdb.connect()
    cols = churn_model(con, inputs)
    meta = lines(Path(out) / "churn_meta.jsonl")[0]
    exact = ann_exact(inputs, range(plan["ann_queries"]), plan["topk"])
    return check_churn(con, cols, lines(Path(out) / "churn_log.jsonl"),
                       lines(Path(out) / "churn_retained.jsonl"),
                       {meta["loaded_version"]: loaded_agg(con, inputs)},
                       meta["jaccard_oracle"], exact, plan["topk"])


CHECKERS = {"txn_objects": txn_objects, "churn_views": churn_views}


def check(workload, inputs, out):
    try:
        return CHECKERS[workload](inputs, out)
    except Exception as e:  # a missing or malformed dump is a failed check
        return [f"checker error: {type(e).__name__}: {e}"]


# ------------------------------------------------------------------ self-test

def _txn_case():
    plan = {"counters": [100, 101]}
    base = [(1, 10), (2, 20), (100, 0), (101, 0)]
    commits = [
        {"v": 3, "kind": "insert", "ins": [[5, 50]], "del": [], "ctr": -1, "seen": -1},
        {"v": 4, "kind": "increment", "ins": [], "del": [], "ctr": 100, "seen": 0},
        {"v": 5, "kind": "delete", "ins": [], "del": [1], "ctr": -1, "seen": -1},
        {"v": 6, "kind": "increment", "ins": [], "del": [], "ctr": 100, "seen": 1},
    ]
    reads = [{"lo": 3, "hi": 4, "ids": [1, 5], "rows": [[1, 10], [5, 50]]},
             {"lo": 6, "hi": 6, "ids": [100, 2], "rows": [[2, 20], [100, 2]]}]
    head_rows = [[2, 20], [5, 50], [100, 2], [101, 0]]
    head = {"v": 6, "rows": head_rows}
    return plan, base, 2, commits, reads, head, dict(head)


def _tiny_inputs(d):
    """Small seeded inputs in the generator's own shapes."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq
    import gen
    rng = np.random.default_rng(7)
    pq.write_table(pa.table(gen.lineitem(rng, 400, orders=100)), d / "fact.parquet")
    pq.write_table(pa.table(gen.orders(rng, 100)), d / "orders.parquet")
    pq.write_table(pa.table(gen.documents(rng, 40)), d / "documents.parquet")
    pq.write_table(pa.table(gen.embeddings(rng, 60, 8, 4)), d / "embeddings.parquet")
    batches, _ = gen.churn_batches(rng, 400, 3, 20, 0.7, 100)
    pq.write_table(batches, d / "batches.parquet")
    (d / "plan.json").write_text("{}")


def _query_case(con):
    """Correct answers to one round's SQL, computed on the model."""
    queries = []
    for name, sql, version in [
            ("full", f"SELECT l_returnflag, l_linestatus, {AGG} FROM li GROUP BY 1, 2", None),
            ("range", f"SELECT {AGG} FROM li WHERE obj_id BETWEEN 0 AND 99", None),
            ("point", "SELECT obj_id, l_partkey, l_quantity FROM li WHERE obj_id < 4", None),
            ("join_pinned", f"SELECT o_orderpriority, {AGG} FROM li JOIN ord "
                            "ON l_orderkey = o_orderkey GROUP BY 1", 1)]:
        con.execute("CREATE OR REPLACE VIEW li AS SELECT * FROM "
                    + ("f" if version is None else "f_prev"))
        queries.append(dict(name=name, sql=sql, version=version,
                            rows=[list(r) for r in con.execute(sql).fetchall()]))
    return queries


AGG = "COUNT(*) AS n, SUM(l_quantity) AS q, SUM(l_extendedprice) AS p"


def _churn_case(d):
    """A correct churn log, built by applying each batch in order."""
    import duckdb
    con = duckdb.connect()
    cols = churn_model(con, d)
    sel = ", ".join(cols)
    log, aggs = [], {}
    for n in range(3):
        v = 4 + n
        pre = con.execute(f"SELECT {sel} FROM f WHERE obj_id IN "
                          f"(SELECT obj_id FROM b WHERE cycle = {n})").fetchall()
        con.execute(f"DELETE FROM f WHERE obj_id IN (SELECT obj_id FROM b WHERE cycle = {n})")
        con.execute(f"INSERT INTO f SELECT {sel} FROM b WHERE cycle = {n}")
        post = con.execute(f"SELECT {sel} FROM b WHERE cycle = {n}").fetchall()
        old = {r[0] for r in pre}
        cdf = ([list(r) + ["update_preimage"] for r in pre]
               + [list(r) + ["update_postimage" if r[0] in old else "insert"] for r in post])
        views = {k: {"rows": [list(r) for r in con.execute(q).fetchall()]}
                 for k, q in VIEW_SQL.items()}
        log.append(dict(cycle=n, merge_v=v, cdf_from=v - 1, cdf_to=v, cdf=cdf,
                        refreshed={k: v for k in VIEW_SQL}, views=views))
        log.append(dict(maintenance=n + 1, compacted=1, removed=0, head=v))
        aggs[v] = list(con.execute("SELECT COUNT(*), SUM(l_quantity), "
                                   "SUM(l_extendedprice) FROM f").fetchone())
    loaded = con.execute(f"SELECT COUNT(*), SUM(l_quantity), SUM(l_extendedprice) "
                         f"FROM read_parquet('{d / 'fact.parquet'}')").fetchone()
    retained = [dict(v=1, agg=list(loaded))] + [
        dict(v=v, agg=a) for v, a in aggs.items() if v >= 5]
    return log, retained


def _bump(row, i):
    row[i] = row[i] + 1


def self_test():
    """Every checker must accept a correct answer and reject each
    deliberately corrupted one."""
    import duckdb
    failures = []
    cases = 0

    def expect(name, problems, rejected):
        nonlocal cases
        cases += 1
        if bool(problems) != rejected:
            failures.append(f"{name}: " + ("not rejected" if rejected else
                                           f"correct answer rejected: {problems[:2]}"))

    expect("txn: correct", check_txn(*_txn_case()), False)
    txn_corruptions = {
        "txn: head row dropped": lambda c: c[5].update(rows=c[5]["rows"][1:]),
        "txn: reopened row dropped": lambda c: c[6].update(rows=c[6]["rows"][:-1]),
        "txn: read row dropped": lambda c: c[4][0].update(rows=c[4][0]["rows"][1:]),
        "txn: counter off by one": lambda c: (
            c[5].update(rows=[[2, 20], [5, 50], [100, 3], [101, 0]]),
            c[6].update(rows=[[2, 20], [5, 50], [100, 3], [101, 0]])),
        "txn: lost increment": lambda c: c[3].__setitem__(3, dict(c[3][3], seen=0)),
    }
    for name, corrupt in txn_corruptions.items():
        case = list(_txn_case())
        corrupt(case)
        expect(name, check_txn(*case), True)

    with tempfile.TemporaryDirectory() as tmp:
        d = Path(tmp)
        _tiny_inputs(d)
        con = duckdb.connect()
        churn_model(con, d)
        con.execute("DELETE FROM f WHERE obj_id % 5 = 0")  # f_prev stays older
        queries = _query_case(con)
        oracle = "SELECT 1 AS doc_lo, 2 AS doc_hi, 0.5 AS jac"
        exact = ann_exact(d, range(5), 3)
        ann = [[q, n, cs, i + 1] for q, nn in exact.items()
               for i, (n, cs) in enumerate(nn.items())]

        def reads(qs=queries, jac=((1, 2, 0.5),), an=ann):
            return (check_queries(con, qs, "t") + check_jaccard(con, jac, oracle, "t")
                    + check_ann(an, exact, 3, "t"))
        expect("reads: correct", reads(), False)
        read_corruptions = {
            "reads: grouped row dropped": lambda q: q[0]["rows"].pop(),
            "reads: range count off by one": lambda q: _bump(q[1]["rows"][0], 0),
            "reads: point row dropped": lambda q: q[2]["rows"].pop(),
            "reads: pinned join row dropped": lambda q: q[3]["rows"].pop(),
        }
        for name, corrupt in read_corruptions.items():
            qs = copy.deepcopy(queries)
            corrupt(qs)
            expect(name, reads(qs=qs), True)
        expect("reads: jaccard pair dropped", reads(jac=()), True)
        expect("reads: ann neighbours wrong",
               reads(an=[[q, n + 1000, cs, r] for q, n, cs, r in ann]), True)
        expect("reads: ann cosine off",
               reads(an=[[q, n, cs + 0.01, r] for q, n, cs, r in ann]), True)

        log, retained = _churn_case(d)

        def churn(lg, ret):
            con = duckdb.connect()
            return check_churn(con, churn_model(con, d), lg, ret,
                               {1: loaded_agg(con, d)})
        expect("churn: correct", churn(log, retained), False)
        churn_corruptions = {
            "churn: view row dropped": lambda lg, r: lg[2]["views"]["sum"]["rows"].pop(),
            "churn: view count off by one":
                lambda lg, r: _bump(lg[4]["views"]["star"]["rows"][0], 1),
            "churn: minmax row dropped": lambda lg, r: lg[0]["views"]["minmax"]["rows"].pop(),
            "churn: change row dropped": lambda lg, r: lg[2]["cdf"].pop(),
            "churn: retained count off by one": lambda lg, r: _bump(r[1]["agg"], 0),
            "churn: loaded version count off by one": lambda lg, r: _bump(r[0]["agg"], 0),
        }
        for name, corrupt in churn_corruptions.items():
            lg, ret = copy.deepcopy(log), copy.deepcopy(retained)
            corrupt(lg, ret)
            expect(name, churn(lg, ret), True)

    for f in failures:
        print("SELF-TEST FAILED:", f)
    print(f"self-test: {cases} cases, {len(failures)} failed")
    return 1 if failures else 0
