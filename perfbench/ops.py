"""Seeded op lists and their expected answers.

Everything here is computed from the corpus with DuckDB, independently
of the program's store, expression compiler and engine. `generate`
returns the op list for one (workload, seed); `check` walks the records
the client wrote and marks each op correct or not.
"""
import hashlib
import json
import pickle
import random
from pathlib import Path

import duckdb

BUCKETS = 64
# Lineitem edges are stored for orders below this key: with the star
# triples that is 256k triples. Sync and insert cost about the same at
# 0.44 M; the smaller store keeps compaction and traversals inside the
# run budget (see README.md).
LI_ORDERS = 5_000
# One insert batch: 800 novel triples (200 subjects x 4 predicates), 200
# already stored (19%), 50 in-batch duplicates of novel ones. Signing
# costs ~2.6 ms a triple on 4 cores: a 10k batch takes ~31 s, which does
# not fit a run.
BATCH_NOVEL_SUBJECTS = 200
BATCH_STORED, BATCH_DUPS = 200, 50
# The peer holds the store minus the slice D1 plus this fixed delta; it
# is part of the cached peer, so no run pays for inserting it.
PEER_DELTA = [[f"p:{j}", "p:a", f"p:v{j}"] for j in range(500)]

# One cycle of the triple workload. A run's window holds whole cycles
# and a standard run holds one, so the cycle carries every op kind and
# every template: the six scan templates, the four traversal templates
# and the six lookup widths each occur once per cycle, in the order of
# their lists. The seed picks parameters. The kind counts are not a
# measured traffic mix: every end-to-end metric is built from per-kind
# medians, so they set sample counts, not weights.
TRIPLE_CYCLE = ["lookup", "insert", "ryw", "scan", "lookup", "traverse", "scan",
                "sync", "lookup", "scan", "traverse", "ryw", "scan", "lookup",
                "compact", "traverse", "scan", "lookup", "scan", "traverse", "lookup"]
LOOKUP_WIDTHS = [1, 4, 1, 8, 1, 2]
SCAN_TEMPLATES = [0, 5, 1, 3, 2, 4]
TRAVERSE_TEMPLATES = [0, 2, 1, 3]
# Kinds that leave the store unchanged; a traced run executes each of
# them twice, traced and untraced, for the tracing overhead.
TRIPLE_READS = ("lookup", "ryw", "scan", "traverse")

# Registry queries of the analytics workload, one or more per layer:
# construction-heavy star joins (api), GraphX (graph), and the dedup,
# text and statistics operator families (ops). A similarity query
# (sim_tfidf_sparse, ~2.3 s) would not fit the run budget.
ANALYTICS = ["join_regional_revenue", "events_top_paths", "stats_mann_kendall",
             "text_bpe_fertility", "dedup_simhash", "graph_cc_sizes", "graph_2hop"]

STAR_SQL = """
SELECT 'cust:' || c_custkey AS subj, 'name' AS pred, c_name AS obj FROM customer
UNION ALL SELECT 'cust:' || c_custkey, 'mktsegment', c_mktsegment FROM customer
UNION ALL SELECT 'cust:' || c_custkey, 'nation', 'nation:' || c_nationkey FROM customer
UNION ALL SELECT 'nation:' || n_nationkey, 'name', n_name FROM nation
UNION ALL SELECT 'nation:' || n_nationkey, 'region', 'region:' || n_regionkey FROM nation
UNION ALL SELECT 'region:' || r_regionkey, 'name', r_name FROM region
UNION ALL SELECT 'order:' || o_orderkey, 'customer', 'cust:' || o_custkey FROM orders
UNION ALL SELECT 'supp:' || s_suppkey, 'nation', 'nation:' || s_nationkey FROM supplier
UNION ALL SELECT 'li:' || l_orderkey || '-' || l_linenumber, 'order', 'order:' || l_orderkey
  FROM lineitem WHERE l_orderkey < {li}
UNION ALL SELECT 'li:' || l_orderkey || '-' || l_linenumber, 'part', 'part:' || l_partkey
  FROM lineitem WHERE l_orderkey < {li}
UNION ALL SELECT 'li:' || l_orderkey || '-' || l_linenumber, 'supp', 'supp:' || l_suppkey
  FROM lineitem WHERE l_orderkey < {li}
"""

MOD64 = 1 << 64


def row_hash(s, p, o):
    return int(hashlib.md5(f"{s}\x1f{p}\x1f{o}".encode()).hexdigest()[:16], 16)


def digest(rows):
    return sum(row_hash(*r) for r in rows) % MOD64


def op_list_hash(header, ops):
    h = hashlib.sha256()
    for x in [header] + ops:
        h.update(json.dumps(x, sort_keys=True).encode())
    return h.hexdigest()[:16]


class Corpus:
    """DuckDB views over the corpus plus the store's base triple set."""

    def __init__(self, corpus_dir, with_triples):
        self.con = duckdb.connect()
        self.con.execute("SET threads TO 2")
        for t in ("region nation customer supplier part orders lineitem "
                  "events documents embeddings").split():
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                             f"read_parquet('{Path(corpus_dir) / (t + '.parquet')}')")
        if with_triples:
            self.con.execute("CREATE TABLE triples AS " + STAR_SQL.format(li=LI_ORDERS))

    def rows(self, sql, *params):
        return self.con.execute(sql, list(params)).fetchall()


def base_stats(c):
    """(count, digest) of the base triple set, via DuckDB md5."""
    n, total = c.rows("SELECT count(*), sum(('0x' || substr(md5(subj || chr(31) || pred "
                      "|| chr(31) || obj), 1, 16))::UBIGINT::HUGEINT) FROM triples")[0]
    return n, int(total) % MOD64


def d1_rows(c):
    return c.rows("""SELECT subj, pred, obj FROM triples WHERE
        (subj LIKE 'cust:%' AND TRY_CAST(substr(subj, 6) AS BIGINT) % 50 = 0) OR
        (subj LIKE 'order:%' AND TRY_CAST(substr(subj, 7) AS BIGINT) % 500 = 0)""")


# ---------------------------------------------------------------- triple

def _subjects(c, rnd, n):
    """Distinct store subjects, drawn without replacement across kinds."""
    subs = [r[0] for r in c.rows(
        "SELECT subj FROM (SELECT DISTINCT subj FROM triples) "
        "ORDER BY hash(subj || ?::VARCHAR) LIMIT ?", str(rnd.random()), n)]
    return subs


def generate_triple(c, seed, n_cycles=4):
    rnd = random.Random(seed)
    n_cust = c.rows("SELECT count(*) FROM customer")[0][0]
    n_part = c.rows("SELECT count(*) FROM part")[0][0]
    n_supp = c.rows("SELECT count(*) FROM supplier")[0][0]
    segments = [r[0] for r in c.rows("SELECT DISTINCT c_mktsegment FROM customer ORDER BY 1")]
    subj_pool = _subjects(c, rnd, 2000)
    li_orders = [r[0] for r in c.rows(
        "SELECT DISTINCT l_orderkey FROM lineitem WHERE l_orderkey < ? "
        "ORDER BY hash(l_orderkey + ?) LIMIT 400", LI_ORDERS, rnd.randrange(1 << 30))]
    base_sample = c.rows("SELECT subj, pred, obj FROM triples "
                         "ORDER BY hash(subj || pred || ?::VARCHAR) LIMIT ?",
                         str(seed), BATCH_STORED * n_cycles)
    draws = {"subj": iter(subj_pool), "cust": iter(rnd.sample(range(n_cust), 400)),
             "part": iter(rnd.sample(range(n_part), 400)),
             "nation": iter(rnd.sample(range(25), 25) * 16),
             "supp": iter(rnd.sample(range(n_supp), min(n_supp, 400))),
             "li": iter(li_orders), "base": iter(base_sample)}
    ops, last_batch = [], None
    # Sync direction: odd seeds pull from the peer, even seeds push to it,
    # so a set of runs over consecutive seeds measures both.
    direction = "pull" if seed % 2 else "push"

    counts = {"lookup": 0, "scan": 0, "traverse": 0}

    def nth(kind, seq):
        counts[kind] += 1
        return seq[(counts[kind] - 1) % len(seq)]

    def lookup():
        n = nth("lookup", LOOKUP_WIDTHS)
        return {"kind": "lookup",
                "json": json.dumps([{"subj": next(draws["subj"])} for _ in range(n)])}

    def scan():
        t = nth("scan", SCAN_TEMPLATES)
        if t == 0:
            op = {"mode": "and", "triples": [dict(pred="nation", obj=f"nation:{next(draws['nation'])}")]}
            return {"kind": "scan", "op": op, "mode": "rows"}
        if t == 1:
            segs = rnd.sample(segments, 2)
            op = {"mode": "or", "args": [{"mode": "and", "triples": [dict(pred="mktsegment", obj=s)]}
                                         for s in segs]}
            return {"kind": "scan", "op": op, "mode": "count"}
        if t == 2:
            op = {"mode": "and", "triples": [dict(pred="customer", obj=f"cust:{next(draws['cust'])}")]}
            return {"kind": "scan", "op": op, "mode": "rows"}
        if t == 3:
            op = {"mode": "or", "triples": [dict(pred="part", obj=f"part:{next(draws['part'])}"),
                                            dict(pred="supp", obj=f"supp:{next(draws['supp'])}")]}
            return {"kind": "scan", "op": op, "mode": "rows"}
        if t == 4:
            op = {"mode": "and", "triples": [dict(pred="nation")],
                  "args": [{"mode": "not", "triples": [dict(obj=f"nation:{next(draws['nation'])}")]}]}
            return {"kind": "scan", "op": op, "mode": "limit", "limit": 25}
        op = {"mode": "and", "triples": [dict(pred="name")],
              "args": [{"mode": "not", "args": [{"mode": "or", "triples": [
                  dict(obj=f"NATION_{next(draws['nation'])}"), dict(obj=f"Customer#{next(draws['cust']):09d}")]}]}]}
        return {"kind": "scan", "op": op, "mode": "count"}

    def traverse():
        t = nth("traverse", TRAVERSE_TEMPLATES)
        if t == 0:
            steps = [[{"subj": f"order:{next(draws['li'])}"}], [{"pred": "nation"}], [{"pred": "name"}]]
        elif t == 1:
            o = next(draws["li"])
            steps = [[{"subj": f"li:{o}-1"}], [{"pred": "customer"}]]
        elif t == 2:
            steps = [[{"pred": "customer", "obj": f"cust:{next(draws['cust'])}"}],
                     [{"pred": "nation"}], [{"pred": "region"}]]
        else:
            steps = [[{"pred": "nation", "obj": f"nation:{next(draws['nation'])}"}],
                     [{"pred": "region"}]]
        return {"kind": "traverse", "steps": [json.dumps(s) for s in steps]}

    def insert(k):
        nonlocal last_batch
        novel = [(f"w:{seed}:{k}:{j}", f"w:a{a}", f"w:v{rnd.randrange(10**6)}")
                 for j in range(BATCH_NOVEL_SUBJECTS) for a in range(4)]
        stored = [next(draws["base"]) for _ in range(BATCH_STORED)]
        batch = novel + stored + rnd.sample(novel, BATCH_DUPS)
        rnd.shuffle(batch)
        last_batch = novel
        return {"kind": "insert", "triples": [list(t) for t in batch], "novel": len(novel)}

    def ryw():
        subs = sorted({t[0] for t in last_batch})
        pick = rnd.sample(subs, rnd.choice([1, 2]))
        return {"kind": "ryw", "json": json.dumps([{"subj": s} for s in pick])}

    make = {"lookup": lookup, "scan": scan, "traverse": traverse, "ryw": ryw,
            "sync": lambda: {"kind": "sync", "dir": direction},
            "compact": lambda: {"kind": "compact"}}
    # The set-up's lookups warm the JVM; the run budget leaves no room for
    # warm-up scans and traversals, so the first of each in the window
    # carries its JIT cost into that kind's median.
    first_op = lookup()
    n_insert = 0
    for _ in range(n_cycles):
        for k in counts:
            counts[k] = 0
        for kind in TRIPLE_CYCLE:
            if kind == "insert":
                ops.append(insert(n_insert))
                n_insert += 1
            else:
                ops.append(make[kind]())
    for i, op in enumerate(ops):
        op["id"] = i
    header = {"workload": "triple", "seed": seed, "buckets": BUCKETS, "li_orders": LI_ORDERS,
              "peer_delta": PEER_DELTA, "first_op": first_op, "warmup": [],
              "cycle": len(TRIPLE_CYCLE), "repeatable": list(TRIPLE_READS)}
    return header, ops


def _answer(c, op):
    """Expected (subj, pred, obj) rows of a read op on the base triples."""
    def where(node):
        parts = []
        for p in node.get("triples", []):
            conj = [f"{k} = '{v}'" for k, v in p.items() if v]
            parts.append("(" + (" AND ".join(conj) or "TRUE") + ")")
        parts += [where(a) for a in node.get("args", [])]
        if node["mode"] == "not":
            return f"(NOT {parts[0]})"
        joiner = " AND " if node["mode"] == "and" else " OR "
        return "(" + (joiner.join(parts) or "TRUE") + ")"

    def json_where(js):
        return where({"mode": "or", "triples": json.loads(js)})

    if op["kind"] in ("lookup", "scan"):
        cond = json_where(op["json"]) if op["kind"] == "lookup" else where(op["op"])
        return c.rows(f"SELECT subj, pred, obj FROM triples WHERE {cond}")
    steps = [json_where(s) for s in op["steps"]]
    sql = f"SELECT subj, pred, obj FROM triples WHERE {steps[0]}"
    for s in steps[1:]:
        sql = (f"SELECT subj, pred, obj FROM triples WHERE {s} AND subj IN "
               f"(SELECT obj FROM ({sql}))")
    return c.rows(sql)


def check_triple(c, header, ops, records, base):
    """Mark each record ok/not ok; return per-op notes for the sidecar."""
    base_n, base_d = base
    d1 = set(d1_rows(c))
    s_extra, p_extra, p_missing = set(), {tuple(t) for t in header["peer_delta"]}, set(d1)
    batches = {}
    for op in ops:
        if op["kind"] == "insert":
            batches[op["id"]] = {tuple(t) for t in op["triples"] if t[0].startswith("w:")}
    h = lambda s: sum(row_hash(*t) for t in s)
    by_id = {op["id"]: op for op in ops}
    for r in records:
        op = by_id[r["id"]]
        kind = op["kind"]
        ok, why = True, ""
        if "error" in r:
            ok, why = False, r["error"]
        elif kind in ("lookup", "scan", "traverse"):
            exp = _answer(c, op)
            mode = op.get("mode", "rows")
            if mode == "count":
                ok = r.get("count") == len(exp)
            elif mode == "limit":
                hs = {str(row_hash(*t)) for t in exp}
                got = r.get("hashes", [])
                ok = (len(got) == min(op["limit"], len(exp)) and set(got) <= hs
                      and len(set(got)) == len(got))
            else:
                ok = r.get("rows") == len(exp) and r.get("digest") == str(digest(exp))
            why = "" if ok else f"expected {len(exp)} rows"
        elif kind == "ryw":
            subs = {p["subj"] for p in json.loads(op["json"])}
            exp = [t for t in s_extra if t[0] in subs]
            ok = r.get("rows") == len(exp) and r.get("digest") == str(digest(exp))
        elif kind == "insert":
            novel = batches[op["id"]] - s_extra
            s_extra |= novel
            ok = r.get("inserted") == len(novel) == op["novel"]
            r["novel_share"] = len(novel) / len(op["triples"])
        elif kind == "sync":
            if op["dir"] == "pull":
                diff = {t for t in p_extra if t not in s_extra}
                s_extra |= diff
            else:
                diff = (s_extra - p_extra) | p_missing
                p_extra |= s_extra
                p_missing = set()
            peer_n = base_n - len(p_missing) + len(p_extra)
            peer_d = (base_d - h(p_missing) + h(p_extra)) % MOD64
            ok = (r.get("synced") == len(diff) and r.get("peer_count") == peer_n
                  and r.get("peer_digest") == str(peer_d))
        if kind in ("sync", "compact") and ok:
            ok = (r.get("store_count") == base_n + len(s_extra) and
                  r.get("store_digest") == str((base_d + h(s_extra)) % MOD64))
        r["ok"] = bool(ok)
        if not ok:
            r["why"] = why or "mismatch"


# ------------------------------------------------------------- analytics

def generate_analytics(seed, passes=6):
    # Registry queries take no parameters, and the order is fixed: queries
    # leave cached frames behind that slow the ones after them (measured:
    # dedup_simhash 1.1 s when first in a pass, 1.6-2.0 s later), so a
    # seeded order varied results from seed to seed. The seed changes
    # nothing here; it is taken for the interface shared with `triple`.
    ops = [{"kind": q} for _ in range(passes) for q in ANALYTICS]
    for i, op in enumerate(ops):
        op["id"] = i
    header = {"workload": "analytics", "seed": seed, "queries": ANALYTICS,
              "warmup": [{"kind": q} for q in ANALYTICS], "cycle": len(ANALYTICS),
              "repeatable": ANALYTICS}
    return header, ops


def oracle_answers(corpus_dir, oracle_sql, compare, cache_dir):
    """DuckDB answers of the oracle SQL in both of compare.py's readings.
    The corpus and the SQL fix them, so they are cached under a hash of
    both."""
    key = hashlib.sha256(json.dumps([str(corpus_dir), oracle_sql], sort_keys=True).encode())
    path = Path(cache_dir) / f"oracle-{key.hexdigest()[:16]}.pkl"
    if path.exists():
        return pickle.loads(path.read_bytes())
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in compare.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{Path(corpus_dir) / (t + '.parquet')}')")
    answers = {}
    for q, sql in oracle_sql.items():
        try:
            answers[q] = (compare.oracle_exact(con, sql), compare.oracle_pandas(con, sql))
        except Exception as ex:  # an oracle that cannot run fails its query's check
            answers[q] = f"oracle error: {ex}"
    path.parent.mkdir(parents=True, exist_ok=True)
    path.write_bytes(pickle.dumps(answers))
    return answers


def check_analytics(corpus_dir, out_dir, oracle_sql, records, compare, cache_dir):
    """compare.py's rule for each query's first timed result; every
    later execution must equal the first."""
    answers = oracle_answers(corpus_dir, oracle_sql, compare, cache_dir)
    verdict = {}
    for r in records:
        if not r.get("first"):
            continue
        q = r["kind"]
        scols, srows = compare.load_spark(Path(out_dir) / "results" / q)
        if scols is None:
            verdict[q] = "no spark output"
        elif isinstance(answers.get(q), str):
            verdict[q] = answers[q]
        elif q in answers:
            exact, pandas_mode = answers[q]
            e = compare.diff(scols, srows, *exact, "exact")
            verdict[q] = e or compare.diff(scols, srows, *pandas_mode, "pandas")
        else:
            verdict[q] = None if len(srows) > 0 else "rows-only query returned no rows"
    for r in records:
        q = r["kind"]
        why = r.get("error") or verdict.get(q, "never checked")
        if why is None and not r.get("first") and not r.get("same_as_first", False):
            why = "differs from the first execution"
        r["ok"] = why is None
        if why:
            r["why"] = why
