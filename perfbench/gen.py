"""Seeded input generation and reference answers for the perfbench workloads.

The star-schema store is made once per checkout, from a fixed seed, with
the shape and size of the sf0.1 test data; the benchmark reads nothing
outside its checkout, so it cannot use that data itself. Everything else a
run feeds the engine is made from the workload seed: the write sessions
with their `$params` and the SQLite upload files. The same seed gives
byte-identical files.

The reference answers never come from the engine under test:
  * write_mix       - a Python replay of the same seeded mutations over
                      the base rows of the star parquet;
  * upload_pipeline - the counts, components, distances and ranks of the
                      rows the generator itself wrote.

`generate(workload, seed, out_dir, star_dir)` writes `spec.json` (what the
harness reads) and `expected.json` (what only the checker reads) into
`out_dir`.
"""

import hashlib
import json
import os
import shutil
import sqlite3
from collections import defaultdict

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Star-schema size: that of the sf0.1 test data (25 nations, 1 line item
# to 7 per order, two thirds of customers with orders).
STAR = {"customers": 15000, "suppliers": 1000, "parts": 20000, "orders": 150000}
STAR_SEED = 0  # the store is the same for every workload seed
ADJS = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUNS = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
EPOCH_1992 = np.datetime64("1992-01-01T00:00:00", "us")

WRITE_SESSIONS = 24    # write_mix sessions per stream


def rng_for(seed, salt):
    h = hashlib.sha256(f"{salt}:{seed}".encode()).digest()
    return np.random.Generator(np.random.PCG64(int.from_bytes(h[:8], "little")))


# --------------------------------------------------------------------------
# star schema


def write_parquet(table, path):
    pq.write_table(table, path, compression="snappy", use_dictionary=True,
                   write_statistics=True)


def make_star(data_dir):
    """Write region/nation/customer/supplier/part/orders/lineitem parquet
    into data_dir (made whole, then renamed into place)."""
    tmp = data_dir + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    r = rng_for(STAR_SEED, "star")
    nc, ns, npart, no = (STAR[k] for k in ("customers", "suppliers", "parts", "orders"))
    t = {}
    t["region"] = pa.table({"r_regionkey": pa.array(range(5), pa.int64()),
                            "r_name": REGIONS})
    t["nation"] = pa.table({"n_nationkey": pa.array(range(25), pa.int64()),
                            "n_name": [f"NATION_{i:02d}" for i in range(25)],
                            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int64())})
    ck = np.arange(1, nc + 1, dtype=np.int64)
    t["customer"] = pa.table({
        "c_custkey": ck,
        "c_name": [f"Customer#{k:09d}" for k in ck],
        "c_nationkey": r.integers(0, 25, nc).astype(np.int64),
        "c_acctbal": np.round(r.uniform(-999.99, 9999.99, nc), 2),
        "c_mktsegment": [SEGMENTS[i] for i in r.integers(0, 5, nc)]})
    sk = np.arange(1, ns + 1, dtype=np.int64)
    t["supplier"] = pa.table({
        "s_suppkey": sk, "s_name": [f"Supplier#{k:09d}" for k in sk],
        "s_nationkey": r.integers(0, 25, ns).astype(np.int64),
        "s_acctbal": np.round(r.uniform(-999.99, 9999.99, ns), 2)})
    pk = np.arange(1, npart + 1, dtype=np.int64)
    t["part"] = pa.table({
        "p_partkey": pk,
        "p_name": [f"{ADJS[a]} {NOUNS[b]}" for a, b in
                   zip(r.integers(0, 8, npart), r.integers(0, 8, npart))],
        "p_brand": [f"Brand#{b}" for b in r.integers(1, 26, npart)],
        "p_type": [["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"][i]
                   for i in r.integers(0, 6, npart)],
        "p_size": r.integers(1, 51, npart).astype(np.int64),
        "p_retailprice": np.round(900 + r.integers(0, 1000, npart) / 10.0, 1)})
    ok = np.arange(1, no + 1, dtype=np.int64)
    ordering = ck[ck % 3 != 0]
    odate = EPOCH_1992 + (r.integers(0, 2400, no) * 86400 * 10**6).astype("timedelta64[us]")
    t["orders"] = pa.table({
        "o_orderkey": ok,
        "o_custkey": r.choice(ordering, no),
        "o_orderstatus": pa.array(np.array(["F", "O", "P"])[r.integers(0, 3, no)]),
        "o_totalprice": np.round(r.uniform(900, 500000, no), 2),
        "o_orderdate": pa.array(odate, pa.timestamp("us"))})
    nl = r.integers(1, 8, no)
    lo = np.repeat(ok, nl)
    n = len(lo)
    # parts drawn independently, so an order can repeat a part, as in sf0.1
    lp = r.integers(1, npart + 1, n).astype(np.int64)
    ship = np.repeat(odate, nl) + (r.integers(1, 120, n) * 86400 * 10**6).astype("timedelta64[us]")
    qty = r.integers(1, 51, n).astype(np.int64)
    t["lineitem"] = pa.table({
        "l_orderkey": lo, "l_partkey": lp,
        "l_suppkey": r.integers(1, ns + 1, n).astype(np.int64),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * r.uniform(900, 2000, n), 2),
        "l_shipdate": pa.array(ship, pa.timestamp("us"))})
    for name, tab in t.items():
        write_parquet(tab, os.path.join(tmp, f"{name}.parquet"))
    shutil.rmtree(data_dir, ignore_errors=True)
    os.rename(tmp, data_dir)


def load_star(data_dir):
    """The base rows the write_mix answers replay over, made once per
    checkout."""
    if not os.path.exists(os.path.join(data_dir, "lineitem.parquet")):
        make_star(data_dir)
    return {name: pq.read_table(os.path.join(data_dir, f"{name}.parquet"), columns=cols).to_pydict()
            for name, cols in (("customer", ["c_custkey", "c_name", "c_acctbal", "c_nationkey"]),
                               ("orders", ["o_orderkey", "o_custkey"]))}


# --------------------------------------------------------------------------
# write_mix

W_UPSERT = ("UNWIND $rows AS row MERGE (c:Customer {c_custkey: row.k}) "
            "SET c += {c_name: row.nm, c_acctbal: row.bal} RETURN count(c) AS n")
R_CUST = ("MATCH (c:Customer) WHERE c.c_custkey IN $keys RETURN toInteger(c.c_custkey) AS ck, "
          "c.c_name AS nm, c.c_acctbal AS bal, toInteger(c.c_nationkey) AS nk ORDER BY ck")
W_RATE = ("UNWIND $rows AS row MATCH (c:Customer) WHERE c.c_custkey = row.ck WITH c, row "
          "MATCH (p:Part) WHERE p.p_partkey = row.pk WITH c, p "
          "MERGE (c)-[r:RATED]->(p) ON CREATE SET r.cnt = 1 ON MATCH SET r.cnt = r.cnt + 1 "
          "RETURN count(r) AS n")
R_RATE = ("MATCH (c:Customer)-[r:RATED]->(p:Part) RETURN toInteger(c.c_custkey) AS ck, "
          "toInteger(p.p_partkey) AS pk, toInteger(r.cnt) AS cnt ORDER BY ck, pk")
W_SETL = "MATCH (c:Customer) WHERE c.c_custkey IN $keys SET c:Vip RETURN count(c) AS n"
W_REML = "MATCH (c:Customer) WHERE c.c_custkey IN $keys REMOVE c:Vip RETURN count(c) AS n"
R_VIP = "MATCH (v:Vip) RETURN toInteger(v.c_custkey) AS ck, v.c_name AS nm ORDER BY ck"
W_CREATE = ("UNWIND $rows AS row CREATE (n:Note {nid: row.id, txt: row.txt}) "
            "RETURN count(n) AS n")
R_NOTE = "MATCH (n:Note) RETURN toInteger(n.nid) AS id, n.txt AS txt ORDER BY id"
W_DELETE = "MATCH (o:Order) WHERE o.o_orderkey IN $keys DETACH DELETE o"
R_ORDERS = ("MATCH (o:Order)-[:PLACED_BY]->(c:Customer) WHERE c.c_custkey IN $keys "
            "RETURN toInteger(c.c_custkey) AS ck, count(o) AS n ORDER BY ck")


def gen_write_mix(seed, tabs):
    r = rng_for(seed, "write_mix")
    nc, no, npart = STAR["customers"], STAR["orders"], STAR["parts"]
    base_cust = {k: [n, b, nk] for k, n, b, nk in zip(
        tabs["customer"]["c_custkey"], tabs["customer"]["c_name"],
        tabs["customer"]["c_acctbal"], tabs["customer"]["c_nationkey"])}
    base_orders = dict(zip(tabs["orders"]["o_orderkey"], tabs["orders"]["o_custkey"]))
    orders_of = defaultdict(list)
    for o, c in base_orders.items():
        orders_of[c].append(o)
    sessions, expected = [], []
    note_id = 0
    for s in range(WRITE_SESSIONS):
        cust = {}            # overlay over base_cust
        rated = {}           # (ck, pk) -> cnt
        vip = set()
        notes = {}
        deleted = set()
        # The statement order is fixed, so that each write meets the same
        # kind of store state whatever the seed; the seed draws the keys,
        # values and batches. Every other session drops labels again.
        kinds = ["upsert", "rate", "setlabel", "create", "delete"]
        if s % 2 == 1:
            kinds[3] = "removelabel"
        stmts, exp = [], []

        def cust_row(k):
            row = cust.get(k, base_cust.get(k))
            return None if row is None else [k] + row

        for kind in kinds:
            if kind == "upsert":
                keys = sorted({int(x) for x in r.integers(1, nc + 200, 6)})
                rows = [{"k": k, "nm": f"Upserted#{s}-{k}", "bal": round(float(r.uniform(-500, 5000)), 2)}
                        for k in keys]
                for row in rows:
                    old = cust_row(row["k"])
                    cust[row["k"]] = [row["nm"], row["bal"], old[3] if old else None]
                stmts.append({"kind": "write", "template": "upsert", "cypher": W_UPSERT,
                              "params": {"rows": rows}})
                exp.append([[len(rows)]])
                stmts.append({"kind": "read", "template": "read_customers", "cypher": R_CUST,
                              "params": {"keys": keys}})
                exp.append([cust_row(k) for k in keys if cust_row(k) is not None])
            elif kind == "rate":
                pairs = sorted({(int(c), int(p)) for c, p in
                                zip(r.integers(1, 60, 5), r.integers(1, 40, 5))})
                for pair in pairs:
                    rated[pair] = rated.get(pair, 0) + 1
                stmts.append({"kind": "write", "template": "rel_merge", "cypher": W_RATE,
                              "params": {"rows": [{"ck": c, "pk": p} for c, p in pairs]}})
                exp.append([[len(pairs)]])
                stmts.append({"kind": "read", "template": "read_rated", "cypher": R_RATE,
                              "params": {}})
                exp.append([[c, p, n] for (c, p), n in sorted(rated.items())])
            elif kind == "setlabel":
                keys = sorted({int(x) for x in r.integers(1, nc + 1, 8)})
                vip |= set(keys)
                stmts.append({"kind": "write", "template": "set_label", "cypher": W_SETL,
                              "params": {"keys": keys}})
                exp.append([[len(keys)]])
                stmts.append({"kind": "read", "template": "read_vip", "cypher": R_VIP, "params": {}})
                exp.append([[k, cust_row(k)[1]] for k in sorted(vip)])
            elif kind == "removelabel":
                keys = sorted(vip)[::2]
                vip -= set(keys)
                stmts.append({"kind": "write", "template": "remove_label", "cypher": W_REML,
                              "params": {"keys": keys}})
                exp.append([[len(keys)]])
                stmts.append({"kind": "read", "template": "read_vip", "cypher": R_VIP, "params": {}})
                exp.append([[k, cust_row(k)[1]] for k in sorted(vip)])
            elif kind == "create":
                rows = []
                for _ in range(3):
                    note_id += 1
                    rows.append({"id": note_id, "txt": f"note {seed}-{note_id}"})
                    notes[note_id] = rows[-1]["txt"]
                stmts.append({"kind": "write", "template": "create", "cypher": W_CREATE,
                              "params": {"rows": rows}})
                exp.append([[len(rows)]])
                stmts.append({"kind": "read", "template": "read_notes", "cypher": R_NOTE, "params": {}})
                exp.append([[k, v] for k, v in sorted(notes.items())])
            else:
                keys = sorted({int(x) for x in r.integers(1, no + 1, 5)})
                deleted |= set(keys)
                owners = sorted({int(base_orders[k]) for k in keys})
                stmts.append({"kind": "write", "template": "detach_delete", "cypher": W_DELETE,
                              "params": {"keys": keys}})
                exp.append(None)  # row-count shape of a RETURN-less write is not checked
                stmts.append({"kind": "read", "template": "read_orders", "cypher": R_ORDERS,
                              "params": {"keys": owners}})
                counts = {c: sum(o not in deleted for o in orders_of[c]) for c in owners}
                exp.append([[c, counts[c]] for c in owners if counts[c] > 0])
        sessions.append(stmts)
        expected.append(exp)
    return {"sessions": sessions}, {"sessions": expected}


# --------------------------------------------------------------------------
# upload_pipeline

# (tables, total rows) per file: one layout for every file and seed, so the
# few files a run completes cost about the same whatever the seed; the warm
# file, run before the timed ones, has it too.
UPLOAD_FILES = [(6, 20000)] * 5
WARM_FILE = (6, 20000)

ENTITY_POOL = [  # name, key, FK targets (by pool name), weight of rows
    ("stores", "store_id", [], 1),
    ("brands", "brand_id", [], 1),
    ("categories", "category_id", [], 1),
    ("customers", "customer_id", ["stores"], 6),
    ("products", "product_id", ["brands", "categories"], 5),
    ("staffs", "staff_id", ["stores", "staffs"], 1),
    ("orders", "order_id", ["customers", "staffs"], 8),
    ("suppliers", "supplier_id", ["stores"], 1),
    ("shipments", "shipment_id", ["orders", "suppliers"], 6),
    ("tags", "tag_id", [], 1),
    ("campaigns", "campaign_id", ["brands"], 1),
]
JUNCTION_POOL = [  # name, (left, right), extra columns, weight
    ("order_items", ("orders", "products"), ["quantity", "list_price"], 14),
    ("product_tags", ("products", "tags"), [], 5),
    ("campaign_products", ("campaigns", "products"), ["budget"], 3),
    ("stock_moves", ("stores", "products"), ["quantity"], 6),
    ("customer_campaigns", ("customers", "campaigns"), [], 3),
]


def upload_layout(n_tables):
    """Pick the entity and junction tables of one file (deterministic)."""
    n_j = max(1, min(len(JUNCTION_POOL), n_tables // 3))
    entities = [e for e in ENTITY_POOL][: n_tables - n_j]
    names = {e[0] for e in entities}
    junctions = [j for j in JUNCTION_POOL if set(j[1]) <= names][:n_j]
    while len(entities) + len(junctions) < n_tables:
        entities.append(ENTITY_POOL[len(entities)])
        names.add(entities[-1][0])
        junctions = [j for j in JUNCTION_POOL if set(j[1]) <= names][:n_j]
    return entities, junctions


def write_sqlite(path, seed, n_tables, total_rows):
    """One upload file. Returns what the generator knows about its graph."""
    r = rng_for(seed, f"sqlite:{os.path.basename(path)}")
    entities, junctions = upload_layout(n_tables)
    weights = [e[3] for e in entities] + [j[3] for j in junctions]
    sizes = [max(20, int(total_rows * w / sum(weights))) for w in weights]
    if os.path.exists(path):
        os.remove(path)
    con = sqlite3.connect(path)
    ids, know = {}, {"tables": {}, "edges": {}, "rows": 0}
    ent_names = {e[0] for e in entities}
    base = {e[0]: (i + 1) * 10_000_000 for i, e in enumerate(ENTITY_POOL)}
    for (name, key, fks, _), n in zip(entities, sizes):
        ids[name] = np.arange(base[name], base[name] + n, dtype=np.int64)
    t0 = np.datetime64("2015-01-01T00:00:00", "s")
    for (name, key, fks, _), n in zip(entities, sizes):
        fks = [f for f in fks if f in ent_names]
        cols = [f"{key} INTEGER PRIMARY KEY", "name TEXT", "score REAL", "created_at TIMESTAMP"]
        fk_cols, fk_decl, fk_vals = [], [], []
        for f in fks:
            col = ("manager_id" if f == name else dict((e[0], e[1]) for e in ENTITY_POOL)[f])
            tk = dict((e[0], e[1]) for e in ENTITY_POOL)[f]
            fk_cols.append(col)
            cols.append(f"{col} INTEGER")
            fk_decl.append(f"FOREIGN KEY ({col}) REFERENCES {f}({tk})")
            target = ids[f]
            v = r.choice(target, n).astype(object)
            # planted defects: 3% dangling references, 2% missing ones
            dang = r.random(n) < 0.03
            v[dang] = [int(x) for x in (base[f] + 5_000_000 + r.integers(0, 1000, int(dang.sum())))]
            nul = (r.random(n) < 0.02) & ~dang
            v[nul] = None
            fk_vals.append(v)
            valid = sum(1 for x, d, z in zip(v, dang, nul) if not d and not z)
            label = f"{name.upper()}_HAS_{col[:-3].upper()}"
            know["edges"][label] = {"input": n, "clean": int(n - nul.sum()), "committed": valid,
                                    "pairs": [(int(a), int(b)) for a, b, d, z in
                                              zip(ids[name], v, dang, nul) if not d and not z]}
        con.execute(f"CREATE TABLE {name} ({', '.join(cols + fk_decl)})")
        created = t0 + r.integers(0, 3 * 365 * 86400, n).astype("timedelta64[s]")
        rows = zip(ids[name].tolist(), [f"{name}-{i}" for i in range(n)],
                   np.round(r.uniform(0, 100, n), 3).tolist(),
                   [str(x).replace("T", " ") for x in created], *[list(v) for v in fk_vals])
        con.executemany(f"INSERT INTO {name} VALUES ({','.join('?' * (4 + len(fk_cols)))})",
                        [tuple(int(x) if isinstance(x, np.integer) else x for x in row) for row in rows])
        know["tables"][name] = n
        know["rows"] += n
    for (name, (lt, rt), extra, _), n in zip(junctions, sizes[len(entities):]):
        lk = dict((e[0], e[1]) for e in ENTITY_POOL)[lt]
        rk = dict((e[0], e[1]) for e in ENTITY_POOL)[rt]
        cols = [f"{lk} INTEGER", f"{rk} INTEGER"] + [f"{c} REAL" for c in extra] + [
            f"FOREIGN KEY ({lk}) REFERENCES {lt}({lk})", f"FOREIGN KEY ({rk}) REFERENCES {rt}({rk})"]
        con.execute(f"CREATE TABLE {name} ({', '.join(cols)})")
        a = r.choice(ids[lt], n)
        b = r.choice(ids[rt], n)
        # planted defects: duplicate pairs (5%) and dangling right keys (3%)
        dup = r.random(n) < 0.05
        dup[0] = False
        src = np.where(dup)[0]
        a[src], b[src] = a[src - 1], b[src - 1]
        dang = r.random(n) < 0.03
        b = b.copy()
        b[dang] = base[rt] + 5_000_000 + r.integers(0, 1000, int(dang.sum()))
        vals = [np.round(r.uniform(1, 50, n), 2) for _ in extra]
        con.executemany(f"INSERT INTO {name} VALUES ({','.join('?' * (2 + len(extra)))})",
                        [tuple([int(x), int(y)] + [float(v[i]) for v in vals])
                         for i, (x, y) in enumerate(zip(a, b))])
        pairs = set(zip(a.tolist(), b.tolist()))
        valid = {p for p in pairs if p[1] < base[rt] + 5_000_000}
        know["edges"][name.upper()] = {"input": n, "clean": len(pairs), "committed": len(valid),
                                       "pairs": sorted(valid)}
        know["rows"] += n
    con.commit()
    con.close()
    return know


def analytics_answer(pairs):
    """Components, BFS levels, degree and PageRank figures of an edge list,
    with the same definitions the engine documents (GraphAnalytics)."""
    parent = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    adj = defaultdict(list)
    deg = defaultdict(int)
    for s, d in pairs:
        parent.setdefault(s, s)
        parent.setdefault(d, d)
        rs, rd = find(s), find(d)
        if rs != rd:
            parent[max(rs, rd)] = min(rs, rd)
        adj[s].append(d)
        adj[d].append(s)
        deg[s] += 1
        deg[d] += 1
    comp = defaultdict(int)
    for v in parent:
        comp[find(v)] += 1
    source = min(s for s, _ in pairs)
    dist = {source: 0}
    frontier = [source]
    for depth in range(1, 5):
        nxt = []
        for u in frontier:
            for v in adj[u]:
                if v not in dist:
                    dist[v] = depth
                    nxt.append(v)
        frontier = nxt
    levels = defaultdict(int)
    for d in dist.values():
        levels[d] += 1
    verts = sorted(parent)
    idx = {v: i for i, v in enumerate(verts)}
    src = np.array([idx[s] for s, _ in pairs])
    dst = np.array([idx[d] for _, d in pairs])
    outdeg = np.bincount(src, minlength=len(verts)).astype(float)
    ranks = np.ones(len(verts))
    for _ in range(10):
        msg = np.bincount(dst, weights=ranks[src] / outdeg[src], minlength=len(verts))
        ranks = 0.15 + 0.85 * msg
    ranks *= len(verts) / ranks.sum()
    return {"vertices": len(verts), "components": len(comp), "largest_component": max(comp.values()),
            "bfs_source": int(source), "bfs_levels": {str(k): v for k, v in sorted(levels.items())},
            "degree_sum": int(sum(deg.values())), "degree_max": int(max(deg.values())),
            "pagerank_max": float(ranks.max())}


def gen_upload(seed, out_dir):
    files, expected = [], []
    for i, (n_tables, total) in enumerate([WARM_FILE] + UPLOAD_FILES):
        path = os.path.join(out_dir, f"upload_{i}.sqlite")
        know = write_sqlite(path, seed, n_tables, total)
        largest = max(know["edges"], key=lambda l: (know["edges"][l]["committed"], l))
        exp = {"rows": know["rows"], "tables": know["tables"],
               "edges": {l: {k: v for k, v in e.items() if k != "pairs"}
                         for l, e in know["edges"].items()},
               "largest_edge": largest,
               "analytics": analytics_answer(know["edges"][largest]["pairs"])}
        entry = {"path": os.path.basename(path), "largest_edge": largest,
                 "bfs_source": exp["analytics"]["bfs_source"]}
        if i == 0:
            warm, warm_exp = entry, exp
        else:
            files.append(entry)
            expected.append(exp)
    return {"files": files, "warm_file": warm}, {"files": expected, "warm_file": warm_exp}


# --------------------------------------------------------------------------


def file_digest(paths):
    h = hashlib.sha256()
    for p in sorted(paths):
        h.update(os.path.basename(p).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def generate(workload, seed, out_dir, star_dir):
    """Write spec.json and expected.json for (workload, seed) into out_dir;
    write_mix reads the star store in star_dir, made there if missing."""
    os.makedirs(out_dir, exist_ok=True)
    if workload == "upload_pipeline":
        spec, expected = gen_upload(seed, out_dir)
        data_files = [os.path.join(out_dir, f) for f in os.listdir(out_dir) if f.endswith(".sqlite")]
    else:
        spec, expected = gen_write_mix(seed, load_star(star_dir))
        data_files = [os.path.join(star_dir, f) for f in os.listdir(star_dir)]
    spec.update({"workload": workload, "seed": seed})
    stream = json.dumps(spec, sort_keys=True, default=int)
    spec["input_hashes"] = {"data_sha256": file_digest(data_files),
                            "stream_sha256": hashlib.sha256(stream.encode()).hexdigest()}
    if workload == "write_mix":
        spec["data_dir"] = os.path.abspath(star_dir)
    with open(os.path.join(out_dir, "spec.json"), "w") as f:
        json.dump(spec, f, default=int)
    with open(os.path.join(out_dir, "expected.json"), "w") as f:
        json.dump(expected, f, default=int)
    return spec, expected
