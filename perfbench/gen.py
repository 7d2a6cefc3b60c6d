"""Seeded input generator for the benchmark.

Everything a run reads is made here from `--seed`: the TPC-H-shaped
corpus, the dbt-style project trees, the incremental batches, the read
parameters and the DuckDB oracle SQL. The same seed gives a byte-identical
tree (see test_bench.py). Nothing here touches the engine.

Model SQL is written once as a template with `{R:model}` / `{S:table}`
placeholders; `jinja()` renders it for the engine (`ref` / `source`) and
the oracle renders it as DuckDB views, so both sides run the same text.
Aggregates are over integers (cents) so the oracle match is exact.
"""
import os
import re
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Rows per table at scale factor 1 (the shipped testdata's proportions).
ROWS_PER_SF = {"customer": 150000, "supplier": 10000, "part": 200000,
               "orders": 1500000, "lineitem": 6000000, "events": 1000000,
               "documents": 50000, "embeddings": 50000}
VOCAB = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
LANGS = ["en", "en", "en", "zh", "de", "fr", "es"]
STATUS = ["O", "F", "P"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
EPOCH_1995 = np.datetime64("1995-01-01T00:00:00", "us")
EPOCH_2024 = np.datetime64("2024-01-01T00:00:00", "us")
DAY_US = 86400 * 1000000


def rng_for(seed, *salt):
    """Independent, reproducible stream per (seed, purpose)."""
    return np.random.default_rng([seed] + [zlib.crc32(str(s).encode()) for s in salt])


def write_table(path, cols):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(pa.table(cols), path, compression="snappy")


def ts_col(us):
    return pa.array(us.astype("datetime64[us]"), type=pa.timestamp("us"))


def cents(x):
    return np.round(np.asarray(x, dtype=np.float64), 2)


# ------------------------------------------------------------------ corpus
def make_corpus(out_dir, seed, sf):
    """Write the eight TPC-H-shaped tables plus documents/embeddings."""
    n = {k: max(5, int(v * sf)) for k, v in ROWS_PER_SF.items()}
    r = rng_for(seed, "corpus", sf)
    t = lambda name: os.path.join(out_dir, name + ".parquet")
    write_table(t("region"), {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    write_table(t("nation"), {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    nc = n["customer"]
    write_table(t("customer"), {
        "c_custkey": np.arange(nc, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(r.integers(0, 25, nc), pa.int32()),
        "c_acctbal": cents(r.uniform(-999.99, 9999.99, nc)),
        "c_mktsegment": np.array(SEGMENTS)[r.integers(0, 5, nc)]})
    ns = n["supplier"]
    write_table(t("supplier"), {
        "s_suppkey": np.arange(ns, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(r.integers(0, 25, ns), pa.int32()),
        "s_acctbal": cents(r.uniform(-999.99, 9999.99, ns))})
    npart = n["part"]
    adj = np.array(["red", "small", "new", "hot", "big", "old"])
    noun = np.array(["ring", "widget", "bolt", "anvil", "rod", "plate"])
    write_table(t("part"), {
        "p_partkey": np.arange(npart, dtype=np.int64),
        "p_name": np.char.add(np.char.add(adj[r.integers(0, 6, npart)], " "),
                              noun[r.integers(0, 6, npart)]),
        "p_brand": np.char.add("Brand#", r.integers(1, 26, npart).astype(str)),
        "p_type": np.array(["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM",
                            "PROMO"])[r.integers(0, 6, npart)],
        "p_size": pa.array(r.integers(1, 51, npart), pa.int32()),
        "p_retailprice": cents(900 + (np.arange(npart) % 1000) / 10.0)})
    no = n["orders"]
    odays = r.integers(0, 2404, no)
    write_table(t("orders"), {
        "o_orderkey": np.arange(no, dtype=np.int64),
        "o_custkey": r.integers(0, nc, no).astype(np.int64),
        "o_orderstatus": np.array(STATUS)[r.integers(0, 3, no)],
        "o_totalprice": cents(r.uniform(1000, 500000, no)),
        "o_orderdate": ts_col(EPOCH_1995 + odays * DAY_US),
        "o_orderpriority": np.array(PRIORITIES)[r.integers(0, 5, no)]})
    nl = n["lineitem"]
    lorder = r.integers(0, no, nl).astype(np.int64)
    write_table(t("lineitem"), {
        "l_orderkey": lorder,
        "l_partkey": r.integers(0, npart, nl).astype(np.int64),
        "l_suppkey": r.integers(0, ns, nl).astype(np.int64),
        "l_linenumber": pa.array(r.integers(1, 8, nl), pa.int32()),
        "l_quantity": r.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": cents(r.uniform(900, 105000, nl)),
        "l_discount": r.integers(0, 11, nl) / 100.0,
        "l_tax": r.integers(0, 9, nl) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[r.integers(0, 3, nl)],
        "l_linestatus": np.array(["O", "F"])[r.integers(0, 2, nl)],
        "l_shipdate": ts_col(EPOCH_1995 + (odays[lorder] + r.integers(1, 122, nl))
                             * DAY_US)})
    ne = n["events"]
    users = max(15, nc // 10)
    write_table(t("events"), {
        "event_id": np.arange(ne, dtype=np.int64),
        "ts": ts_col(EPOCH_2024 + np.sort(r.integers(0, 30 * DAY_US, ne))),
        "user_id": r.integers(0, users, ne).astype(np.int64),
        "event_type": np.array(EVENT_TYPES)[r.integers(0, 5, ne)],
        "value": cents(r.exponential(60.0, ne)),
        "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, ne)]})
    nd = n["documents"]
    texts = []
    for i in range(nd):
        if i > 10 and r.random() < 0.01:        # exact duplicate
            texts.append(texts[int(r.integers(0, i))])
            continue
        words = list(np.array(VOCAB)[r.integers(0, len(VOCAB),
                                                int(r.integers(8, 110)))])
        if i > 10 and r.random() < 0.05:        # near duplicate
            words = texts[int(r.integers(0, i))].split()
            words.insert(int(r.integers(0, len(words))), "dup")
        texts.append(" ".join(words))
    write_table(t("documents"), {
        "doc_id": np.arange(nd, dtype=np.int64),
        "text": texts,
        "lang": np.array(LANGS)[r.integers(0, len(LANGS), nd)],
        "source": np.char.add("src", r.integers(0, 20, nd).astype(str)),
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64)})
    nv = n["embeddings"]
    centers = r.normal(0, 1, (10, 64))
    label = r.integers(0, 10, nv)
    vec = centers[label] + r.normal(0, 0.6, (nv, 64))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    write_table(t("embeddings"), {
        "vec_id": np.arange(nv, dtype=np.int64),
        "embedding": pa.array(list(vec), type=pa.list_(pa.float32())),
        "label": pa.array(label, pa.int32())})
    return n


# --------------------------------------------------------------- templates
def jinja(body):
    body = re.sub(r"\{R:(\w+)\}", r"{{ ref('\1') }}", body)
    return re.sub(r"\{S:(\w+)\}", r"{{ source('tpch', '\1') }}", body)


def duck(body):
    """DuckDB text of a template: refs become view names and the few
    Jinja forms the generator emits are expanded."""
    body = re.sub(r"\{R:(\w+)\}", r"\1", body)
    body = re.sub(r"\{S:(\w+)\}", r"src_\1", body)
    body = re.sub(r"\{\{ cents\((\w+)\) \}\}", r"CAST(round(\1 * 100) AS BIGINT)", body)
    body = re.sub(r"\{\{ bucket\((\w+), (\d+)\) \}\}", r"CAST(\1 % \2 AS BIGINT)", body)
    return body.replace(LOOP_JINJA, LOOP_SQL)


def refs_of(body):
    return sorted(set(re.findall(r"\{R:(\w+)\}", body)))


def write_project(root, name, sources, models, tests=(), macros="",
                  snapshots=(), conf=""):
    """Write a project.conf-style tree. `models`: list of dicts with name,
    kind, config, body (template)."""
    os.makedirs(os.path.join(root, "models"), exist_ok=True)
    with open(os.path.join(root, "project.conf"), "w") as f:
        f.write(f"name={name}\ndatabase=analytics\nschema=main\nthreads=4\n{conf}")
    with open(os.path.join(root, "sources.conf"), "w") as f:
        for tbl, path in sources:
            f.write(f"tpch {tbl} {path}\n")
    for m in models:
        with open(os.path.join(root, "models", m["name"] + ".sql"), "w") as f:
            f.write(model_text(m))
    if tests:
        with open(os.path.join(root, "tests.conf"), "w") as f:
            f.write("".join(t + "\n" for t in tests))
    if macros:
        os.makedirs(os.path.join(root, "macros"), exist_ok=True)
        with open(os.path.join(root, "macros", "bench.sql"), "w") as f:
            f.write(macros)
    if snapshots:
        os.makedirs(os.path.join(root, "snapshots"), exist_ok=True)
        for s in snapshots:
            with open(os.path.join(root, "snapshots", s["name"] + ".sql"),
                      "w") as f:
                f.write(model_text(s))


def model_text(m):
    head = f"{{{{ config({m['config']}) }}}}\n" if m.get("config") else ""
    return head + jinja(m["body"]).strip() + "\n"


# ----------------------------------------------------------------- slim_ci
SLIM_MACROS = """{% macro cents(col) %}CAST(round({{ col }} * 100) AS BIGINT){% endmacro %}
{% macro bucket(col, n) %}CAST({{ col }} % {{ n }} AS BIGINT){% endmacro %}
"""
LOOP_JINJA = ("{% set cols = ['id', 'fk'] %}SELECT "
              "{% for c in cols %}a.{{ c }} AS {{ c }}, {% endfor %}")
LOOP_SQL = "SELECT a.id AS id, a.fk AS fk, "


def slim_ci_models(seed, lanes):
    """A production project of small macro/Jinja models: four staging
    tables, then `lanes` lanes of a (view) -> b (table, joins the next
    lane's a) -> c (view) -> d (table). The shape is the same for every
    seed; the seed picks the literals."""
    r = rng_for(seed, "slim_ci")
    stg = [("ci_orders", "SELECT o_orderkey AS id, o_custkey AS fk, "
                         "{{ cents(o_totalprice) }} AS amt FROM {S:orders}"),
           ("ci_lineitem", "SELECT l_orderkey AS id, l_partkey AS fk, "
                           "{{ cents(l_extendedprice) }} AS amt FROM {S:lineitem}"),
           ("ci_customer", "SELECT c_custkey AS id, c_nationkey AS fk, "
                           "{{ cents(c_acctbal) }} AS amt FROM {S:customer}"),
           ("ci_part", "SELECT p_partkey AS id, p_size AS fk, "
                       "{{ cents(p_retailprice) }} AS amt FROM {S:part}")]
    models = [{"name": n, "kind": "table", "config": "materialized='table'",
               "body": b} for n, b in stg]
    tests = []
    model = lambda name, kind, body: {"name": name, "kind": kind, "body": body,
                                      "config": f"materialized='{kind}'"}
    # seeded literals only pick WHICH residue a filter drops, so every
    # seed (and every PR edit) keeps the same selectivity and cost
    for j in range(lanes):
        s = stg[j % len(stg)][0]
        models.append(model(f"l{j}_a", "view",
            "SELECT {{ bucket(id, 505) }} AS id, {{ bucket(fk, 97) }} AS fk, "
            "CAST(sum(amt) %% 1000000007 AS BIGINT) AS amt FROM {R:%s} "
            "WHERE id %% 5 <> %d GROUP BY 1, 2" % (s, int(r.integers(0, 5)))))
    for j in range(lanes):
        models.append(model(f"l{j}_b", "table", LOOP_JINJA +
            "CAST((a.amt + coalesce(b.amt, 0)) %% 1000000007 AS BIGINT) AS amt "
            "FROM {R:l%d_a} a LEFT JOIN (SELECT id, CAST(sum(amt) AS BIGINT) AS amt "
            "FROM {R:l%d_a} GROUP BY id) b ON a.id = b.id WHERE a.fk %% 7 <> %d"
            % (j, (j + 1) % lanes, int(r.integers(0, 7)))))
        models.append(model(f"l{j}_c", "view",
            "SELECT {{ bucket(id, 303) }} AS id, fk, CAST(sum(amt) %% 1000000007 AS BIGINT) "
            "AS amt FROM {R:l%d_b} WHERE fk %% 3 <> %d GROUP BY 1, 2"
            % (j, int(r.integers(0, 3)))))
        models.append(model(f"l{j}_d", "table",
            "SELECT id, count(*) AS n, CAST(sum(amt) %% 1000000007 AS BIGINT) AS amt "
            "FROM {R:l%d_c} WHERE id %% 2 <> %d GROUP BY id"
            % (j, int(r.integers(0, 2)))))
        tests += [f"not_null l{j}_b id", f"unique l{j}_d id"]
    return models, tests


def cone(models, name):
    """`name` and everything downstream of it."""
    children = {}
    for m in models:
        for p in refs_of(m["body"]):
            children.setdefault(p, []).append(m["name"])
    out, todo = set(), [name]
    while todo:
        n = todo.pop()
        if n not in out:
            out.add(n)
            todo += children.get(n, [])
    return out


def slim_ci_edits(seed, models, lanes, n_iter, per_pr=2):
    """One PR per iteration: the `b` model of `per_pr` seeded lanes gets
    a changed literal, so state:modified+ rebuilds b, c and d of each
    edited lane - the same amount of work in every PR."""
    r = rng_for(seed, "slim_ci_edits")
    by_name = {m["name"]: m for m in models}
    out = []
    for _ in range(n_iter):
        edits = []
        for j in sorted(r.choice(lanes, per_pr, replace=False)):
            m = by_name[f"l{j}_b"]
            body = re.sub(r"<> (\d+)$", lambda mo: f"<> {(int(mo.group(1)) + 1) % 7}",
                          m["body"])
            edits.append({"name": m["name"], "body": body})
        out.append(edits)
    return out


# ------------------------------------------------------- incremental_cycles
INC_MODELS = [
    {"name": "orders_current", "kind": "incremental",
     "config": "materialized='incremental', unique_key='o_orderkey'",
     "body": "SELECT o_orderkey, o_custkey, o_orderstatus, "
             "CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents, "
             "o_updated_at, batch_id FROM {S:inc_orders}\n"
             "{% if is_incremental() %}\nWHERE batch_id > "
             "(SELECT max(batch_id) FROM {{ this }})\n{% endif %}"},
    {"name": "lineitem_monthly", "kind": "incremental",
     "config": "materialized='incremental', incremental_strategy='insert_overwrite', "
               "partition_by='ship_month'",
     "body": "SELECT ship_month, l_returnflag, count(*) AS n_lines, "
             "CAST(sum(net_cents) AS BIGINT) AS net_cents, max(batch_id) AS max_batch "
             "FROM (SELECT year(l_shipdate) * 100 + month(l_shipdate) AS ship_month, "
             "l_returnflag, CAST(round(l_extendedprice * 100) AS BIGINT) AS net_cents, "
             "batch_id FROM {S:inc_lineitem}) s\n"
             "{% if is_incremental() %}\nWHERE ship_month IN (SELECT year(l_shipdate) * 100 + "
             "month(l_shipdate) FROM {S:inc_lineitem} WHERE batch_id > "
             "(SELECT max(max_batch) FROM {{ this }}))\n{% endif %}\n"
             "GROUP BY ship_month, l_returnflag"},
    {"name": "status_mv", "kind": "mv",
     "config": "materialized='materialized_view'",
     "body": "SELECT o_orderstatus, count(*) AS n, sum(price_cents) AS cents "
             "FROM {R:orders_current} GROUP BY o_orderstatus"},
]
INC_SNAPSHOTS = [
    {"name": "orders_snap_ts", "kind": "snapshot",
     "config": "unique_key='o_orderkey', strategy='timestamp', updated_at='o_updated_at'",
     "body": "SELECT o_orderkey, o_orderstatus, price_cents, o_updated_at "
             "FROM {R:orders_current}"},
    {"name": "orders_snap_check", "kind": "snapshot",
     "config": "unique_key='o_orderkey', strategy='check', "
               "check_cols='o_orderstatus|price_cents'",
     "body": "SELECT o_orderkey, o_orderstatus, price_cents "
             "FROM {R:orders_current}"},
]
INC_TESTS = ["unique orders_current o_orderkey",
             "not_null orders_current o_custkey",
             "not_null lineitem_monthly ship_month",
             "accepted_values orders_current o_orderstatus O,F,P"]


def inc_base(corpus_dir, out_dir):
    """Base files of the directory-backed sources: the corpus rows at
    batch 0 with a load timestamp."""
    o = pq.read_table(os.path.join(corpus_dir, "orders.parquet"))
    o = o.select(["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"])
    o = o.append_column("o_updated_at", ts_col(
        np.full(o.num_rows, EPOCH_2024.astype(np.int64))))
    o = o.append_column("batch_id", pa.array(np.zeros(o.num_rows, np.int32)))
    write_table(os.path.join(out_dir, "inc_orders", "b0000.parquet"),
                {c: o.column(c) for c in o.column_names})
    li = pq.read_table(os.path.join(corpus_dir, "lineitem.parquet"))
    li = li.select(["l_orderkey", "l_returnflag", "l_extendedprice", "l_shipdate"])
    li = li.append_column("batch_id", pa.array(np.zeros(li.num_rows, np.int32)))
    write_table(os.path.join(out_dir, "inc_lineitem", "b0000.parquet"),
                {c: li.column(c) for c in li.column_names})
    return o.num_rows, li.num_rows


def inc_batches(seed, n_orders, n_lines, n_batches, out_dir, share=0.01):
    """Seeded batches, ~1% of rows each: half new keys, half updates of
    keys no earlier batch touched (one version per key per batch)."""
    r = rng_for(seed, "inc_batches")
    per = max(2, int(n_orders * share))
    lines = max(2, int(n_lines * share))
    untouched = r.permutation(n_orders)
    next_key = n_orders
    for b in range(1, n_batches + 1):
        upd = np.sort(untouched[(b - 1) * (per // 2): b * (per // 2)])
        new = np.arange(next_key, next_key + per - per // 2)
        next_key += len(new)
        keys = np.concatenate([upd, new]).astype(np.int64)
        k = len(keys)
        write_table(os.path.join(out_dir, "batches", f"inc_orders/b{b:04d}.parquet"), {
            "o_orderkey": keys,
            "o_custkey": r.integers(0, 15000, k).astype(np.int64),
            "o_orderstatus": np.array(STATUS)[r.integers(0, 3, k)],
            # prices end in .5 cents never: the update always changes cents
            "o_totalprice": cents(r.uniform(1000, 500000, k)) + 0.001 * b,
            "o_updated_at": ts_col(EPOCH_2024 + b * DAY_US + np.zeros(k, np.int64)),
            "batch_id": pa.array(np.full(k, b, np.int32))})
        days = r.integers(2300, 2520, lines)
        write_table(os.path.join(out_dir, "batches", f"inc_lineitem/b{b:04d}.parquet"), {
            "l_orderkey": r.integers(0, next_key, lines).astype(np.int64),
            "l_returnflag": np.array(["A", "N", "R"])[r.integers(0, 3, lines)],
            "l_extendedprice": cents(r.uniform(900, 105000, lines)),
            "l_shipdate": ts_col(EPOCH_1995 + days * DAY_US),
            "batch_id": pa.array(np.full(lines, b, np.int32))})


def inc_reads(seed, n_cycles, per_cycle, n_orders):
    """Seeded consumer queries for each cycle's read phase."""
    r = rng_for(seed, "inc_reads")
    out = []
    for c in range(1, n_cycles + 1):
        cyc = []
        for i in range(per_cycle):
            kind = ["range", "lookup", "mv", "snapshot"][i % 4]
            if kind == "range":
                m0 = int(r.integers(1995, 2001)) * 100 + int(r.integers(1, 13))
                sql = ("SELECT count(*) AS n, CAST(coalesce(sum(net_cents), 0) AS BIGINT) AS c "
                       "FROM {R:lineitem_monthly} WHERE ship_month BETWEEN %d AND %d"
                       % (m0, m0 + int(r.integers(0, 3))))
                model = "lineitem_monthly"
            elif kind == "lookup":
                keys = ", ".join(str(int(k)) for k in
                                 sorted(r.integers(0, n_orders, 5)))
                sql = ("SELECT count(*) AS n, CAST(coalesce(sum(price_cents), 0) AS BIGINT) AS c "
                       "FROM {R:orders_current} WHERE o_orderkey IN (%s)" % keys)
                model = "orders_current"
            elif kind == "mv":
                st = ", ".join("'%s'" % s for s in
                               sorted(set(r.choice(STATUS, 2).tolist())))
                sql = ("SELECT o_orderstatus, count(*) AS n, sum(price_cents) AS cents "
                       "FROM {R:orders_current} WHERE o_orderstatus IN (%s) "
                       "GROUP BY o_orderstatus" % st)
                model = "orders_current"
            else:
                s = STATUS[int(r.integers(0, 3))]
                sql = ("SELECT count(*) AS n, CAST(coalesce(sum(price_cents), 0) AS BIGINT) AS c "
                       "FROM {R:orders_snap_ts} WHERE dbt_valid_to IS NULL "
                       "AND o_orderstatus = '%s'" % s)
                model = "orders_snap_ts"
            cyc.append({"id": f"c{c:02d}r{i:02d}", "kind": kind, "model": model,
                        "sql": sql})
        out.append(cyc)
    return out


def inc_oracle():
    """Per checked relation: (DuckDB SQL of its expected contents over
    views `src_inc_orders` / `src_inc_lineitem` holding the rows applied
    so far, projection compared on both sides with `{rel}` standing for
    the relation). The check strategy's dbt_valid_from is the wall clock
    of the run, so only keys, values and currency are compared there."""
    versions = ("SELECT o_orderkey, o_custkey, o_orderstatus, "
                "CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents, "
                "o_updated_at, batch_id, row_number() OVER (PARTITION BY o_orderkey "
                "ORDER BY batch_id DESC) AS rk FROM src_inc_orders")
    us = "epoch_us(CAST({c} AS TIMESTAMP))"
    return {
        "orders_current": (
            "SELECT o_orderkey, o_custkey, o_orderstatus, price_cents, o_updated_at, "
            "batch_id FROM (%s) WHERE rk = 1" % versions,
            "SELECT o_orderkey, o_custkey, o_orderstatus, price_cents, batch_id FROM {rel}"),
        "lineitem_monthly": (
            "SELECT year(l_shipdate) * 100 + month(l_shipdate) AS ship_month, l_returnflag, "
            "count(*) AS n_lines, CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) "
            "AS BIGINT) AS net_cents FROM src_inc_lineitem GROUP BY ALL",
            "SELECT CAST(ship_month AS INT) AS ship_month, l_returnflag, n_lines, "
            "net_cents FROM {rel}"),
        "status_mv": (
            "SELECT o_orderstatus, count(*) AS n, CAST(sum(price_cents) AS BIGINT) AS cents "
            "FROM (%s) WHERE rk = 1 GROUP BY o_orderstatus" % versions,
            "SELECT o_orderstatus, n, CAST(cents AS BIGINT) AS cents FROM {rel}"),
        "orders_snap_ts": (
            "SELECT o_orderkey, o_orderstatus, price_cents, o_updated_at, "
            "o_updated_at AS dbt_valid_from, lead(o_updated_at) OVER (PARTITION BY "
            "o_orderkey ORDER BY batch_id) AS dbt_valid_to FROM (%s)" % versions,
            "SELECT o_orderkey, o_orderstatus, price_cents, %s AS valid_from_us, "
            "%s AS valid_to_us FROM {rel}" % (us.format(c="dbt_valid_from"),
                                             us.format(c="dbt_valid_to"))),
        "orders_snap_check": (
            "SELECT o_orderkey, o_orderstatus, price_cents, CASE WHEN rk = 1 THEN NULL "
            "ELSE o_updated_at END AS dbt_valid_to FROM (%s)" % versions,
            "SELECT o_orderkey, o_orderstatus, price_cents, dbt_valid_to IS NULL "
            "AS is_current FROM {rel}"),
    }


# --------------------------------------------------------- operator_sample
# Strata of the non-b/o SparkEntry families, by the module that implements
# them, each listing the entries that cost at most ~0.7 s in the r19 bench
# (the cheapest, for streaming). The sample is fixed (SAMPLE_SEED), so every
# run times the same entries; --seed changes only the data they run on.
OPS_STRATA = {
    "analytics": ["q_exact_distinct", "r_cube_orders", "s_nation_intersect",
                  "w_top3_orders_per_cust"],
    "events": ["e_props_extract", "e_sessionize"],
    "textops": ["x_chunk_fixed", "x_gopher_rules", "x_pii_redact", "x_simhash",
                "x_token_count"],
    "similarity": ["x_embedding_quantize", "x_knn_brute"],
    "keyword": ["x_keyword_search"],
    "streaming": ["st_stream_join_equiv"],
}
SAMPLE_SEED = 20261017


def ops_sample():
    """One seed-chosen entry per stratum."""
    r = np.random.default_rng(SAMPLE_SEED)
    return [(s, sorted(OPS_STRATA[s])[int(r.integers(0, len(OPS_STRATA[s])))])
            for s in sorted(OPS_STRATA)]
