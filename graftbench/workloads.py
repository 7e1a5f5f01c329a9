"""Seeded op streams of the two workloads.

The library sees only what is generated here: the query order, the
statements and their parameters. Every op is a dict with `kind`
(`query`, `read`, `write`, `kv_put`, `kv_get`) and `name` (the query or
statement template); OLTP ops also carry the dialect `text`, the DuckDB
form `duck` the checks replay, and for writes and KV ops the class or
bucket `cls`.
"""
import random

from datagen import SEGMENTS, PRIORITIES, REGIONS, VOCAB

# graph_iter: iterative graph algorithms with fixed round counts, whose
# cost is per-round Spark jobs, plus ppjoin, the pair-finding operator
# measured as super-linear, so the `ops` layer is measured too. The
# three take about as long each (3-4 s on 3 cores at the generated
# scale), which keeps the mean op latency steady from run to run.
GRAPH_QUERIES = ["qg_pagerank10", "qg_betweenness", "qp_ppjoin_pairs"]
KV_BUCKET = "sessions"
KV_KEYS = 40
# columns of the written classes, for the final-contents check
WRITTEN = {
    "customer": ["c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"],
    "orders": ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
               "o_orderpriority"],
}


def batch_plan(queries, seed, n_passes):
    """Warm-up runs each query once; every timed pass is a seeded
    permutation of the same queries."""
    rng = random.Random(seed)
    passes = []
    for _ in range(n_passes):
        order = list(queries)
        rng.shuffle(order)
        passes.append([{"kind": "query", "name": q} for q in order])
    return [{"kind": "query", "name": q} for q in queries], passes


def _duck_tokens(col):
    # mirrors the dialect tokenizer, as the qd_containstext oracle does
    return ("string_split_regex(translate(lower(%s), "
            "':;,.|+*/\\=!?[]()''\"', ''), '\\s+')" % col)


READS = ["containstext", "filter_sort", "link_nav", "multilink_contains",
         "orders_filter", "traverse"]


def read_sql(name, r):
    """(dialect text, DuckDB SQL) of one read in a `qd_*` query shape,
    with seeded parameters."""
    if name == "filter_sort":
        seg, x = r.choice(SEGMENTS), r.randrange(0, 9000)
        where = f"c_mktsegment = '{seg}' and c_acctbal > {x}"
        return (f"select c_custkey, c_name, c_acctbal from customer where {where} "
                "order by c_custkey limit 50",
                f"SELECT c_custkey, c_name, c_acctbal FROM customer WHERE {where} "
                "ORDER BY c_custkey LIMIT 50")
    if name == "link_nav":
        reg = r.choice(REGIONS)
        return ("select c_custkey, nation.n_name as nn, nation.region.r_name as rn "
                f"from customer where nation.region.r_name = '{reg}' order by c_custkey",
                "SELECT c_custkey, n_name AS nn, r_name AS rn FROM customer "
                "JOIN nation ON c_nationkey = n_nationkey "
                "JOIN region ON n_regionkey = r_regionkey "
                f"WHERE r_name = '{reg}' ORDER BY c_custkey")
    if name == "multilink_contains":
        x = r.randrange(300000, 499000)
        return ("select c_custkey, c_name from customer where orders contains "
                f"(o_totalprice > {x}) order by c_custkey",
                "SELECT c_custkey, c_name FROM customer WHERE EXISTS (SELECT 1 "
                f"FROM orders WHERE o_custkey = c_custkey AND o_totalprice > {x}) "
                "ORDER BY c_custkey")
    if name == "traverse":
        reg = r.choice(REGIONS)
        return ("select c_custkey from customer where any() traverse(1,2) "
                f"(r_name = '{reg}') order by c_custkey",
                "SELECT c_custkey FROM customer WHERE EXISTS (SELECT 1 FROM nation "
                "JOIN region ON n_regionkey = r_regionkey WHERE n_nationkey = "
                f"c_nationkey AND r_name = '{reg}') ORDER BY c_custkey")
    if name == "containstext":
        # stop words ('a', 'the') are dropped from the search text
        a, b = r.sample([w for w in VOCAB if w not in ("a", "the")], 2)
        tokens = _duck_tokens("text")
        return (f"select doc_id from documents where text containstext '{a} {b}' "
                "order by doc_id",
                f"SELECT doc_id FROM documents WHERE list_contains({tokens}, '{a}') "
                f"AND list_contains({tokens}, '{b}') ORDER BY doc_id")
    if name == "orders_filter":
        hi, lo = r.randrange(400000, 499000), r.randrange(1000, 20000)
        where = f"(o_totalprice > {hi} or o_totalprice < {lo})"
        return ("select o_orderkey, o_totalprice from orders where o_orderstatus "
                f"in ['P','F'] and {where} order by o_orderkey",
                "SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderstatus "
                f"IN ('P','F') AND {where} ORDER BY o_orderkey")
    raise ValueError(name)


WRITES = ["insert_customer", "update_customer", "delete_customer",
          "insert_order", "update_order", "delete_order"]
# the writes of a class run its templates in this fixed cycle, so the
# library's checkpoint on every 8th write of a class lands on the same
# template whatever the seed: with seeded template order it fell on a
# 40 ms insert in one run and on a 250 ms update in the next
CYCLE = {"customer": WRITES[:3], "orders": WRITES[3:]}


class OltpStream:
    """Stateful generator: inserts take fresh keys above the loaded
    ones and deletes remove the oldest inserted row first, so the
    written classes stay within a few rows of their loaded size."""

    def __init__(self, seed, n_customers, n_orders):
        self.rng = random.Random(seed)
        self.n_cust, self.n_ord = n_customers, n_orders
        self.next_key = {"customer": n_customers, "orders": n_orders}
        self.inserted = {"customer": [], "orders": []}
        self.writes = {"customer": 0, "orders": 0}
        self.kv_keys = set()

    def read(self, name):
        text, duck = read_sql(name, self.rng)
        return {"kind": "read", "name": name, "text": text, "duck": duck}

    def _victim(self, cls):
        # the oldest live insert, else a loaded row (possibly gone)
        if self.inserted[cls]:
            return self.inserted[cls].pop(0)
        return self.rng.randrange(self.n_cust if cls == "customer" else self.n_ord)

    def _target(self, cls):
        pool = self.inserted[cls]
        if pool and self.rng.random() < 0.5:
            return self.rng.choice(pool)
        return self.rng.randrange(self.n_cust if cls == "customer" else self.n_ord)

    def write(self, name):
        r = self.rng
        cls = "customer" if name.endswith("customer") else "orders"
        self.writes[cls] += 1
        if name == "insert_customer":
            k = self.next_key[cls]
            cols = "c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment"
            vals = (f"{k}, 'Customer#{k:09d}', {r.randrange(25)}, "
                    f"{r.randrange(-99999, 999999) / 100}, '{r.choice(SEGMENTS)}'")
        elif name == "insert_order":
            k = self.next_key[cls]
            cols = "o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderpriority"
            vals = (f"{k}, {r.randrange(self.n_cust)}, '{r.choice('FOP')}', "
                    f"{r.randrange(100000, 50000000) / 100}, '{r.choice(PRIORITIES)}'")
        if name.startswith("insert"):
            self.next_key[cls] += 1
            self.inserted[cls].append(k)
            text = f"insert into {cls} ({cols}) values ({vals})"
            duck = f"INSERT INTO {cls} ({cols}) VALUES ({vals})"
        elif name == "update_customer":
            text = (f"update customer set c_acctbal = {r.randrange(-99999, 999999) / 100} "
                    f"where c_custkey = {self._target(cls)}")
            duck = text
        elif name == "update_order":
            text = (f"update orders set o_totalprice = {r.randrange(100000, 50000000) / 100} "
                    f"where o_orderkey = {self._target(cls)}")
            duck = text
        else:
            key = "c_custkey" if cls == "customer" else "o_orderkey"
            text = f"delete from {cls} where {key} = {self._victim(cls)}"
            duck = text
        return {"kind": "write", "name": name, "cls": cls, "text": text, "duck": duck}

    def kv(self, name):
        # a get reads a key put before when there is one
        if name == "kv_get" and self.kv_keys:
            key = self.rng.choice(sorted(self.kv_keys))
        else:
            key = f"k{self.rng.randrange(KV_KEYS)}"
        op = {"kind": name, "name": name, "cls": KV_BUCKET, "key": key}
        if name == "kv_put":
            self.kv_keys.add(key)
            op["value"] = f"v{self.rng.randrange(10**6)}"
        return op

    def block(self):
        """One pass: every read template twice, every write template
        once and one KV put and get (12/6/2 = 60/30/10), in a seeded
        order with seeded parameters; each class's three writes follow
        its CYCLE. Ops are generated in the order they run, so a write's
        keys follow the inserts before it."""
        kinds = READS * 2 + list(CYCLE) * 3 + ["kv_put", "kv_get"]
        self.rng.shuffle(kinds)
        return [self.read(n) if n in READS else
                self.kv(n) if n.startswith("kv_") else
                self.write(CYCLE[n][self.writes[n] % 3])
                for n in kinds]

    def warmup(self):
        """One op of every template; the writes are one CYCLE of each
        class."""
        return ([self.read(n) for n in READS]
                + [self.write(n) for n in WRITES]
                + [self.kv("kv_put"), self.kv("kv_get")])


def oltp_plan(seed, n_customers, n_orders, n_blocks):
    """Warm-up runs one op of every template, then one block; every
    timed pass is a block. Without the warm-up block, op latency still
    fell by a tenth from the first timed pass to the second."""
    s = OltpStream(seed, n_customers, n_orders)
    warm = s.warmup() + s.block()
    return warm, [s.block() for _ in range(n_blocks)]
