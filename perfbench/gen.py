"""Seeded request generator for the SPARQL workloads.

Every read is drawn from a weighted template mix with fresh constants and
carries, beside its SPARQL text, an equivalent SQL query over the raw
corpus tables: the independent oracle that check.py evaluates in DuckDB.
The engine only ever receives the SPARQL text.

Updates write only `bench:` subjects with `bench` objects and never
`rdf:type`, and every read template is anchored on a constant from the
corpus, so no update can change a read's answer. `predict` replays a
prefix of the op log into the exact set of bench triples the store must
hold afterwards.
"""
import random

import pyarrow.parquet as pq

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]

# (template, requests per block of BLOCK). Probes are bound by per-job
# overhead, the triangle by exchange. The triangle is the slowest
# template and holds 30 % of the mix, so p75 falls inside its band and
# p50 inside the probe/star/OPTIONAL band.
READ_MIX = [
    ("probe_order", 3),
    ("probe_ask", 2),
    ("star_customer", 2),
    ("star_order", 2),
    ("optional", 2),
    ("union", 1),
    ("filter_distinct", 1),
    ("path", 1),
    ("triangle", 6),
]
BLOCK = sum(n for _, n in READ_MIX)

UPDATE_MIX = [("insert", 0.5), ("delete", 0.25), ("modify", 0.25)]

# predicates an update may add beside `name` — all scanned by reads
UPDATE_PREDICATES = ["status", "contains", "custkey", "nationkey", "suppliedby"]


class Corpus:
    """The key ranges and the few lineitem columns the generator draws
    constants from."""

    def __init__(self, corpus_dir):
        def rows(t):
            return pq.read_metadata(f"{corpus_dir}/{t}.parquet").num_rows
        self.n_orders = rows("orders")
        self.n_customers = rows("customer")
        self.n_suppliers = rows("supplier")
        self.n_parts = rows("part")
        self.n_nations = rows("nation")
        li = pq.read_table(f"{corpus_dir}/lineitem.parquet",
                           columns=["l_orderkey", "l_partkey"])
        self.li_order = li.column("l_orderkey").to_numpy()
        self.li_part = li.column("l_partkey").to_numpy()


def _read(t, rng, c):
    """(sparql, oracle_sql) of one request of template `t`."""
    if t == "probe_order":
        k = rng.randrange(c.n_orders)
        return (f"SELECT ?c ?st WHERE {{ <order:{k}> custkey ?c . <order:{k}> status ?st }}",
                f"SELECT 'customer:' || o_custkey AS c, o_orderstatus AS st "
                f"FROM orders WHERE o_orderkey = {k}")
    if t == "probe_ask":
        if rng.random() < 0.5:  # a pair that exists
            i = rng.randrange(len(c.li_order))
            k, p = int(c.li_order[i]), int(c.li_part[i])
        else:
            k, p = rng.randrange(c.n_orders), rng.randrange(c.n_parts)
        # the engine rejects a variable-free ASK body; every order has
        # exactly one status, so the extra pattern keeps the answer
        return (f"ASK WHERE {{ <order:{k}> contains <part:{p}> . "
                f"<order:{k}> status ?st }}",
                f"SELECT EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = {k} "
                f"AND l_partkey = {p}) AS _ask")
    if t == "star_customer":
        n, seg = rng.randrange(c.n_nations), rng.choice(SEGMENTS)
        return (f'SELECT ?c ?nm WHERE {{ ?c rdf:type "Customer" . '
                f'?c nationkey <nation:{n}> . ?c mktsegment "{seg}" . ?c name ?nm }}',
                f"SELECT 'customer:' || c_custkey AS c, c_name AS nm FROM customer "
                f"WHERE c_nationkey = {n} AND c_mktsegment = '{seg}'")
    if t == "star_order":
        k = rng.randrange(c.n_customers)
        return (f'SELECT ?o ?st WHERE {{ ?o rdf:type "Order" . '
                f'?o custkey <customer:{k}> . ?o status ?st }}',
                f"SELECT 'order:' || o_orderkey AS o, o_orderstatus AS st "
                f"FROM orders WHERE o_custkey = {k}")
    if t == "optional":
        k = rng.randrange(c.n_customers)
        return (f"SELECT ?o ?n WHERE {{ ?o custkey <customer:{k}> . "
                f"OPTIONAL {{ ?o nextorder ?n }} }}",
                f"SELECT 'order:' || o_orderkey AS o, 'order:' || nk AS n FROM ("
                f"SELECT o_orderkey, lead(o_orderkey) OVER (PARTITION BY o_custkey "
                f"ORDER BY o_orderdate, o_orderkey) AS nk FROM orders "
                f"WHERE o_custkey = {k})")
    if t == "union":
        k = rng.randrange(c.n_orders)
        return (f"SELECT ?x WHERE {{ {{ <order:{k}> contains ?x }} UNION "
                f"{{ <order:{k}> suppliedby ?x }} }}",
                f"(SELECT DISTINCT 'part:' || l_partkey AS x FROM lineitem "
                f"WHERE l_orderkey = {k}) UNION ALL "
                f"(SELECT DISTINCT 'supplier:' || l_suppkey AS x FROM lineitem "
                f"WHERE l_orderkey = {k})")
    if t == "filter_distinct":
        k = rng.randrange(c.n_customers)
        return (f'SELECT DISTINCT ?st WHERE {{ ?o custkey <customer:{k}> . '
                f'?o status ?st . FILTER(?st != "P") }}',
                f"SELECT DISTINCT o_orderstatus AS st FROM orders "
                f"WHERE o_custkey = {k} AND o_orderstatus <> 'P'")
    if t == "path":
        k = rng.randrange(c.n_orders)
        return (f"SELECT ?n WHERE {{ <order:{k}> nextorder/nextorder ?n }}",
                f"SELECT 'order:' || nk2 AS n FROM (SELECT o_orderkey, "
                f"lead(o_orderkey, 2) OVER (PARTITION BY o_custkey ORDER BY "
                f"o_orderdate, o_orderkey) AS nk2 FROM orders WHERE o_custkey = "
                f"(SELECT o_custkey FROM orders WHERE o_orderkey = {k})) "
                f"WHERE o_orderkey = {k} AND nk2 IS NOT NULL")
    if t == "triangle":
        s = rng.randrange(c.n_suppliers)
        return (f"SELECT ?o ?p WHERE {{ ?o contains ?p . "
                f"?o suppliedby <supplier:{s}> . <supplier:{s}> supplies ?p }}",
                f"SELECT DISTINCT 'order:' || l.l_orderkey AS o, "
                f"'part:' || l.l_partkey AS p FROM lineitem l "
                f"WHERE l.l_orderkey IN (SELECT l_orderkey FROM lineitem "
                f"WHERE l_suppkey = {s}) AND l.l_partkey IN (SELECT l_partkey "
                f"FROM lineitem WHERE l_suppkey = {s})")
    raise ValueError(t)


def _pick(rng, mix):
    x, acc = rng.random(), 0.0
    for name, share in mix:
        acc += share
        if x < acc:
            return name
    return mix[-1][0]


def _schedule(rng, n):
    """`n` read templates in shuffled blocks of BLOCK that each hold
    every template READ_MIX times. The benchmark times whole blocks, so
    every run measures the same mix whatever the seed."""
    block = [t for t, k in READ_MIX for _ in range(k)]
    out = []
    while len(out) < n:
        rng.shuffle(block)
        out += block
    return out[:n]


def _reads(rng, c, prefix, templates):
    out = []
    for i, t in enumerate(templates):
        text, oracle = _read(t, rng, c)
        out.append({"id": f"{prefix}{i}", "template": t, "text": text, "oracle": oracle})
    return out


def _updates(rng, n):
    """The writer's op log: (id, template, text) with the triples each op
    deletes and inserts, generated against the state all earlier ops
    leave behind."""
    live = set()
    ops = []
    for i in range(n):
        t = _pick(rng, UPDATE_MIX)
        named = sorted(x for x in live if x[1] == "name")
        stat = sorted(x for x in live if x[1] == "status")
        if t == "delete" and named:
            victim = rng.choice(named)
            text = f'DELETE DATA {{ <{victim[0]}> name "{victim[2]}" }}'
            dels, ins = {victim}, set()
        elif t == "modify" and stat:
            subj = rng.choice(stat)[0]
            val = f"bench-v{i}"
            text = (f"DELETE {{ <{subj}> status ?x }} INSERT {{ <{subj}> status "
                    f'"{val}" }} WHERE {{ <{subj}> status ?x }}')
            dels = {x for x in live if x[0] == subj and x[1] == "status"}
            ins = {(subj, "status", val)}
        else:
            t = "insert"
            subj = f"bench:s{i}"
            p = rng.choice(UPDATE_PREDICATES)
            obj = f"bench-{i}" if p == "status" else f"bench:o{i}"
            o_text = f'"{obj}"' if p == "status" else f"<{obj}>"
            text = (f'INSERT DATA {{ <{subj}> name "bench-{i}" . '
                    f"<{subj}> {p} {o_text} }}")
            dels, ins = set(), {(subj, "name", f"bench-{i}"), (subj, p, obj)}
        live = (live - dels) | ins
        ops.append({"id": f"u{i}", "template": t, "text": text,
                    "del": sorted(dels), "ins": sorted(ins)})
    return ops


def predict(ops, n):
    """The bench triples after the first `n` ops of the log."""
    live = set()
    for op in ops[:n]:
        live = (live - {tuple(x) for x in op["del"]}) | {tuple(x) for x in op["ins"]}
    return live


def generate(workload, seed, corpus_dir, n_reads=3000, n_updates=200):
    """Requests of one run: {reads, warmup, updates, block}, each request
    with `id`, `template`, `text` (and `oracle` for reads). The warm-up
    is one request per template from a generator of its own, so the
    timed stream starts on a block boundary. The update op log is for
    the traced run, which replays it on a copy of the store."""
    if workload != "sparql_read":
        return {"reads": [], "warmup": [], "updates": [], "block": 1}
    c = Corpus(corpus_dir)
    rng = random.Random(seed)
    reads = _reads(rng, c, "r", _schedule(rng, n_reads))
    warmup = _reads(random.Random(seed * 7919 + 2), c, "w", [t for t, _ in READ_MIX])
    updates = _updates(random.Random(seed * 7919 + 1), n_updates)
    return {"reads": reads, "warmup": warmup, "updates": updates, "block": BLOCK}
