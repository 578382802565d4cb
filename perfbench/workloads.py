"""The workloads: seeded request streams, the call each request makes
into the program's public API, and the reference it is checked against.

Every stream is a closed loop of one client. Requests come in cycles: a
cycle issues each template once, in a seeded order, so every seed runs the
same template mix and only literals, order and repeats differ. In each
cycle a fixed share of the slots re-issues an earlier string of the same
template, picked by Zipf-weighted popularity rank, so a cache keyed on the
expression string would see hits. The other slots issue a string not seen
before, where the template's literals allow one. Which templates repeat
rotates through a seeded order, so every template repeats equally often
and the first-seen requests of every seed have the same template mix:
with repeat slots drawn at random, one seed's window held 1 first-seen
``group_by`` and another's 6, and ``first_seen_latency_p50_ms`` moved
with the seed.

The repeat share and the Zipf exponent are assumptions, not measurements:
no query log of this program exists to fit them to. They are fixed here so
that every run and every commit sees the same traffic shape.
"""

from __future__ import annotations

import itertools
import os
import random
from dataclasses import dataclass, field

from jetro_spark import session
from jetro_spark.benchdoc import synth_doc
from jetro_spark.gate import all_oracles, all_queries
from jetro_spark.jql.engine import Jetro, JetroTables
from perfbench import refs

# Share of each cycle's slots that re-issue an earlier string (assumed).
REPEAT_SHARE = 0.34
# Exponent of the Zipf popularity law a repeat is drawn from (assumed).
ZIPF_S = 1.2
# Literal draws a slot makes to find a string not issued before.
FRESH_DRAWS = 20


@dataclass
class Request:
    rid: int
    template: str
    key: str                 # what the program receives: expression or row
    lit: dict = field(default_factory=dict)
    cycle_end: bool = False  # last request of its cycle


class Stream:
    """Infinite seeded request stream over ``templates``.

    ``templates`` maps a template name to ``fill(rng) -> (key, lit)``.
    ``REPEAT_SHARE`` of each cycle's slots (rounded down) repeat an
    earlier key of the same template when one exists, the repeating
    templates taken in turn from a seeded order; the other slots draw a
    key not issued before, giving up after ``FRESH_DRAWS`` draws.
    Templates named in ``fixed`` never repeat (their fill does not depend
    on the seed)."""

    def __init__(self, templates: dict, seed: int, fixed: tuple = ()):
        self.templates = templates
        self.rng = random.Random(seed)
        self.fixed = set(fixed)
        self.repeat_slots = int((len(templates) - len(fixed)) * REPEAT_SHARE)
        self.history: dict[str, list] = {t: [] for t in templates}
        self.rid = 0

    def _zipf(self, n: int) -> int:
        weights = [1.0 / (k + 1) ** ZIPF_S for k in range(n)]
        return self.rng.choices(range(n), weights=weights)[0]

    def __iter__(self):
        names = list(self.templates)
        turns = [n for n in names if n not in self.fixed]
        self.rng.shuffle(turns)
        turns = itertools.cycle(turns)
        while True:
            self.rng.shuffle(names)
            repeats = {next(turns) for _ in range(self.repeat_slots)}
            for slot, name in enumerate(names):
                past = self.history[name]
                if name in repeats and past:
                    key, lit = past[self._zipf(len(past))]
                else:
                    draws = 1 if name in self.fixed else FRESH_DRAWS
                    for _ in range(draws):
                        key, lit = self.templates[name](self.rng)
                        if all(key != k for k, _ in past):
                            past.append((key, lit))
                            break
                self.rid += 1
                yield Request(self.rid, name, key, dict(lit),
                              cycle_end=slot == len(names) - 1)


# ---------------------------------------------------------- rel_session

PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]

# name -> (jql template, DuckDB twin, result order matters, literal draw)
ADHOC = {
    "sort_take": (
        '$.orders.filter(o_totalprice > {t} and o_orderpriority == "{p}")'
        ".sort(-o_totalprice, o_orderkey).take({k})"
        ".map({{okey: o_orderkey, total: o_totalprice, status: o_orderstatus}})",
        "SELECT o_orderkey AS okey, o_totalprice AS total, "
        "o_orderstatus AS status FROM orders WHERE o_totalprice > {t} "
        "AND o_orderpriority = '{p}' "
        "ORDER BY o_totalprice DESC, o_orderkey LIMIT {k}",
        True,
        lambda r: {"t": r.randrange(50_000, 450_000, 1000),
                   "p": r.choice(PRIORITIES), "k": r.randrange(5, 51)}),
    "filter_map": (
        "$.lineitem.filter(l_quantity >= {q} and l_tax < {tx})"
        ".map({{okey: l_orderkey, part: l_partkey, qty: l_quantity, "
        "price: l_extendedprice}})",
        "SELECT l_orderkey AS okey, l_partkey AS part, l_quantity AS qty, "
        "l_extendedprice AS price FROM lineitem "
        "WHERE l_quantity >= {q} AND l_tax < {tx}",
        False,
        lambda r: {"q": r.randrange(48, 51),
                   "tx": f"0.0{r.randrange(3, 8)}5"}),
    "count_by": (
        "$.lineitem.filter(l_quantity > {q}).count_by({key})",
        "SELECT CAST({key} AS VARCHAR) AS key, count(*) AS value "
        "FROM lineitem WHERE l_quantity > {q} GROUP BY {key}",
        False,
        lambda r: {"q": r.randrange(1, 50),
                   "key": r.choice(["l_returnflag", "l_linestatus"])}),
    "group_by": (
        "$.orders.filter(o_totalprice > {t}).sort(-o_orderkey)"
        ".map({{okey: o_orderkey, total: o_totalprice, pri: o_orderpriority}})"
        ".group_by(pri)",
        "SELECT CAST(o_orderpriority AS VARCHAR) AS key, "
        "list({{'okey': o_orderkey, 'total': o_totalprice, "
        "'pri': o_orderpriority}} ORDER BY o_orderkey DESC) AS value "
        "FROM orders WHERE o_totalprice > {t} GROUP BY o_orderpriority",
        False,
        lambda r: {"t": r.randrange(480_000, 490_000, 100)}),
    "scalar_sum": (
        '$.lineitem.filter(l_discount > {d} and l_returnflag == "{f}")'
        ".map(l_quantity).sum()",
        "SELECT CAST(coalesce(sum(l_quantity), 0) AS DOUBLE) AS value "
        "FROM lineitem WHERE l_discount > {d} AND l_returnflag = '{f}'",
        False,
        lambda r: {"d": f"0.0{r.randrange(0, 10)}5",
                   "f": r.choice("ANR")}),
    "comp_join": (
        "[{{ok: o.o_orderkey, cname: c.c_name, tot: o.o_totalprice}}"
        " for o in $.orders for c in $.customer"
        " if o.o_custkey == c.c_custkey and o.o_totalprice > {t}"
        ' and c.c_mktsegment == "{seg}"]',
        "SELECT o.o_orderkey AS ok, c.c_name AS cname, o.o_totalprice AS tot "
        "FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey "
        "WHERE o.o_totalprice > {t} AND c.c_mktsegment = '{seg}'",
        False,
        lambda r: {"t": r.randrange(440_000, 480_000, 100),
                   "seg": r.choice(SEGMENTS)}),
}


def _adhoc_fill(name):
    jql, _sql, _ordered, draw = ADHOC[name]

    def fill(rng):
        lit = draw(rng)
        return jql.format(**lit), tuple(sorted(lit.items()))
    return fill


# Operator jobs the session runs, one per cycle in this fixed rotation:
# the Arrow mapInPandas boundary and a shuffle aggregation. Each row's
# first run is slow (Python workers start, code is generated); the two
# warm-up cycles run each row once, so no first run lands in the window.
BATCH_ROWS = ["normalize_text", "group_agg"]

SINK_SQL = ("SELECT l_orderkey AS okey, l_partkey AS part, "
            "l_quantity AS qty, l_returnflag AS flag FROM lineitem "
            "WHERE l_quantity > {q}")
SINK_JQL = ("$.lineitem.filter(l_quantity > {q})"
            ".map({{okey: l_orderkey, part: l_partkey, qty: l_quantity, "
            "flag: l_returnflag}})")


def _sink_fill(rng):
    lit = {"q": rng.randrange(38, 50),
           "cluster": rng.choice([("okey",), ("flag", "okey")])}
    return SINK_JQL.format(q=lit["q"]), tuple(sorted(lit.items()))


class RelSession:
    """Relational mode over the sf0.01 tables. Each cycle issues every
    JQL template once as ``JetroTables(...).query(expr).collect()``, one
    operator job (a gate row forced through the noop sink) and one layout
    write (``JetroTables.write_parquet(cluster_by=...)``)."""

    name = "rel_session"
    sf = 0.01
    cycle_seconds = 2.5  # nominal, 4 cores: sizes the timed window

    def __init__(self, sf_dir: str, scratch: str):
        # the registry the gate functions are looked up in (and wrapped
        # in, by a traced run)
        self.queries = all_queries()
        self.oracles = all_oracles()
        self.sf_dir = sf_dir
        self.scratch = scratch
        self.con = refs.duck_connect(sf_dir)
        self.expected: dict[str, str] = {}
        self.actual: dict[str, str] = {}

    def setup(self, spark):
        self.spark = spark
        self.tables = session.load_tables(spark, self.sf_dir, register=False)

    def stream(self, seed: int):
        rows = itertools.cycle(BATCH_ROWS)
        templates = {n: _adhoc_fill(n) for n in ADHOC}
        templates["gate"] = lambda rng: (next(rows), ())
        templates["sink"] = _sink_fill
        return Stream(templates, seed, fixed=("gate",))

    def _sink_dir(self, req: Request) -> str:
        return os.path.join(self.scratch, f"sink-{req.rid}")

    def run(self, req: Request):
        if req.template == "gate":
            df = self.queries[req.key](self.spark, self.sf_dir)
            df.write.format("noop").mode("overwrite").save()
            return df
        jt = JetroTables(self.spark, self.tables)
        if req.template == "sink":
            jt.write_parquet(req.key, self._sink_dir(req),
                             cluster_by=list(req.lit["cluster"]))
            return None
        df = jt.query(req.key)
        return df.collect(), df

    def check(self, req: Request, out) -> bool:
        if req.template == "sink":
            return refs.duck_same(
                self.con,
                f"SELECT * FROM read_parquet('{self._sink_dir(req)}/*.parquet')",
                SINK_SQL.format(q=req.lit["q"]))
        if req.template == "gate":
            # each distinct row is collected once per run
            got = self.actual.get(req.key)
            if got is None:
                got = self.actual[req.key] = refs.spark_digest(
                    out.collect(), out.columns)
            sql, ordered = self.oracles[req.key], False
        else:
            rows, df = out
            got = None
            _jql, sql, ordered, _draw = ADHOC[req.template]
            sql = sql.format(**req.lit)
        want = self.expected.get(req.key)
        if want is None:
            want = self.expected[req.key] = refs.duck_digest(
                self.con, sql, ordered)
        if got is None:
            got = refs.spark_digest(rows, df.columns, ordered)
        return got == want


# ---------------------------------------------------------- doc_session

DOC_STATUSES = ["pending", "shipped", "delivered", "cancelled", "refunded"]
DOC_PRIORITIES = ["low", "normal", "high", "urgent"]


def _doc_templates(n_orders: int, items: int) -> dict:
    # thresholds keep 5-15% of the orders, so literals change the strings
    # far more than the work
    t_draw = lambda r: {"t": r.randrange(9_000, 11_000, 10)}  # noqa: E731
    sp_draw = lambda r: {"s": r.choice(DOC_STATUSES),  # noqa: E731
                         "p": r.choice(DOC_PRIORITIES)}
    return {
        "city": ("$.orders.map(customer.address.city)", lambda r: {}),
        "country_unique": (
            "$.orders.map(customer.address.country_code).unique()",
            lambda r: {}),
        "filter_ids": ("$.orders.filter(total > {t}).map(id)", t_draw),
        "count_status_priority": (
            '$.orders.filter(status == "{s}" and priority == "{p}").count()',
            sp_draw),
        "find_status": ('$..find(@.status == "{s}")',
                        lambda r: {"s": r.choice(DOC_STATUSES)}),
        "find_sku": (
            '$..find(@.sku == "{sku}")',
            lambda r: {"sku": f"SKU-{r.randrange(min(n_orders * items, 9973)):05d}"}),
        "find_status_priority": (
            '$..find(@.status == "{s}", @.priority == "{p}")', sp_draw),
        "deep_total_sum": ("$..total.sum()", lambda r: {}),
        "deep_sku": ("$..sku", lambda r: {}),
        "group_status": ("$.orders.filter(total > {t}).group_by(status)",
                         t_draw),
        "total_sum": ("$.orders.map(total).sum()", lambda r: {}),
        "total_max": ("$.orders.map(total).max()", lambda r: {}),
        "comp_ids": ("[o.id for o in $.orders if o.total > {t}]", t_draw),
        "patch_meta": ("patch $ {{ meta.version: {v} }} | @.meta",
                       lambda r: {"v": r.randrange(2, 1000)}),
        "patch_delete": (
            "patch $ {{ orders[* if total > {t}]: DELETE }} | @.orders.count()",
            t_draw),
    }


class DocSession:
    """Document mode: one ingested bench_lock-shaped document, then
    ``Jetro.collect`` calls (reads and ``patch`` writes)."""

    name = "doc_session"
    n_orders = 1_000
    items = 6
    cycle_seconds = 1.0

    def __init__(self):
        self.doc = synth_doc(self.n_orders, self.items)
        self.templates = _doc_templates(self.n_orders, self.items)
        self.expected: dict[str, str] = {}

    def setup(self, spark):
        self.spark = spark
        self.jt = Jetro.from_value(spark, self.doc)

    def stream(self, seed: int):
        def filler(name):
            tmpl, draw = self.templates[name]

            def fill(rng):
                lit = draw(rng)
                return tmpl.format(**lit), tuple(sorted(lit.items()))
            return fill
        return Stream({n: filler(n) for n in self.templates}, seed)

    def run(self, req: Request):
        return self.jt.collect(req.key)

    def check(self, req: Request, value) -> bool:
        want = self.expected.get(req.key)
        if want is None:
            want = self.expected[req.key] = refs.doc_eval(
                req.template, req.lit, self.doc)
        return value == want or refs.canon(value) == refs.canon(want)
