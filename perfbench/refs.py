"""Reference results the benchmark checks the program's outputs against.

None of this code calls the program under test: relational results are
checked against DuckDB over the same parquet files, document results
against a pure-Python evaluator over the generated document.
"""

from __future__ import annotations

import datetime
import decimal
import hashlib
import math

import duckdb

# Tables a DuckDB connection exposes as views over the parquet files.
TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")


def duck_connect(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    try:
        # NULL (not inf/nan) on float division by zero, the semantics the
        # gate's oracle SQL is written against
        con.execute("SET ieee_floating_point_ops=false")
    except duckdb.Error:
        pass
    con.execute("SET threads=1")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{sf_dir}/{t}.parquet')")
    return con


def canon(v):
    """Engine-neutral form of one value: Rows and structs become sorted
    (field, value) tuples, integral floats become ints, other floats keep
    12 significant digits (summation order moves only the bits below).
    Lists keep their order."""
    if hasattr(v, "asDict"):  # pyspark Row
        v = v.asDict(recursive=False)
    if isinstance(v, bool) or v is None or isinstance(v, (int, str)):
        return v
    if isinstance(v, decimal.Decimal):
        v = float(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if v == int(v) and abs(v) < 1e15:
            return int(v)
        return float(f"{v:.12g}")
    if isinstance(v, (list, tuple)):
        return tuple(canon(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((str(k), canon(x)) for k, x in v.items()))
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    return repr(v)


def row_keys(rows, cols) -> list[tuple]:
    """One canonical tuple per row, columns taken in sorted name order
    (case-insensitive, as the gate compares)."""
    order = sorted(range(len(cols)), key=lambda i: cols[i].lower())
    out = []
    for r in rows:
        vals = list(r.asDict().values()) if hasattr(r, "asDict") else list(r)
        out.append(tuple(canon(vals[i]) for i in order))
    return out


def digest(keys, ordered: bool) -> str:
    """Stable hash of a result: a multiset of row keys, or a sequence."""
    if not ordered:
        keys = sorted(keys, key=repr)
    h = hashlib.sha256()
    for k in keys:
        h.update(repr(k).encode())
        h.update(b"\n")
    return f"{len(keys)}:{h.hexdigest()}"


def duck_digest(con, sql: str, ordered: bool = False) -> str:
    rel = con.sql(sql)
    return digest(row_keys(rel.fetchall(), rel.columns), ordered)


def duck_same(con, sql_a: str, sql_b: str) -> bool:
    """Whether two DuckDB queries return the same multiset of rows
    (columns compared by position), computed inside DuckDB."""
    diff = con.sql(f"SELECT (SELECT count(*) FROM (({sql_a}) EXCEPT ALL ({sql_b}))) "
                   f"+ (SELECT count(*) FROM (({sql_b}) EXCEPT ALL ({sql_a})))")
    return diff.fetchone()[0] == 0


def spark_digest(rows, cols, ordered: bool = False) -> str:
    return digest(row_keys(rows, cols), ordered)


# ----------------------------------------------- document-mode evaluator


def _descendants(v):
    """Every value under ``v`` in pre-order, ``v`` itself first."""
    stack = [v]
    while stack:
        x = stack.pop()
        yield x
        if isinstance(x, dict):
            stack.extend(reversed(list(x.values())))
        elif isinstance(x, list):
            stack.extend(reversed(x))


def _find(doc, **eq):
    return [x for x in _descendants(doc) if isinstance(x, dict)
            and all(x.get(k) == want for k, want in eq.items())]


def _deep_field(doc, name):
    return [x[name] for x in _descendants(doc)
            if isinstance(x, dict) and name in x]


def doc_eval(template: str, lit: dict, doc: dict):
    """What the document-mode template ``template`` filled with ``lit``
    returns on ``doc``."""
    orders = doc["orders"]
    if template == "city":
        return [o["customer"]["address"]["city"] for o in orders]
    if template == "country_unique":
        seen: dict = {}
        for o in orders:
            seen.setdefault(o["customer"]["address"]["country_code"], None)
        return list(seen)
    if template == "filter_ids":
        return [o["id"] for o in orders if o["total"] > lit["t"]]
    if template == "count_status_priority":
        return sum(1 for o in orders
                   if o["status"] == lit["s"] and o["priority"] == lit["p"])
    if template == "find_status":
        return _find(doc, status=lit["s"])
    if template == "find_sku":
        return _find(doc, sku=lit["sku"])
    if template == "find_status_priority":
        return _find(doc, status=lit["s"], priority=lit["p"])
    if template == "deep_total_sum":
        return _fsum(_deep_field(doc, "total"))
    if template == "deep_sku":
        return _deep_field(doc, "sku")
    if template == "group_status":
        groups: dict = {}
        for o in orders:
            if o["total"] > lit["t"]:
                groups.setdefault(o["status"], []).append(o)
        return groups
    if template == "total_sum":
        return _fsum(o["total"] for o in orders)
    if template == "total_max":
        return max(o["total"] for o in orders)
    if template == "comp_ids":
        return [o["id"] for o in orders if o["total"] > lit["t"]]
    if template == "patch_meta":
        return {**doc["meta"], "version": lit["v"]}
    if template == "patch_delete":
        return sum(1 for o in orders if not o["total"] > lit["t"])
    raise KeyError(template)


def _fsum(xs) -> float:
    # left-to-right double accumulation; canon() keeps 12 significant
    # digits, so the last bits of a differently-ordered sum do not matter
    total = 0.0
    for x in xs:
        total += x
    return total
