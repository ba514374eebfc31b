"""Seeded operation streams and their expected outputs.

``adhoc_ops`` draws MDX statements from the templates in ``TEMPLATES``;
``ingest_batches`` derives document batches from the corpus.  The expected
output of every operation comes from DuckDB over the same parquet files:
one SQL shape per template, and for ingestion a NOT-EXISTS replay of the
batches against the corpus and the earlier acceptances.  The engine under
test is never consulted, so a wrong answer cannot agree with itself.
"""

from __future__ import annotations

import math
import random

from datagen import PRIORITIES, REGIONS, SEGMENTS, nation_region, random_text

# ---------------------------------------------------------------- model

#: MDX measure name -> DuckDB aggregate, as the Sales cube defines it
MEASURES = {
    "Sum Qty": "sum(l_quantity)",
    "Sum Price": "CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE)",
    "Sum Disc Price": (
        "CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))"
        " * (1 - CAST(l_discount AS DECIMAL(3,2)))) AS DOUBLE)"
    ),
    "Count Order": "count(l_orderkey)",
    "Max Price": "max(l_extendedprice)",
    "Min Price": "min(l_extendedprice)",
}
#: measures whose per-member values never tie at these scales (ORDER keys)
SORT_MEASURES = ["Sum Qty", "Sum Price", "Sum Disc Price"]

#: level -> (dimension, MDX set of all members, key columns in the star)
LEVELS = {
    "region": ("Customer", "[Customer].[Region].Members", ["r_name"]),
    "nation": ("Customer", "[Customer].[Nation].Members", ["r_name", "n_name"]),
    "flag": ("ReturnFlag", "[ReturnFlag].[ReturnFlag].Members", ["l_returnflag"]),
    "status": ("LineStatus", "[LineStatus].[LineStatus].Members", ["l_linestatus"]),
    "priority": ("Priority", "[Priority].[Priority].Members", ["o_orderpriority"]),
    "segment": ("Segment", "[Segment].[Segment].Members", ["c_mktsegment"]),
    "ptype": ("PartType", "[PartType].[Type].Members", ["p_type"]),
    "year": ("Time", "[Time].[Year].Members", ["o_year"]),
    "quarter": ("Time", "[Time].[Quarter].Members", ["o_year", "o_quarter"]),
}
YEARS = list(range(1995, 2001))  # full years of order dates

STAR_SQL = """
CREATE TABLE star AS
SELECT r_name, n_name, c_name, c_mktsegment, o_orderpriority,
       year(o_orderdate) AS o_year, 'Q' || quarter(o_orderdate) AS o_quarter,
       month(o_orderdate) AS o_month, l_returnflag, l_linestatus, p_type,
       l_orderkey, l_quantity, l_extendedprice, l_discount
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
JOIN part ON l_partkey = p_partkey
"""


def _q(s: str) -> str:
    return "'" + s.replace("'", "''") + "'"


class Draw:
    """The two random sources of a statement stream.  ``shape`` picks what
    a statement asks (levels, measures, slicer dimension, set functions) and
    is the same in every run of the stream; ``lit`` picks the members, years
    and thresholds it names and follows the seed.  Runs with different seeds
    then ask questions of about the same cost about different members."""

    def __init__(self, stream: str, seed: int):
        self.shape = random.Random(f"shape-{stream}")
        self.lit = random.Random(f"{stream}-{seed}")


def _where(r: Draw, exclude: set[str]):
    """A one-member WHERE clause on a dimension not in ``exclude``:
    (mdx, sql)."""
    kinds = [k for k in ("year", "quarter", "flag", "priority", "segment")
             if {"year": "Time", "quarter": "Time", "flag": "ReturnFlag",
                 "priority": "Priority", "segment": "Segment"}[k] not in exclude]
    kind = r.shape.choice(kinds)
    if kind == "year":
        y = r.lit.choice(YEARS)
        return f" WHERE [Time].[{y}]", f"o_year = {y}"
    if kind == "quarter":
        y, q = r.lit.choice(YEARS), r.lit.randint(1, 4)
        return f" WHERE [Time].[{y}].[Q{q}]", f"o_year = {y} AND o_quarter = 'Q{q}'"
    if kind == "flag":
        f = r.lit.choice("ANR")
        return f" WHERE [ReturnFlag].[{f}]", f"l_returnflag = '{f}'"
    if kind == "priority":
        p = r.lit.choice(PRIORITIES)
        return f" WHERE [Priority].[{p}]", f"o_orderpriority = {_q(p)}"
    g = r.lit.choice(SEGMENTS)
    return f" WHERE [Segment].[{g}]", f"c_mktsegment = {_q(g)}"


def _measures(r: Draw, must: str | None = None) -> list[str]:
    """Two measures in a random order, one of them ``must`` if given."""
    if must is None:
        return r.shape.sample(list(MEASURES), 2)
    ms = [must, r.shape.choice([m for m in MEASURES if m != must])]
    r.shape.shuffle(ms)
    return ms


def _cols(ms: list[str]) -> str:
    return "{" + ", ".join(f"[Measures].[{m}]" for m in ms) + "}"


def _grid_sql(keys, ms, pred) -> str:
    k = ", ".join(keys)
    aggs = ", ".join(MEASURES[m] for m in ms)
    return f"SELECT {k}, {aggs} FROM star WHERE {pred} GROUP BY {k}"


class Op(dict):
    """One operation: ``template``, ``mdx``, ``kind`` (select/drill) and the
    oracle ``sql`` plus how to compare (``order``: None, ``('desc', i)`` or
    ``('asc', i)`` — the measure column index rows must be sorted by)."""


def t_grid(r, stats):
    lv = r.shape.choice(list(LEVELS))
    dim, mset, keys = LEVELS[lv]
    ms = _measures(r)
    w, pred = _where(r, {dim})
    mdx = f"SELECT {_cols(ms)} ON COLUMNS, {mset} ON ROWS FROM [Sales]{w}"
    return Op(mdx=mdx, sql=_grid_sql(keys, ms, pred), n_keys=len(keys))


def t_crossjoin(r, stats):
    a, b = r.shape.sample(["region", "flag", "status", "priority", "segment", "year"], 2)
    (da, sa, ka), (db, sb, kb) = LEVELS[a], LEVELS[b]
    ms = _measures(r)
    w, pred = _where(r, {da, db})
    mdx = (f"SELECT {_cols(ms)} ON COLUMNS, CROSSJOIN({sa}, {sb}) ON ROWS "
           f"FROM [Sales]{w}")
    return Op(mdx=mdx, sql=_grid_sql(ka + kb, ms, pred), n_keys=len(ka + kb))


def _children(r):
    kind = r.shape.randrange(3)
    if kind == 0:
        reg = r.lit.choice(REGIONS)
        s, keys, p, dim = f"[Customer].[{reg}].Children", ["r_name", "n_name"], f"r_name = {_q(reg)}", "Customer"
    elif kind == 1:
        y = r.lit.choice(YEARS)
        s, keys, p, dim = f"[Time].[{y}].Children", ["o_year", "o_quarter"], f"o_year = {y}", "Time"
    else:
        y, q = r.lit.choice(YEARS), r.lit.randint(1, 4)
        s = f"[Time].[{y}].[Q{q}].Children"
        keys, p, dim = ["o_year", "o_quarter", "o_month"], f"o_year = {y} AND o_quarter = 'Q{q}'", "Time"
    return s, keys, p, dim


def _descendants(r):
    kind = r.shape.randrange(3)
    if kind == 0:
        reg = r.lit.choice(REGIONS)
        s = f"DESCENDANTS([Customer].[{reg}], [Customer].[Nation])"
        keys, p, dim = ["r_name", "n_name"], f"r_name = {_q(reg)}", "Customer"
    elif kind == 1:
        y = r.lit.choice(YEARS)
        s = f"DESCENDANTS([Time].[{y}], [Time].[Month])"
        keys, p, dim = ["o_year", "o_quarter", "o_month"], f"o_year = {y}", "Time"
    else:
        y = r.lit.choice(YEARS)
        s = f"DESCENDANTS([Time].[{y}], [Time].[Quarter])"
        keys, p, dim = ["o_year", "o_quarter"], f"o_year = {y}", "Time"
    return s, keys, p, dim


def t_navigation(r, stats):
    """``.Children`` or ``Descendants`` of a member, with a slicer."""
    ms = _measures(r)
    s, keys, p, dim = r.shape.choice([_children, _descendants])(r)
    w, pred = _where(r, {dim})
    mdx = f"SELECT {_cols(ms)} ON COLUMNS, {s} ON ROWS FROM [Sales]{w}"
    return Op(mdx=mdx, sql=_grid_sql(keys, ms, f"({p}) AND ({pred})"), n_keys=len(keys))


def t_order(r, stats):
    lv = r.shape.choice(["nation", "priority", "segment", "ptype", "quarter"])
    dim, mset, keys = LEVELS[lv]
    m = r.shape.choice(SORT_MEASURES)
    ms = _measures(r, must=m)
    flag = r.shape.choice(["BDESC", "BASC"])
    w, pred = _where(r, {dim})
    mdx = (f"SELECT {_cols(ms)} ON COLUMNS, ORDER({mset}, [Measures].[{m}], {flag}) "
           f"ON ROWS FROM [Sales]{w}")
    return Op(mdx=mdx, sql=_grid_sql(keys, ms, pred), n_keys=len(keys),
              order=(flag[1:].lower(), ms.index(m)))


def _topcount(r, on_columns: bool):
    lv = r.shape.choice(["nation", "quarter"])
    dim, mset, keys = LEVELS[lv]
    n = r.lit.randint(2, 8)
    m = r.shape.choice(SORT_MEASURES)
    if on_columns:
        ms = _measures(r, must=m)
    else:
        ms = r.shape.sample([x for x in MEASURES if x != m], 2)
    w, pred = _where(r, {dim})
    mdx = (f"SELECT {_cols(ms)} ON COLUMNS, TOPCOUNT({mset}, {n}, [Measures].[{m}]) "
           f"ON ROWS FROM [Sales]{w}")
    k = ", ".join(keys)
    aggs = ", ".join(MEASURES[x] for x in ms)
    sql = (f"SELECT {k}, {aggs} FROM star WHERE {pred} GROUP BY {k} "
           f"ORDER BY {MEASURES[m]} DESC LIMIT {n}")
    order = ("desc", ms.index(m)) if on_columns else None
    return Op(mdx=mdx, sql=sql, n_keys=len(keys), order=order)


def t_topcount(r, stats):
    return _topcount(r, True)


def _threshold(r, values: list[float]) -> float:
    """A cut strictly between two neighbouring member values, so the
    FILTER keeps some members and drops others."""
    v = sorted(values)
    i = r.lit.randrange(1, len(v))
    return math.floor((v[i - 1] + v[i]) / 2)


def _exists_filter(r, stats):
    y = r.lit.choice(YEARS)
    m = r.shape.choice(["Sum Qty", "Sum Price"])
    ms = _measures(r)
    pred = f"o_year = {y}"
    t = _threshold(r, stats(f"SELECT {MEASURES[m]} FROM star WHERE {pred} GROUP BY r_name"))
    mdx = (f"SELECT {_cols(ms)} ON COLUMNS, EXISTS([Customer].[Nation].Members, "
           f"FILTER([Customer].[Region].Members, [Measures].[{m}] > {t})) "
           f"ON ROWS FROM [Sales] WHERE [Time].[{y}]")
    keep = (f"r_name IN (SELECT r_name FROM star WHERE {pred} GROUP BY r_name "
            f"HAVING {MEASURES[m]} > {t})")
    return Op(mdx=mdx, sql=_grid_sql(["r_name", "n_name"], ms, f"{pred} AND {keep}"), n_keys=2)


def _except_filter(r, stats):
    m = r.shape.choice(["Sum Qty", "Sum Price"])
    ms = _measures(r)
    w, pred = _where(r, {"Customer"})
    t = _threshold(r, stats(
        f"SELECT {MEASURES[m]} FROM star WHERE {pred} GROUP BY r_name, n_name"))
    mdx = (f"SELECT {_cols(ms)} ON COLUMNS, EXCEPT([Customer].[Nation].Members, "
           f"FILTER([Customer].[Nation].Members, [Measures].[{m}] > {t})) "
           f"ON ROWS FROM [Sales]{w}")
    sql = _grid_sql(["r_name", "n_name"], ms, pred) + f" HAVING {MEASURES[m]} <= {t}"
    return Op(mdx=mdx, sql=sql, n_keys=2)


def t_filter_set(r, stats):
    """``EXISTS`` or ``EXCEPT`` over a ``FILTER`` computed set."""
    return r.shape.choice([_exists_filter, _except_filter])(r, stats)


def t_drillthrough(r, stats):
    y, mo = r.lit.choice(YEARS), r.lit.randint(1, 12)
    n = r.lit.randrange(25)
    nation, region = f"NATION_{n}", nation_region(n)
    mdx = (f"DRILLTHROUGH SELECT [Measures].[Sum Qty] ON COLUMNS FROM [Sales] "
           f"WHERE ([Time].[{y}].[Q{(mo - 1) // 3 + 1}].[{mo}], "
           f"[Customer].[{region}].[{nation}]) "
           f"RETURN [Customer].[Customer], [Measures].[Sum Qty]")
    sql = (f"SELECT c_name, l_quantity FROM star WHERE o_year = {y} "
           f"AND o_month = {mo} AND n_name = '{nation}'")
    return Op(mdx=mdx, sql=sql, kind="drill")


def t_defect_topcount_offaxis(r, stats):
    """TopCount ranked by a measure not on the columns axis (known defect:
    UNRESOLVED_COLUMN from query._top_bottom)."""
    return _topcount(r, False)


def t_defect_prevmember_set(r, stats):
    """A set literal holding ``.PrevMember`` of a quarter (known defect:
    CAST_INVALID_INPUT, 'PrevMember' cast to BIGINT)."""
    y, q = r.lit.choice(YEARS), r.lit.randint(2, 4)
    ms = _measures(r)
    w, pred = _where(r, {"Time"})
    mdx = (f"SELECT {_cols(ms)} ON COLUMNS, {{[Time].[{y}].[Q{q}].PrevMember, "
           f"[Time].[{y}].[Q{q}]}} ON ROWS FROM [Sales]{w}")
    p = f"o_year = {y} AND o_quarter IN ('Q{q - 1}', 'Q{q}')"
    return Op(mdx=mdx, sql=_grid_sql(["o_year", "o_quarter"], ms, f"({p}) AND ({pred})"),
              n_keys=2)


TEMPLATES = {
    "grid": t_grid,
    "crossjoin": t_crossjoin,
    "navigation": t_navigation,
    "order": t_order,
    "topcount": t_topcount,
    "filter_set": t_filter_set,
    "drillthrough": t_drillthrough,
    "defect_topcount_offaxis": t_defect_topcount_offaxis,
    "defect_prevmember_set": t_defect_prevmember_set,
}
#: templates that hit a known engine defect; their ops are expected to fail
KNOWN_DEFECTS = {"defect_topcount_offaxis", "defect_prevmember_set"}


def first_op(seed: int) -> Op:
    """The first statement after set-up: one fixed grid shape with a seeded
    year, so its cost does not depend on which template came first."""
    ms = ["Sum Qty", "Sum Price"]
    y = random.Random(seed).choice(YEARS)
    return Op(mdx=f"SELECT {_cols(ms)} ON COLUMNS, [Customer].[Region].Members ON ROWS "
                  f"FROM [Sales] WHERE [Time].[{y}]",
              sql=_grid_sql(["r_name"], ms, f"o_year = {y}"), n_keys=1,
              template="first", kind="select")


# ---------------------------------------------------------------- oracle

def connect(data_dir: str):
    import duckdb

    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in ("lineitem", "orders", "customer", "nation", "region", "part", "documents"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    con.execute(STAR_SQL)
    return con


def adhoc_ops(con, seed: int, n_blocks: int, avoid: set[str] = frozenset(),
              stream: str = "timed") -> list[Op]:
    """``n_blocks`` blocks, each one op per template, so every stream has
    the same template mix.  The order and shapes depend on ``stream`` only,
    the members and thresholds on ``seed`` too (see ``Draw``).  No statement
    repeats, within the stream or against ``avoid``."""
    r = Draw(stream, seed)
    seen = set(avoid)
    cache: dict[str, list] = {}

    def stats(sql):
        if sql not in cache:
            cache[sql] = [r[0] for r in con.execute(sql).fetchall()]
        return cache[sql]

    ops = []
    for _ in range(n_blocks):
        names = list(TEMPLATES)
        r.shape.shuffle(names)
        for name in names:
            while True:
                op = TEMPLATES[name](r, stats)
                if op["mdx"] not in seen:
                    break
            seen.add(op["mdx"])
            op["template"] = name
            op.setdefault("kind", "select")
            op["expected"] = con.execute(op["sql"]).fetchall()
            ops.append(op)
    return ops


def _close(a, b) -> bool:
    if a is None or b is None:
        return a is None and b is None
    if isinstance(a, str) or isinstance(b, str):
        return a == b
    return math.isclose(float(a), float(b), rel_tol=1e-9, abs_tol=1e-6)


def _norm_key(k) -> tuple:
    return tuple(int(x) if isinstance(x, float) and x.is_integer() else x for x in k)


def check_select(op: Op, pivot: dict) -> bool:
    """Compare an engine result's pivot (rows axis x measures) with the
    oracle rows: same member tuples, same cells, and for ordered templates
    rows in measure order."""
    rows = [_norm_key(r) for r in pivot["rows"]]
    got = {}
    for rk, vals in zip(rows, pivot["values"]):
        if any(v is not None for v in vals):
            got[rk] = vals
    n = op["n_keys"]
    want = {_norm_key(r[:n]): list(r[n:]) for r in op["expected"]}
    if set(got) != set(want):
        return False
    for k, vals in want.items():
        if len(got[k]) != len(vals) or not all(map(_close, got[k], vals)):
            return False
    order = op.get("order")
    if order:
        seq = [got[k][order[1]] for k in rows if k in got]
        ok = all(x >= y for x, y in zip(seq, seq[1:])) if order[0] == "desc" else \
            all(x <= y for x, y in zip(seq, seq[1:]))
        if not ok:
            return False
    return True


def check_drill(op: Op, rows: list) -> bool:
    got = sorted((r[0], float(r[1])) for r in rows)
    want = sorted((r[0], float(r[1])) for r in op["expected"])
    return got == want


# ---------------------------------------------------------------- ingest

BATCH_ID_BASE = 10_000_000


def ingest_batches(con, seed: int, n_batches: int, batch_docs: int) -> list[list[tuple]]:
    """Document batches derived from the corpus: exact corpus duplicates
    (some re-cased or padded, which fingerprint the same), repeats of
    earlier batches' texts, duplicates inside the batch, and fresh text —
    some of it too short for the quality rules."""
    rng = random.Random(seed)
    import numpy as np

    nrng = np.random.default_rng(seed)
    corpus = [r[0] for r in con.execute("SELECT text FROM documents ORDER BY doc_id").fetchall()]
    earlier: list[str] = []
    batches = []
    for b in range(n_batches):
        texts = []
        for _ in range(batch_docs):
            r = rng.random()
            if r < 0.2:
                t = rng.choice(corpus)
                t = rng.choice([t, t.upper(), f"  {t} "])
            elif r < 0.35 and earlier:
                t = rng.choice(earlier)
            elif r < 0.45 and texts:
                t = rng.choice(texts)
            else:
                t = random_text(nrng, rng.randint(5, 90))
            texts.append(t)
        earlier.extend(texts)
        base = BATCH_ID_BASE + b * 100_000
        batches.append([(base + i, t) for i, t in enumerate(texts)])
    return batches


def ingest_expected(con, batches: list[list[tuple]]) -> list[list[tuple]]:
    """NOT-EXISTS replay: per batch, keep the min-id copy of each
    fingerprint that passes the quality rules and is neither in the corpus
    nor among earlier acceptances.  Returns sorted (doc_id, dup_count)."""
    from mondrian_olap_spark.suite_pipeline import _REASON_SQL

    con.execute("CREATE OR REPLACE TABLE seen AS "
                "SELECT DISTINCT md5(lower(trim(text))) AS f FROM documents")
    out = []
    for batch in batches:
        con.execute("CREATE OR REPLACE TABLE batch (doc_id BIGINT, text VARCHAR)")
        con.executemany("INSERT INTO batch VALUES (?, ?)", batch)
        kept = con.execute(f"""
            WITH k AS (
              SELECT md5(lower(trim(text))) AS f, min(doc_id) AS keep_id,
                     count(*) AS dup_count
              FROM batch GROUP BY 1
            ),
            s AS (
              SELECT d.doc_id, d.text, k.f, k.dup_count
              FROM batch d JOIN k ON md5(lower(trim(d.text))) = k.f
                                 AND d.doc_id = k.keep_id
            )
            SELECT doc_id, dup_count, f FROM s
            WHERE ({_REASON_SQL}) IS NULL
              AND NOT EXISTS (SELECT 1 FROM seen WHERE seen.f = s.f)
            ORDER BY doc_id
        """).fetchall()
        con.executemany("INSERT INTO seen VALUES (?)", [(r[2],) for r in kept])
        out.append([(r[0], r[1]) for r in kept])
    return out
