"""Seeded ad-hoc statements from the engine's SQL subset.

The subset is what the paper's engine plans: projection (including
`*`), WHERE with comparisons joined by AND/OR, inner equi- and theta
joins, cross joins of the two small dimension tables, GROUP BY/HAVING
with min/max/sum/count/avg, and LIMIT. Tables are quoted parquet paths.
There is no ORDER BY, so every LIMIT result is checked as a subset of
the unlimited result.

Every block of `BLOCK` statements has the same mix (`BLOCK_PLAN`): a
fixed share re-runs an earlier statement verbatim (a REPL user
re-running a query), a fixed share must fail with a named `EngineError`
subclass, and the rest are drawn from the templates below.

sum/avg only see integer-valued columns, so both engines add exactly
and compare bit for bit; money columns appear only in min/max and
comparisons against integer literals.
"""

from __future__ import annotations

import os
import random
from collections import Counter
from dataclasses import dataclass

# The dataset every workload reads: the repository's ten-table layout at
# scale factor 0.01 (60k lineitem rows), fixed so that runs with
# different seeds read the same bytes.
DATA_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.01")

ERROR_CLASSES = ("ParserError", "PlannerError", "StorageError")
SMALL_TABLES = ("region", "nation")

# column kinds: "int" (exact sum/avg), "intd" (integer-valued double),
# "money" (two-decimal double), "str", "ts".
COLUMNS: dict[str, dict[str, str]] = {
    "region": {"r_regionkey": "int", "r_name": "str"},
    "nation": {"n_nationkey": "int", "n_name": "str", "n_regionkey": "int"},
    "supplier": {
        "s_suppkey": "int", "s_name": "str", "s_nationkey": "int",
        "s_acctbal": "money",
    },
    "customer": {
        "c_custkey": "int", "c_name": "str", "c_nationkey": "int",
        "c_acctbal": "money", "c_mktsegment": "str",
    },
    "part": {
        "p_partkey": "int", "p_name": "str", "p_brand": "str", "p_type": "str",
        "p_size": "int", "p_retailprice": "money",
    },
    "orders": {
        "o_orderkey": "int", "o_custkey": "int", "o_orderstatus": "str",
        "o_totalprice": "money", "o_orderdate": "ts", "o_orderpriority": "str",
    },
    "lineitem": {
        "l_orderkey": "int", "l_partkey": "int", "l_suppkey": "int",
        "l_linenumber": "int", "l_quantity": "intd", "l_extendedprice": "money",
        "l_discount": "money", "l_tax": "money", "l_returnflag": "str",
        "l_linestatus": "str", "l_shipdate": "ts",
    },
    "events": {
        "event_id": "int", "ts": "ts", "user_id": "int", "event_type": "str",
        "value": "money", "props": "str",
    },
}
KEYS = {
    "region": "r_regionkey", "nation": "n_nationkey", "supplier": "s_suppkey",
    "customer": "c_custkey", "part": "p_partkey", "orders": "o_orderkey",
    "lineitem": "l_orderkey", "events": "event_id",
}
# Low-cardinality columns: GROUP BY keys that keep results small.
GROUPS = {
    "region": ["r_name"],
    "nation": ["n_regionkey"],
    "supplier": ["s_nationkey"],
    "customer": ["c_mktsegment", "c_nationkey"],
    "part": ["p_type", "p_brand", "p_size"],
    "orders": ["o_orderstatus", "o_orderpriority"],
    "lineitem": ["l_returnflag", "l_linestatus", "l_linenumber"],
    "events": ["event_type"],
}
OPS = {
    "lt_gt": ["<", ">"],
    "range": ["<", ">", "<=", ">="],
    "cmp": ["<", ">", "="],
    "eq": ["=", "<>"],
}
# Comparison predicates per table: (column, OPS key, literal choices).
PREDICATES = {
    "region": [("r_regionkey", "lt_gt", [1, 2, 3])],
    "nation": [("n_regionkey", "cmp", [0, 2, 4]), ("n_name", "eq", ["'NATION_3'", "'NATION_17'"])],
    "supplier": [("s_acctbal", "lt_gt", [0, 2500, 5000]), ("s_nationkey", "range", [5, 12, 20])],
    "customer": [
        ("c_acctbal", "lt_gt", [0, 2500, 5000, 9000]),
        ("c_mktsegment", "eq", ["'BUILDING'", "'MACHINERY'"]),
        ("c_nationkey", "range", [3, 10, 21]),
    ],
    "part": [("p_size", "range", [5, 25, 45]), ("p_type", "eq", ["'PROMO'", "'LARGE'"]), ("p_retailprice", "lt_gt", [1000, 1500])],
    "orders": [
        ("o_totalprice", "lt_gt", [50000, 250000, 400000]),
        ("o_orderstatus", "eq", ["'F'", "'O'"]),
        ("o_orderpriority", "eq", ["'1-URGENT'", "'5-LOW'"]),
    ],
    "lineitem": [
        ("l_quantity", "lt_gt", [10, 25, 45]),
        ("l_discount", "lt_gt", [0.02, 0.05, 0.08]),
        ("l_returnflag", "eq", ["'R'", "'A'"]),
        ("l_linenumber", "range", [2, 4, 6]),
        ("l_extendedprice", "lt_gt", [20000, 60000]),
    ],
    "events": [
        ("value", "lt_gt", [10, 50, 150]),
        ("event_type", "eq", ["'click'", "'purchase'"]),
        ("user_id", "lt_gt", [20, 100]),
    ],
}
# Inner equi-joins: (left table, alias, right table, alias, ON clause).
JOINS = [
    ("lineitem", "l", "orders", "o", "l.l_orderkey = o.o_orderkey"),
    ("orders", "o", "customer", "c", "o.o_custkey = c.c_custkey"),
    ("customer", "c", "nation", "n", "c.c_nationkey = n.n_nationkey"),
    ("supplier", "s", "nation", "n", "s.s_nationkey = n.n_nationkey"),
    ("nation", "n", "region", "r", "n.n_regionkey = r.r_regionkey"),
    ("lineitem", "l", "part", "p", "l.l_partkey = p.p_partkey"),
    ("lineitem", "l", "supplier", "s", "l.l_suppkey = s.s_suppkey"),
]


@dataclass(frozen=True)
class Statement:
    sql: str
    expect: str | None = None  # EngineError subclass name, or None for success
    limit: int | None = None  # top-level LIMIT: the result is a subset check

    @property
    def unlimited(self) -> str:
        """The statement without its top-level LIMIT."""
        return self.sql if self.limit is None else self.sql.rsplit(" LIMIT ", 1)[0]


class _Gen:
    def __init__(self, rng: random.Random, data_dir: str, rows: dict[str, int]):
        self.rng = rng
        self.dir = data_dir
        self.rows = rows
        self.turns: Counter[str] = Counter()

    def rotate(self, template: str, options: list):
        """The template's next table (or join) in a fixed rotation, so the
        tables a run reads do not depend on the seed."""
        i = self.turns[template]
        self.turns[template] += 1
        return options[i % len(options)]

    def path(self, table: str) -> str:
        return f"'{self.dir}/{table}.parquet'"

    def pred(self, table: str, alias: str = "") -> str:
        col, ops, lits = self.rng.choice(PREDICATES[table])
        op = self.rng.choice(OPS[ops])
        return f"{alias}{col} {op} {self.rng.choice(lits)}"

    def where(self, table: str, alias: str = "", p: float = 0.7) -> str:
        if self.rng.random() >= p:
            return ""
        parts = [self.pred(table, alias)]
        if self.rng.random() < 0.4:
            joiner = self.rng.choice([" AND ", " OR "])
            parts.append(joiner + self.pred(table, alias))
        return " WHERE " + "".join(parts)

    def aggs(self, table: str, alias: str = "", n_max: int = 3) -> list[str]:
        cols = COLUMNS[table]
        out = []
        for i in range(self.rng.randint(1, n_max)):
            fn = self.rng.choice(["count", "min", "max", "sum", "avg"])
            if fn == "count":
                arg = self.rng.choice(["*", alias + self.rng.choice(list(cols))])
            elif fn in ("sum", "avg"):
                arg = alias + self.rng.choice([c for c, k in cols.items() if k in ("int", "intd")])
            else:
                arg = alias + self.rng.choice(list(cols))
            out.append(f"{fn}({arg}) AS a{i}")
        return out

    def having(self, table: str, alias: str = "") -> str:
        if self.rng.random() >= 0.35:
            return ""
        if self.rng.random() < 0.6:
            return f" HAVING count(*) > {self.rng.choice([1, 10, 100])}"
        col = self.rng.choice([c for c, k in COLUMNS[table].items() if k in ("int", "intd")])
        return f" HAVING min({alias}{col}) >= {self.rng.choice([0, 1, 5])}"

    def big_table(self, template: str) -> str:
        return self.rotate(template, ["lineitem", "orders", "customer", "part", "supplier", "events"])

    # -- statement templates ------------------------------------------------

    def group_agg(self) -> Statement:
        t = self.rotate("group_agg", list(GROUPS))
        gs = self.rng.sample(GROUPS[t], self.rng.randint(1, min(2, len(GROUPS[t]))))
        sel = ", ".join(gs + self.aggs(t))
        return Statement(
            f"SELECT {sel} FROM {self.path(t)}{self.where(t)}"
            f" GROUP BY {', '.join(gs)}{self.having(t)}"
        )

    def global_agg(self) -> Statement:
        t = self.big_table("global_agg")
        return Statement(f"SELECT {', '.join(self.aggs(t))} FROM {self.path(t)}{self.where(t)}")

    def limit_projection(self) -> Statement:
        t = self.big_table("limit_projection")
        cols = list(COLUMNS[t])
        sel = "*" if self.rng.random() < 0.4 else ", ".join(self.rng.sample(cols, self.rng.randint(1, 3)))
        n = self.rng.choice([1, 5, 10, 20, 50])
        return Statement(f"SELECT {sel} FROM {self.path(t)}{self.where(t)} LIMIT {n}", limit=n)

    def key_range(self) -> Statement:
        t = self.big_table("key_range")
        key = KEYS[t]
        lo = self.rng.randrange(max(1, self.rows[t] - 50))
        span = self.rng.choice([5, 10, 25])
        if t == "lineitem":
            span //= 5  # ~4 lines per order key
        sel = "*" if self.rng.random() < 0.5 else ", ".join(
            dict.fromkeys([key] + self.rng.sample(list(COLUMNS[t]), 2))
        )
        extra = f" AND {self.pred(t)}" if self.rng.random() < 0.4 else ""
        return Statement(
            f"SELECT {sel} FROM {self.path(t)} WHERE {key} >= {lo} AND {key} < {lo + span}{extra}"
        )

    def join_agg(self) -> Statement:
        lt, la, rt, ra, on = self.rotate("join_agg", JOINS)
        g = f"{ra}.{self.rng.choice(GROUPS[rt])}"
        sel = ", ".join([g] + self.aggs(lt, f"{la}.", 2))
        where = self.where(rt, f"{ra}.", 0.5)
        return Statement(
            f"SELECT {sel} FROM {self.path(lt)} {la} JOIN {self.path(rt)} {ra} ON {on}"
            f"{where} GROUP BY {g}{self.having(lt, f'{la}.')}"
        )

    def join_range(self) -> Statement:
        lo = self.rng.randrange(max(1, self.rows["orders"] - 50))
        span = self.rng.choice([2, 5, 10])
        return Statement(
            f"SELECT o.o_orderkey, o.o_orderstatus, l.l_linenumber, l.l_quantity"
            f" FROM {self.path('lineitem')} l JOIN {self.path('orders')} o"
            f" ON l.l_orderkey = o.o_orderkey"
            f" WHERE o.o_orderkey >= {lo} AND o.o_orderkey < {lo + span}"
        )

    def theta_join(self) -> Statement:
        if self.rng.random() < 0.5:
            op = self.rng.choice(["<", "<>", ">="])
            return Statement(
                f"SELECT a.n_name AS left_name, b.n_name AS right_name"
                f" FROM {self.path('nation')} a JOIN {self.path('nation')} b"
                f" ON a.n_regionkey = b.n_regionkey AND a.n_nationkey {op} b.n_nationkey"
            )
        op = self.rng.choice(["<", "<=", ">"])
        return Statement(
            f"SELECT r.r_name, count(*) AS a0, max(s.s_acctbal) AS a1"
            f" FROM {self.path('supplier')} s JOIN {self.path('region')} r"
            f" ON s.s_nationkey {op} r.r_regionkey GROUP BY r.r_name"
        )

    def cross_join(self) -> Statement:
        form = self.rng.random()
        if form < 0.4:
            src = f"{self.path('region')} r, {self.path('nation')} n"
        else:
            src = f"{self.path('region')} r CROSS JOIN {self.path('nation')} n"
        if form < 0.7:
            return Statement(
                f"SELECT r.r_name, n.n_name FROM {src}"
                f" WHERE n.n_regionkey {self.rng.choice(['=', '<>', '<'])} r.r_regionkey"
            )
        return Statement(
            f"SELECT r.r_name, count(*) AS a0, sum(n.n_nationkey) AS a1 FROM {src} GROUP BY r.r_name"
        )

    def error(self) -> Statement:
        kind = self.rotate("error_class", list(ERROR_CLASSES))
        t = self.big_table("error")
        col = self.rng.choice(list(COLUMNS[t]))
        if kind == "ParserError":
            sql = self.rng.choice([
                f"SELECT {col} FROM {self.path(t)} WHERE {col} >",
                f"SELECT {col},, {col} FROM {self.path(t)}",
                f"SELECT ({col} FROM {self.path(t)}",
                f"SELECT {col} FROM {self.path(t)} LIMIT 5 5",
            ])
        elif kind == "PlannerError":
            sql = self.rng.choice([
                f"SELECT no_such_column FROM {self.path(t)}",
                f"SELECT {col}, count(*) AS a0 FROM {self.path(t)} GROUP BY {KEYS[t]}"
                if col != KEYS[t] else f"SELECT {col} FROM {self.path(t)} WHERE missing_col > 1",
                f"SELECT sum(no_such_column) AS a0 FROM {self.path(t)}",
            ])
        else:
            sql = f"SELECT * FROM '{self.dir}/missing_{t}.parquet' LIMIT 5"
        return Statement(sql, expect=kind)


# The mix follows the repository's SQL logic tests: `slt_mix.py` sorts
# the records of tests/slt (select, filter, joins, aggregates, having,
# limit, errors) into these templates. Their counts are apportioned to
# the 16 fresh statements of a block by largest remainder, each template
# keeping at least one slot so the whole subset runs in every block.
CORPUS_COUNTS = {
    "key_range": 17, "global_agg": 10, "group_agg": 10, "error": 10,
    "join_range": 6, "limit_projection": 5, "theta_join": 1,
    "cross_join": 1, "join_agg": 1,
}
FRESH = 16
# The corpus has no repeated statement, so the repeat share is a choice,
# not a measurement: one statement in five re-runs an earlier one, as a
# REPL user re-running a query after reading its result.
REPEATS = 4


def _apportion(counts: dict[str, int], slots: int) -> dict[str, int]:
    """Largest-remainder shares of `slots`; a template whose share is
    below one slot gets exactly one, and the rest share what is left."""
    total = sum(counts.values())
    out = {k: 1 for k, v in counts.items() if v * slots < total}
    rest = {k: v for k, v in counts.items() if k not in out}
    free, total = slots - len(out), sum(rest.values())
    shares = {k: free * v / total for k, v in rest.items()}
    out.update({k: int(share) for k, share in shares.items()})
    left = slots - sum(out.values())
    for k in sorted(shares, key=lambda k: int(shares[k]) - shares[k])[:left]:
        out[k] += 1
    return out


# One block of BLOCK statements: a fixed count per template, so every
# seed runs the same mix of statement kinds, in a seeded order.
BLOCK_PLAN = {"repeat": REPEATS, **_apportion(CORPUS_COUNTS, FRESH)}
BLOCK = sum(BLOCK_PLAN.values())
REPEAT_SHARE = BLOCK_PLAN["repeat"] / BLOCK
ERROR_SHARE = BLOCK_PLAN["error"] / BLOCK


def generate(seed: int, data_dir: str, rows: dict[str, int], n: int) -> list[Statement]:
    """`n` statements over the tables in `data_dir`; `rows` gives each
    table's row count (for key ranges). Same arguments, same list."""
    rng = random.Random(seed)
    gen = _Gen(rng, data_dir, rows)
    # A repeat re-runs an earlier statement of the next template in a fixed
    # rotation over the fresh slots, so repeats keep the block's mix.
    fresh = [k for k, count in BLOCK_PLAN.items() if k != "repeat" for _ in range(count)]
    earlier: dict[str, list[Statement]] = {k: [] for k in fresh}
    out: list[Statement] = []
    while len(out) < n:
        kinds = [k for k, count in BLOCK_PLAN.items() for _ in range(count)]
        rng.shuffle(kinds)
        if not out:  # repeats wait until every template has run once
            kinds.sort(key=lambda k: k == "repeat")
        for kind in kinds:
            if kind == "repeat":
                out.append(rng.choice(earlier[gen.rotate("repeat", fresh)]))
            else:
                out.append(getattr(gen, kind)())
                earlier[kind].append(out[-1])
    return out[:n]
