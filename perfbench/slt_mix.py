#!/usr/bin/env python3
"""Count the records of the repository's SQL logic tests by statement
template, the source of `sqlgen.CORPUS_COUNTS`.

    python3 perfbench/slt_mix.py [tests/slt]

Only the files that cover the paper's subset are read (select, filter,
joins, aggregates, having, limit, errors). Each record goes to the first
template whose shape it has; a record with no table (`select 1 + 2`) is
counted as `no_table` and left out of the mix.
"""

from __future__ import annotations

import os
import re
import sys
from collections import Counter

FILES = ["select", "filter", "joins", "aggregates", "having", "limit", "errors"]
AGG = re.compile(r"\b(min|max|sum|count|avg)\s*\(")


def records(path: str):
    """(header, sql) for every query/statement record of one .slt file."""
    lines = open(path).read().splitlines()
    i = 0
    while i < len(lines):
        head = lines[i]
        i += 1
        if not head.startswith(("query", "statement")):
            continue
        sql = []
        while i < len(lines) and lines[i].strip() and lines[i] != "----":
            sql.append(lines[i])
            i += 1
        yield head, " ".join(sql).lower()


def template(head: str, sql: str) -> str:
    if "error" in head:
        return "error"
    tables = re.findall(r"'[^']*\.parquet'", sql)
    if not tables:
        return "no_table"
    if len(tables) > 1:
        if " cross join " in sql or re.search(r"\.parquet'( \w+)?\s*,", sql):
            return "cross_join"
        if " group by " in sql or AGG.search(sql):
            return "join_agg"
        on = sql.split(" on ", 1)[1] if " on " in sql else ""
        return "theta_join" if re.search(r"<|>|!=", on) else "join_range"
    if " group by " in sql:
        return "group_agg"
    if AGG.search(sql):
        return "global_agg"
    if " limit " in sql:
        return "limit_projection"
    return "key_range"  # a projection, filtered or not


def count(slt_dir: str) -> Counter:
    out: Counter = Counter()
    for name in FILES:
        for head, sql in records(os.path.join(slt_dir, f"{name}.slt")):
            if head.startswith("statement ok"):
                continue  # set-up statements, not queries
            out[template(head, sql)] += 1
    return out


if __name__ == "__main__":
    counts = count(sys.argv[1] if len(sys.argv) > 1 else os.path.join("tests", "slt"))
    for k, v in counts.most_common():
        print(f"{k:18s} {v}")
