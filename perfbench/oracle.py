"""DuckDB side of the correctness gate.

Each operation carries DuckDB twins (graft's registered `OracleSql`
SQL, re-pointed at the generated inputs). The expected row count is the
sum of the twins' row counts; an operation with a single twin also has
an expected order-invariant checksum. The Spark side is the result the
harness wrote during its warm-up pass, read back through DuckDB, so one
canonicalisation serves both engines.

Twins of one workload often open with the same CTEs (every curation twin
derives the same LSH pairs first). `Oracle` computes such a CTE once into
a temporary table and lets later twins read it.
"""
import datetime
import decimal
import hashlib
import os
import re

import duckdb

TPCH = ("region", "nation", "customer", "supplier", "part", "orders",
        "lineitem", "events", "documents", "embeddings")


def connect(in_dir, tmp_dir):
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    con.execute("SET memory_limit = '2GB'")
    con.execute(f"SET temp_directory = '{tmp_dir}'")
    con.execute("SET TimeZone = 'UTC'")
    for t in TPCH:
        p = os.path.join(in_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con


def _cell(v):
    if v is None:
        return "\\N"
    if isinstance(v, bool):
        return str(v)
    if isinstance(v, float):
        return "nan" if v != v else format(v, ".9g")
    if isinstance(v, decimal.Decimal):
        return format(float(v), ".9g")
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_cell(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{_cell(v[k])}" for k in sorted(v)) + "}"
    return str(v)


def checksum(cols, rows):
    """Order-invariant checksum of a result: columns in name order, each
    row canonicalised and hashed, the hashes summed mod 2^64."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    total = 0
    for r in rows:
        line = "\x1f".join(_cell(r[i]) for i in order).encode()
        total += int.from_bytes(hashlib.blake2b(line, digest_size=8).digest(), "big")
    return "%s:%016x" % (",".join(sorted(cols)), total % (1 << 64))


# A CTE definition: `name AS (` after WITH or a comma.
_CTE = re.compile(r"(^|WITH\s+|,\s*)([A-Za-z_][A-Za-z0-9_]*) AS \(", re.M)


def materialized(sql):
    """The twin with every CTE materialized once. DuckDB otherwise inlines
    a CTE at each reference, and the graph twins reference the LSH pair
    CTEs at every iteration (measured 32 s for one PageRank twin on a
    1,200-doc corpus, 0.5 s materialized). Same rows either way."""
    return _CTE.sub(lambda m: f"{m.group(1)}{m.group(2)} AS MATERIALIZED (", sql)


_WITH = re.compile(r"\s*WITH\s+(RECURSIVE\s+)?", re.I)
_DEF = re.compile(r"([A-Za-z_][A-Za-z0-9_]*)(\s*\([^()]*\))?\s+AS\s+(?:MATERIALIZED\s+)?\(", re.I)
_SEP = re.compile(r"\s*,\s*")


def _close(sql, i):
    """Index of the parenthesis closing the one at `i`, skipping quoted text."""
    depth, quote = 0, None
    for j in range(i, len(sql)):
        c = sql[j]
        if quote:
            if c == quote:
                quote = None
        elif c in "'\"":
            quote = c
        elif c == "(":
            depth += 1
        elif c == ")":
            depth -= 1
            if depth == 0:
                return j
    raise ValueError("unbalanced parentheses")


def split_ctes(sql):
    """(head, [(name, columns, body)], tail) of a twin's top-level WITH
    list, or None when the twin does not open with one."""
    m = _WITH.match(sql)
    if not m:
        return None
    i, ctes = m.end(), []
    while True:
        d = _DEF.match(sql, i)
        if not d:
            return None
        j = _close(sql, d.end() - 1)
        ctes.append((d.group(1), d.group(2) or "", sql[d.end():j]))
        sep = _SEP.match(sql, j + 1)
        if not sep:
            return sql[:m.end()], ctes, sql[j + 1:]
        i = sep.end()


def _refs(body, names):
    return [n for n in names if re.search(r"\b%s\b" % re.escape(n), body)]


class Oracle:
    """A DuckDB connection over the generated inputs that evaluates twins.
    A CTE that reads only inputs and other such CTEs is keyed by its body
    with each referenced CTE replaced by that CTE's key; the first twin to
    reach a key computes it into a temporary table, and every twin then
    reads that table in its place. A recursive CTE and the CTEs that read
    it stay inline."""

    def __init__(self, in_dir, tmp_dir):
        self.con = connect(in_dir, tmp_dir)
        self.tables = {}

    def _hoisted(self, sql):
        parts = split_ctes(sql)
        if parts is None:
            return sql
        head, ctes, tail = parts
        keys, out = {}, []
        for name, cols, body in ctes:
            refs = _refs(body, [n for n, _, _ in ctes])
            if cols or any(r not in keys for r in refs):
                out.append(f"{name}{cols} AS ({body})")
                continue
            canon = body
            for r in refs:
                canon = re.sub(r"\b%s\b" % re.escape(r), keys[r], canon)
            if canon not in self.tables:
                table = f"twin_cte_{len(self.tables)}"
                self.con.execute(f"CREATE TEMP TABLE {table} AS {canon}")
                self.tables[canon] = table
            keys[name] = self.tables[canon]
            out.append(f"{name} AS (SELECT * FROM {keys[name]})")
        return head + ",\n".join(out) + tail

    def _run(self, sql):
        cur = self.con.execute(materialized(self._hoisted(sql)))
        cols = [d[0] for d in cur.description]
        return cols, cur.fetchall()

    def expected(self, twins):
        """(rows, checksum or None) the twins give."""
        if len(twins) == 1:
            cols, rows = self._run(twins[0])
            return len(rows), checksum(cols, rows)
        return sum(len(self._run(t)[1]) for t in twins), None

    def actual(self, out_dir):
        """(rows, checksum) of a result the harness wrote."""
        cols, rows = self._run(f"SELECT * FROM read_parquet('{out_dir}/*.parquet')")
        return len(rows), checksum(cols, rows)

    def close(self):
        self.con.close()
