"""Correctness checks against DuckDB on the generated inputs.

They run after the timed region.  Program outputs are read straight
from the partition directories the program returned, with DuckDB, so
the check shares no code path with the program's own reader.
"""

from __future__ import annotations

import glob
import hashlib
import re

import duckdb

AGG_SQL = (
    "SELECT event_type, count(*) AS n, count(DISTINCT user_id) AS users, "
    "sum(amount) AS amount FROM events GROUP BY event_type"
)
USER_SQL = "SELECT user_id, count(*) AS n, sum(amount) AS amount FROM events GROUP BY user_id"
ROLLUP_SQL = (
    "SELECT event_type, sum(n) AS n, sum(amount) AS amount, count(*) AS days "
    "FROM daily_agg GROUP BY event_type"
)


def _files(path: str) -> list[str]:
    return sorted(f for f in glob.glob(path.rstrip("/") + "/part-*") if f.endswith(".parquet"))


def read_rows(con: duckdb.DuckDBPyConnection, path: str, cols: str) -> list[tuple]:
    files = _files(path)
    if not files:
        return []
    return sorted(con.execute(f"SELECT {cols} FROM read_parquet(?)", [files]).fetchall())


def event_partition_files(events_root: str, region: str, days: list[str]) -> list[str]:
    out = []
    for d in days:
        out.extend(_files(f"{events_root}/{region}/{d}"))
    return out


def expected_agg(con, files: list[str]) -> list[tuple]:
    sql = AGG_SQL.replace("FROM events", "FROM read_parquet(?)")
    return sorted(con.execute(sql, [files]).fetchall())


def expected_users(con, files: list[str]) -> list[tuple]:
    sql = USER_SQL.replace("FROM events", "FROM read_parquet(?)")
    return sorted(con.execute(sql, [files]).fetchall())


def expected_rollup(con, files_by_day: list[list[str]]) -> list[tuple]:
    """The 7-day rollup recomputed from raw events: per-day aggregate,
    then the rollup over the days."""
    parts = " UNION ALL ".join(
        f"SELECT {i} AS day, event_type, count(*) AS n, sum(amount) AS amount "
        f"FROM read_parquet(?) GROUP BY event_type"
        for i in range(len(files_by_day))
    )
    sql = ROLLUP_SQL.replace("FROM daily_agg", f"FROM ({parts})")
    return sorted(con.execute(sql, files_by_day).fetchall())


# ---------------------------------------------------------------------------
# curation manifest
# ---------------------------------------------------------------------------
MANIFEST_COLS = "doc_id, chunk_id, shard, n_chunk_tokens, bin_id, chunk_text"


def _sub_once(pattern: str, repl: str, sql: str) -> str:
    out, n = re.subn(pattern, lambda _: repl, sql, count=1, flags=re.S)
    if n != 1:
        raise RuntimeError(f"pipeline oracle no longer has the expected shape ({pattern!r})")
    return out


def manifest_oracle_sql(budget: int, chunk_tokens: int, n_shards: int, pack_budget: int) -> str:
    """The repository's certified DuckDB twin of the pretraining
    pipeline (``__spark_entry__._pipeline_oracle``), re-shaped to this
    benchmark's DAG: all snapshots are the corpus, the exact-duplicate
    funnel gate runs per snapshot, and there is no decontamination
    stage."""
    import __spark_entry__

    sql = __spark_entry__._pipeline_oracle(
        budget=budget, chunk_tokens=chunk_tokens, n_shards=n_shards, pack_budget=pack_budget
    )
    sql = _sub_once(
        r"corpus AS \(.*?\),",
        "corpus AS (SELECT doc_id, text, source, snapshot FROM documents WHERE doc_id IS NOT NULL),",
        sql,
    )
    sql = _sub_once(
        r"dedup0 AS \(.*?\),\s*surv AS \(",
        """dedup0 AS (
      SELECT g.doc_id,
             g.p3 AND g.doc_id = min(CASE WHEN g.p3 THEN g.doc_id END)
                                 OVER (PARTITION BY c.snapshot, g.fp) AS p4
      FROM gated g JOIN corpus c USING (doc_id)
    ),
    surv AS (""",
        sql,
    )
    sql = _sub_once(
        r"bgrams AS \(.*?decon AS \(.*?\),\s*bt AS \(",
        "decon AS (SELECT doc_id, text, source FROM clean),\n    bt AS (",
        sql,
    )
    return sql


def manifest_digest(rows) -> tuple[int, str]:
    """Row count and an order-insensitive hash (sum of per-row digests)."""
    total = 0
    n = 0
    for row in rows:
        h = hashlib.blake2b(repr(tuple(row)).encode(), digest_size=8).digest()
        total = (total + int.from_bytes(h, "big")) % (1 << 64)
        n += 1
    return n, f"{total:016x}"


def split_ctes(sql: str) -> tuple[list[tuple[str, str]], str]:
    """``WITH [RECURSIVE] a AS (...), b(x, y) AS (...) SELECT ...`` ->
    ([(name, body), ...], final select)."""
    m = re.match(r"\s*WITH(?:\s+RECURSIVE)?\s+", sql)
    if m is None:
        raise RuntimeError("pipeline oracle no longer starts with a WITH clause")
    pos = m.end()
    ctes = []
    while True:
        m = re.compile(r"(\w+)(?:\([^)]*\))?\s+AS\s*\(").match(sql, pos)
        if m is None:
            break
        depth, i, quoted = 1, m.end(), False
        while depth:
            c = sql[i]
            if c == "'":
                quoted = not quoted
            elif not quoted:
                depth += {"(": 1, ")": -1}.get(c, 0)
            i += 1
        ctes.append((m.group(1), sql[m.end() : i - 1]))
        pos = i
        m = re.compile(r"\s*,\s*").match(sql, pos)
        if m is None:
            break
        pos = m.end()
    return ctes, sql[pos:]


def _min_component(pairs: list[tuple[int, int]]) -> dict[int, int]:
    """Connected components of the duplicate-pair graph, labelled by
    their smallest doc id."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in list(parent)}


def _tokenize_once(body: str) -> str:
    """The shingle stage re-tokenizes the text inside its per-position
    lambda (quadratic per document); tokenize once in a subquery."""
    tok = "string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')"
    if tok not in body or body.count("FROM surv") != 1:
        raise RuntimeError("pipeline oracle shingle stage changed shape")
    body = body.replace(tok, "t")
    return body.replace("FROM surv", f"FROM (SELECT doc_id, {tok} AS t FROM surv)")


def expected_manifest(docs_root: str, **params) -> tuple[int, str]:
    """Run the oracle one stage at a time, each stage a table, with the
    recursive connected-components stage replaced by a union-find (the
    recursive CTE is quadratic per component and re-evaluated per use)."""
    con = duckdb.connect()
    try:
        files = sorted(glob.glob(docs_root + "/*/part-*.parquet"))
        con.read_parquet(files).create("documents")
        ctes, final = split_ctes(manifest_oracle_sql(**params))
        names = [n for n, _ in ctes]
        if not {"pairs", "edges", "reach", "clusters"} <= set(names):
            raise RuntimeError("pipeline oracle no longer has the pairs -> clusters stages")
        for name, body in ctes:
            if name in ("edges", "reach"):
                continue
            if name == "clusters":
                comp = _min_component(con.execute("SELECT a, b FROM pairs").fetchall())
                con.execute("CREATE TABLE clusters (doc_id BIGINT, cluster_id BIGINT)")
                if comp:
                    con.executemany("INSERT INTO clusters VALUES (?, ?)", list(comp.items()))
                continue
            if name == "ex":
                body = _tokenize_once(body)
            con.execute(f"CREATE TABLE {name} AS {body}")
        rows = con.execute(f"SELECT {MANIFEST_COLS} FROM ({final})").fetchall()
        return manifest_digest(rows)
    finally:
        con.close()


def actual_manifest(path: str) -> tuple[int, str]:
    con = duckdb.connect()
    try:
        files = _files(path)
        if not files:
            return 0, ""
        rows = con.execute(f"SELECT {MANIFEST_COLS} FROM read_parquet(?)", [files]).fetchall()
        return manifest_digest(rows)
    finally:
        con.close()
