"""Output checks against the DuckDB oracle (joern_spark.oracle).

Runs outside every timed region. Tables are compared by row count and an
order-insensitive digest over normalized cells (floats rounded to 6
decimals, so last-ULP drift between engines does not count).
"""

from __future__ import annotations

import hashlib

import duckdb

from joern_spark import oracle as O
from joern_spark import schemas as S


def norm_cell(v) -> str:
    if hasattr(v, "item") and not isinstance(v, (bytes, str)):
        v = v.item()
    if v is None or (isinstance(v, float) and v != v):
        return "<null>"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        return repr(round(v, 6))
    return str(v)


def norm_row(row) -> str:
    return "|".join(norm_cell(v) for v in row)


def digest(rows) -> tuple[int, str]:
    hashes = sorted(hashlib.md5(norm_row(r).encode()).hexdigest() for r in rows)
    return len(hashes), hashlib.md5("\n".join(hashes).encode()).hexdigest()


class Oracle:
    """One DuckDB connection; `rows(sql, columns)` returns result rows with
    columns in the requested order."""

    def __init__(self, threads: int) -> None:
        self.con = duckdb.connect()
        self.con.execute(f"SET threads TO {int(threads)}")

    def rows(self, sql: str, columns: list[str] | None = None, params=None):
        rel = self.con.execute(sql, params or [])
        names = [d[0] for d in rel.description]
        data = rel.fetchall()
        if columns is None:
            return names, data
        idx = [names.index(c) for c in columns]
        return columns, [tuple(r[i] for i in idx) for r in data]

    def count(self, sql: str) -> int:
        return self.con.execute(f"SELECT count(*) FROM ({sql}) q").fetchone()[0]

    def close(self) -> None:
        self.con.close()


# --- build ------------------------------------------------------------------

def check_build(spark_counts: dict, spark_final: tuple[int, str], ora: Oracle, sf: float) -> list[str]:
    """Compare the graph's row counts, edge count and triples_final
    digest (which holds its row count) with the oracle; returns a list
    of mismatch descriptions."""
    want = {
        "turns": ora.count(O.turns_sql(sf)),
        "conversations": ora.count(O.conversations_sql(sf)),
        "mentions": ora.count(O.mentions_sql(sf)),
        "triples_raw": ora.count(O.triples_raw_sql(sf)),
        "linked": ora.count(O.linked_mentions_sql(sf)),
        "canonical_map": ora.count(O.canonical_map_sql(sf)),
    }
    # edges = NEXT_TURN + CONTAINS (one per turn) + LINKS_TO + SAME_AS
    same_as = ora.count(
        "WITH " + O._same_as_pairs_cte(sf).strip() + " SELECT * FROM pairs"
    )
    want["edges"] = (
        ora.count(O.next_turn_sql(sf)) + want["turns"] + want["linked"] + same_as
    )
    bad = [
        f"{k}: spark {spark_counts.get(k)} != oracle {v}"
        for k, v in want.items()
        if spark_counts.get(k) != v
    ]
    _, rows = ora.rows(
        O.triples_final_sql(sf), ["subj", "pred", "obj", "n_support", "first_seen"]
    )
    if digest(rows) != spark_final:
        bad.append(f"triples_final (rows, digest): spark {spark_final} != oracle {digest(rows)}")
    return bad


# --- serve ------------------------------------------------------------------

def _t(sf: float) -> str:
    return O.t_src(sf)


def starter_sql(sf: float, starter: str) -> tuple[str, list[str]]:
    """(DuckDB SQL with positional ? params, param names) mirroring one
    console starter over the oracle's own layer definitions."""
    if starter == "conversations":
        return (
            f"SELECT conv_id AS id, '{S.CONVERSATION}' AS label, conv_id, "
            "count(*) AS n_turns, "
            "sum(CASE WHEN tool IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS n_tool_turns, "
            f"min(ts) AS started_at, max(ts) AS ended_at FROM {_t(sf)} GROUP BY conv_id",
            [],
        )
    if starter == "calls_of_tool":
        return (
            f"SELECT conv_id, turn_idx, text FROM {_t(sf)} "
            "WHERE tool = ? AND role = 'assistant'",
            ["tool"],
        )
    if starter == "mentions_of_kind":
        return f"SELECT * FROM ({O.mentions_sql(sf)}) m WHERE kind = ?", ["kind"]
    if starter == "entities_of_conversation":
        return (
            f"SELECT DISTINCT entity_key FROM ({O.linked_mentions_sql(sf)}) l "
            "WHERE conv_id = ?",
            ["conv_id"],
        )
    if starter == "facts_about":
        return (
            f"SELECT * FROM ({O.triples_final_sql(sf)}) f WHERE subj = ? OR obj = ?",
            ["key", "key"],
        )
    if starter == "comentions_of":
        lk = O.linked_mentions_sql(sf)
        return (
            f"SELECT DISTINCT l2.entity_key AS other FROM ({lk}) l1 "
            f"JOIN ({lk}) l2 ON l1.conv_id = l2.conv_id "
            "WHERE l1.entity_key = ? AND l2.entity_key <> ?",
            ["key", "key"],
        )
    raise KeyError(starter)


def analytic_sql(sf: float, path: str, k: int) -> tuple[str, bool]:
    """(DuckDB SQL, exact) for an analytics endpoint. `exact` results
    must equal the response; otherwise every response row must appear
    in the oracle rows (top-k cuts with ties)."""
    if path == "/heavy_hitters":
        # console.heavy_hitters sketches triples_final objects
        sql = O.entity_cm_sql(sf, k=k).replace(
            O.triples_raw_sql(sf), O.triples_final_sql(sf)
        )
        return sql, True
    if path == "/pmi":
        return (
            f"SELECT * FROM ({O.entity_pmi_sql(sf)}) p "
            f"ORDER BY npmi DESC, a, b LIMIT {k}",
            True,
        )
    if path == "/timeline":
        return O.entity_timeline_sql(sf), True
    if path == "/tool_seqs":
        return O.tool_seqs_sql(sf), True
    if path == "/skew":
        # plans.profile.key_skew_profile over triples_final.obj
        return (
            f"""
WITH counts AS (SELECT obj AS key, count(*) AS n FROM ({O.triples_final_sql(sf)}) f GROUP BY 1),
summary AS (SELECT sum(n) AS total, count(*) AS n_keys FROM counts),
top AS (SELECT key, n, row_number() OVER (ORDER BY n DESC, key ASC) AS rank FROM counts)
SELECT key, n::BIGINT AS n, n::DOUBLE / total::DOUBLE AS share,
       n::DOUBLE / (total::DOUBLE / n_keys::DOUBLE) AS skew,
       n_keys::BIGINT AS n_keys, rank
FROM top, summary WHERE rank <= {k}
""",
            True,
        )
    raise KeyError(path)


def check_response(resp: dict, want_cols: list[str], want_rows, limit: int, exact: bool) -> str | None:
    """None when the HTTP response agrees with the oracle rows."""
    if resp.get("columns") != want_cols:
        return f"columns {resp.get('columns')} != {want_cols}"
    want = {}
    for r in want_rows:
        key = norm_row(r)
        want[key] = want.get(key, 0) + 1
    got = {}
    for r in resp["rows"]:
        key = norm_row(r)
        got[key] = got.get(key, 0) + 1
    if exact or len(want_rows) <= limit:
        return None if got == want else f"{resp['n']} rows differ from {len(want_rows)} oracle rows"
    if resp["n"] != limit:
        return f"{resp['n']} rows, expected the limit {limit}"
    extra = [k for k, n in got.items() if want.get(k, 0) < n]
    return f"{len(extra)} rows not in the oracle" if extra else None
