"""The query mix and its DuckDB SQL mirror.

Each ``Query`` pairs a call into ``jcpg_spark.operators.query`` with a
hand-written SQL statement over the same committed edges parquet. The
benchmark compares every Spark result with its mirror by row count and an
order-insensitive hash of the rows (bag semantics).

Forms covered: BGP joins (``bgp``), a ``flow.next+`` path scoped to one
conversation's named graph (``path``), OPTIONAL (``optional``), MINUS
(``minus``), GROUP BY (``group``), ASK (``ask``) and DESCRIBE
(``describe``).
"""

from __future__ import annotations

import hashlib
import os
import random
from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame

from jcpg_spark.operators.query import ask, describe, match_query

PATH_HOPS = 3  # hop bound of the flow.next+ closure


@dataclass(frozen=True)
class Query:
    form: str
    key: str  # identifies the instance (form + constants)
    run: Callable[[DataFrame], DataFrame]
    sql: str


def _q(s: str) -> str:
    return "'" + s.replace("'", "''") + "'"


def _bgp_mentions(conv: str) -> Query:
    c = _q(conv)
    return Query(
        "bgp", f"bgp_mentions:{conv}",
        lambda e: match_query(
            e, [("?t", "ast.has_mention", "?m"), ("?m", "ast.in_sentence", "?s")], graph=conv
        ),
        f"""SELECT a.dst AS m, b.dst AS s, a.src AS t FROM edges a JOIN edges b
            ON b.src = a.dst AND b.pred = 'ast.in_sentence' AND b.conv_id = {c}
            WHERE a.pred = 'ast.has_mention' AND a.conv_id = {c}""",
    )


def _bgp_callers(tool: str) -> Query:
    return Query(
        "bgp", f"bgp_callers:{tool}",
        lambda e: match_query(e, [("?c", "ast.has_turn", "?t"), ("?t", "call", f"tool:{tool}")]),
        f"""SELECT a.src AS c, a.dst AS t FROM edges a JOIN edges b
            ON b.src = a.dst AND b.pred = 'call' AND b.dst = {_q('tool:' + tool)}
            WHERE a.pred = 'ast.has_turn'""",
    )


def _path(conv: str) -> Query:
    c = _q(conv)
    return Query(
        "path", f"path:{conv}",
        lambda e: match_query(e, [("?a", "flow.next+", "?b")], graph=conv, max_hops=PATH_HOPS),
        f"""WITH RECURSIVE base AS (
              SELECT DISTINCT src, dst FROM edges WHERE pred = 'flow.next' AND conv_id = {c}),
            r(src, dst, h) AS (
              SELECT src, dst, 1 FROM base
              UNION SELECT r.src, base.dst, r.h + 1 FROM r JOIN base ON r.dst = base.src
              WHERE r.h < {PATH_HOPS})
            SELECT DISTINCT src AS a, dst AS b FROM r""",
    )


def _optional(conv: str) -> Query:
    c = _q(conv)
    return Query(
        "optional", f"optional:{conv}",
        lambda e: match_query(
            e, [("?t", "act.role", "role:assistant")], optional=[[("?t", "call", "?tool")]],
            graph=conv,
        ),
        f"""SELECT a.src AS t, b.dst AS tool FROM edges a LEFT JOIN edges b
            ON b.src = a.src AND b.pred = 'call' AND b.conv_id = {c}
            WHERE a.pred = 'act.role' AND a.dst = 'role:assistant' AND a.conv_id = {c}""",
    )


def _minus(conv: str) -> Query:
    c = _q(conv)
    return Query(
        "minus", f"minus:{conv}",
        lambda e: match_query(
            e, [("?c", "ast.has_turn", "?t"), ("?t", "act.role", "role:assistant")],
            minus=[[("?t", "call", "?x")]], graph=conv,
        ),
        f"""SELECT a.src AS c, a.dst AS t FROM edges a JOIN edges r
            ON r.src = a.dst AND r.pred = 'act.role' AND r.dst = 'role:assistant'
               AND r.conv_id = {c}
            WHERE a.pred = 'ast.has_turn' AND a.conv_id = {c}
              AND NOT EXISTS (SELECT 1 FROM edges x
                              WHERE x.pred = 'call' AND x.src = a.dst AND x.conv_id = {c})""",
    )


def _group_calls() -> Query:
    return Query(
        "group", "group_calls",
        lambda e: match_query(
            e, [("?t", "call", "?tool")], group_by=["tool"], aggregates={"n": "count(t)"}
        ),
        "SELECT count(src) AS n, dst AS tool FROM edges WHERE pred = 'call' GROUP BY dst",
    )


def _ask(entity: str) -> Query:
    return Query(
        "ask", f"ask:{entity}",
        lambda e: ask(e, [(entity, "same_as", "?y")]),
        f"""SELECT EXISTS (SELECT 1 FROM edges
            WHERE pred = 'same_as' AND src = {_q(entity)}) AS ask""",
    )


def _describe(conv: str) -> Query:
    c = _q("c:" + conv)
    return Query(
        "describe", f"describe:{conv}",
        lambda e: describe(e, [("c:" + conv, "ast.has_turn", "?t")], "?t"),
        f"""WITH r AS (SELECT DISTINCT dst AS r FROM edges
                       WHERE pred = 'ast.has_turn' AND src = {c})
            SELECT DISTINCT src, pred, dst, var, conv_id FROM edges
            WHERE src IN (SELECT r FROM r) OR dst IN (SELECT r FROM r)""",
    )


FORMS = ("bgp", "path", "optional", "minus", "group", "ask", "describe")
# queries of each form in every block of 48; fixed, so the tail of the
# latency distribution does not depend on the seed
_BLOCK = {"bgp": 14, "optional": 7, "minus": 7, "ask": 9, "group": 5,
          "path": 3, "describe": 3}


def make_mix(seed: int, n: int, convs: list[str], tools: list[str],
             entities: list[str]) -> list[Query]:
    """A fixed, seeded sequence of ``n`` queries: whole blocks of
    ``_BLOCK``, each block shuffled; the seed picks the order and the
    constants (conversations, tools, entities)."""
    rng = random.Random(f"mix:{seed}")

    def make(form: str) -> Query:
        if form == "bgp":
            return (_bgp_mentions(rng.choice(convs)) if rng.random() < 0.5
                    else _bgp_callers(rng.choice(tools)))
        if form == "group":
            return _group_calls()
        if form == "ask":
            return _ask(rng.choice(entities))
        return {"path": _path, "optional": _optional, "minus": _minus,
                "describe": _describe}[form](rng.choice(convs))

    forms: list[str] = []
    while len(forms) < n:
        block = [f for f, k in _BLOCK.items() for _ in range(k)]
        rng.shuffle(block)
        forms += block
    return [make(f) for f in forms[:n]]


def templates(convs: list[str], tools: list[str], entities: list[str]) -> list[Query]:
    """One query of each template (both BGP templates), for warm-up and
    the traced query pass."""
    c = convs[0]
    return [_bgp_mentions(c), _bgp_callers(tools[0]), _path(c), _optional(c), _minus(c),
            _group_calls(), _ask(entities[0]), _describe(c)]


def rows_digest(rows) -> tuple[int, str]:
    """(row count, order-insensitive sha256) of an iterable of row tuples."""
    def cell(v) -> str:
        if v is None:
            return "\\N"
        if isinstance(v, bool):
            return "true" if v else "false"
        return str(v)

    lines = sorted("\x1f".join(cell(v) for v in r) for r in rows)
    return len(lines), hashlib.sha256("\n".join(lines).encode()).hexdigest()


class DuckMirror:
    """DuckDB view ``edges`` over a materialized directory, composed the
    way ``read_graph_edges`` documents it: committed edges without
    ``same_as``, plus ``same_as`` derived from the current alias mapping."""

    def __init__(self, out_dir: str, data_dirs: dict[str, list[str]]):
        import duckdb

        self.con = duckdb.connect(config={"threads": "2"})
        files = {
            name: [os.path.join(out_dir, name, d, "*.parquet") for d in dirs]
            for name, dirs in data_dirs.items()
        }
        self.con.execute(
            f"""CREATE VIEW edges AS
            SELECT src, pred, dst, var, conv_id FROM read_parquet({files['edges']!r})
            WHERE pred <> 'same_as'
            UNION ALL
            SELECT 'e:' || entity, 'same_as', 'e:' || canonical_id,
                   CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR)
            FROM read_parquet({files['alias_mapping']!r}) WHERE entity <> canonical_id"""
        )
        self._memo: dict[str, tuple[int, str]] = {}

    def expected(self, q: Query) -> tuple[int, str]:
        if q.key not in self._memo:
            self._memo[q.key] = rows_digest(self.con.execute(q.sql).fetchall())
        return self._memo[q.key]

    def close(self) -> None:
        self.con.close()
