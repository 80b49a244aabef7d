"""Tokenizer-based SQL pre-pass.

Responsibilities (reference parity, SURVEY.md §2.A):

- A12 statement classification: first statement must be a query
  (→ DML) or CREATE TABLE (→ DDL); everything else is rejected
  (`src/sql/parse.rs:133-153`).
- A11 table-name extraction: every table factor after FROM / JOIN /
  comma in a FROM list, at any nesting depth (CTE bodies, derived
  tables, WHERE-clause subqueries). Linear token scan reaches *all*
  subqueries — strictly more complete than the reference's AST walk,
  which misses SELECT-list/HAVING subqueries (`src/sql/parse.rs:40-53`).
- A9 path-as-table rewrite: quoted file paths used as table factors
  are replaced with generated temp names; the substitution is
  token-positional, not string replace (the reference's
  `sql.replace()` at `src/data_source/context.rs:128` corrupts
  queries where the path also appears in a string literal).
"""

from __future__ import annotations

import enum
import itertools
import re
import uuid
from dataclasses import dataclass

from easydb_server_spark.errors import UnsupportedSQLError


class SQLType(enum.Enum):
    DML = "DML"
    DDL = "DDL"


@dataclass
class Token:
    kind: str  # 'word', 'string', 'qident', 'number', 'punct', 'comment'
    value: str  # raw text (including quotes for strings/qidents)
    pos: int  # offset in the original SQL


_TOKEN_RE = re.compile(
    r"""
    (?P<comment>--[^\n]*|/\*.*?\*/)
  | (?P<string>'(?:[^']|'')*')
  | (?P<qident>"(?:[^"]|"")*"|`(?:[^`]|``)*`)
  | (?P<number>\d+(?:\.\d+)?)
  | (?P<word>[A-Za-z_][A-Za-z0-9_$.]*)
  | (?P<punct>::|<=|>=|<>|!=|\|\||[(),;=<>+\-*/%.\[\]{}])
    """,
    re.VERBOSE | re.DOTALL,
)

# keywords that terminate a FROM clause's factor list
_FROM_STOP = {
    "WHERE", "GROUP", "HAVING", "ORDER", "LIMIT", "OFFSET", "UNION",
    "INTERSECT", "EXCEPT", "WINDOW", "QUALIFY", "ON", "USING", "SET",
    "FETCH", "INNER", "LEFT", "RIGHT", "FULL", "CROSS", "JOIN", "NATURAL",
    "SEMI", "ANTI", "LATERAL",
}

_JOIN_INTRO = {"JOIN"}

_WRITE_KEYWORDS = {
    "INSERT", "UPDATE", "DELETE", "DROP", "ALTER", "TRUNCATE", "MERGE",
    "GRANT", "REVOKE", "SET", "SHOW", "EXPLAIN", "DESCRIBE", "COPY",
    "VACUUM", "ANALYZE", "CALL", "USE",
}


def tokenize(sql: str) -> list[Token]:
    out: list[Token] = []
    pos = 0
    n = len(sql)
    while pos < n:
        if sql[pos].isspace():
            pos += 1
            continue
        m = _TOKEN_RE.match(sql, pos)
        if not m:
            # unknown char — skip it (lenient lexer, engine will error later)
            pos += 1
            continue
        kind = m.lastgroup or "punct"
        if kind != "comment":
            out.append(Token(kind, m.group(), m.start()))
        pos = m.end()
    return out


def _significant(tokens: list[Token]) -> list[Token]:
    return [t for t in tokens if t.kind != "comment"]


def classify(sql: str) -> SQLType:
    """A12: allowlist {query → DML, CREATE TABLE → DDL}; reject rest."""
    toks = _significant(tokenize(sql))
    if not toks:
        raise UnsupportedSQLError("Empty SQL statement")
    first = toks[0].value.upper()
    if first in ("SELECT", "WITH", "VALUES", "(", "TABLE"):
        return SQLType.DML
    if first == "CREATE":
        if len(toks) >= 2 and toks[1].value.upper() == "TABLE":
            return SQLType.DDL
        raise UnsupportedSQLError(f"Unsupported statement: CREATE {toks[1].value if len(toks) > 1 else ''}")
    if first in _WRITE_KEYWORDS:
        raise UnsupportedSQLError(f"Unsupported statement type: {first}")
    raise UnsupportedSQLError(f"Unsupported statement: {toks[0].value}")


def _collect_cte_names(toks: list[Token]) -> set[str]:
    """Names defined in WITH clauses (any nesting) — never catalog tables."""
    names: set[str] = set()
    for i, t in enumerate(toks):
        if t.kind == "word" and t.value.upper() == "WITH":
            # WITH [RECURSIVE] name [(cols)] AS ( ... ) [, name AS ( ... )]*
            j = i + 1
            if j < len(toks) and toks[j].value.upper() == "RECURSIVE":
                j += 1
            while j < len(toks):
                if toks[j].kind in ("word", "qident"):
                    names.add(_ident_value(toks[j]))
                    j += 1
                    # optional column list
                    if j < len(toks) and toks[j].value == "(":
                        depth = 1
                        j += 1
                        while j < len(toks) and depth:
                            depth += toks[j].value == "("
                            depth -= toks[j].value == ")"
                            j += 1
                    if j < len(toks) and toks[j].value.upper() == "AS":
                        j += 1
                        if j < len(toks) and toks[j].value == "(":
                            depth = 1
                            j += 1
                            while j < len(toks) and depth:
                                depth += toks[j].value == "("
                                depth -= toks[j].value == ")"
                                j += 1
                    # another CTE?
                    if j < len(toks) and toks[j].value == ",":
                        j += 1
                        continue
                break
        # wait for next WITH
    return names


def _ident_value(tok: Token) -> str:
    v = tok.value
    if tok.kind == "qident":
        q = v[0]
        return v[1:-1].replace(q * 2, q)
    return v


def _table_factor_positions(toks: list[Token]) -> list[int]:
    """Indices of tokens that begin a table factor (after FROM/JOIN or a
    comma inside a FROM list), at every nesting depth.

    Per-paren-depth state: ``saw_select`` distinguishes a query FROM
    from expression FROMs (EXTRACT(x FROM y), SUBSTRING(a FROM b));
    ``in_from`` scopes FROM-list commas away from function-argument
    commas (which always live at a deeper depth).
    """
    out: list[int] = []
    n = len(toks)
    saw_select = [False]
    in_from = [False]
    for i, t in enumerate(toks):
        u = t.value.upper() if t.kind == "word" else t.value
        if u == "(":
            saw_select.append(False)
            in_from.append(False)
        elif u == ")":
            if len(saw_select) > 1:
                saw_select.pop()
                in_from.pop()
        elif t.kind == "word":
            if u in ("SELECT", "VALUES", "TABLE"):
                saw_select[-1] = True
            elif u == "FROM" and saw_select[-1]:
                if i + 1 < n:
                    out.append(i + 1)
                in_from[-1] = True
            elif u == "JOIN":
                if i + 1 < n:
                    out.append(i + 1)
            elif u in _FROM_STOP - {"JOIN"}:
                in_from[-1] = False
        elif u == "," and in_from[-1]:
            if i + 1 < n:
                out.append(i + 1)
    return out


def extract_table_names(sql: str) -> list[str]:
    """A11: all table identifiers referenced as table factors, in order,
    deduplicated, excluding CTE names and VALUES/derived factors."""
    toks = _significant(tokenize(sql))
    ctes = {c.lower() for c in _collect_cte_names(toks)}
    seen: list[str] = []
    for idx in _table_factor_positions(toks):
        if idx >= len(toks):
            continue
        t = toks[idx]
        if t.value == "(" or (t.kind == "word" and t.value.upper() in ("SELECT", "VALUES", "UNNEST", "LATERAL")):
            continue
        if t.kind == "string":
            continue  # path factor — handled by rewrite_path_tables
        if t.kind in ("word", "qident"):
            name = _ident_value(t)
            if t.kind == "word" and name.upper() in _FROM_STOP:
                continue
            if name.lower() in ctes:
                continue
            if name not in seen:
                seen.append(name)
    return seen


def extract_path_tables(sql: str) -> list[tuple[int, int, str]]:
    """(pos, raw_len, path) of file paths used as table factors (A9).

    Both spellings route here: quoted strings (``FROM 'data/u.csv'``)
    and bare unquoted names with a routable extension (``FROM u.csv``
    — the reference accepts these too, `src/data_source/context.rs:94-101`;
    they MUST be rewritten because Spark rejects dotted temp-view names
    and ``spark.sql`` would resolve ``u.csv`` as catalog ``u``,
    table ``csv``).
    """
    from easydb_server_spark.sources.formats import has_known_extension

    toks = _significant(tokenize(sql))
    out: list[tuple[int, int, str]] = []
    for idx in _table_factor_positions(toks):
        if idx >= len(toks):
            continue
        t = toks[idx]
        if t.kind == "string":
            out.append((t.pos, len(t.value), t.value[1:-1].replace("''", "'")))
        elif t.kind == "word" and has_known_extension(t.value):
            out.append((t.pos, len(t.value), t.value))
    return out


_TEMP_SEQ = itertools.count()
_TEMP_RUN = uuid.uuid4().hex[:8]


def unique_id() -> str:
    """{run_id}_{seq}: process-unique run token + monotonic counter.
    Temp names ``temp_{unique_id}`` are collision-free across concurrent
    requests on the shared SparkSession (the reference's
    temp_{unix_seconds}_{rand4}, `src/data_source/context.rs:103-111`,
    can collide within a second)."""
    return f"{_TEMP_RUN}_{next(_TEMP_SEQ)}"


def rewrite_path_tables(sql: str) -> tuple[str, dict[str, str]]:
    """Replace path table factors (quoted or bare) with generated temp
    names.

    Returns (rewritten_sql, {temp_name: path}). Token-positional
    splicing — only the factor occurrences are touched.
    """
    factors = extract_path_tables(sql)
    if not factors:
        return sql, {}
    mapping: dict[str, str] = {}
    path_to_name: dict[str, str] = {}
    pieces: list[str] = []
    last = 0
    for pos, raw_len, path in factors:
        if path not in path_to_name:
            name = f"temp_{unique_id()}"
            path_to_name[path] = name
            mapping[name] = path
        pieces.append(sql[last:pos])
        pieces.append(path_to_name[path])
        last = pos + raw_len
    pieces.append(sql[last:])
    return "".join(pieces), mapping


# ---------- CREATE TABLE ... LOCATION parsing (A14) ----------


@dataclass
class CreateTable:
    name: str
    location: str | None
    columns: list[dict]
    comment: str | None


def parse_create_table(sql: str) -> CreateTable:
    """Parse the reference's DDL: CREATE TABLE name (cols?) LOCATION
    'path' [COMMENT '...'] (`src/controllers.rs:88-145`). Column defs
    are metadata only and never used at read time (quirk kept —
    SURVEY.md §7.4)."""
    toks = _significant(tokenize(sql))
    if len(toks) < 3 or toks[0].value.upper() != "CREATE" or toks[1].value.upper() != "TABLE":
        raise UnsupportedSQLError("Not a CREATE TABLE statement")
    name = _ident_value(toks[2])
    i = 3
    columns: list[dict] = []
    if i < len(toks) and toks[i].value == "(":
        depth = 1
        j = i + 1
        col_tokens: list[list[Token]] = [[]]
        while j < len(toks) and depth:
            v = toks[j].value
            if v == "(":
                depth += 1
            elif v == ")":
                depth -= 1
                if depth == 0:
                    break
            elif v == "," and depth == 1:
                col_tokens.append([])
                j += 1
                continue
            col_tokens[-1].append(toks[j])
            j += 1
        for ct in col_tokens:
            if not ct:
                continue
            field = _ident_value(ct[0])
            ftype = ct[1].value if len(ct) > 1 else ""
            comment = None
            for k, t in enumerate(ct):
                if t.kind == "word" and t.value.upper() == "COMMENT" and k + 1 < len(ct):
                    comment = ct[k + 1].value.strip("'")
            columns.append({"field": field, "field_type": ftype, "comment": comment})
        i = j + 1
    location = None
    comment = None
    while i < len(toks):
        u = toks[i].value.upper()
        if u == "LOCATION" and i + 1 < len(toks) and toks[i + 1].kind == "string":
            location = toks[i + 1].value[1:-1].replace("''", "'")
            i += 2
            continue
        if u == "COMMENT" and i + 1 < len(toks) and toks[i + 1].kind == "string":
            comment = toks[i + 1].value[1:-1].replace("''", "'")
            i += 2
            continue
        i += 1
    return CreateTable(name=name, location=location, columns=columns, comment=comment)
