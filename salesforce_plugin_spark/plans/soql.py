"""SOQL front door (SURVEY §2 D, §7 phase 4): a small parser that turns the
reference's string-query entry points (``soql`` param
salesforce_to_s3_operator.py:29, ``query`` :127, generated projection
:201-202) into DataFrame plans. Strictly a front-end — each statement is
printed as one Spark SQL text over temp views that bind the resolved
objects (unique names per call, dropped once the text is analyzed), and
Catalyst owns optimization from there.

Supported surface (the D-rows of SURVEY §2):

- ``SELECT f1, f2 | agg(f)`` projection and aggregates
  (COUNT()/COUNT(f)/COUNT_DISTINCT(f)/SUM/AVG/MIN/MAX) — D1, D10
- date functions in SELECT/GROUP BY: CALENDAR_YEAR/CALENDAR_MONTH/
  CALENDAR_QUARTER/DAY_ONLY/HOUR_IN_DAY/DAY_IN_WEEK/DAY_IN_MONTH/
  DAY_IN_YEAR/WEEK_IN_YEAR/WEEK_IN_MONTH and FISCAL_YEAR/FISCAL_QUARTER/
  FISCAL_MONTH under a configurable fiscal-year start month — D19
- ``WHERE`` with ``= != < <= > >= LIKE IN NOT IN``, AND/OR/NOT, parens,
  semi/anti subqueries ``[NOT] IN (SELECT ...)`` — D2-D7
- SOQL semantic shims: LIKE is case-insensitive (D3); ``= NULL`` /
  ``!= NULL`` are null tests, not ANSI unknown (D20)
- ``GROUP BY`` (+ ROLLUP/CUBE), ``HAVING`` — D11-D14
- ``ORDER BY ... [ASC|DESC] [NULLS FIRST|LAST]`` (SOQL default ASC NULLS
  FIRST = Spark's default) — D15
- ``LIMIT`` / ``OFFSET`` — D16, D17
- date literals with SOQL *range* semantics (``=`` is containment, ``<``
  precedes the range, ``>`` follows it): TODAY/YESTERDAY/TOMORROW,
  THIS|LAST|NEXT_WEEK/MONTH/QUARTER/YEAR, LAST|NEXT_90_DAYS, and the
  parameterized LAST|NEXT_N_DAYS/WEEKS/MONTHS/QUARTERS/YEARS:n and
  N_DAYS_AGO:n — anchored to an injectable ``today`` for deterministic
  replay — D18

- dot-path relationship traversal (D8) and nested parent-to-child
  subselects in SELECT (D9), given a ``RelationshipRegistry`` mapping
  relationship names to join keys (plays describe()'s metadata role)

Accepted-and-inert (parsed, recorded on the statement, no effect on the
result set — semantics are server-side bookkeeping with no analog in an
analytics replica):

- ``FOR VIEW`` / ``FOR REFERENCE`` — update Salesforce's "recently
  viewed/referenced" MRU lists server-side; result rows are unchanged.
- ``FOR UPDATE`` — row locking for a subsequent DML transaction; an
  analytics engine reads an immutable snapshot, so there is nothing to
  lock (recorded so callers can reject it if they need DML fidelity).
- ``WITH SECURITY_ENFORCED`` — field-level-security enforcement. The
  extracted replica is single-tenant (every field the extract ran with is
  present by construction), so enforcement is vacuous here; the flag is
  recorded on the parsed statement for callers that layer their own
  column-level policy.

- ``TYPEOF rel WHEN Type THEN f… [ELSE f…] END`` — polymorphic field
  branching, lowered to discriminator-guarded broadcast left joins per
  branch against ``RelationshipRegistry.poly`` metadata (the describe()
  analog for polymorphic lookups). Flattened contract: WHEN fields emit
  ``{type}_{field}`` columns, ELSE fields ``else_{field}`` (a coalesce
  over the types no WHEN names). REST-path only — the Bulk API rejects
  TYPEOF (assert_bulk_compatible fails fast, mirroring the server-side
  error the reference's forwarded string would hit,
  salesforce_to_s3_operator.py:47-50).
"""

from __future__ import annotations

import datetime as _dt
import json
import logging
import re
import uuid
from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import DateType, DecimalType, IntegerType

_log = logging.getLogger(__name__)


class SoqlError(ValueError):
    """Raised on any parse or lowering failure, with position context."""


# ---------------------------------------------------------------------------
# Tokenizer
# ---------------------------------------------------------------------------

_TOKEN_RE = re.compile(
    r"""
    \s*(?:
      (?P<string>'(?:[^'\\]|\\.)*')
    | (?P<isodate>\d{4}-\d{2}-\d{2}(?:T[\d:.]+(?:Z|[+-]\d{2}:?\d{2})?)?)
    | (?P<number>-?\d+(?:\.\d+)?)
    | (?P<datelit>(?:LAST_N_DAYS|NEXT_N_DAYS|LAST_N_WEEKS|NEXT_N_WEEKS
                     |LAST_N_MONTHS|NEXT_N_MONTHS|LAST_N_QUARTERS|NEXT_N_QUARTERS
                     |LAST_N_YEARS|NEXT_N_YEARS|N_DAYS_AGO):\d+)
    | (?P<word>[A-Za-z_][A-Za-z0-9_.]*)
    | (?P<op><=|>=|!=|=|<|>)
    | (?P<punct>[(),*])
    )
    """,
    re.X,
)


@dataclass
class Tok:
    kind: str
    text: str
    pos: int


def tokenize(s: str) -> list[Tok]:
    out, i = [], 0
    while i < len(s):
        if s[i].isspace():
            i += 1
            continue
        m = _TOKEN_RE.match(s, i)
        if not m:
            raise SoqlError(f"SOQL: unexpected character {s[i]!r} at {i}")
        out.append(Tok(m.lastgroup, m.group(m.lastgroup), i))
        i = m.end()
    return out


# ---------------------------------------------------------------------------
# Parser (recursive descent over the token list)
# ---------------------------------------------------------------------------

_AGGS = {"COUNT", "COUNT_DISTINCT", "SUM", "AVG", "MIN", "MAX"}
_DATE_FNS: dict[str, str] = {  # SOQL fn -> Spark SQL over {0}
    "CALENDAR_YEAR": "year({0})",
    "CALENDAR_MONTH": "month({0})",
    "CALENDAR_QUARTER": "quarter({0})",
    "DAY_ONLY": "to_date({0})",
    "HOUR_IN_DAY": "hour({0})",
    # D19 extensions. DAY_IN_WEEK: 1=Sunday in both SOQL and Spark's
    # dayofweek — a direct match. WEEK_IN_YEAR / WEEK_IN_MONTH use SOQL's
    # simple 7-day blocks from Jan 1 / the 1st (NOT ISO weeks — Spark's
    # weekofyear is ISO and diverges at year boundaries).
    "DAY_IN_WEEK": "dayofweek({0})",
    "DAY_IN_MONTH": "dayofmonth({0})",
    "DAY_IN_YEAR": "dayofyear({0})",
    "WEEK_IN_YEAR": "CAST((dayofyear({0}) - 1) / 7 + 1 AS INT)",
    "WEEK_IN_MONTH": "CAST((dayofmonth({0}) - 1) / 7 + 1 AS INT)",
}
#: Fiscal D19 functions — need the org's fiscal-year start month, so they are
#: built per-query (see ``_fiscal_sql``); keys listed here for parse-time
#: recognition alongside _DATE_FNS.
_FISCAL_FNS = {"FISCAL_YEAR", "FISCAL_QUARTER", "FISCAL_MONTH"}
#: D18 keyword range literals (value-less; the N-parameterized family is
#: tokenized as ``datelit``). Each denotes a [start, end) date range.
_RANGE_KEYWORDS = {
    "TODAY", "YESTERDAY", "TOMORROW",
    "THIS_WEEK", "LAST_WEEK", "NEXT_WEEK",
    "THIS_MONTH", "LAST_MONTH", "NEXT_MONTH",
    "THIS_QUARTER", "LAST_QUARTER", "NEXT_QUARTER",
    "THIS_YEAR", "LAST_YEAR", "NEXT_YEAR",
    "LAST_90_DAYS", "NEXT_90_DAYS",
}
_KEYWORDS = {
    "SELECT", "FROM", "WHERE", "GROUP", "BY", "HAVING", "ORDER", "LIMIT",
    "OFFSET", "AND", "OR", "NOT", "IN", "LIKE", "ASC", "DESC", "NULLS",
    "FIRST", "LAST", "TRUE", "FALSE", "NULL", "ROLLUP", "CUBE",
    "TYPEOF", "WHEN", "THEN", "ELSE", "END",
} | _RANGE_KEYWORDS


class _Parser:
    def __init__(self, toks: list[Tok], source: str):
        self.toks, self.i, self.src = toks, 0, source

    # -- token plumbing ----------------------------------------------------
    def peek(self, k: int = 0) -> Tok | None:
        j = self.i + k
        return self.toks[j] if j < len(self.toks) else None

    def next(self) -> Tok:
        t = self.peek()
        if t is None:
            raise SoqlError("SOQL: unexpected end of query")
        self.i += 1
        return t

    def kw(self, *words: str) -> bool:
        """Consume the keyword sequence if present."""
        for k, w in enumerate(words):
            t = self.peek(k)
            if t is None or t.kind != "word" or t.text.upper() != w:
                return False
        self.i += len(words)
        return True

    def expect(self, text: str) -> None:
        t = self.next()
        if t.text.upper() != text.upper():
            raise SoqlError(f"SOQL: expected {text!r}, got {t.text!r} at {t.pos}")

    # -- grammar -----------------------------------------------------------
    def parse_query(self) -> dict:
        self.expect("SELECT")
        items = [self.parse_select_item()]
        while self.peek() and self.peek().text == ",":
            self.next()
            items.append(self.parse_select_item())
        self.expect("FROM")
        obj = self.next()
        if obj.kind != "word":
            raise SoqlError(f"SOQL: expected object name at {obj.pos}")
        q = {"select": items, "from": obj.text, "where": None, "group": None,
             "grouping": "plain", "having": None, "order": [], "limit": None,
             "offset": None, "security_enforced": False, "for_clause": None}
        if self.kw("WHERE"):
            q["where"] = self.parse_or()
        if self.kw("WITH"):
            if not self.kw("SECURITY_ENFORCED"):
                t = self.peek()
                raise SoqlError(
                    f"SOQL: only WITH SECURITY_ENFORCED is supported at "
                    f"{t.pos if t else 'end'}"
                )
            q["security_enforced"] = True
        if self.kw("GROUP", "BY"):
            if self.kw("ROLLUP"):
                q["grouping"] = "rollup"
                self.expect("(")
                q["group"] = self.parse_expr_list(until=")")
                self.expect(")")
            elif self.kw("CUBE"):
                q["grouping"] = "cube"
                self.expect("(")
                q["group"] = self.parse_expr_list(until=")")
                self.expect(")")
            else:
                q["group"] = self.parse_expr_list()
        if self.kw("HAVING"):
            q["having"] = self.parse_or()
        if self.kw("ORDER", "BY"):
            q["order"] = self.parse_order_list()
        if self.kw("LIMIT"):
            q["limit"] = int(self.next().text)
        if self.kw("OFFSET"):
            q["offset"] = int(self.next().text)
        if self.kw("FOR"):
            t = self.next() if self.peek() else None
            mode = t.text.upper() if t is not None and t.kind == "word" else None
            if mode not in ("VIEW", "REFERENCE", "UPDATE"):
                raise SoqlError(
                    f"SOQL: expected VIEW, REFERENCE or UPDATE after FOR at "
                    f"{t.pos if t else 'end'}"
                )
            q["for_clause"] = mode
        if self.peek() is not None:
            t = self.peek()
            raise SoqlError(f"SOQL: trailing input {t.text!r} at {t.pos}")
        return q

    def parse_expr_list(self, until: str | None = None) -> list[dict]:
        items = [self.parse_value_expr()]
        while self.peek() and self.peek().text == ",":
            self.next()
            items.append(self.parse_value_expr())
        return items

    def parse_order_list(self) -> list[dict]:
        out = []
        while True:
            e = self.parse_value_expr()
            desc = False
            nulls = None
            if self.kw("ASC"):
                pass
            elif self.kw("DESC"):
                desc = True
            if self.kw("NULLS", "FIRST"):
                nulls = "first"
            elif self.kw("NULLS", "LAST"):
                nulls = "last"
            out.append({"expr": e, "desc": desc, "nulls": nulls})
            if self.peek() and self.peek().text == ",":
                self.next()
                continue
            return out

    def parse_select_item(self) -> dict:
        t = self.peek()
        if t is not None and t.kind == "word" and t.text.upper() == "TYPEOF":
            # SOQL polymorphic branching:
            #   TYPEOF rel WHEN Type THEN f1, f2 [WHEN …] [ELSE f…] END
            # Lowered against the registry's polymorphic relationship
            # metadata (RelationshipRegistry.poly — the describe()-analog
            # a deployment declares once per schema).
            self.next()
            rel = self.next()
            if rel.kind != "word" or rel.text.upper() in _KEYWORDS:
                raise SoqlError(
                    f"SOQL: expected polymorphic field after TYPEOF at {rel.pos}"
                )
            if "." in rel.text:
                raise SoqlError(
                    f"SOQL: TYPEOF field must be a direct relationship "
                    f"({rel.text!r} at {rel.pos})"
                )
            branches: list[tuple[str, list[str]]] = []
            while self.kw("WHEN"):
                ty = self.next()
                if ty.kind != "word" or ty.text.upper() in _KEYWORDS:
                    raise SoqlError(
                        f"SOQL: expected object type after WHEN at {ty.pos}"
                    )
                if not self.kw("THEN"):
                    nt = self.peek()
                    raise SoqlError(
                        f"SOQL: expected THEN in TYPEOF branch at "
                        f"{nt.pos if nt else 'end'}"
                    )
                branches.append((ty.text, self._typeof_field_list()))
            else_fields: list[str] = []
            if self.kw("ELSE"):
                else_fields = self._typeof_field_list()
            if not self.kw("END"):
                nt = self.peek()
                raise SoqlError(
                    f"SOQL: expected END closing TYPEOF at "
                    f"{nt.pos if nt else 'end'}"
                )
            if not branches:
                raise SoqlError("SOQL: TYPEOF needs at least one WHEN branch")
            return {
                "kind": "typeof",
                "rel": rel.text,
                "branches": branches,
                "else": else_fields,
                "alias": rel.text.lower(),
            }
        if t is not None and t.text == "(":
            # D9: parent-to-child nested subselect — (SELECT … FROM RelName)
            self.next()
            if not (self.peek() and self.peek().kind == "word"
                    and self.peek().text.upper() == "SELECT"):
                raise SoqlError(
                    f"SOQL: expected nested SELECT at {t.pos}"
                )
            sub = self.parse_subquery()
            return {"kind": "child_sub", "q": sub,
                    "alias": self.maybe_alias(sub["from"].lower())}
        if t.kind == "word" and t.text.upper() == "COUNT" and \
                self.peek(1) and self.peek(1).text == "(" and \
                self.peek(2) and self.peek(2).text == ")":
            self.i += 3
            return {"kind": "agg", "fn": "COUNT", "arg": None,
                    "alias": self.maybe_alias("expr0")}
        if t.kind == "word" and t.text.upper() == "FIELDS" and \
                self.peek(1) and self.peek(1).text == "(":
            # SOQL FIELDS(ALL|STANDARD|CUSTOM) — dynamic column-set
            # expansion (resolved against the object's schema at lowering,
            # the describe()-analog of Salesforce's field registry)
            scope_t = self.peek(2)
            if (
                scope_t is None
                or scope_t.kind != "word"
                or scope_t.text.upper() not in ("ALL", "STANDARD", "CUSTOM")
            ):
                raise SoqlError(
                    f"SOQL: FIELDS() takes ALL, STANDARD or CUSTOM at "
                    f"{t.pos}"
                )
            if not (self.peek(3) and self.peek(3).text == ")"):
                raise SoqlError(
                    f"SOQL: expected ')' closing FIELDS at {t.pos}"
                )
            self.i += 4
            return {"kind": "fields", "scope": scope_t.text.upper()}
        e = self.parse_value_expr()
        return {**e, "alias": self.maybe_alias(default_alias(e))}

    def parse_subquery(self) -> dict:
        """A nested SELECT up to and including its closing ')'."""
        depth, j = 0, self.i
        while j < len(self.toks):
            if self.toks[j].text == "(":
                depth += 1
            elif self.toks[j].text == ")":
                if depth == 0:
                    break
                depth -= 1
            j += 1
        sub = _Parser(self.toks[self.i:j], self.src).parse_query()
        self.i = j
        self.expect(")")
        return sub

    def _typeof_field_list(self) -> list[str]:
        """Comma-separated plain field names inside a TYPEOF branch
        (terminated by WHEN / ELSE / END, which are keywords)."""
        fields: list[str] = []
        while True:
            t = self.next()
            if t.kind != "word" or t.text.upper() in _KEYWORDS:
                raise SoqlError(
                    f"SOQL: expected field name in TYPEOF branch at {t.pos}"
                )
            if "." in t.text:
                raise SoqlError(
                    f"SOQL: dotted paths are not supported inside TYPEOF "
                    f"branches ({t.text!r} at {t.pos})"
                )
            fields.append(t.text)
            if self.peek() and self.peek().text == ",":
                self.next()
                continue
            return fields

    def maybe_alias(self, default: str) -> str:
        t = self.peek()
        if (
            t is not None
            and t.kind == "word"
            and t.text.upper() not in _KEYWORDS
            and not (t.text.upper() in _AGGS or t.text.upper() in _DATE_FNS
                     or t.text.upper() in _FISCAL_FNS)
        ):
            self.next()
            return t.text
        return default

    def parse_value_expr(self) -> dict:
        t = self.next()
        if t.kind != "word":
            raise SoqlError(f"SOQL: expected field or function at {t.pos}")
        up = t.text.upper()
        if up in _AGGS and self.peek() and self.peek().text == "(":
            self.next()
            if self.peek() and self.peek().text == ")":  # COUNT()
                self.next()
                return {"kind": "agg", "fn": "COUNT", "arg": None}
            inner = self.parse_value_expr()
            self.expect(")")
            return {"kind": "agg", "fn": up, "arg": inner}
        if (up in _DATE_FNS or up in _FISCAL_FNS) and self.peek() and \
                self.peek().text == "(":
            self.next()
            inner = self.parse_value_expr()
            self.expect(")")
            return {"kind": "datefn", "fn": up, "arg": inner}
        return {"kind": "field", "name": t.text}

    # WHERE grammar: or := and (OR and)* ; and := unary (AND unary)* ;
    # unary := NOT unary | ( or ) | comparison
    def parse_or(self) -> dict:
        left = self.parse_and()
        while self.kw("OR"):
            left = {"kind": "or", "l": left, "r": self.parse_and()}
        return left

    def parse_and(self) -> dict:
        left = self.parse_unary()
        while self.kw("AND"):
            left = {"kind": "and", "l": left, "r": self.parse_unary()}
        return left

    def parse_unary(self) -> dict:
        if self.kw("NOT"):
            return {"kind": "not", "e": self.parse_unary()}
        if self.peek() and self.peek().text == "(":
            # lookahead: grouped boolean, not an IN-list
            self.next()
            e = self.parse_or()
            self.expect(")")
            return e
        return self.parse_comparison()

    def parse_comparison(self) -> dict:
        lhs = self.parse_value_expr()
        if self.kw("NOT", "IN"):
            return {"kind": "in", "neg": True, "l": lhs, "r": self.parse_in_rhs()}
        if self.kw("IN"):
            return {"kind": "in", "neg": False, "l": lhs, "r": self.parse_in_rhs()}
        if self.kw("LIKE"):
            pat = self.next()
            if pat.kind != "string":
                raise SoqlError(f"SOQL: LIKE needs a string literal at {pat.pos}")
            return {"kind": "like", "l": lhs, "pat": unquote(pat.text)}
        t = self.next()
        if t.kind != "op":
            raise SoqlError(f"SOQL: expected comparison operator at {t.pos}")
        return {"kind": "cmp", "op": t.text, "l": lhs, "r": self.parse_literal()}

    def parse_in_rhs(self) -> dict:
        self.expect("(")
        if self.peek() and self.peek().kind == "word" and \
                self.peek().text.upper() == "SELECT":
            return {"kind": "subquery", "q": self.parse_subquery()}
        vals = [self.parse_literal()]
        while self.peek() and self.peek().text == ",":
            self.next()
            vals.append(self.parse_literal())
        self.expect(")")
        return {"kind": "list", "vals": vals}

    def parse_literal(self) -> dict:
        t = self.next()
        if t.kind == "string":
            return {"kind": "lit", "v": unquote(t.text)}
        if t.kind == "isodate":
            # D20: unquoted ISO date/datetime literal; the 'T' separator
            # becomes a space for Spark/DuckDB timestamp casts
            return {"kind": "lit", "v": t.text.replace("T", " ")}
        if t.kind == "number":
            v = float(t.text) if "." in t.text else int(t.text)
            return {"kind": "lit", "v": v}
        if t.kind == "datelit":
            fn, n = t.text.split(":")
            return {"kind": "datelit", "fn": fn, "n": int(n)}
        up = t.text.upper()
        if up == "TRUE":
            return {"kind": "lit", "v": True}
        if up == "FALSE":
            return {"kind": "lit", "v": False}
        if up == "NULL":
            return {"kind": "null"}
        if up in _RANGE_KEYWORDS:
            return {"kind": "datelit", "fn": up, "n": 0}
        # bare word: SOQL allows ISO date/datetime literals unquoted
        if re.fullmatch(r"\d{4}-\d{2}-\d{2}(T[\d:.+Zz-]+)?", t.text):
            return {"kind": "lit", "v": t.text}
        raise SoqlError(f"SOQL: bad literal {t.text!r} at {t.pos}")


def unquote(s: str) -> str:
    return s[1:-1].replace("\\'", "'").replace('\\"', '"')


def default_alias(e: dict) -> str:
    if e["kind"] == "field":
        # dotted traversal paths flatten to underscore-joined output names
        return e["name"].lower().replace(".", "_")
    if e["kind"] == "agg":
        arg = e["arg"]["name"].lower() if e.get("arg") else ""
        return f"{e['fn'].lower()}_{arg}".rstrip("_")
    if e["kind"] == "datefn":
        return f"{e['fn'].lower()}_{e['arg']['name'].lower()}"
    raise SoqlError(f"no alias for {e}")


# ---------------------------------------------------------------------------
# Lowering to one Spark SQL text
# ---------------------------------------------------------------------------

def _ident(name: str) -> str:
    return "`" + name.replace("`", "``") + "`"


def _sql_lit(v) -> str:
    """Spark SQL literal with the value and type ``F.lit(v)`` gives: INT or
    BIGINT by range, DOUBLE (``D`` suffix, never DECIMAL), a backslash-
    escaped STRING (Spark's default ``escapedStringLiterals=false``),
    DATE/TIMESTAMP for ``datetime`` values."""
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "TRUE" if v else "FALSE"
    if isinstance(v, int):
        if not -(2**63) <= v < 2**63:
            raise SoqlError(f"SOQL: integer literal {v} out of range")
        return str(v) if -(2**31) <= v < 2**31 else f"{v}L"
    if isinstance(v, float):
        return f"{v!r}D"
    if isinstance(v, _dt.datetime):
        return f"TIMESTAMP '{v.isoformat(sep=' ')}'"
    if isinstance(v, _dt.date):
        return f"DATE '{v.isoformat()}'"
    if isinstance(v, str):
        return "'" + v.replace("\\", "\\\\").replace("'", "\\'") + "'"
    raise SoqlError(f"SOQL: unsupported literal {v!r}")


def _fiscal_sql(fn: str, x: str, start_month: int) -> str:
    """FISCAL_* (D19) under the org's fiscal-year start month.

    Convention (Salesforce default): fiscal month 1 is ``start_month``; the
    fiscal year is named by the calendar year in which it *ends* (with
    start_month=2, Jan-2020 is FY2020, Feb-2020 opens FY2021).
    ``start_month=1`` collapses to the calendar functions.
    """
    sm = _sql_lit(start_month)
    fm = f"((month({x}) - {sm} + 12) % 12 + 1)"
    if fn == "FISCAL_MONTH":
        return fm
    if fn == "FISCAL_QUARTER":
        return f"CAST(({fm} - 1) / 3 + 1 AS INT)"
    if start_month == 1:
        return f"year({x})"
    return f"(year({x}) + CASE WHEN month({x}) >= {sm} THEN 1 ELSE 0 END)"


def _agg_sig(e: dict) -> tuple:
    """Structural signature of an aggregate expression — used to match
    HAVING / ORDER BY aggregate references to SELECTed aggregates in
    the two-phase grouping-set lowering."""
    return (e["fn"], json.dumps(e.get("arg"), sort_keys=True))


def _agg_refs(e) -> list:
    """All aggregate expressions referenced inside a boolean tree
    (HAVING); SOQL grammar puts aggregates only on comparison LHS."""
    if not e:
        return []
    k = e.get("kind")
    if k in ("and", "or"):
        return _agg_refs(e["l"]) + _agg_refs(e["r"])
    if k == "not":
        return _agg_refs(e["e"])
    if k in ("cmp", "like", "in"):
        lhs = e.get("l")
        return [lhs] if lhs and lhs.get("kind") == "agg" else []
    return []


#: D18 date literal -> n -> (anchor, start, end): the half-open range
#: [anchor + start, anchor + end), in days from the day/week anchors and in
#: months from the month/quarter/year anchors. Weeks start Monday (Spark's
#: ``date_trunc('week')``); SOQL's locale-dependent week start is out of
#: scope. The LAST_* day families include today (public SOQL semantics:
#: "continues up to the current second").
_DATE_RANGES: dict[str, Callable[[int], tuple[str, int, int]]] = {
    "TODAY": lambda n: ("day", 0, 1),
    "YESTERDAY": lambda n: ("day", -1, 0),
    "TOMORROW": lambda n: ("day", 1, 2),
    "THIS_WEEK": lambda n: ("week", 0, 7),
    "LAST_WEEK": lambda n: ("week", -7, 0),
    "NEXT_WEEK": lambda n: ("week", 7, 14),
    "THIS_MONTH": lambda n: ("month", 0, 1),
    "LAST_MONTH": lambda n: ("month", -1, 0),
    "NEXT_MONTH": lambda n: ("month", 1, 2),
    "THIS_QUARTER": lambda n: ("quarter", 0, 3),
    "LAST_QUARTER": lambda n: ("quarter", -3, 0),
    "NEXT_QUARTER": lambda n: ("quarter", 3, 6),
    "THIS_YEAR": lambda n: ("year", 0, 12),
    "LAST_YEAR": lambda n: ("year", -12, 0),
    "NEXT_YEAR": lambda n: ("year", 12, 24),
    "LAST_90_DAYS": lambda n: ("day", -90, 1),
    "NEXT_90_DAYS": lambda n: ("day", 1, 91),
    "LAST_N_DAYS": lambda n: ("day", -n, 1),
    "NEXT_N_DAYS": lambda n: ("day", 1, n + 1),
    "N_DAYS_AGO": lambda n: ("day", -n, 1 - n),
    "LAST_N_WEEKS": lambda n: ("week", -7 * n, 0),
    "NEXT_N_WEEKS": lambda n: ("week", 7, 7 * (n + 1)),
    "LAST_N_MONTHS": lambda n: ("month", -n, 0),
    "NEXT_N_MONTHS": lambda n: ("month", 1, n + 1),
    "LAST_N_QUARTERS": lambda n: ("quarter", -3 * n, 0),
    "NEXT_N_QUARTERS": lambda n: ("quarter", 3, 3 * (n + 1)),
    "LAST_N_YEARS": lambda n: ("year", -12 * n, 0),
    "NEXT_N_YEARS": lambda n: ("year", 12, 12 * (n + 1)),
}


def _datelit_sql(e: dict, today: str) -> tuple[str, str]:
    """D18: a SOQL date literal denotes a half-open **[start, end) date
    range** relative to ``today`` (a SQL date expression) — ``=`` means
    "within", ``<`` "before the start", ``>`` "after the end" (lowered in
    ``_Lowerer._bool``)."""
    if e["fn"] not in _DATE_RANGES:
        raise SoqlError(f"SOQL: unknown date literal {e['fn']}")
    anchor, start, end = _DATE_RANGES[e["fn"]](e.get("n", 0))
    if anchor in ("day", "week"):
        a = today if anchor == "day" else f"CAST(date_trunc('week', {today}) AS DATE)"
        shift = lambda k: a if k == 0 else (  # noqa: E731
            f"date_add({a}, {k})" if k > 0 else f"date_sub({a}, {-k})"
        )
    else:
        a = f"trunc({today}, '{anchor}')"
        shift = lambda k: a if k == 0 else f"add_months({a}, {k})"  # noqa: E731
    return shift(start), shift(end)


#: SQL of a comparison against a date-literal range [s, e)
_RANGE_CMP = {
    "=": "(({l} >= {s}) AND ({l} < {e}))",
    "!=": "(({l} < {s}) OR ({l} >= {e}))",
    "<": "({l} < {s})",
    "<=": "({l} < {e})",
    ">": "({l} >= {e})",
    ">=": "({l} >= {s})",
}


def _datelit_range_py(e: dict, today) -> tuple:
    """Python mirror of :func:`_datelit_sql` for a *static* ``today`` —
    used to derive scan-side pushdown bounds at plan-build time (the SQL
    form stays the source of truth for the actual filter). Kept as its own
    encoding of the ranges so tests can check one against the other."""

    def add_months(d: _dt.date, n: int) -> _dt.date:
        m = d.month - 1 + n
        return _dt.date(d.year + m // 12, m % 12 + 1, 1)

    fn, n = e["fn"], e.get("n", 0)
    day = _dt.timedelta(days=1)
    week0 = today - _dt.timedelta(days=today.weekday())
    month0 = today.replace(day=1)
    quarter0 = _dt.date(today.year, ((today.month - 1) // 3) * 3 + 1, 1)
    year0 = _dt.date(today.year, 1, 1)
    ranges = {
        "TODAY": (today, today + day),
        "YESTERDAY": (today - day, today),
        "TOMORROW": (today + day, today + 2 * day),
        "THIS_WEEK": (week0, week0 + 7 * day),
        "LAST_WEEK": (week0 - 7 * day, week0),
        "NEXT_WEEK": (week0 + 7 * day, week0 + 14 * day),
        "THIS_MONTH": (month0, add_months(month0, 1)),
        "LAST_MONTH": (add_months(month0, -1), month0),
        "NEXT_MONTH": (add_months(month0, 1), add_months(month0, 2)),
        "THIS_QUARTER": (quarter0, add_months(quarter0, 3)),
        "LAST_QUARTER": (add_months(quarter0, -3), quarter0),
        "NEXT_QUARTER": (add_months(quarter0, 3), add_months(quarter0, 6)),
        "THIS_YEAR": (year0, add_months(year0, 12)),
        "LAST_YEAR": (add_months(year0, -12), year0),
        "NEXT_YEAR": (add_months(year0, 12), add_months(year0, 24)),
        "LAST_90_DAYS": (today - 90 * day, today + day),
        "NEXT_90_DAYS": (today + day, today + 91 * day),
        "LAST_N_DAYS": (today - n * day, today + day),
        "NEXT_N_DAYS": (today + day, today + (n + 1) * day),
        "N_DAYS_AGO": (today - n * day, today - (n - 1) * day),
        "LAST_N_WEEKS": (week0 - 7 * n * day, week0),
        "NEXT_N_WEEKS": (week0 + 7 * day, week0 + 7 * (n + 1) * day),
        "LAST_N_MONTHS": (add_months(month0, -n), month0),
        "NEXT_N_MONTHS": (add_months(month0, 1), add_months(month0, n + 1)),
        "LAST_N_QUARTERS": (add_months(quarter0, -3 * n), quarter0),
        "NEXT_N_QUARTERS": (add_months(quarter0, 3), add_months(quarter0, 3 * (n + 1))),
        "LAST_N_YEARS": (add_months(year0, -12 * n), year0),
        "NEXT_N_YEARS": (add_months(year0, 12), add_months(year0, 12 * (n + 1))),
    }
    return ranges.get(fn, (None, None))


class RelationshipRegistry:
    """Join metadata for SOQL relationship traversal (D8/D9).

    ``lookups[(table, rel_name)] = (parent_table, fk, pk)`` resolves
    child-to-parent dot paths (``SELECT rel.col FROM table``);
    ``children[(table, rel_name)] = (child_table, fk, pk)`` resolves
    parent-to-child nested subselects (``SELECT (SELECT … FROM RelName)``);
    ``poly[(table, rel_name)] = (fk, type_col, {TypeName: (parent_table,
    pk[, disc_value])})`` resolves TYPEOF polymorphic branching: ``fk`` is
    the polymorphic id field, ``type_col`` the discriminator column on the
    base table (Salesforce's ``<rel>.Type``), and each registered object
    type maps to its parent table, join key, and the discriminator value
    denoting it (defaults to the type name).
    Plays the role of Salesforce's relationship metadata from describe() —
    the engine-side registry a deployment declares once per schema.
    """

    def __init__(
        self,
        lookups: dict | None = None,
        children: dict | None = None,
        poly: dict | None = None,
    ):
        self.lookups = {
            (t.lower(), r.lower()): v for (t, r), v in (lookups or {}).items()
        }
        self.children = {
            (t.lower(), r.lower()): v for (t, r), v in (children or {}).items()
        }
        self.poly = {}
        for (t, r), (fk, type_col, types) in (poly or {}).items():
            norm = {}
            for ty, spec in types.items():
                pt, pk, disc = spec if len(spec) == 3 else (*spec, ty)
                norm[ty.lower()] = (pt.lower(), pk, disc)
            self.poly[(t.lower(), r.lower())] = (fk, type_col, norm)


#: dataType.typeName() → comparison category for lowering-time typecheck.
_TYPE_CATEGORY = {
    "byte": "num", "short": "num", "integer": "num", "long": "num",
    "float": "num", "double": "num", "decimal": "num",
    "string": "str", "varchar": "str", "char": "str",
    "boolean": "bool",
    "date": "date", "timestamp": "date", "timestamp_ntz": "date",
}

_INTEGRAL = ("byte", "short", "integer", "long")
_ISO_DATE_RE = re.compile(r"\d{4}-\d{2}-\d{2}([T ][\d:.+Zz-]+)?")


def _literal_category(e: dict) -> str | None:
    if e["kind"] == "datelit":
        return "date"
    if e["kind"] == "null":
        return None  # NULL compares with anything (as a null test)
    v = e["v"]
    if isinstance(v, bool):
        return "bool"
    if isinstance(v, (int, float)):
        return "num"
    if isinstance(v, str):
        # ISO date/datetime literals are parsed as strings (SOQL unquoted)
        return "date" if _ISO_DATE_RE.fullmatch(v) else "str"
    return None


class _Binder:
    """Binds the objects one ``soql_to_df`` call references: each
    ``(object, ts_range)`` is resolved once through the caller's resolver
    and, once the printed SQL names it, registered as a temp view under a
    name unique to the call, so concurrent calls never see each other's
    views. :meth:`sql` runs the text and drops the views again."""

    def __init__(self, spark: SparkSession, resolve: Callable[..., DataFrame]):
        import inspect

        self.spark, self.resolve = spark, resolve
        self.tag = uuid.uuid4().hex
        self.frames: dict[tuple, DataFrame] = {}
        self.views: dict[tuple, str] = {}
        self.types: dict[str, dict] = {}
        # Resolvers that accept ts_range= get scan-side event-time pushdown
        # (see _Lowerer._static_ts_range); detected by signature, never by
        # trial call.
        try:
            params = inspect.signature(resolve).parameters.values()
        except (TypeError, ValueError):
            params = []
        self.accepts_ts_range = any(
            p.name == "ts_range" or p.kind == p.VAR_KEYWORD for p in params
        )

    def frame(self, name: str, ts_range=None) -> DataFrame:
        key = (name.lower(), ts_range)
        if key not in self.frames:
            kw = {} if ts_range is None else {"ts_range": ts_range}
            self.frames[key] = self.resolve(name, **kw)
        return self.frames[key]

    def dtype(self, name: str, col: str):
        """Spark type of ``col`` (lower case) on ``name``, or None; the
        schema is fetched on first use only."""
        types = self.types.get(name.lower())
        if types is None:
            types = self.types[name.lower()] = {
                f.name.lower(): f.dataType for f in self.frame(name).schema.fields
            }
        return types.get(col)

    def view(self, name: str, ts_range=None) -> str:
        self.frame(name, ts_range)
        key = (name.lower(), ts_range)
        view = self.views.setdefault(key, f"__soql_{self.tag}_{len(self.views)}")
        return _ident(view)

    def sql(self, text: str) -> DataFrame:
        """Run ``text`` over the bound views. The returned DataFrame is
        already analyzed, so the views can go before it executes. They are
        dropped from the session catalog directly: ``Catalog.dropTempView``
        would also uncache the resolved plans, i.e. the caller's cached
        tables and DataFrames."""
        catalog, bound = self.spark._jsparkSession.sessionState().catalog(), []
        try:
            for key, view in self.views.items():
                self.frames[key].createOrReplaceTempView(view)
                bound.append(view)
            return self.spark.sql(text)
        finally:
            for view in bound:
                catalog.dropTempView(view)


def _prefix(path: tuple) -> str:
    return "__" + "__".join(path) + "__"


def _select(cols: str, src: tuple) -> str:
    hint, from_, where = src
    return f"SELECT {hint}{cols} FROM {from_}{where}"


def _derived(sql: str, alias: str) -> tuple:
    return ("", f"({sql}) AS {_ident(alias)}", "")


class _Lowerer:
    """Prints one parsed SOQL statement as a Spark SQL SELECT over the
    binder's views. Type checks read the bound schemas."""

    def __init__(self, binder: _Binder, registry: RelationshipRegistry | None,
                 today, fiscal_start_month: int, ci_strings: bool):
        self.b = binder
        self.registry = registry or RelationshipRegistry()
        self.ci_strings = ci_strings
        # D18 anchor: a datetime.date pins relative date literals for
        # deterministic replay; None = the engine clock (current_date).
        self.today_raw = today
        self.today = _sql_lit(today) if today is not None else "current_date()"
        self.fsm = fiscal_start_month
        self.from_ = ""
        #: joined column -> (object, column) it reads, or its category
        self.scope: dict[str, tuple | str] = {}
        self._agg_alias_map: dict | None = None

    def _nested(self, ci_strings: bool) -> "_Lowerer":
        return _Lowerer(self.b, self.registry, self.today_raw, self.fsm, ci_strings)

    # -- values ------------------------------------------------------------

    def _value(self, e: dict, qual: str = "") -> str:
        if e["kind"] == "field":
            return qual + _ident(e["name"].lower())
        if e["kind"] == "datefn":
            x = self._value(e["arg"], qual)
            if e["fn"] in _FISCAL_FNS:
                return _fiscal_sql(e["fn"], x, self.fsm)
            return _DATE_FNS[e["fn"]].format(x)
        if e["kind"] == "agg":
            raise SoqlError("aggregate not allowed here")
        raise SoqlError(f"bad value expr {e}")

    def _agg(self, e: dict) -> str:
        fn, arg = e["fn"], e.get("arg")
        if fn == "COUNT":
            return f"count({self._value(arg)})" if arg else "count(1)"
        if fn == "COUNT_DISTINCT":
            return f"count(DISTINCT {self._value(arg)})"
        return f"{fn.lower()}({self._value(arg)})"

    def _resolve_agg(self, e: dict) -> str:
        """Aggregate expression in HAVING/ORDER BY: under the two-phase
        lowering it must resolve to the FINAL output column (re-deriving
        the aggregate would aggregate base rows); otherwise the plain
        lowering applies."""
        if self._agg_alias_map is not None:
            return _ident(self._agg_alias_map[_agg_sig(e)])
        return self._agg(e)

    def _dtype(self, name: str):
        """Spark type of a column in scope (lower-case name), or None."""
        src = self.scope.get(name)
        if src is None:
            return self.b.dtype(self.from_, name)
        return self.b.dtype(*src) if isinstance(src, tuple) else None

    def _category(self, name: str) -> str | None:
        src = self.scope.get(name)
        if isinstance(src, str):
            return src
        dt = self._dtype(name)
        return None if dt is None else _TYPE_CATEGORY.get(dt.typeName(), "other")

    def _arg_type(self, e: dict):
        if e["kind"] == "field":
            return self._dtype(e["name"].lower())
        return DateType() if e["fn"] == "DAY_ONLY" else IntegerType()

    # -- D8: dot-path lookup joins -----------------------------------------

    @staticmethod
    def _walk_fields(node, fn):
        """Apply fn to every field node, skipping nested query contexts
        (IN-subqueries and child subselects resolve on their own tables)."""
        if isinstance(node, dict):
            k = node.get("kind")
            if k in ("subquery", "child_sub"):
                return
            if k == "field":
                fn(node)
            for v in node.values():
                _Lowerer._walk_fields(v, fn)
        elif isinstance(node, (list, tuple)):
            for v in node:
                _Lowerer._walk_fields(v, fn)

    def _apply_lookups(self, q: dict, joins: list, hints: list) -> None:
        """Resolve every dotted field path with broadcast lookup joins
        (≤5 levels like SOQL) and rewrite the AST to the joined columns,
        named ``__rel1__rel2__col``. Each hop projects only the columns the
        query reads from it."""
        dotted: set[str] = set()
        scope = [q["select"], q["where"], q["group"], q["having"],
                 [o["expr"] for o in q["order"]]]
        self._walk_fields(scope, lambda n: "." in n["name"] and dotted.add(n["name"]))
        if not dotted:
            return
        hops: dict[tuple, tuple] = {}  # path -> (table, fk column, pk)
        reads: dict[tuple, set] = {}  # path -> columns read from that hop
        mapping: dict[str, str] = {}
        for name in sorted(dotted):
            segs = name.lower().split(".")
            if len(segs) > 6:
                raise SoqlError(f"SOQL: relationship path too deep: {name!r}")
            path: tuple = ()
            cur_table = q["from"].lower()
            for seg in segs[:-1]:
                parent_path = path
                path = path + (seg,)
                if path not in hops:
                    rel = self.registry.lookups.get((cur_table, seg))
                    if rel is None:
                        raise SoqlError(
                            f"SOQL: unknown relationship {seg!r} on {cur_table!r}"
                        )
                    parent_table, fk, pk = rel
                    fk_col = fk.lower()
                    if parent_path:
                        reads[parent_path].add(fk_col)
                        fk_col = _prefix(parent_path) + fk_col
                    hops[path] = (parent_table.lower(), fk_col, pk.lower())
                    reads[path] = {pk.lower()}
                cur_table = hops[path][0]
            reads[path].add(segs[-1])
            mapping[name.lower()] = _prefix(path) + segs[-1]
        for path, (table, fk_col, pk) in hops.items():
            prefix, alias = _prefix(path), f"__j{len(joins)}"
            cols = ", ".join(
                f"{_ident(c)} AS {_ident(prefix + c)}" for c in sorted(reads[path])
            )
            joins.append(
                f"LEFT JOIN (SELECT {cols} FROM {self.b.view(table)}) AS {alias} "
                f"ON {_ident(fk_col)} = {_ident(prefix + pk)}"
            )
            hints.append(alias)
            self.scope.update({prefix + c: (table, c) for c in reads[path]})

        def rewrite(n):
            n["name"] = mapping.get(n["name"].lower(), n["name"])

        self._walk_fields(scope, rewrite)

    # -- TYPEOF: polymorphic branch joins ----------------------------------

    def _apply_typeof(self, q: dict, joins: list, hints: list) -> None:
        """Lower each ``TYPEOF rel WHEN Type THEN fields … END`` select item
        to one broadcast left join per branch, guarded by the discriminator
        (``type_col = disc AND fk = pk``) so a row only ever matches the
        branch its runtime type selects — the relational reading of
        Salesforce's polymorphic field dispatch. Flattened output contract:
        each WHEN field becomes ``{type}_{field}``; each ELSE field becomes
        ``else_{field}``, a coalesce over the registered types NOT named in
        any WHEN (the fields must exist on all of them — Salesforce's
        common-``Name``-object restriction, engine-checked)."""
        for it in q["select"]:
            if it["kind"] != "typeof":
                continue
            base_table = q["from"].lower()
            rel = it["rel"].lower()
            spec = self.registry.poly.get((base_table, rel))
            if spec is None:
                raise SoqlError(
                    f"SOQL: unknown polymorphic relationship {it['rel']!r} "
                    f"on {base_table!r}"
                )
            fk, type_col, types = spec
            out: list[tuple] = []
            named: list[str] = []

            def join_branch(ty: str, fields: list[str]) -> str:
                parent_table, pk, disc = types[ty]
                for f_ in fields:
                    if self.b.dtype(parent_table, f_.lower()) is None:
                        raise SoqlError(
                            f"SOQL: TYPEOF field {f_!r} does not exist on "
                            f"{parent_table!r}"
                        )
                prefix, alias = f"__typeof__{rel}__{ty}__", f"__j{len(joins)}"
                reads = sorted({pk.lower(), *(f_.lower() for f_ in fields)})
                cols = ", ".join(f"{_ident(c)} AS {_ident(prefix + c)}" for c in reads)
                joins.append(
                    f"LEFT JOIN (SELECT {cols} FROM {self.b.view(parent_table)}) "
                    f"AS {alias} ON ({_ident(type_col)} = {_sql_lit(disc)}) AND "
                    f"({_ident(fk.lower())} = {_ident(prefix + pk.lower())})"
                )
                hints.append(alias)
                self.scope.update({prefix + c: (parent_table, c) for c in reads})
                return prefix

            for ty_name, fields in it["branches"]:
                ty = ty_name.lower()
                if ty not in types:
                    raise SoqlError(
                        f"SOQL: unknown TYPEOF type {ty_name!r} for "
                        f"{it['rel']!r} (registered: {sorted(types)})"
                    )
                prefix = join_branch(ty, fields)
                named.append(ty)
                for f_ in fields:
                    out.append((_ident(prefix + f_.lower()), f"{ty}_{f_.lower()}"))
            if it["else"]:
                rest = [ty for ty in types if ty not in named]
                if not rest:
                    raise SoqlError(
                        "SOQL: TYPEOF ELSE has no remaining registered types "
                        f"for {it['rel']!r} — every type is named in a WHEN"
                    )
                prefixes = [join_branch(ty, it["else"]) for ty in rest]
                for f_ in it["else"]:
                    refs = ", ".join(_ident(p + f_.lower()) for p in prefixes)
                    out.append((f"coalesce({refs})", f"else_{f_.lower()}"))
            it["cols"] = out

    # -- D9: parent-to-child nested subselects -----------------------------

    def _apply_child_subs(self, q: dict, joins: list) -> None:
        base_table = q["from"].lower()
        for it in q["select"]:
            if it["kind"] != "child_sub":
                continue
            sub = it["q"]
            rel = self.registry.children.get((base_table, sub["from"].lower()))
            if rel is None:
                raise SoqlError(
                    f"SOQL: unknown child relationship {sub['from']!r} "
                    f"on {base_table!r}"
                )
            child_table, fk, pk = rel
            if sub["group"] is not None or any(
                s["kind"] == "agg" for s in sub["select"]
            ):
                raise SoqlError(
                    "SOQL: aggregates are not allowed in child subselects"
                )
            inner = self._nested(ci_strings=False)
            inner.from_ = child_table
            where = ""
            if sub["where"] is not None:
                where = f" WHERE {inner._bool(sub['where'])}"
            sel = ", ".join(
                f"{inner._value(s)} AS {_ident(s['alias'])}" for s in sub["select"]
            )
            alias = f"__j{len(joins)}"
            fk_key = f"__child_fk{len(joins)}"
            joins.append(
                f"LEFT JOIN (SELECT {_ident(fk.lower())} AS {_ident(fk_key)}, "
                f"collect_list(struct({sel})) AS {_ident(it['alias'])} "
                f"FROM {self.b.view(child_table)}{where} "
                f"GROUP BY {_ident(fk.lower())}) AS {alias} "
                f"ON {_ident(pk.lower())} = {alias}.{_ident(fk_key)}"
            )
            self.scope[it["alias"].lower()] = "other"

    # -- type discipline ---------------------------------------------------

    def _field_category(self, e: dict) -> str | None:
        """Comparison category of a value expr, from the bound schema."""
        if e["kind"] == "field":
            return self._category(e["name"].lower())
        if e["kind"] == "datefn":
            return "date" if e["fn"] == "DAY_ONLY" else "num"
        return None  # aggregates etc.: skip the check

    def _check_comparable(self, lhs: dict, rhs: dict, op: str) -> None:
        """D20 discipline: SOQL rejects type-mismatched comparisons
        (MALFORMED_QUERY) — surface them as SoqlError at plan-build time
        instead of leaking an engine cast failure at runtime."""
        lcat, rcat = self._field_category(lhs), _literal_category(rhs)
        if lcat is None or rcat is None:
            return
        # date fields accept only ISO-parseable values (rcat "date") — a
        # non-ISO quoted string vs a date field is Salesforce's
        # MALFORMED_QUERY, and letting it through becomes an ANSI cast
        # crash at runtime (found by fuzzing: ``WHERE ts = 'x'``)
        ok = lcat == rcat or (
            # ISO-looking *string literal* vs varchar is plain string equality;
            # a relative date expression (TODAY, LAST_N_DAYS) vs varchar is not
            lcat == "str" and rcat == "date" and rhs["kind"] == "lit"
        )
        if not ok:
            name = lhs.get("name", "?")
            raise SoqlError(
                f"SOQL: cannot compare {lcat} field {name!r} {op} {rcat} literal"
            )

    # -- scan-side event-time pushdown -------------------------------------

    def _static_ts_range(self, q: dict):
        """Derive a conservative (superset) [lo, hi) bound per date column
        from the top-level AND conjuncts of WHERE, when the bounds are
        static at plan-build time (ISO literals always; relative date
        literals only under an injected ``today``). The real filter still
        applies — this range exists solely so the resolver can prune the
        scan (catalog.load_table(ts_range=…) filters raw nanos longs ahead
        of the timestamp repair, re-enabling row-group min/max skipping
        that the repair projection otherwise blocks — SCALE.md)."""
        if q["where"] is None:
            return None

        def parse_iso(v: str):
            try:
                if len(v) <= 10:
                    return _dt.datetime.strptime(v, "%Y-%m-%d")
                return _dt.datetime.fromisoformat(v.replace("Z", "+00:00")).replace(
                    tzinfo=None
                )
            except ValueError:
                return None

        def bounds(r: dict, op: str):
            """(lo, hi) datetimes — a superset of values passing `col op r`."""
            if r["kind"] == "datelit":
                if self.today_raw is None:
                    return None
                s, e = _datelit_range_py(r, self.today_raw)
                if s is None:
                    return None
                # '>' follows a range literal's end
                s, e = (_dt.datetime.combine(d, _dt.time()) for d in (s, e))
                after = e
            elif r["kind"] == "lit" and isinstance(r["v"], str):
                s = parse_iso(r["v"])
                if s is None:
                    return None
                e, after = s + _dt.timedelta(days=1), s
            else:
                return None
            return {
                "=": (s, e), ">=": (s, None), ">": (after, None),
                "<": (None, s), "<=": (None, e),
            }.get(op)

        cands: dict[str, list] = {}
        for c in self._split_and(q["where"]):
            if c.get("kind") != "cmp":
                continue
            l = c["l"]
            if l.get("kind") != "field" or "." in l["name"]:
                continue
            name = l["name"].lower()
            if self._category(name) != "date":
                continue
            b = bounds(c["r"], c["op"])
            if b is None:
                continue
            lo, hi = cands.get(name, [None, None])
            nlo, nhi = b
            cands[name] = [
                max(filter(None, [lo, nlo]), default=None),
                min(filter(None, [hi, nhi]), default=None),
            ]

        def score(item):
            _, (lo, hi) = item
            return (lo is not None) + (hi is not None)

        best = max(cands.items(), key=score, default=None)
        if best is None or score(best) == 0:
            return None
        col, (lo, hi) = best
        fmt = lambda d: d.strftime("%Y-%m-%d %H:%M:%S") if d else None  # noqa: E731
        return (col, fmt(lo), fmt(hi))

    def _two_phase_grouping(self, src, key_names, q, aggs):
        """ROLLUP/CUBE over decomposable aggregates, lowered two-phase
        (round 9): Spark expands the INPUT ×(grouping sets) before a
        naive multi-set aggregate — on a fact table that is 3-4× the
        hash work and the measured sf1.0 cube straggler. Aggregating
        once at full key granularity first (the only fact-scale pass,
        fully map-side-combined) and re-grouping the tiny base is
        value-identical when every aggregate is decomposable:
        COUNT → Σ partial counts (coalesced to 0 for the empty-input
        global row), SUM over exact types → Σ partial sums (integer /
        decimal addition is associative; a DOUBLE sum would change
        low bits, so it falls back; the decimal final re-sum is cast
        back to the single-phase sum-widened-once result type so the
        output schema is lowering-path-independent), MIN/MAX →
        min/max of partials, AVG over integral types → Σ sums / Σ
        counts (round 10), all-COUNT_DISTINCT-over-one-column → Expand
        over the distinct (keys, value) pair base (round 10).
        Decimal/double AVG, mixed COUNT_DISTINCT, and COUNT_DISTINCT
        over differing columns are not decomposable here → fallback.
        Data-NULL keys stay correct: the base keeps a NULL-key group
        and re-grouping reproduces exactly the detail and subtotal
        rows the single-phase form emits.

        HAVING / ORDER BY aggregate references resolve against the
        FINAL aggregate, where re-deriving ``count(1)`` would count
        BASE rows — so two-phase only applies when every such
        reference structurally matches a SELECTed aggregate, and the
        match map (sig → output alias) is installed for ``_bool`` /
        the order lowering to resolve through. Returns the base as a
        derived-table source plus the final expression of each SELECTed
        aggregate, or None when not applicable (caller uses the
        single-phase form). Argument types come from the bound schemas."""
        items = aggs or [{"fn": "COUNT", "arg": None, "alias": "count"}]
        sig_map = {_agg_sig(it): it["alias"] for it in items}
        order_aggs = [o["expr"] for o in q["order"] if o["expr"]["kind"] == "agg"]
        if any(_agg_sig(r) not in sig_map for r in _agg_refs(q["having"]) + order_aggs):
            return None
        keys = ", ".join(_ident(k) for k in key_names)

        # COUNT_DISTINCT-only form (round 10): when EVERY aggregate is
        # COUNT_DISTINCT over the SAME column, the base is the distinct
        # (keys, value) PAIR set — one fact-scale exchange with map-side
        # dedup — and Expand runs over the deduped pairs instead of the
        # fact (per-set re-dedup still happens, but over far fewer
        # rows). Exactly value-preserving: deduping at full key
        # granularity keeps every per-grouping-set distinct value set
        # intact, and countDistinct skips NULLs on both paths. Mixed
        # aggregates keep the single-phase form (a multiplicity-losing
        # pair base cannot also serve COUNT/SUM partials).
        if all(it["fn"] == "COUNT_DISTINCT" for it in items):
            if len({_agg_sig(it)[1:] for it in items}) != 1:
                return None  # different columns need different bases
            dv = self._value(items[0]["arg"])
            base = _select(f"DISTINCT {keys}, {dv} AS `__dv`", src)
            self._agg_alias_map = sig_map
            return _derived(base, "__base"), ["count(DISTINCT `__dv`)"] * len(items)

        partials, finals = [], []
        for i, it in enumerate(items):
            fn, arg = it["fn"], it.get("arg")
            p, pc = f"`__p{i}`", f"`__pc{i}`"
            if fn == "COUNT":
                partials.append(f"{self._agg(it)} AS {p}")
                finals.append(f"CAST(coalesce(sum({p}), 0) AS BIGINT)")
            elif fn in ("MIN", "MAX"):
                partials.append(f"{self._agg(it)} AS {p}")
                finals.append(f"{fn.lower()}({p})")
            elif fn == "SUM":
                dt = self._arg_type(arg)
                if dt is None or dt.typeName() not in _INTEGRAL + ("decimal",):
                    return None
                partials.append(f"{self._agg(it)} AS {p}")
                if isinstance(dt, DecimalType):
                    # cast back to the SINGLE-phase result type (sum
                    # widens precision once, +10): without it the
                    # partial→final double widening leaks a
                    # decimal(p+20,s) schema that depends on which
                    # lowering path fired (ADVICE r9)
                    finals.append(
                        f"CAST(sum({p}) AS DECIMAL({min(38, dt.precision + 10)}, "
                        f"{dt.scale}))"
                    )
                else:
                    finals.append(f"sum({p})")
            elif fn == "AVG":
                # decomposable as (Σ partial sums) / (Σ partial counts)
                # for INTEGRAL inputs only: partial long sums are exact,
                # so the final double division reproduces single-phase
                # avg bit-for-bit in the < 2^53 regime. Beyond int64 the
                # two paths DIVERGE differently (ADVICE r10 low): the
                # partial BIGINT sum wraps silently under non-ANSI Spark,
                # while single-phase Average accumulates in double and
                # returns an approximately-correct value — a per-group
                # Σ|v| beyond ±2^63 is outside this lowering's domain
                # just as > 2^53 is outside its exactness claim. DECIMAL avg has
                # Catalyst-specific (p+4, s+4) divide-and-round
                # semantics and DOUBLE sums are order-dependent — both
                # fall back to single-phase (round 10, VERDICT item 5a).
                dt = self._arg_type(arg)
                if dt is None or dt.typeName() not in _INTEGRAL:
                    return None
                v = self._value(arg)
                partials += [f"sum({v}) AS {p}", f"count({v}) AS {pc}"]
                finals.append(f"(sum({p}) / sum({pc}))")
            else:  # COUNT_DISTINCT
                return None
        base = _select(f"{keys}, {', '.join(partials)}", src) + f" GROUP BY {keys}"
        self._agg_alias_map = sig_map
        return _derived(base, "__base"), finals

    def lower(self, q: dict) -> tuple[str, list[str]]:
        """Print ``q`` as one SELECT; returns the text and its output
        column names."""
        self.from_ = q["from"]
        q = self._expand_fields(q)
        rng = self._static_ts_range(q) if self.b.accepts_ts_range else None
        joins: list[str] = []
        hints: list[str] = []
        self._apply_lookups(q, joins, hints)
        self._apply_typeof(q, joins, hints)
        self._apply_child_subs(q, joins)
        from_ = " ".join([self.b.view(q["from"], rng), *joins])
        hint = f"/*+ BROADCAST({', '.join(hints)}) */ " if hints else ""

        # top-level AND splits into plain predicates and [NOT] IN
        # subqueries, which lower to LEFT SEMI / LEFT ANTI joins
        conjuncts = self._split_and(q["where"]) if q["where"] is not None else []
        plain = [c for c in conjuncts if not self._is_subquery(c)]
        where = ""
        if plain:
            pred = plain[0]
            for p in plain[1:]:
                pred = {"kind": "and", "l": pred, "r": p}
            where = f" WHERE {self._bool(pred)}"
        src = (hint, from_, where)
        subs = [c for c in conjuncts if self._is_subquery(c)]
        if subs:
            from_ = _derived(_select("*", src), "__l")[1]
            for i, s in enumerate(subs):
                sub_sql, sub_cols = self._nested(self.ci_strings).lower(s["r"]["q"])
                how = "ANTI" if s["neg"] else "SEMI"
                from_ += (
                    f" LEFT {how} JOIN ({sub_sql}) AS `__s{i}` ON "
                    f"{self._value(s['l'], '`__l`.')} = `__s{i}`.{_ident(sub_cols[0])}"
                )
            src = ("", from_, "")

        items = q["select"]
        aggs = [it for it in items if it["kind"] == "agg"]
        kinds = {it["kind"] for it in items}
        if "typeof" in kinds and (q["group"] is not None or aggs):
            raise SoqlError("SOQL: TYPEOF cannot mix with GROUP BY or aggregates")
        if "child_sub" in kinds and (q["group"] is not None or aggs):
            what = "GROUP BY" if q["group"] is not None else "aggregates"
            raise SoqlError(f"SOQL: child subselects cannot mix with {what}")
        if q["having"] is not None and q["group"] is None:
            raise SoqlError("SOQL: HAVING requires GROUP BY")
        out_cols = [it["alias"] for it in items if it["kind"] != "typeof"]
        if q["group"] is not None:
            key_names = [default_alias(g) for g in q["group"]]
            key_sql = [self._value(g) for g in q["group"]]
            pre = [
                f"{k} AS {_ident(n)}"
                for g, k, n in zip(q["group"], key_sql, key_names)
                if g["kind"] == "datefn"
            ]
            if pre:
                src = _derived(_select(", ".join(["*", *pre]), src), "__pre")
            agg_sql = [self._agg(it) for it in aggs]
            grouped = None
            if q["grouping"] in ("rollup", "cube"):
                grouped = self._two_phase_grouping(src, key_names, q, aggs)
            if grouped is not None:
                src, agg_sql = grouped
            finals = iter(agg_sql)
            cols = [
                f"{next(finals) if it['kind'] == 'agg' else _ident(default_alias(it))}"
                f" AS {_ident(it['alias'])}"
                for it in items
            ]
            group_by = ", ".join(_ident(k) for k in key_names)
            if q["grouping"] != "plain":
                group_by = f"{q['grouping'].upper()}({group_by})"
            sql = _select(", ".join(cols), src) + f" GROUP BY {group_by}"
            if q["having"] is not None:
                sql += f" HAVING {self._bool(q['having'], agg_ok=True)}"
        elif aggs:
            cols = [
                f"{self._agg(it) if it['kind'] == 'agg' else self._value(it)}"
                f" AS {_ident(it['alias'])}"
                for it in items
            ]
            sql = _select(", ".join(cols), src)
        else:
            cols, out_cols = [], []
            for it in items:
                if it["kind"] == "typeof":
                    cols += [f"{c} AS {_ident(a)}" for c, a in it["cols"]]
                    out_cols += [a for _, a in it["cols"]]
                    continue
                c = _ident(it["alias"]) if it["kind"] == "child_sub" else self._value(it)
                cols.append(f"{c} AS {_ident(it['alias'])}")
                out_cols.append(it["alias"])
            sql = _select(", ".join(cols), src)

        if q["order"]:
            keys = []
            for o in q["order"]:
                e = o["expr"]
                c = self._resolve_agg(e) if e["kind"] == "agg" else self._value(e)
                if default_alias(e) in out_cols:
                    c = _ident(default_alias(e))
                # SOQL default: ASC NULLS FIRST (DESC keeps NULLS LAST)
                nulls = o["nulls"] or (None if o["desc"] else "first")
                nulls = f" NULLS {nulls.upper()}" if nulls else ""
                keys.append(f"{c} {'DESC' if o['desc'] else 'ASC'}{nulls}")
            sql += " ORDER BY " + ", ".join(keys)
        if q["limit"] is not None:
            sql += f" LIMIT {q['limit']}"
        if q["offset"]:
            sql += f" OFFSET {q['offset']}"
        return sql, out_cols

    def _expand_fields(self, q: dict) -> dict:
        """Expand FIELDS(ALL|STANDARD|CUSTOM) select items against the
        source object's schema (Salesforce resolves them against the
        field registry; here the catalog schema is that registry —
        custom fields are the ``__c``-suffixed ones, Salesforce's
        public custom-field naming convention).
        SOQL's bounded-query rule applies: FIELDS(ALL)/FIELDS(CUSTOM)
        require an explicit LIMIT of at most 200; FIELDS(STANDARD) is
        unbounded. FIELDS cannot mix with GROUP BY/aggregates (same
        Salesforce restriction)."""
        if not any(it.get("kind") == "fields" for it in q["select"]):
            return q
        if q["group"] is not None or any(
            it.get("kind") == "agg" for it in q["select"]
        ):
            raise SoqlError("SOQL: FIELDS() cannot mix with aggregates")
        base_cols = [f.name for f in self.b.frame(q["from"]).schema.fields]
        items: list[dict] = []
        seen: set[str] = set()
        for it in q["select"]:
            if it.get("kind") != "fields":
                if it["alias"] not in seen:
                    seen.add(it["alias"])
                    items.append(it)
                continue
            scope = it["scope"]
            if scope in ("ALL", "CUSTOM") and (
                q["limit"] is None or q["limit"] > 200
            ):
                raise SoqlError(
                    f"SOQL: FIELDS({scope}) requires LIMIT <= 200 "
                    "(bounded-query rule)"
                )
            cols = [
                c
                for c in base_cols
                if scope == "ALL"
                or (scope == "CUSTOM") == c.lower().endswith("__c")
            ]
            if not cols:
                raise SoqlError(
                    f"SOQL: FIELDS({scope}) matched no fields on "
                    f"{q['from']!r}"
                )
            for c in cols:
                if c.lower() not in seen:
                    seen.add(c.lower())
                    items.append(
                        {"kind": "field", "name": c, "alias": c.lower()}
                    )
        return {**q, "select": items}

    @staticmethod
    def _split_and(e: dict) -> list[dict]:
        if e["kind"] == "and":
            return _Lowerer._split_and(e["l"]) + _Lowerer._split_and(e["r"])
        return [e]

    @staticmethod
    def _is_subquery(e: dict) -> bool:
        return e["kind"] == "in" and e["r"]["kind"] == "subquery"

    def _bool(self, e: dict, agg_ok: bool = False) -> str:
        k = e["kind"]
        if k in ("and", "or"):
            return (
                f"({self._bool(e['l'], agg_ok)} {k.upper()} "
                f"{self._bool(e['r'], agg_ok)})"
            )
        if k == "not":
            return f"(NOT {self._bool(e['e'], agg_ok)})"
        if k == "like":
            # D3: SOQL LIKE is case-insensitive; only string fields
            lcat = self._field_category(e["l"])
            if lcat not in (None, "str"):
                raise SoqlError(
                    f"SOQL: LIKE requires a string field, got {lcat}"
                )
            return f"(lower({self._value(e['l'])}) LIKE {_sql_lit(e['pat'].lower())})"
        if k == "in":
            if e["r"]["kind"] == "subquery":
                raise SoqlError(
                    "SOQL: [NOT] IN (SELECT ...) only supported as a "
                    "top-level AND conjunct of WHERE"
                )
            for v in e["r"]["vals"]:
                if v["kind"] == "datelit":
                    raise SoqlError(
                        "SOQL: date literals are ranges and cannot appear "
                        "in IN lists; use range comparisons instead"
                    )
                self._check_comparable(e["l"], v, "IN")
            vals = [v.get("v") for v in e["r"]["vals"]]
            lhs = self._value(e["l"])
            if self.ci_strings and all(
                _literal_category(v) == "str" for v in e["r"]["vals"]
            ):
                lhs = f"lower({lhs})"
                vals = [v.lower() for v in vals]
            c = f"({lhs} IN ({', '.join(_sql_lit(v) for v in vals)}))"
            return f"(NOT {c})" if e["neg"] else c
        if k == "cmp":
            op, r = e["op"], e["r"]
            if agg_ok and e["l"]["kind"] == "agg":
                lhs = self._resolve_agg(e["l"])
            else:
                self._check_comparable(e["l"], r, op)
                lhs = self._value(e["l"])
            if r["kind"] == "datelit":
                # D18: range semantics — '=' is containment, '<' precedes
                # the range start, '>' follows the range end
                start, end = _datelit_sql(r, self.today)
                return _RANGE_CMP[op].format(l=lhs, s=start, e=end)
            if r["kind"] == "null":
                # D20: SOQL '= NULL' is a null test, not ANSI unknown
                if op == "=":
                    return f"({lhs} IS NULL)"
                if op == "!=":
                    return f"({lhs} IS NOT NULL)"
                raise SoqlError(f"SOQL: operator {op} with NULL")
            rhs = _sql_lit(r["v"])
            if self.ci_strings and _literal_category(r) == "str":
                # Salesforce text collation: string comparisons are
                # case-insensitive (like D3's LIKE). Folding BOTH sides
                # through lower() keeps ordering comparisons consistent
                # with equality under the same collation.
                lhs, rhs = f"lower({lhs})", f"lower({rhs})"
            return f"({lhs} {op} {rhs})"
        raise SoqlError(f"SOQL: bad boolean expr {e}")


def assert_bulk_compatible(soql: str) -> None:
    """Raise :class:`SoqlError` if ``soql`` uses constructs the Salesforce
    Bulk API rejects: aggregate functions, GROUP BY (and therefore HAVING),
    or OFFSET (SURVEY §2D pre-amble; the reference's Bulk path forwards the
    string unchecked and would fail server-side,
    salesforce_to_s3_operator.py:50 — we fail fast at plan-build instead).
    The REST path (ObjectExtract / soql_to_df) supports them all."""
    q = _Parser(tokenize(soql), soql).parse_query()
    if q["group"] is not None or q["having"] is not None:
        raise SoqlError("SOQL: Bulk API does not support GROUP BY / HAVING")
    if q["offset"] is not None:
        raise SoqlError("SOQL: Bulk API does not support OFFSET")
    if any(item.get("kind") == "agg" for item in q["select"]):
        raise SoqlError("SOQL: Bulk API does not support aggregate functions")
    if any(item.get("kind") == "typeof" for item in q["select"]):
        raise SoqlError("SOQL: Bulk API does not support TYPEOF")


def soql_to_df(
    spark: SparkSession,
    soql: str,
    resolve: Callable[[str], DataFrame] | None = None,
    relationships: RelationshipRegistry | None = None,
    today=None,
    fiscal_start_month: int = 1,
    ci_strings: bool = False,
) -> DataFrame:
    """Parse a SOQL string and return the equivalent DataFrame plan.

    ``resolve`` maps an object name to its DataFrame; the default resolves
    case-insensitively against the session catalog's temp views (use
    ``sources.catalog.register_views`` first), replacing the reference's
    CamelCase-mangling normalizer (C6) with case-insensitive lookup. Each
    object is resolved once per call.

    ``relationships`` enables D8 dot-path lookups and D9 nested child
    subselects (see :class:`RelationshipRegistry`); the fixture schema's
    registry ships as ``sources.catalog.FIXTURE_RELATIONSHIPS``.

    ``ci_strings=True`` applies Salesforce's case-insensitive text
    collation to string comparisons and IN lists (LIKE is always
    case-insensitive, D3). Default False: the conformance contract
    compares strings bytewise like the DuckDB oracle; enable it when
    replaying queries whose source of truth was Salesforce itself.

    The statement is printed as one Spark SQL text over per-call temp
    views; that text is logged at DEBUG on this module's logger.
    """
    if resolve is None:
        def resolve(name: str) -> DataFrame:  # noqa: F811
            return spark.table(name.lower())

    q = _Parser(tokenize(soql), soql).parse_query()
    binder = _Binder(spark, resolve)
    sql, _ = _Lowerer(
        binder, relationships, today, fiscal_start_month, ci_strings
    ).lower(q)
    _log.debug("soql_to_df: %s", sql)
    return binder.sql(sql)
