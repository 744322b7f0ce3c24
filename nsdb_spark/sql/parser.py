"""Hand-rolled recursive-descent parser for the NSDb SQL dialect.

Grammar parity with
nsdb-sql/src/main/scala/io/radicalbit/nsdb/sql/parser/SQLStatementParser.scala:34-46:

  SelectStatement := "select" "distinct"? selectFields "from" literal
                     ("where" expression)?
                     ("group by" (literal | "interval" digit? timeMeasure))?
                     ("order by" literal ("desc")?)? ("limit" digit)?
                     ("since" digit? timeMeasure)?
  selectFields    := "*" | aggregation("distinct"? literal | "*") | (literal|"*")+

Dialect quirks (SURVEY.md §2.3): `IN (a,b)` is an inclusive BETWEEN; the LIKE
wildcard is `$`; AND/OR are right-associative with brackets overriding;
`now ± n unit` is a relative-time literal. Keywords are case-insensitive.
"""
from __future__ import annotations

import re
from typing import Any

from . import ast
from .errors import SQLParseError

_TOKEN_RE = re.compile(
    r"""\s*(?:
        (?P<string>'(?:[^']|'')*')
      | (?P<number>\d+(?:\.\d+)?)
      | (?P<ident>[A-Za-z_$][A-Za-z0-9_$.]*)
      | (?P<op><>|!=|>=|<=|=|>|<|\(|\)|,|\*|\+|-)
    )""",
    re.VERBOSE,
)

_KEYWORDS = {
    "SELECT", "DISTINCT", "FROM", "WHERE", "GROUP", "BY", "ORDER", "DESC",
    "LIMIT", "INTERVAL", "SINCE", "AND", "OR", "NOT", "IN", "LIKE", "IS",
    "NULL", "NOW", "INSERT", "INTO", "DIM", "TAGS", "VAL", "TS", "DELETE",
    "DROP", "METRIC", "SHOW", "METRICS", "NAMESPACES", "USE", "DESCRIBE",
}

_AGG_FUNCS = {
    "COUNT": ast.AGG_COUNT,
    "SUM": ast.AGG_SUM,
    "MIN": ast.AGG_MIN,
    "MAX": ast.AGG_MAX,
    "AVG": ast.AGG_AVG,
    "FIRST": ast.AGG_FIRST,
    "LAST": ast.AGG_LAST,
}

_TIME_UNITS = {"d", "h", "min", "m", "s"}

_LONG_MIN, _LONG_MAX = -(1 << 63), (1 << 63) - 1


class _Token:
    __slots__ = ("kind", "text", "raw")

    def __init__(self, kind: str, text: str, raw: str | None = None):
        self.kind = kind  # 'string' | 'number' | 'ident' | 'op' | 'kw' | 'eof'
        self.text = text
        self.raw = raw if raw is not None else text  # original spelling

    def __repr__(self) -> str:  # pragma: no cover
        return f"{self.kind}:{self.text}"


def _tokenize(sql: str) -> list[_Token]:
    tokens: list[_Token] = []
    pos = 0
    while pos < len(sql):
        m = _TOKEN_RE.match(sql, pos)
        if not m:
            if sql[pos:].strip() == "":
                break
            raise SQLParseError(f"unexpected character {sql[pos]!r} at position {pos}")
        pos = m.end()
        if m.lastgroup == "string":
            tokens.append(_Token("string", m.group("string")[1:-1].replace("''", "'")))
        elif m.lastgroup == "number":
            tokens.append(_Token("number", m.group("number")))
        elif m.lastgroup == "ident":
            text = m.group("ident")
            if text.upper() in _KEYWORDS:
                tokens.append(_Token("kw", text.upper(), raw=text))
            else:
                tokens.append(_Token("ident", text))
        else:
            tokens.append(_Token("op", m.group("op")))
    tokens.append(_Token("eof", ""))
    return tokens


class SQLStatementParser:
    """Parses one NSDb-dialect statement into an AST node."""

    def __init__(self, sql: str, db: str | None = None, namespace: str | None = None):
        self.sql = sql
        self.db = db
        self.namespace = namespace
        self.tokens = _tokenize(sql)
        self.i = 0

    # -- token helpers -------------------------------------------------
    def _peek(self, ahead: int = 0) -> _Token:
        j = min(self.i + ahead, len(self.tokens) - 1)
        return self.tokens[j]

    def _next(self) -> _Token:
        t = self.tokens[self.i]
        if t.kind != "eof":
            self.i += 1
        return t

    def _accept_kw(self, *kws: str) -> bool:
        t = self._peek()
        if t.kind == "kw" and t.text in kws:
            self.i += 1
            return True
        return False

    def _expect_kw(self, kw: str) -> None:
        if not self._accept_kw(kw):
            raise SQLParseError(f"expected {kw} near {self._peek().text!r} in {self.sql!r}")

    def _accept_op(self, op: str) -> bool:
        t = self._peek()
        if t.kind == "op" and t.text == op:
            self.i += 1
            return True
        return False

    def _expect_op(self, op: str) -> None:
        if not self._accept_op(op):
            raise SQLParseError(f"expected {op!r} near {self._peek().text!r} in {self.sql!r}")

    def _expect_ident(self) -> str:
        t = self._next()
        if t.kind == "ident":
            return t.text
        # allow reserved-ish words used as field names (e.g. `ts`, `metric`)
        # — preserving the ORIGINAL spelling (metric/field names are
        # case-sensitive; only keywords are case-insensitive)
        if t.kind == "kw" and t.text not in {"FROM", "WHERE", "EOF"}:
            return t.raw
        raise SQLParseError(f"expected identifier near {t.text!r} in {self.sql!r}")

    def _expect_int(self) -> int:
        t = self._next()
        if t.kind != "number" or "." in t.text:
            raise SQLParseError(f"expected integer near {t.text!r} in {self.sql!r}")
        return self._number(t.text)

    def _number(self, text: str, neg: bool = False) -> int | float:
        """A numeric literal (negated when `neg`). An integer must fit a
        signed 64-bit long, as the reference reads it with toLong."""
        if "." in text:
            return -float(text) if neg else float(text)
        v = -int(text) if neg else int(text)
        if not _LONG_MIN <= v <= _LONG_MAX:
            raise SQLParseError(
                f"integer {'-' if neg else ''}{text} out of the 64-bit range in {self.sql!r}"
            )
        return v

    # -- entry ---------------------------------------------------------
    def parse(self) -> ast.Statement:
        t = self._peek()
        if t.kind != "kw":
            raise SQLParseError(f"cannot parse statement {self.sql!r}")
        dispatch = {
            "SELECT": self._parse_select,
            "INSERT": self._parse_insert,
            "DELETE": self._parse_delete,
            "DROP": self._parse_drop,
            "SHOW": self._parse_show,
            "USE": self._parse_use,
            "DESCRIBE": self._parse_describe,
        }
        fn = dispatch.get(t.text)
        if fn is None:
            raise SQLParseError(f"cannot parse statement {self.sql!r}")
        stmt = fn()
        if self._peek().kind != "eof":
            raise SQLParseError(f"trailing input near {self._peek().text!r} in {self.sql!r}")
        return stmt

    # -- SELECT --------------------------------------------------------
    def _parse_select(self) -> ast.SelectSQLStatement:
        self._expect_kw("SELECT")
        distinct = self._accept_kw("DISTINCT")
        fields = self._parse_select_fields()
        self._expect_kw("FROM")
        metric = self._expect_ident()

        condition = None
        group_by = None
        order = None
        limit = None
        grace = None

        if self._accept_kw("WHERE"):
            condition = ast.Condition(self._parse_expression())
        if self._accept_kw("GROUP"):
            self._expect_kw("BY")
            group_by = self._parse_group_by()
        # SINCE may appear before or after ORDER/LIMIT (grammar puts it last;
        # be lenient like the tests exercise it)
        if self._accept_kw("SINCE"):
            grace = self._parse_grace()
        if self._accept_kw("ORDER"):
            self._expect_kw("BY")
            field = self._expect_ident()
            order = ast.OrderOperator(field, descending=self._accept_kw("DESC"))
        if self._accept_kw("LIMIT"):
            limit = ast.LimitOperator(self._expect_int())
        if grace is None and self._accept_kw("SINCE"):
            grace = self._parse_grace()

        return ast.SelectSQLStatement(
            metric=metric, distinct=distinct, fields=fields, condition=condition,
            group_by=group_by, order=order, limit=limit, grace_period=grace,
            db=self.db, namespace=self.namespace,
        )

    def _parse_select_fields(self) -> ast.SelectFields:
        if self._accept_op("*"):
            if self._peek().kind == "kw" and self._peek().text == "FROM":
                return ast.AllFields()
            # reference quirk (SQLStatementParser.scala selectFields:
            # `(All | aggField | field) ~ rep(Comma ~> ...)` with
            # `case All => AllFields()`): a leading * SWALLOWS any
            # trailing field list — `select *, a` is AllFields; a
            # trailing * after named fields stays an error there too
            if self._peek().kind == "op" and self._peek().text == ",":
                while self._accept_op(","):
                    self._parse_one_field()
                return ast.AllFields()
            raise SQLParseError(f"unexpected input after * in {self.sql!r}")
        fields = [self._parse_one_field()]
        while self._accept_op(","):
            fields.append(self._parse_one_field())
        return fields

    def _parse_one_field(self) -> ast.Field:
        t = self._peek()
        agg_kind = _AGG_FUNCS.get(t.text.upper()) if t.kind in ("ident", "kw") else None
        if agg_kind and self._peek(1).kind == "op" and self._peek(1).text == "(":
            self._next()  # func name
            self._expect_op("(")
            distinct = self._accept_kw("DISTINCT")
            if self._accept_op("*"):
                name = "*"
            else:
                name = self._expect_ident()
            self._expect_op(")")
            if distinct and agg_kind != ast.AGG_COUNT:
                # parser-level error, exact string from SQLStatementParser.scala:133
                raise SQLParseError("Distinct clause is only applicable to the count aggregation")
            kind = ast.AGG_COUNT_DISTINCT if distinct else agg_kind
            target = "value" if name == "*" else name
            return ast.Field(name, ast.Aggregation(kind, target))
        name = self._expect_ident()
        return ast.Field(name)

    def _parse_group_by(self):
        if self._accept_kw("INTERVAL"):
            qty = 1
            if self._peek().kind == "number":
                qty = self._expect_int()
            unit = self._expect_time_unit()
            return ast.TemporalGroupBy(qty * ast.TIME_UNIT_MS[unit], qty, unit)
        return ast.SimpleGroupBy(self._expect_ident())

    def _parse_grace(self) -> ast.GracePeriod:
        qty = 1
        if self._peek().kind == "number":
            qty = self._expect_int()
        unit = self._expect_time_unit()
        return ast.GracePeriod(qty * ast.TIME_UNIT_MS[unit], qty, unit)

    def _expect_time_unit(self) -> str:
        t = self._next()
        if t.kind == "ident" and t.text.lower() in _TIME_UNITS:
            return t.text.lower()
        raise SQLParseError(f"expected time unit near {t.text!r} in {self.sql!r}")

    # -- expressions (right-associative AND/OR, docs/SQL_doc.md:103-112) ----
    def _parse_expression(self) -> ast.Expression:
        left = self._parse_term()
        t = self._peek()
        if t.kind == "kw" and t.text in ("AND", "OR"):
            self._next()
            right = self._parse_expression()  # recursion → right-assoc
            return ast.TupledLogicalExpression(left, t.text.lower(), right)
        return left

    def _parse_term(self) -> ast.Expression:
        if self._accept_kw("NOT"):
            # NOT is GREEDY (reference parity: SQLStatementParser.scala:188
            # tries notUnaryLogicalExpression first, and its
            # `Not ~> expression` swallows the entire rest — pinned by
            # SelectSQLStatementSpec:355, where unparenthesized
            # `NOT timestamp >= 2 OR timestamp < 4` parses as
            # NOT(ts >= 2 OR ts < 4)). Parenthesize the inner predicate —
            # `(NOT a = 1) OR b = 2` — to bound NOT's scope instead.
            return ast.NotExpression(self._parse_expression())
        if self._accept_op("("):
            e = self._parse_expression()
            self._expect_op(")")
            # no AND/OR continuation here: _parse_expression's own
            # lookahead attaches any following connective to this term,
            # producing the identical right-associative tree
            return e
        return self._parse_comparison()

    def _parse_comparison(self) -> ast.Expression:
        field = self._expect_ident()
        if self._accept_kw("IS"):
            negated = self._accept_kw("NOT")
            self._expect_kw("NULL")
            return ast.NullableExpression(field, negated=negated)
        if self._accept_kw("LIKE"):
            t = self._next()
            if t.kind not in ("string", "ident"):
                raise SQLParseError(f"expected LIKE pattern near {t.text!r}")
            return ast.LikeExpression(field, t.text)
        if self._accept_kw("IN"):
            self._expect_op("(")
            v1 = self._parse_value()
            self._expect_op(",")
            v2 = self._parse_value()
            self._expect_op(")")
            return ast.RangeExpression(field, v1, v2)
        t = self._next()
        if t.kind != "op" or t.text not in ("=", "<>", "!=", ">", ">=", "<", "<="):
            raise SQLParseError(f"expected operator near {t.text!r} in {self.sql!r}")
        value = self._parse_value()
        if t.text == "=":
            return ast.EqualityExpression(field, value)
        if t.text in ("<>", "!="):
            return ast.NotExpression(ast.EqualityExpression(field, value))
        return ast.ComparisonExpression(field, t.text, value)

    def _parse_value(self) -> ast.ComparisonValue:
        if self._accept_kw("NOW"):
            for op in ("+", "-"):
                if self._accept_op(op):
                    qty = self._expect_int()
                    unit = self._expect_time_unit()
                    return ast.RelativeComparisonValue(op, qty, unit)
            return ast.RelativeComparisonValue("", 0, "")
        neg = self._accept_op("-")
        t = self._next()
        if t.kind == "number":
            return ast.AbsoluteComparisonValue(self._number(t.text, neg))
        if neg:
            raise SQLParseError(f"expected number after '-' near {t.text!r}")
        if t.kind in ("string", "ident"):
            return ast.AbsoluteComparisonValue(t.text)
        if t.kind == "kw":
            # unquoted string that collides with a keyword: preserve the
            # ORIGINAL spelling (t.raw), like _expect_ident — values are
            # case-sensitive, and lowercasing would make `host = Desc`
            # match rows tagged 'desc' instead of 'Desc'
            return ast.AbsoluteComparisonValue(t.raw)
        raise SQLParseError(f"expected value near {t.text!r} in {self.sql!r}")

    # -- INSERT (docs/SQL_doc.md:252-279) ------------------------------
    def _parse_insert(self) -> ast.InsertSQLStatement:
        self._expect_kw("INSERT")
        self._expect_kw("INTO")
        metric = self._expect_ident()
        ts = None
        if self._accept_kw("TS"):
            self._expect_op("=")
            ts = self._expect_int()
        dims: dict[str, Any] = {}
        tags: dict[str, Any] = {}
        if self._accept_kw("DIM"):
            dims = self._parse_kv_list()
        if self._accept_kw("TAGS"):
            tags = self._parse_kv_list()
        self._expect_kw("VAL")
        self._expect_op("=")
        value = self._parse_literal_number()
        return ast.InsertSQLStatement(metric, ts, dims, tags, value,
                                      db=self.db, namespace=self.namespace)

    def _parse_kv_list(self) -> dict[str, Any]:
        self._expect_op("(")
        out: dict[str, Any] = {}
        if not self._accept_op(")"):
            while True:
                k = self._expect_ident()
                self._expect_op("=")
                out[k] = self._parse_literal()
                if self._accept_op(")"):
                    break
                self._expect_op(",")
        return out

    def _parse_literal(self) -> Any:
        neg = self._accept_op("-")
        t = self._next()
        if t.kind == "number":
            return self._number(t.text, neg)
        if neg:
            raise SQLParseError(f"expected number after '-' near {t.text!r}")
        if t.kind in ("string", "ident"):
            return t.text
        raise SQLParseError(f"expected literal near {t.text!r} in {self.sql!r}")

    def _parse_literal_number(self) -> int | float:
        v = self._parse_literal()
        if not isinstance(v, (int, float)):
            raise SQLParseError("VAL must be numeric")
        return v

    # -- DELETE / DROP / commands --------------------------------------
    def _parse_delete(self) -> ast.DeleteSQLStatement:
        self._expect_kw("DELETE")
        self._expect_kw("FROM")
        metric = self._expect_ident()
        self._expect_kw("WHERE")
        return ast.DeleteSQLStatement(metric, ast.Condition(self._parse_expression()),
                                      db=self.db, namespace=self.namespace)

    def _parse_drop(self) -> ast.DropSQLStatement:
        self._expect_kw("DROP")
        self._expect_kw("METRIC")
        return ast.DropSQLStatement(self._expect_ident(), db=self.db, namespace=self.namespace)

    def _parse_show(self):
        self._expect_kw("SHOW")
        if self._accept_kw("METRICS"):
            return ast.ShowMetrics()
        if self._accept_kw("NAMESPACES"):
            return ast.ShowNamespaces()
        raise SQLParseError(f"expected METRICS or NAMESPACES in {self.sql!r}")

    def _parse_use(self) -> ast.UseNamespace:
        self._expect_kw("USE")
        return ast.UseNamespace(self._expect_ident())

    def _parse_describe(self) -> ast.DescribeMetric:
        self._expect_kw("DESCRIBE")
        return ast.DescribeMetric(self._expect_ident())


def parse(sql: str, db: str | None = None, namespace: str | None = None) -> ast.Statement:
    """Parse one NSDb-dialect statement."""
    return SQLStatementParser(sql, db=db, namespace=namespace).parse()
