"""OGR SQL (swq dialect) string front-end: SQL text -> AST -> DataFrame.

The reference's single most-used query API is
``GDALDataset::ExecuteSQL(sql, ..., "OGRSQL")``
(gcore/gdaldataset.cpp:6986): a Bison grammar (ogr/swq_parser.y) parses
into ``swq_select`` IR (ogr/ogr_swq.h:446-483), ``BuildParseInfo`` binds
fields, and ``OGRGenSQLResultsLayer`` executes pull-based
(ogr/ogrsf_frmts/generic/ogr_gensql.cpp).  This module is the Spark
analog of the parse/bind half: a recursive-descent parser for the SAME
dialect, lowering onto the repo's EXISTING operators — plain DataFrame
select/filter/agg/orderBy plus the first-match join — so everything a
parsed query emits is ordinary Catalyst (whole-stage-codegen
expressions, broadcast-able joins; no Python anywhere in a compiled
expression).  Optimization and execution stay Catalyst's job.

Dialect semantics ported faithfully (reference cites per rule):

* string ``= <> < > <= >= IN BETWEEN`` are CASE-INSENSITIVE
  (strcasecmp, ogr/swq_op_general.cpp:955-1086) — lowered as
  ``lower(a) op lower(b)``; ``LIKE`` is case-SENSITIVE by default and
  ``ILIKE`` insensitive (swq_op_general.cpp:1090-1127;
  ``OGR_SQL_LIKE_AS_ILIKE`` defaults FALSE) — the inverse of several
  engines' defaults;
* divide / modulus by zero yield INT_MAX = 2147483647, not NULL
  (swq_op_general.cpp:490-505 float, :678-706 integer); integer ``/``
  truncates toward zero (C semantics — Spark's ``div``);
* AND/OR null logic is NOT Kleene (swq_op_general.cpp:545-558): AND is
  null only when BOTH sides are null (``NULL AND TRUE`` = FALSE); OR is
  null when EITHER side is null (``NULL OR TRUE`` is NULL, so it
  filters the row OUT where ANSI keeps it); ``NOT NULL`` is null
  (:560-563, same as ANSI);
* first-match JOIN: one secondary row per primary, null-padded on miss
  (ogr_gensql.cpp:1497-1527); the reference takes the secondary layer's
  physical read order — we pin "first" as min FID of the layer binding
  (SURVEY §7 watch-list), via a per-key row_number;
* summary mode (SWQM_SUMMARY_RECORD, ogr/ogr_swq.h:320): ANY aggregate
  in the select list turns the whole query into one aggregate row — the
  dialect has no GROUP BY (swq_parser.y has no such token); mixing
  aggregates with plain fields is an error, as in the reference;
* DISTINCT mode (SWQM_DISTINCT_LIST, ogr_swq.h:322) for
  ``SELECT DISTINCT``;
* SUBSTR's exact offset rules (1-based, 0 treated as 1, negative counts
  from the end with a clamp to 0, 2-arg form = rest of string, negative
  length = empty; swq_op_general.cpp:1147-1200); ``+`` on strings
  concatenates (:1134-1145);
* CAST type set boolean / character(n) (width-truncating) / integer /
  bigint / smallint / float / numeric / real / double / date / time /
  timestamp (SWQCastChecker, swq_op_general.cpp:1836+); float->integer
  casts TRUNCATE (C static_cast, :1685-1690 — Spark CAST agrees,
  DuckDB's rounds: oracle texts must spell the truncation);
  string->integer is atoi (leading-digits, 0 on garbage, :1692);
* special fields FID / OGR_GEOM_AREA / OGR_STYLE / OGR_GEOMETRY
  (ogr_gensql.cpp:824-826,1555) resolved from the layer binding;
* ``SELECT * EXCEPT (f, ...)`` projection exclusion
  (swq_parser.y:890-903; EXCLUDE synonym) and ``table.*``;
* ``UNION ALL`` statement chaining (gcore/gdaldataset.cpp:7131-7177)
  via unionByName;
* ORDER BY multi-key with NULLS FIRST when ascending / NULLS LAST when
  descending (the Compare() null rule, ogr_gensql.cpp:2478-2562,
  ogr/swq.cpp:602-612 — exactly Spark's defaults), LIMIT / OFFSET
  (ogr/ogr_swq.h:480-483); ORDER BY may name un-selected primary
  fields, so sorting happens before the final projection
  (ogr_gensql.cpp:2185-2400 reads sort keys from the source layer);
* WHERE may reference only primary-table fields — the reference pushes
  the WHERE string down to the primary layer (ogr_gensql.cpp:567-578);
  we enforce it with a loud error.

Documented divergences: the reference's strcasecmp/tolower fold BYTES
(we ``lower()`` — identical on ASCII, differs on non-ASCII UTF-8);
integer overflow is not trapped to NULL; CAST(float AS character) is
rejected here (the reference renders "%.15g" — no portable SQL
spelling); join secondaries are broadcast (dim contract — the reference
re-scans the secondary layer per primary row, which is only viable for
dims anyway).
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field as dc_field

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

INT_MAX = 2147483647

# --------------------------------------------------------------------------
# Lexer
# --------------------------------------------------------------------------

_KEYWORDS = {
    "SELECT", "DISTINCT", "FROM", "WHERE", "JOIN", "LEFT", "ON", "ORDER",
    "BY", "ASC", "DESC", "LIMIT", "OFFSET", "UNION", "ALL", "AS", "IN",
    "LIKE", "ILIKE", "ESCAPE", "BETWEEN", "IS", "NOT", "NULL", "AND",
    "OR", "CAST", "EXCEPT", "EXCLUDE", "HIDDEN",
}

_TOKEN_RE = re.compile(
    r"""\s*(?:
        (?P<float>\d+\.\d*(?:[eE][+-]?\d+)?|\.\d+(?:[eE][+-]?\d+)?
                 |\d+[eE][+-]?\d+)
      | (?P<int>\d+)
      | (?P<str>'(?:[^']|'')*')
      | (?P<qident>"(?:[^"]|"")*")
      | (?P<ident>[A-Za-z_][A-Za-z_0-9]*)
      | (?P<op><=|>=|<>|!=|[=<>(),.*/%+-])
    )""",
    re.VERBOSE,
)


@dataclass
class Tok:
    kind: str  # 'kw' 'ident' 'int' 'float' 'str' 'op' 'end'
    value: str


def tokenize(sql: str) -> list[Tok]:
    out, pos = [], 0
    while pos < len(sql):
        m = _TOKEN_RE.match(sql, pos)
        if m is None:
            if sql[pos:].strip() == "":
                break
            raise OgrSqlError(f"lex error at: {sql[pos:pos + 20]!r}")
        pos = m.end()
        if m.lastgroup == "float":
            out.append(Tok("float", m.group("float")))
        elif m.lastgroup == "int":
            out.append(Tok("int", m.group("int")))
        elif m.lastgroup == "str":
            out.append(Tok("str", m.group("str")[1:-1].replace("''", "'")))
        elif m.lastgroup == "qident":
            out.append(
                Tok("ident", m.group("qident")[1:-1].replace('""', '"'))
            )
        elif m.lastgroup == "ident":
            up = m.group("ident").upper()
            if up in _KEYWORDS:
                out.append(Tok("kw", up))
            else:
                out.append(Tok("ident", m.group("ident")))
        else:
            op = m.group("op")
            out.append(Tok("op", "<>" if op == "!=" else op))
    out.append(Tok("end", ""))
    return out


class OgrSqlError(ValueError):
    """Parse or bind error in an OGR SQL statement."""


# --------------------------------------------------------------------------
# AST
# --------------------------------------------------------------------------


@dataclass
class Lit:
    value: object
    typ: str  # 'int' 'float' 'str' 'null'


@dataclass
class ColRef:
    table: str | None
    name: str


@dataclass
class Un:
    op: str  # 'NOT' 'NEG' 'ISNULL' 'NOTNULL'
    a: object


@dataclass
class Bin:
    op: str  # 'OR' 'AND' '=' '<>' '<' '>' '<=' '>=' '+' '-' '*' '/' '%'
    a: object
    b: object


@dataclass
class LikeE:
    a: object
    pat: object
    esc: object | None
    insensitive: bool
    neg: bool


@dataclass
class InE:
    a: object
    items: list
    neg: bool


@dataclass
class BetweenE:
    a: object
    lo: object
    hi: object
    neg: bool


@dataclass
class FuncE:
    name: str  # 'CONCAT' 'SUBSTR' 'HSTORE_GET_VALUE'
    args: list


@dataclass
class CastE:
    a: object
    typ: str
    width: int | None


@dataclass
class AggE:
    func: str  # 'MIN' 'MAX' 'AVG' 'SUM' 'COUNT' 'STDDEV_POP' 'STDDEV_SAMP'
    arg: object | None  # None = COUNT(*)
    distinct: bool = False


@dataclass
class Star:
    table: str | None
    exclude: list = dc_field(default_factory=list)


@dataclass
class SelCol:
    expr: object
    alias: str | None
    hidden: bool = False


@dataclass
class JoinDef:
    table: str
    alias: str | None
    left: ColRef
    right: ColRef


@dataclass
class Select:
    cols: list
    distinct: bool
    table: str
    talias: str | None
    joins: list
    where: object | None
    order: list  # [(ColRef, asc: bool)]
    limit: int | None
    offset: int | None
    union: "Select | None" = None


_AGG_FUNCS = {"MIN", "MAX", "AVG", "SUM", "COUNT", "STDDEV_POP",
              "STDDEV_SAMP"}
_SCALAR_FUNCS = {"CONCAT", "SUBSTR", "HSTORE_GET_VALUE"}


class Parser:
    """Recursive-descent port of the swq grammar subset above
    (ogr/swq_parser.y: select rule :822-838, column_spec :880-1000,
    value_expr precedence :93-100)."""

    def __init__(self, sql: str):
        self.toks = tokenize(sql)
        self.i = 0

    # ------------------------------------------------------------- helpers
    def peek(self, k: int = 0) -> Tok:
        return self.toks[min(self.i + k, len(self.toks) - 1)]

    def next(self) -> Tok:
        t = self.toks[self.i]
        self.i += 1
        return t

    def accept(self, kind: str, value: str | None = None) -> Tok | None:
        t = self.peek()
        if t.kind == kind and (value is None or t.value == value):
            return self.next()
        return None

    def expect(self, kind: str, value: str | None = None) -> Tok:
        t = self.accept(kind, value)
        if t is None:
            raise OgrSqlError(
                f"expected {value or kind}, got {self.peek().value!r}"
            )
        return t

    # ------------------------------------------------------------ entry
    def parse(self) -> Select:
        sel = self._select_core()
        cur = sel
        while self.accept("kw", "UNION"):
            self.expect("kw", "ALL")
            nxt = self._select_core()
            cur.union = nxt
            cur = nxt
        self.expect("end")
        return sel

    def _select_core(self) -> Select:
        if self.accept("op", "("):
            self.expect("kw", "SELECT")
            inner = self._select_body()
            self.expect("op", ")")
            return inner
        self.expect("kw", "SELECT")
        return self._select_body()

    def _select_body(self) -> Select:
        distinct = self.accept("kw", "DISTINCT") is not None
        cols = [self._column_spec()]
        while self.accept("op", ","):
            cols.append(self._column_spec())
        self.expect("kw", "FROM")
        table, talias = self._table_def()
        joins = []
        while True:
            if self.accept("kw", "JOIN"):
                pass
            elif self.peek().value == "LEFT":
                self.next()
                self.expect("kw", "JOIN")
            else:
                break
            jtable, jalias = self._table_def()
            self.expect("kw", "ON")
            cond = self._expr()
            if not (
                isinstance(cond, Bin)
                and cond.op == "="
                and isinstance(cond.a, ColRef)
                and isinstance(cond.b, ColRef)
            ):
                raise OgrSqlError(
                    "JOIN ON must be an equi-join of two fields "
                    "(the reference's BuildParseInfo restriction)"
                )
            joins.append(JoinDef(jtable, jalias, cond.a, cond.b))
        where = None
        if self.accept("kw", "WHERE"):
            where = self._expr()
        order: list = []
        if self.accept("kw", "ORDER"):
            self.expect("kw", "BY")
            while True:
                f = self._field_ref()
                asc = True
                if self.accept("kw", "ASC"):
                    pass
                elif self.accept("kw", "DESC"):
                    asc = False
                order.append((f, asc))
                if not self.accept("op", ","):
                    break
        limit = offset = None
        if self.accept("kw", "LIMIT"):
            limit = int(self.expect("int").value)
        if self.accept("kw", "OFFSET"):
            offset = int(self.expect("int").value)
        return Select(
            cols, distinct, table, talias, joins, where, order, limit, offset
        )

    def _table_def(self) -> tuple[str, str | None]:
        name = self.expect("ident").value
        alias = None
        if self.accept("kw", "AS"):
            alias = self.expect("ident").value
        elif self.peek().kind == "ident":
            alias = self.next().value
        return name, alias

    def _column_spec(self) -> SelCol:
        # star forms
        if self.peek().value == "*":
            self.next()
            if self.peek().value in ("EXCEPT", "EXCLUDE"):
                self.next()
                self.expect("op", "(")
                excl = [self._field_ref()]
                while self.accept("op", ","):
                    excl.append(self._field_ref())
                self.expect("op", ")")
                return SelCol(Star(None, excl), None)
            return SelCol(Star(None), None)
        if (
            self.peek().kind == "ident"
            and self.peek(1).value == "."
            and self.peek(2).value == "*"
        ):
            t = self.next().value
            self.next()
            self.next()
            return SelCol(Star(t), None)
        # COUNT(*) / COUNT(DISTINCT x)
        if (
            self.peek().kind == "ident"
            and self.peek().value.upper() == "COUNT"
            and self.peek(1).value == "("
        ):
            if self.peek(2).value == "*":
                self.next(), self.next(), self.next()
                self.expect("op", ")")
                return self._with_alias(AggE("COUNT", None))
            if self.peek(2).kind == "kw" and self.peek(2).value == "DISTINCT":
                self.next(), self.next(), self.next()
                arg = self._field_ref()
                self.expect("op", ")")
                return self._with_alias(AggE("COUNT", arg, distinct=True))
        expr = self._expr()
        return self._with_alias(expr)

    def _with_alias(self, expr) -> SelCol:
        alias, hidden = None, False
        if self.accept("kw", "AS"):
            alias = self.expect("ident").value
        elif self.peek().kind == "ident":
            alias = self.next().value
        if self.accept("kw", "HIDDEN"):
            hidden = True
        return SelCol(expr, alias, hidden)

    def _field_ref(self) -> ColRef:
        a = self.expect("ident").value
        if self.accept("op", "."):
            return ColRef(a, self.expect("ident").value)
        return ColRef(None, a)

    # --------------------------------------------------- expression parsing
    # precedence (swq_parser.y:93-100): OR < AND < NOT < comparisons <
    # additive < multiplicative < unary < primary
    def _expr(self):
        return self._or_expr()

    def _or_expr(self):
        a = self._and_expr()
        while self.accept("kw", "OR"):
            a = Bin("OR", a, self._and_expr())
        return a

    def _and_expr(self):
        a = self._not_expr()
        while self.accept("kw", "AND"):
            a = Bin("AND", a, self._not_expr())
        return a

    def _not_expr(self):
        if self.accept("kw", "NOT"):
            return Un("NOT", self._not_expr())
        return self._predicate()

    def _predicate(self):
        a = self._additive()
        neg = False
        if self.peek().value == "NOT" and self.peek(1).value in (
            "LIKE", "ILIKE", "IN", "BETWEEN",
        ):
            self.next()
            neg = True
        t = self.peek()
        if t.kind == "kw" and t.value in ("LIKE", "ILIKE"):
            self.next()
            pat = self._additive()
            esc = None
            if self.accept("kw", "ESCAPE"):
                esc = self._additive()
            return LikeE(a, pat, esc, t.value == "ILIKE", neg)
        if t.kind == "kw" and t.value == "IN":
            self.next()
            self.expect("op", "(")
            items = [self._additive()]
            while self.accept("op", ","):
                items.append(self._additive())
            self.expect("op", ")")
            return InE(a, items, neg)
        if t.kind == "kw" and t.value == "BETWEEN":
            self.next()
            lo = self._additive()
            self.expect("kw", "AND")
            hi = self._additive()
            return BetweenE(a, lo, hi, neg)
        if t.kind == "kw" and t.value == "IS":
            self.next()
            isneg = self.accept("kw", "NOT") is not None
            self.expect("kw", "NULL")
            return Un("NOTNULL" if isneg else "ISNULL", a)
        if t.kind == "op" and t.value in ("=", "<>", "<", ">", "<=", ">="):
            self.next()
            return Bin(t.value, a, self._additive())
        return a

    def _additive(self):
        a = self._multiplicative()
        while True:
            t = self.peek()
            if t.kind == "op" and t.value in ("+", "-"):
                self.next()
                a = Bin(t.value, a, self._multiplicative())
            else:
                return a

    def _multiplicative(self):
        a = self._unary()
        while True:
            t = self.peek()
            if t.kind == "op" and t.value in ("*", "/", "%"):
                self.next()
                a = Bin(t.value, a, self._unary())
            else:
                return a

    def _unary(self):
        if self.accept("op", "-"):
            a = self._unary()
            # constant-fold negative literals (swq_parser.y:605-626)
            if isinstance(a, Lit) and a.typ in ("int", "float"):
                return Lit(-a.value, a.typ)
            return Un("NEG", a)
        return self._primary()

    def _primary(self):
        t = self.peek()
        if t.kind == "int":
            self.next()
            return Lit(int(t.value), "int")
        if t.kind == "float":
            self.next()
            return Lit(float(t.value), "float")
        if t.kind == "str":
            self.next()
            return Lit(t.value, "str")
        if t.kind == "kw" and t.value == "NULL":
            self.next()
            return Lit(None, "null")
        if t.kind == "kw" and t.value == "CAST":
            self.next()
            self.expect("op", "(")
            a = self._expr()
            self.expect("kw", "AS")
            typ = self.expect("ident").value.lower()
            width = None
            if self.accept("op", "("):
                width = int(self.expect("int").value)
                if self.accept("op", ","):
                    self.expect("int")  # precision ignored (numeric(p, s))
                self.expect("op", ")")
            self.expect("op", ")")
            return CastE(a, typ, width)
        if t.kind == "op" and t.value == "(":
            self.next()
            a = self._expr()
            self.expect("op", ")")
            return a
        if t.kind == "ident":
            up = t.value.upper()
            if self.peek(1).value == "(" and (
                up in _AGG_FUNCS or up in _SCALAR_FUNCS
            ):
                self.next()
                self.next()
                args = []
                if self.peek().value != ")":
                    args = [self._expr()]
                    while self.accept("op", ","):
                        args.append(self._expr())
                self.expect("op", ")")
                if up in _AGG_FUNCS:
                    if len(args) != 1 or not isinstance(args[0], ColRef):
                        raise OgrSqlError(
                            f"{up}() takes a single plain field "
                            "(SWQColumnFuncChecker)"
                        )
                    return AggE(up, args[0])
                return FuncE(up, args)
            return self._field_ref()
        raise OgrSqlError(f"unexpected token {t.value!r}")


# --------------------------------------------------------------------------
# Layer binding + compiler
# --------------------------------------------------------------------------


@dataclass
class OgrLayer:
    """A named layer handed to :func:`execute_sql`.

    ``fid``: column name of the layer's FID (the reference's implicit
    int64 feature id, ogr/ogr_core.h:847) — used for the FID special
    field and as the deterministic first-match join order.
    ``geom_area`` / ``style`` / ``geometry_type``: Spark SQL expression
    texts over the layer's columns for the OGR_GEOM_AREA / OGR_STYLE /
    OGR_GEOMETRY special fields (ogr_gensql.cpp:824-826)."""

    df: DataFrame
    fid: str | None = None
    geom_area: str | None = None
    style: str | None = None
    geometry_type: str | None = None


_SPECIAL_FIELDS = ("FID", "OGR_GEOM_AREA", "OGR_STYLE", "OGR_GEOMETRY")


def _swq_type(dtype: str) -> str:
    d = dtype.lower()
    if d in ("tinyint", "smallint", "int", "bigint", "long", "integer"):
        return "int"
    if d in ("double", "float", "real") or d.startswith("decimal"):
        return "float"
    if d == "boolean":
        return "bool"
    if d == "string":
        return "str"
    if d in ("date",) or d.startswith("timestamp"):
        return "date"
    raise OgrSqlError(f"unsupported column type {dtype!r} in OGR SQL")


def _q(name: str) -> str:
    return "`" + name.replace("`", "``") + "`"


def _slit(s: str) -> str:
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


class _Compiler:
    """Binds an AST against layer schemas and renders Spark SQL
    expression text fragments with swq type tags — the analog of
    BuildParseInfo + the SWQGeneralEvaluator rules, except the rendered
    program executes in whole-stage codegen instead of per-row."""

    def __init__(self, tables: list[tuple[str, OgrLayer]]):
        # tables: [(name-or-alias, layer)] — index 0 is the primary
        self.tables = tables
        self.schemas = []
        for _, lay in tables:
            self.schemas.append({f.name: f.dataType.simpleString()
                                 for f in lay.df.schema.fields})

    # ------------------------------------------------------------- binding
    def resolve(self, ref: ColRef, primary_only: bool = False):
        """-> (sql_fragment, type, table_index, output_name)."""
        nup = ref.name.upper()
        scope = self.tables[:1] if primary_only else self.tables
        for ti, (tname, lay) in enumerate(scope):
            if ref.table is not None and ref.table != tname:
                continue
            if nup in _SPECIAL_FIELDS:
                frag, typ = self._special(lay, nup)
                if frag is not None:
                    return frag, typ, ti, ref.name
                continue
            # case-insensitive field lookup (swq binds EQUAL()-style)
            for col, dt in self.schemas[ti].items():
                if col.lower() == ref.name.lower():
                    return _q(col), _swq_type(dt), ti, col
        where = "primary table" if primary_only else "any table"
        raise OgrSqlError(f"field {ref.name!r} not found in {where}")

    def _special(self, lay: OgrLayer, nup: str):
        if nup == "FID" and lay.fid:
            return _q(lay.fid), "int"
        if nup == "OGR_GEOM_AREA" and lay.geom_area:
            return f"({lay.geom_area})", "float"
        if nup == "OGR_STYLE" and lay.style:
            return f"({lay.style})", "str"
        if nup == "OGR_GEOMETRY" and lay.geometry_type:
            return f"({lay.geometry_type})", "str"
        return None, None

    # ----------------------------------------------------------- rendering
    def compile(self, e, primary_only: bool = False) -> tuple[str, str]:
        c = lambda x: self.compile(x, primary_only)  # noqa: E731
        if isinstance(e, Lit):
            if e.typ == "null":
                return "NULL", "null"
            if e.typ == "int":
                return str(e.value), "int"
            if e.typ == "float":
                # E-notation per the repo's dual-engine float rule
                return repr(float(e.value)), "float"
            return _slit(e.value), "str"
        if isinstance(e, ColRef):
            frag, typ, _, _ = self.resolve(e, primary_only)
            return frag, typ
        if isinstance(e, Un):
            a, at = c(e.a)
            if e.op == "NEG":
                return f"(- {a})", at
            if e.op == "ISNULL":
                return f"(({a}) IS NULL)", "bool"
            if e.op == "NOTNULL":
                return f"(({a}) IS NOT NULL)", "bool"
            # NOT: int = !a && !null, null = a.null — ANSI NOT matches
            return f"(NOT ({a}))", "bool"
        if isinstance(e, Bin):
            return self._bin(e, primary_only)
        if isinstance(e, LikeE):
            a, _ = c(e.a)
            p, _ = c(e.pat)
            esc = ""
            if e.esc is not None:
                ef, _ = c(e.esc)
                esc = f" ESCAPE {ef}"
            op = "ILIKE" if e.insensitive else "LIKE"
            frag = f"(({a}) {op} ({p}){esc})"
            return (f"(NOT {frag})" if e.neg else frag), "bool"
        if isinstance(e, InE):
            a, at = c(e.a)
            items = [c(i) for i in e.items]
            if at == "str":
                a = f"lower({a})"
                items = [(f"lower({f})", t) for f, t in items]
            lst = ", ".join(f for f, _ in items)
            frag = f"(({a}) IN ({lst}))"
            return (f"(NOT {frag})" if e.neg else frag), "bool"
        if isinstance(e, BetweenE):
            a, at = c(e.a)
            lo, _ = c(e.lo)
            hi, _ = c(e.hi)
            if at == "str":  # strcasecmp BETWEEN, swq_op_general.cpp:1080
                a, lo, hi = f"lower({a})", f"lower({lo})", f"lower({hi})"
            frag = f"(({a}) BETWEEN ({lo}) AND ({hi}))"
            return (f"(NOT {frag})" if e.neg else frag), "bool"
        if isinstance(e, FuncE):
            return self._func(e, primary_only)
        if isinstance(e, CastE):
            return self._cast(e, primary_only)
        if isinstance(e, AggE):
            return self._agg(e, primary_only)
        raise OgrSqlError(f"cannot compile {e!r}")

    def _bin(self, e: Bin, po: bool) -> tuple[str, str]:
        a, at = self.compile(e.a, po)
        b, bt = self.compile(e.b, po)
        op = e.op
        if op == "AND":
            # OGR quirk (swq_op_general.cpp:545-549): null only when
            # BOTH null; a null side acts as FALSE
            return (
                f"(CASE WHEN ({a}) IS NULL AND ({b}) IS NULL THEN "
                f"CAST(NULL AS BOOLEAN) ELSE coalesce({a}, false) AND "
                f"coalesce({b}, false) END)",
                "bool",
            )
        if op == "OR":
            # OGR quirk (:551-556): null when EITHER side is null —
            # NULL OR TRUE is NULL (ANSI says TRUE)
            return (
                f"(CASE WHEN ({a}) IS NULL OR ({b}) IS NULL THEN "
                f"CAST(NULL AS BOOLEAN) ELSE ({a}) OR ({b}) END)",
                "bool",
            )
        if op in ("=", "<>", "<", ">", "<=", ">="):
            if "str" in (at, bt) and at == bt:
                # strcasecmp comparisons (swq_op_general.cpp:955-1086)
                a, b = f"lower({a})", f"lower({b})"
            elif "date" in (at, bt):
                # OGR dates are string-backed; ISO strings compare
                # lexically == chronologically (ogr_swq.h:90-92)
                a, b = f"CAST({a} AS STRING)", f"CAST({b} AS STRING)"
            elif "str" in (at, bt):
                # mixed string/number: numeric comparison (the checker
                # promotes the string side)
                if at == "str":
                    a = f"CAST({a} AS DOUBLE)"
                else:
                    b = f"CAST({b} AS DOUBLE)"
            return f"(({a}) {op} ({b}))", "bool"
        # arithmetic
        if op == "+" and ("str" in (at, bt)):
            return f"concat({a}, {b})", "str"  # swq_op_general.cpp:1134
        both_int = at == "int" and bt == "int"
        rt = "int" if both_int else "float"
        if op == "/":
            if both_int:
                # C truncation + div-by-zero -> INT_MAX (:678-706)
                return (
                    f"(CASE WHEN ({b}) = 0 THEN CAST({INT_MAX} AS BIGINT) "
                    f"ELSE ({a}) div ({b}) END)",
                    "int",
                )
            return (
                f"(CASE WHEN ({b}) = 0.0 THEN CAST({INT_MAX} AS DOUBLE) "
                f"ELSE CAST(({a}) AS DOUBLE) / ({b}) END)",
                "float",
            )
        if op == "%":
            zero = "0" if both_int else "0.0"
            imax = (
                f"CAST({INT_MAX} AS BIGINT)"
                if both_int
                else f"CAST({INT_MAX} AS DOUBLE)"
            )
            # C fmod / % keep the dividend's sign — so do Spark/DuckDB
            return (
                f"(CASE WHEN ({b}) = {zero} THEN {imax} "
                f"ELSE ({a}) % ({b}) END)",
                rt,
            )
        return f"(({a}) {op} ({b}))", rt

    def _func(self, e: FuncE, po: bool) -> tuple[str, str]:
        args = [self.compile(a, po) for a in e.args]
        if e.name == "CONCAT":
            rendered = []
            for f, t in args:
                rendered.append(
                    f if t == "str" else f"CAST({f} AS STRING)"
                )
            return "concat(" + ", ".join(rendered) + ")", "str"
        if e.name == "SUBSTR":
            if len(e.args) not in (2, 3):
                raise OgrSqlError("SUBSTR(string, off[, len])")
            s = args[0][0]
            o = f"CAST({args[1][0]} AS BIGINT)"
            n = (
                f"CAST({args[2][0]} AS BIGINT)"
                if len(args) == 3
                else "CAST(100000 AS BIGINT)"
            )
            # exact port of swq_op_general.cpp:1147-1200: 1-based, 0
            # treated as 1, negative from the end clamped at 0, len
            # clamp, negative len / off past end -> ''
            off0 = (
                f"(CASE WHEN {o} > 0 THEN {o} - 1 "
                f"WHEN {o} < 0 THEN greatest(length({s}) + {o}, 0) "
                f"ELSE 0 END)"
            )
            return (
                f"(CASE WHEN {n} < 0 OR {off0} > length({s}) THEN '' "
                f"ELSE substring({s}, CAST({off0} AS INT) + 1, "
                f"CAST(least({n}, length({s}) - {off0}) AS INT)) END)",
                "str",
            )
        if e.name == "HSTORE_GET_VALUE":
            # the OGR hstore grammar (OGRHStoreGetValue,
            # swq_op_general.cpp:291): optionally-quoted keys/values,
            # spaces around '=>' and ',', FIRST matching key wins,
            # missing key -> NULL — same regexp program as the
            # registry's hstore_value query
            if len(e.args) != 2 or not (
                isinstance(e.args[1], Lit) and e.args[1].typ == "str"
            ):
                raise OgrSqlError(
                    "HSTORE_GET_VALUE(hstore, 'literal key')"
                )
            h = args[0][0]
            key = e.args[1].value
            if not re.fullmatch(r"[A-Za-z0-9_ ]+", key):
                raise OgrSqlError(
                    f"hstore key {key!r}: only [A-Za-z0-9_ ] keys "
                    "supported (regexp-safe subset)"
                )
            pat = f'(?:^|,) *(?:"{key}"|{key}) *=> *("[^"]*"|[^, ]+)'
            raw = f"nullif(regexp_extract({h}, '{pat}', 1), '')"
            return (
                f"(CASE WHEN {raw} IS NULL THEN NULL"
                f" WHEN substr({raw}, 1, 1) = '\"'"
                f" THEN substr({raw}, 2, length({raw}) - 2)"
                f" ELSE {raw} END)",
                "str",
            )
        raise OgrSqlError(f"unknown function {e.name}")

    def _cast(self, e: CastE, po: bool) -> tuple[str, str]:
        a, at = self.compile(e.a, po)
        t = e.typ
        if t in ("integer", "int", "smallint", "bigint"):
            target = "INT" if t in ("integer", "int", "smallint") else "BIGINT"
            if at == "str":
                # atoi: leading optional-sign digits, 0 when none
                # (swq_op_general.cpp:1692 atoi / CPLAtoGIntBig)
                digits = (
                    f"regexp_extract(trim({a}), '^[+-]?[0-9]+', 0)"
                )
                return (
                    f"(CASE WHEN ({a}) IS NULL THEN CAST(NULL AS {target}) "
                    f"ELSE coalesce(CAST({digits} AS {target}), 0) END)",
                    "int",
                )
            # float -> int truncates (C static_cast); Spark CAST agrees
            return f"CAST({a} AS {target})", "int"
        if t in ("float", "numeric", "real", "double"):
            return f"CAST({a} AS DOUBLE)", "float"
        if t in ("character", "string", "varchar"):
            if at == "float":
                raise OgrSqlError(
                    "CAST(float AS character) unsupported (the reference "
                    "renders %.15g — no portable SQL spelling)"
                )
            frag = f"CAST({a} AS STRING)"
            if e.width:
                frag = f"substring({frag}, 1, {e.width})"
            return frag, "str"
        if t == "boolean":
            return f"CAST({a} AS BOOLEAN)", "bool"
        if t in ("date", "time", "timestamp"):
            return f"CAST({a} AS STRING)", "date"  # string-backed dates
        raise OgrSqlError(f"unsupported CAST target {t!r}")

    def _agg(self, e: AggE, po: bool) -> tuple[str, str]:
        if e.arg is None:  # COUNT(*)
            return "CAST(count(*) AS BIGINT)", "int"
        a, at, _, _ = self.resolve(e.arg, po)
        f = e.func
        if f == "COUNT":
            inner = f"DISTINCT {a}" if e.distinct else a
            return f"CAST(count({inner}) AS BIGINT)", "int"
        if f in ("MIN", "MAX"):
            # summary MIN/MAX on strings use strcmp — BYTE order
            # (ogr/swq.cpp:437-466), NOT strcasecmp: no lower() here
            return f"{f.lower()}({a})", at
        if f == "SUM":
            if at == "int":
                # CAST back to BIGINT both engines (HUGEINT contract)
                return f"CAST(sum({a}) AS BIGINT)", "int"
            return f"sum({a})", "float"
        if f == "AVG":
            return f"avg({a})", "float"
        if f in ("STDDEV_POP", "STDDEV_SAMP"):
            return f"{f.lower()}({a})", "float"
        raise OgrSqlError(f"unknown aggregate {f}")


# --------------------------------------------------------------------------
# Lowering
# --------------------------------------------------------------------------


def parse(sql: str) -> Select:
    return Parser(sql).parse()


def execute_sql(
    spark, sql: str, layers: dict[str, OgrLayer]
) -> DataFrame:
    """The ExecuteSQL(..., "OGRSQL") analog: parse ``sql`` in the swq
    dialect and lower it onto the bound ``layers``.  Returns an ordinary
    DataFrame — Catalyst owns optimization and execution."""
    sel = parse(sql)
    out = _lower_one(sel, layers)
    nxt = sel.union
    while nxt is not None:  # UNION ALL chain (gdaldataset.cpp:7131-7177)
        out = out.unionByName(_lower_one(nxt, layers))
        nxt = nxt.union
    return out


def _lower_one(sel: Select, layers: dict[str, OgrLayer]) -> DataFrame:
    if sel.table not in layers:
        raise OgrSqlError(f"unknown layer {sel.table!r}")
    prim_name = sel.talias or sel.table
    tables: list[tuple[str, OgrLayer]] = [(prim_name, layers[sel.table])]
    for j in sel.joins:
        if j.table not in layers:
            raise OgrSqlError(f"unknown layer {j.table!r}")
        tables.append((j.alias or j.table, layers[j.table]))
    # reject cross-table column-name collisions up front (we keep
    # original names through the join; the reference prefixes on demand)
    seen: dict[str, str] = {}
    for tname, lay in tables:
        for c in lay.df.columns:
            if c.lower() in seen and seen[c.lower()] != tname:
                raise OgrSqlError(
                    f"column {c!r} exists in both {seen[c.lower()]!r} and "
                    f"{tname!r} — alias one side (name collisions across "
                    "joined layers are unsupported)"
                )
            seen.setdefault(c.lower(), tname)

    comp = _Compiler(tables)

    # ---------------------------------------------------------------- joins
    df = tables[0][1].df
    for ji, j in enumerate(sel.joins):
        lay = tables[1 + ji][1]
        if lay.fid is None:
            raise OgrSqlError(
                f"joined layer {j.table!r} needs a fid binding (the "
                "deterministic first-match order, ogr_gensql.cpp:1497)"
            )
        # bind each side of ON to primary-or-this-join scope
        lfrag, ltyp, lti, _ = comp.resolve(j.left)
        rfrag, rtyp, rti, _ = comp.resolve(j.right)
        if {lti, rti} != {0, 1 + ji}:
            raise OgrSqlError(
                "JOIN ON must link the primary table and the joined table"
            )
        if lti != 0:  # normalize: left = primary side
            lfrag, rfrag = rfrag, lfrag
            ltyp, rtyp = rtyp, ltyp
        if ltyp == "str" and rtyp == "str":
            lfrag, rfrag = f"lower({lfrag})", f"lower({rfrag})"
        # first-match LEFT JOIN: broadcast dim + per-primary-ROW
        # row_number over the secondary FID (ogr_gensql.cpp:1497-1527):
        # every primary feature comes out once, with its first match —
        # also when primary rows share a key value or have a NULL key
        row, rn = f"_ogrsql_row_{ji}", f"_ogrsql_rn_{ji}"
        joined = df.withColumn(row, F.monotonically_increasing_id()).join(
            F.broadcast(lay.df), F.expr(lfrag) == F.expr(rfrag), "left"
        )
        w = Window.partitionBy(row).orderBy(F.col(lay.fid).asc_nulls_last())
        df = (
            joined.withColumn(rn, F.row_number().over(w))
            .filter(F.col(rn) == 1)
            .drop(rn, row)
        )

    # ---------------------------------------------------------------- where
    if sel.where is not None:
        frag, typ = comp.compile(sel.where, primary_only=True)
        df = df.filter(F.expr(frag))

    # -------------------------------------------------------- summary mode?
    has_agg = any(isinstance(c.expr, AggE) for c in sel.cols)
    if has_agg:
        if not all(isinstance(c.expr, AggE) for c in sel.cols):
            raise OgrSqlError(
                "summary mode: every select column must be an aggregate "
                "(SWQM_SUMMARY_RECORD, ogr_swq.h:320 — no GROUP BY in "
                "this dialect)"
            )
        aggs = []
        for i, c in enumerate(sel.cols):
            frag, _ = comp.compile(c.expr)
            aggs.append(F.expr(frag).alias(_out_name(c, i)))
        return df.agg(*aggs)

    # ----------------------------------------------------------- projection
    exprs: list[Column] = []
    for i, c in enumerate(sel.cols):
        if c.hidden:
            continue
        if isinstance(c.expr, Star):
            excl = set()
            for ref in c.expr.exclude:
                _, _, _, name = comp.resolve(ref)
                excl.add(name.lower())
            for ti, (tname, lay) in enumerate(tables):
                if c.expr.table is not None and c.expr.table != tname:
                    continue
                for col in lay.df.columns:
                    if col.lower() not in excl:
                        exprs.append(F.col(col))
        else:
            frag, _ = comp.compile(c.expr)
            exprs.append(F.expr(frag).alias(_out_name(c, i)))
    if sel.distinct:
        # SWQM_DISTINCT_LIST: the distinct list is built first; ORDER
        # BY / OFFSET / LIMIT apply to it, as to the reference's result
        # layer
        df = df.select(*exprs).distinct()

    # --------------------------------------------------- order/offset/limit
    # outside DISTINCT, sort BEFORE projection: ORDER BY may name
    # un-selected primary fields (ogr_gensql.cpp:2185 reads keys from the
    # source layer)
    if sel.order:
        keys = []
        for ref, asc in sel.order:
            frag = self_frag = None
            # an ORDER BY name may be an output alias first
            for c in sel.cols:
                if c.alias and c.alias.lower() == ref.name.lower() \
                        and ref.table is None:
                    self_frag = (
                        f"`{c.alias}`"
                        if sel.distinct
                        else comp.compile(c.expr)[0]
                    )
                    break
            if self_frag is None:
                self_frag, _, _, _ = comp.resolve(ref)
            col = F.expr(self_frag)
            # OGR null rule (swq.cpp:602-612): nulls first asc, last
            # desc — Spark's defaults
            keys.append(col.asc() if asc else col.desc())
        df = df.orderBy(*keys)
    if sel.offset:
        df = df.offset(sel.offset)
    if sel.limit is not None:
        df = df.limit(sel.limit)
    return df if sel.distinct else df.select(*exprs)


def _out_name(c: SelCol, i: int) -> str:
    if c.alias:
        return c.alias
    if isinstance(c.expr, ColRef):
        return c.expr.name
    if isinstance(c.expr, AggE):
        if c.expr.arg is None:
            return "count_star"
        return f"{c.expr.func.lower()}_{c.expr.arg.name.lower()}"
    return f"field_{i + 1}"
