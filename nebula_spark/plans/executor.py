"""Compile parsed nGQL/MATCH statements into DataFrame plans over a
GraphSpace.

The analog of the reference's Validator+Planner+Executor stack
(``src/graph/validator/GoValidator.cpp``, ``planner/ngql/GoPlanner.cpp``,
``executor/query/*``): each sentence becomes a composition of the operator
library; pipes pass DataFrames; Catalyst then does what the reference's 58
optimizer rules did (SURVEY.md §4.2).

Conventions:
- GO hop result exposes edge props under their names plus ``src``/``dst``/
  ``rank``; ``$^.tag.prop`` / ``$$.tag.prop`` join the tag tables on demand
  (prop-deduction pass = a walk over the expression tuples, the analog of
  DeducePropsVisitor).
- MATCH binds aliases to prefixed columns ``<alias>__<prop>`` +
  ``<alias>___vid``; RETURN applies openCypher implicit grouping when
  aggregates and plain expressions mix.
"""

from __future__ import annotations

import contextlib
import dataclasses
import os
import re
from functools import reduce
from urllib.parse import unquote

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from nebula_spark.catalog import (DST, RANK, SRC, VID, GraphSpace,
                                  SpaceCatalog, drop_opened,
                                  read_back_schema, statement_snapshot)
from nebula_spark.functions.scalar import FUNCTIONS
from nebula_spark.operators import go, k_hop_subgraph
from nebula_spark.operators.paths import (all_paths, bfs_min_paths,
                                          bfs_shortest_paths, bidir_distances,
                                          bidir_min_paths)
from nebula_spark.operators.traverse import (_edge_key, _path_struct_type,
                                             oriented, traverse)
from nebula_spark.plans import ngql as A
from nebula_spark.plans.ngql import _AGG_FNS, _is_agg
from nebula_spark.session import local_frame

_GRAPH_FNS = {
    "id": lambda c: c, "src": lambda _=None: F.col(SRC),
    "dst": lambda _=None: F.col(DST), "rank": lambda _=None: F.col(RANK),
}


_STRING_FNS = {"lower", "tolower", "upper", "toupper", "trim", "ltrim",
               "rtrim", "left", "right", "lpad", "rpad", "substr",
               "substring", "replace", "reverse", "concat", "concat_ws",
               "tostring"}


def _is_stringish(e) -> bool:
    """Static type sniff: does this expression produce a string?"""
    if not isinstance(e, tuple):
        return False
    if e[0] == "lit":
        return isinstance(e[1], str)
    if e[0] in ("call", "call_distinct"):
        return e[1] in _STRING_FNS
    if e[0] == "+":
        return _is_stringish(e[1]) or _is_stringish(e[2])
    return False


# temporal attribute → Spark date_part field (Attribute.feature; reference
# TimeUtils attribute table). Lower-cased lookup = case-insensitive access.
_TEMPORAL_ATTRS = {
    "year": "YEAR", "month": "MONTH", "day": "DAY", "hour": "HOUR",
    "minute": "MINUTE", "second": "SECOND", "microsec": "MICROSECOND",
}


def _is_floatish(e) -> bool:
    """Static type sniff: does this expression produce a double? Literal
    floats, float casts, and arithmetic over them; conservative (false)
    for anything data-dependent, where the DIV_BY_ZERO-null path rules."""
    if not isinstance(e, tuple):
        return False
    if e[0] == "lit":
        return isinstance(e[1], float)
    if e[0] == "cast":
        return e[1] in ("float", "double")
    if e[0] == "neg":
        return _is_floatish(e[1])
    if e[0] in ("+", "-", "*", "/"):
        return _is_floatish(e[1]) or _is_floatish(e[2])
    return False


def _is_duration_type(dt) -> bool:
    from pyspark.sql.types import StructType
    return isinstance(dt, StructType) \
        and set(dt.fieldNames()) == {"months", "seconds"}


def _temporal_duration_arith(left_dt, a: Column, b: Column,
                             plus: bool) -> Column | None:
    """DATE/DATETIME/TIME ± DURATION (Date.cpp addDuration/subDuration):
    months apply calendar-aware, then the seconds component — for DATE
    only whole days of it (Duration::days() truncates toward zero);
    TIME wraps mod 24 h. Returns None when the left type is not
    temporal (caller falls through to numeric arithmetic)."""
    from pyspark.sql.types import (DateType, StructType, TimestampNTZType,
                                   TimestampType)
    from nebula_spark.functions import temporal as T
    if isinstance(left_dt, DateType):
        months = b["months"] if plus else -b["months"]
        # trunc-toward-zero day count survives negation symmetrically
        days = (b["seconds"].cast("long") / F.lit(86400)).cast("long")
        days = days if plus else -days
        return F.date_add(F.add_months(a, months), days.cast("int"))
    if isinstance(left_dt, (TimestampNTZType, TimestampType)):
        return T.datetime_plus(a, b) if plus else T.datetime_minus(a, b)
    if isinstance(left_dt, StructType) \
            and {"hour", "minute", "sec"} <= set(left_dt.fieldNames()):
        return T.time_plus(a, b) if plus else T.time_minus(a, b)
    return None


def _lit_col(v) -> Column:
    """Literal value → Column, including the container values parameter
    substitution introduces (parameter.feature): a list becomes a typed
    array, a dict a struct (matching the map-literal encoding)."""
    if isinstance(v, dict):
        return F.struct(*[_lit_col(x).alias(k) for k, x in v.items()])
    if isinstance(v, (list, tuple)):
        return F.array(*[_lit_col(x) for x in v])
    return F.lit(v)


class _UndefinedAliasError(ValueError):
    """Reference SemanticError: a name used in a MATCH expression that no
    pattern alias, WITH column, or path binding defines — must surface to
    the user, never be swallowed by graph-fn arity fallbacks."""


def _static_nonbool_const(e) -> bool:
    """Is *e* a literal constant (possibly negated) that is neither BOOL
    nor LIST nor NULL? Logical ops refuse those at validation
    (DeduceTypeVisitor; yield.feature `-1 AND TRUE`) while column-typed
    non-bools evaluate to BAD_TYPE at runtime."""
    def val(x):
        if isinstance(x, tuple):
            if x[0] == "lit":
                return True, x[1]
            if x[0] == "neg":
                ok, v = val(x[1])
                if ok and isinstance(v, (int, float)) \
                        and not isinstance(v, bool):
                    return True, -v
        return False, None
    ok, v = val(e)
    return ok and v is not None and not isinstance(v, (bool, list))


def _walk(e, kinds: set[str], out: list) -> None:
    if not isinstance(e, tuple) or not e:
        return
    if isinstance(e[0], tuple):     # pair tuples, e.g. CASE (cond, val) arms
        _walk(e[0], kinds, out)
    elif e[0] in kinds:
        out.append(e)
    for x in e[1:]:
        if isinstance(x, tuple):
            _walk(x, kinds, out)
        elif isinstance(x, list):
            for y in x:
                _walk(y if isinstance(y, tuple) else (), kinds, out)


_BIN_TEXT = {"+": "+", "-": "-", "*": "*", "/": "/", "%": "%",
             "==": "==", "!=": "!=", ">": ">", ">=": ">=", "<": "<",
             "<=": "<=", "and": " AND ", "or": " OR ", "xor": " XOR "}


def _expr_text(e) -> str | None:
    """Render an expression AST back to the reference's column-header
    text (Expression::toString — binary ops parenthesized, props dotted,
    strings double-quoted). Unaliased YIELD/RETURN items are NAMED by
    this text in the reference; shapes without a stable rendering return
    None and the caller falls back to a positional name."""
    if not isinstance(e, tuple):
        return None
    op = e[0]
    if op == "lit":
        v = e[1]
        if v is None:
            return "NULL"
        if isinstance(v, bool):
            return "true" if v else "false"
        if isinstance(v, str):
            return f'"{v}"'
        if isinstance(v, float):
            # folly::to<string>(double) shortest form — 123.0 renders
            # "123" (yield.feature HashCall header `hash(123)`)
            return str(int(v)) if v == int(v) and abs(v) < 2**63 \
                else repr(v)
        if isinstance(v, int):
            return str(v)
        return None
    if op == "name":
        return e[1]
    if op == "star":
        return "*"
    if op == "edge_prop":
        return f"{e[1]}.{e[2]}"
    if op == "alias_tag_prop":
        return f"{e[1]}.{e[2]}.{e[3]}"
    if op == "input_prop":
        return f"$-.{e[1]}"
    if op == "var_prop":
        return f"${e[1]}.{e[2]}"
    if op == "src_prop":
        return f"$^.{e[1]}.{e[2]}"
    if op == "dst_prop":
        return f"$$.{e[1]}.{e[2]}"
    if op == "src_vert":
        return "$^"
    if op == "dst_vert":
        return "$$"
    if op == "graph_fn":
        key = {"src_vert": "$^", "dst_vert": "$$"}.get(e[2], e[2])
        return f"{e[1]}({key})"
    if op == "subscript":
        b, k = _expr_text(e[1]), _expr_text(e[2])
        return f"{b}[{k}]" if b is not None and k is not None else None
    if op == "pred_fn":
        # PredicateExpression::toString: lowercase keyword, `var IN
        # coll WHERE pred` (PredicateExpression.cpp:265-281)
        c, p = _expr_text(e[3]), _expr_text(e[4])
        if c is None or p is None:
            return None
        return f"{e[1]}({e[2]} IN {c} WHERE {p})"
    if op in ("call", "call_distinct"):
        args = [_expr_text(a) for a in e[2:]]
        if any(a is None for a in args):
            return None
        if str(getattr(e[1], "src", e[1])).lower() == "exists":
            # exists() is a PredicateExpression — toString lowercases
            # the keyword regardless of the written spelling
            return f"exists({args[0]})"
        if e[1] in ("src", "dst", "rank", "type") and len(e) == 3 \
                and isinstance(e[2], tuple) and e[2][0] == "name" \
                and str(e[2][1]).lower() == "edge":
            # Edge{Src,Dst}IdExpression toString upper-cases the marker:
            # `dst(edge)` headers as `dst(EDGE)` (GoYieldVertexEdge)
            return f"{e[1]}(EDGE)"
        if e[1] in ("id", "properties", "props", "tags", "labels") \
                and len(e) == 3 and isinstance(e[2], tuple) \
                and e[2][0] == "name" \
                and str(e[2][1]).lower() in ("vertex", "edge"):
            # the VERTEX/EDGE markers upper-case in headers too:
            # `id(vertex)` → `id(VERTEX)` (FetchVertices.strVid
            # "format yield"), `properties(vertex)` likewise
            return f"{e[1]}({str(e[2][1]).upper()})"
        d = "distinct " if op == "call_distinct" else ""
        # FnName carries the writer's spelling (toString keeps case)
        return f"{getattr(e[1], 'src', e[1])}({d}{','.join(args)})"
    if op == "map":
        parts = []
        for k, v in e[1]:
            tv = _expr_text(v)
            if tv is None:
                return None
            parts.append(f"{k}:{tv}")
        return "{" + ",".join(parts) + "}"
    if op == "list":
        args = [_expr_text(a) for a in e[1:]]
        if any(a is None for a in args):
            return None
        return "[" + ",".join(args) + "]"
    if op == "not_in" and len(e) == 3:
        a, b = _expr_text(e[1]), _expr_text(e[2])
        return None if a is None or b is None else f"({a} NOT IN {b})"
    if op in ("starts_with", "ends_with", "contains_str") and len(e) == 3:
        kw = {"starts_with": "STARTS WITH", "ends_with": "ENDS WITH",
              "contains_str": "CONTAINS"}[op]
        a, b = _expr_text(e[1]), _expr_text(e[2])
        return None if a is None or b is None else f"({a} {kw} {b})"
    if op == "not" and isinstance(e[1], tuple) \
            and e[1] and e[1][0] in ("starts_with", "ends_with",
                                     "contains_str"):
        # RelationalExpression toString keeps the NOT inline:
        # `("apple" NOT ENDS WITH "le")` (expression/EndsWith.feature)
        kw = {"starts_with": "NOT STARTS WITH",
              "ends_with": "NOT ENDS WITH",
              "contains_str": "NOT CONTAINS"}[e[1][0]]
        a, b = _expr_text(e[1][1]), _expr_text(e[1][2])
        return None if a is None or b is None else f"({a} {kw} {b})"
    if op == "not":
        a = _expr_text(e[1])
        return None if a is None else f"!({a})"
    if op == "neg":
        # UnaryExpression::toString always parenthesizes: `-(1)`
        # (yield.feature:125; WithComment pins `(1--(1))`)
        a = _expr_text(e[1])
        return None if a is None else f"-({a})"
    if op == "attr":
        a = _expr_text(e[1])
        return None if a is None else f"{a}.{e[2]}"
    if op == "cast":                     # (INT)3.14 → "(INT)3.14"
        a = _expr_text(e[2])
        return None if a is None else f"({e[1].upper()}){a}"
    if op in _BIN_TEXT and len(e) == 3:
        a, b = _expr_text(e[1]), _expr_text(e[2])
        if a is None or b is None:
            return None
        return f"({a}{_BIN_TEXT[op]}{b})"
    return None


def _yname(y, i: int) -> str:
    """Result column name for a YIELD/RETURN item: explicit alias, else
    the reference's expression-text rendering, else positional. The
    rendering preserves the writer's case (Expression::toString keeps
    fn names as written — `COUNT(*)` headers as `COUNT(*)`): when the
    as-written source slice equals the rendering up to case, the slice
    wins."""
    if y.alias:
        return y.alias
    text = _expr_text(y.expr)
    src = getattr(y, "src", None)
    if src and src.startswith("$") and isinstance(y.expr, tuple) \
            and y.expr and y.expr[0] == "lit":
        # a substituted parameter headers as WRITTEN (`YIELD $p3` →
        # column `$p3` — parameter.feature [param-test-006]), not as the
        # folded literal's text
        return src
    if text is not None and src and src.lower() == text.lower() \
            and y.expr[0] in ("call", "call_distinct"):
        if '"' not in src and "'" not in src \
                and y.expr[0] == "call" \
                and "(VERTEX)" not in text and "(EDGE)" not in text:
            # the whole written spelling survives when it matches the
            # rendering up to case and carries no quoting to normalize;
            # the VERTEX/EDGE markers normalize UP instead (the text
            # branch below / _expr_text), and a DISTINCT call keeps the
            # rendered lowercase `distinct` (Agg.feature headers
            # `COLLECT(distinct a)`) — only the fn name keeps case
            return " ".join(src.split())
        m = re.match(r"[A-Za-z_]\w*", src)
        if m and m.group(0).lower() == y.expr[1]:
            # only the FN NAME keeps its written case; quoted args
            # (string literals normalize to double quotes) stay rendered
            return m.group(0) + text[len(y.expr[1]):]
    if text is None and src:
        # shapes without a stable rendering (pattern expressions
        # `(v)-->()`, rewritten collects) header AS WRITTEN — the
        # reference names every output by Expression::toString, and the
        # written slice is that text for these (PathExpr.feature
        # "In Return" line 328; With.feature "match with return")
        return " ".join(src.split())
    return text or f"c{i}"


_CMP_MISS = object()


def _const_val(e):
    """AST → Python value for literal shapes; _CMP_MISS when dynamic."""
    if not isinstance(e, tuple) or not e:
        return _CMP_MISS
    if e[0] == "lit":
        return e[1]
    if e[0] == "list":
        vals = [_const_val(x) for x in e[1:]]
        return _CMP_MISS if any(v is _CMP_MISS for v in vals) else vals
    if e[0] == "neg":
        v = _const_val(e[1])
        return -v if isinstance(v, (int, float)) \
            and not isinstance(v, bool) else _CMP_MISS
    return _CMP_MISS


def _val_eq(a, b, nested=False):
    """Value::equal over folded Python values — epsilon floats
    (kEpsilon 1e-8), kind mismatch false, lists element-wise. NULLs
    null out only at the TOP level (the kRelEQ operator); nested inside
    lists Value::equal(NULL, NULL) is true (RelationalExpr.feature
    `[2,null]==[2,null]` → true)."""
    if a is None or b is None:
        if nested:
            return a is None and b is None
        return None
    num = (lambda v: isinstance(v, (int, float))
           and not isinstance(v, bool))
    if num(a) and num(b):
        if isinstance(a, float) or isinstance(b, float):
            return abs(a - b) < 1e-8
        return a == b
    if isinstance(a, list) and isinstance(b, list):
        if len(a) != len(b):
            return False
        for x, y in zip(a, b):
            r = _val_eq(x, y, nested=True)
            if r is not True:
                return r
        return True
    if type(a) is not type(b):
        return False
    return a == b


def _val_lt(a, b):
    """Value::lessThan — True/False, None for BAD_TYPE kinds."""
    if a is None or b is None:
        return None
    num = (lambda v: isinstance(v, (int, float))
           and not isinstance(v, bool))
    if num(a) and num(b):
        if isinstance(a, float) or isinstance(b, float):
            return (not abs(a - b) < 1e-8) and a < b
        return a < b
    if isinstance(a, list) and isinstance(b, list):
        for x, y in zip(a, b):
            eq = _val_eq(x, y)
            if eq is None:
                return None
            if not eq:
                return _val_lt(x, y)
        return len(a) < len(b)
    if isinstance(a, bool) and isinstance(b, bool):
        return a < b
    if type(a) is not type(b):
        return None
    return a < b


def _fold_const_list_cmp(op, ea, eb):
    """Fold a comparison when both sides are constants and at least one
    is a LIST — Spark has no heterogeneous array type to carry these."""
    a, b = _const_val(ea), _const_val(eb)
    if a is _CMP_MISS or b is _CMP_MISS:
        return _CMP_MISS
    if not (isinstance(a, list) or isinstance(b, list)):
        return _CMP_MISS
    eq = _val_eq(a, b)
    if op == "==":
        return eq
    if op == "!=":
        return None if eq is None else not eq
    lt = _val_lt(a, b)
    gt = _val_lt(b, a)
    if eq is None:
        return None
    if op == "<":
        return lt
    if op == "<=":
        return True if eq else lt
    if op == ">":
        return gt
    return True if eq else gt


class ExprCompiler:
    """Expression tuples → Columns, with statement-specific ref resolution.

    ``df``, when provided by a caller that has the input frame, enables
    schema-directed operator dispatch (currently: ``+`` over lists is
    concatenation, ArithmeticExpression LIST branch) — the probe runs
    analysis only, no job. Without a frame the static sniffs rule."""

    def __init__(self, resolve, df: DataFrame | None = None):
        self.resolve = resolve  # fn(kind, *args) -> Column
        self.df = df

    def _dtype(self, c: Column):
        """Resolved Spark type of an expression over ``df`` (None when no
        frame is attached or the column doesn't analyze against it)."""
        if self.df is None:
            return None
        try:
            return self.df.select(c.alias("_t")).schema[0].dataType
        except Exception:
            return None

    def _boolish(self, e) -> Column | None:
        """Operand of a logical op → boolean Column, or None when it is
        statically BAD_TYPE. Mirrors Value::isImplicitBool (Value.cpp:
        1975): BOOL is itself, LIST is non-emptiness, anything else is
        BAD_TYPE. Untyped NULL casts through; without an attached frame
        (no static type) the plain compile stands."""
        from pyspark.sql.types import ArrayType, BooleanType, NullType
        c = self.col(e)
        t = self._dtype(c)
        if t is None or isinstance(t, BooleanType):
            return c
        if isinstance(t, NullType):
            return c.cast("boolean")
        if isinstance(t, ArrayType):
            return F.size(c) > 0
        return None

    def col(self, e) -> Column:
        if not isinstance(e, tuple):
            raise ValueError(f"bad expr {e!r}")
        op = e[0]
        if op == "lit":
            return _lit_col(e[1])
        if op == "raw_agg":              # pre-built Column (ordered collect)
            return e[1]
        if op == "list":
            return F.array(*[self.col(x) for x in e[1:]])
        if op == "set":                  # {a, b, …} — deduped list
            return F.array_distinct(F.array(*[self.col(x) for x in e[1:]]))
        if op == "map_empty":            # MAP{} — the empty Map value
            return F.create_map()
        if op == "map":                  # {k: v, …} → struct (typed fields)
            return F.struct(*[self.col(v).alias(k) for k, v in e[1]])
        if op == "cast":                 # (INT)x — TypeCastingExpression
            spark_t = {"int": "bigint", "int8": "tinyint",
                       "int16": "smallint", "int32": "int",
                       "int64": "bigint", "float": "double",
                       "double": "double", "string": "string",
                       "bool": "boolean"}[e[1]]
            return self.col(e[2]).cast(spark_t)
        if op == "attr":                 # x.field on a map/struct value
            # temporal attribute access (Attribute.feature): date/time/
            # datetime values expose case-INSENSITIVE field names; an
            # unknown field is UNKNOWN_PROP → NULL
            if isinstance(e[1], tuple) and e[1][0] in (
                    "call", "call_distinct") and e[1][1] in (
                    "date", "datetime"):
                fld = _TEMPORAL_ATTRS.get(e[2].lower())
                if fld is None:
                    return F.lit(None)
                return F.date_part(F.lit(fld), self.col(e[1])).cast("bigint")
            if isinstance(e[1], tuple) and e[1][0] in (
                    "call", "call_distinct") and e[1][1] == "time":
                # TIME is struct(hour, minute, sec) — SURVEY §1.1
                fld = {"hour": "hour", "minute": "minute",
                       "second": "sec"}.get(e[2].lower())
                if fld is None:
                    return F.lit(None)
                return self.col(e[1])[fld].cast("bigint")
            # map-literal keys are case-SENSITIVE in the reference
            # ({k1: 1}.K1 → NULL) while Spark struct access follows
            # spark.sql.caseSensitive=false — enforce statically
            if isinstance(e[1], tuple) and e[1] and e[1][0] == "map":
                if e[2] not in [k for k, _ in e[1][1]]:
                    return F.lit(None)
            if isinstance(e[1], tuple) and e[1][0] == "lit" \
                    and not isinstance(e[1][1], (list, dict)) \
                    and e[1][1] is not None:
                # attribute on a literal scalar — DeduceTypeVisitor's
                # SemanticError (`(true).attr`, Attribute.feature
                # "Invalid type")
                tn = ("BOOL" if isinstance(e[1][1], bool) else
                      "INT" if isinstance(e[1][1], int) else
                      "FLOAT" if isinstance(e[1][1], float) else
                      "STRING")
                raise ValueError(
                    f"SemanticError: `{_expr_text(e[1])}.{e[2]}', "
                    "expected type with attribute like Date, Time, "
                    "DateTime, Map, Vertex or Edge but was "
                    f"{tn}: {_expr_text(e[1])}")
            base = self.col(e[1])
            bt = self._dtype(base)
            from pyspark.sql.types import (MapType as _Mt,
                                           StructType as _St)
            if isinstance(bt, _St) and e[2] not in bt.fieldNames():
                # UNKNOWN_PROP → NULL (exact-name miss; Spark would
                # either raise or resolve case-insensitively) —
                # properties(e[0]).degree over a like-edge hop struct
                # (PrunePropertiesRule.feature "test properties")
                return F.lit(None)
            if bt is not None and not isinstance(bt, (_St, _Mt)):
                # attribute over a runtime scalar VALUE is the
                # reference's BAD_TYPE null (`v.player.name.test`,
                # Attribute.feature "Invalid type") — Spark's extract
                # would refuse at analysis
                return F.lit(None)
            return base[e[2]]
        if op in ("edge_prop", "alias_tag_prop") and self.df is not None \
                and e[1] in self.df.columns:
            # field chain over a plain STRUCT/MAP column ({a:1,b:2}.c):
            # a missing struct field is UNKNOWN_PROP → NULL, and chaining
            # off a scalar is NULL too (With.feature "with agg return" /
            # "with exists") — Spark would raise FIELD_NOT_FOUND
            from pyspark.sql.types import MapType as _Mt
            from pyspark.sql.types import StructType as _St2
            cur_t = self.df.schema[e[1]].dataType
            col = F.col("`" + e[1].replace("`", "``") + "`")
            for fld in e[2:]:
                if isinstance(cur_t, _St2):
                    if fld not in cur_t.fieldNames():
                        return F.lit(None)
                    cur_t = cur_t[fld].dataType
                    col = col[fld]
                elif isinstance(cur_t, _Mt):
                    cur_t = cur_t.valueType
                    col = col[fld]
                else:
                    return self.resolve(*e)   # not a container chain
            return col
        if op in ("name", "edge_prop", "alias_tag_prop", "src_prop",
                  "dst_prop", "input_prop", "var_prop", "src_vert",
                  "dst_vert", "param_unres"):
            # param_unres = a bare `$name` bound by a script assignment
            # (not a parameter) — per-clause resolvers decide its error
            return self.resolve(*e)
        if op in ("and", "or"):
            # a CONSTANT non-bool operand refuses at validation (the
            # reference's DeduceTypeVisitor — yield.feature `-1 AND
            # TRUE`); column-typed non-bools stay runtime BAD_TYPE
            for x in (e[1], e[2]):
                if _static_nonbool_const(x):
                    raise ValueError(
                        f"SemanticError: `{_expr_text(e)}' is not a "
                        "valid expression, can not apply `&&' or `AND' "
                        "operator to non-BOOL operands")
            a, b = self._boolish(e[1]), self._boolish(e[2])
            # LogicalExpression.cpp evalAnd/evalOr: a statically non-bool
            # operand (not BOOL, not LIST — implicitBool covers those two
            # only, Value.cpp:1975) is BAD_TYPE. BADNULL short-circuits,
            # so `true OR (age+1)` is true but `(age+1) OR true` is NULL.
            if a is None:
                return F.lit(None).cast("boolean")
            if b is None:
                return (F.when(a, F.lit(True)) if op == "or"
                        else F.when(~a, F.lit(False)))
            return a & b if op == "and" else a | b
        if op == "xor":
            a, b = self._boolish(e[1]), self._boolish(e[2])
            if a is None or b is None:   # evalXor: BAD_TYPE → NULL
                return F.lit(None).cast("boolean")
            return (a | b) & ~(a & b)
        if op == "not":
            a = self._boolish(e[1])
            if a is None:                # UnaryExpression !non-bool
                return F.lit(None).cast("boolean")
            return ~a
        if op == "neg":
            if isinstance(e[1], tuple) and e[1] and e[1][0] == "lit" \
                    and e[1][1] == -(2**63):
                # -(INT64_MIN) overflows at validation (yield.feature
                # CalculateOverflow `- -9223372036854775808`)
                raise ValueError(
                    "SemanticError: result of -(-9223372036854775808) "
                    "cannot be represented as an integer")
            return -self.col(e[1])
        if op == "eqns":                 # null-safe equality (CASE arms)
            return self.col(e[1]).eqNullSafe(self.col(e[2]))
        if op in ("==", "!=", "<", "<=", ">", ">="):
            # dynamically-typed comparison of incomparable literal types:
            # the reference yields NULL (Value.cpp lessThan/equal on
            # mismatched types), where Spark refuses BOOLEAN-vs-numeric
            # at analysis — resolve statically for literal sides
            def _lt(x):
                return type(x[1]) if isinstance(x, tuple) \
                    and x[0] == "lit" and x[1] is not None else None
            ta, tb = _lt(e[1]), _lt(e[2])
            if ta is not None and tb is not None and ta is not tb \
                    and bool in (ta, tb):
                return F.lit(None).cast("boolean")
            if op in ("<", "<=", ">", ">="):
                # DURATION is unorderable (1 month vs 30 days has no
                # answer — TimeComparison.feature: BAD_TYPE → typed null);
                # only ==/!= compare field-wise
                da = self._dtype(self.col(e[1]))
                if _is_duration_type(da) \
                        and _is_duration_type(self._dtype(self.col(e[2]))):
                    return F.lit(None).cast("boolean")
        if op in ("+", "-", "*", "/", "%"):
            # CONSTANT int64 arithmetic refuses overflow and /0 at
            # validation (the reference folds constants in the
            # validator — yield.feature CalculateOverflow:
            # `9223372036854775807+1` / `1/0` / `2%0`)
            def _cint(x):
                if isinstance(x, tuple) and x and x[0] == "lit" \
                        and isinstance(x[1], int) \
                        and not isinstance(x[1], bool):
                    return x[1]
                if isinstance(x, tuple) and x and x[0] == "neg":
                    v = _cint(x[1])
                    return None if v is None else -v
                return None
            ca, cb = _cint(e[1]), _cint(e[2])
            if ca is not None and cb is not None:
                if op in ("/", "%") and cb == 0:
                    raise ValueError("SemanticError: Divide by 0")
                if op in ("+", "-", "*"):
                    r = {"+": ca + cb, "-": ca - cb, "*": ca * cb}[op]
                    if not (-2**63 <= r < 2**63):
                        raise ValueError(
                            f"SemanticError: result of ({ca}{op}{cb}) "
                            "cannot be represented as an integer")
        if op in ("==", "!=", "<", "<=", ">", ">=", "+", "-", "*", "/", "%"):
            a, b = self.col(e[1]), self.col(e[2])
            if op == "+" and (_is_stringish(e[1]) or _is_stringish(e[2])):
                # reference `+` concatenates when either side is a string
                # (ArithmeticExpression STRING branch; StringFlaotAddition
                # .feature) — doubles render as shortest round-trip form,
                # which CAST AS STRING (Double.toString) matches
                return F.concat(a.cast("string"), b.cast("string"))
            if op == "+":
                # reference `+` over lists is concatenation
                # (ArithmeticExpression LIST branch; LDBC BI10's
                # `interestedPersons + collect(person)`): dispatched off
                # the resolved schema when a frame is attached — and the
                # STRING branch likewise applies when a side only
                # resolves to string dynamically (parameter.feature
                # `$-.id+$p1` ⇒ "Manu Ginobili1")
                from pyspark.sql.types import ArrayType, StringType
                if isinstance(self._dtype(a), ArrayType) \
                        or isinstance(self._dtype(b), ArrayType):
                    return F.concat(a, b)
                if isinstance(self._dtype(a), StringType) \
                        or isinstance(self._dtype(b), StringType):
                    return F.concat(a.cast("string"), b.cast("string"))
            if op in ("+", "-") and _is_duration_type(self._dtype(b)):
                c = _temporal_duration_arith(self._dtype(a), a, b,
                                             op == "+")
                if c is not None:
                    return c
            if op in ("-", "*", "/", "%"):
                # non-`+` arithmetic over a statically-STRING operand is
                # the reference's planning refusal: `v.player.name-'n'`
                # → "`(v.player.name-"n")' is not a valid expression,
                # can not apply `-' to `__EMPTY__' and `STRING'."
                # (match/Base.feature "filter is not a valid expression")
                from pyspark.sql.types import StringType as _SStr
                sa = isinstance(self._dtype(a), _SStr) \
                    or _is_stringish(e[1])
                sb = isinstance(self._dtype(b), _SStr) \
                    or _is_stringish(e[2])
                if sa or sb:
                    ta = "__EMPTY__" if sa else "STRING"
                    raise ValueError(
                        f"`{_expr_text(e) or '...'}' is not a valid "
                        f"expression, can not apply `{op}' to "
                        f"`{ta}' and `STRING'.")
            if op in ("==", "!=", "<", "<=", ">", ">="):
                r = _fold_const_list_cmp(op, e[1], e[2])
                if r is not _CMP_MISS:
                    # constant list comparison folds in Python with the
                    # reference's dynamic semantics (heterogeneous
                    # elements, epsilon floats — RelationalExpr.feature
                    # `[1,"a"]<=[1]`): Spark arrays can't mix types. It
                    # folds BEFORE the epsilon branch — `2.0 == [1.99…]`
                    # is kind-mismatch false, not a float compare
                    return F.lit(r).cast("boolean") if r is None \
                        else F.lit(r)
            if op in ("==", "!=", "<", "<=", ">", ">=") \
                    and (_is_floatish(e[1]) or _is_floatish(e[2])):
                # FLOAT comparisons are epsilon-tolerant in the reference
                # (Value.h:492 kEpsilon = 1e-8; Value.cpp:1801-1909):
                # equal when |a-b| < ε, ordered only when also outside ε.
                # Applied when a side is statically float (literal/cast/
                # arithmetic); float-column-vs-float-column comparisons
                # fall through to exact compare — documented deviation.
                ad, bd = a.cast("double"), b.cast("double")
                eq = F.abs(ad - bd) < F.lit(1e-8)
                return {"==": eq, "!=": ~eq,
                        "<": ~eq & (ad < bd), "<=": eq | (ad < bd),
                        ">": ~eq & (ad > bd), ">=": eq | (ad > bd)}[op]
            if op == "/" and (_is_floatish(e[1]) or _is_floatish(e[2])):
                # float division is IEEE754 (NaNInfinityFloat.feature:
                # 1/0.0 = inf, 0/0.0 = nan) while integer /0 stays the
                # DIV_BY_ZERO null — Spark nulls both, so the float path
                # rebuilds the IEEE values explicitly
                ad, bd = a.cast("double"), b.cast("double")
                return (F.when(ad.isNull() | bd.isNull(),
                               F.lit(None).cast("double"))
                        .when(bd != 0, ad / bd)
                        .when(ad > 0, F.lit(float("inf")))
                        .when(ad < 0, F.lit(float("-inf")))
                        .otherwise(F.lit(float("nan"))))
            if op == "/":
                # both sides statically integral → C++ integer division
                # (Value.cpp operator/: int64/int64 truncates toward
                # zero; optimizer/CollapseProjectRule.feature pins
                # v.player.age/10 == 4 for age 40-42). Spark's `div` is
                # IntegralDivide — same truncation, NULL on /0 like the
                # DIV_BY_ZERO null. Anything not provably integral keeps
                # true division (data-dependent dtypes resolve via the
                # attached frame when available).
                from pyspark.sql.types import IntegralType

                def _intish(x):
                    if isinstance(x, tuple) and x[0] == "lit":
                        return isinstance(x[1], int) \
                            and not isinstance(x[1], bool)
                    return False
                da, db = self._dtype(a), self._dtype(b)
                ia = isinstance(da, IntegralType) or \
                    (da is None and _intish(e[1]))
                ib = isinstance(db, IntegralType) or \
                    (db is None and _intish(e[2]))
                if ia and ib:
                    return F.call_function("div", a, b)
            if op in ("==", "!=", "<", "<=", ">", ">="):
                # json_extract(s)[key] carries the JSON value's OWN type
                # in the reference (dynamically-typed Value map —
                # SubscriptInUpdate.feature compares ['a'] == 1); our
                # map<string,string> encoding makes it statically
                # string, so adapt the JSON side to the OTHER side's
                # static type before the kind-mismatch rule fires
                def _is_json_sub(x):
                    return (isinstance(x, tuple) and x
                            and x[0] == "subscript"
                            and isinstance(x[1], tuple)
                            and x[1][0] in ("call", "call_distinct")
                            and str(getattr(x[1][1], "src", x[1][1]))
                            .lower() == "json_extract")
                ja, jb = _is_json_sub(e[1]), _is_json_sub(e[2])
                if ja != jb:
                    from pyspark.sql.types import (BooleanType as _JB,
                                                   FractionalType as _JF,
                                                   NumericType as _JN)
                    other_t = self._dtype(b if ja else a)
                    tgt = None
                    if isinstance(other_t, _JN):
                        tgt = "double" if isinstance(other_t, _JF) \
                            else "bigint"
                    elif isinstance(other_t, _JB):
                        tgt = "boolean"
                    if tgt is not None:
                        if ja:
                            a = a.try_cast(tgt)
                        else:
                            b = b.try_cast(tgt)
                # container-vs-scalar comparison: the reference's
                # dynamically-typed Value compare yields NULL on
                # mismatched kinds (MatchByVariable.feature "bugfix":
                # `id(v) == vid` where vid is LIST[] matches 0 rows);
                # Spark refuses the cast at analysis, so resolve here
                from pyspark.sql.types import (ArrayType, BooleanType,
                                               MapType, NumericType,
                                               StringType, StructType)

                def _kind(t):
                    if t is None:
                        return None
                    if isinstance(t, ArrayType):
                        return "array"
                    if isinstance(t, MapType):
                        return "map"
                    if isinstance(t, StructType):
                        return "struct"
                    if isinstance(t, StringType):
                        return "string"
                    if isinstance(t, BooleanType):
                        return "bool"
                    if isinstance(t, NumericType):
                        return "num"
                    return "scalar"
                ka, kb = _kind(self._dtype(a)), _kind(self._dtype(b))
                known = {"string", "bool", "num", "array", "map", "struct"}
                if ka in known and kb in known and ka != kb:
                    # Value::equal on mismatched non-numeric kinds is
                    # FALSE (Value.cpp:1873-1882) and kRelNE is !equal —
                    # `src(e) != 0` keeps every row (match/Base.feature
                    # "match with rank1"); the ordering operators stay
                    # NULL (lessThan's kNullBadType)
                    if op == "==":
                        return F.when(a.isNull() | b.isNull(),
                                      F.lit(None).cast("boolean")) \
                                .otherwise(F.lit(False))
                    if op == "!=":
                        return F.when(a.isNull() | b.isNull(),
                                      F.lit(None).cast("boolean")) \
                                .otherwise(F.lit(True))
                    return F.lit(None).cast("boolean")
            return {"==": a == b, "!=": a != b, "<": a < b, "<=": a <= b,
                    ">": a > b, ">=": a >= b, "+": a + b, "-": a - b,
                    "*": a * b, "/": a / b, "%": a % b}[op]
        if op == "=~":
            # reference `=~` is std::regex_match — FULL match
            # (RelationalExpression.cpp:46), not Java rlike's substring
            # search; anchor the pattern in a non-capturing group
            if e[2][0] == "lit":
                return self.col(e[1]).rlike(f"^(?:{e[2][1]})$")
            return F.regexp_like(
                self.col(e[1]),
                F.concat(F.lit("^(?:"), self.col(e[2]), F.lit(")$")))
        if op == "not_in":
            inner = self.col(("in",) + e[1:])
            return F.when(inner.isNull(),
                          F.lit(None).cast("boolean")).otherwise(~inner)
        if op == "in":
            _ci, _cl = _const_val(e[1]), _const_val(e[2])
            if _ci is not _CMP_MISS and _cl is not _CMP_MISS \
                    and isinstance(_cl, list) \
                    and (_ci is None or isinstance(_ci, list)
                         or any(x is None or isinstance(x, list)
                                for x in _cl)):
                # const membership with NULLs / nested lists folds in
                # Python (RelationalExpr.feature in_test): three-valued
                # any over Value::equal — a found match beats NULL
                if _ci is None:
                    return F.lit(None).cast("boolean")
                saw_null = False
                for x in _cl:
                    r = _val_eq(_ci, x)
                    if r is True:
                        return F.lit(True)
                    if r is None:
                        saw_null = True
                return F.lit(None).cast("boolean") if saw_null \
                    else F.lit(False)
            # x IN MAP{…} is KEY membership (basic/data.feature: "a" IN
            # MAP{a:1, b:2} → true); the map literal's keys are known at
            # compile time
            if e[2][0] == "map":
                keys = [k for k, _v in e[2][1]]
                return self.col(e[1]).isin(*keys) if keys else F.lit(False)
            if e[2][0] == "map_empty":
                return F.lit(False)
            # x IN []/LIST[]/SET{} — the empty container literal: always
            # false (array<void> would fail Spark's type check)
            if e[2][0] in ("list", "set") and len(e[2]) == 1:
                return F.lit(False)
            vals = None
            if e[2][0] == "lit" and isinstance(e[2][1], list):
                vals = e[2][1]          # folded parameter list (IN $p9)
            elif e[2][0] == "list" and all(
                    isinstance(x, tuple) and x[0] == "lit"
                    for x in e[2][1:]):
                vals = [x[1] for x in e[2][1:]]
            if vals is not None and vals and all(
                    v is not None for v in vals):
                if len({type(v) for v in vals}) == 1 and \
                        not isinstance(vals[0], (list, dict)):
                    return self.col(e[1]).isin(*vals)
                # mixed-type literal list (parameter.feature `IN
                # [$p1,$p2,$p3,…]`): the reference's dynamically-typed IN
                # can only match same-typed elements, so restrict the
                # list by the left side's resolved type — containers and
                # foreign types can never equal a scalar
                lt = self._dtype(self.col(e[1]))
                if lt is not None:
                    from pyspark.sql.types import (BooleanType, DoubleType,
                                                   FloatType, IntegerType,
                                                   LongType, StringType)
                    if isinstance(lt, StringType):
                        kept = [v for v in vals if isinstance(v, str)]
                    elif isinstance(lt, BooleanType):
                        kept = [v for v in vals if isinstance(v, bool)]
                    elif isinstance(lt, (IntegerType, LongType, FloatType,
                                         DoubleType)):
                        kept = [v for v in vals if isinstance(v, (int, float))
                                and not isinstance(v, bool)]
                    else:
                        kept = []
                    return self.col(e[1]).isin(*kept) if kept \
                        else F.lit(False)
            # NULL-bearing / computed lists — membership over the array
            # value (heterogeneous elements coerce to a common Spark
            # type, matching the reference's dynamic IN)
            rhs = self.col(e[2])
            rt = self._dtype(rhs)
            from pyspark.sql.types import ArrayType, NullType
            if isinstance(rt, NullType):
                # x IN NULL → NULL (MatchByVariable.feature "bugfix":
                # `WHERE v1.player.name IN name` over a NULL binding
                # matches zero rows, it is not an error)
                return F.lit(None).cast("boolean")
            if rt is not None and not isinstance(rt, ArrayType):
                # the reference's dynamic IN over a non-list VALUE is a
                # runtime error ("Failed to evaluate condition",
                # MatchByVariable.feature [2] match by prop index) — but
                # only when a row actually evaluates it: an empty frame
                # or a NULL value yields no error and zero rows
                # (MatchByVariable "bugfix": id(v)=='A' start). Encode
                # exactly that with a row-level raise.
                return F.when(rhs.isNull(), F.lit(None).cast("boolean")) \
                    .otherwise(F.raise_error(F.lit(
                        "Failed to evaluate condition: IN expects a LIST "
                        "on the right side. For boolean conditions, "
                        "please write in their full forms like "
                        "<condition> == <true/false> or <condition> IS "
                        "[NOT] NULL.")))
            return F.array_contains(rhs, self.col(e[1]))
        if op == "is_null":
            return self.col(e[1]).isNull()
        if op in ("starts_with", "ends_with", "contains_str"):
            # string-only relations (RelationalExpression.cpp kStartsWith
            # etc.): a non-string literal side is the validator's type
            # SemanticError (StartsWith.feature `123 STARTS WITH 1`)
            kw = {"starts_with": "STARTS WITH", "ends_with": "ENDS WITH",
                  "contains_str": "CONTAINS"}[op]
            for side in (e[1], e[2]):
                if isinstance(side, tuple) and side[0] == "lit" \
                        and side[1] is not None \
                        and not isinstance(side[1], str):
                    raise ValueError(
                        f"Type error `({e[1][1] if e[1][0] == 'lit' else '…'}"
                        f" {kw} {e[2][1] if e[2][0] == 'lit' else '…'})'")
            f = {"starts_with": Column.startswith,
                 "ends_with": Column.endswith,
                 "contains_str": Column.contains}[op]
            return f(self.col(e[1]), self.col(e[2]))
        if op == "case":
            # condition cast to boolean: `WHEN null THEN …` must resolve
            # (NullType isn't boolean to Spark) and behave as not-matched
            whens, default = e[1], e[2]
            vals = [self.col(v) for _, v in whens]
            if default:
                vals.append(self.col(default))
            vals = self._unify_structs(vals)
            c = F.when(self.col(whens[0][0]).cast("boolean"), vals[0])
            for i, (cond, _) in enumerate(whens[1:], start=1):
                c = c.when(self.col(cond).cast("boolean"), vals[i])
            return c.otherwise(vals[-1]) if default else c
        if op in ("call", "call_distinct"):
            return self.call(e[1], list(e[2:]), distinct=op == "call_distinct")
        if op == "subscript":            # SubscriptExpression: 0-based lists
            # reference semantics (SubscriptExpression.cpp:26-36):
            # list[-1] == list[size-1]; out of range ([size..] / [..-size-1])
            # → NULL. F.get is 0-based and NULL-safe out of bounds.
            # A string subscript is MAP access (SubscriptInUpdate.feature:
            # json_extract(json)['b']) — element_at is NULL-safe on a
            # missing key.
            if (isinstance(e[1], tuple) and e[1][0] == "list"
                    and isinstance(e[2], tuple) and e[2][0] == "lit"
                    and isinstance(e[2][1], int)
                    and not isinstance(e[2][1], bool)):
                # AST-level fold of a literal-index subscript into a
                # literal list: heterogeneous lists ([{num: 0}, 1],
                # openCypher Map1.feature) have no Spark array type but
                # their elements are individually typed
                els, idx = list(e[1][1:]), e[2][1]
                if -len(els) <= idx < len(els):
                    return self.col(els[idx])
                return F.lit(None)
            base = self.col(e[1])
            if (isinstance(e[2], tuple) and e[2][0] == "lit"
                    and isinstance(e[2][1], str)):
                from pyspark.sql.types import StructType
                dt = self._dtype(base)
                if (dt is None and isinstance(e[1], tuple)
                        and e[1][0] == "name"
                        and e[1][1] in getattr(self, "var_dtypes", {})):
                    # lambda variable: the element type was recorded by
                    # scoped() — a select-probe can't analyze a
                    # namedlambdavariable (Predicate.feature
                    # `EXISTS(e['likeness'])` over a var-len hop list)
                    dt = self.var_dtypes[e[1][1]]
                if isinstance(dt, StructType):
                    # struct-encoded map literal: case-SENSITIVE key,
                    # absent → NULL (the map-literal attr rule)
                    return base[e[2][1]] \
                        if e[2][1] in dt.fieldNames() else F.lit(None)
                return F.element_at(base, F.lit(e[2][1]))
            from pyspark.sql.types import MapType
            if isinstance(self._dtype(base), MapType):
                return F.element_at(base, self.col(e[2]))
            idx = self.col(e[2]).cast("int")
            return F.get(base, F.when(idx < 0, idx + F.size(base))
                         .otherwise(idx))
        if op == "slice":                # l[a..b] — end-exclusive
            # reference semantics (SubscriptExpression.cpp:127-186):
            # negative bounds count from the end; out-of-bound bounds
            # truncate; lo >= hi → empty list
            base = self.col(e[1])
            sz = F.size(base)
            lo0 = (self.col(e[2]) if e[2] is not None else F.lit(0)) \
                .cast("int")
            hi0 = (self.col(e[3]) if e[3] is not None else sz).cast("int")
            lo = F.greatest(F.when(lo0 < 0, lo0 + sz).otherwise(lo0),
                            F.lit(0))
            hi = F.least(F.when(hi0 < 0, hi0 + sz).otherwise(hi0), sz)
            # NULL bound → NULL list (ListSlicingWithNull.feature), not a
            # defaulted bound: greatest/least would silently swallow it
            return F.when(lo0.isNotNull() & hi0.isNotNull(),
                          F.slice(base, lo + 1,
                                  F.greatest(hi - lo, F.lit(0))))
        if op == "comprehension":        # [x IN l WHERE p | out]
            _, var, lst, where, out = e
            g = self._coll_guard(lst)
            if g is not None:
                return g
            c = self.col(lst)
            el = self._elem_dtype(c)
            if where is not None:
                c = F.filter(c, lambda x: self.scoped(
                    {var: x}, {var: el}).col(where))
            if out is not None:
                c = F.transform(c, lambda x: self.scoped(
                    {var: x}, {var: el}).col(out))
            return c
        if op == "pred_fn":              # all/any/none/single(x IN l WHERE p)
            _, fn, var, lst, pred = e
            g = self._coll_guard(lst)
            if g is not None:
                return g.cast("boolean")
            if (lst[0] == "lit" and isinstance(lst[1], list)
                    and len({type(v) for v in lst[1]}) > 1
                    and fn in ("all", "any", "none")):
                # mixed-type parameter list: Spark arrays are typed, so
                # unroll the quantifier over the literal elements — the
                # AND/OR chains carry openCypher's three-valued semantics
                # (false dominates null for all(), true for any()). The
                # element substitutes as a literal AST node so the
                # incomparable-type → NULL rule below applies statically.
                def _subst(a, v):
                    if not isinstance(a, tuple):
                        return a
                    if a[0] == "name" and a[1] == var:
                        return ("lit", v)
                    return tuple(a[0:1]) + tuple(_subst(x, v)
                                                 for x in a[1:])
                per = [self.col(_subst(pred, v)) for v in lst[1]]
                acc = per[0]
                for p in per[1:]:
                    acc = (acc & p) if fn == "all" else (acc | p)
                return ~acc if fn == "none" else acc
            c = self.col(lst)
            el = self._elem_dtype(c)
            lam = lambda x: self.scoped({var: x},            # noqa: E731
                                        {var: el}).col(pred)
            if fn == "all":
                return F.forall(c, lam)
            if fn == "any":
                return F.exists(c, lam)
            if fn == "none":
                return ~F.exists(c, lam)
            # single: exactly one true — three-valued (Predicate.feature
            # `Single(a IN [2, 3, NULL] WHERE a == 3)` is NULL: the NULL
            # row could be a second match). >1 true dominates NULL.
            nt = F.size(F.filter(c, lambda x: lam(x).cast(
                "boolean").eqNullSafe(F.lit(True))))
            nn = F.size(F.filter(c, lambda x: lam(x).isNull()))
            return (F.when(nt > 1, F.lit(False))
                    .when(nn > 0, F.lit(None).cast("boolean"))
                    .otherwise(nt == 1))
        if op == "reduce":               # reduce(acc = init, x IN l | body)
            _, acc, init, var, lst, body = e
            g = self._coll_guard(lst)
            if g is not None:
                return g
            zero = self.col(init)
            if init[0] == "lit" and isinstance(init[1], int):
                # reference INT is int64 (Value.h); Spark aggregate() needs
                # zero type == merge result type
                zero = zero.cast("bigint")
            lc = self.col(lst)
            el = self._elem_dtype(lc)
            return F.aggregate(
                lc, zero,
                lambda a, x: self.scoped({acc: a, var: x},
                                         {var: el}).col(body))
        raise ValueError(f"cannot compile {e!r}")

    def _unify_structs(self, vals: list[Column]) -> list[Column]:
        """CASE branches over the dynamically-typed Value can mix struct
        shapes (an edge value vs a map literal — Case.feature "use
        generic case in match"); Spark's casewhen needs one type, so
        rebuild every struct branch on the UNION of field names with
        NULL for the missing ones. Non-struct branches pass through."""
        from pyspark.sql.types import StructType
        dts = [self._dtype(v) for v in vals]
        structs = [dt for dt in dts if isinstance(dt, StructType)]
        if len(structs) < 2 or len(
                {tuple(dt.fieldNames()) for dt in structs}) < 2:
            return vals
        fields: list[str] = []
        for dt in structs:
            for f in dt.fieldNames():
                if f not in fields:
                    fields.append(f)
        out = []
        for v, dt in zip(vals, dts):
            if isinstance(dt, StructType):
                have = set(dt.fieldNames())
                out.append(F.struct(
                    *[(v[f] if f in have else F.lit(None)).alias(f)
                      for f in fields]))
            else:
                out.append(v)
        return out

    def _elem_dtype(self, c: Column):
        """Element type of an array-typed Column (None when unknown) —
        handed to scoped() so lambda bodies can field-access elements."""
        from pyspark.sql.types import ArrayType
        dt = self._dtype(c)
        return dt.elementType if isinstance(dt, ArrayType) else None

    def _coll_guard(self, lst):
        """Comprehension / predicate / reduce collection argument: a
        statically non-LIST literal is the reference's SemanticError
        (`` `18', expected LIST, but was INT`` —
        ListComprehension/Predicate/Reduce "collection is not a LIST");
        a NULL literal nulls the whole expression instead of reaching
        Spark's VOID-typed higher-order function (which refuses)."""
        if isinstance(lst, tuple) and lst and lst[0] == "lit":
            v = lst[1]
            if v is None:
                return F.lit(None)
            if not isinstance(v, list):
                tn = ("BOOL" if isinstance(v, bool) else
                      "INT" if isinstance(v, int) else
                      "FLOAT" if isinstance(v, float) else
                      "STRING" if isinstance(v, str) else
                      "MAP" if isinstance(v, dict) else
                      type(v).__name__.upper())
                raise ValueError(
                    f"SemanticError: `{_expr_text(lst) or lst[1]!r}', "
                    f"expected LIST, but was {tn}")
        return None

    def scoped(self, vars_: dict,
               dtypes: dict | None = None) -> "ExprCompiler":
        """Child compiler where lambda variables shadow outer resolution;
        ``var.prop`` on a struct element becomes a field access.
        ``dtypes`` records known element types (a lambda variable cannot
        be select-probed, so subscripts need the type handed down)."""
        outer = self.resolve

        def resolve(kind, *args):
            if kind == "name" and args[0] in vars_:
                return vars_[args[0]]
            if kind == "edge_prop" and args[0] in vars_:
                return vars_[args[0]][args[1]]
            return outer(kind, *args)
        child = ExprCompiler(resolve)
        child.var_dtypes = {**getattr(self, "var_dtypes", {}),
                            **(dtypes or {})}
        return child

    def call(self, name: str, args: list, distinct: bool = False) -> Column:
        from nebula_spark.operators.aggregate import agg_call
        if name == "duration" and len(args) == 1 \
                and isinstance(args[0], tuple) and args[0][0] == "map":
            # duration({years:…, months:…, days:…, …}) →
            # struct(months, seconds) — the reference's unnormalized
            # two-component Duration (Duration.h:20; TimeUtils
            # durationFromMap). Values may be computed expressions.
            parts = {k.lower(): self.col(v) for k, v in args[0][1]}
            bad = set(parts) - {"years", "months", "weeks", "days",
                                "hours", "minutes", "seconds"}
            if bad:
                raise ValueError(
                    f"Invalid duration field `{sorted(bad)[0]}'.")
            z = F.lit(0)
            months = (parts.get("years", z).cast("long") * 12
                      + parts.get("months", z).cast("long"))
            secs = (((parts.get("weeks", z).cast("long") * 7
                      + parts.get("days", z).cast("long")) * 24
                     + parts.get("hours", z).cast("long")) * 60
                    + parts.get("minutes", z).cast("long")) * 60 \
                + parts.get("seconds", z).cast("long")
            return F.struct(months.cast("int").alias("months"),
                            secs.alias("seconds"))
        if name in ("date", "time", "datetime") and len(args) == 1 \
                and isinstance(args[0], tuple) and args[0][0] == "map":
            # calendar map constructors — Date({year:…, month:…, day:…}),
            # Time({hour:…, minute:…, second:…, millisecond:…,
            # microsecond:…}), DateTime({…both…}) (TimeUtils
            # dateFromMap/timeFromMap/dateTimeFromMap;
            # InsertWithTimeType.feature UPDATE scenarios)
            parts = {k.lower(): self.col(v) for k, v in args[0][1]}
            z = F.lit(0)
            sec = (parts.get("second", z).cast("double")
                   + parts.get("millisecond", z).cast("double") / 1e3
                   + parts.get("microsecond", z).cast("double") / 1e6)
            if name == "date":
                return F.make_date(parts.get("year", F.lit(1970)),
                                   parts.get("month", F.lit(1)),
                                   parts.get("day", F.lit(1)))
            if name == "time":
                return F.struct(
                    parts.get("hour", z).cast("int").alias("hour"),
                    parts.get("minute", z).cast("int").alias("minute"),
                    sec.alias("sec"))
            return F.make_timestamp_ntz(
                parts.get("year", F.lit(1970)),
                parts.get("month", F.lit(1)), parts.get("day", F.lit(1)),
                parts.get("hour", z), parts.get("minute", z), sec)
        if name in ("setadd", "erase") and len(args) == 2:
            # SET-prop mutators (Update.feature Set< t > scenarios)
            a, v = self.col(args[0]), self.col(args[1])
            if name == "setadd":
                return F.array_distinct(F.concat(a, F.array(v)))
            return F.array_remove(a, v)
        if name == "replace" and len(args) == 3:
            # REPLACE is the string fn unless the subject is a SET/LIST
            from pyspark.sql.types import ArrayType
            a = self.col(args[0])
            if isinstance(self._dtype(a), ArrayType):
                old, new = self.col(args[1]), self.col(args[2])
                return F.array_distinct(F.transform(
                    a, lambda x: F.when(x == old, new).otherwise(x)))
        if name == "json_extract" and len(args) == 1 \
                and isinstance(args[0], tuple) and args[0][0] == "lit" \
                and not isinstance(args[0][1], str):
            # json_extract.feature: a non-string argument is the
            # validator's type SemanticError, not a NULL
            v = args[0][1]
            raise ValueError(f"`JSON_EXTRACT({v})' is not a valid "
                             "expression : Parameter's type error")
        if name in ("nodes", "relationships", "length") and len(args) == 1 \
                and isinstance(args[0], tuple) and args[0][0] == "name":
            try:
                return self.resolve("path_fn", name, args[0][1])
            except _UndefinedAliasError:
                raise
            except ValueError:
                pass                      # not a path → fall through
        if name in ("nodes", "relationships", "length", "startnode",
                    "endnode") and len(args) == 1:
            # PATH values from FIND … PATH YIELD path — struct(start, path)
            # columns reaching a piped YIELD (length($-.p), nodes($-.p) …,
            # AllPath.IntVid.feature:297-340); dispatched off the resolved
            # schema when a frame is attached
            from pyspark.sql.types import StructType
            try:
                c = self.col(args[0])
            except ValueError:
                c = None
            if c is not None:
                dt = self._dtype(c)
                if isinstance(dt, StructType) \
                        and {"start", "path"} <= set(dt.fieldNames()):
                    if name == "length":
                        return F.size(c["path"])
                    if name == "relationships":
                        return c["path"]
                    if name == "nodes":
                        return F.concat(
                            F.array(c["start"]),
                            F.transform(c["path"], lambda x: x["d"]))
                    if name == "startnode":
                        return c["start"]
                    return (F.when(F.size(c["path"]) > 0,
                                   F.element_at(c["path"], -1)["d"])
                            .otherwise(c["start"]))
                if name in ("startnode", "endnode") \
                        and isinstance(dt, StructType):
                    # startNode/endNode of an EDGE value: the endpoint
                    # vertex (by vid — the comparator's bare-vid vertex
                    # identity; FetchEdges.strVid `startNode($-.e)`)
                    fn = set(dt.fieldNames())
                    if {"src", "dst"} <= fn:
                        return c["src" if name == "startnode" else "dst"]
                    if {"s", "d"} <= fn:
                        return c["s" if name == "startnode" else "d"]
                if name == "length" and isinstance(dt, StructType):
                    # length() of a vertex/edge VALUE — openCypher
                    # Path3.feature [2]: InvalidArgumentType
                    raise ValueError(
                        "InvalidArgumentType: length() expects a PATH "
                        "or STRING")
        if name in ("id", "type", "rank", "startnode", "endnode",
                    "properties", "props", "src", "dst", "labels",
                    "tags", "keys", "none_direct_src",
                    "none_direct_dst") and len(args) == 1 \
                and isinstance(args[0], tuple) \
                and args[0][0] in ("name", "src_vert", "dst_vert"):
            # `properties($^)` / `type(edge)` pass the marker kind as the
            # key; named bindings pass the alias
            key = args[0][1] if args[0][0] == "name" else args[0][0]
            try:
                return self.resolve("graph_fn", name, key)
            except ValueError:
                pass                      # not a MATCH binding → fall through
        if name in ("properties", "props") and len(args) == 1:
            # properties() of a computed VALUE (`properties(e[0])` on a
            # var-len hop struct — PrunePropertiesRule.feature "test
            # properties"): strip the edge/vertex meta fields, keep props
            from pyspark.sql.types import MapType, StructType
            c = self.col(args[0])
            t = self._dtype(c)
            if isinstance(t, StructType):
                # meta keys of every graph-value struct shape: hop
                # structs (s/d/r/t/et), vertex values (vid), FETCH /
                # LOOKUP `edge AS e` values (src/dst/_rank/_etype —
                # FetchEdges.strVid "Fetch and Yield" properties($-.e))
                meta = {"s", "d", "r", "t", "et", "vid",
                        "src", "dst", "_rank", "_etype", "_type"}
                fields = [f.name for f in t.fields if f.name not in meta]
                return F.struct(*[c[f].alias(f) for f in fields])
            if isinstance(t, MapType):
                return c
        if name in ("is_edge", "is_vertex", "is_path") and len(args) == 1 \
                and isinstance(args[0], tuple) and args[0][0] == "name" \
                and self.df is not None:
            # type predicates over MATCH bindings (FunctionManager
            # typePredicates; bugfix/ExtractFilter.feature): binding kind
            # is static — decided off the frame's convention columns
            a = args[0][1]
            cols = set(self.df.columns)
            kind = ("edge" if f"{a}___src" in cols
                    else "path" if f"{a}__start" in cols
                    and f"{a}__path" in cols
                    else "vertex" if f"{a}___vid" in cols else None)
            return F.lit(kind == name.split("_", 1)[1])
        if name in ("bit_or", "bit_and", "bit_xor") and len(args) == 2:
            # two-arg form is the SCALAR bitwise op (FunctionManager
            # bit_* binary overloads); one-arg stays the aggregate.
            # A statically non-integer literal operand is the reference's
            # planning-time type error (function/Mathematical.feature)
            for bad in args:
                if bad[0] == "lit" and bad[1] is not None \
                        and not (isinstance(bad[1], int)
                                 and not isinstance(bad[1], bool)):
                    raise ValueError(f"Type error `{name}()'")
            a, b = self.col(args[0]), self.col(args[1])
            return {"bit_or": a.bitwiseOR(b), "bit_and": a.bitwiseAND(b),
                    "bit_xor": a.bitwiseXOR(b)}[name]
        if name in ("toboolean", "tofloat") and len(args) == 1 \
                and args[0][0] == "lit" and args[0][1] is not None:
            # literal argument type rules (function/TypeConversion.feature):
            # toBoolean takes bool/string only, toFloat numeric/string only
            v = args[0][1]
            if name == "toboolean" and isinstance(v, (int, float)) \
                    and not isinstance(v, bool):
                raise ValueError(f"Type error `toBoolean({v})'")
            if name == "tofloat" and isinstance(v, bool):
                raise ValueError(
                    f"Type error `toFloat({str(v).lower()})'")
        if name in _AGG_FNS:
            if args and args[0] == ("star",):
                if name != "count":
                    # only COUNT takes `*` (AggFunctionManager;
                    # aggregate/Agg.feature "Error Check")
                    raise ValueError(
                        "SyntaxError: Could not apply aggregation "
                        f"function on `*` near `{name}'")
                return agg_call("count", F.lit(1))
            if len(args) != 1:
                # aggregates take exactly one argument — `sum()` (r8
                # fuzz find: IndexError) and `COUNT(a, b)` (Agg.feature
                # "Error Check") are the reference's arity SemanticError
                raise ValueError(
                    f"SemanticError: Unknown function: {name} — "
                    f"wrong number of arguments")
            c = self.col(args[0])
            if name in ("bit_and", "bit_or", "bit_xor"):
                # bitwise aggregates need integral input — anything else
                # folds to BAD_TYPE → NULL per row-group (Value.cpp
                # bitwise ops; aggregate/Agg.feature [15]/[17] expect
                # BAD_TYPE for BIT_OR over a boolean column)
                from pyspark.sql.types import (ByteType, IntegerType,
                                               LongType, ShortType)
                t = self._dtype(c)
                if t is not None and not isinstance(
                        t, (ByteType, ShortType, IntegerType, LongType)):
                    return F.max(F.lit(None).cast("bigint"))
            return agg_call(name, c, distinct=distinct)
        if name in _GRAPH_FNS:
            if args and isinstance(args[0], tuple) \
                    and args[0][0] in ("name", "src_vert", "dst_vert"):
                try:
                    return _GRAPH_FNS[name](self.resolve(*args[0]))
                except _UndefinedAliasError:
                    raise
                except Exception:  # noqa: BLE001 — id(edge)/src(edge) forms
                    try:
                        return _GRAPH_FNS[name]()
                    except TypeError:
                        # id(vertex)/rank(edge) with no binding in scope
                        # (standalone YIELD — found by fuzzing)
                        arg = args[0][1] if len(args[0]) > 1 else ""
                        raise ValueError(
                            f"SemanticError: `{name}({arg})' is "
                            "not a valid expression") from None
            if args:
                # computed argument — id(nodes(p)[0]), rank(e[0]),
                # src(relationships(p)[i]): a computed edge value is the
                # repo's (s,d,r,t,et,…) struct, so src/dst/rank read its
                # fields (bugfix/LackFilterGetEdges.feature); id() is
                # identity (nodes() yields vid elements)
                c = self.col(args[0])
                if name in ("src", "dst", "rank"):
                    return c[{"src": "s", "dst": "d", "rank": "r"}[name]]
                if name == "id":
                    # id() of a vertex VALUE struct reads the vid field
                    # (piped `YIELD vertex AS node | YIELD id($-.node)`,
                    # FetchVertices.strVid "Fetch and Yield id(v)")
                    from pyspark.sql.types import StructType as _Sv
                    dt = self._dtype(c)
                    if isinstance(dt, _Sv) and "vid" in dt.fieldNames():
                        return c["vid"]
                try:
                    return _GRAPH_FNS[name](c)
                except TypeError:
                    pass                  # zero-arg forms (src()/dst())
            try:
                return _GRAPH_FNS[name]()
            except TypeError:
                # id()/rank() etc. with no binding in scope — a
                # standalone-YIELD context has no vertex/edge value
                # (FunctionManager signature check; found by fuzzing)
                raise ValueError(
                    f"SemanticError: `{name}()' is not a valid "
                    "expression") from None
        if name == "exists" and len(args) == 1:
            # exists(v.tag.prop) — property existence (the pattern form was
            # already consumed by the parser's backtrack)
            return self.col(args[0]).isNotNull()
        if name == "size" and len(args) == 1 and _is_stringish(args[0]):
            # reference size() also measures strings (FunctionManager
            # "size": STRING branch); Spark's size() is array/map-only
            return F.length(self.col(args[0]))
        if name == "concat_ws" and args:
            # reference concat_ws: a NULL or non-string separator yields
            # NULL (FunctionCall.feature "concat_ws"); NULL items skipped
            sep = args[0]
            if sep[0] == "lit" and not isinstance(sep[1], str):
                return F.lit(None).cast("string")
        if name == "round" and len(args) >= 2:
            # reference FunctionManager.cpp:593-668: decimal must be INT,
            # value numeric, mode a string; literal violations are
            # planning-time errors (round.feature "test bad_type")
            from nebula_spark.functions.scalar import round_mode
            for bad, kinds in ((args[0], (str, bool)),
                               (args[1], (float, str, bool))):
                if bad[0] == "lit" and isinstance(bad[1], kinds):
                    raise ValueError(
                        f"`round' is not a valid expression : "
                        f"Parameter's type error")
            mode = "half_up"
            if len(args) == 3:
                if args[2][0] != "lit" or not isinstance(args[2][1], str):
                    raise ValueError("`round' is not a valid expression : "
                                     "Parameter's type error")
                mode = args[2][1]
            return round_mode(self.col(args[0]), self.col(args[1]), mode)
        if name == "id" and len(args) == 1:
            # id(<vertex struct>) reads the vid field (a piped
            # `YIELD vertex AS node | YIELD id($-.node)` —
            # FetchVertices.strVid "Fetch and Yield id(v)")
            from pyspark.sql.types import StructType as _St3
            c = self.col(args[0])
            dt = self._dtype(c)
            if isinstance(dt, _St3) and "vid" in dt.fieldNames():
                return c["vid"]
            return FUNCTIONS["id"](c) if "id" in FUNCTIONS else c
        if name == "hash" and len(args) == 1:
            # type-directed: a statically-DOUBLE argument hashes its raw
            # bytes (std::hash<double> — reference-exact, yield.feature
            # HashCall `hash(123.0)`); the generic batch hash cannot,
            # because Arrow delivers nullable LONG batches as float64
            from pyspark.sql.types import DoubleType, FloatType
            c = self.col(args[0])
            if isinstance(self._dtype(c), (DoubleType, FloatType)):
                from nebula_spark.functions.scalar import hash_double
                return hash_double(c.cast("double"))
            return FUNCTIONS["hash"](c)
        if name in FUNCTIONS:
            return FUNCTIONS[name](*[self.col(a) for a in args])
        raise ValueError(f"unknown function {name}")


# --------------------------------------------------------------------------

def _eval_const_vids(space: GraphSpace, vals: list) -> list:
    """Evaluate ("__const_expr__", text) markers — constant function-call
    vids like ``hash("Tim Duncan")`` (parser.yy vid :
    function_call_expression; GO/FETCH/DELETE IntVid features) — in ONE
    ``range(1)`` probe job for every distinct expression of the
    statement."""
    texts = []                           # distinct, first-occurrence order
    for v in vals:
        if isinstance(v, tuple) and len(v) == 2 \
                and v[0] == "__const_expr__" and v[1] not in texts:
            texts.append(v[1])
    if not texts:
        return list(vals)

    def _refuse(*_a):
        raise ValueError("non-constant vid expression")
    row = space.spark.range(1).select(
        *[ExprCompiler(_refuse).col(
            A.Parser(A.tokenize(str(t))).expr()).alias(f"_c{j}")
          for j, t in enumerate(texts)]).collect()[0]
    m = {t: row[f"_c{j}"] for j, t in enumerate(texts)}
    return [m[v[1]] if isinstance(v, tuple) and len(v) == 2
            and v[0] == "__const_expr__" else v for v in vals]


def _runtime_input(vids: str, piped: DataFrame | None,
                   src_col: str | None,
                   env: dict[str, DataFrame] | None) -> tuple[DataFrame, str]:
    """The frame a ``$-`` / ``$var`` source reads and its checked vid
    column, with the reference's error phrasing."""
    if vids == "$-":
        df = piped
        if df is None:
            if src_col:                  # reference phrases this as a
                raise ValueError(        # missing-prop error
                    f"`$-.{src_col}', not exist prop `{src_col}'")
            raise ValueError("$- with no piped input")
    else:
        # named query variable bound by `$var = <stmt>;`
        # (AssignExecutor.cpp:1-32 / ExecutionContext variable table)
        df = (env or {}).get(vids)
        if df is None:
            raise ValueError(
                f"`{vids}.{src_col}', not exist variable `{vids[1:]}'"
                if src_col else f"undefined query variable {vids}")
    col = src_col or df.columns[0]
    n = df.columns.count(col)
    if n == 0:                           # subgraph.feature "invalid input"
        raise ValueError(f"`{vids}.{col}', not exist prop `{col}'")
    if n > 1:
        raise ValueError(f"Duplicate Column Name : `{col}'")
    return df, col


def _vid_contract(space: GraphSpace) -> tuple[bool, int | None]:
    """The space's vid contract (SpaceDesc, meta.thrift:108): whether its
    vids are integers (``vid_type`` INT or INT64, in any case) and, for
    FIXED_STRING(N), the length N. A space with no ``vid_type`` keys by
    unbounded strings."""
    vt = str((getattr(space, "options", None) or {})
             .get("vid_type", "")).strip().lower()
    m = re.fullmatch(r"fixed_string\((\d+)\)", vt)
    return vt in ("int", "int64"), int(m.group(1)) if m else None


def _literal_keys(space: GraphSpace, keys: list, nv: int,
                  dml: bool = False) -> list[tuple]:
    """Literal key tuples with their first ``nv`` entries (the vids) made
    values: constant function-call vids — ``hash("Tim Duncan")``
    (parser.yy vid : function_call_expression) — evaluate in one probe
    (``_eval_const_vids``). With ``dml`` a vid longer than the space's
    FIXED_STRING(N) refuses (VidInvalidLength.feature; the reference's
    storage rejects oversize vids at write time)."""
    flat = _eval_const_vids(space, [v for k in keys for v in k[:nv]])
    n = _vid_contract(space)[1]
    if dml and n is not None and any(
            isinstance(v, str) and len(v.encode("utf-8")) > n for v in flat):
        raise ValueError("Storage Error: The VID must be a 64-bit integer "
                         "or a string fitting space vertex id length limit.")
    return [(*flat[nv * i:nv * (i + 1)], *k[nv:])
            for i, k in enumerate(keys)]


def _key_frame(space: GraphSpace, cols: list[str], keys, refs=(),
               piped: DataFrame | None = None,
               env: dict[str, DataFrame] | None = None,
               dml: bool = False) -> DataFrame:
    """A statement's keys as one frame over ``cols``: ``[VID]`` or
    ``[SRC, DST, RANK]``. ``keys`` is a list of literal key tuples in
    ``cols`` order, or a ``$-``/``$var`` name whose ``refs`` columns are
    read through ``_runtime_input``; a rank ref that is not given reads 0.
    With ``dml`` a ref column whose type is not the space's vid type
    refuses (DeleteEdge.feature:215 "Wrong srcId type `INT`";
    DeleteVertex.feature:205), and a literal vid too long for it refuses.
    Duplicate keys stay: each caller decides whether to drop them."""
    if not isinstance(keys, str):
        return local_frame(space.spark,
                           _literal_keys(space, keys, min(len(cols), 2), dml),
                           cols)
    sel = []
    for c, ref in zip(cols, refs):
        if ref is None and c == RANK:
            sel.append(F.lit(0).cast("long").alias(RANK))
            continue
        df, ref = _runtime_input(keys, piped, ref, env)
        if dml and c != RANK:
            got_int = dict(df.dtypes)[ref] in ("tinyint", "smallint", "int",
                                               "bigint")
            if got_int != _vid_contract(space)[0]:
                label = {VID: "vid", SRC: "srcId", DST: "dstId"}[c]
                raise ValueError(f"Wrong {label} type "
                                 f"`{'INT' if got_int else 'STRING'}`, value")
        sel.append((F.col(ref).cast("long") if c == RANK
                    else F.col(ref)).alias(c))
    return df.select(*sel)


def _vid_frame(space: GraphSpace, vids, piped: DataFrame | None,
               src_col: str | None,
               env: dict[str, DataFrame] | None = None) -> DataFrame:
    """The start vids of a read: a ``$-``/``$var`` ref reads each vid
    once, a literal list keeps its order and repeats."""
    if isinstance(vids, str):
        return _key_frame(space, [VID], vids, (src_col,), piped,
                          env).distinct()
    return _key_frame(space, [VID], [(v,) for v in vids])


def _edge_union(space: GraphSpace, names: list[str]) -> DataFrame:
    if not names:
        # a space with NO edge schema matches nothing, it doesn't crash
        # (match/Base.feature "Match a path in a space which doesn't
        # have edge schema")
        vt = "bigint" if _vid_contract(space)[0] else "string"
        return local_frame(space.spark,
            [], f"{SRC} {vt}, {DST} {vt}, {RANK} bigint, _etype string")
    dfs = []
    for n in names:
        e = space.edge(n)
        props = [c for c in e.columns if c not in (SRC, DST, RANK)]
        dfs.append(e.select(SRC, DST, RANK, F.lit(n).alias("_etype"), *props))
    out = dfs[0]
    for d in dfs[1:]:
        out = out.unionByName(d, allowMissingColumns=True)
    return out


def _exec_go(space: GraphSpace, st: A.GoStmt, piped: DataFrame | None,
             env: dict[str, DataFrame] | None = None) -> DataFrame:
    # Runtime-input starts ($-.col / $var.col) traverse per INPUT ROW:
    # duplicate piped vids keep their multiplicity (unlike literal FROM
    # lists, which dedup — GO.feature "duplicated vids" vs
    # GoYieldVertexEdge.feature "multi edges over all" pipe), and $-.*
    # joins back by ROW identity, not vid.
    runtime_input = isinstance(st.sources, str)
    if runtime_input:
        src_df, src_col = _runtime_input(st.sources, piped, st.src_col, env)
    else:
        start = _vid_frame(space, st.sources, piped, st.src_col, env)
    # OVER * (edges=None) expands to every edge type in the space, the
    # reference's AllEdges expansion (GoValidator over_clause)
    edges = _edge_union(space, st.edges or sorted(space.edges))
    input_refs: list = []
    for y in st.yields:
        _walk(y.expr, {"input_prop", "var_prop"}, input_refs)
    if st.where:
        _walk(st.where, {"input_prop", "var_prop"}, input_refs)
    # $var.prop in WHERE/YIELD is legal only for the FROM variable
    # (PipeAndVariable.feature "A variable must be referred in FROM
    # before used in WHERE or YIELD")
    for kind, *a in input_refs:
        if kind == "var_prop" and st.sources != f"${a[0]}":
            raise ValueError(
                "A variable must be referred in FROM before used in "
                "WHERE or YIELD")
    if runtime_input:
        keyed = src_df.withColumn("__row", F.monotonically_increasing_id())
        if input_refs:
            # the join-back below reads the row key a second time, so it
            # must read the same in both uses: the keyed frame is
            # checkpointed — the analog of the reference's materialized
            # interim DataSet between pipe stages. Without a join-back
            # the plan reads the key once and needs no stable value.
            keyed = keyed.localCheckpoint(eager=True)
        start = keyed.select("__row", F.col(src_col).alias(VID))
    hop = go(edges, start, st.min_steps, st.max_steps, st.direction,
             step_limits=st.limits, step_samples=st.sample,
             track_origin=runtime_input,
             origin_col="__row" if runtime_input else None)
    if runtime_input and input_refs:
        # one output row per (input row, traversal result), joined by the
        # ROW key. Piped columns colliding with hop internals (a user
        # column named `src`/`dst` vs the edge columns) are namespaced,
        # not dropped: $-.src must keep reading the PIPED value
        # (GoYieldVertexEdge.feature "reference pipe in yield and where")
        pipe = keyed.withColumnRenamed("__row", "__row_in")
        for c in pipe.columns:
            if c in hop.columns:
                pipe = pipe.withColumnRenamed(c, f"__pipe_{c}")
        hop = (hop.join(pipe, hop["_origin"] == pipe["__row_in"], "inner")
               .drop("__row_in"))
    if "_origin" in hop.columns:
        hop = hop.drop("_origin")

    # prop deduction: which $^ / $$ tags does the statement touch?
    refs: list = []
    for y in st.yields:
        _walk(y.expr, {"src_prop", "dst_prop"}, refs)
    if st.where:
        _walk(st.where, {"src_prop", "dst_prop"}, refs)
    # vertex-OBJECT forms — bare $^/$$ and properties($^|$$) — need every
    # tag of that side joined (the reference returns the full multi-tag
    # vertex, GoYieldVertexEdge.feature "one step"). id($^)/id($$) rides
    # along even though it only needs the id — object use and id use are
    # indistinguishable at this altitude and the join is per referenced
    # side only.
    vrefs: list = []
    for y in st.yields:
        _walk(y.expr, {"src_vert", "dst_vert"}, vrefs)
    if st.where:
        _walk(st.where, {"src_vert", "dst_vert"}, vrefs)
    if vrefs:
        sides = {("src_prop" if k == "src_vert" else "dst_prop")
                 for k, *_ in vrefs}
        refs.extend((sk, tg, None) for sk in sides
                    for tg in sorted(space.tags))
    for kind, tag, prop in refs:
        side = SRC if kind == "src_prop" else DST
        marker = f"__{side}_tag_{tag}__"
        t = space.tag(tag)
        if prop is not None and prop not in t.columns:
            # reference SemanticError (GoYieldVertexEdge.feature "no
            # exist prop")
            sigil = "$^" if kind == "src_prop" else "$$"
            raise ValueError(f"`{sigil}.{tag}.{prop}', not found the "
                             f"property `{prop}'.")
        if any(c.startswith(marker) for c in hop.columns):
            continue
        props = [c for c in t.columns if c != VID]
        # the marker _vid stays: it is the tag-membership witness for
        # tags($^)/tags($$) — namespaced so a user prop named `vid`
        # flattens to {marker}vid without colliding with the witness
        renamed = t.select(
            F.col(VID).alias(f"{marker}{VID}"),
            *[F.col(c).alias(f"{marker}{c}") for c in props])
        hop = hop.join(renamed, hop[side] == renamed[f"{marker}{VID}"],
                       "left")

    def _side_props(side: str, skip: tuple = ()) -> list[Column]:
        # every tag's props of that side in sorted-tag order, same-named
        # props coalesced across tags (the reference merges the per-tag
        # prop maps into one vertex value); `skip` lets the full-vertex
        # struct drop a user prop whose name would duplicate a field
        by_name: dict[str, list[str]] = {}
        for tg in sorted(space.tags):
            for p in space.tag(tg).columns:
                if p != VID and p not in skip:
                    by_name.setdefault(p, []).append(
                        f"__{side}_tag_{tg}__{p}")
        return [F.coalesce(*[F.col(c) for c in cols]).alias(p)
                if len(cols) > 1 else F.col(cols[0]).alias(p)
                for p, cols in by_name.items()]

    def _edge_props_struct() -> Column:
        # properties(edge) — single OVER type: the exact prop struct
        # (attribute access, fixed schema). Multiple types / OVER *: the
        # reference returns a per-row MAP of only the traversed edge's
        # own props (FunctionManager.cpp properties → Edge props map), so
        # emit F.when(_etype == t, map-of-t's-props) per type. Spark maps
        # need one value type: identical dtypes pass through, numeric
        # mixes widen (bigint < double), anything else stringifies —
        # documented coercion, the map KEYS are always exact.
        names = st.edges or sorted(space.edges)
        if len(names) == 1:
            e = space.edge(names[0])
            return F.struct(*[F.col(c) for c in e.columns
                              if c not in (SRC, DST, RANK)])
        per_type: dict[str, list[str]] = {
            n: [c for c in space.edge(n).columns
                if c not in (SRC, DST, RANK)] for n in names}
        dtypes: set[str] = set()
        for n in names:
            dt = dict(space.edge(n).dtypes)
            dtypes.update(dt[p] for p in per_type[n])
        _num = ("tinyint", "smallint", "int", "bigint", "float", "double")
        if len(dtypes) <= 1:
            cast = None
        elif dtypes <= set(_num):
            cast = "double" if {"float", "double"} & dtypes else "bigint"
        else:
            cast = "string"
        expr = None
        for n in names:
            kv = []
            for p in per_type[n]:
                kv.append(F.lit(p))
                kv.append(F.col(p).cast(cast) if cast else F.col(p))
            m = (F.create_map(*kv) if kv
                 else F.create_map().cast("map<string,string>"))
            expr = F.when(F.col("_etype") == n, m) if expr is None \
                else expr.when(F.col("_etype") == n, m)
        return expr

    def _vert_struct(side: str) -> Column:
        # the key field leads as `vid`; a USER prop named vid (legal
        # since r8) is skipped from the flat struct rather than emitting
        # a duplicate field — the reference's Vertex value nests props
        # per tag so this collision can't arise there
        return F.struct(F.col(side).alias("vid"),
                        *_side_props(side, skip=("vid",)))

    def resolve(kind, *args):
        if kind == "edge_prop":
            ename, prop = args
            if ename in space.edges and prop not in ("_src", "_dst",
                                                     "_rank", "_type") \
                    and prop not in space.edge(ename).columns:
                raise ValueError(f"`{ename}.{prop}', not found the "
                                 f"property `{prop}'.")
            if prop == "_type":
                # `e._type` is the NUMERIC type id (EdgeType in the
                # edge key; negative for a reversely-read entry —
                # GO.feature "edge type" pins /-?\d+/). Ids assign by
                # schema-name order: stable per space, exactly the kind
                # of small int the reference's meta service hands out.
                ids = {n: i + 1 for i, n in enumerate(sorted(space.edges))}
                tid = None
                for n, i in ids.items():
                    c = F.when(F.col("_etype") == n, F.lit(i))
                    tid = c if tid is None else tid.when(
                        F.col("_etype") == n, F.lit(i))
                tid = tid if tid is not None else F.lit(None)
                if "_dir" in hop.columns:
                    tid = F.when(F.col("_dir") < 0, -tid).otherwise(tid)
                col = tid.cast("long")
            else:
                col = F.col({"_dst": DST, "_src": SRC,
                             "_rank": RANK}.get(prop, prop))
            # per-edge-type scoping over a multi-edge union (OVER a,b /
            # OVER *): serve._dst is NULL on a like-edge row — matching
            # the reference's EMPTY cells (GO.feature "multi edges over
            # all") and disambiguating same-named props across types
            if ename in space.edges and "_etype" in hop.columns \
                    and len(st.edges or space.edges) > 1:
                return F.when(F.col("_etype") == ename, col)
            return col
        if kind == "src_prop":
            return F.col(f"__{SRC}_tag_{args[0]}__{args[1]}")
        if kind == "dst_prop":
            return F.col(f"__{DST}_tag_{args[0]}__{args[1]}")
        if kind == "src_vert":       # bare $^ — the full vertex value
            return _vert_struct(SRC)
        if kind == "dst_vert":       # bare $$ — the full vertex value
            return _vert_struct(DST)
        if kind == "graph_fn":
            fn, key = args
            if key == "edge":
                if fn == "type":
                    return F.col("_etype")
                if fn in ("properties", "props"):
                    return _edge_props_struct()
                if fn == "rank":
                    return F.col(RANK)
                if fn in ("src", "dst"):
                    # the edge VALUE keeps its STORED orientation: under
                    # REVERSELY src(edge) is the stored source, not the
                    # traversal origin (GoYieldVertexEdge.feature "edge
                    # type": Dejounte→Russell stays src=Dejounte)
                    return _edge_key()["s" if fn == "src" else "d"]
            if key in ("src_vert", "dst_vert"):
                side = SRC if key == "src_vert" else DST
                if fn == "id":
                    return F.col(side)
                if fn in ("properties", "props"):
                    return F.struct(*_side_props(side))
                if fn in ("tags", "labels"):
                    # membership witness = the kept per-tag marker vid
                    return F.filter(
                        F.array(*[
                            F.when(F.col(f"__{side}_tag_{tg}___vid")
                                   .isNotNull(), F.lit(tg))
                            for tg in sorted(space.tags)]),
                        lambda x: x.isNotNull())
            raise ValueError(f"unresolvable graph_fn {fn} {key}")
        if kind == "name":
            n = args[0]
            if n == "edge":          # bare edge — the edge value
                return _edge_key()
            if n not in hop.columns:
                # a bare label is never a column ref in GO YIELD
                # (LabelExpr.feature): the reference's SemanticError
                raise ValueError(f"Invalid label identifiers: {n}")
            return F.col(n)
        if kind == "input_prop":
            c = args[0]
            return F.col(f"__pipe_{c}") if f"__pipe_{c}" in hop.columns \
                else F.col(c)
        if kind == "var_prop":       # $var.prop — the joined FROM-var row
            c = args[1]
            return F.col(f"__pipe_{c}") if f"__pipe_{c}" in hop.columns \
                else F.col(c)
        raise ValueError(f"unresolvable {kind} {args}")

    ec = ExprCompiler(resolve, df=hop)
    if st.where is not None:
        # EMPTY comparison semantics over a multi-type OVER: a
        # type-qualified prop read on another type's row is EMPTY, and
        # Value.cpp equal() says EMPTY == x is false / EMPTY != x is
        # TRUE — not NULL, so `WHERE serve._dst != "abc"` KEEPS like-edge
        # rows (SimpleCase.feature "could not be optimied cases"). The
        # _etype mask is the empty-ness witness.
        multi = "_etype" in hop.columns and len(st.edges or space.edges) > 1

        def _empty_cmp(e):
            if not isinstance(e, tuple) or not e:
                return e
            if multi and e[0] in ("==", "!=") and len(e) == 3:
                for a, b in ((e[1], e[2]), (e[2], e[1])):
                    if isinstance(a, tuple) and a[0] == "edge_prop" \
                            and a[1] in space.edges:
                        cmp_col = ec.col((e[0], a, b))
                        return ("raw_agg", F.when(
                            F.col("_etype") != a[1],
                            F.lit(e[0] == "!=")).otherwise(cmp_col))
            return (e[0], *[_empty_cmp(x) for x in e[1:]])

        hop = hop.filter(ec.col(_empty_cmp(st.where)))
    if not st.yields:
        out = hop.select(F.col(DST).alias("dst"))
    else:
        for i, y in enumerate(st.yields):
            if _is_agg(y.expr):
                # GoValidator refuses aggregates in GO YIELD — aggregate
                # through a pipe instead (Agg.feature "Error Check")
                raise ValueError(
                    f"SemanticError: `{_yname(y, i)}', not support "
                    "aggregate function in go sentence.")
        cols = [ec.col(y.expr).alias(_yname(y, i))
                for i, y in enumerate(st.yields)]
        out = hop.select(*cols)
    return out.distinct() if st.distinct else out


def _exec_fetch_vertices(space: GraphSpace, st: A.FetchVerticesStmt,
                         piped: DataFrame | None,
                         env: dict[str, DataFrame] | None = None
                         ) -> DataFrame:
    """FETCH PROP ON tag[, tag…] | * <vids> (GetVerticesExecutor.cpp:1-72,
    GetPropProcessor.cpp): one left join per listed tag; a vid survives if
    at least one listed tag has it, other tags' props read NULL (EMPTY
    cells, FetchVertices.strVid.feature "multiple tags"); duplicate input
    vids keep their multiplicity (unlike GO's deduped FROM)."""
    tag_names = list(space.tags) if st.tags == ["*"] else st.tags
    for tg in tag_names:                 # FetchVertices "Typical errors"
        if tg not in space.tags:
            raise ValueError(f"TagNotFound: TagName `{tg}`")
    vids = _vid_frame(space, st.vids, piped, st.src_col, env)
    if not tag_names:
        # FETCH PROP ON * in a space with no tags (vertex-only storage,
        # insertVertexOnly.feature): nothing can match
        return vids.filter(F.lit(False)).select(
            F.struct(F.col(VID).alias("vid")).alias(
                st.yields[0].alias if st.yields else "vertices_")
            if st.yields else F.col(VID))
    out = vids
    tag_props: dict[str, list[str]] = {}
    for tg in tag_names:
        t = space.tag(tg)
        tag_props[tg] = [c for c in t.columns if c != VID]
        renamed = t.select(F.col(VID).alias(f"__fv_{tg}"),
                           *[F.col(p).alias(f"{tg}__{p}")
                             for p in tag_props[tg]])
        out = out.join(renamed, out[VID] == renamed[f"__fv_{tg}"], "left")
    pred = F.col(f"__fv_{tag_names[0]}").isNotNull()
    for tg in tag_names[1:]:
        pred = pred | F.col(f"__fv_{tg}").isNotNull()
    # a vid also survives (with EMPTY props) if the VERTEX exists via a
    # tag outside the listed set — storage's vid prefix scan sees every
    # tag row, so DELETE TAG player leaves FETCH PROP ON player returning
    # an EMPTY row while the bachelor tag keeps the vertex alive
    # (DeleteTag.feature "the output has one row because the vertex has
    # multiple tags")
    others = [t for t in space.tags if t not in tag_names]
    if others:
        ex = space.tag(others[0]).select(VID)
        for t in others[1:]:
            ex = ex.unionByName(space.tag(t).select(VID))
        ex = ex.select(F.col(VID).alias("__fv__other")).distinct()
        out = out.join(ex, out[VID] == ex["__fv__other"], "left")
        pred = pred | F.col("__fv__other").isNotNull()
    out = out.filter(pred)

    def vertex_col() -> Column:
        # single tag: same flat struct shape as MATCH's bound vertex;
        # multi tag: vid + one nullable struct per tag
        if len(tag_names) == 1:
            tg = tag_names[0]
            return F.struct(F.col(VID).alias("vid"),
                            *[F.col(f"{tg}__{p}").alias(p)
                              for p in tag_props[tg]])
        return F.struct(F.col(VID).alias("vid"), *[
            F.when(F.col(f"__fv_{tg}").isNotNull(),
                   F.struct(*[F.col(f"{tg}__{p}").alias(p)
                              for p in tag_props[tg]])).alias(tg)
            for tg in tag_names])

    def resolve(kind, *args):
        if kind == "edge_prop":      # parsed shape of tag.prop
            tg, prop = args
            if tg in tag_props:
                if prop not in tag_props[tg]:
                    raise ValueError(f"`{tg}.{prop}', not found the "
                                     f"property `{prop}'.")
                return F.col(f"{tg}__{prop}")
            if tg not in space.tags:
                raise ValueError(f"TagNotFound: TagName `{tg}`")
            return F.col(prop)
        if kind in ("src_prop", "dst_prop"):
            raise ValueError(
                "unsupported src/dst property expression in yield.")
        if kind in ("input_prop", "var_prop"):
            raise ValueError(
                "unsupported input/variable property expression in yield.")
        if kind == "graph_fn" and args[1] == "vertex":
            if args[0] == "id":
                return F.col(VID)
            if args[0] in ("tags", "labels"):
                # tags the vid actually carries among the listed ones
                return F.filter(F.array(*[
                    F.when(F.col(f"__fv_{tg}").isNotNull(), F.lit(tg))
                    for tg in sorted(tag_names)]), lambda x: x.isNotNull())
            if args[0] == "keys":
                # sorted distinct prop names over the vid's own tags
                per = [F.when(F.col(f"__fv_{tg}").isNotNull(),
                              F.array(*[F.lit(p) for p in tag_props[tg]]))
                       .otherwise(F.array().cast("array<string>"))
                       for tg in tag_names]
                return F.array_sort(
                    F.array_distinct(F.flatten(F.array(*per))))
            if args[0] in ("properties", "props"):
                # properties(Vertex) — the prop map without the vid
                # (PipeAndVariable.feature "FETCH PROP … YIELD
                # properties(Vertex)"); multi-tag: props of every listed
                # tag flattened in tag order
                return F.struct(*[
                    F.col(f"{tg}__{p}").alias(p)
                    for tg in tag_names for p in tag_props[tg]])
            raise ValueError(f"unresolvable {kind}")
        if kind == "name":
            if args[0] == "vertex":  # YIELD vertex [AS alias]
                return vertex_col()
            if args[0] == "edge":    # FetchVertices "Typical errors"
                raise ValueError("illegal yield clauses `EDGE'")
            # bare labels are not prop refs (LabelExpr.feature)
            raise ValueError(f"Invalid label identifiers: {args[0]}")
        raise ValueError(f"unresolvable {kind}")

    ec = ExprCompiler(resolve)
    if st.yields:
        for y in st.yields:
            # bare `YIELD vertex` (auto-alias == the keyword itself) —
            # the reference demands an explicit alias
            if y.expr == ("name", "vertex") and y.alias == "vertex":
                raise SyntaxError(
                    "please add alias when using `vertex'. near `vertex'")
        cols = [ec.col(y.expr).alias(_yname(y, i))
                for i, y in enumerate(st.yields)]
        out = out.select(*cols)
    else:
        out = out.drop(*[f"__fv_{tg}" for tg in tag_names], "__fv__other")
    return out.distinct() if st.distinct else out


def _exec_fetch_edges(space: GraphSpace, st: A.FetchEdgesStmt,
                      piped: DataFrame | None = None,
                      env: dict[str, DataFrame] | None = None) -> DataFrame:
    """FETCH PROP ON <edge> src[@rank]->dst, … (GetEdgesExecutor.cpp:1-112):
    inner join on the composite key (src, rank, dst); absent keys drop;
    duplicate keys keep their multiplicity. Keys may come from a pipe or
    query variable ($-.src->$-.dst) — rank defaults to 0 either way."""
    e = space.edge(st.edge)
    kdf = _key_frame(space, [SRC, DST, RANK],
                     st.var or [(s, d, r) for s, r, d in st.keys],
                     (st.key_src_col, st.key_dst_col, st.key_rank_col),
                     piped, env)
    out = kdf.join(e, [SRC, DST, RANK], "inner")
    eprops = [c for c in e.columns if c not in (SRC, DST, RANK)]

    def resolve(kind, *args):
        if kind == "edge_prop":
            if args[0] != st.edge:
                # qualifier must be the fetched edge (GetEdgesValidator;
                # FetchEdges.strVid "Fetch prop Error": `abc.start_year`)
                raise ValueError(
                    f"EdgeNotFound: EdgeName `{args[0]}`")
            return F.col({"_dst": DST, "_src": SRC,
                          "_rank": RANK}.get(args[1], args[1]))
        if kind == "graph_fn" and args[1] == "edge":
            m = {"src": SRC, "dst": DST, "rank": RANK}
            if args[0] in m:
                return F.col(m[args[0]])
            if args[0] == "type":
                return F.lit(st.edge)
            if args[0] in ("properties", "props"):
                return F.struct(*[F.col(p).alias(p) for p in eprops])
            raise ValueError(f"unresolvable {kind}")
        if kind == "name":
            if args[0] == "edge":    # YIELD edge [AS alias]
                return F.struct(F.col(SRC).alias("src"),
                                F.col(DST).alias("dst"),
                                F.col(RANK).alias(RANK),
                                *[F.col(p).alias(p) for p in eprops])
            # bare labels are not prop refs (LabelExpr.feature)
            raise ValueError(f"Invalid label identifiers: {args[0]}")
        raise ValueError(f"unresolvable {kind} {args}")

    ec = ExprCompiler(resolve)
    if st.yields:
        out = out.select(*[ec.col(y.expr).alias(_yname(y, i))
                           for i, y in enumerate(st.yields)])
    return out.distinct() if st.distinct else out


def _exec_lookup(space: GraphSpace, st: A.LookupStmt) -> DataFrame:
    is_tag = st.name in space.tags
    t = space.tag(st.name) if is_tag else space.edge(st.name)

    def resolve(kind, *args, in_where: bool = False):
        if kind == "edge_prop":
            # schema-qualified prop ref — the qualifier must be the
            # LOOKUP target and the column must exist
            # (LookupTag2.feature "Invalid column: col5"; base
            # LookUp.feature YieldClauseTest: YIELD/WHERE naming a
            # DIFFERENT schema is a SemanticError, never a silent
            # resolution against the target's columns)
            if args[0] != st.name:
                raise ValueError(f"SemanticError: Schema name error: "
                                 f"`{args[0]}'")
            if args[1] not in t.columns:
                raise ValueError(f"Invalid column: {args[1]}")
            return F.col(args[1])
        # LOOKUP's IndexScan evaluates against the index only — query
        # variables and piped columns are the reference's refusals
        # (LookUpLimit.feature:137-187), phrased per clause
        if kind in ("var_prop", "param_unres"):
            name = f"${args[0].lstrip('$')}"
            if in_where:
                raise ValueError(
                    f"Expression ({name}==…) not supported yet")
            raise SyntaxError(
                f"Direct output of variable is prohibited near `{name}'")
        if kind == "input_prop":
            if in_where:
                raise ValueError(
                    f"'$-.{args[0]}' is not an evaluable expression")
            raise ValueError("unsupported input/variable property "
                             "expression in yield")
        if kind == "graph_fn":
            # id(vertex) / src(edge) / dst(edge) / rank(edge) in LOOKUP
            # YIELD (WithYield.feature, LookupIn.feature);
            # properties(vertex|edge) is the prop struct (LookUpTopN)
            fn = {"id": VID, "src": SRC, "dst": DST, "rank": RANK}.get(
                args[0])
            if fn is not None:
                return F.col(fn)
            if args[0] in ("properties", "props"):
                skip = {VID} if is_tag else {SRC, DST, RANK}
                return F.struct(*[F.col(c).alias(c) for c in t.columns
                                  if c not in skip])
            raise ValueError(f"unresolvable {kind} {args}")
        if kind == "name":
            if args[0] == "vertex" and is_tag:
                return F.col(VID)
            if args[0] == "edge" and not is_tag:
                # YIELD edge AS e — the full edge value
                # (lookup/WithYield.feature "[2] edge with yield")
                props = [c for c in t.columns
                         if c not in (SRC, DST, RANK)]
                return F.struct(
                    F.col(SRC).alias("src"), F.col(DST).alias("dst"),
                    F.col(RANK).alias("_rank"),
                    F.lit(st.name).alias("_etype"),
                    *[F.col(c).alias(c) for c in props])
            if args[0] not in t.columns:
                # a bare label is not a prop ref (LookUpLimit.feature)
                if in_where:
                    raise ValueError(
                        f"'{args[0]}' is not an evaluable expression")
                raise ValueError(
                    f"Invalid label identifiers: {args[0]}")
            if in_where:
                # even a real prop must be schema-qualified in the
                # LOOKUP filter (LookupTag2.feature `WHERE col1 == 200`
                # → "Expression (col1==200) not supported yet")
                raise ValueError(
                    f"Expression ({args[0]}==…) not supported yet")
            return F.col(args[0])
        raise ValueError(f"unresolvable {kind}")

    def resolve_where(kind, *args):
        return resolve(kind, *args, in_where=True)

    def _fold_int(e):
        """Constant-fold integer arithmetic; the reference refuses an
        overflowing fold at validation (ByIndex.feature "Tag TODO":
        `player.age > 9223372036854775807+1`)."""
        if not isinstance(e, tuple):
            return None
        if e[0] == "lit" and isinstance(e[1], int) \
                and not isinstance(e[1], bool):
            return e[1]
        if e[0] in ("+", "-", "*") and len(e) == 3:
            a, b = _fold_int(e[1]), _fold_int(e[2])
            if a is None or b is None:
                return None
            v = a + b if e[0] == "+" else a - b if e[0] == "-" else a * b
            if not (-2**63 <= v <= 2**63 - 1):
                raise ValueError(
                    f"result of {_expr_text(e)} cannot be represented "
                    "as an integer")
            return v
        if e[0] == "neg":
            a = _fold_int(e[1])
            return None if a is None else -a
        for x in e[1:]:
            if isinstance(x, tuple):
                _fold_int(x)
        return None

    def _has_prop(e) -> bool:
        refs: list = []
        _walk(e, {"edge_prop", "alias_tag_prop"}, refs)
        return bool(refs)

    def _check_rel(e) -> None:
        """The reference's IndexScan accepts only <prop> <rel> <const>
        comparisons: a constant-only relational (`1 + 1 == 2`) and a
        prop-vs-prop comparison are both SemanticErrors (ByIndex.feature
        TODO scenarios). Piped/variable/bare-label operands skip this
        check — the resolver refuses those with the pinned per-clause
        phrasing (LookUpLimit.feature)."""
        if not isinstance(e, tuple):
            return
        if e[0] in ("==", "!=", "<", "<=", ">", ">=") and len(e) == 3:
            other: list = []
            _walk(e, {"var_prop", "input_prop", "param_unres", "name"},
                  other)
            if other:
                return
            lp, rp = _has_prop(e[1]), _has_prop(e[2])
            if lp and rp:
                raise ValueError(
                    f"Expression {_expr_text(e)} not supported yet")
            if not lp and not rp:
                raise ValueError(
                    f"Expression {_expr_text(e)} not supported yet")
            # LookupValidator checkTSExpr type check: a BOOL column
            # compared against a non-bool constant is "Column type
            # error" (LookUp.feature EdgeIndexHint:
            # `lookup_edge_2.col1 == 200` over col1 bool)
            prop_side, const_side = (e[1], e[2]) if lp else (e[2], e[1])
            if isinstance(prop_side, tuple) \
                    and prop_side[0] in ("edge_prop", "alias_tag_prop") \
                    and const_side[0] == "lit" \
                    and const_side[1] is not None:
                pcol = prop_side[-1]
                if dict(t.dtypes).get(pcol) == "boolean" \
                        and not isinstance(const_side[1], bool):
                    raise ValueError("SemanticError: Column type error")
            return
        if e[0] in ("and", "or", "xor", "not"):
            for x in e[1:]:
                _check_rel(x)

    def _check_scan_preds(e) -> None:
        """IndexScan predicate whitelist (TagIndexFullScan /
        EdgeIndexFullScan): CONTAINS / ENDS WITH (and their NOT forms,
        plus NOT STARTS WITH) can't ride an index → "use full-text
        index"; a prefix `NOT (<rel>)` is "not supported yet". Plain
        STARTS WITH stays — it is a prefix scan."""
        if not isinstance(e, tuple) or not e:
            return
        if e[0] == "not" and isinstance(e[1], tuple) and e[1] and \
                e[1][0] in ("starts_with", "ends_with", "contains_str"):
            raise ValueError(
                f"Expression {_expr_text(e) or '(…)'} is not supported, "
                "please use full-text index as an optimal solution")
        if e[0] in ("ends_with", "contains_str"):
            raise ValueError(
                f"Expression {_expr_text(e) or '(…)'} is not supported, "
                "please use full-text index as an optimal solution")
        if e[0] == "not":
            if isinstance(e[1], tuple) and e[1] and e[1][0] == "is_null":
                # IS NOT NULL parses to not(is_null) here but is the
                # reference's own kIsNotNull unary — the canonical
                # LOOKUP full-scan idiom (TagIndexFullScan.feature);
                # never refused
                return
            inner = _expr_text(e[1]) or "(…)"
            raise ValueError(f"Expression !({inner}) not supported yet")
        for x in e[1:]:
            _check_scan_preds(x)

    ec_where = ExprCompiler(resolve_where)
    ec = ExprCompiler(resolve)
    if st.where is not None:
        _fold_int(st.where)
        _check_rel(st.where)
        _check_scan_preds(st.where)
        rex: list = []
        _walk(st.where, {"=~"}, rex)
        if rex:
            # the reference's IndexScan cannot accelerate regex and
            # refuses it outright (TagIndexFullScan.feature) — kept for
            # parity even though a Spark scan filter could serve it
            e = rex[0]
            lhs = ".".join(e[1][1:]) if isinstance(e[1], tuple) \
                and e[1][0] in ("edge_prop", "alias_tag_prop") else "…"
            pat = e[2][1] if isinstance(e[2], tuple) \
                and e[2][0] == "lit" else "…"
            raise ValueError(
                f'Expression ({lhs}=~"{pat}") is not supported, please '
                "use full-text index as an optimal solution")
    out = t.filter(ec_where.col(st.where)) if st.where is not None else t
    if st.yields:
        out = out.select(*[ec.col(y.expr).alias(_yname(y, i))
                           for i, y in enumerate(st.yields)])
    return out.distinct() if st.distinct else out


def _find_path_where(space: GraphSpace, names: list[str],
                     where: tuple) -> Column:
    """Compile the FIND PATH WHERE clause into an edge filter.

    Reference ``FindPathValidator::validateWhere``: only edge props are
    legal — ``$-``/``$var``/``$^``/``$$`` raise a SemanticError; a label
    attribute ``like.likeness`` is rewritten to an edge prop
    (``rewriteLabelAttr2EdgeProp``). Over a multi-type OVER, a prop read
    through another type's label is EMPTY (→ NULL here, guarded by the
    ``_etype`` mask), which the TCK filters probe with ``is [not] EMPTY``
    (AllPath.IntVid.feature:228-247).
    """
    bad: list = []
    _walk(where, {"src_prop", "dst_prop", "var_prop", "input_prop"}, bad)
    if bad:
        raise ValueError("Not support `$' reference in where sentence.")

    def resolve(kind, *args):
        if kind == "edge_prop":
            et, prop = args
            if et not in space.edges:
                raise ValueError(f"{et} not found in space [{space.name}].")
            if prop not in space.edge(et).columns:
                raise ValueError(
                    f"`{et}.{prop}', not found the property `{prop}'.")
            if len(names) == 1:
                # single-OVER-type: unmasked column ref keeps the
                # predicate pushable into the parquet scan
                return F.col(prop)
            return F.when(F.col("_etype") == et, F.col(prop))
        if kind == "name":
            return F.col(args[0])
        raise ValueError(f"unresolvable {kind} in FIND PATH WHERE")

    return ExprCompiler(resolve).col(where)


def _path_edge_props(space: GraphSpace, p: DataFrame, names: list[str],
                     payload, fields: list[Column]
                     ) -> tuple[DataFrame, DataFrame]:
    """The explode → identity join → regroup that resolves path props at
    result-shaping time (SCALE.md: frontiers stay identity-only). Returns
    ``p`` with a row id ``_pid``, checkpointed so the id is materialized
    once, and ``(_pid, _path2)`` rows: ``p``'s ``path`` with ``fields``
    appended to each hop struct. ``fields`` read the ``payload(e)``
    columns of the row of edge table ``e`` (one per name in ``names``)
    that has the hop's identity (:func:`_edge_key`), NULL when none has;
    a path with no hop gets no row."""
    lut = reduce(
        lambda a, b: a.unionByName(b, allowMissingColumns=True),
        [e.select(F.col(SRC).alias("_ls"), F.col(DST).alias("_ld"),
                  F.col(RANK).alias("_lr"), F.lit(n).alias("_let"),
                  *payload(e))
         for n, e in ((n, space.edge(n)) for n in names)])
    p = (p.withColumn("_pid", F.monotonically_increasing_id())
         .localCheckpoint(eager=True))
    hop, key = F.col("_e"), _edge_key(F.col("_e"))
    on = reduce(Column.__and__,
                [key[f] == F.col(f"_l{f}") for f in ("s", "d", "r", "et")])
    je = (p.select("_pid", F.posexplode("path").alias("_pos", "_e"))
          .join(lut, on, "left")
          .select("_pid", F.struct(
              F.col("_pos").alias("i"),
              F.struct(*[hop[f].alias(f) for f in ("s", "d", "r", "t", "et")],
                       *fields).alias("e")).alias("_pe")))
    # array_sort needs an explicit index comparator: a hop struct may
    # carry a MAP (unorderable type)
    by_i = lambda l, r: (F.when(l["i"] < r["i"], -1)  # noqa: E731
                         .when(l["i"] > r["i"], 1).otherwise(0))
    return p, je.groupBy("_pid").agg(
        F.transform(F.array_sort(F.collect_list("_pe"), by_i),
                    lambda x: x["e"]).alias("_path2"))


def _path_value_frame(space: GraphSpace, p: DataFrame, names: list[str],
                      alias: str, with_prop: bool) -> DataFrame:
    """Shape ``(start_vid, end_vid, hops, path)`` rows into the
    single-column PATH value of ``FIND … PATH … YIELD path AS alias``:
    struct(start, path[, vprops]) rendered by
    :func:`~nebula_spark.functions.graphfns.format_path`.

    WITH PROP resolves prop maps LAZILY — the path's edge identities and
    node vids join back to the edge/tag tables at result-shaping time,
    never carried per-hop through the BFS frontier (the SCALE.md
    frontier-state rule; the reference carries Step props inline,
    ``src/common/datatypes/Path.h:15``, which at 100 TB would multiply
    every frontier row by the prop payload). Values are pre-rendered to
    the reference's textual forms (strings quoted, ints bare) so the
    renderer is a pure concat.
    """
    if not with_prop:
        return p.select(F.struct(F.col("start_vid").alias("start"),
                                 F.col("path").alias("path")).alias(alias))
    from pyspark.sql.types import StringType

    def _render(col: Column, dtype) -> Column:
        v = F.concat(F.lit('"'), col, F.lit('"')) \
            if isinstance(dtype, StringType) else col.cast("string")
        return F.coalesce(v, F.lit("NULL"))

    empty_map = F.map_from_arrays(F.array().cast("array<string>"),
                                  F.array().cast("array<string>"))

    def edge_map(e: DataFrame) -> list[Column]:
        pairs: list[Column] = []
        for c in sorted(c for c in e.columns if c not in (SRC, DST, RANK)):
            pairs += [F.lit(c), _render(F.col(c), e.schema[c].dataType)]
        return [(F.create_map(*pairs) if pairs else empty_map).alias("_lp")]

    # the frame is re-read by three branches (edge join, vertex join,
    # final join-back), so the helper materializes its row id once
    p, pe = _path_edge_props(
        space, p, names, edge_map,
        [F.coalesce(F.col("_lp"), empty_map).alias("props")])

    # vertex tag suffixes " :tag{k: v}" per vid, tags in sorted order
    vlut = None
    for tname in sorted(space.tags):
        t = space.tag(tname)
        tprops = sorted(c for c in t.columns if c != VID)
        inner: list[Column] = []
        for c in tprops:
            if inner:
                inner.append(F.lit(", "))
            inner += [F.lit(f"{c}: "),
                      _render(F.col(c), t.schema[c].dataType)]
        piece = F.concat(F.lit(f" :{tname}{{"), *inner, F.lit("}"))
        part = t.select(F.col(VID).alias("_v"), F.lit(tname).alias("_tn"),
                        piece.alias("_piece"))
        vlut = part if vlut is None else vlut.unionByName(part)
    vsfx = vlut.groupBy("_v").agg(
        F.array_join(F.transform(
            F.array_sort(F.collect_list(F.struct("_tn", "_piece"))),
            lambda x: x["_piece"]), "").alias("_vsfx"))

    nx = p.select("_pid", F.posexplode(F.concat(
        F.array("start_vid"), F.transform("path", lambda x: x["d"])))
        .alias("_pos", "_v"))
    pv = (nx.join(vsfx, "_v", "left")
          .select("_pid", F.struct(
              F.col("_pos").alias("i"),
              F.coalesce("_vsfx", F.lit("")).alias("v")).alias("_pv"))
          .groupBy("_pid")
          .agg(F.transform(F.array_sort(F.collect_list("_pv")),
                           lambda x: x["v"]).alias("_vprops")))

    out = p.join(pe, "_pid", "left").join(pv, "_pid", "left")
    return out.select(F.struct(
        F.col("start_vid").alias("start"), F.col("_path2").alias("path"),
        F.col("_vprops").alias("vprops")).alias(alias))


def _exec_find_path(space: GraphSpace, st: A.FindPathStmt,
                    piped: DataFrame | None = None,
                    env: dict[str, DataFrame] | None = None) -> DataFrame:
    """FIND [SINGLE] SHORTEST | ALL | NOLOOP PATH.

    Reference: parser.yy:2317-2345 (full production incl. WITH PROP /
    WHERE / YIELD path), FindPathValidator.cpp (yield & where rules),
    executors under src/graph/executor/algo/. With a YIELD clause the
    output is one row per path as a PATH value (struct start+path);
    without one, the legacy distance / typed-path_str tables remain for
    the pre-YIELD statement shape.
    """
    for n in (st.edges or []):
        if n not in space.edges:
            # reference SemanticError (ShortestPath.feature:61)
            raise ValueError(f"{n} not found in space [{space.name}].")
    names = st.edges or sorted(space.edges)
    edges = _edge_union(space, names)
    src = _vid_frame(space, st.sources, piped, st.src_col, env)
    dst = _vid_frame(space, st.targets, piped, st.dst_col, env)
    edge_filter = (_find_path_where(space, names, st.where)
                   if st.where is not None else None)
    mode = "single" if st.single else "all"
    if st.yield_alias is None:
        if st.kind == "shortest":
            # bidirectional meet-in-the-middle: FIND SHORTEST PATH always
            # has explicit FROM/TO sets, so both frontiers are seedable and
            # the search depth halves (MultiShortestPathExecutor.cpp shape)
            return (bidir_distances(edges, src, dst, st.max_steps,
                                    st.direction, edge_filter=edge_filter)
                    # public legacy distance shape keeps bare src/dst
                    # names (the physical keys are namespaced since r8)
                    .withColumnRenamed(SRC, "src")
                    .withColumnRenamed(DST, "dst"))
        p = all_paths(edges, src, dst, st.max_steps, st.direction,
                      noloop=st.kind == "noloop", edge_filter=edge_filter)
        # typed rendering — parallel edges of different types stay distinct
        return p.select(
            "start_vid", "end_vid", "hops",
            F.array_join(F.transform("path", lambda e: F.concat(
                e["s"].cast("string"), F.lit("-["), e["et"], F.lit("]->"),
                e["d"].cast("string"))), "|")
            .alias("path_str"))
    # PATH-value form (YIELD path AS alias)
    if st.max_steps <= 0:
        # UPTO 0 STEPS → no paths (ShortestPath.feature "zero step",
        # AllPath.feature "ALL Path zero step"); max_hops=0 short-circuits
        # to an empty frame with the right schema
        p = bidir_min_paths(edges, src, dst, 0, st.direction)
    elif st.kind == "shortest":
        p = bidir_min_paths(edges, src, dst, st.max_steps, st.direction,
                            mode=mode, edge_filter=edge_filter)
    else:
        p = all_paths(edges, src, dst, st.max_steps, st.direction,
                      noloop=st.kind == "noloop", edge_filter=edge_filter)
    return _path_value_frame(space, p, names, st.yield_alias, st.with_prop)


def _subgraph_where(space: GraphSpace, st: A.SubgraphStmt,
                    e_all: DataFrame) -> DataFrame:
    """Apply GET SUBGRAPH's WHERE to the oriented edge universe.

    Reference ``GetSubgraphValidator::validateWhere`` forbids aggregates,
    ``$^``/``$-``/``$var`` refs and logical OR; edge props named through a
    type not in the OVER list are a SemanticError. The executor applies
    the edge filter on step 1 and the full (edge + ``$$`` tag) filter on
    later steps (SubgraphExecutor.cpp:52-53 + filterEdges) — which nets
    out to: an edge survives iff its edge props pass AND its *traversal
    destination* passes the ``$$`` tag predicates (sources always expand,
    even when they fail the tag filter themselves — subgraphWithFilter
    .feature, 5-step Tony Parker scenario).

    Pre-filtering the universe once keeps the per-superstep hop a plain
    frontier equi-join — at 100 TB the tag join runs once against the
    pruned tag columns, not once per level.
    """
    bad: list = []
    _walk(st.where, {"src_prop", "var_prop", "input_prop", "or"}, bad)
    if bad:
        kindname = {"src_prop": "$^", "var_prop": "$var",
                    "input_prop": "$-", "or": "OR"}[bad[0][0]]
        raise ValueError(
            f"Not support `{kindname}' in where sentence.")
    if _is_agg(st.where):
        raise ValueError("Not support aggregate in where sentence.")
    eprops: list = []
    _walk(st.where, {"edge_prop"}, eprops)
    listed = (st.in_edges or []) + (st.out_edges or []) + \
        (st.both_edges or [])
    for _, et, prop in eprops:
        if et not in space.edges:
            raise ValueError(f"{et} not found in space [{space.name}].")
        if listed and et not in listed:
            raise ValueError(
                f'Edge type "{et}" in filter is not in the edge types '
                f"[{','.join(listed)}]")
    # single-type universes resolve edge props UNMASKED so the predicate
    # stays a plain column comparison Catalyst can push into the parquet
    # scan; the _etype mask is only needed to scope same-named props
    # across a multi-type union
    universe = listed or sorted(space.edges)
    # $$ tag props join against the traversal destination (the oriented
    # frame's DST — reversed rows already carry the neighbor there)
    dprops: list = []
    _walk(st.where, {"dst_prop"}, dprops)
    for tag in sorted({t for _, t, _ in dprops}):
        if tag not in space.tags:
            raise ValueError(f"`{tag}': Unknown tag")
        cols = {p for _, t, p in dprops if t == tag}
        for p in cols:
            if p not in space.tag(tag).columns:
                raise ValueError(
                    f"`{tag}.{p}', not found the property `{p}'.")
        side = space.tag(tag).select(
            F.col(VID).alias(DST),
            *[F.col(p).alias(f"__dst_{tag}__{p}") for p in sorted(cols)])
        e_all = e_all.join(side, DST, "left")

    def resolve(kind, *args):
        if kind == "edge_prop":
            if len(universe) == 1:
                return F.col(args[1])
            return F.when(F.col("_etype") == args[0], F.col(args[1]))
        if kind == "dst_prop":
            return F.col(f"__dst_{args[0]}__{args[1]}")
        if kind == "name":
            return F.col(args[0])
        raise ValueError(f"unresolvable {kind} in GET SUBGRAPH WHERE")

    keep = ExprCompiler(resolve).col(st.where)
    drop = [c for c in e_all.columns if c.startswith("__dst_")]
    return e_all.filter(keep).drop(*drop)


def _exec_subgraph(space: GraphSpace, st: A.SubgraphStmt,
                   piped: DataFrame | None = None,
                   env: dict[str, DataFrame] | None = None) -> DataFrame:
    parts = []
    if st.out_edges:
        parts.append(oriented(_edge_union(space, st.out_edges), "out"))
    if st.in_edges:
        parts.append(oriented(_edge_union(space, st.in_edges), "in"))
    if st.both_edges:
        parts.append(oriented(_edge_union(space, st.both_edges), "both"))
    if not parts and not space.edges:
        # a space with NO edge schema: the subgraph is the seed vertices
        # alone (subgraph.feature "Get subgraph in a space which doesn't
        # have edge schema")
        seeds = _vid_frame(space, st.sources, piped, st.src_col, env)
        out = seeds.select(
            F.array(F.struct(F.col(VID).alias("vid"))).alias("nodes"),
            F.array().cast("array<string>").alias("relationships"))
        if st.yields:
            cols = []
            for y in st.yields:
                src_col = ("nodes" if y.expr[1] == "vertices"
                           else "relationships")
                cols.append(F.col(src_col).alias(y.alias or y.expr[1]))
            return out.select(*cols)
        return out
    if not parts:
        parts = [oriented(_edge_union(space, list(space.edges)), "both")]
    edges = parts[0]
    for p in parts[1:]:
        edges = edges.unionByName(p, allowMissingColumns=True)
    if st.where is not None:
        edges = _subgraph_where(space, st, edges)
    seeds = _vid_frame(space, st.sources, piped, st.src_col, env)
    # runtime-input vids must match the space's vid type
    # (GetSubgraphValidator — subgraph.feature "invalid input":
    # `GET SUBGRAPH FROM $-.id` where id is an INT prop refuses)
    from pyspark.sql.types import NumericType
    if not _vid_contract(space)[0] and st.src_col is not None \
            and isinstance(seeds.schema[0].dataType, NumericType):
        ref = (f"{st.sources}.{st.src_col}" if isinstance(st.sources, str)
               else st.src_col)
        raise ValueError(
            f"SemanticError: `{ref}', the srcs should be type of "
            "FIXED_STRING, but was`INT'")
    # edges already oriented (carry _dir) — k_hop_subgraph detects the _dir
    # column and skips re-orienting, so IN/OUT identity survives dedup
    verts, collected = k_hop_subgraph(edges, seeds, st.steps)
    if not st.yields:
        # legacy edge-row shape — public bare src/dst names (physical
        # keys namespaced since r8); a user prop named src/dst keeps its
        # column, in which case the keys stay namespaced to avoid a clash
        ren = collected
        for k, pub in ((SRC, "src"), (DST, "dst")):
            if pub not in ren.columns:
                ren = ren.withColumnRenamed(k, pub)
        return ren
    # YIELD vertices/edges: the reference's per-level rows
    # (SubgraphExecutor DataCollect kSubgraph) — row k carries the
    # vertices first reached at depth k and the edges collected by round
    # k+1 (the closing round's edges land on the last row). An edge's
    # stored identity appears exactly once, at its earliest round — the
    # BOTH orientation sweep would otherwise re-collect the reversed copy
    # a round later.
    from pyspark.sql.window import Window
    e2 = collected.select(_edge_key().alias("_ck"), F.col("step"))
    w = Window.partitionBy("_ck").orderBy("step")
    e2 = (e2.withColumn("_rn", F.row_number().over(w))
          .filter(F.col("_rn") == 1)
          .withColumn("_lvl", F.col("step") - 1))
    erows = e2.groupBy("_lvl").agg(
        F.sort_array(F.collect_list("_ck")).alias("_edges"))
    vrows = verts.groupBy(F.col("step").alias("_lvl")).agg(
        F.sort_array(F.collect_list(VID)).alias("_nodes"))
    out = vrows.join(erows, "_lvl", "left")
    earr_t = erows.schema["_edges"].dataType
    out = out.withColumn(
        "_edges", F.coalesce(F.col("_edges"), F.array().cast(earr_t)))
    cols = [F.col("_nodes" if it.expr[1].lower() == "vertices"
                  else "_edges").alias(it.alias)
            for it in st.yields]
    return out.orderBy("_lvl").select(*cols)


def _exec_yield_join(st: A.YieldStmt, spark,
                     env: dict[str, DataFrame] | None) -> DataFrame:
    """``YIELD … FROM $a INNER JOIN $b ON $a.x == $b.y``
    (YieldValidator::validateJoin, YieldValidator.cpp:179-255;
    yield/join.feature). Validation order mirrors the reference: mode →
    self-join → ON-side consistency → variable existence → duplicate
    column names (join-condition columns exempt) → condition prop
    existence. Execution is a plain equi-key inner join — Spark plans it
    as a broadcast/shuffled HashInnerJoin, the same physical shape as the
    reference's HashInnerJoinExecutor, with both sides' columns
    namespaced ``_v_<var>__<col>`` so the shared var_prop resolver
    applies unchanged."""
    mode, lv, rv, lc, rc = st.join
    if mode != "inner":
        raise ValueError("only support inner join.")
    if lv == rv:
        raise ValueError("do not support self-join.")
    if lc[1] != lv:
        raise ValueError(f"`{lv}' should be consistent with join "
                         f"condition variable `${lc[1]}.{lc[2]}'.")
    if rc[1] != rv:
        raise ValueError(f"`{rv}' should be consistent with join "
                         f"condition variable `${rc[1]}.{rc[2]}'.")
    env = {k.lstrip("$"): v for k, v in (env or {}).items()}
    for v in (lv, rv):
        if v not in env:
            raise ValueError(f"variable: `{v}' not exist")
    lf, rf = env[lv], env[rv]
    for c in lf.columns:
        if c != lc[2] and c != rc[2] and c in rf.columns:
            raise ValueError(
                f"column name `{c}' of ${lv} and column name `{c}' of "
                f"${rv} are the same, please rename it to a "
                "non-duplicate column name.")
    for vf, cond in ((lf, lc), (rf, rc)):
        if cond[2] not in vf.columns:
            raise ValueError(f"`${cond[1]}.{cond[2]}', not exist prop "
                             f"`{cond[2]}'")
    a = lf.select(*[F.col(c).alias(f"_v_{lv}__{c}") for c in lf.columns])
    b = rf.select(*[F.col(c).alias(f"_v_{rv}__{c}") for c in rf.columns])
    base = a.join(b, F.col(f"_v_{lv}__{lc[2]}")
                  == F.col(f"_v_{rv}__{rc[2]}"), "inner")

    def resolve(kind, *args):
        if kind == "var_prop" and args[0] in (lv, rv):
            return F.col(f"_v_{args[0]}__{args[1]}")
        raise ValueError(f"unresolvable {kind}")

    ec = ExprCompiler(resolve, df=base)
    out = base.select(*[ec.col(y.expr).alias(_yname(y, i))
                        for i, y in enumerate(st.yields)])
    return out.distinct() if st.distinct else out


def _exec_yield(st: A.YieldStmt, piped: DataFrame | None,
                spark, env: dict[str, DataFrame] | None = None,
                space: GraphSpace | None = None) -> DataFrame:
    if getattr(st, "join", None) is not None:
        return _exec_yield_join(st, spark, env)
    # $var.prop refs (VariablePropertyExpression): the statement iterates
    # the named result table(s) — each var's frame joins the input
    # row-source, columns namespaced var__prop
    used: list = []
    for y in st.yields:
        _walk(y.expr, {"var_prop", "var_star"}, used)
    if st.where is not None:
        _walk(st.where, {"var_prop"}, used)
    var_names = sorted({r[1] for r in used})
    if var_names and not env:
        raise ValueError(f"unresolvable var_prop: ${var_names[0]}")
    if var_names:
        irefs: list = []
        for y in st.yields:
            _walk(y.expr, {"input_prop"}, irefs)
        if st.where is not None:
            _walk(st.where, {"input_prop"}, irefs)
        if irefs:
            # YieldValidator: one row source only — `$var.x` with `$-.y`
            # in the same sentence refuses (Agg.feature "Error Check")
            raise ValueError("Not support both input and variable.")
        if len(var_names) > 1:
            raise ValueError("Only one variable allowed to use.")
    env = {k.lstrip("$"): v for k, v in env.items()} if env else env

    def resolve(kind, *args):
        if kind == "input_prop":
            if args[0] not in base.columns:
                # `$-.x' with no such piped column
                # (yield/NoSpaceChosen.feature "tagProp" $-.dummyTag.p)
                raise ValueError(
                    f"`$-.{args[0]}', not exist prop `{args[0]}'")
            return F.col(args[0])
        if kind == "name":
            if args[0] not in base.columns:
                # a bare label that names no bound column is the
                # reference's SemanticError (LabelExpr.feature
                # `YIELD name`)
                raise ValueError(f"Invalid label identifiers: {args[0]}")
            return F.col(args[0])
        if kind == "edge_prop":
            return F.col(args[1])
        if kind == "var_prop" and env is not None and args[0] in env:
            return F.col(f"_v_{args[0]}__{args[1]}")
        if kind in ("src_prop", "dst_prop") and space is not None \
                and args[0] not in space.tags:
            # standalone YIELD $$.t.p / $^.t.p checks the tag name first
            # (yield/NoSpaceChosen.feature "tagProp")
            raise ValueError(f"TagNotFound: TagName `{args[0]}`")
        raise ValueError(f"unresolvable {kind}")

    base = piped if piped is not None else spark.range(1)
    for v in var_names:
        if v not in env:
            raise ValueError(f"undefined variable ${v}")
        vf = env[v].select(
            *[F.col("`" + c.replace("`", "``") + "`")
              .alias(f"_v_{v}__{c}") for c in env[v].columns])
        base = base.crossJoin(vf) if base is not None else vf
    if var_names and piped is None:
        # the var table is the row source — drop the synthetic range(1) row
        base = base.drop("id")
    # frame attached → schema-directed dispatch (PATH-struct fns, list +)
    ec = ExprCompiler(resolve, df=base)
    if st.where is not None:
        base = base.filter(ec.col(st.where))
    aggish = any(_is_agg(y.expr) for y in st.yields)
    cols = []                 # (is_agg, name, Column) in written order
    for i, y in enumerate(st.yields):
        if isinstance(y.expr, tuple) and y.expr[0] == "input_star":
            if piped is None:
                raise ValueError("`$-.*', not exist prop `*'")
            cols.extend(
                (False, f"$-.{c}",
                 F.col("`" + c.replace("`", "``") + "`").alias(f"$-.{c}"))
                for c in piped.columns)
            continue
        if isinstance(y.expr, tuple) and y.expr[0] == "var_star":
            # `$var.*` — one output column per var-table column, headers
            # `$var.<col>` (YieldValidator::makeOutputColumn star form)
            v = y.expr[1]
            pref = f"_v_{v}__"
            cols.extend(
                (False, f"${v}.{c[len(pref):]}",
                 F.col("`" + c.replace("`", "``") + "`")
                 .alias(f"${v}.{c[len(pref):]}"))
                for c in base.columns if c.startswith(pref))
            continue
        cols.append((_is_agg(y.expr), _yname(y, i),
                     ec.col(y.expr).alias(_yname(y, i))))
    if aggish:
        # mixed agg + plain items: IMPLICIT grouping on the non-agg
        # items (aggregate/Agg.feature "Implicit GroupBy" — the
        # reference's YieldValidator folds this into an Aggregate)
        keys = [c for a, _n, c in cols if not a]
        aggs = [c for a, _n, c in cols if a]
        out = base.groupBy(*keys).agg(*aggs) if keys else base.agg(*aggs)
        names = [n for _a, n, _c in cols]
        if keys and (len(set(names)) == len(names)
                     and set(names) == set(out.columns)
                     and names != out.columns):
            out = out.select(*[F.col("`" + n.replace("`", "``") + "`")
                               for n in names])
    else:
        out = base.select(*[c for _a, _n, c in cols])
    return out.distinct() if st.distinct else out


def _exec_group_by(st: A.GroupByStmt, piped: DataFrame,
                   env: dict[str, DataFrame] | None = None) -> DataFrame:
    # standalone `GROUP BY $var.x YIELD $var.y …` reads the named result
    # table as its row source (GroupByValidator var form —
    # aggregate/Agg.feature "GroupBy user defined var")
    if piped is None and env:
        vrefs: list = []
        for y in st.yields:
            _walk(y.expr, {"var_prop"}, vrefs)
        for k in st.keys:
            _walk(k, {"var_prop"}, vrefs)
        envn = {k.lstrip("$"): v for k, v in env.items()}
        vs = sorted({r[1] for r in vrefs})
        if vs and all(v in envn for v in vs):
            if len(vs) > 1:
                raise ValueError("Only one variable allowed to use.")
            piped = envn[vs[0]]
    if piped is None:
        # standalone GROUP BY — the reference's input-prop refusal
        # (GroupByValidator: $-.x with no input; found by fuzzing)
        ref = st.keys[0] if st.keys else None
        name = ref[1] if isinstance(ref, tuple) and len(ref) > 1 else "?"
        raise ValueError(f"`$-.{name}', not exist prop `{name}'")

    def resolve(kind, *args):
        if kind in ("input_prop", "name"):
            return F.col(args[0])
        if kind == "var_prop":
            return F.col("`" + args[1].replace("`", "``") + "`")
        if kind == "edge_prop":
            return F.col(args[1])
        raise ValueError(f"unresolvable {kind}")

    for k in st.keys:
        krefs: list = []
        _walk(k, {"input_prop", "var_prop"}, krefs)
        if not krefs:
            # a group key that reads NO input column is refused
            # (GroupByValidator — go/GroupbyLimit.feature "Syntax test2":
            # `GROUP BY 1+1`)
            raise ValueError(
                f"SemanticError: Group `{_expr_text(k) or '?'}' invalid")
    ec = ExprCompiler(resolve, df=piped)
    keys = [ec.col(k).alias(f"_gk{j}") for j, k in enumerate(st.keys)]
    aggs = [ec.col(y.expr).alias(_yname(y, i))
            for i, y in enumerate(st.yields) if _is_agg(y.expr)]
    grouped = piped.groupBy(*keys).agg(*aggs) if aggs else \
        piped.select(*keys).distinct()

    # non-agg YIELD items must be functionally dependent on the group
    # keys — the reference matches by EXPRESSION equality (GroupBy
    # sentence: `GROUP BY $-.age+1 YIELD (INT)($-.age+1)` reuses the
    # key; a bare label is "Not supported … for props deduction" —
    # Agg.feature "Error Check"). Substitute key-equal subtrees with the
    # key's grouped column, then compile what remains.
    def subst(e):
        if not isinstance(e, tuple):
            return e
        for j, k in enumerate(st.keys):
            if e == k:
                return ("raw_agg", F.col(f"_gk{j}"))
        return tuple(subst(x) for x in e)

    def resolve_final(kind, *args):
        if kind == "name":
            raise ValueError(
                f"Not supported expression `{args[0]}' for props "
                "deduction.")
        if kind in ("input_prop", "var_prop"):
            # survived key substitution → not a group key
            # (GroupByValidator functional-dependence refusal)
            ref = f"$-.{args[0]}" if kind == "input_prop" \
                else f"${args[0]}.{args[1]}"
            raise ValueError(
                f"Yield non-agg expression `{ref}' must be functionally "
                "dependent on items in GROUP BY clause")
        return resolve(kind, *args)

    ec_final = ExprCompiler(resolve_final)
    # agg items are picked up by alias — backtick-quoted, since
    # expression-text names carry dots/parens (`MAX($-.start_year)`,
    # Agg.feature — r9 sweep find: bare F.col read the dots as a
    # nested-field path)
    final = [F.col("`" + _yname(y, i).replace("`", "``") + "`")
             if _is_agg(y.expr)
             else ec_final.col(subst(y.expr)).alias(_yname(y, i))
             for i, y in enumerate(st.yields)]
    return grouped.select(*final)


def _bind_tag(space: GraphSpace, alias: str, tag: str | None) -> DataFrame:
    """Tag table with alias-prefixed columns ({alias}___vid key, {alias}__prop).

    ``{alias}___labels`` (triple underscore = internal marker) seeds the
    pattern's declared tag for labels()/tags(); when an expression
    actually calls labels()/tags() on the alias, ``_ensure_tag_props``
    lazily upgrades the column to the vertex's FULL tag list
    (Vertex.h:62-70), so the cheap declared-tag seed never leaks out.

    A tagless node (``MATCH (n)`` — ScanVertices, MatchById seeks) binds
    the union of every tag's vid with the full label list; props resolve
    lazily via ``_ensure_tag_props``. The union+agg is one shuffle over
    vertex ids; WHERE id(n) filters push into each branch's scan."""
    if tag is None:
        return _vertex_labels(space, f"{alias}___vid", f"{alias}___labels")
    t = space.tag(tag)
    return t.select(F.col(VID).alias(f"{alias}___vid"),
                    F.array(F.lit(tag)).alias(f"{alias}___labels"),
                    *[F.col(c).alias(f"{alias}__{c}")
                      for c in t.columns if c != VID])


_NUM_DTYPES = ("tinyint", "smallint", "int", "bigint",
               "float", "double", "decimal")


def _pattern_props(df: DataFrame, props: dict, prefix: str = ""
                   ) -> DataFrame:
    """``df`` narrowed by a pattern's ``{prop: value}`` map over its
    ``{prefix}{prop}`` columns. Type-strict: the reference's Value::equal
    never coerces across kinds, so `{likeness: "99"}` on an INT prop
    matches NOTHING (match/Base.feature "filter evaluable" line 803)
    where Spark's implicit cast would match 99; numeric kinds stay one
    family (42 == 42.0). A prop with no column matches nothing either
    (the reference's UNKNOWN_PROP, MatchCrash.feature); on a multi-type
    edge union the types without it read NULL, which the equality drops
    (RewriteEdgeFilter.feature)."""
    dtypes = dict(df.dtypes) if props else {}
    for k, v in props.items():
        dt = dtypes.get(prefix + k)
        if dt is None:
            ok = False
        elif isinstance(v, bool):
            ok = dt == "boolean"
        elif isinstance(v, (int, float)):
            ok = dt.startswith(_NUM_DTYPES)
        elif isinstance(v, str):
            ok = dt == "string"
        else:
            ok = True
        df = df.filter(F.col(prefix + k) == F.lit(v) if ok else F.lit(False))
    return df


def _vertex_labels(space: GraphSpace, vid: str, labels: str) -> DataFrame:
    """``(vid, labels)`` rows: every vertex of the space with the sorted
    names of ALL its tags (Vertex.h:62-70), one union and one aggregate
    over vertex ids."""
    parts = [space.tag(t).select(F.col(VID).alias(vid), F.lit(t).alias("_t"))
             for t in space.tags]
    if not parts:
        raise ValueError("space has no tags")
    return (reduce(DataFrame.unionByName, parts).groupBy(vid)
            .agg(F.array_sort(F.collect_set("_t")).alias(labels)))


def _ensure_tag_props(space: GraphSpace, cur: DataFrame, exprs: list,
                      tagmap: dict[str, str | None]) -> DataFrame:
    """Lazy AppendVertices: for every ``alias.tag.prop`` in *exprs* whose
    alias is bound to a different (or no) tag, left-join that tag's table
    once, adding ``{alias}___t_{tag}__{prop}`` columns — NULL where the
    vertex lacks the tag (the reference's UNKNOWN_PROP→NULL behavior).
    One broadcast-friendly left join per (alias, tag) pair, not per prop."""
    refs: list = []
    for e in exprs:
        if e is not None:
            _walk(e, {"alias_tag_prop"}, refs)
    # 2-part `v.tag` TAG-MAP access on a node binding (match/Base.feature
    # "Get property or tag from a vertex": `v.player` → the prop map,
    # `v.name` → NULL) joins the named tag the same lazy way
    trefs: list = []
    for e in exprs:
        if e is not None:
            _walk(e, {"edge_prop"}, trefs)
    refs += [("_", r[1], r[2]) for r in trefs
             if r[1] in tagmap and r[2] in space.tags]

    def join_tag(cur: DataFrame, a: str, t: str, key: str) -> DataFrame:
        td = space.tag(t)
        sel = td.select(*[F.col(c).alias(f"{a}___t_{t}__{c}")
                          for c in td.columns])
        return cur.join(sel, cur[key] == sel[f"{a}___t_{t}___vid"], "left")
    dtypes = None
    for a, t in sorted({(r[1], r[2]) for r in refs}):
        if t not in space.tags or f"{a}___t_{t}___vid" in cur.columns:
            continue
        if a in tagmap and tagmap.get(a) != t and f"{a}___vid" in cur.columns:
            key = f"{a}___vid"
        elif a not in tagmap and a in cur.columns:
            # a plain vid-valued column — `UNWIND nodes(p) AS ua0` then
            # `ua0.tag.prop` (Attribute1.feature over ngdata): nodes()
            # yields vids, so attribute access joins the tag back on.
            # Struct/map/array columns keep the field-chain path in the
            # resolver (x.b.d on a WITH-bound map)
            if dtypes is None:
                dtypes = dict(cur.dtypes)
            if dtypes[a].startswith(("struct", "map", "array")):
                continue
            key = a
        else:
            continue
        cur = join_tag(cur, a, t, key)
    # labels()/tags() must report EVERY tag on the vertex (Vertex.h:62-70;
    # MatchNodeLabelFilter.feature: a :bachelor-bound Tim Duncan is
    # ["bachelor","player"]). Tag binding stores only the declared tag;
    # upgrade lazily — one membership union + left join per alias, and
    # only when an expression actually calls labels()/tags() on it.
    lrefs: list = []
    for e in exprs:
        if e is not None:
            _walk(e, {"call", "call_distinct"}, lrefs)
    lbl_aliases = {r[2][1] for r in lrefs
                   if len(r) >= 3 and r[1] in ("labels", "tags")
                   and isinstance(r[2], tuple) and r[2][0] == "name"}
    # properties(v) on a node alias joins every OTHER tag lazily — the
    # reference returns the vertex's full prop map across all its tags,
    # for tagless binds AND tagged ones (a :player-bound Tim Duncan
    # includes bachelor's speciality — PrunePropertiesRule.feature
    # "test properties" / "Project on not exist tag"; r8/r9 sweep finds)
    prop_aliases = {r[2][1] for r in lrefs
                    if len(r) >= 3 and r[1] in ("properties", "props")
                    and isinstance(r[2], tuple) and r[2][0] == "name"}
    for a in sorted(prop_aliases):
        if f"{a}___vid" not in cur.columns:
            continue
        for t in sorted(space.tags):
            if t == tagmap.get(a) or f"{a}___t_{t}___vid" in cur.columns:
                continue
            cur = join_tag(cur, a, t, f"{a}___vid")
    for a in sorted(lbl_aliases):
        col = f"{a}___labels"
        if f"{a}___vid" not in cur.columns:
            continue
        if tagmap.get(a) is None and col in cur.columns:
            continue                    # tagless bind already carries all
        if tagmap.get(a) is not None and col not in cur.columns:
            continue                    # not a node bind (edge alias etc.)
        full = _vertex_labels(space, f"{a}___lv", f"{a}___flbl")
        cur = (cur.drop(col)
               .join(full, cur[f"{a}___vid"] == full[f"{a}___lv"], "left")
               .withColumnRenamed(f"{a}___flbl", col)
               .drop(f"{a}___lv"))
    return cur


def _enrich_min_paths_props(space: GraphSpace, tr: DataFrame,
                            enames: list[str],
                            prop_names: list[str]) -> DataFrame:
    """Typed edge props joined back onto identity-only minimal-path
    structs AT RESULT-SHAPING TIME — the lazy half of the path-prop
    design (SCALE.md): BFS frontiers never widen; only the minimal
    result paths (already per-pair-pruned, orders of magnitude smaller
    than any intermediate frontier) pay the explode → identity join →
    regroup (:func:`_path_edge_props`). ``tr``: (start_vid, end_vid,
    hops, path ≥1 edge)."""
    tr, pe = _path_edge_props(
        space, tr, enames,
        lambda e: [F.col(c) for c in e.columns
                   if c not in (SRC, DST, RANK) and c in prop_names],
        [F.col(c) for c in prop_names])
    return (tr.join(pe, "_pid", "inner")   # min_hops >= 1 ⇒ path non-empty
            .select("start_vid", "end_vid", "hops",
                    F.col("_path2").alias("path")))


def _build_pattern(space: GraphSpace, path: A.MatchPath, counter: list[int],
                   seed: DataFrame | None = None,
                   lazy_path_props: bool = False,
                   path_struct_unused: bool = False
                   ) -> tuple[DataFrame, set[str], set[str], set[str],
                              dict[str, str | None]]:
    """One pattern chain → DataFrame with alias-prefixed columns, plus the
    node, edge and path aliases it binds and each node alias's tag (the
    Traverse/AppendVertices emission, TraverseExecutor.cpp:25-676 /
    AppendVerticesExecutor.cpp:18-317).

    ``lazy_path_props``: the statement reads prop fields off path
    relationships, so BFS-routed shortest segments — whose frontiers stay
    identity-only by design — get their props joined back from the edge
    tables onto the (small, minimal) result paths at shaping time."""
    def fresh(prefix: str) -> str:
        counter[0] += 1
        return f"_{prefix}{counter[0]}"

    if path.shortest is not None:
        # reference MatchValidator::validateShortestPath (pinned by
        # AllShortestPaths.feature / SingleShorestPath.feature "shortest
        # path invalid step" + "same start and end node"): exactly one
        # var-len segment, lower bound 0/1, distinct endpoint aliases
        if len(path.edges) != 1:
            raise ValueError("`shortestPath(...)' only support pattern "
                             "like (start)-[edge*..hop]-(end)")
        if path.edges[0].min_hops > 1:
            raise ValueError("The minimal number of steps for "
                             "shortestPath() must be either 0 or 1")
        if (path.nodes[0].alias is not None
                and path.nodes[0].alias == path.nodes[1].alias):
            raise ValueError("The shortest path algorithm does not work "
                             "when the start and end nodes are the same")
    aliases: set[str] = set()
    edge_aliases: set[str] = set()
    tags: dict[str, str | None] = {}

    def tag_semi(cur: DataFrame, tag: str, props: dict, key: str
                 ) -> DataFrame:
        tt = _pattern_props(space.tag(tag), props)
        tt = tt.select(F.col(VID).alias("_mt_vid"))
        return cur.join(tt, cur[key] == tt["_mt_vid"], "left_semi")

    def bind_node(cur: DataFrame | None, node, alias: str,
                  end: str | None) -> DataFrame:
        """``cur`` with the pattern node ``node`` bound as ``alias``: the
        start node (``end`` is None) binds its tag's table, or the outer
        frame's ``seed`` vids when untagged; a later node binds the hop's
        ``end`` column, and a re-used alias is a same-vertex constraint on
        its binding (RedefinedNode.feature; openCypher node identity),
        narrowed by its tag. Then its ``{prop: value}`` map, and each
        additional ``:tag{props}`` item of a multi-tag node (Scan.feature
        ``(v:person{name:"Mary"}:teacher)``); tags narrow by broadcast-able
        vid semi-joins, with no column bloat on the pattern frame."""
        key = f"{alias}___vid"
        if end is None and node.tag is None and seed is not None:
            cur = seed                  # pre-bound vids from the outer frame
        elif end is None:
            cur = _bind_tag(space, alias, node.tag)
        elif alias in aliases:
            cur = cur.filter(F.col(end) == F.col(key))
            if node.tag:
                cur = tag_semi(cur, node.tag, {}, key)
        elif node.tag:
            tt = _bind_tag(space, alias, node.tag)
            cur = cur.join(tt, cur[end] == tt[key], "inner")
        else:
            cur = cur.withColumn(key, F.col(end))
        if alias not in aliases:
            aliases.add(alias)
            tags[alias] = node.tag
        cur = _pattern_props(cur, node.props, f"{alias}__")
        for tg, pm in getattr(node, "extra", ()) or ():
            cur = tag_semi(cur, tg, pm, key)
        return cur

    a0 = path.nodes[0].alias or fresh("n")
    cur = bind_node(None, path.nodes[0], a0, None)

    # per-hop path fragments for `p = (…)` bindings: each entry is an
    # array<struct(s,d,r,t,et,props…)> column expression over the final
    # frame. The prop fields are the union of the PATTERN's traversed edge
    # types' props (sorted; names colliding with s/d/r/t/et skipped), so
    # `relationships(p)[i].likeness` resolves (NullProp.feature; the
    # reference carries Step props inline, Path.h:15). Single-hop segments
    # read them from the already-joined frame columns — free; var-len
    # enumerations carry them through traverse (output == frontier there,
    # see its docstring); BFS-routed shortest segments stay identity-only
    # (min-pruned frontiers must not widen) and pad NULL.
    pat_props: dict = {}
    for _me in path.edges:
        for _n in (_me.types or sorted(space.edges)):
            _e = space.edge(_n)
            for _c in _e.columns:
                if _c not in (SRC, DST, RANK, "s", "d", "r", "t", "et") \
                        and _c not in pat_props:
                    pat_props[_c] = _e.schema[_c].dataType

    def _part_fields(have, get):
        """The unified struct's prop tail: present fields via ``get``,
        absent ones NULL of the pattern dtype."""
        return [(get(p) if p in have else F.lit(None).cast(dt)).alias(p)
                for p, dt in sorted(pat_props.items())]

    path_parts: list = []
    hop_counts: list[Column] = []
    # edge identities (_edge_key) per segment for openCypher relationship
    # uniqueness ACROSS hops of one pattern (reference hasSameEdgeInPath)
    canon_single: list[Column] = []
    canon_paths: list[Column] = []
    shortest_done = False  # set when a var-len segment BFS-routed shortest

    prev_alias = a0
    for me, mn in zip(path.edges, path.nodes[1:]):
        na = mn.alias or fresh("n")
        ea = me.alias or fresh("e")
        # an edge alias may bind only once; node aliases may repeat (a
        # same-vertex constraint) but never collide with an edge alias
        # (reference SemanticError, RedefinedNode.feature "Redefined
        # edge alias"; MatchValidator alias table)
        if ea in edge_aliases or ea in aliases:
            raise ValueError(f"`{ea}': Redefined alias")
        if na in edge_aliases:
            raise ValueError(f"`{na}': Redefined alias")
        enames = me.types or list(space.edges)
        # inline {k: v} per-step edge filter
        edges = _pattern_props(_edge_union(space, enames), me.props)
        if me.min_hops == 1 and me.max_hops == 1 \
                and not getattr(me, "var_len", False):
            # explicit `[e*1]` skips this single-hop fast path: the `*`
            # syntax binds e as a LIST (bugfix/LackFilterGetEdges.feature
            # reads e[0].likeness)
            e = oriented(edges, me.direction, self_loop_once=True)
            eprops = [c for c in e.columns if c not in (SRC, DST, RANK)]
            e = e.select(F.col(SRC).alias(f"{ea}___src"),
                         F.col(DST).alias(f"{ea}___dst"),
                         F.col(RANK).alias(f"{ea}___rank"),
                         *[F.col(c).alias(f"{ea}__{c}") for c in eprops])
            cur = cur.join(e, cur[f"{prev_alias}___vid"] == e[f"{ea}___src"],
                           "inner")
            end_col = f"{ea}___dst"
            seg_have = {c for c in eprops if c not in ("_dir", "_etype")}
            path_parts.append(F.array(F.struct(
                F.col(f"{ea}___src").alias("s"),
                F.col(f"{ea}___dst").alias("d"),
                F.col(f"{ea}___rank").alias("r"),
                F.col(f"{ea}___dir").alias("t"),
                F.col(f"{ea}___etype").alias("et"),
                *_part_fields(seg_have, lambda p: F.col(f"{ea}__{p}")))))
            hop_counts.append(F.lit(1))
            canon_single.append(_edge_key(f"{ea}__"))
        else:
            seeds = cur.select(
                F.col(f"{prev_alias}___vid").alias(VID)).distinct()
            # shortestPath()/allShortestPaths() over a predicate-free
            # var-len segment routes to level-pruned BFS
            # (SingleShortestPath.cpp:214-265 does BFS, never
            # enumeration): only minimal paths are materialized, so the
            # cost is linear in reachable pairs instead of exponential in
            # hop count. BOTH-direction segments route here too — the
            # root-cycle pairs that used to break the minimality
            # invariant follow the reference's level-pruned artifact
            # (in-loop closures) inside bfs_min_paths/bidir_min_paths. The enumerate-then-prune
            # fallback below remains only for min_hops>1 / multi-segment
            # patterns (intermediate-hop constraints break the BFS
            # invariant).
            route_bfs = (path.shortest is not None
                         and len(path.edges) == 1 and me.min_hops <= 1)
            if route_bfs:
                sp_mode = "single" if path.shortest == "single" else "all"
                # bidirectional meet-in-the-middle when the pattern's end
                # is bound or tag-constrained (a target frontier exists)
                # and the range is deep enough for depth-halving to pay
                # for the second frontier
                sp_targets = None
                if na in aliases:
                    sp_targets = cur.select(
                        F.col(f"{na}___vid").alias(VID)).distinct()
                elif mn.tag:
                    sp_targets = _pattern_props(space.tag(mn.tag),
                                                mn.props).select(VID)
                # the reference never emits zero-length shortest paths:
                # `[e*0]` and same-vid pairs under `*0..n` return nothing
                # (AllShortestPaths.feature "zero step" + "same start and
                # end node" — Yao Ming *0..3 is empty while Tony Parker
                # *1..3 still yields its 2-cycles), so the lower bound is
                # clamped to 1 — with max_hops=0 the BFS then returns
                # no rows at all
                sp_min = max(1, me.min_hops)
                # open-ended `*m..` range: the BFS loops break on an
                # empty frontier, so a large bound IS unbounded
                sp_max = me.max_hops if me.max_hops is not None else 2**31
                if sp_targets is not None and sp_max >= 3:
                    tr = bidir_min_paths(
                        edges.select(SRC, DST, RANK, "_etype"), seeds,
                        sp_targets, max_hops=sp_max,
                        direction=me.direction, mode=sp_mode,
                        min_hops=sp_min, self_loop_once=True,
                        etype_order=sorted(space.edges))
                elif (sp_mode == "single" and path_struct_unused
                      and me.direction != "both" and sp_min == 1):
                    # distance-only route (r12, guide §2.3): the
                    # statement never observes path CONTENTS (every
                    # path-alias reference is length(p)), so the
                    # per-level edge-struct arrays and the per-level
                    # representative-pick window are dead weight — the
                    # identity-only BFS emits the same (start, end,
                    # hops) rows with a typed-NULL path of the right
                    # length for size()/length() consumers
                    null_hop = F.lit(None).cast(
                        _path_struct_type(edges).elementType)
                    tr = bfs_shortest_paths(
                        edges.select(SRC, DST, RANK), seeds, max_hops=sp_max,
                        direction=me.direction, root_cycles=True
                    ).select(F.col(SRC).alias("start_vid"),
                             F.col(DST).alias("end_vid"),
                             F.col("dist").alias("hops"),
                             F.array_repeat(null_hop, F.col("dist"))
                             .alias("path"))
                else:
                    tr = bfs_min_paths(
                        edges.select(SRC, DST, RANK, "_etype"), seeds,
                        max_hops=sp_max, direction=me.direction,
                        mode=sp_mode, min_hops=sp_min,
                        self_loop_once=True,
                        etype_order=sorted(space.edges))
                shortest_done = True
                seg_props = []
                if lazy_path_props:
                    seg_props = sorted(
                        c for c in edges.columns
                        if c not in (SRC, DST, RANK, "_etype")
                        and c in pat_props)
                    if seg_props:
                        tr = _enrich_min_paths_props(space, tr, enames,
                                                     seg_props)
            else:
                seg_props = sorted(
                    c for c in edges.columns
                    if c not in (SRC, DST, RANK, "_etype") and c in pat_props)
                tr = traverse(
                    edges.select(SRC, DST, RANK, "_etype", *seg_props),
                    seeds, me.min_hops, me.max_hops, me.direction,
                    self_loop_once=True, prop_cols=seg_props)
            tr = tr.select(F.col("start_vid").alias(f"{prev_alias}___vid"),
                           F.col("end_vid").alias(f"{ea}___dst"),
                           F.col("hops").alias(f"{ea}__hops"),
                           F.col("path").alias(f"{ea}__path"))
            cur = cur.join(tr, f"{prev_alias}___vid", "inner")
            end_col = f"{ea}___dst"
            have = set(seg_props)
            path_parts.append(F.transform(
                F.col(f"{ea}__path"),
                lambda x: F.struct(x["s"].alias("s"), x["d"].alias("d"),
                                   x["r"].alias("r"), x["t"].alias("t"),
                                   x["et"].alias("et"),
                                   *_part_fields(have, lambda p: x[p]))))
            hop_counts.append(F.col(f"{ea}__hops"))
            canon_paths.append(F.transform(F.col(f"{ea}__path"), _edge_key))
        cur = bind_node(cur, mn, na, end_col)
        edge_aliases.add(ea)
        prev_alias = na

    # relationship uniqueness across the pattern's segments: no underlying
    # edge may appear in two hops of one match (openCypher isomorphism;
    # TraverseExecutor hasSameEdgeInPath covers only within one var-len
    # segment). All-column expressions over the joined frame — Catalyst
    # fuses them into the join's post-filter, no extra shuffle.
    for i in range(len(canon_single)):
        for j in range(i + 1, len(canon_single)):
            cur = cur.filter(~(canon_single[i] == canon_single[j]))
    for s in canon_single:
        for p in canon_paths:
            cur = cur.filter(~F.array_contains(p, s))
    for i in range(len(canon_paths)):
        for j in range(i + 1, len(canon_paths)):
            cur = cur.filter(~F.arrays_overlap(canon_paths[i],
                                               canon_paths[j]))

    # shortestPath()/allShortestPaths() fallback pruning: keep only
    # min-total-hop rows per (start, end) pair. Reached only when the BFS
    # routing above declined (min_hops>1 or multi-segment patterns, where
    # constraints can reference intermediate hops); the common
    # single-segment case never materializes non-minimal paths at all.
    if path.shortest and path.edges and not shortest_done:
        from pyspark.sql.window import Window
        total = hop_counts[0]
        for h in hop_counts[1:]:
            total = total + h
        w = Window.partitionBy(f"{a0}___vid", f"{prev_alias}___vid")
        cur = (cur.withColumn("_hops_total", total)
               .withColumn("_min_hops", F.min("_hops_total").over(w))
               .filter(F.col("_hops_total") == F.col("_min_hops")))
        if path.shortest == "single":
            # deterministic representative per pair: lexicographically
            # smallest serialized edge list
            cur = (cur.withColumn("_ord",
                                  F.concat(*path_parts).cast("string"))
                   .withColumn("_rn", F.row_number().over(w.orderBy("_ord")))
                   .filter(F.col("_rn") == 1).drop("_ord", "_rn"))
        cur = cur.drop("_hops_total", "_min_hops")

    paths_bound: set[str] = set()
    if path.path_alias:
        pa = path.path_alias
        cur = cur.withColumn(f"{pa}__start", F.col(f"{a0}___vid"))
        cur = cur.withColumn(
            f"{pa}__path",
            F.concat(*path_parts) if path_parts else F.array())
        paths_bound.add(pa)
    return cur, aliases, edge_aliases, paths_bound, tags


def _split_conjuncts(e: tuple) -> list[tuple]:
    if isinstance(e, tuple) and e[0] == "and":
        return _split_conjuncts(e[1]) + _split_conjuncts(e[2])
    return [e]


def _join_subpattern(space: GraphSpace, cur: DataFrame, path: A.MatchPath,
                     counter: list[int], nodes: set[str], edges: set[str],
                     join) -> DataFrame | None:
    """A pattern subquery (PatternApply, RollUpApply) joined onto ``cur``
    by ``join(cur, pat, keys)``, or None when it shares no alias with
    ``cur``. ``path`` is built by :func:`_build_pattern`, seeded with
    ``cur``'s distinct vids when its first node is bound and untagged (the
    frontier-seeded expansion, not a full re-scan). The keys are the vid
    of each node alias in ``nodes`` and the identity (:func:`_edge_key`)
    of each edge alias in ``edges`` that it shares, so ``(x)-[e]->(y)``
    requires e itself to connect x and y. ``cur`` binds such an edge as a
    single hop or as an edge VALUE column (a WITH-projected
    ``relationships(p)[i]``, bugfix/AliasTypeDeduce.feature
    ``(b)-[e1]->()``); the identity columns are dropped after the join."""
    n0 = path.nodes[0]
    seed = cur.select(F.col(f"{n0.alias}___vid")).distinct() \
        if n0.tag is None and n0.alias in nodes else None
    pat, aliases, eals, _, _ = _build_pattern(space, path, counter, seed=seed)
    keys = [f"{a}___vid" for a in sorted(nodes & aliases)]
    tmp: list[str] = []
    for ea in sorted(edges & eals):
        hop = f"{ea}___src" in cur.columns
        if f"{ea}___src" not in pat.columns or not (hop or ea in cur.columns):
            raise ValueError(
                f"`{ea}' is referenced with type Edge but bound as a "
                "different type (var-len edge lists cannot re-bind)")
        k = f"_pp_canon_{ea}"
        cur = cur.withColumn(k, _edge_key(f"{ea}__" if hop else F.col(ea)))
        pat = pat.withColumn(k, _edge_key(f"{ea}__"))
        tmp.append(k)
    if not keys and not tmp:
        return None
    out = join(cur, pat, keys + tmp)
    return out.drop(*tmp) if tmp else out


def _apply_pattern_pred(space: GraphSpace, cur: DataFrame, path: A.MatchPath,
                        bound: set[str], counter: list[int],
                        anti: bool) -> DataFrame:
    """WHERE (v)-[:e]->(m) / exists((v)-[:e]->(m)) / NOT … → left-semi /
    left-anti join on the shared alias bindings (PatternApplyExecutor.cpp:
    15-154, anti flag :36; bare form tck match/PathExpr.feature "In Where"),
    through :func:`_join_subpattern`."""
    # WITH-projected value columns count as bound names too
    # (bugfix/AliasTypeDeduce.feature: `with relationships(p)[1] AS e1
    # … where (b)-[e1]->()`)
    bound = bound | {c for c in cur.columns if "__" not in c}
    for n in path.nodes:             # MatchValidator::validatePathInWhere
        if n.alias and n.alias not in bound:
            raise ValueError("PatternExpression are not allowed to "
                             f"introduce new variables: `{n.alias}'")
    for ed in path.edges:
        if ed.alias and ed.alias not in bound:
            raise ValueError("PatternExpression are not allowed to "
                             f"introduce new variables: `{ed.alias}'")
    how = "left_anti" if anti else "left_semi"
    out = _join_subpattern(
        space, cur, path, counter, bound, bound,
        lambda c, pat, keys: c.join(pat.select(*keys).distinct(), keys, how))
    if out is None:
        raise ValueError("pattern predicate must share an alias with MATCH")
    return out


def _apply_where(space: GraphSpace, cur: DataFrame, where: tuple,
                 bound: set[str], counter: list[int],
                 pbound: set[str] = frozenset(),
                 tagmap: dict[str, str | None] | None = None,
                 ebound: set[str] = frozenset()) -> DataFrame:
    """Apply a WHERE tree: top-level AND conjuncts that are pattern
    predicates become PatternApply joins; pattern expressions nested in
    plain predicates (size((v)-->()) > 1) become RollUpApply columns;
    the rest filters."""
    allb = bound | ebound
    plain: list[tuple] = []
    for c in _split_conjuncts(where):
        if isinstance(c, tuple) and c[0] == "comprehension" \
                and c[3] is None and c[4] is not None:
            pats: list = []
            _walk(c[4], {"pattern_pred", "pattern_path"}, pats)
            if pats:
                # comprehension whose OUTPUT is a pattern expression —
                # `WHERE [t in [v] | (v)-[:like]->(t)]`
                # (PathExprRefLocalVariable.feature "In Where"): each
                # element maps to a (possibly empty) list of paths, so
                # the comprehension itself is non-empty — and truthy —
                # iff its INPUT list is; the pattern never decides it
                plain.append((">", ("call", "size", c[2]), ("lit", 0)))
                continue
        if isinstance(c, tuple) and c[0] in ("pattern_pred", "pattern_path"):
            cur = _apply_pattern_pred(space, cur, c[1], allb, counter, False)
        elif (isinstance(c, tuple) and c[0] == "not"
              and isinstance(c[1], tuple)
              and c[1][0] in ("pattern_pred", "pattern_path")):
            cur = _apply_pattern_pred(space, cur, c[1][1], allb, counter,
                                      True)
        else:
            plain.append(c)
    if plain:
        cur, plain = _rewrite_pattern_values(space, cur, plain, bound,
                                             ebound, counter,
                                             pbound, tagmap)
        pred = plain[0]
        for p in plain[1:]:
            pred = ("and", pred, p)
        c = ExprCompiler(_match_resolver(allb, pbound, cur.columns, tagmap),
                         df=cur).col(pred)
        # a WHERE that compiles to a bare untyped NULL at the root
        # (UNKNOWN_PROP access — `WHERE ua0.tag.nosuchprop`,
        # Attribute1/BugFixWithngdata class) drops every row in the
        # reference; Spark refuses a VOID filter. Detect the root by
        # comparing against a freshly-built F.lit(None) probe — same
        # cheap string compare, but self-adapting if the Column repr
        # format ever changes (classic vs Connect — r7 ADVICE), instead
        # of a hard-coded repr that would silently degrade to the
        # AnalysisException remap
        if str(c) == str(F.lit(None)):
            c = c.cast("boolean")
        else:
            # `WHERE [ii in relationships(p) where …]` — a LIST-valued
            # filter is truthy when non-empty (match/Base.feature "match
            # with tag filter": 243 rows through a comprehension WHERE)
            from pyspark.sql.types import ArrayType as _ArrT
            try:
                if isinstance(cur.select(c.alias("_w")).schema[0].dataType,
                              _ArrT):
                    c = F.size(c) > 0
            except Exception:  # noqa: BLE001 — let filter() raise its own
                pass
        cur = cur.filter(c)
    return cur


def _rewrite_pattern_values(space: GraphSpace, cur: DataFrame,
                            exprs: list[tuple], bound: set[str],
                            ebound: set[str], counter: list[int],
                            pbound: frozenset = frozenset(),
                            tagmap: dict | None = None
                            ) -> tuple[DataFrame, list[tuple]]:
    """Pattern expressions used as *values* — ``RETURN (v)-->()``,
    ``size((v)-[:like]->())`` — become RollUpApply: group the matched
    paths per shared binding, left-join onto the frame, coalesce to []
    (RollUpApplyExecutor.cpp; tck match/PathExpr.feature "In Return"/
    "In With"). Each path value is the engine's path convention: an
    array of (s, d, r) hop structs. New variables may not be introduced
    (MatchValidator::validatePathInWhere)."""
    def roll_up(path: A.MatchPath, agg: Column, prefix: str) -> str | None:
        """RollUpApply (:func:`_join_subpattern`): ``agg`` of the matched
        paths per shared binding, left-joined onto ``cur`` as a new
        column ([] where none matched). Returns the column's name, or
        None when the pattern shares no alias."""
        nonlocal cur
        counter[0] += 1
        val = f"{prefix}{counter[0]}"
        out = _join_subpattern(
            space, cur, path, counter, bound, ebound,
            lambda c, pat, keys: c.join(
                pat.groupBy(*keys).agg(agg.alias(val)), keys, "left")
            .withColumn(val, F.coalesce(F.col(val), F.array())))
        if out is None:
            return None
        cur = out
        return val

    def repl(path: A.MatchPath):
        for n in path.nodes:
            if n.alias and n.alias not in bound:
                raise ValueError(
                    "PatternExpression are not allowed to introduce new "
                    f"variables: `{n.alias}'")
        for ed in path.edges:
            if ed.alias and ed.alias not in ebound:
                raise ValueError(
                    "PatternExpression are not allowed to introduce new "
                    f"variables: `{ed.alias}'")
        counter[0] += 1
        pa = f"_ppv{counter[0]}"
        val = roll_up(dataclasses.replace(path, path_alias=pa),
                      F.collect_list(F.col(f"{pa}__path")), "_ppval")
        if val is None:
            raise ValueError("pattern expression must share an alias "
                             "with the enclosing MATCH")
        return ("name", val)

    def _tagset_col(tag: str) -> str:
        """Attach (once) a one-row broadcast column holding every vid of
        *tag* — collect_set rides a single agg job, no driver collect.
        Small-dim path: a tag endpoint inside a lambda predicate can't
        join, so the set must travel with the row; fine for dimension
        tags, the join-based PatternApply handles the big-tag shapes."""
        nonlocal cur
        k = f"_pptag_{tag}"
        if k not in cur.columns:
            vids = space.tag(tag).agg(
                F.collect_set(F.col(VID)).alias(k))
            cur = cur.crossJoin(F.broadcast(vids))
        return k

    def _conj(parts):
        parts = [p for p in parts if p is not None]
        if not parts:
            return ("lit", True)
        out = parts[0]
        for p in parts[1:]:
            out = ("and", out, p)
        return out

    def lambda_edge_pred(path: A.MatchPath, lv: str, has_t: bool = True):
        """A single-hop pattern whose edge slot is a comprehension
        variable — `[ii in e WHERE (v)-[ii]-(v2) | ii]`
        (match/Base.feature "match with tag filter";
        PathExprRefLocalVariable `(v)-[ii]->(:team)`): ii IS a stored
        hop struct, so the pattern is a plain predicate over its
        endpoint/type fields against the bound node ids / tag vid sets —
        no RollUpApply. Returns the predicate AST, or None if the shape
        doesn't qualify (multi-hop / unbound untagged aliases)."""
        if len(path.edges) != 1 or len(path.nodes) != 2:
            return None
        ed = path.edges[0]
        n0, n1 = path.nodes
        for n in path.nodes:
            if n.alias and n.alias not in bound:
                return None
            if n.props:
                return None
            if n.tag and n.tag not in space.tags:
                return None
        hop = ("name", lv)
        # canonical endpoints: the hop struct stores TRAVERSED s/d with
        # a negative t marking a flipped read; minimal (s,d,r) structs
        # are already stored-canonical
        if has_t:
            canon_s = ("case", [((">=", ("attr", hop, "t"), ("lit", 0)),
                                 ("attr", hop, "s"))], ("attr", hop, "d"))
            canon_d = ("case", [((">=", ("attr", hop, "t"), ("lit", 0)),
                                 ("attr", hop, "d"))], ("attr", hop, "s"))
        else:
            canon_s = ("attr", hop, "s")
            canon_d = ("attr", hop, "d")

        def end_pred(n, canon):
            ps = []
            if n.alias:
                ps.append(("==", canon, ("call", "id", ("name", n.alias))))
            if n.tag:
                ps.append(("in", canon, ("name", _tagset_col(n.tag))))
            return _conj(ps) if ps else None

        fwd = _conj([end_pred(n0, canon_s), end_pred(n1, canon_d)])
        rev = _conj([end_pred(n1, canon_s), end_pred(n0, canon_d)])
        if ed.direction == "out":
            pred = fwd
        elif ed.direction == "in":
            pred = rev
        else:
            pred = ("or", fwd, rev)
        if ed.types and has_t:
            tlist = tuple(("lit", t) for t in ed.types)
            pred = ("and", pred,
                    ("in", ("attr", hop, "et"), ("list",) + tlist))
        return pred

    def lambda_node_pred(path: A.MatchPath, lv: str, lvars, idexpr):
        """A single-hop pattern whose NODE slot is a comprehension
        variable — `[ii in nodes(p) WHERE (v)-[:like]->(ii)]`
        (PathExprRefLocalVariable "In Where"): ii is a vid value, so
        the pattern is membership in the bound endpoint's neighbor
        list. The list column attaches once per (alias, types, dir) via
        a groupBy(src)->collect_set agg + equi-join — one keyed shuffle,
        no per-row subquery."""
        nonlocal cur
        if len(path.edges) != 1 or len(path.nodes) != 2:
            return None
        ed = path.edges[0]
        if ed.alias and (ed.alias in lvars or ed.alias in ebound):
            return None
        n0, n1 = path.nodes
        if n0.alias == lv:
            other, me_end = n1, "n0"
        elif n1.alias == lv:
            other, me_end = n0, "n1"
        else:
            return None
        if other.alias is None or other.alias not in bound \
                or other.props or other.tag:
            return None
        lamn = path.nodes[0] if me_end == "n0" else path.nodes[1]
        if lamn.props or lamn.tag:
            return None
        # direction relative to the BOUND endpoint
        d = ed.direction
        if me_end == "n0":               # lambda is the LEFT node
            d = {"out": "in", "in": "out"}.get(d, d)
        edges = _pattern_props(
            _edge_union(space, ed.types or sorted(space.edges)), ed.props)
        counter[0] += 1
        k = f"_ppnbr{counter[0]}"
        if d == "out":
            nbr = edges.select(F.col(SRC).alias("_pk"),
                               F.col(DST).alias("_pv"))
        elif d == "in":
            nbr = edges.select(F.col(DST).alias("_pk"),
                               F.col(SRC).alias("_pv"))
        else:
            nbr = edges.select(F.col(SRC).alias("_pk"),
                               F.col(DST).alias("_pv")).unionByName(
                edges.select(F.col(DST).alias("_pk"),
                             F.col(SRC).alias("_pv")))
        grouped = nbr.groupBy("_pk").agg(F.collect_set("_pv").alias(k))
        cur = (cur.join(grouped,
                        cur[f"{other.alias}___vid"] == grouped["_pk"],
                        "left").drop("_pk")
               .withColumn(k, F.coalesce(F.col(k), F.array())))
        return ("in", idexpr, ("name", k))

    def lambda_edge_value(path: A.MatchPath, lv: str,
                          has_t: bool = True):
        """Pattern VALUE whose edge slot is a lambda hop struct —
        `[ii in [e] | (v)-[ii]->()]` (PathExprRefLocalVariable
        "In With"/"In Unwind"): per element, the value is the one-hop
        path [ii] when the predicate holds, else []."""
        pred = lambda_edge_pred(path, lv, has_t)
        if pred is None:
            return None
        return ("case", [(pred, ("list", ("list", ("name", lv))))],
                ("list",))

    def lambda_node_value(path: A.MatchPath, lv: str, idexpr):
        """Pattern VALUE whose node slot is a lambda element —
        `[t in [t] | (v)-[:serve]->(t)]`: RollUpApply grouped on the
        bound aliases, collecting (end-vid, path) pairs; per element the
        value filters by end == id(element). One keyed shuffle, the
        per-element work is a lambda over the joined array."""
        if len(path.edges) != 1 or len(path.nodes) != 2:
            return None
        if any(n.alias == lv and (n.props or n.tag) for n in path.nodes):
            return None
        for n in path.nodes:
            if n.alias and n.alias != lv and n.alias not in bound:
                return None
        if any(ed.alias and ed.alias not in ebound for ed in path.edges):
            return None
        counter[0] += 1
        ta = f"_ple{counter[0]}"
        nodes = [dataclasses.replace(n, alias=ta) if n.alias == lv else n
                 for n in path.nodes]
        counter[0] += 1
        pa = f"_ppv{counter[0]}"
        val = roll_up(dataclasses.replace(path, nodes=nodes, path_alias=pa),
                      F.collect_list(F.struct(
                          F.col(f"{ta}___vid").alias("end"),
                          F.col(f"{pa}__path").alias("path"))), "_ppall")
        if val is None:
            return None
        counter[0] += 1
        tv = f"_ppt{counter[0]}"
        return ("comprehension", tv, ("name", val),
                ("==", ("attr", ("name", tv), "end"), idexpr),
                ("attr", ("name", tv), "path"))

    def _domain_kind(dom) -> str:
        """Element kind of a comprehension domain: "hop" (edge structs),
        "vertex" (structs with a vid field), "vid" (plain ids), or "?"."""
        try:
            c = ExprCompiler(_match_resolver(
                bound | ebound, pbound, cur.columns, tagmap),
                df=cur).col(dom)
            dt = cur.select(c.alias("_dk")).schema[0].dataType
        except Exception:  # noqa: BLE001 — unknown shapes opt out
            return "?"
        from pyspark.sql.types import ArrayType, StructType
        if not isinstance(dt, ArrayType):
            return "?"
        el = dt.elementType
        if isinstance(el, StructType):
            names = set(el.fieldNames())
            if {"s", "d", "r"} <= names:
                # minimal hop structs (s,d,r only) are stored-canonical
                return "hop" if "t" in names else "hop0"
            if "vid" in names:
                return "vertex"
            return "?"
        return "vid"

    def walk(e, boolctx: bool = False, lvars: dict | None = None):
        lvars = lvars or {}
        if not isinstance(e, tuple):
            return e
        if e and e[0] == "pattern_path":
            path = e[1]
            lv = next((ed.alias for ed in path.edges
                       if ed.alias in lvars
                       and lvars[ed.alias] in ("hop", "hop0", "?")), None)
            if lv is not None:
                has_t = lvars[lv] != "hop0"
                pred = lambda_edge_pred(path, lv, has_t) if boolctx \
                    else lambda_edge_value(path, lv, has_t)
                if pred is not None:
                    return pred
            nlv = next((n.alias for n in path.nodes
                        if n.alias in lvars
                        and lvars[n.alias] in ("vid", "vertex", "?")),
                       None)
            if nlv is not None:
                idexpr = ("attr", ("name", nlv), "vid") \
                    if lvars[nlv] == "vertex" else ("name", nlv)
                if boolctx:
                    pred = lambda_node_pred(path, nlv, lvars, idexpr)
                else:
                    pred = lambda_node_value(path, nlv, idexpr)
                if pred is not None:
                    return pred
            v = repl(e[1])
            # a pattern expression in boolean position is an existence
            # test (openCypher; reference IC7 `not((liker)-[:KNOWS]-…)`);
            # as a plain value it stays the matched-path list
            if boolctx:
                return (">", ("call", "size", v), ("lit", 0))
            return v
        if e[0] in ("not", "and", "or", "xor"):
            return tuple([e[0]] + [walk(x, True, lvars) for x in e[1:]])
        if e[0] == "comprehension":
            # the WHERE of [x IN l WHERE pred | out] is boolean position
            # (BoolCheckingInExpr.feature: a bare pattern there is an
            # existence test); the lambda var may stand in a pattern's
            # edge or node slot inside either the WHERE or the output
            dom = walk(e[2], False, lvars)
            inner = dict(lvars)
            inner[e[1]] = _domain_kind(dom)
            return ("comprehension", e[1], dom,
                    walk(e[3], True, inner) if e[3] is not None else None,
                    walk(e[4], False, inner) if e[4] is not None else None)
        if e[0] == "pred_fn":
            dom = walk(e[3], False, lvars)
            inner = dict(lvars)
            if isinstance(e[2], str):
                inner[e[2]] = _domain_kind(dom)
            return ("pred_fn", e[1], e[2], dom, walk(e[4], True, inner))
        return tuple(walk(x, False, lvars) for x in e)

    out = [walk(e) if e is not None else None for e in exprs]
    return cur, out                # after walk() — repl() rebinds cur


def _match_resolver(bound: set[str], paths: set[str] = frozenset(),
                    columns: list[str] | None = None,
                    tagmap: dict[str, str | None] | None = None):
    """Expression resolver over the clause-chain frame: bound node aliases
    → their ___vid column; path aliases → nodes()/relationships()/length();
    graph value fns (id/type/rank/startNode/endNode/properties) → the
    convention columns; everything else → plain column."""
    def resolve(kind, *args):
        if kind == "graph_fn":           # fn(alias) on a node/edge binding
            fn, alias = args
            if alias not in bound:
                raise ValueError(f"{alias!r} is not a bound alias")
            col = {"id": "___vid", "rank": "___rank", "type": "___etype",
                   "startnode": "___src", "endnode": "___dst",
                   "none_direct_src": "___src",
                   "none_direct_dst": "___dst"}.get(fn)
            if col is not None:
                # startNode/endNode and none_direct_src/dst read the RAW
                # traversed entry (FunctionManager.cpp:2261 edge.src as
                # stored; MatchPathPlanner.cpp:60 binds hops with
                # none_direct_dst) — our ___src/___dst columns ARE
                # traversal-ordered, so they map straight through
                return F.col(f"{alias}{col}")
            if fn in ("src", "dst"):
                # src()/dst() NORMALIZE direction (FunctionManager.cpp:
                # 2112: `edge.type > 0 ? edge.src : edge.dst`): a
                # REVERSELY/BOTH-flipped hop reports its stored
                # endpoints (_edge_key)
                if columns is not None and f"{alias}___dir" in columns:
                    return _edge_key(f"{alias}__")[fn[0]]
                return F.col(f"{alias}___{fn}")
            if fn in ("labels", "tags") and columns is not None \
                    and f"{alias}___labels" in columns:
                return F.col(f"{alias}___labels")
            if fn in ("properties", "props") and columns is not None:
                skip = {f"{alias}___vid", f"{alias}___src",
                        f"{alias}___dst"}
                pc = [c for c in columns
                      if c.startswith(f"{alias}__") and c not in skip
                      and not c.startswith(f"{alias}___")]
                # the merged vertex prop map spans EVERY tag on the
                # vertex, not just the bound one (a :player-bound Tim
                # Duncan reports bachelor's speciality too —
                # PrunePropertiesRule.feature "Project on not exist
                # tag"): direct (bound-tag) columns win a name clash,
                # other tags ride the lazily-joined ___t_ columns from
                # _ensure_tag_props, fields sorted like the reference's
                # std::map rendering
                by_name: dict[str, list[str]] = {}
                for c in pc:
                    by_name.setdefault(c.split("__", 1)[1], []).append(c)
                pref = f"{alias}___t_"
                for c in columns:
                    if not c.startswith(pref):
                        continue
                    rest = c[len(pref):]
                    if "__" not in rest:
                        continue
                    _tag, pn = rest.split("__", 1)
                    if pn == "_vid":     # per-tag key witness, not a prop
                        continue
                    by_name.setdefault(pn, []).append(c)
                if by_name:
                    return F.struct(*[
                        F.coalesce(*[F.col(c) for c in cols]).alias(pn)
                        if len(cols) > 1 else F.col(cols[0]).alias(pn)
                        for pn, cols in sorted(by_name.items())])
                return F.struct(*[])
            raise ValueError(f"unknown graph fn {fn}")
        if kind == "path_fn":            # nodes(p) / relationships(p) / …
            fn, alias = args
            if alias not in paths:
                if fn == "length" and alias in bound:
                    # length() of a node binding — openCypher
                    # Path3.feature [2]: InvalidArgumentType, never the
                    # vid's string length
                    raise _UndefinedAliasError(
                        "InvalidArgumentType: length() expects a PATH "
                        "or STRING")
                raise ValueError(f"{alias!r} is not a bound path")
            p = F.col(f"{alias}__path")
            if fn == "length":
                return F.size(p)
            if fn == "relationships":
                return p
            if fn == "nodes":
                return F.concat(F.array(F.col(f"{alias}__start")),
                                F.transform(p, lambda x: x["d"]))
            raise ValueError(f"unknown path function {fn}")
        if kind == "alias_tag_prop":     # v.tag.prop
            alias, tag, prop = args
            if tagmap is not None and alias in tagmap \
                    and tagmap.get(alias) != tag:
                # alias bound to another (or no) tag — the lazily-joined
                # column from _ensure_tag_props
                lazy = f"{alias}___t_{tag}__{prop}"
                if columns is None or lazy in columns:
                    return F.col(lazy)
                # tag joined but prop not in its schema, OR the tag does
                # not exist in the space at all (_ensure_tag_props skips
                # unknown tags): both are NULL — the reference's
                # UNKNOWN_PROP / invalid-prop-eliminated-to-NULL behavior
                # (optimizer/ElimintateInvalidProp.feature; a node alias
                # never falls through to a bare prop column)
                return F.lit(None)
            if columns is not None and f"{alias}___t_{tag}___vid" in columns:
                # vid-valued plain column (UNWIND nodes(p) AS a) enriched
                # by _ensure_tag_props — lazy col, NULL if the prop is
                # absent from the tag schema (UNKNOWN_PROP semantics)
                lazy = f"{alias}___t_{tag}__{prop}"
                return F.col(lazy) if lazy in columns else F.lit(None)
            if columns is not None and f"{alias}__{prop}" not in columns:
                if alias in columns:
                    # not a graph binding — field chain on a map/struct
                    # value (x.b.d on a WITH-bound map)
                    return F.col(alias)[tag][prop]
                if tagmap is not None and alias in tagmap \
                        and f"{alias}___vid" in columns:
                    # bound alias, prop absent from its tag schema → NULL
                    return F.lit(None)
            return F.col(f"{alias}__{prop}")
        if kind == "edge_prop":          # e.prop (or alias.prop / v.tag)
            a, x = args
            if tagmap is not None and a in tagmap and columns is not None \
                    and f"{a}___vid" in columns:
                # `v.x` on a NODE binding is TAG access, never prop
                # access (match/Base.feature "Get property or tag from a
                # vertex"): the named tag's prop struct, NULL when the
                # vertex lacks the tag or no such tag exists
                if tagmap.get(a) == x:
                    flat = [c for c in columns
                            if c.startswith(f"{a}__")
                            and not c.startswith(f"{a}___")]
                    if flat:
                        return F.struct(*[
                            F.col(c).alias(c.split("__", 1)[1])
                            for c in sorted(flat)])
                    return F.lit(None)
                lazy_vid = f"{a}___t_{x}___vid"
                if lazy_vid in columns:
                    props = sorted(c for c in columns
                                   if c.startswith(f"{a}___t_{x}__")
                                   and c != lazy_vid)
                    st_ = F.struct(*[
                        F.col(c).alias(c.rsplit("__", 1)[1])
                        for c in props])
                    return F.when(F.col(lazy_vid).isNotNull(), st_)
                return F.lit(None)
            if columns is not None and f"{a}__{x}" not in columns:
                if a in columns:
                    return F.col(a)[x]
                if f"{a}___src" in columns:
                    # bound edge alias, prop not in the edge schema —
                    # case-sensitive miss (Attribute.feature e.Likeness)
                    # → UNKNOWN_PROP NULL; F.col would resolve it
                    # case-insensitively and return the wrong column
                    return F.lit(None)
            return F.col(f"{a}__{x}")
        if kind in ("name", "input_prop"):
            a = args[0]
            if a in bound:
                if columns is None or f"{a}___vid" in columns:
                    return F.col(f"{a}___vid")
                if columns is not None and f"{a}___src" in columns:
                    # bare EDGE alias as a value (`CASE r WHEN null`,
                    # ShortReads.feature:7): the edge's identity struct,
                    # NULL — not a struct of nulls — when an OPTIONAL
                    # MATCH left it unmatched. Endpoints STORED like
                    # the reference's Edge value (a reversed hop's
                    # negative type normalizes on read — Value.h Edge;
                    # src()/dst() in FunctionManager.cpp:2112)
                    s, d = F.col(f"{a}___src"), F.col(f"{a}___dst")
                    if f"{a}___dir" in columns:
                        key = _edge_key(f"{a}__")
                        s, d = key["s"], key["d"]
                    props = [c for c in columns
                             if c.startswith(f"{a}__")
                             and not c.startswith(f"{a}___")]
                    ident = F.struct(
                        s.alias("s"), d.alias("d"),
                        F.col(f"{a}___rank").alias("r"),
                        # props ride along so a CASE that mixes the edge
                        # VALUE with a map can still read them
                        # (Case.feature "use generic case in match":
                        # `case when … then e else {likeness:13} end`)
                        *[F.col(c).alias(c[len(a) + 2:]) for c in props])
                    return F.when(F.col(f"{a}___src").isNotNull(), ident)
            # bare path alias (`p IS NULL` after OPTIONAL MATCH p = …,
            # LDBC IC10 shape) OR bare var-len edge alias (`RETURN e` for
            # `[e:like*0..1]`, ZeroStep.feature): both evaluate to the
            # hop-list column — a LIST of edges (empty at zero steps, the
            # reference's `[]` rows), NULL when an optional pattern missed
            if columns is not None and a not in columns \
                    and f"{a}__path" in columns:
                return F.col(f"{a}__path")
            if columns is not None and a not in columns \
                    and f"{a}___vid" not in columns \
                    and f"{a}___src" not in columns:
                # a name that resolves to nothing on the clause frame is
                # the reference's undefined-alias SemanticError
                # (SeekById.feature `WHERE id(x) == …`), raised here
                # rather than surfacing Spark's UNRESOLVED_COLUMN; on a
                # unit row with NO bindings at all (standalone RETURN)
                # the reference phrases it as a label error
                # (return.feature "label expr")
                if not bound and not paths:
                    raise _UndefinedAliasError(
                        f"Invalid label identifiers: {a}")
                raise _UndefinedAliasError(
                    f"Alias used but not defined: `{a}'")
            return F.col(a)
        raise ValueError(f"unresolvable {kind} {args}")
    return resolve


def _ordered_collect_rewrite(e: tuple, ec: ExprCompiler,
                             keys: list[tuple[str, bool]]) -> tuple:
    """Replace ``collect(x)`` with an order-preserving collect driven by
    the hidden ``_ob*`` sort-key columns stashed by the preceding
    ``WITH … ORDER BY``.

    openCypher implementations let an aggregation observe the incoming
    order (LDBC IC7's ``head(collect(...))`` after an ordered WITH); a
    distributed groupBy destroys it, so instead: collect structs of
    (sort keys…, value) and ``array_sort`` them with a per-key asc/desc
    comparator — the sort happens per group after the shuffle, giving the
    single-node semantics at any parallelism."""
    if not isinstance(e, tuple):
        return e
    if e[0] == "call" and str(e[1]).lower() == "collect" and len(e) == 3:
        val = ec.col(e[2])
        st = F.struct(*[F.col(k).alias(k) for k, _ in keys],
                      val.alias("_v"))

        def cmp(left, right):
            res = F.lit(0)
            for k, asc in reversed(keys):
                lt, gt = (-1, 1) if asc else (1, -1)
                res = (F.when(left[k] < right[k], lt)
                       .when(left[k] > right[k], gt).otherwise(res))
            return res.cast("int")

        arr = F.array_sort(F.collect_list(st), cmp)
        return ("raw_agg", F.transform(arr, lambda x: x["_v"]))
    return tuple(_ordered_collect_rewrite(x, ec, keys)
                 if isinstance(x, tuple) else x for x in e)


def _project_items(cur: DataFrame, items: list[A.YieldItem],
                   ec: ExprCompiler, bound: set[str],
                   ) -> tuple[DataFrame, set[str], dict[str, str]]:
    """WITH/RETURN projection with openCypher implicit grouping. A bare
    alias item carries the whole binding ({alias}__*) through; ``x AS y``
    over a binding carries it under the NEW name (the reference's
    Argument mechanism — AllShortestPaths.feature "argument issue" swaps
    a/b through WITH and the next MATCH must see them as bound starts);
    aggregates trigger grouping by every non-aggregate item. Returns
    (frame, carried binding names, {new: old} renames)."""
    return _project_impl(cur, items, ec, bound)


def _compile_mixed_agg(e: tuple, ec: ExprCompiler) -> Column:
    """Compile a projection item that MIXES aggregate calls with plain
    sub-expressions (AggPatternExpression.feature:
    ``size((v)--(:team)) + count(name) * 2``). Aggregate sub-calls stay
    aggregates; every non-aggregate subtree wraps in ``first()`` — under
    implicit grouping it is constant within its group, so first() is the
    reference's per-group evaluation."""
    if e[0] == "raw_agg" or (e[0] in ("call", "call_distinct")
                             and e[1] in _AGG_FNS):
        return ec.col(e)
    if not _is_agg(e):
        return F.first(ec.col(e))
    if e[0] in ("+", "-", "*", "/", "%"):
        a = _compile_mixed_agg(e[1], ec)
        b = _compile_mixed_agg(e[2], ec)
        if e[0] == "+":
            # list concatenation under implicit grouping (BI10's
            # `interestedPersons + collect(person)`) — same schema-directed
            # dispatch as ExprCompiler's scalar `+`
            from pyspark.sql.types import ArrayType
            if isinstance(ec._dtype(a), ArrayType) \
                    or isinstance(ec._dtype(b), ArrayType):
                return F.concat(a, b)
        return {"+": a + b, "-": a - b, "*": a * b,
                "/": a / b, "%": a % b}[e[0]]
    if e[0] == "neg":
        return -_compile_mixed_agg(e[1], ec)
    if e[0] in ("and", "or"):
        a = _compile_mixed_agg(e[1], ec)
        b = _compile_mixed_agg(e[2], ec)
        return a & b if e[0] == "and" else a | b

    # generic mixed shape (map/list constructors, casts, non-agg fns
    # over agg args — `{name2: collect(m.player.name)}`, Agg.feature
    # "Match Implicit GroupBy"): compile each subtree through the mixed
    # path, re-wrap as a prebuilt raw_agg Column, and let the normal
    # compiler assemble the op around them
    def wrap(x):
        if not isinstance(x, tuple) or not x or x[0] == "lit":
            return x
        return ("raw_agg", _compile_mixed_agg(x, ec))
    if e[0] == "map":
        return ec.col(("map", [(k, wrap(v)) for k, v in e[1]]))
    if e[0] == "pred_fn":
        # any/all/single/none over an agg-built list (`ANY(l IN
        # COLLECT(d) WHERE l==1)`): only the LIST argument is in agg
        # position — the lambda var and predicate compile inside
        return ec.col(("pred_fn", e[1], e[2], wrap(e[3]), e[4]))
    if e[0] == "comprehension":
        return ec.col(("comprehension", e[1], wrap(e[2]), e[3], e[4]))
    if e[0] == "reduce":
        # reduce(acc = init, x IN collect(…) | body): init and the list
        # are in agg position; acc/x and the body stay lambda-scoped
        # (Reduce.feature "aggregate function in collection")
        return ec.col(("reduce", e[1], wrap(e[2]), e[3], wrap(e[4]),
                       e[5]))
    return ec.col(tuple(
        [e[0]] + [wrap(x) if isinstance(x, tuple) else x for x in e[1:]]))


def _project_impl(cur, items, ec, bound):
    out_bound: set[str] = set()
    renames: dict[str, str] = {}
    has_agg = any(_is_agg(y.expr) for y in items)
    keys, aggs = [], []
    for i, y in enumerate(items):
        if y.expr == ("star",):          # WITH * — every column through
            keys.extend(F.col(c) for c in cur.columns
                        if not c.startswith("_ob"))
            out_bound |= {c.split("__", 1)[0] for c in cur.columns
                          if "__" in c} & bound
            continue
        if y.expr[0] == "name" and y.expr[1] in bound:
            # carry the full binding ({alias}__*) — under the item's
            # alias when renamed (`WITH a AS b`: b stays a BOUND node the
            # next MATCH can argument-join on, not a demoted struct)
            old = y.expr[1]
            new = y.alias or old
            cols = [F.col(c).alias(new + c[len(old):])
                    for c in cur.columns if c.startswith(f"{old}__")]
            out_bound.add(new)
            if new != old:
                renames[new] = old
            keys.extend(cols)
        else:
            if has_agg and _is_agg(y.expr):
                aggs.append(_compile_mixed_agg(y.expr, ec)
                            .alias(_yname(y, i)))
            else:
                keys.append(ec.col(y.expr).alias(_yname(y, i)))
    if has_agg:
        out = cur.groupBy(*keys).agg(*aggs) if keys else cur.agg(*aggs)
        # groupBy().agg() emits keys-then-aggregates; restore the WRITTEN
        # item order so `WITH min(87) AS n0, age` + `RETURN *` surfaces
        # n0 first (optimizer/PushFilterDownAggregateRule.feature — same
        # parity as the RETURN-side restore, found by the r9 sweep)
        names: list[str] = []
        star = False
        for i, y in enumerate(items):
            if y.expr == ("star",):
                star = True
                break
            if y.expr[0] == "name" and y.expr[1] in bound:
                pref = (y.alias or y.expr[1]) + "__"
                names.extend(c for c in out.columns if c.startswith(pref))
            else:
                names.append(_yname(y, i))
        if not star and len(set(names)) == len(names) \
                and set(names) == set(out.columns) and names != out.columns:
            out = out.select(
                *[F.col("`" + n.replace("`", "``") + "`") for n in names])
    else:
        out = cur.select(*keys)
    return out, out_bound, renames


def _path_value_aliases(st: A.MatchStmt) -> tuple[set[str], list[str]]:
    """The aliases bound to a path value — path aliases and var-len edge
    lists — and every edge alias, in pattern order."""
    names: set[str] = set()
    edge_aliases: list[str] = []
    for cl in st.clauses:
        for p in getattr(cl, "paths", []) or []:
            if p.path_alias:
                names.add(p.path_alias)
            for ed in p.edges:
                if ed.alias:
                    edge_aliases.append(ed.alias)
                if ed.alias and (ed.var_len or ed.min_hops != 1
                                 or ed.max_hops != 1):
                    names.add(ed.alias)
    return names, edge_aliases


def _stmt_observes_paths(st: A.MatchStmt, names: set[str],
                         length_blind: bool) -> bool:
    """Does a clause expression, RETURN item or ORDER BY key observe a
    path value? ``attr`` (``x["likeness"]`` on a struct value),
    ``edge_prop`` (the ``x.likeness`` form a comprehension var takes)
    and ``star`` anywhere count, and so does a bare alias in ``names``,
    which renders its full value. With ``length_blind`` a
    ``length(alias)`` call observes nothing: it reads the size only."""
    def scan(e) -> bool:
        if isinstance(e, tuple):
            if e and e[0] in ("attr", "edge_prop", "star"):
                return True
            if e and e[0] == "name" and len(e) == 2 and e[1] in names:
                return True
            if length_blind and e and e[0] == "call" and len(e) == 3 \
                    and e[1] == "length" and isinstance(e[2], tuple) \
                    and e[2][0] == "name":
                return False
            return any(scan(x) for x in e)
        if isinstance(e, list):
            return any(scan(x) for x in e)
        return False

    exprs: list = []
    for cl in st.clauses:
        exprs.extend(getattr(ex, "expr", ex)
                     for ex in getattr(cl, "items", None) or [])
        exprs.extend(getattr(cl, k, None) for k in ("where", "expr",
                                                    "order_by"))
    exprs.extend(y.expr for y in st.returns)
    exprs.append(st.order_by)
    return any(scan(x) for x in exprs)


def _stmt_reads_path_props(st: A.MatchStmt) -> bool:
    """Does any clause expression read edge props off a path value? —
    the (deliberately over-approximate) trigger for lazily joining props
    onto BFS-routed shortest-path structs. Attribute access counts, and
    so does RETURNING the path/edge-list value itself (`RETURN p` /
    `RETURN e` / `RETURN *` renders props — AllShortestPaths.feature).
    False keeps those paths identity-only, which is the cheap case; a
    false positive only costs the shaping-time join when a shortest
    var-len segment also exists."""
    return _stmt_observes_paths(st, _path_value_aliases(st)[0],
                                length_blind=False)


def _stmt_path_contents_unused(st: A.MatchStmt) -> bool:
    """True when NO clause expression can observe the CONTENTS of a bound
    path or var-len edge list — every reference to such an alias is
    exactly ``length(alias)``, and no var-len edge alias is shared across
    patterns (sharing joins on the hop list itself). Under this flag a
    single-shortestPath segment may route to the distance-only BFS
    (``bfs_shortest_paths(root_cycles=True)``), whose rows the route
    shapes with a ``path`` column of typed NULLs of the
    right LENGTH but no edge identities. Deliberately conservative the
    same way :func:`_stmt_reads_path_props` is: any ``attr``/
    ``edge_prop``/``star`` expression anywhere disables the route."""
    names, edge_aliases = _path_value_aliases(st)
    # a var-len edge alias appearing in two patterns joins on its hop
    # list — contents observed structurally, not via an expression
    if any(edge_aliases.count(a) > 1 for a in names):
        return False
    return not _stmt_observes_paths(st, names, length_blind=True)


def _node_prop_patterns_need_tag(st: A.MatchStmt) -> None:
    """MatchValidator: a node prop pattern without a tag is a
    SemanticError — `(v{name: "hello"})` →
    `` `name:"hello"': No tag found for property.`` (PathExpr.feature:14,
    Base.feature "match_with_wrong_syntax"). Checks every clause path
    AND pattern expressions nested in WHERE/WITH/RETURN."""
    def chk(path):
        for n in getattr(path, "nodes", []):
            if n.props and not n.tag:
                k, v = next(iter(n.props.items()))
                raise ValueError(
                    f"`{k}:{_expr_text(('lit', v)) or v}': "
                    "No tag found for property.")

    def chk_expr(e):
        refs: list = []
        if e is not None:
            _walk(e, {"pattern_path", "pattern_pred"}, refs)
        for r in refs:
            chk(r[1])

    for cl in st.clauses:
        for p in getattr(cl, "paths", []) or []:
            chk(p)
        if getattr(cl, "where", None) is not None:
            chk_expr(cl.where)
        for it in getattr(cl, "items", []) or []:
            chk_expr(it.expr)
        if getattr(cl, "expr", None) is not None:
            chk_expr(cl.expr)
    for y in st.returns:
        chk_expr(y.expr)


def _fixed_path_nodes(st: A.MatchStmt) -> dict[str, list[str]]:
    """path_alias → ordered node aliases, for ``p = (a)-[e]->(b)…``
    patterns where every hop is a fixed single edge and every node is
    aliased. Used to rewrite ``nodes(p)`` prop access onto the bound
    aliases (the reference's Path value carries full vertices —
    Path.h:60 — while our path column carries vids + edge hops)."""
    out: dict[str, list[str]] = {}
    for cl in st.clauses:
        for p in getattr(cl, "paths", None) or []:
            if not p.path_alias or p.shortest:
                continue
            if any(e.var_len or e.min_hops != 1 or e.max_hops != 1
                   for e in p.edges):
                continue
            if any(n.alias is None for n in p.nodes):
                continue
            out[p.path_alias] = [n.alias for n in p.nodes]
    return out


def _subst_lambda_var(e, var: str, alias: str):
    """Substitute a lambda variable with a bound node alias in an AST:
    ``("name", var)`` → the alias, ``var.tag.prop`` / ``var.prop``
    chains re-anchor. Stops at a nested lambda that rebinds ``var``."""
    if isinstance(e, list):
        return [_subst_lambda_var(x, var, alias) for x in e]
    if not isinstance(e, tuple) or not e:
        return e
    if e[0] == "name" and len(e) == 2 and e[1] == var:
        return ("name", alias)
    if e[0] == "alias_tag_prop" and e[1] == var:
        return ("alias_tag_prop", alias, *e[2:])
    if e[0] in ("edge_prop", "attr") and e[1] == var:
        return (e[0], alias, *[_subst_lambda_var(x, var, alias)
                               for x in e[2:]])
    if e[0] == "comprehension" and e[1] == var:
        return e
    if e[0] == "pred_fn" and e[2] == var:
        return e
    if e[0] == "reduce" and (e[1] == var or e[3] == var):
        return e
    return (e[0], *[_subst_lambda_var(x, var, alias) for x in e[1:]])


def _rewrite_path_nodes(e, pn: dict[str, list[str]]):
    """Rewrite ``nodes(p)`` access patterns over fixed-length aliased
    paths into direct node-alias references (expression/Reduce
    "use a reduce in MATCH", Predicate "use a predicate in MATCH",
    ListComprehension "Using a list comprehension in a MATCH"):
      nodes(p)[k]            → the k-th node alias
      all/any/none(x IN nodes(p) WHERE pred)  → unrolled AND/OR chain
      [x IN nodes(p) | out]  → list literal of per-node substitutions
      reduce(a = i, x IN nodes(p) | body)     → nested substitution"""
    if isinstance(e, list):
        return [_rewrite_path_nodes(x, pn) for x in e]
    if not isinstance(e, tuple) or not e:
        return e

    def nodes_of(x):
        if (isinstance(x, tuple) and len(x) == 3
                and x[0] in ("call", "call_distinct")
                and str(getattr(x[1], "src", x[1])).lower() == "nodes"
                and isinstance(x[2], tuple) and x[2][0] == "name"
                and x[2][1] in pn):
            return pn[x[2][1]]
        return None

    if e[0] == "subscript":
        nl = nodes_of(e[1])
        if (nl is not None and isinstance(e[2], tuple)
                and e[2][0] == "lit" and isinstance(e[2][1], int)
                and not isinstance(e[2][1], bool)
                and -len(nl) <= e[2][1] < len(nl)):
            return ("name", nl[e[2][1]])
    if e[0] == "attr" and isinstance(e[1], tuple) and e[1] \
            and e[1][0] == "attr":
        # nodes(p)[k].tag.prop parses as attr(attr(subscript, tag),
        # prop); re-anchor onto the rewritten alias as the parser
        # would have (alias_tag_prop) so tag-prop resolution applies
        base = _rewrite_path_nodes(e[1][1], pn)
        if isinstance(base, tuple) and base[0] == "name" \
                and base != e[1][1]:
            return ("alias_tag_prop", base[1], e[1][2], e[2])
    if e[0] == "attr":
        base = _rewrite_path_nodes(e[1], pn)
        if isinstance(base, tuple) and base[0] == "name" and base != e[1]:
            return ("edge_prop", base[1], e[2])
    if e[0] == "pred_fn":
        nl = nodes_of(e[3])
        if nl:
            per = [_rewrite_path_nodes(
                _subst_lambda_var(e[4], e[2], a), pn) for a in nl]
            if e[1] in ("all", "any", "none"):
                acc = per[0]
                for p in per[1:]:
                    acc = ("and" if e[1] == "all" else "or", acc, p)
                return ("not", acc) if e[1] == "none" else acc
            # single: reuse the 3-valued single compile over the list
            # of per-node predicate VALUES
            return ("pred_fn", "single", "_pnb", ("list", *per),
                    ("name", "_pnb"))
    if e[0] == "comprehension" and e[4] is not None:
        nl = nodes_of(e[2])
        if nl:
            if e[3] is None:
                return ("list", *[_rewrite_path_nodes(
                    _subst_lambda_var(e[4], e[1], a), pn) for a in nl])
            # WHERE form: per-node (cond, val) structs filtered then
            # projected — inclusion can't unroll statically
            els = []
            for a in nl:
                cond = _rewrite_path_nodes(
                    _subst_lambda_var(e[3], e[1], a), pn)
                val = _rewrite_path_nodes(
                    _subst_lambda_var(e[4], e[1], a), pn)
                els.append(("map", [("c", cond), ("v", val)]))
            return ("comprehension", "_pnx", ("list", *els),
                    ("attr", ("name", "_pnx"), "c"),
                    ("attr", ("name", "_pnx"), "v"))
    if e[0] == "reduce":
        nl = nodes_of(e[4])
        if nl:
            acc_e = _rewrite_path_nodes(e[2], pn)
            for a in nl:
                body = _rewrite_path_nodes(
                    _subst_lambda_var(e[5], e[3], a), pn)
                acc_e = _subst_reduce_acc(body, e[1], acc_e)
            return acc_e
    return (e[0], *[_rewrite_path_nodes(x, pn) for x in e[1:]])


def _subst_reduce_acc(e, acc: str, val):
    """Replace the reduce accumulator name with the accumulated AST."""
    if isinstance(e, list):
        return [_subst_reduce_acc(x, acc, val) for x in e]
    if not isinstance(e, tuple) or not e:
        return e
    if e[0] == "name" and len(e) == 2 and e[1] == acc:
        return val
    if e[0] == "reduce" and e[1] == acc:
        return e
    return (e[0], *[_subst_reduce_acc(x, acc, val) for x in e[1:]])


def _exec_match(space: GraphSpace, st: A.MatchStmt) -> DataFrame:
    counter = [0]
    _pn = _fixed_path_nodes(st)
    if _pn:
        for cl in st.clauses:
            for it in getattr(cl, "items", None) or []:
                it.expr = _rewrite_path_nodes(it.expr, _pn)
            if getattr(cl, "where", None) is not None:
                cl.where = _rewrite_path_nodes(cl.where, _pn)
            if getattr(cl, "order_by", None):
                cl.order_by = [(_rewrite_path_nodes(x, _pn), asc)
                               for x, asc in cl.order_by]
            if getattr(cl, "expr", None) is not None:       # UNWIND
                cl.expr = _rewrite_path_nodes(cl.expr, _pn)
        st.returns = [A.YieldItem(_rewrite_path_nodes(y.expr, _pn),
                                  y.alias, getattr(y, "src", None))
                      for y in st.returns]
        if st.order_by:
            st.order_by = [(_rewrite_path_nodes(x, _pn), asc)
                           for x, asc in st.order_by]
    _node_prop_patterns_need_tag(st)
    lazy_props = _stmt_reads_path_props(st)
    contents_unused = _stmt_path_contents_unused(st)
    cur: DataFrame | None = None
    bound: set[str] = set()
    ebound: set[str] = set()
    pbound: set[str] = set()
    tagmap: dict[str, str | None] = {}
    # sort keys stashed by the last WITH … ORDER BY (hidden _ob columns),
    # consumed by the next aggregate projection's ordered collect()
    pending_order: list[tuple[str, bool]] | None = None

    # literal WITH bindings with no Spark array type (heterogeneous
    # container lists — `WITH [{num: 0}, 1] AS l`, openCypher
    # Map1.feature) never materialize as columns: the AST substitutes
    # into later clauses, where literal-index subscripts fold
    # element-wise (the reference's dynamic Value model needs no type)
    lit_env: dict[str, tuple] = {}

    def _subst(e):
        if isinstance(e, tuple) and e:
            if e[0] == "name" and len(e) == 2 and e[1] in lit_env:
                return lit_env[e[1]]
            return (e[0], *[_subst(x) for x in e[1:]])
        if isinstance(e, list):
            return [_subst(x) for x in e]
        return e

    def _hetero_const_list(e) -> bool:
        if not (isinstance(e, tuple) and e and e[0] == "list"):
            return False
        kinds = {("c" if isinstance(x, tuple)
                  and x[0] in ("map", "list", "set") else "s")
                 for x in e[1:]}
        return len(kinds) > 1

    for cl in st.clauses:
        if lit_env:
            for it in getattr(cl, "items", None) or []:
                it.expr = _subst(it.expr)
            if getattr(cl, "where", None) is not None:
                cl.where = _subst(cl.where)
            if getattr(cl, "order_by", None):
                cl.order_by = [(_subst(e), asc) for e, asc in cl.order_by]
            if getattr(cl, "expr", None) is not None:       # UNWIND
                cl.expr = _subst(cl.expr)
        if isinstance(cl, A.WithClause) and cl.items:
            keep = []
            for it in cl.items:
                if it.alias and _hetero_const_list(it.expr):
                    lit_env[it.alias] = it.expr
                else:
                    keep.append(it)
            cl.items = keep or [A.YieldItem(("lit", 1), "_lit_with")]
    if lit_env:
        st.returns = [A.YieldItem(_subst(y.expr), y.alias,
                                  getattr(y, "src", None))
                      for y in st.returns]
        if st.order_by:
            st.order_by = [(_subst(e), asc) for e, asc in st.order_by]

    def _join_pattern(base, base_bound, base_ebound, pat, aliases, eals,
                      how):
        """Join a built pattern frame onto ``base`` over shared node /
        edge aliases. A shared EDGE alias joins on edge identity
        (MatchJoinOnEdge.feature): a single edge on :func:`_edge_key`,
        a var-len one on its whole hop list; mixing the two arities is
        the reference's SemanticError."""
        shared = [a for a in sorted(base_bound & aliases)]
        shared_edges = [a for a in sorted(base_ebound & eals)]
        keys = [f"{a}___vid" for a in shared]
        tmp: list[str] = []
        for a in shared_edges:
            base_list = f"{a}__path" in base.columns
            pat_list = f"{a}__path" in pat.columns
            if base_list != pat_list:
                raise ValueError(f"`{a}' binding to different type: "
                                 "Edge vs EdgeList")
            if pat_list:
                keys.append(f"{a}__path")
                continue
            k = f"_jk_{a}"
            base = base.withColumn(k, _edge_key(f"{a}__"))
            pat = pat.withColumn(k, _edge_key(f"{a}__"))
            tmp.append(k)
        keys += tmp
        if keys:
            # pattern side re-binds shared aliases: drop its duplicate
            # prop columns, keep only new ones + keys
            dup = [c for c in pat.columns
                   if any(c.startswith(f"{a}__")
                          for a in shared + shared_edges)
                   and c not in keys]
            out = base.join(pat.drop(*dup), on=keys, how=how)
            return out.drop(*tmp) if tmp else out
        return base.crossJoin(pat) if how == "inner" \
            else base.join(pat, F.lit(True), "left")

    def _edge_value_constraint(cur: DataFrame, ea: str) -> DataFrame:
        """A MATCH edge alias colliding with a WITH-projected VALUE
        column (a relationships(p) list or a single edge struct)
        constrains the new pattern's edges to equal that value —
        MatchJoinOnEdge.feature "Multiple Match joined on edge list":
        `WITH relationships(p1) AS e MATCH p2=…-[e:like*1..2]-…`
        keeps only p2 enumerations whose hop list IS e. Identity
        compares on :func:`_edge_key`, so an undirected re-traversal
        matches the directed original."""
        from pyspark.sql.types import ArrayType, StructType
        vt = cur.schema[ea].dataType
        if isinstance(vt, ArrayType):
            if f"{ea}__path" not in cur.columns:
                raise ValueError(f"`{ea}' binding to different type: "
                                 "Edge vs EdgeList")
            val, pl = F.col(ea), F.col(f"{ea}__path")
            zipped = F.zip_with(val, pl,
                                lambda a, b: _edge_key(a) == _edge_key(b))
            return cur.filter((F.size(val) == F.size(pl))
                              & F.forall(zipped, lambda x: x))
        if isinstance(vt, StructType):
            if f"{ea}___src" not in cur.columns:
                raise ValueError(f"`{ea}' binding to different type: "
                                 "EdgeList vs Edge")
            return cur.filter(_edge_key(F.col(ea)) == _edge_key(f"{ea}__"))
        raise ValueError(f"`{ea}' binding to different type: Edge vs "
                         + str(vt))

    for cl in st.clauses:
        if isinstance(cl, A.MatchClause):
            # relationship uniqueness is per path pattern, NOT across
            # comma patterns of one clause: the reference's
            # MultiQueryParts.feature:9-28 golden includes m-n and n-l
            # matched over the SAME edge in different comma patterns.
            # Edge and path ALIASES, however, bind once per clause —
            # re-declaring one in a later comma pattern is the
            # reference's Redefined-alias SemanticError (match/
            # Path.feature "distinct edges and paths"; node aliases may
            # repeat as same-vertex constraints). Edges report before
            # the path alias, matching the validator's order.
            seen_e: set[str] = set()
            seen_p: set[str] = set()
            for path in cl.paths:
                for me in path.edges:
                    if me.alias and me.alias in seen_e | seen_p:
                        raise ValueError(f"`{me.alias}': Redefined alias")
                if path.path_alias and path.path_alias in seen_e | seen_p:
                    raise ValueError(
                        f"`{path.path_alias}': Redefined alias")
                seen_e |= {me.alias for me in path.edges if me.alias}
                if path.path_alias:
                    seen_p.add(path.path_alias)
            # a node alias colliding with a WITH-projected VALUE column
            # is a same-vertex constraint (AliasTypeDeduce.feature:
            # `WITH c[0][0][0] AS prev … OPTIONAL MATCH (curr)<-…->(prev)`)
            # — materialize its ___vid binding so the ordinary shared-
            # alias join applies (left-join keys stay base-side, so an
            # OPTIONAL miss keeps the bound vid and nulls only the
            # pattern's own columns)
            if cur is not None:
                from pyspark.sql.types import StructType as _VST
                for path in cl.paths:
                    for n_ in path.nodes:
                        a_ = n_.alias
                        if a_ and a_ not in bound and a_ not in ebound \
                                and a_ in cur.columns \
                                and f"{a_}___vid" not in cur.columns:
                            vt_ = cur.schema[a_].dataType
                            vid_ = F.col(a_)["vid"] \
                                if isinstance(vt_, _VST) else F.col(a_)
                            cur = cur.withColumn(f"{a_}___vid", vid_)
                            bound.add(a_)
                            tagmap.setdefault(a_, None)
            built = [_build_pattern(space, path, counter,
                                    lazy_path_props=lazy_props,
                                    path_struct_unused=contents_unused)
                     for path in cl.paths]
            if cl.optional and len(built) > 1:
                # comma patterns of ONE OPTIONAL MATCH are a single
                # pattern and must hold all-or-nothing (openCypher; the
                # reference's BI15 fan count relies on it): inner-join
                # them into one block on the aliases they share with each
                # other, then left-join the block ONCE below on the
                # aliases the outer frame binds — separate left joins
                # would let pattern 1's bindings survive rows where
                # pattern 2 fails.
                p0, a0_, e0, pp0, pt0 = built[0]
                a0_, e0, pp0, pt0 = set(a0_), set(e0), set(pp0), dict(pt0)
                for (p2, a2, e2, pp2, pt2) in built[1:]:
                    p0 = _join_pattern(p0, a0_, e0, p2, set(a2), set(e2),
                                       "inner")
                    a0_ |= a2
                    e0 |= e2
                    pp0 |= pp2
                    pt0.update(pt2)
                built = [(p0, a0_, e0, pp0, pt0)]
            for pat, aliases, eals, ppaths, ptags in built:
                if cl.where is not None and cl.optional:
                    # WHERE of an OPTIONAL MATCH filters the pattern side
                    # BEFORE the left join (openCypher semantics)
                    pat = _ensure_tag_props(space, pat, [cl.where], ptags)
                    pat = pat.filter(
                        ExprCompiler(_match_resolver(
                            aliases, ppaths, pat.columns, ptags))
                        .col(cl.where))
                if cur is None:
                    cur = pat
                else:
                    val_e = [] if cl.optional else \
                        [ea for ea in eals if ea not in ebound
                         and ea in cur.columns]
                    cur = _join_pattern(
                        cur, bound, ebound, pat, set(aliases), set(eals),
                        "left" if cl.optional else "inner")
                    for ea in val_e:
                        cur = _edge_value_constraint(cur, ea)
                bound |= aliases
                ebound |= eals
                pbound |= ppaths
                tagmap.update(ptags)
            if cl.where is not None and not cl.optional:
                cur = _ensure_tag_props(space, cur, [cl.where], tagmap)
                cur = _apply_where(space, cur, cl.where, bound,
                                   counter, pbound, tagmap, ebound)
        elif isinstance(cl, A.WithClause):
            if cur is None:              # query opens with WITH — unit row
                cur = space.spark.range(1).select()
            cur, wexprs = _rewrite_pattern_values(
                space, cur, [y.expr for y in cl.items], bound, ebound,
                counter, pbound, tagmap)
            witems = [A.YieldItem(e, y.alias)
                      for e, y in zip(wexprs, cl.items)]
            cur = _ensure_tag_props(
                space, cur, [y.expr for y in witems] + [cl.where], tagmap)
            ec = ExprCompiler(
                _match_resolver(bound | ebound, pbound, cur.columns, tagmap),
                df=cur)
            # an aggregate projection right after WITH … ORDER BY observes
            # the order: rewrite collect() to its order-preserving form
            if pending_order and any(_is_agg(y.expr) for y in witems):
                witems = [A.YieldItem(
                    _ordered_collect_rewrite(y.expr, ec, pending_order),
                    y.alias) for y in witems]
            cur, carried, renames = _project_items(cur, witems, ec,
                                                   bound | ebound | pbound)
            pending_order = None
            old_tagmap = tagmap
            bound, ebound, pbound = (
                (carried & bound)
                | {n for n, o in renames.items() if o in bound},
                (carried & ebound)
                | {n for n, o in renames.items() if o in ebound},
                (carried & pbound)
                | {n for n, o in renames.items() if o in pbound})
            tagmap = {a: t for a, t in old_tagmap.items() if a in carried}
            tagmap.update({n: old_tagmap[o] for n, o in renames.items()
                           if o in old_tagmap})
            if cl.distinct:
                cur = cur.distinct()
            if cl.order_by:
                # ORDER BY over the projected frame; sort keys also stash
                # as hidden _ob columns so a following aggregate can keep
                # the order inside collect()
                ec2 = ExprCompiler(_match_resolver(
                    bound | ebound, pbound, cur.columns, tagmap))
                pend: list[tuple[str, bool]] = []
                sort_cols = []
                for i, (e, asc) in enumerate(cl.order_by):
                    name = f"_ob{i}"
                    c = (F.col(e[1])
                         if e[0] == "name" and e[1] in cur.columns
                         else ec2.col(e))
                    cur = cur.withColumn(name, c)
                    pend.append((name, asc))
                    sort_cols.append(F.col(name).asc_nulls_last() if asc
                                     else F.col(name).desc_nulls_first())
                cur = cur.orderBy(*sort_cols)
                pending_order = pend
            if cl.skip:
                cur = cur.offset(cl.skip)
            if cl.limit is not None:
                cur = cur.limit(cl.limit)
            if cl.where is not None:
                # full WHERE machinery, not a bare filter: a pattern
                # predicate delayed to the WITH's WHERE — the reference's
                # own BI8 rewrite ("where clause with pattern expression
                # will be delay to next clause", Read.feature:216) — needs
                # the PatternApply semi/anti join path. The WHERE sees
                # the POST-projection frame, so tag-prop access on a
                # projected vid column (WITH ua0 WHERE ua0.tag.prop —
                # Attribute1.feature) re-joins lazily here
                cur = _ensure_tag_props(space, cur, [cl.where], tagmap)
                cur = _apply_where(space, cur, cl.where, bound, counter,
                                   pbound, tagmap, ebound)
        elif isinstance(cl, A.UnwindStmt):
            if cur is None:
                cur = _exec_unwind(cl, cur, space.spark)
            else:
                # clause-chain UNWIND sees the full frame: tag props,
                # path fns, pattern expressions (Unwind.feature:120,163)
                cur, (uex,) = _rewrite_pattern_values(
                    space, cur, [cl.expr], bound, ebound, counter,
                    pbound, tagmap)
                cur = _ensure_tag_props(space, cur, [uex], tagmap)
                col = ExprCompiler(_match_resolver(
                    bound | ebound, pbound, cur.columns, tagmap)).col(uex)
                probe = cur.withColumn("_uw_probe", col)
                if cl.alias in probe.columns:
                    probe = probe.drop(cl.alias)
                if dict(probe.dtypes)["_uw_probe"].startswith("array"):
                    # NULL / empty lists drop the row (UnwindExecutor.cpp)
                    cur = probe.select(
                        "*", F.explode("_uw_probe").alias(cl.alias))
                else:                # non-list value → one passthrough row
                    cur = probe.withColumn(cl.alias, F.col("_uw_probe"))
                cur = cur.drop("_uw_probe")
        else:
            raise ValueError(f"unknown clause {type(cl).__name__}")

    if cur is None:                      # standalone RETURN — unit row
        cur = space.spark.range(1).select()
    cur, rexprs = _rewrite_pattern_values(
        space, cur, [y.expr for y in st.returns], bound, ebound, counter,
        pbound, tagmap)
    rets_in = [A.YieldItem(
        e,
        # a rewritten pattern VALUE keeps its as-written header —
        # `RETURN (v)-->()` names the column `(v)-->()`
        # (PathExpr.feature "In Return"), not the internal _ppval slot
        y.alias or (" ".join(y.src.split())
                    if e != y.expr and getattr(y, "src", None)
                    else None),
        getattr(y, "src", None))
        for e, y in zip(rexprs, st.returns)]
    cur = _ensure_tag_props(
        space, cur, [y.expr for y in rets_in]
        + [e for e, _ in (st.order_by or [])], tagmap)
    ec = ExprCompiler(_match_resolver(bound | ebound, pbound, cur.columns,
                                      tagmap), df=cur)
    if pending_order and any(_is_agg(y.expr) for y in rets_in):
        rets_in = [A.YieldItem(
            _ordered_collect_rewrite(y.expr, ec, pending_order), y.alias,
            getattr(y, "src", None))
            for y in rets_in]

    # RETURN * — expand to every NAMED binding (vertex/edge/path, struct
    # form) + every plain projected column, in frame order (openCypher
    # `RETURN *` carries all named bindings; anonymous `_eN` hops stay
    # hidden — optimizer/PushFilterDownTraverseRule.feature pins
    # `v, e, v2`)
    returns: list[A.YieldItem] = []
    for y in rets_in:
        if y.expr != ("star",):
            returns.append(y)
            continue
        # bindings surface in PATTERN order (the reference pins
        # `me, both, he` for two joined MATCHes), not joined-frame
        # order: walk the clauses for first-introduction order, then
        # fall back to frame order for anything else
        pattern_order: list[str] = []

        def _intro(a):
            if a and not a.startswith("_") and a not in pattern_order:
                pattern_order.append(a)
        for cl in st.clauses:
            if isinstance(cl, A.WithClause):
                # WITH re-defines the binding order: its ITEM order is
                # what RETURN * follows afterwards (MultiQueryParts
                # "Optional Match" pins `…, e5, v3` per the WITH list)
                neworder: list[str] = []
                for it in cl.items:
                    if it.expr == ("star",):
                        neworder.extend(a for a in pattern_order
                                        if a not in neworder)
                        continue
                    nm = it.alias or (
                        it.expr[1] if isinstance(it.expr, tuple)
                        and it.expr and it.expr[0] == "name" else None)
                    if nm and not nm.startswith("_")                             and nm not in neworder:
                        neworder.append(nm)
                pattern_order[:] = neworder
                continue
            for p in getattr(cl, "paths", None) or []:
                for k, nd in enumerate(p.nodes):
                    _intro(nd.alias)
                    if k < len(p.edges):
                        _intro(p.edges[k].alias)
                # the path alias registers AFTER its pattern's own
                # aliases (MatchById.feature "return path" pins `n, p`)
                _intro(p.path_alias)
            _intro(getattr(cl, "alias", None))
        seen: set[str] = set()
        frame: list[str] = []
        plain: list[str] = []
        for c in cur.columns:
            if c.startswith("_ob"):      # hidden WITH-ORDER-BY sort keys
                continue
            if "__" in c:
                a = c.split("__", 1)[0]
                if a.startswith("_"):    # anonymous `_eN` hop — hidden
                    continue
                if a in (bound | ebound | pbound) and a not in seen:
                    seen.add(a)
                    frame.append(a)
            else:
                plain.append(c)
        # bindings AND plain projected columns share one introduction
        # order (With.feature "duplicate columns" pins `v2, likeness,
        # v3` — the WITH-aliased aggregate sits between the bindings)
        merged = frame + plain
        merged.sort(key=lambda a: (pattern_order.index(a)
                                   if a in pattern_order
                                   else len(pattern_order)))
        returns.extend(A.YieldItem(("name", a), a) for a in merged)

    def ret_col(y: A.YieldItem, i: int):
        # RETURN p (bare path alias) → the path value as a struct of the
        # engine's convention (start vid + hop list; SURVEY §1.1 Path)
        if y.expr[0] == "name" and y.expr[1] in pbound \
                and f"{y.expr[1]}__path" in cur.columns:
            a = y.expr[1]
            return F.struct(
                F.col(f"{a}__start").alias("start"),
                F.col(f"{a}__path").alias("hops")).alias(y.alias or a)
        # RETURN v (bare bound alias) → the full vertex value as a struct
        # (vid + props), the openCypher node return (SURVEY §1.1 Vertex)
        if y.expr[0] == "name" and y.expr[1] in bound \
                and y.alias in (None, y.expr[1]):
            a = y.expr[1]
            # key binding ({a}___vid, meta namespace) leads as field
            # `vid`; a user PROP named vid (legal since the r8 key
            # namespacing) stays under its own binding and is skipped
            # here — one `vid` field, the identity, like the reference's
            # Vertex value where props live in per-tag maps
            fields = [F.col(f"{a}___vid").alias("vid")] \
                if f"{a}___vid" in cur.columns else []
            fields += [F.col(c).alias(c.split("__", 1)[1])
                       for c in cur.columns if c.startswith(f"{a}__")
                       and not c.startswith(f"{a}___")
                       and (not fields or c != f"{a}__vid")]
            v = F.struct(*fields)
            if f"{a}___vid" in cur.columns:
                # an OPTIONAL-MATCH miss renders NULL, not a struct of
                # NULL fields (MultiQueryParts.feature "Optional Match")
                v = F.when(F.col(f"{a}___vid").isNull(),
                           F.lit(None)).otherwise(v)
            return v.alias(y.alias or a)
        return ec.col(y.expr).alias(_yname(y, i))

    items = [(i, y, ret_col(y, i)) for i, y in enumerate(returns)]
    has_agg = any(_is_agg(y.expr) for _, y, _ in items)
    if has_agg:
        keys = [c for _, y, c in items if not _is_agg(y.expr)]
        aggs = [_compile_mixed_agg(y.expr, ec).alias(_yname(y, i))
                for i, y, _ in items if _is_agg(y.expr)]
        out = cur.groupBy(*keys).agg(*aggs) if keys else cur.agg(*aggs)
        # groupBy().agg() emits keys-then-aggregates; restore the WRITTEN
        # item order (`RETURN count(v2), v1` must lead with the count —
        # found by the r8 optimizer-results sweep). Backtick-quote the
        # names: bare access (df[name] / df[ordinal] both resolve by
        # name) splits expression-text names on dots ("v.player.name"
        # reads as a nested-field path and raises).
        names = [_yname(y, i) for i, y, _ in items]
        if len(set(names)) == len(names) and set(names) == set(out.columns) \
                and names != out.columns:
            out = out.select(
                *[F.col("`" + n.replace("`", "``") + "`") for n in names])
    else:
        out = cur.select(*[c for _, _, c in items])
    if st.distinct:
        out = out.distinct()
    if st.order_by:
        # OrderByValidator: a RETURN-tail sort item must NAME an output
        # column — `ORDER BY v.player.age` after `RETURN … AS Age` is
        # "Only column name can be used as sort item" (Base.feature
        # "Order by vertex prop"; MatchById "order skip limit"). The
        # expression-text rendering covers unaliased columns that are
        # literally named `v.player.age`.
        out_names = set(out.columns)
        order_cols = []
        for e, asc in st.order_by:
            if e[0] == "lit":
                # evaluable sort items are no-ops, not errors — the
                # reference SKIPS them (MatchValidator::validateOrderBy:
                # `if (isEvaluableExpr(factorExpr)) continue;`), which is
                # how `ORDER BY v, $p3` with a substituted parameter
                # constant passes (parameter.feature [param-test-004])
                continue
            name = e[1] if e[0] == "name" else _expr_text(e)
            if name is None or name not in out_names:
                raise ValueError(
                    "Only column name can be used as sort item")
            c = F.col("`" + name.replace("`", "``") + "`")
            # reference Value ordering: NULLVALUE is the largest type tag
            # (Value.h:64-83) — NULL last ascending, first descending
            order_cols.append(c.asc_nulls_last() if asc
                              else c.desc_nulls_first())
        out = out.orderBy(*order_cols)
    if st.skip:
        out = out.offset(st.skip)
    if st.limit is not None:
        out = out.limit(st.limit)
    return out


def _exec_unwind(st: A.UnwindStmt, piped: DataFrame | None,
                 spark) -> DataFrame:
    """UNWIND list → rows (``UnwindExecutor.cpp:12-54``): plain explode —
    empty lists drop, matching the reference; non-list exprs pass through
    as a single row. With piped input the other columns are kept
    (``fromPipe`` semantics)."""
    def resolve(kind, *args):
        if kind in ("input_prop", "name"):
            return F.col(args[0])
        raise ValueError(f"unresolvable {kind} in UNWIND")
    col = ExprCompiler(resolve).col(st.expr)
    if piped is None:
        piped = spark.range(1).select()
    lit_list = st.expr[0] == "list" or (
        st.expr[0] == "lit" and isinstance(st.expr[1], list))
    if lit_list or st.expr[0] == "call":
        return piped.select("*", F.explode(col).alias(st.alias))
    # column ref: explode only if it is an array column, else passthrough
    ref = st.expr[1] if st.expr[0] in ("input_prop", "name") else None
    if ref is not None and dict(piped.dtypes).get(ref, "").startswith("array"):
        return (piped.select("*", F.explode(col).alias(st.alias))
                .drop(ref) if ref != st.alias else
                piped.withColumn(st.alias, F.explode(col)))
    return piped.withColumn(st.alias, col)


def _cast_like(df: DataFrame, table: DataFrame) -> DataFrame:
    """Align a literal-built frame to the table's column types."""
    dt = dict(table.dtypes)
    return df.select(*[F.col(c).cast(dt[c]) if c in dt else F.col(c)
                       for c in df.columns])


_REBIND_CHECKPOINT_EVERY = 8
_STATS_RESET_MAX_ROWS = 20_000


def _stats_reset(df: DataFrame, n: int) -> DataFrame:
    """Rebuild a SMALL materialized frame as a LocalRelation so Catalyst
    stats restart from REAL bytes.

    localCheckpoint severs LINEAGE but PRESERVES the child plan's
    sizeInBytes estimate (LogicalRDD keeps originStats), and an UPDATE
    plan joins the table with a table-derived side (update_rows:
    table ⋈ updates) — so the estimate SQUARES per statement. By ~20
    sequential UPDATEs the BigInt product has millions of digits and
    the driver burns minutes inside SizeInBytesOnlyStatsPlanVisitor's
    Toom-Cook multiplications (r10 finding: the shared-space UPDATE
    race hung the whole suite; reproduced single-threaded — digit
    counts 58→133→285→588→1194→2407→4832 over six statements). A
    collect + ``local_frame`` on the already-materialized rows is one
    cheap driver pass for DML-sized frames and fully resets the
    estimate (a ``createDataFrame`` list would be a LogicalRDD sized
    at Long.MaxValue); larger frames keep the checkpoint (their stats
    then grow only linearly — the keys side is a real-stats
    LocalRelation)."""
    if 0 <= n <= _STATS_RESET_MAX_ROWS:
        return local_frame(df.sparkSession, df.collect(), df.schema)
    return df


def _rebind(space: GraphSpace, name: str, is_edge: bool,
            new_df: DataFrame, **changes) -> None:
    """Swap a tag/edge table for its mutated version.

    The new def is a ``dataclasses.replace`` of the old one, so every
    field the statement does not name (TTL, declared types, defaults,
    comments, dropped-column history, …) carries over; ``changes`` are
    the def fields an ALTER sets along with the new frame.

    **Path-backed tables write through** (r9): when the def carries a
    parquet ``path``, the mutation is committed to disk per statement via
    :func:`~nebula_spark.operators.mutate.commit_table` (atomic tmp+swap)
    — the reference persists every mutation the same way
    (``AddVerticesProcessor.cpp``: a RocksDB write per statement). The new
    def carries the written frame's schema, and the statement's handle on
    the table is dropped: its next read, and every later statement, opens
    the committed files with that schema and infers nothing. A commit
    that raises leaves the old files and the old def in place. df-backed
    (test/bench) spaces stay in-memory.

    Lineage truncation (r8 deep-fuzz finding, df-backed lane): every
    mutation stacks an anti-join + union on the previous PLAN, so a
    long-running session issuing hundreds of DML statements grows an
    analyzer tree whose resolution OOMs the JVM (reproduced at ~390
    mutations on a 5-row table — the cost is in Catalyst, not the
    data). The analog of the reference's per-statement storage write is
    an eager localCheckpoint every ``_REBIND_CHECKPOINT_EVERY``
    mutations per table, bounding the live plan depth while keeping
    single-statement scripts zero-cost."""
    defs = space.edges if is_edge else space.tags
    d = defs[name]
    if d.path is not None:
        from nebula_spark.operators.mutate import commit_table
        schema = read_back_schema(new_df.schema)
        commit_table(new_df, d.path)       # materializes BEFORE the swap
        drop_opened(d.path)
        defs[name] = dataclasses.replace(d, schema=schema, **changes)
        return
    counts = getattr(space, "_mut_counts", None)
    if counts is None:
        counts = space._mut_counts = {}
    k = (is_edge, name)
    counts[k] = counts.get(k, 0) + 1
    if counts[k] % _REBIND_CHECKPOINT_EVERY == 0:
        from nebula_spark.operators.traverse import checkpoint_count
        new_df, n = checkpoint_count(new_df)
        # reset Catalyst's size estimate too — it rides through the
        # checkpoint and compounds across statements (see _stats_reset)
        new_df = _stats_reset(new_df, n)
    defs[name] = dataclasses.replace(d, df=new_df, **changes)


def _default_col(text, dtype: str) -> Column:
    """A DDL DEFAULT value → Column: constant expressions (including
    temporal constructors like datetime("…")) compile through the
    expression pipeline; anything else is a literal cast. The DDL parser
    strips quotes, so a bare word falls back to a string literal."""
    try:
        e = A.Parser(A.tokenize(str(text))).expr()

        def refuse(*_a):
            raise ValueError("non-constant default")
        return ExprCompiler(refuse).col(e).cast(dtype)
    except Exception:
        return F.lit(text).cast(dtype)


def _compile_const_expr(text: str, kind: str):
    """One constant-expression probe column: `date("…")`, `time()`,
    `duration({…})` … compiled via the ExprCompiler with every resolver
    refused (non-constant input is a ValueError), then shaped for
    storage — TIME renders the reference's canonical 'HH:MM:SS.ffffff'
    (InsertWithTimeType.feature), DURATION the stable months+seconds
    pair (Duration.h), everything else casts to the column type."""
    e = A.Parser(A.tokenize(str(text))).expr()

    def _refuse(*_a):
        raise ValueError("non-constant value")
    col = ExprCompiler(_refuse).col(e)
    if kind == "time":
        # NULL-struct guard: a failed time() parse must surface as
        # NULL, not a formatted zero-string (mismatched offset+zone)
        return F.when(col.isNotNull(), F.format_string(
            "%02d:%02d:%09.6f", col["hour"], col["minute"],
            col["sec"].cast("double")))
    if kind == "duration":
        return F.format_string("P%dMT%dS", col["months"],
                               col["seconds"].cast("long"))
    return col.cast(kind)


def _eval_const_exprs(space: GraphSpace, data: list, cols: list[str],
                      decl_ref: dict, dt0: dict) -> list:
    """Evaluate every distinct constant expression of one INSERT in a
    SINGLE `range(1).select(*probes)` job (the r6 verdict's nit: a batch
    with N distinct `datetime("…")` values paid N driver round-trips —
    same class as the UPDATE probe that rides the merge job). The error
    surface is preserved exactly: on ANY batch failure, fall back to
    per-expression probes in first-occurrence order so the first bad
    value raises its own reference error (Wrong value type / Storage
    Error), as before."""
    keys: list[tuple] = []              # first-occurrence order
    for row in data:
        for i, v in enumerate(row):
            if isinstance(v, tuple) and len(v) == 2 \
                    and v[0] == "__const_expr__":
                t = decl_ref.get(cols[i])
                k = (v[1], t if t in ("time", "duration")
                     else dt0.get(cols[i], "string"))
                if k not in keys:
                    keys.append(k)
    probes = [_compile_const_expr(t, kind) for t, kind in keys]

    def _none_check(k, got):
        fn0 = str(k[0]).strip().split("(", 1)[0].strip().lower()
        if got is None and fn0 in ("date", "time", "datetime",
                                   "timestamp") \
                and "null" not in str(k[0]).lower():
            # a temporal constructor that fails to parse — e.g. a
            # mismatched offset+zone pair — is the reference's value
            # error (InsertWithTimeType.feature "Wrong value type")
            raise ValueError(f"Wrong value type: {k[0]}")

    cache: dict = {}
    try:
        got = space.spark.range(1).select(
            *[c.alias(f"_c{j}") for j, c in enumerate(probes)]).collect()[0]
        for j, k in enumerate(keys):
            _none_check(k, got[f"_c{j}"])
            cache[k] = got[f"_c{j}"]
    except ValueError:
        raise
    except Exception:
        # one probe poisoned the batch — re-run per key, in order, so
        # the FIRST uncastable value raises the reference's storage
        # type error (InsertDurationType.feature), exactly as the
        # per-expression path did
        cache = {}
        for k, c in zip(keys, probes):
            try:
                got1 = space.spark.range(1).select(
                    c.alias("v")).collect()[0]["v"]
            except Exception:
                raise ValueError(
                    "Storage Error: The data type does not meet the "
                    "requirements. Use the correct type of data.") \
                    from None
            _none_check(k, got1)
            cache[k] = got1
    fixed = []
    for row in data:
        row = list(row)
        for i, v in enumerate(row):
            if isinstance(v, tuple) and len(v) == 2 \
                    and v[0] == "__const_expr__":
                t = decl_ref.get(cols[i])
                row[i] = cache[(v[1], t if t in ("time", "duration")
                                else dt0.get(cols[i], "string"))]
        fixed.append(tuple(row))
    return fixed


def _exec_insert(space: GraphSpace, st: A.InsertStmt) -> DataFrame:
    from nebula_spark.operators.mutate import insert_rows
    if st.is_edge and st.props_all:
        # `INSERT EDGE e VALUES …` — all declared props in decl order
        # (parser.yy:3141-3146 setDefaultPropNames)
        d = space.edges.get(st.name)
        if d is None:
            raise ValueError(f"EdgeNotFound: EdgeName `{st.name}`")
        ps = [c for c, _t in d.decl] if d.decl else             [c for c in space.edge(st.name).columns
             if c not in (SRC, DST, RANK)]
        st = A.InsertStmt(True, st.name, ps, st.rows, st.if_not_exists)
    if not st.is_edge and (st.extra_specs or st.props_all):
        # multi-tag / no-parens forms (vertex_tag_list,
        # MutateSentences.h:128-160; Insert.feature "insert vertex with
        # multi tags"): each row's value tuple concatenates the specs'
        # props in order; a no-parens spec takes every DECLARED prop
        specs = [(st.name, None if st.props_all else st.props)] \
            + list(st.extra_specs or [])
        resolved = []
        for n, ps in specs:
            if ps is None:
                d = space.tags.get(n)
                if d is None:
                    raise ValueError(f"TagNotFound: TagName `{n}`")
                ps = [c for c, _t in d.decl] if d.decl else \
                    [c for c in space.tag(n).columns if c != VID]
            resolved.append((n, ps))
        total = sum(len(ps) for _n, ps in resolved)
        for r in st.rows:
            if len(r[1]) != total:
                raise ValueError("Column count doesn't match value count.")
        out, off = None, 0
        for n, ps in resolved:
            sub = [(r[0], list(r[1][off:off + len(ps)])) for r in st.rows]
            out = _exec_insert(space, A.InsertStmt(
                False, n, ps, sub, st.if_not_exists))
            off += len(ps)
        return out
    # every VALUES row must carry exactly len(props) values — the
    # reference's MutateValidator refusal (MutateValidator.cpp:105,224;
    # found by fuzzing: a short row crashed with IndexError)
    for r in st.rows:
        vals = r[3] if st.is_edge else r[1]
        if len(vals) != len(st.props):
            raise ValueError("Column count doesn't match value count.")
    table = space.edge(st.name) if st.is_edge else space.tag(st.name)
    # const function-call keys — INSERT … VALUES hash("Tom"):(…)
    # (Insert.IntVid.feature) — resolve in one probe job
    key = [SRC, DST, RANK] if st.is_edge else [VID]
    cols = [*key, *st.props]
    data = [(*r[:-1], *r[-1]) for r in
            _literal_keys(space, st.rows, min(len(key), 2), dml=True)]
    # within-statement duplicate keys: VALUES apply in order against the
    # unique KV key, so IF NOT EXISTS keeps the FIRST occurrence and plain
    # INSERT keeps the LAST (InsertIfNotExists.feature "Conan" rows)
    nkey = len(key)
    seen: dict = {}
    for row in (data if st.if_not_exists else reversed(data)):
        seen.setdefault(tuple(row[:nkey]), row)
    data = [seen[k] for k in ({tuple(r[:nkey]): None for r in data})]
    defn0 = (space.edges if st.is_edge else space.tags).get(st.name)
    # constant-expression values (("__const_expr__", text) markers from
    # the parser — `date()`, `datetime("…")`) evaluate ONCE on the driver
    # through the same pipeline as DDL defaults (CompareDate.feature)
    dt0 = dict(table.dtypes)
    # time-dependent columns accept only NULL or constructor expressions
    # (date()/time()/datetime(), which arrive as __const_expr__ markers) —
    # a raw string literal is the reference's storage-side type error
    # (InsertWithTimeType.feature "insert wrong format timestamp");
    # timestamp additionally takes raw int64 epochs (TTL fixtures)
    if defn0 is not None and defn0.decl:
        _temporal = {c: str(t).strip().lower() for c, t in defn0.decl
                     if str(t).strip().lower() in
                     ("date", "time", "datetime", "timestamp", "duration")
                     or str(t).strip().lower().startswith("geography")}
        if _temporal:
            idx = {c: i for i, c in enumerate(cols)}
            for row in data:
                for c, t in _temporal.items():
                    i = idx.get(c)
                    v = row[i] if i is not None else None
                    if v is None:
                        continue
                    if isinstance(v, tuple) and len(v) == 2 \
                            and v[0] == "__const_expr__":
                        # constructor kind must match the column type:
                        # date(…) into a datetime column is the same
                        # storage type error
                        # (InsertMismatchedTypeDateTime.feature)
                        fn = str(v[1]).strip().split("(", 1)[0] \
                            .strip().lower()
                        if fn in ("date", "time", "datetime",
                                  "timestamp", "duration") and fn != t:
                            raise ValueError(
                                "Storage Error: The data type does not "
                                "meet the requirements. Use the correct "
                                "type of data.")
                        continue
                    if t == "timestamp" and isinstance(v, int) \
                            and not isinstance(v, bool):
                        continue
                    raise ValueError(
                        "Storage Error: The data type does not meet the "
                        "requirements. Use the correct type of data.")
    decl_ref = {c: str(t).strip().lower() for c, t in defn0.decl} \
        if defn0 is not None and defn0.decl else {}
    # scalar VALUES type strictness beyond temporals: a string literal
    # into an int column (or vice versa) is the reference's storage
    # type error, never a silent cast-to-null
    # (parameter.feature [param-test-013]: `player(age, name)
    # values "1":($p6.c, $p1+40)` with c a string must refuse)
    type_src = decl_ref or {
        c: t for c, t in table.dtypes if not c.startswith("_")}
    if type_src:
        idx = {c: i for i, c in enumerate(cols)}
        _want = {"int": int, "int64": int, "int32": int, "int16": int,
                 "int8": int, "bool": bool, "string": str,
                 "fixed_string": str,
                 # spark dtype spellings (df-backed spaces with no DDL)
                 "bigint": int, "smallint": int, "tinyint": int,
                 "boolean": bool, "varchar": str}
        for row in data:
            for c, t in type_src.items():
                base_t = t.split("(", 1)[0]
                py = _want.get(base_t)
                i = idx.get(c)
                v = row[i] if i is not None else None
                if py is None or v is None or isinstance(v, tuple):
                    continue
                if py is int and isinstance(v, bool):
                    ok = False
                elif py is int and isinstance(v, float):
                    ok = True            # reference coerces float→int
                else:
                    ok = isinstance(v, py)
                if not ok:
                    raise ValueError(
                        "Storage Error: The data type does not meet "
                        "the requirements. Use the correct type of "
                        "data.")
    if any(isinstance(v, tuple) and len(v) == 2
           and v[0] == "__const_expr__" for row in data for v in row):
        data = _eval_const_exprs(space, data, cols, decl_ref, dt0)
    # geography columns: the evaluated value must be valid WKT, and a
    # shape-constrained column takes only its own shape
    # (GeoBase.feature "test geo CURD" — wrong shape is the same
    # storage type error as a raw string)
    _geo_cols = {c: t for c, t in decl_ref.items()
                 if t.startswith("geography")}
    if _geo_cols:
        from nebula_spark.functions.geo import wkt_normalize, wkt_shape
        idxg = {c: i for i, c in enumerate(cols)}
        fixed = []
        for row in data:
            row = list(row)
            for c, t in _geo_cols.items():
                i = idxg.get(c)
                v = row[i] if i is not None else None
                if v is None:
                    continue
                shape = wkt_shape(v)
                want = t[len("geography"):].strip("()").upper() or None
                if shape is None or (want and shape != want):
                    raise ValueError(
                        "Storage Error: The data type does not meet the "
                        "requirements. Use the correct type of data.")
                row[i] = wkt_normalize(v)
            fixed.append(tuple(row))
        data = fixed
    # all-NULL prop columns defeat local_frame's type inference —
    # pull them out and re-add as typed nulls (an explicit NULL stores
    # NULL; it does NOT take the DDL default)
    all_null = [i for i, c in enumerate(cols)
                if i >= nkey and all(r[i] is None for r in data)]
    null_cols = [cols[i] for i in all_null]
    for c in null_cols:
        if defn0 is not None and c in (defn0.required or []):
            raise ValueError(
                f"The property `{c}' is not nullable and has "
                "no default value.")
    if all_null:
        keep = [i for i in range(len(cols)) if i not in all_null]
        cols = [cols[i] for i in keep]
        data = [tuple(r[i] for i in keep) for r in data]
    # integer columns take float values by ROUNDING half away from zero
    # (RowWriterV2 setValue: 3.8 → 4, -3.8 → -4 — bugfix/RoundFloat
    # .feature), and the PRE-rounding value must fit the declared width
    # (2147483647.1 into int32 is "Storage Error: Out of range value.")
    _INT_BITS = {"int8": 7, "int16": 15, "int32": 31,
                 "int64": 63, "int": 63}
    if defn0 is not None and defn0.decl:
        import math as _math
        ranges = {}
        for colname, rt in defn0.decl:
            b = _INT_BITS.get(str(rt).strip().lower())
            if b:
                ranges[colname] = (-(2 ** b), 2 ** b - 1)
        if ranges:
            idx = {c: i for i, c in enumerate(cols)}
            fixed = []
            for row in data:
                row = list(row)
                for colname, (lo, hi) in ranges.items():
                    i = idx.get(colname)
                    if i is None or row[i] is None:
                        continue
                    v = row[i]
                    if isinstance(v, bool) or not isinstance(v,
                                                             (int, float)):
                        continue
                    if v < lo or v > hi:
                        raise ValueError(
                            "Storage Error: Out of range value.")
                    if isinstance(v, float):
                        row[i] = int(_math.floor(v + 0.5)) if v >= 0 \
                            else int(_math.ceil(v - 0.5))
                fixed.append(tuple(row))
            data = fixed
    rows = local_frame(space.spark, data, cols)
    dt = dict(table.dtypes)
    for c in null_cols:
        rows = rows.withColumn(c, F.lit(None).cast(dt.get(c, "string")))
    dflts = (defn0.defaults or {}) if defn0 is not None else {}
    for c in table.columns:
        if c not in rows.columns:
            if c in dflts:
                # DDL DEFAULT expression fills omitted props
                # (MultiUpdate.feature student_default; TimeDefaultValue)
                rows = rows.withColumn(
                    c, _default_col(dflts[c], dt[c]))
            else:
                if c in (defn0.required or []) if defn0 is not None \
                        else False:
                    raise ValueError(
                        f"The property `{c}' is not nullable and has "
                        "no default value.")
                rows = rows.withColumn(c, F.lit(None).cast(dt[c]))
    # FIXED_STRING(N) truncates to N bytes at whole-codepoint boundaries
    # (FetchEmpty.feature: a 5-byte column stores one 4-byte emoji):
    # keep the longest codepoint prefix whose UTF-8 length fits
    import re as _rex
    defn = (space.edges if st.is_edge else space.tags).get(st.name)
    for col, rt in (defn.decl or []) if defn is not None else []:
        m = _rex.match(r"fixed_string\((\d+)\)", rt)
        if m and col in rows.columns:
            n = int(m.group(1))
            c = F.col(col)
            k = F.aggregate(
                F.sequence(F.lit(1), F.char_length(c)), F.lit(0),
                lambda acc, i: F.when(
                    F.octet_length(F.substring(c, F.lit(1), i))
                    <= F.lit(n), i).otherwise(acc))
            rows = rows.withColumn(col, F.substring(c, F.lit(1), k))
    new = insert_rows(table, _cast_like(rows, table), key, st.if_not_exists)
    _rebind(space, st.name, st.is_edge, new)
    return space.spark.range(0)


def _update_wrong_expr(st: A.UpdateStmt) -> None:
    """UpdateValidator symbol check (UpdateValidator.cpp
    checkAndResetSymExpr): an UPDATE/UPSERT EDGE may only reference the
    updated edge's props — any `$^`/`$$` vertex expression is a
    SemanticError ("2.0 storage not support update edge can use
    vertex", Update.feature:142+); an UPDATE VERTEX additionally
    forbids `$$` ("the $$.TagName.PropName expressions are not allowed
    in any update sentence", Update.IntVid.feature:229). Clauses
    validate SET → WHEN → YIELD (Update.IntVid.feature:237 reports the
    SET's `($$.course.credits+1)` though WHEN/YIELD are also wrong) and
    the error carries the clause's Expression::toString text — raised
    BEFORE any mutation, so the stored row stays untouched."""
    kinds = {"src_prop", "dst_prop", "src_vert", "dst_vert"} \
        if st.is_edge else {"dst_prop", "dst_vert"}

    def bad(e) -> bool:
        if isinstance(e, tuple):
            if e and e[0] in kinds:
                return True
            return any(bad(x) for x in e)
        if isinstance(e, list):
            return any(bad(x) for x in e)
        return False

    for e in ([e for _, e in st.sets]
              + ([st.when] if st.when is not None else [])
              + [it.expr for it in (st.yields or [])]):
        if bad(e):
            raise ValueError(
                f"Has wrong expr in `{_expr_text(e) or '...'}'")


def _exec_update(space: GraphSpace, st: A.UpdateStmt,
                 piped: DataFrame | None = None,
                 env: dict[str, DataFrame] | None = None) -> DataFrame:
    from nebula_spark.operators.mutate import update_rows
    _update_wrong_expr(st)
    table = space.edge(st.name) if st.is_edge else space.tag(st.name)
    key = [SRC, DST, RANK] if st.is_edge else [VID]
    # runtime-input keys (LookUpUpdate.feature `LOOKUP … | UPDATE VERTEX
    # ON t $-.id SET …`) update each key once
    keys_df = _key_frame(space, key, st.var or st.keys,
                         (st.src_col, st.dst_col, st.rank_col), piped, env,
                         dml=True)
    keys_df = _cast_like(keys_df.distinct() if st.var else keys_df, table)
    # SET expressions evaluate against the stored row (UpdateExecutor
    # read-modify-write). UPSERT initializes a MISSING key's props from
    # the schema DEFAULTS (UpdateNode.h:84), so later SET exprs read them
    # ($^.student_default.birthday + 1 = 2011, Update.feature "115"-"117");
    # plain UPDATE on a missing key is the reference's storage error.
    defn_u = (space.edges if st.is_edge else space.tags).get(st.name)
    base = keys_df.join(table.withColumn("__exists", F.lit(True)),
                        key, "left")
    # frame attached → schema-directed dispatch (list `+` concat,
    # SET-fn vs string-REPLACE resolution on List/Set props)
    ec = ExprCompiler(lambda kind, *a: F.col(a[-1] if kind != "name"
                                             else a[0]), df=base)
    dt = dict(table.dtypes)
    if st.insertable and defn_u is not None:
        for p, text in (defn_u.defaults or {}).items():
            base = base.withColumn(
                p, F.when(F.col("__exists").isNull(),
                          _default_col(text, dt[p])).otherwise(F.col(p)))
    # WHEN guard (UpdateExecutor condition_): a failing row keeps its old
    # values but still flows through (and still YIELDs, per Update.feature);
    # for an UPSERT's insert path the filter is vacuously true (the
    # condition reads a row that does not exist yet)
    guard = None
    if st.when is not None:
        # the WHEN condition must be statically Boolean
        # (UpdateValidator deduce: `WHEN 123` → "`123', expected
        # Boolean, but was `INT'", Update.feature:247-287)
        from pyspark.sql.types import (BooleanType, NullType,
                                       IntegralType, FractionalType,
                                       StringType as _Str)
        try:
            wt = base.select(ec.col(st.when).alias("_w")) \
                     .schema[0].dataType
        except Exception:  # noqa: BLE001 — let the guard itself raise
            wt = None
        if wt is not None and not isinstance(wt, (BooleanType, NullType)):
            tn = ("INT" if isinstance(wt, IntegralType) else
                  "FLOAT" if isinstance(wt, FractionalType) else
                  "STRING" if isinstance(wt, _Str) else
                  wt.simpleString().upper())
            raise ValueError(f"`{_expr_text(st.when) or '...'}', "
                             f"expected Boolean, but was `{tn}'")
        guard = ec.col(st.when).cast("boolean")
        if st.insertable:
            guard = F.col("__exists").isNull() | guard
        base = base.withColumn("__guard", guard)
        guard = F.col("__guard")

    # SET clauses apply IN ORDER with visibility of prior sets
    # (Update.feature "117": age reads the already-bumped birthday)
    _decl_upd = {c: str(t).strip().lower() for c, t in (defn_u.decl or [])} \
        if (defn_u := (space.edges if st.is_edge
                       else space.tags).get(st.name)) is not None else {}
    for p, e in st.sets:
        v = ec.col(e)
        if _decl_upd.get(p) == "time":
            # Time(…) SET values store the canonical HH:MM:SS.ffffff
            # rendering, same as the INSERT path
            # (InsertWithTimeType.feature UPDATE scenarios)
            from pyspark.sql.types import StructType as _ST
            try:
                probe = base.select(v.alias("_probe")).schema[0].dataType
                if isinstance(probe, _ST) and "hour" in probe.fieldNames():
                    v = F.format_string("%02d:%02d:%09.6f", v["hour"],
                                        v["minute"],
                                        v["sec"].cast("double"))
            except Exception:  # noqa: BLE001 — non-struct SET value
                pass
        # SET value type strictness: a statically-string value into a
        # numeric column is the reference's STORAGE-side type error —
        # raised only when a row actually takes the bad value, so a
        # false WHEN guard keeps the statement successful
        # (parameter.feature [param-test-013]: `set likeness =
        # likeness+$p6.c when likeness>300` succeeds, `when
        # likeness<300` refuses)
        from pyspark.sql.types import NumericType, StringType
        try:
            probe_t = base.select(v.alias("_t")).schema[0].dataType
        except Exception:  # noqa: BLE001 — unresolvable probes keep going
            probe_t = None
        want = dt.get(p, "")
        # json_extract(s)[key] carries the JSON value's OWN type in the
        # reference (its Value map is dynamically typed —
        # SubscriptInUpdate.feature sets an int column from ['b']); our
        # map<string,string> encoding makes the probe statically string,
        # so exempt that provenance and let the numeric cast decide
        dyn_json = (isinstance(e, tuple) and e[0] == "subscript"
                    and isinstance(e[1], tuple)
                    and e[1][0] in ("call", "call_distinct")
                    and str(e[1][1]).lower() == "json_extract")
        bad_type = (not dyn_json) and (
            (isinstance(probe_t, StringType)
             and want.startswith(("bigint", "int", "smallint",
                                  "tinyint", "double", "float",
                                  "boolean"))) or
            (isinstance(probe_t, NumericType) and want == "string"))
        # typed-container SETs: `hobby + [3525]` over a List< string >
        # prop coerces to array<bigint> in Spark's analysis — the
        # element-kind flip is the reference's storage type refusal
        # (Update.feature:1239 "Invalid data, may be wrong value type")
        from pyspark.sql.types import ArrayType as _Arr
        if not bad_type and not dyn_json and want.startswith("array<") \
                and isinstance(probe_t, _Arr):
            el_want = want[len("array<"):-1]
            el_got = probe_t.elementType
            bad_type = (
                (isinstance(el_got, StringType)
                 and el_want in ("bigint", "int", "smallint", "tinyint",
                                 "double", "float", "boolean")) or
                (isinstance(el_got, NumericType) and el_want == "string"))
        if bad_type:
            hit = base if guard is None else base.filter(guard)
            if hit.limit(1).count() > 0:
                raise ValueError("Storage Error: Invalid data, may be "
                                 "wrong value type.")
            continue                     # guard excluded every row
        v = v.cast(dt[p])
        if guard is not None:
            v = F.when(guard, v).otherwise(F.col(p))
        base = base.withColumn(p, v)
    # carry EVERY prop column so an UPSERT's inserted row keeps its
    # default-initialized values, not NULLs
    updates = base.select(*key,
                          *[c for c in table.columns if c not in key],
                          "__exists")
    # the refused-row count rides the SAME job that materializes the
    # update rows (checkpoint_observe), so one UPDATE is one Spark action
    # (r5 verdict item 6) and an N-statement script's table lineage stays
    # flat; the stats reset keeps the table ⋈ updates(table-derived) join
    # from SQUARING its sizeInBytes estimate per statement. A plain
    # UPDATE refuses a missing key; an UPSERT refuses an inserted row
    # that leaves a NOT NULL/no-default field NULL (Update.feature:355)
    from nebula_spark.operators.traverse import checkpoint_observe
    bad = F.col("__exists").isNull()
    if st.insertable:
        nulls = F.lit(False)
        for p in (getattr(defn_u, "required", None) or []):
            if p in dt and p not in (defn_u.defaults or {}):
                nulls = nulls | F.col(p).isNull()
        bad = bad & nulls
    updates, m = checkpoint_observe(
        updates, bad=F.sum(F.when(bad, 1).otherwise(0)),
        n=F.count(F.lit(1)))
    if int(m["bad"] or 0) > 0:
        raise ValueError(
            "Storage Error: Invalid field value: may be the filed is not "
            "NULL or without default value or wrong schema."
            if st.insertable else "Storage Error: Vertex or edge not found.")
    updates = _stats_reset(updates, int(m["n"])).drop("__exists")
    new = update_rows(table, updates, key, st.insertable)
    _rebind(space, st.name, st.is_edge, new)
    if st.yields:
        post = keys_df.join(space.edge(st.name) if st.is_edge
                            else space.tag(st.name), key, "left")
        return post.select(*[ec.col(it.expr).alias(_yname(it, i))
                             for i, it in enumerate(st.yields)])
    return space.spark.range(0)


def _exec_delete(space: GraphSpace, st: A.DeleteStmt,
                 piped: DataFrame | None = None,
                 env: dict[str, DataFrame] | None = None) -> DataFrame:
    from nebula_spark.operators.mutate import delete_rows
    if st.kind == "edge":
        table = space.edge(st.name)
        keys_df = _key_frame(space, [SRC, DST, RANK], st.var or st.keys,
                             (st.src_col, st.dst_col, st.rank_col), piped,
                             env, dml=True)
        _rebind(space, st.name, True,
                delete_rows(table, _cast_like(keys_df, table),
                            [SRC, DST, RANK]))
        return space.spark.range(0)
    # vertex / tag share the vid-keyed shape
    vids = _key_frame(space, [VID], st.var or [(v,) for v in st.keys],
                      (st.src_col,), piped, env, dml=True)
    if st.var is not None:
        # the key frame fans out to EVERY tag table plus both edge
        # endpoints under WITH EDGE — each consumer re-embeds the whole
        # piped LOOKUP plan in the final action's tree. An explicit
        # distinct gives those copies an IDENTICAL Exchange subtree that
        # ReuseExchange collapses to one computation (guide §7.2), with
        # zero statement-time jobs — unlike a checkpoint: the eager one
        # was a measured regression twice (r11), and even a lazy one
        # materializes its shuffle stages at statement time under AQE.
        vids = vids.distinct()
    # DELETE TAG <names|*> FROM … (DeleteTagsSentence
    # MutateSentences.h:564-580) drops the tag rows only — the vertex
    # survives while any other tag still holds it (DeleteTag.feature "the
    # output has one row because the vertex has multiple tags")
    names = st.tags if st.kind == "tag" and st.tags is not None \
        else list(space.tags)
    for tname in names:
        if tname not in space.tags:
            raise ValueError(f"TagNotFound: TagName `{tname}`")
    for tname in names:
        t = space.tag(tname)
        _rebind(space, tname, False,
                delete_rows(t, _cast_like(vids, t), [VID]))
    if st.with_edge:
        ends = [(k, vids.withColumnRenamed(VID, k)) for k in (SRC, DST)]
        for ename in list(space.edges):
            e = e2 = space.edge(ename)
            for k, keys in ends:
                e2 = delete_rows(e2, _cast_like(keys, e), [k])
            # a USING anti-join on [DST] moves _dst first: keep the
            # committed column order
            _rebind(space, ename, True, e2.select(*e.columns))
    return space.spark.range(0)


def _exec_admin(space: GraphSpace, st: A.AdminStmt) -> DataFrame:
    """SHOW TAGS/EDGES/STATS, DESCRIBE TAG/EDGE — result shapes follow the
    reference executors (ShowTagsExecutor: one ``Name`` column;
    DescTagExecutor: Field/Type/Null; ShowStatsExecutor: Type/Name/Count)."""
    spark = space.spark
    if st.kind == "show_create":
        return _exec_show_create(space, st)
    if st.kind == "tags":
        return local_frame(spark, [(n,) for n in space.show_tags()],
                           "Name string")
    if st.kind == "edges":
        return local_frame(spark, [(n,) for n in space.show_edges()],
                           "Name string")
    if st.kind == "stats":
        return (space.show_stats()
                .select(F.col("kind").alias("Type"),
                        F.col("name").alias("Name"),
                        F.col("count").alias("Count")))
    if st.kind == "create_ft_index":
        # CREATE FULLTEXT TAG|EDGE INDEX (FulltextIndexUtils; the ES
        # listener is obsolete under Spark — functions/fulltext.py scans
        # natively — but the metadata lifecycle and type rules are real:
        # only string/fixed_string props are indexable, Unsupported!)
        name, schema, fieldname = st.name
        reg = space.tags if st.entity == "tag" else space.edges
        target = reg.get(schema)
        if target is None:
            raise ValueError(f"{schema} not found in space "
                             f"[{space.name}].")
        decl_t = {c: str(t).strip().lower() for c, t in (target.decl or [])}
        t = decl_t.get(fieldname)
        if t is None:
            raise ValueError("Key not existed!")
        if not (t == "string" or t.startswith("fixed_string")):
            raise ValueError("Unsupported!")
        fts = getattr(space, "ft_indexes", None)
        if fts is None:
            fts = space.ft_indexes = {}
        if name in fts:
            raise ValueError(f"Existed index `{name}'!")
        fts[name] = (st.entity, schema, fieldname)
        return space.spark.range(0)
    if st.kind == "show_ft_indexes":
        from pyspark.sql.types import StringType, StructField, StructType
        schema_t = StructType([
            StructField("Name", StringType()),
            StructField("Schema Type", StringType()),
            StructField("Schema Name", StringType()),
            StructField("Fields", StringType()),
            StructField("Analyzer", StringType())])
        rows_ = sorted((n, k.title(), s, f, "default")
                       for n, (k, s, f) in
                       getattr(space, "ft_indexes", {}).items())
        return local_frame(space.spark, rows_, schema_t)
    if st.kind == "rebuild_index":
        # REBUILD is a storage backfill job in the reference; Parquet
        # stats + Catalyst pushdown subsume the backfill, but the name
        # check and the STATUS record are kept (TagEdgeIndex.feature —
        # rebuilding an unknown index is a SemanticError)
        for n in st.name:
            ix = space.indexes.get(n)
            if ix is None or ix.kind != st.entity:
                raise ValueError(f"Index not existed: {n}")
        jobs = getattr(space, "_index_jobs", None)
        if jobs is None:
            jobs = space._index_jobs = []
        jobs.append((st.entity, ",".join(st.name), "FINISHED"))
        return space.spark.range(0)
    if st.kind == "index_status":
        # SHOW TAG/EDGE INDEX STATUS — one row per finished rebuild job
        from pyspark.sql.types import StringType, StructField, StructType
        schema = StructType([StructField("Name", StringType()),
                             StructField("Index Status", StringType())])
        rows_ = [(n, s) for k, n, s in getattr(space, "_index_jobs", [])
                 if k == st.entity]
        return local_frame(space.spark, rows_, schema)
    if st.kind == "show_indexes":
        # SHOW TAG/EDGE INDEXES [BY schema] (Index.feature: columns
        # `Index Name` / `By Tag`|`By Edge` / `Columns`; the BY form
        # drops the schema column)
        by = "By Tag" if st.entity == "tag" else "By Edge"
        items = sorted((ix.name, ix.on, ix.cols)
                       for ix in space.indexes.values()
                       if ix.kind == st.entity
                       and (st.name is None or ix.on == st.name))
        if st.name is not None:
            return local_frame(spark,
                [(n, c) for n, _, c in items],
                "`Index Name` string, Columns array<string>")
        return local_frame(spark,
            items, f"`Index Name` string, `{by}` string, "
                   "Columns array<string>")
    if st.kind == "show_create_index":
        # SHOW CREATE TAG/EDGE INDEX (Index.feature:105 — success +
        # re-runnable statement text)
        ix = space.indexes.get(st.name)
        if ix is None or ix.kind != st.entity:
            raise ValueError(f"Index not existed: {st.name}")
        specs = getattr(ix, "cols_spec", None) or ix.cols
        def _ixcol(c):
            m = re.match(r"(\w+)\s*\(\s*(\d+)\s*\)", c)
            if m:
                return f" `{m.group(1)}`({m.group(2)})"
            return f" `{c}`"
        body = ",\n".join(_ixcol(c) for c in specs)
        stmt = (f"CREATE {ix.kind.upper()} INDEX `{ix.name}` ON "
                f"`{ix.on}` (\n{body}\n)")
        if getattr(ix, "options", None):
            stmt += " WITH (" + ", ".join(
                f"{k} = {v}" for k, v in ix.options) + ")"
        if getattr(ix, "comment", None):
            stmt += f' comment "{ix.comment}"'
        label = f"{ix.kind.title()} Index Name"
        return local_frame(spark,
            [(ix.name, stmt)],
            f"`{label}` string, `Create {ix.kind.title()} Index` string")
    if st.kind == "describe_index":
        # DESCRIBE TAG/EDGE INDEX — Field/Type per indexed column with
        # the schema's declared type names (Index.feature:89-102)
        ix = space.indexes.get(st.name)
        if ix is None or ix.kind != st.entity:
            raise ValueError(f"Index not existed: {st.name}")
        reg = space.tags if ix.kind == "tag" else space.edges
        decl = dict((reg[ix.on].decl or []))
        return local_frame(spark,
            [(c, decl.get(c, "unknown")) for c in ix.cols],
            "Field string, Type string")
    # describe — the reference's DescTagExecutor shape: PROP rows only
    # (no vid/src/dst/rank keys), declared type names, Field/Type/Null/
    # Default/Comment (TypoError.feature pins the 5-column layout)
    reg = space.tags if st.entity == "tag" else space.edges
    if st.name not in reg:
        raise KeyError(f"no {st.entity} named {st.name!r}")
    d = reg[st.name]
    skip = {VID} if st.entity == "tag" else {SRC, DST, RANK}
    if d.decl is not None:
        data = [(c, rt, "NO" if c in (d.required or []) else "YES",
                 (_render_default((d.defaults or {})[c], rt).strip('"')
                  if c in (d.defaults or {}) else None),
                 (d.comments or {}).get(c)) for c, rt in d.decl]
    else:
        data = [(f, _REF_TYPE.get(t, t), "YES" if n else "NO",
                 None, None)
                for f, t, n in space.describe(st.name) if f not in skip]
    return local_frame(spark,
        data, "Field string, Type string, Null string, Default string, "
              "Comment string")


def _execute_node(space: GraphSpace, node,
                  env: dict[str, DataFrame] | None = None) -> DataFrame:
    if isinstance(node, A.SetOp):
        from nebula_spark.operators.setops import (intersect, minus,
                                                   union_all, union_distinct)
        left = _execute_node(space, node.left, env)
        right = _execute_node(space, node.right, env)
        if node.op == "union":
            return (union_distinct if node.dedup else union_all)(left, right)
        if node.op == "intersect":
            return intersect(left, right)
        return minus(left, right)
    return _execute_pipeline(space, node, env)


def _execute_pipeline(space: GraphSpace, pipeline: A.Pipeline,
                      env: dict[str, DataFrame] | None = None) -> DataFrame:
    df: DataFrame | None = None
    for k, st in enumerate(pipeline.stages):
        if df is not None and k < len(pipeline.stages) \
                and len(set(df.columns)) != len(df.columns):
            # a frame with duplicate output names cannot feed a pipe —
            # `$-.x` would be ambiguous (Validator::checkDuplicateColName;
            # GO.feature "duplicate column name")
            seen: set = set()
            dup = next(c for c in df.columns
                       if c in seen or seen.add(c))
            raise ValueError(f"SemanticError: Duplicate Column Name : "
                             f"`{dup}'")
        if isinstance(st, (A.Pipeline, A.SetOp)):
            # parenthesized statement group as a stage — a fresh chain
            # (parens scope the pipe; no piped input flows in)
            df = _execute_node(space, st, env)
        elif isinstance(st, A.GoStmt):
            df = _exec_go(space, st, df, env)
        elif isinstance(st, A.FetchVerticesStmt):
            df = _exec_fetch_vertices(space, st, df, env)
        elif isinstance(st, A.FetchEdgesStmt):
            df = _exec_fetch_edges(space, st, df, env)
        elif isinstance(st, A.LookupStmt):
            df = _exec_lookup(space, st)
        elif isinstance(st, A.FindPathStmt):
            df = _exec_find_path(space, st, df, env)
        elif isinstance(st, A.SubgraphStmt):
            df = _exec_subgraph(space, st, df, env)
        elif isinstance(st, A.YieldStmt):
            df = _exec_yield(st, df, space.spark, env, space)
        elif isinstance(st, A.GroupByStmt):
            df = _exec_group_by(st, df, env)
        elif isinstance(st, A.OrderByStmt):
            if df is None and env:
                # standalone `ORDER BY $var.x` sorts the named result
                # table (go/Orderby.feature "Order by with Variable")
                vrefs: list = []
                for e, _asc in st.items:
                    _walk(e, {"var_prop"}, vrefs)
                vs = sorted({r[1] for r in vrefs})
                envn = {k.lstrip("$"): v for k, v in env.items()}
                if len(vs) == 1 and vs[0] in envn:
                    df = envn[vs[0]]

            def resolve(kind, *args):
                if kind in ("input_prop", "name"):
                    return F.col(args[0])
                if kind == "var_prop":
                    return F.col("`" + args[1].replace("`", "``") + "`")
                if kind == "edge_prop":
                    return F.col(args[1])
                raise ValueError(f"unresolvable {kind}")
            ec = ExprCompiler(resolve, df=df)
            # NULL ordering per reference Value comparison (Value.h:64-83)
            from pyspark.sql.types import MapType, StructType
            cols = []
            for e, asc in st.items:
                c = ec.col(e)
                t = ec._dtype(c)
                if isinstance(t, StructType) \
                        and {"start", "path"} <= set(t.fieldNames()):
                    # PATH ordering is (src vid, then steps lexicographic
                    # on (dst, type, rank)) — Path.h:211 / Step<:86 —
                    # which Spark expresses as (string, array<struct>)
                    # sort keys; the raw struct is unorderable (map-typed
                    # prop field). Edge-type NAME stands in for |type|
                    # (ids assign in name order here).
                    cols.append(c["start"].asc_nulls_last() if asc
                                else c["start"].desc_nulls_first())
                    c = F.transform(
                        c["path"],
                        lambda x: F.struct(x["d"].alias("d"),
                                           x["et"].alias("et"),
                                           x["r"].alias("r")))
                elif isinstance(t, StructType) and any(
                        isinstance(f.dataType, MapType) for f in t.fields):
                    c = F.to_json(c)
                cols.append(c.asc_nulls_last() if asc
                            else c.desc_nulls_first())
            # deterministic tie-break: append the remaining (simple)
            # columns ascending — the reference's std::stable_sort over
            # its ascending index/storage scan order yields exactly this
            # among ties (LookUpTopN.feature `ORDER BY $-.src | Limit 2`
            # pins Chris Paul before LeBron James within equal src)
            named = {e[1] for e, _ in st.items
                     if isinstance(e, tuple) and len(e) == 2
                     and e[0] in ("input_prop", "name", "edge_prop")}
            from pyspark.sql.types import AtomicType
            for cname in df.columns:
                if cname in named:
                    continue
                tc = F.col("`" + cname.replace("`", "``") + "`")
                if isinstance(ec._dtype(tc), AtomicType):
                    cols.append(tc.asc_nulls_last())
            df = df.orderBy(*cols)
        elif isinstance(st, A.LimitStmt):
            if st.offset:
                df = df.offset(st.offset)
            if st.count is not None:
                df = df.limit(st.count)
        elif isinstance(st, A.MatchStmt):
            vrefs: list = []
            if not st.clauses and env:
                for y in st.returns:
                    _walk(y.expr, {"var_prop", "var_star"}, vrefs)
            if vrefs:
                # standalone `RETURN …($var.x)…` — a yield sentence over
                # the named result table, same as the piped-RETURN form
                # (parameter.feature [param-test-013] RETURN
                # count($var.VertexID))
                df = _exec_yield(
                    A.YieldStmt(st.returns, None, st.distinct),
                    df, space.spark, env, space)
            else:
                df = _exec_match(space, st)
        elif isinstance(st, A.UnwindStmt):
            df = _exec_unwind(st, df, space.spark)
        elif isinstance(st, (A.InsertStmt, A.UpdateStmt, A.DeleteStmt,
                             A.DdlStmt, A.AlterStmt, A.DropStmt,
                             A.ClearStmt)):
            # mutations serialize on the space's mutex: DML is a
            # read-modify-swap over the table binding, so two concurrent
            # INSERTs on one space would otherwise lose one (the
            # reference serializes writers in the per-part raft log,
            # RaftPart.cpp). Readers don't lock — in-flight DataFrames
            # are immutable snapshots. Pinned by
            # tests/test_concurrency.py::test_shared_space_dml_race.
            with getattr(space, "_mutex", None) or contextlib.nullcontext():
                if env:
                    _hold_variables(space, env)
                if isinstance(st, A.InsertStmt):
                    df = _exec_insert(space, st)
                elif isinstance(st, A.UpdateStmt):
                    df = _exec_update(space, st, df, env)
                elif isinstance(st, A.DeleteStmt):
                    df = _exec_delete(space, st, df, env)
                elif isinstance(st, A.DdlStmt):
                    df = _exec_ddl(space, st)
                elif isinstance(st, A.AlterStmt):
                    df = _exec_alter(space, st)
                elif isinstance(st, A.DropStmt):
                    df = _exec_drop(space, st)
                else:
                    df = _exec_clear(space)
        elif isinstance(st, A.AdminStmt):
            df = _exec_admin(space, st)
        else:
            raise ValueError(f"unsupported statement {type(st).__name__}")
    return df


def _hold_variables(space: GraphSpace, env: dict[str, DataFrame]) -> None:
    """Materialize every script variable that reads a path-backed table
    of ``space``, before a statement that may commit to it. A commit
    replaces the table's files, so a variable left as a plan over them
    would fail at collect; the reference's variables hold values, not
    plans. Variables over anything else stay plans."""
    roots = [os.path.abspath(d.path) + os.sep
             for d in (*space.tags.values(), *space.edges.values())
             if d.path is not None]
    for var, df in env.items():
        files = [unquote(f) for f in df.inputFiles()]
        if any(r in f for r in roots for f in files):
            env[var] = df.localCheckpoint(eager=True)


def _exec_alter(space: GraphSpace, st) -> DataFrame:
    """ALTER TAG/EDGE ADD/CHANGE/DROP (AlterTagExecutor; Schema.feature:
    dropping an absent prop is an error; ADD appends NULL-filled columns;
    CHANGE re-types in place)."""
    from nebula_spark.sources.ddl import _TYPE_MAP
    reg = space.tags if st.entity == "tag" else space.edges
    if st.name not in reg:
        raise KeyError(f"no {st.entity} named {st.name!r}")
    d = reg[st.name]
    if getattr(st, "schema_comment", None) is not None \
            and not (st.adds or st.changes or st.drops):
        # ALTER TAG x comment = "…" (schema/Comment.feature)
        reg[st.name] = dataclasses.replace(
            d, schema_comment=st.schema_comment)
        return space.spark.range(0)
    if st.ttl_duration is not None or st.ttl_col is not None:
        # ALTER … ttl_duration / ttl_col (TTL2.feature "ttl ddl"):
        # refused when any index exists on the schema; a duration needs
        # a ttl_col (given now or already set); the column must exist
        # and be int64/timestamp
        if any(ix.on == st.name and ix.kind == st.entity
               for ix in space.indexes.values()):
            raise ValueError("Unsupported!")
        col = st.ttl_col if st.ttl_col is not None else d.ttl_col
        decl_t = {c: str(t).strip().lower() for c, t in (d.decl or [])}
        if st.ttl_col == "":
            # `ALTER … ttl_col = ""` disables TTL (TTL2.feature "ttl
            # ddl2"); rows already expired stay gone — the re-bound
            # frame reads through the still-active filter
            _rebind(space, st.name, st.entity == "edge", space._load(d),
                    ttl_col=None, ttl_duration=0)
            d = reg[st.name]
            if not (st.adds or st.changes or st.drops):
                return space.spark.range(0)
        elif st.ttl_col is not None:
            if st.ttl_col not in decl_t:
                raise ValueError(
                    f"{st.entity.capitalize()} prop not existed!")
            if decl_t[st.ttl_col] not in ("int", "int64", "timestamp"):
                raise ValueError("Ttl column type illegal")
        if st.ttl_col != "":
            if st.ttl_duration and not col:
                raise ValueError("Unsupported!")
            d = reg[st.name] = dataclasses.replace(
                d, ttl_col=col, ttl_duration=d.ttl_duration
                if st.ttl_duration is None else st.ttl_duration)
        if not (st.adds or st.changes or st.drops):
            return space.spark.range(0)
        # `ALTER TAG woman Drop (name) ttl_duration = 200` carries BOTH
        # a section and ttl options (TTL.feature Schematest) — fall
        # through to apply the section too
    # a column carrying a fulltext index cannot CHANGE or DROP
    # (FultextIndexDDL.feature)
    ft_cols = {f for k, s, f in getattr(space, "ft_indexes", {}).values()
               if k == st.entity and s == st.name}
    for col, *_rest in list(st.changes) + [(c,) for c in st.drops]:
        if col in ft_cols:
            raise ValueError("Related fulltext index exists, please "
                             "drop it first")
    df = space._load(d)
    decl = list(d.decl or [])
    defaults = dict(d.defaults or {})
    required = list(d.required or [])
    comments = dict(d.comments or {})
    dropped = set(d._dropped)
    ttl = {}
    idx_cols = {c for ix in space.indexes.values()
                if ix.kind == st.entity and ix.on == st.name
                for c in ix.cols}
    for col in list(st.drops) + [x[0] for x in st.changes]:
        if col in idx_cols:
            # a column covered by an index cannot DROP or CHANGE
            # (index/Index.feature TagIndexTTL: `ALTER TAG person_ttl_2
            # DROP (age)` refuses while person_ttl_2_index_age exists)
            raise ValueError("Storage Error: Column is referenced by "
                             "an index, please drop the index first.")
    dup = [c for c in ([x[0] for x in st.adds + st.changes] + st.drops)
           if ([x[0] for x in st.adds + st.changes]
               + st.drops).count(c) > 1]
    if dup:
        # one section may not name a column twice
        # (TTL.feature Schematest `change(address string, address
        # string)`)
        raise ValueError(f"Storage Error: Conflict on column `{dup[0]}'.")
    both = {c for c, *_ in st.changes} & set(st.drops)
    if both:
        # one statement may not CHANGE and DROP the same column
        # (TTL.feature Schematest `change(name string), drop(name)`)
        raise ValueError(
            f"Storage Error: Conflict on column `{sorted(both)[0]}'.")
    for col, typ, default, notnull, comment in st.adds:
        dt = _TYPE_MAP.get(typ)
        if dt is None:
            raise ValueError(f"unknown type {typ!r}")
        if notnull and default is None:
            # ADD NOT NULL needs a default (schema/Schema.feature:874)
            raise ValueError(f"Column `{col}' must have a default value "
                             "if it's not nullable")
        if col in dropped:
            # a previously-dropped column may not come back — the
            # reference keeps it in older schema versions
            # (schema/Schema.feature "drop … and add it back later")
            raise ValueError("Storage Error: Schema exisited before!")
        if col.startswith("_"):
            # same rule as CREATE: the `_` prefix is the key/meta
            # namespace; the reference lexer can't spell such a name
            raise ValueError(f"SyntaxError: syntax error near `{col}'")
        if col in df.columns:
            raise ValueError(f"Existed prop {col!r}!")
        # rows written before the ALTER read the new column's DEFAULT
        # (schema-versioned reads in the reference: old rows materialize
        # the default — PrunePropertiesRule.feature "test properties")
        df = df.withColumn(
            col, _default_col(default.strip("\"'"), dt) if default
            is not None else F.lit(None).cast(dt))
        decl.append((col, "int64" if typ == "int" else typ))
        if default is not None:
            defaults[col] = default.strip("\"'")
        if notnull:
            required.append(col)
        if comment is not None:
            comments[col] = comment
    for col, typ, default, notnull, comment in st.changes:
        dt = _TYPE_MAP.get(typ)
        if dt is None:
            raise ValueError(f"unknown type {typ!r}")
        if col not in df.columns:
            raise ValueError(f"{st.entity.capitalize()} prop not existed!")
        if col == d.ttl_col:
            # the active TTL column cannot CHANGE (TTL.feature
            # Schematest: `ALTER TAG woman CHANGE (age int64)` refuses
            # while age is the ttl_col)
            raise ValueError("Storage Error: The column is the TTL "
                             "column, please remove the TTL first.")
        old_t = {c: str(t).strip().lower() for c, t in decl}.get(col)
        new_t = "int64" if typ == "int" else typ
        if notnull and default is None and col not in required:
            # CHANGE to NOT NULL needs a default (schema/Schema.feature
            # "alter a edge to change an column … to not nullable")
            raise ValueError(f"Column `{col}' must have a default value "
                             "if it's not nullable")
        if old_t is not None and old_t != new_t \
                and not (old_t.startswith("fixed_string")
                         and new_t == "string"):
            # CHANGE may not re-type a column (TTL.feature Schematest:
            # `CHANGE (age int64)` over int64 succeeds, `CHANGE (age
            # string)` refuses)
            raise ValueError("Storage Error: Column type can not be "
                             "changed.")
        df = df.withColumn(col, F.col(col).cast(dt))
        decl = [(c, "int64" if typ == "int" else typ) if c == col
                else (c, t) for c, t in decl]
        # CHANGE replaces the WHOLE column spec (parser.yy column_spec;
        # schema/Comment.feature: a CHANGE without COMMENT drops the
        # old comment) — reset default/comment/nullability to the new
        defaults.pop(col, None)
        comments.pop(col, None)
        required = [c for c in required if c != col]
        if default is not None:
            defaults[col] = default.strip("\"'")
        if notnull:
            required.append(col)
        if comment is not None:
            comments[col] = comment
    for col in st.drops:
        if col not in df.columns:
            raise ValueError(f"{st.entity.capitalize()} prop not existed!")
        df = df.drop(col)
        decl = [(c, t) for c, t in decl if c != col]
        defaults.pop(col, None)
        comments.pop(col, None)
        required = [c for c in required if c != col]
        if d.ttl_col == col:
            # dropping the ttl column clears the TTL setting
            # (TTL.feature Schematest: SHOW CREATE renders
            # `ttl_duration = 0, ttl_col = ""` after the drop)
            ttl = {"ttl_col": None, "ttl_duration": 0}
        dropped.add(col)
    _rebind(space, st.name, st.entity == "edge", df,
            decl=decl or None, defaults=defaults or None,
            required=required or None, comments=comments or None,
            _dropped=frozenset(dropped), **ttl)
    return space.spark.range(0)


def _exec_drop(space: GraphSpace, st) -> DataFrame:
    if st.entity == "ft_index":
        # DROP FULLTEXT INDEX (FultextIndexDDL.feature)
        fts = getattr(space, "ft_indexes", {})
        if st.name not in fts:
            raise ValueError(f"Index not existed: {st.name}")
        del fts[st.name]
        return space.spark.range(0)
    if st.entity in ("tag", "edge") and any(
            k == st.entity and s == st.name
            for k, s, _ in getattr(space, "ft_indexes", {}).values()):
        # a schema with a live fulltext index cannot drop
        # (FultextIndexDDL.feature)
        raise ValueError("Related index exists, please drop index first")
    if st.entity in ("tag_index", "edge_index"):
        # DROP TAG/EDGE INDEX [IF EXISTS] (Index.feature lifecycle)
        kind = st.entity.split("_", 1)[0]
        ix = space.indexes.get(st.name)
        if ix is None or ix.kind != kind:
            if st.if_exists:
                return space.spark.range(0)
            raise ValueError(f"Index not existed: {st.name}")
        del space.indexes[st.name]
        return space.spark.range(0)
    reg = space.tags if st.entity == "tag" else space.edges
    if st.name not in reg and not st.if_exists:
        raise KeyError(f"no {st.entity} named {st.name!r}")
    (space.drop_tag if st.entity == "tag" else space.drop_edge)(st.name)
    return space.spark.range(0)


def _exec_clear(space: GraphSpace) -> DataFrame:
    """CLEAR SPACE (ClearSpace.feature): drop every row, keep schemas."""
    for name in list(space.tags):
        _rebind(space, name, False, space.tag(name).limit(0))
    for name in list(space.edges):
        _rebind(space, name, True, space.edge(name).limit(0))
    return space.spark.range(0)


def _exec_ddl(space: GraphSpace, st) -> DataFrame:
    """CREATE TAG/EDGE [INDEX]: register an empty typed table (plus TTL
    metadata and the declared type names for SHOW CREATE). Index DDL is
    validated and kept as catalog metadata for SHOW/DESCRIBE INDEX —
    scans themselves ride Parquet stats + Catalyst pushdown rather than
    secondary indexes (SURVEY §2.1 IndexScan)."""
    from pyspark.sql.types import LongType, StringType, StructField, \
        StructType

    from nebula_spark.sources.ddl import parse_ddl
    schemas, _indexes = parse_ddl(st.text)
    # vid columns follow the space's vid contract: INT/INT64 spaces key
    # by LongType, FIXED_STRING(N) by StringType
    vt = LongType() if _vid_contract(space)[0] else StringType()
    for sd in schemas:
        # geography DEFAULTs validate eagerly at CREATE (GeoBase.feature
        # "test geo schema" — a malformed WKT or a shape mismatch on a
        # constrained column is "Invalid param!")
        for colname, rt in (sd.decl or []):
            t = str(rt).strip().lower()
            if not t.startswith("geography") \
                    or colname not in (sd.defaults or {}):
                continue
            from nebula_spark.functions.geo import wkt_shape
            txt = str(sd.defaults[colname]).strip()
            pm = _re.fullmatch(
                r"(?is)st_point\s*\(\s*(-?[\d.eE+]+)\s*,\s*"
                r"(-?[\d.eE+]+)\s*\)", txt)
            gm = _re.fullmatch(
                r"(?is)st_geogfromtext\s*\(\s*([\"'])(.*)\1\s*\)", txt)
            shape = (wkt_shape(f"POINT({pm.group(1)} {pm.group(2)})")
                     if pm else wkt_shape(gm.group(2)) if gm else None)
            want = t[len("geography"):].strip("()").upper() or None
            if shape is None or (want and shape != want):
                raise ValueError("Invalid param!")
        # user props named `vid`/`src`/`dst`/`rank` are legal (the
        # reference keeps keys outside the row payload entirely,
        # NebulaKeyUtils.h:13-27; e.g. InsertEdgeOnDiffParts.feature:15
        # `CREATE EDGE E(rank timestamp …)`) — our key columns are
        # namespaced `_vid`/`_src`/`_dst`/`_rank` so they never collide.
        # What IS refused is any leading-underscore prop name: the
        # reference's lexer cannot spell one (scanner.lex LABEL =
        # [a-zA-Z][_a-zA-Z0-9]*), and allowing it here would let a user
        # column collide with the key/meta namespace (`_rank`, `_dir`,
        # `_etype` — the r7 ADVICE finding)
        for colname, _rt in (sd.decl or []):
            if colname.startswith("_"):
                raise ValueError(
                    f"SyntaxError: syntax error near `{colname}'")
        key_cols = [StructField(VID, vt, False)] \
            if sd.kind == "tag" else [
                StructField(SRC, vt, False),
                StructField(DST, vt, False),
                StructField(RANK, LongType(), False)]
        schema = StructType(key_cols + list(sd.schema.fields))
        empty = local_frame(space.spark, [], schema)
        reg0 = space.tags if sd.kind == "tag" else space.edges
        if sd.name in reg0:
            # re-CREATE of an existing schema: IF NOT EXISTS is a no-op
            # (the original def survives, Ddl.feature); without it the
            # reference errors
            if sd.if_not_exists:
                continue
            raise ValueError(f"Existed {sd.kind} `{sd.name}'!")
        create = space.create_tag if sd.kind == "tag" else space.create_edge
        create(sd.name, df=empty, ttl_col=sd.ttl_col,
               ttl_duration=sd.ttl_duration, decl=sd.decl,
               defaults=sd.defaults,
               required=[f.name for f in sd.schema.fields
                         if not f.nullable],
               comments=sd.comments,
               schema_comment=getattr(sd, "schema_comment", None))
    for ix in _indexes:
        # index DDL stays metadata-only (Parquet stats + Catalyst
        # pushdown subsume it) but the column check is real: a column
        # the schema lacks is the reference's error (Ddl.feature), and
        # the IndexDef is kept in the space catalog so the SHOW/DESCRIBE
        # INDEX lifecycle works (Index.feature — r5 verdict item 5)
        reg = space.tags if ix.kind == "tag" else space.edges
        target = reg.get(ix.on)
        if target is None:
            raise ValueError(f"{ix.on} not found in space "
                             f"[{space.name}].")
        have = {c: str(t).strip().lower() for c, t in (target.decl or [])}
        # an empty column list is the vertex-existence index (Ddl.feature
        # `on A()`; IndexSelecting.feature `player_index on player()`) —
        # always legal; TagEdgeIndex.feature's `ON tag_1()` error is the
        # duplicate NAME, which the existed-index check below raises
        if len(set(ix.cols)) != len(ix.cols):
            # duplicate field (TagEdgeIndex.feature "Duplicate Field")
            raise ValueError("Conflict fields in the index.")
        for c in ix.cols:
            if c and c not in have:
                raise ValueError("Key not existed!")
            if have.get(c) == "duration":
                # duration is not an indexable type
                # (InsertDurationType.feature "duration don't support
                # index")
                raise ValueError("Invalid param!")
        if ix.name in space.indexes:
            if ix.if_not_exists:
                continue
            raise ValueError(f"Existed index `{ix.name}'!")
        for other in space.indexes.values():
            # same schema + same column sequence under a new name is the
            # reference's duplicate-index error (TagEdgeIndex.feature
            # "Duplicate Index"); a different column ORDER is a distinct
            # index (disorder_tag_index)
            if (other.kind, other.on, other.cols) == (ix.kind, ix.on,
                                                      ix.cols):
                raise ValueError(f"Existed index `{other.name}'!")
        space.indexes[ix.name] = ix
    return space.spark.range(0)


# Spark type → reference type name, for fixture-loaded (DataFrame-defined)
# tables whose DDL we never saw
_REF_TYPE = {"bigint": "int64", "int": "int32", "smallint": "int16",
             "tinyint": "int8", "double": "double", "float": "float",
             "boolean": "bool", "string": "string", "date": "date",
             "timestamp_ntz": "datetime", "timestamp": "timestamp"}


def _render_default(text, ref_type: str) -> str:
    """DDL DEFAULT rendering for SHOW CREATE / DESCRIBE: constant
    expressions fold (`0 + 0` → `0` — the reference folds via
    Expression::eval), strings re-quote, non-constant expressions
    (timestamp()) echo as written."""
    try:
        e = A.Parser(A.tokenize(str(text))).expr()
        from nebula_spark.plans.ngql import _const_eval
        v = _const_eval(e)
        if isinstance(v, bool):
            return "true" if v else "false"
        if isinstance(v, str):
            return f'"{v}"'
        return str(v)
    except Exception:  # noqa: BLE001 — non-constant default
        t = str(text)
        if str(ref_type).lower().startswith(("string", "fixed_string")) \
                and not t.endswith(")"):
            return f'"{t}"'
        return t


def _exec_show_create(space: GraphSpace, st) -> DataFrame:
    """SHOW CREATE TAG/EDGE — the reference's exact rendering
    (TTL.feature Schematest): backquoted names, one prop per line,
    NULL/NOT NULL, then ``ttl_duration = N, ttl_col = "c"``."""
    reg = space.tags if st.entity == "tag" else space.edges
    if st.name not in reg:
        raise KeyError(f"no {st.entity} named {st.name!r}")
    d = reg[st.name]
    skip = {VID} if st.entity == "tag" else {SRC, DST, RANK}
    if d.decl:
        cols = d.decl
        nullable = {f.name: f.nullable
                    for f in (d.df.schema.fields if d.df is not None else [])}
    else:
        fields = [f for f in space._load(d).schema.fields
                  if f.name not in skip]
        cols = [(f.name, _REF_TYPE.get(f.dataType.simpleString(),
                                       f.dataType.simpleString()))
                for f in fields]
        nullable = {f.name: f.nullable for f in fields}
    reqs = set(d.required or [])
    defaults = d.defaults or {}
    col_comments = d.comments or {}

    def _colline(c, t):
        nn = "NOT NULL" if (c in reqs or not nullable.get(c, True)) \
            else "NULL"
        s = f" `{c}` {t} {nn}"
        if c in defaults:
            s += f" DEFAULT {_render_default(defaults[c], t)}"
        if c in col_comments:
            s += f' COMMENT "{col_comments[c]}"'
        return s

    lines = ",\n".join(_colline(c, t) for c, t in cols)
    ttl_col = f'"{d.ttl_col}"' if d.ttl_col else '""'
    body = (f"CREATE {st.entity.upper()} `{st.name}` (\n{lines}\n) "
            f"ttl_duration = {d.ttl_duration}, ttl_col = {ttl_col}")
    if d.schema_comment is not None:
        body += f', comment = "{d.schema_comment}"'
    from pyspark.sql.types import StringType, StructField, StructType
    head = st.entity.capitalize()
    schema = StructType([StructField(head, StringType()),
                         StructField(f"Create {head}", StringType())])
    return local_frame(space.spark, [(st.name, body)], schema)


import re as _re

_EXPLAIN_RE = _re.compile(r"\s*(explain|profile)\b", _re.IGNORECASE)


def explain(space: GraphSpace, query: str, formatted: bool = True) -> str:
    """EXPLAIN: compile the query and return the Catalyst plan text —
    the analog of the reference's EXPLAIN sentence (SequentialValidator /
    QueryInstance 'format' output), except the plan shown is the real
    physical plan Spark will run (pushdowns, join strategies, codegen)."""
    m = _EXPLAIN_RE.match(query)
    df = execute(space, query[m.end():] if m else query)
    qe = df._jdf.queryExecution()
    return qe.explainString(
        df._sc._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted" if formatted else "extended"))


def _space_level(cat: SpaceCatalog, node,
                 cur: list | None = None) -> DataFrame | None:
    """Space-level sentences resolve against the catalog, not a space:
    USE (parser.yy:2431), CREATE/DROP SPACE (parser.yy:3633;
    meta.thrift:108 SpaceDesc), SHOW SPACES. Returns None for everything
    else so the caller dispatches it against the *current* space.

    ``cur`` is the calling script's one-slot current-space holder: USE
    writes THERE, not into the shared catalog, so two threads running
    scripts against one catalog can't redirect each other's statements
    mid-script (the reference gives each session its own space pointer;
    one execute() call is our session-scope unit — r7 verdict item 6).
    The catalog pointer is synced once at script end by the caller."""
    if not isinstance(node, A.Pipeline) or len(node.stages) != 1:
        return None
    st = node.stages[0]
    if isinstance(st, A.UseStmt):
        if cur is None:
            cat.use(st.name)
        else:
            if st.name not in cat.spaces:
                raise KeyError(f"SpaceNotFound: {st.name!r}")
            cur[0] = st.name
        return cat.spark.range(0)
    if isinstance(st, A.CreateSpaceStmt):
        cat.create_space(st.name, options=st.options,
                         if_not_exists=st.if_not_exists,
                         as_space=st.as_space)
        return cat.spark.range(0)
    if isinstance(st, A.DropSpaceStmt):
        cat.drop_space(st.name, st.if_exists)
        if cur is not None and cur[0] == st.name:
            cur[0] = None
        return cat.spark.range(0)
    if isinstance(st, A.ClearStmt):
        # CLEAR SPACE resolves its TARGET against the catalog — a named
        # space that does not exist is the reference's runtime error
        # unless IF EXISTS (ClearSpace.feature "Clear space syntax test")
        target = st.name
        if target is None:
            target = cur[0] if cur is not None else cat.current_name
        sp0 = cat.spaces.get(target) if target is not None else None
        if sp0 is None:
            if st.if_exists:
                return cat.spark.range(0)
            raise ValueError("SpaceNotFound: Space not existed!")
        with getattr(sp0, "_mutex", None) or contextlib.nullcontext():
            return _exec_clear(sp0)
    if isinstance(st, A.AdminStmt) and st.kind == "spaces":
        return local_frame(cat.spark,
            [(n,) for n in cat.show_spaces()], "Name string")
    return None


def execute(space: GraphSpace | SpaceCatalog, query: str,
            params: dict | None = None) -> DataFrame:
    """Parse + run a (possibly piped, possibly set-op compound, possibly
    multi-statement) nGQL/MATCH query against a space or a space catalog.

    Passing a :class:`SpaceCatalog` enables the reference's session
    surface — ``CREATE SPACE``/``USE``/``DROP SPACE`` between statements,
    with per-statement resolution against the current space (a statement
    with no space chosen fails "Space was not chosen.",
    Validator.cpp:355). Passing a bare :class:`GraphSpace` keeps the
    single-space form: it is wrapped pre-chosen, so scripts opening with
    ``USE <its name>`` run verbatim.

    ``params`` enables the reference's parameterized-query surface
    (parameter.feature): ``$name`` reads where ``name`` is a key in
    ``params`` substitute that literal (scalars, lists, maps — with
    ``$p.a.b[0]`` chains folded constant), while vid positions, SAMPLE
    lists, and variable definitions refuse parameters with the
    reference's phrasing.

    An ``EXPLAIN``/``PROFILE`` prefix returns a one-row DataFrame with the
    physical plan text instead of executing the statement.

    The call runs in one :func:`~nebula_spark.catalog.statement_snapshot`:
    it opens each path-backed table at most once (a commit reopens it),
    so all reads of a table see one listing of its files."""
    with statement_snapshot():
        return _execute(space, query, params)


def _execute(space: GraphSpace | SpaceCatalog, query: str,
             params: dict | None) -> DataFrame:
    cat = space if isinstance(space, SpaceCatalog) else \
        SpaceCatalog.wrap(space)
    m = _EXPLAIN_RE.match(query)
    if m:
        rest = query[m.end():]
        # FORMAT="row|dot|dot:struct|tck" (parser.yy explain_sentence
        # opt_explain_format; ExplainAndProfile.feature) — the named
        # formats shape the reference's plan-description output; here
        # row/tck map to Spark's formatted mode and the dot forms to
        # extended (a graph-ish full tree)
        fmt = "row"
        fm = _re.match(r'\s*FORMAT\s*=\s*"([^"]*)"', rest, _re.IGNORECASE)
        if fm:
            fmt = fm.group(1)
            if fmt not in ("row", "dot", "dot:struct", "tck"):
                raise SyntaxError(f"syntax error near `{fmt}'")
            rest = rest[fm.end():]
        # braces block: EXPLAIN { stmt; stmt; } (sequential_sentences)
        bm = _re.match(r"\s*\{(.*)\}\s*$", rest, _re.DOTALL)
        if bm:
            rest = bm.group(1).rstrip().rstrip(";")
        if _EXPLAIN_RE.match(rest):
            # nested EXPLAIN EXPLAIN is the reference's syntax error
            raise SyntaxError("syntax error near `EXPLAIN'")
        plan = explain(cat.current(), rest,
                       formatted=not fmt.startswith("dot"))
        return local_frame(cat.spark, [(plan,)], ["plan"])
    node = A.parse(query, params)
    # script-local current-space pointer (seeded from the session's):
    # per-statement resolution reads THIS, so a concurrent thread's USE
    # on the same catalog can't redirect this script's statements
    cur = [cat.current_name]
    cur_at_entry = cur[0]

    def _sync_current():
        # write back ONLY when this query actually moved the pointer
        # (USE / DROP SPACE); an unconditional write would let any
        # concurrent read-only query revert another session's USE
        if cur[0] != cur_at_entry:
            cat.current_name = cur[0]

    def _current() -> GraphSpace:
        if cur[0] is None:
            raise ValueError("Space was not chosen.")
        sp0 = cat.spaces.get(cur[0])
        if sp0 is None:
            raise KeyError(f"SpaceNotFound: {cur[0]!r}")
        return sp0

    try:
        if isinstance(node, A.Script):
            # sequential statements sharing a variable table (the
            # ExecutionContext analog); the script's value is the last
            # result
            env: dict[str, DataFrame] = {}
            df: DataFrame | None = None
            try:
                for var, stmt in node.statements:
                    df = _space_level(cat, stmt, cur)
                    if df is None:
                        df = _execute_node(_current(), stmt, env)
                    if var is not None:
                        env[var] = df
            finally:
                # sync in a finally: a USE that succeeded earlier in the
                # script stays committed even if a later statement raises
                _sync_current()
            return df
        df = _space_level(cat, node, cur)
        _sync_current()
        return df if df is not None else _execute_node(_current(), node)
    except Exception as ex:
        # Catalyst analysis failures on plan build (unresolved column
        # from a misspelled prop, a field-extract on a scalar, a
        # non-boolean filter…) are the reference's SemanticError class
        # (Validator status), not an engine traceback — re-raise in the
        # refusal class the goldens pin, keeping Spark's message
        from pyspark.errors.exceptions.base import AnalysisException
        if isinstance(ex, AnalysisException):
            raise ValueError(
                f"SemanticError: {str(ex).splitlines()[0]}") from None
        raise
