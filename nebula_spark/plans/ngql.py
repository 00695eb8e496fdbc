"""nGQL lexer + AST + recursive-descent parser.

Grammar subset modeled on the reference's bison productions
(``src/parser/parser.yy``: go_sentence :1424, lookup_sentence,
fetch_vertices_sentence, find_path_sentence, get_subgraph_sentence,
match_sentence, yield_sentence, pipes & set ops in compound sentences;
sentence kinds ``src/parser/Sentence.h:30-137``). Coverage targets the
query surface (DQL); DDL/admin is catalog API, not language.

AST nodes are plain dataclasses; expressions are nested tuples
``(op, *args)`` — compact, pattern-matchable, and trivially walkable for
the prop-deduction pass the executor runs (the analog of
``DeducePropsVisitor``).
"""

from __future__ import annotations

import math
import re
import sys
from dataclasses import dataclass, field

from nebula_spark.operators.aggregate import _AGG_FNS

# the 512-level expression-depth guard (expr()/literal()) costs ~11 Python
# frames per level; raise CPython's limit once at import so the guard is
# reachable instead of RecursionError at ~90 levels (per-Parser raising
# made hypothesis warn about a mid-run limit change — r7 ADVICE)
if sys.getrecursionlimit() < 10000:
    sys.setrecursionlimit(10000)

# --------------------------------------------------------------------------
# lexer
# --------------------------------------------------------------------------

_TOKEN_SPEC = [
    ("WS", r"\s+"),
    # line + block comments (scanner.lex:545-548 — `/* … */` enters a
    # COMMENT start condition; unterminated is a scanner error)
    ("COMMENT", r"//[^\n]*|#[^\n]*|/\*(?:[^*]|\*(?!/))*\*/"),
    # float forms per scanner.lex DEC: 1.1, 1., .3, any with [eE] exponent
    # (1e2, .3e4, 1.e4, 1234E-10); `1.` uses a lookahead so `1..5` still
    # lexes INT DOTDOT INT
    ("FLOAT",
     r"(?:\d+\.\d+|\d+\.(?!\.)|\.\d+)(?:[eE][+-]?\d+)?|\d+[eE][+-]?\d+"),
    # hex / octal integer literals (scanner.lex:412-417: 0[Xx]{HEX}+ and
    # 0{OCT}+; a leading-zero run followed by 8/9 or a float tail is
    # decimal, matching flex longest-match)
    ("HEXINT", r"0[xX][0-9a-fA-F]+"),
    ("OCTINT", r"0[0-7]+(?![0-9.eE])"),
    ("INT", r"\d+"),
    ("STRING", r'"(?:[^"\\]|\\.)*"|\'(?:[^\'\\]|\\.)*\''),
    ("DOTDOT", r"\.\."),
    ("PIPE_REF", r"\$-\.[A-Za-z_][A-Za-z0-9_]*"),
    ("SRC_REF", r"\$\^\.[A-Za-z_][A-Za-z0-9_]*\.[A-Za-z_][A-Za-z0-9_]*"),
    ("DST_REF", r"\$\$\.[A-Za-z_][A-Za-z0-9_]*\.[A-Za-z_][A-Za-z0-9_]*"),
    ("VAR_REF", r"\$[A-Za-z_][A-Za-z0-9_]*"),
    ("DST_VERT", r"\$\$"),       # bare $$ (dst vertex), e.g. id($$)
    ("SRC_VERT", r"\$\^"),       # bare $^ (src vertex)
    ("PIPE_INPUT", r"\$-"),
    ("ARROW_R", r"->"),
    ("ARROW_L", r"<-"),
    ("NEQ", r"!=|<>"),
    ("BANG", r"!"),              # prefix NOT (scanner.lex "!" → NOT)
    ("LE", r"<="), ("GE", r">="), ("EQ", r"=="),
    ("REGEX_M", r"=~"),
    ("ASSIGN", r"="),
    ("LT", r"<"), ("GT", r">"),
    # `--` is its own token in the reference lexer (scanner.lex:370
    # MINUS_MINUS) with no grammar production — `1--1` is a syntax error
    # (yield/return.feature), never parsed as 1-(-1)
    ("MINUSMINUS", r"--"),
    ("PLUS", r"\+"), ("MINUS", r"-"), ("STAR", r"\*"), ("SLASH", r"/"),
    ("PCT", r"%"),
    ("LP", r"\("), ("RP", r"\)"), ("LB", r"\["), ("RB", r"\]"),
    ("LC", r"\{"), ("RC", r"\}"),
    ("COMMA", r","), ("COLON", r":"), ("SEMI", r";"), ("DOT", r"\."),
    ("AT", r"@"), ("QM", r"\?"),
    ("PIPE", r"\|"),
    # backquoted label (scanner.lex LABEL_FULL_WIDTH): reserved words and
    # arbitrary identifiers — `timestamp`(…), CREATE TAG INDEX `name`
    ("BQNAME", r"`[^`]+`"),
    ("NAME", r"[A-Za-z_][A-Za-z0-9_]*"),
]
_LEX = re.compile("|".join(f"(?P<{n}>{p})" for n, p in _TOKEN_SPEC))

_KEYWORDS = {
    "go", "from", "over", "where", "yield", "steps", "step", "to", "upto",
    "reversely", "bidirect", "fetch", "prop", "on", "lookup", "find",
    "shortest", "all", "noloop", "path", "get", "subgraph", "with", "in",
    "skip",
    "out", "both", "order", "by", "limit", "offset", "group", "asc", "desc",
    "match", "return", "and", "or", "not", "xor", "distinct", "as", "true",
    "false", "null", "is", "starts", "ends", "contains", "union", "minus",
    "intersect", "of", "case", "when", "then", "else", "end", "sample",
    "unwind", "optional", "insert", "update", "upsert", "delete", "values",
    "set",
}


class FnName(str):
    """A function name as the engine matches it (lowercase str — all
    dispatch tables and comparisons see the canonical form) that also
    remembers the writer's spelling for column-header rendering:
    Expression::toString keeps case, so `YIELD COUNT($-.x)` headers as
    `COUNT($-.x)` even nested (`(COUNT(*)+1)`, Agg.feature)."""

    __slots__ = ("src",)

    def __new__(cls, written: str):
        o = super().__new__(cls, written.lower())
        o.src = written
        return o


# keywords the reference's grammar accepts as plain identifiers
# (parser.yy unreserved_keyword, intersected with _KEYWORDS above):
# `MATCH (both)` binds a node named `both` there, so it must here too
_UNRESERVED = {
    "values", "bidirect", "all", "shortest", "noloop", "contains",
    "starts", "ends", "limit", "skip", "optional", "offset", "both",
    "out", "subgraph", "then", "else", "end", "sample",
}


@dataclass
class Tok:
    kind: str
    text: str
    pos: int


_STR_ESCAPES = {"n": "\n", "t": "\t", "r": "\r", "b": "\b", "f": "\f"}


def _unescape_string(s: str) -> str:
    """C-style escapes per the reference lexer (scanner.lex:472-530):
    ``\\NNN`` octal, ``\\uHHHH``/``\\xHHHH`` code points,
    ``\\n \\t \\r \\b \\f``, and the fallback ``\\<any>`` → ``<any>``
    (so ``"\\\\w"`` in query text is backslash + w — regex patterns are
    written with doubled backslashes, exactly as in the TCK)."""
    out, i, n = [], 0, len(s)
    while i < n:
        c = s[i]
        if c != "\\" or i + 1 >= n:
            out.append(c)
            i += 1
            continue
        nxt = s[i + 1]
        if nxt in _STR_ESCAPES:
            out.append(_STR_ESCAPES[nxt])
            i += 2
        elif nxt in "uUxX" and i + 6 <= n \
                and all(ch in "0123456789abcdefABCDEF"
                        for ch in s[i + 2:i + 6]):
            out.append(chr(int(s[i + 2:i + 6], 16)))
            i += 6
        elif nxt in "01234567":
            j = i + 1
            while j < n and j < i + 4 and s[j] in "01234567":
                j += 1
            val = int(s[i + 1:j], 8)
            out.append(chr(val) if val <= 0xFF else s[i:j])
            i = j
        else:
            out.append(nxt)
            i += 2
    return "".join(out)


def tokenize(s: str) -> list[Tok]:
    out, i = [], 0
    while i < len(s):
        m = _LEX.match(s, i)
        if not m:
            raise SyntaxError(f"lex error at {i}: {s[i:i+20]!r}")
        kind = m.lastgroup
        text = m.group()
        i = m.end()
        if kind in ("WS", "COMMENT"):
            continue
        if kind in ("HEXINT", "OCTINT"):
            # normalize to a decimal INT token (GraphScanner.h parseHex/
            # parseOct); the INT64 bound checks downstream treat the
            # magnitude 2^63 as legal only under unary minus
            v = int(text, 16) if kind == "HEXINT" else int(text, 8)
            kind, text = "INT", str(v)
        if kind == "BQNAME":
            # backquoting un-reserves a word: `timestamp` is always the
            # identifier, never the keyword
            kind, text = "NAME", text[1:-1]
        elif kind == "NAME" and text.lower() in _KEYWORDS:
            kind = "KW"
            text = text.lower()
        out.append(Tok(kind, text, m.start()))
    out.append(Tok("EOF", "", len(s)))
    return out


# --------------------------------------------------------------------------
# AST
# --------------------------------------------------------------------------

@dataclass
class YieldItem:
    expr: tuple
    alias: str | None
    # as-written source slice of an UNALIASED item — used only to keep
    # the writer's fn-name case in auto-derived column headers
    # (`RETURN COUNT(*)` names the column `COUNT(*)`, Expression::
    # toString preserves case); None when aliased or unavailable
    src: str | None = None


@dataclass
class GoStmt:
    min_steps: int
    max_steps: int
    sources: list | str          # vid literals or "$-" / ("$var",)
    src_col: str | None          # column when sources is a pipe/var ref
    edges: list[str] | None      # None = OVER * (all edge types)
    direction: str               # out|in|both
    where: tuple | None
    yields: list[YieldItem]
    distinct: bool = False
    sample: list[int] | None = None
    limits: list[int] | None = None      # per-step per-vertex caps


@dataclass
class FetchVerticesStmt:
    tags: list[str]              # tag names, or ["*"] for every tag
    vids: list | str
    src_col: str | None
    yields: list[YieldItem]
    distinct: bool = False


@dataclass
class FetchEdgesStmt:
    edge: str
    keys: list[tuple]            # (src, rank, dst) literals …
    yields: list[YieldItem]
    distinct: bool = False
    var: str | None = None       # … or "$-"/"$var" keyed rows
    key_src_col: str | None = None
    key_dst_col: str | None = None
    key_rank_col: str | None = None   # $-.src->$-.dst@$-.rank


@dataclass
class LookupStmt:
    is_edge: bool
    name: str
    where: tuple | None
    yields: list[YieldItem]
    distinct: bool = False


@dataclass
class FindPathStmt:
    kind: str                    # shortest|all|noloop
    sources: list | str
    targets: list | str
    edges: list[str] | None
    direction: str
    max_steps: int
    src_col: str | None = None   # column when sources is $-/$var
    dst_col: str | None = None
    with_prop: bool = False      # WITH PROP (parser.yy opt_with_properties)
    single: bool = False         # FIND SINGLE SHORTEST PATH
    where: tuple | None = None   # edge-prop filter (FindPathValidator)
    yield_alias: str | None = None  # YIELD path AS alias → PATH values;
    #                                 None = legacy distance/path_str shape


@dataclass
class SubgraphStmt:
    steps: int
    sources: list | str
    in_edges: list[str] | None
    out_edges: list[str] | None
    both_edges: list[str] | None
    src_col: str | None = None          # column when sources is $-/$var
    yields: list[YieldItem] | None = None  # vertices/edges AS alias
    where: tuple | None = None          # edge/$$-tag filter
    #                                     (GetSubgraphValidator::validateWhere)


def _is_agg(e) -> bool:
    """Whether an expression holds an aggregate call anywhere, CASE arms
    and map pairs included. The parser needs it for the UNWIND and
    joined-YIELD refusals, which the reference performs in the grammar
    action itself (parser.yy:1731 yield_columns->hasAgg()); the function
    names are the aggregate operator's (AggFunctionManager)."""
    if isinstance(e, list) or (isinstance(e, tuple) and e
                               and isinstance(e[0], tuple)):
        return any(_is_agg(x) for x in e)   # CASE arms, map pairs
    if not isinstance(e, tuple) or not e:
        return False
    if e[0] == "raw_agg":        # pre-built aggregate Column (ordered collect)
        return True
    if e[0] in ("call", "call_distinct") and e[1] in _AGG_FNS:
        return True
    return any(_is_agg(x) for x in e[1:])


@dataclass
class YieldStmt:
    yields: list[YieldItem]
    where: tuple | None
    distinct: bool = False
    # joined YIELD (parser.yy:1702-1716 join_clause; yield/join.feature):
    # (mode, left_var, right_var, left_cond, right_cond) — conds are
    # ("var_prop", var, prop) tuples, None for the bare `FROM $a JOIN $b`
    # form (which parses as kCrossJoin and is refused at validation)
    join: tuple | None = None


@dataclass
class GroupByStmt:
    keys: list[tuple]
    yields: list[YieldItem]


@dataclass
class OrderByStmt:
    items: list[tuple]           # (expr, asc)


@dataclass
class LimitStmt:
    count: int | None            # None = offset-only (`| OFFSET m`)
    offset: int = 0


@dataclass
class MatchNode:
    alias: str | None
    tag: str | None
    props: dict = field(default_factory=dict)
    # multi-tag pattern `(v:person{…}:teacher)` (Scan.feature): every
    # additional `:tag{props}` intersects — (tag, props) pairs
    extra: list = field(default_factory=list)


@dataclass
class MatchEdge:
    alias: str | None
    types: list[str]
    direction: str               # out|in|both
    min_hops: int = 1
    max_hops: int = 1
    props: dict = field(default_factory=dict)   # inline {k: v} edge filter
    # explicit `*` syntax: even a fixed [e*1] binds e as a LIST of edges
    # (MatchValidator aliasesGenerated kEdgeList;
    # bugfix/LackFilterGetEdges.feature `e[0].likeness`)
    var_len: bool = False


@dataclass
class AdminStmt:
    """SHOW TAGS/EDGES/STATS, DESCRIBE TAG/EDGE <name> — the query-surface
    subset of the reference's admin sentences (Sentence.h kShowTags/
    kShowEdges/kDescribeTag/kDescribeEdge/kShowStats); cluster/session
    admin is obsolete under Spark (SURVEY §7)."""
    kind: str                    # tags|edges|stats|describe|show_create
    name: str | None = None
    entity: str | None = None    # for describe: "tag" | "edge"


@dataclass
class DdlStmt:
    """CREATE TAG/EDGE [INDEX] — raw statement text, compiled by
    sources/ddl.parse_ddl (parser.yy create_tag_sentence /
    create_edge_sentence)."""
    text: str


@dataclass
class AlterStmt:
    """ALTER TAG/EDGE name ADD (…) / CHANGE (…) / DROP (…)
    (parser.yy alter_tag_sentence; Schema.feature)."""
    entity: str                  # tag | edge
    name: str
    adds: list                   # [(col, ref_type)]
    changes: list                # [(col, ref_type)]
    drops: list                  # [col]
    # ALTER … ttl_duration=N, ttl_col="c" (parser.yy alter_schema_prop;
    # TTL2.feature "ttl ddl") — None means not mentioned
    ttl_duration: int | None = None
    ttl_col: str | None = None
    # ALTER … comment = "…" (schema/Comment.feature)
    schema_comment: str | None = None


@dataclass
class DropStmt:
    """DROP TAG/EDGE [IF EXISTS] name (Schema.feature)."""
    entity: str
    name: str
    if_exists: bool = False


@dataclass
class ClearStmt:
    """CLEAR SPACE — wipe all rows, keep schemas
    (mutate/ClearSpace.feature)."""
    name: str | None = None
    if_exists: bool = False


@dataclass
class UseStmt:
    """USE <space> — bind the session's current space
    (parser.yy:2431 use_sentence)."""
    name: str


@dataclass
class CreateSpaceStmt:
    """CREATE SPACE [IF NOT EXISTS] name [(opt=val, …)]
    (parser.yy:3633 create_space_sentence; SpaceDesc meta.thrift:108).
    Options (vid_type/partition_num/replica_factor/…) are kept as
    metadata strings."""
    name: str
    options: dict
    if_not_exists: bool = False
    as_space: str | None = None  # CREATE SPACE x AS y — clone schema+data


@dataclass
class DropSpaceStmt:
    """DROP SPACE [IF EXISTS] name (parser.yy drop_space_sentence)."""
    name: str
    if_exists: bool = False


@dataclass
class MatchPath:
    """One comma-separated pattern: n0 -e0- n1 -e1- n2 …; ``path_alias``
    set for ``p = (…)…`` bindings (Path value, SURVEY §1.1)."""
    nodes: list[MatchNode]
    edges: list[MatchEdge]
    path_alias: str | None = None
    shortest: str | None = None  # None | "single" | "all" (shortestPath fns)


@dataclass
class MatchClause:
    paths: list[MatchPath]
    where: tuple | None
    optional: bool = False


@dataclass
class WithClause:
    """openCypher WITH: project/rebind (+ implicit grouping), optional
    DISTINCT, ORDER BY / SKIP / LIMIT subclauses, and post-WHERE
    (MatchValidator's with-clause contexts; LDBC IC1/IC7 rely on
    mid-chain WITH … ORDER BY … LIMIT)."""
    items: list[YieldItem]
    where: tuple | None
    distinct: bool = False
    order_by: list[tuple] | None = None
    skip: int | None = None
    limit: int | None = None


@dataclass
class MatchStmt:
    """A full Cypher query: MATCH/OPTIONAL MATCH/WITH/UNWIND clause chain
    ending in RETURN (MatchValidator.cpp builds the same per-clause
    CypherContext list)."""
    clauses: list                 # MatchClause | WithClause | UnwindStmt
    returns: list[YieldItem]
    order_by: list[tuple] | None
    limit: int | None
    distinct: bool = False
    skip: int | None = None       # openCypher SKIP (offset)


@dataclass
class UnwindStmt:
    expr: tuple
    alias: str


@dataclass
class Pipeline:
    stages: list


@dataclass
class SetOp:
    """UNION [ALL|DISTINCT] / INTERSECT / MINUS of two piped groups
    (``src/graph/validator/SetValidator.cpp``; plain UNION implies a
    Dedup on top — SURVEY.md §2.7)."""
    op: str                      # union|intersect|minus
    dedup: bool
    left: "Pipeline | SetOp"
    right: Pipeline


@dataclass
class InsertStmt:
    """INSERT VERTEX/EDGE [IF NOT EXISTS] name(props) VALUES …
    (``src/parser/MutateSentences.h``; plain INSERT overwrites the key,
    AddVerticesProcessor semantics)."""
    is_edge: bool
    name: str
    props: list[str]
    rows: list                   # vertex: (vid, vals); edge: (src,dst,rank,vals)
    if_not_exists: bool = False
    # INSERT VERTEX t1(a, b), t2(c) VALUES vid:(va, vb, vc)
    # (vertex_tag_list, MutateSentences.h:128-160): extra (name, props)
    # specs beyond the first; props None = every DECLARED prop in order
    # (the no-parens form `INSERT VERTEX person VALUES …`)
    extra_specs: list | None = None
    props_all: bool = False      # first spec had no parens


@dataclass
class UpdateStmt:
    """UPDATE/UPSERT VERTEX|EDGE ON name <key> SET prop = expr, …
    (UpdateExecutor; ``insertable`` = UPSERT, MutateSentences.h:385-411)."""
    is_edge: bool
    name: str
    keys: list                   # [(vid,)] or [(src, dst, rank)], ≥1
    #                              (MultiUpdate.feature key lists)
    sets: list                   # [(prop, expr-tuple)]
    insertable: bool = False
    when: tuple | None = None    # WHEN <cond> guard (UpdateSentence.h)
    yields: list | None = None   # YIELD items over the post-update row
    # runtime-input keys (LookUpUpdate.feature `UPDATE VERTEX ON t
    # $-.id SET …` / `UPDATE EDGE ON e $-.src->$-.dst@$-.rank SET …`)
    var: str | None = None       # `$-` / `$var`
    src_col: str | None = None   # vid col (vertex) or edge src col
    dst_col: str | None = None
    rank_col: str | None = None


@dataclass
class DeleteStmt:
    """DELETE VERTEX vids [WITH EDGE] / DELETE EDGE name keys /
    DELETE TAG names|* FROM vids (DeleteExecutor.cpp;
    delete_tag_sentence parser.yy:3321-3338). Keys are literal lists OR
    runtime-input refs (vid_ref_expression parser.yy:3297-3318):
    ``var`` holds ``$-``/``$name`` and the ``*_col`` fields name the
    referenced columns."""
    kind: str                    # vertex|edge|tag
    name: str | None             # edge type for DELETE EDGE
    keys: list                   # vids or (src, dst, rank)
    with_edge: bool = False
    tags: list | None = None     # DELETE TAG names; None means `*`
    var: str | None = None       # `$-` / `$var` runtime-input form
    src_col: str | None = None   # vid col (vertex/tag) or edge src col
    dst_col: str | None = None   # edge dst col
    rank_col: str | None = None  # edge rank col (defaults to rank 0)


@dataclass
class Script:
    """Semicolon-separated statement sequence with ``$var =`` bindings
    (AssignExecutor.cpp:1-32 — bind a statement's result into a query
    variable; later statements read it via ``FROM $var.col``). The
    script's value is the last statement's result."""
    statements: list             # [(var_name_with_$ | None, Pipeline|SetOp)]


# --------------------------------------------------------------------------
# parser
# --------------------------------------------------------------------------

class Parser:
    def __init__(self, toks: list[Tok], params: dict | None = None,
                 src: str = ""):
        self.toks = toks
        self.i = 0
        self.src = src      # original text, for `near `…'` error slices
        # session parameters (parameter.feature): `$name` where name is a
        # defined parameter substitutes its literal value at parse time —
        # the analog of ExpressionUtils::rewriteParameter run in the
        # reference's validators
        self.params = params or {}
        self._depth = 0     # expression-descent guard (see expr())
        # the guard bounds nesting at the reference's 512
        # (--max_expression_depth, ExpressionUtils.cpp:21); the
        # recursive-descent chain costs ~11 Python frames per level;
        # CPython headroom to reach the guard (instead of RecursionError
        # at ~90 levels) is raised ONCE at module import, not per Parser
        # (hypothesis warns when the limit changes mid-run — r7 ADVICE)

    # -- token helpers
    def peek(self, k: int = 0) -> Tok:
        return self.toks[min(self.i + k, len(self.toks) - 1)]

    def at_kw(self, *words: str) -> bool:
        t = self.peek()
        return t.kind == "KW" and t.text in words

    def eat(self, kind: str | None = None, text: str | None = None) -> Tok:
        t = self.peek()
        if kind and t.kind != kind:
            raise SyntaxError(f"expected {kind}, got {t.kind} {t.text!r} @{t.pos}")
        if text and t.text.lower() != text:
            raise SyntaxError(f"expected {text!r}, got {t.text!r} @{t.pos}")
        self.i += 1
        return t

    def eat_kw(self, *words: str) -> Tok:
        t = self.peek()
        if t.kind != "KW" or t.text not in words:
            raise SyntaxError(f"expected {words}, got {t.text!r} @{t.pos}")
        self.i += 1
        return t

    def try_kw(self, *words: str) -> bool:
        if self.at_kw(*words):
            self.i += 1
            return True
        return False

    def name(self) -> str:
        """Identifier position: allow keywords as names (tags/edges named
        'order', 'limit', … are legal identifiers in the reference too)."""
        t = self.peek()
        if t.kind in ("NAME", "KW"):
            self.i += 1
            return t.text
        raise SyntaxError(f"expected identifier, got {t.text!r} @{t.pos}")

    # -- entry
    def parse(self) -> "Pipeline | SetOp | Script":
        stmts = []
        while self.peek().kind != "EOF":
            var = None
            if (self.peek().kind == "VAR_REF"
                    and self.peek(1).kind == "ASSIGN"):
                var = self.eat("VAR_REF").text
                if var[1:] in self.params:
                    # parameter.feature [param-test-011]
                    raise SyntaxError("Variable definition conflicts with "
                                      f"a parameter near `{var}'")
                self.eat("ASSIGN")
            stmts.append((var, self._set_op_chain()))
            if self.peek().kind == "SEMI":
                self.eat("SEMI")
            else:
                break
        self.eat("EOF")
        node = stmts[0][1] if len(stmts) == 1 and stmts[0][0] is None \
            else Script(stmts)
        # any `$name` that is neither a parameter nor a `$var.prop` read
        # survives as ("param_unres", name) — the reference's validators
        # reject the statement wholesale (parameter.feature
        # [param-test-010] "Undefined parameters: a, b")
        # names bound by the script's own `$var = …` assignments are
        # query VARIABLES, not parameters — they stay param_unres nodes
        # for the per-clause validators (e.g. LOOKUP WHERE's "Expression
        # ($var==…) not supported yet", LookUpLimit.feature:137-149)
        bound = {v.lstrip("$") for v, _ in stmts if v}
        missing: list[str] = []
        for e in _iter_exprs(node):
            if e and e[0] == "param_unres" and e[1] not in missing \
                    and e[1] not in bound:
                missing.append(e[1])
        if missing:
            raise ValueError(f"Undefined parameters: {', '.join(missing)}")
        return node

    def _set_op_chain(self) -> "Pipeline | SetOp":
        node: Pipeline | SetOp = self.pipeline_group()
        # set ops are left-associative, equal precedence (parser.yy
        # set_sentence); plain UNION implies dedup, UNION ALL keeps rows
        while self.at_kw("union", "intersect", "minus"):
            op = self.eat_kw("union", "intersect", "minus").text
            dedup = True
            if op == "union":
                if self.try_kw("all"):
                    dedup = False
                else:
                    self.try_kw("distinct")
            node = SetOp(op, dedup, node, self.pipeline_group())
        return node

    def pipeline_group(self) -> "Pipeline | SetOp":
        if self.peek().kind == "LP":
            # parenthesized statement group (parser.yy set_exp
            # `L_PAREN piped_sentence R_PAREN`) — a set-op operand or an
            # assignment RHS (`$b = (FIND … | YIELD …);`,
            # join.feature "join path"); parens scope the pipe
            self.eat("LP")
            inner = self._set_op_chain()
            self.eat("RP")
            if self.peek().kind != "PIPE":
                return inner
            stages: list = [inner]
            while self.peek().kind == "PIPE":
                self.eat("PIPE")
                self._pipe_stage(stages)
            return Pipeline(stages)
        stages = [self.sentence()]
        while self.peek().kind == "PIPE":
            self.eat("PIPE")
            self._pipe_stage(stages)
        return Pipeline(stages)

    def _pipe_stage(self, stages: list) -> None:
        """One pipe stage; `| (GO … | GO …)` parenthesized groups in
        piped position (parser.yy set_exp — GO.feature:140-163) splice
        their stages: the pipe is associative, the group's first
        sentence reads the outer `$-`."""
        if self.peek().kind == "LP":
            self.eat("LP")
            inner = self._set_op_chain()
            self.eat("RP")
            if isinstance(inner, Pipeline):
                stages.extend(inner.stages)
            else:
                stages.append(inner)
            return
        stages.append(self.sentence())

    def sentence(self):
        if self.at_kw("go"):
            return self.go_sentence()
        if self.at_kw("fetch"):
            return self.fetch_sentence()
        if self.at_kw("lookup"):
            return self.lookup_sentence()
        if self.at_kw("find"):
            return self.find_path_sentence()
        if self.at_kw("get"):
            return self.subgraph_sentence()
        if self.at_kw("yield"):
            return self.yield_sentence()
        if self.at_kw("group"):
            return self.group_by_sentence()
        if self.at_kw("order"):
            return self.order_by_sentence()
        if self.at_kw("limit"):
            return self.limit_sentence()
        if self.at_kw("offset"):
            # `| OFFSET m [LIMIT n]` (GO.feature:1848) — offset-first form
            self.eat_kw("offset")
            off = self._limit_int("OFFSET")
            n = self._limit_int() if self.try_kw("limit") else None
            return LimitStmt(n, off)
        if self.at_kw("match"):
            return self.match_sentence()
        if self.at_kw("optional"):
            # a query may OPEN with OPTIONAL MATCH (MatchById.feature
            # "Can't seek by id") — the clause chain handles it
            return self.match_sentence()
        if self.at_kw("with"):
            # Cypher queries may open with WITH (With.feature "with
            # return"): the clause chain starts from a unit row
            return self.match_sentence()
        if self.at_kw("return"):
            # "A standalone return sentence is actually a yield sentence"
            # (yield/return.feature header): when the items read pipe
            # input ($-.col), parse through the yield grammar so
            # `GO … | RETURN $-.x` works; otherwise the openCypher
            # unit-row evaluation
            j = self.i + 1
            while j < len(self.toks) \
                    and self.toks[j].kind not in ("PIPE", "SEMI", "EOF"):
                if self.toks[j].kind in ("PIPE_REF", "PIPE_INPUT",
                                         "SRC_REF", "DST_REF"):
                    # $-.col / $^.tag.prop / $$.tag.prop are yield-layer
                    # reads — route through the yield grammar (and its
                    # TagNotFound validation, return.feature "Error
                    # check"), not the openCypher unit row
                    self.eat_kw("return")
                    return self._yield_body()
                j += 1
            return self.match_sentence()
        if self.at_kw("unwind"):
            # two forms share the keyword: a pipe stage (`… | UNWIND l AS
            # x`) stands alone; Cypher's clause form continues with
            # MATCH/WITH/UNWIND/RETURN (UNWIND [1,2,3] AS x RETURN x)
            st = self.unwind_sentence()
            if self.at_kw("match", "optional", "with", "unwind", "return"):
                return self.match_sentence(initial=[st])
            return st
        if self.at_kw("insert"):
            return self.insert_sentence()
        if self.at_kw("update", "upsert"):
            return self.update_sentence()
        if self.at_kw("delete"):
            return self.delete_sentence()
        t = self.peek()
        # DESC doubles as the ORDER BY keyword, so it lexes as KW
        if t.text.lower() in ("show", "describe", "desc"):
            return self.admin_sentence()
        if t.text.lower() == "use":
            self.eat()
            return UseStmt(self.name())
        if (t.text.lower() == "create"
                and self.peek(1).text.lower() == "space"):
            return self.create_space_sentence()
        if (t.text.lower() == "create"
                and self.peek(1).text.lower() == "fulltext"):
            # CREATE FULLTEXT TAG|EDGE INDEX name ON schema(field)
            # (parser.yy create_fulltext_index_sentence;
            # FultextIndexDDL.feature)
            self.eat(), self.eat()
            ent = self._tag_or_edge()
            if self.name().lower() != "index":
                raise SyntaxError("expected INDEX after CREATE FULLTEXT")
            name = self.name()
            self.eat_kw("on")
            schema = self.name()
            self.eat("LP")
            field = self.name()
            self.eat("RP")
            return AdminStmt("create_ft_index", (name, schema, field), ent)
        if t.text.lower() == "create":
            return self.ddl_sentence()
        if t.text.lower() == "alter":
            return self.alter_sentence()
        if t.text.lower() == "drop":
            return self.drop_sentence()
        if t.text.lower() == "clear":
            return self.clear_sentence()
        if t.text.lower() == "rebuild":
            # REBUILD TAG|EDGE INDEX n1[, n2…] (parser.yy
            # rebuild_tag_index_sentence) — a storage backfill job there;
            # metadata-only here (Parquet stats subsume it) but the name
            # check and SHOW … INDEX STATUS lifecycle are real
            # (TagEdgeIndex.feature)
            self.eat()
            ent = self._tag_or_edge()
            if self.name().lower() != "index":
                raise SyntaxError("expected INDEX after REBUILD TAG/EDGE")
            names = [self.name()]
            while self.peek().kind == "COMMA":
                self.eat("COMMA")
                names.append(self.name())
            return AdminStmt("rebuild_index", names, ent)
        raise SyntaxError(f"unknown sentence start {t.text!r} @{t.pos}")

    def _tag_or_edge(self) -> str:
        w = self.name().lower()
        if w not in ("tag", "edge"):
            raise SyntaxError(f"expected TAG or EDGE, got {w!r}")
        return w

    def alter_sentence(self) -> AlterStmt:
        self.eat()                                   # ALTER
        entity = self._tag_or_edge()
        name = self.name()
        adds, changes, drops = [], [], []

        def _ttl_opts():
            # ttl_duration=N[, ttl_col="c"] (TTL2.feature; duration a
            # non-negative integer literal) — leading OR trailing after
            # ADD/CHANGE/DROP sections (`ALTER TAG woman Drop (name)
            # ttl_duration = 200`, TTL.feature Schematest)
            ttl_dur = ttl_col = None
            while True:
                w = self.eat("NAME").text.lower()
                self.eat("ASSIGN")
                if w == "ttl_duration":
                    t = self.peek()
                    if t.kind != "INT":
                        raise SyntaxError(f"syntax error near `{t.text}'")
                    self.eat()
                    ttl_dur = int(t.text)
                    if ttl_dur > 2**63 - 1:
                        raise SyntaxError(f"Out of range: near `{t.text}'")
                elif w == "ttl_col":
                    t = self.eat("STRING")
                    ttl_col = t.text[1:-1]
                else:
                    raise SyntaxError(f"syntax error near `{w}'")
                if self.peek().kind == "COMMA":
                    self.eat("COMMA")
                    continue
                break
            return ttl_dur, ttl_col

        if self.peek().kind == "NAME" and self.peek().text.lower() in (
                "ttl_duration", "ttl_col"):
            ttl_dur, ttl_col = _ttl_opts()
            return AlterStmt(entity, name, [], [], [],
                             ttl_duration=ttl_dur, ttl_col=ttl_col)
        if self.peek().text.lower() == "comment" and \
                self.peek(1).kind == "ASSIGN":
            # ALTER TAG x comment = "…" (schema/Comment.feature)
            self.eat(), self.eat("ASSIGN")
            return AlterStmt(entity, name, [], [], [],
                             schema_comment=self.eat("STRING").text[1:-1])
        while True:
            op = self.name().lower()
            if op not in ("add", "change", "drop"):
                raise SyntaxError(f"bad ALTER clause {op!r}")
            self.eat("LP")
            while self.peek().kind != "RP":
                col = self.name()
                if op == "drop":
                    drops.append(col)
                else:
                    typ = self.name().lower()
                    if self.peek().kind == "LP":     # fixed_string(N)
                        self.eat("LP")
                        tl = self.eat()
                        if typ == "fixed_string" and (
                                tl.kind != "INT" or int(tl.text) < 1):
                            # positive length only (schema/Schema.feature
                            # "Forbid out of range length")
                            raise SyntaxError(
                                f"Out of range: near `{tl.text}))'")
                        self.eat("RP")
                    # optional NULL / NOT NULL / DEFAULT <expr> /
                    # COMMENT "…" (parser.yy column_spec — same surface
                    # as CREATE; PrunePropertiesRule.feature "test
                    # properties" ALTERs with NOT NULL DEFAULT)
                    default = comment = None
                    notnull = False
                    while True:
                        w = self.peek().text.lower()
                        if w == "not":
                            self.eat()
                            if self.name().lower() != "null":
                                raise SyntaxError("expected NULL after NOT")
                            notnull = True
                        elif w == "null":
                            self.eat()
                            notnull = False
                        elif w == "default":
                            self.eat()
                            d0 = self.peek().pos
                            self.expr()
                            d1 = self.peek().pos
                            default = (self.src[d0:d1].strip()
                                       if self.src else None)
                        elif w == "comment":
                            self.eat()
                            comment = self.eat("STRING").text[1:-1]
                        else:
                            break
                    (adds if op == "add" else changes).append(
                        (col, typ, default, notnull, comment))
                if self.peek().kind == "COMMA":
                    self.eat("COMMA")
            self.eat("RP")
            if self.peek().kind == "COMMA":
                self.eat("COMMA")
                continue
            break
        ttl_dur = ttl_col = None
        if self.peek().kind == "NAME" and self.peek().text.lower() in (
                "ttl_duration", "ttl_col"):
            ttl_dur, ttl_col = _ttl_opts()
        return AlterStmt(entity, name, adds, changes, drops,
                         ttl_duration=ttl_dur, ttl_col=ttl_col)

    def drop_sentence(self) -> "DropStmt | DropSpaceStmt":
        self.eat()                                   # DROP
        is_space = False
        if self.peek().text.lower() == "space":
            self.eat()
            is_space = True
        elif self.peek().text.lower() == "fulltext":
            # DROP FULLTEXT INDEX name (FultextIndexDDL.feature)
            self.eat()
            if self.name().lower() != "index":
                raise SyntaxError("expected INDEX after DROP FULLTEXT")
            return DropStmt("ft_index", self.name(), False)
        else:
            entity = self._tag_or_edge()
            if self.peek().text.lower() == "index":
                # DROP TAG/EDGE INDEX [IF EXISTS] name (Index.feature)
                self.eat()
                entity = f"{entity}_index"
        if_exists = False
        if self.peek().text.lower() == "if":
            self.eat()
            self.eat(text="exists")
            if_exists = True
        if is_space:
            return DropSpaceStmt(self.name(), if_exists)
        return DropStmt(entity, self.name(), if_exists)

    def create_space_sentence(self) -> CreateSpaceStmt:
        """CREATE SPACE [IF NOT EXISTS] name [(opt = val, …)]
        (parser.yy:3633): option values re-serialize to strings —
        vid_type=FIXED_STRING(30) round-trips as 'FIXED_STRING(30)'."""
        self.eat()                                   # CREATE
        self.eat()                                   # SPACE
        if_not_exists = False
        if self.peek().text.lower() == "if":
            self.eat(), self.eat(text="not"), self.eat(text="exists")
            if_not_exists = True
        name = self.name()
        if self.at_kw("as") or self.peek().text.lower() == "as":
            # CREATE SPACE <new> AS <existing> (CreateSpaceAs semantics:
            # clone schema and data)
            self.eat()
            return CreateSpaceStmt(name, {}, if_not_exists, self.name())
        options: dict = {}
        if self.peek().kind == "LP":
            self.eat("LP")
            while self.peek().kind != "RP":
                key = self.name().lower()
                self.eat("ASSIGN")
                parts, depth = [], 0
                while not (depth == 0
                           and self.peek().kind in ("COMMA", "RP")):
                    t = self.eat()
                    depth += {"LP": 1, "RP": -1}.get(t.kind, 0)
                    parts.append(t.text)
                options[key] = "".join(parts)
                if self.peek().kind == "COMMA":
                    self.eat("COMMA")
            self.eat("RP")
        return CreateSpaceStmt(name, options, if_not_exists)

    def clear_sentence(self) -> ClearStmt:
        self.eat()                                   # CLEAR
        self.eat(text="space")
        if_exists = False
        if self.peek().text.lower() == "if":
            self.eat(), self.eat(text="exists")
            if_exists = True
        name = None
        if self.peek().kind in ("NAME", "KW"):
            name = self.name()
        return ClearStmt(name, if_exists)

    def ddl_sentence(self) -> DdlStmt:
        """CREATE … — re-serialize the statement's tokens for the DDL
        grammar (sources/ddl.py); STRING tokens keep their quotes so
        ttl_col = "x" survives the round trip."""
        parts = []
        while self.peek().kind not in ("SEMI", "EOF"):
            parts.append(self.eat().text)
        return DdlStmt(" ".join(parts))

    def admin_sentence(self) -> AdminStmt:
        w = self.eat().text.lower()            # show | describe | desc (KW)
        if w == "show":
            if self.peek().text.lower() == "create":
                self.eat()
                ent = self.eat().text.lower()
                if ent not in ("tag", "edge"):
                    raise SyntaxError("expected TAG or EDGE after "
                                      "SHOW CREATE")
                if self.peek().text.lower() == "index":
                    # SHOW CREATE TAG/EDGE INDEX name (Index.feature:105)
                    self.eat()
                    return AdminStmt("show_create_index", self.name(), ent)
                return AdminStmt("show_create", self.name(), ent)
            what = self.eat("NAME").text.lower()
            if (what == "fulltext"
                    and self.peek().text.lower() == "indexes"):
                self.eat()
                return AdminStmt("show_ft_indexes")
            if (what in ("tag", "edge")
                    and self.peek().text.lower() == "index"
                    and self.peek(1).text.lower() == "status"):
                # SHOW TAG/EDGE INDEX STATUS (TagEdgeIndex.feature)
                self.eat(), self.eat()
                return AdminStmt("index_status", None, what)
            if (what in ("tag", "edge")
                    and self.peek().text.lower() == "indexes"):
                # SHOW TAG/EDGE INDEXES [BY schema] (Index.feature:115)
                self.eat()
                by = None
                if self.peek().text.lower() == "by":
                    self.eat()
                    by = self.name()
                return AdminStmt("show_indexes", by, what)
            if what in ("tags", "edges", "stats", "spaces"):
                return AdminStmt(what)
            raise SyntaxError(f"cannot SHOW {what!r}")
        t = self.eat().text.lower()            # describe/desc TAG|EDGE name
        if t not in ("tag", "edge"):
            raise SyntaxError(f"expected TAG or EDGE after {w.upper()}")
        if self.peek().text.lower() == "index":
            # DESCRIBE/DESC TAG/EDGE INDEX name (Index.feature:89)
            self.eat()
            return AdminStmt("describe_index", self.name(), t)
        return AdminStmt("describe", self.name(), t)

    # -- DML (MutateSentences.h; InsertExecutor/UpdateExecutor/DeleteExecutor)
    def _entity_kw(self) -> str:
        t = self.eat("NAME")
        w = t.text.lower()
        if w not in ("vertex", "edge"):
            raise SyntaxError(f"expected VERTEX or EDGE, got {t.text!r}")
        return w

    def _opt_rank(self) -> int:
        """Optional ``@rank`` suffix of an edge key. The reference grammar
        takes an integer only (parser.yy rank: MINUS? INTEGER); floats or
        strings here are syntax errors, never silent casts (r7 ADVICE —
        DELETE EDGE e "a"->"b"@1.5 must refuse, not delete rank 1)."""
        if self.peek().kind != "AT":
            return 0
        self.eat("AT")
        neg = self.peek().kind == "MINUS" and (self.eat("MINUS") or True)
        t = self.peek()
        if t.kind != "INT":
            raise SyntaxError(
                f"syntax error near `{t.text}': edge rank must be an "
                f"integer @{t.pos}")
        rank = int(self.eat("INT").text)
        return -rank if neg else rank

    def _edge_key(self) -> tuple:
        # src/dst take literals or CONST calls — `hash("Zhangsan")`
        # (Insert/Update/DeleteEdge IntVid features; parser.yy vid)
        src = self._vid_value()
        self.eat("ARROW_R")
        dst = self._vid_value()
        rank = self._opt_rank()
        return (src, dst, rank)

    def insert_sentence(self) -> InsertStmt:
        self.eat_kw("insert")
        is_edge = self._entity_kw() == "edge"
        if not is_edge and self.at_kw("values"):
            # tagless form `INSERT VERTEX VALUES vid:()` — the reference
            # parses it (vertex-only storage) but the validator forbids it
            # (insertVertexOnly.feature:24)
            raise ValueError(
                "Insert vertex is forbidden, please specify the tag")
        ine = False
        if self.peek().kind == "NAME" and self.peek().text.lower() == "if":
            self.eat("NAME")
            self.eat_kw("not")
            t = self.eat("NAME")
            if t.text.lower() != "exists":
                raise SyntaxError(f"expected EXISTS, got {t.text!r}")
            ine = True
        def _spec():
            n = self.name()
            if self.peek().kind != "LP":
                return n, None           # no parens → all declared props
            ps = []
            self.eat("LP")
            while self.peek().kind != "RP":
                ps.append(self.name())
                if self.peek().kind == "COMMA":
                    self.eat("COMMA")
            self.eat("RP")
            return n, ps
        name, props = _spec()
        # no-parens edge form `INSERT EDGE e VALUES …` takes all declared
        # props (parser.yy:3141-3146 insert_edge_sentence first
        # alternative, setDefaultPropNames — r7 ADVICE), same as the
        # vertex props_all path
        extra = []
        while not is_edge and self.peek().kind == "COMMA":
            # INSERT VERTEX t1(…), t2(…) VALUES … (vertex_tag_list)
            self.eat("COMMA")
            extra.append(_spec())
        self.eat_kw("values")
        rows = []
        while True:
            if is_edge:
                src, dst, rank = self._edge_key()
                self.eat("COLON")
                vals = self._value_tuple()
                rows.append((src, dst, rank, vals))
            else:
                vid = self._vid_value()
                self.eat("COLON")
                rows.append((vid, self._value_tuple()))
            if self.peek().kind == "COMMA":
                self.eat("COMMA")
                continue
            break
        return InsertStmt(is_edge, name, props or [], rows, ine,
                          extra_specs=extra or None,
                          props_all=props is None)

    def _value_tuple(self) -> list:
        self.eat("LP")
        vals = []
        while self.peek().kind != "RP":
            if self.peek().kind == "NAME" and self.peek(1).kind == "LP":
                # constant-expression value — `date()`, `datetime("…")`,
                # `now()` (bugfix/CompareDate.feature; the reference
                # evaluates VALUES expressions at insert time): capture
                # the raw call text; the executor evaluates it once
                j, depth, parts = self.i, 0, []
                while j < len(self.toks):
                    t = self.toks[j]
                    parts.append(t.text)
                    if t.kind == "LP":
                        depth += 1
                    elif t.kind == "RP":
                        depth -= 1
                        if depth == 0:
                            break
                    j += 1
                self.i = j + 1
                vals.append(("__const_expr__", "".join(parts)))
            elif self.peek().kind == "VAR_REF" \
                    and self.peek().text[1:] in self.params:
                # parameter value expression — `$p6.c`, `$p1+40`
                # (parameter.feature [param-test-013]): params substitute
                # to literals inside expr(), so the remainder folds
                vals.append(self._fold_const(self.expr()))
            else:
                vals.append(self.literal())
            if self.peek().kind == "COMMA":
                self.eat("COMMA")
        self.eat("RP")
        return vals

    def _fold_const(self, e):
        """Constant-fold a parameter-substituted VALUES expression."""
        if isinstance(e, tuple):
            if e[0] == "lit":
                return e[1]
            if e[0] == "neg":
                return -self._fold_const(e[1])
            if e[0] in ("+", "-", "*", "/", "%") and len(e) == 3:
                a, b = self._fold_const(e[1]), self._fold_const(e[2])
                import operator as _op
                return {"+": _op.add, "-": _op.sub, "*": _op.mul,
                        "/": _op.truediv, "%": _op.mod}[e[0]](a, b)
            if e[0] == "attr":
                base = self._fold_const(e[1])
                if isinstance(base, dict):
                    return base.get(e[2])
            if e[0] == "subscript":
                base = self._fold_const(e[1])
                return base[self._fold_const(e[2])]
        raise SyntaxError(f"expected literal, got non-constant {e!r}")

    def update_sentence(self) -> UpdateStmt:
        insertable = self.eat_kw("update", "upsert").text == "upsert"
        is_edge = self._entity_kw() == "edge"
        # 2.0 syntax names the schema (`UPDATE VERTEX ON tag "vid"`); the
        # 1.0 syntax omits it (`UPDATE VERTEX "vid" SET tag.prop = …`)
        # and the tag comes from the SET targets (Update.feature
        # "update and upsert test with 1.0 syntax")
        name = None
        if self.at_kw("on"):
            self.eat_kw("on")
            name = self.name()
        # runtime-input keys (LookUpUpdate.feature): UPDATE VERTEX ON t
        # $-.id SET … / UPDATE EDGE ON e $-.src->$-.dst@$-.rank SET …
        self._refuse_unevaluable()
        uvar = usrc = udst = urank = None
        keys: list = []
        if self.peek().kind in ("PIPE_REF", "VAR_REF"):
            uvar, usrc = self._delete_vid_ref()
            if is_edge:
                self.eat("ARROW_R")
                self._refuse_unevaluable()
                _, udst = self._delete_vid_ref()
                if self.peek().kind == "AT":
                    self.eat("AT")
                    _, urank = self._delete_vid_ref()
        else:
            keys = [self._edge_key() if is_edge
                    else (self._vid_value(),)]
            # MultiUpdate.feature (2024): UPDATE … ON <schema> k1, k2, … SET
            while self.peek().kind == "COMMA":
                self.eat("COMMA")
                keys.append(self._edge_key() if is_edge
                            else (self._vid_value(),))
        if is_edge and name is None and self.at_kw("of"):
            # 1.0 edge syntax: `UPDATE EDGE "s"->"d"@r OF <type> SET …`
            # (parser.yy update_edge_sentence legacy alternative;
            # InsertWithTimeType.feature UPDATE EDGE … OF edge_date)
            self.eat_kw("of")
            name = self.name()
        self.eat_kw("set")
        sets = []
        on_name = name
        set_schemas: list[str] = []
        while True:
            prop = self.name()
            tgt_schema = on_name or ""
            if self.peek().kind == "DOT":      # tag.prop form
                self.eat("DOT")
                name = name or prop
                tgt_schema = prop
                prop = self.name()
            self.eat("ASSIGN")
            set_schemas.append(tgt_schema)
            sets.append((prop, self.expr()))
            if self.peek().kind == "COMMA":
                self.eat("COMMA")
                continue
            break
        if not is_edge and len(set(set_schemas)) > 1:
            # 1.0 vertex syntax: every SET target must name ONE tag —
            # `SET course.credits = …, name = …` mixes "course" with a
            # bare target (UpdateValidator, Update.feature:329 "Multi
            # schema name: ,course"); edges allow bare + `OF`-matching
            # targets (Update.feature:118)
            raise ValueError(
                "Multi schema name: " + ",".join(sorted(set(set_schemas))))
        if name is None:
            raise SyntaxError("UPDATE needs ON <schema> or tag.prop SETs")
        when = self.expr() if self.try_kw("when") else None
        yields = self.yield_items() if self.try_kw("yield") else None
        return UpdateStmt(is_edge, name, keys, sets, insertable, when,
                          yields, var=uvar, src_col=usrc, dst_col=udst,
                          rank_col=urank)

    def _refuse_unevaluable(self) -> None:
        """DELETE key positions take literals or $-/$var property refs
        only; a function call like ``src($-.e)`` is the reference's
        "not an evaluable expression" SemanticError
        (DeleteVertex.feature:236, DeleteEdge.feature:230)."""
        if self.peek().kind == "NAME" and self.peek(1).kind == "LP":
            j, depth, parts = self.i, 0, []
            while j < len(self.toks):
                t = self.toks[j]
                parts.append(t.text)
                if t.kind == "LP":
                    depth += 1
                elif t.kind == "RP":
                    depth -= 1
                    if depth == 0:
                        break
                j += 1
            raise ValueError(
                f"`{''.join(parts)}' is not an evaluable expression.")

    def _delete_edge_key(self) -> tuple:
        """DELETE EDGE key: src->dst[@rank] where src/dst take literals
        or CONST calls (hash("…") — DeleteEdge.IntVid.feature:79)."""
        src = self._vid_value()
        self.eat("ARROW_R")
        dst = self._vid_value()
        rank = self._opt_rank()
        return (src, dst, rank)

    def _delete_vid_ref(self) -> tuple[str, str]:
        """A single ``$-.col`` / ``$var.col`` vid reference."""
        t = self.peek()
        if t.kind == "PIPE_REF":
            return "$-", self.eat("PIPE_REF").text.split(".", 1)[1]
        var = self.eat("VAR_REF").text
        self.eat("DOT")
        return var, self.eat("NAME").text

    def delete_sentence(self) -> DeleteStmt:
        self.eat_kw("delete")
        if (self.peek().kind == "NAME"
                and self.peek().text.lower() == "tag"):
            # DELETE TAG <name_list|*> FROM <vid_list|vid_ref>
            # (delete_tag_sentence parser.yy:3321-3338)
            self.eat("NAME")
            if self.peek().kind == "STAR":
                self.eat("STAR")
                tags = None
            else:
                tags = [self.name()]
                while self.peek().kind == "COMMA":
                    self.eat("COMMA")
                    tags.append(self.name())
            self.eat_kw("from")
            if self.peek().kind in ("PIPE_REF", "VAR_REF"):
                var, col = self._delete_vid_ref()
                return DeleteStmt("tag", None, [], tags=tags,
                                  var=var, src_col=col)
            # _vid_value: literals and CONST calls (hash("…") —
            # DeleteTag.IntVid.feature:34); a call reading runtime
            # input stays the evaluable-expression refusal
            keys = [self._vid_value()]
            while self.peek().kind == "COMMA":
                self.eat("COMMA")
                keys.append(self._vid_value())
            return DeleteStmt("tag", None, keys, tags=tags)
        kind = self._entity_kw()
        if kind == "edge":
            name = self.name()
            if self.peek().kind in ("PIPE_REF", "VAR_REF"):
                # DELETE EDGE e $-.src -> $-.dst [@ $-.rank]
                # (edge_key_ref parser.yy; DeleteEdge.feature:197)
                var, src_col = self._delete_vid_ref()
                self.eat("ARROW_R")
                self._refuse_unevaluable()
                _, dst_col = self._delete_vid_ref()
                rank_col = None
                if self.peek().kind == "AT":
                    self.eat("AT")
                    _, rank_col = self._delete_vid_ref()
                return DeleteStmt("edge", name, [], var=var,
                                  src_col=src_col, dst_col=dst_col,
                                  rank_col=rank_col)
            keys = [self._delete_edge_key()]
            while self.peek().kind == "COMMA":
                self.eat("COMMA")
                keys.append(self._delete_edge_key())
            return DeleteStmt("edge", name, keys)
        if self.peek().kind in ("PIPE_REF", "VAR_REF"):
            # DELETE VERTEX $-.id / $var.id [WITH EDGE]
            # (vid_ref_expression parser.yy:3297-3318)
            var, col = self._delete_vid_ref()
            with_edge = False
            if self.try_kw("with"):
                t = self.eat("NAME")
                if t.text.lower() != "edge":
                    raise SyntaxError(
                        f"expected EDGE after WITH, got {t.text!r}")
                with_edge = True
            return DeleteStmt("vertex", None, [], with_edge,
                              var=var, src_col=col)
        keys = [self._vid_value()]
        while self.peek().kind == "COMMA":
            self.eat("COMMA")
            keys.append(self._vid_value())
        with_edge = False
        if self.try_kw("with"):
            t = self.eat("NAME")
            if t.text.lower() != "edge":
                raise SyntaxError(f"expected EDGE after WITH, got {t.text!r}")
            with_edge = True
        return DeleteStmt("vertex", None, keys, with_edge)

    # -- UNWIND (UnwindValidator.cpp: non-list → 1 row, empty list dropped)
    def unwind_sentence(self) -> UnwindStmt:
        self.eat_kw("unwind")
        e0 = self.peek().pos
        e = self.expr()
        if _is_agg(e):
            # UnwindValidator (match/Unwind.feature "unwind invalid
            # expression")
            text = self.src[e0:self.peek().pos].strip() if self.src \
                else "..."
            raise ValueError("Can't use aggregating expressions in "
                             f"unwind clause, `{text}'")
        self.eat_kw("as")
        return UnwindStmt(e, self.name())

    # -- GO (parser.yy:1424 go_sentence)
    def go_sentence(self) -> GoStmt:
        self.eat_kw("go")
        mn = mx = 1
        if self.peek().kind == "INT":
            mn = mx = int(self.eat("INT").text)
            if self.try_kw("to"):
                mx = int(self.eat("INT").text)
            self.eat_kw("steps", "step")
        self.eat_kw("from")
        sources, src_col = self.vid_list()
        self.eat_kw("over")
        if self.peek().kind == "STAR":   # OVER * — every edge type
            self.eat("STAR")
            edges = None
        else:
            edges = [self.name()]
            while self.peek().kind == "COMMA":
                self.eat("COMMA")
                edges.append(self.name())
        direction = "out"
        if self.try_kw("reversely"):
            direction = "in"
        elif self.try_kw("bidirect"):
            direction = "both"
        where = self.expr() if self.try_kw("where") else None
        distinct = False
        yields: list[YieldItem] = []
        if self.try_kw("yield"):
            distinct = self.try_kw("distinct")
            yields = self.yield_items()
        # truncate clause (parser.yy go_sentence :1424-1430):
        # SAMPLE [n1,…] (random per-vertex) / LIMIT [n1,…] (per-vertex cap)
        sample = limits = None
        if self.try_kw("sample"):
            sample = self._int_list("sample")
        elif self.at_kw("limit") and self.peek(1).kind == "LB":
            self.eat_kw("limit")
            limits = self._int_list("limit")
        # the element list must name one cap per step (SampleLimit
        # .feature: "`[1,2]' length must be equal to GO step size 1")
        lst = sample if sample is not None else limits
        if lst is not None and len(lst) != mx:
            txt = "[" + ",".join(str(v) for v in lst) + "]"
            raise ValueError(f"`{txt}' length must be equal to GO step "
                             f"size {mx}.")
        return GoStmt(mn, mx, sources, src_col, edges, direction, where,
                      yields, distinct, sample, limits)

    def _int_list(self, clause: str = "sample") -> list[int]:
        start = self.i
        self.eat("LB")
        # pre-scan the bracketed run: a parameter anywhere in it is the
        # reference's refusal, phrased with the clause's source text
        # (parameter.feature: `SAMPLE [1,$p1]`)
        j = self.i
        while self.toks[j].kind not in ("RB", "EOF"):
            if (self.toks[j].kind == "VAR_REF"
                    and self.toks[j].text[1:] in self.params):
                while self.toks[j].kind not in ("RB", "EOF"):
                    j += 1
                txt = "".join(t.text for t in self.toks[start:j + 1])
                raise SyntaxError(f"Parameter is not supported in "
                                  f"{clause} clause near `{txt}'")
            j += 1
        # elements parse as literals so the refusals are the reference's
        # SEMANTIC errors, not parse failures (SampleLimit.feature):
        # "must be nonnegative" for -1, "type must be Integer" for "1"
        def elem() -> int:
            neg = False
            if self.peek().kind == "MINUS":
                self.eat("MINUS")
                neg = True
            t = self.peek()
            if t.kind != "INT":
                self.literal()           # consume whatever it was
                raise ValueError(
                    "Limit/Sample element type must be Integer.")
            v = int(self.eat("INT").text)
            if neg:
                raise ValueError(
                    "Limit/Sample element must be nonnegative.")
            return v

        out = [elem()]
        while self.peek().kind == "COMMA":
            self.eat("COMMA")
            out.append(elem())
        self.eat("RB")
        return out

    def vid_list(self, bare_var: bool = True):
        t = self.peek()
        if t.kind in ("PIPE_INPUT", "PIPE_REF"):
            self.i += 1
            col = t.text.split(".", 1)[1] if t.kind == "PIPE_REF" else None
            return "$-", col
        if t.kind == "VAR_REF":
            self.i += 1
            if t.text[1:] in self.params:
                # parameter.feature [param-test-006..009]: vid positions
                # take literals or runtime-input refs, never parameters
                raise SyntaxError("Parameter is not supported in vid "
                                  f"near `{t.text}'")
            col = None
            if self.peek().kind == "DOT":
                self.eat("DOT")
                col = self.eat("NAME").text
            elif not bare_var:
                # FETCH refuses a bare `$var` key (parameter.feature
                # [param-test-007] FETCH PROP ON player $nonexist); GO
                # accepts it and reads the variable's first column
                raise SyntaxError("Variable is not supported in vid "
                                  f"near `{t.text}'")
            return t.text, col
        vids = [self._vid_value()]
        while self.peek().kind == "COMMA":
            self.eat("COMMA")
            vids.append(self._vid_value())
        return vids, None

    def _vid_value(self):
        """One vid: a literal, or a CONSTANT function call — `hash("x")`,
        `uuid()` (parser.yy vid : function_call_expression;
        GO.IntVid.feature / DeleteVertex.IntVid.feature). A call that
        reads runtime input is the evaluable-expression refusal."""
        t = self.peek()
        if t.kind == "NAME" and self.peek(1).kind == "LP":
            j, depth, dep = self.i, 0, False
            while j < len(self.toks):
                tk = self.toks[j]
                if tk.kind in ("PIPE_REF", "PIPE_INPUT", "VAR_REF"):
                    dep = True
                if tk.kind == "LP":
                    depth += 1
                elif tk.kind == "RP":
                    depth -= 1
                    if depth == 0:
                        break
                j += 1
            if dep:
                self._refuse_unevaluable()
            text = "".join(tok.text for tok in self.toks[self.i:j + 1])
            self.i = j + 1
            return ("__const_expr__", text)
        return self.literal()

    def literal(self):
        # same 512 descent guard as expr(): deep list/set-literal nesting
        # ("[[[[…") recurses through literal() and must raise the
        # reference's depth refusal, never RecursionError (r7 ADVICE)
        self._depth += 1
        if self._depth > 512:
            self._depth = 0
            raise SyntaxError("The above expression nesting exceeds "
                              "max_expression_depth (512)")
        try:
            return self._literal_inner()
        finally:
            self._depth = max(0, self._depth - 1)

    def _literal_inner(self):
        t = self.peek()
        if t.kind == "LB":               # [a, b] — List-prop INSERT value
            self.eat("LB")
            out = []
            while self.peek().kind != "RB":
                out.append(self.literal())
                if self.peek().kind == "COMMA":
                    self.eat("COMMA")
            self.eat("RB")
            return out
        if t.kind == "LC":               # {a, b} — Set-prop INSERT value
            self.eat("LC")
            out = []
            while self.peek().kind != "RC":
                v = self.literal()
                if v not in out:         # sets dedup, first-wins order
                    out.append(v)
                if self.peek().kind == "COMMA":
                    self.eat("COMMA")
            self.eat("RC")
            return out
        if t.kind == "STRING":
            self.i += 1
            return _unescape_string(t.text[1:-1])
        if t.kind == "INT":
            self.i += 1
            v = int(t.text)
            if v > 2**63 - 1:
                raise SyntaxError(f"Out of range: near `{t.text}'")
            return v
        if t.kind == "FLOAT":
            self.i += 1
            return float(t.text)
        if t.kind == "KW" and t.text in ("true", "false"):
            # boolean literal value ({in_service: false} inline prop
            # maps — bugfix/MatchCrash.feature)
            self.i += 1
            return t.text == "true"
        if t.kind == "KW" and t.text == "null":
            self.i += 1
            return None
        if t.kind == "MINUS":
            self.i += 1
            nxt = self.peek()
            if nxt.kind == "INT":        # fold so INT64_MIN is reachable
                self.i += 1
                v = -int(nxt.text)
                if v < -(2**63):
                    raise SyntaxError(f"Out of range: near `{nxt.text}'")
                return v
            v = self.literal()
            if not isinstance(v, (int, float)) or isinstance(v, bool):
                # -"str" / -true — negation is numeric-only
                # (found by fuzzing)
                raise SyntaxError(
                    f"expected numeric literal after `-' @{t.pos}")
            return -v
        raise SyntaxError(f"expected literal, got {t.text!r} @{t.pos}")

    def yield_items(self) -> list[YieldItem]:
        items = [self.yield_item()]
        while self.peek().kind == "COMMA":
            self.eat("COMMA")
            items.append(self.yield_item())
        return items

    def yield_item(self) -> YieldItem:
        if self.peek().kind == "STAR":   # WITH * / RETURN * passthrough
            self.eat("STAR")
            return YieldItem(("star",), None)
        src_start = self.peek().pos
        e = self.expr()
        if _ast_depth(e) > 512:
            # MAX_EXPRESSION_DEPTH (expression/Depth.feature: 128 `+`
            # terms pass, ~840 refuse)
            raise SyntaxError("The above expression's depth exceeds "
                              "the maximum depth")
        src_end = self.peek().pos
        # a yield item that IS a bare `$var` (possibly subscripted /
        # attributed) is the reference's parse-level refusal — even for
        # an undefined name (parameter.feature [param-test-001])
        core = e
        while isinstance(core, tuple) and core[0] in ("subscript", "slice",
                                                      "attr"):
            core = core[1]
        if isinstance(core, tuple) and core[0] == "param_unres":
            raise SyntaxError("Direct output of variable is "
                              f"prohibited near `${core[1]}'")
        alias = None
        if self.try_kw("as"):
            # alias position accepts unreserved keywords (`AS end` —
            # yield/join.feature "join path")
            alias = self.name()
        elif isinstance(e, tuple):
            # default output name from the expression (reference derives
            # column names from expression text): a bare label keeps its
            # name; `$-.x`/`$var.x` header as WRITTEN (`$-.x` — GO.feature
            # "reference pipe in yield and where", r9 sweep find), via
            # _expr_text at projection time
            if e[0] == "name":
                alias = e[1]
        src = None
        if alias is None and self.src is not None:
            src = self.src[src_start:src_end].strip()
        return YieldItem(e, alias, src)

    # -- FETCH
    def fetch_sentence(self):
        self.eat_kw("fetch")
        self.eat_kw("prop")
        self.eat_kw("on")
        if self.peek().kind == "STAR":   # FETCH PROP ON * — every tag
            self.eat("STAR")
            names = ["*"]
        else:
            names = [self.name()]
            while self.peek().kind == "COMMA":
                self.eat("COMMA")
                names.append(self.name())
        if self.peek().kind in ("STRING", "INT", "PIPE_INPUT", "PIPE_REF",
                                "VAR_REF", "FLOAT", "MINUS") or \
                (self.peek().kind == "NAME"
                 and self.peek(1).kind == "LP"):
            # vertex form unless "src -> dst" follows (edge fetch is
            # always a single edge type); NAME+LP is a constant
            # function-call vid — FETCH PROP ON player hash("…")
            # (DeleteTag.IntVid.feature, parser.yy vid)
            save = self.i
            if len(names) == 1 and names[0] != "*" and \
                    self.peek().kind not in ("PIPE_INPUT", "PIPE_REF",
                                             "VAR_REF"):
                self._vid_value()
                if self.peek().kind in ("ARROW_R", "AT"):
                    self.i = save
                    return self.fetch_edges_tail(names[0])
                self.i = save
            if self.peek().kind in ("PIPE_REF", "VAR_REF") and \
                    self._ref_is_edge_key():
                return self.fetch_edges_tail(names[0])
            if self.peek().kind == "PIPE_INPUT":
                # bare `$-` (no .col) is 1.x syntax the reference
                # dropped (FetchVertices.strVid "Different from v1.x")
                raise SyntaxError("syntax error near `$-'")
            vids, col = self.vid_list(bare_var=False)
            yields, distinct = [], False
            if self.try_kw("yield"):
                distinct = self.try_kw("distinct")
                yields = self.yield_items()
            return FetchVerticesStmt(names, vids, col, yields, distinct)
        raise SyntaxError("FETCH: expected vid list")

    def _ref_is_edge_key(self) -> bool:
        # $-.src -> … / $var.src -> … means edge-key fetch, not a vid list
        j = self.i + 1
        if self.toks[self.i].kind == "VAR_REF":
            if j + 1 >= len(self.toks) or self.toks[j].kind != "DOT":
                return False
            j += 2
        return j < len(self.toks) and self.toks[j].kind == "ARROW_R"

    def _edge_key_ref(self) -> tuple[str, str]:
        t = self.peek()
        if t.kind == "PIPE_REF":
            return "$-", self.eat("PIPE_REF").text.split(".", 1)[1]
        var = self.eat("VAR_REF").text
        self.eat("DOT")
        return var, self.eat("NAME").text

    def fetch_edges_tail(self, edge: str) -> FetchEdgesStmt:
        if self.peek().kind in ("PIPE_REF", "VAR_REF"):
            # FETCH PROP ON e $-.src->$-.dst / $var.src->$var.dst
            var, src_col = self._edge_key_ref()
            self.eat("ARROW_R")
            _, dst_col = self._edge_key_ref()
            rank_col = None
            if self.peek().kind == "AT":
                # $-.src -> $-.dst@$-.maxRank (GO.feature:185 piped
                # max-rank fetch); the rank ref shares the key source
                self.eat("AT")
                _, rank_col = self._edge_key_ref()
            yields, distinct = [], False
            if self.try_kw("yield"):
                distinct = self.try_kw("distinct")
                yields = self.yield_items()
            return FetchEdgesStmt(edge, [], yields, distinct,
                                  var, src_col, dst_col, rank_col)
        keys = []
        while True:
            src = self._vid_value()
            self.eat("ARROW_R")
            dst = self._vid_value()
            rank = self._opt_rank()      # src->dst@rank; @ defaults to 0
            keys.append((src, rank, dst))
            if self.peek().kind == "COMMA":
                self.eat("COMMA")
                continue
            break
        yields, distinct = [], False
        if self.try_kw("yield"):
            distinct = self.try_kw("distinct")
            yields = self.yield_items()
        return FetchEdgesStmt(edge, keys, yields, distinct)

    # -- LOOKUP
    def lookup_sentence(self) -> LookupStmt:
        self.eat_kw("lookup")
        self.eat_kw("on")
        name = self.name()
        where = self.expr() if self.try_kw("where") else None
        yields, distinct = [], False
        if self.try_kw("yield"):
            # LOOKUP shares the generic yield_clause (parser.yy:2202 →
            # 1574-1588), which admits YIELD DISTINCT — gap found by the
            # r9 result-fuzzer
            distinct = self.try_kw("distinct")
            yields = self.yield_items()
        return LookupStmt(False, name, where, yields, distinct)

    # -- FIND PATH
    def find_path_sentence(self) -> FindPathStmt:
        """The reference's full production (parser.yy:2317-2345):
        FIND [SINGLE] SHORTEST|ALL|NOLOOP PATH [WITH PROP] from to over
        [WHERE expr] [UPTO n STEPS] [YIELD path AS alias]. YIELD is
        mandatory there (FindPathValidator::validateYield) but kept
        optional here for the legacy distance/path_str statement shape."""
        self.eat_kw("find")
        # SINGLE is contextual — it stays an identifier elsewhere (the
        # openCypher single() list predicate)
        single = (self.peek().kind == "NAME"
                  and self.peek().text.lower() == "single")
        if single:
            self.i += 1
        kind = (self.eat_kw("shortest") if single
                else self.eat_kw("shortest", "all", "noloop")).text
        self.eat_kw("path")
        with_prop = False
        if self.try_kw("with"):
            self.eat_kw("prop")
            with_prop = True
        self.eat_kw("from")
        sources, src_col = self.vid_list()
        self.eat_kw("to")
        targets, dst_col = self.vid_list()
        edges = None
        direction = "out"
        if self.try_kw("over"):
            if self.peek().kind == "STAR":
                self.eat("STAR")
                edges = None
            else:
                edges = [self.name()]
                while self.peek().kind == "COMMA":
                    self.eat("COMMA")
                    edges.append(self.name())
            if self.try_kw("reversely"):
                direction = "in"
            elif self.try_kw("bidirect"):
                direction = "both"
        where = self.expr() if self.try_kw("where") else None
        max_steps = 5
        if self.try_kw("upto"):
            max_steps = int(self.eat("INT").text)
            self.eat_kw("steps", "step")
        yield_alias = None
        if self.try_kw("yield"):
            # FindPathValidator::validateYield: exactly one column whose
            # expression is the label PATH (`path` is a keyword token, so
            # the clause is parsed directly, not through yield_items)
            t = self.peek()
            if t.text.lower() != "path":
                raise ValueError(f"Illegal yield clauses `{t.text}'. "
                                 "only support yield path")
            self.i += 1
            alias = None
            if self.try_kw("as"):
                alias = self.name()
            if self.peek().kind == "COMMA":
                raise ValueError("Only support yield path")
            yield_alias = alias or "path"
        return FindPathStmt(kind, sources, targets, edges, direction,
                            max_steps, src_col, dst_col, with_prop, single,
                            where, yield_alias)

    # -- GET SUBGRAPH
    def subgraph_sentence(self) -> SubgraphStmt:
        self.eat_kw("get")
        self.eat_kw("subgraph")
        self.try_kw("with")  # WITH PROP — props always included here
        self.try_kw("prop")
        steps = 1
        if self.peek().kind == "INT":
            steps = int(self.eat("INT").text)
            self.eat_kw("steps", "step")
        self.eat_kw("from")
        sources, src_col = self.vid_list()
        in_e = out_e = both_e = None
        while self.at_kw("in", "out", "both"):
            d = self.eat_kw("in", "out", "both").text
            es = [self.name()]
            while self.peek().kind == "COMMA":
                self.eat("COMMA")
                es.append(self.name())
            if d == "in":
                in_e = es
            elif d == "out":
                out_e = es
            else:
                both_e = es
        where = self.expr() if self.try_kw("where") else None
        yields: list[YieldItem] = []
        if self.try_kw("yield"):
            # GetSubgraphValidator: only `vertices`/`edges`, alias
            # mandatory (subgraph.feature "invalid input")
            while True:
                t = self.eat("NAME").text
                if t.lower() not in ("vertices", "edges"):
                    raise ValueError(
                        "Get Subgraph only support YIELD vertices OR edges")
                if not self.try_kw("as"):
                    raise SyntaxError(
                        f"please add alias when using `{t}'. near `{t}'")
                yields.append(YieldItem(("name", t.lower()),
                                        self.eat("NAME").text))
                if self.peek().kind == "COMMA":
                    self.eat("COMMA")
                    continue
                break
        return SubgraphStmt(steps, sources, in_e, out_e, both_e,
                            src_col, yields, where)

    # -- YIELD / GROUP BY / ORDER BY / LIMIT (pipe stages)
    def yield_sentence(self) -> YieldStmt:
        self.eat_kw("yield")
        return self._yield_body()

    def _yield_body(self) -> YieldStmt:
        distinct = self.try_kw("distinct")
        start = self.peek().pos
        items = self.yield_items()
        if self.at_kw("from"):
            # joined YIELD (parser.yy:1730-1749): the join form refuses
            # aggregates AT PARSE TIME, quoting the yield-columns text
            if any(_is_agg(y.expr) for y in items):
                end = self.toks[self.i - 1]
                txt = self.src[start:end.pos + len(end.text)]
                raise SyntaxError("Invalid use of aggregating function "
                                  f"in yield clause. near `{txt}'")
            return YieldStmt(items, None, distinct, self._join_clause())
        where = self.expr() if self.try_kw("where") else None
        return YieldStmt(items, where, distinct)

    def _join_var(self) -> str:
        # join operands must be `$var` — `$-` is the reference's syntax
        # error (join.feature "invalid join": near `$-')
        t = self.peek()
        if t.kind == "VAR_REF":
            self.eat()
            return t.text[1:]
        near = "$-" if t.kind in ("PIPE_INPUT", "PIPE_REF") else t.text
        raise SyntaxError(f"syntax error near `{near}'")

    def _join_cond(self) -> tuple:
        v = self._join_var()
        self.eat("DOT")
        return ("var_prop", v, self.name())

    def _join_clause(self) -> tuple:
        """``FROM $a [INNER|LEFT|RIGHT|OUTER|SEMI|ANTI] JOIN $b [ON
        $a.x == $b.y]`` (parser.yy:1681-1717). Mode words are contextual
        keywords here, as in the reference grammar; the bare ``FROM $a
        JOIN $b`` alternative carries no condition (kCrossJoin) and is
        refused at validation like every non-inner mode."""
        self.eat_kw("from")
        left = self._join_var()
        mode = None
        t = self.peek()
        if t.kind in ("NAME", "KW") and t.text.lower() in (
                "inner", "left", "right", "outer", "semi", "anti"):
            mode = t.text.lower()
            self.eat()
        if not (self.peek().kind in ("NAME", "KW")
                and self.peek().text.lower() == "join"):
            raise SyntaxError(f"syntax error near `{self.peek().text}'")
        self.eat()
        right = self._join_var()
        if mode is None:
            return ("cross", left, right, None, None)
        self.eat_kw("on")
        lc = self._join_cond()
        if self.peek().kind in ("EQ", "ASSIGN"):
            self.eat()
        else:
            raise SyntaxError(f"syntax error near `{self.peek().text}'")
        return (mode, left, right, lc, self._join_cond())

    def group_by_sentence(self) -> GroupByStmt:
        self.eat_kw("group")
        self.eat_kw("by")
        keys = [self.expr()]
        while self.peek().kind == "COMMA":
            self.eat("COMMA")
            keys.append(self.expr())
        self.eat_kw("yield")
        return GroupByStmt(keys, self.yield_items())

    def order_by_sentence(self) -> OrderByStmt:
        self.eat_kw("order")
        self.eat_kw("by")
        items = []
        while True:
            e = self.expr()
            asc = True
            if self.try_kw("desc"):
                asc = False
            else:
                self.try_kw("asc")
            items.append((e, asc))
            if self.peek().kind == "COMMA":
                self.eat("COMMA")
                continue
            break
        return OrderByStmt(items)

    def limit_sentence(self) -> LimitStmt:
        self.eat_kw("limit")
        a = self._limit_int()
        if self.peek().kind == "COMMA":
            self.eat("COMMA")
            b = self._limit_int()
            return LimitStmt(b, a)
        if self.try_kw("offset"):       # LIMIT n OFFSET m (parser.yy)
            return LimitStmt(a, self._limit_int("OFFSET"))
        return LimitStmt(a)

    def _limit_int(self, clause: str = "LIMIT") -> int:
        """Integer position that — with parameters substituted — may be a
        constant-foldable expression (parameter.feature `LIMIT $p1+1`,
        `LIMIT $p7.a.b.d[0]`); a non-integer constant is the reference's
        SemanticError."""
        if self.peek().kind == "INT" and self.peek(1).kind not in (
                "PLUS", "MINUS", "STAR", "SLASH", "PCT"):
            return int(self.eat("INT").text)
        if self.peek().kind in ("FLOAT", "STRING"):
            # the reference grammar takes ONLY an integer or a parameter
            # expr here — `LIMIT 2.0` is its syntax error
            raise SyntaxError(f"syntax error near `{self.peek().text}'")
        if self.peek().kind == "INT":
            # integer followed by an operator — `LIMIT 1+2` is a syntax
            # error (GroupbyLimit.feature) while `LIMIT $p1+1` folds
            # (parameter.feature)
            self.eat()
            t = self.peek()
            raise SyntaxError(f"syntax error near `{t.text}'")
        e = self.expr()
        names = [x[1] for x in _iter_exprs(e) if x[0] == "param_unres"]
        if names:
            raise ValueError("Undefined parameters: "
                             + ", ".join(dict.fromkeys(names)))
        v = _const_eval(e)
        if isinstance(v, bool) or not isinstance(v, int):
            raise ValueError(f"{clause} should be of type integer")
        return v

    # -- MATCH (clause chain)
    def match_path(self) -> MatchPath:
        nodes, edges = [self.match_node()], []
        while self.peek().kind in ("MINUS", "ARROW_L", "MINUSMINUS"):
            edges.append(self.match_edge())
            nodes.append(self.match_node())
        return MatchPath(nodes, edges)

    def _maybe_named_path(self) -> MatchPath:
        alias = None
        # the alias may collide with a keyword (`path = shortestPath(…)`,
        # LDBC IC13) — a pattern itself always starts with `(`, so
        # KW + `=` is unambiguous here
        if (self.peek().kind in ("NAME", "KW")
                and self.peek(1).kind == "ASSIGN"):
            alias = self.eat().text
            self.eat("ASSIGN")
        # shortestPath((a)-[*..n]-(b)) / allShortestPaths(...) — the MATCH
        # kShortestPath plan node (SingleShortestPath.cpp:214-265)
        shortest = None
        if (self.peek().kind == "NAME"
                and self.peek().text.lower() in ("shortestpath",
                                                 "allshortestpaths")
                and self.peek(1).kind == "LP"):
            shortest = ("single" if self.peek().text.lower() == "shortestpath"
                        else "all")
            self.eat("NAME")
            self.eat("LP")
            p = self.match_path()
            self.eat("RP")
        else:
            p = self.match_path()
        p.path_alias = alias
        p.shortest = shortest
        return p

    def match_clause(self, optional: bool) -> MatchClause:
        self.eat_kw("match")
        paths = [self._maybe_named_path()]
        while self.peek().kind == "COMMA":
            self.eat("COMMA")
            paths.append(self._maybe_named_path())
        if optional and self.at_kw("where"):
            # the reference's grammar has NO where slot on OPTIONAL
            # MATCH (parser.yy optional_match; MultiLineMultiQueryParts
            # pins the SyntaxError in every spelling)
            pos = self.peek().pos
            near = (self.src[pos:pos + 40].split("\n")[0].rstrip()
                    if self.src else "WHERE …")
            raise SyntaxError("Where clause in optional match is not "
                              f"supported. near `{near}'")
        where = self.expr() if self.try_kw("where") else None
        return MatchClause(paths, where, optional)

    def _order_by_items(self) -> list[tuple]:
        self.eat_kw("by")
        out = []
        while True:
            e = self.expr()
            asc = not self.try_kw("desc")
            if asc:
                self.try_kw("asc")
            out.append((e, asc))
            if self.peek().kind == "COMMA":
                self.eat("COMMA")
                continue
            break
        return out

    def with_clause(self) -> WithClause:
        self.eat_kw("with")
        distinct = self.try_kw("distinct")
        items = self.yield_items()
        for it in items:
            if it.alias is None and isinstance(it.expr, tuple) \
                    and it.expr and it.expr[0] not in ("star", "name"):
                # WithValidator (match/With.feature "error check")
                raise ValueError(
                    "Expression in WITH must be aliased (use AS)")
        order_by = self._order_by_items() if self.try_kw("order") else None
        skip = self._limit_int("SKIP") if self.try_kw("skip") else None
        limit = self._limit_int() if self.try_kw("limit") else None
        where = self.expr() if self.try_kw("where") else None
        return WithClause(items, where, distinct, order_by, skip, limit)

    def match_sentence(self, initial: list | None = None) -> MatchStmt:
        clauses: list = list(initial or [])
        while True:
            if self.at_kw("match"):
                clauses.append(self.match_clause(False))
            elif self.at_kw("optional"):
                self.eat_kw("optional")
                clauses.append(self.match_clause(True))
            elif self.at_kw("with"):
                clauses.append(self.with_clause())
            elif self.at_kw("unwind"):
                clauses.append(self.unwind_sentence())
            elif self.at_kw("return"):
                break
            else:
                t = self.peek()
                raise SyntaxError(
                    f"expected MATCH/WITH/UNWIND/RETURN, got {t.text!r} @{t.pos}")
        self.eat_kw("return")
        distinct = self.try_kw("distinct")
        rets = self.yield_items()
        order_by = self._order_by_items() if self.try_kw("order") else None
        skip = None
        if self.try_kw("skip"):
            skip = self._limit_int("SKIP")
        limit = None
        if self.try_kw("limit"):
            limit = self._limit_int()
        return MatchStmt(clauses, rets, order_by, limit, distinct, skip)

    def _const_prop_value(self):
        """A pattern prop value: a literal, or a constant arithmetic
        expression folded at parse time (`{age: +20}`, `{age: 1+19}`,
        `{likeness: 40+50+5}` — match/Base.feature "filter evaluable";
        the reference folds via Expression::eval on a const expr)."""
        nxt = self.peek().kind
        if nxt in ("LB", "LC"):          # list/set literal value
            return self.literal()
        e = self.expr()
        try:
            return _const_eval(e)
        except ValueError:
            raise SyntaxError(
                f"Invalid value in property pattern near `{e!r}'")

    def _match_prop_map(self) -> dict:
        props: dict = {}
        self.eat("LC")
        while self.peek().kind != "RC":
            k = self.eat("NAME").text
            self.eat("COLON")
            if self.peek().kind == "VAR_REF":
                # {name: $p7.a.b.c} — parameter chains fold to
                # literals in expr_postfix (parameter.feature)
                e = self.expr_postfix()
                if e[0] != "lit":
                    names = [x[1] for x in _iter_exprs(e)
                             if x[0] == "param_unres"]
                    raise ValueError(
                        "Undefined parameters: " + ", ".join(names)
                        if names else
                        f"Invalid value in property pattern: {k}")
                props[k] = e[1]
            else:
                props[k] = self._const_prop_value()
            if self.peek().kind == "COMMA":
                self.eat("COMMA")
        self.eat("RC")
        return props

    def match_node(self) -> MatchNode:
        self.eat("LP")
        alias = tag = None
        if self.peek().kind == "NAME" or (
                self.peek().kind == "KW"
                and self.peek().text in _UNRESERVED):
            alias = self.eat().text
        # `:tag{props}` items repeat — `(v:person{name:"Mary"}:teacher)`
        # intersects every listed tag (Scan.feature), each prop map
        # scoped to its own tag
        extra: list = []
        props: dict = {}
        first = True
        while self.peek().kind == "COLON":
            self.eat("COLON")
            tg = self.name()
            pm = self._match_prop_map() if self.peek().kind == "LC" else {}
            if first:
                tag, props, first = tg, pm, False
            else:
                extra.append((tg, pm))
        if first and self.peek().kind == "LC":    # tagless `(v {age: 29})`
            props = self._match_prop_map()
        self.eat("RP")
        return MatchNode(alias, tag, props, extra)

    def match_edge(self) -> MatchEdge:
        direction = "out"
        if self.peek().kind == "MINUSMINUS":
            # `--` / `-->` detail-less edges are single tokens in the
            # reference lexer (scanner.lex:370-371 MINUS_MINUS /
            # MINUS_R_ARROW); the expression grammar rejects the token,
            # the pattern grammar reads it as an undirected (or, with
            # the trailing `>`, outbound) edge with no bracket
            self.eat("MINUSMINUS")
            if self.peek().kind == "GT":
                self.eat("GT")
                return MatchEdge(None, [], "out", 1, 1, {}, var_len=False)
            return MatchEdge(None, [], "both", 1, 1, {}, var_len=False)
        if self.peek().kind == "ARROW_L":
            self.eat("ARROW_L")
            direction = "in"
        else:
            self.eat("MINUS")
        alias, types, mn, mx = None, [], 1, 1
        var_len = False
        props: dict = {}
        if self.peek().kind == "LB":
            self.eat("LB")
            if self.peek().kind == "NAME":
                alias = self.eat("NAME").text
            if self.peek().kind == "COLON":
                self.eat("COLON")
                types = [self.name()]
                while self.peek().kind == "PIPE":
                    self.eat("PIPE")
                    # `[r:serve|:like]` — the colon after | is optional
                    # (parser.yy match_edge_type_list both alternatives)
                    if self.peek().kind == "COLON":
                        self.eat("COLON")
                    types.append(self.name())
            if self.peek().kind == "STAR":
                self.eat("STAR")
                var_len = True
                # parser.yy match_step_range: `*` → [1, ∞), `*m` →
                # [m, m], `*..n` → [1, n], `*m..` → [m, ∞), `*m..n` →
                # [m, n] (MatchStepRange.h default max SIZE_MAX). The
                # open-ended ranges carry max_hops=None — traverse()
                # iterates until edge-uniqueness empties the frontier.
                if self.peek().kind == "INT":
                    mn = mx = int(self.eat("INT").text)
                    if self.peek().kind == "DOTDOT":
                        self.eat("DOTDOT")
                        mx = int(self.eat("INT").text) \
                            if self.peek().kind == "INT" else None
                elif self.peek().kind == "DOTDOT":
                    self.eat("DOTDOT")
                    mn = 1
                    mx = int(self.eat("INT").text)
                else:
                    mn, mx = 1, None
            if self.peek().kind == "LC":   # inline edge props {k: v, …}
                self.eat("LC")
                while self.peek().kind != "RC":
                    k = self.eat("NAME").text
                    self.eat("COLON")
                    props[k] = self._const_prop_value()
                    if self.peek().kind == "COMMA":
                        self.eat("COMMA")
                self.eat("RC")
            self.eat("RB")
        if direction == "out":
            if self.peek().kind == "ARROW_R":
                self.eat("ARROW_R")
            else:
                self.eat("MINUS")
                direction = "both"
        elif self.peek().kind == "ARROW_R":
            # <-[e]-> / <--> — arrowheads on both ends = BOTH direction
            # (parser.yy match_edge L_ARROW_L_BRACKET … R_BRACKET_R_ARROW
            # and L_ARROW_R_ARROW productions)
            self.eat("ARROW_R")
            direction = "both"
        else:
            self.eat("MINUS")
        if mx is not None and mn > mx:
            # the reference refuses an inverted range at validation
            # (MatchValidator::validateStepRange,
            # MatchValidator.cpp:574-580) — left unchecked it crashed
            # the traversal with a NoneType frame (found by fuzzing)
            raise ValueError("Max hop must be greater equal than min "
                             f"hop: {mx} vs. {mn}")
        return MatchEdge(alias, types, direction, mn, mx, props,
                         var_len=var_len)

    # -- expressions (Pratt)
    def expr(self) -> tuple:
        """Ternary ``cond ? a : b`` (ConditionalExpression,
        parser.yy expression_conditional) is the lowest-precedence form;
        it lowers to a one-armed CASE."""
        # descent guard: pathological nesting ("((((…1…))))") must raise
        # the reference's plan-depth refusal, never RecursionError — the
        # reference bounds plans at --max_plan_depth 512
        # (src/graph/optimizer/Optimizer.cpp:25); bison's stack bounds
        # its parser the same way
        self._depth += 1
        if self._depth > 512:
            self._depth = 0
            raise SyntaxError("The above expression nesting exceeds "
                              "max_expression_depth (512)")
        try:
            return self._expr_inner()
        finally:
            self._depth = max(0, self._depth - 1)

    def _expr_inner(self) -> tuple:
        cond = self.expr_or()
        if self.peek().kind == "QM":
            self.eat("QM")
            a = self.expr()
            self.eat("COLON")
            b = self.expr()
            return ("case", [(cond, a)], b)
        return cond

    def expr_or(self):
        left = self.expr_and()
        while self.at_kw("or", "xor"):
            op = self.eat_kw("or", "xor").text
            left = (op, left, self.expr_and())
        return left

    def expr_and(self):
        left = self.expr_not()
        while self.at_kw("and"):
            self.eat_kw("and")
            left = ("and", left, self.expr_not())
        return left

    def expr_not(self):
        if self.try_kw("not"):
            return ("not", self.expr_not())
        if self.peek().kind == "BANG":   # scanner.lex maps "!" onto NOT
            self.eat("BANG")
            return ("not", self.expr_not())
        return self.expr_cmp()

    def expr_cmp(self):
        left = self.expr_add()
        t = self.peek()
        if t.kind in ("EQ", "ASSIGN", "NEQ", "LT", "LE", "GT", "GE", "REGEX_M"):
            self.i += 1
            op = {"EQ": "==", "ASSIGN": "==", "NEQ": "!=", "LT": "<",
                  "LE": "<=", "GT": ">", "GE": ">=", "REGEX_M": "=~"}[t.kind]
            return (op, left, self.expr_add())
        if self.at_kw("in"):
            self.eat_kw("in")
            return ("in", left, self.expr_add())
        if self.at_kw("not") and self.peek(1).kind == "KW" \
                and self.peek(1).text == "in":
            # the INFIX spelling keeps its own node: LOOKUP's IndexScan
            # accepts `x NOT IN [...]` but refuses the prefix
            # `NOT (x IN [...])` (TagIndexFullScan.feature:305 vs :307)
            self.eat_kw("not")
            self.eat_kw("in")
            return ("not_in", left, self.expr_add())
        if self.at_kw("is"):
            self.eat_kw("is")
            neg = self.try_kw("not")
            # IS [NOT] EMPTY (kIsEmpty): the reference's EMPTY marker
            # (absent prop / non-matching edge type in OVER *) folds to
            # NULL in this engine, so both forms test null
            if self.peek().kind == "NAME" \
                    and self.peek().text.lower() == "empty":
                self.i += 1
            else:
                self.eat_kw("null")
            node = ("is_null", left)
            return ("not", node) if neg else node
        if self.at_kw("starts"):
            self.eat_kw("starts")
            self.eat_kw("with")
            return ("starts_with", left, self.expr_add())
        if self.at_kw("ends"):
            self.eat_kw("ends")
            self.eat_kw("with")
            return ("ends_with", left, self.expr_add())
        if self.at_kw("contains"):
            self.eat_kw("contains")
            return ("contains_str", left, self.expr_add())
        if self.at_kw("not") and self.peek(1).kind == "KW" \
                and self.peek(1).text in ("starts", "ends", "contains"):
            self.eat_kw("not")   # NOT STARTS WITH / NOT ENDS WITH / …
            return ("not", self.expr_cmp_rhs(left))
        return left

    def expr_cmp_rhs(self, left):
        """Re-enter the string-predicate tail after a NOT."""
        if self.at_kw("starts"):
            self.eat_kw("starts")
            self.eat_kw("with")
            return ("starts_with", left, self.expr_add())
        if self.at_kw("ends"):
            self.eat_kw("ends")
            self.eat_kw("with")
            return ("ends_with", left, self.expr_add())
        self.eat_kw("contains")
        return ("contains_str", left, self.expr_add())

    def expr_add(self):
        left = self.expr_mul()
        while self.peek().kind in ("PLUS", "MINUS"):
            op = "+" if self.eat().kind == "PLUS" else "-"
            left = (op, left, self.expr_mul())
        return left

    def expr_mul(self):
        left = self.expr_unary()
        while self.peek().kind in ("STAR", "SLASH", "PCT"):
            k = self.eat().kind
            op = {"STAR": "*", "SLASH": "/", "PCT": "%"}[k]
            left = (op, left, self.expr_unary())
        return left

    def _brace_atom(self, empty_kind: str | None = None):
        """``{…}`` literal body. A BARE empty ``{}`` is the reference's
        syntax error (basic/data.feature `RETURN [], {}, {}`): the empty
        container must be spelled ``SET{}`` or ``MAP{}`` (empty_kind
        carries which prefix was consumed)."""
        t0 = self.peek()
        self.eat("LC")
        if self.peek().kind == "RC":
            self.eat("RC")
            if empty_kind == "map":
                # 1-tuple marker: an empty () inside the AST would trip
                # tuple-walkers expecting e[0]
                return ("map_empty",)
            if empty_kind == "set":
                return ("set",)
            raise SyntaxError(f"syntax error near `{{}}' @{t0.pos}")
        if self.peek().kind == "NAME" and self.peek(1).kind == "COLON":
            pairs = []
            while self.peek().kind != "RC":
                k = self.eat("NAME").text
                self.eat("COLON")
                pairs.append((k, self.expr()))
                if self.peek().kind == "COMMA":
                    self.eat("COMMA")
            self.eat("RC")
            return ("map", tuple(pairs))
        items = []               # Set value kind — dedup list
        while self.peek().kind != "RC":
            items.append(self.expr())
            if self.peek().kind == "COMMA":
                self.eat("COMMA")
        self.eat("RC")
        return ("set", *items)

    def expr_unary(self):
        if self.peek().kind == "PLUS":
            # unary plus is identity (parser.yy unary_expression PLUS)
            self.eat("PLUS")
            return self.expr_unary()
        if self.peek().kind == "MINUS":
            self.eat("MINUS")
            if self.peek().kind == "INT":
                t = self.eat("INT")
                v = -int(t.text)
                if v < -(2**63):
                    raise SyntaxError(f"Out of range: near `{t.text}'")
                if v == -(2**63):
                    # fold the sign ONLY where it must (parser.yy folds
                    # so INT64_MIN parses); everywhere else `-1` stays a
                    # unary expression whose toString is `-(1)`
                    # (yield.feature:125, WithComment `(1--(1))`)
                    return ("lit", v)
                return ("neg", ("lit", -v))
            return ("neg", self.expr_unary())
        return self.expr_postfix()

    def expr_postfix(self):
        """Subscript / slice (SubscriptExpression): l[i], l[a..b]; attribute
        chains beyond the atom-level 1-2 dots (AttributeExpression):
        x.b.d.e on map/struct values."""
        e = self.expr_atom()
        while self.peek().kind in ("LB", "DOT"):
            if self.peek().kind == "DOT":
                self.eat("DOT")
                fld = self.eat("NAME").text
                if e[0] == "lit" and isinstance(e[1], dict):
                    # parameter attribute chains fold to literals so
                    # LIMIT $p7.a.b.d[0] stays a constant (parameter
                    # maps are case-sensitive like map literals)
                    e = ("lit", e[1].get(fld))
                else:
                    e = ("attr", e, fld)
                continue
            self.eat("LB")
            lo = None if self.peek().kind == "DOTDOT" else self.expr()
            if self.peek().kind == "DOTDOT":
                self.eat("DOTDOT")
                hi = None if self.peek().kind == "RB" else self.expr()
                e = ("slice", e, lo, hi)
            else:
                if (e[0] == "lit" and isinstance(e[1], list)
                        and isinstance(lo, tuple) and lo[0] == "lit"
                        and isinstance(lo[1], int)
                        and not isinstance(lo[1], bool)):
                    # SubscriptExpression over a folded parameter list:
                    # negative index counts from the end, OOB → NULL
                    i = lo[1] + (len(e[1]) if lo[1] < 0 else 0)
                    e = ("lit",
                         e[1][i] if 0 <= i < len(e[1]) else None)
                else:
                    e = ("subscript", e, lo)
            self.eat("RB")
        return e

    _CAST_TYPES = {"int", "int8", "int16", "int32", "int64", "float",
                   "double", "string", "bool"}
    _ATOM_START = {"NAME", "INT", "FLOAT", "STRING", "LP", "LB", "LC",
                   "MINUS", "VAR_REF", "PIPE_REF", "SRC_REF", "DST_REF",
                   "DST_VERT", "SRC_VERT", "KW"}

    def expr_atom(self):
        t = self.peek()
        if t.kind == "LP":
            # C-style cast (TypeCastingExpression): (INT)expr
            if (self.peek(1).kind == "NAME"
                    and self.peek(1).text.lower() in self._CAST_TYPES
                    and self.peek(2).kind == "RP"
                    and self.peek(3).kind in self._ATOM_START):
                self.eat("LP")
                typ = self.eat("NAME").text.lower()
                self.eat("RP")
                return ("cast", typ, self.expr_unary())
            # MatchPathPattern as an expression (kMatchPathPattern,
            # tck match/PathExpr.feature): (v)-[:like]->() — only when the
            # parenthesized form continues into an edge; a lone (v) or any
            # parse failure backtracks to a plain parenthesized expression
            save = self.i
            try:
                path = self.match_path()
                if path.edges:
                    return ("pattern_path", path)
            except SyntaxError:
                pass
            self.i = save
            self.eat("LP")
            e = self.expr()
            self.eat("RP")
            return e
        if t.kind in ("NAME", "KW") \
                and t.text.lower() in ("list", "set", "map") \
                and self.peek(1).kind in ("LB", "LC"):
            kwd = t.text.lower()
            if kwd == "list" and self.peek(1).kind == "LB":
                self.i += 1
                return self.expr_atom()
            if kwd in ("set", "map") and self.peek(1).kind == "LC":
                self.i += 1
                e = self._brace_atom(empty_kind=kwd)
                if kwd == "map":
                    if e[0] not in ("map", "map_empty"):
                        raise SyntaxError(
                            f"syntax error near `{t.text}' @{t.pos}")
                elif e[0] in ("map", "map_empty"):
                    raise SyntaxError(
                        f"syntax error near `{t.text}' @{t.pos}")
                return e
        if t.kind == "LB":       # list literal or comprehension
            self.eat("LB")
            # [x IN list WHERE pred | out] (ListComprehensionExpression)
            if self.peek().kind == "NAME" and self.peek(1).kind == "KW" \
                    and self.peek(1).text == "in":
                var = self.eat("NAME").text
                self.eat_kw("in")
                lst = self.expr()
                where = self.expr() if self.try_kw("where") else None
                out = None
                if self.peek().kind == "PIPE":
                    self.eat("PIPE")
                    out = self.expr()
                self.eat("RB")
                return ("comprehension", var, lst, where, out)
            items = []
            while self.peek().kind != "RB":
                items.append(self.expr())
                if self.peek().kind == "COMMA":
                    self.eat("COMMA")
            self.eat("RB")
            return ("list", *items)
        if t.kind == "LC":       # {k: v, …} map or {a, b, …} set literal
            return self._brace_atom()
        if t.kind in ("STRING", "INT", "FLOAT"):
            return ("lit", self.literal())
        if t.kind == "KW" and t.text in ("true", "false"):
            self.i += 1
            return ("lit", t.text == "true")
        if t.kind == "KW" and t.text == "null":
            self.i += 1
            return ("lit", None)
        if t.kind == "KW" and t.text == "case":
            return self.case_expr()
        if t.kind == "PIPE_REF":
            self.i += 1
            return ("input_prop", t.text.split(".", 1)[1])
        if t.kind == "PIPE_INPUT" and self.peek(1).kind == "DOT" \
                and self.peek(2).kind == "STAR":
            # `$-.*` — every piped column, headers `$-.<col>`
            # (yield.feature YieldPipe)
            self.i += 3
            return ("input_star",)
        if t.kind == "SRC_REF":
            self.i += 1
            _, tag, prop = t.text.split(".")
            return ("src_prop", tag.lstrip("$^."), prop)
        if t.kind == "DST_REF":
            self.i += 1
            _, tag, prop = t.text.split(".")
            return ("dst_prop", tag, prop)
        if t.kind == "DST_VERT":
            self.i += 1
            return ("dst_vert",)
        if t.kind == "SRC_VERT":
            self.i += 1
            return ("src_vert",)
        if t.kind == "VAR_REF":
            self.i += 1
            name = t.text[1:]
            if name in self.params:
                # parameter substitution (rewriteParameter analog);
                # attribute / subscript chains fold in expr_postfix
                return ("lit", self.params[name])
            if self.peek().kind != "DOT":
                # bare `$var` — unresolvable here: either the "Direct
                # output of variable is prohibited" refusal (when it is a
                # whole yield item, bugfix/VariableExpression.feature) or
                # the "Undefined parameters" SemanticError (nested in a
                # filter, parameter.feature) — decided by the caller
                return ("param_unres", name)
            self.eat("DOT")
            if self.peek().kind == "STAR":
                # `$var.*` — every column of the var table, headers
                # `$var.<col>` (set/Set.feature Assign)
                self.eat("STAR")
                return ("var_star", name)
            return ("var_prop", name, self.name())
        if t.kind == "NAME" or (t.kind == "KW" and (
                # fn/label names that are keywords: all(...) predicate,
                # `path` as a bound path alias (LDBC IC13 `CASE path IS
                # NULL`; FIND PATH YIELD path)
                t.text in ("all", "path")
                or self.peek(1).kind == "DOT")):  # kw-named tag/edge: order.vid
            name = self.eat().text
            low = name.lower()
            # all/any/none/single(x IN list WHERE pred) — PredicateExpression
            if low in ("all", "any", "none", "single") \
                    and self.peek().kind == "LP" \
                    and self.peek(1).kind == "NAME" \
                    and self.peek(2).kind == "KW" and self.peek(2).text == "in":
                self.eat("LP")
                var = self.eat("NAME").text
                self.eat_kw("in")
                lst = self.expr()
                self.eat_kw("where")
                pred = self.expr()
                self.eat("RP")
                return ("pred_fn", low, var, lst, pred)
            # reduce(acc = init, x IN list | expr) — ReduceExpression
            if low == "reduce" and self.peek().kind == "LP":
                self.eat("LP")
                acc = self.eat("NAME").text
                self.eat("ASSIGN")
                init = self.expr()
                self.eat("COMMA")
                var = self.eat("NAME").text
                self.eat_kw("in")
                lst = self.expr()
                self.eat("PIPE")
                body = self.expr()
                self.eat("RP")
                return ("reduce", acc, init, var, lst, body)
            if name.lower() == "exists" and self.peek().kind == "LP":
                # pattern predicate exists((v)-[:e]->(m)) → PatternApply
                # (PatternApplyExecutor.cpp:15-154); backtrack if the
                # argument turns out to be a plain expression
                save = self.i
                self.eat("LP")
                try:
                    path = self.match_path()
                    self.eat("RP")
                    return ("pattern_pred", path)
                except SyntaxError:
                    self.i = save
            if self.peek().kind == "LP":   # function call
                self.eat("LP")
                distinct = self.try_kw("distinct")
                args = []
                if self.peek().kind == "STAR":
                    self.eat("STAR")
                    args.append(("star",))
                else:
                    while self.peek().kind != "RP":
                        args.append(self.expr())
                        if self.peek().kind == "COMMA":
                            self.eat("COMMA")
                self.eat("RP")
                return ("call_distinct" if distinct else "call",
                        FnName(name), *args)
            if self.peek().kind == "DOT":  # edge.prop or alias.tag.prop
                self.eat("DOT")
                # prop position accepts unreserved keywords as names
                # (`$a.end` — yield/join.feature "join path")
                p1 = self.name()
                if self.peek().kind == "DOT":
                    self.eat("DOT")
                    p2 = self.name()
                    return ("alias_tag_prop", name, p1, p2)
                return ("edge_prop", name, p1)
            return ("name", name)
        raise SyntaxError(f"unexpected token {t.text!r} @{t.pos}")

    def case_expr(self):
        """Searched (``CASE WHEN cond``) and generic (``CASE subj WHEN
        val`` — CaseExpression with a condition, parser.yy case_expression)
        forms; the generic form lowers each arm to ``subj == val``."""
        self.eat_kw("case")
        subject = None if self.at_kw("when") else self.expr()
        whens = []
        while self.at_kw("when"):
            self.eat_kw("when")
            cond = self.expr()
            if subject is not None:
                # null-SAFE equality: the reference's CaseExpression
                # matches arms with Value::operator== where two nulls
                # compare equal (ShortReads.feature:7 `CASE r WHEN null
                # THEN false` relies on it); plain == would null-propagate
                # and never match the null arm
                cond = ("eqns", subject, cond)
            self.eat_kw("then")
            whens.append((cond, self.expr()))
        default = None
        if self.try_kw("else"):
            default = self.expr()
        self.eat_kw("end")
        return ("case", whens, default)


def _iter_exprs(obj):
    """Yield every expression tuple reachable from an AST node — walks
    dataclass fields, lists, dicts, and nested tuples. Used for the
    undefined-parameter sweep the reference's validators run."""
    import dataclasses as _dc
    if isinstance(obj, tuple):
        yield obj
        for x in obj:
            yield from _iter_exprs(x)
    elif isinstance(obj, list):
        for x in obj:
            yield from _iter_exprs(x)
    elif isinstance(obj, dict):
        for x in obj.values():
            yield from _iter_exprs(x)
    elif _dc.is_dataclass(obj) and not isinstance(obj, type):
        for f in _dc.fields(obj):
            yield from _iter_exprs(getattr(obj, f.name))


def _ast_depth(e) -> int:
    """Max nesting depth of an expression AST, iteratively (an 800-term
    `1 + 1 + ...` chain is an 800-deep left tree; recursion would blow)."""
    stack = [(e, 1)]
    mx = 0
    while stack:
        x, d = stack.pop()
        if isinstance(x, (tuple, list)):
            if d > mx:
                mx = d
            stack.extend((y, d + 1) for y in x)
    return mx


def _const_eval(e):
    """Evaluate a constant-foldable expression tuple to a Python value.

    Only literal arithmetic survives — anything data-dependent raises,
    which LIMIT/SKIP positions phrase as the reference's
    'should be of type integer' SemanticError."""
    if not isinstance(e, tuple):
        raise ValueError("not a constant expression")
    if e[0] == "lit":
        return e[1]
    if e[0] == "neg":
        return -_const_eval(e[1])
    if e[0] in ("+", "-", "*", "/", "%"):
        a, b = _const_eval(e[1]), _const_eval(e[2])
        if not isinstance(a, (int, float)) or not isinstance(b, (int, float)):
            raise ValueError("not a constant expression")
        if e[0] == "+":
            return a + b
        if e[0] == "-":
            return a - b
        if e[0] == "*":
            return a * b
        if e[0] == "/":
            return a / b if isinstance(a, float) or isinstance(b, float) \
                else a // b
        return a % b
    raise ValueError("not a constant expression")


def parse(query: str, params: dict | None = None) -> Pipeline:
    # idempotent re-assert of the import-time headroom: test harnesses
    # (hypothesis's ensure_free_stackframes) save/restore the process
    # limit around tests and can leave it at the 1000 default, under
    # which 300-deep nesting dies with RecursionError before the 512
    # depth guard fires
    if sys.getrecursionlimit() < 10000:
        sys.setrecursionlimit(10000)
    return Parser(tokenize(query), params, src=query).parse()
