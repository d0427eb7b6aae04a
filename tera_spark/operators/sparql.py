"""Q15 — raw SPARQL passthrough (``DataAccess.query``,
/root/reference/tera/DataAccess.py:85-105), the one reference surface
previously out of scope.

The reference hands arbitrary SPARQL strings to rdflib. A Spark-first
engine can't embed a SPARQL endpoint, but every query the reference's own
code issues (DataAccess.py:650, 695-775, 978-1022) lives in one small
fragment: basic graph patterns with ``;``/``,`` abbreviations and ``[...]``
blank-node property lists, ``OPTIONAL`` groups, and ``FILTER`` over
``isURI`` / ``STRSTARTS`` / equality, plus ``PREFIX`` and ``LIMIT``. This
module compiles exactly that fragment into DataFrame dataflow over the
triples frame (subject, predicate, object, obj_is_literal):

- each triple pattern → a filtered/renamed slice of the graph (constant
  terms become pushed-down scan filters — on the predicate-partitioned
  materialized graph each slice is a partition-pruned read);
- shared variables between patterns → equi-joins (Catalyst orders them);
- ``OPTIONAL`` group → left join on the shared variables;
- ``FILTER`` → column predicates (``isURI(?v)`` uses the captured
  ``obj_is_literal`` flag when ``?v`` was bound in object position);
- ``{A} UNION {B}`` → branches compiled independently and unioned (the
  scoped rule: all branches must bind the same variable set, so bindings
  never go NULL and the surrounding joins stay exact equi-joins);
- property paths (SPARQL 1.1 §9): the full algebra over atomic
  predicates — sequence ``p/q``, alternation ``p|q``, inverse ``^p``,
  grouping ``(...)`` and the ``*`` / ``+`` / ``?`` modifiers, nested
  arbitrarily. ``^`` is normalized away at parse time (pushed onto the
  atoms, reversing sequences), so the compiler only sees forward /
  backward atomic slices composed by joins on RDF *term identity*
  (value + IRI-vs-literal kind — a path may legally pass through a
  literal via an inverse step). Closures (``*``/``+``) are iterative
  frontier BFS (``checkpoints.closure``, the loop behind
  operators/query_api.subclass_closure): with one end constant the
  whole path folds as a *seeded node set* — each step is the image of
  the frontier under the element's relation, so the corpus-sized pair
  closure never materializes; with both ends variable, ``+`` (and
  closures embedded mid-sequence) fall back to a pairwise closure of
  the element's edge slice — meant for schema-sized relations like
  ``rdfs:subClassOf`` (the chains the reference builds textually,
  DataAccess.py:187-201), never fact-sized ones. Constant ends of
  closure-free paths push down as ordinary scan filters through the
  join tree (Catalyst propagates them into the leftmost slice);
- result → DISTINCT over the projected variables (rdflib's
  ``query_graph`` wraps results in a set — DataAccess.py:103-105);
- ``VALUES`` → an inline broadcast table joined FIRST (the most selective
  constraint in the group, so every pattern scan is probe-side of a
  broadcast join instead of filtered at the end);
- ``SELECT (expr AS ?v)`` projection expressions (BIND fragment:
  vars, constants, ``STR``, ``CONCAT``) — compiled as output-only
  withColumn, zero shuffle;
- ``GROUP BY`` + ``COUNT/MIN/MAX/SUM/AVG/SAMPLE/GROUP_CONCAT`` SELECT
  expressions (GROUP_CONCAT with ``; SEPARATOR="..."``, elements sorted
  for determinism) → a
  hash aggregate over the solution bag (standard SPARQL 1.1 §18.4
  semantics — partial map-side aggregation for free);
- ``ORDER BY`` / ``OFFSET`` → a total sort only at the result shaping
  step, never inside the join tree;
- ``BIND(expr AS ?v)`` → a projection column (``withColumn`` — no
  shuffle); expr fragment: variables, constants, ``STR(?v)`` and
  ``CONCAT(...)``. Scoped rule: the bound variable must be *output-only*
  (not used by any triple pattern / VALUES / UNION of the group), so a
  bind never changes join order — it is pure result shaping. FILTER,
  SELECT, GROUP BY and ORDER BY can all consume it;
- ``MINUS {...}`` → a left-anti join on the shared variables (plus the
  ``__isuri_`` term-identity flags, like every other join here). SPARQL
  1.1 §8.3 compatibility semantics hold exactly because the shared
  columns are non-nullable on both sides — MINUS over a variable that is
  bound only inside an OPTIONAL raises instead of silently treating an
  unbound binding as incompatible. A MINUS sharing *no* variable with
  the group removes nothing per §8.3 (disjoint domains are never
  compatible) and compiles to a no-op;
- ``FILTER`` conditions compose with ``&&`` and ``||`` (one connective
  per parenthesization level — mixed levels need explicit parens, which
  the fragment's queries all use), over ``=`` / ``!=`` / ``IN`` /
  ``isURI`` / ``BOUND`` / ``!`` / ``STRSTARTS`` / ``STRENDS`` /
  ``CONTAINS`` / ``REGEX`` (i/s/m flags) / ``STRLEN cmp n``, plus
  numeric ``<`` / ``>`` / ``<=`` / ``>=`` (both
  sides cast to double — the graph stores literals lexically; a
  non-numeric lexical form casts to NULL and the row drops, which is
  exactly SPARQL's type-error-eliminates-the-solution rule);
- ``HAVING (agg cmp number [&& ...])`` after GROUP BY → extra internal
  aggregate columns filtered post-agg and dropped before projection
  (one hash aggregate total, same as SQL HAVING);
- ``DESCRIBE <iri>... [?v... WHERE {...}]`` → the out-edge slice of the
  described node set (a left-semi join of the graph against the set —
  concise-bounded description without bnode chasing, since this engine's
  bnodes are already skolemized IRIs); returns the graph frame schema
  so the output composes with query_graph;
- ``{ SELECT ... }`` subqueries (SPARQL 1.1 §12): evaluated bottom-up in
  isolation, the projected solutions join the enclosing group on shared
  variables like one more pattern — term-kind flags ride along, and the
  inner GROUP BY groups on full term identity (value + flag);
- ``FILTER [NOT] EXISTS {...}`` → a left-semi (resp. left-anti) join on
  the shared variables + term-identity flags — the §8.1.1 substitution
  semantics coincide with the join because the shared columns are
  non-nullable. Unlike MINUS, a [NOT] EXISTS sharing no variable is a
  *global* emptiness test on the inner pattern: compiled as a broadcast
  probe of ``LIMIT 1`` of the inner result (all-or-nothing), never a
  silent no-op;
- ``ASK {...}`` → a one-row boolean frame via ``LIMIT 1`` over the
  compiled group — the scans stop at the first witness;
- ``CONSTRUCT {template} WHERE {...}`` → one unionByName branch per
  template pattern over the solution frame, DISTINCT last; §16.2
  semantics (unbound/invalid instantiations filtered per pattern). The
  output has the graph frame's own schema, so constructed graphs
  compose: ``query_graph(query_graph(g, construct_q), select_q)``.

Anything outside the fragment (``GRAPH``/``SERVICE``, ``UNDEF`` in
VALUES, zero-length paths with both ends unbound, negated property sets
``!(...)``, UNION branches with unequal variable sets, aggregates over
expressions, ``SELECT *`` subqueries) raises ``SparqlUnsupported``
loudly rather than mis-answering.
"""

from __future__ import annotations

import re
from contextlib import contextmanager
from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from tera_spark.checkpoints import closure

RDF_TYPE_IRI = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"


class SparqlUnsupported(ValueError):
    pass


class SparqlSyntaxError(ValueError):
    pass


# --------------------------------------------------------------------------
# Tokenizer
# --------------------------------------------------------------------------

_TOKEN_RE = re.compile(
    r"""
    (?P<ws>\s+)
  | (?P<comment>\#[^\n]*)
  | (?P<iri><[^<>\s]*>)
  | (?P<lit>"(?:[^"\\]|\\.)*")
  | (?P<var>\?[A-Za-z_]\w*)
  | (?P<pname>[A-Za-z_][\w-]*:[\w.-]*|:[\w.-]+)
  | (?P<word>[A-Za-z_]\w*)
  | (?P<num>\d+(?:\.\d+)?)
  | (?P<punct>&&|\|\||!=|>=|<=|[{}();,.=\[\]*+/^|?<>!])
""",
    re.X,
)

_KEYWORDS = {
    "prefix", "select", "where", "optional", "filter", "limit", "distinct",
    "values", "order", "group", "by", "offset", "as", "asc", "desc",
    "construct", "ask", "having", "describe",
}


def _tokenize(q: str) -> list[tuple[str, str]]:
    toks: list[tuple[str, str]] = []
    pos = 0
    while pos < len(q):
        m = _TOKEN_RE.match(q, pos)
        if not m:
            raise SparqlSyntaxError(f"cannot tokenize at: {q[pos:pos+30]!r}")
        pos = m.end()
        kind = m.lastgroup
        val = m.group()
        if kind in ("ws", "comment"):
            continue
        if kind == "pname" and val.endswith("."):
            # 'ns:Test.' — statement terminator glued to the name
            toks.append(("pname", val[:-1]))
            toks.append(("punct", "."))
            continue
        if kind == "word" and val.lower() in _KEYWORDS:
            toks.append(("kw", val.lower()))
            continue
        toks.append((kind, val))
    return toks


# --------------------------------------------------------------------------
# AST
# --------------------------------------------------------------------------

# term = ("var", name) | ("iri", value) | ("lit", value)


@dataclass
class Group:
    patterns: list = field(default_factory=list)  # [(s, p, o)]
    filters: list = field(default_factory=list)  # filter ASTs
    optionals: list = field(default_factory=list)  # [Group]
    unions: list = field(default_factory=list)  # [[Group, Group, ...]]
    values: list = field(default_factory=list)  # [(var names, [row terms])]
    binds: list = field(default_factory=list)  # [(alias, expr AST)] in order
    minuses: list = field(default_factory=list)  # [Group]
    exists: list = field(default_factory=list)  # [(positive?, Group)]
    subqueries: list = field(default_factory=list)  # [Query]


# select item = ("var", name) | ("agg", fn, arg, distinct?, alias)
#   fn ∈ {count,min,max,sum,avg,sample,group_concat}; arg = var or "*"


@dataclass
class Query:
    select: list  # select items, or ["*"]
    where: Group
    limit: int | None
    distinct: bool  # explicit DISTINCT keyword (set semantics apply anyway)
    group_by: list = field(default_factory=list)  # var names
    order: list = field(default_factory=list)  # [(var, ascending?)]
    offset: int | None = None
    form: str = "select"  # "select" | "ask" | "construct" | "describe"
    template: list = field(default_factory=list)  # construct template [(s,p,o)]
    having: list = field(default_factory=list)  # [(fn, arg, distinct?, op, number)]


class _Parser:
    def __init__(self, toks: list[tuple[str, str]], prefixes: dict[str, str]):
        self.toks = toks
        self.i = 0
        self.prefixes = dict(prefixes)
        self.bnode_n = 0

    # -- token helpers ------------------------------------------------
    def peek(self):
        return self.toks[self.i] if self.i < len(self.toks) else ("eof", "")

    def peek2(self):
        j = self.i + 1
        return self.toks[j] if j < len(self.toks) else ("eof", "")

    def next(self):
        t = self.peek()
        self.i += 1
        return t

    def expect(self, kind, val=None):
        k, v = self.next()
        if k != kind or (val is not None and v != val):
            raise SparqlSyntaxError(f"expected {val or kind}, got {v!r}")
        return v

    # -- grammar ------------------------------------------------------
    def parse_query(self) -> Query:
        while self.peek() == ("kw", "prefix"):
            self.next()
            pk, pv = self.next()
            if pk != "pname":
                raise SparqlSyntaxError(f"bad PREFIX name {pv!r}")
            iri = self.expect("iri")
            self.prefixes[pv[:-1] if pv.endswith(":") else pv.split(":")[0]] = iri[1:-1]
        k, v = self.peek()
        if (k, v) == ("kw", "ask"):
            # ASK { ... } — boolean existence of any solution; modifiers
            # are meaningless (a LIMIT/ORDER can't change emptiness).
            self.next()
            if self.peek() == ("kw", "where"):
                self.next()
            self.expect("punct", "{")
            where = self.parse_group()
            self.expect("punct", "}")
            k, v = self.peek()
            if k != "eof":
                raise SparqlUnsupported(
                    f"trailing syntax not in the supported fragment: {v!r}"
                )
            return Query(select=[], where=where, limit=None, distinct=False, form="ask")
        if (k, v) == ("kw", "describe"):
            # DESCRIBE <iri>... ?v... [WHERE {...}] — the node set is the
            # listed constants plus the WHERE solutions of the listed
            # variables; modifiers are meaningless for a graph result.
            self.next()
            terms: list = []
            while True:
                k, v = self.peek()
                if k == "var":
                    terms.append(("var", v[1:]))
                    self.next()
                elif k in ("iri", "pname"):
                    terms.append(self.parse_term())
                else:
                    break
            if not terms:
                raise SparqlSyntaxError("empty DESCRIBE clause")
            where = Group()
            if self.peek() == ("kw", "where"):
                self.next()
                self.expect("punct", "{")
                where = self.parse_group()
                self.expect("punct", "}")
            elif any(t[0] == "var" for t in terms):
                raise SparqlSyntaxError("DESCRIBE ?var without a WHERE group")
            k, v = self.peek()
            if k != "eof":
                raise SparqlUnsupported(
                    f"trailing syntax not in the supported fragment: {v!r}"
                )
            return Query(
                select=terms, where=where, limit=None, distinct=True,
                form="describe",
            )
        if (k, v) == ("kw", "construct"):
            self.next()
            self.expect("punct", "{")
            tmpl = self.parse_group()
            self.expect("punct", "}")
            if (
                tmpl.optionals or tmpl.unions or tmpl.filters or tmpl.values
                or tmpl.binds or tmpl.minuses or tmpl.exists or tmpl.subqueries
            ):
                raise SparqlSyntaxError(
                    "CONSTRUCT template must contain only triple patterns"
                )
            if any(p[0] == "path" for _, p, _ in tmpl.patterns):
                raise SparqlSyntaxError("property path in CONSTRUCT template")
            if any(s[0] == "lit" for s, _, _ in tmpl.patterns):
                raise SparqlSyntaxError("literal in CONSTRUCT subject position")
            self.expect("kw", "where")
            self.expect("punct", "{")
            where = self.parse_group()
            self.expect("punct", "}")
            group_by, order, limit, offset, having = self._parse_modifiers()
            if group_by or having:
                raise SparqlUnsupported("GROUP BY with CONSTRUCT")
            return Query(
                select=["*"], where=where, limit=limit, distinct=True,
                order=order, offset=offset, form="construct",
                template=tmpl.patterns,
            )
        return self.parse_select_query()

    def parse_select_query(self, in_subquery: bool = False) -> Query:
        """SELECT form, used for the top-level query and (with
        ``in_subquery``) for ``{ SELECT ... }`` blocks, whose modifiers
        stop at the closing brace instead of end-of-input."""
        self.expect("kw", "select")
        distinct = False
        if self.peek() == ("kw", "distinct"):
            self.next()
            distinct = True
        select: list = []
        while True:
            k, v = self.peek()
            if k == "var":
                select.append(("var", v[1:]))
                self.next()
            elif (k, v) == ("punct", "*"):
                select = ["*"]
                self.next()
            elif (k, v) == ("punct", "("):
                select.append(self.parse_select_agg())
            else:
                break
        if not select:
            raise SparqlSyntaxError("empty SELECT clause")
        if select == ["*"] and in_subquery:
            raise SparqlUnsupported(
                "SELECT * in a subquery (project explicit variables)"
            )
        if self.peek() == ("kw", "where"):
            self.next()
        self.expect("punct", "{")
        where = self.parse_group()
        self.expect("punct", "}")
        group_by, order, limit, offset, having = self._parse_modifiers(
            in_subquery=in_subquery
        )
        return Query(
            select=select, where=where, limit=limit, distinct=distinct,
            group_by=group_by, order=order, offset=offset, having=having,
        )

    def _parse_modifiers(self, in_subquery: bool = False):
        """Solution modifiers after the WHERE group: GROUP BY, HAVING,
        ORDER BY, LIMIT, OFFSET — then end of query (or the subquery's
        closing brace)."""
        group_by: list[str] = []
        order: list[tuple[str, bool]] = []
        having: list = []
        limit = offset = None
        while True:
            k, v = self.peek()
            if (k, v) == ("kw", "having"):
                self.next()
                self.expect("punct", "(")
                having.append(self._parse_having_cond())
                while self.peek() == ("punct", "&&"):
                    self.next()
                    having.append(self._parse_having_cond())
                self.expect("punct", ")")
                continue
            if (k, v) == ("kw", "group"):
                self.next()
                self.expect("kw", "by")
                while self.peek()[0] == "var":
                    group_by.append(self.next()[1][1:])
                if not group_by:
                    raise SparqlUnsupported(
                        "GROUP BY over an expression is outside the supported fragment"
                    )
            elif (k, v) == ("kw", "order"):
                self.next()
                self.expect("kw", "by")
                while True:
                    kk, vv = self.peek()
                    if kk == "var":
                        self.next()
                        order.append((vv[1:], True))
                    elif (kk, vv) in (("kw", "asc"), ("kw", "desc")):
                        self.next()
                        self.expect("punct", "(")
                        order.append((self.expect("var")[1:], vv == "asc"))
                        self.expect("punct", ")")
                    else:
                        break
                if not order:
                    raise SparqlSyntaxError("empty ORDER BY clause")
            elif (k, v) == ("kw", "limit"):
                self.next()
                limit = int(self.expect("num"))
            elif (k, v) == ("kw", "offset"):
                self.next()
                offset = int(self.expect("num"))
            else:
                break
        k, v = self.peek()
        if in_subquery:
            if (k, v) != ("punct", "}"):
                raise SparqlUnsupported(
                    f"trailing syntax not in the supported fragment: {v!r}"
                )
        elif k != "eof":
            raise SparqlUnsupported(f"trailing syntax not in the supported fragment: {v!r}")
        return group_by, order, limit, offset, having

    _AGG_FNS = ("count", "min", "max", "sum", "avg", "sample", "group_concat")

    _CMP_OPS = ("=", "!=", "<", ">", "<=", ">=")

    def _parse_having_cond(self):
        """``agg([DISTINCT] ?v | *) cmp number`` — one comparison of one
        aggregate against a numeric constant (chainable with ``&&``)."""
        k, fn = self.next()
        if k not in ("word", "kw") or fn.lower() not in self._AGG_FNS:
            raise SparqlUnsupported(
                f"HAVING expression {fn!r} is outside the supported fragment "
                f"(aggregates: {', '.join(self._AGG_FNS)})"
            )
        fn = fn.lower()
        self.expect("punct", "(")
        agg_distinct = False
        if self.peek() == ("kw", "distinct"):
            self.next()
            agg_distinct = True
        k, v = self.next()
        if k == "var":
            arg = v[1:]
        elif (k, v) == ("punct", "*") and fn == "count" and not agg_distinct:
            arg = "*"
        else:
            raise SparqlUnsupported(f"HAVING aggregate argument {v!r}")
        self.expect("punct", ")")
        ok, ov = self.next()
        if ok != "punct" or ov not in self._CMP_OPS:
            raise SparqlUnsupported(f"HAVING comparator {ov!r}")
        nk, nv = self.next()
        if nk != "num":
            raise SparqlUnsupported(
                "HAVING comparison against a non-numeric constant"
            )
        return (fn, arg, agg_distinct, ov, float(nv))

    def parse_select_agg(self):
        """``( COUNT([DISTINCT] ?x | *) AS ?alias )`` — the aggregate form
        of a SELECT item (SPARQL 1.1 §18.4, restricted to one aggregate per
        parenthesized expression, which is every use the fragment needs) —
        or ``( expr AS ?alias )`` with a BIND-fragment expr (vars,
        constants, STR, CONCAT): a projection expression, compiled exactly
        like an output-only BIND."""
        self.expect("punct", "(")
        k, fn = self.peek()
        if k != "word" or fn.lower() not in self._AGG_FNS:
            expr = self.parse_bind_expr()
            self.expect("kw", "as")
            alias = self.expect("var")[1:]
            self.expect("punct", ")")
            return ("exprsel", expr, None, None, alias, None)
        self.next()
        fn = fn.lower()
        self.expect("punct", "(")
        agg_distinct = False
        if self.peek() == ("kw", "distinct"):
            self.next()
            agg_distinct = True
        k, v = self.next()
        if (k, v) == ("punct", "*"):
            if fn != "count":
                raise SparqlSyntaxError(f"{fn.upper()}(*) is not valid SPARQL")
            arg = "*"
        elif k == "var":
            arg = v[1:]
        else:
            raise SparqlUnsupported(
                "aggregate over an expression is outside the supported fragment"
            )
        extra = None
        if fn == "group_concat":
            extra = " "  # SPARQL 1.1 §18.5.1.7 default separator
            if self.peek() == ("punct", ";"):
                self.next()
                wk, wv = self.next()
                if wk != "word" or wv.lower() != "separator":
                    raise SparqlSyntaxError(f"expected SEPARATOR, got {wv!r}")
                self.expect("punct", "=")
                lk, lv = self.next()
                if lk != "lit":
                    raise SparqlSyntaxError("SEPARATOR must be a string literal")
                extra = lv[1:-1].replace('\\"', '"').replace("\\\\", "\\")
        self.expect("punct", ")")
        self.expect("kw", "as")
        alias = self.expect("var")[1:]
        self.expect("punct", ")")
        return ("agg", fn, arg, agg_distinct, alias, extra)

    def parse_group(self) -> Group:
        g = Group()
        while True:
            k, v = self.peek()
            if (k, v) == ("punct", "}"):
                return g
            if k == "eof":
                raise SparqlSyntaxError("unterminated group")
            if (k, v) == ("kw", "optional"):
                self.next()
                self.expect("punct", "{")
                g.optionals.append(self.parse_group())
                self.expect("punct", "}")
            elif (k, v) == ("kw", "filter"):
                self.next()
                nk, nv = self.peek()
                if nk == "word" and nv.lower() in ("exists", "not"):
                    g.exists.append(self.parse_exists())
                else:
                    g.filters.extend(self.parse_filter())
            elif (k, v) == ("kw", "values"):
                self.next()
                g.values.append(self.parse_values())
            elif k == "word" and v.lower() == "minus":
                self.next()
                self.expect("punct", "{")
                g.minuses.append(self.parse_group())
                self.expect("punct", "}")
            elif k == "word" and v.lower() == "bind":
                self.next()
                g.binds.append(self.parse_bind())
            elif k == "word" and v.lower() in ("graph", "service"):
                raise SparqlUnsupported(f"{v.upper()} is outside the supported fragment")
            elif (k, v) == ("punct", "{") and self.peek2() == ("kw", "select"):
                # { SELECT ... } — a subquery: evaluated independently,
                # its projected solutions join the group like a pattern
                self.next()
                g.subqueries.append(self.parse_select_query(in_subquery=True))
                self.expect("punct", "}")
            elif (k, v) == ("punct", "{"):
                # { A } UNION { B } [UNION { C } ...] — a single braced
                # group degenerates to a one-branch union (= plain join)
                branches = []
                while True:
                    self.expect("punct", "{")
                    branches.append(self.parse_group())
                    self.expect("punct", "}")
                    nk, nv = self.peek()
                    if nk == "word" and nv.lower() == "union":
                        self.next()
                        continue
                    break
                g.unions.append(branches)
            else:
                self.parse_statement(g)
            if self.peek() == ("punct", "."):
                self.next()

    def parse_statement(self, g: Group) -> None:
        subj = self.parse_term_or_bnode(g)
        self.parse_predobj(subj, g)

    def parse_values(self):
        """``VALUES ?v { t1 t2 … }`` or ``VALUES (?a ?b) { (t t) (t t) … }``
        — inline bindings (SPARQL 1.1 §10.2). ``UNDEF`` is rejected: an
        unbound cell would have to become NULL and silently break the
        surrounding equi-joins (same scoped rule as UNION branches)."""
        k, v = self.peek()
        if k == "var":
            self.next()
            names = [v[1:]]
            self.expect("punct", "{")
            rows = []
            while self.peek() != ("punct", "}"):
                rows.append((self._parse_values_term(),))
            self.next()
            if not rows:
                raise SparqlSyntaxError("VALUES with no rows")
            return (names, rows)
        self.expect("punct", "(")
        names = []
        while self.peek()[0] == "var":
            names.append(self.next()[1][1:])
        self.expect("punct", ")")
        if not names:
            raise SparqlSyntaxError("VALUES with no variables")
        self.expect("punct", "{")
        rows = []
        while self.peek() != ("punct", "}"):
            self.expect("punct", "(")
            row = tuple(self._parse_values_term() for _ in names)
            self.expect("punct", ")")
            rows.append(row)
        self.next()
        if not rows:
            raise SparqlSyntaxError("VALUES with no rows")
        return (names, rows)

    def parse_bind(self):
        """``BIND( expr AS ?v )`` — expr fragment: variable, constant,
        ``STR(?v)``, ``CONCAT(e, e, ...)`` (the projection-shaping binds
        rdflib users write; anything computational raises)."""
        self.expect("punct", "(")
        expr = self.parse_bind_expr()
        self.expect("kw", "as")
        alias = self.expect("var")[1:]
        self.expect("punct", ")")
        return (alias, expr)

    def parse_bind_expr(self):
        k, v = self.peek()
        if k == "word" and v.lower() == "concat":
            self.next()
            self.expect("punct", "(")
            args = [self.parse_bind_expr()]
            while self.peek() == ("punct", ","):
                self.next()
                args.append(self.parse_bind_expr())
            self.expect("punct", ")")
            return ("bconcat", args)
        if k == "word" and v.lower() == "str":
            self.next()
            self.expect("punct", "(")
            var = self.expect("var")[1:]
            self.expect("punct", ")")
            return ("bstr", var)
        if k == "num":
            self.next()
            return ("bconst", ("lit", v))
        if k in ("var", "iri", "lit", "pname"):
            term = self.parse_term()
            return ("bvar", term[1]) if term[0] == "var" else ("bconst", term)
        raise SparqlUnsupported(
            f"BIND expression at {v!r} is outside the supported fragment "
            "(variables, constants, STR, CONCAT)"
        )

    def parse_exists(self):
        """``FILTER EXISTS { ... }`` / ``FILTER NOT EXISTS { ... }`` —
        the paren-free form every real query writes."""
        k, v = self.next()
        positive = True
        if v.lower() == "not":
            positive = False
            k, v = self.next()
        if k != "word" or v.lower() != "exists":
            raise SparqlSyntaxError(f"expected EXISTS, got {v!r}")
        self.expect("punct", "{")
        inner = self.parse_group()
        self.expect("punct", "}")
        return (positive, inner)

    def _parse_values_term(self):
        k, v = self.peek()
        if k == "word" and v.lower() == "undef":
            raise SparqlUnsupported(
                "UNDEF in VALUES is outside the supported fragment"
            )
        if k == "num":
            self.next()
            return ("lit", v)
        return self.parse_term()

    def parse_path(self):
        """Property-path expression in predicate position (SPARQL 1.1 §9)::

            PathAlt  ::= PathSeq ('|' PathSeq)*
            PathSeq  ::= PathEltOrInv ('/' PathEltOrInv)*
            PathEltOrInv ::= '^'? PathElt
            PathElt  ::= (iri | 'a' | '!' NPS | '(' PathAlt ')')
                         ('*'|'+'|'?'|'{'n(','m?)?'}')?
            NPS      ::= (iri|'^'iri) | '(' (iri|'^'iri) ('|' ...)* ')'

        A bare IRI parses to the plain ``("iri", v)`` pattern term (the
        common case — no path machinery engages); a bare variable to
        ``("var", v)`` (variable predicates are plain patterns, never
        paths). Everything else becomes ``("path", node)`` over the
        algebra ``("p", iri) | ("pinv", iri) | ("nps", fwd, rev) |
        ("seq", [...]) | ("alt", [...]) | ("star"|"plus"|"opt", node)``;
        ``^`` is normalized away here (pushed onto the atoms, reversing
        sequences, swapping nps exclusion sets), and the ``{n,m}``
        quantifiers desugar into seq/opt/plus/star at parse time — the
        compiler sees neither an inverse nor a quantifier node."""
        node = self._parse_path_alt()
        if node[0] == "pvar":
            return ("var", node[1])
        if node[0] == "p":
            return ("iri", node[1])
        if _path_has_var(node):
            raise SparqlUnsupported("property path over a variable predicate")
        return ("path", node)

    def _parse_path_alt(self):
        parts = [self._parse_path_seq()]
        while self.peek() == ("punct", "|"):
            self.next()
            parts.append(self._parse_path_seq())
        return parts[0] if len(parts) == 1 else ("alt", parts)

    def _parse_path_seq(self):
        parts = [self._parse_path_elt()]
        while self.peek() == ("punct", "/"):
            self.next()
            parts.append(self._parse_path_elt())
        return parts[0] if len(parts) == 1 else ("seq", parts)

    def _parse_path_elt(self):
        inv = self.peek() == ("punct", "^")
        if inv:
            self.next()
        k, v = self.peek()
        if (k, v) == ("punct", "!"):
            self.next()
            node = self._parse_negated_set()
        elif (k, v) == ("punct", "("):
            self.next()
            node = self._parse_path_alt()
            self.expect("punct", ")")
        else:
            t = self.parse_term(allow_a=True)
            if t[0] == "lit":
                raise SparqlSyntaxError("literal in predicate position")
            node = ("pvar", t[1]) if t[0] == "var" else ("p", t[1])
        k, v = self.peek()
        if (k, v) in (("punct", "*"), ("punct", "+"), ("punct", "?")):
            self.next()
            if node[0] == "pvar":
                raise SparqlUnsupported("property path over a variable predicate")
            node = ({"*": "star", "+": "plus", "?": "opt"}[v], node)
        elif (k, v) == ("punct", "{"):
            if node[0] == "pvar":
                raise SparqlUnsupported("property path over a variable predicate")
            node = self._parse_path_quantifier(node)
        if inv:
            if node[0] == "pvar":
                raise SparqlUnsupported("property path over a variable predicate")
            node = _invert_path(node)
        return node

    def _parse_negated_set(self):
        """``!iri`` / ``!a`` / ``!(iri1|^iri2|...)`` — SPARQL 1.1 §9.1
        negated property set. Forward members exclude predicates on
        forward edges, ``^``-members on reversed edges; the two arms
        union (each arm exists only if it has members, per spec)."""
        fwd: list[str] = []
        rev: list[str] = []

        def one():
            neg_inv = self.peek() == ("punct", "^")
            if neg_inv:
                self.next()
            t = self.parse_term(allow_a=True)
            if t[0] != "iri":
                raise SparqlSyntaxError(
                    "negated property set members must be IRIs"
                )
            (rev if neg_inv else fwd).append(t[1])

        if self.peek() == ("punct", "("):
            self.next()
            one()
            while self.peek() == ("punct", "|"):
                self.next()
                one()
            self.expect("punct", ")")
        else:
            one()
        return ("nps", tuple(fwd), tuple(rev))

    def _parse_path_quantifier(self, node):
        """``elt{n}`` / ``elt{n,}`` / ``elt{n,m}`` (the widely-implemented
        SPARQL 1.1 draft quantifiers, e.g. Jena) — desugared at parse time
        into the existing seq/opt/plus/star algebra, so the compiler
        needs no new node kind:

          e{0,}  → e*          e{1,}  → e+         e{n,}  → e/…/e/e+
          e{n}   → e/…/e       e{n,m} → n copies then (m−n) opt-copies
          e{0,m} → opt(e / e{0,m−1})  (right-nested; zero-length arm
                   only ever at the TOP, matching the compiler's
                   zero-length domain restrictions exactly)
        """
        self.expect("punct", "{")
        k, v = self.next()
        if k != "num" or "." in v:
            raise SparqlSyntaxError("path quantifier bounds must be integers")
        lo = int(v)
        hi: int | None = lo
        if self.peek() == ("punct", ","):
            self.next()
            if self.peek() == ("punct", "}"):
                hi = None
            else:
                k2, v2 = self.next()
                if k2 != "num" or "." in v2:
                    raise SparqlSyntaxError(
                        "path quantifier bounds must be integers"
                    )
                hi = int(v2)
        self.expect("punct", "}")
        if hi is not None and hi < lo:
            raise SparqlSyntaxError("path quantifier upper bound below lower")
        if lo == 0 and hi == 0:
            raise SparqlUnsupported("e{0} (zero-length-only path)")
        if hi is None:
            if lo == 0:
                return ("star", node)
            if lo == 1:
                return ("plus", node)
            return ("seq", [node] * (lo - 1) + [("plus", node)])
        if lo == 0:
            inner = node
            for _ in range(hi - 1):
                inner = ("seq", [node, ("opt", inner)])
            return ("opt", inner)
        parts = [node] * lo + [("opt", node)] * (hi - lo)
        return parts[0] if len(parts) == 1 else ("seq", parts)

    def parse_predobj(self, subj, g: Group) -> None:
        while True:
            pred = self.parse_path()
            while True:
                obj = self.parse_term_or_bnode(g)
                g.patterns.append((subj, pred, obj))
                if self.peek() == ("punct", ","):
                    self.next()
                else:
                    break
            if self.peek() == ("punct", ";"):
                self.next()
                # a dangling ';' before '.', ']' or '}' is legal turtle
                k, v = self.peek()
                if (k, v) in (("punct", "."), ("punct", "]"), ("punct", "}")):
                    return
                continue
            return

    def parse_term_or_bnode(self, g: Group):
        if self.peek() == ("punct", "["):
            self.next()
            self.bnode_n += 1
            bvar = ("var", f"_bn{self.bnode_n}")
            if self.peek() != ("punct", "]"):  # '[]' is just a fresh node
                self.parse_predobj(bvar, g)
            self.expect("punct", "]")
            return bvar
        return self.parse_term()

    def parse_term(self, allow_a: bool = False):
        k, v = self.next()
        if k == "var":
            return ("var", v[1:])
        if k == "iri":
            return ("iri", v[1:-1])
        if k == "lit":
            return ("lit", v[1:-1].replace('\\"', '"').replace("\\\\", "\\"))
        if k == "pname":
            return ("iri", self.expand_pname(v))
        if k == "word" and v == "a" and allow_a:
            return ("iri", RDF_TYPE_IRI)
        raise SparqlSyntaxError(f"unexpected term {v!r}")

    def expand_pname(self, pname: str) -> str:
        pfx, _, local = pname.partition(":")
        if pfx not in self.prefixes:
            raise SparqlSyntaxError(f"unknown prefix {pfx!r} (pass it via prefixes=...)")
        return self.prefixes[pfx] + local

    # FILTER ( cond && cond ... ) or FILTER ( cond || cond ... ) — one
    # connective per parenthesization level; a parenthesized sub-condition
    # opens its own level, so mixed logic is written with explicit parens
    def parse_filter(self) -> list:
        self.expect("punct", "(")
        conds = [self.parse_condition_group()]
        self.expect("punct", ")")
        return conds

    def parse_condition_group(self):
        """cond (&& cond)* | cond (|| cond)* — returns a single AST node
        (``("and"|"or", [conds])`` when a connective appears)."""
        conds = [self.parse_condition()]
        op = None
        while self.peek() in (("punct", "&&"), ("punct", "||")):
            tok = self.next()[1]
            if op is not None and tok != op:
                raise SparqlUnsupported(
                    "mixed && and || at one level — parenthesize the sub-conditions"
                )
            op = tok
            conds.append(self.parse_condition())
        if op is None:
            return conds[0]
        return ("and" if op == "&&" else "or", conds)

    def parse_condition(self):
        k, v = self.peek()
        if (k, v) == ("punct", "!"):  # logical negation of one condition
            self.next()
            return ("not", self.parse_condition())
        if (k, v) == ("punct", "("):  # nested parenthesized condition
            self.next()
            inner = self.parse_condition_group()
            self.expect("punct", ")")
            return inner
        if k == "word" and v.lower() == "bound":
            self.next()
            self.expect("punct", "(")
            var = self.expect("var")[1:]
            self.expect("punct", ")")
            return ("bound", var)
        if k == "word" and v.lower() == "isuri":
            self.next()
            self.expect("punct", "(")
            var = self.expect("var")[1:]
            self.expect("punct", ")")
            return ("isuri", var)
        if k == "word" and v.lower() in ("strstarts", "strends", "contains"):
            fn = v.lower()
            self.next()
            self.expect("punct", "(")
            var = self._parse_str_arg_var()
            self.expect("punct", ",")
            needle = self._parse_str_arg_const()
            self.expect("punct", ")")
            return (fn, var, needle)
        if k == "word" and v.lower() == "regex":
            self.next()
            self.expect("punct", "(")
            var = self._parse_str_arg_var()
            self.expect("punct", ",")
            pattern = self._parse_str_arg_const()
            flags = ""
            if self.peek() == ("punct", ","):
                self.next()
                flags = self._parse_str_arg_const()
            self.expect("punct", ")")
            if not set(flags) <= {"i", "s", "m"}:
                raise SparqlUnsupported(f"REGEX flags {flags!r}")
            return ("regex", var, pattern, flags)
        if k == "word" and v.lower() == "strlen":
            self.next()
            self.expect("punct", "(")
            var = self._parse_str_arg_var()
            self.expect("punct", ")")
            ok, ov = self.next()
            if ok != "punct" or ov not in self._CMP_OPS:
                raise SparqlUnsupported(f"STRLEN comparator {ov!r}")
            nk, nv = self.next()
            if nk != "num":
                raise SparqlUnsupported("STRLEN compared to a non-numeric constant")
            return ("strlen", ov, var, float(nv))
        if k == "var":
            self.next()
            ok, ov = self.next()
            if ok == "word" and ov.lower() in ("in", "not"):
                negate = ov.lower() == "not"
                if negate:
                    wk, wv = self.next()
                    if wk != "word" or wv.lower() != "in":
                        raise SparqlSyntaxError(f"expected IN, got {wv!r}")
                self.expect("punct", "(")
                terms = []
                while True:
                    if self.peek()[0] == "num":
                        terms.append(("lit", self.next()[1]))
                    else:
                        terms.append(self.parse_term())
                    if self.peek() == ("punct", ","):
                        self.next()
                        continue
                    break
                self.expect("punct", ")")
                cond = ("in", v[1:], terms)
                return ("not", cond) if negate else cond
            if ok != "punct" or ov not in self._CMP_OPS:
                raise SparqlUnsupported(
                    f"FILTER comparator {ov!r} is outside the supported fragment"
                )
            if self.peek()[0] == "num":
                rhs = ("num", self.next()[1])
            else:
                rhs = self.parse_term()
            if ov in ("=", "!="):
                # lexical term comparison (the graph stores literals
                # lexically; the fragment's equalities are same-kind)
                if rhs[0] == "num":
                    rhs = ("lit", rhs[1])
                return ("eq" if ov == "=" else "neq", v[1:], rhs)
            if rhs[0] not in ("num", "var"):
                raise SparqlUnsupported(
                    f"FILTER {ov} against a non-numeric constant is outside "
                    "the supported fragment"
                )
            return ("cmp", ov, v[1:], rhs)
        raise SparqlUnsupported(f"FILTER condition at {v!r} is outside the supported fragment")

    def _parse_str_arg_var(self) -> str:
        # str(?v) or bare ?v
        k, v = self.next()
        if k == "word" and v.lower() == "str":
            self.expect("punct", "(")
            var = self.expect("var")[1:]
            self.expect("punct", ")")
            return var
        if k == "var":
            return v[1:]
        raise SparqlSyntaxError(f"expected variable, got {v!r}")

    def _parse_str_arg_const(self) -> str:
        # str(ns:) / str(<iri>) / "literal"
        k, v = self.next()
        if k == "word" and v.lower() == "str":
            self.expect("punct", "(")
            kk, vv = self.next()
            if kk == "iri":
                out = vv[1:-1]
            elif kk == "pname":
                out = self.expand_pname(vv)
            else:
                raise SparqlSyntaxError(f"bad str() argument {vv!r}")
            self.expect("punct", ")")
            return out
        if k == "lit":
            return v[1:-1]
        raise SparqlSyntaxError(f"expected constant, got {v!r}")


# --------------------------------------------------------------------------
# Compiler
# --------------------------------------------------------------------------

_POS = ("subject", "predicate", "object")


def _compile_pattern(graph: DataFrame, pat) -> DataFrame:
    """One triple pattern → filtered/renamed slice. Constant terms become
    scan filters (pushed down / partition-pruned); variables become the
    binding columns. ``__isuri_<v>`` carries the URI-ness of object-bound
    variables for FILTER isURI."""
    df = graph
    proj, seen = [], {}
    for term, col in zip(pat, _POS):
        kind, val = term
        if kind == "var":
            if val in seen:  # repeated variable inside one pattern
                df = df.filter(F.col(col) == F.col(seen[val]))
                continue
            seen[val] = col
            proj.append(F.col(col).alias(val))
            flag = ~F.col("obj_is_literal") if col == "object" else F.lit(True)
            proj.append(flag.alias(f"__isuri_{val}"))
        else:
            df = df.filter(F.col(col) == F.lit(val))
            if col == "object":
                df = df.filter(F.col("obj_is_literal") == F.lit(kind == "lit"))
    return df.select(*proj)


def _merge(a: DataFrame, b: DataFrame, how: str = "inner") -> DataFrame:
    keys = [c for c in a.columns if c in b.columns and not c.startswith("__isuri_")]
    # URI-ness is part of RDF term identity: a URI and a literal sharing a
    # lexical form are DIFFERENT terms and must not join (the graph stores
    # both in one string column, split by the flag). When both sides carry
    # the flag for a join variable it joins as one more equi-key.
    flag_keys = [
        f"__isuri_{k}"
        for k in keys
        if f"__isuri_{k}" in a.columns and f"__isuri_{k}" in b.columns
    ]
    b = b.drop(
        *[
            c
            for c in b.columns
            if c.startswith("__isuri_") and c in a.columns and c not in flag_keys
        ]
    )
    if keys:
        return a.join(b, keys + flag_keys, how)
    if how != "inner":
        raise SparqlUnsupported("OPTIONAL group shares no variable with the outer group")
    return a.crossJoin(b)


def _filter_col(df: DataFrame, cond) -> F.Column:
    op = cond[0]
    if op == "and":
        out = F.lit(True)
        for c in cond[1]:
            out = out & _filter_col(df, c)
        return out
    if op == "or":
        out = F.lit(False)
        for c in cond[1]:
            out = out | _filter_col(df, c)
        return out
    if op == "not":
        # NULL-safe negation: SPARQL's !error is still an error (row
        # drops), and Spark's ~NULL is NULL (row drops) — they agree
        return ~_filter_col(df, cond[1])
    if op == "bound":
        v = cond[1]
        return F.col(v).isNotNull() if v in df.columns else F.lit(False)
    if op == "in":
        # lexical membership, same same-kind contract as eq
        _, v, terms = cond
        return F.col(v).isin([t[1] for t in terms])
    if op == "isuri":
        v = cond[1]
        col = f"__isuri_{v}"
        return F.col(col) if col in df.columns else F.lit(True)
    if op == "strstarts":
        return F.col(cond[1]).startswith(cond[2])
    if op == "strends":
        return F.col(cond[1]).endswith(cond[2])
    if op == "contains":
        return F.col(cond[1]).contains(cond[2])
    if op == "regex":
        # SPARQL REGEX is XPath regex; the fragment's patterns are the
        # Java-compatible core (classes, anchors, alternation,
        # quantifiers). Flags i/s/m map to embedded Java flag groups.
        _, v, pattern, flags = cond
        if flags:
            pattern = f"(?{flags})" + pattern
        return F.col(v).rlike(pattern)
    if op == "strlen":
        _, cmp_op, v, num = cond
        lcol = F.length(F.col(v)).cast("double")
        return {
            "=": lcol == num,
            "!=": lcol != num,
            "<": lcol < num,
            ">": lcol > num,
            "<=": lcol <= num,
            ">=": lcol >= num,
        }[cmp_op]
    if op in ("eq", "neq"):
        _, v, rhs = cond
        rhs_col = F.col(rhs[1]) if rhs[0] == "var" else F.lit(rhs[1])
        # lexical comparison (like eq has always done here) — SPARQL's
        # sameTerm-vs-value subtleties don't arise in the fragment, whose
        # comparisons are always same-kind (IRI=IRI or literal=literal)
        return F.col(v) == rhs_col if op == "eq" else F.col(v) != rhs_col
    if op == "cmp":
        # numeric comparison: both sides cast to double. A non-numeric
        # lexical form casts to NULL and the row drops — exactly SPARQL's
        # type-error-eliminates-the-solution semantics.
        _, cmp_op, v, rhs = cond
        # try_cast, not cast: under ANSI mode a plain cast THROWS on a
        # non-numeric lexical form; try_cast yields NULL and the row drops
        lcol = F.col(v).try_cast("double")
        rcol = (
            F.col(rhs[1]).try_cast("double")
            if rhs[0] == "var"
            else F.lit(float(rhs[1]))
        )
        return {
            "<": lcol < rcol,
            ">": lcol > rcol,
            "<=": lcol <= rcol,
            ">=": lcol >= rcol,
        }[cmp_op]
    raise SparqlUnsupported(f"filter {op}")


def _bind_cols(df: DataFrame, expr) -> tuple[F.Column, F.Column]:
    """BIND expr → (value column, __isuri_ flag column)."""
    kind = expr[0]
    if kind == "bvar":
        name = expr[1]
        if name not in df.columns:
            raise SparqlSyntaxError(f"BIND over unbound variable ?{name}")
        flag_col = f"__isuri_{name}"
        flag = F.col(flag_col) if flag_col in df.columns else F.lit(False)
        return F.col(name), flag
    if kind == "bconst":
        tk, tv = expr[1]
        return F.lit(tv), F.lit(tk == "iri")
    if kind == "bstr":  # STR(?v): the lexical form — a plain literal
        name = expr[1]
        if name not in df.columns:
            raise SparqlSyntaxError(f"STR over unbound variable ?{name}")
        return F.col(name), F.lit(False)
    if kind == "bconcat":
        return F.concat(*[_bind_cols(df, a)[0] for a in expr[1]]), F.lit(False)
    raise SparqlUnsupported(f"BIND expr {kind}")


def _expr_vars(expr) -> set:
    kind = expr[0]
    if kind in ("bvar", "bstr"):
        return {expr[1]}
    if kind == "bconcat":
        return set().union(*[_expr_vars(a) for a in expr[1]])
    return set()


def _group_pattern_vars(g: Group) -> set:
    """Variables a group's joinable elements (patterns, VALUES, UNION
    branches, subquery projections) consume — the set a BIND alias must
    stay out of."""
    out: set = set()
    for p in g.patterns:
        out |= _pattern_vars(p)
    for names, _ in g.values:
        out |= set(names)
    for branches in g.unions:
        for br in branches:
            out |= _group_pattern_vars(br)
    for sq in g.subqueries:
        out |= {s[1] if s[0] == "var" else s[4] for s in sq.select}
    return out


def _apply_minus(df: DataFrame, graph: DataFrame, mg: Group, nullable: set) -> DataFrame:
    """MINUS {…} → left-anti join on the shared variables plus their
    ``__isuri_`` term-identity flags. Exact under SPARQL 1.1 §8.3 when the
    shared columns are non-nullable (anti-join "no match" == "incompatible
    or disjoint"); a shared variable that is optional-bound on the outer
    side could be NULL — where §8.3 keeps the row but an anti-join's
    null-key never matches would too, EXCEPT the right side might also
    bind other shared vars, so raise rather than reason per-row."""
    right = _compile_group(graph, mg)
    keys = [
        c for c in df.columns
        if c in right.columns and not c.startswith("__isuri_")
    ]
    if not keys:
        # §8.3: disjoint domains are never compatible — MINUS removes nothing
        return df
    bad = [k for k in keys if k in nullable]
    if bad:
        raise SparqlUnsupported(
            f"MINUS over OPTIONAL-bound variables is outside the supported "
            f"fragment: {bad}"
        )
    flag_keys = [
        f"__isuri_{k}"
        for k in keys
        if f"__isuri_{k}" in df.columns and f"__isuri_{k}" in right.columns
    ]
    return df.join(right.select(keys + flag_keys), keys + flag_keys, "left_anti")


def _apply_exists(df: DataFrame, graph: DataFrame, eg: Group, positive: bool) -> DataFrame:
    """FILTER [NOT] EXISTS {…} → left-semi/left-anti join on the shared
    variables + term-identity flags (exact under §8.1.1 substitution
    because the shared columns are non-nullable — EXISTS runs before
    OPTIONAL merges, like every other filter here). With no shared
    variable the inner pattern is uncorrelated, so the filter is a global
    emptiness test: probe LIMIT 1 of the inner result and keep all rows
    or none — a broadcast of at most one row, not a full materialize."""
    right = _compile_group(graph, eg)
    keys = [
        c for c in df.columns
        if c in right.columns and not c.startswith("__isuri_")
    ]
    if keys:
        flag_keys = [
            f"__isuri_{k}"
            for k in keys
            if f"__isuri_{k}" in df.columns and f"__isuri_{k}" in right.columns
        ]
        how = "left_semi" if positive else "left_anti"
        return df.join(right.select(keys + flag_keys), keys + flag_keys, how)
    probe = F.broadcast(right.limit(1).select(F.lit(1).alias("__exists_probe")))
    if positive:
        return df.crossJoin(probe).drop("__exists_probe")
    return df.join(probe, F.lit(True), "left_anti")


def _pattern_vars(pat) -> set:
    return {val for kind, *rest in pat if kind == "var" for val in rest[:1]}


# ---- property paths -------------------------------------------------------
#
# Two complementary evaluation strategies, chosen by how the pattern binds:
#
# * both ends variable → PAIR relations (_src, _src_isuri, _dst,
#   _dst_isuri): atoms are predicate slices (partition-pruned scans),
#   sequence is a join on RDF term identity of the middle node, closure is
#   a pairwise frontier loop — quadratic in the relation's reach, meant
#   for schema-sized relations (class/property hierarchies), never
#   fact-sized ones;
# * one end constant → NODE SETS (_n, _n_isuri): the path folds left to
#   right as images of the frontier under each element's relation, so a
#   closure is a seeded BFS on checkpoints.closure, as
#   query_api.subclass_closure is, and the corpus-sized pair closure never
#   materializes. A constant OBJECT is normalized to a constant subject
#   by inverting the whole path AST first.
#
# Term identity (value + IRI-vs-literal kind) is carried through every
# join: a path may legally pass through a literal when an inverse step
# follows a literal-valued predicate, and a URI and a literal sharing a
# lexical form must not meet.


def _invert_path(n):
    """AST-level path inversion: ``^`` never reaches the compiler."""
    k = n[0]
    if k == "p":
        return ("pinv", n[1])
    if k == "pinv":
        return ("p", n[1])
    if k == "pvar":
        return n
    if k == "nps":
        # ^!(p|^q) ≡ !(q|^p): the forward and reversed exclusion sets swap
        return ("nps", n[2], n[1])
    if k == "seq":
        return ("seq", [_invert_path(x) for x in reversed(n[1])])
    if k == "alt":
        return ("alt", [_invert_path(x) for x in n[1]])
    return (k, _invert_path(n[1]))  # star / plus / opt


def _path_has_var(n) -> bool:
    k = n[0]
    if k == "pvar":
        return True
    if k in ("p", "pinv", "nps"):
        return False
    if k in ("seq", "alt"):
        return any(_path_has_var(x) for x in n[1])
    return _path_has_var(n[1])


_REL_COLS = ["_src", "_src_isuri", "_dst", "_dst_isuri"]


@contextmanager
def _no_constraint_propagation(spark):
    """Constraint propagation off for the checkpoints taken inside (the
    path closures'). Spark 4.1's ``LogicalRDD.rewriteStatsAndConstraints``
    throws ``NoSuchElementException: key not found: _src_isuri#N`` when a
    checkpointed plan's inferred constraints reference an attribute that
    constant-folding erased from the attribute-rewrite map — which path
    relations hit constantly, because the term-kind flags are often
    ``lit(True)``-derived (every RDF subject is an IRI). The constraint
    loss only affects the checkpointed subplans' own optimization, and
    they are frontier/pair tables where constraints buy nothing.
    Re-entrant: each exit restores the value its entry found."""
    conf = spark.conf
    key = "spark.sql.constraintPropagation.enabled"
    prev = conf.get(key)
    conf.set(key, "false")
    try:
        yield
    finally:
        conf.set(key, prev)


def _rel_atom(graph: DataFrame, iri: str, inverse: bool = False) -> DataFrame:
    """One predicate's edge slice as a pair relation (partition-pruned on
    the predicate-partitioned materialized graph). Subjects are always
    IRIs in RDF; the object side carries the literal flag. Literal-object
    edges stay in the relation — a literal endpoint is a valid end of a
    path (``p/label``) and self-terminates in closures (nothing joins a
    literal's forward side)."""
    rel = (
        graph.filter(F.col("predicate") == iri)
        .select(
            F.col("subject").alias("_src"),
            F.lit(True).alias("_src_isuri"),
            F.col("object").alias("_dst"),
            (~F.col("obj_is_literal")).alias("_dst_isuri"),
        )
        .distinct()
    )
    return _rel_swap(rel) if inverse else rel


def _rel_nps(graph: DataFrame, fwd: tuple, rev: tuple) -> DataFrame:
    """Negated property set as a pair relation: forward edges whose
    predicate is NOT in ``fwd``, unioned with reversed edges whose
    predicate is NOT in ``rev`` — each arm present only if it has
    members (SPARQL 1.1 §9.1). Single-step-priced like any atom, but
    note the slice is "everything except", i.e. potentially fact-sized:
    putting an NPS under a closure would be a design error, same caveat
    as _rel_plus documents for fact-sized predicates."""

    def slice_(excl):
        return (
            graph.filter(~F.col("predicate").isin(*excl))
            .select(
                F.col("subject").alias("_src"),
                F.lit(True).alias("_src_isuri"),
                F.col("object").alias("_dst"),
                (~F.col("obj_is_literal")).alias("_dst_isuri"),
            )
            .distinct()
        )

    parts = []
    if fwd:
        parts.append(slice_(fwd))
    if rev:
        parts.append(_rel_swap(slice_(rev)))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.distinct() if len(parts) > 1 else out


def _rel_swap(rel: DataFrame) -> DataFrame:
    return rel.select(
        F.col("_dst").alias("_src"),
        F.col("_dst_isuri").alias("_src_isuri"),
        F.col("_src").alias("_dst"),
        F.col("_src_isuri").alias("_dst_isuri"),
    )


def _rel_compose(a: DataFrame, b: DataFrame) -> DataFrame:
    """a ∘ b — join on RDF term identity of the middle node."""
    am, bm = a.alias("a"), b.alias("b")
    return (
        am.join(
            bm,
            (F.col("a._dst") == F.col("b._src"))
            & (F.col("a._dst_isuri") == F.col("b._src_isuri")),
        )
        .select(
            F.col("a._src").alias("_src"),
            F.col("a._src_isuri").alias("_src_isuri"),
            F.col("b._dst").alias("_dst"),
            F.col("b._dst_isuri").alias("_dst_isuri"),
        )
        .distinct()
    )


def _rel_plus(rel: DataFrame, max_iter: int) -> DataFrame:
    """Transitive pairs (length ≥ 1) of a pair relation (distinct, as every
    ``_path_rel`` is): ``checkpoints.closure`` composing the newest pairs
    with ``rel``. Quadratic in the relation's reach — correct for
    schema-sized relations; a fact-sized predicate here would be a design
    error (the seeded node-set path below is the scale-safe form)."""
    with _no_constraint_propagation(rel.sparkSession):
        return closure(
            rel, lambda frontier: _rel_compose(frontier, rel), _REL_COLS, max_iter
        )


def _path_rel(graph: DataFrame, node, max_iter: int) -> DataFrame:
    """Path AST → finite pair relation. Zero-length-capable elements
    (``star``/``opt``) are only compilable where a finite domain bounds
    the zero arm: mid-sequence (the accumulated prefix relation is the
    domain) — bare or sequence-leading ones raise, and the seeded
    node-set evaluator handles them when an end is constant."""
    k = node[0]
    if k in ("p", "pinv"):
        return _rel_atom(graph, node[1], inverse=(k == "pinv"))
    if k == "nps":
        return _rel_nps(graph, node[1], node[2])
    if k == "alt":
        parts = [_path_rel(graph, x, max_iter) for x in node[1]]
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out.distinct()
    if k == "plus":
        return _rel_plus(_path_rel(graph, node[1], max_iter), max_iter)
    if k == "seq":
        acc = None
        for elt in node[1]:
            ek = elt[0]
            if ek in ("star", "opt"):
                if acc is None:
                    raise SparqlUnsupported(
                        "zero-length path element at the start of an unbound "
                        "sequence (unrestricted domain)"
                    )
                step = _path_rel(graph, elt[1], max_iter)
                if ek == "star":
                    step = _rel_plus(step, max_iter)
                acc = acc.unionByName(_rel_compose(acc, step)).distinct()
            else:
                rel = _path_rel(graph, elt, max_iter)
                acc = rel if acc is None else _rel_compose(acc, rel)
        return acc
    raise SparqlUnsupported(
        "zero-length path with both ends unbound (unrestricted domain)"
    )


def _node_image(rel: DataFrame, nodes: DataFrame) -> DataFrame:
    """Image of a node set under a pair relation (term-identity semi-join
    then project the far side)."""
    return (
        rel.join(
            nodes,
            (rel["_src"] == nodes["_n"]) & (rel["_src_isuri"] == nodes["_n_isuri"]),
            "left_semi",
        )
        .select(F.col("_dst").alias("_n"), F.col("_dst_isuri").alias("_n_isuri"))
        .distinct()
    )


def _node_reachable(rel: DataFrame, seeds: DataFrame, max_iter: int) -> DataFrame:
    """Every node reachable from ``seeds`` in ≥ 0 steps over a pair
    relation (seeds included): ``checkpoints.closure`` over
    ``_node_image``, i.e. a checkpointed frontier BFS."""
    with _no_constraint_propagation(rel.sparkSession):
        return closure(
            seeds.select("_n", "_n_isuri").distinct(),
            lambda frontier: _node_image(rel, frontier),
            ["_n", "_n_isuri"],
            max_iter,
        )


def _apply_path_nodes(graph: DataFrame, node, nodes: DataFrame, max_iter: int) -> DataFrame:
    """Node-set semantics: the image of ``nodes`` under the path. This is
    the scale-safe evaluator — closures are seeded BFS (frontier-sized
    state), never pair closures."""
    k = node[0]
    if k == "seq":
        for elt in node[1]:
            nodes = _apply_path_nodes(graph, elt, nodes, max_iter)
        return nodes
    if k == "alt":
        parts = [_apply_path_nodes(graph, x, nodes, max_iter) for x in node[1]]
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out.distinct()
    if k == "star":
        return _node_reachable(_path_rel(graph, node[1], max_iter), nodes, max_iter)
    if k == "plus":
        rel = _path_rel(graph, node[1], max_iter)
        return _node_reachable(rel, _node_image(rel, nodes), max_iter)
    if k == "opt":
        rel = _path_rel(graph, node[1], max_iter)
        return nodes.unionByName(_node_image(rel, nodes)).distinct()
    if k == "nps":
        return _node_image(_rel_nps(graph, node[1], node[2]), nodes)
    return _node_image(_rel_atom(graph, node[1], inverse=(k == "pinv")), nodes)


def _compile_path(graph: DataFrame, pat, max_iter: int = 32) -> DataFrame:
    """One property-path pattern → a binding slice, joinable like any other
    compiled pattern (real ``__isuri_`` term-kind flags included)."""
    s_term, (_, node), o_term = pat
    if s_term[0] != "var" and o_term[0] != "var":
        raise SparqlUnsupported("property path with both ends constant")
    if s_term[0] == "var" and o_term[0] == "var":
        if node[0] in ("star", "opt"):
            raise SparqlUnsupported(
                "zero-length path with both ends unbound (unrestricted domain)"
            )
        rel = _path_rel(graph, node, max_iter)
        if s_term[1] == o_term[1]:
            return (
                rel.filter(
                    (F.col("_src") == F.col("_dst"))
                    & (F.col("_src_isuri") == F.col("_dst_isuri"))
                )
                .select(
                    F.col("_src").alias(s_term[1]),
                    F.col("_src_isuri").alias(f"__isuri_{s_term[1]}"),
                )
                .distinct()
            )
        return rel.select(
            F.col("_src").alias(s_term[1]),
            F.col("_src_isuri").alias(f"__isuri_{s_term[1]}"),
            F.col("_dst").alias(o_term[1]),
            F.col("_dst_isuri").alias(f"__isuri_{o_term[1]}"),
        )
    # one constant end: normalize to a constant SUBJECT by inverting the
    # whole path, then fold the AST over a seeded node set — every step
    # is bounded by the frontier, so closures stay BFS-shaped.
    if s_term[0] == "var":
        node = _invert_path(node)
        s_term, o_term = o_term, s_term
    var_name = o_term[1]
    seeds = graph.sparkSession.createDataFrame(
        [(s_term[1], s_term[0] == "iri")], "_n string, _n_isuri boolean"
    )
    nodes = _apply_path_nodes(graph, node, seeds, max_iter)
    return nodes.select(
        F.col("_n").alias(var_name),
        F.col("_n_isuri").alias(f"__isuri_{var_name}"),
    )


def _compile_union(graph: DataFrame, branches: list) -> DataFrame:
    """{A} UNION {B} → branches compiled independently, then unioned.
    Scoped rule: every branch must bind the SAME variable set — otherwise
    a missing binding would have to become NULL, and NULL keys in the
    surrounding equi-joins silently diverge from SPARQL's unbound-is-
    compatible semantics. The fragment's real uses (alternate label
    properties, alternate link predicates) all bind identical sets."""
    dfs = [_compile_group(graph, br) for br in branches]
    varsets = [
        frozenset(c for c in d.columns if not c.startswith("__isuri_")) for d in dfs
    ]
    if len(set(varsets)) != 1:
        raise SparqlUnsupported(
            f"UNION branches bind different variable sets: "
            f"{[sorted(v) for v in varsets]}"
        )
    cols = dfs[0].columns
    out = dfs[0]
    for d in dfs[1:]:
        out = out.unionByName(d.select(cols))
    return out


def _compile_pat_or_path(graph: DataFrame, pat) -> DataFrame:
    return (_compile_path if pat[1][0] == "path" else _compile_pattern)(graph, pat)


def _compile_values(spark, block) -> DataFrame:
    """VALUES → an inline broadcast table with one column per variable
    (plus the ``__isuri_`` flags FILTER isURI reads), joined into the BGP
    tree like any other pattern. Inline data is user-typed and tiny, so
    the broadcast hint is always right — the join becomes a map-side
    lookup against every scale of graph slice."""
    names, rows = block
    data = [
        tuple(x for t in row for x in (t[1], t[0] == "iri")) for row in rows
    ]
    schema = ", ".join(f"{n} string, __isuri_{n} boolean" for n in names)
    return F.broadcast(spark.createDataFrame(data, schema).distinct())


def _compile_group(graph: DataFrame, g: Group) -> DataFrame:
    """BGP → join tree. SPARQL pattern order is NOT join order: the
    ``[...]`` bnode syntax appends the linking pattern after the bnode's
    own properties, so naive left-to-right joining hits a disconnected
    pattern and cross-joins (measured: 67.5e9 intermediate rows on the
    flagship at sf0.001). Greedy connected ordering instead: always join
    the next pattern that shares a variable with the bound set — every
    join stays an equi-join; a genuine cross join only happens for a
    genuinely disconnected BGP. UNION blocks join the tree like one more
    pattern (on their shared variables); property paths compile to
    closure slices and join identically."""
    if not g.patterns and not g.unions and not g.values and not g.subqueries:
        raise SparqlUnsupported("group with no triple pattern")
    df = None
    bound: set = set()
    # VALUES blocks first: inline data is the most selective thing in the
    # group and broadcastable, so every later pattern join is a map-side
    # probe constrained by it (joining it last would leave the pattern
    # scans unconstrained and filter at the end)
    for block in g.values:
        v = _compile_values(graph.sparkSession, block)
        df = v if df is None else _merge(df, v)
        bound |= set(block[0])
    if g.patterns:
        remaining = list(g.patterns)
        # start at the most-constant (most selective) pattern; property
        # paths count their constant ends but are costlier — tie-break last
        remaining.sort(
            key=lambda p: (
                sum(1 for k, *_ in p if k != "var"),
                p[1][0] != "path",
            ),
            reverse=True,
        )
        if df is None:
            first = remaining.pop(0)
            df = _compile_pat_or_path(graph, first)
            bound = _pattern_vars(first)
        while remaining:
            i = next(
                (j for j, p in enumerate(remaining) if _pattern_vars(p) & bound),
                0,  # disconnected BGP: fall back to a real cross join
            )
            pat = remaining.pop(i)
            df = _merge(df, _compile_pat_or_path(graph, pat))
            bound |= _pattern_vars(pat)
    for branches in g.unions:
        u = _compile_union(graph, branches)
        df = u if df is None else _merge(df, u)
    for sq in g.subqueries:
        # a subquery evaluates bottom-up in isolation (SPARQL 1.1 §12)
        # and its projected solutions join the group on shared variables
        # like any other pattern; flags ride along for term identity
        sub = _compile_select(graph, sq, keep_flags=True)
        df = sub if df is None else _merge(df, sub)
    if (g.binds or g.exists) and df is None:
        raise SparqlUnsupported("BIND/EXISTS in a group with no triple pattern")
    joinable = _group_pattern_vars(g) if g.binds else set()
    for alias, expr in g.binds:
        # output-only scoped rule (module docstring): a bind never feeds a
        # join, so it compiles to a pure projection — zero shuffle
        if alias in df.columns:
            raise SparqlSyntaxError(f"BIND rebinds already-bound ?{alias}")
        if alias in joinable:
            raise SparqlUnsupported(
                f"BIND variable ?{alias} is consumed by a triple pattern — "
                "only output-only binds are in the supported fragment"
            )
        missing = [v for v in _expr_vars(expr) if v not in df.columns]
        if missing:
            raise SparqlSyntaxError(f"BIND over unbound variables: {missing}")
        val, flag = _bind_cols(df, expr)
        df = df.withColumn(alias, val).withColumn(f"__isuri_{alias}", flag)
    for positive, eg in g.exists:
        df = _apply_exists(df, graph, eg, positive)
    pre_opt = set(df.columns) if df is not None else set()
    for opt in g.optionals:
        df = _merge(df, _compile_group(graph, opt), how="left")
    nullable = {
        c for c in (set(df.columns) - pre_opt) if not c.startswith("__isuri_")
    }
    for mg in g.minuses:
        df = _apply_minus(df, graph, mg, nullable)
    # plain FILTERs evaluate over the WHOLE group result (SPARQL 1.1
    # §18.2.2.7 collects them to the end), i.e. after OPTIONAL and MINUS:
    # BOUND(?v) can see optional bindings, and a comparison against an
    # unbound (NULL) binding drops the row — Spark's NULL propagation is
    # exactly SPARQL's type-error-eliminates-the-solution rule. Filters
    # on mandatory variables still push below the joins (Catalyst moves
    # deterministic left-side predicates through inner and left joins),
    # so this costs nothing on the fragment's existing queries.
    for cond in g.filters:
        df = df.filter(_filter_col(df, cond))
    return df


def _construct(df: DataFrame, template: list) -> DataFrame:
    """Instantiate a CONSTRUCT template against the solution frame: one
    unionByName branch per template pattern, DISTINCT last (a graph is a
    set of triples). Per SPARQL 1.1 §16.2 a solution that leaves a
    template variable unbound (OPTIONAL) or binds a literal in
    subject/predicate position produces no triple for that pattern —
    those rows are filtered, not errored. Output schema matches the
    input graph frame (subject, predicate, object, obj_is_literal), so a
    constructed graph can be fed straight back into query_graph."""
    parts = []
    for pat in template:
        d = df
        cols = []
        obj_lit = None
        for term, name in zip(pat, ("subject", "predicate", "object")):
            kind, val = term[0], term[1]
            if kind == "var":
                if val.startswith("_bn"):
                    raise SparqlUnsupported("blank node in CONSTRUCT template")
                if val not in df.columns:
                    raise SparqlSyntaxError(
                        f"CONSTRUCT template variable never bound: ?{val}"
                    )
                d = d.filter(F.col(val).isNotNull())
                flag = f"__isuri_{val}"
                if name != "object":
                    if flag in df.columns:
                        d = d.filter(F.col(flag))  # URIs only in s/p position
                else:
                    obj_lit = ~F.col(flag) if flag in df.columns else F.lit(False)
                cols.append(F.col(val).alias(name))
            else:
                if name != "object" and kind == "lit":
                    raise SparqlSyntaxError(
                        "literal in CONSTRUCT subject/predicate position"
                    )
                if name == "object":
                    obj_lit = F.lit(kind == "lit")
                cols.append(F.lit(val).alias(name))
        parts.append(d.select(*cols, obj_lit.alias("obj_is_literal")))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.distinct()


def _describe(graph: DataFrame, ast: Query) -> DataFrame:
    """DESCRIBE → the out-edge slice of the described node set: listed
    constants plus the WHERE solutions of the listed variables, left-semi
    joined against the graph's subject column. Concise bounded description
    without bnode chasing — this engine's bnodes are skolemized IRIs, so
    every reified structure is one hop of explicit edges. Literal nodes
    describe nothing (a literal is never a subject). Output schema is the
    graph frame's own, so the description composes with query_graph."""
    spark = graph.sparkSession
    frames: list[DataFrame] = []
    consts = [(v, k == "iri") for k, v in ast.select if k != "var"]
    if consts:
        frames.append(
            spark.createDataFrame(consts, "_n string, _n_isuri boolean")
        )
    var_names = [v for k, v in ast.select if k == "var"]
    if var_names:
        df = _compile_group(graph, ast.where)
        for name in var_names:
            if name not in df.columns:
                raise SparqlSyntaxError(f"DESCRIBE variable never bound: ?{name}")
            flag = f"__isuri_{name}"
            frames.append(
                df.select(
                    F.col(name).alias("_n"),
                    (F.col(flag) if flag in df.columns else F.lit(True)).alias(
                        "_n_isuri"
                    ),
                )
            )
    nodes = frames[0]
    for fr in frames[1:]:
        nodes = nodes.unionByName(fr)
    nodes = nodes.filter(F.col("_n_isuri")).select("_n").distinct()
    return graph.join(
        nodes, graph["subject"] == nodes["_n"], "left_semi"
    ).distinct()


def query_graph(
    graph: DataFrame, q: str, prefixes: dict[str, str] | None = None
) -> DataFrame:
    """Run a SPARQL query (the reference's fragment) over a triples frame.
    SELECT returns one column per selected variable, DISTINCT (the
    reference materializes rdflib rows into a set); ASK returns a single
    boolean row (column ``ask``) without materializing more than one
    inner solution; CONSTRUCT returns a triples frame with the same
    schema as the input graph."""
    parser = _Parser(_tokenize(q), prefixes or {})
    ast = parser.parse_query()
    if ast.form == "describe":
        return _describe(graph, ast)
    df = _compile_group(graph, ast.where)
    if ast.form == "ask":
        # emptiness probe: limit(1) stops every scan at the first match
        return (
            df.select(F.lit(1).alias("__x"))
            .limit(1)
            .agg((F.count("__x") > F.lit(0)).alias("ask"))
        )
    if ast.form == "construct":
        if ast.order:
            bad = [v for v, _ in ast.order if v not in df.columns]
            if bad:
                raise SparqlUnsupported(f"ORDER BY over unbound variables: {bad}")
            df = df.orderBy(
                *[F.col(v).asc() if asc else F.col(v).desc() for v, asc in ast.order]
            )
        if ast.offset is not None:
            df = df.offset(ast.offset)
        if ast.limit is not None:
            df = df.limit(ast.limit)
        return _construct(df, ast.template)
    return _shape_select(df, ast)


def _compile_select(graph: DataFrame, ast: Query, keep_flags: bool = False) -> DataFrame:
    """Compile a SELECT query (top-level or subquery) to its projected
    solution frame. ``keep_flags`` preserves the ``__isuri_`` term-kind
    columns of projected variables so a subquery result joins the outer
    group on full RDF term identity."""
    df = _compile_group(graph, ast.where)
    return _shape_select(df, ast, keep_flags=keep_flags)


def _shape_select(df: DataFrame, ast: Query, keep_flags: bool = False) -> DataFrame:
    has_aggs = ast.select != ["*"] and any(s[0] == "agg" for s in ast.select)
    if has_aggs or ast.group_by or ast.having:
        out = _aggregate(df, ast, keep_flags=keep_flags)
    elif ast.select == ["*"]:
        out_cols = [c for c in df.columns if not c.startswith("__isuri_") and not c.startswith("_bn")]
        out = df.select(*out_cols).distinct()
    else:
        # projection expressions (SELECT (expr AS ?v)) evaluate first —
        # same machinery and output-only scope as BIND
        for s in ast.select:
            if s[0] == "exprsel":
                val, flag = _bind_cols(df, s[1])
                df = df.withColumn(s[4], val).withColumn(f"__isuri_{s[4]}", flag)
        names = [s[1] if s[0] == "var" else s[4] for s in ast.select]
        missing = [v for v in names if v not in df.columns]
        if missing:
            raise SparqlSyntaxError(f"SELECT variables never bound: {missing}")
        cols = list(names)
        if keep_flags:
            cols += [f"__isuri_{v}" for v in names if f"__isuri_{v}" in df.columns]
        out = df.select(*cols).distinct()
    if ast.order:
        bad = [v for v, _ in ast.order if v not in out.columns]
        if bad:
            raise SparqlUnsupported(
                f"ORDER BY over unprojected variables is outside the "
                f"supported fragment: {bad}"
            )
        out = out.orderBy(
            *[F.col(v).asc() if asc else F.col(v).desc() for v, asc in ast.order]
        )
    if ast.offset is not None:
        out = out.offset(ast.offset)
    if ast.limit is not None:
        out = out.limit(ast.limit)
    return out


_AGG_BUILDERS = {
    "min": F.min,
    "max": F.max,
    # try_cast: non-numeric lexical forms become NULL and are ignored by
    # the aggregate (SPARQL error-drop; ANSI cast would throw instead)
    "sum": lambda c: F.sum(F.col(c).try_cast("double")),
    "avg": lambda c: F.avg(F.col(c).try_cast("double")),
    # SAMPLE may return ANY value of the group (§18.5.1.8); min is a
    # valid choice and the only deterministic one under parallel merge
    "sample": F.min,
}


def _aggregate(df: DataFrame, ast: Query, keep_flags: bool = False) -> DataFrame:
    """GROUP BY / aggregate SELECT — standard SPARQL 1.1 semantics: the
    aggregate consumes the solution BAG the BGP joins produce (the final
    set-projection never runs), grouped by the GROUP BY variables (global
    aggregation when absent). Non-aggregate SELECT variables must appear
    in GROUP BY (SPARQL 1.1 §18.4 / the same rule every SQL engine
    enforces). SUM/AVG cast the lexical forms to double — the graph stores
    object literals lexically; non-numeric strings become NULL and are
    ignored, matching SPARQL's error-drop semantics."""
    if ast.select == ["*"]:
        raise SparqlUnsupported("SELECT * with GROUP BY")
    if any(s[0] == "exprsel" for s in ast.select):
        raise SparqlUnsupported(
            "SELECT expression combined with GROUP BY/aggregates — "
            "BIND the expression in the group instead"
        )
    plain = [s[1] for s in ast.select if s[0] == "var"]
    stray = [v for v in plain if v not in ast.group_by]
    if stray:
        raise SparqlSyntaxError(
            f"SELECT variables outside GROUP BY: {stray} (not aggregated)"
        )
    missing = [v for v in ast.group_by if v not in df.columns]
    if missing:
        raise SparqlSyntaxError(f"GROUP BY variables never bound: {missing}")
    def _agg_col(fn: str, arg: str, agg_distinct: bool, extra=None) -> F.Column:
        if arg != "*" and arg not in df.columns:
            raise SparqlSyntaxError(f"aggregate over unbound variable ?{arg}")
        if fn == "count":
            if arg == "*":
                if agg_distinct:
                    raise SparqlUnsupported("COUNT(DISTINCT *)")
                return F.count(F.lit(1))
            if agg_distinct:
                return F.countDistinct(arg)
            return F.count(arg)
        if fn == "group_concat":
            # the spec leaves element order undefined; sorting makes the
            # result deterministic under any partitioning (and matches a
            # DuckDB string_agg(... ORDER BY ...) oracle exactly)
            vals = F.collect_list(arg)
            if agg_distinct:
                vals = F.array_distinct(vals)
            return F.array_join(F.sort_array(vals), extra if extra is not None else " ")
        if agg_distinct:
            raise SparqlUnsupported(f"{fn.upper()}(DISTINCT …)")
        return _AGG_BUILDERS[fn](arg)

    aggs = []
    for s in ast.select:
        if s[0] != "agg":
            continue
        _, fn, arg, agg_distinct, alias, extra = s
        aggs.append(_agg_col(fn, arg, agg_distinct, extra).alias(alias))
    # HAVING aggregates ride the same hash aggregate as internal columns,
    # filtered post-agg and dropped by the final projection — one shuffle.
    for i, (fn, arg, agg_distinct, _op, _num) in enumerate(ast.having):
        aggs.append(_agg_col(fn, arg, agg_distinct).alias(f"__hav_{i}"))
    # group on full RDF term identity: a grouping variable's __isuri_
    # flag is one more group key (a URI and a literal sharing a lexical
    # form are different terms and must land in different groups)
    group_cols = []
    for v in ast.group_by:
        group_cols.append(v)
        if f"__isuri_{v}" in df.columns:
            group_cols.append(f"__isuri_{v}")
    grouped = df.groupBy(*group_cols) if group_cols else df.groupBy()
    out = grouped.agg(*aggs)
    for i, (_fn, _arg, _d, op, num) in enumerate(ast.having):
        hcol = F.col(f"__hav_{i}").cast("double")
        out = out.filter(
            {
                "=": hcol == num,
                "!=": hcol != num,
                "<": hcol < num,
                ">": hcol > num,
                "<=": hcol <= num,
                ">=": hcol >= num,
            }[op]
        )
    names = [s[1] if s[0] == "var" else s[4] for s in ast.select]
    if keep_flags:
        names += [
            f"__isuri_{s[1]}"
            for s in ast.select
            if s[0] == "var" and f"__isuri_{s[1]}" in out.columns
        ]
    return out.select(*names)
