"""Lower the Cypher AST to DataFrame plans over ``GraphModel``.

Design: every bound node variable is ONE struct column in the working
DataFrame, in a unified node schema shared by Person and House nodes
(``label`` discriminates; House rows carry nulls for person-only
properties; ``id`` is a string — person ids stringified, house ids are
the house name, mirroring the serving facade's hub-id convention).
Relationship variables are (src, dst, type) structs in traversal
order. This keeps the whole pipeline declarative: MATCH becomes joins,
WHERE becomes filters, WITH/RETURN aggregation becomes
groupBy-on-structs — Catalyst sees a normal plan (broadcast for the
house side, shuffle hash for person joins) and optimizes it like any
hand-written query.

BELONGS_TO is virtual: the property graph normalizes house membership
as ``persons.house`` (model.py:26), so `(p)-[:BELONGS_TO]->(h)`
compiles to an equi-join ``p.house = h.name`` instead of an edge-table
probe — same rows as the reference's materialized edges
(get_insert.py:84-86), one join cheaper.

Semantics pinned by tests against the hand-built serving queries:
- undirected ``-[r]-`` = the symmetric view (each stored relationship
  matched once per endpoint perspective, like Cypher);
- OPTIONAL MATCH = left join; its WHERE is part of the pattern (filters
  the right side BEFORE the join, exactly Cypher's semantics — not a
  post-filter);
- WITH/RETURN with any aggregate ⇒ implicit grouping on the
  non-aggregate items (Cypher's grouping rule); count/collect skip
  nulls from unmatched OPTIONAL rows;
- multiple MATCH clauses join on shared variables (id-equality).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql import types as T

from neo4j_database_spark.cypher import parser as P
from neo4j_database_spark.graph.model import GraphModel, sql_name

# Cypher property name -> unified struct field
_PROP_MAP = {"isUser": "is_user"}

_PERSON_FIELDS = (
    "id", "name", "house", "segment", "acctbal",
    "species", "gender", "alive", "image", "is_user",
)


def _extra_person_fields(g: GraphModel) -> list[str]:
    """Dynamic properties beyond the unified schema (added by Cypher
    writes — SET/FOREACH on a fresh name). Sorted for a deterministic
    struct shape; both node builders must agree field-for-field so
    untyped expansions can union."""
    return sorted(c for c in g.persons.columns if c not in _PERSON_FIELDS)


def _person_nodes(
    g: GraphModel, keep: set[str] | None = None, long_ids: bool = False
) -> DataFrame:
    """Person node structs; ``keep`` prunes property fields to the set the
    query actually references (label/id/name are always structural).

    Pruning is the Cypher twin of Catalyst's column pruning, which cannot
    see through the node struct once it becomes a join/group key: without
    it every expansion broadcasts and shuffles all ~10 person properties
    (including a float that then needs NaN-normalization in group keys)
    even when the query touches three of them.

    ``long_ids`` keeps the id field as the native BIGINT instead of the
    string the mixed Person/House namespace needs (House ids are names).
    Long join keys hash and shuffle severalfold cheaper than strings on
    the fact-sized edge table — the dominant per-row cost of a compiled
    hop. Only set when ``long_id_safe`` proved the query can never touch
    a House frame and no id value escapes uncast (the ``id()`` scalar
    site casts back to string, preserving the visible contract).
    """
    p = g.persons
    fields = [
        ("label", "'Person'"),
        ("id", "id" if long_ids else "CAST(id AS STRING)"),
    ]
    for f_ in _PERSON_FIELDS[1:]:
        if keep is not None and f_ != "name" and f_ not in keep:
            continue
        fields.append((f_, sql_name(f_) if f_ in p.columns else "NULL"))
    fields += [
        (f_, sql_name(f_))
        for f_ in _extra_person_fields(g)
        if keep is None or f_ in keep
    ]
    return p.selectExpr(_named_struct(fields) + " AS __node")


def _named_struct(fields: list[tuple[str, str]]) -> str:
    """A ``named_struct`` of (field, SQL expression) pairs. The node
    sources build their struct as SQL text: every compile builds them,
    and one expression string is one driver round trip where a built
    column is several per field."""
    args = ", ".join(
        "'" + n.replace("\\", "\\\\").replace("'", "\\'") + "', " + e
        for n, e in fields
    )
    return f"named_struct({args})"


def _house_nodes(g: GraphModel, keep: set[str] | None = None) -> DataFrame:
    # same field order as _person_nodes so untyped expansions can union
    null_types = {
        "house": "string", "segment": "string", "acctbal": "double",
        "species": "string", "gender": "string", "alive": "boolean",
        "image": "string", "is_user": "boolean",
    }
    fields = [("label", "'House'"), ("id", "name"), ("name", "name")] + [
        (f_, f"CAST(NULL AS {t})")
        for f_, t in null_types.items()
        if keep is None or f_ in keep
    ]
    pschema = g.persons.schema
    fields += [
        (
            f_,
            "NULL" if isinstance(pschema[f_].dataType, T.NullType)
            else f"CAST(NULL AS {pschema[f_].dataType.simpleString()})",
        )
        for f_ in _extra_person_fields(g)
        if keep is None or f_ in keep
    ]
    return g.houses.selectExpr(_named_struct(fields) + " AS __node")


# Functions whose bare-node-variable argument needs only the structural
# fields (label/id), so it does not defeat property pruning.
_ID_ONLY_FUNCS = {"id", "elementid", "labels", "count"}


def _analyze_query(q: "P.Query") -> tuple[set[str] | None, bool]:
    """Shared pre-pass: (referenced property set or None, long_id_safe).

    Component 1 (node-struct pruning): the set of node property names
    the query references, or ``None`` when pruning is unsafe — a write
    statement, a node value escaping whole (``RETURN n``, ``collect(n)``,
    node equality, ``properties()``/``keys()``/map-projection ``.*``), or
    anything else that needs the full property set.

    Component 2 (long-id fast path): True when every node frame the
    query touches is a Person (so ids can stay native BIGINT instead of
    the string the Person/House union namespace needs) AND nothing whose
    visible type would change escapes: no House label, every rel
    explicitly typed without BELONGS_TO, no bound paths (``nodes(p)``
    exposes id lists), no rel struct escaping whole (its src/dst
    endpoints carry the id type), and not a write.

    Over-approximates syntactically: variables that might bind nodes are
    tracked by name; a bare use of any such name outside ``Prop`` access
    or an id-only function flips to keep-all. Lambda/UNWIND shadowing can
    only widen the result, never narrow it.
    """
    if q.is_write:
        return None, False
    props: set[str] = set()
    node_vars: set[str] = set()
    rel_vars: set[str] = set()
    unsafe = False
    long_ok = True

    def mark_unsafe():
        # anything that defeats pruning also defeats long ids: a node
        # escaping whole (or an unanalyzable expression that might let
        # one escape) exposes the struct's id field, whose visible type
        # must stay string
        nonlocal unsafe, long_ok
        unsafe = True
        long_ok = False

    def long_fail():
        nonlocal long_ok
        long_ok = False

    def walk_path(path: P.Path):
        nonlocal long_ok
        if path.var is not None:
            # a bound path exposes whole nodes via nodes(p)
            node_vars.add(path.var)
            long_fail()
        for n in path.nodes:
            if n.label not in (None, "Person"):
                long_fail()
            if n.var:
                node_vars.add(n.var)
            for k, v in n.props.items():
                props.add(_PROP_MAP.get(k, k))
                wx(v)
        for r in path.rels:
            if r.rtype is None:
                long_fail()  # untyped hop can reach BELONGS_TO/House
            else:
                rts = r.rtype if isinstance(r.rtype, tuple) else (r.rtype,)
                if "BELONGS_TO" in rts:
                    long_fail()
            if r.var is not None and not r.var.startswith("__rel"):
                rel_vars.add(r.var)

    def wx(e):
        if e is None or isinstance(e, (P.Lit, P.Param, P.Star)):
            return
        if isinstance(e, P.Var):
            if e.name in node_vars:
                mark_unsafe()
            if e.name in rel_vars:
                # rel struct escapes whole — its src/dst endpoints carry
                # the id type, so the long-id fast path must stay off
                long_fail()
        elif isinstance(e, P.Prop):
            props.add(_PROP_MAP.get(e.name, e.name))
        elif isinstance(e, P.Func):
            name = e.name.lower()
            if name in ("properties", "keys"):
                mark_unsafe()
            for a in e.args:
                if name in _ID_ONLY_FUNCS and isinstance(a, P.Var):
                    continue
                if name == "type" and isinstance(a, P.Var):
                    # structural accessor on a rel var: reads only the
                    # string type field, safe under long ids
                    continue
                wx(a)
        elif isinstance(e, P.MapProj):
            for ent in e.entries:
                if ent[0] == "prop":
                    props.add(_PROP_MAP.get(ent[1], ent[1]))
                elif ent[0] == "expr":
                    wx(ent[2])
                else:  # ('all',) — n {.*}
                    mark_unsafe()
        elif isinstance(e, P.BinOp):
            wx(e.left)
            wx(e.right)
        elif isinstance(e, P.Not):
            wx(e.expr)
        elif isinstance(e, P.CaseWhen):
            for c, v in e.whens:
                wx(c)
                wx(v)
            wx(e.default)
        elif isinstance(e, P.ListLit):
            for i in e.items:
                wx(i)
        elif isinstance(e, P.MapLit):
            for _, v in e.entries:
                wx(v)
        elif isinstance(e, P.FieldAccess):
            wx(e.expr)
        elif isinstance(e, P.Subscript):
            wx(e.expr)
            wx(e.index)
        elif isinstance(e, P.Slice):
            wx(e.expr)
            wx(e.lo)
            wx(e.hi)
        elif isinstance(e, P.ListComp):
            wx(e.src)
            wx(e.where)
            wx(e.map_expr)
        elif isinstance(e, P.QuantPred):
            wx(e.src)
            wx(e.where)
        elif isinstance(e, P.ReduceExpr):
            wx(e.init)
            wx(e.src)
            wx(e.body)
        elif isinstance(e, P.PatternComp):
            walk_path(e.path)
            wx(e.where)
            wx(e.map_expr)
        elif isinstance(e, (P.ExistsSub, P.CountSub)):
            walk_path(e.path)
            wx(e.where)
        elif isinstance(e, P.PatternPred):
            walk_path(e.path)
        else:  # unknown expression form: assume the worst
            mark_unsafe()

    def collect(clauses, final_return_emits: bool):
        for cl in clauses:
            if isinstance(cl, P.MatchClause):
                for path in cl.paths:
                    walk_path(path)
                wx(cl.where)
            elif isinstance(cl, P.WithClause):
                for it in cl.items:
                    if isinstance(it.expr, P.Var):
                        # rebinding keeps the node a struct — no fields
                        # forced; track the (possibly aliased) name
                        if it.expr.name in node_vars:
                            node_vars.add(it.alias or it.expr.name)
                        if it.expr.name in rel_vars:
                            rel_vars.add(it.alias or it.expr.name)
                    elif isinstance(it.expr, P.Star):
                        pass  # rebinds everything under the same names
                    else:
                        wx(it.expr)
                for o in cl.order_by:
                    wx(o.expr)
                wx(cl.where)
            elif isinstance(cl, P.ReturnClause):
                for it in cl.items:
                    if isinstance(it.expr, P.Var):
                        if it.expr.name in node_vars:
                            if final_return_emits:
                                mark_unsafe()  # whole node in the output
                            else:
                                # CALL { ... RETURN n }: stays a binding
                                node_vars.add(it.alias or it.expr.name)
                        if it.expr.name in rel_vars:
                            if final_return_emits:
                                long_fail()  # rel struct in the output
                            else:
                                rel_vars.add(it.alias or it.expr.name)
                    elif isinstance(it.expr, P.Star):
                        if final_return_emits and node_vars:
                            mark_unsafe()
                        if final_return_emits and rel_vars:
                            long_fail()
                    else:
                        wx(it.expr)
                for o in cl.order_by:
                    wx(o.expr)
            elif isinstance(cl, P.UnwindClause):
                # the alias needs no node_vars entry: a node-valued
                # source is either a bare node/path var or contains one
                # (collect(n), nodes(p)), and wx flips keep-all on those
                # already — so surviving unwinds iterate plain values and
                # their Prop accesses just record field names
                wx(cl.expr)
            elif isinstance(cl, P.CallClause):
                collect(cl.query.clauses, final_return_emits=False)
            else:  # write/unknown clause — handled by is_write, but be safe
                mark_unsafe()

    collect(q.clauses, final_return_emits=True)
    return (None if unsafe else props), long_ok


def referenced_person_props(q: "P.Query") -> set[str] | None:
    """Node-struct pruning pre-pass (see ``_analyze_query``)."""
    return _analyze_query(q)[0]


def long_id_safe(q: "P.Query") -> bool:
    """Long-id fast-path pre-pass (see ``_analyze_query``)."""
    return _analyze_query(q)[1]


def _rel_struct(src: Column, dst: Column, rtype: Column) -> Column:
    return F.struct(src.alias("src"), dst.alias("dst"), rtype.alias("type"))


def _walk_expr(e):
    yield e
    if isinstance(e, P.BinOp):
        yield from _walk_expr(e.left)
        yield from _walk_expr(e.right)
    elif isinstance(e, P.Not):
        yield from _walk_expr(e.expr)
    elif isinstance(e, P.Func):
        for a in e.args:
            yield from _walk_expr(a)
    elif isinstance(e, P.CaseWhen):
        for c, v in e.whens:
            yield from _walk_expr(c)
            yield from _walk_expr(v)
        yield from _walk_expr(e.default)
    elif isinstance(e, P.MapLit):
        for _, x in e.entries:
            yield from _walk_expr(x)
    elif isinstance(e, P.MapProj):
        for ent in e.entries:
            if ent[0] == "expr":
                yield from _walk_expr(ent[2])
    elif isinstance(e, P.FieldAccess):
        yield from _walk_expr(e.expr)
    elif isinstance(e, P.Subscript):
        yield from _walk_expr(e.expr)
        yield from _walk_expr(e.index)
    elif isinstance(e, P.Slice):
        yield from _walk_expr(e.expr)
        if e.lo is not None:
            yield from _walk_expr(e.lo)
        if e.hi is not None:
            yield from _walk_expr(e.hi)


@dataclass
class Binding:
    kind: str  # 'node' | 'rel' | 'value'
    label: str | None = None  # for nodes, if known


class Compiler:
    def __init__(self, g: GraphModel, params: dict):
        self.g = g
        self.params = params or {}
        # lambda-scoped variables for list comprehensions / reduce():
        # maps a Cypher variable name to the higher-order-function
        # argument Column while compiling the lambda body
        self._lambda_vars: dict[str, Column] = {}
        # long-id fast path (native BIGINT ids; see _analyze_query)
        self._long: bool = False
        # node-struct property pruning (None = keep every field); set by
        # run() from the referenced_person_props pre-pass and inherited
        # by inner compilers for CALL subqueries
        self._keep: set[str] | None = None

    def _with_lambda(self, bindings: dict[str, Column], body, env) -> Column:
        old = {k: self._lambda_vars.get(k) for k in bindings}
        self._lambda_vars.update(bindings)
        try:
            return self._scalar(body, env)
        finally:
            for k, v in old.items():
                if v is None:
                    self._lambda_vars.pop(k, None)
                else:
                    self._lambda_vars[k] = v

    # ---------------- edge sources (string endpoints) ----------------

    def _person_edges(self, rtype, directed: bool) -> DataFrame:
        e = self.g.sym_edges(None) if not directed else self.g.edges
        if rtype is not None:
            types = list(rtype) if isinstance(rtype, tuple) else [rtype]
            e = e.filter(F.col("type").isin(types))
        # SQL text, as in _person_nodes
        ends = ("src", "dst") if self._long else (
            "CAST(src AS STRING)", "CAST(dst AS STRING)"
        )
        return e.selectExpr(
            f"{ends[0]} AS __src", f"{ends[1]} AS __dst", "type AS __type"
        )

    def _belongs_edges(self) -> DataFrame:
        # virtual person -> house edges from the normalized property
        return (
            self.g.persons.filter(F.col("house").isNotNull())
            .select(
                F.col("id").cast("string").alias("__src"),
                F.col("house").alias("__dst"),
                F.lit("BELONGS_TO").alias("__type"),
            )
        )

    # ---------------- pattern compilation ----------------

    def compile_path(
        self, path: P.Path, env: dict[str, Binding], defer=None, start=None
    ):
        """Compile one path standalone: returns (df, local_env).

        Vars already in `env` keep their names so the caller can join
        on them; their per-source filters (labels, prop maps) are
        re-applied harmlessly. Variable-length relationships
        (``-[:T*m..n]-``) expand to a UNION over the concrete chain
        lengths — one row per distinct trail, Cypher's multiplicity —
        with the intermediate nodes anonymous and projected away. The
        bound is mandatory (parser enforces it): an unbounded expansion
        has no sane distributed plan, while a k-bounded one is k-1
        self-joins Catalyst handles like any other.
        """
        variants = self._expand_variable_length(path)
        if path.var is None and len(variants) == 1:
            return self._compile_concrete(variants[0], env, defer, start)
        outs = []
        named_env: dict[str, Binding] = {}
        for p in variants:
            df, local = self._compile_concrete(p, env, start=start)
            named = [v for v in local if not v.startswith("__anon")]
            sel = list(named)
            if start is not None:
                # continuation keeps every caller column; new named vars
                # append (same projection per variant so the union lines up)
                sel = list(start.columns) + [
                    v for v in named if v not in start.columns
                ]
            if path.var is not None:
                # the bound path value: hop count + the node-id sequence
                # (a deviation from Neo4j's rich path object, but enough
                # for length(p) / nodes(p), the common consumers)
                node_ids = [
                    F.col(f"{self._nvar(n)}.id") for n in p.nodes
                ]
                df = df.withColumn(
                    path.var,
                    F.struct(
                        F.lit(len(p.rels)).cast("long").alias("length"),
                        F.array(*node_ids).alias("nodes"),
                    ),
                )
                sel.append(path.var)
            outs.append(df.select(*sel))
            named_env = {v: local[v] for v in named}
        out = outs[0]
        for o in outs[1:]:
            out = out.unionByName(o)
        if path.var is not None:
            named_env[path.var] = Binding("path")
            if path.shortest is not None:
                out = self._shortest_select(out, path)
        return out, named_env

    def _shortest_select(self, out: DataFrame, path: P.Path) -> DataFrame:
        """shortestPath: keep, per endpoint pair, only the minimum-length
        trail(s). 'one' keeps a single deterministic winner (shortest
        length, then lexicographically-least node sequence — Neo4j picks
        arbitrarily; we pin it); 'all' keeps every minimum-length trail.
        The window partitions on the endpoint ids, so each pair's
        candidate set is small (bounded by trails ≤ max_hops)."""
        from pyspark.sql.window import Window

        pv = path.var
        ends = [
            F.element_at(F.col(f"{pv}.nodes"), 1),
            F.element_at(F.col(f"{pv}.nodes"), -1),
        ]
        if path.shortest == "one":
            w = Window.partitionBy(*ends).orderBy(
                F.col(f"{pv}.length"), F.col(f"{pv}.nodes")
            )
            return (
                out.withColumn("__rn", F.row_number().over(w))
                .filter(F.col("__rn") == 1)
                .drop("__rn")
            )
        w = Window.partitionBy(*ends)
        return (
            out.withColumn("__minlen", F.min(F.col(f"{pv}.length")).over(w))
            .filter(F.col(f"{pv}.length") == F.col("__minlen"))
            .drop("__minlen")
        )

    def _expand_variable_length(self, path: P.Path) -> list[P.Path]:
        from itertools import product as iproduct

        ranges = []
        for rel in path.rels:
            if (rel.min_hops, rel.max_hops) == (1, 1):
                ranges.append([1])
            else:
                if rel.var is not None:
                    raise ValueError(
                        "cypher: binding a variable-length relationship "
                        "to a list is not supported"
                    )
                ranges.append(
                    list(range(rel.min_hops, rel.max_hops + 1))
                )
        if all(r == [1] for r in ranges):
            return [path]
        variants = []
        for lengths in iproduct(*ranges):
            nodes = [path.nodes[0]]
            rels = []
            for rel, node, ln in zip(path.rels, path.nodes[1:], lengths):
                for k in range(ln - 1):
                    rels.append(
                        P.RelPat(None, rel.rtype, rel.direction)
                    )
                    nodes.append(P.NodePat(None, None, {}))
                rels.append(P.RelPat(None, rel.rtype, rel.direction))
                nodes.append(node)
            variants.append(P.Path(nodes, rels))
        return variants

    @staticmethod
    def _same_rel(a: str, b: str) -> Column:
        """Identity of a stored relationship = (unordered endpoints,
        type) — symmetric matching may traverse one stored row in
        either direction."""
        return (
            (F.col(f"{a}.type") == F.col(f"{b}.type"))
            & (
                F.least(F.col(f"{a}.src"), F.col(f"{a}.dst"))
                == F.least(F.col(f"{b}.src"), F.col(f"{b}.dst"))
            )
            & (
                F.greatest(F.col(f"{a}.src"), F.col(f"{a}.dst"))
                == F.greatest(F.col(f"{b}.src"), F.col(f"{b}.dst"))
            )
        )

    def _compile_concrete(
        self, path: P.Path, env: dict[str, Binding], defer=None, start=None
    ):
        local: dict[str, Binding] = {}
        n0 = path.nodes[0]
        cont = (
            start is not None
            and n0.var is not None
            and n0.var in env
            and env[n0.var].kind == "node"
        )
        if cont:
            # CONTINUATION: the path's anchor is already bound in the
            # caller's frame — extend it with hops instead of compiling
            # standalone and equi-joining afterwards. This is the join
            # order a hand-written plan uses: the (usually filtered,
            # small) bound frame drives the edge expansion, rather than
            # expanding ALL nodes and pruning at the final join.
            df = self._apply_props(start, n0.var, n0.props)
            prebound = {
                v
                for v, b in env.items()
                if b.kind == "node" and v in start.columns
            }
            local[n0.var] = Binding("node", n0.label or env[n0.var].label)
        else:
            df = self._node_source(n0, env)
            prebound = set()
            local[self._nvar(n0)] = Binding("node", n0.label)
        prev = n0
        rel_cols: list[str] = []
        for i, (rel, node) in enumerate(zip(path.rels, path.nodes[1:])):
            if rel.var is None:
                self._anon_counter = getattr(self, "_anon_counter", 0) + 1
                rel.var = f"__rel{self._anon_counter}"
            # name-based, not assignment-based: the AST is cached across
            # compiles (parser.parse lru_cache), so a var assigned on a
            # previous run must still count as hidden
            hidden = rel.var.startswith("__rel")
            df = self._hop(df, prev, rel, node, env, local, prebound)
            rel_cols.append((rel.var, hidden))
            prev = node
        if defer is not None:
            # caller (one MATCH clause) applies uniqueness across ALL
            # its comma-separated paths, per Cypher scoping
            defer.extend(rel_cols)
            return df, local
        # Cypher relationship-uniqueness: one MATCH pattern never binds
        # the same relationship twice (e.g. the housemates 2-hop
        # (p)-[:B]->(h)<-[:B]-(mate) excludes mate = p).
        for i in range(len(rel_cols)):
            for j in range(i + 1, len(rel_cols)):
                df = df.filter(
                    ~self._same_rel(rel_cols[i][0], rel_cols[j][0])
                )
        df = df.drop(*[v for v, hidden in rel_cols if hidden])
        for v, hidden in rel_cols:
            if hidden:
                local.pop(v, None)
        return df, local

    def _nvar(self, n: P.NodePat) -> str:
        if n.var is None:
            self._anon_counter = getattr(self, "_anon_counter", 0) + 1
            n.var = f"__anon{self._anon_counter}"
        return n.var

    def _node_source(self, n: P.NodePat, env) -> DataFrame:
        var = self._nvar(n)
        label = n.label or (env[var].label if var in env else None)
        if label == "House":
            src = _house_nodes(self.g, self._keep)
        else:
            src = _person_nodes(self.g, self._keep, self._long)  # Person or unlabeled ⇒ person set
        df = src.select(F.col("__node").alias(var))
        return self._apply_props(df, var, n.props)

    def _apply_props(self, df: DataFrame, var: str, props) -> DataFrame:
        for key, expr in props.items():
            field = _PROP_MAP.get(key, key)
            df = df.filter(
                F.col(f"{var}.{field}") == self._scalar(expr, {})
            )
        return df

    def _hop(self, df, prev: P.NodePat, rel: P.RelPat, node: P.NodePat,
             env, local, prebound=frozenset()) -> DataFrame:
        pvar = self._nvar(prev)
        nvar = self._nvar(node)
        nlabel = node.label or (env[nvar].label if nvar in env else None)
        plabel = prev.label or local.get(pvar, Binding("node")).label \
            or (env[pvar].label if pvar in env else None)

        def _swap(e: DataFrame) -> DataFrame:
            return e.select(
                F.col("__dst").alias("__src"),
                F.col("__src").alias("__dst"),
                "__type",
            )

        rtypes = (
            None if rel.rtype is None
            else (rel.rtype if isinstance(rel.rtype, tuple) else (rel.rtype,))
        )
        # Each branch is (edge frame oriented prev->node, target nodes).
        branches: list[tuple[DataFrame, DataFrame]] = []
        if plabel == "House":
            # only BELONGS_TO touches a house, and only via its stored
            # person->house orientation — a typed/directed mismatch is
            # a legal pattern that matches nothing
            if (
                (rtypes is None or "BELONGS_TO" in rtypes)
                and rel.direction != "out"
                and nlabel in (None, "Person")
            ):
                branches.append(
                    (_swap(self._belongs_edges()), _person_nodes(self.g, self._keep, self._long))
                )
        else:
            person_target = nlabel in (None, "Person")
            house_target = nlabel in (None, "House")
            if rtypes is not None:
                person_types = tuple(t for t in rtypes if t != "BELONGS_TO")
                person_person = person_target and bool(person_types)
                belongs = house_target and "BELONGS_TO" in rtypes
                ptype_arg = person_types if len(person_types) != 1 else person_types[0]
            else:
                person_person, belongs = person_target, house_target
                ptype_arg = None
            if person_person:
                e = self._person_edges(
                    ptype_arg, directed=rel.direction != "any"
                )
                if rel.direction == "in":
                    e = _swap(e)
                branches.append((e, _person_nodes(self.g, self._keep, self._long)))
            if belongs and rel.direction != "in":
                # person -> house; a person is never BELONGS_TO's dst
                branches.append((self._belongs_edges(), _house_nodes(self.g, self._keep)))
        if not branches:
            # legal-but-unsatisfiable hop (e.g. wrong BELONGS_TO
            # direction): zero rows, not an error — like Neo4j
            target = (
                _house_nodes(self.g, self._keep) if nlabel == "House"
                else _person_nodes(self.g, self._keep, self._long)
            )
            branches.append((self._belongs_edges().limit(0), target))

        # path revisits a bound var: (a)-(b)-(a), or (in continuation)
        # targets a var bound by an earlier clause already in the frame
        cycle = nvar in local or nvar in prebound
        outs = []
        for e, target in branches:
            j = df.join(e, F.col(f"{pvar}.id") == F.col("__src"))
            if cycle:
                # bind back to the existing column instead of joining a
                # second copy (which would be an ambiguous self-join)
                j = j.filter(F.col("__dst") == F.col(f"{nvar}.id"))
            else:
                t = target.select(F.col("__node").alias(nvar))
                t = self._apply_props(t, nvar, node.props)
                j = j.join(t, F.col("__dst") == F.col(f"{nvar}.id"))
            if rel.var:
                j = j.withColumn(
                    rel.var,
                    _rel_struct(F.col("__src"), F.col("__dst"), F.col("__type")),
                )
            outs.append(j.drop("__src", "__dst", "__type"))
        out = outs[0]
        for o in outs[1:]:
            out = out.unionByName(o)
        if not cycle:
            local[nvar] = Binding("node", nlabel)
        if rel.var:
            local[rel.var] = Binding("rel")
        return out

    # ---------------- clause pipeline ----------------

    def run(self, q: P.Query) -> DataFrame:
        self._keep, self._long = _analyze_query(q)
        return self._run_clauses(None, {}, q.clauses)[0]

    def _run_clauses(
        self, df: DataFrame | None, env: dict, clauses: list
    ) -> tuple[DataFrame, dict]:
        for cl in clauses:
            if isinstance(cl, P.MatchClause):
                df, env = self._match(df, env, cl)
            elif isinstance(cl, P.CallClause):
                df, env = self._call_sub(df, env, cl)
            elif isinstance(cl, P.WithClause):
                df, env = self._project(df, env, cl.items)
                if cl.distinct:
                    # WITH DISTINCT dedups the projected rows before
                    # ORDER/SKIP/LIMIT/WHERE (Cypher evaluation order)
                    df = df.distinct()
                if cl.order_by:
                    # after WITH, node vars are still structs: Prop
                    # refs resolve as struct fields, aliases as columns
                    df = df.orderBy(*[
                        self._expr_or_var(o.expr, env).asc() if o.asc
                        else self._expr_or_var(o.expr, env).desc()
                        for o in cl.order_by
                    ])
                if cl.skip is not None:
                    df = df.offset(cl.skip)
                if cl.limit is not None:
                    df = df.limit(cl.limit)
                if cl.where is not None:
                    df, w = self._rewrite_subs(df, env, cl.where)
                    df = df.filter(self._expr(w, env))
            elif isinstance(cl, P.UnwindClause):
                df, env = self._unwind(df, env, cl)
            elif isinstance(cl, P.ReturnClause):
                df = self._return(df, env, cl)
        return df, env

    def _call_sub(self, df, env, cl: P.CallClause):
        """CALL { [WITH imports] ... RETURN ... } — a subquery executed
        per input row, lowered to set-at-a-time plans:

        - uncorrelated (no import WITH): compile standalone, cross join
          onto the outer frame (Cypher runs it once; the cross join
          replays the one result per outer row);
        - correlated: seed the subquery with the DISTINCT imported
          bindings (duplicate outer rows share one execution — results
          are identical per duplicate, and the join-back restores
          multiplicity), compile the body as a continuation, then
          equi-join the keyed result back on the imported variables;
        - inner ORDER BY/SKIP/LIMIT = per-input-row top-k, lowered to a
          row_number window partitioned by the imported keys — never a
          global limit;
        - a pure-aggregate subquery (no grouping items) returns exactly
          one row per input even with zero matches (Cypher): the keyed
          aggregate is re-seeded with a left join and count/sum/collect
          backfill 0/0/[] (min/max/avg stay NULL over empty, as in
          Cypher).

        Deviation (documented): input rows where an imported binding is
        NULL drop at the join-back (struct equality is null-rejecting);
        Cypher would keep them and run the subquery with NULL imports.
        """
        sub = cl.query
        ret = sub.clauses[-1]
        assert isinstance(ret, P.ReturnClause)
        if not cl.imports:
            inner = Compiler(self.g, self.params)
            inner._keep = self._keep  # pruning pre-pass walked the subquery
            inner._long = self._long  # frames must agree on the id type
            idf, ienv = inner._run_clauses(None, {}, sub.clauses[:-1])
            if idf is None:  # bodyless CALL { RETURN ... }
                idf = self.g.persons.sparkSession.range(1)
            idf = inner._return(idf, ienv, ret)
            items = inner._expand_star(ret.items, ienv)
            new_env = {
                inner._item_name(it): inner._binding_of(it.expr, ienv)
                for it in items
            }
            if df is None:
                return idf, new_env
            for name in new_env:
                if name in env:
                    raise ValueError(
                        f"cypher: CALL returns {name!r} already in scope"
                    )
            if cl.optional:
                # OPTIONAL CALL: an empty subquery result keeps every
                # outer row, null-extended (left join on true)
                return (
                    df.join(idf, F.lit(True), "left"),
                    {**env, **new_env},
                )
            return df.crossJoin(idf), {**env, **new_env}

        for v in cl.imports:
            if v not in env:
                raise ValueError(
                    f"cypher: CALL imports unknown variable {v!r}"
                )
        if df is None:
            raise ValueError("cypher: CALL import WITH needs a prior MATCH")
        seed = df.select(*cl.imports).distinct()
        env_seed = {v: env[v] for v in cl.imports}
        idf, ienv = self._run_clauses(seed, dict(env_seed), sub.clauses[:-1])

        items = self._expand_star(ret.items, ienv)
        for it in items:
            name = self._item_name(it)
            if name in cl.imports:
                raise ValueError(
                    f"cypher: CALL must not return imported variable "
                    f"{name!r} (Cypher rule; it is already in scope)"
                )
            if name in env:
                raise ValueError(
                    f"cypher: CALL returns {name!r} already in scope"
                )
        has_agg = any(self._is_agg(it.expr) for it in items)
        key_cols = [F.col(v) for v in cl.imports]
        new_env: dict[str, Binding] = {}
        if has_agg:
            keys, aggs = list(key_cols), []
            grouping_items = False
            for it in items:
                name = self._item_name(it)
                if self._is_agg(it.expr):
                    aggs.append(self._agg(it.expr, ienv).alias(name))
                    new_env[name] = Binding("value")
                else:
                    grouping_items = True
                    keys.append(self._expr_or_var(it.expr, ienv).alias(name))
                    new_env[name] = self._binding_of(it.expr, ienv)
            result = idf.groupBy(*keys).agg(*aggs)
            if not grouping_items:
                # one row per input, even over zero matches
                fills = {}
                for it in items:
                    if not self._is_agg(it.expr):
                        continue
                    name = self._item_name(it)
                    if it.expr.name == "count":
                        fills[name] = F.lit(0).cast("long")
                    elif it.expr.name == "sum":
                        fills[name] = F.lit(0).cast("long")
                    elif it.expr.name == "collect":
                        fills[name] = F.array()
                result = seed.join(result, cl.imports, "left")
                for name, fill in fills.items():
                    result = result.withColumn(
                        name, F.coalesce(F.col(name), fill)
                    )
        else:
            cols = list(key_cols)
            for it in items:
                name = self._item_name(it)
                cols.append(self._expr_or_var(it.expr, ienv).alias(name))
                new_env[name] = self._binding_of(it.expr, ienv)
            # inner ORDER BY may reference subquery pattern variables
            # that the RETURN projects away (Cypher scoping) — compute
            # the sort keys as hidden columns in the same projection,
            # while the full subquery scope is still visible
            item_map = {self._item_name(it): it.expr for it in items}
            ord_cols = []
            if not ret.distinct:  # DISTINCT must not see hidden keys
                for i, o in enumerate(ret.order_by):
                    oe = o.expr
                    if isinstance(oe, P.Var) and oe.name in item_map:
                        oe = item_map[oe.name]  # output alias reference
                    ord_cols.append(
                        self._expr_or_var(oe, ienv).alias(f"__ord{i}")
                    )
            result = idf.select(*cols, *ord_cols)
        if ret.distinct:
            result = result.distinct()
        if ret.order_by or ret.limit is not None or ret.skip is not None:
            from pyspark.sql import Window

            if has_agg or ret.distinct:
                order_env = {**env_seed, **new_env}
                order = [
                    self._post_order_col(o.expr, order_env).asc() if o.asc
                    else self._post_order_col(o.expr, order_env).desc()
                    for o in ret.order_by
                ] or [F.lit(1).asc()]
            else:
                order = [
                    F.col(f"__ord{i}").asc() if o.asc
                    else F.col(f"__ord{i}").desc()
                    for i, o in enumerate(ret.order_by)
                ] or [F.lit(1).asc()]
            w = Window.partitionBy(*[F.col(v) for v in cl.imports]).orderBy(
                *order
            )
            result = result.withColumn("__rn", F.row_number().over(w))
            lo = ret.skip or 0
            cond = F.col("__rn") > F.lit(lo)
            if ret.limit is not None:
                cond = cond & (F.col("__rn") <= F.lit(lo + ret.limit))
            result = result.filter(cond).drop("__rn")
        result = result.drop(*[c for c in result.columns
                               if c.startswith("__ord")])
        out = df.join(result, cl.imports, "left" if cl.optional else "inner")
        return out, {**env, **new_env}

    def _unwind(self, df, env, cl: P.UnwindClause):
        """UNWIND list AS x: one row per element. A $param/literal list
        becomes an inline exploded array; a bound list column (e.g. a
        collect() result) explodes in place."""
        if isinstance(cl.expr, (P.Param, P.ListLit)):
            if isinstance(cl.expr, P.Param):
                values = list(self.params[cl.expr.name])
            else:
                values = [li.value for li in cl.expr.items]
            col = F.explode(F.lit(values)).alias(cl.alias)
        else:
            col = F.explode(self._expr_or_var(cl.expr, env)).alias(cl.alias)
        if df is None:
            spark = self.g.persons.sparkSession
            df = spark.range(1).select(col)
        else:
            # the source list stays in scope after UNWIND (Cypher rule)
            df = df.select("*", col)
        env = {**env, cl.alias: Binding("value")}
        return df, env

    def _split_pattern_preds(self, expr):
        """AND-decompose a WHERE tree into (plain predicates, pattern
        predicates). Pattern predicates and EXISTS{} subqueries are
        extracted at top-level conjuncts (the standard decomposable
        position) and become semi/anti joins; anything else — including
        subqueries under OR or in comparisons — stays a plain expression
        and is resolved to a computed column by _rewrite_subs."""
        plain: list = []
        # (path, sub-WHERE or None, negated)
        pats: list[tuple[P.Path, object, bool]] = []

        def walk(e):
            if isinstance(e, P.BinOp) and e.op == "AND":
                walk(e.left)
                walk(e.right)
            elif isinstance(e, P.PatternPred):
                pats.append((e.path, None, False))
            elif isinstance(e, P.ExistsSub):
                pats.append((e.path, e.where, False))
            elif isinstance(e, P.Not) and isinstance(e.expr, P.PatternPred):
                pats.append((e.expr.path, None, True))
            elif isinstance(e, P.Not) and isinstance(e.expr, P.ExistsSub):
                pats.append((e.expr.path, e.expr.where, True))
            else:
                plain.append(e)

        walk(expr)
        return plain, pats

    def _rewrite_subs(self, df, env, e):
        """Replace EXISTS{}/COUNT{}/pattern-comprehension nodes inside an
        expression tree with references to computed columns (boolean flag
        / per-key count / collected list), joining the subquery result
        onto df. Returns (df', expr')."""
        if isinstance(e, (P.ExistsSub, P.CountSub)):
            df, col = self._sub_column(df, env, e)
            return df, P.Var(col)
        if isinstance(e, P.PatternComp):
            df, col = self._pattern_comp_column(df, env, e)
            return df, P.Var(col)
        if isinstance(e, P.BinOp):
            df, left = self._rewrite_subs(df, env, e.left)
            df, right = self._rewrite_subs(df, env, e.right)
            return df, P.BinOp(e.op, left, right)
        if isinstance(e, P.Not):
            df, x = self._rewrite_subs(df, env, e.expr)
            return df, P.Not(x)
        if isinstance(e, P.Func):
            args = []
            for a in e.args:
                df, a2 = self._rewrite_subs(df, env, a)
                args.append(a2)
            return df, P.Func(e.name, args, e.distinct)
        if isinstance(e, P.CaseWhen):
            whens = []
            for c, v in e.whens:
                df, c2 = self._rewrite_subs(df, env, c)
                df, v2 = self._rewrite_subs(df, env, v)
                whens.append((c2, v2))
            df, d2 = self._rewrite_subs(df, env, e.default)
            return df, P.CaseWhen(whens, d2)
        return df, e

    def _sub_column(self, df, env, e):
        """One EXISTS{}/COUNT{} subquery ⇒ one aggregated-left-join:
        the subquery compiles standalone, aggregates per bound-variable
        key (distinct for EXISTS, count for COUNT), and joins back —
        never multiplying rows, the decorrelated plan shape."""
        sub, local = self.compile_path(e.path, env)
        if e.where is not None:
            sub = sub.filter(self._expr(e.where, {**env, **local}))
        shared = [
            v for v in local if v in env and local[v].kind == "node"
        ]
        if not shared:
            raise ValueError(
                "cypher: subquery must reference a bound variable"
            )
        self._anon_counter = getattr(self, "_anon_counter", 0) + 1
        col = f"__sub{self._anon_counter}"
        keys = [F.col(f"{v}.id").alias(f"__k_{v}") for v in shared]
        cond = None
        for v in shared:
            c = F.col(f"{v}.id") == F.col(f"__k_{v}")
            cond = c if cond is None else (cond & c)
        if isinstance(e, P.ExistsSub):
            agg = sub.select(*keys).distinct().withColumn(col, F.lit(True))
            fill = F.lit(False)
        else:
            agg = sub.groupBy(*keys).agg(
                F.count(F.lit(1)).cast("long").alias(col)
            )
            fill = F.lit(0).cast("long")
        df = (
            df.join(agg, cond, "left")
            .withColumn(col, F.coalesce(F.col(col), fill))
            .drop(*[f"__k_{v}" for v in shared])
        )
        return df, col

    def _pattern_comp_column(self, df, env, e: P.PatternComp):
        """`[(a)-[:T]-(b) | expr]` ⇒ per-bound-key collect_list joined
        back (one aggregated left join; unmatched keys get []). The
        list is SORTED — Neo4j leaves comprehension order unspecified,
        the engine pins it for determinism, same as collect()."""
        sub, local = self.compile_path(e.path, env)
        inner_env = {**env, **local}
        if e.where is not None:
            sub = sub.filter(self._expr(e.where, inner_env))
        shared = [v for v in local if v in env and local[v].kind == "node"]
        if not shared:
            raise ValueError(
                "cypher: pattern comprehension must reference a bound variable"
            )
        self._anon_counter = getattr(self, "_anon_counter", 0) + 1
        col = f"__sub{self._anon_counter}"
        keys = [F.col(f"{v}.id").alias(f"__k_{v}") for v in shared]
        agg = (
            sub.withColumn("__pc_val", self._scalar(e.map_expr, inner_env))
            .groupBy(*keys)
            .agg(F.sort_array(F.collect_list("__pc_val")).alias(col))
        )
        cond = None
        for v in shared:
            c = F.col(f"{v}.id") == F.col(f"__k_{v}")
            cond = c if cond is None else (cond & c)
        return (
            df.join(agg, cond, "left")
            .withColumn(col, F.coalesce(F.col(col), F.array()))
            .drop(*[f"__k_{v}" for v in shared])
        ), col

    def _apply_pattern_pred(
        self, df, env, path: P.Path, negated: bool, where=None
    ):
        """`WHERE [NOT] (a)-[:T]-(b)` / `WHERE [NOT] EXISTS {...}` ⇒
        semi/anti join on the bound endpoints — the existential never
        multiplies rows."""
        sub, local = self.compile_path(path, env)
        if where is not None:
            sub = sub.filter(self._expr(where, {**env, **local}))
        shared = [v for v in local if v in env and local[v].kind == "node"]
        if not shared:
            raise ValueError(
                "cypher: pattern predicate must reference bound variables"
            )
        keys = sub.select(
            *[F.col(f"{v}.id").alias(f"__k_{v}") for v in shared]
        ).distinct()
        cond = None
        for v in shared:
            c = F.col(f"{v}.id") == F.col(f"__k_{v}")
            cond = c if cond is None else (cond & c)
        return df.join(
            keys, cond, "left_anti" if negated else "left_semi"
        )

    def _match(self, df, env, cl: P.MatchClause):
        # relationship-uniqueness scope is the whole MATCH clause, so
        # non-optional concrete paths defer their rel columns here and
        # the pairwise filters run after all comma-paths are joined
        # (variable-length paths keep per-path uniqueness: their hidden
        # rel columns are projected away inside the union)
        clause_rels: list[tuple[str, bool]] = []
        for path in cl.paths:
            defer = None if cl.optional else clause_rels
            first = path.nodes[0].var
            if (
                df is not None
                and not cl.optional
                and path.var is None
                and first is not None
                and first in env
                and env[first].kind == "node"
                and first in df.columns
            ):
                # continuation: extend the bound frame directly (see
                # _compile_concrete) — no standalone compile, no re-join
                df, local = self.compile_path(path, env, defer, start=df)
                env = {
                    **env,
                    **{k: v for k, v in local.items() if k not in env},
                }
                continue
            sub, local = self.compile_path(path, env, defer)
            if cl.optional and cl.where is not None:
                sub = sub.filter(self._expr(cl.where, {**env, **local}))
            shared = [v for v in local if v in env]
            if df is None:
                df = sub
            elif shared:
                cond = None
                for v in shared:
                    # equality on node identity; drop sub's copy after
                    c = F.col(f"{v}.id") == F.col(f"__r_{v}.id")
                    cond = c if cond is None else (cond & c)
                renamed = sub
                for v in shared:
                    renamed = renamed.withColumnRenamed(v, f"__r_{v}")
                how = "left" if cl.optional else "inner"
                df = df.join(renamed, cond, how)
                df = df.drop(*[f"__r_{v}" for v in shared])
            elif cl.optional:
                # Cypher OPTIONAL MATCH with no shared vars is a left
                # join on TRUE: rows survive with nulls when the
                # optional side is empty (crossJoin would drop them)
                df = df.join(sub, F.lit(True), "left")
            else:
                df = df.crossJoin(sub)
            env = {**env, **local}
        for i in range(len(clause_rels)):
            for j in range(i + 1, len(clause_rels)):
                df = df.filter(
                    ~self._same_rel(clause_rels[i][0], clause_rels[j][0])
                )
        hidden = [v for v, h in clause_rels if h]
        if hidden:
            df = df.drop(*hidden)
            env = {k: v for k, v in env.items() if k not in hidden}
        if not cl.optional and cl.where is not None:
            plain, pats = self._split_pattern_preds(cl.where)
            for e in plain:
                df, e = self._rewrite_subs(df, env, e)
                df = df.filter(self._expr(e, env))
            for path, where, negated in pats:
                df = self._apply_pattern_pred(df, env, path, negated, where)
        return df, env

    def _is_agg(self, e) -> bool:
        return isinstance(e, P.Func) and e.name in P.AGG_FUNCS

    def _item_name(self, it: P.Item) -> str:
        if it.alias:
            return it.alias
        e = it.expr
        if isinstance(e, P.Var):
            return e.name
        if isinstance(e, P.Prop):
            return f"{e.var}.{e.name}"
        raise ValueError("cypher: complex projection items need AS aliases")

    def _project(self, df, env, items: list[P.Item]):
        items = self._expand_star(items, env)
        if any(
            isinstance(n, (P.ExistsSub, P.CountSub, P.PatternComp))
            for it in items
            for n in _walk_expr(it.expr)
        ):
            rewritten = []
            for it in items:
                df, e2 = self._rewrite_subs(df, env, it.expr)
                rewritten.append(P.Item(e2, it.alias))
            items = rewritten
        has_agg = any(self._is_agg(it.expr) for it in items)
        new_env: dict[str, Binding] = {}
        if not has_agg:
            cols = []
            for it in items:
                name = self._item_name(it)
                cols.append(self._expr_or_var(it.expr, env).alias(name))
                new_env[name] = self._binding_of(it.expr, env)
            return df.select(*cols), new_env
        keys, aggs = [], []
        for it in items:
            name = self._item_name(it)
            if self._is_agg(it.expr):
                aggs.append(self._agg(it.expr, env).alias(name))
                new_env[name] = Binding("value")
            else:
                keys.append(self._expr_or_var(it.expr, env).alias(name))
                new_env[name] = self._binding_of(it.expr, env)
        grouped = df.groupBy(*keys) if keys else df.groupBy()
        return grouped.agg(*aggs), new_env

    def _expand_star(self, items: list[P.Item], env) -> list[P.Item]:
        """RETURN * / WITH * ⇒ every named binding in scope, in binding
        order (Cypher's rule), followed by any explicit extra items."""
        if not any(isinstance(it.expr, P.Star) for it in items):
            return items
        out: list[P.Item] = []
        for it in items:
            if isinstance(it.expr, P.Star):
                out.extend(
                    P.Item(P.Var(v), None)
                    for v in env
                    if not v.startswith("__")
                )
            else:
                out.append(it)
        return out

    def _binding_of(self, e, env) -> Binding:
        if isinstance(e, P.Var) and e.name in env:
            return env[e.name]
        return Binding("value")

    def _node_arg(self, e: P.Func, env) -> str:
        """Validate a node-variable argument (properties/keys/map
        projection targets) and return its name."""
        if not e.args or not isinstance(e.args[0], P.Var):
            raise ValueError(f"cypher: {e.name}() needs a node variable")
        var = e.args[0].name
        if env.get(var, Binding("value")).kind != "node":
            raise ValueError(
                f"cypher: {e.name}() argument {var!r} is not a node"
            )
        return var

    def _map_proj(self, e: P.MapProj, env) -> Column:
        """`n {.prop, key: expr, .*}` → a named struct. `.prop` pulls a
        node property, `key: expr` evaluates in the outer scope, `.*`
        expands every property field (NULL-filled for absent ones — see
        properties() deviation note)."""
        if env.get(e.var, Binding("value")).kind != "node":
            raise ValueError(
                f"cypher: map projection target {e.var!r} is not a node"
            )
        rev = {v: k for k, v in _PROP_MAP.items()}
        cols = []
        for ent in e.entries:
            if ent[0] == "prop":
                field = _PROP_MAP.get(ent[1], ent[1])
                cols.append(F.col(f"{e.var}.{field}").alias(ent[1]))
            elif ent[0] == "expr":
                cols.append(self._scalar(ent[2], env).alias(ent[1]))
            else:  # .*
                fields = list(_PERSON_FIELDS) + _extra_person_fields(self.g)
                cols.extend(
                    F.col(f"{e.var}.{f_}").alias(rev.get(f_, f_))
                    for f_ in fields
                )
        return F.struct(*cols)

    @staticmethod
    def _pct_arg(e: P.Func) -> float:
        if len(e.args) != 2 or not isinstance(e.args[1], P.Lit):
            raise ValueError(
                f"cypher: {e.name}(expr, p) needs a literal percentile"
            )
        p = float(e.args[1].value)
        if not 0.0 <= p <= 1.0:
            raise ValueError("cypher: percentile must be in [0, 1]")
        return p

    def _agg(self, e: P.Func, env) -> Column:
        arg = self._expr_or_var(e.args[0], env) if e.args else None
        if e.name == "count":
            if e.distinct and arg is not None:
                return F.count_distinct(arg).cast("long")
            c = F.count(arg) if arg is not None else F.count(F.lit(1))
            return c.cast("long")
        if e.name == "collect":
            # Cypher collect() order is unspecified; sort for determinism
            coll = F.collect_set(arg) if e.distinct else F.collect_list(arg)
            return F.sort_array(coll)
        if e.name == "percentilecont":
            # exact interpolated percentile (Neo4j percentileCont);
            # Spark's percentile() aggregate is the same definition
            return F.percentile(arg, F.lit(self._pct_arg(e)))
        if e.name == "percentiledisc":
            # nearest-rank percentile: index ceil(p·n) into the sorted
            # collected values. Collect-based — per-group cardinality
            # must fit an executor (same bound as collect()); Spark has
            # no built-in exact percentile_disc aggregate.
            p = self._pct_arg(e)
            lst = F.sort_array(F.collect_list(arg))
            idx = F.greatest(
                F.lit(1), F.ceil(F.size(lst) * F.lit(p)).cast("int")
            )
            return F.element_at(lst, idx)
        if e.name in ("stdev", "stdevp"):
            fn = F.stddev_samp if e.name == "stdev" else F.stddev_pop
            return fn(arg)
        if e.name == "sum" and e.distinct:
            return F.sum_distinct(arg)
        if e.name == "avg" and e.distinct:
            raise ValueError("cypher: avg(DISTINCT) is not supported")
        # min/max are DISTINCT-invariant
        fn = {"sum": F.sum, "min": F.min, "max": F.max, "avg": F.avg}[e.name]
        return fn(arg)

    def _return(self, df, env, cl: P.ReturnClause) -> DataFrame:
        has_agg = any(self._is_agg(it.expr) for it in cl.items)
        if cl.order_by and not has_agg and not cl.distinct:
            # order while source vars are still in scope; an ORDER BY
            # name that is an output alias (not a bound variable)
            # resolves to the aliased expression (Cypher lets ORDER BY
            # see both scopes; bound variables win)
            item_map = {
                it.alias: it.expr for it in cl.items if it.alias
            }

            def _src(oe):
                if (
                    isinstance(oe, P.Var)
                    and oe.name not in env
                    and oe.name in item_map
                ):
                    oe = item_map[oe.name]
                return self._expr_or_var(oe, env)

            df = df.orderBy(*[
                _src(o.expr).asc() if o.asc else _src(o.expr).desc()
                for o in cl.order_by
            ])
            df, env = self._project(df, env, cl.items)
        else:
            # Cypher evaluation order: project → DISTINCT → ORDER BY →
            # LIMIT (distinct after a sort would scramble it again)
            df, env = self._project(df, env, cl.items)
            if cl.distinct:
                df = df.distinct()
            if cl.order_by:
                df = df.orderBy(*[
                    self._post_order_col(o.expr, env).asc() if o.asc
                    else self._post_order_col(o.expr, env).desc()
                    for o in cl.order_by
                ])
        if cl.skip is not None:
            df = df.offset(cl.skip)
        if cl.limit is not None:
            df = df.limit(cl.limit)
        return df

    def _post_order_col(self, e, env=None) -> Column:
        # after projection, ORDER BY refers to output columns by name;
        # a Prop whose var survived as a node struct resolves as a
        # field, otherwise as the literal dotted output column
        if isinstance(e, P.Var):
            return F.col(e.name)
        if isinstance(e, P.Prop):
            if env is not None and env.get(e.var, Binding("value")).kind == "node":
                field = _PROP_MAP.get(e.name, e.name)
                return F.col(f"{e.var}.{field}")
            return F.col(f"`{e.var}.{e.name}`")
        raise ValueError("cypher: ORDER BY after aggregation must use aliases")

    # ---------------- expressions ----------------

    def _expr_or_var(self, e, env) -> Column:
        if isinstance(e, P.Var):
            if e.name in self._lambda_vars:
                return self._lambda_vars[e.name]
            return F.col(e.name)
        return self._expr(e, env)

    def _expr(self, e, env) -> Column:
        if isinstance(e, P.Lit):
            return F.lit(e.value)
        if isinstance(e, P.Param):
            if e.name not in self.params:
                raise KeyError(f"cypher: missing parameter ${e.name}")
            return e  # handled by IN / scalar contexts below
        if isinstance(e, P.ListLit):
            return e  # only valid on the right of IN
        if isinstance(e, P.Var):
            if e.name in self._lambda_vars:
                return self._lambda_vars[e.name]
            return F.col(e.name)
        if isinstance(e, P.Prop):
            field = _PROP_MAP.get(e.name, e.name)
            if e.var in self._lambda_vars:
                return self._lambda_vars[e.var][field]
            return F.col(f"{e.var}.{field}")
        if isinstance(e, P.MapLit):
            return F.struct(
                *[self._scalar(x, env).alias(k) for k, x in e.entries]
            )
        if isinstance(e, P.MapProj):
            return self._map_proj(e, env)
        if isinstance(e, P.FieldAccess):
            return self._scalar(e.expr, env)[e.name]
        if isinstance(e, P.Subscript):
            # Cypher 0-based, NULL out of range (try_element_at — ANSI
            # element_at would throw); negative counts from the end,
            # which element_at's negative indexing already does
            col = self._list_col(e.expr, env)
            idx = self._scalar(e.index, env).cast("int")
            adj = F.when(idx >= 0, idx + 1).otherwise(idx)
            return F.try_element_at(col, adj)
        if isinstance(e, P.Slice):
            # 0-based end-exclusive; negative bounds count from the end
            col = self._list_col(e.expr, env)
            n = F.size(col)
            lo = (
                F.lit(0) if e.lo is None
                else self._scalar(e.lo, env).cast("int")
            )
            hi = n if e.hi is None else self._scalar(e.hi, env).cast("int")
            lo = F.when(lo < 0, n + lo).otherwise(lo)
            hi = F.when(hi < 0, n + hi).otherwise(hi)
            return F.slice(col, lo + 1, F.greatest(hi - lo, F.lit(0)))
        if isinstance(e, P.ListComp):
            col = self._list_col(e.src, env)
            if e.where is not None:
                col = F.filter(
                    col,
                    lambda x: self._with_lambda({e.var: x}, e.where, env),
                )
            if e.map_expr is not None:
                col = F.transform(
                    col,
                    lambda x: self._with_lambda({e.var: x}, e.map_expr, env),
                )
            return col
        if isinstance(e, P.QuantPred):
            col = self._list_col(e.src, env)

            def pred(x):
                return self._with_lambda({e.var: x}, e.where, env)

            if e.kind == "any":
                return F.exists(col, pred)
            if e.kind == "all":
                return F.forall(col, pred)
            if e.kind == "none":
                return ~F.exists(col, pred)
            return F.size(F.filter(col, pred)) == F.lit(1)  # single
        if isinstance(e, P.ReduceExpr):
            col = self._list_col(e.src, env)
            init = self._scalar(e.init, env)
            if isinstance(e.init, P.Lit) and isinstance(e.init.value, int):
                # integer arithmetic in the engine is BIGINT; aggregate()
                # requires the init to match the merge lambda's type
                init = init.cast("long")
            return F.aggregate(
                col,
                init,
                lambda acc, x: self._with_lambda(
                    {e.acc: acc, e.var: x}, e.body, env
                ),
            )
        if isinstance(e, P.Func):
            if e.name == "tolower":
                return F.lower(self._scalar(e.args[0], env))
            if e.name == "toupper":
                return F.upper(self._scalar(e.args[0], env))
            if e.name in ("id", "elementid"):
                # elementId() is Neo4j 5's successor to id(); both map
                # to the engine's string node id (under the long-id fast
                # path the struct field is BIGINT — cast back so the
                # visible contract, incl. lexicographic id() ordering,
                # is unchanged)
                v = e.args[0]
                c = F.col(f"{v.name}.id")
                return c.cast("string") if self._long else c
            if e.name == "labels":
                # single-label graph: labels(n) is a 1-element list
                v = e.args[0]
                return F.array(F.col(f"{v.name}.label"))
            if e.name == "type":
                v = e.args[0]
                return F.col(f"{v.name}.type")
            if e.name == "substring":
                # Cypher substring(s, start[, length]) is 0-based;
                # Spark substr is 1-based
                s = self._scalar(e.args[0], env)
                start = self._scalar(e.args[1], env) + F.lit(1)
                if len(e.args) > 2:
                    return F.substr(s, start, self._scalar(e.args[2], env))
                return F.substr(s, start)
            if e.name == "replace":
                return F.replace(
                    self._scalar(e.args[0], env),
                    self._scalar(e.args[1], env),
                    self._scalar(e.args[2], env),
                )
            if e.name in ("trim", "ltrim", "rtrim", "reverse"):
                fn = {
                    "trim": F.trim, "ltrim": F.ltrim,
                    "rtrim": F.rtrim, "reverse": F.reverse,
                }[e.name]
                return fn(self._scalar(e.args[0], env))
            if e.name in ("left", "right"):
                fn = F.left if e.name == "left" else F.right
                return fn(
                    self._scalar(e.args[0], env),
                    self._scalar(e.args[1], env),
                )
            if e.name == "split":
                # Cypher splits on a LITERAL delimiter; Spark's split
                # takes a regex, so the delimiter must be a literal we
                # can escape at compile time
                import re as _re

                delim = e.args[1]
                if not isinstance(delim, P.Lit):
                    raise ValueError(
                        "cypher: split() delimiter must be a literal"
                    )
                return F.split(
                    self._scalar(e.args[0], env),
                    _re.escape(delim.value),
                )
            if e.name == "tostring":
                return self._scalar(e.args[0], env).cast("string")
            if e.name == "tointeger":
                return self._scalar(e.args[0], env).cast("long")
            if e.name == "tofloat":
                return self._scalar(e.args[0], env).cast("double")
            if e.name == "range":
                # both Cypher range() and Spark sequence() are
                # inclusive on both ends
                return F.sequence(
                    *[self._scalar(a, env).cast("long") for a in e.args]
                )
            if e.name == "head":
                return F.element_at(self._expr_or_var(e.args[0], env), 1)
            if e.name == "last":
                return F.element_at(self._expr_or_var(e.args[0], env), -1)
            if e.name == "length":
                # length(p) on a bound path = hop count
                v = e.args[0]
                return F.col(f"{v.name}.length")
            if e.name == "nodes":
                # nodes(p) = the node-id sequence (deviation: ids, not
                # full node objects — see compile_path docstring)
                v = e.args[0]
                return F.col(f"{v.name}.nodes")
            if e.name == "properties":
                # properties(n) → struct of all property fields.
                # Deviation from Neo4j (documented): absent properties
                # appear as NULL struct fields rather than missing map
                # keys — a struct's shape is static per column.
                var = self._node_arg(e, env)
                rev = {v: k for k, v in _PROP_MAP.items()}
                fields = list(_PERSON_FIELDS) + _extra_person_fields(self.g)
                return F.struct(*[
                    F.col(f"{var}.{f_}").alias(rev.get(f_, f_))
                    for f_ in fields
                ])
            if e.name == "keys":
                # keys(n) → property names with non-null values, in
                # schema order (Neo4j's key order is unspecified)
                var = self._node_arg(e, env)
                rev = {v: k for k, v in _PROP_MAP.items()}
                fields = list(_PERSON_FIELDS) + _extra_person_fields(self.g)
                return F.array_compact(F.array(*[
                    F.when(
                        F.col(f"{var}.{f_}").isNotNull(),
                        F.lit(rev.get(f_, f_)),
                    )
                    for f_ in fields
                ]))
            if e.name == "exists":
                # legacy exists(n.prop) ≡ n.prop IS NOT NULL; a pattern
                # argument would have parsed as PatternPred instead
                return self._expr_or_var(e.args[0], env).isNotNull()
            if e.name == "isnull":
                return self._expr_or_var(e.args[0], env).isNull()
            if e.name == "isnotnull":
                return self._expr_or_var(e.args[0], env).isNotNull()
            if e.name == "coalesce":
                return F.coalesce(
                    *[self._scalar(a, env) for a in e.args]
                )
            if e.name == "nullif":
                return F.nullif(
                    self._scalar(e.args[0], env),
                    self._scalar(e.args[1], env),
                )
            if e.name == "abs":
                return F.abs(self._scalar(e.args[0], env))
            if e.name in ("floor", "ceil", "sqrt", "sign", "exp",
                          "log", "log10"):
                fn = {
                    "floor": F.floor, "ceil": F.ceil, "sqrt": F.sqrt,
                    "sign": F.signum, "exp": F.exp, "log": F.log,
                    "log10": F.log10,
                }[e.name]
                c = fn(self._scalar(e.args[0], env))
                # Cypher floor/ceil return FLOAT; Spark returns LONG
                if e.name in ("floor", "ceil"):
                    c = c.cast("double")
                return c
            if e.name == "round":
                x = self._scalar(e.args[0], env)
                if len(e.args) > 1:
                    if not isinstance(e.args[1], P.Lit):
                        raise ValueError(
                            "cypher: round() precision must be a literal"
                        )
                    return F.round(x, int(e.args[1].value))
                return F.round(x, 0)
            if e.name == "toboolean":
                return self._scalar(e.args[0], env).cast("boolean")
            if e.name == "pi":
                import math as _m

                return F.lit(_m.pi)
            if e.name == "size":
                return F.size(self._expr_or_var(e.args[0], env)).cast("long")
            if e.name in ("char_length", "character_length"):
                # Neo4j 5's string-length functions (size(STRING) is
                # deprecated there and unsupported here — Spark's size()
                # is list-only and the compiler has no static types)
                return F.length(self._expr_or_var(e.args[0], env)).cast("long")
            if e.name in P.AGG_FUNCS:
                raise ValueError(
                    f"cypher: aggregate {e.name}() only valid in WITH/RETURN"
                )
            raise ValueError(f"cypher: unknown function {e.name}")
        if isinstance(e, P.Not):
            return ~self._scalar(e.expr, env)
        if isinstance(e, P.CaseWhen):
            col = None
            for cond, val in e.whens:
                c = self._scalar(cond, env)
                v = self._scalar(val, env)
                col = F.when(c, v) if col is None else col.when(c, v)
            return col.otherwise(self._scalar(e.default, env))
        if isinstance(e, P.BinOp):
            if e.op == "IN":
                left = self._scalar(e.left, env)
                right = e.right
                if isinstance(right, P.Param):
                    vals = self.params[right.name]
                elif isinstance(right, P.ListLit):
                    vals = [li.value for li in right.items]
                else:
                    # bound list column (collect() result, node list,
                    # slice, …) → membership test, no shuffle
                    return F.array_contains(
                        self._list_col(right, env), left
                    )
                if not vals:
                    return F.lit(False)
                return left.isin(list(vals))
            if e.op == "REGEX":
                # rlike wants the pattern as a plain string; Neo4j's =~
                # is a FULL-string match while rlike is substring search,
                # so anchor the pattern
                if isinstance(e.right, P.Lit):
                    pat = e.right.value
                elif isinstance(e.right, P.Param):
                    pat = self.params[e.right.name]
                else:
                    raise ValueError(
                        "cypher: =~ pattern must be a literal or $param"
                    )
                return self._scalar(e.left, env).rlike(f"^(?:{pat})$")
            left = self._scalar(e.left, env)
            right = self._scalar(e.right, env)
            if e.op == "+" and (
                (isinstance(e.left, P.Lit) and isinstance(e.left.value, str))
                or (
                    isinstance(e.right, P.Lit)
                    and isinstance(e.right.value, str)
                )
            ):
                # Cypher string concatenation ('a' + x); Spark's + is
                # numeric-only, concat coerces the other side to string
                return F.concat(left, right)
            ops = {
                "=": lambda a, b: a == b,
                "<>": lambda a, b: a != b,
                "<": lambda a, b: a < b,
                ">": lambda a, b: a > b,
                "<=": lambda a, b: a <= b,
                ">=": lambda a, b: a >= b,
                "AND": lambda a, b: a & b,
                "OR": lambda a, b: a | b,
                "CONTAINS": lambda a, b: a.contains(b),
                "STARTSWITH": lambda a, b: a.startswith(b),
                "ENDSWITH": lambda a, b: a.endswith(b),
                "+": lambda a, b: a + b,
                "-": lambda a, b: a - b,
                # deviation from Neo4j: `/` on two integers is double
                # division (Spark semantics), not integer division
                "*": lambda a, b: a * b,
                "/": lambda a, b: a / b,
                "%": lambda a, b: a % b,
            }
            return ops[e.op](left, right)
        raise ValueError(f"cypher: cannot compile {e!r}")

    def _list_col(self, e, env) -> Column:
        """A list-valued source (for comprehensions / quantifiers /
        reduce): a $param or literal list inlines, anything else is a
        bound array column/expression."""
        if isinstance(e, P.Param):
            return F.lit(list(self.params[e.name]))
        if isinstance(e, P.ListLit):
            return F.array(*[self._scalar(i, env) for i in e.items])
        return self._expr_or_var(e, env)

    def _scalar(self, e, env) -> Column:
        c = self._expr(e, env)
        if isinstance(c, P.Param):
            return F.lit(self.params[c.name])
        if isinstance(c, P.ListLit):
            raise ValueError("cypher: list literal in scalar position")
        return c


# Compiled-plan cache (Neo4j caches query plans keyed by statement text;
# same idea). Sound because (a) entries are keyed by the graph's
# immutable-snapshot identity (store dir + build-marker mtime — absent on
# derived/mutated models, which therefore never cache) PLUS the owning
# SparkSession's applicationId — a DataFrame bound to a stopped session
# fails at execution, so a restarted session must never see the old
# entries, (b) parameters are part of the key (they compile to
# literals), and (c) DataFrames are immutable lazy plans, safe to
# re-execute. Bounded LRU; get/insert/evict run under a lock (the
# serving engine compiles from concurrent threads, and OrderedDict
# mutation is not thread-safe).
_PLAN_CACHE: "OrderedDict[tuple, DataFrame]" = __import__(
    "collections"
).OrderedDict()
_PLAN_CACHE_MAX = 256
_PLAN_CACHE_LOCK = __import__("threading").Lock()


def _params_fingerprint(params: dict | None) -> tuple:
    if not params:
        return ()
    return tuple(sorted((k, repr(v)) for k, v in params.items()))


def run_cypher(g: GraphModel, query: str, params: dict | None = None) -> DataFrame:
    """Parse + compile + return the DataFrame for a read-only Cypher
    statement (the subset exercised by the reference's serving and
    training queries). The result is lazy — callers .collect() / write
    like any DataFrame."""
    key = None
    if getattr(g, "plan_cache_key", None) is not None:
        app_id = g.persons.sparkSession.sparkContext.applicationId
        key = (app_id, g.plan_cache_key, query, _params_fingerprint(params))
        with _PLAN_CACHE_LOCK:
            hit = _PLAN_CACHE.get(key)
            if hit is not None:
                _PLAN_CACHE.move_to_end(key)
                return hit
    ast = P.parse(query)
    if isinstance(ast, P.UnionQuery):
        # each part compiles independently (fresh variable scope, like
        # Cypher); unionByName requires the same output columns, which
        # Cypher also requires
        dfs = [Compiler(g, params or {}).run(part) for part in ast.queries]
        out = dfs[0]
        for d in dfs[1:]:
            out = out.unionByName(d)
        if ast.distinct:
            out = out.distinct()
    else:
        out = Compiler(g, params or {}).run(ast)
    if key is not None:
        with _PLAN_CACHE_LOCK:
            _PLAN_CACHE[key] = out
            if len(_PLAN_CACHE) > _PLAN_CACHE_MAX:
                _PLAN_CACHE.popitem(last=False)
    return out
