"""Write-side Cypher: translate the reference's MERGE / SET / DELETE /
CONSTRAINT statements onto the engine's batch upsert machinery.

The reference issues six write shapes (get_insert.py:68-163,
app.py:100-131):

1. ``MATCH (n) DETACH DELETE n``                   → truncate (S2)
2. ``CREATE CONSTRAINT ... REQUIRE x IS UNIQUE``   → uniqueness check (S3)
3. ``MERGE (h:House {name: $name})``               → house upsert (S4)
4. ``MERGE (p:Person {name: $n}) SET p.a=$a, ...`` → person upsert (S4)
5. ``MATCH ... MERGE (p)-[:BELONGS_TO]->(h)``      → membership set
6. ``MATCH ..., ... WHERE ... MERGE (u)-[:T]->(f)``→ edge upsert (S5/S6)

Cypher MERGE is a per-row upsert; the batch equivalent is
last-writer-wins on the merge key (name) for nodes and append+dedup for
edges — the same contracts graph/etl.py implements and tests. The MATCH
prefix of an edge-MERGE statement is compiled by the READ compiler
(cypher/compiler.py), so arbitrary WHERE predicates (IN-lists etc.)
work for free; the MERGE step then appends (src, dst, type) rows.

Deviations, both documented engine invariants rather than bugs:
- node identity is engine-managed: a brand-new merged node gets a
  deterministic negative id (crc32 of its name), and ``SET p.id = $x``
  is a no-op (the reference stores the API id as a plain property;
  here id IS the storage key);
- edge rows follow the model's storage contract
  (``graph.model.orient_edges``): canonical symmetric types
  (FRIEND_OF / SAME_FAMILY) store one row per unordered pair, ordered
  by name like the rule build, so merging either direction yields the
  ONE stored edge — reads through the symmetric view are identical to
  Neo4j's. Bidirectional types (ENEMY_OF / ROMANTIC_WITH) store BOTH
  rows, so a one-way MERGE materializes the mirror row too.

Everything returns a NEW GraphModel (immutable frames; caller persists
via graph.store). Node upserts are a MERGE INTO-shaped plan: one
broadcast of the (tiny) write batch against the big table. An edge
MERGE still deduplicates the whole edge table per statement
(``dropDuplicates`` over the union), which is one full-table shuffle.
"""

from __future__ import annotations

import zlib

from pyspark.sql import DataFrame, functions as F

from neo4j_database_spark.cypher import parser as P
from neo4j_database_spark.cypher.compiler import Compiler
from neo4j_database_spark.graph.model import GraphModel, orient_edges

_PROP_MAP = {"isUser": "is_user"}


def _new_id(name: str) -> int:
    """Deterministic engine id for a user-created node: negative so it
    can never collide with loader-assigned (non-negative) ids."""
    return -(zlib.crc32(name.encode("utf-8")) % (2**31)) - 1


def _scalar(expr, params) -> object:
    if isinstance(expr, P.Lit):
        return expr.value
    if isinstance(expr, P.Param):
        return params[expr.name]
    raise ValueError(f"cypher write: expected literal/$param, got {expr!r}")


class CypherWriteError(ValueError):
    pass


def _commit(g: GraphModel, old: GraphModel) -> GraphModel:
    """Materialize the frames a write statement MUTATED (r10
    optimization round; guide §3.3 "materialising an intermediate
    truncates the plan").

    Neo4j commits per statement; the previous fully-lazy formulation
    stacked every write's whole upsert plan (anti-joins, unions,
    dropDuplicates) under every subsequent read, so a session with W
    writes re-analyzed and re-executed O(W) chained upserts on each
    query — the cypher write-path tests spent minutes re-deriving
    150-row graphs, and at scale the plan tree grows without bound.
    Frames the statement did not touch pass through untouched (no
    re-materialization of a parquet scan or a prior commit)."""
    return GraphModel(
        persons=(
            g.persons.localCheckpoint()
            if g.persons is not old.persons
            else g.persons
        ),
        houses=(
            g.houses.localCheckpoint()
            if g.houses is not old.houses
            else g.houses
        ),
        edges=(
            g.edges.localCheckpoint()
            if g.edges is not old.edges
            else g.edges
        ),
    )


def apply_cypher_write(
    g: GraphModel, query: str, params: dict | None = None
) -> GraphModel:
    """Apply one write statement; returns the updated GraphModel."""
    params = params or {}
    q = P.parse(query)
    if not q.is_write:
        raise CypherWriteError("not a write statement; use run_cypher")
    clauses = q.clauses

    # 1. truncate — ONLY the reference's unconditional full-truncate
    # shape `MATCH (n) DETACH DELETE n` (get_insert.py:68). A filtered
    # or labeled delete must not silently wipe the graph.
    if any(isinstance(c, P.DetachDeleteClause) for c in clauses):
        ok = (
            len(clauses) == 2
            and isinstance(clauses[0], P.MatchClause)
            and not clauses[0].optional
            and clauses[0].where is None
            and len(clauses[0].paths) == 1
            and not clauses[0].paths[0].rels
            and clauses[0].paths[0].nodes[0].label is None
            and not clauses[0].paths[0].nodes[0].props
            and isinstance(clauses[1], P.DetachDeleteClause)
            and clauses[1].var == clauses[0].paths[0].nodes[0].var
        )
        if not ok:
            raise CypherWriteError(
                "only the full truncate `MATCH (n) DETACH DELETE n` is "
                "supported; targeted deletes are not implemented"
            )
        return _commit(
            GraphModel(
                persons=g.persons.limit(0),
                houses=g.houses.limit(0),
                edges=g.edges.limit(0),
            ),
            g,
        )

    # 2. uniqueness constraint → immediate assertion on the target set
    if isinstance(clauses[0], P.CreateConstraintClause):
        c = clauses[0]
        frame = g.houses if c.label == "House" else g.persons
        col = _PROP_MAP.get(c.prop, c.prop)
        total, distinct = frame.select(
            F.count(F.lit(1)), F.countDistinct(col)
        ).first()
        if total != distinct:
            raise CypherWriteError(
                f"uniqueness violated for {c.label}.{c.prop}: "
                f"{total} rows, {distinct} distinct"
            )
        return g

    matches = [c for c in clauses if isinstance(c, P.MatchClause)]
    merges = [c for c in clauses if isinstance(c, P.MergeClause)]
    sets = [c for c in clauses if isinstance(c, P.SetClause)]
    removes = [c for c in clauses if isinstance(c, P.RemoveClause)]

    # 2b. MATCH ... REMOVE n.prop — property removal (⇒ NULL; Cypher's
    # absent-property reads as null, so the observable semantics match)
    if removes:
        if merges or sets:
            raise CypherWriteError(
                "REMOVE cannot be combined with MERGE/SET in one statement"
            )
        if not matches:
            raise CypherWriteError("REMOVE needs a MATCH prefix")
        comp = Compiler(g, params)
        df, env = None, {}
        for m in matches:
            df, env = comp._match(df, env, m)
        persons = g.persons
        for rc in removes:
            for prop in rc.props:
                field = _PROP_MAP.get(prop.name, prop.name)
                if field in ("id", "name"):
                    raise CypherWriteError(
                        f"cannot REMOVE identity property {field!r}"
                    )
                if field not in persons.columns:
                    continue
                targets = (
                    df.select(
                        F.col(f"{prop.var}.id").cast("long").alias("__rid")
                    ).distinct()
                )
                dtype = persons.schema[field].dataType
                persons = (
                    persons.join(
                        F.broadcast(targets),
                        persons.id == F.col("__rid"),
                        "left",
                    )
                    .withColumn(
                        field,
                        F.when(
                            F.col("__rid").isNotNull(),
                            F.lit(None).cast(dtype),
                        ).otherwise(F.col(field)),
                    )
                    .drop("__rid")
                )
        return _commit(
            GraphModel(persons=persons, houses=g.houses, edges=g.edges), g
        )

    # 2c. MATCH ... FOREACH (x IN list | SET x.prop = v ...) — batch
    # property updates over a bound list. Set-at-a-time lowering: the
    # list column explodes to target ids (one distinct per FOREACH) and
    # each SET becomes a broadcast conditional update on persons — no
    # per-element loop, exactly the REMOVE machinery's shape.
    foreaches = [c for c in clauses if isinstance(c, P.ForeachClause)]
    if foreaches:
        if merges or sets or removes:
            raise CypherWriteError(
                "FOREACH cannot be combined with top-level MERGE/SET/"
                "REMOVE in one statement"
            )
        if not matches:
            raise CypherWriteError("FOREACH needs a MATCH prefix")
        # the prefix is a full read pipeline (MATCH/WITH/UNWIND — e.g.
        # `WITH collect(q) AS friends`), compiled by the read compiler
        prefix = []
        for c in clauses:
            if isinstance(c, P.ForeachClause):
                break
            if not isinstance(
                c, (P.MatchClause, P.WithClause, P.UnwindClause)
            ):
                raise CypherWriteError(
                    f"unsupported clause before FOREACH: {c!r}"
                )
            prefix.append(c)
        comp = Compiler(g, params)
        df, env = comp._run_clauses(None, {}, prefix)
        persons = g.persons
        for fc in foreaches:
            lst = comp._expr_or_var(fc.src, env)
            x = df.select(F.explode(lst).alias("__x"))
            elem_t = x.schema["__x"].dataType
            from pyspark.sql import types as T

            if isinstance(elem_t, T.StructType) and "id" in elem_t.names:
                idc = F.col("__x.id")  # list of node structs (collect(p))
            else:
                idc = F.col("__x")  # list of node ids (nodes(path))
            targets = x.select(
                idc.cast("long").alias("__fid")
            ).distinct()
            assigns = {}
            for sc in fc.body:
                if sc.map_assigns:
                    raise CypherWriteError(
                        "FOREACH SET += is not supported"
                    )
                for prop, expr in sc.assigns:
                    if prop.var != fc.var:
                        raise CypherWriteError(
                            f"FOREACH SET target {prop.var!r} must be the "
                            f"loop variable {fc.var!r}"
                        )
                    field = _PROP_MAP.get(prop.name, prop.name)
                    if field == "id":
                        continue  # identity is engine-managed
                    assigns[field] = _scalar(expr, params)
            # ONE broadcast join per FOREACH, not per SET field — all
            # field updates are conditional projections over it
            joined = persons.join(
                F.broadcast(targets),
                persons.id == F.col("__fid"),
                "left",
            )
            hit = F.col("__fid").isNotNull()
            for field, value in assigns.items():
                if field in persons.columns:
                    upd = F.when(hit, F.lit(value)).otherwise(F.col(field))
                else:
                    # fresh property: when-without-otherwise defaults to
                    # NULL and the column takes the value's type
                    upd = F.when(hit, F.lit(value))
                joined = joined.withColumn(field, upd)
            persons = joined.drop("__fid")
        return _commit(
            GraphModel(persons=persons, houses=g.houses, edges=g.edges), g
        )

    creates = [c for c in clauses if isinstance(c, P.CreateClause)]
    if creates and not merges:
        # CREATE under the app's uniqueness constraint (get_insert.py:71):
        # a node CREATE on an existing name is a constraint violation
        # (exactly Neo4j's behavior once the constraint exists); edge
        # CREATE deduplicates like MERGE — a deliberate deviation, since
        # the edge model has no parallel-edge identity to preserve.
        if not matches and len(creates) == 1 and not creates[0].path.rels:
            node = creates[0].path.nodes[0]
            if "name" not in node.props:
                raise CypherWriteError("node CREATE requires a {name: ...} key")
            nm = _scalar(node.props["name"], params)
            frame = g.houses if node.label == "House" else g.persons
            # this existence probe is deliberately EAGER (one driver-side
            # job per CREATE): the constraint violation must raise here,
            # like Neo4j. MERGE has no such check — its upsert is fully
            # lazy (see _merge_node).
            if frame.filter(F.col("name") == nm).limit(1).count() > 0:
                raise CypherWriteError(
                    f"uniqueness constraint violated: {node.label or 'Person'} "
                    f"name {nm!r} already exists"
                )
            return _commit(
                _merge_node(g, P.MergeClause(creates[0].path), sets, params),
                g,
            )
        return _commit(
            _merge_edges(
                g, matches, [P.MergeClause(c.path) for c in creates], params
            ),
            g,
        )

    if not merges:
        raise CypherWriteError(f"unsupported write statement: {query!r}")

    # 3/4. node MERGE (single-node path, no MATCH prefix)
    if not matches and len(merges) == 1 and not merges[0].path.rels:
        return _commit(_merge_node(g, merges[0], sets, params), g)

    # 5/6. MATCH ... MERGE edges (relationships carry no properties in
    # this model, so conditional SET on an edge MERGE is meaningless)
    for m in merges:
        if m.on_create or m.on_match:
            raise CypherWriteError(
                "ON CREATE/ON MATCH SET is only supported on node MERGE "
                "(relationships carry no properties)"
            )
    return _commit(_merge_edges(g, matches, merges, params), g)


def _collect_assigns(set_clauses, params) -> dict[str, object]:
    """Flatten SET clauses (prop assignments + `+=` map merges) into a
    field→value dict; engine-managed id is skipped (module docstring)."""
    out: dict[str, object] = {}
    for sc in set_clauses:
        for prop, expr in sc.assigns:
            field = _PROP_MAP.get(prop.name, prop.name)
            if field != "id":
                out[field] = _scalar(expr, params)
        for _var, expr in sc.map_assigns:
            m = _scalar(expr, params)
            if not isinstance(m, dict):
                raise CypherWriteError("SET n += needs a map value")
            for k, v in m.items():
                field = _PROP_MAP.get(k, k)
                if field != "id":
                    out[field] = v
    return out


def _merge_node(
    g: GraphModel, merge: P.MergeClause, sets: list[P.SetClause], params
) -> GraphModel:
    node = merge.path.nodes[0]
    if "name" not in node.props:
        raise CypherWriteError("node MERGE requires a {name: ...} key")
    name = _scalar(node.props["name"], params)
    if node.label == "House":
        spark = g.houses.sparkSession
        cols = g.houses.columns
        row = {c: None for c in cols}
        row["name"] = name
        if "id" in cols:
            row["id"] = _new_id(name)
        new = spark.createDataFrame(
            [tuple(row[c] for c in cols)], g.houses.schema
        )
        # create-iff-absent: anti-join keeps the existing row (and its
        # id) when the name is already present
        houses = g.houses.unionByName(
            new.join(g.houses, "name", "left_anti")
        )
        return GraphModel(persons=g.persons, houses=houses, edges=g.edges)

    # Person upsert: SET only the listed props; create-if-absent with a
    # deterministic engine id. `SET p.id = ...` is identity-managed (see
    # module docstring) and therefore skipped. Fully lazy — no
    # driver-side existence job (round-2 verdict item 7): unconditional
    # SET + ON MATCH SET apply behind the merge-key predicate (a no-op
    # when the name is absent), and the created row (unconditional +
    # ON CREATE SET values) appends through a left-anti join on the key,
    # exactly like the House branch. Both arms are in ONE plan, so at
    # scale this is a single MERGE INTO-shaped job per statement.
    persons = g.persons
    name_col = F.col("name")
    base = _collect_assigns(sets, params)
    on_match = _collect_assigns(merge.on_match, params)
    on_create = _collect_assigns(merge.on_create, params)

    updated = persons
    cols = persons.columns
    existing_updates = {**base, **on_match}
    all_fields = {**base, **on_create, **on_match}
    for field, value in all_fields.items():
        if field not in cols:
            # fresh property column: NULL everywhere, typed by the value
            # (when-without-match) so the appended row's schema aligns
            updated = updated.withColumn(
                field, F.when(F.lit(False), F.lit(value))
            )
            cols = updated.columns
    for field, value in existing_updates.items():
        updated = updated.withColumn(
            field,
            F.when(name_col == name, F.lit(value)).otherwise(F.col(field)),
        )

    row = {c: None for c in cols}
    row["id"] = _new_id(name)
    row["name"] = name
    row.update({**base, **on_create})
    spark = persons.sparkSession
    new_row = spark.createDataFrame(
        [tuple(row[c] for c in cols)], updated.schema
    )
    updated = updated.unionByName(
        new_row.join(persons.select("name"), "name", "left_anti")
    )
    return GraphModel(persons=updated, houses=g.houses, edges=g.edges)


def _merge_edges(
    g: GraphModel, matches, merges, params
) -> GraphModel:
    comp = Compiler(g, params)
    df: DataFrame | None = None
    env: dict = {}
    for m in matches:
        df, env = comp._match(df, env, m)
    if df is None:
        raise CypherWriteError("edge MERGE needs a MATCH prefix")

    persons, edges = g.persons, g.edges
    for mc in merges:
        path = mc.path
        if len(path.nodes) != 2 or len(path.rels) != 1:
            raise CypherWriteError("edge MERGE must be (a)-[:T]->(b)")
        a, b = path.nodes[0].var, path.nodes[1].var
        rel = path.rels[0]
        rtype = rel.rtype
        if rtype is None or isinstance(rtype, tuple):
            raise CypherWriteError("edge MERGE needs exactly one type")
        if a not in env or b not in env:
            raise CypherWriteError(f"edge MERGE vars {a},{b} must be bound")
        if rel.direction == "in":
            a, b = b, a

        if rtype == "BELONGS_TO":
            # membership is the normalized house property (model.py:26)
            pairs = df.select(
                F.col(f"{a}.id").alias("pid"),
                F.col(f"{b}.name").alias("new_house"),
            ).dropDuplicates(["pid"])
            persons = (
                persons.join(
                    F.broadcast(pairs),
                    persons.id.cast("string") == pairs.pid,
                    "left",
                )
                .withColumn(
                    "house", F.coalesce(F.col("new_house"), F.col("house"))
                )
                .drop("pid", "new_house")
            )
            continue

        new = orient_edges(
            df.select(
                F.col(f"{a}.id").cast("long").alias("src"),
                F.col(f"{b}.id").cast("long").alias("dst"),
                F.col(f"{a}.name").alias("src_name"),
                F.col(f"{b}.name").alias("dst_name"),
            ),
            rtype,
        )
        edges = edges.unionByName(new).dropDuplicates(["src", "dst", "type"])
    return GraphModel(persons=persons, houses=g.houses, edges=edges)
