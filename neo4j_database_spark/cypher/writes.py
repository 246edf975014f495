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
last-writer-wins on the merge key (name) for nodes and
create-iff-absent on ``(src, dst, type)`` for edges — the same
contracts graph/etl.py implements and tests. The MATCH prefix of a
write is compiled by the READ compiler (cypher/compiler.py), so
arbitrary WHERE predicates (IN-lists etc.) work for free.

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

Every statement returns a NEW GraphModel: the snapshot its session
started from plus the session's :class:`graph.model.Delta`, which the
statement rebuilds as the old delta ∪ its own rows and commits as one
single-partition checkpoint per changed frame (:func:`_commit`). The
rows a statement touches are few, so it collects them to the driver:
the MATCH result of an edge MERGE (its node structs carry the names,
houses and images the adjacency rows need), the ids a SET, REMOVE,
FOREACH or BELONGS_TO targets, and the id a node MERGE finds. Its new
rows enter the plan as literals, and an edge MERGE checks them against
the snapshot's edges through a filter on the batch's ids, so no
statement scans, shuffles or checkpoints more than its own rows and
the session's delta.
"""

from __future__ import annotations

import json
import zlib
from dataclasses import replace
from functools import reduce

from pyspark.sql import Column, DataFrame, SparkSession, functions as F
from pyspark.sql import types as T

from neo4j_database_spark.cypher import parser as P
from neo4j_database_spark.cypher.compiler import Compiler
from neo4j_database_spark.graph.model import (
    ADJACENCY_COLS,
    Delta,
    GraphModel,
    edge_key,
    orient_edges,
    symmetrize,
    with_person_props,
)

_PROP_MAP = {"isUser": "is_user"}

# The adjacency columns after the ids, type and flag carry person
# properties (name, house, image): a change to one of them re-derives
# the rows that name the person.
_PAYLOAD = ADJACENCY_COLS[4:]
_ADJACENCY_PROPS = tuple(dict.fromkeys(c.split("_", 1)[1] for c in _PAYLOAD))

# Endpoint fields an edge MERGE collects from its MATCH, in the order
# of its pair rows (see _PAIR).
_ENDPOINT = ("id", *_ADJACENCY_PROPS)
# An edge MERGE's pair rows: the endpoint ids, then both endpoints'
# name, house and image.
_PAIR = T.StructType(
    [T.StructField(c, T.LongType()) for c in ("src", "dst")]
    + [
        T.StructField(f"{side}_{f}", T.StringType())
        for f in _ENDPOINT[1:]
        for side in ("src", "dst")
    ]
)


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


def _session(g: GraphModel) -> Delta:
    """The write session ``g`` belongs to (an empty one over ``g`` if
    no Cypher write produced it)."""
    return g.delta if g.delta is not None else Delta(snapshot=g)


def _literal_rows(
    spark: SparkSession, schema: T.StructType, rows: list[tuple]
) -> DataFrame:
    """``rows`` of ``schema`` as a JVM plan: one JSON literal, parsed and
    exploded on a one-row range. ``createDataFrame`` on a list would
    plan a Python RDD, which starts Python workers when it runs, and a
    literal column per value costs several driver round trips each."""
    text = json.dumps([dict(zip(schema.names, r)) for r in rows], default=str)
    return spark.range(1).select(
        F.inline(F.from_json(F.lit(text), T.ArrayType(schema)))
    )


def _release(checkpoint: DataFrame) -> None:
    """Drop the blocks of a superseded checkpoint: its plan is the
    checkpointed RDD."""
    checkpoint._jdf.queryExecution().logical().rdd().unpersist(False)


def _commit(
    g: GraphModel,
    persons: DataFrame | None = None,
    houses: DataFrame | None = None,
    adjacency: DataFrame | None = None,
    **keys,
) -> GraphModel:
    """Commit one statement: each new delta frame given (the old delta
    frame ∪ the statement's rows) is coalesced to one partition and
    checkpointed, which truncates its plan, and the frame it supersedes
    is released. Frames not given keep their checkpoint; ``keys``
    (``created``, ``replaced``, ``edges``) add to the delta's id and
    pair sets.

    Neo4j commits per statement; a lazy chain of writes would stack
    every statement's plan under each later read. One partition keeps
    the checkpoint's task count fixed: a union of checkpoints adds up
    their partitions. Releasing the superseded frames makes the models
    of earlier statements in the session unreadable, so callers read
    the model returned here (``CypherSession`` does)."""
    d = _session(g)
    new = {
        name: df.coalesce(1).localCheckpoint()
        for name, df in (
            ("persons", persons),
            ("houses", houses),
            ("adjacency", adjacency),
        )
        if df is not None
    }
    out = replace(
        d, **new, **{k: getattr(d, k) | frozenset(v) for k, v in keys.items()}
    )
    for name in new:
        if getattr(d, name) is not None:
            _release(getattr(d, name))
    return out.model()


def apply_cypher_write(
    g: GraphModel, query: str, params: dict | None = None
) -> GraphModel:
    """Apply one write statement; returns the updated GraphModel, which
    supersedes ``g`` (see :func:`_commit`)."""
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
        # empty frames (Spark plans a zero-row limit as an empty local
        # relation) and no adjacency: a new snapshot for later writes
        out = GraphModel(
            persons=g.persons.limit(0),
            houses=g.houses.limit(0),
            edges=g.edges.limit(0),
        )
        if g.delta is not None:
            for df in (g.delta.persons, g.delta.houses, g.delta.adjacency):
                if df is not None:
                    _release(df)
        return out

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
        fields: dict[str, set[str]] = {}
        for rc in removes:
            for prop in rc.props:
                field = _PROP_MAP.get(prop.name, prop.name)
                if field in ("id", "name"):
                    raise CypherWriteError(
                        f"cannot REMOVE identity property {field!r}"
                    )
                if field in g.persons.columns:
                    fields.setdefault(prop.var, set()).add(field)
        targets = _target_ids(
            df, {v: F.col(f"{v}.id") for v in fields}
        )
        exprs: dict[str, Column] = {}
        for var, fs in fields.items():
            hit = F.col("id").isin(sorted(targets[var]))
            for field in sorted(fs):
                dtype = g.persons.schema[field].dataType
                exprs[field] = F.when(hit, F.lit(None).cast(dtype)).otherwise(
                    exprs.get(field, F.col(field))
                )
        return _set_persons(g, set().union(*targets.values()), exprs)

    # 2c. MATCH ... FOREACH (x IN list | SET x.prop = v ...) — batch
    # property updates over a bound list. Set-at-a-time lowering: the
    # list column explodes to target ids and each SET becomes a
    # conditional update of the targets' rows — no per-element loop,
    # exactly the REMOVE machinery's shape.
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
        exprs = {}
        ids: set[int] = set()
        for fc in foreaches:
            x = df.select(F.explode(comp._expr_or_var(fc.src, env)).alias("__x"))
            elem_t = x.schema["__x"].dataType
            if isinstance(elem_t, T.StructType) and "id" in elem_t.names:
                idc = F.col("__x.id")  # list of node structs (collect(p))
            else:
                idc = F.col("__x")  # list of node ids (nodes(path))
            fc_ids = _target_ids(x, {"x": idc})["x"]
            ids |= fc_ids
            hit = F.col("id").isin(sorted(fc_ids))
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
                    upd = F.when(hit, F.lit(_scalar(expr, params)))
                    if field in exprs:
                        upd = upd.otherwise(exprs[field])
                    elif field in g.persons.columns:
                        upd = upd.otherwise(F.col(field))
                    # a fresh property: when-without-otherwise is NULL
                    # elsewhere and the column takes the value's type
                    exprs[field] = upd
        return _set_persons(g, ids, exprs)

    creates = [c for c in clauses if isinstance(c, P.CreateClause)]
    if creates and not merges:
        # CREATE under the app's uniqueness constraint (get_insert.py:71):
        # a node CREATE on an existing name is a constraint violation
        # (exactly Neo4j's behavior once the constraint exists); edge
        # CREATE deduplicates like MERGE — a deliberate deviation, since
        # the edge model has no parallel-edge identity to preserve.
        if not matches and len(creates) == 1 and not creates[0].path.rels:
            return _merge_node(
                g, P.MergeClause(creates[0].path), sets, params, create=True
            )
        return _merge_edges(
            g, matches, [P.MergeClause(c.path) for c in creates], params
        )

    if not merges:
        raise CypherWriteError(f"unsupported write statement: {query!r}")

    # 3/4. node MERGE (single-node path, no MATCH prefix)
    if not matches and len(merges) == 1 and not merges[0].path.rels:
        return _merge_node(g, merges[0], sets, params)

    # 5/6. MATCH ... MERGE edges (relationships carry no properties in
    # this model, so conditional SET on an edge MERGE is meaningless)
    for m in merges:
        if m.on_create or m.on_match:
            raise CypherWriteError(
                "ON CREATE/ON MATCH SET is only supported on node MERGE "
                "(relationships carry no properties)"
            )
    return _merge_edges(g, matches, merges, params)


def _target_ids(df: DataFrame, cols: dict[str, Column]) -> dict[str, set[int]]:
    """The person ids each of ``cols`` (a node id column of ``df``)
    takes, collected in one job."""
    if not cols:
        return {}
    rows = df.select(
        *[c.cast("long").alias(k) for k, c in cols.items()]
    ).collect()
    return {k: {r[k] for r in rows if r[k] is not None} for k in cols}


def _set_persons(
    g: GraphModel, ids: set[int], exprs: dict[str, Column]
) -> GraphModel:
    """Update the persons ``ids`` (all of them in ``g``) by ``exprs``,
    column expressions over their current rows.

    Their new rows replace any old ones in the delta, and a snapshot
    person among them joins ``replaced``. The adjacency rows that name
    a person are re-derived when its name, house or image changes, and
    when a snapshot person first enters the delta, since from then on
    the model filters its snapshot rows out."""
    d = _session(g)
    if not ids or not exprs:
        return g
    ids_l = sorted(ids)
    upd = g.persons.filter(F.col("id").isin(ids_l)).withColumns(exprs)
    persons = upd
    if d.persons is not None:
        persons = d.persons.filter(~F.col("id").isin(ids_l)).unionByName(
            upd, allowMissingColumns=True
        )
    entering = ids - d.created - d.replaced
    relabel = ids if exprs.keys() & set(_ADJACENCY_PROPS) else entering
    return _commit(
        g,
        persons=persons,
        adjacency=_relabelled(d, upd, relabel),
        replaced=entering,
    )


def _relabelled(d: Delta, props: DataFrame, ids: set[int]) -> DataFrame | None:
    """The session's adjacency delta after the persons ``ids`` take the
    name, house and image in ``props``: every adjacency row naming one
    of them, from the delta or from the snapshot (none of the snapshot's
    rows naming an already replaced person, which are in the delta),
    relabelled, each keeping its ``is_edge``. None if nothing changes
    or the snapshot has no adjacency to keep."""
    if not ids or d.snapshot.adjacency is None:
        return None
    ids_l = sorted(ids)
    names = F.col("src").isin(ids_l) | F.col("dst").isin(ids_l)
    rows = d.snapshot.adjacency.filter(names)
    if d.replaced:
        gone = sorted(d.replaced)
        rows = rows.filter(~F.col("src").isin(gone) & ~F.col("dst").isin(gone))
    if d.adjacency is not None:
        rows = rows.unionByName(d.adjacency.filter(names))
    p = with_person_props(props)
    for side in ("src", "dst"):
        mine = [c for c in _PAYLOAD if c.startswith(side + "_")]
        rows = rows.join(
            F.broadcast(
                p.select(
                    F.col("id").alias(side),
                    F.lit(True).alias(f"__{side}"),
                    *[F.col(c[4:]).alias(f"__{c}") for c in mine],
                )
            ),
            side,
            "left",
        )
    out = rows.select(
        *ADJACENCY_COLS[:4],
        *[
            F.when(F.col(f"__{c[:3]}"), F.col(f"__{c}"))
            .otherwise(F.col(c))
            .alias(c)
            for c in _PAYLOAD
        ],
    )
    if d.adjacency is not None:
        out = d.adjacency.filter(~names).unionByName(out)
    return out


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
    g: GraphModel,
    merge: P.MergeClause,
    sets: list[P.SetClause],
    params,
    create: bool = False,
) -> GraphModel:
    """Node MERGE (``create``: CREATE, which raises on an existing name).

    One job looks the name up; an existing person takes the SET and ON
    MATCH values (:func:`_set_persons`), and an absent name becomes one
    literal row with the SET and ON CREATE values and a deterministic
    engine id. `SET p.id = ...` is identity-managed (see module
    docstring) and therefore skipped."""
    node = merge.path.nodes[0]
    if "name" not in node.props:
        verb = "CREATE" if create else "MERGE"
        raise CypherWriteError(f"node {verb} requires a {{name: ...}} key")
    name = _scalar(node.props["name"], params)
    label = "House" if node.label == "House" else "Person"
    frame = g.houses if label == "House" else g.persons
    key = "id" if "id" in frame.columns else "name"
    found = [
        r[0] for r in frame.filter(F.col("name") == name).select(key).collect()
    ]
    if found and create:
        raise CypherWriteError(
            f"uniqueness constraint violated: {label} name {name!r} "
            "already exists"
        )
    base = _collect_assigns(sets, params)
    schema = frame.schema
    if found:
        if label == "House":
            return g
        values = {**base, **_collect_assigns(merge.on_match, params)}
        # a null takes the field's type; other values widen with it in
        # the model's union
        return _set_persons(
            g,
            {found[0]},
            {
                f: F.lit(v).cast(schema[f].dataType)
                if v is None and f in schema.names
                else F.lit(v)
                for f, v in values.items()
            },
        )

    row = {"name": name}
    if key == "id":
        row["id"] = _new_id(name)
    if label == "Person":
        row.update({**base, **_collect_assigns(merge.on_create, params)})
    new = _literal_rows(
        frame.sparkSession, schema, [tuple(row.get(c) for c in schema.names)]
    ).withColumns(
        {c: F.lit(v) for c, v in row.items() if c not in schema.names}
    )
    d = _session(g)
    old = d.houses if label == "House" else d.persons
    if old is not None:
        new = old.unionByName(new, allowMissingColumns=True)
    if label == "House":
        return _commit(g, houses=new)
    return _commit(g, persons=new, created={row["id"]})


def _merge_edges(g: GraphModel, matches, merges, params) -> GraphModel:
    """MATCH ... MERGE of edges and of BELONGS_TO memberships.

    The MATCH result is collected once: it is the statement's batch.
    A pair whose :func:`edge_key` the session has merged before, that
    repeats one in the batch, or that the snapshot's edges (filtered to
    the batch's types and ids) hold, is dropped on the driver; the
    others go to :func:`_added_adjacency`. A BELONGS_TO membership sets
    the person's ``house`` (the normalized house property,
    model.py:26)."""
    comp = Compiler(g, params)
    df: DataFrame | None = None
    env: dict = {}
    for m in matches:
        df, env = comp._match(df, env, m)
    if df is None:
        raise CypherWriteError("edge MERGE needs a MATCH prefix")

    specs = []
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
        specs.append((a, b, rtype))

    ends = sorted({v for a, b, _ in specs for v in (a, b)})
    cols = [(v, f) for v in ends for f in _ENDPOINT]
    # SQL text: one driver round trip per column (see model._reversed)
    batch = [
        dict(zip(cols, r))
        for r in df.selectExpr(*[f"`{v}`.{f}" for v, f in cols]).collect()
    ]

    d = _session(g)
    homes: dict[int, str] = {}
    pairs: dict[tuple, tuple] = {}
    for a, b, rtype in specs:
        for r in batch:
            if rtype == "BELONGS_TO":
                homes[int(r[a, "id"])] = r[b, "name"]
                continue
            try:
                ids = (int(r[a, "id"]), int(r[b, "id"]))
            except (TypeError, ValueError):
                raise CypherWriteError(
                    f"{rtype} MERGE endpoints must be persons"
                ) from None
            key = edge_key(*ids, rtype)
            if key not in d.edges:
                pairs.setdefault(
                    key,
                    ids + tuple(r[v, f] for f in _ENDPOINT[1:] for v in (a, b)),
                )

    # a pair between two snapshot persons may be stored there already;
    # a person the session created has none, so the app's writeback (a
    # new user's edges) skips this job
    known = [k for k, row in pairs.items() if not d.created & set(row[:2])]
    if known:
        ids = sorted({i for k in known for i in pairs[k][:2]})
        stored = {
            edge_key(*r)
            for r in d.snapshot.edges.filter(
                F.col("type").isin(sorted({k[0] for k in known}))
                & F.col("src").isin(ids)
                & F.col("dst").isin(ids)
            )
            .select("src", "dst", "type")
            .collect()
        }
        new = {k: row for k, row in pairs.items() if k not in stored}
    else:
        new = pairs
    if pairs:
        g = _commit(
            g, adjacency=_added_adjacency(d, new) if new else None, edges=pairs
        )
    if homes:
        g = _set_persons(
            g,
            set(homes),
            {
                "house": F.create_map(
                    *[F.lit(x) for kv in sorted(homes.items()) for x in kv]
                )[F.col("id")]
            },
        )
    return g


def _added_adjacency(d: Delta, pairs: dict[tuple, tuple]) -> DataFrame:
    """The session's adjacency delta plus the edges of ``pairs``
    (:data:`_PAIR` rows by :func:`edge_key`).

    Each type's pairs become one literal frame; :func:`orient_edges`
    gives their stored rows and :func:`symmetrize` the adjacency rows,
    with the names, houses and images the MATCH's node structs carried,
    so no ``persons`` join is needed."""
    spark = d.snapshot.persons.sparkSession
    by_type: dict[str, list[tuple]] = {}
    for (rtype, _, _), row in pairs.items():
        by_type.setdefault(rtype, []).append(row)
    parts = [
        symmetrize(
            orient_edges(_literal_rows(spark, _PAIR, rows), rtype)
        ).select(*ADJACENCY_COLS)
        for rtype, rows in sorted(by_type.items())
    ]
    if d.adjacency is not None:
        parts.append(d.adjacency)
    return reduce(DataFrame.unionByName, parts)
