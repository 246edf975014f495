"""Property-graph model: nodes + typed edges as DataFrames.

The reference stores a labeled property graph in Neo4j — Person/House
nodes and five relationship types created by rule-based ETL
(reference: get_insert.py:74-163). We realize the same model as two
DataFrames (GraphFrames convention):

    persons(id BIGINT, name STRING, house STRING, segment STRING,
            acctbal DOUBLE, species STRING, gender STRING, alive BOOLEAN,
            image STRING, is_user BOOLEAN)
    edges(src BIGINT, dst BIGINT, type STRING)

mapped from the driver's tables per FIXTURES.md §5: ``customer`` plays
persons, ``nation`` plays houses, and the reference's rule-derived edges
are re-derived with the same *shape*:

    FRIEND_OF      same house (co-nation), stored once with
                   name(a) < name(b)                 [get_insert.py:132-138]
    SAME_FAMILY    same surname (here: last 2 digits of the customer
                   name — a derived join key, like Cypher's
                   split(name,' ')[-1]), stored once  [get_insert.py:122-128]
    ENEMY_OF       every member of house_a × every member of house_b,
                   stored in BOTH directions           [get_insert.py:141-145]
    ROMANTIC_WITH  curated small pair list, BOTH directions
                                                      [get_insert.py:147-163]
    BELONGS_TO     person → house, normalized as persons.house (a
                   foreign key, not an edge row)      [get_insert.py:107-111]

Scale notes (100 TB design):
- FRIEND_OF is a quadratic self-join keyed on ``house`` — the classic
  skewed self-join. The join key is derived *first* (never a theta-join),
  AQE skew-join is on (session.py), and the tie-break ``a.name < b.name``
  halves the output exactly like the reference's ``id(a) < id(b)``.
- ENEMY_OF is an explicit cross join of two *filtered* sides; at scale the
  smaller side must be broadcast — Catalyst does this automatically once
  the filter brings it under the broadcast threshold.
- Undirected reads go through :meth:`GraphModel.sym_edges` (ids and
  type) or :meth:`GraphModel.named_adjacency` (plus endpoint names and
  houses, the other endpoint's image, and ``is_edge``, true on the
  stored orientation of each edge). A graph loaded from the store
  serves both from the stored ``adjacency`` table, written once at
  build time, and a Cypher write session keeps it (:class:`Delta`);
  any other graph derives them per query from ``edges`` and
  ``persons``. ``edges`` stays canonical (1×) and is the table every
  write path changes. Only :func:`orient_edges` picks an orientation
  and only :func:`symmetrize` flags it, so a read that needs the stored
  edges filters ``is_edge`` instead of re-deriving the name order,
  which a renamed person no longer follows.

This module owns the storage contract above: the four rule functions
serve both the full build (``build_edges(persons)``) and the incremental
merge (``store.merge_increment``), and every writeback of explicit pairs
(Cypher edge MERGE, the ingest user node) stores them through
:func:`orient_edges`.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from neo4j_database_spark.catalog import load_table

# Relationship types stored once with src.name < dst.name, queried undirected.
CANONICAL_TYPES = ("FRIEND_OF", "SAME_FAMILY")
# Relationship types stored in both directions (reference stores them twice).
BIDIRECTIONAL_TYPES = ("ENEMY_OF", "ROMANTIC_WITH")

# The two feuding houses of the enemy rule (Gryffindor × Slytherin analog).
ENEMY_HOUSE_A = "NATION_0"
ENEMY_HOUSE_B = "NATION_1"

# Curated-romance analog (get_insert.py:15-43 is a fixed 27-pair list):
# customers whose key is a multiple of ROMANCE_STEP pair with key+1.
ROMANCE_STEP = 101


# Full person property set of the reference (get_insert.py:87-103 SETs
# house, species, gender, alive, image, id; app.py:105 adds isUser on
# user writeback). The TPC-H fixture tables have no such columns, so they
# are derived as pure functions of the person id — deterministic,
# engine-portable (the DuckDB oracle CTE reproduces the same CASE
# expressions), and stable under repartitioning.
PERSON_PROP_COLS = ("species", "gender", "alive", "image", "is_user")


def with_person_props(persons: DataFrame) -> DataFrame:
    """Add any missing reference person properties, derived from ``id``.

    Idempotent: frames that already carry a property column (e.g. a real
    ingest through etl.normalize_persons, or a user-node writeback) keep
    their values; only absent columns are filled. Test fixtures with the
    minimal (id, name, house, segment, acctbal) schema pass through here
    so every serving query can rely on the full property set.
    """
    out = persons
    if "species" not in out.columns:
        out = out.withColumn(
            "species",
            F.when(F.col("id") % 19 == 0, F.lit("half-giant"))
            .when(F.col("id") % 23 == 0, F.lit("werewolf"))
            .otherwise(F.lit("human")),
        )
    if "gender" not in out.columns:
        out = out.withColumn(
            "gender",
            F.when(F.col("id") % 2 == 0, F.lit("female")).otherwise(
                F.lit("male")
            ),
        )
    if "alive" not in out.columns:
        out = out.withColumn("alive", (F.col("id") % 7) != 0)
    if "image" not in out.columns:
        out = out.withColumn(
            "image",
            F.when(F.col("id") % 10 < 3, F.lit("")).otherwise(
                F.concat(
                    F.lit("https://img.invalid/p"),
                    F.col("id").cast("string"),
                    F.lit(".png"),
                )
            ),
        )
    if "is_user" not in out.columns:
        out = out.withColumn("is_user", F.lit(False))
    return out


def persons_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Person nodes: customer rows with the house (nation name) denormalized
    plus the reference's full property set (species/gender/alive/image/
    is_user, get_insert.py:87-103).

    The nation dim is ≤25 rows — broadcast join, no shuffle on the fact side.
    """
    customer = load_table(spark, "customer", sf_dir)
    nation = load_table(spark, "nation", sf_dir)
    return with_person_props(
        customer.join(
            F.broadcast(nation),
            customer.c_nationkey == nation.n_nationkey,
            "left",
        )
        .select(
            F.col("c_custkey").alias("id"),
            F.col("c_name").alias("name"),
            F.col("n_name").alias("house"),
            F.col("c_mktsegment").alias("segment"),
            F.col("c_acctbal").alias("acctbal"),
        )
    )


def houses_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """House nodes (nation dim)."""
    return load_table(spark, "nation", sf_dir).select(
        F.col("n_nationkey").alias("id"), F.col("n_name").alias("name")
    )


def _family_key(name_col: F.Column) -> F.Column:
    """Derived surname key: last 2 characters of the person name.

    Mirrors the reference's ``split(a.name,' ')[-1]`` (get_insert.py:125) —
    an equality join on a *derived* column, which Catalyst hashes like any
    equi-join key (never express this as a theta-join).
    """
    return F.substring(name_col, -2, 2)


def friend_edges(left: DataFrame, right: DataFrame | None = None) -> DataFrame:
    """FRIEND_OF: same non-null house, canonical direction name(a)<name(b).

    Reference: get_insert.py:132-138 (``a.house = b.house AND id(a)<id(b)``).
    Deterministic total order by name replaces Neo4j's internal id
    (SURVEY.md §2 F4). Quadratic per house — AQE skew-join handles hot
    houses; at 100 TB this is additionally a candidate for salting the
    house key.
    """
    right = left if right is None else right
    a = left.filter(F.col("house").isNotNull()).select(
        F.col("id").alias("src"), F.col("name").alias("src_name"), "house"
    )
    b = right.filter(F.col("house").isNotNull()).select(
        F.col("id").alias("dst"), F.col("name").alias("dst_name"), "house"
    )
    return (
        a.join(b, "house")
        .filter(F.col("src_name") < F.col("dst_name"))
        .select("src", "dst", F.lit("FRIEND_OF").alias("type"))
    )


def family_edges(left: DataFrame, right: DataFrame | None = None) -> DataFrame:
    """SAME_FAMILY: equal derived surname key, canonical direction.

    Reference: get_insert.py:122-128.
    """
    right = left if right is None else right
    a = left.select(
        F.col("id").alias("src"),
        F.col("name").alias("src_name"),
        _family_key(F.col("name")).alias("fam"),
    )
    b = right.select(
        F.col("id").alias("dst"),
        F.col("name").alias("dst_name"),
        _family_key(F.col("name")).alias("fam"),
    )
    return (
        a.join(b, "fam")
        .filter(F.col("src_name") < F.col("dst_name"))
        .select("src", "dst", F.lit("SAME_FAMILY").alias("type"))
    )


def _other_end(col: str) -> str:
    """The column naming the same thing at the other endpoint: ``src``
    ↔ ``dst``, ``src_<x>`` ↔ ``dst_<x>``; any other column is itself."""
    for a, b in (("src", "dst"), ("dst", "src")):
        if col == a or col.startswith(a + "_"):
            return b + col[len(a):]
    return col


def sql_name(col: str) -> str:
    """``col`` quoted as a SQL identifier."""
    return "`" + col.replace("`", "``") + "`"


def _reversed(df: DataFrame) -> DataFrame:
    """``df`` read the other way: every endpoint column swaps with its
    :func:`_other_end`. (SQL text: a write statement builds this per
    statement, and one expression string is one driver round trip where
    a built column is several.)"""
    return df.selectExpr(
        *[f"{sql_name(_other_end(c))} AS {sql_name(c)}" for c in df.columns]
    )


def _mirrored(fwd: DataFrame, etype: str) -> DataFrame:
    """Pairs of a bidirectional type plus the reverse of each pair that
    is not a self-loop (which reads the same both ways), any
    ``src_<x>`` / ``dst_<x>`` payload after ``type``."""
    payload = [c for c in fwd.columns if c not in ("src", "dst")]
    rev = _reversed(fwd.filter(F.col("src") != F.col("dst")))
    return fwd.unionByName(rev).select(
        "src", "dst", F.lit(etype).alias("type"), *payload
    )


def enemy_edges(left: DataFrame, right: DataFrame | None = None) -> DataFrame:
    """ENEMY_OF: cross join of two filtered houses, stored both directions.

    Reference: get_insert.py:141-145 (Gryffindor × Slytherin, MERGE both
    ways). Both sides are filtered to a single house before the cross
    join so the optimizer can broadcast the smaller one.
    """
    right = left if right is None else right
    a = left.filter(F.col("house") == ENEMY_HOUSE_A).select(
        F.col("id").alias("src")
    )
    b = right.filter(F.col("house") == ENEMY_HOUSE_B).select(
        F.col("id").alias("dst")
    )
    return _mirrored(a.crossJoin(b), "ENEMY_OF")


def romance_edges(left: DataFrame, right: DataFrame | None = None) -> DataFrame:
    """ROMANTIC_WITH: deterministic curated-pair analog, both directions.

    Reference: get_insert.py:147-163 iterates a fixed 27-pair list; here
    the "curated list" is {(k, k+1) : k ≡ 0 (mod ROMANCE_STEP)}, joined
    against persons so dangling pairs are dropped (like the reference's
    MATCH-before-MERGE).
    """
    right = left if right is None else right
    fwd = (
        left.filter((F.col("id") % ROMANCE_STEP) == 0)
        .select(F.col("id").alias("src"), (F.col("id") + 1).alias("dst"))
        .join(right.select(F.col("id").alias("dst")), "dst")
    )
    return _mirrored(fwd, "ROMANTIC_WITH")


def build_edges(left: DataFrame, right: DataFrame | None = None) -> DataFrame:
    """All person↔person edges; unique on (src, dst, type) by construction.

    Cypher MERGE's create-iff-absent semantics (SURVEY.md §2 S5) hold
    structurally: each rule emits distinct pairs (tie-break filters /
    distinct cross products) and rules are disjoint by type, so no dedup
    shuffle is spent here. The invariant is enforced by test
    (tests/test_graph_model.py::test_edges_unique) instead of a 6M-row
    dropDuplicates in the build hot path.

    Each rule takes the two sides of its pairing, ``right`` defaulting
    to ``left``: pair members come from ``left`` × ``right`` and are
    stored with the orientation the full build uses, so the incremental
    merge derives its delta as ``build_edges(changed, all) ∪
    build_edges(all, changed)``.
    """
    return (
        friend_edges(left, right)
        .unionByName(family_edges(left, right))
        .unionByName(enemy_edges(left, right))
        .unionByName(romance_edges(left, right))
    )


def orient_edges(pairs: DataFrame, etype: str) -> DataFrame:
    """Stored ``(src, dst, type)`` rows for explicit ``etype`` pairs.

    ``pairs`` carries ``src`` and ``dst``, plus ``src_name`` /
    ``dst_name`` for a canonical type, and may carry further
    ``src_<x>`` / ``dst_<x>`` payload pairs, which follow their endpoint
    and are returned after ``type``. Canonical types are stored once per
    unordered pair, ordered by name exactly as the rule build stores
    them; bidirectional types get their mirror row; any other type is
    stored as given. Writebacks (Cypher edge MERGE, the ingest user
    node) and the ingest rule edges route their pairs through here, so a
    merged edge matches the rule-built row.
    """
    payload = [c for c in pairs.columns if c not in ("src", "dst")]
    if etype in BIDIRECTIONAL_TYPES:
        return _mirrored(pairs, etype)
    if etype in CANONICAL_TYPES:
        # SQL text for the same reason as in _reversed
        pairs = pairs.selectExpr(
            *[
                f"CASE WHEN src_name > dst_name THEN {sql_name(_other_end(c))}"
                f" ELSE {sql_name(c)} END AS {sql_name(c)}"
                for c in pairs.columns
            ]
        )
    return pairs.select("src", "dst", F.lit(etype).alias("type"), *payload)


def edge_key(src: int, dst: int, etype: str) -> tuple:
    """The identity of the stored rows :func:`orient_edges` makes of the
    pair ``(src, dst)``: the unordered pair for a canonical or a
    bidirectional type (either direction stores the same rows), the
    ordered one for any other type."""
    if etype in CANONICAL_TYPES or etype in BIDIRECTIONAL_TYPES:
        src, dst = min(src, dst), max(src, dst)
    return (etype, src, dst)


# Columns of the named undirected adjacency, in this order: one row per
# reading direction of a stored edge, ``is_edge`` true on the row in
# the stored orientation, then both endpoint names and houses and the
# other endpoint's image (the ego, Winder and house subgraph
# responses).
ADJACENCY_COLS = (
    "src", "dst", "type", "is_edge", "src_name", "dst_name", "src_house",
    "dst_house", "dst_image",
)


def _of_types(df: DataFrame, types: tuple[str, ...] | None) -> DataFrame:
    return df if types is None else df.filter(F.col("type").isin(list(types)))


def symmetrize(edges: DataFrame) -> DataFrame:
    """Undirected view of stored edge rows: every row, ``is_edge`` true,
    plus the reverse (:func:`_reversed`, payload pairs swapped too) of
    each canonical-type row that is not a self-loop, ``is_edge`` false.

    Reproduces Cypher's ``-[:T]-`` over one-way storage
    (SURVEY.md §1.3). Bidirectional types are already stored both ways,
    so only canonical types get reversed — no double counting — and a
    self-loop reads the same both ways, so it is seen once, as Neo4j
    expands a loop once.
    """
    rev = _reversed(
        edges.filter(
            F.col("type").isin(list(CANONICAL_TYPES))
            & (F.col("src") != F.col("dst"))
        )
    )
    return edges.withColumn("is_edge", F.lit(True)).unionByName(
        rev.withColumn("is_edge", F.lit(False))
    )


def name_adjacency(
    sym: DataFrame, persons: DataFrame, seeds: Column | None = None
) -> DataFrame:
    """:data:`ADJACENCY_COLS` rows for :func:`symmetrize` rows.

    Both endpoints are inner-joined on from ``persons``: every stored
    edge joins two persons, so no row is dropped. ``seeds``, a predicate
    on ``src_name``, keeps only the rows of the persons it selects; those
    are a point read's few seeds, so they are broadcast into the edge
    scan.
    """
    p = with_person_props(persons)
    src_p = p.select(
        F.col("id").alias("src"),
        F.col("name").alias("src_name"),
        F.col("house").alias("src_house"),
    )
    if seeds is not None:
        src_p = F.broadcast(src_p.filter(seeds))
    dst_p = p.select(
        F.col("id").alias("dst"),
        F.col("name").alias("dst_name"),
        F.col("house").alias("dst_house"),
        F.col("image").alias("dst_image"),
    )
    return sym.join(src_p, "src").join(dst_p, "dst").select(*ADJACENCY_COLS)


@dataclass(frozen=True)
class GraphModel:
    """The materialized-as-plan property graph for one scale factor."""

    persons: DataFrame
    houses: DataFrame
    edges: DataFrame
    # Identity of the immutable store snapshot backing this model, set by
    # ``store.load_graph`` ((store dir, build-marker mtime)) and None for
    # derived/mutated models. Enables the Cypher compiled-plan cache
    # (cypher.run_cypher): Neo4j-style statement-plan caching is only
    # sound when the underlying graph is known not to have changed.
    plan_cache_key: tuple | None = None
    # The undirected adjacency (:data:`ADJACENCY_COLS`) of ``edges`` as
    # named by ``persons``, or None to derive it per query. Set by
    # ``store.load_graph`` (the stored table) and kept by a Cypher write
    # over such a graph (:meth:`Delta.model`); every other derivation
    # builds a model without it, so it can never go stale.
    adjacency: DataFrame | None = None
    # The write session this model is the result of, None for a model
    # no Cypher write produced.
    delta: "Delta | None" = None

    def named_adjacency(
        self, types: tuple[str, ...] | None = None, seeds: Column | None = None
    ) -> DataFrame:
        """Undirected edges of ``types`` (all if None) with ``is_edge``,
        endpoint names and houses and the other endpoint's image
        (:data:`ADJACENCY_COLS`), restricted to the rows whose
        ``src_name`` satisfies ``seeds`` if given.

        This is the one place that picks between the adjacency (a scan
        pruned to the ``types`` partitions and, through row-group stats,
        to the seeds) and its lazy derivation from ``edges`` and
        ``persons`` (a union and two joins, the seeds broadcast).
        """
        if self.adjacency is None:
            sym = symmetrize(_of_types(self.edges, types))
            return name_adjacency(sym, self.persons, seeds)
        adj = _of_types(self.adjacency, types).select(*ADJACENCY_COLS)
        return adj if seeds is None else adj.filter(seeds)

    def sym_edges(self, types: tuple[str, ...] | None = None) -> DataFrame:
        """Undirected ``(src, dst, type)`` edges of ``types`` (all if None).

        The ``(src, dst, type)`` projection of the adjacency when the
        graph has one; otherwise of :func:`symmetrize` of ``edges``,
        which needs no ``persons`` join.
        """
        if self.adjacency is None:
            sym = symmetrize(_of_types(self.edges, types))
        else:
            sym = _of_types(self.adjacency, types)
        return sym.select("src", "dst", "type")


@dataclass(frozen=True)
class Delta:
    """A Cypher write session's changes over the snapshot it started
    from, each frame one small checkpoint (``cypher.writes`` builds and
    commits them; :meth:`model` assembles the graph they make).

    - ``persons``: the person rows the session created or changed, in
      full; ``replaced`` holds the ids of the changed snapshot persons,
      whose snapshot rows the model filters out, and ``created`` the
      ids of the persons the session created.
    - ``houses``: the house rows the session created.
    - ``adjacency``: :data:`ADJACENCY_COLS` rows. They are both reading
      directions of every edge the session added and, if the snapshot
      has an adjacency, every snapshot adjacency row that names a
      replaced person, relabelled with its new properties. Each keeps
      its ``is_edge``, so the flagged rows are the delta's edges: the
      added ones and the snapshot edges of the replaced persons.
      ``edges`` holds the :func:`edge_key` of every pair the session
      merged, stored in the snapshot or added here.

    Each frame of the model follows one rule: the snapshot's rows that
    name no replaced person, plus the delta's rows (for ``edges``, its
    flagged adjacency rows). Without a snapshot adjacency nothing is
    relabelled, so the snapshot's edges are kept whole. So each frame
    is one snapshot scan (filtered on a literal id list once a snapshot
    person changed) and one checkpoint: neither the commit nor a read
    grows with the graph or with the number of statements.
    """

    snapshot: GraphModel
    persons: DataFrame | None = None
    houses: DataFrame | None = None
    adjacency: DataFrame | None = None
    created: frozenset = frozenset()
    replaced: frozenset = frozenset()
    edges: frozenset = frozenset()

    def model(self) -> GraphModel:
        s = self.snapshot
        persons, houses, edges, adjacency = (
            s.persons, s.houses, s.edges, s.adjacency
        )
        if self.replaced:
            gone = list(self.replaced)
            persons = persons.filter(~F.col("id").isin(gone))
            if adjacency is not None:
                keep = ~F.col("src").isin(gone) & ~F.col("dst").isin(gone)
                edges, adjacency = edges.filter(keep), adjacency.filter(keep)
        if self.persons is not None:
            persons = persons.unionByName(
                self.persons, allowMissingColumns=True
            )
        if self.houses is not None:
            houses = houses.unionByName(self.houses)
        if self.adjacency is not None:
            edges = edges.unionByName(
                self.adjacency.filter("is_edge").select(*edges.columns)
            )
            if adjacency is not None:
                adjacency = adjacency.unionByName(self.adjacency)
        return GraphModel(
            persons=persons,
            houses=houses,
            edges=edges,
            adjacency=adjacency,
            delta=self,
        )


def build_graph(spark: SparkSession, sf_dir: str) -> GraphModel:
    persons = persons_df(spark, sf_dir)
    return GraphModel(
        persons=persons,
        houses=houses_df(spark, sf_dir),
        edges=build_edges(persons),
    )
