"""Ingest ETL: raw character JSON → persons/houses/edges tables.

Spark-first replacement for the reference's build pipeline
(get_insert.py:59-176): where the reference loops characters and issues
three MERGE statements per row over Bolt, this is one declarative batch
job — read JSON with an explicit schema, normalize, dedup with
last-writer-wins, derive rule edges set-based, write parquet.

Covers SURVEY.md §2.1: S1 (JSON source with explicit StructType), S2
(truncate ≡ overwrite), S3 (uniqueness ≡ dedup + assert), S4/S5
(MERGE upsert ≡ deterministic batch dedup), S6 (user-node writeback as
append+merge), plus P9 null/empty normalization and F6 defaults.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from neo4j_database_spark.graph.model import orient_edges

# Explicit ingest schema (HP-API shape, get_insert.py:77-102 +
# ml_model.pyc preprocess fields). Inference is for dev only — at 100 TB
# schema inference means an extra full pass over the input.
CHARACTER_SCHEMA = T.StructType(
    [
        T.StructField("id", T.StringType()),
        T.StructField("name", T.StringType()),
        T.StructField("house", T.StringType()),
        T.StructField("species", T.StringType()),
        T.StructField("gender", T.StringType()),
        T.StructField("ancestry", T.StringType()),
        T.StructField("alive", T.BooleanType()),
        T.StructField("image", T.StringType()),
        T.StructField("hogwartsStudent", T.BooleanType()),
        T.StructField("hogwartsStaff", T.BooleanType()),
        T.StructField("wizard", T.BooleanType()),
    ]
)


def read_characters_json(spark: SparkSession, path: str) -> DataFrame:
    """S1: JSON source with explicit schema (one object per line)."""
    return spark.read.schema(CHARACTER_SCHEMA).json(path)


def normalize_persons(raw: DataFrame) -> DataFrame:
    """Default-filling + last-writer-wins upsert semantics.

    Mirrors get_insert.py:76-103: skip empty names, house→'Unknown'
    when absent, alive defaults true, image defaults '', id falls back
    to name; plus the ml_model preprocess normalizations (''→'unknown'
    species etc.). Cypher MERGE keeps one node per name with the LAST
    written properties — reproduced deterministically with a
    row_number window over the ingest order marker.
    """
    w = Window.partitionBy("name").orderBy(F.desc("_ingest_order"))
    blank_to_null = lambda c: F.nullif(F.col(c), F.lit(""))  # noqa: E731
    return (
        raw.filter(F.col("name").isNotNull() & (F.col("name") != ""))
        .withColumn("_ingest_order", F.monotonically_increasing_id())
        .select(
            F.coalesce(blank_to_null("id"), F.col("name")).alias("id"),
            F.col("name"),
            F.coalesce(blank_to_null("house"), F.lit("Unknown")).alias("house"),
            F.coalesce(blank_to_null("species"), F.lit("human")).alias("species"),
            F.coalesce(blank_to_null("gender"), F.lit("unknown")).alias("gender"),
            F.coalesce(blank_to_null("ancestry"), F.lit("unknown")).alias("ancestry"),
            F.coalesce(F.col("alive"), F.lit(True)).alias("alive"),
            F.coalesce(F.col("image"), F.lit("")).alias("image"),
            F.lit(False).alias("is_user"),
            F.col("_ingest_order"),
        )
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn", "_ingest_order")
    )


def derive_houses(persons: DataFrame) -> DataFrame:
    """House nodes = distinct non-empty house values (get_insert.py:84)."""
    return (
        persons.select(F.col("house").alias("name"))
        .filter(F.col("name").isNotNull() & (F.col("name") != ""))
        .distinct()
    )


def derive_rule_edges(
    persons: DataFrame,
    enemy_houses: tuple[str, str] = ("Gryffindor", "Slytherin"),
    romances: list[tuple[str, str]] | None = None,
    name_alias: dict[str, str] | None = None,
) -> DataFrame:
    """The four rule joins of get_insert.py:113-163, set-based.

    - SAME_FAMILY (J5): names containing a space, equal last token,
      canonical name order. The join key is derived FIRST (equi-join on
      last_name), never a theta-join.
    - FRIEND_OF (J6): equal non-Unknown house, canonical order. The
      skew-prone quadratic self-join — AQE skew handling is on.
    - ENEMY_OF (J7): filtered cross join, both directions.
    - ROMANTIC_WITH (J8): curated pair list resolved through the alias
      map (F8) with equality-then-contains fallback, both directions.
    """
    p = persons.select("id", "name", "house")

    last = F.element_at(F.split(F.col("name"), " "), -1)
    fam = p.filter(F.col("name").contains(" ")).select(
        "id", "name", last.alias("last_name")
    )
    a, b = fam.alias("a"), fam.alias("b")
    family = (
        a.join(b, F.col("a.last_name") == F.col("b.last_name"))
        .filter(F.col("a.name") < F.col("b.name"))
        .select(
            F.col("a.id").alias("src"),
            F.col("b.id").alias("dst"),
            F.lit("SAME_FAMILY").alias("type"),
        )
    )

    fr = p.filter((F.col("house") != "Unknown") & (F.col("house") != ""))
    fa, fb = fr.alias("a"), fr.alias("b")
    friends = (
        fa.join(fb, F.col("a.house") == F.col("b.house"))
        .filter(F.col("a.name") < F.col("b.name"))
        .select(
            F.col("a.id").alias("src"),
            F.col("b.id").alias("dst"),
            F.lit("FRIEND_OF").alias("type"),
        )
    )

    ga = p.filter(F.col("house") == enemy_houses[0]).select(F.col("id").alias("src"))
    gb = p.filter(F.col("house") == enemy_houses[1]).select(F.col("id").alias("dst"))
    enemies = orient_edges(ga.crossJoin(gb), "ENEMY_OF")

    romance = _romance_edges(p, romances or [], name_alias or {})

    return (
        family.unionByName(friends)
        .unionByName(enemies)
        .unionByName(romance)
        .dropDuplicates(["src", "dst", "type"])
    )


def _romance_edges(
    p: DataFrame, pairs: list[tuple[str, str]], alias_map: dict[str, str]
) -> DataFrame:
    """J8: curated romance pairs via a small broadcast lookup.

    The reference loops 27 pairs issuing `name = $p OR name CONTAINS $p`
    statements (get_insert.py:157-163). Here the pair list becomes a tiny
    DataFrame, alias-resolved, joined twice against persons: exact-match
    first, contains-fallback only for pairs that missed — one plan, no
    driver loop, and the non-equi contains join only ever sees the
    (tiny) unmatched remainder crossed with persons.
    """
    spark = p.sparkSession
    if not pairs:
        return spark.createDataFrame([], "src string, dst string, type string")
    resolved = [
        (alias_map.get(x, x), alias_map.get(y, y)) for x, y in pairs
    ]
    pair_df = spark.createDataFrame(resolved, "p1 string, p2 string")

    def lookup(side: str) -> DataFrame:
        exact = pair_df.join(
            p.select(F.col("name").alias(side), F.col("id").alias(f"{side}_id")),
            side,
            "left",
        )
        missed = exact.filter(F.col(f"{side}_id").isNull()).drop(f"{side}_id")
        fuzzy = missed.join(
            F.broadcast(p.select("name", F.col("id").alias(f"{side}_id"))),
            F.col("name").contains(F.col(side)),
            "left",
        ).drop("name")
        hit = exact.filter(F.col(f"{side}_id").isNotNull())
        return hit.unionByName(fuzzy)

    both = lookup("p1").join(lookup("p2").select("p1", "p2", "p2_id"), ["p1", "p2"])
    fwd = both.filter(
        F.col("p1_id").isNotNull() & F.col("p2_id").isNotNull()
    ).select(F.col("p1_id").alias("src"), F.col("p2_id").alias("dst"))
    return orient_edges(fwd, "ROMANTIC_WITH")


def upsert_user_node(
    persons: DataFrame,
    edges: DataFrame,
    name: str,
    house: str,
    friends: list[str],
    enemies: list[str],
) -> tuple[DataFrame, DataFrame]:
    """S6: the /predict writeback (app.py:100-132) as batch merge.

    MERGE user node (last-writer-wins on name), then MERGE FRIEND_OF /
    ENEMY_OF edges to the named persons — append + dedup, matching the
    create-iff-absent semantics. The edge rows are stored per the model
    contract (``model.orient_edges``): FRIEND_OF once, ordered by name;
    ENEMY_OF in both directions.
    """
    spark = persons.sparkSession
    user_row = spark.createDataFrame(
        [(name, name, house, "human", "unknown", "unknown", True, "", True)],
        "id string, name string, house string, species string, gender string,"
        " ancestry string, alive boolean, image string, is_user boolean",
    )
    merged_persons = (
        persons.filter(F.col("name") != name).unionByName(
            user_row.select(*persons.columns)
        )
    )
    ids = merged_persons.select("id", "name")

    def edge_batch(names: list[str], etype: str) -> DataFrame:
        if not names:
            return spark.createDataFrame([], "src string, dst string, type string")
        pairs = ids.filter(F.col("name").isin(names)).select(
            F.lit(name).alias("src"),
            F.col("id").alias("dst"),
            F.lit(name).alias("src_name"),
            F.col("name").alias("dst_name"),
        )
        return orient_edges(pairs, etype).select("src", "dst", "type")

    new_edges = edge_batch(friends, "FRIEND_OF").unionByName(
        edge_batch(enemies, "ENEMY_OF")
    )
    merged_edges = edges.unionByName(new_edges).dropDuplicates(
        ["src", "dst", "type"]
    )
    return merged_persons, merged_edges


def assert_unique_names(persons: DataFrame) -> None:
    """S3: the uniqueness constraint as a post-build assertion."""
    total, distinct = persons.select(
        F.count("*"), F.countDistinct("name")
    ).first()
    if total != distinct:
        raise AssertionError(
            f"person name uniqueness violated: {total} rows, {distinct} names"
        )
