"""Entity linking: the dictionary-side winner map + the triple join.

All pure DataFrame algebra — no Spark-ML vector UDTs, no Python — so
every stage stays inside Catalyst (column pruning, broadcast
selection, AQE).

The complete winner map ``alias_norm -> curie`` is dictionary-side:
candidate generation is an equi-join on ``alias_norm``, so only
alias-shaped surfaces can link, and scoring a surface uses nothing but
the dictionary. :func:`link_map` ranks every alias key once, in one
plan, and :func:`link_triples` joins the corpus against that map;
entries for aliases a corpus never mentions match no row.

Plan shape of :func:`link_map` (one physical plan: the ``idf``
broadcast feeds both weight branches and Spark builds it once):

1. explode dictionary profiles -> per-(curie, token) counts   [shuffle]
2. document frequencies -> idf                                [shuffle]
3. entity weight maps: curie -> map<token, w> + norm          [shuffle]
4. alias keys' token weights re-collected per surface         [shuffle]
5. (surface, curie) alias pairs scored with an inline
   map-lookup dot product; window rank per surface            [shuffle]

Scoring: ``score = exact_label_bonus + dot(w_s, w_e) / |w_e|`` with
``w = token_count · idf``. Per-document tf normalization is omitted on
purpose: dividing ``w_e`` by profile length rescales ``dot`` and
``|w_e|`` identically, and dividing ``w_s`` rescales every candidate
of a surface equally — neither changes any ranking, so the plan drops
two shuffles by not computing totals. Ties break on curie ascending,
so linking is deterministic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def normalize_col(col):
    """Collapse whitespace runs, trim and lower-case: the key both the
    dictionary aliases and the corpus surfaces are joined on."""
    return F.lower(F.trim(F.regexp_replace(col, r"\s+", " ")))


def link_map(dictionary: DataFrame) -> DataFrame:
    """dictionary(curie, label, aliases) -> (surface_norm, curie): the
    winning curie for every normalized alias."""
    n_ents = dictionary.count()
    profiles = dictionary.select(
        "curie",
        F.concat_ws(" ", F.col("label"), F.array_join(F.col("aliases"), " ")).alias("doc"),
    )
    tok_e = (
        profiles.select(
            "curie", F.explode(F.split(normalize_col(F.col("doc")), " ")).alias("token")
        )
        .filter(F.col("token") != "")
        .groupBy("curie", "token")
        .agg(F.count("*").alias("cnt"))
    )
    idf = tok_e.groupBy("token").agg(
        (F.log((F.lit(n_ents) + 1.0) / (F.countDistinct("curie") + 1.0)) + 1.0).alias("idf")
    )
    ent = (
        tok_e.join(idf, "token")
        .withColumn("w", F.col("cnt") * F.col("idf"))
        .groupBy("curie")
        .agg(
            F.map_from_entries(F.collect_list(F.struct("token", "w"))).alias("w_map"),
            F.sqrt(F.sum(F.col("w") ** 2)).alias("norm_e"),
        )
    )
    # candidates: every (alias_norm, curie) pair, each alias a surface
    cands = (
        dictionary.select("curie", F.explode("aliases").alias("alias"))
        .select(normalize_col(F.col("alias")).alias("surface_norm"), "curie")
        .distinct()
    )
    labels = dictionary.select("curie", normalize_col(F.col("label")).alias("label_norm"))

    # surface token weights, re-collected per surface (surfaces are
    # short strings; the explode is 1-3 rows each)
    surf = (
        cands.select("surface_norm")
        .distinct()
        .select("surface_norm", F.explode(F.split(F.col("surface_norm"), " ")).alias("token"))
        .groupBy("surface_norm", "token")
        .agg(F.count("*").alias("cnt"))
        .join(F.broadcast(idf), "token", "left")
        .withColumn("w", F.col("cnt") * F.coalesce(F.col("idf"), F.lit(0.0)))
        .groupBy("surface_norm")
        .agg(F.collect_list(F.struct("token", "w")).alias("s_toks"))
    )

    # candidates scored with inline map-lookup dot product
    dot = F.aggregate(
        F.col("s_toks"),
        F.lit(0.0),
        lambda acc, st: acc
        + st["w"] * F.coalesce(F.element_at(F.col("w_map"), st["token"]), F.lit(0.0)),
    )
    scored = (
        cands.join(surf, "surface_norm")
        .join(F.broadcast(ent), "curie")
        .join(F.broadcast(labels), "curie")
        .select(
            "surface_norm",
            "curie",
            (
                dot / F.col("norm_e")
                + F.when(F.col("surface_norm") == F.col("label_norm"), 1.0).otherwise(0.0)
            ).alias("score"),
        )
    )
    w = Window.partitionBy("surface_norm").orderBy(F.col("score").desc(), F.col("curie"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") == 1)
        .select("surface_norm", "curie")
    )


def link_triples(triples: DataFrame, lmap: DataFrame) -> tuple[DataFrame, DataFrame]:
    """triples(url, subject_surface, predicate, object_surface) and the
    winner map ``lmap`` (from :func:`link_map`) ->
    (linked(url, subject_curie, predicate, object_curie), unlinked).

    Endpoints that match no dictionary alias drop to the ``unlinked``
    side-channel (the linking twin of J2's join-miss drop,
    ``Kuzu/kuzu_build_graph_csv.py:342-347``).
    """
    # The map is dimension-sized: lazy-checkpoint once for the two
    # broadcast builds below.
    lm = F.broadcast(lmap.localCheckpoint(eager=False))
    t = triples.withColumn("s_norm", normalize_col(F.col("subject_surface"))).withColumn(
        "o_norm", normalize_col(F.col("object_surface"))
    )
    s_map = lm.withColumnRenamed("surface_norm", "s_norm").withColumnRenamed("curie", "subject_curie")
    o_map = lm.withColumnRenamed("surface_norm", "o_norm").withColumnRenamed("curie", "object_curie")
    # the linked and unlinked branches both consume this join —
    # materialize it once instead of re-running the normalize + two
    # broadcast joins over the full triple set per output branch
    joined = t.join(s_map, "s_norm", "left").join(o_map, "o_norm", "left").localCheckpoint(
        eager=False
    )
    linked = joined.filter(
        F.col("subject_curie").isNotNull() & F.col("object_curie").isNotNull()
    ).select("url", "sentence_idx", "subject_curie", "predicate", "object_curie")
    unlinked = joined.filter(
        F.col("subject_curie").isNull() | F.col("object_curie").isNull()
    ).select("url", "sentence_idx", "subject_surface", "predicate", "object_surface")
    return linked, unlinked
