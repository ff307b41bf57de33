"""End-to-end POI label pipeline — the reference's ``main``
(/root/reference/src/main.cpp:107-164) as one declarative Spark plan:

documents ─ decode ─ P1 filter ─ C1 classify ─ P3/P7 admission ─┐
                                                                 ├─ U1 union ─ O1/O2 rank ─ L2-L6 label ─ K1 sink
documents ─ decode ─ relations ─ J1..J4 ─ P8/P9 ─ A1/A2 areas ──┘

Everything up to the label UDF is pure Catalyst (filter/classify/name are
compiled expressions; the levels dimension is a broadcast join). One job,
shuffle boundaries only at: rel_id grouping (area assembly), the range
sort, and nothing else.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from osmgraft.functions.classify import filter_expr, level_expr, levels_rows
from osmgraft.functions.labels import attach_label_ball, format_complete_rows
from osmgraft.functions.names import import_name_expr, label_name_expr
from osmgraft.operators.areas import area_pois
from osmgraft.operators.rank import global_rank
from osmgraft.schemas import LEVELS
from osmgraft.sources.config import LabelConfig, default_config
from osmgraft.sources.decode import DecodedFrames, decode_documents


def levels_df(spark: SparkSession, cfg: LabelConfig) -> DataFrame:
    return spark.createDataFrame(levels_rows(cfg), schema=LEVELS)


def _name_col(df: DataFrame, literal_bugs: bool) -> F.Column:
    """P3: intended fixed-priority coalesce, or (literal mode) the decoded
    order-dependent ``_name_lit`` reproducing the reference's
    official_name/name suppression bug (osminputhelper.cpp:504)."""
    if literal_bugs and "_name_lit" in df.columns:
        return F.col("_name_lit")
    return import_name_expr(F.col("tags"))


def classify_pois(df: DataFrame, cfg: LabelConfig, literal_bugs: bool = False) -> DataFrame:
    """P1 + C1 + P3 over a (osm_id, lat, lon, tags) frame."""
    return (
        df.where(filter_expr(cfg.filter_tree, F.col("tags")))
        .withColumn("level_id", level_expr(cfg, F.col("tags")))
        .withColumn("name", _name_col(df, literal_bugs))
    )


def admitted_node_pois(
    node_pois: DataFrame, cfg: LabelConfig, levels: DataFrame, literal_bugs: bool = False
) -> DataFrame:
    """P7 node admission (osminputhelper.cpp:564-575): level defined AND
    (non-empty import-name OR icon level)."""
    classified = classify_pois(node_pois, cfg, literal_bugs=literal_bugs).where(
        F.col("level_id") != 0
    )
    with_lvl = classified.join(F.broadcast(levels), "level_id")
    return with_lvl.where((F.col("name") != "") | (F.col("icon") != "")).withColumn(
        "kind", F.lit("node")
    )


def admitted_area_pois(
    frames: DecodedFrames,
    cfg: LabelConfig,
    levels: DataFrame,
    literal_bugs: bool = False,
) -> DataFrame:
    """S2+P8/P9+A1/A2 then P7-area: only 'level defined' is checked for
    areas (osminputhelper.cpp:656-662); no name/icon requirement."""
    packed = frames.rel_packed.where(filter_expr(cfg.filter_tree, F.col("tags")))
    pois = area_pois(packed, literal_bugs=literal_bugs)
    classified = (
        pois.withColumn("level_id", level_expr(cfg, F.col("tags")))
        .where(F.col("level_id") != 0)
        .withColumn("name", _name_col(pois, literal_bugs))
    )
    return classified.join(F.broadcast(levels), "level_id").withColumn("kind", F.lit("area"))


def extract_pois(
    spark: SparkSession,
    docs: DataFrame,
    blobs: DataFrame,
    cfg: LabelConfig | None = None,
    literal_bugs: bool = False,
) -> DataFrame:
    """U1: node ∪ area POIs with level metadata attached
    (importPoiData, osminputhelper.cpp:706-734)."""
    cfg = cfg or default_config()
    levels = levels_df(spark, cfg)
    frames = decode_documents(docs, blobs, literal_names=literal_bugs)

    nodes_part = admitted_node_pois(frames.node_pois, cfg, levels, literal_bugs=literal_bugs)
    areas_part = admitted_area_pois(frames, cfg, levels, literal_bugs=literal_bugs)
    cols = ["osm_id", "kind", "lat", "lon", "tags", "level_id", "name", "level_name", "factor", "icon"]
    return nodes_part.select(*cols).unionByName(areas_part.select(*cols))


def label_pipeline(
    spark: SparkSession,
    docs: DataFrame,
    blobs: DataFrame,
    cfg: LabelConfig | None = None,
    literal_bugs: bool = False,
) -> DataFrame:
    """Full pipeline -> ranked label balls
    (lat, lon, level_id, rank, radius, osm_id, label, factor)."""
    cfg = cfg or default_config()
    pois = extract_pois(spark, docs, blobs, cfg, literal_bugs=literal_bugs)
    from osmgraft.functions.names import label_name_literal_expr, population_expr

    label_src_expr = (
        label_name_literal_expr(F.col("tags")) if literal_bugs else label_name_expr(F.col("tags"))
    )

    # label geometry BEFORE the global sort: the label UDF is a pure
    # function of (name, icon, factor), so ordering is irrelevant — and
    # ranking a SLIM projection (tags map dropped) makes the range shuffle
    # + checkpoint carry a fraction of the bytes
    labeled = attach_label_ball(
        pois.withColumn("population", population_expr(F.col("tags"))).withColumn(
            "label_src", label_src_expr
        ),
        cfg,
        name_col="label_src",
    )
    slim = labeled.select(
        "lat",
        "lon",
        "level_id",
        "population",
        "osm_id",
        "label",
        "radius",
        F.col("factor").cast("double").alias("factor"),
    )
    return global_rank(slim).select(
        "lat", "lon", "level_id", "rank", "radius", "osm_id", "label", "factor"
    )


def format_complete(labels: DataFrame, sep: str = " ", export_hierarchy: bool = False) -> DataFrame:
    """K1 text rows (without the count header — at 10^12 rows a single
    header line is written by the driver from ``df.count()``)."""
    return labels.select(format_complete_rows(labels, sep, export_hierarchy).alias("line"))


def format_balls(labels: DataFrame, sep: str = " ") -> DataFrame:
    """K2 balls-only text rows (writeBallsFile projection of K1)."""
    from osmgraft.functions.labels import format_balls_rows

    return labels.select(format_balls_rows(labels, sep).alias("line"))
