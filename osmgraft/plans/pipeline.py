"""End-to-end POI label pipeline — the reference's ``main``
(/root/reference/src/main.cpp:107-164) as one declarative Spark plan:

node docs ─ P1/C1/P3/P7 on tags ─ blob join ─ [point decode + L2-L6] ───────────┐
                                                                                ├─ U1 union ─ O1/O2 rank ─ K1 sink
rel docs ─ [segment decode] ─ J1..J4 ─ P1/C1 on tags ─ P8/P9 ─ [A1/A2 + L2-L6] ─┘

Filter, classify, import name, label source and population are compiled
Catalyst expressions over the tags map, and the levels dimension is a
broadcast join. The bracketed steps are the plan's only Python operators
(three ``mapInPandas`` kernels), and none of them receives ``tags``: a
node or area row crosses into Python once, and its label ball is computed
in the kernel that decodes its geometry. ``label_rows`` is that pre-rank
frame; ``label_pipeline`` ranks it.

``extract_pois``, ``admitted_node_pois``/``admitted_area_pois`` and
``functions.labels.attach_label_ball`` compose the same semantics from
separate blocks (decode with tags, classify, a label UDF); tests and the
benchmark's traced run use them.
"""

from __future__ import annotations

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import DoubleType, LongType, StringType, StructField, StructType

from osmgraft.functions.classify import filter_expr, level_expr, levels_rows
from osmgraft.functions.labels import format_complete_rows, label_balls
from osmgraft.functions.names import (
    import_name_expr,
    label_name_expr,
    label_name_literal_expr,
    population_expr,
)
from osmgraft.operators.areas import area_pois, packed_area_centroids
from osmgraft.operators.rank import global_rank
from osmgraft.schemas import LEVELS
from osmgraft.sources.config import LabelConfig, default_config
from osmgraft.sources.decode import (
    DecodedFrames,
    decode_documents,
    decode_point_rows,
    decode_relations,
    node_doc_rows,
)

# the pre-rank label row, as both label kernels emit it. Nullability is
# part of the schema that stage lineage records: a staged chunk whose
# schema differs from the rebuilt frame's is rewritten on resume.
LABEL_ROWS = StructType(
    [
        StructField("lat", DoubleType()),
        StructField("lon", DoubleType()),
        StructField("level_id", LongType(), False),
        StructField("population", LongType(), False),
        StructField("osm_id", LongType()),
        StructField("label", StringType()),
        StructField("radius", DoubleType()),
        StructField("factor", DoubleType(), False),
    ]
)
# what a POI row carries into its kernel besides its id and geometry
_LABEL_META = ("level_id", "population", "factor", "icon", "label_src")


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
    """P1 + C1 + P3 over any frame with a ``tags`` map; none of them needs
    the geometry."""
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


def _with_label_meta(pois: DataFrame, literal_bugs: bool) -> DataFrame:
    """O1 population and the P4 label source, the last values read from
    ``tags``."""
    label_src = label_name_literal_expr if literal_bugs else label_name_expr
    return pois.withColumn("population", population_expr(F.col("tags"))).withColumn(
        "label_src", label_src(F.col("tags"))
    )


def _label_batch(cfg: LabelConfig, id_col: str):
    """Kernel tail: a pandas batch of (id_col, lat, lon, *_LABEL_META) ->
    ``LABEL_ROWS``, computing the label balls in the same worker."""
    split_bound, chars = cfg.split_bound, frozenset(cfg.split_chars)

    def finish(pdf: pd.DataFrame) -> pd.DataFrame:
        labels, radii = label_balls(pdf["label_src"], pdf["icon"], pdf["factor"], split_bound, chars)
        out = pdf.rename(columns={id_col: "osm_id"}).assign(
            label=labels, radius=radii, factor=pdf["factor"].astype("float64")
        )
        return out[LABEL_ROWS.fieldNames()]

    return finish


def label_rows(
    spark: SparkSession,
    docs: DataFrame,
    blobs: DataFrame,
    cfg: LabelConfig | None = None,
    literal_bugs: bool = False,
) -> DataFrame:
    """Unranked label rows ``LABEL_ROWS`` of every admitted node and area
    POI, through three Python operators (point kernel, segment decode,
    area kernel), none of which receives ``tags`` or ``_name_lit``.

    Nodes are admitted (P1/C1/P3/P7) on their tags before the blob join,
    so only admitted rows join blobs. Relations are filtered and
    classified on their tags before assembly; neither step needs the
    geometry."""
    cfg = cfg or default_config()
    levels = levels_df(spark, cfg)

    node_docs = docs.where(F.col("doc_id").startswith("node/"))
    nodes = admitted_node_pois(
        node_doc_rows(node_docs, literal_names=literal_bugs), cfg, levels, literal_bugs
    )
    node_rows = decode_point_rows(
        _with_label_meta(nodes, literal_bugs).select("osm_id", "blob_id", *_LABEL_META),
        blobs,
        LABEL_ROWS,
        _label_batch(cfg, "osm_id"),
    )

    rels = decode_relations(docs.where(F.col("doc_id").startswith("rel/")), blobs)
    classified = (
        classify_pois(rels, cfg).where(F.col("level_id") != 0).join(F.broadcast(levels), "level_id")
    )
    area_rows = packed_area_centroids(
        _with_label_meta(classified, literal_bugs),
        literal_bugs=literal_bugs,
        passthrough=_LABEL_META,
        finish=_label_batch(cfg, "rel_id"),
        schema=LABEL_ROWS,
    )
    return node_rows.unionByName(area_rows)


def label_pipeline(
    spark: SparkSession,
    docs: DataFrame,
    blobs: DataFrame,
    cfg: LabelConfig | None = None,
    literal_bugs: bool = False,
) -> DataFrame:
    """Full pipeline -> ranked label balls
    (lat, lon, level_id, rank, radius, osm_id, label, factor)."""
    return global_rank(label_rows(spark, docs, blobs, cfg, literal_bugs)).select(
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
