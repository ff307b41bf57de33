"""Span decode: interleaved documents -> node-POI, packed-relation and
admin-polygon frames.

The graft analogue of the reference's PBF scans S1-S4
(/root/reference/src/input/osminputhelper.cpp:516-584, 277-359, 373-414,
428-466). Tag extraction stays ENTIRELY in Catalyst (array filter/transform
+ ``map_from_entries`` — whole-stage codegen, pushdown-friendly). The
geometry payloads cross into Python as Arrow-batched kernels:

- point blobs (``decode_point_rows``): fixed 17-byte layout, checked and
  decoded with one ``np.frombuffer`` per batch (``geoblob.unpack_points``;
  no per-row parsing). The label pipeline (``plans.pipeline.label_rows``)
  admits node docs on their tags in Catalyst first, so only admitted rows
  join the blobs and enter the kernel, without ``tags``; a truncated or
  foreign blob that only a non-admitted node references is never decoded
  and does not fail the job. ``decode_node_pois`` decodes every node doc
  and carries ``tags`` through the kernel, for callers that classify
  afterwards;
- segment blobs (``decode_segments``): variable length, decoded per blob
  with numpy views (bounded by the synth segment sizes; only ~10%% of
  documents are areas). Only blobs that relation or admin docs reference
  are decoded.

Doc-kind routing uses the ``doc_id`` prefix (``node/ rel/ admin/``), a
plain string predicate the optimizer can push into the scan.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator
from dataclasses import dataclass

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    IntegerType,
    LongType,
    MapType,
    StringType,
    StructField,
    StructType,
)

from osmgraft.sources import geoblob


# ---------------------------------------------------------------------------
# Catalyst-side span handling
# ---------------------------------------------------------------------------


def _spans_sorted() -> Column:
    """Spans ordered by offset (the per-row invariant key order)."""
    return F.array_sort(F.col("spans"), lambda a, b: a["offset"] - b["offset"])


def tag_entries_expr() -> Column:
    """tag spans -> ORDERED array<struct<key,value>> (span-offset order =
    the reference's tag-vector iteration order; needed by the literal
    name-resolution mode, whose official_name/name quirk is
    order-dependent — osminputhelper.cpp:497-509)."""
    return F.transform(
        F.filter(_spans_sorted(), lambda s: s["kind"] == F.lit("tag")),
        lambda s: F.struct(
            F.split_part(s["text"], F.lit("="), F.lit(1)).alias("key"),
            F.regexp_replace(s["text"], F.lit("^[^=]*="), F.lit("")).alias("value"),
        ),
    )


def tags_expr() -> Column:
    """tag spans -> map<string,string> (P2; key/value split on first '=')."""
    entries = F.transform(
        F.filter(F.col("spans"), lambda s: s["kind"] == F.lit("tag")),
        lambda s: F.struct(
            F.split_part(s["text"], F.lit("="), F.lit(1)).alias("key"),
            F.regexp_replace(s["text"], F.lit("^[^=]*="), F.lit("")).alias("value"),
        ),
    )
    return F.map_from_entries(entries)


def with_tags(docs: DataFrame) -> DataFrame:
    return docs.withColumn("tags", tags_expr())


def doc_osm_id() -> Column:
    return F.split_part(F.col("doc_id"), F.lit("/"), F.lit(2)).cast("long")


def geom_ref_array() -> Column:
    """array<string> of blob ids referenced by a doc's media spans, span
    order kept."""
    return F.transform(
        F.filter(_spans_sorted(), lambda s: s["kind"] == F.lit("geom")),
        lambda s: F.replace(s["media_ref"], F.lit("geom://"), F.lit("")),
    )


def geom_refs(docs: DataFrame) -> DataFrame:
    """(doc_id, ord, blob_id) — one row per media span, span order kept."""
    return docs.select("doc_id", F.posexplode(geom_ref_array()).alias("ord", "blob_id"))


# ---------------------------------------------------------------------------
# Arrow-batched blob kernels
# ---------------------------------------------------------------------------

_NODE_POI_SCHEMA = StructType(
    [
        StructField("osm_id", LongType()),
        StructField("lat", DoubleType()),
        StructField("lon", DoubleType()),
        StructField("tags", MapType(StringType(), StringType())),
    ]
)


def node_doc_rows(node_docs: DataFrame, literal_names: bool = False) -> DataFrame:
    """(osm_id, tags, blob_id[, _name_lit]) from node docs in one Catalyst
    pass; no blob is touched.

    ``literal_names=True`` additionally computes the reference binary's
    order-dependent get_name result (``_name_lit``) from the ordered tag
    spans BEFORE they collapse to a map — the only point in the plan where
    tag order still exists."""
    from osmgraft.functions.names import import_name_literal_expr

    cols = [
        doc_osm_id().alias("osm_id"),
        tags_expr().alias("tags"),
        # a node doc carries exactly one geometry span (its position)
        F.element_at(geom_ref_array(), 1).alias("blob_id"),
    ]
    if literal_names:
        cols.append(import_name_literal_expr(tag_entries_expr()).alias("_name_lit"))
    return node_docs.select(*cols)


def decode_point_rows(
    rows: DataFrame,
    blobs: DataFrame,
    schema: StructType,
    finish: Callable[[pd.DataFrame], pd.DataFrame] | None = None,
) -> DataFrame:
    """ONE equi-join of ``rows`` (any columns plus ``blob_id``) with the
    blobs table, then one narrow Arrow kernel: the fixed-size point
    payloads are checked and unpacked per batch, ``blob_id``/``payload``
    are replaced by ``lat``/``lon``, and ``finish`` (default: select the
    ``schema`` columns) maps the batch to ``schema`` in the same worker."""
    joined = rows.join(blobs.select("blob_id", "payload"), "blob_id")
    names = schema.fieldNames()

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            coords = geoblob.unpack_points(pdf["blob_id"], pdf["payload"])
            pdf = pdf.drop(columns=["blob_id", "payload"]).assign(
                lat=coords[:, 0], lon=coords[:, 1]
            )
            yield finish(pdf) if finish else pdf[names]

    return joined.mapInPandas(kernel, schema=schema)


def decode_node_pois(
    node_docs: DataFrame, blobs: DataFrame, literal_names: bool = False
) -> DataFrame:
    """Every node doc -> (osm_id, lat, lon, tags[, _name_lit]): tags and
    the first geom ref in one Catalyst pass, one blob join, and the point
    kernel with the tags riding through the batch. The label pipeline
    admits node docs on their tags first and decodes only those
    (``plans.pipeline.label_rows``)."""
    schema = _NODE_POI_SCHEMA
    if literal_names:
        schema = StructType(_NODE_POI_SCHEMA.fields + [StructField("_name_lit", StringType())])
    return decode_point_rows(node_doc_rows(node_docs, literal_names), blobs, schema)


_SEGMENT_SCHEMA = StructType(
    [
        StructField("blob_id", StringType()),
        StructField("role", IntegerType()),
        StructField("way_id", LongType()),
        StructField("node_ids", ArrayType(LongType())),
        StructField("lats", ArrayType(DoubleType())),
        StructField("lons", ArrayType(DoubleType())),
    ]
)


def decode_segments(blob_rows: DataFrame) -> DataFrame:
    """blobs with SEGMENT payloads -> way rows with coordinate arrays."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: dict[str, list] = {k: [] for k in ("blob_id", "role", "way_id", "node_ids", "lats", "lons")}
            for bid, payload in zip(pdf["blob_id"], pdf["payload"]):
                d = geoblob.unpack(bytes(payload))
                if d["kind"] != geoblob.KIND_SEGMENT:
                    continue
                out["blob_id"].append(bid)
                out["role"].append(int(d["role"]))
                out["way_id"].append(int(d["way_id"]))
                out["node_ids"].append(d["node_ids"])
                out["lats"].append(d["lats"])
                out["lons"].append(d["lons"])
            yield pd.DataFrame(out)

    return blob_rows.select("blob_id", "payload").mapInPandas(kernel, schema=_SEGMENT_SCHEMA)


# ---------------------------------------------------------------------------
# Frame assembly
# ---------------------------------------------------------------------------


@dataclass
class DecodedFrames:
    node_pois: DataFrame  # osm_id, lat, lon, tags
    polygons: DataFrame   # poly_id, name, ring_lats, ring_lons
    # rel_id, tags, has_missing, mem:array<struct<ord,role,way_id,node_ids,lats,lons>>
    # — the single-shuffle packed form the area path consumes directly
    # (unknown-role relations dropped)
    rel_packed: DataFrame


def decode_relations(
    rel_docs: DataFrame, blobs: DataFrame, literal_names: bool = False
) -> DataFrame:
    """Relation docs -> packed relations (rel_id, mem, has_missing, tags
    [, _name_lit]): the segment decode, member resolution and ONE rel_id
    exchange. Only blobs referenced by relation docs are decoded."""
    rel_refs = geom_refs(rel_docs).withColumn(
        "rel_id", F.split_part(F.col("doc_id"), F.lit("/"), F.lit(2)).cast("long")
    )
    seg_blobs = blobs.join(rel_refs.select("blob_id"), "blob_id", "leftsemi")
    segs = decode_segments(seg_blobs)

    # member resolution: INNER join (not left-outer) so the join can build
    # on the SLIM refs side — dangling refs are detected by comparing the
    # matched-member count against the per-relation ref count instead of
    # surfacing NULL way_ids. With a left-outer join only the fat segs
    # side is broadcastable (build must be the non-preserved side), so the
    # coordinate arrays took a full blob_id shuffle BEFORE the unavoidable
    # rel_id groupBy shuffle — measured as the pipeline's worst-scaling
    # stage (1.6x for 4x cores on a membw-starved host). Inner + slim
    # count join lets AQE broadcast the refs and the coords flow straight
    # from decode into the ONE rel_id exchange.
    members = rel_refs.join(
        segs.select("blob_id", "role", "way_id", "node_ids", "lats", "lons"),
        "blob_id",
    )
    ref_counts = rel_refs.groupBy("rel_id").agg(F.count("*").alias("_n_refs"))
    rel_grouped = (
        members.groupBy("rel_id")
        .agg(
            F.sort_array(
                F.collect_list(
                    F.struct("ord", "role", "way_id", "node_ids", "lats", "lons")
                )
            ).alias("mem"),
            F.max((F.col("role") == geoblob.ROLE_UNKNOWN).cast("int")).alias("_has_unknown"),
            F.count("*").alias("_n_matched"),
        )
        # unknown member role => relation ignored (osminputhelper.cpp:328-337)
        .where(F.col("_has_unknown") == 0)
        .join(ref_counts, "rel_id")
        .select("rel_id", "mem", (F.col("_n_matched") < F.col("_n_refs")).alias("has_missing"))
    )
    # (a relation whose refs ALL dangle vanishes here instead of carrying
    # has_missing=true — identical downstream: P9 drops has_missing rels)
    rel_tag_cols = [doc_osm_id().alias("rel_id"), tags_expr().alias("tags")]
    if literal_names:
        from osmgraft.functions.names import import_name_literal_expr

        rel_tag_cols.append(import_name_literal_expr(tag_entries_expr()).alias("_name_lit"))
    return rel_grouped.join(rel_docs.select(*rel_tag_cols), "rel_id")


def decode_documents(
    docs: DataFrame, blobs: DataFrame, literal_names: bool = False
) -> DecodedFrames:
    """Full decode. Blob decodes are demand-driven: only blobs referenced by
    surviving documents are read (left-semi join = the reference's
    requested-id passes J1/J2, osminputhelper.cpp:604-631).

    ``literal_names=True`` carries the order-dependent literal import-name
    (``_name_lit``) on node_pois and rel_packed for the fidelity mode."""
    node_docs = docs.where(F.col("doc_id").startswith("node/"))
    rel_docs = docs.where(F.col("doc_id").startswith("rel/"))
    admin_docs = docs.where(F.col("doc_id").startswith("admin/"))

    node_pois = decode_node_pois(node_docs, blobs, literal_names=literal_names)
    rel_packed = decode_relations(rel_docs, blobs, literal_names=literal_names)

    # --- admin polygons --------------------------------------------------
    admin_refs = geom_refs(admin_docs)
    admin_blobs = blobs.join(admin_refs.select("blob_id"), "blob_id", "leftsemi")
    admin_segs = decode_segments(admin_blobs)
    admin_tags = with_tags(admin_docs).select(
        doc_osm_id().alias("poly_id"),
        F.col("doc_id"),
        F.element_at("tags", "name").alias("name"),
    )
    polygons = (
        admin_refs.join(admin_segs, "blob_id")
        .join(admin_tags, "doc_id")
        .select(
            "poly_id",
            "name",
            F.col("lats").alias("ring_lats"),
            F.col("lons").alias("ring_lons"),
        )
    )

    return DecodedFrames(node_pois, polygons, rel_packed)
