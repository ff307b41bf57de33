"""Decode correctness: span-sequence invariant (BASELINE.json.input_hint),
blob codec round-trip, and frame extraction from the synthetic table."""

from __future__ import annotations

import numpy as np
import pyspark.sql.functions as F
from hypothesis import given, settings
from hypothesis import strategies as st

from osmgraft.sources import geoblob
from osmgraft.sources.synth import SynthParams, _cluster_centers, _make


# --- blob codec round-trip -------------------------------------------------


@given(st.floats(-90, 90), st.floats(-180, 180))
def test_point_roundtrip(lat, lon):
    d = geoblob.unpack(geoblob.pack_point(lat, lon))
    assert d["kind"] == geoblob.KIND_POINT
    assert d["lat"] == lat and d["lon"] == lon


@given(
    st.integers(0, 2**40),
    st.sampled_from([geoblob.ROLE_OUTER, geoblob.ROLE_INNER, geoblob.ROLE_UNKNOWN]),
    st.lists(st.tuples(st.integers(0, 2**40), st.floats(-90, 90), st.floats(-180, 180)), min_size=1, max_size=20),
)
def test_segment_roundtrip(way_id, role, pts):
    ids = [p[0] for p in pts]
    lats = [p[1] for p in pts]
    lons = [p[2] for p in pts]
    d = geoblob.unpack(geoblob.pack_segment(role, way_id, ids, lats, lons))
    assert d["way_id"] == way_id and d["role"] == role
    assert list(d["node_ids"]) == ids
    assert np.array_equal(d["lats"], np.array(lats))
    assert np.array_equal(d["lons"], np.array(lons))


# --- span-sequence invariant -------------------------------------------------


@settings(max_examples=50, deadline=None)
@given(st.integers(0, 5000), st.integers(0, 2**31 - 1))
def test_span_sequence_equality(i, seed):
    """Per-row invariant: the generator is deterministic and the decoded
    span sequence equals the encoded one as (kind, text, media_ref, order)
    tuples — generation is pure in (seed, index)."""
    p = SynthParams(n_docs=5001, seed=seed)
    centers = _cluster_centers(seed)
    doc1, blobs1 = _make(i, p, centers)
    doc2, blobs2 = _make(i, p, centers)
    s1 = [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in doc1["spans"]]
    s2 = [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in doc2["spans"]]
    assert s1 == s2
    assert [s[3] for s in s1] == list(range(len(s1)))  # offsets are 0..n-1
    assert [b["blob_id"] for b in blobs1] == [b["blob_id"] for b in blobs2]
    assert all(b1["payload"] == b2["payload"] for b1, b2 in zip(blobs1, blobs2))


def test_spark_roundtrip_spans(spark, synth_small):
    """Encode -> Spark write/read -> decode: the span sequence observed via
    the DataFrame matches the generator output row-for-row."""
    docs, _, p = synth_small
    centers = _cluster_centers(p.seed)
    sample = docs.orderBy("doc_id").limit(30).collect()
    by_id = {}
    for i in range(p.n_docs):
        d, _ = _make(i, p, centers)
        by_id[d["doc_id"]] = d["spans"]
    for row in sample:
        want = [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in by_id[row["doc_id"]]]
        got = [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in row["spans"]]
        assert got == want


# --- frame extraction ----------------------------------------------------------


def test_decode_frames(spark, synth_small):
    from osmgraft.sources.decode import decode_documents

    docs, blobs, p = synth_small
    frames = decode_documents(docs, blobs)

    n_node_docs = docs.where(F.col("doc_id").startswith("node/")).count()
    assert frames.node_pois.count() == n_node_docs
    pois = frames.node_pois.limit(5).collect()
    for r in pois:
        assert -90 <= r["lat"] <= 90 and -180 <= r["lon"] <= 180
        assert isinstance(r["tags"], dict) and len(r["tags"]) >= 1

    from osmgraft.sources.decode import doc_osm_id, geom_ref_array

    rel_docs = docs.where(F.col("doc_id").startswith("rel/"))
    n_refs = {
        r["rel_id"]: r["n"]
        for r in rel_docs.select(
            doc_osm_id().alias("rel_id"), F.size(geom_ref_array()).alias("n")
        ).collect()
    }
    rels = frames.rel_packed.collect()
    assert 0 < len(rels) <= len(n_refs)  # unknown-role relations dropped
    assert any(r["has_missing"] for r in rels) and not all(r["has_missing"] for r in rels)
    coords = {}
    for r in rels:
        mem = r["mem"]
        assert any(m["role"] == geoblob.ROLE_OUTER for m in mem)
        assert all(m["role"] != geoblob.ROLE_UNKNOWN for m in mem)
        # members are span-ordered, one per resolved geometry ref; a
        # relation with a dangling ref is flagged, never silently complete
        ords = [m["ord"] for m in mem]
        assert ords == sorted(set(ords)) and 0 <= ords[0] and ords[-1] < n_refs[r["rel_id"]]
        if r["has_missing"]:
            assert len(mem) < n_refs[r["rel_id"]]
        else:
            assert len(mem) == n_refs[r["rel_id"]]
        for m in mem:
            assert len(m["node_ids"]) == len(m["lats"]) == len(m["lons"]) >= 2
            for nid, la, lo in zip(m["node_ids"], m["lats"], m["lons"]):
                # a node shared between ways carries one position
                assert coords.setdefault(nid, (la, lo)) == (la, lo)

    polys = frames.polygons.collect()
    assert len(polys) > 0
    for r in polys:
        assert len(r["ring_lats"]) == len(r["ring_lons"]) >= 4
        assert r["name"].startswith("Region ")


def test_tags_decode_matches_generator(spark, synth_small):
    from osmgraft.sources.decode import with_tags

    docs, _, p = synth_small
    centers = _cluster_centers(p.seed)
    got = {r["doc_id"]: r["tags"] for r in with_tags(docs).select("doc_id", "tags").collect()}
    for i in range(0, p.n_docs, 37):
        d, _ = _make(i, p, centers)
        want = {}
        for s in d["spans"]:
            if s["kind"] == "tag":
                k, _, v = s["text"].partition("=")
                want[k] = v
        assert got[d["doc_id"]] == want


# --- S6: population TSV source (populationinput.cpp:42-62) -----------------------


def test_population_tsv(spark, tmp_path):
    import pyspark.sql.functions as F

    from osmgraft.sources.population import apply_population, read_population

    tsv = tmp_path / "pop.tsv"
    tsv.write_text(
        "# comment line skipped\n"
        "Stuttgart\t632743\n"
        "Kleinstadt\t12x34\n"       # atoi: leading digits only -> 12
        "Nowhere\tabc\n"            # atoi: non-numeric -> 0
    )
    pop = read_population(spark, str(tsv))
    got = {r["name"]: r["population"] for r in pop.collect()}
    assert got == {"Stuttgart": 632743, "Kleinstadt": 12, "Nowhere": 0}

    pois = spark.createDataFrame(
        [(1, "Stuttgart", 0), (2, "Kleinstadt", 999), (3, "Unknown", 0)],
        "osm_id long, name string, population long",
    )
    out = {r["osm_id"]: r["population"] for r in apply_population(pois, pop).collect()}
    # table fills only missing/zero; the POI's own tag value wins
    assert out == {1: 632743, 2: 999, 3: 0}


def test_population_duplicate_names_no_fanout(spark, tmp_path):
    # The reference's std::map::insert keeps the FIRST entry per name in
    # file order (populationinput.cpp:56-60); a repeated name in the TSV
    # must neither fan out the join (duplicating POI rows) nor pick a
    # different duplicate than the reference binary would. First entry
    # deliberately the LARGER value so first-wins is distinguishable from
    # min-wins.
    from osmgraft.sources.population import apply_population, read_population

    tsv = tmp_path / "pop_dup.tsv"
    tsv.write_text("Springfield\t9000\nSpringfield\t5000\nShelbyville\t300\n")
    pop = read_population(spark, str(tsv))
    assert pop.count() == 2
    pois = spark.createDataFrame(
        [(1, "Springfield", 0), (2, "Shelbyville", 0)],
        "osm_id long, name string, population long",
    )
    rows = apply_population(pois, pop).collect()
    assert len(rows) == 2  # no fanout
    assert {r["osm_id"]: r["population"] for r in rows} == {1: 9000, 2: 300}


def test_unpack_malformed_blobs_raise_valueerror():
    """Untrusted-bytes contract: only ValueError may escape (a corrupt blob
    in the production table must not kill the kernel with IndexError /
    struct.error). Fuzz-driven: these exact shapes previously escaped."""
    import pytest

    seg = geoblob.pack_segment(0, 1, [1, 2, 3], [0.0, 1.0, 2.0], [0.0, 1.0, 2.0])
    cases = [
        b"",                                   # empty
        b"\x02",                               # kind byte only
        geoblob.pack_point(1.0, 2.0)[:-3],     # truncated point
        seg[:-7],                              # truncated segment body
        seg[:13],                              # truncated segment header
        b"\x02\x00" + (123).to_bytes(8, "little") + (-5).to_bytes(4, "little", signed=True),
        b"\x02\x00" + (123).to_bytes(8, "little") + (2**31 - 1).to_bytes(4, "little") + b"\x00" * 64,
    ]
    for payload in cases:
        with pytest.raises(ValueError):
            geoblob.unpack(payload)


def test_unpack_points_checks_each_payload():
    """The point-blob kernel checks every payload's length and kind before
    the batch reshape: a 16-byte blob next to an 18-byte one joins to 34
    bytes (a valid 2 x 17 reshape that would shift every later row), and
    a kind check must not vanish under ``python -O``."""
    import pytest

    a, b = geoblob.pack_point(1.5, -2.5), geoblob.pack_point(-89.0, 179.0)
    got = geoblob.unpack_points(["a", "b"], [a, b])
    assert got.shape == (2, 2) and got.tolist() == [[1.5, -2.5], [-89.0, 179.0]]
    assert geoblob.unpack_points([], []).shape == (0, 2)

    short_long = [a, a[:16], a + b"\x00", b]
    with pytest.raises(ValueError, match=r"blob 'short': 16 bytes"):
        geoblob.unpack_points(["ok", "short", "long", "ok2"], short_long)

    wrong_kind = bytes([geoblob.KIND_SEGMENT]) + a[1:]
    with pytest.raises(ValueError, match=r"blob 'seg': 17 bytes of kind 2"):
        geoblob.unpack_points(["ok", "seg", "ok2"], [a, wrong_kind, b])

    with pytest.raises(ValueError, match=r"blob 'empty': 0 bytes"):
        geoblob.unpack_points(["ok", "empty"], [a, b""])


def _node_docs(spark, nodes):
    """One node doc per (osm_id, tag texts, blob_id)."""
    rows = []
    for osm_id, tags, blob_id in nodes:
        spans = [
            {"kind": "tag", "text": t, "media_ref": None, "offset": i} for i, t in enumerate(tags)
        ]
        spans.append({"kind": "geom", "text": None, "media_ref": f"geom://{blob_id}", "offset": len(tags)})
        rows.append((f"node/{osm_id}", spans))
    return spark.createDataFrame(
        rows,
        "doc_id string, spans array<struct<kind:string,text:string,media_ref:string,offset:int>>",
    )


def test_decode_node_pois_fails_loudly_on_bad_blob(spark):
    import pytest

    from osmgraft.sources.decode import decode_node_pois

    docs = _node_docs(spark, [(2, ["place=city"], "p2")])
    blobs = spark.createDataFrame(
        [("p2", geoblob.pack_point(3.0, 4.0)[:16])], "blob_id string, payload binary"
    )
    with pytest.raises(Exception, match="blob 'p2': 16 bytes"):
        decode_node_pois(docs, blobs).collect()


def test_label_pipeline_fails_loudly_on_bad_admitted_blob(spark):
    """The fused point + label kernel keeps unpack_points' length check."""
    import pytest

    from osmgraft.plans.pipeline import label_pipeline

    docs = _node_docs(spark, [(2, ["place=city", "name=Ort"], "p2")])
    blobs = spark.createDataFrame(
        [("p2", geoblob.pack_point(3.0, 4.0)[:16])], "blob_id string, payload binary"
    )
    with pytest.raises(Exception, match="blob 'p2': 16 bytes"):
        label_pipeline(spark, docs, blobs).collect()


def test_label_pipeline_never_decodes_blobs_of_unadmitted_nodes(spark):
    """Admission runs on the tags before the blob join: a truncated blob
    that only non-admitted nodes reference (one fails the P1 filter, one
    has no level) is never decoded and does not fail the job."""
    from osmgraft.plans.pipeline import label_pipeline

    docs = _node_docs(
        spark,
        [
            (2, ["place=city", "name=Ort"], "p2"),
            (3, ["shop=bakery", "name=Laden"], "p3"),
            (4, ["amenity=bench", "name=Bank"], "p4"),
        ],
    )
    bad = geoblob.pack_point(5.0, 6.0)[:16]
    blobs = spark.createDataFrame(
        [("p2", geoblob.pack_point(3.0, 4.0)), ("p3", bad), ("p4", bad)],
        "blob_id string, payload binary",
    )
    out = label_pipeline(spark, docs, blobs).collect()
    assert [(r["osm_id"], r["lat"], r["lon"], r["label"]) for r in out] == [(2, 3.0, 4.0, "Ort")]
