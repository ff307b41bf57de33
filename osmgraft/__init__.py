"""osmgraft — a PySpark-native POI-extraction + spatial-tiling engine.

A from-scratch re-expression of the query/data-processing capabilities of
krumpefp/osm_input (reference at /root/reference, C++11) as an idiomatic
Spark engine: DataFrame/SQL plans compiled to Catalyst expressions,
Arrow-vectorized pandas UDFs only where built-ins cannot express the
semantics (label geometry, polygon assembly, spatial kernels).

Layout
------
- ``sources``    : interleaved-document table codec (spans + geometry blobs),
                   deterministic synthetic generator, config/population readers.
- ``functions``  : scalar/aggregate function layer — name resolution,
                   classification compiler (level tree -> CASE WHEN), label
                   geometry kernel, font metrics, cell encoders.
- ``operators``  : relational/spatial operators — area assembly, semi-joins,
                   rank, point-in-polygon, kNN label dedup, tiling, skew
                   handling, and the stdlib PNG decoder.
- ``plans``      : end-to-end pipelines (the reference's ``main``), lineage /
                   checkpoint-resume, statistics.
- ``streaming``  : incremental ingest variants (Structured Streaming).
"""

__version__ = "0.1.0"
