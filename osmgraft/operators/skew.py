"""Skew rails for aggregations: salted repartitioning + adaptive cell
splitting.

Dense urban clusters put millions of rows in a handful of hex/S2 cells
(the synth generator's Zipf layout reproduces this). Join-side skew is
AQE's: the session enables ``spark.sql.adaptive.skewJoin``, whose
``OptimizeSkewedJoin`` splits an oversized shuffle partition of a
sort-merge join into map-block ranges and replicates the other side's
matching partition, so the cell equi-joins of ``pip_join`` and
``knn_candidates`` carry no rail of their own. AQE cannot split a
grouped-UDF or groupBy hot key, so two explicit mitigations remain:

- ``salt``: spread a hot key over ``n_salts`` subkeys for aggregations
  that can be computed partially (count/sum/min/max) and re-merged.

- ``adaptive_cell_split``: two-pass re-resolution — count rows per cell
  (cheap partial agg), find cells above ``max_rows``, re-encode ONLY those
  rows at a finer resolution; repeat until no hot cells or ``max_res``.
  The hot-cell list is broadcast (it is small by construction: at most
  total_rows/max_rows entries).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from osmgraft.functions.cells import hex_cell_udf


def salt(
    df: DataFrame, key: str, n_salts: int, salt_col: str = "_salt", id_col: str | None = None
) -> DataFrame:
    """Salt independent of the KEY's value: a hash of the key alone is a
    no-op on key-only projections (every row of a hot key lands in one salt
    bucket and the reduce side never splits).

    Determinism: pass ``id_col`` (any unique row id) whenever one exists —
    the salt is then a pure row function (``xxhash64``), stable under task
    retry. The key-only fallback uses ``monotonically_increasing_id``,
    which depends on row order within a partition: a map-task recompute
    after a partial reducer fetch can re-salt rows differently and
    double-count or drop them — the round-robin-repartition fault-recovery
    hazard (SPARK-23207). The fallback is therefore safe only when the
    upstream is a deterministic scan or a materialized (checkpointed)
    frame; for long fault-tolerant jobs derive an id first. Only valid for
    salt-distribution-independent aggregates (count/sum/min/max)."""
    h = F.xxhash64(F.col(id_col)) if id_col is not None else F.monotonically_increasing_id()
    return df.withColumn(salt_col, F.pmod(h, F.lit(n_salts)).cast("int"))


def salted_count(
    df: DataFrame, key: str, n_salts: int = 16, id_col: str | None = None
) -> DataFrame:
    """groupBy(key).count() resistant to hot keys: partial count per
    (key, salt), then re-aggregate. (Spark's partial aggregation already
    does map-side combine; the salt additionally splits the REDUCE side of
    a hot key across n_salts tasks.) ``id_col``: see :func:`salt` — pass a
    unique id column for retry-deterministic salting."""
    salted = salt(df, key, n_salts, id_col=id_col)
    partial = salted.groupBy(key, "_salt").agg(F.count("*").alias("_c"))
    return partial.groupBy(key).agg(F.sum("_c").alias("count"))


def adaptive_cell_split(
    df: DataFrame,
    lat_col: str = "lat",
    lon_col: str = "lon",
    base_res: int = 7,
    max_rows: int = 100_000,
    max_res: int = 12,
    cell_col: str = "cell",
    checkpoint: bool = True,
) -> DataFrame:
    """Assign a mixed-resolution cell column: cells start at ``base_res``;
    any cell with more than ``max_rows`` rows is re-encoded one resolution
    finer, repeatedly, up to ``max_res``.

    Scale shape — refinement iterates on the HOT SUBSET only. The base
    encode materializes once; each round splits off the rows of over-full
    cells (the hot-cell list stays a broadcast DataFrame join, never a
    driver-collected IN-list — it can reach ~10^7 entries at the 10^12-row
    target), re-encodes JUST those rows one resolution finer, and
    re-checkpoints only that shrinking branch. Cold rows are set aside
    untouched (their lineage reads their round's checkpoint once — no
    re-encode, no re-write) and unioned back at the end. Re-checkpointing
    the FULL frame per round would add 3-4 full-table writes at 10^12
    rows for a hot branch that is bounded by total/max_rows cells.

    A cell is never revisited once it fits: rows refined at round k carry
    res ``base_res+k`` cell ids, which (res is packed into the id) can't
    collide with any coarser cold cell, so counting only the current hot
    branch sees exactly the cells that can still be over-full. The only
    driver-side action per round is the loop-termination emptiness probe.
    ``checkpoint=False`` keeps the full lineage inspectable for plan tests
    (at the cost of re-running earlier rounds' encodes per branch)."""
    cur = df.withColumn(cell_col, hex_cell_udf(base_res)(F.col(lat_col), F.col(lon_col)))
    if checkpoint:
        cur = cur.localCheckpoint(eager=True)
    cold_parts: list[DataFrame] = []
    res = base_res
    while res < max_res:
        counts = cur.groupBy(cell_col).count()
        hot = counts.where(F.col("count") > max_rows).select(cell_col)
        if hot.isEmpty():
            break
        res += 1
        marked = cur.join(F.broadcast(hot.withColumn("_hot", F.lit(True))), cell_col, "left")
        cold_parts.append(marked.where(F.col("_hot").isNull()).drop("_hot"))
        cur = (
            marked.where(F.col("_hot").isNotNull())
            .drop("_hot")
            .withColumn(cell_col, hex_cell_udf(res)(F.col(lat_col), F.col(lon_col)))
        )
        if checkpoint:
            cur = cur.localCheckpoint(eager=True)
    out = cur
    for part in cold_parts:
        out = out.unionByName(part)
    return out


def hot_cell_map(
    df: DataFrame, cell_col: str, max_rows: int, n_cap: int = 64
) -> DataFrame:
    """``(cell, _n_salts)`` for every cell whose row count exceeds
    ``max_rows``, with ``_n_salts = ceil(count / max_rows)`` capped at
    ``n_cap``: how many ways a hot cell would split to hold ~``max_rows``
    rows per bucket. Small by construction (<= total/max_rows entries),
    like :func:`adaptive_cell_split`'s hot list.

    No engine path calls it: the spatial joins leave hot cells to AQE. It
    is kept only because ``perfbench/workloads.py`` imports it for the
    ``skew.*`` probe, and goes with that probe in the next benchmark
    change."""
    counts = df.groupBy(cell_col).agg(F.count("*").alias("_n"))
    return counts.where(F.col("_n") > max_rows).select(
        F.col(cell_col),
        F.least(F.ceil(F.col("_n") / max_rows), F.lit(n_cap)).cast("int").alias("_n_salts"),
    )
