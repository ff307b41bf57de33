"""Skew rails: salted repartitioning + adaptive cell splitting.

Dense urban clusters put millions of rows in a handful of hex/S2 cells
(the synth generator's Zipf layout reproduces this). Two mitigations,
both explicit user-space layout decisions (AQE's skew-join handles joins
but cannot split grouped-UDF or groupBy hot keys):

- ``salt``: spread a hot key over ``n_salts`` subkeys for aggregations
  that can be computed partially (count/sum/min/max) and re-merged.

- ``adaptive_cell_split``: two-pass re-resolution — count rows per cell
  (cheap partial agg), find cells above ``max_rows``, re-encode ONLY those
  rows at a finer resolution; repeat until no hot cells or ``max_res``.
  The hot-cell list is broadcast (it is small by construction: at most
  total_rows/max_rows entries).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from osmgraft.functions.cells import hex_cell_udf


def _parse_size_bytes(s: str) -> int:
    """Spark size-string parser ('64m', '64MB', '67108864', '1g')."""
    s = s.strip().lower()
    mult = 1
    for suffix in ("kb", "mb", "gb", "tb", "pb", "k", "m", "g", "t", "p", "b"):
        if s.endswith(suffix):
            mult = {"k": 2**10, "m": 2**20, "g": 2**30, "t": 2**40, "p": 2**50, "b": 1}[
                suffix[0]
            ]
            s = s[: -len(suffix)]
            break
    return int(float(s) * mult)


def auto_skew_bound(spark, row_bytes: int = 48) -> int:
    """Default per-cell row bound for the spatial-join skew rails, derived
    from AQE's advisory partition size: a cell whose candidate rows exceed
    roughly one advisory partition's worth (``advisory_bytes /
    row_bytes``; 48 B ~ a slim (id, rank, lat, lon, cell) shuffle row)
    would pin a reduce task past the size AQE itself plans around, so
    that is where salting starts. Floor of 100k keeps the rail out of the
    way on toy inputs. This makes the rails ON BY DEFAULT in
    ``pip_join``/``knn_candidates`` — a deployment hits a Tokyo-density
    cell safely without knowing the knob exists — at the cost of one
    map-side-combined count pre-pass per join."""
    try:
        adv = spark.conf.get("spark.sql.adaptive.advisoryPartitionSizeInBytes")
    except Exception:
        adv = None
    return max(_parse_size_bytes(adv or "64m") // row_bytes, 100_000)


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
    ``max_rows`` — the broadcastable split plan for a cell-keyed skew join.
    ``_n_salts = ceil(count / max_rows)`` (capped at ``n_cap``), so each
    split bucket holds ~``max_rows`` rows. Small by construction
    (<= total/max_rows entries), like :func:`adaptive_cell_split`'s hot
    list.

    ``n_cap`` bounds the PROBE-side replication cost (every probe row
    pointing at a hot cell fans out ``_n_salts`` x in
    :func:`replicate_cells`): a cell with more than ``n_cap * max_rows``
    rows still splits into only ``n_cap`` buckets, each holding
    ``count / n_cap`` rows — the per-task bound degrades gracefully to
    best-effort instead of letting one mega-cell multiply the whole probe
    side. Callers (``pip_join`` / ``knn_candidates``) advertise the same
    contract: reduce-side tasks are bounded at ~``max_rows`` up to
    ``n_cap * max_rows`` rows per cell, proportional-split beyond."""
    counts = df.groupBy(cell_col).agg(F.count("*").alias("_n"))
    return counts.where(F.col("_n") > max_rows).select(
        F.col(cell_col),
        F.least(F.ceil(F.col("_n") / max_rows), F.lit(n_cap)).cast("int").alias("_n_salts"),
    )


def salt_cells(
    df: DataFrame, hot: DataFrame, cell_col: str, hash_cols: list[str]
) -> DataFrame:
    """BIG side of a cell equi-join: rows in hot cells get
    ``_cell_salt = pmod(xxhash64(hash_cols), n_salts)`` (a pure row
    function — retry-deterministic, see :func:`salt`); cold rows get 0.
    The hot map joins broadcast, so the big side is never shuffled here."""
    j = df.join(F.broadcast(hot), cell_col, "left")
    salt_expr = (
        F.when(
            F.col("_n_salts").isNotNull(),
            F.pmod(F.xxhash64(*[F.col(c) for c in hash_cols]), F.col("_n_salts")),
        )
        .otherwise(F.lit(0))
        .cast("int")
    )
    return j.withColumn("_cell_salt", salt_expr).drop("_n_salts")


def replicate_cells(df: DataFrame, hot: DataFrame, cell_col: str) -> DataFrame:
    """PROBE side of a cell equi-join: rows pointing at a hot cell
    replicate once per salt bucket (cold rows once, salt 0), so joining on
    ``(cell, _cell_salt)`` reproduces the plain cell join exactly while the
    hot cell's reduce work spreads over ``n_salts`` tasks."""
    j = df.join(F.broadcast(hot), cell_col, "left")
    salts = F.when(
        F.col("_n_salts").isNotNull(), F.sequence(F.lit(0), F.col("_n_salts") - 1)
    ).otherwise(F.array(F.lit(0)))
    # both branches are array<int> (sequence of int bounds / array(lit 0)),
    # so the exploded salt is already int — no cast around the generator
    return j.withColumn("_cell_salt", F.explode(salts)).drop("_n_salts")

