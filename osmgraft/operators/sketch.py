"""Mergeable sketches for corpus-scale statistics: HyperLogLog,
Count-Min (heavy-hitter frequency), and fixed-bin histogram quantiles.

Counting distinct values exactly costs a full shuffle of the distinct
keys — at 10^12 tokens that is the most expensive aggregation in the
warehouse. The HyperLogLog sketch (Flajolet et al. 2007, public) gets a
~1.04/sqrt(2^p) relative-error estimate out of a 2^p-register table, and
on Spark the whole sketch is ONE tiny aggregation:

- the hash, bucket and rank (rho) of every value are pure Catalyst
  (whole-stage codegen, no UDF);
- the register table is ``groupBy(bucket).max(rho)`` — partial (map-side)
  max applies, so the only shuffle moves at most 2^p rows per partition
  regardless of input size;
- sketches MERGE by the same ``max``: union register tables from
  different corpus shards / days / engines and re-aggregate — the
  mergeability is the operational point at 100 TB.

Spark's own ``approx_count_distinct`` is HLL++ behind an opaque binary
buffer; this implementation exists because the engine's contract is
value-level SQL replayability: the hash is the md5-low-64 construction
DuckDB evaluates natively (``md5_number_lower``), every register is an
integer (bit-exact across engines by construction), and the estimator's
floating-point path is made order-free by summing the harmonic terms
``2^(SUFFIX_BITS - rho)`` as exact DECIMAL integers instead of doubles.
Classic HLL estimator with the small-range linear-counting correction;
the HLL++ empirical bias tables are omitted (documented accuracy dip in
the 2.5m-5m range — irrelevant for the corpus-scale counts this serves).
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def md5_low64_expr(col: Column) -> Column:
    """Lower 64 bits of md5 (bytes 8..16, little-endian) as a signed-long
    bit pattern — equals DuckDB's ``md5_number_lower``. Eight hex-pair
    conversions + shifts, all inside codegen; used where a SQL-replayable
    hash is required (xxhash64 is the cheaper non-replayable default
    elsewhere)."""
    hexs = F.md5(col.cast("string"))
    parts = [
        F.shiftleft(F.conv(F.substring(hexs, 17 + 2 * i, 2), 16, 10).cast("long"), 8 * i)
        for i in range(8)
    ]
    return reduce(lambda a, b: a.bitwiseOR(b), parts)


def hll_bucket_rho(col: Column, p: int) -> tuple[Column, Column]:
    """The (bucket, rho) pair for one value, for the register pass."""
    if not 4 <= p <= 18:
        raise ValueError("p must be in [4, 18]")
    sbits = 64 - p
    h = md5_low64_expr(col)
    bucket = F.shiftrightunsigned(h, sbits)
    suffix = h.bitwiseAND(F.lit((1 << sbits) - 1))
    # rho = sbits - bit_length(suffix) + 1; bit_length via the base-2
    # string (no clz in either engine), suffix == 0 -> all-zeros case
    rho = F.when(suffix == 0, F.lit(sbits + 1)).otherwise(
        F.lit(sbits + 1) - F.length(F.conv(suffix, 10, 2))
    )
    return bucket, rho


def _hll_registers_impl(
    df: DataFrame, group_cols: list[str], value_col: str, p: int
) -> DataFrame:
    """Shared register pass: grouped and ungrouped sketches are the SAME
    aggregation (group_cols=[] degenerates to the global groupBy)."""
    bucket, rho = hll_bucket_rho(F.col(value_col), p)
    return (
        df.where(F.col(value_col).isNotNull())
        .select(*group_cols, bucket.alias("bucket"), rho.alias("rho"))
        .groupBy(*group_cols, "bucket")
        .agg(F.max("rho").alias("rho"))
    )


def hll_registers(df: DataFrame, value_col: str, p: int = 12) -> DataFrame:
    """HyperLogLog register table for the values in ``value_col``:
    ``(bucket, rho)`` with one row per OCCUPIED bucket, bucket in
    [0, 2^p), rho = 1 + leading-zero count of the (64-p)-bit hash suffix
    (max over all values landing in the bucket). Pure integers — the
    strongest possible oracle artifact. Merge sketches by unioning
    register tables and re-running ``groupBy(bucket).max(rho)``."""
    return _hll_registers_impl(df, [], value_col, p)


def _alpha_m(m: int) -> float:
    """Bias-correction constant per Flajolet et al. 2007 §4: the small
    register counts (m = 16/32/64, i.e. p = 4..6) need their tabulated
    constants — the asymptotic 0.7213/(1 + 1.079/m) overestimates by up
    to ~6.5% at m=16. Computed driver-side and embedded as ONE double
    literal in both engines, so cross-engine parity is by construction."""
    if m == 16:
        return 0.673
    if m == 32:
        return 0.697
    if m == 64:
        return 0.709
    return 0.7213 / (1.0 + 1.079 / m)


def _hll_estimate_impl(
    registers: DataFrame, group_cols: list[str], p: int
) -> DataFrame:
    """Shared estimator: ONE copy of the subtle math (exact DECIMAL
    harmonic sum, alpha literal, 2.5m linear-counting switch) serves both
    the global and the grouped sketch — group_cols=[] degenerates to the
    global aggregate."""
    if not 4 <= p <= 18:
        raise ValueError("p must be in [4, 18]")
    m = 1 << p
    sbits = 64 - p
    # term for rho: 2^-rho scaled by 2^(sbits+1) => 2^(sbits+1-rho), an
    # exact integer for every legal rho in [1, sbits+1]
    scale = float(1 << (sbits + 1))
    term = F.pow(F.lit(2.0), F.lit(sbits + 1) - F.col("rho")).cast("decimal(38,0)")
    agg = registers.groupBy(*group_cols).agg(
        F.count("*").alias("n_occ"),
        F.sum(term).alias("s_occ"),
    )
    n_occ = F.col("n_occ")
    v_zero = F.lit(m) - n_occ
    # empty buckets: rho "0" => term 2^(sbits+1), exact
    s_total = (
        F.coalesce(F.col("s_occ"), F.lit(0).cast("decimal(38,0)"))
        + v_zero.cast("decimal(38,0)") * F.lit(1 << (sbits + 1)).cast("decimal(38,0)")
    )
    alpha = F.lit(_alpha_m(m))
    raw = alpha * F.lit(float(m)) * F.lit(float(m)) * F.lit(scale) / s_total.cast("double")
    est = F.when(
        (raw <= F.lit(2.5 * m)) & (v_zero > 0),
        F.lit(float(m)) * F.log(F.lit(float(m)) / v_zero.cast("double")),
    ).otherwise(raw)
    return agg.select(
        *group_cols, est.alias("est"), v_zero.cast("long").alias("v_zero"), F.lit(m).alias("m")
    )


def hll_estimate(registers: DataFrame, p: int = 12) -> DataFrame:
    """One-row distinct-count estimate from a register table:
    ``(est, v_zero, m)``.

    Order-free float path: the harmonic sum Z = sum(2^-rho) over all m
    registers is computed as the exact integer sum of ``2^(sbits+1-rho)``
    in DECIMAL(38,0) (every term and the total are exact; empty registers
    contribute the known constant), converted to double ONCE. alpha is
    one shared double literal (:func:`_alpha_m`) embedded in both
    engines, with the paper's tabulated constants below p=7. Small
    range (E <= 2.5m, empty buckets remain) switches to linear counting
    ``m * ln(m / v_zero)`` per the original paper."""
    return _hll_estimate_impl(registers, [], p)


def hll_count_distinct(df: DataFrame, value_col: str, p: int = 12) -> DataFrame:
    """Convenience: registers + estimate in one call."""
    return hll_estimate(hll_registers(df, value_col, p), p)


def hll_registers_by(
    df: DataFrame, group_cols: list[str], value_col: str, p: int = 12
) -> DataFrame:
    """Per-group register tables: ``(*group_cols, bucket, rho)`` — the
    grouped form of :func:`hll_registers` (same shared aggregation), which
    is what replaces ``countDistinct`` per group at scale: exact per-group
    distinct is a shuffle of every (group, value) pair, while the grouped
    sketch's shuffle is bounded at ``|groups| * 2^p`` rows per map
    partition (pick p so groups x 2^p fits: p=10 -> 1024 integers per
    group). Merge shards by union + the same groupBy max."""
    if not group_cols:
        raise ValueError("group_cols must be non-empty")
    return _hll_registers_impl(df, group_cols, value_col, p)


def hll_estimate_by(
    registers: DataFrame, group_cols: list[str], p: int = 12
) -> DataFrame:
    """Per-group estimates ``(*group_cols, est, v_zero, m)`` from a
    grouped register table — the SAME estimator expression as
    :func:`hll_estimate` (one shared implementation, so the DECIMAL
    harmonic sum / alpha / linear-counting switch can never diverge
    between the variants), one row per group out of a single groupBy."""
    if not group_cols:
        raise ValueError("group_cols must be non-empty")
    return _hll_estimate_impl(registers, group_cols, p)


def hll_count_distinct_by(
    df: DataFrame, group_cols: list[str], value_col: str, p: int = 12
) -> DataFrame:
    """Convenience: grouped registers + grouped estimate in one call."""
    return hll_estimate_by(hll_registers_by(df, group_cols, value_col, p), group_cols, p)


def hll_by_oracle_sql(values_cte: str, group_cols: list[str], p: int = 12) -> str:
    """DuckDB replica of the grouped sketch over ``values_cte`` (yields
    ``*group_cols, v``): same hash/registers/estimator as
    :func:`hll_oracle_sql`, grouped."""
    if not 4 <= p <= 18:
        raise ValueError("p must be in [4, 18]")
    if not group_cols:
        raise ValueError("group_cols must be non-empty")
    m = 1 << p
    sbits = 64 - p
    scale = float(1 << (sbits + 1))
    mask = (1 << sbits) - 1
    g = ", ".join(group_cols)
    return (
        f"with hllg_v as (select {g}, v from ({values_cte}) where v is not null), "
        f"hllg_h as (select {g}, md5_number_lower(cast(v as varchar)) as h from hllg_v), "
        f"hllg_br as (select {g}, cast(h >> {sbits} as bigint) as bucket, "
        f"cast(case when (h & {mask}) = 0 then {sbits + 1} "
        f"else {sbits + 1} - length(bin(h & {mask})) end as int) as rho from hllg_h), "
        f"hllg_regs as (select {g}, bucket, max(rho) as rho from hllg_br group by {g}, bucket), "
        f"hllg_a as (select {g}, count(*) as n_occ, sum(cast(pow(2.0, {sbits + 1} - rho) "
        f"as decimal(38,0))) as s_occ from hllg_regs group by {g}), "
        f"hllg_t as (select {g}, n_occ, cast({m} as bigint) - n_occ as v_zero, "
        f"coalesce(s_occ, cast(0 as decimal(38,0))) + "
        f"cast(cast({m} as bigint) - n_occ as decimal(38,0)) * "
        f"cast({1 << (sbits + 1)} as decimal(38,0)) as s_total from hllg_a), "
        f"hllg_e as (select {g}, v_zero, cast({_alpha_m(m)!r} as double) * {float(m)} * "
        f"{float(m)} * {scale} / cast(s_total as double) as raw from hllg_t) "
        f"select {g}, case when raw <= {2.5 * m} and v_zero > 0 "
        f"then {float(m)} * ln({float(m)} / cast(v_zero as double)) else raw end as est, "
        f"cast(v_zero as bigint) as v_zero, {m} as m from hllg_e"
    )


def _hll_oracle_impl(
    values_cte: str, group_cols: list[str], p: int, registers_only: bool
) -> str:
    """ONE DuckDB template serves the global and grouped sketches (the
    grouped SQL prefixes every stage with the group columns); identical
    hash (``md5_number_lower``), integer registers, order-free DECIMAL
    harmonic sum and literal-for-literal estimator."""
    if not 4 <= p <= 18:
        raise ValueError("p must be in [4, 18]")
    m = 1 << p
    sbits = 64 - p
    scale = float(1 << (sbits + 1))
    mask = (1 << sbits) - 1
    g = ", ".join(group_cols)
    gsel = f"{g}, " if g else ""
    gby = f" group by {g}" if g else ""
    regs = (
        f"with hll_v as (select {gsel}v from ({values_cte}) where v is not null), "
        f"hll_h as (select {gsel}md5_number_lower(cast(v as varchar)) as h from hll_v), "
        f"hll_br as (select {gsel}cast(h >> {sbits} as bigint) as bucket, "
        f"cast(case when (h & {mask}) = 0 then {sbits + 1} "
        f"else {sbits + 1} - length(bin(h & {mask})) end as int) as rho from hll_h), "
        f"hll_regs as (select {gsel}bucket, max(rho) as rho from hll_br "
        f"group by {gsel}bucket)"
    )
    if registers_only:
        return f"{regs} select {gsel}bucket, rho from hll_regs"
    return (
        f"{regs}, "
        f"hll_a as (select {gsel}count(*) as n_occ, sum(cast(pow(2.0, {sbits + 1} - rho) "
        f"as decimal(38,0))) as s_occ from hll_regs{gby}), "
        f"hll_t as (select {gsel}n_occ, cast({m} as bigint) - n_occ as v_zero, "
        f"coalesce(s_occ, cast(0 as decimal(38,0))) + "
        f"cast(cast({m} as bigint) - n_occ as decimal(38,0)) * "
        f"cast({1 << (sbits + 1)} as decimal(38,0)) as s_total from hll_a), "
        f"hll_e as (select {gsel}v_zero, cast({_alpha_m(m)!r} as double) * {float(m)} * "
        f"{float(m)} * {scale} / cast(s_total as double) as raw from hll_t) "
        f"select {gsel}case when raw <= {2.5 * m} and v_zero > 0 "
        f"then {float(m)} * ln({float(m)} / cast(v_zero as double)) else raw end as est, "
        f"cast(v_zero as bigint) as v_zero, {m} as m from hll_e"
    )


def hll_oracle_sql(values_cte: str, p: int = 12, registers_only: bool = False) -> str:
    """DuckDB replica of the full sketch over ``values_cte`` (a SQL
    fragment yielding one column ``v``) — see :func:`_hll_oracle_impl`."""
    return _hll_oracle_impl(values_cte, [], p, registers_only)


def hll_by_oracle_sql(values_cte: str, group_cols: list[str], p: int = 12) -> str:
    """DuckDB replica of the grouped sketch over ``values_cte`` (yields
    ``*group_cols, v``) — same single template as :func:`hll_oracle_sql`,
    grouped."""
    if not group_cols:
        raise ValueError("group_cols must be non-empty")
    return _hll_oracle_impl(values_cte, group_cols, p, registers_only=False)



def hll_oracle_sql(values_cte: str, p: int = 12, registers_only: bool = False) -> str:
    """DuckDB replica of the full sketch over ``values_cte`` (a SQL
    fragment yielding one column ``v``): identical hash
    (``md5_number_lower``), identical integer registers, identical
    order-free DECIMAL harmonic sum and literal-for-literal estimator."""
    if not 4 <= p <= 18:
        raise ValueError("p must be in [4, 18]")
    m = 1 << p
    sbits = 64 - p
    scale = float(1 << (sbits + 1))
    mask = (1 << sbits) - 1
    regs = (
        f"with hll_v as (select v from ({values_cte}) where v is not null), "
        "hll_h as (select md5_number_lower(cast(v as varchar)) as h from hll_v), "
        f"hll_br as (select cast(h >> {sbits} as bigint) as bucket, "
        f"cast(case when (h & {mask}) = 0 then {sbits + 1} "
        f"else {sbits + 1} - length(bin(h & {mask})) end as int) as rho from hll_h), "
        "hll_regs as (select bucket, max(rho) as rho from hll_br group by bucket)"
    )
    if registers_only:
        return f"{regs} select bucket, rho from hll_regs"
    return (
        f"{regs}, "
        f"hll_a as (select count(*) as n_occ, sum(cast(pow(2.0, {sbits + 1} - rho) "
        "as decimal(38,0))) as s_occ from hll_regs), "
        f"hll_t as (select n_occ, cast({m} as bigint) - n_occ as v_zero, "
        f"coalesce(s_occ, cast(0 as decimal(38,0))) + "
        f"cast(cast({m} as bigint) - n_occ as decimal(38,0)) * "
        f"cast({1 << (sbits + 1)} as decimal(38,0)) as s_total from hll_a), "
        f"hll_e as (select v_zero, cast({_alpha_m(m)!r} as double) * {float(m)} * "
        f"{float(m)} * {scale} / cast(s_total as double) as raw from hll_t) "
        f"select case when raw <= {2.5 * m} and v_zero > 0 "
        f"then {float(m)} * ln({float(m)} / cast(v_zero as double)) else raw end as est, "
        f"cast(v_zero as bigint) as v_zero, {m} as m from hll_e"
    )


# ---------------------------------------------------------------------------
# Count-Min sketch: mergeable frequency table for heavy-hitter queries
# ---------------------------------------------------------------------------
#
# Cormode & Muthukrishnan 2005 (public). d independent hash rows x w
# counters; a point query returns min over the d rows, which NEVER
# underestimates the true count and overestimates by <= 2N/w with
# probability 1 - (1/2)^d. At 10^12 tokens the exact token-frequency
# table is a distinct-key shuffle of the whole vocabulary x shards; the
# CMS is one groupBy over at most d*w integer cells per partition
# (map-side combine), mergeable across shards/days/engines by summing
# cell counts. Everything is integers + the md5-low-64 hash, so the
# whole sketch replays bit-exactly in DuckDB.


def _cms_check(d: int, w: int) -> None:
    if not 1 <= d <= 8:
        raise ValueError("d must be in [1, 8]")
    if w < 2 or w & (w - 1):
        # power of two so col = h & (w-1) is identical for the signed
        # (Spark long) and unsigned (DuckDB UBIGINT) views of the hash
        raise ValueError("w must be a power of two >= 2")


def cms_cols(col: Column, d: int, w: int) -> list[Column]:
    """The d counter columns for one value: row i uses the md5-low-64
    hash of ``'cms{i}|' + value`` masked to ``w`` (power-of-two) cells.
    Row-salting the INPUT (not the hash) keeps every row an independent
    md5 draw while staying replayable as ``md5_number_lower('cms{i}|' ||
    v)`` in SQL."""
    _cms_check(d, w)
    return [
        md5_low64_expr(F.concat(F.lit(f"cms{i}|"), col.cast("string"))).bitwiseAND(
            F.lit(w - 1)
        )
        for i in range(d)
    ]


def cms_table(
    df: DataFrame,
    value_col: str,
    d: int = 4,
    w: int = 1024,
    weight_col: str | None = None,
) -> DataFrame:
    """Count-Min table ``(row, col, cnt)`` with one output row per
    OCCUPIED cell (missing cells are zero). ``weight_col`` (default: 1
    per value occurrence) supports weighted frequency, e.g. bytes per
    token. One explode (d small structs per input row, map-local) and
    ONE shuffle bounded at d*w rows per map partition. Merge sketches by
    unioning tables and re-running ``groupBy(row, col).sum(cnt)``."""
    weight = (
        F.col(weight_col).cast("long") if weight_col else F.lit(1).cast("long")
    )
    cols = cms_cols(F.col(value_col), d, w)
    cells = F.array(
        *[
            F.struct(F.lit(i).alias("row"), c.cast("int").alias("col"))
            for i, c in enumerate(cols)
        ]
    )
    return (
        df.where(F.col(value_col).isNotNull())
        .select(F.explode(cells).alias("_c"), weight.alias("_w"))
        .groupBy(F.col("_c.row").alias("row"), F.col("_c.col").alias("col"))
        .agg(F.sum("_w").alias("cnt"))
    )


def cms_point_query(
    table: DataFrame, probes: DataFrame, value_col: str, d: int = 4, w: int = 1024
) -> DataFrame:
    """Estimated count for every probe value: min over the d rows of the
    probed cells — the classic CMS point query (est >= truth always).
    The probe side is expected small (a candidate/watch list); the join
    is a (row, col) equi-join against the <= d*w-row table, which Spark
    broadcasts. Returns ``(value, est)``."""
    _cms_check(d, w)
    cols = cms_cols(F.col(value_col), d, w)
    cells = F.array(
        *[
            F.struct(F.lit(i).alias("row"), c.cast("int").alias("col"))
            for i, c in enumerate(cols)
        ]
    )
    probed = (
        probes.where(F.col(value_col).isNotNull())  # oracle filters nulls too
        .select(F.col(value_col).alias("value"), F.explode(cells).alias("_c"))
        .select("value", F.col("_c.row").alias("row"), F.col("_c.col").alias("col"))
    )
    joined = probed.join(F.broadcast(table), ["row", "col"], "left").select(
        "value", F.coalesce(F.col("cnt"), F.lit(0)).alias("cnt")
    )
    return joined.groupBy("value").agg(F.min("cnt").alias("est"))


def cms_oracle_sql(
    values_cte: str,
    probes_cte: str | None = None,
    d: int = 4,
    w: int = 1024,
    weight: str = "1",
) -> str:
    """DuckDB replica: identical row-salted md5 hash, identical
    power-of-two mask, integer sums. ``values_cte`` yields column ``v``
    (+ optional weight referenced by ``weight``); with ``probes_cte``
    (yielding ``v``) the query returns the point estimates, else the
    raw ``(row, col, cnt)`` table."""
    _cms_check(d, w)
    cell_rows = " union all ".join(
        f"select cast(md5_number_lower('cms{i}|' || cast(v as varchar)) & {w - 1} "
        f"as int) as col, {i} as row, cast({weight} as bigint) as wt from cms_v"
        for i in range(d)
    )
    table = (
        f"with cms_v as (select * from ({values_cte}) where v is not null), "
        f"cms_cells as ({cell_rows}), "
        "cms_t as (select row, col, sum(wt) as cnt from cms_cells group by row, col)"
    )
    if probes_cte is None:
        return f"{table} select row, col, cast(cnt as bigint) as cnt from cms_t"
    probe_rows = " union all ".join(
        f"select v as value, {i} as row, "
        f"cast(md5_number_lower('cms{i}|' || cast(v as varchar)) & {w - 1} as int) "
        "as col from cms_p"
        for i in range(d)
    )
    return (
        f"{table}, cms_p as (select v from ({probes_cte}) where v is not null), "
        f"cms_pc as ({probe_rows}) "
        "select p.value, cast(min(coalesce(t.cnt, 0)) as bigint) as est "
        "from cms_pc p left join cms_t t on p.row = t.row and p.col = t.col "
        "group by p.value"
    )


# ---------------------------------------------------------------------------
# Fixed-bin histogram quantiles: mergeable, deterministic, SQL-replayable
# ---------------------------------------------------------------------------
#
# The ``hist_quantiles`` and ``hist_quantiles_by_lang`` registry queries
# take corpus-level percentiles of doc length without a global sort
# (overall and per language). A fixed-bin histogram is the
# simplest mergeable quantile sketch: ONE groupBy bounded at nbins rows
# per partition, merge = sum of bin counts, and — unlike t-digest/KLL —
# every step is integer-exact, so the result replays bit-identically in
# any engine. Error is bounded by the bin width (caller picks [lo, hi)
# and nbins for the column's known range); values outside the range
# clamp into the edge bins, which keeps the sketch total-preserving.


def hist_bins(
    df: DataFrame, value_col: str, lo: float, hi: float, nbins: int = 256
) -> DataFrame:
    """Histogram ``(bin, cnt)`` over occupied bins: bin = clamp(floor(
    (v - lo) / width), 0, nbins-1), width = (hi - lo) / nbins evaluated
    ONCE driver-side and embedded as the same double literal in both
    engines. Mergeable by ``groupBy(bin).sum(cnt)``."""
    if not hi > lo:
        raise ValueError("hi must be > lo")
    if not 2 <= nbins <= 1 << 20:
        raise ValueError("nbins must be in [2, 2^20]")
    width = (hi - lo) / nbins
    raw = F.floor((F.col(value_col).cast("double") - F.lit(lo)) / F.lit(width))
    bin_ = F.least(F.greatest(raw, F.lit(0)), F.lit(nbins - 1)).cast("int")
    return (
        df.where(F.col(value_col).isNotNull())
        .select(bin_.alias("bin"))
        .groupBy("bin")
        .agg(F.count("*").alias("cnt"))
    )


def hist_quantiles(
    bins: DataFrame, qs: list[float], lo: float, hi: float, nbins: int = 256
) -> DataFrame:
    """Quantile estimates from a histogram: for each q, the smallest bin
    whose cumulative count reaches ``ceil(q * n)`` (the standard
    lower-quantile definition on the binned distribution), reported as
    ``(q, bin, value_est)`` with value_est = the bin's UPPER edge
    ``lo + (bin + 1) * width`` — a one-sided bound: at least ceil(q*n)
    values are <= value_est, off by at most one bin width.

    The cumulative window runs over the <= nbins-row histogram — a
    deliberate one-task stage on a frame whose size is a CONSTANT chosen
    at sketch time, independent of input rows (same shape as the HLL
    estimator's final fold)."""
    if not qs or not all(0.0 < q <= 1.0 for q in qs):
        raise ValueError("each q must be in (0, 1]")
    width = (hi - lo) / nbins
    win = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
    cum = bins.select(
        "bin", "cnt", F.sum("cnt").over(win).alias("cum"), F.sum("cnt").over(
            Window.partitionBy()
        ).alias("n")
    )
    qdf = cum.sparkSession.createDataFrame([(float(q),) for q in qs], "q double")
    # target rank: ceil(q*n) as exact integer arithmetic on longs
    target = F.ceil(F.col("q") * F.col("n")).cast("long")
    hit = (
        cum.crossJoin(F.broadcast(qdf))
        .where(F.col("cum") >= target)
        .groupBy("q")
        .agg(F.min("bin").alias("bin"))
    )
    est = F.lit(lo) + (F.col("bin") + F.lit(1)).cast("double") * F.lit(width)
    return hit.select("q", "bin", est.alias("value_est"))


def hist_quantiles_oracle_sql(
    values_cte: str, qs: list[float], lo: float, hi: float, nbins: int = 256
) -> str:
    """DuckDB replica of hist_bins + hist_quantiles over ``values_cte``
    (one column ``v``): identical clamp/floor binning with the same
    embedded width literal, integer cumulative ranks, same upper-edge
    estimate expression."""
    width = (hi - lo) / nbins
    q_rows = " union all ".join(f"select cast({float(q)!r} as double) as q" for q in qs)
    return (
        f"with hq_v as (select cast(v as double) as v from ({values_cte}) "
        "where v is not null), "
        f"hq_b as (select cast(least(greatest(floor((v - {lo!r}) / {width!r}), 0), "
        f"{nbins - 1}) as int) as bin from hq_v), "
        "hq_h as (select bin, count(*) as cnt from hq_b group by bin), "
        "hq_c as (select bin, cnt, sum(cnt) over (order by bin) as cum, "
        "sum(cnt) over () as n from hq_h), "
        f"hq_q as ({q_rows}) "
        f"select q, min(bin) as bin, {lo!r} + cast(min(bin) + 1 as double) * {width!r} "
        "as value_est from hq_c, hq_q where cum >= ceil(q * n) group by q"
    )


def hist_bins_by(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    lo: float,
    hi: float,
    nbins: int = 256,
) -> DataFrame:
    """Per-group histograms ``(*group_cols, bin, cnt)`` — identical
    binning to :func:`hist_bins`, one groupBy bounded at
    ``|groups| * nbins`` rows per map partition. Mergeable per group."""
    if not group_cols:
        raise ValueError("group_cols must be non-empty")
    if not hi > lo:
        raise ValueError("hi must be > lo")
    if not 2 <= nbins <= 1 << 20:
        raise ValueError("nbins must be in [2, 2^20]")
    width = (hi - lo) / nbins
    raw = F.floor((F.col(value_col).cast("double") - F.lit(lo)) / F.lit(width))
    bin_ = F.least(F.greatest(raw, F.lit(0)), F.lit(nbins - 1)).cast("int")
    return (
        df.where(F.col(value_col).isNotNull())
        .select(*group_cols, bin_.alias("bin"))
        .groupBy(*group_cols, "bin")
        .agg(F.count("*").alias("cnt"))
    )


def hist_quantiles_by(
    bins: DataFrame,
    group_cols: list[str],
    qs: list[float],
    lo: float,
    hi: float,
    nbins: int = 256,
) -> DataFrame:
    """Per-group quantile estimates ``(*group_cols, q, bin, value_est)``
    from a grouped histogram — same ceil(q*n)-rank / upper-edge rule as
    :func:`hist_quantiles`, with the cumulative window PARTITIONED by the
    group columns (so unlike the global sketch there is no one-task
    stage at all: each group's <= nbins rows rank within their own
    partition)."""
    if not group_cols:
        raise ValueError("group_cols must be non-empty")
    if not qs or not all(0.0 < q <= 1.0 for q in qs):
        raise ValueError("each q must be in (0, 1]")
    width = (hi - lo) / nbins
    gcols = [F.col(c) for c in group_cols]
    win = (
        Window.partitionBy(*gcols)
        .orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    tot = Window.partitionBy(*gcols)
    cum = bins.select(
        *group_cols,
        "bin",
        "cnt",
        F.sum("cnt").over(win).alias("cum"),
        F.sum("cnt").over(tot).alias("n"),
    )
    qdf = cum.sparkSession.createDataFrame([(float(q),) for q in qs], "q double")
    target = F.ceil(F.col("q") * F.col("n")).cast("long")
    hit = (
        cum.crossJoin(F.broadcast(qdf))
        .where(F.col("cum") >= target)
        .groupBy(*group_cols, "q")
        .agg(F.min("bin").alias("bin"))
    )
    est = F.lit(lo) + (F.col("bin") + F.lit(1)).cast("double") * F.lit(width)
    return hit.select(*group_cols, "q", "bin", est.alias("value_est"))


def hist_quantiles_by_oracle_sql(
    values_cte: str,
    group_cols: list[str],
    qs: list[float],
    lo: float,
    hi: float,
    nbins: int = 256,
) -> str:
    """DuckDB replica of hist_bins_by + hist_quantiles_by over
    ``values_cte`` (yields ``*group_cols, v``)."""
    if not group_cols:
        raise ValueError("group_cols must be non-empty")
    if not qs or not all(0.0 < q <= 1.0 for q in qs):
        raise ValueError("each q must be in (0, 1]")
    width = (hi - lo) / nbins
    g = ", ".join(group_cols)
    q_rows = " union all ".join(f"select cast({float(q)!r} as double) as q" for q in qs)
    return (
        f"with hqg_v as (select {g}, cast(v as double) as v from ({values_cte}) "
        "where v is not null), "
        f"hqg_b as (select {g}, cast(least(greatest(floor((v - {lo!r}) / {width!r}), 0), "
        f"{nbins - 1}) as int) as bin from hqg_v), "
        f"hqg_h as (select {g}, bin, count(*) as cnt from hqg_b group by {g}, bin), "
        f"hqg_c as (select {g}, bin, cnt, "
        f"sum(cnt) over (partition by {g} order by bin) as cum, "
        f"sum(cnt) over (partition by {g}) as n from hqg_h), "
        f"hqg_q as ({q_rows}) "
        f"select {g}, q, min(bin) as bin, "
        f"{lo!r} + cast(min(bin) + 1 as double) * {width!r} as value_est "
        f"from hqg_c, hqg_q where cum >= ceil(q * n) group by {g}, q"
    )
