"""Geofence event detection: enter/exit events from per-mover fix
streams against a polygon set — the alerting/attribution pass of every
fleet, delivery, and location-analytics pipeline, and the composition
point of this engine's movement family (PIP join x ordered windows).

Engine extension (north_rule); absent from the reference. Semantics: for
every mover, every fix carries its set of containing polygons (the PIP
join); an ENTER event fires at the first fix where a polygon appears in
the set and was absent at the previous fix (or at the mover's first fix),
an EXIT event fires at the first fix where it is absent after being
present. Event timestamps are fix timestamps — the observation
granularity; no interpolation of the crossing instant is invented.

Execution shape: ONE PIP join (broadcast or cell-partitioned — the
engine's hybrid, operators/pip.py), ONE groupBy collecting the per-fix
polygon set (sorted for determinism), ONE mover window computing the
set difference against the lagged set, then a map-side explode of
enters/exits. Movers partition the window; a mover's history sorts in
one task (the semantic minimum for ordered transition detection — same
note as sessionize). The set per fix is bounded by polygon
overlap depth, not polygon count.

Determinism: collect_set order is pinned by sort_array, ties in the fix
order break on the fix id, and the exploded event rows are a pure set
difference — the result is a pure function of the input, replayed
row-identically by the SQL oracle (list_filter/list_contains over the
same lag).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from osmgraft.operators.pip import pip_join


def geofence_events(
    fixes: DataFrame,
    polygons: DataFrame,
    user_col: str = "user_id",
    fix_id: str = "fid",
    ts_col: str = "ts_s",
    fix_cols: tuple[str, str] = ("lat", "lon"),
    poly_id: str = "poly_id",
    strategy: str = "auto",
    **pip_kwargs,
) -> DataFrame:
    """``(user, ts, poly_id, event)`` with event in ``enter | exit``.

    ``fixes``: (user, fid unique-per-fix, ts, lat, lon); ``polygons``:
    the PIP join's ring frame (poly_id, ring_lats, ring_lons). Extra
    ``pip_kwargs`` pass through to :func:`osmgraft.operators.pip.pip_join`.
    """
    slim = fixes.select(user_col, fix_id, ts_col, *fix_cols)
    hits = pip_join(slim, polygons, point_cols=fix_cols, strategy=strategy, **pip_kwargs)
    per_fix = hits.groupBy(user_col, fix_id, ts_col).agg(
        F.sort_array(F.collect_set(poly_id)).alias("_cur")
    )
    # empty set typed from the polygon frame, so string fence ids work too
    from pyspark.sql.types import ArrayType

    empty = F.array().cast(ArrayType(polygons.schema[poly_id].dataType))
    base = (
        slim.join(per_fix, [user_col, fix_id, ts_col], "left")
        .select(
            user_col,
            fix_id,
            ts_col,
            F.coalesce(F.col("_cur"), empty).alias("_cur"),
        )
    )
    w = Window.partitionBy(user_col).orderBy(F.col(ts_col).asc(), F.col(fix_id).asc())
    lagged = base.withColumn("_prv", F.coalesce(F.lag("_cur").over(w), empty))
    # ONE explode for both kinds: a union of two selects would execute the
    # whole PIP+window subtree twice (visible in .explain as two copies)
    tagged = F.concat(
        F.transform(
            F.array_except("_cur", "_prv"),
            lambda p: F.struct(p.alias("p"), F.lit("enter").alias("e")),
        ),
        F.transform(
            F.array_except("_prv", "_cur"),
            lambda p: F.struct(p.alias("p"), F.lit("exit").alias("e")),
        ),
    )
    return lagged.select(
        user_col, ts_col, F.explode(tagged).alias("_ev")
    ).select(
        user_col,
        ts_col,
        F.col("_ev.p").alias(poly_id),
        F.col("_ev.e").alias("event"),
    )


def dwell_intervals(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts_s",
    poly_id: str = "poly_id",
) -> DataFrame:
    """Pair :func:`geofence_events` output into visit intervals:
    ``(user, poly_id, enter_s, exit_s, dwell_s)`` per completed visit;
    a still-open visit (enter with no later exit) emits a null exit and
    dwell. Within one (user, polygon) the event stream strictly
    alternates enter/exit starting with enter (a set-difference
    transition can't repeat), so pairing is ONE window lead over
    (user, poly) — the partition key refines the event window's, no new
    shuffle shape.

    Same-second ties: event timestamps are fix timestamps, so an exit
    and a re-enter can share one second; the fix order behind them is
    not in the event stream, so the pairing pins exits BEFORE enters on
    ties (the closed-visit bias: an exit at second t closes the visit
    opened earlier; the same-second enter opens the next). Deterministic
    and oracle-replayed; sub-second fidelity needs sub-second
    timestamps upstream."""
    w = Window.partitionBy(user_col, poly_id).orderBy(
        F.col(ts_col).asc(), F.col("event").desc()  # 'exit' > 'enter'
    )
    nxt = F.lead(ts_col).over(w)
    return (
        events.withColumn("_next", nxt)
        .where(F.col("event") == "enter")
        .select(
            user_col,
            poly_id,
            F.col(ts_col).alias("enter_s"),
            F.col("_next").alias("exit_s"),
            (F.col("_next") - F.col(ts_col)).cast("long").alias("dwell_s"),
        )
    )
