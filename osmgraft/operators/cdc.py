"""CDC changelog apply (MERGE/upsert): fold a stream of keyed
insert/update/delete changes into a base snapshot in ONE shuffle.

Engine extension (north_rule); absent from the reference (a batch
importer has no notion of updates). At 10^12-document scale the input
Iceberg table is maintained by exactly this operation — nightly
snapshot + CDC deltas — and the naive formulations fail:

- MERGE INTO per delta batch -> one full-table rewrite per batch;
- join snapshot x changelog -> one shuffle per side PLUS per-key
  latest-change resolution as a second shuffle.

The scale-correct shape is the union-tag fold: snapshot rows enter the
union as sequence -1, changelog rows carry their own sequence, ONE hash
shuffle on the key, and ``max(struct(seq, op, payload...))`` per key
picks the final state — an algebraic aggregate, so map-side partial
aggregation applies and the reduce side sees one pre-folded row per
(map partition, key). Keys whose latest operation is a delete drop at
the end.

Contracts: one snapshot row per key; changelog sequences are unique per
key and non-negative (the snapshot's -1 sorts below all of them), so
the struct comparison is decided by the sequence alone and the result
is deterministic under any partitioning. Ops: ``'U'`` (insert/update —
payload replaces state) and ``'D'`` (delete); unknown ops raise at plan
build.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

OPS = ("U", "D")


def apply_changelog(
    snapshot: DataFrame,
    changelog: DataFrame,
    key: str = "id",
    seq_col: str = "seq",
    op_col: str = "op",
) -> DataFrame:
    """Final per-key state after applying ``changelog`` to ``snapshot``.

    ``snapshot``: (key, payload...). ``changelog``: (key, payload...,
    seq, op). Output schema equals the snapshot's. See module docstring
    for contracts and the one-shuffle plan shape."""
    payload = [c for c in snapshot.columns if c != key]
    missing = [c for c in [key, *payload] if c not in changelog.columns]
    if missing:
        raise ValueError(f"changelog lacks snapshot columns {missing}")

    snap = snapshot.select(
        key,
        F.lit(-1).cast("long").alias("_seq"),
        F.lit("U").alias("_op"),
        *payload,
    )
    chg = changelog.select(
        key,
        F.col(seq_col).cast("long").alias("_seq"),
        F.col(op_col).alias("_op"),
        *payload,
    )
    u = snap.unionByName(chg)
    # guard the op domain inside the same pass (raise-on-bad-op via
    # raise_error keeps the contract checked without a separate action)
    u = u.withColumn(
        "_op",
        F.when(F.col("_op").isin(*OPS), F.col("_op")).otherwise(
            F.raise_error(F.concat(F.lit("apply_changelog: unknown op "), F.col("_op")))
        ),
    )
    latest = u.groupBy(key).agg(
        F.max(F.struct("_seq", "_op", *payload)).alias("_m")
    )
    return latest.where(F.col("_m._op") != "D").select(
        key, *[F.col(f"_m.{c}").alias(c) for c in payload]
    )


def scd2_intervals(
    changelog: DataFrame,
    key: str = "id",
    seq_col: str = "seq",
    op_col: str = "op",
    attrs: list[str] | None = None,
) -> DataFrame:
    """Slowly-changing-dimension (type 2) build: fold a keyed changelog
    into validity intervals ``(key, attrs..., valid_from, valid_to,
    is_current)`` — the dimension-table complement of
    :func:`apply_changelog`'s latest-state fold.

    Consecutive changes with IDENTICAL state (op + attrs, null-safe)
    merge into one interval, so replayed or no-op updates don't mint
    versions; a delete closes the open interval without emitting one.
    ``valid_to`` is the next version's ``valid_from`` (half-open
    intervals); open intervals have ``valid_to`` NULL and ``is_current``
    true.

    Plan: ONE hash shuffle on the key. The change-mark lag, the
    interval lead, and the final filters all share the same window
    partitioning, and the second window's sort is satisfied by the
    first's output ordering (filter preserves both), so Catalyst plans
    exchange -> sort -> two window operators back to back. Skew rides
    the key cardinality like every per-key fold here — a single key's
    history must sort in one task, which is the semantic minimum for
    ordered change detection.
    """
    attrs = attrs or [c for c in changelog.columns if c not in (key, seq_col, op_col)]
    w = Window.partitionBy(key).orderBy(seq_col)
    op = F.when(F.col(op_col).isin(*OPS), F.col(op_col)).otherwise(
        F.raise_error(F.concat(F.lit("scd2_intervals: unknown op "), F.col(op_col)))
    )
    state = F.struct(op.alias("_op"), *[F.col(a) for a in attrs])
    marked = changelog.withColumn("_chg", ~state.eqNullSafe(F.lag(state).over(w)))
    trans = marked.where(F.col("_chg"))
    out = trans.withColumn("valid_to", F.lead(F.col(seq_col)).over(w).cast("long"))
    return out.where(F.col(op_col) == "U").select(
        key,
        *attrs,
        F.col(seq_col).cast("long").alias("valid_from"),
        "valid_to",
        F.col("valid_to").isNull().alias("is_current"),
    )
