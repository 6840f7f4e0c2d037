"""Incremental view maintenance for additive rollups.

A 100 TB fact table with a maintained daily/group rollup should not
re-aggregate the world after a sync that touched 0.1% of rows. For
additive aggregates (SUM, COUNT — and means derivable from them), the
diff triple IS the delta stream:

- insert  → +value, +1 row to its group
- delete  → -value, -1 row from its group
- update  → two deltas: -(before value) from the BEFORE group and
  +(after value) to the AFTER group — so rows that *move between
  groups* (a group-key column changed) maintain both sides correctly.

``new_state = state ⟗ group_deltas`` is one shuffle over the DELTA
(diff-sized, not fact-sized) plus a join against the state table —
the fact table is never re-scanned. Groups whose row count reaches
zero are dropped, groups first seen in the delta are created.

Exactness: values are summed as DECIMAL (same contract as the rest of
the engine — see contract.py's money-math rule), so maintained state
is bit-identical to a full recompute, which is exactly what the
``incremental_rollup`` contract query's oracle checks. That includes
SQL NULL-sum semantics: the state tracks the count of NON-NULL values
(``n_vals``) so a group holding only NULL values yields ``sum_val``
NULL — exactly what ``SUM`` over that group recomputes — instead of
the 0 a bare coalesce would fabricate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mydatasyncer_spark.operators.diff import (
    AFTER_COL,
    BEFORE_COL,
    KIND_COL,
    DiffResult,
    diff_changes,
)

_SUM = "sum_val"
_CNT = "n_rows"
_NNV = "n_vals"


def rollup_state(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    precision: int = 18,
    scale: int = 2,
) -> DataFrame:
    """The full-recompute form of the maintained state:
    (group_cols..., sum_val DECIMAL, n_rows BIGINT, n_vals BIGINT).
    Run once to bootstrap; afterwards :func:`maintain_rollup` keeps it
    fresh from diffs."""
    return df.groupBy(*group_cols).agg(
        F.sum(F.col(value_col).cast(f"decimal({precision},{scale})")).alias(
            _SUM
        ),
        F.count(F.lit(1)).alias(_CNT),
        F.count(F.col(value_col)).alias(_NNV),
    )


def maintain_rollup(
    state_df: DataFrame,
    diff: DiffResult,
    group_cols: list[str],
    value_col: str,
    precision: int = 18,
    scale: int = 2,
) -> DataFrame:
    """Apply a diff's deltas to a rollup state (see module docstring).

    ``state_df`` must have the :func:`rollup_state` schema. Returns
    the new state with the same schema; groups with zero remaining
    rows are dropped. Cost: one aggregation + one full-outer join,
    both sized by the DIFF, never by the fact table.
    """
    dec = f"decimal({precision},{scale})"

    def leg(df: DataFrame, sign: int, cols_from=None) -> DataFrame:
        src = cols_from or {c: F.col(c) for c in [*group_cols, value_col]}
        return df.select(
            *[src[c].alias(c) for c in group_cols],
            (F.lit(sign) * src[value_col].cast(dec)).alias("_dv"),
            F.lit(sign).cast("bigint").alias("_dn"),
            F.when(src[value_col].isNull(), F.lit(0))
            .otherwise(F.lit(sign))
            .cast("bigint")
            .alias("_dz"),
        )

    legs = [leg(diff.to_insert, +1), leg(diff.to_delete, -1)]
    if BEFORE_COL in diff.to_update.columns:
        before = {
            c: F.col(BEFORE_COL).getField(c)
            for c in [*group_cols, value_col]
        }
        legs.append(leg(diff.to_update, +1))          # after values
        legs.append(leg(diff.to_update, -1, before))  # before values
    deltas = legs[0]
    for l in legs[1:]:
        deltas = deltas.unionByName(l)
    return _merge_rollup_deltas(state_df, deltas, group_cols, dec)


def _merge_rollup_deltas(
    state_df: DataFrame,
    deltas: DataFrame,
    group_cols: list[str],
    dec: str,
) -> DataFrame:
    """Fold per-row signed deltas ``(group_cols..., _dv, _dn, _dz)``
    into a :func:`rollup_state`-shaped state (shared tail of
    :func:`maintain_rollup` and :func:`maintain_rollup_onepass`)."""
    grouped = deltas.groupBy(*group_cols).agg(
        F.sum("_dv").alias("_dv"),
        F.sum("_dn").alias("_dn"),
        F.sum("_dz").alias("_dz"),
    )
    # null-SAFE join keys: a plain `on=group_cols` treats NULL group
    # values as non-matching, splitting a NULL group into a stale
    # state row plus an unmerged delta row (groupBy treats NULL as a
    # regular group, the join must too)
    cond = None
    for c in group_cols:
        e = F.col(f"s.{c}").eqNullSafe(F.col(f"d.{c}"))
        cond = e if cond is None else cond & e
    joined = state_df.alias("s").join(
        grouped.alias("d"), on=cond, how="full_outer"
    )
    zero = F.lit(0).cast(dec)
    new_nnv = (
        F.coalesce(F.col(f"s.{_NNV}"), F.lit(0))
        + F.coalesce(F.col("d._dz"), F.lit(0))
    ).cast("bigint")
    return joined.select(
        *[
            F.coalesce(F.col(f"s.{c}"), F.col(f"d.{c}")).alias(c)
            for c in group_cols
        ],
        # SQL SUM semantics: no non-null values left -> NULL, not 0
        F.when(
            new_nnv > 0,
            (
                F.coalesce(F.col(f"s.{_SUM}"), zero)
                + F.coalesce(F.col("d._dv"), zero)
            ).cast(dec),
        )
        .otherwise(F.lit(None).cast(dec))
        .alias(_SUM),
        (
            F.coalesce(F.col(f"s.{_CNT}"), F.lit(0))
            + F.coalesce(F.col("d._dn"), F.lit(0))
        )
        .cast("bigint")
        .alias(_CNT),
        new_nnv.alias(_NNV),
    ).filter(F.col(_CNT) > 0)


def maintain_rollup_onepass(
    state_df: DataFrame,
    file_df: DataFrame,
    db_df: DataFrame,
    primary_key: str,
    columns: list[str],
    group_cols: list[str],
    value_col: str,
    precision: int = 18,
    scale: int = 2,
    delete_not_in_file: bool = True,
) -> DataFrame:
    """:func:`maintain_rollup` with the deltas derived straight from
    the snapshots in ONE classification pass (r14 optimization).

    The legacy composition — ``maintain_rollup(state,
    diff_snapshots(f, d, pk), ...)`` — repeats the diff's full-outer
    classification join, carrying EVERY sync column, under four union
    branches at plan level: the insert leg, the delete leg, and the
    update leg twice (after- and before-value). Spark does not dedupe
    common subtrees across union branches, so the join runs once per
    branch (exchange reuse can at best share its shuffles).
    Here :func:`~mydatasyncer_spark.operators.diff.diff_changes`
    classifies in one narrow full-outer join carrying only
    ``(key, fingerprint, group_cols, value_col)``, each changed row
    explodes to its signed delta(s) — +after / −before — and the
    shared :func:`_merge_rollup_deltas` tail folds them into the
    state. Same decimal casts, same NULL-group and NULL-sum
    semantics, bit-identical output (oracle-pinned); at 100 TB the
    snapshots are scanned once each and shuffled once, 16 bytes +
    group/value per row, instead of every sync column five times.
    Requires unique primary keys per side (the snapshot contract —
    see ``diff_changes``).
    """
    dec = f"decimal({precision},{scale})"
    ch = diff_changes(
        file_df,
        db_df,
        primary_key,
        columns,
        payload=[*group_cols, value_col],
        delete_not_in_file=delete_not_in_file,
    )
    plus = F.struct(F.lit(1).alias("_sign"), F.col(AFTER_COL).alias("_p"))
    minus = F.struct(
        F.lit(-1).alias("_sign"), F.col(BEFORE_COL).alias("_p")
    )
    k = F.col(KIND_COL)
    signed = ch.select(
        F.explode(
            F.when(k == "insert", F.array(plus))
            .when(k == "delete", F.array(minus))
            .otherwise(F.array(plus, minus))  # update: +after, -before
        ).alias("_l")
    )
    v = F.col(f"_l._p.{value_col}")
    sign = F.col("_l._sign")
    deltas = signed.select(
        *[F.col(f"_l._p.{c}").alias(c) for c in group_cols],
        (sign * v.cast(dec)).alias("_dv"),
        sign.cast("bigint").alias("_dn"),
        F.when(v.isNull(), F.lit(0))
        .otherwise(sign)
        .cast("bigint")
        .alias("_dz"),
    )
    return _merge_rollup_deltas(state_df, deltas, group_cols, dec)


_MIN = "min_val"
_MAX = "max_val"


def rollup_state_minmax(
    df: DataFrame, group_cols: list[str], value_col: str
) -> DataFrame:
    """Full-recompute form of the min/max rollup state:
    (group_cols..., min_val, max_val, n_rows BIGINT)."""
    return df.groupBy(*group_cols).agg(
        F.min(value_col).alias(_MIN),
        F.max(value_col).alias(_MAX),
        F.count(F.lit(1)).alias(_CNT),
    )


def damaged_groups(
    state_df: DataFrame,
    diff: DiffResult,
    group_cols: list[str],
    value_col: str,
) -> DataFrame:
    """Groups whose stored extremum may have been REMOVED by the diff.

    MIN/MAX are not invertible: inserts only ever improve them
    monotonically, but deleting (or updating away) a row carrying the
    group's current extremum invalidates the stored value. A removed
    value strictly inside the (min, max) interval is provably
    harmless; one equal to either bound marks the group damaged.
    Returns the distinct damaged group keys — the ONLY groups whose
    rows the repair pass re-aggregates.
    """
    removed = [_value_leg(diff.to_delete, group_cols, value_col)]
    if BEFORE_COL in diff.to_update.columns:
        before = {
            c: F.col(BEFORE_COL).getField(c)
            for c in [*group_cols, value_col]
        }
        removed.append(
            _value_leg(diff.to_update, group_cols, value_col, before)
        )
    rem = removed[0]
    for r in removed[1:]:
        rem = rem.unionByName(r)
    cond = None
    for c in group_cols:
        e = F.col(f"s.{c}").eqNullSafe(F.col(f"r.{c}"))
        cond = e if cond is None else cond & e
    joined = state_df.alias("s").join(rem.alias("r"), on=cond, how="inner")
    hit = (F.col("r._v") <= F.col(f"s.{_MIN}")) | (
        F.col("r._v") >= F.col(f"s.{_MAX}")
    )
    return (
        joined.filter(F.col("r._v").isNotNull() & hit)
        .select(*[F.col(f"s.{c}").alias(c) for c in group_cols])
        .distinct()
    )


def _value_leg(
    df: DataFrame, group_cols: list[str], value_col: str, cols_from=None
) -> DataFrame:
    """(group_cols..., _v) projection of one diff leg (optionally from
    the BEFORE struct)."""
    src = cols_from or {c: F.col(c) for c in [*group_cols, value_col]}
    return df.select(
        *[src[c].alias(c) for c in group_cols],
        src[value_col].alias("_v"),
    )


def maintain_rollup_minmax(
    state_df: DataFrame,
    diff: DiffResult,
    new_fact_df: DataFrame,
    group_cols: list[str],
    value_col: str,
) -> DataFrame:
    """Maintain a min/max rollup from a diff, with group-targeted
    repair for the non-invertible cases.

    Three-way plan, all delta-sized except the repair:

    1. **monotone pass** — inserts and update-AFTER values can only
       improve min/max; groups whose removals never touch a stored
       bound get ``least/greatest(state, added)`` plus the net row
       count, no fact access.
    2. **repair pass** — :func:`damaged_groups` (removals that hit a
       bound) are re-aggregated from ``new_fact_df`` via a left-semi
       join on the damaged keys: cost ∝ rows of damaged groups, and
       with the fact stored partitioned/bucketed on the group key the
       semi join prunes at the scan. The 100 TB daily shape: a few
       groups repair, the rest never read the fact.
    3. groups whose net row count reaches zero drop out (the repair
       pass naturally emits nothing for them).

    Result is bit-identical to :func:`rollup_state_minmax` over the
    new fact (pinned by tests and the contract oracle).
    """
    added = [_value_leg(diff.to_insert, group_cols, value_col)]
    if BEFORE_COL in diff.to_update.columns:
        added.append(_value_leg(diff.to_update, group_cols, value_col))
    add = added[0]
    for a in added[1:]:
        add = add.unionByName(a)
    removed = [_value_leg(diff.to_delete, group_cols, value_col)]
    if BEFORE_COL in diff.to_update.columns:
        before = {
            c: F.col(BEFORE_COL).getField(c)
            for c in [*group_cols, value_col]
        }
        removed.append(
            _value_leg(diff.to_update, group_cols, value_col, before)
        )
    rem = removed[0]
    for r in removed[1:]:
        rem = rem.unionByName(r)

    add_g = add.groupBy(*group_cols).agg(
        F.min("_v").alias("_add_min"),
        F.max("_v").alias("_add_max"),
        F.count(F.lit(1)).cast("bigint").alias("_add_n"),
    )
    rem_g = rem.groupBy(*group_cols).agg(
        F.count(F.lit(1)).cast("bigint").alias("_rem_n")
    )

    damaged = damaged_groups(state_df, diff, group_cols, value_col)

    # monotone pass over undamaged groups (incl. brand-new groups)
    st = state_df.alias("s")
    dd = damaged.alias("x")
    cond = None
    for c in group_cols:
        e = F.col(f"s.{c}").eqNullSafe(F.col(f"x.{c}"))
        cond = e if cond is None else cond & e
    safe_state = st.join(dd, on=cond, how="left_anti")

    cond2 = None
    a = add_g.alias("a")
    for c in group_cols:
        e = F.col(f"s.{c}").eqNullSafe(F.col(f"a.{c}"))
        cond2 = e if cond2 is None else cond2 & e
    merged = safe_state.alias("s").join(a, on=cond2, how="full_outer")
    r = rem_g.alias("r")
    cond3 = None
    for c in group_cols:
        e = (
            F.coalesce(F.col(f"s.{c}"), F.col(f"a.{c}"))
            .eqNullSafe(F.col(f"r.{c}"))
        )
        cond3 = e if cond3 is None else cond3 & e
    merged = merged.join(r, on=cond3, how="left")
    # a removal in a group absent from safe_state is either damaged
    # (handled by repair) or inconsistent input; left join drops it
    maintained = merged.select(
        *[
            F.coalesce(F.col(f"s.{c}"), F.col(f"a.{c}")).alias(c)
            for c in group_cols
        ],
        F.least(F.col(f"s.{_MIN}"), F.col("a._add_min")).alias(_MIN),
        F.greatest(F.col(f"s.{_MAX}"), F.col("a._add_max")).alias(_MAX),
        (
            F.coalesce(F.col(f"s.{_CNT}"), F.lit(0))
            + F.coalesce(F.col("a._add_n"), F.lit(0))
            - F.coalesce(F.col("r._rem_n"), F.lit(0))
        )
        .cast("bigint")
        .alias(_CNT),
    ).filter(F.col(_CNT) > 0)
    # a damaged group can re-enter through the add side of the full
    # outer join (its state row was filtered, its inserts were not) —
    # the repair pass owns those groups, so drop them here or they
    # would be emitted twice
    m = maintained.alias("m")
    d3 = damaged.alias("dd")
    cond4 = None
    for c in group_cols:
        e = F.col(f"m.{c}").eqNullSafe(F.col(f"dd.{c}"))
        cond4 = e if cond4 is None else cond4 & e
    maintained = m.join(d3, on=cond4, how="left_anti")

    # repair pass: re-aggregate ONLY the damaged groups from the fact
    fact_cond = None
    f = new_fact_df.alias("f")
    d2 = damaged.alias("d")
    for c in group_cols:
        e = F.col(f"f.{c}").eqNullSafe(F.col(f"d.{c}"))
        fact_cond = e if fact_cond is None else fact_cond & e
    repaired = rollup_state_minmax(
        f.join(d2, on=fact_cond, how="left_semi"),
        group_cols,
        value_col,
    )
    return maintained.unionByName(repaired)


def maintain_rollup_minmax_onepass(
    state_df: DataFrame,
    file_df: DataFrame,
    db_df: DataFrame,
    new_fact_df: DataFrame,
    primary_key: str,
    columns: list[str],
    group_cols: list[str],
    value_col: str,
    delete_not_in_file: bool = True,
) -> DataFrame:
    """:func:`maintain_rollup_minmax` with deltas AND damage detection
    derived in one classification pass (r14 optimization).

    The legacy composition re-executes diff-leg join subtrees across
    the add legs, the removal legs and :func:`damaged_groups` — eight
    join subtrees at plan level. Here one
    :func:`~mydatasyncer_spark.operators.diff.diff_changes` pass
    explodes each changed row into tagged (add|removed, value) legs,
    ONE aggregation collapses them to per-group stats — add min/max/
    count, removal count, and the removal value envelope — and one
    null-safe full-outer join against the state both merges the
    monotone path and detects damage: a group is damaged iff some
    non-null removed value hits a stored bound, i.e. iff
    ``min(removed) <= stored_min OR max(removed) >= stored_max``
    (exists-quantifier collapsed to the envelope). Damaged groups
    route to the same semi-join-pruned fact repair. Bit-identical to
    the legacy path (equivalence-pinned by tests); requires unique
    primary keys per side (the snapshot contract).
    """
    ch = diff_changes(
        file_df,
        db_df,
        primary_key,
        columns,
        payload=[*group_cols, value_col],
        delete_not_in_file=delete_not_in_file,
    )
    add = F.struct(F.lit(True).alias("_is_add"), F.col(AFTER_COL).alias("_p"))
    rem = F.struct(
        F.lit(False).alias("_is_add"), F.col(BEFORE_COL).alias("_p")
    )
    k = F.col(KIND_COL)
    vals = ch.select(
        F.explode(
            F.when(k == "insert", F.array(add))
            .when(k == "delete", F.array(rem))
            .otherwise(F.array(add, rem))  # update: add after, remove before
        ).alias("_l")
    ).select(
        *[F.col(f"_l._p.{c}").alias(c) for c in group_cols],
        F.col("_l._is_add").alias("_is_add"),
        F.col(f"_l._p.{value_col}").alias("_v"),
    )
    is_add = F.col("_is_add")
    g = vals.groupBy(*group_cols).agg(
        F.min(F.when(is_add, F.col("_v"))).alias("_add_min"),
        F.max(F.when(is_add, F.col("_v"))).alias("_add_max"),
        F.sum(F.when(is_add, 1).otherwise(0)).cast("bigint").alias("_add_n"),
        F.sum(F.when(~is_add, 1).otherwise(0))
        .cast("bigint")
        .alias("_rem_n"),
        F.min(F.when(~is_add, F.col("_v"))).alias("_rem_vmin"),
        F.max(F.when(~is_add, F.col("_v"))).alias("_rem_vmax"),
    )
    cond = None
    for c in group_cols:
        e = F.col(f"s.{c}").eqNullSafe(F.col(f"g.{c}"))
        cond = e if cond is None else cond & e
    merged = state_df.alias("s").join(g.alias("g"), on=cond, how="full_outer")
    # NULL-safe by construction: a group with no state row, or whose
    # removals are all NULL values, compares NULL -> not damaged —
    # exactly damaged_groups' isNotNull() & hit filter
    is_damaged = F.coalesce(
        (F.col("_rem_vmin") <= F.col(f"s.{_MIN}"))
        | (F.col("_rem_vmax") >= F.col(f"s.{_MAX}")),
        F.lit(False),
    )
    maintained = (
        merged.filter(~is_damaged)
        .select(
            *[
                F.coalesce(F.col(f"s.{c}"), F.col(f"g.{c}")).alias(c)
                for c in group_cols
            ],
            F.least(F.col(f"s.{_MIN}"), F.col("_add_min")).alias(_MIN),
            F.greatest(F.col(f"s.{_MAX}"), F.col("_add_max")).alias(_MAX),
            (
                F.coalesce(F.col(f"s.{_CNT}"), F.lit(0))
                + F.coalesce(F.col("_add_n"), F.lit(0))
                - F.coalesce(F.col("_rem_n"), F.lit(0))
            )
            .cast("bigint")
            .alias(_CNT),
        )
        .filter(F.col(_CNT) > 0)
    )
    damaged = merged.filter(is_damaged).select(
        *[F.col(f"s.{c}").alias(c) for c in group_cols]
    )
    fact_cond = None
    f = new_fact_df.alias("f")
    d2 = damaged.alias("d")
    for c in group_cols:
        e = F.col(f"f.{c}").eqNullSafe(F.col(f"d.{c}"))
        fact_cond = e if fact_cond is None else fact_cond & e
    repaired = rollup_state_minmax(
        f.join(d2, on=fact_cond, how="left_semi"), group_cols, value_col
    )
    return maintained.unionByName(repaired)


# --- maintained equi-join views -------------------------------------


def affected_rollup_groups(
    diff: DiffResult, group_cols: list[str]
) -> DataFrame:
    """The group values whose rollup rows a diff invalidates — the
    rollup twin of :func:`affected_join_keys`, feeding the BUCKETED
    streaming layout's recompute scope. An updated row contributes
    both its after- and before-group (a row that moved between groups
    dirties the group it left as well as the one it joined); inserts
    contribute their group, deletes the group of the removed db-side
    row. Delta-sized; NULL group values are regular groups here, as
    everywhere in the rollup family."""
    ins = diff.to_insert.select(*group_cols)
    dele = diff.to_delete.select(*group_cols)
    legs = [ins, dele]
    if BEFORE_COL in diff.to_update.columns:
        legs.append(diff.to_update.select(*group_cols))
        legs.append(
            diff.to_update.select(
                *[
                    F.col(BEFORE_COL).getField(c).alias(c)
                    for c in group_cols
                ]
            )
        )
    out = legs[0]
    for l in legs[1:]:
        out = out.unionByName(l)
    return out.distinct()


def join_view_state(
    left: DataFrame, right: DataFrame, join_key: str, how: str = "inner"
) -> DataFrame:
    """Full-recompute bootstrap of a maintained equi-join view
    (``left ⋈ right`` on ``join_key``; ``inner`` or ``left``). Run
    once; afterwards :func:`maintain_join_view` keeps it fresh from
    diffs."""
    return left.join(right, join_key, how)


def affected_join_keys(diff: DiffResult, join_key: str) -> DataFrame:
    """The join-key values whose view rows a diff invalidates — the
    delta-sized repair scope of :func:`maintain_join_view`.

    An updated row contributes BOTH its after-value and its
    before-value of ``join_key`` (a row that moved between join
    groups invalidates the group it left as well as the one it
    joined); inserts contribute their new key, deletes the key of
    the removed db-side row. All four legs come straight from the
    diff triple — no snapshot re-scan."""
    ins = diff.to_insert.select(join_key)
    upd_after = diff.to_update.select(join_key)
    upd_before = diff.to_update.select(
        F.col(f"{BEFORE_COL}.{join_key}").alias(join_key)
    )
    dele = diff.to_delete.select(join_key)
    return (
        ins.unionByName(upd_after)
        .unionByName(upd_before)
        .unionByName(dele)
        .distinct()
    )


def affected_join_keys_onepass(
    file_df: DataFrame,
    db_df: DataFrame,
    primary_key: str,
    columns: list[str],
    join_key: str,
    delete_not_in_file: bool = True,
) -> DataFrame:
    """:func:`affected_join_keys` derived straight from the snapshots
    in one classification pass (r14 optimization).

    The legacy composition needs the whole
    :func:`~mydatasyncer_spark.operators.diff.diff_snapshots` triple —
    four wide join subtrees — only to read one key column off each
    leg. One :func:`~mydatasyncer_spark.operators.diff.diff_changes`
    pass carrying just the join key classifies every changed row;
    inserts contribute their after-key, deletes their before-key,
    updates both (key moves dirty both groups — NULL keys included,
    exactly as the legacy union). Same distinct key set; requires
    unique primary keys per side (the snapshot contract).
    """
    ch = diff_changes(
        file_df,
        db_df,
        primary_key,
        columns,
        payload=[join_key],
        delete_not_in_file=delete_not_in_file,
    )
    after = F.col(f"{AFTER_COL}.{join_key}")
    before = F.col(f"{BEFORE_COL}.{join_key}")
    k = F.col(KIND_COL)
    return ch.select(
        F.explode(
            F.when(k == "insert", F.array(after))
            .when(k == "delete", F.array(before))
            .otherwise(F.array(after, before))
        ).alias(join_key)
    ).distinct()


def maintain_join_view(
    state: DataFrame,
    left_new: DataFrame,
    right_new: DataFrame,
    join_key: str,
    affected_keys: DataFrame,
    how: str = "inner",
) -> DataFrame:
    """Incrementally maintained equi-join view (``inner`` or
    ``left``): rows of the materialized ``state`` whose join key is
    affected are dropped and recomputed from the NEW snapshots,
    semi-join pruned to exactly those keys. For a LEFT view the same
    repair is exact: a right-side delete that strands left rows has
    its key in ``affected_keys``, so the group recomputes to the
    null-padded form.

    The IVM identity behind it: for an equi join, a changed row can
    only alter view rows sharing its join-key value, so
    ``new_view = state − σ[k ∈ affected] ∪
    (left' ⋉ affected) ⋈ (right' ⋉ affected)``. Exact for duplicate
    join keys on either side (the whole key group is recomputed) and
    for key-moving updates (both groups are in ``affected_keys`` via
    :func:`affected_join_keys`). Changes on BOTH sides compose by
    passing the union of each side's affected keys.

    Scale shape: every leg is an equi/semi/anti join keyed on
    ``join_key`` and sized by the DELTA — AQE broadcasts the affected
    key set when small — and with snapshots stored bucketed on the
    join key the two semi joins prune at the scan, so maintenance
    never re-reads the unaffected bulk. The rollup twin for
    aggregates is :func:`maintain_rollup`; this is the same repair
    pattern applied to the join operator itself.
    """
    if how not in ("inner", "left"):
        raise ValueError(
            "maintain_join_view supports how='inner' or 'left'"
        )
    # null-SAFE repair scope: a plain `on=join_key` never matches a
    # NULL key, which on a `left` view (where NULL-key left rows ARE
    # view rows, null-padded) would keep the stale pre-change row AND
    # drop its recompute — the same discipline maintain_rollup
    # applies to NULL group values above. The final lf⋈rf rejoin
    # stays plain equality on purpose: that IS the view's join
    # semantics (NULL keys never inner-join; a left join null-pads
    # them).
    ak = affected_keys.alias("ak")

    def scoped(df: DataFrame, mode: str) -> DataFrame:
        d = df.alias("d")
        cond = F.col(f"d.{join_key}").eqNullSafe(F.col(f"ak.{join_key}"))
        return d.join(ak, on=cond, how=mode)

    kept = scoped(state, "left_anti")
    lf = scoped(left_new, "left_semi")
    rf = scoped(right_new, "left_semi")
    return kept.unionByName(lf.join(rf, join_key, how))
