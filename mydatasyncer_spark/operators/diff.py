"""Snapshot diff engine — the reference's central "query".

``diffData`` (ref: dbsync.go:762-780) iterates file records and
probes a driver-RAM hash map of the DB snapshot. Re-expressed
Spark-first, that dataflow is ONE full-outer join on a canonicalized
primary-key column (:func:`diff_changes`), each side collapsed to
``(canonical key, row fingerprint, struct of the sync columns)``; a
row is then classified by which side it came from:

- **insert**  = key on the file side only   (ref: dbsync.go:731-733, J2)
- **update**  = key on both sides, fingerprints differ in canonical
  string space (ref: dbsync.go:734-739 + compareRecords 695-715, J3)
- **delete**  = key on the DB side only, gated on ``delete_not_in_file``
  (ref: findRecordsToDelete, dbsync.go:746-758, J4)

:func:`diff_snapshots` hands out the three legs as filters and
projections of that one classified frame, so pinning it once
(:meth:`DiffResult.persist`) serves counts, samples, staging and the
per-row apply without re-reading either snapshot. The leg-wise joins
(:func:`detect_inserts` / :func:`detect_updates` /
:func:`detect_deletes`) stay as standalone operators and as the
reference the classification is tested against.

Cross-type key equality (JSON ``123`` == DB ``"123"``, ref:
dbsync.go:28-48, J5) comes from joining on ``canonical_str(pk)``
rather than the raw column.

Scale notes: the classification shuffles each snapshot once, hashed
on the canonical key (a full outer join is never broadcast, so both
sides always cross one exchange). Unchanged rows never leave the
join, and nothing is materialized on the driver.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from mydatasyncer_spark.functions.canonical import (
    canonical_col,
    quote_ident,
    row_fingerprint,
)
from mydatasyncer_spark.operators.partitioning import ensure_min_parallelism

_KEY = "_pk_canon"
BEFORE_COL = "_before"
#: classification label column of :func:`diff_changes`
KIND_COL = "_kind"
#: after-image struct column of :func:`diff_changes` (NULL for deletes)
AFTER_COL = "_after"
_KINDS = ("insert", "update", "delete")


def _cols(names: list[str]) -> list[Column]:
    """Exact-name references, so a column whose name holds a dot
    resolves as itself and not as a struct field access."""
    return [F.col(quote_ident(c)) for c in names]


@dataclass
class DiffResult:
    """The plan-level triple (ref: DiffOperations, dbsync.go:138-142).

    ``to_update`` carries the *after* (file-side) values in the sync
    columns plus a ``_before`` struct with the DB-side values
    (ref: UpdateOperation, dbsync.go:132-135).

    ``changes`` is the classified frame of :func:`diff_changes` that
    :func:`diff_snapshots` derives all three legs from. When it is set,
    :meth:`persist` pins that one frame (every leg then reads the pin)
    and :meth:`counts` is one ``groupBy(_kind)`` aggregate over it. A
    triple assembled by hand leaves it ``None`` and is pinned and
    counted leg by leg.
    """

    to_insert: DataFrame
    to_update: DataFrame
    to_delete: DataFrame
    changes: DataFrame | None = None

    def _frames(self) -> list[DataFrame]:
        if self.changes is not None:
            return [self.changes]
        return [self.to_insert, self.to_update, self.to_delete]

    def persist(self) -> DiffResult:
        for df in self._frames():
            df.persist()
        return self

    def unpersist(self) -> None:
        for df in self._frames():
            df.unpersist()

    def counts(self) -> dict[str, int]:
        if self.changes is None:
            return {
                "insert": self.to_insert.count(),
                "update": self.to_update.count(),
                "delete": self.to_delete.count(),
            }
        by_kind = {
            r[KIND_COL]: r["count"]
            for r in self.changes.groupBy(KIND_COL).count().collect()
        }
        return {k: by_kind.get(k, 0) for k in _KINDS}


def with_canonical_key(df: DataFrame, primary_key: str) -> DataFrame:
    """Append the canonical join-key column (J5).

    Deliberately NOT pre-repartitioned: canonicalization is a cheap
    scalar projection, the join exchange right after redistributes
    anyway, and a forced widening here measurably added more exchange
    + planning cost than it saved (see operators/partitioning.py for
    the fan-out cases where widening IS worth it)."""
    return df.withColumn(_KEY, canonical_col(df, primary_key))


def detect_inserts(
    file_df: DataFrame, db_df: DataFrame, primary_key: str
) -> DataFrame:
    """File rows whose canonical PK is absent from the DB (J2)."""
    f = with_canonical_key(file_df, primary_key)
    d = with_canonical_key(db_df, primary_key).select(_KEY)
    return f.join(d, _KEY, "left_anti").drop(_KEY)


def detect_deletes(
    file_df: DataFrame, db_df: DataFrame, primary_key: str
) -> DataFrame:
    """DB rows whose canonical PK is absent from the file (J4)."""
    d = with_canonical_key(db_df, primary_key)
    f = with_canonical_key(file_df, primary_key).select(_KEY)
    return d.join(f, _KEY, "left_anti").drop(_KEY)


def row_differs(
    file_df: DataFrame, db_df: DataFrame, columns: list[str]
) -> Column:
    """Canonical-string row inequality over ``columns`` (J3 predicate).

    Compares via per-side 64-bit fingerprints of the canonical string
    tuple — one xxhash64 each side instead of an OR-chain of N
    null-safe comparisons, which keeps the predicate cheap and
    codegen-friendly at wide schemas.
    """
    return row_fingerprint(file_df, columns) != row_fingerprint(db_df, columns)


def detect_updates(
    file_df: DataFrame,
    db_df: DataFrame,
    primary_key: str,
    columns: list[str],
) -> DataFrame:
    """PK present in both and any column differs (J3).

    Output: after-values in ``columns`` + ``_before`` struct of the
    DB-side values.
    """
    f = with_canonical_key(file_df.select(*_cols(columns)), primary_key)
    d = with_canonical_key(db_df.select(*_cols(columns)), primary_key)
    joined = f.alias("f").join(d.alias("d"), _KEY, "inner")
    fa, da = joined.select("f.*").drop(_KEY), joined.select("d.*").drop(_KEY)
    differs = row_fingerprint(fa, columns) != row_fingerprint(da, columns)
    return (
        joined.filter(differs)
        .select(
            *[F.col(f"f.{quote_ident(c)}").alias(c) for c in columns],
            F.struct(
                *[F.col(f"d.{quote_ident(c)}").alias(c) for c in columns]
            ).alias(BEFORE_COL),
        )
    )


def changed_columns(
    file_df: DataFrame, db_df: DataFrame, columns: list[str]
) -> Column:
    """Array of column names whose canonical values differ — used by
    the dry-run report's changed-vs-unchanged display
    (ref: dbsync.go:207-218)."""
    flags = [
        F.when(
            canonical_col(file_df, c) != canonical_col(db_df, c), F.lit(c)
        )
        for c in columns
    ]
    return F.array_compact(F.array(*flags))


def diff_counts(
    file_df: DataFrame,
    db_df: DataFrame,
    primary_key: str,
    columns: list[str] | None = None,
    delete_not_in_file: bool = True,
) -> DataFrame:
    """One-pass plan counts (the dry-run's J1 in its cheapest form).

    :func:`diff_snapshots` runs the same full-outer classification but
    carries every sync column through it, because its legs need the
    values; the counts triple only needs the classification, so here
    each side is pre-collapsed to ``(canonical_key, row_fingerprint)``.
    At 100 TB the shuffle payload drops from every sync column to 16
    bytes/row. Returns a one-row DataFrame ``(n_insert, n_update,
    n_delete)``.
    """
    if columns is None:
        columns = [c for c in file_df.columns if c in set(db_df.columns)]
    f = with_canonical_key(file_df.select(*columns), primary_key)
    d = with_canonical_key(db_df.select(*columns), primary_key)
    fs = f.select(F.col(_KEY), row_fingerprint(f, columns).alias("_f_fp"))
    ds = d.select(F.col(_KEY), row_fingerprint(d, columns).alias("_d_fp"))
    return _classify_counts(fs, ds, delete_not_in_file)


def _classify_counts(
    fs: DataFrame, ds: DataFrame, delete_not_in_file: bool
) -> DataFrame:
    """The one-pass classification aggregate over pre-collapsed sides
    ``(canonical key, fingerprint)`` — shared by :func:`diff_counts`
    and :func:`diff_counts_pruned` so the localized bench pair sits on
    byte-identical counting machinery."""
    j = fs.join(ds, _KEY, "full_outer")
    is_ins = F.col("_d_fp").isNull()
    is_del = F.col("_f_fp").isNull()
    is_upd = (~is_ins) & (~is_del) & (F.col("_f_fp") != F.col("_d_fp"))
    n_del = (
        F.sum(F.when(is_del, 1).otherwise(0)).cast("bigint")
        if delete_not_in_file
        else F.lit(0).cast("bigint")
    )
    return j.agg(
        F.sum(F.when(is_ins, 1).otherwise(0)).cast("bigint").alias("n_insert"),
        F.sum(F.when(is_upd, 1).otherwise(0)).cast("bigint").alias("n_update"),
        n_del.alias("n_delete"),
    )


def diff_changes(
    file_df: DataFrame,
    db_df: DataFrame,
    primary_key: str,
    columns: list[str] | None = None,
    payload: list[str] | None = None,
    delete_not_in_file: bool = True,
) -> DataFrame:
    """One-pass classified change rows — the row-level twin of
    :func:`diff_counts`, and the frame :func:`diff_snapshots` derives
    its three legs from.

    One full-outer join over ``(canonical_key, row_fingerprint,
    payload...)`` classifies every row in a single pass: at 100 TB the
    exchange carries 16 bytes + the payload per row, once. Consumers
    that only need *which rows changed and how* plus a few columns
    (IVM delta derivation, affected-key scopes, SCD2 maintenance) pass
    a narrow ``payload``; :func:`diff_snapshots` passes every sync
    column.

    Returns one row per changed key with:

    - ``_kind`` — ``'insert'`` / ``'update'`` / ``'delete'``
    - ``_after`` — struct of ``payload`` columns from the file side
      (NULL struct for deletes)
    - ``_before`` — struct of ``payload`` columns from the db side
      (NULL struct for inserts)

    ``payload`` defaults to all sync ``columns``. Update detection is
    the same canonical fingerprint inequality as :func:`row_differs`
    (same collision trade-off). Unchanged rows never leave the join.

    A full outer join's rows are exactly the file-only rows, the
    matched pairs and the DB-only rows, so this classifies row for row
    like :func:`detect_inserts` / :func:`detect_updates` /
    :func:`detect_deletes`, repeated and NULL keys included (an update
    is one matched pair, as in the inner join of :func:`detect_updates`).
    """
    if columns is None:
        columns = [c for c in file_df.columns if c in set(db_df.columns)]
    if payload is None:
        payload = columns
    f = with_canonical_key(file_df.select(*_cols(columns)), primary_key)
    d = with_canonical_key(db_df.select(*_cols(columns)), primary_key)
    fs = f.select(
        F.col(_KEY),
        row_fingerprint(f, columns).alias("_f_fp"),
        F.struct(*_cols(payload)).alias(AFTER_COL),
    )
    ds = d.select(
        F.col(_KEY),
        row_fingerprint(d, columns).alias("_d_fp"),
        F.struct(*_cols(payload)).alias(BEFORE_COL),
    )
    j = fs.join(ds, _KEY, "full_outer")
    # a present side's fingerprint is never NULL (xxhash64 over
    # strings); NULL fp == that side absent from the full outer
    is_ins = F.col("_d_fp").isNull()
    is_del = F.col("_f_fp").isNull()
    is_upd = (~is_ins) & (~is_del) & (F.col("_f_fp") != F.col("_d_fp"))
    kind = (
        F.when(is_ins, F.lit("insert"))
        .when(is_upd, F.lit("update"))
        .when(is_del & F.lit(delete_not_in_file), F.lit("delete"))
    )
    return (
        j.select(kind.alias(KIND_COL), AFTER_COL, BEFORE_COL)
        .filter(F.col(KIND_COL).isNotNull())
    )


#: per-side size (Catalyst estimate, bytes) above which
#: :func:`diff_counts_pruned` pins the narrow frame; inputs at or
#: under it take the barrier-free one-job form. Default 0 = pin
#: always (the measured winner at every size — lineage truncation
#: beats the pin barrier; see the function docstring). Overridable
#: per session.
PRUNE_PIN_THRESHOLD_CONF = (
    "spark.mydatasyncer.diff.prunedPinThresholdBytes"
)
_PRUNE_PIN_THRESHOLD_DEFAULT = 0

#: widen cap for the pruned diff's single-split-input widening: the
#: post-exchange work is ONE narrow fingerprint pass (not a fan-out),
#: so full-cluster width pays more task-wave scheduling than the
#: extra cores return — width 8 beat width 32 on 8-core AND 32-core
#: configs (data-regime-derived, not core-count-derived; see
#: ensure_min_parallelism). Irrelevant at scale, where inputs carry
#: their own splits and the widen never fires.
_PIN_WIDEN_TARGET = 8


def _plan_size_bytes(df: DataFrame) -> int:
    """Catalyst's size estimate for the frame (file sizes propagated
    through the optimized plan). Used only to pick between two
    result-identical execution strategies; when the estimate is
    unavailable, assume BIG — the pin path is the safe one at scale."""
    try:
        return int(
            str(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
        )
    except Exception:
        return 1 << 62


def diff_counts_pruned(
    file_df: DataFrame,
    db_df: DataFrame,
    primary_key: str,
    columns: list[str] | None = None,
    n_buckets: int = 256,
    delete_not_in_file: bool = True,
    bucket_fn: "Callable[[DataFrame], Column] | None" = None,
) -> DataFrame:
    """:func:`diff_counts`, but classified only over the key-hash
    buckets whose fingerprints changed — the counts twin of
    :func:`diff_snapshots_pruned`.

    Two result-identical execution strategies
    (``spark.mydatasyncer.diff.prunedPinThresholdBytes``: inputs whose
    Catalyst size estimate exceeds it take the pin path; default 0 =
    pin always, the measured winner at every size — see below):

    - **Pin path (default; also the 100 TB shape):** each side
      collapses ONCE to the narrow ``(bucket, canonical key, row
      fingerprint)`` frame — widened through one keyed exchange first
      so the fingerprint computes across the cluster even off a
      single-split source (no-op at scale) — then pinned with an
      eager ``localCheckpoint`` (~17 bytes/row of executor-local
      state per side, cheaper than a second full read of every sync
      column; blocks are NOT replicated, so an executor loss
      mid-query recomputes from source — acceptable for a derived
      frame inside one query). The :func:`changed_buckets` summary
      aggregates FROM the pinned frame and the classification join
      filters the SAME frame, so the wide snapshot is read once per
      side — and every post-pin plan is lineage-truncated, which is
      what makes this form fastest even on small inputs (driver
      analysis of the pruned query's full DAG costs more than the
      pin barrier; measured r15, counts fixture 1.8 vs 2.2 s,
      localized 2.8 vs 3.8 s).
    - **One-job path (raise the threshold to select it):** the
      changed-bucket set is never collected to the driver — it stays
      a ≤ ``n_buckets``-row frame, broadcast, and each side prunes
      with a ``left_semi`` join on ``_bucket``; AQE's runtime
      exchange reuse executes each side's scan+fingerprint once.
      Barrier-free (no pin, no collect), kept as the selectable
      strategy for environments where a localCheckpoint is
      undesirable (e.g. no executor-local storage to spare).

    Bucket selection and classification expressions are identical in
    both, so the counts are byte-identical to the full diff (pruning
    stays invisible, modulo the documented fingerprint collision
    odds; the sums are zero-coalesced so the no-changed-buckets case
    counts 0, exactly like ``count()`` over an empty leg).
    """
    if columns is None:
        columns = [c for c in file_df.columns if c in set(db_df.columns)]
    if bucket_fn is None:
        bucket_fn = lambda d: bucket_col(d, primary_key, n_buckets)  # noqa: E731
    file_p = file_df.select(*columns)
    db_p = db_df.select(*columns)
    threshold = int(
        file_df.sparkSession.conf.get(
            PRUNE_PIN_THRESHOLD_CONF, str(_PRUNE_PIN_THRESHOLD_DEFAULT)
        )
    )
    # only pay the Catalyst size estimate (two driver-side optimizer
    # invocations, ~0.1-0.5 s on the localized plans) when the
    # threshold actually needs a decision — at the default 0 the pin
    # path is unconditional
    pin = threshold <= 0 or (
        max(_plan_size_bytes(file_p), _plan_size_bytes(db_p)) > threshold
    )

    def keyed(df_p: DataFrame) -> DataFrame:
        b = df_p.select(bucket_fn(df_p).alias("_bucket"), *columns)
        return with_canonical_key(b, primary_key)

    def narrow(k: DataFrame, fp_alias: str) -> DataFrame:
        # the 17-byte/row (bucket, key, fingerprint) frame; the
        # fingerprint is computed exactly once per source row. Where
        # this sits against the widening exchange differs per path:
        # the pin path widens FIRST (so the fingerprint runs across
        # the cluster), the one-job path narrows first (so its
        # exchange carries 17 bytes/row, not every sync column)
        return k.select(
            "_bucket",
            F.col(_KEY),
            row_fingerprint(k, columns).alias(fp_alias),
        )

    def summarize(s: DataFrame, fp_alias: str, side: str) -> DataFrame:
        # (count, xor, exact sum) — same triple as changed_buckets;
        # the sum breaks XOR's duplicate-pair self-cancellation (the
        # r14-sweep finding; see changed_buckets for the full note)
        return s.groupBy("_bucket").agg(
            F.count(F.lit(1)).alias(f"_n_{side}"),
            F.bit_xor(fp_alias).alias(f"_x_{side}"),
            F.sum(F.col(fp_alias).cast("decimal(38,0)")).alias(
                f"_s_{side}"
            ),
        )

    def changed_of(fs_sum: DataFrame, ds_sum: DataFrame) -> DataFrame:
        j = summarize(fs_sum, "_f_fp", "f").join(
            summarize(ds_sum, "_d_fp", "d"), "_bucket", "full_outer"
        )
        return j.filter(
            F.col("_n_f").isNull()
            | F.col("_n_d").isNull()
            | (F.col("_n_f") != F.col("_n_d"))
            | (F.col("_x_f") != F.col("_x_d"))
            | (F.col("_s_f") != F.col("_s_d"))
        ).select("_bucket")

    if pin:
        # the two pins are independent jobs — run them concurrently so
        # one side's stragglers back-fill with the other side's tasks
        # (guide §2.6; measured: serial pins cost ~2× the pair's wall
        # at sf0.1)
        from concurrent.futures import ThreadPoolExecutor

        # widen (keyed on the join key) BEFORE the narrow projection,
        # so the per-row fingerprint runs across the cluster instead
        # of inside a single-split source task (the exchange then
        # carries the wide rows once — measured: Spark does not move
        # the projection below a repartition, so widening after
        # narrow() would leave the fingerprint serial). A no-op at
        # scale, where the scan already carries the splits.
        with ThreadPoolExecutor(max_workers=2) as pool:
            fut_f = pool.submit(
                lambda: narrow(
                    ensure_min_parallelism(
                        keyed(file_p), _KEY, target=_PIN_WIDEN_TARGET
                    ),
                    "_f_fp",
                ).localCheckpoint(eager=True)
            )
            fut_d = pool.submit(
                lambda: narrow(
                    ensure_min_parallelism(
                        keyed(db_p), _KEY, target=_PIN_WIDEN_TARGET
                    ),
                    "_d_fp",
                ).localCheckpoint(eager=True)
            )
            fs, ds = fut_f.result(), fut_d.result()
        # the pins are already materialized, so the bounded collect
        # (≤ n_buckets ints) costs one tiny job over narrow blocks
        buckets = sorted(
            r["_bucket"] for r in changed_of(fs, ds).collect()
        )
        out = _classify_counts(
            fs.filter(F.col("_bucket").isin(buckets)).drop("_bucket"),
            ds.filter(F.col("_bucket").isin(buckets)).drop("_bucket"),
            delete_not_in_file,
        )
    else:
        # one narrow keyed-widen exchange per side, consumed by BOTH
        # the summary subtree (inside the broadcast) and the
        # classification leg — the exchanges are plan-identical, so
        # AQE's runtime exchange reuse executes each side's
        # scan+fingerprint ONCE (verified: the duplicate stages show
        # as SKIPPED). The widen is keyed on the canonical join key
        # (no sort-before-repartition on the serial source task, and
        # the classification join inherits the partitioning — guide
        # §2.4/§2.5); at scale the input already carries enough
        # splits and the widen is a no-op.
        fs = ensure_min_parallelism(
            narrow(keyed(file_p), "_f_fp"), _KEY, target=_PIN_WIDEN_TARGET
        )
        ds = ensure_min_parallelism(
            narrow(keyed(db_p), "_d_fp"), _KEY, target=_PIN_WIDEN_TARGET
        )
        changed = F.broadcast(changed_of(fs, ds))

        def pruned(s: DataFrame) -> DataFrame:
            # broadcast semi-join on the changed set: no driver
            # collect, no barrier — only the changed slice flows into
            # the classification join
            return s.join(changed, "_bucket", "left_semi").drop("_bucket")

        out = _classify_counts(
            pruned(fs), pruned(ds), delete_not_in_file
        )
    return out.select(
        *[
            F.coalesce(F.col(c), F.lit(0)).cast("bigint").alias(c)
            for c in ("n_insert", "n_update", "n_delete")
        ]
    )


def bucket_col(df: DataFrame, primary_key: str, n_buckets: int) -> Column:
    """Stable key-hash bucket id in ``[0, n_buckets)`` — the unit of
    diff pruning. Canonical-key based, so both snapshot sides bucket
    identically regardless of physical type (J5)."""
    return F.pmod(F.xxhash64(canonical_col(df, primary_key)), F.lit(n_buckets))


def changed_buckets(
    file_df: DataFrame,
    db_df: DataFrame,
    primary_key: str,
    columns: list[str] | None = None,
    n_buckets: int = 256,
    bucket_fn: "Callable[[DataFrame], Column] | None" = None,
) -> list[int]:
    """Bucket ids whose content differs between the two snapshots.

    Each side collapses to ``n_buckets`` summary rows of
    ``(count, bit_xor(row_fingerprint), sum(row_fingerprint))`` — an
    order-independent bucket fingerprint computed in one narrow scan
    with map-side partial aggregation. A bucket matching on all three
    statistics is declared unchanged; mismatch (or one-sided
    presence) marks it changed. The triple shares the fingerprint
    trade-off already documented on :func:`row_differs`: a change
    pattern colliding on count AND xor AND exact sum goes unseen —
    hash-collision-class odds. (Before r15 the pair was
    ``(count, xor)`` only, and XOR's self-cancellation made a
    duplicated-row-pair swap ``{A,A}→{C,C}`` invisible
    DETERMINISTICALLY — the r14-sweep finding; the sum statistic
    closes it.)

    The returned list is bounded by ``n_buckets`` (a driver-side
    collect of a few hundred ints, same class as the dry-run's
    bounded aggregates — never row data).

    ``bucket_fn`` overrides the default key-hash bucketing with any
    deterministic ``DataFrame -> Column`` in ``[0, n_buckets)`` — e.g.
    a key-RANGE bucket for data whose daily changes cluster by key
    (append-mostly tables), where range buckets localize changes that
    a hash would scatter across every bucket.
    """
    if columns is None:
        columns = [c for c in file_df.columns if c in set(db_df.columns)]
    if bucket_fn is None:
        bucket_fn = lambda d: bucket_col(d, primary_key, n_buckets)  # noqa: E731

    def summarize(df: DataFrame, side: str) -> DataFrame:
        # bucket_fn sees the FULL frame (not the projection) so a
        # caller can bucket by a stored partition column that isn't a
        # sync column — e.g. the SCD2 table's _pk_bucket, which makes
        # the downstream pruned re-read partition-prunable
        p = df.select(bucket_fn(df).alias("_bucket"), *_cols(columns))
        return (
            p.select(
                F.col("_bucket"),
                row_fingerprint(p, columns).alias("_fp"),
            )
            .groupBy("_bucket")
            .agg(
                F.count(F.lit(1)).alias(f"_n_{side}"),
                F.bit_xor("_fp").alias(f"_x_{side}"),
                # third statistic (r15, the r14-sweep finding): XOR
                # alone self-cancels duplicate rows, so replacing a
                # duplicated pair {A,A} with {C,C} inside one bucket
                # preserved (count, xor) DETERMINISTICALLY. The exact
                # decimal sum breaks the cancellation (overflow-safe
                # under ANSI; order-independent); duplicates now
                # collide only if xor AND sum both match.
                F.sum(F.col("_fp").cast("decimal(38,0)")).alias(
                    f"_s_{side}"
                ),
            )
        )
    j = summarize(file_df, "f").join(summarize(db_df, "d"), "_bucket", "full_outer")
    changed = j.filter(
        F.col("_n_f").isNull()
        | F.col("_n_d").isNull()
        | (F.col("_n_f") != F.col("_n_d"))
        | (F.col("_x_f") != F.col("_x_d"))
        | (F.col("_s_f") != F.col("_s_d"))
    ).select("_bucket")
    return sorted(r["_bucket"] for r in changed.collect())


def diff_snapshots_pruned(
    file_df: DataFrame,
    db_df: DataFrame,
    primary_key: str,
    columns: list[str] | None = None,
    n_buckets: int = 256,
    delete_not_in_file: bool = True,
    bucket_fn: "Callable[[DataFrame], Column] | None" = None,
) -> DiffResult:
    """:func:`diff_snapshots`, but its classification join only reads
    the key-hash buckets whose fingerprints changed.

    Why this matters at 100 TB: a daily sync typically touches a tiny
    fraction of rows, yet the full diff still shuffles BOTH entire
    snapshots into the join. The bucket-fingerprint pre-pass costs one
    narrow scan per side (16 bytes/row into a map-side partial agg,
    ``n_buckets`` rows out) and then the wide join runs over only the
    changed slice — with unchanged data never entering an exchange.
    When the snapshots are *stored* bucketed on the same key hash
    (``sources/writers.write_partitioned`` on :func:`bucket_col`), the
    bucket filter also prunes whole files at the scan, making the
    read itself incremental.

    Result-identical to the full diff (the pruning is invisible in
    the output, modulo the documented fingerprint collision odds).
    """
    if columns is None:
        columns = [c for c in file_df.columns if c in set(db_df.columns)]
    if bucket_fn is None:
        bucket_fn = lambda d: bucket_col(d, primary_key, n_buckets)  # noqa: E731
    file_p = file_df.select(*_cols(columns))
    db_p = db_df.select(*_cols(columns))
    buckets = changed_buckets(
        file_p, db_p, primary_key, columns, n_buckets, bucket_fn
    )
    if buckets:
        file_p = file_p.filter(bucket_fn(file_p).isin(buckets))
        db_p = db_p.filter(bucket_fn(db_p).isin(buckets))
    else:
        # nothing changed: empty legs, no second scan
        file_p, db_p = file_p.limit(0), db_p.limit(0)
    return diff_snapshots(file_p, db_p, primary_key, columns, delete_not_in_file)


def diff_snapshots(
    file_df: DataFrame,
    db_df: DataFrame,
    primary_key: str,
    columns: list[str] | None = None,
    delete_not_in_file: bool = True,
) -> DiffResult:
    """Full diff (J1): insert/update/delete triple over sync columns.

    One :func:`diff_changes` join classifies every row; each leg is a
    filter of that classified frame projected back to the sync
    columns (``to_update`` keeps the ``_before`` struct), so the three
    legs share one plan and one pin (:meth:`DiffResult.persist`).
    Leg schemas match the leg-wise :func:`detect_inserts` /
    :func:`detect_updates` / :func:`detect_deletes`: inserts and
    updates carry the file side's types, deletes the DB side's.

    When ``delete_not_in_file`` is false, DB-only rows are never
    classified, so the delete leg is empty (the reference gates it the
    same way, ref: dbsync.go:746-749).
    """
    if columns is None:
        columns = [c for c in file_df.columns if c in set(db_df.columns)]
    changes = diff_changes(
        file_df,
        db_df,
        primary_key,
        columns,
        delete_not_in_file=delete_not_in_file,
    )
    kind = F.col(KIND_COL)
    after = [F.col(AFTER_COL).getField(c).alias(c) for c in columns]
    before = [F.col(BEFORE_COL).getField(c).alias(c) for c in columns]
    return DiffResult(
        to_insert=changes.filter(kind == "insert").select(*after),
        to_update=changes.filter(kind == "update").select(*after, BEFORE_COL),
        to_delete=changes.filter(kind == "delete").select(*before),
        changes=changes,
    )
