"""Load strategies: Full, Merge (upsert + soft-delete inference), Historic (SCD2).

Reference semantics: Full.scala:19-77, Merge.scala:22-148, Historic.scala:14-168.
The reference drives Delta Lake's MERGE builder; this environment has no Delta
jars, so the same clause semantics are expressed as pure
``(target, source) -> new_state`` DataFrame functions producing the post-merge
state. This is exactly what a copy-on-write MERGE does physically; the storage
layer (tables/lake_table.py) adds partition pruning so only affected
partitions are rewritten.

Each strategy has ONE clause projection (``_merge_projection``,
``_scd2_projection``): the per-column ``when`` chains, written once over the
presence predicates ``matched`` / ``src_only`` / ``infer_delete`` and a
per-column target and source accessor. The join shape around it is plumbing,
chosen from the ``target_rows`` hint alone:

* ``target_rows <= SMALL_TARGET_ROWS`` -> one full-outer join, each side
  scanned once, with a SHUFFLE_HASH hint on a provably bounded side
  (``_shj_build_side``).
* larger or unknown -> the broadcast-capable decomposition: ``target LEFT
  JOIN source`` (matched + target-only rows, projected with ``src_only =
  false``; AQE broadcasts the slice, so the TARGET IS NEVER SHUFFLED) unioned
  with ``source LEFT ANTI JOIN target(pk)`` (the inserts, projected with
  literal predicates and a typed-NULL target side; the anti join's target
  side is a pk-only projection, so even its SMJ fallback shuffles one
  64-char column instead of every target column).

Scale notes (100 TB):
* Joins shuffle on the PK hash — a sha256 hex string, uniformly
  distributed, so no key skew by construction.
* Target is pre-filtered to the source slice's partitions (IN-list pushdown,
  reference Merge.scala:38-48) before the join; untouched partitions are not
  read at all.
* A full-outer join can never broadcast, but the decomposition reads the
  target twice. That is nearly free when the target is a stored table (the
  anti join's pk projection is a column-pruned parquet scan) and doubles
  compute when the target is a derived pipeline (the pk is itself computed,
  e.g. sha256 over every column). Below ``SMALL_TARGET_ROWS`` the broadcast
  win cannot repay a second scan. Callers pass ``target_rows`` from real
  metadata (LakeTable manifest stats; parquet footer counts), never from a
  ``count()`` action, which would itself cost the scan being avoided.
* Both forms are row-identical: tests/test_join_forms.py compares them on
  every clause combination (with and without a column prefix), and
  tests/test_model_based.py also runs merge and SCD2 histories through
  ``Processing`` with the decomposed form forced.
* No Python UDFs; every clause is a ``when`` chain inside whole-stage codegen.
"""

from __future__ import annotations

import logging
from typing import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_logger = logging.getLogger(__name__)

from datalakefoundation_spark.pipeline import VALID_TO_SENTINEL, ts_lit  # noqa: F401

# per-column accessor: output column name -> expression on one join side
Accessor = Callable[[str], Column]


def _infer_delete_cond(
    delete_missing: bool, delete_window: Column | None, tgt_only: Column, deleted_c: str
) -> Column:
    """Delete-inference predicate, with the reference's safe default: when no
    window condition could be built (no watermarks configured, or bounds
    missing), delete inference is SKIPPED entirely rather than widened to the
    whole table — one small slice must never mass soft-delete a target
    (ProcessStrategy.scala:100-112 returns None and the merge omits
    whenNotMatchedBySource)."""
    if not delete_missing:
        return F.lit(False)
    if delete_window is None:
        _logger.warning(
            "delete_missing=True but no delete window could be built; "
            "skipping delete inference (safe default, ProcessStrategy.scala:100-112)"
        )
        return F.lit(False)
    return tgt_only & delete_window & ~F.col(f"t.{deleted_c}")


def _output_columns(
    target: DataFrame, source: DataFrame, extra_columns
) -> list[str]:
    """Output schema of a merge: the target's columns, plus (opt-in
    additive schema evolution — Delta ``mergeSchema`` analog) source
    columns named in ``extra_columns`` that the target lacks. Rows that
    don't take the source side carry typed NULLs for evolved columns."""
    out = list(target.columns)
    for c in extra_columns or ():
        if c not in out and c in source.columns:
            out.append(c)
    return out


def _target_side(target: DataFrame, source: DataFrame) -> Accessor:
    """Target-side accessor of a joined row. An EVOLVED column (additive
    schema evolution) has no target side and reads as a typed NULL."""
    return lambda c: (
        F.col(f"t.{c}") if c in target.columns
        else F.lit(None).cast(source.schema[c].dataType)
    )


def _null_target_side(target: DataFrame, source: DataFrame) -> Accessor:
    """Target-side accessor of an insert row from the anti join: typed
    NULLs, exactly what the full-outer join's unmatched target side holds."""
    return lambda c: F.lit(None).cast(
        (target if c in target.columns else source).schema[c].dataType
    )


def _source_side(source: DataFrame, tc: Accessor, qualifier: str = "s.") -> Accessor:
    """Source-side accessor. A target column missing from the source (schema
    drift, already warned about upstream) falls back to the target side:
    NULLing it on taken source rows would silently destroy data the source
    never carried."""
    return lambda c: F.col(f"{qualifier}{c}") if c in source.columns else tc(c)


# Below this many target rows the state is built with one full-outer join
# (each side scanned once) instead of the broadcast decomposition (target
# scanned twice). Calibrated with min-of-3 isolated runs at
# sf0.1 (BASELINE.md merge-form section): for a ~135k-row derived-pipeline
# target the full-outer form is ~2x faster because the decomposition's
# pk-only second scan re-executes the sha256 pipeline; the broadcast win
# only repays that once the avoided shuffle is tens of millions of rows.
SMALL_TARGET_ROWS = 2_000_000


def _pick_full_outer(target_rows: int | None) -> bool:
    """Unknown size picks the scale-safe decomposition."""
    return target_rows is not None and target_rows <= SMALL_TARGET_ROWS


def _shj_build_side(
    target: DataFrame, source: DataFrame,
    target_rows: int | None, source_rows: int | None,
) -> tuple[DataFrame, DataFrame]:
    """Pick the SHUFFLE_HASH build side for the small-target full-outer
    join (guide §3.1) — the build side must be PROVABLY bounded, because a
    shuffled-hash build map cannot spill (r12, ADVICE r11: the r11 form
    unconditionally hinted the SOURCE, whose size this path never checks —
    a bulk bootstrap load of a huge slice into a small/new table would
    build the unbounded side and OOM where sort-merge degraded gracefully).

    Preference order:
    * source known small (the steady-state incremental slice) -> build
      source: the r11-measured plan, bounded by ``source_rows``;
    * else build target: the full-outer form only runs when
      ``_pick_full_outer`` saw ``target_rows <= SMALL_TARGET_ROWS``, so the
      target is bounded by that gate.
    """
    if source_rows is not None and source_rows <= SMALL_TARGET_ROWS:
        return target, source.hint("shuffle_hash")
    return target.hint("shuffle_hash"), source


def _full_outer(
    target: DataFrame, source: DataFrame, pk: str,
    target_rows: int | None, source_rows: int | None,
) -> tuple[DataFrame, Column, Column, Column]:
    """``target FULL OUTER JOIN source`` on pk, plus its presence predicates
    ``(joined, matched, src_only, tgt_only)``.

    SHUFFLE_HASH hint (r11, guide §3.1): both sides of the small-target
    full-outer are similar-sized, so the planner's "much smaller" rule
    never picks shuffled-hash on its own and the join pays a Sort on BOTH
    sides of the exchange. The hint goes on a PROVABLY bounded side only
    (r12, _shj_build_side) — a shuffled-hash build map cannot spill. Full
    outer SHJ is supported since Spark 3.1. Row content is unaffected."""
    t_h, s_h = _shj_build_side(target, source, target_rows, source_rows)
    joined = t_h.alias("t").join(
        s_h.alias("s"), F.col(f"t.{pk}") == F.col(f"s.{pk}"), "full_outer"
    )
    matched = F.col(f"t.{pk}").isNotNull() & F.col(f"s.{pk}").isNotNull()
    return joined, matched, F.col(f"t.{pk}").isNull(), F.col(f"s.{pk}").isNull()


def merge_state(
    target: DataFrame,
    source: DataFrame,
    pk: str,
    prefix: str = "",
    processing_time: str = "1970-01-01 00:00:00",
    delete_window: Column | None = None,
    delete_missing: bool = False,
    with_action_column: bool = False,
    extra_columns=(),
    target_rows: int | None = None,
    source_rows: int | None = None,
) -> DataFrame:
    """Post-merge state of the 4-clause Delta merge J1-J5 (Merge.scala:96-125);
    the clauses are listed on ``_merge_projection``.

    ``delete_window`` is a predicate over TARGET columns scoping delete
    inference (watermark window + partition IN-list, ProcessStrategy.scala:86-153).

    ``target_rows`` selects the physical join form (see module docstring);
    ``source_rows`` (when the caller knows the slice size, e.g. from the
    load path's fused bookkeeping count) gates which side the full-outer
    form's SHUFFLE_HASH hint builds — see ``_shj_build_side``. Both forms
    are row-identical.
    """
    deleted_c = f"{prefix}deleted"
    out_cols = _output_columns(target, source, extra_columns)
    tc = _target_side(target, source)
    sc = _source_side(source, tc)

    def project(matched, src_only, infer_delete, tc=tc, sc=sc) -> list[Column]:
        return _merge_projection(
            out_cols, prefix, processing_time, matched, src_only,
            infer_delete, tc, sc, with_action_column,
        )

    def infer(tgt_only: Column) -> Column:
        return _infer_delete_cond(delete_missing, delete_window, tgt_only, deleted_c)

    if _pick_full_outer(target_rows):
        joined, matched, src_only, tgt_only = _full_outer(
            target, source, pk, target_rows, source_rows
        )
        src_deleted = F.col(f"s.{deleted_c}")
        keep = (
            matched
            | (src_only & ~src_deleted)  # insert clause condition (Merge.scala:109)
            | tgt_only
        )
        # unmatched-deleted source rows survive tagged 'skip_delete' when the
        # action column is requested (observe-based metrics count them,
        # Merge.scala:35,92,132); without it they are filtered here
        if with_action_column:
            keep = keep | (src_only & src_deleted)
        return joined.where(keep).select(
            *project(matched, src_only, infer(tgt_only))
        )

    t = target.alias("t")
    s = source.alias("s")
    # part 1: target LEFT JOIN source — matched + target-only rows. The
    # slice sits on the broadcastable (right) side, so AQE turns this into
    # a BroadcastHashJoin for any normally-sized slice.
    part1 = t.join(s, F.col(f"t.{pk}") == F.col(f"s.{pk}"), "left").select(
        *project(
            F.col(f"s.{pk}").isNotNull(), F.lit(False), infer(F.col(f"s.{pk}").isNull())
        )
    )
    # part 2: source-only rows (the insert clause, Merge.scala:109)
    inserts = s.join(t.select(F.col(f"t.{pk}")), on=pk, how="left_anti")
    if not with_action_column:
        inserts = inserts.where(~F.col(deleted_c))
    null_tc = _null_target_side(target, source)
    part2 = inserts.select(
        *project(
            F.lit(False), F.lit(True), F.lit(False),
            null_tc, _source_side(source, null_tc, qualifier=""),
        )
    )
    return part1.unionByName(part2)


def _merge_projection(
    out_cols: list[str],
    prefix: str,
    processing_time: str,
    matched: Column,
    src_only: Column,
    infer_delete: Column,
    tc: Accessor,
    sc: Accessor,
    with_action_column: bool,
) -> list[Column]:
    """The Merge clause set as one per-column projection over a joined row.

    Clause order (first match wins, like Delta):
      1. matched & source.deleted            -> target row, deleted=true, lastSeen=src
      2. matched & SourceHash differs        -> source row (updateAll)
      3. matched (hash equal)                -> target row, lastSeen=src (touch)
      4. src_only                            -> source row (insert; a deleted
                                                source row is filtered by the
                                                caller or tagged 'skip_delete')
      5. infer_delete (not matched by source & window & !target.deleted)
                                             -> target row, deleted=true, lastSeen=now
      else                                   -> target row unchanged
    """
    deleted_c = f"{prefix}deleted"
    lastseen_c = f"{prefix}lastSeen"
    hash_c = f"{prefix}SourceHash"
    src_deleted = sc(deleted_c)
    hash_differs = sc(hash_c) != tc(hash_c)
    # src_only rows take the source side unconditionally: the ~src_deleted
    # cases are the inserts, and the src_deleted cases (only reachable with
    # the action column, tagged 'skip_delete' for the observe metrics) must
    # carry source values too
    take_source_row = (matched & ~src_deleted & hash_differs) | src_only

    projections = []
    for c in out_cols:
        if c == deleted_c:
            col = (
                F.when(matched & src_deleted, F.lit(True))
                .when(take_source_row, sc(c))
                .when(infer_delete, F.lit(True))
                .otherwise(tc(c))
            )
        elif c == lastseen_c:
            col = (
                F.when(matched, sc(c))  # all three matched clauses set lastSeen from source
                .when(take_source_row, sc(c))
                .when(infer_delete, ts_lit(processing_time))
                .otherwise(tc(c))
            )
        else:
            col = F.when(take_source_row, sc(c)).otherwise(tc(c))
        projections.append(col.alias(c))
    if with_action_column:
        # unmatched-deleted source rows survive tagged 'skip_delete' so
        # downstream observe-based metrics can count them — the reference
        # includes them in recordsInSlice and the deleted count
        # (Merge.scala:35,92,132). The caller drops them after the observe.
        projections.append(
            F.when(matched & src_deleted, F.lit("soft_delete"))
            .when(matched & hash_differs, F.lit("update"))
            .when(matched, F.lit("touch"))
            .when(src_only & src_deleted, F.lit("skip_delete"))
            .when(src_only, F.lit("insert"))
            .when(infer_delete, F.lit("infer_delete"))
            .otherwise(F.lit("keep"))
            .alias("__action")
        )
    return projections


def scd2_state(
    target: DataFrame,
    source: DataFrame,
    pk: str,
    prefix: str = "",
    processing_time: str = "1970-01-01 00:00:00",
    delete_window: Column | None = None,
    delete_missing: bool = False,
    with_action_column: bool = False,
    extra_columns=(),
    target_rows: int | None = None,
    source_rows: int | None = None,
) -> DataFrame:
    """Post-run SCD Type 2 state (Historic.scala:14-168, clauses J6-J8).

    Semantics per current target version vs source (on PK):
      * matched & hash differs  -> close old (ValidTo=pt, IsCurrent=false)
                                   AND append source as new current version
      * matched & hash equal    -> unchanged
      * source-only             -> insert as new current version
      * target-only & window & delete_missing
                                -> close + mark deleted (J7)
      * non-current target rows -> pass through untouched

    The source is expected to already carry the temporal columns from
    pipeline step P4 (ValidFrom=pt, ValidTo=sentinel, IsCurrent=true).

    ``target_rows`` selects the physical join form (see module docstring);
    ``source_rows`` gates the full-outer form's SHUFFLE_HASH build side
    (``_shj_build_side``). Both forms are row-identical.
    """
    deleted_c = f"{prefix}deleted"
    out_cols = _output_columns(target, source, extra_columns)
    tc = _target_side(target, source)
    sc = _source_side(source, tc)

    # NULL IsCurrent (a segment written without temporal columns, e.g. a
    # per-run strategy override) counts as CURRENT: the row is the latest
    # known state and must participate in versioning — a raw where(~col)
    # would drop it from BOTH branches and commit silent data loss
    is_current = F.coalesce(F.col(f"{prefix}IsCurrent"), F.lit(True))
    historical = target.where(~is_current)
    current = target.where(is_current)
    hist = historical.select(
        *[
            (
                F.col(c)
                if c in historical.columns
                else F.lit(None).cast(source.schema[c].dataType).alias(c)
            )
            for c in out_cols
        ]
    )
    if with_action_column:
        hist = hist.withColumn("__action", F.lit("historical"))

    def project(matched, src_only, infer_delete, tc=tc, sc=sc) -> tuple[Column, Column]:
        return _scd2_projection(
            out_cols, prefix, processing_time, matched, src_only,
            infer_delete, tc, sc, with_action_column,
        )

    def versions(joined: DataFrame, emitted: Column) -> DataFrame:
        return joined.select(F.explode(emitted).alias("__r")).select("__r.*")

    def infer(tgt_only: Column) -> Column:
        return _infer_delete_cond(delete_missing, delete_window, tgt_only, deleted_c)

    if _pick_full_outer(target_rows):
        joined, matched, src_only, tgt_only = _full_outer(
            current, source, pk, target_rows, source_rows
        )
        emitted, _ = project(matched, src_only, infer(tgt_only))
        return hist.unionByName(versions(joined, emitted))

    # Same broadcast-capable decomposition as merge_state: current LEFT
    # JOIN source (matched + target-only; slice broadcastable, current
    # versions never shuffled) + source ANTI current-pk (inserts)
    t = current.alias("t")
    s = source.alias("s")
    emitted, _ = project(
        F.col(f"s.{pk}").isNotNull(), F.lit(False), infer(F.col(f"s.{pk}").isNull())
    )
    merged = versions(t.join(s, F.col(f"t.{pk}") == F.col(f"s.{pk}"), "left"), emitted)
    # every insert row is shape B alone: select the struct's fields (the
    # optimizer folds them into a plain projection) rather than explode a
    # one-element array per row
    null_tc = _null_target_side(target, source)
    _, new_version = project(
        F.lit(False), F.lit(True), F.lit(False),
        null_tc, _source_side(source, null_tc, qualifier=""),
    )
    inserts = (
        source.join(current.select(F.col(pk)), on=pk, how="left_anti")
        .select(new_version.alias("__r")).select("__r.*")
    )
    return hist.unionByName(merged).unionByName(inserts)


def _scd2_projection(
    out_cols: list[str],
    prefix: str,
    processing_time: str,
    matched: Column,
    src_only: Column,
    infer_delete: Column,
    tc: Accessor,
    sc: Accessor,
    with_action_column: bool,
) -> tuple[Column, Column]:
    """The Historic clause set as one projection over a joined row, returned
    as ``(emitted, shape_b)``. ``emitted`` is the array of 1-2 output rows
    each joined row produces (exploded by the caller): the surviving
    target-side version (shape A) and/or the new current version from the
    source (shape B). ``shape_b`` is that new-version struct alone, for a
    caller whose rows are all inserts.

    One pass over the join: expressing the two shapes as separate selects
    unioned together (the round-1 form) put the join subtree in the plan
    twice — exchange reuse shares the shuffle files but the join + project
    still executed twice, doubling join compute."""
    deleted_c = f"{prefix}deleted"
    lastseen_c = f"{prefix}lastSeen"
    hash_c = f"{prefix}SourceHash"
    vto_c = f"{prefix}ValidTo"
    iscur_c = f"{prefix}IsCurrent"
    close_old = matched & (sc(hash_c) != tc(hash_c))
    pt_ts = ts_lit(processing_time)

    # shape A: surviving target-side row (closed, deleted-closed, untouched)
    a_fields = []
    for c in out_cols:
        if c == vto_c:
            col = F.when(close_old | infer_delete, pt_ts).otherwise(tc(c))
        elif c == iscur_c:
            col = F.when(close_old | infer_delete, F.lit(False)).otherwise(tc(c))
        elif c == deleted_c:
            col = F.when(infer_delete, F.lit(True)).otherwise(tc(c))
        elif c == lastseen_c:
            col = F.when(infer_delete, pt_ts).otherwise(tc(c))
        else:
            col = tc(c)
        a_fields.append(col.alias(c))
    if with_action_column:
        a_fields.append(
            F.when(close_old, F.lit("close"))
            .when(infer_delete, F.lit("delete_close"))
            .when(matched, F.lit("unchanged"))
            .otherwise(F.lit("keep"))
            .alias("__action")
        )

    # shape B: new current version from source (insert or new-version, J8);
    # schema drift carries the previous version's value forward
    b_fields = [sc(c).alias(c) for c in out_cols]
    if with_action_column:
        b_fields.append(
            F.when(close_old, F.lit("new_version")).otherwise(F.lit("insert")).alias("__action")
        )

    a_struct, b_struct = F.struct(*a_fields), F.struct(*b_fields)
    emitted = (
        F.when(src_only, F.array(b_struct))
        .when(close_old, F.array(a_struct, b_struct))
        .otherwise(F.array(a_struct))
    )
    return emitted, b_struct


def merge_metrics(
    records_in_slice: int,
    inserted: int,
    soft_deletes: int,
    inferred_deletes: int,
) -> dict[str, int]:
    """Merge metric identity: inserted + updated + deleted = recordsInSlice
    (Merge.scala:124-145, PROCESSING_STRATEGIES.md:124-140). ``deleted``
    counts slice-side soft deletes only — inferred deletes come from rows
    NOT in the slice, so folding them in would break the identity; they are
    reported separately (matching the run summary and the oracle)."""
    updated = records_in_slice - inserted - soft_deletes
    return {
        "records_in_slice": records_in_slice,
        "inserted": inserted,
        "updated": updated,
        "deleted": soft_deletes,
        "inferred_deletes": inferred_deletes,
        "touched": records_in_slice,
    }


def scd2_metrics(
    records_in_slice: int,
    new_versions: int,
    unchanged: int,
    inferred_deletes: int,
) -> dict[str, int]:
    """Historic identity: inserted + updated + unchanged = recordsInSlice
    (Historic.scala:106-165, PROCESSING_STRATEGIES.md:203-219). An inferred
    delete closes a version, so it is the run's ``deleted`` count as well."""
    return {
        "records_in_slice": records_in_slice,
        "updated": new_versions,
        "unchanged": unchanged,
        "inserted": records_in_slice - new_versions - unchanged,
        "deleted": inferred_deletes,
        "inferred_deletes": inferred_deletes,
        "touched": records_in_slice,
    }
