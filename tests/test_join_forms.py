"""The two physical merge/SCD2 join forms (single full-outer join vs the
broadcast-capable decomposition) must be row-for-row identical on every
clause combination — the size-adaptive switch on ``target_rows`` is only
sound if the choice is unobservable in the output. ``target_rows=1`` selects
the full-outer form, ``target_rows=None`` the decomposition. Reference
semantics: Merge.scala:96-125, Historic.scala:14-168.
"""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from datalakefoundation_spark.strategies import (
    SMALL_TARGET_ROWS,
    _pick_full_outer,
    merge_state,
    scd2_state,
)

# system columns carrying the entity's prefix (pipeline P4/P5)
SYSTEM_COLS = ("SourceHash", "deleted", "lastSeen", "ValidFrom", "ValidTo", "IsCurrent")

SENTINEL = "2999-12-31 23:59:59"
T0, T1 = "2024-01-01 00:00:00", "2024-02-01 00:00:00"


def _mk_rows(seed: int, historic: bool):
    """Adversarial target/source pair: matched-changed, matched-unchanged,
    matched-source-deleted, target-only (in + out of the delete window),
    already-deleted target rows, source-only inserts, source-only deleted."""
    rng = random.Random(seed)
    tgt, src = [], []
    for k in range(40):
        pk = f"pk{k:03d}"
        in_tgt = rng.random() < 0.75
        in_src = rng.random() < 0.6
        t_hash = f"h{k}a"
        s_hash = t_hash if rng.random() < 0.4 else f"h{k}b"
        if in_tgt:
            row = {
                "PK": pk,
                "payload": f"t{k}",
                "SourceHash": t_hash,
                "deleted": rng.random() < 0.15,
                "lastSeen": T0,
                "win": rng.random() < 0.5,
            }
            if historic:
                row |= {"ValidFrom": T0, "ValidTo": SENTINEL, "IsCurrent": True}
                # some closed historical versions pass through untouched
                if rng.random() < 0.3:
                    tgt.append(
                        row
                        | {
                            "ValidTo": T0,
                            "IsCurrent": False,
                            "SourceHash": f"h{k}old",
                        }
                    )
            tgt.append(row)
        if in_src:
            row = {
                "PK": pk,
                "payload": f"s{k}",
                "SourceHash": s_hash,
                "deleted": rng.random() < 0.2,
                "lastSeen": T1,
                "win": True,
            }
            if historic:
                row |= {"ValidFrom": T1, "ValidTo": SENTINEL, "IsCurrent": True}
            src.append(row)
    return tgt, src


def _dfs(spark, seed: int, historic: bool, evolve: bool, prefix: str):
    tgt, src = _mk_rows(seed, historic)
    schema = (
        "PK string, payload string, SourceHash string, deleted boolean, "
        "lastSeen string, win boolean"
    )
    if historic:
        schema += ", ValidFrom string, ValidTo string, IsCurrent boolean"
    target = spark.createDataFrame(tgt, schema)
    source = spark.createDataFrame(src, schema)
    if prefix:
        target, source = (
            df.withColumnsRenamed({c: prefix + c for c in SYSTEM_COLS if c in df.columns})
            for df in (target, source)
        )
    extra = ()
    if evolve:
        source = source.withColumn("new_col", F.concat(F.lit("n_"), F.col("PK")))
        extra = ("new_col",)
    return target, source, extra


def _canon(df):
    rows = [tuple(r) for r in df.select(*sorted(df.columns)).collect()]
    return sorted(rows, key=repr)


def _assert_forms_identical(spark, historic, seed, delete_missing, action, evolve, prefix):
    target, source, extra = _dfs(spark, seed, historic, evolve, prefix)
    kw = dict(
        pk="PK",
        prefix=prefix,
        processing_time=T1,
        delete_window=F.col("t.win") if delete_missing else None,
        delete_missing=delete_missing,
        with_action_column=action,
        extra_columns=extra,
    )
    state = scd2_state if historic else merge_state
    a = state(target, source, target_rows=1, **kw)
    b = state(target, source, target_rows=None, **kw)
    assert a.columns == b.columns
    assert _canon(a) == _canon(b)


@pytest.mark.parametrize("seed", [3, 17])
@pytest.mark.parametrize("delete_missing", [False, True])
@pytest.mark.parametrize("action", [False, True])
@pytest.mark.parametrize("evolve", [False, True])
def test_merge_forms_identical(spark, seed, delete_missing, action, evolve):
    _assert_forms_identical(spark, False, seed, delete_missing, action, evolve, "")


@pytest.mark.parametrize("seed", [3, 17])
@pytest.mark.parametrize("delete_missing", [False, True])
@pytest.mark.parametrize("action", [False, True])
@pytest.mark.parametrize("evolve", [False, True])
def test_merge_forms_identical_prefixed(spark, seed, delete_missing, action, evolve):
    _assert_forms_identical(spark, False, seed, delete_missing, action, evolve, "dlf_")


@pytest.mark.parametrize("seed", [7, 29])
@pytest.mark.parametrize("delete_missing", [False, True])
@pytest.mark.parametrize("action", [False, True])
@pytest.mark.parametrize("evolve", [False, True])
def test_scd2_forms_identical(spark, seed, delete_missing, action, evolve):
    _assert_forms_identical(spark, True, seed, delete_missing, action, evolve, "")


@pytest.mark.parametrize("seed", [7, 29])
@pytest.mark.parametrize("delete_missing", [False, True])
@pytest.mark.parametrize("action", [False, True])
@pytest.mark.parametrize("evolve", [False, True])
def test_scd2_forms_identical_prefixed(spark, seed, delete_missing, action, evolve):
    _assert_forms_identical(spark, True, seed, delete_missing, action, evolve, "dlf_")


def test_auto_picks_by_target_rows():
    assert _pick_full_outer(SMALL_TARGET_ROWS)
    assert _pick_full_outer(1)
    assert not _pick_full_outer(SMALL_TARGET_ROWS + 1)
    assert not _pick_full_outer(None)  # unknown -> scale-safe form
