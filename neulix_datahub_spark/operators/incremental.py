"""Incremental maintenance of materialized aggregates from a change
feed — recompute cost proportional to the CHANGES, not the table.

The reference's warehouse surface re-runs dashboard SQL from scratch on
every poll (``core/utils/db_core.py:119-135``); at 100 TB a full
recompute of ``GROUP BY k: count, sum`` per refresh is the single
largest avoidable cost in a reporting pipeline. Count/sum (and anything
derived from them: mean, ratios) form a commutative group — each row's
contribution can be ADDED on insert and SUBTRACTED on delete — so a
feed carrying pre-images (``snapshot_diff(..., pre_image=True)``, the
Delta CDF row protocol) is enough to maintain the aggregate exactly:

    update_preimage  -> subtract old row's contribution
    update_postimage -> add new row's contribution

which also handles rows whose GROUP KEY changes (the pre-image leaves
the old group, the post-image enters the new one) — the case a naive
"overwrite changed keys" consumer gets wrong.

Plan: one union and one regroup. Each feed row becomes a signed row
(weight ±1, ±value); the stored aggregate joins the union as one row
per group (weight = its count, value = its sum); one ``groupBy`` on
the group keys sums both and drops groups whose count reaches zero.
That is one hash shuffle (map-side partial sums, so
O(|changes| + |groups|) rows cross it) and no join. The maintained
result is proven equal to a full recompute by the
``incremental_agg_check`` driver query and the round-trip law unit.

Caveat (documented, inherent): float sums accumulate in a different
order than a recompute, so equality is exact for counts/ints and
within-1e-9-relative for doubles; long-running pipelines should
periodically re-snapshot the aggregate (same answer, fresh float error)
— standard practice for any incremental view maintenance system.
Maintain money columns as DECIMAL to make the sums associative and the
maintained value EXACTLY equal to a recompute forever (the SUM0 zeros
keep the column's type, so decimal columns stay decimal through the
regroup).

NULL conventions (both deliberate, both required for the delta algebra
to be exact):

- **Group keys are null-safe.** A NULL group key is one group, exactly
  as ``groupBy`` treats it: the regroup puts the stored NULL-key row
  and its signed feed rows in one group (an equi-join on the keys
  would never match them, and the group would fork into two rows, one
  per batch).
- **Sums are SUM0 (0-coalesced).** A group whose values are all NULL
  reports sum 0, not SQL's NULL. This is what makes signed maintenance
  exact under DELETES: "remove the last non-null value" must land on a
  concrete 0 — no sum-only state can know it should snap back to NULL
  without also maintaining per-column non-null counts. Seed aggregates
  with ``coalesce(sum(x), 0)`` and compare recomputes the same way
  (the Druid/Calcite SUM0 convention).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_SIGN = {
    "insert": 1,
    "update_postimage": 1,
    "delete": -1,
    "update_preimage": -1,
}


def _q(name: str) -> str:
    """``name`` as a quoted SQL identifier."""
    return "`" + name.replace("`", "``") + "`"


def _in(sign: int) -> str:
    return ", ".join(f"'{t}'" for t, s in _SIGN.items() if s == sign)


#: A change row's sign; an unknown change type fails the query.
_SIGN_SQL = (
    f"CASE WHEN _change_type IN ({_in(1)}) THEN 1 "
    f"WHEN _change_type IN ({_in(-1)}) THEN -1 "
    "ELSE raise_error(concat('unknown _change_type: ', _change_type)) END"
)


def apply_agg_delta(
    agg: DataFrame,
    feed: DataFrame,
    group_cols: list[str],
    count_col: str,
    sum_map: dict[str, str],
) -> DataFrame:
    """Maintain ``agg`` (columns: group_cols + count_col + sum_map
    keys) against a pre-image change feed. Returns the updated
    aggregate: groups whose maintained count reaches zero disappear
    (they have no remaining rows), brand-new groups appear.

    The feed is the union's first side, so the result belongs to the
    feed's session even when ``agg`` was read through another one (an
    ``Observation`` on the feed completes only when its own session runs
    the plan).
    """
    missing = [c for c in (*group_cols, count_col, *sum_map) if c not in agg.columns]
    if missing:
        raise ValueError(f"agg is missing columns: {missing}")
    if "_change_type" not in feed.columns:
        raise ValueError("feed must carry _change_type (snapshot_diff pre_image=True)")
    keys = [_q(c) for c in group_cols]
    # one row per change: __w its sign, __v<i> the sign times sum i's source
    signed = feed.selectExpr(
        *keys, f"{_SIGN_SQL} AS __w",
        *[f"{_q(src)} AS __s{i}" for i, src in enumerate(sum_map.values())],
    ).selectExpr(*keys, "__w", *[f"__w * __s{i} AS __v{i}" for i in range(len(sum_map))])
    # one row per stored group: __w its count, __v<i> its sum i
    stored = agg.selectExpr(
        *keys, f"{_q(count_col)} AS __w",
        *[f"coalesce({_q(out)}, 0) AS __v{i}" for i, out in enumerate(sum_map)],
    )
    return (
        signed.unionByName(stored)
        .groupBy(*group_cols)
        .agg(
            F.expr(f"coalesce(sum(__w), 0) AS {_q(count_col)}"),
            *[F.expr(f"coalesce(sum(__v{i}), 0) AS {_q(out)}")
              for i, out in enumerate(sum_map)],
        )
        .filter(f"{_q(count_col)} > 0")
    )
