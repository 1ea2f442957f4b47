"""Snapshot-to-snapshot model drift (bdqc's temporal QC, SURVEY.md
§1: the reference's core loop is "profile today's delivery, compare
against the accumulated KB, flag what moved" — lib/BDQC/KB.pm keeps
per-attribute models across runs precisely so a new batch can be
scored against history).

Here the KB is the `cohort_models` state table, one per pipeline run
/ table snapshot (sources/iceberg.py time travel reads any historic
one). ``model_drift`` compares two of them:

- numeric attributes: drift z = operators.stats.robust_z_scalar(
  median_new, median_old, mad_old) — the scalar twin of the Column
  robust_z the per-row rules score with, applied to the model itself.
- categorical attributes: total-variation distance between the two
  normalized value histograms (0.5 * sum |p_new - p_old|), flagged
  above a multinomial sampling-noise floor.

Execution shape: both inputs are the ~100-row model tables the
pipeline already holds on the driver (stage B collects the new one,
the old one is read back with pyarrow), so the comparison is plain
Python over those rows. It never touches the fact table and submits
no Spark job: an exchange over KB-sized inputs is all fixed cost.
"""

from __future__ import annotations

import math
from decimal import ROUND_HALF_UP, Decimal

from bdqc_spark.operators.stats import robust_z_scalar
from bdqc_spark.plans.models import COHORT_COLS

DRIFT_Z = 3.0
DRIFT_TVD = 0.10
# Below this support on either side a drift verdict is noise, same
# rationale as rules.MIN_COHORT_N for per-row deviation scoring.
DRIFT_MIN_N = 30


def round_half_up(x: float, places: int) -> float:
    """Spark's ``round`` on a finite double: the shortest decimal repr
    of x, rounded HALF_UP (0.1234565 → 0.123457, where Python's round
    gives 0.123456)."""
    return float(Decimal(repr(x)).quantize(Decimal(1).scaleb(-places), ROUND_HALF_UP))


def _key(r, cols: list[str]):
    k = tuple(r[c] for c in cols)
    # SQL equality: a NULL key part matches nothing on the other side
    return k if None not in k else object()


def _full_outer(old_rows, new_rows, cols: list[str]):
    """(old, new) row pairs over the union of keys, None on the side
    where a key is absent."""
    old = {_key(r, cols): r for r in old_rows}
    new = {_key(r, cols): r for r in new_rows}
    for k in [*old, *(k for k in new if k not in old)]:
        yield old.get(k), new.get(k)


def _n(r):
    return None if r is None else r["n"]


def _measured(n_old, n_new) -> bool:
    return (
        n_old is not None and n_new is not None and n_old >= DRIFT_MIN_N and n_new >= DRIFT_MIN_N
    )


def model_drift(old_rows: list, new_rows: list) -> list[dict]:
    """Two cohort_models snapshots (rows with item access: pyarrow
    dicts or collected Spark Rows) → drift records with keys kind,
    codec, lang_pred, attribute, n_old, n_new, metric, threshold,
    drifted.

    numeric: one record per (cohort, attribute) present in either
    snapshot, categorical attributes included (their median is null,
    so they are never measured). metric is the drift z when both
    medians exist and both n ≥ DRIFT_MIN_N; otherwise metric and drifted
    are null. A cohort that appears or disappears is a structural
    change, not measured drift.

    categorical: for each attribute with a histogram on both sides,
    one record per cohort present in either: metric is the histogram
    TVD in [0, 1] (0 = identical value mix, 1 = disjoint supports;
    a one-sided cohort reads 0.5), threshold the effective TVD bound
    rounded to 6 places, both null unless the cohort is measured.
    """
    keys = [*COHORT_COLS, "attribute"]
    recs = []
    for o, nw in _full_outer(old_rows, new_rows, keys):
        ref = o if o is not None else nw
        n_old, n_new = _n(o), _n(nw)
        z = None
        if (
            _measured(n_old, n_new)
            and o["median"] is not None
            and nw["median"] is not None
        ):
            z = robust_z_scalar(nw["median"], o["median"], o["mad"])
        recs.append(
            {
                "kind": "numeric",
                **{c: ref[c] for c in keys},
                "n_old": n_old,
                "n_new": n_new,
                "metric": z,
                "threshold": None,
                "drifted": None if z is None else z > DRIFT_Z,
            }
        )

    cat_attrs = sorted(
        {r["attribute"] for r in old_rows if r["histogram"] is not None}
        & {r["attribute"] for r in new_rows if r["histogram"] is not None}
    )
    for attr in cat_attrs:
        # a cohort whose histogram is empty or null has no values to
        # compare, so it is absent on that side
        old_h = [r for r in old_rows if r["attribute"] == attr and r["histogram"]]
        new_h = [r for r in new_rows if r["attribute"] == attr and r["histogram"]]
        for o, nw in _full_outer(old_h, new_h, COHORT_COLS):
            ref = o if o is not None else nw
            n_old, n_new = _n(o), _n(nw)
            p_old = {} if o is None else {v: c / n_old for v, c in o["histogram"].items()}
            p_new = {} if nw is None else {v: c / n_new for v, c in nw["histogram"].items()}
            values = sorted(p_old.keys() | p_new.keys())
            # plain left-to-right float adds in value order, as Spark's
            # sum met them (Python 3.12's sum() compensates rounding)
            tvd = 0.0
            for v in values:
                tvd += abs(p_new.get(v, 0.0) - p_old.get(v, 0.0))
            tvd /= 2.0
            threshold = drifted = None
            if _measured(n_old, n_new):
                # Sampling-noise floor: two multinomial draws of sizes
                # n_old/n_new over k values show TVD ≈
                # 0.5·sqrt(k·(1/n_old + 1/n_new)) from noise alone
                # (per-value |p̂-p| has sd sqrt(p(1-p)/n); summed over
                # k values). Flag only above twice that floor — a
                # fixed threshold misfires on every small cohort.
                noise_floor = 0.5 * math.sqrt(len(values) * (1.0 / n_old + 1.0 / n_new))
                effective = max(DRIFT_TVD, 2.0 * noise_floor)
                threshold = round_half_up(effective, 6)
                drifted = tvd > effective
            recs.append(
                {
                    "kind": "categorical",
                    **{c: ref[c] for c in COHORT_COLS},
                    "attribute": attr,
                    "n_old": n_old,
                    "n_new": n_new,
                    "metric": tvd,
                    "threshold": threshold,
                    "drifted": drifted,
                }
            )
    return recs
