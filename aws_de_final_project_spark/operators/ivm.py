"""Incremental view maintenance (IVM) for JOIN views.

operators/rollup_maint.py maintains AGGREGATE views from deltas; this
module does the same for inner-join views — the other classic IVM
algebra. For insert-only deltas dA, dB:

    (A + dA) JOIN (B + dB)
        = (A JOIN B)  +  dA JOIN B  +  A JOIN dB  +  dA JOIN dB

so the stored view V = A JOIN B advances by three delta-sized joins —
the full A JOIN B is NEVER recomputed, and each term joins a delta
against a base table (or the other delta), which at 100 TB means
per-refresh cost proportional to |delta| x matched keys, not history.
The three terms are pairwise disjoint by construction (every result
row is attributed to which side(s) contributed new rows), so the
append needs no dedup pass.

Insert-only contract: updates/deletes need keyed versions (compose
with streaming/upsert.py's last-writer-wins MERGE on the view key);
this module implements the append algebra that underlies both.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from aws_de_final_project_spark.operators.util import cut


def join_view_delta(
    a_old: DataFrame,
    da: DataFrame,
    b_old: DataFrame,
    db: DataFrame,
    on: Sequence[str],
) -> DataFrame:
    """The view increment dV for insert-only deltas:
    dA JOIN B_old  +  A_old JOIN dB  +  dA JOIN dB. Any of the four
    frames may be empty; the three terms are disjoint."""
    on = list(on)
    parts = [
        da.join(b_old, on),
        a_old.join(db, on),
        da.join(db, on),
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def fold_join_view(
    a_batches: Sequence[DataFrame],
    b_batches: Sequence[DataFrame],
    on: Sequence[str],
) -> DataFrame:
    """Fold paired insert batches through the delta algebra, returning
    the final view. Each round cuts (``util.cut``) the accumulated
    state so lineage stays flat (same posture as the rollup folds);
    parity of fold == one-shot join is what the oracled entry and the
    unit tests pin."""
    if len(a_batches) != len(b_batches) or not a_batches:
        raise ValueError("need equal, non-empty batch lists")
    a_old = a_batches[0].limit(0)
    b_old = b_batches[0].limit(0)
    view = None
    for da, db in zip(a_batches, b_batches):
        dv = join_view_delta(a_old, da, b_old, db, on)
        view = dv if view is None else view.unionByName(dv)
        view = cut(view)
        a_old = cut(a_old.unionByName(da))
        b_old = cut(b_old.unionByName(db))
    return view
