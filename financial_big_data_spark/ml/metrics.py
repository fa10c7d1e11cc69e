"""Model-evaluation metrics (SURVEY A13-A15, M8).

The reference computes accuracy / weighted & per-class F1 / confusion with
sklearn on collected arrays (reference src/models/lstm_forecasting.py:
288-302, lstm_analysis.py:144,193-196). Every metric is a closed form of
the confusion counts, and one form computes them:

- ``confusion_matrix`` is the distributed step, a lazy hash aggregate
  over a (true, pred) DataFrame: ``groupBy(true, pred).count()``, at most
  classes² rows.
- ``evaluate`` collects it ONCE and derives accuracy, per-class
  precision/recall/F1 and weighted F1 on the driver with
  ``confusion_summary``, in plain Python arithmetic. It returns them as
  local relations (``local.local_frame``), so reading them runs no Spark
  job. ``accuracy``, ``per_class_f1`` and ``weighted_f1`` are ``evaluate``'s
  frames, so they are eager: each call runs the confusion collect.

The DuckDB oracle reproduces them to the 6 digits the ``pred_*`` queries
round to.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..local import local_frame


def confusion_matrix(preds: DataFrame, true_col: str = "true_label", pred_col: str = "pred_label") -> DataFrame:
    """A13: (true, pred, n) counts."""
    return preds.groupBy(true_col, pred_col).agg(F.count(F.lit(1)).alias("n"))


def accuracy(preds: DataFrame, true_col: str = "true_label", pred_col: str = "pred_label") -> DataFrame:
    """A14: overall accuracy and row count as a 1-row (accuracy, n) frame,
    ``evaluate``'s. Eager: the confusion collect runs here."""
    return evaluate(preds, true_col, pred_col)[0]


def per_class_f1(
    preds: DataFrame, true_col: str = "true_label", pred_col: str = "pred_label"
) -> DataFrame:
    """A15: per-class (label, support, precision, recall, f1), ``evaluate``'s.
    Eager: the confusion collect runs here.

    TP = n(true=c, pred=c); FP = n(pred=c) - TP; FN = n(true=c) - TP.
    Classes appearing only in predictions get recall NULL (no support),
    matching the divide-by-zero guard semantics.
    """
    return evaluate(preds, true_col, pred_col)[2]


def weighted_f1(
    preds: DataFrame, true_col: str = "true_label", pred_col: str = "pred_label"
) -> DataFrame:
    """A15: support-weighted mean F1 (sklearn average='weighted') as a 1-row
    frame, ``evaluate``'s. Eager: the confusion collect runs here."""
    return evaluate(preds, true_col, pred_col)[1]


def confusion_summary(cells) -> tuple:
    """``(accuracy, n, per_class, weighted_f1)`` from (true, pred, count)
    cells, with SQL's NULL semantics (the ``pred_*`` oracle's):

    - accuracy is correct / (rows with both labels set); None for none
    - n counts every row
    - per_class is (label, support, precision, recall, f1) per class:
      precision None with no predictions of the class, recall None with
      no support, f1 0.0 when either is None or both are 0. A NULL label
      never matches (NULL = NULL is not true), so NULL true and NULL
      predicted labels stay two rows, as in a full join on the label.
    - weighted_f1 is the support-weighted mean F1 over classes with
      support; None when no class has any
    """
    n = correct = counted = 0
    support, n_pred, tp = {}, {}, {}
    for t, p, c in cells:
        n += c
        support[t] = support.get(t, 0) + c
        n_pred[p] = n_pred.get(p, 0) + c
        if t is not None and p is not None:
            counted += c
            if t == p:
                correct += c
                tp[t] = tp.get(t, 0) + c
    labels = sorted((support.keys() | n_pred.keys()) - {None})
    joined = [(x, support.get(x, 0), n_pred.get(x, 0)) for x in labels]
    joined += [(None, support[None], 0)] if None in support else []
    joined += [(None, 0, n_pred[None])] if None in n_pred else []
    per_class = []
    for label, s, predicted in joined:
        hit = tp.get(label, 0)
        precision = hit / predicted if predicted else None
        recall = hit / s if s else None
        f1 = 0.0
        if precision is not None and recall is not None and precision + recall != 0:
            f1 = 2 * precision * recall / (precision + recall)
        per_class.append((label, s, precision, recall, f1))
    num, den = 0.0, 0
    for _label, s, _p, _r, f1 in per_class:
        if s > 0:
            num += f1 * s
            den += s
    return (correct / counted if counted else None), n, per_class, (num / den if den else None)


def evaluate(
    preds: DataFrame, true_col: str = "true_label", pred_col: str = "pred_label"
) -> tuple[DataFrame, DataFrame, DataFrame, DataFrame]:
    """``(accuracy, weighted_f1, per_class_f1, confusion)`` frames from ONE
    confusion collect, derived by ``confusion_summary``. All four are local
    relations (``local.local_frame``), so reading them runs no Spark job.
    The per-class label has the type of ``coalesce(true, pred)``."""
    cm = confusion_matrix(preds, true_col, pred_col)
    cells = [tuple(r) for r in cm.collect()]
    acc, n, per_class, wf1 = confusion_summary(cells)
    label = cm.select(F.coalesce(true_col, pred_col)).schema[0].dataType.simpleString()
    spark = preds.sparkSession
    return (
        local_frame(spark, [(acc, n)], "accuracy double, n bigint not null"),
        local_frame(spark, [(wf1,)], "weighted_f1 double"),
        local_frame(
            spark,
            per_class,
            f"label {label}, support bigint not null, precision double, recall double,"
            " f1 double not null",
        ),
        local_frame(spark, cells, cm.schema),
    )
