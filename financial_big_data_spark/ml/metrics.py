"""Model-evaluation metrics (SURVEY A13-A15, M8).

The reference computes accuracy / weighted & per-class F1 / confusion with
sklearn on collected arrays (reference src/models/lstm_forecasting.py:
288-302, lstm_analysis.py:144,193-196). Every metric is a closed form of
the confusion counts. Two forms compute them:

- The DataFrame functions (``confusion_matrix``, ``accuracy``,
  ``per_class_f1``, ``weighted_f1``) are hash aggregates over a
  (true, pred) DataFrame, distributed, no driver arrays:

      confusion  = groupBy(true, pred).count()
      accuracy   = avg(true == pred)
      F1 family  = precision/recall per class from the confusion counts

  The DuckDB oracle reproduces them bit-for-bit (the ``pred_*`` queries).
- ``evaluate`` collects the confusion ONCE, at most classes² rows, and
  derives the rest on the driver with ``confusion_summary``, the same
  arithmetic in pure Python. Its frames are local relations with the
  DataFrame functions' schemas, so reading them runs no Spark job: one
  action in place of a plan per metric, for a forecast's test split.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def confusion_matrix(preds: DataFrame, true_col: str = "true_label", pred_col: str = "pred_label") -> DataFrame:
    """A13: (true, pred, n) counts."""
    return preds.groupBy(true_col, pred_col).agg(F.count(F.lit(1)).alias("n"))


def accuracy(preds: DataFrame, true_col: str = "true_label", pred_col: str = "pred_label") -> DataFrame:
    """A14: overall accuracy as a 1-row DataFrame."""
    return preds.agg(
        F.avg((F.col(true_col) == F.col(pred_col)).cast("double")).alias("accuracy"),
        F.count(F.lit(1)).alias("n"),
    )


def per_class_f1(
    preds: DataFrame, true_col: str = "true_label", pred_col: str = "pred_label"
) -> DataFrame:
    """A15: per-class precision/recall/F1 + support from confusion counts.

    TP = n(true=c, pred=c); FP = n(pred=c) - TP; FN = n(true=c) - TP.
    Classes appearing only in predictions get recall NULL (no support),
    matching the divide-by-zero guard semantics.
    """
    cm = confusion_matrix(preds, true_col, pred_col)
    by_true = cm.groupBy(true_col).agg(F.sum("n").alias("support"))
    by_pred = cm.groupBy(pred_col).agg(F.sum("n").alias("n_pred"))
    tp = cm.where(F.col(true_col) == F.col(pred_col)).select(
        F.col(true_col).alias("label"), F.col("n").alias("tp")
    )
    out = (
        by_true.select(F.col(true_col).alias("label"), "support")
        .join(by_pred.select(F.col(pred_col).alias("label"), "n_pred"), on="label", how="full")
        .join(tp, on="label", how="left")
        .na.fill({"tp": 0, "support": 0, "n_pred": 0})
    )
    precision = F.try_divide(F.col("tp"), F.col("n_pred"))
    recall = F.try_divide(F.col("tp"), F.col("support"))
    f1 = F.try_divide(2 * precision * recall, precision + recall)
    return out.select(
        "label",
        "support",
        precision.alias("precision"),
        recall.alias("recall"),
        F.coalesce(f1, F.lit(0.0)).alias("f1"),
    )


def weighted_f1(
    preds: DataFrame, true_col: str = "true_label", pred_col: str = "pred_label"
) -> DataFrame:
    """A15: support-weighted mean F1 (sklearn average='weighted')."""
    pc = per_class_f1(preds, true_col, pred_col).where(F.col("support") > 0)
    return pc.agg(
        (F.sum(F.col("f1") * F.col("support")) / F.sum("support")).alias("weighted_f1")
    )


def confusion_summary(cells) -> tuple:
    """``(accuracy, n, per_class, weighted_f1)`` from (true, pred, count)
    cells, with the DataFrame functions' semantics and arithmetic:

    - accuracy is correct / (rows with both labels set); None for none
    - n counts every row
    - per_class is ``per_class_f1``'s rows (label, support, precision,
      recall, f1): precision None with no predictions of the class,
      recall None with no support, f1 0.0 when either is None or both
      are 0. A NULL label never matches (NULL = NULL is not true), so
      NULL true and NULL predicted labels stay two rows, as in the full
      join.
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
    """``(accuracy, weighted_f1, per_class_f1, confusion)`` frames, equal to
    the DataFrame functions' results and with their schemas, from ONE
    confusion collect. The frames are local relations (an Arrow table
    under ``spark.sql.execution.arrow.localRelationThreshold``; a row list
    would become an RDD scan, one job per read), so reading them runs no
    Spark job."""
    cm = confusion_matrix(preds, true_col, pred_col)
    cells = [tuple(r) for r in cm.collect()]
    acc, n, per_class, wf1 = confusion_summary(cells)
    spark = preds.sparkSession
    return (
        _local_frame(spark, [(acc, n)], accuracy(preds, true_col, pred_col).schema),
        _local_frame(spark, [(wf1,)], weighted_f1(preds, true_col, pred_col).schema),
        _local_frame(spark, per_class, per_class_f1(preds, true_col, pred_col).schema),
        _local_frame(spark, cells, cm.schema),
    )


def _local_frame(spark, rows: list, schema) -> DataFrame:
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    arrow = to_arrow_schema(schema)
    table = pa.Table.from_pydict(
        {f.name: [r[i] for r in rows] for i, f in enumerate(schema.fields)}, schema=arrow
    )
    return spark.createDataFrame(table, schema)
