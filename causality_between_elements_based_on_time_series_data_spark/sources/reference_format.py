"""Reference-native text dataset ingestion (SURVEY.md §2.1 [REF] row).

The reference imports a missing ``data_loader`` module whose contract
is inferred from call sites (``/root/reference/run.py:3,44-55``):

    load_data(num_features, steps, path, file_name) -> (x, y)

with ``x: [N, steps, num_features]`` float32 (feeds the placeholder at
``model.py:45``) and ``y: [N, 1]`` binary (``model.py:46``).  The
engine defines the file format explicitly — one sample per line,
``steps*num_features`` feature values followed by the label,
whitespace-separated — and ingests it distributed: schema-declared
text scan → split → typed array → slice-reshape into the long format
of SURVEY §1.2.  No driver-side numpy materialization: a 100 TB of
text files streams through executors like any other scan.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def load_data(
    spark: SparkSession,
    num_features: int,
    steps: int,
    path: str,
    file_name: str,
    task: str = "default",
    stable_ids: bool = True,
) -> DataFrame:
    """Distributed implementation of the reference's ``load_data``
    contract, returning the long-format DataFrame
    ``(entity_id, task, step, features ARRAY<FLOAT>, label INT)``
    instead of in-memory numpy tensors.

    Per-line x/label alignment is within-line (each line carries its
    own label — run.py:44-55), so it never depends on entity_id.  The
    id itself comes in two flavors:

    - default (``stable_ids=True``): dense 0-based line numbers — the
      file's splits are coalesced into one partition, whose
      ``monotonically_increasing_id`` counter is then the line number
      (a file's splits are read back in file order).  Exact reference parity: the
      reference's alignment is positional (run.py:47), so reproducible
      line-number identity is the semantics a user porting it expects.
      No eager job and no Python; the cost is single-task ingestion —
      right for the reference's own single-node-sized text files.
      Spark's partitioning-aware ``Union`` keeps a union of such
      single-partition loads (one per task file) in one partition, so
      parsing, featurizing and a fit over them run as one task with no
      exchange.
    - ``stable_ids=False``: ``monotonically_increasing_id`` over the
      file's own splits — unique but OPAQUE and partitioning-dependent
      (partition-offset based, so neither dense line numbers nor
      stable across re-reads of a multi-split file).  The parallel
      path, for 100 TB-scale ingestion where no coalesce is acceptable
      and downstream logic never interprets the id.
    """
    full = os.path.join(path, file_name)
    width = steps * num_features
    raw = spark.read.text(full).filter(F.length(F.trim("value")) > 0)
    lines = (raw.coalesce(1) if stable_ids else raw).withColumn(
        "entity_id", F.monotonically_increasing_id()
    )
    vals = F.transform(F.split(F.trim("value"), r"\s+"), lambda s: s.cast("float"))
    parsed = lines.select(
        "entity_id",
        F.slice(vals, 1, width).alias("feat_flat"),
        F.element_at(vals, width + 1).cast("int").alias("label"),
    )
    # reshape [steps*num_features] -> one row per step with a
    # num_features slice; explode keeps it fully distributed
    step_idx = F.explode(F.sequence(F.lit(0), F.lit(steps - 1))).alias("step")
    return parsed.select("entity_id", "feat_flat", "label", step_idx).select(
        "entity_id",
        F.lit(task).alias("task"),
        "step",
        F.slice("feat_flat", F.col("step") * num_features + 1, num_features).alias("features"),
        "label",
    )


def write_reference_format(df_rows: list[list[float]], labels: list[int], target: str) -> None:
    """Test helper: materialize samples in the reference text format
    (one line per sample: flattened features then the label)."""
    os.makedirs(os.path.dirname(target), exist_ok=True)
    with open(target, "w") as f:
        for row, y in zip(df_rows, labels):
            f.write(" ".join(f"{v:.6f}" for v in row) + f" {y}\n")
