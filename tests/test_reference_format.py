"""Reference-native text ingestion + train/eval lifecycle tests
(SURVEY.md §2.1 text scan row, §3.3 eval loop semantics).
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from causality_between_elements_based_on_time_series_data_spark.ml.amtl import (
    AMTLConfig,
    AMTLTrainer,
)
from causality_between_elements_based_on_time_series_data_spark.session import scoped_conf
from causality_between_elements_based_on_time_series_data_spark.sources.reference_format import (
    load_data,
    write_reference_format,
)

STEPS, FEATS = 4, 3


@pytest.fixture(scope="module")
def ref_files(tmp_path_factory):
    root = tmp_path_factory.mktemp("refdata")
    rng = np.random.default_rng(5)
    for split, n in [("train", 40), ("test", 20)]:
        rows, labels = [], []
        for _ in range(n):
            x = rng.normal(size=STEPS * FEATS)
            rows.append(list(x))
            labels.append(int(x[:FEATS].mean() > 0))
        write_reference_format(rows, labels, str(root / f"disease_{split}.txt"))
    return str(root)


def test_load_data_contract_shapes(spark, ref_files):
    df = load_data(spark, FEATS, STEPS, ref_files, "disease_train.txt", task="disease")
    assert df.columns == ["entity_id", "task", "step", "features", "label"]
    n_entities = df.select("entity_id").distinct().count()
    assert n_entities == 40
    assert df.count() == 40 * STEPS  # dense rectangular (model.py:45 assumption)
    sizes = df.select(F.size("features").alias("s")).distinct().collect()
    assert [r["s"] for r in sizes] == [FEATS]
    # labels are binary and constant per entity
    per_entity = df.groupBy("entity_id").agg(F.countDistinct("label").alias("k"))
    assert per_entity.filter(F.col("k") != 1).count() == 0


def test_load_data_values_roundtrip(spark, ref_files):
    df = load_data(spark, FEATS, STEPS, ref_files, "disease_train.txt", task="d")
    row = df.filter((F.col("entity_id") == df.select(F.min("entity_id")).first()[0]) & (F.col("step") == 0)).first()
    with open(f"{ref_files}/disease_train.txt") as f:
        first = f.readline().split()
    expected = [float(v) for v in first[:FEATS]]
    assert row["features"] == pytest.approx(expected, rel=1e-5)
    assert row["label"] == int(first[-1])


def test_load_data_stable_ids_are_dense_line_numbers(spark, ref_files):
    with open(f"{ref_files}/disease_train.txt") as f:
        labels = [int(line.split()[-1]) for line in f if line.strip()]

    def ids_and_labels():
        df = load_data(spark, FEATS, STEPS, ref_files, "disease_train.txt", task="d", stable_ids=True)
        ids = sorted(r["entity_id"] for r in df.select("entity_id").distinct().collect())
        got = {r["entity_id"]: r["label"] for r in df.select("entity_id", "label").distinct().collect()}
        return ids, got

    ids, got = ids_and_labels()
    assert ids == list(range(40))  # dense 0-based line numbers
    # stable across re-reads: per-line label must agree with the file
    assert got == dict(enumerate(labels))
    # the same numbering when the file is read as many splits: the
    # one-partition counter must continue across split boundaries
    with scoped_conf(spark, "spark.sql.files.maxPartitionBytes", "512"):
        assert spark.read.text(f"{ref_files}/disease_train.txt").rdd.getNumPartitions() > 1
        ids, got = ids_and_labels()
    assert ids == list(range(40))
    assert got == dict(enumerate(labels))


def test_train_eval_lifecycle_with_min_tracking(spark, ref_files):
    def featurize(fname):
        df = load_data(spark, FEATS, STEPS, ref_files, fname, task="disease")
        return (
            df.groupBy("entity_id", "task", "label")
            .agg(F.avg(F.element_at("features", 1)).alias("f0"), F.count("*").alias("n"))
            .select(
                "entity_id",
                "task",
                F.array("f0", F.lit(1.0)).alias("x"),
                F.col("label").cast("double").alias("y"),
            )
        )

    cfg = AMTLConfig(total_iter=12, check_iter=3, lr=0.5)
    trainer = AMTLTrainer(cfg).fit(featurize("disease_train.txt"), featurize("disease_test.txt"))
    assert len(cfg.eval_history) == len(cfg.history) > 1
    ev = trainer.eval_min_df(spark).collect()
    assert len(ev) == 1
    assert ev[0]["task"] == "disease"
    all_evals = [h["disease"] for h in cfg.eval_history]
    assert ev[0]["min_eval_loss"] == pytest.approx(min(all_evals))
