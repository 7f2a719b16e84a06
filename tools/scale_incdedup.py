"""Persisted-index incremental-dedup scale measurement (round 11,
VERDICT r10 #5): grow the INDEX while holding the BATCH fixed, and
time the two phases separately —

* build(k): signature + bucketBy-write of the k×-replicated index
  (the once-per-corpus-version cost);
* probe(k): batch-side signatures + the three persisted-table joins +
  the report (the recurring per-ingest cost).

The claim under test: probe cost is (near-)independent of index size
— the index is never re-signatured and never re-shuffled at probe
time; what remains index-proportional is only the sequential
bucket-local merge read of the posting table.

Replicated index docs get a per-replica token suffix so clones are
GENUINE new documents (identical texts would pile into the same band
buckets and the occupancy guard would just drop them — the r10 clone
pathology — which would fake a flat curve).

Run alone on the box (CLAUDE.md bench rule): load_avg is recorded.

Round 12: the probe now includes the tier-3 candidate-bounded Jaccard
verify (the registered query's full per-ingest path, post the
semi-join-before-tokenize fix), and the fixed batch is actually
checkpointed (the r11 binding bug inflated probe_s by a constant).

Usage: python tools/scale_incdedup.py  → SCALE_r12_incdedup.json
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

FACTORS = [int(x) for x in os.environ.get(
    "SPARK_GRAFT_INCDEDUP_FACTORS", "1,10,30"
).split(",")]


def main() -> None:
    from pyspark.sql import functions as F

    from causality_between_elements_based_on_time_series_data_spark.operators.dedup import (
        jaccard,
        set_overlap,
        word_set,
    )
    from causality_between_elements_based_on_time_series_data_spark.plans.queries_llm import (
        _MH_MAX_BUCKET,
        band_rows,
        portable_signatures,
    )
    from causality_between_elements_based_on_time_series_data_spark.session import get_spark
    from causality_between_elements_based_on_time_series_data_spark.sources.catalog import (
        load_table,
        reset_bucket_table,
        session_bucket_table,
    )

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    load_before = tuple(round(x, 2) for x in os.getloadavg())
    spark = get_spark("scale_incdedup")
    log4j = spark._jvm.org.apache.logging.log4j
    log4j.core.config.Configurator.setLevel(
        "org.apache.spark.sql.execution.window.WindowExec", log4j.Level.ERROR
    )

    docs = load_table(spark, sf_dir, "documents")
    t_split = docs.agg(
        F.floor(0.8 * (F.max("doc_id") + 1)).cast("bigint")
    ).first()[0]
    stride = docs.agg(F.max("doc_id") + 1).first()[0]
    batch = docs.filter(F.col("doc_id") >= t_split).select(
        "doc_id", "lang", "text"
    )
    # localCheckpoint is NOT in-place — bind the returned DataFrame or
    # every probe() re-derives the batch from the parquet scan
    # (round-11 ADVICE: the r11 numbers carried that per-probe constant)
    batch = batch.localCheckpoint(eager=True)  # fixed probe input, derived once
    idx_base = docs.filter(F.col("doc_id") < t_split).select(
        "doc_id", "text"
    )

    try:
        initial_parts = int(spark.conf.get(
            "spark.sql.adaptive.coalescePartitions.initialPartitionNum"
        ))
    except Exception:
        initial_parts = 0
    n_bkts = max(
        64,
        int(spark.conf.get("spark.sql.shuffle.partitions")),
        initial_parts,
    )

    rows = []
    for k in FACTORS:
        # k replicas, each a GENUINE new doc (suffix token perturbs
        # the shingle set); ids offset by replica stride
        reps = [
            idx_base.select(
                (F.col("doc_id") + F.lit(i * stride)).alias("doc_id"),
                F.concat(
                    F.col("text"), F.lit(f" rep{i}tok"),
                    (F.col("doc_id") % 97).cast("string"),
                ).alias("text"),
            )
            for i in range(k)
        ]
        idx_docs = reps[0]
        for r in reps[1:]:
            idx_docs = idx_docs.unionByName(r)

        t_bands = session_bucket_table(spark, f"sb_idx_bands_x{k}")
        t_counts = session_bucket_table(spark, f"sb_idx_bcounts_x{k}")
        t_keys = session_bucket_table(spark, f"sb_idx_keys_x{k}")
        t_docs = session_bucket_table(spark, f"sb_idx_docs_x{k}")
        for t in (t_bands, t_counts, t_keys, t_docs):
            reset_bucket_table(spark, t)

        t0 = time.monotonic()
        idx_bands = band_rows(portable_signatures(idx_docs))
        (idx_bands.write.bucketBy(n_bkts, "band_id", "band_val")
         .sortBy("band_id", "band_val").saveAsTable(t_bands))
        (idx_bands.groupBy("band_id", "band_val")
         .agg(F.count("*").cast("bigint").alias("n_idx"))
         .write.bucketBy(n_bkts, "band_id", "band_val")
         .sortBy("band_id", "band_val").saveAsTable(t_counts))
        (idx_docs.select(F.sha2("text", 256).alias("h")).distinct()
         .write.bucketBy(n_bkts, "h").sortBy("h").saveAsTable(t_keys))
        # the corpus text itself lives on disk (in the registered
        # query it's the documents parquet) — the probe's tier-3 text
        # fetch reads THIS table, not a per-probe re-derivation of the
        # k-replica union
        (idx_docs.write.bucketBy(n_bkts, "doc_id").sortBy("doc_id")
         .saveAsTable(t_docs))
        build_s = round(time.monotonic() - t0, 3)
        n_idx_rows = spark.table(t_bands).count()

        def probe(with_tier3: bool = True) -> float:
            t0 = time.monotonic()
            exact = (
                batch.select("doc_id", F.sha2("text", 256).alias("h"))
                .join(spark.table(t_keys), "h", "semi")
                .select("doc_id")
                .localCheckpoint(eager=False)
            )
            b_bands = band_rows(
                portable_signatures(batch.select("doc_id", "text"))
            )
            b_counts = b_bands.groupBy("band_id", "band_val").agg(
                F.count("*").alias("__bn")
            )
            ok = (
                b_counts.join(
                    spark.table(t_counts), ["band_id", "band_val"], "left"
                )
                .filter(
                    F.coalesce(F.col("n_idx"), F.lit(0)) + F.col("__bn")
                    <= _MH_MAX_BUCKET
                )
                .select("band_id", "band_val")
            )
            probe_side = b_bands.join(ok, ["band_id", "band_val"], "semi")
            cand = (
                spark.table(t_bands)
                .select("band_id", "band_val", F.col("doc_id").alias("id_a"))
                .join(
                    probe_side.select(
                        "band_id", "band_val",
                        F.col("doc_id").alias("id_b"),
                    ),
                    ["band_id", "band_val"],
                )
                .select("id_a", "id_b")
                .distinct()
            )
            if not with_tier3:
                # the r11-comparable probe: tiers 1-2 + report only
                flagged = cand.groupBy("id_b").agg(
                    F.count("*").alias("nc")
                )
                report12 = (
                    batch.select("doc_id", "lang")
                    .join(exact.withColumn("_e", F.lit(1)), "doc_id", "left")
                    .join(
                        flagged.withColumnRenamed("id_b", "doc_id"),
                        "doc_id", "left",
                    )
                    .groupBy("lang")
                    .agg(
                        F.count("*").alias("n_new"),
                        F.sum(F.coalesce("_e", F.lit(0))).alias("n_exact"),
                        F.sum(F.coalesce("nc", F.lit(0))).alias("n_cand"),
                    )
                )
                report12.write.format("noop").mode("overwrite").save()
                return round(time.monotonic() - t0, 3)
            cand = cand.localCheckpoint(eager=False)
            # tier 3 (round-12 shape): exact Jaccard on CANDIDATE docs
            # only — corpus text (batch ∪ the persisted index text
            # table) is semi-joined against the candidate-id set
            # BEFORE tokenizing, so the verify shuffle is
            # candidate-bounded and only the column-pruned id/text
            # scan is corpus-proportional
            cand_ids = cand.select(
                F.explode(F.array("id_a", "id_b")).alias("doc_id")
            ).distinct()
            corpus_text = batch.select("doc_id", "text").unionByName(
                spark.table(t_docs).select("doc_id", "text")
            )
            tok = word_set(
                corpus_text.join(cand_ids, "doc_id", "semi")
            ).localCheckpoint(eager=False)
            near = (
                set_overlap(cand, tok)
                .filter(jaccard() >= 0.8)
                .select(F.col("id_b").alias("doc_id"))
                .distinct()
            )
            report = (
                batch.select("doc_id", "lang")
                .join(exact.withColumn("_e", F.lit(1)), "doc_id", "left")
                .join(near.withColumn("_n", F.lit(1)), "doc_id", "left")
                .groupBy("lang")
                .agg(
                    F.count("*").alias("n_new"),
                    F.sum(F.coalesce("_e", F.lit(0))).alias("n_exact"),
                    F.sum(F.coalesce("_n", F.lit(0))).alias("n_near"),
                )
            )
            report.write.format("noop").mode("overwrite").save()
            return round(time.monotonic() - t0, 3)

        q1 = probe(with_tier3=False)
        q2 = probe(with_tier3=False)
        p1 = probe()
        p2 = probe()
        rows.append({
            "factor": k,
            "index_rows": n_idx_rows,
            "build_s": build_s,
            "probe12_s": min(q1, q2),
            "probe12_passes": [q1, q2],
            "probe_s": min(p1, p2),
            "probe_passes": [p1, p2],
        })
        print(json.dumps(rows[-1]))
        for t in (t_bands, t_counts, t_keys, t_docs):
            reset_bucket_table(spark, t)

    out = {
        "measurement": "incremental_dedup_persisted_index probe vs index size",
        "sf_dir": sf_dir,
        "n_buckets": n_bkts,
        # end-of-run load is dominated by this run itself; the
        # quiet-box check is load_before (CLAUDE.md bench rule)
        "load_before": load_before,
        "load_after": tuple(round(x, 2) for x in os.getloadavg()),
        "rows": rows,
    }
    path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "SCALE_r12_incdedup.json",
    )
    with open(path, "w") as f:
        json.dump(out, f, indent=1)
    print(json.dumps({"wrote": path}))


if __name__ == "__main__":
    main()
