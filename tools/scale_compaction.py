"""Compaction-cost measurement (round 12): substantiate the LSM claim
behind ``dedup_index_compaction`` — the per-ingest compaction cost
(segment signature + bucketed segment write + occupancy-count merge +
report) is batch-proportional and ~independent of the index size,
while the naive alternative (rewriting ``old postings UNION new`` as
one bucketed table) grows linearly with the index.

Per index factor k (fixed batch = the 0.8-quantile tail of sf0.1):
  - build_s: the once-per-corpus-version v1 index build (context, not
    the claim under test),
  - compact_s (min of 2): the recurring per-ingest cost,
  - naive_rewrite_s (1 pass): the full posting-table rewrite the
    design refuses to do per ingest.

Writes SCALE_r12_compaction.json at the repo root.  Timing runs must
be the only Spark workload on the box (CLAUDE.md rule) — check
load_before in the artifact.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

FACTORS = [int(x) for x in os.environ.get(
    "SPARK_GRAFT_COMPACTION_FACTORS", "1,10,30"
).split(",")]


def lifecycle() -> None:
    """--lifecycle: probe read cost vs ACCUMULATED SEGMENT COUNT K —
    the LSM read-amplification curve behind
    ``dedup_index_segment_lifecycle``.  Fixed index (x10 replication)
    + a fixed batch split into 8 ingest slices; measure the K-way
    occupancy-merge report at K in {1,2,4,8} (growing-before), then
    fold (one linear v2 rewrite) and measure the single-table report
    (flat-after).  Writes SCALE_r13_lsm.json."""
    from functools import reduce

    from pyspark.sql import functions as F

    from causality_between_elements_based_on_time_series_data_spark.plans.queries_llm import (
        _MH_MAX_BUCKET,
        _merge_occupancy_counts_multi,
        band_rows,
        portable_signatures,
    )
    from causality_between_elements_based_on_time_series_data_spark.session import (
        get_spark,
    )
    from causality_between_elements_based_on_time_series_data_spark.sources.catalog import (
        load_table,
        reset_bucket_table,
        session_bucket_table,
    )

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    idx_factor = int(os.environ.get("SPARK_GRAFT_LSM_IDX_FACTOR", "10"))
    n_slices = 8
    load_before = tuple(round(x, 2) for x in os.getloadavg())
    spark = get_spark("scale_lsm")

    docs = load_table(spark, sf_dir, "documents")
    t_split = docs.agg(
        F.floor(0.8 * (F.max("doc_id") + 1)).cast("bigint")
    ).first()[0]
    stride = docs.agg(F.max("doc_id") + 1).first()[0]
    # deliberate bench-isolation checkpoint OUTSIDE the plan-gated
    # query path: the fixed ingest batch must not be re-derived inside
    # each timed probe (raw localCheckpoint on a text-bearing relation
    # is forbidden in query code by the round-10 doctrine; here the
    # 12k-row batch is the measurement fixture itself)
    batch = docs.filter(F.col("doc_id") >= t_split).select(
        "doc_id", "text"
    ).localCheckpoint(eager=True)
    idx_base = docs.filter(F.col("doc_id") < t_split).select(
        "doc_id", "text"
    )
    idx_docs = reduce(
        lambda a, b: a.unionByName(b),
        [
            idx_base.select(
                (F.col("doc_id") + F.lit(i * stride)).alias("doc_id"),
                F.concat(
                    F.col("text"), F.lit(f" rep{i}tok"),
                    (F.col("doc_id") % 97).cast("string"),
                ).alias("text"),
            )
            for i in range(idx_factor)
        ],
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

    t_counts = session_bucket_table(spark, "lsm_bench_bcounts")
    t_bands = session_bucket_table(spark, "lsm_bench_bands")
    reset_bucket_table(spark, t_counts)
    reset_bucket_table(spark, t_bands)
    idx_bands = band_rows(portable_signatures(idx_docs))
    (idx_bands.write.bucketBy(n_bkts, "band_id", "band_val")
     .sortBy("band_id", "band_val").saveAsTable(t_bands))
    (spark.table(t_bands).groupBy("band_id", "band_val")
     .agg(F.count("*").cast("bigint").alias("n_idx"))
     .write.bucketBy(n_bkts, "band_id", "band_val")
     .sortBy("band_id", "band_val").saveAsTable(t_counts))
    n_idx_post = spark.table(t_bands).count()

    seg_tables = []
    for j in range(n_slices):
        t_seg = session_bucket_table(spark, f"lsm_bench_seg{j}")
        reset_bucket_table(spark, t_seg)
        (
            band_rows(portable_signatures(
                batch.filter(F.col("doc_id") % n_slices == j)
            ))
            .write.bucketBy(n_bkts, "band_id", "band_val")
            .sortBy("band_id", "band_val")
            .saveAsTable(t_seg)
        )
        seg_tables.append(t_seg)

    def probe_report(merged) -> float:
        t0 = time.monotonic()
        (
            merged.groupBy("band_id")
            .agg(
                F.sum("n_idx").alias("a"),
                F.sum("n_seg").alias("b"),
                F.sum("n_total").alias("c"),
                F.count("*").alias("d"),
                F.sum((F.col("n_total") > _MH_MAX_BUCKET).cast("int"))
                .alias("e"),
            )
            .write.format("noop").mode("overwrite").save()
        )
        return round(time.monotonic() - t0, 3)

    rows = []
    for k in (1, 2, 4, 8):
        merged = _merge_occupancy_counts_multi(
            spark.table(t_counts),
            [spark.table(t) for t in seg_tables[:k]],
            n_bkts,
        )
        probe_s = min(probe_report(merged) for _ in range(3))
        rows.append({"k_segments": k, "probe_s": probe_s})
        print(f"[lsm] K={k}: probe_s={probe_s}", file=sys.stderr)

    # the FOLD: one linear v2 rewrite, then the flat-after probe
    t_b2 = session_bucket_table(spark, "lsm_bench_v2_bands")
    t_c2 = session_bucket_table(spark, "lsm_bench_v2_bcounts")
    reset_bucket_table(spark, t_b2)
    reset_bucket_table(spark, t_c2)
    t0 = time.monotonic()
    v2 = reduce(
        lambda a, b: a.unionByName(b),
        [spark.table(t_bands)] + [spark.table(t) for t in seg_tables],
    )
    (v2.write.bucketBy(n_bkts, "band_id", "band_val")
     .sortBy("band_id", "band_val").saveAsTable(t_b2))
    (spark.table(t_b2).groupBy("band_id", "band_val")
     .agg(F.count("*").cast("bigint").alias("n_idx"))
     .write.bucketBy(n_bkts, "band_id", "band_val")
     .sortBy("band_id", "band_val").saveAsTable(t_c2))
    fold_s = round(time.monotonic() - t0, 3)

    folded = spark.table(t_c2).select(
        "band_id", "band_val", "n_idx",
        F.lit(0).cast("bigint").alias("n_seg"),
        F.col("n_idx").alias("n_total"),
    )
    probe_after_fold_s = min(probe_report(folded) for _ in range(3))
    print(
        f"[lsm] fold_s={fold_s} probe_after_fold_s={probe_after_fold_s}",
        file=sys.stderr,
    )

    out = {
        "sf_dir": sf_dir,
        "idx_factor": idx_factor,
        "n_bkts": n_bkts,
        "n_idx_postings": n_idx_post,
        "n_slices": n_slices,
        "load_before": load_before,
        "probe_vs_k": rows,
        "fold_s": fold_s,
        "probe_after_fold_s": probe_after_fold_s,
    }
    line = json.dumps(out)
    print(line)
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "SCALE_r13_lsm.json"), "w") as fh:
        fh.write(line + "\n")
    for t in [t_counts, t_bands, t_b2, t_c2] + seg_tables:
        reset_bucket_table(spark, t)


def ann() -> None:
    """--ann: the persisted-ANN-index scale curves (round 15: the
    index carries the sub-split geometry — probes fan over the
    persisted child keys).

    (a) probe cost vs corpus scale k in {1,10,30}: the corpus is the
    sf0.1 embeddings replicated k times (vec_id shifted, vectors
    untouched), the index is built ONCE per k
    (`_build_persisted_ann_index` — linear build cost recorded as
    context), and the probe runs a FIXED 20-query sample (base-copy
    vec_id % 100 == 0) against the bucketed codes+ranges tables.
    Claim under test: probe cost stays ~flat while the corpus grows
    (candidates ~ (1+bits)*mean_occ per query; bits grows log, so
    "flat" means the log factor, never the corpus).

    (b) probe cost vs K accumulated code segments at x10: a fixed
    x1-volume ingest split into 8 slices, each quantized against the
    v1 ranges and written as a bucketed delta segment; the probe
    unions per-table candidates over v1 + K segments (K in 1,2,4,8),
    then the fold rebuilds v2 and the probe runs flat-after — the ANN
    read-amplification curve mirroring SCALE_r13_lsm.json.

    Writes SCALE_r15_ann.json."""
    from pyspark.sql import functions as F

    from causality_between_elements_based_on_time_series_data_spark.plans.queries_llm import (
        _build_persisted_ann_index,
        _sq8_candidates,
        _sq8_fan_to_children,
        _sq8_probe_set,
        _sq8_topk,
        _write_ann_segment,
    )
    from causality_between_elements_based_on_time_series_data_spark.session import (
        get_spark,
    )
    from causality_between_elements_based_on_time_series_data_spark.sources.catalog import (
        load_table,
        reset_bucket_table,
        session_bucket_table,
    )

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    load_before = tuple(round(x, 2) for x in os.getloadavg())
    spark = get_spark("scale_ann")

    base = load_table(spark, sf_dir, "embeddings")
    stride = base.agg(F.max("vec_id") + 1).first()[0]

    def replicate(k: int):
        copies = [
            base.select(
                (F.col("vec_id") + F.lit(i * stride)).alias("vec_id"),
                "embedding",
                "label",
            )
            for i in range(k)
        ]
        out = copies[0]
        for c in copies[1:]:
            out = out.unionByName(c)
        return out

    def probe_set(emb_k, bits, t_stats):
        parents = _sq8_probe_set(emb_k.filter(F.col("vec_id") < stride), bits)
        return _sq8_fan_to_children(spark, parents, t_stats, bits)

    def timed_probe(code_tables, t_stats, qs, null_safe=False) -> float:
        t0 = time.monotonic()
        cand = None
        for ts in code_tables:
            c = _sq8_candidates(
                spark.table(ts), qs, spark.table(t_stats), null_safe
            )
            cand = c if cand is None else cand.unionByName(c)
        _sq8_topk(cand).write.format("noop").mode("overwrite").save()
        return round(time.monotonic() - t0, 3)

    # NOTE on the qs .localCheckpoint(eager=True) calls below:
    # deliberate bench-isolation checkpoints OUTSIDE the plan-gated
    # query path — the fixed query sample must not be re-derived
    # inside each timed probe (tiny: 20 queries x (1+bits) probe rows).
    # ---- (a) monolithic persisted index: probe vs corpus scale ----
    ann_scales = [
        int(x)
        for x in os.environ.get("SPARK_GRAFT_ANN_SCALES", "1,10,30").split(",")
    ]
    curve = []
    for k in ann_scales:
        emb_k = replicate(k)
        t0 = time.monotonic()
        t_codes, t_stats, bits, _nb = _build_persisted_ann_index(
            spark, emb_k, f"annscale_x{k}"
        )
        build_s = round(time.monotonic() - t0, 3)
        qs = probe_set(emb_k, bits, t_stats).localCheckpoint(eager=True)
        probe_s = min(timed_probe([t_codes], t_stats, qs) for _ in range(3))
        curve.append(
            {"k": k, "bits": bits, "build_s": build_s, "probe_s": probe_s}
        )
        print(f"[ann] x{k}: {curve[-1]}", file=sys.stderr)
        for t in (t_codes, t_stats):
            reset_bucket_table(spark, t)

    # ---- (b) segmented index at x10: probe vs K, fold, flat-after ----
    n_slices = 8
    emb_k = replicate(10)
    t_codes, t_stats, bits, n_bkts = _build_persisted_ann_index(
        spark, emb_k, "annlsm_v1"
    )
    batch = base.select(
        (F.col("vec_id") + F.lit(10 * stride)).alias("vec_id"), "embedding"
    )
    seg_tables = []
    for j in range(n_slices):
        t_seg = session_bucket_table(spark, f"annlsm_seg{j}")
        _write_ann_segment(
            spark,
            batch.filter(F.col("vec_id") % n_slices == j),
            t_stats,
            bits,
            n_bkts,
            t_seg,
        )
        seg_tables.append(t_seg)
    qs = probe_set(emb_k, bits, t_stats).localCheckpoint(eager=True)
    seg_curve = []
    for kseg in (1, 2, 4, 8):
        probe_s = min(
            timed_probe(
                [t_codes] + seg_tables[:kseg], t_stats, qs, null_safe=True
            )
            for _ in range(3)
        )
        seg_curve.append({"k_segments": kseg, "probe_s": probe_s})
        print(f"[ann-lsm] K={kseg}: probe_s={probe_s}", file=sys.stderr)
    t0 = time.monotonic()
    t2_codes, t2_stats, bits2, _n2 = _build_persisted_ann_index(
        spark, emb_k.unionByName(batch.withColumn("label", F.lit(0))),
        "annlsm_v2",
    )
    fold_s = round(time.monotonic() - t0, 3)
    qs2 = probe_set(emb_k, bits2, t2_stats).localCheckpoint(eager=True)
    probe_after_fold_s = min(
        timed_probe([t2_codes], t2_stats, qs2) for _ in range(3)
    )
    print(
        f"[ann-lsm] fold_s={fold_s} probe_after_fold_s={probe_after_fold_s}",
        file=sys.stderr,
    )
    for t in [t_codes, t_stats, t2_codes, t2_stats] + seg_tables:
        reset_bucket_table(spark, t)

    out = {
        "sf_dir": sf_dir,
        "load_before": load_before,
        "probe_vs_corpus": curve,
        "lsm_idx_scale": 10,
        "n_slices": n_slices,
        "probe_vs_k": seg_curve,
        "fold_s": fold_s,
        "probe_after_fold_s": probe_after_fold_s,
    }
    line = json.dumps(out)
    print(line)
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "SCALE_r15_ann.json"), "w") as fh:
        fh.write(line + "\n")


def main() -> None:
    from pyspark.sql import functions as F

    from causality_between_elements_based_on_time_series_data_spark.plans.queries_llm import (
        _merge_occupancy_counts,
        band_rows,
        portable_signatures,
    )
    from causality_between_elements_based_on_time_series_data_spark.session import (
        get_spark,
    )
    from causality_between_elements_based_on_time_series_data_spark.sources.catalog import (
        load_table,
        reset_bucket_table,
        session_bucket_table,
    )

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    load_before = tuple(round(x, 2) for x in os.getloadavg())
    spark = get_spark("scale_compaction")

    docs = load_table(spark, sf_dir, "documents")
    t_split = docs.agg(
        F.floor(0.8 * (F.max("doc_id") + 1)).cast("bigint")
    ).first()[0]
    stride = docs.agg(F.max("doc_id") + 1).first()[0]
    # fixed ingest batch, derived once (localCheckpoint is not in-place)
    batch = docs.filter(F.col("doc_id") >= t_split).select(
        "doc_id", "text"
    ).localCheckpoint(eager=True)
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

        t_bands = session_bucket_table(spark, f"cb_idx_bands_x{k}")
        t_counts = session_bucket_table(spark, f"cb_idx_bcounts_x{k}")
        t_keys = session_bucket_table(spark, f"cb_idx_keys_x{k}")
        t_seg = session_bucket_table(spark, f"cb_seg_x{k}")
        t_v2 = session_bucket_table(spark, f"cb_v2_x{k}")
        t_naive = session_bucket_table(spark, f"cb_naive_x{k}")
        for t in (t_bands, t_counts, t_keys, t_seg, t_v2, t_naive):
            reset_bucket_table(spark, t)

        # once-per-corpus-version build (context)
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
        build_s = round(time.monotonic() - t0, 3)
        n_idx_post = spark.table(t_bands).count()

        def compact() -> float:
            """The registered query's per-ingest shape: ONE
            batch-proportional segment write + the read-time
            occupancy merge feeding the report.  (The earlier
            revision's per-ingest v2 counts REWRITE is measured
            separately as v2_rewrite_s — the index-proportional term
            this measurement caught, which moved the merge
            read-side.)"""
            reset_bucket_table(spark, t_seg)
            t0 = time.monotonic()
            kept = (
                batch.select(
                    "doc_id", "text", F.sha2("text", 256).alias("h")
                )
                .join(spark.table(t_keys), "h", "anti")
                .select("doc_id", "text")
            )
            (
                band_rows(portable_signatures(kept))
                .write.bucketBy(n_bkts, "band_id", "band_val")
                .sortBy("band_id", "band_val")
                .saveAsTable(t_seg)
            )
            merged = _merge_occupancy_counts(
                spark.table(t_counts), spark.table(t_seg)
            )
            (
                merged.groupBy("band_id")
                .agg(
                    F.sum("n_idx").alias("a"),
                    F.sum("n_seg").alias("b"),
                    F.sum("n_total").alias("c"),
                    F.count("*").alias("d"),
                )
                .write.format("noop").mode("overwrite").save()
            )
            return round(time.monotonic() - t0, 3)

        def v2_rewrite() -> float:
            """The rejected per-ingest shape: persist the merged
            counts table (occupancy-sized — grows with the index)."""
            reset_bucket_table(spark, t_v2)
            t0 = time.monotonic()
            merged = _merge_occupancy_counts(
                spark.table(t_counts), spark.table(t_seg)
            )
            (
                merged.write.bucketBy(n_bkts, "band_id", "band_val")
                .sortBy("band_id", "band_val")
                .saveAsTable(t_v2)
            )
            return round(time.monotonic() - t0, 3)

        compact_s = min(compact() for _ in range(2))
        v2_rewrite_s = min(v2_rewrite() for _ in range(2))
        n_seg_post = spark.table(t_seg).count()

        # the refused alternative: full posting-table rewrite
        t0 = time.monotonic()
        (
            spark.table(t_bands)
            .unionByName(spark.table(t_seg))
            .write.bucketBy(n_bkts, "band_id", "band_val")
            .sortBy("band_id", "band_val")
            .saveAsTable(t_naive)
        )
        naive_s = round(time.monotonic() - t0, 3)

        rows.append({
            "k": k,
            "n_idx_postings": n_idx_post,
            "n_seg_postings": n_seg_post,
            "build_s": build_s,
            "compact_s": compact_s,
            "v2_rewrite_s": v2_rewrite_s,
            "naive_rewrite_s": naive_s,
        })
        print(f"[compaction] x{k}: {rows[-1]}", file=sys.stderr)
        for t in (t_bands, t_counts, t_keys, t_seg, t_v2, t_naive):
            reset_bucket_table(spark, t)

    out = {
        "sf_dir": sf_dir,
        "n_bkts": n_bkts,
        "load_before": load_before,
        "rows": rows,
    }
    line = json.dumps(out)
    print(line)
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "SCALE_r12_compaction.json"), "w") as fh:
        fh.write(line + "\n")


def annserve() -> None:
    """--annserve: per-request serving IO vs corpus scale (round 15).

    The batch-pruned route's claim: a BOUNDED request batch against a
    growing corpus takes the literal route (its unioned child-key
    probe set stays far below n_children once adaptive bits grow the
    list count), so per-batch cost tracks |probed lists| * mean list
    occupancy (~constant under the adaptive-bits rule), NOT the
    corpus — the x100 full-scan term SCALE_r14_ann.json measured on
    the always-broadcast form, closed and re-measured.

    Per scale k (default 1,10,30,100 via SPARK_GRAFT_ANNSERVE_SCALES):
    build the round-15 persisted index over the replicated corpus,
    then time _ann_batch_probe for a FIXED 20-query batch (base-copy
    vec_id % 100 == 0), recording which route it took and the probe
    fraction.  Writes SCALE_r15_annserve.json."""
    from pyspark.sql import functions as F

    from causality_between_elements_based_on_time_series_data_spark.plans.queries_llm import (
        _ann_batch_probe,
        _build_persisted_ann_index,
        _sq8_fan_to_children,
        _sq8_probe_set,
    )
    from causality_between_elements_based_on_time_series_data_spark.session import (
        get_spark,
    )
    from causality_between_elements_based_on_time_series_data_spark.sources.catalog import (
        load_table,
        reset_bucket_table,
    )

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    load_before = tuple(round(x, 2) for x in os.getloadavg())
    spark = get_spark("scale_annserve")

    base = load_table(spark, sf_dir, "embeddings")
    stride = base.agg(F.max("vec_id") + 1).first()[0]

    def replicate(k: int):
        copies = [
            base.select(
                (F.col("vec_id") + F.lit(i * stride)).alias("vec_id"),
                "embedding",
                "label",
            )
            for i in range(k)
        ]
        out = copies[0]
        for c in copies[1:]:
            out = out.unionByName(c)
        return out

    scales = [
        int(x)
        for x in os.environ.get(
            "SPARK_GRAFT_ANNSERVE_SCALES", "1,10,30,100"
        ).split(",")
    ]
    curve = []
    for k in scales:
        emb_k = replicate(k)
        t0 = time.monotonic()
        t_codes, t_stats, bits, _nb = _build_persisted_ann_index(
            spark, emb_k, f"annsrv_x{k}"
        )
        build_s = round(time.monotonic() - t0, 3)
        qs_parent = (
            _sq8_probe_set(emb_k.filter(F.col("vec_id") < stride), bits)
            # deliberate bench-isolation checkpoint OUTSIDE the gated
            # query path: the fixed sample must not re-derive per pass
            .localCheckpoint(eager=True)
        )
        n_probe = (
            _sq8_fan_to_children(spark, qs_parent, t_stats, bits)
            .select("ckl")
            .distinct()
            .count()
        )
        n_children = spark.table(t_stats).count()
        times = []
        for _ in range(3):
            t0 = time.monotonic()
            _ann_batch_probe(
                spark, t_codes, t_stats, bits, qs_parent
            ).write.format("noop").mode("overwrite").save()
            times.append(round(time.monotonic() - t0, 3))
        curve.append(
            {
                "k": k,
                "bits": bits,
                "build_s": build_s,
                "n_probe_ckls": n_probe,
                "n_children": n_children,
                "route": "literal"
                if 2 * n_probe <= n_children
                else "broadcast",
                "probe_s": min(times),
            }
        )
        print(f"[annserve] x{k}: {curve[-1]}", file=sys.stderr)
        for t in (t_codes, t_stats):
            reset_bucket_table(spark, t)

    out = {
        "sf_dir": sf_dir,
        "load_before": load_before,
        "batch_probe_vs_corpus": curve,
    }
    line = json.dumps(out)
    print(line)
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "SCALE_r15_annserve.json"), "w") as fh:
        fh.write(line + "\n")


if __name__ == "__main__":
    if "--lifecycle" in sys.argv:
        lifecycle()
    elif "--annserve" in sys.argv:
        annserve()
    elif "--ann" in sys.argv:
        ann()
    else:
        main()
