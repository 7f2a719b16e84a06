"""Operator property tests (SURVEY.md §5.2 item 3): softmax
normalization, dedup idempotence, as-of semantics on crafted data,
MinHash-LSH recall on planted near-duplicates, tensorize ordering.
"""

from __future__ import annotations

from datetime import datetime, timedelta

import pytest
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from causality_between_elements_based_on_time_series_data_spark.functions.scalar import (
    softmax_over,
)
from causality_between_elements_based_on_time_series_data_spark.operators.asof import asof_lookup
from causality_between_elements_based_on_time_series_data_spark.operators.dedup import (
    dedup_exact,
    jaccard,
    lsh_candidate_pairs,
    minhash_signatures,
    set_overlap,
    word_set,
)
from causality_between_elements_based_on_time_series_data_spark.operators.similarity import (
    brute_force_cosine_topk,
    lsh_cosine_topk,
)
from causality_between_elements_based_on_time_series_data_spark.operators.tensorize import (
    steps_from_timestamps,
    tensorize,
)
from causality_between_elements_based_on_time_series_data_spark.sources.catalog import load_table


def test_softmax_sums_to_one(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id")
    sums = (
        ev.select("user_id", softmax_over(F.col("value"), w).alias("alpha"))
        .groupBy("user_id")
        .agg(F.sum("alpha").alias("s"))
        .collect()
    )
    assert all(abs(r["s"] - 1.0) < 1e-9 for r in sums)


def test_dedup_exact_idempotent_and_dup_aware(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    doubled = docs.unionByName(docs.withColumn("doc_id", F.col("doc_id") + 1_000_000))
    once = dedup_exact(docs).orderBy("keep_doc_id").toPandas()
    twice = dedup_exact(doubled).orderBy("keep_doc_id").toPandas()
    # same survivors (min id wins), every copy counted
    assert list(once.keep_doc_id) == list(twice.keep_doc_id)
    assert (twice.n_copies == 2 * once.n_copies).all()


def test_asof_semantics_crafted(spark):
    t0 = datetime(2024, 1, 1)
    rows = [
        (1, t0 + timedelta(minutes=0), 1, "click", 5.0),
        (2, t0 + timedelta(minutes=10), 1, "purchase", 100.0),
        (3, t0 + timedelta(minutes=20), 1, "click", 7.0),
        (4, t0 + timedelta(minutes=30), 1, "purchase", 200.0),
        (5, t0 + timedelta(minutes=5), 2, "purchase", 300.0),  # no prior click
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double"
    )
    out = {
        r["event_id"]: r["asof_value"]
        for r in asof_lookup(
            df,
            entity_col="user_id",
            time_cols=("ts", "event_id"),
            probe_filter=F.col("event_type") == "purchase",
            build_filter=F.col("event_type") == "click",
            value_col="value",
        ).collect()
    }
    assert out == {2: 5.0, 4: 7.0, 5: None}


def test_minhash_lsh_finds_planted_near_dups(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text").limit(100)
    # plant near-duplicates: same text with one extra token at the end
    dups = docs.select(
        (F.col("doc_id") + 10_000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" extra")).alias("text"),
    )
    sigs = minhash_signatures(docs.unionByName(dups))
    cands = lsh_candidate_pairs(sigs).toPandas()
    planted_found = sum(
        1 for _, r in cands.iterrows() if r.id_b - r.id_a == 10_000
    )
    # 16 hashes / 4×4 bands on ~1-token perturbations: expect most pairs
    assert planted_found >= 60, f"found only {planted_found}/100 planted near-dups"


def test_minhash_portable_banding_is_selective(spark, sf_dir):
    # The point of LSH banding is that candidates ≪ all pairs: the band
    # join must emit only near-dup mass, never degenerate toward O(n²)
    # (an earlier hash family based on ascii(tok) emitted 84% of C(n,2)).
    from causality_between_elements_based_on_time_series_data_spark.plans.queries_llm import (
        minhash_portable_band_pairs,
    )

    n = load_table(spark, sf_dir, "documents").count()
    pairs = minhash_portable_band_pairs(spark, sf_dir).count()
    all_pairs = n * (n - 1) / 2
    assert pairs > 0, "fixture near-dup mass should produce candidates"
    assert pairs < 0.05 * all_pairs, (
        f"banding emitted {pairs}/{all_pairs:.0f} pairs "
        f"({pairs / all_pairs:.1%}) — degenerate LSH"
    )


def test_lsh_cosine_recall_vs_bruteforce(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 50 == 0)
    exact = brute_force_cosine_topk(emb, queries, k=3).select("qid", "nid").toPandas()
    approx = lsh_cosine_topk(emb, queries, k=3).select("qid", "nid").toPandas()
    exact_pairs = set(zip(exact.qid, exact.nid))
    approx_pairs = set(zip(approx.qid, approx.nid))
    recall = len(exact_pairs & approx_pairs) / len(exact_pairs)
    assert recall >= 0.5, f"LSH recall {recall:.2f} too low"


def test_embedding_near_dup_lsh_recall_and_precision(spark, sf_dir):
    """The LSH near-dup scale path vs the exact threshold baseline:
    precision must be 1.0 (exact cosine filter on candidates) and
    bucket-collision recall high on the fixture."""
    from causality_between_elements_based_on_time_series_data_spark.functions.arrays import (
        cosine_similarity,
    )
    from causality_between_elements_based_on_time_series_data_spark.operators.similarity import (
        embedding_near_dup_lsh,
    )

    emb = load_table(spark, sf_dir, "embeddings").limit(300)
    a = emb.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("va"))
    b = emb.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("vb"))
    exact = (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", cosine_similarity(F.col("va"), F.col("vb")).alias("sim"))
        .filter(F.col("sim") >= 0.3)
        .toPandas()
    )
    approx = embedding_near_dup_lsh(emb, threshold=0.3).toPandas()
    exact_pairs = set(zip(exact.id_a, exact.id_b))
    approx_pairs = set(zip(approx.id_a, approx.id_b))
    assert approx_pairs <= exact_pairs, "precision violated — non-pair passed the cosine filter"
    recall = len(approx_pairs & exact_pairs) / max(len(exact_pairs), 1)
    assert recall >= 0.5, f"near-dup LSH recall {recall:.2f} too low"


def test_ivf_cosine_recall_vs_bruteforce(spark, sf_dir):
    from causality_between_elements_based_on_time_series_data_spark.operators.ivf import (
        ivf_cosine_topk,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 50 == 0)
    exact = brute_force_cosine_topk(emb, queries, k=3).select("qid", "nid").toPandas()
    approx = ivf_cosine_topk(emb, queries, k=3, n_clusters=8, n_probe=3).select(
        "qid", "nid"
    ).toPandas()
    exact_pairs = set(zip(exact.qid, exact.nid))
    approx_pairs = set(zip(approx.qid, approx.nid))
    recall = len(exact_pairs & approx_pairs) / len(exact_pairs)
    assert recall >= 0.5, f"IVF recall {recall:.2f} too low"


def test_multimodal_resize_and_frame_sample_kernels(spark, sf_dir):
    """Byte-level contract of the resize/frame-sample stubs: resize is
    an exact prefix truncation; every emitted frame equals the payload
    slice at its reported offset (the real decoder swap-in relies on
    the slicing/fan-out being trustworthy)."""
    from causality_between_elements_based_on_time_series_data_spark.operators.multimodal import (
        frame_sample,
        resize_payloads,
        to_media_table,
    )

    media = to_media_table(load_table(spark, sf_dir, "documents").limit(20))
    payloads = {r["doc_id"]: bytes(r["payload"]) for r in media.collect()}

    for r in resize_payloads(media, target_bytes=16).collect():
        assert bytes(r["payload"]) == payloads[r["doc_id"]][:16]
        assert r["n_bytes"] == min(r["orig_bytes"], 16)

    frames = frame_sample(media, n_frames=3, frame_bytes=8).collect()
    assert len(frames) >= len(payloads)  # 1→N expansion happened
    for f in frames:
        b = payloads[f["doc_id"]]
        assert bytes(f["frame"]) == b[f["offset"] : f["offset"] + 8]


def test_rawrgb_decode_roundtrip_and_validation(spark, sf_dir):
    """decode_raw_rgb recovers the exact synthetic pixel arithmetic of
    to_raw_rgb_media (mean of (doc_id*31 + 7*(3i+ch)) % 256), and the
    header validator rejects non-3-channel payloads with the decoder's
    own ValueError rather than an opaque pandas shape error."""
    import numpy as np

    from causality_between_elements_based_on_time_series_data_spark.operators.multimodal import (
        decode_raw_rgb,
        to_raw_rgb_media,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id").limit(10)
    out = {r["doc_id"]: r for r in decode_raw_rgb(to_raw_rgb_media(docs)).collect()}
    for doc_id, r in out.items():
        w, h = 8 + doc_id % 5, 6 + doc_id % 7
        assert (r["width"], r["height"], r["n_px_bytes"]) == (w, h, w * h * 3)
        idx = np.arange(w * h * 3, dtype=np.int64)
        px = ((doc_id * 31 + idx * 7) % 256).reshape(h, w, 3)
        for ch, name in enumerate(("r_mean", "g_mean", "b_mean")):
            assert r[name] == round(float(px[:, :, ch].mean()), 6)

    # 4-channel header → decoder's own ValueError, raised executor-side.
    bad_payload = b"RG" + (2).to_bytes(2, "big") + (2).to_bytes(2, "big") + bytes(
        [4, 0]
    ) + bytes(16)
    bad = spark.createDataFrame(
        [(1, bad_payload, {"format": "RAWRGB"})],
        "doc_id bigint, payload binary, meta map<string,string>",
    )
    with pytest.raises(Exception, match="3 channels"):
        decode_raw_rgb(bad).collect()


def test_dedup_pipeline_removes_planted_duplicates(spark, sf_dir):
    """Exact copy and near-copy both removed; canonical originals and
    unrelated docs survive."""
    from causality_between_elements_based_on_time_series_data_spark.plans.queries_llm import (
        dedup_pipeline_survivors,
    )

    docs = load_table(spark, sf_dir, "documents").limit(60)
    base = docs.select("doc_id", "text", "lang", "source", "n_chars")
    exact_dup = base.filter(F.col("doc_id") == 0).select(
        F.lit(90_000).alias("doc_id"), "text", "lang", "source", "n_chars"
    )
    near_dup = base.filter(F.col("doc_id") == 1).select(
        F.lit(90_001).alias("doc_id"),
        F.concat("text", F.lit(" zz")).alias("text"),
        "lang",
        "source",
        "n_chars",
    )
    survivors = dedup_pipeline_survivors(base.unionByName(exact_dup).unionByName(near_dup))
    ids = {r["doc_id"] for r in survivors.select("doc_id").collect()}
    assert 0 in ids and 1 in ids
    assert 90_000 not in ids, "exact duplicate survived tier 1"
    assert 90_001 not in ids, "near duplicate survived tiers 2-4"
    # the synthetic corpus (31-token vocabulary) contains a couple of
    # genuine token-set near-dups of its own — allow their removal, but
    # the pipeline must not gut the corpus
    assert ids <= set(range(60)) and len(ids) >= 55


def test_word_set_keeps_one_row_per_distinct_word(spark):
    docs = spark.createDataFrame(
        [(1, "a b a c b"), (2, "x"), (3, "y y y")], "doc_id bigint, text string"
    )
    got = sorted(tuple(r) for r in word_set(docs).collect())
    assert got == [(1, "a"), (1, "b"), (1, "c"), (2, "x"), (3, "y")]


def _overlap_rows(cand, tok_a, tok_b=None):
    out = set_overlap(cand, tok_a, tok_b).select(
        "id_a", "id_b", "n_common", "sz_a", "sz_b", F.round(jaccard(), 6)
    )
    return sorted(tuple(r) for r in out.collect())


def test_set_overlap_counts_shared_tokens_per_side(spark):
    """Known intersections and per-side set sizes when the two sides
    have different posting lists; a candidate pair with no shared
    token is absent; the answer does not depend on partitioning."""
    tok_a = word_set(
        spark.createDataFrame(
            [(1, "a b c a"), (2, "x y")], "doc_id bigint, text string"
        )
    )
    tok_b = word_set(
        spark.createDataFrame(
            [(10, "a b d"), (11, "c c e"), (12, "q r")],
            "doc_id bigint, text string",
        )
    )
    cand = spark.createDataFrame(
        [(1, 10), (1, 11), (2, 12), (1, 12)], "id_a bigint, id_b bigint"
    )
    want = [(1, 10, 2, 3, 3, 0.5), (1, 11, 1, 3, 2, 0.25)]
    assert _overlap_rows(cand, tok_a, tok_b) == want
    for n in (1, 8):
        assert (
            _overlap_rows(cand.repartition(n), tok_a.repartition(n), tok_b.repartition(n))
            == want
        )
    # one posting list for both sides (the default): sizes from tok_a
    docs = spark.createDataFrame(
        [(1, "a b c"), (2, "a b c d"), (3, "z")], "doc_id bigint, text string"
    )
    pairs = spark.createDataFrame([(1, 2), (1, 3)], "id_a bigint, id_b bigint")
    assert _overlap_rows(pairs, word_set(docs)) == [(1, 2, 3, 3, 4, 0.75)]


def test_range_join_boundary_semantics(spark):
    """Crafted rows pin the interval boundaries: inclusive lower,
    exclusive upper (include_upper=False), key isolation, and the
    bucket-crossing case (interval spanning two buckets)."""
    from datetime import datetime, timedelta

    from causality_between_elements_based_on_time_series_data_spark.operators.rangejoin import (
        range_join,
    )

    t = lambda s: datetime(2024, 1, 1) + timedelta(seconds=s)
    anchors = spark.createDataFrame(
        [
            (1, t(70), 100),   # exactly at probe-30s: inclusive lower
            (2, t(85), 100),   # inside
            (3, t(100), 100),  # == probe ts: exclusive upper -> out
            (4, t(69), 100),   # just below lower -> out
            (5, t(85), 200),   # other key -> out
        ],
        "aid long, ts timestamp, user_id long",
    )
    probes = spark.createDataFrame([(9, t(100), 100)], "pid long, ts timestamp, user_id long")
    got = sorted(
        r["aid"]
        for r in range_join(
            anchors, probes, "ts", "ts", before_s=30, after_s=0,
            keys=("user_id",), include_upper=False,
        ).collect()
    )
    assert got == [1, 2]
    # pairs must not duplicate when the probe interval spans 2 buckets
    wide = range_join(
        anchors, probes, "ts", "ts", before_s=90, after_s=0, keys=("user_id",)
    )
    assert wide.count() == wide.dropDuplicates(["aid", "pid"]).count()


def test_range_join_matches_naive_on_random_data(spark):
    """Property check: the bucketized equi-join form must produce
    exactly the pairs of the naive range predicate, across randomized
    timestamps straddling bucket boundaries."""
    import random
    from datetime import datetime, timedelta

    from causality_between_elements_based_on_time_series_data_spark.operators.rangejoin import (
        range_join,
    )

    rng = random.Random(23)
    base = datetime(2024, 3, 1)
    t = lambda s: base + timedelta(seconds=s)
    anchors = [(i, t(rng.randrange(0, 3600)), rng.randrange(3)) for i in range(120)]
    probes = [(1000 + i, t(rng.randrange(0, 3600)), rng.randrange(3)) for i in range(40)]
    a_df = spark.createDataFrame(anchors, "aid long, ts timestamp, user_id long")
    p_df = spark.createDataFrame(probes, "pid long, ts timestamp, user_id long")

    got = {
        (r["aid"], r["pid"])
        for r in range_join(
            a_df, p_df, "ts", "ts", before_s=300, after_s=120, keys=("user_id",)
        ).collect()
    }
    expected = {
        (aid, pid)
        for aid, ats, akey in anchors
        for pid, pts, pkey in probes
        if akey == pkey and pts - timedelta(seconds=300) <= ats <= pts + timedelta(seconds=120)
    }
    assert got == expected


def test_connected_components_chain_and_islands(spark):
    """Min-label propagation must close multi-hop chains (diameter >1)
    and keep disjoint components apart."""
    from causality_between_elements_based_on_time_series_data_spark.operators.graph import (
        connected_components,
    )

    # component {1,2,3,4,5} as a chain (diameter 4), component {10,11},
    # component {20,21,22} as a triangle
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (10, 11), (20, 21), (21, 22), (20, 22)],
        "id_a long, id_b long",
    )
    got = {r["node"]: r["cluster_id"] for r in connected_components(edges).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1, 10: 10, 11: 10, 20: 20, 21: 20, 22: 20}
    star = {
        r["node"]: r["cluster_id"]
        for r in connected_components(edges, algorithm="star").collect()
    }
    assert star == got


def test_connected_components_star_matches_propagation_random(spark):
    """The O(log n) star-alternation must agree with label propagation
    on seeded random graphs (including a long chain, its worst case
    separation)."""
    import random

    from causality_between_elements_based_on_time_series_data_spark.operators.graph import (
        connected_components,
    )

    rng = random.Random(17)
    edge_list = [(i + 1, i + 2) for i in range(30)]  # 31-node chain
    nodes = list(range(100, 160))
    edge_list += [(rng.choice(nodes), rng.choice(nodes)) for _ in range(80)]
    edge_list = [(a, b) for a, b in edge_list if a != b]
    edges = spark.createDataFrame(edge_list, "id_a long, id_b long")
    prop = {
        r["node"]: r["cluster_id"]
        for r in connected_components(edges, max_iter=50).collect()
    }
    star = {
        r["node"]: r["cluster_id"]
        for r in connected_components(edges, algorithm="star").collect()
    }
    assert star == prop


def test_ngram_jaccard_full_corpus_mode(spark, sf_dir):
    """anchors=None must discover pairs over the whole corpus via the
    LSH-candidate route: same schema as the anchor baseline, unique
    ordered pairs, threshold respected, and it actually finds the
    near-dups the fixture plants."""
    from causality_between_elements_based_on_time_series_data_spark.plans.queries_llm import (
        ngram_jaccard_pairs,
    )

    pdf = ngram_jaccard_pairs(spark, sf_dir, anchors=None).toPandas()
    assert list(pdf.columns) == ["id_a", "id_b", "jaccard"]
    assert len(pdf) > 0
    assert (pdf.jaccard >= 0.2).all()
    assert (pdf.id_a < pdf.id_b).all()
    assert len(pdf) == len(pdf.drop_duplicates(["id_a", "id_b"]))


def test_connected_components_self_loops_agree(spark):
    """Nodes whose only edge is a self-loop must appear (mapped to
    themselves) in BOTH variants — the star construction drops (a, a)
    edges up front, so it backfills every input node."""
    from causality_between_elements_based_on_time_series_data_spark.operators.graph import (
        connected_components,
    )

    edges = spark.createDataFrame(
        [(7, 7), (1, 2), (2, 2), (40, 41)], "id_a long, id_b long"
    )
    expected = {7: 7, 1: 1, 2: 1, 40: 40, 41: 40}
    prop = {r["node"]: r["cluster_id"] for r in connected_components(edges).collect()}
    star = {
        r["node"]: r["cluster_id"]
        for r in connected_components(edges, algorithm="star").collect()
    }
    assert prop == expected
    assert star == expected


def test_salted_agg_matches_direct(spark, sf_dir):
    from causality_between_elements_based_on_time_series_data_spark.operators.skew import (
        salted_agg,
    )

    li = load_table(spark, sf_dir, "lineitem")
    direct = {
        r["l_returnflag"]: (round(r["s"], 4), r["n"])
        for r in li.groupBy("l_returnflag")
        .agg(F.sum("l_quantity").alias("s"), F.count("*").alias("n"))
        .collect()
    }
    salted = {
        r["l_returnflag"]: (round(r["s"], 4), r["n"])
        for r in salted_agg(li, ["l_returnflag"], {"s": F.col("l_quantity")}, "n").collect()
    }
    assert direct == salted


def test_scd2_history_tracking(spark):
    from causality_between_elements_based_on_time_series_data_spark.operators.upsert import (
        scd2_apply,
    )

    target = spark.createDataFrame(
        [(1, "a", 1, True), (2, "b", 1, True)],
        "id long, val string, version int, is_current boolean",
    )
    updates = spark.createDataFrame([(1, "a2")], "id long, val string")
    out = scd2_apply(target, updates, "id").orderBy("id", "version").collect()
    assert [(r.id, r.val, r.version, r.is_current) for r in out] == [
        (1, "a", 1, False),
        (1, "a2", 2, True),
        (2, "b", 1, True),
    ]


def test_tensorize_orders_steps(spark):
    rows = [
        (1, "a", 2, [3.0]),
        (1, "a", 0, [1.0]),
        (1, "a", 1, [2.0]),
        (2, "a", 0, [9.0]),
    ]
    df = spark.createDataFrame(rows, "entity_id long, task string, step int, features array<double>")
    out = {r["entity_id"]: r for r in tensorize(df).collect()}
    assert out[1]["features_seq"] == [[1.0], [2.0], [3.0]]
    assert out[1]["n_steps"] == 3
    assert out[2]["features_seq"] == [[9.0]]


def test_steps_from_timestamps_dense(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    stepped = steps_from_timestamps(ev, "user_id", "event_type", "ts", "event_id")
    agg = stepped.groupBy("user_id", "event_type").agg(
        F.min("step").alias("lo"), F.max("step").alias("hi"), F.count("*").alias("n")
    )
    bad = agg.filter((F.col("lo") != 0) | (F.col("hi") != F.col("n") - 1)).count()
    assert bad == 0


def test_binaryfile_ingest_digests(spark, sf_dir):
    """The binaryFile ingest rows must carry the exact byte length and
    sha256 of each payload file (the compensating check for the
    rows-only registry entry)."""
    import hashlib

    from causality_between_elements_based_on_time_series_data_spark.plans import REGISTRY
    from causality_between_elements_based_on_time_series_data_spark.sources.catalog import (
        load_table,
    )

    got = {
        r["file_name"]: (r["n_bytes"], r["digest"])
        for r in REGISTRY["binaryfile_ingest_stats"].fn(spark, sf_dir).collect()
    }
    src = (
        load_table(spark, sf_dir, "documents")
        .filter("doc_id % 100 = 0")
        .select("doc_id", "text")
        .collect()
    )
    assert len(got) == len(src) > 0
    for r in src:
        payload = r["text"].encode("utf-8")
        expect = (len(payload), hashlib.sha256(payload).hexdigest())
        assert got[f"doc_{r['doc_id']}.bin"] == expect


def test_compaction_collapses_files_and_converges(spark, sf_dir, tmp_path):
    """64 fragments compact to file counts driven by actual bytes;
    compacting the compacted output again is a no-op-sized rewrite
    (same file count), and no rows are lost either hop."""
    from causality_between_elements_based_on_time_series_data_spark.operators.compaction import (
        compact_parquet,
        parquet_bytes,
    )
    from causality_between_elements_based_on_time_series_data_spark.sources.catalog import (
        load_table,
    )

    ev = load_table(spark, sf_dir, "events")
    frag = str(tmp_path / "frag")
    once = str(tmp_path / "once")
    twice = str(tmp_path / "twice")
    ev.repartition(64).write.parquet(frag)
    _, n_frag = parquet_bytes(spark, frag)
    assert n_frag == 64

    n1 = compact_parquet(spark, frag, once, target_bytes=4 * 1024 * 1024)
    _, files_once = parquet_bytes(spark, once)
    assert files_once == n1 < 64

    n2 = compact_parquet(spark, once, twice, target_bytes=4 * 1024 * 1024)
    assert n2 == n1  # converged: bytes drive n, not input layout

    assert spark.read.parquet(twice).count() == ev.count()


def test_compaction_range_layout_prunes(spark, sf_dir, tmp_path):
    """sort_col compaction keeps min/max pruning effective: a range
    predicate on the sort column must NOT read every rewritten file."""
    from causality_between_elements_based_on_time_series_data_spark.operators.compaction import (
        compact_parquet,
    )
    from causality_between_elements_based_on_time_series_data_spark.sources.catalog import (
        load_table,
    )

    ev = load_table(spark, sf_dir, "events")
    frag = str(tmp_path / "frag")
    ranged = str(tmp_path / "ranged")
    ev.repartition(16).write.parquet(frag)
    compact_parquet(spark, frag, ranged, target_bytes=32 * 1024, sort_col="user_id")
    back = spark.read.parquet(ranged)
    total = back.select(F.input_file_name()).distinct().count()
    assert total > 1  # the target must actually produce multiple files
    lo = back.filter(F.col("user_id") < 5)
    # row-group stats: the narrow predicate should touch a strict
    # subset of files once the layout is range-clustered
    touched = lo.select(F.input_file_name()).distinct().count()
    assert touched < total


def test_approx_quantiles_within_rank_tolerance(spark, sf_dir):
    """Each approx quantile must sit within 0.5% *rank* distance of
    the requested quantile against the exact sorted column."""
    from causality_between_elements_based_on_time_series_data_spark.plans import REGISTRY
    from causality_between_elements_based_on_time_series_data_spark.sources.catalog import (
        load_table,
    )

    from pyspark.sql import functions as F

    orders = load_table(spark, sf_dir, "orders").select("o_orderstatus", "o_totalprice")
    # registry query runs the exact regime (accuracy >= n); re-aggregate
    # at accuracy=10000 so the genuinely-approximate GK path is what the
    # rank-tolerance bound below exercises
    approx = {
        r["o_orderstatus"]: r
        for r in orders.groupBy("o_orderstatus")
        .agg(
            F.expr("approx_percentile(o_totalprice, 0.5, 10000)").alias("p50"),
            F.expr("approx_percentile(o_totalprice, 0.9, 10000)").alias("p90"),
            F.expr("approx_percentile(o_totalprice, 0.99, 10000)").alias("p99"),
        )
        .collect()
    }
    exact_regime = {
        r["o_orderstatus"]: r
        for r in REGISTRY["sketch_approx_quantiles"].fn(spark, sf_dir).collect()
    }
    pdf = orders.toPandas()
    for status, grp in pdf.groupby("o_orderstatus"):
        vals = grp["o_totalprice"].sort_values().to_numpy()
        n = len(vals)
        for q, col in ((0.5, "p50"), (0.9, "p90"), (0.99, "p99")):
            got = approx[status][col]
            # rank of the returned value in the exact ordering
            import numpy as np

            rank = np.searchsorted(vals, got, side="right") / n
            assert abs(rank - q) <= 0.005 + 1.0 / n, (status, col, rank, q)
            # and the registry's exact-regime value IS the discrete quantile
            exact_val = vals[min(n - 1, int(np.ceil(q * n)) - 1)]
            assert exact_regime[status][col] == round(float(exact_val), 4), (
                status,
                col,
            )


def test_packing_conserves_tokens_and_fills_bins(spark, sf_dir):
    """Packing invariants: (1) token conservation — bin totals sum to
    the corpus token count; (2) every bin except a shard's last is
    filled to >= the budget minus the largest doc (greedy prefix cut
    cannot leave a larger gap)."""
    from causality_between_elements_based_on_time_series_data_spark.functions.text import (
        token_count,
    )
    from causality_between_elements_based_on_time_series_data_spark.plans import REGISTRY
    from causality_between_elements_based_on_time_series_data_spark.sources.catalog import (
        load_table,
    )

    bins = REGISTRY["pack_sequences_token_budget"].fn(spark, sf_dir).collect()
    docs = load_table(spark, sf_dir, "documents")
    total = docs.select(F.sum(token_count(F.col("text")))).collect()[0][0]
    assert sum(r["bin_tokens"] for r in bins) == total

    max_doc = docs.select(F.max(token_count(F.col("text")))).collect()[0][0]
    last_bin = {}
    for r in bins:
        last_bin[r["source"]] = max(last_bin.get(r["source"], -1), r["bin_id"])
    for r in bins:
        if r["bin_id"] != last_bin[r["source"]]:
            assert r["bin_tokens"] >= 256 - max_doc, r


def test_weighted_mixture_rates_converge(spark, sf_dir):
    """The deterministic hash sampler must land near the configured
    permille rates (exact reproducibility is the oracle's job; this
    pins statistical sanity of the hash spread)."""
    from causality_between_elements_based_on_time_series_data_spark.plans import REGISTRY

    rows = REGISTRY["weighted_source_mixture"].fn(spark, sf_dir).collect()
    want = {}
    for r in rows:
        idx = int(r["source"].removeprefix("src"))
        want[r["source"]] = 0.9 if idx < 5 else (0.5 if idx < 10 else 0.1)
    for r in rows:
        assert abs(r["achieved_rate"] - want[r["source"]]) < 0.25, r


def test_ewma_stays_within_window_envelope(spark, sf_dir):
    """EWMA is a convex combination of observed values: every output
    must lie within [min(v), max(v)] of its series so far."""
    from causality_between_elements_based_on_time_series_data_spark.plans import REGISTRY
    from causality_between_elements_based_on_time_series_data_spark.sources.catalog import (
        load_table,
    )

    out = {(r["event_type"], r["day"]): r["ewma"]
           for r in REGISTRY["ewma_daily_series"].fn(spark, sf_dir).collect()}
    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.groupBy("event_type", F.date_trunc("day", "ts").alias("day"))
        .agg(F.round(F.sum("value"), 6).alias("v"))
        .collect()
    )
    series = {}
    for r in sorted(daily, key=lambda r: (r["event_type"], r["day"])):
        series.setdefault(r["event_type"], []).append((r["day"], r["v"]))
    for et, pts in series.items():
        vals = []
        for day, v in pts:
            vals.append(v)
            lo, hi = min(vals[-60:]), max(vals[-60:])
            assert lo - 1e-6 <= out[(et, day)] <= hi + 1e-6


def test_zorder_layout_prunes_both_dimensions(spark, sf_dir, tmp_path):
    """A 2-D-selective predicate over a z-ordered layout must touch
    fewer files than over a 1-D (time-only) range layout, and the
    time-only predicate must not regress to full scans either."""
    from causality_between_elements_based_on_time_series_data_spark.operators.layout import (
        zorder_layout,
    )
    from causality_between_elements_based_on_time_series_data_spark.sources.catalog import (
        load_table,
    )

    ev = load_table(spark, sf_dir, "events")
    n_files = 16
    day = F.datediff(F.to_date("ts"), F.lit("1995-01-01").cast("date"))

    linear = str(tmp_path / "linear")
    ev.withColumn("__d", day).repartitionByRange(n_files, "__d").drop(
        "__d"
    ).write.parquet(linear)
    zpath = str(tmp_path / "zorder")
    zorder_layout(ev, F.col("user_id") % 32768, day, n_files).write.parquet(zpath)

    lo_user = ev.agg(F.min("user_id")).collect()[0][0]
    lo_day, hi_day = ev.agg(F.min(F.to_date("ts")), F.max(F.to_date("ts"))).collect()[0]

    def files_touched(path, pred):
        df = spark.read.parquet(path).filter(pred)
        return df.select(F.input_file_name()).distinct().count()

    # first quarter of the time range x a few users: selective on BOTH dims
    cutoff = F.lit(str(lo_day + (hi_day - lo_day) / 4)).cast("date")
    pred_2d = (F.col("user_id") <= lo_user + 3) & (F.to_date("ts") < cutoff)
    t_linear = files_touched(linear, pred_2d)
    t_z = files_touched(zpath, pred_2d)
    assert t_z < t_linear, (t_z, t_linear)
    assert t_z <= n_files // 2


def test_stratified_sample_proportions(spark, sf_dir):
    """sampleBy must land near the configured per-language fractions
    and be reproducible for a fixed seed + partitioning."""
    from causality_between_elements_based_on_time_series_data_spark.plans import REGISTRY
    from causality_between_elements_based_on_time_series_data_spark.sources.catalog import (
        load_table,
    )

    fractions = {"en": 0.9, "es": 0.5, "fr": 0.5, "de": 0.25, "zh": 0.25}
    got1 = {r["lang"]: r["n_sampled"]
            for r in REGISTRY["stratified_sample_by_lang"].fn(spark, sf_dir).collect()}
    got2 = {r["lang"]: r["n_sampled"]
            for r in REGISTRY["stratified_sample_by_lang"].fn(spark, sf_dir).collect()}
    assert got1 == got2  # seed-stable
    totals = {r["lang"]: r["n"]
              for r in load_table(spark, sf_dir, "documents")
              .groupBy("lang").agg(F.count("*").alias("n")).collect()}
    for lang, frac in fractions.items():
        if totals.get(lang, 0) < 20:
            continue  # too small to bound statistically
        rate = got1.get(lang, 0) / totals[lang]
        assert abs(rate - frac) < 0.2, (lang, rate, frac)


def test_transform_with_state_gated_or_matches_batch(spark, sf_dir):
    """Spark 4 transformWithState runner needs google.protobuf; where
    present the op must equal the batch GROUP BY, otherwise it must
    fail loudly with the documented ImportError (never silently)."""
    import pytest as _pytest

    from causality_between_elements_based_on_time_series_data_spark.sources.catalog import (
        load_table,
    )
    from causality_between_elements_based_on_time_series_data_spark.streaming.events_stream import (
        streaming_transform_with_state,
    )

    try:
        from google.protobuf import descriptor  # noqa: F401
    except ImportError:
        with _pytest.raises(ImportError, match="google.protobuf"):
            streaming_transform_with_state(spark, sf_dir)
        return

    got = {r["user_id"]: (r["n"], r["total_value"])
           for r in streaming_transform_with_state(spark, sf_dir).collect()}
    ev = load_table(spark, sf_dir, "events")
    want = {r["user_id"]: (r["n"], r["total_value"])
            for r in ev.groupBy("user_id")
            .agg(F.count("*").alias("n"), F.round(F.sum("value"), 4).alias("total_value"))
            .collect()}
    assert got == want


def test_zorder_morton_roundtrip(spark):
    """Property: de-interleaving the Morton value recovers both
    inputs exactly for the full 15-bit domain (sampled)."""
    from causality_between_elements_based_on_time_series_data_spark.operators.layout import (
        BITS,
        zorder_col,
    )

    rows = [(x, y) for x in (0, 1, 5, 1023, 32767) for y in (0, 2, 9, 777, 32767)]
    df = spark.createDataFrame(rows, "x long, y long").withColumn(
        "z", zorder_col(F.col("x"), F.col("y"))
    )
    xb = sum(
        (F.floor(F.col("z") / F.lit(2 ** (2 * i))) % 2) * F.lit(2**i)
        for i in range(BITS)
    )
    yb = sum(
        (F.floor(F.col("z") / F.lit(2 ** (2 * i + 1))) % 2) * F.lit(2**i)
        for i in range(BITS)
    )
    out = df.select("x", "y", xb.alias("x2"), yb.alias("y2")).collect()
    for r in out:
        assert (r["x"], r["y"]) == (r["x2"], r["y2"])


def test_rolling_hash_survives_high_codepoints(spark):
    """Regression: the Rabin-Karp fold must run in BIGINT — with INT
    codes, any token whose first codepoint exceeds ~955 (Cyrillic/
    CJK) pushed acc*131 past 2^31 and ANSI mode raised
    ARITHMETIC_OVERFLOW.  The ASCII-only fixture never caught it."""
    df = spark.createDataFrame(
        [
            (1, "中文 字符 序列 测试 数据 流水"),
            (2, "кирилли́ческий текст тоже работает без сбоя"),
        ],
        ["doc_id", "text"],
    )
    t = F.split(F.col("text"), " ")
    codes = F.transform(
        t,
        lambda w: ((F.ascii(w) * 131 + F.length(w)) % 1000000007).cast("bigint"),
    )
    base = df.select("doc_id", codes.alias("c"), F.size(t).alias("n")).filter(
        F.col("n") >= 3
    )
    sh = F.explode(
        F.transform(
            F.sequence(F.lit(1), F.col("n") - 2),
            lambda i: F.aggregate(
                F.slice(F.col("c"), i + 1, F.lit(2)),
                F.element_at(F.col("c"), i.cast("int")),
                lambda acc, x: (acc * 131 + x) % 1000000007,
            ),
        )
    )
    out = (
        base.select("doc_id", sh.alias("sh"))
        .groupBy("doc_id")
        .agg(F.min("sh").alias("fp"))
        .collect()
    )
    assert len(out) == 2 and all(r["fp"] >= 0 for r in out)


def test_dtw_kernel_matches_full_matrix_reference(spark, sf_dir):
    """The banded DTW kernel's distances equal an independent
    full-matrix DTW implementation on the same z-normalized daily
    series (band >= |len_a - len_b| + slack covers the true warping
    path on these near-equal-length series)."""
    import numpy as np

    from causality_between_elements_based_on_time_series_data_spark.plans import REGISTRY
    from causality_between_elements_based_on_time_series_data_spark.sources.catalog import (
        load_table,
    )

    got = {
        (r["series_a"], r["series_b"]): r
        for r in REGISTRY["dtw_distance_pairs"].fn(spark, sf_dir).collect()
    }
    assert len(got) > 0

    ev = load_table(spark, sf_dir, "events").toPandas()
    ev["day"] = ev["ts"].dt.floor("D")
    daily = (
        ev.groupby(["event_type", "day"])["value"].sum().round(6).reset_index()
    )

    def znorm(s):
        v = s.sort_values("day")["value"].to_numpy(dtype="float64")
        sd = v.std()
        return (v - v.mean()) / (sd if sd > 0 else 1.0)

    series = {et: znorm(grp) for et, grp in daily.groupby("event_type")}
    for (a, b), row in got.items():
        x, y = series[a], series[b]
        assert (row["len_a"], row["len_b"]) == (len(x), len(y))
        n, m = len(x), len(y)
        dp = np.full((n + 1, m + 1), np.inf)
        dp[0, 0] = 0.0
        for i in range(1, n + 1):
            for j in range(1, m + 1):
                c = abs(x[i - 1] - y[j - 1])
                dp[i, j] = c + min(dp[i - 1, j], dp[i, j - 1], dp[i - 1, j - 1])
        assert abs(row["dtw_distance"] - round(float(dp[n, m]), 6)) < 1e-6, (a, b)


def test_hll_union_of_parts_equals_whole_column_sketch(spark, sf_dir):
    """Mergeability: folding per-flag HLL sketches with hll_union_agg
    must estimate EXACTLY what one sketch over the whole column
    estimates (same deterministic sketch algorithm, same registers) —
    and both land within the sketch error bound of the exact count."""
    from causality_between_elements_based_on_time_series_data_spark.plans import REGISTRY
    from causality_between_elements_based_on_time_series_data_spark.sources.catalog import (
        load_table,
    )

    out = REGISTRY["sketch_hll_mergeable"].fn(spark, sf_dir).collect()
    union_est = out[0]["global_distinct_est"]
    assert all(r["global_distinct_est"] == union_est for r in out)

    li = load_table(spark, sf_dir, "lineitem")
    direct = li.agg(
        F.hll_sketch_estimate(F.hll_sketch_agg("l_partkey")).alias("est")
    ).collect()[0]["est"]
    assert union_est == direct, (union_est, direct)

    exact = li.select("l_partkey").distinct().count()
    assert abs(union_est - exact) / exact <= 0.03, (union_est, exact)


def test_asof_forward_semantics_crafted(spark):
    """Forward as-of with tolerance on crafted data: earliest later
    click attaches; clicks outside the tolerance and probes with no
    later click stay NULL; equal-timestamp rows order by event_id."""
    from causality_between_elements_based_on_time_series_data_spark.operators.asof import (
        asof_lookup_forward,
    )

    t0 = datetime(2024, 1, 1)
    rows = [
        (1, t0 + timedelta(minutes=0), 1, "purchase", 100.0),
        (2, t0 + timedelta(minutes=5), 1, "click", 5.0),     # within 15m of #1
        (3, t0 + timedelta(minutes=30), 1, "purchase", 200.0),
        (4, t0 + timedelta(minutes=50), 1, "click", 7.0),    # 20m after #3 -> out of tolerance
        (5, t0 + timedelta(minutes=60), 2, "purchase", 300.0),  # no later click
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double"
    )
    out = {
        r["event_id"]: r["asof_next_value"]
        for r in asof_lookup_forward(
            df,
            entity_col="user_id",
            time_cols=("ts", "event_id"),
            probe_filter=F.col("event_type") == "purchase",
            build_filter=F.col("event_type") == "click",
            value_col="value",
            tolerance_seconds=15 * 60,
        ).collect()
    }
    assert out == {1: 5.0, 3: None, 5: None}


def test_streaming_merge_upsert_multibatch_out_of_order(spark, tmp_path):
    """The CDC sink's newest-wins claim under real multi-batch,
    out-of-order delivery: two event files streamed one per
    micro-batch, where the SECOND batch carries OLDER events — the
    blindly-updates-win merge would clobber newer state; the
    recency-conditional merge must not."""
    import os
    import time

    from causality_between_elements_based_on_time_series_data_spark.streaming.events_stream import (
        streaming_merge_upsert,
    )

    t0 = datetime(2024, 1, 1)
    newer = [
        (10, t0 + timedelta(hours=2), 1, "click", 111.0),
        (11, t0 + timedelta(hours=2), 2, "click", 222.0),
    ]
    older = [
        (1, t0 + timedelta(hours=0), 1, "click", 5.0),
        (2, t0 + timedelta(hours=1), 2, "click", 7.0),
        (3, t0 + timedelta(hours=0), 3, "click", 9.0),
    ]
    schema = "event_id long, ts timestamp, user_id long, event_type string, value double"
    d = tmp_path / "ooo"
    os.makedirs(d)
    # the file source orders micro-batches by modification time: write
    # the NEWER events first so the older ones arrive in batch 2
    spark.createDataFrame(newer, schema).toPandas().to_parquet(d / "events.parquet_a")
    time.sleep(1.1)
    spark.createDataFrame(older, schema).toPandas().to_parquet(d / "events.parquet_b")

    out = {
        r["user_id"]: r["last_value"]
        for r in streaming_merge_upsert(
            spark, str(d), max_files_per_trigger=1
        ).collect()
    }
    # users 1 and 2: the batch-2 (older) values must NOT win
    assert out == {1: 111.0, 2: 222.0, 3: 9.0}, out


def test_ols_cramer_matches_numpy_lstsq(spark, sf_dir):
    """The Cramer-rule betas must agree with numpy's least-squares on
    the same design matrix (4dp sum rounding perturbs betas well
    below this tolerance)."""
    import numpy as np

    from causality_between_elements_based_on_time_series_data_spark.plans import REGISTRY
    from causality_between_elements_based_on_time_series_data_spark.sources.catalog import (
        load_table,
    )

    got = REGISTRY["ols_price_on_qty_discount"].fn(spark, sf_dir).collect()[0]
    pdf = load_table(spark, sf_dir, "lineitem").select(
        "l_quantity", "l_discount", "l_extendedprice"
    ).toPandas()
    X = np.column_stack(
        [np.ones(len(pdf)), pdf.l_quantity.to_numpy(), pdf.l_discount.to_numpy()]
    )
    beta, *_ = np.linalg.lstsq(X, pdf.l_extendedprice.to_numpy(), rcond=None)
    assert got["n_rows"] == len(pdf)
    for i, col in enumerate(("beta0", "beta1", "beta2")):
        assert abs(got[col] - beta[i]) <= 1e-3 * max(1.0, abs(beta[i])), (col, got[col], beta[i])


def test_streaming_append_drops_late_data_past_watermark(spark, tmp_path):
    """Watermark semantics under real multi-batch delivery, at the
    actual guarantee boundary: a window's state is emitted+EVICTED at
    the end of the first batch whose in-effect watermark passes its
    end; a late row arriving AFTER eviction is dropped (no merge, no
    duplicate append emission).  Three one-file micro-batches:
    batch 0 seeds hour-0 and pushes max event time to 5:10 (watermark
    4:10 from batch 1 on); batch 1 triggers hour-0's emission and
    eviction; batch 2 delivers an hour-0 row that is now LATE past
    the watermark -> dropped, plus a 9:00 row that advances the final
    flush watermark."""
    import os
    import time

    from causality_between_elements_based_on_time_series_data_spark.streaming.events_stream import (
        streaming_append_finalized,
    )

    t0 = datetime(2024, 1, 1)
    schema = "event_id long, ts timestamp, user_id long, event_type string, value double"
    batches = [
        [
            (1, t0 + timedelta(minutes=10), 1, "click", 1.0),
            (2, t0 + timedelta(hours=5, minutes=10), 1, "click", 1.0),
        ],
        [(6, t0 + timedelta(hours=6), 1, "click", 1.0)],
        [
            # LATE: hour-0 was evicted at the end of batch 1 -> dropped
            (3, t0 + timedelta(minutes=20), 1, "click", 100.0),
            (5, t0 + timedelta(hours=9), 1, "click", 1.0),
        ],
    ]
    d = tmp_path / "late"
    os.makedirs(d)
    for i, b in enumerate(batches):
        spark.createDataFrame(b, schema).toPandas().to_parquet(
            d / f"events.parquet_{chr(97 + i)}"
        )
        time.sleep(1.1)

    rows = streaming_append_finalized(
        spark, str(d), max_files_per_trigger=1
    ).collect()
    got = sorted((r["window_start_us"], r["n"], r["total_value"]) for r in rows)
    us = lambda h: int((t0 + timedelta(hours=h)).timestamp() * 1_000_000)
    # hour-0 exactly ONCE as (1, 1.0): the late 100.0 neither merged
    # nor re-opened the window; hour-9 withheld (watermark 8:00 < end)
    assert got == [
        (us(0), 1, 1.0),
        (us(5), 1, 1.0),
        (us(6), 1, 1.0),
    ], got


def test_ivf_adaptive_cluster_count_bounds():
    """The KMeans IVF tier derives its cluster count from the corpus
    size (SCALE_r7 finding 1 applied to the production tier): average
    inverted list stays ~TARGET_BUCKET, floor keeps fixture-size
    behavior identical to the historical k=8."""
    from causality_between_elements_based_on_time_series_data_spark.operators.ivf import (
        TARGET_BUCKET,
        adaptive_n_clusters,
    )

    assert adaptive_n_clusters(200) == 8
    assert adaptive_n_clusters(2048) == 8
    for n in [2049, 60000, 10**6, 10**8]:
        k = adaptive_n_clusters(n)
        assert n / k <= TARGET_BUCKET
        assert k >= 8


def test_streaming_page_hinkley_multibatch_equals_batch(spark, sf_dir):
    """Stream/batch parity for the drift monitor under forced
    multi-batch processing: with maxFilesPerTrigger=1 the complete-
    mode day table is built incrementally across triggers, and the
    detector over the final state must still equal the batch query
    row-for-row."""
    from causality_between_elements_based_on_time_series_data_spark.plans.queries_panel import (
        page_hinkley_drift,
    )
    from causality_between_elements_based_on_time_series_data_spark.streaming.events_stream import (
        streaming_page_hinkley,
    )

    batch = page_hinkley_drift(spark, sf_dir).collect()[0]
    stream = streaming_page_hinkley(
        spark, sf_dir, max_files_per_trigger=1
    ).collect()[0]
    assert stream.asDict() == batch.asDict()


def test_domain_cap_respects_cap_and_is_partition_invariant(spark, sf_dir):
    """The per-domain cap keeps min(K, n_total) docs per source, and the
    kept SET (id checksum) is identical under a different input
    partitioning — the determinism contract that makes incremental
    corpus re-runs auditable."""
    from causality_between_elements_based_on_time_series_data_spark.plans import (
        REGISTRY,
    )

    rows = REGISTRY["domain_cap_sample"].fn(spark, sf_dir).collect()
    assert rows, "no sources"
    for r in rows:
        assert r.n_kept == min(10, r.n_total)
        assert r.kept_u_max is not None

    # replay on a deliberately different partitioning of the same docs
    from causality_between_elements_based_on_time_series_data_spark.operators.ranks import (
        with_global_rank,
        with_range_bucket,
    )
    from causality_between_elements_based_on_time_series_data_spark.sources.catalog import (
        load_table,
    )
    from pyspark.sql import functions as F

    docs = load_table(spark, sf_dir, "documents").repartition(7, "lang")
    u = (
        (F.col("doc_id").cast("bigint") * 2654435761) % 1000000007
    ).cast("double") / 1000000007
    t = with_range_bucket(
        docs.select("source", "doc_id", u.alias("u")), "u"
    )
    ranked = with_global_rank(
        t, [F.col("u"), F.col("doc_id")], partition_by=("source",), out="rn"
    )
    redo = {
        r["source"]: r["s"]
        for r in ranked.filter(F.col("rn") <= 10)
        .groupBy("source")
        .agg(F.sum("doc_id").alias("s"))
        .collect()
    }
    assert {r.source: r.kept_id_sum for r in rows} == redo


def test_shard_manifest_partitions_the_corpus(spark, sf_dir):
    """Shards tile the corpus exactly: doc counts, char totals and id
    checksums summed over shards equal the whole-table aggregates, and
    every shard id is in [0, 16)."""
    from causality_between_elements_based_on_time_series_data_spark.plans import (
        REGISTRY,
    )
    from causality_between_elements_based_on_time_series_data_spark.sources.catalog import (
        load_table,
    )
    from pyspark.sql import functions as F

    rows = REGISTRY["training_shard_manifest"].fn(spark, sf_dir).collect()
    assert all(0 <= r.shard < 16 for r in rows)
    docs = load_table(spark, sf_dir, "documents")
    tot = docs.agg(
        F.count("*").alias("n"),
        F.sum("n_chars").alias("c"),
        F.sum("doc_id").alias("s"),
    ).collect()[0]
    assert sum(r.n_docs for r in rows) == tot.n
    assert sum(r.tot_chars for r in rows) == tot.c
    assert sum(r.id_checksum for r in rows) == tot.s


def test_incremental_dedup_flags_are_true_near_dups(spark, sf_dir):
    """Precision of the incremental tier: every doc the ingest report
    counts as a near-dup really has word-set Jaccard >= 0.8 with some
    INDEX doc (brute-force replay on the small fixture), and the
    per-lang columns tile the batch (new = exact + near + kept)."""
    from causality_between_elements_based_on_time_series_data_spark.plans import (
        REGISTRY,
    )
    from causality_between_elements_based_on_time_series_data_spark.sources.catalog import (
        load_table,
    )

    report = REGISTRY["incremental_dedup_new_batch"].fn(spark, sf_dir).collect()
    assert report
    for r in report:
        assert r.n_new == r.n_exact_dup + r.n_near_dup + r.n_kept

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text").collect()
    thr = int(0.8 * (max(d.doc_id for d in docs) + 1))
    index = [(d.doc_id, set(d.text.split(" "))) for d in docs if d.doc_id < thr]
    batch = [(d.doc_id, set(d.text.split(" "))) for d in docs if d.doc_id >= thr]

    def near_partner(ws):
        return any(
            len(ws & iw) / len(ws | iw) >= 0.8 for _, iw in index
        )

    n_true_near = sum(1 for _, ws in batch if near_partner(ws))
    n_flagged = sum(r.n_near_dup + r.n_exact_dup for r in report)
    # LSH recall <= 1: flagged is a subset of the true dup mass
    assert n_flagged <= n_true_near
    assert sum(r.n_new for r in report) == len(batch)


def test_weighted_reservoir_sample_is_exact_aes_topk(spark, sf_dir):
    """The A-ES sample equals the brute-force top-64 of ln(u)/w computed
    driver-side, ranks are 1..64 with no gaps, and the selection is
    invariant under a different input partitioning (determinism
    contract — no RNG stream, no partition dependence)."""
    import math

    from causality_between_elements_based_on_time_series_data_spark.plans import (
        REGISTRY,
    )
    from causality_between_elements_based_on_time_series_data_spark.sources.catalog import (
        load_table,
    )

    rows = REGISTRY["weighted_reservoir_sample"].fn(spark, sf_dir).collect()
    assert [r.rnk for r in rows] == list(range(1, 65))

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "n_chars"
    ).collect()
    keyed = sorted(
        (
            (
                -(
                    math.log(
                        ((d.doc_id * 2654435761) % 1000000007 + 1)
                        / 1000000008
                    )
                    / max(d.n_chars, 1)
                ),
                d.doc_id,
            )
            for d in docs
        ),
    )[:64]
    assert [r.doc_id for r in rows] == [i for _, i in keyed]

    # different partitioning, same selected ids
    from pyspark.sql import functions as F

    from causality_between_elements_based_on_time_series_data_spark.operators.ranks import (
        topk_ranked,
    )

    d2 = load_table(spark, sf_dir, "documents").repartition(5, "source")
    u = (
        ((F.col("doc_id").cast("bigint") * 2654435761) % 1000000007).cast(
            "double"
        )
        + 1
    ) / 1000000008
    k = d2.select(
        "doc_id",
        (F.log(u) / F.greatest("n_chars", F.lit(1)).cast("double")).alias(
            "skey"
        ),
    )
    redo = topk_ranked(k, [("skey", "desc"), ("doc_id", "asc")], 64)
    assert sorted(r.doc_id for r in redo.collect()) == sorted(
        r.doc_id for r in rows
    )


def test_epoch_shuffle_audit_positions_balanced_and_decorrelated(
    spark, sf_dir
):
    """Every source's normalized mean position sits near 0.5 under both
    epoch permutations (no source clusters at an epoch's front), the
    cross-epoch displacement is near the independent-permutation
    expectation 1/3, and source doc counts tile the corpus."""
    from causality_between_elements_based_on_time_series_data_spark.plans import (
        REGISTRY,
    )
    from causality_between_elements_based_on_time_series_data_spark.sources.catalog import (
        load_table,
    )

    rows = REGISTRY["epoch_shuffle_audit"].fn(spark, sf_dir).collect()
    assert rows
    n_total = load_table(spark, sf_dir, "documents").count()
    assert sum(r.n_docs for r in rows) == n_total
    for r in rows:
        assert 0.40 <= r.mean_pos_e1 <= 0.60, r
        assert 0.40 <= r.mean_pos_e2 <= 0.60, r
        assert 0.22 <= r.mean_abs_disp <= 0.45, r


def test_perplexity_filter_terciles_tile_and_order(spark, sf_dir):
    """Per-lang terciles tile the language (sizes differ by <=1), and
    mean perplexity is strictly increasing across terciles — ppl is a
    monotone function of the integer micro-nat rank key, so the gate
    ordering cannot invert."""
    from collections import defaultdict

    from causality_between_elements_based_on_time_series_data_spark.plans import (
        REGISTRY,
    )
    from causality_between_elements_based_on_time_series_data_spark.sources.catalog import (
        load_table,
    )

    rows = REGISTRY["perplexity_quality_filter"].fn(spark, sf_dir).collect()
    by_lang = defaultdict(list)
    for r in rows:
        by_lang[r.lang].append(r)
    n_total = load_table(spark, sf_dir, "documents").count()
    assert sum(r.n_docs for r in rows) == n_total
    for lang, grp in by_lang.items():
        grp.sort(key=lambda r: r.tercile)
        assert [r.tercile for r in grp] == list(range(len(grp)))
        sizes = [r.n_docs for r in grp]
        assert max(sizes) - min(sizes) <= 1, (lang, sizes)
        ppls = [r.avg_ppl for r in grp]
        assert ppls == sorted(ppls), (lang, ppls)


def test_corpus_build_funnel_is_monotone_and_budgeted(spark, sf_dir):
    """The funnel only ever narrows: stage counts are non-increasing
    (every stage keeps a subset, so id checksums shrink too), stage 0
    equals the corpus, and the final A-ES selection respects its
    budget of 192."""
    from causality_between_elements_based_on_time_series_data_spark.plans import (
        REGISTRY,
    )
    from causality_between_elements_based_on_time_series_data_spark.sources.catalog import (
        load_table,
    )

    rows = REGISTRY["corpus_build_funnel"].fn(spark, sf_dir).collect()
    assert [r.stage_ord for r in rows] == list(range(7))
    assert rows[0].n_docs == load_table(spark, sf_dir, "documents").count()
    for prev, cur in zip(rows, rows[1:]):
        assert cur.n_docs <= prev.n_docs, (prev, cur)
        assert cur.id_checksum <= prev.id_checksum, (prev, cur)
    assert rows[6].n_docs == min(192, rows[5].n_docs)


def test_streaming_quality_gate_equals_batch(spark, sf_dir):
    """The streamed per-lang acceptance rollup equals the same gate
    computed as a plain batch aggregate — stream/batch parity for the
    stateless ingest gate."""
    from pyspark.sql import functions as F

    from causality_between_elements_based_on_time_series_data_spark.plans import (
        REGISTRY,
    )
    from causality_between_elements_based_on_time_series_data_spark.sources.catalog import (
        load_table,
    )

    from causality_between_elements_based_on_time_series_data_spark.functions.text import (
        corpus_quality_keep,
    )

    stream = REGISTRY["streaming_corpus_quality_gate"].fn(spark, sf_dir).collect()

    docs = load_table(spark, sf_dir, "documents")
    keep = corpus_quality_keep(F.col("text"))
    batch = (
        docs.select("lang", "doc_id", keep.alias("k"))
        .groupBy("lang")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum(F.col("k").cast("int")).cast("bigint").alias("n_kept"),
            F.sum(F.when(F.col("k"), F.col("doc_id")))
            .cast("bigint")
            .alias("kept_id_checksum"),
        )
        .orderBy("lang")
        .collect()
    )
    assert [r.asDict() for r in stream] == [r.asDict() for r in batch]
