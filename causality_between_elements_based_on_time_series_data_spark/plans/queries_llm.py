"""[EXT] LLM-data-pipeline operators (SURVEY.md §2.11) over the
``documents`` / ``embeddings`` fixtures: dedup tiers, similarity
search, text analysis, multimodal plumbing.

Hash-based ops (MinHash LSH, SimHash) use Spark's xxhash64 — engine-
specific values, so they take the rows-only check; everything else
carries a full DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..lineage import ckpt, ckpt_eager

from ..functions.text import stopword_hits, token_count
from ..operators.dedup import (
    _shingles,
    dedup_exact,
    jaccard,
    lsh_candidate_pairs,
    minhash_signatures,
    set_overlap,
    simhash64,
    word_set,
)
from ..operators.multimodal import (
    RAW_RGB_MIME,
    decode_raw_rgb,
    to_media_table,
    to_raw_rgb_media,
)
from ..operators.similarity import brute_force_cosine_topk, lsh_cosine_topk
from ..sources.catalog import load_table, local_frame
from .registry import register


# Fixed (a, b) pairs for the portable MinHash family h_i(c) = (a_i*c + b_i) mod P.
# 16 hashes → 4 bands × 4 rows: per-band collision probability is Jaccard⁴,
# selective enough that band buckets hold only genuine near-dup mass (2-row
# bands collide at Jaccard² — measured 8.8% of all pairs on the fixture from
# ordinary shared vocabulary alone; 4-row bands cut that to the planted dups).
_MH_P = 1000003
_MH_COEFFS = [
    (131, 7), (137, 11), (139, 13), (149, 17),
    (151, 19), (157, 23), (163, 29), (167, 31),
    (173, 37), (179, 41), (181, 43), (191, 47),
    (193, 53), (197, 59), (199, 61), (211, 67),
]

# Portable shingle code: the first 48 bits of md5, hex-decoded to BIGINT.
# md5 is bit-identical in Spark (``F.md5``) and DuckDB (``md5``), and both
# engines decode a '0x…' hex string to an integer (Spark via ``conv(_, 16,
# 10)``, DuckDB via ``CAST('0x' || … AS BIGINT)``), so the code is uniform
# AND reproducible across engines.  An earlier revision derived the code
# from ``ascii(tok)`` — Spark's ascii() reads only the FIRST character, so
# the token universe collapsed to ~(first-char × length) distinct values,
# the MinHash minima degenerated, and banding emitted 84% of all pairs.
# Hashing single words is not enough either: word-level Jaccard between
# unrelated same-domain documents is high (measured: 2-row bands over
# perfect unigram hashes still emit 8.8%, 4-row bands 49%), which is why
# this tier shingles 3-word n-grams exactly like the xxhash64 production
# tier (operators/dedup.py:_shingles) before hashing.
def _tok_code_spark(col: str = "tok") -> Column:
    return F.conv(F.substring(F.md5(col), 1, 12), 16, 10).cast("bigint") % _MH_P


def _tok_code_sql(col: str = "tok") -> str:
    return f"(CAST('0x' || substr(md5({col}), 1, 12) AS BIGINT) % {_MH_P})"


# DuckDB twin of operators/dedup.py:_shingles — distinct 3-word
# shingles.  ``src`` parametrizes the document relation so the same CTE
# serves the whole-corpus oracles AND the dedup pipeline's
# survivors-only tier (llm_dedup_pipeline runs LSH after exact dedup).
def _shingle_sql(src: str = "documents") -> str:
    return f"""
    SELECT DISTINCT doc_id,
           unnest(list_transform(
               range(1, greatest(len(toks) - 1, 2)),
               i -> concat_ws(' ', toks[i], toks[i + 1], toks[i + 2])
           )) AS tok
    FROM (SELECT doc_id, string_split_regex(trim(text), ' +') AS toks
          FROM {src})
"""


def _minhash_oracle() -> str:
    code = _tok_code_sql()
    shingles = _shingle_sql()
    sigs = ",\n           ".join(
        f"CAST(min(({a} * ({code}) + {b}) % {_MH_P}) AS BIGINT) AS s{i}"
        for i, (a, b) in enumerate(_MH_COEFFS)
    )
    return f"""
    WITH tok AS (
        {shingles}
    )
    SELECT doc_id,
           {sigs}
    FROM tok
    GROUP BY doc_id
    ORDER BY doc_id
    """



_MH_MAX_BUCKET = 300


def _band_core_sql(src: str = "documents") -> str:
    """CTE bodies ``__sh``/``sig``/``bands``/``ok``/``pruned`` computing
    the hot-bucket-guarded LSH band buckets over ``src`` — shared by
    the band-pair oracle, the full-corpus Jaccard oracle, and the
    dedup-pipeline oracle (candidate generation must be bit-identical
    in all three)."""
    code = _tok_code_sql()
    shingles = _shingle_sql(src)
    sigs = ",\n               ".join(
        f"min(({a} * ({code}) + {b}) % {_MH_P}) AS s{i}"
        for i, (a, b) in enumerate(_MH_COEFFS)
    )
    bands = ", ".join(
        f"(((s{4*i} * {_MH_P} + s{4*i+1}) % 1000000007) * 2000000011"
        f" + ((s{4*i+2} * {_MH_P} + s{4*i+3}) % 1000000007))"
        for i in range(4)
    )
    return f"""
    __sh AS (
        {shingles}
    ),
    sig AS (
        SELECT doc_id,
               {sigs}
        FROM __sh GROUP BY doc_id
    ),
    bands AS (
        SELECT doc_id,
               generate_subscripts([{bands}], 1) AS band_id,
               unnest([{bands}]) AS band_val
        FROM sig
    ),
    ok AS (
        SELECT band_id, band_val FROM bands
        GROUP BY band_id, band_val
        HAVING count(*) <= {_MH_MAX_BUCKET}
    ),
    pruned AS (
        SELECT b.doc_id, b.band_id, b.band_val
        FROM bands b JOIN ok USING (band_id, band_val)
    )"""


def _band_pairs_oracle() -> str:
    return f"""
    WITH {_band_core_sql()}
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           count(*) AS n_shared_bands
    FROM pruned a JOIN pruned b
      ON a.band_id = b.band_id AND a.band_val = b.band_val
     AND a.doc_id < b.doc_id
    GROUP BY 1, 2
    ORDER BY doc_a, doc_b
    """



@register(
    "dedup_exact_docs",
    oracle="""
    SELECT min(doc_id) AS keep_doc_id, count(*) AS n_copies
    FROM documents
    GROUP BY text
    """,
    doc="Exact dedup: survivor = min doc_id per content group. Spark "
    "side groups by sha2(text,256) so only 32-byte keys shuffle — the "
    "100 TB-safe form; oracle groups by raw text (same partition of "
    "rows absent a SHA-256 collision).",
    tags=("llm", "dedup", "bench"),
)
def dedup_exact_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup_exact(load_table(spark, sf_dir, "documents"))


@register(
    "ngram_jaccard_pairs",
    oracle="""
    WITH tok0 AS (
        SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS w
        FROM documents
    ),
    dfreq AS (SELECT w, count(*) AS df FROM tok0 GROUP BY 1),
    nd AS (SELECT count(*) AS n_docs FROM documents),
    tok AS (
        SELECT t.doc_id, t.w
        FROM tok0 t JOIN dfreq USING (w) CROSS JOIN nd
        WHERE df <= 0.8 * n_docs
    ),
    sizes AS (SELECT doc_id, count(*) AS sz FROM tok GROUP BY doc_id),
    q AS (SELECT * FROM tok WHERE doc_id % 100 = 0),
    inter AS (
        SELECT q.doc_id AS id_a, t.doc_id AS id_b, count(*) AS n_common
        FROM q JOIN tok t ON q.w = t.w AND t.doc_id > q.doc_id
        GROUP BY 1, 2
    )
    SELECT id_a, id_b,
           round(CAST(n_common AS DOUBLE)
                 / (sa.sz + sb.sz - n_common), 6) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = id_a
    JOIN sizes sb ON sb.doc_id = id_b
    WHERE CAST(n_common AS DOUBLE) / (sa.sz + sb.sz - n_common) >= 0.2
    """,
    doc="Token-set Jaccard near-dup via the inverted-index join "
    "(explode tokens → equi-join on token → count intersections): "
    "never materializes O(n²) pairs, only pairs sharing ≥1 token. The "
    "max_df cut (drop tokens in > 80% of documents) removes the hot "
    "stopword tokens whose posting lists would otherwise degenerate "
    "the inverted-index join toward all-pairs at 100 TB — applied "
    "identically on the oracle side, so Jaccard is over the filtered "
    "token space on both engines. NOTE: the registered form is the "
    "oracle-checkable 1%-anchor BASELINE (query side restricted to "
    "doc_id %% 100 == 0); full-corpus pair discovery is "
    "``anchors=None`` (LSH-candidate route), and the production dedup "
    "path is ``llm_dedup_pipeline``.",
    tags=("llm", "dedup", "similarity"),
)
def ngram_jaccard_pairs(
    spark: SparkSession,
    sf_dir: str,
    max_df_frac: float = 0.8,
    anchors: int | None = 100,
) -> DataFrame:
    """``anchors=N`` restricts the query side to ``doc_id % N == 0``
    (the oracle-checkable baseline); ``anchors=None`` discovers pairs
    over the WHOLE corpus by routing through MinHash-LSH candidates
    first (sub-quadratic — the 100 TB form), then exact-Jaccard
    verifying only those.  For end-to-end dedup use
    ``llm_dedup_pipeline``."""
    docs = load_table(spark, sf_dir, "documents")
    # the token posting list feeds the df cut, per-doc sizes, and both
    # sides of the intersection join: cut the lineage so the explode
    # runs once, not once per consumer
    tok0 = word_set(docs).transform(ckpt)
    # hot-token document-frequency cut: tok0 rows are distinct per doc,
    # so count(*) per token IS its document frequency
    dfreq = tok0.groupBy("w").agg(F.count("*").alias("df"))
    nd = docs.agg(F.count("*").alias("n_docs"))
    keep = (
        dfreq.crossJoin(F.broadcast(nd))
        .filter(F.col("df") <= max_df_frac * F.col("n_docs"))
        .select("w")
    )
    tok = tok0.join(keep, "w").transform(ckpt)
    sizes = tok.groupBy("doc_id").agg(F.count("*").alias("sz"))
    if anchors is None:
        # full-corpus mode: LSH candidates bound the pair space, then
        # the inverted index verifies exact Jaccard on candidates only.
        # Candidates come from the PORTABLE MinHash band tier (md5-
        # derived shingle codes, reproducible in any engine) so the
        # whole production route is oracle-checkable end-to-end; the
        # xxhash64 tier (minhash_lsh_candidates) remains the drop-in
        # swap when raw hash throughput matters more than parity.
        cands = band_candidates(portable_signatures(docs))
        inter = (
            cands.join(tok.alias("ta"), F.col("ta.doc_id") == F.col("id_a"))
            .join(
                tok.alias("tb"),
                (F.col("tb.doc_id") == F.col("id_b")) & (F.col("ta.w") == F.col("tb.w")),
            )
            .groupBy("id_a", "id_b")
            .agg(F.count("*").alias("n_common"))
        )
    else:
        q = tok.filter(F.col("doc_id") % anchors == 0)
        t = tok.alias("t")
        inter = (
            q.alias("q")
            .join(t, (F.col("q.w") == F.col("t.w")) & (F.col("t.doc_id") > F.col("q.doc_id")))
            .groupBy(F.col("q.doc_id").alias("id_a"), F.col("t.doc_id").alias("id_b"))
            .agg(F.count("*").alias("n_common"))
        )
    jac = F.col("n_common").cast("double") / (F.col("sa.sz") + F.col("sb.sz") - F.col("n_common"))
    # per-doc sizes are corpus-proportional — no broadcast hint; AQE
    # picks BHJ while the table fits and a shuffle join beyond
    return (
        inter.join(sizes.alias("sa"), F.col("sa.doc_id") == F.col("id_a"))
        .join(sizes.alias("sb"), F.col("sb.doc_id") == F.col("id_b"))
        .select("id_a", "id_b", F.round(jac, 6).alias("jaccard"))
        .filter(jac >= 0.2)
    )


def _jaccard_full_oracle() -> str:
    return f"""
    WITH {_band_core_sql()},
    cand AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b
        FROM pruned a JOIN pruned b
          ON a.band_id = b.band_id AND a.band_val = b.band_val
         AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    tok0 AS (
        SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS w
        FROM documents
    ),
    dfreq AS (SELECT w, count(*) AS df FROM tok0 GROUP BY 1),
    nd AS (SELECT count(*) AS n_docs FROM documents),
    tok AS (
        SELECT t.doc_id, t.w
        FROM tok0 t JOIN dfreq USING (w) CROSS JOIN nd
        WHERE df <= 0.8 * n_docs
    ),
    sizes AS (SELECT doc_id, count(*) AS sz FROM tok GROUP BY doc_id),
    inter AS (
        SELECT c.id_a, c.id_b, count(*) AS n_common
        FROM cand c
        JOIN tok ta ON ta.doc_id = c.id_a
        JOIN tok tb ON tb.doc_id = c.id_b AND ta.w = tb.w
        GROUP BY 1, 2
    )
    SELECT id_a, id_b,
           round(CAST(n_common AS DOUBLE)
                 / (sa.sz + sb.sz - n_common), 6) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = id_a
    JOIN sizes sb ON sb.doc_id = id_b
    WHERE CAST(n_common AS DOUBLE) / (sa.sz + sb.sz - n_common) >= 0.2
    """


@register(
    "ngram_jaccard_pairs_full",
    oracle=_jaccard_full_oracle(),
    doc="FULL-CORPUS near-dup pair discovery — the production route "
    "ngram_jaccard_pairs only demonstrates on 1%% anchors: portable "
    "MinHash-LSH band candidates bound the pair space sub-"
    "quadratically, then the inverted-index join verifies exact "
    "Jaccard on candidates only. Fully oracle-checked end-to-end "
    "(candidate generation replayed in the oracle via the shared "
    "band CTE — bit-identical md5-derived hashes on both engines). "
    "At 100 TB the cost is candidate-mass-proportional (hot-bucket "
    "guarded), never corpus².",
    tags=("llm", "dedup", "similarity"),
)
def ngram_jaccard_pairs_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ngram_jaccard_pairs(spark, sf_dir, anchors=None)


@register(
    "dedup_jaccard_clusters",
    oracle="""
    WITH RECURSIVE tok0 AS (
        SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS w
        FROM documents
    ),
    dfreq AS (SELECT w, count(*) AS df FROM tok0 GROUP BY 1),
    nd AS (SELECT count(*) AS n_docs FROM documents),
    tok AS (
        SELECT t.doc_id, t.w
        FROM tok0 t JOIN dfreq USING (w) CROSS JOIN nd
        WHERE df <= 0.8 * n_docs
    ),
    sizes AS (SELECT doc_id, count(*) AS sz FROM tok GROUP BY doc_id),
    q AS (SELECT * FROM tok WHERE doc_id % 100 = 0),
    inter AS (
        SELECT q.doc_id AS id_a, t.doc_id AS id_b, count(*) AS n_common
        FROM q JOIN tok t ON q.w = t.w AND t.doc_id > q.doc_id
        GROUP BY 1, 2
    ),
    prs AS (
        SELECT id_a, id_b
        FROM inter
        JOIN sizes sa ON sa.doc_id = id_a
        JOIN sizes sb ON sb.doc_id = id_b
        WHERE CAST(n_common AS DOUBLE) / (sa.sz + sb.sz - n_common) >= 0.2
    ),
    edges AS (
        SELECT id_a AS u, id_b AS v FROM prs
        UNION SELECT id_b, id_a FROM prs
    ),
    reach(u, v) AS (
        SELECT u, v FROM edges
        UNION
        SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
    ),
    comp AS (SELECT u AS doc_id, least(u, min(v)) AS cluster_id FROM reach GROUP BY u)
    SELECT d.doc_id,
           coalesce(c.cluster_id, d.doc_id) AS cluster_id,
           CAST(coalesce(c.cluster_id, d.doc_id) = d.doc_id AS INTEGER) AS is_canonical
    FROM documents d LEFT JOIN comp c USING (doc_id)
    """,
    doc="Dedup GROUPS, not just pairs: connected components of the "
    "Jaccard near-dup graph (min-label propagation, operators/"
    "graph.py), canonical survivor = min doc_id per component; "
    "singletons are their own cluster. The oracle replays the pair "
    "generation and closes it with a recursive transitive-closure "
    "CTE — full value parity on an iterative graph algorithm. NOTE: "
    "built on the 1%%-anchor pair BASELINE so the CTE oracle stays "
    "tractable; the production full-corpus path is "
    "``llm_dedup_pipeline``.",
    tags=("llm", "dedup", "graph"),
)
def dedup_jaccard_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.graph import connected_components

    pairs = ngram_jaccard_pairs(spark, sf_dir).select("id_a", "id_b")
    cc = connected_components(pairs)
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    cid = F.coalesce(F.col("cluster_id"), F.col("doc_id"))
    return docs.join(cc, docs.doc_id == cc.node, "left").select(
        "doc_id",
        cid.alias("cluster_id"),
        (cid == F.col("doc_id")).cast("int").alias("is_canonical"),
    )


@register(
    "minhash_lsh_candidates",
    oracle=None,  # xxhash64 minhashes are engine-specific — rows-only;
    # MATCH twin: minhash_portable_band_pairs (same banding, affine
    # hashes); planted-dup recall pinned in tests/test_operators.py
    doc="MinHash(16) + LSH banding (4×4) candidate pairs "
    "(shingle → minhash → band → bucket equi-join). Sub-quadratic "
    "near-dup discovery; verify stage = ngram_jaccard on candidates.",
    tags=("llm", "dedup", "lsh"),
)
def minhash_lsh_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return lsh_candidate_pairs(minhash_signatures(docs))


def _dedup_pipeline_ctes() -> str:
    """The shared CTE chain exact-dedup → band candidates → Jaccard
    verify → transitive closure (through ``reach``), used by the
    ``llm_dedup_pipeline`` oracle and the cluster-representative
    oracle — candidate generation and clustering must be bit-identical
    in both."""
    return f"""
    WITH RECURSIVE surv AS (
        SELECT min(doc_id) AS doc_id FROM documents GROUP BY text
    ),
    sdocs AS (
        SELECT d.doc_id, d.text, d.lang, d.source, d.n_chars
        FROM documents d JOIN surv USING (doc_id)
    ),
    {_band_core_sql("sdocs")},
    cand AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b
        FROM pruned a JOIN pruned b
          ON a.band_id = b.band_id AND a.band_val = b.band_val
         AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    tok AS (
        SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS w
        FROM sdocs
    ),
    sizes AS (SELECT doc_id, count(*) AS sz FROM tok GROUP BY doc_id),
    inter AS (
        SELECT c.id_a, c.id_b, count(*) AS n_common
        FROM cand c
        JOIN tok ta ON ta.doc_id = c.id_a
        JOIN tok tb ON tb.doc_id = c.id_b AND ta.w = tb.w
        GROUP BY 1, 2
    ),
    prs AS (
        SELECT id_a, id_b
        FROM inter
        JOIN sizes sa ON sa.doc_id = id_a
        JOIN sizes sb ON sb.doc_id = id_b
        WHERE CAST(n_common AS DOUBLE) / (sa.sz + sb.sz - n_common) >= 0.8
    ),
    edges AS (
        SELECT id_a AS u, id_b AS v FROM prs
        UNION SELECT id_b, id_a FROM prs
    ),
    reach(u, v) AS (
        SELECT u, v FROM edges
        UNION
        SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
    )"""


def _dedup_pipeline_oracle() -> str:
    # Tier 1 (exact dedup, min-id survivor per text) feeds the band
    # CTEs via the ``sdocs`` relation; tier 3 verifies token-set
    # Jaccard ≥ 0.8 on candidates; tier 4 closes components with a
    # recursive CTE (same pattern as dedup_jaccard_clusters).
    return (
        _dedup_pipeline_ctes()
        + """,
    dropped AS (
        SELECT u AS doc_id FROM reach GROUP BY u
        HAVING least(u, min(v)) <> u
    )
    SELECT s.doc_id, s.lang, s.source, s.n_chars
    FROM sdocs s
    WHERE s.doc_id NOT IN (SELECT doc_id FROM dropped)
    """
    )


@register(
    "llm_dedup_pipeline",
    oracle=_dedup_pipeline_oracle(),
    doc="The full dedup pipeline a training-data run needs, composed "
    "end-to-end: (1) exact dedup on sha2 content hash → (2) portable "
    "MinHash-LSH band candidate pairs on the survivors → (3) exact "
    "Jaccard verification (≥ 0.8) on candidates only → (4) connected "
    "components → drop non-canonical members. Emits the surviving "
    "documents. Every stage is the bounded-shuffle form: 32-byte "
    "hash keys, banded buckets, candidate-only verification, label "
    "propagation — and every stage is replayed by the DuckDB oracle "
    "(exact-dedup GROUP BY, shared band CTE, recursive-CTE closure), "
    "so the driver hash-checks the production dedup path end-to-end.",
    tags=("llm", "dedup", "pipeline"),
)
def llm_dedup_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup_pipeline_survivors(load_table(spark, sf_dir, "documents"))


def dedup_pipeline_survivors(
    docs: DataFrame, jaccard_threshold: float = 0.8
) -> DataFrame:
    """Exact-dedup → LSH-candidate → Jaccard-verify → component-drop;
    returns (doc_id, text-less survivor rows)."""
    from ..operators.graph import connected_components

    # tier 1: exact content dedup
    keep = dedup_exact(docs).select(F.col("keep_doc_id").alias("doc_id"))
    s1 = docs.join(keep, "doc_id", "semi")

    # tier 2: sub-quadratic near-dup candidates — portable band tier
    # (oracle-reproducible md5 hashes; xxhash64 tier is the drop-in
    # swap for raw hash throughput)
    cands = band_candidates(portable_signatures(s1))

    # tier 3: exact token-Jaccard verification on candidates only
    verified = (
        set_overlap(cands, word_set(s1))
        .filter(jaccard() >= jaccard_threshold)
        .select("id_a", "id_b")
    )

    # tier 4: clusters → keep only the canonical member of each
    cc = connected_components(verified)
    drop = cc.filter(F.col("node") != F.col("cluster_id")).select(F.col("node").alias("doc_id"))
    return s1.join(drop, "doc_id", "anti").select("doc_id", "lang", "source", "n_chars")


@register(
    "simhash_fingerprints",
    oracle=None,  # xxhash64-based — rows-only; MATCH twin:
    # simhash_portable_fingerprints (same sign-of-vote algorithm over
    # oracle-reproducible hashes); bit-agreement pytest in
    # tests/test_operators.py
    doc="64-bit SimHash per document (sign-of-vote over token hash "
    "bits) — map-side only, no shuffle.",
    tags=("llm", "dedup"),
)
def simhash_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    return simhash64(load_table(spark, sf_dir, "documents"))


@register(
    "doc_fingerprint_md5",
    oracle="""
    SELECT doc_id, md5(text) AS fingerprint FROM documents
    """,
    doc="Document content fingerprint (md5 — identical bytes on both "
    "engines, unlike xxhash). Map-side only.",
    tags=("llm", "text"),
)
def doc_fingerprint_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "documents").select("doc_id", F.md5("text").alias("fingerprint"))


@register(
    "cosine_topk_bruteforce",
    oracle="""
    WITH q AS (
        SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qvec
        FROM embeddings WHERE vec_id % 100 = 0
    ),
    pairs AS (
        SELECT qid, vec_id AS nid,
               list_cosine_similarity(qvec, CAST(embedding AS DOUBLE[])) AS sim
        FROM q, embeddings
        WHERE vec_id <> qid
    ),
    ranked AS (
        SELECT qid, nid, sim,
               row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rn
        FROM pairs
    )
    SELECT qid, nid, round(sim, 6) AS sim, CAST(rn AS BIGINT) AS rn
    FROM ranked WHERE rn <= 3
    """,
    doc="Exact ANN baseline: broadcast query subset × corpus, cosine "
    "via zip_with/aggregate (JVM codegen), ranking-window top-3. "
    "Corpus never moves — only the small query side broadcasts.",
    tags=("llm", "similarity", "bench"),
)
def cosine_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 100 == 0)
    return brute_force_cosine_topk(emb, queries, k=3).select(
        "qid", "nid", F.round("sim", 6).alias("sim"), F.col("rn").cast("bigint").alias("rn")
    )


@register(
    "cosine_topk_lsh",
    oracle=None,  # LSH candidate set is probabilistic — rows-only;
    # MATCH twin: ann_rp_ivf_portable_topk (banded RP route, fully
    # oracled); recall vs cosine_topk_bruteforce pinned in
    # tests/test_operators.py
    doc="Scale-path ANN: BucketedRandomProjectionLSH candidates + "
    "exact cosine re-rank. Recall vs brute force asserted in tests.",
    tags=("llm", "similarity", "lsh"),
)
def cosine_topk_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 100 == 0)
    return lsh_cosine_topk(emb, queries, k=3)


@register(
    "dedup_embedding_cosine",
    oracle="""
    WITH q AS (
        SELECT vec_id AS id_a, CAST(embedding AS DOUBLE[]) AS va
        FROM embeddings WHERE vec_id % 50 = 0 AND vec_id < 5000
    )
    SELECT id_a, vec_id AS id_b,
           round(list_cosine_similarity(va, CAST(embedding AS DOUBLE[])), 6) AS sim
    FROM q, embeddings
    WHERE vec_id > id_a
      AND list_cosine_similarity(va, CAST(embedding AS DOUBLE[])) >= 0.3
    """,
    doc="Embedding-cosine near-dup EXACTNESS BASELINE: threshold pairs "
    "over a hard-capped anchor set (≤100 anchors regardless of corpus "
    "size, so the broadcast is bounded and work is O(n·C), linear in "
    "the corpus). The corpus-wide scale path is "
    "dedup_embedding_cosine_lsh — this query exists to oracle-check "
    "the cosine/threshold math.",
    tags=("llm", "dedup", "similarity"),
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.arrays import dot_product, l2_norm

    emb = load_table(spark, sf_dir, "embeddings")
    # hard cap: modulus sample AND id < 5000 → ≤100 anchors at any SF
    anchors = (
        emb.filter((F.col("vec_id") % 50 == 0) & (F.col("vec_id") < 5000))
        .select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("va"))
        .withColumn("na", l2_norm(F.col("va")))
    )
    others = emb.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("vb")).withColumn(
        "nb", l2_norm(F.col("vb"))
    )
    # norms precomputed per side — one array traversal per pair
    sim = dot_product(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))
    return (
        others.join(F.broadcast(anchors), F.col("id_b") > F.col("id_a"))
        .select("id_a", "id_b", sim.alias("raw_sim"))
        .filter(F.col("raw_sim") >= 0.3)
        .select("id_a", "id_b", F.round("raw_sim", 6).alias("sim"))
    )


@register(
    "dedup_embedding_cosine_lsh",
    oracle=None,  # LSH bucket collisions are probabilistic — rows-only;
    # MATCH twin: dedup_embedding_cosine (hard-capped exact anchor);
    # precision/recall vs exact pinned in tests/test_operators.py
    doc="Corpus-wide embedding near-dup at scale: LSH self-join "
    "candidates (approxSimilarityJoin), exact cosine ≥ 0.3 on "
    "candidates only. Nothing broadcasts, no all-pairs stage — the "
    "100 TB path; dedup_embedding_cosine is its capped oracle "
    "baseline.",
    tags=("llm", "dedup", "similarity", "lsh"),
)
def dedup_embedding_cosine_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import embedding_near_dup_lsh

    emb = load_table(spark, sf_dir, "embeddings")
    return embedding_near_dup_lsh(emb, threshold=0.3).select(
        "id_a", "id_b", F.round("sim", 6).alias("sim")
    )


@register(
    "text_quality_scores",
    oracle="""
    WITH t AS (
        SELECT doc_id,
               length(trim(text))
                 - length(replace(trim(text), ' ', '')) + 1 AS n_tokens,
               length(text) AS n_chars_m,
               length(concat(' ', text, ' '))
                 - length(replace(concat(' ', text, ' '), ' the ', '')) AS the_delta
        FROM documents
    )
    SELECT doc_id,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(n_chars_m AS BIGINT) AS n_chars_measured,
           round(CAST(n_chars_m - n_tokens + 1 AS DOUBLE) / n_tokens, 6) AS avg_token_len,
           CAST(floor(the_delta / 5.0) AS BIGINT) AS the_hits,
           CAST(floor(CAST(n_chars_m - n_tokens + 1 AS DOUBLE) / 4 + 0.5) AS BIGINT) AS bpe_token_estimate
    FROM t
    """,
    doc="Per-document quality/token statistics: whitespace token "
    "count, avg token length, stopword hits, BPE-ish token estimate "
    "(~4 chars/token) — all dialect-portable string arithmetic, pure "
    "map-side.",
    tags=("llm", "text"),
)
def text_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    nt = token_count(F.col("text"))
    nc = F.length("text")
    alpha_chars = (nc - nt + 1).cast("double")
    return docs.select(
        "doc_id",
        nt.cast("bigint").alias("n_tokens"),
        nc.cast("bigint").alias("n_chars_measured"),
        F.round(alpha_chars / nt, 6).alias("avg_token_len"),
        stopword_hits(F.col("text"), ["the"]).cast("bigint").alias("the_hits"),
        F.floor(alpha_chars / 4 + 0.5).cast("bigint").alias("bpe_token_estimate"),
    )


@register(
    "lang_stats_heuristic",
    oracle="""
    WITH t AS (
        SELECT lang,
               length(trim(text))
                 - length(replace(trim(text), ' ', '')) + 1 AS n_tokens,
               CASE WHEN length(concat(' ', text, ' '))
                         - length(replace(concat(' ', text, ' '), ' the ', '')) > 0
                    THEN 1 ELSE 0 END AS pred_en
        FROM documents
    )
    SELECT lang,
           count(*) AS n_docs,
           round(avg(CAST(pred_en AS DOUBLE)), 6) AS pred_en_rate,
           round(avg(CAST(n_tokens AS DOUBLE)), 4) AS avg_tokens
    FROM t
    GROUP BY lang
    """,
    doc="Language-ID n-gram/stopword heuristic evaluated against the "
    "lang column: English-marker hit-rate and size stats per language.",
    tags=("llm", "text"),
)
def lang_stats_heuristic(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    pred_en = (stopword_hits(F.col("text"), ["the"]) > 0).cast("int")
    return (
        docs.select("lang", token_count(F.col("text")).alias("n_tokens"), pred_en.alias("pred_en"))
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.round(F.avg(F.col("pred_en").cast("double")), 6).alias("pred_en_rate"),
            F.round(F.avg(F.col("n_tokens").cast("double")), 4).alias("avg_tokens"),
        )
    )


@register(
    "posexplode_tokens",
    oracle="""
    SELECT doc_id,
           CAST(generate_subscripts(string_split(text, ' '), 1) AS INTEGER) AS pos,
           unnest(string_split(text, ' ')) AS token
    FROM documents
    WHERE doc_id % 50 = 0
    """,
    doc="Positional explode (UDTF-style lateral view, SURVEY §2.10): "
    "token with 1-based position per document.",
    tags=("llm", "text"),
)
def posexplode_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") % 50 == 0)
    return docs.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos0", "token")
    ).select("doc_id", (F.col("pos0") + 1).cast("int").alias("pos"), "token")


@register(
    "chunk_documents_sliding",
    oracle="""
    WITH t AS (
        SELECT doc_id, string_split(text, ' ') AS toks FROM documents
    ),
    n AS (SELECT doc_id, toks, len(toks) AS n FROM t),
    c AS (
        SELECT doc_id, toks, n,
               unnest(range(0, CAST(greatest(ceil((n - 5) / 15.0), 1) AS BIGINT))) AS chunk_id
        FROM n
    )
    SELECT doc_id,
           CAST(chunk_id AS BIGINT) AS chunk_id,
           array_to_string(list_slice(toks, chunk_id * 15 + 1, chunk_id * 15 + 20), ' ') AS chunk_text,
           CAST(least(20, n - chunk_id * 15) AS BIGINT) AS n_tokens
    FROM c
    """,
    doc="Sliding-window document chunking (20-token chunks, 5-token "
    "overlap) — the context-window prep stage of an LLM training "
    "pipeline. Pure higher-order array expressions (sequence → "
    "transform → slice → explode), whole-stage codegen, zero shuffle: "
    "chunking 100 TB is embarrassingly map-side.",
    tags=("llm", "text", "chunk"),
)
def chunk_documents_sliding(spark: SparkSession, sf_dir: str, chunk: int = 20, overlap: int = 5) -> DataFrame:
    return chunk_docs_df(load_table(spark, sf_dir, "documents"), chunk=chunk, overlap=overlap)


def chunk_docs_df(docs: DataFrame, chunk: int = 20, overlap: int = 5) -> DataFrame:
    """DataFrame-in form of the sliding-window chunker, so pipelines
    chunk only the rows they keep (e.g. dedup survivors) instead of
    chunking everything and discarding."""
    stride = chunk - overlap
    toks = F.split(F.col("text"), " ")
    n = F.size(toks)
    n_chunks = F.greatest(F.ceil((n - overlap) / F.lit(float(stride))), F.lit(1)).cast("int")
    chunk_ids = F.sequence(F.lit(0), n_chunks - 1)
    return (
        docs.select("doc_id", toks.alias("toks"), n.alias("n"), F.explode(chunk_ids).alias("cid"))
        .select(
            "doc_id",
            F.col("cid").cast("bigint").alias("chunk_id"),
            F.concat_ws(" ", F.slice("toks", F.col("cid") * stride + 1, chunk)).alias("chunk_text"),
            F.least(F.lit(chunk), F.col("n") - F.col("cid") * stride).cast("bigint").alias("n_tokens"),
        )
    )


@register(
    "approx_top_terms",
    oracle="""
    WITH tok AS (
        SELECT unnest(string_split(text, ' ')) AS term FROM documents
    ),
    cnt AS (SELECT term, count(*) AS cnt FROM tok GROUP BY 1),
    r AS (
        SELECT term, cnt, row_number() OVER (ORDER BY cnt DESC, term) AS rn
        FROM cnt
    )
    SELECT term, CAST(cnt AS BIGINT) AS cnt, CAST(rn AS BIGINT) AS rn
    FROM r WHERE rn <= 5
    """,
    doc="Heavy-hitters via the approx_top_k sketch (SURVEY §2.4 "
    "sketch family, alongside HLL approx-distinct): single partial-"
    "aggregable sketch pass, no full groupBy materialization. The "
    "sketch is in its EXACT regime here (tracked items ≫ vocabulary) "
    "so a full count oracle applies; past sketch capacity the counts "
    "turn approximate and the check would move to rows-only with a "
    "tolerance test, like sketch_approx_distinct.",
    tags=("llm", "text", "sketch"),
)
def approx_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(F.explode(F.split("text", " ")).alias("term"))
    # k=50 > vocabulary: sketch holds every term -> exact counts;
    # deterministic (count desc, term) re-rank on top
    ex = tok.agg(F.expr("approx_top_k(term, 50)").alias("tk")).select(
        F.explode("tk").alias("e")
    )
    w = W.orderBy(F.desc("cnt"), F.asc("term"))
    return (
        ex.select(F.col("e.item").alias("term"), F.col("e.count").alias("cnt"))
        .withColumn("rn", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rn") <= 5)
    )


@register(
    "tfidf_top_terms",
    oracle="""
    WITH tok AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
    ),
    tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
    dfq AS (SELECT term, count(DISTINCT doc_id) AS df FROM tok GROUP BY 1),
    n AS (SELECT count(*) AS n_docs FROM documents),
    scored AS (
        SELECT doc_id, term,
               round(tf * (ln((n.n_docs + 1.0) / (df + 1.0)) + 1.0), 6) AS tfidf
        FROM tf JOIN dfq USING (term) CROSS JOIN n
    ),
    ranked AS (
        SELECT doc_id, term, tfidf,
               row_number() OVER (PARTITION BY doc_id
                                  ORDER BY tfidf DESC, term) AS rn
        FROM scored
    )
    SELECT doc_id, term, tfidf, CAST(rn AS BIGINT) AS rn
    FROM ranked WHERE rn <= 3
    """,
    doc="TF-IDF top-3 terms per document as pure DataFrame ops "
    "(explode → tf groupBy → grouped df count → term-keyed join → "
    "ranking window). df is computed ON the tf relation (tf rows "
    "are unique per (doc, term), so rows-per-term IS the document "
    "frequency) — never a vocabulary broadcast: by Heaps' law the "
    "vocabulary grows with the corpus and at 100 TB is billions of "
    "terms, far past broadcast size. df is a streamed grouped count "
    "(map-side partial agg collapses stopword hot keys), never a "
    "term-partitioned window (which would buffer a |docs|-sized "
    "partition in one task for every stopword); the join's build "
    "side is 1 row per term, so no operator ever buffers an "
    "unbounded key. Only the single-row corpus count broadcasts.",
    tags=("llm", "text", "bench"),
)
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("term")
    )
    # tf feeds df AND the scored join — derive-once cut.  The cut
    # holds one row per DISTINCT (doc, term), far smaller than the
    # pre-r15 token-level posting-list cut it replaces.
    tf = tok.groupBy("doc_id", "term").agg(F.count("*").alias("tf")).transform(ckpt)
    # df = distinct docs containing the term = the tf relation's row
    # count per term (tf rows are unique per (doc, term)).  r15 used
    # `count(*) OVER (PARTITION BY term)` on tf; at crawl scale a
    # stopword term appears in ~every document, so that WindowExec
    # buffers a |docs|-sized partition in ONE task (guide §2.5: never
    # put an unbounded hot key through a buffering window).  The
    # grouped count STREAMS the hot key through partial (map-side)
    # aggregation, and the join back attaches a 1-row-per-term build
    # side — SMJ/BHJ buffer exactly one row per key, skew-safe.  Still
    # one posting-list scan (the tf cut).  Values integer-identical.
    dfq = tf.groupBy("term").agg(F.count("*").alias("df"))
    n = docs.agg(F.count("*").alias("n_docs"))
    scored = (
        tf.join(dfq, "term")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "term",
            F.round(
                F.col("tf") * (F.log((F.col("n_docs") + 1.0) / (F.col("df") + 1.0)) + 1.0), 6
            ).alias("tfidf"),
        )
    )
    w = W.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("term"))
    return (
        scored.withColumn("rn", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rn") <= 3)
        .select("doc_id", "term", "tfidf", "rn")
    )


@register(
    "ann_ivf_topk",
    oracle=None,  # KMeans-clustered inverted lists — probabilistic;
    # MATCH twin: ann_rp_ivf_portable_topk (RP-sign IVF, fully
    # oracled); recall vs brute force pinned in tests/test_operators.py
    doc="IVF ANN: MLlib KMeans inverted lists, per-query n_probe "
    "cluster pruning, exact cosine re-rank on candidates only — the "
    "scale path when LSH recall is poor on the data distribution.",
    tags=("llm", "similarity", "ivf"),
)
def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.ivf import ivf_cosine_topk

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 100 == 0)
    return ivf_cosine_topk(emb, queries, k=3)


@register(
    "ann_ivf_bucketed_topk",
    oracle=None,  # KMeans inverted lists — probabilistic; equivalence with
    # ann_ivf_topk plus zero-Exchange/bucket-pruning plan shapes gated in
    # tests/test_bucketing.py
    doc="IVF ANN over a MATERIALIZED bucketed-by-cluster corpus: the "
    "KMeans-assigned corpus is written bucketBy(cluster)+sortBy once "
    "(the 100 TB layout operators/ivf.py promises), then probed from "
    "the bucketed table — probe joins are co-located (no Exchange on "
    "the corpus side) and literal cluster filters prune unread buckets "
    "at the scan.  Same seed/model as ann_ivf_topk, so identical "
    "answers; only the corpus layout and physical plan differ.",
    tags=("llm", "similarity", "ivf", "layout"),
)
def ann_ivf_bucketed_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.ivf import ivf_bucketed_cosine_topk
    from ..sources.catalog import reset_bucket_table, session_bucket_table

    table = session_bucket_table(spark, "ivf_corpus")
    reset_bucket_table(spark, table)
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 100 == 0)
    return ivf_bucketed_cosine_topk(spark, emb, queries, table, k=3)


@register(
    "mllib_logistic_head",
    oracle=None,  # iterative LBFGS training — rows-only; MATCH twin:
    # logistic_irls_portable (unrolled IRLS on a low-dim design, fully
    # oracled); coefficient agreement between the two optimizers is
    # pinned in tests/test_ml.py::test_irls_agrees_with_mllib_lbfgs
    doc="Per-task supervised head (model.py:150-159) trained with "
    "MLlib LogisticRegression on the embeddings table; emits per-label "
    "prediction summary. The MLlib-estimator counterpart of the "
    "hand-rolled AMTL loop. The fitted model goes through "
    "model.save → LogisticRegressionModel.load before scoring — the "
    "MLlib leg of the checkpoint-sink row (model.py:216-217).",
    tags=("ml", "mllib"),
)
def mllib_logistic_head(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from pyspark.ml.classification import LogisticRegression, LogisticRegressionModel
    from pyspark.ml.functions import array_to_vector, vector_to_array

    emb = load_table(spark, sf_dir, "embeddings")
    ds = emb.select(
        F.col("label").cast("double").alias("label"),
        array_to_vector(F.col("embedding").cast("array<double>")).alias("features"),
    )
    lr = LogisticRegression(maxIter=20, regParam=0.01)
    model = lr.fit(ds)
    ckpt = tempfile.mkdtemp(prefix="mllib_lr_")
    try:
        model.write().overwrite().save(ckpt)
        # load() collects coefficients driver-side, so the scoring plan
        # has no lingering dependency on the checkpoint dir
        model = LogisticRegressionModel.load(ckpt)
        pred = model.transform(ds)
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)
    return (
        pred.select(
            "label", F.element_at(vector_to_array("probability"), 2).alias("p1"), "prediction"
        )
        .groupBy("label")
        .agg(
            F.count("*").alias("n"),
            F.round(F.avg("p1"), 4).alias("avg_p1"),
            F.round(F.avg((F.col("prediction") == F.col("label")).cast("double")), 4).alias("acc"),
        )
    )


_IRLS_ROUNDS = 4


def _irls_oracle_ctes(
    feat_sql: str, rounds: int = _IRLS_ROUNDS, family: str = "logistic"
) -> str:
    """Generate the unrolled-IRLS CTE chain over any feature relation
    ``feat(f1, f2, y [, ...])`` — the reusable GLM-fitting primitive
    (logistic_irls_portable / poisson_irls_portable are the direct
    consumers; ipw_treatment_effect / aipw_doubly_robust_effect compose
    it into causal estimation).

    ``family`` picks the link: "logistic" (Bernoulli, logit link) or
    "poisson" (log link, eta clamped to ±30 for stability).  Built
    programmatically so the Spark side and the SQL side stay
    mechanically in lockstep round-for-round (beta CTEs are
    MATERIALIZED: DuckDB's default CTE inlining is exponential in this
    chained-rounds shape — 64 rounds planned in hours inlined, 1.4 s
    materialized, identical values); the INDEPENDENT check on
    the numbers (VERDICT r6 "shared-SQL-text" discipline) is the MLlib
    agreement pytest in tests/test_ml.py, which optimizes the same
    likelihood with a different algorithm (LBFGS).
    """
    if family == "logistic":
        sig = "1/(1+exp(-eta))"
        w = f"greatest({sig} * (1 - {sig}), 1e-9)"
        z = f"eta + (y - {sig}) / {w}"
    elif family == "poisson":
        etac = "least(greatest(eta, -30.0), 30.0)"
        mu = f"exp({etac})"
        w = f"greatest({mu}, 1e-9)"
        z = f"{etac} + (y - {mu}) / {w}"
    elif family.startswith("quantile"):
        # pinball loss via IRLS (asymmetric-weight L1 reformulation):
        # w = |tau - 1(r<0)| / max(|r|, eps), working response = y.
        # The residual is ROUNDED to 6dp before weighting and eps is
        # 1e-2: unbounded 1/|r| weights amplify cross-engine sum-order
        # noise past any beta rounding (measured: one observation
        # flipped sides at sf0.01 with eps=1e-6) — rounding makes
        # every per-row weight engine-identical and the cap keeps the
        # moment sums small enough for 6dp betas to absorb order noise
        tau = float(family.removeprefix("quantile")) / 100.0
        rr = "round(y - eta, 6)"
        w = (
            f"(CASE WHEN {rr} > 0 THEN {tau} ELSE {1.0 - tau} END)"
            f" / greatest(abs({rr}), 0.01)"
        )
        z = "y"
    else:
        raise ValueError(f"unknown GLM family {family!r}")
    bdp = 6 if family.startswith("quantile") else 8
    ctes = [
        f"""
    WITH feat AS ({feat_sql}
    ),
    beta0 AS (SELECT 0.0 AS b0, 0.0 AS b1, 0.0 AS b2)"""
    ]
    for r in range(1, rounds + 1):
        ctes.append(
            f"""
    stage{r} AS (
        SELECT y, f1, f2, b0 + b1 * f1 + b2 * f2 AS eta
        FROM feat CROSS JOIN beta{r - 1}
    ),
    resp{r} AS (
        SELECT y, f1, f2, {w} AS w,
               {z} AS z
        FROM stage{r}
    ),
    agg{r} AS (
        SELECT sum(w) AS s00, sum(w * f1) AS s01, sum(w * f2) AS s02,
               sum(w * f1 * f1) AS s11, sum(w * f1 * f2) AS s12,
               sum(w * f2 * f2) AS s22,
               sum(w * z) AS t0, sum(w * f1 * z) AS t1,
               sum(w * f2 * z) AS t2
        FROM resp{r}
    ),
    beta{r} AS MATERIALIZED (
        SELECT round(((s11*s22 - s12*s12) * t0 + (s02*s12 - s01*s22) * t1
                      + (s01*s12 - s02*s11) * t2) / det, {bdp}) AS b0,
               round(((s02*s12 - s01*s22) * t0 + (s00*s22 - s02*s02) * t1
                      + (s01*s02 - s00*s12) * t2) / det, {bdp}) AS b1,
               round(((s01*s12 - s02*s11) * t0 + (s01*s02 - s00*s12) * t1
                      + (s00*s11 - s01*s01) * t2) / det, {bdp}) AS b2
        FROM (SELECT *, s00*(s11*s22 - s12*s12) - s01*(s01*s22 - s12*s02)
                        + s02*(s01*s12 - s11*s02) AS det FROM agg{r})
    )"""
        )
    return ",".join(ctes)


_IRLS_EMB_FEAT_SQL = """
        SELECT round(list_aggregate(CAST(embedding AS DOUBLE[]), 'sum')
                     / 64, 6) AS f1,
               round(CAST(embedding[1] AS DOUBLE), 6) AS f2,
               CAST(label >= 5 AS INTEGER) AS y
        FROM embeddings"""


def _irls_logistic_oracle(rounds: int = _IRLS_ROUNDS) -> str:
    p = "least(greatest(1/(1+exp(-(b0 + b1*f1 + b2*f2))), 1e-12), 1 - 1e-12)"
    final = f"""
    SELECT CAST(count(*) AS BIGINT) AS n,
           round(any_value(b0), 4) AS beta0,
           round(any_value(b1), 4) AS beta1,
           round(any_value(b2), 4) AS beta2,
           round(sum(y * ln({p}) + (1 - y) * ln(1 - {p})), 4)
               AS log_likelihood,
           round(avg(CAST(({p} >= 0.5) = (y = 1) AS DOUBLE)), 4)
               AS train_accuracy
    FROM feat CROSS JOIN beta{rounds}"""
    return _irls_oracle_ctes(_IRLS_EMB_FEAT_SQL, rounds) + final


def _irls_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The shared low-dim design: 6-dp-rounded embedding mean + first
    component (the vectors are unit-normalized, so the L2 norm is a
    constant and would make the design singular), intercept implicit,
    y = (label >= 5).  Rounded inputs +
    8-dp-rounded betas per round make the whole iteration
    engine-reproducible (both engines fold the cast-to-double list
    left-to-right)."""
    emb = load_table(spark, sf_dir, "embeddings")
    d = F.col("embedding").cast("array<double>")
    return emb.select(
        F.round(
            F.aggregate(d, F.lit(0.0), lambda a, x: a + x) / 64, 6
        ).alias("f1"),
        F.round(F.element_at(d, 1), 6).alias("f2"),
        (F.col("label") >= 5).cast("int").alias("y"),
    )


def _irls_fit(
    spark: SparkSession,
    feat: DataFrame,
    rounds: int = _IRLS_ROUNDS,
    family: str = "logistic",
) -> DataFrame:
    """Unrolled-IRLS GLM fit over ``feat(f1, f2, y, ...)`` — returns
    the 1-row (b0, b1, b2) DataFrame.  The Spark half of the reusable
    GLM primitive (_irls_oracle_ctes is the oracle half); ``family``
    mirrors its link choice expression-for-expression."""
    beta = spark.range(1).select(
        F.lit(0.0).alias("b0"), F.lit(0.0).alias("b1"), F.lit(0.0).alias("b2")
    )
    for _ in range(rounds):
        eta = F.col("b0") + F.col("b1") * F.col("f1") + F.col("b2") * F.col("f2")
        j = feat.crossJoin(F.broadcast(beta)).select(
            "y", "f1", "f2", eta.alias("eta")
        )
        if family == "logistic":
            sig = F.lit(1.0) / (F.lit(1.0) + F.exp(-F.col("eta")))
            w = F.greatest(sig * (1 - sig), F.lit(1e-9))
            z = F.col("eta") + (F.col("y") - sig) / w
        elif family == "poisson":
            etac = F.least(F.greatest(F.col("eta"), F.lit(-30.0)), F.lit(30.0))
            mu = F.exp(etac)
            w = F.greatest(mu, F.lit(1e-9))
            z = etac + (F.col("y") - mu) / w
        elif family.startswith("quantile"):
            tau = float(family.removeprefix("quantile")) / 100.0
            rr = F.round(F.col("y") - F.col("eta"), 6)
            w = (
                F.when(rr > 0, F.lit(tau)).otherwise(F.lit(1.0 - tau))
                / F.greatest(F.abs(rr), F.lit(0.01))
            )
            z = F.col("y")
        else:
            raise ValueError(f"unknown GLM family {family!r}")
        bdp = 6 if family.startswith("quantile") else 8
        resp = j.select(
            "y",
            "f1",
            "f2",
            w.alias("w"),
            z.alias("z"),
        )
        c = resp.agg(
            F.sum("w").alias("s00"),
            F.sum(F.col("w") * F.col("f1")).alias("s01"),
            F.sum(F.col("w") * F.col("f2")).alias("s02"),
            F.sum(F.col("w") * F.col("f1") * F.col("f1")).alias("s11"),
            F.sum(F.col("w") * F.col("f1") * F.col("f2")).alias("s12"),
            F.sum(F.col("w") * F.col("f2") * F.col("f2")).alias("s22"),
            F.sum(F.col("w") * F.col("z")).alias("t0"),
            F.sum(F.col("w") * F.col("f1") * F.col("z")).alias("t1"),
            F.sum(F.col("w") * F.col("f2") * F.col("z")).alias("t2"),
        )
        s00, s01, s02 = F.col("s00"), F.col("s01"), F.col("s02")
        s11, s12, s22 = F.col("s11"), F.col("s12"), F.col("s22")
        t0, t1, t2 = F.col("t0"), F.col("t1"), F.col("t2")
        det = (
            s00 * (s11 * s22 - s12 * s12)
            - s01 * (s01 * s22 - s12 * s02)
            + s02 * (s01 * s12 - s11 * s02)
        )
        withdet = c.select("*", det.alias("det"))
        d = F.col("det")
        beta = withdet.select(
            F.round(
                (
                    (s11 * s22 - s12 * s12) * t0
                    + (s02 * s12 - s01 * s22) * t1
                    + (s01 * s12 - s02 * s11) * t2
                )
                / d,
                bdp,
            ).alias("b0"),
            F.round(
                (
                    (s02 * s12 - s01 * s22) * t0
                    + (s00 * s22 - s02 * s02) * t1
                    + (s01 * s02 - s00 * s12) * t2
                )
                / d,
                bdp,
            ).alias("b1"),
            F.round(
                (
                    (s01 * s12 - s02 * s11) * t0
                    + (s01 * s02 - s00 * s12) * t1
                    + (s00 * s11 - s01 * s01) * t2
                )
                / d,
                bdp,
            ).alias("b2"),
        )
        if rounds > 12 and (_ % 4 == 3 or _ == rounds - 1):
            # long unrolls (quantile IRLS needs ~64 rounds): truncate
            # the 1-row beta's lineage or the nested broadcast plan
            # grows linearly deep and analysis cost quadratically.
            # Every 4th round, not every round (r15 opt): each eager
            # localCheckpoint is a scheduled Spark job, and 64 of
            # them doubled the query's job count — a depth-4 nested
            # plan is still trivially analyzable and the checkpoint
            # is numerically identity either way (isolated min-of-3
            # measured on quantile_regression_pinball; see
            # OPTIMIZATION_r15.md).
            beta = beta.transform(ckpt_eager)
    return beta


@register(
    "logistic_irls_portable",
    oracle=_irls_logistic_oracle(),
    doc="Portable logistic regression via 4 unrolled IRLS/Newton "
    "rounds on a low-dim design (embedding mean + first component + "
    "intercept, y = label >= 5): each round is ONE map-side-combined "
    "moment aggregate (9 sums) and a closed-form 3x3 weighted "
    "normal-equation solve on the driver-free 1-row broadcast — the "
    "huber_location_estimate pattern lifted to multivariate GLM "
    "fitting.  The fully-oracled twin of mllib_logistic_head "
    "(VERDICT r6 #5); agreement with MLlib LBFGS on the same design "
    "is pinned in tests/test_ml.py.  Scale: per round, one pass over "
    "the fact table reduced map-side to 9 doubles; the only "
    "broadcast is the 1-row beta — fixed cost, any corpus size.",
    tags=("ml", "llm", "stats"),
)
def logistic_irls_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    feat = _irls_features(spark, sf_dir).transform(ckpt)
    beta = _irls_fit(spark, feat)
    scored = feat.crossJoin(F.broadcast(beta))
    p_raw = F.lit(1.0) / (
        F.lit(1.0)
        + F.exp(
            -(F.col("b0") + F.col("b1") * F.col("f1") + F.col("b2") * F.col("f2"))
        )
    )
    p = F.least(F.greatest(p_raw, F.lit(1e-12)), F.lit(1.0 - 1e-12))
    return scored.agg(
        F.count("*").cast("bigint").alias("n"),
        F.round(F.any_value("b0"), 4).alias("beta0"),
        F.round(F.any_value("b1"), 4).alias("beta1"),
        F.round(F.any_value("b2"), 4).alias("beta2"),
        F.round(
            F.sum(
                F.col("y") * F.log(p) + (1 - F.col("y")) * F.log(1 - p)
            ),
            4,
        ).alias("log_likelihood"),
        F.round(
            F.avg(((p >= 0.5) == (F.col("y") == 1)).cast("double")), 4
        ).alias("train_accuracy"),
    )


_POISSON_FEAT_SQL = """
        SELECT round(ln(1 + sum(CASE WHEN event_type = 'view'
                                     THEN 1 ELSE 0 END)), 6) AS f1,
               round(coalesce(avg(CASE WHEN event_type = 'view'
                                       THEN value END), 0), 6) AS f2,
               CAST(sum(CASE WHEN event_type = 'click'
                             THEN 1 ELSE 0 END) AS DOUBLE) AS y
        FROM events GROUP BY user_id, date_trunc('day', ts)"""


def _poisson_irls_oracle(rounds: int = _IRLS_ROUNDS) -> str:
    mu = "exp(least(greatest(b0 + b1*f1 + b2*f2, -30.0), 30.0))"
    return (
        _irls_oracle_ctes(_POISSON_FEAT_SQL, rounds, family="poisson")
        + f"""
    SELECT CAST(count(*) AS BIGINT) AS n,
           round(any_value(b0), 4) AS beta0,
           round(any_value(b1), 4) AS beta1,
           round(any_value(b2), 4) AS beta2,
           round(2 * sum((CASE WHEN y > 0 THEN y * ln(y / {mu})
                               ELSE 0 END) - (y - {mu})), 4) AS deviance,
           round(avg({mu}), 4) AS mean_rate
    FROM feat CROSS JOIN beta{rounds}"""
    )


@register(
    "poisson_irls_portable",
    oracle=_poisson_irls_oracle(),
    doc="Portable Poisson regression (log link) via the SAME unrolled "
    "IRLS primitive as logistic_irls_portable, second GLM family: "
    "daily click counts modeled on same-day view activity at "
    "user-day grain.  Newton weights w = mu = exp(eta) (eta clamped "
    "to +-30 for stability, identically on both sides), working "
    "response z = eta + (y - mu)/mu; emits coefficients, the Poisson "
    "deviance, and the mean fitted rate.  Agreement with MLlib "
    "GeneralizedLinearRegression (poisson/log, IRLS too but a "
    "different codebase) pinned in tests/test_ml.py.  Scale: "
    "identical to the logistic twin — per round one 9-sum moment "
    "pass, 1-row beta broadcast.",
    tags=("ml", "stats", "agg"),
)
def poisson_irls_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    feat = ev.groupBy(
        "user_id", F.date_trunc("day", "ts").alias("day")
    ).agg(
        F.round(
            F.log(
                1
                + F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0))
            ),
            6,
        ).alias("f1"),
        F.round(
            F.coalesce(
                F.avg(F.when(F.col("event_type") == "view", F.col("value"))),
                F.lit(0.0),
            ),
            6,
        ).alias("f2"),
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0))
        .cast("double")
        .alias("y"),
    ).transform(ckpt)
    beta = _irls_fit(spark, feat, family="poisson")
    eta = F.col("b0") + F.col("b1") * F.col("f1") + F.col("b2") * F.col("f2")
    mu = F.exp(F.least(F.greatest(eta, F.lit(-30.0)), F.lit(30.0)))
    scored = feat.crossJoin(F.broadcast(beta)).select(
        "y", "b0", "b1", "b2", mu.alias("mu")
    )
    y, m = F.col("y"), F.col("mu")
    return scored.agg(
        F.count("*").cast("bigint").alias("n"),
        F.round(F.any_value("b0"), 4).alias("beta0"),
        F.round(F.any_value("b1"), 4).alias("beta1"),
        F.round(F.any_value("b2"), 4).alias("beta2"),
        F.round(
            2
            * F.sum(
                F.when(y > 0, y * F.log(y / m)).otherwise(F.lit(0.0))
                - (y - m)
            ),
            4,
        ).alias("deviance"),
        F.round(F.avg("mu"), 4).alias("mean_rate"),
    )


_QREG_FEAT_SQL = """
        SELECT round(ln(1 + sum(CASE WHEN event_type = 'view'
                                     THEN 1 ELSE 0 END)), 6) AS f1,
               round(coalesce(avg(CASE WHEN event_type = 'view'
                                       THEN value END), 0), 6) AS f2,
               round(sum(value), 6) AS y
        FROM events GROUP BY user_id, date_trunc('day', ts)"""

_QREG_ROUNDS = 64  # IRLS on the L1-type loss converges far slower than
# Newton: numpy replay shows frac_below 0.51 @ 8 rounds, 0.73 @ 32,
# 0.749 @ 64 (the defining tau-coverage property) — 64 is where the
# optimum's signature holds


def _quantile_regression_oracle(tau_pct: int = 75) -> str:
    tau = tau_pct / 100.0
    eta = "(b0 + b1*f1 + b2*f2)"
    pin = (
        f"(CASE WHEN y >= {eta} THEN {tau} * (y - {eta})"
        f" ELSE {1.0 - tau} * ({eta} - y) END)"
    )
    return (
        _irls_oracle_ctes(
            _QREG_FEAT_SQL, _QREG_ROUNDS, family=f"quantile{tau_pct}"
        )
        + f"""
    SELECT CAST(count(*) AS BIGINT) AS n,
           round(any_value(b0), 4) AS beta0,
           round(any_value(b1), 4) AS beta1,
           round(any_value(b2), 4) AS beta2,
           round(avg({pin}), 4) AS mean_pinball_loss,
           round(avg(CAST(y < {eta} AS DOUBLE)), 4) AS frac_below
    FROM feat CROSS JOIN beta{_QREG_ROUNDS}"""
    )


@register(
    "quantile_regression_pinball",
    oracle=_quantile_regression_oracle(),
    doc="Conditional quantile regression (tau = 0.75) via the IRLS "
    "primitive's third loss: pinball loss through its asymmetric-"
    "weight least-squares reformulation (w = |tau - 1(r<0)|/max(|r|,"
    "eps), 64 unrolled rounds - L1-type losses converge far slower "
    "than Newton; beta lineage truncated per round).  Models the 75th percentile of a user-day's total "
    "event value on view activity - the conditional counterpart of "
    "weighted_quantiles_price's marginal quantiles, robust where OLS "
    "(applyinpandas_trend_ols) chases the mean.  The algorithm-"
    "independent check is the DEFINING property of the optimum: "
    "~tau of residuals sit below the fitted surface "
    "(tests/test_ml.py pins frac_below near 0.75).  Scale: same "
    "9-sum moment pass per round, 1-row beta broadcast.",
    tags=("ml", "stats", "agg"),
)
def quantile_regression_pinball(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    feat = ev.groupBy(
        "user_id", F.date_trunc("day", "ts").alias("day")
    ).agg(
        F.round(
            F.log(
                1
                + F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0))
            ),
            6,
        ).alias("f1"),
        F.round(
            F.coalesce(
                F.avg(F.when(F.col("event_type") == "view", F.col("value"))),
                F.lit(0.0),
            ),
            6,
        ).alias("f2"),
        F.round(F.sum("value"), 6).alias("y"),
    ).transform(ckpt)
    tau = 0.75
    beta = _irls_fit(spark, feat, rounds=_QREG_ROUNDS, family="quantile75")
    eta = F.col("b0") + F.col("b1") * F.col("f1") + F.col("b2") * F.col("f2")
    scored = feat.crossJoin(F.broadcast(beta)).select(
        "y", "b0", "b1", "b2", eta.alias("eta")
    )
    y, e = F.col("y"), F.col("eta")
    pin = F.when(y >= e, tau * (y - e)).otherwise((1 - tau) * (e - y))
    return scored.agg(
        F.count("*").cast("bigint").alias("n"),
        F.round(F.any_value("b0"), 4).alias("beta0"),
        F.round(F.any_value("b1"), 4).alias("beta1"),
        F.round(F.any_value("b2"), 4).alias("beta2"),
        F.round(F.avg(pin), 4).alias("mean_pinball_loss"),
        F.round(F.avg((y < e).cast("double")), 4).alias("frac_below"),
    )


@register(
    "multimodal_payload_stats",
    oracle="""
    SELECT doc_id,
           CAST(octet_length(encode(text)) AS INTEGER) AS n_bytes,
           CAST(octet_length(encode(text)) >= 200 AS INTEGER) AS is_large
    FROM documents
    """,
    doc="Multimodal binary-column plumbing: text encoded to an opaque "
    "BINARY payload, byte-length metadata derived columnar-side. The "
    "decode/feature stage is the fully-oracled "
    "multimodal_decode_features / multimodal_rawrgb_decode pair.",
    tags=("llm", "multimodal"),
)
def multimodal_payload_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    media = to_media_table(load_table(spark, sf_dir, "documents"))
    return media.select(
        "doc_id",
        F.col("meta.n_bytes").alias("n_bytes"),
        (F.col("meta.n_bytes") >= 200).cast("int").alias("is_large"),
    )


@register(
    "multimodal_resize_stats",
    oracle="""
    SELECT doc_id,
           CAST(octet_length(encode(text)) AS INTEGER) AS orig_bytes,
           CAST(least(octet_length(encode(text)), 128) AS INTEGER) AS n_bytes
    FROM documents
    """,
    doc="mapInPandas resize stage over the multimodal table: payloads "
    "brought to ≤128 bytes (deterministic truncation stub — a real "
    "resampler drops into the kernel); before/after sizes carry a full "
    "arithmetic oracle. Map-side only.",
    tags=("llm", "multimodal"),
)
def multimodal_resize_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.multimodal import resize_payloads

    media = to_media_table(load_table(spark, sf_dir, "documents"))
    return resize_payloads(media, target_bytes=128).select("doc_id", "orig_bytes", "n_bytes")


@register(
    "multimodal_frame_sample",
    oracle="""
    WITH m AS (
        SELECT doc_id, octet_length(encode(text)) AS n FROM documents
    ),
    f AS (
        SELECT doc_id, n,
               unnest(CASE WHEN n <= 32 THEN [0]
                           ELSE [0, 1, 2, 3] END) AS frame_idx
        FROM m
    )
    SELECT doc_id,
           CAST(frame_idx AS INTEGER) AS frame_idx,
           CAST(CASE WHEN n <= 32 THEN 0
                     ELSE ((n - 32) * frame_idx) // 3 END AS BIGINT) AS "offset",
           CAST(least(32, n - CASE WHEN n <= 32 THEN 0
                                   ELSE ((n - 32) * frame_idx) // 3 END) AS BIGINT) AS frame_len
    FROM f
    """,
    doc="mapInPandas frame-sampling stage (the 1→N row-expansion "
    "shape a video sampler needs): 4 evenly-spaced 32-byte windows per "
    "payload, one window for short payloads. The sampling geometry "
    "(offsets/lengths) carries a full arithmetic oracle; frame bytes "
    "are pytest-checked.",
    tags=("llm", "multimodal"),
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.multimodal import frame_sample

    media = to_media_table(load_table(spark, sf_dir, "documents"))
    return frame_sample(media, n_frames=4, frame_bytes=32).select(
        "doc_id",
        "frame_idx",
        "offset",
        F.length("frame").cast("bigint").alias("frame_len"),
    )


def _rawrgb_channel_mean_sql(ch: int) -> str:
    """DuckDB twin of decode_raw_rgb's channel mean: pixel ``3*i+ch``
    carries ``(doc_id*31 + 7*(3*i+ch)) % 256``; the mean folds the
    same arithmetic over ``range(0, w*h)`` with a list lambda."""
    return (
        "round(list_sum(list_transform(range(0, CAST(w * h AS INTEGER)), "
        f"i -> CAST((doc_id * 31 + 7 * (3 * i + {ch})) % 256 AS DOUBLE))) "
        "/ (w * h), 6)"
    )


@register(
    "multimodal_rawrgb_decode",
    oracle=f"""
    WITH dims AS (
        SELECT doc_id,
               8 + doc_id % 5 AS w,
               6 + doc_id % 7 AS h
        FROM documents
    )
    SELECT doc_id,
           CAST(w AS INTEGER) AS width,
           CAST(h AS INTEGER) AS height,
           CAST(w * h * 3 AS INTEGER) AS n_px_bytes,
           {_rawrgb_channel_mean_sql(0)} AS r_mean,
           {_rawrgb_channel_mean_sql(1)} AS g_mean,
           {_rawrgb_channel_mean_sql(2)} AS b_mean
    FROM dims
    """,
    doc="REAL raster decode, oracle-pinned end-to-end: synthesize the "
    "in-repo RAWRGB format per document (header + arithmetic uint8 "
    "pixels, executor-side), then decode it in an Arrow-batched "
    "mapInPandas kernel — magic/header validation, numpy reshape, "
    "per-channel means.  DuckDB reproduces the payload arithmetic "
    "symbolically, so every decoded value is hash-checked.  Both "
    "stages are map-side: 100 TB of media encodes+decodes with zero "
    "shuffle.  Parity: reference has no media path (README.md:5 "
    "scopes it to text time-series); this is the [EXT] multimodal "
    "column contract from SURVEY.md §2.11.",
    tags=("llm", "multimodal"),
)
def multimodal_rawrgb_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    return decode_raw_rgb(to_raw_rgb_media(docs))


@register(
    "multimodal_decode_features",
    oracle=f"""
    WITH dims AS (
        SELECT doc_id,
               8 + doc_id % 5 AS w,
               6 + doc_id % 7 AS h
        FROM documents
    )
    SELECT doc_id,
           'image/x-raw-rgb' AS mime,
           CAST(8 + w * h * 3 AS INTEGER) AS n_bytes,
           {_rawrgb_channel_mean_sql(0)} AS f0
    FROM dims
    """,
    doc="Generic decode/feature-extract entry, running the REAL RAWRGB "
    "decoder (no stub kernel): encode the in-repo raster format per "
    "document executor-side, decode it in the Arrow-batched mapInPandas "
    "kernel (magic/header validation, numpy reshape), surface the "
    "leading feature dim (red-channel mean) plus payload metadata — "
    "all hash-checked against DuckDB's symbolic replay of the pixel "
    "arithmetic.  Map-side end-to-end: zero shuffle at any corpus "
    "size.  An external-codec decoder (jpeg/png) drops in by swapping "
    "decode_raw_rgb for a kernel with the same contract.",
    tags=("llm", "multimodal"),
)
def multimodal_decode_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    decoded = decode_raw_rgb(to_raw_rgb_media(docs))
    return decoded.select(
        "doc_id",
        F.lit(RAW_RGB_MIME).alias("mime"),
        (F.col("n_px_bytes") + F.lit(8)).cast("int").alias("n_bytes"),
        F.col("r_mean").alias("f0"),
    )


@register(
    "embedding_dim_means",
    oracle="""
    WITH e AS (
        SELECT label,
               generate_subscripts(embedding[1:8], 1) - 1 AS dim,
               unnest(embedding[1:8]) AS val
        FROM embeddings
    )
    SELECT label, CAST(dim AS INTEGER) AS dim,
           round(avg(CAST(val AS DOUBLE)), 6) AS mean_val,
           count(*) AS n
    FROM e
    GROUP BY label, dim
    """,
    doc="Per-label embedding centroid slice (first 8 dims): posexplode "
    "the dim/value pairs, aggregate per (label, dim) — the elementwise "
    "mean that a cluster-profile or drift monitor computes over an "
    "embedding column.  Explode + hash aggregate, map-side partials; "
    "output is |labels|×|dims| regardless of corpus size.",
    tags=("llm", "similarity", "array"),
)
def embedding_dim_means(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return (
        emb.select("label", F.posexplode(F.slice("embedding", 1, 8)).alias("dim", "val"))
        .groupBy("label", "dim")
        .agg(
            F.round(F.avg(F.col("val").cast("double")), 6).alias("mean_val"),
            F.count("*").alias("n"),
        )
    )


@register(
    "udtf_sentence_split",
    oracle="""
    WITH s AS (
        SELECT doc_id, unnest(string_split(text, '.')) AS sentence
        FROM documents WHERE doc_id % 100 = 0
    )
    SELECT doc_id, trim(sentence) AS sentence
    FROM s WHERE length(trim(sentence)) > 0
    """,
    doc="True Python UDTF surface (SURVEY §2.10, Spark 4 @udtf): a "
    "lateral-joined table function expanding each document into "
    "trimmed non-empty sentences — the 1→N generator shape "
    "(posexplode_tokens is the built-in analog; this pins the UDTF "
    "machinery).  Anchored to 1% of docs: the UDTF row loop is the "
    "Python slow path, demonstrated, not used for bulk work.",
    tags=("llm", "udtf", "udf", "text"),
)
def udtf_sentence_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.functions import udtf

    @udtf(returnType="doc_id bigint, sentence string")
    class SentenceSplit:
        def eval(self, doc_id, text):  # noqa: ANN001 - UDTF contract
            for part in text.split("."):
                p = part.strip()
                if p:
                    yield (doc_id, p)

    spark.udtf.register("sentence_split_udtf", SentenceSplit)
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") % 100 == 0)
    docs.createOrReplaceTempView("udtf_docs_anchor")
    return spark.sql(
        "SELECT s.doc_id, s.sentence "
        "FROM udtf_docs_anchor, LATERAL sentence_split_udtf(doc_id, text) s"
    )


@register(
    "pack_sequences_token_budget",
    oracle="""
    WITH toks AS (
        SELECT doc_id, source,
               CASE WHEN length(trim(text)) = 0 THEN 0
                    ELSE length(trim(text))
                         - length(replace(trim(text), ' ', '')) + 1
               END AS n_tokens
        FROM documents
    ),
    cum AS (
        SELECT doc_id, source, n_tokens,
               sum(n_tokens) OVER (
                   PARTITION BY source ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ) AS cum_before
        FROM toks
    ),
    binned AS (
        SELECT source,
               CAST(floor(COALESCE(cum_before, 0) / 256) AS BIGINT) AS bin_id,
               n_tokens
        FROM cum
    )
    SELECT source, bin_id,
           count(*) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS bin_tokens
    FROM binned
    GROUP BY source, bin_id
    ORDER BY source, bin_id
    """,
    doc="Sequence packing for LLM pre-training (concat-then-split, "
    "the GPT-style packing strategy): documents are concatenated in "
    "doc_id order WITHIN each source shard and cut into 256-token "
    "context bins — a document is assigned to the bin where its "
    "first token lands (exclusive prefix sum / 256).  The window is "
    "partitioned by source, so at 100 TB each shard packs "
    "independently — no global sort, no single-partition window; "
    "shard count scales with the corpus.  Output is per-bin fill "
    "stats (docs per bin, tokens per bin).",
    tags=("llm", "text", "packing", "window"),
)
def pack_sequences_token_budget(spark: SparkSession, sf_dir: str, budget: int = 256) -> DataFrame:
    from pyspark.sql import Window as W

    docs = load_table(spark, sf_dir, "documents")
    w = W.partitionBy("source").orderBy("doc_id").rowsBetween(W.unboundedPreceding, -1)
    toks = docs.select(
        "doc_id", "source", token_count(F.col("text")).cast("bigint").alias("n_tokens")
    )
    binned = toks.select(
        "source",
        F.floor(F.coalesce(F.sum("n_tokens").over(w), F.lit(0)) / F.lit(budget))
        .cast("bigint")
        .alias("bin_id"),
        "n_tokens",
    )
    return (
        binned.groupBy("source", "bin_id")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("bin_tokens"),
        )
        .orderBy("source", "bin_id")
    )


@register(
    "contamination_ngram_overlap",
    oracle="""
    WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS t,
               len(string_split(text, ' ')) AS n
        FROM documents
    ),
    grams AS (
        SELECT doc_id,
               array_to_string(list_slice(t, i, i + 2), ' ') AS gram
        FROM toks, unnest(range(1, CAST(greatest(n - 1, 1) AS BIGINT))) AS u(i)
        WHERE n >= 3
    ),
    bench AS (
        SELECT DISTINCT gram FROM grams WHERE doc_id % 50 = 0
    ),
    corpus AS (
        SELECT DISTINCT doc_id, gram FROM grams WHERE doc_id % 50 <> 0
    ),
    hits AS (
        SELECT c.doc_id,
               count(*) AS n_grams,
               count(b.gram) AS n_overlap
        FROM corpus c LEFT JOIN bench b ON c.gram = b.gram
        GROUP BY c.doc_id
    )
    SELECT doc_id, CAST(n_grams AS BIGINT) AS n_grams,
           CAST(n_overlap AS BIGINT) AS n_overlap,
           round(CAST(n_overlap AS DOUBLE) / n_grams, 6) AS contamination
    FROM hits
    WHERE n_overlap > 0
    ORDER BY contamination DESC, doc_id
    """,
    doc="Benchmark-contamination check (word-3-gram overlap): the "
    "held-out 'benchmark' slice (doc_id % 50 = 0 here) is reduced to "
    "its DISTINCT 3-gram set and equi-joined against the corpus "
    "side's distinct 3-grams; per-document overlap fraction flags "
    "leaked eval data.  Both sides dedup BEFORE the join, so the "
    "shuffle carries each gram once per doc.  The join strategy is "
    "left to AQE: the benchmark gram set is small relative to the "
    "corpus but still corpus-shaped (raw strings — a forced "
    "broadcast would blow the driver once the eval suite grows), so "
    "AQE broadcasts when the measured size allows and falls back to "
    "a shuffle join otherwise.  The 100 TB path keys on a 64-bit "
    "gram fingerprint instead of the string (rolling_hash_fingerprint "
    "shows the arithmetic), which shrinks both the shuffle and any "
    "broadcast ~10×; the string key here keeps the oracle "
    "engine-portable.",
    tags=("llm", "text", "dedup", "join"),
)
def contamination_ngram_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    t = F.split(F.col("text"), " ")
    grams = (
        docs.select("doc_id", t.alias("t"), F.size(t).alias("n"))
        .filter(F.col("n") >= 3)
        .select(
            "doc_id",
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.greatest(F.col("n") - 1, F.lit(1)) - 1),
                    lambda i: F.concat_ws(" ", F.slice("t", i, F.lit(3))),
                )
            ).alias("gram"),
        )
    )
    bench = grams.filter(F.col("doc_id") % 50 == 0).select("gram").distinct()
    corpus = grams.filter(F.col("doc_id") % 50 != 0).distinct()
    hits = (
        corpus.join(bench.withColumn("hit", F.lit(1)), "gram", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_grams"),
            F.count("hit").cast("bigint").alias("n_overlap"),
        )
        .filter(F.col("n_overlap") > 0)
    )
    return hits.select(
        "doc_id",
        "n_grams",
        "n_overlap",
        F.round(F.col("n_overlap").cast("double") / F.col("n_grams"), 6).alias("contamination"),
    ).orderBy(F.col("contamination").desc(), "doc_id")


@register(
    "weighted_source_mixture",
    oracle="""
    WITH rated AS (
        SELECT doc_id, source,
               CASE WHEN source IN ('src0','src1','src2','src3','src4')
                    THEN 900
                    WHEN source IN ('src5','src6','src7','src8','src9')
                    THEN 500
                    ELSE 100 END AS permille,
               (doc_id * 2654435761) % 1000000007 AS h
        FROM documents
    )
    SELECT source,
           count(*) AS n_total,
           CAST(sum(CASE WHEN h % 1000 < permille THEN 1 ELSE 0 END)
                AS BIGINT) AS n_sampled,
           round(CAST(sum(CASE WHEN h % 1000 < permille THEN 1 ELSE 0 END)
                      AS DOUBLE) / count(*), 4) AS achieved_rate
    FROM rated
    GROUP BY source
    ORDER BY source
    """,
    doc="Weighted dataset mixture (up/down-sampling sources into a "
    "training mix): each source gets a sampling rate in permille and "
    "rows are kept by a DETERMINISTIC portable hash "
    "((doc_id * 2654435761) mod 1e9+7, Knuth multiplicative) — "
    "reproducible across engines, runs, and partitionings, unlike "
    "rand(seed) which is per-engine.  Map-side decision per row, one "
    "small agg shuffle for the audit counts; the row-level sample "
    "itself never shuffles at all.  BIGINT arithmetic keeps the "
    "product well under 2^63 (ANSI-safe).",
    tags=("llm", "sampling"),
)
def weighted_source_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    permille = (
        F.when(F.col("source").isin("src0", "src1", "src2", "src3", "src4"), 900)
        .when(F.col("source").isin("src5", "src6", "src7", "src8", "src9"), 500)
        .otherwise(100)
    )
    h = (F.col("doc_id").cast("bigint") * F.lit(2654435761)) % F.lit(1000000007)
    keep = (h % 1000 < permille).cast("int")
    return (
        docs.select("source", keep.alias("keep"))
        .groupBy("source")
        .agg(
            F.count("*").alias("n_total"),
            F.sum("keep").cast("bigint").alias("n_sampled"),
            F.round(F.sum("keep").cast("double") / F.count("*"), 4).alias("achieved_rate"),
        )
        .orderBy("source")
    )


@register(
    "token_stats_bpe_regex",
    oracle="""
    SELECT doc_id,
           CASE WHEN length(trim(text)) = 0 THEN 0
                ELSE length(trim(text))
                     - length(replace(trim(text), ' ', '')) + 1
           END AS ws_tokens,
           CAST(len(regexp_extract_all(text,
                '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]')) AS INTEGER)
               AS bpe_tokens,
           CAST(length(text) AS INTEGER) AS n_chars
    FROM documents
    ORDER BY doc_id
    """,
    doc="Token counting two ways (SURVEY §2.11 text analysis): naive "
    "whitespace tokens vs a BPE-style pre-tokenizer regex (letter "
    "runs | digit runs | single punctuation — the GPT-2 pre-tokenizer "
    "shape without the lookaheads, which keeps the pattern "
    "dialect-portable between Java regex and DuckDB's RE2).  Pure "
    "map-side column math: token-budget estimation over 100 TB "
    "costs one scan, no shuffle.",
    tags=("llm", "text"),
)
def token_stats_bpe_regex(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        token_count(F.col("text")).cast("int").alias("ws_tokens"),
        F.size(
            F.regexp_extract_all(
                F.col("text"), F.lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"), 0
            )
        )
        .cast("int")
        .alias("bpe_tokens"),
        F.length("text").cast("int").alias("n_chars"),
    ).orderBy("doc_id")


@register(
    "rolling_hash_fingerprint",
    oracle="""
    WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS t,
               len(string_split(text, ' ')) AS n
        FROM documents
    ),
    codes AS (
        SELECT doc_id, n,
               list_transform(t, w ->
                   CAST((ascii(w) * 131 + length(w)) % 1000000007
                        AS BIGINT)) AS c
        FROM toks
        WHERE n >= 3
    ),
    shingles AS (
        SELECT doc_id,
               list_reduce(list_slice(c, i, i + 2),
                           (acc, x) -> (acc * 131 + x) % 1000000007)
                   AS sh
        FROM codes, unnest(range(1, CAST(n - 1 AS BIGINT))) AS u(i)
    )
    SELECT doc_id,
           CAST(min(sh) AS BIGINT) AS fingerprint,
           count(*) AS n_shingles
    FROM shingles
    GROUP BY doc_id
    ORDER BY doc_id
    """,
    doc="Rolling-hash document fingerprint (SURVEY §2.11 "
    "fingerprinting): Rabin-Karp polynomial hashes over word "
    "3-shingles (base 131, mod 1e9+7 — portable BIGINT arithmetic, "
    "ANSI-overflow-safe), min-sampled per document (the degenerate "
    "k=1 case of winnowing).  Near-identical documents share their "
    "minimum shingle hash with high probability, so equal "
    "fingerprints are cheap near-dup candidates — an arithmetic, "
    "engine-portable alternative to the xxhash64 MinHash tier "
    "(which is rows-only checkable by nature; this one carries a "
    "full oracle).  Map-side per document; one tiny agg shuffle.",
    tags=("llm", "text", "dedup"),
)
def rolling_hash_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    t = F.split(F.col("text"), " ")
    # BIGINT per-token codes: the Rabin-Karp fold multiplies acc (< 1e9+7)
    # by 131 — in 32-bit that overflows (ANSI error) as soon as a token's
    # codepoint exceeds ~955 (Cyrillic/CJK); 64-bit keeps acc*131 ≈ 1.3e11
    # comfortably in range.  DuckDB oracle casts identically.
    codes = F.transform(
        t,
        lambda w: ((F.ascii(w) * 131 + F.length(w)) % 1000000007).cast("bigint"),
    )
    base = docs.select("doc_id", codes.alias("c"), F.size(t).alias("n")).filter(
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
    return (
        base.select("doc_id", sh.alias("sh"))
        .groupBy("doc_id")
        .agg(
            F.min("sh").cast("bigint").alias("fingerprint"),
            F.count("*").alias("n_shingles"),
        )
        .orderBy("doc_id")
    )


@register(
    "embedding_quantize_int8",
    oracle="""
    WITH v AS (
        SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
    ),
    scaled AS (
        SELECT vec_id, e,
               list_aggregate(list_transform(e, x -> abs(x)), 'max') / 127.0
                   AS scale
        FROM v
    ),
    err AS (
        SELECT vec_id, scale,
               CASE WHEN scale = 0 THEN 0.0
                    ELSE list_reduce(
                        list_transform(e, x ->
                            pow(x - floor(x / scale + 0.5) * scale, 2)),
                        (a, b) -> a + b)
               END AS sq_err,
               len(e) AS n_dims
        FROM scaled
    )
    SELECT vec_id,
           round(scale, 8) AS scale,
           round(sqrt(sq_err / n_dims), 8) AS rmse,
           CAST(n_dims AS INTEGER) AS n_dims
    FROM err
    ORDER BY vec_id
    """,
    doc="Symmetric int8 embedding quantization audit (the storage/"
    "serving compression step of an ANN index): per-vector absmax "
    "scale, quantize q = floor(v/scale + 0.5) (explicit floor — "
    "engine round() half-away ties would be dialect-sensitive), and "
    "per-vector reconstruction RMSE.  Quantizing 100 TB of vectors "
    "is embarrassingly map-side (higher-order array expressions, "
    "whole-stage codegen, zero shuffle before the output sort); both "
    "engines fold the identical double sequence, so the error sums "
    "are bit-reproducible.",
    tags=("llm", "embedding"),
)
def embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    e = F.col("embedding").cast("array<double>")
    scale = F.array_max(F.transform(e, F.abs)) / F.lit(127.0)
    base = emb.select("vec_id", e.alias("e"), scale.alias("scale"))
    sq = F.transform(
        F.col("e"),
        lambda x: F.pow(x - F.floor(x / F.col("scale") + 0.5) * F.col("scale"), F.lit(2)),
    )
    sq_err = F.when(F.col("scale") == 0, F.lit(0.0)).otherwise(
        F.aggregate(
            F.slice(sq, 2, F.size(F.col("e")) - 1),
            F.element_at(sq, 1),
            lambda a, b: a + b,
        )
    )
    # NOTE: the rounded output must NOT be aliased "scale" in the same
    # select that evaluates sq_err — Spark 4 lateral column aliases
    # would resolve the lambda's col("scale") to the ROUNDED value,
    # silently changing the quantization error.  Stage the raw math
    # first, round in a second projection.
    scored = base.select(
        "vec_id",
        "scale",
        F.sqrt(sq_err / F.size("e")).alias("rmse_raw"),
        F.size("e").cast("int").alias("n_dims"),
    )
    return scored.select(
        "vec_id",
        F.round("scale", 8).alias("scale"),
        F.round("rmse_raw", 8).alias("rmse"),
        "n_dims",
    ).orderBy("vec_id")


@register(
    "pii_redaction_stats",
    oracle=r"""
    WITH seeded AS (
        SELECT doc_id,
               text || ' contact user' || doc_id ||
               '@example.com or call ' ||
               lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') ||
               '-555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ||
               ' via https://example.com/u/' || doc_id AS text
        FROM documents
    ),
    red AS (
        SELECT doc_id, length(text) AS len_before,
               regexp_replace(
                   regexp_replace(
                       regexp_replace(text, 'https?://[^ ]+', '<URL>', 'g'),
                       '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
                       '<EMAIL>', 'g'),
                   '[0-9]{3}-[0-9]{3}-[0-9]{4}', '<PHONE>', 'g') AS clean
        FROM seeded
    )
    SELECT doc_id,
           CAST(len_before AS INTEGER) AS len_before,
           CAST(length(clean) AS INTEGER) AS len_after,
           CAST(length(clean)
                - length(replace(clean, '<EMAIL>', ''))
               AS INTEGER) // 7 AS n_emails,
           CAST(length(clean)
                - length(replace(clean, '<PHONE>', ''))
               AS INTEGER) // 7 AS n_phones,
           CAST(length(clean)
                - length(replace(clean, '<URL>', ''))
               AS INTEGER) // 5 AS n_urls
    FROM red
    ORDER BY doc_id
    """,
    doc="PII redaction (the text-cleaning stage before LLM training "
    "data leaves quarantine): email / phone / URL spans replaced "
    "with typed placeholders via dialect-portable regexes "
    "(functions/text.py::redact_pii; URL first so addresses inside "
    "URLs are not half-redacted).  The fixture corpus contains no "
    "organic PII, so the query SEEDS each row with deterministic "
    "synthetic spans derived from doc_id and then proves the "
    "redactor removes all of them — pattern behavior on crafted "
    "edge-case strings is pinned separately in tests/test_functions."
    "py.  Pure map-side regexp work: redacting 100 TB is one scan.",
    tags=("llm", "text"),
)
def pii_redaction_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.text import redact_pii

    docs = load_table(spark, sf_dir, "documents")
    seeded_text = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id"),
        F.lit("@example.com or call "),
        F.lpad((F.col("doc_id") % 1000).cast("string"), 3, "0"),
        F.lit("-555-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        F.lit(" via https://example.com/u/"),
        F.col("doc_id"),
    )
    seeded = docs.select("doc_id", seeded_text.alias("text"))
    red = seeded.select(
        "doc_id",
        F.length("text").alias("len_before"),
        redact_pii(F.col("text")).alias("clean"),
    )

    def _count(tok: str, width: int):
        return (
            (F.length("clean") - F.length(F.replace(F.col("clean"), F.lit(tok))))
            .cast("int") / width
        ).cast("int")

    return red.select(
        "doc_id",
        F.col("len_before").cast("int"),
        F.length("clean").cast("int").alias("len_after"),
        _count("<EMAIL>", 7).alias("n_emails"),
        _count("<PHONE>", 7).alias("n_phones"),
        _count("<URL>", 5).alias("n_urls"),
    ).orderBy("doc_id")


@register(
    "stratified_sample_by_lang",
    oracle=None,  # sampleBy draws from Spark's per-partition RNG
    # stream — engine-specific by nature (like dropout_mask /
    # batch_sample_without_replacement); proportions are pinned in
    # tests/test_operators.py, reproducibility by the fixed seed here
    doc="Stratified sampling (df.sampleBy) with per-language "
    "fractions — the class-balancing sampler for skewed corpora "
    "(deterministic under a fixed seed AND fixed partitioning; for "
    "partitioning-independent reproducibility use the arithmetic-"
    "hash sampler in weighted_source_mixture).  Map-side Bernoulli "
    "draw per row, one audit agg; no shuffle of the sample itself.",
    tags=("llm", "sampling"),
)
def stratified_sample_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    fractions = {"en": 0.9, "es": 0.5, "fr": 0.5, "de": 0.25, "zh": 0.25}
    sample = docs.sampleBy("lang", fractions, seed=42)
    return (
        sample.groupBy("lang")
        .agg(F.count("*").alias("n_sampled"))
        .orderBy("lang")
    )


@register(
    "minhash_portable_signatures",
    oracle=_minhash_oracle(),
    doc="MinHash signatures from a PORTABLE affine hash family "
    "h_i(c) = (a_i*c + b_i) mod 1000003 over md5-derived 3-word "
    "shingle codes — the oracle-checkable twin of the xxhash64 tier "
    "(minhash_lsh_candidates, whose engine-specific hashes can only "
    "be rows-only checked): same algorithm, same Jaccard-estimation "
    "property (P[sig collision] ~ Jaccard), but every value is "
    "reproducible in any engine.  One explode + per-doc min-agg — "
    "16 mins partial-aggregate map-side, the shuffle carries 16 "
    "BIGINTs per document regardless of document size.",
    tags=("llm", "dedup", "sketch"),
)
def minhash_portable_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    return portable_signatures(load_table(spark, sf_dir, "documents")).orderBy("doc_id")


def portable_signatures(docs: DataFrame) -> DataFrame:
    """Portable MinHash signatures (s0..s15) for a (doc_id, text)
    DataFrame — the reusable core behind minhash_portable_signatures,
    minhash_portable_band_pairs, and the production dedup path."""
    tok = docs.select(
        "doc_id", F.explode(_shingles(F.col("text"), 3)).alias("tok")
    )
    code = _tok_code_spark()
    aggs = [
        F.min((F.lit(a) * code + F.lit(b)) % _MH_P).cast("bigint").alias(f"s{i}")
        for i, (a, b) in enumerate(_MH_COEFFS)
    ]
    return tok.groupBy("doc_id").agg(*aggs)


@register(
    "minhash_portable_band_pairs",
    oracle=_band_pairs_oracle(),
    doc="LSH banding over the portable MinHash signatures (4 bands x "
    "4 rows): documents agreeing on ANY band become candidate pairs, "
    "scored by how many bands they share.  The band equi-join is the "
    "whole point — candidates come from hash-bucket collisions, "
    "never an all-pairs comparison, so the join cost follows bucket "
    "occupancy (near-dup mass), not corpus².  Buckets larger than "
    f"{_MH_MAX_BUCKET} members are dropped before the self-join (the "
    "same hot-bucket guard as the xxhash64 tier, mirrored in the "
    "oracle) so a low-entropy corpus cannot degenerate the join "
    "toward O(n²).  Fully oracle-checked, unlike the xxhash64 tier "
    "where only recall can be tested.",
    tags=("llm", "dedup", "join"),
)
def minhash_portable_band_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return portable_band_pairs(portable_signatures(docs)).orderBy("doc_a", "doc_b")


def band_rows(sig: DataFrame) -> DataFrame:
    """UNguarded LSH band rows (doc_id, band_id, band_val) from
    portable signatures — the raw posting relation; callers apply the
    hot-bucket guard over whatever occupancy scope their semantics
    demand (`pruned_band_buckets` counts the whole relation;
    `incremental_dedup_persisted_index` sums persisted index-side
    counts with fresh batch-side counts).  Checkpointed: every caller
    fans it into ≥ 2 consumers (occupancy count + join side(s))."""
    # 4-row band fold kept inside BIGINT: two P²-scale halves, each
    # reduced mod 1e9+7 before pairing (≈2.0e18 max, inside 2^63).
    band_arr = F.array(
        *[
            (
                ((F.col(f"s{4*i}") * _MH_P + F.col(f"s{4*i+1}")) % 1000000007)
                * 2000000011
                + ((F.col(f"s{4*i+2}") * _MH_P + F.col(f"s{4*i+3}")) % 1000000007)
            )
            for i in range(4)
        ]
    )
    bands = sig.select(
        "doc_id", F.posexplode(band_arr).alias("band_id0", "band_val")
    ).select("doc_id", (F.col("band_id0") + 1).alias("band_id"), "band_val")
    return bands.transform(ckpt)


def pruned_band_buckets(sig: DataFrame) -> DataFrame:
    """Hot-bucket-guarded LSH band buckets (doc_id, band_id, band_val)
    from portable signatures — the shared candidate-generation stage
    behind ``portable_band_pairs`` (full-corpus self-join) and
    ``incremental_dedup_new_batch`` (index×batch cross join).  Bucket
    occupancy is counted over the WHOLE relation before any split, so
    the > ``_MH_MAX_BUCKET`` guard sees the same buckets the oracles
    do.  (An earlier draft chained ``.format(...)`` onto this literal,
    which silently discards it — a formatted string is an expression,
    not a docstring.)"""
    bands = band_rows(sig)
    bucket_sizes = bands.groupBy("band_id", "band_val").agg(
        F.count("*").alias("__bsz")
    )
    return bands.join(
        bucket_sizes.filter(F.col("__bsz") <= _MH_MAX_BUCKET),
        ["band_id", "band_val"],
    ).drop("__bsz")


def portable_band_pairs(sig: DataFrame) -> DataFrame:
    """LSH band-collision pairs (doc_a < doc_b, n_shared_bands) from
    portable signatures — the oracle-checkable candidate generator the
    production dedup path routes through."""
    bands = pruned_band_buckets(sig)
    a, b = bands.alias("a"), bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count("*").alias("n_shared_bands"))
    )


def band_candidates(sig: DataFrame) -> DataFrame:
    """(id_a, id_b) — :func:`portable_band_pairs` in the candidate-pair
    shape the exact verify tier (``operators.dedup.set_overlap``)
    reads."""
    return portable_band_pairs(sig).select(
        F.col("doc_a").alias("id_a"), F.col("doc_b").alias("id_b")
    )


@register(
    "repetition_signals",
    oracle="""
    WITH tok AS (
        SELECT doc_id, string_split(text, ' ') AS ts FROM documents
    ),
    tri AS (
        SELECT doc_id,
               list_transform(range(1, greatest(len(ts) - 1, 1)),
                              i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2]) AS gs
        FROM tok
    ),
    big AS (
        SELECT doc_id,
               unnest(list_transform(range(1, greatest(len(ts), 1)),
                                     i -> ts[i] || ' ' || ts[i+1])) AS g
        FROM tok
    ),
    bcnt AS (SELECT doc_id, g, count(*) AS c FROM big GROUP BY 1, 2),
    btop AS (SELECT doc_id, max(c) AS top_c, CAST(sum(c) AS BIGINT) AS n_big
             FROM bcnt GROUP BY 1)
    SELECT t.doc_id,
           CAST(len(ts) AS BIGINT) AS n_tokens,
           round(1.0 - CAST(len(list_distinct(gs)) AS DOUBLE)
                       / len(gs), 6) AS dup_trigram_frac,
           round(CAST(b.top_c AS DOUBLE) / b.n_big, 6) AS top_bigram_frac
    FROM tok t
    JOIN tri USING (doc_id)
    JOIN btop b USING (doc_id)
    WHERE len(ts) >= 3
    """,
    doc="Gopher-style repetition quality signals per document (Rae et "
    "al. 2021 §A1.1): duplicate-trigram fraction (1 - distinct/total "
    "3-grams, pure array math — zero shuffle) and top-bigram "
    "fraction (most frequent bigram's share, via explode + two keyed "
    "aggregates).  High values flag boilerplate / degenerate "
    "generations for the training-data filter; composed downstream "
    "by quality_filter_verdicts.  The explode path shuffles "
    "O(tokens) rows keyed by (doc_id, bigram) with map-side "
    "partials; the trigram path never leaves the row.",
    tags=("llm", "text", "quality"),
)
def repetition_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    ts = F.split(F.col("text"), " ")
    toks = docs.select("doc_id", ts.alias("ts")).filter(F.size("ts") >= 3)
    tri = F.transform(
        F.sequence(F.lit(1), F.size("ts") - 2),
        lambda i: F.concat_ws(
            " ",
            F.element_at(F.col("ts"), i.cast("int")),
            F.element_at(F.col("ts"), (i + 1).cast("int")),
            F.element_at(F.col("ts"), (i + 2).cast("int")),
        ),
    )
    tri_stats = toks.select(
        "doc_id",
        F.size("ts").cast("bigint").alias("n_tokens"),
        F.round(
            1.0 - F.size(F.array_distinct(tri)).cast("double") / F.size(tri), 6
        ).alias("dup_trigram_frac"),
    )
    bigram = F.explode(
        F.transform(
            F.sequence(F.lit(1), F.size("ts") - 1),
            lambda i: F.concat_ws(
                " ",
                F.element_at(F.col("ts"), i.cast("int")),
                F.element_at(F.col("ts"), (i + 1).cast("int")),
            ),
        )
    )
    bcnt = (
        toks.select("doc_id", bigram.alias("g"))
        .groupBy("doc_id", "g")
        .agg(F.count("*").alias("c"))
    )
    btop = bcnt.groupBy("doc_id").agg(
        F.max("c").alias("top_c"), F.sum("c").cast("bigint").alias("n_big")
    )
    return tri_stats.join(btop, "doc_id").select(
        "doc_id",
        "n_tokens",
        "dup_trigram_frac",
        F.round(F.col("top_c").cast("double") / F.col("n_big"), 6).alias(
            "top_bigram_frac"
        ),
    )


# The heuristic verdict cascade, factored so the oracle CTE chain and
# the Spark expressions are each written ONCE — quality_filter_verdicts
# reports it, and doc_quality_logistic_gate uses verdict = 'keep' as
# its deterministic "curated" label stand-in; a threshold edit cannot
# desynchronize the two.
_QF_VERDICT_CTES = """tok AS (
        SELECT doc_id, lang, string_split(text, ' ') AS ts, text
        FROM documents
    ),
    tri AS (
        SELECT doc_id,
               list_transform(range(1, greatest(len(ts) - 1, 1)),
                              i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2]) AS gs
        FROM tok
    ),
    sig AS (
        SELECT t.doc_id, t.lang,
               len(ts) AS n_tokens,
               CAST(length(replace(t.text, ' ', '')) AS DOUBLE)
                   / greatest(len(ts), 1) AS avg_tok_len,
               CASE WHEN len(ts) >= 3
                    THEN 1.0 - CAST(len(list_distinct(gs)) AS DOUBLE) / len(gs)
                    ELSE 0.0 END AS dup_tri
        FROM tok t JOIN tri USING (doc_id)
    ),
    verdicts AS (
        SELECT doc_id, lang,
               CAST(n_tokens AS BIGINT) AS n_tokens,
               CASE
                 WHEN n_tokens < 15                         THEN 'too_short'
                 WHEN avg_tok_len < 4.2 OR avg_tok_len > 5.2 THEN 'token_len_outlier'
                 WHEN dup_tri > 0.02                        THEN 'repetitive'
                 ELSE 'keep'
               END AS verdict
        FROM sig
    )"""


def _quality_verdict_df(docs: DataFrame, with_tokens: bool = False) -> DataFrame:
    """(doc_id, lang, n_tokens, verdict) — the Spark half of
    ``_QF_VERDICT_CTES`` (Gopher/C4-style ordered rule cascade), all
    row-local array/string arithmetic.  ``with_tokens=True`` appends
    the split token array (``ts``) so a consumer that ALSO needs the
    tokens (the classifier gate's hashed-bucket counts) gets both from
    ONE scan of documents instead of two."""
    ts = F.split(F.col("text"), " ")
    tri = F.transform(
        F.sequence(F.lit(1), F.greatest(F.size("ts") - 2, F.lit(1))),
        lambda i: F.concat_ws(
            " ",
            F.element_at(F.col("ts"), i.cast("int")),
            F.element_at(F.col("ts"), (i + 1).cast("int")),
            F.element_at(F.col("ts"), (i + 2).cast("int")),
        ),
    )
    carry = ["ts"] if with_tokens else []
    sig = docs.select(
        "doc_id",
        "lang",
        ts.alias("ts"),
        "text",
    ).select(
        "doc_id",
        "lang",
        *carry,
        F.size("ts").alias("n_tokens"),
        (
            F.length(F.replace(F.col("text"), F.lit(" "), F.lit(""))).cast("double")
            / F.greatest(F.size("ts"), F.lit(1))
        ).alias("avg_tok_len"),
        F.when(
            F.size("ts") >= 3,
            1.0 - F.size(F.array_distinct(tri)).cast("double") / F.size(tri),
        )
        .otherwise(F.lit(0.0))
        .alias("dup_tri"),
    )
    verdict = (
        F.when(F.col("n_tokens") < 15, F.lit("too_short"))
        .when(
            (F.col("avg_tok_len") < 4.2) | (F.col("avg_tok_len") > 5.2),
            F.lit("token_len_outlier"),
        )
        .when(F.col("dup_tri") > 0.02, F.lit("repetitive"))
        .otherwise(F.lit("keep"))
    )
    return sig.select(
        "doc_id",
        "lang",
        *carry,
        F.col("n_tokens").cast("bigint").alias("n_tokens"),
        verdict.alias("verdict"),
    )


@register(
    "quality_filter_verdicts",
    oracle=f"""
    WITH {_QF_VERDICT_CTES}
    SELECT lang, verdict, count(*) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS total_tokens
    FROM verdicts
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
    doc="Composed training-data quality filter (the decision layer "
    "over text_quality_scores / repetition_signals, in the style of "
    "Gopher/C4 filtering): each document gets ONE verdict from an "
    "ordered rule cascade (too_short -> token-length outlier -> "
    "repetitive -> keep; thresholds tuned to split the synthetic "
    "fixture so every rule fires) reported as per-(lang, verdict) doc and "
    "token counts — the dataset-curation dashboard.  All signals "
    "are row-local array/string arithmetic; the only shuffle is the "
    "final tiny rollup.  At 100 TB this is one map pass over "
    "documents plus a |langs| x |verdicts| aggregate.",
    tags=("llm", "text", "quality"),
)
def quality_filter_verdicts(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        _quality_verdict_df(docs)
        .select("lang", "n_tokens", "verdict")
        .groupBy("lang", "verdict")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("total_tokens"),
        )
        .orderBy("lang", "verdict")
    )


_DSIR_BUCKETS = 1024  # DSIR's fixed hashed-feature space (also the classifier gate's)

# feat relation for the GPT-3/CCNet-style doc-quality classifier:
# nested-WITH body handed to _irls_oracle_ctes (it wraps this as the
# `feat` CTE).  f1 is the hashed-unigram naive-Bayes log-ratio score
# quantized per BUCKET to integer micro-nats (sum of BIGINTs →
# aggregation-order-free, the perplexity discipline), normalized per
# token; f2 = ln(1 + doc tokens); y = the heuristic verdict cascade's
# 'keep' (the deterministic curated-vs-crawl label stand-in).
_DQ_FEAT_SQL = f"""
        WITH {_QF_VERDICT_CTES},
        toksq AS (
            SELECT doc_id,
                   CAST('0x' || substr(md5(unnest(string_split(text, ' '))),
                                       1, 12)
                        AS BIGINT) % {{nb}} AS b
            FROM documents
        ),
        bc AS (SELECT doc_id, b, count(*) AS cnt FROM toksq GROUP BY 1, 2),
        tgt AS (
            SELECT b, CAST(count(*) AS DOUBLE) AS c
            FROM toksq
            JOIN (SELECT doc_id FROM verdicts WHERE verdict = 'keep')
                 USING (doc_id)
            GROUP BY 1
        ),
        rawc AS (SELECT b, CAST(count(*) AS DOUBLE) AS c FROM toksq GROUP BY 1),
        tgt_tot AS (SELECT sum(c) AS tot FROM tgt),
        raw_tot AS (SELECT sum(c) AS tot FROM rawc),
        lmicro AS (
            SELECT r.b,
                   CAST(round(ln(((coalesce(g.c, 0) + 1.0) / (gt.tot + {{nb}}))
                                 / ((r.c + 1.0) / (rt.tot + {{nb}})))
                              * 1000000, 0) AS BIGINT) AS lm
            FROM rawc r LEFT JOIN tgt g USING (b)
            CROSS JOIN tgt_tot gt CROSS JOIN raw_tot rt
        ),
        fr AS (
            SELECT bc.doc_id,
                   CAST(sum(bc.cnt * lm) AS BIGINT) AS f1i,
                   CAST(sum(bc.cnt) AS BIGINT) AS ntok
            FROM bc JOIN lmicro USING (b) GROUP BY 1
        )
        SELECT v.lang, v.doc_id,
               round(f1i / (1000000.0 * ntok), 6) AS f1,
               round(ln(1.0 + ntok), 6) AS f2,
               CAST(v.verdict = 'keep' AS INTEGER) AS y
        FROM fr JOIN verdicts v USING (doc_id)""".replace(
    "{nb}", str(_DSIR_BUCKETS)
)


def _dq_gate_oracle(rounds: int = _IRLS_ROUNDS) -> str:
    keep = "b0 + b1*f1 + b2*f2 >= 0"  # p >= 0.5 ⟺ eta >= 0, no exp needed
    return (
        _irls_oracle_ctes(_DQ_FEAT_SQL, rounds)
        + f"""
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN {keep} THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           round(sum(CASE WHEN {keep} THEN 1 ELSE 0 END)
                 / CAST(count(*) AS DOUBLE), 6) AS keep_rate,
           CAST(sum(CASE WHEN {keep} THEN doc_id END) AS BIGINT)
               AS kept_id_checksum,
           round(any_value(b0), 4) AS beta0,
           round(any_value(b1), 4) AS beta1,
           round(any_value(b2), 4) AS beta2
    FROM feat CROSS JOIN beta{rounds}
    GROUP BY lang ORDER BY lang"""
    )


@register(
    "doc_quality_logistic_gate",
    oracle=_dq_gate_oracle(),
    doc="Doc-quality classifier gate (the GPT-3 Appendix A / CCNet "
    "curated-vs-crawl logistic filter, round-12 VERDICT item 3): "
    "score every document by a logistic model over (f1 = hashed-"
    f"unigram naive-Bayes log-ratio on DSIR's fixed {_DSIR_BUCKETS}-"
    "bucket feature space, f2 = log doc length), trained by the "
    "shared unrolled-IRLS primitive (logistic_irls_portable's exact "
    "machinery) against the heuristic verdict cascade's 'keep' as the "
    "deterministic curated-label stand-in — in production the "
    "positive class is the curated corpus (WebText/Wikipedia) and "
    "the cascade is replaced by that source bit.  Per-bucket log "
    "ratios are quantized to integer micro-nats so every per-doc "
    "feature is a BIGINT sum (aggregation-order-free, the perplexity "
    "discipline).  Scale shape: the bucket tables are FIXED "
    f"{_DSIR_BUCKETS} rows at any corpus size (broadcast by "
    "construction), training is 4 × one map-side-combined 9-moment "
    "pass, scoring is the 1-row beta broadcast — no token-keyed "
    "shuffle anywhere except the per-doc bucket-count rollup.  "
    "Funnel integration decision: registered STANDALONE, like "
    "eval_decontamination — the corpus funnel's stage-2 gate is the "
    "perplexity filter (CCNet's LM stage); this classifier composes "
    "as an alternative stage-2 predicate via its kept-id set "
    "(semi-join), and keeping it standalone keeps the funnel's "
    "oracle CTE chain independent of the IRLS unroll.  Output: "
    "per-lang keep rates + kept-set id checksum + the fitted betas.",
    tags=("llm", "text", "quality", "ml", "bench"),
)
def doc_quality_logistic_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    scored = _dq_gate_scored(spark, sf_dir)
    eta = F.col("b0") + F.col("b1") * F.col("f1") + F.col("b2") * F.col("f2")
    kept = (eta >= 0).cast("int")
    return (
        scored.groupBy("lang")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum(kept).cast("bigint").alias("n_kept"),
            F.round(
                F.sum(kept).cast("double") / F.count("*"), 6
            ).alias("keep_rate"),
            F.sum(F.when(eta >= 0, F.col("doc_id")))
            .cast("bigint")
            .alias("kept_id_checksum"),
            F.round(F.any_value("b0"), 4).alias("beta0"),
            F.round(F.any_value("b1"), 4).alias("beta1"),
            F.round(F.any_value("b2"), 4).alias("beta2"),
        )
        .orderBy("lang")
    )


def _dq_gate_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, lang, f1, f2, y, b0, b1, b2) — the classifier gate's
    scored relation, shared by doc_quality_logistic_gate and
    gate_calibration_report (same fit, same features, same betas;
    the two reports cannot desynchronize)."""
    docs = load_table(spark, sf_dir, "documents")
    bucket = (
        F.conv(F.substring(F.md5(F.col("tok")), 1, 12), 16, 10).cast("bigint")
        % _DSIR_BUCKETS
    )
    # ONE scan of documents computes BOTH text passes (guide §2.3/§6,
    # r16): the heuristic verdict cascade (row-local, evaluated once
    # per doc before the token explode duplicates the row) and the
    # hashed-bucket token counts.  (lang, verdict) ride the per-(doc,
    # bucket) rollup as grouping columns — doc_id determines both, so
    # the group count is unchanged — which deletes the former verd
    # relation entirely: its second full text scan, its checkpoint,
    # the curated semi-join (now a verdict filter on bc), and the
    # feat⋈verd join.  Aggregate BEFORE the cut as in r15: the
    # checkpoint holds ≤ |docs|·1024 rows, integer counts whose sums
    # equal the old per-token counts EXACTLY — bit-identical results.
    bc = (
        _quality_verdict_df(docs, with_tokens=True)
        .select("doc_id", "lang", "verdict", F.explode("ts").alias("tok"))
        .select("doc_id", "lang", "verdict", bucket.alias("b"))
        .groupBy("doc_id", "lang", "verdict", "b")
        .agg(F.count("*").alias("cnt"))
        .transform(ckpt)
    )
    # ONE bucket aggregate computes BOTH distributions (r16): gc is a
    # conditional sum inside the rc pass — sum(when(keep, cnt)) is
    # NULL exactly where the former keep-filtered aggregate had no
    # row, so the downstream coalesce(gc, 0) sees identical inputs.
    # Deletes the second aggregate job, the rawc⋈tgt left join, and
    # one of the two total crossJoins; integer sums throughout, so
    # values are bit-identical.
    gb = bc.groupBy("b").agg(
        F.sum("cnt").cast("double").alias("rc"),
        F.sum(F.when(F.col("verdict") == "keep", F.col("cnt")))
        .cast("double")
        .alias("gc"),
    )
    tots = gb.agg(F.sum("rc").alias("rtot"), F.sum("gc").alias("gtot"))
    nb = F.lit(float(_DSIR_BUCKETS))
    lm = (
        F.round(
            F.log(
                (
                    (F.coalesce(F.col("gc"), F.lit(0.0)) + 1.0)
                    / (F.col("gtot") + nb)
                )
                / ((F.col("rc") + 1.0) / (F.col("rtot") + nb))
            )
            * 1000000,
            0,
        )
        .cast("bigint")
        .alias("lm")
    )
    # <= _DSIR_BUCKETS rows by construction — the provably bounded
    # broadcast case (the hashed-feature design exists to pin this)
    lmicro = gb.crossJoin(F.broadcast(tots)).select("b", lm)
    # (lang, verdict) are functions of doc_id, so grouping by them too
    # changes nothing about the groups — and feat needs no verd join.
    fr = (
        bc.join(F.broadcast(lmicro), "b")
        .groupBy("doc_id", "lang", "verdict")
        .agg(
            F.sum(F.col("cnt") * F.col("lm")).cast("bigint").alias("f1i"),
            F.sum("cnt").cast("bigint").alias("ntok"),
        )
    )
    # read by 4 IRLS rounds + the final scoring pass — cut or the
    # token pipeline re-derives per round
    feat = (
        fr.select(
            "doc_id",
            "lang",
            F.round(F.col("f1i") / (1000000.0 * F.col("ntok")), 6).alias("f1"),
            F.round(F.log(F.lit(1.0) + F.col("ntok")), 6).alias("f2"),
            (F.col("verdict") == "keep").cast("int").alias("y"),
        )
        .transform(ckpt)
    )
    beta = _irls_fit(spark, feat)
    return feat.crossJoin(F.broadcast(beta))


def _gate_calibration_oracle(rounds: int = _IRLS_ROUNDS) -> str:
    p = "1/(1+exp(-(b0 + b1*f1 + b2*f2)))"
    return (
        _irls_oracle_ctes(_DQ_FEAT_SQL, rounds)
        + f""",
    scoredq AS (
        SELECT y,
               least(CAST(floor({p} * 10) AS BIGINT), 9) AS decile,
               CAST(round({p} * 1000000, 0) AS BIGINT) AS p_u
        FROM feat CROSS JOIN beta{rounds}
    )
    SELECT decile,
           CAST(count(*) AS BIGINT) AS n_docs,
           round(sum(p_u) / (1000000.0 * count(*)), 6) AS avg_p,
           round(CAST(sum(y) AS DOUBLE) / count(*), 6) AS frac_label_keep
    FROM scoredq GROUP BY decile ORDER BY decile"""
    )


@register(
    "gate_calibration_report",
    oracle=_gate_calibration_oracle(),
    doc="Reliability diagram for the doc-quality classifier gate — "
    "the ML-ops check a pipeline owner runs before trusting "
    "doc_quality_logistic_gate's threshold: scored probabilities "
    "binned into deciles, each bin reporting its mean predicted p "
    "against the empirical label rate (well-calibrated ⇒ the two "
    "track; a bin where they diverge is where the 0.5 cutoff "
    "misbehaves).  Shares the gate's EXACT fit and scored relation "
    "(_dq_gate_scored), so report and gate cannot desynchronize.  "
    "Determinism: per-row p is quantized to integer micro-units "
    "before the bin mean (order-free integer sums, the audit-sweep "
    "discipline).  Scale shape: one pass over the scored relation "
    "into a ≤10-row rollup.",
    tags=("llm", "quality", "ml", "dataops"),
)
def gate_calibration_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    scored = _dq_gate_scored(spark, sf_dir)
    p = F.lit(1.0) / (
        F.lit(1.0)
        + F.exp(
            -(
                F.col("b0")
                + F.col("b1") * F.col("f1")
                + F.col("b2") * F.col("f2")
            )
        )
    )
    binned = scored.select(
        "y",
        F.least(F.floor(p * 10).cast("bigint"), F.lit(9)).alias("decile"),
        F.round(p * 1000000, 0).cast("bigint").alias("p_u"),
    )
    return (
        binned.groupBy("decile")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.round(
                F.sum("p_u") / (1000000.0 * F.count("*")), 6
            ).alias("avg_p"),
            F.round(
                F.sum("y").cast("double") / F.count("*"), 6
            ).alias("frac_label_keep"),
        )
        .orderBy("decile")
    )


_BM25_TERMS = ("hash", "vector", "stream")
_BM25_K1 = 1.2
_BM25_B = 0.75


@register(
    "bm25_retrieval_topk",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS w,
               len(string_split(text, ' ')) AS dl
        FROM documents
    ),
    stats AS (
        SELECT count(*) AS n_docs, avg(len(string_split(text, ' '))) AS avgdl
        FROM documents
    ),
    tf AS (
        SELECT doc_id, w, count(*) AS tf, max(dl) AS dl
        FROM tok
        WHERE w IN ('hash', 'vector', 'stream')
        GROUP BY doc_id, w
    ),
    df AS (SELECT w, count(*) AS df FROM tf GROUP BY w),
    scored AS (
        SELECT t.doc_id,
               sum(ln(1.0 + (s.n_docs - d.df + 0.5) / (d.df + 0.5))
                   * t.tf * ({_BM25_K1} + 1.0)
                   / (t.tf + {_BM25_K1} * (1.0 - {_BM25_B}
                                           + {_BM25_B} * t.dl / s.avgdl))) AS score,
               count(*) AS n_terms_hit
        FROM tf t JOIN df d USING (w) CROSS JOIN stats s
        GROUP BY t.doc_id
    )
    SELECT doc_id, round(score, 6) AS bm25_score,
           CAST(n_terms_hit AS BIGINT) AS n_terms_hit
    FROM scored
    ORDER BY bm25_score DESC, doc_id
    LIMIT 20
    """,
    doc="BM25 retrieval scoring (Robertson/Sparck-Jones; the ranking "
    "function behind classic sparse retrieval in training-data "
    "curation): query terms ('hash', 'vector', 'stream') scored "
    "against every document with the k1=1.2 / b=0.75 "
    "length-normalized tf and the +0.5-smoothed idf.  The token "
    "explode filters to query terms BEFORE the per-(doc, term) "
    "aggregate, so shuffle volume is matches-only; corpus stats "
    "(N, avgdl) and per-term document frequencies are 1-row/|q|-row "
    "broadcasts.  Distributed top-k, no global sort.",
    tags=("llm", "text", "similarity"),
)
def bm25_retrieval_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.explode(F.split(F.col("text"), " ")).alias("w"),
        F.size(F.split(F.col("text"), " ")).alias("dl"),
    )
    stats = docs.agg(
        F.count("*").alias("n_docs"),
        F.avg(F.size(F.split(F.col("text"), " "))).alias("avgdl"),
    )
    tf = (
        toks.filter(F.col("w").isin(*_BM25_TERMS))
        .groupBy("doc_id", "w")
        .agg(F.count("*").alias("tf"), F.max("dl").alias("dl"))
        # matches-only rows feed df AND the score join: derive once
        .transform(ckpt)
    )
    df = tf.groupBy("w").agg(F.count("*").alias("df"))
    idf = F.log(1.0 + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5))
    term_score = idf * F.col("tf") * (_BM25_K1 + 1.0) / (
        F.col("tf")
        + _BM25_K1 * (1.0 - _BM25_B + _BM25_B * F.col("dl") / F.col("avgdl"))
    )
    return (
        tf.join(F.broadcast(df), "w")
        .crossJoin(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(
            F.round(F.sum(term_score), 6).alias("bm25_score"),
            F.count("*").cast("bigint").alias("n_terms_hit"),
        )
        .orderBy(F.desc("bm25_score"), "doc_id")
        .limit(20)
    )


@register(
    "maparrow_embedding_norms",
    oracle="""
    SELECT vec_id,
           round(sqrt(list_sum(list_transform(embedding,
                                              x -> CAST(x AS DOUBLE) * x))), 6)
               AS l2_norm,
           CAST(len(embedding) AS INTEGER) AS dim
    FROM embeddings
    """,
    doc="mapInArrow kernel surface (§2.10, beside pandas_udf / "
    "applyInPandas / UDTF): per-vector L2 norms computed directly on "
    "Arrow RecordBatches — no pandas materialization, the lowest-"
    "overhead Python hop Spark offers.  The numpy reduction runs in "
    "float64 on the zero-copy Arrow buffers; DuckDB reproduces the "
    "same arithmetic symbolically, so every norm is hash-checked "
    "(float summation-order differences sit far below the driver's "
    "1e-6 relative tolerance).  Pure map-side: 100 TB of vectors "
    "never shuffle.",
    tags=("llm", "similarity", "udf"),
)
def maparrow_embedding_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")

    def norms(batches):
        # self-contained kernel: pyarrow/numpy only (worker sys.path)
        import numpy as np
        import pyarrow as pa

        for batch in batches:
            tbl = batch.to_pydict()
            out_ids, out_norms, out_dims = [], [], []
            for vid, vec in zip(tbl["vec_id"], tbl["embedding"]):
                v = np.asarray(vec, dtype="float64")
                out_ids.append(vid)
                out_norms.append(round(float(np.sqrt((v * v).sum())), 6))
                out_dims.append(len(vec))
            yield pa.RecordBatch.from_pydict(
                {"vec_id": out_ids, "l2_norm": out_norms, "dim": out_dims},
                schema=pa.schema(
                    [
                        pa.field("vec_id", pa.int64()),
                        pa.field("l2_norm", pa.float64()),
                        pa.field("dim", pa.int32()),
                    ]
                ),
            )

    return emb.mapInArrow(norms, "vec_id long, l2_norm double, dim int")


@register(
    "lexicon_sentiment_scores",
    oracle="""
    WITH tok AS (
        SELECT doc_id, lang, string_split(text, ' ') AS ts FROM documents
    )
    SELECT lang,
           round(avg((CAST(len(list_filter(ts, t -> t IN ('fast'))) AS DOUBLE)
                    - len(list_filter(ts, t -> t IN ('slow'))))
                    / len(ts)), 6) AS mean_sentiment,
           CAST(sum(CASE WHEN len(list_filter(ts, t -> t IN ('fast')))
                          > len(list_filter(ts, t -> t IN ('slow')))
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_positive,
           count(*) AS n_docs
    FROM tok
    GROUP BY lang
    ORDER BY lang
    """,
    doc="Lexicon-based sentiment scoring at corpus scale (the "
    "broadcast-lexicon pattern of Spark sentiment pipelines, e.g. "
    "EDBT'16 Twitter-on-Spark): per-document score = (positive hits "
    "- negative hits) / tokens with the fixture's {'fast'} / "
    "{'slow'} micro-lexicon, rolled up per language.  The lexicon "
    "membership test is a row-local array filter (a literal IN for "
    "this 2-word demo; a broadcast join for a real 10k-word "
    "lexicon) — zero shuffle until the per-language rollup.",
    tags=("llm", "text", "quality"),
)
def lexicon_sentiment_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    ts = F.split(F.col("text"), " ")
    pos = F.size(F.filter(ts, lambda t: t == "fast"))
    neg = F.size(F.filter(ts, lambda t: t == "slow"))
    per_doc = docs.select(
        "lang",
        ((pos - neg).cast("double") / F.size(ts)).alias("score"),
        (pos > neg).cast("int").alias("is_positive"),
    )
    return (
        per_doc.groupBy("lang")
        .agg(
            F.round(F.avg("score"), 6).alias("mean_sentiment"),
            F.sum("is_positive").cast("bigint").alias("n_positive"),
            F.count("*").alias("n_docs"),
        )
        .orderBy("lang")
    )


@register(
    "trajectory_similarity_users",
    oracle="""
    WITH seq AS (
        SELECT user_id, ts, event_type,
               lead(event_type, 1) OVER (PARTITION BY user_id
                                         ORDER BY ts, event_id) AS nxt1,
               lead(event_type, 2) OVER (PARTITION BY user_id
                                         ORDER BY ts, event_id) AS nxt2
        FROM events
    ),
    big AS (
        SELECT DISTINCT user_id,
               event_type || '>' || nxt1 || '>' || nxt2 AS bg
        FROM seq WHERE nxt1 IS NOT NULL AND nxt2 IS NOT NULL
    ),
    sizes AS (SELECT user_id, count(*) AS sz FROM big GROUP BY 1),
    inter AS (
        SELECT a.user_id AS user_a, b.user_id AS user_b,
               count(*) AS n_common
        FROM big a JOIN big b
          ON a.bg = b.bg AND a.user_id < b.user_id
        GROUP BY 1, 2
    )
    SELECT user_a, user_b,
           round(CAST(n_common AS DOUBLE)
                 / (sa.sz + sb.sz - n_common), 6) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.user_id = user_a
    JOIN sizes sb ON sb.user_id = user_b
    ORDER BY jaccard DESC, user_a, user_b
    LIMIT 20
    """,
    doc="Trajectory similarity between entity behavior sequences "
    "(REPOSE/ICDE'21-style trajectory search re-expressed "
    "relationally): each user's ordered event-type sequence reduces "
    "to its transition-TRIGRAM set, and pair similarity is set "
    "Jaccard via the same inverted-index join as "
    "ngram_jaccard_pairs, reported as the top-20 most-similar "
    "pairs.  HONEST SCALE NOTE: the posting-list cut prunes only "
    "when the gram universe is large relative to per-entity "
    "activity — at this fixture's 5-type alphabet every user pair "
    "shares some trigram, so the join IS quadratic here and the op "
    "is demonstration-scale; with realistic alphabets (pages, SKUs, "
    "k in the thousands) posting lists thin out and the same plan "
    "goes sub-quadratic, with the MinHash tier "
    "(operators/dedup.py) as the banded fallback.  Feeds the "
    "causality suite: behaviorally-cloned users inflate "
    "cross-series co-occurrence.",
    tags=("causality", "similarity", "timeseries"),
)
def trajectory_similarity_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "user_id",
        "event_type",
        F.lead("event_type", 1).over(w).alias("nxt1"),
        F.lead("event_type", 2).over(w).alias("nxt2"),
    )
    big = (
        seq.filter(F.col("nxt1").isNotNull() & F.col("nxt2").isNotNull())
        .select(
            "user_id", F.concat_ws(">", "event_type", "nxt1", "nxt2").alias("bg")
        )
        .distinct()
        # trigram sets feed sizes and both self-join sides: derive once
        .transform(ckpt)
    )
    sizes = big.groupBy("user_id").agg(
        F.count("*").alias("sz")
    ).transform(ckpt)
    a, b = big.alias("a"), big.alias("b")
    inter = (
        a.join(b, (F.col("a.bg") == F.col("b.bg")) & (F.col("a.user_id") < F.col("b.user_id")))
        .groupBy(F.col("a.user_id").alias("user_a"), F.col("b.user_id").alias("user_b"))
        .agg(F.count("*").alias("n_common"))
    )
    jac = F.col("n_common").cast("double") / (F.col("sa.sz") + F.col("sb.sz") - F.col("n_common"))
    return (
        inter.join(sizes.alias("sa"), F.col("sa.user_id") == F.col("user_a"))
        .join(sizes.alias("sb"), F.col("sb.user_id") == F.col("user_b"))
        .select("user_a", "user_b", F.round(jac, 6).alias("jaccard"))
        .orderBy(F.desc("jaccard"), "user_a", "user_b")
        .limit(20)
    )


@register(
    "bigram_lm_perplexity",
    oracle="""
    WITH toks AS (
        SELECT doc_id, lang,
               generate_subscripts(string_split(text, ' '), 1) AS pos,
               unnest(string_split(text, ' ')) AS tok
        FROM documents
    ),
    big AS (
        SELECT doc_id, lang, tok AS w1,
               lead(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
        FROM toks
    ),
    bg AS (SELECT * FROM big WHERE w2 IS NOT NULL),
    c12 AS (SELECT w1, w2, count(*) AS c12 FROM bg GROUP BY 1, 2),
    c1  AS (SELECT w1, CAST(sum(c12) AS DOUBLE) AS c1 FROM c12 GROUP BY 1),
    v   AS (SELECT CAST(count(DISTINCT tok) AS DOUBLE) AS vocab FROM toks),
    scored AS (
        SELECT bg.doc_id, bg.lang,
               -ln((c12.c12 + 1.0) / (c1.c1 + v.vocab)) AS nll
        FROM bg JOIN c12 USING (w1, w2) JOIN c1 USING (w1) CROSS JOIN v
    ),
    perdoc AS (
        SELECT doc_id, lang, exp(avg(nll)) AS ppl FROM scored GROUP BY 1, 2
    )
    SELECT lang,
           round(avg(ppl), 4) AS avg_ppl,
           CAST(count(*) AS BIGINT) AS n_docs
    FROM perdoc
    GROUP BY lang
    ORDER BY lang
    """,
    doc="Corpus-trained bigram language-model perplexity per document, "
    "rolled up by language — the quality-filter signal real pretraining "
    "pipelines cut on (high perplexity under an in-domain LM = noise).  "
    "Add-one-smoothed conditional p(w2|w1) = (c12+1)/(c1+V); per-doc "
    "ppl = exp(mean nll).  Scale shape mirrors tfidf_top_terms: the "
    "bigram/unigram count tables are TERM-KEYED HASH JOINS, not "
    "broadcasts (Heaps' law — vocabulary grows with corpus size, so "
    "at 100 TB the count tables are themselves large); the only "
    "broadcast is the 1-row vocabulary size.  Two shuffles on bigram "
    "keys + one per-doc rollup, all partial-aggregated map-side.",
    tags=("llm", "text", "quality", "bench"),
)
def bigram_lm_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    # bg (the bigram fact) is checkpointed because BOTH the count
    # model and the scoring join consume it — recomputing it would
    # mean a second corpus scan + re-explode.  toks is NOT:
    # materializing the exploded token fact stores the single largest
    # intermediate of the query for the price of saving one cheap
    # map-side re-explode (vocab's second scan), which measured as the
    # dominant variance source at 30x volume (SCALE_r7.md) and is
    # exactly the intermediate you cannot afford to pin at 100 TB.
    # Bigrams are derived ROW-LOCALLY from the token array (adjacent
    # positions live in the same array cell) instead of a lead()
    # window — the doc-keyed shuffle+sort was pure overhead; the
    # bigram multiset is identical (opt guide §2.4).
    ts = F.split("text", " ")
    bg = (
        docs.select("doc_id", "lang", ts.alias("ts"))
        .filter(F.size("ts") >= 2)
        .select(
            "doc_id",
            "lang",
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size("ts") - 1),
                    lambda i: F.struct(
                        F.element_at(F.col("ts"), i.cast("int")).alias("w1"),
                        F.element_at(F.col("ts"), (i + 1).cast("int")).alias("w2"),
                    ),
                )
            ).alias("g"),
        )
        .select("doc_id", "lang", "g.w1", "g.w2")
        .transform(ckpt)
    )
    toks = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("tok")
    )
    c12 = bg.groupBy("w1", "w2").agg(F.count("*").alias("c12"))
    c1 = c12.groupBy("w1").agg(F.sum("c12").cast("double").alias("c1"))
    vocab = toks.agg(F.countDistinct("tok").cast("double").alias("vocab"))
    # pre-join the two COUNT tables (both bigram/unigram-distinct sized,
    # w1-keyed) so the fact-sized bg relation joins the model exactly
    # once on (w1, w2) — one fewer fact shuffle than chaining
    # bg ⋈ c12 ⋈ c1
    model = c12.join(c1, "w1")
    scored = (
        bg.join(model, ["w1", "w2"])
        .crossJoin(F.broadcast(vocab))
        .select(
            "doc_id",
            "lang",
            (-F.log((F.col("c12") + 1.0) / (F.col("c1") + F.col("vocab")))).alias("nll"),
        )
    )
    perdoc = scored.groupBy("doc_id", "lang").agg(F.exp(F.avg("nll")).alias("ppl"))
    return (
        perdoc.groupBy("lang")
        .agg(
            F.round(F.avg("ppl"), 4).alias("avg_ppl"),
            F.count("*").cast("bigint").alias("n_docs"),
        )
        .orderBy("lang")
    )


@register(
    "source_kl_divergence",
    oracle="""
    WITH toks AS (
        SELECT source, unnest(string_split(text, ' ')) AS tok
        FROM documents
    ),
    src_tok AS (
        SELECT source, tok, CAST(count(*) AS DOUBLE) AS c
        FROM toks GROUP BY 1, 2
    ),
    src_tot AS (
        SELECT source, sum(c) AS tot FROM src_tok GROUP BY 1
    ),
    corpus_tok AS (
        SELECT tok, CAST(sum(c) AS DOUBLE) AS cc FROM src_tok GROUP BY 1
    ),
    corpus_tot AS (SELECT sum(cc) AS ct FROM corpus_tok)
    SELECT s.source,
           round(sum((s.c / st.tot) * ln((s.c / st.tot) / (q.cc / ctot.ct))), 6)
               AS kl_vs_corpus,
           CAST(count(*) AS BIGINT) AS n_distinct_tokens
    FROM src_tok s
    JOIN src_tot st USING (source)
    JOIN corpus_tok q USING (tok)
    CROSS JOIN corpus_tot ctot
    GROUP BY s.source
    ORDER BY s.source
    """,
    doc="Per-source KL divergence of token distributions against the "
    "whole corpus — the domain-shift / contamination screen a mixture "
    "builder runs before weighting sources (a source with high "
    "KL(p_src || p_corpus) is out-of-domain or degenerate).  Every "
    "source's support is a subset of the corpus support by "
    "construction, so the divergence is finite without smoothing.  "
    "Scale shape: one explode + two term-keyed partial aggregates; "
    "the per-source/corpus joins are keyed on token (Heaps' law — "
    "never broadcast), and only per-source scalars cross-join the "
    "1-row corpus total.",
    tags=("llm", "text", "quality", "mixture"),
)
def source_kl_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("source", F.explode(F.split("text", " ")).alias("tok"))
    # (source, token) counts feed three derivations (per-source totals,
    # corpus marginals, the KL join): cut the lineage so the token
    # explode runs once
    src_tok = toks.groupBy("source", "tok").agg(
        F.count("*").cast("double").alias("c")
    ).transform(ckpt)
    src_tot = src_tok.groupBy("source").agg(F.sum("c").alias("tot"))
    corpus_tok = src_tok.groupBy("tok").agg(F.sum("c").alias("cc"))
    corpus_tot = corpus_tok.agg(F.sum("cc").alias("ct"))
    return (
        src_tok.join(src_tot, "source")
        .join(corpus_tok, "tok")
        .crossJoin(F.broadcast(corpus_tot))
        .groupBy("source")
        .agg(
            F.round(
                F.sum(
                    (F.col("c") / F.col("tot"))
                    * F.log((F.col("c") / F.col("tot")) / (F.col("cc") / F.col("ct")))
                ),
                6,
            ).alias("kl_vs_corpus"),
            F.count("*").cast("bigint").alias("n_distinct_tokens"),
        )
        .orderBy("source")
    )


@register(
    "fuzzy_match_levenshtein",
    oracle="""
    WITH names AS (
        SELECT DISTINCT p_name,
               string_split(p_name, ' ')[-1] AS noun
        FROM part
    )
    SELECT a.p_name AS name_a,
           b.p_name AS name_b,
           CAST(levenshtein(a.p_name, b.p_name) AS INTEGER) AS dist
    FROM names a
    JOIN names b ON a.noun = b.noun AND a.p_name < b.p_name
    WHERE levenshtein(a.p_name, b.p_name) <= 3
    ORDER BY name_a, name_b
    """,
    doc="Fuzzy string matching via edit distance — the entity-"
    "resolution / catalog-dedup primitive: distinct part names paired "
    "within a BLOCKING key (shared final noun) and kept when "
    "levenshtein <= 3.  Blocking is the scale story: the quadratic "
    "levenshtein only runs inside blocks (same discipline as the LSH "
    "band buckets), never name×name across the catalog; both the "
    "block join and the distance are whole-stage-codegen built-ins "
    "(F.levenshtein), no UDF.  At 100 TB, block on a cheap canonical "
    "key (phonetic code, length band, first token) sized so the "
    "biggest block stays bounded — the hot-bucket guard applies "
    "identically.",
    tags=("llm", "text", "dedup"),
)
def fuzzy_match_levenshtein(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part")
    names = part.select(
        "p_name", F.element_at(F.split("p_name", " "), -1).alias("noun")
    ).distinct()
    a = names.select(F.col("p_name").alias("name_a"), F.col("noun").alias("noun_a"))
    b = names.select(F.col("p_name").alias("name_b"), F.col("noun").alias("noun_b"))
    return (
        a.join(b, (F.col("noun_a") == F.col("noun_b")) & (F.col("name_a") < F.col("name_b")))
        .select(
            "name_a",
            "name_b",
            F.levenshtein("name_a", "name_b").cast("int").alias("dist"),
        )
        .filter(F.col("dist") <= 3)
        .orderBy("name_a", "name_b")
    )


def _portable_simhash_cte(n_bits: int = 48) -> str:
    """Shared CTE chain ending in ``fps(doc_id, simhash48, band16)`` —
    the explode/group DuckDB replay of the portable SimHash: md5-derived
    48-bit token codes, ±1 votes per bit, sign → fingerprint bit.  The
    oracle favors readability (explode + groupBy); the Spark side keeps
    the map-side array-accumulator form — same algorithm, same values."""
    votes = ",\n               ".join(
        f"sum(CASE WHEN (code >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS v{b}"
        for b in range(n_bits)
    )
    fp = " + ".join(f"CASE WHEN v{b} > 0 THEN {1 << b} ELSE 0 END" for b in range(n_bits))
    return f"""
    WITH toks AS (
        SELECT doc_id, unnest(list_distinct(string_split_regex(trim(text), ' +'))) AS tok
        FROM documents
    ),
    coded AS (
        SELECT doc_id, CAST('0x' || substr(md5(tok), 1, 12) AS BIGINT) AS code
        FROM toks
    ),
    votes AS (
        SELECT doc_id,
               {votes}
        FROM coded GROUP BY doc_id
    ),
    fps AS (
        SELECT doc_id,
               CAST({fp} AS BIGINT) AS simhash48,
               CAST(({fp}) >> 32 AS BIGINT) AS band16
        FROM votes
    )
    """


def _portable_simhash_oracle() -> str:
    return _portable_simhash_cte() + "SELECT * FROM fps ORDER BY doc_id"


@register(
    "simhash_portable_fingerprints",
    oracle=_portable_simhash_oracle(),
    doc="PORTABLE SimHash twin of simhash_fingerprints (same ±1 "
    "bit-vote algorithm, same near-dup property: small Hamming "
    "distance ≈ high token overlap) with md5-derived 48-bit token "
    "codes instead of engine-specific xxhash64 — so every fingerprint "
    "is reproducible in any engine and the driver hash-checks the "
    "whole computation, the same portable-tier discipline as "
    "minhash_portable_signatures.  Execution is the measured-fastest "
    "single-pass array-accumulator form (one traversal of the token "
    "list updates all 48 vote counters via zip_with): pure map-side "
    "column math, zero shuffle at any corpus size.  band16 (the top "
    "16 bits) is the block key a Hamming-LSH candidate join buckets "
    "on.  Cites operators/dedup.py:150 for the xxhash64 production "
    "tier.",
    tags=("llm", "dedup", "sketch"),
)
def simhash_portable_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    n_bits = 48
    docs = load_table(spark, sf_dir, "documents")
    toks = F.array_distinct(F.split(F.trim(F.col("text")), " +"))
    codes = F.transform(
        toks, lambda t: F.conv(F.substring(F.md5(t), 1, 12), 16, 10).cast("bigint")
    )
    masks = F.array(*[F.lit(1 << b).cast("long") for b in range(n_bits)])
    zero = F.array(*[F.lit(0) for _ in range(n_bits)])
    votes = F.aggregate(
        codes,
        zero,
        lambda acc, c: F.zip_with(
            acc,
            masks,
            lambda v, m: v + F.when(c.bitwiseAND(m) != 0, 1).otherwise(-1),
        ),
    )
    fp = F.aggregate(
        F.zip_with(votes, masks, lambda v, m: F.when(v > 0, m).otherwise(F.lit(0).cast("long"))),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    return docs.select(
        "doc_id",
        fp.alias("simhash48"),
        F.shiftright(fp, 32).cast("bigint").alias("band16"),
    ).orderBy("doc_id")


@register(
    "simhash_hamming_pairs",
    oracle=_portable_simhash_cte()
    + """
    SELECT a.doc_id AS doc_a,
           b.doc_id AS doc_b,
           CAST(bit_count(xor(a.simhash48, b.simhash48)) AS INTEGER) AS hamming
    FROM fps a
    JOIN fps b ON a.band16 = b.band16 AND a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash48, b.simhash48)) <= 12
    ORDER BY doc_a, doc_b
    """,
    doc="SimHash near-dup candidate pairs: fingerprints blocked on "
    "band16 (top 16 bits — documents differing there cannot be within "
    "Hamming 12 of each other on those bits, so the block key is a "
    "true LSH bucket), then exact Hamming distance via "
    "bit_count(xor) inside blocks only.  The block equi-join keeps "
    "the pair count proportional to bucket occupancy, never corpus²; "
    "bit_count/xor are single codegen'd instructions.  Fully "
    "hash-checked end-to-end on the portable fingerprint tier.",
    tags=("llm", "dedup", "join"),
)
def simhash_hamming_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # both self-join sides read the fingerprints: compute the (500-row
    # per 500-doc, always tiny-per-doc) fingerprint table once
    fps = simhash_portable_fingerprints(spark, sf_dir).transform(ckpt)
    a = fps.select(
        F.col("doc_id").alias("doc_a"),
        F.col("simhash48").alias("fp_a"),
        F.col("band16").alias("band_a"),
    )
    b = fps.select(
        F.col("doc_id").alias("doc_b"),
        F.col("simhash48").alias("fp_b"),
        F.col("band16").alias("band_b"),
    )
    ham = F.bit_count(F.col("fp_a").bitwiseXOR(F.col("fp_b"))).cast("int")
    return (
        a.join(b, (F.col("band_a") == F.col("band_b")) & (F.col("doc_a") < F.col("doc_b")))
        .select("doc_a", "doc_b", ham.alias("hamming"))
        .filter(F.col("hamming") <= 12)
        .orderBy("doc_a", "doc_b")
    )


# Fixed (a, b) pairs for the portable sign-random-projection family:
# hyperplane h_b has integer coefficients c(b,d) = ((a_b*d + b_b) mod
# 1009) - 504 over dims d=1..64 — pseudo-random +-uniform weights any
# engine reproduces exactly (the portable-tier discipline of
# _MH_COEFFS, applied to angular LSH).
_RP_COEFFS = [
    (131, 17), (137, 89), (139, 211), (149, 307),
    (151, 401), (157, 499), (163, 601), (167, 701),
    (173, 797), (179, 883), (181, 947), (191, 101),
    (193, 199), (197, 293), (199, 389), (211, 487),
]
_RP_DIM = 64


def _rp_dot_sql(a: int, b: int) -> str:
    return (
        f"list_sum(list_transform(range(1, {_RP_DIM + 1}), "
        f"d -> CAST(embedding[d] AS DOUBLE) * (((({a} * d + {b}) % 1009)) - 504)))"
    )


def _rp_sig_sql() -> str:
    bits = " + ".join(
        f"CASE WHEN {_rp_dot_sql(a, b)} > 0 THEN {1 << i} ELSE 0 END"
        for i, (a, b) in enumerate(_RP_COEFFS)
    )
    return f"CAST({bits} AS BIGINT)"


def _rp_sig_spark():
    sig = F.lit(0)
    for i, (a, b) in enumerate(_RP_COEFFS):
        dot = F.expr(
            f"aggregate(transform(sequence(1, {_RP_DIM}), "
            f"d -> cast(element_at(embedding, d) as double) * (((({a} * d + {b}) % 1009)) - 504)), "
            "0D, (acc, x) -> acc + x)"
        )
        sig = sig + F.when(dot > 0, F.lit(1 << i)).otherwise(F.lit(0))
    return sig.cast("bigint")


@register(
    "rp_lsh_portable_signatures",
    oracle=f"""
    SELECT vec_id, {_rp_sig_sql()} AS sig16
    FROM embeddings
    ORDER BY vec_id
    """,
    doc="PORTABLE sign-random-projection (angular LSH) signatures: 16 "
    "deterministic integer hyperplanes, each bit the sign of one "
    "dot product — the oracle-checkable twin of the "
    "BucketedRandomProjectionLSH tier (cosine_topk_lsh, whose "
    "engine-internal gaussian planes can only be recall-tested).  "
    "Same property (P[bit match] = 1 - angle/pi), every value "
    "reproducible in any engine; both sides accumulate the dot "
    "product left-to-right in double precision so the sign threshold "
    "agrees bit-for-bit.  Pure map-side column math, zero shuffle.",
    tags=("llm", "similarity", "sketch"),
)
def rp_lsh_portable_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return emb.select("vec_id", _rp_sig_spark().alias("sig16")).orderBy("vec_id")


@register(
    "rp_lsh_portable_pairs",
    oracle=f"""
    WITH sigs AS (
        SELECT vec_id, {_rp_sig_sql()} AS sig16 FROM embeddings
    ),
    bands AS (
        SELECT vec_id, b.band_id, (sig16 >> (4 * b.band_id)) & 15 AS band_val
        FROM sigs, (SELECT unnest(range(0, 4)) AS band_id) b
    ),
    ok_bands AS (
        SELECT band_id, band_val FROM bands
        GROUP BY 1, 2 HAVING count(*) <= 300
    ),
    cand AS (
        SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
        FROM bands a
        JOIN ok_bands k ON k.band_id = a.band_id AND k.band_val = a.band_val
        JOIN bands b ON b.band_id = a.band_id AND b.band_val = a.band_val
                    AND a.vec_id < b.vec_id
    )
    SELECT c.id_a, c.id_b,
           round(list_cosine_similarity(CAST(ea.embedding AS DOUBLE[]),
                                        CAST(eb.embedding AS DOUBLE[])), 6) AS sim
    FROM cand c
    JOIN embeddings ea ON ea.vec_id = c.id_a
    JOIN embeddings eb ON eb.vec_id = c.id_b
    WHERE list_cosine_similarity(CAST(ea.embedding AS DOUBLE[]),
                                 CAST(eb.embedding AS DOUBLE[])) >= 0.3
    ORDER BY id_a, id_b
    """,
    doc="Banded angular-LSH candidate pairs over the portable RP "
    "signatures (4 bands x 4 bits: a pair collides if ANY nibble "
    "agrees — P = 1-(1-p^4)^4, steep around p=cos-similarity ~0.9), "
    "then exact cosine on candidates only, threshold 0.3.  Buckets "
    "larger than 300 are dropped before the self-join (the standard "
    "hot-bucket guard, mirrored in the oracle), so candidate volume "
    "follows near-dup mass, never corpus².  Fully hash-checked "
    "end-to-end — the embedding analog of minhash_portable_band_pairs.",
    tags=("llm", "similarity", "dedup", "join"),
)
def rp_lsh_portable_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.arrays import cosine_similarity

    emb = load_table(spark, sf_dir, "embeddings")
    sigs = emb.select("vec_id", _rp_sig_spark().alias("sig16"))
    band_vals = F.array(
        *[
            F.shiftright(F.col("sig16"), 4 * i).bitwiseAND(F.lit(15)).cast("bigint")
            for i in range(4)
        ]
    )
    bands = sigs.select(
        "vec_id", F.posexplode(band_vals).alias("band_id", "band_val")
    )
    bands = bands.transform(ckpt)
    ok = (
        bands.groupBy("band_id", "band_val")
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") <= 300)
        .select("band_id", "band_val")
    )
    guarded = bands.join(ok, ["band_id", "band_val"])
    a = guarded.select("band_id", "band_val", F.col("vec_id").alias("id_a"))
    b = guarded.select("band_id", "band_val", F.col("vec_id").alias("id_b"))
    cand = (
        a.join(b, ["band_id", "band_val"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    ea = emb.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("va"))
    eb = emb.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("vb"))
    return (
        cand.join(ea, "id_a")
        .join(eb, "id_b")
        .select(
            "id_a",
            "id_b",
            cosine_similarity(F.col("va"), F.col("vb")).alias("sim"),
        )
        .filter(F.col("sim") >= 0.3)
        .select("id_a", "id_b", F.round("sim", 6).alias("sim"))
        .orderBy("id_a", "id_b")
    )


@register(
    "stratified_sample_deterministic",
    oracle="""
    WITH frac AS (
        SELECT * FROM (VALUES ('en', 0.9), ('es', 0.5), ('fr', 0.5),
                              ('de', 0.25), ('zh', 0.25)) AS t(lang, f)
    ),
    tagged AS (
        SELECT d.lang, d.doc_id, f.f,
               CAST((d.doc_id * 2654435761) % 1000000007 AS DOUBLE)
                   / 1000000007 AS u
        FROM documents d JOIN frac f USING (lang)
    )
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_total,
           CAST(sum(CASE WHEN u < f THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled,
           CAST(min(CASE WHEN u < f THEN doc_id END) AS BIGINT) AS first_sampled_id
    FROM tagged
    GROUP BY lang
    ORDER BY lang
    """,
    doc="Deterministic stratified sampling — the fully-oracled twin of "
    "stratified_sample_by_lang (whose sampleBy draws from Spark's "
    "per-partition RNG stream and can only be proportion-tested): "
    "each row's inclusion is decided by its OWN key's Knuth-"
    "multiplicative hash mapped to [0,1) against the stratum "
    "fraction, so the sample is identical on any engine, any "
    "partitioning, any day — the reproducibility property training-"
    "data pipelines actually need for audits and incremental re-runs.  "
    "Map-side Bernoulli per row (fractions broadcast), one rollup.",
    tags=("llm", "sampling"),
)
def stratified_sample_deterministic(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    frac = local_frame(
        spark,
        [("en", 0.9), ("es", 0.5), ("fr", 0.5), ("de", 0.25), ("zh", 0.25)],
        "lang string, f double",
    )
    u = ((F.col("doc_id") * 2654435761) % 1000000007).cast("double") / 1000000007
    tagged = docs.join(F.broadcast(frac), "lang").select(
        "lang", "doc_id", "f", u.alias("u")
    )
    keep = F.col("u") < F.col("f")
    return (
        tagged.groupBy("lang")
        .agg(
            F.count("*").cast("bigint").alias("n_total"),
            F.sum(keep.cast("int")).cast("bigint").alias("n_sampled"),
            F.min(F.when(keep, F.col("doc_id"))).cast("bigint").alias("first_sampled_id"),
        )
        .orderBy("lang")
    )


@register(
    "fuzzy_entity_clusters",
    oracle="""
    WITH RECURSIVE names AS (
        SELECT DISTINCT p_name,
               string_split(p_name, ' ')[-1] AS noun
        FROM part
    ),
    prs AS (
        SELECT a.p_name AS na, b.p_name AS nb
        FROM names a
        JOIN names b ON a.noun = b.noun AND a.p_name < b.p_name
        WHERE levenshtein(a.p_name, b.p_name) <= 3
    ),
    edges AS (
        SELECT na AS u, nb AS v FROM prs
        UNION SELECT nb, na FROM prs
    ),
    reach(u, v) AS (
        SELECT u, v FROM edges
        UNION
        SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
    ),
    comp AS (SELECT u AS p_name, least(u, min(v)) AS canonical FROM reach GROUP BY u)
    SELECT n.p_name,
           coalesce(c.canonical, n.p_name) AS canonical,
           CAST(coalesce(c.canonical, n.p_name) = n.p_name AS INTEGER)
               AS is_canonical
    FROM names n LEFT JOIN comp c USING (p_name)
    ORDER BY p_name
    """,
    doc="Entity resolution end-to-end: the blocked levenshtein match "
    "graph (fuzzy_match_levenshtein's edges) collapsed to canonical "
    "entities via min-label connected components (operators/graph.py "
    "— same engine loop as dedup_jaccard_clusters, which works "
    "unchanged on STRING node ids since propagation only needs an "
    "ordering); canonical = lexicographic min name per component, "
    "singletons canonical by themselves.  The oracle replays matching "
    "+ closure with a recursive CTE, so every cluster assignment is "
    "hash-checked.  The composition a catalog-dedup pipeline ships: "
    "block → edit-distance match → transitive closure → survivor.",
    tags=("llm", "dedup", "graph"),
)
def fuzzy_entity_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.graph import connected_components

    part = load_table(spark, sf_dir, "part")
    names = part.select(
        "p_name", F.element_at(F.split("p_name", " "), -1).alias("noun")
    ).distinct()
    a = names.select(F.col("p_name").alias("na"), F.col("noun").alias("noun_a"))
    b = names.select(F.col("p_name").alias("nb"), F.col("noun").alias("noun_b"))
    prs = (
        a.join(b, (F.col("noun_a") == F.col("noun_b")) & (F.col("na") < F.col("nb")))
        .filter(F.levenshtein("na", "nb") <= 3)
        .select(F.col("na").alias("id_a"), F.col("nb").alias("id_b"))
    )
    comp = connected_components(prs)
    return (
        names.join(comp, names.p_name == comp.node, "left")
        .select(
            "p_name",
            F.coalesce(F.col("cluster_id"), F.col("p_name")).alias("canonical"),
            (F.coalesce(F.col("cluster_id"), F.col("p_name")) == F.col("p_name"))
            .cast("int")
            .alias("is_canonical"),
        )
        .orderBy("p_name")
    )


@register(
    "tfidf_doc_similarity",
    oracle="""
    WITH toks AS (
        SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS w
        FROM documents
    ),
    dfreq AS (SELECT w, CAST(count(*) AS DOUBLE) AS df FROM toks GROUP BY 1),
    nd AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM documents),
    wtok AS (
        SELECT t.doc_id, t.w, ln(nd.n / dfreq.df) AS idf
        FROM toks t JOIN dfreq USING (w) CROSS JOIN nd
        WHERE dfreq.df <= 0.8 * nd.n
    ),
    norms AS (
        SELECT doc_id, sqrt(sum(idf * idf)) AS nrm FROM wtok GROUP BY doc_id
    ),
    q AS (SELECT * FROM wtok WHERE doc_id % 100 = 0),
    dots AS (
        SELECT q.doc_id AS id_a, t.doc_id AS id_b, sum(q.idf * t.idf) AS dot
        FROM q JOIN wtok t ON t.w = q.w AND t.doc_id > q.doc_id
        GROUP BY 1, 2
    ),
    sims AS (
        SELECT id_a, id_b,
               dot / (na.nrm * nb.nrm) AS sim
        FROM dots
        JOIN norms na ON na.doc_id = id_a
        JOIN norms nb ON nb.doc_id = id_b
    ),
    ranked AS (
        SELECT id_a, id_b, sim,
               row_number() OVER (PARTITION BY id_a
                                  ORDER BY round(sim, 6) DESC, id_b) AS rn
        FROM sims
    )
    SELECT id_a, id_b, round(sim, 6) AS sim, CAST(rn AS INTEGER) AS rn
    FROM ranked WHERE rn <= 3
    ORDER BY id_a, rn
    """,
    doc="Sparse TF-IDF document-to-document cosine (top-3 per anchor): "
    "idf-weighted binary term vectors, dot products accumulated "
    "through the INVERTED-INDEX join on shared terms (cost follows "
    "co-occurring term mass — the sparse-similarity discipline of "
    "ngram_jaccard_pairs, but weighted, so near-dups rank above "
    "stopword-ish overlaps), a 0.8-df stopword cut bounding posting "
    "lists, norms joined back, per-anchor distributed top-3 on "
    "ROUNDED sims (engine-stable ordering).  The lexical complement "
    "to the embedding ANN tier — what retrieval runs when no encoder "
    "exists.",
    tags=("llm", "similarity", "text", "join"),
)
def tfidf_doc_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    docs = load_table(spark, sf_dir, "documents")
    toks = word_set(docs)
    dfreq = toks.groupBy("w").agg(F.count("*").cast("double").alias("df"))
    nd = docs.agg(F.count("*").cast("double").alias("n"))
    wtok = (
        toks.join(dfreq, "w")
        .crossJoin(F.broadcast(nd))
        .filter(F.col("df") <= 0.8 * F.col("n"))
        .select("doc_id", "w", F.log(F.col("n") / F.col("df")).alias("idf"))
        .transform(ckpt)
    )
    norms = wtok.groupBy("doc_id").agg(
        F.sqrt(F.sum(F.col("idf") * F.col("idf"))).alias("nrm")
    )
    q = wtok.filter(F.col("doc_id") % 100 == 0).select(
        F.col("doc_id").alias("id_a"), "w", F.col("idf").alias("idf_a")
    )
    dots = (
        q.join(wtok.withColumnRenamed("doc_id", "id_b"), "w")
        .filter(F.col("id_b") > F.col("id_a"))
        .groupBy("id_a", "id_b")
        .agg(F.sum(F.col("idf_a") * F.col("idf")).alias("dot"))
    )
    na = norms.select(F.col("doc_id").alias("id_a"), F.col("nrm").alias("na"))
    nb = norms.select(F.col("doc_id").alias("id_b"), F.col("nrm").alias("nb"))
    sims = (
        dots.join(na, "id_a")
        .join(nb, "id_b")
        .select("id_a", "id_b", (F.col("dot") / (F.col("na") * F.col("nb"))).alias("sim"))
    )
    w = W.partitionBy("id_a").orderBy(F.round("sim", 6).desc(), F.asc("id_b"))
    return (
        sims.withColumn("rn", F.row_number().over(w).cast("int"))
        .filter(F.col("rn") <= 3)
        .select("id_a", "id_b", F.round("sim", 6).alias("sim"), "rn")
        .orderBy("id_a", "rn")
    )


def _rp_cluster_sql(nbits: int = 3) -> str:
    """Deterministic cluster code from the first ``nbits`` RP
    hyperplanes (integer arithmetic + sign bits only — no float
    centroids, so the whole IVF pipeline is oracle-reproducible)."""
    bits = " + ".join(
        f"CASE WHEN {_rp_dot_sql(a, b)} > 0 THEN {1 << i} ELSE 0 END"
        for i, (a, b) in enumerate(_RP_COEFFS[:nbits])
    )
    return f"CAST({bits} AS BIGINT)"


def _rp_cluster_spark(nbits: int = 3):
    sig = F.lit(0)
    for i, (a, b) in enumerate(_RP_COEFFS[:nbits]):
        dot = F.expr(
            f"aggregate(transform(sequence(1, {_RP_DIM}), "
            f"d -> cast(element_at(embedding, d) as double) * (((({a} * d + {b}) % 1009)) - 504)), "
            "0D, (acc, x) -> acc + x)"
        )
        sig = sig + F.when(dot > 0, F.lit(1 << i)).otherwise(F.lit(0))
    return sig.cast("bigint")


# IVF sizing: clusters double until the average inverted list holds
# ~_IVF_TARGET_BUCKET vectors, so per-query candidate work stays
# ~constant (bucket * (1 + bits) rows) while the corpus grows — a
# fixed cluster count would make every probe's list grow linearly
# with N (measured superlinear in SCALE_r7.md before this guard).
# 16 RP planes cap the code at 65536 lists (~17M vectors at the 256
# target); extend _RP_COEFFS to go beyond.
_IVF_TARGET_BUCKET = 256
_IVF_MAX_BITS = len(_RP_COEFFS)


def _rp_adaptive_bits(n_rows: int) -> int:
    """max(3, ceil(log2(ceil(n/target)))) capped at the plane count —
    integer arithmetic only, mirrored verbatim by the SQL oracle's
    bin()-length formula."""
    m = (n_rows + _IVF_TARGET_BUCKET - 1) // _IVF_TARGET_BUCKET
    bits = 0 if m <= 1 else (m - 1).bit_length()
    return min(max(3, bits), _IVF_MAX_BITS)


@register(
    "ann_rp_ivf_portable_topk",
    oracle=f"""
    WITH nb AS (
        SELECT least(greatest(3,
                   CASE WHEN ((count(*) + {_IVF_TARGET_BUCKET - 1})
                              // {_IVF_TARGET_BUCKET}) <= 1 THEN 0
                        ELSE length(bin(((count(*) + {_IVF_TARGET_BUCKET - 1})
                                         // {_IVF_TARGET_BUCKET}) - 1)) END),
                     {_IVF_MAX_BITS}) AS bits
        FROM embeddings
    ),
    assigned AS (
        SELECT vec_id, embedding,
               {_rp_cluster_sql(_IVF_MAX_BITS)} % (1::BIGINT << nb.bits)
                   AS cluster
        FROM embeddings CROSS JOIN nb
    ),
    q AS (SELECT * FROM assigned WHERE vec_id % 100 = 0),
    probes AS (
        SELECT q.vec_id AS qid, q.embedding AS qvec,
               unnest(list_prepend(q.cluster, list_transform(
                   list_filter({list(range(_IVF_MAX_BITS))},
                               i -> i < nb.bits),
                   i -> xor(q.cluster, CAST(1 << i AS BIGINT))))) AS cluster
        FROM q CROSS JOIN nb
    ),
    cand AS (
        SELECT p.qid, p.qvec, a.vec_id AS nid, a.embedding AS nvec
        FROM probes p JOIN assigned a USING (cluster)
        WHERE a.vec_id <> p.qid
    ),
    sims AS (
        SELECT qid, nid,
               list_cosine_similarity(CAST(qvec AS DOUBLE[]),
                                      CAST(nvec AS DOUBLE[])) AS sim
        FROM cand
    ),
    ranked AS (
        SELECT qid, nid, sim,
               row_number() OVER (PARTITION BY qid
                                  ORDER BY round(sim, 6) DESC, nid) AS rn
        FROM sims
    )
    SELECT qid, nid, round(sim, 6) AS sim, CAST(rn AS INTEGER) AS rn
    FROM ranked WHERE rn <= 3
    ORDER BY qid, rn
    """,
    doc="PORTABLE IVF ANN, hash-checked end-to-end — the oracle-"
    "checkable twin of ann_ivf_topk (whose MLlib-KMeans centroids can "
    "only be equivalence/recall-tested): clusters are ADAPTIVE sign "
    "codes from deterministic RP hyperplanes (integer arithmetic "
    "only — no float centroids to drift across engines). The bit "
    "count grows with the corpus (ceil(log2(n/256)), min 3, max 16 "
    "planes, derived with engine-identical integer/bin() arithmetic "
    "on BOTH sides) so the average inverted list stays ~256 vectors "
    "and per-query candidate work is ~constant at any scale — the "
    "SCALE_r7.md fix for the fixed-8-list superlinear blow-up. Each "
    "query probes its own cluster plus every Hamming-1 neighbor; the "
    "exact cosine re-rank runs on candidates only. Same physical "
    "shape as the production IVF tier — assignment map-side, probes "
    "explode per query, candidate join keyed on cluster — so "
    "everything the driver hash-checks here transfers to the KMeans "
    "tier, including the bucketed-corpus layout "
    "(ann_ivf_bucketed_topk).",
    tags=("llm", "similarity", "ivf", "sketch"),
)
def ann_rp_ivf_portable_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    emb = load_table(spark, sf_dir, "embeddings")
    bits = _rp_adaptive_bits(emb.count())
    assigned = emb.select(
        "vec_id", "embedding", _rp_cluster_spark(bits).alias("cluster")
    ).transform(ckpt)
    q = assigned.filter(F.col("vec_id") % 100 == 0)
    probes = q.select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").alias("qvec"),
        F.explode(
            F.array(
                F.col("cluster"),
                *[
                    F.col("cluster").bitwiseXOR(F.lit(1 << i))
                    for i in range(bits)
                ],
            )
        ).alias("cluster"),
    )
    from ..functions.arrays import cosine_similarity

    cand = assigned.join(F.broadcast(probes), "cluster").filter(
        F.col("vec_id") != F.col("qid")
    )
    sims = cand.select(
        "qid",
        F.col("vec_id").alias("nid"),
        cosine_similarity(F.col("qvec"), F.col("embedding")).alias("sim"),
    )
    w = W.partitionBy("qid").orderBy(F.round("sim", 6).desc(), F.asc("nid"))
    return (
        sims.withColumn("rn", F.row_number().over(w).cast("int"))
        .filter(F.col("rn") <= 3)
        .select("qid", "nid", F.round("sim", 6).alias("sim"), "rn")
        .orderBy("qid", "rn")
    )


@register(
    "hybrid_rrf_retrieval",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS w,
               len(string_split(text, ' ')) AS dl
        FROM documents
    ),
    stats AS (
        SELECT count(*) AS n_docs, avg(len(string_split(text, ' '))) AS avgdl
        FROM documents
    ),
    tf AS (
        SELECT doc_id, w, count(*) AS tf, max(dl) AS dl
        FROM tok
        WHERE w IN ('hash', 'vector', 'stream')
        GROUP BY doc_id, w
    ),
    df AS (SELECT w, count(*) AS df FROM tf GROUP BY w),
    bm25 AS (
        SELECT t.doc_id,
               sum(ln(1.0 + (s.n_docs - d.df + 0.5) / (d.df + 0.5))
                   * t.tf * ({{k1}} + 1.0)
                   / (t.tf + {{k1}} * (1.0 - {{b}} + {{b}} * t.dl / s.avgdl))) AS score
        FROM tf t JOIN df d USING (w) CROSS JOIN stats s
        GROUP BY t.doc_id
    ),
    lex AS (
        SELECT doc_id,
               row_number() OVER (ORDER BY round(score, 6) DESC, doc_id) AS r
        FROM bm25
        QUALIFY r <= 20
    ),
    qv AS (SELECT CAST(embedding AS DOUBLE[]) AS v FROM embeddings WHERE vec_id = 0),
    cos AS (
        SELECT e.vec_id AS doc_id,
               list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), qv.v) AS sim
        FROM embeddings e CROSS JOIN qv
        WHERE e.vec_id <> 0
    ),
    sem AS (
        SELECT doc_id,
               row_number() OVER (ORDER BY round(sim, 6) DESC, doc_id) AS r
        FROM cos
        QUALIFY r <= 20
    ),
    fused AS (
        SELECT coalesce(l.doc_id, s.doc_id) AS doc_id,
               coalesce(1.0 / (60 + l.r), 0) + coalesce(1.0 / (60 + s.r), 0)
                   AS rrf,
               l.r AS lex_rank, s.r AS sem_rank
        FROM lex l FULL OUTER JOIN sem s USING (doc_id)
    )
    SELECT doc_id,
           round(rrf, 6) AS rrf_score,
           CAST(coalesce(lex_rank, -1) AS INTEGER) AS lex_rank,
           CAST(coalesce(sem_rank, -1) AS INTEGER) AS sem_rank
    FROM fused
    ORDER BY round(rrf, 6) DESC, doc_id
    LIMIT 10
    """.replace("{k1}", str(_BM25_K1)).replace("{b}", str(_BM25_B)),
    doc="Hybrid retrieval via reciprocal-rank fusion — the standard "
    "RAG-era combiner: the BM25 lexical top-20 (query terms 'hash "
    "vector stream') and the embedding-cosine top-20 (anchor vector "
    "0 as the query encoding) fuse by RRF(d) = Σ 1/(60 + rank_leg), "
    "full-outer so single-leg hits still score.  Both legs are "
    "independently oracled pipelines; fusion adds one outer join on "
    "two 20-row lists — at 100 TB the fusion cost is the max of the "
    "two retrievers, never their product.  Ranks on ROUNDED scores "
    "keep both legs' orderings engine-stable.  Each leg's top-20 is "
    "a distributed TakeOrderedAndProject with ranks rebuilt on the "
    "20 survivors (operators/ranks.topk_ranked) — zero unpartitioned "
    "Window nodes.",
    tags=("llm", "similarity", "text"),
)
def hybrid_rrf_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.arrays import cosine_similarity
    from ..operators.ranks import topk_ranked

    lex_scores = bm25_retrieval_topk(spark, sf_dir)
    lex = topk_ranked(
        lex_scores,
        [("bm25_score", "desc"), ("doc_id", "asc")],
        20,
        out="lex_rank",
    ).select("doc_id", "lex_rank")
    emb = load_table(spark, sf_dir, "embeddings")
    qv = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qvec"))
    cos = (
        emb.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(qv))
        .select(
            F.col("vec_id").alias("doc_id"),
            F.round(
                cosine_similarity(F.col("embedding"), F.col("qvec")), 6
            ).alias("sim"),
        )
    )
    sem = topk_ranked(
        cos, [("sim", "desc"), ("doc_id", "asc")], 20, out="sem_rank"
    ).select("doc_id", "sem_rank")
    fused = lex.join(sem, "doc_id", "full_outer").select(
        "doc_id",
        (
            F.coalesce(1.0 / (60 + F.col("lex_rank")), F.lit(0.0))
            + F.coalesce(1.0 / (60 + F.col("sem_rank")), F.lit(0.0))
        ).alias("rrf"),
        "lex_rank",
        "sem_rank",
    )
    return (
        fused.select(
            "doc_id",
            F.round("rrf", 6).alias("rrf_score"),
            F.coalesce("lex_rank", F.lit(-1)).cast("int").alias("lex_rank"),
            F.coalesce("sem_rank", F.lit(-1)).cast("int").alias("sem_rank"),
        )
        .orderBy(F.desc("rrf_score"), F.asc("doc_id"))
        .limit(10)
    )


@register(
    "sorted_neighborhood_matches",
    oracle="""
    WITH names AS (SELECT DISTINCT p_name FROM part),
    seq AS (
        SELECT p_name,
               lead(p_name, 1) OVER (ORDER BY p_name) AS n1,
               lead(p_name, 2) OVER (ORDER BY p_name) AS n2
        FROM names
    ),
    cand AS (
        SELECT p_name AS name_a, n1 AS name_b FROM seq WHERE n1 IS NOT NULL
        UNION ALL
        SELECT p_name, n2 FROM seq WHERE n2 IS NOT NULL
    )
    SELECT name_a, name_b,
           CAST(levenshtein(name_a, name_b) AS INTEGER) AS dist
    FROM cand
    WHERE levenshtein(name_a, name_b) <= 3
    ORDER BY name_a, name_b
    """,
    doc="Sorted-neighborhood blocking — the OTHER classic entity-"
    "resolution candidate generator beside key blocking "
    "(fuzzy_match_levenshtein): sort the distinct names once, compare "
    "each only to its next-2 lexicographic neighbors (lead windows), "
    "keep levenshtein <= 3.  Candidate count is exactly 2n regardless "
    "of block-size skew — the property that makes sorted-neighborhood "
    "the fallback when no good blocking key exists.  The sort is "
    "DISTRIBUTED: names bucket by their 2-char prefix (order-"
    "preserving, bounded alphabet), lead(1)/lead(2) run per bucket, "
    "and continuity across bucket boundaries comes from the standard "
    "2-row overlap trick — each bucket's first-two-names summary, "
    "carried backward on the tiny bucket table and broadcast — "
    "bit-identical to the oracle's literal global lead windows.",
    tags=("llm", "dedup", "window"),
)
def sorted_neighborhood_matches(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    names = (
        load_table(spark, sf_dir, "part")
        .select("p_name")
        .distinct()
        .withColumn("bkt", F.substring("p_name", 1, 2))
        .transform(ckpt)
    )
    wb = W.partitionBy("bkt").orderBy("p_name")
    # per-bucket first-two-names summary (the 2-row overlap)
    firsts = names.select(
        "bkt", "p_name", F.row_number().over(wb).alias("rn")
    ).filter(F.col("rn") <= 2)
    heads = firsts.groupBy("bkt").agg(
        F.max(F.when(F.col("rn") == 1, F.col("p_name"))).alias("f1"),
        F.max(F.when(F.col("rn") == 2, F.col("p_name"))).alias("f2"),
    )
    # tiny bounded-alphabet bucket table: global leads are fine HERE.
    # The two names following bucket b in global order are f1(b+1),
    # then f2(b+1) — or f1(b+2) when bucket b+1 holds a single name.
    wtb = W.orderBy("bkt")
    carry = heads.select(
        "bkt",
        F.lead("f1", 1).over(wtb).alias("nf1"),
        F.coalesce(
            F.lead("f2", 1).over(wtb), F.lead("f1", 2).over(wtb)
        ).alias("nf2"),
    )
    l1 = F.lead("p_name", 1).over(wb)
    l2 = F.lead("p_name", 2).over(wb)
    seq = names.join(F.broadcast(carry), "bkt", "left").select(
        "p_name",
        F.coalesce(l1, F.col("nf1")).alias("n1"),
        F.when(l2.isNotNull(), l2)
        .when(l1.isNotNull(), F.col("nf1"))
        .otherwise(F.col("nf2"))
        .alias("n2"),
    )
    cand = (
        seq.filter(F.col("n1").isNotNull())
        .select(F.col("p_name").alias("name_a"), F.col("n1").alias("name_b"))
        .unionByName(
            seq.filter(F.col("n2").isNotNull()).select(
                F.col("p_name").alias("name_a"), F.col("n2").alias("name_b")
            )
        )
    )
    return (
        cand.select(
            "name_a", "name_b", F.levenshtein("name_a", "name_b").cast("int").alias("dist")
        )
        .filter(F.col("dist") <= 3)
        .orderBy("name_a", "name_b")
    )


@register(
    "kmeans_lloyd_step",
    oracle="""
    WITH dims AS (
        SELECT vec_id, generate_subscripts(embedding, 1) AS dim,
               CAST(unnest(embedding) AS DOUBLE) AS val
        FROM embeddings
    ),
    seeds AS (
        SELECT vec_id AS cid, dim, val AS sval
        FROM dims WHERE vec_id % 100 = 0
    ),
    dist AS (
        SELECT d.vec_id, s.cid,
               sum((d.val - s.sval) * (d.val - s.sval)) AS d2
        FROM dims d JOIN seeds s USING (dim) GROUP BY 1, 2
    ),
    assign AS (
        SELECT vec_id, cid, d2,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY round(d2, 6), cid) AS rn
        FROM dist
    ),
    a AS (SELECT vec_id, cid, d2 FROM assign WHERE rn = 1),
    newc AS (
        SELECT a.cid, d.dim, avg(d.val) AS cval
        FROM a JOIN dims d USING (vec_id) GROUP BY 1, 2
    ),
    stats AS (
        SELECT cid, CAST(count(*) AS BIGINT) AS n_members,
               sum(d2) AS inertia
        FROM a GROUP BY 1
    ),
    geom AS (
        SELECT n.cid,
               sqrt(sum(n.cval * n.cval)) AS cnorm,
               sqrt(sum((n.cval - s.sval) * (n.cval - s.sval))) AS cshift
        FROM newc n JOIN seeds s ON n.cid = s.cid AND n.dim = s.dim
        GROUP BY 1
    )
    SELECT st.cid AS cluster, st.n_members,
           round(st.inertia, 4) AS inertia,
           round(g.cnorm, 6) AS centroid_norm,
           round(g.cshift, 6) AS centroid_shift
    FROM stats st JOIN geom g USING (cid)
    ORDER BY cluster
    """,
    doc="One full Lloyd iteration of k-means over the embedding corpus "
    "(k = 5, deterministic seed centroids = every 100th vector), fully "
    "hash-checked: assignment distances, membership counts, inertia, "
    "and the updated-centroid geometry (norm + shift from seed) all "
    "value-match DuckDB.  This is the inner step the MLlib KMeans tier "
    "(ann_ivf_topk) iterates; checking one step end-to-end pins the "
    "distance/argmin/mean math that recall tests can only bound.  "
    "Scale shape: ASSIGNMENT is a broadcast of k centroid arrays + a "
    "zip_with fold per row — zero shuffle, never a dim-explode of the "
    "facts; the UPDATE is one posexplode + (cluster, dim)-keyed "
    "partial aggregate (map-side combine), the same one-shuffle shape "
    "at 100 TB.  Ties break on round(d2, 6) then cluster id, so the "
    "argmin is engine-independent.",
    tags=("llm", "embedding", "ml", "similarity"),
)
def kmeans_lloyd_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    emb = load_table(spark, sf_dir, "embeddings")
    seeds = emb.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("svec")
    )
    d2 = F.aggregate(
        F.zip_with(
            "embedding",
            "svec",
            lambda x, y: (x.cast("double") - y.cast("double"))
            * (x.cast("double") - y.cast("double")),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    dist = emb.crossJoin(F.broadcast(seeds)).select(
        "vec_id", "cid", d2.alias("d2")
    )
    rn = F.row_number().over(
        W.partitionBy("vec_id").orderBy(F.round("d2", 6), "cid")
    )
    a = (
        dist.withColumn("rn", rn)
        .filter(F.col("rn") == 1)
        .select("vec_id", "cid", "d2")
        .transform(ckpt)
    )
    dims = emb.select(
        "vec_id", F.posexplode("embedding").alias("dim0", "valf")
    ).select("vec_id", (F.col("dim0") + 1).alias("dim"), F.col("valf").cast("double").alias("val"))
    newc = (
        a.join(dims, "vec_id")
        .groupBy("cid", "dim")
        .agg(F.avg("val").alias("cval"))
    )
    seed_dims = seeds.select(
        "cid", F.posexplode("svec").alias("dim0", "svalf")
    ).select("cid", (F.col("dim0") + 1).alias("dim"), F.col("svalf").cast("double").alias("sval"))
    stats = a.groupBy("cid").agg(
        F.count("*").cast("bigint").alias("n_members"),
        F.sum("d2").alias("inertia"),
    )
    geom = (
        newc.join(F.broadcast(seed_dims), ["cid", "dim"])
        .groupBy("cid")
        .agg(
            F.sqrt(F.sum(F.col("cval") * F.col("cval"))).alias("cnorm"),
            F.sqrt(
                F.sum((F.col("cval") - F.col("sval")) * (F.col("cval") - F.col("sval")))
            ).alias("cshift"),
        )
    )
    return (
        stats.join(geom, "cid")
        .select(
            F.col("cid").alias("cluster"),
            "n_members",
            F.round("inertia", 4).alias("inertia"),
            F.round("cnorm", 6).alias("centroid_norm"),
            F.round("cshift", 6).alias("centroid_shift"),
        )
        .orderBy("cluster")
    )


@register(
    "semdedup_cluster_prune",
    oracle=f"""
    WITH assigned AS (
        SELECT vec_id, embedding, {_rp_cluster_sql()} AS cluster FROM embeddings
    ),
    pruned AS (
        SELECT DISTINCT b.vec_id
        FROM assigned a JOIN assigned b
          ON a.cluster = b.cluster AND a.vec_id < b.vec_id
        WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                     CAST(b.embedding AS DOUBLE[])) >= 0.3
    )
    SELECT c.cluster, CAST(count(*) AS BIGINT) AS n_members,
           CAST(count(p.vec_id) AS BIGINT) AS n_pruned,
           round(count(p.vec_id) / CAST(count(*) AS DOUBLE), 4) AS prune_rate
    FROM assigned c LEFT JOIN pruned p ON c.vec_id = p.vec_id
    GROUP BY 1 ORDER BY 1
    """,
    doc="SemDeDup-style semantic pruning (Abbas et al. 2023, 'SemDeDup: "
    "Data-efficient learning at web-scale through semantic "
    "deduplication'): cluster the embedding space, then within each "
    "cluster drop every vector that has a semantically-near neighbor "
    "(cosine >= 0.3) with a smaller id — keep-lowest-id is order-free "
    "(a semi-join predicate), so the survivor set is deterministic.  "
    "Clusters are the portable 3-bit RP sign codes (the same "
    "integer-arithmetic clustering the IVF tier hash-checks), so the "
    "WHOLE pipeline — clustering, in-cluster pair cosines, prune "
    "verdicts, per-cluster rates — value-matches DuckDB.  Scale "
    "shape: the pair join is keyed on cluster (never corpus-wide "
    "all-pairs); at 100 TB cluster count grows with more sign bits "
    "so in-cluster quadratic cost stays bounded, exactly the "
    "SemDeDup production recipe (k-means there, sign codes here).",
    tags=("llm", "embedding", "dedup", "similarity"),
)
def semdedup_cluster_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.arrays import cosine_similarity

    emb = load_table(spark, sf_dir, "embeddings")
    assigned = emb.select(
        "vec_id", "embedding", _rp_cluster_spark().alias("cluster")
    ).transform(ckpt)
    a = assigned.select(
        F.col("cluster"),
        F.col("vec_id").alias("id_a"),
        F.col("embedding").alias("vec_a"),
    )
    b = assigned.select(
        F.col("cluster"),
        F.col("vec_id").alias("id_b"),
        F.col("embedding").alias("vec_b"),
    )
    pruned = (
        a.join(b, "cluster")
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(cosine_similarity(F.col("vec_a"), F.col("vec_b")) >= 0.3)
        .select(F.col("id_b").alias("vec_id"))
        .distinct()
    )
    return (
        assigned.join(
            pruned.withColumn("is_pruned", F.lit(1)), "vec_id", "left"
        )
        .groupBy("cluster")
        .agg(
            F.count("*").cast("bigint").alias("n_members"),
            F.count("is_pruned").cast("bigint").alias("n_pruned"),
            F.round(
                F.count("is_pruned") / F.count("*").cast("double"), 4
            ).alias("prune_rate"),
        )
        .orderBy("cluster")
    )


def _kcenter_oracle(rounds: int) -> str:
    """Unrolled greedy k-center CTE chain (the PageRank/Markov
    unrolled-power-iteration pattern applied to farthest-point
    selection)."""
    parts = [
        "c0 AS (SELECT CAST(0 AS BIGINT) AS vec_id, 0 AS sel_round, "
        "NULL::DOUBLE AS gap)"
    ]
    prev = "c0"
    for r in range(1, rounds + 1):
        parts.append(
            f"""
    m{r} AS (
        SELECT e.vec_id,
               min(list_distance(CAST(e.embedding AS DOUBLE[]),
                                 CAST(c.embedding AS DOUBLE[]))) AS mind
        FROM embeddings e
        JOIN {prev} ch ON true
        JOIN embeddings c ON c.vec_id = ch.vec_id
        GROUP BY 1
    ),
    p{r} AS (
        SELECT vec_id, {r} AS sel_round, round(mind, 6) AS gap
        FROM m{r}
        ORDER BY round(mind, 6) DESC, vec_id
        LIMIT 1
    ),
    c{r} AS (SELECT vec_id, sel_round, gap FROM {prev}
             UNION ALL SELECT * FROM p{r})"""
        )
        prev = f"c{r}"
    return (
        "WITH "
        + ",".join(parts)
        + f"\n    SELECT sel_round, vec_id, gap FROM {prev} ORDER BY sel_round"
    )


@register(
    "kcenter_coreset_greedy",
    oracle=_kcenter_oracle(4),
    doc="Greedy k-center coreset selection (Gonzalez farthest-point "
    "traversal — the classic diversity-sampling / coreset baseline "
    "for training-data selection): seed with vector 0, then 4 rounds "
    "of 'pick the point farthest from its nearest chosen center'.  "
    "Each round is one broadcast of the <=5 chosen centers against "
    "the corpus + a min-distance aggregate + a distributed top-1 "
    "(TakeOrdered — never a global sort); chosen sets are lazily "
    "localCheckpoint-ed so round r's plan does not re-derive rounds "
    "1..r-1 (linear, not exponential, plan growth).  The oracle "
    "unrolls the same 4 rounds as a CTE chain.  Ties break on "
    "round(dist, 6) then vec_id — engine-independent.  At 100 TB the "
    "per-round cost is one map-side pass over the corpus (centers "
    "broadcast), the standard distributed k-center shape; the gap "
    "column is the k-center radius curve, the stopping signal for "
    "coreset sizing.",
    tags=("llm", "embedding", "sampling", "similarity"),
)
def kcenter_coreset_greedy(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    l2 = lambda x, y: F.sqrt(
        F.aggregate(
            F.zip_with(
                x,
                y,
                lambda p, q: (p.cast("double") - q.cast("double"))
                * (p.cast("double") - q.cast("double")),
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )
    chosen = (
        emb.filter(F.col("vec_id") == 0)
        .select(
            "vec_id",
            "embedding",
            F.lit(0).alias("sel_round"),
            F.lit(None).cast("double").alias("gap"),
        )
        .transform(ckpt)
    )
    for r in range(1, 5):
        centers = chosen.select(F.col("embedding").alias("cvec"))
        mind = (
            emb.crossJoin(F.broadcast(centers))
            .select(
                "vec_id",
                "embedding",
                l2(F.col("embedding"), F.col("cvec")).alias("dist"),
            )
            .groupBy("vec_id", "embedding")
            .agg(F.min("dist").alias("mind"))
        )
        pick = (
            mind.orderBy(F.round("mind", 6).desc(), F.asc("vec_id"))
            .limit(1)
            .select(
                "vec_id",
                "embedding",
                F.lit(r).alias("sel_round"),
                F.round("mind", 6).alias("gap"),
            )
        )
        chosen = chosen.unionByName(pick).transform(ckpt)
    return chosen.select("sel_round", "vec_id", "gap").orderBy("sel_round")



@register(
    "dsir_importance_weights",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, lang,
               CAST('0x' || substr(md5(unnest(string_split(text, ' '))), 1, 12)
                    AS BIGINT) % {_DSIR_BUCKETS} AS b
        FROM documents
    ),
    tgt AS (
        SELECT b, CAST(count(*) AS DOUBLE) AS c
        FROM toks WHERE lang = 'en' GROUP BY 1
    ),
    tgt_tot AS (SELECT sum(c) AS tot FROM tgt),
    raw AS (
        SELECT b, CAST(count(*) AS DOUBLE) AS c FROM toks GROUP BY 1
    ),
    raw_tot AS (SELECT sum(c) AS tot FROM raw),
    scored AS (
        SELECT t.doc_id, t.lang,
               sum(ln(((coalesce(g.c, 0) + 1.0) / (gt.tot + {_DSIR_BUCKETS}))
                      / ((r.c + 1.0) / (rt.tot + {_DSIR_BUCKETS})))) AS logw
        FROM toks t
        LEFT JOIN tgt g USING (b)
        JOIN raw r USING (b)
        CROSS JOIN tgt_tot gt CROSS JOIN raw_tot rt
        GROUP BY 1, 2
    )
    SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
           round(avg(logw), 6) AS avg_logw,
           round(min(logw), 6) AS min_logw,
           round(max(logw), 6) AS max_logw
    FROM scored GROUP BY lang ORDER BY lang
    """,
    doc="DSIR-style importance weights (Xie et al. 2023, 'Data "
    "Selection for Language Models via Importance Resampling'): score "
    "every document by how much its HASHED unigram distribution looks "
    "like a target domain (here lang='en') versus the raw corpus — "
    "log w(doc) = sum over tokens of ln(p_target[bucket] / "
    "p_raw[bucket]) with add-one smoothing over a FIXED 1024-bucket "
    "feature space.  The fixed bucket count is the scale move (and "
    "the deliberate contrast to tfidf_top_terms' never-broadcast "
    "vocabulary): hashed features stay 1024 rows at any corpus size, "
    "so both distribution tables BROADCAST and scoring is one "
    "map-side pass over the exploded tokens — no token-keyed shuffle "
    "at 100 TB.  md5-derived bucket ids are bit-identical across "
    "engines, so weights hash-check end-to-end.",
    tags=("llm", "text", "sampling", "mixture"),
)
def dsir_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    bucket = (
        F.conv(F.substring(F.md5(F.col("tok")), 1, 12), 16, 10).cast("bigint")
        % _DSIR_BUCKETS
    )
    # Collapse the token-level (doc, b) pairs to per-(doc, bucket)
    # counts BEFORE the cut (r16, the doc_quality_logistic_gate move,
    # guide §2.3): the checkpoint holds ≤ |docs|·1024 rows instead of
    # one row per token.  Downstream integer count sums are exact; the
    # per-doc logw becomes Σ cnt·ln(r) instead of the per-token
    # Σ ln(r) — mathematically equal, different float summation
    # grouping, cleared by tools/float_round_audit.py (r16 artifact:
    # result hash stable across 2/32/61 shuffle partitions).
    toks = (
        docs.select("doc_id", "lang", F.explode(F.split("text", " ")).alias("tok"))
        .select("doc_id", "lang", bucket.alias("b"))
        .groupBy("doc_id", "lang", "b")
        .agg(F.count("*").alias("cnt"))
        .transform(ckpt)
    )
    tgt = toks.filter(F.col("lang") == "en").groupBy("b").agg(
        F.sum("cnt").cast("double").alias("gc")
    )
    raw = toks.groupBy("b").agg(F.sum("cnt").cast("double").alias("rc"))
    tgt_tot = tgt.agg(F.sum("gc").alias("gtot"))
    raw_tot = raw.agg(F.sum("rc").alias("rtot"))
    nb = F.lit(float(_DSIR_BUCKETS))
    scored = (
        toks.join(F.broadcast(raw), "b")
        .join(F.broadcast(tgt), "b", "left")
        .crossJoin(F.broadcast(tgt_tot))
        .crossJoin(F.broadcast(raw_tot))
        .groupBy("doc_id", "lang")
        .agg(
            F.sum(
                F.col("cnt")
                * F.log(
                    ((F.coalesce(F.col("gc"), F.lit(0.0)) + 1.0) / (F.col("gtot") + nb))
                    / ((F.col("rc") + 1.0) / (F.col("rtot") + nb))
                )
            ).alias("logw")
        )
    )
    return (
        scored.groupBy("lang")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.round(F.avg("logw"), 6).alias("avg_logw"),
            F.round(F.min("logw"), 6).alias("min_logw"),
            F.round(F.max("logw"), 6).alias("max_logw"),
        )
        .orderBy("lang")
    )


_SUBSTR_W = 8


@register(
    "substring_duplication_rate",
    oracle=f"""
    WITH arrs AS (
        SELECT doc_id, lang, string_split(text, ' ') AS toks
        FROM documents
    ),
    wins AS (
        SELECT doc_id, lang,
               md5(array_to_string(
                   list_slice(toks, i, i + {_SUBSTR_W} - 1), ' ')) AS wh
        FROM arrs, unnest(range(1, len(toks) - {_SUBSTR_W} + 2)) AS t(i)
        WHERE len(toks) >= {_SUBSTR_W}
    ),
    counts AS (SELECT wh, count(*) AS c FROM wins GROUP BY 1),
    perdoc AS (
        SELECT w.doc_id, w.lang,
               count(*) AS n_windows,
               sum(CASE WHEN c.c >= 2 THEN 1 ELSE 0 END) AS n_dup
        FROM wins w JOIN counts c USING (wh)
        GROUP BY 1, 2
    )
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_windows) AS BIGINT) AS total_windows,
           CAST(sum(n_dup) AS BIGINT) AS dup_windows,
           round(avg(n_dup / CAST(n_windows AS DOUBLE)), 6) AS avg_dup_frac
    FROM perdoc GROUP BY lang ORDER BY lang
    """,
    doc="Exact-substring duplication audit (Lee et al. 2021, "
    "'Deduplicating Training Data Makes Language Models Better'): "
    "slide an 8-token window over every document, count how many "
    "windows occur more than once ANYWHERE in the corpus, and report "
    "the per-language duplicated-window fraction — the signal behind "
    "suffix-array ExactSubstr dedup, computed relationally.  Scale "
    "shape: windows are keyed by their md5 (32-byte shuffle keys, "
    "never the window text — the exact-dedup discipline from "
    "dedup_exact_docs applied at substring grain), the occurrence "
    "count is one partial-aggregated groupBy, and the verdict join "
    "is hash-keyed; window explosion is ~|tokens| rows, linear in "
    "corpus size.  md5 is bit-identical across engines, so the whole "
    "audit hash-checks.",
    tags=("llm", "text", "dedup", "quality"),
)
def substring_duplication_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    arrs = docs.select("doc_id", "lang", F.split("text", " ").alias("toks")).filter(
        F.size("toks") >= _SUBSTR_W
    )
    wins = (
        arrs.select(
            "doc_id",
            "lang",
            F.explode(
                F.sequence(F.lit(1), F.size("toks") - _SUBSTR_W + 1)
            ).alias("i"),
            "toks",
        )
        .select(
            "doc_id",
            "lang",
            F.md5(
                F.array_join(F.slice("toks", F.col("i"), _SUBSTR_W), " ")
            ).alias("wh"),
        )
        .transform(ckpt)
    )
    counts = wins.groupBy("wh").agg(F.count("*").alias("c"))
    perdoc = (
        wins.join(counts, "wh")
        .groupBy("doc_id", "lang")
        .agg(
            F.count("*").alias("n_windows"),
            F.sum(F.when(F.col("c") >= 2, 1).otherwise(0)).alias("n_dup"),
        )
    )
    return (
        perdoc.groupBy("lang")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("n_windows").cast("bigint").alias("total_windows"),
            F.sum("n_dup").cast("bigint").alias("dup_windows"),
            F.round(
                F.avg(F.col("n_dup") / F.col("n_windows").cast("double")), 6
            ).alias("avg_dup_frac"),
        )
        .orderBy("lang")
    )


@register(
    "exact_substring_span_removal",
    oracle=f"""
    WITH arrs AS (
        SELECT doc_id, lang, string_split(text, ' ') AS toks
        FROM documents
    ),
    wins AS (
        SELECT doc_id, i,
               md5(array_to_string(
                   list_slice(toks, i, i + {_SUBSTR_W} - 1), ' ')) AS wh
        FROM arrs, unnest(range(1, len(toks) - {_SUBSTR_W} + 2)) AS t(i)
        WHERE len(toks) >= {_SUBSTR_W}
    ),
    dupwh AS (SELECT wh FROM wins GROUP BY wh HAVING count(*) >= 2),
    dup AS (
        SELECT doc_id, list(i) AS dis
        FROM wins JOIN dupwh USING (wh)
        GROUP BY doc_id
    ),
    rec AS (
        SELECT a.doc_id, a.lang, len(toks) AS n_toks,
               coalesce(list_distinct(flatten(list_transform(
                   d.dis, i -> range(i, i + {_SUBSTR_W})))),
                   CAST([] AS BIGINT[])) AS cov,
               toks
        FROM arrs a LEFT JOIN dup d USING (doc_id)
    ),
    cleaned AS (
        SELECT doc_id, lang, n_toks, len(cov) AS n_removed,
               -- DuckDB's array_to_string yields NULL (not '') for a
               -- fully-removed doc's empty kept list; Spark's
               -- array_join yields '' — coalesce to match
               coalesce(array_to_string(list_transform(
                   list_filter(range(1, n_toks + 1),
                               p -> NOT list_contains(cov, p)),
                   p -> toks[p]), ' '), '') AS ctext
        FROM rec
    )
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_toks) AS BIGINT) AS total_tokens,
           CAST(sum(n_removed) AS BIGINT) AS removed_tokens,
           round(sum(n_removed) / CAST(sum(n_toks) AS DOUBLE), 6)
               AS removed_frac,
           CAST(sum(CAST('0x' || substr(md5(ctext), 1, 12) AS BIGINT)
                    % 1000000007) AS BIGINT) AS cleaned_checksum
    FROM cleaned GROUP BY lang ORDER BY lang
    """,
    doc="Exact-substring span REMOVAL (Lee et al. 2021 ExactSubstr as "
    "a transformation, not an audit — round-12 VERDICT item 4): drop "
    f"every token covered by any {_SUBSTR_W}-token window whose md5 "
    "occurs more than once ANYWHERE in the corpus, and emit per-lang "
    "removal accounting plus an order-free checksum of the cleaned "
    "texts.  Span-merge convention: coverage is the UNION of "
    "duplicated windows' position ranges (overlapping windows merge "
    "into maximal spans implicitly; each token is removed once), and "
    "survivors keep their original order — the cleaned text is the "
    "in-order join of uncovered tokens.  Scale shape: windows shuffle "
    "by md5 only (the dedup_exact_docs discipline at substring "
    "grain), the duplicated-window set semi-joins back hash-keyed, "
    "per-doc span lists are doc-keyed and bounded by the doc's own "
    "window count, and the reconstruction (range-union, filter, "
    "re-join) is entirely row-local array arithmetic — no token-level "
    "shuffle; the corpus text is read from the column-pruned scan "
    "per consumer instead of being checkpointed (the round-10 "
    "payload rule).",
    tags=("llm", "text", "dedup", "quality", "bench"),
)
def exact_substring_span_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    w = _SUBSTR_W
    arrs = docs.select("doc_id", "lang", F.split("text", " ").alias("toks"))
    wins = (
        arrs.filter(F.size("toks") >= w)
        .select(
            "doc_id",
            F.explode(F.sequence(F.lit(1), F.size("toks") - w + 1)).alias("i"),
            "toks",
        )
        .select(
            "doc_id",
            "i",
            # unhex halves the hash column (16 binary bytes vs a
            # 32-char hex string) with identical equality semantics —
            # md5 equality is what defines a duplicated window, and
            # unhex is a bijection on md5 output (r15 opt §2.3:
            # narrower types, fewer shuffle/checkpoint bytes)
            F.unhex(
                F.md5(F.array_join(F.slice("toks", F.col("i"), w), " "))
            ).alias("wh"),
        )
        .transform(ckpt)  # hash windows, no text payload; 2 consumers
    )
    dupwh = wins.groupBy("wh").agg(F.count("*").alias("c")).filter(
        F.col("c") >= 2
    ).select("wh")
    dup = (
        wins.join(dupwh, "wh", "semi")
        .groupBy("doc_id")
        .agg(F.collect_list("i").alias("dis"))
    )
    cov = F.coalesce(
        F.array_distinct(
            F.flatten(
                F.transform(
                    F.col("dis"), lambda i: F.sequence(i, i + F.lit(w - 1))
                )
            )
        ),
        F.array().cast("array<int>"),
    )
    rec = arrs.join(dup, "doc_id", "left").select(
        "doc_id",
        "lang",
        F.size("toks").alias("n_toks"),
        cov.alias("cov"),
        "toks",
    )
    kept_pos = F.filter(
        F.sequence(F.lit(1), F.col("n_toks")),
        lambda p: ~F.array_contains(F.col("cov"), p),
    )
    cleaned = rec.select(
        "doc_id",
        "lang",
        "n_toks",
        F.size("cov").alias("n_removed"),
        F.array_join(
            F.transform(kept_pos, lambda p: F.element_at(F.col("toks"), p)),
            " ",
        ).alias("ctext"),
    )
    return (
        cleaned.groupBy("lang")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("n_toks").cast("bigint").alias("total_tokens"),
            F.sum("n_removed").cast("bigint").alias("removed_tokens"),
            F.round(
                F.sum("n_removed").cast("double")
                / F.sum("n_toks").cast("double"),
                6,
            ).alias("removed_frac"),
            # per-row hash reduced mod 1e9+7 BEFORE the sum (ANSI 2^63
            # rule: a 48-bit hash summed over ~10^5 docs/lang already
            # overflowed the x30 scale sweep; the modded sum stays
            # < n_docs·1e9, safe past 10^9 docs per language)
            F.sum(
                F.conv(F.substring(F.md5("ctext"), 1, 12), 16, 10).cast(
                    "bigint"
                )
                % F.lit(1000000007)
            )
            .cast("bigint")
            .alias("cleaned_checksum"),
        )
        .orderBy("lang")
    )


# pseudo-line width for within-doc line dedup: the fixture's
# synthetic texts are single-line word streams, so "lines" are fixed
# W-token segments (W=2 exercises real removals, ~1.8% of lines on
# the fixture); on a real corpus the segmentation expression is
# swapped for split(text, '\n') and nothing else changes.
_LINE_W = 2


def line_dedup_cleaned(docs: DataFrame) -> DataFrame:
    """The within-doc line-dedup TRANSFORMATION applied to a documents
    relation — same row-local segmentation + first-occurrence rule as
    ``within_doc_line_dedup`` (which reports the removal stats this
    cleaning produces), returning the relation with ``text`` replaced
    by the cleaned text and ``n_chars`` recomputed.  The stage-0
    cleaning pass of ``corpus_stage_tables(line_dedup=True)`` /
    ``examples/run_corpus_pipeline.py --line-dedup``.  Zero shuffle:
    pure array ops over the pruned scan."""
    W = _LINE_W
    other = [c for c in docs.columns if c not in ("text", "n_chars")]
    return (
        docs.withColumn("toks", F.split(F.trim("text"), " +"))
        .withColumn(
            "text",
            F.array_join(
                F.array_distinct(
                    F.expr(
                        f"transform(sequence(1, cast(ceil(size(toks) / "
                        f"{W}.0) as int)), i -> array_join(slice(toks, "
                        f"(i - 1) * {W} + 1, {W}), ' '))"
                    )
                ),
                " ",
            ),
        )
        .select(*other, "text", F.length("text").cast("bigint").alias("n_chars"))
        .select(*docs.columns)
    )


@register(
    "within_doc_line_dedup",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, lang,
               string_split_regex(trim(text), ' +') AS t
        FROM documents
    ),
    lines AS (
        SELECT doc_id, lang, CAST(i AS BIGINT) AS ln,
               array_to_string(
                   list_slice(t, (i - 1) * {_LINE_W} + 1,
                              i * {_LINE_W}), ' ') AS line
        FROM toks,
             unnest(range(1,
                 CAST(ceil(len(t) / {_LINE_W}.0) AS BIGINT) + 1)) AS u(i)
    ),
    firsts AS (
        SELECT doc_id, lang, ln, line,
               min(ln) OVER (PARTITION BY doc_id, line) AS f
        FROM lines
    ),
    cleaned AS (
        SELECT doc_id, any_value(lang) AS lang,
               CAST(count(*) AS BIGINT) AS n_kept,
               string_agg(line, ' ' ORDER BY ln) AS ctext
        FROM firsts WHERE ln = f GROUP BY doc_id
    ),
    stats AS (
        SELECT doc_id, CAST(count(*) AS BIGINT) AS n_lines
        FROM lines GROUP BY 1
    )
    SELECT c.lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(s.n_lines) AS BIGINT) AS total_lines,
           CAST(sum(s.n_lines - c.n_kept) AS BIGINT) AS removed_lines,
           round(CAST(sum(s.n_lines - c.n_kept) AS DOUBLE)
                 / CAST(sum(s.n_lines) AS DOUBLE), 6) AS removed_frac,
           CAST(sum(CAST('0x' || substr(md5(c.ctext), 1, 12) AS BIGINT)
                    % 1000000007) AS BIGINT) AS cleaned_checksum
    FROM cleaned c JOIN stats s USING (doc_id)
    GROUP BY 1 ORDER BY 1
    """,
    doc="WITHIN-doc line dedup as a TRANSFORMATION — the CCNet "
    "per-document repeated-line removal (Wenzek et al. 2019), the "
    "one standard cleaning transformation the suite lacked: "
    "boilerplate_sentence_audit measures corpus-level boilerplate "
    "but nothing removed a document's OWN repeated lines.  Keep the "
    "FIRST occurrence of each distinct line, preserve order, "
    "reconstruct the cleaned text, report per-language removal "
    "stats + the cleaned-text checksum (the "
    "exact_substring_span_removal convention: per-row 48-bit md5 "
    "prefix reduced mod 1e9+7 BEFORE the sum — ANSI 2^63-safe past "
    "10^9 docs/language).  Composition note: this is the row-LOCAL "
    "complement of exact_substring_span_removal — spans are removed "
    "across documents (corpus-keyed window join), repeated lines "
    "within one document (array_distinct, which preserves "
    "first-occurrence order; the oracle mirrors it with an explicit "
    "min-rank-per-line rule).  Scale shape: zero shuffle until the "
    "final per-language rollup — the whole transformation is "
    "row-local array ops over the pruned (doc_id, lang, text) scan.",
    tags=("llm", "text", "dedup", "pipeline", "bench"),
)
def within_doc_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    W = _LINE_W
    docs = load_table(spark, sf_dir, "documents")
    # stage the token array ONCE: a transform() lambda that re-splits
    # the text per line element is O(lines x split) per row (measured
    # 2.0 s -> sub-second at sf0.1)
    lines = docs.select(
        "doc_id", "lang", F.split(F.trim("text"), " +").alias("toks")
    ).select(
        "doc_id",
        "lang",
        F.expr(
            f"transform(sequence(1, cast(ceil(size(toks) / {W}.0) as "
            f"int)), i -> array_join(slice(toks, (i - 1) * {W} + 1, "
            f"{W}), ' '))"
        ).alias("lines"),
    )
    cleaned = lines.select(
        "lang",
        F.size("lines").cast("bigint").alias("n_lines"),
        (F.size("lines") - F.size(F.array_distinct("lines")))
        .cast("bigint")
        .alias("n_removed"),
        F.array_join(F.array_distinct("lines"), " ").alias("ctext"),
    )
    return (
        cleaned.groupBy("lang")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("n_lines").cast("bigint").alias("total_lines"),
            F.sum("n_removed").cast("bigint").alias("removed_lines"),
            F.round(
                F.sum("n_removed").cast("double")
                / F.sum("n_lines").cast("double"),
                6,
            ).alias("removed_frac"),
            F.sum(
                F.conv(F.substring(F.md5("ctext"), 1, 12), 16, 10).cast(
                    "bigint"
                )
                % F.lit(1000000007)
            )
            .cast("bigint")
            .alias("cleaned_checksum"),
        )
        .orderBy("lang")
    )


def _bpe_merge_sql(seq_expr: str) -> str:
    """The 4-pass non-overlapping replace applying merge ``t`` (a
    1-row ``(l, rr)`` relation aliased ``t``) to a space-delimited
    symbol sequence — 4 passes make left-to-right replace equivalent
    to BPE's greedy merge on runs up to realistic word lengths.
    Shared by the training CTE chain and the coverage oracle so the
    two can never desynchronize."""
    out = seq_expr
    for _ in range(4):
        out = (
            f"replace({out},\n"
            "                   ' ' || t.l || ' ' || t.rr || ' ', "
            "' ' || t.l || t.rr || ' ')"
        )
    return out


def _bpe_train_sql(rounds: int, top_words: int) -> str:
    """Unrolled BPE merge-round TRAINING as a CTE-chain body (no
    ``WITH``): ``words`` (top-N alphabetic word frequencies), ``w0``
    (character splits), then per round the weighted adjacent-pair
    count ``pairs{r}``, the argmax merge ``top{r}``, and the merged
    sequences ``w{r}`` — shared by the ``bpe_merge_rounds`` oracle and
    the ``bpe_vocab_coverage`` oracle (same trained merges applied to
    a different relation)."""
    parts = [
        f"""
    words AS (
        SELECT tok AS word, CAST(count(*) AS BIGINT) AS freq
        FROM (SELECT lower(unnest(string_split(text, ' '))) AS tok
              FROM documents)
        WHERE regexp_matches(tok, '^[a-z]+$')
        GROUP BY 1
        ORDER BY freq DESC, word
        LIMIT {top_words}
    ),
    w0 AS (
        SELECT word, freq,
               ' ' || regexp_replace(word, '(.)', '\\1 ', 'g') AS seq
        FROM words
    )"""
    ]
    prev = "w0"
    for r in range(1, rounds + 1):
        parts.append(
            f"""
    pairs{r} AS (
        SELECT s[i] AS l, s[i + 1] AS rr, sum(freq) AS w
        FROM (SELECT freq, string_split(trim(seq), ' ') AS s FROM {prev}),
             unnest(range(1, len(s))) AS t(i)
        GROUP BY 1, 2
    ),
    top{r} AS (
        SELECT l, rr, w FROM pairs{r}
        ORDER BY w DESC, l, rr LIMIT 1
    ),
    w{r} AS (
        SELECT word, freq,
               {_bpe_merge_sql("seq")} AS seq
        FROM {prev} CROSS JOIN top{r} t
    )"""
        )
        prev = f"w{r}"
    return ",".join(parts)


def _bpe_oracle(rounds: int, top_words: int) -> str:
    """The trained merges themselves, one row per round."""
    sel = " UNION ALL ".join(
        f"SELECT {r} AS merge_round, l AS left_sym, rr AS right_sym, "
        f"CAST(w AS BIGINT) AS pair_weight FROM top{r}"
        for r in range(1, rounds + 1)
    )
    return (
        "WITH "
        + _bpe_train_sql(rounds, top_words)
        + f"\n    {sel} ORDER BY merge_round"
    )


@register(
    "bpe_merge_rounds",
    oracle=_bpe_oracle(3, 200),
    doc="Byte-pair-encoding VOCABULARY TRAINING, three merge rounds "
    "unrolled (Sennrich et al. 2016 — the algorithm behind every "
    "production tokenizer): start from the 200 most frequent "
    "alphabetic words split into characters, and per round (1) count "
    "frequency-weighted adjacent symbol pairs, (2) take the argmax "
    "pair (ties by symbol order — engine-independent), (3) apply the "
    "merge to every word.  The merge step is pure string algebra — a "
    "4-pass non-overlapping replace on space-delimited symbol "
    "sequences equals BPE's greedy left-to-right merge — so the whole "
    "training loop hash-checks against the unrolled-CTE oracle.  "
    "Scale shape: the word-frequency table is the only corpus pass; "
    "merges run on the top-N word list (constant rows), each round "
    "one tiny aggregate + a 1-row broadcast argmax — at 100 TB this "
    "is exactly how BPE trainers work (count once, merge on the "
    "vocabulary, never re-scan the corpus).",
    tags=("llm", "text"),
)
def bpe_merge_rounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    rounds = [
        top1.select(
            F.lit(r).alias("merge_round"),
            F.col("l").alias("left_sym"),
            F.col("rr").alias("right_sym"),
            F.col("w").cast("bigint").alias("pair_weight"),
        )
        for r, top1 in enumerate(_bpe_train_tops(docs), start=1)
    ]
    out = rounds[0]
    for r_df in rounds[1:]:
        out = out.unionByName(r_df)
    return out.orderBy("merge_round")


def _bpe_merged_seq(seq: Column) -> Column:
    """Apply the 1-row merge ``(l, rr)`` in scope to a space-delimited
    symbol sequence — the Spark twin of :func:`_bpe_merge_sql`."""
    pat = F.concat(F.lit(" "), F.col("l"), F.lit(" "), F.col("rr"), F.lit(" "))
    rep = F.concat(F.lit(" "), F.col("l"), F.col("rr"), F.lit(" "))
    for _ in range(4):
        seq = F.replace(seq, pat, rep)
    return seq


def _bpe_train_tops(
    docs: DataFrame, rounds: int = 3, top_words: int = 200
) -> list[DataFrame]:
    """Train the unrolled BPE merges on the global top-N alphabetic
    word list and return ``[top1 … topR]``, each a 1-row ``(l, rr,
    w)`` DataFrame — the shared trainer behind ``bpe_merge_rounds``
    (which reports the merges) and ``bpe_vocab_coverage`` (which
    APPLIES them to the per-language vocabulary).  Scale shape: the
    word-frequency table is the only corpus pass; every round is one
    tiny aggregate over the constant-size word list plus a 1-row
    broadcast argmax.  Each ``top{r}`` is cut: every caller fans it
    into ≥2 consumers (the next round's merge apply + the caller's
    own read)."""
    words = (
        docs.select(F.explode(F.split("text", " ")).alias("tok"))
        .select(F.lower("tok").alias("tok"))
        .filter(F.col("tok").rlike("^[a-z]+$"))
        .groupBy("tok")
        .agg(F.count("*").cast("bigint").alias("freq"))
        .orderBy(F.desc("freq"), "tok")
        .limit(top_words)
        .select(
            F.col("tok").alias("word"),
            "freq",
            F.concat(
                F.lit(" "), F.regexp_replace(F.col("tok"), "(.)", "$1 ")
            ).alias("seq"),
        )
        .transform(ckpt)
    )
    tops = []
    for _ in range(rounds):
        pairs = (
            words.select(
                "freq", F.split(F.trim("seq"), " ").alias("s")
            )
            .select(
                "freq",
                F.explode(
                    F.expr(
                        "transform(slice(s, 1, size(s) - 1), "
                        "(x, i) -> struct(x AS l, element_at(s, i + 2) AS r))"
                    )
                ).alias("p"),
            )
            .groupBy(F.col("p.l").alias("l"), F.col("p.r").alias("rr"))
            .agg(F.sum("freq").alias("w"))
        )
        top1 = pairs.orderBy(F.desc("w"), "l", "rr").limit(1).transform(ckpt)
        words = (
            words.crossJoin(F.broadcast(top1))
            .select("word", "freq", _bpe_merged_seq(F.col("seq")).alias("seq"))
            .transform(ckpt)
        )
        tops.append(top1)
    return tops


@register(
    "applyinarrow_lang_stats",
    oracle="""
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           round(avg(n_chars), 4) AS avg_chars,
           CAST(max(n_chars) AS BIGINT) AS max_chars
    FROM documents GROUP BY lang ORDER BY lang
    """,
    doc="groupBy().applyInArrow (Spark 4 API): a grouped kernel that "
    "receives each language partition as a pyarrow.Table and returns "
    "a pyarrow.Table — the zero-copy sibling of applyInPandas for "
    "kernels that want Arrow compute (or libraries speaking Arrow) "
    "without a pandas materialization.  The kernel is a self-"
    "contained closure (imports pyarrow inside — Spark workers "
    "cannot import this repo) and the result value-checks against "
    "plain SQL, pinning the API's batch contract: one Table per "
    "group, schema declared up front.  Same scale shape as "
    "applyInPandas: one keyed shuffle, Arrow-batched transfer, "
    "group-local compute.",
    tags=("llm", "udf", "spark4"),
)
def applyinarrow_lang_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("lang", "n_chars")

    def stats(table):
        # self-contained kernel: pyarrow only (worker sys.path)
        import pyarrow as pa
        import pyarrow.compute as pc

        chars = table.column("n_chars")
        return pa.table(
            {
                "lang": [table.column("lang")[0].as_py()],
                "n_docs": pa.array([table.num_rows], pa.int64()),
                "avg_chars": pa.array(
                    [round(pc.mean(chars).as_py(), 4)], pa.float64()
                ),
                "max_chars": pa.array([pc.max(chars).as_py()], pa.int64()),
            }
        )

    return (
        docs.groupBy("lang")
        .applyInArrow(
            stats,
            "lang string, n_docs bigint, avg_chars double, max_chars bigint",
        )
        .orderBy("lang")
    )


# --- Count-min sketch heavy hitters -----------------------------------
#
# The streaming-sketch answer to "what are the hottest tokens in 100 TB
# of text without a full distinct aggregation": d=4 independent hash
# rows x w=512 counters, each token occurrence incrementing one counter
# per row, point estimate = min over rows (Cormode & Muthukrishnan
# 2005).  The counter table is a partial-aggregable d*w-row relation —
# it merges across partitions/streams like any sum — and the sketch
# arithmetic is md5-derived integer hashing, so the whole pipeline
# (counters AND estimates) is bit-identical in DuckDB and hash-checked.

_CMS_W = 512
_CMS_ROWS = ((31, 7), (131, 13), (1031, 29), (8191, 57))


@register(
    "countmin_heavy_hitters",
    oracle=f"""
    WITH tok AS (
        SELECT unnest(string_split(text, ' ')) AS w FROM documents
    ),
    coded AS (
        SELECT w, (CAST('0x' || substr(md5(w), 1, 12) AS BIGINT) % {_MH_P})
                   AS code
        FROM tok
    ),
    cells AS (
        SELECT j, ((a * code + b) % {_MH_P}) % {_CMS_W} AS bucket
        FROM coded
        CROSS JOIN (VALUES {", ".join(f"({j}, {a}, {b})" for j, (a, b) in enumerate(_CMS_ROWS))})
             AS rows(j, a, b)
    ),
    counters AS (
        SELECT j, bucket, CAST(count(*) AS BIGINT) AS c
        FROM cells GROUP BY 1, 2
    ),
    words AS (
        SELECT w, any_value(code) AS code, CAST(count(*) AS BIGINT) AS true_count
        FROM coded GROUP BY w
    ),
    est AS (
        SELECT words.w, words.true_count, min(counters.c) AS est_count
        FROM words
        CROSS JOIN (VALUES {", ".join(f"({j}, {a}, {b})" for j, (a, b) in enumerate(_CMS_ROWS))})
             AS rows(j, a, b)
        JOIN counters ON counters.j = rows.j
                     AND counters.bucket = ((rows.a * words.code + rows.b) % {_MH_P}) % {_CMS_W}
        GROUP BY 1, 2
    )
    SELECT w AS word, est_count, true_count,
           est_count - true_count AS overestimate
    FROM est
    ORDER BY est_count DESC, word
    LIMIT 10
    """,
    doc="Count-min sketch heavy hitters over the document corpus: "
    "d=4 x w=512 counters built in ONE pass (each occurrence maps to "
    "4 cells; the cell explode never shuffles — map-side partials "
    "reduce it to <= d*w rows per partition before the exchange), "
    "then point estimates est(w) = min_j counter[j][h_j(w)] for the "
    "candidate words and the top-10 by estimate.  The est >= true "
    "overestimate column audits the sketch guarantee.  At 100 TB the "
    "counter table is a constant-size mergeable summary (union "
    "streams/shards by summing counters); only candidate scoring "
    "touches a distinct-word relation.  md5-derived codes keep every "
    "counter bit-identical in the DuckDB oracle.",
    tags=("llm", "sketch", "text"),
)
def countmin_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    coded = docs.select(
        F.explode(F.split("text", " ")).alias("w")
    ).select(
        "w",
        (
            F.conv(F.substring(F.md5("w"), 1, 12), 16, 10).cast("bigint") % _MH_P
        ).alias("code"),
    ).transform(ckpt)
    cell_structs = F.array(
        *[
            F.struct(
                F.lit(j).alias("j"),
                (((F.lit(a) * F.col("code") + F.lit(b)) % _MH_P) % _CMS_W).alias(
                    "bucket"
                ),
            )
            for j, (a, b) in enumerate(_CMS_ROWS)
        ]
    )
    counters = (
        coded.select(F.explode(cell_structs).alias("cell"))
        .groupBy(F.col("cell.j").alias("j"), F.col("cell.bucket").alias("bucket"))
        .agg(F.count("*").cast("bigint").alias("c"))
    )
    words = coded.groupBy("w").agg(
        F.any_value("code").alias("code"),
        F.count("*").cast("bigint").alias("true_count"),
    )
    probes = words.select(
        "w", "true_count", F.explode(cell_structs).alias("cell")
    )
    est = (
        probes.join(
            counters,
            (F.col("cell.j") == counters.j) & (F.col("cell.bucket") == counters.bucket),
        )
        .groupBy("w", "true_count")
        .agg(F.min("c").alias("est_count"))
    )
    return (
        est.select(
            F.col("w").alias("word"),
            "est_count",
            "true_count",
            (F.col("est_count") - F.col("true_count")).alias("overestimate"),
        )
        .orderBy(F.desc("est_count"), "word")
        .limit(10)
    )


# --- PCA top principal component (power iteration) --------------------


@register(
    "pca_power_iteration_top",
    oracle="""
    WITH e1 AS (
        SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS i,
               CAST(unnest(embedding) AS DOUBLE) AS xi, embedding
        FROM embeddings
    ),
    e2 AS (
        SELECT vec_id, i, xi,
               generate_subscripts(embedding, 1) - 1 AS j,
               CAST(unnest(embedding) AS DOUBLE) AS xj
        FROM e1
    ),
    sums AS (
        SELECT i, j, sum(xi * xj) AS s, CAST(count(*) AS BIGINT) AS n
        FROM e2 GROUP BY 1, 2
    ),
    means AS (
        SELECT i, sum(xi) / count(*) AS m FROM e1 GROUP BY 1
    ),
    cov AS (
        SELECT s.i, s.j, round(s.s / s.n - ma.m * mb.m, 6) AS c
        FROM sums s
        JOIN means ma ON ma.i = s.i
        JOIN means mb ON mb.i = s.j
    ),
    dims AS (SELECT DISTINCT i FROM cov),
    v0 AS (SELECT i, 1.0 / sqrt((SELECT count(*) FROM dims)) AS v FROM dims),
    r1 AS (SELECT c.i, sum(c.c * v0.v) AS u FROM cov c
           JOIN v0 ON v0.i = c.j GROUP BY 1),
    v1 AS (SELECT i, u / (SELECT sqrt(sum(u * u)) FROM r1) AS v FROM r1),
    r2 AS (SELECT c.i, sum(c.c * v1.v) AS u FROM cov c
           JOIN v1 ON v1.i = c.j GROUP BY 1),
    v2 AS (SELECT i, u / (SELECT sqrt(sum(u * u)) FROM r2) AS v FROM r2),
    r3 AS (SELECT c.i, sum(c.c * v2.v) AS u FROM cov c
           JOIN v2 ON v2.i = c.j GROUP BY 1),
    v3 AS (SELECT i, u / (SELECT sqrt(sum(u * u)) FROM r3) AS v FROM r3),
    eig AS (
        SELECT sum(c.c * va.v * vb.v) AS lam
        FROM cov c
        JOIN v3 va ON va.i = c.i
        JOIN v3 vb ON vb.i = c.j
    )
    SELECT v3.i AS dim, round(v3.v, 4) AS loading,
           round((SELECT lam FROM eig), 4) AS eigenvalue
    FROM v3 ORDER BY dim
    """,
    doc="Top principal component of the embedding corpus by power "
    "iteration: the d x d covariance matrix accumulates in ONE fact "
    "pass (the double posexplode never shuffles raw rows — map-side "
    "partials reduce each partition to <= d^2 cells before the "
    "exchange), then three unrolled normalize-multiply rounds run on "
    "the d^2-row covariance relation with 1-row norm broadcasts.  "
    "Covariance is rounded to 6 dp on both engines so the iteration "
    "arithmetic is deterministic; the Rayleigh quotient (top "
    "eigenvalue) rides along as a constant column.  At 100 TB this "
    "is the canonical distributed-PCA shape: the data is touched "
    "once, everything iterative runs on dimension^2 rows.  Oracle: "
    "identical unrolled-CTE power iteration.",
    tags=("llm", "embedding", "ml"),
)
def pca_power_iteration_top(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    e1 = emb.select(
        "vec_id",
        "embedding",
        F.posexplode("embedding").alias("i", "xi_raw"),
    ).select(
        "vec_id", "embedding", "i", F.col("xi_raw").cast("double").alias("xi")
    ).transform(ckpt)
    e2 = e1.select(
        "i", "xi", F.posexplode("embedding").alias("j", "xj_raw")
    ).select("i", "xi", "j", F.col("xj_raw").cast("double").alias("xj"))
    sums = e2.groupBy("i", "j").agg(
        F.sum(F.col("xi") * F.col("xj")).alias("s"),
        F.count("*").cast("bigint").alias("n"),
    )
    means = e1.groupBy("i").agg((F.sum("xi") / F.count("*")).alias("m"))
    ma, mb = means.alias("ma"), means.alias("mb")
    cov = (
        sums.alias("s")
        .join(F.broadcast(ma), F.col("ma.i") == F.col("s.i"))
        .join(F.broadcast(mb), F.col("mb.i") == F.col("s.j"))
        .select(
            F.col("s.i").alias("i"),
            F.col("s.j").alias("j"),
            F.round(
                F.col("s.s") / F.col("s.n") - F.col("ma.m") * F.col("mb.m"), 6
            ).alias("c"),
        )
        .transform(ckpt)
    )
    dims = cov.select("i").distinct()
    n_dims = dims.agg(F.count("*").alias("nd"))
    vec = (
        dims.crossJoin(F.broadcast(n_dims))
        .select("i", (F.lit(1.0) / F.sqrt(F.col("nd"))).alias("v"))
    )
    for _ in range(3):
        r = (
            cov.alias("c")
            .join(F.broadcast(vec.alias("vv")), F.col("vv.i") == F.col("c.j"))
            .groupBy(F.col("c.i").alias("i"))
            .agg(F.sum(F.col("c.c") * F.col("vv.v")).alias("u"))
        )
        norm = r.agg(F.sqrt(F.sum(F.col("u") * F.col("u"))).alias("nrm"))
        vec = (
            r.crossJoin(F.broadcast(norm))
            .select("i", (F.col("u") / F.col("nrm")).alias("v"))
            .transform(ckpt)
        )
    va, vb = vec.alias("va"), vec.alias("vb")
    eig = (
        cov.alias("c")
        .join(F.broadcast(va), F.col("va.i") == F.col("c.i"))
        .join(F.broadcast(vb), F.col("vb.i") == F.col("c.j"))
        .agg(F.sum(F.col("c.c") * F.col("va.v") * F.col("vb.v")).alias("lam"))
    )
    return (
        vec.crossJoin(F.broadcast(eig))
        .select(
            F.col("i").alias("dim"),
            F.round("v", 4).alias("loading"),
            F.round("lam", 4).alias("eigenvalue"),
        )
        .orderBy("dim")
    )


# --- Prefix-filtered set-similarity join (PPJoin-lite) ----------------


@register(
    "prefix_filter_jaccard_pairs",
    oracle="""
    WITH tok AS (
        SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS w
        FROM documents
    ),
    df AS (SELECT w, CAST(count(*) AS BIGINT) AS dfreq FROM tok GROUP BY w),
    ranked_vocab AS (
        SELECT w, row_number() OVER (ORDER BY dfreq, w) AS rnk FROM df
    ),
    dtok AS (
        SELECT t.doc_id, t.w, rv.rnk
        FROM tok t JOIN ranked_vocab rv ON rv.w = t.w
    ),
    sized AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS sz FROM dtok GROUP BY doc_id),
    pos AS (
        SELECT doc_id, w,
               row_number() OVER (PARTITION BY doc_id ORDER BY rnk) AS p
        FROM dtok
    ),
    prefix AS (
        SELECT p.doc_id, p.w
        FROM pos p JOIN sized s USING (doc_id)
        WHERE p.p <= s.sz - CAST(ceil(0.9 * s.sz) AS BIGINT) + 1
    ),
    cand AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b
        FROM prefix a JOIN prefix b ON a.w = b.w AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    inter AS (
        SELECT c.id_a, c.id_b, CAST(count(*) AS BIGINT) AS n_common
        FROM cand c
        JOIN dtok ta ON ta.doc_id = c.id_a
        JOIN dtok tb ON tb.doc_id = c.id_b AND tb.w = ta.w
        GROUP BY 1, 2
    )
    SELECT i.id_a, i.id_b,
           round(CAST(i.n_common AS DOUBLE)
                 / (sa.sz + sb.sz - i.n_common), 4) AS jaccard
    FROM inter i
    JOIN sized sa ON sa.doc_id = i.id_a
    JOIN sized sb ON sb.doc_id = i.id_b
    WHERE CAST(i.n_common AS DOUBLE) / (sa.sz + sb.sz - i.n_common) >= 0.9
    ORDER BY i.id_a, i.id_b
    """,
    doc="Set-similarity join with PREFIX FILTERING (the ppjoin family, "
    "Xiao et al. 2008): order every document's token set by ascending "
    "global document frequency, index only each set's first "
    "|s| - ceil(t*|s|) + 1 tokens, and verify exact Jaccard >= 0.9 on "
    "candidates only.  The filter is LOSSLESS — two sets meeting the "
    "threshold must share a prefix token under a common global order "
    "— yet the inverted index shrinks to the rare-token prefixes, so "
    "hot stopwords never fan out candidate pairs (the principled "
    "version of the max-df cut used by ngram_jaccard_pairs).  The "
    "global token order is vocabulary-sized (Heaps' law: "
    "~corpus^0.5 rows) and, like every exact global rank in this "
    "repo, is computed WITHOUT a one-task sort: dfreq-range buckets "
    "(bounds from a 1-row broadcast min/max), per-bucket "
    "row_numbers plus the ≤129-row bucket-count table's cumulative "
    "offsets — bit-identical to the oracle's literal row_number() "
    "OVER (ORDER BY dfreq, w).  Candidates and verification cost "
    "follow true near-duplicate mass.",
    tags=("llm", "dedup", "similarity"),
)
def prefix_filter_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    tok = word_set(docs).transform(ckpt)
    df_t = tok.groupBy("w").agg(F.count("*").cast("bigint").alias("dfreq"))
    # the shared bucket+offset device (operators/ranks.py): dfreq-range
    # buckets (Zipf makes dfreq=mn the hot bucket — a straggler on a
    # linear window, never a blow-up), per-bucket row_numbers +
    # broadcast prefix offsets
    from ..operators.ranks import with_global_rank, with_range_bucket

    df_b = with_range_bucket(df_t, "dfreq", out="vbkt")
    ranked_vocab = with_global_rank(
        df_b,
        [F.asc("dfreq"), F.asc("w")],
        bucket_col="vbkt",
        out="rnk",
        pre_shuffle=True,
    ).select("w", "rnk")
    dtok = (
        tok.alias("t")
        .join(ranked_vocab.alias("rv"), F.col("rv.w") == F.col("t.w"))
        .select("t.doc_id", "t.w", "rv.rnk")
        .transform(ckpt)
    )
    sized = dtok.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("sz")
    ).transform(ckpt)
    pos = dtok.select(
        "doc_id",
        "w",
        F.row_number()
        .over(Window.partitionBy("doc_id").orderBy("rnk"))
        .alias("p"),
    )
    prefix = (
        pos.join(sized, "doc_id")
        .filter(
            F.col("p")
            <= F.col("sz") - F.ceil(F.lit(0.9) * F.col("sz")).cast("bigint") + 1
        )
        .select("doc_id", "w", "p", "sz")
    )
    a, b = prefix.alias("a"), prefix.alias("b")
    # ppjoin's LOSSLESS candidate filters (Xiao et al. 2008 §3), both
    # in exact integer arithmetic so no float boundary can disagree
    # with the verify stage:
    # - length filter: J >= 0.9 forces 10*min(sz) >= 9*max(sz)
    #   (o <= min and o >= 9(sa+sb)/19 combine to it);
    # - positional filter: a prefix match at (positions pa, pb) bounds
    #   the overlap by least(pa,pb) + least(sa-pa, sb-pb); the PAIR
    #   bound is the MIN over its match events, and J >= 0.9 needs
    #   19*bound >= 9*(sa+sb).
    # Dropped pairs provably cannot reach the 0.9 threshold, so the
    # verified output is IDENTICAL — but the verify join is fed true
    # near-duplicate mass instead of every prefix collision (the
    # fixture's 31-token vocabulary made that collision set near-
    # quadratic: 11.3M of a possible 12.5M pairs at sf0.1).
    sa, sb = F.col("a.sz"), F.col("b.sz")
    pa, pb = F.col("a.p"), F.col("b.p")
    bound = F.least(pa, pb) + F.least(sa - pa, sb - pb)
    cand = (
        a.join(
            b,
            (F.col("a.w") == F.col("b.w"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            & (10 * F.least(sa, sb) >= 9 * F.greatest(sa, sb))
            & (19 * bound >= 9 * (sa + sb)),
        )
        .groupBy(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
            sa.alias("sza"),
            sb.alias("szb"),
        )
        .agg(F.min(bound).alias("ub"))
        .filter(19 * F.col("ub") >= 9 * (F.col("sza") + F.col("szb")))
        .select("id_a", "id_b")
    )
    ta, tb = dtok.alias("ta"), dtok.alias("tb")
    inter = (
        cand.alias("c")
        .join(ta, F.col("ta.doc_id") == F.col("c.id_a"))
        .join(
            tb,
            (F.col("tb.doc_id") == F.col("c.id_b")) & (F.col("tb.w") == F.col("ta.w")),
        )
        .groupBy("c.id_a", "c.id_b")
        .agg(F.count("*").cast("bigint").alias("n_common"))
    )
    sa, sb = sized.alias("sa"), sized.alias("sb")
    jac = F.col("n_common").cast("double") / (
        F.col("sa.sz") + F.col("sb.sz") - F.col("n_common")
    )
    return (
        inter.alias("i")
        .join(sa, F.col("sa.doc_id") == F.col("i.id_a"))
        .join(sb, F.col("sb.doc_id") == F.col("i.id_b"))
        .filter(jac >= 0.9)
        .select(
            F.col("i.id_a").alias("id_a"),
            F.col("i.id_b").alias("id_b"),
            F.round(jac, 4).alias("jaccard"),
        )
        .orderBy("id_a", "id_b")
    )


# --- MinHash estimator calibration ------------------------------------


def _minhash_calibration_oracle() -> str:
    n_eq = " + ".join(
        f"(CASE WHEN sa.s{i} = sb.s{i} THEN 1 ELSE 0 END)" for i in range(16)
    )
    return f"""
    WITH {_band_core_sql()},
    cand AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b
        FROM pruned a JOIN pruned b
          ON a.band_id = b.band_id AND a.band_val = b.band_val
         AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    eqs AS (
        SELECT c.id_a, c.id_b, CAST({n_eq} AS BIGINT) AS n_eq
        FROM cand c
        JOIN sig sa ON sa.doc_id = c.id_a
        JOIN sig sb ON sb.doc_id = c.id_b
    ),
    sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS sz
              FROM __sh GROUP BY doc_id),
    inter AS (
        SELECT c.id_a, c.id_b, CAST(count(*) AS BIGINT) AS n_common
        FROM cand c
        JOIN __sh ta ON ta.doc_id = c.id_a
        JOIN __sh tb ON tb.doc_id = c.id_b AND tb.tok = ta.tok
        GROUP BY 1, 2
    ),
    scored AS (
        SELECT e.n_eq,
               CAST(i.n_common AS DOUBLE)
                   / (sa.sz + sb.sz - i.n_common) AS true_j
        FROM eqs e
        JOIN inter i ON i.id_a = e.id_a AND i.id_b = e.id_b
        JOIN sizes sa ON sa.doc_id = e.id_a
        JOIN sizes sb ON sb.doc_id = e.id_b
    )
    SELECT n_eq AS n_equal_slots,
           round(n_eq / 16.0, 4) AS est_jaccard,
           CAST(count(*) AS BIGINT) AS n_pairs,
           round(avg(true_j), 4) AS avg_true_jaccard,
           round(avg(abs(n_eq / 16.0 - true_j)), 4) AS mae
    FROM scored
    GROUP BY n_eq
    ORDER BY n_equal_slots
    """


@register(
    "minhash_estimate_calibration",
    oracle=_minhash_calibration_oracle(),
    doc="Calibration curve for the MinHash Jaccard estimator: over "
    "the portable band tier's candidate pairs, the estimated Jaccard "
    "(fraction of the 16 signature slots that agree) is binned "
    "against the EXACT shingle-set Jaccard — n_pairs, mean true "
    "similarity, and mean absolute error per estimator level.  This "
    "is the audit that justifies trusting signature agreement in the "
    "dedup pipeline instead of exact verification everywhere: E[est] "
    "= true Jaccard per slot, and the curve shows the variance at "
    "k=16.  Costs one signature pass + candidate-only exact "
    "verification (the same bounded shape as the pipeline itself — "
    "never all-pairs).",
    tags=("llm", "dedup", "sketch"),
)
def minhash_estimate_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    sig = portable_signatures(docs).transform(ckpt)
    cand = band_candidates(sig).transform(ckpt)
    sa, sb = sig.alias("sa"), sig.alias("sb")
    n_eq = None
    for i in range(16):
        term = (F.col(f"sa.s{i}") == F.col(f"sb.s{i}")).cast("int")
        n_eq = term if n_eq is None else (n_eq + term)
    eqs = (
        cand.alias("c")
        .join(sa, F.col("sa.doc_id") == F.col("c.id_a"))
        .join(sb, F.col("sb.doc_id") == F.col("c.id_b"))
        .select("c.id_a", "c.id_b", n_eq.cast("bigint").alias("n_eq"))
    )
    tok = docs.select(
        "doc_id", F.explode(_shingles(F.col("text"), 3)).alias("w")
    ).distinct().transform(ckpt)
    scored = (
        eqs.alias("e")
        .join(
            set_overlap(cand, tok).alias("i"),
            (F.col("i.id_a") == F.col("e.id_a"))
            & (F.col("i.id_b") == F.col("e.id_b")),
        )
        .select(F.col("e.n_eq").alias("n_eq"), jaccard().alias("true_j"))
    )
    return (
        scored.groupBy("n_eq")
        .agg(
            F.count("*").cast("bigint").alias("n_pairs"),
            F.round(F.avg("true_j"), 4).alias("avg_true_jaccard"),
            F.round(F.avg(F.abs(F.col("n_eq") / 16.0 - F.col("true_j"))), 4).alias(
                "mae"
            ),
        )
        .select(
            F.col("n_eq").alias("n_equal_slots"),
            F.round(F.col("n_eq") / 16.0, 4).alias("est_jaccard"),
            "n_pairs",
            "avg_true_jaccard",
            "mae",
        )
        .orderBy("n_equal_slots")
    )


# --- Boilerplate sentence audit ---------------------------------------


@register(
    "boilerplate_sentence_audit",
    oracle="""
    WITH sent AS (
        SELECT doc_id, trim(s) AS s
        FROM (SELECT doc_id, unnest(string_split(text, '.')) AS s
              FROM documents)
        WHERE trim(s) <> ''
    ),
    n_docs AS (SELECT CAST(count(*) AS BIGINT) AS nd FROM documents),
    sdf AS (
        SELECT s, CAST(count(DISTINCT doc_id) AS BIGINT) AS docfreq
        FROM sent GROUP BY s
    ),
    bp AS (
        SELECT s FROM sdf
        WHERE docfreq >= 0.05 * (SELECT nd FROM n_docs)
    ),
    per_doc AS (
        SELECT sent.doc_id,
               CAST(count(*) AS BIGINT) AS n_sent,
               CAST(count(*) FILTER (WHERE bp.s IS NOT NULL) AS BIGINT)
                   AS n_bp
        FROM sent LEFT JOIN bp ON bp.s = sent.s
        GROUP BY 1
    )
    SELECT d.lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           round(avg(CAST(p.n_bp AS DOUBLE) / p.n_sent), 4)
               AS avg_boilerplate_frac,
           CAST(sum(p.n_bp) AS BIGINT) AS total_bp_sentences
    FROM per_doc p JOIN documents d USING (doc_id)
    GROUP BY 1
    ORDER BY lang
    """,
    doc="Boilerplate sentence audit (the CCNet/RefinedWeb line-dedup "
    "signal at sentence granularity): a sentence appearing in >= 5% "
    "of documents is boilerplate (headers, disclaimers, templates); "
    "each document gets its boilerplate fraction, rolled up per "
    "language.  High-fraction cohorts are cleaned by dropping the "
    "repeated LINES, not the documents — the cheap complement to "
    "document-level dedup.  Sentence doc-frequency is one "
    "hash-keyed aggregate over exploded sentences (32-to-few-hundred "
    "byte keys); the membership check joins sentences to the small "
    "high-df set — at 100 TB, broadcast it or bloom-filter it.",
    tags=("llm", "text", "dedup"),
)
def boilerplate_sentence_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    sent = (
        docs.select("doc_id", F.explode(F.split("text", "\\.")).alias("s0"))
        .select("doc_id", F.trim("s0").alias("s"))
        .filter(F.col("s") != "")
        .transform(ckpt)
    )
    n_docs = docs.agg(F.count("*").cast("bigint").alias("nd"))
    sdf = sent.groupBy("s").agg(
        F.countDistinct("doc_id").cast("bigint").alias("docfreq")
    )
    bp = (
        sdf.crossJoin(F.broadcast(n_docs))
        .filter(F.col("docfreq") >= 0.05 * F.col("nd"))
        .select(F.col("s").alias("bps"))
    )
    per_doc = (
        sent.join(F.broadcast(bp), F.col("bps") == F.col("s"), "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_sent"),
            F.sum(F.col("bps").isNotNull().cast("int")).cast("bigint").alias("n_bp"),
        )
    )
    return (
        per_doc.alias("p")
        .join(docs.alias("d"), "doc_id")
        .groupBy("d.lang")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.round(
                F.avg(F.col("p.n_bp").cast("double") / F.col("p.n_sent")), 4
            ).alias("avg_boilerplate_frac"),
            F.sum("p.n_bp").cast("bigint").alias("total_bp_sentences"),
        )
        .orderBy("lang")
    )


@register(
    "ngram_novelty_score",
    oracle=f"""
    WITH arrs AS (
        SELECT doc_id, lang, string_split(text, ' ') AS toks
        FROM documents
    ),
    wins AS (
        SELECT doc_id, lang,
               md5(array_to_string(
                   list_slice(toks, i, i + {_SUBSTR_W} - 1), ' ')) AS wh
        FROM arrs, unnest(range(1, len(toks) - {_SUBSTR_W} + 2)) AS t(i)
        WHERE len(toks) >= {_SUBSTR_W}
    ),
    first_seen AS (
        SELECT wh, min(doc_id) AS introducer FROM wins GROUP BY 1
    ),
    perdoc AS (
        SELECT w.doc_id, w.lang,
               CAST(count(*) AS BIGINT) AS n_windows,
               CAST(sum(CASE WHEN f.introducer = w.doc_id THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_novel
        FROM wins w JOIN first_seen f USING (wh)
        GROUP BY 1, 2
    )
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           round(avg(n_novel / CAST(n_windows AS DOUBLE)), 6)
               AS avg_novelty,
           CAST(sum(CASE WHEN n_novel * 10 < n_windows THEN 1 ELSE 0 END)
                AS BIGINT) AS n_derivative_docs
    FROM perdoc GROUP BY lang ORDER BY lang
    """,
    doc="N-gram novelty score: in ingestion order (doc_id), a "
    "document's novelty is the fraction of its 8-token windows it "
    "introduces to the corpus (window's min doc_id = this doc).  "
    "Documents under 10% novelty are derivative — near-copies, "
    "quotations, templates — and are the marginal-value ranking a "
    "curation pass orders by, where substring_duplication_rate only "
    "counts symmetric duplication.  Same md5-keyed window shape: "
    "32-byte shuffle keys, one min-aggregate for first-introducer, "
    "one hash join back; linear in corpus tokens.",
    tags=("llm", "text", "dedup", "quality"),
)
def ngram_novelty_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    arrs = docs.select("doc_id", "lang", F.split("text", " ").alias("toks")).filter(
        F.size("toks") >= _SUBSTR_W
    )
    wins = arrs.select(
        "doc_id",
        "lang",
        F.explode(
            F.expr(
                f"transform(sequence(1, size(toks) - {_SUBSTR_W} + 1), "
                f"i -> md5(array_join(slice(toks, i, {_SUBSTR_W}), ' ')))"
            )
        ).alias("wh"),
    ).transform(ckpt)
    first_seen = wins.groupBy("wh").agg(F.min("doc_id").alias("introducer"))
    perdoc = (
        wins.join(first_seen, "wh")
        .groupBy("doc_id", "lang")
        .agg(
            F.count("*").cast("bigint").alias("n_windows"),
            F.sum((F.col("introducer") == F.col("doc_id")).cast("int"))
            .cast("bigint")
            .alias("n_novel"),
        )
    )
    return (
        perdoc.groupBy("lang")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.round(
                F.avg(F.col("n_novel") / F.col("n_windows").cast("double")), 6
            ).alias("avg_novelty"),
            F.sum((F.col("n_novel") * 10 < F.col("n_windows")).cast("int"))
            .cast("bigint")
            .alias("n_derivative_docs"),
        )
        .orderBy("lang")
    )


@register(
    "embedding_outlier_screen",
    oracle="""
    WITH e AS (
        SELECT vec_id, label,
               generate_subscripts(embedding, 1) AS i,
               CAST(unnest(embedding) AS DOUBLE) AS x
        FROM embeddings
    ),
    stats AS (
        SELECT i, avg(x) AS m, var_samp(x) AS s2 FROM e GROUP BY 1
    ),
    dists AS (
        SELECT e.vec_id, e.label,
               sum((e.x - st.m) * (e.x - st.m) / st.s2) AS d2,
               CAST(count(*) AS BIGINT) AS d
        FROM e JOIN stats st ON st.i = e.i
        GROUP BY 1, 2
    )
    SELECT vec_id, label,
           round(sqrt(d2 / d), 4) AS rms_z,
           CAST(row_number() OVER (ORDER BY round(sqrt(d2 / d), 6) DESC,
                                   vec_id) AS INTEGER) AS rnk
    FROM dists
    ORDER BY rnk
    LIMIT 10
    """,
    doc="Embedding outlier screen: diagonal-covariance Mahalanobis "
    "distance per vector (per-dimension z-scores from one "
    "posexplode-aggregate pass, RMS over dimensions), top-10 by "
    "distance with a 6-dp-rounded deterministic ranking.  The "
    "data-quality gate in front of ANN indexing and SemDeDup — "
    "corrupted or off-manifold vectors poison centroids and "
    "neighbour lists.  Per-dim stats are d rows broadcast back; the "
    "distance is map-side; the top-10 is a distributed "
    "TakeOrderedAndProject (orderBy().limit() BEFORE ranking — "
    "never a global row_number over all vectors, whose sort can't "
    "push through the window), and the rank column is rebuilt on "
    "the 10 survivors by a broadcast 10x10 self-join count — zero "
    "Window nodes in the plan.",
    tags=("llm", "embedding", "quality"),
)
def embedding_outlier_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    e = emb.select(
        "vec_id",
        "label",
        F.posexplode("embedding").alias("i0", "x0"),
    ).select(
        "vec_id",
        "label",
        (F.col("i0") + 1).alias("i"),
        F.col("x0").cast("double").alias("x"),
    ).transform(ckpt)
    stats = e.groupBy("i").agg(
        F.avg("x").alias("m"), F.var_samp("x").alias("s2")
    )
    dists = (
        e.join(F.broadcast(stats), "i")
        .groupBy("vec_id", "label")
        .agg(
            F.sum(
                (F.col("x") - F.col("m")) * (F.col("x") - F.col("m")) / F.col("s2")
            ).alias("d2"),
            F.count("*").cast("bigint").alias("d"),
        )
    )
    rms = F.sqrt(F.col("d2") / F.col("d"))
    top = (
        dists.select(
            "vec_id",
            "label",
            F.round(rms, 6).alias("_key"),
            F.round(rms, 4).alias("rms_z"),
        )
        .orderBy(F.desc("_key"), "vec_id")
        .limit(10)
        .transform(ckpt)
    )
    # rank the 10 survivors: rnk = 1 + |rows sorting strictly before|
    # (broadcast 10x10 self-join — no Window node anywhere)
    b = top.select(
        F.col("_key").alias("_bkey"), F.col("vec_id").alias("_bvid")
    )
    before = (F.col("_bkey") > F.col("_key")) | (
        (F.col("_bkey") == F.col("_key"))
        & (F.col("_bvid") < F.col("vec_id"))
    )
    return (
        top.join(F.broadcast(b), before, "left")
        .groupBy("vec_id", "label", "rms_z")
        .agg((F.count("_bvid") + 1).cast("int").alias("rnk"))
        .orderBy("rnk")
    )


@register(
    "zipf_exponent_fit",
    oracle="""
    WITH tok AS (
        SELECT unnest(string_split(text, ' ')) AS w FROM documents
    ),
    freqs AS (
        SELECT w, CAST(count(*) AS BIGINT) AS f FROM tok GROUP BY w
    ),
    ranked AS (
        SELECT f, row_number() OVER (ORDER BY f DESC, w) AS r
        FROM freqs
    ),
    top AS (SELECT * FROM ranked WHERE r <= 1000)
    SELECT CAST(count(*) AS BIGINT) AS n_ranks,
           round(-regr_slope(ln(f), ln(r)), 4) AS zipf_exponent,
           round(regr_r2(ln(f), ln(r)), 4) AS loglog_r2
    FROM top
    """,
    doc="Zipf's-law exponent of the corpus token distribution: "
    "log-frequency regressed on log-rank over the top 1000 ranks "
    "(one regr_* aggregate).  Natural corpora sit near s=1; a flat "
    "exponent flags template/generated text, a steep one flags "
    "vocabulary collapse — the one-number lexical-health screen "
    "beside the per-doc quality scores.  One corpus pass for counts; "
    "the top-1000 is a distributed TakeOrderedAndProject over the "
    "Heaps'-law vocabulary with ranks rebuilt on the 1000 survivors "
    "(operators/ranks.topk_ranked) — no vocabulary-sized one-task "
    "rank window.",
    tags=("llm", "text", "stats"),
)
def zipf_exponent_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.ranks import topk_ranked

    docs = load_table(spark, sf_dir, "documents")
    freqs = (
        docs.select(F.explode(F.split("text", " ")).alias("w"))
        .groupBy("w")
        .agg(F.count("*").cast("bigint").alias("f"))
    )
    ranked = topk_ranked(
        freqs, [("f", "desc"), ("w", "asc")], 1000, out="r"
    )
    return ranked.agg(
        F.count("*").cast("bigint").alias("n_ranks"),
        F.round(-F.regr_slope(F.log("f"), F.log("r")), 4).alias("zipf_exponent"),
        F.round(F.regr_r2(F.log("f"), F.log("r")), 4).alias("loglog_r2"),
    )


def _ann_recall_oracle() -> str:
    from .registry import REGISTRY

    brute = REGISTRY["cosine_topk_bruteforce"].oracle
    ivf = REGISTRY["ann_rp_ivf_portable_topk"].oracle
    return f"""
    WITH brute AS (SELECT * FROM ({brute})),
    ivf AS (SELECT * FROM ({ivf})),
    per_q AS (
        SELECT b.qid,
               CAST(count(i.nid) AS BIGINT) AS n_hit,
               CAST(count(*) AS BIGINT) AS k
        FROM brute b
        LEFT JOIN ivf i ON i.qid = b.qid AND i.nid = b.nid
        GROUP BY 1
    ),
    top1 AS (
        SELECT b.qid,
               max(CASE WHEN i.nid IS NOT NULL THEN 1 ELSE 0 END) AS agree
        FROM brute b
        LEFT JOIN ivf i ON i.qid = b.qid AND i.nid = b.nid AND i.rn = 1
        WHERE b.rn = 1
        GROUP BY 1
    )
    SELECT CAST(count(*) AS BIGINT) AS n_queries,
           round(avg(CAST(p.n_hit AS DOUBLE) / p.k), 4) AS recall_at_3,
           round(avg(CAST(t.agree AS DOUBLE)), 4) AS top1_agreement
    FROM per_q p JOIN top1 t ON t.qid = p.qid
    """


@register(
    "ann_recall_audit",
    oracle=_ann_recall_oracle(),
    doc="ANN quality as a QUERY, not just a pytest: recall@3 and "
    "top-1 agreement of the portable IVF tier against the exact "
    "brute-force baseline, joined on (query, neighbour).  Both tiers "
    "are deterministic, so the whole evaluation — baseline, index, "
    "metric — hash-checks against the oracle replaying both "
    "pipelines.  This is the dashboard number an ANN rollout is "
    "gated on; computing it relationally means it runs at any scale "
    "the tiers themselves run.  Costs one extra hash join over the "
    "two top-k lists (k rows per query each).",
    tags=("llm", "similarity", "ivf", "dataops"),
)
def ann_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    brute = cosine_topk_bruteforce(spark, sf_dir).transform(ckpt)
    ivf = ann_rp_ivf_portable_topk(spark, sf_dir).transform(ckpt)
    b, i = brute.alias("b"), ivf.alias("i")
    per_q = (
        b.join(
            i,
            (F.col("i.qid") == F.col("b.qid")) & (F.col("i.nid") == F.col("b.nid")),
            "left",
        )
        .groupBy(F.col("b.qid").alias("qid"))
        .agg(
            F.count("i.nid").cast("bigint").alias("n_hit"),
            F.count("*").cast("bigint").alias("k"),
        )
    )
    top1 = (
        b.filter(F.col("b.rn") == 1)
        .join(
            i,
            (F.col("i.qid") == F.col("b.qid"))
            & (F.col("i.nid") == F.col("b.nid"))
            & (F.col("i.rn") == 1),
            "left",
        )
        .groupBy(F.col("b.qid").alias("qid"))
        .agg(F.max(F.col("i.nid").isNotNull().cast("int")).alias("agree"))
    )
    p, t = per_q.alias("p"), top1.alias("t")
    return p.join(t, F.col("t.qid") == F.col("p.qid")).agg(
        F.count("*").cast("bigint").alias("n_queries"),
        F.round(F.avg(F.col("p.n_hit").cast("double") / F.col("p.k")), 4).alias(
            "recall_at_3"
        ),
        F.round(F.avg(F.col("t.agree").cast("double")), 4).alias("top1_agreement"),
    )


# --- RAG retrieval evaluation -----------------------------------------

_RAG_CHUNK = 30
_RAG_STRIDE = 15
_RAG_QLEN = 8


@register(
    "rag_retrieval_eval",
    oracle=f"""
    WITH arrs AS (
        SELECT doc_id, string_split(text, ' ') AS toks FROM documents
    ),
    chunks AS (
        SELECT doc_id, CAST(i AS INTEGER) AS chunk_id,
               list_slice(toks, i, i + {_RAG_CHUNK} - 1) AS ctoks
        FROM arrs,
             unnest(range(1, greatest(len(toks) - {_RAG_CHUNK} + 1, 0) + 1,
                          {_RAG_STRIDE})) AS t(i)
        WHERE len(toks) >= {_RAG_CHUNK}
    ),
    ctok AS (
        SELECT doc_id, chunk_id, unnest(ctoks) AS w, len(ctoks) AS dl
        FROM chunks
    ),
    cstats AS (
        SELECT count(*) AS n_chunks, avg(len(ctoks)) AS avgdl FROM chunks
    ),
    queries AS (
        SELECT doc_id AS qid,
               list_distinct(list_slice(toks, 1, {_RAG_QLEN})) AS qterms
        FROM arrs
        WHERE doc_id % 25 = 0 AND len(toks) >= {_RAG_CHUNK}
    ),
    qterm AS (SELECT qid, unnest(qterms) AS w FROM queries),
    tf AS (
        SELECT c.doc_id, c.chunk_id, c.w, count(*) AS tf, max(c.dl) AS dl
        FROM ctok c
        WHERE c.w IN (SELECT DISTINCT w FROM qterm)
        GROUP BY 1, 2, 3
    ),
    dfreq AS (
        SELECT w, count(*) AS df FROM tf GROUP BY w
    ),
    scored AS (
        SELECT q.qid, t.doc_id, t.chunk_id,
               sum(ln(1.0 + (s.n_chunks - d.df + 0.5) / (d.df + 0.5))
                   * t.tf * ({_BM25_K1} + 1.0)
                   / (t.tf + {_BM25_K1} * (1.0 - {_BM25_B}
                          + {_BM25_B} * t.dl / s.avgdl))) AS score
        FROM qterm q
        JOIN tf t ON t.w = q.w
        JOIN dfreq d ON d.w = q.w
        CROSS JOIN cstats s
        GROUP BY 1, 2, 3
    ),
    ranked AS (
        SELECT qid, doc_id, chunk_id,
               row_number() OVER (PARTITION BY qid
                                  ORDER BY round(score, 6) DESC,
                                           doc_id, chunk_id) AS rn
        FROM scored
    ),
    per_q AS (
        SELECT qid,
               max(CASE WHEN rn = 1 AND doc_id = qid THEN 1 ELSE 0 END)
                   AS hit1,
               max(CASE WHEN rn <= 3 AND doc_id = qid THEN 1 ELSE 0 END)
                   AS hit3,
               coalesce(max(CASE WHEN doc_id = qid AND rn <= 3
                                 THEN 1.0 / rn END), 0.0) AS rr
        FROM ranked
        GROUP BY qid
    )
    SELECT CAST(count(*) AS BIGINT) AS n_queries,
           round(avg(CAST(hit1 AS DOUBLE)), 4) AS hit_at_1,
           round(avg(CAST(hit3 AS DOUBLE)), 4) AS hit_at_3,
           round(avg(rr), 4) AS mrr_at_3
    FROM per_q
    """,
    doc="RAG retrieval evaluated END-TO-END as one query: documents "
    "are chunked (30-token windows, stride 15), every 25th document's "
    "first 8 tokens become its query, BM25 scores queries against "
    "chunks, and the rollup reports hit@1 / hit@3 / MRR@3 on "
    "source-document identity.  Sub-perfect hit rates on this corpus "
    "are real signal — heavy near-duplication makes sibling "
    "documents legitimately competitive.  Shapes: chunking is "
    "map-side; term matching is matches-only shuffle; chunk stats "
    "and df broadcast; ranking is per-query top-k.  The whole "
    "eval — corpus prep, index, retrieval, metric — hash-checks "
    "against the oracle replaying it.",
    tags=("llm", "text", "similarity", "dataops"),
)
def rag_retrieval_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    arrs = docs.select("doc_id", F.split("text", " ").alias("toks"))
    chunks = (
        arrs.filter(F.size("toks") >= _RAG_CHUNK)
        .select(
            "doc_id",
            "toks",
            F.explode(
                F.expr(
                    f"sequence(1, greatest(size(toks) - {_RAG_CHUNK} + 1, 1), "
                    f"{_RAG_STRIDE})"
                )
            ).alias("chunk_id"),
        )
        .select(
            "doc_id",
            "toks",
            F.col("chunk_id").cast("int").alias("chunk_id"),
        )
        # slice reads chunk_id in a SEPARATE select so it can never be
        # shadowed by the cast sibling above (lateral-alias rule).
        .select(
            "doc_id",
            "chunk_id",
            F.slice("toks", F.col("chunk_id"), _RAG_CHUNK).alias("ctoks"),
        )
        .transform(ckpt)
    )
    ctok = chunks.select(
        "doc_id",
        "chunk_id",
        F.explode("ctoks").alias("w"),
        F.size("ctoks").alias("dl"),
    )
    cstats = chunks.agg(
        F.count("*").alias("n_chunks"), F.avg(F.size("ctoks")).alias("avgdl")
    )
    queries = arrs.filter(
        (F.col("doc_id") % 25 == 0) & (F.size("toks") >= _RAG_CHUNK)
    ).select(
        F.col("doc_id").alias("qid"),
        F.array_distinct(F.slice("toks", 1, _RAG_QLEN)).alias("qterms"),
    )
    qterm = queries.select("qid", F.explode("qterms").alias("w")).transform(ckpt)
    qwords = qterm.select("w").distinct()
    tf = (
        ctok.join(F.broadcast(qwords), "w", "semi")
        .groupBy("doc_id", "chunk_id", "w")
        .agg(F.count("*").alias("tf"), F.max("dl").alias("dl"))
    )
    dfreq = tf.groupBy("w").agg(F.count("*").alias("df"))
    idf = F.log(
        1.0 + (F.col("n_chunks") - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    term_score = idf * F.col("tf") * (_BM25_K1 + 1.0) / (
        F.col("tf")
        + _BM25_K1 * (1.0 - _BM25_B + _BM25_B * F.col("dl") / F.col("avgdl"))
    )
    scored = (
        qterm.alias("q")
        .join(tf.alias("t"), F.col("t.w") == F.col("q.w"))
        .join(F.broadcast(dfreq.alias("d")), F.col("d.w") == F.col("q.w"))
        .crossJoin(F.broadcast(cstats))
        .groupBy(
            F.col("q.qid").alias("qid"),
            F.col("t.doc_id").alias("doc_id"),
            F.col("t.chunk_id").alias("chunk_id"),
        )
        .agg(F.sum(term_score).alias("score"))
    )
    w = Window.partitionBy("qid").orderBy(
        F.desc(F.round("score", 6)), "doc_id", "chunk_id"
    )
    ranked = scored.withColumn("rn", F.row_number().over(w))
    per_q = ranked.groupBy("qid").agg(
        F.max(
            F.when((F.col("rn") == 1) & (F.col("doc_id") == F.col("qid")), 1).otherwise(
                0
            )
        ).alias("hit1"),
        F.max(
            F.when((F.col("rn") <= 3) & (F.col("doc_id") == F.col("qid")), 1).otherwise(
                0
            )
        ).alias("hit3"),
        F.coalesce(
            F.max(
                F.when(
                    (F.col("doc_id") == F.col("qid")) & (F.col("rn") <= 3),
                    1.0 / F.col("rn"),
                )
            ),
            F.lit(0.0),
        ).alias("rr"),
    )
    return per_q.agg(
        F.count("*").cast("bigint").alias("n_queries"),
        F.round(F.avg(F.col("hit1").cast("double")), 4).alias("hit_at_1"),
        F.round(F.avg(F.col("hit3").cast("double")), 4).alias("hit_at_3"),
        F.round(F.avg("rr"), 4).alias("mrr_at_3"),
    )


def _dedup_funnel_oracle() -> str:
    base = _dedup_pipeline_oracle()
    # reuse every CTE of the pipeline oracle; swap the final SELECT
    # for the per-stage accounting rollup
    head = base[: base.rindex("SELECT s.doc_id, s.lang")]
    return (
        head
        + """
    SELECT stage, CAST(n AS BIGINT) AS n, CAST(ord AS INTEGER) AS ord
    FROM (
        SELECT '1_raw_docs' AS stage, (SELECT count(*) FROM documents) AS n,
               1 AS ord
        UNION ALL
        SELECT '2_exact_survivors', (SELECT count(*) FROM sdocs), 2
        UNION ALL
        SELECT '3_lsh_candidate_pairs', (SELECT count(*) FROM cand), 3
        UNION ALL
        SELECT '4_verified_pairs', (SELECT count(*) FROM prs), 4
        UNION ALL
        SELECT '5_component_dropped', (SELECT count(*) FROM dropped), 5
        UNION ALL
        SELECT '6_final_survivors',
               (SELECT count(*) FROM sdocs
                WHERE doc_id NOT IN (SELECT doc_id FROM dropped)), 6
    )
    ORDER BY ord
    """
    )


@register(
    "dedup_funnel_accounting",
    oracle=_dedup_funnel_oracle(),
    doc="Observability for the production dedup path: per-stage "
    "counts through the exact-dedup -> LSH-candidate -> "
    "Jaccard-verify -> connected-components funnel (raw docs, exact "
    "survivors, candidate pairs, verified pairs, component-dropped "
    "docs, final survivors).  This is the number a pipeline owner "
    "watches per batch — candidate blow-up flags hot buckets, a "
    "verify ratio collapse flags banding drift — and every stage is "
    "replayed by the oracle, so the accounting itself is "
    "hash-checked.  Costs the same bounded stages as the pipeline; "
    "the counts are side aggregates.  EAGER: building this DataFrame "
    "executes the per-stage counts (tagged 'eager' so plan tooling "
    "skips it, like observe_scan_metrics).",
    tags=("llm", "dedup", "dataops", "pipeline", "eager"),
)
def dedup_funnel_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.graph import connected_components

    docs = load_table(spark, sf_dir, "documents").transform(ckpt)
    n_raw = docs.count()
    keep = dedup_exact(docs).select(F.col("keep_doc_id").alias("doc_id"))
    sdocs = docs.join(keep, "doc_id", "semi").transform(ckpt)
    n_exact = sdocs.count()
    cand = band_candidates(portable_signatures(sdocs)).transform(ckpt)
    n_cand = cand.count()
    tok = word_set(sdocs).transform(ckpt)
    prs = (
        set_overlap(cand, tok)
        .filter(jaccard() >= 0.8)
        .select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
        .transform(ckpt)
    )
    n_verified = prs.count()
    comp = connected_components(prs, src="src", dst="dst")
    dropped = comp.filter(F.col("cluster_id") != F.col("node")).select(
        F.col("node").alias("doc_id")
    ).transform(ckpt)
    n_dropped = dropped.count()
    n_final = n_exact - n_dropped
    rows = [
        ("1_raw_docs", n_raw, 1),
        ("2_exact_survivors", n_exact, 2),
        ("3_lsh_candidate_pairs", n_cand, 3),
        ("4_verified_pairs", n_verified, 4),
        ("5_component_dropped", n_dropped, 5),
        ("6_final_survivors", n_final, 6),
    ]
    return local_frame(spark, rows, "stage string, n bigint, ord int").orderBy("ord")


@register(
    "encoding_anomaly_screen",
    oracle="""
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           round(avg(CAST(length(regexp_replace(text, '[ -~]', '', 'g'))
                     AS DOUBLE) / length(text)), 6) AS avg_nonascii_frac,
           CAST(count(*) FILTER (
               WHERE CAST(length(regexp_replace(text, '[ -~]', '', 'g'))
                     AS DOUBLE) / length(text) > 0.3) AS BIGINT)
               AS n_suspect_docs
    FROM documents
    WHERE length(text) > 0
    GROUP BY lang
    ORDER BY lang
    """,
    doc="Encoding / mojibake anomaly screen: per-document fraction of "
    "characters outside printable ASCII (strip '[ -~]', compare "
    "lengths), rolled up per language with a >30% suspect count.  "
    "For an ASCII-dominant corpus a high fraction flags double-"
    "encoded UTF-8, binary spill, or wrong charset at ingestion — "
    "caught here before tokenizers silently shred it.  (For "
    "inherently non-Latin corpora, route per-lang thresholds "
    "instead.)  Pure map-side regexp arithmetic; only the per-lang "
    "rollup shuffles.",
    tags=("llm", "text", "quality", "dataops"),
)
def encoding_anomaly_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").filter(F.length("text") > 0)
    frac = (
        F.length(F.regexp_replace("text", "[ -~]", "")).cast("double")
        / F.length("text")
    )
    return (
        docs.groupBy("lang")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.round(F.avg(frac), 6).alias("avg_nonascii_frac"),
            F.sum((frac > 0.3).cast("int")).cast("bigint").alias("n_suspect_docs"),
        )
        .orderBy("lang")
    )


@register(
    "containment_pairs_screen",
    oracle=f"""
    WITH {_band_core_sql()},
    cand AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b
        FROM pruned a JOIN pruned b
          ON a.band_id = b.band_id AND a.band_val = b.band_val
         AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS sz
              FROM __sh GROUP BY doc_id),
    inter AS (
        SELECT c.id_a, c.id_b, CAST(count(*) AS BIGINT) AS n_common
        FROM cand c
        JOIN __sh ta ON ta.doc_id = c.id_a
        JOIN __sh tb ON tb.doc_id = c.id_b AND tb.tok = ta.tok
        GROUP BY 1, 2
    )
    SELECT i.id_a, i.id_b,
           round(CAST(i.n_common AS DOUBLE) / sa.sz, 4) AS containment_a,
           round(CAST(i.n_common AS DOUBLE) / sb.sz, 4) AS containment_b,
           round(CAST(i.n_common AS DOUBLE)
                 / (sa.sz + sb.sz - i.n_common), 4) AS jaccard,
           CAST(CASE WHEN greatest(CAST(i.n_common AS DOUBLE) / sa.sz,
                                   CAST(i.n_common AS DOUBLE) / sb.sz) >= 0.9
                      AND CAST(i.n_common AS DOUBLE)
                          / (sa.sz + sb.sz - i.n_common) < 0.5
                     THEN 1 ELSE 0 END AS INTEGER) AS is_excerpt
    FROM inter i
    JOIN sizes sa ON sa.doc_id = i.id_a
    JOIN sizes sb ON sb.doc_id = i.id_b
    WHERE greatest(CAST(i.n_common AS DOUBLE) / sa.sz,
                   CAST(i.n_common AS DOUBLE) / sb.sz) >= 0.5
    ORDER BY i.id_a, i.id_b
    """,
    doc="Asymmetric shingle CONTAINMENT over the band tier's "
    "candidates: C(A,B) = |A and B| / |A| in both directions beside "
    "the symmetric Jaccard, flagging excerpt pairs (one side >= 90% "
    "contained while Jaccard stays < 0.5) — the quote / boilerplate-"
    "embedding / sub-document duplication case that symmetric "
    "near-dup screens structurally miss (a short doc fully inside a "
    "long one has low Jaccard but perfect containment).  Same "
    "bounded candidate-only verification shape as the dedup "
    "pipeline; fully hash-checked.",
    tags=("llm", "dedup", "similarity"),
)
def containment_pairs_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    cand = band_candidates(portable_signatures(docs)).transform(ckpt)
    tok = docs.select(
        "doc_id", F.explode(_shingles(F.col("text"), 3)).alias("w")
    ).distinct().transform(ckpt)
    ca = F.col("n_common").cast("double") / F.col("sz_a")
    cb = F.col("n_common").cast("double") / F.col("sz_b")
    jac = jaccard()
    return (
        set_overlap(cand, tok)
        .filter(F.greatest(ca, cb) >= 0.5)
        .select(
            "id_a",
            "id_b",
            F.round(ca, 4).alias("containment_a"),
            F.round(cb, 4).alias("containment_b"),
            F.round(jac, 4).alias("jaccard"),
            F.when((F.greatest(ca, cb) >= 0.9) & (jac < 0.5), 1)
            .otherwise(0)
            .cast("int")
            .alias("is_excerpt"),
        )
        .orderBy("id_a", "id_b")
    )


@register(
    "heaps_law_fit",
    oracle="""
    WITH tok AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS w
        FROM documents
    ),
    doc_tokens AS (
        SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tok
        FROM tok GROUP BY 1
    ),
    first_seen AS (
        SELECT w, min(doc_id) AS intro FROM tok GROUP BY w
    ),
    new_types AS (
        SELECT intro AS doc_id, CAST(count(*) AS BIGINT) AS n_new
        FROM first_seen GROUP BY 1
    ),
    cum AS (
        SELECT d.doc_id,
               sum(d.n_tok) OVER (ORDER BY d.doc_id) AS cum_tokens,
               sum(coalesce(n.n_new, 0)) OVER (ORDER BY d.doc_id)
                   AS cum_vocab
        FROM doc_tokens d LEFT JOIN new_types n USING (doc_id)
    )
    SELECT CAST(count(*) AS BIGINT) AS n_points,
           round(regr_slope(ln(cum_vocab), ln(cum_tokens)), 4)
               AS heaps_beta,
           round(exp(regr_intercept(ln(cum_vocab), ln(cum_tokens))), 4)
               AS heaps_k,
           round(regr_r2(ln(cum_vocab), ln(cum_tokens)), 4) AS loglog_r2
    FROM cum
    """,
    doc="Heaps'-law fit V = K * N^beta over the corpus growth curve: "
    "cumulative vocabulary (via the first-introducer trick — a "
    "type's arrival is its min doc_id, so the curve needs NO "
    "windowed COUNT DISTINCT) against cumulative tokens in ingestion "
    "order, log-log regressed.  This measures the sublinear "
    "vocabulary growth that several operators' scale arguments cite "
    "(never broadcast the vocabulary; rank windows are vocab-sized): "
    "beta ~ 0.5 confirms them, beta near 1 (no type reuse) would "
    "invalidate them.  Two hash-keyed aggregates; the cumulative "
    "sums run WITHOUT a single-partition window over |docs| (the "
    "WindowExec trap): doc_ids hash into ~128 id-range buckets "
    "(bounds from a 1-row broadcast min/max — no eager action), "
    "per-bucket cumulative sums are distributed windows, and the "
    "≤129-row bucket-total table's cumulative prefix offsets are "
    "broadcast back — integer sums, so bit-identical to the "
    "oracle's literal global cumulative window.",
    tags=("llm", "text", "stats"),
)
def heaps_law_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("w")
    ).transform(ckpt)
    doc_tokens = tok.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n_tok")
    )
    new_types = (
        tok.groupBy("w")
        .agg(F.min("doc_id").alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count("*").cast("bigint").alias("n_new"))
    )
    per_doc = doc_tokens.join(new_types, "doc_id", "left").select(
        "doc_id",
        "n_tok",
        F.coalesce(F.col("n_new"), F.lit(0)).alias("n_new"),
    )
    # the shared bucket+offset device (operators/ranks.py): doc_id-range
    # buckets + per-bucket cumulative windows + broadcast prefix
    # offsets — integer sums, bit-identical to the literal global
    # cumulative window (and overflow-safe: bucketing is double-path)
    from ..operators.ranks import with_global_cumsum, with_range_bucket

    bucketed = with_range_bucket(per_doc, "doc_id")
    cum = with_global_cumsum(
        bucketed,
        [F.col("doc_id")],
        {"n_tok": "cum_tokens", "n_new": "cum_vocab"},
        pre_shuffle=True,
    ).select("doc_id", "cum_tokens", "cum_vocab")
    return cum.agg(
        F.count("*").cast("bigint").alias("n_points"),
        F.round(F.regr_slope(F.log("cum_vocab"), F.log("cum_tokens")), 4).alias(
            "heaps_beta"
        ),
        F.round(
            F.exp(F.regr_intercept(F.log("cum_vocab"), F.log("cum_tokens"))), 4
        ).alias("heaps_k"),
        F.round(F.regr_r2(F.log("cum_vocab"), F.log("cum_tokens")), 4).alias(
            "loglog_r2"
        ),
    )


@register(
    "domain_cap_sample",
    oracle="""
    WITH t AS (
        SELECT source, doc_id,
               CAST((doc_id * 2654435761) % 1000000007 AS DOUBLE)
                   / 1000000007 AS u
        FROM documents
    ),
    r AS (
        SELECT source, doc_id, u,
               row_number() OVER (PARTITION BY source ORDER BY u, doc_id)
                   AS rn
        FROM t
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_total,
           CAST(sum(CASE WHEN rn <= 10 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_kept,
           CAST(sum(CASE WHEN rn <= 10 THEN doc_id END) AS BIGINT)
               AS kept_id_sum,
           round(max(CASE WHEN rn <= 10 THEN u END), 9) AS kept_u_max
    FROM r
    GROUP BY source
    ORDER BY source
    """,
    doc="Per-domain document cap — the web-crawl balancing step every "
    "corpus build runs so a handful of mega-domains cannot dominate "
    "the training mix: keep at most K=10 documents per source, chosen "
    "by each doc's OWN Knuth-multiplicative hash (deterministic on any "
    "engine / partitioning / day — same reproducibility contract as "
    "stratified_sample_deterministic, but a COUNT cap instead of a "
    "fraction, which needs per-domain ranks).  Ranks come from the "
    "bucket+offset device (operators/ranks.py) with partition_by="
    "(source,): per-(domain, hash-range-bucket) distributed windows + "
    "a broadcast |domains|*n_buckets-row offset table — never one task "
    "per mega-domain, the trap a plain PARTITION BY source window "
    "walks into when one domain holds 10^9 pages.  Output is the "
    "per-domain funnel (total, kept, kept-set id checksum, realized "
    "hash threshold) the pipeline audits; the oracle replays the cap "
    "with a literal partitioned row_number, hash-checking WHICH "
    "documents every domain kept.",
    tags=("llm", "sampling"),
)
def domain_cap_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.ranks import with_global_rank, with_range_bucket

    docs = load_table(spark, sf_dir, "documents")
    u = (
        (F.col("doc_id").cast("bigint") * 2654435761) % 1000000007
    ).cast("double") / 1000000007
    t = docs.select("source", "doc_id", u.alias("u"))
    bucketed = with_range_bucket(t, "u")
    ranked = with_global_rank(
        bucketed,
        [F.col("u"), F.col("doc_id")],
        partition_by=("source",),
        out="rn",
        pre_shuffle=True,
    )
    kept = F.col("rn") <= 10
    return (
        ranked.groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("n_total"),
            F.sum(kept.cast("int")).cast("bigint").alias("n_kept"),
            F.sum(F.when(kept, F.col("doc_id"))).cast("bigint").alias(
                "kept_id_sum"
            ),
            F.round(F.max(F.when(kept, F.col("u"))), 9).alias("kept_u_max"),
        )
        .orderBy("source")
    )


@register(
    "training_shard_manifest",
    oracle="""
    WITH t AS (
        SELECT CAST((doc_id * 2654435761) % 1000000007 AS BIGINT) % 16
                   AS shard,
               doc_id, n_chars,
               length(text) - length(replace(text, ' ', '')) + 1 AS n_tok
        FROM documents
    )
    SELECT shard,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS tot_chars,
           CAST(sum(n_tok) AS BIGINT) AS tot_tokens,
           CAST(min(doc_id) AS BIGINT) AS min_doc_id,
           CAST(max(doc_id) AS BIGINT) AS max_doc_id,
           CAST(sum(doc_id) AS BIGINT) AS id_checksum
    FROM t
    GROUP BY shard
    ORDER BY shard
    """,
    doc="Deterministic training-shard manifest — the write-path planner "
    "for materializing a 100 TB corpus as N fixed shards: every "
    "document's shard is a pure function of its id (Knuth-"
    "multiplicative hash mod 16 — no RNG state, so a re-run, an "
    "incremental append, or a different cluster produces the SAME "
    "assignment, which is what makes shard writes resumable and "
    "training-data audits reproducible).  The manifest row per shard "
    "carries doc count, char/whitespace-token budgets, the id range, "
    "and an order-insensitive id checksum — the small control table a "
    "sharded writer (df.repartition(N, shard).sortWithinPartitions) "
    "verifies against after the fact.  Map-side projection + one "
    "16-key rollup: no shuffle of document payloads at all; at scale "
    "the only data movement is the write itself, and hash sharding "
    "balances it to +/-O(sqrt) without a range-statistics pass.",
    tags=("llm", "sampling"),
)
def training_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    n_tok = (
        F.length("text")
        - F.length(F.regexp_replace("text", " ", ""))
        + 1
    )
    t = docs.select(
        (
            ((F.col("doc_id").cast("bigint") * 2654435761) % 1000000007) % 16
        ).alias("shard"),
        "doc_id",
        "n_chars",
        n_tok.alias("n_tok"),
    )
    return (
        t.groupBy("shard")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("tot_chars"),
            F.sum("n_tok").cast("bigint").alias("tot_tokens"),
            F.min("doc_id").cast("bigint").alias("min_doc_id"),
            F.max("doc_id").cast("bigint").alias("max_doc_id"),
            F.sum("doc_id").cast("bigint").alias("id_checksum"),
        )
        .orderBy("shard")
    )


def _incremental_dedup_oracle() -> str:
    # Same band CTEs as the full-corpus tier (occupancy guard over ALL
    # docs), candidates restricted to index-side < T <= batch-side;
    # verify = the pipeline's exact word-set Jaccard on candidates.
    return f"""
    WITH RECURSIVE thr AS (
        SELECT CAST(floor(0.8 * (max(doc_id) + 1)) AS BIGINT) AS t
        FROM documents
    ),
    {_band_core_sql()},
    cand AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b
        FROM pruned a
        JOIN pruned b
          ON a.band_id = b.band_id AND a.band_val = b.band_val
        JOIN thr ON a.doc_id < thr.t AND b.doc_id >= thr.t
        GROUP BY 1, 2
    ),
    tok AS (
        SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS w
        FROM documents
    ),
    sizes AS (SELECT doc_id, count(*) AS sz FROM tok GROUP BY doc_id),
    inter AS (
        SELECT c.id_a, c.id_b, count(*) AS n_common
        FROM cand c
        JOIN tok ta ON ta.doc_id = c.id_a
        JOIN tok tb ON tb.doc_id = c.id_b AND ta.w = tb.w
        GROUP BY 1, 2
    ),
    exact AS (
        SELECT DISTINCT b.doc_id
        FROM documents b JOIN thr ON b.doc_id >= thr.t
        WHERE EXISTS (
            SELECT 1 FROM documents i, thr t2
            WHERE i.doc_id < t2.t AND i.text = b.text
        )
    ),
    near AS (
        SELECT DISTINCT id_b AS doc_id
        FROM inter
        JOIN sizes sa ON sa.doc_id = id_a
        JOIN sizes sb ON sb.doc_id = id_b
        WHERE CAST(n_common AS DOUBLE) / (sa.sz + sb.sz - n_common) >= 0.8
          AND id_b NOT IN (SELECT doc_id FROM exact)
    )
    SELECT d.lang,
           CAST(count(*) AS BIGINT) AS n_new,
           CAST(sum(CASE WHEN e.doc_id IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_exact_dup,
           CAST(sum(CASE WHEN nr.doc_id IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_near_dup,
           CAST(sum(CASE WHEN e.doc_id IS NULL AND nr.doc_id IS NULL
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
    FROM documents d
    JOIN thr ON d.doc_id >= thr.t
    LEFT JOIN exact e ON e.doc_id = d.doc_id
    LEFT JOIN near nr ON nr.doc_id = d.doc_id
    GROUP BY d.lang
    ORDER BY d.lang
    """


def _batch_dup_report(
    batch: DataFrame, exact: DataFrame, near: DataFrame
) -> DataFrame:
    """The incremental-dedup report: per ``lang`` of the new ``batch``
    (doc_id, lang, ...), its size and how many of its docs are exact
    dups (ids in ``exact``), near dups (ids in ``near``, disjoint
    from ``exact``) or kept — one left-join pair and one lang-keyed
    aggregate, shared by every incremental probe."""
    flagged_e = exact.withColumn("_e", F.lit(1))
    flagged_n = near.withColumn("_n", F.lit(1))
    return (
        batch.select("doc_id", "lang")
        .join(flagged_e, "doc_id", "left")
        .join(flagged_n, "doc_id", "left")
        .groupBy("lang")
        .agg(
            F.count("*").cast("bigint").alias("n_new"),
            F.sum(F.coalesce("_e", F.lit(0))).cast("bigint").alias("n_exact_dup"),
            F.sum(F.coalesce("_n", F.lit(0))).cast("bigint").alias("n_near_dup"),
            F.sum(
                (F.col("_e").isNull() & F.col("_n").isNull()).cast("int")
            ).cast("bigint").alias("n_kept"),
        )
        .orderBy("lang")
    )


@register(
    "incremental_dedup_new_batch",
    oracle=_incremental_dedup_oracle(),
    doc="Incremental dedup — the shape a GROWING corpus actually runs "
    "every ingest: dedup the NEW batch (docs past the 0.8-quantile id "
    "threshold, standing in for today's crawl) against the existing "
    "index WITHOUT re-deduping the index against itself.  Tier 1: "
    "exact content match via 32-byte sha2 keys semi-joined against "
    "the index's key set (text never shuffles).  Tier 2: portable "
    "MinHash band buckets computed over the full corpus (occupancy "
    "guard included), then an index-side x batch-side band equi-join "
    "— candidates follow bucket collisions, and unlike the full "
    "self-join the quadratic-ish index x index mass is never "
    "generated, which is the entire point at 100 TB where |batch| << "
    "|index| (in production the index side's buckets are a persisted "
    "table; only the batch side is computed fresh).  Tier 3: exact "
    "word-set Jaccard >= 0.8 on candidates only.  Output: the "
    "per-lang ingest report (new / exact-dup / near-dup / kept) every "
    "pipeline owner reads after a batch lands; fully hash-checked "
    "against a DuckDB replay of all three tiers.",
    tags=("llm", "dedup", "pipeline"),
)
def incremental_dedup_new_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    # The 1-row threshold feeds every branch — cut IT, not the corpus:
    # an earlier draft checkpointed docs+threshold whole (text
    # included), the text-pinning anti-pattern the corpus funnel's
    # metadata-only rule exists to prevent.  Each consumer below
    # re-reads the column-pruned documents scan instead.
    thr = docs.agg(
        F.floor(0.8 * (F.max("doc_id") + 1)).cast("bigint").alias("_t")
    ).transform(ckpt)
    witht = docs.crossJoin(F.broadcast(thr))
    is_new = F.col("doc_id") >= F.col("_t")

    # tier 1: exact content dedup against the index's hash-key set
    idx_keys = witht.filter(~is_new).select(
        F.sha2("text", 256).alias("h")
    ).distinct()
    exact = (
        witht.filter(is_new)
        .select("doc_id", F.sha2("text", 256).alias("h"))
        .join(idx_keys, "h", "semi")
        .select("doc_id")
        .transform(ckpt)  # read by the near-tier exclusion AND the rollup
    )

    # tier 2: band buckets over the whole corpus (guard sees the same
    # occupancy as the oracle), split, cross-join index x batch only;
    # the already-cut thr rides along instead of re-aggregating
    bands = (
        pruned_band_buckets(portable_signatures(docs.select("doc_id", "text")))
        .crossJoin(F.broadcast(thr))
        .transform(ckpt)  # both join sides below read it
    )
    cand = (
        bands.filter(F.col("doc_id") < F.col("_t"))
        .select("band_id", "band_val", F.col("doc_id").alias("id_a"))
        .join(
            bands.filter(F.col("doc_id") >= F.col("_t")).select(
                "band_id", "band_val", F.col("doc_id").alias("id_b")
            ),
            ["band_id", "band_val"],
        )
        .select("id_a", "id_b")
        .distinct()
        .transform(ckpt)  # read by the cand_ids projection AND inter
    )

    # tier 3: exact word-set Jaccard on CANDIDATE DOCUMENTS only — the
    # verify stage must be candidate-proportional, not corpus
    # proportional: tokenizing all of `docs` here would re-read and
    # re-shuffle 100 TB of text per ingest even though rows for
    # non-candidate docs can never match `inter` or be read from
    # `sizes` (round-11 verdict #1).  The candidate endpoint set is
    # bounded by the hot-bucket occupancy guard, so the semi-join is a
    # runtime broadcast and the documents text column is decoded only
    # for docs that survive it.  Oracle-neutral by construction.
    cand_ids = cand.select(
        F.explode(F.array("id_a", "id_b")).alias("doc_id")
    ).distinct()
    # candidate-bounded words, NOT corpus text (the metadata-only cut
    # rule's payload exception doesn't apply): one tokenize pass feeds
    # all three readers (sizes, ta, tb)
    tok = word_set(
        docs.select("doc_id", "text").join(cand_ids, "doc_id", "semi")
    ).transform(ckpt)
    near = (
        set_overlap(cand, tok)
        .filter(jaccard() >= 0.8)
        .select(F.col("id_b").alias("doc_id"))
        .distinct()
        .join(exact, "doc_id", "anti")
    )

    return _batch_dup_report(witht.filter(is_new), exact, near)


@register(
    "weighted_reservoir_sample",
    oracle="""
    WITH t AS (
        SELECT doc_id, source,
               CAST(greatest(n_chars, 1) AS DOUBLE) AS w,
               (CAST((doc_id * 2654435761) % 1000000007 AS DOUBLE) + 1)
                   / 1000000008 AS u
        FROM documents
    ),
    k AS (
        SELECT doc_id, source, w, ln(u) / w AS skey FROM t
    ),
    r AS (
        SELECT doc_id, source, w, skey,
               row_number() OVER (ORDER BY skey DESC, doc_id) AS rnk
        FROM k
    )
    SELECT CAST(rnk AS INT) AS rnk, doc_id, source,
           CAST(w AS BIGINT) AS weight, round(skey, 7) AS sel_key
    FROM r
    WHERE rnk <= 64
    ORDER BY rnk
    """,
    doc="Weighted sampling WITHOUT replacement at corpus scale — the "
    "Efraimidis-Spirakis A-ES scheme every quality-weighted data-mix "
    "selection needs: each document draws key ln(u)/w (u a "
    "deterministic Knuth-hash uniform of its OWN id, w = char-length "
    "proxy weight), and the global top-K by key IS an exact weighted "
    "sample without replacement.  Two scale properties make this the "
    "100 TB shape: (1) the sample is a pure per-row function + top-K — "
    "no sequential reservoir state, no RNG stream to coordinate across "
    "executors, and a re-run / different partitioning / incremental "
    "append selects the SAME documents; (2) the top-K runs through "
    "operators/ranks.topk_ranked — orderBy().limit(k) plans as a "
    "distributed TakeOrderedAndProject (per-partition heaps, never a "
    "global sort) and the rank column is rebuilt on the <=K survivors "
    "by a broadcast self-join, zero Window nodes.  The oracle replays "
    "the identical key arithmetic with a literal row_number, "
    "hash-checking WHICH documents were selected, their order, and "
    "their keys.",
    tags=("llm", "sampling"),
)
def weighted_reservoir_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.ranks import topk_ranked

    docs = load_table(spark, sf_dir, "documents")
    u = (
        ((F.col("doc_id").cast("bigint") * 2654435761) % 1000000007).cast(
            "double"
        )
        + 1
    ) / 1000000008
    t = docs.select(
        "doc_id",
        "source",
        F.greatest("n_chars", F.lit(1)).cast("double").alias("w"),
        u.alias("u"),
    )
    k = t.select(
        "doc_id", "source", "w", (F.log("u") / F.col("w")).alias("skey")
    )
    top = topk_ranked(k, [("skey", "desc"), ("doc_id", "asc")], 64, out="rnk")
    return top.select(
        "rnk",
        "doc_id",
        "source",
        F.col("w").cast("bigint").alias("weight"),
        F.round("skey", 7).alias("sel_key"),
    ).orderBy("rnk")


@register(
    "epoch_shuffle_audit",
    oracle="""
    WITH t AS (
        SELECT doc_id, source,
               (doc_id * 2654435761 + 97) % 1000000007 AS h1,
               (doc_id * 1597334677 + 31) % 1000000007 AS h2
        FROM documents
    ),
    r AS (
        SELECT doc_id, source,
               row_number() OVER (ORDER BY h1, doc_id) AS r1,
               row_number() OVER (ORDER BY h2, doc_id) AS r2,
               count(*) OVER () AS n
        FROM t
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           round((CAST(sum(r1) AS DOUBLE) - 0.5 * count(*))
                 / (max(n) * count(*)), 6) AS mean_pos_e1,
           round((CAST(sum(r2) AS DOUBLE) - 0.5 * count(*))
                 / (max(n) * count(*)), 6) AS mean_pos_e2,
           round(CAST(sum(abs(r1 - r2)) AS DOUBLE)
                 / (max(n) * count(*)), 6) AS mean_abs_disp
    FROM r
    GROUP BY source
    ORDER BY source
    """,
    doc="Deterministic epoch-shuffle audit — the control query behind "
    "seeded global training-data shuffles: epoch e orders the corpus "
    "by hash_e(doc_id) (distinct multiplier/offset per epoch), so the "
    "permutation is a pure function of (epoch, id) — reproducible on "
    "any cluster, resumable mid-epoch, no RNG state.  Each epoch's "
    "EXACT global position comes from the bucket+offset rank device "
    "(operators/ranks.py): per-hash-range-bucket distributed windows "
    "+ a broadcast <=128-row prefix-offset table — never the one-task "
    "global sort a literal ORDER BY hash would plan.  The audit "
    "reports, per source: normalized mean position under each epoch "
    "(must be ~0.5 — no source clusters at the front of an epoch) and "
    "the mean absolute displacement between the two epochs' positions "
    "(~1/3 for independent permutations — catches a broken seed that "
    "replays the same order).  All three metrics are derived from "
    "EXACT integer rank sums (single float division at the end), so "
    "the DuckDB oracle, which replays both permutations with literal "
    "row_number windows, hash-matches bit-for-bit.  Positions for the "
    "two epochs join back on doc_id, and the shared hashed projection "
    "is lineage-cut once for both rank branches.",
    tags=("llm", "sampling"),
)
def epoch_shuffle_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.ranks import with_global_rank, with_range_bucket

    docs = load_table(spark, sf_dir, "documents")
    did = F.col("doc_id").cast("bigint")
    t = docs.select(
        "doc_id",
        "source",
        ((did * 2654435761 + 97) % 1000000007).alias("h1"),
        ((did * 1597334677 + 31) % 1000000007).alias("h2"),
    ).transform(ckpt)  # one hashed projection feeds both rank branches

    b1 = with_range_bucket(t.select("doc_id", "h1"), "h1")
    r1 = with_global_rank(
        b1, [F.col("h1"), F.col("doc_id")], out="r1", total="n",
        pre_shuffle=True,
    ).select("doc_id", "r1", "n")
    b2 = with_range_bucket(t.select("doc_id", "h2"), "h2")
    r2 = with_global_rank(
        b2, [F.col("h2"), F.col("doc_id")], out="r2", pre_shuffle=True
    ).select("doc_id", "r2")

    j = t.select("doc_id", "source").join(r1, "doc_id").join(r2, "doc_id")
    n = F.max("n").cast("double")
    cnt = F.count("*").cast("double")
    return (
        j.groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.round(
                (F.sum("r1").cast("double") - 0.5 * cnt) / (n * cnt), 6
            ).alias("mean_pos_e1"),
            F.round(
                (F.sum("r2").cast("double") - 0.5 * cnt) / (n * cnt), 6
            ).alias("mean_pos_e2"),
            F.round(
                F.sum(F.abs(F.col("r1") - F.col("r2"))).cast("double")
                / (n * cnt),
                6,
            ).alias("mean_abs_disp"),
        )
        .orderBy("source")
    )


def micronat_perplexity_scores(texts: DataFrame) -> DataFrame:
    """Per-document integer micro-nat bigram-LM scores — THE scoring
    core shared by ``perplexity_quality_filter`` and the corpus
    funnel's stage 2 (whose docstrings claim the same scheme; sharing
    the implementation makes that claim structural).  ``texts`` is a
    (doc_id, text) relation; the add-1-smoothed model is retrained on
    its deterministic ``doc_id % 10 < 5`` split, every document is
    scored under it (two-sided backoff via left joins), and each
    bigram's nll is quantized per-TERM to integer micro-nats so the
    returned (doc_id, score_u, n_terms) sums are
    aggregation-order-free.  The model joins are TERM-keyed shuffles —
    the bigram/unigram count tables grow with the vocabulary and are
    never broadcast (same rule as bigram_lm_perplexity); only the
    1-row V scalar is.  Bigrams are derived ROW-LOCALLY from the
    token array (adjacent positions live in the same array cell —
    opt guide §2.4: the lead() window's doc-keyed shuffle+sort was
    pure overhead; the bigram multiset is identical).  ``bg`` is
    still checkpointed: two consumers, and recomputing it costs a
    second corpus scan + re-explode (bigram_lm_perplexity's
    documented trade)."""
    ts = F.split("text", " ")
    bg = (
        texts.select("doc_id", ts.alias("ts"))
        .filter(F.size("ts") >= 2)
        .select(
            "doc_id",
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size("ts") - 1),
                    lambda i: F.struct(
                        F.element_at(F.col("ts"), i.cast("int")).alias("w1"),
                        F.element_at(F.col("ts"), (i + 1).cast("int")).alias("w2"),
                    ),
                )
            ).alias("g"),
        )
        .select("doc_id", "g.w1", "g.w2")
        .transform(ckpt)
    )
    toks = texts.select(
        "doc_id", F.explode(F.split("text", " ")).alias("tok")
    )
    is_train = F.col("doc_id") % 10 < 5
    c12 = bg.filter(is_train).groupBy("w1", "w2").agg(
        F.count("*").alias("c12")
    )
    c1 = c12.groupBy("w1").agg(F.sum("c12").cast("double").alias("c1"))
    vocab = toks.filter(is_train).agg(
        F.countDistinct("tok").cast("double").alias("vocab")
    )
    # two LEFT joins, not a pre-joined model: an unseen (w1,w2) whose
    # HEAD is in the train vocabulary must still back off to c1(w1)
    terms = (
        bg.join(c12, ["w1", "w2"], "left")
        .join(c1, "w1", "left")
        .crossJoin(F.broadcast(vocab))
        .select(
            "doc_id",
            F.round(
                -F.log(
                    (F.coalesce("c12", F.lit(0)) + 1.0)
                    / (F.coalesce("c1", F.lit(0.0)) + F.col("vocab"))
                )
                * 1000000,
                0,
            )
            .cast("bigint")
            .alias("mnat"),
        )
    )
    return terms.groupBy("doc_id").agg(
        F.sum("mnat").cast("bigint").alias("score_u"),
        F.count("*").alias("n_terms"),
    )




@register(
    "perplexity_quality_filter",
    oracle="""
    WITH toks AS (
        SELECT doc_id, lang,
               generate_subscripts(string_split(text, ' '), 1) AS pos,
               unnest(string_split(text, ' ')) AS tok
        FROM documents
    ),
    big AS (
        SELECT doc_id, lang, tok AS w1,
               lead(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
        FROM toks
    ),
    bg AS (SELECT * FROM big WHERE w2 IS NOT NULL),
    tr AS (SELECT * FROM bg WHERE doc_id % 10 < 5),
    c12 AS (SELECT w1, w2, count(*) AS c12 FROM tr GROUP BY 1, 2),
    c1  AS (SELECT w1, CAST(sum(c12) AS DOUBLE) AS c1 FROM c12 GROUP BY 1),
    v AS (
        SELECT CAST(count(DISTINCT tok) AS DOUBLE) AS vocab
        FROM toks WHERE doc_id % 10 < 5
    ),
    terms AS (
        SELECT bg.doc_id, bg.lang,
               CAST(round(-ln((COALESCE(c12.c12, 0) + 1.0)
                              / (COALESCE(c1.c1, 0) + v.vocab)) * 1000000)
                    AS BIGINT) AS mnat
        FROM bg
        LEFT JOIN c12 ON bg.w1 = c12.w1 AND bg.w2 = c12.w2
        LEFT JOIN c1 ON bg.w1 = c1.w1
        CROSS JOIN v
    ),
    perdoc AS (
        SELECT doc_id, lang,
               CAST(sum(mnat) AS BIGINT) AS score_u,
               count(*) AS n_terms
        FROM terms GROUP BY 1, 2
    ),
    ranked AS (
        SELECT lang, doc_id, score_u, n_terms,
               row_number() OVER (
                   PARTITION BY lang
                   ORDER BY CAST(score_u AS DOUBLE) / n_terms, doc_id
               ) AS rn,
               count(*) OVER (PARTITION BY lang) AS n_lang
        FROM perdoc
    )
    SELECT lang,
           CAST(floor((rn - 1) * 3.0 / n_lang) AS INT) AS tercile,
           CAST(count(*) AS BIGINT) AS n_docs,
           round(avg(exp(CAST(score_u AS DOUBLE) / 1000000 / n_terms)), 4)
               AS avg_ppl,
           CAST(sum(doc_id) AS BIGINT) AS id_checksum
    FROM ranked
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
    doc="Reference-LM perplexity quality filter (the CCNet recipe, "
    "public: Wenzek et al. 2019): train an add-1-smoothed bigram LM on "
    "a fixed REFERENCE split (deterministic doc_id%%10<5 — standing in "
    "for the curated wiki-like corpus), score EVERY document's "
    "perplexity under it (unseen bigrams back off to 1/(c1+V), unseen "
    "heads to 1/V via the two-sided left join), and gate each language "
    "into head/middle/tail perplexity terciles — the keep/maybe/drop "
    "decision CCNet materializes per shard.  Cross-engine exactness "
    "device: each bigram's negative log-likelihood is quantized "
    "per-TERM to integer micro-nats (round(nll*1e6) — a per-row pure "
    "function), so per-doc scores are INTEGER sums — aggregation-order "
    "free, hence bit-stable across partitionings, reruns, and engines "
    "— and the tercile ranking (bucket+offset device, partition_by="
    "(lang,), never one task per language) sorts an exact rational "
    "score_u/n_terms.  A float score would make the cut order depend "
    "on Spark's partial-agg summation order at 100 TB.  Output: "
    "per-(lang, tercile) doc counts, mean realized perplexity, and the "
    "kept-set id checksum the oracle hash-verifies (WHICH docs landed "
    "in which gate, not just how many).",
    tags=("llm", "text-quality", "bench"),
)
def perplexity_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.ranks import with_global_rank, with_range_bucket

    docs = load_table(spark, sf_dir, "documents")
    # perdoc is consumed by TWO branches even with the fused device —
    # with_range_bucket's min/max bounds aggregate plus the device's
    # pre-shuffled repartition — and its lineage scans the corpus
    # (vocab countDistinct + the lang join), so it gets the derive-once
    # cut (id/metadata grain: one row per doc, no text).  Dropping this
    # cut (first r16 attempt) put 8 executed documents scans in the
    # production plan — the scan-budget gate's catch.
    perdoc = (
        micronat_perplexity_scores(docs.select("doc_id", "text"))
        .join(docs.select("doc_id", "lang"), "doc_id")
        .withColumn(
            "mean_mnat", F.col("score_u").cast("double") / F.col("n_terms")
        )
        .transform(ckpt)
    )
    bucketed = with_range_bucket(perdoc, "mean_mnat")
    ranked = with_global_rank(
        bucketed,
        [F.col("mean_mnat"), F.col("doc_id")],
        partition_by=("lang",),
        out="rn",
        total="n_lang",
        pre_shuffle=True,
        # bounded group domain (ISO language enum) — broadcast is safe
        # at any corpus scale; see the funnel's domain-cap stage for
        # the unbounded-domain contrast (shuffled-join default).
        broadcast_offsets=True,
    )
    tercile = F.floor(
        ((F.col("rn") - 1) * 3).cast("double") / F.col("n_lang")
    ).cast("int")
    ppl = F.exp(
        F.col("score_u").cast("double") / 1000000 / F.col("n_terms")
    )
    return (
        ranked.select("lang", tercile.alias("tercile"), ppl.alias("ppl"), "doc_id")
        .groupBy("lang", "tercile")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.round(F.avg("ppl"), 4).alias("avg_ppl"),
            F.sum("doc_id").cast("bigint").alias("id_checksum"),
        )
        .orderBy("lang", "tercile")
    )


def _corpus_funnel_oracle() -> str:
    # Stage CTEs chain the already-proven oracle fragments: quality
    # thresholds (per-row arithmetic), the micro-nat perplexity gate
    # (perplexity_quality_filter's CTEs over s1), exact dedup
    # (min-id per text), the shared band core over s3 + pairwise
    # smaller-partner drop, the Knuth-hash domain cap, and the A-ES
    # top-N selection.
    return f"""
    WITH s1 AS (
        SELECT doc_id, text, lang, source, n_chars
        FROM documents
        WHERE length(string_split(text, ' ')) BETWEEN 20 AND 90
          AND length(list_distinct(string_split(text, ' '))) * 1.0
              / length(string_split(text, ' ')) >= 0.35
    ),
    ptoks AS (
        SELECT doc_id, generate_subscripts(string_split(text, ' '), 1) AS pos,
               unnest(string_split(text, ' ')) AS tok
        FROM s1
    ),
    pbig AS (
        SELECT doc_id, tok AS w1,
               lead(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
        FROM ptoks
    ),
    pbg AS (SELECT * FROM pbig WHERE w2 IS NOT NULL),
    ptr AS (SELECT * FROM pbg WHERE doc_id % 10 < 5),
    pc12 AS (SELECT w1, w2, count(*) AS c12 FROM ptr GROUP BY 1, 2),
    pc1  AS (SELECT w1, CAST(sum(c12) AS DOUBLE) AS c1 FROM pc12 GROUP BY 1),
    pv AS (
        SELECT CAST(count(DISTINCT tok) AS DOUBLE) AS vocab
        FROM ptoks WHERE doc_id % 10 < 5
    ),
    pterms AS (
        SELECT pbg.doc_id,
               CAST(round(-ln((COALESCE(pc12.c12, 0) + 1.0)
                              / (COALESCE(pc1.c1, 0) + pv.vocab)) * 1000000)
                    AS BIGINT) AS mnat
        FROM pbg
        LEFT JOIN pc12 ON pbg.w1 = pc12.w1 AND pbg.w2 = pc12.w2
        LEFT JOIN pc1 ON pbg.w1 = pc1.w1
        CROSS JOIN pv
    ),
    pperdoc AS (
        SELECT t.doc_id, s1.lang,
               CAST(sum(t.mnat) AS BIGINT) AS score_u,
               count(*) AS n_terms
        FROM pterms t JOIN s1 ON s1.doc_id = t.doc_id
        GROUP BY 1, 2
    ),
    pranked AS (
        SELECT doc_id,
               row_number() OVER (
                   PARTITION BY lang
                   ORDER BY CAST(score_u AS DOUBLE) / n_terms, doc_id
               ) AS rn,
               count(*) OVER (PARTITION BY lang) AS n_lang
        FROM pperdoc
    ),
    s2 AS (
        SELECT s1.* FROM s1 JOIN pranked USING (doc_id)
        WHERE floor((rn - 1) * 3.0 / n_lang) <= 1
    ),
    s3 AS (
        SELECT s2.* FROM s2
        JOIN (SELECT min(doc_id) AS doc_id FROM s2 GROUP BY text) k
            USING (doc_id)
    ),
    {_band_core_sql("s3")},
    fcand AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b
        FROM pruned a JOIN pruned b
          ON a.band_id = b.band_id AND a.band_val = b.band_val
         AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    ftok AS (
        SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS w
        FROM s3
    ),
    fsizes AS (SELECT doc_id, count(*) AS sz FROM ftok GROUP BY doc_id),
    finter AS (
        SELECT c.id_a, c.id_b, count(*) AS n_common
        FROM fcand c
        JOIN ftok ta ON ta.doc_id = c.id_a
        JOIN ftok tb ON tb.doc_id = c.id_b AND ta.w = tb.w
        GROUP BY 1, 2
    ),
    fdropped AS (
        SELECT DISTINCT id_b AS doc_id
        FROM finter
        JOIN fsizes sa ON sa.doc_id = id_a
        JOIN fsizes sb ON sb.doc_id = id_b
        WHERE CAST(n_common AS DOUBLE) / (sa.sz + sb.sz - n_common) >= 0.8
    ),
    s4 AS (
        SELECT * FROM s3
        WHERE doc_id NOT IN (SELECT doc_id FROM fdropped)
    ),
    capr AS (
        SELECT doc_id,
               row_number() OVER (
                   PARTITION BY source
                   ORDER BY (doc_id * 2654435761) % 1000000007, doc_id
               ) AS crn
        FROM s4
    ),
    s5 AS (
        SELECT s4.* FROM s4 JOIN capr USING (doc_id) WHERE crn <= 18
    ),
    s6 AS (
        SELECT doc_id
        FROM (
            SELECT doc_id,
                   ln((CAST((doc_id * 1597334677) % 1000000007 AS DOUBLE) + 1)
                      / 1000000008) / greatest(n_chars, 1) AS skey
            FROM s5
        )
        ORDER BY skey DESC, doc_id
        LIMIT 192
    )
    SELECT * FROM (
        SELECT 0 AS stage_ord, 'ingest' AS stage,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(doc_id) AS BIGINT) AS id_checksum FROM documents
        UNION ALL SELECT 1, 'quality_gate', CAST(count(*) AS BIGINT),
               CAST(sum(doc_id) AS BIGINT) FROM s1
        UNION ALL SELECT 2, 'perplexity_gate', CAST(count(*) AS BIGINT),
               CAST(sum(doc_id) AS BIGINT) FROM s2
        UNION ALL SELECT 3, 'exact_dedup', CAST(count(*) AS BIGINT),
               CAST(sum(doc_id) AS BIGINT) FROM s3
        UNION ALL SELECT 4, 'near_dedup', CAST(count(*) AS BIGINT),
               CAST(sum(doc_id) AS BIGINT) FROM s4
        UNION ALL SELECT 5, 'domain_cap', CAST(count(*) AS BIGINT),
               CAST(sum(doc_id) AS BIGINT) FROM s5
        UNION ALL SELECT 6, 'weighted_select', CAST(count(*) AS BIGINT),
               CAST(sum(doc_id) AS BIGINT) FROM s6
    ) ORDER BY stage_ord
    """


@register(
    "corpus_build_funnel",
    oracle=_corpus_funnel_oracle(),
    doc="The END-TO-END corpus build a pretraining run executes, as "
    "ONE hash-checked funnel: ingest → heuristic quality gate "
    "(token-count window + distinct-token ratio, per-row arithmetic) "
    "→ reference-LM perplexity gate (micro-nat scheme of "
    "perplexity_quality_filter retrained on the quality survivors; "
    "worst per-lang tercile dropped) → exact dedup (min-id per "
    "content) → near-dup drop (portable band candidates + exact "
    "Jaccard >= 0.8, pairwise smaller-partner rule — the cheap "
    "non-transitive variant; the connected-components canonical form "
    "is llm_dedup_pipeline) → per-domain cap (Knuth-hash rank <= 18 "
    "per source via the bucket+offset device) → A-ES weighted "
    "selection (top-192 by ln(u)/n_chars, distributed TakeOrdered).  "
    "Output is the per-stage funnel (count + id checksum), so the "
    "oracle verifies WHICH documents every stage kept, end to end.  "
    "Scale shape: the lineage cuts pin METADATA-ONLY survivor tables "
    "(doc_id/lang/source/n_chars — each feeds its funnel row AND the "
    "next stage); text is never checkpointed — stages that need it "
    "re-derive it per consumer by semi-joining the column-pruned "
    "documents scan against the cut id set (re-reading source parquet "
    "beats parking the corpus on executor storage).  The one "
    "corpus-sized intermediate kept is the stage-2 bigram fact, the "
    "same documented trade as bigram_lm_perplexity (two consumers; "
    "recomputing it costs a second fact-sized window shuffle).  Heavy "
    "stages reuse the registry's bounded forms (term-keyed model "
    "joins, hot-bucket-guarded band self-join, candidate-only "
    "verification, device ranks) — nothing sorts globally or "
    "broadcasts a corpus-sized relation.",
    tags=("llm", "pipeline", "sampling", "dedup"),
)
def corpus_build_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    return funnel_report(corpus_stage_tables(spark, sf_dir))


def funnel_report(stages: list[tuple[str, DataFrame]]) -> DataFrame:
    """Per-stage (n_docs, id_checksum) accounting over an ordered
    stage chain — shared by ``corpus_build_funnel`` and the example
    runner's alternative-gate path."""

    def funnel_row(df: DataFrame, ord_: int, stage: str) -> DataFrame:
        return df.agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("doc_id").cast("bigint").alias("id_checksum"),
        ).select(
            F.lit(ord_).alias("stage_ord"),
            F.lit(stage).alias("stage"),
            "n_docs",
            "id_checksum",
        )

    rows = None
    for ord_, (stage, df) in enumerate(stages):
        r = funnel_row(df, ord_, stage)
        rows = r if rows is None else rows.unionByName(r)
    return rows.orderBy("stage_ord")


def corpus_stage_tables(
    spark: SparkSession,
    sf_dir: str,
    stage2: str = "perplexity",
    line_dedup: bool = False,
) -> list[tuple[str, DataFrame]]:
    """The funnel's ordered stage chain as reusable survivor tables
    (metadata-only — doc_id always present).  ``corpus_build_funnel``
    consumes them for accounting; ``examples/run_corpus_pipeline.py``
    takes the final entry as the materialization set — determinism
    (every stage a pure function of ids) makes recompute and persist
    interchangeable.

    ``stage2`` selects the LM gate: ``"perplexity"`` (default — the
    CCNet LM stage the registered funnel oracle pins) or
    ``"logistic"`` (the doc_quality_logistic_gate classifier's
    kept-id set semi-joined onto the stage-1 survivors — the
    alternative composition that gate's registration documents;
    runnable via ``examples/run_corpus_pipeline.py --logistic-gate``).

    ``line_dedup=True`` prepends the CCNet within-doc line-dedup
    cleaning pass (``line_dedup_cleaned`` — the transformation
    ``within_doc_line_dedup`` reports on) as stage 0: every downstream
    gate, dedup tier, and text re-derivation then sees the CLEANED
    text.  A transformation, not a filter — stage 0 keeps every doc_id
    — so the funnel accounting shows it as a count-preserving stage
    whose effect surfaces in the downstream survivor sets."""
    from ..operators.ranks import with_global_rank, with_range_bucket

    docs = load_table(spark, sf_dir, "documents")
    stage0: list[tuple[str, DataFrame]] = []
    if line_dedup:
        docs = line_dedup_cleaned(docs)
        stage0 = [("line_dedup", docs.select("doc_id"))]

    # Survivor tables carry METADATA ONLY (doc_id, lang, source,
    # n_chars) — those are what the lineage cuts pin, never text: at
    # 100 TB a text-bearing checkpoint would park the corpus on
    # executor storage, where re-reading the source parquet with
    # column pruning is the cheaper, spill-free shape.  Stages that
    # need text re-derive it per consumer by semi-joining the pruned
    # documents scan against the (cut) survivor id set.
    def texts_of(ids: DataFrame) -> DataFrame:
        return docs.join(ids.select("doc_id"), "doc_id", "semi").select(
            "doc_id", "text"
        )

    # stage 1: heuristic quality gate (pure per-row arithmetic; the
    # predicate is defined ONCE in functions.text.corpus_quality_keep,
    # shared with the streaming ingest gate)
    from ..functions.text import corpus_quality_keep

    s1 = (
        docs.filter(corpus_quality_keep(F.col("text")))
        .select("doc_id", "lang", "source", "n_chars")
        .transform(ckpt)
    )

    # stage 2: the LM gate.  Default: perplexity gate (micro-nat
    # bigram LM retrained on the s1 survivors, worst per-lang tercile
    # dropped) — the SAME scoring core as perplexity_quality_filter,
    # shared via micronat_perplexity_scores rather than
    # claimed-in-prose.  Alternative (stage2="logistic"): the trained
    # classifier gate's kept-id set (same fit/features/betas as
    # doc_quality_logistic_gate via _dq_gate_scored), semi-joined
    # onto the s1 survivors.
    if stage2 == "logistic":
        scored = _dq_gate_scored(spark, sf_dir)
        eta = (
            F.col("b0")
            + F.col("b1") * F.col("f1")
            + F.col("b2") * F.col("f2")
        )
        keep_lm = scored.filter(eta >= 0).select("doc_id")
        stage2_name = "logistic_gate"
    else:
        perdoc = (
            micronat_perplexity_scores(texts_of(s1))
            .join(s1.select("doc_id", "lang"), "doc_id")
            .withColumn(
                "mean_mnat",
                F.col("score_u").cast("double") / F.col("n_terms"),
            )
        )
        pbucketed = with_range_bucket(perdoc, "mean_mnat")
        pranked = with_global_rank(
            pbucketed,
            [F.col("mean_mnat"), F.col("doc_id")],
            partition_by=("lang",),
            out="rn",
            total="n_lang",
            pre_shuffle=True,
            # language IDs are a bounded enum (ISO codes — a few
            # hundred at most, at any corpus scale), so the ≤
            # |langs|·128-row offset broadcast is safe; contrast the
            # domain-cap stages, which group by the UNBOUNDED `source`
            # domain and use the round-11 shuffled-join default.
            broadcast_offsets=True,
        )
        keep_lm = pranked.filter(
            F.floor(((F.col("rn") - 1) * 3).cast("double") / F.col("n_lang"))
            <= 1
        ).select("doc_id")
        stage2_name = "perplexity_gate"
    s2 = s1.join(keep_lm, "doc_id", "semi").transform(ckpt)

    # stage 3: exact dedup — min-id survivor per content
    keep3 = (
        texts_of(s2)
        .groupBy("text")
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    s3 = s2.join(keep3, "doc_id", "semi").transform(ckpt)

    # stage 4: near-dup drop — portable band candidates on s3, exact
    # Jaccard verify on candidates only, pairwise smaller-partner rule
    # (each text consumer re-derives from the pruned scan — map-side
    # explodes, no text ever checkpointed)
    s3_text = texts_of(s3)
    cands = band_candidates(portable_signatures(s3_text))
    dropped4 = (
        set_overlap(cands, word_set(s3_text))
        .filter(jaccard() >= 0.8)
        .select(F.col("id_b").alias("doc_id"))
        .distinct()
    )
    s4 = s3.join(dropped4, "doc_id", "anti").transform(ckpt)

    # stage 5: per-domain cap via the device (never one task per domain)
    h = (F.col("doc_id").cast("bigint") * 2654435761) % 1000000007
    capd = with_range_bucket(
        s4.select("doc_id", "source", h.alias("h")), "h"
    )
    capr = with_global_rank(
        capd,
        [F.col("h"), F.col("doc_id")],
        partition_by=("source",),
        out="crn",
        pre_shuffle=True,
    )
    s5 = (
        s4.join(capr.filter(F.col("crn") <= 18).select("doc_id"), "doc_id", "semi")
        .transform(ckpt)
    )

    # stage 6: A-ES weighted selection, distributed TakeOrdered
    u = (
        (
            (F.col("doc_id").cast("bigint") * 1597334677) % 1000000007
        ).cast("double")
        + 1
    ) / 1000000008
    skey = F.log(u) / F.greatest("n_chars", F.lit(1)).cast("double")
    s6 = (
        s5.select("doc_id", skey.alias("skey"))
        .orderBy(F.col("skey").desc(), "doc_id")
        .limit(192)
        .select("doc_id")
    )

    return [
        ("ingest", docs.select("doc_id")),
        *stage0,
        ("quality_gate", s1),
        (stage2_name, s2),
        ("exact_dedup", s3),
        ("near_dedup", s4),
        ("domain_cap", s5),
        ("weighted_select", s6),
    ]


_DECON_W = 13  # the GPT-3/PaLM 13-gram decontamination window


def decon_windows(side: DataFrame) -> DataFrame:
    """(doc_id, wh) — the md5-keyed sliding ``_DECON_W``-token windows
    of a (doc_id, text, …) relation; the shared decontamination
    primitive behind ``eval_decontamination``, its streaming twin's
    oracle, and the user-facing pipeline composition in
    ``examples/run_corpus_pipeline.py``."""
    arrs = side.select(
        "doc_id", F.split("text", " ").alias("toks")
    ).filter(F.size("toks") >= _DECON_W)
    return arrs.select(
        "doc_id",
        F.explode(
            F.sequence(F.lit(1), F.size("toks") - _DECON_W + 1)
        ).alias("i"),
        "toks",
    ).select(
        "doc_id",
        F.md5(
            F.array_join(F.slice("toks", F.col("i"), _DECON_W), " ")
        ).alias("wh"),
    )


def decon_contaminated_ids(
    train_docs: DataFrame, eval_docs: DataFrame
) -> DataFrame:
    """doc_ids of training documents sharing any ``_DECON_W``-token
    window with the eval suite — the composable decontamination core:
    hash-keyed train-vs-eval semi-join, train×train mass never
    generated, eval side |benchmark|-sized."""
    ev = decon_windows(eval_docs).select("wh").distinct()
    return (
        decon_windows(train_docs)
        .join(ev, "wh", "semi")
        .select("doc_id")
        .distinct()
    )


@register(
    "eval_decontamination",
    oracle=f"""
    WITH arrs AS (
        SELECT doc_id, lang, string_split(text, ' ') AS toks,
               doc_id % 20 = 3 AS is_eval
        FROM documents
    ),
    wins AS (
        SELECT doc_id, is_eval,
               md5(array_to_string(
                   list_slice(toks, i, i + {_DECON_W} - 1), ' ')) AS wh
        FROM arrs, unnest(range(1, len(toks) - {_DECON_W} + 2)) AS t(i)
        WHERE len(toks) >= {_DECON_W}
    ),
    ev AS (SELECT DISTINCT wh FROM wins WHERE is_eval),
    contam AS (
        SELECT DISTINCT w.doc_id
        FROM wins w JOIN ev USING (wh)
        WHERE NOT w.is_eval
    )
    SELECT a.lang,
           CAST(count(*) AS BIGINT) AS n_train,
           CAST(sum(CASE WHEN c.doc_id IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_contaminated,
           round(avg(CASE WHEN c.doc_id IS NOT NULL THEN 1.0 ELSE 0.0 END),
                 6) AS contam_rate,
           CAST(sum(CASE WHEN c.doc_id IS NULL THEN a.doc_id END)
                AS BIGINT) AS clean_id_checksum
    FROM arrs a LEFT JOIN contam c USING (doc_id)
    WHERE NOT a.is_eval
    GROUP BY a.lang ORDER BY a.lang
    """,
    doc="Benchmark decontamination (the GPT-3 appendix-C / PaLM "
    "recipe): flag every TRAINING document that shares any "
    f"{_DECON_W}-token window with the held-out EVAL slice (here the "
    "deterministic doc_id % 20 == 3 sample standing in for an eval "
    "benchmark), and report the per-language contaminated counts plus "
    "the kept-set id checksum a pipeline owner would gate a training "
    "run on.  Scale shape: each side tokenizes only ITS OWN docs from "
    "the column-pruned scan (no shared exploded subtree to cut — the "
    "sides are disjoint doc subsets), windows are md5-keyed 32-byte "
    "shuffle keys (window text never shuffles — the "
    "substring_duplication_rate discipline at the train x eval "
    "grain), and the contamination test is a hash-keyed semi-join of "
    "train windows against the DISTINCT eval window set, the "
    "batch-vs-index shape of incremental_dedup_new_batch: the "
    "train x train mass is never generated, and the eval side is "
    "|benchmark|-sized, not corpus-sized.  No forced broadcast — a "
    "real eval suite's distinct 13-gram set can reach 10^7 keys, so "
    "AQE decides at runtime.  md5 is bit-identical across engines, "
    "so the whole report hash-checks.  Funnel integration decision "
    "(round 11): STANDALONE, not a corpus_build_funnel stage — "
    "decontamination gates against an EXTERNAL eval suite that ships "
    "separately from the corpus, so it composes as a final semi-join "
    "on the funnel's kept set (exactly this query's clean-side anti "
    "pattern) rather than as one of the funnel's corpus-intrinsic "
    "stages; wiring the fixture's id-slice stand-in INTO the funnel "
    "would bake a test convention into the product pipeline.",
    tags=("llm", "dedup", "quality", "pipeline"),
)
def eval_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    is_eval = (F.col("doc_id") % 20) == 3
    contaminated = decon_contaminated_ids(
        docs.filter(~is_eval), docs.filter(is_eval)
    ).withColumn("_c", F.lit(1))
    train = docs.filter(~is_eval).select("doc_id", "lang")
    hit = F.col("_c").isNotNull()
    return (
        train.join(contaminated, "doc_id", "left")
        .groupBy("lang")
        .agg(
            F.count("*").cast("bigint").alias("n_train"),
            F.sum(hit.cast("int")).cast("bigint").alias("n_contaminated"),
            F.round(F.avg(hit.cast("double")), 6).alias("contam_rate"),
            F.sum(F.when(~hit, F.col("doc_id"))).cast("bigint").alias(
                "clean_id_checksum"
            ),
        )
        .orderBy("lang")
    )


def _index_bucket_count(spark: SparkSession) -> int:
    """Bucket count for persisted index tables: at/above the session's
    shuffle parallelism INCLUDING AQE's initialPartitionNum — the
    round-11 EnsureRequirements floor (it prefers the LARGER child
    partitioning; a smaller bucket count gets the bucketed scan
    disabled and the index re-shuffled).  Shared by the dedup and ANN
    index builders; at 100 TB this is sized to the cluster."""
    try:
        # conf.get VALIDATES the supplied default (a "0" default on
        # this positive-int conf raises INVALID_CONF_VALUE), so the
        # unset case must be caught, not defaulted
        initial_parts = int(
            spark.conf.get(
                "spark.sql.adaptive.coalescePartitions.initialPartitionNum"
            )
        )
    except Exception:
        initial_parts = 0
    return max(
        64,
        int(spark.conf.get("spark.sql.shuffle.partitions")),
        initial_parts,
    )


def _build_persisted_dedup_index(
    spark: SparkSession, idx_docs: DataFrame, base: str
) -> tuple[str, str, str, int]:
    """Materialize the persisted dedup index for ``idx_docs`` — band
    postings, per-bucket occupancy counts, and the exact sha2 key set,
    each a bucketBy-sorted table — and return ``(t_bands, t_counts,
    t_keys, n_bkts)``.  Runs ONCE per corpus version; shared by the
    per-ingest probe (``incremental_dedup_persisted_index``) and the
    post-ingest compaction (``dedup_index_compaction``).

    Session-scoped names (concurrent suites never collide).  The
    bucket count must sit at/above the session's shuffle parallelism
    INCLUDING AQE's initialPartitionNum: EnsureRequirements keeps the
    bucketed side exchange-free only when the bucket count is the
    join's chosen partitioning, and it prefers the LARGER of the two
    children's partitionings (measured: 64 buckets vs a 256-initial-
    partition probe side re-shuffled the index and disabled the
    bucketed scan).  At 100 TB you size this to the cluster
    (thousands of buckets is normal for a persisted index)."""
    from ..sources.catalog import reset_bucket_table, session_bucket_table

    n_bkts = _index_bucket_count(spark)
    t_bands = session_bucket_table(spark, f"{base}_bands")
    t_counts = session_bucket_table(spark, f"{base}_bcounts")
    t_keys = session_bucket_table(spark, f"{base}_keys")
    idx_bands = band_rows(portable_signatures(idx_docs))
    for t in (t_bands, t_counts, t_keys):
        reset_bucket_table(spark, t)
    (
        idx_bands.write.bucketBy(n_bkts, "band_id", "band_val")
        .sortBy("band_id", "band_val")
        .saveAsTable(t_bands)
    )
    (
        idx_bands.groupBy("band_id", "band_val")
        .agg(F.count("*").cast("bigint").alias("n_idx"))
        .write.bucketBy(n_bkts, "band_id", "band_val")
        .sortBy("band_id", "band_val")
        .saveAsTable(t_counts)
    )
    (
        idx_docs.select(F.sha2("text", 256).alias("h"))
        .distinct()
        .write.bucketBy(n_bkts, "h")
        .sortBy("h")
        .saveAsTable(t_keys)
    )
    return t_bands, t_counts, t_keys, n_bkts


@register(
    "incremental_dedup_persisted_index",
    oracle=_incremental_dedup_oracle(),
    doc="Incremental dedup against a PERSISTED index — makes real the "
    "layout incremental_dedup_new_batch's docstring promises ('in "
    "production the index side's buckets are a persisted table'): the "
    "index's band postings, per-bucket occupancy counts, and exact "
    "sha2 key set are materialized ONCE per corpus version as "
    "bucketBy-sorted tables (the ann_ivf_bucketed_topk layout "
    "pattern), and the per-ingest PROBE computes signatures for the "
    "new batch only.  Probe shape: tier-1 is a batch-hash semi-join "
    "against the bucketed key table; tier-2 counts batch-side bucket "
    "occupancy, adds the PERSISTED index-side counts (so the "
    ">300 hot-bucket guard sees exactly the combined occupancy the "
    "full-relation guard sees — bit-identical candidates, same "
    "oracle), then equi-joins guarded batch postings against the "
    "bucketed index postings: the index side is pre-bucketed on "
    "(band_id, band_val), so the join plans with NO Exchange on the "
    "index side (plan-gated in tests/test_bucketing.py) — per "
    "ingest, the index is never re-signatured and never re-shuffled; "
    "it is streamed through a bucket-local merge against the batch's "
    "postings (the within-bucket Sort stays local: Spark trusts "
    "sortBy metadata only at one file per bucket, which a 100 TB "
    "index won't have).  Tier-3 exact Jaccard verifies "
    "candidates only.  Same report and DuckDB oracle as "
    "incremental_dedup_new_batch; only the physical layout differs.",
    tags=("llm", "dedup", "pipeline", "layout"),
)
def incremental_dedup_persisted_index(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    thr = docs.agg(
        F.floor(0.8 * (F.max("doc_id") + 1)).cast("bigint").alias("_t")
    ).transform(ckpt)
    witht = docs.crossJoin(F.broadcast(thr))
    is_new = F.col("doc_id") >= F.col("_t")

    # ---- index BUILD: once per corpus version, not per ingest.
    t_bands, t_counts, t_keys, _n_bkts = _build_persisted_dedup_index(
        spark, witht.filter(~is_new).select("doc_id", "text"), "dedup_idx"
    )

    # ---- PROBE: the recurring per-ingest cost — batch-side only.
    batch = witht.filter(is_new)
    exact = (
        batch.select("doc_id", F.sha2("text", 256).alias("h"))
        .join(spark.table(t_keys), "h", "semi")
        .select("doc_id")
        .transform(ckpt)  # read by the near-tier exclusion AND the rollup
    )

    b_bands = band_rows(
        portable_signatures(batch.select("doc_id", "text"))
    )
    b_counts = b_bands.groupBy("band_id", "band_val").agg(
        F.count("*").alias("__bn")
    )
    # combined-occupancy guard == the full-relation guard: buckets the
    # batch never touches yield no candidates, so only batch-touched
    # buckets need the (index + batch) total checked
    ok = (
        b_counts.join(spark.table(t_counts), ["band_id", "band_val"], "left")
        .filter(
            F.coalesce(F.col("n_idx"), F.lit(0)) + F.col("__bn")
            <= _MH_MAX_BUCKET
        )
        .select("band_id", "band_val")
    )
    probe = b_bands.join(ok, ["band_id", "band_val"], "semi")
    cand = (
        spark.table(t_bands)
        .select("band_id", "band_val", F.col("doc_id").alias("id_a"))
        .join(
            probe.select(
                "band_id", "band_val", F.col("doc_id").alias("id_b")
            ),
            ["band_id", "band_val"],
        )
        .select("id_a", "id_b")
        .distinct()
        .transform(ckpt)  # read by the cand_ids projection AND inter
    )

    # tier 3: exact word-set Jaccard on CANDIDATE DOCUMENTS only —
    # same candidate-proportional discipline as
    # incremental_dedup_new_batch (round-11 verdict #1): the persisted
    # index's whole story is that a recurring ingest never re-derives
    # the index, so the verify tier must not re-tokenize the corpus.
    # The endpoint set is occupancy-guard-bounded; the semi-join
    # broadcasts and text decodes only for surviving docs.
    cand_ids = cand.select(
        F.explode(F.array("id_a", "id_b")).alias("doc_id")
    ).distinct()
    # candidate-bounded words, NOT corpus text: one tokenize pass
    # feeds all three readers (sizes, ta, tb)
    tok = word_set(
        docs.select("doc_id", "text").join(cand_ids, "doc_id", "semi")
    ).transform(ckpt)
    near = (
        set_overlap(cand, tok)
        .filter(jaccard() >= 0.8)
        .select(F.col("id_b").alias("doc_id"))
        .distinct()
        .join(exact, "doc_id", "anti")
    )

    return _batch_dup_report(batch, exact, near)


@register(
    "incremental_dedup_partitioned_text",
    oracle=_incremental_dedup_oracle(),
    doc="Incremental dedup with a PARTITIONED corpus-text layout — "
    "closes the residual scale term the round-12 tier-3 fix left "
    "open: semi-joining candidates before tokenizing makes the verify "
    "SHUFFLE candidate-bounded, but fetching candidate text from an "
    "unpartitioned corpus still SCANS the whole text column per "
    "ingest.  Here the index text is laid out partitionBy(pbkt = "
    "doc_id % 64) once per corpus version, and the tier-3 fetch joins "
    "candidate ids (carrying their derived pbkt) against it on "
    "(pbkt, doc_id) — dynamic partition pruning pushes the runtime "
    "candidate-bucket set into the scan (plan-gated: dynamicpruning "
    "on the text scan, the dpp_partitioned_probe mechanism), so a "
    "100 TB ingest reads only the text partitions that actually "
    "contain candidates.  Tiers 1-2 and the report are "
    "incremental_dedup_new_batch's exact shapes; same DuckDB oracle — "
    "only the tier-3 physical fetch differs.  At production scale "
    "pbkt count is sized so a partition ≈ a few GB; candidate "
    "locality then bounds per-ingest IO by |candidate buckets|, not "
    "|corpus|.",
    tags=("llm", "dedup", "pipeline", "layout"),
)
def incremental_dedup_partitioned_text(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from .queries_sources import _io_dir

    docs = load_table(spark, sf_dir, "documents")
    thr = docs.agg(
        F.floor(0.8 * (F.max("doc_id") + 1)).cast("bigint").alias("_t")
    ).transform(ckpt)
    witht = docs.crossJoin(F.broadcast(thr))
    is_new = F.col("doc_id") >= F.col("_t")

    # ---- layout build: once per corpus version — the index text
    # partitioned by a derived bucket so candidate fetches can prune
    n_pbkt = 64
    path = _io_dir(sf_dir, "dedup_text_pbkt")
    (
        witht.filter(~is_new)
        .select("doc_id", "text")
        .withColumn("pbkt", F.pmod(F.col("doc_id"), F.lit(n_pbkt)))
        .write.mode("overwrite")
        .partitionBy("pbkt")
        .parquet(path)
    )
    itext = spark.read.parquet(path)

    # tier 1: exact content dedup (new_batch's shape)
    idx_keys = witht.filter(~is_new).select(
        F.sha2("text", 256).alias("h")
    ).distinct()
    exact = (
        witht.filter(is_new)
        .select("doc_id", F.sha2("text", 256).alias("h"))
        .join(idx_keys, "h", "semi")
        .select("doc_id")
        .transform(ckpt)
    )

    # tier 2: band buckets + index x batch candidates (new_batch's shape)
    bands = (
        pruned_band_buckets(portable_signatures(docs.select("doc_id", "text")))
        .crossJoin(F.broadcast(thr))
        .transform(ckpt)
    )
    cand = (
        bands.filter(F.col("doc_id") < F.col("_t"))
        .select("band_id", "band_val", F.col("doc_id").alias("id_a"))
        .join(
            bands.filter(F.col("doc_id") >= F.col("_t")).select(
                "band_id", "band_val", F.col("doc_id").alias("id_b")
            ),
            ["band_id", "band_val"],
        )
        .select("id_a", "id_b")
        .distinct()
        .transform(ckpt)  # endpoints projections + inter all read it
    )

    # tier 3: candidate-proportional on BOTH axes — shuffle (semi-join
    # before tokenize) AND IO (DPP-pruned partitioned text fetch)
    cand_a = (
        cand.select(F.col("id_a").alias("doc_id"))
        .distinct()
        # the always-true literal comparison is a DPP enabler, not a
        # filter: PartitionPruning only inserts the runtime pruning
        # subquery when the filtering side has a "likely selective"
        # predicate, and the lineage cut on `cand` (a LogicalRDD)
        # hides the band filters that would otherwise qualify
        .filter(F.col("doc_id") >= 0)
        .withColumn("pbkt", F.pmod(F.col("doc_id"), F.lit(n_pbkt)))
    )
    # the DPP join: pbkt is a partition column on the scan side and a
    # join key, so the runtime subquery prunes unqualified partitions
    tok_a = word_set(
        itext.join(F.broadcast(cand_a), ["pbkt", "doc_id"], "semi")
    ).transform(ckpt)  # candidate-bounded words; sizes + inter read it
    cand_b = cand.select(F.col("id_b").alias("doc_id")).distinct()
    tok_b = word_set(
        witht.filter(is_new)
        .select("doc_id", "text")
        .join(cand_b, "doc_id", "semi")
    ).transform(ckpt)
    near = (
        set_overlap(cand, tok_a, tok_b)
        .filter(jaccard() >= 0.8)
        .select(F.col("id_b").alias("doc_id"))
        .distinct()
        .join(exact, "doc_id", "anti")
    )

    return _batch_dup_report(witht.filter(is_new), exact, near)


@register(
    "exact_median_mad_by_lang",
    oracle="""
    WITH t AS (
        SELECT doc_id, lang, len(string_split(text, ' ')) AS tok
        FROM documents
    ),
    r AS (
        SELECT lang, tok,
               row_number() OVER (PARTITION BY lang ORDER BY tok, doc_id)
                   AS rn,
               count(*) OVER (PARTITION BY lang) AS n
        FROM t
    ),
    med AS (SELECT lang, tok AS med FROM r WHERE rn = (n + 1) // 2),
    d AS (
        SELECT t.lang, t.doc_id, abs(t.tok - m.med) AS dev
        FROM t JOIN med m USING (lang)
    ),
    r2 AS (
        SELECT lang, dev,
               row_number() OVER (PARTITION BY lang ORDER BY dev, doc_id)
                   AS rn,
               count(*) OVER (PARTITION BY lang) AS n
        FROM d
    ),
    mad AS (SELECT lang, dev AS mad FROM r2 WHERE rn = (n + 1) // 2)
    SELECT m.lang,
           CAST((SELECT count(*) FROM t WHERE t.lang = m.lang) AS BIGINT)
               AS n_docs,
           CAST(m.med AS BIGINT) AS median_toks,
           CAST(a.mad AS BIGINT) AS mad_toks
    FROM med m JOIN mad a USING (lang)
    ORDER BY m.lang
    """,
    doc="EXACT per-language median and MAD (median absolute "
    "deviation) of document token counts — the robust location/scale "
    "pair a corpus owner sets length-filter thresholds from "
    "(means/stddevs are wrecked by the long tail; approx_percentile "
    "is engine-specific and non-reproducible across runs at scale).  "
    "Lower-median convention (rank (n+1)//2 under a total order with "
    "doc_id tiebreak) so the statistic is a DETERMINISTIC function of "
    "the corpus.  Scale shape: two passes of the grouped bucket+offset "
    "rank device (operators/ranks.py) — per-(lang, bucket) windows, "
    "never one task per language — with the round-11 shuffled offset "
    "join (lang is a bounded enum, but this query deliberately "
    "exercises the scale-safe default path).",
    tags=("llm", "text-quality", "stats"),
)
def exact_median_mad_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.ranks import with_global_rank, with_range_bucket

    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id", "lang", F.size(F.split("text", " ")).alias("tok")
    ).transform(ckpt)
    r = with_global_rank(
        with_range_bucket(t, "tok"),
        [F.asc("tok"), F.asc("doc_id")],
        partition_by=("lang",),
        total="n",
        pre_shuffle=True,
    )
    med = r.filter(
        F.col("rn") == F.floor((F.col("n") + 1) / 2)
    ).select("lang", F.col("tok").alias("med"), F.col("n").alias("n_docs"))
    d = (
        t.join(med, "lang")
        .select(
            "lang",
            "doc_id",
            "n_docs",
            F.abs(F.col("tok") - F.col("med")).alias("dev"),
            "med",
        )
        .transform(ckpt)
    )
    r2 = with_global_rank(
        with_range_bucket(d, "dev"),
        [F.asc("dev"), F.asc("doc_id")],
        partition_by=("lang",),
        total="n2",
        pre_shuffle=True,
    )
    return (
        r2.filter(F.col("rn") == F.floor((F.col("n2") + 1) / 2))
        .select(
            "lang",
            F.col("n_docs").cast("bigint").alias("n_docs"),
            F.col("med").cast("bigint").alias("median_toks"),
            F.col("dev").cast("bigint").alias("mad_toks"),
        )
        .orderBy("lang")
    )


@register(
    "domain_interleaved_order",
    oracle="""
    WITH t AS (
        SELECT doc_id, source,
               CAST((doc_id * 2654435761) % 1000000007 AS BIGINT) AS u
        FROM documents
    ),
    r AS (
        SELECT doc_id, source, u,
               row_number() OVER (PARTITION BY source ORDER BY u, doc_id)
                   AS rn
        FROM t
    ),
    p AS (
        SELECT source,
               row_number() OVER (ORDER BY rn, u, doc_id) AS pos,
               count(*) OVER () AS n
        FROM r
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           round((CAST(sum(pos) AS DOUBLE) - count(*))
                 / (count(*) * (max(n) - 1.0)), 6) AS mean_norm_pos,
           CAST(min(pos) AS BIGINT) AS first_pos,
           CAST(sum(pos) AS BIGINT) AS pos_checksum
    FROM p GROUP BY source ORDER BY source
    """,
    doc="Domain-interleaved training order: every source's documents "
    "are ranked by a per-doc Knuth hash WITHIN the source, then the "
    "global training position orders by (within-source rank, hash) — "
    "round-robin across domains, so every source appears early and "
    "evenly in the stream instead of arriving in ingest clumps "
    "(per-source mean normalized position ≈ 0.5 and first_pos ≤ "
    "|sources| are the audit signals).  Scale shape: the within-source "
    "rank is the grouped device (shuffled offsets — source domain is "
    "unbounded); the GLOBAL rank's sort key is the within-source rank "
    "itself, which is EXTREMELY tie-dense (every domain contributes a "
    "rank 1, rank 2, …), i.e. the constant-key hot-cell pathology — "
    "the low buckets would be single tasks holding |domains| rows.  "
    "with_hot_cell_subsplit splits those cells by the hash tiebreak "
    "(bit-identical to the literal window), making this the "
    "registered, fully hash-checked consumer of the round-11 subsplit "
    "device.",
    tags=("llm", "sampling", "layout", "bench"),
)
def domain_interleaved_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.ranks import (
        with_global_rank,
        with_hot_cell_subsplit,
        with_range_bucket,
    )

    docs = load_table(spark, sf_dir, "documents")
    u = ((F.col("doc_id").cast("bigint") * 2654435761) % 1000000007).cast(
        "bigint"
    )
    # Two cuts, not five (r16, guide §2.4): each rank device runs in
    # its fused pre_shuffle form, so the bucketed relation between the
    # cuts hangs off ONE repartition Exchange that both device
    # consumers (counts agg + rank window) reuse — the former bu/b/b2
    # checkpoints existed only to stop the device re-deriving its
    # input and are now pure overhead (three materialization jobs).
    # t stays cut (bounds fold + the device subtree both consume it);
    # r stays cut (the second device's bounds fold, subsplit stats and
    # join all re-derive from it — and it truncates the cross-device
    # plan).
    t = docs.select("doc_id", "source", u.alias("u")).transform(ckpt)
    bu = with_range_bucket(t, "u")
    r = with_global_rank(
        bu,
        [F.asc("u"), F.asc("doc_id")],
        partition_by=("source",),
        pre_shuffle=True,
    ).select("doc_id", "source", "u", "rn").transform(ckpt)
    b = with_range_bucket(r, "rn", out="bkt")
    b2 = with_hot_cell_subsplit(b, "rn", "u")
    p = with_global_rank(
        b2,
        [F.asc("rn"), F.asc("u"), F.asc("doc_id")],
        bucket_col="bkt2",
        out="pos",
        total="n",
        pre_shuffle=True,
    )
    return (
        p.groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            # avg of per-row double divisions is partial-agg-order
            # dependent — ~1e-13 from a 0.5e-6 rounding boundary it
            # flips the 6th decimal run-to-run (the chow flake family,
            # CLAUDE.md round-11 rule).  sum(pos) is an exact BIGINT,
            # so derive the mean from integer sums: one double
            # division per group, order-free on both engines.
            F.round(
                (F.sum("pos").cast("double") - F.count("*"))
                / (
                    F.count("*").cast("double")
                    * (F.max("n") - F.lit(1)).cast("double")
                ),
                6,
            ).alias("mean_norm_pos"),
            F.min("pos").cast("bigint").alias("first_pos"),
            F.sum("pos").cast("bigint").alias("pos_checksum"),
        )
        .orderBy("source")
    )


_PACK_CAP = 2048  # tokens per packed training sequence


@register(
    "sequence_packing_manifest",
    oracle=f"""
    WITH t AS (
        SELECT doc_id,
               CAST((doc_id * 2654435761) % 1000000007 AS BIGINT) % 16
                   AS shard,
               CAST((doc_id * 2654435761) % 1000000007 AS BIGINT) AS u,
               len(string_split(text, ' ')) AS tok
        FROM documents
    ),
    c AS (
        SELECT shard, doc_id, tok,
               sum(tok) OVER (PARTITION BY shard ORDER BY u, doc_id
                              ROWS UNBOUNDED PRECEDING) AS cum
        FROM t
    )
    SELECT shard,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(tok) AS BIGINT) AS total_toks,
           CAST((max(cum) + {_PACK_CAP} - 1) // {_PACK_CAP} AS BIGINT)
               AS n_chunks,
           CAST(sum(CASE WHEN (cum - tok) // {_PACK_CAP}
                          <> (cum - 1) // {_PACK_CAP}
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_split_docs,
           round(max(cum) / (CAST((max(cum) + {_PACK_CAP} - 1)
                // {_PACK_CAP} AS DOUBLE) * {_PACK_CAP}), 6) AS fill_ratio
    FROM c GROUP BY shard ORDER BY shard
    """,
    doc="Concat-and-chunk sequence packing manifest — THE standard "
    "pretraining batch-assembly step: per shard, documents are "
    "concatenated in deterministic hash order and cut into fixed "
    f"{_PACK_CAP}-token training sequences; the manifest reports per "
    "shard how many chunks result, how many documents straddle a "
    "chunk boundary (the cross-document-attention contamination "
    "number), and the fill ratio (always ≥ (cap-1)/cap for "
    "concat-and-chunk — the report exists to audit determinism and "
    "boundary counts, and the same cumulative machinery yields "
    "greedy no-split packing by resetting at boundaries).  Scale "
    "shape: ONE running-sum window per shard (shards are the "
    "parallelism unit, sized to the cluster in production), pure "
    "integer arithmetic end-to-end so the manifest is bit-stable "
    "across engines and partitionings.",
    tags=("llm", "sampling", "layout"),
)
def sequence_packing_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    docs = load_table(spark, sf_dir, "documents")
    h = (F.col("doc_id").cast("bigint") * 2654435761) % 1000000007
    t = docs.select(
        "doc_id",
        (h % 16).cast("bigint").alias("shard"),
        h.cast("bigint").alias("u"),
        F.size(F.split("text", " ")).alias("tok"),
    )
    w = (
        W.partitionBy("shard")
        .orderBy(F.asc("u"), F.asc("doc_id"))
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    cap = F.lit(_PACK_CAP)
    c = t.withColumn("cum", F.sum("tok").over(w))
    splits = (
        F.floor((F.col("cum") - F.col("tok")) / cap)
        != F.floor((F.col("cum") - 1) / cap)
    ).cast("int")
    n_chunks = F.floor((F.max("cum") + _PACK_CAP - 1) / cap)
    return (
        c.groupBy("shard")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("tok").cast("bigint").alias("total_toks"),
            n_chunks.cast("bigint").alias("n_chunks"),
            F.sum(splits).cast("bigint").alias("n_split_docs"),
            F.round(
                F.max("cum")
                / (n_chunks.cast("double") * _PACK_CAP),
                6,
            ).alias("fill_ratio"),
        )
        .orderBy("shard")
    )


_MIX_BUDGET_PCT = 50  # token budget = 50% of the corpus
_MIX_MAX_EPOCHS = 4.0  # repetition cap (Muennighoff et al. 2023)


@register(
    "mixture_weight_token_budget",
    oracle=f"""
    WITH pers AS (
        SELECT source,
               CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_toks
        FROM documents GROUP BY source
    ),
    -- temperature-sampling mass in integer micro-units so the
    -- denominator is an exact BIGINT sum (aggregation-order-free)
    mass AS (
        SELECT source, n_toks,
               CAST(round(sqrt(CAST(n_toks AS DOUBLE)) * 1000000, 0)
                    AS BIGINT) AS m_u
        FROM pers
    ),
    tot AS (
        SELECT CAST(sum(m_u) AS BIGINT) AS m_tot,
               CAST(sum(n_toks) AS BIGINT) AS n_tot
        FROM mass
    ),
    alloc AS (
        SELECT source, n_toks,
               round(m_u / CAST(m_tot AS DOUBLE), 6) AS weight,
               CAST(floor((n_tot * {_MIX_BUDGET_PCT} / 100.0)
                          * (m_u / CAST(m_tot AS DOUBLE))) AS BIGINT)
                   AS alloc_toks
        FROM mass CROSS JOIN tot
    )
    SELECT source, n_toks, weight, alloc_toks,
           round(alloc_toks / CAST(n_toks AS DOUBLE), 4) AS epochs,
           CAST(alloc_toks / CAST(n_toks AS DOUBLE) > {_MIX_MAX_EPOCHS}
                AS INTEGER) AS over_cap
    FROM alloc ORDER BY source
    """,
    doc="Data-mixture token-budget allocator — the planning step in "
    "front of every multi-source pretraining run: per-source token "
    "counts feed temperature sampling (p_s ∝ n_s^{0.5}, the XLM-R/"
    "mT5 τ=2 upweighting of small sources), the token budget "
    f"({_MIX_BUDGET_PCT}% of the corpus here) is allocated by those "
    "weights, and the implied per-source EPOCH count is reported with "
    "an over-repetition flag (>4 epochs degrades, Muennighoff et al. "
    "2023 'Scaling Data-Constrained Language Models').  Determinism: "
    "the sampling mass is quantized per source to integer micro-units "
    "before the denominator sum, so the weights are exact-integer "
    "ratios (the chow/perplexity discipline) — no order-dependent "
    "float fold across the source domain.  Scale shape: one map-side "
    "token-count aggregate over the corpus; everything after lives on "
    "the |sources| relation (shuffled, never broadcast — source "
    "domains are crawl-unbounded, the round-11 offsets rule).",
    tags=("llm", "sampling", "mixture"),
)
def mixture_weight_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    pers = docs.groupBy("source").agg(
        F.sum(F.size(F.split("text", " "))).cast("bigint").alias("n_toks")
    )
    mass = pers.select(
        "source",
        "n_toks",
        F.round(F.sqrt(F.col("n_toks").cast("double")) * 1000000, 0)
        .cast("bigint")
        .alias("m_u"),
    )
    tot = mass.agg(
        F.sum("m_u").cast("bigint").alias("m_tot"),
        F.sum("n_toks").cast("bigint").alias("n_tot"),
    )
    w = F.col("m_u") / F.col("m_tot").cast("double")
    alloc_toks = F.floor(
        (F.col("n_tot") * _MIX_BUDGET_PCT / 100.0) * w
    ).cast("bigint")
    alloc = mass.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_toks",
        F.round(w, 6).alias("weight"),
        alloc_toks.alias("alloc_toks"),
    )
    epochs = F.col("alloc_toks") / F.col("n_toks").cast("double")
    return alloc.select(
        "source",
        "n_toks",
        "weight",
        "alloc_toks",
        F.round(epochs, 4).alias("epochs"),
        (epochs > _MIX_MAX_EPOCHS).cast("int").alias("over_cap"),
    ).orderBy("source")


_CHUNK_W = 32  # tokens per chunk
_CHUNK_OV = 8  # overlap; stride = _CHUNK_W - _CHUNK_OV


@register(
    "doc_chunking_manifest",
    oracle=f"""
    WITH arrs AS (
        SELECT doc_id, lang, string_split(text, ' ') AS toks
        FROM documents
    ),
    chunks AS (
        SELECT doc_id, lang,
               len(list_slice(toks, s, s + {_CHUNK_W} - 1)) AS clen,
               md5(array_to_string(
                   list_slice(toks, s, s + {_CHUNK_W} - 1), ' ')) AS ch
        FROM arrs,
             unnest(range(1, len(toks) + 1, {_CHUNK_W - _CHUNK_OV}))
                 AS t(s)
    )
    SELECT lang,
           CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
           CAST(count(*) AS BIGINT) AS n_chunks,
           CAST(sum(clen) AS BIGINT) AS chunk_tokens,
           round(sum(clen) / (count(*) * {float(_CHUNK_W)}), 6)
               AS fill_ratio,
           CAST(sum(CAST('0x' || substr(ch, 1, 12) AS BIGINT)
                    % 1000000007) AS BIGINT) AS chunk_checksum
    FROM chunks GROUP BY lang ORDER BY lang
    """,
    doc="Document chunking manifest — the RAG-ingest / context-window "
    f"splitter: fixed {_CHUNK_W}-token chunks with {_CHUNK_OV}-token "
    "overlap (stride = width − overlap), chunk starts at 1, 1+stride, "
    "… while ≤ |tokens| (trailing chunks may run short — the "
    "convention is documented rather than hidden; fill_ratio reports "
    "exactly how much).  Output: per-lang chunk counts, token mass, "
    "mean fill, and an order-free content checksum (per-chunk md5 "
    "reduced mod 1e9+7 before the sum — the 2^63 rule).  Scale "
    "shape: entirely row-local array arithmetic (sequence → slice → "
    "md5) followed by one per-lang rollup; no join, no window, one "
    "map pass over the corpus at any size.",
    tags=("llm", "text", "layout"),
)
def doc_chunking_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    stride = _CHUNK_W - _CHUNK_OV
    arrs = docs.select("doc_id", "lang", F.split("text", " ").alias("toks"))
    chunk = F.slice(F.col("toks"), F.col("s"), _CHUNK_W)
    chunks = arrs.select(
        "doc_id",
        "lang",
        F.explode(
            F.sequence(F.lit(1), F.size("toks"), F.lit(stride))
        ).alias("s"),
        "toks",
    ).select(
        "doc_id",
        "lang",
        F.size(chunk).alias("clen"),
        F.md5(F.array_join(chunk, " ")).alias("ch"),
    )
    return (
        chunks.groupBy("lang")
        .agg(
            F.countDistinct("doc_id").cast("bigint").alias("n_docs"),
            F.count("*").cast("bigint").alias("n_chunks"),
            F.sum("clen").cast("bigint").alias("chunk_tokens"),
            F.round(
                F.sum("clen").cast("double")
                / (F.count("*") * float(_CHUNK_W)),
                6,
            ).alias("fill_ratio"),
            F.sum(
                F.conv(F.substring("ch", 1, 12), 16, 10).cast("bigint")
                % F.lit(1000000007)
            )
            .cast("bigint")
            .alias("chunk_checksum"),
        )
        .orderBy("lang")
    )


@register(
    "cluster_representative_pick",
    oracle=_dedup_pipeline_ctes()
    + """,
    comp AS (
        SELECT u AS doc_id, least(u, min(v)) AS cluster_id
        FROM reach GROUP BY u
    ),
    memb AS (
        SELECT c.cluster_id, c.doc_id,
               len(list_distinct(string_split(s.text, ' '))) AS qscore
        FROM comp c JOIN sdocs s USING (doc_id)
    ),
    rk AS (
        SELECT cluster_id, doc_id, qscore,
               row_number() OVER (PARTITION BY cluster_id
                                  ORDER BY qscore DESC, doc_id) AS r
        FROM memb
    )
    SELECT cluster_id,
           CAST(count(*) AS BIGINT) AS n_members,
           CAST(sum(CASE WHEN r = 1 THEN doc_id END) AS BIGINT)
               AS rep_doc_id,
           CAST(sum(CASE WHEN r = 1 THEN qscore END) AS BIGINT)
               AS rep_score,
           CAST(sum(CASE WHEN r > 1 THEN doc_id END) AS BIGINT)
               AS dropped_id_checksum
    FROM rk GROUP BY cluster_id ORDER BY cluster_id
    """,
    doc="Quality-aware survivor selection over the production "
    "pipeline's near-dup clusters: real dedup keeps the BEST document "
    "per cluster (here distinct-token richness with a doc_id tiebreak "
    "— a deterministic arg-max; swap in any quality score), not the "
    "arbitrary min-id that min-label propagation hands back.  One row "
    "per MULTI-member cluster with the chosen representative and the "
    "dropped-set checksum the pipeline quarantines by.  Cluster base "
    "is bit-identical to llm_dedup_pipeline (shared oracle CTE chain: "
    "exact-dedup survivors, portable band candidates, Jaccard >= 0.8 "
    "verify, transitive closure).  Scale shape: candidates from "
    "bucket collisions (never all-pairs), min-label connected "
    "components (iterative build — listed in "
    "introspect.ITERATIVE_BUILD_QUERIES, audited with cuts active), "
    "and the arg-max is a single cluster-keyed cumulative struct max "
    "(max(struct(qscore, -doc_id))) — no per-cluster window, no rank "
    "shuffle beyond the one aggregate.",
    tags=("llm", "dedup", "graph", "quality"),
)
def cluster_representative_pick(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.graph import connected_components

    docs = load_table(spark, sf_dir, "documents")
    keep = dedup_exact(docs).select(F.col("keep_doc_id").alias("doc_id"))
    s1 = docs.join(keep, "doc_id", "semi")

    cands = band_candidates(portable_signatures(s1))
    tok = word_set(s1).transform(ckpt)  # read by the verify AND the quality score
    verified = (
        set_overlap(cands, tok).filter(jaccard() >= 0.8).select("id_a", "id_b")
    )
    sizes = tok.groupBy("doc_id").agg(F.count("*").alias("sz"))

    cc = connected_components(verified)
    # qscore = distinct-token count: the sz aggregate already IS it
    memb = cc.select(F.col("node").alias("doc_id"), "cluster_id").join(
        sizes.select("doc_id", F.col("sz").alias("qscore")), "doc_id"
    )
    # arg-max via struct max: (qscore, -doc_id) orders by quality then
    # SMALLEST id — one cluster-keyed aggregate, no window
    rep = F.max(
        F.struct(F.col("qscore").alias("q"), (-F.col("doc_id")).alias("nid"))
    )
    return (
        memb.groupBy("cluster_id")
        .agg(
            F.count("*").cast("bigint").alias("n_members"),
            rep.alias("_rep"),
            F.sum("doc_id").cast("bigint").alias("_idsum"),
        )
        .select(
            "cluster_id",
            "n_members",
            (-F.col("_rep.nid")).cast("bigint").alias("rep_doc_id"),
            F.col("_rep.q").cast("bigint").alias("rep_score"),
            (F.col("_idsum") + F.col("_rep.nid")).cast("bigint").alias(
                "dropped_id_checksum"
            ),
        )
        .orderBy("cluster_id")
    )


def _bpe_coverage_oracle(rounds: int = 3, top_words: int = 200) -> str:
    """The trained merges (shared CTE chain with ``bpe_merge_rounds``'
    oracle) applied to the per-language word-frequency table."""
    apply_ctes = []
    prev = "c0"
    for r in range(1, rounds + 1):
        apply_ctes.append(
            f"""
    c{r} AS (
        SELECT lang, tok, cnt,
               {_bpe_merge_sql("seq")} AS seq
        FROM {prev} CROSS JOIN top{r} t
    )"""
        )
        prev = f"c{r}"
    return f"""
    WITH {_bpe_train_sql(rounds, top_words)},
    lw AS (
        SELECT lang, tok, CAST(count(*) AS BIGINT) AS cnt
        FROM (SELECT lang, lower(unnest(string_split(text, ' '))) AS tok
              FROM documents)
        WHERE regexp_matches(tok, '^[a-z]+$')
        GROUP BY 1, 2
    ),
    c0 AS (
        SELECT lang, tok, cnt,
               ' ' || regexp_replace(tok, '(.)', '\\1 ', 'g') AS seq
        FROM lw
    ),{",".join(apply_ctes)},
    m AS (
        SELECT lang, cnt, len(tok) AS nch,
               len(string_split(trim(seq), ' ')) AS nsub
        FROM {prev}
    )
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_word_types,
           CAST(sum(cnt) AS BIGINT) AS n_word_occ,
           round(CAST(sum(cnt * nsub) AS DOUBLE) / sum(cnt), 6)
               AS fertility,
           round(CAST(sum(cnt * nch) AS DOUBLE) / sum(cnt * nsub), 6)
               AS chars_per_token,
           round(CAST(sum(CASE WHEN nsub < nch THEN cnt ELSE 0 END)
                      AS DOUBLE) / sum(cnt), 6) AS merge_hit_rate
    FROM m GROUP BY lang ORDER BY lang
    """


@register(
    "bpe_vocab_coverage",
    oracle=_bpe_coverage_oracle(),
    doc="Tokenizer COVERAGE/FERTILITY audit — the health metric a "
    "tokenizer team reads after training (Rust et al. 2021 'How good "
    "is your tokenizer?'): apply the merges ``bpe_merge_rounds`` "
    "trains (same shared trainer, same argmax tie rules) to every "
    "language's word vocabulary and report per language the "
    "frequency-weighted subwords-per-word (fertility), chars-per-"
    "subword, and the fraction of word occurrences that benefit from "
    "at least one merge — the numbers that expose a tokenizer trained "
    "on English-heavy data penalizing other languages.  Scale shape: "
    "merges are applied to the DISTINCT (lang, word) vocabulary "
    "(Heaps'-law-sized, never the corpus), weighted by exact BIGINT "
    "occurrence counts from the single corpus pass; each merge round "
    "is a 1-row broadcast crossJoin + map-side string algebra; every "
    "reported ratio is a quotient of two integer sums rounded once — "
    "aggregation-order-free on both engines (the chow/perplexity "
    "discipline).",
    tags=("llm", "text", "quality"),
)
def bpe_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    tops = _bpe_train_tops(docs)
    lw = (
        docs.select("lang", F.explode(F.split("text", " ")).alias("tok"))
        .select("lang", F.lower("tok").alias("tok"))
        .filter(F.col("tok").rlike("^[a-z]+$"))
        .groupBy("lang", "tok")
        .agg(F.count("*").cast("bigint").alias("cnt"))
        .withColumn(
            "seq",
            F.concat(
                F.lit(" "), F.regexp_replace(F.col("tok"), "(.)", "$1 ")
            ),
        )
    )
    for top1 in tops:
        lw = (
            lw.crossJoin(F.broadcast(top1))
            .select(
                "lang", "tok", "cnt",
                _bpe_merged_seq(F.col("seq")).alias("seq"),
            )
        )
    m = lw.select(
        "lang",
        "cnt",
        F.length("tok").alias("nch"),
        F.size(F.split(F.trim("seq"), " ")).alias("nsub"),
    )
    csum = lambda e: F.sum(e).cast("bigint")  # noqa: E731
    return (
        m.groupBy("lang")
        .agg(
            F.count("*").cast("bigint").alias("n_word_types"),
            csum("cnt").alias("n_word_occ"),
            F.round(
                csum(F.col("cnt") * F.col("nsub")).cast("double")
                / csum("cnt"),
                6,
            ).alias("fertility"),
            F.round(
                csum(F.col("cnt") * F.col("nch")).cast("double")
                / csum(F.col("cnt") * F.col("nsub")),
                6,
            ).alias("chars_per_token"),
            F.round(
                csum(
                    F.when(F.col("nsub") < F.col("nch"), F.col("cnt"))
                    .otherwise(F.lit(0))
                ).cast("double")
                / csum("cnt"),
                6,
            ).alias("merge_hit_rate"),
        )
        .orderBy("lang")
    )


def _merge_occupancy_counts(
    idx_counts: DataFrame, seg_counts_src: DataFrame
) -> DataFrame:
    """The compaction's occupancy merge: aggregate the segment's
    postings on its own bucket keys and full-outer-join them against
    the persisted v1 counts.  Both children carry the same
    n_bkts-bucket hash partitioning (the v1 counts table is bucketed;
    the segment aggregate groups on the segment table's own bucket
    keys), so the whole merge plans with ZERO Exchange nodes —
    plan-gated in tests/test_bucketing.py."""
    seg_counts = seg_counts_src.groupBy("band_id", "band_val").agg(
        F.count("*").cast("bigint").alias("n_seg")
    )
    return (
        idx_counts.join(seg_counts, ["band_id", "band_val"], "full_outer")
        .select(
            "band_id",
            "band_val",
            F.coalesce("n_idx", F.lit(0)).cast("bigint").alias("n_idx"),
            F.coalesce("n_seg", F.lit(0)).cast("bigint").alias("n_seg"),
            (F.coalesce("n_idx", F.lit(0)) + F.coalesce("n_seg", F.lit(0)))
            .cast("bigint")
            .alias("n_total"),
        )
    )


def _dedup_compaction_oracle() -> str:
    return f"""
    WITH thr AS (
        SELECT CAST(floor(0.8 * (max(doc_id) + 1)) AS BIGINT) AS t
        FROM documents
    ),
    {_band_core_sql()},
    kept AS (
        SELECT b.doc_id
        FROM documents b JOIN thr ON b.doc_id >= thr.t
        WHERE NOT EXISTS (
            SELECT 1 FROM documents i, thr t2
            WHERE i.doc_id < t2.t AND i.text = b.text
        )
    ),
    cells AS (
        SELECT band_id, band_val,
               sum(CASE WHEN side = 0 THEN 1 ELSE 0 END) AS n_idx,
               sum(CASE WHEN side = 1 THEN 1 ELSE 0 END) AS n_seg
        FROM (
            SELECT b.band_id, b.band_val, 0 AS side
            FROM bands b JOIN thr ON b.doc_id < thr.t
            UNION ALL
            SELECT b.band_id, b.band_val, 1 AS side
            FROM bands b JOIN kept k ON k.doc_id = b.doc_id
        )
        GROUP BY 1, 2
    )
    SELECT band_id,
           CAST(sum(n_idx) AS BIGINT) AS n_post_index,
           CAST(sum(n_seg) AS BIGINT) AS n_post_segment,
           CAST(sum(n_idx + n_seg) AS BIGINT) AS n_post_total,
           CAST(count(*) AS BIGINT) AS n_buckets,
           CAST(sum(CASE WHEN n_idx + n_seg > {_MH_MAX_BUCKET}
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_hot_buckets
    FROM cells GROUP BY band_id ORDER BY band_id
    """


@register(
    "dedup_index_compaction",
    oracle=_dedup_compaction_oracle(),
    doc="Persisted-dedup-index COMPACTION — the lifecycle stage after "
    "the probe: once an ingest's report accepts a batch, its kept "
    "documents (tier-1 exact dups never enter the index) must become "
    "part of the index the NEXT ingest probes against.  The LSM "
    "lesson applies at 100 TB: rewriting the posting table per ingest "
    "would shuffle the whole index (a bucketed write of `old UNION "
    "new` re-buckets everything), so the per-ingest write is ONE "
    "batch-proportional artifact — the kept batch's postings as a "
    "DELTA SEGMENT table bucketed identically to the index.  The "
    "occupancy merge the next probe's hot-bucket guard needs happens "
    "at READ time and is exchange-free end to end (plan-gated in "
    "tests/test_bucketing.py): segment counts aggregate on the "
    "segment table's own bucket keys, and the full-outer count merge "
    "joins two relations already bucketed on (band_id, band_val) — "
    "zero Exchange nodes, exactly the shape the probe already uses "
    "for its batch-side counts.  (An earlier revision REWROTE a "
    "merged v2 counts table per ingest; tools/scale_compaction.py "
    "measured that write index-proportional — occupancy ≈ postings "
    "when buckets are near-singleton — which is why the merge moved "
    "read-side; SCALE_r12_compaction.json holds the before/after.)  "
    "Output: the per-band compaction report (index/segment/total "
    "postings, occupied buckets, hot buckets past the "
    f"{_MH_MAX_BUCKET}-occupancy guard) computed from the two "
    "PERSISTED tables, so the hash-check proves the artifacts, not a "
    "bypass plan.  Near-dup batch docs stay in the index as cluster "
    "members (the representative pick is a downstream read-side "
    "choice — cluster_representative_pick); full posting-table "
    "rewrites are the amortized BACKGROUND job, exactly as in LSM "
    "compaction (its linear cost is measured as the naive_rewrite_s "
    "contrast in the same artifact).  The MULTI-segment half of the "
    "lifecycle — K accumulated deltas, read-amplification vs K, the "
    "fold trigger — is dedup_index_segment_lifecycle.",
    tags=("llm", "dedup", "pipeline", "layout"),
)
def dedup_index_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.catalog import reset_bucket_table, session_bucket_table

    docs = load_table(spark, sf_dir, "documents")
    thr = docs.agg(
        F.floor(0.8 * (F.max("doc_id") + 1)).cast("bigint").alias("_t")
    ).transform(ckpt)
    witht = docs.crossJoin(F.broadcast(thr))
    is_new = F.col("doc_id") >= F.col("_t")

    # index v1: once per corpus version (same builder as the probe)
    _t_bands, t_counts, t_keys, n_bkts = _build_persisted_dedup_index(
        spark, witht.filter(~is_new).select("doc_id", "text"), "cmp_idx"
    )

    # the accepted batch: exact-content dups never enter the index
    kept = (
        witht.filter(is_new)
        .select("doc_id", "text", F.sha2("text", 256).alias("h"))
        .join(spark.table(t_keys), "h", "anti")
        .select("doc_id", "text")
    )

    # delta segment: batch-proportional write, bucketed like the index
    # — the ONLY per-ingest write.  An earlier revision also rewrote a
    # merged v2 counts table; tools/scale_compaction.py measured that
    # rewrite index-proportional (occupancy ≈ postings when buckets
    # are near-singleton), so the counts merge moved to READ time,
    # where it is exchange-free anyway (both sides bucketed).
    t_seg = session_bucket_table(spark, "cmp_seg_bands")
    reset_bucket_table(spark, t_seg)
    (
        band_rows(portable_signatures(kept))
        .write.bucketBy(n_bkts, "band_id", "band_val")
        .sortBy("band_id", "band_val")
        .saveAsTable(t_seg)
    )

    # read-time occupancy merge over the two PERSISTED tables — the
    # exact relation the next probe's hot-bucket guard consumes
    merged = _merge_occupancy_counts(
        spark.table(t_counts), spark.table(t_seg)
    )
    return (
        merged.groupBy("band_id")
        .agg(
            F.sum("n_idx").cast("bigint").alias("n_post_index"),
            F.sum("n_seg").cast("bigint").alias("n_post_segment"),
            F.sum("n_total").cast("bigint").alias("n_post_total"),
            F.count("*").cast("bigint").alias("n_buckets"),
            F.sum((F.col("n_total") > _MH_MAX_BUCKET).cast("int"))
            .cast("bigint")
            .alias("n_hot_buckets"),
        )
        .orderBy("band_id")
    )


# LSM fold threshold: segments accumulated between index rebuilds.
# Spark-specific finding (round 13, measured in the lifecycle plan):
# a K-way bucket merge CANNOT stay fully exchange-free beyond pairwise
# — FullOuter SortMergeJoin reports UnknownPartitioning, so chained
# FOJs re-shuffle, and a Union of bucketed scans loses the bucketing
# too.  The scale-honest read path is therefore: per-segment counts
# aggregate exchange-free on their own bucketed scans, ONE explicit
# repartition moves segment-count mass (batch-proportional x K, never
# the index) onto the index's bucket partitioning, and the final FOJ
# is exchange-free.  Read cost grows with accumulated segment mass —
# the LSM read-amplification term — which is why the fold threshold
# stays LOW and the fold is worth its linear background cost.
_LSM_FOLD_K = 4


def _merge_occupancy_counts_multi(
    idx_counts: DataFrame, seg_srcs: list[DataFrame], n_bkts: int
) -> DataFrame:
    """K-segment read-time occupancy merge (the probe path between
    folds).  Physical shape, plan-gated in tests/test_bucketing.py:
    each segment's count aggregate runs on its own bucketed scan with
    no Exchange; the union of per-segment counts takes exactly ONE
    Exchange (segment mass only) onto the index's (band_id, band_val)
    x n_bkts partitioning; the full-outer merge against the persisted
    index counts then plans exchange-free — the index is never
    re-shuffled, per ingest or per probe."""
    from functools import reduce

    seg_counts = [
        s.groupBy("band_id", "band_val").agg(
            F.count("*").cast("bigint").alias("n_s")
        )
        for s in seg_srcs
    ]
    all_seg = (
        reduce(lambda a, b: a.unionByName(b), seg_counts)
        .repartition(n_bkts, "band_id", "band_val")
        .groupBy("band_id", "band_val")
        .agg(F.sum("n_s").cast("bigint").alias("n_seg"))
    )
    return (
        idx_counts.join(all_seg, ["band_id", "band_val"], "full_outer")
        .select(
            "band_id",
            "band_val",
            F.coalesce("n_idx", F.lit(0)).cast("bigint").alias("n_idx"),
            F.coalesce("n_seg", F.lit(0)).cast("bigint").alias("n_seg"),
            (F.coalesce("n_idx", F.lit(0)) + F.coalesce("n_seg", F.lit(0)))
            .cast("bigint")
            .alias("n_total"),
        )
    )


def _dedup_lifecycle_oracle() -> str:
    return f"""
    WITH thr AS (
        SELECT CAST(floor(0.8 * (max(doc_id) + 1)) AS BIGINT) AS t,
               CAST(max(doc_id) + 1 AS BIGINT) AS m
        FROM documents
    ),
    {_band_core_sql()},
    tail AS (
        SELECT d.doc_id, d.text,
               least({_LSM_FOLD_K - 1},
                     ((d.doc_id - thr.t) * {_LSM_FOLD_K})
                         // (thr.m - thr.t)) AS seg
        FROM documents d JOIN thr ON d.doc_id >= thr.t
    ),
    kept AS (
        SELECT b.doc_id, b.seg
        FROM tail b
        WHERE NOT EXISTS (
            SELECT 1 FROM documents i, thr t2
            WHERE i.doc_id < t2.t AND i.text = b.text
        )
        AND NOT EXISTS (
            SELECT 1 FROM tail e WHERE e.seg < b.seg AND e.text = b.text
        )
    ),
    cells AS (
        SELECT band_id, band_val,
               sum(CASE WHEN side < 0 THEN 1 ELSE 0 END) AS n_idx,
               sum(CASE WHEN side >= 0 THEN 1 ELSE 0 END) AS n_seg
        FROM (
            SELECT b.band_id, b.band_val, CAST(-1 AS BIGINT) AS side
            FROM bands b JOIN thr ON b.doc_id < thr.t
            UNION ALL
            SELECT b.band_id, b.band_val, k.seg AS side
            FROM bands b JOIN kept k ON k.doc_id = b.doc_id
        )
        GROUP BY 1, 2
    )
    SELECT band_id,
           CAST({_LSM_FOLD_K} AS BIGINT) AS n_segments,
           CAST(sum(n_idx) AS BIGINT) AS n_post_index,
           CAST(sum(n_seg) AS BIGINT) AS n_post_segments,
           CAST(sum(n_idx + n_seg) AS BIGINT) AS n_post_total,
           CAST(count(*) AS BIGINT) AS n_buckets,
           CAST(sum(CASE WHEN n_idx + n_seg > {_MH_MAX_BUCKET}
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_hot_buckets,
           CAST(sum(n_idx + n_seg) AS BIGINT) AS n_post_total_folded,
           CAST(count(*) AS BIGINT) AS n_buckets_folded,
           CAST(sum(CASE WHEN n_idx + n_seg > {_MH_MAX_BUCKET}
                         THEN 1 ELSE 0 END) AS BIGINT)
               AS n_hot_buckets_folded
    FROM cells GROUP BY band_id ORDER BY band_id
    """


def _build_segmented_dedup_index(
    spark: SparkSession, docs: DataFrame, base: str
) -> tuple[str, str, str, list[str], list[str], int]:
    """v1 persisted dedup index over the first 80% of ``docs`` plus
    ``_LSM_FOLD_K`` delta segments over the tail — the build half of
    ``dedup_index_segment_lifecycle``, factored so the fold-policy
    report audits the same artifacts.  Each ingest's exact-dup filter
    anti-joins the index keys AND every earlier segment's keys (the
    cumulative-key semantics of a real ingest queue); ``kept`` is
    re-derived per write — never checkpoint a text-bearing corpus
    relation (round-10 doctrine).  Returns ``(t_bands, t_counts,
    t_keys, seg_tables, key_tables, n_bkts)``."""
    from ..sources.catalog import reset_bucket_table, session_bucket_table

    K = _LSM_FOLD_K
    thr = docs.agg(
        F.floor(0.8 * (F.max("doc_id") + 1)).cast("bigint").alias("_t"),
        (F.max("doc_id") + 1).cast("bigint").alias("_m"),
    ).transform(ckpt)
    witht = docs.crossJoin(F.broadcast(thr))
    is_new = F.col("doc_id") >= F.col("_t")

    # index v1: once per corpus version (same builder as the probe)
    t_bands, t_counts, t_keys, n_bkts = _build_persisted_dedup_index(
        spark, witht.filter(~is_new).select("doc_id", "text"), f"{base}_idx"
    )

    seg_expr = F.least(
        F.lit(K - 1), F.expr(f"div((doc_id - _t) * {K}, _m - _t)")
    ).cast("bigint")
    tail = witht.filter(is_new).select(
        "doc_id", "text", seg_expr.alias("seg")
    )

    seg_tables: list[str] = []
    key_tables: list[str] = []
    for j in range(K):
        t_seg = session_bucket_table(spark, f"{base}_seg{j}_bands")
        t_sk = session_bucket_table(spark, f"{base}_seg{j}_keys")
        reset_bucket_table(spark, t_seg)
        reset_bucket_table(spark, t_sk)
        kept = (
            tail.filter(F.col("seg") == j)
            .select("doc_id", "text", F.sha2("text", 256).alias("h"))
            .join(spark.table(t_keys), "h", "anti")
        )
        for tk in key_tables:
            kept = kept.join(spark.table(tk), "h", "anti")
        (
            band_rows(portable_signatures(kept.select("doc_id", "text")))
            .write.bucketBy(n_bkts, "band_id", "band_val")
            .sortBy("band_id", "band_val")
            .saveAsTable(t_seg)
        )
        (
            kept.select("h")
            .distinct()
            .write.bucketBy(n_bkts, "h")
            .sortBy("h")
            .saveAsTable(t_sk)
        )
        seg_tables.append(t_seg)
        key_tables.append(t_sk)
    return t_bands, t_counts, t_keys, seg_tables, key_tables, n_bkts



@register(
    "dedup_index_segment_lifecycle",
    oracle=_dedup_lifecycle_oracle(),
    doc="MULTI-segment dedup-index lifecycle — the missing half of "
    "the LSM story dedup_index_compaction models for one segment: "
    f"{_LSM_FOLD_K} successive ingests each write their own "
    "batch-proportional delta segment (postings + exact-key table, "
    "bucketed identically to the index; each ingest's exact-dup "
    "filter anti-joins the index keys AND every earlier segment's "
    "keys — the cumulative-key semantics of a real ingest queue), "
    "the probe-side READ merges occupancy over index + K segments, "
    "and at the fold threshold the background job rewrites index v2 "
    "(one linear union-write, amortized over K ingests).  Read-path "
    "physics, plan-gated: a K-way bucket merge cannot stay fully "
    "exchange-free in Spark (FullOuter SMJ output partitioning is "
    "Unknown, chained FOJs re-shuffle; Union drops bucketing), so "
    "per-segment counts aggregate exchange-free on their own "
    "bucketed scans, ONE explicit repartition moves segment-count "
    "mass onto the index partitioning, and the final full-outer "
    "merge is exchange-free — the INDEX is never re-shuffled; "
    "read amplification is carried entirely by accumulated segment "
    "mass, measured vs K in SCALE_r13_lsm.json "
    "(tools/scale_compaction.py --lifecycle), flat again after the "
    "fold.  The report carries the multi-segment read-path counts "
    "AND the folded-v2 counts side by side: SQL-equal by "
    "construction (the oracle projects one relation twice), so the "
    "hash-check proves the two PHYSICAL paths — K-way merge and "
    "rewritten v2 table — agree bucket-for-bucket.",
    tags=("llm", "dedup", "pipeline", "layout"),
)
def dedup_index_segment_lifecycle(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from functools import reduce

    from ..sources.catalog import reset_bucket_table, session_bucket_table

    K = _LSM_FOLD_K
    docs = load_table(spark, sf_dir, "documents")
    t_bands, t_counts, _t_keys, seg_tables, _key_tables, n_bkts = (
        _build_segmented_dedup_index(spark, docs, "lsm")
    )

    # probe-side READ between folds: K-way occupancy merge
    merged = _merge_occupancy_counts_multi(
        spark.table(t_counts),
        [spark.table(t) for t in seg_tables],
        n_bkts,
    )
    live = merged.groupBy("band_id").agg(
        F.sum("n_idx").cast("bigint").alias("n_post_index"),
        F.sum("n_seg").cast("bigint").alias("n_post_segments"),
        F.sum("n_total").cast("bigint").alias("n_post_total"),
        F.count("*").cast("bigint").alias("n_buckets"),
        F.sum((F.col("n_total") > _MH_MAX_BUCKET).cast("int"))
        .cast("bigint")
        .alias("n_hot_buckets"),
    )

    # FOLD: K hit the threshold — background rewrite of index v2
    # (linear in index+segments, amortized over the K ingests)
    t_b2 = session_bucket_table(spark, "lsm_idx_v2_bands")
    t_c2 = session_bucket_table(spark, "lsm_idx_v2_bcounts")
    reset_bucket_table(spark, t_b2)
    reset_bucket_table(spark, t_c2)
    v2 = reduce(
        lambda a, b: a.unionByName(b),
        [spark.table(t_bands)] + [spark.table(t) for t in seg_tables],
    )
    (
        v2.write.bucketBy(n_bkts, "band_id", "band_val")
        .sortBy("band_id", "band_val")
        .saveAsTable(t_b2)
    )
    (
        spark.table(t_b2)
        .groupBy("band_id", "band_val")
        .agg(F.count("*").cast("bigint").alias("n_occ"))
        .write.bucketBy(n_bkts, "band_id", "band_val")
        .sortBy("band_id", "band_val")
        .saveAsTable(t_c2)
    )
    folded = spark.table(t_c2).groupBy("band_id").agg(
        F.sum("n_occ").cast("bigint").alias("n_post_total_folded"),
        F.count("*").cast("bigint").alias("n_buckets_folded"),
        F.sum((F.col("n_occ") > _MH_MAX_BUCKET).cast("int"))
        .cast("bigint")
        .alias("n_hot_buckets_folded"),
    )
    return (
        live.join(folded, "band_id")
        .select(
            "band_id",
            F.lit(K).cast("bigint").alias("n_segments"),
            "n_post_index",
            "n_post_segments",
            "n_post_total",
            "n_buckets",
            "n_hot_buckets",
            "n_post_total_folded",
            "n_buckets_folded",
            "n_hot_buckets_folded",
        )
        .orderBy("band_id")
    )


def _mseg_probe_oracle() -> str:
    return f"""
    WITH thr AS (
        SELECT CAST(floor(0.6 * (max(doc_id) + 1)) AS BIGINT) AS t1,
               CAST(floor(0.8 * (max(doc_id) + 1)) AS BIGINT) AS t2
        FROM documents
    ),
    {_band_core_sql()},
    tail AS (
        SELECT d.doc_id, d.text,
               least(1, ((d.doc_id - thr.t1) * 2)
                            // (thr.t2 - thr.t1)) AS seg
        FROM documents d JOIN thr
          ON d.doc_id >= thr.t1 AND d.doc_id < thr.t2
    ),
    kept AS (
        SELECT b.doc_id, b.seg
        FROM tail b
        WHERE NOT EXISTS (
            SELECT 1 FROM documents i, thr t
            WHERE i.doc_id < t.t1 AND i.text = b.text
        )
        AND NOT EXISTS (
            SELECT 1 FROM tail e WHERE e.seg < b.seg AND e.text = b.text
        )
    ),
    side AS (
        SELECT b.band_id, b.band_val, b.doc_id
        FROM bands b JOIN thr ON b.doc_id < thr.t1
        UNION ALL
        SELECT b.band_id, b.band_val, b.doc_id
        FROM bands b JOIN kept k ON k.doc_id = b.doc_id
    ),
    bat AS (
        SELECT b.band_id, b.band_val, b.doc_id
        FROM bands b JOIN thr ON b.doc_id >= thr.t2
    ),
    ok2 AS (
        SELECT band_id, band_val FROM (
            SELECT band_id, band_val FROM side
            UNION ALL
            SELECT band_id, band_val FROM bat
        )
        GROUP BY 1, 2 HAVING count(*) <= {_MH_MAX_BUCKET}
    ),
    cand AS (
        SELECT s.doc_id AS id_a, b.doc_id AS id_b
        FROM side s
        JOIN bat b
          ON s.band_id = b.band_id AND s.band_val = b.band_val
        JOIN ok2 o
          ON o.band_id = s.band_id AND o.band_val = s.band_val
        GROUP BY 1, 2
    ),
    tok AS (
        SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS w
        FROM documents
    ),
    sizes AS (SELECT doc_id, count(*) AS sz FROM tok GROUP BY doc_id),
    inter AS (
        SELECT c.id_a, c.id_b, count(*) AS n_common
        FROM cand c
        JOIN tok ta ON ta.doc_id = c.id_a
        JOIN tok tb ON tb.doc_id = c.id_b AND ta.w = tb.w
        GROUP BY 1, 2
    ),
    exact AS (
        SELECT DISTINCT b.doc_id
        FROM documents b JOIN thr ON b.doc_id >= thr.t2
        WHERE EXISTS (
            SELECT 1 FROM documents i, thr t
            WHERE i.doc_id < t.t2 AND i.text = b.text
        )
    ),
    near AS (
        SELECT DISTINCT id_b AS doc_id
        FROM inter
        JOIN sizes sa ON sa.doc_id = id_a
        JOIN sizes sb ON sb.doc_id = id_b
        WHERE CAST(n_common AS DOUBLE) / (sa.sz + sb.sz - n_common) >= 0.8
          AND id_b NOT IN (SELECT doc_id FROM exact)
    )
    SELECT d.lang,
           CAST(count(*) AS BIGINT) AS n_new,
           CAST(sum(CASE WHEN e.doc_id IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_exact_dup,
           CAST(sum(CASE WHEN nr.doc_id IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_near_dup,
           CAST(sum(CASE WHEN e.doc_id IS NULL AND nr.doc_id IS NULL
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
    FROM documents d
    JOIN thr ON d.doc_id >= thr.t2
    LEFT JOIN exact e ON e.doc_id = d.doc_id
    LEFT JOIN near nr ON nr.doc_id = d.doc_id
    GROUP BY d.lang
    ORDER BY d.lang
    """


@register(
    "incremental_dedup_multi_segment_probe",
    oracle=_mseg_probe_oracle(),
    doc="The per-ingest PROBE against a segmented index — the "
    "operational consumer dedup_index_segment_lifecycle's read path "
    "exists for: corpus = index v1 (first 60%) + 2 accumulated delta "
    "segments (60-80%, kept-doc postings + key tables, built exactly "
    "as the lifecycle builds them), probe batch = the last 20%.  "
    "Tier 1 semi-joins batch hashes against EACH bucketed key table "
    "(v1 + one per segment — batch-side shuffles only, K+1 of them: "
    "tier-1's read amplification); tier 2's hot-bucket guard consumes "
    "the lifecycle's K-way occupancy merge "
    "(_merge_occupancy_counts_multi — per-segment counts exchange-"
    "free, one segment-mass repartition, index never re-shuffled) "
    "plus batch-side counts, so the guard sees exactly the occupancy "
    "an indexed probe can see: v1 + KEPT segment postings + batch — "
    "dropped segment docs contribute nothing, which is where this "
    "report deliberately differs from the monolithic-index probes' "
    "all-docs guard; candidates union the batch postings equi-joined "
    "against v1 AND each segment's bucketed postings (each index "
    "side exchange-free).  Tier 3 is candidate-proportional on BOTH "
    "axes (round 14, closing the r13 nit): shuffle via the semi-join "
    "before tokenize, and IO via the DPP-partitioned text layout — "
    "the index+segment text is laid out partitionBy(pbkt = doc_id % "
    "64) once per corpus version (in production v1 text at index "
    "build, each segment's at its ingest — same layout family), and "
    "the index-side candidate fetch joins on (pbkt, doc_id) so "
    "dynamic partition pruning reads only partitions that contain "
    "candidates (plan-gated alongside "
    "incremental_dedup_partitioned_text).  Report: the per-lang "
    "ingest summary, hash-checked against a DuckDB replay of the "
    "whole segmented lifecycle + 3-tier probe.",
    tags=("llm", "dedup", "pipeline", "layout"),
)
def incremental_dedup_multi_segment_probe(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from ..sources.catalog import reset_bucket_table, session_bucket_table
    from .queries_sources import _io_dir

    K = 2
    docs = load_table(spark, sf_dir, "documents")
    thr = docs.agg(
        F.floor(0.6 * (F.max("doc_id") + 1)).cast("bigint").alias("_t1"),
        F.floor(0.8 * (F.max("doc_id") + 1)).cast("bigint").alias("_t2"),
    ).transform(ckpt)
    witht = docs.crossJoin(F.broadcast(thr))

    # index v1 over the first 60%
    t_bands, t_counts, t_keys, n_bkts = _build_persisted_dedup_index(
        spark,
        witht.filter(F.col("doc_id") < F.col("_t1")).select(
            "doc_id", "text"
        ),
        "mseg_idx",
    )

    # two accumulated ingests -> delta segments (lifecycle shapes)
    seg_expr = F.least(
        F.lit(K - 1), F.expr(f"div((doc_id - _t1) * {K}, _t2 - _t1)")
    ).cast("bigint")
    tail = witht.filter(
        (F.col("doc_id") >= F.col("_t1")) & (F.col("doc_id") < F.col("_t2"))
    ).select("doc_id", "text", seg_expr.alias("seg"))
    seg_tables: list[str] = []
    key_tables: list[str] = []
    for j in range(K):
        t_seg = session_bucket_table(spark, f"mseg_seg{j}_bands")
        t_sk = session_bucket_table(spark, f"mseg_seg{j}_keys")
        reset_bucket_table(spark, t_seg)
        reset_bucket_table(spark, t_sk)
        kept = (
            tail.filter(F.col("seg") == j)
            .select("doc_id", "text", F.sha2("text", 256).alias("h"))
            .join(spark.table(t_keys), "h", "anti")
        )
        for tk in key_tables:
            kept = kept.join(spark.table(tk), "h", "anti")
        (
            band_rows(portable_signatures(kept.select("doc_id", "text")))
            .write.bucketBy(n_bkts, "band_id", "band_val")
            .sortBy("band_id", "band_val")
            .saveAsTable(t_seg)
        )
        (
            kept.select("h")
            .distinct()
            .write.bucketBy(n_bkts, "h")
            .sortBy("h")
            .saveAsTable(t_sk)
        )
        seg_tables.append(t_seg)
        key_tables.append(t_sk)

    # layout build, once per corpus version: the index+segment text
    # partitioned by a derived bucket so tier-3 candidate fetches can
    # prune at the scan (in production v1 text is written at index
    # build and each segment's at its ingest — same layout family)
    n_pbkt = 64
    path = _io_dir(sf_dir, "mseg_text_pbkt")
    (
        witht.filter(F.col("doc_id") < F.col("_t2"))
        .select("doc_id", "text")
        .withColumn("pbkt", F.pmod(F.col("doc_id"), F.lit(n_pbkt)))
        .write.mode("overwrite")
        .partitionBy("pbkt")
        .parquet(path)
    )
    itext = spark.read.parquet(path)

    # ---- PROBE ----
    batch = witht.filter(F.col("doc_id") >= F.col("_t2"))
    bh = batch.select("doc_id", F.sha2("text", 256).alias("h"))
    exact = None
    for tk in [t_keys] + key_tables:
        e = bh.join(spark.table(tk), "h", "semi").select("doc_id")
        exact = e if exact is None else exact.unionByName(e)
    exact = exact.distinct().transform(ckpt)

    b_bands = band_rows(portable_signatures(batch.select("doc_id", "text")))
    b_counts = b_bands.groupBy("band_id", "band_val").agg(
        F.count("*").alias("__bn")
    )
    merged = _merge_occupancy_counts_multi(
        spark.table(t_counts),
        [spark.table(t) for t in seg_tables],
        n_bkts,
    )
    ok = (
        b_counts.join(merged, ["band_id", "band_val"], "left")
        .filter(
            F.coalesce(F.col("n_total"), F.lit(0)) + F.col("__bn")
            <= _MH_MAX_BUCKET
        )
        .select("band_id", "band_val")
    )
    probe = b_bands.join(ok, ["band_id", "band_val"], "semi").transform(
        ckpt
    )  # read by K+1 candidate joins
    cand = None
    for ts in [t_bands] + seg_tables:
        c = (
            spark.table(ts)
            .select("band_id", "band_val", F.col("doc_id").alias("id_a"))
            .join(
                probe.select(
                    "band_id", "band_val", F.col("doc_id").alias("id_b")
                ),
                ["band_id", "band_val"],
            )
            .select("id_a", "id_b")
        )
        cand = c if cand is None else cand.unionByName(c)
    cand = cand.distinct().transform(ckpt)

    # tier 3: candidate-proportional on BOTH axes — shuffle (semi-join
    # before tokenize) AND IO (DPP-pruned partitioned text fetch for
    # the index+segment side; batch text from the raw relation)
    cand_a = (
        cand.select(F.col("id_a").alias("doc_id"))
        .distinct()
        # the always-true literal comparison is a DPP enabler, not a
        # filter (see incremental_dedup_partitioned_text): the lineage
        # cut on `cand` hides the band filters that would otherwise
        # make the filtering side "likely selective"
        .filter(F.col("doc_id") >= 0)
        .withColumn("pbkt", F.pmod(F.col("doc_id"), F.lit(n_pbkt)))
    )
    tok_a = word_set(
        itext.join(F.broadcast(cand_a), ["pbkt", "doc_id"], "semi")
    ).transform(ckpt)  # candidate-bounded words; sizes + inter read it
    cand_b = cand.select(F.col("id_b").alias("doc_id")).distinct()
    tok_b = word_set(
        batch.select("doc_id", "text").join(cand_b, "doc_id", "semi")
    ).transform(ckpt)
    near = (
        set_overlap(cand, tok_a, tok_b)
        .filter(jaccard() >= 0.8)
        .select(F.col("id_b").alias("doc_id"))
        .distinct()
        .join(exact, "doc_id", "anti")
    )
    return _batch_dup_report(batch, exact, near)


@register(
    "langid_trigram_confusion",
    oracle="""
    WITH lt AS (
        SELECT doc_id, lang, lower(text) AS lt FROM documents
        WHERE len(text) >= 3
    ),
    tri AS (
        SELECT doc_id, lang, substr(lt, CAST(i AS INT), 3) AS tri
        FROM lt, unnest(range(1, len(lt) - 1)) AS t(i)
    ),
    prof AS (
        SELECT lang, tri, CAST(count(*) AS BIGINT) AS c
        FROM tri WHERE doc_id % 5 <> 0 GROUP BY 1, 2
    ),
    vs AS (SELECT count(DISTINCT tri) AS v FROM prof),
    ltot AS (SELECT lang, sum(c) AS tot FROM prof GROUP BY 1),
    lfloor AS (
        SELECT lang AS cand_lang,
               CAST(round(ln(1.0 / (tot + v)) * 1000000, 0) AS BIGINT)
                   AS floor_mn
        FROM ltot CROSS JOIN vs
    ),
    cell AS (
        SELECT p.lang AS cand_lang, p.tri,
               CAST(round(ln((p.c + 1.0) / (l.tot + l.v)) * 1000000, 0)
                    AS BIGINT) AS mn
        FROM prof p
        JOIN (SELECT lang, tot, v FROM ltot CROSS JOIN vs) l
          ON l.lang = p.lang
    ),
    dt AS (
        SELECT doc_id, lang AS true_lang, tri,
               CAST(count(*) AS BIGINT) AS k
        FROM tri WHERE doc_id % 5 = 0 GROUP BY 1, 2, 3
    ),
    scored AS (
        SELECT d.doc_id, d.true_lang, f.cand_lang,
               sum(d.k * coalesce(c.mn, f.floor_mn)) AS score
        FROM dt d
        CROSS JOIN lfloor f
        LEFT JOIN cell c
          ON c.tri = d.tri AND c.cand_lang = f.cand_lang
        GROUP BY 1, 2, 3
    ),
    best AS (SELECT doc_id, max(score) AS smax FROM scored GROUP BY 1),
    pred AS (
        SELECT s.doc_id, s.true_lang, min(s.cand_lang) AS pred_lang
        FROM scored s
        JOIN best b ON b.doc_id = s.doc_id AND s.score = b.smax
        GROUP BY 1, 2
    )
    SELECT true_lang, pred_lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(doc_id) AS BIGINT) AS id_checksum
    FROM pred GROUP BY 1, 2 ORDER BY 1, 2
    """,
    doc="TRAINED language identification with a confusion-matrix "
    "audit — upgrades lang_stats_heuristic's fixed rule to the "
    "classical character-trigram Naive-Bayes classifier (Cavnar & "
    "Trenkle 1994, the fastText-style baseline): per-language trigram "
    "profiles are trained on the deterministic doc_id % 5 != 0 split, "
    "held-out docs are scored by add-one-smoothed log-likelihood, and "
    "the output is the (true_lang, pred_lang) confusion matrix the "
    "owner of a lang-routed pipeline actually reviews.  Determinism: "
    "each (lang, trigram) cell's log-probability is quantized ONCE to "
    "integer micro-nats (round(ln(p)*1e6) — a per-cell pure function "
    "of exact BIGINT counts, the perplexity discipline), so per-doc "
    "scores are BIGINT sums — aggregation-order-free on both engines "
    "— and the argmax is max-score-then-min-lang, a pure integer "
    "tie rule.  Scale shape: the profile is a (lang × trigram)-keyed "
    "relation (vocabulary-sized, Heaps' law) and joins TRIGRAM-keyed "
    "— never broadcast; only the per-language floor/total table is "
    "broadcast, justified because the language DOMAIN is a bounded "
    "enum (ISO codes — the CLAUDE.md provably-bounded case, unlike "
    "web domains); held-out docs pre-aggregate trigram multiplicity "
    "per doc before the profile join, so the scoring join carries "
    "distinct-trigram rows, not every character position.",
    tags=("llm", "text", "quality"),
)
def langid_trigram_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = (
        load_table(spark, sf_dir, "documents")
        .filter(F.length("text") >= 3)
        .select("doc_id", "lang", F.lower("text").alias("lt"))
    )
    tri = docs.select(
        "doc_id",
        "lang",
        F.explode(F.sequence(F.lit(1), F.length("lt") - 2)).alias("i"),
        "lt",
    ).select("doc_id", "lang", F.expr("substring(lt, i, 3)").alias("tri"))
    is_test = F.col("doc_id") % 5 == 0

    # profile: (lang, trigram) cell counts — vocabulary-sized; read by
    # the cell quantization AND the per-lang totals (2 consumers)
    prof = (
        tri.filter(~is_test)
        .groupBy("lang", "tri")
        .agg(F.count("*").cast("bigint").alias("c"))
        .transform(ckpt)
    )
    vsize = prof.select("tri").distinct().agg(
        F.count("*").cast("bigint").alias("v")
    )
    # per-language floor/total: bounded enum (ISO language codes), the
    # provably bounded broadcast case — and read by 2 consumers
    micronats = lambda p: F.round(F.log(p) * 1e6, 0).cast("bigint")  # noqa: E731
    lfloor = (
        prof.groupBy("lang")
        .agg(F.sum("c").alias("tot"))
        .crossJoin(F.broadcast(vsize))
        .select(
            F.col("lang").alias("cand_lang"),
            "tot",
            "v",
            micronats(1.0 / (F.col("tot") + F.col("v"))).alias("floor_mn"),
        )
        .transform(ckpt)
    )
    cell = prof.join(
        F.broadcast(
            lfloor.select(F.col("cand_lang").alias("lang"), "tot", "v")
        ),
        "lang",
    ).select(
        F.col("lang").alias("cand_lang"),
        "tri",
        micronats((F.col("c") + 1.0) / (F.col("tot") + F.col("v"))).alias(
            "mn"
        ),
    )

    # held-out docs: distinct-trigram multiplicities, then one
    # trigram-keyed scoring join per candidate language
    dt = (
        tri.filter(is_test)
        .groupBy("doc_id", F.col("lang").alias("true_lang"), "tri")
        .agg(F.count("*").cast("bigint").alias("k"))
    )
    scored = (
        dt.crossJoin(F.broadcast(lfloor.select("cand_lang", "floor_mn")))
        .join(cell, ["tri", "cand_lang"], "left")
        .groupBy("doc_id", "true_lang", "cand_lang")
        .agg(
            F.sum(
                F.col("k") * F.coalesce(F.col("mn"), F.col("floor_mn"))
            ).alias("score")
        )
        .transform(ckpt)  # read by the max aggregate AND the tie join
    )
    best = scored.groupBy("doc_id").agg(F.max("score").alias("smax"))
    pred = (
        scored.join(best, "doc_id")
        .filter(F.col("score") == F.col("smax"))
        .groupBy("doc_id", "true_lang")
        .agg(F.min("cand_lang").alias("pred_lang"))
    )
    return (
        pred.groupBy("true_lang", "pred_lang")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("doc_id").cast("bigint").alias("id_checksum"),
        )
        .orderBy("true_lang", "pred_lang")
    )


def candidate_jaccard_scores(docs: DataFrame) -> DataFrame:
    """``(id_a, id_b, n_common, sz_a, sz_b)`` for every LSH
    band-collision candidate pair over ``docs`` — the shared verify
    core behind ``cross_source_contamination_matrix`` and
    ``contrastive_pair_mining``.  Candidate-proportional on the
    dedup-tier discipline: documents are semi-joined against the
    candidate-endpoint id set BEFORE tokenizing, so the exact
    word-set intersection touches candidate text only (never the
    corpus).  Zero-overlap candidates (pure hash collisions) survive
    with ``n_common = 0`` via the left join — label policy is the
    caller's."""
    # endpoints projection + inter + scored read it
    cand = band_candidates(portable_signatures(docs)).transform(ckpt)
    cand_ids = cand.select(
        F.explode(F.array("id_a", "id_b")).alias("doc_id")
    ).distinct()
    tok = word_set(
        docs.select("doc_id", "text").join(cand_ids, "doc_id", "semi")
    ).transform(ckpt)  # sizes + both intersection sides read it
    sizes = tok.groupBy("doc_id").agg(F.count("*").alias("sz"))
    inter = (
        cand.join(tok.alias("ta"), F.col("ta.doc_id") == F.col("id_a"))
        .join(
            tok.alias("tb"),
            (F.col("tb.doc_id") == F.col("id_b"))
            & (F.col("ta.w") == F.col("tb.w")),
        )
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("n_common"))
    )
    return (
        cand.join(inter, ["id_a", "id_b"], "left")
        .join(sizes.alias("sa"), F.col("sa.doc_id") == F.col("id_a"))
        .join(sizes.alias("sb"), F.col("sb.doc_id") == F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.coalesce("n_common", F.lit(0)).cast("bigint").alias(
                "n_common"
            ),
            F.col("sa.sz").cast("bigint").alias("sz_a"),
            F.col("sb.sz").cast("bigint").alias("sz_b"),
        )
    )


def _cand_jaccard_sql() -> str:
    """CTE bodies ``cand``/``cids``/``ctok``/``csizes``/``cinter``/
    ``cscored`` — the DuckDB twin of :func:`candidate_jaccard_scores`,
    appended after :func:`_band_core_sql`."""
    return """
    cand AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b
        FROM pruned a JOIN pruned b
          ON a.band_id = b.band_id AND a.band_val = b.band_val
         AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    cids AS (SELECT DISTINCT unnest([id_a, id_b]) AS doc_id FROM cand),
    ctok AS (
        SELECT d.doc_id,
               unnest(list_distinct(string_split(d.text, ' '))) AS w
        FROM documents d JOIN cids USING (doc_id)
    ),
    csizes AS (SELECT doc_id, count(*) AS sz FROM ctok GROUP BY doc_id),
    cinter AS (
        SELECT c.id_a, c.id_b, count(*) AS n_common
        FROM cand c
        JOIN ctok ta ON ta.doc_id = c.id_a
        JOIN ctok tb ON tb.doc_id = c.id_b AND ta.w = tb.w
        GROUP BY 1, 2
    ),
    cscored AS (
        SELECT c.id_a, c.id_b,
               CAST(coalesce(i.n_common, 0) AS BIGINT) AS n_common,
               CAST(sa.sz AS BIGINT) AS sz_a,
               CAST(sb.sz AS BIGINT) AS sz_b
        FROM cand c
        LEFT JOIN cinter i ON i.id_a = c.id_a AND i.id_b = c.id_b
        JOIN csizes sa ON sa.doc_id = c.id_a
        JOIN csizes sb ON sb.doc_id = c.id_b
    )"""


@register(
    "cross_source_contamination_matrix",
    oracle=f"""
    WITH {_band_core_sql()},{_cand_jaccard_sql()},
    verified AS (
        SELECT id_a, id_b FROM cscored
        WHERE CAST(n_common AS DOUBLE)
              / (sz_a + sz_b - n_common) >= 0.8
    ),
    srcd AS (
        SELECT v.id_a, v.id_b,
               least(da.source, db.source) AS src_lo,
               greatest(da.source, db.source) AS src_hi
        FROM verified v
        JOIN documents da ON da.doc_id = v.id_a
        JOIN documents db ON db.doc_id = v.id_b
    )
    SELECT src_lo, src_hi,
           CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(sum((id_a * 31 + id_b) % 1000000007) AS BIGINT)
               AS pair_checksum
    FROM srcd GROUP BY 1, 2 ORDER BY 1, 2
    """,
    doc="Cross-SOURCE contamination matrix — 'which domains copy from "
    "which': every VERIFIED near-dup pair (band candidates, exact "
    "word-set Jaccard >= 0.8 on candidate docs only) rolled up to the "
    "unordered (source, source) pair of its endpoints.  Off-diagonal "
    "cells are syndication/mirroring between domains (the signal "
    "behind per-source dedup budgets and crawl blocklists); diagonal "
    "cells are in-domain duplication.  Scale shape: candidates come "
    "from band-bucket collisions (never corpus²), verification "
    "tokenizes only candidate-endpoint docs (semi-join before "
    "tokenize — the round-12 tier-3 discipline), and the source "
    "lookup joins the id→source projection of the column-pruned "
    "scan; the output matrix is |sources|²-bounded but in practice "
    "sparse (only colliding source pairs appear).  Pair checksums "
    "are modded per row before summing (ANSI 2^63 rule).",
    tags=("llm", "dedup", "quality"),
)
def cross_source_contamination_matrix(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    scored = candidate_jaccard_scores(docs)
    jac = jaccard()
    meta = docs.select("doc_id", "source")
    srcd = (
        scored.filter(jac >= 0.8)
        .join(
            meta.select(
                F.col("doc_id").alias("id_a"),
                F.col("source").alias("src_a"),
            ),
            "id_a",
        )
        .join(
            meta.select(
                F.col("doc_id").alias("id_b"),
                F.col("source").alias("src_b"),
            ),
            "id_b",
        )
        .select(
            "id_a",
            "id_b",
            F.least("src_a", "src_b").alias("src_lo"),
            F.greatest("src_a", "src_b").alias("src_hi"),
        )
    )
    return (
        srcd.groupBy("src_lo", "src_hi")
        .agg(
            F.count("*").cast("bigint").alias("n_pairs"),
            F.sum(
                (F.col("id_a") * 31 + F.col("id_b")) % F.lit(1000000007)
            )
            .cast("bigint")
            .alias("pair_checksum"),
        )
        .orderBy("src_lo", "src_hi")
    )


@register(
    "contrastive_pair_mining",
    oracle=f"""
    WITH {_band_core_sql()},{_cand_jaccard_sql()},
    labeled AS (
        SELECT s.*,
               CASE WHEN CAST(n_common AS DOUBLE)
                         / (sz_a + sz_b - n_common) >= 0.8
                    THEN 'positive'
                    WHEN CAST(n_common AS DOUBLE)
                         / (sz_a + sz_b - n_common) < 0.5
                    THEN 'hard_negative' END AS label
        FROM cscored s
    ),
    withlang AS (
        SELECT l.label, d.lang AS anchor_lang,
               l.id_a, l.id_b, l.n_common,
               l.sz_a + l.sz_b - l.n_common AS n_union
        FROM labeled l JOIN documents d ON d.doc_id = l.id_a
        WHERE l.label IS NOT NULL
    )
    SELECT label, anchor_lang,
           CAST(count(*) AS BIGINT) AS n_pairs,
           round(CAST(sum(n_common) AS DOUBLE) / sum(n_union), 6)
               AS pooled_jaccard,
           CAST(sum((id_a * 31 + id_b) % 1000000007) AS BIGINT)
               AS pair_checksum
    FROM withlang GROUP BY 1, 2 ORDER BY 1, 2
    """,
    doc="Contrastive-pair MINING for embedding-model training (the "
    "E5/GTE recipe: weakly-supervised positives + hard negatives): "
    "every band-collision candidate is exact-verified and labeled — "
    "Jaccard >= 0.8 becomes a POSITIVE pair, < 0.5 a HARD NEGATIVE "
    "(textually collided yet dissimilar — exactly the near-miss "
    "a contrastive loss needs; the ambiguous 0.5-0.8 band is "
    "discarded), rolled up per (label, anchor language) with pair "
    "counts, POOLED Jaccard (a quotient of two integer sums — "
    "per-pair float ratios averaged would be the order-dependent "
    "moment flake), and a per-row-modded pair checksum.  Scale "
    "shape: shares candidate_jaccard_scores with the contamination "
    "matrix — candidate-bounded verify, semi-join before tokenize; "
    "the label split is a map-side CASE; the rollup is "
    "(2 × |langs|)-row.  Mining emits O(candidate-mass) pairs at any "
    "corpus size — the LSH bound IS the mining budget.",
    tags=("llm", "dedup", "similarity", "sampling"),
)
def contrastive_pair_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    scored = candidate_jaccard_scores(docs)
    jac = jaccard()
    labeled = scored.select(
        "id_a",
        "id_b",
        "n_common",
        (F.col("sz_a") + F.col("sz_b") - F.col("n_common")).alias(
            "n_union"
        ),
        F.when(jac >= 0.8, F.lit("positive"))
        .when(jac < 0.5, F.lit("hard_negative"))
        .alias("label"),
    ).filter(F.col("label").isNotNull())
    withlang = labeled.join(
        docs.select(
            F.col("doc_id").alias("id_a"), F.col("lang").alias("anchor_lang")
        ),
        "id_a",
    )
    return (
        withlang.groupBy("label", "anchor_lang")
        .agg(
            F.count("*").cast("bigint").alias("n_pairs"),
            F.round(
                F.sum("n_common").cast("double") / F.sum("n_union"), 6
            ).alias("pooled_jaccard"),
            F.sum(
                (F.col("id_a") * 31 + F.col("id_b")) % F.lit(1000000007)
            )
            .cast("bigint")
            .alias("pair_checksum"),
        )
        .orderBy("label", "anchor_lang")
    )


@register(
    "dsir_effective_sample_size",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, lang,
               CAST('0x' || substr(md5(unnest(string_split(text, ' '))),
                                   1, 12)
                    AS BIGINT) % {_DSIR_BUCKETS} AS b
        FROM documents
    ),
    bc AS (SELECT doc_id, lang, b, count(*) AS cnt FROM toks GROUP BY 1, 2, 3),
    tgt AS (
        SELECT b, CAST(count(*) AS DOUBLE) AS c
        FROM toks WHERE lang = 'en' GROUP BY 1
    ),
    tgt_tot AS (SELECT sum(c) AS tot FROM tgt),
    rawc AS (SELECT b, CAST(count(*) AS DOUBLE) AS c FROM toks GROUP BY 1),
    raw_tot AS (SELECT sum(c) AS tot FROM rawc),
    lmicro AS (
        SELECT r.b,
               CAST(round(ln(((coalesce(g.c, 0) + 1.0)
                              / (gt.tot + {_DSIR_BUCKETS}))
                             / ((r.c + 1.0) / (rt.tot + {_DSIR_BUCKETS})))
                          * 1000000, 0) AS BIGINT) AS lm
        FROM rawc r LEFT JOIN tgt g USING (b)
        CROSS JOIN tgt_tot gt CROSS JOIN raw_tot rt
    ),
    li AS (
        SELECT bc.doc_id, bc.lang,
               CAST(sum(bc.cnt * lm) AS BIGINT) AS lw
        FROM bc JOIN lmicro USING (b) GROUP BY 1, 2
    ),
    lmax AS (SELECT lang, max(lw) AS m FROM li GROUP BY 1),
    wq AS (
        SELECT li.lang,
               CAST(round(exp(CAST(li.lw - x.m AS DOUBLE) / 1000000.0)
                          * 1000, 0) AS BIGINT) AS w
        FROM li JOIN lmax x ON x.lang = li.lang
    )
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           round(CAST(sum(w) AS DOUBLE) * CAST(sum(w) AS DOUBLE)
                 / sum(w * w), 4) AS ess_docs,
           round(CAST(sum(w) AS DOUBLE) * CAST(sum(w) AS DOUBLE)
                 / sum(w * w) / count(*), 6) AS ess_frac,
           CAST(sum(w) AS BIGINT) AS weight_mass_milli
    FROM wq GROUP BY lang ORDER BY lang
    """,
    doc="Effective sample size of the DSIR importance weights — the "
    "degenerate-reweighting audit (Kong 1992 ESS = (Σw)²/Σw²) a "
    "pipeline owner checks BEFORE resampling with "
    "dsir_importance_weights: ess_frac near 1 means the target "
    "distribution barely reweights; near 1/n means a handful of docs "
    "dominate and the resampled corpus would collapse.  Determinism "
    "discipline (the chow/perplexity family, applied END-TO-END): "
    "per-bucket log-ratios are quantized ONCE to integer micro-nats, "
    "per-doc log-weights are exact BIGINT sums, weights are "
    "max-normalized per language (exp of a pure integer difference — "
    "no overflow at any corpus size) and quantized to integer "
    "milli-units, and ESS is a pure function of the exact BIGINT "
    "Σw / Σw² — every aggregation on both engines sums integers.  "
    "Scale shape: the 1024-bucket distribution tables broadcast by "
    "construction; per-lang max is a bounded-enum aggregate; "
    "Σ(w²) stays under 2^63 past 10^12 docs per language (w ≤ 10³ "
    "→ w² ≤ 10⁶ per row).",
    tags=("llm", "sampling", "mixture", "quality"),
)
def dsir_effective_sample_size(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    bucket = (
        F.conv(F.substring(F.md5(F.col("tok")), 1, 12), 16, 10).cast("bigint")
        % _DSIR_BUCKETS
    )
    # Collapse to per-(doc, bucket) counts BEFORE the cut (r16, same
    # move as dsir_importance_weights/doc-quality gate): the ckpt is
    # bounded by |docs|·1024 instead of token count, and both
    # distributions come from ONE bucket aggregate over it — gc is a
    # conditional sum (NULL exactly where the old filtered aggregate
    # had no row, same coalesce semantics), integer sums throughout.
    bc = (
        docs.select(
            "doc_id", "lang", F.explode(F.split("text", " ")).alias("tok")
        )
        .select("doc_id", "lang", bucket.alias("b"))
        .groupBy("doc_id", "lang", "b")
        .agg(F.count("*").alias("cnt"))
        .transform(ckpt)  # read by gb and the scoring join
    )
    gb = bc.groupBy("b").agg(
        F.sum("cnt").cast("double").alias("rc"),
        F.sum(F.when(F.col("lang") == "en", F.col("cnt")))
        .cast("double")
        .alias("gc"),
    )
    tots = gb.agg(F.sum("rc").alias("rtot"), F.sum("gc").alias("gtot"))
    nb = F.lit(float(_DSIR_BUCKETS))
    lm = (
        F.round(
            F.log(
                ((F.coalesce(F.col("gc"), F.lit(0.0)) + 1.0)
                 / (F.col("gtot") + nb))
                / ((F.col("rc") + 1.0) / (F.col("rtot") + nb))
            )
            * 1000000,
            0,
        )
        .cast("bigint")
        .alias("lm")
    )
    # <= _DSIR_BUCKETS rows by construction — the provably bounded
    # broadcast case (the hashed-feature design exists to pin this)
    lmicro = gb.crossJoin(F.broadcast(tots)).select("b", lm)
    li = (
        bc.join(F.broadcast(lmicro), "b")
        .groupBy("doc_id", "lang")
        .agg(F.sum(F.col("cnt") * F.col("lm")).cast("bigint").alias("lw"))
        .transform(ckpt)  # read by the per-lang max AND the weight pass
    )
    # per-language max log-weight: bounded enum (ISO langs) — broadcast
    lmax = li.groupBy("lang").agg(F.max("lw").alias("m"))
    wq = li.join(F.broadcast(lmax), "lang").select(
        "lang",
        F.round(
            F.exp((F.col("lw") - F.col("m")).cast("double") / 1000000.0)
            * 1000,
            0,
        )
        .cast("bigint")
        .alias("w"),
    )
    sw = F.sum("w").cast("double")
    return (
        wq.groupBy("lang")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.round(sw * sw / F.sum(F.col("w") * F.col("w")), 4).alias(
                "ess_docs"
            ),
            F.round(
                sw * sw / F.sum(F.col("w") * F.col("w")) / F.count("*"), 6
            ).alias("ess_frac"),
            F.sum("w").cast("bigint").alias("weight_mass_milli"),
        )
        .orderBy("lang")
    )


@register(
    "quality_gate_disagreement_audit",
    oracle=_irls_oracle_ctes(_DQ_FEAT_SQL, _IRLS_ROUNDS)
    + f"""
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN b0 + b1*f1 + b2*f2 >= 0 AND y = 1
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_both_keep,
           CAST(sum(CASE WHEN b0 + b1*f1 + b2*f2 >= 0 AND y = 0
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_gate_only,
           CAST(sum(CASE WHEN b0 + b1*f1 + b2*f2 < 0 AND y = 1
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_cascade_only,
           CAST(sum(CASE WHEN b0 + b1*f1 + b2*f2 < 0 AND y = 0
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_both_drop,
           round(sum(CASE WHEN (b0 + b1*f1 + b2*f2 >= 0) = (y = 1)
                          THEN 1 ELSE 0 END)
                 / CAST(count(*) AS DOUBLE), 6) AS agree_rate,
           CAST(sum(CASE WHEN (b0 + b1*f1 + b2*f2 >= 0) <> (y = 1)
                         THEN doc_id % 1000000007 END) AS BIGINT)
               AS disagree_id_checksum
    FROM feat CROSS JOIN beta{_IRLS_ROUNDS}
    GROUP BY lang ORDER BY lang""",
    doc="Gate-migration disagreement audit — the A/B table a pipeline "
    "owner reads before swapping the heuristic verdict cascade "
    "(quality_filter_verdicts) for the trained logistic gate "
    "(doc_quality_logistic_gate): the per-language confusion between "
    "the two keep decisions (both-keep / gate-only / cascade-only / "
    "both-drop), the agreement rate, and a checksum of the "
    "disagreeing doc ids (the review queue).  Shares "
    "_dq_gate_scored's relation — same features, same fit, same "
    "betas as the gate itself, so the audit can never drift from "
    "the decision it audits.  The gate-only cell is the interesting "
    "one operationally: docs the classifier would admit that the "
    "cascade rejects — since the cascade IS the training label, "
    "these are the docs the model generalizes differently on, the "
    "first place label noise shows up.  Scale shape: inherited from "
    "the gate (fixed 1024-bucket broadcast tables, 1-row beta, "
    "map-side scoring); the audit adds one per-lang rollup.",
    tags=("llm", "text", "quality", "ml"),
)
def quality_gate_disagreement_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    scored = _dq_gate_scored(spark, sf_dir)
    gate = (
        F.col("b0") + F.col("b1") * F.col("f1") + F.col("b2") * F.col("f2")
        >= 0
    )
    casc = F.col("y") == 1
    cnt = lambda c: F.sum(c.cast("int")).cast("bigint")  # noqa: E731
    return (
        scored.groupBy("lang")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            cnt(gate & casc).alias("n_both_keep"),
            cnt(gate & ~casc).alias("n_gate_only"),
            cnt(~gate & casc).alias("n_cascade_only"),
            cnt(~gate & ~casc).alias("n_both_drop"),
            F.round(
                F.sum((gate == casc).cast("int")).cast("double")
                / F.count("*"),
                6,
            ).alias("agree_rate"),
            # per-row mod-1e9+7 before the sum (the ANSI 2^63 rule):
            # a raw sum of 64-bit doc ids overflows past ~10^9
            # disagreeing docs per language (ADVICE r13)
            F.sum(F.when(gate != casc, F.col("doc_id") % F.lit(1000000007)))
            .cast("bigint")
            .alias("disagree_id_checksum"),
        )
        .orderBy("lang")
    )


@register(
    "hot_bucket_skew_report",
    oracle=f"""
    WITH {_band_core_sql()},
    cells AS (
        SELECT band_id, band_val, CAST(count(*) AS BIGINT) AS occ
        FROM bands GROUP BY 1, 2
    ),
    r AS (
        SELECT band_id, band_val, occ,
               row_number() OVER (PARTITION BY band_id
                                  ORDER BY occ, band_val) AS rn,
               count(*) OVER (PARTITION BY band_id) AS n
        FROM cells
    ),
    p50 AS (SELECT band_id, occ AS p50_occ FROM r WHERE rn = (n + 1) // 2),
    p99 AS (
        SELECT band_id, occ AS p99_occ FROM r
        WHERE rn = (99 * n + 99) // 100
    )
    SELECT c.band_id,
           CAST(count(*) AS BIGINT) AS n_buckets,
           CAST(sum(occ) AS BIGINT) AS n_postings,
           CAST(any_value(p50_occ) AS BIGINT) AS p50_occ,
           CAST(any_value(p99_occ) AS BIGINT) AS p99_occ,
           CAST(max(occ) AS BIGINT) AS max_occ,
           CAST(sum(CASE WHEN occ > {_MH_MAX_BUCKET} THEN 1 ELSE 0 END)
                AS BIGINT) AS n_guard_dropped,
           CAST(sum(CASE WHEN occ > {_MH_MAX_BUCKET} THEN occ ELSE 0 END)
                AS BIGINT) AS dropped_postings
    FROM cells c
    JOIN p50 USING (band_id) JOIN p99 USING (band_id)
    GROUP BY c.band_id ORDER BY c.band_id
    """,
    doc="LSH band-bucket SKEW observability — the report that "
    f"justifies (or re-tunes) the {_MH_MAX_BUCKET}-occupancy "
    "hot-bucket guard every dedup tier relies on: per band, the "
    "bucket-occupancy distribution (exact lower-median and p99 under "
    "a deterministic band_val tiebreak, max), plus exactly what the "
    "guard costs — how many buckets it drops and how much posting "
    "mass goes with them.  A p99 creeping toward the guard means "
    "near-dup mass is concentrating (crawl loops, template floods) "
    "and candidate joins are about to see quadratic pockets; "
    "dropped_postings quantifies the recall the guard trades for "
    "that protection.  Scale shape: occupancy cells are "
    "bucket-count-sized (vocabulary scale, never corpus scale); the "
    "exact percentile ranks run through the grouped bucket+offset "
    "rank device with partition_by=(band_id,) — per-(band, range-"
    "bucket) windows, never one task per band — and the p99 rank is "
    "computed in INTEGER arithmetic ((99n+99)//100) on both engines.",
    tags=("llm", "dedup", "stats"),
)
def hot_bucket_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.ranks import with_global_rank, with_range_bucket

    docs = load_table(spark, sf_dir, "documents")
    cells = (
        band_rows(portable_signatures(docs.select("doc_id", "text")))
        .groupBy("band_id", "band_val")
        .agg(F.count("*").cast("bigint").alias("occ"))
        .transform(ckpt)  # read by the rank device AND the rollup
    )
    r = with_global_rank(
        with_range_bucket(cells, "occ"),
        [F.asc("occ"), F.asc("band_val")],
        partition_by=("band_id",),
        total="n",
        pre_shuffle=True,
    )
    p50 = r.filter(F.col("rn") == F.floor((F.col("n") + 1) / 2)).select(
        "band_id", F.col("occ").alias("p50_occ")
    )
    p99 = r.filter(
        F.col("rn") == F.floor((99 * F.col("n") + 99) / 100)
    ).select("band_id", F.col("occ").alias("p99_occ"))
    hot = F.col("occ") > _MH_MAX_BUCKET
    return (
        cells.groupBy("band_id")
        .agg(
            F.count("*").cast("bigint").alias("n_buckets"),
            F.sum("occ").cast("bigint").alias("n_postings"),
            F.max("occ").cast("bigint").alias("max_occ"),
            F.sum(hot.cast("int")).cast("bigint").alias("n_guard_dropped"),
            F.sum(F.when(hot, F.col("occ")).otherwise(F.lit(0)))
            .cast("bigint")
            .alias("dropped_postings"),
        )
        .join(p50, "band_id")
        .join(p99, "band_id")
        .select(
            "band_id",
            "n_buckets",
            "n_postings",
            F.col("p50_occ").cast("bigint").alias("p50_occ"),
            F.col("p99_occ").cast("bigint").alias("p99_occ"),
            "max_occ",
            "n_guard_dropped",
            "dropped_postings",
        )
        .orderBy("band_id")
    )


# ---------------------------------------------------------------------------
# SQ8 kernel set.  SQ8 is uint8 scalar quantization against per-dimension
# [min, max] ranges, carried as the dimension-aligned arrays ``mns`` /
# ``mxs``.  Every IVF-SQ8 tier, audit and persisted / segmented probe
# computes its ranges, codes, nano-unit distances, probe fan-out,
# candidate join and top-k through the helpers below, so the tiers
# cannot drift apart.  Each squared per-dimension term is quantized to
# BIGINT nano-units BEFORE the 64-dim fold, so every distance and error
# is an exact integer on both engines (order-free, the r13 ADVICE
# discipline).

# uint8 code of dimension ``d`` of the row's ``embedding`` against its
# (mns, mxs); a constant dimension (mx == mn) codes to 0
_SQ8_CODE_SQL = (
    "CASE WHEN element_at(mxs, d) > element_at(mns, d) THEN "
    "least(255, greatest(0, cast(round("
    "(cast(element_at(embedding, d) as double) - element_at(mns, d))"
    " / ((element_at(mxs, d) - element_at(mns, d)) / 255.0), 0)"
    " as int))) ELSE 0 END"
)


def _sq8_ranges(df: DataFrame, *keys: str) -> DataFrame:
    """(*keys, mns, mxs) — the per-dimension [min, max] of ``df``'s
    ``embedding`` folded into arrays aligned by dimension: no keys
    gives the one global row, ``"cl"`` one row per inverted list.
    min/max are order-free exact aggregates, so the ranges and every
    code derived from them are engine-identical."""
    return (
        df.select(*keys, F.posexplode("embedding").alias("d0", "v0"))
        .select(
            *keys,
            (F.col("d0") + 1).alias("d"),
            F.col("v0").cast("double").alias("v"),
        )
        .groupBy(*keys, "d")
        .agg(F.min("v").alias("mn"), F.max("v").alias("mx"))
        .groupBy(*keys)
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("d", "mn"))),
                lambda s: s["mn"],
            ).alias("mns"),
            F.transform(
                F.array_sort(F.collect_list(F.struct("d", "mx"))),
                lambda s: s["mx"],
            ).alias("mxs"),
        )
    )


def _sq8_code_from_ranges() -> Column:
    """uint8 codes of the row's ``embedding`` against its (mns, mxs)
    range arrays, null-safe for ranges arriving by LEFT join (a
    segment vector landing in an inverted list the index version has
    never seen gets all-zero codes; the reconstruction mirror
    coalesces the same way)."""
    return F.expr(f"transform(sequence(1, {_RP_DIM}), d -> {_SQ8_CODE_SQL})")


def _sq8_nano_sse(x: str, code: str, null_safe: bool) -> Column:
    """Integer nano-unit squared L2 between the raw array column ``x``
    and the codes ``code`` (a SQL expression of ``d``) dequantized
    with the row's (mns, mxs).  ``null_safe`` reconstructs missing
    ranges to 0.0, mirroring the quantizer's all-zero codes."""
    mn = "coalesce(element_at(mns, d), 0D)" if null_safe else "element_at(mns, d)"
    return F.expr(
        f"aggregate(sequence(1, {_RP_DIM}), 0L, (acc, d) -> acc + "
        f"cast(round(pow(cast(element_at({x}, d) as double) - ({mn} + "
        "CASE WHEN element_at(mxs, d) > element_at(mns, d) THEN "
        "(element_at(mxs, d) - element_at(mns, d)) / 255.0 ELSE 0D END"
        f" * {code}), 2) * 1e9, 0) as bigint))"
    )


def _sq8_adc_from_codes(null_safe: bool = False) -> Column:
    """Asymmetric distance between a query's raw dims (``qv``) and a
    candidate's uint8 ``codes`` dequantized with its list's (mns,
    mxs).  ``null_safe`` is for LEFT-joined segment probes."""
    return _sq8_nano_sse("qv", "element_at(codes, d)", null_safe)


def _sq8_sse_from_codes() -> Column:
    """Reconstruction SSE of a row's own ``embedding`` against its
    persisted ``codes`` — the lifecycle error audit's kernel,
    null-safe like the quantizer."""
    return _sq8_nano_sse("embedding", "element_at(codes, d)", null_safe=True)


def _sq8_roundtrip_sse() -> Column:
    """Reconstruction SSE of a row's ``embedding`` quantized and
    dequantized in one expression against its (mns, mxs) — the
    quantizer-health audits' kernel (no codes column is built)."""
    return _sq8_nano_sse("embedding", _SQ8_CODE_SQL, null_safe=False)


def _sq8_probe_lists(bits: int) -> Column:
    """The probe lists of a query's home list ``cl0``: home first, then
    every Hamming-1 neighbour in plane order (the order
    ``_ann_probe_parents`` truncates)."""
    return F.array(
        F.col("cl0"), *[F.col("cl0").bitwiseXOR(F.lit(1 << i)) for i in range(bits)]
    )


def _sq8_query_sample(emb: DataFrame, *cols: Column) -> DataFrame:
    """(qid, qv, *cols) — the 1% query sample every SQ8 tier and audit
    probes with."""
    return emb.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qv"), *cols
    )


def _sq8_probe_set(emb: DataFrame, bits: int) -> DataFrame:
    """(qid, qv, cl) — the query sample with home + every-Hamming-1
    multi-probe fan-out, shared verbatim by every SQ8 tier."""
    return _sq8_query_sample(emb, _rp_cluster_spark(bits).alias("cl0")).select(
        "qid", "qv", F.explode(_sq8_probe_lists(bits)).alias("cl")
    )


def _sq8_exact_top3(emb: DataFrame) -> DataFrame:
    """(qid, nid, rn) — the exact baseline every SQ8 recall audit
    scores against: per sampled query, the top-3 neighbours by
    integer-nano-unit squared L2 with the (dist, id) tiebreak.  The
    query sample broadcasts; the corpus never moves.  Not cut: a
    caller that reads it twice checkpoints it."""
    from pyspark.sql import Window as W

    c = emb.select(F.col("vec_id").alias("nid"), F.col("embedding").alias("cv"))
    l2_nano = F.expr(
        f"aggregate(sequence(1, {_RP_DIM}), 0L, (acc, d) -> acc + "
        "cast(round(pow(cast(element_at(qv, d) as double) - "
        "cast(element_at(cv, d) as double), 2) * 1e9, 0) as bigint))"
    )
    pairs = c.join(
        F.broadcast(_sq8_query_sample(emb)), F.col("nid") != F.col("qid")
    ).select("qid", "nid", l2_nano.alias("dn"))
    w = W.partitionBy("qid").orderBy(F.asc("dn"), F.asc("nid"))
    return (
        pairs.withColumn("rn", F.row_number().over(w).cast("int"))
        .filter(F.col("rn") <= 3)
        .select("qid", "nid", "rn")
    )


def _sq8_fan_to_children(
    spark: SparkSession, qs_parent: DataFrame, t_stats: str, bits: int
) -> DataFrame:
    """(qid, qv, ..., ckl) — fan a parent-keyed probe set over the
    persisted index's sub-split geometry; every input column but
    ``cl`` passes through (e.g. a probe rank).  Parent probes keep
    their key verbatim (the sub-0 child of a split list retains
    ``ckl == cl``, and a probe to a list the index never saw — live
    only on segment reads — stays addressable at ``cl``); each probe
    whose parent list is SPLIT adds one extra child probe at
    ``cl + 2^bits``, derived from the persisted stats' parent rows by
    an INNER join that streams the bucketed stats scan against the
    broadcast probe set (exchange-free on the index side; BuildRight,
    never the round-14 inversion).  Candidate sets are exactly the
    probed parent lists' populations — bit-identical to the plain
    fan-out."""
    keep = [c for c in qs_parent.columns if c != "cl"]
    extra = (
        _ann_parent_stats(spark, t_stats)
        .filter(F.col("is_split"))
        .select("cl")
        .join(F.broadcast(qs_parent), "cl")
        .select(*keep, (F.col("cl") + F.lit(1 << bits)).alias("ckl"))
    )
    return qs_parent.select(*keep, F.col("cl").alias("ckl")).unionByName(
        extra
    )


def _sq8_candidates(
    codes: DataFrame, qs: DataFrame, stats: DataFrame, null_safe: bool = False
) -> DataFrame:
    """(qid, ..., nid, dist_nano) — the candidate join of every probe
    over a persisted codes table: ``codes`` joined on ``ckl`` to the
    broadcast probe set ``qs`` (self-match excluded, so the bucketed
    scan is pruned in place), then to the ranges table ``stats``
    (bucket-co-located on ``ckl``) for the ADC.  Probe columns other
    than (qid, qv, ckl) pass through after ``qid``.  ``null_safe`` is
    the segment read: ranges arrive by LEFT join and the ADC
    reconstructs missing ranges to 0.0."""
    tags = [c for c in qs.columns if c not in ("qid", "qv", "ckl")]
    return (
        codes.join(F.broadcast(qs), "ckl")
        .filter(F.col("vec_id") != F.col("qid"))
        .join(stats, "ckl", "left" if null_safe else "inner")
        .select(
            "qid",
            *tags,
            F.col("vec_id").alias("nid"),
            _sq8_adc_from_codes(null_safe).alias("dist_nano"),
        )
    )


def _sq8_topk(j: DataFrame, k: int = 3) -> DataFrame:
    """Top-``k`` per query with the (dist, id) tiebreak over a
    candidate relation (qid, nid, dist_nano) — the shared tail of
    every SQ8 tier (candidate-proportional shuffle: the only Exchange
    above the index-side joins)."""
    from pyspark.sql import Window as W

    w = W.partitionBy("qid").orderBy(F.asc("dist_nano"), F.asc("nid"))
    return (
        j.withColumn("rn", F.row_number().over(w).cast("int"))
        .filter(F.col("rn") <= k)
        .select("qid", "rn", "nid", F.col("dist_nano").alias("adc_nano"))
        .orderBy("qid", "rn")
    )


def _sq8_oracle() -> str:
    return f"""
    WITH nb AS (
        SELECT least(greatest(3,
                   CASE WHEN ((count(*) + {_IVF_TARGET_BUCKET - 1})
                              // {_IVF_TARGET_BUCKET}) <= 1 THEN 0
                        ELSE length(bin(((count(*) + {_IVF_TARGET_BUCKET - 1})
                                         // {_IVF_TARGET_BUCKET}) - 1)) END),
                     {_IVF_MAX_BITS}) AS bits
        FROM embeddings
    ),
    ev AS (
        SELECT vec_id, generate_subscripts(embedding, 1) AS d,
               CAST(unnest(embedding) AS DOUBLE) AS v
        FROM embeddings
    ),
    dims AS (SELECT d, min(v) AS mn, max(v) AS mx FROM ev GROUP BY 1),
    cl AS (
        SELECT vec_id,
               {_rp_cluster_sql(_IVF_MAX_BITS)} % (1::BIGINT << nb.bits)
                   AS cl
        FROM embeddings CROSS JOIN nb
    ),
    codes AS (
        SELECT e.vec_id, e.d, s.mn, s.mx,
               CASE WHEN s.mx > s.mn
                    THEN least(255, greatest(0,
                         CAST(round((e.v - s.mn)
                                    / ((s.mx - s.mn) / 255.0), 0)
                              AS INTEGER)))
                    ELSE 0 END AS code
        FROM ev e JOIN dims s USING (d)
    ),
    q AS (SELECT vec_id AS qid, d, v FROM ev WHERE vec_id % 100 = 0),
    probes AS (
        SELECT cq.vec_id AS qid,
               unnest(list_prepend(cq.cl, list_transform(
                   list_filter({list(range(_IVF_MAX_BITS))},
                               i -> i < nb.bits),
                   i -> xor(cq.cl, CAST(1 << i AS BIGINT))))) AS cl
        FROM cl cq CROSS JOIN nb
        WHERE cq.vec_id % 100 = 0
    ),
    adc AS (
        SELECT q.qid, cc.vec_id AS nid,
               CAST(sum(CAST(round(pow(q.v - (c.mn
                              + CASE WHEN c.mx > c.mn
                                     THEN (c.mx - c.mn) / 255.0
                                     ELSE 0 END * c.code), 2)
                                   * 1000000000, 0) AS BIGINT))
                    AS BIGINT) AS dist_nano
        FROM q
        JOIN probes p ON p.qid = q.qid
        JOIN cl cc ON cc.cl = p.cl AND cc.vec_id <> q.qid
        JOIN codes c ON c.vec_id = cc.vec_id AND c.d = q.d
        GROUP BY 1, 2
    ),
    ranked AS (
        SELECT qid, nid, dist_nano,
               row_number() OVER (PARTITION BY qid
                                  ORDER BY dist_nano, nid) AS rn
        FROM adc
    )
    SELECT qid, CAST(rn AS INTEGER) AS rn, nid, dist_nano AS adc_nano
    FROM ranked WHERE rn <= 3 ORDER BY qid, rn
    """


@register(
    "ann_sq8_ivf_topk",
    oracle=_sq8_oracle(),
    doc="IVF + int8 SCALAR-QUANTIZED ANN (the FAISS IVF-SQ8 index "
    "shape — the memory-bounded tier the ANN family was missing): "
    "the corpus is stored as per-dimension uint8 codes (4x smaller "
    "than float32; 16x smaller than the float64 compute form), "
    "candidates come from the deterministic RP-sign inverted lists "
    "(the ann_rp_ivf_portable_topk clustering, adaptive bit count), "
    "and ranking is ASYMMETRIC distance: the raw float query against "
    "dequantized corpus codes, so quantization error enters once, "
    "not twice.  Codes are pure integer functions of each value and "
    "the per-dimension [min, max] range — min/max are order-free "
    "exact aggregates (unlike k-means centroids, which are float "
    "moment sums — the reason this tier quantizes scalar ranges, "
    "not learned codebooks), so the whole code table is "
    "engine-identical and the pipeline hash-checks end to end.  "
    "Scale shape: the 64-row dim-stats table broadcasts at any "
    "corpus size; codes are computed map-side; the probe joins on "
    "the ADAPTIVE RP cluster key (bits = ceil(log2(n/256)) exactly "
    "as ann_rp_ivf_portable_topk — the SCALE_r7 fix) and MULTI-"
    "PROBES home + every Hamming-1 list, again exactly as the "
    "portable tier (~(1+bits)·256 candidates per query at any "
    "corpus size — single-probe measured recall at the 0.07 pruning "
    "ceiling in sq8_recall_audit; "
    "candidates follow list occupancy, never corpus²); per-query "
    "top-3 on INTEGER nano-unit ADC with an id tiebreak: each "
    "per-dimension squared term is quantized to BIGINT nano-units "
    "BEFORE the 64-dim fold, so the within-vector sum is exact "
    "integer arithmetic on both engines — no ordered-float-fold vs "
    "unordered-SQL-sum boundary risk (the chow rule applied inside "
    "the vector, round-13 ADVICE fix).  At 100 TB the codes table is "
    "the resident index (25%% of raw) and raw vectors stay in cold "
    "storage for optional exact re-rank.",
    tags=("llm", "similarity", "layout"),
)
def ann_sq8_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    bits = _rp_adaptive_bits(emb.count())
    # 64-row dim stats folded to one broadcast row of aligned arrays,
    # read by the corpus code pass AND the ADC join
    stats = _sq8_ranges(emb).transform(ckpt)
    corpus = (
        emb.crossJoin(F.broadcast(stats))
        .select(
            "vec_id",
            _rp_cluster_spark(bits).alias("cl"),
            _sq8_code_from_ranges().alias("codes"),
        )
    )
    # multi-probe: home list + every Hamming-1 neighbor — the same
    # candidate generation as ann_rp_ivf_portable_topk (single-probe
    # here measured recall@3 = the 0.07 pruning ceiling in
    # sq8_recall_audit, round 13; quantization itself loses nothing)
    j = (
        corpus.join(F.broadcast(_sq8_probe_set(emb, bits)), "cl")
        .filter(F.col("vec_id") != F.col("qid"))
        .crossJoin(F.broadcast(stats))
        .select(
            "qid",
            F.col("vec_id").alias("nid"),
            _sq8_adc_from_codes().alias("dist_nano"),
        )
    )
    return _sq8_topk(j)


@register(
    "sq8_reconstruction_error_audit",
    oracle=f"""
    WITH ev AS (
        SELECT vec_id, generate_subscripts(embedding, 1) AS d,
               CAST(unnest(embedding) AS DOUBLE) AS v
        FROM embeddings
    ),
    dims AS (SELECT d, min(v) AS mn, max(v) AS mx FROM ev GROUP BY 1),
    errs AS (
        SELECT e.vec_id,
               CAST(sum(CAST(round(pow(e.v - (s.mn
                              + CASE WHEN s.mx > s.mn
                                     THEN (s.mx - s.mn) / 255.0
                                     ELSE 0 END
                              * CASE WHEN s.mx > s.mn
                                     THEN least(255, greatest(0,
                                          CAST(round((e.v - s.mn)
                                               / ((s.mx - s.mn) / 255.0),
                                               0) AS INTEGER)))
                                     ELSE 0 END), 2) * 1000000000, 0)
                             AS BIGINT)) AS BIGINT) AS nano
        FROM ev e JOIN dims s USING (d)
        GROUP BY 1
    ),
    q AS (
        SELECT x.label, e.nano
        FROM errs e JOIN embeddings x ON x.vec_id = e.vec_id
    )
    SELECT label,
           CAST(count(*) AS BIGINT) AS n_vecs,
           round(CAST(sum(nano) AS DOUBLE) / (count(*) * 1e9 * {_RP_DIM}),
                 9) AS mean_dim_mse,
           CAST(max(nano) AS BIGINT) AS max_sse_nano
    FROM q GROUP BY label ORDER BY label
    """,
    doc="SQ8 quantizer HEALTH audit — the reconstruction-error table "
    "(the FAISS index-health metric) that justifies trusting "
    "ann_sq8_ivf_topk's asymmetric distances: per label, the mean "
    "per-dimension squared reconstruction error and the worst "
    "vector's total error after the uint8 round-trip.  A label whose "
    "error spikes marks a sub-population living in a narrow slice of "
    "some dimension's global [min, max] range — the signal to switch "
    "that index to per-cluster ranges.  Determinism: each squared "
    "per-dimension term (same codes, same dequant as the ANN tier) "
    "is quantized to integer nano-units BEFORE the within-vector "
    "sum, so the per-vector SSE and every per-label sum are exact "
    "BIGINTs — aggregation-order-free at BOTH levels, within the "
    "64-dim fold and across rows (the chow rule through yet another "
    "family).  Nano-unit sizing: SSE ≤ 64·(range/510)² per vector; "
    "sums stay far inside 2^63 past 10^9 vectors per label.  Scale: "
    "dim stats broadcast; everything else map-side + one bounded "
    "per-label rollup.",
    tags=("llm", "similarity", "quality"),
)
def sq8_reconstruction_error_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    nano = (
        emb.crossJoin(F.broadcast(_sq8_ranges(emb)))
        .select("label", _sq8_roundtrip_sse().alias("nano"))
    )
    return (
        nano.groupBy("label")
        .agg(
            F.count("*").cast("bigint").alias("n_vecs"),
            F.round(
                F.sum("nano").cast("double")
                / (F.count("*") * 1e9 * _RP_DIM),
                9,
            ).alias("mean_dim_mse"),
            F.max("nano").cast("bigint").alias("max_sse_nano"),
        )
        .orderBy("label")
    )


def _sq8_recall_oracle(tier: str = "ann_sq8_ivf_topk") -> str:
    from .registry import REGISTRY

    sq8 = REGISTRY[tier].oracle
    return f"""
    WITH sq8 AS (SELECT * FROM ({sq8})),
    nb2 AS (
        SELECT least(greatest(3,
                   CASE WHEN ((count(*) + {_IVF_TARGET_BUCKET - 1})
                              // {_IVF_TARGET_BUCKET}) <= 1 THEN 0
                        ELSE length(bin(((count(*) + {_IVF_TARGET_BUCKET - 1})
                                         // {_IVF_TARGET_BUCKET}) - 1)) END),
                     {_IVF_MAX_BITS}) AS bits
        FROM embeddings
    ),
    cl2 AS (
        SELECT vec_id,
               {_rp_cluster_sql(_IVF_MAX_BITS)} % (1::BIGINT << nb2.bits)
                   AS cl
        FROM embeddings CROSS JOIN nb2
    ),
    probes2 AS (
        SELECT cq.vec_id AS qid,
               unnest(list_prepend(cq.cl, list_transform(
                   list_filter({list(range(_IVF_MAX_BITS))},
                               i -> i < nb2.bits),
                   i -> xor(cq.cl, CAST(1 << i AS BIGINT))))) AS pcl
        FROM cl2 cq CROSS JOIN nb2
        WHERE cq.vec_id % 100 = 0
    ),
    qev AS (
        SELECT vec_id AS qid, generate_subscripts(embedding, 1) AS d,
               CAST(unnest(embedding) AS DOUBLE) AS v
        FROM embeddings WHERE vec_id % 100 = 0
    ),
    cev AS (
        SELECT vec_id AS nid, generate_subscripts(embedding, 1) AS d,
               CAST(unnest(embedding) AS DOUBLE) AS v
        FROM embeddings
    ),
    dist AS (
        SELECT q.qid, c.nid,
               CAST(sum(CAST(round(pow(q.v - c.v, 2) * 1000000000, 0)
                             AS BIGINT)) AS BIGINT) AS dn
        FROM qev q JOIN cev c ON c.d = q.d AND c.nid <> q.qid
        GROUP BY 1, 2
    ),
    exact3 AS (
        SELECT qid, nid, rn FROM (
            SELECT qid, nid,
                   row_number() OVER (PARTITION BY qid
                                      ORDER BY dn, nid) AS rn
            FROM dist
        ) WHERE rn <= 3
    ),
    per_q AS (
        SELECT b.qid,
               CAST(count(i.nid) AS BIGINT) AS n_hit,
               CAST(count(*) AS BIGINT) AS k
        FROM exact3 b
        LEFT JOIN sq8 i ON i.qid = b.qid AND i.nid = b.nid
        GROUP BY 1
    ),
    top1 AS (
        SELECT b.qid,
               max(CASE WHEN i.nid IS NOT NULL THEN 1 ELSE 0 END) AS agree
        FROM exact3 b
        LEFT JOIN sq8 i ON i.qid = b.qid AND i.nid = b.nid AND i.rn = 1
        WHERE b.rn = 1
        GROUP BY 1
    ),
    listq AS (
        SELECT b.qid,
               CAST(count(p.pcl) AS BIGINT) AS n_list,
               CAST(count(*) AS BIGINT) AS lk
        FROM exact3 b
        JOIN cl2 n ON n.vec_id = b.nid
        LEFT JOIN probes2 p ON p.qid = b.qid AND p.pcl = n.cl
        GROUP BY 1
    )
    SELECT CAST(count(*) AS BIGINT) AS n_queries,
           round(avg(CAST(p.n_hit AS DOUBLE) / p.k), 4) AS recall_at_3,
           round(avg(CAST(t.agree AS DOUBLE)), 4) AS top1_agreement,
           round(avg(CAST(l.n_list AS DOUBLE) / l.lk), 4)
               AS list_recall_ceiling
    FROM per_q p
    JOIN top1 t ON t.qid = p.qid
    JOIN listq l ON l.qid = p.qid
    """


@register(
    "sq8_recall_audit",
    oracle=_sq8_recall_oracle(),
    doc="SQ8 ROLLOUT GATE — recall@3 and top-1 agreement of the "
    "quantized tier (ann_sq8_ivf_topk: IVF candidate lists + integer "
    "nano-unit asymmetric distance on uint8 codes) against the EXACT "
    "squared-L2 top-3 over the full corpus, on the same query sample "
    "and the same metric the ADC approximates — so the number folds "
    "in BOTH approximation losses at once: inverted-list pruning and "
    "uint8 quantization.  This is the dashboard number that makes "
    "sq8_reconstruction_error_audit actionable (error nano-units say "
    "the codes are healthy; this says the RANKINGS survive), the "
    "mirror of ann_recall_audit for the quantized tier.  The report "
    "DECOMPOSES the loss: list_recall_ceiling is the fraction of "
    "exact top-3 reachable through the probe lists at all (home + "
    "Hamming-1) — recall_at_3 can never exceed it, and the gap "
    "between the two is pure quantization damage (measured ZERO on "
    "the fixture: recall sits exactly on the ceiling; the round-13 "
    "single-probe defect this audit caught showed up as a 0.07 "
    "ceiling, not as a code error).  Determinism: "
    "the exact baseline quantizes each per-dimension squared "
    "difference to BIGINT nano-units before the within-vector fold "
    "(same discipline as the ADC itself), so baseline distances and "
    "rankings are exact integers on both engines.  Scale shape: the "
    "baseline is the declared exact-baseline pattern (query sample "
    "broadcasts, corpus never moves — cosine_topk_bruteforce's "
    "contract); the gate runs on a fixed query SAMPLE in production, "
    "so baseline cost is sample × corpus, not corpus².  Costs one "
    "hash join over two top-k lists beyond the two tiers themselves.",
    tags=("llm", "similarity", "quality", "dataops"),
)
def sq8_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _sq8_recall_report(spark, sf_dir, ann_sq8_ivf_topk)


def _sq8_recall_report(
    spark: SparkSession,
    sf_dir: str,
    tier,
    bits: int | None = None,
    micro: bool = False,
) -> DataFrame:
    """Recall@3 / top-1 / list-ceiling report of a quantized ANN
    ``tier`` callable against the exact integer-nano-unit L2 top-3 —
    shared by ``sq8_recall_audit`` (global ranges),
    ``sq8pc_recall_audit`` (per-cluster ranges), and
    ``ann_seg_recall_audit`` (v1 + delta segments; passes the V1
    ``bits`` the segmented tier actually probes with).  ``micro``
    switches the rollup to integer-sum micro-averages (one double
    division AFTER order-free BIGINT sums — the CLAUDE.md float
    discipline; identical to the macro-average here because every
    query contributes exactly k = 3 baseline rows) and appends the
    staleness decomposition column ``quant_stale_loss`` =
    list_recall_ceiling − recall_at_3 (what pruning leaves on the
    table is the ceiling; what quantization + stale ranges cost is
    the gap)."""
    emb = load_table(spark, sf_dir, "embeddings")
    # read by the recall join AND the top-1 join
    exact3 = _sq8_exact_top3(emb).transform(ckpt)
    sq8 = tier(spark, sf_dir).transform(ckpt)
    # pruning CEILING: fraction of exact top-3 reachable through the
    # tier's probe lists (home + Hamming-1) — recall_at_3 can never
    # exceed it; the gap between the two is pure quantization loss.
    if bits is None:
        bits = _rp_adaptive_bits(emb.count())
    ncl = emb.select(
        F.col("vec_id").alias("nid"), _rp_cluster_spark(bits).alias("ncl")
    )
    qprobes = _sq8_probe_set(emb, bits).select(
        F.col("qid").alias("pqid"), F.col("cl").alias("pcl")
    )
    listq = (
        exact3.join(ncl, "nid")
        .join(
            F.broadcast(qprobes),
            (F.col("pqid") == F.col("qid")) & (F.col("pcl") == F.col("ncl")),
            "left",
        )
        .groupBy("qid")
        .agg(
            F.count("pcl").cast("bigint").alias("n_list"),
            F.count("*").cast("bigint").alias("lk"),
        )
    )
    b, i = exact3.alias("b"), sq8.alias("i")
    per_q = (
        b.join(
            i,
            (F.col("i.qid") == F.col("b.qid"))
            & (F.col("i.nid") == F.col("b.nid")),
            "left",
        )
        .groupBy(F.col("b.qid").alias("qid"))
        .agg(
            F.count("i.nid").cast("bigint").alias("n_hit"),
            F.count("*").cast("bigint").alias("k"),
        )
    )
    top1 = (
        b.filter(F.col("b.rn") == 1)
        .join(
            i,
            (F.col("i.qid") == F.col("b.qid"))
            & (F.col("i.nid") == F.col("b.nid"))
            & (F.col("i.rn") == 1),
            "left",
        )
        .groupBy(F.col("b.qid").alias("qid"))
        .agg(F.max(F.col("i.nid").isNotNull().cast("int")).alias("agree"))
    )
    p, t, lq = per_q.alias("p"), top1.alias("t"), listq.alias("lq")
    joined = p.join(t, F.col("t.qid") == F.col("p.qid")).join(
        lq, F.col("lq.qid") == F.col("p.qid")
    )
    if micro:
        rec = F.sum(F.col("p.n_hit")).cast("double") / F.sum(F.col("p.k"))
        ceil = F.sum(F.col("lq.n_list")).cast("double") / F.sum(
            F.col("lq.lk")
        )
        return joined.agg(
            F.count("*").cast("bigint").alias("n_queries"),
            F.round(rec, 4).alias("recall_at_3"),
            F.round(
                F.sum(F.col("t.agree")).cast("double") / F.count("*"), 4
            ).alias("top1_agreement"),
            F.round(ceil, 4).alias("list_recall_ceiling"),
            F.round(ceil - rec, 4).alias("quant_stale_loss"),
        )
    return joined.agg(
        F.count("*").cast("bigint").alias("n_queries"),
        F.round(
            F.avg(F.col("p.n_hit").cast("double") / F.col("p.k")), 4
        ).alias("recall_at_3"),
        F.round(F.avg(F.col("t.agree").cast("double")), 4).alias(
            "top1_agreement"
        ),
        F.round(
            F.avg(F.col("lq.n_list").cast("double") / F.col("lq.lk")),
            4,
        ).alias("list_recall_ceiling"),
    )


@register(
    "sq8_cluster_range_refinement",
    oracle=f"""
    WITH nb AS (
        SELECT least(greatest(3,
                   CASE WHEN ((count(*) + {_IVF_TARGET_BUCKET - 1})
                              // {_IVF_TARGET_BUCKET}) <= 1 THEN 0
                        ELSE length(bin(((count(*) + {_IVF_TARGET_BUCKET - 1})
                                         // {_IVF_TARGET_BUCKET}) - 1)) END),
                     {_IVF_MAX_BITS}) AS bits
        FROM embeddings
    ),
    ev AS (
        SELECT vec_id, generate_subscripts(embedding, 1) AS d,
               CAST(unnest(embedding) AS DOUBLE) AS v
        FROM embeddings
    ),
    cl AS (
        SELECT vec_id,
               {_rp_cluster_sql(_IVF_MAX_BITS)} % (1::BIGINT << nb.bits)
                   AS cl
        FROM embeddings CROSS JOIN nb
    ),
    gdims AS (SELECT d, min(v) AS mn, max(v) AS mx FROM ev GROUP BY 1),
    cdims AS (
        SELECT cl.cl, e.d, min(e.v) AS mn, max(e.v) AS mx
        FROM ev e JOIN cl ON cl.vec_id = e.vec_id
        GROUP BY 1, 2
    ),
    gerr AS (
        SELECT e.vec_id,
               CAST(sum(CAST(round(pow(e.v - (s.mn
                              + CASE WHEN s.mx > s.mn
                                     THEN (s.mx - s.mn) / 255.0
                                     ELSE 0 END
                              * CASE WHEN s.mx > s.mn
                                     THEN least(255, greatest(0,
                                          CAST(round((e.v - s.mn)
                                               / ((s.mx - s.mn) / 255.0),
                                               0) AS INTEGER)))
                                     ELSE 0 END), 2) * 1000000000, 0)
                             AS BIGINT)) AS BIGINT) AS nano
        FROM ev e JOIN gdims s USING (d)
        GROUP BY 1
    ),
    cerr AS (
        SELECT e.vec_id,
               CAST(sum(CAST(round(pow(e.v - (s.mn
                              + CASE WHEN s.mx > s.mn
                                     THEN (s.mx - s.mn) / 255.0
                                     ELSE 0 END
                              * CASE WHEN s.mx > s.mn
                                     THEN least(255, greatest(0,
                                          CAST(round((e.v - s.mn)
                                               / ((s.mx - s.mn) / 255.0),
                                               0) AS INTEGER)))
                                     ELSE 0 END), 2) * 1000000000, 0)
                             AS BIGINT)) AS BIGINT) AS nano
        FROM ev e
        JOIN cl ON cl.vec_id = e.vec_id
        JOIN cdims s ON s.cl = cl.cl AND s.d = e.d
        GROUP BY 1
    ),
    q AS (
        SELECT x.label, g.nano AS gn, c.nano AS cn
        FROM embeddings x
        JOIN gerr g ON g.vec_id = x.vec_id
        JOIN cerr c ON c.vec_id = x.vec_id
    )
    SELECT label,
           CAST(count(*) AS BIGINT) AS n_vecs,
           round(CAST(sum(gn) AS DOUBLE) / (count(*) * 1e9 * {_RP_DIM}),
                 9) AS mse_global,
           round(CAST(sum(cn) AS DOUBLE) / (count(*) * 1e9 * {_RP_DIM}),
                 9) AS mse_cluster,
           round((1.0 - CAST(sum(cn) AS DOUBLE) / CAST(sum(gn) AS DOUBLE))
                 * 100.0, 4) AS improvement_pct
    FROM q GROUP BY label ORDER BY label
    """,
    doc="Per-CLUSTER SQ8 range refinement — the upgrade "
    "sq8_reconstruction_error_audit's docstring cues ('a label whose "
    "error spikes marks a sub-population living in a narrow slice of "
    "some dimension's global [min, max] — switch that index to "
    "per-cluster ranges'): quantize each vector against its own "
    "inverted list's per-dimension [min, max] (the FAISS "
    "ScalarQuantizer-per-list layout) and report the reconstruction "
    "error DELTA vs the global-range codes, side by side per label.  "
    "Cluster ranges are still order-free exact min/max aggregates — "
    "no float centroids — so the refined pipeline hash-checks end to "
    "end exactly like the global tier; each squared per-dimension "
    "term is quantized to BIGINT nano-units before the within-vector "
    "fold (both variants, both engines).  Scale shape: the "
    "per-cluster dim-stats table has (n_lists x 64) rows — n_lists "
    "tracks corpus/256 under the adaptive-bits rule, so it GROWS "
    "with the corpus and is therefore JOINED on cl, never broadcast "
    "(the rank-device offset-table rule; AQE upgrades it at small "
    "SF); the 64-row global stats stay a 1-row array broadcast.  "
    "Storage cost of adopting per-list ranges: 512 bytes/list — "
    "negligible beside the codes.",
    tags=("llm", "similarity", "quality"),
)
def sq8_cluster_range_refinement(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    bits = _rp_adaptive_bits(emb.count())
    base = emb.select(
        "vec_id", "label", "embedding", _rp_cluster_spark(bits).alias("cl")
    ).transform(ckpt)  # read by cluster-stats build AND both error passes
    gstats = _sq8_ranges(emb)
    cstats = _sq8_ranges(base, "cl")
    # global pass: 1-row stats broadcast; cluster pass: stats table is
    # n_lists-sized (grows ~corpus/256 under adaptive bits) -> JOINED
    # on cl, never broadcast (AQE upgrades it at small SF).
    g = (
        emb.crossJoin(F.broadcast(gstats))
        .select("vec_id", _sq8_roundtrip_sse().alias("gn"))
    )
    c = base.join(cstats, "cl").select(
        "vec_id", "label", _sq8_roundtrip_sse().alias("cn")
    )
    return (
        c.join(g, "vec_id")
        .groupBy("label")
        .agg(
            F.count("*").cast("bigint").alias("n_vecs"),
            F.round(
                F.sum("gn").cast("double")
                / (F.count("*") * 1e9 * _RP_DIM),
                9,
            ).alias("mse_global"),
            F.round(
                F.sum("cn").cast("double")
                / (F.count("*") * 1e9 * _RP_DIM),
                9,
            ).alias("mse_cluster"),
            F.round(
                (
                    F.lit(1.0)
                    - F.sum("cn").cast("double")
                    / F.sum("gn").cast("double")
                )
                * 100.0,
                4,
            ).alias("improvement_pct"),
        )
        .orderBy("label")
    )


def _sq8pc_oracle() -> str:
    return f"""
    WITH nb AS (
        SELECT least(greatest(3,
                   CASE WHEN ((count(*) + {_IVF_TARGET_BUCKET - 1})
                              // {_IVF_TARGET_BUCKET}) <= 1 THEN 0
                        ELSE length(bin(((count(*) + {_IVF_TARGET_BUCKET - 1})
                                         // {_IVF_TARGET_BUCKET}) - 1)) END),
                     {_IVF_MAX_BITS}) AS bits
        FROM embeddings
    ),
    ev AS (
        SELECT vec_id, generate_subscripts(embedding, 1) AS d,
               CAST(unnest(embedding) AS DOUBLE) AS v
        FROM embeddings
    ),
    cl AS (
        SELECT vec_id,
               {_rp_cluster_sql(_IVF_MAX_BITS)} % (1::BIGINT << nb.bits)
                   AS cl
        FROM embeddings CROSS JOIN nb
    ),
    cdims AS (
        SELECT cl.cl, e.d, min(e.v) AS mn, max(e.v) AS mx
        FROM ev e JOIN cl ON cl.vec_id = e.vec_id
        GROUP BY 1, 2
    ),
    codes AS (
        SELECT e.vec_id, e.d, s.mn, s.mx,
               CASE WHEN s.mx > s.mn
                    THEN least(255, greatest(0,
                         CAST(round((e.v - s.mn)
                                    / ((s.mx - s.mn) / 255.0), 0)
                              AS INTEGER)))
                    ELSE 0 END AS code
        FROM ev e
        JOIN cl ON cl.vec_id = e.vec_id
        JOIN cdims s ON s.cl = cl.cl AND s.d = e.d
    ),
    q AS (SELECT vec_id AS qid, d, v FROM ev WHERE vec_id % 100 = 0),
    probes AS (
        SELECT cq.vec_id AS qid,
               unnest(list_prepend(cq.cl, list_transform(
                   list_filter({list(range(_IVF_MAX_BITS))},
                               i -> i < nb.bits),
                   i -> xor(cq.cl, CAST(1 << i AS BIGINT))))) AS cl
        FROM cl cq CROSS JOIN nb
        WHERE cq.vec_id % 100 = 0
    ),
    adc AS (
        SELECT q.qid, cc.vec_id AS nid,
               CAST(sum(CAST(round(pow(q.v - (c.mn
                              + CASE WHEN c.mx > c.mn
                                     THEN (c.mx - c.mn) / 255.0
                                     ELSE 0 END * c.code), 2)
                                   * 1000000000, 0) AS BIGINT))
                    AS BIGINT) AS dist_nano
        FROM q
        JOIN probes p ON p.qid = q.qid
        JOIN cl cc ON cc.cl = p.cl AND cc.vec_id <> q.qid
        JOIN codes c ON c.vec_id = cc.vec_id AND c.d = q.d
        GROUP BY 1, 2
    ),
    ranked AS (
        SELECT qid, nid, dist_nano,
               row_number() OVER (PARTITION BY qid
                                  ORDER BY dist_nano, nid) AS rn
        FROM adc
    )
    SELECT qid, CAST(rn AS INTEGER) AS rn, nid, dist_nano AS adc_nano
    FROM ranked WHERE rn <= 3 ORDER BY qid, rn
    """


@register(
    "ann_sq8pc_ivf_topk",
    oracle=_sq8pc_oracle(),
    doc="IVF-SQ8 with PER-CLUSTER ranges ADOPTED by the tier — the "
    "conclusion of sq8_cluster_range_refinement's ~40% MSE cut (and "
    "FAISS's actual IVF-SQ layout: each inverted list carries its own "
    "scalar-quantizer ranges): corpus codes are uint8 against the "
    "vector's OWN inverted list's per-dimension [min, max], and the "
    "asymmetric distance dequantizes with the CANDIDATE's list ranges "
    "— the ranges arrive via a join on cl (the per-list stats table "
    "grows ~corpus/256, so it is JOINED, never broadcast; 512 B/list "
    "— negligible beside the codes it sharpens).  Everything else is "
    "ann_sq8_ivf_topk verbatim: adaptive RP lists, home + Hamming-1 "
    "multi-probe, per-dimension BIGINT nano-unit quantization before "
    "the 64-dim fold (order-free integer ADC on both engines), "
    "top-3 with an id tiebreak.  Ranking quality is gated by "
    "sq8pc_recall_audit — per-cluster ranges must not LOSE recall "
    "while they cut reconstruction error.",
    tags=("llm", "similarity", "layout"),
)
def ann_sq8pc_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    bits = _rp_adaptive_bits(emb.count())
    base = emb.select(
        "vec_id", "embedding", _rp_cluster_spark(bits).alias("cl")
    ).transform(ckpt)  # read by cstats AND the code pass
    cstats = _sq8_ranges(base, "cl").transform(
        ckpt
    )  # read by the corpus code pass AND the ADC join
    # per-list ranges arrive by JOIN on cl (list count grows with the
    # corpus — never broadcast; AQE upgrades at small SF)
    corpus = base.join(cstats, "cl").select(
        "vec_id", "cl", _sq8_code_from_ranges().alias("codes")
    )
    j = (
        corpus.join(F.broadcast(_sq8_probe_set(emb, bits)), "cl")
        .filter(F.col("vec_id") != F.col("qid"))
        .join(cstats, "cl")  # the candidate's own list ranges
        .select(
            "qid",
            F.col("vec_id").alias("nid"),
            _sq8_adc_from_codes().alias("dist_nano"),
        )
    )
    return _sq8_topk(j)


@register(
    "sq8pc_recall_audit",
    oracle=_sq8_recall_oracle("ann_sq8pc_ivf_topk"),
    doc="Rollout gate for the PER-CLUSTER-range quantized tier "
    "(ann_sq8pc_ivf_topk) — same exact integer-nano-unit L2 baseline, "
    "recall@3 + top-1 agreement + the list_recall_ceiling "
    "decomposition as sq8_recall_audit (shared _sq8_recall_report "
    "machinery, so the two tiers' gates cannot desynchronize).  The "
    "adoption criterion sq8_cluster_range_refinement's ~40% MSE cut "
    "argues for: per-cluster ranges must hold recall AT the list "
    "ceiling (zero quantization loss) while cutting reconstruction "
    "error — this gate is the recall half of that pair.",
    tags=("llm", "similarity", "quality", "dataops"),
)
def sq8pc_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _sq8_recall_report(spark, sf_dir, ann_sq8pc_ivf_topk)


@register(
    "ivf_list_skew_report",
    oracle=f"""
    WITH nb AS (
        SELECT least(greatest(3,
                   CASE WHEN ((count(*) + {_IVF_TARGET_BUCKET - 1})
                              // {_IVF_TARGET_BUCKET}) <= 1 THEN 0
                        ELSE length(bin(((count(*) + {_IVF_TARGET_BUCKET - 1})
                                         // {_IVF_TARGET_BUCKET}) - 1)) END),
                     {_IVF_MAX_BITS}) AS bits
        FROM embeddings
    ),
    cl AS (
        SELECT vec_id,
               {_rp_cluster_sql(_IVF_MAX_BITS)} % (1::BIGINT << nb.bits)
                   AS cl
        FROM embeddings CROSS JOIN nb
    ),
    occ AS (SELECT cl, CAST(count(*) AS BIGINT) AS occ
            FROM cl GROUP BY 1),
    r AS (
        SELECT occ, cl,
               row_number() OVER (ORDER BY occ, cl) AS rn,
               count(*) OVER () AS n
        FROM occ
    ),
    p50 AS (SELECT occ AS p50_occ FROM r WHERE rn = (n + 1) // 2),
    p99 AS (SELECT occ AS p99_occ FROM r WHERE rn = (99 * n + 99) // 100)
    SELECT CAST((SELECT count(*) FROM embeddings) AS BIGINT) AS n_vecs,
           CAST((SELECT bits FROM nb) AS BIGINT) AS bits,
           CAST(count(*) AS BIGINT) AS n_lists,
           round(CAST((SELECT count(*) FROM embeddings) AS DOUBLE)
                 / count(*), 4) AS mean_occ,
           CAST(any_value(p50_occ) AS BIGINT) AS p50_occ,
           CAST(any_value(p99_occ) AS BIGINT) AS p99_occ,
           CAST(max(occ) AS BIGINT) AS max_occ,
           CAST(sum(CASE WHEN occ > {2 * _IVF_TARGET_BUCKET}
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_overfull,
           CAST(sum(CASE WHEN occ > {2 * _IVF_TARGET_BUCKET}
                         THEN occ ELSE 0 END) AS BIGINT) AS overfull_mass
    FROM occ CROSS JOIN p50 CROSS JOIN p99
    """,
    doc="IVF inverted-LIST skew observability — the hot_bucket_skew_"
    "report analog for the ANN family: every IVF tier's scale claim "
    "('adaptive bits keep lists ~256, so per-query candidate work is "
    "constant') holds only in the MEAN; RP-sign lists skew when the "
    "embedding distribution is anisotropic (correlated dimensions "
    "make some sign patterns dominate), and a query landing in an "
    f"overfull list (> {2 * _IVF_TARGET_BUCKET} = 2x target) pays "
    "its occupancy in ADC work.  This report makes the tail "
    "measurable: exact lower-median / p99 / max list occupancy "
    "(deterministic (occ, cl) tiebreak), plus how many lists exceed "
    "2x target and how much posting mass sits in them — the signal "
    "to add hyperplanes or switch the fat lists to per-cluster "
    "sub-splitting.  Scale shape: the occupancy table is "
    "n_lists-sized (~corpus/256); exact percentile ranks run through "
    "the ungrouped bucket+offset rank device (<= 128-row offset "
    "broadcast — the provably bounded case), never one global "
    "window task; integer rank rules on both engines.",
    tags=("llm", "similarity", "ivf", "stats", "dataops"),
)
def ivf_list_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.ranks import with_global_rank, with_range_bucket

    emb = load_table(spark, sf_dir, "embeddings")
    n_vecs = emb.count()
    bits = _rp_adaptive_bits(n_vecs)
    occ = (
        emb.select(_rp_cluster_spark(bits).alias("cl"))
        .groupBy("cl")
        .agg(F.count("*").cast("bigint").alias("occ"))
        .transform(ckpt)  # read by the rank device AND the rollup
    )
    r = with_global_rank(
        with_range_bucket(occ, "occ"),
        [F.asc("occ"), F.asc("cl")],
        out="rn",
        total="n",
        pre_shuffle=True,
    )
    p50 = r.filter(F.col("rn") == F.floor((F.col("n") + 1) / 2)).select(
        F.col("occ").alias("p50_occ")
    )
    p99 = r.filter(
        F.col("rn") == F.floor((99 * F.col("n") + 99) / 100)
    ).select(F.col("occ").alias("p99_occ"))
    overfull = F.col("occ") > 2 * _IVF_TARGET_BUCKET
    return (
        occ.agg(
            F.lit(n_vecs).cast("bigint").alias("n_vecs"),
            F.lit(bits).cast("bigint").alias("bits"),
            F.count("*").cast("bigint").alias("n_lists"),
            F.round(F.lit(float(n_vecs)) / F.count("*"), 4).alias(
                "mean_occ"
            ),
            F.max("occ").cast("bigint").alias("max_occ"),
            F.sum(overfull.cast("int")).cast("bigint").alias("n_overfull"),
            F.sum(F.when(overfull, F.col("occ")).otherwise(F.lit(0)))
            .cast("bigint")
            .alias("overfull_mass"),
        )
        .crossJoin(F.broadcast(p50))
        .crossJoin(F.broadcast(p99))
        .select(
            "n_vecs",
            "bits",
            "n_lists",
            "mean_occ",
            F.col("p50_occ").cast("bigint").alias("p50_occ"),
            F.col("p99_occ").cast("bigint").alias("p99_occ"),
            "max_occ",
            "n_overfull",
            "overfull_mass",
        )
    )


# ---------------------------------------------------------------------------
# Persisted ANN index (round 14): the dedup family's persisted-index /
# delta-segment / fold lifecycle applied to the quantized ANN tier —
# SQ8 codes bucketBy(cl) + the per-list [min,max] range table built
# ONCE per corpus version and probed exchange-free, so no query ever
# re-derives cluster assignments, ranges, or uint8 codes from raw
# embeddings (ann_sq8pc_ivf_topk pays two full corpus passes per call;
# its own docstring calls the codes table "the resident index at 1e9+
# vectors", which is only true if it is persisted).


def _build_persisted_ann_index(
    spark: SparkSession,
    emb: DataFrame,
    base: str,
    bits: int | None = None,
) -> tuple[str, str, int, int]:
    """Materialize the persisted IVF-SQ8pc index for ``emb`` — the
    uint8 codes table bucketBy-sorted on the CHILD list key ``ckl``
    and the merged per-list stats table (quantizer [min, max] ranges
    PLUS the hot-list sub-split flag, one row per child key) — and
    return ``(t_codes, t_stats, bits, n_bkts)``.  Runs ONCE per corpus
    version (the `_build_persisted_dedup_index` contract): every probe
    and every ingest then reads these tables; raw embeddings are never
    re-quantized per query.

    Round 15: the sub-split GEOMETRY is part of the index version.
    Skew is a property of the corpus, so the 1.25x-mean split decision
    (`_subsplit_lists`) is taken once at build time and baked into the
    layout: vectors of a split list land in two bucketed children
    (``ckl`` in {cl, cl + 2^bits}) while quantizer ranges stay
    per-PARENT list — codes, ADC distances, and top-k answers are
    BIT-IDENTICAL to the plain layout (pytest equality gate vs
    ann_sq8pc_subsplit_topk); what changes is the PHYSICAL read: the
    production probe/serve/segment paths no longer pay a hot list's
    full occupancy in one task.  The stats table carries the parent
    ranges on BOTH children so the candidate→stats ADC join stays
    bucket-co-located on ``ckl``; split parents are discoverable from
    the sub-0 child rows (``ckl == cl``), which every probe fan-out
    reads (`_sq8_fan_to_children`).

    The codes pass reads the PERSISTED stats (not a live
    recomputation), so the written artifacts are self-consistent by
    construction; the stats join is merge-hinted (the round-14
    stats-join-direction rule — the table grows ~corpus/256).
    Session-scoped names; bucket count from `_index_bucket_count`
    (the EnsureRequirements floor).  Storage: codes are 64
    uint8-valued ints + one bigint key per vector (~25% of the
    float32 corpus as parquet ints), stats 512 B per child list."""
    from ..sources.catalog import reset_bucket_table, session_bucket_table

    n_bkts = _index_bucket_count(spark)
    if bits is None:
        bits = _rp_adaptive_bits(emb.count())
    t_codes = session_bucket_table(spark, f"{base}_codes")
    t_stats = session_bucket_table(spark, f"{base}_stats")
    for t in (t_codes, t_stats):
        reset_bucket_table(spark, t)
    assigned = _subsplit_assigned(emb, bits).transform(
        ckpt
    )  # read by the stats build AND the code pass
    (
        _subsplit_list_stats(assigned)
        .select(
            F.explode(
                F.when(
                    F.col("is_split"),
                    F.array(F.col("cl"), F.col("cl") + F.lit(1 << bits)),
                ).otherwise(F.array(F.col("cl")))
            ).alias("ckl"),
            "cl",
            "mns",
            "mxs",
            "is_split",
        )
        .write.bucketBy(n_bkts, "ckl")
        .sortBy("ckl")
        .saveAsTable(t_stats)
    )
    pstats = _ann_parent_stats(spark, t_stats)
    (
        assigned.join(pstats.hint("merge"), "cl")
        .select(
            "vec_id",
            F.when(
                F.col("is_split") & (F.col("sub") == 1),
                F.col("cl") + F.lit(1 << bits),
            )
            .otherwise(F.col("cl"))
            .alias("ckl"),
            _sq8_code_from_ranges().alias("codes"),
        )
        .write.bucketBy(n_bkts, "ckl")
        .sortBy("ckl")
        .saveAsTable(t_codes)
    )
    return t_codes, t_stats, bits, n_bkts


def _ann_parent_stats(spark: SparkSession, t_stats: str) -> DataFrame:
    """One row per PARENT inverted list from the persisted stats table
    (the sub-0 child of a split list keeps ``ckl == cl``, so the
    parent view is a per-row filter over the bucketed scan — no
    re-derivation, no shuffle): (cl, mns, mxs, is_split)."""
    return (
        spark.table(t_stats)
        .filter(F.col("ckl") == F.col("cl"))
        .drop("ckl")
    )


@register(
    "ann_sq8pc_persisted_topk",
    oracle=_sq8pc_oracle(),
    doc="IVF-SQ8pc over a PERSISTED index — the dedup family's "
    "persisted-index template (incremental_dedup_persisted_index) "
    "applied to the quantized ANN tier: the uint8 codes table "
    "(bucketBy cl, sortBy cl) and the per-list [min, max] range "
    "table (bucketed identically) are materialized ONCE per corpus "
    "version by _build_persisted_ann_index, and the probe reads them "
    "with ZERO index-side Exchange (plan-gated in "
    "tests/test_bucketing.py): the broadcast query sample prunes "
    "candidates on the bucketed codes scan in place, and the "
    "candidate→ranges join is bucket-co-located (both sides "
    "pre-bucketed on cl at the same count — the per-list stats table "
    "arrives by JOIN, never broadcast, because it grows ~corpus/256). "
    "The only shuffle in the whole probe is the candidate-"
    "proportional top-k window.  Answers are BIT-IDENTICAL to "
    "ann_sq8pc_ivf_topk (same quantizer, same integer nano-unit ADC, "
    "same multi-probe) — same oracle, plus a pytest equality gate — "
    "only the physical layout differs: at 1e9+ vectors the codes "
    "table IS the resident index, and persisting it is what makes "
    "that claim true (the in-memory tier re-derives codes and ranges "
    "from raw embeddings on every call — two full corpus passes "
    "before any probe).  Round 15: the index VERSION carries the "
    "hot-list sub-split geometry (codes bucketed on the child key "
    "ckl, the 1.25x-mean split flag persisted in the merged stats "
    "table), so the production read path gets the actuator's "
    "balanced lists for free — probes fan to both children via the "
    "persisted stats (_sq8_fan_to_children), answers still "
    "bit-identical (pytest equality vs ann_sq8pc_subsplit_topk AND "
    "the plain tier).",
    tags=("llm", "similarity", "ivf", "layout"),
)
def ann_sq8pc_persisted_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    t_codes, t_stats, bits, _n_bkts = _build_persisted_ann_index(
        spark, emb, "annp"
    )
    qs = _sq8_fan_to_children(spark, _sq8_probe_set(emb, bits), t_stats, bits)
    return _sq8_topk(
        _sq8_candidates(spark.table(t_codes), qs, spark.table(t_stats))
    )


def _ann_nb_sql(name: str, where: str = "") -> str:
    """A DuckDB CTE computing the adaptive bit count over
    ``embeddings`` (optionally filtered) — the engine-identical
    integer/bin() mirror of `_rp_adaptive_bits`."""
    return f"""{name} AS (
        SELECT least(greatest(3,
                   CASE WHEN ((count(*) + {_IVF_TARGET_BUCKET - 1})
                              // {_IVF_TARGET_BUCKET}) <= 1 THEN 0
                        ELSE length(bin(((count(*) + {_IVF_TARGET_BUCKET - 1})
                                         // {_IVF_TARGET_BUCKET}) - 1)) END),
                     {_IVF_MAX_BITS}) AS bits
        FROM embeddings CROSS JOIN thr {where}
    )"""


# the null-safe dequantized reconstruction of a per-dim value e.v
# against LEFT-joined v1 ranges s — segment vectors landing in lists
# the index version never saw reconstruct to 0.0 (all-zero codes),
# exactly as the Spark quantizer/ADC coalesce
_ANN_RECON_SQL = (
    "(coalesce(s.mn, 0.0) + CASE WHEN s.mx > s.mn THEN"
    " (s.mx - s.mn) / 255.0 ELSE 0.0 END"
    " * CASE WHEN s.mx > s.mn THEN least(255, greatest(0,"
    " CAST(round((e.v - s.mn) / ((s.mx - s.mn) / 255.0), 0)"
    " AS INTEGER))) ELSE 0 END)"
)


def _ann_lifecycle_core_sql() -> str:
    """The shared CTE prefix of the ANN lifecycle oracles: threshold,
    v1 bit count, per-dim values, v1 cluster assignment for EVERY
    vector (arriving vectors use the CURRENT index's geometry until
    the fold), and the v1 per-list per-dim ranges."""
    return f"""thr AS (
        SELECT CAST(floor(0.8 * (max(vec_id) + 1)) AS BIGINT) AS t
        FROM embeddings
    ),
    {_ann_nb_sql("nb1", "WHERE vec_id < thr.t")},
    ev AS (
        SELECT vec_id, generate_subscripts(embedding, 1) AS d,
               CAST(unnest(embedding) AS DOUBLE) AS v
        FROM embeddings
    ),
    cl1 AS (
        SELECT vec_id,
               {_rp_cluster_sql(_IVF_MAX_BITS)} % (1::BIGINT << nb1.bits)
                   AS cl
        FROM embeddings CROSS JOIN nb1
    ),
    cdims1 AS (
        SELECT c.cl, e.d, min(e.v) AS mn, max(e.v) AS mx
        FROM ev e
        JOIN cl1 c ON c.vec_id = e.vec_id
        CROSS JOIN thr
        WHERE e.vec_id < thr.t
        GROUP BY 1, 2
    )"""


def _ann_lifecycle_oracle() -> str:
    return f"""
    WITH {_ann_lifecycle_core_sql()},
    {_ann_nb_sql("nb2")},
    cl2 AS (
        SELECT vec_id,
               {_rp_cluster_sql(_IVF_MAX_BITS)} % (1::BIGINT << nb2.bits)
                   AS cl
        FROM embeddings CROSS JOIN nb2
    ),
    cdims2 AS (
        SELECT c.cl, e.d, min(e.v) AS mn, max(e.v) AS mx
        FROM ev e JOIN cl2 c ON c.vec_id = e.vec_id
        GROUP BY 1, 2
    ),
    lerr AS (
        SELECT e.vec_id,
               CAST(sum(CAST(round(pow(e.v - {_ANN_RECON_SQL}, 2)
                                   * 1000000000, 0) AS BIGINT))
                    AS BIGINT) AS nano,
               max(CASE WHEN s.mn IS NULL OR e.v < s.mn OR e.v > s.mx
                        THEN 1 ELSE 0 END) AS oob
        FROM ev e
        JOIN cl1 c ON c.vec_id = e.vec_id
        LEFT JOIN cdims1 s ON s.cl = c.cl AND s.d = e.d
        GROUP BY 1
    ),
    ferr AS (
        SELECT e.vec_id,
               CAST(sum(CAST(round(pow(e.v - {_ANN_RECON_SQL}, 2)
                                   * 1000000000, 0) AS BIGINT))
                    AS BIGINT) AS nano
        FROM ev e
        JOIN cl2 c ON c.vec_id = e.vec_id
        JOIN cdims2 s ON s.cl = c.cl AND s.d = e.d
        GROUP BY 1
    )
    SELECT x.label,
           CAST({_LSM_FOLD_K} AS BIGINT) AS n_segments,
           CAST(sum(CASE WHEN x.vec_id < thr.t THEN 1 ELSE 0 END)
                AS BIGINT) AS n_index_vecs,
           CAST(sum(CASE WHEN x.vec_id >= thr.t THEN 1 ELSE 0 END)
                AS BIGINT) AS n_segment_vecs,
           CAST(sum(CASE WHEN x.vec_id >= thr.t THEN l.oob ELSE 0 END)
                AS BIGINT) AS n_oob_segment,
           round(CAST(sum(l.nano) AS DOUBLE)
                 / (count(*) * 1e9 * {_RP_DIM}), 9) AS mse_live,
           round(CAST(sum(f.nano) AS DOUBLE)
                 / (count(*) * 1e9 * {_RP_DIM}), 9) AS mse_folded,
           CASE WHEN sum(CASE WHEN x.vec_id >= thr.t THEN 1 ELSE 0 END) > 0
                THEN round(CAST(sum(CASE WHEN x.vec_id >= thr.t
                                         THEN l.nano END) AS DOUBLE)
                           / (sum(CASE WHEN x.vec_id >= thr.t
                                       THEN 1 ELSE 0 END)
                              * 1e9 * {_RP_DIM}), 9)
                ELSE 0 END AS mse_live_segment,
           CASE WHEN sum(CASE WHEN x.vec_id >= thr.t THEN 1 ELSE 0 END) > 0
                THEN round(CAST(sum(CASE WHEN x.vec_id >= thr.t
                                         THEN f.nano END) AS DOUBLE)
                           / (sum(CASE WHEN x.vec_id >= thr.t
                                       THEN 1 ELSE 0 END)
                              * 1e9 * {_RP_DIM}), 9)
                ELSE 0 END AS mse_folded_segment
    FROM embeddings x
    CROSS JOIN thr
    JOIN lerr l ON l.vec_id = x.vec_id
    JOIN ferr f ON f.vec_id = x.vec_id
    GROUP BY x.label ORDER BY x.label
    """


def _build_ann_segmented_index(
    spark: SparkSession, emb: DataFrame, base: str
) -> tuple[str, str, list[str], int, int, DataFrame]:
    """v1 persisted ANN index over the first 80% of ``emb`` plus
    ``_LSM_FOLD_K`` delta-CODE segments over the tail — each ingest's
    vectors are assigned with the CURRENT index's cluster geometry
    (v1 bits + the v1 SUB-SPLIT map: arriving vectors in a split list
    land in the same child key the index uses) and quantized against
    the CURRENT per-list ranges (v1), then written as a
    batch-proportional bucketed codes segment; the index tables are
    never rewritten per ingest.  Stats arrive by LEFT join: a vector
    in a list v1 never saw gets all-zero codes and keeps ``ckl ==
    cl`` (the clamp/drift cost the fold audit measures).  Returns
    ``(t_codes, t_stats, seg_tables, bits, n_bkts, thr)``."""
    from ..sources.catalog import reset_bucket_table, session_bucket_table

    K = _LSM_FOLD_K
    thr = emb.agg(
        F.floor(0.8 * (F.max("vec_id") + 1)).cast("bigint").alias("_t"),
        (F.max("vec_id") + 1).cast("bigint").alias("_m"),
    ).transform(ckpt)
    witht = emb.crossJoin(F.broadcast(thr))
    t_codes, t_stats, bits, n_bkts = _build_persisted_ann_index(
        spark,
        witht.filter(F.col("vec_id") < F.col("_t")).select(
            "vec_id", "embedding"
        ),
        base,
    )
    seg_expr = F.least(
        F.lit(K - 1), F.expr(f"div((vec_id - _t) * {K}, _m - _t)")
    ).cast("bigint")
    tail = witht.filter(F.col("vec_id") >= F.col("_t")).select(
        "vec_id", "embedding", seg_expr.alias("seg")
    )
    seg_tables: list[str] = []
    for j in range(K):
        t_seg = session_bucket_table(spark, f"{base}_seg{j}_codes")
        _write_ann_segment(
            spark,
            tail.filter(F.col("seg") == j).select("vec_id", "embedding"),
            t_stats,
            bits,
            n_bkts,
            t_seg,
        )
        seg_tables.append(t_seg)
    return t_codes, t_stats, seg_tables, bits, n_bkts, thr


def _write_ann_segment(
    spark: SparkSession,
    vecs: DataFrame,
    t_stats: str,
    bits: int,
    n_bkts: int,
    t_seg: str,
) -> None:
    """(Re)write ``t_seg`` as the bucketed delta-codes segment of
    ``vecs`` (vec_id, embedding): assigned with the CURRENT index's
    cluster geometry and sub-split map, quantized against its CURRENT
    per-list ranges.  Stats arrive by LEFT join: a vector in a list
    the index never saw gets all-zero codes and keeps ``ckl == cl``."""
    from ..sources.catalog import reset_bucket_table

    reset_bucket_table(spark, t_seg)
    (
        _subsplit_assigned(vecs, bits)
        .join(_ann_parent_stats(spark, t_stats), "cl", "left")
        .select(
            "vec_id",
            F.when(
                F.coalesce(F.col("is_split"), F.lit(False))
                & (F.col("sub") == 1),
                F.col("cl") + F.lit(1 << bits),
            )
            .otherwise(F.col("cl"))
            .alias("ckl"),
            _sq8_code_from_ranges().alias("codes"),
        )
        .write.bucketBy(n_bkts, "ckl")
        .sortBy("ckl")
        .saveAsTable(t_seg)
    )


@register(
    "ann_index_segment_lifecycle",
    oracle=_ann_lifecycle_oracle(),
    doc="MULTI-segment ANN-index lifecycle — "
    "dedup_index_segment_lifecycle's arc applied to the persisted "
    f"SQ8pc index: {_LSM_FOLD_K} successive vector ingests each "
    "append a batch-proportional bucketed delta-CODES segment, "
    "quantized against the CURRENT (v1) per-list ranges and assigned "
    "with the CURRENT cluster geometry — the index tables are never "
    "rewritten per ingest — and at the fold threshold the background "
    "job rebuilds index v2 over the full corpus (ranges REFRESHED, "
    "every code requantized: the ANN fold does strictly more than "
    "the dedup fold because scalar-quantizer ranges DRIFT — arriving "
    "vectors fall outside the stale per-dim [min, max] and clamp).  "
    "The report is the fold's justification, per label: how many "
    "segment vectors clamped against stale ranges (n_oob_segment), "
    "reconstruction MSE on the LIVE read path (v1 codes + segment "
    "codes, v1 ranges) vs AFTER the fold (v2 ranges, requantized "
    "codes), corpus-wide and segment-restricted — "
    "mse_folded_segment < mse_live_segment is the measured claim "
    "(pytest-gated) that folding heals stale-range damage, the "
    "sq8_cluster_range_refinement machinery turned into a lifecycle "
    "decision.  Hash-checked end to end: every statistic is an "
    "integer nano-unit sum (per-dim quantization BEFORE the 64-dim "
    "fold, order-free on both engines) computed FROM the persisted "
    "tables, so the oracle proves the artifacts, not a bypass plan.  "
    "Scale shape: per-ingest cost is batch-proportional (assign + "
    "quantize + one bucketed segment write); the fold is one linear "
    "rebuild amortized over K ingests; the error audit joins codes "
    "back to raw vectors on vec_id — a once-per-fold linear audit, "
    "not the probe path.",
    tags=("llm", "similarity", "ivf", "layout", "pipeline"),
)
def ann_index_segment_lifecycle(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from functools import reduce

    emb = load_table(spark, sf_dir, "embeddings")
    t_codes, t_stats, seg_tables, _bits, _n_bkts, thr = (
        _build_ann_segmented_index(spark, emb, "annlc")
    )
    # FOLD: rebuild v2 over the full corpus — ranges refreshed from
    # every vector, codes requantized (bits re-derived from the grown
    # count, so the list geometry also tracks the corpus)
    t2_codes, t2_stats, _b2, _n2 = _build_persisted_ann_index(
        spark, emb, "annlc_v2"
    )

    live_codes = reduce(
        lambda a, b: a.unionByName(b),
        [spark.table(t_codes)] + [spark.table(t) for t in seg_tables],
    )
    oob = F.expr(
        "CASE WHEN mns IS NULL THEN 1 ELSE cast(exists("
        f"sequence(1, {_RP_DIM}), d -> "
        "cast(element_at(embedding, d) as double) < element_at(mns, d) OR "
        "cast(element_at(embedding, d) as double) > element_at(mxs, d)"
        ") as int) END"
    )
    lrows = (
        live_codes.join(spark.table(t_stats), "ckl", "left")
        .join(emb.select("vec_id", "label", "embedding"), "vec_id")
        .select(
            "vec_id",
            "label",
            _sq8_sse_from_codes().alias("lnano"),
            oob.alias("oob"),
        )
    )
    frows = (
        spark.table(t2_codes)
        .join(spark.table(t2_stats), "ckl")
        .join(emb.select("vec_id", "embedding"), "vec_id")
        .select("vec_id", _sq8_sse_from_codes().alias("fnano"))
    )
    is_seg = (F.col("vec_id") >= F.col("_t")).cast("int")
    seg_mse = lambda c: F.when(  # noqa: E731
        F.sum(is_seg) > 0,
        F.round(
            F.sum(F.when(is_seg == 1, F.col(c))).cast("double")
            / (F.sum(is_seg) * 1e9 * _RP_DIM),
            9,
        ),
    ).otherwise(F.lit(0.0))
    return (
        lrows.join(frows, "vec_id")
        .crossJoin(F.broadcast(thr))
        .groupBy("label")
        .agg(
            F.lit(_LSM_FOLD_K).cast("bigint").alias("n_segments"),
            F.sum((F.col("vec_id") < F.col("_t")).cast("int"))
            .cast("bigint")
            .alias("n_index_vecs"),
            F.sum(is_seg).cast("bigint").alias("n_segment_vecs"),
            F.sum(F.when(is_seg == 1, F.col("oob")).otherwise(F.lit(0)))
            .cast("bigint")
            .alias("n_oob_segment"),
            F.round(
                F.sum("lnano").cast("double")
                / (F.count("*") * 1e9 * _RP_DIM),
                9,
            ).alias("mse_live"),
            F.round(
                F.sum("fnano").cast("double")
                / (F.count("*") * 1e9 * _RP_DIM),
                9,
            ).alias("mse_folded"),
            seg_mse("lnano").alias("mse_live_segment"),
            seg_mse("fnano").alias("mse_folded_segment"),
        )
        .select(
            "label",
            "n_segments",
            "n_index_vecs",
            "n_segment_vecs",
            "n_oob_segment",
            "mse_live",
            "mse_folded",
            "mse_live_segment",
            "mse_folded_segment",
        )
        .orderBy("label")
    )


def _ann_seg_probe_oracle() -> str:
    return f"""
    WITH {_ann_lifecycle_core_sql()},
    codes AS (
        SELECT e.vec_id, e.d, s.mn, s.mx,
               CASE WHEN s.mx > s.mn
                    THEN least(255, greatest(0,
                         CAST(round((e.v - s.mn)
                                    / ((s.mx - s.mn) / 255.0), 0)
                              AS INTEGER)))
                    ELSE 0 END AS code
        FROM ev e
        JOIN cl1 c ON c.vec_id = e.vec_id
        LEFT JOIN cdims1 s ON s.cl = c.cl AND s.d = e.d
    ),
    q AS (SELECT vec_id AS qid, d, v FROM ev WHERE vec_id % 100 = 0),
    probes AS (
        SELECT cq.vec_id AS qid,
               unnest(list_prepend(cq.cl, list_transform(
                   list_filter({list(range(_IVF_MAX_BITS))},
                               i -> i < nb1.bits),
                   i -> xor(cq.cl, CAST(1 << i AS BIGINT))))) AS cl
        FROM cl1 cq CROSS JOIN nb1
        WHERE cq.vec_id % 100 = 0
    ),
    adc AS (
        SELECT q.qid, cc.vec_id AS nid,
               CAST(sum(CAST(round(pow(q.v - (coalesce(c.mn, 0.0)
                              + CASE WHEN c.mx > c.mn
                                     THEN (c.mx - c.mn) / 255.0
                                     ELSE 0.0 END * c.code), 2)
                                   * 1000000000, 0) AS BIGINT))
                    AS BIGINT) AS dist_nano
        FROM q
        JOIN probes p ON p.qid = q.qid
        JOIN cl1 cc ON cc.cl = p.cl AND cc.vec_id <> q.qid
        JOIN codes c ON c.vec_id = cc.vec_id AND c.d = q.d
        GROUP BY 1, 2
    ),
    ranked AS (
        SELECT qid, nid, dist_nano,
               row_number() OVER (PARTITION BY qid
                                  ORDER BY dist_nano, nid) AS rn
        FROM adc
    )
    SELECT qid, CAST(rn AS INTEGER) AS rn, nid, dist_nano AS adc_nano
    FROM ranked WHERE rn <= 3 ORDER BY qid, rn
    """


@register(
    "ann_sq8pc_segmented_probe",
    oracle=_ann_seg_probe_oracle(),
    doc="Top-k probe against the SEGMENTED persisted ANN index — the "
    "operational consumer ann_index_segment_lifecycle's read path "
    "exists for (the incremental_dedup_multi_segment_probe analog): "
    "between folds a query must see v1 vectors AND every ingested "
    "segment, so the probe joins the broadcast query sample against "
    f"EACH of the {_LSM_FOLD_K}+1 bucketed codes tables separately — "
    "every per-table candidate join is exchange-free on the index "
    "side (bucketed scan pruned in place by the broadcast), each "
    "branch co-locates its candidate→ranges join on the bucketed cl "
    "key, and only then are CANDIDATE rows unioned into the top-k "
    "window (the one shuffle, candidate-proportional).  Joining a "
    "UNION of the code tables first would discard the bucketing and "
    "re-shuffle the index (the round-13 K-way-merge finding); the "
    "per-table-then-union shape is the scale-honest one, plan-gated "
    "in tests/test_bucketing.py.  Segment codes carry the v1 ranges "
    "(stale until the fold), so the ADC dequantizes every candidate "
    "with the index-version ranges — exactly what a production probe "
    "sees between folds; the recall cost of that staleness is what "
    "ann_index_segment_lifecycle's error audit prices.  Hash-checked "
    "against a DuckDB replay of the whole segmented quantization + "
    "multi-probe + integer nano-unit ADC.",
    tags=("llm", "similarity", "ivf", "layout"),
)
def ann_sq8pc_segmented_probe(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    t_codes, t_stats, seg_tables, bits, _n_bkts, _thr = (
        _build_ann_segmented_index(spark, emb, "annsp")
    )
    qs = _sq8_fan_to_children(
        spark, _sq8_probe_set(emb, bits), t_stats, bits
    ).transform(ckpt)  # read by K+1 per-table candidate joins
    cand = None
    for ts in [t_codes] + seg_tables:
        c = _sq8_candidates(
            spark.table(ts), qs, spark.table(t_stats), null_safe=True
        )
        cand = c if cand is None else cand.unionByName(c)
    return _sq8_topk(cand)


# ---------------------------------------------------------------------------
# IVF hot-list sub-split actuator (round 14): the remedy
# ivf_list_skew_report's docstring names ("add hyperplanes or switch
# the fat lists to per-cluster sub-splitting") implemented — overfull
# inverted lists get ONE extra deterministic RP hyperplane bit, probes
# fan to both children, so the candidate SET (and therefore recall) is
# bit-identical while the join key's maximum partition mass halves.
# The split rule is scale-free: occ > 1.25x the mean list occupancy
# (integer predicate 4*occ*n_lists > 5*n_vecs — exact on both
# engines), which fires wherever RELATIVE skew exists; the skew
# report's absolute 2x-target guard composes on top at production
# scale, where mean ~= target by the adaptive-bits rule.


def _subsplit_assigned(emb: DataFrame, bits: int) -> DataFrame:
    """(vec_id, embedding, cl, sub) — parent list key from the first
    ``bits`` RP planes plus the NEXT plane's sign bit (the
    deterministic sub-split coordinate; all integer/sign arithmetic,
    so both engines derive it identically).  When every plane is in
    use (bits == _IVF_MAX_BITS) the sub bit is constant 0 and no list
    can split — extend _RP_COEFFS to go beyond."""
    ext = min(bits + 1, _IVF_MAX_BITS)
    return emb.select(
        "vec_id", "embedding", _rp_cluster_spark(ext).alias("cle")
    ).select(
        "vec_id",
        "embedding",
        (F.col("cle") % F.lit(1 << bits)).alias("cl"),
        F.expr(f"div(cle, {1 << bits})").alias("sub"),
    )


def _subsplit_lists(assigned: DataFrame) -> DataFrame:
    """(cl, occ, is_split) over the occupied parent lists — is_split
    under the scale-free 1.25x-mean rule.  n_lists-sized (~corpus/256
    under adaptive bits): consumed by JOIN on cl, never broadcast
    (the rank-device offset-table rule); only the 1-row (n_vecs,
    n_lists) totals broadcast."""
    occ = assigned.groupBy("cl").agg(
        F.count("*").cast("bigint").alias("occ")
    )
    tot = occ.agg(
        F.count("*").cast("bigint").alias("_nl"),
        F.sum("occ").cast("bigint").alias("_nv"),
    )
    return occ.crossJoin(F.broadcast(tot)).select(
        "cl",
        "occ",
        (4 * F.col("occ") * F.col("_nl") > 5 * F.col("_nv")).alias(
            "is_split"
        ),
    )


def _subsplit_list_stats(assigned: DataFrame) -> DataFrame:
    """(cl, mns, mxs, is_split) — the per-list quantizer ranges AND
    the 1.25x-mean split flag in ONE n_lists-sized table, so the
    corpus needs a single stats join.  Round-14 lesson (measured 10x
    at x30): joining the corpus against a SEPARATE tiny checkpointed
    lists relation let the planner broadcast the FACT side and stream
    the 1-partition stats RDD — every downstream candidate/ADC row
    then ran in ONE task.  Consumers join this table with an explicit
    merge hint (the production SMJ shape — the stats table grows
    ~corpus/256, so it is JOINED, never broadcast, and the hint stops
    the planner from inverting the build side on unknown RDD stats)."""
    per_dim = assigned.select(
        "cl", F.posexplode("embedding").alias("d0", "v0")
    ).select(
        "cl",
        (F.col("d0") + 1).alias("d"),
        F.col("v0").cast("double").alias("v"),
    )
    per_cl = (
        per_dim.groupBy("cl", "d")
        .agg(
            F.min("v").alias("mn"),
            F.max("v").alias("mx"),
            F.count("*").alias("nv"),
        )
        .groupBy("cl")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("d", "mn"))),
                lambda s: s["mn"],
            ).alias("mns"),
            F.transform(
                F.array_sort(F.collect_list(F.struct("d", "mx"))),
                lambda s: s["mx"],
            ).alias("mxs"),
            F.max("nv").cast("bigint").alias("occ"),
        )
    )
    tot = per_cl.agg(
        F.count("*").cast("bigint").alias("_nl"),
        F.sum("occ").cast("bigint").alias("_nv"),
    )
    return per_cl.crossJoin(F.broadcast(tot)).select(
        "cl",
        "mns",
        "mxs",
        (4 * F.col("occ") * F.col("_nl") > 5 * F.col("_nv")).alias(
            "is_split"
        ),
    )


@register(
    "ann_sq8pc_subsplit_topk",
    oracle=_sq8pc_oracle(),
    doc="IVF-SQ8pc with HOT-LIST SUB-SPLITTING — the actuator "
    "ivf_list_skew_report motivates: inverted lists whose occupancy "
    "exceeds 1.25x the mean get one extra deterministic RP hyperplane "
    "bit (the with_hot_cell_subsplit pattern from operators/ranks.py "
    "applied to the ANN join key), splitting the fat list into two "
    "children keyed cl and cl + 2^bits; probes whose parent list is "
    "split fan to BOTH children.  Because the fan-out covers every "
    "child and quantization ranges stay per-PARENT list, the "
    "candidate set, the ADC distances, and the top-k are "
    "BIT-IDENTICAL to ann_sq8pc_ivf_topk (same oracle, plus a pytest "
    "equality gate: recall is unchanged by identity, no audit "
    "needed) — what changes is the PHYSICAL join: the candidate "
    "join's maximum per-key mass halves for every split list, which "
    "at 100 TB is the difference between a straggler task carrying a "
    "hot list's full occupancy in ADC work and two balanced halves "
    "(deterministic structure-aware salting).  The split decision is "
    "scale-free (occ > 1.25x mean, integer predicate) so it fires on "
    "relative skew at any corpus size; ivf_subsplit_skew_report "
    "measures exactly what it buys.  Scale shape: the split-list "
    "table is n_lists-sized and JOINED on cl (never broadcast); one "
    "extra RP dot product per row; everything else is "
    "ann_sq8pc_ivf_topk verbatim.",
    tags=("llm", "similarity", "ivf", "layout"),
)
def ann_sq8pc_subsplit_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    bits = _rp_adaptive_bits(emb.count())
    base = _subsplit_assigned(emb, bits).transform(
        ckpt
    )  # read by the list-stats build AND the code pass
    stats = _subsplit_list_stats(base).transform(
        ckpt
    )  # read by the corpus keying AND the probe fan-out
    # ONE stats join, merge-hinted (see _subsplit_list_stats: the
    # planner must stream the CORPUS, never the stats RDD), carrying
    # ranges through the corpus row so the ADC needs no second stats
    # join — a second join would re-shuffle candidates on cl and
    # re-concentrate exactly the hot lists the sub-split just balanced
    corpus = (
        base.join(stats.hint("merge"), "cl")
        .select(
            "vec_id",
            F.when(
                F.col("is_split") & (F.col("sub") == 1),
                F.col("cl") + F.lit(1 << bits),
            )
            .otherwise(F.col("cl"))
            .alias("ckl"),
            _sq8_code_from_ranges().alias("codes"),
            "mns",
            "mxs",
        )
    )
    # probe fan-out: parent probes (home + Hamming-1) expand to both
    # children wherever the probed list is split
    parent_probes = _sq8_probe_set(emb, bits)
    qs = (
        parent_probes.join(
            stats.select("cl", "is_split"), "cl", "left"
        )
        .select(
            "qid",
            "qv",
            F.explode(
                F.when(
                    F.coalesce("is_split", F.lit(False)),
                    F.array(F.col("cl"), F.col("cl") + F.lit(1 << bits)),
                ).otherwise(F.array(F.col("cl")))
            ).alias("ckl"),
        )
    )
    j = (
        corpus.join(F.broadcast(qs), "ckl")
        .filter(F.col("vec_id") != F.col("qid"))
        .select(
            "qid",
            F.col("vec_id").alias("nid"),
            _sq8_adc_from_codes().alias("dist_nano"),
        )
    )
    return _sq8_topk(j)


@register(
    "ivf_subsplit_skew_report",
    oracle=f"""
    WITH thr AS (SELECT 1 AS one),
    {_ann_nb_sql("nb1")},
    cle AS (
        SELECT vec_id,
               {_rp_cluster_sql(_IVF_MAX_BITS)}
                   % (1::BIGINT << least(nb1.bits + 1, {_IVF_MAX_BITS}))
                   AS cle,
               nb1.bits AS bits
        FROM embeddings CROSS JOIN nb1
    ),
    asg AS (
        SELECT vec_id, cle % (1::BIGINT << bits) AS cl,
               cle // (1::BIGINT << bits) AS sub, bits
        FROM cle
    ),
    occ AS (SELECT cl, CAST(count(*) AS BIGINT) AS occ
            FROM asg GROUP BY 1),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS nl,
                   CAST(sum(occ) AS BIGINT) AS nv FROM occ),
    sp AS (
        SELECT cl, occ, (4 * occ * nl > 5 * nv) AS is_split
        FROM occ CROSS JOIN tot
    ),
    occ2 AS (
        SELECT CASE WHEN s.is_split AND a.sub = 1
                    THEN a.cl + (1::BIGINT << a.bits)
                    ELSE a.cl END AS ckl,
               CAST(count(*) AS BIGINT) AS occ
        FROM asg a JOIN sp s ON s.cl = a.cl
        GROUP BY 1
    )
    SELECT (SELECT nv FROM tot) AS n_vecs,
           CAST((SELECT bits FROM nb1) AS BIGINT) AS bits,
           (SELECT nl FROM tot) AS n_lists_before,
           round(CAST((SELECT nv FROM tot) AS DOUBLE)
                 / (SELECT nl FROM tot), 4) AS mean_occ,
           (SELECT CAST(max(occ) AS BIGINT) FROM occ) AS max_occ_before,
           (SELECT CAST(sum(CASE WHEN is_split THEN 1 ELSE 0 END)
                        AS BIGINT) FROM sp) AS n_split,
           (SELECT CAST(sum(CASE WHEN is_split THEN occ ELSE 0 END)
                        AS BIGINT) FROM sp) AS split_mass,
           (SELECT CAST(count(*) AS BIGINT) FROM occ2) AS n_lists_after,
           (SELECT CAST(max(occ) AS BIGINT) FROM occ2) AS max_occ_after,
           (SELECT CAST(sum(CASE WHEN 4 * o.occ * t.nl > 5 * t.nv
                                 THEN o.occ ELSE 0 END) AS BIGINT)
            FROM occ2 o CROSS JOIN tot t) AS over_mass_after
    """,
    doc="Sub-split ACTUATOR effectiveness report — the before/after "
    "pair for ann_sq8pc_subsplit_topk: parent-list occupancy stats, "
    "how many lists the 1.25x-mean rule splits and how much posting "
    "mass they carry, then the occupancy distribution at the CHILD "
    "key granularity — max_occ_after and the mass still above the "
    "(fixed, before-mean) threshold are the measured claim that one "
    "deterministic hyperplane bit rebalances the hot lists "
    "(pytest-gated: max child occupancy strictly below max parent "
    "occupancy, residual over-threshold mass strictly reduced).  "
    "The yardstick deliberately stays the BEFORE mean so the two "
    "sides compare against the same bar.  Scale shape: occupancy "
    "tables are n_lists-sized; one bounded rollup; only the 1-row "
    "totals broadcast; integer split predicate (4*occ*n_lists > "
    "5*n_vecs) exact on both engines — occ*n_lists <= 1e12*65536 "
    "stays far inside 2^63.",
    tags=("llm", "similarity", "ivf", "stats", "dataops"),
)
def ivf_subsplit_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    bits = _rp_adaptive_bits(emb.count())
    asg = _subsplit_assigned(emb, bits).select("vec_id", "cl", "sub")
    lists = _subsplit_lists(asg).transform(
        ckpt
    )  # read by the before-rollup, the child keying, and the totals
    tot = lists.agg(
        F.count("*").cast("bigint").alias("_nl"),
        F.sum("occ").cast("bigint").alias("_nv"),
    ).transform(ckpt)  # read by the report row AND the after-threshold
    occ2 = (
        asg.join(lists.select("cl", "is_split"), "cl")
        .select(
            F.when(
                F.col("is_split") & (F.col("sub") == 1),
                F.col("cl") + F.lit(1 << bits),
            )
            .otherwise(F.col("cl"))
            .alias("ckl")
        )
        .groupBy("ckl")
        .agg(F.count("*").cast("bigint").alias("occ"))
    )
    before = lists.agg(
        F.max("occ").cast("bigint").alias("max_occ_before"),
        F.sum(F.col("is_split").cast("int")).cast("bigint").alias(
            "n_split"
        ),
        F.sum(F.when(F.col("is_split"), F.col("occ")).otherwise(F.lit(0)))
        .cast("bigint")
        .alias("split_mass"),
    )
    after = (
        occ2.crossJoin(F.broadcast(tot))
        .agg(
            F.count("*").cast("bigint").alias("n_lists_after"),
            F.max("occ").cast("bigint").alias("max_occ_after"),
            F.sum(
                F.when(
                    4 * F.col("occ") * F.col("_nl") > 5 * F.col("_nv"),
                    F.col("occ"),
                ).otherwise(F.lit(0))
            )
            .cast("bigint")
            .alias("over_mass_after"),
        )
    )
    return (
        tot.crossJoin(F.broadcast(before))
        .crossJoin(F.broadcast(after))
        .select(
            F.col("_nv").alias("n_vecs"),
            F.lit(bits).cast("bigint").alias("bits"),
            F.col("_nl").alias("n_lists_before"),
            F.round(
                F.col("_nv").cast("double") / F.col("_nl"), 4
            ).alias("mean_occ"),
            "max_occ_before",
            "n_split",
            "split_mass",
            "n_lists_after",
            "max_occ_after",
            "over_mass_after",
        )
    )


def _ann_probe_parents(qrow, bits: int, probe_budget: int | None) -> list[int]:
    """The serving request's parent-list probe set — home cluster
    first, then the Hamming-1 neighbors in plane order, truncated to
    ``probe_budget`` lists (None = the tier's full 1 + bits fan).  A
    smaller budget trades recall for per-request IO linearly."""
    parents = [int(qrow.cl0)] + [int(qrow.cl0) ^ (1 << i) for i in range(bits)]
    return parents if probe_budget is None else parents[:probe_budget]


def _ann_serve(
    spark: SparkSession,
    code_tables: list[str],
    t_stats: str,
    bits: int,
    qv: list[float],
    probe_parents: list[int],
    k: int = 3,
    exclude_id: int | None = None,
    null_safe: bool = False,
) -> DataFrame:
    """Parameterized single-request ANN serving path over a persisted
    (optionally segmented) index: (query vector, k, probe set) in,
    top-k out.  The probed parent lists expand to their sub-split
    children via ONE bounded stats lookup (<= |probe_parents| rows —
    request-side, never corpus-sized), and the resulting child-key
    set is pushed as a LITERAL IN-filter on EVERY bucketed codes scan
    (v1 and each delta segment), so each scan prunes to the probed
    buckets (SelectedBucketsCount, plan-gated) — per-request IO is
    |probed lists| * |tables|, not |corpus|.  The stats scan for the
    ADC join is literal-filtered identically; after the filter it is
    bounded by the probe set, so the broadcast the planner picks here
    is the documented-safe bounded case, unlike the batch form's
    corpus-growing stats join.  ``null_safe`` covers segment reads
    (vectors in lists v1 never saw carry all-zero codes)."""
    split_rows = (
        _ann_parent_stats(spark, t_stats)
        .filter(F.col("is_split"))
        .filter(F.col("cl").isin([int(c) for c in probe_parents]))
        .select("cl")
        .collect()
    )
    probe_ckls = sorted(
        {int(c) for c in probe_parents}
        | {int(r.cl) + (1 << bits) for r in split_rows}
    )
    qdf = local_frame(spark, [(0, [float(x) for x in qv])], "qid long, qv array<float>")
    stats = spark.table(t_stats).filter(F.col("ckl").isin(probe_ckls))
    cand = None
    for ts in code_tables:
        c = spark.table(ts).filter(F.col("ckl").isin(probe_ckls))
        if exclude_id is not None:
            c = c.filter(F.col("vec_id") != exclude_id)
        c = (
            c.join(stats, "ckl", "left" if null_safe else "inner")
            .crossJoin(F.broadcast(qdf))
            .select(
                "qid",
                F.col("vec_id").alias("nid"),
                _sq8_adc_from_codes(null_safe=null_safe).alias("dist_nano"),
            )
        )
        cand = c if cand is None else cand.unionByName(c)
    return _sq8_topk(cand, k=k)


@register(
    "ann_sq8pc_persisted_serve",
    oracle=f"SELECT * FROM ({_sq8pc_oracle()}) WHERE qid = 0",
    doc="Single-query SERVING path over the persisted ANN index — the "
    "missing read form SCALE_r14.md's x100 point motivates: the "
    "broadcast-probe batch form (ann_sq8pc_persisted_topk) is "
    "query-count-agnostic but still SCANS the whole codes table; a "
    "serving request knows its probe clusters up front, so this path "
    "computes the ONE query's home + Hamming-1 cluster codes (a "
    "1-row Spark job with the exact tier expression — never a Python "
    "reimplementation that could drift), pushes them as a LITERAL "
    "IN-filter on the bucketed codes scan, and the scan prunes "
    "unread buckets (SelectedBucketsCount — plan-gated in "
    "tests/test_bucketing.py): per-request IO is |probed lists|, "
    "not |corpus|.  The candidate→ranges join stays bucket-"
    "co-located; the query vector arrives as a 1-row broadcast (the "
    "documented-safe scalar broadcast); ADC and the (dist, id) "
    "tiebreak are the tier's own, so answers equal "
    "ann_sq8pc_persisted_topk's qid=0 rows exactly (the oracle is "
    "the tier oracle restricted to qid 0).  The top-k window runs "
    "over one occupancy-bounded candidate set (~(1+bits)*256 rows) — "
    "bounded by the adaptive-bits rule, never corpus-sized.  "
    "Round 15: the registered entry is the qid-0 instantiation of "
    "the PARAMETERIZED request form _ann_serve(query vector, k, "
    "probe budget) — the probed parents expand over the persisted "
    "sub-split geometry via one bounded stats lookup, and every "
    "scan (codes AND stats) prunes on the literal child-key set.",
    tags=("llm", "similarity", "ivf", "layout"),
)
def ann_sq8pc_persisted_serve(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    t_codes, t_stats, bits, _n_bkts = _build_persisted_ann_index(
        spark, emb, "annsv"
    )
    # the serving request: query vector + its probe clusters, both from
    # 1-row Spark jobs using the tier's own expressions
    qrow = (
        emb.filter(F.col("vec_id") == 0)
        .select("embedding", _rp_cluster_spark(bits).alias("cl0"))
        .first()
    )
    return _ann_serve(
        spark,
        [t_codes],
        t_stats,
        bits,
        [float(x) for x in qrow.embedding],
        _ann_probe_parents(qrow, bits, probe_budget=None),
        k=3,
        exclude_id=0,
    )


@register(
    "ann_sq8pc_segmented_serve",
    oracle=f"SELECT * FROM ({_ann_seg_probe_oracle()}) WHERE qid = 0",
    doc="Single-query SERVING path over the SEGMENTED index — the "
    "between-folds form ann_sq8pc_persisted_serve was missing: a "
    "served answer must see v1 AND everything ingested since the "
    "last fold, so the request's literal child-key probe set (one "
    "bounded stats lookup expands the probed parents over the "
    "persisted sub-split geometry) filters EVERY bucketed codes "
    f"table — v1 plus each of the {_LSM_FOLD_K} delta-code segments "
    "— and each scan prunes to the probed buckets "
    "(SelectedBucketsCount on every table, plan-gated in "
    "tests/test_bucketing.py): per-request IO is |probed lists| x "
    "(K+1) tables, never |corpus|, and the K+1 term is exactly the "
    "read-amplification the fold resets (ann_fold_policy_report "
    "turns it into the fold verdict).  Candidate rows union AFTER "
    "per-table pruning (the round-13 K-way-merge lesson), one "
    "bounded top-k; segment codes carry v1 ranges by LEFT stats "
    "join (null-safe ADC — a vector in a list v1 never saw "
    "reconstructs to the all-zero codes it was written with).  "
    "Answers equal ann_sq8pc_segmented_probe's qid-0 rows exactly "
    "(the oracle is the segmented-tier oracle restricted to qid 0); "
    "the registered entry is the qid-0 instantiation of the "
    "parameterized _ann_serve(query vector, k, probe budget).",
    tags=("llm", "similarity", "ivf", "layout"),
)
def ann_sq8pc_segmented_serve(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    t_codes, t_stats, seg_tables, bits, _n_bkts, _thr = (
        _build_ann_segmented_index(spark, emb, "annss")
    )
    qrow = (
        emb.filter(F.col("vec_id") == 0)
        .select("embedding", _rp_cluster_spark(bits).alias("cl0"))
        .first()
    )
    return _ann_serve(
        spark,
        [t_codes] + seg_tables,
        t_stats,
        bits,
        [float(x) for x in qrow.embedding],
        _ann_probe_parents(qrow, bits, probe_budget=None),
        k=3,
        exclude_id=0,
        null_safe=True,
    )


def _ann_batch_probe(
    spark: SparkSession,
    t_codes: str,
    t_stats: str,
    bits: int,
    qs_parent: DataFrame,
) -> DataFrame:
    """Batch probe over the persisted index with a DETERMINISTIC
    route choice — the middle ground between the broadcast batch form
    (scans all codes) and the single-request serve (literal prune):
    the batch's unioned child-key probe set is collected (bounded by
    |batch| x (2 + bits) rows — request-side, never corpus-sized, the
    same justified collect class as the serve path's .first()) and,
    when it covers at most HALF the index's child lists
    (2 x |probe set| <= n_children — an integer predicate), pushed as
    a literal IN-filter so every index scan bucket-prunes; otherwise
    the probe set is broadcast against the full bucketed scans (a
    dense batch reads the whole index either way, and the broadcast
    form wins by skipping the pruning bookkeeping).  Both routes are
    candidate-identical, so the answer does not depend on the route —
    only the IO does.  At production scale n_children ~ corpus/256
    while a serving batch stays bounded, so the literal route is the
    steady state and per-batch IO is |union of probed lists|, not
    |corpus| — closing the x100 full-scan term SCALE_r14_ann.json
    measured on the always-broadcast form."""
    qs = _sq8_fan_to_children(spark, qs_parent, t_stats, bits).transform(
        ckpt
    )  # read by the route decision AND the candidate join
    probe_ckls = sorted(
        r.ckl for r in qs.select("ckl").distinct().collect()
    )
    n_children = spark.table(t_stats).count()
    codes = spark.table(t_codes)
    stats = spark.table(t_stats)
    if 2 * len(probe_ckls) <= n_children:
        codes = codes.filter(F.col("ckl").isin(probe_ckls))
        stats = stats.filter(F.col("ckl").isin(probe_ckls))
    return _sq8_topk(_sq8_candidates(codes, qs, stats))


@register(
    "ann_sq8pc_batch_pruned_topk",
    oracle=_sq8pc_oracle(),
    doc="Batch probe with DETERMINISTIC literal-vs-broadcast routing "
    "(_ann_batch_probe): the real serving workload sits between the "
    "broadcast batch form (ann_sq8pc_persisted_topk — scans every "
    "code at any batch size) and the 1-request serve "
    "(ann_sq8pc_persisted_serve — literal prune): a BOUNDED query "
    "batch whose unioned probe-cluster set is far below n_lists.  "
    "When the union covers at most half the child lists (integer "
    "predicate, 2x|union| <= n_children), it is pushed as a literal "
    "IN-filter and every index scan bucket-prunes "
    "(SelectedBucketsCount, plan-gated on the sparse-batch shape in "
    "tests/test_bucketing.py); above the threshold the broadcast "
    "form is used unchanged.  The routes are candidate-identical — "
    "same oracle as the tier, answers bit-identical regardless of "
    "route — only per-batch IO changes, which is why the choice can "
    "be an integer rule instead of a cost model.  The probe-set "
    "collect is bounded by |batch| x (2 + bits) rows (request-side); "
    "the index is never re-derived or re-shuffled on either route.",
    tags=("llm", "similarity", "ivf", "layout"),
)
def ann_sq8pc_batch_pruned_topk(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    t_codes, t_stats, bits, _n_bkts = _build_persisted_ann_index(
        spark, emb, "annbp"
    )
    return _ann_batch_probe(
        spark, t_codes, t_stats, bits, _sq8_probe_set(emb, bits)
    )


def _ann_seg_recall_oracle() -> str:
    """Recall oracle for the SEGMENTED probe: the tier replay is the
    segmented-probe oracle verbatim; the pruning ceiling fans with
    the V1 bit count (nb1 — the geometry the tier actually probes
    with, derived over vec_id < thr.t exactly like the builder); the
    rollup is integer-sum micro-averages (order-free BIGINT sums,
    one double division at the end)."""
    return f"""
    WITH seg AS (SELECT * FROM ({_ann_seg_probe_oracle()})),
    thr AS (
        SELECT CAST(floor(0.8 * (max(vec_id) + 1)) AS BIGINT) AS t
        FROM embeddings
    ),
    {_ann_nb_sql("nb1", "WHERE vec_id < thr.t")},
    cl1 AS (
        SELECT vec_id,
               {_rp_cluster_sql(_IVF_MAX_BITS)} % (1::BIGINT << nb1.bits)
                   AS cl
        FROM embeddings CROSS JOIN nb1
    ),
    probes1 AS (
        SELECT cq.vec_id AS qid,
               unnest(list_prepend(cq.cl, list_transform(
                   list_filter({list(range(_IVF_MAX_BITS))},
                               i -> i < nb1.bits),
                   i -> xor(cq.cl, CAST(1 << i AS BIGINT))))) AS pcl
        FROM cl1 cq CROSS JOIN nb1
        WHERE cq.vec_id % 100 = 0
    ),
    qev AS (
        SELECT vec_id AS qid, generate_subscripts(embedding, 1) AS d,
               CAST(unnest(embedding) AS DOUBLE) AS v
        FROM embeddings WHERE vec_id % 100 = 0
    ),
    cev AS (
        SELECT vec_id AS nid, generate_subscripts(embedding, 1) AS d,
               CAST(unnest(embedding) AS DOUBLE) AS v
        FROM embeddings
    ),
    dist AS (
        SELECT q.qid, c.nid,
               CAST(sum(CAST(round(pow(q.v - c.v, 2) * 1000000000, 0)
                             AS BIGINT)) AS BIGINT) AS dn
        FROM qev q JOIN cev c ON c.d = q.d AND c.nid <> q.qid
        GROUP BY 1, 2
    ),
    exact3 AS (
        SELECT qid, nid, rn FROM (
            SELECT qid, nid,
                   row_number() OVER (PARTITION BY qid
                                      ORDER BY dn, nid) AS rn
            FROM dist
        ) WHERE rn <= 3
    ),
    per_q AS (
        SELECT b.qid,
               CAST(count(i.nid) AS BIGINT) AS n_hit,
               CAST(count(*) AS BIGINT) AS k
        FROM exact3 b
        LEFT JOIN seg i ON i.qid = b.qid AND i.nid = b.nid
        GROUP BY 1
    ),
    top1 AS (
        SELECT b.qid,
               max(CASE WHEN i.nid IS NOT NULL THEN 1 ELSE 0 END) AS agree
        FROM exact3 b
        LEFT JOIN seg i ON i.qid = b.qid AND i.nid = b.nid AND i.rn = 1
        WHERE b.rn = 1
        GROUP BY 1
    ),
    listq AS (
        SELECT b.qid,
               CAST(count(p.pcl) AS BIGINT) AS n_list,
               CAST(count(*) AS BIGINT) AS lk
        FROM exact3 b
        JOIN cl1 n ON n.vec_id = b.nid
        LEFT JOIN probes1 p ON p.qid = b.qid AND p.pcl = n.cl
        GROUP BY 1
    )
    SELECT CAST(count(*) AS BIGINT) AS n_queries,
           round(CAST(sum(p.n_hit) AS DOUBLE) / sum(p.k), 4)
               AS recall_at_3,
           round(CAST(sum(t.agree) AS DOUBLE) / count(*), 4)
               AS top1_agreement,
           round(CAST(sum(l.n_list) AS DOUBLE) / sum(l.lk), 4)
               AS list_recall_ceiling,
           round(CAST(sum(l.n_list) AS DOUBLE) / sum(l.lk)
                 - CAST(sum(p.n_hit) AS DOUBLE) / sum(p.k), 4)
               AS quant_stale_loss
    FROM per_q p
    JOIN top1 t ON t.qid = p.qid
    JOIN listq l ON l.qid = p.qid
    """


@register(
    "ann_seg_recall_audit",
    oracle=_ann_seg_recall_oracle(),
    doc="RECALL GATE for the between-folds read path — what "
    "ann_index_segment_lifecycle prices in reconstruction MSE, "
    "priced in what a USER sees: recall@3 and top-1 agreement of "
    "the v1 + K-segments answer (ann_sq8pc_segmented_probe) against "
    "the exact integer-nano-unit L2 top-3 over the FULL corpus "
    "(index + everything ingested since the fold), with the loss "
    "DECOMPOSED: list_recall_ceiling is the fraction of exact top-3 "
    "reachable through the V1 probe lists at all (the tier fans "
    "with v1 bits until the fold — the ceiling uses exactly that "
    "geometry), and quant_stale_loss = ceiling - recall is the "
    "damage from uint8 quantization PLUS stale v1 ranges clamping "
    "segment vectors — the component the fold heals (the MSE heal "
    "is ~100x, gated in tests/test_stats_invariants.py; this audit "
    "gates that the RANKINGS survive too).  Fold policy rule: when "
    "quant_stale_loss grows past the fold budget while the "
    "out-of-band count streaming_ann_vector_ingest emits keeps "
    "rising, ann_fold_policy_report flips to fold=true — this audit "
    "is the user-facing number that justifies the threshold.  "
    "Rollup discipline: integer BIGINT sums per component, ONE "
    "double division after aggregation (order-free on both "
    "engines).  Scale: exact baseline = query sample x corpus "
    "(the declared exact-baseline pattern), tier cost = the "
    "segmented probe itself; audit class — run on a sample per "
    "fold cycle, never per query.",
    tags=("llm", "similarity", "quality", "dataops"),
)
def ann_seg_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    t = emb.agg(
        F.floor(0.8 * (F.max("vec_id") + 1)).cast("bigint")
    ).first()[0]
    v1_bits = _rp_adaptive_bits(emb.filter(F.col("vec_id") < t).count())
    return _sq8_recall_report(
        spark, sf_dir, ann_sq8pc_segmented_probe, bits=v1_bits, micro=True
    )


# Fold-policy thresholds — literals on purpose (an integer rule both
# engines evaluate exactly, not a cost model): fold when the segment
# count reaches the LSM budget, when >5% of ingested vectors clamped
# against stale v1 ranges (20 * n_oob > n_seg), or when segments carry
# >25% of the corpus (4 * n_seg > n_total).
_ANN_FOLD_MAX_SEGMENTS = _LSM_FOLD_K


def _ann_fold_policy_oracle() -> str:
    return f"""
    WITH {_ann_lifecycle_core_sql()},
    segv AS (
        SELECT e.vec_id,
               max(CASE WHEN s.mn IS NULL OR e.v < s.mn OR e.v > s.mx
                        THEN 1 ELSE 0 END) AS oob
        FROM ev e
        JOIN cl1 c ON c.vec_id = e.vec_id
        LEFT JOIN cdims1 s ON s.cl = c.cl AND s.d = e.d
        CROSS JOIN thr
        WHERE e.vec_id >= thr.t
        GROUP BY 1
    ),
    sega AS (
        SELECT CAST(count(*) AS BIGINT) AS n_seg,
               CAST(sum(oob) AS BIGINT) AS n_oob
        FROM segv
    ),
    idxa AS (
        SELECT CAST(count(*) AS BIGINT) AS n_idx
        FROM embeddings CROSS JOIN thr WHERE vec_id < thr.t
    )
    SELECT CAST({_LSM_FOLD_K} AS BIGINT) AS n_segments,
           n_idx AS n_index_vecs,
           n_seg AS n_segment_vecs,
           n_oob AS n_oob_segment,
           round(CAST(n_oob AS DOUBLE) / n_seg, 6) AS oob_frac,
           round(CAST(n_seg AS DOUBLE) / (n_seg + n_idx), 6) AS seg_frac,
           CAST({_LSM_FOLD_K + 1} AS BIGINT) AS probe_read_amp,
           ({1 if _LSM_FOLD_K >= _ANN_FOLD_MAX_SEGMENTS else 0} = 1)
               OR (20 * n_oob > n_seg)
               OR (4 * n_seg > n_seg + n_idx) AS should_fold,
           CASE WHEN {1 if _LSM_FOLD_K >= _ANN_FOLD_MAX_SEGMENTS else 0} = 1
                     THEN 'k_segments_at_budget'
                WHEN 20 * n_oob > n_seg THEN 'stale_range_oob'
                WHEN 4 * n_seg > n_seg + n_idx THEN 'segment_mass'
                ELSE 'none' END AS reason
    FROM sega CROSS JOIN idxa
    """


@register(
    "ann_fold_policy_report",
    oracle=_ann_fold_policy_oracle(),
    doc="FOLD-DECISION operator — the verdict the fold signals were "
    "missing: ann_index_segment_lifecycle prices the drift, "
    "streaming_ann_vector_ingest emits the out-of-band counts, the "
    "segmented probe/serve pay the (K+1)-table read-amplification — "
    "this query turns those inputs into fold / no-fold with the "
    "thresholds as LITERALS (an integer rule, not a cost model): "
    f"fold when K >= {_ANN_FOLD_MAX_SEGMENTS} segments (the LSM "
    "budget — read-amp is K+1 tables per request), when >5% of "
    "ingested vectors clamped against stale v1 ranges "
    "(20 * n_oob > n_seg — the precursor of the recall damage "
    "ann_seg_recall_audit measures), or when segments carry >25% of "
    "the corpus (4 * n_seg > n_total — the fold's linear rebuild is "
    "then amortized).  All three predicates are exact integer "
    "comparisons on both engines; the fractions are reported "
    "(rounded) for the dashboard, never compared.  Every input is "
    "computed FROM the persisted artifacts (segment codes + v1 "
    "stats), so the report audits the index as it exists, not a "
    "bypass plan; examples/run_ann_index_pipeline.py folds WHEN "
    "this report says so rather than unconditionally.  Scale "
    "shape: one linear pass over segment codes joined to the "
    "n_lists-sized stats table on the bucketed child key, two "
    "1-row aggregates — audit class, run per ingest cycle.",
    tags=("llm", "similarity", "ivf", "stats", "dataops", "pipeline"),
)
def ann_fold_policy_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from functools import reduce

    emb = load_table(spark, sf_dir, "embeddings")
    t_codes, t_stats, seg_tables, _bits, _n_bkts, _thr = (
        _build_ann_segmented_index(spark, emb, "annfp")
    )
    seg_codes = reduce(
        lambda a, b: a.unionByName(b),
        [spark.table(t) for t in seg_tables],
    )
    oob = F.expr(
        "CASE WHEN mns IS NULL THEN 1 ELSE cast(exists("
        f"sequence(1, {_RP_DIM}), d -> "
        "cast(element_at(embedding, d) as double) < element_at(mns, d) OR "
        "cast(element_at(embedding, d) as double) > element_at(mxs, d)"
        ") as int) END"
    )
    sega = (
        seg_codes.join(spark.table(t_stats), "ckl", "left")
        .join(emb.select("vec_id", "embedding"), "vec_id")
        .agg(
            F.count("*").cast("bigint").alias("n_seg"),
            F.sum(oob).cast("bigint").alias("n_oob"),
        )
    )
    idxa = spark.table(t_codes).agg(
        F.count("*").cast("bigint").alias("n_idx")
    )
    k_full = F.lit(_LSM_FOLD_K >= _ANN_FOLD_MAX_SEGMENTS)
    oob_hot = 20 * F.col("n_oob") > F.col("n_seg")
    seg_heavy = 4 * F.col("n_seg") > F.col("n_seg") + F.col("n_idx")
    return sega.crossJoin(F.broadcast(idxa)).select(
        F.lit(_LSM_FOLD_K).cast("bigint").alias("n_segments"),
        F.col("n_idx").alias("n_index_vecs"),
        F.col("n_seg").alias("n_segment_vecs"),
        F.col("n_oob").alias("n_oob_segment"),
        F.round(F.col("n_oob").cast("double") / F.col("n_seg"), 6).alias(
            "oob_frac"
        ),
        F.round(
            F.col("n_seg").cast("double")
            / (F.col("n_seg") + F.col("n_idx")),
            6,
        ).alias("seg_frac"),
        F.lit(_LSM_FOLD_K + 1).cast("bigint").alias("probe_read_amp"),
        (k_full | oob_hot | seg_heavy).alias("should_fold"),
        F.when(k_full, F.lit("k_segments_at_budget"))
        .when(oob_hot, F.lit("stale_range_oob"))
        .when(seg_heavy, F.lit("segment_mass"))
        .otherwise(F.lit("none"))
        .alias("reason"),
    )


def _ann_probe_budget_oracle() -> str:
    """Per-budget replay: the tier's quantization + per-parent-list
    candidates, each probe carrying its rank (home = 0, plane i =
    i + 1), budgets 1..bits+1, per-budget top-3 vs the exact
    integer-nano L2 baseline — integer sums, one double division."""
    branches = "\n        UNION ALL\n".join(
        f"        SELECT vec_id, {i + 1} AS pidx,"
        f" xor(cl, CAST({1 << i} AS BIGINT)) AS cl"
        f" FROM clq CROSS JOIN nb WHERE {i} < nb.bits"
        for i in range(_IVF_MAX_BITS)
    )
    return f"""
    WITH nb AS (
        SELECT least(greatest(3,
                   CASE WHEN ((count(*) + {_IVF_TARGET_BUCKET - 1})
                              // {_IVF_TARGET_BUCKET}) <= 1 THEN 0
                        ELSE length(bin(((count(*) + {_IVF_TARGET_BUCKET - 1})
                                         // {_IVF_TARGET_BUCKET}) - 1)) END),
                     {_IVF_MAX_BITS}) AS bits
        FROM embeddings
    ),
    ev AS (
        SELECT vec_id, generate_subscripts(embedding, 1) AS d,
               CAST(unnest(embedding) AS DOUBLE) AS v
        FROM embeddings
    ),
    cl AS (
        SELECT vec_id,
               {_rp_cluster_sql(_IVF_MAX_BITS)} % (1::BIGINT << nb.bits)
                   AS cl
        FROM embeddings CROSS JOIN nb
    ),
    cdims AS (
        SELECT cl.cl, e.d, min(e.v) AS mn, max(e.v) AS mx
        FROM ev e JOIN cl ON cl.vec_id = e.vec_id
        GROUP BY 1, 2
    ),
    codes AS (
        SELECT e.vec_id, e.d, s.mn, s.mx,
               CASE WHEN s.mx > s.mn
                    THEN least(255, greatest(0,
                         CAST(round((e.v - s.mn)
                                    / ((s.mx - s.mn) / 255.0), 0)
                              AS INTEGER)))
                    ELSE 0 END AS code
        FROM ev e
        JOIN cl ON cl.vec_id = e.vec_id
        JOIN cdims s ON s.cl = cl.cl AND s.d = e.d
    ),
    q AS (SELECT vec_id AS qid, d, v FROM ev WHERE vec_id % 100 = 0),
    clq AS (SELECT vec_id, cl FROM cl WHERE vec_id % 100 = 0),
    probes AS (
        SELECT vec_id AS qid, 0 AS pidx, cl FROM clq
        UNION ALL
{branches}
    ),
    adc AS (
        SELECT q.qid, p.pidx, cc.vec_id AS nid,
               CAST(sum(CAST(round(pow(q.v - (c.mn
                              + CASE WHEN c.mx > c.mn
                                     THEN (c.mx - c.mn) / 255.0
                                     ELSE 0 END * c.code), 2)
                                   * 1000000000, 0) AS BIGINT))
                    AS BIGINT) AS dist_nano
        FROM q
        JOIN probes p ON p.qid = q.qid
        JOIN cl cc ON cc.cl = p.cl AND cc.vec_id <> q.qid
        JOIN codes c ON c.vec_id = cc.vec_id AND c.d = q.d
        GROUP BY 1, 2, 3
    ),
    bud AS (
        SELECT unnest(generate_series(1, nb.bits + 1)) AS b FROM nb
    ),
    byb AS (
        SELECT a.qid, a.nid, a.dist_nano, bu.b
        FROM adc a JOIN bud bu ON bu.b > a.pidx
    ),
    topb AS (
        SELECT qid, b, nid FROM (
            SELECT qid, b, nid,
                   row_number() OVER (PARTITION BY qid, b
                                      ORDER BY dist_nano, nid) AS rn
            FROM byb
        ) WHERE rn <= 3
    ),
    ncand AS (
        SELECT b, CAST(count(*) AS BIGINT) AS n_cand FROM byb GROUP BY 1
    ),
    qev AS (
        SELECT vec_id AS qid, generate_subscripts(embedding, 1) AS d,
               CAST(unnest(embedding) AS DOUBLE) AS v
        FROM embeddings WHERE vec_id % 100 = 0
    ),
    cev AS (
        SELECT vec_id AS nid, generate_subscripts(embedding, 1) AS d,
               CAST(unnest(embedding) AS DOUBLE) AS v
        FROM embeddings
    ),
    dist AS (
        SELECT qe.qid, c.nid,
               CAST(sum(CAST(round(pow(qe.v - c.v, 2) * 1000000000, 0)
                             AS BIGINT)) AS BIGINT) AS dn
        FROM qev qe JOIN cev c ON c.d = qe.d AND c.nid <> qe.qid
        GROUP BY 1, 2
    ),
    exact3 AS (
        SELECT qid, nid FROM (
            SELECT qid, nid,
                   row_number() OVER (PARTITION BY qid
                                      ORDER BY dn, nid) AS rn
            FROM dist
        ) WHERE rn <= 3
    ),
    rec AS (
        SELECT bu.b,
               CAST(count(*) AS BIGINT) AS n_rows,
               CAST(count(t.nid) AS BIGINT) AS n_hit
        FROM exact3 e
        CROSS JOIN bud bu
        LEFT JOIN topb t ON t.qid = e.qid AND t.b = bu.b
                        AND t.nid = e.nid
        GROUP BY 1
    )
    SELECT CAST(r.b AS INTEGER) AS budget,
           CAST(r.n_rows // 3 AS BIGINT) AS n_queries,
           round(CAST(coalesce(n.n_cand, 0) AS DOUBLE)
                 / (r.n_rows // 3), 4) AS avg_candidates,
           round(CAST(r.n_hit AS DOUBLE) / r.n_rows, 4) AS recall_at_3
    FROM rec r LEFT JOIN ncand n ON n.b = r.b
    ORDER BY 1
    """


@register(
    "ann_probe_budget_curve",
    oracle=_ann_probe_budget_oracle(),
    doc="PROBE-BUDGET / RECALL tradeoff curve — the measurement "
    "behind _ann_serve's probe_budget parameter: for every budget b "
    "in 1..(1 + bits) (home list first, then Hamming-1 neighbors in "
    "plane order — exactly the order _ann_probe_parents truncates), "
    "recall@3 of the budget-b answer against the exact "
    "integer-nano-unit L2 top-3, next to the candidate volume the "
    "budget buys (avg_candidates = per-request IO in rows).  A "
    "serving operator reads this table to pick the cheapest budget "
    "meeting its recall SLO; monotonicity (recall and IO both "
    "non-decreasing in b) is pytest-gated, and the b = 1 + bits row "
    "equals sq8pc_recall_audit's recall by construction.  Physical "
    "shape: probes carry their rank through the ONE candidate pass "
    "over the persisted index (each vector's list is probed at "
    "exactly one rank, so candidates expand to budgets by a "
    "map-side sequence explode — no per-budget re-probe, no join); "
    "the per-(query, budget) top-k window is "
    "candidate-x-budget-bounded, never corpus-sized.  Rollup: "
    "integer BIGINT sums, one double division (order-free).",
    tags=("llm", "similarity", "quality", "dataops"),
)
def ann_probe_budget_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    emb = load_table(spark, sf_dir, "embeddings")
    t_codes, t_stats, bits, _n_bkts = _build_persisted_ann_index(
        spark, emb, "annpbc"
    )
    # each probe carries its rank (pidx) in the _ann_probe_parents order
    probes = _sq8_query_sample(emb, _rp_cluster_spark(bits).alias("cl0")).select(
        "qid", "qv", F.posexplode(_sq8_probe_lists(bits)).alias("pidx", "cl")
    )
    qs = _sq8_fan_to_children(spark, probes, t_stats, bits).transform(
        ckpt
    )  # read by the candidate pass AND nothing else
    cand = _sq8_candidates(spark.table(t_codes), qs, spark.table(t_stats))
    byb = cand.select(
        "qid",
        "nid",
        "dist_nano",
        F.explode(F.expr(f"sequence(pidx + 1, {bits + 1})")).alias("b"),
    ).transform(ckpt)  # read by the top-k pass AND the volume rollup
    w = W.partitionBy("qid", "b").orderBy(F.asc("dist_nano"), F.asc("nid"))
    topb = (
        byb.withColumn("rn", F.row_number().over(w).cast("int"))
        .filter(F.col("rn") <= 3)
        .select("qid", "b", F.col("nid").alias("tnid"))
    )
    ncand = byb.groupBy("b").agg(
        F.count("*").cast("bigint").alias("n_cand")
    )
    exact3 = _sq8_exact_top3(emb).select("qid", "nid")
    budgets = (
        spark.range(1)
        .select(F.explode(F.expr(f"sequence(1, {bits + 1})")).alias("b"))
    )
    # explicit-condition left join (qid, b, nid == tnid)
    e = exact3.crossJoin(F.broadcast(budgets)).alias("e")
    t = topb.alias("t")
    rec = (
        e.join(
            t,
            (F.col("e.qid") == F.col("t.qid"))
            & (F.col("e.b") == F.col("t.b"))
            & (F.col("e.nid") == F.col("t.tnid")),
            "left",
        )
        .groupBy(F.col("e.b").alias("b"))
        .agg(
            F.count("*").cast("bigint").alias("n_rows"),
            F.count(F.col("t.tnid")).cast("bigint").alias("n_hit"),
        )
    )
    return (
        rec.join(ncand, "b", "left")
        .select(
            F.col("b").cast("int").alias("budget"),
            F.expr("n_rows div 3").cast("bigint").alias("n_queries"),
            F.round(
                F.coalesce(F.col("n_cand"), F.lit(0)).cast("double")
                / F.expr("n_rows div 3"),
                4,
            ).alias("avg_candidates"),
            F.round(
                F.col("n_hit").cast("double") / F.col("n_rows"), 4
            ).alias("recall_at_3"),
        )
        .orderBy("budget")
    )


def _dedup_fold_policy_oracle() -> str:
    return f"""
    WITH thr AS (
        SELECT CAST(floor(0.8 * (max(doc_id) + 1)) AS BIGINT) AS t,
               CAST(max(doc_id) + 1 AS BIGINT) AS m
        FROM documents
    ),
    {_band_core_sql()},
    tail AS (
        SELECT d.doc_id, d.text,
               least({_LSM_FOLD_K - 1},
                     ((d.doc_id - thr.t) * {_LSM_FOLD_K})
                         // (thr.m - thr.t)) AS seg
        FROM documents d JOIN thr ON d.doc_id >= thr.t
    ),
    kept AS (
        SELECT b.doc_id, b.seg
        FROM tail b
        WHERE NOT EXISTS (
            SELECT 1 FROM documents i, thr t2
            WHERE i.doc_id < t2.t AND i.text = b.text
        )
        AND NOT EXISTS (
            SELECT 1 FROM tail e WHERE e.seg < b.seg AND e.text = b.text
        )
    ),
    cells AS (
        SELECT band_id, band_val,
               sum(CASE WHEN side < 0 THEN 1 ELSE 0 END) AS n_idx,
               sum(CASE WHEN side >= 0 THEN 1 ELSE 0 END) AS n_seg
        FROM (
            SELECT b.band_id, b.band_val, CAST(-1 AS BIGINT) AS side
            FROM bands b JOIN thr ON b.doc_id < thr.t
            UNION ALL
            SELECT b.band_id, b.band_val, k.seg AS side
            FROM bands b JOIN kept k ON k.doc_id = b.doc_id
        )
        GROUP BY 1, 2
    ),
    agg AS (
        SELECT CAST(sum(n_idx) AS BIGINT) AS n_idx,
               CAST(sum(n_seg) AS BIGINT) AS n_seg,
               CAST(sum(CASE WHEN n_idx + n_seg > {_MH_MAX_BUCKET}
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_hot
        FROM cells
    )
    SELECT CAST({_LSM_FOLD_K} AS BIGINT) AS n_segments,
           n_idx AS n_index_postings,
           n_seg AS n_segment_postings,
           round(CAST(n_seg AS DOUBLE) / (n_idx + n_seg), 6) AS seg_frac,
           n_hot AS n_hot_buckets,
           CAST({_LSM_FOLD_K + 1} AS BIGINT) AS probe_read_amp,
           ({1 if _LSM_FOLD_K >= _ANN_FOLD_MAX_SEGMENTS else 0} = 1)
               OR (4 * n_seg > n_idx + n_seg) AS should_fold,
           CASE WHEN {1 if _LSM_FOLD_K >= _ANN_FOLD_MAX_SEGMENTS else 0} = 1
                     THEN 'k_segments_at_budget'
                WHEN 4 * n_seg > n_idx + n_seg THEN 'segment_mass'
                ELSE 'none' END AS reason
    FROM agg
    """


@register(
    "dedup_fold_policy_report",
    oracle=_dedup_fold_policy_oracle(),
    doc="Dedup fold-decision operator — ann_fold_policy_report's "
    "twin for the dedup LSM (the shared-policy shape VERDICT r14 #4 "
    "asked for): the dedup fold buys ONLY read-amplification (v2 = "
    "union of v1 + segments, occupancy identical bucket-for-bucket — "
    "dedup_index_segment_lifecycle hash-proves it), so the verdict "
    f"has two signals, both integer literals: K >= "
    f"{_ANN_FOLD_MAX_SEGMENTS} segments (probe read-amp = K+1 "
    "bucketed tables per ingest) and segment posting mass above 25% "
    "of the live total (4 * n_seg > n_total — the one linear "
    "union-write is then amortized).  The hot-bucket count is "
    "REPORTED as context but is deliberately NOT a fold signal — "
    "folding cannot reduce occupancy, only per-bucket caps "
    "(_MH_MAX_BUCKET) do.  Inputs computed FROM the persisted "
    "artifacts via the same K-way occupancy merge the probe path "
    "reads (_merge_occupancy_counts_multi — one segment-mass "
    "Exchange, index never re-shuffled); the policy-gated fold is "
    "demonstrated on the ANN twin in "
    "examples/run_ann_index_pipeline.py.  "
    "Scale: the merge is posting-count-sized; the verdict is two "
    "1-row aggregates.",
    tags=("llm", "dedup", "pipeline", "stats", "dataops"),
)
def dedup_fold_policy_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    _tb, t_counts, _tk, seg_tables, _kts, n_bkts = (
        _build_segmented_dedup_index(spark, docs, "dfp")
    )
    merged = _merge_occupancy_counts_multi(
        spark.table(t_counts),
        [spark.table(t) for t in seg_tables],
        n_bkts,
    )
    agg = merged.agg(
        F.sum("n_idx").cast("bigint").alias("n_idx"),
        F.sum("n_seg").cast("bigint").alias("n_seg"),
        F.sum((F.col("n_total") > _MH_MAX_BUCKET).cast("int"))
        .cast("bigint")
        .alias("n_hot"),
    )
    k_full = F.lit(_LSM_FOLD_K >= _ANN_FOLD_MAX_SEGMENTS)
    seg_heavy = 4 * F.col("n_seg") > F.col("n_idx") + F.col("n_seg")
    return agg.select(
        F.lit(_LSM_FOLD_K).cast("bigint").alias("n_segments"),
        F.col("n_idx").alias("n_index_postings"),
        F.col("n_seg").alias("n_segment_postings"),
        F.round(
            F.col("n_seg").cast("double")
            / (F.col("n_idx") + F.col("n_seg")),
            6,
        ).alias("seg_frac"),
        F.col("n_hot").alias("n_hot_buckets"),
        F.lit(_LSM_FOLD_K + 1).cast("bigint").alias("probe_read_amp"),
        (k_full | seg_heavy).alias("should_fold"),
        F.when(k_full, F.lit("k_segments_at_budget"))
        .when(seg_heavy, F.lit("segment_mass"))
        .otherwise(F.lit("none"))
        .alias("reason"),
    )


@register(
    "multimodal_chunk_dedup_estimate",
    oracle="""
    WITH m AS (
        SELECT doc_id, source, hex(encode(text)) AS hx,
               octet_length(encode(text)) AS nb
        FROM documents
    ),
    ch AS (
        SELECT doc_id, source, j,
               CAST(least(32, nb - 32 * j) AS BIGINT) AS chunk_bytes,
               list_reduce(
                   list_prepend(CAST(0 AS BIGINT),
                       list_transform(
                           range(1, CAST(2 * least(32, nb - 32 * j) + 1
                                         AS INTEGER)),
                           i -> CAST(ascii(substring(hx, 64 * j + i, 1))
                                     AS BIGINT))),
                   (acc, x) -> (acc * 131 + x) % 1000000007) AS fp
        FROM m, unnest(range(0, CAST((nb + 31) // 32 AS INTEGER))) AS u(j)
        WHERE nb > 0
    ),
    owned AS (
        SELECT source, chunk_bytes,
               row_number() OVER (PARTITION BY fp
                                  ORDER BY doc_id, j) AS rn
        FROM ch
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_chunks,
           CAST(sum(chunk_bytes) AS BIGINT) AS chunk_bytes_total,
           CAST(sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_dup_chunks,
           CAST(sum(CASE WHEN rn > 1 THEN chunk_bytes ELSE 0 END)
                AS BIGINT) AS bytes_saved_cas,
           round(CAST(sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS DOUBLE)
                 / count(*), 6) AS dup_ratio
    FROM owned GROUP BY source ORDER BY source
    """,
    doc="Content-addressable-storage chunk-dedup ESTIMATOR over the "
    "multimodal binary payload column — the storage planner a "
    "mixed-media lake runs before adopting chunk-level dedup "
    "(restic/casync-style CAS): payloads split into fixed 32-byte "
    "chunks, each chunk fingerprinted with the repo's portable "
    "Rabin-Karp fold (base 131, mod 1e9+7 — over the payload's hex "
    "digits, 2 per byte, because neither engine indexes raw binary "
    "bytes in SQL; identical bytes => identical fingerprint on both "
    "engines, ANSI-overflow-safe BIGINT arithmetic).  The pool is "
    "GLOBAL (that is what content-addressing means) with "
    "deterministic first-owner attribution — a chunk instance is a "
    "duplicate iff the same fingerprint exists at a smaller "
    "(doc_id, chunk_index) — so per-source rows report how much of "
    "each source's chunk mass the CAS pool would absorb "
    "(bytes_saved_cas sums to the global savings; ~4.8% duplicate "
    "chunks on the fixture, carried by near-dup documents' shared "
    "aligned prefixes).  Fingerprint collisions overcount savings "
    "by design (estimator semantics, identical on both engines); "
    "fixed-size chunking is the honest baseline — a "
    "content-defined-chunking variant (gear-hash cut points, "
    "alignment-shift-robust) drops into the same explode.  Scale "
    "shape: chunking is a map-side explode (chunks ~ bytes/32); "
    "the ownership window is fingerprint-partitioned "
    "(hash-partitioned, never one task) and moves fingerprints "
    "only, never payload bytes — at 100 TB of media the CAS "
    "decision reads a fingerprint table ~1.6% the corpus size.",
    tags=("llm", "multimodal", "dedup", "stats"),
)
def multimodal_chunk_dedup_estimate(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from pyspark.sql import Window as W

    docs = load_table(spark, sf_dir, "documents")
    m = (
        docs.select(
            "doc_id",
            "source",
            F.hex(F.encode("text", "UTF-8")).alias("hx"),
            F.length(F.encode("text", "UTF-8")).cast("bigint").alias("nb"),
        )
        .filter(F.col("nb") > 0)
        # decode hex chars ONCE per row; the chunk folds index the
        # code array (the CDC device's constant-factor lesson)
        .withColumn("cs", F.expr(_CDC_CODES_EXPR))
    )
    ch = m.select(
        "doc_id",
        "source",
        "cs",
        "nb",
        F.explode(
            F.expr("sequence(0, cast(div(nb + 31, 32) as int) - 1)")
        ).alias("j"),
    ).select(
        "doc_id",
        "source",
        "j",
        F.expr("cast(least(32, nb - 32 * j) as bigint)").alias(
            "chunk_bytes"
        ),
        F.expr(
            "aggregate(sequence(1, cast(2 * least(32, nb - 32 * j) as int)),"
            " 0L, (acc, i) ->"
            " (acc * 131 + element_at(cs, cast(64 * j + i as int)))"
            " % 1000000007)"
        ).alias("fp"),
    )
    w = W.partitionBy("fp").orderBy("doc_id", "j")
    owned = ch.withColumn("rn", F.row_number().over(w))
    dup = (F.col("rn") > 1).cast("int")
    return (
        owned.groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("n_chunks"),
            F.sum("chunk_bytes").cast("bigint").alias("chunk_bytes_total"),
            F.sum(dup).cast("bigint").alias("n_dup_chunks"),
            F.sum(F.when(F.col("rn") > 1, F.col("chunk_bytes")).otherwise(F.lit(0)))
            .cast("bigint")
            .alias("bytes_saved_cas"),
            F.round(
                F.sum(dup).cast("double") / F.count("*"), 6
            ).alias("dup_ratio"),
        )
        .orderBy("source")
    )


# CDC device: per-payload cut positions + chunk fingerprints as pure
# row-local array expressions (no per-byte explode — the byte loop
# lives inside filter/aggregate lambdas over the payload's hex
# digits).  Cut rule: position p (8 <= p < nb) is a cut iff the
# Rabin-Karp fold of the trailing 8-byte window is ≡ 0 mod 61
# (expected chunk ~61 bytes); purely positional, so chunking is
# embarrassingly parallel — the min/max chunk bounds real CDC adds
# are a sequential optimization deliberately left out.
# hex chars are decoded ONCE per row into a code array (`cs`); the
# window/chunk folds index it — a char is otherwise re-extracted
# ~18x (16-wide window per position + chunk fold), measured 2.5x
# slower via per-access substring+ascii at x30
_CDC_CODES_EXPR = (
    "transform(sequence(1, cast(2 * nb as int)), i -> "
    "cast(ascii(substring(hx, i, 1)) as bigint))"
)

_CDC_CUTS_EXPR = (
    "CASE WHEN nb >= 9 THEN filter(sequence(8L, nb - 1), p -> "
    "aggregate(sequence(2 * (p - 8) + 1, 2 * p), 0L, (acc, i) -> "
    "(acc * 131 + element_at(cs, cast(i as int)))"
    " % 1000000007) % 61 = 0) "
    "ELSE array() END"
)

_CDC_FPS_EXPR = (
    "transform(sequence(1, size(bnd) - 1), k -> named_struct("
    "'len', element_at(bnd, cast(k + 1 as int))"
    " - element_at(bnd, cast(k as int)), "
    "'fp', aggregate("
    "sequence(2 * element_at(bnd, cast(k as int)) + 1,"
    " 2 * element_at(bnd, cast(k + 1 as int))), 0L, (acc, i) -> "
    "(acc * 131 + element_at(cs, cast(i as int)))"
    " % 1000000007)))"
)


def _cdc_cuts_sql() -> str:
    return (
        "CASE WHEN nb >= 9 THEN list_filter(range(8, CAST(nb AS INTEGER)),"
        " p -> list_reduce(list_prepend(CAST(0 AS BIGINT),"
        " list_transform(range(CAST(2 * (p - 8) + 1 AS INTEGER),"
        " CAST(2 * p + 1 AS INTEGER)),"
        " i -> CAST(ascii(substring(hx, i, 1)) AS BIGINT))),"
        " (acc, x) -> (acc * 131 + x) % 1000000007) % 61 = 0)"
        " ELSE [] END"
    )


def _cdc_fps_sql() -> str:
    return (
        "list_transform(range(1, CAST(len(bnd) AS INTEGER)), k ->"
        " {'len': bnd[k + 1] - bnd[k],"
        " 'fp': list_reduce(list_prepend(CAST(0 AS BIGINT),"
        " list_transform(range(CAST(2 * bnd[k] + 1 AS INTEGER),"
        " CAST(2 * bnd[k + 1] + 1 AS INTEGER)),"
        " i -> CAST(ascii(substring(hx, i, 1)) AS BIGINT))),"
        " (acc, x) -> (acc * 131 + x) % 1000000007)})"
    )


@register(
    "multimodal_cdc_shift_robustness",
    oracle=f"""
    WITH base AS (
        SELECT doc_id, text,
               CAST((SELECT max(doc_id) + 1 FROM documents) AS BIGINT)
                   AS m
        FROM documents
    ),
    corpus AS (
        SELECT doc_id, hex(encode(text)) AS hx,
               octet_length(encode(text)) AS nb
        FROM base
        UNION ALL
        SELECT doc_id + m,
               hex(encode(repeat('X', CAST(1 + doc_id % 7 AS INTEGER))
                          || text)),
               octet_length(encode(text)) + 1 + doc_id % 7
        FROM base
    ),
    fixed AS (
        SELECT 'fixed32' AS variant, c.doc_id,
               CAST(least(32, c.nb - 32 * j) AS BIGINT) AS len,
               list_reduce(
                   list_prepend(CAST(0 AS BIGINT),
                       list_transform(
                           range(1, CAST(2 * least(32, c.nb - 32 * j) + 1
                                         AS INTEGER)),
                           i -> CAST(ascii(substring(c.hx, 64 * j + i, 1))
                                     AS BIGINT))),
                   (acc, x) -> (acc * 131 + x) % 1000000007) AS fp
        FROM corpus c,
             unnest(range(0, CAST((c.nb + 31) // 32 AS INTEGER))) AS u(j)
        WHERE c.nb > 0
    ),
    withb AS (
        SELECT doc_id, hx, nb,
               list_concat(list_concat([CAST(0 AS BIGINT)],
                                       {_cdc_cuts_sql()}),
                           [nb]) AS bnd
        FROM corpus WHERE nb > 0
    ),
    cdc AS (
        SELECT 'cdc' AS variant, doc_id,
               CAST(s['len'] AS BIGINT) AS len,
               CAST(s['fp'] AS BIGINT) AS fp
        FROM withb, unnest({_cdc_fps_sql()}) AS t(s)
    ),
    chunks AS (
        SELECT * FROM fixed UNION ALL SELECT * FROM cdc
    ),
    owned AS (
        SELECT variant, len,
               row_number() OVER (PARTITION BY variant, fp
                                  ORDER BY doc_id, len) AS rn
        FROM chunks
    )
    SELECT variant,
           CAST(count(*) AS BIGINT) AS n_chunks,
           CAST(sum(len) AS BIGINT) AS chunk_bytes_total,
           CAST(sum(CASE WHEN rn > 1 THEN len ELSE 0 END) AS BIGINT)
               AS bytes_saved_cas,
           round(CAST(sum(CASE WHEN rn > 1 THEN len ELSE 0 END) AS DOUBLE)
                 / sum(len), 6) AS saved_frac
    FROM owned GROUP BY variant ORDER BY variant
    """,
    doc="Content-defined chunking vs fixed chunking under ALIGNMENT "
    "SHIFTS — the experiment that justifies CDC (the casync/restic/"
    "LBFS argument), run deterministically: every payload gets a "
    "shifted twin with 1 + doc_id%7 bytes prepended, and both "
    "chunkers dedup the doubled corpus against a global CAS pool "
    "(first-owner rule).  Fixed 32-byte chunks lose almost the "
    "entire twin overlap (one prepended byte re-aligns every chunk "
    "boundary); gear-style CDC cuts where the trailing 8-byte "
    "window's Rabin-Karp fold ≡ 0 mod 61, so boundaries travel WITH "
    "the content and the twin re-uses the original's chunks past "
    "the first cut — measured ~0.44 vs ~0.01 saved fraction on the "
    "fixture, pytest-gated (cdc strictly dominates).  Both chunkers "
    "are pure row-local array expressions over the payload's hex "
    "digits (the byte loop lives inside filter/aggregate lambdas — "
    "NO per-byte explode, no UDF): chunking is embarrassingly "
    "parallel and the only shuffle is the fingerprint-keyed "
    "ownership window, which moves fingerprints, never payload "
    "bytes.  Cut rule deliberately positional (no min/max chunk "
    "bounds — those are a sequential optimization); collisions "
    "overcount savings identically on both engines.  Scale: "
    "per-payload work is O(bytes x window) map-side; at 100 TB the "
    "CAS decision reads a fingerprint table, not the media.",
    tags=("llm", "multimodal", "dedup", "stats"),
)
def multimodal_cdc_shift_robustness(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from pyspark.sql import Window as W

    docs = load_table(spark, sf_dir, "documents")
    m = docs.agg((F.max("doc_id") + 1).cast("bigint").alias("_m"))
    base = docs.select("doc_id", "text").crossJoin(F.broadcast(m))
    shifted = base.select(
        (F.col("doc_id") + F.col("_m")).alias("doc_id"),
        F.concat(
            F.expr("repeat('X', cast(1 + doc_id % 7 as int))"),
            F.col("text"),
        ).alias("text"),
    )
    corpus = (
        base.select("doc_id", "text")
        .unionByName(shifted)
        .select(
            "doc_id",
            F.hex(F.encode("text", "UTF-8")).alias("hx"),
            F.length(F.encode("text", "UTF-8")).cast("bigint").alias("nb"),
        )
        .filter(F.col("nb") > 0)
        .withColumn("cs", F.expr(_CDC_CODES_EXPR))
        .drop("hx")
        # single-consumer by construction (both chunkers evaluate in
        # ONE pass below), so the payload-derived code array is never
        # checkpointed (round-10 doctrine) NOR re-derived per branch
        # (measured 60% slower at x30 when the branches were separate)
    )
    fixed_structs = (
        "transform(sequence(0, cast(div(nb + 31, 32) as int) - 1), j ->"
        " named_struct("
        "'variant', 'fixed32',"
        " 'len', cast(least(32, nb - 32 * j) as bigint),"
        " 'fp', aggregate("
        "sequence(1, cast(2 * least(32, nb - 32 * j) as int)), 0L,"
        " (acc, i) -> (acc * 131 + element_at(cs, cast(64 * j + i as int)))"
        " % 1000000007)))"
    )
    cdc_structs = _CDC_FPS_EXPR.replace(
        "named_struct(", "named_struct('variant', 'cdc', ", 1
    )
    chunks = (
        corpus.withColumn(
            "bnd",
            F.expr(f"concat(array(0L), {_CDC_CUTS_EXPR}, array(nb))"),
        )
        .select(
            "doc_id",
            F.explode(
                F.expr(f"concat({fixed_structs}, {cdc_structs})")
            ).alias("s"),
        )
        .select(
            F.col("s.variant").alias("variant"),
            "doc_id",
            F.col("s.len").cast("bigint").alias("len"),
            F.col("s.fp").cast("bigint").alias("fp"),
        )
    )
    w = W.partitionBy("variant", "fp").orderBy("doc_id", "len")
    owned = chunks.withColumn("rn", F.row_number().over(w))
    saved = F.when(F.col("rn") > 1, F.col("len")).otherwise(F.lit(0))
    return (
        owned.groupBy("variant")
        .agg(
            F.count("*").cast("bigint").alias("n_chunks"),
            F.sum("len").cast("bigint").alias("chunk_bytes_total"),
            F.sum(saved).cast("bigint").alias("bytes_saved_cas"),
            F.round(
                F.sum(saved).cast("double") / F.sum("len"), 6
            ).alias("saved_frac"),
        )
        .orderBy("variant")
    )


@register(
    "multimodal_modality_router",
    oracle="""
    WITH mx AS (SELECT CAST(max(doc_id) + 1 AS BIGINT) AS m
                FROM documents),
    mixed AS (
        SELECT doc_id,
               CASE WHEN substring(text, 1, 2) = 'RG'
                         AND octet_length(encode(text)) >= 8
                         AND substring(text, 7, 1) = chr(3)
                    THEN 'raw-rgb' ELSE 'opaque' END AS modality,
               CAST(octet_length(encode(text)) AS BIGINT) AS nb
        FROM documents
        UNION ALL
        SELECT doc_id + mx.m, 'raw-rgb',
               CAST(8 + (8 + doc_id % 5) * (6 + doc_id % 7) * 3
                    AS BIGINT)
        FROM documents CROSS JOIN mx
    ),
    per AS (
        SELECT modality,
               CAST(count(*) AS BIGINT) AS n_payloads,
               CAST(sum(nb) AS BIGINT) AS total_bytes,
               CAST(min(nb) AS BIGINT) AS min_bytes,
               CAST(max(nb) AS BIGINT) AS max_bytes
        FROM mixed GROUP BY 1
    ),
    tot AS (SELECT CAST(sum(n_payloads) AS BIGINT) AS t FROM per)
    SELECT modality, n_payloads, total_bytes, min_bytes, max_bytes,
           round(CAST(n_payloads AS DOUBLE) / t, 6) AS share
    FROM per CROSS JOIN tot ORDER BY modality
    """,
    doc="Modality ROUTER over a mixed-media table — the dispatch "
    "stage a real multimodal lake needs before any typed transform: "
    "payloads are classified by MAGIC BYTES, never by the "
    "(untrusted) mime column — a payload routes to 'raw-rgb' iff its "
    "first two bytes are the RAWRGB magic, it is long enough to "
    "carry the 8-byte header, and the channel byte reads 3 (the "
    "decoder's own precondition, so everything routed to the decoder "
    "passes its header validation by construction); everything else "
    "stays 'opaque'.  The mixed corpus is the text media table "
    "unioned with the RAWRGB synthesis (ids offset), so the router "
    "faces both modalities; detection runs on the REAL payload "
    "bytes Spark-side (binary substring vs X'5247'/X'03' literals) "
    "while the oracle replays the byte arithmetic (header length "
    "8 + w*h*3 with the synthesis dims).  Per-modality routing "
    "table: count, byte mass, min/max payload size, corpus share — "
    "the numbers that size each downstream decode fleet.  Scale "
    "shape: sniffing reads the payload PREFIX only (first 8 bytes — "
    "columnar readers fetch the column, but no fold touches the "
    "body), classification is map-side, and the rollup is "
    "|modalities|-sized; the 1-row total broadcasts for the share.",
    tags=("llm", "multimodal", "dataops"),
)
def multimodal_modality_router(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.multimodal import to_media_table, to_raw_rgb_media

    docs = load_table(spark, sf_dir, "documents")
    mx = docs.agg((F.max("doc_id") + 1).cast("bigint").alias("_m"))
    text_media = to_media_table(docs).select("doc_id", "payload")
    rgb = (
        to_raw_rgb_media(docs)
        .crossJoin(F.broadcast(mx))
        .select((F.col("doc_id") + F.col("_m")).alias("doc_id"), "payload")
    )
    mixed = text_media.unionByName(rgb)
    sniff = (
        F.when(
            (F.length("payload") >= 8)
            & F.expr("substring(payload, 1, 2) = X'5247'")
            & F.expr("substring(payload, 7, 1) = X'03'"),
            F.lit("raw-rgb"),
        )
        .otherwise(F.lit("opaque"))
    )
    per = (
        mixed.select(
            sniff.alias("modality"),
            F.length("payload").cast("bigint").alias("nb"),
        )
        .groupBy("modality")
        .agg(
            F.count("*").cast("bigint").alias("n_payloads"),
            F.sum("nb").cast("bigint").alias("total_bytes"),
            F.min("nb").cast("bigint").alias("min_bytes"),
            F.max("nb").cast("bigint").alias("max_bytes"),
        )
    )
    tot = per.agg(F.sum("n_payloads").cast("bigint").alias("_t"))
    return (
        per.crossJoin(F.broadcast(tot))
        .select(
            "modality",
            "n_payloads",
            "total_bytes",
            "min_bytes",
            "max_bytes",
            F.round(
                F.col("n_payloads").cast("double") / F.col("_t"), 6
            ).alias("share"),
        )
        .orderBy("modality")
    )
