"""Deduplication operators — [EXT] SURVEY.md §2.11.

Four tiers, all shuffle-disciplined for 100 TB:

- **exact**: group by ``sha2(text)`` (32-byte keys shuffle instead of
  full documents; collision-safe at any realistic corpus size).
- **MinHash + LSH banding**: shingles → k min-hashes → b bands; only
  band-equal pairs are candidates, keeping the join out of O(n²).
- **SimHash**: 64-bit near-dup fingerprint, map-side only.
- **n-gram Jaccard**: exact token-set similarity for candidate pairs
  via an inverted-index (explode + equi-join) formulation —
  :func:`word_set` builds the ``(doc_id, w)`` postings,
  :func:`set_overlap` joins them under a candidate-pair relation, and
  :func:`jaccard` scores its columns.  The dedup family's candidate
  verifies run through these three; only shapes they cannot express
  (anchor-mode pairs, the prefix filter's shared sizes, the
  zero-overlap-keeping left join) stay inline.

Hash functions are Spark's ``xxhash64`` (JVM-side, codegen); hash
values are engine-specific, so LSH/SimHash queries take the driver's
rows-only check while exact-dedup and Jaccard have full SQL oracles.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..lineage import ckpt

# Affine permutation constants for MinHash: h_i(x) = (a_i * x + b_i) mod p.
# Mersenne prime 2^31−1 keeps a*x + b inside a 64-bit long (a,x < 2^31 →
# product < 2^62) — Spark runs ANSI mode and faults on overflow.
MERSENNE_P = (1 << 31) - 1


def _perm_consts(num_hashes: int) -> list[tuple[int, int]]:
    # Deterministic odd multipliers / offsets derived from a fixed LCG,
    # mirroring the reference's fixed-constant config style (run.py:7-37).
    out, state = [], 0x9E3779B97F4A7C15
    for _ in range(num_hashes):
        state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 63)
        a = (state | 1) % MERSENNE_P
        state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 63)
        b = state % MERSENNE_P
        out.append((a, b))
    return out


def dedup_exact(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact dedup: canonical survivor (min id) per content hash."""
    return (
        df.groupBy(F.sha2(F.col(text_col), 256).alias("content_hash"))
        .agg(F.min(id_col).alias("keep_doc_id"), F.count("*").alias("n_copies"))
        .select("keep_doc_id", "n_copies")
    )


def _shingles(text_col: Column, n: int = 3) -> Column:
    """Distinct n-word shingles of a whitespace-tokenized document."""
    toks = F.split(F.trim(text_col), " +")
    idx = F.sequence(F.lit(0), F.greatest(F.size(toks) - n, F.lit(0)))
    return F.array_distinct(
        F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)))
    )


def minhash_signatures(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", num_hashes: int = 16, shingle_n: int = 3
) -> DataFrame:
    """MinHash signature per document.

    Explode-then-aggregate formulation: each shingle's string hash is
    computed ONCE, then the ``num_hashes`` permutation minima are
    plain MIN aggregates over the exploded rows — map-side partial
    aggregation, one shuffle on the doc id. (The per-row
    array-transform formulation re-hashes every shingle string once
    per permutation — 16× the string-hash work; measured 38 s vs 6 s
    on 50k docs.)
    """
    sh = _shingles(F.col(text_col), shingle_n)
    hashed = df.select(
        F.col(id_col), F.explode(sh).alias("__shingle")
    ).select(id_col, F.pmod(F.xxhash64("__shingle"), F.lit(MERSENNE_P)).alias("__h"))
    perms = _perm_consts(num_hashes)
    mins = hashed.groupBy(id_col).agg(
        *[
            F.min((F.col("__h") * a + b) % MERSENNE_P).alias(f"__m{i}")
            for i, (a, b) in enumerate(perms)
        ]
    )
    return mins.select(
        F.col(id_col), F.array(*[f"__m{i}" for i in range(num_hashes)]).alias("minhash")
    )


def lsh_candidate_pairs(
    sigs: DataFrame,
    id_col: str = "doc_id",
    bands: int = 4,
    rows_per_band: int = 4,
    max_bucket: int = 300,
) -> DataFrame:
    """LSH banding: a pair is a candidate iff it collides in ≥1 band.
    Shuffle is on (band_id, band_hash) — never the full O(n²) pairs.

    ``max_bucket`` is the hot-bucket guard: a bucket with hundreds of
    members degenerates the within-bucket self-join toward O(n²) (hit
    here by low-entropy corpora; at 100 TB by boilerplate/template
    clusters). Oversized buckets are dropped — their members are
    near-identical *as a cluster* and are better handled by exact
    dedup on the bucket key than by pairwise expansion.
    """
    banded = sigs.select(
        id_col,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_id"),
                        F.xxhash64(
                            F.concat_ws(
                                ",",
                                *[
                                    F.element_at("minhash", b * rows_per_band + r + 1).cast("string")
                                    for r in range(rows_per_band)
                                ],
                            )
                        ).alias("band_hash"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("band"),
    ).select(id_col, "band.band_id", "band.band_hash")
    # banded feeds three consumers (bucket sizing + both join sides);
    # localCheckpoint materializes the tiny (id, band, hash) relation
    # once instead of re-deriving signatures per consumer.
    banded = banded.transform(ckpt)
    bucket_sizes = banded.groupBy("band_id", "band_hash").agg(F.count("*").alias("__bsz"))
    banded = banded.join(
        bucket_sizes.filter(F.col("__bsz") <= max_bucket), ["band_id", "band_hash"]
    ).drop("__bsz")
    left = banded.alias("l")
    right = banded.alias("r")
    return (
        left.join(
            right,
            (F.col("l.band_id") == F.col("r.band_id"))
            & (F.col("l.band_hash") == F.col("r.band_hash"))
            & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")),
        )
        .select(F.col(f"l.{id_col}").alias("id_a"), F.col(f"r.{id_col}").alias("id_b"))
        .dropDuplicates()
    )


def simhash64(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """63-bit SimHash over whitespace tokens: per bit, sign of the sum
    of ±1 votes from each token's xxhash64 bit. Pure map-side column
    math — no shuffle.

    Single-pass array-accumulator formulation: one traversal of the
    token list updating all 63 vote counters via zip_with. (Measured
    alternatives on 50k docs: 63 separate array aggregates 6.0 s,
    explode + 63-column groupBy 9.3 s — wide agg buffers dominate —
    this form 5.3 s.)
    """
    toks = F.array_distinct(F.split(F.trim(F.col(text_col)), " +"))
    hashes = F.transform(toks, lambda t: F.xxhash64(t))
    # bit masks 2^0..2^62 as a long array literal (powers of two are
    # exact; shiftleft/shiftright need literal counts, masks don't)
    masks = F.array(*[F.lit(1 << i).cast("long") for i in range(63)])
    zero = F.array(*[F.lit(0) for _ in range(63)])
    votes = F.aggregate(
        hashes,
        zero,
        lambda acc, h: F.zip_with(
            acc,
            masks,
            lambda c, m: c + F.when(h.bitwiseAND(m) != 0, 1).otherwise(-1),
        ),
    )
    sim = F.aggregate(
        F.zip_with(
            votes,
            masks,
            lambda v, m: F.when(v > 0, m).otherwise(F.lit(0).cast("long")),
        ),
        F.lit(0).cast("long"),
        lambda acc, b: acc.bitwiseOR(b),
    )
    return df.select(F.col(id_col), sim.alias("simhash"))


def word_set(rel: DataFrame) -> DataFrame:
    """``(doc_id, w)`` — one row per distinct whitespace word of each
    document in ``rel`` (which carries ``doc_id`` and ``text``).  The
    verify tier's token set.  A verify that reads candidates only
    semi-joins ``rel`` down to the candidate documents before calling
    it, so the explode runs over candidate text, not corpus text."""
    return rel.select(
        "doc_id", F.explode(F.array_distinct(F.split("text", " "))).alias("w")
    )


def set_overlap(
    cand: DataFrame, tok_a: DataFrame, tok_b: DataFrame | None = None
) -> DataFrame:
    """``(id_a, id_b, n_common, sz_a, sz_b)`` for the candidate pairs
    ``cand(id_a, id_b)`` that share at least one token: ``n_common``
    counts the shared ``w`` of the two ``(doc_id, w)`` posting lists,
    ``sz_a`` / ``sz_b`` are the set sizes of ``id_a`` in ``tok_a`` and
    of ``id_b`` in ``tok_b`` (default ``tok_a``).  The intersection is
    an equi-join on (doc, token) under the candidate relation — cost
    follows candidate mass, never corpus² — and the per-doc sizes join
    back after the aggregate.  Thresholds and ratios are the caller's
    (see :func:`jaccard`)."""
    tok_b = tok_a if tok_b is None else tok_b
    sz_a, sz_b = (
        t.groupBy("doc_id").agg(F.count("*").alias("sz")) for t in (tok_a, tok_b)
    )
    inter = (
        cand.join(tok_a.alias("ta"), F.col("ta.doc_id") == F.col("id_a"))
        .join(
            tok_b.alias("tb"),
            (F.col("tb.doc_id") == F.col("id_b"))
            & (F.col("ta.w") == F.col("tb.w")),
        )
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("n_common"))
    )
    # per-doc sizes are corpus-proportional — never hinted; AQE
    # broadcasts them while they fit and shuffle-joins beyond
    return (
        inter.join(sz_a.alias("sa"), F.col("sa.doc_id") == F.col("id_a"))
        .join(sz_b.alias("sb"), F.col("sb.doc_id") == F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            "n_common",
            F.col("sa.sz").alias("sz_a"),
            F.col("sb.sz").alias("sz_b"),
        )
    )


def jaccard() -> Column:
    """Token-set Jaccard of a :func:`set_overlap` row:
    ``|A ∩ B| / (|A| + |B| − |A ∩ B|)``."""
    return F.col("n_common").cast("double") / (
        F.col("sz_a") + F.col("sz_b") - F.col("n_common")
    )
