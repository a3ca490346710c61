"""Deduplication suite for training-data pipelines: exact, MinHash+LSH,
SimHash, n-gram Jaccard, embedding-cosine near-dup.

Scale design (the whole point at 100 TB):

- exact dedup: one groupBy on the content hash — uniform keys, no skew;
- MinHash/LSH: near-dup candidate generation is a *band-bucket equi-join*
  (shuffle keyed on band signatures), never an all-pairs scan; verification
  runs only on candidates. It runs as one groupBy on the band key, so the
  signatures are computed once, and each text is tokenized once per
  shingling (``doc_shingles``);
- SimHash: signature is an aggregation over tokens (partial+final);
  near-dups = equal band of the signature (equi-join again);
- n-gram Jaccard: the shingle inverted index (explode + self-join on
  shingle) is the candidate generator; Jaccard verification on co-occurring
  pairs only. Hub shingles (stopword n-grams) are the skew risk — the
  ``max_doc_freq`` filter drops them (explicit skew handling);
- embedding near-dup: exact cosine over LSH/IVF buckets; the brute-force
  variant is the small-N oracle.

Every hash is derived from md5 hex (not xxhash64) so the DuckDB SQL oracles
reproduce signatures bit-for-bit: ``hex64(s) = int(md5(s)[:15], 16)``,
minhash_i = (a_i·(hex64 mod P) + b_i) mod P with P = 1e9+7.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from gp_ann_spark.checkpoint import checkpoints
from gp_ann_spark.functions.distances import sql_inner_product
from gp_ann_spark.operators.text_analysis import tokens

P_MOD = 1_000_000_007
# (a, b) per minhash function — small constants so a·x' + b stays < 2^63.
MINHASH_COEFFS = [(2 * i + 1, 7919 * (i + 1)) for i in range(8)]
N_BANDS = 4  # 8 hashes → 4 bands × 2 rows


def hex64(col: Column) -> Column:
    """Deterministic 60-bit int from a string: first 15 hex chars of md5.
    Spark `conv` ≡ DuckDB `('0x' || substr(md5(x),1,15))::BIGINT`."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("bigint")


def exact_dedup(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Exact duplicate groups by sha256(text): per distinct content, the
    representative (min doc_id) and the duplicate count."""
    return (
        docs.withColumn("sha256", F.sha2(F.col(text_col), 256))
        .groupBy("sha256")
        .agg(F.min("doc_id").alias("keep_doc_id"), F.count(F.lit(1)).alias("n_dups"))
    )


def word_shingles(toks: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles of a token-array column (``tokens(text)``).
    Matches the oracle's list_transform(generate_series(...)) construction:
    shingle i joins tokens i..i+n-1 with single spaces.

    Takes the tokens, not the text: Catalyst does not share a subexpression
    between a higher-order-function lambda and its surroundings, so a
    ``tokens(text)`` inside the lambda re-split the whole text for every
    token of every shingle (O(L²) per doc). Tokenize once in a ``select``
    (``doc_shingles``) and pass the column."""
    grams = F.transform(
        F.sequence(F.lit(0), F.size(toks) - n),
        lambda i: F.concat_ws(" ", *[F.element_at(toks, i + j + 1) for j in range(n)]),
    )
    # guard: Spark's sequence(0, x) is DESCENDING for x < 0 — docs shorter
    # than n tokens must yield an empty shingle set, not garbage.
    return F.when(F.size(toks) >= n, F.array_distinct(grams)).otherwise(F.array().cast("array<string>"))


def doc_shingles(docs: DataFrame, text_col: str = "text", n: int = 3) -> DataFrame:
    """(doc_id, shingle) exploded relation — the shingle inverted index. Each
    text is tokenized once, in its own ``select``, before the explode."""
    toks = docs.select("doc_id", tokens(F.col(text_col)).alias("_toks"))
    return toks.select("doc_id", F.explode(word_shingles(F.col("_toks"), n)).alias("shingle"))


def minhash_signatures(docs: DataFrame, text_col: str = "text", n: int = 3) -> DataFrame:
    """(doc_id, h0..h7): per-doc MinHash signature.

    One explode + one groupBy with 8 min-aggregates (partial+final);
    signatures are md5-derived → engine-independent.
    """
    sh = doc_shingles(docs, text_col, n).withColumn("x", hex64(F.col("shingle")) % P_MOD)
    aggs = [
        F.min((F.lit(a) * F.col("x") + F.lit(b)) % P_MOD).alias(f"h{i}")
        for i, (a, b) in enumerate(MINHASH_COEFFS)
    ]
    return sh.groupBy("doc_id").agg(*aggs)


def minhash_band_pairs(signatures: DataFrame) -> DataFrame:
    """LSH candidate pairs: docs sharing at least one band (band = 2
    consecutive minhashes); returns (doc_a, doc_b) with doc_a < doc_b,
    distinct.

    The band-bucket equi-join is evaluated as ONE ``groupBy(band_idx,
    band_key)`` that lists each bucket's docs, then every ordered pair
    within a bucket: the signatures (and the shingling under them) are
    computed once. A self-join of the banded relation evaluates that plan
    once per join side — exchange reuse does not cover a cached input.
    Still never all-pairs: only docs sharing a bucket meet."""
    rows_per_band = len(MINHASH_COEFFS) // N_BANDS
    bands = F.array(
        *[
            F.concat_ws(
                "_", *[F.col(f"h{b * rows_per_band + r}").cast("string") for r in range(rows_per_band)]
            )
            for b in range(N_BANDS)
        ]
    )
    banded = signatures.select("doc_id", F.posexplode(bands).alias("band_idx", "band_key"))
    buckets = (
        banded.groupBy("band_idx", "band_key")
        .agg(F.collect_list("doc_id").alias("docs"))
        .where(F.size("docs") > 1)
    )
    pairs = F.flatten(
        F.transform(
            "docs",
            lambda a: F.transform(
                F.filter("docs", lambda b: a < b), lambda b: F.struct(a.alias("doc_a"), b.alias("doc_b"))
            ),
        )
    )
    return buckets.select(F.inline(pairs)).distinct()


def _shared_counts(postings: DataFrame) -> DataFrame:
    """(doc_a, doc_b, inter): the shingles of ``postings`` (doc_id, shingle)
    each pair shares, over the pairs sharing at least one — a self-join."""
    a = postings.select(F.col("doc_id").alias("doc_a"), "shingle")
    b = postings.select(F.col("doc_id").alias("doc_b"), "shingle")
    return (
        a.join(b, "shingle")
        .where(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )


def _pair_counts(pairs: DataFrame, postings: DataFrame) -> DataFrame:
    """(doc_a, doc_b, inter): the shingles of ``postings`` each (doc_a,
    doc_b) pair shares — |pairs| × shingles per doc work, no self-join."""
    pa = postings.select(F.col("doc_id").alias("doc_a"), "shingle")
    pb = postings.select(F.col("doc_id").alias("doc_b"), "shingle")
    return (
        pairs.join(pa, "doc_a")
        .join(pb, ["doc_b", "shingle"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )


def jaccard_pairs(
    docs: DataFrame,
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
    max_doc_freq: int | None = None,
    candidates: DataFrame | None = None,
) -> DataFrame:
    """n-gram Jaccard near-dup pairs ≥ threshold.

    Candidate generation = shingle inverted-index self-join (only pairs
    sharing ≥1 shingle are ever scored). ``max_doc_freq`` is the explicit
    skew guard: shingle document frequencies are computed with a *salted
    two-phase aggregation* (hub shingles spread over many reducers) and
    shingles present in more than ``max_doc_freq`` docs (hubs) are excluded
    from CANDIDATE GENERATION only: the self-join over the rare shingles
    finds the pairs and counts their shared rare shingles, and a join over
    the hub postings alone adds their shared hubs, so every found pair's
    Jaccard is still over the full shingle sets — only pairs sharing
    *exclusively* hub shingles can be missed. If ``candidates`` (doc_a,
    doc_b) is given (e.g. from minhash_band_pairs), verification is
    restricted to it. Returns (doc_a, doc_b, jaccard) rounded to 6 dp.
    """
    with checkpoints() as cp:
        # the shingle relation feeds the sizes, the document frequencies and
        # every join side: pinned, the corpus is shingled once
        sh = cp.pin(doc_shingles(docs, text_col, n), eager=False)
        sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
        if candidates is not None:
            inter = _pair_counts(candidates, sh)
        elif max_doc_freq is not None:
            from gp_ann_spark.operators.graph import salted_count

            dfreq = salted_count(sh, "shingle", salt_src="doc_id")
            hubs = dfreq.where(F.col("count") > max_doc_freq).select("shingle")
            rare = _shared_counts(sh.join(hubs, "shingle", "left_anti"))
            hub = _pair_counts(rare.select("doc_a", "doc_b"), sh.join(hubs, "shingle", "left_semi"))
            inter = rare.join(hub.withColumnRenamed("inter", "_hub"), ["doc_a", "doc_b"], "left").select(
                "doc_a", "doc_b", (F.col("inter") + F.coalesce(F.col("_hub"), F.lit(0))).alias("inter"),
            )
        else:
            inter = _shared_counts(sh)
        sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("na"))
        sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("nb"))
        return cp.keep(
            inter.join(sa, "doc_a")
            .join(sb, "doc_b")
            .withColumn("jaccard", F.round(F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter")), 6))
            .where(F.col("jaccard") >= threshold)
            .select("doc_a", "doc_b", "jaccard")
        )


SIMHASH_BITS = 60  # hex64 yields 60 usable bits
SIMHASH_BAND_BITS = 15  # 4 bands × 15 bits → 32768 buckets per band


def simhash(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """60-bit SimHash per doc: bit j set iff Σ_tokens (2·bit_j(hex64(t))−1) > 0.

    Aggregation-only (explode + 60 sums, partial+final); md5-derived →
    oracle-reproducible. Returns (doc_id, simhash BIGINT).
    """
    tok = docs.select("doc_id", F.explode(tokens(F.col(text_col))).alias("tok"))
    h = tok.withColumn("x", hex64(F.col("tok")))
    sums = h.groupBy("doc_id").agg(
        *[
            F.sum(F.shiftright(F.col("x"), j).bitwiseAND(F.lit(1)) * 2 - 1).alias(f"b{j}")
            for j in range(SIMHASH_BITS)
        ]
    )
    sim = None
    for j in range(SIMHASH_BITS):
        term = F.when(F.col(f"b{j}") > 0, F.lit(1 << j)).otherwise(F.lit(0))
        sim = term if sim is None else sim + term
    return sums.select("doc_id", sim.cast("bigint").alias("simhash"))


def simhash_near_pairs(sims: DataFrame, band_bits: int = SIMHASH_BAND_BITS) -> DataFrame:
    """Candidate near-dups: equal ``band_bits``-bit band of the simhash —
    equi-join per band, the scale path for hamming-distance search (docs
    within hamming distance < n_bands share ≥1 band by pigeonhole)."""
    n_bands = SIMHASH_BITS // band_bits
    bands = F.array(
        *[
            F.concat_ws(
                "_", F.lit(b), (F.shiftright(F.col("simhash"), b * band_bits) % (1 << band_bits)).cast("string")
            )
            for b in range(n_bands)
        ]
    )
    banded = sims.select("doc_id", F.explode(bands).alias("band"))
    l_ = banded.select(F.col("doc_id").alias("doc_a"), "band")
    r_ = banded.select(F.col("doc_id").alias("doc_b"), "band")
    return l_.join(r_, "band").where(F.col("doc_a") < F.col("doc_b")).select("doc_a", "doc_b").distinct()


def _verify_cosine(
    pairs: DataFrame, embeddings: DataFrame, threshold: float, id_col: str, vec_col: str
) -> DataFrame:
    """Exact float64 Catalyst cosine over an (id_a, id_b) candidate relation:
    vector equi-joins + zip_with/aggregate dot products, round 6 dp, filter
    ≥ threshold. The SINGLE definition shared by the brute-force oracle and
    the LSH verify stage — the "LSH ⊆ exact" precision gate relies on both
    computing bit-identical similarities."""
    va = embeddings.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("_va"))
    vb = embeddings.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("_vb"))
    dot = sql_inner_product(F.col("_va"), F.col("_vb"))
    na = F.sqrt(sql_inner_product(F.col("_va"), F.col("_va")))
    nb = F.sqrt(sql_inner_product(F.col("_vb"), F.col("_vb")))
    return (
        pairs.join(va, "id_a")
        .join(vb, "id_b")
        .withColumn("cos_sim", F.round(dot / (na * nb), 6))
        .where(F.col("cos_sim") >= threshold)
        .select("id_a", "id_b", "cos_sim")
    )


def embedding_neardup_pairs(
    embeddings: DataFrame, threshold: float = 0.95, id_col: str = "vec_id", vec_col: str = "embedding",
) -> DataFrame:
    """Pairs with cosine similarity ≥ threshold — brute-force Catalyst
    variant (small-N oracle; double-precision zip_with/aggregate math matches
    DuckDB's list_cosine_similarity). Scale paths:
    ``embedding_neardup_blocked`` (exact, block-grid BLAS) and
    ``embedding_neardup_lsh`` (approximate, sign-LSH candidates).
    Returns (id_a, id_b, cos_sim) rounded to 6 dp."""
    ids = embeddings.select(F.col(id_col).alias("id_a"))
    pairs = ids.crossJoin(embeddings.select(F.col(id_col).alias("id_b"))).where(
        F.col("id_a") < F.col("id_b")
    )
    return _verify_cosine(pairs, embeddings, threshold, id_col, vec_col)


def embedding_neardup_blocked(
    embeddings: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_size: int = 4096,
) -> DataFrame:
    """EXACT all-pairs cosine ≥ threshold, distributed: block-grid join.

    Points hash into ⌈n/block_size⌉ blocks; the (bi ≤ bj) block-pair grid is
    a tiny broadcast relation; one cogrouped ``applyInPandas`` per block pair
    runs a dense float64 BLAS similarity and emits only qualifying pairs.
    No crossJoin operator, no O(n²) shuffled rows — each point is replicated
    √P-style across its block-pair tasks, the canonical distributed exact
    all-pairs shape. (Exact all-pairs is inherently O(n²) *compute*; for
    approximate near-dup at scale use ``embedding_neardup_lsh``.)
    """
    spark = embeddings.sparkSession
    pts = embeddings.select(F.col(id_col).alias("id"), F.col(vec_col).alias("vec"))
    n = pts.count()
    nb = max(1, math.ceil(n / block_size))
    pts_b = pts.withColumn("b", F.pmod(F.xxhash64("id"), F.lit(nb)).cast("int"))
    grid = spark.createDataFrame(
        [(i, j) for i in range(nb) for j in range(i, nb)], "bi int, bj int"
    )
    from gp_ann_spark.checkpoint import realias

    left = pts_b.join(F.broadcast(grid), pts_b.b == F.col("bi")).select("bi", "bj", "id", "vec")
    # fresh exprIds on the right copy: cogrouping two frames that share the
    # (pts_b ⋈ grid) lineage trips the ambiguous-self-join check otherwise
    pts_r, grid_r = realias(pts_b), realias(grid)
    right = pts_r.join(F.broadcast(grid_r), pts_r.b == grid_r.bj).select("bi", "bj", "id", "vec")

    def crunch(key, l_pdf: pd.DataFrame, r_pdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame({"id_a": [], "id_b": [], "cos_sim": []}).astype(
            {"id_a": "int64", "id_b": "int64", "cos_sim": "float64"}
        )
        if len(l_pdf) == 0 or len(r_pdf) == 0:
            return empty
        A = np.stack(l_pdf["vec"].to_numpy()).astype(np.float64)
        B = np.stack(r_pdf["vec"].to_numpy()).astype(np.float64)
        An = A / np.maximum(np.linalg.norm(A, axis=1, keepdims=True), 1e-300)
        Bn = B / np.maximum(np.linalg.norm(B, axis=1, keepdims=True), 1e-300)
        S = An @ Bn.T
        ia = l_pdf["id"].to_numpy()
        ib = r_pdf["id"].to_numpy()
        # conservative in-UDF cut; the exact 6-dp threshold reapplies outside
        mask = S >= threshold - 1e-6
        if key[0] == key[1]:
            # diagonal cell: both sides are the same block — upper triangle
            mask &= ia[:, None] < ib[None, :]
        r, c = np.nonzero(mask)
        if len(r) == 0:
            return empty
        # canonical (min, max) order: in off-diagonal cells the pair's id
        # order is independent of the block order
        xa, xb = ia[r], ib[c]
        return pd.DataFrame(
            {"id_a": np.minimum(xa, xb), "id_b": np.maximum(xa, xb), "cos_sim": S[r, c]}
        )

    raw = left.groupBy("bi", "bj").cogroup(right.groupBy("bi", "bj")).applyInPandas(
        crunch, schema="id_a long, id_b long, cos_sim double"
    )
    return (
        raw.withColumn("cos_sim", F.round("cos_sim", 6))
        .where(F.col("cos_sim") >= threshold)
        .select("id_a", "id_b", "cos_sim")
    )


def embedding_simhash_bands(
    embeddings: DataFrame,
    n_bands: int = 16,
    band_bits: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 555,
    dim: int | None = None,
) -> DataFrame:
    """(id, band) relation: sign-LSH over the embedding — bit j of the
    signature is the sign of coordinate perm(j) (deterministic seeded
    dimension assignment), grouped into ``n_bands`` bands of ``band_bits``
    bits. Docs within a small angle agree on most signs, so near pairs
    collide in ≥1 band with high probability.

    ``dim`` is the embedding dimensionality; when None it is read from the
    first row (one tiny action). Hardcoding 64 here used to crash (ANSI
    element_at out-of-bounds) or, with ANSI off, silently NULL-collapse the
    band keys toward constants for any non-64-dim corpus."""
    if dim is None:
        # max(size) over a limited sample, not first(): a NULL vector in the
        # first row would yield size NULL (TypeError) or -1, and dim=-1
        # makes every `% dim` land on 0 — collapsing all band keys to
        # coordinate 0 and degenerating the LSH candidate set to near-all-pairs
        row = embeddings.limit(1024).agg(F.max(F.size(F.col(vec_col)))).first()
        dim = int(row[0]) if row and row[0] is not None and row[0] > 0 else 1
    dim_of = lambda bit: (bit * 2654435761 + seed) % dim  # noqa: E731 — seeded perm
    bands = F.array(
        *[
            F.concat_ws(
                "_",
                F.lit(b),
                *[
                    (F.element_at(F.col(vec_col), dim_of(b * band_bits + r) + 1) >= 0).cast("int").cast("string")
                    for r in range(band_bits)
                ],
            )
            for b in range(n_bands)
        ]
    )
    return embeddings.select(F.col(id_col).alias("id"), F.explode(bands).alias("band"))


def embedding_neardup_lsh(
    embeddings: DataFrame,
    threshold: float = 0.95,
    n_bands: int = 16,
    band_bits: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """APPROXIMATE near-dup pairs: sign-LSH band candidates (equi-join —
    never all-pairs), exact float64 cosine verification on candidates only.
    Precision is exact (every returned pair truly ≥ threshold); recall is
    1-(1-p^band_bits)^n_bands with p = 1 - θ/π — tune bands/bits to the
    threshold. Returns (id_a, id_b, cos_sim) rounded to 6 dp.
    """
    banded = embedding_simhash_bands(embeddings, n_bands, band_bits, id_col, vec_col)
    l_ = banded.select(F.col("id").alias("id_a"), "band")
    r_ = banded.select(F.col("id").alias("id_b"), "band")
    cand = (
        l_.join(r_, "band")
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    return _verify_cosine(cand, embeddings, threshold, id_col, vec_col)
