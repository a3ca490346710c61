import numpy as np
from pyspark.sql import functions as F

from gp_ann_spark.operators import dedup as D
from gp_ann_spark.operators import multimodal as MM
from gp_ann_spark.operators import similarity as SIM
from gp_ann_spark.operators import text_analysis as TA
from tests.conftest import make_points_df


def docs_df(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog"),
        (1, "the quick brown fox jumps over the lazy cat"),
        (2, "the quick brown fox jumps over the lazy dog"),  # dup of 0
        (3, "completely different words entirely here now"),
        (4, "der hund ist auf der wiese und das ist gut"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup(spark):
    out = {r["keep_doc_id"]: r["n_dups"] for r in D.exact_dedup(docs_df(spark)).collect()}
    assert out[0] == 2  # doc 2 collapsed into doc 0
    assert out[1] == 1 and out[3] == 1


def test_quality_and_tokens(spark):
    q = {r["doc_id"]: r for r in TA.quality_features(docs_df(spark)).collect()}
    assert q[0]["n_tokens"] == 9
    assert q[0]["n_stopwords"] == 2  # 'the' twice
    assert 0 <= q[0]["quality_score"] <= 1


def test_language_id(spark):
    out = {r["doc_id"]: r["lang_pred"] for r in TA.language_id(docs_df(spark)).collect()}
    assert out[0] == "en"
    assert out[4] == "de"
    assert out[3] == "und"  # no stopwords at all


def test_fingerprint_ignores_whitespace_case(spark):
    rows = [(0, "Hello   World"), (1, "hello world"), (2, "other")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    fp = {r["doc_id"]: r["fingerprint"] for r in TA.fingerprint(df).collect()}
    assert fp[0] == fp[1] != fp[2]


def test_minhash_near_dups_found(spark):
    sigs = D.minhash_signatures(docs_df(spark))
    assert sigs.count() == 5
    pairs = {(r["doc_a"], r["doc_b"]) for r in D.minhash_band_pairs(sigs).collect()}
    assert (0, 2) in pairs  # exact dups always collide
    assert (0, 3) not in pairs  # disjoint shingles never collide


def test_jaccard_pairs(spark):
    out = {(r["doc_a"], r["doc_b"]): r["jaccard"] for r in D.jaccard_pairs(docs_df(spark), threshold=0.3).collect()}
    assert out[(0, 2)] == 1.0
    assert (0, 1) in out  # one word differs → high shingle overlap
    assert all(v >= 0.3 for v in out.values())


def test_simhash_and_bands(spark):
    sims = D.simhash(docs_df(spark))
    vals = {r["doc_id"]: r["simhash"] for r in sims.collect()}
    assert vals[0] == vals[2]  # identical text → identical simhash
    assert all(0 <= v < (1 << 60) for v in vals.values())
    pairs = {(r["doc_a"], r["doc_b"]) for r in D.simhash_near_pairs(sims).collect()}
    assert (0, 2) in pairs


def test_embedding_neardup_and_topk(spark, rng):
    base = rng.normal(size=(30, 8))
    X = np.vstack([base, base[:3] + rng.normal(0, 1e-3, size=(3, 8))])  # 3 near-dups
    emb = spark.createDataFrame(
        [(int(i), [float(x) for x in v]) for i, v in enumerate(X)], "vec_id long, embedding array<float>"
    ).cache()
    pairs = {(r["id_a"], r["id_b"]) for r in D.embedding_neardup_pairs(emb, 0.999).collect()}
    assert {(0, 30), (1, 31), (2, 32)} <= pairs
    topk = SIM.brute_force_topk(emb, k=1)
    nn = {r["query_id"]: r["neighbor_id"] for r in topk.collect()}
    assert nn[0] == 30 and nn[30] == 0


def test_ivf_topk_full_probe_is_exact(spark, rng):
    X = rng.normal(size=(60, 6))
    emb = spark.createDataFrame(
        [(int(i), [float(x) for x in v]) for i, v in enumerate(X)], "vec_id long, embedding array<float>"
    ).cache()
    exact = sorted(map(tuple, SIM.brute_force_topk(emb, k=3).collect()))
    ivf_all = sorted(map(tuple, SIM.ivf_topk(emb, k=3, n_cells=4, nprobe=4).collect()))
    assert ivf_all == exact
    # partial probe: high-but-not-necessarily-perfect recall
    ivf1 = SIM.ivf_topk(emb, k=3, n_cells=4, nprobe=1)
    inter = len(set(map(tuple, ivf1.select("query_id", "neighbor_id").collect()))
                & set(map(tuple, (r[:2] for r in exact))))
    assert inter / len(exact) >= 0.5


def test_multimodal_stub_pipeline(spark):
    media = MM.synth_media(spark, 30)
    assert media.count() == 30
    feats = MM.extract_features(media, dim=8)
    pdf = feats.toPandas()
    assert len(pdf) == 30
    assert all(len(v) == 8 for v in pdf["feature"])
    # deterministic
    pdf2 = MM.extract_features(MM.synth_media(spark, 30), dim=8).toPandas()
    assert sorted(map(tuple, pdf["feature"])) == sorted(map(tuple, pdf2["feature"]))


def _emb_df(spark, rng, n=120, d=64):
    base = rng.normal(size=(n, d)).astype(np.float32)
    # plant a few true near-dup pairs
    for i in range(0, 12, 2):
        base[i + 1] = base[i] + rng.normal(scale=0.05, size=d).astype(np.float32)
    rows = [(int(i), [float(x) for x in v]) for i, v in enumerate(base)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_embedding_neardup_blocked_equals_bruteforce(spark, rng):
    emb = _emb_df(spark, rng).cache()
    brute = {(r["id_a"], r["id_b"]): r["cos_sim"] for r in D.embedding_neardup_pairs(emb, threshold=0.9).collect()}
    blocked = {
        (r["id_a"], r["id_b"]): r["cos_sim"]
        for r in D.embedding_neardup_blocked(emb, threshold=0.9, block_size=32).collect()
    }
    assert set(brute) == set(blocked) and len(brute) >= 6
    for k in brute:
        assert abs(brute[k] - blocked[k]) < 1e-6


def test_embedding_neardup_lsh_precision_and_recall(spark, rng):
    emb = _emb_df(spark, rng).cache()
    exact = {(r["id_a"], r["id_b"]) for r in D.embedding_neardup_blocked(emb, threshold=0.9, block_size=32).collect()}
    lsh = {(r["id_a"], r["id_b"]) for r in D.embedding_neardup_lsh(emb, threshold=0.9).collect()}
    assert lsh <= exact  # verified candidates → perfect precision
    assert len(lsh) / len(exact) >= 0.8  # sign-LSH recall at cos≥0.9


def test_embedding_lsh_non_64_dim(spark, rng):
    """Sign-LSH must adapt its bit→dimension assignment to the embedding's
    real dimensionality — hardcoding 64 crashed (ANSI element_at
    out-of-bounds) or NULL-collapsed band keys for any other dim."""
    emb = _emb_df(spark, rng, n=60, d=8).cache()
    exact = {(r["id_a"], r["id_b"]) for r in D.embedding_neardup_pairs(emb, threshold=0.9).collect()}
    lsh = {(r["id_a"], r["id_b"]) for r in D.embedding_neardup_lsh(emb, threshold=0.9).collect()}
    assert lsh <= exact
    assert exact and len(lsh) / len(exact) >= 0.8
    # band keys must actually vary (the silent NULL-collapse failure mode)
    n_bands = D.embedding_simhash_bands(emb, dim=8).select("band").distinct().count()
    assert n_bands > 16


def test_multimodal_feature_dim_above_digest_width(spark):
    """dim > 16 exceeds one sha256 digest (32 bytes = 16 u16 lanes); the
    digest chain must fill the requested width instead of silently
    truncating, and the first 16 lanes must stay bit-identical to dim=16
    (first block = the plain digest)."""
    media = MM.synth_media(spark, 5)
    f16 = {r["media_id"]: list(r["feature"]) for r in MM.extract_features(media, dim=16).collect()}
    f32 = {r["media_id"]: list(r["feature"]) for r in MM.extract_features(media, dim=32).collect()}
    assert all(len(v) == 32 for v in f32.values())
    for mid, v in f32.items():
        assert v[:16] == f16[mid]
        assert any(x != 0.0 for x in v[16:])


def test_jaccard_pairs_guarded_counts_shared_hub_shingles(spark):
    """With hub shingles present (document frequency above ``max_doc_freq``)
    the guarded form finds the pairs sharing a rare shingle and scores each
    over its FULL shingle sets, hubs included: a Python oracle over the
    same rule."""
    hub = "alpha beta gamma delta"
    texts = [
        f"{hub} one two three four",
        f"{hub} one two three five",
        f"{hub} six seven eight nine",
        f"{hub} six seven eight ten",
        f"{hub} eleven twelve thirteen",
        "one two three four only",
    ]
    docs = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")

    def shingles(t):
        w = t.split()
        return {" ".join(w[i:i + 3]) for i in range(len(w) - 2)}

    sets = [shingles(t) for t in texts]
    df = {}
    for s in sets:
        for x in s:
            df[x] = df.get(x, 0) + 1
    want = {}
    for a in range(len(sets)):
        for b in range(a + 1, len(sets)):
            if any(df[x] <= 3 for x in sets[a] & sets[b]):
                jac = round(len(sets[a] & sets[b]) / len(sets[a] | sets[b]), 6)
                if jac >= 0.1:
                    want[(a, b)] = jac
    assert max(df.values()) > 3  # hubs exist
    got = {(r["doc_a"], r["doc_b"]): r["jaccard"] for r in D.jaccard_pairs(docs, threshold=0.1, max_doc_freq=3).collect()}
    assert got == want
    assert (0, 1) in got and (0, 4) not in got  # 0 and 4 share only hub shingles
