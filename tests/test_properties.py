"""Property-based tests (hypothesis): the relational operators must agree
with straightforward sequential simulators on arbitrary small instances —
the same strategy the reference's asserts encode, but adversarial."""

import numpy as np
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from hypothesis.extra.numpy import arrays
from pyspark.sql import functions as F

from gp_ann_spark.functions.distances import topk
from gp_ann_spark.operators import kmeans as KM
from gp_ann_spark.operators import knn as KNN
from tests.conftest import final_plan

# One shared strategy: a small candidate-rating instance.
_instances = st.integers(min_value=1, max_value=9999).flatmap(
    lambda seed: st.just(np.random.default_rng(seed))
)


def _greedy_reference(cands, caps):
    """Sequential greedy fill: process candidates ascending (score, id,
    shard); place iff the id is unplaced and the shard has room — the
    reference's global-rating loop (overlapping_partitioning.cpp:205-222)."""
    placed = {}
    room = dict(caps)
    for score, i, s in sorted(cands):
        if i in placed or room.get(s, 0) <= 0:
            continue
        placed[i] = s
        room[s] -= 1
    return placed


def _random_instance(rng):
    n_ids = int(rng.integers(2, 18))
    n_shards = int(rng.integers(1, 5))
    caps = {s: int(rng.integers(0, 6)) for s in range(n_shards)}
    cands = []
    for i in range(n_ids):
        for s in rng.choice(n_shards, size=rng.integers(1, n_shards + 1), replace=False):
            # coarse scores on purpose: tie-break paths must be exercised
            cands.append((float(rng.integers(0, 5)), i, int(s)))
    return cands, caps


def _run_capacity_fill(spark, cands, caps):
    scored = spark.createDataFrame(
        [(i, s, sc) for sc, i, s in cands], "id long, shard int, dist double"
    )
    caps_df = spark.createDataFrame([(s, c) for s, c in caps.items()], "shard int, cap int")
    return {r["id"]: r["shard"] for r in KM.capacity_fill(scored, caps_df).collect()}


@settings(max_examples=12, deadline=None, derandomize=True, suppress_health_check=list(HealthCheck))
@given(rng=_instances)
def test_capacity_fill_matches_sequential_greedy(spark, rng):
    cands, caps = _random_instance(rng)
    assert _run_capacity_fill(spark, cands, caps) == _greedy_reference(cands, caps)


def test_capacity_fill_greedy_seed_sweep(spark):
    """Deterministic 2000-seed sweep: the relational deferred-acceptance
    fill must be extensionally EQUAL to the reference's sequential greedy
    (overlapping_partitioning.cpp:205-222) on every instance. The pass
    structure is validated driver-side on all 2000 seeds (instant); a fixed
    ~15-instance sample additionally runs end-to-end through Spark."""
    import random

    check_spark = random.Random(7)
    for seed in range(2000):
        rng = np.random.default_rng(seed)
        cands, caps = _random_instance(rng)
        greedy = _greedy_reference(cands, caps)
        da = _deferred_acceptance(cands, caps)
        assert da == greedy, f"seed {seed}: {da} != {greedy}"
        if check_spark.random() < 0.0075:  # ~15 instances end-to-end via Spark
            assert _run_capacity_fill(spark, cands, caps) == greedy, f"seed {seed}"


def _deferred_acceptance(cands, caps):
    """Driver-side mirror of capacity_fill's pass structure (kmeans.py):
    Gale–Shapley with eviction — tentative holds, rejected pairs deleted,
    loop until a pass rejects nothing."""
    live_caps = {s: c for s, c in caps.items() if c > 0}
    remaining = {(score, i, s) for score, i, s in cands if s in live_caps}
    while True:
        best = {}
        for c in remaining:
            i = c[1]
            if i not in best or c < best[i]:
                best[i] = c
        by_shard = {}
        for c in best.values():
            by_shard.setdefault(c[2], []).append(c)
        rejected = set()
        for s, props in by_shard.items():
            props.sort()
            rejected.update(props[live_caps[s]:])
        if not rejected:
            return {c[1]: c[2] for c in best.values()}
        remaining -= rejected
        if not remaining:
            return {}


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(rng=_instances)
def test_merge_topk_and_symmetrize_invariants(spark, rng):
    n = int(rng.integers(3, 15))
    k = int(rng.integers(1, 4))
    rows = []
    for _ in range(int(rng.integers(5, 40))):
        a, b = rng.choice(n, size=2, replace=False)
        rows.append((int(a), int(b), float(rng.integers(1, 9))))
    edges = spark.createDataFrame(rows, "src long, dst long, weight double")
    merged = KNN.merge_topk(edges, k).collect()
    # ≤ k per src, dedup keeps the min weight, result ⊆ input pairs
    by_src = {}
    best = {}
    for a, b, w in rows:
        best[(a, b)] = min(best.get((a, b), float("inf")), w)
    for r in merged:
        by_src.setdefault(r["src"], []).append(r)
        assert r["weight"] == best[(r["src"], r["dst"])]
    for src, lst in by_src.items():
        assert len(lst) <= k
        kept = sorted((r["weight"], r["dst"]) for r in lst)
        expected = sorted(
            (w, b) for (a, b), w in best.items() if a == src
        )[: len(lst)]
        assert kept == expected
    sym = KNN.symmetrize(edges).collect()
    pairs = {(r["src"], r["dst"]): r["weight"] for r in sym}
    for (a, b), w in pairs.items():
        assert (b, a) in pairs
        assert pairs[(b, a)] == min(best.get((a, b), np.inf), best.get((b, a), np.inf)) or True
        assert w == min(best.get((a, b), np.inf), best.get((b, a), np.inf))


@st.composite
def _tie_heavy_topk(draw):
    """A (rows × n) matrix over {0, 1, 2, +inf} — ties at the k-th distance
    are the common case — a key that is absent, per column or per entry
    (with repeats, so (distance, key) ties fall back to the column), and k
    from 1 to n + 2."""
    rows, n = draw(st.integers(1, 6)), draw(st.integers(1, 12))
    d = draw(arrays(np.float64, (rows, n), elements=st.sampled_from([0.0, 1.0, 2.0, np.inf])))
    shape = draw(st.sampled_from([None, (n,), (rows, n)]))
    key = None if shape is None else draw(arrays(np.int64, shape, elements=st.integers(-2, 2)))
    return d, key, draw(st.integers(1, n + 2))


@settings(max_examples=300, deadline=None, derandomize=True)
@given(inst=_tie_heavy_topk())
def test_topk_equals_full_lexsort(inst):
    """``topk`` is the first k columns of the full stable (distance, key)
    sort of each row, whatever the ties."""
    d, key, k = inst
    full_key = np.broadcast_to(np.arange(d.shape[1]) if key is None else key, d.shape)
    np.testing.assert_array_equal(topk(d, k, key), np.lexsort((full_key, d), axis=-1)[:, :k])


def test_topk_rejects_k_below_one_and_passes_empty_input():
    for k in (0, -1):
        with pytest.raises(ValueError, match="k must be >= 1"):
            topk(np.zeros((2, 3)), k)
    assert topk(np.zeros((4, 0)), 3).shape == (4, 0)
    assert topk(np.zeros((0, 5)), 3).shape == (0, 3)


_longs = st.integers(min_value=-(1 << 63), max_value=(1 << 63) - 1)
_ints = st.integers(min_value=-(1 << 31), max_value=(1 << 31) - 1)


@settings(max_examples=15, deadline=None, derandomize=True, suppress_health_check=list(HealthCheck))
@given(
    ids=st.lists(_longs, min_size=1, max_size=40),
    seed=_ints, depth=st.integers(0, 14), ns=st.integers(1, 1 << 40), text=st.text(max_size=31).filter(
        lambda t: len(t.encode("utf-8")) < 32
    ),
)
def test_xxhash64_port_equals_spark(spark, ids, seed, depth, ns, text):
    """The NumPy ``xxhash64`` equals ``F.xxhash64`` on the sketch's two hash
    forms — the leader rank ``(id, seed, depth)`` and the force-split child
    ``(bucket, seed, "split", pmod(xxhash64(id, seed, "split"), ns))`` — and
    on a short string."""
    from gp_ann_spark.functions.xxhash import xxhash64

    df = spark.createDataFrame([(i,) for i in ids], "id long")
    s = F.lit(seed).cast("int")
    split = F.pmod(F.xxhash64("id", s, F.lit("split")), F.lit(ns).cast("long"))
    rows = df.select(
        "id",
        F.xxhash64("id", s, F.lit(depth)).alias("rank"),
        F.xxhash64("id", s, F.lit("split"), split).alias("child"),
        F.xxhash64(F.lit(text), "id").alias("text"),
    ).collect()
    got = np.array([r["id"] for r in rows], dtype=np.int64)
    s32 = np.int32(seed)
    assert list(xxhash64(got, s32, np.int32(depth))) == [r["rank"] for r in rows]
    child = xxhash64(got, s32, "split", np.mod(xxhash64(got, s32, "split"), np.int64(ns)))
    assert list(child) == [r["child"] for r in rows]
    assert list(xxhash64(text, got)) == [r["text"] for r in rows]


def test_xxhash64_port_equals_spark_on_2000_ids(spark):
    """Both sketch hash forms on 2,000 random ids, full int64 range and small."""
    from gp_ann_spark.functions.xxhash import xxhash64

    rng = np.random.default_rng(3)
    ids = np.concatenate([
        rng.integers(-(1 << 63), (1 << 63) - 1, size=1000, dtype=np.int64),
        rng.integers(0, 10**6, size=1000).astype(np.int64),
    ])
    df = spark.createDataFrame([(int(i),) for i in ids], "id long")
    s = F.lit(557).cast("int")
    pdf = df.select(
        "id",
        F.xxhash64("id", s, F.lit(3)).alias("rank"),
        F.xxhash64("id", s, F.lit("split"), F.pmod(F.xxhash64("id", s, F.lit("split")), F.lit(7).cast("long"))).alias("child"),
    ).toPandas()
    got, s32 = pdf["id"].to_numpy(np.int64), np.int32(557)
    assert (xxhash64(got, s32, np.int32(3)) == pdf["rank"].to_numpy()).all()
    assert (xxhash64(got, s32, "split", np.mod(xxhash64(got, s32, "split"), np.int64(7))) == pdf["child"].to_numpy()).all()


# Java's regex \s, the separator set of ``featurize``: no-break space, the
# information separators and U+2028 split a Python str.split() but not it
_JAVA_SPACE = " \t\n\x0b\f\r"
# under 32 UTF-8 bytes (6 characters of at most 4 bytes): the span of the
# xxhash64 port
_tokens = st.text(
    st.one_of(
        st.sampled_from("ab\u00a0\x1c\u2028"),
        st.characters(blacklist_characters=_JAVA_SPACE, blacklist_categories=("Cs",)),
    ),
    min_size=1,
    max_size=6,
)


@st.composite
def _documents(draw):
    """Tokens from a small pool (repeats accumulate and cancel) joined by
    runs of Java whitespace, each end with or without a run; the empty and
    whitespace-only documents included."""
    pool = draw(st.lists(_tokens, min_size=1, max_size=4))
    toks = draw(st.lists(st.sampled_from(pool), max_size=10))
    runs = draw(st.lists(st.text(st.sampled_from(_JAVA_SPACE), min_size=1, max_size=3),
                         min_size=len(toks) + 1, max_size=len(toks) + 1))
    lead, trail = draw(st.booleans()), draw(st.booleans())
    doc = "".join(r + t for r, t in zip(runs, toks)) + (runs[-1] if trail else "")
    return doc if lead or not toks else doc[len(runs[0]):]


def _codes(tok, dim, seed):
    from gp_ann_spark.functions.xxhash import xxhash64

    bucket = abs(int(xxhash64(tok, np.int32(seed)))) % dim
    return bucket, abs(int(xxhash64(tok, np.int32(seed), "sign"))) % 2 * 2 - 1


def _featurize_oracle(doc, dim, seed):
    import re

    raw = np.zeros(dim)
    for tok in re.split(f"[{_JAVA_SPACE}]+", doc):
        if tok:
            bucket, sign = _codes(tok, dim, seed)
            raw[bucket] += sign
    norm = np.sqrt((raw * raw).sum())
    return (raw / (norm or 1.0)).astype(np.float32)


def _cancelling_pair(dim, seed):
    """Two tokens of one bucket and opposite signs: their document sums to
    +0.0 in every bucket."""
    first = {}
    for i in range(4 * dim + 8):
        bucket, sign = _codes(f"c{i}", dim, seed)
        if -sign in first.get(bucket, {}):
            return f"{first[bucket][-sign]} c{i}"
        first.setdefault(bucket, {})[sign] = f"c{i}"
    raise AssertionError("no cancelling pair")


@settings(max_examples=15, deadline=None, derandomize=True, suppress_health_check=list(HealthCheck))
@given(docs=st.lists(_documents(), max_size=8), dim=st.sampled_from([1, 3, 16, 64]), seed=_ints)
def test_featurize_equals_numpy_oracle(spark, docs, dim, seed):
    """``featurize``'s float32 bytes equal a Python oracle over the ported
    ``xxhash64``, split on Java's six whitespace characters only; its other
    columns pass through, and its plan is one narrow pass."""
    from gp_ann_spark.corpus import featurize

    pair = _cancelling_pair(dim, seed)
    docs = docs + ["", " \t\x0b\f\r\n", pair, pair + " b", "a\u00a0b c"]
    df = spark.createDataFrame(
        [(i, f"t{i}", doc, i / 2) for i, doc in enumerate(docs)], "id long, tag string, content string, w double"
    )
    out = featurize(df, dim=dim, seed=seed)
    assert out.columns == ["id", "tag", "w", "vec"]
    rows = sorted(out.collect())
    assert [(r["id"], r["tag"], r["w"]) for r in rows] == [(i, f"t{i}", i / 2) for i in range(len(docs))]
    for r, doc in zip(rows, docs):
        assert np.asarray(r["vec"], dtype=np.float32).tobytes() == _featurize_oracle(doc, dim, seed).tobytes(), doc
    assert not np.asarray(rows[len(docs) - 3]["vec"]).any()
    plan = final_plan(out)
    assert not any(op in plan for op in ("Exchange", "Generate", "Join"))
