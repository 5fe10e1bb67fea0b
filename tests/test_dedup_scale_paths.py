"""Scale-safety regression tests for the dedup/ANN pair finders (VERDICT r1
items 3/5/10): the banded paths must stay equi-joins — no CartesianProduct /
BroadcastNestedLoopJoin may (re)appear in their physical plans — and the
production xxhash64 MinHash path must find the same injected duplicates as
the oracle-portable md5 path."""

from __future__ import annotations

import io
import re
from contextlib import redirect_stdout

import numpy as np
import pytest
from pyspark.sql import functions as F

from lagespark import harness
from lagespark import harness2  # noqa: F401  (registers the dedup queries)

SF = "/root/testdata/sf0.001"


def plan_of(df, mode="simple") -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


def _assert_no_all_pairs(plan: str, what: str):
    assert "CartesianProduct" not in plan, f"{what}: all-pairs CartesianProduct"
    assert "BroadcastNestedLoopJoin" not in plan, f"{what}: nested-loop join"


def _assert_no_pair_shuffle(plan: str, ids: tuple[str, str], what: str):
    """No HashAggregate or Exchange keyed on BOTH pair ids: a pair-stream
    distinct/dropDuplicates above the bucket join (pairs dedup map-side in
    dedup._bucket_pairs instead)."""
    keyed = re.findall(r"HashAggregate\(keys=\[([^\]]*)\]", plan)
    keyed += re.findall(r"hashpartitioning\(([^)]*)\)", plan)
    for keys in keyed:
        names = {re.sub(r"#\d+L?$", "", k.strip()) for k in keys.split(",")}
        assert not set(ids) <= names, f"{what}: pair-stream shuffle on {keys}"


def test_simhash_pairs_plan_is_banded(spark):


    df = harness.QUERIES["q82b-dedup-simhash-pairs"](spark, SF)
    _assert_no_all_pairs(plan_of(df), "q82b")


def test_minhash_fast_plan_is_banded(spark):


    df = harness.QUERIES["q72b-dedup-minhash-fast"](spark, SF)
    _assert_no_all_pairs(plan_of(df), "q72b")


def test_minhash_oracle_plan_is_banded(spark):


    df = harness.QUERIES["q72-dedup-minhash-lsh"](spark, SF)
    _assert_no_all_pairs(plan_of(df), "q72")


def test_phash_neardup_plan_is_banded(spark):
    from lagespark.operators import image_ops

    image_ops.set_image_batching(spark)
    imgs = image_ops.generate_with_neardups(spark, 64, partitions=4)
    df = image_ops.phash_neardup_pairs(imgs, max_hamming=6)
    _assert_no_all_pairs(plan_of(df), "phash pairs")


def test_lsh_pair_finders_dedup_pairs_map_side(spark):
    """cosine_pairs_lsh, lsh_topk and phash_neardup_pairs emit each pair
    from its first colliding band: no aggregate/exchange on the pair ids
    re-shuffles the candidate stream above the bucket join."""
    from lagespark.operators import image_ops, similarity

    e = spark.read.parquet(f"{SF}/embeddings.parquet").limit(64)
    _assert_no_pair_shuffle(
        plan_of(similarity.cosine_pairs_lsh(e, threshold=0.85)), ("a", "b"),
        "cosine_pairs_lsh",
    )
    _assert_no_pair_shuffle(
        plan_of(similarity.lsh_topk(e.limit(8), e, k=3)), ("qid", "nn_id"),
        "lsh_topk",
    )
    imgs = image_ops.generate_with_neardups(spark, 64, partitions=4)
    _assert_no_pair_shuffle(
        plan_of(image_ops.phash_neardup_pairs(imgs, max_hamming=6)), ("a", "b"),
        "phash_neardup_pairs",
    )


def test_hamming_pairs_matches_bruteforce(spark):
    """Banded hamming_pairs == the naive all-pairs result (pigeonhole bound
    is exact for hamming <= max_hamming)."""
    from lagespark.operators import dedup

    rows = [(i, (i * 2654435761) % 65536) for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id long, simhash long")
    banded = {
        (r.a, r.b, r.hamming)
        for r in dedup.hamming_pairs(df, "simhash", bits=16, max_hamming=2).collect()
    }
    a = df.select(F.col("doc_id").alias("a"), F.col("simhash").alias("ha"))
    b = df.select(F.col("doc_id").alias("b"), F.col("simhash").alias("hb"))
    naive = {
        (r.a, r.b, r.hamming)
        for r in a.crossJoin(b)
        .filter(F.col("a") < F.col("b"))
        .withColumn(
            "hamming", F.bit_count(F.col("ha").bitwiseXOR(F.col("hb"))).cast("int")
        )
        .filter(F.col("hamming") <= 2)
        .select("a", "b", "hamming")
        .collect()
    }
    assert banded == naive


def test_minhash_fast_finds_injected_duplicates(spark):
    """Exact duplicates share every band; heavily-overlapping docs share at
    least one — the production path must surface both kinds."""
    from lagespark.operators import dedup

    base = "the quick brown fox jumps over the lazy dog again and again today"
    rows = [(i, f"document number {i} with unrelated filler content {i * 7}") for i in range(40)]
    rows += [(100, base), (101, base)]  # exact dup pair
    rows += [(102, base + " x"), (103, base + " y")]  # near dups of base
    df = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = {(r.a, r.b) for r in dedup.minhash_pairs_fast(df, perms=8, band_rows=2).collect()}
    assert (100, 101) in pairs
    near = {p for p in pairs if p[0] >= 100}
    assert {(100, 102), (100, 103), (101, 102), (101, 103)} & near


def test_minhash_null_and_empty_text_emit_no_pairs(spark):
    """ADVICE round 2: null/empty-text docs must NOT band together (an
    all-null signature would give every such doc identical band keys in all
    bands → spurious all-pairs). Both the md5-oracle and the fast path must
    drop them before banding."""
    from lagespark.operators import dedup

    rows = [(1, None), (2, None), (3, ""), (4, "ab"), (5, "real text one"),
            (6, "real text one")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    for fn in (dedup.minhash_pairs, dedup.minhash_pairs_fast):
        pairs = {(r.a, r.b) for r in fn(df, perms=8, band_rows=2).collect()}
        assert (5, 6) in pairs, f"{fn.__name__} must keep real duplicates"
        bad = {p for p in pairs if p[0] in (1, 2, 3) or p[1] in (1, 2, 3)}
        assert not bad, f"{fn.__name__} emitted null/empty-text pairs: {bad}"


def test_lsh_jaccard_pipeline_precision_and_recall(spark):
    """q71b shape: every emitted pair verifies (precision exact); injected
    exact duplicates are all recovered (recall on jaccard=1.0 pairs is 1 —
    identical signatures share every band); plan has no cartesian."""
    from lagespark.operators import dedup

    docs = spark.read.parquet(f"{SF}/documents.parquet").limit(150)
    dup = docs.filter(F.col("doc_id") % 10 == 0).withColumn(
        "doc_id", F.col("doc_id") + 1_000_000
    )
    d = docs.unionByName(dup)
    out = dedup.minhash_jaccard_pairs(d, threshold=0.62)
    _assert_no_all_pairs(plan_of(out), "q71b")
    pdf = out.toPandas()
    assert (pdf["jaccard"] >= 0.62).all()
    got = {(r.a, r.b) for r in pdf.itertuples()}
    injected = {
        (int(r.doc_id), int(r.doc_id) + 1_000_000) for r in dup.select(
            (F.col("doc_id") - 1_000_000).alias("doc_id")
        ).collect()
    }
    assert injected <= got, injected - got
    # exact-refine agreement: the pipeline's pairs are a SUBSET of the
    # bruteforce jaccard pairs at the same threshold (precision = 1)
    brute = {
        (r.a, r.b)
        for r in dedup.ngram_jaccard_pairs(d, threshold=0.62).collect()
    }
    assert got <= brute


def test_cosine_pairs_lsh_recall_on_injected(spark):
    """q74b shape: exact duplicates (cos = 1.0) must be recovered by the
    sign-LSH bucket path (identical sketches in every table), results refine
    exactly, and the plan stays an equi-join."""
    from lagespark.operators import similarity

    e = spark.read.parquet(f"{SF}/embeddings.parquet").limit(200)
    dup = e.filter(F.col("vec_id") % 20 == 0).withColumn(
        "vec_id", F.col("vec_id") + 1_000_000
    )
    d = e.unionByName(dup)
    out = similarity.cosine_pairs_lsh(d, threshold=0.85)
    _assert_no_all_pairs(plan_of(out), "q74b")
    pdf = out.toPandas()
    assert (pdf["cos"] >= 0.85).all()
    got = {(r.a, r.b) for r in pdf.itertuples()}
    injected = {
        (int(v), int(v) + 1_000_000)
        for (v,) in e.filter(F.col("vec_id") % 20 == 0).select("vec_id").collect()
    }
    assert injected <= got, injected - got
    # precision vs the exact bounded baseline
    exact = {
        (r.a, r.b) for r in similarity.cosine_pairs(d, threshold=0.85).collect()
    }
    assert got <= exact


def test_minhash_fast_vs_md5_candidates(spark):
    """Different hash families → candidate sets may differ on borderline
    pairs, but both must agree on the high-similarity core: every pair the
    md5 path finds with verified Jaccard >= 0.8 must also be found fast."""
    from lagespark.operators import dedup

    docs = spark.read.parquet(f"{SF}/documents.parquet").limit(120)
    dup = docs.filter(F.col("doc_id") % 7 == 0).withColumn(
        "doc_id", F.col("doc_id") + 1_000_000
    )
    d = docs.unionByName(dup)
    md5_pairs = dedup.minhash_pairs(d, perms=8, band_rows=2)
    fast_pairs = {
        (r.a, r.b) for r in dedup.minhash_pairs_fast(d, perms=8, band_rows=2).collect()
    }
    # exact-duplicate injected pairs (jaccard = 1.0) are found by BOTH
    exact = {
        (r.a, r.b)
        for r in md5_pairs.join(
            d.select(F.col("doc_id").alias("a"), F.col("text").alias("ta")), "a"
        )
        .join(d.select(F.col("doc_id").alias("b"), F.col("text").alias("tb")), "b")
        .filter(F.col("ta") == F.col("tb"))
        .select("a", "b")
        .collect()
    }
    assert exact, "fixture must inject exact duplicates"
    assert exact <= fast_pairs


@pytest.mark.parametrize(
    "bits,maxh,finder",
    [
        pytest.param(16, 1, "hamming", id="16-1"),
        pytest.param(16, 3, "hamming", id="16-3"),
        pytest.param(24, 2, "hamming", id="24-2"),
        pytest.param(12, 4, "hamming", id="12-4"),
        # 4×16-bit pigeonhole bands are exact up to hamming 3
        pytest.param(64, 3, "phash", id="phash-64-3"),
    ],
)
def test_hamming_pairs_matches_bruteforce_params(spark, bits, maxh, finder):
    from lagespark.operators import dedup, image_ops

    if finder == "phash":
        # random 64-bit hashes plus 1..4-bit-flipped variants of each, so
        # pairs sit on both sides of the threshold and across bands
        rng = np.random.default_rng(3)
        rows = []
        for k, h in enumerate(rng.integers(0, 1 << 63, size=30).tolist()):
            for j in range(5):
                v = h ^ sum(1 << int(x) for x in rng.choice(64, size=j, replace=False))
                rows.append((f"img{k:02d}{j}", v - (1 << 64) if v >= 1 << 63 else v))
        df = spark.createDataFrame(rows, "image_id string, phash long")
        id_col, sk = "image_id", "phash"
        found = image_ops.phash_neardup_pairs(df, max_hamming=maxh)
    else:
        mask = (1 << bits) - 1
        rows = [(i, (i * 2654435761 + 17) % (mask + 1)) for i in range(120)]
        df = spark.createDataFrame(rows, "doc_id long, simhash long")
        id_col, sk = "doc_id", "simhash"
        found = dedup.hamming_pairs(df, sk, bits=bits, max_hamming=maxh)
    banded = {(r.a, r.b) for r in found.collect()}
    a = df.select(F.col(id_col).alias("a"), F.col(sk).alias("ha"))
    b = df.select(F.col(id_col).alias("b"), F.col(sk).alias("hb"))
    naive = {
        (r.a, r.b)
        for r in a.crossJoin(b)
        .filter(F.col("a") < F.col("b"))
        .withColumn("h", F.bit_count(F.col("ha").bitwiseXOR(F.col("hb"))))
        .filter(F.col("h") <= maxh)
        .select("a", "b")
        .collect()
    }
    assert naive or finder == "hamming", "fixture must hold in-threshold pairs"
    assert banded == naive
