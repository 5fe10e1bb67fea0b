"""One iteration of each workload: public lagespark calls, timed from outside
the package, each ending in one action whose small result is checked
against the Spark-free reference built in set-up (inputs.py).

An iteration returns a list of (operation, ok, detail); every entry counts
as one attempted operation and every `ok=False` as one failed operation.
"""

from __future__ import annotations

import math
import os
import time

import pyarrow.parquet as pq
from pyspark.sql import Observation
from pyspark.sql import functions as F

from lagespark import fixtures
from lagespark.image import codecs
from lagespark.kernels import cells, geom
from lagespark.operators import dedup, image_ops, similarity, spatial
from lagespark.pipeline import corpus, manifest

import inputs

TILE_SIZE = 1000.0
CELL_SIZE = 250.0
DEDUP_JACCARD = 0.8
DEDUP_PERMS = 8
DEDUP_BAND_ROWS = dedup.fit_band_rows(DEDUP_PERMS, DEDUP_JACCARD)
COS_RECALL_MIN = 0.95
HAM_RECALL_MIN = 1.0  # twins differ in <= 2 bits: the 4x16-bit banding's pigeonhole
DOC_RECALL_MIN = 0.9


def _hash(*cols):
    return F.sum(F.crc32(F.concat_ws(":", *[F.col(c).cast("string") for c in cols])))


def _same(got: dict, want: dict) -> tuple[bool, str]:
    bad = {}
    for k, v in want.items():
        g = got.get(k)
        ok = (
            g is not None and math.isclose(g, v, rel_tol=1e-9, abs_tol=1e-6)
            if isinstance(v, float)
            else g == v
        )
        if not ok:
            bad[k] = (g, v)
    return not bad, "" if not bad else f"got/want {bad}"


def _check(ops: list, name: str, got: dict, want: dict) -> None:
    ok, detail = _same(got, want)
    ops.append((name, ok, detail))


# ---------------------------------------------------------------------------
# tiling
# ---------------------------------------------------------------------------


def tiling(spark, inp: dict, out: str, tr, ref: dict | None = None) -> list:
    """roundtrip_check -> zones (with_grid_cell, with_zone) -> pip_join ->
    per-feature Lagefaktor score aggregate, each stage committed through
    pipeline.manifest.write_stage and checked through an Observation on the
    written DataFrame (the write is the stage's only action)."""
    ref = ref or inp["ref"]
    ops: list = []
    images = spark.read.parquet(inp["paths"]["images"])

    with tr.span("operators.image_ops.roundtrip_check"):
        rt = image_ops.roundtrip_check(images)
    lossless = F.col("fmt").isin(*inputs.LOSSLESS)
    bad = (lossless & ~F.col("exact")) | (~lossless & (F.col("psnr") < inputs.MIN_PSNR_DB))
    obs = Observation()
    rt = rt.observe(obs, F.count(F.lit(1)).alias("n"),
                    F.sum(bad.cast("long")).alias("bad"), _hash("image_id").alias("h"))
    with tr.span("operators.image_ops.roundtrip_check", "exec") as sp:
        manifest.write_stage(rt, f"{out}/roundtrip", "roundtrip", "fmt")
    got = obs.get
    sp["rows"] = got["n"]
    _check(ops, "roundtrip", got, ref["roundtrip"])

    meta = images.select("image_id", "caption", "x", "y", F.length("bytes").alias("nb"))
    with tr.span("operators.spatial.with_grid_cell"):
        tiled = spatial.with_grid_cell(meta, cell_size=TILE_SIZE, out="tile")
    with tr.span("operators.spatial.with_zone"):
        zoned = spatial.with_zone(tiled, spatial.FeatureSet(fixtures.baufeld_pdf()))
    obs = Observation()
    zoned = zoned.observe(
        obs, F.count(F.lit(1)).alias("n"), F.sum("zone").alias("zone_sum"),
        F.sum("tile").alias("tile_sum"), F.sum("nb").alias("nb"),
        _hash("image_id", "zone").alias("h"), _hash("caption").alias("caption_h"),
    )
    with tr.span("operators.spatial.with_zone", "exec") as sp:
        manifest.write_stage(zoned, f"{out}/zones", "zones", "zone")
    got = obs.get
    sp["rows"] = got["n"]
    _check(ops, "zones", got, ref["zones"])

    zones, _ = manifest.read_stage(spark, f"{out}/zones")
    gf_pdf = fixtures.gruenflaeche_pdf()
    with tr.span("operators.spatial.pip_join"):
        hits = spatial.pip_join(zones, spatial.FeatureSet(gf_pdf))
    obs = Observation()
    hits = hits.select("image_id", "feature_id", "zone", "tile").observe(
        obs, F.count(F.lit(1)).alias("n"), F.sum("zone").alias("zone_sum"),
        _hash("image_id", "feature_id").alias("h"),
    )
    with tr.span("operators.spatial.pip_join", "exec") as sp:
        manifest.write_stage(hits, f"{out}/pip", "pip", "zone")
    got = obs.get
    sp["rows"] = got["n"]
    _check(ops, "pip", got, ref["pip"])

    hits, _ = manifest.read_stage(spark, f"{out}/pip")
    values = spark.createDataFrame(gf_pdf[["feature_id", "compensatory_value"]])
    factors = spark.createDataFrame(fixtures.factors_pdf())
    scores = spatial.score_points(hits.join(F.broadcast(values), "feature_id"), factors)
    obs = Observation()
    scores = scores.observe(obs, F.count(F.lit(1)).alias("n"),
                            F.sum("n_points").alias("n_points"), F.sum("score").alias("score"))
    manifest.write_stage(scores, f"{out}/scores", "scores", "zone")
    _check(ops, "scores", obs.get, ref["scores"])
    return ops


# ---------------------------------------------------------------------------
# spatial-join
# ---------------------------------------------------------------------------


def spatial_join(spark, inp: dict, out: str, tr, ref: dict | None = None) -> list:
    """overlay_join and intersects_join_ri on two data-scale polygon sides,
    knn_join_points (k=3) on a clustered point set; each output is reduced
    to one digest row (count, sums, order-free id hash)."""
    ref = ref or inp["ref"]
    ops: list = []
    p = inp["paths"]
    left, right = spark.read.parquet(p["left"]), spark.read.parquet(p["right"])

    with tr.span("operators.spatial.overlay_join"):
        ov = spatial.overlay_join(left, right, cell_size=CELL_SIZE)
    both_rect = F.col("id_l").startswith("r") & F.col("id_r").startswith("r")
    with tr.span("operators.spatial.overlay_join", "exec") as sp:
        got = ov.agg(
            F.count(F.lit(1)).alias("n"), F.sum("area").alias("area"),
            _hash("id_l", "id_r").alias("h"), F.sum(both_rect.cast("long")).alias("n_rect"),
        ).first().asDict()
    sp["rows"] = got["n"]
    sp["rect_frac"] = got["n_rect"] / max(got["n"], 1)
    _check(ops, "overlay_join", got, ref["overlay"])

    with tr.span("operators.spatial.intersects_join_ri"):
        ri = spatial.intersects_join_ri(left, right, cell_size=CELL_SIZE)
    with tr.span("operators.spatial.intersects_join_ri", "exec") as sp:
        got = ri.agg(
            F.count(F.lit(1)).alias("n"), _hash("id_l", "id_r").alias("h"),
            F.sum((F.col("method") == "exact").cast("long")).alias("n_exact"),
        ).first().asDict()
    sp["rows"] = got["n"]
    sp["kernel_frac"] = got.pop("n_exact") / max(got["n"], 1)
    _check(ops, "intersects_join_ri", got, ref["ri"])

    points, queries = spark.read.parquet(p["points"]), spark.read.parquet(p["queries"])
    with tr.span("operators.spatial.knn_join_points"):
        knn = spatial.knn_join_points(queries, points, k=inputs.KNN_K, id_col="pid")
    with tr.span("operators.spatial.knn_join_points", "exec") as sp:
        got = knn.agg(
            F.count(F.lit(1)).alias("n"), F.sum("dist").alias("dist"),
            _hash("qid", "nn_id", "rank").alias("h"),
        ).first().asDict()
    sp["rows"] = got["n"]
    _check(ops, "knn_join_points", got, ref["knn"])
    return ops


# ---------------------------------------------------------------------------
# near-dup
# ---------------------------------------------------------------------------


def corpus_args(sf_dir: str, out: str):
    return corpus.build_parser().parse_args(
        ["--out", out, "--sf-dir", sf_dir, "--dedup-jaccard", str(DEDUP_JACCARD),
         "--dedup-perms", str(DEDUP_PERMS), "--dedup-band-rows", str(DEDUP_BAND_ROWS)]
    )


def _pairs_check(rows, truth: dict, injected: set, recall_min: float, exact) -> tuple[bool, str]:
    """Every emitted pair is a true pair whose emitted value `exact(value,
    truth)` accepts, and the injected duplicates are found at >= recall_min."""
    wrong = [r for r in rows if (r[0], r[1]) not in truth or not exact(r[2], truth[(r[0], r[1])])]
    found = {(r[0], r[1]) for r in rows} & injected
    recall = len(found) / max(len(injected), 1)
    ok = not wrong and recall >= recall_min and len(rows) == len({(r[0], r[1]) for r in rows})
    return ok, f"wrong={wrong[:3]} recall={recall:.4f}"


def near_dup(spark, inp: dict, out: str, tr, ref: dict | None = None) -> list:
    """pipeline.corpus.run (clean -> dedup -> decon -> mix -> pack, each
    stage written with a manifest), cosine_pairs_lsh and
    phash_neardup_pairs. The pair outputs hold about one row per injected
    duplicate, so their single action collects them and every pair is
    checked exactly; the corpus is checked through its returned stage counts
    and the committed dedup stage."""
    ref = ref or inp["ref"]
    ops: list = []
    p = inp["paths"]

    with tr.span("pipeline.corpus.run") as sp:
        stats = corpus.run(corpus_args(os.path.dirname(p["documents"]), out))
    sp["rows"] = stats["packed_docs"]
    sp["stage_sec"] = stats["stage_sec"]
    kept = set(pq.read_table(f"{out}/dedup", columns=["doc_id"])["doc_id"].to_pylist())
    removed = set(range(ref["n_docs"])) - kept
    recall = len(removed & ref["doc_injected"]) / max(len(ref["doc_injected"]), 1)
    counts = [stats[k] for k in ("input_docs", "clean", "dedup", "decon", "mix", "packed_docs")]
    ok = (
        stats["input_docs"] == stats["clean"] == ref["n_docs"]
        and removed <= ref["doc_injected"]
        and recall >= DOC_RECALL_MIN
        and all(a >= b for a, b in zip(counts[2:], counts[3:]))
        and stats["mix"] == stats["packed_docs"] > 0
    )
    ops.append(("corpus.run", ok, f"counts={counts} dedup_recall={recall:.4f}"))

    emb = spark.read.parquet(p["embeddings"])
    with tr.span("operators.similarity.cosine_pairs_lsh"):
        cp = similarity.cosine_pairs_lsh(emb, inputs.COS_THRESHOLD)
    with tr.span("operators.similarity.cosine_pairs_lsh", "exec") as sp:
        rows = [(r["a"], r["b"], r["cos"]) for r in cp.collect()]
    sp["rows"] = len(rows)
    ok, detail = _pairs_check(
        rows, ref["cos"], ref["cos_injected"], COS_RECALL_MIN,
        lambda got, true: got >= inputs.COS_THRESHOLD and abs(got - true) <= 5e-5 + 1e-12,
    )
    ops.append(("cosine_pairs_lsh", ok, detail))

    hashes = spark.read.parquet(p["hashes"])
    with tr.span("operators.image_ops.phash_neardup_pairs"):
        hp = image_ops.phash_neardup_pairs(hashes, inputs.MAX_HAMMING)
    with tr.span("operators.image_ops.phash_neardup_pairs", "exec") as sp:
        rows = [(r["a"], r["b"], r["hamming"]) for r in hp.collect()]
    sp["rows"] = len(rows)
    ok, detail = _pairs_check(
        rows, ref["ham"], ref["ham_injected"], HAM_RECALL_MIN,
        lambda got, true: got == true <= inputs.MAX_HAMMING,
    )
    ops.append(("phash_neardup_pairs", ok, detail))
    return ops


def refine_yield(spark, corpus_out: str) -> float:
    """Exact-Jaccard survivors / LSH candidates over a committed clean stage,
    with the banding corpus.run's dedup stage uses (candidates from
    dedup.minhash_pairs_fast)."""
    clean, _ = manifest.read_stage(spark, f"{corpus_out}/clean")
    kw = dict(id_col="doc_id", text_col="norm", perms=DEDUP_PERMS, band_rows=DEDUP_BAND_ROWS)
    cand = dedup.minhash_pairs_fast(clean, **kw).count()
    refined = dedup.minhash_jaccard_pairs(clean, threshold=DEDUP_JACCARD, **kw).count()
    return refined / max(cand, 1)


def pipeline(spark, inp: dict, out: str, tr, ref: dict | None = None) -> list:
    """The tiling half, then the near-dup half, in one iteration."""
    ref = ref or inp["ref"]
    return tiling(spark, inp, f"{out}/tiling", tr, ref["tiling"]) + near_dup(
        spark, inp, f"{out}/near-dup", tr, ref["near-dup"])


ITERATIONS = {"spatial-join": spatial_join, "pipeline": pipeline}


def _rate(fn, rows: int, min_s: float = 0.25) -> float:
    """Rows per second of `fn` (one call = `rows` rows) over >= min_s."""
    reps, t0 = 0, time.perf_counter()
    while True:
        fn()
        reps += 1
        dt = time.perf_counter() - t0
        if dt >= min_s:
            return rows * reps / dt


def kernel_rates(workload: str, inp: dict) -> dict:
    """Kernel-only throughput on a sample of the workload's own inputs: no
    Spark, one core (the driver's single Python thread)."""
    tables, out = inp["tables"], {}
    if workload == "pipeline":
        img = tables["images"]
        x, y = img["x"].to_numpy(), img["y"].to_numpy()
        bf = spatial.FeatureSet(fixtures.baufeld_pdf()).polys()
        gf = spatial.FeatureSet(fixtures.gruenflaeche_pdf()).polys()
        out["kernels.geom.zone_rows_per_s"] = _rate(lambda: geom.zone_of_points(x, y, bf), len(x))
        out["kernels.geom.pip_rows_per_s"] = _rate(
            lambda: [geom.point_in_polygon(x, y, r) for r in gf], len(x))
        out["kernels.cells.grid_rows_per_s"] = _rate(
            lambda: cells.grid_encode(x, y, CELL_SIZE), len(x))
        sample = list(img.head(240)[["bytes", "fmt", "w", "h"]].itertuples(index=False))
        pxs = [codecs.decode_image(*r) for r in sample]
        out["image.codecs.decode_per_s"] = _rate(
            lambda: [codecs.decode_image(*r) for r in sample], len(sample))
        out["image.codecs.phash_per_s"] = _rate(lambda: [codecs.phash64(px) for px in pxs], len(pxs))
    elif workload == "spatial-join":
        pairs = inputs.clip_pair_sample(tables)
        out["kernels.geom.clip_pairs_per_s"] = _rate(
            lambda: [geom.intersection_area(a, b) for a, b in pairs], len(pairs))
    return out
