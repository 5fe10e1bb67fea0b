"""Seeded inputs and their Spark-free reference results.

Every table is a pure function of (workload, seed, size): numpy/pandas build
it in the driver and pyarrow writes it as a fixed number of parquet files, so
the same seed gives byte-identical files and Spark only ever reads parquet
(no generation inside a timed region, no benchmark code on the executors).
The reference result of each timed call is computed here from the same
in-memory frames with the repo's numpy kernels, never with Spark.
"""

from __future__ import annotations

import os
import zlib

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from lagespark import fixtures
from lagespark.kernels import cells, geom

# Input sizes. Small on purpose: a steady iteration is mostly per-job and
# per-task latency either way (spatial-join: ~18 s at 80 polygons per side,
# ~20 s at 700, on local[4]), and one run must fit set-up, a cold and a
# steady iteration into about a minute. "tiny" is the self-test size.
SIZES = {
    "full": {
        "n_images": 600,
        "n_polys": 300,
        "n_points": 5050,
        "n_docs": 1000,
        "n_vecs": 1000,
        "n_hashes": 2000,
    },
    "tiny": {
        "n_images": 120,
        "n_polys": 80,
        "n_points": 1010,
        "n_docs": 200,
        "n_vecs": 200,
        "n_hashes": 300,
    },
}
N_FILES = 8  # parquet files per table: 2x the local[4] task slots
KNN_K = 3
QUERY_EVERY = 101
DUP_EVERY = 10
COS_THRESHOLD = 0.9
MAX_HAMMING = 6
LOSSLESS = ("raw", "ppm", "png")
MIN_PSNR_DB = 40.0


def crc(s: str) -> int:
    """Same value as Spark's crc32(string) — the order-free id hash."""
    return zlib.crc32(s.encode())


def _u01(idx: np.ndarray, stream: int, seed: int) -> np.ndarray:
    return fixtures._hash_uniform(np.asarray(idx, dtype=np.int64), stream, seed)


def _write(pdf: pd.DataFrame, path: str, schema: pa.Schema | None = None) -> int:
    """Write `pdf` as N_FILES parquet files under `path`; returns bytes."""
    os.makedirs(path, exist_ok=True)
    table = pa.Table.from_pandas(pdf, schema=schema, preserve_index=False)
    bounds = np.linspace(0, len(pdf), N_FILES + 1).astype(int)
    nbytes = 0
    for k in range(N_FILES):
        f = os.path.join(path, f"part-{k:05d}.parquet")
        pq.write_table(table.slice(bounds[k], bounds[k + 1] - bounds[k]), f)
        nbytes += os.path.getsize(f)
    return nbytes


# ---------------------------------------------------------------------------
# tiling: image+caption table, Baufeld/Gruenflaeche fixtures
# ---------------------------------------------------------------------------

IMAGES_SCHEMA = pa.schema(
    [
        ("image_id", pa.string()),
        ("bytes", pa.binary()),
        ("w", pa.int32()),
        ("h", pa.int32()),
        ("fmt", pa.string()),
        ("caption", pa.string()),
        ("phash", pa.int64()),
        ("x", pa.float64()),
        ("y", pa.float64()),
        ("lon", pa.float64()),
        ("lat", pa.float64()),
    ]
)


def tiling_tables(seed: int, n: int) -> dict:
    # seed picks both the index range (payload pixels) and the locations
    idx = (seed % 997) * 100_000 + np.arange(n, dtype=np.int64)
    return {"images": fixtures.images_pdf_for_indices(idx, seed=seed)}


def tiling_reference(tables: dict, tile_size: float) -> dict:
    from lagespark.operators import spatial

    img = tables["images"]
    x, y = img["x"].to_numpy(), img["y"].to_numpy()
    bf = spatial.FeatureSet(fixtures.baufeld_pdf())
    gf_pdf = fixtures.gruenflaeche_pdf()
    gf = spatial.FeatureSet(gf_pdf)
    zone = geom.zone_of_points(x, y, bf.polys())
    ids = img["image_id"].tolist()
    tile = cells.grid_encode(x, y, tile_size)  # with_grid_cell's expression
    pip_ids, pip_fid, pip_zone = [], [], []
    for fid in gf.ids:
        inside = np.flatnonzero(geom.point_in_polygon(x, y, gf.rings[fid]))
        pip_ids += [ids[i] for i in inside]
        pip_fid += [fid] * len(inside)
        pip_zone += zone[inside].tolist()
    hits = pd.DataFrame({"feature_id": pip_fid, "zone": pip_zone})
    value = dict(zip(gf_pdf["feature_id"], gf_pdf["compensatory_value"]))
    factor = dict(zip(*(fixtures.factors_pdf()[c] for c in ("zone", "lagefaktor"))))
    hits["w"] = [value[f] * factor[z] for f, z in zip(hits["feature_id"], hits["zone"])]
    scores = hits.groupby(["feature_id", "zone"])["w"].sum().round(6)
    return {
        "roundtrip": {"n": len(img), "bad": 0, "h": sum(map(crc, ids))},
        "zones": {
            "n": len(img),
            "zone_sum": int(zone.sum()),
            "tile_sum": int(tile.sum()),
            "nb": int(img["bytes"].str.len().sum()),
            "h": sum(crc(f"{i}:{z}") for i, z in zip(ids, zone.tolist())),
            "caption_h": sum(map(crc, img["caption"])),
        },
        "pip": {
            "n": len(pip_ids),
            "zone_sum": int(sum(pip_zone)),
            "h": sum(crc(f"{i}:{f}") for i, f in zip(pip_ids, pip_fid)),
        },
        "scores": {
            "n": len(scores),
            "n_points": len(pip_ids),
            "score": float(scores.sum()),
        },
    }


# ---------------------------------------------------------------------------
# spatial-join: two polygon sides (85% rects, 15% octagons) + kNN points
# ---------------------------------------------------------------------------

RING_TYPE = pa.list_(pa.list_(pa.struct([("x", pa.float64()), ("y", pa.float64())])))
POLY_SCHEMA = pa.schema(
    [
        ("feature_id", pa.string()),
        ("rings", RING_TYPE),
        ("xmin", pa.float64()),
        ("ymin", pa.float64()),
        ("xmax", pa.float64()),
        ("ymax", pa.float64()),
    ]
)
POINT_SCHEMA = pa.schema([("pid", pa.int64()), ("x", pa.float64()), ("y", pa.float64())])


def polygon_side(seed: int, n: int, salt: int) -> pd.DataFrame:
    """The BENCH/scaling.py `_overlay_side` shape, seeded: centers uniform in
    an LxL window with L ~ sqrt(n) (constant density), 85% axis rects, 15%
    octagons. Ids carry the shape ('r'/'o') so a digest can count rect pairs."""
    ids = np.arange(n, dtype=np.int64)
    side = max(2000.0, np.sqrt(n) * 180.0)
    cx = _u01(ids, salt * 10 + 1, seed) * side
    cy = _u01(ids, salt * 10 + 2, seed) * side
    w = 60.0 + _u01(ids, salt * 10 + 3, seed) * 360.0
    h = 60.0 + _u01(ids, salt * 10 + 4, seed) * 360.0
    is_rect = _u01(ids, salt * 10 + 5, seed) < 0.85
    ang = np.arange(8) * np.pi / 4
    rows = []
    for k in range(n):
        if is_rect[k]:
            x0, y0, x1, y1 = cx[k] - w[k] / 2, cy[k] - h[k] / 2, cx[k] + w[k] / 2, cy[k] + h[k] / 2
            ring = [(x0, y0), (x1, y0), (x1, y1), (x0, y1)]
            fid = f"r{k}"
        else:
            r = w[k] / 2
            ring = list(zip(cx[k] + r * np.cos(ang), cy[k] + r * np.sin(ang)))
            fid = f"o{k}"
        xs = [p[0] for p in ring]
        ys = [p[1] for p in ring]
        rows.append(
            (fid, [[{"x": float(a), "y": float(b)} for a, b in ring]],
             min(xs), min(ys), max(xs), max(ys))
        )
    return pd.DataFrame(rows, columns=POLY_SCHEMA.names)


def spatial_tables(seed: int, n_polys: int, n_points: int) -> dict:
    pid = (seed % 997) * 1_000_000 + np.arange(n_points, dtype=np.int64)
    x, y = fixtures.points_for_indices(pid, seed)
    points = pd.DataFrame({"pid": pid, "x": x, "y": y})
    return {
        "left": polygon_side(seed, n_polys, 1),
        "right": polygon_side(seed, n_polys, 2),
        "points": points,
        "queries": points[points["pid"] % QUERY_EVERY == 0].reset_index(drop=True),
    }


def _rings(pdf: pd.DataFrame) -> list:
    return [fixtures.rings_to_numpy(r) for r in pdf["rings"]]


def candidate_pairs(left: pd.DataFrame, right: pd.DataFrame, chunk: int = 256):
    """(i, j) index pairs whose bboxes overlap with positive extent (the
    strict prefilter overlay_join applies), by chunked numpy broadcast."""
    L = {c: left[c].to_numpy()[:, None] for c in ("xmin", "ymin", "xmax", "ymax")}
    R = {c: right[c].to_numpy()[None, :] for c in ("xmin", "ymin", "xmax", "ymax")}
    out_i, out_j = [], []
    for s in range(0, len(left), chunk):
        sl = slice(s, s + chunk)
        m = (
            (L["xmin"][sl] < R["xmax"]) & (L["xmax"][sl] > R["xmin"])
            & (L["ymin"][sl] < R["ymax"]) & (L["ymax"][sl] > R["ymin"])
        )
        i, j = np.nonzero(m)
        out_i.append(i + s)
        out_j.append(j)
    return np.concatenate(out_i), np.concatenate(out_j)


def spatial_reference(tables: dict) -> dict:
    left, right = tables["left"], tables["right"]
    li, rj = candidate_pairs(left, right)
    lid, rid = left["feature_id"].to_numpy(), right["feature_id"].to_numpy()
    lr, rr = _rings(left), _rings(right)
    ov_n = ov_rect = ov_h = ri_n = ri_h = 0
    ov_area = 0.0
    for i, j in zip(li.tolist(), rj.tolist()):
        a, b = lid[i], rid[j]
        if a[0] == "r" and b[0] == "r":
            ox = min(left.xmax[i], right.xmax[j]) - max(left.xmin[i], right.xmin[j])
            oy = min(left.ymax[i], right.ymax[j]) - max(left.ymin[i], right.ymin[j])
            area = ox * oy
        else:
            area = geom.intersection_area(lr[i], rr[j])
        key = crc(f"{a}:{b}")
        if area > 1e-9:
            ri_n += 1
            ri_h += key
        rounded = round(area, 4)
        if rounded > 0:
            ov_n += 1
            ov_h += key
            ov_area += rounded
            ov_rect += a[0] == "r" and b[0] == "r"
    return {
        "overlay": {"n": ov_n, "area": ov_area, "h": ov_h, "n_rect": ov_rect},
        "ri": {"n": ri_n, "h": ri_h},
        "knn": knn_reference(tables["points"], tables["queries"], KNN_K),
    }


def knn_reference(points: pd.DataFrame, queries: pd.DataFrame, k: int) -> dict:
    """Brute force: every target except the query itself, ranked by
    (distance rounded to 6 places, id) — knn_join_points' contract."""
    tx, ty, tid = points["x"].to_numpy(), points["y"].to_numpy(), points["pid"].to_numpy()
    n = h = 0
    dist_sum = 0.0
    for q, qx, qy in zip(queries["pid"].tolist(), queries["x"].tolist(), queries["y"].tolist()):
        d = np.round(np.sqrt((qx - tx) ** 2 + (qy - ty) ** 2), 6)
        d = np.where(tid == q, np.inf, d)
        order = np.lexsort((tid, d))[:k]
        for rank, t in enumerate(order.tolist(), start=1):
            n += 1
            dist_sum += float(d[t])
            h += crc(f"{q}:{int(tid[t])}:{rank}")
    return {"n": n, "dist": dist_sum, "h": h}


def clip_pair_sample(tables: dict, limit: int = 400) -> list:
    """General (non rect x rect) candidate pairs: the clip kernel's input."""
    left, right = tables["left"], tables["right"]
    li, rj = candidate_pairs(left, right)
    lr, rr = _rings(left), _rings(right)
    lid, rid = left["feature_id"].to_numpy(), right["feature_id"].to_numpy()
    gen = [(i, j) for i, j in zip(li.tolist(), rj.tolist()) if "o" in (lid[i][0], rid[j][0])]
    return [(lr[i], rr[j]) for i, j in gen[:limit]]


# ---------------------------------------------------------------------------
# near-dup: document corpus, embeddings, image hashes (1 in 10 a near-dup)
# ---------------------------------------------------------------------------

DOC_WORDS = 40
VEC_DIM = 64


def corpus_docs(seed: int, n: int) -> pd.DataFrame:
    """BENCH/scaling.py `_docs` + `_corpus_src` shape, seeded: ~40 words over
    a wide-alphabet vocabulary; every 10th doc repeats its predecessor with
    the last 2 words changed; a tripled language marker gives four strata."""
    from BENCH.scaling import _VOCAB, _vocab_words

    voc = np.array(_vocab_words())
    ids = np.arange(n, dtype=np.int64)
    dup = ids % DUP_EVERY == DUP_EVERY - 1
    base = np.where(dup, ids - 1, ids)
    words = np.stack(
        [(_u01(base * DOC_WORDS + j, 77, seed) * _VOCAB).astype(np.int64)
         for j in range(DOC_WORDS)],
        axis=1,
    )
    for j in (DOC_WORDS - 2, DOC_WORDS - 1):
        fresh = (_u01(ids * DOC_WORDS + j, 78, seed) * _VOCAB).astype(np.int64)
        words[:, j] = np.where(dup, fresh, words[:, j])
    marker = np.array(["the", "der", "le", "el"])[ids % 4]
    text = [
        f"{m} {m} {m} " + " ".join(row)
        for m, row in zip(marker.tolist(), voc[words].tolist())
    ]
    return pd.DataFrame({"doc_id": ids, "text": text})


def embeddings(seed: int, n: int) -> pd.DataFrame:
    rng = np.random.default_rng(seed)
    m = rng.normal(size=(n, VEC_DIM))
    ids = np.arange(n)
    dup = ids % DUP_EVERY == DUP_EVERY - 1
    m[dup] = m[ids[dup] - 1] + 0.05 * rng.normal(size=(int(dup.sum()), VEC_DIM))
    return pd.DataFrame({"vec_id": ids.astype(np.int64), "embedding": list(m)})


def image_hashes(seed: int, n: int) -> pd.DataFrame:
    """Random 64-bit pHashes; every 10th is its predecessor's twin with one
    or two bits flipped (within every banding's pigeonhole guarantee)."""
    rng = np.random.default_rng(seed + 1)
    h = rng.integers(0, np.iinfo(np.uint64).max, size=n, dtype=np.uint64, endpoint=True)
    ids = np.arange(n)
    for i in ids[ids % DUP_EVERY == DUP_EVERY - 1].tolist():
        flips = rng.choice(64, size=1 + i % 2, replace=False)
        h[i] = h[i - 1] ^ np.uint64(sum(1 << int(b) for b in flips))
    return pd.DataFrame({"image_id": [f"h{i:07d}" for i in ids], "phash": h.view(np.int64)})


def neardup_tables(seed: int, n_docs: int, n_vecs: int, n_hashes: int) -> dict:
    return {
        "documents": corpus_docs(seed, n_docs),
        "embeddings": embeddings(seed, n_vecs),
        "hashes": image_hashes(seed, n_hashes),
    }


_POP16 = np.array([bin(v).count("1") for v in range(1 << 16)], dtype=np.int32)


def _popcount64(v: np.ndarray) -> np.ndarray:
    u = v.view(np.uint64)
    return sum(_POP16[(u >> np.uint64(s)) & np.uint64(0xFFFF)] for s in range(0, 64, 16))


def neardup_reference(tables: dict) -> dict:
    """Exact pair sets: every vector pair with cosine >= COS_THRESHOLD and
    every hash pair within MAX_HAMMING bits (chunked brute force), plus the
    injected-duplicate ids each check measures recall against."""
    m = np.stack(tables["embeddings"]["embedding"].to_numpy())
    m = m / np.linalg.norm(m, axis=1, keepdims=True)
    cos = {}
    for s in range(0, len(m), 512):
        c = m[s : s + 512] @ m.T
        for i, j in zip(*np.nonzero(c >= COS_THRESHOLD - 1e-4)):
            if s + i < j:
                cos[(s + int(i), int(j))] = float(np.sum(m[s + i] * m[j]))
    hashes = tables["hashes"]
    hv = hashes["phash"].to_numpy()
    hid = hashes["image_id"].tolist()
    ham = {}
    for s in range(0, len(hv), 256):
        d = _popcount64(hv[s : s + 256, None] ^ hv[None, :])
        for i, j in zip(*np.nonzero(d <= MAX_HAMMING)):
            if hid[s + i] < hid[j]:
                ham[(hid[s + int(i)], hid[int(j)])] = int(d[i, j])
    n_docs = len(tables["documents"])
    return {
        "cos": cos,
        "cos_injected": {(i - 1, i) for i in range(DUP_EVERY - 1, len(m), DUP_EVERY)},
        "ham": ham,
        "ham_injected": {
            (hid[i - 1], hid[i]) for i in range(DUP_EVERY - 1, len(hv), DUP_EVERY)
        },
        "doc_injected": set(range(DUP_EVERY - 1, n_docs, DUP_EVERY)),
        "n_docs": n_docs,
    }


# ---------------------------------------------------------------------------


def materialize(workload: str, seed: int, size: str, root: str) -> dict:
    """Build the workload's tables, write them under `root`, and compute the
    references. Returns {"paths", "bytes" (per table), "rows", "tables",
    "ref"}; the "pipeline" workload's ref holds one entry per half."""
    sz = SIZES[size]
    if workload == "spatial-join":
        tables = spatial_tables(seed, sz["n_polys"], sz["n_points"])
        schemas = {"left": POLY_SCHEMA, "right": POLY_SCHEMA,
                   "points": POINT_SCHEMA, "queries": POINT_SCHEMA}
    else:
        tables = {**tiling_tables(seed, sz["n_images"]),
                  **neardup_tables(seed, sz["n_docs"], sz["n_vecs"], sz["n_hashes"])}
        schemas = {"images": IMAGES_SCHEMA}
    paths, nbytes = {}, {}
    for name, pdf in tables.items():
        paths[name] = os.path.join(root, f"{name}.parquet")
        nbytes[name] = _write(pdf, paths[name], schemas.get(name))
    if workload == "spatial-join":
        ref = spatial_reference(tables)
    else:
        ref = {"tiling": tiling_reference(tables, tile_size=1000.0),
               "near-dup": neardup_reference(tables)}
    rows = sum(len(t) for k, t in tables.items() if k != "queries")
    return {"paths": paths, "bytes": nbytes, "rows": rows, "tables": tables, "ref": ref}
