"""Seeded workload inputs and their cached single-process oracles.

Every input is a pure function of (workload, size, seed), generated in this
one process with numpy. The library only ever sees the parquet written here.
Oracle answers are computed once per (workload, size, seed, library source
digest) and cached under ``perfbench/.cache``; the digest makes a cached
answer stale as soon as any library source file changes.
"""

from __future__ import annotations

import hashlib
import json
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from datasketches_cpp_spark.operators.sigkernel import SigConfig

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
CACHE_DIR = os.path.join(BENCH_DIR, ".cache")

# bench.py's two flagship configs
CFG = SigConfig(num_perm=64, bands=32, kmv_k=128, shingle_w=3, jaccard_threshold=0.5)
BYTES_CFG = SigConfig(num_perm=64, bands=16, kmv_k=128, shingle_w=16, jaccard_threshold=0.9)
BYTE_STRIDE = 4
STREAM_LANES = ("caption", "bytes", "phash")

BATCH_IMAGES = 2000
STREAM_IMAGES = 600
STREAM_EPOCHS = 3
SKETCH_ROWS = 200_000
SKETCH_GROUPS = 64

# sketch parameters: the library defaults, restated so the oracle folds
# with the very values the aggregations use
THETA_LG_K = 12
CPC_LG_K = 11
FREQ_MAP_SIZE = 64
HASH_SEED = 9001


def source_digest() -> str:
    """sha256 over every library source file, so a cached oracle answer is
    never reused against changed code."""
    h = hashlib.sha256()
    pkg = os.path.join(ROOT, "datasketches_cpp_spark")
    for dirpath, dirnames, files in os.walk(pkg):
        dirnames.sort()
        for fn in sorted(files):
            if fn.endswith((".py", ".npz")):
                path = os.path.join(dirpath, fn)
                h.update(os.path.relpath(path, pkg).encode())
                with open(path, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()[:16]


def _cache_path(key: str, ext: str) -> str:
    os.makedirs(CACHE_DIR, exist_ok=True)
    return os.path.join(CACHE_DIR, f"{key}_{source_digest()}.{ext}")


def write_parquet(pdf: pd.DataFrame, path: str, row_groups: int = 16) -> str:
    """Small row groups, so Spark's scan splits the file across every core."""
    table = pa.Table.from_pandas(pdf, preserve_index=False)
    pq.write_table(table, path, row_group_size=max(1, -(-len(pdf) // row_groups)))
    return path


# -- images -------------------------------------------------------------------


def make_images(n: int, seed: int) -> pd.DataFrame:
    """The generator's default duplicate mix (~30% duplicates, a 1% hot
    group, a 24-long caption chain)."""
    from datasketches_cpp_spark.sources.images import generate_images

    images, _ = generate_images(n, seed=seed)
    return images


def image_oracle(
    workload: str, images: pd.DataFrame, seed: int, lanes: tuple | None = None
) -> dict:
    """Cached ``oracle_dedup_images`` assignments {image_id: cluster_id}."""
    path = _cache_path(f"{workload}_{len(images)}_s{seed}", "json")
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    from datasketches_cpp_spark.oracle.pyimages import oracle_dedup_images

    kw = {"enable_lanes": lanes} if lanes else {}
    assign, _ = oracle_dedup_images(
        images, CFG, BYTES_CFG, byte_stride=BYTE_STRIDE, **kw
    )
    tmp = f"{path}.{os.getpid()}.tmp"
    with open(tmp, "w") as f:
        json.dump(assign, f)
    os.replace(tmp, path)
    return assign


# -- sketch table ---------------------------------------------------------------


def make_sketch_table(n: int, groups: int, seed: int) -> pd.DataFrame:
    """(g int, item long, v double): Zipf(1.1) group sizes over ``groups``
    groups; items half Zipf(1.3) heavy hitters (for the frequent-items
    family) and half near-unique (so large groups leave theta's exact mode
    and purge the frequent-items map); lognormal values (a long right tail
    for the quantile families)."""
    rng = np.random.default_rng([seed, 0x5EED])
    p = 1.0 / np.arange(1, groups + 1) ** 1.1
    g = rng.choice(groups, size=n, p=p / p.sum()).astype(np.int32)
    heavy = rng.zipf(1.3, size=n) % 1000
    unique = rng.integers(1000, 1 << 40, size=n)
    item = np.where(rng.random(n) < 0.5, heavy, unique).astype(np.int64)
    v = rng.lognormal(0.0, 1.0, size=n)
    return pd.DataFrame({"g": g, "item": item, "v": v})


class SketchTruth:
    """Exact per-group answers for the sketch table: a single-process fold of
    each group's items (theta retained hashes, CPC coupon matrix) plus the
    sorted values and item counts the bound and rank checks read."""

    def __init__(self, table: pd.DataFrame, theta: dict, cpc: dict):
        self.theta = theta  # g -> (encoded theta, sorted retained hashes)
        self.cpc = cpc  # g -> coupon matrix (uint64, K words)
        by_g = table.groupby("g", sort=True)
        self.values = {int(g): np.sort(s.to_numpy()) for g, s in by_g["v"]}
        self.counts = {int(g): s.value_counts() for g, s in by_g["item"]}
        self.n = {g: len(v) for g, v in self.values.items()}


def _fold_theta(items: np.ndarray, lg_k: int) -> tuple[int, np.ndarray]:
    from datasketches_cpp_spark.hashing import hash63_int64

    k = 1 << lg_k
    h = np.unique(hash63_int64(items.astype(np.int64), HASH_SEED))
    if len(h) > k:
        return int(h[k]), h[:k]
    return -1, h  # -1 encodes exact mode, as the aggregate emits it


def _fold_cpc(items: np.ndarray, lg_k: int) -> np.ndarray:
    from datasketches_cpp_spark.functions.cpc import CpcState
    from datasketches_cpp_spark.hashing import hash63_int64

    st = CpcState(lg_k)
    st.update_hashes(hash63_int64(items.astype(np.int64), HASH_SEED))
    return st.mat


def sketch_truth(table: pd.DataFrame, groups: int, seed: int) -> SketchTruth:
    """Cached truth for ``make_sketch_table(len(table), groups, seed)``."""
    path = _cache_path(f"sketch_aggs_{len(table)}_g{groups}_s{seed}", "npz")
    theta, cpc = {}, {}
    if os.path.exists(path):
        with np.load(path) as z:
            for g in np.unique(table["g"]):
                g = int(g)
                theta[g] = (int(z[f"theta_{g}"]), z[f"sig_{g}"].astype(np.uint64))
                cpc[g] = z[f"cpc_{g}"].astype(np.uint64)
        return SketchTruth(table, theta, cpc)
    arrays = {}
    for g, s in table.groupby("g", sort=True)["item"]:
        g = int(g)
        items = s.to_numpy()
        theta[g] = _fold_theta(items, THETA_LG_K)
        cpc[g] = _fold_cpc(items, CPC_LG_K)
        arrays[f"theta_{g}"] = np.int64(theta[g][0])
        arrays[f"sig_{g}"] = theta[g][1].view(np.int64)
        arrays[f"cpc_{g}"] = cpc[g].view(np.int64)
    tmp = f"{path}.{os.getpid()}.tmp.npz"
    np.savez(tmp, **arrays)
    os.replace(tmp, path)
    return SketchTruth(table, theta, cpc)
