"""Tuple sketch — theta sketch whose retained entries carry a summary
payload folded by a policy.

Reference semantics (tuple/include/tuple_sketch.hpp:59-62, 201-208): each
retained entry is ⟨64-bit key hash, Summary⟩; ``update(key, value)`` folds
``value`` into the key's summary via a user Policy (create/update);
set-ops combine summaries (tuple_union.hpp etc.); the example policies are
max / always-one / sum ("engagement analytics",
tuple/test/engagement_test.cpp:28-70).

Spark mapping: the Policy is a named reduction over a double payload —
'sum' | 'max' | 'min' | 'one'. Partial stage: vectorized hash → pandas
groupby(hash).agg(policy) → k-min cut keeping (hash, summary) aligned;
final stage: concat, re-fold by hash, re-cut. Estimates follow theta:
``estimate_sum(pred)`` = Σ summaries of retained entries passing pred ÷
theta-fraction (unbiased for the keyed population — the tuple analog of
num_retained/theta). Exact when theta never dropped (lg_k ≥ ndv).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from ..hashing import DEFAULT_SEED, hash63_int64, hash63_str_many
from ..kmv import MAX_THETA

from ..hashing import INT_DTYPES as _INT_TYPES  # one shared definition
from ._twostage import fold_partials, merge_groups, notna, pair_rows

_POLICIES = {"sum": "sum", "max": "max", "min": "min", "one": "first"}


def _hash_items(items, dtype: str, seed: int) -> np.ndarray:
    """Hash a column of items (a pandas Series or a list): ints as int64,
    anything else as its text."""
    if dtype in _INT_TYPES:
        return hash63_int64(np.asarray(items, np.int64), seed)
    return hash63_str_many([str(v) for v in items], seed)


def _fold(hashes: np.ndarray, values: np.ndarray, policy: str) -> tuple[np.ndarray, np.ndarray]:
    """Reduce values per distinct hash (vectorized pandas groupby)."""
    if policy == "one":
        values = np.ones(len(hashes), dtype=np.float64)
        policy = "max"
    s = pd.Series(values).groupby(pd.Series(hashes.astype(np.uint64)), sort=True)
    agg = getattr(s, _POLICIES.get(policy, policy))()
    return agg.index.to_numpy(dtype=np.uint64), agg.to_numpy(dtype=np.float64)


def _cut(
    hashes: np.ndarray, summaries: np.ndarray, theta: int, k: int
) -> tuple[int, np.ndarray, np.ndarray]:
    """Keep entries < theta; trim to k smallest, lowering theta (the KMV
    rebuild with payloads carried along)."""
    keep = hashes < np.uint64(theta)
    hashes, summaries = hashes[keep], summaries[keep]
    if len(hashes) > k:
        order = np.argsort(hashes, kind="stable")
        hashes, summaries = hashes[order], summaries[order]
        theta = int(hashes[k])
        hashes, summaries = hashes[:k], summaries[:k]
    return theta, hashes, summaries


def _min_theta(rows: list[dict]) -> int:
    """The merged theta of partial rows: the least encoded theta (-1 ⇔
    MAX_THETA, which exceeds every real value)."""
    return min((r["theta"] for r in rows if r["theta"] >= 0), default=MAX_THETA)


def tuple_sketch_agg(
    df: DataFrame,
    group_cols: list[str],
    key_col: str,
    value_col: str,
    policy: str = "sum",
    lg_k: int = 12,
    seed: int = DEFAULT_SEED,
) -> DataFrame:
    """groupBy(group_cols).tuple_sketch(key, value, policy) → one row per
    group: (group..., theta long [-1 ⇔ exact], sig array<long>,
    summaries array<double>) with sig ∥ summaries aligned."""
    if policy not in _POLICIES:
        raise ValueError(f"unknown policy {policy!r}; use {sorted(_POLICIES)}")
    k = 1 << lg_k
    key_dtype = dict(df.dtypes)[key_col]
    group_fields = ", ".join(
        f"`{f.name}` {f.dataType.simpleString()}"
        for f in df.schema.fields
        if f.name in group_cols
    )
    prefix = f"{group_fields}, " if group_fields else ""
    schema = f"{prefix}theta long, sig array<long>, summaries array<double>"

    # per-group [theta, hashes, summaries] state, folded per batch and
    # amortized-trimmed at 2k (the reference's lazy-rebuild discipline,
    # theta_update_sketch_base.hpp:66-68) so partial state stays O(k)
    # per group instead of growing with distinct keys seen
    def update(st: list, hashes: np.ndarray, values: np.ndarray) -> None:
        h, s = _fold(hashes, values, policy)
        if st[1] is not None:
            keep = h < np.uint64(st[0])
            h, s = _fold(
                np.concatenate([st[1], h[keep]]), np.concatenate([st[2], s[keep]]), policy
            )
        if len(h) > 2 * k:
            st[0], h, s = _cut(h, s, st[0], k)
        st[1], st[2] = h, s

    def emit(st: list) -> list[dict]:
        theta, h, s = _cut(st[1], st[2], st[0], k)
        return [{"theta": -1 if theta >= MAX_THETA else theta, "sig": h.astype(np.int64),
                 "summaries": s}]

    partials = fold_partials(
        df.where(notna(df, key_col)), group_cols, [key_col, value_col],
        lambda keys, values: (
            _hash_items(keys, key_dtype, seed), values.to_numpy(dtype=np.float64)
        ),
        lambda: [MAX_THETA, None, None], update, emit, schema,
    )

    def final(rows: list[dict]) -> list[dict]:
        theta = _min_theta(rows)
        hs = [np.asarray(r["sig"], np.int64).astype(np.uint64) for r in rows]
        ss = [np.asarray(r["summaries"], np.float64) for r in rows]
        h, s = _fold(np.concatenate(hs), np.concatenate(ss), policy)
        return emit([theta, h, s])

    return merge_groups(partials, group_cols, final, schema)


def with_key_estimate(sketch_df: DataFrame, out_col: str = "estimate") -> DataFrame:
    """Distinct-key estimate = size(sig)/theta-fraction (JVM-side)."""
    frac = F.col("theta").cast("double") / F.lit(float(MAX_THETA))
    est = F.when(F.col("theta") < 0, F.size("sig").cast("double")).otherwise(
        F.size("sig").cast("double") / frac
    )
    return sketch_df.withColumn(out_col, est)


def with_summary_sum_estimate(
    sketch_df: DataFrame, out_col: str = "summary_sum"
) -> DataFrame:
    """Estimated Σ summary over ALL keys = (Σ retained summaries) /
    theta-fraction — unbiased because retention is an independent
    hash-uniform sample of keys (JVM-side aggregate over the array)."""
    total = F.aggregate(
        "summaries", F.lit(0.0), lambda a, x: a + x
    )
    frac = F.col("theta").cast("double") / F.lit(float(MAX_THETA))
    est = F.when(F.col("theta") < 0, total).otherwise(total / frac)
    return sketch_df.withColumn(out_col, est)


def filtered_key_estimate(
    sketch_df: DataFrame,
    min_summary: float,
    out_col: str = "keys_passing",
) -> DataFrame:
    """Engagement-style query (engagement_test.cpp:28-70): estimated number
    of distinct keys whose folded summary ≥ min_summary."""
    passing = F.size(
        F.filter("summaries", lambda x: x >= F.lit(float(min_summary)))
    ).cast("double")
    frac = F.col("theta").cast("double") / F.lit(float(MAX_THETA))
    est = F.when(F.col("theta") < 0, passing).otherwise(passing / frac)
    return sketch_df.withColumn(out_col, est)


def _combine_summaries(sa: np.ndarray, sb: np.ndarray, policy: str) -> np.ndarray:
    """Summary-combine for entries present in BOTH sketches — the Policy of
    the reference's tuple set-ops (tuple/include/tuple_union.hpp:40+:
    union applies the policy when a key exists on both sides)."""
    if policy == "sum":
        return sa + sb
    if policy == "max":
        return np.maximum(sa, sb)
    if policy == "min":
        return np.minimum(sa, sb)
    if policy == "one":
        return np.ones_like(sa)
    raise ValueError(f"unknown policy {policy!r}")


def _tuple_set_ops(a: tuple, b: tuple, k: int, d: int, policy: str) -> tuple[int, dict]:
    """The set-ops of one key's pair of tuple sketches, each side a
    (theta, sig, summaries) triple (all None for a missing side, which is
    an empty sketch) with summaries of width ``d``: the result's theta,
    and for each of a, b, union, intersection and a-not-b its retained
    count and summary rows (m, d)."""

    def side(theta_enc, sig, summ):
        if sig is None:
            return MAX_THETA, np.empty(0, np.uint64), np.empty((0, d), np.float64)
        t = MAX_THETA if int(theta_enc) < 0 else int(theta_enc)
        h = np.asarray(sig, np.int64).view(np.uint64)
        return t, h, np.asarray(summ, np.float64).reshape(-1, d)

    ta, ha, sa = side(*a)
    tb, hb, sb = side(*b)
    theta = min(ta, tb)
    # screen both to < min theta (sigs are sorted ascending)
    ca = int(np.searchsorted(ha, np.uint64(theta)))
    cb = int(np.searchsorted(hb, np.uint64(theta)))
    ha, sa_s = ha[:ca], sa[:ca]
    hb, sb_s = hb[:cb], sb[:cb]

    common, ia, ib = np.intersect1d(ha, hb, assume_unique=True, return_indices=True)
    mask_a_only = np.ones(len(ha), bool); mask_a_only[ia] = False
    mask_b_only = np.ones(len(hb), bool); mask_b_only[ib] = False

    u_h = np.concatenate([common, ha[mask_a_only], hb[mask_b_only]])
    u_s = np.concatenate([
        _combine_summaries(sa_s[ia], sb_s[ib], policy),
        sa_s[mask_a_only],
        sb_s[mask_b_only],
    ])
    order = np.argsort(u_h, kind="stable")
    u_h, u_s = u_h[order], u_s[order]
    if len(u_h) > k:  # union re-trim, lowering theta (min-theta merge law)
        theta = int(u_h[k])
        u_h, u_s = u_h[:k], u_s[:k]
        ca = int(np.searchsorted(ha, np.uint64(theta)))
        cb = int(np.searchsorted(hb, np.uint64(theta)))
        ha, sa_s = ha[:ca], sa[:ca]
        hb, sb_s = hb[:cb], sb[:cb]
        common, ia, ib = np.intersect1d(ha, hb, assume_unique=True, return_indices=True)
        mask_a_only = np.ones(len(ha), bool); mask_a_only[ia] = False

    i_s = _combine_summaries(sa_s[ia], sb_s[ib], policy)
    return theta, {
        "a": (len(ha), sa_s),
        "b": (len(hb), sb_s),
        "union": (len(u_h), u_s),
        "intersection": (len(common), i_s),
        "a_not_b": (int(mask_a_only.sum()), sa_s[mask_a_only]),
    }


def _tuple_pair_set_ops(
    df_a: DataFrame, df_b: DataFrame, key_cols: list[str], k: int, d: int, policy: str,
    summed: str, total, out: str,
) -> DataFrame:
    """``_tuple_set_ops`` per key of two keyed tuple sketch tables: each
    set-op's distinct-key estimate ``est_*`` and its summaries' estimated
    population sum ``<summed>_*``, ``total(rows, frac)``."""

    def pair(a: tuple, b: tuple) -> dict:
        theta, parts = _tuple_set_ops(a, b, k, d, policy)
        frac = theta / float(MAX_THETA)
        row = {"theta": -1 if theta >= MAX_THETA else theta}
        for name, (n, rows) in parts.items():
            row[f"est_{name}"] = float(n) / frac
            row[f"{summed}_{name}"] = total(rows, frac)
        return row

    return pair_rows(df_a, df_b, key_cols, ["theta", "sig", "summaries"], pair, out)


def tuple_pair_set_ops(
    df_a: DataFrame,
    df_b: DataFrame,
    key_cols: list[str],
    k: int,
    policy: str = "sum",
) -> DataFrame:
    """Tuple-sketch union / intersection / a-not-b with summary combine,
    per join key — reference tuple_union.hpp:40+, tuple_intersection.hpp,
    tuple_a_not_b.hpp:39, with the engagement-analytics policy semantics of
    tuple/test/engagement_test.cpp:28-70 (union keyed summaries across
    epochs/tables).

    Inputs are keyed outputs of ``tuple_sketch_agg`` (same seed + lg_k on
    both sides, like the reference's seed-hash check). Emits per key both
    distinct-key estimates (est_*) and summary-sum estimates (sum_*) for
    each set op: a key in both sides contributes policy(sum_a, sum_b) to
    the union / intersection summaries; a-not-b keeps A's summaries.
    Missing side = empty sketch. Exact when both sides are exact-mode."""
    return _tuple_pair_set_ops(
        df_a, df_b, key_cols, k, 1, policy, "sum",
        lambda rows, frac: float(rows.sum()) / frac,
        "theta long, "
        "est_a double, est_b double, est_union double, "
        "est_intersection double, est_a_not_b double, "
        "sum_a double, sum_b double, sum_union double, "
        "sum_intersection double, sum_a_not_b double",
    )


# ---------------------------------------------------------------------------
# array-of-doubles tuple sketches (reference array_tuple_sketch.hpp /
# array_of_doubles_sketch.hpp — the Java-interoperable AOD family: each
# retained key carries a fixed-width vector of doubles, combined
# element-wise by the policy)
# ---------------------------------------------------------------------------


def _fold_nd(
    hashes: np.ndarray, values: np.ndarray, policy: str
) -> tuple[np.ndarray, np.ndarray]:
    """Reduce (m, d) value rows per distinct hash, element-wise."""
    d = values.shape[1]
    frame = pd.DataFrame(values)
    frame["_h"] = hashes.astype(np.uint64)
    agg = getattr(frame.groupby("_h", sort=True), _POLICIES.get(policy, policy))()
    return (
        agg.index.to_numpy(dtype=np.uint64),
        np.ascontiguousarray(agg.to_numpy(dtype=np.float64).reshape(-1, d)),
    )


def array_tuple_sketch_agg(
    df: DataFrame,
    group_cols: list[str],
    key_col: str,
    values_col: str,
    num_values: int,
    policy: str = "sum",
    lg_k: int = 12,
    seed: int = DEFAULT_SEED,
) -> DataFrame:
    """groupBy(group_cols).array_tuple_sketch(key, values[d], policy) →
    one row per group: (group..., theta long [-1 ⇔ exact], sig
    array<long>, summaries array<double> of length size(sig)·d,
    row-major).  ``values_col`` is an array<double> column of fixed
    length ``num_values``; summaries combine element-wise (the
    default_array_tuple_union_policy is element-wise sum).  Same k-min
    cut / lazy 2k-trim discipline as `tuple_sketch_agg` — the shuffle
    carries O(k·d) doubles per group, never raw rows."""
    if policy not in _POLICIES:
        raise ValueError(f"unknown policy {policy!r}; use {sorted(_POLICIES)}")
    d = int(num_values)
    if d < 1:
        raise ValueError("num_values must be >= 1")
    k = 1 << lg_k
    key_dtype = dict(df.dtypes)[key_col]
    group_fields = ", ".join(
        f"`{f.name}` {f.dataType.simpleString()}"
        for f in df.schema.fields
        if f.name in group_cols
    )
    prefix = f"{group_fields}, " if group_fields else ""
    schema = f"{prefix}theta long, sig array<long>, summaries array<double>"

    def per_row(keys: pd.Series, values: pd.Series) -> tuple[np.ndarray, np.ndarray]:
        vals = np.stack([np.asarray(v, np.float64) for v in values]).reshape(len(values), d)
        return _hash_items(keys, key_dtype, seed), vals

    def update(st: list, hashes: np.ndarray, vals: np.ndarray) -> None:
        h, s = _fold_nd(hashes, vals, policy)
        if st[1] is not None:
            keep = h < np.uint64(st[0])
            h, s = _fold_nd(
                np.concatenate([st[1], h[keep]]), np.concatenate([st[2], s[keep]]), policy
            )
        if len(h) > 2 * k:
            st[0], h, s = _cut(h, s, st[0], k)
        st[1], st[2] = h, s

    def emit(st: list) -> list[dict]:
        theta, h, s = _cut(st[1], st[2], st[0], k)
        return [{"theta": -1 if theta >= MAX_THETA else theta, "sig": h.astype(np.int64),
                 "summaries": s.reshape(-1)}]

    partials = fold_partials(
        df.where(notna(df, key_col)), group_cols, [key_col, values_col], per_row,
        lambda: [MAX_THETA, None, None], update, emit, schema,
    )

    def final(rows: list[dict]) -> list[dict]:
        theta = _min_theta(rows)
        hs = [np.asarray(r["sig"], np.int64).astype(np.uint64) for r in rows]
        ss = [np.asarray(r["summaries"], np.float64).reshape(-1, d) for r in rows]
        h, s = _fold_nd(np.concatenate(hs), np.concatenate(ss), policy)
        return emit([theta, h, s])

    return merge_groups(partials, group_cols, final, schema)


def with_value_sums_estimate(
    sketch_df: DataFrame, num_values: int, out_col: str = "value_sums"
) -> DataFrame:
    """Estimated per-column population sums over ALL keys: column j's
    retained sum ÷ theta-fraction (the AOD analog of
    with_summary_sum_estimate), entirely JVM-side — positional filter +
    aggregate over the flattened row-major summaries array."""
    d = int(num_values)
    frac = F.col("theta").cast("double") / F.lit(float(MAX_THETA))

    def _col_filter(j: int):
        return lambda x, i: i % d == j

    cols = []
    for j in range(d):
        total = F.aggregate(
            F.filter("summaries", _col_filter(j)),
            F.lit(0.0),
            lambda a, x: a + x,
        )
        cols.append(F.when(F.col("theta") < 0, total).otherwise(total / frac))
    return sketch_df.withColumn(out_col, F.array(*cols))


def array_tuple_pair_set_ops(
    df_a: DataFrame,
    df_b: DataFrame,
    key_cols: list[str],
    k: int,
    num_values: int,
    policy: str = "sum",
) -> DataFrame:
    """AOD union / intersection / a-not-b with element-wise summary
    combine, per join key — reference array_tuple_union.hpp /
    array_tuple_intersection.hpp / array_tuple_a_not_b.hpp (the
    ArrayOfDoublesUnion/Intersection/AnotB trio in Java).  Same min-theta
    screening and re-trim law as `tuple_pair_set_ops`; emits distinct-key
    estimates plus per-column population-sum estimates (arrays of length
    num_values) for each set op."""
    d = int(num_values)
    return _tuple_pair_set_ops(
        df_a, df_b, key_cols, k, d, policy, "vsum",
        lambda rows, frac: (rows.sum(axis=0) / frac if len(rows) else np.zeros(d)).tolist(),
        "theta long, "
        "est_a double, est_b double, est_union double, "
        "est_intersection double, est_a_not_b double, "
        "vsum_a array<double>, vsum_b array<double>, "
        "vsum_union array<double>, vsum_intersection array<double>, "
        "vsum_a_not_b array<double>",
    )


# -- array-of-strings (AoS) tuple sketch --------------------------------------

_AOS_KEY_SEED = 0x7A3CCA71  # array_of_strings_sketch_impl.hpp:55


def aos_hash_key(key) -> int:
    """The reference's hash_array_of_strings_key
    (array_of_strings_sketch_impl.hpp:53-66): XXHash64 with seed
    0x7A3CCA71 over the UTF-8 strings joined by ',' — the value a caller
    passes to update() as the sketch key. Returns the unsigned u64."""
    from ..hashing import xxhash64_bytes

    return xxhash64_bytes(b",".join(s.encode("utf-8") for s in key),
                          _AOS_KEY_SEED)


def _aos_fold(hashes: np.ndarray, values: list) -> tuple[np.ndarray, list]:
    """One summary per unique retained hash. The reference's replace
    policy is last-write-wins (order-dependent); a distributed agg has no
    global order, so the winner is made deterministic: the
    lexicographically-greatest string tuple. Layout-invariant by
    construction."""
    best: dict[int, tuple] = {}
    for h, v in zip(hashes.tolist(), values):
        t = tuple(v)
        prev = best.get(h)
        if prev is None or t > prev:
            best[h] = t
    hs = np.array(sorted(best), np.uint64)
    return hs, [list(best[int(h)]) for h in hs]


def _aos_cut(
    hashes: np.ndarray, values: list, theta: int, k: int
) -> tuple[int, np.ndarray, list]:
    keep = hashes < np.uint64(theta)
    values = [v for v, kp in zip(values, keep) if kp]
    hashes = hashes[keep]
    if len(hashes) > k:
        theta = int(hashes[k])  # hashes sorted by _aos_fold
        hashes, values = hashes[:k], values[:k]
    return theta, hashes, values


def aos_sketch_agg(
    df: DataFrame,
    group_cols: list[str],
    key_col: str,
    value_col: str,
    lg_k: int = 12,
    seed: int = DEFAULT_SEED,
) -> DataFrame:
    """groupBy(group_cols).array_of_strings_sketch(key, value) → one row
    per group: (group..., theta long [-1 ⇔ exact], sig array<long>,
    summaries array<array<string>> aligned with sig).

    ``key_col`` and ``value_col`` are array<string> columns: the key is
    hashed with the reference's AoS key scheme (aos_hash_key → the
    sketch's canonical 8-byte-message hash), the value lands as the
    retained entry's summary under the replace policy (deterministic
    greatest-tuple winner; the reference's policy is last-write-wins,
    which has no distributed meaning). Same k-min cut / lazy 2k-trim as
    every other sketch agg here."""
    k = 1 << lg_k
    group_fields = ", ".join(
        f"`{f.name}` {f.dataType.simpleString()}"
        for f in df.schema.fields
        if f.name in group_cols
    )
    prefix = f"{group_fields}, " if group_fields else ""
    schema = (
        f"{prefix}theta long, sig array<long>, summaries array<array<string>>"
    )

    def _hashes(series: pd.Series) -> np.ndarray:
        k64 = np.array(
            [aos_hash_key(key) for key in series], np.uint64
        ).view(np.int64)
        return hash63_int64(k64, seed)

    def update(st: list, hashes: np.ndarray, values: np.ndarray) -> None:
        h, v = _aos_fold(hashes, [[] if x is None else list(x) for x in values])
        if st[1] is not None:
            keep = h < np.uint64(st[0])
            h, v = _aos_fold(
                np.concatenate([st[1], h[keep]]),
                st[2] + [vi for vi, kp in zip(v, keep) if kp],
            )
        if len(h) > 2 * k:
            st[0], h, v = _aos_cut(h, v, st[0], k)
        st[1], st[2] = h, v

    def emit(st: list) -> list[dict]:
        theta, h, v = _aos_cut(st[1], st[2], st[0], k)
        return [{"theta": -1 if theta >= MAX_THETA else theta, "sig": h.astype(np.int64),
                 "summaries": v}]

    partials = fold_partials(
        df.where(notna(df, key_col)), group_cols, [key_col, value_col],
        lambda keys, values: (_hashes(keys), values.to_numpy()),
        lambda: [MAX_THETA, None, None], update, emit, schema,
    )

    def final(rows: list[dict]) -> list[dict]:
        theta = _min_theta(rows)
        hs = np.concatenate([np.asarray(r["sig"], np.int64).astype(np.uint64) for r in rows])
        vs = [list(item) for r in rows for item in r["summaries"]]
        h, v = _aos_fold(hs, vs)
        return emit([theta, h, v])

    return merge_groups(partials, group_cols, final, schema)


def tuple_jaccard(
    row_a, row_b, k: int = 1 << 12, num_std_devs: float = 2.0
) -> tuple[float, float, float]:
    """{lower, estimate, upper} Jaccard over two tuple-sketch rows
    (anything name-indexable with ``theta`` [-1 ⇔ exact] and ``sig``,
    e.g. a Row from any *_sketch_agg here) — the reference's
    tuple_jaccard_similarity is the theta jaccard template instantiated
    over tuple entries' keys (tuple_jaccard_similarity.hpp:35,
    pair_extract_key); summaries play no role in the similarity, so the
    engine reuses kmv.jaccard on the key signatures directly."""
    from .. import kmv

    def to_theta(row):
        theta = int(row["theta"])
        t = kmv.MAX_THETA if theta < 0 else theta
        h = np.sort(np.asarray(row["sig"], np.int64).view(np.uint64))
        return kmv.ThetaSketch(k, t, h)

    return kmv.jaccard(to_theta(row_a), to_theta(row_b), num_std_devs)
