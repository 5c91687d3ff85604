"""Output checks. Each compares a workload's output with the reference answer
computed for the same seed, so none can pass by matching a value pinned to
one input. Every checker returns a list of problems; empty means correct."""

from __future__ import annotations

import numpy as np
import pandas as pd

from datasketches_cpp_spark.oracle.pydedup import dup_pairs_from_assignment

# Quantile ranks probed on every group, and the largest normalized rank
# error each family may show there. The a-priori single-sided errors of the
# default configurations are about 1.3% (KLL k=200) and 1.7% (classic
# k=128); the largest errors seen over ten seeds of 60k rows were 0.55%
# (KLL), 0.82% (classic), 0.55% (t-digest delta=200) and 1.34% (REQ k=12,
# high-rank-accuracy mode). The margins sit near ten times those, so a
# correct sketch fails with negligible probability on any seed.
RANKS = (0.01, 0.05, 0.25, 0.5, 0.75, 0.95, 0.99)
RANK_MARGIN = {"kll": 0.06, "classic": 0.08, "tdigest": 0.05, "req": 0.12}


def pair_scores(want: dict, got: dict) -> tuple[float, float]:
    """(dup_pair_recall, dup_pair_precision) of ``got`` against ``want``."""
    w = dup_pairs_from_assignment(want)
    g = dup_pairs_from_assignment(got)
    recall = len(w & g) / len(w) if w else 1.0
    precision = len(w & g) / len(g) if g else 1.0
    return recall, precision


def check_assignments(want: dict, got: dict) -> list[str]:
    """Cluster assignments must equal the oracle's exactly."""
    problems = []
    if set(got) != set(want):
        problems.append(
            f"id sets differ: {len(set(want) - set(got))} missing, "
            f"{len(set(got) - set(want))} unexpected"
        )
    moved = [i for i in want if i in got and got[i] != want[i]]
    if moved:
        problems.append(f"{len(moved)} ids in another cluster, e.g. {moved[0]}")
    return problems


def _by_group(pdf: pd.DataFrame) -> dict:
    return {int(r["g"]): r for r in pdf.to_dict("records")}


def _group_set(rows: dict, truth, family: str) -> list[str]:
    if set(rows) != set(truth.n):
        return [f"{family}: groups {sorted(set(truth.n) ^ set(rows))[:5]} differ"]
    return []


def check_theta(pdf: pd.DataFrame, truth) -> list[str]:
    rows = _by_group(pdf)
    problems = _group_set(rows, truth, "theta")
    for g, r in rows.items():
        want_theta, want_sig = truth.theta.get(g, (None, None))
        sig = np.asarray(r["sig"], np.int64).view(np.uint64)
        if int(r["theta"]) != want_theta or not np.array_equal(sig, want_sig):
            problems.append(f"theta: group {g} retained hashes differ")
    return problems


def check_cpc(pdf: pd.DataFrame, truth) -> list[str]:
    rows = _by_group(pdf)
    problems = _group_set(rows, truth, "cpc")
    for g, r in rows.items():
        mat = np.asarray(r["coupons"], np.int64).view(np.uint64)
        if g in truth.cpc and not np.array_equal(mat, truth.cpc[g]):
            problems.append(f"cpc: group {g} coupon matrix differs")
    return problems


def check_freq(pdf: pd.DataFrame, truth) -> list[str]:
    """Every retained item's [lower, upper] brackets its true count, the
    total weight is exact, and no item missing from the result has a true
    count above the group's offset (the Misra-Gries guarantee)."""
    problems = []
    if set(pdf["g"].astype(int)) != set(truth.n):
        problems.append("freq: group set differs")
    for g, part in pdf.groupby("g"):
        g = int(g)
        counts = truth.counts.get(g)
        if counts is None:
            continue
        true = counts.reindex(part["item"].to_numpy(), fill_value=0).to_numpy()
        if (part["lower_bound"].to_numpy() > true).any() or (
            part["upper_bound"].to_numpy() < true
        ).any():
            problems.append(f"freq: group {g} bounds do not bracket the true counts")
        if int(part["total_weight"].iloc[0]) != truth.n[g]:
            problems.append(f"freq: group {g} total weight differs")
        offset = int(part["offset"].iloc[0])
        missing = counts.drop(part["item"].to_numpy(), errors="ignore")
        if len(missing) and int(missing.max()) > offset:
            problems.append(f"freq: group {g} dropped an item above the offset")
    return problems


def _rank_problems(family: str, g: int, values: np.ndarray, estimates) -> list[str]:
    """Each estimate q for rank r must have an exact rank interval
    [#(< q)/n, #(<= q)/n] within RANK_MARGIN of r."""
    n = len(values)
    margin = RANK_MARGIN[family]
    for r, q in zip(RANKS, estimates):
        lo = np.searchsorted(values, q, "left") / n
        hi = np.searchsorted(values, q, "right") / n
        if lo - margin > r or hi + margin < r:
            return [f"{family}: group {g} rank {r} estimate {q} has exact rank "
                    f"[{lo:.4f}, {hi:.4f}]"]
    return []


def check_quantiles(family: str, pdf: pd.DataFrame, truth) -> list[str]:
    """n, min and max exact; estimated quantiles within the rank margin."""
    from datasketches_cpp_spark.functions import classic_quantiles, quantiles, req, tdigest

    prefix, load = {
        "kll": ("kll", lambda row: quantiles.KllSketch.from_row(
            quantiles.DEFAULT_K, 9001, row)),
        "classic": ("cq", lambda row: classic_quantiles.ClassicQuantilesSketch.from_row(
            classic_quantiles.DEFAULT_K, 9001, row)),
        "tdigest": ("td", lambda row: tdigest.TDigest.from_row(tdigest.DEFAULT_K, row)),
        "req": ("req", lambda row: req.ReqSketch.from_row(req.DEFAULT_K, True, row, 9001)),
    }[family]
    rows = _by_group(pdf)
    problems = _group_set(rows, truth, family)
    for g, row in rows.items():
        values = truth.values.get(g)
        if values is None:
            continue
        exact = (len(values), float(values[0]), float(values[-1]))
        got = (int(row[f"{prefix}_n"]), float(row[f"{prefix}_min"]),
               float(row[f"{prefix}_max"]))
        if got != exact:
            problems.append(f"{family}: group {g} (n, min, max) {got} != {exact}")
            continue
        sk = load(row)
        problems += _rank_problems(family, g, values, [sk.get_quantile(r) for r in RANKS])
    return problems


def check_family(family: str, pdf: pd.DataFrame, truth) -> list[str]:
    if family == "theta":
        return check_theta(pdf, truth)
    if family == "cpc":
        return check_cpc(pdf, truth)
    if family == "freq":
        return check_freq(pdf, truth)
    return check_quantiles(family, pdf, truth)
