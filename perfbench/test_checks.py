"""The checkers accept a correct output and reject corrupted ones.

Correct outputs are built in one process from the same truth the benchmark
uses (for the sketches, with the library's own sketch classes, split into
partials and merged as the two-stage aggregate does); each test then
corrupts one thing. Run: python3 -m pytest perfbench -q
"""

import os
import sys

import numpy as np
import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
sys.path.insert(0, HERE)

import checks  # noqa: E402
import inputs  # noqa: E402
from datasketches_cpp_spark.functions import (  # noqa: E402
    classic_quantiles,
    freq,
    quantiles,
    req,
    tdigest,
)


@pytest.fixture(scope="module")
def image_oracle(tmp_path_factory):
    images = inputs.make_images(300, seed=5)
    return inputs.image_oracle("selftest", images, seed=5)


def _multi_member_cluster(assign):
    sizes = pd.Series(assign).value_counts()
    return sizes[sizes >= 2].index[0]


def test_assignments_accept_the_oracle(image_oracle):
    assert checks.check_assignments(image_oracle, dict(image_oracle)) == []
    assert checks.pair_scores(image_oracle, image_oracle) == (1.0, 1.0)


def test_assignments_reject_one_image_moved(image_oracle):
    got = dict(image_oracle)
    cluster = _multi_member_cluster(got)
    victim = next(i for i, c in got.items() if c != cluster)
    got[victim] = cluster
    assert checks.check_assignments(image_oracle, got)
    recall, precision = checks.pair_scores(image_oracle, got)
    assert precision < 1.0


def test_assignments_reject_one_pair_dropped(image_oracle):
    got = dict(image_oracle)
    cluster = _multi_member_cluster(got)
    member = max(i for i, c in got.items() if c == cluster)
    got[member] = member  # split one member off: its pairs are lost
    assert checks.check_assignments(image_oracle, got)
    recall, _ = checks.pair_scores(image_oracle, got)
    assert recall < 1.0


# -- sketches --------------------------------------------------------------------


def _two_stage(cls_new, values, parts=4):
    """Partials over `parts` slices merged into one, like the aggregate."""
    merged = cls_new()
    for chunk in np.array_split(values, parts):
        sk = cls_new()
        sk.update_batch(chunk)
        merged.merge(sk)
    return merged.to_row()


QUANTILE_CLASSES = {
    "kll": lambda: quantiles.KllSketch(quantiles.DEFAULT_K, 9001),
    "classic": lambda: classic_quantiles.ClassicQuantilesSketch(
        classic_quantiles.DEFAULT_K, 9001),
    "tdigest": lambda: tdigest.TDigest(tdigest.DEFAULT_K),
    "req": lambda: req.ReqSketch(req.DEFAULT_K, True, 9001),
}


def correct_outputs(seed, rows=60_000, groups=8):
    table = inputs.make_sketch_table(rows, groups, seed)
    truth = inputs.sketch_truth(table, groups, seed)
    order = np.random.default_rng(seed).permutation(rows)  # arrival order
    shuffled = table.iloc[order]
    out = {
        "theta": pd.DataFrame({
            "g": list(truth.theta),
            "theta": [t for t, _ in truth.theta.values()],
            "sig": [s.view(np.int64) for _, s in truth.theta.values()],
        }),
        "cpc": pd.DataFrame({
            "g": list(truth.cpc),
            "coupons": [m.view(np.int64) for m in truth.cpc.values()],
        }),
    }
    for fam, new in QUANTILE_CLASSES.items():
        rows_ = []
        for g, part in shuffled.groupby("g", sort=True):
            r = _two_stage(new, part["v"].to_numpy())
            r["g"] = int(g)
            rows_.append(r)
        out[fam] = pd.DataFrame(rows_)
    freq_rows = []
    for g, part in shuffled.groupby("g", sort=True):
        merged = freq.MGState(inputs.FREQ_MAP_SIZE)
        for chunk in np.array_split(part["item"].to_numpy(), 4):
            st = freq.MGState(inputs.FREQ_MAP_SIZE)
            st.update_batch(pd.Series(chunk))
            items, weights = st.rows()
            merged.merge(items, weights, st.offset, st.total)
        items, weights = merged.rows()
        for item, w in zip(items, weights):
            freq_rows.append({
                "g": int(g), "item": item, "estimate": w, "lower_bound": w - merged.offset,
                "upper_bound": w, "offset": merged.offset, "total_weight": merged.total,
            })
    out["freq"] = pd.DataFrame(freq_rows)
    return out, truth


@pytest.fixture(scope="module")
def sketch_case():
    return correct_outputs(seed=3)


@pytest.mark.parametrize("family", ["theta", "cpc", "kll", "classic", "tdigest", "req", "freq"])
def test_sketch_checks_accept_correct_outputs(sketch_case, family):
    out, truth = sketch_case
    assert checks.check_family(family, out[family], truth) == []


def test_theta_rejects_one_hash_changed(sketch_case):
    out, truth = sketch_case
    pdf = out["theta"].copy()
    sig = pdf.at[0, "sig"].copy()
    sig[-1] -= 1
    pdf.at[0, "sig"] = sig
    assert checks.check_family("theta", pdf, truth)


def test_cpc_rejects_one_coupon_flipped(sketch_case):
    out, truth = sketch_case
    pdf = out["cpc"].copy()
    mat = pdf.at[0, "coupons"].copy()
    mat[0] ^= 1
    pdf.at[0, "coupons"] = mat
    assert checks.check_family("cpc", pdf, truth)


@pytest.mark.parametrize("family", ["kll", "classic", "tdigest", "req"])
def test_quantiles_reject_a_perturbed_estimate(sketch_case, family):
    """Every retained item of one group scaled by 1.5: n, min and max still
    match, only the estimated quantiles move."""
    out, truth = sketch_case
    pdf = out[family].copy()
    prefix = {"kll": "kll", "classic": "cq", "tdigest": "td", "req": "req"}[family]
    g = int(pdf["g"].iloc[0])
    lo, hi = truth.values[g][0], truth.values[g][-1]
    i = pdf.index[pdf["g"] == g][0]

    def scale(a):
        return np.clip(np.asarray(a, np.float64) * 1.5, lo, hi)

    if family == "tdigest":
        pdf.at[i, "td_means"] = scale(pdf.at[i, "td_means"])
    else:
        levels_col = "cq_base" if family == "classic" else f"{prefix}_levels"
        pdf.at[i, levels_col] = (
            scale(pdf.at[i, levels_col]) if family == "classic"
            else [scale(lv) for lv in pdf.at[i, levels_col]]
        )
        if family == "classic":
            pdf.at[i, "cq_levels"] = [scale(lv) for lv in pdf.at[i, "cq_levels"]]
    assert checks.check_family(family, pdf, truth)


def test_quantiles_reject_wrong_count(sketch_case):
    out, truth = sketch_case
    pdf = out["kll"].copy()
    pdf.at[0, "kll_n"] += 1
    assert checks.check_family("kll", pdf, truth)


def test_freq_rejects_a_perturbed_bound(sketch_case):
    out, truth = sketch_case
    pdf = out["freq"].copy()
    top = pdf["estimate"].idxmax()
    pdf.at[top, "upper_bound"] = pdf.at[top, "lower_bound"] - 1
    assert checks.check_family("freq", pdf, truth)


def test_freq_rejects_a_dropped_heavy_item(sketch_case):
    out, truth = sketch_case
    pdf = out["freq"]
    assert checks.check_family("freq", pdf.drop(pdf["estimate"].idxmax()), truth)


@pytest.mark.parametrize("seed", range(100, 110))
def test_rank_margins_hold_across_seeds(seed):
    """The rank margins accept correct sketches on ten further seeds."""
    out, truth = correct_outputs(seed, rows=30_000, groups=4)
    for fam in QUANTILE_CLASSES:
        assert checks.check_family(fam, out[fam], truth) == []
