"""Property-based law tests, batch 11: the round-13 trainer folds.
Pure-Python laws (no Spark jobs — these folds ARE the driver-side
halves of hash-gated queries, so their algebra must hold on any
input, not just the testdata): the greedy split argmax, leaf-value
identities, the class-weight algebra, and the model-card metric
definitions under brutal ties."""

from __future__ import annotations

import math

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

SETTINGS = settings(
    max_examples=25,
    derandomize=True,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

#: histogram cells (fidx, bin, gs, hs) with colliding bins and signed
#: gradient sums — hs ≥ 0 (hessians of log-loss are non-negative)
CELLS = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=2),
        st.integers(min_value=0, max_value=5),
        st.integers(min_value=-2_000_000, max_value=2_000_000),
        st.integers(min_value=0, max_value=2_000_000),
    ),
    min_size=1,
    max_size=40,
)

FEATURES = ("f0", "f1", "f2")


def _dedupe(cells):
    """One cell per (fidx, bin) — what a groupBy hands the fold —
    and force every feature to cover the same row mass (feature 0's
    totals are THE node totals, so all features must sum to them)."""
    agg = {}
    for fidx, b, gs, hs in cells:
        k = (fidx, b)
        g0, h0 = agg.get(k, (0, 0))
        agg[k] = (g0 + gs, h0 + hs)
    g_tot = sum(g for (f, _b), (g, _h) in agg.items() if f == 0)
    h_tot = sum(h for (f, _b), (g, h) in agg.items() if f == 0)
    out = []
    for fidx in range(3):
        mine = {b: v for (f, b), v in agg.items() if f == fidx}
        if not mine:
            mine = {0: (0, 0)}
        # pad the last bin so this feature's totals equal feature 0's
        gs_sum = sum(g for g, _h in mine.values())
        hs_sum = sum(h for _g, h in mine.values())
        last = max(mine)
        g, h = mine[last]
        mine[last] = (g + (g_tot - gs_sum), h + max(0, h_tot - hs_sum))
        for b, (gg, hh) in mine.items():
            out.append((fidx, b, gg, hh))
    return out


@given(cells=CELLS)
@SETTINGS
def test_argmax_split_is_the_brute_force_max(cells):
    """_argmax_split ≡ brute-force max over every INTERIOR (fidx,
    bin) split candidate — each feature's last occupied bin is not a
    candidate since its "split" sends every row left (the r15
    XGBoost-faithful rule) — with (gain desc, fidx asc, bin asc)
    tie-break; when NO feature has two occupied bins the fold raises
    (unsplittable node)."""
    import pytest

    from real_time_fraud_revenue_intelligence_lakehouse_spark.ext.gbt import _argmax_split, _gain

    cs = _dedupe(cells)
    lam = 1.0
    by_f = {}
    for fidx, b, gs, hs in cs:
        by_f.setdefault(fidx, []).append((b, gs, hs))
    g_m = sum(g for _b, g, _h in by_f[0])
    h_m = sum(h for _b, _g, h in by_f[0])
    best = None
    for fidx in sorted(by_f):
        glm = hlm = 0
        for b, gs, hs in sorted(by_f[fidx])[:-1]:  # interior only
            glm += gs
            hlm += hs
            gain = _gain(glm, hlm, g_m, h_m, lam)
            cand = (-gain, fidx, b)
            if best is None or cand < best:
                best = cand
                keep = (fidx, b, glm, hlm)
    if best is None:
        with pytest.raises(ValueError, match="unsplittable"):
            _argmax_split(cs, tuple(range(len(FEATURES))), lam)
        return
    got = _argmax_split(cs, tuple(range(len(FEATURES))), lam)
    assert got[:4] == keep
    assert got[4:6] == (g_m, h_m)
    assert got[6] == -best[0]


@given(cells=CELLS)
@SETTINGS
def test_leaf_values_partition_the_node(cells):
    """w_left from (gl, hl) and w_right from (g−gl, h−hl) reconstruct
    the parent's weight when the split is degenerate (everything
    left): w_left == −G/(H+λ) and w_right == −0/(0+λ) == 0."""
    from real_time_fraud_revenue_intelligence_lakehouse_spark.ext.gbt import _leaf_w

    cs = _dedupe(cells)
    g_m = sum(g for f, _b, g, _h in cs if f == 0)
    h_m = sum(h for f, _b, _g, h in cs if f == 0)
    assert _leaf_w(g_m, h_m, 1.0) == -(g_m / 1e6) / ((h_m / 1e6) + 1.0)
    assert _leaf_w(g_m - g_m, h_m - h_m, 1.0) == 0.0


LABELS = st.lists(st.integers(min_value=0, max_value=1), min_size=2, max_size=50)


@given(ys=LABELS)
@SETTINGS
def test_scale_pos_weight_balances_the_gradient_mass(ys):
    """The defining property of pw = n0/n1: after weighting, the
    total gradient mass of the positive class equals the negative
    class's at p = 0.5 (each row contributes |p − y| = 0.5 ·
    weight), so a constant model has zero weighted gradient on the
    bias — the balance SMOTE approximates by resampling."""
    n0, n1 = ys.count(0), ys.count(1)
    if n0 == 0 or n1 == 0:
        return
    pw = n0 / n1
    pos_mass = sum(0.5 * pw for y in ys if y == 1)
    neg_mass = sum(0.5 for y in ys if y == 0)
    assert math.isclose(pos_mass, neg_mass, rel_tol=1e-12)
    n_eff = float(n0) + pw * float(n1)
    assert math.isclose(n_eff, 2.0 * n0, rel_tol=1e-12)


SCORES = st.lists(
    st.tuples(
        st.sampled_from([0.1, 0.25, 0.5, 0.5, 0.7, 0.9]),  # brutal ties
        st.integers(min_value=0, max_value=1),
    ),
    min_size=2,
    max_size=60,
)


@given(pairs=SCORES)
@SETTINGS
def test_grouped_rank_sum_auc_equals_pairwise_definition(pairs):
    """The grouped average-rank AUC (what model_metrics computes from
    the distinct-score table) equals the O(n²) pairwise definition
    P(s⁺ > s⁻) + ½P(s⁺ = s⁻) — the ground truth the rank-sum
    identity compresses."""
    ys = [y for _s, y in pairs]
    ss = [s for s, _y in pairs]
    n_pos, n_neg = sum(ys), len(ys) - sum(ys)
    if n_pos == 0 or n_neg == 0:
        return
    # grouped rank-sum (the engine's formula)
    groups = {}
    for s, y in pairs:
        n, np_ = groups.get(s, (0, 0))
        groups[s] = (n + 1, np_ + y)
    before = 0
    rank_sum = 0.0
    for s in sorted(groups):
        n, np_ = groups[s]
        rank_sum += np_ * (before + (n + 1) / 2.0)
        before += n
    auc_ranksum = (rank_sum - n_pos * (n_pos + 1) / 2) / (n_pos * n_neg)
    # pairwise ground truth
    wins = 0.0
    for sp, yp in pairs:
        if yp != 1:
            continue
        for sn, yn in pairs:
            if yn != 0:
                continue
            wins += 1.0 if sp > sn else (0.5 if sp == sn else 0.0)
    auc_pairwise = wins / (n_pos * n_neg)
    assert math.isclose(auc_ranksum, auc_pairwise, rel_tol=0, abs_tol=1e-12)


@given(pairs=SCORES)
@SETTINGS
def test_step_sum_average_precision_telescopes_to_one_on_perfect_ranking(pairs):
    """AP's step sum telescopes: if every positive outranks every
    negative strictly, AP = 1; and in general AP ∈ (0, 1]."""
    ys = [y for _s, y in pairs]
    n_pos = sum(ys)
    if n_pos == 0:
        return
    ss = [s for s, _y in pairs]

    def ap_of(scores):
        uniq = sorted(set(scores), reverse=True)
        ap, prev_r = 0.0, 0.0
        for tau in uniq:
            pred = [s >= tau for s in scores]
            tp = sum(1 for p, y in zip(pred, ys) if p and y == 1)
            pp = sum(pred)
            r_k = tp / n_pos
            ap += (r_k - prev_r) * (tp / pp)
            prev_r = r_k
        return ap

    ap = ap_of(ss)
    assert 0.0 < ap <= 1.0 + 1e-12
    perfect = [10.0 + y for y in ys]  # positives strictly above
    assert math.isclose(ap_of(perfect), 1.0, abs_tol=1e-12)
