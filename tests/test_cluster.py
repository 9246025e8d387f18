"""Connected-components label propagation (operators/cluster.py)."""

from __future__ import annotations

import pytest


def test_components_on_known_graph(spark):
    from challenge8_movies_etl_spark.operators.cluster import (
        connected_components,
    )
    nodes = spark.createDataFrame([(i,) for i in range(8)], "id bigint")
    # components: {0,1,2,3} (chain), {4,5} and {6}, {7} singletons
    edges = spark.createDataFrame(
        [(1, 0), (2, 1), (3, 2), (4, 5)], "src bigint, dst bigint")
    got = {r["id"]: r["cluster"]
           for r in connected_components(nodes, edges).collect()}
    assert got == {0: 0, 1: 0, 2: 0, 3: 0, 4: 4, 5: 4, 6: 6, 7: 7}


def test_semdedup_matches_numpy_twin(spark):
    """Full SemDeDup recomputed in plain numpy (Lloyd k=4 x2 with the
    same 6dp centroid rounding, farthest-from-centroid-first greedy,
    cos >= tau) must produce identical dup flags on the smoke fixture
    — the engine's decimal discipline is hash-insurance, not a
    semantics change (all decisions sit far from float error)."""
    import numpy as np
    import pandas as pd

    from challenge8_movies_etl_spark.queries_ml import (
        _SEMDEDUP_TAU, q_dedup_semdedup)
    from tests.conftest import SF_SMOKE

    pdf = (pd.read_parquet(f"{SF_SMOKE}/embeddings.parquet")
           .sort_values("vec_id").reset_index(drop=True))
    X = np.array([np.asarray(e, dtype=float) for e in pdf.embedding])
    ids = pdf.vec_id.to_numpy()

    cents = X[:4].copy()
    for it in range(2):
        d = ((X[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
        assign = d.argmin(axis=1)
        if it == 0:
            cents = np.array([np.round(X[assign == c].mean(axis=0), 6)
                              for c in range(4)])
    cdist = d[np.arange(len(X)), assign]

    nrm = np.sqrt((X * X).sum(axis=1))
    cos = (X @ X.T) / np.outer(nrm, nrm)
    is_dup = np.zeros(len(X), dtype=bool)
    for c in range(4):
        idx = np.where(assign == c)[0]
        order = idx[np.lexsort((ids[idx], -cdist[idx]))]
        for pos, j in enumerate(order):
            for i in order[:pos]:
                if cos[i, j] >= _SEMDEDUP_TAU:
                    is_dup[j] = True
                    break

    got = {r.vec_id: (r.cluster, r.is_dup)
           for r in q_dedup_semdedup(spark, SF_SMOKE).collect()}
    expect = {int(v): (int(c), bool(f))
              for v, c, f in zip(ids, assign, is_dup)}
    assert got == expect
    assert 0 < sum(f for _, f in got.values()) < len(got)


def test_dbscan_matches_python_twin(spark):
    """Roles and cluster labels recomputed with a brute-force python
    DBSCAN (same eps/minPts, same min-label components, same
    min-adjacent-cluster border rule, label-blocked) must match."""
    from collections import defaultdict

    import numpy as np
    import pandas as pd

    from challenge8_movies_etl_spark.queries_ml import (
        _DB_EPS2, _DB_MINPTS, q_dbscan)
    from tests.conftest import SF_SMOKE

    pdf = pd.read_parquet(f"{SF_SMOKE}/embeddings.parquet")
    X = {int(r.vec_id): np.asarray(r.embedding, dtype=float)
         for r in pdf.itertuples()}
    lab = {int(r.vec_id): r.label for r in pdf.itertuples()}
    eps2 = float(_DB_EPS2)
    ids = sorted(X)
    nb = defaultdict(set)
    for i, u in enumerate(ids):
        for v in ids[i + 1:]:
            if lab[u] == lab[v] and ((X[u] - X[v]) ** 2).sum() <= eps2:
                nb[u].add(v)
                nb[v].add(u)
    core = {u for u in ids if len(nb[u]) + 1 >= _DB_MINPTS}
    # components over core-core edges (min-label fixpoint)
    cl = {u: u for u in core}
    changed = True
    while changed:
        changed = False
        for u in core:
            for v in nb[u] & core:
                m = min(cl[u], cl[v])
                if cl[u] != m or cl[v] != m:
                    cl[u] = cl[v] = m
                    changed = True
    expect = {}
    for u in ids:
        if u in core:
            expect[u] = ("core", cl[u])
        else:
            adj = [cl[v] for v in nb[u] if v in core]
            expect[u] = ("border", min(adj)) if adj else ("noise", -1)
    got = {r.vec_id: (r.role, r.cluster)
           for r in q_dbscan(spark, SF_SMOKE).collect()}
    assert got == expect
    roles = {r for r, _ in got.values()}
    assert roles == {"core", "border", "noise"}, roles


def test_decision_stump_twin_and_price_dominates(spark):
    """Best splits must equal an exact python candidate sweep; the
    price feature (which nearly determines the revenue label) must
    have the lowest gini of the three."""
    from challenge8_movies_etl_spark.queries_ml import q_decision_stump
    from challenge8_movies_etl_spark.sources.fixtures import load_table
    from tests.conftest import SF_SMOKE

    li = load_table(spark, SF_SMOKE, "lineitem") \
        .select("l_quantity", "l_discount", "l_extendedprice").collect()
    feats = {"quantity": [], "discount": [], "price": []}
    for r in li:
        lab = 1 if r["l_extendedprice"] * (1 - r["l_discount"]) > 50000 \
            else 0
        feats["quantity"].append((r["l_quantity"], lab))
        feats["discount"].append((r["l_discount"], lab))
        feats["price"].append((r["l_extendedprice"], lab))

    expect = {}
    for f, pts in feats.items():
        from collections import Counter
        cnt, pos = Counter(), Counter()
        for v, lab in pts:
            cnt[v] += 1
            pos[v] += lab
        n = len(pts)
        atot = sum(lab for _, lab in pts)
        nl = al = 0
        best = None
        for v in sorted(cnt):
            nl += cnt[v]
            al += pos[v]
            if nl == n:
                continue
            nr, ar = n - nl, atot - al
            bl, br = nl - al, nr - ar
            num = ((nl * nl - al * al - bl * bl) * nr
                   + (nr * nr - ar * ar - br * br) * nl)
            g = num / (n * nl * nr)
            corr = max(al, bl) + max(ar, br)
            if best is None or (g, v) < (best[0], best[1]):
                best = (g, v, corr)
        expect[f] = (best[1], round(best[0], 6), best[2])
    got = {r["feature"]: (r["threshold"], r["gini"], r["n_correct"])
           for r in q_decision_stump(spark, SF_SMOKE).collect()}
    assert got == expect
    assert got["price"][1] < got["quantity"][1]
    assert got["price"][1] < got["discount"][1]
    # near-perfect split on the dominating feature
    n = len(li)
    assert got["price"][2] / n > 0.97


def test_huber_resists_outliers(spark):
    """The IRLS fit must land near the true (3, 2) despite the +80
    outliers, strictly closer than OLS on both coefficients, and
    downweight roughly 1/37 of the points."""
    from challenge8_movies_etl_spark.queries_analytics import (
        q_huber_regression)
    from challenge8_movies_etl_spark.sources.fixtures import load_table
    from tests.conftest import SF_SMOKE

    rows = {r["method"]: r
            for r in q_huber_regression(spark, SF_SMOKE).collect()}
    hub, ols = rows["huber"], rows["ols"]
    assert abs(hub["slope"] - 2.0) < 0.1
    assert abs(hub["intercept"] - 3.0) < 1.0
    # the uniform-in-x outliers bias the OLS INTERCEPT (+80/37 ~ +2.2
    # mean shift) while leaving its slope nearly unbiased — so the
    # robustness claim is about the intercept
    assert abs(hub["intercept"] - 3.0) < abs(ols["intercept"] - 3.0)
    assert abs(ols["intercept"] - 3.0) > 1.0
    n = load_table(spark, SF_SMOKE, "events").count()
    # every gross outlier plus the heavy tail of the value noise is
    # outside delta=5; the gate is that downweighting is a strict
    # minority, not the near-half a delta-misconfigured fit would show
    assert n / 37 * 0.5 < hub["n_downweighted"] < 0.35 * n


def test_mutual_information_ranking_and_bounds(spark):
    """MI must be non-negative, bounded by the label entropy, match a
    python twin, and rank price (which nearly determines the label)
    first."""
    import math
    from collections import Counter

    from challenge8_movies_etl_spark.queries_ml import (
        q_mutual_information)
    from challenge8_movies_etl_spark.sources.fixtures import load_table
    from tests.conftest import SF_SMOKE

    li = load_table(spark, SF_SMOKE, "lineitem") \
        .select("l_quantity", "l_discount", "l_extendedprice").collect()
    feats = {"quantity": [], "discount": [], "price": []}
    for r in li:
        lab = 1 if r["l_extendedprice"] * (1 - r["l_discount"]) > 50000 \
            else 0
        feats["quantity"].append((r["l_quantity"], lab))
        feats["discount"].append((r["l_discount"], lab))
        feats["price"].append((r["l_extendedprice"], lab))
    n = len(li)
    expect = {}
    for f, pts in feats.items():
        lo = min(v for v, _ in pts)
        hi = max(v for v, _ in pts)
        joint = Counter()
        for v, lab in pts:
            b = min(int(math.floor((v - lo) * 10 / (hi - lo))), 9)
            joint[(b, lab)] += 1
        cb = Counter()
        cl = Counter()
        for (b, lab), c in joint.items():
            cb[b] += c
            cl[lab] += c
        from decimal import Decimal
        tot = Decimal(0)
        for (b, lab), c in sorted(joint.items()):
            t = round((c / n) * math.log(c * n / (cb[b] * cl[lab])), 10)
            tot += Decimal(str(f"{t:.10f}"))
        expect[f] = float(round(tot, 6)) + 0.0
    got = {r["feature"]: r["mi_nats"]
           for r in q_mutual_information(spark, SF_SMOKE).collect()}
    assert got == expect
    lab_counts = Counter(l for _, l in feats["price"])
    h_label = -sum((c / n) * math.log(c / n)
                   for c in lab_counts.values())
    for f, mi in got.items():
        assert -1e-9 <= mi <= h_label + 1e-6
    assert max(got, key=got.get) == "price"


def test_isoforest_flags_injected_outliers(spark):
    """The injected +500 extremes must fill the top-20 anomaly list,
    and every score must be a positive leaf-population sum bounded by
    trees * n."""
    from challenge8_movies_etl_spark.queries_ml import (
        q_outlier_isoforest)
    from challenge8_movies_etl_spark.sources.fixtures import load_table
    from tests.conftest import SF_SMOKE

    rows = q_outlier_isoforest(spark, SF_SMOKE).collect()
    assert len(rows) == 20
    n = load_table(spark, SF_SMOKE, "events").count()
    assert sum(r["injected"] for r in rows) >= 3  # all ~4 injected at smoke
    scores = [r["isolation_score"] for r in rows]
    assert scores == sorted(scores)
    assert all(4 <= s <= 4 * n for s in scores)
    # injected points must score strictly below the list's tail
    inj = [r["isolation_score"] for r in rows if r["injected"]]
    assert min(inj) == scores[0]


def test_kmv_distinct_merge_is_union_and_error_bounded(spark):
    """The ALL sketch must equal union-then-retruncate of the group
    sketches (python twin), and every estimate must sit inside the
    ~2/sqrt(k) KMV error envelope."""
    import hashlib

    from challenge8_movies_etl_spark.queries_ml import _KMV_K
    from challenge8_movies_etl_spark.registry import QUERIES
    from tests.conftest import SF_SMOKE

    rows = {r["grp"]: r
            for r in QUERIES["q_kmv_distinct"](spark, SF_SMOKE).collect()}
    li = spark.read.parquet(f"{SF_SMOKE}/lineitem.parquet") \
        .select("l_returnflag", "l_partkey").collect()
    sketches = {}
    for r in li:
        h = int(hashlib.md5(
            f"kmv:{r['l_partkey']}".encode()).hexdigest()[:15], 16)
        sketches.setdefault(r["l_returnflag"], set()).add(h)
    kept = {g: sorted(s)[:_KMV_K] for g, s in sketches.items()}
    merged = sorted(set().union(*kept.values()))[:_KMV_K]
    assert rows["ALL"]["k_used"] == len(merged)
    est = (len(merged) - 1) * float(1 << 60) / merged[-1]
    assert abs(rows["ALL"]["est_distinct"] - round(est, 2)) < 1e-6
    for g, r in rows.items():
        if r["exact_distinct"] >= _KMV_K:
            assert r["rel_err"] < 2.5 / (_KMV_K ** 0.5)


def test_components_long_chain_converges_via_observed_rounds(spark):
    """The convergence count rides the round's checkpoint as an observed
    metric (optimization r11); a diameter-7 chain forces 8 propagation
    rounds, so a wrong observed 'changed' would stop early and split the
    component — this pins the multi-round path end to end."""
    from challenge8_movies_etl_spark.operators.cluster import (
        connected_components,
    )
    n = 8
    nodes = spark.createDataFrame([(i,) for i in range(n)], "id bigint")
    # one chain 7-6-5-...-0: min-label needs diameter rounds to reach 7
    edges = spark.createDataFrame(
        [(i + 1, i) for i in range(n - 1)], "src bigint, dst bigint")
    got = {r["id"]: r["cluster"]
           for r in connected_components(nodes, edges).collect()}
    assert got == {i: 0 for i in range(n)}


def test_components_round_cap_raises(spark):
    """A diameter-7 chain cannot converge in 2 rounds: hitting the cap
    while labels still move raises instead of returning split
    components."""
    from challenge8_movies_etl_spark.operators.cluster import (
        connected_components,
    )
    nodes = spark.createDataFrame([(i,) for i in range(8)], "id bigint")
    edges = spark.createDataFrame(
        [(i + 1, i) for i in range(7)], "src bigint, dst bigint")
    with pytest.raises(RuntimeError, match="still changing after 2"):
        connected_components(nodes, edges, max_iter=2)


def test_components_broadcast_labels_off_matches(spark):
    from challenge8_movies_etl_spark.operators.cluster import (
        connected_components,
    )
    nodes = spark.createDataFrame([(i,) for i in range(6)], "id bigint")
    edges = spark.createDataFrame(
        [(1, 0), (2, 1), (4, 5)], "src bigint, dst bigint")
    got = {r["id"]: r["cluster"]
           for r in connected_components(
               nodes, edges, broadcast_labels=False).collect()}
    assert got == {0: 0, 1: 0, 2: 0, 3: 3, 4: 4, 5: 4}
