"""Exact-integer linear algebra trainers shared by the round-8 promoted
queries (embed_ridge_r2, source_quality_scorer_r2,
embed_mahalanobis_outliers, embed_pca_project).

Extends the round-7 mirrored-pair machinery (plans/exact_kmeans.py,
quantization.pq_train_exact) from clustering to the three remaining
float-model families: ridge regression, covariance inverses, and PCA.
The trick is the same everywhere — every quantity in the training loop is
an arbitrary-precision integer on a fixed grid, and every division is the
shared truncate-toward-zero integer division (:func:`tdiv`, which is what
BOTH DuckDB ``//`` and Spark SQL ``div`` implement, probed on negatives) —
so the Spark builder's driver-side Python loop and the DuckDB oracle's
unrolled MATERIALIZED CTE chain produce bit-identical models:

* **Ridge** = heavy-ball gradient descent on the (1/n)-normalized
  objective (closed-form solves need a matrix inverse, which has no SQL
  twin; fixed-iteration momentum GD is a linear recurrence both engines
  replay term-for-term; 80 iterations at eta=6/10, beta=8/10 match the
  closed form to ~1e-4 in R^2 on the fixtures, measured).
* **Covariance inverse** = Newton-Schulz iteration X <- X(2I - AX)
  (pure matmuls — SQL-expressible — on the shrinkage-regularized moment
  matrix; 30 grid-snapped rounds reach ~1e-5 relative error, measured).
* **PCA** = subspace iteration with classical Gram-Schmidt, max-abs
  integer normalization per column (no sqrt, no floats anywhere: even
  normalization is tdiv by the column max; 6 rounds capture >=95% of the
  eigh top-k variance on the fixtures, measured).

Every helper comes as a mirrored pair — ``*_train`` (pure Python over
collected model-sized integer stats) and ``*_ctes`` (the DuckDB SQL twin)
— and the pairs MUST stay in lockstep; tests/test_exact_linalg.py pins
the Python side against numpy references, the oracle gate pins the pair.

Magnitude audit (why nothing overflows): DuckDB runs HUGEINT (128-bit,
|x| < 1.7e38) through every chain; Python is arbitrary precision. The
audited maxima on the fixtures: ridge gw ~ 2e22, NS A@X ~ 4e17 with the
x0 seed numerator ~ 1e31, PCA dwu*SV ~ 9e17 — all inside HUGEINT with
>15 orders of headroom. Executor-side scoring stays in int64 (documented
per query).
"""

from __future__ import annotations


def tdiv(a: int, b: int) -> int:
    """Truncate-toward-zero integer division — the shared semantics of
    DuckDB ``//`` (probed: -7//2 = -3) and Spark SQL ``div``. Python's
    ``//`` FLOORS negatives, so never use it directly on signed values."""
    q = abs(a) // abs(b)
    return q if (a >= 0) == (b >= 0) else -q


# --------------------------------------------------------------------------
# Ridge: heavy-ball GD on f(w) = (1/n)||Xw - y||^2 + (lam/n)|w|^2, lam = 1.
# Grids: features q on S1, weights on S2. Update per coordinate j:
#   gw_j  = sum_i G[i][j] * wq_i                      (G = X^T X on S1^2)
#   t1    = tdiv(2*EN*gw_j,      ED*n*S1*S1)
#   t2    = tdiv(2*EN*b_j*S2,    ED*n*S1)             (b = X^T y on S1)
#   t3    = tdiv(2*EN*wq_j,      ED*n)                (lam = 1)
#   mom   = tdiv(BN*(wq_j-pq_j), BD)
#   wq'_j = wq_j - t1 + t2 - t3 + mom ;  pq' = wq
# --------------------------------------------------------------------------

RIDGE_S1 = 10_000
RIDGE_S2 = 1_000_000
RIDGE_EN, RIDGE_ED = 6, 10
RIDGE_BN, RIDGE_BD = 8, 10
RIDGE_ITERS = 80


def ridge_gd_train(
    G: list[list[int]],
    b: list[int],
    n: int,
    iters: int = RIDGE_ITERS,
    s1: int = RIDGE_S1,
    s2: int = RIDGE_S2,
) -> list[int]:
    """Heavy-ball GD over exact integer sufficient statistics; returns the
    weight vector on the S2 grid. Pure Python big-int arithmetic — the
    driver-side half of the mirrored pair (model-sized state only:
    G is (d+1)^2 ints, the loop is ~80 * 65^2 multiplies)."""
    d = len(b)
    en, ed, bn, bd = RIDGE_EN, RIDGE_ED, RIDGE_BN, RIDGE_BD
    wq = [0] * d
    pq = [0] * d
    for _ in range(iters):
        gw = [sum(G[i][j] * wq[i] for i in range(d)) for j in range(d)]
        new = [
            wq[j]
            - tdiv(2 * en * gw[j], ed * n * s1 * s1)
            + tdiv(2 * en * b[j] * s2, ed * n * s1)
            - tdiv(2 * en * wq[j], ed * n)
            + tdiv(bn * (wq[j] - pq[j]), bd)
            for j in range(d)
        ]
        pq, wq = wq, new
    return wq


def ridge_gd_ctes(d: int) -> str:
    """DuckDB twin of :func:`ridge_gd_train`, GROUPED: the caller's WITH
    list must already define ``qe(grp, rid, j, q)`` (features, intercept
    row j=d-1 included) and ``yy(grp, rid, yq)``; this appends the
    sufficient statistics (``nn/g/bv``), ``w0``, and the unrolled
    iterations. The final weights are ``w{RIDGE_ITERS}(grp, j, wq)``. A
    global (ungrouped) fit passes a constant grp."""
    iters, s1, s2 = RIDGE_ITERS, RIDGE_S1, RIDGE_S2
    en, ed, bn, bd = RIDGE_EN, RIDGE_ED, RIDGE_BN, RIDGE_BD
    parts = [
        f""", nn AS MATERIALIZED (
            SELECT grp, CAST(COUNT(*) AS HUGEINT) AS n FROM yy GROUP BY grp
        ), g AS MATERIALIZED (
            SELECT a.grp, a.j AS i, b.j AS jj,
                   CAST(SUM(a.q * b.q) AS HUGEINT) AS v
            FROM qe a JOIN qe b ON b.grp = a.grp AND b.rid = a.rid
            GROUP BY 1, 2, 3
        ), bv AS MATERIALIZED (
            SELECT qe.grp, qe.j, CAST(SUM(qe.q * yy.yq) AS HUGEINT) AS v
            FROM qe JOIN yy ON yy.grp = qe.grp AND yy.rid = qe.rid
            GROUP BY 1, 2
        ), w0 AS (
            SELECT nn.grp, CAST(r.range AS INT) AS j,
                   CAST(0 AS HUGEINT) AS wq, CAST(0 AS HUGEINT) AS pq
            FROM nn CROSS JOIN range({d}) r
        )"""
    ]
    for t in range(1, iters + 1):
        parts.append(
            f""", w{t} AS MATERIALIZED (
            SELECT w.grp, w.j,
                   w.wq
                   - (2*{en}*gw.v) // ({ed} * nn.n * {s1 * s1})
                   + (2*{en}*bv.v*{s2}) // ({ed} * nn.n * {s1})
                   - (2*{en}*w.wq) // ({ed} * nn.n)
                   + ({bn}*(w.wq - w.pq)) // {bd} AS wq,
                   w.wq AS pq
            FROM (SELECT g.grp, g.jj AS j, SUM(g.v * wp.wq) AS v
                  FROM g JOIN w{t - 1} wp
                    ON wp.grp = g.grp AND wp.j = g.i
                  GROUP BY 1, 2) gw
            JOIN w{t - 1} w ON w.grp = gw.grp AND w.j = gw.j
            JOIN bv ON bv.grp = gw.grp AND bv.j = gw.j
            JOIN nn ON nn.grp = gw.grp
        )"""
        )
    return "".join(parts)


# --------------------------------------------------------------------------
# Newton-Schulz inverse of the shrinkage-regularized scatter matrix.
# A = n^2*S1^2-scaled covariance + eps*I, eps = max(1, trace/(d*100)).
# Seed X0 = A*SA*SX // rq^2 (rq = max abs row sum); iterate
#   T = A@X // SA ;  X = X@(2*SX*I - T) // SX
# --------------------------------------------------------------------------

NS_SX = 100_000
NS_ITERS = 30


def ns_inverse_train(
    Aq: list[list[int]],
    sa: int,
) -> list[list[int]]:
    """Grid-snapped Newton-Schulz; returns X ~ inv(A_real)*NS_SX where
    A_real = Aq/sa. Mirrors :func:`ns_ctes` term-for-term."""
    iters, sx = NS_ITERS, NS_SX
    d = len(Aq)
    rq = max(sum(abs(v) for v in row) for row in Aq)
    X = [[tdiv(Aq[i][j] * sa * sx, rq * rq) for j in range(d)] for i in range(d)]
    for _ in range(iters):
        T = [
            [
                tdiv(sum(Aq[i][k] * X[k][j] for k in range(d)), sa)
                for j in range(d)
            ]
            for i in range(d)
        ]
        W = [
            [(2 * sx if i == j else 0) - T[i][j] for j in range(d)]
            for i in range(d)
        ]
        X = [
            [
                tdiv(sum(X[i][k] * W[k][j] for k in range(d)), sx)
                for j in range(d)
            ]
            for i in range(d)
        ]
    return X


def ns_ctes() -> str:
    """DuckDB twin of :func:`ns_inverse_train`. The caller's WITH list
    must define ``aq(i, j, v)`` (dense, HUGEINT) and ``sa(v)``; appends
    ``rq``, ``x0`` and the iteration chain — the inverse is
    ``x{NS_ITERS}(i, j, v)`` on the NS_SX grid."""
    iters, sx = NS_ITERS, NS_SX
    parts = [
        f""", rq AS (
            SELECT MAX(s) AS v
            FROM (SELECT i, SUM(ABS(v)) AS s FROM aq GROUP BY i)
        ), x0 AS MATERIALIZED (
            SELECT i, j,
                   (v * (SELECT v FROM sa) * {sx})
                   // ((SELECT v FROM rq) * (SELECT v FROM rq)) AS v
            FROM aq
        )"""
    ]
    for t in range(1, iters + 1):
        parts.append(
            f""", t{t} AS MATERIALIZED (
            SELECT a.i, x.j,
                   CAST(SUM(a.v * x.v) AS HUGEINT) // (SELECT v FROM sa)
                       AS v
            FROM aq a JOIN x{t - 1} x ON x.i = a.j
            GROUP BY a.i, x.j
        ), x{t} AS MATERIALIZED (
            SELECT x.i, w.j, CAST(SUM(x.v * w.v) AS HUGEINT) // {sx} AS v
            FROM x{t - 1} x
            JOIN (SELECT i, j,
                         CASE WHEN i = j THEN 2*{sx} ELSE 0 END - v AS v
                  FROM t{t}) w
              ON w.i = x.j
            GROUP BY x.i, w.j
        )"""
        )
    return "".join(parts)


# --------------------------------------------------------------------------
# PCA: subspace iteration + classical Gram-Schmidt, all-integer.
# V0[i][k] = SV if i==k else SV // (i + 2k + 2) (deterministic dense seed);
# per round: W = C@V, each column max-abs-normalized to SV, then classical
# GS (corrections use the PRE-GS column, so each column is ONE SQL step):
#   corr_i = sum_j tdiv(dot(w_k, u_j) * u_j[i], dot(u_j, u_j))
#   u_k = max-abs-normalize(w_k - corr)
# --------------------------------------------------------------------------

PCA_SV = 1_000_000
PCA_ITERS = 6


def pca_subspace_train(
    C: list[list[int]],
    k: int,
) -> list[list[int]]:
    """Integer subspace iteration over the scatter matrix C (any fixed
    positive scale); returns V as d x k columns on the PCA_SV grid,
    mutually orthogonal (max-abs normalized, NOT unit — projections are
    exact up to a per-component positive scale). Mirrors
    :func:`pca_ctes`."""
    iters, sv = PCA_ITERS, PCA_SV
    d = len(C)
    V = [
        [sv if i == kk else tdiv(sv, i + 2 * kk + 2) for kk in range(k)]
        for i in range(d)
    ]
    for _ in range(iters):
        W = [
            [sum(C[i][l] * V[l][kk] for l in range(d)) for kk in range(k)]
            for i in range(d)
        ]
        cols = []
        for kk in range(k):
            m = max(abs(W[i][kk]) for i in range(d))
            cols.append(
                [tdiv(W[i][kk] * sv, m) for i in range(d)]
                if m
                else [sv if i == kk else 0 for i in range(d)]
            )
        ortho: list[list[int]] = []
        for kk in range(k):
            w = cols[kk]
            if ortho:
                corr = [0] * d
                for u in ortho:
                    dwu = sum(w[i] * u[i] for i in range(d))
                    duu = sum(u[i] * u[i] for i in range(d))
                    for i in range(d):
                        corr[i] += tdiv(dwu * u[i], duu)
                r = [w[i] - corr[i] for i in range(d)]
            else:
                r = list(w)
            m = max(abs(v) for v in r)
            ortho.append(
                [tdiv(v * sv, m) for v in r]
                if m
                else [sv if i == kk else 0 for i in range(d)]
            )
        V = [[ortho[kk][i] for kk in range(k)] for i in range(d)]
    return V


def pca_ctes(d: int, k: int) -> str:
    """DuckDB twin of :func:`pca_subspace_train`. The caller's WITH list
    must define ``cq(i, j, v)`` (dense scatter, HUGEINT); appends the
    seed ``v0`` and per-round matvec + Gram-Schmidt chains — the final
    basis is ``v{PCA_ITERS}(i, k, v)``."""
    iters, sv = PCA_ITERS, PCA_SV
    parts = [
        f""", v0 AS MATERIALIZED (
            SELECT CAST(ri.range AS INT) AS i, CAST(rk.range AS INT) AS k,
                   CASE WHEN ri.range = rk.range THEN CAST({sv} AS HUGEINT)
                        ELSE CAST({sv} AS HUGEINT)
                             // (ri.range + 2*rk.range + 2)
                   END AS v
            FROM range({d}) ri, range({k}) rk
        )"""
    ]
    for it in range(1, iters + 1):
        pv = f"v{it - 1}"
        parts.append(
            f""", w{it} AS MATERIALIZED (
            SELECT i, k,
                   CASE WHEN m = 0
                        THEN (CASE WHEN i = k THEN CAST({sv} AS HUGEINT)
                              ELSE 0 END)
                        ELSE (v * {sv}) // m END AS v
            FROM (SELECT i, k, v, MAX(ABS(v)) OVER (PARTITION BY k) AS m
                  FROM (SELECT c.i, v.k,
                               CAST(SUM(c.v * v.v) AS HUGEINT) AS v
                        FROM cq c JOIN {pv} v ON v.i = c.j
                        GROUP BY 1, 2))
        )"""
        )
        for kk in range(k):
            if kk == 0:
                parts.append(
                    f""", o{it}_0 AS MATERIALIZED (
            SELECT 0 AS k2, i,
                   CASE WHEN (SELECT MAX(ABS(v)) FROM w{it} WHERE k = 0) = 0
                        THEN (CASE WHEN i = 0 THEN CAST({sv} AS HUGEINT)
                              ELSE 0 END)
                        ELSE (v * {sv})
                             // (SELECT MAX(ABS(v)) FROM w{it} WHERE k = 0)
                   END AS v
            FROM w{it} WHERE k = 0
        )"""
                )
            else:
                prev = f"o{it}_{kk - 1}"
                parts.append(
                    f""", p{it}_{kk} AS (
            SELECT o.k2, CAST(SUM(w.v * o.v) AS HUGEINT) AS dwu,
                   CAST(SUM(o.v * o.v) AS HUGEINT) AS duu
            FROM w{it} w JOIN {prev} o ON o.i = w.i
            WHERE w.k = {kk} GROUP BY o.k2
        ), r{it}_{kk} AS MATERIALIZED (
            SELECT w.i,
                   w.v - COALESCE((SELECT SUM((p.dwu * o.v) // p.duu)
                                   FROM {prev} o
                                   JOIN p{it}_{kk} p ON p.k2 = o.k2
                                   WHERE o.i = w.i), 0) AS v
            FROM w{it} w WHERE w.k = {kk}
        ), o{it}_{kk} AS MATERIALIZED (
            SELECT k2, i, v FROM {prev}
            UNION ALL
            SELECT {kk} AS k2, i,
                   CASE WHEN (SELECT MAX(ABS(v)) FROM r{it}_{kk}) = 0
                        THEN (CASE WHEN i = {kk}
                              THEN CAST({sv} AS HUGEINT) ELSE 0 END)
                        ELSE (v * {sv})
                             // (SELECT MAX(ABS(v)) FROM r{it}_{kk})
                   END AS v
            FROM r{it}_{kk}
        )"""
                )
        parts.append(
            f""", v{it} AS MATERIALIZED (
            SELECT i, k2 AS k, v FROM o{it}_{k - 1}
        )"""
        )
    return "".join(parts)
