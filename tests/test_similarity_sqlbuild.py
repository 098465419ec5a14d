"""r12 optimization pins: the one-parse SQL literal paths produce the
values the per-element Column forms they replaced produced (frozen in
tests/goldens/builder_pins.json, recorded while both forms existed and
were asserted bit-identical), and the _local_lloyd sorted-segment
centroid update is bit-equal to the boolean-mask form it replaced.

Plan-build latency is the motivation (guide §7.3 / the repo's parsed-SQL
discipline): the Column forms cost one py4j round trip per literal —
measured 16×64 centroids ≈ 2,100 round trips ≈ seconds per plan build —
while the SQL form is one parse. These tests are the drift fence: any
divergence from the pinned values is a correctness bug, not a perf
regression.
"""

import random

import pytest

from tempo_spark.pipeline.similarity import (
    _cell_scores,
    _local_lloyd,
    hyperplane_bucket,
    random_hyperplanes,
)
from tests.golden_utils import load_cases


@pytest.fixture(scope="module")
def vec_df(spark):
    rng = random.Random(7)
    rows = [([rng.uniform(-2, 2) for _ in range(17)],) for _ in range(60)]
    rows.append((None,))  # a null vector scores NULL distances
    return spark.createDataFrame(rows, "v array<double>")


class TestSqlLiteralPathParity:
    def test_cell_scores_bit_identical(self, vec_df):
        rng = random.Random(3)
        centers = [[rng.uniform(-3, 3) for _ in range(17)] for _ in range(5)]
        # exercise shortest-round-trip formatting on awkward doubles
        centers[0][0] = 1e-17
        centers[1][2] = -123456.789e-3
        centers[2][5] = 2.0 ** -40
        got = [
            None if r.s is None
            else [[None if s.d is None else s.d.hex(), s.cell] for s in r.s]
            for r in vec_df.select(_cell_scores("v", centers).alias("s")).collect()
        ]
        # float.hex is exact: equal strings <=> bit-identical doubles
        assert got == load_cases("builder_pins")["cell_scores"]

    def test_hyperplane_bucket_bit_identical(self, vec_df):
        planes = random_hyperplanes(17, 6, seed=11)
        got = [r.b for r in vec_df.select(hyperplane_bucket("v", planes).alias("b")).collect()]
        assert got == load_cases("builder_pins")["hyperplane_bucket"]


class TestLloydSortedUpdateParity:
    def test_sorted_segments_equal_masked_update(self):
        # the former implementation's update rule, verbatim
        import collections

        import numpy as np

        def masked_lloyd(vecs, k, seed, max_iter):
            dim = collections.Counter(len(v) for v in vecs).most_common(1)[0][0]
            X = np.asarray([v for v in vecs if len(v) == dim], dtype=np.float64)
            if X.size:
                X = X[np.isfinite(X).all(axis=1)]
            rng = np.random.default_rng(seed)
            first = int(rng.integers(X.shape[0]))
            chosen = [first]
            d2 = ((X - X[first]) ** 2).sum(axis=1)
            for _ in range(1, k):
                total = float(d2.sum())
                if total <= 0.0:
                    remaining = np.setdiff1d(
                        np.arange(X.shape[0]), np.asarray(chosen)
                    )
                    nxt = int(remaining[rng.integers(remaining.shape[0])])
                else:
                    nxt = int(rng.choice(X.shape[0], p=d2 / total))
                chosen.append(nxt)
                d2 = np.minimum(d2, ((X - X[nxt]) ** 2).sum(axis=1))
            C = X[chosen].copy()
            for _ in range(max_iter):
                scores = (C * C).sum(axis=1)[None, :] - 2.0 * (X @ C.T)
                labels = scores.argmin(axis=1)
                for j in range(k):
                    members = X[labels == j]
                    if len(members):
                        C[j] = members.mean(axis=0)
            return [list(map(float, c)) for c in C]

        import numpy as np

        rng = np.random.default_rng(5)
        for trial, (n, d, k) in enumerate(
            [(400, 8, 64), (300, 5, 7), (200, 3, 30)]
        ):
            vecs = [list(map(float, r)) for r in rng.normal(size=(n, d))]
            vecs[5] = vecs[6]  # duplicates exercise the stable tie order
            a = _local_lloyd(vecs, k, 42 + trial, 12)
            b = masked_lloyd(vecs, k, 42 + trial, 12)
            assert a == b  # exact float equality, element for element
