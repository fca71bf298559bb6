from __future__ import annotations

import numpy as np
import pytest

from time_series_classification_using_knn_with_dtw_under_big_data_schema_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", shuffle_partitions=8)
    yield s
    s.stop()


def make_har_like(n_train=120, n_test=40, length=24, n_classes=4, noise=0.05, seed=42):
    """HAR-shaped separable synthetic series (FIXTURES.md F2): per-class
    sinusoid archetypes + Gaussian noise, 1-NN accuracy ~1.0 at low noise.

    Returns (train_rows, test_rows) as lists of (row_id, features, label).
    """
    rng = np.random.default_rng(seed)
    t = np.linspace(0, 2 * np.pi, length)
    archetypes = [
        np.sin((c + 1) * t) + 0.3 * c * t / t.max() for c in range(n_classes)
    ]

    def rows(n, start_id):
        out = []
        for i in range(n):
            c = int(rng.integers(n_classes))
            f = archetypes[c] + rng.normal(0, noise, length)
            out.append((start_id + i, [float(x) for x in f], float(c + 1)))
        return out

    return rows(n_train, 0), rows(n_test, 10_000)


@pytest.fixture(scope="session")
def har_dfs(spark):
    train_rows, test_rows = make_har_like()
    schema = "series_id long, features array<double>, label double"
    return (
        spark.createDataFrame(train_rows, schema=schema),
        spark.createDataFrame(test_rows, schema=schema),
    )


@pytest.fixture(scope="module")
def emb(spark):
    """200 random 16-dim embeddings with two zero vectors (the zero-norm
    branch) for the ANN strategy-agreement tests."""
    rng = np.random.default_rng(7)
    rows = [
        (int(i), [float(x) for x in rng.normal(0, 1, 16)]) for i in range(200)
    ]
    rows[13] = (13, [0.0] * 16)
    rows[77] = (77, [0.0] * 16)
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")
