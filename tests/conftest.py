import numpy as np
import pytest

from kiez_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark("kiez-spark-tests", cores=4, shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def source_target():
    """Mirror of the reference session fixture
    (/root/reference/tests/conftest.py:5-11): seed-42 RandomState,
    source drawn first (20x5), then target (50x5)."""
    rng = np.random.RandomState(42)
    source = rng.rand(20, 5)
    target = rng.rand(50, 5)
    return source, target


def to_vec_df(spark, mat):
    rows = [(i, [float(x) for x in row]) for i, row in enumerate(mat)]
    return spark.createDataFrame(rows, "id bigint, vec array<double>")


@pytest.fixture(scope="session")
def source_df(spark, source_target):
    return to_vec_df(spark, source_target[0]).cache()


@pytest.fixture(scope="session")
def target_df(spark, source_target):
    return to_vec_df(spark, source_target[1]).cache()


@pytest.fixture(scope="session")
def oracle_nn_df(spark):
    """Factory for the exact self-join top-k (self excluded) from the
    numpy oracle, as a (query_id, cand_id, dist) table over ``ids``
    (ascending, so the oracle's index tie-break is the id tie-break)."""
    from kiez_spark.oracle import numpy_oracle as O

    def build(ids, mat, k, metric):
        dist, ind = O.knn(mat, mat, k, metric, exclude_self=True)
        rows = [
            (int(ids[i]), int(ids[j]), float(d))
            for i in range(len(ids))
            for j, d in zip(ind[i], dist[i])
        ]
        return spark.createDataFrame(
            rows, "query_id bigint, cand_id bigint, dist double"
        )

    return build
