import numpy as np
import pytest

from gp_ann_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    # a bounded heap: with the library's 48g default the session's JVM grows
    # past the RAM of a 16 GB box over the suite and is killed
    s = get_spark(
        "gp_ann_spark_tests", master="local[4]", shuffle_partitions=4, extra_conf={"spark.driver.memory": "6g"}
    )
    yield s
    s.stop()


@pytest.fixture()
def rng():
    return np.random.default_rng(555)


def make_points_df(spark, vecs, id_col="id", vec_col="vec"):
    """Helper: (n,d) float array → points DataFrame."""
    rows = [(int(i), [float(x) for x in v]) for i, v in enumerate(vecs)]
    return spark.createDataFrame(rows, f"{id_col} long, {vec_col} array<float>")


def make_edges_df(spark, edge_list):
    rows = [(int(a), int(b), float(w)) for a, b, w in edge_list]
    return spark.createDataFrame(rows, "src long, dst long, weight double")
