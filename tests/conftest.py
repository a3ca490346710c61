import numpy as np
import pytest

from gp_ann_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    # a bounded heap, below the library's default of half the box's RAM:
    # over the suite the session's JVM grows toward its heap limit, and the
    # Python workers and side scripts need the rest of a 16 GB box
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


def job_ids(spark):
    """Ids of every job in the status store. A job group would miss the jobs
    a stream thread runs under its own group; the listener bus feeds the
    store asynchronously, so sleep a moment before the second read."""
    sc = spark.sparkContext
    jobs = sc._jvm.scala.jdk.javaapi.CollectionConverters.asJava(sc._jsc.sc().statusStore().jobsList(None))
    return {j.jobId() for j in jobs}


def final_plan(df) -> str:
    """The physical plan that ran: AQE's final plan, nested stages included,
    or the plain plan where AQE had no exchange to adapt."""
    df.collect()
    plan = df._jdf.queryExecution().executedPlan()
    return (plan.executedPlan() if plan.nodeName() == "AdaptiveSparkPlan" else plan).toString()
