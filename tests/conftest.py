import contextlib
import os
import shutil
import tempfile
import uuid

import pytest

from duckdb_annsearch_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
    spark = get_spark("ann-tests")
    yield spark


@pytest.fixture()
def engine(spark):
    from duckdb_annsearch_spark.engine import AnnEngine

    workdir = tempfile.mkdtemp(prefix="ann_engine_test_")
    eng = AnnEngine(spark, workdir=workdir)
    yield eng
    shutil.rmtree(workdir, ignore_errors=True)


@pytest.fixture(scope="session")
def sf_dir():
    return os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


def make_vectors_df(spark, rows, dim=3, id_col="id", vec_col="embedding"):
    """rows: list of (id, [floats])."""
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField(id_col, T.IntegerType(), False),
            T.StructField(vec_col, T.ArrayType(T.FloatType(), False), True),
        ]
    )
    data = [(int(i), [float(x) for x in v] if v is not None else None) for i, v in rows]
    return spark.createDataFrame(data, schema)


@contextlib.contextmanager
def job_count(spark):
    """Count the Spark jobs submitted inside the block (one job group)."""
    sc = spark.sparkContext
    group = f"count-{uuid.uuid4().hex}"
    box = []
    sc.setLocalProperty("spark.jobGroup.id", group)
    try:
        yield box
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        box.append(len(sc.statusTracker().getJobIdsForGroup(group)))
