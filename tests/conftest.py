import pytest

from ner_backend_spark.spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    spark = get_spark("ner-backend-spark-tests", cores=4, shuffle_partitions=4)
    yield spark
    spark.stop()


@pytest.fixture
def fixpoint_paths(monkeypatch):
    """Both kg.fixpoint paths for one test body, run as ``for _ in
    fixpoint_paths:`` — first the driver finish below the size gate as
    configured, then the distributed rounds with the gate at 0. A loop,
    not a parametrization, so the tests keep their names."""
    from ner_backend_spark.spark import kg

    def paths():
        for path, gate in (("local", kg._LOCAL_ROWS), ("distributed", 0)):
            monkeypatch.setattr(kg, "_LOCAL_ROWS", gate)
            yield path

    return paths()
