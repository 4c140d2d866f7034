import contextlib

import pytest

from ner_backend_spark.spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    spark = get_spark("ner-backend-spark-tests", cores=4, shuffle_partitions=4)
    yield spark
    spark.stop()


@pytest.fixture
def fixpoint_paths(monkeypatch):
    """Both paths of the kg size gate (``kg._LOCAL_ROWS``: the fixpoint
    operators and ``kg.mention_edges``) for one test body, run as ``for _
    in fixpoint_paths:`` — first the driver path below the gate as
    configured, then the distributed path with the gate at 0. A loop,
    not a parametrization, so the tests keep their names."""
    from ner_backend_spark.spark import kg

    def paths():
        for path, gate in (("local", kg._LOCAL_ROWS), ("distributed", 0)):
            monkeypatch.setattr(kg, "_LOCAL_ROWS", gate)
            yield path

    return paths()


@pytest.fixture
def log_errors(spark):
    """``with log_errors() as writer:`` captures every ERROR line log4j
    writes during the block into ``writer`` (a java StringWriter); the
    block's end first waits for the listener bus, whose thread logs the
    listener errors."""
    log4j = spark._jvm.org.apache.logging.log4j

    @contextlib.contextmanager
    def capture():
        ctx = log4j.LogManager.getContext(False)
        config = ctx.getConfiguration()
        writer = spark._jvm.java.io.StringWriter()
        layout = (
            log4j.core.layout.PatternLayout.newBuilder()
            .withPattern("%p %c %m%n")
            .build()
        )
        appender = log4j.core.appender.WriterAppender.createAppender(
            layout, None, writer, "test-errors", False, True
        )
        appender.start()
        config.addAppender(appender)
        config.getRootLogger().addAppender(appender, log4j.Level.ERROR, None)
        ctx.updateLoggers()
        try:
            yield writer
            spark._jsc.sc().listenerBus().waitUntilEmpty()
        finally:
            config.getRootLogger().removeAppender("test-errors")
            ctx.updateLoggers()
            appender.stop()

    return capture
