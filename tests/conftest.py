import os

import pytest


@pytest.fixture(scope="session")
def spark():
    from pdf4py_spark.session import build_session

    session = build_session(
        "pdf4py-spark-tests",
        os.environ.get("SPARK_TEST_MASTER", "local[4]"),
        "/dev/shm/spark-local", "4g")
    yield session
    session.stop()


# extended fuzz budget: `HYPOTHESIS_PROFILE=heavy pytest tests/*_fuzz*`
# multiplies every test's example budget 20x for soak runs; the default
# profile keeps CI fast
try:
    from hypothesis import settings

    settings.register_profile("heavy", max_examples=2000, deadline=None)
    import os as _os
    if _os.environ.get("HYPOTHESIS_PROFILE"):
        settings.load_profile(_os.environ["HYPOTHESIS_PROFILE"])
except ImportError:
    pass
