import pytest


@pytest.fixture(scope="session")
def spark():
    from unsupervised_ner_spark.session import get_spark

    # One JVM serves the whole suite; with get_spark's 48g default its heap
    # grows until a 16 GB host OOM-kills it mid-run.
    s = get_spark(
        "tests", cores=8, shuffle_partitions=8,
        extra_conf={"spark.driver.memory": "3g"},
    )
    yield s
    s.stop()
