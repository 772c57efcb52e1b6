import os

import pytest

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from social_media_big_data_analyzer_spark.session import local_session

    yield local_session(4)


@pytest.fixture(scope="session")
def entry_mod():
    import __spark_entry__

    return __spark_entry__


@pytest.fixture(scope="session")
def duck():
    from tools.oracle_check import duck_views

    return duck_views(SF_DIR)
