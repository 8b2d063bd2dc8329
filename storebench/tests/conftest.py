import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)
sys.path.insert(0, os.path.dirname(BENCH))


@pytest.fixture(scope="session")
def spark(tmp_path_factory):
    import run

    saved = dict(os.environ)
    session = run.start_spark(str(tmp_path_factory.mktemp("spark")))
    try:
        yield session
    finally:
        run.stop_spark(session)
        os.environ.clear()
        os.environ.update(saved)
