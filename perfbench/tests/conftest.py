import os
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)


@pytest.fixture(scope="session")
def spark(tmp_path_factory):
    """One benchmark-configured session for the tests that need Spark."""
    from perfbench.common import start_session, stop_session
    from perfbench.run import pin_environment

    work = str(tmp_path_factory.mktemp("perfbench"))
    session, _ = start_session(pin_environment(work), work, trace=False)
    yield session
    stop_session(session)
