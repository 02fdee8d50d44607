from __future__ import annotations

import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parents[2]
if str(ROOT) not in sys.path:
    sys.path.insert(0, str(ROOT))


@pytest.fixture(scope="session")
def spark(tmp_path_factory):
    from perfbench.session import start_session, stop_session

    s = start_session(2, tmp_path_factory.mktemp("perfbench-session"))
    yield s
    stop_session(s)
