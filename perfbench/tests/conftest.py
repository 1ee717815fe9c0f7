from __future__ import annotations

import os
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent.parent  # perfbench/
ROOT = HERE.parent
for p in (str(HERE), str(ROOT)):
    if p not in sys.path:
        sys.path.insert(0, p)
# Python workers unpickle the synthetic page source from perfbench/
os.environ["PYTHONPATH"] = os.pathsep.join(
    p for p in (str(HERE), str(ROOT), os.environ.get("PYTHONPATH")) if p
)


@pytest.fixture(scope="session")
def spark(tmp_path_factory):
    import run

    work = tmp_path_factory.mktemp("perfbench")
    (work / "tmp").mkdir()
    session = run.start_session(work)
    yield session
    run.stop_jvm(session)
