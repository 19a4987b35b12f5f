from __future__ import annotations

import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent
if str(REPO) not in sys.path:
    sys.path.insert(0, str(REPO))


@pytest.fixture(scope="session")
def spark():
    from facturas_spark.session import get_spark

    s = get_spark("pytest", cores=4)
    yield s
