from __future__ import annotations

import pytest

from flinkrealtimedatawarehouse_spark.session import get_spark


def pytest_configure(config):
    """pytest.ini's ``-m "not slow"`` deselects the slow soaks from a
    directory or file run. A test named by node id (``path::name``) is
    asked for by name, so it runs whatever its markers, unless ``-m`` is
    given on the command line."""
    named = any("::" in a for a in config.args)
    marked = any(a.startswith("-m") for a in config.invocation_params.args)
    if named and not marked and config.option.markexpr == "not slow":
        config.option.markexpr = ""


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", shuffle_partitions=4)
    yield s
