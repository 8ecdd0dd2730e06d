import contextlib
import gc
import os
import sys
import types

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from vtb_datafusion_2023_spark.session import get_spark

SF_SMALL = "/root/testdata/sf0.001"
SF_MEDIUM = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="tests", cpus=int(os.environ.get("TEST_CPUS", "8")))
    yield s


@pytest.fixture(scope="session")
def sf_small():
    return SF_SMALL


@pytest.fixture(scope="session")
def sf_medium():
    return SF_MEDIUM


@pytest.fixture
def py4j_calls(monkeypatch):
    """``with py4j_calls() as calls:`` counts the py4j round trips
    (``ClientServerConnection.send_command``) made inside the block into
    ``calls.n``.  Pending proxy finalizers are collected first, so their
    delete commands are not charged to the block."""
    from py4j.clientserver import ClientServerConnection

    active = []
    send = ClientServerConnection.send_command

    def counting(self, *args, **kwargs):
        for calls in active:
            calls.n += 1
        return send(self, *args, **kwargs)

    monkeypatch.setattr(ClientServerConnection, "send_command", counting)

    @contextlib.contextmanager
    def count():
        gc.collect()
        calls = types.SimpleNamespace(n=0)
        active.append(calls)
        try:
            yield calls
        finally:
            active.remove(calls)

    return count
