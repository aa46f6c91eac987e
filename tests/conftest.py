from __future__ import annotations

import threading

import pytest

from bigdatafinalproject_hockey_spark.session import get_session

SF_SMOKE = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    s = get_session(app_name="tests", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_SMOKE


@pytest.fixture
def count_py4j(spark):
    """``count(fn)`` runs ``fn()`` and returns its result and the number
    of Python→JVM commands it sent from the calling thread."""
    client = spark.sparkContext._gateway._gateway_client

    def count(fn):
        send, caller, sent = client.send_command, threading.get_ident(), []

        def counting(*args, **kwargs):
            # Finalizers on other threads send garbage-collection commands.
            if threading.get_ident() == caller:
                sent.append(args[0])
            return send(*args, **kwargs)

        with pytest.MonkeyPatch.context() as mp:
            mp.setattr(client, "send_command", counting)
            result = fn()
        return result, len(sent)

    return count
