"""Shared fixtures: one SparkSession per test run, deterministic corpora."""

from __future__ import annotations

import gc

import pytest
from py4j.clientserver import ClientServerConnection

from tesseract_recognize_spark.fixtures.generator import (
    gen_documents,
    write_documents_parquet,
)


@pytest.fixture(scope="session")
def spark():
    from tesseract_recognize_spark.session import build_session

    s = build_session(
        app_name="tests",
        master="local[4]",
        shuffle_partitions=4,
    )
    yield s
    s.stop()


@pytest.fixture(scope="session")
def fx_small_docs():
    return gen_documents(40, seed=42)


@pytest.fixture(scope="session")
def fx_small_path(fx_small_docs, tmp_path_factory):
    p = tmp_path_factory.mktemp("fx") / "documents.parquet"
    write_documents_parquet(fx_small_docs, str(p))
    return str(p)


def _round_trips(build) -> int:
    """Py4J commands sent while ``build()`` constructs its plan. py4j's
    object-release commands arrive whenever Python frees a JVM handle, so
    the cheapest of three builds after a warm-up is the count."""
    send = ClientServerConnection.send_command
    build()
    counts = []
    for _ in range(3):
        commands = []

        def counted(self, command, *args, **kwargs):
            commands.append(command)
            return send(self, command, *args, **kwargs)

        gc.collect()
        gc.disable()
        ClientServerConnection.send_command = counted
        try:
            build()
        finally:
            ClientServerConnection.send_command = send
            gc.enable()
        counts.append(len(commands))
    return min(counts)


@pytest.fixture()
def round_trips():
    """``round_trips(build)``: the Py4J round trips one plan build costs."""
    return _round_trips
