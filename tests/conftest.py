from __future__ import annotations

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from oplog_analyzer_spark.session import get_spark  # noqa: E402

SF_SMALL = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    s = get_spark(master="local[4]", app_name="tests")
    s.sparkContext.setLogLevel("ERROR")
    yield s


@pytest.fixture(scope="session")
def transcripts(spark):
    from oplog_analyzer_spark.transcripts import generate_transcripts

    return generate_transcripts(
        spark, num_conversations=120, turns_per_conv=8, hot_every=60, hot_turns=60
    ).cache()
