from __future__ import annotations

import pytest

from salesforce_plugin_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark(
        "tests",
        shuffle_partitions=4,
        # The compaction-protocol tests perform thousands of 1-row state
        # writes; per-write committer overhead (the _SUCCESS marker file
        # and the v1 two-phase rename) is pure fixed cost on a local FS
        # and nothing in the engine or the tests reads _SUCCESS. Test
        # session only — production sessions keep their deployment's
        # committer (configure_s3 switches to the magic committer).
        extra_conf={
            "spark.hadoop.mapreduce.fileoutputcommitter.marksuccessfuljobs": "false",
            "spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version": "2",
        },
    )
    yield s
    s.stop()
