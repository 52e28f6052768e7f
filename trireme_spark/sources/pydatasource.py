"""Custom Python DataSource (Spark 4 `pyspark.sql.datasource` API) — the
plugin surface an external-system connector (REST pager, Cassandra token
ranges, message queue snapshot) implements when no JVM connector exists.

The reader models the token-range scan shape: each InputPartition is one
shard, read independently on an executor; rows derive deterministically
from (shard, offset) via the repo's Knuth hash, so the whole source is
value-checkable against an arithmetic oracle — the PLUMBING (partition
planning, per-partition iteration, schema projection through a Python
source) is what the key exercises, with deterministic content standing in
for the remote system exactly like the multimodal/PII plantings.
"""

from __future__ import annotations

import sys

from pyspark import cloudpickle
from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    InputPartition,
)

# Ship this module's classes by value. Spark's Python streaming-source
# planner runs in a worker that never sees the addPyFile zip, so
# pickling them by reference fails with "No module named
# 'trireme_spark'" whenever the caller's cwd is outside the repo root.
# By-value pickling needs every import here to resolve on a bare worker,
# so this module may import only pyspark and the standard library.
cloudpickle.register_pickle_by_value(sys.modules[__name__])

_KNUTH = 2654435761
_M31 = 2147483648
_M32 = 4294967296

N_SHARDS = 8
ROWS_PER_SHARD = 1000


class _ShardReader(DataSourceReader):
    def partitions(self):
        # one InputPartition per shard = the token-range planning step;
        # Spark schedules each to an executor core independently
        return [InputPartition(s) for s in range(N_SHARDS)]

    def read(self, partition):
        shard = partition.value
        base = shard * ROWS_PER_SHARD
        for off in range(ROWS_PER_SHARD):
            rid = base + off
            val = ((rid % _M31) * _KNUTH) % _M32
            yield (rid, shard, val)


class ShardedSyntheticSource(DataSource):
    """`spark.read.format("trireme_shards")` — 8 shards × 1000 rows."""

    @classmethod
    def name(cls) -> str:
        return "trireme_shards"

    def schema(self) -> str:
        return "record_id long, shard int, value long"

    def reader(self, schema):  # noqa: ARG002 - fixed-schema source
        return _ShardReader()


# ---------------------------------------------------------------------------
# Sink side: Python DataSourceWriter with a real two-phase commit
# ---------------------------------------------------------------------------

import json as _json
import os as _os
import uuid as _uuid
from dataclasses import dataclass as _dataclass

from pyspark.sql.datasource import DataSourceWriter, WriterCommitMessage


@_dataclass
class _PartCommit(WriterCommitMessage):
    path: str
    n_rows: int


class _DocSinkWriter(DataSourceWriter):
    """JSONL part files + manifest commit — the two-phase protocol every
    exactly-once sink implements: executors write UNLISTED part files
    and return commit messages; only the driver's commit() makes them
    visible by writing the manifest; abort() leaves no manifest, so a
    failed job is invisible to readers (task retries just orphan an
    unlisted file). This is the Solr/ES bulk-load shape with the commit
    made explicit."""

    def __init__(self, options):
        self.path = options.get("path")
        if not self.path:
            raise ValueError("trireme_docsink requires option 'path'")

    def write(self, iterator):
        _os.makedirs(self.path, exist_ok=True)
        part = _os.path.join(
            self.path, f"part-{_uuid.uuid4().hex}.jsonl"
        )
        n = 0
        with open(part, "w") as fh:
            for row in iterator:
                fh.write(_json.dumps(row.asDict()) + "\n")
                n += 1
        return _PartCommit(path=part, n_rows=n)

    def commit(self, messages):
        manifest = {
            "parts": sorted(m.path for m in messages if m),
            "n_rows": sum(m.n_rows for m in messages if m),
        }
        with open(_os.path.join(self.path, "_MANIFEST.json"), "w") as fh:
            _json.dump(manifest, fh)

    def abort(self, messages):
        for m in messages:
            if m and _os.path.exists(m.path):
                _os.remove(m.path)


class KeyedDocSink(DataSource):
    """`df.write.format("trireme_docsink").option("path", …)`."""

    @classmethod
    def name(cls) -> str:
        return "trireme_docsink"

    def writer(self, schema, overwrite):  # noqa: ARG002
        return _DocSinkWriter(self.options)


def read_manifest_parts(spark, path: str, schema: str):
    """Read back ONLY manifest-listed part files (atomic visibility)."""
    with open(_os.path.join(path, "_MANIFEST.json")) as fh:
        manifest = _json.load(fh)
    return spark.read.schema(schema).json(manifest["parts"])


# ---------------------------------------------------------------------------
# Streaming side: Python streaming source with offset management
# ---------------------------------------------------------------------------

from pyspark.sql.datasource import SimpleDataSourceStreamReader

BATCH_SIZE = 500
N_BATCHES = 4  # finite feed: availableNow drains it in 4 micro-batches


class _TickStreamReader(SimpleDataSourceStreamReader):
    """Offset-managed micro-batch feed — the queue-consumer shape: each
    trigger reads [start, start+BATCH_SIZE) of a monotonically growing
    log (content hash-deterministic per offset, standing in for the
    remote queue exactly like the batch shards), the engine checkpoints
    the returned end offset, and replay between committed offsets is
    idempotent by construction — the exactly-once contract a real
    consumer gets from (offset, content) determinism."""

    def initialOffset(self) -> dict:
        return {"offset": 0}

    def read(self, start: dict):
        # each call returns EVERYTHING currently available (a real
        # consumer returns the broker's latest): availableNow snapshots
        # the end offset at query start and drains exactly to it, so
        # anything held back would be silently dropped from the run
        lo = start["offset"]
        end = BATCH_SIZE * N_BATCHES
        if lo >= end:  # feed drained
            return [], {"offset": lo}
        return self._rows(lo, end), {"offset": end}

    def readBetweenOffsets(self, start: dict, end: dict):
        return self._rows(start["offset"], end["offset"])

    @staticmethod
    def _rows(lo: int, hi: int):
        # a LIST, not a generator: the simple-reader prefetch pickles
        # the batch to ship it to executors (generators can't pickle)
        return [
            (rid, rid % 10, ((rid % _M31) * _KNUTH) % _M32)
            for rid in range(lo, hi)
        ]


class TickStreamSource(DataSource):
    """`spark.readStream.format("trireme_ticks")` — finite 2000-row feed."""

    @classmethod
    def name(cls) -> str:
        return "trireme_ticks"

    def schema(self) -> str:
        return "record_id long, bucket int, value long"

    def simpleStreamReader(self, schema):  # noqa: ARG002
        return _TickStreamReader()
