"""Exact-match query-result cache — reference S8/query cache
(`hadoop_wiki_search/util/CorpusFetcher.java:24,31-71`: a MapFile of
``query → serialized SearchResult``).

On disk the cache is a directory of parquet files with the schema
``(query, result, ts)``. Each ``put`` writes one uniquely named
one-row file with pyarrow: it fills a hidden temp file (a name
starting with ".") and then ``os.replace``s it into place, so a
reader never lists a half-written file and concurrent writers never
share a path. The directory stays readable as one table by
``spark.read.schema(_SCHEMA).parquet(path)``.

Lookups are served from a driver-side dict ``query → (ts, result)``.
Before each lookup the dict is refreshed from the directory listing:
only file names not seen before are read, so an entry written by
another instance or process is found too. Files written by Spark's
append path (multi-row part files) are read the same way. The newest
``ts`` wins, as with the reference's overwrite-on-add. Neither
``get`` nor ``put`` runs a Spark job. Optional — an optimization,
not semantics.
"""

from __future__ import annotations

import os
import threading
import time
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import SparkSession

from hadoop_search_spark.streaming.store import replace_into

_SCHEMA = "query STRING, result STRING, ts DOUBLE"
_ARROW_SCHEMA = pa.schema([("query", pa.string()), ("result", pa.string()), ("ts", pa.float64())])


class QueryCache:
    def __init__(self, spark: SparkSession, path: str) -> None:
        self.spark = spark
        self.path = path
        self._lock = threading.Lock()
        self._seen: set[str] = set()  # file names already read
        self._entries: dict[str, tuple[float, str]] = {}

    def _record(self, query: str, result: str, ts: float) -> None:
        old = self._entries.get(query)
        if old is None or ts >= old[0]:
            self._entries[query] = (ts, result)

    def _refresh(self) -> None:
        """Read the data files not seen before (Spark's listing rules:
        names starting with "." or "_" are not data)."""
        try:
            with os.scandir(self.path) as it:
                names = [e.name for e in it if e.is_file() and e.name[0] not in "._"]
        except FileNotFoundError:
            return
        with self._lock:
            for name in names:
                if name in self._seen:
                    continue
                rows = pq.read_table(os.path.join(self.path, name)).to_pydict()
                for q, r, ts in zip(rows["query"], rows["result"], rows["ts"]):
                    self._record(q, r, ts)
                self._seen.add(name)

    def get(self, query: str) -> str | None:
        """Point probe (`CorpusFetcher.isInCache`, `:31-55`)."""
        self._refresh()
        with self._lock:
            hit = self._entries.get(query)
        return None if hit is None else hit[1]

    def put(self, query: str, result: str) -> None:
        """Add one entry (`CorpusFetcher.addToCache`, `:57-71`)."""
        ts = time.time()
        name = f"part-{uuid.uuid4().hex}.parquet"
        row = pa.table({"query": [query], "result": [result], "ts": [ts]}, schema=_ARROW_SCHEMA)
        os.makedirs(self.path, exist_ok=True)
        replace_into(os.path.join(self.path, name), lambda tmp: pq.write_table(row, tmp))
        with self._lock:
            self._seen.add(name)
            self._record(query, result, ts)
