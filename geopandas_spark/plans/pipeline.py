"""Checkpointed pipeline with per-partition lineage (north rule:
"resumable from checkpoint with per-partition lineage + metrics").

Each stage writes its output as parquet under ``workdir/<stage>/data``
plus a ``meta.json`` carrying the stage *fingerprint* — a content hash of
(stage name, params, input fingerprints). Re-running a pipeline skips any
stage whose fingerprint matches what's on disk (idempotent resume: a
killed run re-executes only unfinished stages). Lineage rows — one per
output file/partition with row counts and wall time — append to
``workdir/_lineage`` so every byte of output traces to (stage, fingerprint,
partition).

Committing a stage starts no Spark job beyond its own write. Once the
write has committed, each output file's row count is in its parquet
footer, so the driver reads the footers and appends the stage's lineage
rows as one parquet file itself. The workdir must therefore be visible
to the driver as a local path, as ``meta.json`` already requires.
``_lineage`` files written by Spark in older workdirs have the same
columns and read back in the same table.

``meta.json`` also keeps the schema the committed output reads back
with, so a resume, and a later stage reading this one as an input, read
the data without a schema-inference job: a resumed stage starts no
Spark job.

This is the parquet-backed analogue of the Iceberg snapshot + metadata
design in SURVEY.md §3 EP3 (no Iceberg runtime in this environment; the
layout keeps the same idempotence contract: content-addressed stage
outputs keyed by input fingerprints, and per-file record counts taken
from the committed files' metadata rather than a rescan).
"""

from __future__ import annotations

import hashlib
import json
import os
import time
import uuid
from datetime import datetime, timezone

import pyarrow as pa
import pyarrow.fs as pafs
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

# the columns and types the Spark-written lineage files of older workdirs
# carry (``ts`` there is Spark's INT96 timestamp; both read back as
# TimestampType), so one ``_lineage`` directory reads as one table
_LINEAGE_SCHEMA = pa.schema([
    ("file", pa.string()), ("count", pa.int64()), ("stage", pa.string()),
    ("pipeline", pa.string()), ("fingerprint", pa.string()),
    ("wall_sec", pa.float64()), ("ts", pa.timestamp("us", tz="UTC")),
])


def _file_counts(uris: list[str]) -> list[tuple[str, int]]:
    """(file, rows) per non-empty parquet file, from its footer. ``uris``
    come from ``DataFrame.inputFiles()``, which spells each file exactly
    as ``input_file_name()`` does; zero-row files hold no rows a
    ``groupBy(input_file_name())`` would count, so they are left out."""
    out = []
    for uri in sorted(uris):
        fs, path = pafs.FileSystem.from_uri(uri)
        with fs.open_input_file(path) as f:
            n = pq.read_metadata(f).num_rows
        if n:
            out.append((uri, n))
    return out


def _append_lineage(lineage_dir: str, rows: list[tuple[str, int]],
                    const: dict) -> None:
    """Append one parquet file of lineage rows. It is written under a
    ``.``-prefixed name, which Spark's reader skips, and renamed into
    place, so a crash never leaves a partial file for ``lineage()``."""
    n = len(rows)
    ts = datetime.now(timezone.utc)
    cols = {"file": [f for f, _n in rows], "count": [c for _f, c in rows],
            **{k: [v] * n for k, v in const.items()}, "ts": [ts] * n}
    os.makedirs(lineage_dir, exist_ok=True)
    name = f"part-{uuid.uuid4().hex}.parquet"
    tmp = os.path.join(lineage_dir, "." + name)
    pq.write_table(pa.table(cols, schema=_LINEAGE_SCHEMA), tmp)
    os.replace(tmp, os.path.join(lineage_dir, name))


def _fingerprint(*parts: str) -> str:
    h = hashlib.sha256()
    for p in parts:
        h.update(p.encode())
        h.update(b"\x00")
    return h.hexdigest()[:24]


class Pipeline:
    def __init__(self, spark: SparkSession, workdir: str, name: str = "pipeline"):
        self.spark = spark
        self.workdir = workdir
        self.name = name
        self._fps: dict[str, str] = {}
        os.makedirs(workdir, exist_ok=True)

    # ------------------------------------------------------------------
    def _stage_dir(self, stage: str) -> str:
        return os.path.join(self.workdir, stage)

    def _meta_path(self, stage: str) -> str:
        return os.path.join(self._stage_dir(stage), "meta.json")

    def _meta(self, stage: str) -> dict:
        try:
            with open(self._meta_path(stage)) as f:
                return json.load(f)
        except FileNotFoundError:
            return {}

    def _read(self, data_dir: str, meta: dict) -> DataFrame:
        """A stage's data, read with the schema its run stored in
        ``meta.json``: a parquet read that must infer the schema starts a
        Spark job to read the footers. A ``meta.json`` without one (older
        workdirs) falls back to inference."""
        reader = self.spark.read
        if "schema" in meta:
            reader = reader.schema(StructType.fromJson(meta["schema"]))
        return reader.parquet(data_dir)

    def stage(
        self,
        stage: str,
        fn,
        inputs: list[str] | None = None,
        params: dict | None = None,
        partition_by: list[str] | None = None,
    ) -> DataFrame:
        """Run (or resume) one stage.

        fn(spark, {input_stage: DataFrame}) -> DataFrame. ``inputs`` name
        previously-run stages; their fingerprints feed this stage's.
        """
        inputs = inputs or []
        params = params or {}
        fp = _fingerprint(
            self.name, stage, json.dumps(params, sort_keys=True, default=str),
            # the output layout is part of the stage identity: a resume
            # must not return an unpartitioned parquet when the caller
            # now asks for partition_by (round-4 review fix)
            json.dumps(partition_by or []),
            *[self._fps[i] for i in inputs],
        )
        sdir = self._stage_dir(stage)
        data_dir = os.path.join(sdir, "data")
        meta_path = self._meta_path(stage)
        meta = self._meta(stage)
        if meta.get("fingerprint") == fp and os.path.exists(
            os.path.join(data_dir, "_SUCCESS")
        ):
            self._fps[stage] = fp
            return self._read(data_dir, meta)
        # (re)run. Invalidate the old meta FIRST: the data write below
        # overwrites data_dir, and a crash between that write and the
        # new meta write must not leave the previous fingerprint paired
        # with the new data (a later resume under the old params would
        # silently return the wrong stage output — round-4 review fix).
        if os.path.exists(meta_path):
            os.remove(meta_path)
        t0 = time.time()
        in_dfs = {i: self._read(os.path.join(self._stage_dir(i), "data"),
                                self._meta(i)) for i in inputs}
        df = fn(self.spark, in_dfs)
        writer = df.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(data_dir)
        wall = time.time() - t0
        out = self.spark.read.parquet(data_dir)
        # lineage: per-output-file row counts (the parquet file is the
        # partition unit a resume would re-read), read from the committed
        # files' footers and appended by the driver, so no Spark job reads
        # the output rows
        lin_rows = _file_counts(out.inputFiles())
        _append_lineage(os.path.join(self.workdir, "_lineage"), lin_rows, {
            "stage": stage, "pipeline": self.name, "fingerprint": fp,
            "wall_sec": wall})
        # row total from the lineage counts: out.count() here would
        # re-scan the full stage output
        with open(meta_path, "w") as f:
            json.dump(
                {"fingerprint": fp, "stage": stage, "inputs": inputs,
                 "params": params, "wall_sec": wall,
                 "rows": sum(n for _f, n in lin_rows),
                 "schema": json.loads(out.schema.json())},
                f, indent=2,
            )
        self._fps[stage] = fp
        return out

    def lineage(self) -> DataFrame:
        return self.spark.read.parquet(os.path.join(self.workdir, "_lineage"))
