"""Per-partition checkpoint manifest with lineage + metrics, exact resume.

The north_rule requires the 10^12-turn job to checkpoint per-partition
progress with lineage and extraction metrics and resume exactly. Work units
are input *files* (the parquet analogue of Iceberg manifest entries; with an
Iceberg catalog the unit becomes a data file from the snapshot's manifest
list and ``input_snapshot_id`` is recorded — same protocol, config-only
swap, see ``sources/io.py``).

Protocol (write-ordering gives idempotent exactly-once resume):
  1. list input files → stable ``partition_id`` per file
  2. read the manifest's ``partition_id``/``status`` with pyarrow → pending
  3. per pending unit: extract → write data to its own output subdir
     (overwrite — a re-run of a crashed unit is idempotent) → only then the
     driver appends the manifest row: one-row parquet to a dot-prefixed temp
     file, ``os.replace``d to ``part-<partition_id>-<uuid4>.parquet``
A crash between data write and rename re-runs that unit; the overwrite
makes it harmless, and Spark and step 2 both skip a leftover temp file.
Steps 2 and 3's append move a few bytes, too few to pay for Spark jobs
(schema inference, a collect, a commit protocol): a unit runs only its
input schema read and its observed write. Manifest paths must be POSIX
paths the driver can open, as ``plan_units`` already requires. The manifest
stays one parquet table (``MANIFEST_SCHEMA``) and doubles as the run's
lineage + metrics table (blocks kept/dropped, span counts, failures).
"""

from __future__ import annotations

import hashlib
import os
import time
import uuid
from typing import Dict, List

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import Observation, SparkSession
from pyspark.sql import functions as F

from .pipeline import run_extraction

__all__ = ["plan_units", "pending_units", "run_with_checkpoint"]

MANIFEST_SCHEMA = pa.schema([
    ("run_id", pa.string()),
    ("partition_id", pa.string()),
    ("input_file", pa.string()),
    ("status", pa.string()),
    ("n_turns", pa.int64()),
    ("n_failed", pa.int64()),
    ("n_segments", pa.int64()),
    ("blocks_kept", pa.int64()),
    ("blocks_dropped", pa.int64()),
    ("wall_sec", pa.float64()),
    ("finished_at", pa.string()),
])
MANIFEST_COLUMNS = MANIFEST_SCHEMA.names


def _partition_id(input_file: str) -> str:
    return hashlib.sha1(os.path.basename(input_file).encode()).hexdigest()[:16]


def _visible(names: List[str]) -> List[str]:
    # the names Spark's file listing keeps: no _SUCCESS, .crc or temp files
    return sorted(n for n in names if not n.startswith((".", "_")))


def plan_units(input_path: str) -> List[Dict[str, str]]:
    """Top-level ``*.parquet`` files → work units (deterministic order);
    a hive-partitioned ``key=value/`` dir raises rather than plan none."""
    if os.path.isfile(input_path):
        files = [input_path]
    else:
        names = _visible(os.listdir(input_path))
        files = [os.path.join(input_path, f) for f in names if f.endswith(".parquet")]
        if not files and any(os.path.isdir(os.path.join(input_path, f)) for f in names):
            raise ValueError(f"{input_path}: no top-level parquet file, only subdirs; "
                             "a hive-partitioned (key=value/) layout is not supported")
    return [{"partition_id": _partition_id(f), "input_file": f} for f in files]


def pending_units(spark: SparkSession, input_path: str, manifest_dir: str) -> List[Dict]:
    """Units without a ``done`` manifest row; runs no Spark job."""
    units = plan_units(input_path)
    try:
        names = _visible(os.listdir(manifest_dir))
    except FileNotFoundError:
        return units
    done = set()
    for name in names:
        rows = pq.read_table(os.path.join(manifest_dir, name), columns=["partition_id", "status"])
        done.update(r["partition_id"] for r in rows.to_pylist() if r["status"] == "done")
    return [u for u in units if u["partition_id"] not in done]


def run_with_checkpoint(
    spark: SparkSession,
    input_path: str,
    output_dir: str,
    manifest_dir: str,
    run_id: str = "run-0",
) -> Dict[str, int]:
    """Process all pending units; returns ``{processed, skipped}``."""
    all_units = plan_units(input_path)
    todo = pending_units(spark, input_path, manifest_dir)
    for unit in todo:
        t0 = time.perf_counter()
        df = spark.read.parquet(unit["input_file"])
        extracted = run_extraction(df)
        out_path = os.path.join(output_dir, f"part-{unit['partition_id']}")
        # manifest metrics come out of the write pass itself via observe()
        # — a second full read of the just-written output per unit would be
        # a second scan of the whole extraction at 10^12-turn scale
        obs = Observation(f"unit-{unit['partition_id']}")
        extracted.observe(
            obs,
            F.count(F.lit(1)).alias("n_turns"),
            F.sum(F.col("result.metrics.failed").cast("int")).alias("n_failed"),
            F.sum("result.metrics.n_segments").alias("n_segments"),
            F.sum("result.metrics.blocks_kept").alias("blocks_kept"),
            F.sum("result.metrics.blocks_dropped").alias("blocks_dropped"),
        ).write.mode("overwrite").parquet(out_path)
        stats = {k: int(v or 0) for k, v in obs.get.items()}
        row = {"run_id": run_id, **unit, "status": "done", **stats,
               "wall_sec": round(time.perf_counter() - t0, 3),
               "finished_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime())}
        name = f"part-{unit['partition_id']}-{uuid.uuid4()}.parquet"
        tmp = os.path.join(manifest_dir, f".{name}.tmp")
        os.makedirs(manifest_dir, exist_ok=True)
        pq.write_table(pa.Table.from_pylist([row], schema=MANIFEST_SCHEMA), tmp)
        os.replace(tmp, os.path.join(manifest_dir, name))  # the commit point
    return {"processed": len(todo), "skipped": len(all_units) - len(todo)}
