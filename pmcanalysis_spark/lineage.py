"""Stage materialization with per-partition lineage and snapshot resume.

north_rule: "every stage checkpoints ... with per-partition lineage rows
(partition id, input url range, triple counts, wall time) so any run resumes
from the last committed snapshot."

In production these are Iceberg tables (atomic snapshot commits, partition
stats in the manifest). This sandbox has no Iceberg runtime jar, so the same
contract is implemented over Parquet directories plus a JSON manifest per
stage — the write is made atomic the same way Iceberg's is (write to a temp
location, fsync, rename the manifest last); swap ``format("parquet")`` for
``format("iceberg")`` and the manifest for the catalog and nothing else
changes shape.

Lineage rows come from the Parquet footers of the freshly written files, the
sandbox's stand-in for the Iceberg manifest, which keeps the same numbers per
data file (``record_count``, ``lower_bounds``, ``upper_bounds``). The driver
reads each ``part-NNNNN-*.parquet`` footer: the write task's partition id from
the file name, the row count, and the key column's min/max from the row-group
statistics. No second scan of the data and no Spark job beyond the write
itself; the driver writes the few rows next to the data with pyarrow. Parquet
leaves min/max out of a footer when a value exceeds its 4 KB statistics
limit, so a partition holding such a key records NULL bounds.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import time
import uuid
from dataclasses import dataclass

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import (
    ByteType,
    IntegerType,
    LongType,
    ShortType,
    StringType,
    StructType,
)

from .schemas import LINEAGE

MANIFEST = "_lineage_manifest.json"
# key types whose Parquet min/max, printed with str(), equal Spark's
# CAST(min/max(key) AS STRING): UTF-8 strings order bytewise in both
_KEY_TYPES = (StringType, ByteType, ShortType, IntegerType, LongType)
_PART_FILE = re.compile(r"part-(\d+)-.*\.parquet")


@dataclass
class StageResult:
    stage: str
    path: str
    run_id: str
    input_fingerprint: str
    row_count: int
    n_partitions: int
    wall_ms: int
    resumed: bool


def _fingerprint(df: DataFrame, extra: str = "") -> str:
    """Cheap logical fingerprint of a stage input: hash of the CANONICALIZED
    logical plan + caller-supplied discriminator (e.g. ontology version).
    Matches Iceberg's snapshot-id role: same plan + same inputs => same
    fingerprint => stage is resumable.

    Canonicalization uses Catalyst's own ``canonicalized`` form of the
    analyzed plan — the structure Spark itself compares for plan equality:
    expression ids renumber deterministically and Python-UDF object
    addresses are dropped, while DATA LITERALS survive untouched (an r2
    blanket-regex version rewrote ``'tag#1'``/hex-string constants too, so
    two genuinely different filters could fingerprint-equal and silently
    resume a stale snapshot). A LocalRelation prints no rows, so the rows
    of each LocalRelation leaf (a ``createDataFrame(pyarrow.Table)`` map
    such as ``canonicalize_terms``'s) are folded into the hash too. Rows
    behind a ``createDataFrame(list)`` input live in a Python RDD that no
    plan shows: a stage reading one needs an explicit fingerprint. Prefer
    an explicit fingerprint for production jobs (argv hash) — UDF *bodies*
    are not captured by any plan string (only the function name is).
    """
    import hashlib

    plan = df._jdf.queryExecution().analyzed()
    h = hashlib.md5((plan.canonicalized().toString() + "|" + extra).encode())
    leaves = plan.collectLeaves().iterator()
    while leaves.hasNext():
        leaf = leaves.next()
        if leaf.getClass().getSimpleName() == "LocalRelation":
            h.update(leaf.data().toString().encode())
    return h.hexdigest()


def try_resume(
    spark: SparkSession, base_dir: str, stage: str, fingerprint: str
) -> tuple[DataFrame, StageResult] | None:
    """Resume path that never builds (or executes) the stage plan: if a
    committed manifest matches ``fingerprint``, return the snapshot, else
    None. Callers with expensive plan construction check this FIRST.

    The snapshot is read with the schema stored in the manifest, so resuming
    starts no Spark job (a plain ``read.parquet`` runs a schema-inference
    job). A manifest without a stored schema, as written before the field
    existed, does not resume: such a stage is recomputed once."""
    path = os.path.join(base_dir, stage)
    manifest_path = os.path.join(path, MANIFEST)
    if not os.path.exists(manifest_path):
        return None
    with open(manifest_path) as f:
        m = json.load(f)
    if not (
        m.get("committed") and m.get("input_fingerprint") == fingerprint and "schema" in m
    ):
        return None
    schema = StructType.fromJson(m["schema"])
    out = spark.read.schema(schema).parquet(os.path.join(path, "data"))
    return out, StageResult(
        stage, path, m["run_id"], fingerprint, m["row_count"], m["n_partitions"],
        0, resumed=True,
    )


def _part_footers(data_path: str):
    """(write partition id, Parquet footer) of each ``part-*.parquet`` file
    under ``data_path``, read on the driver."""
    for name in os.listdir(data_path):
        m = _PART_FILE.fullmatch(name)
        if m:
            yield int(m.group(1)), pq.read_metadata(os.path.join(data_path, name))


def footer_row_count(data_path: str) -> int:
    """Rows written under ``data_path``, summed from the part files' Parquet
    footers: no Spark job and no schema inference."""
    return sum(md.num_rows for _pid, md in _part_footers(data_path))


def _footer_lineage(data_path: str, key_col: str) -> list[tuple[int, int, str | None, str | None]]:
    """(partition_id, row_count, min_key, max_key) per write partition, read
    from the footers of the ``part-*.parquet`` files under ``data_path``.
    Empty files are skipped and the files of one partition (several under
    ``maxRecordsPerFile``) merge into one row. An all-NULL row group adds no
    bounds; one with values but no footer min/max (a key over the 4 KB
    statistics limit) makes its partition's bounds NULL."""
    parts: dict[int, list] = {}  # partition id -> [rows, min, max, bounds known]
    for pid, md in _part_footers(data_path):
        if not md.num_rows:
            continue
        col = next(i for i in range(md.num_columns) if md.schema.column(i).path == key_col)
        acc = parts.setdefault(pid, [0, None, None, True])
        acc[0] += md.num_rows
        for g in range(md.num_row_groups):
            rg = md.row_group(g)
            st = rg.column(col).statistics
            if st is not None and st.has_min_max:
                acc[1] = st.min if acc[1] is None else min(acc[1], st.min)
                acc[2] = st.max if acc[2] is None else max(acc[2], st.max)
            elif st is None or not st.has_null_count or st.null_count < rg.num_rows:
                acc[3] = False
    return [
        (pid, n, *((str(lo), str(hi)) if known and lo is not None else (None, None)))
        for pid, (n, lo, hi, known) in sorted(parts.items())
    ]


def _write_lineage(path: str, rows: list[tuple]) -> None:
    """Write the lineage rows from the driver as one Parquet file with the
    ``LINEAGE`` schema (a zero-row file for an empty stage)."""
    schema = to_arrow_schema(LINEAGE)
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    table = pa.Table.from_pylist([dict(zip(schema.names, r)) for r in rows], schema=schema)
    pq.write_table(table, os.path.join(path, "part-00000.parquet"))


def materialize_stage(
    df: DataFrame,
    stage: str,
    base_dir: str,
    key_col: str,
    input_fingerprint_extra: str = "",
    fingerprint: str | None = None,
) -> tuple[DataFrame, StageResult]:
    """Write ``df`` as the checkpoint of ``stage`` and return (the snapshot
    read back lazily, result). If a committed manifest with the same input
    fingerprint exists, SKIP the write and resume from the snapshot
    (north_rule resume path).

    It starts no Spark job beyond the data write's. Lineage is written next
    to the data as ``<stage>/lineage`` parquet with schema (stage, partition_id,
    row_count, min_key, max_key, wall_ms, run_id), one row per write
    partition that holds rows, taken from the Parquet footers:
    ``partition_id`` is the partition that wrote the data, min/max_key equal
    ``CAST(min/max(key_col) AS STRING)``, and both are NULL for a partition
    with a key over Parquet's 4 KB statistics limit. ``wall_ms`` is the
    stage's, on every row. ``key_col`` must be a string or integer column
    (``TypeError`` otherwise, before anything is written).
    """
    key_type = df.schema[key_col].dataType
    if not isinstance(key_type, _KEY_TYPES):
        raise TypeError(
            f"materialize_stage: key_col {key_col!r} is {key_type.simpleString()}; "
            "lineage bounds need a string or integer key"
        )
    spark = df.sparkSession
    path = os.path.join(base_dir, stage)
    manifest_path = os.path.join(path, MANIFEST)
    fp = fingerprint or _fingerprint(df, input_fingerprint_extra)

    resumed = try_resume(spark, base_dir, stage, fp)
    if resumed is not None:
        return resumed
    if os.path.exists(manifest_path):
        # stale/uncommitted snapshot: discard and rebuild — but never delete
        # a previously COMMITTED snapshot silently (a fingerprint mismatch
        # there usually means changed inputs, which is legitimate, but the
        # operator should see that an old snapshot was replaced). A committed
        # one with a matching fingerprint only lacks the stored schema.
        with open(manifest_path) as f:
            m = json.load(f)
        if m.get("committed") and m.get("input_fingerprint") != fp:
            import warnings

            warnings.warn(
                f"stage '{stage}': committed snapshot at {path} has fingerprint "
                f"{m.get('input_fingerprint')!r} != {fp!r}; replacing it",
                stacklevel=2,
            )
        shutil.rmtree(path, ignore_errors=True)

    run_id = uuid.uuid4().hex[:12]
    t0 = time.perf_counter()
    data_path = os.path.join(path, "data")
    df.write.mode("overwrite").parquet(data_path)
    # the known schema spares the re-read a schema-inference job
    out = spark.read.schema(df.schema).parquet(data_path)
    parts = _footer_lineage(data_path, key_col)
    row_count = sum(r[1] for r in parts)
    n_parts = len(parts)
    lineage_wall_ms = int((time.perf_counter() - t0) * 1000)
    _write_lineage(
        os.path.join(path, "lineage"),
        [(stage, *r, lineage_wall_ms, run_id) for r in parts],
    )
    wall_ms = int((time.perf_counter() - t0) * 1000)
    # manifest rename-last = the commit point (Iceberg snapshot analog)
    tmp = manifest_path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(
            {
                "stage": stage,
                "run_id": run_id,
                "input_fingerprint": fp,
                "row_count": row_count,
                "n_partitions": n_parts,
                "wall_ms": wall_ms,
                "schema": df.schema.jsonValue(),
                "committed": True,
            },
            f,
        )
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, manifest_path)
    return out, StageResult(
        stage, path, run_id, fp, row_count, n_parts, wall_ms, resumed=False
    )


def read_lineage(spark: SparkSession, base_dir: str, stage: str) -> DataFrame:
    return spark.read.parquet(os.path.join(base_dir, stage, "lineage"))
