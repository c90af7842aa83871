"""Checkpoint/resume + per-partition lineage/metrics (SURVEY §2 X3/X4; north
rule: "resumable with per-partition lineage/metrics").

Reference: minimel/experiment.py:172-240 + prepare.py:45-75 — every stage checks
its output file before computing; resume = rerun the harness. Here each stage
lands a parquet table under ``<base>/<stage>/``; Spark's parquet committer gives
the atomic ``_SUCCESS`` marker, so a stage is either fully committed or rerun —
a crash mid-write never yields a half-read checkpoint. (On a real deployment the
same API targets Iceberg tables — ``writeTo(...).createOrReplace()`` — with
snapshot ids in place of _SUCCESS files; parquet keeps the sandbox dependency-
free.)

Committing a stage adds no Spark job to the parquet write itself. The table
is read back with the schema just written (Spark's file source makes every field nullable on
write and on read, so this is exactly the schema inference would find, without
its job), and the lineage comes from the committed files themselves.

Per-stage metrics land in ``<base>/_metrics/`` as one parquet row per
(stage, partition_id): rows per partition (the lineage of which partition
contributed what) plus stage wall time. They are read on the driver from the
committed part files' parquet footers (``part-NNNNN`` -> ``num_rows``) and
written with pyarrow, so they describe the exact committed write layout and
cost no job. The lineage file is renamed into place after the parquet commit,
and a stage counts as committed only once it exists, so a crash between the
two reruns the stage instead of resuming it without lineage.
"""

from __future__ import annotations

import json
import os
import re
import time
import uuid
from collections.abc import Callable
from datetime import datetime, timezone

import pyarrow as pa
import pyarrow.parquet as pq
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

_METRICS_SCHEMA = pa.schema(
    [
        ("partition_id", pa.int32()),
        ("rows", pa.int64()),
        ("stage", pa.string()),
        ("wall_secs", pa.float64()),
        ("committed_at", pa.timestamp("us", tz="UTC")),
    ]
)
# the same schema as Spark reads it, so reading the metrics runs no
# schema-inference job either
_METRICS_DDL = (
    "partition_id INT, rows BIGINT, stage STRING, wall_secs DOUBLE, "
    "committed_at TIMESTAMP"
)


def _part_rows(path: str) -> dict[int, int]:
    """Rows per write partition of a committed parquet directory, from the
    part files' footers: ``part-NNNNN-...parquet`` -> NNNNN (a partition that
    Spark split over several files sums them)."""
    rows: dict[int, int] = {}
    for name in os.listdir(path):
        if name.startswith("part-") and name.endswith(".parquet"):
            pid = int(name.split("-")[1])
            n = pq.read_metadata(os.path.join(path, name)).num_rows
            rows[pid] = rows.get(pid, 0) + n
    return rows


class Checkpointer:
    """Commits stages under ``base_dir`` (created if absent). A stage counts
    as committed once both its parquet ``_SUCCESS`` marker and its lineage
    rows exist; a stage missing either is rebuilt."""

    def __init__(self, spark: SparkSession, base_dir: str):
        self.spark = spark
        self.base = base_dir
        os.makedirs(base_dir, exist_ok=True)

    def _path(self, stage: str) -> str:
        return os.path.join(self.base, stage)

    def has(self, stage: str) -> bool:
        """True once ``stage`` is committed: its parquet ``_SUCCESS`` marker
        and its lineage file ``_metrics/part-<stage>-<uuid hex>.parquet``
        both exist. A hidden temporary name, or the lineage of another stage
        whose name starts with this one, does not count."""
        if not os.path.exists(os.path.join(self._path(stage), "_SUCCESS")):
            return False
        d = os.path.join(self.base, "_metrics")
        pat = re.compile(rf"part-{re.escape(stage)}-[0-9a-f]{{32}}\.parquet")
        return os.path.isdir(d) and any(pat.fullmatch(n) for n in os.listdir(d))

    def stage(self, name: str, build: Callable[[], DataFrame]) -> DataFrame:
        """Return the committed table for ``name``; build+commit it if absent.

        X3 skip-if-exists semantics: an already-committed stage is read back,
        never recomputed — the resume contract.
        """
        path = self._path(name)
        if self.has(name):
            return self.spark.read.parquet(path)
        t0 = time.time()
        df = build()
        df.write.mode("overwrite").parquet(path)
        wall = time.time() - t0
        self._write_metrics(name, path, wall)
        return self.spark.read.schema(df.schema).parquet(path)

    def committed_rows(self, stage: str) -> int:
        """Row count of the committed ``stage``, summed from its part-file
        footers (no job)."""
        return sum(_part_rows(self._path(stage)).values())

    def _write_metrics(self, stage: str, path: str, wall_secs: float) -> None:
        """X4: one row per (stage, partition) with its committed row count,
        plus the stage wall time, from the footers of the part files under
        ``path``. Written to a hidden temporary name and renamed, so a reader
        never sees a partial file."""
        parts = sorted(_part_rows(path).items())
        n = len(parts)
        table = pa.table(
            [
                [p for p, _ in parts],
                [r for _, r in parts],
                [stage] * n,
                [float(wall_secs)] * n,
                [datetime.now(timezone.utc)] * n,
            ],
            schema=_METRICS_SCHEMA,
        )
        out_dir = os.path.join(self.base, "_metrics")
        os.makedirs(out_dir, exist_ok=True)
        name = f"part-{stage}-{uuid.uuid4().hex}.parquet"
        tmp = os.path.join(out_dir, f".{name}.tmp")
        pq.write_table(table, tmp)
        os.replace(tmp, os.path.join(out_dir, name))

    def metrics(self) -> DataFrame | None:
        p = os.path.join(self.base, "_metrics")
        if not os.path.exists(p):
            return None
        return self.spark.read.schema(_METRICS_DDL).parquet(p)

    def write_manifest(self, params: dict) -> None:
        """X2 analogue: machine-readable run parameters instead of the
        reference's params-in-dirname encoding (experiment.py:47-69).

        The run that starts the workdir writes them. A later run resumes its
        committed stages, so it must pass the same parameters: on any
        difference this raises ``ValueError`` naming the differing fields and
        leaves the manifest as it is. Both sides are compared after the JSON
        round trip, so a tuple equals the list it is stored as."""
        path = os.path.join(self.base, "manifest.json")
        text = json.dumps(params, indent=2, sort_keys=True, default=str)
        if not os.path.exists(path):
            with open(path, "w") as f:
                f.write(text)
            return
        with open(path) as f:
            have = json.load(f)
        want = json.loads(text)
        # ``...`` marks an absent field: no JSON value equals it
        diff = sorted(
            k for k in have.keys() | want.keys() if have.get(k, ...) != want.get(k, ...)
        )
        if diff:
            raise ValueError(
                f"{self.base} was committed with other parameters; differing "
                f"fields: {', '.join(diff)}. Use a fresh workdir."
            )


def logical_lineage(
    df: DataFrame,
    key_cols: list[str],
    n_buckets: int = 64,
) -> DataFrame:
    """Parallelism-INVARIANT lineage digest: rows are assigned to
    ``n_buckets`` deterministic LOGICAL buckets by an md5-derived key
    hash, and each bucket reports its row count and an order-insensitive
    XOR checksum of per-row key digests. Where ``Checkpointer``'s
    metrics describe the PHYSICAL committed layout (spark_partition_id —
    true for one run, meaningless across cluster sizes), this digest is
    a pure function of the DATA: two runs of the same stage — different
    executor counts, different AQE decisions, resumed from different
    checkpoints — must produce byte-identical digests, which is exactly
    the cheap equality witness the north rule's resume semantics need
    ("did the rerun produce the same stage output?") without comparing
    full tables.

    XOR is commutative/associative, so the checksum needs no ordering
    and combines map-side; the whole digest is one groupBy over
    ``n_buckets`` groups. The md5-60 digest (util.md5_long60's trick)
    keeps every value non-negative in a signed long and bit-for-bit
    reproducible in ANSI SQL.

    Output: ``(bucket, n_rows, xor_digest)`` — n_buckets rows (empty
    buckets absent; a missing bucket row IS part of the digest).
    """
    if n_buckets < 1:
        raise ValueError(f"n_buckets must be >= 1, got {n_buckets}")
    if not key_cols:
        raise ValueError("key_cols must be non-empty")
    key = F.concat_ws("\x1f", *[F.col(c).cast("string") for c in key_cols])
    digest = F.conv(F.substring(F.md5(key), 1, 15), 16, 10).cast("long")
    return (
        df.select(
            F.pmod(digest, F.lit(n_buckets)).cast("long").alias("bucket"),
            digest.alias("_d"),
        )
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.bit_xor("_d").cast("long").alias("xor_digest"),
        )
    )
