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

Stages are written with zstd, a fixed choice (the default parquet codec of
the Iceberg target); stages committed earlier with another codec resume as
they are, since every parquet reader takes the codec from the footer.

Committing a stage adds no Spark job to the parquet write itself, and reading
a committed stage back, after its commit or on resume, starts none either:
Spark stores the row schema in every part file's footer, and reading it from
one footer gives the schema inference would find, without inference's job.
An empty stage still commits one part file carrying the schema. The lineage
comes from the committed files themselves.

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
from pyspark.sql.types import StructType

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


# footer key under which Spark stores the row schema of each part file
_SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"


def _part_files(path: str) -> list[str]:
    """The visible ``part-*.parquet`` files of a directory, sorted by name."""
    return sorted(
        os.path.join(path, n)
        for n in os.listdir(path)
        if n.startswith("part-") and n.endswith(".parquet")
    )


def _part_rows(path: str) -> dict[int, int]:
    """Rows per write partition of a committed parquet directory, from the
    part files' footers: ``part-NNNNN-...parquet`` -> NNNNN (a partition that
    Spark split over several files sums them)."""
    rows: dict[int, int] = {}
    for f in _part_files(path):
        pid = int(os.path.basename(f).split("-")[1])
        rows[pid] = rows.get(pid, 0) + pq.read_metadata(f).num_rows
    return rows


def _spark_schema(path: str) -> StructType:
    """The Spark schema of a committed stage, from its first part file's
    footer (no job)."""
    meta = pq.read_schema(_part_files(path)[0]).metadata
    return StructType.fromJson(json.loads(meta[_SPARK_SCHEMA_KEY]))


class Checkpointer:
    """Commits stages under ``base_dir`` (created if absent) as
    zstd-compressed parquet. A stage counts as committed once both its
    parquet ``_SUCCESS`` marker and its lineage rows exist; a stage missing
    either is rebuilt. A committed stage is read back with the schema in its
    part-file footer, so resuming it starts no Spark job."""

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
        if not self.has(name):
            t0 = time.time()
            build().write.mode("overwrite").option("compression", "zstd").parquet(path)
            self._write_metrics(name, path, time.time() - t0)
        return self.spark.read.schema(_spark_schema(path)).parquet(path)

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
        """The lineage rows of every committed stage, or None before the
        first commit. Spark hides ``_``-prefixed directories, so the visible
        lineage files are passed by name."""
        p = os.path.join(self.base, "_metrics")
        files = _part_files(p) if os.path.isdir(p) else []
        if not files:
            return None
        return self.spark.read.schema(_METRICS_DDL).parquet(*files)

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


def stage_report(base_dir: str) -> list[dict]:
    """One entry per committed stage of a workdir, in commit order: its
    lineage rows, part files, part-file bytes, column codecs and wall time.
    Read with pyarrow from ``_metrics`` and the part-file footers alone, so
    it needs no Spark session. A stage is listed once its lineage and its
    ``_SUCCESS`` marker exist."""
    lineage: dict[str, dict] = {}
    d = os.path.join(base_dir, "_metrics")
    for f in _part_files(d) if os.path.isdir(d) else []:
        for r in pq.read_table(f).to_pylist():
            lin = lineage.setdefault(r["stage"], dict(r, rows=0))
            lin["rows"] += r["rows"]
    out = []
    for stage, lin in sorted(lineage.items(), key=lambda kv: kv[1]["committed_at"]):
        path = os.path.join(base_dir, stage)
        if not os.path.exists(os.path.join(path, "_SUCCESS")):
            continue
        parts = _part_files(path)
        codecs = set()
        for f in parts:
            meta = pq.read_metadata(f)
            for g in range(meta.num_row_groups):
                rg = meta.row_group(g)
                codecs.update(rg.column(c).compression for c in range(rg.num_columns))
        out.append({
            "stage": stage,
            "rows": lin["rows"],
            "parts": len(parts),
            "bytes": sum(os.path.getsize(f) for f in parts),
            "codec": ",".join(sorted(codecs)) or "-",
            "wall_secs": lin["wall_secs"],
        })
    return out


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
