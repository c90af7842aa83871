import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from minimel_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR_TEST", "/root/testdata/sf0.001")


def _test_driver_mem():
    """Driver heap for the test JVM: a quarter of physical memory, capped at
    the session's 24g default. A heap larger than the machine lets the JVM
    put off collection until the OOM killer takes it (the clean() strict
    world grows it past 15 GB under a 24g cap), failing every later test."""
    try:
        total_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    except (ValueError, OSError):
        return "24g"
    return f"{max(1024, min(24 * 1024, total_mb // 4))}m"


# an explicit SPARK_GRAFT_DRIVER_MEM still wins
os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", _test_driver_mem())


def _scan_local_rows_in_jvm():
    """Test inputs come from ``spark.createDataFrame(list_of_rows)``, which
    stores the rows as pickled batches (``BatchedSerializer(CPickleSerializer)``).
    pyspark then re-pickles them through an identity Python map only because
    that serializer object differs from ``AutoBatchedSerializer``, although
    the JVM unpickler reads both framings alike. So every scan of a test
    input ran Python tasks: about 0.4 s per scan on a 4-core host, repeated
    per round by the iterative operators. Skip that identity pass; rows,
    partitioning and plans stay the same."""
    try:
        from pyspark.core.rdd import RDD
        from pyspark.serializers import BatchedSerializer, CPickleSerializer
    except ImportError:
        return
    pickled = RDD._pickled

    def _pickled(self):
        d = self._jrdd_deserializer
        if isinstance(d, BatchedSerializer) and type(d.serializer) is CPickleSerializer:
            return self
        return pickled(self)

    RDD._pickled = _pickled


_scan_local_rows_in_jvm()


@pytest.fixture(scope="session")
def spark():
    s = get_spark("minimel_spark_tests", master="local[4]", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="session")
def documents(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def pinned_rdd_ids(spark):
    """Ids of currently-registered persistent RDDs. Leak tests must compare
    id SETS (assert no NEW ids remain), not global counts: Spark's
    ContextCleaner asynchronously drops unreferenced caches from EARLIER
    tests sharing the session, so a count taken before an operator and
    re-read after can legitimately shrink (the source of full-suite-only
    flakes). unpersist() removes from this registry synchronously (only
    block deletion is async), so new-id checks are deterministic."""
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray())


def ref_cos_bow(texts_a, texts_b):
    """Driver-side exact hashed-BoW cosines (vw_tok + crc32 % 2^18, null
    text read as "") of the aligned text pairs: the reference
    ``pair_features``'s ``cos_bow`` is checked against. One count row per
    distinct text and one Gram matrix, so each pair costs a gather; integer
    counts keep every dot exact."""
    import numpy as np

    from minimel_spark.functions.normalize import vw_tok
    from minimel_spark.functions.similarity import hashed_bow

    both = [t if isinstance(t, str) else "" for t in (*texts_a, *texts_b)]
    texts, inv = np.unique(np.array(both, dtype=object), return_inverse=True)
    bows = [hashed_bow(vw_tok(t)) for t in texts]
    col = {k: j for j, k in enumerate(sorted(set().union(*bows)))}
    m = np.zeros((len(texts), len(col)))
    for i, bow in enumerate(bows):
        for k, x in bow.items():
            m[i, col[k]] = x
    norm = np.sqrt((m * m).sum(axis=1))
    ia, ib = inv[: len(texts_a)], inv[len(texts_a):]
    den = norm[ia] * norm[ib]
    return np.where(den == 0.0, 0.0, (m @ m.T)[ia, ib] / np.where(den == 0.0, 1.0, den))
