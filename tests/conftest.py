import uuid

import pytest

from omop2obo_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="omop2obo-tests", master="local[8]", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture
def viewfs_default_fs(spark, tmp_path):
    """Make ``fs.defaultFS`` a viewfs whose one mount maps ``<tmp>/graph``
    onto ``<tmp>/mnt`` — a stand-in for a cluster's HDFS default FS: a
    scheme-less path under ``<tmp>/graph`` resolves to the mount target,
    while driver-local I/O on it would hit ``<tmp>/graph`` itself. Yields
    ``(local, target)``. The mount table has a fresh name per test, since
    Hadoop caches a FileSystem per scheme and authority."""
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    table = f"kg{uuid.uuid4().hex[:8]}"
    mount = f"fs.viewfs.mounttable.{table}.link.{tmp_path}/graph"
    old_default = hconf.get("fs.defaultFS")
    hconf.set(mount, f"file://{tmp_path}/mnt")
    hconf.set("fs.defaultFS", f"viewfs://{table}/")
    try:
        yield tmp_path / "graph", tmp_path / "mnt"
    finally:
        hconf.set("fs.defaultFS", old_default)
        hconf.unset(mount)


def py_levenshtein(a: str, b: str) -> int:
    """Shared pure-Python Levenshtein reference for the edit-join
    brute-force oracles (test_corpus_ops, test_properties)."""
    if len(a) < len(b):
        a, b = b, a
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]
