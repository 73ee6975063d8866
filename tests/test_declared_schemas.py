"""Default-suite locks on the declared input schemas
(``sources/io.TABLES``, read by ``read_table``):

* every declaration equals the schema Spark infers for its table in
  every data dir present, so reading with it changes no output;
* opening a table runs no Spark job (inference ran a footer job);
* a file that lacks a declared column, stores one as another type, or
  stores nanosecond timestamps raises instead of reading NULLs, a
  widened column or a converted one;
* a column beyond the declaration is read as the file stores it.
"""

from __future__ import annotations

import glob
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from prod2vec_spark.sources.io import TABLES, _nullable, read_table
from tests.conftest import SF_SMOKE

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# the perfbench tables and every testdata scale factor beside SF_SMOKE
DATA_DIRS = [os.path.join(ROOT, "perfbench", "data", "sf0.01")] + sorted(
    glob.glob(os.path.join(os.path.dirname(SF_SMOKE), "sf0.*"))
)


@pytest.mark.parametrize(
    "sf_dir", DATA_DIRS, ids=lambda d: "-".join(d.split(os.sep)[-2:])
)
def test_declared_schemas_equal_inferred(spark, sf_dir):
    if not os.path.isdir(sf_dir):
        pytest.skip(f"{sf_dir} is absent")
    for name, declared in TABLES.items():
        path = f"{sf_dir}/{name}.parquet"
        inferred = spark.read.parquet(path).schema
        assert _nullable(declared) == inferred, name
        assert read_table(spark, sf_dir, name, spread=False).schema == inferred, name


def test_read_table_runs_no_job(spark):
    sc = spark.sparkContext
    sc.setJobGroup("read-table-no-job", "read-table-no-job")
    try:
        for name in TABLES:
            read_table(spark, SF_SMOKE, name)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup("read-table-no-job")) == []


def _docs(n: int = 3) -> pa.Table:
    return pa.table(
        {
            "doc_id": pa.array(range(n), pa.int64()),
            "text": [f"doc {i}" for i in range(n)],
            "lang": ["en"] * n,
            "source": ["s"] * n,
            "n_chars": pa.array([5] * n, pa.int64()),
        }
    )


def _write(tmp_path, name: str, table: pa.Table) -> str:
    pq.write_table(table, str(tmp_path / f"{name}.parquet"))
    return str(tmp_path)


def test_missing_column_raises(spark, tmp_path):
    sf = _write(tmp_path, "documents", _docs().drop(["lang"]))
    with pytest.raises(ValueError, match="lang missing"):
        read_table(spark, sf, "documents")


def test_wrong_type_raises(spark, tmp_path):
    docs = _docs()
    docs = docs.set_column(0, "doc_id", docs.column("doc_id").cast(pa.int32()))
    sf = _write(tmp_path, "documents", docs)
    with pytest.raises(ValueError, match=r"doc_id int \(declared bigint\)"):
        read_table(spark, sf, "documents")


def test_nanosecond_timestamps_raise(spark, tmp_path):
    events = pa.table(
        {
            "event_id": pa.array([1], pa.int64()),
            "ts": pa.array([1_700_000_000_123_456_789], pa.timestamp("ns")),
            "user_id": pa.array([7], pa.int64()),
            "event_type": ["view"],
            "value": [1.0],
            "props": ["{}"],
        }
    )
    sf = _write(tmp_path, "events", events)
    # Spark's converter refuses TIMESTAMP(NANOS); under the legacy
    # nanosAsLong conf it reads as bigint, which the declaration refuses
    with pytest.raises(Exception, match="NANOS|ts bigint"):
        read_table(spark, sf, "events")


def test_extra_column_is_read_as_stored(spark, tmp_path):
    docs = _docs().append_column("url", pa.array(["https://a.com/"] * 3))
    sf = _write(tmp_path, "documents", docs)
    df = read_table(spark, sf, "documents", spread=False)
    assert df.schema == spark.read.parquet(f"{sf}/documents.parquet").schema
    assert {r["url"] for r in df.collect()} == {"https://a.com/"}
