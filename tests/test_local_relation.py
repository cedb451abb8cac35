"""catalog.collection._local builds its local relation through the JVM
entry points that createDataFrame(pyarrow.Table) ends in, not through
createDataFrame itself. For every schema the catalog builds one with
(ann results, term_search_indexed's (user_id, doc_id), term_search's
doc_id, the empty tombstones and the empty docs()), empty and not, with
NaN / +-inf scores and the int64 extremes as ids, it gives the same
schema and rows as createDataFrame, plans a LocalTableScan, runs no
Spark job and is bound to the session it is given. This guards the
PySpark private names _local uses on the installed PySpark."""

import json

import numpy as np
import pyarrow as pa
import pytest
from pyspark.sql.types import StructType
from test_read_path import _job_names

from muopdb_spark.catalog.collection import _ANN_SCHEMA, _local, _schemas

LO, HI = np.iinfo(np.int64).min, np.iinfo(np.int64).max
INF = float("inf")

CASES = {
    "ann": (_ANN_SCHEMA, {
        "user_id": np.array([0, 1, LO, HI], dtype=np.int64),
        "id": np.array([HI, LO, 0, 7], dtype=np.int64),
        "score": np.array([np.nan, INF, -INF, -0.0]),
    }),
    "term_search_indexed": ("user_id long, doc_id long", {
        "user_id": np.array([3, HI], dtype=np.int64),
        # an int32 column is cast, as createDataFrame casts it
        "doc_id": np.array([-1, 2 ** 31 - 1], dtype=np.int32),
    }),
    "term_search": ("doc_id long", {"doc_id": [LO, 0, HI]}),
    "tombstones": ("user_id long, doc_id long, seq_no long", {
        "user_id": [LO], "doc_id": [HI], "seq_no": [0]}),
    "docs": ("user_id long, doc_id long, vector array<float>, seq_no long", {
        "user_id": [1, 2], "doc_id": [LO, HI],
        "vector": [[np.nan, INF, -INF, 1.5], []], "seq_no": [HI, -1]}),
}


def _hex(v):
    """Rows with every float as float.hex, so NaN compares equal and
    -0.0 differs from 0.0."""
    if isinstance(v, float):
        return v.hex()
    if isinstance(v, (list, tuple)):
        return [_hex(x) for x in v]
    return v


@pytest.mark.parametrize("filled", [False, True], ids=["empty", "filled"])
@pytest.mark.parametrize("case", sorted(CASES))
def test_local_equals_create_dataframe(spark, case, filled):
    ddl, columns = CASES[case]
    columns = columns if filled else {}
    struct, arrow, _ = _schemas(ddl)
    want = spark.createDataFrame(pa.table(
        {f.name: columns.get(f.name, []) for f in arrow}, schema=arrow), struct)
    df, jobs = _job_names(spark, lambda: _local(spark, ddl, **columns))
    assert jobs == []
    rows = df.collect()
    assert df.schema == want.schema == struct
    # the schema the JVM holds, not only the one set on the Python side
    assert StructType.fromJson(json.loads(df._jdf.schema().json())) == struct
    assert _hex([list(r) for r in rows]) == _hex([list(r) for r in want.collect()])
    assert len(rows) == (len(next(iter(columns.values()))) if filled else 0)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in plan, plan


def test_local_is_bound_to_the_session_it_is_given(spark):
    other = spark.newSession()
    df = _local(other, "doc_id long", doc_id=[1, 2])
    assert df.sparkSession is other
    assert df._jdf.sparkSession().equals(other._jsparkSession)
    assert not df._jdf.sparkSession().equals(spark._jsparkSession)
    assert [r["doc_id"] for r in df.collect()] == [1, 2]
