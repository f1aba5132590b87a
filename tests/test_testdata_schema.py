"""Environment-drift smoke: pin every dtype the query inventory assumes
about the driver-generated testdata.

Round 3 lost 13/50 driver correctness rows, the whole bench artifact and
20 tests to a silent testdata regeneration (events.ts flipped from
nanosecond INT64 to timestamp[us] mid-session). This probe costs ~2 s
(pyarrow footer reads, no Spark) and turns the next drift into ONE
targeted failure naming the table+column+dtype instead of 20 misleading
analysis exceptions downstream.

Assumptions pinned here ↔ the code that makes them:
- events.ts: one of the two encodings queries._events branches on;
- orders/lineitem date columns: timestamp[us] (oracles use year()/
  date_trunc over them);
- embeddings.embedding: list<float> of constant width (similarity
  operators build fixed-dim hyperplanes from it);
- documents.text/lang/source: strings (text functions are codegen over
  them).
"""

from __future__ import annotations

import glob
import os

import pyarrow.parquet as pq
import pytest

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR_SMALL", "/root/testdata/sf0.01")

# table -> {column: set of acceptable arrow types (str)}
EXPECTED = {
    "events": {
        "event_id": {"int64"},
        # both encodings the loader handles; anything else must fail HERE
        "ts": {"timestamp[us]", "timestamp[ns]", "int64"},
        "user_id": {"int64"},
        "event_type": {"string", "large_string"},
        "value": {"double"},
        "props": {"string", "large_string"},
    },
    "orders": {
        "o_orderkey": {"int64"},
        "o_custkey": {"int64"},
        "o_orderstatus": {"string", "large_string"},
        "o_totalprice": {"double"},
        "o_orderdate": {"timestamp[us]", "date32[day]"},
        "o_orderpriority": {"string", "large_string"},
    },
    "lineitem": {
        "l_orderkey": {"int64"},
        "l_quantity": {"double"},
        "l_extendedprice": {"double"},
        "l_discount": {"double"},
        "l_tax": {"double"},
        "l_returnflag": {"string", "large_string"},
        "l_linestatus": {"string", "large_string"},
        "l_shipdate": {"timestamp[us]", "date32[day]"},
    },
    "customer": {
        "c_custkey": {"int64"},
        "c_nationkey": {"int32"},
        "c_acctbal": {"double"},
        "c_mktsegment": {"string", "large_string"},
    },
    "documents": {
        "doc_id": {"int64"},
        "text": {"string", "large_string"},
        "lang": {"string", "large_string"},
        "source": {"string", "large_string"},
        "n_chars": {"int64"},
    },
    "embeddings": {
        "vec_id": {"int64"},
        "embedding": {"list<element: float>", "list<item: float>"},
        "label": {"int32"},
    },
    "supplier": {"s_suppkey": {"int64"}, "s_nationkey": {"int32"}},
    "part": {"p_partkey": {"int64"}, "p_size": {"int32"}},
    "nation": {"n_nationkey": {"int32"}, "n_regionkey": {"int32"}},
    "region": {"r_regionkey": {"int32"}},
}


@pytest.mark.parametrize("table", sorted(EXPECTED))
def test_testdata_dtypes(table):
    path = os.path.join(SF_DIR, f"{table}.parquet")
    if not os.path.exists(path):
        pytest.skip(f"{path} absent")
    schema = pq.read_schema(path)
    for col, accepted in EXPECTED[table].items():
        assert col in schema.names, f"{table}.{col} missing from {path}"
        got = str(schema.field(col).type)
        assert got in accepted, (
            f"testdata drift: {table}.{col} is {got}, queries assume one "
            f"of {sorted(accepted)} — update argostats_spark to branch on "
            f"the new encoding (see queries._events for the pattern)"
        )


def test_embedding_width_constant():
    """Similarity operators derive hyperplanes/centroids of the vector
    dimension; a width change must fail loudly here, not as a silent
    wrong-dim dot product."""
    path = os.path.join(SF_DIR, "embeddings.parquet")
    col = pq.read_table(path, columns=["embedding"]).column("embedding")
    widths = {len(v) for chunk in col.chunks for v in chunk[:50]}
    assert len(widths) == 1, f"ragged embedding widths: {widths}"
    assert widths == {64}, f"embedding width drifted to {widths}, code assumes 64"


def test_all_sf_dirs_consistent():
    """The three scale factors must share the events-ts encoding — the
    loader branches per-read so mixed dirs work, but a mix is still a
    drift signal worth one loud line."""
    encodings = {}
    for d in sorted(glob.glob("/root/testdata/sf*")):
        p = os.path.join(d, "events.parquet")
        if os.path.exists(p):
            encodings[d] = str(pq.read_schema(p).field("ts").type)
    assert len(set(encodings.values())) <= 1, f"mixed ts encodings: {encodings}"
