"""Sequence packing (operators/packing.py): the two-pass distributed
prefix sum must equal the naive single-window statement exactly, the
chunk math must match a plain python reimplementation, and the result
must be invariant to input partition layout."""

from __future__ import annotations

import hashlib

import pandas as pd
import pytest
from pyspark.sql import functions as F

from flink_exercise_spark.operators.packing import (
    CONTEXT_LEN,
    pack_chunks,
)
from flink_exercise_spark.sources.tables import load_table
from tests.conftest import SF_SMOKE


@pytest.fixture(scope="module")
def placed(spark):
    docs = load_table(spark, SF_SMOKE, "documents")
    return pack_chunks(docs).toPandas()


def _naive(spark) -> pd.DataFrame:
    """Plain-python concat-and-chunk over the same corpus."""
    import re

    docs = (
        load_table(spark, SF_SMOKE, "documents")
        .select("doc_id", "text")
        .toPandas()
    )
    pat = re.compile(r"\w+|[^\w\s]")
    rows = []
    for _, r in docs.iterrows():
        if r["text"] is None:
            continue
        n = len(pat.findall(r["text"]))
        if n == 0:
            continue
        h = hashlib.md5(str(r["doc_id"]).encode()).hexdigest()
        rows.append((h, r["doc_id"], n))
    rows.sort()
    out, cum = [], 0
    for h, doc_id, n in rows:
        start = cum
        cum += n
        first, last = start // CONTEXT_LEN, (cum - 1) // CONTEXT_LEN
        out.append((doc_id, n, start, first, last, last - first + 1))
    return pd.DataFrame(
        out,
        columns=[
            "doc_id",
            "n_tok",
            "start_tok",
            "first_chunk",
            "last_chunk",
            "n_chunks_spanned",
        ],
    )


def test_matches_naive_python(spark, placed):
    expect = _naive(spark)
    got = placed.sort_values("doc_id").reset_index(drop=True)
    want = expect.sort_values("doc_id").reset_index(drop=True)
    pd.testing.assert_frame_equal(
        got.astype("int64"), want.astype("int64"), check_dtype=False
    )


def test_stream_is_contiguous_and_complete(placed):
    """Offsets tile the token stream exactly: sorted starts are the
    exclusive prefix sums of the token counts."""
    s = placed.sort_values("start_tok").reset_index(drop=True)
    assert s["start_tok"].iloc[0] == 0
    ends = s["start_tok"] + s["n_tok"]
    assert (s["start_tok"].iloc[1:].to_numpy() == ends.iloc[:-1].to_numpy()).all()


def test_partition_layout_invariance(spark, placed):
    """Same placement whatever the input partitioning — the contract
    that makes the packing reproducible at 100 TB."""
    docs = load_table(spark, SF_SMOKE, "documents").repartition(
        17, F.col("lang")
    )
    again = pack_chunks(docs).toPandas()
    a = placed.sort_values("doc_id").reset_index(drop=True)
    b = again.sort_values("doc_id").reset_index(drop=True)
    pd.testing.assert_frame_equal(a, b)


def test_no_global_sort_in_plan(spark):
    """The scale contract: no unpartitioned window over the full
    relation. The only global ordering allowed is over the 256-row
    bucket-totals relation; every per-document window must be
    partitioned by the hash bucket."""
    df = pack_chunks(load_table(spark, SF_SMOKE, "documents"))
    plan = df._jdf.queryExecution().executedPlan().toString()
    import re

    for m in re.finditer(r"Window \[(.*?)\], \[(.*?)\]", plan):
        spec = m.group(0)
        # windows over the doc relation must carry a partition spec
        if "n_tok" in spec:
            assert "_bucket" in spec, f"unpartitioned doc window: {spec}"

