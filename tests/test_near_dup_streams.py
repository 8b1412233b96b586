"""The MinHash, SimHash and random-hyperplane near-dup streams share one
epoch kernel (``streaming.store_meta.near_dup_stream``). The tests here
pin what the kernel owns, once per family: a flag row for every input
row, and the projected-mass warning ahead of the budget refusal.
"""

from __future__ import annotations

import logging
from functools import partial

import pytest

from clinical_trials_data_pipeline_analyis_spark import streaming
from clinical_trials_data_pipeline_analyis_spark.streaming import (
    dedup as stream_dedup,
    similarity as stream_similarity,
)

_KERNEL_LOGGER = (
    "clinical_trials_data_pipeline_analyis_spark.streaming.store_meta"
)

FAMILIES = ("minhash", "simhash", "rhp")

_DOCS = "doc_id LONG, text STRING"
_VECS = "vec_id LONG, embedding ARRAY<DOUBLE>"

#: family -> (input schema, id column, stream, budget module, constant).
#: Two bands each, so identical rows fill two buckets in every family.
_STREAMS = {
    "minhash": (
        _DOCS, "doc_id",
        partial(streaming.near_dedup_docs_stream, num_hashes=8, bands=2),
        stream_dedup, "MAX_MINHASH_STREAM_CANDIDATES_PER_EPOCH",
    ),
    "simhash": (
        _DOCS, "doc_id", streaming.simhash_near_dedup_stream,
        stream_dedup, "MAX_SIMHASH_STREAM_CANDIDATES_PER_EPOCH",
    ),
    "rhp": (
        _VECS, "vec_id",
        partial(
            streaming.rhp_near_dedup_stream,
            threshold=0.9, n_bits=16, bands=2, dim=4,
        ),
        stream_similarity, "MAX_RHP_STREAM_CANDIDATES_PER_EPOCH",
    ),
}


def _run(spark, tmp_path, family, epochs):
    """Stream ``epochs`` (lists of rows, one micro-batch each) through
    ``family``'s stream to completion; return its flags as
    {id: [is_near_dup, ...]}."""
    schema, id_col, make, _, _ = _STREAMS[family]
    chunks = str(tmp_path / "chunks")
    for e, rows in enumerate(epochs):
        df = spark.createDataFrame(rows, schema)
        df.coalesce(1).write.parquet(f"{chunks}/c{e}")
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{chunks}/c*")
    )
    q = make(
        stream,
        out_path=str(tmp_path / "flags"),
        store_path=str(tmp_path / "store"),
        checkpoint=str(tmp_path / "ckpt"),
    ).start()
    q.awaitTermination(180)
    assert q.exception() is None, q.exception()
    flags: dict[int, list[bool]] = {}
    for r in spark.read.parquet(str(tmp_path / "flags")).collect():
        flags.setdefault(r[id_col], []).append(r["is_near_dup"])
    return flags


def _same(family, n, start=0):
    """``n`` identical rows: one template text, or one vector."""
    if family == "rhp":
        return [(start + i, [1.0, 0.0, 0.5, 0.25]) for i in range(n)]
    text = "the exact same template text repeated for every document"
    return [(start + i, text) for i in range(n)]


@pytest.mark.parametrize("family", FAMILIES)
def test_every_input_row_gets_one_flag_row(spark, tmp_path, family):
    """One micro-batch: two identical rows plus rows that sign nothing
    in SimHash (empty, blank and NULL text: no tokens) or RHP (a NULL
    vector). Every input id gets exactly one flag row; an unsigned row
    flags False. MinHash signs empty and NULL text to the shingle
    ``""``, as its batch operator does, so those rows collide with
    each other and the later ones flag."""
    if family == "rhp":
        rows = _same(family, 2) + [(2, None)]
        want = {0: False, 1: True, 2: False}
    else:
        rows = _same(family, 2) + [(2, ""), (3, "   "), (4, None)]
        blank = family == "minhash"
        want = {0: False, 1: True, 2: False, 3: blank, 4: blank}
    flags = _run(spark, tmp_path, family, [rows])
    assert flags == {i: [f] for i, f in want.items()}


@pytest.mark.parametrize("family", FAMILIES)
def test_stream_warns_before_detonation(
    spark, tmp_path, caplog, monkeypatch, family
):
    """Two 20-identical-row epochs under a budget both epochs FIT:
    epoch mass 380 then 1180, projections 1180 then 1980, past 80% of
    budget=1400 (1,120) both times, so the stream completes green but
    logs the projected-mass warning with the family's prescription
    (SimHash's names the MinHash twin)."""
    _, _, _, module, constant = _STREAMS[family]
    monkeypatch.setattr(module, constant, 1400)
    with caplog.at_level(logging.WARNING, logger=_KERNEL_LOGGER):
        flags = _run(
            spark, tmp_path, family,
            [_same(family, 20), _same(family, 20, start=20)],
        )
    msgs = [
        r.getMessage()
        for r in caplog.records
        if "post-append store projects" in r.message
    ]
    assert len(msgs) == 2, caplog.records
    assert "380 of the 1,400 candidate budget" in msgs[0]
    assert "~1,180" in msgs[0]
    assert "~1,980" in msgs[1]
    op = {
        "minhash": "near_dedup_docs_stream",
        "simhash": "simhash_near_dedup_stream",
        "rhp": "rhp_near_dedup_stream",
    }[family]
    assert msgs[0].startswith(f"{op}: epoch 0 used")
    if family == "simhash":
        assert "near_dedup_docs_stream" in msgs[0]  # the MinHash twin
    # max bucket occupancy after epoch 2's append: 40 per band
    assert "occupancy now 40" in msgs[1]
    # one flag row for each of the 40 rows (the warning is not a refusal)
    assert flags.keys() == set(range(40))
    assert all(len(f) == 1 for f in flags.values())


@pytest.mark.parametrize("family", FAMILIES)
def test_stream_quiet_below_projection_threshold(
    spark, tmp_path, caplog, family
):
    """A cold stream (distinct rows, tiny buckets) must not warn."""
    if family == "rhp":
        rows = [
            (i, [float(i % 5), float(i // 5), 1.0 - i % 3, float(i * 7 % 11)])
            for i in range(20)
        ]
    else:
        rows = [
            (i, f"totally distinct document number {i} about subject {i * 17}")
            for i in range(20)
        ]
    with caplog.at_level(logging.WARNING, logger=_KERNEL_LOGGER):
        _run(spark, tmp_path, family, [rows])
    assert not [
        r for r in caplog.records if "post-append store projects" in r.message
    ]
