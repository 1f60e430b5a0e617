"""Index integrity verification (fsck): a healthy index reports zero
violations through its whole lifecycle (build → append → delete →
compact), and every check trips on the specific corruption it guards
against — tampered blobs, lying metadata, broken dictionaries, dropped
manifests."""

import glob
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from pyspark.sql import functions as F

from search_engine_spark.build import IndexBuilder, block_id_col
from search_engine_spark.fixtures import synthetic_transcripts
from search_engine_spark.fsck import fsck_index


def _report(spark, idx, deep=False):
    return {
        r["check"]: (r["checked"], r["violations"])
        for r in fsck_index(spark, idx, deep=deep).collect()
    }


def _assert_clean(rep):
    bad = {k: v for k, (_, v) in rep.items() if v != 0}
    assert not bad, f"unexpected violations: {bad}"


def _patch_parquet(path: str, edit) -> None:
    """Read a parquet file, apply ``edit(pandas_df) -> pandas_df``,
    write it back with the original schema."""
    tbl = pq.read_table(path)
    pdf = edit(tbl.to_pandas())
    pq.write_table(pa.Table.from_pandas(pdf, schema=tbl.schema), path)


def _one_postings_file(idx: str, min_rows: int = 3) -> str:
    files = sorted(
        f
        for f in glob.glob(
            os.path.join(idx, "postings", "**", "*.parquet"), recursive=True
        )
        if os.path.getsize(f) > 0
    )
    for f in files:
        if pq.read_metadata(f).num_rows >= min_rows:
            return f
    raise AssertionError(f"no postings file with >= {min_rows} rows")


def test_fsck_clean_through_lifecycle(spark, tmp_path):
    idx = str(tmp_path / "idx")
    b = IndexBuilder(spark, idx, block_span=16)
    b.build(synthetic_transcripts(spark, n_convs=6, turns_per_conv=4))
    b.append(synthetic_transcripts(spark, n_convs=3, turns_per_conv=4))

    rep = _report(spark, idx, deep=True)
    _assert_clean(rep)
    # the passes really ran over real data
    assert rep["cell_decode"][0] > 0
    assert rep["dictionary_df_cf"][0] > 0
    assert rep["deep_weights"][0] > 0
    assert rep["manifest_chunks"][0] == 2  # build chunk + append chunk

    # logical deletes stay healthy (stats stay pre-delete by design)
    b.delete([0, 5, 17])
    _assert_clean(_report(spark, idx, deep=True))

    # compaction purges tombstones and rewrites every table — and the
    # rewritten generation still satisfies every invariant
    from search_engine_spark.engine import TranscriptSearchEngine

    TranscriptSearchEngine(spark, idx, cache=False).compact()
    rep = _report(spark, idx, deep=True)
    _assert_clean(rep)
    assert rep["tombstones"] == (0, 0)


def test_fsck_detects_cell_corruption(spark, tmp_path):
    idx = str(tmp_path / "idx")
    IndexBuilder(spark, idx, block_span=16).build(
        synthetic_transcripts(spark, n_convs=6, turns_per_conv=4)
    )
    f = _one_postings_file(idx)

    # lie about max_tf -> cell_meta_stats
    def lie_max_tf(pdf):
        pdf.at[pdf.index[0], "max_tf"] = np.int32(10_000)
        return pdf

    _patch_parquet(f, lie_max_tf)
    rep = _report(spark, idx)
    assert rep["cell_meta_stats"][1] == 1
    assert rep["cell_decode"][1] == 0

    # understate the WAND bound -> cell_wand_bound (the dangerous one:
    # an understated bound silently LOSES ranked results)
    def lie_bound(pdf):
        pdf.at[pdf.index[0], "max_tf"] = np.int32(10_000)
        pdf.at[pdf.index[1], "max_partial"] = 1e-9
        return pdf

    _patch_parquet(f, lie_bound)
    rep = _report(spark, idx)
    assert rep["cell_wand_bound"][1] == 1

    # truncate a blob -> cell_decode (and the dictionary notices the
    # missing postings via df/cf)
    def truncate_blob(pdf):
        pdf.at[pdf.index[2], "postings_bin"] = b"\x01"
        return pdf

    _patch_parquet(f, truncate_blob)
    rep = _report(spark, idx)
    assert rep["cell_decode"][1] >= 1


def test_fsck_detects_dictionary_and_layout_corruption(spark, tmp_path):
    idx = str(tmp_path / "idx")
    b = IndexBuilder(spark, idx, block_span=16)
    b.build(synthetic_transcripts(spark, n_convs=6, turns_per_conv=4))
    b.append(synthetic_transcripts(spark, n_convs=2, turns_per_conv=4))

    # tamper one term's df in the dictionary snapshot
    import json

    with open(os.path.join(idx, "_meta.json")) as fh:
        terms_table = json.load(fh)["terms_table"]
    tf = sorted(
        f
        for f in glob.glob(
            os.path.join(idx, terms_table, "**", "*.parquet"), recursive=True
        )
        if pq.read_metadata(f).num_rows > 0
    )[0]

    def lie_df(pdf):
        pdf.at[pdf.index[0], "df"] = pdf["df"].iloc[0] + 7
        return pdf

    _patch_parquet(tf, lie_df)
    rep = _report(spark, idx)
    assert rep["dictionary_df_cf"][1] == 1

    # drop a manifest -> layout mismatch (2 tables each disagree)
    os.remove(os.path.join(idx, "manifest", "chunk_1.json"))
    rep = _report(spark, idx)
    assert rep["manifest_chunks"][1] == 2


def test_fsck_detects_stats_corruption(spark, tmp_path):
    idx = str(tmp_path / "idx")
    IndexBuilder(spark, idx, block_span=16).build(
        synthetic_transcripts(spark, n_convs=5, turns_per_conv=4)
    )
    sf = sorted(
        f
        for f in glob.glob(
            os.path.join(idx, "doc_stats", "**", "*.parquet"), recursive=True
        )
        if pq.read_metadata(f).num_rows > 0
    )[0]

    # inflate one doc_len: total_tokens breaks, and deep sees the
    # blob/stats disagreement
    def lie_doc_len(pdf):
        pdf.at[pdf.index[0], "doc_len"] = pdf["doc_len"].iloc[0] + 3
        return pdf

    _patch_parquet(sf, lie_doc_len)
    rep = _report(spark, idx, deep=True)
    assert rep["total_tokens"][1] == 1
    assert rep["deep_doclens"][1] >= 1

    # corrupt one doc's weight: deep catches both the byte mismatch vs
    # the inline weights and the broken L2-norm identity
    def lie_weight(pdf):
        pdf.at[pdf.index[1], "weight"] = pdf["weight"].iloc[1] * 2.0
        return pdf

    _patch_parquet(sf, lie_weight)
    rep = _report(spark, idx, deep=True)
    assert rep["deep_weights"][1] >= 1
    assert rep["deep_l2norm"][1] >= 1


def test_fsck_detects_dangling_tombstone(spark, tmp_path):
    idx = str(tmp_path / "idx")
    b = IndexBuilder(spark, idx, block_span=16)
    b.build(synthetic_transcripts(spark, n_convs=5, turns_per_conv=4))
    b.delete([1, 7])
    _assert_clean(_report(spark, idx))

    # corrupt the snapshot with a tombstone pointing at a doc that was
    # never indexed (delete() itself rejects out-of-range ids, so this
    # state can only arise from storage corruption)
    import json

    with open(os.path.join(idx, "_meta.json")) as fh:
        tomb_table = json.load(fh)["tombstones_table"]
    tf = sorted(
        f
        for f in glob.glob(
            os.path.join(idx, tomb_table, "**", "*.parquet"), recursive=True
        )
        if pq.read_metadata(f).num_rows > 0
    )[0]

    def add_dangler(pdf):
        dangler = pdf.iloc[:1].copy()
        dangler["doc_id"] = 10_000
        dangler["block_id"] = 10_000 // 16
        import pandas as pd

        return pd.concat([pdf, dangler], ignore_index=True)

    _patch_parquet(tf, add_dangler)
    rep = _report(spark, idx)
    assert rep["tombstones"][1] >= 1


def test_block_id_is_integer_division(spark):
    """The deep pass keys doc_stats by the engine's integer block id:
    a float ``doc_id / block_span`` rounds ids above 2^53 into the
    wrong block."""
    doc_id = 2**53 + 1
    row = (
        spark.createDataFrame([(doc_id,)], "doc_id long")
        .select(
            (F.col("doc_id") / F.lit(3)).cast("long").alias("float_div"),
            block_id_col(3),
        )
        .first()
    )
    assert row["block_id"] == doc_id // 3
    assert row["float_div"] != doc_id // 3
