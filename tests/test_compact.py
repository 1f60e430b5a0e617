"""Compaction: consolidate streaming chunks, vacuum orphan docs, dedup
dictionaries — query results must be identical before and after, and the
flip must be atomic (generation dirs + one meta write)."""

import os

from pyspark.sql import functions as F

from search_engine_spark import fsio
from search_engine_spark.build import TABLE_SCHEMAS, IndexBuilder
from search_engine_spark.engine import TranscriptSearchEngine
from search_engine_spark.fixtures import synthetic_transcripts
from search_engine_spark.operators.docids import with_doc_ids

QUERIES = ["test here", "spark index fast", "the test data"]


def test_compact_preserves_results_and_cleans(spark, tmp_path):
    idx = str(tmp_path / "idx")
    builder = IndexBuilder(spark, idx, block_span=16)
    builder.build(synthetic_transcripts(spark, n_convs=6, turns_per_conv=4))
    builder.append(synthetic_transcripts(spark, n_convs=3, turns_per_conv=4))
    builder.append(synthetic_transcripts(spark, n_convs=2, turns_per_conv=4))

    # inject orphan docs rows (a crashed append's leftovers)
    orphan = with_doc_ids(
        synthetic_transcripts(spark, n_convs=1, turns_per_conv=4)
    ).withColumn("doc_id", F.col("doc_id") + F.lit(10_000))
    orphan.write.mode("append").parquet(os.path.join(idx, "docs"))

    eng = TranscriptSearchEngine(spark, idx, cache=False)
    before = {
        "ranked": [eng.ranked_query(q, k=10) for q in QUERIES],
        "bool": [eng.boolean_query(q) for q in QUERIES],
        "phrase": eng.boolean_query('"test here"'),
        "wild": eng.wildcard_expand("te*t"),
        "spell": eng.check_spelling("tesst", None),
        "num_docs": eng.num_docs,
        "total_tokens": eng.total_tokens,
        "terms": sorted(eng.terms.collect()),
    }
    postings_rows = eng.postings.count()

    info = eng.compact()
    assert info["vacuumed_docs"] == 4  # exactly the injected orphans
    assert info["posting_files_after"] <= info["posting_files_before"]
    assert info["num_docs"] == before["num_docs"]

    after_eng = TranscriptSearchEngine(spark, idx, cache=False)
    for e in (eng, after_eng):  # refreshed handle AND fresh open
        assert e.num_docs == before["num_docs"]
        assert e.total_tokens == before["total_tokens"]
        assert [e.ranked_query(q, k=10) for q in QUERIES] == before["ranked"]
        assert [e.boolean_query(q) for q in QUERIES] == before["bool"]
        assert e.boolean_query('"test here"') == before["phrase"]
        assert e.wildcard_expand("te*t") == before["wild"]
        assert e.check_spelling("tesst", None) == before["spell"]
        assert sorted(e.terms.collect()) == before["terms"]
        assert e.postings.count() == postings_rows
    # orphans really gone from the docs table
    docs_ids = {r["doc_id"] for r in after_eng.docs.select("doc_id").collect()}
    assert not any(i >= 10_000 for i in docs_ids)
    assert len(docs_ids) == before["num_docs"]

    # old generation dirs are GC'd; new generation is pointed to by meta
    names = set(os.listdir(idx))
    assert "postings" not in names and "postings_c0001" in names
    assert "docs" not in names and "docs_c0001" in names

    # appends keep working after compaction (chunk numbering restarts)
    out = builder.append(synthetic_transcripts(spark, n_convs=1, turns_per_conv=4))
    assert not out.get("skipped")
    eng2 = TranscriptSearchEngine(spark, idx, cache=False)
    assert eng2.num_docs == before["num_docs"] + 4
    assert eng2.ranked_query("test", k=5)

    # a second compaction rotates generations cleanly
    info2 = eng2.compact()
    assert info2["generation"] == 2
    assert eng2.num_docs == before["num_docs"] + 4
    assert "postings_c0002" in set(os.listdir(idx))
    assert "postings_c0001" not in set(os.listdir(idx))


def test_declared_schemas_match_written_tables(spark, tmp_path):
    """``TABLE_SCHEMAS`` (what readers open tables with, skipping schema
    inference) must equal the inferred schema of every live table after
    each writer: build, append, delete, compact."""
    idx = str(tmp_path / "idx")
    builder = IndexBuilder(spark, idx, block_span=16)
    checked: set[str] = set()

    def check():
        meta = fsio.read_json_atomic(spark, os.path.join(idx, "_meta.json"))
        physical = {
            **meta["tables"],
            "terms": meta["terms_table"],
            "tombstones": meta.get("tombstones_table"),
        }
        for table, declared in TABLE_SCHEMAS.items():
            if physical[table] is None:
                continue
            path = os.path.join(idx, physical[table])
            inferred = spark.read.parquet(path).schema
            opened = spark.read.schema(declared).parquet(path).schema
            assert opened == inferred, (table, inferred.simpleString())
            checked.add(table)

    builder.build(synthetic_transcripts(spark, n_convs=6, turns_per_conv=4))
    check()
    builder.append(synthetic_transcripts(spark, n_convs=3, turns_per_conv=4))
    check()
    builder.delete([0, 5, 17])
    check()
    builder.compact()
    check()
    assert checked == set(TABLE_SCHEMAS)
