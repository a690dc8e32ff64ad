"""dedup_ngram_jaccard's cost-based branch: the inverted-index
self-join and the blocked dense-GEMM worker are two physical plans for
ONE logical query — this pins them row- and bit-identical (including the
float64 jaccard) on the smoke fixture, so the parquet-footer row-count
switch can never change results, only speed."""

from __future__ import annotations

from pyspark.sql import functions as F

from hh_rumors_presto_spark import io
import hh_rumors_presto_spark.queries.extensions_dedup as xd


def _rows(df):
    return sorted(
        (r.doc_a, r.doc_b, r.jaccard.hex()) for r in df.collect()
    )


def test_ngram_jaccard_branches_bit_identical(spark, sf_dir):
    docs = io.load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") % 5 == 0
    )
    join_rows = _rows(xd._ngram_jaccard_join(docs))
    blocked_rows = _rows(
        xd._ngram_jaccard_blocked(docs, io.table_num_rows(sf_dir, "documents"))
    )
    assert len(join_rows) > 0  # fixture must actually exercise the pairs
    assert join_rows == blocked_rows


def test_ngram_jaccard_branches_agree_on_lang_edges(spark):
    # the blocked branch keys shingles by (lang, shingle) through a
    # string prefix: NULL langs must never pair, equal texts in different
    # langs must not pair, and a lang containing the separator must not
    # collide with a shingle that does ("x" + "y:a b" vs "x:y" + "a b")
    docs = spark.createDataFrame(
        [
            (1, "en", "a b c d"),
            (2, "es", "a b c d"),
            (3, None, "a b c d"),
            (4, None, "a b c d"),
            (5, "en", "a b c e"),
            (6, "x", "y:a b"),
            (7, "x:y", "a b"),
            (8, "x:y", "a b"),
        ],
        "doc_id long, lang string, text string",
    )
    join_rows = _rows(xd._ngram_jaccard_join(docs))
    assert [r[:2] for r in join_rows] == [(1, 5), (7, 8)]
    assert _rows(xd._ngram_jaccard_blocked(docs, 8)) == join_rows


def test_ngram_jaccard_switch_reads_footer_stat(sf_dir):
    # the branch decision is a pure metadata read — no Spark required
    n = io.table_num_rows(sf_dir, "documents")
    assert n > 0
    assert (n < xd._NGRAM_DENSE_MIN_DOCS) is True  # smoke fixture: join branch
