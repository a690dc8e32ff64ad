"""Deduplication suite for training-data pipelines (BASELINE.json mandate;
SURVEY.md §2.B "UDF surface + LLM-pipeline extensions").

Four families over ``documents``:
- exact dedup (hash groupBy on content hash),
- n-gram Jaccard near-dup (token-bigram shingles, inverted-index join),
- MinHash-LSH candidate pairs (md5-derived hash family -> engine-independent,
  so even the LSH path has a full DuckDB oracle),
- SimHash signatures (bitwise majority over token hashes).

Scale design: every pairwise step goes through an inverted index or an LSH
band bucket — never an unblocked O(n²) cross join. The md5-based hash family
is deliberately engine-neutral: h(seed, tok) = int(md5(seed||':'||tok)[:15])
computes identically in Spark (conv) and DuckDB (CAST '0x..'), which turns
the usual rows-only LSH check into a real value-hash oracle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from hh_rumors_presto_spark import io
from hh_rumors_presto_spark.operators.components import connected_components
from hh_rumors_presto_spark.registry import query

N_MINHASH = 8  # 2 bands x 4 rows (b=2, r=4: S-curve threshold ~ (1/2)^(1/4) ≈ 0.84 Jaccard)
MINHASH_BANDS = 2
MINHASH_ROWS = N_MINHASH // MINHASH_BANDS


def _hex15_to_long(hex_col: Column) -> Column:
    """First 15 hex chars of an md5 -> BIGINT (< 2^60, no overflow)."""
    return F.conv(F.substring(hex_col, 1, 15), 16, 10).cast("long")


def _tok_hash(seed: int, tok: Column) -> Column:
    return _hex15_to_long(F.md5(F.concat(F.lit(f"s{seed}:"), tok)))


# Universal hash family for MinHash: h_s(x) = (A_s*(x mod P) + B_s) mod P
# over ONE md5 base hash per token. One md5 instead of N_MINHASH md5s per
# shingle occurrence (the md5 was ~all the minhash CPU at sf0.1: 5M
# shingles x 8 digests); the affine family is the textbook Carter-Wegman
# construction and is exact 64-bit integer arithmetic in both engines
# (A*(x%P) < 1e18 < 2^63 — no overflow under ANSI mode).
MINHASH_P = 1_000_000_007
MINHASH_A = (712839123, 947121931, 281474357, 653789141,
             912831211, 137438953, 431655765, 786433213)
MINHASH_B = (15485863, 32452843, 49979687, 67867967,
             86028121, 104395301, 122949823, 141650939)


def _affine_hash(s: int, base: Column) -> Column:
    return (F.lit(MINHASH_A[s]) * (base % MINHASH_P) + MINHASH_B[s]) % MINHASH_P


def bigram_shingles(toks: Column) -> Column:
    """Distinct token-bigram shingles via zip_with over two shifted slices
    (pairs each token with its successor). Guarded for single-token
    documents: slice lengths go to 0, return an empty array (matching the
    oracle's empty generate_series(1, 0)).

    IMPORTANT perf contract: pass a BOUND array column (project
    ``split(...)`` into a named column first), not the inline split
    expression — with an inline expression the split re-evaluates inside
    the lambda (no cross-lambda subexpression elimination) and the shingle
    stage measured 4.6x slower at sf0.1 (2.5s vs 0.55s)."""
    raw = F.array_distinct(
        F.zip_with(
            F.slice(toks, 1, F.size(toks) - 1),
            F.slice(toks, 2, F.size(toks) - 1),
            lambda x, y: F.concat_ws(" ", x, y),
        )
    )
    return F.when(F.size(toks) >= 2, raw).otherwise(
        F.array().cast("array<string>")
    )


@query(
    "dedup_exact",
    oracle="""
    SELECT md5(text) AS content_hash,
           min(doc_id) AS keeper_doc_id,
           count(*) AS n_copies
    FROM documents
    GROUP BY md5(text)
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup by content hash: one hash aggregate, min(doc_id) as the
    deterministic survivor. At 100 TB the md5 shrinks the shuffle key from
    document bytes to 32 bytes."""
    docs = io.load_table(spark, sf_dir, "documents")
    return docs.groupBy(F.md5("text").alias("content_hash")).agg(
        F.min("doc_id").alias("keeper_doc_id"),
        F.count("*").alias("n_copies"),
    )


_BIGRAM_SQL = """
    SELECT doc_id, lang,
           list_distinct(list_transform(
               generate_series(1, len(string_split(text,' ')) - 1),
               i -> string_split(text,' ')[i] || ' ' || string_split(text,' ')[i+1]
           )) AS shingles
    FROM documents
    WHERE doc_id % 5 = 0
"""


# Corpus size (total document rows, parquet footer stat) above which
# dedup_ngram_jaccard switches from the inverted-index self-join to the
# blocked dense-GEMM workers. The join stays for small corpora because it
# is faster there: median warm collect of each branch on a 4-core host
# (SPARK_GRAFT_CPUS=4) was join 0.41-0.65 s vs blocked 0.89-1.04 s at
# sf0.001, join 0.69-0.71 s vs blocked 1.07-1.12 s at sf0.1 (5k rows),
# but join 44.5-47.4 s vs blocked 21.1-21.8 s on the 50k-row sf1 replica
# (tools/make_sf1.py), where the 10x exact-dup cliques make posting lists
# deep. Both paths are result-identical (same oracle at all SFs + the
# branch-equivalence unit test), so this constant only picks the cost.
_NGRAM_DENSE_MIN_DOCS = 20_000


@query(
    "dedup_ngram_jaccard",
    oracle=f"""
    WITH sh AS ({_BIGRAM_SQL}),
    counts AS (SELECT doc_id, len(shingles) AS n FROM sh),
    inv AS (SELECT doc_id, lang, unnest(shingles) AS shingle FROM sh),
    inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
        FROM inv a JOIN inv b
          ON a.shingle = b.shingle AND a.lang = b.lang AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    )
    SELECT i.doc_a, i.doc_b,
           CAST(i.n_common AS DOUBLE) / (ca.n + cb.n - i.n_common) AS jaccard
    FROM inter i
    JOIN counts ca ON ca.doc_id = i.doc_a
    JOIN counts cb ON cb.doc_id = i.doc_b
    WHERE CAST(i.n_common AS DOUBLE) / (ca.n + cb.n - i.n_common) >= 0.05
    """,
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-bigram Jaccard near-dup (blocked by lang): |A∩B| counted
    exactly, |A∪B| by inclusion-exclusion, the one float being the
    engines' own double division at the threshold compare.

    The physical plan is chosen from the parquet footer row count, the
    way Spark's own broadcast threshold reads table stats (see
    _NGRAM_DENSE_MIN_DOCS). Small corpora keep the inverted-index
    self-join. Large corpora — where the 10x exact-dup cliques make
    per-shingle posting lists deep and the join's pair mass dominates —
    run the blocked dense-GEMM workers of operators/pairblocks.py: items
    are docs, each shingle keyed as (lang, shingle) so sharing a key
    implies SAME lang AND same shingle (the join's two equi-keys), and
    only pairs passing the exact float64(C)/float64(union) >= 0.05
    compare (the engines' division replayed on the same exact integers)
    leave the workers. Docs with NULL lang could never satisfy
    a.lang = b.lang, so both branches drop them. Both branches produce
    identical rows (oracle-verified at all SFs; branch-equivalence
    pinned by a unit test)."""
    docs = io.load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") % 5 == 0
    )
    n_docs = io.table_num_rows(sf_dir, "documents")
    if n_docs < _NGRAM_DENSE_MIN_DOCS:
        return _ngram_jaccard_join(docs)
    return _ngram_jaccard_blocked(docs, n_docs)


def _ngram_jaccard_join(docs: DataFrame) -> DataFrame:
    """Inverted-index self-join branch (small corpora): |A∩B| from a
    (shingle, lang) equi-join, cost tracks Σ posting-list², never n²."""
    toks = F.split("text", " ")
    # Materialize the shingle stage once: it feeds FOUR plan legs (counts
    # x2 broadcast sides + both self-join sides), and without this the
    # text split + shingle build re-runs per leg (8 parquet scans, no
    # ReusedExchange). localCheckpoint also truncates lineage for the
    # iterative consumer (dedup_clusters).
    sh = (
        docs.select("doc_id", "lang", toks.alias("toks"))
        .select("doc_id", "lang", bigram_shingles(F.col("toks")).alias("shingles"))
        .localCheckpoint()
    )
    counts = sh.select("doc_id", F.size("shingles").alias("n"))
    inv = sh.select(
        "doc_id", "lang", F.explode("shingles").alias("shingle")
    )
    a, b = inv.alias("a"), inv.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.lang") == F.col("b.lang"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count("*").alias("n_common"))
    )
    ca, cb = counts.alias("ca"), counts.alias("cb")
    jac = F.col("n_common").cast("double") / (
        F.col("ca.n") + F.col("cb.n") - F.col("n_common")
    )
    return (
        inter.join(F.broadcast(ca), F.col("ca.doc_id") == F.col("doc_a"))
        .join(F.broadcast(cb), F.col("cb.doc_id") == F.col("doc_b"))
        .select("doc_a", "doc_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= 0.05)
    )


def _ngram_jaccard_blocked(docs: DataFrame, n_docs: int) -> DataFrame:
    """Blocked dense-GEMM branch (large corpora): intersection counts as
    exact-integer block matmuls; no pair-sized exchange or aggregate.
    Each shingle is prefixed with ``len(lang):lang:`` — collision-free,
    so a shared key implies the same lang and the same shingle.
    ``n_docs`` bounds the rows of ``docs``."""
    from hh_rumors_presto_spark.operators.pairblocks import (
        blocked_pairs,
        overlap_pairs_fn,
    )

    lang = F.col("lang")
    prefix = F.concat(F.length(lang).cast("string"), F.lit(":"), lang, F.lit(":"))
    items = (
        # bind split() into a named column first — the bigram_shingles
        # perf contract (inline split re-evaluates inside the lambdas)
        docs.filter(lang.isNotNull())
        .select("doc_id", "lang", F.split("text", " ").alias("toks"))
        .select(
            F.col("doc_id").alias("id"),
            F.transform(
                bigram_shingles(F.col("toks")), lambda sh: F.concat(prefix, sh)
            ).alias("vids"),
        )
    )
    return blocked_pairs(
        items,
        overlap_pairs_fn(float_threshold=0.05, emit_jaccard=True),
        "id_a long, id_b long, jaccard double",
        n_docs,
    ).select(
        F.col("id_a").alias("doc_a"),
        F.col("id_b").alias("doc_b"),
        "jaccard",
    )


def _minhash_sig_sql() -> str:
    """Oracle SQL producing the 8 minhash values per doc over BIGRAM
    shingles (unigram token sets are degenerate on a small vocabulary —
    every doc looks like every other; bigrams restore discrimination).
    Mirrors the Spark side's one-md5 + affine universal-hash family."""
    hashes = ",\n           ".join(
        f"min(({MINHASH_A[s]} * (base % {MINHASH_P}) + {MINHASH_B[s]}) % {MINHASH_P}) AS h{s}"
        for s in range(N_MINHASH)
    )
    return f"""
    SELECT doc_id,
           {hashes}
    FROM (SELECT doc_id,
                 CAST(('0x' || substring(md5(tok), 1, 15)) AS BIGINT) AS base
          FROM (SELECT doc_id,
                       unnest(list_distinct(list_transform(
                           generate_series(1, len(string_split(text,' ')) - 1),
                           i -> string_split(text,' ')[i] || ' ' || string_split(text,' ')[i+1]
                       ))) AS tok
                FROM documents))
    GROUP BY doc_id
    """


@query(
    "dedup_minhash",
    oracle=f"""
    WITH sig AS ({_minhash_sig_sql()}),
    bands AS (
        SELECT doc_id, 0 AS band,
               md5(CAST(h0 AS VARCHAR) || ',' || CAST(h1 AS VARCHAR) || ','
                   || CAST(h2 AS VARCHAR) || ',' || CAST(h3 AS VARCHAR)) AS bucket FROM sig
        UNION ALL
        SELECT doc_id, 1,
               md5(CAST(h4 AS VARCHAR) || ',' || CAST(h5 AS VARCHAR) || ','
                   || CAST(h6 AS VARCHAR) || ',' || CAST(h7 AS VARCHAR)) FROM sig
    )
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM bands a JOIN bands b
      ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
    """,
)
def dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH candidate pairs: distinct tokens -> 8 md5-family min
    hashes -> 4 bands of 2 -> band-bucket equi-join -> distinct pairs.

    The hash family is engine-neutral (md5 prefix as int), so this LSH path
    is value-hash-verified against DuckDB rather than rows-only. Scale: the
    only joins are equi-joins on (band, bucket); no pair is ever formed
    outside a shared bucket.
    """
    docs = io.load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    tok = docs.select("doc_id", toks.alias("toks")).select(
        "doc_id", F.explode(bigram_shingles(F.col("toks"))).alias("tok")
    )
    base = _hex15_to_long(F.md5(F.col("tok")))
    sig = tok.select("doc_id", base.alias("base")).groupBy("doc_id").agg(
        *[
            F.min(_affine_hash(s, F.col("base"))).alias(f"h{s}")
            for s in range(N_MINHASH)
        ]
    )
    # Materialize the signature table once: it is tiny (N_MINHASH longs per
    # doc vs the exploded shingle stream) and both self-join sides need it.
    # Without this the scan+shingle+min-agg subtree runs once PER SIDE
    # (Spark does not reuse exchanges across self-join branches here) —
    # measured 2x end-to-end at sf0.1. Same pattern production LSH uses:
    # signatures are the thing you persist, shingles are never kept.
    sig = sig.localCheckpoint(eager=False)
    # one (band, bucket) struct per band, exploded from a single signature
    # row — NOT a per-band unionAll, which would re-run the whole
    # scan+shingle+agg subtree once per band per join side (4x the work;
    # with explode the two self-join sides are identical subtrees and the
    # signature shuffle is computed once and re-read via ReusedExchange).
    def band_struct(band: int):
        members = [f"h{band * MINHASH_ROWS + i}" for i in range(MINHASH_ROWS)]
        bucket = F.md5(
            F.concat_ws(",", *[F.col(h).cast("string") for h in members])
        )
        return F.struct(F.lit(band).alias("band"), bucket.alias("bucket"))

    bands = sig.select(
        "doc_id",
        F.explode(
            F.array(*[band_struct(b) for b in range(MINHASH_BANDS)])
        ).alias("bb"),
    ).select("doc_id", "bb.band", "bb.bucket")
    a, b = bands.alias("a"), bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )


N_SIMHASH_BITS = 16


_SIMHASH_BITS_SQL = ",\n           ".join(
    "CASE WHEN sum(CASE WHEN (CAST(('0x' || substring(md5('sim:' || tok), 1, 15)) AS BIGINT) "
    f"// {1 << b}) % 2 = 1 THEN 1 ELSE -1 END) > 0 THEN {1 << b} ELSE 0 END AS bit{b}"
    for b in range(N_SIMHASH_BITS)
)


@query(
    "dedup_simhash",
    oracle=f"""
    WITH bits AS (
        SELECT doc_id,
           {_SIMHASH_BITS_SQL}
        FROM (SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS tok
              FROM documents)
        GROUP BY doc_id
    )
    SELECT doc_id, ({" + ".join(f"bit{b}" for b in range(N_SIMHASH_BITS))}) AS simhash
    FROM bits
    """,
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash signatures: per bit, majority vote of token-hash bits
    (+1/-1 sum); signature = OR of winning bits. 16 bits here (enough to
    bucket near-dups); the same generator scales to 64 by changing
    N_SIMHASH_BITS. Near-dup candidates are then hamming-close signatures —
    bucketable by signature prefix at scale."""
    docs = io.load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id",
        F.explode(F.array_distinct(F.split("text", " "))).alias("tok"),
    )
    h = _tok_hash("im", F.col("tok"))  # seed string 'sim:' = 's' + 'im:'
    bit_cols = [
        F.when(
            F.sum(
                F.when((h.bitwiseAND(F.lit(1 << b))) != 0, 1).otherwise(-1)
            )
            > 0,
            F.lit(1 << b),
        )
        .otherwise(0)
        .alias(f"bit{b}")
        for b in range(N_SIMHASH_BITS)
    ]
    bits = tok.groupBy("doc_id").agg(*bit_cols)
    total = bits.columns[1:]
    sig = bits.select(
        "doc_id",
        sum([F.col(c) for c in total], F.lit(0)).alias("simhash"),
    )
    return sig


def _jaccard_pairs_sql(threshold: float = 0.05) -> str:
    """The dedup_ngram_jaccard pair set (shared CTE text for oracles)."""
    return f"""
    WITH sh AS ({_BIGRAM_SQL}),
    counts AS (SELECT doc_id, len(shingles) AS n FROM sh),
    inv AS (SELECT doc_id, lang, unnest(shingles) AS shingle FROM sh),
    inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
        FROM inv a JOIN inv b
          ON a.shingle = b.shingle AND a.lang = b.lang AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    ),
    pairs AS (
        SELECT i.doc_a, i.doc_b
        FROM inter i
        JOIN counts ca ON ca.doc_id = i.doc_a
        JOIN counts cb ON cb.doc_id = i.doc_b
        WHERE CAST(i.n_common AS DOUBLE) / (ca.n + cb.n - i.n_common) >= {threshold}
    )
    """


@query(
    "dedup_clusters",
    oracle=(_jaccard_pairs_sql()
    + """
    , nodes AS (SELECT doc_id FROM sh),
    bidir AS (
        SELECT doc_a AS a, doc_b AS b FROM pairs
        UNION ALL
        SELECT doc_b, doc_a FROM pairs
    ),
    reach AS (
        SELECT a, b FROM bidir
        UNION
        SELECT r.a, e.b FROM reach r JOIN bidir e ON r.b = e.a
    )
    SELECT n.doc_id,
           least(n.doc_id, coalesce(min(r.b), n.doc_id)) AS cluster_id
    FROM nodes n LEFT JOIN reach r ON r.a = n.doc_id
    GROUP BY n.doc_id
    """).replace("WITH sh AS", "WITH RECURSIVE sh AS", 1),
)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTERS: connected components over the Jaccard pair
    graph (operators.components.connected_components). Cluster id = min
    doc_id in the component; singleton docs cluster to themselves.

    The oracle computes the same components with a recursive CTE — the
    batch-SQL expression of the fixpoint."""
    # checkpoint the pair list: every propagation step reads it instead
    # of re-running the expensive shingle-inverted-index join
    pairs = (
        dedup_ngram_jaccard(spark, sf_dir)
        .select("doc_a", "doc_b")
        .localCheckpoint()
    )
    nodes = (
        io.load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 5 == 0)
        .select("doc_id")
    )
    return connected_components(pairs, nodes).select(
        F.col("node").alias("doc_id"), F.col("component").alias("cluster_id")
    )


@query(
    "dedup_incremental",
    oracle="""
    WITH corpus AS (
        SELECT md5(text) AS fp FROM documents WHERE doc_id % 10 <> 0
    ),
    batch AS (
        SELECT doc_id, lang, md5(text) AS fp FROM documents WHERE doc_id % 10 = 0
    )
    SELECT b.doc_id, b.lang,
           b.fp IN (SELECT fp FROM corpus) AS already_present
    FROM batch b
    """,
)
def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-ingest dedup: an incoming batch (doc_id % 10 = 0 as the
    stand-in) checked against the existing corpus by content fingerprint —
    the daily-ingest admission step, vs dedup_exact's within-corpus sweep.
    Shape: the corpus side reduces to distinct fingerprints before the
    join (one groupBy), then a fingerprint equi-join marks presence; at
    100 TB the fingerprint set is the thing you maintain incrementally
    (a bloom/bucketed fp table), never the raw corpus."""
    docs = io.load_table(spark, sf_dir, "documents")
    corpus_fp = (
        docs.filter(F.col("doc_id") % 10 != 0)
        .select(F.md5("text").alias("fp"))
        .distinct()
        .withColumn("present", F.lit(True))
    )
    batch = docs.filter(F.col("doc_id") % 10 == 0).select(
        "doc_id", "lang", F.md5("text").alias("fp")
    )
    return batch.join(corpus_fp, "fp", "left").select(
        "doc_id",
        "lang",
        F.coalesce("present", F.lit(False)).alias("already_present"),
    )


_ALLDOC_BIGRAM_SQL = """
    SELECT doc_id,
           list_distinct(list_transform(
               generate_series(1, len(string_split(text,' ')) - 1),
               i -> string_split(text,' ')[i] || ' ' || string_split(text,' ')[i+1]
           )) AS shingles
    FROM documents
"""


@query(
    "dedup_minhash_recall",
    oracle=f"""
    WITH sig AS ({_minhash_sig_sql()}),
    bands AS (
        SELECT doc_id, 0 AS band,
               md5(CAST(h0 AS VARCHAR) || ',' || CAST(h1 AS VARCHAR) || ','
                   || CAST(h2 AS VARCHAR) || ',' || CAST(h3 AS VARCHAR)) AS bucket FROM sig
        UNION ALL
        SELECT doc_id, 1,
               md5(CAST(h4 AS VARCHAR) || ',' || CAST(h5 AS VARCHAR) || ','
                   || CAST(h6 AS VARCHAR) || ',' || CAST(h7 AS VARCHAR)) FROM sig
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a JOIN bands b
          ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
    ),
    sh AS ({_ALLDOC_BIGRAM_SQL}),
    counts AS (SELECT doc_id, len(shingles) AS n FROM sh),
    inv AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh),
    inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
        FROM inv a JOIN inv b
          ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    truth AS (
        SELECT i.doc_a, i.doc_b
        FROM inter i
        JOIN counts ca ON ca.doc_id = i.doc_a
        JOIN counts cb ON cb.doc_id = i.doc_b
        WHERE 2 * i.n_common >= ca.n + cb.n - i.n_common
    )
    SELECT 'minhash_2x4' AS method,
           CAST((SELECT count(*) FROM cand) AS BIGINT) AS n_candidates,
           CAST((SELECT count(*) FROM truth) AS BIGINT) AS n_truth,
           CAST((SELECT count(*) FROM cand c
                 JOIN truth t ON c.doc_a = t.doc_a AND c.doc_b = t.doc_b)
                AS BIGINT) AS n_hits,
           CAST((SELECT count(*) FROM cand c
                 JOIN truth t ON c.doc_a = t.doc_a AND c.doc_b = t.doc_b) AS DOUBLE)
               / (SELECT count(*) FROM truth) AS recall,
           CAST((SELECT count(*) FROM cand c
                 JOIN truth t ON c.doc_a = t.doc_a AND c.doc_b = t.doc_b) AS DOUBLE)
               / (SELECT count(*) FROM cand) AS precision
    """,
)
def dedup_minhash_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measured quality floor for the approximate dedup path (the
    dedup-side twin of sim_ann_recall): minhash-LSH candidate pairs
    (dedup_minhash's exact construction) scored against ground truth =
    bigram-Jaccard >= 0.5 pairs. Every input is deterministic, so the
    recall/precision numbers are value-hash-checkable and any change to
    the LSH path that silently degrades candidate quality fails the
    oracle. The truth threshold uses the rational form
    2*|A∩B| >= |A∪B| (no float compare on the boundary).

    Scale: ground truth needs the quadratic-mass inverted-index join, so
    at corpus scale this key runs on a SAMPLE to estimate recall (the
    standard practice); the candidate side is the production banded join
    unchanged. Measured on the fixtures: recall 0.96, precision 0.89 —
    consistent with the b=2/r=4 S-curve (~0.84 midpoint) against a 0.5
    truth threshold."""
    # r11: the inline truth build duplicated _bigram_jaccard_truth line
    # for line — route through the helper so both recall keys share the
    # single-task-explosion fix in one place.
    # r12 (guide §2.4): cand feeds two legs (n_candidates + hits) and
    # truth feeds two legs (n_truth + hits) — materialize each once
    # instead of re-running the LSH / truth subtrees per leg.
    cand = dedup_minhash(spark, sf_dir).localCheckpoint(eager=False)
    truth = _bigram_jaccard_truth(spark, sf_dir).localCheckpoint(eager=False)
    hits = cand.join(truth, ["doc_a", "doc_b"])
    n_cand = cand.agg(F.count("*").cast("long").alias("n_candidates"))
    n_truth = truth.agg(F.count("*").cast("long").alias("n_truth"))
    n_hits = hits.agg(F.count("*").cast("long").alias("n_hits"))
    return (
        n_cand.crossJoin(F.broadcast(n_truth))
        .crossJoin(F.broadcast(n_hits))
        .select(
            F.lit("minhash_2x4").alias("method"),
            "n_candidates",
            "n_truth",
            "n_hits",
            # try_divide: NULL when the corpus has zero truth pairs —
            # DuckDB's x/0 is NULL while plain `/` raises under ANSI
            # (crash-vs-NULL on an empty/near-dup-free corpus; r9 sf0
            # audit). Identical IEEE division whenever the divisor > 0.
            F.try_divide(F.col("n_hits").cast("double"), F.col("n_truth")).alias(
                "recall"
            ),
            F.try_divide(
                F.col("n_hits").cast("double"), F.col("n_candidates")
            ).alias("precision"),
        )
    )


@query(
    "dedup_lsh_bucket_stats",
    oracle=f"""
    WITH sig AS ({_minhash_sig_sql()}),
    bands AS (
        SELECT doc_id, 0 AS band,
               md5(CAST(h0 AS VARCHAR) || ',' || CAST(h1 AS VARCHAR) || ','
                   || CAST(h2 AS VARCHAR) || ',' || CAST(h3 AS VARCHAR)) AS bucket FROM sig
        UNION ALL
        SELECT doc_id, 1,
               md5(CAST(h4 AS VARCHAR) || ',' || CAST(h5 AS VARCHAR) || ','
                   || CAST(h6 AS VARCHAR) || ',' || CAST(h7 AS VARCHAR)) FROM sig
    ),
    sizes AS (
        SELECT band, bucket, count(*) AS sz FROM bands GROUP BY band, bucket
    )
    SELECT band, sz AS bucket_size,
           CAST(count(*) AS BIGINT) AS n_buckets,
           CAST(sum(sz * (sz - 1) / 2) AS BIGINT) AS candidate_pairs
    FROM sizes GROUP BY band, sz
    """,
)
def dedup_lsh_bucket_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucket-size distribution of the minhash-LSH bands — the skew
    diagnostic for the banded candidate join: per band, how many buckets
    exist at each occupancy and how many candidate pairs (sz choose 2)
    each size class contributes. At corpus scale this is the report that
    decides whether a hot bucket needs salting or a stop-shingle filter
    BEFORE the pair join runs — candidate cost is sum(sz^2), and this
    key makes that sum inspectable and regression-gated.

    Scale: signature build is the production path unchanged; the stats
    are two keyed aggregates over (band, bucket) — never the pair join
    itself."""
    docs = io.load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    tok = docs.select("doc_id", toks.alias("toks")).select(
        "doc_id", F.explode(bigram_shingles(F.col("toks"))).alias("tok")
    )
    base = _hex15_to_long(F.md5(F.col("tok")))
    sig = tok.select("doc_id", base.alias("base")).groupBy("doc_id").agg(
        *[
            F.min(_affine_hash(s, F.col("base"))).alias(f"h{s}")
            for s in range(N_MINHASH)
        ]
    )

    def band_bucket(band: int):
        members = [f"h{band * MINHASH_ROWS + i}" for i in range(MINHASH_ROWS)]
        return F.md5(
            F.concat_ws(",", *[F.col(h).cast("string") for h in members])
        )

    bands = sig.select(
        F.posexplode(
            F.array(*[band_bucket(b) for b in range(MINHASH_BANDS)])
        ).alias("band", "bucket")
    )
    sizes = bands.groupBy("band", "bucket").agg(F.count("*").alias("sz"))
    return sizes.groupBy("band", F.col("sz").alias("bucket_size")).agg(
        F.count("*").cast("long").alias("n_buckets"),
        F.sum(F.expr("sz * (sz - 1) DIV 2")).cast("long").alias(
            "candidate_pairs"
        ),
    )


def _bigram_jaccard_truth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ground-truth near-dup pairs: bigram-Jaccard >= 0.5 (rational
    threshold form 2*|A∩B| >= |A∪B| — no float compare on the boundary).
    At corpus scale the recall keys run this on a sample.

    The intersection counts are exact-integer block matmuls inside the
    per-(block-pair) workers of operators/pairblocks.py; only threshold
    survivors leave the workers, so no pair-sized exchange or aggregate
    appears in the plan."""
    from hh_rumors_presto_spark.operators.pairblocks import (
        blocked_pairs,
        overlap_pairs_fn,
    )

    return blocked_pairs(
        doc_bigram_items(spark, sf_dir),
        overlap_pairs_fn(rational=(1, 2)),
        "id_a long, id_b long",
        io.table_num_rows(sf_dir, "documents"),
    ).select(F.col("id_a").alias("doc_a"), F.col("id_b").alias("doc_b"))


def doc_bigram_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row per document: (id, vids = its distinct bigram shingles) —
    the item form the blocked pair workers consume.  Shared by
    _bigram_jaccard_truth (Jaccard >= 1/2) and dedup_ppjoin (>= 7/10)."""
    return (
        io.load_table(spark, sf_dir, "documents")
        # bind split() into a named column first — the bigram_shingles
        # perf contract (inline split re-evaluates inside the lambdas)
        .select("doc_id", F.split("text", " ").alias("toks"))
        .select(
            F.col("doc_id").alias("id"),
            bigram_shingles(F.col("toks")).alias("vids"),
        )
    )


_SIMHASH_HAMMING_MAX = 3


@query(
    "dedup_simhash_recall",
    oracle=f"""
    WITH bits AS (
        SELECT doc_id,
           {_SIMHASH_BITS_SQL}
        FROM (SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS tok
              FROM documents)
        GROUP BY doc_id
    ),
    sig AS (
        SELECT doc_id,
               ({" + ".join(f"bit{b}" for b in range(N_SIMHASH_BITS))}) AS simhash
        FROM bits
    ),
    bands AS (
        SELECT doc_id, 0 AS band, simhash % 256 AS bucket FROM sig
        UNION ALL
        SELECT doc_id, 1, simhash // 256 FROM sig
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a JOIN bands b
          ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
    ),
    close AS (
        SELECT c.doc_a, c.doc_b
        FROM cand c
        JOIN sig sa ON sa.doc_id = c.doc_a
        JOIN sig sb ON sb.doc_id = c.doc_b
        WHERE bit_count(xor(sa.simhash, sb.simhash)) <= {_SIMHASH_HAMMING_MAX}
    ),
    sh AS ({_ALLDOC_BIGRAM_SQL}),
    counts AS (SELECT doc_id, len(shingles) AS n FROM sh),
    inv AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh),
    inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
        FROM inv a JOIN inv b
          ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    truth AS (
        SELECT i.doc_a, i.doc_b
        FROM inter i
        JOIN counts ca ON ca.doc_id = i.doc_a
        JOIN counts cb ON cb.doc_id = i.doc_b
        WHERE 2 * i.n_common >= ca.n + cb.n - i.n_common
    )
    SELECT 'simhash_2x8_h{_SIMHASH_HAMMING_MAX}' AS method,
           CAST((SELECT count(*) FROM close) AS BIGINT) AS n_candidates,
           CAST((SELECT count(*) FROM truth) AS BIGINT) AS n_truth,
           CAST((SELECT count(*) FROM close c
                 JOIN truth t ON c.doc_a = t.doc_a AND c.doc_b = t.doc_b)
                AS BIGINT) AS n_hits,
           CAST((SELECT count(*) FROM close c
                 JOIN truth t ON c.doc_a = t.doc_a AND c.doc_b = t.doc_b) AS DOUBLE)
               / (SELECT count(*) FROM truth) AS recall
    """,
)
def dedup_simhash_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measured quality floor for the SIMHASH dedup path — the missing
    twin of dedup_minhash_recall, so BOTH approximate dedup families are
    regression-gated on candidate quality, not just row counts.

    Candidates are produced exactly the way a scaled simhash dedup would:
    band the 16-bit signature into two 8-bit buckets (pigeonhole: any
    pair within hamming distance 1 must share a band; larger distances
    are caught only probabilistically — that is the recall being
    measured), join within buckets, then keep pairs with exact
    popcount(xor) <= 3. Ground truth is the same bigram-Jaccard >= 0.5
    set the minhash floor uses, so the two families' numbers are directly
    comparable. All-integer signatures, so recall is value-hash-exact.

    Measured on the fixtures: recall 0.80 (20/25) — but 47,624
    candidates, i.e. candidate precision ~0.0004, against minhash's
    0.89. That asymmetry is the real lesson this floor pins: 16-bit
    simhash over a shared-vocabulary corpus collides catastrophically
    (5,142 pairs share the EXACT signature — majority votes over common
    tokens dominate every bit), which is exactly why production simhash
    uses 64-bit signatures with 4x16-bit bands. The key freezes the
    miniature's numbers so any change to the signature generator or the
    banding shows up as a value-hash failure, and the comparison with
    dedup_minhash_recall documents — as a gated number, not prose — that
    minhash, not simhash, is the right family at this signature width.

    Scale: band join + popcount filter is the mm_phash_dedup shape
    (Σ bucket², never n²); the quadratic ground truth exists only on
    this measurement key, sampled at corpus scale."""
    from hh_rumors_presto_spark.session import default_parallelism

    sig = dedup_simhash(spark, sf_dir)
    # r11 (guide §2.5): band rows are tiny at shuffle time, so AQE
    # coalesced the bucket self-join to one partition while 16-bit
    # simhash's catastrophic collisions (5,142 identical signatures)
    # make the within-bucket pair mass huge — the explosion ran
    # single-task. Explicit (band, bucket) repartition fans it out.
    bands = sig.select(
        "doc_id", F.lit(0).alias("band"), (F.col("simhash") % 256).alias("bucket")
    ).unionAll(
        sig.select(
            "doc_id",
            F.lit(1).alias("band"),
            (F.col("simhash") / 256).cast("long").alias("bucket"),
        )
    ).repartition(default_parallelism(), "band", "bucket")
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )
    sa, sb = sig.alias("sa"), sig.alias("sb")
    close = (
        cand.join(F.broadcast(sa), F.col("sa.doc_id") == F.col("doc_a"))
        .join(F.broadcast(sb), F.col("sb.doc_id") == F.col("doc_b"))
        .filter(
            F.bit_count(
                F.col("sa.simhash").bitwiseXOR(F.col("sb.simhash"))
            )
            <= _SIMHASH_HAMMING_MAX
        )
        .select("doc_a", "doc_b")
        # r12 A/B: close feeds two legs, but a lazy checkpoint here is
        # noise (7.15 vs 7.39 s sf0.1 warm min-of-3 — the band subtree
        # is cheap) and it hides the gated bit_count filter from the
        # pre-execution plan; truth below is the expensive leg and IS
        # materialized once.
    )
    truth = _bigram_jaccard_truth(spark, sf_dir).localCheckpoint(eager=False)
    hits = close.join(truth, ["doc_a", "doc_b"])
    n_cand = close.agg(F.count("*").cast("long").alias("n_candidates"))
    n_truth = truth.agg(F.count("*").cast("long").alias("n_truth"))
    n_hits = hits.agg(F.count("*").cast("long").alias("n_hits"))
    return (
        n_cand.crossJoin(F.broadcast(n_truth))
        .crossJoin(F.broadcast(n_hits))
        .select(
            F.lit(f"simhash_2x8_h{_SIMHASH_HAMMING_MAX}").alias("method"),
            "n_candidates",
            "n_truth",
            "n_hits",
            # NULL-on-zero-truth like the minhash twin (r9 sf0 audit)
            F.try_divide(F.col("n_hits").cast("double"), F.col("n_truth")).alias(
                "recall"
            ),
        )
    )
