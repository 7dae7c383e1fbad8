"""Driver-contract query registry: every operator from SURVEY.md §2 as a
(spark_fn, oracle_sql) pair over the driver's testdata tables.

Each Spark implementation and its ANSI-SQL oracle are generated from the
SAME constants (term lists, thresholds, hash construction, float expression
shapes), so results are bit-identical — verified by the driver's
row-count + schema + value-hash compare at sf=0.01 (CORRECTNESS_r{N}.json).

Float discipline (why the hashes match without rounding):
- ln / sqrt / IEEE +-*/ are bit-identical across Spark JVM, DuckDB and
  Python libm on this platform (verified empirically in tests).
- every multi-term score sum is accumulated in an EXPLICIT fixed order
  (CASE-pivot + left-to-right COALESCE chain) on both sides — never an
  unordered SQL SUM over floats.
- portable 60-bit hash = first 15 hex chars of md5, via Spark `conv` and a
  generated base-16 Horner chain in SQL.

Query groups:
- core search-engine ops (SURVEY.md §2.1-2.7): hygiene filter, tokenize+tf,
  term/doc/corpus stats, top-terms, source stats, any/conjunctive match,
  BM25 top-k, reference TF-sum relevance (IndexRepository.java:14-20).
- the real index engine end-to-end (build → varbyte postings → BM25 WAND
  scoring) checked against the same SQL oracle — rank AND score identical.
- training-data pipeline ops: exact dedup, n-gram jaccard pairs, MinHash
  signatures + LSH candidate pairs, SimHash, embedding cosine top-k,
  bucketed ANN, language-ID, quality scoring, token counts, fingerprints.
"""

from __future__ import annotations

import hashlib
import math
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .functions.analyzer import (
    STOPWORDS,
    analyze_text,
    lemma_case_sql,
    lemmas_list_sql,
    tokens_cte_sql,
    terms_col,
)
from .functions.phrase import min_distance_col, phrase_count_col
from .operators.index_build import (
    B, BLANK_CLASS, K1, build_index, nonblank_text,
)
from .operators.query import SearchEngine

# ---------------------------------------------------------------------------
# Fixed constants shared by Spark impls and SQL oracles
# ---------------------------------------------------------------------------
QUERY_TERMS = ("spark", "window", "customer")  # df-asc at sf0.01: 385/387/394
RARE_QUERY_TERMS = ("dup", "spark")            # rare (df=25) + hot
ANY_TERMS = ("vector", "stream", "filter")
JACCARD_THRESHOLD = 0.95
N_MINHASH = 16
N_BANDS = 8          # bands of 2 rows each
LSH_BUCKET_CAP = 64  # drop band buckets larger than this before the pair join
SIMHASH_BITS = 16
ANN_SIGN_DIMS = 8
ANN_PROBES = 1 + ANN_SIGN_DIMS  # query bucket + all Hamming-1 neighbors
EMBED_BUCKET_CAP = 1024  # sign-bucket cap for the near-dup self-join
TOPK = 10
FP_MOD = 1_000_000_007
BUILD_TAG = "v6"     # bump to invalidate cached /tmp indexes (v6: min_dl block bound)

_WS = "[ \\t\\n\\r]+"  # explicit class: java regex \s and RE2 \s differ on \x0B

LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "de": ("der", "die", "das", "und", "ist", "nicht"),
    "en": ("the", "and", "is", "a", "of", "to"),
    "es": ("el", "los", "y", "es", "que", "una"),
    "fr": ("le", "la", "et", "est", "les", "une"),
}
_CJK = f"{chr(0x4E00)}-{chr(0x9FFF)}"
_ASCII_LETTERS = (
    "ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz"
)


# ---------------------------------------------------------------------------
# Shared SQL fragments (DuckDB; `documents` is a pre-registered view)
# ---------------------------------------------------------------------------
def _base_ctes(table: str = "documents") -> str:
    # dl/stats cover the HYGIENE-FILTERED corpus (same predicate as
    # clean_transcripts / q_clean_docs) so BM25 n_docs/avgdl agree with the
    # real engine's corpus_stats even when the corpus contains blank docs.
    # ``table`` lets derived corpora (e.g. the skew-stress entry's sdocs
    # CTE) reuse the whole analyzer/stats chain unchanged.
    toks = tokens_cte_sql(table)
    return f"""
toks AS ({toks}),
tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
dl AS (
    SELECT d.doc_id, COALESCE(t.dl, 0) AS dl
    FROM {table} d
    LEFT JOIN (SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY 1) t USING (doc_id)
    WHERE d.text IS NOT NULL AND regexp_replace(d.text, '{BLANK_CLASS}', '', 'g') <> ''
),
stats AS (SELECT COUNT(*) AS n_docs, AVG(dl) AS avgdl FROM dl),
dft AS (SELECT term, COUNT(*) AS df, CAST(SUM(tf) AS BIGINT) AS cf FROM tf GROUP BY 1)
"""


def _hex2int_sql(hexpr: str) -> str:
    """Base-16 Horner chain: first 15 hex chars of a 32-char md5 -> bigint.
    Bit-identical to Spark conv(substring(md5(x),1,15),16,10)::long."""
    parts = [
        f"(strpos('0123456789abcdef', substr({hexpr}, {i + 1}, 1)) - 1) * {16 ** (14 - i)}"
        for i in range(15)
    ]
    return "(" + " + ".join(parts) + ")"


def _in_list(terms) -> str:
    return ", ".join(f"'{t}'" for t in terms)


def _score_sql(mode: str) -> str:
    """Per-(doc,term) partial score — expression order mirrors the engine's
    numpy exactly (operators/query.py decode_score)."""
    # NB: every float literal is ::DOUBLE — DuckDB parses bare 1.2 as
    # DECIMAL and decimal-exact arithmetic diverges from IEEE by one ulp.
    if mode == "bm25":
        idf = ("ln(1 + (stats.n_docs - dft.df + 0.5::DOUBLE) / "
               "(dft.df + 0.5::DOUBLE))")
        return (
            f"{idf} * (tf.tf * ({K1}::DOUBLE + 1)) / "
            f"(tf.tf + {K1}::DOUBLE * (1 - {B}::DOUBLE + "
            f"({B}::DOUBLE * dl.dl) / stats.avgdl))"
        )
    # relevance_ref: SUM(tf)/max_tf_sum (IndexRepository.java:14-20);
    # max_tf_sum == max doc length since dl = sum of all tfs in the doc
    return "tf.tf / (SELECT CAST(MAX(dl) AS DOUBLE) FROM dl)"


def _topk_sql(terms_df_asc, mode: str, k: int = TOPK,
              conjunctive: bool = True, offset: int = 0,
              pre_cte: str = "", table: str = "documents",
              extra_pred: str = "") -> str:
    """CASE-pivot + fixed-order COALESCE sum + conjunctive filter + top-k.
    ``pre_cte`` (e.g. "sdocs AS (...),") + ``table`` point the whole chain
    at a derived corpus; ``extra_pred`` ANDs onto the partials WHERE
    (e.g. a scope restriction)."""
    n = len(terms_df_asc)
    cases = ", ".join(
        f"MAX(CASE WHEN term = '{t}' THEN s END) AS s{i}"
        for i, t in enumerate(terms_df_asc)
    )
    total = " + ".join(f"COALESCE(s{i}, 0.0)" for i in range(n))
    notnull = (
        " AND ".join(f"s{i} IS NOT NULL" for i in range(n))
        if conjunctive
        else "TRUE"
    )
    pred = f" AND {extra_pred}" if extra_pred else ""
    off = f" OFFSET {offset}" if offset else ""
    return f"""
WITH {pre_cte}{_base_ctes(table)},
partials AS (
    SELECT tf.doc_id, tf.term, {_score_sql(mode)} AS s
    FROM tf
    JOIN dft USING (term)
    JOIN dl ON tf.doc_id = dl.doc_id
    CROSS JOIN stats
    WHERE tf.term IN ({_in_list(terms_df_asc)}){pred}
),
pivoted AS (SELECT doc_id, {cases} FROM partials GROUP BY doc_id)
SELECT doc_id, {total} AS score
FROM pivoted
WHERE {notnull}
ORDER BY score DESC, doc_id ASC
LIMIT {k}{off}
"""


def _maxdf_topk_sql(terms, cutoff: int, mode: str = "bm25",
                    k: int = TOPK) -> str:
    """P3 oracle that derives the surviving (df < cutoff) term set AND its
    df-asc accumulation order from the same dft CTE the scores use — no
    hardcoded survivor list, so it tracks the engine's pruning at any
    scale factor (ADVICE r2: the sf0.01-hardcoded list silently diverged
    elsewhere). list(s ORDER BY df, term) + list_reduce reproduces the
    engine's left-to-right df-asc COALESCE float order exactly: a term
    missing from a doc contributes literally +0.0 in the engine, which is
    an IEEE no-op on the positive partials, so folding only the present
    terms in the same order is bit-identical."""
    return f"""
WITH {_base_ctes()},
partials AS (
    SELECT tf.doc_id, tf.term, dft.df, {_score_sql(mode)} AS s
    FROM tf
    JOIN dft USING (term)
    JOIN dl ON tf.doc_id = dl.doc_id
    CROSS JOIN stats
    WHERE tf.term IN ({_in_list(terms)}) AND dft.df < {cutoff}
),
n_surv AS (
    SELECT COUNT(*) AS n FROM dft
    WHERE term IN ({_in_list(terms)}) AND df < {cutoff}
),
agg AS (
    SELECT doc_id, list(s ORDER BY df ASC, term ASC) AS ss,
           COUNT(*) AS n_present
    FROM partials GROUP BY doc_id
)
SELECT doc_id, list_reduce(ss, (a, b) -> a + b) AS score
FROM agg CROSS JOIN n_surv
WHERE n_present = n_surv.n
ORDER BY score DESC, doc_id ASC
LIMIT {k}
"""


# ---------------------------------------------------------------------------
# Shared Spark fragments
# ---------------------------------------------------------------------------
def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def _toks(docs: DataFrame) -> DataFrame:
    """(doc_id, term), one row per token occurrence — JVM-side analyzer
    (whole-stage codegen; identical to the pandas-UDF path by test)."""
    return docs.select("doc_id", F.explode(terms_col(F.col("text"))).alias("term"))


def _tf(docs: DataFrame) -> DataFrame:
    return _toks(docs).groupBy("doc_id", "term").agg(F.count("*").alias("tf"))


def _clean_pred():
    """The P1 hygiene predicate (mirrors index_build.clean_transcripts).
    Built lazily — Column construction needs an active session."""
    return nonblank_text()


def _dl(docs: DataFrame) -> DataFrame:
    """Per-doc token count over the hygiene-filtered corpus, INCLUDING
    zero-token (but non-blank) docs — the engine's corpus view."""
    clean = docs.filter(_clean_pred())
    counts = _toks(clean).groupBy("doc_id").agg(F.count("*").alias("_c"))
    return clean.select("doc_id").join(counts, "doc_id", "left").select(
        "doc_id", F.coalesce(F.col("_c"), F.lit(0)).alias("dl")
    )


def _hash_col(c) -> F.Column:
    """Portable 60-bit hash (see _hex2int_sql)."""
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long")


def _topk_spark(
    spark: SparkSession, sf_dir: str, terms, mode: str, k: int = TOPK
) -> DataFrame:
    """DataFrame-native scoring pipeline (no posting index): tokenize → tf →
    stats → fixed-order pivot sum → TakeOrderedAndProject top-k."""
    docs = _docs(spark, sf_dir)
    # materialize tf once (localCheckpoint): stats collection + scoring all
    # derive from it, so the tokenize+explode shuffle runs exactly once
    tf = _tf(docs).localCheckpoint()
    # stats over the hygiene-filtered corpus — identical to the engine's
    # corpus_stats (clean_transcripts) so engine_* entries share this oracle
    dl = docs.filter(_clean_pred()).select("doc_id").join(
        tf.groupBy("doc_id").agg(F.sum("tf").alias("_c")), "doc_id", "left"
    ).select("doc_id", F.coalesce(F.col("_c"), F.lit(0)).alias("dl"))
    row = dl.agg(F.count("*").alias("n"), F.avg("dl").alias("a"),
                 F.max("dl").alias("m")).collect()[0]
    n_docs, avgdl, max_dl = int(row["n"]), float(row["a"]), int(row["m"])

    dfs = {
        r["term"]: int(r["df"])
        for r in tf.filter(F.col("term").isin(list(terms)))
        .groupBy("term").agg(F.count("*").alias("df")).collect()
    }
    ordered = sorted([t for t in terms if t in dfs], key=lambda t: (dfs[t], t))
    if not ordered:
        return spark.createDataFrame([], "doc_id long, score double")

    part = tf.filter(F.col("term").isin(ordered)).join(dl, "doc_id")
    if mode == "bm25":
        idf = {t: math.log(1.0 + (n_docs - dfs[t] + 0.5) / (dfs[t] + 0.5))
               for t in ordered}
        idf_col = F.create_map(
            *[x for t in ordered for x in (F.lit(t), F.lit(idf[t]))]
        )[F.col("term")]
        s = (
            idf_col * (F.col("tf") * F.lit(K1 + 1))
            / (F.col("tf") + F.lit(K1) * (F.lit(1 - B) + (F.lit(B) * F.col("dl")) / F.lit(avgdl)))
        )
    else:
        s = F.col("tf") / F.lit(float(max_dl))
    part = part.select("doc_id", "term", s.alias("s"))

    aggs = [
        F.max(F.when(F.col("term") == t, F.col("s"))).alias(f"s{i}")
        for i, t in enumerate(ordered)
    ]
    pivoted = part.groupBy("doc_id").agg(*aggs)
    score = F.lit(None).cast("double")
    score = F.coalesce(F.col("s0"), F.lit(0.0))
    for i in range(1, len(ordered)):
        score = score + F.coalesce(F.col(f"s{i}"), F.lit(0.0))
    cond = F.lit(True)
    for i in range(len(ordered)):
        cond = cond & F.col(f"s{i}").isNotNull()
    return (
        pivoted.filter(cond)
        .select("doc_id", score.alias("score"))
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
    )


# ---------------------------------------------------------------------------
# Real-engine path: adapt the driver's documents table to the transcript
# input shape (BASELINE.json input_hint), build the inverted index once per
# sf_dir (cached in /tmp, manifest-resumable), query it.
# ---------------------------------------------------------------------------
def _tagged_index_dir(sf_dir: str, tag: str = "") -> str:
    """Cache dir for a gate entry's throwaway index build, keyed on the
    build recipe (BUILD_TAG), the corpus dir, and the entry's ``tag``
    (incr/scope/cpct/skew builds diverge from the plain one)."""
    sel = f"{tag}:" if tag else ""
    key = hashlib.md5(f"{BUILD_TAG}:{sel}{sf_dir}".encode()).hexdigest()[:10]
    return f"/tmp/ses_index_{key}"


def _index_dir(sf_dir: str) -> str:
    return _tagged_index_dir(sf_dir)


def documents_as_transcripts(docs: DataFrame) -> DataFrame:
    """documents(doc_id, text, ...) -> transcripts(conv_id, turn_idx, ...).
    One synthetic conversation; turn_idx = original doc_id, so the engine's
    dense doc_id order equals the original order (stable tie-breaks)."""
    return docs.select(
        F.lit("corpus").alias("conv_id"),
        F.col("doc_id").cast("int").alias("turn_idx"),
        F.lit("user").alias("role"),
        F.col("text"),
        F.lit(None).cast("string").alias("tool"),
        F.lit("2025-01-01 00:00:00").cast("timestamp").alias("ts"),
    )


def ensure_index(spark: SparkSession, sf_dir: str) -> str:
    out = _index_dir(sf_dir)
    build_index(
        spark,
        documents_as_transcripts(_docs(spark, sf_dir)),
        out,
        resume=True,  # no-op when the manifest says every stage is DONE
    )
    return out


def _engine_topk(
    spark: SparkSession, sf_dir: str, terms, mode: str, k: int = TOPK,
    conjunctive: bool = True, max_df: int | None = None, offset: int = 0,
    plan: str | None = None,
) -> DataFrame:
    eng = SearchEngine(spark, ensure_index(spark, sf_dir))
    ids = eng.search_ids(" ".join(terms), k=k, mode=mode,
                         conjunctive=conjunctive, max_df=max_df,
                         offset=offset, plan=plan)
    remap = eng.documents.select("doc_id", "turn_idx")
    return (
        ids.join(remap, "doc_id")
        .select(F.col("turn_idx").cast("long").alias("doc_id"), "score")
        .orderBy(F.desc("score"), F.asc("doc_id"))
    )


# ---------------------------------------------------------------------------
# Individual queries — core relational ops
# ---------------------------------------------------------------------------
def q_clean_docs(spark, sf_dir):
    """P1 hygiene filter + P6 projection (EntitySaver.java:51 analog)."""
    return (
        _docs(spark, sf_dir)
        .filter(nonblank_text())
        .select("doc_id", "lang", "source", "n_chars")
    )


SQL_CLEAN_DOCS = f"""
SELECT doc_id, lang, source, n_chars
FROM documents
WHERE text IS NOT NULL AND regexp_replace(text, '{BLANK_CLASS}', '', 'g') <> ''
"""


def q_tokenize_tf(spark, sf_dir):
    """A1/T3: per-(doc, term) term frequency (LemmaFinderImpl.java:19-39)."""
    return _tf(_docs(spark, sf_dir)).select("doc_id", "term", "tf")


SQL_TOKENIZE_TF = f"WITH {_base_ctes()} SELECT doc_id, term, tf FROM tf"


def q_term_stats(spark, sf_dir):
    """A2: term dictionary — df (EntitySaver.java:88-101 semantics) + cf."""
    return (
        _tf(_docs(spark, sf_dir))
        .groupBy("term")
        .agg(F.count("*").alias("df"), F.sum("tf").alias("cf"))
    )


SQL_TERM_STATS = f"WITH {_base_ctes()} SELECT term, df, cf FROM dft"


def q_doc_stats(spark, sf_dir):
    """A3: per-doc token count dl (BM25 doc length; IndexRepository.java:14)."""
    return _dl(_docs(spark, sf_dir))


SQL_DOC_STATS = f"WITH {_base_ctes()} SELECT doc_id, dl FROM dl"


def q_corpus_stats(spark, sf_dir):
    """A4: global scalars (n_docs, avgdl, max_dl)."""
    return _dl(_docs(spark, sf_dir)).agg(
        F.count("*").alias("n_docs"),
        F.avg("dl").alias("avgdl"),
        F.max("dl").alias("max_dl"),
    )


SQL_CORPUS_STATS = (
    f"WITH {_base_ctes()} "
    "SELECT COUNT(*) AS n_docs, AVG(dl) AS avgdl, MAX(dl) AS max_dl FROM dl"
)


def q_top_terms(spark, sf_dir):
    """O1-O3: terms by df desc (reference orders ASC for scheduling —
    LemmaRepository.java:20; the report view shows the head)."""
    return (
        q_term_stats(spark, sf_dir)
        .orderBy(F.desc("df"), F.asc("term"))
        .limit(20)
    )


SQL_TOP_TERMS = (
    f"WITH {_base_ctes()} SELECT term, df, cf FROM dft "
    "ORDER BY df DESC, term ASC LIMIT 20"
)


def q_source_stats(spark, sf_dir):
    """A6: per-source doc + token counts (StatisticsServiceImpl.java:69-77)."""
    docs = _docs(spark, sf_dir)
    return (
        docs.join(_dl(docs), "doc_id")
        .groupBy("source")
        .agg(F.count("*").alias("n_docs"), F.sum("dl").alias("n_tokens"))
    )


SQL_SOURCE_STATS = f"""
WITH {_base_ctes()}
SELECT d.source, COUNT(*) AS n_docs, CAST(SUM(dl.dl) AS BIGINT) AS n_tokens
FROM documents d JOIN dl ON d.doc_id = dl.doc_id
GROUP BY 1
"""


def q_any_match(spark, sf_dir):
    """J1: disjunctive candidate retrieval (PageRepository.java:24-29)."""
    return (
        _tf(_docs(spark, sf_dir))
        .filter(F.col("term").isin(list(ANY_TERMS)))
        .groupBy("doc_id")
        .agg(
            F.countDistinct("term").alias("n_terms"),
            F.sum("tf").alias("sum_tf"),
        )
    )


SQL_ANY_MATCH = f"""
WITH {_base_ctes()}
SELECT doc_id, COUNT(DISTINCT term) AS n_terms, CAST(SUM(tf) AS BIGINT) AS sum_tf
FROM tf WHERE term IN ({_in_list(ANY_TERMS)}) GROUP BY 1
"""


def q_conjunctive_match(spark, sf_dir):
    """J2/U2: docs containing ALL query terms (SearchServiceImpl.java:155-168
    loop → one groupBy-having shuffle)."""
    n = len(QUERY_TERMS)
    return (
        _tf(_docs(spark, sf_dir))
        .filter(F.col("term").isin(list(QUERY_TERMS)))
        .groupBy("doc_id")
        .agg(F.countDistinct("term").alias("n_terms"))
        .filter(F.col("n_terms") == n)
        .select("doc_id")
    )


SQL_CONJUNCTIVE = f"""
WITH {_base_ctes()}
SELECT doc_id FROM tf WHERE term IN ({_in_list(QUERY_TERMS)})
GROUP BY 1 HAVING COUNT(DISTINCT term) = {len(QUERY_TERMS)}
"""


def _both_variants_topk(spark, sf_dir, terms, mode):
    """One gate row, BOTH implementations (VERDICT r4 ask #7 — the
    DataFrame-native/engine twin entries folded into parametrized
    variants, halving gate-window pressure with no capability loss):
    the DataFrame-native fixed-order pipeline and the REAL engine
    (varbyte postings → decode → pivot) answer the same query; the
    oracle cross-joins its single result block with both variant labels,
    so EACH variant must independently hash-match the same SQL rows."""
    native = _topk_spark(spark, sf_dir, terms, mode).select(
        F.lit("native").alias("variant"), "doc_id", "score"
    )
    engine = _engine_topk(spark, sf_dir, terms, mode).select(
        F.lit("engine").alias("variant"), "doc_id", "score"
    )
    return native.unionByName(engine)


def _variant_sql(inner: str) -> str:
    return (
        f"WITH r AS ({inner}) SELECT v.variant, r.doc_id, r.score "
        "FROM r CROSS JOIN (VALUES ('native'), ('engine')) v(variant)"
    )


def q_bm25_topk(spark, sf_dir):
    """BM25 top-k: DataFrame-native pipeline AND the real engine
    end-to-end (index build → delta+varbyte postings → decoded-block
    scoring), score-identical to one SQL oracle (_both_variants_topk)."""
    return _both_variants_topk(spark, sf_dir, QUERY_TERMS, "bm25")


def q_relevance_ref_topk(spark, sf_dir):
    """Reference TF-sum relevance (IndexRepository.java:14-20) top-k,
    native + engine variants under one row (_both_variants_topk)."""
    return _both_variants_topk(spark, sf_dir, QUERY_TERMS, "relevance_ref")


def q_engine_bm25_topk(spark, sf_dir):
    """The REAL engine end-to-end — kept as the flagship entry()
    callable (driver smoke check at sf0.001); gate coverage rides the
    folded q_bm25_topk variant row."""
    return _engine_topk(spark, sf_dir, QUERY_TERMS, "bm25")


def q_engine_rare_topk(spark, sf_dir):
    """Engine top-k for a rare+hot query (df-asc ordering, O1)."""
    return _engine_topk(spark, sf_dir, RARE_QUERY_TERMS, "bm25")


HOT_QUERY_TERM = "batch"  # highest-df dictionary term at sf0.01 (402)


def q_engine_hot_topk(spark, sf_dir):
    """Single hot-term query through the two-pass block-max plan
    (query.py _single_term_topk, forced on), using the stored
    block_max_score bound (the gate index is freshly built, so the
    stats_epoch handshake validates it). The oracle is the plain
    single-term SQL scorer — green pins the seed/keep-test PLAN to the
    exact result at gate scale. At sf0.01 the term has ~4 blocks < k,
    so actual block SKIPPING (and the drift-immune fallback bound) are
    exercised by tests/test_query.py and the fallback twin below, not
    by this row alone."""
    return _engine_topk(
        spark, sf_dir, (HOT_QUERY_TERM,), "bm25", plan="blockmax"
    )


def q_engine_hot_fallback_topk(spark, sf_dir):
    """The SAME hot-term block-max query with the stored-bound validity
    forced off, so the plan runs on the drift-immune max_tf/min_dl
    metadata bound — the post-incremental-merge configuration. Same
    oracle: both bounds must be exact, only their tightness differs."""
    eng = SearchEngine(spark, ensure_index(spark, sf_dir))
    eng._stored_bmx_valid = False  # what an epoch mismatch sets up
    ids = eng.search_ids(HOT_QUERY_TERM, k=TOPK, mode="bm25",
                         plan="blockmax")
    remap = eng.documents.select("doc_id", "turn_idx")
    return (
        ids.join(remap, "doc_id")
        .select(F.col("turn_idx").cast("long").alias("doc_id"), "score")
        .orderBy(F.desc("score"), F.asc("doc_id"))
    )


def q_engine_disjunctive(spark, sf_dir):
    """Engine top-k under ANY-match (disjunctive) semantics — J1 retrieval
    without the intersection step; block-range pruning disabled (it is
    only lossless under conjunction)."""
    return _engine_topk(
        spark, sf_dir, RARE_QUERY_TERMS, "bm25", conjunctive=False
    )


HOT_DISJ_TERMS = ("spark", "batch")  # df-asc at sf0.01: 385 / 402 — hottest


def q_engine_hot_disjunctive(spark, sf_dir):
    """Hot 2-term OR query through the two-pass MaxScore bound-sum plan
    (query.py _maxscore_topk, forced on): per-term block bounds fold into
    a coarse doc_id grid, a per-term seed decode sets tau, buckets whose
    bound SUM < tau are dropped whole, and the classic disjunctive plan
    runs over the surviving doc_id spans — SURVEY.md §7.3's "block-max
    WAND" promise for the multi-term case (the reference's rarest-first
    loop SearchServiceImpl.java:160-166 generalized to OR semantics it
    never had). The oracle is the plain disjunctive SQL scorer — green
    pins the whole prune-then-decode plan to the exact result. Actual
    bucket DROPPING needs tf spread and is exercised by
    tests/test_query.py::test_maxscore_actually_prunes_and_stays_exact;
    at sf0.01 every bucket competes (near-uniform tfs) and the sweep
    keeps them all — correct, just nothing to skip at gate scale."""
    return _engine_topk(
        spark, sf_dir, HOT_DISJ_TERMS, "bm25", conjunctive=False,
        plan="maxscore",
    )


MAX_DF_CUTOFF = 390  # prunes 'customer' (df=394) at sf0.01, keeps 385/387


def q_engine_maxdf_topk(spark, sf_dir):
    """P3 df-cutoff: terms with df >= max_df are EXCLUDED from scoring but
    do not empty the result (the reference's pickNonFrequent,
    SearchServiceImpl.java:169-178). At sf0.01 'customer' is pruned, so
    the oracle scores only the two surviving terms."""
    return _engine_topk(
        spark, sf_dir, QUERY_TERMS, "bm25", max_df=MAX_DF_CUTOFF
    )


PAGE_OFFSET = 5


def q_engine_paged_topk(spark, sf_dir):
    """O3 offset pagination (SearchServiceImpl.java:78,88-89): ranks
    offset+1..offset+k of the same deterministic ordering."""
    return _engine_topk(
        spark, sf_dir, QUERY_TERMS, "bm25", k=5, offset=PAGE_OFFSET
    )


def q_engine_incremental_stats(spark, sf_dir):
    """S3/S4/J4 — the reference's single-page re-index merge
    (IndexationServiceImpl.java:119-131 + EntitySaver.java:35-54) under the
    driver gate, not just pytest: build a BASE index over 80% of the corpus
    (doc_id % 5 != 0), merge the remaining 20% via incremental_update
    (hygiene → anti-join → new part → stats recompute → manifest commit),
    and return the FINAL index's term dictionary. Oracle = the plain
    term_stats SQL over the whole corpus — green iff base-build + merge is
    exactly equivalent to indexing everything at once (drift-free df,
    SURVEY.md §7.5). Replay-safe for repeated driver runs: the base build
    resumes off its manifest and the merge batch anti-joins to a no-op."""
    from .operators.incremental import incremental_update

    out = _tagged_index_dir(sf_dir, "incr")
    docs = _docs(spark, sf_dir)
    base = documents_as_transcripts(docs.filter(F.col("doc_id") % 5 != 0))
    inc = documents_as_transcripts(docs.filter(F.col("doc_id") % 5 == 0))
    build_index(spark, base, out, resume=True)
    incremental_update(spark, inc, out)
    return (
        spark.read.parquet(f"{out}/term_stats")
        .select("term", "df", "cf")
    )


def q_engine_upsert_stats(spark, sf_dir):
    """S4/J4 upsert — the reference's re-index-page REPLACE
    (IndexationServiceImpl.java:119-131: deleteAllByPageId + re-add)
    under the driver gate: build a base index over a CORRUPTED corpus
    (every doc_id % 7 == 3 carries a stale marker text), then upsert the
    TRUE rows with incremental_update(upsert=True) — each stale doc's id
    joins the delete vector (operators/deletes.py, Iceberg merge-on-read
    shape) and its true text is indexed as a new doc; a key whose truth
    is hygiene-blank is deleted WITHOUT re-add (the "page now empty"
    case). Returns the final LIVE term dictionary (the vector-subtracted
    stats the upsert's stats writer persists). Oracle = plain term_stats SQL over
    the true corpus — green iff corrupt-build + upsert is exactly
    equivalent to indexing the truth from scratch. Replay-safe: the base
    build resumes off its manifest and a re-upsert of already-true rows
    anti-joins to a no-op."""
    from .operators.incremental import incremental_update

    out = _tagged_index_dir(sf_dir, "upsert")
    truth = documents_as_transcripts(_docs(spark, sf_dir))
    corrupted = truth.withColumn(
        "text",
        F.when(
            F.col("turn_idx") % 7 == 3,
            F.lit("zzstale zzstale corrupt marker filler row"),
        ).otherwise(F.col("text")),
    )
    build_index(spark, corrupted, out, resume=True)
    incremental_update(spark, truth, out, upsert=True)
    return (
        spark.read.parquet(f"{out}/term_stats")
        .select("term", "df", "cf")
    )


def q_engine_delete_stats(spark, sf_dir):
    """Targeted deletion under the gate — the standalone half of the
    reference's deleteAllByPageId (IndexationServiceImpl.java:119-123,
    e.g. a takedown / right-to-be-forgotten request): build the full
    index, delete every doc_id % 9 == 4 turn via delete_docs (one
    merge-on-read deletes-only commit, operators/deletes.py), and return
    the LIVE term dictionary. Oracle = term_stats SQL over the corpus
    WITHOUT those rows — green iff full-build + targeted delete is
    exactly equivalent to never indexing them (df/cf subtraction, stats
    rewrite, vector-masked reads). Replay-safe: the build resumes off
    its manifest and a re-delete matches nothing live (no empty batch is
    committed)."""
    from .operators.incremental import delete_docs

    out = _tagged_index_dir(sf_dir, "del")
    truth = documents_as_transcripts(_docs(spark, sf_dir))
    build_index(spark, truth, out, resume=True)
    keys = truth.filter(F.col("turn_idx") % 9 == 4).select(
        "conv_id", "turn_idx"
    )
    delete_docs(spark, keys, out)
    return (
        spark.read.parquet(f"{out}/term_stats")
        .select("term", "df", "cf")
    )


def q_engine_cdc_stats(spark, sf_dir):
    """CDC apply under the gate (VERDICT r4 ask #3) — one change stream
    carrying the index's whole mutation surface through apply_cdc_batch
    (operators/incremental.py; the reference's re-index/delete surface
    IndexationServiceImpl.java:119-131 generalized to the Iceberg/Delta
    APPLY CHANGES shape). Base index = the corpus with doc_id % 11 == 5
    rows CORRUPTED (stale marker text) and % 11 == 7 rows ABSENT; the
    CDC batch then carries, in ONE frame: 'I' inserts of the absent
    rows, 'U' upserts fixing the corrupted rows, 'D' deletes of
    % 11 == 2, and the same-batch CONFLICT keys % 11 == 3 arriving as
    BOTH a (genuinely changed-text) 'U' and a 'D' — the conflict rule
    says deletes win, so they must end gone despite the real
    replacement riding the same batch. Returns the live term
    dictionary; oracle = term_stats SQL over the net corpus (truth
    minus % 11 in (2, 3)) — green iff corrupt-build + one CDC batch is
    exactly equivalent to indexing the net truth from scratch. Replays
    converge: re-'U' of live same-text keys anti-joins away, re-'U' of
    the deleted conflict keys re-inserts them and the same batch's 'D'
    re-deletes them — term_stats is a fixpoint."""
    from .operators.incremental import apply_cdc_batch

    out = _tagged_index_dir(sf_dir, "cdc")
    truth = documents_as_transcripts(_docs(spark, sf_dir))
    m = F.col("turn_idx") % 11
    base = truth.filter(m != 7).withColumn(
        "text",
        F.when(
            m == 5, F.lit("zzstale zzstale corrupt marker filler row")
        ).otherwise(F.col("text")),
    )
    build_index(spark, base, out, resume=True)
    batch = (
        truth.filter(m == 7).withColumn("op", F.lit("I"))
        .unionByName(truth.filter(m == 5).withColumn("op", F.lit("U")))
        .unionByName(
            # conflict keys: a REAL replacement (changed text, so the
            # upsert half is not a no-op) and a delete in the same batch
            truth.filter(m == 3)
            .withColumn("text", F.concat(F.col("text"), F.lit(" zzcdcconflict")))
            .withColumn("op", F.lit("U"))
        )
        .unionByName(truth.filter(m == 2).withColumn("op", F.lit("D")))
        .unionByName(truth.filter(m == 3).withColumn("op", F.lit("D")))
    )
    apply_cdc_batch(spark, batch, out)
    return (
        spark.read.parquet(f"{out}/term_stats")
        .select("term", "df", "cf")
    )


SQL_CDC_STATS = f"""WITH ndocs AS (
    SELECT * FROM documents WHERE doc_id % 11 NOT IN (2, 3)
), {_base_ctes("ndocs")} SELECT term, df, cf FROM dft"""


def q_engine_tombstone_stats(spark, sf_dir):
    """Takedown tombstone lifecycle under the gate (VERDICT r4 ask #5):
    delete_docs(tombstone=True) on every doc_id % 13 == 6 turn, then a
    REPLAYED ingest of exactly those rows — the tombstone filter must
    drop every one (asserted: new_docs == 0; without it the replay would
    silently resurrect taken-down keys), then clear_tombstones lifts the
    takedown for the % 26 == 6 half and a second replay re-indexes ONLY
    that half. Returns the live term dictionary; oracle = term_stats SQL
    over the corpus without the still-tombstoned % 26 == 19 rows.
    Replay-safe for repeated gate runs: the re-delete re-tombstones and
    re-deletes the restored half, so every run walks the same
    delete -> blocked-replay -> partial-clear -> restore cycle to the
    same fixpoint."""
    from .operators.incremental import delete_docs, incremental_update

    out = _tagged_index_dir(sf_dir, "tomb")
    truth = documents_as_transcripts(_docs(spark, sf_dir))
    build_index(spark, truth, out, resume=True)
    taken = truth.filter(F.col("turn_idx") % 13 == 6)
    delete_docs(
        spark, taken.select("conv_id", "turn_idx"), out, tombstone=True
    )
    res = incremental_update(spark, taken, out)  # replayed batch
    assert res["new_docs"] == 0, (
        f"tombstoned keys resurrected by replay: {res}"
    )
    from .operators.deletes import clear_tombstones

    lifted = taken.filter(F.col("turn_idx") % 26 == 6)
    clear_tombstones(spark, lifted.select("conv_id", "turn_idx"), out)
    incremental_update(spark, taken, out)  # only the lifted half lands
    return (
        spark.read.parquet(f"{out}/term_stats")
        .select("term", "df", "cf")
    )


SQL_TOMBSTONE_STATS = f"""WITH ndocs AS (
    SELECT * FROM documents WHERE doc_id % 26 <> 19
), {_base_ctes("ndocs")} SELECT term, df, cf FROM dft"""


SCOPE_PREFIX = "src1"  # matches src1, src10..src19 — 11 sources, 275 docs


def ensure_scoped_index(spark: SparkSession, sf_dir: str) -> str:
    """The multi-source index layout shared by the scoped and facet
    entries: conv_id = the documents ``source`` column (each source is
    one 'site'), built as base (80%) + incremental append (20%) so a
    conv-prefix scope owns TWO disjoint doc_id runs. Replay-safe: the
    build resumes as a no-op and the merge anti-joins to empty."""
    from .operators.incremental import incremental_update

    docs = _docs(spark, sf_dir)
    transcripts = docs.select(
        F.col("source").alias("conv_id"),
        F.col("doc_id").cast("int").alias("turn_idx"),
        F.lit("user").alias("role"),
        F.col("text"),
        F.lit(None).cast("string").alias("tool"),
        F.lit("2025-01-01 00:00:00").cast("timestamp").alias("ts"),
    )
    out = _tagged_index_dir(sf_dir, "scope2")
    build_index(
        spark, transcripts.filter(F.col("turn_idx") % 5 != 0), out,
        resume=True,
    )
    incremental_update(
        spark, transcripts.filter(F.col("turn_idx") % 5 == 0), out
    )
    return out


def q_engine_scoped_topk(spark, sf_dir):
    """P4 site-scoped search through the ENGINE (the reference restricts
    a search to one site when given, SearchServiceImpl.java:105-114 —
    our site analog is the documents `source` column, mapped to conv_id
    so each source is one 'site'). doc_ids are dense in (conv_id,
    turn_idx) order WITHIN each build batch, so a conv-prefix scope is
    one contiguous doc_id run PER BATCH, pushed into the postings scan
    as an OR-of-ranges predicate (row-group pruning) instead of a join
    against the doc store — at 100 TB a scope costs one boundary
    lookup, not a shuffle. The index here is deliberately built as base
    (80%) + incremental append (20%), so the scope owns TWO disjoint
    runs and the naive [min, max] envelope would admit out-of-scope
    docs (code-review r3 fix) — the oracle is layout-independent, so
    bit-equality proves the run-exact path. Scoring statistics stay
    GLOBAL (scope excludes candidates, it does not re-derive idf —
    documented deviation from the reference's per-site lemma
    frequencies). Oracle = the plain scorer with the same scope
    predicate on the partials."""
    eng = SearchEngine(spark, ensure_scoped_index(spark, sf_dir))
    scope_runs = eng._scope_ranges(SCOPE_PREFIX)
    assert scope_runs is not None and len(scope_runs) == 2, (
        f"scoped entry expected 2 doc_id runs (base + append), got "
        f"{scope_runs}"
    )
    ids = eng.search_ids(
        " ".join(QUERY_TERMS), k=TOPK, mode="bm25", scope=SCOPE_PREFIX
    )
    remap = eng.documents.select("doc_id", "turn_idx")
    return (
        ids.join(remap, "doc_id")
        .select(F.col("turn_idx").cast("long").alias("doc_id"), "score")
        .orderBy(F.desc("score"), F.asc("doc_id"))
    )


def q_engine_compacted_topk(spark, sf_dir):
    """The full MUTATE lifecycle under the gate (S4/S6/J4 + compaction):
    build a base index over 80% of the corpus in 3 parts, merge the
    remaining 20% via incremental_update (appends a 4th part), compact
    the 4-part layout down to 2 balanced parts
    (operators/compaction.py — staging-derived rebuild + atomic swap +
    manifest rewrite), then answer the standard 3-term BM25 query
    through the compacted index. Oracle = the SAME SQL scorer as
    engine_bm25_topk: scores must be bit-exact through append + part
    renumbering + re-salting, proving part layout is invisible to
    results. Replay-safe: resume no-ops the build, the merge anti-joins
    to empty, and re-compaction 2->2 is idempotent."""
    from .operators.compaction import compact_index
    from .operators.incremental import incremental_update

    out = _tagged_index_dir(sf_dir, "cpct")
    docs = _docs(spark, sf_dir)
    base = documents_as_transcripts(docs.filter(F.col("doc_id") % 5 != 0))
    inc = documents_as_transcripts(docs.filter(F.col("doc_id") % 5 == 0))
    build_index(spark, base, out, n_parts=3, resume=True)
    incremental_update(spark, inc, out)
    compact_index(spark, out, n_parts=2)
    eng = SearchEngine(spark, out)
    ids = eng.search_ids(" ".join(QUERY_TERMS), k=TOPK, mode="bm25")
    remap = eng.documents.select("doc_id", "turn_idx")
    return (
        ids.join(remap, "doc_id")
        .select(F.col("turn_idx").cast("long").alias("doc_id"), "score")
        .orderBy(F.desc("score"), F.asc("doc_id"))
    )


def q_engine_snapshot_topk(spark, sf_dir):
    """Time travel under the gate (operators/snapshots.py — the Iceberg
    snapshot-log shape the north rule's table format implies): build a
    BASE index over 80% of the corpus (commits snapshot v1), append the
    remaining 20% via incremental_update (commits v2 — HEAD now has more
    docs, a bigger dictionary, different df/avgdl/n_docs, so EVERY BM25
    score changed), then answer the standard 3-term query AS-OF the
    build snapshot. Oracle = the SQL scorer over ONLY the base docs —
    green iff the as-of engine reproduces the pre-append index
    bit-exactly (pinned stats epoch copy, part_id membership filter,
    pinned documents file list). A leak of even one appended posting or
    the post-append stats into the as-of read shifts scores and fails
    the hash. Replay-safe: resume no-ops the build (idempotent snapshot
    commit), the merge anti-joins to empty, and the build snapshot is
    addressed as the OLDEST retained id, not a hardcoded 1."""
    from .operators.incremental import incremental_update
    from .operators.snapshots import list_snapshots

    out = _tagged_index_dir(sf_dir, "snap")
    docs = _docs(spark, sf_dir)
    base = documents_as_transcripts(docs.filter(F.col("doc_id") % 5 != 0))
    inc = documents_as_transcripts(docs.filter(F.col("doc_id") % 5 == 0))
    build_index(spark, base, out, n_parts=2, resume=True)
    incremental_update(spark, inc, out)
    snaps = list_snapshots(out)
    assert snaps[0]["operation"] == "build" and len(snaps) == 2, snaps
    eng = SearchEngine(spark, out, snapshot_id=snaps[0]["snapshot_id"])
    ids = eng.search_ids(" ".join(QUERY_TERMS), k=TOPK, mode="bm25")
    # the as-of documents view carries the PRE-append doc_id mapping
    remap = eng.documents.select("doc_id", "turn_idx")
    return (
        ids.join(remap, "doc_id")
        .select(F.col("turn_idx").cast("long").alias("doc_id"), "score")
        .orderBy(F.desc("score"), F.asc("doc_id"))
    )


# the as-of oracle scores the BASE corpus only; df-asc order of the query
# terms over bdocs at sf0.01 is spark(310) < window(311) < customer(313) —
# same order as the full corpus, so _oracle_terms_sorted() carries over
SNAP_PRE_CTE = "bdocs AS (SELECT * FROM documents WHERE doc_id % 5 <> 0), "


SKEW_TERM = "zzhot"    # appended to EVERY doc -> df == n_docs (worst Zipf head)
SKEW_SALT_BUDGET = 64  # df=500 at sf0.01 -> ceil(500/64) = 8 salt subranges


def q_engine_skew_topk(spark, sf_dir):
    """Adversarial-skew stress under the gate: a corpus where ONE term
    (`zzhot`) appears in EVERY document — df = n_docs, the worst possible
    Zipf head, the distribution the 100 TB salting story exists for. The
    build runs with salt_budget=64 so the hot term's postings are split
    into 8 contiguous doc_id subranges per part (range salting,
    index_build.py:636-645); the conjunctive query includes the hot term,
    so scoring must decode and concatenate ALL salted segments (plus
    block-range skip over the rarest term) and still produce bit-exact
    BM25. Oracle = the plain SQL scorer over the same derived corpus —
    salting is invisible to results or it is broken."""
    docs = _docs(spark, sf_dir).withColumn(
        "text", F.concat(F.col("text"), F.lit(" " + SKEW_TERM))
    )
    out = _tagged_index_dir(sf_dir, "skew")
    build_index(
        spark,
        documents_as_transcripts(docs),
        out,
        resume=True,
        salt_budget=SKEW_SALT_BUDGET,
    )
    eng = SearchEngine(spark, out)
    ids = eng.search_ids(
        " ".join(QUERY_TERMS + (SKEW_TERM,)), k=TOPK, mode="bm25"
    )
    remap = eng.documents.select("doc_id", "turn_idx")
    return (
        ids.join(remap, "doc_id")
        .select(F.col("turn_idx").cast("long").alias("doc_id"), "score")
        .orderBy(F.desc("score"), F.asc("doc_id"))
    )


# NULL text stays NULL through || on both engines, so the hygiene filter
# sees the same corpus; whitespace-only docs become non-blank identically
SKEW_PRE_CTE = (
    f"sdocs AS (SELECT doc_id, text || ' {SKEW_TERM}' AS text "
    "FROM documents), "
)


# batch workload: three queries of different widths (3-term, 2-term,
# 1-term) sharing the 'spark' posting list, so the batch path must both
# pad the pivot (orders a short query never emits coalesce to +0.0) and
# fan one decoded block out to multiple subscribing queries
BATCH_QUERIES: dict[str, list[str]] = {
    "multi": list(QUERY_TERMS),
    "rare": list(RARE_QUERY_TERMS),
    "single": ["window"],
}


def q_engine_batch_topk(spark, sf_dir):
    """Batched multi-query scoring (SearchEngine.search_many): ALL queries
    of an offline workload scored in ONE Spark job — union-vocabulary
    scan, each posting block decoded once and fanned out to every
    subscribing query, per-query conjunctive filter + fixed-order float
    sum, per-query top-k via row_number (WindowGroupLimit: partial top-k
    before the shuffle). The throughput shape for eval suites / query-log
    replays over a 100 TB index, where the sequential path would pay
    ~0.5 s of driver fixed cost per query. Oracle = UNION ALL of the
    per-query single-search oracles — green iff batching is bit-invisible
    to every query's ranking and scores."""
    eng = SearchEngine(spark, ensure_index(spark, sf_dir))
    res = eng.search_many(
        {qid: " ".join(ts) for qid, ts in BATCH_QUERIES.items()}, k=TOPK
    )
    remap = eng.documents.select("doc_id", "turn_idx")
    return (
        res.join(remap, "doc_id")
        .select(
            "query_id",
            F.col("turn_idx").cast("long").alias("doc_id"),
            "score",
        )
        .orderBy("query_id", F.desc("score"), F.asc("doc_id"))
    )


def _batch_topk_sql() -> str:
    parts = [
        f"SELECT '{qid}' AS query_id, doc_id, score "
        f"FROM ({_topk_sql(terms, 'bm25')})"
        for qid, terms in BATCH_QUERIES.items()
    ]
    return (
        " UNION ALL ".join(parts)
        + " ORDER BY query_id, score DESC, doc_id ASC"
    )


# ---------------------------------------------------------------------------
# Positional fulltext ops (beyond the reference: functions/phrase.py) and
# dictionary prefix expansion (SearchEngine.search_prefix)
# ---------------------------------------------------------------------------
PHRASE_TERMS = ("spark", "table", "hash")  # 8 contiguous-run hits at sf0.01
PROX_TERMS = ("spark", "window")
PROX_WINDOW = 3
PREFIX_QUERY = "s"  # expands to 6 dictionary terms at sf0.01


def q_phrase_match(spark, sf_dir):
    """Exact-phrase search: docs whose ANALYZED lemma sequence contains
    PHRASE_TERMS contiguously, with the (overlap-counted) occurrence
    count. Pure Catalyst over the lemma array — one narrow scan, no
    shuffle, no Python (functions/phrase.py)."""
    occ = phrase_count_col(terms_col(F.col("text")), PHRASE_TERMS)
    return (
        _docs(spark, sf_dir)
        .select("doc_id", occ.cast("long").alias("n_occurrences"))
        .filter(F.col("n_occurrences") >= 1)
    )


def _sql_phrase_match() -> str:
    m = len(PHRASE_TERMS)
    cond = " AND ".join(
        f"lem[i + {j}] = '{t}'" for j, t in enumerate(PHRASE_TERMS)
    )
    return f"""
WITH lem AS (SELECT doc_id, {lemmas_list_sql()} AS lem FROM documents),
occ AS (
    SELECT doc_id,
           CAST(len(list_filter(
               range(1, greatest(len(lem) - {m - 1}, 0) + 1),
               i -> {cond})) AS BIGINT) AS n_occurrences
    FROM lem
)
SELECT doc_id, n_occurrences FROM occ WHERE n_occurrences >= 1
"""


def q_proximity_match(spark, sf_dir):
    """Proximity search: docs where the two PROX_TERMS lemmas co-occur
    within PROX_WINDOW tokens, with the minimum token distance. Same
    narrow-scan shape as phrase_match."""
    mind = min_distance_col(terms_col(F.col("text")), *PROX_TERMS)
    return (
        _docs(spark, sf_dir)
        .select("doc_id", mind.cast("long").alias("min_dist"))
        .filter(F.col("min_dist") <= PROX_WINDOW)
    )


def _sql_proximity_match() -> str:
    a, b = PROX_TERMS
    pair_min = (
        "list_min(flatten(list_transform(pa, i -> "
        "list_transform(pb, j -> abs(i - j)))))"
    )
    return f"""
WITH lem AS (SELECT doc_id, {lemmas_list_sql()} AS lem FROM documents),
pos AS (
    SELECT doc_id,
           list_filter(range(1, len(lem) + 1), i -> lem[i] = '{a}') AS pa,
           list_filter(range(1, len(lem) + 1), i -> lem[i] = '{b}') AS pb
    FROM lem
),
d AS (
    SELECT doc_id, CAST({pair_min} AS BIGINT) AS min_dist
    FROM pos WHERE len(pa) > 0 AND len(pb) > 0
)
SELECT doc_id, min_dist FROM d WHERE min_dist <= {PROX_WINDOW}
"""


def q_engine_phrase_topk(spark, sf_dir):
    """Indexed phrase search, candidate-first (SearchEngine.search_phrase):
    BM25 candidates for the phrase's lemmas come THROUGH the index
    (classic conjunctive plan, uncut), and the contiguous-run phrase test
    is a residual Catalyst filter on the candidate join — no full-corpus
    re-analysis in the plan (q_phrase_match above keeps that naive shape
    as the baseline; PERF.md documents the trade vs positions-in-codec).
    The oracle derives the SAME candidate scores (df-asc list_reduce over
    the dft CTE) and intersects them with the SQL phrase filter — green
    pins candidate generation, residual filtering, and float accumulation
    together."""
    eng = SearchEngine(spark, ensure_index(spark, sf_dir))
    ids = eng.search_phrase(" ".join(PHRASE_TERMS), k=TOPK)
    remap = eng.documents.select("doc_id", "turn_idx")
    return (
        ids.join(remap, "doc_id")
        .select(F.col("turn_idx").cast("long").alias("doc_id"), "score")
        .orderBy(F.desc("score"), F.asc("doc_id"))
    )


def _engine_phrase_sql(k: int = TOPK) -> str:
    """Conjunctive BM25 over the phrase's distinct lemmas (df-asc derived
    accumulation, as _maxdf_topk_sql) restricted to docs whose lemma
    sequence contains the phrase contiguously (as _sql_phrase_match)."""
    m = len(PHRASE_TERMS)
    cond = " AND ".join(
        f"lem[i + {j}] = '{t}'" for j, t in enumerate(PHRASE_TERMS)
    )
    distinct = sorted(set(PHRASE_TERMS))
    return f"""
WITH {_base_ctes()},
lemx AS (SELECT doc_id, {lemmas_list_sql()} AS lem FROM documents),
pdocs AS (
    SELECT doc_id FROM lemx
    WHERE len(list_filter(
        range(1, greatest(len(lem) - {m - 1}, 0) + 1), i -> {cond})) >= 1
),
partials AS (
    SELECT tf.doc_id, tf.term, dft.df, {_score_sql("bm25")} AS s
    FROM tf
    JOIN dft USING (term)
    JOIN dl ON tf.doc_id = dl.doc_id
    CROSS JOIN stats
    WHERE tf.term IN ({_in_list(distinct)})
),
agg AS (
    SELECT doc_id, list(s ORDER BY df ASC, term ASC) AS ss,
           COUNT(*) AS n_present
    FROM partials GROUP BY doc_id
)
SELECT g.doc_id, list_reduce(ss, (a, b) -> a + b) AS score
FROM agg g JOIN pdocs USING (doc_id)
WHERE n_present = {len(distinct)}
ORDER BY score DESC, doc_id ASC
LIMIT {k}
"""


def ensure_pos_index(spark: SparkSession, sf_dir: str) -> str:
    """A second cached index built with store_positions=True (tagged dir;
    the plain-index cache stays untouched) — the positional-phrase gate
    entry runs against it."""
    out = _tagged_index_dir(sf_dir, tag="pos")
    build_index(
        spark,
        documents_as_transcripts(_docs(spark, sf_dir)),
        out,
        resume=True,
        store_positions=True,
    )
    return out


def q_engine_phrase_pos_topk(spark, sf_dir):
    """Indexed phrase search over a store_positions=True index: same
    candidate-first composition as q_engine_phrase_topk, but the phrase
    test is evaluated FROM THE INDEX — the phrase lemmas' position
    streams decode from the same range-pruned blocks and the contiguity
    check runs as a JVM higher-order array expression; the doc store is
    never scanned (operators/query.py:search_phrase via_positions path;
    the positional-index plan SURVEY.md §7.3 trades ~index size for).
    Shares q_engine_phrase_topk's oracle: the two plans must be
    bit-identical, so a green row pins the positions codec roundtrip,
    the pivot/contiguity expression, and the score path together."""
    eng = SearchEngine(spark, ensure_pos_index(spark, sf_dir))
    assert eng.has_positions
    ids = eng.search_phrase(" ".join(PHRASE_TERMS), k=TOPK)
    remap = eng.documents.select("doc_id", "turn_idx")
    return (
        ids.join(remap, "doc_id")
        .select(F.col("turn_idx").cast("long").alias("doc_id"), "score")
        .orderBy(F.desc("score"), F.asc("doc_id"))
    )


def ensure_pos_incr_index(spark: SparkSession, sf_dir: str) -> str:
    """A positions index assembled by MAINTENANCE, not one build: base
    store_positions=True build over 80% of the corpus (doc_id % 5 != 0),
    then incremental_update folds the remaining 20% in — the new part's
    blocks gain the same positions stream (operators/incremental.py).
    Replay-safe like the other tagged builds: the base build resumes off
    its manifest, the merge batch anti-joins to a no-op."""
    from .operators.incremental import incremental_update

    out = _tagged_index_dir(sf_dir, tag="posincr")
    docs = _docs(spark, sf_dir)
    base = documents_as_transcripts(docs.filter(F.col("doc_id") % 5 != 0))
    inc = documents_as_transcripts(docs.filter(F.col("doc_id") % 5 == 0))
    build_index(spark, base, out, resume=True, store_positions=True)
    incremental_update(spark, inc, out)
    return out


def q_engine_phrase_incr_topk(spark, sf_dir):
    """Indexed phrase search over a positions index that was EXTENDED BY
    incremental_update (S3/S4/J4 × the positional layout): the appended
    part's blocks must carry the same delta-varbyte positions stream the
    base build wrote, or the phrase reader silently skips its docs (the
    layout-uniformity invariant the old maintenance refusal guarded by
    fiat; operators/incremental.py now propagates it instead). Shares
    q_engine_phrase_topk's full-corpus oracle — green iff base + merged
    part answer phrase queries exactly like a one-shot positional build
    of everything (positions re-encode, df recompute, and the contiguity
    expression all included). doc ids differ between the two layouts;
    turn_idx carries the original id, so the remap is layout-free."""
    eng = SearchEngine(spark, ensure_pos_incr_index(spark, sf_dir))
    assert eng.has_positions
    ids = eng.search_phrase(" ".join(PHRASE_TERMS), k=TOPK)
    remap = eng.documents.select("doc_id", "turn_idx")
    return (
        ids.join(remap, "doc_id")
        .select(F.col("turn_idx").cast("long").alias("doc_id"), "score")
        .orderBy(F.desc("score"), F.asc("doc_id"))
    )


def q_engine_prox_pos_topk(spark, sf_dir):
    """Indexed proximity search over a store_positions=True index
    (SearchEngine.search_proximity, VERDICT r4 ask #4): BM25 candidates
    for the two PROX_TERMS come THROUGH the index (classic conjunctive
    plan), and the within-PROX_WINDOW test is evaluated FROM THE INDEX —
    both lemmas' position streams decode from the same range-pruned
    blocks and the |i-j| <= w check runs as a JVM higher-order array
    expression; the doc store is never scanned (q_proximity_match keeps
    the full-corpus text-scan shape as the naive baseline). Oracle
    derives the same candidate scores (df-asc accumulation over the dft
    CTE) intersected with the SQL min-distance filter — green pins
    candidate generation, the positions codec roundtrip, the window
    expression, and float accumulation together."""
    eng = SearchEngine(spark, ensure_pos_index(spark, sf_dir))
    assert eng.has_positions
    ids = eng.search_proximity(*PROX_TERMS, window=PROX_WINDOW, k=TOPK)
    remap = eng.documents.select("doc_id", "turn_idx")
    return (
        ids.join(remap, "doc_id")
        .select(F.col("turn_idx").cast("long").alias("doc_id"), "score")
        .orderBy(F.desc("score"), F.asc("doc_id"))
    )


def _engine_prox_sql(k: int = TOPK) -> str:
    """Conjunctive BM25 over the two PROX_TERMS (df-asc derived
    accumulation, as _engine_phrase_sql) restricted to docs whose lemma
    sequence has the terms within PROX_WINDOW tokens (as
    _sql_proximity_match)."""
    a, b = PROX_TERMS
    distinct = sorted(PROX_TERMS)
    pair_min = (
        "list_min(flatten(list_transform(pa, i -> "
        "list_transform(pb, j -> abs(i - j)))))"
    )
    return f"""
WITH {_base_ctes()},
lemx AS (SELECT doc_id, {lemmas_list_sql()} AS lem FROM documents),
pos AS (
    SELECT doc_id,
           list_filter(range(1, len(lem) + 1), i -> lem[i] = '{a}') AS pa,
           list_filter(range(1, len(lem) + 1), i -> lem[i] = '{b}') AS pb
    FROM lemx
),
pdocs AS (
    SELECT doc_id FROM pos
    WHERE len(pa) > 0 AND len(pb) > 0 AND {pair_min} <= {PROX_WINDOW}
),
partials AS (
    SELECT tf.doc_id, tf.term, dft.df, {_score_sql("bm25")} AS s
    FROM tf
    JOIN dft USING (term)
    JOIN dl ON tf.doc_id = dl.doc_id
    CROSS JOIN stats
    WHERE tf.term IN ({_in_list(distinct)})
),
agg AS (
    SELECT doc_id, list(s ORDER BY df ASC, term ASC) AS ss,
           COUNT(*) AS n_present
    FROM partials GROUP BY doc_id
)
SELECT g.doc_id, list_reduce(ss, (a, b) -> a + b) AS score
FROM agg g JOIN pdocs USING (doc_id)
WHERE n_present = {len(distinct)}
ORDER BY score DESC, doc_id ASC
LIMIT {k}
"""


SUFFIX_QUERY = "er"  # expands to customer/order/filter at sf0.01


def q_engine_suffix_topk(spark, sf_dir):
    """Leading-wildcard search (`*er`) through the engine
    (SearchEngine.search_suffix): dictionary expansion by suffix +
    disjunctive BM25 with the df-asc fixed-order accumulation, same
    loud expansion cap as prefix. Oracle derives the same expansion set
    (term LIKE '%er') and accumulation order from its dft CTE, so the
    entry is green only if expansion, ordering, and float accumulation
    all agree."""
    eng = SearchEngine(spark, ensure_index(spark, sf_dir))
    ids = eng.search_suffix(SUFFIX_QUERY, k=TOPK)
    remap = eng.documents.select("doc_id", "turn_idx")
    return (
        ids.join(remap, "doc_id")
        .select(F.col("turn_idx").cast("long").alias("doc_id"), "score")
        .orderBy(F.desc("score"), F.asc("doc_id"))
    )


def q_engine_prefix_topk(spark, sf_dir):
    """Dictionary prefix expansion (J3 surface) + disjunctive BM25 through
    the REAL engine: search_prefix expands PREFIX_QUERY against
    term_stats, orders expansions df-asc, and scores with the classic
    plan. Oracle derives the same expansion set and accumulation order
    from its dft CTE (term LIKE prefix%), so the entry is green only if
    expansion, ordering, and float accumulation all agree."""
    eng = SearchEngine(spark, ensure_index(spark, sf_dir))
    ids = eng.search_prefix(PREFIX_QUERY, k=TOPK)
    remap = eng.documents.select("doc_id", "turn_idx")
    return (
        ids.join(remap, "doc_id")
        .select(F.col("turn_idx").cast("long").alias("doc_id"), "score")
        .orderBy(F.desc("score"), F.asc("doc_id"))
    )


def _prefix_topk_sql(prefix: str, mode: str = "bm25", k: int = TOPK) -> str:
    """Disjunctive analog of _maxdf_topk_sql: survivors = dictionary terms
    with the prefix, accumulation = df-asc (ties term-asc) list_reduce —
    bit-identical to the engine's COALESCE chain (+0.0 for a term missing
    from a doc is an IEEE no-op on the positive partials)."""
    return _affix_topk_sql(f"{prefix}%", mode, k)


def _suffix_topk_sql(suffix: str, mode: str = "bm25", k: int = TOPK) -> str:
    """The leading-wildcard twin: survivors = dictionary terms ENDING
    with the suffix, same derived accumulation order."""
    return _affix_topk_sql(f"%{suffix}", mode, k)


def _affix_topk_sql(like_pat: str, mode: str, k: int) -> str:
    return f"""
WITH {_base_ctes()},
partials AS (
    SELECT tf.doc_id, tf.term, dft.df, {_score_sql(mode)} AS s
    FROM tf
    JOIN dft USING (term)
    JOIN dl ON tf.doc_id = dl.doc_id
    CROSS JOIN stats
    WHERE tf.term LIKE '{like_pat}'
),
agg AS (
    SELECT doc_id, list(s ORDER BY df ASC, term ASC) AS ss
    FROM partials GROUP BY doc_id
)
SELECT doc_id, list_reduce(ss, (a, b) -> a + b) AS score
FROM agg
ORDER BY score DESC, doc_id ASC
LIMIT {k}
"""


NOT_EXCLUDE_TERM = "batch"  # df 402 at sf0.01 — the NOT visibly reshapes top-k
SUGGEST_WORDS = ("grup", "quey")  # 1- and 2-edit hits against the dictionary
SUGGEST_MAX_EDIT = 2
MLT_SRC_DOC = 7       # non-blank at every sf; top tf*idf terms well-separated
MLT_N_TERMS = 3


def q_engine_not_topk(spark, sf_dir):
    """Boolean NOT through the engine (SearchEngine.search_not): the
    standard 3-term conjunctive query restricted to docs NOT containing
    NOT_EXCLUDE_TERM — positives through the classic pruned pivot plan,
    exclusion as ONE left-anti join against the excluded lemma's decoded
    doc_ids BEFORE the top-k cut. The excluded term is corpus-hot, so
    the surviving set is disjoint from the plain bm25_topk answer —
    the oracle (same scorer + correlated NOT EXISTS) is green only if
    the anti-join drops exactly the right docs and the survivors'
    scores stay bit-identical."""
    eng = SearchEngine(spark, ensure_index(spark, sf_dir))
    ids = eng.search_not(
        " ".join(QUERY_TERMS), NOT_EXCLUDE_TERM, k=TOPK
    )
    remap = eng.documents.select("doc_id", "turn_idx")
    return (
        ids.join(remap, "doc_id")
        .select(F.col("turn_idx").cast("long").alias("doc_id"), "score")
        .orderBy(F.desc("score"), F.asc("doc_id"))
    )


def q_engine_suggest(spark, sf_dir):
    """Spell suggestion ("did you mean") through the engine: for each
    misspelled SUGGEST_WORDS entry, dictionary lemmas within
    SUGGEST_MAX_EDIT Levenshtein edits ranked (dist ASC, df DESC, term
    ASC) — one narrow vocab-sized dictionary scan per word with a
    length-band prefilter, JVM levenshtein, TakeOrderedAndProject.
    Oracle recomputes distances with DuckDB's levenshtein over the same
    dft dictionary, so the entry pins the edit-distance semantics, the
    df values, AND the rank order."""
    eng = SearchEngine(spark, ensure_index(spark, sf_dir))
    out = None
    for w in SUGGEST_WORDS:
        part = (
            # pin the SCAN path: engine_suggest_fast may have built the
            # delete index in this shared dir, and auto-routing would
            # silently collapse both gate entries onto one code path
            eng.suggest(
                w, max_edit=SUGGEST_MAX_EDIT, k=TOPK,
                use_delete_index=False,
            )
            .withColumn("word", F.lit(w))
            .select("word", "term", "df", "dist")
        )
        out = part if out is None else out.unionByName(part)
    return out


def _sql_suggest() -> str:
    blocks = []
    for w in SUGGEST_WORDS:
        blocks.append(f"""
SELECT * FROM (
    SELECT '{w}' AS word, term, CAST(df AS BIGINT) AS df,
           CAST(levenshtein(term, '{w}') AS BIGINT) AS dist
    FROM dft
    WHERE abs(length(term) - {len(w)}) <= {SUGGEST_MAX_EDIT}
      AND levenshtein(term, '{w}') <= {SUGGEST_MAX_EDIT}
    ORDER BY dist ASC, df DESC, term ASC
    LIMIT {TOPK}
)""")
    union = "\nUNION ALL\n".join(blocks)
    return f"WITH {_base_ctes()}\n{union}"


def q_engine_suggest_fast(spark, sf_dir):
    """The SymSpell scale path under the gate: the same misspelled
    probes as `engine_suggest`, answered through the symmetric-delete
    index (operators/suggest_index.py — the query word's delete
    variants probe the range-partitioned delete-key table, candidates
    join LIVE term_stats, exact levenshtein over the few survivors)
    against the SAME DuckDB levenshtein oracle. Green only if the
    delete-key candidate superset really covers every true match AND
    the final ordering/df/distance agree with the scan path's oracle
    bit-for-bit. The build is replay-safe (overwrite + epoch
    handshake)."""
    from .operators.suggest_index import build_suggest_index

    idx = ensure_index(spark, sf_dir)
    eng = SearchEngine(spark, idx)
    if not all(
        eng._suggest_index_usable(w, SUGGEST_MAX_EDIT)
        for w in SUGGEST_WORDS
    ):
        build_suggest_index(spark, idx, max_edit=SUGGEST_MAX_EDIT)
    out = None
    for w in SUGGEST_WORDS:
        part = (
            eng.suggest(
                w, max_edit=SUGGEST_MAX_EDIT, k=TOPK,
                use_delete_index=True,
            )
            .withColumn("word", F.lit(w))
            .select("word", "term", "df", "dist")
        )
        out = part if out is None else out.unionByName(part)
    return out


def q_engine_mlt_topk(spark, sf_dir):
    """More-like-this through the engine: the source doc's top
    MLT_N_TERMS lemmas by tf*idf (tie: term ASC) become a disjunctive
    BM25 query, source doc excluded before the top-k cut
    (SearchEngine.more_like_this — one pruned point-read of the doc
    store + driver-side term selection + the classic disjunctive plan).
    Oracle re-derives the SAME term selection from its tf/dft CTEs
    (row_number over tf*idf DESC, term ASC) and accumulates partials in
    df-asc order via the established list_reduce pattern, so the entry
    is green only if selection, exclusion, and float accumulation all
    agree bit-exactly."""
    eng = SearchEngine(spark, ensure_index(spark, sf_dir))
    src = (
        eng.documents.filter(F.col("turn_idx") == MLT_SRC_DOC)
        .select("doc_id").collect()
    )
    assert src, f"MLT source doc turn_idx={MLT_SRC_DOC} missing from index"
    ids = eng.more_like_this(
        int(src[0]["doc_id"]), n_terms=MLT_N_TERMS, k=TOPK
    )
    remap = eng.documents.select("doc_id", "turn_idx")
    return (
        ids.join(remap, "doc_id")
        .select(F.col("turn_idx").cast("long").alias("doc_id"), "score")
        .orderBy(F.desc("score"), F.asc("doc_id"))
    )


def _sql_mlt_topk(mode: str = "bm25", k: int = TOPK) -> str:
    idf = ("ln(1 + (stats.n_docs - dft.df + 0.5::DOUBLE) / "
           "(dft.df + 0.5::DOUBLE))")
    return f"""
WITH {_base_ctes()},
src AS (SELECT term, tf FROM tf WHERE doc_id = {MLT_SRC_DOC}),
ranked AS (
    SELECT src.term,
           row_number() OVER (
               ORDER BY src.tf * {idf} DESC, src.term ASC
           ) AS rn
    FROM src JOIN dft USING (term) CROSS JOIN stats
),
sel AS (SELECT term FROM ranked WHERE rn <= {MLT_N_TERMS}),
partials AS (
    SELECT tf.doc_id, tf.term, dft.df, {_score_sql(mode)} AS s
    FROM tf
    JOIN dft USING (term)
    JOIN dl ON tf.doc_id = dl.doc_id
    CROSS JOIN stats
    WHERE tf.term IN (SELECT term FROM sel)
      AND tf.doc_id <> {MLT_SRC_DOC}
),
agg AS (
    SELECT doc_id, list(s ORDER BY df ASC, term ASC) AS ss
    FROM partials GROUP BY doc_id
)
SELECT doc_id, list_reduce(ss, (a, b) -> a + b) AS score
FROM agg
ORDER BY score DESC, doc_id ASC
LIMIT {k}
"""


def q_engine_match_count(spark, sf_dir):
    """A7 generalized — the TOTAL matching-document count ('about N
    results') through the engine (SearchEngine.match_count): the
    membership-only reader (ids-stream decode, one binary column,
    rarest-term range pruning intact) feeds a per-doc term count (the
    conjunctive test: a (doc, term) pair decodes to exactly one row)
    and one global count — no score is ever computed. Oracle = COUNT
    over the docs containing all three query lemmas."""
    eng = SearchEngine(spark, ensure_index(spark, sf_dir))
    return eng.match_count(" ".join(QUERY_TERMS))


def _sql_match_count() -> str:
    terms = _oracle_terms_sorted()
    return f"""
WITH {_base_ctes()}
SELECT CAST(COUNT(*) AS BIGINT) AS n_matches FROM (
    SELECT doc_id FROM tf WHERE term IN ({_in_list(terms)})
    GROUP BY doc_id HAVING COUNT(DISTINCT term) = {len(terms)}
)
"""


def ensure_role_index(spark: SparkSession, sf_dir: str) -> str:
    """A mixed-role index layout: even original doc_ids become 'user'
    turns, odd ones 'assistant' — so a role restriction has real work
    to do (the standard corpus is single-role)."""
    docs = _docs(spark, sf_dir)
    transcripts = docs.select(
        F.lit("corpus").alias("conv_id"),
        F.col("doc_id").cast("int").alias("turn_idx"),
        F.when(F.col("doc_id") % 2 == 0, F.lit("user"))
        .otherwise(F.lit("assistant"))
        .alias("role"),
        F.col("text"),
        F.lit(None).cast("string").alias("tool"),
        F.lit("2025-01-01 00:00:00").cast("timestamp").alias("ts"),
    )
    out = _tagged_index_dir(sf_dir, "roles")
    build_index(spark, transcripts, out, resume=True)
    return out


def q_engine_role_topk(spark, sf_dir):
    """Role-restricted search (transcript-shaped: 'search only what the
    user said') through the engine: the standard 3-term conjunctive
    query over the mixed-role index with role='user' — one semi-join
    against the delete-masked doc store's (doc_id, role) projection
    BEFORE the top-k cut; scoring stats stay GLOBAL (the restriction
    excludes candidates, it does not re-derive idf — the scope
    contract). Oracle = the same scorer restricted to even original
    doc_ids (the role assignment rule), so the entry is green only if
    the semi-join keeps exactly the user turns with their global-stats
    scores bit-identical."""
    eng = SearchEngine(spark, ensure_role_index(spark, sf_dir))
    ids = eng.search_ids(" ".join(QUERY_TERMS), k=TOPK, role="user")
    remap = eng.documents.select("doc_id", "turn_idx")
    return (
        ids.join(remap, "doc_id")
        .select(F.col("turn_idx").cast("long").alias("doc_id"), "score")
        .orderBy(F.desc("score"), F.asc("doc_id"))
    )


def q_engine_facets(spark, sf_dir):
    """Faceted search through the engine (SearchEngine.facet_counts):
    the FULL conjunctive match set of the standard query, grouped by
    source — (facet, n_matches, best_score) — over the multi-source
    index (conv_id = the documents `source` column, the same layout the
    scoped entry pins). One doc_id-equi metadata join + one n_facets-row
    exchange after map-side partial aggregation; count and max are
    order-insensitive, so the oracle (same pivot scorer, GROUP BY
    source) pins membership per facet AND per-doc score bit-equality
    through the MAX."""
    eng = SearchEngine(spark, ensure_scoped_index(spark, sf_dir))
    return eng.facet_counts(" ".join(QUERY_TERMS), by="conv_id")


def _sql_facets(mode: str = "bm25") -> str:
    terms = _oracle_terms_sorted()
    n = len(terms)
    cases = ", ".join(
        f"MAX(CASE WHEN term = '{t}' THEN s END) AS s{i}"
        for i, t in enumerate(terms)
    )
    total = " + ".join(f"COALESCE(s{i}, 0.0)" for i in range(n))
    notnull = " AND ".join(f"s{i} IS NOT NULL" for i in range(n))
    return f"""
WITH {_base_ctes()},
partials AS (
    SELECT tf.doc_id, tf.term, {_score_sql(mode)} AS s
    FROM tf
    JOIN dft USING (term)
    JOIN dl ON tf.doc_id = dl.doc_id
    CROSS JOIN stats
    WHERE tf.term IN ({_in_list(terms)})
),
pivoted AS (SELECT doc_id, {cases} FROM partials GROUP BY doc_id),
m AS (
    SELECT doc_id, {total} AS score FROM pivoted WHERE {notnull}
)
SELECT d.source AS facet, CAST(COUNT(*) AS BIGINT) AS n_matches,
       MAX(m.score) AS best_score
FROM m JOIN documents d USING (doc_id)
GROUP BY 1
ORDER BY n_matches DESC, facet ASC
"""


# ---------------------------------------------------------------------------
# Training-data pipeline ops
# ---------------------------------------------------------------------------
def q_dedup_exact(spark, sf_dir):
    """Exact dedup: md5(text) groups → representative + copy count."""
    return (
        _docs(spark, sf_dir)
        .groupBy(F.md5("text").alias("text_hash"))
        .agg(F.min("doc_id").alias("rep_doc_id"), F.count("*").alias("n_copies"))
    )


SQL_DEDUP_EXACT = """
SELECT md5(text) AS text_hash, MIN(doc_id) AS rep_doc_id, COUNT(*) AS n_copies
FROM documents GROUP BY 1
"""


def q_jaccard_pairs(spark, sf_dir):
    """Near-dup pairs by token-SET jaccard >= threshold. Exact quadratic
    candidate generation via self-join on shared terms — correctness
    baseline; the LSH path (q_lsh_pairs) is the at-scale strategy."""
    s = _toks(_docs(spark, sf_dir)).distinct()
    sizes = s.groupBy("doc_id").agg(F.count("*").alias("n"))
    a = s.alias("a")
    b = s.alias("b")
    inter = (
        a.join(b, (F.col("a.term") == F.col("b.term"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("i"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    jac = (F.col("i") * F.lit(1.0)) / (F.col("na") + F.col("nb") - F.col("i"))
    return (
        inter.join(sa, "doc_a").join(sb, "doc_b")
        .select("doc_a", "doc_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
    )


SQL_JACCARD_PAIRS = f"""
WITH {_base_ctes()},
s AS (SELECT DISTINCT doc_id, term FROM toks),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM s GROUP BY 1),
inter AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS i
    FROM s a JOIN s b ON a.term = b.term AND a.doc_id < b.doc_id
    GROUP BY 1, 2
)
SELECT doc_a, doc_b, (i * 1.0) / (sa.n + sb.n - i) AS jaccard
FROM inter
JOIN sizes sa ON doc_a = sa.doc_id
JOIN sizes sb ON doc_b = sb.doc_id
WHERE (i * 1.0) / (sa.n + sb.n - i) >= {JACCARD_THRESHOLD}
"""


SHINGLE_N = 3           # word-shingle width for n-gram jaccard
SHINGLE_DF_CAP = 50     # drop shingles appearing in more docs (boilerplate)
NGRAM_JACCARD_THRESHOLD = 0.8


def _shingles_col(n: int = SHINGLE_N) -> F.Column:
    """Word n-gram shingles of the analyzer lemma stream — JVM-side
    (transform over sequence, whole-stage codegen). Empty array when the
    doc has fewer than ``n`` lemmas."""
    terms = terms_col(F.col("text"))
    return F.when(F.size(terms) >= n, F.transform(
        F.sequence(F.lit(0), F.size(terms) - n),
        lambda i: F.concat_ws(
            " ", *[F.element_at(terms, i + j + 1) for j in range(n)]
        ),
    )).otherwise(F.array().cast("array<string>"))


def _shingles_cte_sql(n: int = SHINGLE_N) -> str:
    """(doc_id, shingle) DISTINCT rows — the SQL twin of
    explode(_shingles_col()).distinct(). DuckDB lists are 1-indexed and
    range(a, b) is b-exclusive, so i runs 1..len-(n-1)."""
    joined = " || ' ' || ".join(f"l[i + {j}]" for j in range(n))
    return f"""
    SELECT DISTINCT doc_id, {joined} AS shingle
    FROM (
        SELECT doc_id, l, unnest(range(1, len(l) - {n - 2})) AS i
        FROM (SELECT doc_id, {lemmas_list_sql()} AS l FROM documents)
        WHERE len(l) >= {n}
    )
    """


def q_ngram_dup_pairs(spark, sf_dir):
    """Near-dup pairs by word {SHINGLE_N}-gram shingle jaccard — the
    n-gram analog of q_jaccard_pairs, with the standard at-scale guard:
    shingles whose document frequency exceeds SHINGLE_DF_CAP (shared
    boilerplate — exactly the rows that make the candidate join
    quadratic) are dropped BEFORE the self-join, so candidate pairs are
    generated only through rare shingles and the join cost is bounded by
    sum(df^2) over kept shingles. Jaccard is defined over the kept-
    shingle universe on both engines (sizes counted after the cap)."""
    sh = (
        _docs(spark, sf_dir)
        .select("doc_id", F.explode(_shingles_col()).alias("shingle"))
        .distinct()
    )
    kept = (
        sh.groupBy("shingle")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") <= SHINGLE_DF_CAP)
        .select("shingle")
    )
    sh = sh.join(kept, "shingle").localCheckpoint()
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("i"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    jac = F.col("i").cast("double") / (F.col("na") + F.col("nb") - F.col("i"))
    return (
        inter.join(sa, "doc_a").join(sb, "doc_b")
        .select("doc_a", "doc_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= NGRAM_JACCARD_THRESHOLD)
    )


SQL_NGRAM_DUP_PAIRS = f"""
WITH sh0 AS ({_shingles_cte_sql()}),
kept AS (
    SELECT shingle FROM sh0 GROUP BY 1 HAVING COUNT(*) <= {SHINGLE_DF_CAP}
),
sh AS (SELECT doc_id, shingle FROM sh0 JOIN kept USING (shingle)),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
inter AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS i
    FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    GROUP BY 1, 2
)
SELECT doc_a, doc_b, CAST(i AS DOUBLE) / (sa.n + sb.n - i) AS jaccard
FROM inter
JOIN sizes sa ON doc_a = sa.doc_id
JOIN sizes sb ON doc_b = sb.doc_id
WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= {NGRAM_JACCARD_THRESHOLD}
"""


def _minhash_aggs():
    return [
        F.min(_hash_col(F.concat(F.col("term"), F.lit(f"#{i}")))).alias(f"mh{i}")
        for i in range(N_MINHASH)
    ]


def q_minhash_sigs(spark, sf_dir):
    """MinHash signatures (k=16) over distinct-term sets — one groupBy."""
    s = _toks(_docs(spark, sf_dir)).distinct()
    return s.groupBy("doc_id").agg(*_minhash_aggs())


def _sql_minhash_core() -> str:
    mins = ", ".join(
        "MIN({h}) AS mh{i}".format(h=_hex2int_sql(f"md5(term || '#{i}')"), i=i)
        for i in range(N_MINHASH)
    )
    return f"""
s AS (SELECT DISTINCT doc_id, term FROM toks),
sigs AS (SELECT doc_id, {mins} FROM s GROUP BY doc_id)
"""


SQL_MINHASH_SIGS = (
    f"WITH {_base_ctes()}, {_sql_minhash_core()} SELECT * FROM sigs"
)


def _lsh_bands(spark, sf_dir):
    """(doc_id, band, x, y) band-bucket rows from materialized signatures."""
    sigs = q_minhash_sigs(spark, sf_dir).localCheckpoint()
    bands = sigs.select(
        "doc_id",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(j).alias("band"),
                    F.col(f"mh{2 * j}").alias("x"),
                    F.col(f"mh{2 * j + 1}").alias("y"),
                )
                for j in range(N_BANDS)
            ])
        ).alias("b"),
    ).select("doc_id", "b.band", "b.x", "b.y")
    return sigs, bands


def q_lsh_pairs(spark, sf_dir):
    """MinHash-LSH candidate pairs: 8 bands × 2 rows; pairs sharing any
    band bucket, with estimated jaccard = matching minhashes / 16.
    At scale this replaces the quadratic self-join: the explode+groupBy on
    (band, bucket) shuffles O(n_docs * n_bands) rows only.

    Degenerate buckets (boilerplate shards — every doc hashing to one
    bucket) would still go quadratic INSIDE the bucket, so buckets larger
    than LSH_BUCKET_CAP are dropped before the self-join (standard LSH
    practice; q_lsh_bucket_stats reports exactly what was dropped)."""
    sigs, bands = _lsh_bands(spark, sf_dir)
    small = (
        bands.groupBy("band", "x", "y")
        .agg(F.count("*").alias("bsz"))
        .filter(F.col("bsz") <= LSH_BUCKET_CAP)
        .select("band", "x", "y")
    )
    bands = bands.join(small, ["band", "x", "y"])
    a = bands.alias("a")
    b = bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.x") == F.col("b.x"))
            & (F.col("a.y") == F.col("b.y"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    s1 = sigs.select(F.col("doc_id").alias("doc_a"),
                     *[F.col(f"mh{i}").alias(f"a{i}") for i in range(N_MINHASH)])
    s2 = sigs.select(F.col("doc_id").alias("doc_b"),
                     *[F.col(f"mh{i}").alias(f"b{i}") for i in range(N_MINHASH)])
    matches = sum(
        F.when(F.col(f"a{i}") == F.col(f"b{i}"), 1).otherwise(0)
        for i in range(N_MINHASH)
    )
    return (
        cand.join(s1, "doc_a").join(s2, "doc_b")
        .select("doc_a", "doc_b",
                (matches / F.lit(float(N_MINHASH))).alias("est_jaccard"))
    )


def _sql_bands() -> str:
    return " UNION ALL ".join(
        f"SELECT doc_id, {j} AS band, mh{2 * j} AS x, mh{2 * j + 1} AS y FROM sigs"
        for j in range(N_BANDS)
    )


def _sql_lsh_pairs() -> str:
    match_expr = " + ".join(
        f"CASE WHEN s1.mh{i} = s2.mh{i} THEN 1 ELSE 0 END"
        for i in range(N_MINHASH)
    )
    return f"""
WITH {_base_ctes()}, {_sql_minhash_core()},
bands0 AS ({_sql_bands()}),
small AS (
    SELECT band, x, y FROM bands0 GROUP BY 1, 2, 3
    HAVING COUNT(*) <= {LSH_BUCKET_CAP}
),
bands AS (SELECT b.* FROM bands0 b JOIN small USING (band, x, y)),
cand AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM bands a JOIN bands b
      ON a.band = b.band AND a.x = b.x AND a.y = b.y AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b, ({match_expr}) / {float(N_MINHASH)} AS est_jaccard
FROM cand
JOIN sigs s1 ON cand.doc_a = s1.doc_id
JOIN sigs s2 ON cand.doc_b = s2.doc_id
"""


def q_lsh_bucket_stats(spark, sf_dir):
    """LSH skew accounting: per band, how many buckets/docs survive the
    LSH_BUCKET_CAP and how many are dropped. 'No silent caps' — this is the
    visible ledger for q_lsh_pairs' degenerate-bucket handling."""
    _, bands = _lsh_bands(spark, sf_dir)
    per_bucket = bands.groupBy("band", "x", "y").agg(
        F.count("*").alias("bsz")
    )
    dropped = F.col("bsz") > LSH_BUCKET_CAP
    return (
        per_bucket.groupBy("band")
        .agg(
            F.count("*").alias("n_buckets"),
            F.max("bsz").alias("max_bucket"),
            F.sum(F.when(dropped, 1).otherwise(0)).alias("n_dropped_buckets"),
            F.sum(F.when(dropped, F.col("bsz")).otherwise(0)).alias(
                "n_docs_in_dropped"
            ),
        )
    )


def _sql_lsh_bucket_stats() -> str:
    return f"""
WITH {_base_ctes()}, {_sql_minhash_core()},
bands0 AS ({_sql_bands()}),
per_bucket AS (
    SELECT band, x, y, COUNT(*) AS bsz FROM bands0 GROUP BY 1, 2, 3
)
SELECT band, COUNT(*) AS n_buckets, MAX(bsz) AS max_bucket,
       CAST(SUM(CASE WHEN bsz > {LSH_BUCKET_CAP} THEN 1 ELSE 0 END) AS BIGINT)
           AS n_dropped_buckets,
       CAST(SUM(CASE WHEN bsz > {LSH_BUCKET_CAP} THEN bsz ELSE 0 END) AS BIGINT)
           AS n_docs_in_dropped
FROM per_bucket GROUP BY band
"""


def q_simhash(spark, sf_dir):
    """SimHash (16-bit) over tf-weighted term hashes."""
    tf = _tf(_docs(spark, sf_dir)).withColumn("h", _hash_col(F.col("term")))
    bit_sums = [
        F.sum(
            F.when(F.expr(f"(h >> {b}) & 1") == 1, F.col("tf")).otherwise(-F.col("tf"))
        ).alias(f"v{b}")
        for b in range(SIMHASH_BITS)
    ]
    agg = tf.groupBy("doc_id").agg(*bit_sums)
    sim = sum(
        F.when(F.col(f"v{b}") > 0, F.lit(1 << b)).otherwise(F.lit(0))
        for b in range(SIMHASH_BITS)
    )
    return agg.select("doc_id", sim.cast("long").alias("simhash"))


def _sql_simhash() -> str:
    h = _hex2int_sql("md5(term)")
    vs = ", ".join(
        f"SUM(CASE WHEN (({h}) >> {b}) & 1 = 1 THEN tf ELSE -tf END) AS v{b}"
        for b in range(SIMHASH_BITS)
    )
    bits = " + ".join(
        f"CASE WHEN v{b} > 0 THEN {1 << b} ELSE 0 END" for b in range(SIMHASH_BITS)
    )
    return f"""
WITH {_base_ctes()},
agg AS (SELECT doc_id, {vs} FROM tf GROUP BY doc_id)
SELECT doc_id, CAST({bits} AS BIGINT) AS simhash FROM agg
"""


def q_doc_fingerprint(spark, sf_dir):
    """Deterministic document fingerprint from distinct-term hashes:
    (min, max, sum mod p) — cheap sketch for shard-local dedup triage."""
    s = _toks(_docs(spark, sf_dir)).distinct()
    h = _hash_col(F.col("term"))
    return s.groupBy("doc_id").agg(
        F.min(h).alias("fp_min"),
        F.max(h).alias("fp_max"),
        F.sum(h % F.lit(FP_MOD)).alias("fp_sum"),
    )


def _sql_fingerprint() -> str:
    h = _hex2int_sql("md5(term)")
    return f"""
WITH {_base_ctes()},
s AS (SELECT DISTINCT doc_id, term FROM toks)
SELECT doc_id, MIN({h}) AS fp_min, MAX({h}) AS fp_max,
       CAST(SUM(({h}) % {FP_MOD}) AS BIGINT) AS fp_sum
FROM s GROUP BY doc_id
"""


def q_rolling_fingerprint(spark, sf_dir):
    """Winnowing-style document fingerprint: the k smallest distinct hashes
    of character 8-grams. (The hash here is the portable md5-60bit so the
    oracle matches bit-exactly; at 100 TB the same shape runs with a true
    O(1)-per-shift polynomial rolling hash inside a pandas UDF.)"""
    docs = _docs(spark, sf_dir)
    grams = docs.select(
        "doc_id",
        F.explode(
            F.expr(
                f"transform(sequence(1, greatest(length(text) - {NGRAM_CHARS - 1}, 1)),"
                f" i -> substring(text, i, {NGRAM_CHARS}))"
            )
        ).alias("g"),
    )
    hashed = grams.select("doc_id", _hash_col(F.col("g")).alias("h")).distinct()
    w = Window.partitionBy("doc_id").orderBy("h")
    ranked = hashed.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") <= FP_K
    )
    aggs = [
        F.max(F.when(F.col("rn") == i + 1, F.col("h"))).alias(f"fp{i + 1}")
        for i in range(FP_K)
    ]
    return ranked.groupBy("doc_id").agg(*aggs)


def _sql_rolling_fingerprint() -> str:
    horner = _hex2int_sql("m")
    cases = ", ".join(
        f"MAX(CASE WHEN rn = {i + 1} THEN h END) AS fp{i + 1}"
        for i in range(FP_K)
    )
    return f"""
WITH g0 AS (
    SELECT doc_id, md5(substr(text, CAST(i.i AS INTEGER), {NGRAM_CHARS})) AS m
    FROM documents,
         unnest(generate_series(1, greatest(length(text) - {NGRAM_CHARS - 1}, 1))) AS i(i)
),
g AS (SELECT DISTINCT doc_id, {horner} AS h FROM g0),
r AS (
    SELECT doc_id, h, ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY h) AS rn
    FROM g
)
SELECT doc_id, {cases} FROM r WHERE rn <= {FP_K} GROUP BY doc_id
"""


# ---------------------------------------------------------------------------
# Embedding similarity search
# ---------------------------------------------------------------------------
def _query_vec(spark, sf_dir, vec_id: int = 0) -> list[float]:
    row = _emb(spark, sf_dir).filter(F.col("vec_id") == vec_id).collect()[0]
    return [float(x) for x in row["embedding"]]


def _dot(a, b) -> F.Column:
    """Sequential left fold — bit-identical to DuckDB list_dot_product."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def q_cosine_topk(spark, sf_dir):
    """Brute-force cosine top-k vs the vec_id=0 query vector — the exact
    baseline every ANN variant is judged against."""
    q = _query_vec(spark, sf_dir)
    qnorm = 0.0
    for x in q:
        qnorm += x * x
    qnorm = math.sqrt(qnorm)
    qcol = F.array(*[F.lit(x) for x in q])
    e = _emb(spark, sf_dir)
    sim = _dot(F.col("embedding"), qcol) / (
        F.sqrt(_dot(F.col("embedding"), F.col("embedding"))) * F.lit(qnorm)
    )
    return (
        e.select("vec_id", sim.alias("sim"))
        .orderBy(F.desc("sim"), F.asc("vec_id"))
        .limit(TOPK)
    )


SQL_COSINE_TOPK = f"""
WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0)
SELECT vec_id,
       list_dot_product(embedding::DOUBLE[], qv)
         / (sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
            * sqrt(list_dot_product(qv, qv))) AS sim
FROM embeddings CROSS JOIN q
ORDER BY sim DESC, vec_id ASC
LIMIT {TOPK}
"""


def _bucket_col(c) -> F.Column:
    out = F.lit(0)
    for i in range(ANN_SIGN_DIMS):
        out = out + F.when(F.element_at(c, i + 1) > 0, F.lit(1 << i)).otherwise(0)
    return out


def _emb_bucketed_dir(sf_dir: str) -> str:
    key = hashlib.md5(f"embbkt:v1:{sf_dir}".encode()).hexdigest()[:10]
    return f"/tmp/ses_embbkt_{key}"


def ensure_bucketed_embeddings(spark: SparkSession, sf_dir: str) -> str:
    """Materialize the embeddings table hive-partitioned by the sign-LSH
    bucket (``bucket=<b>/`` directories, 2**ANN_SIGN_DIMS = 256 of them) —
    the write-time layout a 100 TB ANN deployment ships. Probe filters on
    the read side then land in PartitionFilters (directory pruning: Spark
    never lists, opens, or reads a non-probed bucket), instead of an
    arithmetic expression over ``embedding`` that parquet cannot push
    down. Cached per sf_dir in /tmp behind Spark's own _SUCCESS marker."""
    out = _emb_bucketed_dir(sf_dir)
    if not (Path(out) / "_SUCCESS").exists():
        (
            _emb(spark, sf_dir)
            .withColumn("bucket", _bucket_col(F.col("embedding")))
            .write.partitionBy("bucket")
            .mode("overwrite")
            .parquet(out)
        )
    return out


def q_ann_bucketed(spark, sf_dir):
    """Multi-probe bucketed ANN: sign-LSH on the first 8 dims partitions the
    corpus into 256 buckets; probe the query's bucket PLUS all Hamming-1
    neighbor buckets (9 probes — the standard multi-probe recall lift
    without a full scan). The bucket is a PHYSICAL partition column
    (ensure_bucketed_embeddings), so the probe set is a partition-pruned
    scan — 9 of 256 directories touched, verified by tools/explain_audit
    (PartitionFilters on the ANN scan). q_cosine_topk is the exact
    reference; q_ann_recall audits the recall this buys."""
    q = _query_vec(spark, sf_dir)
    qbucket = 0
    for i in range(ANN_SIGN_DIMS):
        if q[i] > 0:
            qbucket += 1 << i
    probes = [qbucket] + [qbucket ^ (1 << i) for i in range(ANN_SIGN_DIMS)]
    qnorm = 0.0
    for x in q:
        qnorm += x * x
    qnorm = math.sqrt(qnorm)
    qcol = F.array(*[F.lit(x) for x in q])
    e = spark.read.parquet(ensure_bucketed_embeddings(spark, sf_dir)).filter(
        F.col("bucket").isin(probes)
    )
    sim = _dot(F.col("embedding"), qcol) / (
        F.sqrt(_dot(F.col("embedding"), F.col("embedding"))) * F.lit(qnorm)
    )
    return (
        e.select("vec_id", sim.alias("sim"))
        .orderBy(F.desc("sim"), F.asc("vec_id"))
        .limit(TOPK)
    )


def _sql_ann_bucketed() -> str:
    bucket = " + ".join(
        f"CASE WHEN embedding[{i + 1}] > 0 THEN {1 << i} ELSE 0 END"
        for i in range(ANN_SIGN_DIMS)
    )
    # multi-probe: bucket == qb, or differs from qb in exactly one sign bit
    probe_mask = ", ".join(str(1 << i) for i in range(ANN_SIGN_DIMS))
    return f"""
WITH q AS (
    SELECT embedding::DOUBLE[] AS qv, ({bucket}) AS qb
    FROM embeddings WHERE vec_id = 0
)
SELECT vec_id,
       list_dot_product(embedding::DOUBLE[], qv)
         / (sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
            * sqrt(list_dot_product(qv, qv))) AS sim
FROM embeddings CROSS JOIN q
WHERE ({bucket}) = qb OR xor(({bucket})::BIGINT, qb::BIGINT) IN ({probe_mask})
ORDER BY sim DESC, vec_id ASC
LIMIT {TOPK}
"""


def q_ann_recall(spark, sf_dir):
    """Recall@k of the multi-probe sign-LSH ANN against the exact
    brute-force top-k — THE quality metric an approximate index ships
    with (a 100 TB ANN deployment is tuned by trading probe count
    against exactly this number; here it is a first-class oracled
    pipeline op, not an offline notebook). One semi-join between the
    two k-row result sets; both sides reuse the entries they audit
    (q_cosine_topk / q_ann_bucketed) unchanged."""
    exact = q_cosine_topk(spark, sf_dir).select("vec_id")
    ann = q_ann_bucketed(spark, sf_dir).select("vec_id")
    hit = exact.join(ann, "vec_id", "semi").agg(
        F.count("*").alias("n_hit")
    )
    return hit.select(
        F.lit(TOPK).cast("int").alias("k"),
        F.col("n_hit").cast("long").alias("n_hit"),
        (F.col("n_hit").cast("double") / F.lit(float(TOPK))).alias("recall"),
    )


def _sql_ann_recall() -> str:
    bucket = " + ".join(
        f"CASE WHEN embedding[{i + 1}] > 0 THEN {1 << i} ELSE 0 END"
        for i in range(ANN_SIGN_DIMS)
    )
    probe_mask = ", ".join(str(1 << i) for i in range(ANN_SIGN_DIMS))
    return f"""
WITH q AS (
    SELECT embedding::DOUBLE[] AS qv, ({bucket}) AS qb
    FROM embeddings WHERE vec_id = 0
),
exact AS (
    SELECT vec_id,
           list_dot_product(embedding::DOUBLE[], qv)
             / (sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
                * sqrt(list_dot_product(qv, qv))) AS sim
    FROM embeddings CROSS JOIN q
    ORDER BY sim DESC, vec_id ASC
    LIMIT {TOPK}
),
ann AS (
    SELECT vec_id,
           list_dot_product(embedding::DOUBLE[], qv)
             / (sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
                * sqrt(list_dot_product(qv, qv))) AS sim
    FROM embeddings CROSS JOIN q
    WHERE ({bucket}) = qb
       OR xor(({bucket})::BIGINT, qb::BIGINT) IN ({probe_mask})
    ORDER BY sim DESC, vec_id ASC
    LIMIT {TOPK}
),
hit AS (
    SELECT COUNT(*) AS n_hit FROM exact
    WHERE vec_id IN (SELECT vec_id FROM ann)
)
SELECT {TOPK} AS k, CAST(n_hit AS BIGINT) AS n_hit,
       n_hit / {TOPK}.0::DOUBLE AS recall
FROM hit
"""


# 99.9th pct of pairwise cosine in the driver's synthetic embeddings —
# random-ish vectors never reach classic near-dup levels (max ~0.51), so
# the threshold is calibrated to yield a real (non-empty) pair set
EMBED_DUP_THRESHOLD = 0.35
NGRAM_CHARS = 8
FP_K = 3


def q_embed_dup_pairs(spark, sf_dir):
    """Embedding-cosine near-duplicate pairs (vec_a < vec_b, sim >= t) via
    self-join on the sign-bucket (candidates share the 8-dim sign bucket —
    the same locality structure q_ann_bucketed uses, which is what keeps
    this sub-quadratic at 100 TB). Buckets larger than EMBED_BUCKET_CAP are
    dropped before the join — same degenerate-skew guard as q_lsh_pairs."""
    e = _emb(spark, sf_dir).select(
        "vec_id",
        "embedding",
        _bucket_col(F.col("embedding")).alias("bkt"),
        F.sqrt(_dot(F.col("embedding"), F.col("embedding"))).alias("norm"),
    )
    small = (
        e.groupBy("bkt").agg(F.count("*").alias("bsz"))
        .filter(F.col("bsz") <= EMBED_BUCKET_CAP)
        .select("bkt")
    )
    e = e.join(F.broadcast(small), "bkt")
    a = e.alias("a")
    b = e.alias("b")
    sim = _dot(F.col("a.embedding"), F.col("b.embedding")) / (
        F.col("a.norm") * F.col("b.norm")
    )
    return (
        a.join(
            b,
            (F.col("a.bkt") == F.col("b.bkt"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            sim.alias("sim"),
        )
        .filter(F.col("sim") >= EMBED_DUP_THRESHOLD)
    )


def _sql_embed_dup_pairs() -> str:
    bucket = " + ".join(
        f"CASE WHEN embedding[{i + 1}] > 0 THEN {1 << i} ELSE 0 END"
        for i in range(ANN_SIGN_DIMS)
    )
    return f"""
WITH e0 AS (
    SELECT vec_id, embedding::DOUBLE[] AS v, ({bucket}) AS bkt,
           sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS norm
    FROM embeddings
),
small AS (SELECT bkt FROM e0 GROUP BY 1 HAVING COUNT(*) <= {EMBED_BUCKET_CAP}),
e AS (SELECT e0.* FROM e0 JOIN small USING (bkt))
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       list_dot_product(a.v, b.v) / (a.norm * b.norm) AS sim
FROM e a JOIN e b ON a.bkt = b.bkt AND a.vec_id < b.vec_id
WHERE list_dot_product(a.v, b.v) / (a.norm * b.norm) >= {EMBED_DUP_THRESHOLD}
"""


IVF_K = 8        # coarse cells; deterministic quantizer = first K vectors
IVF_NPROBE = 2   # cells probed per query


def _py_dot(u: list[float], v: list[float]) -> float:
    """Sequential left fold — same accumulation order as _dot /
    list_dot_product (driver-side probe selection must match the oracle
    bit-for-bit)."""
    acc = 0.0
    for a, b in zip(u, v):
        acc += a * b
    return acc


def q_ann_ivf(spark, sf_dir):
    """IVF-flat ANN: the corpus is partitioned into IVF_K coarse cells by
    argmin L2 distance to centroid vectors; a query probes only the
    IVF_NPROBE nearest cells and ranks them exactly. Centroids here are a
    deterministic quantizer (the first K vectors by vec_id) standing in
    for trained k-means — the Spark plumbing is identical either way:
    tiny broadcast centroid set, JVM-side argmin assignment, and at scale
    `cell` becomes a partition column so a probe is a pruned directory
    scan (same layout trick as the postings buckets). q_cosine_topk is
    the exact-recall reference."""
    e = _emb(spark, sf_dir)
    cents = {
        int(r["vec_id"]): [float(x) for x in r["embedding"]]
        for r in e.filter(F.col("vec_id") < IVF_K).collect()
    }
    q = _query_vec(spark, sf_dir)
    # probe selection: same d = q.q - 2*q.c + c.c form + (d, k) tie-break
    # as the SQL oracle's ROW_NUMBER ordering
    qq = _py_dot(q, q)
    order = sorted(
        range(IVF_K),
        key=lambda k: (
            qq - 2 * _py_dot(q, cents[k]) + _py_dot(cents[k], cents[k]),
            k,
        ),
    )
    probes = [int(p) for p in order[:IVF_NPROBE]]

    dists = F.array(
        *[
            _dot(F.col("embedding"), F.col("embedding"))
            - 2 * _dot(
                F.col("embedding"),
                F.array(*[F.lit(x) for x in cents[k]]),
            )
            + F.lit(_py_dot(cents[k], cents[k]))
            for k in range(IVF_K)
        ]
    )
    cell = (F.array_position(dists, F.array_min(dists)) - 1).cast("int")
    qnorm = math.sqrt(qq)
    qcol = F.array(*[F.lit(x) for x in q])
    sim = _dot(F.col("embedding"), qcol) / (
        F.sqrt(_dot(F.col("embedding"), F.col("embedding"))) * F.lit(qnorm)
    )
    return (
        e.withColumn("cell", cell)
        .filter(F.col("cell").isin(probes))
        .select("vec_id", "cell", sim.alias("sim"))
        .orderBy(F.desc("sim"), F.asc("vec_id"))
        .limit(TOPK)
    )


SQL_ANN_IVF = f"""
WITH cents AS (
    SELECT vec_id AS k, embedding::DOUBLE[] AS cv
    FROM embeddings WHERE vec_id < {IVF_K}
),
q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
probes AS (
    SELECT k FROM cents CROSS JOIN q
    ORDER BY list_dot_product(qv, qv) - 2*list_dot_product(qv, cv)
             + list_dot_product(cv, cv), k
    LIMIT {IVF_NPROBE}
),
asg AS (
    SELECT e.vec_id, c.k,
           list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])
           - 2*list_dot_product(e.embedding::DOUBLE[], c.cv)
           + list_dot_product(c.cv, c.cv) AS d
    FROM embeddings e CROSS JOIN cents c
),
cells AS (
    SELECT vec_id, CAST(k AS INTEGER) AS cell FROM (
        SELECT vec_id, k,
               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, k) AS rn
        FROM asg
    ) WHERE rn = 1
)
SELECT e.vec_id, cells.cell,
       list_dot_product(e.embedding::DOUBLE[], qv)
         / (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))
            * sqrt(list_dot_product(qv, qv))) AS sim
FROM embeddings e
JOIN cells ON e.vec_id = cells.vec_id
CROSS JOIN q
WHERE cells.cell IN (SELECT k FROM probes)
ORDER BY sim DESC, e.vec_id ASC
LIMIT {TOPK}
"""


def q_ivf_recall(spark, sf_dir):
    """Recall@k audit for the IVF path (companion to q_ann_recall, which
    audits the sign-LSH multi-probe path): the number an IVF deployment
    tunes nprobe against. Same shape — one semi-join between two k-row
    TakeOrderedAndProject results, so the audit itself is corpus-size
    independent."""
    exact = q_cosine_topk(spark, sf_dir).select("vec_id")
    ivf = q_ann_ivf(spark, sf_dir).select("vec_id")
    hit = exact.join(ivf, "vec_id", "semi").agg(
        F.count("*").alias("n_hit")
    )
    return hit.select(
        F.lit(TOPK).cast("int").alias("k"),
        F.col("n_hit").cast("long").alias("n_hit"),
        (F.col("n_hit").cast("double") / F.lit(float(TOPK))).alias("recall"),
    )


SQL_IVF_RECALL = f"""
WITH cents AS (
    SELECT vec_id AS k, embedding::DOUBLE[] AS cv
    FROM embeddings WHERE vec_id < {IVF_K}
),
q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
probes AS (
    SELECT k FROM cents CROSS JOIN q
    ORDER BY list_dot_product(qv, qv) - 2*list_dot_product(qv, cv)
             + list_dot_product(cv, cv), k
    LIMIT {IVF_NPROBE}
),
asg AS (
    SELECT e.vec_id, c.k,
           list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])
           - 2*list_dot_product(e.embedding::DOUBLE[], c.cv)
           + list_dot_product(c.cv, c.cv) AS d
    FROM embeddings e CROSS JOIN cents c
),
cells AS (
    SELECT vec_id, CAST(k AS INTEGER) AS cell FROM (
        SELECT vec_id, k,
               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, k) AS rn
        FROM asg
    ) WHERE rn = 1
),
ivf AS (
    SELECT e.vec_id,
           list_dot_product(e.embedding::DOUBLE[], qv)
             / (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))
                * sqrt(list_dot_product(qv, qv))) AS sim
    FROM embeddings e
    JOIN cells ON e.vec_id = cells.vec_id
    CROSS JOIN q
    WHERE cells.cell IN (SELECT k FROM probes)
    ORDER BY sim DESC, e.vec_id ASC
    LIMIT {TOPK}
),
exact AS (
    SELECT vec_id,
           list_dot_product(embedding::DOUBLE[], qv)
             / (sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
                * sqrt(list_dot_product(qv, qv))) AS sim
    FROM embeddings CROSS JOIN q
    ORDER BY sim DESC, vec_id ASC
    LIMIT {TOPK}
),
hit AS (
    SELECT COUNT(*) AS n_hit FROM exact
    WHERE vec_id IN (SELECT vec_id FROM ivf)
)
SELECT {TOPK} AS k, CAST(n_hit AS BIGINT) AS n_hit,
       n_hit / {TOPK}.0::DOUBLE AS recall
FROM hit
"""


def q_embed_quantize(spark, sf_dir):
    """Symmetric int8 linear quantization per vector — the storage format
    a 100 TB embedding corpus actually ships (4x smaller than fp32, dot
    products stay SIMD-able). scale = max|x|/127; q_i = floor(x_i/scale
    + 0.5) (explicit half-up, identical expression in Spark and the SQL
    oracle — never bare round(), whose tie rule differs by engine); plus
    the max absolute reconstruction error as a quality audit column.

    The quantized vector ships as a canonical comma-joined STRING column
    (`qvec`), not array<int>: the driver's oracle canonicalizer sorts
    result rows with pandas and a list-typed cell is unhashable there
    (round-2 gate failure). Same serialization on both sides —
    array_join in Spark, array_to_string in DuckDB."""
    e = _emb(spark, sf_dir)
    emb = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    maxabs = F.array_max(F.transform(emb, lambda x: F.abs(x)))
    scale = F.greatest(maxabs, F.lit(1e-12)) / F.lit(127.0)
    qv = F.transform(
        emb, lambda x: F.floor(x / scale + F.lit(0.5)).cast("int")
    )
    err = F.array_max(
        F.zip_with(
            qv, emb, lambda qq, x: F.abs(qq.cast("double") * scale - x)
        )
    )
    return e.select(
        "vec_id",
        scale.alias("scale"),
        F.array_join(qv.cast("array<string>"), ",").alias("qvec"),
        err.alias("max_err"),
    )


SQL_EMBED_QUANTIZE = """
SELECT vec_id,
  greatest(list_max(list_transform(embedding::DOUBLE[], x -> abs(x))), 1e-12)
    / 127.0::DOUBLE AS scale,
  array_to_string(list_transform(embedding::DOUBLE[],
                 x -> CAST(floor(x / scale + 0.5::DOUBLE) AS INTEGER)),
                 ',') AS qvec,
  list_max(list_transform(list_zip(
      list_transform(embedding::DOUBLE[],
                     x -> CAST(floor(x / scale + 0.5::DOUBLE) AS INTEGER)),
      embedding::DOUBLE[]),
    p -> abs(p[1]::DOUBLE * scale - p[2]))) AS max_err
FROM embeddings
"""


def q_dedup_components(spark, sf_dir):
    """Near-dup clustering: connected components over the capped LSH
    candidate pairs — the step that turns a pair list into dedup GROUPS
    (keep one doc per component). Min-label propagation: every doc starts
    as its own label; each iteration every doc takes the min label among
    itself and its neighbors; fixpoint = component id = min doc_id in the
    component. Each iteration is one shuffle (join + groupBy min) over
    the edge list — the standard big-data CC loop (GraphX/pregel shape)
    with O(component diameter) rounds; lineage is truncated per round
    with localCheckpoint so plans stay flat. The oracle computes true
    components via a recursive-CTE transitive closure."""
    pairs = q_lsh_pairs(spark, sf_dir).select("doc_a", "doc_b")
    edges = (
        pairs.union(
            pairs.select(
                F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b")
            )
        )
        .persist()
    )
    edges.count()
    labels = (
        _docs(spark, sf_dir)
        .select("doc_id")
        .withColumn("label", F.col("doc_id"))
        .localCheckpoint()
    )
    for _ in range(50):
        nbrs = labels.select(
            F.col("doc_id").alias("nbr_id"), F.col("label").alias("nbr_label")
        )
        prop = (
            edges.join(nbrs, edges["doc_b"] == nbrs["nbr_id"])
            .groupBy("doc_a")
            .agg(F.min("nbr_label").alias("nlabel"))
        )
        merged = (
            labels.join(prop, labels["doc_id"] == prop["doc_a"], "left")
            .select(
                labels["doc_id"],
                F.least(
                    F.col("label"),
                    F.coalesce(F.col("nlabel"), F.col("label")),
                ).alias("label"),
            )
            .localCheckpoint()
        )
        old = labels.select(
            "doc_id", F.col("label").alias("old_label")
        )
        changed = (
            merged.join(old, "doc_id")
            .filter(F.col("label") != F.col("old_label"))
            .count()
        )
        labels = merged
        if changed == 0:
            break
    else:
        # 'no silent caps': a truncated propagation would silently split
        # components the oracle's true transitive closure merges
        edges.unpersist()
        raise RuntimeError(
            "dedup_components: min-label propagation did not converge in "
            "50 rounds (component diameter exceeds the bound)"
        )
    edges.unpersist()
    return labels.select("doc_id", F.col("label").alias("component"))


def _sql_dedup_components() -> str:
    return f"""
WITH RECURSIVE
pairs AS (
    SELECT doc_a, doc_b FROM ({_sql_lsh_pairs()})
),
edges AS (
    SELECT doc_a AS a, doc_b AS b FROM pairs
    UNION ALL
    SELECT doc_b, doc_a FROM pairs
),
reach(a, b) AS (
    SELECT a, b FROM edges
    UNION
    SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
)
SELECT d.doc_id,
       CAST(LEAST(d.doc_id, COALESCE(MIN(r.b), d.doc_id)) AS BIGINT)
         AS component
FROM documents d LEFT JOIN reach r ON r.a = d.doc_id
GROUP BY d.doc_id
"""


# ---------------------------------------------------------------------------
# Text analysis ops
# ---------------------------------------------------------------------------
def _token_counts_struct() -> F.Column:
    """Every token-set counter the text-analysis ops need, from ONE
    split and ONE aggregate pass over the token array: per-language
    marker hits, non-empty token count, stopword count. The naive
    formulation (one `filter` per set, each over its own `split`) is
    interpreted HOF evaluation per set — measured 3x slower and the
    allocation churn that capped the funnel's multi-core scaling; this
    single accumulator pass allocates one token array per row, total.
    NOT inlined by CollapseProject (aggregate is non-cheap), so callers
    can alias it once and derive many columns from the alias."""
    toks = F.split(F.lower(F.col("text")), _WS)
    langs = sorted(LANG_MARKERS)
    zero = F.struct(
        *[F.lit(0).cast("long").alias(lang) for lang in langs],
        F.lit(0).cast("long").alias("n_stop"),
        F.lit(0).cast("long").alias("n_tok"),
    )

    def _merge(acc, t):
        hit = lambda cond: F.when(cond, F.lit(1)).otherwise(F.lit(0)).cast("long")  # noqa: E731
        return F.struct(
            *[
                (acc[lang] + hit(t.isin(*LANG_MARKERS[lang]))).alias(lang)
                for lang in langs
            ],
            (acc["n_stop"] + hit(t.isin(*STOPWORDS))).alias("n_stop"),
            (acc["n_tok"] + hit(t != F.lit(""))).alias("n_tok"),
        )

    return F.aggregate(toks, zero, _merge)


def _lang_pred_from(tc: F.Column) -> F.Column:
    """Heuristic language ID from the shared counter struct ``tc``:
    marker hits per language + CJK character count; argmax with
    (count desc, lang asc) tie-break. The argmax is array_max over
    orderable structs (cnt, -lang_rank) — no explode, no window, no
    shuffle: language ID rides the scan. Equality with the oracle's
    ROW_NUMBER formulation holds because max(cnt, -rank) picks the same
    winner as ORDER BY cnt DESC, lang ASC."""
    # regexp_count of the POSITIVE class, not length(regexp_replace of
    # the negated class): replace-all rewrites every non-CJK char through
    # Matcher.appendReplacement + StringBuilder (O(len) regex-engine calls
    # per row — jstack'd as the funnel's hot spot, and two such patterns
    # in one projection go megamorphic); counting matches is one scan
    # with zero matches on ASCII text. Same value (chars in the range).
    cjk = F.regexp_count(F.col("text"), F.lit(f"[{_CJK}]"))
    langs = sorted(["zh", *LANG_MARKERS])
    rank = {lang: i for i, lang in enumerate(langs)}
    cnts = {"zh": cjk.cast("long")}
    for lang in LANG_MARKERS:
        cnts[lang] = tc[lang]
    entries = [
        F.struct(
            cnts[lang].alias("cnt"),
            F.lit(-rank[lang]).alias("nr"),
            F.lit(lang).alias("lang"),
        )
        for lang in langs
    ]
    return F.array_max(F.array(*entries)).getField("lang")


def q_lang_id(spark, sf_dir):
    """Heuristic language ID: marker-stopword hit counts per language +
    CJK character count; argmax with (count desc, lang asc) tie-break."""
    return (
        _docs(spark, sf_dir)
        .withColumn("_tc", _token_counts_struct())
        .select("doc_id", _lang_pred_from(F.col("_tc")).alias("lang_pred"))
    )


def _lang_scores_union_sql(table: str) -> str:
    """Per-(doc, lang) marker-count SELECT union over ``table`` — the one
    definition both the lang_id oracle and the composed training-shard
    oracle build from (table-parameterized like tokens_cte_sql)."""
    selects = [
        "SELECT doc_id, 'zh' AS lang, "
        f"CAST(len(regexp_extract_all(text, '[{_CJK}]')) AS BIGINT) AS cnt "
        f"FROM {table}"
    ]
    for lang, markers in LANG_MARKERS.items():
        lst = _in_list(markers)
        selects.append(
            f"SELECT doc_id, '{lang}' AS lang, "
            f"CAST(len(list_filter(string_split_regex(lower(text), '{_WS}'), "
            f"t -> t IN ({lst}))) AS BIGINT) AS cnt FROM {table}"
        )
    return " UNION ALL ".join(selects)


def _lang_pred_cte_sql(table: str) -> str:
    """(doc_id, lang_pred) winner CTE body over ``table``."""
    return f"""
    SELECT doc_id, lang AS lang_pred FROM (
        SELECT doc_id, lang,
               ROW_NUMBER() OVER (PARTITION BY doc_id
                                  ORDER BY cnt DESC, lang ASC) AS rn
        FROM ({_lang_scores_union_sql(table)})
    ) WHERE rn = 1
"""


def _sql_lang_id() -> str:
    return f"SELECT doc_id, lang_pred FROM ({_lang_pred_cte_sql('documents')})"


def _quality_from(tc: F.Column) -> dict[str, F.Column]:
    """Quality-scoring core from the shared counter struct ``tc``:
    alpha ratio + stopword ratio -> linear score. All inputs are exact
    integer counts; divisions are IEEE-exact and the accumulation order
    (alpha term + stop term, then /2.0) is mirrored literally in the SQL
    twins. Shared by q_quality_score and the composed pipeline. A
    stopword is never the empty string, so counting hits over all split
    pieces equals counting over non-empty tokens."""
    n_tok = tc["n_tok"]
    n_stop = tc["n_stop"]
    # translate (table lookup per char, no regex) instead of
    # length(regexp_replace('[^A-Za-z]','')) — see the cjk note in
    # _lang_pred_from; same value (count of ASCII letters)
    n_alpha = F.length(F.col("text")) - F.length(
        F.translate(F.col("text"), _ASCII_LETTERS, "")
    )
    n_chars_c = F.length(F.col("text"))
    alpha_ratio = n_alpha * F.lit(1.0) / n_chars_c
    stop_ratio = n_stop * F.lit(1.0) / n_tok
    quality = (alpha_ratio + stop_ratio) / F.lit(2.0)
    return {
        "n_tokens": n_tok,
        "alpha_ratio": alpha_ratio,
        "stop_ratio": stop_ratio,
        "quality": quality,
    }


def q_quality_score(spark, sf_dir):
    """Quality scoring: alpha ratio + stopword ratio -> linear score."""
    docs = _docs(spark, sf_dir).withColumn("_tc", _token_counts_struct())
    cols = _quality_from(F.col("_tc"))
    return docs.select("doc_id", *(c.alias(n) for n, c in cols.items()))


# quality accumulation order (alpha term + stop term, then /2.0) mirrors
# _quality_from literally; 1.0/2.0 are dyadic-exact so the bare literals'
# DECIMAL path and Spark's DOUBLE path agree bit-for-bit (gate-proven)
_QUALITY_EXPR = "(n_alpha * 1.0 / n_c + n_stop * 1.0 / n_tok) / 2.0"


def _quality_base_cte_sql(table: str) -> str:
    """Exact-integer quality inputs over ``table`` — shared by the
    quality_score oracle and the composed training-shard oracle."""
    stops = _in_list(STOPWORDS)
    return f"""
    SELECT doc_id,
           len(list_filter(string_split_regex(lower(text), '{_WS}'), t -> t <> '')) AS n_tok,
           len(list_filter(string_split_regex(lower(text), '{_WS}'),
               t -> t <> '' AND t IN ({stops}))) AS n_stop,
           length(text) - length(translate(text, '{_ASCII_LETTERS}', '')) AS n_alpha,
           length(text) AS n_c
    FROM {table}
"""


def _sql_quality() -> str:
    return f"""
WITH base AS ({_quality_base_cte_sql('documents')})
SELECT doc_id, CAST(n_tok AS BIGINT) AS n_tokens,
       n_alpha * 1.0 / n_c AS alpha_ratio,
       n_stop * 1.0 / n_tok AS stop_ratio,
       {_QUALITY_EXPR} AS quality
FROM base
"""


def q_token_counts(spark, sf_dir):
    """Token counting: raw whitespace tokens vs analyzer terms vs distinct."""
    docs = _docs(spark, sf_dir)
    ws = F.size(F.filter(F.split(F.col("text"), _WS), lambda t: t != F.lit("")))
    terms = terms_col(F.col("text"))
    return docs.select(
        "doc_id",
        ws.cast("long").alias("n_ws_tokens"),
        F.size(terms).cast("long").alias("n_terms"),
        F.size(F.array_distinct(terms)).cast("long").alias("n_unique_terms"),
    )


def _sql_token_counts() -> str:
    toks = tokens_cte_sql("documents")
    return f"""
WITH toks AS ({toks}),
t AS (
    SELECT doc_id, COUNT(*) AS n_terms, COUNT(DISTINCT term) AS n_unique_terms
    FROM toks GROUP BY 1
)
SELECT d.doc_id,
       CAST(len(list_filter(string_split_regex(d.text, '{_WS}'), x -> x <> '')) AS BIGINT)
           AS n_ws_tokens,
       COALESCE(t.n_terms, 0) AS n_terms,
       COALESCE(t.n_unique_terms, 0) AS n_unique_terms
FROM documents d LEFT JOIN t ON d.doc_id = t.doc_id
"""


def q_repetition_stats(spark, sf_dir):
    """Gopher-style repetition / boilerplate signals per document:
    duplicate-line fraction (lines repeating an earlier identical line)
    and top-bigram fraction (occurrences of the most frequent lemma
    bigram over all bigram occurrences) — the standard filters for
    template spam and degenerate repetition in LLM training corpora
    (Rae et al. 2021 §A1.3). Line stats are per-row array expressions
    riding the scan (no shuffle); bigram stats are one explode +
    map-side-combined groupBy — the only shuffle, keyed by doc_id, so
    the plan is skew-free and scale-safe. Every ratio is one IEEE
    division of exact integer counts, mirrored literally in the SQL."""
    docs = _docs(spark, sf_dir)
    lines = F.filter(
        F.transform(F.split(F.col("text"), "\n"), lambda x: F.trim(x)),
        lambda x: x != F.lit(""),
    )
    n_lines = F.size(lines).cast("long")
    n_dist = F.size(F.array_distinct(lines)).cast("long")
    base = docs.select(
        "doc_id",
        n_lines.alias("n_lines"),
        F.when(
            n_lines > 0,
            (n_lines - n_dist).cast("double") / n_lines,
        ).otherwise(F.lit(0.0)).alias("dup_line_frac"),
    )
    bc = (
        docs.select("doc_id", F.explode(_shingles_col(2)).alias("bigram"))
        .groupBy("doc_id", "bigram")
        .agg(F.count("*").alias("c"))
    )
    bs = bc.groupBy("doc_id").agg(
        (F.max("c").cast("double") / F.sum("c")).alias("top_bigram_frac")
    )
    return base.join(bs, "doc_id", "left").select(
        "doc_id",
        "n_lines",
        "dup_line_frac",
        F.coalesce(F.col("top_bigram_frac"), F.lit(0.0)).alias("top_bigram_frac"),
    )


def _sql_repetition_stats() -> str:
    return f"""
WITH lt AS (SELECT doc_id, {lemmas_list_sql()} AS l FROM documents),
bg AS (
    SELECT doc_id, l[i] || ' ' || l[i + 1] AS bigram
    FROM (SELECT doc_id, l, unnest(range(1, len(l))) AS i
          FROM lt WHERE len(l) >= 2)
),
bc AS (SELECT doc_id, bigram, COUNT(*) AS c FROM bg GROUP BY 1, 2),
bs AS (
    SELECT doc_id,
           CAST(MAX(c) AS DOUBLE) / CAST(SUM(c) AS BIGINT) AS top_bigram_frac
    FROM bc GROUP BY 1
),
ln AS (
    SELECT doc_id,
           list_filter(list_transform(string_split(text, chr(10)),
                                      x -> trim(x)), x -> x <> '') AS ls
    FROM documents
)
SELECT d.doc_id,
       CAST(len(ls) AS BIGINT) AS n_lines,
       CASE WHEN len(ls) > 0
            THEN CAST(len(ls) - len(list_distinct(ls)) AS DOUBLE) / len(ls)
            ELSE 0.0::DOUBLE END AS dup_line_frac,
       COALESCE(bs.top_bigram_frac, 0.0::DOUBLE) AS top_bigram_frac
FROM documents d
JOIN ln USING (doc_id)
LEFT JOIN bs USING (doc_id)
"""


DECONTAM_EVAL_MOD = 97  # synthetic eval set: docs with doc_id % 97 == 0


def q_decontaminate(spark, sf_dir):
    """Benchmark decontamination — the training-data op that flags
    documents sharing n-grams with an evaluation set so eval answers
    don't leak into training corpora (standard since GPT-3 §C /
    Gopher §A2). The eval set here is synthesized deterministically as
    the lemma {SHINGLE_N}-gram shingles of every doc with
    doc_id % {DECONTAM_EVAL_MOD} == 0 (a stand-in for a benchmark
    suite's n-gram table; in production it arrives as a small external
    table). Per doc: distinct shingles, distinct shingles hitting the
    eval set, and the contaminated flag.

    100 TB shape: an eval-suite n-gram table is tiny next to the corpus
    (millions of rows vs billions of docs), so the membership probe is a
    BROADCAST semi-join riding the corpus scan — the only shuffle is the
    doc_id-keyed count aggregate, which is skew-free by construction.
    Nothing about the corpus side is quadratic or collected."""
    docs = _docs(spark, sf_dir)
    sh = (
        docs.select("doc_id", F.explode(_shingles_col()).alias("shingle"))
        .distinct()
    )
    ev = (
        sh.filter(F.col("doc_id") % DECONTAM_EVAL_MOD == 0)
        .select("shingle")
        .distinct()
    )
    hits = (
        sh.join(F.broadcast(ev), "shingle")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_hits"))
    )
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_shingles"))
    zero = F.lit(0).cast("long")
    return (
        docs.select("doc_id")
        .join(sizes, "doc_id", "left")
        .join(hits, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("n_shingles"), zero).alias("n_shingles"),
            F.coalesce(F.col("n_hits"), zero).alias("n_hits"),
            (F.coalesce(F.col("n_hits"), zero) > 0).alias("contaminated"),
        )
    )


def _sql_decontaminate() -> str:
    return f"""
WITH sh AS ({_shingles_cte_sql()}),
ev AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % {DECONTAM_EVAL_MOD} = 0),
hits AS (
    SELECT doc_id, COUNT(*) AS n_hits FROM sh JOIN ev USING (shingle)
    GROUP BY 1
),
sizes AS (SELECT doc_id, COUNT(*) AS n_shingles FROM sh GROUP BY 1)
SELECT d.doc_id,
       COALESCE(sizes.n_shingles, 0) AS n_shingles,
       COALESCE(hits.n_hits, 0) AS n_hits,
       COALESCE(hits.n_hits, 0) > 0 AS contaminated
FROM documents d
LEFT JOIN sizes USING (doc_id)
LEFT JOIN hits USING (doc_id)
"""


# PII scrubbing: the corpus is synthetic and PII-free, so positives are
# INJECTED deterministically (same derivation on both engines) — the gate
# then proves detection AND redaction on real matches, not on an
# all-zeros corpus. Patterns stay in the Java-regex/RE2 common subset
# (character classes, bounded repetition; no lookaround, no backrefs) so
# leftmost-greedy matching is identical across Spark and DuckDB.
PII_EMAIL_RE = r"[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}"
PII_IP_RE = r"\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}"
PII_PHONE_RE = r"\d{3}-\d{4}"


def q_pii_scrub(spark, sf_dir):
    """PII scrubbing — count and redact emails, IPv4 addresses, and
    phone-shaped digit runs (the hygiene pass every public-corpus
    training pipeline runs; C4 and RefinedWeb both ship regex scrubbers).
    Redaction order is fixed (email -> ip -> phone) and mirrored in the
    SQL twin; counts are taken BEFORE redaction. Pure per-row Catalyst
    expressions riding the scan — zero shuffles, zero UDFs, linear at
    any corpus size."""
    d = F.col("doc_id")
    injected = F.concat(
        F.col("text"),
        F.when(
            d % 7 == 0,
            F.concat(F.lit(" contact agent"), d.cast("string"),
                     F.lit("@example.com")),
        ).otherwise(F.lit("")),
        F.when(
            d % 11 == 0,
            F.concat(F.lit(" call 555-"),
                     F.lpad((d % 10000).cast("string"), 4, "0")),
        ).otherwise(F.lit("")),
        F.when(
            d % 13 == 0,
            F.concat(F.lit(" from 10.0."), (d % 256).cast("string"),
                     F.lit(".7")),
        ).otherwise(F.lit("")),
    )
    docs = _docs(spark, sf_dir).select("doc_id", injected.alias("text"))
    clean = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(F.col("text"), PII_EMAIL_RE, "<EMAIL>"),
            PII_IP_RE, "<IP>",
        ),
        PII_PHONE_RE, "<PHONE>",
    )
    return docs.select(
        "doc_id",
        F.regexp_count(F.col("text"), F.lit(PII_EMAIL_RE))
        .cast("long").alias("n_emails"),
        F.regexp_count(F.col("text"), F.lit(PII_IP_RE))
        .cast("long").alias("n_ips"),
        F.regexp_count(F.col("text"), F.lit(PII_PHONE_RE))
        .cast("long").alias("n_phones"),
        clean.alias("clean_text"),
    )


def _sql_pii_scrub() -> str:
    return f"""
WITH injected AS (
    SELECT doc_id,
           text
           || CASE WHEN doc_id % 7 = 0
                   THEN ' contact agent' || CAST(doc_id AS VARCHAR)
                        || '@example.com'
                   ELSE '' END
           || CASE WHEN doc_id % 11 = 0
                   THEN ' call 555-'
                        || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                   ELSE '' END
           || CASE WHEN doc_id % 13 = 0
                   THEN ' from 10.0.' || CAST(doc_id % 256 AS VARCHAR)
                        || '.7'
                   ELSE '' END AS text
    FROM documents
)
SELECT doc_id,
       CAST(len(regexp_extract_all(text, '{PII_EMAIL_RE}')) AS BIGINT)
           AS n_emails,
       CAST(len(regexp_extract_all(text, '{PII_IP_RE}')) AS BIGINT)
           AS n_ips,
       CAST(len(regexp_extract_all(text, '{PII_PHONE_RE}')) AS BIGINT)
           AS n_phones,
       regexp_replace(
           regexp_replace(
               regexp_replace(text, '{PII_EMAIL_RE}', '<EMAIL>', 'g'),
               '{PII_IP_RE}', '<IP>', 'g'),
           '{PII_PHONE_RE}', '<PHONE>', 'g') AS clean_text
FROM injected
"""


SOURCE_CAP = 20  # max docs kept per source (25/source at sf0.01 -> trims)


def q_source_cap_sample(spark, sf_dir):
    """Source balancing: deterministically downsample over-represented
    sources to at most SOURCE_CAP documents each, ranking docs inside a
    source by a salted portable hash (never RAND() — reproducible across
    retries, resumes, and cluster sizes). One window shuffle keyed by
    source; at 100 TB a pathological head source makes that key hot, so
    the production form pre-filters with an approximate per-source
    count and two-level (salt, then re-rank survivors) capping — here
    the exact single-window form IS the oracle-checkable contract."""
    h = _hash_col(F.concat(F.lit("sample:"), F.col("doc_id").cast("string")))
    w = Window.partitionBy("source").orderBy(F.asc("_h"), F.asc("doc_id"))
    return (
        _docs(spark, sf_dir)
        .select("doc_id", "source", h.alias("_h"))
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= SOURCE_CAP)
        .select("doc_id", "source", F.col("rk").cast("int").alias("rk"))
    )


def _sql_source_cap_sample() -> str:
    horner = _hex2int_sql("md5('sample:' || CAST(doc_id AS VARCHAR))")
    return f"""
SELECT doc_id, source, CAST(rk AS INT) AS rk FROM (
    SELECT doc_id, source,
           ROW_NUMBER() OVER (PARTITION BY source
                              ORDER BY {horner} ASC, doc_id ASC) AS rk
    FROM documents
) WHERE rk <= {SOURCE_CAP}
"""


SHARD_N = 8             # deterministic output shards
SHARD_QUALITY_MIN = 0.35
SHARD_MIN_TERMS = 5     # analyzer-term length gate


def q_pipeline_training_shard(spark, sf_dir):
    """The LLM training-data prep funnel composed as ONE Catalyst plan —
    the 100 TB shape the individual stages were built for, end-to-end:
      1. hygiene (P1 blank-class filter, pushed to the scan),
      2. exact dedup (md5 groupBy, keep min doc_id — the only
         text-keyed shuffle in the plan),
      3. language gate (heuristic lang_id == 'en'),
      4. quality gate (alpha+stopword linear score >= cutoff),
      5. length gate (analyzer terms >= min),
      6. deterministic shard assignment (portable md5-60bit % N) so a
         downstream writer partitions shards without another shuffle.
    Every stage reuses an individually-oracled core (_token_counts_struct
    + _lang_pred_from / _quality_from, terms_col, _hash_col) — this entry
    proves they
    COMPOSE bit-exactly, not just pass alone. Plan shape: ONE pass over
    the corpus (language, quality, and length are per-row expressions
    riding the scan in whole-stage codegen) into ONE shuffle (the
    md5(text) window that keeps the min-doc_id representative); the
    gates filter inside the post-shuffle stage. No joins, no second
    scan — the plan a 100 TB prep job needs."""
    return training_shard_funnel(
        _docs(spark, sf_dir),
        ["doc_id"],
        F.concat(F.lit("shard:"), F.col("doc_id").cast("string")),
    )


def training_shard_funnel(docs, id_cols, shard_hash_input) -> DataFrame:
    """The funnel core, parameterized over the row identity so the gate
    entry (doc_id over documents) and the big-corpus scaling leg in
    bench.py (conv_id/turn_idx over transcripts) run the IDENTICAL plan —
    one definition, no drift between what is oracled and what is
    benchmarked. ``id_cols`` orders the dedup-representative window;
    ``shard_hash_input`` is the string column fed to the portable shard
    hash."""
    docs = docs.filter(nonblank_text()).withColumn(
        "_tc", _token_counts_struct()
    )
    enriched = docs.select(
        *id_cols,
        F.md5("text").alias("text_hash"),
        _lang_pred_from(F.col("_tc")).alias("lang_pred"),
        _quality_from(F.col("_tc"))["quality"].alias("quality"),
        F.size(terms_col(F.col("text"))).cast("long").alias("n_terms"),
    )
    w = Window.partitionBy("text_hash").orderBy(
        *[F.asc(c) for c in id_cols]
    )
    shard = (_hash_col(shard_hash_input) % F.lit(SHARD_N)).cast("int")
    return (
        enriched.withColumn("_rn", F.row_number().over(w))
        .filter(
            (F.col("_rn") == 1)
            & (F.col("lang_pred") == "en")
            & (F.col("quality") >= F.lit(SHARD_QUALITY_MIN))
            & (F.col("n_terms") >= F.lit(SHARD_MIN_TERMS))
        )
        .select(
            *id_cols, "lang_pred", "quality", "n_terms",
            shard.alias("shard_id"),
        )
    )


def _sql_training_shard() -> str:
    """Exact DuckDB twin of q_pipeline_training_shard: the same hygiene /
    dedup / language / quality / length / shard stages over `hdocs`,
    built from the SAME table-parameterized fragments as the individual
    oracles (_lang_pred_cte_sql, _quality_base_cte_sql + _QUALITY_EXPR,
    tokens_cte_sql) so the twins cannot drift apart."""
    horner = _hex2int_sql("md5('shard:' || CAST(h.doc_id AS VARCHAR))")
    return f"""
WITH hdocs AS (
    SELECT * FROM documents
    WHERE text IS NOT NULL
      AND regexp_replace(text, '{BLANK_CLASS}', '', 'g') <> ''
),
toks AS ({tokens_cte_sql("hdocs")}),
tn AS (SELECT doc_id, COUNT(*) AS n_terms FROM toks GROUP BY 1),
reps AS (SELECT MIN(doc_id) AS doc_id FROM hdocs GROUP BY md5(text)),
lang AS ({_lang_pred_cte_sql("hdocs")}),
qual AS (
    SELECT doc_id, {_QUALITY_EXPR} AS quality
    FROM ({_quality_base_cte_sql("hdocs")})
)
SELECT h.doc_id, l.lang_pred, q.quality,
       CAST(COALESCE(tn.n_terms, 0) AS BIGINT) AS n_terms,
       CAST({horner} % {SHARD_N} AS INT) AS shard_id
FROM hdocs h
JOIN reps r ON r.doc_id = h.doc_id
JOIN lang l ON l.doc_id = h.doc_id
JOIN qual q ON q.doc_id = h.doc_id
LEFT JOIN tn ON tn.doc_id = h.doc_id
WHERE l.lang_pred = 'en'
  AND q.quality >= {SHARD_QUALITY_MIN}::DOUBLE
  AND COALESCE(tn.n_terms, 0) >= {SHARD_MIN_TERMS}
"""


# ---------------------------------------------------------------------------
# Training-batch layout ops: deterministic split, sequence packing,
# context-window chunking — the steps between "curated corpus" and "tensors"
# ---------------------------------------------------------------------------
SPLIT_TRAIN_PCT = 90
SPLIT_VAL_PCT = 95   # train < 90 <= val < 95 <= test
SEQ_BUDGET = 512     # tokens per packed training sequence
CHUNK_SIZE = 32      # context-window chunk length (tokens)
CHUNK_STRIDE = 24    # chunk start stride (CHUNK_SIZE - stride = overlap)


def q_hash_split(spark, sf_dir):
    """Deterministic train/val/test split: portable md5-60bit of a salted
    doc_id, bucketed 0-99 — reproducible across engines/runs/cluster
    sizes (never RAND(), which breaks retries and resumed jobs), and a
    pure per-row expression: no shuffle at any scale."""
    bucket = (
        _hash_col(F.concat(F.lit("split:"), F.col("doc_id").cast("string")))
        % F.lit(100)
    ).cast("int")
    return _docs(spark, sf_dir).select(
        "doc_id",
        bucket.alias("bucket"),
        F.when(bucket < SPLIT_TRAIN_PCT, "train")
        .when(bucket < SPLIT_VAL_PCT, "val")
        .otherwise("test")
        .alias("split"),
    )


def _sql_hash_split() -> str:
    horner = _hex2int_sql("md5('split:' || CAST(doc_id AS VARCHAR))")
    return f"""
SELECT doc_id, CAST({horner} % 100 AS INT) AS bucket,
       CASE WHEN {horner} % 100 < {SPLIT_TRAIN_PCT} THEN 'train'
            WHEN {horner} % 100 < {SPLIT_VAL_PCT} THEN 'val'
            ELSE 'test' END AS split
FROM documents
"""


def q_seq_pack(spark, sf_dir):
    """Sequence packing: lay each training shard's surviving documents
    (the FULL pipeline_training_shard funnel feeds this — the stages
    compose) end-to-end in doc_id order and chop the token stream into
    SEQ_BUDGET-token sequences (GPT-style concat-then-chop). Emits each
    doc's sequence id, its token offset inside the stream, and whether
    it straddles a sequence boundary (the rows a loss-masking loader
    needs). Plan shape: the funnel's one scan + one shuffle, plus ONE
    window partitioned BY SHARD — cumulative state is per-shard, so the
    pack parallelizes across shards and never builds a global order (the
    100 TB-safe form of a running total)."""
    funnel = q_pipeline_training_shard(spark, sf_dir)
    w = Window.partitionBy("shard_id").orderBy("doc_id")
    tok_start = (F.sum("n_terms").over(w) - F.col("n_terms")).cast("long")
    return funnel.select(
        "doc_id",
        "shard_id",
        tok_start.alias("tok_start"),
        "n_terms",
    ).select(
        "doc_id",
        "shard_id",
        (F.col("tok_start") / F.lit(SEQ_BUDGET)).cast("long").alias("seq_id"),
        "tok_start",
        "n_terms",
        (
            (F.col("tok_start") % SEQ_BUDGET) + F.col("n_terms")
            > F.lit(SEQ_BUDGET)
        ).cast("int").alias("straddles"),
    )


def _sql_seq_pack() -> str:
    return f"""
WITH funnel AS ({_sql_training_shard()}),
packed AS (
    SELECT doc_id, shard_id,
           CAST(SUM(n_terms) OVER (PARTITION BY shard_id ORDER BY doc_id)
                - n_terms AS BIGINT) AS tok_start,
           n_terms
    FROM funnel
)
SELECT doc_id, shard_id, tok_start // {SEQ_BUDGET} AS seq_id, tok_start,
       n_terms,
       CAST((tok_start % {SEQ_BUDGET}) + n_terms > {SEQ_BUDGET} AS INT)
           AS straddles
FROM packed
"""


def q_doc_chunks(spark, sf_dir):
    """Context-window chunking: split each document's token stream into
    CHUNK_SIZE-token windows every CHUNK_STRIDE tokens (overlapping), the
    unit embedding/retrieval pipelines index. Emits (doc_id, chunk_id,
    tok_lo, tok_hi); the final chunk is clipped to the doc length.
    Per-row explode — embarrassingly parallel, no shuffle."""
    n = F.size(terms_col(F.col("text"))).cast("long")
    n_chunks = F.when(n <= CHUNK_SIZE, F.lit(1).cast("long")).otherwise(
        (
            (n - CHUNK_SIZE + CHUNK_STRIDE - 1) / F.lit(CHUNK_STRIDE)
        ).cast("long")
        + 1
    )
    base = (
        _docs(spark, sf_dir)
        .select("doc_id", n.alias("n"), n_chunks.alias("n_chunks"))
        .filter(F.col("n") > 0)
    )
    idx = F.explode(
        F.sequence(F.lit(0).cast("long"), F.col("n_chunks") - 1)
    ).alias("chunk_id")
    return base.select("doc_id", "n", idx).select(
        "doc_id",
        "chunk_id",
        (F.col("chunk_id") * CHUNK_STRIDE).alias("tok_lo"),
        F.least(
            F.col("chunk_id") * CHUNK_STRIDE + CHUNK_SIZE, F.col("n")
        ).alias("tok_hi"),
    )


def _sql_doc_chunks() -> str:
    c, s = CHUNK_SIZE, CHUNK_STRIDE
    return f"""
WITH t AS (
    SELECT doc_id, CAST(len({lemmas_list_sql()}) AS BIGINT) AS n
    FROM documents
),
cc AS (
    SELECT doc_id, n,
           CASE WHEN n <= {c} THEN 1
                ELSE ((n - {c} + {s} - 1) // {s}) + 1 END AS n_chunks
    FROM t WHERE n > 0
),
ex AS (
    SELECT doc_id, n, unnest(range(0, n_chunks)) AS chunk_id FROM cc
)
SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
       CAST(chunk_id * {s} AS BIGINT) AS tok_lo,
       CAST(least(chunk_id * {s} + {c}, n) AS BIGINT) AS tok_hi
FROM ex
"""


# 32 analyzer-fixed-point tokens (no stopwords, no lemma rewrites), so the
# planted boilerplate header IS the first CHUNK_SIZE-token window verbatim
CHUNK_BOILER = " ".join(
    ("table scan merge batch window group filter sort "
     "join value column row data stream vector query").split() * 2
)


def q_chunk_dedup(spark, sf_dir):
    """Cross-document chunk dedup — C4/RefinedWeb-style removal of text
    spans duplicated ACROSS documents (page headers, navigation chrome,
    license boilerplate), the line-level counterpart of doc-level
    dedup_exact. The corpus has no shared spans by construction, so a
    32-token boilerplate header is planted on every doc_id % 4 == 0 doc
    (the realistic shape: the same chrome prepended to many pages);
    texts are split into DISJOINT CHUNK_SIZE-token lemma windows, each
    window keyed by md5 of its joined lemmas, and only the FIRST
    occurrence corpus-wide (by doc_id, chunk_id) survives. Returns
    per-doc (n_chunks, kept_chunks) — every planted doc after the first
    shows kept < n: exactly one boilerplate copy survives the corpus.
    Plan: per-row explode/hash (no shuffle) -> ONE hash-partitioned
    window (the canonical dedup shuffle; at 100 TB this is the same
    exchange dedup_exact pays, on chunk rows instead of docs) -> doc_id
    agg. Nothing pairwise, nothing quadratic."""
    C = CHUNK_SIZE
    src = _docs(spark, sf_dir).select(
        "doc_id",
        F.when(
            F.col("doc_id") % 4 == 0,
            F.concat(
                F.lit(CHUNK_BOILER + " "),
                F.coalesce(F.col("text"), F.lit("")),
            ),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    base = src.select(
        "doc_id", terms_col(F.col("text")).alias("terms")
    ).withColumn("n", F.size("terms").cast("long")).filter(F.col("n") > 0)
    ch = base.withColumn(
        "chunk_id",
        F.explode(
            F.sequence(
                F.lit(0).cast("long"),
                ((F.col("n") + C - 1) / F.lit(C)).cast("long") - 1,
            )
        ),
    ).select(
        "doc_id",
        "chunk_id",
        F.md5(
            F.concat_ws(
                " ", F.expr(f"slice(terms, chunk_id * {C} + 1, {C})")
            )
        ).alias("h"),
    )
    w = Window.partitionBy("h").orderBy("doc_id", "chunk_id")
    return (
        ch.withColumn("rn", F.row_number().over(w))
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_chunks"),
            F.sum(F.when(F.col("rn") == 1, 1).otherwise(0))
            .cast("long")
            .alias("kept_chunks"),
        )
    )


def _sql_chunk_dedup() -> str:
    c = CHUNK_SIZE
    return f"""
WITH src AS (
    SELECT doc_id,
           CASE WHEN doc_id % 4 = 0
                THEN '{CHUNK_BOILER} ' || COALESCE(text, '')
                ELSE text END AS text
    FROM documents
),
lem AS (SELECT doc_id, {lemmas_list_sql()} AS lem FROM src),
tt AS (
    SELECT doc_id, lem, CAST(len(lem) AS BIGINT) AS n
    FROM lem WHERE len(lem) > 0
),
ex AS (
    SELECT doc_id, n, lem,
           unnest(range(0, (n + {c} - 1) // {c})) AS chunk_id
    FROM tt
),
ch AS (
    SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
           md5(array_to_string(
               list_slice(lem, chunk_id * {c} + 1,
                          least((chunk_id + 1) * {c}, n)), ' ')) AS h
    FROM ex
),
mk AS (
    SELECT doc_id, chunk_id,
           ROW_NUMBER() OVER (PARTITION BY h ORDER BY doc_id, chunk_id) AS rn
    FROM ch
)
SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_chunks,
       CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS kept_chunks
FROM mk GROUP BY doc_id
"""


def q_sample_mix(spark, sf_dir):
    """Deterministic weighted source mixing — the data-mixing step of a
    training pipeline (Pile/DoReMi-style: each source gets a mixture
    rate; the corpus is downsampled per source to hit it). Never
    RAND(): the keep decision is a portable hash threshold on doc_id, so
    retries, resumed jobs, and the DuckDB twin all deal identical rows.
    Rates are themselves derived from a hash of the source name (4
    ladder steps, 25%..81.25% in basis points) so the rule is
    self-contained; a real pipeline would broadcast a weights map
    instead — same plan. Returns the per-source mixing ledger
    (rate_bp, n_docs, n_kept): the 'no silent caps' accounting that
    ships with every sampling op here. Plan: per-row hashes + one
    source-keyed agg — one Exchange, nothing else."""
    d = F.col("doc_id").cast("string")
    rate_bp = (
        F.lit(2500)
        + F.lit(1875)
        * (_hash_col(F.concat(F.lit("rate:"), F.col("source"))) % 4)
    ).cast("long")
    keep = (_hash_col(F.concat(F.lit("mix:"), d)) % 10000) < F.col("rate_bp")
    return (
        _docs(spark, sf_dir)
        .select("source", rate_bp.alias("rate_bp"), "doc_id")
        .withColumn("k", keep.cast("int"))
        .groupBy("source", "rate_bp")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("k").cast("long").alias("n_kept"),
        )
    )


def _sql_sample_mix() -> str:
    h_rate = _hex2int_sql("md5('rate:' || source)")
    h_mix = _hex2int_sql("md5('mix:' || CAST(doc_id AS VARCHAR))")
    return f"""
WITH m AS (
    SELECT source,
           CAST(2500 + 1875 * ({h_rate} % 4) AS BIGINT) AS rate_bp,
           CASE WHEN ({h_mix} % 10000)
                     < 2500 + 1875 * ({h_rate} % 4)
                THEN 1 ELSE 0 END AS k
    FROM documents
)
SELECT source, rate_bp,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(k) AS BIGINT) AS n_kept
FROM m GROUP BY source, rate_bp
"""


SHUFFLE_EPOCH = 1     # reshuffle seed: bumping it permutes every shard's order
SHUFFLE_SHARDS = 8    # order is defined WITHIN a shard — never a global sort


def q_shuffle_order(spark, sf_dir):
    """Deterministic training-order shuffle — the step between sharding
    and the dataloader. Every epoch needs a reproducible pseudo-random
    document order that survives retries and resumed jobs (never
    RAND(): a re-executed task would deal different rows), and at 100 TB
    it must never materialize a GLOBAL sort. Order key = portable
    md5-60bit of (epoch, doc_id); shard = an independently salted hash
    bucket; pos = row_number windowed PER SHARD over (key, doc_id) — the
    sort is shard-local, so it parallelizes across shards exactly like
    seq_pack's cumsum, and a dataloader streams shard files in pos
    order. Bumping SHUFFLE_EPOCH re-deals every shard deterministically."""
    d = F.col("doc_id").cast("string")
    key = _hash_col(F.concat(F.lit(f"shuf:{SHUFFLE_EPOCH}:"), d))
    shard = (
        _hash_col(F.concat(F.lit("shard:"), d)) % F.lit(SHUFFLE_SHARDS)
    ).cast("int")
    w = Window.partitionBy("shard").orderBy("key", "doc_id")
    return (
        _docs(spark, sf_dir)
        .select("doc_id", shard.alias("shard"), key.alias("key"))
        .select(
            "doc_id",
            "shard",
            F.row_number().over(w).cast("long").alias("pos"),
        )
    )


def _sql_shuffle_order() -> str:
    key = _hex2int_sql(
        f"md5('shuf:{SHUFFLE_EPOCH}:' || CAST(doc_id AS VARCHAR))"
    )
    shard = _hex2int_sql("md5('shard:' || CAST(doc_id AS VARCHAR))")
    return f"""
WITH keyed AS (
    SELECT doc_id,
           CAST({shard} % {SHUFFLE_SHARDS} AS INT) AS shard,
           {key} AS key
    FROM documents
)
SELECT doc_id, shard,
       CAST(ROW_NUMBER() OVER (PARTITION BY shard ORDER BY key, doc_id)
            AS BIGINT) AS pos
FROM keyed
"""


# ---------------------------------------------------------------------------
# Relational analytics over the TPC-H star schema — generic join / agg /
# window coverage beyond the search domain. Float discipline: every DOUBLE
# money column is converted to exact integer cents (round(x*100)) BEFORE
# aggregation, so SUMs are order-independent integers and hash-exact.
# ---------------------------------------------------------------------------
def _t(spark, sf_dir, name):
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _cents(col):
    return F.round(F.col(col) * 100).cast("long")


def q_tpch_pricing_summary(spark, sf_dir):
    """TPC-H Q1 analog: big fact scan + filter + multi-agg. One shuffle on
    a 6-value grouping key; partial (map-side) aggregation does the heavy
    lifting — the canonical 100 TB reporting query shape."""
    li = _t(spark, sf_dir, "lineitem")
    cents, disc, tax = _cents("l_extendedprice"), _cents("l_discount"), _cents("l_tax")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("2000-06-30").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(F.round(F.col("l_quantity")).cast("long")).alias("sum_qty"),
            F.sum(cents).alias("sum_base_cents"),
            F.sum(cents * (100 - disc)).alias("sum_disc_e4"),
            F.sum(cents * (100 - disc) * (100 + tax)).alias("sum_charge_e6"),
            F.count("*").alias("n_rows"),
        )
    )


SQL_TPCH_PRICING = """
SELECT l_returnflag, l_linestatus,
       CAST(SUM(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS sum_qty,
       CAST(SUM(CAST(round(l_extendedprice*100) AS BIGINT)) AS BIGINT) AS sum_base_cents,
       CAST(SUM(CAST(round(l_extendedprice*100) AS BIGINT)
                * (100 - CAST(round(l_discount*100) AS BIGINT))) AS BIGINT) AS sum_disc_e4,
       CAST(SUM(CAST(round(l_extendedprice*100) AS BIGINT)
                * (100 - CAST(round(l_discount*100) AS BIGINT))
                * (100 + CAST(round(l_tax*100) AS BIGINT))) AS BIGINT) AS sum_charge_e6,
       COUNT(*) AS n_rows
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '2000-06-30 00:00:00'
GROUP BY 1, 2
"""


def q_tpch_order_revenue(spark, sf_dir):
    """Fact-fact join (orders ⋈ lineitem) + agg + top-k. Both sides are
    large: co-partitioned shuffle join on the order key, aggregation keyed
    the same so AQE can collapse the exchanges."""
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "O")
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-01-01").cast("timestamp")
    )
    cents, disc = _cents("l_extendedprice"), _cents("l_discount")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("o_orderkey", "o_orderpriority")
        .agg(
            F.sum(cents * (100 - disc)).alias("revenue_e4"),
            F.count("*").alias("n_items"),
        )
        .orderBy(F.desc("revenue_e4"), F.asc("o_orderkey"))
        .limit(20)
    )


SQL_TPCH_ORDER_REVENUE = """
SELECT o_orderkey, o_orderpriority,
       CAST(SUM(CAST(round(l_extendedprice*100) AS BIGINT)
                * (100 - CAST(round(l_discount*100) AS BIGINT))) AS BIGINT) AS revenue_e4,
       COUNT(*) AS n_items
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE o_orderstatus = 'O' AND l_shipdate > TIMESTAMP '1998-01-01 00:00:00'
GROUP BY 1, 2
ORDER BY revenue_e4 DESC, o_orderkey ASC
LIMIT 20
"""


def q_tpch_cust_nation_region(spark, sf_dir):
    """Broadcast-dimension join: customer ⋈ nation ⋈ region. The dims are
    tiny — explicitly broadcast so the fact side never shuffles for the
    join (only the final small groupBy exchanges)."""
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(
            F.count("*").alias("n_customers"),
            F.sum(_cents("c_acctbal")).alias("sum_acctbal_cents"),
        )
    )


SQL_TPCH_CUST_NATION_REGION = """
SELECT r_name, n_name, COUNT(*) AS n_customers,
       CAST(SUM(CAST(round(c_acctbal*100) AS BIGINT)) AS BIGINT) AS sum_acctbal_cents
FROM customer
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY 1, 2
"""


def q_tpch_semi_join(spark, sf_dir):
    """LEFT SEMI: customers having at least one fulfilled ('F') order,
    counted per market segment. The semi-join keeps the build side to the
    distinct key set — no row multiplication."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_semi")
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("n_customers"))
    )


SQL_TPCH_SEMI = """
SELECT c_mktsegment, COUNT(*) AS n_customers
FROM customer
WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_orderstatus = 'F')
GROUP BY 1
"""


def q_tpch_anti_join(spark, sf_dir):
    """LEFT ANTI: customers with NO pending ('P') order, per nation — the
    visited-set/dedup join shape (S3/J4) on relational data."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "P")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_anti")
        .groupBy("c_nationkey")
        .agg(F.count("*").alias("n_customers"))
    )


SQL_TPCH_ANTI = """
SELECT c_nationkey, COUNT(*) AS n_customers
FROM customer c
WHERE NOT EXISTS (
    SELECT 1 FROM orders o
    WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'P'
)
GROUP BY 1
"""


def q_tpch_top_orders_per_cust(spark, sf_dir):
    """Ranked window over a fact table: top-2 orders by value per customer
    (row_number, deterministic tie-break on the key)."""
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        o.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 2)
        .select(
            "o_custkey", "o_orderkey", "rnk",
            _cents("o_totalprice").alias("totalprice_cents"),
        )
    )


SQL_TPCH_TOP_ORDERS = """
SELECT o_custkey, o_orderkey, rnk,
       CAST(round(o_totalprice*100) AS BIGINT) AS totalprice_cents
FROM (
    SELECT o_custkey, o_orderkey, o_totalprice,
           ROW_NUMBER() OVER (PARTITION BY o_custkey
                              ORDER BY o_totalprice DESC, o_orderkey ASC) AS rnk
    FROM orders
)
WHERE rnk <= 2
"""


def q_tpch_brand_volume(spark, sf_dir):
    """Fact ⋈ broadcast part dimension, grouped by brand."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("p_brand")
        .agg(
            F.count("*").alias("n_items"),
            F.sum(F.round(F.col("l_quantity")).cast("long")).alias("sum_qty"),
        )
    )


SQL_TPCH_BRAND_VOLUME = """
SELECT p_brand, COUNT(*) AS n_items,
       CAST(SUM(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS sum_qty
FROM lineitem JOIN part ON l_partkey = p_partkey
GROUP BY 1
"""


# ---------------------------------------------------------------------------
# Event-time analytics (events table) — the streaming-shaped batch ops
# ---------------------------------------------------------------------------
SESSION_GAP_US = 30 * 60 * 1_000_000  # 30-minute inactivity gap


def q_events_tumbling(spark, sf_dir):
    """1-hour tumbling event-time window per event_type (F.window — the
    same operator Structured Streaming uses with a watermark). Values are
    summed in cents (exact integers) — float SUM order is engine-defined."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    cents = F.round(F.col("value") * 100).cast("long")
    return (
        ev.groupBy(
            F.window("ts", "1 hour").alias("w"), "event_type"
        )
        .agg(F.count("*").alias("n_events"), F.sum(cents).alias("sum_cents"))
        .select(
            F.col("w.start").alias("hour_start"),
            "event_type",
            "n_events",
            "sum_cents",
        )
    )


SQL_EVENTS_TUMBLING = """
SELECT date_trunc('hour', ts) AS hour_start, event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents
FROM events GROUP BY 1, 2
"""


def q_events_sessionize(spark, sf_dir):
    """Sessionization: per-user sessions split on a 30-min inactivity gap
    (lag + running sum of boundaries). Gap math in integer microseconds."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # parquet TIMESTAMP_NTZ -> session-UTC timestamp; epoch micros then
    # match DuckDB's epoch_us over the same naive values
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    prev = F.lag(us).over(w)
    new_s = F.when(
        prev.isNull() | ((us - prev) > SESSION_GAP_US), 1
    ).otherwise(0)
    ws = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    sess = ev.withColumn("session_id", F.sum(new_s).over(ws))
    return sess.groupBy("user_id", "session_id").agg(
        F.count("*").alias("n_events"),
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
    )


SQL_EVENTS_SESSIONIZE = f"""
WITH o AS (
    SELECT user_id, event_id, ts,
           CASE WHEN LAG(epoch_us(ts)) OVER w IS NULL
                  OR epoch_us(ts) - LAG(epoch_us(ts)) OVER w > {SESSION_GAP_US}
                THEN 1 ELSE 0 END AS new_s
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
s AS (
    SELECT user_id, event_id, ts,
           CAST(SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS UNBOUNDED PRECEDING) AS BIGINT)
               AS session_id
    FROM o
)
SELECT user_id, session_id, COUNT(*) AS n_events,
       MIN(ts) AS session_start, MAX(ts) AS session_end
FROM s GROUP BY 1, 2
"""


def q_events_json(spark, sf_dir):
    """Semi-structured access: extract props.k from the JSON column
    (T-series of the reference's parsing ops, pushed JVM-side)."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return ev.select(
        "event_id",
        "event_type",
        F.get_json_object("props", "$.k").cast("long").alias("k_val"),
    )


SQL_EVENTS_JSON = """
SELECT event_id, event_type,
       CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_val
FROM events
"""


def _stream_work_dir(sf_dir: str, tag: str) -> str:
    """Deterministic per-(corpus, entry, process) scratch dir for the
    streaming entries' source/sink/checkpoint, wiped before every run.
    mkdtemp here would leak a full events-table copy per gate
    evaluation; a keyed dir bounds /tmp usage to one dir per entry per
    process, and the wipe guarantees the availableNow run starts from a
    fresh checkpoint (a stale one would no-op the trigger and a stale
    sink would double-append). The pid in the key stops two concurrent
    processes (gate run + verify run) from wiping each other's live
    stream; within one process, collect the returned DataFrame before
    re-evaluating the same entry — the wipe invalidates the prior lazy
    read (the gate and verify harnesses do)."""
    import os
    import shutil

    key = hashlib.md5(f"{BUILD_TAG}:{tag}:{sf_dir}".encode()).hexdigest()[:10]
    base = f"/tmp/ses_stream_{key}_{os.getpid()}"
    shutil.rmtree(base, ignore_errors=True)
    return base


def q_streaming_tumbling(spark, sf_dir):
    """REAL Structured Streaming under the driver gate (not the batch
    analog): stream_windowed_counts runs readStream → watermark(2h) →
    1-hour tumbling windows → append-mode parquet sink with
    trigger(availableNow=True) over the finite events table, then the
    sink is read back. Append mode emits exactly the windows the final
    watermark (max ts − 2h) closed, once each; the oracle is the
    events_tumbling SQL restricted to those same closed windows.
    approx_users is excluded (approx_count_distinct has no cross-engine
    oracle)."""
    from .streaming.windows import stream_windowed_counts

    base = _stream_work_dir(sf_dir, "win")
    src, out, ckpt = f"{base}/src", f"{base}/out", f"{base}/ckpt"
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    ev.select(
        "event_id", "ts", "user_id", "event_type", "value", "props"
    ).write.mode("overwrite").parquet(src)
    q = stream_windowed_counts(
        spark, src, ckpt, out, window="1 hour", late="2 hours"
    )
    if not q.awaitTermination(300):
        # reading a half-committed sink would hash-compare garbage against
        # the oracle — a confusing gate red; fail as what it is: a timeout
        q.stop()
        raise TimeoutError("streaming_tumbling availableNow run > 300 s")
    return spark.read.parquet(out).select(
        F.col("window_start").alias("hour_start"),
        "event_type",
        "n_events",
        "sum_cents",
    )


SQL_STREAMING_TUMBLING = """
SELECT date_trunc('hour', ts) AS hour_start, event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents
FROM events
GROUP BY 1, 2
HAVING date_trunc('hour', ts) + INTERVAL 1 HOUR
       <= (SELECT MAX(ts) - INTERVAL 2 HOUR FROM events)
"""


def q_streaming_sessionize(spark, sf_dir):
    """The CUSTOM STATEFUL streaming operator under the driver gate:
    stream_sessions runs readStream → watermark(1m) →
    applyInPandasWithState (per-user session state, 30-min event-time
    timeout) → append parquet sink with trigger(availableNow=True), then
    reads the sink back. Emitted rows are exactly the sessions the final
    watermark closed; the oracle re-derives them with lag+cumsum
    sessionization in SQL over the SAME millisecond-truncated timeline
    the state operator uses (epoch_ms), restricted to
    session_end + gap < watermark. Green = constant-memory streaming
    sessionization is drift-free against the batch semantics
    (streaming/sessions.py; tests/test_streaming_sessions.py is the
    pytest twin)."""
    from .streaming.sessions import stream_sessions

    base = _stream_work_dir(sf_dir, "sess")
    src, out, ckpt = f"{base}/src", f"{base}/out", f"{base}/ckpt"
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    ev.select(
        "event_id", "ts", "user_id", "event_type", "value", "props"
    ).write.mode("overwrite").parquet(src)
    q = stream_sessions(spark, src, ckpt, out, late="1 minute")
    if not q.awaitTermination(300):
        q.stop()
        raise TimeoutError("streaming_sessionize availableNow run > 300 s")
    return spark.read.parquet(out).select(
        "user_id", "session_start", "session_end", "n_events", "sum_cents"
    )


# GAP/late mirror streaming/sessions.py (GAP_MS) and the entry above; the
# stream tracks state in ms-truncated event time, so the oracle sessionizes
# over epoch_ms(ts) — min/max/gap over floor-truncated values are identical
# to truncating after, and same-ms tie order cannot change any aggregate
SQL_STREAMING_SESSIONIZE = """
WITH e AS (
    SELECT user_id, event_id, epoch_ms(ts) AS ms,
           CAST(round(value * 100) AS BIGINT) AS cents
    FROM events
),
o AS (
    SELECT user_id, event_id, ms, cents,
           CASE WHEN LAG(ms) OVER w IS NULL
                  OR ms - LAG(ms) OVER w > 1800000
                THEN 1 ELSE 0 END AS new_s
    FROM e
    WINDOW w AS (PARTITION BY user_id ORDER BY ms, event_id)
),
s AS (
    SELECT user_id, ms, cents,
           SUM(new_s) OVER (PARTITION BY user_id ORDER BY ms, event_id
                            ROWS UNBOUNDED PRECEDING) AS sid
    FROM o
),
agg AS (
    SELECT user_id, sid, MIN(ms) AS start_ms, MAX(ms) AS last_ms,
           COUNT(*) AS n_events, CAST(SUM(cents) AS BIGINT) AS sum_cents
    FROM s GROUP BY 1, 2
),
wm AS (SELECT epoch_ms(MAX(ts)) - 60000 AS wm_ms FROM events)
SELECT user_id,
       make_timestamp(start_ms * 1000) AS session_start,
       make_timestamp(last_ms * 1000) AS session_end,
       n_events, sum_cents
FROM agg CROSS JOIN wm
WHERE last_ms + 1800000 < wm_ms
"""


# ---------------------------------------------------------------------------
# Non-SQL-expressible (rows-only checks)
# ---------------------------------------------------------------------------
def q_search_snippets(spark, sf_dir):
    """Engine search with snippet highlighting (T8/P6/T7 — SnippetCreator
    .java:19,22-37,61-102 semantics): best-sentence pick, <b> surface-form
    highlights, 240-char word-boundary cut. The engine's snippets are
    hash-checked against a full SQL reimplementation of the same spec."""
    eng = SearchEngine(spark, ensure_index(spark, sf_dir))
    res = eng.search(" ".join(QUERY_TERMS), k=TOPK)
    return res.select(
        F.col("turn_idx").cast("long").alias("doc_id"), "score", "snippet"
    )


def _sql_search_snippets() -> str:
    """SnippetCreator semantics in DuckDB SQL, bit-identical to
    functions/snippet.py: same sentence alphabet, same first-max tie-break,
    same 1-based cut arithmetic, same dangling-tag close."""
    lemmas = sorted(set(analyze_text(" ".join(QUERY_TERMS))))
    lem_list = ", ".join(f"'{l}'" for l in lemmas)
    hit_lemma = lemma_case_sql("lower(t)")
    tok_lemma = lemma_case_sql("lower(tok[i])")
    topk = _topk_sql(_oracle_terms_sorted(), "bm25").strip()
    return f"""
WITH topk AS ({topk}),
base_rows AS (
    SELECT t.doc_id, t.score, d.text
    FROM topk t JOIN documents d USING (doc_id)
),
sentences AS (
    SELECT doc_id, score,
           string_split(
               regexp_replace(text, '([.!?])[ \\t\\n\\r\\f\\v]+',
                              '\\1' || chr(31), 'g'),
               chr(31)) AS sl
    FROM base_rows
),
sent AS (
    SELECT doc_id, score, u.s['i'] AS idx, u.s['v'] AS sentence
    FROM sentences,
         unnest(list_transform(range(1, len(sl) + 1),
                               i -> {{'i': i, 'v': sl[i]}})) AS u(s)
),
scored AS (
    SELECT doc_id, score, idx, sentence,
           len(list_filter(regexp_extract_all(sentence, '[a-zA-Z0-9]+'),
               t -> ({hit_lemma}) IN ({lem_list}))) AS hits
    FROM sent
),
best AS (
    SELECT doc_id, score, sentence
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                                       ORDER BY hits DESC, idx ASC) AS rn
          FROM scored)
    WHERE rn = 1
),
hl AS (
    SELECT doc_id, score,
           sep[1] || array_to_string(
               list_transform(range(1, len(tok) + 1),
                   i -> (CASE WHEN ({tok_lemma}) IN ({lem_list})
                         THEN '<b>' || tok[i] || '</b>'
                         ELSE tok[i] END) || sep[i + 1]),
               '') AS h
    FROM (SELECT doc_id, score,
                 regexp_extract_all(sentence, '[a-zA-Z0-9]+') AS tok,
                 string_split_regex(sentence, '[a-zA-Z0-9]+') AS sep
          FROM best)
),
cutx AS (
    SELECT doc_id, score, length(h) > 240 AS needs_cut,
           CASE WHEN length(h) <= 240 THEN h ELSE substr(h, 1, 240) END AS c
    FROM hl
),
cut2 AS (
    SELECT doc_id, score, needs_cut,
           CASE WHEN needs_cut
                     AND strpos(reverse(c), ' ') > 0
                     AND strpos(reverse(c), ' ') < 240
                THEN substr(c, 1, 240 - strpos(reverse(c), ' '))
                ELSE c END AS c2
    FROM cutx
)
SELECT doc_id, score,
       CASE WHEN NOT needs_cut THEN c2
            ELSE (CASE WHEN (length(c2) - length(replace(c2, '<b>', ''))) / 3
                            > (length(c2) - length(replace(c2, '</b>', ''))) / 4
                  THEN c2 || '</b>' ELSE c2 END) || '...'
       END AS snippet
FROM cut2
"""


def q_build_manifest(spark, sf_dir):
    """Per-partition build lineage + metrics (north-rule checkpoint state).
    Projects the deterministic columns: the per-part postings_written is
    independently recomputable from the corpus (the oracle re-derives the
    engine's dense doc_id assignment with ROW_NUMBER and counts (term, doc)
    pairs per part) — a true end-to-end lineage check."""
    from .operators.index_build import manifest_df

    mdf = manifest_df(spark, ensure_index(spark, sf_dir))
    return mdf.filter(F.col("partition_id") >= 0).select(
        "partition_id",
        "status",
        F.col("postings_written").cast("long").alias("postings_written"),
    )


# engine build defaults: n_parts=4, part_size = ceil(clean_docs / 4);
# engine doc_id = rank in (conv_id='corpus', turn_idx=orig doc_id) order
SQL_BUILD_MANIFEST = f"""
WITH {_base_ctes()},
ids AS (
    SELECT doc_id, ROW_NUMBER() OVER (ORDER BY doc_id) - 1 AS new_id
    FROM documents
    WHERE text IS NOT NULL AND regexp_replace(text, '{BLANK_CLASS}', '', 'g') <> ''
),
n AS (SELECT COUNT(*) AS n_docs FROM ids)
SELECT CAST(FLOOR(ids.new_id / CAST(CEIL(n.n_docs / 4.0) AS BIGINT)) AS INTEGER)
           AS partition_id,
       'DONE' AS status,
       COUNT(*) AS postings_written
FROM tf JOIN ids USING (doc_id) CROSS JOIN n
GROUP BY 1
"""


def _media_df(spark):
    from .operators import multimodal as MM

    return spark.createDataFrame(MM.make_media(n=60, seed=42), schema=MM.MEDIA)


def q_media_features(spark, sf_dir):
    """Multimodal: image channel means over opaque binary payloads
    (deterministic synthetic media; decode via the injectable fake codec —
    real decoders drop in without plan changes). Projects the SQL-checkable
    columns; the sha fingerprint stays on the full operator (unit-tested)."""
    from .operators import multimodal as MM

    return MM.image_features(_media_df(spark), decoder=MM.fake_rgb_decoder).select(
        "media_id", "width", "height", "mean_r", "mean_g", "mean_b"
    )


def q_media_frames(spark, sf_dir):
    """Multimodal: video frame sampling (mapInPandas 1:N row shape)."""
    from .operators import multimodal as MM

    return MM.sample_frames(_media_df(spark), every_n=10).select(
        "media_id", "frame_idx", F.length("payload").alias("frame_bytes")
    )


def q_media_audio_stats(spark, sf_dir):
    """Multimodal: PCM audio RMS + metadata consistency check."""
    from .operators import multimodal as MM

    return MM.audio_stats(_media_df(spark))


# Media oracles: make_media (operators/multimodal.py) is pure integer
# arithmetic on media_id, so DuckDB recomputes every pixel / PCM sample /
# frame length from generate_series — a full value-hash check of the
# mapInPandas decode path, not just rows+schema.
SQL_MEDIA_FEATURES = """
WITH m AS (
    SELECT i AS media_id, 8 + (i*7) % 56 AS h, 8 + (i*5) % 56 AS w
    FROM (SELECT unnest(generate_series(0, 59)) AS i)
    WHERE i % 3 = 0
),
px AS (
    SELECT media_id, w, h,
           (media_id*31 + y.y*17 + x.x*13) % 256 AS r,
           (media_id*31 + y.y*17 + x.x*13 + 7) % 256 AS g,
           (media_id*31 + y.y*17 + x.x*13 + 14) % 256 AS b
    FROM m,
         unnest(generate_series(0, h - 1)) AS y(y),
         unnest(generate_series(0, w - 1)) AS x(x)
)
SELECT media_id, MAX(w) AS width, MAX(h) AS height,
       CAST(SUM(r) AS BIGINT) / CAST(MAX(w) * MAX(h) AS DOUBLE) AS mean_r,
       CAST(SUM(g) AS BIGINT) / CAST(MAX(w) * MAX(h) AS DOUBLE) AS mean_g,
       CAST(SUM(b) AS BIGINT) / CAST(MAX(w) * MAX(h) AS DOUBLE) AS mean_b
FROM px GROUP BY media_id
"""

SQL_MEDIA_FRAMES = """
WITH v AS (
    SELECT i AS media_id, 5 + (i*11) % 35 AS n_frames, 40 + (i % 50) AS frame_len
    FROM (SELECT unnest(generate_series(0, 59)) AS i)
    WHERE i % 3 = 2
)
SELECT media_id, CAST(f.f AS INTEGER) AS frame_idx, frame_len AS frame_bytes
FROM v, unnest(generate_series(0, n_frames - 1, 10)) AS f(f)
"""

SQL_MEDIA_AUDIO_STATS = """
WITH a AS (
    SELECT i AS media_id, 10 + (i*37) % 490 AS dur
    FROM (SELECT unnest(generate_series(0, 59)) AS i)
    WHERE i % 3 = 1
),
s AS (
    SELECT media_id, 16 * dur AS n_samples,
           CAST(SUM(
               ((media_id*131 + j.j*17) % 4096 - 2048)
             * ((media_id*131 + j.j*17) % 4096 - 2048)
           ) AS BIGINT) AS ss
    FROM a, unnest(generate_series(0, 16 * dur - 1)) AS j(j)
    GROUP BY 1, 2
)
SELECT media_id, CAST(n_samples AS BIGINT) AS n_samples,
       sqrt(ss / CAST(n_samples AS DOUBLE)) AS rms,
       TRUE AS meta_consistent
FROM s
"""


# ---------------------------------------------------------------------------
# Registry + driver-gate rotation
# ---------------------------------------------------------------------------
# The driver's correctness gate checks the FIRST `GATE_WINDOW` entries of
# QUERIES only, and the registry outgrew the window — so ordering is now
# STRUCTURAL, not hand-curated (VERDICT.md r4 "Next round #1"):
# least-recently-gated first. GATE_LAST_GREEN records the last round each
# entry had a green driver row (CORRECTNESS_r{N}.json); 0 means "must be
# gated this round" — new entries, and entries whose CODE PATH changed
# since their last green row. After each round, refresh the table from the
# new CORRECTNESS file (`python tools/gate_rotation.py` prints the updated
# dict and flags any stale-beyond-one-round entry that failed to fit the
# window). Ties keep _REGISTRY insertion order, so within the same round
# the entries touching recently-changed code are listed first.
GATE_WINDOW = 50

GATE_LAST_GREEN: dict[str, int] = {
    # 0 = changed since its last green row: every entry behind
    # _engine_topk / q_engine_hot_fallback_topk (search_ids' plan= router
    # replaced the use_* flags), plus the readers whose decode path gained
    # behaviour when the posting readers folded into one kernel
    # (membership reader: NOT, match_count; positions reader: now
    # delete-masked; suggest: length cap by the requested max_edit).
    "engine_disjunctive": 0, "engine_rare_topk": 0, "engine_maxdf_topk": 0,
    "engine_paged_topk": 0, "engine_not_topk": 0, "engine_suggest_fast": 0,
    "engine_match_count": 0, "engine_prox_pos_topk": 0, "bm25_topk": 0,
    "relevance_ref_topk": 0, "engine_hot_topk": 0,
    "engine_hot_fallback_topk": 0, "engine_hot_disjunctive": 0,
    # last green in r4 (CORRECTNESS_r04.json)
    "engine_incremental_stats": 4, "engine_skew_topk": 4,
    "engine_scoped_topk": 4, "engine_batch_topk": 4, "engine_prefix_topk": 4,
    "engine_phrase_topk": 4, "engine_phrase_pos_topk": 4,
    "engine_phrase_incr_topk": 4, "ann_bucketed": 4, "ann_recall": 4,
    "clean_docs": 4, "tokenize_tf": 4, "search_snippets": 4,
    "build_manifest": 4, "dedup_components": 4, "lang_id": 4,
    "quality_score": 4, "token_counts": 4, "events_tumbling": 4,
    "events_sessionize": 4, "events_json": 4, "media_features": 4,
    "media_frames": 4, "media_audio_stats": 4, "streaming_tumbling": 4,
    "streaming_sessionize": 4, "pipeline_training_shard": 4, "seq_pack": 4,
    "repetition_stats": 4, "source_cap_sample": 4, "hash_split": 4,
    "doc_chunks": 4, "decontaminate": 4, "pii_scrub": 4, "shuffle_order": 4,
    "chunk_dedup": 4, "sample_mix": 4,
    # last green in r5 (CORRECTNESS_r05.json)
    "engine_suggest": 5, "engine_role_topk": 5, "engine_suffix_topk": 5,
    "engine_mlt_topk": 5, "engine_facets": 5, "engine_cdc_stats": 5,
    "engine_tombstone_stats": 5, "engine_upsert_stats": 5,
    "engine_delete_stats": 5, "engine_compacted_topk": 5,
    "engine_snapshot_topk": 5, "term_stats": 5, "corpus_stats": 5,
    "doc_stats": 5, "top_terms": 5, "source_stats": 5, "any_match": 5,
    "conjunctive_match": 5, "tpch_pricing_summary": 5,
    "tpch_order_revenue": 5, "tpch_cust_nation_region": 5,
    "tpch_semi_join": 5, "tpch_anti_join": 5, "tpch_top_orders_per_cust": 5,
    "tpch_brand_volume": 5, "dedup_exact": 5, "jaccard_pairs": 5,
    "ngram_dup_pairs": 5, "minhash_sigs": 5, "lsh_pairs": 5,
    "lsh_bucket_stats": 5, "simhash": 5, "doc_fingerprint": 5,
    "rolling_fingerprint": 5, "cosine_topk": 5, "embed_dup_pairs": 5,
    "embed_quantize": 5, "ann_ivf": 5, "ivf_recall": 5, "phrase_match": 5,
    "proximity_match": 5,
}

# Insertion order = tie-break within a gate round. Among the round-4 block
# the entries riding the r5-changed decode kernels (delete-vector
# broadcast) come first so they re-gate soonest.
_REGISTRY: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    # -- new/changed in r5 --
    "engine_not_topk": q_engine_not_topk,
    "engine_suggest": q_engine_suggest,
    "engine_suggest_fast": q_engine_suggest_fast,
    "engine_match_count": q_engine_match_count,
    "engine_role_topk": q_engine_role_topk,
    "engine_suffix_topk": q_engine_suffix_topk,
    "engine_mlt_topk": q_engine_mlt_topk,
    "engine_facets": q_engine_facets,
    "engine_cdc_stats": q_engine_cdc_stats,
    "engine_tombstone_stats": q_engine_tombstone_stats,
    "engine_prox_pos_topk": q_engine_prox_pos_topk,
    "bm25_topk": q_bm25_topk,
    "relevance_ref_topk": q_relevance_ref_topk,
    "engine_upsert_stats": q_engine_upsert_stats,
    "engine_delete_stats": q_engine_delete_stats,
    "engine_compacted_topk": q_engine_compacted_topk,
    "engine_snapshot_topk": q_engine_snapshot_topk,
    # -- r3 cohort --
    "term_stats": q_term_stats,
    "corpus_stats": q_corpus_stats,
    "doc_stats": q_doc_stats,
    "top_terms": q_top_terms,
    "source_stats": q_source_stats,
    "any_match": q_any_match,
    "conjunctive_match": q_conjunctive_match,
    "tpch_pricing_summary": q_tpch_pricing_summary,
    "tpch_order_revenue": q_tpch_order_revenue,
    "tpch_cust_nation_region": q_tpch_cust_nation_region,
    "tpch_semi_join": q_tpch_semi_join,
    "tpch_anti_join": q_tpch_anti_join,
    "tpch_top_orders_per_cust": q_tpch_top_orders_per_cust,
    "tpch_brand_volume": q_tpch_brand_volume,
    "dedup_exact": q_dedup_exact,
    "jaccard_pairs": q_jaccard_pairs,
    "ngram_dup_pairs": q_ngram_dup_pairs,
    "minhash_sigs": q_minhash_sigs,
    "lsh_pairs": q_lsh_pairs,
    "lsh_bucket_stats": q_lsh_bucket_stats,
    "simhash": q_simhash,
    "doc_fingerprint": q_doc_fingerprint,
    "rolling_fingerprint": q_rolling_fingerprint,
    "cosine_topk": q_cosine_topk,
    "embed_dup_pairs": q_embed_dup_pairs,
    "embed_quantize": q_embed_quantize,
    "ann_ivf": q_ann_ivf,
    "ivf_recall": q_ivf_recall,
    "phrase_match": q_phrase_match,
    "proximity_match": q_proximity_match,
    # -- r4 cohort: broadcast-affected decode paths first --
    "engine_hot_topk": q_engine_hot_topk,
    "engine_hot_fallback_topk": q_engine_hot_fallback_topk,
    "engine_hot_disjunctive": q_engine_hot_disjunctive,
    "engine_disjunctive": q_engine_disjunctive,
    "engine_rare_topk": q_engine_rare_topk,
    "engine_maxdf_topk": q_engine_maxdf_topk,
    "engine_paged_topk": q_engine_paged_topk,
    "engine_incremental_stats": q_engine_incremental_stats,
    "engine_skew_topk": q_engine_skew_topk,
    "engine_scoped_topk": q_engine_scoped_topk,
    "engine_batch_topk": q_engine_batch_topk,
    "engine_prefix_topk": q_engine_prefix_topk,
    "engine_phrase_topk": q_engine_phrase_topk,
    "engine_phrase_pos_topk": q_engine_phrase_pos_topk,
    "engine_phrase_incr_topk": q_engine_phrase_incr_topk,
    "ann_bucketed": q_ann_bucketed,
    "ann_recall": q_ann_recall,
    "clean_docs": q_clean_docs,
    "tokenize_tf": q_tokenize_tf,
    "search_snippets": q_search_snippets,
    "build_manifest": q_build_manifest,
    "dedup_components": q_dedup_components,
    "lang_id": q_lang_id,
    "quality_score": q_quality_score,
    "token_counts": q_token_counts,
    "events_tumbling": q_events_tumbling,
    "events_sessionize": q_events_sessionize,
    "events_json": q_events_json,
    "media_features": q_media_features,
    "media_frames": q_media_frames,
    "media_audio_stats": q_media_audio_stats,
    "streaming_tumbling": q_streaming_tumbling,
    "streaming_sessionize": q_streaming_sessionize,
    "pipeline_training_shard": q_pipeline_training_shard,
    "seq_pack": q_seq_pack,
    "repetition_stats": q_repetition_stats,
    "source_cap_sample": q_source_cap_sample,
    "hash_split": q_hash_split,
    "doc_chunks": q_doc_chunks,
    "decontaminate": q_decontaminate,
    "pii_scrub": q_pii_scrub,
    "shuffle_order": q_shuffle_order,
    "chunk_dedup": q_chunk_dedup,
    "sample_mix": q_sample_mix,
}

_TIE_ORDER = {name: i for i, name in enumerate(_REGISTRY)}
QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = dict(
    sorted(
        _REGISTRY.items(),
        key=lambda kv: (GATE_LAST_GREEN.get(kv[0], 0), _TIE_ORDER[kv[0]]),
    )
)


def _oracle_terms_sorted() -> list[str]:
    # df-asc order at sf0.01 (the driver's correctness scale), hardcoded so
    # the SQL accumulation order matches the engine's df-asc pivot order.
    return list(QUERY_TERMS)


ORACLES: dict[str, str] = {
    "clean_docs": SQL_CLEAN_DOCS,
    "tokenize_tf": SQL_TOKENIZE_TF,
    "term_stats": SQL_TERM_STATS,
    "doc_stats": SQL_DOC_STATS,
    "corpus_stats": SQL_CORPUS_STATS,
    "top_terms": SQL_TOP_TERMS,
    "source_stats": SQL_SOURCE_STATS,
    "any_match": SQL_ANY_MATCH,
    "conjunctive_match": SQL_CONJUNCTIVE,
    # folded variant rows (r4 ask #7): ONE oracle block cross-joined with
    # both variant labels — native and engine must independently match it
    "bm25_topk": _variant_sql(_topk_sql(_oracle_terms_sorted(), "bm25")),
    "relevance_ref_topk": _variant_sql(
        _topk_sql(_oracle_terms_sorted(), "relevance_ref")
    ),
    "engine_rare_topk": _topk_sql(list(RARE_QUERY_TERMS), "bm25"),
    # single hot term through the forced block-max plan == plain scorer
    "engine_hot_topk": _topk_sql([HOT_QUERY_TERM], "bm25"),
    # same query on the drift-immune fallback bound (epoch-mismatch mode)
    "engine_hot_fallback_topk": _topk_sql([HOT_QUERY_TERM], "bm25"),
    "engine_disjunctive": _topk_sql(
        list(RARE_QUERY_TERMS), "bm25", conjunctive=False
    ),
    # hot 2-term OR through the forced MaxScore plan == plain disjunctive
    "engine_hot_disjunctive": _topk_sql(
        list(HOT_DISJ_TERMS), "bm25", conjunctive=False
    ),
    # P3: survivors + accumulation order derived from dft, not hardcoded
    "engine_maxdf_topk": _maxdf_topk_sql(QUERY_TERMS, MAX_DF_CUTOFF),
    "engine_paged_topk": _topk_sql(
        _oracle_terms_sorted(), "bm25", k=5, offset=PAGE_OFFSET
    ),
    # base-build + incremental merge must equal indexing everything at once
    "engine_incremental_stats": SQL_TERM_STATS,
    # upsert over a corrupted base must land exactly on the truth's stats
    "engine_upsert_stats": SQL_TERM_STATS,
    # full build + targeted delete == never indexing the deleted rows
    "engine_delete_stats": f"""WITH ddocs AS (
    SELECT * FROM documents WHERE doc_id % 9 <> 4
), {_base_ctes("ddocs")} SELECT term, df, cf FROM dft""",
    # one mixed I/U/D CDC batch (deletes-win conflict rule) == indexing
    # the net corpus from scratch
    "engine_cdc_stats": SQL_CDC_STATS,
    # takedown + blocked replay + partial clear + restore == never
    # indexing the still-tombstoned rows
    "engine_tombstone_stats": SQL_TOMBSTONE_STATS,
    # positional-index proximity == conjunctive BM25 ∩ min-dist filter
    "engine_prox_pos_topk": _engine_prox_sql(),
    # boolean NOT: same scorer + correlated NOT EXISTS on the partials
    "engine_not_topk": _topk_sql(
        _oracle_terms_sorted(), "bm25",
        extra_pred=(
            "NOT EXISTS (SELECT 1 FROM tf tx WHERE tx.doc_id = tf.doc_id "
            f"AND tx.term = '{NOT_EXCLUDE_TERM}')"
        ),
    ),
    # dictionary edit-distance suggestions, rank order pinned
    "engine_suggest": _sql_suggest(),
    # SymSpell delete-index path must match the same levenshtein oracle
    "engine_suggest_fast": _sql_suggest(),
    # total-hits count: docs containing ALL query lemmas, no scores
    "engine_match_count": _sql_match_count(),
    # role restriction == the same scorer over even original doc_ids
    "engine_role_topk": _topk_sql(
        _oracle_terms_sorted(), "bm25",
        extra_pred="tf.doc_id % 2 = 0",
    ),
    # more-like-this: term selection + disjunctive scorer re-derived
    "engine_mlt_topk": _sql_mlt_topk(),
    # full-match-set facet counts over the multi-source layout
    "engine_facets": _sql_facets(),
    "chunk_dedup": _sql_chunk_dedup(),
    "sample_mix": _sql_sample_mix(),
    # salted hot-term build vs the plain SQL scorer over the derived corpus
    "engine_skew_topk": _topk_sql(
        list(QUERY_TERMS) + [SKEW_TERM], "bm25",
        pre_cte=SKEW_PRE_CTE, table="sdocs",
    ),
    # build + incremental merge + compaction must stay score-exact
    "engine_compacted_topk": _topk_sql(_oracle_terms_sorted(), "bm25"),
    # as-of the build snapshot == scoring ONLY the base corpus (time
    # travel must hide the appended docs from stats AND postings)
    "engine_snapshot_topk": _topk_sql(
        _oracle_terms_sorted(), "bm25", pre_cte=SNAP_PRE_CTE, table="bdocs"
    ),
    # batching must be bit-invisible: union of the single-search oracles
    "engine_batch_topk": _batch_topk_sql(),
    # prefix expansion set + df-asc accumulation both derived from dft
    "engine_prefix_topk": _prefix_topk_sql(PREFIX_QUERY),
    # leading-wildcard twin: suffix expansion derived the same way
    "engine_suffix_topk": _suffix_topk_sql(SUFFIX_QUERY),
    # indexed candidate-first phrase search == conjunctive BM25 ∩ phrase
    "engine_phrase_topk": _engine_phrase_sql(),
    "engine_phrase_incr_topk": _engine_phrase_sql(),
    # positional-index plan, same contract: bit-identical to the residual
    # plan, so the same derived SQL oracle pins it
    "engine_phrase_pos_topk": _engine_phrase_sql(),
    "phrase_match": _sql_phrase_match(),
    "proximity_match": _sql_proximity_match(),
    # P4 scope: global stats, candidates restricted to the scoped sources
    "engine_scoped_topk": _topk_sql(
        _oracle_terms_sorted(), "bm25",
        extra_pred=(
            "tf.doc_id IN (SELECT doc_id FROM documents "
            f"WHERE source LIKE '{SCOPE_PREFIX}%')"
        ),
    ),
    "tpch_pricing_summary": SQL_TPCH_PRICING,
    "tpch_order_revenue": SQL_TPCH_ORDER_REVENUE,
    "tpch_cust_nation_region": SQL_TPCH_CUST_NATION_REGION,
    "tpch_semi_join": SQL_TPCH_SEMI,
    "tpch_anti_join": SQL_TPCH_ANTI,
    "tpch_top_orders_per_cust": SQL_TPCH_TOP_ORDERS,
    "tpch_brand_volume": SQL_TPCH_BRAND_VOLUME,
    "dedup_exact": SQL_DEDUP_EXACT,
    "jaccard_pairs": SQL_JACCARD_PAIRS,
    # n-gram jaccard: candidate pairs only through shingles with df <= cap
    "ngram_dup_pairs": SQL_NGRAM_DUP_PAIRS,
    "minhash_sigs": SQL_MINHASH_SIGS,
    "lsh_pairs": _sql_lsh_pairs(),
    "lsh_bucket_stats": _sql_lsh_bucket_stats(),
    "simhash": _sql_simhash(),
    "doc_fingerprint": _sql_fingerprint(),
    "rolling_fingerprint": _sql_rolling_fingerprint(),
    "cosine_topk": SQL_COSINE_TOPK,
    "ann_bucketed": _sql_ann_bucketed(),
    "ann_recall": _sql_ann_recall(),
    "ivf_recall": SQL_IVF_RECALL,
    "embed_dup_pairs": _sql_embed_dup_pairs(),
    "ann_ivf": SQL_ANN_IVF,
    "embed_quantize": SQL_EMBED_QUANTIZE,
    "dedup_components": _sql_dedup_components(),
    "lang_id": _sql_lang_id(),
    "quality_score": _sql_quality(),
    "token_counts": _sql_token_counts(),
    "repetition_stats": _sql_repetition_stats(),
    "decontaminate": _sql_decontaminate(),
    "pii_scrub": _sql_pii_scrub(),
    "source_cap_sample": _sql_source_cap_sample(),
    "pipeline_training_shard": _sql_training_shard(),
    "hash_split": _sql_hash_split(),
    # sequence packing composes ON TOP of the full funnel SQL (shared CTE)
    "seq_pack": _sql_seq_pack(),
    "doc_chunks": _sql_doc_chunks(),
    "shuffle_order": _sql_shuffle_order(),
    "events_tumbling": SQL_EVENTS_TUMBLING,
    "events_sessionize": SQL_EVENTS_SESSIONIZE,
    "events_json": SQL_EVENTS_JSON,
    # closed tumbling windows from the REAL streaming job == batch SQL
    "streaming_tumbling": SQL_STREAMING_TUMBLING,
    "streaming_sessionize": SQL_STREAMING_SESSIONIZE,
    "media_features": SQL_MEDIA_FEATURES,
    "media_frames": SQL_MEDIA_FRAMES,
    "media_audio_stats": SQL_MEDIA_AUDIO_STATS,
    "search_snippets": _sql_search_snippets(),
    "build_manifest": SQL_BUILD_MANIFEST,
}
