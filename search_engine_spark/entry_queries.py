"""Driver-contract query registry: every operator from SURVEY.md §2 as a
(spark_fn, oracle_sql) pair over the driver's testdata tables.

Each Spark implementation and its ANSI-SQL oracle are generated from the
SAME constants (term lists, thresholds, float expression shapes), so
results are bit-identical — verified by the driver's row-count + schema +
value-hash compare at sf=0.01 (CORRECTNESS_r{N}.json).

Float discipline (why the hashes match without rounding):
- ln / sqrt / IEEE +-*/ are bit-identical across Spark JVM, DuckDB and
  Python libm on this platform (verified empirically in tests).
- every multi-term score sum is accumulated in an EXPLICIT fixed order
  (CASE-pivot + left-to-right COALESCE chain) on both sides — never an
  unordered SQL SUM over floats.

Query groups:
- core search-engine ops (SURVEY.md §2.1-2.7): hygiene filter, tokenize+tf,
  term/doc/corpus stats, top-terms, source stats, any/conjunctive match,
  BM25 top-k, reference TF-sum relevance (IndexRepository.java:14-20).
- the real index engine end-to-end (build → varbyte postings → BM25 WAND
  scoring) checked against the same SQL oracle — rank AND score identical.
"""

from __future__ import annotations

import hashlib
import math
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import schemas
from .functions.analyzer import (
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
from .session import local_frame

# ---------------------------------------------------------------------------
# Fixed constants shared by Spark impls and SQL oracles
# ---------------------------------------------------------------------------
QUERY_TERMS = ("spark", "window", "customer")  # df-asc at sf0.01: 385/387/394
RARE_QUERY_TERMS = ("dup", "spark")            # rare (df=25) + hot
ANY_TERMS = ("vector", "stream", "filter")
TOPK = 10
# the modules that write an index: the registry's cached indexes are keyed
# on their bytes, so code that writes differently never resumes over (and
# verifies) an index older code built
WRITE_PATH_SOURCES = (
    "operators/index_build.py", "operators/incremental.py",
    "operators/compaction.py", "operators/deletes.py",
    "functions/codec.py", "functions/analyzer.py",
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
def _write_path_digest() -> str:
    """md5 over the bytes of WRITE_PATH_SOURCES."""
    pkg = Path(__file__).resolve().parent
    h = hashlib.md5()
    for rel in WRITE_PATH_SOURCES:
        h.update((pkg / rel).read_bytes())
    return h.hexdigest()


def _tagged_index_dir(sf_dir: str, tag: str = "") -> str:
    """Cache dir for a gate entry's throwaway index build, keyed on the
    write-path code (_write_path_digest), the corpus dir, and the entry's
    ``tag`` (incr/scope/cpct/skew builds diverge from the plain one)."""
    sel = f"{tag}:" if tag else ""
    key = hashlib.md5(
        f"{_write_path_digest()}:{sel}{sf_dir}".encode()
    ).hexdigest()[:10]
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
    of an offline workload scored at once — each posting block of the
    union vocabulary decoded once and its partials shared by every
    subscribing query, then one combine kernel per query (conjunctive
    filter + fixed-order float sum + tie-safe top-k). A batch whose
    union df is under LOCAL_PLAN_MAX_POSTINGS runs on the driver with no
    Spark job; a larger one runs the packed Spark plan (one scan, packed
    exchange, per-partition top-k, WindowGroupLimit). The throughput
    shape for eval suites / query-log replays over a 100 TB index, where
    the sequential path would pay ~0.5 s of driver fixed cost per query.
    Oracle = UNION ALL of the per-query single-search oracles — green iff
    batching is bit-invisible to every query's ranking and scores."""
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
# Snippets and the build manifest
# ---------------------------------------------------------------------------
def q_search_snippets(spark, sf_dir):
    """Engine search with snippet highlighting (T8/P6/T7 — SnippetCreator
    .java:19,22-37,61-102 semantics): best-sentence pick, <b> surface-form
    highlights, 240-char word-boundary cut. The engine's snippets are
    hash-checked against a full SQL reimplementation of the same spec."""
    eng = SearchEngine(spark, ensure_index(spark, sf_dir))
    rows = eng.search(" ".join(QUERY_TERMS), k=TOPK)
    return local_frame(spark, rows, schemas.SEARCH_RESULT).select(
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


# ---------------------------------------------------------------------------
# Registry
# ---------------------------------------------------------------------------
# The driver's correctness gate checks the FIRST `GATE_WINDOW` entries of
# QUERIES only. The registry fits inside the window, so every entry is gated
# every round (tests/test_registry.py).
GATE_WINDOW = 50

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    # -- core relational ops (SURVEY.md §2.1-2.7) --
    "clean_docs": q_clean_docs,
    "tokenize_tf": q_tokenize_tf,
    "term_stats": q_term_stats,
    "doc_stats": q_doc_stats,
    "corpus_stats": q_corpus_stats,
    "top_terms": q_top_terms,
    "source_stats": q_source_stats,
    "any_match": q_any_match,
    "conjunctive_match": q_conjunctive_match,
    "bm25_topk": q_bm25_topk,
    "relevance_ref_topk": q_relevance_ref_topk,
    "phrase_match": q_phrase_match,
    "proximity_match": q_proximity_match,
    # -- the index engine: read path --
    "engine_rare_topk": q_engine_rare_topk,
    "engine_hot_topk": q_engine_hot_topk,
    "engine_hot_fallback_topk": q_engine_hot_fallback_topk,
    "engine_disjunctive": q_engine_disjunctive,
    "engine_hot_disjunctive": q_engine_hot_disjunctive,
    "engine_maxdf_topk": q_engine_maxdf_topk,
    "engine_paged_topk": q_engine_paged_topk,
    "engine_skew_topk": q_engine_skew_topk,
    "engine_scoped_topk": q_engine_scoped_topk,
    "engine_batch_topk": q_engine_batch_topk,
    "engine_prefix_topk": q_engine_prefix_topk,
    "engine_suffix_topk": q_engine_suffix_topk,
    "engine_phrase_topk": q_engine_phrase_topk,
    "engine_phrase_pos_topk": q_engine_phrase_pos_topk,
    "engine_prox_pos_topk": q_engine_prox_pos_topk,
    "engine_not_topk": q_engine_not_topk,
    "engine_suggest": q_engine_suggest,
    "engine_suggest_fast": q_engine_suggest_fast,
    "engine_match_count": q_engine_match_count,
    "engine_role_topk": q_engine_role_topk,
    "engine_mlt_topk": q_engine_mlt_topk,
    "engine_facets": q_engine_facets,
    "search_snippets": q_search_snippets,
    "build_manifest": q_build_manifest,
    # -- the index engine: mutation path --
    "engine_incremental_stats": q_engine_incremental_stats,
    "engine_upsert_stats": q_engine_upsert_stats,
    "engine_delete_stats": q_engine_delete_stats,
    "engine_cdc_stats": q_engine_cdc_stats,
    "engine_tombstone_stats": q_engine_tombstone_stats,
    "engine_phrase_incr_topk": q_engine_phrase_incr_topk,
    "engine_compacted_topk": q_engine_compacted_topk,
    "engine_snapshot_topk": q_engine_snapshot_topk,
}


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
    "search_snippets": _sql_search_snippets(),
    "build_manifest": SQL_BUILD_MANIFEST,
}
