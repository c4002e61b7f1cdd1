"""Driver contract for the spark-graft builder (PySpark target).

``registry()`` declares the contract once: every operator family from
SURVEY §2 plus the training-data pipeline operators over the TPC-H-ish
testdata tables, each as a Spark plan paired with its DuckDB-equivalent
ANSI SQL. ``queries()`` (in stale-first order) and ``oracle_sql()`` are
projections of it.

Float-sensitive queries emit *floored integer* metrics (ppm / basis
points) rather than rounded floats so the cross-engine value hash is
stable; both sides accumulate left-to-right in double precision.
"""

from __future__ import annotations

import json
import re
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from spacetime_crawler4py_spark.functions.tokenize import NOISE_WORDS, STOPWORDS
from spacetime_crawler4py_spark.functions.urlkit import (
    udf_canonicalize,
    udf_url_hash,
)
from spacetime_crawler4py_spark.functions.validity import udf_is_valid
from spacetime_crawler4py_spark.operators import multimodal
from spacetime_crawler4py_spark.operators.components import dedup_assignments
from spacetime_crawler4py_spark.operators.dedup import (
    cross_corpus_contamination,
    minhash_lsh_verified_pairs,
    shingles_exploded,
    simhash_pairs,
)
from spacetime_crawler4py_spark.operators.similarity_search import (
    blocked_pair_cos_bp,
    int_plane_matrix,
    ivf_topk,
    lsh_bucketed_topk,
    quantize_embeddings_int8,
)
from spacetime_crawler4py_spark.operators.sampling import (
    sample_key_col,
    stratified_hash_sample,
    stratum_decile_stats,
    temperature_resample,
    top_k_per_stratum,
)
from spacetime_crawler4py_spark.operators.linkgraph import (
    derive_link_graph,
    pagerank,
)
from spacetime_crawler4py_spark.operators.invindex import (
    build_inverted_index,
    phrase_hits,
)
from spacetime_crawler4py_spark.operators.packing import pack_manifest
from spacetime_crawler4py_spark.operators.percentiles import (
    exact_group_percentiles,
)
from spacetime_crawler4py_spark.operators.recrawl import recrawl_candidates
from spacetime_crawler4py_spark.operators.scrub import PII_PATTERNS, scrub_pii
from spacetime_crawler4py_spark.sources.sitemaps import (
    parse_sitemap_entries,
    sitemap_frontier_candidates,
)
from spacetime_crawler4py_spark.streaming.contract import (
    q_streaming_dedup,
    q_streaming_event_windows,
    q_streaming_sessionize,
    q_streaming_trending_words,
)
from spacetime_crawler4py_spark.operators.textstats import (
    LANG_MARKERS,
    bm25_scores,
    collocation_lift,
    dup_span_stats,
    langid_ngram,
    quality_model,
    remove_dup_spans,
    remove_dup_spans_maximal,
    repetition_scores,
    report_tokens_col,
    tokens_exploded,
    unigram_logprob,
)
from spacetime_crawler4py_spark.functions import langseeds, qualityseeds

# ---------------------------------------------------------------------------
# shared helpers
# ---------------------------------------------------------------------------

_STOPLIST = sorted(STOPWORDS | NOISE_WORDS)
_SQL_STOPLIST = ", ".join(f"'{w}'" for w in _STOPLIST)

# DuckDB twin of textstats.report_tokens_col (reference analyze_crawl.py:82-87)
_SQL_TOKENS = (
    "regexp_extract_all(regexp_replace(lower(text), "
    r"'\b([a-z]+)[''’]s\b', '\1', 'g'), '[a-z]{2,}')"
)


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _spread(df: DataFrame) -> DataFrame:
    """The testdata parquet files are single-row-group → one input split →
    one task. Spread compute-heavy inputs across the executor cores; real
    100TB tables arrive in thousands of splits and never hit this."""
    return df.repartition(df.sparkSession.sparkContext.defaultParallelism)


def _docs_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _spread(_t(spark, sf_dir, "documents")).select(
        "doc_id", "text", "source",
        report_tokens_col(F.col("text")).alias("tokens"),
    )


def _synth_urls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic URL corpus derived from the documents table: hosts
    rotate through the crawl allowlist, paths rotate through is_valid rule
    classes (see oracle_sql for the expected-outcome twin)."""
    docs = _t(spark, sf_dir, "documents")
    host = (
        F.when(F.col("doc_id") % 4 == 0, F.lit("www.ics.uci.edu"))
        .when(F.col("doc_id") % 4 == 1, F.lit("www.cs.uci.edu"))
        .when(F.col("doc_id") % 4 == 2, F.lit("www.informatics.uci.edu"))
        .otherwise(F.lit("www.stat.uci.edu"))
    )
    path = (
        F.when(F.col("doc_id") % 6 == 0, F.concat(F.lit("/papers/p"), F.col("doc_id")))
        .when(F.col("doc_id") % 6 == 1, F.lit("/slides/deck.pdf"))
        .when(F.col("doc_id") % 6 == 2, F.lit("/events/day/2024-01-15"))
        .when(F.col("doc_id") % 6 == 3, F.lit("/blog/page/500/"))
        .when(F.col("doc_id") % 6 == 4, F.concat(F.lit("/list/l"), F.col("doc_id"), F.lit("?page=1000")))
        .otherwise(F.concat(F.lit("/wp-json/v"), F.col("doc_id")))
    )
    return docs.select(
        "doc_id", F.concat(F.lit("https://"), host, path).alias("url")
    )


_SQL_SYNTH_URLS = """
    SELECT doc_id,
           'https://' ||
           CASE doc_id % 4 WHEN 0 THEN 'www.ics.uci.edu'
                           WHEN 1 THEN 'www.cs.uci.edu'
                           WHEN 2 THEN 'www.informatics.uci.edu'
                           ELSE 'www.stat.uci.edu' END ||
           CASE doc_id % 6 WHEN 0 THEN '/papers/p' || doc_id
                           WHEN 1 THEN '/slides/deck.pdf'
                           WHEN 2 THEN '/events/day/2024-01-15'
                           WHEN 3 THEN '/blog/page/500/'
                           WHEN 4 THEN '/list/l' || doc_id || '?page=1000'
                           ELSE '/wp-json/v' || doc_id END AS url
    FROM documents
"""


def _pagerank_sql(iters: int = 5) -> str:
    """DuckDB twin of operators.linkgraph.pagerank over the derived link
    graph: the same fixed iterations unrolled as chained CTEs. Float
    literals use e-notation (DOUBLE, not DECIMAL) and (1.0-0.85) is
    computed, not folded, so both engines evaluate the identical IEEE op
    sequence and the ppm floor is boundary-safe."""
    ctes = [
        "n AS (SELECT count(*) AS c FROM documents)",
        """e AS (
          SELECT DISTINCT CAST(doc_id AS BIGINT) AS src,
                 (doc_id * 31 + k.k) % (SELECT c FROM n) AS dst
          FROM documents, (SELECT unnest([1, 2, 3]) AS k) k
          WHERE (doc_id * 31 + k.k) % (SELECT c FROM n) <> doc_id
        )""",
        "deg AS (SELECT src, count(*) AS outdeg FROM e GROUP BY src)",
        (
            "r0 AS (SELECT CAST(doc_id AS BIGINT) AS doc_id, "
            "1.0e0 / (SELECT c FROM n) AS pr FROM documents)"
        ),
    ]
    for i in range(1, iters + 1):
        ctes.append(
            f"""r{i} AS (
          SELECT d.doc_id,
                 (1.0e0 - 0.85e0) / (SELECT c FROM n)
                 + 0.85e0 * coalesce(sum(r.pr / g.outdeg), 0.0e0) AS pr
          FROM r{i - 1} d
          LEFT JOIN e ON e.dst = d.doc_id
          LEFT JOIN r{i - 1} r ON r.doc_id = e.src
          LEFT JOIN deg g ON g.src = e.src
          GROUP BY d.doc_id
        )"""
        )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
        SELECT doc_id, CAST(floor(pr * 1000000) AS BIGINT) AS pr_ppm
        FROM r{iters}"""
    )


# ---------------------------------------------------------------------------
# queries
# ---------------------------------------------------------------------------

def q_top_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _docs_tokens(spark, sf_dir).where(F.size("tokens") >= 20)
    return (
        t.select(F.explode("tokens").alias("word"))
        .where(~F.col("word").isin(*_STOPLIST))
        .groupBy("word")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("word"))
        .limit(50)
    )


def q_longest_doc(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _docs_tokens(spark, sf_dir).withColumn("word_count", F.size("tokens"))
    return (
        t.where(F.col("word_count") >= 20)
        .orderBy(F.desc("word_count"), F.asc("doc_id"))
        .select("doc_id", "word_count")
        .limit(1)
    )


def q_unique_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _t(spark, sf_dir, "documents").select(
        F.countDistinct("doc_id").alias("unique_pages")
    )


def q_source_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _t(spark, sf_dir, "documents")
        .groupBy(F.col("source").alias("host"))
        .agg(F.count("*").alias("cnt"))
        .orderBy("host")
    )


def q_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _docs_tokens(spark, sf_dir).select(
        "doc_id", F.size("tokens").alias("n_tokens")
    )


def q_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positional inverted index (operators/invindex.build_inverted_index):
    postings (term, doc_id, tf, sorted 0-based positions as CSV) joined
    with the dictionary (df, cf) — the materialized form of the term
    statistics the report path (reference analyze_crawl.py:82-87) and
    BM25 recompute per query. Exact integers + a canonical position
    string, so the row set hash-matches on any engine/partitioning."""
    docs = _t(spark, sf_dir, "documents")
    postings, dictionary = build_inverted_index(docs, "doc_id", "text")
    return postings.join(dictionary, "term").select(
        "term", "df", "cf", "doc_id", "tf", "positions"
    )


def q_phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-phrase search over the positional index
    (operators/invindex.phrase_hits): all occurrences of two fixed
    phrases — a 3-gram and a 2-gram from the corpus vocabulary — as
    (phrase, doc_id, start_pos). Exercises the positions column of the
    postings table end-to-end: posting-list scans + (doc_id, start)
    equi-joins, overlapping matches included."""
    docs = _t(spark, sf_dir, "documents")
    postings, _ = build_inverted_index(docs, "doc_id", "text")
    postings = postings.localCheckpoint(eager=False)
    tri = phrase_hits(postings, ["slow", "hash", "batch"]).select(
        F.lit("slow hash batch").alias("phrase"),
        "doc_id",
        F.col("start_pos").cast("long").alias("start_pos"),
    )
    bi = phrase_hits(postings, ["row", "column"]).select(
        F.lit("row column").alias("phrase"),
        "doc_id",
        F.col("start_pos").cast("long").alias("start_pos"),
    )
    return tri.unionByName(bi)


def q_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-50 adjacent-pair collocations by integer lift
    (operators/textstats.collocation_lift): the count-space core of PMI
    — no logs, no floats, so the ranking and every emitted value are
    engine-exact. The bigram-association upgrade of the reference's
    unigram top-50 report (analyze_crawl.py:82-87)."""
    docs = _t(spark, sf_dir, "documents")
    return collocation_lift(docs, "doc_id", "text", min_pair=5, k=50)


def q_value_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-group nearest-rank percentiles
    (operators/percentiles.exact_group_percentiles): p50/p95/p99 of the
    events value (quantized to integer cents at the call site) per
    event_type, via the histogram + cumulative-count method — no
    approx_percentile sketch, no per-key sort, integer-exact on any
    engine. The crawl-ops shape: per-domain fetch-latency SLO tails."""
    ev = _t(spark, sf_dir, "events").withColumn(
        "cents", F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
    )
    return exact_group_percentiles(ev, "event_type", "cents", [50, 95, 99])


def q_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs_tokens(spark, sf_dir)
    n_chars = F.length("text")
    n_punct = n_chars - F.length(F.regexp_replace(F.col("text"), r"[.,;:!?'\"()-]", ""))
    n_stop = F.size(
        F.filter(F.col("tokens"), lambda t: t.isin(*sorted(STOPWORDS)))
    )
    n_tokens = F.size("tokens")
    return docs.select(
        "doc_id",
        n_tokens.alias("n_tokens"),
        n_chars.alias("n_chars"),
        F.floor(n_punct * 1000000 / F.greatest(n_chars, F.lit(1)))
        .cast("long").alias("punct_ppm"),
        F.floor(n_stop * 1000000 / F.greatest(n_tokens, F.lit(1)))
        .cast("long").alias("stopword_ppm"),
        (n_tokens >= 20).alias("quality_ok"),
    )


def q_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs_tokens(spark, sf_dir)
    hits = {}
    for lang, markers in LANG_MARKERS.items():
        if not markers:
            continue
        hits[lang] = F.size(F.filter(F.col("tokens"), lambda t: t.isin(*markers)))
    pred = (
        F.when(
            (hits["en"] >= hits["es"]) & (hits["en"] >= hits["fr"])
            & (hits["en"] >= hits["de"]), F.lit("en")
        )
        .when((hits["es"] >= hits["fr"]) & (hits["es"] >= hits["de"]), F.lit("es"))
        .when(hits["fr"] >= hits["de"], F.lit("fr"))
        .otherwise(F.lit("de"))
    )
    return docs.select("doc_id", pred.alias("lang_pred"))


def q_langid_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-trigram hashed-feature language classifier
    (operators/textstats.langid_ngram): integer-only weights derived
    from the embedded seed corpus, so the DuckDB oracle retrains the
    SAME model from the SAME seeds and must agree bit-for-bit on every
    per-doc score. Accuracy on a multi-language held-out fixture is
    gated separately (tests/test_langid_ngram.py)."""
    return langid_ngram(
        _spread(_t(spark, sf_dir, "documents")), "doc_id", "text"
    )


def _langid_ngram_oracle() -> str:
    """DuckDB twin of langid_ngram: retrain the centered-ppm trigram
    weights from the embedded seed corpus (VALUES list), then score the
    documents table — integer arithmetic end-to-end, so this is an exact
    replay of the Spark plan, not an approximation."""
    langs = langseeds.LANGS
    seeds = ",\n              ".join(
        f"('{lang}', '{para.replace(chr(39), chr(39) * 2)}')"
        for lang in langs
        for para in langseeds.SEED_CORPUS[lang]
    )
    tri = (
        "(ascii(substr(t, CAST(i AS INT), 1)) * 961"
        " + ascii(substr(t, CAST(i AS INT) + 1, 1)) * 31"
        " + ascii(substr(t, CAST(i AS INT) + 2, 1))) % 4096"
    )
    wp_cols = ",\n                     ".join(
        f"CAST(sum(CASE WHEN lang = '{lang}' THEN w ELSE 0 END) AS BIGINT)"
        f" AS w_{lang}"
        for lang in langs
    )
    sc_cols = ",\n                     ".join(
        f"CAST(sum(coalesce(w_{lang}, 0)) AS BIGINT) AS s_{lang}"
        for lang in langs
    )
    m = "greatest(" + ", ".join(f"s_{lang}" for lang in langs) + ")"
    case = (
        "CASE "
        + " ".join(f"WHEN s_{lang} = m THEN '{lang}'" for lang in langs)
        + " END"
    )
    return f"""
            WITH seeds(lang, txt) AS (VALUES
              {seeds}),
            sn AS (
              SELECT lang,
                     ' ' || regexp_replace(lower(txt), '[^a-z]+', ' ', 'g')
                         || ' ' AS t
              FROM seeds
            ),
            sg AS (
              SELECT lang, {tri} AS b
              FROM sn, LATERAL (SELECT unnest(range(1, length(t) - 1)) AS i) u
            ),
            cnt AS (SELECT lang, b, count(*) AS c FROM sg GROUP BY lang, b),
            tot AS (SELECT lang, sum(c) AS t FROM cnt GROUP BY lang),
            allc AS (SELECT b, sum(c) AS ca FROM cnt GROUP BY b),
            allt AS (SELECT sum(c) AS ta FROM cnt),
            w AS (
              SELECT l.lang, a.b,
                     (coalesce(c.c, 0) * 1000000) // t.t
                       - (a.ca * 1000000) // allt.ta AS w
              FROM (SELECT DISTINCT lang FROM cnt) l
              CROSS JOIN allc a
              CROSS JOIN allt
              JOIN tot t ON t.lang = l.lang
              LEFT JOIN cnt c ON c.lang = l.lang AND c.b = a.b
            ),
            wp AS (
              SELECT b,
                     {wp_cols}
              FROM w GROUP BY b
            ),
            dn AS (
              SELECT CAST(doc_id AS BIGINT) AS doc_id,
                     ' ' || regexp_replace(lower(text), '[^a-z]+', ' ', 'g')
                         || ' ' AS t
              FROM documents
            ),
            dg AS (
              SELECT doc_id, {tri} AS b
              FROM dn, LATERAL (SELECT unnest(range(1, length(t) - 1)) AS i) u
            ),
            sc AS (
              SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams,
                     {sc_cols}
              FROM dg LEFT JOIN wp USING (b)
              GROUP BY doc_id
            ),
            g AS (SELECT *, {m} AS m FROM sc)
            SELECT doc_id, n_grams, {case} AS lang,
                   CAST(m AS BIGINT) AS score_ppm
            FROM g
        """


def q_quality_model(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality scoring (operators/textstats.quality_model):
    fastText-style linear scorer over hashed token features with
    integer-only weights derived from the embedded HIGH/LOW seed
    corpora, so the DuckDB oracle retrains the SAME model from the SAME
    seeds and must agree bit-for-bit on every per-doc score. Accuracy on
    a held-out labeled fixture is gated separately
    (tests/test_quality_model.py)."""
    return quality_model(
        _spread(_t(spark, sf_dir, "documents")), "doc_id", "text"
    ).orderBy("doc_id")


# the token hash every engine shares: first two chars + last char + length
_SQL_QHASH = (
    "(ascii(substr(w, 1, 1)) * 29791 + ascii(substr(w, 2, 1)) * 961"
    " + ascii(substr(w, length(w), 1)) * 31 + length(w)) % 8192"
)


def _sql_quality_wt_ctes() -> str:
    """The quality-model weight dim as DuckDB CTEs (qseeds -> qwt):
    retrains textstats.quality_model's centered-ppm weights from the
    embedded seed corpora with the same integer arithmetic. Shared by
    the quality_model oracle and the gated-curation oracle."""
    seeds = ",\n              ".join(
        f"('{lbl}', '{para.replace(chr(39), chr(39) * 2)}')"
        for lbl, paras in (
            ("hi", qualityseeds.HI_SEEDS),
            ("lo", qualityseeds.LO_SEEDS),
        )
        for para in paras
    )
    toks = _SQL_TOKENS.replace("lower(text)", "lower(txt)")
    return f"""qseeds(lbl, txt) AS (VALUES
              {seeds}),
            qst AS (SELECT lbl, unnest({toks}) AS w FROM qseeds),
            qsb AS (SELECT lbl, {_SQL_QHASH} AS b FROM qst),
            qcnt AS (SELECT lbl, b, count(*) AS c FROM qsb GROUP BY lbl, b),
            qtot AS (SELECT lbl, sum(c) AS t FROM qcnt GROUP BY lbl),
            qwt AS (
              SELECT b,
                (coalesce(sum(CASE WHEN lbl = 'hi' THEN c END), 0) * 1000000)
                  // (SELECT t FROM qtot WHERE lbl = 'hi')
                - (coalesce(sum(CASE WHEN lbl = 'lo' THEN c END), 0) * 1000000)
                  // (SELECT t FROM qtot WHERE lbl = 'lo') AS wt
              FROM qcnt GROUP BY b
            ),
            qdt AS (
              SELECT CAST(doc_id AS BIGINT) AS doc_id,
                     unnest({_SQL_TOKENS}) AS w
              FROM documents
            ),
            qdb AS (SELECT doc_id, {_SQL_QHASH} AS b FROM qdt),
            qdoc AS (
              SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
                     CAST(sum(coalesce(wt, 0)) AS BIGINT) AS score_sum
              FROM qdb LEFT JOIN qwt USING (b)
              GROUP BY doc_id
            )"""


def q_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _docs_tokens(spark, sf_dir).select(
        "doc_id", F.md5(F.concat_ws(" ", F.col("tokens"))).alias("fingerprint")
    )


def q_exact_dup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup via checksum groupBy (reference utils/similarity.py:57-66).
    The testdata corpus has no byte-identical texts, so a deterministic
    mirror copy (doc_id % 5 == 0, re-keyed +1000000) is unioned in first —
    the dup groups the operator must find are then known a priori."""
    docs = _t(spark, sf_dir, "documents")
    mirrored = docs.where(F.col("doc_id") % 5 == 0).withColumn(
        "doc_id", F.col("doc_id") + 1000000
    )
    return (
        docs.unionByName(mirrored)
        .groupBy(F.md5(F.col("text")).alias("checksum"))
        .agg(F.count("*").alias("dup_count"), F.min("doc_id").alias("canonical_id"))
        .where(F.col("dup_count") > 1)
    )


def q_dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pair list → duplicate clusters → per-doc canonical assignment
    (operators/components.py, alternating large-star/small-star). The
    edge list is a deterministic arithmetic graph standing in for an LSH
    pair list — consecutive-id chains (doc_id%10<3 → runs of 4 linked
    docs) merged by bridge edges (doc_id%40==0 → +10), so components are
    genuinely multi-hop (diameter 6) and the transitive closure is doing
    real work; tests/test_components.py runs the operator over the real
    MinHash pair output as well."""
    docs = _t(spark, sf_dir, "documents").select("doc_id")
    chain = docs.where(F.col("doc_id") % 10 < 3).select(
        F.col("doc_id").alias("a"), (F.col("doc_id") + 1).alias("b")
    )
    bridge = docs.where(F.col("doc_id") % 40 == 0).select(
        F.col("doc_id").alias("a"), (F.col("doc_id") + 10).alias("b")
    )
    edges = chain.unionByName(bridge).join(
        docs.select(F.col("doc_id").alias("b")), "b"
    )
    return dedup_assignments(docs, edges, "doc_id")


def q_repetition_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    return repetition_scores(
        _spread(_t(spark, sf_dir, "documents")), "doc_id", "text"
    )


def q_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end training-data curation decision, composed from the
    individual operators: thin-page quality gate + Gopher repetition gate
    → exact shingle-Jaccard near-dup pairs (>=0.3) → connected components
    → per-cluster canonical survivor. Output one row per doc:
    (doc_id, component_id, eligible, keep) where keep = eligible AND
    doc_id is the minimum ELIGIBLE id of its duplicate cluster — i.e.
    exactly the rows a downstream trainer would read.

    All token-derived signals (repetition, thin-page count, shingle
    pairs) feed off ONE lazily-checkpointed tokens_exploded pass — the
    text column is scanned and tokenized once, not once per signal (see
    textstats.tokens_exploded for why Catalyst can't do this reuse
    itself)."""
    docs = _spread(_t(spark, sf_dir, "documents"))
    ids = docs.select("doc_id")
    tok = tokens_exploded(docs, "doc_id", "text").localCheckpoint(eager=False)
    rep = repetition_scores(docs, "doc_id", "text", tokens=tok).select(
        "doc_id", "repetitive"
    )
    ntok = ids.join(
        tok.groupBy("doc_id").agg(F.count("*").alias("_nt")), "doc_id", "left"
    ).select("doc_id", F.coalesce("_nt", F.lit(0)).alias("n_tokens"))
    ex = shingles_exploded(docs, "doc_id", "text", 3, tokens=tok).select(
        F.col("id").alias("doc_id"), F.xxhash64("g").alias("gh")
    )
    pairs = _ngram_pairs_from_ex(ex).select(
        F.col("doc_id").alias("a"), F.col("doc_id2").alias("b")
    )
    comp = dedup_assignments(ids, pairs, "doc_id")
    scored = (
        comp.join(rep, "doc_id")
        .join(ntok, "doc_id")
        .withColumn(
            "eligible", (F.col("n_tokens") >= 20) & ~F.col("repetitive")
        )
    )
    survivors = (
        scored.where("eligible")
        .groupBy("component_id")
        .agg(F.min("doc_id").alias("survivor"))
    )
    return (
        scored.join(survivors, "component_id", "left")
        .select(
            "doc_id",
            "component_id",
            "eligible",
            (F.col("eligible") & (F.col("doc_id") == F.col("survivor"))).alias(
                "keep"
            ),
        )
    )


def q_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact shingle-Jaccard pairs: tokenize-once lead-window shingles,
    self-join on the 64-bit shingle hash (see dedup.shingles_exploded for
    why no array HOFs)."""
    ex = shingles_exploded(
        _spread(_t(spark, sf_dir, "documents")), "doc_id", "text", 3
    ).select(F.col("id").alias("doc_id"), F.xxhash64("g").alias("gh"))
    # scan/tokenize once across the three consumers (sizes + join sides)
    return _ngram_pairs_from_ex(ex.localCheckpoint(eager=False))


def _ngram_pairs_from_ex(ex: DataFrame) -> DataFrame:
    """Exact Jaccard pairs (>= 0.3, integer ppm) from an exploded
    ``(doc_id, gh)`` shingle-hash stream — shared by the standalone query
    and the curation compositions (which feed it from the single
    checkpointed token pass)."""
    sizes = ex.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    other = ex.select(F.col("doc_id").alias("doc_id2"), "gh")
    overlaps = (
        ex.join(other, "gh")
        .where(F.col("doc_id") < F.col("doc_id2"))
        .groupBy("doc_id", "doc_id2")
        .agg(F.count("*").alias("common"))
    )
    return (
        overlaps.join(sizes, "doc_id")
        .join(
            sizes.select(F.col("doc_id").alias("doc_id2"), F.col("n_sh").alias("n_sh2")),
            "doc_id2",
        )
        .withColumn(
            "jaccard_ppm",
            F.floor(
                F.col("common") * 1000000
                / (F.col("n_sh") + F.col("n_sh2") - F.col("common"))
            ).cast("long"),
        )
        .where(F.col("jaccard_ppm") >= 300000)
        .select("doc_id", "doc_id2", "common", "jaccard_ppm")
    )


# stratified corpus-sampling rates for the contract query: three mixture
# tiers over the 20 synthetic sources (the 4-hex-digit thresholds quantize
# to k/65536 — see operators/sampling.py)
_SAMPLE_RATES = {
    f"src{i}": (0.25, 0.5, 0.75)[i % 3] for i in range(20)
}

# the same per-source thresholds as a portable SQL CASE expression, for the
# DuckDB oracle (thresholds quantized identically: floor(rate * 65536) hex)
_SQL_SAMPLE_THRESHOLD = (
    "CASE "
    + " ".join(
        f"WHEN source = '{s}' THEN '{int(r * 65536):04x}'"
        for s, r in sorted(_SAMPLE_RATES.items())
    )
    + " ELSE '0000' END"
)


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified corpus sampling — the mixture-weighting
    step of a training-data build. Keep decisions are a pure function of
    (salt, doc_id) via an md5 threshold, so the sample is reproducible
    across partitionings, cluster sizes, and engines (the oracle recomputes
    the identical expression in DuckDB); Spark's own df.sample is
    per-partition-seeded and cannot make that guarantee."""
    docs = _t(spark, sf_dir, "documents")
    kept = stratified_hash_sample(docs, "doc_id", "source", _SAMPLE_RATES)
    return kept.select(
        "doc_id", "source",
        sample_key_col(F.col("doc_id")).alias("sample_key"),
    )


def q_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination over a deterministic train/eval split:
    the eval side is a reproducible ~5% hash split (salt 'eval' — the
    same stratified_hash_sample scheme, so the split itself is
    engine-portable), and the readout is every train doc covering >=20%
    of some eval doc's distinct 8-grams. The composition a real corpus
    build runs before training: sampling + n-gram overlap + containment
    gate, all scan-level or equi-join plans."""
    docs = _spread(_t(spark, sf_dir, "documents"))
    key = sample_key_col(F.col("doc_id"), "eval")
    eval_df = docs.where(key < F.lit("0ccc"))
    train = docs.where(key >= F.lit("0ccc"))
    return cross_corpus_contamination(
        train, eval_df, "doc_id", "text", n=8, min_containment_ppm=200000
    )


def q_length_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-source length-decile stats — the corpus-shape readout a
    mixture tuner reads before setting sampling rates. Deterministic
    tiling (ties broken by doc_id) so the result is engine-independent."""
    return stratum_decile_stats(
        _t(spark, sf_dir, "documents"), "source", "n_chars", "doc_id", 10
    )


def q_embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric per-vector int8 quantization of the embedding store —
    integer-exact (micro-int scheme) so the SQL twin matches bit-for-bit;
    see operators/similarity_search.quantize_embeddings_int8."""
    return quantize_embeddings_int8(
        _spread(_t(spark, sf_dir, "embeddings")), "vec_id", "embedding"
    )


def q_source_quota(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source quota: the 5 longest docs of each source (ties by
    doc_id) — the per-origin cap a corpus build applies so no domain
    dominates the mixture."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")
    return top_k_per_stratum(
        docs, "source", [F.col("n_chars").desc(), F.col("doc_id").asc()], 5
    )


_BM25_TERMS = ["window", "scan", "column"]

# curation_full gate thresholds (distribution-checked at sf0.01: dup_ppm is
# bimodal with a near-copy mode at ~1e6; nll_milli sits in [3344, 3666] with
# a sparse high tail past 3500)
_DUP_SPAN_PPM_MAX = 500_000
_NLL_MILLI_MIN = 2_000
_NLL_MILLI_MAX = 3_500


def q_curation_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The complete curation decision, composing EVERY document signal the
    engine computes: thin-page + Gopher-repetition + duplicated-span +
    perplexity-band gates, then near-dup clustering with one survivor per
    component. One row per doc: (doc_id, component_id, keep, drop_reason)
    where drop_reason is the first failing gate in a fixed precedence
    (short > repetitive > dup_span > perplexity > duplicate) and NULL for
    kept docs — i.e. the audit trail a production pipeline logs next to
    the training set it emits.

    Five signals, ONE text scan: every token-derived branch (repetition,
    thin-page count, dup-span, unigram NLL, shingle pairs) reads the same
    lazily-checkpointed tokens_exploded stream instead of re-tokenizing
    100 TB per signal."""
    return _curation_full_impl(spark, sf_dir, quality_gate=False)


def q_curation_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """curation_full with the OPTIONAL model-based quality gate enabled
    (textstats.quality_model, the DCLM/FineWeb-Edu-style scorer): docs
    whose hashed-token linear score is strictly negative drop with reason
    'low_quality', slotted after the perplexity band and before the
    duplicate survivor pick. Kept as a separate contract query so
    curation_full's un-gated semantics stay independently attested."""
    return _curation_full_impl(spark, sf_dir, quality_gate=True)


def _curation_full_impl(
    spark: SparkSession, sf_dir: str, quality_gate: bool
) -> DataFrame:
    docs = _spread(_t(spark, sf_dir, "documents"))
    ids = docs.select("doc_id")
    tok = tokens_exploded(docs, "doc_id", "text").localCheckpoint(eager=False)
    rep = repetition_scores(docs, "doc_id", "text", tokens=tok).select(
        "doc_id", "repetitive"
    )
    ntok = ids.join(
        tok.groupBy("doc_id").agg(F.count("*").alias("_nt")), "doc_id", "left"
    ).select("doc_id", F.coalesce("_nt", F.lit(0)).alias("n_tokens"))
    spans = dup_span_stats(docs, "doc_id", "text", n=8, tokens=tok).select(
        "doc_id", "dup_ppm"
    )
    lp = unigram_logprob(docs, "doc_id", "text", tokens=tok).select(
        "doc_id", "nll_milli"
    )
    ex = shingles_exploded(docs, "doc_id", "text", 3, tokens=tok).select(
        F.col("id").alias("doc_id"), F.xxhash64("g").alias("gh")
    )
    pairs = _ngram_pairs_from_ex(ex).select(
        F.col("doc_id").alias("a"), F.col("doc_id2").alias("b")
    )
    comp = dedup_assignments(ids, pairs, "doc_id")
    dup_ppm = F.coalesce("dup_ppm", F.lit(0))
    nll = F.coalesce("nll_milli", F.lit(0))
    reason = (
        F.when(F.col("n_tokens") < 20, "short")
        .when(F.col("repetitive"), "repetitive")
        .when(dup_ppm >= _DUP_SPAN_PPM_MAX, "dup_span")
        .when((nll < _NLL_MILLI_MIN) | (nll > _NLL_MILLI_MAX), "perplexity")
    )
    scored = (
        comp.join(rep, "doc_id")
        .join(ntok, "doc_id")
        .join(spans, "doc_id", "left")
        .join(lp, "doc_id", "left")
    )
    if quality_gate:
        # sixth signal off the SAME checkpointed token stream; absent rows
        # (zero-token docs) coalesce to 0 = pass, but those are already
        # dropped as 'short' — the model only ever removes docs it
        # recognizes as low-register (score < 0 fails, see quality_model)
        qm = quality_model(docs, "doc_id", "text", tokens=tok).select(
            "doc_id", "score_sum"
        )
        scored = scored.join(qm, "doc_id", "left")
        reason = reason.when(
            F.coalesce("score_sum", F.lit(0)) < 0, "low_quality"
        )
    scored = scored.withColumn("drop_reason", reason).withColumn(
        "eligible", F.col("drop_reason").isNull()
    )
    survivors = (
        scored.where("eligible")
        .groupBy("component_id")
        .agg(F.min("doc_id").alias("survivor"))
    )
    return (
        scored.join(survivors, "component_id", "left")
        .select(
            "doc_id",
            "component_id",
            (F.col("eligible") & (F.col("doc_id") == F.col("survivor"))).alias(
                "keep"
            ),
            F.coalesce(
                "drop_reason",
                F.when(F.col("doc_id") != F.col("survivor"), F.lit("duplicate")),
            ).alias("drop_reason"),
        )
    )


def q_recrawl_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Freshness-driven recrawl scheduling (operators/recrawl.py),
    chained off the sitemap ingestion query's candidates: completions
    are synthesized for the even doc_ids at fetch times straddling the
    lastmod days, so the changed/fresh split and every age bonus are
    data-derived. The oracle recomputes the schedule straight from the
    documents table."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    cands = q_sitemap_ingest(spark, sf_dir).drop("host")
    docs = _t(spark, sf_dir, "documents").select("doc_id", "source")
    completions = docs.where(F.col("doc_id") % 2 == 0).select(
        F.concat(
            F.lit("https://"),
            F.col("source"),
            F.lit("/doc/"),
            F.col("doc_id").cast("string"),
            F.lit("?a=1&b=2"),
        ).alias("url"),
        (F.lit(1704067200) + F.col("doc_id") * 1000).alias("fetched_unix"),
    )
    return recrawl_candidates(
        cands, completions, now_unix=1709251200
    ).orderBy("url")


def q_dup_span_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact substring dedup as a rewrite (textstats.remove_dup_spans):
    tokens covered by cross-document duplicated 8-gram windows are
    dropped and the surviving stream is fingerprinted — kept_md5 makes
    the hash row certify the full rewritten content of every doc."""
    return remove_dup_spans(
        _spread(_t(spark, sf_dir, "documents")), "doc_id", "text", n=8
    ).orderBy("doc_id")


def q_dup_span_removal_v2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Variable-length exact substring dedup (textstats.
    remove_dup_spans_maximal): duplicated 8-gram windows merge into
    maximal runs and only runs >= 16 tokens are removed — the Lee et al.
    2022 span semantics (scaled from the paper's 50 to the sf corpus's
    short docs); short idiom-length overlaps survive, unlike
    dup_span_removal. kept_md5 certifies every doc's full rewritten
    content cross-engine."""
    return remove_dup_spans_maximal(
        _spread(_t(spark, sf_dir, "documents")),
        "doc_id",
        "text",
        n=8,
        min_len=16,
    ).orderBy("doc_id")


def q_corpus_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The END-TO-END corpus build in one plan: full curation decision
    (quality gates + near-dup clustering, q_curation_full) → temperature
    mixture resampling of the survivors (alpha=0.5, rates derived from
    the surviving per-source counts) → concat-and-chunk packing of the
    resampled stream onto 2048-token training sequences. Output is the
    packing manifest of the finished training set — the artifact a shard
    writer consumes. Every stage is the same operator the standalone
    contract queries check; the oracle chains the same curation CTEs
    (shared constants) with the mix + packing SQL, so the whole pipeline
    replays in DuckDB end to end."""
    kept = q_curation_full(spark, sf_dir).where("keep").select("doc_id")
    docs = _docs_tokens(spark, sf_dir)
    # checkpoint the slim survivor frame: temperature_resample consumes it
    # twice (stratum counts + the keep join) and pack_manifest twice more
    # (spans + bucket totals) — without this the whole curation subtree
    # re-runs at every consumer
    ksrc = docs.join(kept, "doc_id").select(
        "doc_id", "source", F.size("tokens").alias("n_tokens")
    ).localCheckpoint(eager=False)
    mixed = temperature_resample(ksrc, "doc_id", "source", alpha=0.5)
    return pack_manifest(
        mixed, "doc_id", "n_tokens", seq_len=2048, bucket_width=64
    ).orderBy("id", "seq_id")


def q_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-iteration PageRank over the deterministically derived link
    graph (doc i -> (i*31+k) % N for k in 1..3) — the crawl-prioritization
    centrality a production frontier ranks hosts by. Rank floored to ppm
    for the cross-engine hash; SQL twin unrolls the same 5 iterations as
    chained CTEs."""
    docs = _t(spark, sf_dir, "documents")
    nodes = docs.select(F.col("doc_id").cast("long").alias("doc_id"))
    return pagerank(nodes, derive_link_graph(docs), iters=5)


def q_anchor_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inlink anchor-text aggregation (operators/linkgraph.
    anchor_text_aggregate): the link graph is the same deterministic
    doc i -> (i*31+k) % N derivation PageRank uses, and edge k carries
    tokens [k, k+2] of the SOURCE document as its anchor string — so both
    engines derive identical anchors with list arithmetic only. Output:
    per-target top-3 anchor terms with inlink counts."""
    from spacetime_crawler4py_spark.operators.linkgraph import (
        anchor_text_aggregate,
    )

    docs = _docs_tokens(spark, sf_dir)
    n = F.broadcast(docs.agg(F.count("*").alias("n_docs")))
    edges = (
        docs.select(F.col("doc_id").cast("long").alias("src"), "tokens")
        .crossJoin(n)
        .select(
            "src", "tokens",
            F.explode(F.array(F.lit(1), F.lit(2), F.lit(3))).alias("k"),
            "n_docs",
        )
        .select(
            "src",
            ((F.col("src") * 31 + F.col("k")) % F.col("n_docs")).alias("dst"),
            F.array_join(F.slice("tokens", F.col("k"), F.lit(3)), " ")
            .alias("anchor"),
        )
        .where(F.col("src") != F.col("dst"))
    )
    return anchor_text_aggregate(edges, "dst", "anchor", top_m=3)


def q_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 keyword retrieval for a fixed term bag, top-20 by floored
    milli-score (ordering uses the floored integer, never the raw float,
    so both engines rank identically)."""
    return (
        bm25_scores(
            _spread(_t(spark, sf_dir, "documents")), "doc_id", "text",
            _BM25_TERMS,
        )
        .orderBy(F.desc("score_milli"), F.asc("doc_id"))
        .limit(20)
    )


def q_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dup_span_stats(
        _spread(_t(spark, sf_dir, "documents")), "doc_id", "text", n=8
    )


def q_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    return unigram_logprob(
        _spread(_t(spark, sf_dir, "documents")), "doc_id", "text"
    )


def q_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated bigram-LM scoring (operators/textstats.bigram_logprob,
    lam = 0.75): per-bigram -ln P floored to integer milli-nats BEFORE
    the per-doc sum, so the aggregate is an exact integer sum on both
    engines."""
    from spacetime_crawler4py_spark.operators.textstats import (
        bigram_logprob,
    )

    return bigram_logprob(
        _spread(_t(spark, sf_dir, "documents")), "doc_id", "text"
    )


def q_asof_latest_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time enrichment: each event joined to its user's latest
    order at event time (backward-inclusive as-of join; see
    operators/asof.py for the union+window plan). The right side is
    deduped to one order per (user, date) first — max orderkey wins — so
    equal-timestamp semantics are engine-independent; the DuckDB oracle
    is a native ASOF JOIN over the same deduped side."""
    from spacetime_crawler4py_spark.operators.asof import asof_join

    events = _t(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    orders = (
        _t(spark, sf_dir, "orders")
        .groupBy(
            F.col("o_custkey").alias("user_id"),
            F.col("o_orderdate").alias("ots"),
        )
        .agg(
            F.max("o_orderkey").alias("o_orderkey"),
            F.max_by("o_totalprice", "o_orderkey").alias("o_totalprice"),
        )
    )
    enriched = asof_join(
        events, orders,
        on="user_id", left_ts="ts", right_ts="ots",
        value_cols=["o_orderkey", "o_totalprice"],
    )
    return enriched.select(
        "event_id",
        "user_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
        "o_orderkey",
        F.floor(F.col("o_totalprice") * 100).cast("long").alias("total_cents"),
    )


def q_range_window_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Attribution rollup via the binned range join: every purchase
    opens a 2-hour window [ts, ts+2h]; count + value-sum the same user's
    click/view events inside it (bin = 2h, so each interval explodes to
    <= 2 bins). The DuckDB oracle runs the same containment as a raw
    inequality join — fine at oracle scale, quadratic poison at 100 TB,
    which is what the binning exists to avoid."""
    from spacetime_crawler4py_spark.operators.asof import range_join_binned

    win_us = 2 * 3_600_000_000
    ev = _t(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    pts = ev.where(F.col("event_type").isin("click", "view")).select(
        "user_id", us.alias("p"), "value"
    )
    wins = ev.where(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("purchase_id"),
        us.alias("s"),
        (us + F.lit(win_us)).alias("en"),
    )
    return (
        range_join_binned(
            pts, wins, left_point="p", right_start="s", right_end="en",
            bin_width=win_us, on="user_id",
        )
        .groupBy("purchase_id")
        .agg(
            F.count("*").alias("n_follow"),
            F.sum(F.floor(F.col("value") * 1000).cast("long")).alias(
                "value_milli"
            ),
        )
    )


def _quantized_emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embeddings quantized to integer-valued doubles (floor(x*1000)):
    integer sums are exact in fp64 regardless of accumulation order, so the
    Spark and DuckDB cosines are bit-identical and the floored outputs hash
    equal across engines."""
    return _t(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform(
            "embedding", lambda x: F.floor(x.cast("double") * 1000).cast("double")
        ).alias("v"),
    )


def _cos_expr(v1, v2):
    dot = F.aggregate(F.zip_with(v1, v2, lambda x, y: x * y), F.lit(0.0), lambda a_, v: a_ + v)
    n1 = F.sqrt(F.aggregate(v1, F.lit(0.0), lambda a_, x: a_ + x * x))
    n2 = F.sqrt(F.aggregate(v2, F.lit(0.0), lambda a_, x: a_ + x * x))
    return dot / (n1 * n2)


def q_embedding_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _quantized_emb(spark, sf_dir)
    p = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("probe_id"), F.col("v").alias("pv")
    )
    c = emb.select(F.col("vec_id").alias("neighbor_id"), F.col("v").alias("cv"))
    scored = (
        p.crossJoin(c)
        .where(F.col("probe_id") != F.col("neighbor_id"))
        .withColumn("cos", _cos_expr(F.col("pv"), F.col("cv")))
    )
    w = Window.partitionBy("probe_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 10)
        .select(
            "probe_id", "neighbor_id",
            F.floor(F.col("cos") * 10000).cast("long").alias("cos_bp"),
            "rank",
        )
    )


def q_embedding_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact embedding near-dup pairs via the numpy block multiply
    (similarity_search.blocked_pair_cos_bp); bit-identical to the per-pair
    expression form because the quantized vectors make all dots/norms
    exact in fp64."""
    emb = _spread(_quantized_emb(spark, sf_dir))
    return blocked_pair_cos_bp(emb, "vec_id", "v", min_cos_bp=3000)


def q_seen_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The URL-seen dedup kernel (reference crawler/frontier.py:93-96):
    discovered URLs left-anti-joined against the already-seen frontier on
    url_hash. Seen set = docs with doc_id % 3 != 0, so exactly the
    doc_id % 3 == 0 third must survive."""
    urls = _synth_urls(spark, sf_dir)
    discovered = urls.select(
        "doc_id", "url", udf_url_hash(F.col("url")).alias("url_hash")
    )
    seen = (
        urls.where(F.col("doc_id") % 3 != 0)
        .select(udf_url_hash(F.col("url")).alias("url_hash"))
    )
    return (
        discovered.join(seen, "url_hash", "left_anti")
        .select("doc_id", "url")
        .orderBy("doc_id")
    )


def q_first_seen(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return (
        orders.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "o_custkey",
            F.col("o_orderkey").alias("first_order"),
            F.col("o_orderdate").alias("first_date"),
        )
    )


def q_token_bucket_dequeue(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        events.withColumn("slot", F.row_number().over(w))
        .where(F.col("slot") <= 3)
        .select("user_id", "slot", "event_id")
    )


def q_revenue_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    nation = _t(spark, sf_dir, "nation")
    return (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            # integer cents (entry-file convention, header comment): the
            # decimal sum is exact, *100 is an integer, and BIGINT hashes
            # identically across engines (decimal(28,2) vs DECIMAL(38,2)
            # render differently in the driver's normalizer)
            (F.sum(F.col("o_totalprice").cast("decimal(18,2)")) * 100)
            .cast("long").alias("revenue_cents"),
            F.count("*").alias("n_orders"),
        )
        .orderBy("nation")
    )


def q_event_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling event-time windows (the batch twin of the Structured
    Streaming windowed agg): hourly counts + exact integer value sums
    (floor(value*1000) per event, so the cross-engine sum is
    order-independent)."""
    # NTZ -> epoch conversion below reads the session timezone; pin it so
    # the oracle comparison is host-config-independent
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    events = _t(spark, sf_dir, "events")
    return (
        events.groupBy(
            F.unix_timestamp(
                F.window("ts", "1 hour").getField("start")
            ).alias("hour_unix"),
            "event_type",
        )
        .agg(
            F.count("*").alias("cnt"),
            F.sum(F.floor(F.col("value") * 1000)).cast("long").alias("value_milli"),
        )
        .orderBy("hour_unix", "event_type")
    )


def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-min inactivity closes a session) as a
    pure window plan: lag → gap flag → running sum = session ordinal."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    events = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ts_sec = F.col("ts").cast("timestamp").cast("long")  # NTZ -> UTC epoch
    gap = ts_sec - F.lag(ts_sec).over(w)
    new_sess = F.when(gap.isNull() | (gap > 1800), 1).otherwise(0)
    return (
        events.withColumn("_new", new_sess)
        .withColumn("session_id", F.sum("_new").over(
            w.rowsBetween(Window.unboundedPreceding, 0)
        ).cast("long"))
        .select("user_id", "event_id", "session_id")
    )


def q_events_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _t(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.count("*").alias("cnt"))
        .orderBy("event_type")
    )


def q_url_seen_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    urls = _synth_urls(spark, sf_dir)
    return urls.select("doc_id", "url", udf_url_hash(F.col("url")).alias("url_hash"))


def q_is_valid(spark: SparkSession, sf_dir: str) -> DataFrame:
    urls = _synth_urls(spark, sf_dir)
    return urls.select("doc_id", "url", udf_is_valid(F.col("url")).alias("valid"))


def q_canonicalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    urls = _synth_urls(spark, sf_dir).select(
        "doc_id", F.concat(F.col("url"), F.lit("#frag")).alias("raw")
    )
    return urls.select("doc_id", udf_canonicalize(F.col("raw")).alias("canon"))


# (host, path pattern, allow) — the north_star robots gate as data,
# exercising RFC 9309 semantics: plain Disallow prefixes, an Allow
# override that out-specifies its Disallow, a '*' wildcard with a '$'
# end anchor, and an exact-path anchored Allow.
ROBOTS_RULES = [
    ("www.ics.uci.edu", "/wp-json", False),
    ("www.cs.uci.edu", "/events", False),
    ("www.cs.uci.edu", "/events/day/", True),
    ("www.informatics.uci.edu", "/list", False),
    ("www.informatics.uci.edu", "/*.pdf$", False),
    ("www.stat.uci.edu", "/blog", False),
    ("www.stat.uci.edu", "/blog/page/500/$", True),
]


def _robots_rule_rows() -> list[tuple]:
    """ROBOTS_RULES + the derived (regex, priority) the gate evaluates.
    rule_pattern_regex emits a dialect-portable anchored regex (same
    meaning under Java regex / RE2 / Python re), so the Spark plan and
    the DuckDB oracle share one compilation rule. Priority encodes RFC
    9309 §2.2.2 precedence as a scalar: longest pattern wins, Allow wins
    length ties."""
    from spacetime_crawler4py_spark.functions.robots import rule_pattern_regex

    return [
        (h, p, allow, rule_pattern_regex(p), len(p) * 2 + int(allow))
        for (h, p, allow) in ROBOTS_RULES
    ]


def q_robots_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain robots.txt gating (north_star addition; the reference
    delegates robots to its cache server — see functions/robots.py).
    RFC 9309 evaluation: among the host's rules matching the URL path
    (wildcard patterns precompiled to regexes in the broadcast dim), the
    most specific (longest, Allow on ties — the scalar prio) decides;
    no matching rule means allowed. All JVM-native: a broadcast join,
    RLIKE, and one max_by aggregation — no Python in the hot path."""
    urls = _synth_urls(spark, sf_dir)
    parted = urls.select(
        "doc_id", "url",
        F.parse_url(F.col("url"), F.lit("HOST")).alias("host"),
        F.parse_url(F.col("url"), F.lit("PATH")).alias("path"),
    )
    rules = spark.createDataFrame(
        _robots_rule_rows(),
        "host string, pattern string, allow boolean, regex string, prio int",
    )
    # one broadcast join + one hash aggregation (map-side combine), no
    # re-join of the verdict: non-matching (and rule-less, left-join-null)
    # rows carry a null ordering key, which max_by ignores, and a URL with
    # no matching rule at all falls through to the allowed default
    matched = F.expr("path RLIKE regex")
    return (
        parted.join(F.broadcast(rules), "host", "left")
        .groupBy("doc_id", "url")
        .agg(
            F.coalesce(
                F.max_by(
                    F.when(matched, F.col("allow")),
                    F.when(matched, F.col("prio")),
                ),
                F.lit(True),
            ).alias("allowed")
        )
        .orderBy("doc_id")
    )


def q_near_dup_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference near-dup probe semantics (utils/similarity.py:76-92 +
    scraper.py:240-246): each doc is compared against *previously processed*
    docs only (processing order = doc_id here), flagged if any earlier doc
    has shingle-Jaccard >= tau. tau lowered from the reference's 0.90 to
    0.30 so the testdata corpus yields non-trivial flags."""
    docs = _spread(_t(spark, sf_dir, "documents"))
    ex = shingles_exploded(docs, "doc_id", "text", 3).select(
        F.col("id").alias("doc_id"), F.xxhash64("g").alias("gh")
    )
    sizes = ex.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    earlier = ex.select(F.col("doc_id").alias("prev_id"), "gh")
    overlaps = (
        ex.join(earlier, "gh")
        .where(F.col("prev_id") < F.col("doc_id"))
        .groupBy("doc_id", "prev_id")
        .agg(F.count("*").alias("common"))
    )
    scored = (
        overlaps.join(sizes, "doc_id")
        .join(
            sizes.select(F.col("doc_id").alias("prev_id"), F.col("n_sh").alias("n_prev")),
            "prev_id",
        )
        .where(
            F.col("common") * 1000000
            >= F.lit(300000) * (F.col("n_sh") + F.col("n_prev") - F.col("common"))
        )
        .select("doc_id")
        .distinct()
        .withColumn("is_near_dup", F.lit(True))
    )
    return (
        docs.join(scored, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("is_near_dup"), F.lit(False)).alias("is_near_dup"),
        )
        .orderBy("doc_id")
    )


def q_subdomain_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Subdomain report (reference analyze_crawl.py:193-201): count pages
    per .uci.edu host, alphabetical."""
    urls = _synth_urls(spark, sf_dir)
    host = F.parse_url(F.col("url"), F.lit("HOST"))
    return (
        urls.select(host.alias("host"))
        .where(F.col("host").endswith(".uci.edu"))
        .groupBy("host")
        .agg(F.count("*").alias("cnt"))
        .orderBy("host")
    )


def q_media_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = multimodal.attach_binary_payload(
        _t(spark, sf_dir, "documents"), "text"
    )
    return multimodal.media_metadata(docs, "doc_id").select(
        F.col("id").alias("doc_id"), "n_bytes", "content_md5", "magic_hex"
    )


def q_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = multimodal.attach_binary_payload(_t(spark, sf_dir, "documents"), "text")
    stage = multimodal.frame_sample_stage(every_n_bytes=64, max_frames=4)
    return docs.select(F.col("doc_id").alias("id"), "payload").mapInPandas(
        stage, schema="id bigint, frame_idx int, offset int, frame_md5 string"
    )


def q_decode_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decode->features plumbing, projected to a hashable shape: the
    array<float> column is exploded to (dim_idx, value_micro BIGINT) rows
    (the driver's row canonicalizer cannot hash list cells — round-1 FAIL).
    The stub decoder is md5-based and /256-normalized, so value_micro is
    exactly floor(md5_byte * 1e6 / 256) and fully SQL-checkable."""
    docs = multimodal.attach_binary_payload(_t(spark, sf_dir, "documents"), "text")
    stage = multimodal.decode_features_stage(feature_dim=8)
    feats = docs.select(F.col("doc_id").alias("id"), "payload").mapInPandas(
        stage, schema=multimodal.FEATURES_SCHEMA
    )
    return feats.select(
        "id", "n_bytes", "decoder",
        F.posexplode("feature").alias("dim_idx", "val"),
    ).select(
        "id", "n_bytes", "decoder", "dim_idx",
        F.floor(F.col("val").cast("double") * 1000000).cast("long").alias("value_micro"),
    )


def q_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH dedup in its production shape: banded candidates +
    exact shingle-Jaccard verification, so the output is the exact pair
    set above tau (SQL-checkable) whenever LSH recall is 1 — the true
    pairs in this corpus sit at j>=0.89, where 16x4 banding misses with
    p~5e-7. A recall-containment pytest gates the LSH side separately."""
    return minhash_lsh_verified_pairs(
        _spread(_t(spark, sf_dir, "documents")), "doc_id", "text", threshold=0.3
    )


def q_sitemap_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sitemap ingestion (sources/sitemaps.py): one urlset XML per source
    host is synthesized in-plan from the documents table (entity-escaped
    query strings, lastmod on doc_id%3, priority tag omitted on doc_id%4
    → protocol default 500), parsed back by the JVM-regex extractor, and
    deduped into frontier candidates. The oracle asserts the DIRECT
    ground truth from the table — the parser must invert the synthesis
    exactly, entities included."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "source")
    did = F.col("doc_id")
    entry = F.concat(
        F.lit("<url><loc>https://"),
        F.col("source"),
        F.lit("/doc/"),
        did.cast("string"),
        F.lit("?a=1&amp;b=2</loc>"),
        F.when(
            did % 3 == 0,
            F.concat(
                F.lit("<lastmod>2024-01-"),
                F.lpad(((did % 28) + 1).cast("string"), 2, "0"),
                F.lit("</lastmod>"),
            ),
        ).otherwise(F.lit("")),
        F.when(did % 4 == 0, F.lit("")).otherwise(
            F.concat(
                F.lit("<priority>0."),
                (did % 10).cast("string"),
                F.lit("</priority>"),
            )
        ),
        F.lit("</url>"),
    )
    payloads = docs.groupBy(F.col("source").alias("host")).agg(
        F.concat(
            F.lit('<urlset xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">'),
            F.concat_ws("", F.sort_array(F.collect_list(entry))),
            F.lit("</urlset>"),
        ).alias("xml")
    )
    return sitemap_frontier_candidates(
        parse_sitemap_entries(payloads)
    ).orderBy("host", "url")


def q_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based mixture resampling at alpha=0.5 over the source
    strata — keep rates derived in-plan from the stratum counts
    ((c_min/c)^0.5, 16-bit-quantized), hash-keyed keep decisions. The
    sqrt-only exponent family makes the float path IEEE-exact, so the
    oracle recomputes counts, thresholds, AND verdicts from scratch."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "source")
    return temperature_resample(docs, "doc_id", "source", alpha=0.5).select(
        "doc_id", "source", "keep_thr_q"
    )


def q_doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping fixed-window chunking (operators/packing.
    chunk_documents): window=64 tokens, overlap=16 (stride 48) so the
    sf corpus produces real multi-chunk fan-out. chunk_md5 certifies the
    chunk content cross-engine, not just the offsets."""
    from spacetime_crawler4py_spark.operators.packing import chunk_documents

    docs = _docs_tokens(spark, sf_dir).select(
        F.col("doc_id").cast("long").alias("doc_id"), "tokens"
    )
    return chunk_documents(docs, "doc_id", "tokens", window=64, overlap=16)


def q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction (operators/scrub.py): the corpus carries no contact
    info, so deterministic spans are injected first (email on doc_id%3,
    phone on %5, dotted quad on %7) — the operator must find and redact
    exactly those. Counts + redacted length + md5 of the redacted text
    give a full-content cross-engine check without shipping the corpus
    through the compare."""
    docs = _t(spark, sf_dir, "documents")
    injected = F.concat(
        F.col("text"),
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(
                F.lit(" contact user"),
                F.col("doc_id").cast("string"),
                F.lit("@example.com now"),
            ),
        ).otherwise(F.lit("")),
        F.when(F.col("doc_id") % 5 == 0, F.lit(" call 555-123-4567")).otherwise(
            F.lit("")
        ),
        F.when(
            F.col("doc_id") % 7 == 0,
            F.concat(
                F.lit(" from 10.0."),
                (F.col("doc_id") % 256).cast("string"),
                F.lit(".1"),
            ),
        ).otherwise(F.lit("")),
    )
    out = scrub_pii(docs.select("doc_id", injected.alias("text")), "doc_id", "text")
    return out.select(
        "id", "n_email", "n_phone", "n_ipv4", "scrubbed_len",
        F.md5(F.col("scrubbed")).alias("scrub_md5"),
    )


def q_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chunk sequence packing (operators/packing.py): the
    packing manifest mapping each document's token span onto fixed
    2048-token training sequences. Global offsets come from a two-level
    cumulative sum (per-bucket windows + broadcast bucket offsets — no
    global-ordering window over the corpus); bucket_width=64 forces
    multiple buckets even at sf0.01 so the contract exercises the
    distributed path, not the degenerate single-bucket one."""
    docs = _docs_tokens(spark, sf_dir).select(
        "doc_id", F.size("tokens").alias("n_tokens")
    )
    return pack_manifest(
        docs, "doc_id", "n_tokens", seq_len=2048, bucket_width=64
    ).orderBy("id", "seq_id")


def q_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact hamming-ball pairs over the md5-scheme simhash: pigeonhole
    blocking (max_hamming+1 blocks) makes the blocked join equal the
    all-pairs scan, and the md5 token hash makes the sketch recomputable
    in ANSI SQL — full value-hash oracle instead of rows-only."""
    return simhash_pairs(
        _spread(_t(spark, sf_dir, "documents")), "doc_id", "text", max_hamming=8
    )


# Hyperplanes for the ANN contract query: small integers so every plane
# dot over the quantized vectors is exact fp64 -> bucket assignment is
# engine-independent, and the oracle SQL inlines this exact matrix.
_ANN_TABLES, _ANN_PLANES_PER_TABLE = 12, 4
_ANN_PLANES = int_plane_matrix(64, _ANN_PLANES_PER_TABLE, _ANN_TABLES, seed=42)


def _ann_planes_values_sql() -> str:
    """The exact hyperplane matrix as SQL VALUES rows (table, plane, w)."""
    rows = []
    for t in range(_ANN_TABLES):
        for p in range(_ANN_PLANES_PER_TABLE):
            w = ", ".join(str(int(x)) for x in _ANN_PLANES[t, p])
            rows.append(f"({t}, {p}, [{w}]::DOUBLE[])")
    return ",\n              ".join(rows)


def q_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _quantized_emb(spark, sf_dir)
    probes = emb.where(F.col("vec_id") < 5)
    return lsh_bucketed_topk(
        _spread(emb), probes, "vec_id", "v", dim=64, k=10,
        planes=_ANN_PLANES, emit_bp=True,
    )


def q_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-flat ANN twin of ann_lsh (operators/similarity_search.ivf_topk):
    deterministic sampled centroids keep the whole index SQL-expressible."""
    emb = _quantized_emb(spark, sf_dir)
    probes = emb.where(F.col("vec_id") < 5)
    return ivf_topk(
        _spread(emb), probes, "vec_id", "v",
        n_centroids=16, n_probe=8, k=10, emit_bp=True,
    )


def q_ann_ivf_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-flat ANN behind a TRAINED coarse quantizer: two fixed-point
    (floor-updated) spherical-k-means Lloyd iterations over the
    milli-quantized corpus, min-id init — every update is exact integer
    arithmetic in fp64 plus one IEEE division and a floor, so the trained
    centroids (and therefore the whole index) are bit-identical across
    partitionings and engines. The DuckDB oracle replays both Lloyd
    iterations as unrolled CTEs. Closes round-3's 'kmeans has no contract
    query' gap (operators/similarity_search.kmeans_centroids)."""
    from spacetime_crawler4py_spark.operators.similarity_search import (
        ivf_topk, kmeans_centroids,
    )

    emb = _quantized_emb(spark, sf_dir)
    cents = kmeans_centroids(
        emb, "vec_id", "v", k=16, iters=2, init="minid", floor_updates=True
    ).select(F.col("cid").alias("vec_id"), F.col("cv").alias("v"))
    probes = emb.where(F.col("vec_id") < 5)
    return ivf_topk(
        _spread(emb), probes, "vec_id", "v",
        centroids=cents, n_probe=8, k=10, emit_bp=True,
    )


def q_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup semantic deduplication (operators/similarity_search.
    semantic_dedup): the milli-quantized corpus is clustered by the same
    deterministic fixed-point k-means as ann_ivf_trained (k=8, 2 Lloyd
    iterations, min-id init), then each vector is dropped iff a
    smaller-id cluster-mate sits at floored cosine >= 2500 bp (the
    synthetic embeddings are quasi-random — max pairwise cosine ~0.45 —
    so the threshold sits in-distribution to exercise a real kept/dropped
    split). Output: one row per vector with its cluster, keep decision,
    and min-id witness. The DuckDB oracle replays the trained quantizer
    via the same unrolled Lloyd CTEs and the keep rule as an EXISTS-style
    witness aggregation."""
    from spacetime_crawler4py_spark.operators.similarity_search import (
        kmeans_centroids, semantic_dedup,
    )

    emb = _quantized_emb(spark, sf_dir)
    cents = kmeans_centroids(
        emb, "vec_id", "v", k=8, iters=2, init="minid", floor_updates=True
    )
    return semantic_dedup(_spread(emb), "vec_id", "v", cents, min_cos_bp=2500)


def q_paragraph_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style corpus-wide paragraph dedup (operators/textstats.
    paragraph_dedup): the synthetic corpus carries no paragraph breaks,
    so deterministic ones are injected first (paragraphs of 3 + doc_id%3
    tokens — short enough that ~6% of paragraphs repeat across docs,
    exercising both keep and drop branches), then every paragraph after
    its first corpus-order occurrence is removed. kept_md5 certifies the
    rewritten text cross-engine (the pii_scrub span-injection +
    dup_span_removal certificate patterns combined)."""
    from spacetime_crawler4py_spark.operators.textstats import (
        paragraph_dedup,
    )

    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select(F.col("doc_id").cast("long").alias("doc_id"), "text")
    )
    k = (F.lit(3) + F.col("doc_id") % 3).cast("int")
    toks = F.split(F.col("text"), " ")
    n_groups = F.floor((F.size(toks) + k - 1) / k).cast("int")
    with_paras = docs.select(
        "doc_id",
        F.array_join(
            F.transform(
                F.sequence(F.lit(0), n_groups - 1),
                lambda g: F.array_join(F.slice(toks, g * k + 1, k), " "),
            ),
            "\n\n",
        ).alias("para_text"),
    )
    return paragraph_dedup(with_paras, "doc_id", "para_text", delim="\n\n")


def q_crawl_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global fetch-budget apportionment (operators/recrawl.
    allocate_crawl_budget): per-source corpus volume (sum of n_chars —
    the yield signal a steady-state crawl feeds back) becomes each
    domain's weight, and a 100,000-fetch epoch budget is split by
    integer largest-remainder apportionment — sum(budget) == 100,000
    exactly, every comparison on exact integer remainders."""
    from spacetime_crawler4py_spark.operators.recrawl import (
        allocate_crawl_budget,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    weights = docs.groupBy(F.col("source").alias("domain")).agg(
        F.sum("n_chars").cast("long").alias("weight")
    )
    return allocate_crawl_budget(weights, 100_000)


def _sql_lloyd_iteration(i: int, dim: int) -> str:
    """One unrolled fixed-point Lloyd step c{i-1} -> c{i} (assignment +
    floored mean update + empty-cell carryover) for the ann_ivf_trained
    oracle."""
    p, n = i - 1, i
    return f"""
            a{n} AS (
              SELECT vec_id, v, cid AS cell FROM (
                SELECT e.vec_id, e.v, c{p}.cid,
                       row_number() OVER (PARTITION BY e.vec_id ORDER BY
                         list_dot_product(e.v, c{p}.cv)
                           / (sqrt(list_dot_product(e.v, e.v))
                              * sqrt(list_dot_product(c{p}.cv, c{p}.cv))) DESC,
                         c{p}.cid ASC) AS rn
                FROM e CROSS JOIN c{p}
              ) WHERE rn = 1
            ),
            m{n} AS (
              SELECT cell, d.i AS dim, floor(avg(v[d.i])) AS m
              FROM a{n} CROSS JOIN (SELECT unnest(range(1, {dim + 1})) AS i) d
              GROUP BY cell, d.i
            ),
            mc{n} AS (
              SELECT cell AS cid, list(m ORDER BY dim) AS cv
              FROM m{n} GROUP BY cell
            ),
            c{n} AS (
              SELECT c{p}.cid, coalesce(mc{n}.cv, c{p}.cv) AS cv
              FROM c{p} LEFT JOIN mc{n} USING (cid)
            )"""


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: the crawl-report top-words pipeline at sf0.001."""
    return q_top_words(spark, "/root/testdata/sf0.001")


Plan = Callable[[SparkSession, str], DataFrame]


def queries() -> dict[str, Plan]:
    """The contract's Spark plans, in ``stale_first_order``."""
    reg = registry()
    order = stale_first_order(list(reg), hash_green_rounds(Path(__file__).parent))
    return {name: reg[name][0] for name in order}


def oracle_sql() -> dict[str, str]:
    """The DuckDB twin of every ``queries()`` plan, in registry order."""
    return {name: sql for name, (_, sql) in registry().items()}


def hash_green_rounds(root: Path) -> dict[int, set[str]]:
    """Round number -> the queries hash-green in ``CORRECTNESS_r<round>.json``
    under ``root`` (the external correctness gate's per-round results)."""
    rounds = {}
    for path in root.glob("CORRECTNESS_r*.json"):
        m = re.fullmatch(r"CORRECTNESS_r(\d+)\.json", path.name)
        if m:
            rows = json.loads(path.read_text())
            rounds[int(m[1])] = {n for n, r in rows.items() if r.get("hash_match") is True}
    return rounds


def stale_first_order(names: list[str], rounds: dict[int, set[str]]) -> list[str]:
    """The order ``queries()`` returns for the external correctness gate,
    which attests only its first 50 entries per round: by the newest round
    in which each query was hash-green, oldest first, never-attested
    queries first of all; ties keep ``names`` order. Each round then
    re-attests the queries whose attestation is oldest."""
    last = {name: r for r, green in sorted(rounds.items()) for name in green}
    return sorted(names, key=lambda name: last.get(name, 0))


# The full curation decision as reusable oracle-SQL parts: the CTE
# chain (tokens -> shingles -> jaccard pairs -> recursive components ->
# gates) and its final per-doc keep/drop SELECT. curation_full uses them
# directly; corpus_build extends the same chain with mixture resampling
# and sequence packing so the END-TO-END corpus build replays in SQL.
def _sql_curation_ctes(quality_gate: bool = False) -> str:
    """The curation decision's CTE chain; with quality_gate the
    model-based scorer's CTEs join in and a 'low_quality' arm lands
    after the perplexity band — the SQL twin of
    _curation_full_impl(quality_gate=True)."""
    q_ctes = _sql_quality_wt_ctes() + ",\n            " if quality_gate else ""
    q_arm = (
        "\n                  WHEN COALESCE(q.score_sum, 0) < 0"
        "\n                    THEN 'low_quality'"
        if quality_gate
        else ""
    )
    q_join = (
        "\n              LEFT JOIN qdoc q USING (doc_id)"
        if quality_gate
        else ""
    )
    return f"""{q_ctes}tok AS (
              SELECT doc_id, {_SQL_TOKENS} AS tokens FROM documents
            ),
            sh AS (
              SELECT doc_id,
                     CASE WHEN len(tokens) >= 3 THEN list_distinct(
                       list_transform(generate_series(1, len(tokens) - 2),
                         i -> tokens[i] || ' ' || tokens[i+1] || ' ' || tokens[i+2]))
                     ELSE [] END AS sh
              FROM tok
            ),
            sizes AS (SELECT doc_id, len(sh) AS n_sh FROM sh),
            ex AS (SELECT doc_id, unnest(sh) AS g FROM sh),
            ov AS (
              SELECT a.doc_id AS a, b.doc_id AS b, count(*) AS common
              FROM ex a JOIN ex b USING (g) WHERE a.doc_id < b.doc_id
              GROUP BY a.doc_id, b.doc_id
            ),
            jpairs AS (
              SELECT ov.a, ov.b FROM ov
              JOIN sizes s1 ON s1.doc_id = ov.a
              JOIN sizes s2 ON s2.doc_id = ov.b
              WHERE floor(ov.common * 1000000.0
                          / (s1.n_sh + s2.n_sh - ov.common)) >= 300000
            ),
            edges AS (SELECT a, b FROM jpairs UNION SELECT b, a FROM jpairs),
            reach(src, dst) AS (
              SELECT a, b FROM edges
              UNION
              SELECT r.src, e.b FROM reach r JOIN edges e ON e.a = r.dst
            ),
            comp AS (
              SELECT src, least(src, min(dst)) AS cid FROM reach GROUP BY src
            ),
            assign AS (
              SELECT d.doc_id, COALESCE(c.cid, d.doc_id) AS component_id
              FROM documents d LEFT JOIN comp c ON c.src = d.doc_id
            ),
            bg AS (
              SELECT doc_id, unnest(list_transform(
                generate_series(1, len(tokens) - 1),
                i -> tokens[i] || ' ' || tokens[i+1]
              )) AS g FROM tok WHERE len(tokens) >= 2
            ),
            bc AS (SELECT doc_id, g, count(*) AS c FROM bg GROUP BY doc_id, g),
            bstat AS (
              SELECT doc_id, max(c) AS top_c, sum(c) AS n_bg
              FROM bc GROUP BY doc_id
            ),
            t3 AS (
              SELECT doc_id, unnest(list_transform(
                generate_series(1, len(tokens) - 2),
                i -> tokens[i] || ' ' || tokens[i+1] || ' ' || tokens[i+2]
              )) AS g FROM tok WHERE len(tokens) >= 3
            ),
            tstat AS (
              SELECT doc_id, count(*) AS n_tg, count(DISTINCT g) AS d_tg
              FROM t3 GROUP BY doc_id
            ),
            g8 AS (
              SELECT doc_id, unnest(list_transform(
                generate_series(1, len(tokens) - 7),
                i -> tokens[i] || ' ' || tokens[i+1] || ' ' || tokens[i+2]
                  || ' ' || tokens[i+3] || ' ' || tokens[i+4] || ' '
                  || tokens[i+5] || ' ' || tokens[i+6] || ' ' || tokens[i+7]
              )) AS g FROM tok WHERE len(tokens) >= 8
            ),
            g8d AS (SELECT g, count(DISTINCT doc_id) AS nd FROM g8 GROUP BY g),
            dup AS (
              SELECT doc_id,
                     CAST(floor(CAST(sum(CASE WHEN nd >= 2 THEN 1 ELSE 0 END)
                          AS DOUBLE) * 1000000 / count(*)) AS BIGINT) AS dup_ppm
              FROM g8 JOIN g8d USING (g) GROUP BY doc_id
            ),
            uw AS (SELECT doc_id, unnest(tokens) AS w FROM tok),
            utot AS (SELECT count(*) AS t FROM uw),
            uc AS (SELECT w, count(*) AS c FROM uw GROUP BY w),
            lp AS (
              SELECT doc_id,
                     CAST(floor(sum(ln(CAST(utot.t AS DOUBLE) / uc.c)) * 1000
                          / count(*)) AS BIGINT) AS nll_milli
              FROM uw JOIN uc USING (w), utot GROUP BY doc_id
            ),
            scored AS (
              SELECT a.doc_id, a.component_id,
                CASE
                  WHEN len(t.tokens) < 20 THEN 'short'
                  WHEN (
                    COALESCE(CAST(floor(bs.top_c * 1000000.0 / bs.n_bg)
                      AS BIGINT), 0) > 180000
                    OR COALESCE(CAST(floor((ts.n_tg - ts.d_tg) * 1000000.0
                      / ts.n_tg) AS BIGINT), 0) > 300000
                  ) THEN 'repetitive'
                  WHEN COALESCE(dup.dup_ppm, 0) >= {_DUP_SPAN_PPM_MAX}
                    THEN 'dup_span'
                  WHEN COALESCE(lp.nll_milli, 0) < {_NLL_MILLI_MIN}
                    OR COALESCE(lp.nll_milli, 0) > {_NLL_MILLI_MAX}
                    THEN 'perplexity'{q_arm}
                END AS drop_reason
              FROM assign a
              JOIN tok t USING (doc_id)
              LEFT JOIN bstat bs USING (doc_id)
              LEFT JOIN tstat ts USING (doc_id)
              LEFT JOIN dup USING (doc_id)
              LEFT JOIN lp USING (doc_id){q_join}
            ),
            surv AS (
              SELECT component_id, min(doc_id) AS survivor
              FROM scored WHERE drop_reason IS NULL GROUP BY component_id
            )"""


_SQL_CURATION_CTES = _sql_curation_ctes()

_SQL_CURATION_FINAL = """SELECT s.doc_id, s.component_id,
                   (s.drop_reason IS NULL AND s.doc_id = surv.survivor) AS keep,
                   COALESCE(s.drop_reason,
                     CASE WHEN s.doc_id <> surv.survivor THEN 'duplicate' END)
                     AS drop_reason
            FROM scored s LEFT JOIN surv USING (component_id)"""

def registry() -> dict[str, tuple[Plan, str]]:
    """The contract, declared once: query name -> (Spark plan, DuckDB twin
    SQL). ``queries()`` and ``oracle_sql()`` are projections of it."""
    return {
        "top_words": (q_top_words, f"""
            WITH t AS (SELECT {_SQL_TOKENS} AS tokens FROM documents),
            f AS (SELECT unnest(tokens) AS word FROM t WHERE len(tokens) >= 20)
            SELECT word, count(*) AS cnt FROM f
            WHERE word NOT IN ({_SQL_STOPLIST})
            GROUP BY word ORDER BY cnt DESC, word ASC LIMIT 50
        """),
        "longest_doc": (q_longest_doc, f"""
            WITH t AS (SELECT doc_id, len({_SQL_TOKENS}) AS word_count FROM documents)
            SELECT doc_id, word_count FROM t WHERE word_count >= 20
            ORDER BY word_count DESC, doc_id ASC LIMIT 1
        """),
        "unique_docs": (
            q_unique_docs,
            "SELECT count(DISTINCT doc_id) AS unique_pages FROM documents",
        ),
        "source_histogram": (
            q_source_histogram,
            "SELECT source AS host, count(*) AS cnt FROM documents "
            "GROUP BY source ORDER BY source",
        ),
        "token_counts": (
            q_token_counts,
            f"SELECT doc_id, len({_SQL_TOKENS}) AS n_tokens FROM documents",
        ),
        # positional inverted index: postings + dictionary. DuckDB's
        # parallel-unnest zip (tokens[i] with i from range) reproduces
        # posexplode; i-1 matches Spark's 0-based pos. cf CAST guards the
        # HUGEINT sum lint.
        "inverted_index": (q_inverted_index, f"""
            WITH tok AS (
              SELECT doc_id, {_SQL_TOKENS} AS tokens FROM documents
            ),
            px AS (
              SELECT doc_id, tokens[i] AS term, i - 1 AS pos
              FROM tok,
                   LATERAL (SELECT unnest(range(1, len(tokens) + 1)) AS i) u
            ),
            post AS (
              SELECT term, doc_id, count(*) AS tf,
                     array_to_string(list_sort(list(pos)), ',') AS positions
              FROM px GROUP BY term, doc_id
            ),
            dict AS (
              SELECT term, count(*) AS df, CAST(sum(tf) AS BIGINT) AS cf
              FROM post GROUP BY term
            )
            SELECT p.term, d.df, d.cf, p.doc_id, p.tf, p.positions
            FROM post p JOIN dict d USING (term)
        """),
        # exact-phrase search: consecutive-position joins over the token
        # stream (the SQL twin of phrase_hits' posting-list joins;
        # overlapping matches all count)
        "phrase_search": (q_phrase_search, f"""
            WITH tok AS (
              SELECT doc_id, {_SQL_TOKENS} AS tokens FROM documents
            ),
            px AS (
              SELECT doc_id, tokens[i] AS w, i - 1 AS pos
              FROM tok,
                   LATERAL (SELECT unnest(range(1, len(tokens) + 1)) AS i) u
            ),
            tri AS (
              SELECT 'slow hash batch' AS phrase, a.doc_id,
                     a.pos AS start_pos
              FROM px a
              JOIN px b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
                        AND b.w = 'hash'
              JOIN px c ON c.doc_id = a.doc_id AND c.pos = a.pos + 2
                        AND c.w = 'batch'
              WHERE a.w = 'slow'
            ),
            bi AS (
              SELECT 'row column' AS phrase, a.doc_id, a.pos AS start_pos
              FROM px a
              JOIN px b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
                        AND b.w = 'column'
              WHERE a.w = 'row'
            )
            SELECT phrase, doc_id, start_pos FROM tri
            UNION ALL
            SELECT phrase, doc_id, start_pos FROM bi
        """),
        # top-50 collocations by all-integer lift (count-space PMI core:
        # PMI = log2(lift), log is monotone so the ranking is identical
        # and no engine takes a logarithm)
        "collocations": (q_collocations, f"""
            WITH tok AS (
              SELECT doc_id, {_SQL_TOKENS} AS tokens FROM documents
            ),
            pr AS (
              SELECT tokens[i] AS w1, tokens[i + 1] AS w2
              FROM tok,
                   LATERAL (SELECT unnest(range(1, len(tokens))) AS i) u
            ),
            uni AS (
              SELECT w, count(*) AS n_w
              FROM (SELECT unnest(tokens) AS w FROM tok) GROUP BY w
            ),
            n AS (SELECT count(*) AS _N FROM pr),
            pc AS (
              SELECT w1, w2, count(*) AS n_xy FROM pr
              GROUP BY w1, w2 HAVING count(*) >= 5
            )
            SELECT pc.w1, pc.w2, pc.n_xy,
                   u1.n_w AS n_x, u2.n_w AS n_y,
                   CAST((1000000 * pc.n_xy * n._N)
                        // (u1.n_w * u2.n_w) AS BIGINT) AS lift_ppm
            FROM pc
            CROSS JOIN n
            JOIN uni u1 ON u1.w = pc.w1
            JOIN uni u2 ON u2.w = pc.w2
            ORDER BY lift_ppm DESC, pc.w1, pc.w2
            LIMIT 50
        """),
        # exact nearest-rank percentiles off a value histogram; ceil via
        # (n*p + 99) // 100 (positive operands: floor == trunc); casts guard the HUGEINT window sums
        "value_percentiles": (q_value_percentiles, """
            WITH q AS (
              SELECT event_type,
                     CAST(floor(value * 100 + 0.5) AS BIGINT) AS v
              FROM events WHERE value IS NOT NULL
            ),
            h AS (
              SELECT event_type, v, count(*) AS cnt FROM q GROUP BY 1, 2
            ),
            c AS (
              SELECT event_type, v,
                     sum(cnt) OVER (
                       PARTITION BY event_type ORDER BY v
                     ) AS cum,
                     sum(cnt) OVER (PARTITION BY event_type) AS n
              FROM h
            )
            SELECT event_type,
                   CAST(max(n) AS BIGINT) AS n,
                   min(CASE WHEN cum >= (n * 50 + 99) // 100 THEN v END)
                     AS p50,
                   min(CASE WHEN cum >= (n * 95 + 99) // 100 THEN v END)
                     AS p95,
                   min(CASE WHEN cum >= (n * 99 + 99) // 100 THEN v END)
                     AS p99
            FROM c GROUP BY event_type
        """),
        "quality_scores": (q_quality_scores, f"""
            WITH t AS (
              SELECT doc_id, text, {_SQL_TOKENS} AS tokens FROM documents
            )
            SELECT doc_id,
                   len(tokens) AS n_tokens,
                   length(text) AS n_chars,
                   CAST(floor((length(text) - length(regexp_replace(text,
                        '[.,;:!?''"()-]', '', 'g'))) * 1000000.0
                        / greatest(length(text), 1)) AS BIGINT) AS punct_ppm,
                   CAST(floor(len(list_filter(tokens, t -> t IN
                        ({", ".join(f"'{w}'" for w in sorted(STOPWORDS))})))
                        * 1000000.0 / greatest(len(tokens), 1)) AS BIGINT)
                        AS stopword_ppm,
                   len(tokens) >= 20 AS quality_ok
            FROM t
        """),
        "langid": (q_langid, f"""
            WITH t AS (SELECT doc_id, {_SQL_TOKENS} AS tokens FROM documents),
            s AS (
              SELECT doc_id,
                {" , ".join(
                    f"len(list_filter(tokens, t -> t IN ({', '.join(repr(m) for m in markers)}))) AS s_{lang}"
                    for lang, markers in LANG_MARKERS.items() if markers
                )}
              FROM t
            )
            SELECT doc_id,
                   CASE WHEN s_en >= s_es AND s_en >= s_fr AND s_en >= s_de THEN 'en'
                        WHEN s_es >= s_fr AND s_es >= s_de THEN 'es'
                        WHEN s_fr >= s_de THEN 'fr'
                        ELSE 'de' END AS lang_pred
            FROM s
        """),
        "langid_ngram": (q_langid_ngram, _langid_ngram_oracle()),
        "quality_model": (q_quality_model, f"""
            WITH {_sql_quality_wt_ctes()}
            SELECT doc_id, n_tokens, score_sum,
                   score_sum >= 0 AS quality_pass
            FROM qdoc
        """),
        "curation_quality_gate": (q_curation_quality_gate, f"""
            WITH RECURSIVE {_sql_curation_ctes(quality_gate=True)}
            {_SQL_CURATION_FINAL}
        """),
        "fingerprints": (
            q_fingerprints,
            f"SELECT doc_id, md5(array_to_string({_SQL_TOKENS}, ' ')) AS fingerprint "
            "FROM documents",
        ),
        "exact_dup_groups": (q_exact_dup_groups, """
            WITH u AS (
              SELECT doc_id, text FROM documents
              UNION ALL
              SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 5 = 0
            )
            SELECT md5(text) AS checksum, count(*) AS dup_count,
                   min(doc_id) AS canonical_id
            FROM u GROUP BY md5(text) HAVING count(*) > 1
        """),
        "ngram_jaccard_pairs": (q_ngram_jaccard_pairs, f"""
            WITH tok AS (SELECT doc_id, {_SQL_TOKENS} AS tokens FROM documents),
            sh AS (
              SELECT doc_id,
                     CASE WHEN len(tokens) >= 3 THEN list_distinct(
                       list_transform(generate_series(1, len(tokens) - 2),
                         i -> tokens[i] || ' ' || tokens[i+1] || ' ' || tokens[i+2]))
                     ELSE [] END AS sh
              FROM tok
            ),
            sizes AS (SELECT doc_id, len(sh) AS n_sh FROM sh),
            ex AS (SELECT doc_id, unnest(sh) AS g FROM sh),
            ov AS (
              SELECT a.doc_id, b.doc_id AS doc_id2, count(*) AS common
              FROM ex a JOIN ex b USING (g) WHERE a.doc_id < b.doc_id
              GROUP BY a.doc_id, b.doc_id
            )
            SELECT ov.doc_id, ov.doc_id2, ov.common,
                   CAST(floor(ov.common * 1000000.0
                        / (s1.n_sh + s2.n_sh - ov.common)) AS BIGINT) AS jaccard_ppm
            FROM ov
            JOIN sizes s1 ON s1.doc_id = ov.doc_id
            JOIN sizes s2 ON s2.doc_id = ov.doc_id2
            WHERE floor(ov.common * 1000000.0 / (s1.n_sh + s2.n_sh - ov.common))
                  >= 300000
        """),
        "dedup_components": (q_dedup_components, """
            WITH RECURSIVE raw AS (
              SELECT d.doc_id AS a, d.doc_id + 1 AS b
              FROM documents d JOIN documents e ON e.doc_id = d.doc_id + 1
              WHERE d.doc_id % 10 < 3
              UNION ALL
              SELECT d.doc_id, d.doc_id + 10
              FROM documents d JOIN documents e ON e.doc_id = d.doc_id + 10
              WHERE d.doc_id % 40 = 0
            ),
            edges AS (SELECT a, b FROM raw UNION SELECT b, a FROM raw),
            reach(src, dst) AS (
              SELECT a, b FROM edges
              UNION
              SELECT r.src, e.b FROM reach r JOIN edges e ON e.a = r.dst
            ),
            comp AS (
              SELECT src, least(src, min(dst)) AS cid FROM reach GROUP BY src
            )
            SELECT d.doc_id, COALESCE(c.cid, d.doc_id) AS component_id
            FROM documents d LEFT JOIN comp c ON c.src = d.doc_id
        """),
        "repetition_scores": (q_repetition_scores, f"""
            WITH tok AS (SELECT doc_id, {_SQL_TOKENS} AS t FROM documents),
            b AS (
              SELECT doc_id, unnest(list_transform(
                generate_series(1, len(t) - 1), i -> t[i] || ' ' || t[i+1]
              )) AS g FROM tok WHERE len(t) >= 2
            ),
            bc AS (SELECT doc_id, g, count(*) AS c FROM b GROUP BY doc_id, g),
            bstat AS (
              SELECT doc_id, max(c) AS top_c, sum(c) AS n_bg
              FROM bc GROUP BY doc_id
            ),
            t3 AS (
              SELECT doc_id, unnest(list_transform(
                generate_series(1, len(t) - 2),
                i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]
              )) AS g FROM tok WHERE len(t) >= 3
            ),
            tstat AS (
              SELECT doc_id, count(*) AS n_tg, count(DISTINCT g) AS d_tg
              FROM t3 GROUP BY doc_id
            ),
            ppm AS (
              SELECT d.doc_id,
                COALESCE(CAST(floor(top_c * 1000000.0 / n_bg) AS BIGINT), 0)
                  AS top_bigram_ppm,
                COALESCE(CAST(floor((n_tg - d_tg) * 1000000.0 / n_tg)
                  AS BIGINT), 0) AS dup_trigram_ppm
              FROM documents d
              LEFT JOIN bstat USING (doc_id) LEFT JOIN tstat USING (doc_id)
            )
            SELECT doc_id, top_bigram_ppm, dup_trigram_ppm,
                   (top_bigram_ppm > 180000 OR dup_trigram_ppm > 300000)
                     AS repetitive
            FROM ppm
        """),
        "curation_pipeline": (q_curation_pipeline, f"""
            WITH RECURSIVE tok AS (
              SELECT doc_id, {_SQL_TOKENS} AS tokens FROM documents
            ),
            sh AS (
              SELECT doc_id,
                     CASE WHEN len(tokens) >= 3 THEN list_distinct(
                       list_transform(generate_series(1, len(tokens) - 2),
                         i -> tokens[i] || ' ' || tokens[i+1] || ' ' || tokens[i+2]))
                     ELSE [] END AS sh
              FROM tok
            ),
            sizes AS (SELECT doc_id, len(sh) AS n_sh FROM sh),
            ex AS (SELECT doc_id, unnest(sh) AS g FROM sh),
            ov AS (
              SELECT a.doc_id AS a, b.doc_id AS b, count(*) AS common
              FROM ex a JOIN ex b USING (g) WHERE a.doc_id < b.doc_id
              GROUP BY a.doc_id, b.doc_id
            ),
            pairs AS (
              SELECT ov.a, ov.b FROM ov
              JOIN sizes s1 ON s1.doc_id = ov.a
              JOIN sizes s2 ON s2.doc_id = ov.b
              WHERE floor(ov.common * 1000000.0
                          / (s1.n_sh + s2.n_sh - ov.common)) >= 300000
            ),
            edges AS (SELECT a, b FROM pairs UNION SELECT b, a FROM pairs),
            reach(src, dst) AS (
              SELECT a, b FROM edges
              UNION
              SELECT r.src, e.b FROM reach r JOIN edges e ON e.a = r.dst
            ),
            comp AS (
              SELECT src, least(src, min(dst)) AS cid FROM reach GROUP BY src
            ),
            assign AS (
              SELECT d.doc_id, COALESCE(c.cid, d.doc_id) AS component_id
              FROM documents d LEFT JOIN comp c ON c.src = d.doc_id
            ),
            bg AS (
              SELECT doc_id, unnest(list_transform(
                generate_series(1, len(tokens) - 1),
                i -> tokens[i] || ' ' || tokens[i+1]
              )) AS g FROM tok WHERE len(tokens) >= 2
            ),
            bc AS (SELECT doc_id, g, count(*) AS c FROM bg GROUP BY doc_id, g),
            bstat AS (
              SELECT doc_id, max(c) AS top_c, sum(c) AS n_bg
              FROM bc GROUP BY doc_id
            ),
            t3 AS (
              SELECT doc_id, unnest(list_transform(
                generate_series(1, len(tokens) - 2),
                i -> tokens[i] || ' ' || tokens[i+1] || ' ' || tokens[i+2]
              )) AS g FROM tok WHERE len(tokens) >= 3
            ),
            tstat AS (
              SELECT doc_id, count(*) AS n_tg, count(DISTINCT g) AS d_tg
              FROM t3 GROUP BY doc_id
            ),
            elig AS (
              SELECT t.doc_id,
                (len(t.tokens) >= 20 AND NOT (
                  COALESCE(CAST(floor(bs.top_c * 1000000.0 / bs.n_bg)
                    AS BIGINT), 0) > 180000
                  OR COALESCE(CAST(floor((ts.n_tg - ts.d_tg) * 1000000.0
                    / ts.n_tg) AS BIGINT), 0) > 300000
                )) AS eligible
              FROM tok t
              LEFT JOIN bstat bs USING (doc_id)
              LEFT JOIN tstat ts USING (doc_id)
            ),
            scored AS (
              SELECT a.doc_id, a.component_id, e.eligible
              FROM assign a JOIN elig e USING (doc_id)
            ),
            surv AS (
              SELECT component_id, min(doc_id) AS survivor
              FROM scored WHERE eligible GROUP BY component_id
            )
            SELECT s.doc_id, s.component_id, s.eligible,
                   (s.eligible AND s.doc_id = surv.survivor) AS keep
            FROM scored s LEFT JOIN surv USING (component_id)
        """),
        "pagerank": (q_pagerank, _pagerank_sql(5)),
        "anchor_text": (q_anchor_text, f"""
            WITH t AS (
              SELECT CAST(doc_id AS BIGINT) AS src, {_SQL_TOKENS} AS tokens
              FROM documents
            ),
            n AS (SELECT count(*) AS n_docs FROM t),
            e AS (
              SELECT src, (src * 31 + k) % n_docs AS dst,
                     array_to_string(tokens[k : k + 2], ' ') AS anchor
              FROM t, n, (SELECT unnest([1, 2, 3]) AS k) ks
              WHERE src != (src * 31 + k) % n_docs
            ),
            inl AS (SELECT dst AS doc_id, count(*) AS n_inlinks FROM e GROUP BY 1),
            tok AS (
              SELECT dst AS doc_id, unnest(string_split(anchor, ' ')) AS term
              FROM e
            ),
            cnt AS (
              SELECT doc_id, term, count(*) AS term_count
              FROM tok WHERE term != '' GROUP BY 1, 2
            ),
            rk AS (
              SELECT doc_id, term, term_count,
                     row_number() OVER (PARTITION BY doc_id
                       ORDER BY term_count DESC, term ASC) AS term_rank
              FROM cnt
            )
            SELECT r.doc_id, i.n_inlinks, r.term, r.term_count, r.term_rank
            FROM rk r JOIN inl i USING (doc_id) WHERE term_rank <= 3
        """),
        "bm25_search": (q_bm25_search, f"""
            WITH t AS (
              SELECT CAST(doc_id AS BIGINT) AS doc_id,
                     {_SQL_TOKENS} AS toks
              FROM documents
            ),
            dl AS (SELECT doc_id, len(toks) AS dl FROM t),
            s AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl),
            h AS (SELECT doc_id, unnest(toks) AS term FROM t),
            tf AS (
              SELECT doc_id, term, count(*) AS tf FROM h
              WHERE term IN ({", ".join(f"'{w}'" for w in _BM25_TERMS)})
              GROUP BY doc_id, term
            ),
            dfreq AS (
              SELECT term, count(DISTINCT doc_id) AS df FROM tf GROUP BY term
            ),
            sc AS (
              SELECT tf.doc_id, count(*) AS n_hits,
                     sum(
                       ln(1.0e0 + (s.n_docs - dfreq.df + 0.5e0)
                                  / (dfreq.df + 0.5e0))
                       * (tf.tf / (tf.tf + 1.2e0 * (1.0e0 - 0.75e0
                            + 0.75e0 * dl.dl / s.avgdl)))
                     ) AS score
              FROM tf
              JOIN dfreq USING (term)
              JOIN dl USING (doc_id), s
              GROUP BY tf.doc_id
            )
            SELECT doc_id, n_hits,
                   CAST(floor(score * 1000) AS BIGINT) AS score_milli
            FROM sc
            ORDER BY score_milli DESC, doc_id ASC LIMIT 20
        """),
        "dup_spans": (q_dup_spans, f"""
            WITH t AS (
              SELECT CAST(doc_id AS BIGINT) AS doc_id,
                     {_SQL_TOKENS} AS tokens
              FROM documents
            ),
            gr AS (
              SELECT doc_id, unnest(list_transform(
                generate_series(1, len(tokens) - 7),
                i -> tokens[i] || ' ' || tokens[i+1] || ' ' || tokens[i+2]
                  || ' ' || tokens[i+3] || ' ' || tokens[i+4] || ' '
                  || tokens[i+5] || ' ' || tokens[i+6] || ' ' || tokens[i+7]
              )) AS g FROM t WHERE len(tokens) >= 8
            ),
            d AS (SELECT g, count(DISTINCT doc_id) AS nd FROM gr GROUP BY g),
            p AS (
              SELECT doc_id, count(*) AS n_windows,
                     sum(CASE WHEN nd >= 2 THEN 1 ELSE 0 END) AS n_dup
              FROM gr JOIN d USING (g) GROUP BY doc_id
            )
            SELECT doc_id, n_windows,
                   CAST(floor(CAST(n_dup AS DOUBLE) * 1000000 / n_windows)
                        AS BIGINT) AS dup_ppm
            FROM p
        """),
        "bigram_logprob": (q_bigram_logprob, f"""
            WITH tk AS (
              SELECT CAST(doc_id AS BIGINT) AS doc_id, {_SQL_TOKENS} AS toks
              FROM documents
            ),
            t AS (SELECT doc_id, unnest(toks) AS w FROM tk),
            big AS (
              SELECT doc_id, toks[i] AS w1, toks[i + 1] AS w2
              FROM tk, LATERAL (
                SELECT unnest(range(1, len(toks))) AS i
              )
            ),
            tot AS (SELECT count(*) AS t FROM t),
            uni AS (SELECT w AS w2, count(*) AS c2 FROM t GROUP BY 1),
            c1 AS (SELECT w AS w1, count(*) AS c1 FROM t GROUP BY 1),
            cb AS (SELECT w1, w2, count(*) AS cb FROM big GROUP BY 1, 2),
            m AS (
              SELECT big.doc_id,
                     CAST(floor(-ln(
                       0.75 * (CAST(cb.cb AS DOUBLE) / CAST(c1.c1 AS DOUBLE))
                       + 0.25 * (CAST(uni.c2 AS DOUBLE)
                                 / CAST(tot.t AS DOUBLE))
                     ) * 1000) AS BIGINT) AS m
              FROM big
                JOIN cb USING (w1, w2)
                JOIN c1 USING (w1)
                JOIN uni USING (w2), tot
            )
            SELECT doc_id, count(*) AS n_bigrams,
                   CAST(sum(m) AS BIGINT) AS nll_milli_sum
            FROM m GROUP BY doc_id
        """),
        "unigram_logprob": (q_unigram_logprob, f"""
            WITH t AS (
              SELECT CAST(doc_id AS BIGINT) AS doc_id,
                     unnest({_SQL_TOKENS}) AS w
              FROM documents
            ),
            tot AS (SELECT count(*) AS t FROM t),
            c AS (SELECT w, count(*) AS c FROM t GROUP BY w),
            p AS (
              SELECT doc_id, count(*) AS n_tokens,
                     sum(ln(CAST(tot.t AS DOUBLE) / c.c)) AS nll
              FROM t JOIN c USING (w), tot GROUP BY doc_id
            )
            SELECT doc_id, n_tokens,
                   CAST(floor(nll * 1000 / n_tokens) AS BIGINT) AS nll_milli
            FROM p
        """),
        "curation_full": (q_curation_full, f"""
            WITH RECURSIVE {_SQL_CURATION_CTES}
            {_SQL_CURATION_FINAL}
        """),
        "stratified_sample": (
            q_stratified_sample,
            "WITH k AS (SELECT doc_id, source, "
            "substring(md5('sample:' || CAST(doc_id AS VARCHAR)), 1, 4) "
            "AS sample_key FROM documents) "
            "SELECT doc_id, source, sample_key FROM k WHERE sample_key < "
            + _SQL_SAMPLE_THRESHOLD,
        ),
        "decontamination": (q_decontamination, f"""
            WITH tok AS (SELECT doc_id, {_SQL_TOKENS} AS tokens FROM documents),
            sh AS (
              SELECT doc_id,
                     CASE WHEN len(tokens) >= 8 THEN list_distinct(
                       list_transform(generate_series(1, len(tokens) - 7),
                         i -> {" || ' ' || ".join(f"tokens[i+{j}]" for j in range(8)).replace("tokens[i+0]", "tokens[i]")}))
                     ELSE [] END AS sh
              FROM tok
            ),
            k AS (
              SELECT doc_id,
                     substring(md5('eval:' || CAST(doc_id AS VARCHAR)), 1, 4)
                       AS key
              FROM documents
            ),
            ex AS (SELECT doc_id, unnest(sh) AS g FROM sh),
            tr AS (
              SELECT ex.doc_id AS train_id, g FROM ex
              JOIN k USING (doc_id) WHERE key >= '0ccc'
            ),
            ev AS (
              SELECT ex.doc_id AS eval_id, g FROM ex
              JOIN k USING (doc_id) WHERE key < '0ccc'
            ),
            evs AS (SELECT eval_id, count(*) AS n_ev FROM ev GROUP BY eval_id),
            ov AS (
              SELECT train_id, eval_id, count(*) AS common
              FROM tr JOIN ev USING (g) GROUP BY train_id, eval_id
            )
            SELECT train_id, eval_id, common,
                   CAST(floor(common * 1000000.0 / n_ev) AS BIGINT)
                     AS containment_ppm
            FROM ov JOIN evs USING (eval_id)
            WHERE floor(common * 1000000.0 / n_ev) >= 200000
        """),
        "embedding_quantize": (q_embedding_quantize, """
            WITH ex AS (
              SELECT vec_id AS id,
                     generate_subscripts(embedding, 1) - 1 AS dim_idx,
                     CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1000000.0)
                          AS BIGINT) AS vm
              FROM embeddings
            ),
            s AS (SELECT id, max(abs(vm)) AS scale_micro FROM ex GROUP BY id)
            SELECT ex.id, ex.dim_idx,
                   CASE WHEN s.scale_micro = 0 THEN 0
                        ELSE CAST(floor(ex.vm * 127.0 / s.scale_micro)
                                  AS BIGINT) END AS q,
                   s.scale_micro
            FROM ex JOIN s USING (id)
        """),
        "source_quota": (q_source_quota, """
            WITH r AS (
              SELECT doc_id, source, n_chars,
                     row_number() OVER (
                       PARTITION BY source ORDER BY n_chars DESC, doc_id
                     ) AS quota_rank
              FROM documents
            )
            SELECT doc_id, source, n_chars, quota_rank
            FROM r WHERE quota_rank <= 5
        """),
        "length_deciles": (q_length_deciles, """
            WITH t AS (
              SELECT source AS stratum, n_chars AS v,
                     ntile(10) OVER (
                       PARTITION BY source ORDER BY n_chars, doc_id
                     ) AS tile
              FROM documents
            )
            SELECT stratum, tile, count(*) AS n_rows,
                   min(v) AS min_val, max(v) AS max_val
            FROM t GROUP BY stratum, tile
        """),
        "asof_latest_order": (q_asof_latest_order, """
            WITH r AS (
              SELECT o_custkey AS user_id, o_orderdate AS ots,
                     max(o_orderkey) AS o_orderkey,
                     arg_max(o_totalprice, o_orderkey) AS o_totalprice
              FROM orders GROUP BY 1, 2
            )
            SELECT e.event_id, e.user_id, epoch_us(e.ts) AS ts_us,
                   r.o_orderkey,
                   CAST(floor(r.o_totalprice * 100) AS BIGINT) AS total_cents
            FROM events e
            ASOF JOIN r ON e.user_id = r.user_id AND e.ts >= r.ots
        """),
        "range_window_rollup": (q_range_window_rollup, """
            WITH pts AS (
              SELECT user_id, epoch_us(ts) AS p, value FROM events
              WHERE event_type IN ('click', 'view')
            ),
            wins AS (
              SELECT user_id, event_id AS purchase_id, epoch_us(ts) AS s,
                     epoch_us(ts) + 7200000000 AS en
              FROM events WHERE event_type = 'purchase'
            )
            SELECT w.purchase_id, count(*) AS n_follow,
                   -- CAST: DuckDB's sum(BIGINT) is HUGEINT (int128); the
                   -- driver's normalizer renders HUGEINT differently from
                   -- Spark's BIGINT (this was round-3's one red row) ->
                   -- force BIGINT on the oracle side
                   CAST(sum(CAST(floor(pts.value * 1000) AS BIGINT))
                        AS BIGINT) AS value_milli
            FROM pts JOIN wins w
              ON pts.user_id = w.user_id AND pts.p >= w.s AND pts.p <= w.en
            GROUP BY 1
        """),
        "embedding_topk": (q_embedding_topk, """
            WITH e AS (SELECT vec_id,
                       list_transform(embedding, x -> floor(x::DOUBLE * 1000)) AS v
                       FROM embeddings),
            p AS (SELECT vec_id AS probe_id, v AS pv FROM e WHERE vec_id < 5),
            scored AS (
              SELECT probe_id, e.vec_id AS neighbor_id,
                     list_dot_product(pv, v)
                       / (sqrt(list_dot_product(pv, pv))
                          * sqrt(list_dot_product(v, v))) AS cos
              FROM p CROSS JOIN e WHERE probe_id != e.vec_id
            ),
            ranked AS (
              SELECT probe_id, neighbor_id,
                     CAST(floor(cos * 10000) AS BIGINT) AS cos_bp,
                     row_number() OVER (PARTITION BY probe_id
                                        ORDER BY cos DESC, neighbor_id ASC) AS rank
              FROM scored
            )
            SELECT probe_id, neighbor_id, cos_bp, rank FROM ranked WHERE rank <= 10
        """),
        "embedding_near_dups": (q_embedding_near_dups, """
            WITH e AS (SELECT vec_id,
                       list_transform(embedding, x -> floor(x::DOUBLE * 1000)) AS v
                       FROM embeddings)
            SELECT a.vec_id AS id, b.vec_id AS id2,
                   CAST(floor(list_dot_product(a.v, b.v)
                     / (sqrt(list_dot_product(a.v, a.v))
                        * sqrt(list_dot_product(b.v, b.v))) * 10000) AS BIGINT)
                     AS cos_bp
            FROM e a CROSS JOIN e b
            WHERE a.vec_id < b.vec_id
              AND floor(list_dot_product(a.v, b.v)
                    / (sqrt(list_dot_product(a.v, a.v))
                       * sqrt(list_dot_product(b.v, b.v))) * 10000) >= 3000
        """),
        "seen_anti_join": (q_seen_anti_join, f"""
            WITH u AS ({_SQL_SYNTH_URLS})
            SELECT doc_id, url FROM u
            WHERE NOT EXISTS (
              SELECT 1 FROM u s WHERE s.doc_id % 3 != 0 AND s.url = u.url
            )
            ORDER BY doc_id
        """),
        "first_seen": (q_first_seen, """
            SELECT o_custkey, o_orderkey AS first_order, o_orderdate AS first_date
            FROM (
              SELECT *, row_number() OVER (PARTITION BY o_custkey
                        ORDER BY o_orderdate, o_orderkey) AS rn
              FROM orders
            ) WHERE rn = 1
        """),
        "token_bucket_dequeue": (q_token_bucket_dequeue, """
            SELECT user_id, slot, event_id FROM (
              SELECT user_id, event_id,
                     row_number() OVER (PARTITION BY user_id
                                        ORDER BY ts, event_id) AS slot
              FROM events
            ) WHERE slot <= 3
        """),
        "revenue_rollup": (q_revenue_rollup, """
            SELECT n.n_name AS nation,
                   CAST(sum(o.o_totalprice::DECIMAL(18,2)) * 100 AS BIGINT)
                     AS revenue_cents,
                   count(*) AS n_orders
            FROM orders o
            JOIN customer c ON o.o_custkey = c.c_custkey
            JOIN nation n ON c.c_nationkey = n.n_nationkey
            GROUP BY n.n_name ORDER BY nation
        """),
        "events_histogram": (
            q_events_histogram,
            "SELECT event_type, count(*) AS cnt FROM events "
            "GROUP BY event_type ORDER BY event_type",
        ),
        "event_windows": (q_event_windows, """
            SELECT CAST(floor(epoch(date_trunc('hour', ts))) AS BIGINT)
                     AS hour_unix,
                   event_type, count(*) AS cnt,
                   CAST(sum(floor(value * 1000)) AS BIGINT) AS value_milli
            FROM events
            GROUP BY 1, 2 ORDER BY hour_unix, event_type
        """),
        "sessionize": (q_sessionize, """
            WITH g AS (
              SELECT user_id, event_id, ts,
                     floor(epoch(ts)) - lag(floor(epoch(ts))) OVER
                       (PARTITION BY user_id ORDER BY ts, event_id) AS gap
              FROM events
            )
            SELECT user_id, event_id,
                   -- CAST: DuckDB's windowed sum(CASE..) is HUGEINT; Spark's
                   -- is BIGINT, and the driver's normalizer renders them
                   -- differently -> force BIGINT on both sides
                   CAST(sum(CASE WHEN gap IS NULL OR gap > 1800 THEN 1 ELSE 0 END)
                     OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
            FROM g
        """),
        "url_seen_hash": (q_url_seen_hash, f"""
            WITH u AS ({_SQL_SYNTH_URLS})
            SELECT doc_id, url,
                   sha256(
                     CASE doc_id % 4 WHEN 0 THEN 'www.ics.uci.edu'
                                     WHEN 1 THEN 'www.cs.uci.edu'
                                     WHEN 2 THEN 'www.informatics.uci.edu'
                                     ELSE 'www.stat.uci.edu' END
                     || '/' ||
                     CASE doc_id % 6 WHEN 0 THEN '/papers/p' || doc_id
                                     WHEN 1 THEN '/slides/deck.pdf'
                                     WHEN 2 THEN '/events/day/2024-01-15'
                                     WHEN 3 THEN '/blog/page/500/'
                                     WHEN 4 THEN '/list/l' || doc_id
                                     ELSE '/wp-json/v' || doc_id END
                     || '//' ||
                     CASE WHEN doc_id % 6 = 4 THEN 'page=1000' ELSE '' END
                     || '/') AS url_hash
            FROM u
        """),
        "is_valid_filter": (q_is_valid, f"""
            WITH u AS ({_SQL_SYNTH_URLS})
            SELECT doc_id, url, doc_id % 6 = 0 AS valid FROM u
        """),
        "canonicalize": (q_canonicalize, f"""
            WITH u AS ({_SQL_SYNTH_URLS})
            SELECT doc_id,
                   CASE WHEN doc_id % 6 = 3
                        THEN substr(url, 1, length(url) - 1)
                        ELSE url END AS canon
            FROM u
        """),
        "robots_gate": (q_robots_gate, f"""
            WITH u AS ({_SQL_SYNTH_URLS}),
            parts AS (
              SELECT doc_id, url,
                CASE doc_id % 4 WHEN 0 THEN 'www.ics.uci.edu'
                                WHEN 1 THEN 'www.cs.uci.edu'
                                WHEN 2 THEN 'www.informatics.uci.edu'
                                ELSE 'www.stat.uci.edu' END AS host,
                CASE doc_id % 6 WHEN 0 THEN '/papers/p' || doc_id
                                WHEN 1 THEN '/slides/deck.pdf'
                                WHEN 2 THEN '/events/day/2024-01-15'
                                WHEN 3 THEN '/blog/page/500/'
                                WHEN 4 THEN '/list/l' || doc_id
                                ELSE '/wp-json/v' || doc_id END AS path
              FROM u
            ),
            r AS (
              SELECT * FROM (VALUES
                {", ".join(
                    f"('{h}', '{p}', {str(bool(a)).upper()}, '{rx}', {prio})"
                    for (h, p, a, rx, prio) in _robots_rule_rows()
                )}
              ) AS t(host, pattern, allow, regex, prio)
            ),
            m AS (
              SELECT parts.doc_id, arg_max(r.allow, r.prio) AS rule_allow
              FROM parts JOIN r
                ON r.host = parts.host
               AND regexp_matches(parts.path, r.regex)
              GROUP BY parts.doc_id
            )
            SELECT parts.doc_id, parts.url,
                   coalesce(m.rule_allow, TRUE) AS allowed
            FROM parts LEFT JOIN m USING (doc_id) ORDER BY doc_id
        """),
        "near_dup_flags": (q_near_dup_flags, f"""
            WITH tok AS (SELECT doc_id, {_SQL_TOKENS} AS tokens FROM documents),
            sh AS (
              SELECT doc_id,
                     CASE WHEN len(tokens) >= 3 THEN list_distinct(
                       list_transform(generate_series(1, len(tokens) - 2),
                         i -> tokens[i] || ' ' || tokens[i+1] || ' ' || tokens[i+2]))
                     ELSE [] END AS sh
              FROM tok
            ),
            sizes AS (SELECT doc_id, len(sh) AS n_sh FROM sh),
            ex AS (SELECT doc_id, unnest(sh) AS g FROM sh),
            flagged AS (
              SELECT DISTINCT b.doc_id
              FROM ex a JOIN ex b USING (g)
              JOIN sizes s1 ON s1.doc_id = b.doc_id
              JOIN sizes s2 ON s2.doc_id = a.doc_id
              WHERE a.doc_id < b.doc_id
              GROUP BY b.doc_id, a.doc_id, s1.n_sh, s2.n_sh
              HAVING count(*) * 1000000 >= 300000 * (s1.n_sh + s2.n_sh - count(*))
            )
            SELECT d.doc_id, f.doc_id IS NOT NULL AS is_near_dup
            FROM documents d LEFT JOIN flagged f ON d.doc_id = f.doc_id
            ORDER BY d.doc_id
        """),
        "subdomain_histogram": (q_subdomain_histogram, """
            WITH u AS (
              SELECT CASE doc_id % 4 WHEN 0 THEN 'www.ics.uci.edu'
                                     WHEN 1 THEN 'www.cs.uci.edu'
                                     WHEN 2 THEN 'www.informatics.uci.edu'
                                     ELSE 'www.stat.uci.edu' END AS host
              FROM documents
            )
            SELECT host, count(*) AS cnt FROM u
            WHERE ends_with(host, '.uci.edu')
            GROUP BY host ORDER BY host
        """),
        "media_metadata": (q_media_metadata, """
            SELECT doc_id, octet_length(encode(text)) AS n_bytes,
                   md5(text) AS content_md5,
                   upper(substr(hex(encode(text)), 1, 8)) AS magic_hex
            FROM documents
        """),
        "frame_sample": (q_frame_sample, """
            SELECT d.doc_id AS id, f.i AS frame_idx, f.i * 64 AS offset,
                   md5(substr(d.text, f.i * 64 + 1, 64)) AS frame_md5
            FROM documents d
            CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS i) f
            WHERE f.i * 64 < octet_length(encode(d.text))
        """),
        "decode_features": (q_decode_features, """
            WITH b AS (
              SELECT doc_id AS id,
                     octet_length(encode(text)) AS n_bytes,
                     md5(text) AS h
              FROM documents
            ),
            e AS (
              SELECT id, n_bytes, i.i AS dim_idx,
                     ('0x' || substr(h, i.i * 2 + 1, 2))::BIGINT AS byte
              FROM b CROSS JOIN (SELECT unnest(range(8)) AS i) i
            )
            SELECT id, n_bytes, 'stub-md5' AS decoder, dim_idx,
                   CAST(floor(byte * 1000000.0 / 256) AS BIGINT) AS value_micro
            FROM e
        """),
        # minhash_lsh_pairs emits the exact-verified candidate set, which
        # equals the exact shingle-Jaccard pair set at tau (LSH recall is 1
        # on this corpus; the containment property is pytest-gated).
        "minhash_lsh_pairs": (q_minhash_lsh_pairs, f"""
            WITH tok AS (SELECT doc_id, {_SQL_TOKENS} AS tokens FROM documents),
            sh AS (
              SELECT doc_id,
                     CASE WHEN len(tokens) >= 3 THEN list_distinct(
                       list_transform(generate_series(1, len(tokens) - 2),
                         i -> tokens[i] || ' ' || tokens[i+1] || ' ' || tokens[i+2]))
                     ELSE [] END AS sh
              FROM tok
            ),
            sizes AS (SELECT doc_id, len(sh) AS n_sh FROM sh),
            ex AS (SELECT doc_id, unnest(sh) AS g FROM sh),
            ov AS (
              SELECT a.doc_id AS id, b.doc_id AS id2, count(*) AS common
              FROM ex a JOIN ex b USING (g) WHERE a.doc_id < b.doc_id
              GROUP BY a.doc_id, b.doc_id
            )
            SELECT ov.id, ov.id2,
                   CAST(floor(ov.common * 1000000.0
                        / (s1.n_sh + s2.n_sh - ov.common)) AS BIGINT) AS jaccard_ppm
            FROM ov
            JOIN sizes s1 ON s1.doc_id = ov.id
            JOIN sizes s2 ON s2.doc_id = ov.id2
            WHERE floor(ov.common * 1000000.0 / (s1.n_sh + s2.n_sh - ov.common))
                  >= 300000
        """),
        # simhash_pairs: recompute the md5-scheme simhash bit grid in SQL
        # (bit j of hash(t) = (nibble(16 - j//4) >> (j%4)) & 1 over
        # md5(t)[:16]) and take exact hamming over all pairs — the Spark
        # side's pigeonhole blocking is lossless, so the sets are equal.
        "simhash_pairs": (q_simhash_pairs, f"""
            WITH tok AS (
              SELECT doc_id, unnest({_SQL_TOKENS}) AS w FROM documents
            ),
            tw AS (SELECT doc_id, w, count(*) AS cnt FROM tok GROUP BY doc_id, w),
            th AS (SELECT doc_id, cnt, substr(md5(w), 1, 16) AS h FROM tw),
            tot AS (SELECT doc_id, sum(cnt) AS n FROM th GROUP BY doc_id),
            bitsum AS (
              SELECT th.doc_id, j.j AS j,
                     sum(cnt * (((strpos('0123456789abcdef',
                                         substr(h, 16 - (j.j // 4), 1)) - 1)
                                 >> (j.j % 4)) & 1)) AS ones
              FROM th CROSS JOIN (SELECT unnest(range(64)) AS j) j
              GROUP BY th.doc_id, j.j
            ),
            bit AS (
              SELECT b.doc_id, b.j,
                     CASE WHEN 2 * b.ones > t.n THEN 1 ELSE 0 END AS bit
              FROM bitsum b JOIN tot t USING (doc_id)
            ),
            pairs AS (
              SELECT a.doc_id AS id, b.doc_id AS id2,
                     sum(CASE WHEN a.bit != b.bit THEN 1 ELSE 0 END) AS hamming
              FROM bit a JOIN bit b ON a.j = b.j AND a.doc_id < b.doc_id
              GROUP BY a.doc_id, b.doc_id
            )
            SELECT id, id2, CAST(hamming AS BIGINT) AS hamming
            FROM pairs WHERE hamming <= 8
        """),
        # ann_lsh: the full ANN pipeline replayed in SQL — identical integer
        # hyperplanes (inlined), identical bucket codes, identical candidate
        # join, identical exact re-rank.
        "ann_lsh": (q_ann_lsh, f"""
            WITH e AS (
              SELECT vec_id,
                     list_transform(embedding, x -> floor(x::DOUBLE * 1000)) AS v
              FROM embeddings
            ),
            planes(table_idx, plane_idx, w) AS (VALUES
              {_ann_planes_values_sql()}
            ),
            codes AS (
              SELECT vec_id, table_idx,
                     CAST(sum(CASE WHEN list_dot_product(v, w) > 0
                              THEN power(2, plane_idx) ELSE 0 END) AS BIGINT)
                       AS bucket
              FROM e CROSS JOIN planes GROUP BY vec_id, table_idx
            ),
            p AS (SELECT * FROM codes WHERE vec_id < 5),
            cand AS (
              SELECT DISTINCT p.vec_id AS probe_id, c.vec_id AS neighbor_id
              FROM p JOIN codes c USING (table_idx, bucket)
              WHERE p.vec_id != c.vec_id
            ),
            scored AS (
              SELECT probe_id, neighbor_id,
                     list_dot_product(pe.v, ne.v)
                       / (sqrt(list_dot_product(pe.v, pe.v))
                          * sqrt(list_dot_product(ne.v, ne.v))) AS cos
              FROM cand
              JOIN e pe ON pe.vec_id = cand.probe_id
              JOIN e ne ON ne.vec_id = cand.neighbor_id
            ),
            ranked AS (
              SELECT probe_id, neighbor_id,
                     CAST(floor(cos * 10000) AS BIGINT) AS cos_bp,
                     row_number() OVER (PARTITION BY probe_id
                                        ORDER BY cos DESC, neighbor_id ASC) AS rank
              FROM scored
            )
            SELECT probe_id, neighbor_id, cos_bp, rank FROM ranked WHERE rank <= 10
        """),
        "crawl_budget": (q_crawl_budget, """
            WITH w AS (
              SELECT source AS domain, CAST(sum(n_chars) AS BIGINT) AS weight
              FROM documents GROUP BY 1
            ),
            tot AS (SELECT CAST(sum(weight) AS BIGINT) AS W FROM w),
            b AS (
              SELECT domain, weight,
                     (weight * 100000) // W AS base,
                     (weight * 100000) % W AS rem
              FROM w, tot
            ),
            r AS (SELECT 100000 - CAST(sum(base) AS BIGINT) AS leftover FROM b),
            rk AS (
              SELECT domain, weight, base, rem,
                     row_number() OVER (ORDER BY rem DESC, domain ASC) AS rk
              FROM b
            )
            SELECT domain, weight,
                   CAST(base + CASE WHEN rk <= leftover THEN 1 ELSE 0 END
                        AS BIGINT) AS budget
            FROM rk, r
        """),
        "paragraph_dedup": (q_paragraph_dedup, """
            WITH t AS (
              SELECT CAST(doc_id AS BIGINT) AS doc_id,
                     string_split(text, ' ') AS toks,
                     3 + CAST(doc_id AS BIGINT) % 3 AS k
              FROM documents
            ),
            p AS (
              SELECT doc_id, g AS pos,
                     array_to_string(toks[(g*k)+1 : (g+1)*k], ' ') AS para
              FROM t, LATERAL (
                SELECT unnest(range(0,
                  CAST(ceil(len(toks)::DOUBLE / k) AS BIGINT))) AS g
              )
            ),
            pp AS (SELECT * FROM p WHERE para != ''),
            fo AS (
              SELECT doc_id, pos, para,
                     row_number() OVER (PARTITION BY para
                                        ORDER BY doc_id, pos) AS rn
              FROM pp
            ),
            keep AS (SELECT doc_id, pos, para FROM fo WHERE rn = 1),
            reb AS (
              SELECT doc_id, count(*) AS n_kept,
                     md5(string_agg(para, chr(10) || chr(10) ORDER BY pos))
                       AS kept_md5
              FROM keep GROUP BY doc_id
            ),
            tot AS (SELECT doc_id, count(*) AS n_paras FROM pp GROUP BY doc_id)
            SELECT tot.doc_id, tot.n_paras,
                   CAST(coalesce(reb.n_kept, 0) AS BIGINT) AS n_kept,
                   reb.kept_md5
            FROM tot LEFT JOIN reb USING (doc_id)
        """),
        "semdedup": (q_semdedup, f"""
            WITH e AS (
              SELECT vec_id,
                     list_transform(embedding, x -> floor(x::DOUBLE * 1000)) AS v
              FROM embeddings
            ),
            c0 AS (
              SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, v AS cv
              FROM (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT 8)
            ),{_sql_lloyd_iteration(1, 64)},{_sql_lloyd_iteration(2, 64)},
            asg AS (
              SELECT vec_id, v, cell FROM (
                SELECT e.vec_id, e.v, c2.cid AS cell,
                       row_number() OVER (PARTITION BY e.vec_id ORDER BY
                         list_dot_product(e.v, c2.cv)
                           / (sqrt(list_dot_product(e.v, e.v))
                              * sqrt(list_dot_product(c2.cv, c2.cv))) DESC,
                         c2.cid ASC) AS rn
                FROM e CROSS JOIN c2
              ) WHERE rn = 1
            ),
            pr AS (
              SELECT a.vec_id,
                     b.vec_id AS b_id,
                     CAST(floor(list_dot_product(a.v, b.v)
                       / (sqrt(list_dot_product(a.v, a.v))
                          * sqrt(list_dot_product(b.v, b.v))) * 10000)
                       AS BIGINT) AS bp
              FROM asg a JOIN asg b
                ON a.cell = b.cell AND b.vec_id < a.vec_id
            ),
            wit AS (
              SELECT vec_id, min(b_id) AS dup_of,
                     CAST(min_by(bp, b_id) AS BIGINT) AS cos_bp
              FROM pr WHERE bp >= 2500 GROUP BY vec_id
            )
            SELECT asg.vec_id, asg.cell,
                   wit.dup_of IS NULL AS kept, wit.dup_of, wit.cos_bp
            FROM asg LEFT JOIN wit USING (vec_id)
        """),
        "ann_ivf_trained": (q_ann_ivf_trained, f"""
            WITH e AS (
              SELECT vec_id,
                     list_transform(embedding, x -> floor(x::DOUBLE * 1000)) AS v
              FROM embeddings
            ),
            c0 AS (
              SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, v AS cv
              FROM (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT 16)
            ),{_sql_lloyd_iteration(1, 64)},{_sql_lloyd_iteration(2, 64)},
            cells AS (
              SELECT vec_id AS neighbor_id, v AS nv, cell FROM (
                SELECT e.vec_id, e.v, c2.cid AS cell,
                       row_number() OVER (PARTITION BY e.vec_id ORDER BY
                         list_dot_product(e.v, c2.cv)
                           / (sqrt(list_dot_product(e.v, e.v))
                              * sqrt(list_dot_product(c2.cv, c2.cv))) DESC,
                         c2.cid ASC) AS rn
                FROM e CROSS JOIN c2
              ) WHERE rn = 1
            ),
            p AS (SELECT vec_id AS probe_id, v AS pv FROM e WHERE vec_id < 5),
            pcells AS (
              SELECT probe_id, pv, cid AS cell FROM (
                SELECT probe_id, pv, cid,
                       row_number() OVER (PARTITION BY probe_id ORDER BY
                         list_dot_product(pv, cv)
                           / (sqrt(list_dot_product(pv, pv))
                              * sqrt(list_dot_product(cv, cv))) DESC,
                         cid ASC) AS rn
                FROM p CROSS JOIN c2
              ) WHERE rn <= 8
            ),
            cands AS (
              SELECT probe_id, neighbor_id,
                     list_dot_product(pv, nv)
                       / (sqrt(list_dot_product(pv, pv))
                          * sqrt(list_dot_product(nv, nv))) AS cos
              FROM pcells JOIN cells USING (cell)
              WHERE probe_id != neighbor_id
            ),
            ranked AS (
              SELECT probe_id, neighbor_id,
                     CAST(floor(cos * 10000) AS BIGINT) AS cos_bp,
                     row_number() OVER (PARTITION BY probe_id
                                        ORDER BY cos DESC, neighbor_id ASC) AS rank
              FROM cands
            )
            SELECT probe_id, neighbor_id, cos_bp, rank FROM ranked WHERE rank <= 10
        """),
        "ann_ivf": (q_ann_ivf, """
            WITH e AS (
              SELECT vec_id,
                     list_transform(embedding, x -> floor(x::DOUBLE * 1000)) AS v
              FROM embeddings
            ),
            c AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 16),
            assign AS (
              SELECT vec_id AS neighbor_id, v AS nv, cid,
                     row_number() OVER (PARTITION BY vec_id ORDER BY
                       list_dot_product(v, cv)
                         / (sqrt(list_dot_product(v, v))
                            * sqrt(list_dot_product(cv, cv))) DESC,
                       cid ASC) AS rn
              FROM e CROSS JOIN c
            ),
            cells AS (SELECT neighbor_id, nv, cid AS cell FROM assign WHERE rn = 1),
            p AS (SELECT vec_id AS probe_id, v AS pv FROM e WHERE vec_id < 5),
            pcells AS (
              SELECT probe_id, pv, cid AS cell FROM (
                SELECT probe_id, pv, cid,
                       row_number() OVER (PARTITION BY probe_id ORDER BY
                         list_dot_product(pv, cv)
                           / (sqrt(list_dot_product(pv, pv))
                              * sqrt(list_dot_product(cv, cv))) DESC,
                         cid ASC) AS rn
                FROM p CROSS JOIN c
              ) WHERE rn <= 8
            ),
            cands AS (
              SELECT probe_id, neighbor_id,
                     list_dot_product(pv, nv)
                       / (sqrt(list_dot_product(pv, pv))
                          * sqrt(list_dot_product(nv, nv))) AS cos
              FROM pcells JOIN cells USING (cell)
              WHERE probe_id != neighbor_id
            ),
            ranked AS (
              SELECT probe_id, neighbor_id,
                     CAST(floor(cos * 10000) AS BIGINT) AS cos_bp,
                     row_number() OVER (PARTITION BY probe_id
                                        ORDER BY cos DESC, neighbor_id ASC) AS rank
              FROM cands
            )
            SELECT probe_id, neighbor_id, cos_bp, rank FROM ranked WHERE rank <= 10
        """),
        # the schedule recomputed straight from the table: day-precision
        # lastmod vs synthetic fetch seconds, integer age bonuses
        "recrawl_schedule": (q_recrawl_schedule, """
            WITH c AS (
              SELECT 'https://' || source || '/doc/'
                       || CAST(doc_id AS VARCHAR) || '?a=1&b=2' AS url,
                     CASE WHEN doc_id % 3 = 0 THEN '2024-01-'
                       || lpad(CAST(doc_id % 28 + 1 AS VARCHAR), 2, '0')
                     END AS lastmod,
                     CASE WHEN doc_id % 4 = 0 THEN 500
                          ELSE (doc_id % 10) * 100 END AS pm,
                     doc_id
              FROM documents
            ), j AS (
              SELECT url, lastmod, pm,
                     CASE WHEN doc_id % 2 = 0
                          THEN 1704067200 + doc_id * 1000 END AS fetched
              FROM c
            )
            SELECT url,
                   CASE WHEN fetched IS NULL THEN 'new'
                        ELSE 'changed' END AS reason,
                   pm AS priority_milli,
                   CAST(CASE WHEN fetched IS NULL THEN pm + 300
                        ELSE pm + 10 * least(greatest(
                          CAST(floor((1709251200 - fetched) / 86400)
                            AS BIGINT), 0), 30)
                   END AS BIGINT) AS score
            FROM j
            WHERE fetched IS NULL
               OR (lastmod IS NOT NULL
                   AND epoch(CAST(lastmod AS DATE)) > fetched)
            ORDER BY url
        """),
        # full-content check of the rewrite: kept_md5 hashes the surviving
        # token stream per doc; DuckDB replays windows/coverage/anti-join
        "dup_span_removal": (q_dup_span_removal, f"""
            WITH tok AS (
              SELECT doc_id, {_SQL_TOKENS} AS tokens FROM documents
            ),
            ap AS (
              SELECT doc_id, s.i - 1 AS pos, tokens[s.i] AS w
              FROM tok, LATERAL (SELECT unnest(generate_series(1,
                     len(tokens))) AS i) s
              WHERE len(tokens) > 0
            ),
            g8 AS (
              SELECT doc_id, s.i - 1 AS pos,
                     tokens[s.i]   || ' ' || tokens[s.i+1] || ' ' ||
                     tokens[s.i+2] || ' ' || tokens[s.i+3] || ' ' ||
                     tokens[s.i+4] || ' ' || tokens[s.i+5] || ' ' ||
                     tokens[s.i+6] || ' ' || tokens[s.i+7] AS g
              FROM tok, LATERAL (SELECT unnest(generate_series(1,
                     len(tokens) - 7)) AS i) s
              WHERE len(tokens) >= 8
            ),
            dupg AS (
              SELECT g FROM (SELECT DISTINCT doc_id, g FROM g8)
              GROUP BY g HAVING count(*) >= 2
            ),
            cov AS (
              SELECT DISTINCT g8.doc_id, g8.pos + k.k AS pos
              FROM g8 JOIN dupg USING (g),
                   LATERAL (SELECT unnest(generate_series(0, 7)) AS k) k
            ),
            kept AS (SELECT ap.* FROM ap ANTI JOIN cov USING (doc_id, pos)),
            ka AS (
              SELECT doc_id, count(*) AS n_kept,
                     md5(string_agg(w, ' ' ORDER BY pos)) AS kmd5
              FROM kept GROUP BY doc_id
            ),
            st AS (
              SELECT doc_id, len(tokens) AS n_tokens FROM tok
              WHERE len(tokens) > 0
            )
            SELECT st.doc_id, CAST(st.n_tokens AS BIGINT) AS n_tokens,
                   CAST(st.n_tokens - COALESCE(ka.n_kept, 0) AS BIGINT)
                     AS n_removed,
                   COALESCE(ka.kmd5, md5('')) AS kept_md5
            FROM st LEFT JOIN ka USING (doc_id)
            ORDER BY st.doc_id
        """),
        # v2 = same coverage, then gaps-and-islands to maximal runs and a
        # >= 16-token length gate before removal (Lee et al. span
        # semantics; see remove_dup_spans_maximal)
        "dup_span_removal_v2": (q_dup_span_removal_v2, f"""
            WITH tok AS (
              SELECT doc_id, {_SQL_TOKENS} AS tokens FROM documents
            ),
            ap AS (
              SELECT doc_id, s.i - 1 AS pos, tokens[s.i] AS w
              FROM tok, LATERAL (SELECT unnest(generate_series(1,
                     len(tokens))) AS i) s
              WHERE len(tokens) > 0
            ),
            g8 AS (
              SELECT doc_id, s.i - 1 AS pos,
                     tokens[s.i]   || ' ' || tokens[s.i+1] || ' ' ||
                     tokens[s.i+2] || ' ' || tokens[s.i+3] || ' ' ||
                     tokens[s.i+4] || ' ' || tokens[s.i+5] || ' ' ||
                     tokens[s.i+6] || ' ' || tokens[s.i+7] AS g
              FROM tok, LATERAL (SELECT unnest(generate_series(1,
                     len(tokens) - 7)) AS i) s
              WHERE len(tokens) >= 8
            ),
            dupg AS (
              SELECT g FROM (SELECT DISTINCT doc_id, g FROM g8)
              GROUP BY g HAVING count(*) >= 2
            ),
            cov AS (
              SELECT DISTINCT g8.doc_id, g8.pos + k.k AS pos
              FROM g8 JOIN dupg USING (g),
                   LATERAL (SELECT unnest(generate_series(0, 7)) AS k) k
            ),
            runs AS (
              SELECT doc_id, pos,
                     pos - row_number() OVER (PARTITION BY doc_id
                       ORDER BY pos) AS rid
              FROM cov
            ),
            longr AS (
              SELECT doc_id, rid FROM runs
              GROUP BY doc_id, rid HAVING count(*) >= 16
            ),
            rem AS (
              SELECT r.doc_id, r.pos FROM runs r JOIN longr USING (doc_id, rid)
            ),
            kept AS (SELECT ap.* FROM ap ANTI JOIN rem USING (doc_id, pos)),
            ka AS (
              SELECT doc_id, count(*) AS n_kept,
                     md5(string_agg(w, ' ' ORDER BY pos)) AS kmd5
              FROM kept GROUP BY doc_id
            ),
            st AS (
              SELECT doc_id, len(tokens) AS n_tokens FROM tok
              WHERE len(tokens) > 0
            )
            SELECT st.doc_id, CAST(st.n_tokens AS BIGINT) AS n_tokens,
                   CAST(st.n_tokens - COALESCE(ka.n_kept, 0) AS BIGINT)
                     AS n_removed,
                   COALESCE(ka.kmd5, md5('')) AS kept_md5
            FROM st LEFT JOIN ka USING (doc_id)
            ORDER BY st.doc_id
        """),
        # the entire corpus build replayed in SQL: curation CTEs (shared
        # with curation_full) -> survivors -> count-derived temperature
        # thresholds -> hash-keyed mix -> global-window packing manifest
        "corpus_build": (q_corpus_build, f"""
            WITH RECURSIVE {_SQL_CURATION_CTES},
            cur AS ({_SQL_CURATION_FINAL}),
            kept AS (SELECT doc_id FROM cur WHERE keep),
            ksrc AS (
              SELECT d.doc_id, d.source FROM documents d JOIN kept USING (doc_id)
            ),
            cnt AS (SELECT source, count(*) AS c FROM ksrc GROUP BY source),
            mn AS (SELECT min(c) AS cmin FROM cnt),
            thr AS (
              SELECT source,
                     CAST(least(floor(sqrt(CAST(cmin AS DOUBLE)
                         / CAST(c AS DOUBLE)) * 65536), 65536) AS BIGINT)
                       AS thr_q
              FROM cnt, mn
            ),
            mix AS (
              SELECT k.doc_id FROM ksrc k JOIN thr USING (source)
              WHERE thr_q >= 65536
                 OR substr(md5('mix:' || CAST(k.doc_id AS VARCHAR)), 1, 4)
                      < printf('%04x', thr_q)
            ),
            pt AS (
              SELECT doc_id, len(tokens) AS n
              FROM tok JOIN mix USING (doc_id) WHERE len(tokens) > 0
            ),
            pc AS (
              SELECT doc_id, n,
                     CAST(sum(n) OVER (ORDER BY doc_id
                       ROWS UNBOUNDED PRECEDING) AS BIGINT) AS e
              FROM pt
            ),
            ps AS (SELECT doc_id, n, e - n AS st, e FROM pc)
            SELECT doc_id AS id, g.seq_id,
                   greatest(st, g.seq_id*2048) - st AS doc_off,
                   greatest(st, g.seq_id*2048) - g.seq_id*2048 AS seq_off,
                   least(e, (g.seq_id+1)*2048)
                     - greatest(st, g.seq_id*2048) AS piece_len
            FROM ps, LATERAL (SELECT unnest(generate_series(
                     CAST(floor(st/2048) AS BIGINT),
                     CAST(floor((e-1)/2048) AS BIGINT))) AS seq_id) g
            ORDER BY id, seq_id
        """),
        # ground truth straight from the table: the sitemap parser must
        # invert the in-plan XML synthesis exactly (entities decoded,
        # absent priority -> protocol default 500)
        "sitemap_ingest": (q_sitemap_ingest, """
            SELECT source AS host,
                   'https://' || source || '/doc/' || CAST(doc_id AS VARCHAR)
                     || '?a=1&b=2' AS url,
                   CASE WHEN doc_id % 3 = 0
                        THEN '2024-01-' || lpad(CAST(doc_id % 28 + 1
                               AS VARCHAR), 2, '0')
                   END AS lastmod,
                   CASE WHEN doc_id % 4 = 0 THEN 500
                        ELSE (doc_id % 10) * 100 END AS priority_milli
            FROM documents
            ORDER BY host, url
        """),
        # thresholds derived from counts in-engine on BOTH sides: the
        # sqrt/divide/floor chain is IEEE-exact, so the quantized
        # thresholds and every keep verdict match bit-for-bit
        "temperature_mix": (q_temperature_mix, """
            WITH c AS (
              SELECT source, count(*) AS c FROM documents GROUP BY source
            ), m AS (SELECT min(c) AS cmin FROM c),
            r AS (
              SELECT source,
                     CAST(least(floor(sqrt(CAST(cmin AS DOUBLE)
                         / CAST(c AS DOUBLE)) * 65536), 65536) AS BIGINT)
                       AS keep_thr_q
              FROM c, m
            )
            SELECT d.doc_id, d.source, r.keep_thr_q
            FROM documents d JOIN r USING (source)
            WHERE keep_thr_q >= 65536
               OR substr(md5('mix:' || CAST(d.doc_id AS VARCHAR)), 1, 4)
                    < printf('%04x', keep_thr_q)
        """),
        # same pattern strings as operators/scrub.py (conservative dialect:
        # runs identically under Java regex, RE2, and Python re); DuckDB
        # regexp_replace needs the explicit 'g' flag Spark applies by default
        "pii_scrub": (q_pii_scrub, f"""
            WITH d AS (
              SELECT doc_id, text
                || CASE WHEN doc_id % 3 = 0 THEN ' contact user'
                     || CAST(doc_id AS VARCHAR) || '@example.com now'
                   ELSE '' END
                || CASE WHEN doc_id % 5 = 0 THEN ' call 555-123-4567'
                   ELSE '' END
                || CASE WHEN doc_id % 7 = 0 THEN ' from 10.0.'
                     || CAST(doc_id % 256 AS VARCHAR) || '.1'
                   ELSE '' END AS t
              FROM documents
            ), s AS (
              SELECT doc_id, t,
                     regexp_replace(regexp_replace(regexp_replace(t,
                       '{PII_PATTERNS[0][1]}', '<EMAIL>', 'g'),
                       '{PII_PATTERNS[1][1]}', '<PHONE>', 'g'),
                       '{PII_PATTERNS[2][1]}', '<IP>', 'g') AS scrubbed
              FROM d
            )
            SELECT doc_id AS id,
                   CAST(len(regexp_extract_all(t, '{PII_PATTERNS[0][1]}'))
                     AS BIGINT) AS n_email,
                   CAST(len(regexp_extract_all(t, '{PII_PATTERNS[1][1]}'))
                     AS BIGINT) AS n_phone,
                   CAST(len(regexp_extract_all(t, '{PII_PATTERNS[2][1]}'))
                     AS BIGINT) AS n_ipv4,
                   CAST(length(scrubbed) AS BIGINT) AS scrubbed_len,
                   md5(scrubbed) AS scrub_md5
            FROM s
        """),
        # concat-and-chunk packing manifest: pure integer window/lateral
        # arithmetic, so the two-level-cumsum Spark plan must be
        # hash-identical to the naive global-window SQL
        "doc_chunks": (q_doc_chunks, f"""
            WITH t AS (
              SELECT CAST(doc_id AS BIGINT) AS doc_id, {_SQL_TOKENS} AS tokens
              FROM documents
            ),
            s AS (
              SELECT doc_id, tokens, len(tokens) AS n,
                     CASE WHEN len(tokens) <= 64 THEN 1
                          ELSE 1 + (len(tokens) - 64 + 47) // 48
                     END AS n_chunks
              FROM t
            ),
            c AS (
              SELECT doc_id, tokens, n,
                     unnest(range(n_chunks)) AS chunk_idx
              FROM s
            )
            SELECT doc_id, chunk_idx,
                   CAST(chunk_idx * 48 AS BIGINT) AS start_tok,
                   CAST(greatest(least(64, n - chunk_idx * 48), 0)
                        AS BIGINT) AS n_tok,
                   md5(array_to_string(
                     tokens[chunk_idx * 48 + 1 :
                            chunk_idx * 48
                            + greatest(least(64, n - chunk_idx * 48), 0)],
                     ' ')) AS chunk_md5
            FROM c
        """),
        "sequence_packing": (q_sequence_packing, f"""
            WITH t AS (
              SELECT doc_id, len({_SQL_TOKENS}) AS n FROM documents
            ), c AS (
              SELECT doc_id, n,
                     CAST(sum(n) OVER (ORDER BY doc_id
                       ROWS UNBOUNDED PRECEDING) AS BIGINT) AS e
              FROM t WHERE n > 0
            ), s AS (SELECT doc_id, n, e - n AS st, e FROM c)
            SELECT doc_id AS id, g.seq_id,
                   greatest(st, g.seq_id*2048) - st AS doc_off,
                   greatest(st, g.seq_id*2048) - g.seq_id*2048 AS seq_off,
                   least(e, (g.seq_id+1)*2048)
                     - greatest(st, g.seq_id*2048) AS piece_len
            FROM s, LATERAL (SELECT unnest(generate_series(
                     CAST(floor(st/2048) AS BIGINT),
                     CAST(floor((e-1)/2048) AS BIGINT))) AS seq_id) g
            ORDER BY id, seq_id
        """),
        # --- Structured Streaming contract twins -------------------------
        # availableNow append-mode emission is closed-form: a window is
        # emitted iff window_end <= terminal watermark (max event time in
        # ms - delay; boundary equality emits, verified on Spark 4.1), so
        # the oracle is the batch rollup under the same inequality.
        "streaming_event_windows": (q_streaming_event_windows, """
            WITH w AS (
              SELECT CAST(floor(epoch(date_trunc('hour', ts))) AS BIGINT)
                       AS hour_unix,
                     event_type, count(*) AS cnt,
                     CAST(sum(floor(value * 1000)) AS BIGINT) AS value_milli
              FROM events GROUP BY 1, 2
            ), m AS (SELECT max(epoch_ms(ts)) AS max_ms FROM events)
            SELECT hour_unix, event_type, cnt, value_milli FROM w, m
            WHERE (hour_unix + 3600) * 1000 <= m.max_ms - 7200000
            ORDER BY hour_unix, event_type
        """),
        # closed sessions = every session except each user's last (the
        # still-open one never emits within the run)
        "streaming_sessionize": (q_streaming_sessionize, """
            WITH g AS (
              SELECT user_id, event_id, ts,
                     CAST(floor(epoch(ts)) AS BIGINT) AS sec,
                     floor(epoch(ts)) - lag(floor(epoch(ts))) OVER
                       (PARTITION BY user_id ORDER BY ts, event_id) AS gap
              FROM events
            ), s AS (
              SELECT user_id, sec,
                     CAST(sum(CASE WHEN gap IS NULL OR gap > 1800
                                   THEN 1 ELSE 0 END)
                       OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
              FROM g
            ), agg AS (
              SELECT user_id, session_id,
                     CAST(count(*) AS BIGINT) AS n_events,
                     min(sec) AS start_unix, max(sec) AS end_unix
              FROM s GROUP BY user_id, session_id
            )
            SELECT user_id, session_id, n_events, start_unix, end_unix
            FROM (SELECT agg.*, max(session_id) OVER (PARTITION BY user_id)
                    AS last_s FROM agg)
            WHERE session_id < last_s
            ORDER BY user_id, session_id
        """),
        # arrival 1 emits one row per distinct checksum; arrival 2 is
        # fully suppressed (state live); arrival 3 (doc_id % 7 slice)
        # re-admits after watermark eviction -> one extra row per key
        "streaming_dedup": (q_streaming_dedup, """
            WITH d AS (SELECT doc_id, md5(text) AS checksum FROM documents)
            SELECT checksum FROM (SELECT DISTINCT checksum FROM d)
            UNION ALL
            SELECT DISTINCT checksum FROM d WHERE doc_id % 7 = 0
            ORDER BY checksum
        """),
        # synthetic ingest clock ts = T0 + 97s*doc_id; every token lands
        # in exactly two slide-aligned (1800s) one-hour windows
        "streaming_trending_words": (q_streaming_trending_words, f"""
            WITH tok AS (
              SELECT 1704067200 + doc_id * 97 AS e,
                     unnest({_SQL_TOKENS}) AS word
              FROM documents
            ), m AS (
              SELECT 1704067200 + max(doc_id) * 97 AS max_e FROM documents
            ), win AS (
              SELECT (CAST(floor(e / 1800) AS BIGINT) - ks.k) * 1800
                       AS window_unix,
                     word
              FROM tok CROSS JOIN (SELECT unnest([0, 1]) AS k) AS ks
            )
            SELECT window_unix, word, count(*) AS cnt
            FROM win
            WHERE window_unix + 3600 <= (SELECT max_e FROM m) - 7200
            GROUP BY window_unix, word
            ORDER BY window_unix, word
        """),
    }
