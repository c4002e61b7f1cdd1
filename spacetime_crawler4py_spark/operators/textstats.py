"""Text-analysis operators over a document table — all JVM-native
(whole-stage-codegen) column expressions; no Python in the hot path.

These extend the reference's analytics tokenizer pipeline
(analyze_crawl.py:82-87,237-244) into the operators a training-data
pipeline needs: token counting, quality scoring, language ID, document
fingerprinting. Every expression here has an exact ANSI-SQL twin in
__spark_entry__.oracle_sql (the DuckDB correctness oracle).
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.tokenize import STOPWORDS

__all__ = [
    "report_tokens_col",
    "tokens_exploded",
    "stopword_count_col",
    "quality_cols",
    "quality_model",
    "langid_col",
    "langid_ngram",
    "fingerprint_col",
    "repetition_scores",
    "bm25_scores",
    "dup_span_stats",
    "remove_dup_spans",
    "remove_dup_spans_maximal",
    "unigram_logprob",
    "bigram_logprob",
    "collocation_lift",
    "paragraph_dedup",
    "LANG_MARKERS",
]


def report_tokens_col(text: Column) -> Column:
    """The reference analytics tokenizer as a native expression:
    lowercase → possessive strip → [a-z]{2,} extraction
    (analyze_crawl.py:82-87)."""
    lowered = F.lower(text)
    no_poss = F.regexp_replace(lowered, r"\b([a-z]+)['’]s\b", r"$1")
    return F.regexp_extract_all(no_poss, F.lit(r"[a-z]{2,}"), 0)


def tokens_exploded(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """The shared token stream ``(doc_id BIGINT, pos INT, w STRING)`` every
    token-derived signal consumes. Compositions that need several signals
    over the same corpus (curation_pipeline/curation_full) compute this
    ONCE — ``.localCheckpoint(eager=False)`` materializes it on first use —
    and pass it via the operators' ``tokens`` parameter, so 100 TB of text
    is scanned and tokenized once instead of once per signal. (Catalyst
    cannot de-duplicate the branches itself: per-branch column pruning
    makes the candidate exchanges non-identical, so ReusedExchange never
    fires — measured in round 3.)

    Zero-token docs carry no rows; consumers reconstruct n_tokens = 0 with
    a left join + coalesce, which matches ``size(report_tokens_col(...))``
    for non-null text."""
    return df.select(
        F.col(id_col).cast("long").alias("doc_id"),
        F.posexplode(report_tokens_col(F.col(text_col))).alias("pos", "w"),
    )


def stopword_count_col(tokens: Column) -> Column:
    stop_arr = F.array(*[F.lit(w) for w in sorted(STOPWORDS)])
    return F.size(F.filter(tokens, lambda t: F.array_contains(stop_arr, t)))


def quality_cols(text: Column) -> dict[str, Column]:
    """Length / punctuation-ratio / stopword-ratio quality features plus a
    boolean gate (thin-page rule generalizing analyze_crawl.py:227-229)."""
    tokens = report_tokens_col(text)
    n_tokens = F.size(tokens)
    n_chars = F.length(text)
    n_punct = n_chars - F.length(F.regexp_replace(text, r"[.,;:!?'\"()-]", ""))
    n_stop = stopword_count_col(tokens)
    return {
        "n_tokens": n_tokens,
        "n_chars": n_chars,
        "punct_ratio": F.round(n_punct / F.greatest(n_chars, F.lit(1)), 6),
        "stopword_ratio": F.round(
            n_stop / F.greatest(n_tokens, F.lit(1)), 6
        ),
        "quality_ok": (n_tokens >= 20)
        & (n_punct / F.greatest(n_chars, F.lit(1)) < 0.2),
    }


# tiny per-language marker sets for the n-gram-free heuristic language ID;
# scoring = marker-token hit count, argmax with deterministic tie-break
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "is", "in", "that", "it"),
    "es": ("el", "la", "de", "que", "los", "las", "una", "es"),
    "fr": ("le", "la", "les", "des", "est", "une", "dans", "et"),
    "de": ("der", "die", "das", "und", "ist", "nicht", "ein", "mit"),
    "zh": (),  # no latin markers; zh wins only when nothing scores
}


def langid_col(text: Column) -> Column:
    tokens = report_tokens_col(text)
    scores = []
    for lang, markers in LANG_MARKERS.items():
        if markers:
            arr = F.array(*[F.lit(m) for m in markers])
            score = F.size(F.filter(tokens, lambda t: F.array_contains(arr, t)))
        else:
            score = F.lit(0)
        scores.append(F.struct(score.alias("score"), F.lit(lang).alias("lang")))
    # argmax by (score, lang-reversed) so ties break on lexicographically
    # *smallest* language code deterministically
    best = F.array_max(
        F.array(
            *[
                F.struct(
                    s["score"].alias("score"),
                    # invert lang ordering inside the struct comparison:
                    # higher score wins; equal scores -> lexicographically
                    # last lang tag wins, so store negated rank
                    F.lit(-i).alias("rank"),
                    s["lang"].alias("lang"),
                )
                for i, s in enumerate(scores)
            ]
        )
    )
    return best["lang"]


def quality_model(
    df: DataFrame,
    id_col: str,
    text_col: str,
    tokens: DataFrame | None = None,
) -> DataFrame:
    """Model-based document quality scoring — the DCLM / FineWeb-Edu
    "educational value" gate, the one standard curation signal family the
    heuristic quality_cols doesn't cover: a fastText-style linear
    classifier over hashed token features. Each token hashes to one of
    8192 buckets (functions/qualityseeds.bucket_of_word — first two
    chars + last char + length, every term portable SQL); the document's
    score is the sum of integer per-bucket weights trained from the
    embedded HIGH (encyclopedic prose) vs LOW (spam/clickbait/nav
    boilerplate) seed corpora as centered ppm frequency differences.
    INTEGER-ONLY arithmetic end-to-end, so Spark, DuckDB, and the
    pure-Python twin (qualityseeds.score) agree bit-for-bit on any
    engine and partitioning; accuracy is gated on a held-out labeled
    fixture (tests/test_quality_model.py).

    Returns ``(doc_id, n_tokens, score_sum, quality_pass)`` where
    quality_pass = score_sum >= 0 — strictly negative means actively
    spam-like; zero (vocabulary the model has never seen) passes, so
    the gate fails OPEN on no-opinion. Zero-token docs emit no row — same
    contract as
    tokens_exploded; compositions treat absent as fail-open/closed per
    their own policy. ``tokens``, when given, is a shared
    tokens_exploded stream (curation_full passes its checkpointed one,
    so the corpus text is scanned once across all signals).

    Plan shape: O(tokens) rows through ONE broadcast hash join against
    the 8192-row weight dim on an integer key, then one hash agg with
    map-side combine. No Python in the hot path; the dim is a
    training-time constant that ships with the job."""
    from ..functions.qualityseeds import train_weights

    spark = df.sparkSession
    dim = spark.createDataFrame(
        sorted(train_weights().items()), schema="bucket INT, wt BIGINT"
    )
    tok = (
        tokens if tokens is not None else tokens_exploded(df, id_col, text_col)
    ).select("doc_id", F.col("w").alias("_w"))
    bucket = (
        F.ascii(F.substring(F.col("_w"), F.lit(1), F.lit(1))) * 29791
        + F.ascii(F.substring(F.col("_w"), F.lit(2), F.lit(1))) * 961
        + F.ascii(F.substring(F.col("_w"), F.length("_w"), F.lit(1))) * 31
        + F.length("_w")
    ) % 8192
    return (
        tok.select("doc_id", bucket.alias("bucket"))
        .join(F.broadcast(dim), "bucket", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.sum(F.coalesce("wt", F.lit(0))).alias("score_sum"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "score_sum",
            (F.col("score_sum") >= 0).alias("quality_pass"),
        )
    )


def langid_ngram(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Character-trigram language identification — the production-grade
    replacement for ``langid_col``'s 4-language marker-count heuristic: a
    hashed-feature linear classifier in the fastText/langid.py family
    (char n-grams -> hashed buckets -> per-language linear score ->
    argmax), covering {de, en, es, fr, it, pt}.

    Model: text normalizes to ``' ' + regexp_replace(lower(text),
    '[^a-z]+', ' ') + ' '``; every 3-char window hashes to one of 4096
    buckets via a base-31 polynomial over the code points; each
    language's score is the sum of integer per-bucket weights; argmax
    wins, ties to the lexicographically smallest code. Weights are
    centered ppm trigram frequencies trained from the embedded seed
    corpus (functions/langseeds.py) with INTEGER-ONLY arithmetic — no
    ln, no float division — so Spark, DuckDB, and the pure-Python twin
    (langseeds.classify) produce bit-identical scores on any engine and
    partitioning. Accuracy is gated on a held-out labeled fixture
    (tests/test_langid_ngram.py).

    Returns ``(doc_id, n_grams, lang, score_ppm)``; documents whose
    normalized text has no trigram (empty/whitespace text) emit no row —
    same contract as tokens_exploded's zero-token docs.

    Plan shape: one scan + one explode (O(chars) rows), ONE broadcast
    hash join against the 4096-row pivoted weight dim on an integer key,
    one hash agg with map-side combine. No Python in the hot path; the
    dim is training-time constant (ships with the job, like the unigram
    LM dim)."""
    from ..functions.langseeds import LANGS, train_weights

    spark = df.sparkSession
    w = train_weights()
    buckets = sorted(set().union(*(set(d) for d in w.values())))
    dim = spark.createDataFrame(
        [(b, *[w[lang].get(b, 0) for lang in LANGS]) for b in buckets],
        schema="bucket INT, "
        + ", ".join(f"w_{lang} BIGINT" for lang in LANGS),
    )
    norm = F.concat(
        F.lit(" "),
        F.regexp_replace(F.lower(F.col(text_col)), "[^a-z]+", " "),
        F.lit(" "),
    )
    grams = (
        df.select(F.col(id_col).cast("long").alias("doc_id"), norm.alias("_t"))
        .where(F.length("_t") >= 3)
        .select(
            "doc_id",
            F.explode(F.sequence(F.lit(1), F.length("_t") - 2)).alias("_i"),
            F.col("_t"),
        )
        .select(
            "doc_id",
            (
                (
                    F.ascii(F.substring(F.col("_t"), F.col("_i"), F.lit(1)))
                    * 961
                    + F.ascii(
                        F.substring(F.col("_t"), F.col("_i") + 1, F.lit(1))
                    )
                    * 31
                    + F.ascii(
                        F.substring(F.col("_t"), F.col("_i") + 2, F.lit(1))
                    )
                )
                % 4096
            ).alias("bucket"),
        )
    )
    scores = (
        grams.join(F.broadcast(dim), "bucket", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_grams"),
            *[
                F.sum(F.coalesce(f"w_{lang}", F.lit(0))).alias(f"s_{lang}")
                for lang in LANGS
            ],
        )
    )
    m = F.greatest(*[F.col(f"s_{lang}") for lang in LANGS])
    pred = F.lit(None).cast("string")
    # build the CASE back-to-front so alphabetical order wins ties
    for lang in reversed(LANGS):
        pred = F.when(F.col(f"s_{lang}") == m, F.lit(lang)).otherwise(pred)
    return scores.select(
        "doc_id", "n_grams", pred.alias("lang"), m.alias("score_ppm")
    )


# Gopher-style repetition gates (Rae et al. 2021 §A1.1 use character
# fractions over 2-grams and duplicate 5-grams; token fractions over
# 2-/3-grams are the same signal on this corpus and stay integer-exact
# for the cross-engine hash). Thresholds are the paper's, rescaled.
TOP_BIGRAM_PPM_MAX = 180_000
DUP_TRIGRAM_PPM_MAX = 300_000


def repetition_scores(
    df: DataFrame,
    id_col: str,
    text_col: str,
    tokens: DataFrame | None = None,
) -> DataFrame:
    """Per-doc repetition signals for boilerplate/spam filtering:

    * ``top_bigram_ppm`` — share of bigram slots taken by the single most
      frequent bigram (catches "click here click here ..." spam),
    * ``dup_trigram_ppm`` — EXCESS-occurrence fraction of trigrams:
      (n_slots − n_distinct) / n_slots, i.e. each repeated trigram counts
      its occurrences beyond the first (text where every trigram appears
      exactly twice scores 500000, not 1000000). This is the
      distinct-ratio complement several curation pipelines use; it is
      deliberately NOT "share of slots whose trigram occurs >1 time" —
      that stricter readout saturates faster and would need recalibrated
      thresholds (catches templated/looping text either way),
    * ``repetitive`` — either signal past its Gopher-derived threshold.

    Built on the posexplode + lead-window n-gram pattern (see
    dedup.shingles_exploded for why not array higher-order functions):
    one shuffle by doc_id for the window, then narrow (doc_id, gram) rows
    through map-side-combining hash aggregations. No Python, no HOFs;
    per-doc state is bounded by document length, so the plan is skew-safe
    at 100 TB as long as single documents fit a task.

    tokens, when given, is a pre-computed tokens_exploded stream (shared
    across signals by the curation compositions); otherwise the text is
    tokenized here."""
    tok = tokens if tokens is not None else tokens_exploded(df, id_col, text_col)
    w = Window.partitionBy("doc_id").orderBy("pos")
    w1 = F.lead("w", 1).over(w)
    w2 = F.lead("w", 2).over(w)
    grams = tok.select(
        "doc_id",
        F.when(w1.isNotNull(), F.concat_ws(" ", F.col("w"), w1)).alias("bg"),
        F.when(w2.isNotNull(), F.concat_ws(" ", F.col("w"), w1, w2)).alias("tg"),
    )
    bstat = (
        grams.where(F.col("bg").isNotNull())
        .groupBy("doc_id", "bg")
        .agg(F.count("*").alias("c"))
        .groupBy("doc_id")
        .agg(F.max("c").alias("top_c"), F.sum("c").alias("n_bg"))
    )
    tstat = (
        grams.where(F.col("tg").isNotNull())
        .groupBy("doc_id")
        .agg(
            F.countDistinct("tg").alias("d_tg"),
            F.count("tg").alias("n_tg"),
        )
    )
    top_bigram = F.coalesce(
        F.floor(F.col("top_c") * 1_000_000 / F.col("n_bg")), F.lit(0)
    ).cast("long")
    dup_trigram = F.coalesce(
        F.floor((F.col("n_tg") - F.col("d_tg")) * 1_000_000 / F.col("n_tg")),
        F.lit(0),
    ).cast("long")
    return (
        df.select(F.col(id_col).cast("long").alias("doc_id"))
        .join(bstat, "doc_id", "left")
        .join(tstat, "doc_id", "left")
        .select(
            "doc_id",
            top_bigram.alias("top_bigram_ppm"),
            dup_trigram.alias("dup_trigram_ppm"),
            (
                (top_bigram > TOP_BIGRAM_PPM_MAX)
                | (dup_trigram > DUP_TRIGRAM_PPM_MAX)
            ).alias("repetitive"),
        )
    )


def bm25_scores(
    df: DataFrame,
    id_col: str,
    text_col: str,
    terms: list[str],
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """BM25 keyword retrieval over a document table: score every doc for
    the bag of ``terms``, returned as ``(doc_id, n_hits, score_milli)``
    for docs matching at least one term.

    Lucene-flavored BM25: idf = ln(1 + (N - df + 0.5)/(df + 0.5)) (always
    nonnegative), tf saturation tf/(tf + k1*(1 - b + b*dl/avgdl)). The
    score is floored to integer milli-units so the cross-engine value
    hash tolerates sum-order float jitter; ordering downstream must use
    (score_milli, doc_id), never the raw float.

    Plan shape: tokenize once, explode, filter to the term list *before*
    any shuffle (the filter is a tiny isin pushed into the scan-side
    projection), then one hash-agg per (doc, term). Every stats dim —
    per-term df, corpus N, avgdl — is a broadcast 1-row-or-k-row
    aggregate; the only big shuffle is the (doc_id, term) tf agg whose
    key count is bounded by |terms| * n_docs."""
    toks = df.select(
        F.col(id_col).cast("long").alias("doc_id"),
        report_tokens_col(F.col(text_col)).alias("toks"),
    )
    dl = toks.select("doc_id", F.size("toks").alias("dl"))
    stats = F.broadcast(
        dl.agg(
            F.count("*").alias("n_docs"), F.avg("dl").alias("avgdl")
        )
    )
    hits = toks.select(
        "doc_id", F.explode("toks").alias("term")
    ).where(F.col("term").isin(*terms))
    tf = hits.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    dfreq = F.broadcast(
        tf.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    )
    idf = F.log(
        1.0
        + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    tf_norm = F.col("tf") / (
        F.col("tf") + k1 * (1.0 - b + b * F.col("dl") / F.col("avgdl"))
    )
    return (
        tf.join(dfreq, "term")
        .join(dl, "doc_id")
        .crossJoin(stats)
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_hits"),
            F.sum(idf * tf_norm).alias("score"),
        )
        .select(
            "doc_id",
            "n_hits",
            F.floor(F.col("score") * 1000).cast("long").alias("score_milli"),
        )
    )


def dup_span_stats(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 8,
    tokens: DataFrame | None = None,
) -> DataFrame:
    """Exact duplicated-span signal (the document-level readout of
    Lee et al. 2022's exact substring dedup): per doc, the fraction of
    its token n-gram window slots whose n-gram also occurs in at least
    one OTHER document. Returns ``(doc_id, n_windows, dup_ppm)`` with the
    fraction floored to integer ppm (cross-engine hash-stable).

    Within-doc repetition deliberately does NOT count (that is
    repetition_scores' job); a window is duplicated only when its gram's
    distinct-document frequency is >= 2.

    Plan shape: the lead-window n-gram pattern (see shingles_exploded for
    why not array HOFs) — one shuffle by doc_id for the window, then the
    gram's doc-frequency dim is a (gram, nd) hash-agg self-joined back on
    the gram string. At 100 TB the join key would be xxhash64(gram) so
    only 8-byte keys shuffle; at test scale the string key keeps the SQL
    twin trivial. tokens, when given, is a pre-computed tokens_exploded
    stream shared across signals."""
    tok = tokens if tokens is not None else tokens_exploded(df, id_col, text_col)
    w = Window.partitionBy("doc_id").orderBy("pos")
    leads = [F.col("w")] + [F.lead("w", j).over(w) for j in range(1, n)]
    grams = (
        tok.select(
            "doc_id",
            F.concat_ws(" ", *leads).alias("g"),
            leads[-1].isNotNull().alias("_full"),
        )
        .where("_full")
        .select("doc_id", "g")
    )
    docfreq = grams.distinct().groupBy("g").agg(
        F.countDistinct("doc_id").alias("nd")
    )
    per_doc = (
        grams.join(docfreq, "g")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_windows"),
            F.sum((F.col("nd") >= 2).cast("long")).alias("n_dup"),
        )
    )
    return per_doc.select(
        "doc_id",
        "n_windows",
        F.floor(F.col("n_dup") * 1_000_000 / F.col("n_windows"))
        .cast("long")
        .alias("dup_ppm"),
    )


def remove_dup_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 8,
    tokens: DataFrame | None = None,
) -> DataFrame:
    """Exact substring dedup as a REWRITE (the removal step of Lee et al.
    2022, where ``dup_span_stats`` is only the readout): drop every token
    covered by a duplicated n-gram window — a window whose gram occurs in
    >= 2 distinct documents — and re-emit the surviving token stream.

    Output ``(doc_id, n_tokens, n_removed, kept_md5)`` for every doc with
    at least one token: kept_md5 fingerprints the surviving tokens joined
    by ' ' (the tokenized representation; detokenization is a
    presentation concern), so a cross-engine compare certifies the full
    rewritten content without shipping it.

    Plan shape: the shared token stream feeds three consumers (grams,
    position universe, stats) — checkpointed, scan-once; the duplicated
    grams dim is a hash-agg; coverage = occurrence positions exploded to
    the n-window span, distinct, anti-joined against the token stream.
    Per-doc reassembly is a sort inside a hash-agg (array_sort over the
    collected (pos, w) structs — per-doc state, no global sort)."""
    # checkpoint only a stream we created: a caller-provided ``tokens``
    # follows the scan-once pattern and is already checkpointed — a
    # second wrap would materialize the corpus-scale stream twice
    tok = (
        tokens
        if tokens is not None
        else tokens_exploded(df, id_col, text_col).localCheckpoint(eager=False)
    )
    return _rewrite_from_removed(tok, _dup_covered_positions(tok, n))


def remove_dup_spans_maximal(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 8,
    min_len: int = 50,
    tokens: DataFrame | None = None,
) -> DataFrame:
    """Exact substring dedup with Lee et al. 2022's VARIABLE-LENGTH span
    semantics: adjacent duplicated n-gram windows merge into maximal
    runs, and only runs of at least ``min_len`` tokens are removed (the
    paper removes >= 50-BPE-token spans). ``remove_dup_spans`` is the
    fixed-window approximation that also strips short duplicated
    phrases; this variant keeps them — idiom-length overlap is normal
    language, only long verbatim blocks are boilerplate/plagiarism.

    Approximation note vs the paper's suffix array: a duplicated run
    here is a maximal chain of duplicated n-gram WINDOWS, so two
    distinct duplicated substrings separated by fewer than n
    non-duplicated tokens can chain into one run, and each reported run
    extends to the n-gram window end (up to n-1 tokens past the last
    duplicated n-gram start). With n << min_len (8 vs 50) both effects
    are bounded by n-1 tokens — the documented deviation (SURVEY §2.9).

    Output contract and plan shape match remove_dup_spans, plus one
    per-doc gaps-and-islands window (pos - row_number) and an O(runs)
    hash agg — both partition by doc_id, no global sort."""
    tok = (
        tokens
        if tokens is not None
        else tokens_exploded(df, id_col, text_col).localCheckpoint(eager=False)
    )
    covered = _dup_covered_positions(tok, n)
    wn = Window.partitionBy("doc_id").orderBy("pos")
    runs = covered.withColumn(
        "_rid", F.col("pos") - F.row_number().over(wn)
    )
    long_runs = (
        runs.groupBy("doc_id", "_rid")
        .agg(F.count("*").alias("_rl"))
        .where(F.col("_rl") >= min_len)
        .select("doc_id", "_rid")
    )
    removed = runs.join(long_runs, ["doc_id", "_rid"]).select("doc_id", "pos")
    return _rewrite_from_removed(tok, removed)


def _dup_covered_positions(tok: DataFrame, n: int) -> DataFrame:
    """Distinct (doc_id, pos) covered by any cross-document duplicated
    n-gram window (distinct-doc frequency >= 2)."""
    w = Window.partitionBy("doc_id").orderBy("pos")
    leads = [F.col("w")] + [F.lead("w", j).over(w) for j in range(1, n)]
    grams = (
        tok.select(
            "doc_id",
            "pos",
            F.concat_ws(" ", *leads).alias("g"),
            leads[-1].isNotNull().alias("_full"),
        )
        .where("_full")
        .select("doc_id", "pos", "g")
    )
    dupg = (
        grams.select("doc_id", "g")
        .distinct()
        .groupBy("g")
        .agg(F.count("*").alias("_nd"))
        .where(F.col("_nd") >= 2)
        .select("g")
    )
    return (
        grams.join(dupg, "g")
        .select(
            "doc_id",
            F.explode(F.sequence(F.col("pos"), F.col("pos") + (n - 1))).alias(
                "pos"
            ),
        )
        .distinct()
    )


def _rewrite_from_removed(tok: DataFrame, removed: DataFrame) -> DataFrame:
    """(doc_id, n_tokens, n_removed, kept_md5) after dropping the
    ``removed`` (doc_id, pos) set from the token stream."""
    kept = tok.join(removed, ["doc_id", "pos"], "left_anti")
    stats = tok.groupBy("doc_id").agg(F.count("*").alias("n_tokens"))
    kept_agg = kept.groupBy("doc_id").agg(
        F.count("*").alias("_n_kept"),
        F.md5(
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "w"))),
                    lambda s: s["w"],
                ),
            )
        ).alias("kept_md5"),
    )
    return stats.join(kept_agg, "doc_id", "left").select(
        "doc_id",
        "n_tokens",
        (F.col("n_tokens") - F.coalesce("_n_kept", F.lit(0)))
        .cast("long")
        .alias("n_removed"),
        # md5('') for fully-removed docs keeps the column non-null
        F.coalesce("kept_md5", F.lit(hashlib.md5(b"").hexdigest())).alias(
            "kept_md5"
        ),
    )


def unigram_logprob(
    df: DataFrame,
    id_col: str,
    text_col: str,
    tokens: DataFrame | None = None,
) -> DataFrame:
    """Corpus-LM quality proxy (the role CCNet's KenLM perplexity plays,
    with the corpus's own unigram model standing in for the trained LM):
    per doc, the mean negative log-probability of its tokens under the
    corpus unigram distribution, floored to integer milli-nats. Returns
    ``(doc_id, n_tokens, nll_milli)``; low = templated/common text, high
    = rare-token text — both tails are curation-filter candidates.

    Plan shape: one corpus-wide token count (hash agg, map-side combine),
    joined back to the exploded token stream on the token string. The
    unigram dim is vocabulary-sized — broadcast it when it fits (real
    corpora: millions of rows, a few hundred MB — still broadcastable);
    this implementation leaves the join strategy to AQE, which picks
    broadcast at every test scale. tokens, when given, is a pre-computed
    tokens_exploded stream shared across signals."""
    toks = (
        tokens.select("doc_id", "w")
        if tokens is not None
        else tokens_exploded(df, id_col, text_col).select("doc_id", "w")
    )
    totals = F.broadcast(toks.agg(F.count("*").alias("t")))
    counts = toks.groupBy("w").agg(F.count("*").alias("c"))
    return (
        toks.join(counts, "w")
        .crossJoin(totals)
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.sum(F.log(F.col("t") / F.col("c"))).alias("nll"),
        )
        .select(
            "doc_id",
            "n_tokens",
            F.floor(F.col("nll") * 1000 / F.col("n_tokens"))
            .cast("long")
            .alias("nll_milli"),
        )
    )


def bigram_logprob(
    df: DataFrame,
    id_col: str,
    text_col: str,
    lam_ppm: int = 750_000,
    tokens: DataFrame | None = None,
) -> DataFrame:
    """Interpolated bigram-LM quality score — one rung up from
    unigram_logprob toward CCNet's KenLM perplexity filter: per doc, the
    summed negative log-probability of its token bigrams under
    P(w2|w1) = lam * c(w1 w2)/c(w1) + (1-lam) * c(w2)/T, the corpus's own
    Jelinek-Mercer-smoothed bigram model (lam given in ppm; the backoff
    term keeps unseen continuations finite without Katz discounting
    machinery). Returns ``(doc_id, n_bigrams, nll_milli_sum)`` for every
    doc with at least one bigram; templated boilerplate scores low,
    incoherent token soup scores high.

    Cross-engine exactness, one step STRICTER than unigram_logprob: each
    bigram's -ln P is floored to integer milli-nats BEFORE the sum, so
    the per-doc aggregate is an exact integer sum — order-independent
    under any partitioning, bit-identical in SQL — rather than a float
    sum that happens to stay off floor boundaries. Residual risk: the
    floor protects the AGGREGATION, not the floored term itself — JVM
    Math.log and another engine's libm are not required to agree to the
    last ulp, so a -ln(p) landing within an ulp of a milli-nat boundary
    could floor differently per engine (same caveat family as
    unigram_logprob's float path; never observed at test scale). The
    fully-exact alternative — comparing p as a rational in integer
    space — costs 128-bit arithmetic per bigram; langid_ngram and
    quality_model show the log-free construction this engine prefers
    when a signal can be formulated without ln.

    Plan shape: the bigram stream is one lead window over the shared
    token stream (the dup_span_stats shuffle, reused); c(w1 w2) and
    c(w1) are hash aggs with map-side combine (hot bigrams — boilerplate
    again — collapse before the shuffle); T is a 1-row broadcast. The
    count dims are vocabulary-sized and joined back on the string key
    (xxhash64 at real scale, as in dup_span_stats)."""
    tok = tokens if tokens is not None else tokens_exploded(df, id_col, text_col)
    w = Window.partitionBy("doc_id").orderBy("pos")
    big = (
        tok.select(
            "doc_id",
            F.col("w").alias("w1"),
            F.lead("w", 1).over(w).alias("w2"),
        )
        .where(F.col("w2").isNotNull())
    )
    tot = F.broadcast(tok.agg(F.count("*").alias("t")))
    uni = tok.groupBy(F.col("w").alias("w2")).agg(F.count("*").alias("c2"))
    c1 = tok.groupBy(F.col("w").alias("w1")).agg(F.count("*").alias("c1"))
    cb = big.groupBy("w1", "w2").agg(F.count("*").alias("cb"))
    lam = F.lit(lam_ppm / 1_000_000.0)
    p = (
        lam * (F.col("cb").cast("double") / F.col("c1").cast("double"))
        + (F.lit(1.0) - lam)
        * (F.col("c2").cast("double") / F.col("t").cast("double"))
    )
    return (
        big.join(cb, ["w1", "w2"])
        .join(c1, "w1")
        .join(uni, "w2")
        .crossJoin(tot)
        .select("doc_id", F.floor(-F.log(p) * 1000).cast("long").alias("m"))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_bigrams"),
            F.sum("m").alias("nll_milli_sum"),
        )
    )


def fingerprint_col(text: Column) -> Column:
    """Content fingerprint: md5 of the normalized token stream — stable
    under whitespace/punctuation/case noise (the role of the reference's
    shingle sketch, utils/similarity.py:36-45, as a single exact hash)."""
    return F.md5(F.concat_ws(" ", report_tokens_col(text)))


def collocation_lift(
    df: DataFrame,
    id_col: str,
    text_col: str,
    min_pair: int = 5,
    k: int = 50,
    tokens: DataFrame | None = None,
) -> DataFrame:
    """Corpus collocation extraction: the top-``k`` adjacent word pairs
    by LIFT — n_xy * N / (n_x * n_y), the count-space core of PMI
    (PMI = log2(lift); log is monotone, so the PMI ranking IS the lift
    ranking and no engine ever takes a logarithm). Classic corpus
    analytics ("hong kong" / "los angeles" detection); the reference's
    report stops at unigram top-50 (analyze_crawl.py:82-87), this is the
    bigram-association upgrade a phrase-aware pipeline wants.

    Output: (w1, w2, n_xy, n_x, n_y, lift_ppm), n_xy >= min_pair, top-k
    by (lift_ppm desc, w1 asc, w2 asc) — fully deterministic. lift_ppm
    is the ALL-INTEGER floor of 1e6 * lift: (1000000 * n_xy * N) div
    (n_x * n_y). No floats, no logs, so any engine agrees bit-for-bit
    (same discipline as langid_ngram/quality_model; the ceil/floor
    division caveat from operators/percentiles.py does not arise —
    every operand here is positive). Exactness bound: the numerator
    must fit a BIGINT, i.e. n_xy * N < ~9.2e12; corpora past that
    should widen the numerator to DECIMAL(38,0) — a type change, not a
    plan change.

    n_x / n_y are token OCCURRENCE counts over the same stream the
    bigrams come from, so lift is a pure function of the corpus, not
    the layout. Plan shape: one lead window over the shared token
    stream (the dup_span_stats/bigram_logprob shuffle, reusable via
    ``tokens=``), a map-side-combinable pair hash-agg, a broadcast
    unigram dim joined twice, one 1-row N constant, and a global top-k
    (TakeOrdered, no full sort). min_pair prunes the pair dim BEFORE
    the joins, so the join input is the interesting tail, not the
    hapax cloud."""
    toks = (
        tokens
        if tokens is not None
        else tokens_exploded(df, id_col, text_col)
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    pairs = (
        toks.withColumn("w2", F.lead("w").over(w))
        .where(F.col("w2").isNotNull())
        .select(F.col("w").alias("w1"), "w2")
    )
    n_pairs = F.broadcast(pairs.agg(F.count("*").alias("_N")))
    uni = F.broadcast(toks.groupBy("w").agg(F.count("*").alias("n_w")))
    pc = (
        pairs.groupBy("w1", "w2")
        .agg(F.count("*").alias("n_xy"))
        .where(F.col("n_xy") >= int(min_pair))
    )
    scored = (
        pc.join(uni.select(F.col("w").alias("w1"), F.col("n_w").alias("n_x")), "w1")
        .join(uni.select(F.col("w").alias("w2"), F.col("n_w").alias("n_y")), "w2")
        .crossJoin(n_pairs)
        .withColumn(
            "lift_ppm",
            F.expr("(1000000 * n_xy * _N) div (n_x * n_y)"),
        )
        .select("w1", "w2", "n_xy", "n_x", "n_y", "lift_ppm")
    )
    return scored.orderBy(
        F.desc("lift_ppm"), F.asc("w1"), F.asc("w2")
    ).limit(int(k))


def paragraph_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    delim: str = "\n\n",
) -> DataFrame:
    """CCNet-style corpus-wide paragraph deduplication (Wenzek et al.
    2020, arXiv:1911.00359): split each document into paragraphs, hash
    them, and keep only the FIRST occurrence of every paragraph in corpus
    order (doc_id, then position) — the standard Common-Crawl pass that
    strips boilerplate (headers, cookie banners, license blurbs) repeated
    across pages, which doc-level dedup never touches and n-gram span
    dedup only catches when the block is long enough.

    Output one row per input doc: ``(doc_id, n_paras, n_kept,
    kept_md5)`` — kept_md5 fingerprints the surviving paragraphs rejoined
    with the delimiter, so a cross-engine compare certifies the rewritten
    content, not just the counts (same certificate shape as
    remove_dup_spans). Empty paragraphs (split artifacts) are dropped
    before dedup and never counted.

    Plan shape at 100 TB: split + posexplode are scan-level; the
    first-occurrence dim is ONE hash aggregation keyed on the paragraph
    — min(struct(doc_id, pos)) combines map-side, so the celebrity
    boilerplate paragraph (the skew hazard: the same cookie banner on
    10^8 pages) collapses to one row per map task before the shuffle —
    joined back on the paragraph key (at real scale the join key would be
    xxhash64(para): 8-byte shuffle keys; the string key keeps the SQL
    twin trivial at test scale, exactly as in dup_span_stats). The
    rebuild is one groupBy(doc) over surviving paragraphs with an
    order-certifying array_sort. A window over the hash would sort
    per-partition instead of combining — strictly worse under skew."""
    paras = (
        df.select(
            F.col(id_col).alias("doc_id"),
            F.posexplode(F.split(F.col(text_col), F.lit(delim)))
            .alias("pos", "para"),
        )
        .where(F.col("para") != "")
    )
    first = paras.groupBy("para").agg(
        F.min(F.struct("doc_id", "pos")).alias("f")
    )
    kept = paras.join(first, "para").where(
        (F.col("doc_id") == F.col("f.doc_id")) & (F.col("pos") == F.col("f.pos"))
    )
    rebuilt = kept.groupBy("doc_id").agg(
        F.count("*").alias("n_kept"),
        F.md5(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "para"))),
                    lambda s: s["para"],
                ),
                delim,
            )
        ).alias("kept_md5"),
    )
    totals = paras.groupBy("doc_id").agg(F.count("*").alias("n_paras"))
    return totals.join(rebuilt, "doc_id", "left").select(
        "doc_id",
        "n_paras",
        F.coalesce("n_kept", F.lit(0)).cast("long").alias("n_kept"),
        "kept_md5",
    )
