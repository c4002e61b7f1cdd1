"""Deduplication operators for a training-data pipeline.

Five families, per the build brief:
* exact        — hash-groupBy on content checksum (the distributed form of
                 the reference's write-only sha1 set, utils/similarity.py:57-66)
* n-gram Jaccard — exact shingle-set similarity as a *relational* plan:
                 posexplode shingles → equi-self-join → per-pair overlap
                 count → |A∩B| / (|A|+|B|-|A∩B|). No UDF, no cross join;
                 the join key is the shingle so only docs sharing a shingle
                 ever meet (reference semantics utils/similarity.py:47-54
                 at τ, without the O(N²) scan)
* MinHash+LSH  — banded signatures → bucket equi-join → verify (scale path)
* SimHash      — 64-bit sketch + hamming-ball candidate pairs
* embedding    — JVM-native cosine (zip_with/aggregate arithmetic), the
                 kernel of similarity_search's near-dup and top-k plans
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.pandas.functions import pandas_udf
from pyspark.sql.types import ArrayType, LongType

from ..functions.fingerprint import minhash_bands, minhash_signature
from .textstats import report_tokens_col

__all__ = [
    "exact_dup_groups",
    "shingles_exploded",
    "ngram_jaccard_pairs",
    "minhash_lsh_pairs",
    "minhash_lsh_verified_pairs",
    "minhash_native_bands",
    "simhash_pairs",
    "cross_corpus_contamination",
    "cosine_sim_col",
]


# ---------------------------------------------------------------------------
# exact
# ---------------------------------------------------------------------------

def exact_dup_groups(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(checksum, dup_count, canonical_id) for content appearing >1 time."""
    return (
        df.select(F.col(id_col).alias("id"), F.md5(F.col(text_col)).alias("checksum"))
        .groupBy("checksum")
        .agg(
            F.count("*").alias("dup_count"),
            F.min("id").alias("canonical_id"),
        )
        .where(F.col("dup_count") > 1)
    )


# ---------------------------------------------------------------------------
# n-gram Jaccard (relational, exact)
# ---------------------------------------------------------------------------

def shingles_exploded(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    tokens: DataFrame | None = None,
) -> DataFrame:
    """Distinct word n-grams per doc in exploded shape ``(id, g)``.

    Deliberately NOT built with array higher-order functions: a lambda over
    ``transform(sequence(...))`` re-inlines the regexp tokenizer into every
    ``element_at`` call (Catalyst collapses the projections, and lambda
    bodies are interpreted, outside both whole-stage codegen and
    common-subexpression elimination) — measured ~25x slower. Here the
    tokenizer runs exactly once per doc, tokens posexplode map-side, and
    shingle assembly is a lead() window over (id, pos) — all codegen, one
    shuffle of narrow rows.

    tokens, when given, is a pre-computed textstats.tokens_exploded stream
    (doc_id, pos, w) shared with the other token-derived signals, so a
    composition scans the text column once."""
    if tokens is not None:
        tok = tokens.select(F.col("doc_id").alias("id"), "pos", "w")
    else:
        tok = df.select(
            F.col(id_col).alias("id"),
            F.posexplode(report_tokens_col(F.col(text_col))).alias("pos", "w"),
        )
    w = Window.partitionBy("id").orderBy("pos")
    leads = [F.col("w")] + [F.lead("w", j).over(w) for j in range(1, n)]
    return (
        tok.select("id", F.concat_ws(" ", *leads).alias("g"),
                   leads[-1].isNotNull().alias("_full"))
        .where("_full")
        .select("id", "g")
        .distinct()
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.8,
    n: int = 3,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """All unordered doc pairs with shingle-set Jaccard >= threshold.

    Plan shape: tokenize once → lead-window shingles (shingles_exploded) →
    self-equi-join on the 64-bit shingle hash (narrow shuffle key; the
    string itself never shuffles twice) → partial-agg pair counts → join
    back to per-doc shingle counts. Scales with shared-shingle volume, not
    N².

    max_doc_freq is the scale guard for boilerplate: a shingle shared by D
    docs emits D(D-1)/2 join rows, so one hot navigation/footer shingle at
    D=10^6 detonates the self-join. With the cap set, shingles whose doc
    frequency exceeds it are excluded from *candidate generation* only;
    candidate pairs are then re-scored exactly over their full shingle
    sets (hot ones included), so every reported jaccard is still exact.
    The only loss is pairs whose entire overlap is capped shingles — by
    construction boilerplate, not near-dup content: such a pair's true
    jaccard is bounded by (hot shingles shared) / (union), which at sane
    thresholds means the docs are mostly boilerplate anyway."""
    # three-plus consumers of the shingle pass (sizes, both join sides,
    # re-score) — checkpoint the slim (id, gh) stream so the corpus is
    # scanned and tokenized exactly once (see minhash_lsh_verified_pairs)
    exploded = shingles_exploded(df, id_col, text_col, n).select(
        "id", F.xxhash64("g").alias("gh")
    ).localCheckpoint(eager=False)
    sizes = exploded.groupBy("id").agg(F.count("*").alias("n_sh"))
    if max_doc_freq is None:
        pair_src = exploded
    else:
        hot = (
            exploded.groupBy("gh")
            .agg(F.count("*").alias("_df"))
            .where(F.col("_df") > max_doc_freq)
            .select("gh")
        )
        pair_src = exploded.join(hot, "gh", "left_anti")
    other = pair_src.select(F.col("id").alias("id2"), F.col("gh"))
    cand = (
        pair_src.join(other, "gh")
        .where(F.col("id") < F.col("id2"))
        .select("id", "id2")
        .distinct()
    ) if max_doc_freq is not None else None
    if cand is None:
        overlaps = (
            pair_src.join(other, "gh")
            .where(F.col("id") < F.col("id2"))
            .groupBy("id", "id2")
            .agg(F.count("*").alias("common"))
        )
    else:
        # exact re-score of candidates over the FULL shingle sets: expand
        # candidate pairs by the left doc's shingles, equi-join on the
        # right — cost tracks candidate volume, not boilerplate volume
        overlaps = (
            cand.join(exploded, "id")
            .join(exploded.select(F.col("id").alias("id2"), "gh"), ["id2", "gh"])
            .groupBy("id", "id2")
            .agg(F.count("*").alias("common"))
        )
    return (
        overlaps.join(sizes, "id")
        .join(
            sizes.select(F.col("id").alias("id2"), F.col("n_sh").alias("n_sh2")),
            "id2",
        )
        .withColumn(
            "jaccard",
            F.round(
                F.col("common")
                / (F.col("n_sh") + F.col("n_sh2") - F.col("common")),
                6,
            ),
        )
        .where(F.col("jaccard") >= threshold)
        .select("id", "id2", "jaccard")
    )


# ---------------------------------------------------------------------------
# MinHash + LSH (scale path)
# ---------------------------------------------------------------------------

def _make_minhash_udfs(num_perm: int, bands: int):
    @pandas_udf(ArrayType(LongType()))
    def sig_udf(texts: pd.Series) -> pd.Series:
        from ..functions.tokenize import report_tokens

        def signed(v):
            return v - (1 << 64) if v >= (1 << 63) else v

        return texts.map(
            lambda t: [
                signed(x) for x in minhash_signature(report_tokens(t or ""), num_perm)
            ]
        )

    @pandas_udf(ArrayType(LongType()))
    def bands_udf(sigs: pd.Series) -> pd.Series:
        return sigs.map(
            lambda sig: [
                b - (1 << 64) if b >= (1 << 63) else b
                for b in minhash_bands(list(sig), bands)
            ]
        )

    return sig_udf, bands_udf


def _minhash_base(
    df: DataFrame, id_col: str, text_col: str, num_perm: int, bands: int
) -> DataFrame:
    sig_udf, bands_udf = _make_minhash_udfs(num_perm, bands)
    return df.select(
        F.col(id_col).alias("id"), sig_udf(F.col(text_col)).alias("sig")
    ).withColumn("bands", bands_udf("sig"))


def _lsh_candidate_ids(base: DataFrame, max_bucket: int | None = None) -> DataFrame:
    """Distinct (id, id2) candidate pairs from the banded bucket equi-join.
    Only the narrow (id, b_idx, b_val) rows shuffle — signatures are
    re-joined by callers *after* the pair dedup, so the wide sig arrays
    never ride through the join + dropDuplicates shuffles (round-1 bench
    flagged that as the minhash hot spot)."""
    bnd = base.select("id", F.posexplode("bands").alias("b_idx", "b_val"))
    return _candidates_from_blocks(bnd, max_bucket)


def minhash_native_bands(
    ex: DataFrame, num_perm: int = 64, bands: int = 16
) -> DataFrame:
    """Banded minhash bucket rows ``(id, b_idx, b_val)`` computed entirely
    JVM-side from exploded shingle hashes ``(id, gh)``.

    sig_i = min over shingles of xxhash64(i, gh) — hashing the permutation
    index alongside the shingle hash gives ``num_perm`` independent hash
    functions from Spark's built-in xxhash64, so the whole signature is one
    hash-aggregate with map-side partial mins (no Python workers, no Arrow
    transfer, and the tokenize/shingle pass is SHARED with the exact
    verification join instead of running twice). Band buckets are
    xxhash64 over the band's signature slice. Docs with no shingles carry
    no rows, hence emit no candidate pairs — identical to the verified-
    pairs semantics, where a pair needs at least one common shingle."""
    if bands <= 0 or num_perm % bands:
        raise ValueError(
            f"bands must divide num_perm (got num_perm={num_perm}, "
            f"bands={bands}): a non-divisor silently truncates the "
            "signature (paid-for permutations never consumed) and "
            "bands > num_perm degenerates every doc into every bucket"
        )
    rows = num_perm // bands
    sigs = ex.groupBy("id").agg(
        *[
            F.min(F.xxhash64(F.lit(i), F.col("gh"))).alias(f"_s{i}")
            for i in range(num_perm)
        ]
    )
    band_structs = [
        F.struct(
            F.lit(b).alias("b_idx"),
            F.xxhash64(*[F.col(f"_s{b * rows + r}") for r in range(rows)]).alias(
                "b_val"
            ),
        )
        for b in range(bands)
    ]
    return sigs.select(
        "id", F.explode(F.array(*band_structs)).alias("bd")
    ).select("id", "bd.b_idx", "bd.b_val")


def _candidates_from_blocks(
    bnd: DataFrame, max_bucket: int | None = None
) -> DataFrame:
    """(id, id2) pairs sharing any (b_idx, b_val) bucket, id < id2.

    max_bucket, when set, drops band buckets shared by more than that many
    docs before pairing — the LSH analog of the frequent-shingle cap: a
    boilerplate bucket of D docs would emit D^2 pairs. Dropped buckets cost
    recall only for pairs whose every other band also overflows, which at
    sane banding means boilerplate, not near-dup, content."""
    if max_bucket is not None:
        w = Window.partitionBy("b_idx", "b_val")
        bnd = (
            bnd.withColumn("_bsz", F.count("*").over(w))
            .where(F.col("_bsz") <= max_bucket)
            .drop("_bsz")
        )
    right = bnd.select(F.col("id").alias("id2"), "b_idx", "b_val")
    return (
        bnd.join(right, ["b_idx", "b_val"])
        .where(F.col("id") < F.col("id2"))
        .select("id", "id2")
        .distinct()
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.8,
    num_perm: int = 64,
    bands: int = 16,
    max_bucket: int | None = None,
) -> DataFrame:
    """Candidate pairs via banded-minhash bucket join, scored by the
    signature-agreement estimate. (id, id2, est_jaccard)."""
    base = _minhash_base(df, id_col, text_col, num_perm, bands)
    cand_ids = _lsh_candidate_ids(base, max_bucket)
    sigs = base.select("id", "sig")
    cands = cand_ids.join(sigs, "id").join(
        sigs.select(F.col("id").alias("id2"), F.col("sig").alias("sig2")), "id2"
    )
    n_equal = F.size(
        F.filter(F.zip_with("sig", "sig2", lambda a, b: a == b), lambda x: x)
    )
    est = n_equal / F.lit(num_perm)
    return (
        cands.withColumn("est_jaccard", F.round(est, 6))
        .where(F.col("est_jaccard") >= threshold)
        .select("id", "id2", "est_jaccard")
    )


def minhash_lsh_verified_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.8,
    num_perm: int = 64,
    bands: int = 16,
    n: int = 3,
    max_bucket: int | None = None,
    scheme: str = "native",
) -> DataFrame:
    """The production LSH dedup shape: banded-minhash candidate generation
    followed by *exact* shingle-Jaccard verification of the candidates
    only. Output (id, id2, jaccard_ppm) with jaccard_ppm >= threshold ppm.

    Because verification is exact, the result equals the full exact-Jaccard
    pair set whenever LSH recall is 1 at the threshold — which the banding
    s-curve makes overwhelmingly likely for true near-dups (at j=0.89,
    16 bands x 4 rows miss with p ~= 5e-7) — so the operator is checkable
    against a pure ANSI-SQL oracle, unlike the raw estimate. Cost scales
    with candidate volume, not N^2: the per-pair intersection is computed
    by expanding only candidate pairs over the left doc's shingles and
    equi-joining on (id2, shingle_hash).

    scheme picks the signature kernel: "native" (default) derives the
    signatures from the SAME exploded shingle-hash pass the verification
    join uses (minhash_native_bands — one tokenization, zero Python
    workers, everything whole-stage codegen); "python" is the splitmix64
    Arrow-UDF kernel that matches the engine's persisted sketch scheme
    (fingerprint.SKETCH_SCHEME) for cross-checking stored signatures.
    Either way every EMITTED pair is exactly verified (no false
    positives); the schemes' banding s-curves differ, so on a corpus
    where a kernel's recall dips below 1 at the threshold their outputs
    can differ by the missed pairs — equality with the full exact pair
    set (what the SQL oracle computes) holds exactly when recall is 1,
    which the containment pytest gates for both kernels at test scale."""
    # the shingle pass (scan + tokenize + window + hash) feeds candidate
    # generation, per-doc sizes, AND both sides of the verification join —
    # four consumers; without a checkpoint each re-derives it from the
    # corpus scan (self-join subtrees get no ReusedExchange). Materialize
    # the slim (id, gh) stream once — the same scan-once policy the
    # curation compositions apply at the entry level.
    ex = shingles_exploded(df, id_col, text_col, n).select(
        "id", F.xxhash64("g").alias("gh")
    ).localCheckpoint(eager=False)
    if scheme == "native":
        cand_ids = _candidates_from_blocks(
            minhash_native_bands(ex, num_perm, bands), max_bucket
        )
    else:
        cand_ids = _lsh_candidate_ids(
            _minhash_base(df, id_col, text_col, num_perm, bands), max_bucket
        )
    sizes = ex.groupBy("id").agg(F.count("*").alias("n_sh"))
    common = (
        cand_ids.join(ex, "id")
        .join(ex.select(F.col("id").alias("id2"), "gh"), ["id2", "gh"])
        .groupBy("id", "id2")
        .agg(F.count("*").alias("common"))
    )
    ppm = F.floor(
        F.col("common") * 1000000
        / (F.col("n_sh") + F.col("n_sh2") - F.col("common"))
    ).cast("long")
    return (
        common.join(sizes, "id")
        .join(
            sizes.select(F.col("id").alias("id2"), F.col("n_sh").alias("n_sh2")),
            "id2",
        )
        .withColumn("jaccard_ppm", ppm)
        .where(F.col("jaccard_ppm") >= int(threshold * 1000000))
        .select("id", "id2", "jaccard_ppm")
    )


# ---------------------------------------------------------------------------
# train/eval decontamination
# ---------------------------------------------------------------------------

def cross_corpus_contamination(
    train: DataFrame,
    eval_df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 8,
    min_containment_ppm: int = 0,
    max_gram_train_df: int | None = None,
) -> DataFrame:
    """Benchmark-decontamination readout: for every (train doc, eval doc)
    pair sharing at least one token n-gram, the fraction of the EVAL doc's
    distinct n-grams that appear in the train doc — the containment metric
    decontamination pipelines gate on (an eval doc mostly covered by some
    train doc is leaked, regardless of the train doc's length). Output
    ``(train_id, eval_id, common, containment_ppm)`` floored to integer
    ppm, filtered to >= min_containment_ppm.

    Plan shape: both corpora explode to distinct (id, xxhash64(gram))
    rows; one equi-join on the gram hash; per-pair count; join back to the
    eval doc's gram count. Cost scales with shared-gram volume — the
    decontamination analog of ngram_jaccard_pairs, asymmetric because
    only the eval side's size matters.

    max_gram_train_df is the boilerplate guard at scale: grams appearing
    in more than that many TRAIN docs are excluded from the metric
    entirely (the standard practice — ubiquitous n-grams carry no leakage
    signal but quadratic join cost). Unlike the candidate-cap in
    ngram_jaccard_pairs this changes the reported metric, so it is part
    of the operator contract, not an optimization: containment is then
    "fraction of the eval doc's RARE n-grams found in the train doc"."""
    tr = shingles_exploded(train, id_col, text_col, n).select(
        F.col("id").alias("train_id"), F.xxhash64("g").alias("gh")
    )
    ev = shingles_exploded(eval_df, id_col, text_col, n).select(
        F.col("id").alias("eval_id"), F.xxhash64("g").alias("gh")
    )
    if max_gram_train_df is not None:
        hot = (
            tr.groupBy("gh")
            .agg(F.count("*").alias("_df"))
            .where(F.col("_df") > max_gram_train_df)
            .select("gh")
        )
        tr = tr.join(hot, "gh", "left_anti")
        ev = ev.join(hot, "gh", "left_anti")
    ev_sizes = ev.groupBy("eval_id").agg(F.count("*").alias("n_ev"))
    common = (
        tr.join(ev, "gh")
        .groupBy("train_id", "eval_id")
        .agg(F.count("*").alias("common"))
    )
    ppm = F.floor(F.col("common") * 1000000 / F.col("n_ev")).cast("long")
    return (
        common.join(ev_sizes, "eval_id")
        .withColumn("containment_ppm", ppm)
        .where(F.col("containment_ppm") >= min_containment_ppm)
        .select("train_id", "eval_id", "common", "containment_ppm")
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

def _hamming_blocks(max_hamming: int, n_bits: int = 64) -> list[tuple[int, int]]:
    """(shift, width) sub-blocks: max_hamming+1 blocks make the pigeonhole
    guarantee *exact* — a pair within the hamming ball cannot differ in
    every one of max_hamming+1 blocks, so blocking loses no pairs."""
    n_blocks = max_hamming + 1
    widths = [n_bits // n_blocks + (1 if i < n_bits % n_blocks else 0)
              for i in range(n_blocks)]
    out, off = [], 0
    for w in widths:
        out.append((off, w))
        off += w
    return out


def simhash_native_sketch(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """The md5-scheme 64-bit simhash computed ENTIRELY JVM-side — bit-
    identical to fingerprint.simhash64_md5 (differential-tested), zero
    Python workers.

    Construction (the same one the ANSI-SQL oracle replays): per distinct
    (doc, token), h = first 16 hex chars of md5(token) read as a 64-bit
    big-endian value via two 32-bit conv() halves; bit j of the sketch is
    the occurrence-weighted majority of bit j over the doc's tokens
    (2·ones > n). The majority vote is one hash-aggregate with 64
    map-side-combinable weighted sums — no per-bit explode, no 64×
    row blowup — and the final packing is a 64-term shiftleft/OR chain
    (bit 63 wraps into the sign, matching the Python kernel's signed
    view). Tokenless docs carry no rows, hence no sketch."""
    from ..operators.textstats import report_tokens_col

    # explode inline rather than via tokens_exploded: that helper casts
    # the id to long, which would NULL out string/UUID ids and collapse
    # every doc into one sketch — the python scheme preserves id types,
    # so this kernel must too
    tok = df.select(
        F.col(id_col).alias("id"),
        F.explode(report_tokens_col(F.col(text_col))).alias("w"),
    )
    h = F.md5(F.col("w"))
    th = tok.select(
        "id",
        F.conv(F.substring(h, 1, 8), 16, 10).cast("long").alias("_hi"),
        F.conv(F.substring(h, 9, 8), 16, 10).cast("long").alias("_lo"),
    )
    # aggregate OCCURRENCES directly: map-side partial aggregation
    # collapses each partition to per-doc rows before any exchange, so
    # no token-level shuffle happens (a distinct-(doc,word) pre-group
    # costs a full token shuffle and measured ~1.5x slower)
    ones = [
        F.sum(
            F.shiftrightunsigned(
                F.col("_lo" if j < 32 else "_hi"), j % 32
            ).bitwiseAND(F.lit(1))
        ).alias(f"_o{j}")
        for j in range(64)
    ]
    agg = th.groupBy("id").agg(F.count("*").alias("_n"), *ones)
    bit = lambda j: (  # noqa: E731
        (F.col(f"_o{j}") * 2 > F.col("_n")).cast("long")
    )
    half = lambda lo_j: (  # noqa: E731
        # OR-fold 32 shifted majority bits into one long
        _bitor_fold([F.shiftleft(bit(j), j - lo_j) for j in range(lo_j, lo_j + 32)])
    )
    sig = F.shiftleft(half(32), 32).bitwiseOR(half(0))
    return agg.select("id", sig.alias("sh"))


def _bitor_fold(cols: list[Column]) -> Column:
    out = cols[0]
    for c in cols[1:]:
        out = out.bitwiseOR(c)
    return out


def simhash_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 6,
    scheme: str = "python",
) -> DataFrame:
    """All pairs within SimHash hamming distance <= max_hamming — *exact*
    over the sketch: candidate blocking uses max_hamming+1 sub-blocks of
    the 64-bit fingerprint, so by pigeonhole every qualifying pair agrees
    exactly on at least one block and the blocked equi-join equals the
    all-pairs scan. The sketch itself is the md5-scheme simhash
    (fingerprint.simhash64_md5), recomputable by an ANSI-SQL oracle.
    Tokenless docs carry no sketch and emit no pairs.

    scheme picks the sketch kernel — both bit-identical (differential
    test), both shuffle-free, both linear in corpus size:

    * "python" (default): Arrow-batched UDF over whole texts — compiled
      regex tokenize + md5 with a per-batch token memo. Measured 0.96s
      warm at sf0.1.
    * "native": pure JVM construction (simhash_native_sketch) — zero
      Python workers. Measured 1.6s warm at sf0.1: Zipfian token
      frequencies mean the memoized Python kernel hashes ~vocabulary-
      size tokens while the JVM path pays md5+conv per occurrence, and
      that beats the JVM's codegen advantage here. Kept as the
      no-Python-runtime option and as the kernel's cross-check."""
    if scheme == "native":
        base = simhash_native_sketch(df, id_col, text_col)
    else:
        @pandas_udf(LongType())
        def simhash_udf(texts: pd.Series) -> pd.Series:
            from ..functions.fingerprint import simhash64_md5_batch
            from ..functions.tokenize import report_tokens

            def signed(v):
                if v is None:
                    return None
                return v - (1 << 64) if v >= (1 << 63) else v

            sketches = simhash64_md5_batch(
                [report_tokens(t or "") for t in texts]
            )
            return pd.Series([signed(v) for v in sketches], dtype="object")

        base = df.select(
            F.col(id_col).alias("id"), simhash_udf(F.col(text_col)).alias("sh")
        ).where(F.col("sh").isNotNull())
    # the sketch pass reads + tokenizes + hashes the whole corpus — the
    # dominant cost at scale. Without a checkpoint the blocked self-join
    # below re-evaluates it on BOTH sides (self-joins don't get
    # ReusedExchange; measured 2x the UDF time at sf0.1). Lazy
    # localCheckpoint materializes the slim (id, sh) frame (16B/doc)
    # on first use so the corpus is sketched exactly once.
    base = base.localCheckpoint(eager=False)
    blocks = base.select(
        "id", "sh",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("block_idx"),
                        F.shiftrightunsigned("sh", shift)
                        .bitwiseAND(F.lit((1 << width) - 1))
                        .alias("block_val"),
                    )
                    for i, (shift, width) in enumerate(_hamming_blocks(max_hamming))
                ]
            )
        ).alias("b"),
    ).select("id", "sh", "b.block_idx", "b.block_val")
    right = blocks.select(
        F.col("id").alias("id2"), F.col("sh").alias("sh2"), "block_idx", "block_val"
    )
    hamming = F.bit_count(F.col("sh").bitwiseXOR(F.col("sh2")))
    return (
        blocks.join(right, ["block_idx", "block_val"])
        .where(F.col("id") < F.col("id2"))
        .select("id", "id2", "sh", "sh2")
        .dropDuplicates(["id", "id2"])
        .withColumn("hamming", hamming)
        .where(F.col("hamming") <= max_hamming)
        .select("id", "id2", "hamming")
    )


# ---------------------------------------------------------------------------
# embedding cosine
# ---------------------------------------------------------------------------

def cosine_sim_col(a: Column, b: Column) -> Column:
    """JVM-native cosine similarity over two array<float> columns."""
    dot = F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    norm = lambda v: F.sqrt(  # noqa: E731
        F.aggregate(v, F.lit(0.0), lambda acc, x: acc + x * x)
    )
    return dot / (norm(a) * norm(b))
