"""Text-analysis operators for training-data pipelines.

Beyond-reference surface (BASELINE.json north star): language ID,
quality scoring, token counting, document fingerprinting — all as pure
JVM-side column expressions (no Python UDFs), so a 100 TB documents
scan stays inside whole-stage codegen with zero shuffles.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window as W

from data_ingestion_framework_spark.functions.sql_dialect import qident
from data_ingestion_framework_spark.operators.skew import spread_for_compute
from data_ingestion_framework_spark.session import local_frame

#: Small deterministic English stopword set for the n-gram/stopword
#: language heuristic and quality ratios.
EN_STOPWORDS = [
    "the", "and", "of", "to", "in", "is", "that", "it", "for", "was",
    "on", "are", "with", "as", "be", "at", "by", "this", "have", "from",
]


def normalize_text(col: Column | str) -> Column:
    """Whitespace-collapsed, lower-cased canonical form (used by
    fingerprinting and shingling)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.lower(F.trim(F.regexp_replace(c, r"\s+", " ")))


def token_count(col: Column | str) -> Column:
    """Whitespace token count; 0 for empty/blank text."""
    c = F.col(col) if isinstance(col, str) else col
    t = F.trim(c)
    return F.when(F.length(t) == 0, F.lit(0)).otherwise(
        F.size(F.split(t, r"\s+"))
    ).cast("bigint")


#: GPT-2-style pre-tokenizer pattern, restricted to RE2-compatible
#: syntax (no lookarounds) so it behaves identically in Spark (Java
#: regex) and DuckDB (RE2): contractions, letter runs, digit runs,
#: punctuation runs — each with an optional leading space.
BPE_TOKEN_PATTERN = r"'(?:s|t|re|ve|m|ll|d)| ?[\p{L}]+| ?[\p{N}]+| ?[^\s\p{L}\p{N}]+|\s+"


def bpe_token_count(col: Column | str) -> Column:
    """Subword-ish token count via the BPE pre-tokenizer regex —
    approximates LLM token counts far better than whitespace splitting
    (the 'BPE-ish regex' counter of the north star)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.size(F.regexp_extract_all(c, F.lit(BPE_TOKEN_PATTERN), 0)).cast("bigint")


def char_count(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.length(c).cast("bigint")


def fingerprint(col: Column | str) -> Column:
    """Document fingerprint: md5 of the normalized text — the exact-dup
    join key at scale (hash, not the document body, crosses the shuffle)."""
    return F.md5(normalize_text(col))


def stopword_ratio(col: Column | str, stopwords: list[str] | None = None) -> Column:
    """Fraction of tokens that are stopwords (quality + lang-id input)."""
    c = F.col(col) if isinstance(col, str) else col
    words = F.split(normalize_text(c), " ")
    hits = F.size(F.filter(words, lambda w: w.isin(*(stopwords or EN_STOPWORDS))))
    return (hits / F.greatest(F.size(words), F.lit(1))).cast("double")


def digit_ratio(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    n = F.length(c)
    digits = n - F.length(F.regexp_replace(c, r"[0-9]", ""))
    return (digits / F.greatest(n, F.lit(1))).cast("double")


def punct_ratio(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    n = F.length(c)
    punct = n - F.length(F.regexp_replace(c, r"[.,;:!?'\"()\[\]{}-]", ""))
    return (punct / F.greatest(n, F.lit(1))).cast("double")


def non_ascii_ratio(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    n = F.length(c)
    ascii_only = F.length(F.regexp_replace(c, r"[^\x00-\x7F]", ""))
    return ((n - ascii_only) / F.greatest(n, F.lit(1))).cast("double")


def mean_token_length(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    norm = normalize_text(c)
    n_tokens = token_count(norm)
    n_chars = F.length(F.regexp_replace(norm, " ", ""))
    return F.when(n_tokens == 0, F.lit(0.0)).otherwise(
        n_chars / n_tokens
    ).cast("double")


def lang_id(col: Column | str) -> Column:
    """Heuristic language ID: non-Latin script by codepoint ratio, then
    English-stopword density, else 'latin_other'. Deterministic n-gram
    heuristic — a real model would slot in as a Pandas UDF, but the
    bucketing/plumbing (and the hot path for Latin text) stays JVM-side."""
    c = F.col(col) if isinstance(col, str) else col
    return (
        F.when(non_ascii_ratio(c) > 0.3, F.lit("non_latin"))
        .when(stopword_ratio(c) >= 0.08, F.lit("en"))
        .otherwise(F.lit("latin_other"))
    )


def quality_score(col: Column | str) -> Column:
    """Composite 0..1 quality heuristic: length sweet-spot, stopword
    presence, low digit/punct noise. Weights are fixed constants so the
    score is reproducible across engines and runs."""
    c = F.col(col) if isinstance(col, str) else col
    n = char_count(c)
    len_ok = F.when((n >= 100) & (n <= 20000), F.lit(1.0)).when(
        n > 0, F.lit(0.5)
    ).otherwise(F.lit(0.0))
    sw = F.least(stopword_ratio(c) * 5, F.lit(1.0))
    noise = F.greatest(
        F.lit(0.0), F.lit(1.0) - digit_ratio(c) * 2 - punct_ratio(c) * 2
    )
    return (len_ok * 0.4 + sw * 0.3 + noise * 0.3).cast("double")


def with_text_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Stamp the full text-analysis column family — one projection, no
    shuffle; at 100 TB this pipelines with the parquet scan."""
    return df.withColumns(
        {
            "n_chars_computed": char_count(text_col),
            "n_tokens": token_count(text_col),
            "mean_token_len": mean_token_length(text_col),
            "stopword_ratio": stopword_ratio(text_col),
            "digit_ratio": digit_ratio(text_col),
            "punct_ratio": punct_ratio(text_col),
            "non_ascii_ratio": non_ascii_ratio(text_col),
            "lang_pred": lang_id(text_col),
            "quality": quality_score(text_col),
            "fingerprint": fingerprint(text_col),
        }
    )


def winnowing_fingerprints(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    window: int = 25,
    hash_fn: str = "md5",
) -> DataFrame:
    """MOSS-style winnowing fingerprints: ``(id, fingerprint)`` rows
    where each fingerprint is the minimum k-gram hash in a sliding
    window over the normalized text — the document-fingerprinting
    primitive for plagiarism/near-copy detection (any two documents
    sharing a sufficiently long substring share a fingerprint).

    ``hash_fn``: ``"md5"`` (hex string; lexicographic min — identical
    semantics in any engine, so the operator is oracle-checkable) or
    ``"xxhash64"`` (bigint min — the 100 TB path: no hex-string
    materialization per k-gram, ~1.5× cheaper at sf0.1, Spark-private
    semantics). Everything is one narrow projection: the k-gram hash
    array is bound once via a single-element ``transform`` (a
    let-binding — referencing the array expression inside the window
    lambda directly would re-inline and recompute it per window
    position, turning O(n·w) into O(n²)), windows reduce with
    ``array_min(slice(...))``, and only the distinct minima explode into
    rows. No shuffle at all until whatever aggregates downstream.
    """
    if hash_fn not in ("md5", "xxhash64"):
        raise ValueError(f"hash_fn must be md5 or xxhash64, got {hash_fn!r}")
    h = F.md5 if hash_fn == "md5" else F.xxhash64

    def windows_of(a):
        return F.transform(
            F.sequence(F.lit(1), F.greatest(F.size(a) - (window - 1), F.lit(1))),
            lambda i: F.array_min(F.slice(a, i, window)),
        )

    def kgram_hashes(t):
        return F.transform(
            F.sequence(F.lit(1), F.greatest(F.length(t) - (k - 1), F.lit(1))),
            lambda i: h(t.substr(i, F.lit(k))),
        )

    fps = F.array_distinct(
        F.transform(
            F.array(normalize_text(text_col)),  # bind normalized text once
            lambda t: F.transform(
                F.array(kgram_hashes(t)),  # bind the hash array once
                lambda a: windows_of(a),
            )[0],
        )[0]
    )
    return df.select(F.col(id_col), F.explode(fps).alias("fingerprint"))


_GOPHER_STOPWORDS = ["the", "be", "to", "of", "and", "that", "have", "with"]


def gopher_quality_flags(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Gopher-style document-quality filters (Rae et al. 2021, public
    heuristics): per-document metrics + pass/fail flags, all as one
    narrow JVM projection (tokenization and line splits are array
    expressions — no UDF, no shuffle).

    Metrics/rules (the paper's thresholds):
      - word count in [50, 100000]
      - mean word length in [3, 10]
      - symbol-to-word ratio ('#' or '...') <= 0.1
      - fraction of words with an alphabetic character >= 0.8
      - at least 2 canonical stopwords
    The overall ``gopher_pass`` is the conjunction. Ratios are rounded
    to 4 decimals so the operator is oracle-portable.
    """
    t = F.trim(F.col(text_col))
    words = F.split(t, r"\s+")
    n_words = F.when(F.length(t) == 0, F.lit(0)).otherwise(F.size(words))
    mean_wl = F.when(
        n_words > 0,
        F.round(
            F.aggregate(
                words, F.lit(0).cast("bigint"), lambda acc, w: acc + F.length(w)
            ).cast("double")
            / n_words,
            4,
        ),
    ).otherwise(F.lit(0.0))
    n_hash = F.size(F.split(t, "#", -1)) - 1
    n_ellipsis = F.size(F.split(t, r"\.\.\.", -1)) - 1
    symbol_ratio = F.when(
        n_words > 0, F.round((n_hash + n_ellipsis) / n_words.cast("double"), 4)
    ).otherwise(F.lit(0.0))
    alpha_frac = F.when(
        n_words > 0,
        F.round(
            F.size(F.filter(words, lambda w: w.rlike("[A-Za-z]")))
            / n_words.cast("double"),
            4,
        ),
    ).otherwise(F.lit(0.0))
    lower_words = F.transform(words, lambda w: F.lower(w))
    stop_count = F.size(
        F.filter(lower_words, lambda w: w.isin(_GOPHER_STOPWORDS))
    )
    out = df.withColumns(
        {
            "n_words": n_words.cast("bigint"),
            "mean_word_len": mean_wl,
            "symbol_word_ratio": symbol_ratio,
            "alpha_word_frac": alpha_frac,
            "stopword_count": stop_count.cast("bigint"),
        }
    )
    return out.withColumn(
        "gopher_pass",
        (F.col("n_words") >= 50)
        & (F.col("n_words") <= 100000)
        & (F.col("mean_word_len") >= 3)
        & (F.col("mean_word_len") <= 10)
        & (F.col("symbol_word_ratio") <= 0.1)
        & (F.col("alpha_word_frac") >= 0.8)
        & (F.col("stopword_count") >= 2),
    )


def pack_documents(
    df: DataFrame,
    budget: int,
    id_col: str = "doc_id",
    token_count_col: Column | None = None,
    shard_col: Column | str | None = None,
    order_col: str | None = None,
) -> DataFrame:
    """Assign documents to fixed-token-budget training packs:
    ``(id, n_tokens, pack_shard, pack_id)``.

    Start-offset packing: within a shard, docs ordered by ``order_col``
    (default: id) take ``pack_id = floor((cumsum - n_tokens) /
    budget)`` — each document belongs wholly to the pack where it
    STARTS, so a pack may overflow by at most one document (the
    standard best-effort packing used when exact bin-packing isn't
    worth a sequential pass; truncation/splitting is the tokenizer's
    job downstream).

    Scale shape: the cumulative sum runs per ``shard_col`` (default:
    a hash of the id into 32 shards), so the window parallelizes
    instead of serializing the corpus through one partition — training
    packs don't care about global order, only that each pack's members
    are known."""
    n_tok = (
        token_count_col if token_count_col is not None else token_count(F.col("text"))
    )
    if shard_col is None:
        shard = F.pmod(F.xxhash64(F.col(id_col)), F.lit(32)).cast("int")
    else:
        shard = F.col(shard_col) if isinstance(shard_col, str) else shard_col
    order = F.col(order_col if order_col is not None else id_col)
    base = df.select(
        F.col(id_col), n_tok.cast("bigint").alias("n_tokens"),
        shard.alias("pack_shard"), order.alias("__ord"),
    )
    w = W.partitionBy("pack_shard").orderBy(F.col("__ord"), F.col(id_col))
    cum = F.sum("n_tokens").over(w)
    return base.select(
        id_col,
        "n_tokens",
        "pack_shard",
        F.floor((cum - F.col("n_tokens")) / budget).cast("bigint").alias("pack_id"),
    )


def repetition_stats(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Gopher repetition filters: ``(id, dup_line_frac,
    top_bigram_share, repetition_pass)``.

    - ``dup_line_frac``: fraction of non-blank lines that are repeats of
      an earlier line — computed narrowly from the per-doc line array
      (``1 - distinct/size``), no shuffle.
    - ``top_bigram_share``: the most frequent word bigram's share of all
      bigram occurrences. Deliberately explode → groupBy(doc, gram) →
      per-doc max: linear in corpus size with one shuffle — the per-doc
      quadratic ``filter(count)`` alternative blows up on long
      documents, which is exactly where repetition filters matter.
    Thresholds (paper): dup_line_frac <= 0.3, top_bigram_share <= 0.2.
    """
    lines = F.filter(
        F.transform(F.split(F.col(text_col), "\n"), lambda l: F.trim(l)),
        lambda l: F.length(l) > 0,
    )
    dup_line_frac = F.when(
        F.size(lines) > 0,
        F.round(
            (F.size(lines) - F.size(F.array_distinct(lines)))
            / F.size(lines).cast("double"),
            4,
        ),
    ).otherwise(F.lit(0.0))
    base = df.select(
        F.col(id_col),
        dup_line_frac.alias("dup_line_frac"),
        F.split(normalize_text(F.col(text_col)), " ").alias("__w"),
    )
    # Guard: a <2-word doc has no bigrams (sequence(1,0) would descend),
    # and explode_outer keeps it alive with a NULL gram so its share
    # aggregates to 0.0 instead of the doc silently vanishing.
    gram_arr = F.when(
        F.size("__w") >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size("__w") - 1),
            lambda i: F.concat_ws(" ", F.col("__w")[i - 1], F.col("__w")[i]),
        ),
    ).otherwise(F.array().cast("array<string>"))
    grams = base.select(
        id_col, "dup_line_frac", F.explode_outer(gram_arr).alias("__g")
    )
    counts = grams.groupBy(id_col, "dup_line_frac", "__g").agg(
        F.count(F.lit(1)).alias("__n")
    )
    real = F.when(F.col("__g").isNotNull(), F.col("__n"))
    shares = counts.groupBy(id_col, "dup_line_frac").agg(
        F.coalesce(
            F.round(F.max(real) / F.sum(real).cast("double"), 4), F.lit(0.0)
        ).alias("top_bigram_share")
    )
    return shares.select(
        id_col,
        "dup_line_frac",
        "top_bigram_share",
        (
            (F.col("dup_line_frac") <= 0.3) & (F.col("top_bigram_share") <= 0.2)
        ).alias("repetition_pass"),
    )


def bm25_topk(
    df: DataFrame,
    query_terms: list[str],
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Okapi BM25 ranked retrieval: the top-``k`` documents for a bag
    of query terms, with the Lucene idf convention
    ``idf(t) = ln(1 + (N - df + 0.5) / (df + 0.5))`` (always
    non-negative) and the standard saturated-tf normalization
    ``tf·(k1+1) / (tf + k1·(1 - b + b·dl/avgdl))``.

    Scale shape — the inverted-index access pattern without an index:
    the exploded token stream is FILTERED TO THE QUERY'S TERMS before
    the (doc, term) shuffle, so only matching postings ever move
    (everything else dies map-side); document lengths come from a
    parallel groupBy(doc) over the same scan; N and avgdl ride a 1-row
    broadcast; the per-term df table is broadcast (≤ |query| rows).
    The final global top-k is a TakeOrderedAndProject, never a
    single-partition sort.

    Cross-engine determinism: per-(doc, term) contributions are
    rounded to 6 dp and summed as DECIMAL (order-independent, exact);
    ranking uses the rounded score with ``id_col`` as tiebreak.
    """
    toks = df.select(
        F.col(id_col),
        F.explode(F.split(normalize_text(text_col), " ")).alias("term"),
    ).where(F.col("term") != "")
    doclen = toks.groupBy(id_col).agg(F.count(F.lit(1)).alias("dl"))
    stats = doclen.agg(
        F.count(F.lit(1)).alias("__n"), F.avg("dl").alias("__avgdl")
    )
    tf = (
        toks.where(F.col("term").isin(list(query_terms)))
        .groupBy(id_col, "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    idf = F.log(
        F.lit(1.0)
        + (F.col("__n") - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    tfn = (F.col("tf") * (k1 + 1.0)) / (
        F.col("tf")
        + k1 * ((1.0 - b) + b * (F.col("dl") / F.col("__avgdl")))
    )
    contrib = F.round(idf * tfn, 6).cast("decimal(18,6)")
    scored = (
        tf.join(F.broadcast(dfreq), "term")
        .join(doclen, id_col)
        .crossJoin(F.broadcast(stats))
        .groupBy(id_col)
        .agg(F.sum(contrib).cast("double").alias("bm25"))
    )
    return scored.orderBy(F.desc("bm25"), F.col(id_col)).limit(k)


def tfidf_top_terms(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
) -> DataFrame:
    """Top-k characteristic terms per document by smoothed TF-IDF
    (sklearn convention: idf = ln((N+1)/(df+1)) + 1, tfidf = tf·idf).

    Ranking happens on the ROUNDED score (4 dp) with the term as
    tiebreak, so ordering is stable across engines — a raw-double sort
    could flip ties on last-ulp ln() differences.

    Scale shape: explode → (doc, term) counts (shuffle 1, map-side
    combine), term document-frequencies from that same frame
    (shuffle 2 — carries one row per distinct (doc, term)), join back
    on term, per-doc top-k window (shuffle 3). N arrives via a 1-row
    broadcast cross join, never a driver round-trip.
    """
    toks = df.select(
        F.col(id_col),
        F.explode(F.split(normalize_text(text_col), " ")).alias("term"),
    ).where(F.col("term") != "")
    tf = toks.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n = df.agg(F.count(F.lit(1)).alias("__n"))
    scored = (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(n))
        .select(
            F.col(id_col),
            F.col("term"),
            F.round(
                F.col("tf")
                * (
                    F.log((F.col("__n") + F.lit(1.0)) / (F.col("df") + F.lit(1.0)))
                    + F.lit(1.0)
                ),
                4,
            ).alias("tfidf"),
        )
    )
    w = W.partitionBy(id_col).orderBy(F.col("tfidf").desc(), F.col("term"))
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= k)
        .drop("__rn")
    )


def unigram_cross_entropy(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    round_to: int = 4,
) -> DataFrame:
    """Per-document unigram cross-entropy against the corpus language
    model — the CCNet-style fluency proxy (lower = more typical text,
    high = gibberish/outlier; used to gate or mix training data when a
    real LM is unavailable).

    ``H(d) = -(Σ_t tf(d,t) · log2 p(t)) / |d|`` with ``p(t)`` the
    corpus unigram MLE. Returns ``(id, n_tokens, unigram_ce)``; docs
    with no tokens have no distribution and drop out (mirror of the
    tokenizing explode).

    Cross-engine determinism: each (doc, term) contribution is rounded
    to 6 dp and cast to DECIMAL before summation, so the per-doc sum is
    exact and order-independent — a raw double Σ would differ between
    engines/partitionings in the last ulp. The final division happens
    in DOUBLE on both engines.

    Scale shape: same skeleton as :func:`tfidf_top_terms` — explode →
    (doc, term) counts with map-side combine, term totals from that
    (one row per distinct term), join back on term, final per-doc agg.
    The corpus total arrives as a 1-row broadcast, never a driver
    round-trip; no collect, no UDF.
    """
    toks = df.select(
        F.col(id_col),
        F.explode(F.split(normalize_text(text_col), " ")).alias("term"),
    ).where(F.col("term") != "")
    tf = toks.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    freq = tf.groupBy("term").agg(F.sum("tf").alias("__c"))
    total = freq.agg(F.sum("__c").alias("__n_total"))
    contrib = (
        F.col("tf").cast("decimal(18,0)")
        * F.round(
            F.log2(F.col("__c").cast("double") / F.col("__n_total").cast("double")),
            6,
        ).cast("decimal(18,6)")
    )
    return (
        tf.join(freq, "term")
        .crossJoin(F.broadcast(total))
        .groupBy(id_col)
        .agg(
            F.sum("tf").cast("bigint").alias("n_tokens"),
            F.round(
                (-F.sum(contrib)).cast("double") / F.sum("tf").cast("double"),
                round_to,
            ).alias("unigram_ce"),
        )
    )


def bigram_cross_entropy(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    round_to: int = 4,
) -> DataFrame:
    """Per-document bigram cross-entropy against the corpus conditional
    model — the next step up from :func:`unigram_cross_entropy` toward
    CCNet's 5-gram LM: ``H₂(d) = -(Σ_b tf(d,b) · log2 p(w2|w1)) / |b|``
    with ``p(w2|w1) = c(w1,w2) / c(w1,·)`` the corpus MLE over bigram
    starts (NOT unigram counts — a document's last token has no
    continuation, so conditioning on bigram-start totals is what makes
    the conditional distribution sum to 1). Word order now matters:
    shuffled-word gibberish that fools the unigram score lands far from
    the corpus bigram model. Every observed document bigram has corpus
    count ≥ 1 (the model includes the document), so the MLE needs no
    smoothing. Docs with < 2 tokens have no bigrams and drop out.

    Same cross-engine determinism contract as the unigram score:
    per-(doc, bigram) contributions round to 6 dp and sum as DECIMAL
    (order-free exact), one final DOUBLE division. Scale shape: one
    bigram explode feeds BOTH the per-doc tf and the corpus counts
    (map-side combine on each), then a bigram-keyed join back — the
    bigram vocabulary is the join key and shuffles; no UDF, no collect.
    """
    words = F.split(normalize_text(text_col), " ")
    grams = (
        df.select(
            F.col(id_col),
            F.explode(
                F.when(
                    F.size(words) >= 2,
                    F.zip_with(
                        F.slice(words, 1, F.size(words) - 1),
                        F.slice(words, 2, F.size(words) - 1),
                        lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
                    ),
                ).otherwise(
                    F.array().cast("array<struct<w1:string,w2:string>>")
                )
            ).alias("bg"),
        )
        .select(id_col, "bg.w1", "bg.w2")
        .where((F.col("w1") != "") & (F.col("w2") != ""))
    )
    tf = grams.groupBy(id_col, "w1", "w2").agg(F.count(F.lit(1)).alias("tf"))
    c12 = tf.groupBy("w1", "w2").agg(F.sum("tf").alias("__c12"))
    c1 = c12.groupBy("w1").agg(F.sum("__c12").alias("__c1"))
    contrib = (
        F.col("tf").cast("decimal(18,0)")
        * F.round(
            F.log2(F.col("__c12").cast("double") / F.col("__c1").cast("double")),
            6,
        ).cast("decimal(18,6)")
    )
    return (
        tf.join(c12, ["w1", "w2"])
        .join(c1, "w1")
        .groupBy(id_col)
        .agg(
            F.sum("tf").cast("bigint").alias("n_bigrams"),
            F.round(
                (-F.sum(contrib)).cast("double") / F.sum("tf").cast("double"),
                round_to,
            ).alias("bigram_ce"),
        )
    )


def pack_documents_ffd(
    df: DataFrame,
    budget: int,
    id_col: str = "doc_id",
    token_count_col: Column | None = None,
    shard_col: Column | str | None = None,
) -> DataFrame:
    """First-fit-decreasing bin packing: ``(id, n_tokens, pack_shard,
    pack_id)`` where no pack exceeds ``budget`` (oversize docs get a
    solo pack).

    The higher-utilization counterpart of ``pack_documents``: FFD is
    inherently sequential per shard (each placement depends on every
    earlier bin's fill), which no window/agg composition expresses —
    this is the legitimate ``applyInPandas`` case, Arrow-batched, one
    shuffle on the shard key. Shards (default: 32-way id hash) bound
    the sequential span; packs are shard-local, which is exactly what
    training packs want (no global order, bounded skew).

    Deterministic: within a shard docs place in (n_tokens DESC, id)
    order, ties and bin choice are fully ordered, so re-runs and
    engines agree.
    """
    import pandas as pd

    n_tok = (
        token_count_col if token_count_col is not None else token_count(F.col("text"))
    )
    if shard_col is None:
        shard = F.pmod(F.xxhash64(F.col(id_col)), F.lit(32)).cast("int")
    else:
        shard = F.col(shard_col) if isinstance(shard_col, str) else shard_col
    base = df.select(
        F.col(id_col).alias("__id"),
        n_tok.cast("bigint").alias("n_tokens"),
        shard.alias("pack_shard"),
    )

    def ffd(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(
            ["n_tokens", "__id"], ascending=[False, True]
        ).reset_index(drop=True)
        remaining: list[int] = []   # capacity left per pack
        assigned: list[int] = []
        for tok in pdf["n_tokens"]:
            for i, cap in enumerate(remaining):
                if tok <= cap:
                    remaining[i] = cap - tok
                    assigned.append(i)
                    break
            else:
                remaining.append(max(budget - tok, 0))
                assigned.append(len(remaining) - 1)
        pdf["pack_id"] = pd.Series(assigned, dtype="int64")
        return pdf

    # Output schema carries the caller's id type (string doc ids are
    # common) — a hardcoded 'long' would miscast or fail at runtime.
    out_schema = T.StructType(
        [
            T.StructField("__id", df.schema[id_col].dataType),
            T.StructField("n_tokens", T.LongType()),
            T.StructField("pack_shard", T.IntegerType()),
            T.StructField("pack_id", T.LongType()),
        ]
    )
    return (
        base.groupBy("pack_shard")
        .applyInPandas(ffd, schema=out_schema)
        .withColumnRenamed("__id", id_col)
        .select(id_col, "n_tokens", "pack_shard", "pack_id")
    )


def chunk_documents(
    df: DataFrame,
    chunk_tokens: int,
    overlap: int = 0,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Split documents into overlapping token-window chunks:
    ``(id, chunk_id, chunk_text, n_tokens)`` — the context-window
    chunker RAG indexing and long-document pretraining both need.

    Chunks start every ``chunk_tokens - overlap`` tokens and span up to
    ``chunk_tokens``; the final chunk may be shorter but a document
    never yields a chunk that is pure overlap (starts past the end).
    Empty/blank docs produce no chunks.

    Scale shape: one narrow projection builds the word array once per
    row, a per-row ``sequence`` of start offsets explodes to chunk
    rows, and each chunk materializes via ``slice`` + ``array_join`` —
    no shuffle at all; chunking pipelines with the scan.
    """
    step = chunk_tokens - overlap
    if step <= 0:
        raise ValueError("overlap must be smaller than chunk_tokens")
    words = F.split(F.trim(normalize_text(text_col)), " ")
    n = F.size(words)
    starts = F.sequence(F.lit(1), F.greatest(n - overlap, F.lit(1)), F.lit(step))
    base = df.where(F.length(F.trim(F.col(text_col))) > 0).select(
        F.col(id_col),
        words.alias("__w"),
        F.posexplode(starts).alias("chunk_id", "__start"),
    )
    piece = F.slice(F.col("__w"), F.col("__start"), chunk_tokens)
    return base.select(
        id_col,
        F.col("chunk_id").cast("bigint").alias("chunk_id"),
        F.array_join(piece, " ").alias("chunk_text"),
        F.size(piece).cast("bigint").alias("n_tokens"),
    )


def pmi_collocations(
    df: DataFrame,
    text_col: str = "text",
    min_count: int = 5,
    top_k: int = 20,
) -> DataFrame:
    """Top-k bigram collocations by pointwise mutual information:
    ``pmi = ln(c12·N / (c1·c2))`` with N = total corpus tokens —
    the classic "new york"/"machine learning" phrase detector.

    Ranking uses the 4-dp-rounded score with (w1, w2) tiebreak so
    engine ulp differences in ln() can't reorder the cut. Counts stay
    integer-exact until one final double division.

    Scale shape: bigrams explode from a per-row ``zip`` projection,
    aggregate with map-side combine (shuffle carries (w1,w2,count)),
    then two broadcast-joinable unigram lookups — unigram vocab of a
    100 TB corpus still fits an executor; if it didn't, the join key
    is the shuffle key and Catalyst falls back to sort-merge.
    """
    words = F.split(normalize_text(text_col), " ")
    toks = df.select(F.explode(words).alias("w")).where(F.col("w") != "")
    uni = toks.groupBy("w").agg(F.count(F.lit(1)).alias("c"))
    n_total = toks.agg(F.count(F.lit(1)).alias("__n"))

    grams = (
        df.select(
            F.explode(
                F.when(
                    F.size(words) >= 2,
                    F.zip_with(
                        F.slice(words, 1, F.size(words) - 1),
                        F.slice(words, 2, F.size(words) - 1),
                        lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
                    ),
                ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))
            ).alias("bg")
        )
        .select("bg.w1", "bg.w2")
        .where((F.col("w1") != "") & (F.col("w2") != ""))
    )
    c12 = (
        grams.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c12"))
        .where(F.col("c12") >= min_count)
    )
    scored = (
        c12.join(uni.select(F.col("w").alias("w1"), F.col("c").alias("c1")), "w1")
        .join(uni.select(F.col("w").alias("w2"), F.col("c").alias("c2")), "w2")
        .crossJoin(F.broadcast(n_total))
        .select(
            "w1",
            "w2",
            F.col("c12").cast("bigint").alias("c12"),
            F.round(
                F.log(
                    (F.col("c12").cast("double") * F.col("__n").cast("double"))
                    / (F.col("c1").cast("double") * F.col("c2").cast("double"))
                ),
                4,
            ).alias("pmi"),
        )
    )
    return scored.orderBy(
        F.col("pmi").desc(), F.col("w1"), F.col("w2")
    ).limit(top_k)


def ccnet_bucket_assign(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 256,
) -> DataFrame:
    """CCNet-style head/middle/tail corpus split (Wenzek et al. 2020,
    public): score every document with the unigram cross-entropy LM
    proxy, derive the tercile thresholds from a deterministic hash-rank
    sample of the scores, and label each doc ``head`` (most fluent,
    lowest CE), ``middle``, or ``tail``. The canonical use: train on
    head+middle, downsample or drop tail.

    Scale shape: the threshold sample is ``orderBy(md5-hash).limit(k)``
    — Spark executes that as TakeOrdered (per-partition top-k folded on
    the driver), NOT a single-partition global sort; thresholds then
    broadcast back as one row. Index arithmetic is pure-integer
    (``(m+2) div 3``), so an engine re-deriving the same sample gets
    bit-identical thresholds; CE scores are the 4-dp-rounded values of
    :func:`unigram_cross_entropy`, so the ``<=`` bucket comparisons
    cannot straddle an ulp.

    The CE frame feeds TWO consumers — the threshold sample and the
    final bucket projection. At 100 TB the CE pass (gram explode +
    vocabulary join) IS the cost, so it is staged (lazy
    ``localCheckpoint`` of the narrow ``(id, n_tokens, ce)`` frame)
    and computed once; both consumers read the stage
    (``test_ccnet_bucket_assign_stages_ce_frame`` pins the plan).
    """
    ce = unigram_cross_entropy(df, id_col, text_col).localCheckpoint(
        eager=False
    )
    h = F.conv(
        F.substring(
            F.md5(F.concat(F.col(id_col).cast("string"), F.lit(":ccb"))), 1, 15
        ),
        16,
        10,
    ).cast("bigint")
    sample = (
        ce.select(F.col(id_col), F.col("unigram_ce"))
        .orderBy(h.asc(), F.col(id_col).asc())
        .limit(k)
    )
    m = F.size(F.col("__v"))
    th = (
        sample.agg(F.sort_array(F.collect_list("unigram_ce")).alias("__v"))
        .select(
            F.element_at(
                F.col("__v"),
                F.greatest(
                    F.call_function("div", m + 2, F.lit(3)).cast("int"), F.lit(1)
                ),
            ).alias("__t1"),
            F.element_at(
                F.col("__v"),
                F.greatest(
                    F.call_function("div", m * 2 + 2, F.lit(3)).cast("int"),
                    F.lit(1),
                ),
            ).alias("__t2"),
        )
    )
    bucket = (
        F.when(F.col("unigram_ce") <= F.col("__t1"), F.lit("head"))
        .when(F.col("unigram_ce") <= F.col("__t2"), F.lit("middle"))
        .otherwise(F.lit("tail"))
    )
    return (
        ce.crossJoin(F.broadcast(th))
        .select(
            F.col(id_col),
            "n_tokens",
            "unigram_ce",
            bucket.alias("bucket"),
        )
    )


def dsir_importance_weights(
    df: DataFrame,
    target_cond: Column,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_buckets: int = 512,
    top_k: int | None = None,
) -> DataFrame:
    """Data Selection via Importance Resampling (DSIR, Xie et al. 2023,
    arXiv:2302.03169): score every raw document by how much its hashed
    bigram features look like a TARGET distribution rather than the raw
    corpus, then keep the highest-weight documents — the published
    recipe for tilting a web-scale crawl toward a quality domain
    without training a classifier.

    ``target_cond`` marks the target rows INSIDE ``df`` (e.g. a
    curated-source flag or a language gate); a NULL condition row is
    not target. Features are whitespace bigrams hashed into
    ``num_buckets`` buckets (the paper's hashed n-gram model); the
    per-document importance log-weight is

        log w(x) = Σ_grams ln( p_target(bucket) / p_raw(bucket) )

    with add-one smoothing on both distributions. Returns
    ``(id, n_grams, dsir_logw)`` — all documents when ``top_k`` is
    None, else the ``top_k`` highest-weight documents (importance
    resampling's keep set, deterministic id tiebreak).

    Cross-engine determinism: md5-derived buckets (DuckDB-replicable),
    per-bucket log-ratios rounded to 6 dp and cast to DECIMAL before
    the per-doc summation (exact, order-independent), final weight cast
    to DOUBLE.

    Scale shape: one explode → per-(doc,bucket) counts with map-side
    combine; ONE aggregate produces both the raw and target bucket
    counts (a conditional sum — no second corpus pass); the ≤
    ``num_buckets``-row log-ratio table and the 1-row totals broadcast
    to the scoring join; ``top_k`` executes as TakeOrderedAndProject
    (distributed top-k, no single-partition sort). No UDFs, no
    collect."""
    base = df.select(
        F.col(id_col),
        F.coalesce(target_cond, F.lit(False)).alias("__tgt"),
        F.filter(
            F.split(normalize_text(text_col), " "), lambda x: x != ""
        ).alias("__toks"),
    ).where(F.size("__toks") >= 2)
    grams = base.select(
        F.col(id_col),
        "__tgt",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("__toks") - 1),
                lambda i: F.concat_ws(
                    " ",
                    F.element_at(F.col("__toks"), i),
                    F.element_at(F.col("__toks"), i + F.lit(1)),
                ),
            )
        ).alias("__gram"),
    )
    bucket = (
        F.conv(F.substring(F.md5(F.col("__gram")), 1, 8), 16, 10)
        .cast("bigint")
        % num_buckets
    )
    # the (doc, bucket) count frame feeds TWO consumers — the corpus
    # bucket totals and the per-doc scoring join. At 100 TB the gram
    # explode + count IS the cost, so stage the narrow
    # (id, bucket, c, c_tgt) frame lazily and compute it once (same
    # discipline as ccnet_bucket_assign's CE stage).
    per_doc = (
        grams.groupBy(F.col(id_col), bucket.alias("__b"))
        .agg(
            F.count(F.lit(1)).alias("__c"),
            F.sum(F.when(F.col("__tgt"), 1).otherwise(0)).alias("__c_tgt"),
        )
        .localCheckpoint(eager=False)
    )
    buckets = per_doc.groupBy("__b").agg(
        F.sum("__c").alias("__cr"), F.sum("__c_tgt").alias("__ct")
    )
    totals = buckets.agg(
        F.sum("__cr").alias("__tr"), F.sum("__ct").alias("__tt")
    )
    lw = F.round(
        F.log(
            ((F.col("__ct") + 1).cast("double")
             / (F.col("__tt") + num_buckets).cast("double"))
            / ((F.col("__cr") + 1).cast("double")
               / (F.col("__tr") + num_buckets).cast("double"))
        ),
        6,
    ).cast("decimal(18,6)")
    ratios = buckets.crossJoin(F.broadcast(totals)).select(
        "__b", lw.alias("__lw")
    )
    out = (
        per_doc.join(F.broadcast(ratios), "__b")
        .groupBy(id_col)
        .agg(
            F.sum("__c").cast("bigint").alias("n_grams"),
            F.sum(F.col("__c").cast("decimal(18,0)") * F.col("__lw"))
            .cast("double")
            .alias("dsir_logw"),
        )
    )
    if top_k is not None:
        out = out.orderBy(
            F.col("dsir_logw").desc(), F.col(id_col)
        ).limit(top_k)
    return out


def zipf_alpha(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    top_n: int = 200,
) -> DataFrame:
    """Zipf-law exponent of the corpus term distribution — the classic
    corpus health diagnostic (natural language sits near α ≈ 1;
    boilerplate-heavy or synthetic corpora drift): an OLS fit of
    ``ln f_r = c - α · ln r`` over the ``top_n`` terms by frequency
    (deterministic term tiebreak). Returns ONE row
    ``(alpha, intercept, n_terms)``.

    Cross-engine determinism: ranks are integers from a count ordering
    with a term tiebreak; each (ln r, ln f) coordinate is rounded to
    6 dp and cast to DECIMAL, so all five OLS sums are exact and
    order-independent; the closed-form slope/intercept divisions are
    single double ops at the end.

    Scale shape: term counts with map-side combine; the top-N rank is
    a TakeOrdered-sized window over N rows (the count frame collapses
    to distinct terms first — corpus-scale text never reaches the
    window); the OLS is one aggregate over N rows."""
    toks = df.select(
        F.explode(F.split(normalize_text(text_col), " ")).alias("term")
    ).where(F.col("term") != "")
    counts = toks.groupBy("term").agg(F.count(F.lit(1)).alias("f"))
    top = counts.orderBy(
        F.col("f").desc(), F.col("term").asc()
    ).limit(top_n)
    ranked = top.select(
        F.row_number()
        .over(W.orderBy(F.col("f").desc(), F.col("term").asc()))
        .alias("r"),
        "f",
    )
    x = F.round(F.log(F.col("r").cast("double")), 6).cast("decimal(18,6)")
    y = F.round(F.log(F.col("f").cast("double")), 6).cast("decimal(18,6)")
    agg = ranked.select(x.alias("__x"), y.alias("__y")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("__x").alias("sx"),
        F.sum("__y").alias("sy"),
        F.sum(F.col("__x") * F.col("__y")).alias("sxy"),
        F.sum(F.col("__x") * F.col("__x")).alias("sxx"),
    )
    n = F.col("n").cast("double")
    sx = F.col("sx").cast("double")
    sy = F.col("sy").cast("double")
    sxy = F.col("sxy").cast("double")
    sxx = F.col("sxx").cast("double")
    slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    return agg.select(
        F.round(-slope, 4).alias("alpha"),
        F.round((sy - slope * sx) / n, 4).alias("intercept"),
        F.col("n").cast("bigint").alias("n_terms"),
    )


def _bpe_merge_step(syms: Column, left: Column, right: Column) -> Column:
    """One greedy-left BPE merge over a symbol array: every
    non-overlapping adjacent (left, right) collapses to left||right,
    scanning left to right (after a merge the scan resumes AFTER the
    merged token — the classic BPE re-segmentation). Pure array fold,
    JVM-side; ``left``/``right`` ride Columns so arbitrary symbol text
    never touches SQL literal quoting."""
    def step(acc, x):
        out, pend = acc.getField("out"), acc.getField("pend")
        merged = F.struct(
            F.array_append(out, F.concat(left, right)).alias("out"),
            F.lit(None).cast("string").alias("pend"),
        )
        shift = F.struct(F.array_append(out, pend).alias("out"), x.alias("pend"))
        start = F.struct(out.alias("out"), x.alias("pend"))
        return F.when(pend.isNull(), start).otherwise(
            F.when((pend == left) & (x == right), merged).otherwise(shift)
        )

    def fin(acc):
        out, pend = acc.getField("out"), acc.getField("pend")
        return F.when(pend.isNull(), out).otherwise(F.array_append(out, pend))

    # seed with an EMPTY array (array() types as array<string> after the
    # cast); pend NULL means "nothing buffered yet"
    acc0 = F.struct(
        F.expr("cast(array() as array<string>)").alias("out"),
        F.lit(None).cast("string").alias("pend"),
    )
    return F.aggregate(syms, acc0, step, fin)


def _bpe_merge_chain(pairs: list[tuple[str, str]], syms_col: str = "syms") -> tuple[Column, Column]:
    """A whole round's sequential merge folds as ONE parsed expression
    (r16 opt). The lambda-built :func:`_bpe_merge_step` costs ~60 ms of
    Py4J round-trips per merge — ~0.5 s per batched round, the dominant
    driver cost of the depth-64 trainer (measured r16 §1: 0.6 s/round
    of pure Column construction at sf0.1). This builder emits the same
    nested ``aggregate`` chain as SQL text and parses it once.

    Returns ``(mp, syms)``: ``mp`` is a literal ``array<struct<l, r,
    m>>`` column of the round's (left, right, left||right) triples —
    the symbols ride a LITERAL COLUMN, preserving
    :func:`_bpe_merge_step`'s no-symbol-text-in-SQL discipline (the
    fold references ``element_at(__mp, i)``, and constant folding
    reduces those lookups to the same inline literals the per-step form
    carried) — and ``syms`` is the chained fold over ``syms_col``,
    referencing ``mp`` as ``__mp``. Apply as
    ``withColumn("__mp", mp).select(..., syms.alias("syms"), ...)``.
    Value identity with the per-step chain is pinned by
    ``test_bpe_merge_chain_matches_per_step_chain``; the batched-BPE
    oracle (corpus_bpe_merges_batched8) replays the same application.
    """
    mp = F.array(
        *[
            F.struct(
                F.lit(l).alias("l"), F.lit(r).alias("r"), F.lit(l + r).alias("m")
            )
            for l, r in pairs
        ]
    )
    syms = qident(syms_col)
    for i in range(1, len(pairs) + 1):
        p = f"element_at(__mp, {i})"
        syms = (
            f"aggregate({syms}, "
            "struct(cast(array() as array<string>) as out, "
            "cast(null as string) as pend), "
            "(acc, x) -> case "
            "when acc.pend is null then struct(acc.out as out, x as pend) "
            f"when acc.pend = {p}.l and x = {p}.r then "
            f"struct(array_append(acc.out, {p}.m) as out, "
            "cast(null as string) as pend) "
            "else struct(array_append(acc.out, acc.pend) as out, x as pend) "
            "end, "
            "acc -> case when acc.pend is null then acc.out "
            "else array_append(acc.out, acc.pend) end)"
        )
    return mp, F.expr(syms)


def bpe_train_merges(
    df: DataFrame,
    text_col: str = "text",
    n_merges: int = 3,
    min_freq: int = 1,
    return_vocab: bool = False,
    batch_size: int = 1,
    max_rounds: int | None = None,
):
    """Train byte-pair-encoding merges on the corpus — the tokenizer-
    training loop (Sennrich et al. 2016) as a distributed computation.

    Each round counts adjacent symbol pairs WEIGHTED BY WORD FREQUENCY
    over the distinct-word table (vocab-sized state — the corpus is
    scanned once, every iteration after that touches only |vocab|
    rows), picks the most frequent pair (ties break lexicographically
    so the result is deterministic), and re-segments every word with a
    greedy-left array fold. The chosen pair is a 1-row driver
    round-trip per merge (control-plane, like k-means centroids); the
    re-segmentation itself never leaves the executors. No end-of-word
    marker (merges stay within words).

    ``batch_size > 1`` is the production-tokenizer mode (a 32k-merge
    vocabulary must not mean 32k sequential Spark jobs): each round
    selects, in rank order, up to ``batch_size`` pairwise
    SYMBOL-DISJOINT pairs from one count (a pair sharing a symbol with
    an earlier selection is skipped — its count may be stale after
    that merge applies; a disjoint pair's count provably is not, since
    a greedy merge of (a,b) only creates/destroys pairs touching a or
    b), and applies them in ONE chained fold + checkpoint. Driver
    round-trips and lineage cuts collapse by ~batch_size×. Within a
    round the application order of disjoint pairs is immaterial (they
    can't interact), and the recorded ``pair_freq`` values are the
    true application-time counts. Selection can diverge from
    batch_size=1 training only where a merge CREATED a pair that
    outranks the rest of the batch — the standard batched-BPE
    trade-off; ``batch_size=1`` reproduces classic sequential BPE
    bit-for-bit.

    ``max_rounds`` caps the number of count→select→apply rounds. A
    round that finds fewer than ``batch_size`` symbol-disjoint pairs
    in its candidate buffer normally just recounts next round, so the
    loop can run MORE than ``ceil(n_merges / batch_size)`` rounds on
    such a corpus; a fixed-round replay (the SQL oracle twin, which
    unrolls one CTE chain per round) needs both sides to stop at the
    same round count. When ``batch_size`` divides ``n_merges`` the
    per-round selection quota is identical on both sides regardless of
    earlier short rounds, so a capped run is replayable exactly.

    Returns the merge table ``(step, left, right, pair_freq)`` —
    ``n_merges`` rows (fewer if the corpus runs out of repeated pairs
    above ``min_freq`` or ``max_rounds`` is hit). With
    ``return_vocab=True`` also returns the
    final segmented vocabulary ``(w, n_sym)`` — the word → token-count
    map ``bpe_token_counts`` joins against, so apply never re-folds.
    """
    if batch_size < 1:
        raise ValueError("batch_size must be >= 1")
    toks = (
        df.select(F.explode(F.split(normalize_text(text_col), " ")).alias("w"))
        .where(F.col("w") != "")
    )
    # lazy checkpoints throughout the merge loop (r16 opt, guide §5):
    # each round's pair-count job is a full scan of the previous
    # round's words, so it materializes that checkpoint in the same
    # job — the eager form paid one extra materialization job per
    # round (and always materialized the FINAL round's words, which a
    # return_vocab=False caller never reads)
    words = (
        toks.groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
        .select("w", F.split("w", "").alias("syms"), "freq")
        .localCheckpoint(eager=False)
    )
    merges: list[tuple[int, str, str, int]] = []
    rounds_run = 0
    while len(merges) < n_merges and (
        max_rounds is None or rounds_run < max_rounds
    ):
        rounds_run += 1
        pairs = (
            words.select(
                "freq",
                F.explode(
                    F.zip_with(
                        F.slice("syms", 1, F.size("syms") - 1),
                        F.slice("syms", 2, F.size("syms") - 1),
                        lambda a, b: F.struct(a.alias("l"), b.alias("r")),
                    )
                ).alias("p"),
            )
            .groupBy(F.col("p.l").alias("l"), F.col("p.r").alias("r"))
            .agg(F.sum("freq").alias("cnt"))
        )
        want = min(batch_size, n_merges - len(merges))
        # rank-ordered candidate buffer: 4× covers skips from symbol
        # overlap in practice; a short batch just recounts next round
        top = (
            pairs.where(F.col("cnt") >= min_freq)
            .orderBy(F.desc("cnt"), "l", "r")
            .limit(max(want * 4, want))
            .collect()
        )
        if not top:
            break
        selected: list = []
        used: set[str] = set()
        for r in top:
            if len(selected) == want:
                break
            if r["l"] in used or r["r"] in used:
                continue
            selected.append(r)
            used.update((r["l"], r["r"]))
        for r in selected:
            merges.append((len(merges) + 1, r["l"], r["r"], r["cnt"]))
        # one parsed expression for the whole round's sequential folds
        # (r16 opt — see _bpe_merge_chain; value-identical to chaining
        # _bpe_merge_step per merge)
        mp, syms = _bpe_merge_chain([(r["l"], r["r"]) for r in selected])
        words = (
            words.withColumn("__mp", mp)
            .select("w", syms.alias("syms"), "freq")
            .localCheckpoint(eager=False)
        )
    spark = df.sparkSession
    merge_df = local_frame(
        spark, merges, "step int, left string, right string, pair_freq bigint"
    )
    if return_vocab:
        vocab = words.select("w", F.size("syms").cast("bigint").alias("n_sym"))
        return merge_df, vocab
    return merge_df


def substring_vocab(
    df: DataFrame,
    text_col: str = "text",
    max_piece_len: int = 4,
    top_n: int = 200,
    word_freqs: DataFrame | None = None,
) -> DataFrame:
    """Candidate piece vocabulary for unigram-style tokenization: every
    substring (length ≤ ``max_piece_len``) of every word, weighted by
    word OCCURRENCE frequency, ranked ``(freq DESC, piece ASC)``. The
    top ``top_n`` pieces are kept, plus ALL single characters
    regardless of rank — the unigram-tokenizer segmentability
    guarantee (every word must admit at least the char-by-char
    segmentation). ``cost_units = rank WITHIN THE KEPT SET`` — an
    integer-exact frequency-rank cost (rarer piece = higher cost): the
    top ``top_n`` pieces get their global ranks 1..top_n (they ARE the
    global top), below-cutoff single chars get the next consecutive
    ranks in the same ``(freq DESC, piece ASC)`` order. Production
    callers substitute ``round(-log p · 10^6)`` units, the operator is
    cost-agnostic. Returns ``(piece, cost_units)``.

    Scale shape: one word-frequency agg, one substring explode over
    the DISTINCT-word table (vocab-sized), one count agg; the top-n
    cut is a distributed ``TakeOrderedAndProject`` (never a global
    single-partition rank window over the piece table), and the final
    ranking happens driver-side over the KEPT rows only
    (≤ top_n + alphabet — control-plane, like k-means centroids), so
    this call is EAGER: it runs the counting job and returns a small
    local DataFrame, ready to broadcast into the segmenter. The
    control-plane claim is ENFORCED, not assumed: a ``top_n`` above
    ``SUBSTRING_VOCAB_MAX_KEPT`` (1e6) raises up front, and the collect
    itself is LIMIT-capped and raises if the kept set exceeds the cap
    (a pathological alphabet can't flood the driver). ``word_freqs``
    shares a precomputed :func:`word_frequencies` frame across the
    tokenizer-build stages."""
    words = (
        word_freqs
        if word_freqs is not None
        else word_frequencies(df, text_col)
    ).select("w", "freq")
    # substring() needs literal args in the Column form — build the
    # (start, len) grid with one expr-side comprehension instead
    pieces = (
        words.select(
            "freq",
            F.explode(
                F.expr(
                    "flatten(transform(sequence(1, length(w)), i -> "
                    f"filter(transform(sequence(1, {int(max_piece_len)}), "
                    "l -> case when i + l - 1 <= length(w) "
                    "then substring(w, i, l) end), x -> x is not null)))"
                )
            ).alias("piece"),
        )
        .groupBy("piece")
        .agg(F.sum("freq").alias("__f"))
    )
    if top_n > SUBSTRING_VOCAB_MAX_KEPT:
        raise ValueError(
            f"substring_vocab: top_n={top_n} exceeds the control-plane "
            f"cap {SUBSTRING_VOCAB_MAX_KEPT} — the kept set is collected "
            "to the driver, so it must stay vocabulary-sized"
        )
    top = pieces.orderBy(F.desc("__f"), F.asc("piece")).limit(top_n)
    chars = pieces.where(F.length("piece") == 1)
    # LIMIT cap+1 bounds driver memory even before the size check fires
    # (a pathological alphabet can't materialize unbounded rows first)
    kept = (
        top.unionByName(chars)
        .groupBy("piece")
        .agg(F.max("__f").alias("__f"))
        .limit(SUBSTRING_VOCAB_MAX_KEPT + 1)
        .collect()
    )
    if len(kept) > SUBSTRING_VOCAB_MAX_KEPT:
        raise ValueError(
            f"substring_vocab: kept set exceeds the control-plane cap "
            f"{SUBSTRING_VOCAB_MAX_KEPT} rows (top_n + alphabet) — this "
            "eager collect is only sound for vocabulary-sized outputs"
        )
    kept.sort(key=lambda r: (-r["__f"], r["piece"]))
    return local_frame(
        df.sparkSession,
        [(r["piece"], i) for i, r in enumerate(kept, 1)],
        "piece string, cost_units bigint",
    )


#: hard cap on substring_vocab's driver-side kept set (top_n +
#: alphabet) — enforces the "control-plane-sized collect" claim
SUBSTRING_VOCAB_MAX_KEPT = 1_000_000

#: unreachable-position sentinel and the (cost, n_pieces) packing base
#: for the Viterbi fold: combined = cost_units·1024 + n_pieces, so one
#: integer min is the lexicographic (cost, fewest-pieces) argmin.
_VITERBI_BIG = 10**15
_VITERBI_K = 1024


def viterbi_segment_words(
    df: DataFrame,
    vocab: DataFrame,
    text_col: str = "text",
    piece_col: str = "piece",
    cost_col: str = "cost_units",
    max_word_len: int = 512,
    words: DataFrame | None = None,
    max_piece_len: int | None = None,
) -> DataFrame:
    """Minimum-cost (Viterbi) segmentation of every DISTINCT word under
    an integer piece-cost vocabulary — the unigram-LM tokenizer's
    inference pass (Kudo 2018) with the package's fixed-point
    discipline: costs are INTEGER units (the vocab builder uses
    frequency ranks; production uses ``round(-log p · 1e6)``), the DP
    state packs ``(total_cost, n_pieces)`` into one bigint
    (``cost·1024 + pieces`` — the min is the lexicographic argmin with
    fewest-pieces tiebreak), and every step is integer arithmetic, so
    a DuckDB oracle unrolls the same recurrence bit-for-bit.

    The DP itself is ONE array fold per distinct word (``F.aggregate``
    over char positions; candidates at position i are the vocab pieces
    ending there, looked up from a pre-joined edge list) — no UDF, no
    driver loop, vocab-sized work. Words with no segmentation (a
    character outside the vocab) return NULL pieces. Returns
    ``(w, vit_cost_units, vit_n_pieces)``."""
    base = _viterbi_base(
        df, vocab, text_col, piece_col, cost_col, max_word_len, words=words,
        max_piece_len=max_piece_len,
    )
    folded = base.select("w", _viterbi_best_col().alias("__bestarr"))
    big, k = _VITERBI_BIG, _VITERBI_K
    best = F.element_at(F.col("__bestarr"), -1)
    return folded.select(
        "w",
        F.when(best < big, F.expr(f"element_at(__bestarr, -1) div {k}")).alias(
            "vit_cost_units"
        ),
        F.when(best < big, best % k).alias("vit_n_pieces"),
    )


def word_frequencies(df: DataFrame, text_col: str = "text") -> DataFrame:
    """``(w, freq)`` — corpus word-occurrence counts over the
    normalized token definition every unigram-tokenizer stage shares.
    Composites that run several stages over the same corpus
    (vocab build → EM round → final token count) should compute this
    ONCE, ``localCheckpoint()`` it, and pass it down via the stages'
    ``word_freqs``/``words`` parameters — one corpus scan instead of
    one per stage."""
    return (
        spread_for_compute(df.select(text_col))
        .select(F.explode(F.split(normalize_text(text_col), " ")).alias("w"))
        .where(F.col("w") != "")
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
    )


def _viterbi_base(
    df: DataFrame,
    vocab: DataFrame,
    text_col: str,
    piece_col: str,
    cost_col: str,
    max_word_len: int,
    words: DataFrame | None = None,
    max_piece_len: int | None = None,
) -> DataFrame:
    """Shared DP input frame ``(w, __edges)``: the corpus's distinct
    words, each with its packed edge list — every ``(start, end,
    cost)`` arc where a vocab piece spans those word positions. One
    substring explode over the DISTINCT-word table (vocab-sized) + one
    vocab join; both Viterbi entry points fold over it. ``words``
    short-circuits the distinct-word scan with a caller-shared
    ``(w)`` frame (see :func:`word_frequencies`)."""
    if words is not None:
        words = words.select("w")
    else:
        words = (
            spread_for_compute(df.select(text_col))
            .select(
                F.explode(F.split(normalize_text(text_col), " ")).alias("w")
            )
            .where(F.col("w") != "")
            .distinct()
            .localCheckpoint(eager=False)  # guard + spans + final join reuse
        )
    too_long = words.where(F.length("w") > max_word_len)
    if too_long.limit(1).count():
        raise ValueError(
            f"viterbi_segment_words: word longer than {max_word_len} chars "
            "(n_pieces would overflow the packing base) — raise "
            "max_word_len only alongside _VITERBI_K"
        )
    v = vocab.select(
        F.col(piece_col).alias("__p"), F.col(cost_col).alias("__c")
    )
    if max_piece_len is not None:
        # caller-supplied UPPER BOUND on piece length (r16 opt, guide
        # §5): the builders know it statically — substring_vocab's own
        # max_piece_len, preserved by every EM round and prune — so the
        # per-stage max(length) probe job is pure overhead. Any bound
        # >= the true max yields IDENTICAL edges: longer candidate
        # substrings simply find no vocab match in the span join. The
        # caller also asserts the vocab is non-empty (the probe's other
        # duty); the library composites satisfy both by construction.
        max_plen = int(max_piece_len)
    else:
        max_plen = v.agg(F.max(F.length("__p"))).first()[0]
        if max_plen is None:
            raise ValueError(
                "viterbi_segment_words: empty vocabulary — nothing can "
                "segment (substring_vocab always keeps the single chars)"
            )
    spans = words.select(
        "w",
        F.explode(
            F.expr(
                "flatten(transform(sequence(1, length(w)), i -> "
                f"filter(transform(sequence(1, {int(max_plen)}), "
                "l -> case when i + l - 1 <= length(w) then "
                "struct(i as start, i + l - 1 as end, substring(w, i, l) as piece) end), "
                "x -> x is not null)))"
            )
        ).alias("e"),
    ).select("w", F.col("e.start").alias("start"), F.col("e.end").alias("end"), F.col("e.piece").alias("piece"))
    edges = (
        spans.join(v, spans["piece"] == v["__p"])
        .groupBy("w")
        .agg(
            F.collect_list(
                F.struct(
                    F.col("start").cast("int").alias("s"),
                    F.col("end").cast("int").alias("e"),
                    F.col("__c").cast("bigint").alias("c"),
                )
            ).alias("__edges")
        )
    )
    return words.join(edges, "w", "left").select(
        "w",
        F.coalesce(
            "__edges",
            F.expr("cast(array() as array<struct<s:int,e:int,c:bigint>>)"),
        ).alias("__edges"),
    )


def _viterbi_best_col() -> Column:
    """The forward Viterbi fold as a Column over a ``(w, __edges)``
    frame: returns the FULL best array (length ``len(w)+1``;
    1-indexed ``element_at(arr, i+1)`` is the packed optimum for the
    prefix of length ``i``, ``_VITERBI_BIG`` = unreachable). Shared by
    the cost-only entry point and the backtracing one.

    ONE parsed expression (r16 opt — the lambda-built fold cost
    ~0.1 s of Py4J round-trips per construction, rebuilt once per EM
    stage; same Catalyst operators, value identity pinned by the
    Viterbi/EM oracles and test_viterbi_best_col_expr_matches_lambda)."""
    big, k = _VITERBI_BIG, _VITERBI_K
    step = (
        "(acc, i) -> array_append(acc, coalesce(array_min("
        "transform(filter(__edges, e -> e.e = i), "
        f"e -> case when element_at(acc, e.s) < {big} "
        f"then element_at(acc, e.s) + e.c * {k} + 1 "
        f"else cast({big} as bigint) end)), cast({big} as bigint)))"
    )
    return F.expr(
        "aggregate(sequence(1, length(w)), array(cast(0 as bigint)), "
        + step
        + ")"
    )


def viterbi_segment_pieces(
    df: DataFrame,
    vocab: DataFrame,
    text_col: str = "text",
    piece_col: str = "piece",
    cost_col: str = "cost_units",
    max_word_len: int = 512,
    words: DataFrame | None = None,
    max_piece_len: int | None = None,
) -> DataFrame:
    """The argmin segmentation ITSELF per distinct word — ``(w, pieces
    array<string>)``, NULL for unsegmentable words. Forward DP (the
    same packed fold as :func:`viterbi_segment_words`) plus an
    expression-side backtrace: walking right-to-left, among the edges
    that achieve the position's packed optimum the LONGEST piece
    (smallest start) wins — a deterministic tiebreak an oracle can
    replay (the packed value already pins cost AND piece count, so the
    tie only chooses BETWEEN equal-cost segmentations). Both passes
    are one ``F.aggregate`` fold per distinct word; no UDF, no driver
    loop. The unigram-LM hard-EM trainer's E-step
    (:func:`unigram_em_costs`) consumes this."""
    base = _viterbi_base(
        df, vocab, text_col, piece_col, cost_col, max_word_len, words=words,
        max_piece_len=max_piece_len,
    )
    folded = base.select(
        "w", "__edges", _viterbi_best_col().alias("__best")
    )
    big, k = _VITERBI_BIG, _VITERBI_K
    # backtrace fold as ONE parsed expression (r16 opt — the same
    # Py4J-construction collapse as _viterbi_best_col; op-for-op the
    # lambda form it replaces, and `chosen` repeats textually exactly
    # where the Column handle was reused, so the Catalyst tree is the
    # same duplicated subtree either way). Each step consumes >= 1
    # character, so len(w) iterations always reach position 0.
    chosen = (
        "array_sort(transform(filter(__edges, ed -> ed.e = st.p "
        f"and element_at(__best, ed.s) < {big} "
        f"and element_at(__best, ed.s) + ed.c * {k} + 1 = "
        "element_at(__best, st.p + 1)), "
        "ed -> struct(ed.s as s, ed.e as e)))[0]"
    )
    back_fold = (
        "aggregate(sequence(1, length(w)), "
        "struct(cast(length(w) as int) as p, "
        "cast(array() as array<struct<s:int,e:int>>) as segs), "
        "(st, i) -> case when st.p <= 0 then st else "
        f"struct(cast({chosen}.s - 1 as int) as p, "
        f"array_append(st.segs, {chosen}) as segs) end).segs"
    )
    traced = folded.select(
        "w",
        F.element_at(F.col("__best"), -1).alias("__fin"),
        F.expr(back_fold).alias("__segs"),
    )
    return traced.select(
        "w",
        F.expr(
            f"case when __fin < {big} then reverse(transform(__segs, "
            "g -> substring(w, g.s, g.e - g.s + 1))) end"
        ).alias("pieces"),
    )


def unigram_em_costs(
    df: DataFrame,
    vocab: DataFrame,
    text_col: str = "text",
    piece_col: str = "piece",
    cost_col: str = "cost_units",
    scale: int = 10**6,
    max_word_len: int = 512,
    word_freqs: DataFrame | None = None,
    max_piece_len: int | None = None,
) -> DataFrame:
    """ONE hard-EM (Viterbi-EM) round of the unigram LM tokenizer
    (Kudo 2018, public): E-step = each distinct word's argmin
    segmentation under the CURRENT integer costs
    (:func:`viterbi_segment_pieces`); M-step = occurrence-weighted
    piece counts over those segmentations become probabilities, and
    the new integer costs are ``round(-ln(count/total) · scale)`` —
    the ``round(-log p · 1e6)`` units the DP was built cost-agnostic
    for (``viterbi_segment_words`` docstring). Pieces that win ZERO
    counts drop from the vocabulary (Kudo's pruning); every corpus
    word stays segmentable because its own best segmentation's pieces
    all counted. Iterate by feeding the result back in as ``vocab``.

    Returns ``(piece, cost_units, piece_count)`` — control-plane
    sized (≤ the input vocabulary). Scale shape: one distinct-word DP
    fold, one explode + occurrence-weighted count agg (shuffle
    carries (piece, count)), one broadcast total. The single ln() per
    PIECE (vocab-sized, not corpus-sized) rounds at unit scale before
    the cast, the package's cross-engine float discipline.
    ``word_freqs`` shares a precomputed :func:`word_frequencies` frame
    (it also feeds the E-step's distinct-word base) — pass a
    checkpointed one when composing several stages over one corpus."""
    wfreq = (
        word_freqs if word_freqs is not None else word_frequencies(df, text_col)
    ).select("w", F.col("freq").alias("__freq"))
    seg = viterbi_segment_pieces(
        df, vocab, text_col=text_col, piece_col=piece_col,
        cost_col=cost_col, max_word_len=max_word_len,
        words=wfreq, max_piece_len=max_piece_len,
    )
    counts = (
        wfreq.join(seg, "w")
        .where(F.col("pieces").isNotNull())
        .select(F.explode("pieces").alias(piece_col), "__freq")
        .groupBy(piece_col)
        .agg(F.sum("__freq").alias("piece_count"))
    )
    total = counts.agg(F.sum("piece_count").alias("__total"))
    # ACCEPTED TRANSCENDENTAL RISK (round-11 verdict watch item): this
    # rounds -ln(p)·scale, and libm ln is only correctly-rounded to
    # ~1 ULP — unlike the package's otherwise rational/fixed-point
    # discipline. A JVM↔DuckDB divergence needs -ln(p)·scale to land
    # within one double ULP of a .5 rounding boundary; the boundary
    # margin is asserted on the test corpora by
    # test_em_cost_units_clear_of_rounding_boundaries, so a future
    # cross-engine flake here is diagnosable in minutes.
    cost = F.round(
        -F.log(
            F.col("piece_count").cast("double")
            / F.col("__total").cast("double")
        )
        * F.lit(float(scale))
    ).cast("bigint")
    # EAGER: the result is vocab-sized (control-plane) but its lineage
    # embeds the full distributed E-step DP — left lazy, every
    # downstream action (max_plen probe, edge join, broadcast) would
    # re-run the whole EM round; the checkpoint pins it to one
    # execution, the same eager contract as substring_vocab
    return (
        counts.crossJoin(F.broadcast(total))
        .select(F.col(piece_col), cost.alias(cost_col), F.col("piece_count"))
        .localCheckpoint()
    )


def prune_vocab_bottom(
    vocab: DataFrame,
    prune_num: int = 1,
    prune_den: int = 5,
    piece_col: str = "piece",
    cost_col: str = "cost_units",
) -> DataFrame:
    """Kudo-style vocabulary pruning: drop the
    ``(n_multi·prune_num) // prune_den`` MULTI-char pieces with the
    smallest occurrence counts (ties by piece ascending — a total,
    engine-replayable order), always keeping every single-char piece
    (``substring_vocab``'s segmentability discipline). The vocab is
    control-plane sized by contract (``unigram_em_costs`` output ≤ its
    input ≤ the substring_vocab cap), so this is one bounded driver
    sort — enforced, not assumed. Returns ``(piece, cost_units,
    piece_count)`` re-created from the driver (no lineage back into
    the EM round)."""
    if not 0 <= prune_num < prune_den:
        raise ValueError(
            "prune_vocab_bottom: need 0 <= prune_num < prune_den "
            f"(got {prune_num}/{prune_den})"
        )
    # the guard must fire before an UNBOUNDED collect can land on the
    # driver — a limit(cap + 1) bounds the materialization at cap + 1
    # rows, so the size probe and the collect are ONE job (r15 opt:
    # this runs once per EM round; the separate probe+collect paid two
    # driver round-trips for the same scan)
    rows = (
        vocab.select(piece_col, cost_col, "piece_count")
        .limit(SUBSTRING_VOCAB_MAX_KEPT + 1)
        .collect()
    )
    if len(rows) > SUBSTRING_VOCAB_MAX_KEPT:
        raise ValueError(
            f"prune_vocab_bottom: vocabulary exceeds the control-plane "
            f"cap {SUBSTRING_VOCAB_MAX_KEPT} rows — this driver-side "
            "sort is only sound for vocabulary-sized inputs"
        )
    multi = [r for r in rows if len(r[piece_col]) > 1]
    singles = [r for r in rows if len(r[piece_col]) == 1]
    n_drop = (len(multi) * prune_num) // prune_den
    multi.sort(key=lambda r: (r["piece_count"], r[piece_col]))
    kept = multi[n_drop:] + singles
    return local_frame(
        vocab.sparkSession,
        [(r[piece_col], r[cost_col], r["piece_count"]) for r in kept],
        f"{piece_col} string, {cost_col} bigint, piece_count bigint",
    )


def unigram_em_train(
    df: DataFrame,
    vocab: DataFrame,
    rounds: int = 2,
    prune_num: int = 1,
    prune_den: int = 5,
    text_col: str = "text",
    piece_col: str = "piece",
    cost_col: str = "cost_units",
    scale: int = 10**6,
    max_word_len: int = 512,
    word_freqs: DataFrame | None = None,
    max_piece_len: int | None = None,
) -> DataFrame:
    """The ITERATED unigram-LM trainer (the full Kudo 2018 loop the
    one-round :func:`unigram_em_costs` docstring points at): R hard-EM
    rounds, with bottom-fraction piece pruning BETWEEN rounds
    (:func:`prune_vocab_bottom` — the final round's costs are returned
    unpruned, they are the trained vocabulary). Each round is the same
    two-job EM shape; the loop is R driver round-trips exactly like
    the BPE trainer's merge rounds, and every intermediate vocabulary
    is control-plane sized. Hard-EM keeps the corpus's total Viterbi
    cost non-increasing across unpruned rounds up to the ±0.5-unit
    cost rounding (pinned by
    ``test_unigram_em_train_total_cost_non_increasing``); pruning
    trades a bounded cost increase for a smaller vocabulary. Pass a
    checkpointed ``word_freqs`` to share one corpus scan across all
    rounds."""
    if rounds < 1:
        raise ValueError("unigram_em_train: rounds must be >= 1")
    wfreq = (
        word_freqs
        if word_freqs is not None
        else word_frequencies(df, text_col).localCheckpoint()
    )
    cur = vocab
    for r in range(rounds):
        cur = unigram_em_costs(
            df, cur, text_col=text_col, piece_col=piece_col,
            cost_col=cost_col, scale=scale, max_word_len=max_word_len,
            word_freqs=wfreq, max_piece_len=max_piece_len,
        )
        if r < rounds - 1 and prune_num > 0:
            cur = prune_vocab_bottom(
                cur, prune_num, prune_den, piece_col, cost_col
            )
    return cur


def viterbi_token_counts(
    df: DataFrame,
    vocab: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    piece_col: str = "piece",
    cost_col: str = "cost_units",
    words: DataFrame | None = None,
    max_piece_len: int | None = None,
) -> DataFrame:
    """Per-document token counts and total segmentation cost under the
    Viterbi tokenizer — the unigram sibling of :func:`bpe_token_counts`
    (same scale shape: the DP folds once per DISTINCT word; documents
    join the broadcast word→pieces map and sum).

    A word the vocab cannot segment (NULL DP result — possible with
    any user-supplied vocab missing a character) poisons its document:
    both totals come back NULL rather than a silently-undercounted sum
    that reads as a valid token count."""
    seg = viterbi_segment_words(
        df, vocab, text_col=text_col, piece_col=piece_col, cost_col=cost_col,
        words=words, max_piece_len=max_piece_len,
    )
    toks = df.select(
        F.col(id_col),
        F.explode(F.split(normalize_text(text_col), " ")).alias("w"),
    ).where(F.col("w") != "")
    ok = F.col("__n_failed") == 0
    return (
        toks.join(F.broadcast(seg), "w")
        .groupBy(id_col)
        .agg(
            F.count(F.when(F.col("vit_n_pieces").isNull(), 1)).alias(
                "__n_failed"
            ),
            F.sum("vit_n_pieces").alias("__tok"),
            F.sum("vit_cost_units").alias("__cost"),
        )
        .select(
            id_col,
            F.when(ok, F.col("__tok")).alias("viterbi_tokens"),
            F.when(ok, F.col("__cost")).alias("viterbi_cost_units"),
        )
    )


def bpe_token_counts(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_merges: int = 3,
    min_freq: int = 1,
) -> DataFrame:
    """Apply BPE (train + tokenize in one call): per-document token
    counts under the merges :func:`bpe_train_merges` learns on this
    corpus — the budget the packing/mixing stages consume.

    Scale shape: the fold runs once per DISTINCT WORD (vocab-sized),
    never per occurrence; documents then join the ``(word, n_sym)``
    map (broadcast — a vocabulary is small next to a corpus) and sum.
    """
    _, vocab = bpe_train_merges(
        df, text_col=text_col, n_merges=n_merges, min_freq=min_freq,
        return_vocab=True,
    )
    toks = df.select(
        F.col(id_col),
        F.explode(F.split(normalize_text(text_col), " ")).alias("w"),
    ).where(F.col("w") != "")
    return (
        toks.join(F.broadcast(vocab), "w")
        .groupBy(id_col)
        .agg(F.sum("n_sym").alias("bpe_tokens"))
    )
