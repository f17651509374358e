"""Corpus-cleaning operators for training-data pipelines: benchmark
decontamination, PII redaction, and boilerplate-line removal.

Beyond-reference surface (BASELINE.json north star). All three are
pure DataFrame programs: redaction is a narrow projection (pipelines
with the parquet scan, zero shuffles); decontamination and boilerplate
removal each cost the minimal shuffles their semantics require, and
the shuffled payloads are hashes/lines — never whole documents.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from data_ingestion_framework_spark.session import local_frame

from .skew import spread_for_compute
from .text import normalize_text

__all__ = [
    "decontaminate",
    "decontaminate_filter",
    "redact_pii",
    "remove_boilerplate_lines",
    "PII_PATTERNS",
]


def _word_gram_hashes(text: Column, n: int) -> Column:
    """Distinct md5 hashes of word n-grams of the normalized text.

    md5 (not xxhash64) so the operator is oracle-portable; the hash —
    not the gram text — is what crosses the exchange. Documents shorter
    than ``n`` words contribute no grams (an eval answer can't be
    "contained" in a shorter fragment).
    """
    words = F.split(normalize_text(text), " ")
    k = F.size(words)
    return F.when(
        k >= n,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), k - n + 1),
                lambda i: F.md5(F.array_join(F.slice(words, i, n), " ")),
            )
        ),
    ).otherwise(F.array().cast("array<string>"))


def decontaminate(
    docs: DataFrame,
    benchmark: DataFrame,
    n: int = 13,
    id_col: str = "doc_id",
    text_col: str = "text",
    bench_text_col: str = "text",
) -> DataFrame:
    """Benchmark decontamination (the GPT-3/PaLM procedure): flag every
    training document that shares at least one word ``n``-gram with the
    benchmark/eval set. Returns ``(id, n_contaminated_grams,
    contaminated)`` — one row per input document.

    Scale shape: the benchmark's distinct gram hashes are a *small*
    relation (eval sets are KBs against a 100 TB corpus) and are
    broadcast; the corpus side explodes to ``(id, gram_hash)`` and
    inner-joins map-side — no corpus-wide shuffle. The per-doc count
    then aggregates on ``id`` (partial map-side combine), and a final
    broadcast-back of the *contaminated id set* would be wrong at scale
    (it can be large), so the flag rejoins on the id key instead.
    """
    bench_grams = (
        benchmark.select(
            F.explode(_word_gram_hashes(F.col(bench_text_col), n)).alias("__g")
        )
        .distinct()
    )
    doc_grams = spread_for_compute(docs.select(id_col, text_col)).select(
        F.col(id_col), F.explode(_word_gram_hashes(F.col(text_col), n)).alias("__g")
    )
    hits = (
        doc_grams.join(F.broadcast(bench_grams), "__g")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_contaminated_grams"))
    )
    return (
        docs.select(id_col)
        .join(hits, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_contaminated_grams", F.lit(0)).cast("bigint").alias(
                "n_contaminated_grams"
            ),
            (F.coalesce("n_contaminated_grams", F.lit(0)) > 0).alias("contaminated"),
        )
    )


def build_gram_bloom(
    grams: DataFrame, col: str = "__g", m_bits: int = 1 << 18, k: int = 4
) -> DataFrame:
    """Build a Bloom filter over a gram-hash column as a 1-row
    ``(bloom array<bigint>)`` DataFrame ready to broadcast.

    Spark 4 doesn't expose ``bloom_filter_agg`` in the public function
    registry, so the bitmap is built from first principles: each gram
    sets ``k`` bit positions ``xxhash64(i, gram) & (m-1)`` (independent
    hashes via the seed column, no overflow-prone arithmetic under ANSI
    mode); positions fold into 64-bit words with a ``bit_or`` aggregate.
    Only the word table (≤ ``m_bits/64`` longs — control-plane sized,
    e.g. 2 MiB for m=2²⁷) ever reaches the driver, never the grams.
    """
    if m_bits & (m_bits - 1):
        raise ValueError("m_bits must be a power of two")
    g = F.col(col).cast("string")
    pos = F.array(
        *[F.xxhash64(F.lit(i), g).bitwiseAND(F.lit(m_bits - 1)) for i in range(k)]
    )
    words = (
        grams.select(F.explode(pos).alias("__p"))
        .select(
            F.shiftright("__p", 6).cast("int").alias("__w"),
            F.call_function(
                "shiftleft",
                F.lit(1).cast("bigint"),
                F.col("__p").bitwiseAND(F.lit(63)).cast("int"),
            ).alias("__m"),
        )
        .groupBy("__w")
        .agg(F.bit_or("__m").alias("__bits"))
        .collect()
    )
    bitmap = [0] * (m_bits // 64)
    for r in words:
        bitmap[r["__w"]] = r["__bits"]
    return local_frame(
        grams.sparkSession,
        [(bitmap,)], "bloom array<bigint>"
    )


def bloom_might_contain(
    col: str, m_bits: int, k: int, bloom_col: str = "bloom"
) -> Column:
    """Membership predicate against a :func:`build_gram_bloom` bitmap
    column (compose after a broadcast cross join of the 1-row bloom):
    true iff ALL ``k`` probed bits are set. No false negatives; false
    positives at the classic ``(1-e^{-kn/m})^k`` rate."""
    g = F.col(col).cast("string")
    cond = F.lit(True)
    for i in range(k):
        p = F.xxhash64(F.lit(i), g).bitwiseAND(F.lit(m_bits - 1))
        word = F.element_at(F.col(bloom_col), F.shiftright(p, 6).cast("int") + 1)
        bit = F.call_function(
            "shiftleft",
            F.lit(1).cast("bigint"),
            p.bitwiseAND(F.lit(63)).cast("int"),
        )
        cond = cond & (word.bitwiseAND(bit) != 0)
    return cond


def decontaminate_bloom(
    docs: DataFrame,
    benchmark: DataFrame,
    n: int = 13,
    m_bits: int = 1 << 18,
    k: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
    bench_text_col: str = "text",
) -> DataFrame:
    """:func:`decontaminate` with a Bloom prefilter — the shape for
    benchmark/eval gram sets too large to broadcast as an exact
    relation (decontaminating against *every* known eval suite at
    once). Results are IDENTICAL to ``decontaminate``: the bloom only
    prunes, an exact join on the survivors kills false positives.

    Scale shape: the bitmap (m_bits/64 longs) broadcasts instead of
    the gram strings (~32 B each — a 10M-gram suite is ~320 MB exact
    vs 2 MiB bloom at m=2²⁷); the corpus gram stream is filtered
    scan-side by pure bit arithmetic, so the exact verification join's
    left side shrinks to true hits + the fp residue, and AQE picks its
    strategy on that small frame.
    """
    bench_grams = benchmark.select(
        F.explode(_word_gram_hashes(F.col(bench_text_col), n)).alias("__g")
    ).distinct()
    bloom = build_gram_bloom(bench_grams, "__g", m_bits, k)
    doc_grams = spread_for_compute(docs.select(id_col, text_col)).select(
        F.col(id_col), F.explode(_word_gram_hashes(F.col(text_col), n)).alias("__g")
    )
    pre = (
        doc_grams.crossJoin(F.broadcast(bloom))
        .where(bloom_might_contain("__g", m_bits, k))
        .drop("bloom")
    )
    hits = (
        pre.join(bench_grams, "__g")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_contaminated_grams"))
    )
    return (
        docs.select(id_col)
        .join(hits, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_contaminated_grams", F.lit(0)).cast("bigint").alias(
                "n_contaminated_grams"
            ),
            (F.coalesce("n_contaminated_grams", F.lit(0)) > 0).alias("contaminated"),
        )
    )


#: Redaction patterns, applied in order. RE2-compatible (no lookarounds,
#: no backrefs) so Java regex (Spark) and RE2 (DuckDB) agree byte-for-byte.
#: URLs first — an email-shaped substring inside a URL redacts as URL.
PII_PATTERNS: list[tuple[str, str, str]] = [
    ("url", r"https?://[^\s]+", "<URL>"),
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ipv4", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
    ("phone", r"\b\d{3}[-. ]\d{3}[-. ]\d{4}\b", "<PHONE>"),
]


def redact_pii(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Redact emails / URLs / IPv4s / phone-shaped numbers, adding
    ``redacted_text`` plus per-kind match counts (``n_url``, ``n_email``,
    ``n_ipv4``, ``n_phone``).

    One narrow projection — regexp_replace chains JVM-side inside
    whole-stage codegen, so at 100 TB this is scan-speed. Counts are
    taken on the *working* text at each stage (after earlier patterns
    applied), so a URL containing an email counts once, as a URL —
    mirroring exactly what the replacement does.
    """
    work = F.col(text_col)
    counts: dict[str, Column] = {}
    for kind, pattern, token in PII_PATTERNS:
        counts[f"n_{kind}"] = (
            F.size(F.regexp_extract_all(work, F.lit(pattern), 0)).cast("bigint")
        )
        work = F.regexp_replace(work, pattern, token)
    return df.withColumns({**counts, "redacted_text": work})


def remove_boilerplate_lines(
    df: DataFrame,
    min_docs: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
    passthrough: tuple[str, ...] = (),
) -> DataFrame:
    """Remove corpus-frequent (boilerplate) lines: any line whose
    trimmed form occurs in >= ``min_docs`` *distinct* documents is
    dropped from every document. Returns ``(id, clean_text,
    n_removed_lines)``.

    The C4/RefinedWeb-style structural dedup: headers, footers, nav
    bars and cookie banners repeat across pages and survive
    document-level dedup. Shape: posexplode lines → count distinct
    docs per line HASH (one shuffle carrying an 8-byte xxhash64 key
    instead of the line text — profiled ~2× faster on the frequency
    aggregate, and at 100 TB the exchange shrinks by the corpus's
    line bytes) → mark → reassemble per doc ordered by position
    (second shuffle, id-keyed). Blank lines are never counted or
    removed (they're structure, not boilerplate).
    """
    lines = spread_for_compute(
        df.select(id_col, text_col, *passthrough)
    ).select(
        F.col(id_col),
        *passthrough,
        F.posexplode(F.split(F.col(text_col), "\n")).alias("__pos", "__line"),
    ).withColumn("__key", F.xxhash64(F.trim(F.col("__line"))))
    nonblank = F.length(F.trim(F.col("__line"))) > 0
    freq = (
        lines.where(nonblank)
        .groupBy("__key")
        .agg(F.count_distinct(id_col).alias("__docs"))
        .where(F.col("__docs") >= min_docs)
        .select("__key")
    )
    # the frequent-line set is the aggregation's survivors — usually
    # orders of magnitude smaller than the corpus (nav bars, cookie
    # banners), but NOT bounded: a heavily templated corpus can push it
    # past the broadcast limit. Leave the strategy to AQE, which sees
    # the aggregate's actual runtime size and converts to broadcast
    # when it fits (the common case: corpus lines marked map-side, the
    # only corpus shuffle is the id-keyed reassembly) while the big
    # case degrades to a sound shuffle join instead of a driver OOM.
    # blank lines share a hash too — the nonblank guard keeps them
    # structural even if an (astronomically unlikely) collision with a
    # frequent line's hash occurs
    marked = lines.join(
        freq.withColumn("__boiler", F.lit(True)), "__key", "left"
    ).withColumn("__drop", F.coalesce("__boiler", F.lit(False)) & nonblank)
    # passthrough columns ride the id-keyed aggregation (constant per
    # id) instead of a join-back to the source — one fewer corpus scan
    # per caller; ``corpus_pipeline`` relies on this.
    return _reassemble_lines(marked, id_col, passthrough)


def _reassemble_lines(
    marked: DataFrame, id_col: str, passthrough: tuple[str, ...] = ()
) -> DataFrame:
    """Shared tail of the line-level cleaners: given exploded lines
    ``(id, __pos, __line, __drop bool, *passthrough)``, rebuild each
    document in position order minus dropped lines. Returns
    ``(id, clean_text, n_removed_lines, *passthrough)``."""
    kept = F.filter(
        F.array_sort(
            F.collect_list(
                F.struct(F.col("__pos"), F.col("__line"), F.col("__drop"))
            )
        ),
        lambda s: ~s["__drop"],
    )
    return marked.groupBy(id_col).agg(
        F.array_join(F.transform(kept, lambda s: s["__line"]), "\n").alias(
            "clean_text"
        ),
        F.sum(F.when(F.col("__drop"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_removed_lines"),
        *[F.first(c).alias(c) for c in passthrough],
    )


def contamination_fraction(
    docs: DataFrame,
    benchmark: DataFrame,
    n: int = 13,
    threshold: float = 0.1,
    id_col: str = "doc_id",
    text_col: str = "text",
    bench_text_col: str = "text",
) -> DataFrame:
    """Graded decontamination (the PaLM/Llama-style refinement of the
    any-hit rule): per document, the FRACTION of its distinct word
    ``n``-grams that appear in the benchmark, with a ``drop`` flag at
    ``threshold``. An any-hit filter (``decontaminate``) removes a long
    document over one incidental quote; real pipelines drop on overlap
    fraction and keep the tail.

    Returns ``(id, n_grams, n_contaminated, contamination_frac,
    drop)`` — one row per input document (docs shorter than ``n``
    words have 0 grams, fraction 0, never dropped).

    Scale shape: identical to ``decontaminate`` — broadcast benchmark
    gram hashes, map-side corpus join, id-keyed count aggregate. The
    per-doc gram total is ``count(__g)`` over the SAME exploded rows
    (every gram survives the left join), so the expensive shingling
    expression is built exactly once — a separate ``size(grams)``
    column beside the generator re-inlines the whole gram build per
    exploded row (measured 3-4× slower). Fraction is rounded to 6
    places for cross-engine hashing.
    """
    grams = _word_gram_hashes(F.col(text_col), n)
    bench_grams = (
        benchmark.select(
            F.explode(_word_gram_hashes(F.col(bench_text_col), n)).alias("__g")
        )
        .distinct()
    )
    doc_grams = spread_for_compute(docs.select(id_col, text_col)).select(
        F.col(id_col),
        F.explode_outer(grams).alias("__g"),
    )
    per_doc = (
        doc_grams.join(
            F.broadcast(bench_grams.withColumn("__hit", F.lit(True))),
            "__g",
            "left",
        )
        .groupBy(id_col)
        .agg(
            F.count("__g").cast("bigint").alias("n_grams"),
            F.sum(F.when(F.col("__hit"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_contaminated"),
        )
    )
    frac = F.when(
        F.col("n_grams") > 0,
        F.round(F.col("n_contaminated") / F.col("n_grams"), 6),
    ).otherwise(F.lit(0.0))
    return per_doc.select(
        id_col,
        "n_grams",
        "n_contaminated",
        frac.alias("contamination_frac"),
        (frac >= F.lit(threshold)).alias("drop"),
    )


#: Default token blocklist for ``badword_fraction`` — callers supply
#: their own list (e.g. the public LDNOOBW lists C4 used); this stub
#: keeps the operator runnable without shipping offensive content.
DEFAULT_BADWORDS: tuple[str, ...] = ()


def badword_fraction(
    df: DataFrame,
    badwords: list[str],
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Blocklisted-token fraction per document (the C4 "bad words"
    gate, public): fraction of whitespace tokens of the normalized
    text that exactly match the (lowercased) blocklist. Returns all
    input columns plus ``n_badwords`` and ``badword_frac``.

    Scale shape: the blocklist is control-plane sized (hundreds of
    terms) and compiles to ONE scan-side expression — the token array
    intersects a literal array (`array_intersect` + per-token counts
    via a filter), no explode, no join, no shuffle. Fraction rounds to
    6 places for cross-engine hashing.
    """
    bset = sorted({w.lower() for w in badwords})
    words = F.split(normalize_text(F.col(text_col)), " ")
    lit_bad = F.array(*[F.lit(w) for w in bset]) if bset else F.array().cast(
        "array<string>"
    )
    n_bad = F.size(
        F.filter(words, lambda w: F.array_contains(lit_bad, w))
    ).cast("bigint")
    k = F.size(words)
    frac = F.when(k > 0, F.round(n_bad / k, 6)).otherwise(F.lit(0.0))
    return df.withColumns(
        {"n_badwords": n_bad, "badword_frac": frac}
    )


def filter_badwords(
    df: DataFrame,
    badwords: list[str],
    max_fraction: float = 0.0,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Drop documents whose blocklist-token fraction exceeds
    ``max_fraction`` (0.0 = any hit drops, the strict C4 behavior).
    Returns surviving rows with the original columns."""
    scored = badword_fraction(df, badwords, id_col=id_col, text_col=text_col)
    return scored.where(F.col("badword_frac") <= F.lit(max_fraction)).drop(
        "n_badwords", "badword_frac"
    )


def remove_duplicate_lines(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Corpus-global keep-FIRST line dedup (the C4-style span dedup at
    line granularity): every non-blank line keeps only its first
    occurrence across the whole corpus, ordered by ``(id, position)``;
    later repeats are dropped from their documents. Complements
    :func:`remove_boilerplate_lines`, which drops frequent lines from
    EVERY document including the first.

    Returns ``(id, clean_text, n_removed_lines)``. Shape: posexplode →
    one window keyed on the line's md5 (the shuffle carries a 32-byte
    hash + position, never the corpus body twice) → reassemble per doc.
    Blank lines are structure, not content — always kept, never ranked.
    """
    lines = df.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), "\n")).alias("__pos", "__line"),
    ).withColumn("__key", F.md5(F.trim(F.col("__line"))))
    w = Window.partitionBy("__key").orderBy(F.col(id_col).asc(), F.col("__pos").asc())
    marked = lines.withColumn(
        "__drop",
        (F.length(F.trim("__line")) > 0) & (F.row_number().over(w) > 1),
    )
    return _reassemble_lines(marked, id_col)


def decontaminate_filter(
    docs: DataFrame,
    benchmark: DataFrame,
    n: int = 13,
    id_col: str = "doc_id",
    text_col: str = "text",
    bench_text_col: str = "text",
) -> DataFrame:
    """``decontaminate`` as a filter: drop every doc sharing a word
    n-gram with the benchmark, keeping all input columns.

    Same hit computation as ``decontaminate`` (broadcast bench grams,
    corpus explode, map-side join) but the result applies as a
    ``left_anti`` on the contaminated-id set — no flag column, no
    second pass over the corpus frame. Use this inside pipelines;
    use ``decontaminate`` when the *report* (per-doc hit counts) is
    the product.

    Unlike the report variant this skips the per-doc gram
    ``array_distinct``: existence is all a semi-join needs, and the
    distinct pass is a hash-set build over every gram of every
    document for nothing (the id-level ``distinct()`` after the join
    dedups the survivors, which are benchmark-sized)."""
    bench_grams = (
        benchmark.select(
            F.explode(_word_gram_hashes(F.col(bench_text_col), n)).alias("__g")
        )
        .distinct()
    )
    words = F.split(normalize_text(F.col(text_col)), " ")
    k = F.size(words)
    grams = F.when(
        k >= n,
        F.transform(
            F.sequence(F.lit(1), k - n + 1),
            lambda i: F.md5(F.array_join(F.slice(words, i, n), " ")),
        ),
    ).otherwise(F.array().cast("array<string>"))
    contaminated = (
        docs.select(F.col(id_col), F.explode(grams).alias("__g"))
        .join(F.broadcast(bench_grams), "__g")
        .select(id_col)
        .distinct()
    )
    return docs.join(contaminated, id_col, "left_anti")


def excise_duplicate_spans(
    docs: DataFrame,
    n: int = 13,
    min_docs: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Cross-document duplicated-SPAN removal — the exact-substring
    dedup of Lee et al. 2022 ("Deduplicating Training Data Makes
    Language Models Better", reference dedup family alongside
    writers/dedup utilities) re-expressed at word-``n``-gram
    granularity: instead of dropping whole near-duplicate documents,
    cut the duplicated PASSAGES (boilerplate paragraphs, license
    blocks, syndicated intros) out of every document that shares them
    with ``min_docs``-or-more distinct documents, keeping the unique
    remainder.

    Returns ``(id, clean_text, n_tokens, n_removed_tokens)`` where
    ``clean_text`` is the original (case-preserved, whitespace-
    collapsed) token sequence with every token covered by a duplicated
    window removed. Matching is case-insensitive (window hashes are
    md5 of the LOWERCASED n-token slice — oracle-portable), excision
    is case-preserving.

    Scale shape: one explode to ``(id, start, gram_hash)``; the
    duplicated-gram set derives from a distinct + count aggregate on
    the hash (map-side partial, 32-byte keys); duplicated starts
    rejoin on the hash and collect per doc (never broadcast — the
    duplicated set is corpus-sized in the worst case); the final
    excision is a per-row JVM expression (``filter`` with a positional
    lambda over the sorted start list). Per-row cost is
    O(tokens x dup-windows-in-doc) — bounded by document length, no
    cross-row state.
    """
    toks = F.split(F.trim(F.regexp_replace(F.col(text_col), r"\s+", " ")), " ")
    k = F.size(toks)
    base = spread_for_compute(docs.select(id_col, text_col)).select(
        F.col(id_col), toks.alias("__w")
    )
    grams = base.select(
        F.col(id_col),
        F.explode(
            F.when(
                F.size("__w") >= n,
                F.transform(
                    F.sequence(F.lit(1), F.size("__w") - n + 1),
                    lambda i: F.struct(
                        i.alias("s"),
                        F.md5(
                            F.lower(F.array_join(F.slice("__w", i, n), " "))
                        ).alias("g"),
                    ),
                ),
            ).otherwise(F.array().cast("array<struct<s:int,g:string>>"))
        ).alias("__sg"),
    ).select(id_col, F.col("__sg.s").alias("__s"), F.col("__sg.g").alias("__g"))
    dup = (
        grams.select(id_col, "__g")
        .distinct()
        .groupBy("__g")
        .agg(F.count(F.lit(1)).alias("__docs"))
        .where(F.col("__docs") >= min_docs)
        .select("__g")
    )
    starts = (
        grams.join(dup, "__g")
        .groupBy(id_col)
        .agg(F.array_sort(F.collect_set("__s")).alias("__ss"))
    )
    covered = lambda j: F.exists(  # noqa: E731 — j is a 1-based position
        F.col("__ss"), lambda s: (s <= j) & (j <= s + F.lit(n - 1))
    )
    return (
        docs.select(id_col, toks.alias("__w"))
        .join(starts, id_col, "left")
        .withColumn("__ss", F.coalesce("__ss", F.array().cast("array<int>")))
        .select(
            F.col(id_col),
            F.array_join(
                F.filter("__w", lambda t, j0: ~covered(j0 + 1)), " "
            ).alias("clean_text"),
            F.size("__w").cast("bigint").alias("n_tokens"),
            F.size(F.filter("__w", lambda t, j0: covered(j0 + 1)))
            .cast("bigint")
            .alias("n_removed_tokens"),
        )
    )


#: (artifact, repaired) pairs for the common UTF-8-bytes-read-as-
#: cp1252/Latin-1 double-encoding class ("mojibake"). LONGEST FIRST:
#: several three-byte artifacts ("\u00e2\u20ac\u2122") contain shorter
#: ones as substrings, so the chain must fix them before the short
#: forms run (order is part of the operator's contract and the oracle
#: replays the same chain in the same order). The table is a small
#: curated set — the high-frequency punctuation/Latin-accent artifacts
#: every large web corpus carries — not a full ftfy; the point is the
#: Spark shape (pure expression chain, zero shuffles). Escapes keep
#: the table byte-exact regardless of editor/terminal encodings.
MOJIBAKE_PAIRS: list[tuple[str, str]] = [
    ("\u00e2\u20ac\u2122", "\u2019"),  # a-hat euro quote  -> right single quote
    ("\u00e2\u20ac\u0153", "\u201c"),  # a-hat euro oe     -> left double quote
    ("\u00e2\u20ac\u201c", "\u2013"),  # a-hat euro endash -> en dash
    ("\u00e2\u20ac\u201d", "\u2014"),  # a-hat euro emdash -> em dash
    ("\u00e2\u20ac\u00a6", "\u2026"),  # a-hat euro brokenbar-> ellipsis
    ("\u00e2\u20ac", "\u201d"),        # bare a-hat euro   -> right double quote
    ("\u00c3\u00a9", "\u00e9"),  # A-tilde copyright -> e acute
    ("\u00c3\u00a8", "\u00e8"),  # A-tilde umlaut    -> e grave
    ("\u00c3\u00a4", "\u00e4"),  # -> a umlaut
    ("\u00c3\u00b6", "\u00f6"),  # -> o umlaut
    ("\u00c3\u00bc", "\u00fc"),  # -> u umlaut
    ("\u00c3\u00b1", "\u00f1"),  # -> n tilde
    ("\u00c3\u00a7", "\u00e7"),  # -> c cedilla
    ("\u00c3\u00af", "\u00ef"),  # -> i umlaut
    ("\u00c2\u00a0", " "),        # A-circumflex nbsp -> plain space
]


def fix_mojibake(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Encoding repair — the ftfy step of a corpus pipeline, reduced
    to the high-frequency UTF-8-as-cp1252 double-encoding artifacts
    (``MOJIBAKE_PAIRS``) and expressed as a PURE column expression: a
    fixed ``replace`` chain in table order, evaluated inside the scan
    (whole-stage codegen, zero shuffles, zero UDFs — the repair table
    travels as plan constants, like the trained-classifier gate's
    weights).

    Appends ``fixed_text`` and ``n_mojibake`` — the number of artifact
    occurrences repaired, computed EXACTLY from length deltas
    (``(len_before − len_after) / (len(bad) − len(good))`` per chain
    step, each an integer by construction since every pair shrinks)
    rather than a regex count, so an oracle replays it with the same
    ``replace``/``length`` calls and no regex-dialect risk. NULL text
    passes through as NULL with ``n_mojibake`` 0."""
    fixed = F.col(text_col)
    n_fixed = F.lit(0).cast("bigint")
    for bad, good in MOJIBAKE_PAIRS:
        before = fixed
        fixed = F.replace(before, F.lit(bad), F.lit(good))
        step = (
            (F.length(before) - F.length(fixed))
            / F.lit(len(bad) - len(good))
        ).cast("bigint")
        n_fixed = n_fixed + F.coalesce(step, F.lit(0).cast("bigint"))
    return spread_for_compute(df).select(
        "*",
        fixed.alias("fixed_text"),
        n_fixed.alias("n_mojibake"),
    )
