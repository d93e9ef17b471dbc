"""Text-analysis operators for training-data pipelines (BASELINE.json
north star: language-ID, quality scoring, token counting, document
fingerprinting) over the ``documents`` table.

Everything here is built-in column expressions — split / array
higher-order functions / md5 — so the hot path stays JVM-side and
vectorized; there is no Python in any of these operators.  At 100 TB
these run as a single narrow projection over the scan (no shuffle at
all until an aggregation is stacked on top).
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence

from pyspark.sql import Column, DataFrame, functions as F

from .balance import spread_small_input

#: language marker words for the n-gram/stopword language-ID heuristic.
#: Deliberately tiny and deterministic; real pipelines would plug a
#: fastText-style model in via a pandas UDF at this exact seam.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "a"),
    "es": ("el", "la", "de", "que", "y"),
    "de": ("der", "die", "und", "das", "ist"),
    "fr": ("le", "la", "et", "les", "des"),
}

#: stopwords for the quality score's stopword-ratio term
STOPWORDS: tuple[str, ...] = (
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "it",
)


def tokens(text: Column | str) -> Column:
    """Whitespace tokenization (split on runs of whitespace)."""
    c = F.col(text) if isinstance(text, str) else text
    return F.split(F.trim(c), r"\s+")


def token_count_of(toks: Column) -> Column:
    """Token count over a pre-tokenized array column — use the ``_of``
    family when several metrics share one tokenization: materialize
    ``tokens(text)`` once with an alias and Catalyst keeps it a single
    split (CollapseProject won't inline a multiply-referenced alias),
    instead of re-splitting per metric."""
    return F.size(toks)


def token_count(text: Column | str) -> Column:
    """Token count — ``size(split(trim(text), '\\s+'))``."""
    return token_count_of(tokens(text))


# ------------------------------------------------- text normalization
# The pre-tokenize normalization every CCNet/C4-style pipeline runs
# before anything else touches the text.  Spark has no NFKC built-in,
# so this is a DOCUMENTED COMPATIBILITY SUBSET — the folds that occur
# in real web text — expressed entirely in built-ins (translate /
# replace / lower / regexp_replace) so it is exactly mirrorable in
# the DuckDB oracle: both engines' expressions are generated from the
# ONE table below and can never drift.  A full NFKC (every
# compatibility decomposition + canonical reorder) would need an
# arrow-seam pandas UDF (unicodedata.normalize — the multimodal
# precedent) and would lose the oracle; the subset keeps the hot path
# JVM-side and hash-checkable.

#: 1:1 codepoint folds, applied as ONE translate() call: unicode
#: spaces -> ASCII space; fullwidth ASCII block -> ASCII; curly /
#: angled quotes -> straight; dash family -> '-'.  INVARIANT
#: (idempotence): no target character appears as any source, and
#: lower() never produces a source character.
NORMALIZE_CHAR_FOLDS: tuple[tuple[str, str], ...] = (
    # Zs space separators (U+2000..200A: en/em/thin/hair... spaces)
    # + NBSP, Ogham, narrow NBSP, math space, ideographic space, and
    # the Zl/Zp line/paragraph separators
    *(
        (ch, " ")
        for ch in (
            "  "
            + "".join(chr(c) for c in range(0x2000, 0x200B))
            + "  　  "
        )
    ),
    # fullwidth ASCII block (U+FF01..FF5E) -> ASCII (U+0021..007E)
    *((chr(0xFF01 + i), chr(0x21 + i)) for i in range(94)),
    # single quotes / apostrophes
    *((ch, "'") for ch in "‘’‚‛´"),
    # double quotes (incl. guillemets)
    *((ch, '"') for ch in "“”„‟«»"),
    # hyphen/dash family (U+2010..2015) + unicode minus
    *((ch, "-") for ch in "‐‑‒–—―−"),
    # the two FULL-casing divergences, pre-folded so the later
    # lower() is pure SIMPLE lowercase on both engines: Java/ICU
    # full lowercase maps İ (U+0130) to i+U+0307 and word-final Σ to
    # ς (context-sensitive), while DuckDB's utf8proc lower is simple
    # (İ -> i, Σ -> σ everywhere).  Folding İ -> i and BOTH sigmas to
    # medial σ up front removes every SpecialCasing lowercase entry
    # from the input, so the engines' lower() agree character for
    # character (final-sigma folding is standard IR normalization).
    ("İ", "i"),
    ("Σ", "σ"),
    ("ς", "σ"),
)

#: one-to-MANY expansions translate() can't express, applied as a
#: replace() chain after the folds: Latin ligatures (U+FB00..FB06)
#: and the horizontal ellipsis.  Same idempotence invariant: no
#: expansion output contains a source character of any stage.
NORMALIZE_EXPANSIONS: tuple[tuple[str, str], ...] = (
    ("ﬀ", "ff"),
    ("ﬁ", "fi"),
    ("ﬂ", "fl"),
    ("ﬃ", "ffi"),
    ("ﬄ", "ffl"),
    ("ﬅ", "st"),
    ("ﬆ", "st"),
    ("…", "..."),
)

_NORM_FROM = "".join(s for s, _ in NORMALIZE_CHAR_FOLDS)
_NORM_TO = "".join(t for _, t in NORMALIZE_CHAR_FOLDS)


def normalize_text(text: Column | str) -> Column:
    """Pre-tokenize text normalization (the CCNet/C4 stage), as one
    in-scan expression chain — a pure map, zero shuffle at any scale:

    1. strip format characters (``\\p{Cf}``: soft hyphen, ZWSP, ZWJ,
       BOM, bidi marks) — removed, NOT blanked, so a soft-hyphenated
       word rejoins;
    2. blank control characters (``\\p{Cc}``, incl. tab/newline) to
       a space;
    3. fold :data:`NORMALIZE_CHAR_FOLDS` in one ``translate`` (unicode
       spaces, fullwidth ASCII, curly quotes, dash family);
    4. expand :data:`NORMALIZE_EXPANSIONS` (ligatures, ellipsis);
    5. casefold via ``lower`` — pure SIMPLE Unicode lowercase by
       construction: the two full-casing divergences between Java/ICU
       and utf8proc (dotted İ, context-sensitive Greek final sigma)
       are pre-folded in stage 3, so both engines' ``lower`` agree on
       every remaining character (locale case folding is
       deliberately out);
    6. collapse whitespace runs and trim.  After stages 1-3 every
       whitespace character IS an ASCII space, so the collapse regex
       is a plain ``' +'`` — no ``\\s`` class-semantics drift between
       Java regex and RE2.

    Idempotent by construction (``normalize(normalize(x)) ==
    normalize(x)``, property-tested): no stage's output contains any
    stage's source character.  NULL stays NULL (totality: the caller
    decides whether NULL text survives).

    Ref: reference repo has no text surface; this extends the
    LLM-pipeline text family (SURVEY.md §6) with the stage that runs
    ahead of :func:`tokens` in ``plans.corpus.prepare_corpus``.
    """
    c = F.col(text) if isinstance(text, str) else text
    x = F.regexp_replace(c, r"\p{Cf}", "")
    x = F.regexp_replace(x, r"\p{Cc}", " ")
    x = F.translate(x, _NORM_FROM, _NORM_TO)
    for src, dst in NORMALIZE_EXPANSIONS:
        x = F.replace(x, F.lit(src), F.lit(dst))
    x = F.lower(x)
    return F.trim(F.regexp_replace(x, " +", " "))


def normalize_text_nfkc(text: Column | str) -> Column:
    """FULL Unicode NFKC normalization ahead of the
    :func:`normalize_text` fold chain — the arrow-seam big brother
    for corpora where the compatibility SUBSET isn't enough (CJK
    squared units ㎒/㍿, vulgar fractions, superscripts, Arabic
    presentation forms...).  ``unicodedata.normalize("NFKC", x)`` is
    stdlib, so this runs for real — but it is a PYTHON seam
    (Arrow-batched ``pandas_udf``, the multimodal-decode discipline:
    vectorized batches, never row-at-a-time), so it is deliberately
    NOT the default and NOT oracle-checkable (DuckDB has NFC only) —
    keep it out of oracle-gated plans; its agreement with the subset
    on subset-class inputs is test-pinned instead.

    Equivalence contract: for strings whose characters all lie in
    ASCII ∪ the subset fold tables ∪ Cc/Cf, ``normalize_text_nfkc(x)
    == normalize_text(x)``.  The subset's 1:1 folds are applied
    BEFORE NFKC to make this literally true — a few fold sources are
    themselves NFKC-decomposable to something the subset wouldn't
    then fold (´ U+00B4 -> space+combining-acute under NFKC, vs the
    subset's apostrophe), so folding first pins the subset's choice;
    everything the pre-fold and NFKC both handle (fullwidth,
    ligatures, spaces) folds to the same target either way, and
    quotes/dashes are NOT compatibility mappings (exactly why the
    subset folds them explicitly).  Idempotent like the subset (NFKC
    is idempotent; the chain preserves it).

    Plan shape at 100 TB: one ArrowEvalPython stage fused into the
    scan projection — still a pure map, zero shuffle.  Measured cost
    of the Python hop: ~20% over the subset at 64x (26.5 vs 22.1
    s/Mrow, SCALING.md r10) — the JVM fold chain dominates, so
    choosing full NFKC is a semantics decision, not a budget one.
    """
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("string")
    def _nfkc(s):  # pragma: no cover - body runs on executors
        import unicodedata

        return s.map(
            lambda x: unicodedata.normalize("NFKC", x)
            if x is not None
            else None
        )

    c = F.col(text) if isinstance(text, str) else text
    # subset 1:1 folds FIRST (see the contract above), then NFKC,
    # then the full subset chain (its translate re-run is a no-op)
    return normalize_text(_nfkc(F.translate(c, _NORM_FROM, _NORM_TO)))


def fixed_token_chunks(toks: Column, width: int) -> Column:
    """Non-overlapping ``width``-token chunks of a pre-tokenized
    array, each rejoined with a single space — the "synthetic lines"
    recipe shared by the ``line_dedup`` gate and its scale probe (one
    definition so the two can never drift).  Pass a MATERIALIZED
    alias (the ``token_count_of`` idiom): ``transform`` is a
    higher-order function with no CSE, so an inline ``tokens()``
    would re-split once per chunk.  ``size(toks) >= 1`` whenever toks
    comes from ``tokens()`` (split of ``''`` is ``['']``), so the
    sequence bound is never negative — the descending-``sequence``
    trap can't trigger."""
    if width < 1:
        raise ValueError("fixed_token_chunks: width must be >= 1")
    return F.transform(
        F.sequence(
            F.lit(0).cast("long"),
            (F.ceil(F.size(toks) / F.lit(float(width))) - F.lit(1)).cast(
                "long"
            ),
        ),
        lambda i: F.array_join(
            F.slice(
                toks, ((i * F.lit(width)) + F.lit(1)).cast("int"), width
            ),
            " ",
        ),
    )


def bpe_ish_token_count(text: Column | str) -> Column:
    """BPE-ish token estimate: word-and-punctuation pieces via a
    regex tokenizer (``\\w+`` runs or single non-space symbols), the
    standard cheap proxy for subword token counts."""
    c = F.col(text) if isinstance(text, str) else text
    pieces = F.regexp_extract_all(c, F.lit(r"(\w+|[^\w\s])"), 1)
    return F.size(pieces)


def char_count(text: Column | str) -> Column:
    c = F.col(text) if isinstance(text, str) else text
    return F.length(c)


def distinct_token_count_of(toks: Column) -> Column:
    return F.size(F.array_distinct(toks))


def distinct_token_count(text: Column | str) -> Column:
    return distinct_token_count_of(tokens(text))


def stopword_count_of(toks: Column, stopwords: Sequence[str] = STOPWORDS) -> Column:
    """Count of stopword tokens via a higher-order filter (JVM-side)."""
    return F.size(F.filter(toks, lambda t: t.isin(*stopwords)))


def stopword_count(text: Column | str, stopwords: Sequence[str] = STOPWORDS) -> Column:
    return stopword_count_of(tokens(text), stopwords)


def quality_score_of(toks: Column, scale: int = 4) -> Column:
    """Heuristic document quality in [0, 1] over pre-tokenized input:

    ``0.4 * min(n_tokens/100, 1)``  (length term)
    ``+ 0.3 * type_token_ratio``    (lexical diversity)
    ``+ 0.3 * (1 - stopword_ratio)``(content density)

    Deterministic column arithmetic; rounded so oracle comparison is
    exact.
    """
    n = token_count_of(toks).cast("double")
    ttr = distinct_token_count_of(toks) / n
    stop_ratio = stopword_count_of(toks) / n
    score = (
        F.lit(0.4) * F.least(n / F.lit(100.0), F.lit(1.0))
        + F.lit(0.3) * ttr
        + F.lit(0.3) * (F.lit(1.0) - stop_ratio)
    )
    # half-up via floor, not round(): the score is a ratio of small
    # integers and lands EXACTLY on .00005 halves, where Spark's
    # HALF_UP and DuckDB's HALF_EVEN disagree (observed at sf0.1);
    # floor(x*10^s + 0.5)/10^s is the same IEEE arithmetic everywhere
    pow10 = float(10**scale)
    return F.floor(score * F.lit(pow10) + F.lit(0.5)) / F.lit(pow10)


def quality_score(text: Column | str, scale: int = 4) -> Column:
    return quality_score_of(tokens(text), scale)


def fingerprint(text: Column | str) -> Column:
    """Document fingerprint: md5 of the whitespace-normalized,
    lowercased text — the exact-dup key (dedup.exact_text_dedup)."""
    c = F.col(text) if isinstance(text, str) else text
    normalized = F.regexp_replace(F.lower(F.trim(c)), r"\s+", " ")
    return F.md5(normalized.cast("binary"))


def rolling_fingerprint(
    text: Column | str, mult: int = 31, mod: int = 1_000_000_007
) -> Column:
    """Polynomial rolling hash over the token stream:
    ``h = (h*mult + hash(token)) % mod`` folded left-to-right — the
    order-sensitive fingerprint (same token multiset, different order
    -> different hash, unlike the md5-of-normalized-text key).

    Token hashes are the first 28 bits of md5 so the fold stays exact
    in signed-64 arithmetic (h*31 + t < 2^35) and is reproducible
    bit-for-bit in any engine with md5 + integer ops (the oracle runs
    it via DuckDB ``list_reduce``).  Pure JVM expressions: one
    ``transform`` + one ``aggregate``, no shuffle, no Python.
    """
    toks = tokens(text)
    hashed = F.transform(
        toks,
        lambda t: F.conv(F.substring(F.md5(t.cast("binary")), 1, 7), 16, 10).cast(
            "long"
        ),
    )
    return F.aggregate(
        hashed,
        F.lit(0).cast("long"),
        lambda acc, x: (acc * mult + x) % mod,
    )


def lang_id_of(
    ltoks: Column, markers: Mapping[str, Sequence[str]] | None = None
) -> Column:
    """Argmax language by marker hits over pre-tokenized lowercased
    tokens; deterministic tie-break by the mapping's iteration order
    (first language wins ties); 'und' when no marker hits at all.

    ONE traversal of the token array: a literal token->packed-increment
    map is probed per token (hash lookup, not |languages|x|markers|
    isin chains) inside a single ``aggregate`` whose accumulator packs
    every per-language counter into one long (16 bits each), so the
    fold step is a single integer add; the argmax unpacks in the
    finish lambda.  Measured 2.8x faster than the previous four
    filter() passes at sf0.1 (0.92s -> 0.33s over 5k docs).
    """
    markers = markers or LANG_MARKERS
    langs = list(markers)
    if len(langs) > 4:
        raise ValueError("packed lang_id supports at most 4 languages")
    # All per-language counters live in ONE long, 16 bits each, so the
    # fold step is a single integer add: the map value for a marker
    # word is its packed increment.  A word may belong to SEVERAL
    # languages ("la" is es AND fr) and must count for each, exactly
    # like the isin chains did — its increment just sets both fields.
    # Counts stay exact for docs under 65k tokens per language.
    packed: dict[str, int] = {}
    for i, lang in enumerate(langs):
        for w in markers[lang]:
            packed[w] = packed.get(w, 0) + (1 << (16 * i))
    entries: list[Column] = []
    for w, inc in packed.items():
        entries += [F.lit(w), F.lit(inc).cast("long")]
    marker_map = F.create_map(*entries)

    def step(acc: Column, t: Column) -> Column:
        return acc + F.coalesce(F.element_at(marker_map, t), F.lit(0).cast("long"))

    def finish(acc: Column) -> Column:
        best_lang, best_score = F.lit("und"), F.lit(0).cast("long")
        for i, lang in enumerate(langs):
            c = F.shiftright(acc, 16 * i).bitwiseAND(F.lit(0xFFFF).cast("long"))
            better = c > best_score
            best_lang = F.when(better, F.lit(lang)).otherwise(best_lang)
            best_score = F.when(better, c).otherwise(best_score)
        return best_lang

    return F.aggregate(ltoks, F.lit(0).cast("long"), step, finish)


def lang_id(text: Column | str, markers: Mapping[str, Sequence[str]] | None = None) -> Column:
    return lang_id_of(
        tokens(F.lower(F.col(text) if isinstance(text, str) else text)), markers
    )


def chunk_documents(
    df: DataFrame,
    text: str = "text",
    id_col: str = "doc_id",
    chunk_size: int = 16,
    stride: int = 12,
) -> DataFrame:
    """Sliding-window document chunking — the standard pretraining
    prep step that slices each document's token stream into
    fixed-size overlapping chunks (``chunk_size`` tokens every
    ``stride`` tokens).

    All built-ins, zero Python, zero shuffle: tokenize once,
    ``sequence`` generates the chunk starts, ``posexplode`` fans out
    one row per chunk, ``slice`` carves the token window.  A final
    chunk that adds no tokens beyond the previous one (start > 0 and
    start - stride + chunk_size >= n_tokens) is dropped — integer
    logic that any engine reproduces exactly.  At 100 TB this is a
    narrow per-partition expansion (~n_tokens/stride rows per doc)
    that parallelizes with the scan; there is no state and no skew
    beyond document length itself.
    """
    toks = tokens(text)
    # coalesce(-1) marks _n NON-nullable so the start < _n filter's
    # inferred isnotnull(_n) constraint can't push isnotnull(size(
    # tokenize)) into the scan; -1 matches size()'s legacy NULL value
    # and rejects the placeholder row exactly like NULL would
    t = spread_small_input(df).withColumn("_toks", toks).withColumn(
        "_n", F.coalesce(F.size(F.col("_toks")), F.lit(-1))
    )
    starts = F.sequence(
        F.lit(0), F.greatest(F.col("_n") - 1, F.lit(0)), F.lit(stride)
    )
    # posexplode_outer (see dedup._pair_intersections) and a filter whose
    # every conjunct references the GENERATED ``start`` column — the
    # plain ``_n > 0`` spelling is pushable below the Generate, which
    # inlines size(tokenize) into the scan filter.  ``start < _n`` is
    # equivalent: generated starts are always <= _n - 1 when _n > 0,
    # and the only start for an empty/NULL doc is 0 (or NULL), which
    # ``0 < _n`` rejects exactly when ``_n > 0`` would.
    exploded = t.select(
        F.col(id_col),
        F.col("_toks"),
        F.col("_n"),
        F.posexplode_outer(starts).alias("chunk_id", "start"),
    ).filter(
        (F.col("start") < F.col("_n"))
        & (
            (F.col("start") == 0)
            | (F.col("start") - stride + chunk_size < F.col("_n"))
        )
    )
    chunk = F.slice(F.col("_toks"), F.col("start") + 1, chunk_size)
    return exploded.select(
        id_col,
        "chunk_id",
        "start",
        F.size(chunk).alias("chunk_tokens"),
        F.md5(F.concat_ws(" ", chunk).cast("binary")).alias("chunk_hash"),
    )


def tfidf_terms(
    df: DataFrame,
    text: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    ids_unique: bool = False,
) -> DataFrame:
    """Top-k characteristic terms per document by tf-idf.

    idf here is the *rational* variant ``N / doc_freq`` (no
    logarithm): ``ln`` differs in the last ulp between libm and the
    JVM, which would break exact cross-engine comparison, while
    ``tf * (N / df)`` is a product of small exact integers under two
    correctly-rounded IEEE ops — bit-identical in any engine.

    Plan: tokenize+explode in the scan -> count per (doc, term)
    [shuffle 1] -> term doc-frequency from that table [shuffle 2,
    much smaller] -> broadcast N -> score -> row_number window per
    doc [shuffle 3] -> top-k.  The doc-frequency side aggregates
    (term, count) pairs, so the broadcast-back join is
    vocabulary-sized, not corpus-sized — at 100 TB the vocabulary
    table is the only thing that moves twice.
    """
    from pyspark.sql import Window

    # plain explode over the INLINE tokenize expression:
    # InferFiltersFromGenerate (post-SPARK-36715) skips non-attribute
    # generator children, so nothing duplicates into the scan filter
    # (the dedup._pair_intersections trap needs the column-shape)
    toks = spread_small_input(df.select(id_col, text)).select(
        F.col(id_col), F.explode(tokens(text)).alias("term")
    )
    tf = toks.groupBy(id_col, "term").agg(F.count("*").alias("tf"))
    # r12: the ``tf >= 1`` filter is a tautology on a count(*) output;
    # its ONLY effect is keeping the tf column alive through this
    # branch's partial aggregate.  Without it, per-branch column
    # pruning drops tf from the doc-frequency branch, the two
    # branches' (doc, term) exchanges stop canonicalizing equal, and
    # exchange reuse CANNOT collapse them — the corpus is then
    # scanned and tokenized TWICE (verified: one extra executed stage
    # and ~1.5x the wall time).  With it, AQE's stage cache runs the
    # tokenize+tf subtree once and both consumers read the same
    # shuffle output.
    docfreq = tf.filter(F.col("tf") >= 1).groupBy("term").agg(
        F.count("*").alias("doc_freq")
    )
    # ``ids_unique=True`` (one row per document — the normal corpus
    # shape) downgrades N from a count-distinct (full id shuffle) to a
    # partial-aggregated scalar count
    n_docs = df.select(
        (
            F.count(id_col) if ids_unique else F.countDistinct(id_col)
        ).cast("double").alias("n_docs")
    )
    scored = (
        tf.join(docfreq, "term")
        .join(F.broadcast(n_docs))
        .withColumn(
            "score",
            F.col("tf").cast("double")
            * (F.col("n_docs") / F.col("doc_freq").cast("double")),
        )
    )
    w = Window.partitionBy(id_col).orderBy(
        F.desc("score"), F.asc("term")
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select(id_col, "term", "tf", "doc_freq", "score", "rk")
    )


# --------------------------------------------------------- PII redaction

#: (label, regex, replacement) — patterns kept to character classes and
#: bounded quantifiers so Java regex (Spark) and RE2-style (DuckDB /
#: other engines) agree token-for-token.
PII_PATTERNS: tuple[tuple[str, str, str], ...] = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("phone", r"\+?[0-9]{3}-[0-9]{3}-[0-9]{4}", "<PHONE>"),
    ("ipv4", r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b", "<IP>"),
)


def redact_pii(
    df: DataFrame,
    text: str = "text",
    patterns: Sequence[tuple[str, str, str]] = PII_PATTERNS,
    out_col: str = "redacted",
) -> DataFrame:
    """Mask PII spans in ``text`` — the standard pre-training scrub
    pass.  A chain of ``regexp_replace`` column expressions (one per
    pattern, applied in order), entirely JVM-side: at 100 TB this is a
    narrow per-row projection fused into the scan, no shuffle, no
    Python.  Swap/extend ``patterns`` for locale-specific formats.
    """
    expr = F.col(text)
    for _, pat, rep in patterns:
        expr = F.regexp_replace(expr, pat, rep)
    return df.withColumn(out_col, expr)


# ------------------------------------------- repetition (Gopher rules)

def repetition_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    text: str = "text",
    n: int = 2,
    scale: int = 4,
) -> DataFrame:
    """Per-document n-gram repetition profile — the Gopher-style
    "fraction of tokens in the most common n-gram" quality rule used
    to drop boilerplate/spam before pretraining.

    Plan: shingle (with multiplicity) in the scan -> count per
    (doc, gram) [shuffle 1 on doc+gram] -> per-doc max/total [shuffle
    2 on doc, carrying one row per distinct gram].  Both aggregations
    combine map-side; nothing is quadratic in document length.
    """
    grams = spread_small_input(df.select(id_col, text)).select(
        F.col(id_col), F.explode(_multiset_shingles(text, n)).alias("_g")
    )
    per_gram = grams.groupBy(id_col, "_g").agg(F.count("*").alias("_c"))
    return per_gram.groupBy(id_col).agg(
        F.sum("_c").alias("total_ngrams"),
        F.max("_c").alias("top_ngram_count"),
        F.round(F.max("_c") / F.sum("_c"), scale).alias("repetition_ratio"),
    )


def _multiset_shingles(text: Column | str, n: int) -> Column:
    """Word n-grams WITH multiplicity (repetition analysis needs the
    duplicates that ``dedup.word_shingles`` deliberately drops)."""
    toks = tokens(text)
    m = F.greatest(F.size(toks) - (n - 1), F.lit(0))
    parts = [F.slice(toks, 1 + j, m) for j in range(n)]
    acc = parts[0]
    for part in parts[1:]:
        acc = F.zip_with(acc, part, lambda a, b: F.concat_ws(" ", a, b))
    return acc


# ------------------------------------------------------ sequence packing

def pack_sequences(
    df: DataFrame,
    id_col: str = "doc_id",
    text: str = "text",
    capacity: int = 512,
    partition_cols: Sequence[str] = ("lang",),
    n_tokens_col: str | None = None,
) -> DataFrame:
    """Concat-then-chunk sequence packing: documents are laid out in
    ``id_col`` order within each partition group and split into
    training sequences of ``capacity`` tokens by cumulative token
    count (a document starts a new sequence when the running total
    crosses a capacity boundary).  Returns one row per (group,
    seq_id): how many documents and tokens it packs.

    ``n_tokens_col`` packs by a PRECOMPUTED per-document token count
    instead of the whitespace ``token_count(text)`` — pass the exact
    per-doc counts from :func:`bpe_encode` (``groupBy(id).count()``)
    to pack by the learned vocabulary's REAL token ids rather than
    the word-count proxy (capacity is a model-context budget, so the
    count that matters is the tokenizer's, not the whitespace one).

    The running sum is a window per ``partition_cols`` group — at
    100 TB you pack per shard (language, source bucket, ...) exactly
    so this window is key-partitioned instead of a single global sort.
    Deterministic integer logic end-to-end, so any engine agrees.
    """
    from pyspark.sql import Window

    w = (
        Window.partitionBy(*partition_cols)
        .orderBy(F.col(id_col))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    n_tok = (
        F.col(n_tokens_col) if n_tokens_col is not None else token_count(text)
    )
    toks = df.select(
        *[F.col(c) for c in partition_cols],
        F.col(id_col),
        n_tok.alias("_n_tok"),
    )
    packed = toks.withColumn("_cum", F.sum("_n_tok").over(w)).withColumn(
        "seq_id", F.floor((F.col("_cum") - 1) / F.lit(capacity))
    )
    return packed.groupBy(*partition_cols, "seq_id").agg(
        F.count("*").alias("n_docs"),
        F.sum("_n_tok").alias("n_tokens"),
        F.min(id_col).alias("first_doc"),
        F.max(id_col).alias("last_doc"),
    )


#: Gopher-rule stopwords (Rae et al. 2021 §A1.1): a document must
#: contain at least two of these to pass the "required words" rule.
GOPHER_STOPWORDS: tuple[str, ...] = (
    "the", "be", "to", "of", "and", "that", "have", "with",
)


def gopher_quality_flags(
    df: DataFrame,
    id_col: str = "doc_id",
    text: str = "text",
    min_words: int = 5,
    max_words: int = 100_000,
    min_mean_len: float = 3.0,
    max_mean_len: float = 10.0,
    min_alpha_frac: float = 0.8,
    min_stop_hits: int = 2,
) -> DataFrame:
    """Gopher-style heuristic quality rules (public, Rae et al. 2021):
    word-count bounds, mean-word-length bounds, fraction of words with
    an alphabetic character, and required-stopword hits.  Returns one
    row per document with each measured statistic plus a 0/1 ``keep``
    decision.

    All higher-order array functions over a single tokenization — one
    narrow JVM-side projection, no shuffle, no Python.  Ratios are
    floor-half-up rounded to 4 places so the decision thresholds are
    engine-exact (same IEEE arithmetic in the DuckDB oracle).
    """
    pow10 = F.lit(10000.0)
    d = df.select(F.col(id_col), tokens(text).alias("_toks"))
    n = F.size("_toks")
    sum_len = F.aggregate(
        F.transform("_toks", lambda t: F.length(t)),
        F.lit(0),
        lambda acc, x: acc + x,
    )
    mean_len = F.floor(
        sum_len.cast("double") / n.cast("double") * pow10 + F.lit(0.5)
    ) / pow10
    n_alpha = F.size(F.filter("_toks", lambda t: t.rlike("[A-Za-z]")))
    alpha_frac = F.floor(
        n_alpha.cast("double") / n.cast("double") * pow10 + F.lit(0.5)
    ) / pow10
    stop_hits = F.size(
        F.filter(
            F.array(*[F.lit(s) for s in GOPHER_STOPWORDS]),
            lambda s: F.array_contains("_toks", s),
        )
    )
    keep = (
        (n >= F.lit(min_words))
        & (n <= F.lit(max_words))
        & (mean_len >= F.lit(min_mean_len))
        & (mean_len <= F.lit(max_mean_len))
        & (alpha_frac >= F.lit(min_alpha_frac))
        & (stop_hits >= F.lit(min_stop_hits))
    )
    return d.select(
        id_col,
        n.alias("n_words"),
        mean_len.alias("mean_word_len"),
        alpha_frac.alias("alpha_frac"),
        stop_hits.alias("stop_hits"),
        keep.cast("int").alias("keep"),
    )


def token_cooccurrence(
    df: DataFrame,
    id_col: str = "doc_id",
    text: str = "text",
    min_df: int = 2,
    max_df: int | None = None,
    top_n: int = 100,
) -> DataFrame:
    """Document-level token co-occurrence: for every token pair (a <
    b) count the documents containing both, and return the ``top_n``
    pairs (count desc, then pair asc — a total order, so top-N is
    exact).

    Single-evaluation shape (the same doc-grouped postings expansion
    as ``dedup._pair_intersections`` — a postings self-join would
    re-run the tokenize pipeline once per side): tokenize -> explode
    DISTINCT tokens (presence, not frequency) -> df-filter the
    vocabulary with a token-keyed count window (``min_df`` floors it,
    ``max_df`` cuts stopword-ish heads so the per-document pair
    fan-out is bounded) -> regroup per doc -> expand ordered pairs
    IN-ARRAY -> pair count -> TakeOrdered.  At 100 TB the pair
    blow-up is C(v_doc, 2) per document with v_doc capped by the df
    cut; the heavy shuffle keys are (token, token) pairs with partial
    map-side aggregation.
    """
    from pyspark.sql import Window

    # the generator child is array_distinct(<attr>) — a function call,
    # not a bare attribute — so InferFiltersFromGenerate does not fire
    # (SPARK-36715) and the chain never duplicates into the scan
    tok_docs = (
        df.select(F.col(id_col).alias("_id"), tokens(text).alias("_toks"))
        .select("_id", F.explode(F.array_distinct("_toks")).alias("tok"))
    )
    wdf = Window.partitionBy("tok")
    pruned = tok_docs.withColumn("_df", F.count("*").over(wdf)).filter(
        F.col("_df") >= F.lit(min_df)
    )
    if max_df is not None:
        pruned = pruned.filter(F.col("_df") <= F.lit(max_df))
    per_doc = pruned.groupBy("_id").agg(
        F.sort_array(F.collect_list("tok")).alias("_v")
    )
    pair_structs = F.flatten(
        F.transform(
            "_v",
            lambda x: F.transform(
                F.filter("_v", lambda y: x < y),
                lambda y: F.struct(x.alias("tok_a"), y.alias("tok_b")),
            ),
        )
    )
    pairs = (
        per_doc.select(F.explode(pair_structs).alias("_p"))
        .groupBy("_p.tok_a", "_p.tok_b")
        .agg(F.count("*").alias("n_docs"))
    )
    return pairs.orderBy(
        F.col("n_docs").desc(), F.col("tok_a"), F.col("tok_b")
    ).limit(top_n)


def rescore_pairs_tfidf(
    pairs: DataFrame,
    df: DataFrame,
    id_col: str = "doc_id",
    text: str = "text",
    a_col: str = "doc_a",
    b_col: str = "doc_b",
) -> DataFrame:
    """Retrieve-then-rescore: exact TF-IDF dot-product similarity for
    an already-generated candidate pair set (MinHash/LSH, SimHash,
    …).  The candidate generator bounds the pair count, so the exact
    rescoring never goes quadratic — the standard two-stage shape for
    similarity at scale.

    The score is the integer-micros TF-IDF dot product:
    ``Σ_term tf_a·tf_b·N²·10⁶ DIV df²`` — all int64 arithmetic
    (rational idf N/df as in ``tfidf_terms``; integer DIV instead of
    float sums, so the result is engine-exact AND order-independent).
    Overflow bound: tf_a·tf_b·N²·10⁶ must stay < 2⁶³ — fine to ~10⁵
    docs with tf ≤ 10²; beyond that drop the 10⁶ scale or bucket N.

    Plan: per-(doc, term) counts [one shuffle], term doc-frequency
    [vocabulary-sized shuffle], broadcast N, then two id-keyed joins
    from the pair list into the tf table and a per-pair sum.
    """
    # r13: filter NULL ids at the shared tf source.  The two id-keyed
    # inner joins push IsNotNull(id) into the tf_a/tf_b subtrees but
    # NOT into the doc-frequency one, so the three (doc, term)
    # exchanges stopped canonicalizing equal and the corpus was
    # re-scanned and re-tokenized for doc frequency (verified in the
    # formatted plan: Filter isnotnull(doc_id) under two of the three
    # spread exchanges).  Filtering once at the source makes the
    # pushed predicates redundant (constraint-pruned) and all three
    # consumers share ONE tokenize+tf subtree.  A NULL id is not a
    # document identity — candidate pairs can never reference one
    # (the generators key on the id), so the pair scores are
    # unchanged; this only pins that convention for doc_freq too.
    toks = spread_small_input(
        df.filter(F.col(id_col).isNotNull()).select(id_col, text)
    ).select(F.col(id_col), F.explode(tokens(text)).alias("term"))
    tf = toks.groupBy(id_col, "term").agg(F.count("*").alias("tf"))
    # tautological tf >= 1 (see tfidf_terms): keeps tf in this
    # branch's partial aggregate so all THREE consumers of tf (tf_a,
    # tf_b, doc-frequency) canonicalize to the SAME exchange and the
    # tokenize+tf subtree executes once, not three times
    docfreq = tf.filter(F.col("tf") >= 1).groupBy("term").agg(
        F.count("*").alias("doc_freq")
    )
    n_docs = df.select(F.count(id_col).cast("long").alias("n_docs"))
    tf_a = tf.select(
        F.col(id_col).alias(a_col),
        F.col("term"),
        F.col("tf").alias("_tfa"),
    )
    tf_b = tf.select(
        F.col(id_col).alias(b_col),
        F.col("term"),
        F.col("tf").alias("_tfb"),
    )
    joined = (
        pairs.select(a_col, b_col)
        .join(tf_a, a_col)
        .join(tf_b, [b_col, "term"])
        .join(F.broadcast(docfreq), "term")
        .crossJoin(F.broadcast(n_docs))
    )
    contrib = F.expr(
        "_tfa * _tfb * n_docs * n_docs * 1000000L DIV (doc_freq * doc_freq)"
    )
    return (
        joined.withColumn("_c", contrib)
        .groupBy(a_col, b_col)
        .agg(
            F.sum("_c").alias("score_micros"),
            F.count("*").alias("shared_terms"),
        )
    )


def oov_rate(
    df: DataFrame,
    id_col: str = "doc_id",
    text: str = "text",
    vocab_size: int = 1000,
) -> DataFrame:
    """Out-of-vocabulary rate per document against the corpus's own
    top-``vocab_size`` token vocabulary — the exact, log-free cousin
    of a unigram-LM perplexity screen (high OOV ⇒ the doc doesn't
    look like the corpus: wrong language, boilerplate, binary spill).

    The vocabulary is the top-K tokens by corpus frequency under a
    TOTAL order (count desc, token asc), so membership is
    deterministic; per-doc OOV fraction is floor-half-up rounded to 4.

    Plan: one tokenize+explode wordcount [shuffle 1, map-side
    combined] -> exact TakeOrdered top-K (vocab rows, tiny) ->
    broadcast membership -> one second tokenize pass with a
    higher-order filter.  The corpus never shuffles for the
    membership test.
    """
    tok_counts = (
        spread_small_input(df.select(text))
        .select(F.explode(tokens(text)).alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").alias("cnt"))
    )
    vocab = tok_counts.orderBy(
        F.col("cnt").desc(), F.col("tok")
    ).limit(vocab_size).select("tok")
    d = df.select(F.col(id_col), tokens(text).alias("_toks"))
    joined = d.crossJoin(
        F.broadcast(vocab.agg(F.collect_list("tok").alias("_vocab")))
    )
    n = F.size("_toks")
    oov = F.size(
        F.filter("_toks", lambda t: ~F.array_contains(F.col("_vocab"), t))
    )
    pow10 = F.lit(10000.0)
    return joined.select(
        id_col,
        n.alias("n_tokens"),
        oov.alias("n_oov"),
        (F.floor(oov.cast("double") / n.cast("double") * pow10 + F.lit(0.5))
         / pow10).alias("oov_frac"),
    )


def hashed_ngram_buckets(
    toks_col: Column, n_buckets: int, salt: str
) -> Column:
    """Hashed n-gram featurization (word unigrams + adjacent bigrams
    -> bucket ids in [0, n_buckets)) — the fastText / DSIR feature
    map, as one in-scan array expression.  md5 on purpose: available
    and bit-identical in every engine, so the bucket ids are
    oracle-exact (the MinHash rationale, ``dedup.py``).  The bigram
    slice pair is empty for single-token docs."""
    tail_len = F.greatest(F.size(toks_col) - 1, F.lit(0))
    bis = F.zip_with(
        F.slice(toks_col, 1, tail_len),
        F.slice(toks_col, 2, tail_len),
        lambda a, b: F.concat(a, F.lit(" "), b),
    )
    return F.transform(
        F.concat(toks_col, bis),
        lambda t: (
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit(salt), t).cast("binary")), 1, 7
                ),
                16,
                10,
            ).cast("long")
            % n_buckets
        ).cast("int"),
    )


def quality_classifier_score(
    df: DataFrame,
    weights_micros: Sequence[int],
    id_col: str = "doc_id",
    text: str = "text",
    bias_micros: int = 0,
    threshold_micros: int = 500_000,
    salt: str = "qcls:v1",
) -> DataFrame:
    """Deterministic linear quality-classifier INFERENCE — the third
    public quality screen after the Gopher heuristics
    (:func:`gopher_quality_flags`) and the CCNet bigram LM
    (:func:`bigram_lm_score`): a fastText-style linear model (Joulin
    et al. 2016, "Bag of Tricks for Efficient Text Classification")
    over hashed unigram+bigram features, the architecture of the
    quality filters used for GPT-3/LLaMA-class corpus curation (CC vs
    reference-corpus logistic screens).

    ``weights_micros`` is the TRAINED-OFFLINE weight table, one
    integer-micros weight per hash bucket, passed as a plan literal
    (training happens wherever it happens; inference at corpus scale
    is this operator).  A document scores the truncated integer mean
    (``div`` truncates toward zero on both engines — floor only
    because the gate weights are non-negative; a real table with
    negative weights truncates UP on negative sums, identically on
    both engines) of its features' weights plus ``bias_micros`` — an
    EXACT integer dot
    product, evaluated entirely in-scan: featurize (one array
    expression), look each bucket up in the literal weight array,
    fold.  No shuffle, no join, no Python — at 100 TB this is a pure
    map over the corpus, the cheapest possible plan shape.

    NON-NEGATIVE weights are required and WLOG: the score is a mean
    over features, so shifting every weight (and the threshold) by a
    constant is the SAME classifier — shift any trained table to
    min >= 0.  This sidesteps the one cross-engine hazard, negative
    integer-division semantics (trunc vs floor).

    Returns (``id_col``, n_feats, score_micros, keep) — ``keep`` is
    the 0/1 threshold decision, composable as an optional
    ``corpus_filter`` stage."""
    feats = df.filter(F.col(text).isNotNull()).select(
        F.col(id_col),
        hashed_ngram_buckets(tokens(text), len(weights_micros), salt).alias(
            "_f"
        ),
    )
    if len(weights_micros) > QCLS_LITERAL_MAX_BUCKETS:
        scored = qcls_score_joined(
            feats, weights_micros, id_col=id_col, bias_micros=bias_micros
        )
    else:
        scored = feats.select(
            id_col,
            F.size("_f").alias("n_feats"),
            qcls_score_expr("_f", weights_micros, bias_micros).alias(
                "score_micros"
            ),
        )
    return scored.select(
        id_col,
        "n_feats",
        "score_micros",
        (F.col("score_micros") >= F.lit(int(threshold_micros)))
        .cast("int")
        .alias("keep"),
    )


#: Hard cap on the LITERAL-weight-array form: the generated SQL embeds
#: ~10 bytes per bucket inside one janino method, and the 64 KB
#: generated-method limit is a real ceiling (the repo hit it with the
#: in-scan IVF-PQ LUTs, ``similarity.py`` r6→r7).  1024 buckets keeps
#: the literal well under the limit even stacked alongside other
#: expressions in one stage; real fastText tables (1e5–2e6 buckets)
#: take the broadcast-LUT-table form (:func:`qcls_score_joined`), the
#: same idiom that fixed IVF-PQ (``ivfpq_adc_knn_stored``).
QCLS_LITERAL_MAX_BUCKETS = 1024


def _qcls_validate(weights_micros: Sequence[int]) -> None:
    if len(weights_micros) < 1:
        raise ValueError("quality classifier: empty weight table")
    bad = [w for w in weights_micros if w < 0]
    if bad:
        raise ValueError(
            "quality classifier: negative weights "
            f"(e.g. {bad[0]}) — shift the trained table so min >= 0 "
            "(shift-invariant: the mean shifts by the same constant; "
            "shift threshold_micros along with it)"
        )


def qcls_score_expr(
    feats_col: str, weights_micros: Sequence[int], bias_micros: int = 0
) -> Column:
    """The classifier dot product over a NAMED hashed-feature array
    column, as one generated-SQL expression (the k*d-term rule: one
    string, not k Column objects): truncated integer mean (toward
    zero, see :func:`quality_classifier_score`) of the literal weight
    array indexed by each bucket, plus bias — exact BIGINT end to
    end.  Shared by :func:`quality_classifier_score` and the optional
    ``prepare_corpus`` classifier stage so the two can't drift.

    LITERAL form only — refuses tables past
    ``QCLS_LITERAL_MAX_BUCKETS`` (janino's 64 KB generated-method
    limit; per-model data belongs in a broadcast TABLE once it is
    big, not in compiled literals).  Use :func:`qcls_score_joined`
    for production-sized tables."""
    n_buckets = len(weights_micros)
    _qcls_validate(weights_micros)
    if n_buckets > QCLS_LITERAL_MAX_BUCKETS:
        raise ValueError(
            f"quality classifier: {n_buckets} buckets exceeds the "
            f"literal-expression cap ({QCLS_LITERAL_MAX_BUCKETS}) — a "
            "weight array this large belongs in a broadcast table, "
            "not generated code (janino 64 KB method limit); use "
            "qcls_score_joined / quality_classifier_score, which "
            "switch to the broadcast-LUT form automatically"
        )
    arr = "array(" + ",".join(f"{int(w)}L" for w in weights_micros) + ")"
    # the CASE guard (not bare div): an EMPTY feature array scores
    # NULL under both ANSI (where div 0 throws) and legacy modes
    return F.expr(
        f"if(size({feats_col}) = 0, CAST(NULL AS BIGINT), "
        f"(aggregate({feats_col}, 0L, (acc, b) -> "
        f"acc + element_at({arr}, b + 1)) div size({feats_col})) "
        f"+ {int(bias_micros)}L)"
    )


def qcls_score_joined(
    feats: DataFrame,
    weights_micros: Sequence[int],
    id_col: str = "doc_id",
    feats_col: str = "_f",
    bias_micros: int = 0,
) -> DataFrame:
    """The SAME classifier dot product for production-sized weight
    tables (1e5–2e6 buckets): explode the hashed-feature array and
    broadcast-join a (bucket, weight) table — the stored-LUT idiom
    (``ivfpq_adc_knn_stored``), so generated code stays CONSTANT in
    table size.  Bit-identical to :func:`qcls_score_expr` (pinned by
    test): truncated integer mean (toward zero, see
    :func:`quality_classifier_score`) of matched weights plus bias,
    exact BIGINT; a
    doc with an empty feature array keeps its row (explode_outer)
    and scores NULL, exactly as ``x div 0`` does in the literal form.

    Plan at 100 TB: one narrow scan -> explode (no shuffle) ->
    broadcast hash join (weight table ~16 MB at 2e6 buckets) -> one
    map-side-combinable groupBy on ``id_col``.  One shuffle total,
    carrying (id, n, sum) — never text."""
    import pandas as pd

    _qcls_validate(weights_micros)
    spark = feats.sparkSession
    wdf = spark.createDataFrame(
        pd.DataFrame(
            {
                "_bucket": range(len(weights_micros)),
                "_w": [int(w) for w in weights_micros],
            }
        ),
        schema="_bucket int, _w long",
    )
    exploded = feats.select(
        id_col,
        F.size(feats_col).alias("_nf"),
        F.explode_outer(feats_col).alias("_bucket"),
    )
    # an out-of-range bucket (featurizer/table size mismatch) must
    # fail LOUDLY, as the literal form's element_at does under ANSI —
    # a silent left-join drop would produce a plausible-looking but
    # wrong floor-mean (sum skips the bucket, n stays full)
    matched = F.when(
        F.col("_bucket").isNotNull() & F.col("_w").isNull(),
        F.raise_error(
            F.concat(
                F.lit(
                    "qcls_score_joined: feature bucket outside the "
                    "weight table (got bucket "
                ),
                F.col("_bucket").cast("string"),
                F.lit(
                    f", table has {len(weights_micros)} buckets) — "
                    "featurize with n_buckets == len(weights_micros)"
                ),
            )
        ).cast("long"),
    ).otherwise(F.col("_w"))
    return (
        exploded.join(F.broadcast(wdf), "_bucket", "left")
        .groupBy(id_col, "_nf")
        .agg(F.sum(matched).alias("_sw"))
        .select(
            id_col,
            F.col("_nf").alias("n_feats"),
            # same empty-array guard as the literal form (ANSI-safe)
            F.expr(
                f"if(_nf = 0, CAST(NULL AS BIGINT), "
                f"(_sw div _nf) + {int(bias_micros)}L)"
            ).alias("score_micros"),
        )
    )


def target_affinity(
    df: DataFrame,
    target: DataFrame,
    id_col: str = "doc_id",
    text: str = "text",
    n_buckets: int = 4096,
    scale: int = 1_000_000,
    salt: str = "dsir:v1",
) -> DataFrame:
    """Hashed-n-gram target-domain affinity score per corpus document —
    the data-selection screen of DSIR (Xie et al. 2023, "Data Selection
    for Language Models via Importance Resampling"): featurize every
    doc as hashed unigrams+bigrams, compare each feature's frequency in
    a small TARGET corpus (the domain you want more of) against its
    frequency in the raw corpus, and score docs by how target-like
    their features are.  Feed the scores to ``pps_systematic_sample``
    or a top-k cut to assemble a domain-skewed training mixture.

    Exactness over log-likelihood: DSIR's per-feature weight is
    ``log(p_target/p_raw)``; cross-engine float ``ln`` is not
    bit-stable, so the per-feature weight here is the scaled count
    ratio ``(c_target * scale) div c_raw`` in exact BIGINT arithmetic
    (the global ``N_raw/N_target`` normalization is a constant factor
    over all docs and cannot change any ranking/threshold decision, so
    it is dropped).  A doc's score is the truncated integer mean of
    its features' weights, in micros (floor here — the count-ratio
    weights are non-negative by construction).  Relative to the log form this up-weights
    high-ratio features — acceptable for a screen whose output is an
    ordering; documented, deterministic, and oracle-checkable.

    Returns (id_col, n_feats, affinity_micros), one row per corpus doc.

    Plan shape at 100 TB: the corpus is featurized once
    [explode+count, map-side combined into <= n_buckets rows per task
    -> tiny shuffle]; the target is small by definition [same, tiny];
    the per-bucket weight table (<= n_buckets rows) broadcast-joins
    back to the corpus features, and the only real shuffle is the
    per-doc partial-aggregated (id, sum, count) rollup.  The corpus
    text itself never shuffles and nothing collects to the driver.
    """
    def feat_buckets(toks_col: Column) -> Column:
        return hashed_ngram_buckets(toks_col, n_buckets, salt)

    corpus_feats = spread_small_input(df.select(id_col, text)).select(
        id_col, F.explode(feat_buckets(tokens(text))).alias("_b")
    )
    tgt_feats = spread_small_input(target.select(text)).select(
        F.explode(feat_buckets(tokens(text))).alias("_b")
    )
    c_raw = corpus_feats.groupBy("_b").agg(F.count("*").alias("_craw"))
    c_tgt = tgt_feats.groupBy("_b").agg(F.count("*").alias("_ctgt"))
    weights = c_raw.join(c_tgt, "_b", "left").select(
        "_b",
        F.expr(f"(coalesce(_ctgt, 0L) * {scale}) div _craw").alias("_w"),
    )
    return (
        corpus_feats.join(F.broadcast(weights), "_b")
        .groupBy(id_col)
        .agg(F.count("*").alias("n_feats"), F.sum("_w").alias("_sw"))
        .select(
            id_col,
            "n_feats",
            F.expr("_sw div n_feats").alias("affinity_micros"),
        )
    )


def bigram_lm_score(
    df: DataFrame,
    ref: DataFrame,
    text: str = "text",
    id_col: str = "doc_id",
    scale: int = 10 ** 6,
) -> DataFrame:
    """Bigram language-model fluency screen — the CCNet quality filter
    (Wenzek et al. 2020, "CCNet: Extracting High Quality Monolingual
    Datasets from Web Crawl Data"): train a small LM on a HIGH-QUALITY
    reference corpus, score every crawl document by how probable its
    word sequences are under it, and filter/stratify on the score.

    Exactness over perplexity (the ``tfidf_terms`` /
    ``target_affinity`` precedent): CCNet ranks by the geometric mean
    of token probabilities, whose ``ln`` is not bit-stable across
    engines.  Here each adjacent bigram gets an add-one-smoothed
    conditional probability in EXACT integer micros —
    ``((c12 + 1) * scale) div (c1 + V)`` with c12 = reference count of
    the bigram, c1 = reference count of the prefix word, V = reference
    vocabulary size — and a doc scores the truncated integer mean of
    its bigram probabilities (floor here — smoothed probabilities are
    non-negative by construction).  The arithmetic mean ranks fluent text above
    gibberish just like the geometric mean (dominated by the same
    zero-count mass), and every value is BIGINT — deterministic,
    oracle-checkable, ordering-stable.

    Returns (id_col, n_bigrams, lm_score_micros), one row per doc
    with >= 1 bigram (sub-2-token docs have no sequence evidence and
    are emitted by neither engine).

    Plan shape at 100 TB: both corpora are tokenized in-scan and
    reduced to count tables that are VOCABULARY-sized, not
    corpus-sized (bigram counts map-side combine before the shuffle);
    the corpus bigram stream then equi-joins the two count tables on
    well-spread word keys — broadcastable when the reference is small
    (the CCNet setup: the optimizer/AQE picks this up from the count
    table's actual size), plain shuffle joins otherwise — and rolls up
    per doc.  Raw text never shuffles.  For a bounded-memory variant,
    cut the reference to its top-K bigrams first (the ``oov_rate``
    broadcast precedent) — unseen bigrams already take the smoothed
    floor probability, so a cut only sharpens the screen.
    """
    def bigrams(frame: DataFrame, cols: list) -> DataFrame:
        t = tokens(text)
        tail = F.greatest(F.size(t) - 1, F.lit(0))
        pairs = F.zip_with(
            F.slice(t, 1, tail),
            F.slice(t, 2, tail),
            lambda a, b: F.struct(a.alias("_w1"), b.alias("_w2")),
        )
        return frame.select(*cols, F.explode(pairs).alias("_p")).select(
            *cols, F.col("_p._w1").alias("_w1"), F.col("_p._w2").alias("_w2")
        )

    ref_toks = spread_small_input(ref.select(text))
    ref_bi = bigrams(ref_toks, [])
    c12 = ref_bi.groupBy("_w1", "_w2").agg(F.count("*").alias("_c12"))
    c1 = ref_bi.groupBy("_w1").agg(F.count("*").alias("_c1"))
    vocab = ref_toks.select(
        F.explode(tokens(text)).alias("_w")
    ).agg(F.count_distinct("_w").alias("_v"))

    doc_bi = bigrams(
        spread_small_input(df.select(id_col, text)), [id_col]
    )
    p = (
        doc_bi.join(c12, ["_w1", "_w2"], "left")
        .join(c1, "_w1", "left")
        .crossJoin(F.broadcast(vocab))
        .select(
            id_col,
            F.expr(
                f"((coalesce(_c12, 0L) + 1) * {int(scale)}) "
                f"div (coalesce(_c1, 0L) + _v)"
            ).alias("_p"),
        )
    )
    return (
        p.groupBy(id_col)
        .agg(F.count("*").alias("n_bigrams"), F.sum("_p").alias("_sp"))
        .select(
            id_col,
            "n_bigrams",
            F.expr("_sp div n_bigrams").alias("lm_score_micros"),
        )
    )


def _fuse_pair_expr(t: Column, left: str, right: str, sep: str) -> Column:
    """In-scan array fold fusing every (``left``, ``right``) adjacency
    in token array ``t`` into one ``left+sep+right`` token — the merge
    pair is a broadcast LITERAL in the plan (the PQ-codebook idiom).
    Requires ``left != right`` (self-pairs would make leftmost-greedy
    fusion sequential; see :func:`bpe_word_merges`), which makes the
    occurrence set non-overlapping and the fold order-independent.
    Delegates to :func:`_fuse_pair_dyn` (ONE canonical implementation
    of the subtle simultaneous-fusion expression) with the pair as
    plan literals."""
    return _fuse_pair_dyn(
        t, F.lit(left), F.lit(right), F.lit(left + sep + right)
    )


#: max merge-rule count replayed as SEQUENTIAL per-rank array folds
#: (one plan + lazy localCheckpoint per rank).  Beyond this the apply
#: paths auto-switch to :func:`_ranked_fixpoint_apply`: the fold
#: chain's unresolved lineage is only truncated at ACTION time, so
#: Catalyst analyzes all R chained plans recursively at once — a
#: StackOverflowError at R=256 on the default JVM stack (r11 probe,
#: tools/probe_bpe_rules.py), and even below the crash point each
#: rank is a full pass over its input (R passes, vs the fixpoint's
#: ~max-symbols-per-row rounds).  24 keeps every oracle-gated plan
#: (<= 3 rules) and every differential test (<= 16) on the proven
#: fold-chain shape while staying far from the cliff.
BPE_APPLY_FOLD_MAX = 24


class FixpointPreconditionError(ValueError):
    """The ONE fixpoint-apply failure the fold chain legitimately
    handles: a learner-legitimate table where two merge paths collide
    on the same symbol string (a later rule producing an earlier
    rule's input).  Distinct from plain ``ValueError`` so
    :func:`_apply_ranked_merges` falls back ONLY for this case —
    genuinely malformed tables (self-pairs, whitespace symbols,
    duplicate pairs) keep surfacing (r11 advisor finding)."""


def _validate_fixpoint_merges(
    merges: "Sequence[tuple[str, str]]", sep: str
) -> None:
    """The fixpoint form's equivalence precondition: NO rule's input
    symbol may equal a LATER rule's output (``left+sep+right``).
    Learner-produced tables satisfy this by construction — rule k's
    inputs are base symbols or outputs of rules < k — except in the
    degenerate case where two different merge paths produce the same
    symbol STRING (e.g. ('ab','c') before ('a','bc'), both making
    'abc' under sep='').  Under the precondition, fusing rule k can
    only create adjacencies involving its own output, so no rule of
    lower rank ever becomes applicable again and min-rank fixpoint
    order is exactly sequential replay order (proof in
    :func:`_ranked_fixpoint_apply`).  Also asserts symbols are
    whitespace-free — guaranteed for anything produced by
    :func:`tokens` / :func:`_word_symbols` — because the in-plan rank
    LUT keys pairs as ``left + ' ' + right``."""
    later_outputs: set[str] = set()
    for left, right in reversed(list(merges)):
        if left == right:
            raise ValueError(
                f"self-pair rule ({left!r}, {right!r}) — the learner "
                "never emits these (fusion would be order-dependent)"
            )
        if any(ch.isspace() for ch in left + right):
            raise ValueError(
                f"rule ({left!r}, {right!r}) contains whitespace — "
                "impossible for whitespace-split symbols, and the "
                "fixpoint rank LUT keys pairs on a space separator"
            )
        if left in later_outputs or right in later_outputs:
            raise FixpointPreconditionError(
                f"rule input ({left!r}, {right!r}) is produced by a "
                "LATER rule — min-rank fixpoint would diverge from "
                "sequential replay on this table; re-learn the rules "
                "(learner output never does this unless two merge "
                "paths collide on the same symbol string)"
            )
        later_outputs.add(left + sep + right)


def _fuse_pair_dyn(
    t: Column, left: Column, right: Column, fused: Column
) -> Column:
    """:func:`_fuse_pair_expr` with the merge pair as per-row COLUMNS
    instead of plan literals — the fixpoint round fuses a DIFFERENT
    rule per row (each row's lowest-ranked applicable pair).  Same
    order-independence argument: callers guarantee left != right per
    row, so occurrences never overlap."""
    n = F.size(t)

    def cell(i: Column) -> Column:
        at = lambda j: F.element_at(t, j + 1)  # noqa: E731 — 0-based
        return (
            F.when(
                (i < n - 1) & (at(i) == left) & (at(i + 1) == right),
                fused,
            )
            .when(
                (i > 0) & (at(i - 1) == left) & (at(i) == right),
                F.lit(None).cast("string"),
            )
            .otherwise(at(i))
        )

    return F.when(n <= 0, F.array().cast("array<string>")).otherwise(
        F.filter(
            F.transform(F.sequence(F.lit(0), n - 1), cell),
            lambda x: x.isNotNull(),
        )
    )


def _ranked_fixpoint_apply(
    df: DataFrame,
    sym_col: str,
    merges: "Sequence[tuple[str, str]]",
    sep: str,
    carry_cols: "Sequence[str]",
) -> DataFrame:
    """Replay a ranked merge table by MIN-RANK FIXPOINT — the
    GPT-2/HuggingFace apply algorithm — instead of one sequential
    fold per rank: each round, every row fuses ALL occurrences of its
    single lowest-ranked applicable pair; rounds repeat until no row
    has an applicable pair.

    EQUIVALENCE to sequential replay (requires
    :func:`_validate_fixpoint_merges`): fusing pair k's output f_k
    only creates NEW adjacencies involving f_k itself, so a rule i
    whose inputs are not producible by later rules can never become
    applicable after it first goes inapplicable — each row therefore
    applies rules in strictly increasing rank order, fusing all of a
    rule's occurrences at once, which is literally what the
    sequential fold does at that rule's rank.  A rule also applies at
    most ONCE per row (new occurrences of (l_k, r_k) would need l_k
    or r_k produced by a rank > k — excluded), so round count is
    bounded by the max symbol count per row (word length for the
    subword TYPE table), INDEPENDENT of the rule count.

    Plan shape per round: one in-scan expression pass — the rank LUT
    is three constant-folded map literals (pair->rank, rank->left,
    rank->right: the PQ-codebook broadcast-literal idiom, fine to 32k
    rules because a python-list ``F.lit`` is ONE Literal node, not a
    per-element expression tree) — then an EAGER localCheckpoint (the
    lineage cut that keeps analysis depth constant; the fold chain's
    lazy cuts are what stack-overflowed) plus one bounded
    ``limit(1).count()`` termination probe.

    ACTIVE-SET loop: a row leaves the loop the first round it has no
    applicable pair (most words converge in a few rounds — round
    count is driven by the LONGEST row), so per-round work shrinks
    with the active frontier and total materialized rows ~ input +
    total merges applied, NOT rounds x input.  The result is the
    union of the per-round finished slices (each a filter over that
    round's checkpoint — bounded at one part per round).  vs the fold
    chain's R full passes: at a shipped 32k-merge vocabulary over a
    1e8-row word-type table that is ~input-sized total work instead
    of 32,000 full passes."""
    _validate_fixpoint_merges(merges, sep)
    if not merges:
        # vacuous table: nothing to apply (and F.lit([]) literals
        # below would be un-typable) — public callers never reach
        # here (the fold branch owns <= BPE_APPLY_FOLD_MAX)
        return df
    pair_keys = [left + " " + right for left, right in merges]
    if len(set(pair_keys)) != len(pair_keys):
        raise ValueError(
            "duplicate merge pair in ranked table — ranks would be "
            "ambiguous"
        )
    ranks = list(range(len(merges)))
    rank_map = F.map_from_arrays(F.lit(pair_keys), F.lit(ranks))
    left_map = F.map_from_arrays(
        F.lit(ranks), F.lit([left for left, _ in merges])
    )
    right_map = F.map_from_arrays(
        F.lit(ranks), F.lit([right for _, right in merges])
    )

    def min_rank(t: Column) -> Column:
        # sequence(a, b) DESCENDS when a > b — guard size < 2
        # try_element_at, not element_at: most adjacent pairs are NOT
        # in the rank table, and the NULL-on-missing-key contract this
        # lookup depends on is exactly what a stricter ANSI
        # element_at-on-map semantics would break
        # (MAP_KEY_DOES_NOT_EXIST) — r11 advisor finding
        pair_ranks = F.transform(
            F.sequence(F.lit(0), F.size(t) - 2),
            lambda i: F.try_element_at(
                rank_map,
                F.concat(
                    F.element_at(t, i + 1),
                    F.lit(" "),
                    F.element_at(t, i + 2),
                ),
            ),
        )
        return F.when(F.size(t) >= 2, F.array_min(pair_ranks)).otherwise(
            F.lit(None).cast("int")
        )

    from functools import reduce as _reduce

    carry = list(carry_cols)
    cur = df
    finished_parts: list[DataFrame] = []

    def _union(parts: list[DataFrame]) -> DataFrame:
        return parts[0] if len(parts) == 1 else _reduce(
            DataFrame.unionByName, parts
        )

    # round bound: max symbols per row caps applied rules per row; the
    # hard cap is a runaway guard only (a 100k-symbol row would mean
    # a 100k-char word reached the tokenizer)
    for _ in range(100_000):
        cur = cur.withColumn("_mr", min_rank(F.col(sym_col))).localCheckpoint(
            eager=True
        )
        # converged rows exit HERE, once — the next round's pass runs
        # only over the shrinking active frontier.  ONE bounded
        # aggregate per round answers both control questions
        # (any-finished? any-active?) over the checkpointed data; a
        # second per-round action would dominate toy-scale wall time.
        # Skip empty slices and collapse the part list through an
        # eager checkpoint before it grows into the very plan-depth
        # cliff the fixpoint exists to avoid: without this,
        # rounds-deep unionByName chains re-resolve a growing prefix
        # each round (O(rounds^2) analysis) and a many-hundred-round
        # corpus apply could re-hit the Catalyst recursion limit.
        counts = cur.agg(
            F.count_if(F.col("_mr").isNull()).alias("f"),
            F.count_if(F.col("_mr").isNotNull()).alias("a"),
        ).first()
        if counts["f"] > 0:
            finished_parts.append(
                cur.filter(F.col("_mr").isNull()).drop("_mr")
            )
        if len(finished_parts) >= 32:
            finished_parts = [
                _union(finished_parts).localCheckpoint(eager=True)
            ]
        active = cur.filter(F.col("_mr").isNotNull())
        if counts["a"] == 0:
            if not finished_parts:  # empty input df
                return cur.drop("_mr")
            return _union(finished_parts)
        lc = F.element_at(left_map, F.col("_mr"))
        rc = F.element_at(right_map, F.col("_mr"))
        fused = F.concat(lc, F.lit(sep), rc)
        cur = active.select(
            *carry,
            _fuse_pair_dyn(F.col(sym_col), lc, rc, fused).alias(sym_col),
        )
    raise RuntimeError(
        "_ranked_fixpoint_apply: 100k rounds without convergence — "
        "input symbol arrays are pathologically long"
    )


#: largest rule table the SEQUENTIAL fold chain is known-safe for —
#: the collision-table fallback bound of :func:`_apply_ranked_merges`.
#: The Catalyst recursion cliff was measured at 256 chained ranks
#: (StackOverflowError, tools/probe_bpe_rules.py); 128 leaves 2x
#: headroom.
BPE_APPLY_SEQ_FALLBACK_MAX = 128


def _apply_ranked_merges(
    df: DataFrame,
    sym_col: str,
    merges: "Sequence[tuple[str, str]]",
    sep: str,
    carry_cols: "Sequence[str]",
) -> DataFrame:
    """The ONE branch-selection point all apply paths share: replay
    ``merges`` over ``df[sym_col]`` via the sequential fold chain
    (<= :data:`BPE_APPLY_FOLD_MAX` rules — the oracle-gated plan
    shape) or the min-rank fixpoint (:func:`_ranked_fixpoint_apply`)
    beyond it.

    Escape hatch: a learner-LEGITIMATE table can still fail the
    fixpoint equivalence precondition when two merge paths collide on
    the same symbol string (a later rule producing an earlier rule's
    input — possible under sep='' subword concatenation).  Sequential
    replay handles such tables correctly, so up to
    :data:`BPE_APPLY_SEQ_FALLBACK_MAX` rules the helper FALLS BACK to
    the fold chain instead of refusing; past that, both paths are
    unusable (the fold chain hits the measured ~256-rank Catalyst
    recursion cliff) and the error propagates with its re-learn
    guidance."""
    carry = list(carry_cols)
    # r12: pin the apply chain's parallelism.  The input usually
    # arrives through a distinct()/join exchange whose output AQE
    # coalesces BY BYTES — and the type/doc table is tiny in bytes
    # while the fold below it is the most compute-dense projection in
    # the repo (R chained per-symbol array rewrites per row), so
    # byte-based coalescing starves it down to 1-2 tasks (measured: a
    # 2-task apply stage carrying 3-5 s of single-core CPU each at
    # sf0.1 in a vanilla session).  An explicit numbered repartition
    # is the one exchange AQE never coalesces; the key keeps rows of
    # one word/doc together and the moved bytes are the (small)
    # symbol table itself.  Results are row-local rewrites — order
    # never matters downstream (gates hash order-insensitively).
    # r13 (r12 verdict): FLOOR at the input's own partition count —
    # defaultParallelism alone would UNDER-partition a 100 TB
    # doc-level apply whose scan already yields thousands of
    # partitions; locally the floor is a no-op (small inputs arrive
    # through few-partition exchanges and spread to
    # defaultParallelism).  test_apply_ranked_merges_parallelism_pin
    # asserts the executed partition count end-to-end.
    sc = df.sparkSession.sparkContext
    n_spread = max(sc.defaultParallelism, df.rdd.getNumPartitions())
    df = df.repartition(n_spread, carry[0] if carry else sym_col)
    if len(merges) > BPE_APPLY_FOLD_MAX:
        try:
            return _ranked_fixpoint_apply(df, sym_col, merges, sep, carry)
        except FixpointPreconditionError:
            # ONLY the collision precondition falls back (r11 advisor
            # finding: a blanket ValueError catch also swallowed the
            # malformed-table validations, which must surface)
            if len(merges) > BPE_APPLY_SEQ_FALLBACK_MAX:
                raise
            # collision table small enough for the proven fold chain
    cur = df
    for left, right in merges:
        cur = cur.select(
            *carry,
            _fuse_pair_expr(F.col(sym_col), left, right, sep).alias(sym_col),
        ).localCheckpoint(eager=False)
    return cur


def bpe_word_merges(
    df: DataFrame,
    text_col: str = "text",
    n_merges: int = 3,
    sep: str = "\x01",
) -> DataFrame:
    """BPE-style merge-rule LEARNING at word granularity (the
    tokenizer-vocabulary induction step of Sennrich et al. 2016,
    "Neural Machine Translation of Rare Words with Subword Units",
    run over words instead of characters — the word2phrase/phrase-
    vocabulary variant): repeat ``n_merges`` times — count all
    adjacent token pairs across the corpus, pick the most frequent
    (ties: lexicographically smallest pair), fuse every occurrence
    into a single token, recount on the merged corpus.

    SELF-PAIRS (a, a) are excluded from merge candidates: for a != b
    the occurrence set of (a, b) is non-overlapping by construction,
    so "fuse every occurrence" is order-independent — the same result
    from a parallel scan, a left-to-right fold, or the unrolled SQL
    mirror (self-pairs in runs like "a a a" would make leftmost-greedy
    inherently sequential).

    Returns one row per learned rule: (merge_round, merge_left,
    merge_right, pair_count, corpus_tokens_after) — ``pair_count`` is
    the pair's corpus frequency when it was chosen, and because every
    occurrence fuses exactly two tokens into one,
    ``corpus_tokens_after`` must drop by exactly ``pair_count`` each
    round: the output carries its own application-correctness
    invariant, and the gate oracle re-derives the whole trajectory
    (argmax CTE per round, the pagerank_micros unrolled-fold recipe —
    all counts and string compares, no floats anywhere).

    Scale shape: each round is one tokenize-free pair explode over the
    (checkpointed) token arrays -> one map-side-combinable count
    shuffle -> a 1-row driver argmax -> an in-scan merge expression
    (the learned pair is a broadcast literal, like PQ codebooks).
    Rounds checkpoint their merged arrays so round r's plan does not
    re-embed rounds 1..r-1 (the iterative-fold lineage cut).  Only
    ``n_merges`` (pair, count) rows ever reach the driver.

    r13: ``corpus_tokens_after`` is derived arithmetically —
    ``tokens_before - pair_count`` — instead of re-measured with a
    second full aggregate pass per round.  The identity is exact, not
    approximate: ``left != right`` makes the chosen pair's adjacent
    occurrences disjoint, every occurrence fuses two tokens into one,
    and ``pair_count`` counts exactly those adjacencies — so each
    fusion removes exactly ``pair_count`` tokens.  This halves the
    per-round corpus passes (argmax only) and drops the final round's
    fuse pass entirely (nothing downstream consumes the merged
    corpus; apply paths replay the learned rules themselves).  The
    trajectory stays externally checked: the gate oracle re-derives
    every round's argmax AND token totals from its own replay."""
    if n_merges < 1:
        raise ValueError("bpe_word_merges: n_merges must be >= 1")
    spark = df.sparkSession
    cur = (
        spread_small_input(df.select(F.col(text_col).alias("_txt")))
        .filter(F.col("_txt").isNotNull())
        .select(tokens("_txt").alias("_t"))
        .localCheckpoint(eager=False)
    )
    tokens_total = int(
        cur.agg(F.coalesce(F.sum(F.size("_t")), F.lit(0))).first()[0]
    )
    out_rows: list[tuple] = []
    for rnd in range(1, n_merges + 1):
        pairs = (
            cur.filter(F.size("_t") >= 2)
            .select(
                F.explode(
                    F.expr(
                        "transform(sequence(0, size(_t) - 2), "
                        "i -> struct(_t[i] AS l, _t[i + 1] AS r))"
                    )
                ).alias("_p")
            )
            .select("_p.l", "_p.r")
            .filter(F.col("l") != F.col("r"))
        )
        top = (
            pairs.groupBy("l", "r")
            .agg(F.count("*").alias("c"))
            .orderBy(F.desc("c"), "l", "r")
            .limit(1)
            .collect()
        )
        if not top:
            break
        left, right = top[0]["l"], top[0]["r"]
        count = int(top[0]["c"])
        if rnd < n_merges:
            cur = cur.select(
                _fuse_pair_expr(F.col("_t"), left, right, sep).alias("_t")
            ).localCheckpoint(eager=False)
        tokens_total -= count
        out_rows.append((rnd, left, right, count, tokens_total))
    return spark.createDataFrame(
        out_rows,
        "merge_round int, merge_left string, merge_right string, "
        "pair_count bigint, corpus_tokens_after bigint",
    )


def bpe_apply_merges(
    df: DataFrame,
    merges: Sequence[tuple[str, str]],
    text_col: str = "text",
    id_col: str = "doc_id",
    sep: str = "\x01",
) -> DataFrame:
    """APPLY a ranked merge table to every document — the tokenize
    step a pretraining pipeline actually runs per document with the
    vocabulary :func:`bpe_word_merges` learned (Sennrich et al. 2016
    §3: merges are replayed in learned rank order at encode time).

    ``merges`` is the learned ``[(left, right), ...]`` list in rank
    order (a tiny driver-side literal, exactly like PQ codebooks —
    ``n_merges`` string pairs, never data).  Each rank is one in-scan
    array fold (:func:`_fuse_pair_expr`); ranks ``localCheckpoint``
    between folds so rank r's plan doesn't re-embed ranks 1..r-1 (the
    same iterative-fold lineage cut the learner uses).  Self-pair
    rules are rejected, mirroring the learner's order-independence
    restriction.

    Returns (``id_col``, tokens array<string>) — whitespace words
    with every learned adjacency fused to ``left+sep+right``."""
    for left, right in merges:
        if left == right:
            raise ValueError(
                "bpe_apply_merges: self-pair rule "
                f"({left!r}, {right!r}) — the learner never emits "
                "these (fusion would be order-dependent)"
            )
    cur = (
        df.filter(F.col(text_col).isNotNull())
        .select(F.col(id_col), tokens(text_col).alias("_t"))
        .localCheckpoint(eager=False)
    )
    # fold chain at gate sizes, min-rank fixpoint at realistic rule
    # tables (rounds bounded by tokens per document, not rule count) —
    # one shared branch point, see _apply_ranked_merges
    cur = _apply_ranked_merges(cur, "_t", merges, sep, [id_col])
    return cur.select(id_col, F.col("_t").alias("tokens"))


def _word_symbols(word: Column, eow: str) -> Column:
    """A word's initial subword-symbol sequence: its characters plus
    a separate end-of-word marker symbol (Sennrich et al. 2016 §3.2).
    The empty word (an all-whitespace document tokenizes to [''])
    is guarded explicitly to [eow] alone: ``split('', '')`` has been
    observed returning [''] in some plan contexts, which would emit
    a phantom '' symbol and a phantom ('', eow) pair — diverging
    from the oracle and the pure-Python reference (both define
    chars('') = [])."""
    return F.when(word == F.lit(""), F.array(F.lit(eow))).otherwise(
        F.concat(F.split(word, ""), F.array(F.lit(eow)))
    )


def bpe_subword_merges(
    df: DataFrame,
    text_col: str = "text",
    n_merges: int = 3,
    eow: str = "</w>",
) -> DataFrame:
    """CHARACTER-level BPE merge learning — the actual subword
    tokenizer induction of Sennrich et al. 2016 ("Neural Machine
    Translation of Rare Words with Subword Units"), where
    :func:`bpe_word_merges` is the word-granularity
    (word2phrase-style) variant: each word becomes its character
    sequence plus an end-of-word marker symbol, and each round fuses
    the corpus-most-frequent adjacent SYMBOL pair — strictly within
    words, never across a boundary (the marker is the last symbol of
    every word, so per-word arrays make cross-word pairs
    unrepresentable).

    The decisive scale property over the word-level learner: rounds
    run over the WORD-TYPE table (word, corpus_frequency), not the
    corpus — pair counts are frequency-weighted sums, so a 100 TB
    corpus costs one word-count shuffle up front and then
    vocabulary-sized work per round (exactly how reference BPE
    implementations operate on word-frequency dictionaries).

    Self-pairs (a, a) are excluded, the same order-independence
    restriction as the word-level learner (leftmost-greedy fusion of
    runs like "aaa" is inherently sequential; excluding them keeps
    "fuse every occurrence" a parallel in-scan expression).  This is
    the one documented deviation from Sennrich's reference
    implementation, which merges self-pairs leftmost-greedily.

    Returns one row per learned rule: (merge_round, merge_left,
    merge_right, pair_count, corpus_symbols_after) — ``pair_count``
    is the pair's CORPUS frequency (type count x word frequency), and
    ``corpus_symbols_after`` drops by exactly ``pair_count`` each
    round (the self-checking invariant of :func:`bpe_word_merges`).

    r13: like :func:`bpe_word_merges`, ``corpus_symbols_after`` is
    derived as ``symbols_before - pair_count`` (exact: disjoint
    occurrences under ``left != right``, each fusing two symbols into
    one, frequency-weighted on both sides) instead of a second
    aggregate pass per round, and the final round's fuse pass is
    skipped; the oracle still re-derives the full trajectory.

    Ref: reference repo has no tokenizer surface; this extends the
    LLM-pipeline family (SURVEY.md §6) past word-level merges."""
    if n_merges < 1:
        raise ValueError("bpe_subword_merges: n_merges must be >= 1")
    spark = df.sparkSession
    wt = (
        spread_small_input(df.select(F.col(text_col).alias("_txt")))
        .filter(F.col("_txt").isNotNull())
        .select(F.explode(tokens("_txt")).alias("_w"))
        .groupBy("_w")
        .agg(F.count("*").alias("_f"))
    )
    cur = wt.select(
        _word_symbols(F.col("_w"), eow).alias("_s"), "_f"
    ).localCheckpoint(eager=False)
    symbols_total = int(
        cur.agg(
            F.coalesce(F.sum(F.col("_f") * F.size("_s")), F.lit(0))
        ).first()[0]
    )
    out_rows: list[tuple] = []
    for rnd in range(1, n_merges + 1):
        pairs = (
            cur.filter(F.size("_s") >= 2)
            .select(
                F.explode(
                    F.expr(
                        "transform(sequence(0, size(_s) - 2), "
                        "i -> struct(_s[i] AS l, _s[i + 1] AS r))"
                    )
                ).alias("_p"),
                "_f",
            )
            .select("_p.l", "_p.r", "_f")
            .filter(F.col("l") != F.col("r"))
        )
        top = (
            pairs.groupBy("l", "r")
            .agg(F.sum("_f").alias("c"))
            .orderBy(F.desc("c"), "l", "r")
            .limit(1)
            .collect()
        )
        if not top:
            break
        left, right = top[0]["l"], top[0]["r"]
        count = int(top[0]["c"])
        # fused symbol is the plain concatenation (no separator):
        # subword symbols are character strings, 'w' + '</w>' ->
        # 'w</w>', 'e' + 's' -> 'es'
        if rnd < n_merges:
            cur = cur.select(
                _fuse_pair_expr(F.col("_s"), left, right, "").alias("_s"),
                "_f",
            ).localCheckpoint(eager=False)
        symbols_total -= count
        out_rows.append((rnd, left, right, count, symbols_total))
    return spark.createDataFrame(
        out_rows,
        "merge_round int, merge_left string, merge_right string, "
        "pair_count bigint, corpus_symbols_after bigint",
    )


def bpe_subword_vocab(
    df: DataFrame,
    merges: Sequence[tuple[str, str]],
    text_col: str = "text",
    id_col: str = "doc_id",
    eow: str = "</w>",
) -> DataFrame:
    """The (token, token_id) vocabulary :func:`bpe_subword_encode`
    assigns, WITHOUT building the positioned token stream: stream
    token counts are reproduced as frequency-weighted sums over the
    word-TYPE table — ``count(token) = Σ_w freq(w) · occurrences of
    token in syms(w)`` — which is exactly what
    ``stream.groupBy(token).count()`` measures, because every (doc,
    word occurrence) contributes its type's symbol multiset.

    r13: lets a frozen-vocabulary consumer (the byte-fallback total
    encoder's top-k vocab extraction) pay vocabulary-sized work for
    the vocabulary instead of executing the per-document window +
    type join + posexplode of the full encode — at 100 TB the stream
    is corpus-token-sized while this is type-table-sized beyond the
    one word-count shuffle."""
    for left, right in merges:
        if left == right:
            raise ValueError(
                "bpe_subword_vocab: self-pair rule "
                f"({left!r}, {right!r}) — the learner never emits these"
            )
    wfreq = (
        df.filter(F.col(text_col).isNotNull())
        .select(F.explode(tokens(text_col)).alias("_w"))
        .groupBy("_w")
        .agg(F.count("*").alias("_f"))
    )
    cur = (
        wfreq.select("_w")
        .select("_w", _word_symbols(F.col("_w"), eow).alias("_s"))
        .localCheckpoint(eager=False)
    )
    cur = _apply_ranked_merges(cur, "_s", merges, "", ["_w"])
    counts = (
        cur.select("_w", F.explode("_s").alias("token"))
        .join(wfreq, "_w")
        .groupBy("token")
        .agg(F.sum("_f").alias("_c"))
    )
    return frequency_rank_vocab(counts)


def bpe_subword_encode(
    df: DataFrame,
    merges: Sequence[tuple[str, str]],
    text_col: str = "text",
    id_col: str = "doc_id",
    eow: str = "</w>",
) -> DataFrame:
    """Encode documents to subword token ids under a learned
    character-level merge table — the tokenizer a pretraining
    pipeline actually ships: replay :func:`bpe_subword_merges` rules
    in rank order within each word, then assign frequency-ranked
    0-based ids over the closed subword vocabulary.

    Scale shape: the merge folds run over DISTINCT words (one
    distinct shuffle, then vocabulary-sized in-scan folds with the
    per-rank ``localCheckpoint`` lineage cut), the encoded word
    types hash-join back onto the (doc, word) stream, per-document
    positions come from a doc-partitioned window, and ids from
    :func:`frequency_rank_vocab` (no single-partition window, no
    data-sized broadcast anywhere).

    Returns the token STREAM form (``id_col``, pos, token, token_id),
    pos 0-based across the whole document — ``size`` of a document's
    stream is its EXACT subword count, the number sequence packing
    should pack by (``pack_sequences(n_tokens_col=...)``)."""
    from pyspark.sql import Window

    for left, right in merges:
        if left == right:
            raise ValueError(
                "bpe_subword_encode: self-pair rule "
                f"({left!r}, {right!r}) — the learner never emits these"
            )
    words = df.filter(F.col(text_col).isNotNull()).select(
        F.col(id_col), F.posexplode(tokens(text_col)).alias("_wpos", "_w")
    )
    cur = (
        words.select("_w")
        .distinct()
        .select("_w", _word_symbols(F.col("_w"), eow).alias("_s"))
        .localCheckpoint(eager=False)
    )
    # fold chain at gate sizes, min-rank fixpoint at realistic
    # vocabularies (hundreds..32k merges: ~max-word-length rounds over
    # the TYPE table instead of one fold pass per rule) — one shared
    # branch point, see _apply_ranked_merges
    cur = _apply_ranked_merges(cur, "_s", merges, "", ["_w"])
    # Per-doc positions WITHOUT sorting the token stream: the window
    # input is the narrow (id, _wpos, _w, n_syms) WORD stream — each
    # word's base offset is the sum of its predecessors' symbol
    # counts — and the symbol arrays join back by word TYPE after the
    # sort, so pos = base + in-word offset.  The previous shape
    # (explode first, row_number over the token rows) sorted 4-6x
    # more rows each carrying its token string, and its 64x scale
    # probe blew the default 8 GiB heap in the sort (SCALING.md r9);
    # at cluster scale that's executor sort-spill pressure.  The
    # extra type-table join is vocabulary-sized build-side work.
    tsz = cur.select("_w", F.size("_s").alias("_ns"))
    woff = (
        Window.partitionBy(id_col)
        .orderBy("_wpos")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    based = words.join(tsz, "_w").select(
        id_col,
        "_w",
        F.coalesce(F.sum("_ns").over(woff), F.lit(0).cast("long")).alias(
            "_boff"
        ),
    )
    stream = based.join(cur, "_w").select(
        id_col,
        F.posexplode("_s").alias("_spos", "token"),
        "_boff",
    ).select(
        id_col,
        (F.col("_boff") + F.col("_spos")).cast("int").alias("pos"),
        "token",
    )
    # r13: vocabulary counts from the word-TYPE table, not the stream.
    # ``stream.groupBy(token).count()`` planned as: re-tokenize the
    # corpus, join EVERY word occurrence to the type table, explode
    # symbols per occurrence (corpus-SYMBOL-sized, ~5x words), then
    # aggregate.  The same counts are ``Σ_w freq(w) · occurrences(
    # token in syms(w))`` — every (doc, word occurrence) contributes
    # its type's symbol multiset — so the explode now runs over the
    # CHECKPOINTED type table with the word-count table broadcast,
    # and the corpus-side work shrinks to one map-side-combinable
    # word count (exactly :func:`bpe_subword_vocab`).  Identical ids
    # (hash-gated oracle at 3 SFs).
    wfreq = words.groupBy("_w").agg(F.count("*").alias("_f"))
    vocab = frequency_rank_vocab(
        cur.select("_w", F.explode("_s").alias("token"))
        .join(wfreq, "_w")
        .groupBy("token")
        .agg(F.sum("_f").alias("_c"))
    )
    return stream.join(vocab, "token").select(
        id_col, "pos", "token", "token_id"
    )


def frequency_rank_vocab(
    counts: DataFrame,
    token_col: str = "token",
    count_col: str = "_c",
    prefix_len: int = 1,
) -> DataFrame:
    """EXACT 0-based frequency rank (``count`` DESC, ``token`` ASC)
    over a (token, count) table of ANY cardinality — the vocabulary
    id assignment of :func:`bpe_encode`, without the one plan shape
    that dies first at corpus scale: a single-partition global
    ``Window.orderBy``.  With word-level merges the "vocabulary" is
    the corpus's distinct words — corpus-cardinality (1e8+ for web
    text), NOT tokenizer-sized — so the rank must distribute.

    The coarse-bucket prefix-sum recipe (``sampling.py``), adapted to
    an ORDER-ALIGNED bucket key: every bucket is an exact
    ``(count, token-prefix)`` tie range, so bucket order (count DESC,
    prefix ASC) is a contiguous slice of the global sort order —
    within a fixed count, byte-prefix order agrees with full-string
    order under binary collation (UTF-8 preserves codepoint order).

    Three bounded levels, no data-sized window anywhere:

    1. bucket histogram: rows-per-(count, prefix) — map-side
       combinable, cardinality <= vocab (metadata rows, never text);
    2. bucket offsets: per-LOG-BIN running sum over the histogram
       (window partitions = histogram rows per count-octave), with
       the <= 64 log-bin totals ranked by ONE single-partition
       window over the 64-row bin aggregate (the ``equi_depth_bins``
       bounded-histogram idiom — never over data) and broadcast back
       as bin base offsets.  Fully LAZY: no driver collect, so
       callers like ``bpe_encode`` stay unevaluated until acted on
       (and bench timings measure the whole plan);
    3. in-bucket rank: row_number per (count, prefix) partition
       ordered by token alone (count is constant inside a bucket).

    ``prefix_len`` widens in-bucket parallelism for tie-heavy Zipf
    tails (count=1 holds ~half a web vocab; one leading char splits
    it ~alphabet-ways; raise to 2 with the cluster).

    Returns (``token_col``, token_id) — join it back on the token
    (hash shuffle join at corpus scale; Spark auto-broadcasts it
    when a learned vocabulary is actually tokenizer-sized)."""
    from pyspark.sql import Window

    c = F.col(count_col)
    tok = F.col(token_col)
    vocab = counts.select(
        tok.alias("_vtok"),
        c.cast("long").alias("_vc"),
        F.substring(tok, 1, prefix_len).alias("_vp"),
    )
    # 1. (count, prefix) bucket histogram — bucket sizes only
    hist = vocab.groupBy("_vc", "_vp").agg(F.count("*").alias("_n"))
    # 2a. log2 bins: length of the count's binary form — integer-
    #     exact octaves, <= 64 of them, ordered DESC = count DESC.
    #     Bin base offsets = tokens in all HIGHER bins: one
    #     single-partition window over the <= 64-row bin aggregate
    #     (bounded by int64 width — the equi_depth_bins idiom), kept
    #     lazy and broadcast back.  Catalyst reuses the histogram
    #     aggregation exchange between this branch and the join below.
    lb = F.length(F.bin(F.col("_vc"))).alias("_lb")
    hist = hist.select("*", lb)
    wb = Window.orderBy(F.desc("_lb")).rowsBetween(
        Window.unboundedPreceding, -1
    )
    boff = F.broadcast(
        hist.groupBy("_lb")
        .agg(F.sum("_n").alias("_bs"))
        .select(
            "_lb",
            F.coalesce(F.sum("_bs").over(wb), F.lit(0).cast("long")).alias(
                "_boff"
            ),
        )
    )
    # 2b. bucket base offsets: per-bin running sum over HISTOGRAM
    #     rows (count DESC, prefix ASC — the aligned bucket order)
    wh = (
        Window.partitionBy("_lb")
        .orderBy(F.desc("_vc"), "_vp")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    offs = (
        hist.join(boff, "_lb")
        .withColumn("_cum", F.sum("_n").over(wh))
        .select(
            "_vc",
            "_vp",
            (F.col("_boff") + F.col("_cum") - F.col("_n")).alias("_off"),
        )
    )
    # 3. in-bucket rank: count is CONSTANT within a bucket, so token
    #    ASC alone completes the (count DESC, token ASC) order
    wv = Window.partitionBy("_vc", "_vp").orderBy("_vtok")
    return (
        vocab.join(offs, ["_vc", "_vp"])
        .select(
            F.col("_vtok").alias(token_col),
            # INTEGER ids (the pre-r8 schema; int32 holds any real
            # vocabulary — 2^31 distinct words needs >100 TB of text)
            (F.row_number().over(wv) - F.lit(1) + F.col("_off"))
            .cast("int")
            .alias("token_id"),
        )
    )


def bpe_encode(
    df: DataFrame,
    merges: Sequence[tuple[str, str]],
    text_col: str = "text",
    id_col: str = "doc_id",
    sep: str = "\x01",
) -> DataFrame:
    """Encode documents to integer token ids under a learned merge
    table: :func:`bpe_apply_merges`, then assign each vocabulary
    token an id by corpus frequency (count DESC, token ASC — the
    conventional frequency-ranked vocabulary order), 0-based.  The
    vocabulary is CLOSED by construction (built from the encoded
    corpus itself), so there is no OOV path; ``size`` of a document's
    id list is its EXACT token count under the learned vocabulary —
    the number :func:`bpe_ish_token_count` only estimates.

    Returns the token STREAM form — one row per (``id_col``, pos,
    token, token_id), pos 0-based within the document — the natural
    distributed representation (no corpus-wide arrays; downstream
    packing/counting aggregates it directly).

    Scale shape: the fold is in-scan; the vocabulary with WORD-level
    merges is the corpus's distinct words — CORPUS-cardinality (1e8+
    for web text), not tokenizer-sized — so the rank runs as
    :func:`frequency_rank_vocab`'s order-aligned coarse-bucket
    prefix sum (no single-partition window, no data-sized broadcast)
    and the id table joins back onto the stream as a hash shuffle
    join on the token (Spark still auto-broadcasts genuinely small
    vocabularies under the default 10 MB threshold)."""
    applied = bpe_apply_merges(df, merges, text_col, id_col, sep)
    # posexplode_outer + null filter: a plain posexplode would push
    # size(tokens) > 0 through the projection and inline the whole
    # in-scan merge fold into the scan filter (see
    # dedup._pair_intersections; token arrays have no NULL elements,
    # so the rewrite's no-NULL-elements precondition holds —
    # array_compact certifies it at type level, no-op on null-free)
    stream = applied.select(
        id_col,
        F.posexplode_outer(F.array_compact("tokens")).alias("pos", "token"),
    ).filter(F.col("token").isNotNull())
    vocab = frequency_rank_vocab(
        stream.groupBy("token").agg(F.count("*").alias("_c"))
    )
    return stream.join(vocab, "token").select(
        id_col, "pos", "token", "token_id"
    )


# ------------------------------------------------- language ID (multi-class)
def _langid_validate(
    lang_weights: Mapping[str, Sequence[int]],
) -> tuple[list[str], int]:
    """Shared validation for the multi-class forms: >= 2 languages,
    one equal-length non-negative weight table each.  Returns the
    language ids in SORTED order (the deterministic tie-break order)
    and the shared bucket count."""
    if len(lang_weights) < 2:
        raise ValueError(
            "lang_id: need >= 2 language weight tables "
            f"(got {len(lang_weights)})"
        )
    langs = sorted(lang_weights)
    sizes = {len(lang_weights[lg]) for lg in langs}
    if len(sizes) != 1:
        raise ValueError(
            "lang_id: all language weight tables must share one "
            f"bucket count (got sizes {sorted(sizes)}) — they index "
            "the SAME hashed-feature space"
        )
    for lg in langs:
        _qcls_validate(lang_weights[lg])
    return langs, sizes.pop()


def lang_id_scores(
    df: DataFrame,
    lang_weights: Mapping[str, Sequence[int]],
    id_col: str = "doc_id",
    text: str = "text",
    salt: str = "langid:v1",
) -> DataFrame:
    """fastText-style multi-class language identification (Joulin et
    al. 2016, "Bag of Tricks for Efficient Text Classification") —
    the classifier the CCNet / C4 curation pipelines actually run,
    promoted past the :func:`lang_pred_counts` heuristic screen:
    hashed unigram+bigram features (:func:`hashed_ngram_buckets`,
    shared with the quality classifier and DSIR), one trained
    integer-micros weight table per language, per-language TRUNCATED
    integer mean score (Spark's ``div`` and DuckDB's ``//`` both
    truncate toward zero — equal to floor only because the
    md5-derived gate weights are non-negative; a real fastText table
    with negative weights truncates UP on negative sums, identically
    on both engines), argmax prediction with ties broken to the
    lexicographically-FIRST language id (the ``_l2_assign_expr``
    tie-to-lowest-id discipline, so the prediction is deterministic
    and oracle-exact).

    Returns (``id_col``, n_feats, lang, score_micros) for every
    non-NULL-text document: ``lang`` the predicted language id,
    ``score_micros`` its (exact BIGINT) winning score.  NULL-text
    rows are dropped, matching :func:`quality_classifier_score`.

    Plan at 100 TB: featurize ONCE in the scan, then
    - small tables (K x n_buckets <= QCLS_LITERAL_MAX_BUCKETS): every
      per-language dot product is an in-scan literal-array fold and
      the argmax a greatest + first-match CASE — a pure map over the
      corpus, zero shuffle, zero join (the gate shape);
    - production tables (real fastText: 1e5-2e6 buckets x K): ONE
      explode + ONE broadcast join against a WIDE (bucket, w_lang1..
      w_langK) LUT table, one map-side-combinable groupBy carrying
      (id, K sums) — never text, never K separate joins.  Same
      auto-switch (and bit-identical scores, pinned by test) as
      :func:`quality_classifier_score`.

    Ref: reference repo has no classifier surface; this extends the
    LLM-pipeline text family (SURVEY.md §6).
    """
    langs, n_buckets = _langid_validate(lang_weights)
    # the per-row featurize + K folds are the compute hot spot, so an
    # under-partitioned small input is first spread across cores (the
    # exploded_shingles discipline)
    feats = spread_small_input(
        df.filter(F.col(text).isNotNull()).select(id_col, text)
    ).select(
        F.col(id_col),
        hashed_ngram_buckets(tokens(text), n_buckets, salt).alias("_f"),
    )
    if len(langs) * n_buckets <= QCLS_LITERAL_MAX_BUCKETS:
        scored = feats.select(
            id_col,
            F.size("_f").alias("n_feats"),
            *[
                qcls_score_expr("_f", lang_weights[lg]).alias(f"_s_{i}")
                for i, lg in enumerate(langs)
            ],
        )
    else:
        scored = _langid_score_joined(feats, lang_weights, langs, id_col)
    best = F.greatest(*[F.col(f"_s_{i}") for i in range(len(langs))])
    pred = F.coalesce(
        *[
            F.when(F.col(f"_s_{i}") == best, F.lit(lg))
            for i, lg in enumerate(langs)
        ]
    )
    return scored.select(
        id_col,
        "n_feats",
        # empty-feature docs score NULL in every class -> greatest is
        # NULL -> lang NULL (kept row, undecidable input — totality)
        pred.alias("lang"),
        best.alias("score_micros"),
    )


def _langid_score_joined(
    feats: DataFrame,
    lang_weights: Mapping[str, Sequence[int]],
    langs: list[str],
    id_col: str,
) -> DataFrame:
    """Broadcast-LUT form: ONE wide (bucket, w_0..w_{K-1}) table so
    the corpus explodes and joins ONCE for all K classes (K separate
    joins would scan the exploded features K times).  TRUNCATED
    integer mean per class (toward zero, both engines — floor only
    for non-negative weights; see :func:`lang_id_scores`), same
    empty/out-of-range discipline as :func:`qcls_score_joined`."""
    import pandas as pd

    n_buckets = len(lang_weights[langs[0]])
    spark = feats.sparkSession
    cols = {"_bucket": range(n_buckets)}
    for i, lg in enumerate(langs):
        cols[f"_w_{i}"] = [int(w) for w in lang_weights[lg]]
    schema = "_bucket int, " + ", ".join(
        f"_w_{i} long" for i in range(len(langs))
    )
    wdf = spark.createDataFrame(pd.DataFrame(cols), schema=schema)
    exploded = feats.select(
        id_col,
        F.size("_f").alias("_nf"),
        F.explode_outer("_f").alias("_bucket"),
    )
    # out-of-range buckets fail LOUDLY (qcls_score_joined rationale)
    guard = F.when(
        F.col("_bucket").isNotNull() & F.col("_w_0").isNull(),
        F.raise_error(
            F.concat(
                F.lit(
                    "lang_id: feature bucket outside the weight "
                    "tables (got bucket "
                ),
                F.col("_bucket").cast("string"),
                F.lit(
                    f", tables have {n_buckets} buckets) — featurize "
                    "with n_buckets == table size"
                ),
            )
        ).cast("long"),
    )
    return (
        exploded.join(F.broadcast(wdf), "_bucket", "left")
        .groupBy(id_col, "_nf")
        .agg(
            *[
                F.sum(guard.otherwise(F.col(f"_w_{i}"))).alias(f"_sw_{i}")
                for i in range(len(langs))
            ]
        )
        .select(
            F.col(id_col),
            F.col("_nf").alias("n_feats"),
            *[
                F.expr(
                    f"if(_nf = 0, CAST(NULL AS BIGINT), _sw_{i} div _nf)"
                ).alias(f"_s_{i}")
                for i in range(len(langs))
            ],
        )
    )


def bpe_subword_encode_total(
    df: DataFrame,
    merges: Sequence[tuple[str, str]],
    vocab: Sequence[str],
    text_col: str = "text",
    id_col: str = "doc_id",
    eow: str = "</w>",
) -> DataFrame:
    """TOTAL-coverage subword encoding under a FIXED vocabulary with
    GPT-2/SentencePiece-style byte fallback: replay the learned
    merges, then encode every resulting symbol either as its
    ``vocab`` id or — when the closed vocabulary can't represent it —
    as the UTF-8 bytes of its text content, one reserved byte token
    ``<0xNN>`` per byte with the deterministic id
    ``len(vocab) + byte_value``.  Unlike :func:`bpe_subword_encode`
    (which ranks ids over the symbols OBSERVED in the corpus at
    hand), this is the tokenizer a pipeline ships: the vocabulary is
    frozen at training time, yet EVERY document of any future corpus
    encodes losslessly (decode(encode(x)) == x, pinned by test).

    Fallback discipline: an out-of-vocabulary symbol carrying the
    end-of-word marker emits its content bytes followed by the
    ``eow`` vocabulary token (the marker is tokenizer metadata, never
    byte-encoded), so word boundaries survive the fallback; ``eow``
    is therefore REQUIRED to be in ``vocab``.

    Returns (``id_col``, pos, token, token_id, is_byte) — the
    :func:`bpe_subword_encode` stream shape plus the fallback flag.

    Scale shape: merge folds and the vocabulary join run over the
    DISTINCT word-TYPE table (vocabulary-sized work; the id table —
    tokenizer-sized by definition — broadcasts), byte expansion is an
    in-scan array expression over OOV type symbols, each encoded type
    joins back onto the (doc, word) stream by hash, and the only
    corpus-sized shuffle is the per-document position window — the
    same class as :func:`bpe_subword_encode`.
    """
    for left, right in merges:
        if left == right:
            raise ValueError(
                "bpe_subword_encode_total: self-pair rule "
                f"({left!r}, {right!r}) — the learner never emits these"
            )
    if len(set(vocab)) != len(vocab):
        raise ValueError("bpe_subword_encode_total: duplicate vocab entries")
    if eow not in vocab:
        raise ValueError(
            f"bpe_subword_encode_total: end-of-word marker {eow!r} must "
            "be in vocab — byte fallback emits it for every OOV "
            "word-final symbol"
        )
    from pyspark.sql import Window

    n_vocab = len(vocab)
    eow_id = list(vocab).index(eow)
    spark = df.sparkSession
    words = df.filter(F.col(text_col).isNotNull()).select(
        F.col(id_col), F.posexplode(tokens(text_col)).alias("_wpos", "_w")
    )
    cur = (
        words.select("_w")
        .distinct()
        .select("_w", _word_symbols(F.col("_w"), eow).alias("_s"))
        .localCheckpoint(eager=False)
    )
    # fold chain at gate sizes, min-rank fixpoint at shipped-tokenizer
    # rule tables — one shared branch point, see _apply_ranked_merges
    cur = _apply_ranked_merges(cur, "_s", merges, "", ["_w"])
    vdf = spark.createDataFrame(
        [(s, i) for i, s in enumerate(vocab)], "_vtok string, _vid int"
    )
    esc = eow.replace("\\", "\\\\").replace("'", "\\'")
    syms = (
        cur.select("_w", F.posexplode("_s").alias("_spos", "_sym"))
        .join(F.broadcast(vdf), F.col("_sym") == F.col("_vtok"), "left")
        .select(
            "_w",
            "_spos",
            "_sym",
            "_vid",
            # OOV content: strip a trailing eow marker (metadata, not
            # text); hex of the content's UTF-8 bytes drives fallback
            F.expr(
                f"CASE WHEN _sym != '{esc}' AND endswith(_sym, '{esc}') "
                f"THEN substr(_sym, 1, length(_sym) - {len(eow)}) "
                "ELSE _sym END"
            ).alias("_c"),
        )
        .withColumn("_hx", F.hex(F.encode(F.col("_c"), "UTF-8")))
    )
    st = "array<struct<token:string,token_id:int,is_byte:int>>"
    exp = F.expr(
        f"""CASE WHEN _vid IS NOT NULL
             THEN array(struct(_sym AS token, _vid AS token_id,
                               0 AS is_byte))
             ELSE concat(
               if(length(_hx) = 0, CAST(array() AS {st}),
                  transform(sequence(0, CAST(length(_hx) DIV 2 AS INT) - 1),
                    j -> struct(
                      concat('<0x', substr(_hx, j * 2 + 1, 2), '>')
                          AS token,
                      CAST(conv(substr(_hx, j * 2 + 1, 2), 16, 10) AS INT)
                          + {n_vocab} AS token_id,
                      1 AS is_byte))),
               if(endswith(_sym, '{esc}'),
                  array(struct('{esc}' AS token, {eow_id} AS token_id,
                               0 AS is_byte)),
                  CAST(array() AS {st})))
        END"""
    )
    # checkpointed because it is read TWICE below (sizes for the
    # position window, arrays for the join-back) — vocabulary-sized
    types = (
        syms.select("_w", "_spos", exp.alias("_exp"))
        .groupBy("_w")
        .agg(
            F.flatten(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("_spos", "_exp"))),
                    lambda x: x["_exp"],
                )
            ).alias("_tt")
        )
        .localCheckpoint(eager=False)
    )
    # narrow position window + type join-back (see bpe_subword_encode
    # for the rationale: the token-stream row_number sort carried the
    # encoded structs and blew the 64x probe's default heap)
    tsz = types.select("_w", F.size("_tt").alias("_nt"))
    woff = (
        Window.partitionBy(id_col)
        .orderBy("_wpos")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    based = words.join(tsz, "_w").select(
        id_col,
        "_w",
        F.coalesce(F.sum("_nt").over(woff), F.lit(0).cast("long")).alias(
            "_boff"
        ),
    )
    return based.join(types, "_w").select(
        F.col(id_col),
        F.posexplode("_tt").alias("_tpos", "_tok"),
        "_boff",
    ).select(
        F.col(id_col),
        (F.col("_boff") + F.col("_tpos")).cast("int").alias("pos"),
        F.col("_tok.token").alias("token"),
        F.col("_tok.token_id").alias("token_id"),
        F.col("_tok.is_byte").alias("is_byte"),
    )


def bpe_subword_decode(
    stream: DataFrame,
    id_col: str = "doc_id",
    eow: str = "</w>",
) -> DataFrame:
    """Inverse of :func:`bpe_subword_encode_total`: rebuild each
    document's whitespace-normalized text from its token stream —
    the decode half of the shipping tokenizer, so the round trip
    ``decode(encode(corpus)) == normalize(corpus)`` is checkable at
    corpus scale (the ``bpe_roundtrip`` gate does exactly that with
    the ORIGINAL corpus as the oracle).

    All built-ins, no Python: every token maps to a percent-encoded
    piece (byte tokens ``<0xNN>`` to ``%NN`` directly; in-vocab
    symbol content to the percent-encoding of its UTF-8 bytes — so a
    literal ``%`` or ``+`` in the text survives; the end-of-word
    marker to ``+``), pieces concatenate in position order per
    document, and ONE ``url_decode`` reassembles arbitrary UTF-8 —
    including multi-byte characters split across byte-fallback
    tokens — with ``+`` decoding to the single space that joins
    words.  The trailing word boundary is dropped before decoding,
    so a blank document (one empty word) rebuilds to ``''``.

    Plan: one in-scan piece projection, one groupBy(``id_col``)
    carrying (pos, piece) structs — a single shuffle whose payload
    is the document's own bytes (~3x, percent-encoded) — then the
    sort+concat+decode entirely in the aggregate projection.
    """
    esc = eow.replace("\\", "\\\\").replace("'", "\\'")
    st = "array<string>"
    pct = (
        "if(length(_dhx) = 0, '', concat_ws('', "
        "transform(sequence(0, CAST(length(_dhx) DIV 2 AS INT) - 1), "
        "j -> concat('%', substr(_dhx, j * 2 + 1, 2)))))"
    )
    piece = F.expr(
        f"""CASE WHEN is_byte = 1 THEN concat('%', substr(token, 4, 2))
             WHEN token = '{esc}' THEN '+'
             WHEN endswith(token, '{esc}') THEN concat({pct}, '+')
             ELSE {pct}
        END"""
    )
    content = F.expr(
        f"CASE WHEN token != '{esc}' AND endswith(token, '{esc}') "
        f"THEN substr(token, 1, length(token) - {len(eow)}) "
        "ELSE token END"
    )
    pieces = stream.select(
        F.col(id_col),
        F.col("pos"),
        F.col("is_byte"),
        F.col("token"),
        F.hex(F.encode(content, "UTF-8")).alias("_dhx"),
    ).select(F.col(id_col), F.col("pos"), piece.alias("_piece"))
    joined = F.concat_ws(
        "",
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "_piece"))),
            lambda x: x["_piece"],
        ),
    )
    return (
        pieces.groupBy(id_col)
        .agg(joined.alias("_joined"))
        .select(
            F.col(id_col),
            F.url_decode(
                F.expr(
                    "CASE WHEN endswith(_joined, '+') "
                    "THEN substr(_joined, 1, length(_joined) - 1) "
                    "ELSE _joined END"
                )
            ).alias("text_rebuilt"),
        )
    )
