"""Text analysis operators ([EXT], SURVEY.md §2.11) over
``documents(doc_id, text, lang, source, n_chars)``.

All pure Column expressions (codegen'd, shuffle-free per row):
tokenization, token counting (whitespace + a BPE-ish regex splitter),
quality scoring (length / punctuation / stopword / repetition ratios),
a rolling-hash document fingerprint, and an n-gram-profile language-ID
heuristic.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..session import materialize

# small top-stopword profiles for the language-ID heuristic
_STOPWORDS = {
    "en": ["the", "and", "of", "to", "a", "in", "is", "that", "it", "for"],
    "de": ["der", "die", "und", "das", "ist", "nicht", "ein", "mit", "auf", "zu"],
    "es": ["el", "la", "de", "que", "y", "en", "un", "es", "no", "por"],
    "fr": ["le", "la", "de", "et", "les", "des", "est", "un", "une", "dans"],
}


def tokenize(col: Column | str) -> Column:
    """Whitespace tokens of the lowercased text (array<string>)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.filter(F.split(F.lower(c), r"\s+"), lambda t: t != "")


def token_count(col: Column | str) -> Column:
    return F.size(tokenize(col))


def quality_scores(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Attach per-doc quality features + a composite score in [0,1].

    Features follow the public Gopher/C4-style filters: doc length,
    mean word length, punctuation density, stopword fraction, and a
    repetition ratio (1 - distinct/total tokens).
    """
    c = F.col(text_col)
    toks = tokenize(text_col)
    n_tok = F.size(toks)
    n_char = F.length(c)
    en_stop = F.array(*[F.lit(s) for s in _STOPWORDS["en"]])
    stop_frac = F.size(F.filter(toks, lambda t: F.array_contains(en_stop, t))) / F.greatest(
        n_tok, F.lit(1)
    )
    punct_ratio = (
        F.length(F.regexp_replace(c, r"[^\p{Punct}]", "")) / F.greatest(n_char, F.lit(1))
    )
    rep_ratio = F.lit(1.0) - F.size(F.array_distinct(toks)) / F.greatest(n_tok, F.lit(1))
    mean_word_len = (n_char - n_tok + 1) / F.greatest(n_tok, F.lit(1))
    score = (
        F.when((n_tok >= 5) & (n_tok <= 100000), 0.25).otherwise(0.0)
        + F.when((mean_word_len >= 2) & (mean_word_len <= 12), 0.25).otherwise(0.0)
        + F.when(punct_ratio <= 0.2, 0.25).otherwise(0.0)
        + F.when(rep_ratio <= 0.9, 0.25).otherwise(0.0)
    )
    return df.select(
        "*",
        n_tok.alias("n_tokens"),
        F.round(mean_word_len, 6).alias("mean_word_len"),
        F.round(punct_ratio, 6).alias("punct_ratio"),
        F.round(stop_frac, 6).alias("stopword_frac"),
        F.round(rep_ratio, 6).alias("repetition_ratio"),
        score.alias("quality_score"),
    )


def language_id(df: DataFrame, text_col: str = "text", out_col: str = "lang_pred") -> DataFrame:
    """Heuristic language ID: argmax over per-language stopword hit
    rates (ties → 'und'). A real model is out of scope; the operator
    shape (N score columns → greatest → case) is what scales."""
    toks = tokenize(text_col)
    n = F.greatest(F.size(toks), F.lit(1))

    def _hit_filter(ws: list[str]):
        return lambda t: t.isin(*ws)

    scores = {
        lang: F.size(F.filter(toks, _hit_filter(ws))) / n
        for lang, ws in _STOPWORDS.items()
    }
    best = F.greatest(*scores.values())
    pred = F.lit("und")
    for lang, s in reversed(list(scores.items())):
        pred = F.when((best > 0) & (s == best), F.lit(lang)).otherwise(pred)
    return df.withColumn(out_col, pred)


# PII patterns chosen for identical semantics under Java regex (Spark)
# and RE2 (DuckDB/Go scrubbers): no backreferences, no lookaround.
PII_PATTERNS = (
    (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    (r"\b(\d{1,3}\.){3}\d{1,3}\b", "<IP>"),
    (r"\+\d{7,15}", "<PHONE>"),
)


def pii_scrub(col: Column | str) -> Column:
    """Replace emails, IPv4 addresses, and E.164-style phone numbers
    with placeholder tokens — the standard pre-training privacy pass.
    Pure ``regexp_replace`` chain: JVM-side codegen, engine-portable
    patterns (order matters: emails first so their digit runs can't be
    half-eaten by the IP/phone rules)."""
    c = F.col(col) if isinstance(col, str) else col
    for pattern, token in PII_PATTERNS:
        c = F.regexp_replace(c, pattern, token)
    return c


def fingerprint(col: Column | str) -> Column:
    """Deterministic rolling-hash fingerprint of the token stream:
    fold h = rotl(h, 5) XOR xxhash64(token) (order-sensitive; equal
    token stream ⇔ equal fingerprint). XOR-rotate instead of multiply
    so the fold never overflows under ANSI arithmetic."""
    toks = tokenize(col)
    return F.aggregate(
        toks,
        F.lit(1125899906842597).cast("long"),
        lambda acc, t: (
            F.shiftleft(acc, 5).bitwiseOR(F.shiftrightunsigned(acc, 59))
        ).bitwiseXOR(F.xxhash64(t)),
    )


def fingerprint_md5(col: Column | str) -> Column:
    """Order-sensitive document fingerprint as a chained md5 fold over
    the token stream: h = md5(h || token). Slower than ``fingerprint``
    (string re-hash per step vs long arithmetic) but expressible in any
    engine with md5 — use it when fingerprints must be verified or
    joined across systems; use ``fingerprint`` for pure-Spark dedup."""
    toks = tokenize(col)
    return F.aggregate(
        toks, F.lit("fp0"), lambda acc, t: F.md5(F.concat(acc, t))
    )


def word_frequencies(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Corpus term frequencies: explode tokens → count per word. The one
    text op that genuinely shuffles (groupBy word); partial aggregation
    (map-side combine) keeps the shuffle ≈ |vocab|, not |corpus|."""
    return (
        df.select(F.explode(tokenize(text_col)).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def top_ngram_fraction(df: DataFrame, text_col: str = "text", ns: tuple = (2, 3)) -> DataFrame:
    """Gopher-style dominant-repetition features: for each n in ``ns``,
    the fraction of the document's word n-grams occupied by its single
    most frequent n-gram (``top_{n}gram_frac``). The Gopher filters cut
    documents whose top 2-gram exceeds 0.18 / top 3-gram 0.16 of the
    text — the signal that catches boilerplate and SEO keyword-stuffing
    that the distinct/total unigram ratio (quality_scores) misses.

    100-TB shape: entirely in-row — the mode of each doc's n-gram
    multiset comes from sorting the gram array and folding the max
    consecutive-run length (one ``aggregate`` HOF), so the whole
    feature is a zero-shuffle codegen'd projection; a groupBy-per-doc
    formulation would shuffle the full corpus for a per-row answer.

    The gram array (size ≈ token count) lives only inside one stage.
    Tokenization matches operators.dedup.tokens_col (lower, split on
    non-alphanumeric runs) so the DuckDB oracle can reproduce it.
    """
    from .dedup import tokens_col

    toked = df.select("*", tokens_col(text_col).alias("_t"))

    def _grams(n: int) -> Column:
        return F.when(
            F.size("_t") >= n,
            F.transform(
                F.sequence(F.lit(0), F.size("_t") - n),
                lambda i: F.concat_ws(
                    " ", *[F.get("_t", i + F.lit(j)) for j in range(n)]
                ),
            ),
        ).otherwise(F.array().cast("array<string>"))

    staged = toked.select("*", *[_grams(n).alias(f"_g{n}") for n in ns])

    def _top_frac(gcol: str) -> Column:
        # max run length in the sorted gram array == count of the mode
        fold = F.aggregate(
            F.array_sort(gcol),
            F.struct(
                F.lit("").alias("prev"), F.lit(0).alias("run"), F.lit(0).alias("best")
            ),
            lambda acc, x: F.struct(
                x.alias("prev"),
                F.when(x == acc["prev"], acc["run"] + 1)
                .otherwise(F.lit(1))
                .alias("run"),
                F.greatest(
                    acc["best"],
                    F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1)),
                ).alias("best"),
            ),
        )
        return F.coalesce(
            F.when(F.size(gcol) > 0, fold["best"] / F.size(gcol)), F.lit(0.0)
        )

    out = staged.select(
        *df.columns,
        *[_top_frac(f"_g{n}").alias(f"top_{n}gram_frac") for n in ns],
    )
    return out


def winnowing_fingerprints(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    w: int = 4,
) -> DataFrame:
    """Winnowing document sketch (Schleimer/Wilkerson/Aiken, MOSS; also
    the selection step of ExactSubstr-style training-data dedup): slide
    a window of ``w`` consecutive character ``k``-grams over the
    normalized text and keep each window's minimum gram — the classic
    guarantee that any shared substring of length ≥ k + w - 1 yields at
    least one shared fingerprint, while sketch size stays ~2/(w+1) of
    the gram count. Returns distinct (id, fingerprint) rows.

    Engine-portable variant: windows take the LEXICOGRAPHIC minimum of
    the raw gram strings (not a hash-min), so any SQL engine reproduces
    the sketch exactly — the robust-winnowing hash tiebreak matters for
    adversarial inputs, not dedup. Docs shorter than k + w - 1 chars
    degrade gracefully (single truncated window → one fingerprint).

    100-TB shape: gram building and window minima are one in-row
    projection (zero shuffle); only the final explode + distinct
    shuffles, and that is the sketch (≈ 2/(w+1) · chars), not the text.

    PRECONDITION: ``id_col`` must be unique per row (the documents
    contract, same guard as merge_upsert's change-key rule). The
    postings are deduped within the row only; duplicate-id inputs
    produce duplicate (id, fingerprint) rows and inflate downstream
    ``n_shared`` counts.
    """
    s = F.regexp_replace(F.lower(text_col), "[^a-z0-9]", "")
    cleaned = df.select(id_col, s.alias("_s"))
    grams = F.transform(
        F.sequence(F.lit(1), F.greatest(F.length("_s") - (k - 1), F.lit(1))),
        lambda i: F.substr(F.col("_s"), i, F.lit(k)),
    )
    staged = cleaned.select(id_col, grams.alias("_g"))
    mins = F.transform(
        F.sequence(F.lit(1), F.greatest(F.size("_g") - (w - 1), F.lit(1))),
        lambda i: F.array_min(F.slice("_g", i, w)),
    )
    # no .distinct(): array_distinct makes fp unique within the row
    # and id differs across rows, so (id, fingerprint) is already a
    # set — the global distinct was a pure-overhead extra shuffle
    return staged.select(
        id_col, F.explode(F.array_distinct(mins)).alias("fingerprint")
    )


def gram_postings(
    df: DataFrame, id_col: str, text_col: str, k: int
) -> tuple[DataFrame, DataFrame]:
    """The SINGLE normalization + character-k-gram posting rule behind
    boilerplate span removal — extracted so the batch operator
    (:func:`boilerplate_strip`) and the streamed df-state sink
    (q_stream_boilerplate) cannot drift: the streamed ≡ batch
    guarantee is exactly "both sides posted the same grams under the
    same normalization", so that rule must live in one place
    (VERDICT r14 #2).

    Returns ``(cleaned, posting)``: ``cleaned`` = (id_col, ``_s``
    lower-alnum-normalized text); ``posting`` = (id_col, ``_i`` 1-based
    gram start, ``_g`` the k-char gram). Docs shorter than ``k`` post
    nothing but keep their ``cleaned`` row."""
    s = F.regexp_replace(F.lower(text_col), "[^a-z0-9]", "")
    cleaned = df.select(id_col, s.alias("_s"))
    n = F.length("_s")
    gram_starts = F.when(
        n >= k, F.sequence(F.lit(1), n - (k - 1))
    ).otherwise(F.array().cast("array<int>"))
    posting = cleaned.select(
        id_col, F.explode(gram_starts).alias("_i"), "_s"
    ).select(
        id_col, "_i", F.substr(F.col("_s"), F.col("_i"), F.lit(k)).alias("_g")
    )
    return cleaned, posting


def gram_doc_freq(posting: DataFrame, id_col: str) -> DataFrame:
    """(``_g``, ``_df``): per-gram distinct-document counts from a
    :func:`gram_postings` posting — the additive df partial the stream
    sink stores per batch (batches PARTITION the docs, so each doc
    contributes its distinct grams to exactly one partial and the
    corpus df is a plain SUM of partials)."""
    return (
        posting.select("_g", id_col)
        .distinct()
        .groupBy("_g")
        .agg(F.count(F.lit(1)).alias("_df"))
    )


def boilerplate_strip(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    max_doc_freq: int = 50,
    hot: DataFrame | None = None,
) -> DataFrame:
    """Cross-document boilerplate SPAN REMOVAL (the transform the
    detection family stops short of): every character position of the
    normalized text covered by a ``k``-gram appearing in more than
    ``max_doc_freq`` documents is masked, and the surviving characters
    re-concatenate in order — the n-gram-df approximation of
    ExactSubstr-style training-data span dedup (Lee et al.: remove
    corpus-duplicated spans, keep the unique remainder), where every
    existing dedup operator here only DETECTS pairs or drops whole
    docs. A span whose every k-gram is corpus-common disappears
    entirely; span boundaries are k-gram-granular by construction.

    Returns (id, kept_text, n_masked, n_chars) — kept_text is the
    masked-and-rebuilt normalized string (exact string output, so a
    SQL oracle can pin it bit-for-bit), n_masked the count of removed
    character positions, n_chars the normalized length.

    Scale shape: one gram explode (posting rows ≈ chars), one
    distinct + count aggregate for the gram document frequencies, one
    semi-join back, one per-doc bounded collect_list of masked start
    positions (≤ doc length), then a zero-shuffle in-row rebuild:
    covered = flatten of per-start k-sequences, kept = order-
    preserving ``array_except`` against the position sequence. The df
    side is never collected or broadcast-materialized on the driver —
    posting→df→semi-join is all shuffle algebra, the same shape as
    the winnowing stop-fingerprint cut.

    df counts RAW documents (each replica of a duplicated text counts
    once per doc_id) — the plain-winnowing df unit; run exact dedup
    first on re-crawl-heavy corpora or the replicas themselves push
    shared grams past the cap (the documented winnowing cliff, which
    for REMOVAL is the desired reading: mass-duplicated text IS
    boilerplate).

    ``hot``: optional precomputed table of the over-cap grams (single
    column ``_g``) — the incremental-maintenance surface: per-batch
    gram-df partials are ADDITIVE when batches partition the docs
    (each doc contributes its distinct grams exactly once), so a
    stream can keep the df state and hand the read-side hot set in
    (q_stream_boilerplate). Must be built under the same (k,
    max_doc_freq) rule; the caller owns that agreement."""
    cleaned, posting = gram_postings(df, id_col, text_col, k)
    n = F.length("_s")
    if hot is None:
        hot = (
            gram_doc_freq(posting, id_col)
            .where(F.col("_df") > max_doc_freq)
            .select("_g")
        )
    starts = (
        posting.join(hot, "_g")
        .groupBy(id_col)
        .agg(F.sort_array(F.collect_list("_i")).alias("_starts"))
    )
    joined = cleaned.join(starts, id_col, "left").select(
        id_col,
        "_s",
        F.coalesce("_starts", F.array().cast("array<int>")).alias("_starts"),
    )
    cov = F.array_distinct(
        F.flatten(
            F.transform(
                F.col("_starts"), lambda i: F.sequence(i, i + (k - 1))
            )
        )
    )
    positions = F.when(n >= 1, F.sequence(F.lit(1), n)).otherwise(
        F.array().cast("array<int>")
    )
    kept = F.array_except(positions, cov)  # order-preserving on arg 1
    return joined.select(
        id_col,
        F.array_join(
            F.transform(kept, lambda p: F.substr(F.col("_s"), p, F.lit(1))),
            "",
        ).alias("kept_text"),
        F.size(cov).cast("int").alias("n_masked"),
        n.cast("int").alias("n_chars"),
    )


def _winnowing_fp_hashes(
    df: DataFrame, id_col: str, text_col: str, k: int, w: int
) -> DataFrame:
    """winnowing_fingerprints with the grams PACKED into longs before
    the window-minimum selection (k ≤ 9): each cleaned char is a 7-bit
    ascii code, a k-gram is the big-endian base-128 packing of its
    codes, and — because the packing is order-preserving on fixed-k
    grams over a zero-free alphabet — the NUMERIC window minimum
    selects exactly the same gram as the lexicographic string minimum
    (the selection any SQL oracle reproduces). Downstream
    shuffles/joins carry 8-byte longs, and unlike the former xxhash64
    recode the packing is INJECTIVE by construction: zero collision
    exposure, and the per-position k-char substring allocation is gone
    (the chars array is built once per row; grams are pure long
    arithmetic). Measured ~2× on the sketch build at sf0.1 on top of
    the least()-chain window minima.

    Short-doc edge (len < k): the single truncated gram packs with 0s
    in the low positions — no cleaned char has code 0, so truncated
    grams can never collide with a full k-gram. Pair counts are
    invariant under any injective recode. k > 9 (7·k bits > 63) falls
    back to the xxhash64 recode of the string minima.

    Same unique-``id_col`` precondition as winnowing_fingerprints:
    (id, fp) is a set only because ids don't repeat across rows —
    duplicate-id inputs duplicate postings and inflate pair counts."""
    if k > 9:
        return _winnowing_fp_hashes_str(df, id_col, text_col, k, w)
    s = F.regexp_replace(F.lower(text_col), "[^a-z0-9]", "")
    # chars -> 7-bit codes; grams -> packed longs; windows -> least()
    # chains of O(1) gets (no per-position array allocation). All three
    # are single F.expr strings: the wide builders cost ~1 py4j round
    # trip each instead of hundreds (NOTES: the Column-API tax).
    gram_terms = " + ".join(
        f"coalesce(get(_c, i + {j}), 0L) * {128 ** (k - 1 - j)}L" for j in range(k)
    )
    grams = f"transform(sequence(0, greatest(size(_c) - {k}, 0)), i -> {gram_terms})"
    win_terms = ", ".join(f"get(_p, i + {j})" for j in range(w))
    # out-of-range gets are null and least() skips nulls, so the tail
    # windows shrink exactly like a slice-based minimum's would
    mins = f"transform(sequence(0, greatest(size(_p) - {w}, 0)), i -> least({win_terms}))"
    # no global .distinct(): array_distinct makes fp unique within the
    # row and id differs across rows, so (id, fp) is already a set
    return (
        df.select(id_col, s.alias("_s"))
        .select(id_col, F.expr("transform(split(_s, ''), ch -> ascii(ch))").alias("_c"))
        .select(id_col, F.expr(grams).alias("_p"))
        .select(id_col, F.explode(F.array_distinct(F.expr(mins))).alias("fp"))
    )


def _winnowing_fp_hashes_str(
    df: DataFrame, id_col: str, text_col: str, k: int, w: int
) -> DataFrame:
    """Fallback for k > 9 (gram does not fit a packed long): string
    window minima recoded to xxhash64 AFTER selection — the pre-r11
    path. Collision exposure ~|sketch|²/2⁶⁴; the outer array_distinct
    keeps a within-row collision at one posting."""
    s = F.regexp_replace(F.lower(text_col), "[^a-z0-9]", "")
    cleaned = df.select(id_col, s.alias("_s"))
    grams = F.transform(
        F.sequence(F.lit(1), F.greatest(F.length("_s") - (k - 1), F.lit(1))),
        lambda i: F.substr(F.col("_s"), i, F.lit(k)),
    )
    staged = cleaned.select(id_col, grams.alias("_g"))
    mins = F.transform(
        F.sequence(F.lit(0), F.greatest(F.size("_g") - w, F.lit(0))),
        lambda i: F.least(*[F.get(F.col("_g"), i + F.lit(j)) for j in range(w)]),
    )
    hashed = F.array_distinct(
        F.transform(F.array_distinct(mins), lambda g: F.xxhash64(g))
    )
    return staged.select(id_col, F.explode(hashed).alias("fp"))


def winnowing_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    w: int = 8,
    min_shared: int = 10,
    max_doc_freq: int = 50,
    fp: DataFrame | None = None,
    strategy: str = "plain",
    collapse_df: str = "distinct_texts",
) -> DataFrame:
    """Near-dup candidate pairs by shared winnowing fingerprints — the
    substring-level complement to MinHash (which sees bag-of-shingles,
    not contiguity): two docs sharing any substring of length ≥
    k + w - 1 share a fingerprint, and ``min_shared`` thresholds how
    much contiguous overlap counts as near-duplication.

    Scale: inverted-index self-join on the fingerprint (posting lists),
    after dropping fingerprints appearing in more than ``max_doc_freq``
    docs — boilerplate grams (the "stop fingerprints" of every
    fingerprint-join pipeline) otherwise create quadratic hot posting
    lists; dropping them loses only pairs whose entire overlap is
    corpus-wide boilerplate. Work is candidate-proportional, never
    all-pairs. The selected grams travel as packed base-128 longs
    through the explode/join shuffles (_winnowing_fp_hashes) — the
    lexicographic selection is unchanged (the packing is order-
    preserving) and the recode is injective, so pair counts are
    exactly the string-gram counts.

    ``fp``: optional precomputed (id, fp) posting table (e.g. the
    artifact store's stored sketch index). Must be materialized; the
    caller owns its lifecycle. Rows per id must be distinct — the
    postings ARE the dedup unit (see _winnowing_fp_hashes). When the
    table carries a build-time ``fp_df`` document-frequency column
    (the artifact store's does since r12), the stop-fingerprint cut
    is a pushed-down scan predicate; otherwise the df aggregate +
    semi-join computes it per call.

    ``strategy`` (r13, the dup-heavy / re-crawl regime):

    - ``"plain"`` (default): postings per RAW doc. Correct and
      output-proportional for near-dup clusters, but exact-replica
      mass has a measured CLIFF: a cluster of m identical texts
      multiplies every one of its fingerprints' df by m, and once
      m·df > max_doc_freq ALL of them are dropped — the most obvious
      duplicates silently return ZERO pairs (measured at R=60
      replicas, sf0.001: 0 pairs where R=48 found 116k).
    - ``"collapse"``: group docs by TEXT identity first (identical
      text ⇒ identical sketch ⇒ identical pair semantics — an exact
      factoring, not an approximation), fingerprint one
      representative per group, run the posting join over
      representatives, then expand pairs by group-membership algebra
      (within-group pairs share the whole retained sketch). Candidate
      work is O(distinct texts); the expansion is output-sized.
      SEMANTIC NOTE: by default the stop-fingerprint df is counted
      over DISTINCT TEXTS (``collapse_df="distinct_texts"``) — the
      boilerplate definition a re-crawl-heavy corpus actually wants —
      so results differ from "plain" exactly where plain mis-handles
      exact dups (bit-identical on duplicate-free corpora, cliff-free
      where plain zeroes out). ``collapse_df="raw_docs"`` weights
      each group by its membership instead: BIT-IDENTICAL to plain on
      every corpus (cliff included) at O(distinct texts) candidate
      cost — the drop-in-compatible mode.
    - ``"auto"``: decide from the duplication ratio (rows vs distinct
      sketch identities; ≥1.25 → collapse). FREE when ``fp`` is the
      artifact store's posting table — its stamp carries the measured
      (wf_n, wf_dsig) from build (r13); otherwise ONE EAGER count
      aggregate over ``df``. Plan-only callers without a stamped
      ``fp`` should pass an explicit strategy.

    ``fp`` is only consulted by the plain path (postings are keyed by
    raw id); collapse refingerprints representatives from ``df``.
    """
    if strategy == "auto":
        stats = None
        if fp is not None:
            for field in fp.schema.fields:
                p = (field.metadata or {}).get("artifact_params") or {}
                if "wf_dsig" in p:
                    stats = (p["wf_n"], p["wf_dsig"])
                    break
        if stats is None:
            stats = df.select(
                F.count(F.lit(1)), F.countDistinct(text_col)
            ).first()
        n, d = stats
        strategy = "collapse" if d and n / d >= 1.25 else "plain"
    if strategy == "collapse":
        return _winnowing_pairs_collapsed(
            df, id_col, text_col, k, w, min_shared, max_doc_freq,
            df_unit=collapse_df,
        )
    if strategy != "plain":
        raise ValueError(f"unknown winnowing_pairs strategy: {strategy!r}")
    owns_fp = fp is None
    if fp is None:
        fp = _winnowing_fp_hashes(df, id_col, text_col, k, w).persist()
    else:
        from .dedup import check_precomputed_params

        check_precomputed_params(
            fp, {"artifact": "winnow_fp", "k": k, "w": w}, "winnowing_pairs"
        )
    if "fp_df" in fp.columns:
        posting = fp.where(F.col("fp_df") <= max_doc_freq).select(id_col, "fp")
    else:
        rare = (
            fp.groupBy("fp")
            .agg(F.count(F.lit(1)).alias("_df"))
            .where(F.col("_df") <= max_doc_freq)
            .select("fp")
        )
        posting = fp.join(rare, "fp")
    a = posting.select(F.col(id_col).alias("id_a"), "fp")
    b = posting.select(F.col(id_col).alias("id_b"), "fp")
    out = (
        a.join(b, "fp")
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .where(F.col("n_shared") >= min_shared)
    )
    try:
        return out.transform(materialize)
    finally:
        if owns_fp:
            fp.unpersist()


def _winnowing_pairs_collapsed(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int,
    w: int,
    min_shared: int,
    max_doc_freq: int,
    df_unit: str = "distinct_texts",
) -> DataFrame:
    """The text-identity collapse path of :func:`winnowing_pairs`:
    sketch one representative per distinct text, df-cap and
    posting-join over representatives (O(distinct texts) candidate
    work however heavy the re-crawl mass), then expand to raw-id
    pairs by membership algebra — within-group member pairs share
    the representative's whole RETAINED sketch (n_shared = the
    post-cap fingerprint count), cross-group member pairs inherit
    their representatives' n_shared. Both expansions are
    output-sized joins. Identical text ⇒ identical sketch makes the
    factoring exact; see winnowing_pairs for the df-semantics note.

    ``df_unit`` picks what the stop-fingerprint cap counts:
    "distinct_texts" (default — the cliff-free boilerplate
    definition) or "raw_docs" (each group weighted by its membership
    m: the cap sees exactly what plain's per-doc postings see, so
    this mode is BIT-IDENTICAL to strategy="plain" on EVERY corpus —
    including zeroing out past the cliff — while still paying only
    O(distinct texts) candidate work; unit-pinned both sides of the
    cliff)."""
    keyed = df.select(
        F.col(id_col).alias("_id"),
        F.col(text_col).alias("_tx"),
        F.md5(F.col(text_col)).alias("_tk"),
    )
    groups = keyed.groupBy("_tk").agg(
        F.min(F.struct("_id", "_tx")).alias("_s"),
        F.count(F.lit(1)).alias("_m"),
    )
    reps = groups.select("_tk", F.col("_s._tx").alias("_tx"))
    members = keyed.select("_tk", "_id")
    fp = _winnowing_fp_hashes(reps, "_tk", "_tx", k, w).persist()
    try:
        if df_unit == "distinct_texts":
            dfw = fp.groupBy("fp").agg(F.count(F.lit(1)).alias("_df"))
        elif df_unit == "raw_docs":
            dfw = (
                fp.join(groups.select("_tk", "_m"), "_tk")
                .groupBy("fp")
                .agg(F.sum("_m").alias("_df"))
            )
        else:
            raise ValueError(f"unknown df_unit {df_unit!r}")
        rare = dfw.where(F.col("_df") <= max_doc_freq).select("fp")
        posting = fp.join(rare, "fp").persist()
        try:
            nfp = posting.groupBy("_tk").agg(F.count(F.lit(1)).alias("_nfp"))
            a = posting.select(F.col("_tk").alias("_ta"), "fp")
            b = posting.select(F.col("_tk").alias("_tb"), "fp")
            rp = (
                a.join(b, "fp")
                .where(F.col("_ta") < F.col("_tb"))
                .groupBy("_ta", "_tb")
                .agg(F.count(F.lit(1)).alias("n_shared"))
                .where(F.col("n_shared") >= min_shared)
            )
            cross = (
                rp.join(
                    members.select(
                        F.col("_tk").alias("_ta"), F.col("_id").alias("_ia")
                    ),
                    "_ta",
                )
                .join(
                    members.select(
                        F.col("_tk").alias("_tb"), F.col("_id").alias("_ib")
                    ),
                    "_tb",
                )
                .select(
                    F.least("_ia", "_ib").alias("id_a"),
                    F.greatest("_ia", "_ib").alias("id_b"),
                    "n_shared",
                )
            )
            dup_groups = (
                groups.where(F.col("_m") >= 2)
                .join(nfp, "_tk")
                .where(F.col("_nfp") >= min_shared)
                .select("_tk", F.col("_nfp").alias("n_shared"))
            )
            # filter to qualifying groups BEFORE the member self-join
            # so only answer-bearing groups pay the C(m,2) expansion
            wm = members.join(dup_groups, "_tk")
            within = (
                wm.select("_tk", "n_shared", F.col("_id").alias("id_a"))
                .join(wm.select("_tk", F.col("_id").alias("id_b")), "_tk")
                .where(F.col("id_a") < F.col("id_b"))
                .select("id_a", "id_b", "n_shared")
            )
            return cross.unionByName(within).transform(materialize)
        finally:
            posting.unpersist()
    finally:
        fp.unpersist()


def _lm_position_table(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, w1, w2): one row per token position — w1 the token, w2 the
    following token or NULL at doc end — so unigram counts (all rows),
    bigram counts (w2 non-null) and the scoring stream all derive from
    ONE tokenize+explode pass. Docs with <2 tokens are dropped (no
    transitions). Routed through session.scale_out: a single-file
    local scan would run the tokenize single-threaded."""
    from ..session import scale_out
    from .dedup import tokens_col

    toks = (
        scale_out(df)
        .select(id_col, tokens_col(text_col).alias("_t"))
        .where(F.size("_t") >= 2)
    )
    nxt = F.concat(
        F.slice("_t", 2, F.size("_t") - 1),
        F.array(F.lit(None).cast("string")),
    )
    return toks.select(
        id_col,
        F.explode(
            F.zip_with(
                "_t", nxt, lambda a, b: F.struct(a.alias("w1"), b.alias("w2"))
            )
        ).alias("_bg"),
    ).select(id_col, "_bg.w1", "_bg.w2")


def bigram_lm_probs(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(w1, w2, _p): the corpus' add-one-smoothed bigram transition
    probabilities as DECIMAL(38,18) — the trained language model of
    :func:`bigram_lm_scores`, factored out so the artifact store can
    materialize it once per corpus version (artifacts.lm_bigram_probs)
    the way a production pipeline stores any trained scorer. Values
    are exactly the decimal casts the scorer summed inline before."""
    ex = _lm_position_table(df, id_col, text_col).persist()
    uni = ex.groupBy("w1").agg(F.count(F.lit(1)).alias("_c1"))
    vocab = uni.agg(F.count(F.lit(1)).cast("long").alias("_v"))
    big = (
        ex.where(F.col("w2").isNotNull())
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("_c2"))
    )
    out = (
        big.join(uni, "w1")
        .crossJoin(F.broadcast(vocab))
        .select(
            "w1",
            "w2",
            (
                (F.col("_c2") + 1).cast("double")
                / (F.col("_c1") + F.col("_v")).cast("double")
            )
            .cast("decimal(38,18)")
            .alias("_p"),
        )
    )
    try:
        return out.transform(materialize)
    finally:
        ex.unpersist()


def bigram_lm_scores(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    out_col: str = "lm_score",
    probs: DataFrame | None = None,
) -> DataFrame:
    """In-corpus bigram language-model fluency score (the CCNet/Gopher
    perplexity-filtering signal, self-trained): train add-one-smoothed
    bigram transition probabilities P(w2|w1) = (c(w1 w2)+1)/(c(w1)+V)
    on the corpus itself, then score each doc as the MEAN transition
    likelihood over its bigram positions. Repetitive/templated text
    scores high, token salad scores near 1/V — the same ordering signal
    as perplexity.

    Arithmetic mean instead of the geometric (true perplexity) ON
    PURPOSE: each P is a ratio of integers whose double division is
    IEEE-exact, so summing through DECIMAL(38,18) makes the score
    bit-reproducible across engines — the same log-free trick as the
    TF-IDF operator; ln() would differ in the last ulp between libms.

    Scale shape (r12 rewrite): ONE tokenize+explode pass produces the
    position table (w1 = every token, w2 = following token or NULL at
    doc end), cached once; the unigram counts, the bigram counts and
    the scoring stream all read that cache, where the pre-r12 plan
    tokenized and exploded the corpus twice behind two separate
    persists. Transition probabilities are computed once per DISTINCT
    corpus bigram (a vocabulary-sized join; AQE broadcasts it whenever
    the vocabulary fits) and the scoring join's per-position stream
    aggregates per doc with map-side partial aggregation, so the
    final shuffle carries |docs| rows. V is a 1-row broadcast. The
    input is routed through session.scale_out — a single-file local
    scan would otherwise run the tokenize single-threaded (measured
    1.9 s → 1.25 s at sf0.1). At web scale additionally cap the
    vocabulary (drop hapax n-grams) before the probability join — the
    smoothing constant already dominates their contribution. Docs
    with fewer than 2 tokens have no transitions and are dropped.

    ``probs``: optional precomputed (w1, w2, _p) transition table —
    the artifact store's (artifacts.lm_bigram_probs). With it the
    whole score is ONE lazy pass: tokenize+explode → broadcast join →
    per-doc map-side-combined aggregate; nothing is persisted and no
    eager action runs (the train-once/score-many production split).
    """
    if probs is not None:
        from .dedup import check_precomputed_params

        check_precomputed_params(
            probs, {"artifact": "lm_bigram", "smoothing": "add1"},
            "bigram_lm_scores",
        )
        ex = _lm_position_table(df, id_col, text_col)
        return (
            ex.where(F.col("w2").isNotNull())
            .join(probs, ["w1", "w2"])
            .groupBy(id_col)
            .agg((F.sum("_p").cast("double") / F.count(F.lit(1))).alias("_m"))
            .select(id_col, F.round("_m", 9).alias(out_col))
        )
    # persist discipline (NOTES Catalyst traps): the exploded position
    # table feeds the unigram counts, the bigram counts AND the
    # scoring join — unpersisted, the tokenize + explode chain re-runs
    # three times. Eager-materialize + release keeps bench timing
    # honest.
    ex = _lm_position_table(df, id_col, text_col).persist()
    uni = ex.groupBy("w1").agg(F.count(F.lit(1)).alias("_c1"))
    vocab = uni.agg(F.count(F.lit(1)).cast("long").alias("_v"))
    big = (
        ex.where(F.col("w2").isNotNull())
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("_c2"))
    )
    bigp = (
        big.join(uni, "w1")
        .crossJoin(F.broadcast(vocab))
        .select(
            "w1",
            "w2",
            (
                (F.col("_c2") + 1).cast("double")
                / (F.col("_c1") + F.col("_v")).cast("double")
            )
            .cast("decimal(38,18)")
            .alias("_p"),
        )
    )
    out = (
        ex.where(F.col("w2").isNotNull())
        .join(bigp, ["w1", "w2"])
        .groupBy(id_col)
        .agg((F.sum("_p").cast("double") / F.count(F.lit(1))).alias("_m"))
        .select(id_col, F.round("_m", 9).alias(out_col))
    )
    try:
        return out.transform(materialize)
    finally:
        ex.unpersist()


def feature_hash_embed(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    dim: int = 64,
    keep_cols: list[str] | None = None,
) -> DataFrame:
    """Feature-hashing ("hashing trick", Weinberger et al. 2009)
    bag-of-words embedding: each alnum token is hashed to one of
    ``dim`` buckets (first 8 md5 hex chars mod dim — engine-portable,
    vocabulary-free) and the document becomes the bucket-count vector
    as ``array<double>``. This is the text→vector bridge: its output
    plugs straight into the similarity stack (cosine_topk, the LSH/IVF
    /PQ index builders, embedding near-dup → connected components)
    without a trained encoder, and cosine over raw count vectors is
    scale-invariant so no normalization pass is needed.

    Plan shape: one in-row projection — tokenization, per-token bucket,
    and a single left-to-right fold that increments one slot of a
    ``dim``-wide accumulator per token (O(tokens·dim) cheap long/double
    lattice ops, no string allocation past the md5). Zero shuffle, no
    vocabulary broadcast, no fit step — exactly what survives a 100-TB
    corpus pass. The bucket array is staged through its own projection
    so the md5s are computed once per token, not once per fold step.
    """
    if dim <= 0:
        raise ValueError(f"feature_hash_embed: dim must be positive, got {dim}")
    toks = F.filter(F.split(F.lower(F.col(text_col)), r"[^a-z0-9]+"), lambda t: t != "")
    bkts = F.transform(
        toks,
        lambda t: F.pmod(
            F.conv(F.substring(F.md5(t), 1, 8), 16, 10).cast("long"), F.lit(dim)
        ).cast("int"),
    )
    staged = df.select(F.col(id_col), *(keep_cols or []), bkts.alias("_b"))
    zeros = F.array_repeat(F.lit(0.0), dim)
    vec = F.aggregate(
        F.col("_b"),
        zeros,
        lambda acc, b: F.transform(
            acc, lambda v, j: F.when(j == b, v + F.lit(1.0)).otherwise(v)
        ),
    )
    return staged.select(id_col, *(keep_cols or []), vec.alias("embedding"))
