"""Text analysis for training-data pipelines — all JVM-side Column exprs.

* token_count — whitespace tokens + a BPE-ish subword estimate (regex).
* quality_score — length / punctuation / stopword-ratio composite.
* language_id — n-gram/stopword-hit heuristic over a small profile table
  (deterministic; no external models).
* doc_fingerprint / wordset_fingerprint / winnow_fingerprints — exact,
  bag-of-words and winnowed (fuzzy) content fingerprints.

Everything is a Column expression usable inside any plan (no UDFs), so these
compose with dedup/drift passes for free and stay in whole-stage codegen.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

STOPWORDS = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "for"],
    "de": ["der", "die", "und", "das", "nicht", "ist", "ich"],
    "es": ["el", "la", "de", "que", "y", "los", "en"],
    "fr": ["le", "la", "et", "les", "des", "est", "une"],
}


def token_count(col: Column) -> Column:
    """Whitespace token count (0 for empty/blank strings)."""
    trimmed = F.trim(col)
    return F.when(F.length(trimmed) == 0, F.lit(0)).otherwise(
        F.size(F.split(trimmed, "\\s+"))
    )


def subword_count_bpe_ish(col: Column) -> Column:
    """BPE-ish token estimate: count word chunks + digits + punctuation marks
    separately (a cheap regex proxy for subword tokenizers)."""
    return (
        F.size(F.split(F.trim(col), "\\s+"))
        + F.size(F.split(col, "[0-9]+")) - 1
        + F.size(F.split(col, "[\\.,;:!?]")) - 1
    )


def punct_ratio(col: Column) -> Column:
    total = F.length(col)
    punct = total - F.length(F.regexp_replace(col, "[\\.,;:!?'\"()\\[\\]{}]", ""))
    return F.when(total > 0, punct / total).otherwise(F.lit(0.0))


def stopword_hits(col: Column, words: list[str]) -> Column:
    """Occurrences of any of the words, token-boundary matched."""
    padded = F.concat(F.lit(" "), F.lower(col), F.lit(" "))
    out = F.lit(0)
    for w in words:
        pat = f" {w} "
        occ = (
            F.length(padded) - F.length(F.regexp_replace(padded, F.lit(pat).cast("string"), F.lit("")))
        ) / len(pat)
        out = out + occ.cast("int")
    return out


def stopword_ratio(col: Column, lang: str = "en") -> Column:
    toks = token_count(col)
    return F.when(toks > 0, stopword_hits(col, STOPWORDS[lang]) / toks).otherwise(
        F.lit(0.0)
    )


def quality_score_raw(col: Column) -> Column:
    """Composite [0,1] quality, UNROUNDED: enough length, sane punctuation,
    some stopword mass (mirrors common pretraining-data filters). Use this
    for aggregation/gating — per-row decimal rounding of a double that sits
    on a .XXXXXX5 tie is engine-dependent (Spark rounds the shortest-decimal
    representation, DuckDB the binary value), so cross-engine-checked
    pipelines round once at the END, never per row."""
    length_ok = F.least(F.length(col) / F.lit(500.0), F.lit(1.0))
    punct_ok = F.lit(1.0) - F.least(punct_ratio(col) * 5.0, F.lit(1.0))
    stop_ok = F.least(stopword_ratio(col) * 5.0, F.lit(1.0))
    return 0.4 * length_ok + 0.3 * punct_ok + 0.3 * stop_ok


def quality_score(col: Column) -> Column:
    """quality_score_raw rounded to 6dp — the display/report form."""
    return F.round(quality_score_raw(col), 6)


def language_id(col: Column) -> Column:
    """Pick the language whose stopword profile hits most; a language needs a
    strictly positive score, ties go to the LATEST entry in profile order,
    'und' when nothing hits. Deterministic, JVM-only.

    Shape note: implemented as one ``array_max`` over (score, index, lang)
    structs, NOT a folded when/otherwise chain — the fold embeds the
    accumulated tree twice per language (condition + else branch), so its
    generated code grows 2^N and blew janino's 64 KB method limit inside the
    confusion-count hashAgg (whole-stage codegen fell back to interpreted).
    Here each score expression appears exactly once; struct ordering
    (score, then index) reproduces the fold's tie-break bit-for-bit."""
    entries = [
        F.struct(
            F.coalesce(stopword_hits(col, ws), F.lit(0)).alias("s"),
            F.lit(i).alias("i"),
            F.lit(lang).alias("l"),
        )
        for i, (lang, ws) in enumerate(STOPWORDS.items())
    ]
    best = F.array_max(F.array(*entries))
    return F.when(best["s"] > 0, best["l"]).otherwise(F.lit("und"))


def doc_fingerprint(col: Column) -> Column:
    """Stable exact fingerprint: md5 of lower(trim(text))."""
    return F.md5(F.lower(F.trim(col)))


def wordset_fingerprint(col: Column) -> Column:
    """Bag-of-words fingerprint: md5 of the sorted distinct lowercase tokens.
    Collapses reorderings/repetitions — the exact-dedup key for content whose
    token multiset, not byte sequence, defines identity."""
    toks = F.split(F.trim(F.lower(col)), "\\s+")
    return F.md5(F.array_join(F.array_sort(F.array_distinct(toks)), " "))


def winnow_fingerprints(col: Column, k: int = 8, w: int = 4) -> Column:
    """Winnowing fingerprint set (Schleimer, Wilkerson & Aiken, "Winnowing:
    Local Algorithms for Document Fingerprinting", SIGMOD'03 — the MOSS
    scheme): hash every character k-gram of the whitespace-normalized
    lowercase text, slide a window over w consecutive gram hashes, keep each
    window's minimum hash; the sorted distinct minima are the document's
    fingerprint set (array<string>).

    Guarantee (the paper's correctness property): two documents sharing any
    substring of length >= k + w - 1 share at least one fingerprint, while
    only ~2/(w+1) of all gram hashes are kept — a rolling-hash near-dup
    index whose size is a tunable fraction of the corpus.

    Engine notes: md5 lowercase-hex with LEXICOGRAPHIC minima keeps the
    selection bit-reproducible in any engine (the DuckDB oracle replays it
    literally). At 100 TB swap md5 for xxhash64 — the winnowing guarantee is
    hash-agnostic, the plan shape identical, only bytes/row change. Whole
    expression is built-in Column ops (transform/slice/array_min);
    docs shorter than k + w - 1 chars yield an empty set.

    Evaluation-order note: the normalized string and the gram array are
    bound as lambda variables via single-element-array ``transform`` — a
    let-binding that forces each to be materialized ONCE per row. Naively
    referencing the ``grams`` expression inside the window lambda makes the
    interpreter re-evaluate the whole gram array (and its regexp
    normalization) for EVERY window position — O(len^2) regexp+md5 per doc,
    ~100x slower on 300-char docs (measured: the naive form wedged a
    500-doc scan for >10 min; the let-bound form runs in seconds).
    """

    def mins_of(grams: Column) -> Column:
        n_wins = F.size(grams) - (w - 1)
        # guard BEFORE building the sequence: F.sequence(1, x) with x < 1
        # would generate a DESCENDING sequence, not an empty one
        return F.when(
            n_wins >= 1,
            F.array_sort(
                F.array_distinct(
                    F.transform(
                        F.sequence(F.lit(1), n_wins),
                        lambda j: F.array_min(F.slice(grams, j, w)),
                    )
                )
            ),
        ).otherwise(F.array().cast("array<string>"))

    def grams_of(norm: Column) -> Column:
        n_grams = F.length(norm) - (k - 1)
        return F.when(
            n_grams >= 1,
            F.transform(
                F.sequence(F.lit(1), n_grams),
                lambda i: F.md5(norm.substr(i, F.lit(k))),
            ),
        ).otherwise(F.array().cast("array<string>"))

    norm_expr = F.trim(F.regexp_replace(F.lower(col), "\\s+", " "))
    # let norm = <normalize>; let grams = <hash grams>; in <window minima>
    return F.element_at(
        F.transform(
            F.array(norm_expr),
            lambda norm: F.element_at(
                F.transform(F.array(grams_of(norm)), mins_of), 1
            ),
        ),
        1,
    )


def _tokens(col: Column) -> Column:
    """Whitespace tokens of the lowercased text; blank/empty -> empty array
    (a raw split of '' yields [''], which would miscount as one token)."""
    return F.when(
        F.length(F.trim(col)) == 0, F.array().cast("array<string>")
    ).otherwise(F.split(F.trim(F.lower(col)), "\\s+"))


def tokens_array(col: Column) -> Column:
    """Public alias of :func:`_tokens` for callers that need the raw token
    array (tf-idf, shingling) under the same empty-doc semantics."""
    return _tokens(col)


def dup_word_frac(col: Column) -> Column:
    """Fraction of token occurrences that repeat an already-seen token:
    1 - distinct_tokens / tokens (0.0 for empty docs). The word-level
    repetition signal from the Gopher quality rules (Rae et al. 2021,
    "Scaling Language Models: ... Gopher", §A1.1 — public literature)."""
    toks = _tokens(col)
    n = F.size(toks)
    return F.when(
        n > 0, F.lit(1.0) - F.size(F.array_distinct(toks)) / n
    ).otherwise(F.lit(0.0))


def bigram_structs(tok_col: Column) -> Column:
    """Adjacent-token bigrams as ``array<struct>`` built by zipping two
    shifted slices — `arrays_zip`/`slice` are native whole-stage-codegen
    expressions, where the equivalent ``transform(sequence, i ->
    concat(element_at...))`` lambda is CodegenFallback (interpreted per
    element; the same trap the r5 minhash rewrite removed, BENCH.md
    "CodegenFallback lesson"). Struct equality ≡ joined-string equality
    (tokens cannot contain the separator after a whitespace split), so
    group/join keys can use the struct directly and never materialize the
    concatenated string. Takes the TOKEN ARRAY column (project
    :func:`tokens_array` once first) so the split isn't re-evaluated per
    slice."""
    m = F.greatest(F.size(tok_col) - 1, F.lit(0))
    return F.arrays_zip(F.slice(tok_col, 1, m), F.slice(tok_col, 2, m))


def shingle_structs(tok_col: Column, k: int = 8) -> Column:
    """Rolling k-token shingles as ``array<struct>`` — k shifted slices
    zipped natively (see :func:`bigram_structs` for why structs, not
    concatenated strings). Empty array for docs with < k tokens
    (decontamination semantics: too short to contain the probe n-gram)."""
    m = F.greatest(F.size(tok_col) - k + 1, F.lit(0))
    return F.arrays_zip(*[F.slice(tok_col, i + 1, m) for i in range(k)])
