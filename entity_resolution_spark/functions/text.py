"""Text/code tokenization, shingling and text-analysis column functions.

These are the code-domain analog of the reference's "visitor" feature extractors
(``am_combiner/features/common.py:65-136`` — spaCy NER → token sets;
``am_combiner/features/vectorisation.py:18-66`` — TF-IDF text vectorizer): for source
code the features are identifier/word tokens, k-token shingles, and cheap quality /
language heuristics. Everything is a pure Column expression (JVM-side, codegen'd);
no Python in the hot path.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Tokens: lowercase alnum/underscore runs. Matches the "sorted lowercase token set"
# normalization the reference applies before comparisons (features/common.py:282-298).
_TOKEN_SPLIT_RE = r"[^a-z0-9_]+"


def tokens(col: Column | str) -> Column:
    """Lowercased word/identifier tokens of a text column (empty strings removed)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.filter(F.split(F.lower(c), _TOKEN_SPLIT_RE), lambda t: t != F.lit(""))


def distinct_tokens(col: Column | str) -> Column:
    """Sorted distinct token set — deterministic representation for set-similarity."""
    return F.array_sort(F.array_distinct(tokens(col)))


def ws_tokens(col: Column | str, lower: bool = True) -> Column:
    """Whitespace tokens (split on /\\s+/, empties dropped, NULL text → []).

    THE shared tokenizer of every oracled corpus-prep operator (repetition,
    decontamination, rarity, chunking, budget sampling): each carries the
    "identical on both engines" contract, so the definition must not drift
    between them — change it here or nowhere. ``lower=False`` preserves case
    for operators whose output is training payload (chunk text), not a key.
    """
    c = F.col(col) if isinstance(col, str) else col
    c = F.coalesce(c.cast("string"), F.lit(""))
    if lower:
        c = F.lower(c)
    return F.filter(F.split(c, r"\s+"), lambda t: t != F.lit(""))


def shingles(tok: Column, k: int = 5) -> Column:
    """k-token shingles (space-joined sliding windows) over a token array.

    Documents shorter than k tokens contribute their whole token sequence as one
    shingle, so short files still block/compare.
    """
    windows = F.transform(
        F.sequence(F.lit(1), F.size(tok) - (k - 1)),
        lambda i: F.concat_ws(" ", F.slice(tok, i, k)),
    )
    return F.when(F.size(tok) >= k, windows).otherwise(
        F.when(F.size(tok) > 0, F.array(F.concat_ws(" ", tok))).otherwise(F.array().cast("array<string>"))
    )


# ---------------------------------------------------------------------------
# Text-analysis functions for a training-data pipeline (documents table).
# ---------------------------------------------------------------------------

def token_count(col: Column | str) -> Column:
    """Whitespace token count (cheap proxy used for quality filters)."""
    c = F.col(col) if isinstance(col, str) else col
    trimmed = F.trim(c)
    return F.when(trimmed == "", F.lit(0)).otherwise(F.size(F.split(trimmed, r"\s+")))


def word_like_token_count(col: Column | str) -> Column:
    """BPE-ish token estimate: alnum runs + standalone punctuation marks."""
    c = F.col(col) if isinstance(col, str) else col
    words = F.size(F.filter(F.split(F.lower(c), r"[^a-z0-9]+"), lambda t: t != F.lit("")))
    punct = F.length(F.regexp_replace(c, r"[a-zA-Z0-9\s]", ""))
    return (words + punct).cast("long")


# the ONE stopword list — quality_features, the quality_stats_lang query and
# its DuckDB oracle all derive from this constant (a copy drifting on one
# engine would surface only as an opaque cross-engine hash mismatch)
STOPWORDS: tuple[str, ...] = (
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "it",
    "that", "for", "on", "as", "with", "was", "be", "this", "are", "at",
)


def quality_features(col: Column | str) -> dict[str, Column]:
    """Cheap document-quality signals: length, punctuation ratio, stopword ratio,
    mean word length, uppercase ratio. All pure SQL expressions."""
    c = F.col(col) if isinstance(col, str) else col
    n_chars = F.length(c)
    n_alpha = F.length(F.regexp_replace(c, r"[^a-zA-Z]", ""))
    n_upper = F.length(F.regexp_replace(c, r"[^A-Z]", ""))
    n_punct = F.length(F.regexp_replace(c, r"[^.,;:!?'\"()\[\]{}-]", ""))
    toks = tokens(c)
    stopwords = F.array(*[F.lit(w) for w in STOPWORDS])
    n_stop = F.size(F.filter(toks, lambda t: F.array_contains(stopwords, t)))
    n_tok = F.size(toks)
    safe = lambda num, den: F.when(den > 0, num.cast("double") / den).otherwise(F.lit(0.0))  # noqa: E731
    return {
        "n_chars": n_chars.cast("long"),
        "n_tokens": n_tok.cast("long"),
        "punct_ratio": safe(n_punct, n_chars),
        "upper_ratio": safe(n_upper, n_alpha),
        "stopword_ratio": safe(n_stop, n_tok),
        "mean_token_len": safe(F.aggregate(toks, F.lit(0), lambda acc, t: acc + F.length(t)).cast("double"), n_tok),
    }


# n-gram language-ID heuristic: score against tiny per-language marker lexicons.
_LANG_MARKERS = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "for", "with", "was"],
    "de": ["der", "die", "und", "das", "ist", "nicht", "ein", "mit", "den", "von"],
    "fr": ["le", "la", "les", "de", "et", "est", "pas", "pour", "une", "dans"],
    "es": ["el", "la", "los", "de", "que", "y", "es", "en", "por", "con"],
}


def lang_marker_score(col: Column | str, lang_code: str) -> Column:
    """Number of tokens (with multiplicity) matching the language's marker lexicon."""
    toks = tokens(col)
    marker_arr = F.array(*[F.lit(m) for m in _LANG_MARKERS[lang_code]])
    return F.size(F.filter(toks, lambda t: F.array_contains(marker_arr, t)))


def lang_id(col: Column | str) -> Column:
    """Heuristic language id: argmax of marker-token hit counts, 'unknown' if no hits.

    Ties break by fixed priority order en > de > fr > es (the dict order) — the
    same explicit when-chain the SQL oracle uses, so both engines agree exactly.
    """
    codes = list(_LANG_MARKERS)
    scores = {c: lang_marker_score(col, c) for c in codes}
    expr = F.lit("unknown")
    for i in range(len(codes) - 1, -1, -1):
        c = codes[i]
        cond = scores[c] > 0
        for later in codes[i + 1:]:
            cond = cond & (scores[c] >= scores[later])
        expr = F.when(cond, F.lit(c)).otherwise(expr)
    return expr


def path_stem(col: Column | str) -> Column:
    """Basename without extension, lowercased — the 'entity name' analog for files."""
    c = F.col(col) if isinstance(col, str) else col
    base = F.element_at(F.split(c, "/"), -1)
    return F.lower(F.regexp_replace(base, r"\.[^.]*$", ""))


def path_tokens(col: Column | str) -> Column:
    """Normalized path tokens: split stem on non-alnum + digit-strip, distinct-sorted.

    One of the exact blocking keys mandated by the north rule ("normalized path
    tokens"); strips version suffixes like ``_v3`` so renamed copies share a key.
    """
    stem = path_stem(col)
    raw = F.split(F.regexp_replace(stem, r"[0-9]+", ""), r"[^a-z]+")
    return F.array_sort(F.array_distinct(F.filter(raw, lambda t: t != F.lit(""))))


def replace_entity_name(
    text: Column | str, original_name: Column | str, replace_name: Column | str
) -> Column:
    """Token-wise entity-name masking (reference ``utils/replace.py:4-32``,
    used by the synthetic-data provider to swap real names for fakes): each
    whitespace token of ``original_name`` is replaced case-insensitively in
    ``text``; a trailing-dot token like ``J.`` matches ``\\bJ\\.`` (dot
    escaped, no trailing boundary — ``\\b`` after ``.`` would not sit on a
    word edge), any other token matches ``\\btoken\\b`` so ``john`` never
    fires inside ``johnson``. Replacements fold sequentially, so a fake name
    containing a later token is re-replaced — the reference's loop order,
    reproduced by ``F.aggregate``. Like the reference, regex metacharacters
    other than the trailing-dot case are NOT escaped (names are expected to
    be plain words).

    Entirely JVM-side (aggregate over a handful of name tokens; one
    ``regexp_replace`` each) — no Python in the row path.
    """
    text = F.col(text) if isinstance(text, str) else text
    name = F.col(original_name) if isinstance(original_name, str) else original_name
    repl = F.col(replace_name) if isinstance(replace_name, str) else replace_name
    toks = F.filter(F.split(name, " "), lambda t: t != F.lit(""))

    def _step(acc: Column, tok: Column) -> Column:
        escaped = F.regexp_replace(tok, r"\.", r"\\.")
        pat = F.when(
            tok.endswith("."), F.concat(F.lit(r"(?i)\b"), escaped)
        ).otherwise(F.concat(F.lit(r"(?i)\b"), tok, F.lit(r"\b")))
        return F.regexp_replace(acc, pat, repl)

    return F.aggregate(toks, text, _step)


def sentences(col: Column | str) -> Column:
    """Sentence segmentation: split on terminator runs followed by whitespace,
    trimmed, empties dropped — the deterministic stand-in for the reference's
    spaCy ``doc.sents`` (``features/profession.py:192-195``)."""
    c = F.col(col) if isinstance(col, str) else col
    c = F.coalesce(c.cast("string"), F.lit(""))
    return F.filter(
        F.transform(F.split(c, r"[.!?]+\s+|[.!?]+$"), lambda s: F.trim(s)),
        lambda s: s != F.lit(""),
    )


def check_words(sentences_col: Column, words: Column) -> Column:
    """Sentences containing ANY of ``words`` — reference ``check_words``
    (``features/profession.py:16-34``): case-SENSITIVE substring containment,
    order preserved."""
    return F.filter(
        sentences_col,
        lambda s: F.exists(
            words, lambda w: (w != F.lit("")) & F.contains(s, w)
        ),
    )


def profession_mentions(
    text: Column | str,
    entity_name: Column | str,
    occupations: list[str] | Column,
) -> Column:
    """Occupation terms attributed to the entity — the parser-free analog of
    ProfessionVisitor (``features/profession.py:135-206``).

    Reference flow: sentence-split -> ``check_words`` keeps sentences with an
    entity-name token (case-sensitive) -> spaCy noun chunks whose NSUBJ/APPOS
    root co-occurs with an occupation term (case-insensitive). Without a
    dependency parser the analog keeps the same sentence gate and emits the
    occupation LEXICON TERMS found in the kept sentences (case-insensitive
    substring, profession.py:107-131) as a sorted distinct set — the feature's
    blocking/similarity role (shared occupation tokens) is preserved; the
    chunk-text surface form is not.
    """
    t = F.col(text) if isinstance(text, str) else text
    e = F.col(entity_name) if isinstance(entity_name, str) else entity_name
    occ = (
        F.array(*[F.lit(o) for o in occupations])
        if isinstance(occupations, list)
        else occupations
    )
    name_tokens = F.split(F.coalesce(e.cast("string"), F.lit("")), r"\s+")
    imp = check_words(sentences(t), name_tokens)
    found = F.filter(
        occ,
        lambda o: F.exists(
            imp, lambda s: F.contains(F.lower(s), F.lower(o))
        ),
    )
    return F.array_sort(F.array_distinct(found))


def clean_html_tags(col: Column | str) -> Column:
    """Strip HTML tags — reference ``TextCleaner.clean_html_tag``
    (``features/common.py:302-333``): ``re.sub("<.*?>", "", text)``. The
    non-greedy ``<.*?>`` (dot excludes newlines in both Python and Java
    regex) is reproduced verbatim, so an unclosed ``<<<<<<`` prefix survives
    exactly as in the reference goldens. One codegen'd ``regexp_replace``.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_replace(c, "<.*?>", "")


def remove_self_reference(values: Column | str, entity_name: Column | str) -> Column:
    """Drop extracted feature values that mention the entity itself —
    reference ``remove_self_reference`` (``features/common.py:238-279``):
    a value is dropped when ANY whitespace token of the lowered entity name
    matches it as a whole word (``\\btoken\\b``, case-insensitive; only
    ``.`` is escaped, as in the reference). Middle-initial tokens —
    exactly two chars ending in ``.`` like ``S.`` — are skipped, so
    "Fred S. Johnson" never kills "Marble S. Arch". Keeping those mentions
    dramatically over-combines (the value is really the entity, not an
    independent feature), hence the filter.

    Pure Column HOFs: ``filter`` × ``exists`` × ``regexp_like`` over a
    handful of name tokens — JVM-side, no Python in the row path. (Java
    ``\\b`` is ASCII-word-based vs Python's unicode ``\\b`` — identical on
    the reference's ASCII goldens.)
    """
    vals = F.col(values) if isinstance(values, str) else values
    name = F.col(entity_name) if isinstance(entity_name, str) else entity_name
    toks = F.filter(
        F.split(F.lower(F.coalesce(name.cast("string"), F.lit(""))), r"\s+"),
        lambda t: t != F.lit(""),
    )
    toks = F.filter(toks, lambda t: ~((F.length(t) == 2) & t.endswith(".")))

    def _pat(t: Column) -> Column:
        return F.concat(
            F.lit(r"(?i)\b"),
            F.replace(t, F.lit("."), F.lit(r"\.")),
            F.lit(r"\b"),
        )

    return F.filter(
        vals, lambda v: ~F.exists(toks, lambda t: F.regexp_like(v, _pat(t)))
    )


def remove_entity_name_tokens(
    text: Column | str, person_names: Column | str, entity_name: Column | str
) -> Column:
    """Blank out every name token from the text — reference
    ``EntityNameRemoverVisitor`` (``features/common.py:198-236``): when the
    PERSON set is empty the text is untouched; otherwise the whitespace
    tokens of all PERSON names plus the entity name are deduplicated,
    sorted (the reference fixes removal order because overlapping
    substrings make the result order-dependent), and each is removed as a
    plain case-sensitive substring. ``F.aggregate`` reproduces the
    sequential fold; ``F.replace`` is literal (not regex), matching
    ``str.replace``. JVM-side throughout.
    """
    t = F.col(text) if isinstance(text, str) else text
    persons = F.col(person_names) if isinstance(person_names, str) else person_names
    name = F.col(entity_name) if isinstance(entity_name, str) else entity_name
    all_names = F.concat(persons, F.array(name.cast("string")))
    bits = F.array_sort(
        F.array_distinct(
            F.flatten(
                F.transform(
                    all_names,
                    lambda n: F.filter(
                        F.split(F.coalesce(n, F.lit("")), r"\s+"),
                        lambda b: b != F.lit(""),
                    ),
                )
            )
        )
    )
    folded = F.aggregate(bits, t, lambda acc, b: F.replace(acc, b, F.lit("")))
    return F.when(F.coalesce(F.size(persons), F.lit(0)) == 0, t).otherwise(folded)
