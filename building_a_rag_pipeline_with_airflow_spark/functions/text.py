"""Text-analysis column functions.

Re-expresses the reference's per-string Python helpers as Catalyst
expressions (whole-stage-codegen'd, no Python in the hot path):

* token counting — reference uses ``tiktoken cl100k_base``
  (``Chunking_Strats/kamredt_chunking.py:48-50``); tiktoken is not in this
  container, so the engine ships a whitespace tokenizer and a BPE-ish
  regex tokenizer, both pure SQL.
* quality scoring / language id / fingerprinting — training-data-pipeline
  operators (north-star additions; no reference counterpart).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Word-or-single-punctuation tokens: a cheap deterministic stand-in for a BPE
# tokenizer's token count (same regex class on the DuckDB oracle side).
_BPE_ISH = r"[A-Za-z0-9_]+|[^A-Za-z0-9_\s]"

# Small, fixed stopword lists for the n-gram-free language-id heuristic.
# Deterministic and SQL-expressible (the oracle uses identical lists).
STOPWORDS: dict[str, list[str]] = {
    "en": ["the", "a", "of", "and", "to", "in", "is", "that", "it", "for"],
    "es": ["el", "la", "de", "y", "que", "en", "un", "es", "se", "por"],
    "fr": ["le", "la", "de", "et", "que", "en", "un", "est", "pour", "dans"],
    "de": ["der", "die", "das", "und", "zu", "in", "ist", "ein", "nicht", "von"],
    "zh": ["de", "shi", "le", "bu", "wo", "you", "zai", "ta", "men", "zhe"],
}


def tokens(col: Column | str) -> Column:
    """Whitespace tokens as array<string>; empty array for blank text."""
    c = F.trim(F.col(col) if isinstance(col, str) else col)
    return F.when(F.length(c) == 0, F.array().cast("array<string>")).otherwise(
        F.split(c, r"\s+")
    )


def token_count(col: Column | str) -> Column:
    """Whitespace token count (reference fallback for tiktoken length)."""
    return F.size(tokens(col)).cast("int")


def bpe_token_count(col: Column | str) -> Column:
    """BPE-ish token count: words plus individual punctuation marks."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_count(c, F.lit(_BPE_ISH)).cast("int")


def punct_count(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_count(c, F.lit(r"[.!?,;:]")).cast("int")


def stopword_hits_from_tokens(toks: Column, lang: str = "en") -> Column:
    """Stopword hit count over an already-materialized token array —
    callers that need several per-language counts project ``tokens(col)``
    to a column ONCE and pass it here, so the text is never re-split
    (same lesson as :func:`ngrams_from_tokens`)."""
    stop = F.array(*[F.lit(w) for w in STOPWORDS[lang]])
    return F.size(F.filter(toks, lambda t: F.array_contains(stop, t))).cast("int")


def quality_score_from_tokens(col: Column | str, toks: Column) -> Column:
    """Quality score over a pre-materialized token array (one tokenization
    feeds token count and stopword ratio)."""
    c = F.col(col) if isinstance(col, str) else col
    n_tok = F.size(toks).cast("int")
    length_component = F.least(F.length(c) / F.lit(500.0), F.lit(1.0))
    punct_component = F.least(
        punct_count(c) / F.greatest(n_tok.cast("double"), F.lit(1.0)) * 5.0,
        F.lit(1.0),
    )
    stop_component = F.least(
        stopword_hits_from_tokens(toks, "en")
        / F.greatest(n_tok.cast("double"), F.lit(1.0)) * 4.0,
        F.lit(1.0),
    )
    return (
        0.5 * length_component + 0.25 * punct_component + 0.25 * stop_component
    ).cast("double")


def quality_score(col: Column | str) -> Column:
    """Heuristic document quality in [0, 1]: rewards mid-length docs, real
    sentence punctuation, and a sane stopword ratio. All built-ins."""
    return quality_score_from_tokens(col, tokens(col))


def lang_id_from_tokens(toks: Column) -> Column:
    """Language id over a pre-materialized token array — the five
    per-language counts share ONE split instead of re-tokenizing the text
    per language."""
    scored = F.array(
        *[
            F.struct(
                stopword_hits_from_tokens(toks, lang).alias("hits"),
                F.lit(lang).alias("lang"),
            )
            for lang in sorted(STOPWORDS)
        ]
    )
    # array_max on struct compares field-by-field: (hits, lang) — highest hit
    # count wins, alphabetically-last lang breaks ties; flip lang sign isn't
    # possible for strings, so order the array DESC by building with reverse
    # sort and taking max on (hits, reversed-rank).
    best = F.array_max(scored)
    return F.when(best["hits"] == 0, F.lit("und")).otherwise(best["lang"])


def lang_id(col: Column | str) -> Column:
    """Stopword-vote language id: argmax language by stopword hits, 'und'
    when nothing matches. Ties break alphabetically (deterministic)."""
    return lang_id_from_tokens(tokens(col))


def normalized_text(col: Column | str) -> Column:
    """Lowercased, whitespace-collapsed text (dedup canonical form)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.trim(F.regexp_replace(F.lower(c), r"\s+", " "))


def html_to_text(col: Column | str) -> Column:
    """HTML boilerplate strip for the fetch path: the reference's S5 fetch
    (``Chunking_Strats/chromadb_rag.py:35-46``) returns raw
    ``response.text`` — which for real URLs is HTML — and chunks it as-is,
    markup and all. This inserts the missing cleanup between fetch and
    chunking: drop ``<script>``/``<style>`` blocks WITH their contents,
    drop comments, strip every remaining tag (tag → space so adjacent
    text nodes never weld into one token), decode the common named/
    numeric entities, and collapse whitespace.

    Pure ``regexp_replace`` chain — codegen'd, zero shuffle, and every
    pattern is RE2-compatible (inline ``(?is)`` flags, non-greedy
    quantifiers, no lookarounds), so an external SQL oracle replays the
    chain byte-identically. ``&amp;`` decodes LAST, so ``&amp;lt;`` in
    the source correctly yields the literal text ``&lt;`` rather than
    double-decoding to ``<``. Not a full HTML5 parser by design: CDATA,
    exotic entities, and malformed markup beyond these patterns pass
    through as text — production can swap in a real extractor
    (trafilatura-class) behind the same column contract.

    The (pattern, replacement) chain lives in :data:`HTML_STRIP_CHAIN` so
    the SQL oracle is BUILT from the same table the engine folds — the
    two can't drift."""
    c = F.col(col) if isinstance(col, str) else col
    for pat, rep in HTML_STRIP_CHAIN:
        c = F.regexp_replace(c, pat, rep)
    return F.trim(c)


#: The html_to_text regex chain, in application order. Every pattern is
#: RE2-compatible; entity decode order matters (&amp; strictly last).
#: Comments strip BEFORE script/style: a comment that merely mentions
#: ``<script>`` must not arm the script pattern into swallowing body
#: text up to a later real ``</script>``, and the old-school
#: ``<script><!-- code --></script>`` hiding idiom still collapses
#: (inner comment goes first, the emptied script block second).
HTML_STRIP_CHAIN: "tuple[tuple[str, str], ...]" = (
    (r"(?s)<!--.*?-->", " "),
    (r"(?is)<script\b[^>]*>.*?</script>", " "),
    (r"(?is)<style\b[^>]*>.*?</style>", " "),
    (r"(?s)<[^>]*>", " "),
    (r"(?i)&nbsp;", " "),
    (r"(?i)&lt;", "<"),
    (r"(?i)&gt;", ">"),
    (r"(?i)&quot;", '"'),
    (r"(?i)&(#39|apos);", "'"),
    (r"(?i)&amp;", "&"),
    (r"\s+", " "),
)


def doc_fingerprint(col: Column | str) -> Column:
    """Deterministic content fingerprint: md5 of the normalized text.

    md5 (not xxhash64) so external oracles can reproduce it exactly.
    """
    return F.md5(normalized_text(col))


def ngrams_from_tokens(toks: Column, n: int = 3) -> Column:
    """Distinct word n-grams from an already-materialized token array.

    Callers should project the token array into its own column first —
    referencing a `split(...)` expression inside the transform lambda would
    re-split the text once per gram (visible as a nested `split` under
    `lambdafunction` in the physical plan).
    """
    idx = F.sequence(F.lit(0), F.greatest(F.size(toks) - n, F.lit(0)))
    grams = F.transform(
        idx, lambda i: F.array_join(F.slice(toks, i + 1, n), " ")
    )
    # A doc shorter than n tokens yields its whole text as one shingle.
    # A NULL token array yields NO shingles, same as the empty array: the
    # == 0 guard alone misses it (size(NULL) is NULL, not 0), and the
    # fall-through emits ONE NULL shingle per NULL-text doc — a row every
    # downstream equi-join drops, but one that defeats the shingle index
    # extender's zero-derive skip and pollutes doc_sizes (the trigram
    # NULL-gram bug, same class).
    return F.when(
        toks.isNull() | (F.size(toks) == 0), F.array().cast("array<string>")
    ).otherwise(F.array_distinct(grams))


def word_ngrams(col: Column | str, n: int = 3) -> Column:
    """Distinct word n-gram shingles as array<string> (minhash/jaccard input).

    Pure SQL: slide an index sequence over the token array with transform +
    array_join; no Python. Column-context convenience — DataFrame-level
    callers (``operators.dedup.shingles``) project tokens to a column first
    and use :func:`ngrams_from_tokens` to avoid re-tokenizing per gram.
    """
    toks = tokens(F.lower(F.col(col) if isinstance(col, str) else col))
    return ngrams_from_tokens(toks, n)


def readability_stats(col: Column | str) -> "dict[str, Column]":
    """Flesch-style readability inputs as pure Catalyst expressions —
    sentence count (terminal-punctuation runs, min 1), word count
    (whitespace tokens) and a vowel-group syllable estimate (runs of
    [aeiouy] per lowercased text, the standard cheap proxy). All three
    are `regexp_count`/`size` projections any engine reproduces exactly;
    the Flesch reading-ease formula combines them:
    ``206.835 − 1.015·(words/sentences) − 84.6·(syllables/words)``."""
    c = F.col(col) if isinstance(col, str) else col
    n_sent = F.greatest(F.regexp_count(c, F.lit(r"[.!?]+")), F.lit(1))
    n_words = F.greatest(token_count(c).cast("bigint"), F.lit(1).cast("bigint"))
    n_syll = F.greatest(
        F.regexp_count(F.lower(c), F.lit(r"[aeiouy]+")), F.lit(1)
    )
    return {
        "n_sentences": n_sent.cast("bigint"),
        "n_words": n_words,
        "n_syllables": n_syll.cast("bigint"),
        "flesch": (
            F.lit(206.835)
            - F.lit(1.015) * (n_words.cast("double") / n_sent.cast("double"))
            - F.lit(84.6) * (n_syll.cast("double") / n_words.cast("double"))
        ),
    }
