"""Text primitives as Catalyst expressions: normalization, tokenization,
shingling, language scoring, quality metrics — the building blocks of the
dedup / text-analysis operators (SURVEY.md §7 M5).

Everything here is a column expression (JVM-side). Each primitive is written
to be *portable*: the same logic is expressible in ANSI-ish SQL so DuckDB
oracles can mirror it exactly (e.g. language scoring counts via
length-difference tricks rather than engine-specific functions).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Tiny per-language stopword markers for the n-gram/stopword heuristic
# language ID. Deliberately small + deterministic; counting is done with
# the portable (length - length(replace)) / len(marker) trick.
LANG_MARKERS: dict[str, list[str]] = {
    "en": [" the ", " and ", " of "],
    "es": [" el ", " de ", " que "],
    "fr": [" le ", " et ", " les "],
    "de": [" der ", " und ", " die "],
    "zh": ["的", "是", "了"],
}


def normalize_text(col: Column) -> Column:
    """lower → strip non-alphanumerics to space → collapse whitespace → trim.
    The canonical form used by exact-dedup and fingerprinting."""
    c = F.lower(col)
    c = F.regexp_replace(c, r"[^a-z0-9\s]", " ")
    c = F.regexp_replace(c, r"\s+", " ")
    return F.trim(c)


def tokens(col: Column) -> Column:
    """Whitespace tokens of the raw text (array<string>)."""
    return F.split(F.trim(col), r"\s+")


def token_count(col: Column) -> Column:
    return F.size(tokens(col))


def bpe_ish_token_count(col: Column) -> Column:
    """A BPE-ish proxy token count: word pieces + digit runs + punctuation
    marks counted separately (regexp-based, no model). Useful as a stable
    token-budget estimator for LLM pipelines."""
    pieces = F.regexp_extract_all(col, F.lit(r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"), 0)
    return F.size(pieces)


def occurrence_count(col: Column, marker: str) -> Column:
    """Portable substring occurrence count:
    (len(s) - len(replace(s, marker, ''))) / len(marker)."""
    return (
        (F.length(col) - F.length(F.replace(col, F.lit(marker), F.lit(""))))
        / F.lit(len(marker))
    ).cast("int")


def lang_score(col: Column, lang: str) -> Column:
    """Marker-occurrence score for one language over ' '||lower(text)||' '."""
    padded = F.concat(F.lit(" "), F.lower(col), F.lit(" "))
    score = F.lit(0)
    for marker in LANG_MARKERS[lang]:
        score = score + occurrence_count(padded, marker)
    return score


# Near-MAX_INT length for "slice to the end" — F.slice clamps to the array.
_SLICE_ALL = 2147483000


def _shifted_ngrams(arr: Column, n: int, sep: str) -> Column:
    """Overlapping n-grams of an array via n shifted copies zipped together.

    CRITICAL PERF SHAPE: the array expression must appear only OUTSIDE
    higher-order-function lambdas. A lambda body that references an outer
    expression tree (e.g. ``transform(idx, i -> slice(toks, i, n))``)
    re-evaluates that whole tree once per element — for shingling that
    means the regex normalization runs ~|tokens| times per row (measured
    9x slower at sf0.1). Here ``arr`` is evaluated n+1 times per row,
    independent of its length; the lambda touches only the zipped struct.

    arrays_zip pads the shorter shifted copies with null and concat_ws
    skips nulls, so tail positions yield partial grams; slicing to
    max(len - n + 1, 1) keeps exactly the full grams, plus one partial
    gram when the whole array is shorter than n (matching a plain
    slice-per-index formulation)."""
    zipped = F.arrays_zip(
        *[F.slice(arr, i + 1, _SLICE_ALL).alias(f"t{i}") for i in range(n)]
    )
    grams = F.transform(
        zipped, lambda s: F.concat_ws(sep, *[s[f"t{i}"] for i in range(n)])
    )
    k = F.greatest(F.size(arr) - F.lit(n - 1), F.lit(1))
    return F.slice(grams, F.lit(1), k)


def _let(bound: Column, body) -> Column:
    """Single-expression let-binding: evaluate ``bound`` ONCE per row and
    feed it to ``body`` as a cheap lambda variable.

    ``transform(array(x), v -> body(v))[0]`` — the array constructor
    evaluates ``x`` exactly once; inside the lambda every reference to
    ``v`` is a NamedLambdaVariable lookup, not a re-evaluation of the
    expression tree. Without this, _shifted_ngrams' n+1 references to the
    tokenization tree re-run the regex normalization n+1 times per row
    (measured 2.2x slower end-to-end on the sf0.1 shingle explode)."""
    return F.transform(F.array(bound), body)[0]


def token_shingles(col: Column, n: int = 3) -> Column:
    """Distinct word n-grams (array<string>) of the normalized text."""
    toks = F.split(normalize_text(col), " ")
    return _let(toks, lambda t: F.array_distinct(_shifted_ngrams(t, n, " ")))


def _gram_hashes(th: Column, n: int, min_grams: int) -> Column:
    """Positional gram hashes from a TOKEN-HASH array: one variadic
    ``xxhash64`` over the n token hashes pulled from the shifted-copy zip
    at each position. ``min_grams`` mirrors _shifted_ngrams' tail rule:
    0 = full grams only; 1 = keep one partial tail gram for arrays
    shorter than n (Spark's xxhash64 SKIPS null children, so the partial
    gram hashes exactly the available tokens — the hash analogue of
    concat_ws dropping nulls)."""
    zipped = F.arrays_zip(
        *[F.slice(th, i + 1, _SLICE_ALL).alias(f"t{i}") for i in range(n)]
    )
    grams = F.transform(zipped, lambda s: F.xxhash64(*[s[f"t{i}"] for i in range(n)]))
    k = F.greatest(F.size(th) - F.lit(n - 1), F.lit(min_grams))
    return F.slice(grams, F.lit(1), k)


def _token_hashes(col: Column) -> Column:
    """Token-hash array of the normalized text: each token hashed ONCE
    (one transform over the token array), the basis of gram hashing that
    never builds gram strings."""
    toks = F.split(normalize_text(col), " ")
    return _let(toks, lambda t: F.transform(t, lambda x: F.xxhash64(x)))


def ordered_ngram_hashes(col: Column, n: int) -> Column:
    """64-bit hashes of the overlapping word n-grams of the normalized
    text IN DOCUMENT ORDER, FULL grams only (a doc shorter than ``n``
    tokens yields an empty array — callers need no per-gram length
    filter).

    Same grouping power as ``xxhash64(gram text)`` without ever BUILDING
    the gram strings: each token is hashed once, then each gram hash is
    ONE variadic ``xxhash64`` over the n token hashes — no concat_ws
    string allocation and no hashing of ~n·avg_token bytes per position.
    Collisions now include token-level collisions feeding the gram hash,
    still the same ~2⁻⁶⁴ class as hashing the text directly."""
    return _let(_token_hashes(col), lambda th: _gram_hashes(th, n, 0))


def token_shingle_hashes(col: Column, n: int = 3) -> Column:
    """Distinct 64-bit hashes of the word n-grams of the normalized text —
    the hash-identity analogue of ``token_shingles`` (same tail rule: one
    partial gram when the doc is shorter than n tokens), for consumers
    that immediately hash the grams anyway (MinHash). Skips the gram
    string allocation entirely; distinctness is over the gram hashes,
    equivalent to string distinct modulo ~2⁻⁶⁴ collisions."""
    return _let(
        _token_hashes(col), lambda th: F.array_distinct(_gram_hashes(th, n, 1))
    )
