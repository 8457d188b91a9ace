"""Text-analysis column functions for the large-scale pipeline operators.

All built-in `pyspark.sql.functions` — tokenization, shingling, quality
signals, language ID, fingerprints run JVM-side with no Python in the hot
path. These back ``operators/textops.py`` and ``operators/dedup.py``.

Oracle twins (DuckDB SQL) live next to each query in ``plans/parity.py``;
every function here keeps to a deterministic, SQL-expressible definition.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Token = maximal run of word chars (BPE-ish splitting of punctuation happens
# via the regex class, digits kept). Same regex works in DuckDB regexp funcs.
TOKEN_SPLIT_RE = r"[^a-zA-Z0-9]+"

# Tiny per-language stopword marker sets for the n-gram/stopword heuristic
# language ID. Deterministic and SQL-expressible (word-boundary regexp count).
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "is"],
    "es": ["el", "la", "de", "que", "los"],
    "de": ["der", "die", "und", "das", "ist"],
    "fr": ["le", "la", "les", "des", "est"],
    "zh": ["de", "le", "shi", "zai", "he"],
}


def normalize(c: Column) -> Column:
    """Lowercase + collapse whitespace — canonical form for hashing/dedup."""
    return F.trim(F.regexp_replace(F.lower(c), r"\s+", " "))


def tokens(c: Column) -> Column:
    """Split into word tokens; empty strings filtered."""
    return F.filter(F.split(F.lower(c), TOKEN_SPLIT_RE), lambda t: t != "")


def token_count(c: Column) -> Column:
    return F.size(tokens(c))


def word_ngrams(toks: Column, n: int = 2) -> Column:
    """Word n-gram shingles from a token array.

    Built as a zip_with chain over shifted slices — O(n·tokens) per doc.
    The naive transform(sequence, i -> slice(toks, i, n)) form costs
    O(tokens²) once Catalyst inlines it into per-element lambdas AND
    duplicates it into an InferFiltersFromGenerate pre-filter (measured:
    26 s → <2 s for 5k docs). Semantics preserved exactly, incl. edges:
    fewer than n tokens → one truncated shingle; zero tokens → [""] —
    both mirrored by the DuckDB oracle (plans/pipeline_ops.py).

    ``toks`` must be a materialized column (its own projection, not an
    inline split: CollapseProject keeps a twice-referenced split apart)
    or each slice re-tokenizes.
    """
    if n <= 1:
        return toks
    sz = F.size(toks)
    out = toks
    for k in range(1, n):
        # zip_with pads to the longer length with NULLs; concat_ws skips
        # NULLs, which yields exactly the truncated tail shingles we trim.
        out = F.zip_with(
            out,
            F.slice(toks, k + 1, F.greatest(sz - k, F.lit(0))),
            lambda x, y: F.concat_ws(" ", x, y),
        )
    trimmed = F.slice(out, 1, F.greatest(sz - (n - 1), F.lit(1)))
    return F.when(sz == 0, F.array(F.lit(""))).otherwise(trimmed)


def stopword_hits(c: Column, words: list[str]) -> Column:
    """Total occurrences of any marker word — the lang-ID score."""
    pat = "|".join(words)
    return F.size(F.regexp_extract_all(F.lower(c), F.lit(rf"\b({pat})\b"), 0))


def fingerprint_md5(c: Column) -> Column:
    """Document fingerprint: md5 of the normalized text. Cross-engine stable
    (md5 is md5). The rolling/polynomial variant is in operators/textops.py."""
    return F.md5(normalize(c))


# GPT-2-style pretokenizer pattern, restricted to the Java∩RE2 regex
# subset (no lookahead, no contraction alternates): an optional leading
# space glues to the following letter/digit/punctuation run — the piece
# boundaries a byte-level BPE sees before merges. Works verbatim in both
# Spark (Java) and DuckDB (RE2) regexp_extract_all.
BPE_PIECE_RE = r" ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+|\s+"


def bpe_pieces(c: Column) -> Column:
    """Array of BPE-ish pretokenizer pieces (GPT-2 pattern, portable
    subset). Piece COUNT is the standard cheap proxy for tokenizer cost
    when the real merge table isn't available — pure regexp projection,
    no shuffle, no UDF."""
    return F.regexp_extract_all(c, F.lit(BPE_PIECE_RE), F.lit(0))


def bpe_piece_count(c: Column) -> Column:
    return F.size(bpe_pieces(c))


# --- sentence segmentation (X258) -----------------------------------------

# Abbreviations whose trailing period NEVER ends a sentence (pinned edge
# rule — "Mr. Smith" and a sentence genuinely ending in "etc." are
# undecidable without a language model; this segmenter picks the
# high-precision rule and documents it). Literal replace() keeps the
# protection engine-identical.
SENT_ABBREVS = [
    "Mr.", "Mrs.", "Ms.", "Dr.", "Prof.", "St.", "vs.", "etc.",
    "e.g.", "i.e.", "U.S.",
]
# private-use sentinels survive both engines' string literals untouched;
# they are STRIPPED from the input up front so adversarial text cannot
# forge a protected period or a split point (advisor r7)
SENT_PROT = "\ue000"   # a protected (non-terminal) period
SENT_MARK = "\ue001"   # an injected sentence delimiter
# a decimal point between digits is never a sentence end
SENT_DECIMAL_RE = r"([0-9])\.([0-9])"
# the Java\u2229RE2 whitespace subset, written out explicitly: Java's \s
# also matches \x0B (vertical tab) while RE2's does not, so a literal
# \s would diverge cross-engine on \x0B input (advisor r7) \u2014 the
# explicit class removes the one disagreement
SENT_WS = r"[ \t\n\f\r]"
# one-or-more terminators + whitespace ends a sentence ("What?! Really")
SENT_SPLIT_RE = r"([.!?]+)" + SENT_WS + "+"
SENT_TRIM_RE = "^" + SENT_WS + "+|" + SENT_WS + "+$"


def split_sentences(c: Column) -> Column:
    """Sentence segmentation as a pure projection (array<string>):
    strip the private-use sentinels from the input (so a document that
    happens to contain them cannot be corrupted — advisor r7), protect
    abbreviation periods (literal replaces) and decimal points
    (digit.digit), inject a delimiter after terminator runs followed by
    whitespace, split, restore periods, trim, drop empties. Every
    pattern is in the Java∩RE2 common subset: no lookaround (RE2 has
    none) and the explicit ``SENT_WS`` class instead of ``\\s`` (Java's
    ``\\s`` matches \\x0B, RE2's does not); only the backreference
    spelling differs ($1 vs \\1), which the oracle builder translates.
    Zero shuffle — scan-stage at any corpus size."""
    s = F.replace(
        F.replace(c, F.lit(SENT_PROT), F.lit("")),
        F.lit(SENT_MARK), F.lit(""),
    )
    for a in SENT_ABBREVS:
        s = F.replace(s, F.lit(a), F.lit(a.replace(".", SENT_PROT)))
    s = F.regexp_replace(s, SENT_DECIMAL_RE, "$1" + SENT_PROT + "$2")
    s = F.regexp_replace(s, SENT_SPLIT_RE, "$1" + SENT_MARK)
    arr = F.split(s, SENT_MARK)
    # regex trim, not trim(): both engines' trim() strips SPACES only,
    # which would let a \r/\t-only fragment survive as a whitespace
    # "sentence" (hypothesis-found)
    return F.filter(
        F.transform(
            arr,
            lambda x: F.regexp_replace(
                F.replace(x, F.lit(SENT_PROT), F.lit(".")),
                SENT_TRIM_RE,
                "",
            ),
        ),
        lambda x: x != "",
    )


# --- URL canonicalization (X270) -------------------------------------------
#
# Crawl dedup's first, cheapest pass: scheme/host case-folding, www. and
# default-port stripping, tracking-param removal, trailing-slash and
# fragment normalization — then exact dedup keyed on the canonical form.
# Every pattern is in the Java∩RE2 common subset (no lookaround; explicit
# classes), so the DuckDB oracle runs the SAME rules; the parts are
# extracted and rebuilt rather than edited in place (in-place editing
# needs lookahead RE2 lacks).
URL_SCHEME_RE = r"^([A-Za-z][A-Za-z0-9+.-]*)://"
URL_HOST_RE = r"^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)"
URL_PATH_RE = r"^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]+([^?#]*)"
# anchored to the pre-fragment prefix: a bare r"\?..." matched the first
# '?' ANYWHERE, so 'https://e.com/p#/route?tab=1' resurrected fragment
# content as query params instead of dropping it (advisor r8). The lazy
# ^[^#]*? prefix keeps the first real '?' before any '#' and is still in
# the Java∩RE2 common subset.
URL_QUERY_RE = r"^[^#]*?\?([^#]*)"
URL_WWW_RE = r"^www\."
URL_TRAIL_SLASH_RE = r"/+$"
# tracking params removed with their separator after a uniform '&' is
# prepended, so first-vs-middle position needs no special case
URL_TRACKING_RE = r"&(utm_[A-Za-z0-9_]+|gclid|fbclid)=[^&]*"


def canonicalize_url(c: Column) -> Column:
    """Canonical URL as a pure projection: lowercase scheme and host,
    strip ``www.``, strip the scheme's default port (:80 http / :443
    https), drop utm_*/gclid/fbclid params (others kept in original
    order — param ORDER is significant, sorting would conflate
    server-meaningful orderings), strip trailing path slashes, drop the
    fragment. Path and query case are preserved (case-sensitive by
    spec). Non-URL strings (no scheme://host) canonicalize to ''."""
    scheme = F.lower(F.regexp_extract(c, URL_SCHEME_RE, 1))
    hostport = F.lower(F.regexp_extract(c, URL_HOST_RE, 1))
    host = F.regexp_replace(hostport, URL_WWW_RE, "")
    host = F.when(
        (scheme == "http") & host.endswith(":80"),
        F.substring(host, 1, F.length(host) - 3),
    ).when(
        (scheme == "https") & host.endswith(":443"),
        F.substring(host, 1, F.length(host) - 4),
    ).otherwise(host)
    path = F.regexp_replace(
        F.regexp_extract(c, URL_PATH_RE, 1), URL_TRAIL_SLASH_RE, ""
    )
    q = F.regexp_replace(
        F.concat(F.lit("&"), F.regexp_extract(c, URL_QUERY_RE, 1)),
        URL_TRACKING_RE,
        "",
    )
    q = F.regexp_replace(q, r"^&", "")
    return F.when(
        (scheme == "") | (host == ""), F.lit("")
    ).otherwise(
        F.concat(
            scheme, F.lit("://"), host, path,
            F.when(q == "", F.lit("")).otherwise(F.concat(F.lit("?"), q)),
        )
    )
