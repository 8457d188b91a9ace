"""Text-analysis operators over the ``documents`` table: language ID,
quality scoring, token counting, fingerprinting (the training-data-pipeline
surface beyond the reference; BASELINE.json north star).

Everything is built-in-function composition (functions/text.py) with a SQL
twin, except the rolling-hash fingerprint which has no cross-engine hash —
it's pytest-verified instead (tests/test_text.py).

Determinism: ratios are exact-int divisions; the quality score is a fixed
left-to-right chain of IEEE ops mirrored verbatim in the oracle SQL.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.text import (
    LANG_MARKERS,
    fingerprint_md5,
    normalize,
    stopword_hits,
    tokens,
    word_ngrams,
)


def text_stats(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-document counting stats: tokens (whitespace+punct split), chars,
    alpha/digit/space char classes, average token length.

    Scale: narrow projection → per-row regexp work, no shuffle at all.
    """
    t = F.col(text_col)
    toks = tokens(t)
    n_alpha = F.length(F.regexp_replace(t, r"[^A-Za-z]", ""))
    n_digit = F.length(F.regexp_replace(t, r"[^0-9]", ""))
    n_space = F.length(F.regexp_replace(t, r"[^ \t\n]", ""))
    return df.select(
        F.col(id_col),
        F.length(t).cast("long").alias("n_chars"),
        F.size(toks).cast("long").alias("n_tokens"),
        n_alpha.cast("long").alias("n_alpha"),
        n_digit.cast("long").alias("n_digit"),
        n_space.cast("long").alias("n_space"),
        (n_alpha.cast("double") / F.length(t)).alias("alpha_ratio"),
        (
            (F.length(t) - n_space).cast("double")
            / F.greatest(F.size(toks), F.lit(1))
        ).alias("avg_token_len"),
    )


def quality_score(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    append: bool = False,
) -> DataFrame:
    """Heuristic quality in [0,1]: length signal, alpha ratio, stopword
    presence — the standard pretraining-filter trio (length/punct/stopword).

    score = 0.4*min(n_tokens,64)/64 + 0.3*alpha_ratio + 0.3*min(stop,16)/16
    (fixed evaluation order; oracle SQL mirrors the exact expression).
    ``append=True`` keeps the input columns (composition without a re-join).
    """
    t = F.col(text_col)
    n_tokens = F.size(tokens(t))
    stops = stopword_hits(t, LANG_MARKERS["en"])
    alpha_ratio = (
        F.length(F.regexp_replace(t, r"[^A-Za-z]", "")).cast("double") / F.length(t)
    )
    score = (
        F.lit(0.4) * (F.least(n_tokens, F.lit(64)).cast("double") / F.lit(64.0))
        + F.lit(0.3) * alpha_ratio
        + F.lit(0.3) * (F.least(stops, F.lit(16)).cast("double") / F.lit(16.0))
    )
    cols = [
        n_tokens.cast("long").alias("n_tokens"),
        stops.cast("long").alias("stop_hits"),
        score.alias("quality"),
    ]
    if append:
        return df.select("*", *cols)
    return df.select(F.col(id_col), *cols)


def lang_id(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    append: bool = False,
) -> DataFrame:
    """Marker-word language ID: count per-language stopword hits, argmax
    with fixed priority order (alphabetical) on ties — expressed as a
    deterministic CASE chain, identical in the oracle SQL.

    Scale: per-row regexp counting; no shuffle. At 100 TB swap the marker
    regexes for a broadcast n-gram profile table + map-side join if higher
    accuracy is needed — same plan shape.
    """
    t = F.col(text_col)
    langs = sorted(LANG_MARKERS)  # de, en, es, fr, zh — priority order
    hits = {lg: stopword_hits(t, LANG_MARKERS[lg]) for lg in langs}
    pred: Column = F.lit("und")
    # build reversed so earlier langs win ties: CASE de>=all THEN de ...
    expr = None
    for lg in langs:
        cond = None
        for other in langs:
            if other == lg:
                continue
            c = hits[lg] >= hits[other]
            cond = c if cond is None else (cond & c)
        branch = cond & (hits[lg] > 0)
        expr = F.when(branch, lg) if expr is None else expr.when(branch, lg)
    pred = expr.otherwise("und")
    cols = [
        *[hits[lg].cast("long").alias(f"hits_{lg}") for lg in langs],
        pred.alias("pred_lang"),
    ]
    if append:
        return df.select("*", *cols)
    return df.select(F.col(id_col), *cols)


def fingerprints(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Two fingerprints per doc:
    - ``fp_md5``  — md5 of normalized text (cross-engine, oracle-checked)
    - ``fp_roll`` — polynomial rolling hash over token xxhash64s modulo the
      Mersenne prime 2^31−1 (fold: h = (h*31 + (xxhash64(tok) mod p)) mod p).
      Modular form keeps every intermediate < 2^36, so it is ANSI-safe (no
      wrapping overflow) and streaming-incremental; pytest-verified (no
      cross-engine twin for xxhash64).
    """
    p = F.lit(2147483647).cast("long")
    toks = tokens(F.col(text_col))
    roll = F.aggregate(
        toks,
        F.lit(0).cast("long"),
        lambda acc, tok: (acc * F.lit(31) + F.pmod(F.xxhash64(tok), p)) % p,
    )
    return df.select(
        F.col(id_col),
        fingerprint_md5(F.col(text_col)).alias("fp_md5"),
        roll.alias("fp_roll"),
    )


def token_frequencies(
    df: DataFrame, text_col: str = "text", min_count: int = 1
) -> DataFrame:
    """Corpus-level token frequency table (the tokenizer-training primitive).

    Scale: explode → map-side partial count per token → single shuffle of
    (token, partial) — the canonical wordcount; skewed head tokens are
    absorbed by partial aggregation, not salting.
    """
    return (
        df.select(F.explode(tokens(F.col(text_col))).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("freq"))
        .filter(F.col("freq") >= min_count)
    )


def length_quantiles(
    df: DataFrame,
    text_col: str = "text",
    probs: tuple[float, ...] = (0.1, 0.5, 0.9, 0.99),
    approx: bool = False,
) -> DataFrame:
    """One-row token-count distribution profile (n_docs, min/max, one
    ``p<q>`` double per requested quantile) — the length histogram every
    corpus curation step consults before choosing truncation/packing
    lengths.

    ``approx=False``: exact ``percentile`` — linear interpolation on the
    sorted values, bit-identical to DuckDB's quantile_cont (the oracle
    twin). Exact percentile buffers the group's values, so it is the
    ≤10^8-rows path. ``approx=True``: ``percentile_approx`` — a mergeable
    one-pass sketch with bounded error, the 100 TB path (rows-only check:
    tests assert it brackets the exact answer).
    """
    nt = F.size(tokens(F.col(text_col))).cast("long").alias("nt")
    base = df.select(nt)
    fn = "percentile_approx" if approx else "percentile"
    plist = ", ".join(repr(p) for p in probs)
    qcols = [
        F.expr(f"{fn}(nt, array({plist}))")[i]
        .cast("double")
        .alias(f"p{int(p * 100)}")
        for i, p in enumerate(probs)
    ]
    return base.agg(
        F.count("*").alias("n_docs"),
        F.min("nt").alias("min_tokens"),
        F.max("nt").alias("max_tokens"),
        *qcols,
    )


def filter_top_quality(
    df: DataFrame,
    keep_frac: float = 0.25,
    id_col: str = "doc_id",
    text_col: str = "text",
    approx: bool = False,
) -> DataFrame:
    """Keep the top ``keep_frac`` of documents by quality score — the
    "train on the best quartile" curation step.

    Scale-correct form: compute the score threshold as ONE percentile
    aggregate and broadcast it as a scalar filter — never a global
    percent_rank window, which would sort the whole corpus on one
    ordering. Exact percentile (default) buffers scores per group (the
    ≤10^8-rows path, bit-identical to DuckDB's quantile_cont — the
    oracle); ``approx=True`` switches to the mergeable percentile_approx
    sketch for 100 TB. Ties at the threshold are kept (>=), so the kept
    fraction can slightly exceed keep_frac — deterministic either way.
    """
    scored = quality_score(
        df.select(id_col, text_col), id_col, text_col, append=True
    )
    fn = "percentile_approx" if approx else "percentile"
    thr = scored.agg(
        F.expr(f"{fn}(quality, {1.0 - keep_frac!r})").alias("__thr")
    )
    return (
        scored.crossJoin(F.broadcast(thr))
        .filter(F.col("quality") >= F.col("__thr"))
        .drop("__thr")
    )


def redact(
    df: DataFrame,
    pattern: str,
    mask: str = "<MASK>",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """PII / deny-list redaction: replace every match of ``pattern`` with
    ``mask`` and count the matches. The pre-training scrub step (emails,
    phone-number digit runs, deny-listed terms) as one narrow projection —
    per-row regexp work, zero shuffle, trivially parallel at 100 TB.

    Keep patterns to the regex intersection of Java and RE2 (character
    classes, alternation, bounded repeats, ``\\b``) so the DuckDB oracle
    computes the identical result; both engines replace ALL matches
    (Spark: regexp_replace default; DuckDB: 'g' flag).
    """
    t = F.col(text_col)
    return df.select(
        F.col(id_col),
        F.regexp_replace(t, pattern, mask).alias("clean_text"),
        F.size(F.regexp_extract_all(t, F.lit(pattern), 0))
        .cast("long")
        .alias("n_masked"),
    )


def repetition_stats(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", n: int = 3
) -> DataFrame:
    """Gopher-style repetition signals per document: most-frequent-bigram
    fraction and duplicate word-n-gram fraction — the standard filters for
    boilerplate / keyword-stuffed pages in pretraining curation (Rae et al.
    2021 §A1.1 use the same shape: top n-gram fraction + dup n-gram
    fraction).

    Outputs per doc: ``n_tokens``, ``n_bigrams``, ``top_bigram_cnt``,
    ``top_bigram_frac`` (top count / bigrams), ``dup_ngram_frac``
    (1 - distinct/total over word n-grams, emitted as the single division
    ``(total-distinct)/total``), NULL-guarded when a denominator is 0.

    Scale: per-document metrics must NOT shuffle — and none do. One Arrow
    ``mapInPandas`` pass: tokenize, shingle, and Counter each document in
    Python (the same shingle_sets_pandas trade — the same fold as
    higher-order functions over sorted bigram arrays, interpreted per
    element, measured 24.7 s at sf0.1 vs 1.5 s for this pass). The
    explode→groupBy(doc,bigram)→max alternative would shuffle every
    bigram of every document — never. Fractions are single Python float
    divisions — IEEE-identical to the DuckDB twin's ``::DOUBLE /``
    (plans/extended_ops._REPETITION_SQL; equality asserted in
    tests/test_temporal.py). N-gram edge semantics match
    functions.text.word_ngrams (<n tokens → one truncated shingle; zero
    tokens → [""]). NULL text yields NULL stats, like the SQL twin.
    """
    import re as _re

    from ..functions.text import TOKEN_SPLIT_RE

    split = _re.compile(TOKEN_SPLIT_RE)
    nn = n
    idc, txc = id_col, text_col

    def gen(batches):
        from collections import Counter

        import pandas as pd

        def shingles(toks, k):
            if not toks:
                return [""]
            m = max(len(toks) - (k - 1), 1)
            return [" ".join(toks[i : i + k]) for i in range(m)]

        for pdf in batches:
            if pdf.empty:
                continue
            rows = []
            for doc_id, text in zip(pdf[idc], pdf[txc]):
                if text is None:
                    rows.append((doc_id, None, None, None, None, None))
                    continue
                toks = [t for t in split.split(text.lower()) if t]
                bigrams = shingles(toks, 2)
                ngrams = shingles(toks, nn)
                top = max(Counter(bigrams).values())
                n_big, n_ng = len(bigrams), len(ngrams)
                rows.append(
                    (
                        doc_id,
                        len(toks),
                        n_big,
                        top,
                        top / n_big,
                        (n_ng - len(set(ngrams))) / n_ng,
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    idc,
                    "n_tokens",
                    "n_bigrams",
                    "top_bigram_cnt",
                    "top_bigram_frac",
                    "dup_ngram_frac",
                ],
            )

    id_type = df.schema[id_col].dataType.simpleString()
    return df.select(id_col, text_col).mapInPandas(
        gen,
        schema=(
            f"{id_col} {id_type}, n_tokens long, n_bigrams long, "
            "top_bigram_cnt long, top_bigram_frac double, dup_ngram_frac double"
        ),
    )


def tfidf_top_terms(
    df: DataFrame,
    k: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    cache_tf: bool = True,
) -> DataFrame:
    """Top-k characteristic terms per document by tf-idf.

    idf uses the BM25-flavored rational form ``(N - df + 0.5)/(df + 0.5)``
    instead of a logarithm: every step (int subtract, +0.5, one divide, one
    multiply) is a correctly-rounded IEEE op, so the score is bit-identical
    across engines — ``ln`` is NOT (libm vs Math.log differ in the last
    ulp), which would poison the oracle hash. Monotonic in the same
    direction as log-idf, so rankings match the textbook definition.

    Scale: one shuffle to (doc, term) counts; document frequencies are an
    aggregate OF that result (vocabulary ≪ corpus) and join back via
    broadcast; N is a one-row broadcast scalar. row_number per doc ordered
    by (score DESC, term ASC) — deterministic total order.
    """
    from pyspark.sql import Window

    toked = df.select(F.col(id_col), tokens(F.col(text_col)).alias("toks"))
    tf = (
        toked.select(id_col, F.explode("toks").alias("term"))
        .groupBy(id_col, "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    if cache_tf:
        # tf feeds BOTH the df aggregation and the final join — cache it or
        # the tokenize→explode→agg pipeline runs twice (measured 5.6 s →
        # 3.4 s at sf0.1). The cached relation lives until
        # catalog.clearCache()/unpersist (bench and driver clear per query);
        # long-lived sessions that can't should pass cache_tf=False.
        tf = tf.cache()
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n_docs = df.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "score",
            F.col("tf")
            * (
                ((F.col("n_docs") - F.col("df")).cast("double") + F.lit(0.5))
                / (F.col("df").cast("double") + F.lit(0.5))
            ),
        )
    )
    w = Window.partitionBy(id_col).orderBy(F.desc("score"), F.asc("term"))
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= k)
        .select(id_col, "term", "tf", "df", "score", "rnk")
    )


def dsir_weights(
    corpus: DataFrame,
    target: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 2,
    n_buckets: int = 1024,
) -> DataFrame:
    """DSIR-style importance weights (Xie et al. 2023, "Data Selection
    for Language Models via Importance Resampling"): score every corpus
    document by how much its hashed n-gram profile looks like the
    ``target`` sample relative to the corpus itself. High-score docs are
    the ones importance resampling keeps.

    Rational formulation (oracle-gateable): per document,
    ``score = Σ_g (target_count[h(g)] + 1)  /  Σ_g (corpus_count[h(g)] + 1)``
    over its n-gram OCCURRENCES g (add-one smoothing). Both sums are
    exact integer sums, the score one correctly-rounded division — no
    order-dependent float accumulation, unlike the paper's log-ratio
    sum, which remains the non-gated library option via
    ``F.log`` on the same counts.

    Scale: one tokenize+shingle pass per side; bucket hashing collapses
    the unbounded n-gram vocabulary to ``n_buckets`` rows, so both
    frequency tables broadcast (8 KB at 1024 buckets) — the per-doc
    scoring join is shuffle-free; the only shuffles are the two bucket
    count aggregates (map-side partials over ≤n_buckets keys) and the
    per-doc sum keyed by id.
    """
    def buckets(df: DataFrame) -> DataFrame:
        toked = df.select(
            F.col(id_col), tokens(F.col(text_col)).alias("toks")
        )
        grams = toked.select(
            F.col(id_col),
            F.explode(word_ngrams(F.col("toks"), n)).alias("ngram"),
        )
        return grams.select(
            F.col(id_col),
            F.pmod(
                F.conv(F.substring(F.md5("ngram"), 1, 8), 16, 10).cast("long"),
                F.lit(n_buckets),
            ).alias("bucket"),
        )

    corp = buckets(corpus).cache()
    s_counts = corp.groupBy("bucket").agg(F.count(F.lit(1)).alias("s_c"))
    t_counts = buckets(target).groupBy("bucket").agg(
        F.count(F.lit(1)).alias("t_c")
    )
    freq = s_counts.join(t_counts, "bucket", "left").select(
        "bucket", F.coalesce("t_c", F.lit(0)).alias("t_c"), "s_c"
    )
    scored = (
        corp.join(F.broadcast(freq), "bucket")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_ngrams"),
            F.sum(F.col("t_c") + 1).alias("num"),
            F.sum(F.col("s_c") + 1).alias("den"),
        )
    )
    return scored.select(
        F.col(id_col),
        "n_ngrams",
        (F.col("num").cast("double") / F.col("den").cast("double")).alias(
            "score"
        ),
    )


def token_counts_bpe(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Whitespace-token vs BPE-piece counts per document plus their ratio
    (pieces-per-word ≈ tokenizer fertility — the budget number a training
    pipeline actually bills by). Pure regexp projection, no shuffle."""
    from ..functions.text import bpe_piece_count, token_count

    t = F.col(text_col)
    nw = token_count(t).cast("long")
    nb = bpe_piece_count(t).cast("long")
    return df.select(
        F.col(id_col),
        nw.alias("n_tokens_ws"),
        nb.alias("n_tokens_bpe"),
        (
            nb.cast("double") / F.nullif(nw, F.lit(0)).cast("double")
        ).alias("fertility"),
    )


# ---------------------------------------------------------------------------
# Markup / boilerplate stripping (X131)
# ---------------------------------------------------------------------------

# (pattern, replacement) — applied in order. Strictly inside the Java∩RE2
# regex subset (inline (?is) flags, lazy .*?, char classes; no lookaround)
# so the DuckDB oracle evaluates the IDENTICAL patterns (with the 'g'
# flag — DuckDB replaces first-match-only by default, Java replaces all).
MARKUP_STEPS: list[tuple[str, str]] = [
    (r"(?is)<script[^>]*>.*?</script>", " "),  # executable content first
    (r"(?is)<style[^>]*>.*?</style>", " "),
    (r"(?s)<!--.*?-->", " "),                  # comments
    (r"(?s)<[^>]+>", " "),                     # any remaining tag
]

# plain string replaces (no regex): the entities worth decoding for text
# statistics; order matters — decoding &amp; FIRST would double-decode
# "&amp;lt;" into "<", so it goes last
HTML_ENTITIES: list[tuple[str, str]] = [
    ("&lt;", "<"),
    ("&gt;", ">"),
    ("&quot;", '"'),
    ("&#39;", "'"),
    ("&nbsp;", " "),
    ("&amp;", "&"),
]


def strip_markup(c: Column) -> Column:
    """HTML/markup → plain text: drop script/style bodies, comments, and
    tags; decode the common entities; collapse whitespace. The
    boilerplate-removal step every web-crawl pretraining pipeline runs
    before quality scoring (a page's markup would otherwise dominate its
    char/punct ratios).

    Pure column expression — rides the scan projection, zero shuffle,
    codegen'd regexp_replace chain. Not a parser: malformed nesting
    degrades to leftover text, never an error (the right failure mode
    for crawl data)."""
    for pat, rep in MARKUP_STEPS:
        c = F.regexp_replace(c, pat, rep)
    for a, b in HTML_ENTITIES:
        c = F.replace(c, F.lit(a), F.lit(b))
    return F.trim(F.regexp_replace(c, r"\s+", " "))


def oov_stats(
    df: DataFrame,
    vocab_size: int = 500,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Out-of-vocabulary rate per document against the corpus's own
    top-``vocab_size`` token vocabulary — the tokenizer-coverage screen a
    pretraining pipeline runs before committing to a vocab: documents
    with a high OOV rate against the candidate vocabulary either carry a
    script/language the tokenizer will shred into bytes, or are noise.

    Deterministic: the vocabulary is the top-V tokens by (count DESC,
    token ASC) — a total order, so the boundary tie is engine-stable —
    and the rate is an exact integer ratio divided once (NULLIF-guarded
    for token-less documents; ANSI-total).

    Scale: one shuffle to token counts; the vocabulary is
    TakeOrdered(V) of that aggregate (per-partition heaps, never a
    global sort) and joins back onto the token stream — vocabulary ≪
    corpus, so AQE broadcasts it locally and a warehouse hash-joins on
    the token; the per-doc re-aggregate rides the (doc, token)
    exchange. Documents with zero tokens are kept via the final left
    join (rate NULL, counts 0).
    """
    toked = df.select(F.col(id_col), F.explode(tokens(F.col(text_col))).alias("tok"))
    vocab = (
        toked.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), "tok")
        .limit(vocab_size)
        .select(F.col("tok").alias("vtok"))
    )
    per_doc = (
        toked.join(vocab, toked["tok"] == vocab["vtok"], "left")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.count(F.when(F.col("vtok").isNull(), 1)).alias("n_oov"),
        )
    )
    return (
        df.select(id_col)
        .join(per_doc, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_tokens", F.lit(0)).cast("long").alias("n_tokens"),
            F.coalesce("n_oov", F.lit(0)).cast("long").alias("n_oov"),
            (
                F.col("n_oov").cast("double")
                / F.nullif(F.col("n_tokens"), F.lit(0)).cast("double")
            ).alias("oov_rate"),
        )
    )


# --- Unicode normalization / mojibake screen (X271) -------------------------
#
# Real pretraining corpora need NFC normalization + double-encoding
# (UTF-8-read-as-Latin-1) repair BEFORE fingerprinting — 'café' in NFD,
# NFC, and mojibake forms are three different md5s for one document.
#
# The pinned repair alphabet: lowercase Latin-1-supplement letters, whose
# UTF-8 encodings read as Latin-1 are two PRINTABLE chars ('é' → 'Ã©').
# Uppercase À-ß is deliberately out of scope: its mojibake second byte
# lands in the C1 control block (0x80-0x9F), which survives no real
# text pipeline verbatim. The digraph ladder is the 100 TB fast path —
# literal JVM-side replaces, no Python in the hot loop; the whole-string
# charset round-trip lives in fix_mojibake_pandas for irregular cases.
MOJIBAKE_TARGETS = "àáâäåæçèéêëìíîïñòóôöøùúûüý"
# (mojibake_digraph, repaired_char); all digraphs start with 'Ã' (0xC3)
# and have distinct second chars, so the replace order is immaterial
MOJIBAKE_TABLE: list[tuple[str, str]] = [
    (c.encode("utf-8").decode("latin-1"), c) for c in MOJIBAKE_TARGETS
]


def fix_mojibake(c: Column) -> Column:
    """Repair UTF-8-read-as-Latin-1 digraphs from the pinned lowercase
    Latin-1-supplement alphabet — a literal replace ladder (scan-stage,
    JVM-side, zero Python) that the DuckDB oracle replays verbatim."""
    out = c
    for moj, fixed in MOJIBAKE_TABLE:
        out = F.replace(out, F.lit(moj), F.lit(fixed))
    return out


def nfc_normalize_col(c: Column) -> Column:
    """Unicode NFC via an Arrow-batched pandas UDF (Python unicodedata;
    Spark has no NFC builtin). DuckDB's twin is its native
    nfc_normalize() — both implement Unicode canonical composition, so
    they agree on every composed/decomposed sequence."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("string")
    def _nfc(s):  # pragma: no cover - executed on workers
        import unicodedata

        return s.map(
            lambda x: unicodedata.normalize("NFC", x)
            if x is not None else None
        )

    return _nfc(c)


def normalize_unicode(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(id, clean_text, was_mojibake, was_nfd, fingerprint) — the
    normalization screen a corpus runs before any dedup pass: repair
    pinned mojibake digraphs (ladder), then NFC-compose, then
    fingerprint the result (functions/text.fingerprint). Flags report
    which repairs fired so corpus telemetry can track encoding rot by
    source. Pure projection — no shuffle at any corpus size."""
    from ..functions.text import fingerprint_md5

    repaired = fix_mojibake(F.col(text_col))
    return df.select(
        F.col(id_col),
        F.col(text_col).alias("__orig"),
        repaired.alias("__rep"),
    ).select(
        id_col,
        nfc_normalize_col(F.col("__rep")).alias("clean_text"),
        (F.col("__rep") != F.col("__orig")).alias("was_mojibake"),
        F.col("__rep").alias("__rep"),
    ).select(
        id_col,
        "clean_text",
        "was_mojibake",
        (F.col("clean_text") != F.col("__rep")).alias("was_nfd"),
        fingerprint_md5(F.col("clean_text")).alias("fingerprint"),
    )


def fix_mojibake_roundtrip_pandas(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """The GENERAL mojibake repair (ftfy-lite): re-encode the whole
    string as Latin-1 and decode as UTF-8; keep the result only when the
    round-trip is valid AND shortens the text (every multi-byte repair
    does). Handles sequences outside the pinned ladder (combining marks,
    CJK) but is all-or-nothing per document — a string mixing real
    Latin-1-supplement chars with mojibake fails the round-trip and
    passes through unchanged (the ladder repairs those locally). Arrow
    pass; pytest-anchored (ladder ⊆ round-trip on the pinned alphabet)."""

    def gen(batches):
        import pandas as pd

        def fix(x):
            if x is None:
                return None
            try:
                rt = x.encode("latin-1").decode("utf-8")
            except (UnicodeEncodeError, UnicodeDecodeError):
                return x
            return rt if len(rt) < len(x) else x

        for pdf in batches:
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    text_col: [fix(x) for x in pdf[text_col]],
                }
            )

    return df.select(id_col, text_col).mapInPandas(
        gen, f"{id_col} long, {text_col} string"
    )


# ---------------------------------------------------------------------------
# BPE merge induction (X312) — tokenizer TRAINING, not just tokenization
# ---------------------------------------------------------------------------


def bpe_pair_counts(df: DataFrame, text_col: str = "text") -> DataFrame:
    """(left_sym, right_sym, pair_count) — adjacent-symbol pair
    frequencies over the corpus word-frequency table, the scoring
    kernel every BPE training iteration ranks merges by.

    Scale shape: the corpus collapses to the VOCAB first (one wordcount
    shuffle — token_frequencies), so the quadratic-looking pair
    explosion runs over vocab rows × word length, weighted by the
    frequency column, never over raw text again; the second shuffle
    aggregates (left, right) keys bounded by |alphabet|² per merge
    level. This is the standard trainer decomposition (word-level
    pre-count + weighted pair counts), not a per-document scan."""
    wf = token_frequencies(df, text_col)
    syms = wf.select(
        "freq",
        F.regexp_extract_all(
            F.col("token"), F.lit("."), F.lit(0)
        ).alias("syms"),
    ).filter(F.size("syms") > 1)
    pairs = syms.select(
        "freq",
        F.explode(
            F.zip_with(
                F.slice(F.col("syms"), 1, F.size("syms") - 1),
                F.slice(F.col("syms"), 2, F.size("syms") - 1),
                lambda l, r: F.struct(l.alias("l"), r.alias("r")),
            )
        ).alias("p"),
    )
    return pairs.groupBy(
        F.col("p.l").alias("left_sym"), F.col("p.r").alias("right_sym")
    ).agg(F.sum("freq").cast("long").alias("pair_count"))


def _apply_merge(syms: Column, left: str, right: str) -> Column:
    """One BPE merge applied to a symbol array — the left-to-right
    non-overlapping replacement of (left, right) by their concat, as a
    sequential ``aggregate`` fold (state = output-so-far + one pending
    symbol; a merge consumes the pending slot so "aaa" under (a,a)
    merges once, exactly the reference trainer's rule). Stays a JVM
    higher-order function: no UDF, no shuffle."""
    init = F.struct(
        F.array().cast("array<string>").alias("out"),
        F.lit("").alias("prev"),
    )
    step = lambda acc, s: F.when(  # noqa: E731
        (acc["prev"] == F.lit(left)) & (s == F.lit(right)),
        F.struct(
            F.concat(
                acc["out"], F.array(F.concat(acc["prev"], s))
            ).alias("out"),
            F.lit("").alias("prev"),
        ),
    ).otherwise(
        F.struct(
            F.when(
                acc["prev"] == F.lit(""), acc["out"]
            ).otherwise(
                F.concat(acc["out"], F.array(acc["prev"]))
            ).alias("out"),
            s.alias("prev"),
        )
    )
    fin = lambda acc: F.when(  # noqa: E731
        acc["prev"] == F.lit(""), acc["out"]
    ).otherwise(F.concat(acc["out"], F.array(acc["prev"])))
    return F.aggregate(syms, init, step, fin)


def bpe_train(
    df: DataFrame, n_merges: int, text_col: str = "text"
) -> list[tuple[str, str, int]]:
    """Learn ``n_merges`` BPE merges over the corpus: per iteration,
    weighted pair counts over the current vocab segmentation → argmax
    (count desc, then lexicographic — the deterministic tie rule) →
    apply the merge to every vocab word. Returns [(left, right,
    pair_count), ...] in merge order.

    Distribution contract: each iteration is one pair-count aggregate
    over the VOCAB table (never the corpus — words are pre-counted
    once) plus one zero-shuffle fold projection applying the winning
    merge; the only driver data is the 1-row argmax and the growing
    merge list. The vocab frame is re-materialized (localCheckpoint)
    every few merges so lineage doesn't nest ``n_merges`` folds deep —
    the g4_pagerank fixed-point discipline."""
    if n_merges < 1:
        raise ValueError("n_merges must be >= 1")
    wf = token_frequencies(df, text_col)
    vocab = wf.select(
        "freq",
        F.regexp_extract_all(
            F.col("token"), F.lit("."), F.lit(0)
        ).alias("syms"),
    )
    merges: list[tuple[str, str, int]] = []
    for i in range(n_merges):
        pairs = (
            vocab.filter(F.size("syms") > 1)
            .select(
                "freq",
                F.explode(
                    F.zip_with(
                        F.slice(F.col("syms"), 1, F.size("syms") - 1),
                        F.slice(F.col("syms"), 2, F.size("syms") - 1),
                        lambda l, r: F.struct(l.alias("l"), r.alias("r")),
                    )
                ).alias("p"),
            )
            .groupBy(
                F.col("p.l").alias("l"), F.col("p.r").alias("r")
            )
            .agg(F.sum("freq").cast("long").alias("c"))
        )
        top = pairs.orderBy(F.desc("c"), "l", "r").take(1)
        if not top:
            break
        l, r, c = top[0]["l"], top[0]["r"], top[0]["c"]
        merges.append((l, r, int(c)))
        vocab = vocab.select(
            "freq", _apply_merge(F.col("syms"), l, r).alias("syms")
        )
        if (i + 1) % 4 == 0:
            vocab = vocab.localCheckpoint(eager=False)
    return merges
