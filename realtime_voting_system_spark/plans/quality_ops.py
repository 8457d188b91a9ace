"""Rule-based data-quality gate (X128) — the expectations pattern
(Great-Expectations-style): a declarative rule set evaluated in ONE scan,
emitting per-rule violation counts and pass rates.

The reference's only data-quality mechanism is Postgres constraints
rejecting bad inserts (setup_database.py:103-105); a 100 TB lake has no
such gate — batch expectation checks run before data is admitted. Each
rule is a boolean column expression, so N rules cost one pass of
conditional counts (map-side partials, one 1-row-per-rule result), never
N scans.

Complements dq_profile (X51: what the data looks like) and dq_drift
(X95: how it changed): this is the pass/fail admission gate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .parity import _t, query
from ..sources.io import scratch_dir as _scratch_dir

# (rule_name, SQL predicate that VIOLATING rows fail) — shared verbatim by
# the Spark evaluator (F.expr) and the DuckDB oracle: one ANSI text, two
# engines, so the gate itself is oracle-gated.
_RULES: list[tuple[str, str]] = [
    ("quantity_in_range", "l_quantity >= 1 AND l_quantity <= 50"),
    ("price_positive", "l_extendedprice > 0"),
    ("discount_in_unit", "l_discount >= 0.0 AND l_discount <= 0.1"),
    ("tax_non_negative", "l_tax >= 0.0"),
    ("ship_after_1994", "l_shipdate >= TIMESTAMP '1995-01-01'"),
    ("flag_in_domain", "l_returnflag IN ('A', 'N', 'R')"),
    ("status_in_domain", "l_linestatus IN ('O', 'F')"),
    ("orderkey_present", "l_orderkey IS NOT NULL"),
]

# NULL predicate = failed check on BOTH sides: `NOT (pred)` alone would
# skip NULL rows (NOT NULL is NULL, never TRUE), so violations are
# counted as total − passes — mechanically consistent with pass_rate and
# with the Spark evaluator's coalesce-to-False.
_DQ_CHECKS_SQL = (
    "SELECT * FROM (\n"
    + "\nUNION ALL\n".join(
        f"SELECT '{name}' AS rule, COUNT(*) AS n_rows,\n"
        f"       CAST(COUNT(*) - COUNT(*) FILTER (WHERE ({pred})) AS BIGINT)"
        f" AS n_violations,\n"
        f"       CAST(COUNT(*) FILTER (WHERE ({pred})) AS DOUBLE)"
        f" / COUNT(*) AS pass_rate\n"
        "FROM lineitem"
        for name, pred in _RULES
    )
    + "\n)"
)


def expectation_report(
    df: DataFrame, rules: list[tuple[str, str]]
) -> DataFrame:
    """Evaluate every rule in one conditional-count aggregate, then
    unpivot to one row per rule — the shared implementation in
    operators/expectations.py (also the streaming monitor's engine, so
    the NULL-as-violation contract can't fork). One scan, one 1-row
    aggregate, one stack() over it."""
    from ..operators.expectations import rule_aggs, rule_report

    return rule_report(df.agg(*rule_aggs(rules)), rules)


@query("dq_checks", _DQ_CHECKS_SQL)
def dq_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Expectation gate over lineitem: 8 domain/range/presence rules,
    each row of output = (rule, total, violations, pass_rate). The rule
    predicates are shared ANSI text between the Spark evaluator and the
    oracle (the sql1_shared_ansi principle applied to a rule engine).
    The oracle's UNION ALL re-scans per rule; the Spark plan reads the
    table ONCE — same answer, one-pass cost."""
    li = _t(spark, sf_dir, "lineitem")
    return expectation_report(li, _RULES)


# ---------------------------------------------------------------------------
# X131 — markup/boilerplate stripping (crawl-page cleanup)
# ---------------------------------------------------------------------------

# Literal crawl-page fixtures (the testdata corpus is plain tokens, so the
# markup cases ride a VALUES table — the j10_range_join literal-table
# pattern). Newlines/quotes force the E'' escape form in the oracle.
_PAGES: list[tuple[int, str]] = [
    (1, "<html><head><title>T</title><style>.x{color:red}</style>"
        "<script>var a = 1 < 2;</script></head><body>"
        "<h1>Data &amp; Scale</h1><p>Hello <b>world</b>, 5 &lt; 6.</p>"
        "<!-- nav boilerplate --></body></html>"),
    (2, "plain text no markup at all"),
    (3, "<div class=\"a\"\n data-x=\"1\">multi\nline <br/> tag</div>&nbsp;done"),
    (4, "<script>\nwhile(true) {}\n</script>kept<SCRIPT>x</SCRIPT>also kept"),
    (5, "<p>unclosed paragraph <em>emphasis"),
    (6, "&quot;quoted&quot; &#39;single&#39; &amp;amp; raw"),
]


def _sql_str(s: str) -> str:
    """DuckDB E'' escape-string literal (plain '' literals keep backslashes
    and cannot hold newlines portably)."""
    return (
        "E'"
        + s.replace("\\", "\\\\").replace("'", "\\'").replace("\n", "\\n")
        + "'"
    )


def _strip_markup_sql() -> str:
    from ..operators.textops import HTML_ENTITIES, MARKUP_STEPS

    expr = "html"
    for pat, rep in MARKUP_STEPS:
        expr = f"regexp_replace({expr}, {_sql_str(pat)}, '{rep}', 'g')"
    for a, b in HTML_ENTITIES:
        expr = f"replace({expr}, {_sql_str(a)}, {_sql_str(b)})"
    expr = f"trim(regexp_replace({expr}, '\\s+', ' ', 'g'))"
    vals = ", ".join(f"({i}, {_sql_str(h)})" for i, h in _PAGES)
    return f"""
WITH pages(page_id, html) AS (VALUES {vals}),
cleaned AS (SELECT CAST(page_id AS BIGINT) AS page_id, {expr} AS clean_text
            FROM pages)
SELECT page_id, clean_text,
       CAST(len(list_filter(regexp_split_to_array(lower(clean_text),
            '[^a-z0-9]+'), t -> t != '')) AS BIGINT) AS n_tokens
FROM cleaned
"""


@query("text_strip_markup", _strip_markup_sql())
def text_strip_markup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markup/boilerplate removal (operators/textops.strip_markup): drop
    script/style bodies, comments, and tags, decode entities, collapse
    whitespace — then count the surviving tokens with the shared
    tokenizer. Patterns are one Java∩RE2 text evaluated by BOTH engines
    (the text_redact portability contract); the multiline/case/lazy
    quantifier semantics ((?is), .*?) are what the fixtures exercise.
    Zero shuffle — a scan-stage projection at any corpus size."""
    from ..functions.text import token_count
    from ..operators.textops import strip_markup

    pages = spark.createDataFrame(_PAGES, "page_id long, html string")
    return pages.select(
        "page_id",
        strip_markup(F.col("html")).alias("clean_text"),
    ).select(
        "page_id",
        "clean_text",
        token_count(F.col("clean_text")).cast("long").alias("n_tokens"),
    )


# ---------------------------------------------------------------------------
# X258 — sentence segmentation (the chunking precursor text op)
# ---------------------------------------------------------------------------

# Literal fixtures (the j10/X131 VALUES pattern — testdata documents are
# punctuation-free tokens, the builder's R7 note) pinning every edge
# rule: abbreviation periods (incl. sentence-final "etc."), decimals and
# dotted version strings, terminator runs (?!), terminator-without-
# whitespace NOT splitting, newline/tab whitespace, unterminated tails.
_SENT_DOCS: list[tuple[int, str]] = [
    (1, "Dr. Smith went home. He slept soundly! Was it late?"),
    (2, "Pi is 3.14. Euler's e is 2.718, i.e. transcendental."),
    (3, "What?!  Really?No split without whitespace."),
    (4, "Visit the U.S. next fall, e.g. in October. Mr. Lee agrees. "
        "trailing fragment"),
    (5, "One sentence only"),
    (6, "Multi.\nLine. Breaks\ttabbed? Yes."),
    (7, "Version 1.2.3 shipped. Cost $3.50. Done."),
    (8, "???"),
    (9, "He cited Smith et al., etc. Then he stopped."),
]


def _sentences_sql() -> str:
    from ..functions.text import (
        SENT_ABBREVS,
        SENT_DECIMAL_RE,
        SENT_MARK,
        SENT_PROT,
        SENT_SPLIT_RE,
        SENT_TRIM_RE,
    )

    # sentinel strip mirrors the Spark side (advisor r7)
    expr = (
        f"replace(replace(txt, {_sql_str(SENT_PROT)}, ''), "
        f"{_sql_str(SENT_MARK)}, '')"
    )
    for a in SENT_ABBREVS:
        prot = a.replace(".", SENT_PROT)
        expr = f"replace({expr}, {_sql_str(a)}, {_sql_str(prot)})"
    rep_dec = "\\1" + SENT_PROT + "\\2"
    rep_mark = "\\1" + SENT_MARK
    expr = (
        f"regexp_replace({expr}, {_sql_str(SENT_DECIMAL_RE)}, "
        f"{_sql_str(rep_dec)}, 'g')"
    )
    expr = (
        f"regexp_replace({expr}, {_sql_str(SENT_SPLIT_RE)}, "
        f"{_sql_str(rep_mark)}, 'g')"
    )
    # regex trim mirrors the Spark side (plain trim strips spaces only);
    # SENT_TRIM_RE is the shared explicit-class pattern (no \s — Java
    # and RE2 disagree on \x0B)
    arr = (
        f"list_filter(list_transform(string_split({expr}, "
        f"{_sql_str(SENT_MARK)}), "
        f"x -> regexp_replace(replace(x, {_sql_str(SENT_PROT)}, '.'), "
        f"{_sql_str(SENT_TRIM_RE)}, '', 'g')), "
        f"x -> x != '')"
    )
    vals = ", ".join(f"({i}, {_sql_str(t)})" for i, t in _SENT_DOCS)
    return rf"""
WITH docs(doc_id, txt) AS (VALUES {vals}),
a AS (SELECT CAST(doc_id AS BIGINT) AS doc_id, {arr} AS arr FROM docs),
x AS (SELECT doc_id, arr, unnest(range(0, len(arr))) AS i FROM a)
SELECT doc_id, CAST(i AS BIGINT) AS sentence_idx, arr[i + 1] AS sentence,
       CAST(len(list_filter(regexp_split_to_array(lower(arr[i + 1]),
            '[^a-z0-9]+'), t -> t != '')) AS BIGINT) AS n_tokens
FROM x
"""


@query("text_sentences", _sentences_sql())
def text_sentences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sentence segmentation (functions/text.split_sentences), the
    chunking-precursor text op: protect abbreviation periods (literal
    replaces — pinned rule: an abbreviation period NEVER ends a
    sentence, even sentence-final "etc.") and digit.digit decimal
    points, inject a delimiter after terminator-run + whitespace, split,
    restore, trim, drop empties. Every pattern is in the Java∩RE2
    subset (no lookaround — RE2 has none), so both engines run the SAME
    rules; only the backref spelling differs ($1 vs \\1). One row per
    (doc, sentence) with its index and token count; zero shuffle — a
    scan-stage fan-out at any corpus size."""
    from ..functions.text import split_sentences, token_count

    docs = spark.createDataFrame(_SENT_DOCS, "doc_id long, txt string")
    return docs.select(
        "doc_id",
        F.posexplode(split_sentences(F.col("txt"))).alias(
            "sentence_idx", "sentence"
        ),
    ).select(
        "doc_id",
        F.col("sentence_idx").cast("long").alias("sentence_idx"),
        "sentence",
        token_count(F.col("sentence")).cast("long").alias("n_tokens"),
    )


# ---------------------------------------------------------------------------
# X133 — dataset card: the corpus summary a dataset release ships with
# ---------------------------------------------------------------------------

_CARD_QUALITY_T = 0.55


def _dataset_card_sql() -> str:
    from ..functions.text import LANG_MARKERS
    from .sql_fragments import _lang_hits_sql

    langs = sorted(LANG_MARKERS)
    hits = ",\n         ".join(
        _lang_hits_sql(lg, LANG_MARKERS[lg]) for lg in langs
    )
    branches = []
    for lg in langs:
        conds = [f"hits_{lg} >= hits_{o}" for o in langs if o != lg]
        conds.append(f"hits_{lg} > 0")
        branches.append(f"WHEN {' AND '.join(conds)} THEN '{lg}'")
    lang_case = "CASE " + " ".join(branches) + " ELSE 'und' END"
    return rf"""
WITH f AS (
  SELECT doc_id, source,
         len(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
             t -> t != ''))::BIGINT AS n_tokens,
         len(regexp_extract_all(lower(text), '\b(the|and|of|to|is)\b'))::BIGINT
           AS stop_hits,
         length(regexp_replace(text, '[^A-Za-z]', '', 'g'))::DOUBLE
           / length(text) AS alpha_ratio,
         {hits},
         md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp
  FROM documents
), s AS (
  SELECT doc_id, source, n_tokens, fp, {lang_case} AS pred_lang,
         0.4::DOUBLE * (least(n_tokens, 64)::DOUBLE / 64.0::DOUBLE)
         + 0.3::DOUBLE * alpha_ratio
         + 0.3::DOUBLE * (least(stop_hits, 16)::DOUBLE / 16.0::DOUBLE)
           AS quality
  FROM f
), c AS (
  SELECT fp, COUNT(*) AS n_copies FROM s GROUP BY fp
), j AS (
  SELECT s.*, c.n_copies FROM s JOIN c USING (fp)
), card AS (
  SELECT source,
         COUNT(*) AS n_docs,
         CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
         CAST(COUNT(*) FILTER (WHERE n_copies > 1) AS BIGINT) AS n_dup_docs,
         CAST(COUNT(*) FILTER (WHERE quality >= CAST({_CARD_QUALITY_T} AS DOUBLE))
              AS BIGINT) AS n_quality_pass
  FROM j GROUP BY source
), lm AS (
  SELECT source, pred_lang, COUNT(*) AS cnt FROM s GROUP BY 1, 2
), top AS (
  SELECT source, MIN(pred_lang) AS top_lang FROM (
    SELECT source, pred_lang, cnt,
           MAX(cnt) OVER (PARTITION BY source) AS mx
    FROM lm
  ) WHERE cnt = mx GROUP BY source
)
SELECT card.*, top.top_lang FROM card JOIN top USING (source)
"""


@query("pipeline_dataset_card", _dataset_card_sql())
def pipeline_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset card: the per-source release summary — document and token
    counts, duplication involvement (docs whose exact fingerprint occurs
    more than once corpus-wide), quality pass rate at the pretraining
    threshold, and dominant language (mode, alphabetical min on ties —
    the a18 deterministic-mode rule).

    One fused scan projection computes tokens+quality+lang+fingerprint
    for every doc (the pipeline_clean_corpus fusion pattern — no
    per-scorer joins); the only shuffles are the fingerprint count, the
    keyed join back, and two tiny per-source aggregates. This is the
    report every corpus snapshot publishes alongside its shards."""
    from ..functions.text import fingerprint_md5
    from ..operators import textops

    docs = _t(spark, sf_dir, "documents").select("doc_id", "source", "text")
    scored = textops.lang_id(
        textops.quality_score(docs, append=True), append=True
    ).withColumn("fp", fingerprint_md5(F.col("text")))
    fpc = scored.groupBy("fp").agg(F.count(F.lit(1)).alias("n_copies"))
    j = scored.join(fpc, "fp")
    card = j.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("total_tokens"),
        F.sum(F.when(F.col("n_copies") > 1, 1).otherwise(0))
        .cast("long")
        .alias("n_dup_docs"),
        F.sum(F.when(F.col("quality") >= _CARD_QUALITY_T, 1).otherwise(0))
        .cast("long")
        .alias("n_quality_pass"),
    )
    lm = scored.groupBy("source", "pred_lang").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    from pyspark.sql.window import Window

    top = (
        lm.withColumn(
            "mx", F.max("cnt").over(Window.partitionBy("source"))
        )
        .filter(F.col("cnt") == F.col("mx"))
        .groupBy("source")
        .agg(F.min("pred_lang").alias("top_lang"))
    )
    return card.join(top, "source")


# ---------------------------------------------------------------------------
# X142 — CSV sink/read round-trip fidelity (S7 under the oracle gate)
# ---------------------------------------------------------------------------

_CSV_RT_SQL = """
SELECT o_orderstatus,
       COUNT(*) AS n_orders,
       MIN(o_orderdate) AS first_dt,
       MAX(o_totalprice) AS max_price
FROM orders
GROUP BY o_orderstatus
"""


@query("s10_csv_roundtrip", _CSV_RT_SQL)
def s10_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV sink fidelity as a correctness gate: the Spark side writes the
    orders projection through the S7 CSV sink (app.py:373's export) and
    reads it BACK with the explicit schema, then aggregates; the oracle
    aggregates straight from parquet. A green hash proves the
    text round-trip loses nothing — timestamps survive the default
    format and doubles survive Java's round-trip-safe Double.toString →
    parse. The write lands in a per-run temp dir that is DELETED before
    returning (the read-back is pinned with an eager localCheckpoint, so
    the returned plan no longer references the files — otherwise every
    sweep/bench invocation would leak a full CSV copy into /tmp)."""
    import shutil

    from pyspark.sql.types import (
        DoubleType,
        StringType,
        StructField,
        StructType,
        TimestampNTZType,
    )

    from ..sources import io as rio

    orders = _t(spark, sf_dir, "orders").select(
        "o_orderstatus", "o_orderdate", "o_totalprice"
    )
    path = _scratch_dir(prefix="csv_rt_")
    schema = StructType(
        [
            StructField("o_orderstatus", StringType()),
            StructField("o_orderdate", TimestampNTZType()),
            StructField("o_totalprice", DoubleType()),
        ]
    )
    try:
        rio.write(orders, path, fmt="csv")
        back = rio.read(spark, path, fmt="csv", schema=schema)
        back = back.localCheckpoint(eager=True)  # materialize off the files
    finally:
        shutil.rmtree(path, ignore_errors=True)
    return back.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.min("o_orderdate").alias("first_dt"),
        F.max("o_totalprice").alias("max_price"),
    )


# ---------------------------------------------------------------------------
# X164 — k-anonymity audit (privacy screen over quasi-identifiers)
# ---------------------------------------------------------------------------

_K_ANON_K = 5

_K_ANON_SQL = f"""
SELECT c_nationkey, c_mktsegment,
       CAST(COUNT(*) AS BIGINT) AS group_size,
       COUNT(*) < {_K_ANON_K} AS at_risk
FROM customer
GROUP BY 1, 2
"""


@query("dq_k_anonymity", _K_ANON_SQL)
def dq_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit: every quasi-identifier combination
    (nationkey × market segment) with its group size and an at_risk flag
    for groups smaller than k={k} — the standard pre-release privacy
    screen for a training corpus carrying user attributes. One
    hash-aggregate on a bounded key domain; at 100 TB the QI columns are
    the only bytes shuffled (map-side partial counts)."""
    cust = _t(spark, sf_dir, "customer").select(
        "c_nationkey", "c_mktsegment"
    )
    return cust.groupBy("c_nationkey", "c_mktsegment").agg(
        F.count(F.lit(1)).alias("group_size")
    ).withColumn("at_risk", F.col("group_size") < F.lit(_K_ANON_K))


dq_k_anonymity.__doc__ = dq_k_anonymity.__doc__.format(k=_K_ANON_K)


# ---------------------------------------------------------------------------
# X165 — corpus snapshot diff (dataset-version change audit)
# ---------------------------------------------------------------------------

_SNAP_DIFF_SQL = """
WITH a AS (
  SELECT doc_id, md5(text) AS fp FROM documents WHERE doc_id % 3 != 0
), b AS (
  SELECT doc_id,
         md5(CASE WHEN doc_id % 7 = 0 THEN text || ' [edited]'
                  ELSE text END) AS fp
  FROM documents WHERE doc_id % 5 != 0
)
SELECT COALESCE(a.doc_id, b.doc_id) AS doc_id,
       CASE WHEN a.fp IS NULL THEN 'added'
            WHEN b.fp IS NULL THEN 'removed'
            WHEN a.fp != b.fp THEN 'changed'
            ELSE 'unchanged' END AS status
FROM a FULL OUTER JOIN b ON a.doc_id = b.doc_id
"""


@query("corpus_snapshot_diff", _SNAP_DIFF_SQL)
def corpus_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset-version diff: per document, whether the new corpus
    snapshot added / removed / changed / kept it — the audit every
    training-data release pipeline runs between crawls. Snapshots are
    carved deterministically from the shared corpus (mod-filters; the
    'edited' suffix simulates in-place changes) identically in both
    engines; the diff itself is the production shape — content
    fingerprints compared through ONE full-outer join on doc_id. At
    100 TB the shuffle carries (doc_id, 16-byte fingerprint), never the
    body, and co-partitioning both snapshots on doc_id (bucketed
    layout) drops even that exchange."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    a = docs.filter(F.col("doc_id") % 3 != 0).select(
        F.col("doc_id").alias("a_id"), F.md5("text").alias("fp_a")
    )
    b_text = F.when(
        F.col("doc_id") % 7 == 0, F.concat(F.col("text"), F.lit(" [edited]"))
    ).otherwise(F.col("text"))
    b = docs.filter(F.col("doc_id") % 5 != 0).select(
        F.col("doc_id").alias("b_id"), F.md5(b_text).alias("fp_b")
    )
    j = a.join(b, a["a_id"] == b["b_id"], "full_outer")
    status = (
        F.when(F.col("fp_a").isNull(), "added")
        .when(F.col("fp_b").isNull(), "removed")
        .when(F.col("fp_a") != F.col("fp_b"), "changed")
        .otherwise("unchanged")
    )
    return j.select(
        F.coalesce(F.col("a_id"), F.col("b_id")).alias("doc_id"),
        status.alias("status"),
    )


# ---------------------------------------------------------------------------
# X187 — df.observe() pipeline instrumentation (free metrics at scale)
# ---------------------------------------------------------------------------

_OBSERVE_SQL = """
SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CASE WHEN l_quantity > 45 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_high_qty,
       CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT)
         AS n_returned,
       CAST(SUM(l_orderkey % 97) AS BIGINT) AS checksum
FROM lineitem
"""


@query("dq_observe", _OBSERVE_SQL)
def dq_observe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``df.observe()`` — exact metrics collected AS A SIDE EFFECT of a
    query the pipeline was running anyway (here: a pass over lineitem),
    surfaced through the Observation API. At 100 TB this is how
    admission pipelines self-instrument: zero extra scans, metrics
    materialize with the action, and the numbers are exact aggregates —
    so the whole instrumentation surface sits under the value-hash gate
    (the observed map is returned as the result and must equal the
    oracle's direct aggregation). Complements dq_checks (the gate that
    FILTERS) — observe is the gauge that never touches the data path."""
    from pyspark.sql import Observation

    li = _t(spark, sf_dir, "lineitem")
    obs = Observation("dq")
    observed = li.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(
            F.when(F.col("l_quantity") > 45, 1).otherwise(0)
        ).cast("long").alias("n_high_qty"),
        F.sum(
            F.when(F.col("l_returnflag") == "R", 1).otherwise(0)
        ).cast("long").alias("n_returned"),
        F.sum(F.col("l_orderkey") % 97).cast("long").alias("checksum"),
    )
    # the action the pipeline was running anyway; metrics ride along
    observed.write.format("noop").mode("overwrite").save()
    m = obs.get
    return spark.createDataFrame(
        [(m["n_rows"], m["n_high_qty"], m["n_returned"],
          m["checksum"])],
        "n_rows bigint, n_high_qty bigint, n_returned bigint, "
        "checksum bigint",
    )


# ---------------------------------------------------------------------------
# X202 — Benford first-digit screen (fraud/synthetic-data detector)
# ---------------------------------------------------------------------------

# log10(1 + 1/d), d = 1..9 — inlined as IDENTICAL literals in both
# engines (computing log10 at runtime would differ in the last ulp
# between libm and java.lang.Math)
_BENFORD = {
    1: "0.3010299956639812",
    2: "0.17609125905568124",
    3: "0.12493873660829992",
    4: "0.09691001300805642",
    5: "0.07918124604762482",
    6: "0.06694678963061322",
    7: "0.05799194697768673",
    8: "0.05115252244738129",
    9: "0.04575749056067514",
}

# first significant digit WITHOUT log10/string-casts: a fixed CASE
# ladder of correctly-rounded IEEE multiply/divide + floor — identical
# in both engines for any double (double→string formatting is NOT
# engine-portable; log10 is NOT ulp-portable)
_FSD = """CASE
  WHEN v >= 100   THEN floor(v / 100)
  WHEN v >= 10    THEN floor(v / 10)
  WHEN v >= 1     THEN floor(v)
  WHEN v >= 0.1   THEN floor(v * 10)
  WHEN v >= 0.01  THEN floor(v * 100)
  WHEN v >= 0.001 THEN floor(v * 1000)
  ELSE floor(v * 10000) END"""

_BENFORD_EXP_SQL = "CASE " + " ".join(
    f"WHEN digit = {d} THEN CAST({lit} AS DOUBLE)"
    for d, lit in _BENFORD.items()
) + " END"

_BENFORD_SQL = f"""
WITH pos AS (
  SELECT CAST(value AS DOUBLE) AS v FROM events WHERE value >= 0.0001
    AND value < 1000
), d AS (
  SELECT CAST({_FSD} AS BIGINT) AS digit FROM pos
), agg AS (
  SELECT digit, COUNT(*) AS n FROM d GROUP BY 1
), t AS (SELECT SUM(n) AS tot FROM agg)
SELECT digit, CAST(n AS BIGINT) AS n_values,
       CAST(n AS DOUBLE) / CAST(tot AS DOUBLE) AS observed_share,
       {_BENFORD_EXP_SQL} AS expected_share
FROM agg, t
"""


@query("dq_benford", _BENFORD_SQL)
def dq_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-significant-digit screen — the classic
    synthetic/fabricated-numbers detector a data-quality pipeline runs
    over monetary/measure columns. Engine-portability is the whole
    design: the first digit comes from a fixed CASE ladder of
    correctly-rounded IEEE ops (log10 differs in the last ulp between
    libm and Math.log10; double→string formatting differs between
    engines — both are banned here), the expected shares are pinned
    literals, and the observed share is an exact integer ratio divided
    once. One scan, one hash aggregate, 9-row output; the domain guard
    (0 < v < 1000) matches the ladder's rungs and is part of the
    contract, not a hidden assumption."""
    # the guard's bounds equal the ladder's outermost rungs: a value
    # below 1e-4 would fall off the last rung and emit digit 0
    pos = (
        _t(spark, sf_dir, "events")
        .filter((F.col("value") >= 0.0001) & (F.col("value") < 1000))
        .select(F.col("value").cast("double").alias("v"))
    )
    d = pos.select(F.expr(_FSD).cast("long").alias("digit"))
    agg = d.groupBy("digit").agg(F.count(F.lit(1)).alias("n"))
    tot = agg.agg(F.sum("n").alias("tot"))
    return agg.crossJoin(F.broadcast(tot)).select(
        "digit",
        F.col("n").cast("long").alias("n_values"),
        (F.col("n").cast("double") / F.col("tot").cast("double")).alias(
            "observed_share"
        ),
        F.expr(_BENFORD_EXP_SQL).alias("expected_share"),
    )


# ---------------------------------------------------------------------------
# X203 — robust outliers via MAD (median absolute deviation)
# ---------------------------------------------------------------------------

_MAD_SQL = """
WITH v AS (
  SELECT event_type, CAST(value AS DOUBLE) AS v FROM events
), med AS (
  SELECT event_type, MIN(CASE WHEN cd >= 0.5 THEN v END) AS med
  FROM (SELECT event_type, v,
               cume_dist() OVER (PARTITION BY event_type ORDER BY v) AS cd
        FROM v)
  GROUP BY 1
), dev AS (
  SELECT v.event_type, v.v, abs(v.v - m.med) AS dv, m.med
  FROM v JOIN med m ON v.event_type = m.event_type
), mad AS (
  SELECT event_type, MIN(CASE WHEN cd >= 0.5 THEN dv END) AS mad
  FROM (SELECT event_type, dv,
               cume_dist() OVER (PARTITION BY event_type ORDER BY dv) AS cd
        FROM dev)
  GROUP BY 1
)
SELECT d.event_type, ANY_VALUE(d.med) AS median_value,
       ANY_VALUE(a.mad) AS mad,
       CAST(COUNT(CASE WHEN d.dv > 3 * a.mad THEN 1 END) AS BIGINT)
         AS n_outliers,
       CAST(COUNT(*) AS BIGINT) AS n_total
FROM dev d JOIN mad a ON d.event_type = a.event_type
GROUP BY 1
"""


@query("dq_mad_outliers", _MAD_SQL)
def dq_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-group outlier screen: |x − median| > 3·MAD — the
    quality gate that, unlike the z-score (X75), a single corrupt batch
    cannot poison (mean/stddev have a breakdown point of 0; the median
    pair survives 50% contamination). Both medians are type-1 discrete
    quantiles (X94's cume_dist + earliest-crossing MIN — always an
    actual data value, bit-portable), deviations are one correctly-
    rounded subtract, and the 3·MAD threshold is one multiply — every
    comparison engine-identical. Two windowed passes keyed on the same
    group column + group-sized joins; no global sort."""
    from pyspark.sql.window import Window

    v = _t(spark, sf_dir, "events").select(
        "event_type", F.col("value").cast("double").alias("v")
    )
    w1 = Window.partitionBy("event_type").orderBy("v")
    med = (
        v.withColumn("cd", F.cume_dist().over(w1))
        .groupBy("event_type")
        .agg(F.min(F.when(F.col("cd") >= 0.5, F.col("v"))).alias("med"))
    )
    dev = v.join(med, "event_type").select(
        "event_type", "v", "med", F.abs(F.col("v") - F.col("med")).alias("dv")
    )
    w2 = Window.partitionBy("event_type").orderBy("dv")
    mad = (
        dev.withColumn("cd", F.cume_dist().over(w2))
        .groupBy("event_type")
        .agg(F.min(F.when(F.col("cd") >= 0.5, F.col("dv"))).alias("mad"))
    )
    return (
        dev.join(mad, "event_type")
        .groupBy("event_type")
        .agg(
            F.any_value("med").alias("median_value"),
            F.any_value("mad").alias("mad"),
            F.count(F.when(F.col("dv") > 3 * F.col("mad"), 1))
            .cast("long")
            .alias("n_outliers"),
            F.count(F.lit(1)).cast("long").alias("n_total"),
        )
    )


# ---------------------------------------------------------------------------
# X223 — per-source distribution shift: total-variation distance of each
# source's token distribution vs the rest of the corpus
# ---------------------------------------------------------------------------

_TVD_SQL = r"""
WITH toks AS (
  SELECT source, unnest(list_filter(
           regexp_split_to_array(lower(coalesce(text, '')), '[^a-z0-9]+'),
           t -> t != '')) AS token
  FROM documents
), sc AS (
  SELECT source, token, COUNT(*) AS cnt FROM toks GROUP BY 1, 2
), tok_tot AS (
  SELECT token, CAST(SUM(cnt) AS BIGINT) AS tot FROM sc GROUP BY 1
), src_tot AS (
  SELECT source, CAST(SUM(cnt) AS BIGINT) AS st FROM sc GROUP BY 1
), grand AS (
  SELECT CAST(SUM(tot) AS BIGINT) AS gt FROM tok_tot
), grid AS (
  SELECT s.source, t.token, t.tot,
         COALESCE(sc.cnt, 0) AS scnt, s.st, g.gt
  FROM src_tot s CROSS JOIN tok_tot t CROSS JOIN grand g
  LEFT JOIN sc ON sc.source = s.source AND sc.token = t.token
), num AS (
  SELECT source, st, gt,
         SUM(abs(CAST(scnt AS DECIMAL(38,0)) * (gt - st)
                 - (CAST(tot AS DECIMAL(38,0)) - scnt) * st)) AS n
  FROM grid GROUP BY 1, 2, 3
)
SELECT source,
       st AS n_tokens_src,
       gt - st AS n_tokens_rest,
       CAST(n AS DOUBLE)
         / (2.0 * CAST(st AS DOUBLE) * CAST(gt - st AS DOUBLE)) AS tvd
FROM num
"""


@query("corpus_tv_distance", _TVD_SQL)
def corpus_tv_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution shift per source: total-variation distance between
    each source's token distribution and the REST of the corpus —
    TVD = ½·Σ|p_i − q_i|, the mixture-drift monitor a corpus-curation
    pipeline runs per ingest source (KL-family divergence). KL itself is
    ln() diverges in the last ulp across engines (ungateable, like the
    log10 lesson in dq_benford); TVD over shared-denominator counts
    needs NO transcendental: the per-token term |p−q| rescaled by the
    exact common denominator is |scnt·(gt−st) − (tot−scnt)·st|, with the
    operands cast to DECIMAL(38,0) BEFORE the multiply (a corpus of
    gt ≈ 1e13 tokens pushes scnt·gt past int64, where Spark would wrap
    and DuckDB would error — the a38 total pattern), summed exactly in
    DECIMAL(38,0), with ONE double division at the very end (the a33
    exact-moments pattern). Absent-token terms
    (p=0 or q=0) enter via the source×token grid, where the source
    dimension is a bounded broadcast.

    Scale: one (source, token) aggregate over the token stream, one
    token-total aggregate riding the same token keying, and a grid join
    that fans out per-token rows by #sources (bounded); nothing is ever
    pairwise in documents. The final result is #sources rows."""
    from ..functions.text import tokens

    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        "source", F.explode(tokens(F.coalesce(F.col("text"), F.lit("")))).alias("token")
    )
    sc = toks.groupBy("source", "token").agg(F.count(F.lit(1)).alias("cnt"))
    tok_tot = sc.groupBy("token").agg(F.sum("cnt").cast("long").alias("tot"))
    src_tot = sc.groupBy("source").agg(F.sum("cnt").cast("long").alias("st"))
    grand = tok_tot.agg(F.sum("tot").cast("long").alias("gt"))
    grid = (
        F.broadcast(src_tot.crossJoin(grand))
        .crossJoin(tok_tot)
        .join(sc, ["source", "token"], "left")
        .select(
            "source", "st", "gt", "tot",
            F.coalesce("cnt", F.lit(0)).alias("scnt"),
        )
    )
    num = grid.groupBy("source", "st", "gt").agg(
        F.sum(
            F.abs(
                F.col("scnt").cast("decimal(38,0)")
                * (F.col("gt") - F.col("st"))
                - (F.col("tot").cast("decimal(38,0)") - F.col("scnt"))
                * F.col("st")
            )
        ).alias("n")
    )
    return num.select(
        "source",
        F.col("st").alias("n_tokens_src"),
        (F.col("gt") - F.col("st")).alias("n_tokens_rest"),
        (
            F.col("n").cast("double")
            / (
                F.lit(2.0)
                * F.col("st").cast("double")
                * (F.col("gt") - F.col("st")).cast("double")
            )
        ).alias("tvd"),
    )


# ---------------------------------------------------------------------------
# X237 — per-source duplication telemetry (which ingest feeds send dups)
# ---------------------------------------------------------------------------

_SRC_DUP_SQL = r"""
WITH fp AS (
  SELECT source,
         md5(trim(regexp_replace(lower(coalesce(text, '')),
                                 '\s+', ' ', 'g'))) AS f
  FROM documents
), per AS (
  SELECT source,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(COUNT(DISTINCT f) AS BIGINT) AS n_unique
  FROM fp GROUP BY 1
), xsrc AS (
  SELECT f FROM fp GROUP BY f HAVING COUNT(DISTINCT source) > 1
), xcnt AS (
  SELECT fp.source, CAST(COUNT(*) AS BIGINT) AS n_cross
  FROM fp JOIN xsrc USING (f) GROUP BY 1
)
SELECT p.source, p.n_docs, p.n_unique,
       CAST(p.n_docs - p.n_unique AS DOUBLE)
         / CAST(p.n_docs AS DOUBLE) AS within_dup_rate,
       COALESCE(x.n_cross, 0) AS n_cross_source_dup
FROM per p LEFT JOIN xcnt x ON x.source = p.source
"""


@query("corpus_dedup_rate_by_source", _SRC_DUP_SQL)
def corpus_dedup_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source duplication telemetry (X237): within-source exact-dup
    rate (1 − unique/docs, one division over exact counts) plus the
    count of docs whose fingerprint also appears in ANOTHER source —
    the triage report that tells a curation team WHICH ingest feed to
    fix or down-weight, upstream of running any dedup pass. Normalized
    md5 fingerprints (the exact_dedup family's); two keyed aggregates
    and one fingerprint-keyed join — bodies never shuffle."""
    from ..functions.text import normalize

    fp = _t(spark, sf_dir, "documents").select(
        "source",
        F.md5(normalize(F.coalesce(F.col("text"), F.lit("")))).alias("f"),
    )
    per = fp.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.countDistinct("f").cast("long").alias("n_unique"),
    )
    xsrc = (
        fp.groupBy("f")
        .agg(F.countDistinct("source").alias("__ns"))
        .filter(F.col("__ns") > 1)
        .select("f")
    )
    xcnt = fp.join(xsrc, "f").groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_cross")
    )
    return per.join(xcnt, "source", "left").select(
        "source",
        "n_docs",
        "n_unique",
        (
            (F.col("n_docs") - F.col("n_unique")).cast("double")
            / F.col("n_docs").cast("double")
        ).alias("within_dup_rate"),
        F.coalesce("n_cross", F.lit(0)).cast("long")
        .alias("n_cross_source_dup"),
    )


# ---------------------------------------------------------------------------
# X241 — join-key skew reconnaissance (the pre-join shuffle-health report)
# ---------------------------------------------------------------------------

_SKEW_REPORT_SQL = """
WITH ok AS (
  SELECT 'orders.o_custkey' AS key_col, o_custkey AS k FROM orders
), lk AS (
  SELECT 'lineitem.l_orderkey' AS key_col, l_orderkey AS k FROM lineitem
), ek AS (
  SELECT 'events.user_id' AS key_col, CAST(user_id AS BIGINT) AS k
  FROM events
), allk AS (
  SELECT * FROM ok UNION ALL SELECT * FROM lk UNION ALL SELECT * FROM ek
), per AS (
  SELECT key_col, k, CAST(COUNT(*) AS BIGINT) AS c
  FROM allk GROUP BY 1, 2
), top AS (
  SELECT key_col, k AS hottest_key, c AS hottest_rows,
         ROW_NUMBER() OVER (PARTITION BY key_col
                            ORDER BY c DESC, k) AS rn
  FROM per
), tot AS (
  SELECT key_col,
         CAST(SUM(c) AS BIGINT) AS n_rows,
         CAST(COUNT(*) AS BIGINT) AS n_keys
  FROM per GROUP BY 1
)
SELECT t.key_col, t.n_rows, t.n_keys, p.hottest_key, p.hottest_rows,
       CAST(p.hottest_rows AS DOUBLE) / CAST(t.n_rows AS DOUBLE)
         AS top1_share,
       CAST(p.hottest_rows * t.n_keys AS DOUBLE)
         / CAST(t.n_rows AS DOUBLE) AS skew_factor
FROM tot t JOIN top p ON p.key_col = t.key_col AND p.rn = 1
"""


@query("dq_skew_report", _SKEW_REPORT_SQL)
def dq_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew reconnaissance (X241): for each hot join key in the
    schema (orders.o_custkey, lineitem.l_orderkey, events.user_id) —
    total rows, distinct keys, the hottest key and its row count,
    top-1 share, and the skew factor (hottest ÷ mean rows/key). This is
    the report that decides, BEFORE a production join, whether to salt
    (a19), rely on AQE skew splitting, or broadcast — shuffle-health
    telemetry as a first-class query. One keyed aggregate per table +
    a K-row argmax window (deterministic smallest-key tie); the three
    reports union into one scan-shaped plan per source."""
    reports = []
    for label, df, key in (
        ("orders.o_custkey", _t(spark, sf_dir, "orders"), "o_custkey"),
        ("lineitem.l_orderkey", _t(spark, sf_dir, "lineitem"),
         "l_orderkey"),
        ("events.user_id", _t(spark, sf_dir, "events"), "user_id"),
    ):
        reports.append(
            df.select(
                F.lit(label).alias("key_col"),
                F.col(key).cast("long").alias("k"),
            )
        )
    allk = reports[0].unionByName(reports[1]).unionByName(reports[2])
    per = allk.groupBy("key_col", "k").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    from pyspark.sql import Window

    w = Window.partitionBy("key_col").orderBy(F.desc("c"), "k")
    top = (
        per.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "key_col",
            F.col("k").alias("hottest_key"),
            F.col("c").alias("hottest_rows"),
        )
    )
    tot = per.groupBy("key_col").agg(
        F.sum("c").cast("long").alias("n_rows"),
        F.count(F.lit(1)).cast("long").alias("n_keys"),
    )
    return tot.join(top, "key_col").select(
        "key_col",
        "n_rows",
        "n_keys",
        "hottest_key",
        "hottest_rows",
        (
            F.col("hottest_rows").cast("double")
            / F.col("n_rows").cast("double")
        ).alias("top1_share"),
        (
            (F.col("hottest_rows") * F.col("n_keys")).cast("double")
            / F.col("n_rows").cast("double")
        ).alias("skew_factor"),
    )


# ---------------------------------------------------------------------------
# X242 — two-sample Kolmogorov-Smirnov statistic (all-integer argmax)
# ---------------------------------------------------------------------------

_KS_SQL = """
WITH o AS (
  SELECT o_orderstatus AS g,
         CAST(floor(o_totalprice / 100.0) AS BIGINT) AS x
  FROM orders WHERE o_orderstatus IN ('O', 'F')
), vals AS (
  SELECT x,
         CAST(SUM(CASE WHEN g = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS c1,
         CAST(SUM(CASE WHEN g = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS c2
  FROM o GROUP BY 1
), cum AS (
  SELECT x,
         CAST(SUM(c1) OVER (ORDER BY x ROWS UNBOUNDED PRECEDING)
              AS BIGINT) AS f1,
         CAST(SUM(c2) OVER (ORDER BY x ROWS UNBOUNDED PRECEDING)
              AS BIGINT) AS f2,
         CAST(SUM(c1) OVER () AS BIGINT) AS n1,
         CAST(SUM(c2) OVER () AS BIGINT) AS n2
  FROM vals
), d AS (
  SELECT x, n1, n2, abs(f1 * n2 - f2 * n1) AS num,
         ROW_NUMBER() OVER (ORDER BY abs(f1 * n2 - f2 * n1) DESC, x)
           AS rn
  FROM cum
)
SELECT n1, n2, x AS d_at_x, CAST(num AS BIGINT) AS d_scaled,
       CAST(num AS DOUBLE) / (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE))
         AS ks_d
FROM d WHERE rn = 1
"""


@query("a37_ks_statistic", _KS_SQL)
def a37_ks_statistic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov statistic (open vs fulfilled orders
    on binned totalprice): D = max |F₁(x) − F₂(x)|, the
    whole-distribution drift test that complements a34's location test.
    The supremum is computed on the INTEGER rescaling
    |F₁·n₁·n₂ − F₂·n₁·n₂| = |f1·n2 − f2·n1| (exact BIGINT, argmax
    unchanged, smallest-x tie rule; headroom: f1·n2 ≤ n1·n2 < 2⁶³
    holds while both samples stay under ~3e9 rows — beyond that, cast
    the cumulative counts to DECIMAL(38,0) first, the a33/a38
    discipline), with ONE double division at the end — the a18/a20 distinct-bin window pattern again: cumulative
    counts run over the value-aggregated relation, never a data-sized
    global sort."""
    from pyspark.sql import Window

    o = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus").isin("O", "F"))
        .select(
            F.col("o_orderstatus").alias("g"),
            F.floor(F.col("o_totalprice") / 100.0).cast("long").alias("x"),
        )
    )
    vals = o.groupBy("x").agg(
        F.sum(F.when(F.col("g") == "O", 1).otherwise(0)).cast("long")
        .alias("c1"),
        F.sum(F.when(F.col("g") == "F", 1).otherwise(0)).cast("long")
        .alias("c2"),
    )
    wo = Window.orderBy("x").rowsBetween(Window.unboundedPreceding, 0)
    wa = Window.orderBy("x").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum = vals.select(
        "x",
        F.sum("c1").over(wo).cast("long").alias("f1"),
        F.sum("c2").over(wo).cast("long").alias("f2"),
        F.sum("c1").over(wa).cast("long").alias("n1"),
        F.sum("c2").over(wa).cast("long").alias("n2"),
    )
    d = cum.select(
        "x", "n1", "n2",
        F.abs(F.col("f1") * F.col("n2") - F.col("f2") * F.col("n1"))
        .alias("num"),
    )
    wr = Window.orderBy(F.desc("num"), "x")
    return (
        d.withColumn("rn", F.row_number().over(wr))
        .filter(F.col("rn") == 1)
        .select(
            "n1", "n2",
            F.col("x").alias("d_at_x"),
            F.col("num").cast("long").alias("d_scaled"),
            (
                F.col("num").cast("double")
                / (F.col("n1").cast("double") * F.col("n2").cast("double"))
            ).alias("ks_d"),
        )
    )


# ---------------------------------------------------------------------------
# X249 — lexical richness per source (type/token + hapax telemetry)
# ---------------------------------------------------------------------------

_RICHNESS_SQL = """
WITH toks AS (
  SELECT source, unnest(list_filter(
           regexp_split_to_array(lower(coalesce(text, '')), '[^a-z0-9]+'),
           t -> t != '')) AS token
  FROM documents
), tc AS (
  SELECT source, token, CAST(COUNT(*) AS BIGINT) AS c
  FROM toks GROUP BY 1, 2
)
SELECT source,
       CAST(SUM(c) AS BIGINT) AS n_tokens,
       CAST(COUNT(*) AS BIGINT) AS n_types,
       CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
       CAST(COUNT(*) AS DOUBLE) / CAST(SUM(c) AS DOUBLE)
         AS type_token_ratio,
       CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS DOUBLE)
         / CAST(COUNT(*) AS DOUBLE) AS hapax_frac
FROM tc GROUP BY source
"""


@query("text_lexical_richness", _RICHNESS_SQL)
def text_lexical_richness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexical-richness telemetry per source (X249): token count, type
    (distinct token) count, hapax legomena count, type/token ratio and
    hapax fraction — the vocabulary-diversity screen that separates
    template-generated feeds (low TTR, few hapax) from natural prose,
    complementing corpus_tv_distance (WHICH distribution) and
    text_ngram_novelty (WHEN it stops contributing). Two keyed
    aggregates riding the same (source, token) partitioning; ratios are
    single divisions over exact counts."""
    from ..functions.text import tokens

    toks = _t(spark, sf_dir, "documents").select(
        "source",
        F.explode(
            tokens(F.coalesce(F.col("text"), F.lit("")))
        ).alias("token"),
    )
    tc = toks.groupBy("source", "token").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    return tc.groupBy("source").agg(
        F.sum("c").cast("long").alias("n_tokens"),
        F.count(F.lit(1)).cast("long").alias("n_types"),
        F.sum(F.when(F.col("c") == 1, 1).otherwise(0)).cast("long")
        .alias("n_hapax"),
    ).select(
        "source",
        "n_tokens",
        "n_types",
        "n_hapax",
        (
            F.col("n_types").cast("double") / F.col("n_tokens").cast("double")
        ).alias("type_token_ratio"),
        (
            F.col("n_hapax").cast("double") / F.col("n_types").cast("double")
        ).alias("hapax_frac"),
    )


# ---------------------------------------------------------------------------
# X252 — source×source vocabulary similarity matrix (feed-overlap triage)
# ---------------------------------------------------------------------------

_SRC_SIM_SQL = """
WITH tt AS (
  SELECT DISTINCT source, token FROM (
    SELECT source, unnest(list_filter(
             regexp_split_to_array(lower(coalesce(text, '')),
                                   '[^a-z0-9]+'),
             t -> t != '')) AS token
    FROM documents
  )
), sizes AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_types FROM tt GROUP BY 1
), common AS (
  SELECT a.source AS src_a, b.source AS src_b,
         CAST(COUNT(*) AS BIGINT) AS common
  FROM tt a JOIN tt b
    ON a.token = b.token AND a.source < b.source
  GROUP BY 1, 2
)
SELECT src_a, src_b, common,
       sa.n_types AS types_a, sb.n_types AS types_b,
       CAST(common AS DOUBLE)
         / CAST(sa.n_types + sb.n_types - common AS DOUBLE) AS jaccard
FROM common
JOIN sizes sa ON sa.source = common.src_a
JOIN sizes sb ON sb.source = common.src_b
"""


@query("corpus_source_similarity", _SRC_SIM_SQL)
def corpus_source_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source×source vocabulary Jaccard matrix (X252): which ingest
    feeds cover the same vocabulary — the redundancy triage BETWEEN
    feeds (corpus_dedup_rate_by_source finds duplicated DOCUMENTS
    across sources; this finds overlapping VOCABULARIES even when no
    document repeats, i.e. same-domain feeds worth down-weighting
    together). Distinct (source, token) postings self-join keyed on
    token; with S sources a token shared by all of them emits ≤ S²/2
    pairs — bounded by the SOURCE count, not the corpus (the join
    fan-out cap is structural here, unlike document-keyed shingle
    joins). One division of exact counts per pair; S(S−1)/2 rows out."""
    from ..functions.text import tokens

    tt = (
        _t(spark, sf_dir, "documents")
        .select(
            "source",
            F.explode(
                tokens(F.coalesce(F.col("text"), F.lit("")))
            ).alias("token"),
        )
        .distinct()
    )
    sizes = tt.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_types")
    )
    a = tt.alias("a")
    b = tt.alias("b")
    common = (
        a.join(
            b,
            (F.col("a.token") == F.col("b.token"))
            & (F.col("a.source") < F.col("b.source")),
        )
        .groupBy(
            F.col("a.source").alias("src_a"),
            F.col("b.source").alias("src_b"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("common"))
    )
    sa = sizes.select(
        F.col("source").alias("src_a"), F.col("n_types").alias("types_a")
    )
    sb = sizes.select(
        F.col("source").alias("src_b"), F.col("n_types").alias("types_b")
    )
    return (
        common.join(F.broadcast(sa), "src_a")
        .join(F.broadcast(sb), "src_b")
        .select(
            "src_a", "src_b", "common", "types_a", "types_b",
            (
                F.col("common").cast("double")
                / (
                    F.col("types_a") + F.col("types_b") - F.col("common")
                ).cast("double")
            ).alias("jaccard"),
        )
    )


# ---------------------------------------------------------------------------
# X271 — Unicode normalization / mojibake screen (upstream of every dedup)
# ---------------------------------------------------------------------------

def _moj(s: str) -> str:
    """UTF-8-read-as-Latin-1 corruption of ``s`` (how mojibake is born)."""
    return s.encode("utf-8").decode("latin-1")


# Pinned fixtures: ascii / NFD / mojibake / already-NFC / pure digraphs /
# NFC-composition incl. uppercase Å / mixed local repair. Each doc is
# either fully clean or carries only pinned-alphabet digraphs, so the
# ladder (oracle) and the general round-trip (library) agree — the
# scope the docstring states.
_UNI_DOCS: list[tuple[int, str]] = [
    (1, "plain ascii text"),
    (2, "café menu déjà vu"),
    (3, _moj("Café") + " au lait"),
    (4, _moj("naïve résumés")),
    (5, "café déjà vu"),
    (6, _moj("éèüñø")),
    (7, "Å ring and éclair"),
    (8, "mixed " + _moj("é") + " and real é"),
]


def _normalize_unicode_sql() -> str:
    from ..operators.textops import MOJIBAKE_TABLE

    expr = "txt"
    for moj, fixed in MOJIBAKE_TABLE:
        expr = f"replace({expr}, {_sql_str(moj)}, {_sql_str(fixed)})"
    vals = ", ".join(f"({i}, {_sql_str(t)})" for i, t in _UNI_DOCS)
    return rf"""
WITH docs(doc_id, txt) AS (VALUES {vals}),
rep AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id, txt, {expr} AS rep FROM docs
), c AS (
  SELECT doc_id, txt, rep, nfc_normalize(rep) AS clean_text FROM rep
)
SELECT doc_id, clean_text,
       rep != txt AS was_mojibake,
       clean_text != rep AS was_nfd,
       md5(trim(regexp_replace(lower(clean_text), '\s+', ' ', 'g')))
         AS fingerprint
FROM c
"""


@query("text_normalize_unicode", _normalize_unicode_sql())
def text_normalize_unicode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X271 (judge-r7 ask #6): the Unicode normalization / mojibake
    screen every pretraining corpus runs BEFORE fingerprinting — 'café'
    in NFD, NFC, and UTF-8-read-as-Latin-1 forms is three different
    md5s for one document until this pass. Repair pinned lowercase
    Latin-1-supplement digraphs (operators/textops.fix_mojibake — a
    literal JVM-side replace ladder, the 100 TB fast path), NFC-compose
    (Arrow unicodedata vs DuckDB's native nfc_normalize — both Unicode
    canonical composition), flag which repairs fired, fingerprint the
    result. The planted-mojibake pytest proves fingerprints CONVERGE
    after repair; the round-trip library twin
    (textops.fix_mojibake_roundtrip_pandas) covers irregular sequences
    and is pytest-anchored against the ladder on the pinned alphabet."""
    from ..operators import textops

    docs = spark.createDataFrame(_UNI_DOCS, "doc_id long, txt string")
    return textops.normalize_unicode(docs, "doc_id", "txt")


# ---------------------------------------------------------------------------
# X274 — bigram-LM fluency score (the CCNet-style perplexity screen,
# rational form)
# ---------------------------------------------------------------------------

_LM_SCALE = 1_000_000  # micro units per bigram probability


def _ngram_lm_sql() -> str:
    return rf"""
WITH tok AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(coalesce(text, '')),
                     '[^a-z0-9]+'), t -> t != '') AS toks
  FROM documents
), bi AS (
  SELECT doc_id,
         unnest(list_transform(
             range(1, greatest(len(toks) - 1, 0) + 1),
             i -> toks[i] || ' ' || toks[i + 1])) AS bg
  FROM tok
), bic AS (
  SELECT bg, CAST(COUNT(*) AS BIGINT) AS c2 FROM bi GROUP BY bg
), uc AS (
  SELECT split_part(bg, ' ', 1) AS w1, CAST(COUNT(*) AS BIGINT) AS c1
  FROM bi GROUP BY 1
), v AS (
  SELECT CAST(COUNT(DISTINCT t) AS BIGINT) AS vocab
  FROM (SELECT unnest(toks) AS t FROM tok)
), scored AS (
  SELECT bi.doc_id,
         CAST(floor(((CAST(c2 AS DOUBLE) + 1.0)
              / (CAST(c1 AS DOUBLE) + CAST(vocab AS DOUBLE)))
              * {_LM_SCALE}.0) AS BIGINT) AS micro
  FROM bi
  JOIN bic USING (bg)
  JOIN uc ON uc.w1 = split_part(bi.bg, ' ', 1)
  CROSS JOIN v
), agg AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
         CAST(SUM(micro) AS BIGINT) AS sum_micro
  FROM scored GROUP BY doc_id
)
SELECT t.doc_id,
       coalesce(a.n_bigrams, 0) AS n_bigrams,
       coalesce(a.sum_micro, 0) AS sum_micro,
       CAST(a.sum_micro AS DOUBLE)
         / CAST(NULLIF(a.n_bigrams, 0) AS DOUBLE) AS mean_micro
FROM tok t LEFT JOIN agg a USING (doc_id)
"""


@query("text_ngram_lm_score", _ngram_lm_sql())
def text_ngram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X274: bigram-LM fluency scoring — the rational-arithmetic form of
    the CCNet/KenLM perplexity screen every pretraining corpus runs: a
    bigram model TRAINED ON THE CORPUS ITSELF (add-one smoothing:
    P(w2|w1) = (c(w1w2)+1)/(c(w1·)+V), prefix counts, V = |vocab|)
    scores each document's bigram occurrences; low mean probability =
    disfluent/outlier text. log/perplexity is not cross-engine portable
    (ln is not correctly rounded), so each occurrence contributes
    floor(1e6·P) MICRO units — the X269 milli-floor discipline: one
    fixed +,/ tree over exact integers, explicit floor both engines,
    order-free integer sum, ONE final division for the mean.

    Plan: strict bigrams via one zip_with projection (no O(n²) inlined
    slices — the word_ngrams lesson), ONE explode shuffle to bigram
    counts; prefix counts re-aggregate the same relation; both count
    tables + the 1-row vocabulary broadcast back onto the occurrence
    stream. Docs with <2 tokens emit n_bigrams=0 / mean NULL. At
    100 TB: counts are vocabulary-sized (≪ corpus), occurrences never
    shuffle — they join broadcast tables in the scan stage."""
    from ..functions.text import tokens

    docs = _t(spark, sf_dir, "documents")
    toks = tokens(F.coalesce(F.col("text"), F.lit("")))
    # cached tokenized projection (the X269 lesson: vocab/counts/final
    # join each run their own job; tokenize once, consume four times)
    tok = docs.select("doc_id", toks.alias("toks")).cache()
    sz = F.size("toks")
    pairs = F.zip_with(
        F.col("toks"),
        F.slice(F.col("toks"), 2, F.greatest(sz - 1, F.lit(0))),
        lambda x, y: F.concat_ws(" ", x, y),
    )
    strict = F.when(sz >= 2, F.slice(pairs, 1, sz - 1)).otherwise(
        F.array().cast("array<string>")
    )
    bi = tok.select("doc_id", F.explode(strict).alias("bg")).cache()
    bic = bi.groupBy("bg").agg(F.count(F.lit(1)).cast("long").alias("c2"))
    uc = (
        bi.select(F.split_part(F.col("bg"), F.lit(" "), F.lit(1)).alias("w1"))
        .groupBy("w1")
        .agg(F.count(F.lit(1)).cast("long").alias("c1"))
    )
    v = tok.select(F.explode("toks").alias("t")).agg(
        F.countDistinct("t").cast("long").alias("vocab")
    )
    micro = F.floor(
        (
            (F.col("c2").cast("double") + F.lit(1.0))
            / (F.col("c1").cast("double") + F.col("vocab").cast("double"))
        )
        * F.lit(float(_LM_SCALE))
    ).cast("long")
    scored = (
        bi.join(F.broadcast(bic), "bg")
        .join(
            F.broadcast(uc),
            F.split_part(F.col("bg"), F.lit(" "), F.lit(1)) == F.col("w1"),
        )
        .crossJoin(F.broadcast(v))
        .select("doc_id", micro.alias("micro"))
    )
    agg = scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_bigrams"),
        F.sum("micro").cast("long").alias("sum_micro"),
    )
    return tok.select("doc_id").join(agg, "doc_id", "left").select(
        "doc_id",
        F.coalesce("n_bigrams", F.lit(0).cast("long")).alias("n_bigrams"),
        F.coalesce("sum_micro", F.lit(0).cast("long")).alias("sum_micro"),
        (
            F.col("sum_micro").cast("double")
            / F.nullif(F.col("n_bigrams"), F.lit(0)).cast("double")
        ).alias("mean_micro"),
    )


# ---------------------------------------------------------------------------
# X293 — interpolated trigram-LM fluency score (judge-r9 ask #5: the
# CCNet-class extension of X274's bigram screen)
# ---------------------------------------------------------------------------

_LM3_L3, _LM3_L2, _LM3_L1 = 0.6, 0.3, 0.1  # interpolation weights


def _ngram_lm3_sql() -> str:
    l3, l2, l1 = _LM3_L3, _LM3_L2, _LM3_L1
    return rf"""
WITH tok AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(coalesce(text, '')),
                     '[^a-z0-9]+'), t -> t != '') AS toks
  FROM documents
), tri AS (
  SELECT doc_id,
         unnest(list_transform(
             range(1, greatest(len(toks) - 2, 0) + 1),
             i -> toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2]))
           AS tg
  FROM tok
), bi AS (
  SELECT doc_id,
         unnest(list_transform(
             range(1, greatest(len(toks) - 1, 0) + 1),
             i -> toks[i] || ' ' || toks[i + 1])) AS bg
  FROM tok
), uni AS (
  SELECT unnest(toks) AS t FROM tok
), tric AS (
  SELECT tg, CAST(COUNT(*) AS BIGINT) AS c3 FROM tri GROUP BY tg
), ctxc AS (
  SELECT split_part(tg, ' ', 1) || ' ' || split_part(tg, ' ', 2) AS ctx,
         CAST(COUNT(*) AS BIGINT) AS cb
  FROM tri GROUP BY 1
), bic AS (
  SELECT bg, CAST(COUNT(*) AS BIGINT) AS c2 FROM bi GROUP BY bg
), uc AS (
  SELECT split_part(bg, ' ', 1) AS w1, CAST(COUNT(*) AS BIGINT) AS c1p
  FROM bi GROUP BY 1
), unic AS (
  SELECT t, CAST(COUNT(*) AS BIGINT) AS c1 FROM uni GROUP BY t
), v AS (
  SELECT CAST(COUNT(DISTINCT t) AS BIGINT) AS vocab,
         CAST(COUNT(*) AS BIGINT) AS ntok
  FROM uni
), scored AS (
  SELECT tri.doc_id,
         CAST(floor((
             ((CAST(c3 AS DOUBLE) + 1.0)
              / (CAST(cb AS DOUBLE) + CAST(vocab AS DOUBLE)))
               * CAST({l3} AS DOUBLE)
             + ((CAST(c2 AS DOUBLE) + 1.0)
                / (CAST(c1p AS DOUBLE) + CAST(vocab AS DOUBLE)))
               * CAST({l2} AS DOUBLE)
             + ((CAST(c1 AS DOUBLE) + 1.0)
                / (CAST(ntok AS DOUBLE) + CAST(vocab AS DOUBLE)))
               * CAST({l1} AS DOUBLE)
           ) * {_LM_SCALE}.0) AS BIGINT) AS micro
  FROM tri
  JOIN tric USING (tg)
  JOIN ctxc ON ctxc.ctx = split_part(tri.tg, ' ', 1) || ' '
               || split_part(tri.tg, ' ', 2)
  JOIN bic ON bic.bg = split_part(tri.tg, ' ', 2) || ' '
              || split_part(tri.tg, ' ', 3)
  JOIN uc ON uc.w1 = split_part(tri.tg, ' ', 2)
  JOIN unic ON unic.t = split_part(tri.tg, ' ', 3)
  CROSS JOIN v
), agg AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_trigrams,
         CAST(SUM(micro) AS BIGINT) AS sum_micro
  FROM scored GROUP BY doc_id
)
SELECT t.doc_id,
       coalesce(a.n_trigrams, 0) AS n_trigrams,
       coalesce(a.sum_micro, 0) AS sum_micro,
       CAST(a.sum_micro AS DOUBLE)
         / CAST(NULLIF(a.n_trigrams, 0) AS DOUBLE) AS mean_micro
FROM tok t LEFT JOIN agg a USING (doc_id)
"""


@query("text_ngram_lm_score3", _ngram_lm3_sql())
def text_ngram_lm_score3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X293 (judge-r9 ask #5): interpolated trigram-LM fluency scoring —
    the CCNet-class extension of X274's bigram screen. Each trigram
    occurrence scores P̂ = {l3}·P3 + {l2}·P2 + {l1}·P1 with every order
    trained on the corpus itself under add-one smoothing (P3 over
    trigram-context counts, P2 over the full bigram relation and its
    prefix counts, P1 over unigram counts with N+V), contributing
    floor(1e6·P̂) micro units — X274's rational discipline kept: one
    FIXED +,·,/ tree over exact integer counts (identical
    left-associated expression in both engines, so the IEEE double
    result is bit-equal), explicit floor, order-free integer sum, one
    final division for the mean. Interpolation is what rescues unseen
    trigrams with common continuations from the add-one floor — the
    reason CCNet-class filters interpolate instead of backing off
    abruptly.

    Plan: tokenize once (cached), trigrams/bigrams via zip_with lead
    slices (no O(n²)), ONE explode shuffle per order to
    vocabulary-sized count tables; all five count relations + the
    1-row (V, N) scalar broadcast back onto the trigram occurrence
    stream — occurrences never shuffle. Docs with <3 tokens emit
    n_trigrams=0 / mean NULL."""
    from ..functions.text import tokens

    docs = _t(spark, sf_dir, "documents")
    toks = tokens(F.coalesce(F.col("text"), F.lit("")))
    tok = docs.select("doc_id", toks.alias("toks")).cache()
    sz = F.size("toks")
    pairs = F.zip_with(
        F.col("toks"),
        F.slice(F.col("toks"), 2, F.greatest(sz - 1, F.lit(0))),
        lambda x, y: F.concat_ws(" ", x, y),
    )
    strict2 = F.when(sz >= 2, F.slice(pairs, 1, sz - 1)).otherwise(
        F.array().cast("array<string>")
    )
    tripl = F.zip_with(
        pairs,
        F.slice(F.col("toks"), 3, F.greatest(sz - 2, F.lit(0))),
        lambda x, y: F.concat_ws(" ", x, y),
    )
    strict3 = F.when(sz >= 3, F.slice(tripl, 1, sz - 2)).otherwise(
        F.array().cast("array<string>")
    )
    tri = tok.select("doc_id", F.explode(strict3).alias("tg")).cache()
    bi = tok.select("doc_id", F.explode(strict2).alias("bg")).cache()
    uni = tok.select(F.explode("toks").alias("t"))
    sp = lambda c, i: F.split_part(F.col(c), F.lit(" "), F.lit(i))  # noqa: E731
    tric = tri.groupBy("tg").agg(
        F.count(F.lit(1)).cast("long").alias("c3")
    )
    ctxc = (
        tri.select(
            F.concat_ws(" ", sp("tg", 1), sp("tg", 2)).alias("ctx")
        )
        .groupBy("ctx")
        .agg(F.count(F.lit(1)).cast("long").alias("cb"))
    )
    bic = bi.groupBy("bg").agg(
        F.count(F.lit(1)).cast("long").alias("c2")
    )
    uc = (
        bi.select(sp("bg", 1).alias("w1"))
        .groupBy("w1")
        .agg(F.count(F.lit(1)).cast("long").alias("c1p"))
    )
    unic = uni.groupBy("t").agg(
        F.count(F.lit(1)).cast("long").alias("c1")
    )
    v = uni.agg(
        F.countDistinct("t").cast("long").alias("vocab"),
        F.count(F.lit(1)).cast("long").alias("ntok"),
    )
    p = lambda num, den: (  # noqa: E731 — add-one order probability
        (num.cast("double") + F.lit(1.0))
        / (den.cast("double") + F.col("vocab").cast("double"))
    )
    micro = F.floor(
        (
            p(F.col("c3"), F.col("cb")) * F.lit(_LM3_L3)
            + p(F.col("c2"), F.col("c1p")) * F.lit(_LM3_L2)
            + (
                (F.col("c1").cast("double") + F.lit(1.0))
                / (
                    F.col("ntok").cast("double")
                    + F.col("vocab").cast("double")
                )
            ) * F.lit(_LM3_L1)
        )
        * F.lit(float(_LM_SCALE))
    ).cast("long")
    scored = (
        tri.join(F.broadcast(tric), "tg")
        .join(
            F.broadcast(ctxc),
            F.concat_ws(" ", sp("tg", 1), sp("tg", 2)) == F.col("ctx"),
        )
        .join(
            F.broadcast(bic),
            F.concat_ws(" ", sp("tg", 2), sp("tg", 3)) == F.col("bg"),
        )
        .join(F.broadcast(uc), sp("tg", 2) == F.col("w1"))
        .join(F.broadcast(unic), sp("tg", 3) == F.col("t"))
        .crossJoin(F.broadcast(v))
        .select("doc_id", micro.alias("micro"))
    )
    agg = scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_trigrams"),
        F.sum("micro").cast("long").alias("sum_micro"),
    )
    return tok.select("doc_id").join(agg, "doc_id", "left").select(
        "doc_id",
        F.coalesce("n_trigrams", F.lit(0).cast("long")).alias(
            "n_trigrams"
        ),
        F.coalesce("sum_micro", F.lit(0).cast("long")).alias("sum_micro"),
        (
            F.col("sum_micro").cast("double")
            / F.nullif(F.col("n_trigrams"), F.lit(0)).cast("double")
        ).alias("mean_micro"),
    )


text_ngram_lm_score3.__doc__ = text_ngram_lm_score3.__doc__.format(
    l3=_LM3_L3, l2=_LM3_L2, l1=_LM3_L1
)
