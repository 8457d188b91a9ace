"""DuckDB oracle-SQL fragments that more than one query family writes.

A leaf: it imports nothing from plans/. parity imports every family
module at its end, so a family imported first is still half-initialized
while the others load; a family that imported a fragment from another
family at load time would fail whenever that other family came first.
Fragments shared across families live here, and the families import
only parity and this module while they load.
"""

from __future__ import annotations

# ---------------------------------------------------------------------------
# Deterministic unit draw and split assignment (operators/sampling.py)
# ---------------------------------------------------------------------------

# DuckDB twin of sampling._unit_hash(doc_id, salt)
def _unit_sql(salt: str) -> str:
    return (
        f"(('0x' || substr(md5('{salt}:' || doc_id::VARCHAR), 1, 8))::BIGINT"
        f" / 4294967296.0)"
    )


_SPLIT_FRACTIONS = {"train": 0.8, "val": 0.1, "test": 0.1}


def _split_case_sql() -> str:
    """CASE over the SAME accumulated thresholds hash_split compares
    against (emitted via repr — 0.8+0.1 is 0.9000000000000001 in IEEE,
    not 0.9; a hand-written 0.9 would disagree on u values in between)."""
    names = list(_SPLIT_FRACTIONS)
    u = _unit_sql("split")
    branches, cum = [], 0.0
    for name in names[:-1]:
        cum += _SPLIT_FRACTIONS[name]
        branches.append(f"WHEN {u} < {cum!r} THEN '{name}'")
    return "CASE " + " ".join(branches) + f" ELSE '{names[-1]}' END"


# ---------------------------------------------------------------------------
# Exact decimal sums (functions/scalar.py)
# ---------------------------------------------------------------------------

def _split_sum_sql(expr: str, scale: int = 4) -> str:
    """Twin of scalar.exact_sum_portable: int-part + frac-part, each a
    single correctly-rounded conversion (a direct DECIMAL→DOUBLE cast is
    double-rounded engine-specifically once unscaled > 2^53)."""
    s = f"SUM(CAST({expr} AS DECIMAL(38,{scale})))"
    return (
        f"(CAST(CAST(FLOOR({s}) AS BIGINT) AS DOUBLE)"
        f" + CAST({s} - FLOOR({s}) AS DOUBLE))"
    )


# ---------------------------------------------------------------------------
# The IVF cell-assignment rule — every IVF / semantic-dedup twin writes its
# centroid and cell CTEs through _ivf_cells_sql
# ---------------------------------------------------------------------------

# fold cosine, the norms' product guarded with greatest(·, 1e-300),
# MIRRORED in the Spark plans (functions.vectors.cos_from, the IVF family
# included): for any non-degenerate pair the guard is the identity
# (|a|*|b| ≫ 1e-300, so the value and the oracle hash are bit-unchanged),
# but an all-zero embedding yields cos = 0.0 in BOTH engines, against
# another all-zero one too, instead of Spark's ANSI DIVIDE_BY_ZERO
# (non-ANSI NULL) vs DuckDB's inf/NaN — the one input where unguarded twins
# could diverge
_COS_SQL = (
    "list_dot_product({a}, {b})"
    " / greatest(sqrt(list_dot_product({a}, {a}))"
    " * sqrt(list_dot_product({b}, {b})), 1e-300)"
)


def _ivf_cells_sql(
    n_centroids: int,
    sample: str = "v",
    asg: tuple = (("asg", "v", "v"),),
    probe_from: str | None = None,
    n_queries: int | None = None,
    nprobe: int = 0,
    keep: tuple = (),
    prn: bool = False,
    tag: str = "",
) -> str:
    """The ``cents``/``asg``/``probes`` CTE text of the portable IVF
    configuration (operators/similarity: md5 sample order, iters=0
    init-point centroids, guarded fold cosine, cos ties to the smaller
    centroid id), comma-joined for a WITH list over a relation ``v`` of
    (vec_id, ve) rows.

    - ``cents{tag}``: the first ``n_centroids`` rows of ``sample`` (a
      relation, optionally with a WHERE — the build-time cohort) in
      (md5-slice(vec_id), vec_id) order;
    - one nearest-cell CTE per ``asg`` entry (name, relation, alias):
      (vec_id, cell) of every row of the relation;
    - with ``probe_from``: ``probes{tag}`` = (query_id, cell) for the
      ``nprobe`` nearest cells of each ``probe_from`` row (vec_id <
      ``n_queries`` when given), plus the probe rank ``prn`` when
      ``prn``.

    ``keep`` columns ride both the assignment and the probe rows (the
    filtered probe's label)."""
    cents = f"cents{tag}"
    ko = "".join(f", {c}" for c in keep)

    def nearest(name, src, a, out, rank, extra="", where=""):
        ki = "".join(f", {a}.{c}" for c in keep)
        sel = f"{a}.vec_id" if out == "vec_id" else f"{a}.vec_id AS {out}"
        return f"""{name} AS (
  SELECT {out}{ko}, cell{extra} FROM (
    SELECT {sel}{ki}, c.centroid_id AS cell,
           ROW_NUMBER() OVER (
             PARTITION BY {a}.vec_id
             ORDER BY {_COS_SQL.format(a=f"{a}.ve", b="c.cv")} DESC,
                      c.centroid_id
           ) AS rn
    FROM {src}, {cents} c{where}
  ) WHERE {rank}
)"""

    ctes = [f"""{cents} AS (
  SELECT CAST(ROW_NUMBER() OVER (ORDER BY h, vec_id) AS BIGINT)
           AS centroid_id,
         ve AS cv
  FROM (
    SELECT vec_id, ve,
           ('0x' || substr(md5(vec_id::VARCHAR), 1, 8))::BIGINT AS h
    FROM {sample} ORDER BY h, vec_id LIMIT {n_centroids}
  )
)"""]
    for name, rel, a in asg:
        src = rel if rel == a else f"{rel} {a}"
        ctes.append(nearest(name, src, a, "vec_id", "rn = 1"))
    if probe_from is not None:
        ctes.append(nearest(
            f"probes{tag}", f"{probe_from} q", "q", "query_id",
            f"rn <= {nprobe}", ", rn AS prn" if prn else "",
            "" if n_queries is None else f" WHERE q.vec_id < {n_queries}",
        ))
    return ",\n".join(ctes)


# ---------------------------------------------------------------------------
# X264 — BM25 top-k keyword search (text_bm25_topk, and the hybrid RRF twin)
# ---------------------------------------------------------------------------

_BM25_TERMS = ("data", "scan", "hash")
_BM25_K = 20
# k1 = 1.2, b = 0.75 (the standard Robertson constants); written as the
# pre-folded literals 2.2 = k1+1 and 0.25/0.75 = (1-b)/b so both engines
# evaluate the IDENTICAL expression tree
_BM25_SQL = f"""
WITH d AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(coalesce(text, '')),
                     '[^a-z0-9]+'), t -> t != '') AS toks
  FROM documents
), base AS (
  SELECT doc_id, CAST(len(toks) AS BIGINT) AS len,
         {", ".join(
             f"CAST(len(list_filter(toks, x -> x = '{t}')) AS BIGINT)"
             f" AS tf{i}" for i, t in enumerate(_BM25_TERMS, 1))}
  FROM d
), stats AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(len) AS BIGINT) AS sumlen,
         {", ".join(
             f"CAST(SUM(CASE WHEN tf{i} > 0 THEN 1 ELSE 0 END) AS BIGINT)"
             f" AS df{i}" for i in range(1, len(_BM25_TERMS) + 1))}
  FROM base
), scored AS (
  SELECT doc_id, len,
         {", ".join(f"tf{i}" for i in range(1, len(_BM25_TERMS) + 1))},
         {" + ".join(
             f"(((CAST(n AS DOUBLE) - CAST(df{i} AS DOUBLE) + 0.5)"
             f" / (CAST(df{i} AS DOUBLE) + 0.5))"
             f" * (CAST(tf{i} AS DOUBLE) * 2.2)"
             f" / (CAST(tf{i} AS DOUBLE)"
             f" + 1.2 * (0.25 + 0.75 * (CAST(len AS DOUBLE)"
             f" / (CAST(sumlen AS DOUBLE) / CAST(n AS DOUBLE))))))"
             for i in range(1, len(_BM25_TERMS) + 1))} AS score
  FROM base CROSS JOIN stats
)
SELECT doc_id, len AS n_tokens,
       {", ".join(
           f"tf{i} AS tf_{t}" for i, t in enumerate(_BM25_TERMS, 1))},
       score,
       CAST(ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS BIGINT)
         AS rank
FROM scored WHERE score > 0.0
ORDER BY score DESC, doc_id LIMIT {_BM25_K}
"""


# ---------------------------------------------------------------------------
# Exact n-gram Jaccard pairs and their clusters (operators/dedup.py)
# ---------------------------------------------------------------------------

def _build_jaccard_sql(
    n: int = 3, threshold: float = 0.5, max_postings: int | None = None
) -> str:
    """DuckDB twin of the n-gram shingle pipeline; token/shingle
    construction is mirrored exactly (incl. the short-doc shingle
    truncation — see dedup.shingle_sets_pandas ↔ the range/slice
    expressions).
    ``max_postings`` mirrors the posting cap that is MANDATORY at 100 TB
    (a shingle shared by k docs emits k² join rows): hot shingles drop
    from the JOIN side only; set sizes stay full, so found-pair scores
    are exact and only pairs sharing nothing but hot shingles are missed.
    One builder serves the exact, capped, and clustering oracles."""
    if max_postings is None:
        cap_ctes, join_src = "", "e"
    else:
        cap_ctes = f"""), pf AS (
  SELECT shingle, COUNT(*) AS pf FROM e GROUP BY shingle
), ef AS (
  SELECT e.doc_id, e.shingle
  FROM e JOIN pf USING (shingle) WHERE pf.pf <= {max_postings}
"""
        join_src = "ef"
    return rf"""
WITH toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                     t -> t != '') AS toks
  FROM documents
), sh AS (
  SELECT doc_id,
         list_distinct(list_transform(
             range(1, greatest(1, len(toks) - {n - 1}) + 1),
             i -> coalesce(array_to_string(toks[i:i+{n - 1}], ' '), ''))) AS shingles
  FROM toks
), e AS (
  SELECT doc_id, unnest(shingles) AS shingle FROM sh
{cap_ctes}), sizes AS (
  SELECT doc_id, len(shingles) AS set_size FROM sh
), common AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS common
  FROM {join_src} a JOIN {join_src} b
    ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT id_a, id_b, common,
       sa.set_size AS size_a, sb.set_size AS size_b,
       common::DOUBLE / (sa.set_size + sb.set_size - common) AS jaccard
FROM common
JOIN sizes sa ON common.id_a = sa.doc_id
JOIN sizes sb ON common.id_b = sb.doc_id
WHERE common::DOUBLE / (sa.set_size + sb.set_size - common) >= {threshold}
"""


_JACCARD_SQL = _build_jaccard_sql()


# Clusters over the exact-Jaccard pairs (themselves oracle-gated above):
# undirected reachability via recursive CTE, cluster = min reachable id —
# identical to min-label-propagation's fixpoint.
_CLUSTERS_SQL = rf"""
WITH RECURSIVE dup_pairs AS (
{_JACCARD_SQL.strip()}
), dup_edges AS (
  SELECT id_a AS src, id_b AS dst FROM dup_pairs
  UNION ALL
  SELECT id_b, id_a FROM dup_pairs
), reach AS (
  SELECT doc_id AS n, doc_id AS m FROM documents
  UNION
  SELECT r.n, dup_edges.dst FROM reach r
  JOIN dup_edges ON dup_edges.src = r.m
)
SELECT n AS doc_id, MIN(m) AS cluster_id FROM reach GROUP BY n
"""


# ---------------------------------------------------------------------------
# Quality score and language id (operators/textops.py)
# ---------------------------------------------------------------------------

_QUALITY_SQL = r"""
WITH f AS (
  SELECT doc_id,
         len(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
             t -> t != ''))::BIGINT AS n_tokens,
         len(regexp_extract_all(lower(text), '\b(the|and|of|to|is)\b'))::BIGINT
           AS stop_hits,
         length(regexp_replace(text, '[^A-Za-z]', '', 'g'))::DOUBLE
           / length(text) AS alpha_ratio
  FROM documents
)
SELECT doc_id, n_tokens, stop_hits,
       0.4::DOUBLE * (least(n_tokens, 64)::DOUBLE / 64.0::DOUBLE)
       + 0.3::DOUBLE * alpha_ratio
       + 0.3::DOUBLE * (least(stop_hits, 16)::DOUBLE / 16.0::DOUBLE) AS quality
FROM f
"""


def _lang_hits_sql(lang: str, words: list[str]) -> str:
    pat = "|".join(words)
    return (
        rf"len(regexp_extract_all(lower(text), '\b({pat})\b'))::BIGINT"
        rf" AS hits_{lang}"
    )


def _build_langid_sql() -> str:
    from ..functions.text import LANG_MARKERS

    langs = sorted(LANG_MARKERS)
    hits = ",\n         ".join(
        _lang_hits_sql(lg, LANG_MARKERS[lg]) for lg in langs
    )
    branches = []
    for lg in langs:
        conds = [f"hits_{lg} >= hits_{o}" for o in langs if o != lg]
        conds.append(f"hits_{lg} > 0")
        branches.append(f"WHEN {' AND '.join(conds)} THEN '{lg}'")
    case = "CASE " + " ".join(branches) + " ELSE 'und' END"
    cols = ", ".join(f"hits_{lg}" for lg in langs)
    return f"""
WITH f AS (
  SELECT doc_id,
         {hits}
  FROM documents
)
SELECT doc_id, {cols}, {case} AS pred_lang FROM f
"""
