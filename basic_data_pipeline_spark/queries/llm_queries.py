"""LLM-data-pipeline operators (SURVEY.md §2.11) surfaced as
oracle-checked queries: text analysis, dedup (exact → MinHash-LSH →
SimHash → n-gram Jaccard → embedding-cosine), similarity search, and the
multimodal plumbing.

Every approximate operator here is DETERMINISTIC (md5-derived hash
families, fixed hyperplanes), so the DuckDB oracle reproduces the exact
same signatures/buckets/candidates — the correctness gate covers the
approximation machinery itself, not just final row counts. The only
rows-only entry is the LSH-ANN search (its recall is asserted against the
brute-force baseline in tests/test_llm_ops.py instead).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from basic_data_pipeline_spark.caching import tracked_persist
from basic_data_pipeline_spark.catalog import load_table
from basic_data_pipeline_spark.operators import (
    dedup,
    domains,
    multimodal,
    packing,
    quality,
    retrieval,
    sampling,
    selection,
    similarity,
    substring,
    text,
)
from basic_data_pipeline_spark.partitioning import spread
from basic_data_pipeline_spark.registry import query


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    return load_table(spark, sf_dir, name)


def _docs_spread(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents, spread to cluster parallelism: the text queries are
    regex-CPU-bound projections, and a byte-small scan would otherwise
    run them on 1-2 partitions (see partitioning.spread)."""
    return spread(_t(spark, sf_dir, "documents"), "doc_id")


# --------------------------------------------------------------------------
# Text analysis
# --------------------------------------------------------------------------

# DuckDB regexp_replace needs the 'g' flag to match Spark's global-replace
# default; every oracle below uses it.

_DUCK_TOKENS = "string_split_regex(lower(text), '\\s+')"
_DUCK_SW = {
    lang: "[" + ", ".join(f"'{w}'" for w in words) + "]"
    for lang, words in text.STOPWORDS.items()
}
_DUCK_HITS = {
    lang: f"len(list_filter({_DUCK_TOKENS}, t -> list_contains({lst}, t)))"
    for lang, lst in _DUCK_SW.items()
}


_DUCK_FP = "md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))"


@query(
    "text_doc_profile",
    oracle=f"""
    WITH base AS (
      SELECT doc_id,
             length(text) AS n_chars_exact,
             {_DUCK_TOKENS} AS toks,
             len({_DUCK_TOKENS}) AS n_tokens,
             length(regexp_replace(text, '\\s+', '', 'g')) AS sum_token_chars,
             {_DUCK_HITS['en']} AS sw_hits,
             length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g')) * 1.0
               / length(text) AS punct_ratio,
             length(regexp_replace(text, '[^A-Z]', '', 'g')) * 1.0
               / length(text) AS upper_ratio,
             len(regexp_extract_all(text,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z][A-Za-z]+'))
               AS n_emails,
             {_DUCK_FP} AS fingerprint
      FROM documents),
    shingled AS (
      SELECT *,
             CASE WHEN n_tokens >= 3 THEN n_tokens - 2 ELSE 0 END AS n_tri,
             CASE WHEN n_tokens >= 3 THEN (
               SELECT count(DISTINCT array_to_string(b.toks[i+1:i+3], ' '))
               FROM UNNEST(range(0, n_tokens - 2)) AS t(i))
             ELSE 0 END AS n_tri_distinct
      FROM base b)
    SELECT doc_id, n_chars_exact, n_tokens, sum_token_chars,
           punct_ratio, upper_ratio,
           CAST(n_tokens >= 20 AS INT) AS enough_tokens,
           CAST(sum_token_chars * 1.0 / n_tokens >= 3
                AND sum_token_chars * 1.0 / n_tokens <= 10 AS INT) AS sane_token_len,
           CAST(sw_hits * 1.0 / n_tokens >= 0.02 AS INT) AS has_stopwords,
           CAST(punct_ratio <= 0.2 AS INT) AS low_punct,
           (CAST(n_tokens >= 20 AS INT)
            + CAST(sum_token_chars * 1.0 / n_tokens >= 3
                   AND sum_token_chars * 1.0 / n_tokens <= 10 AS INT)
            + CAST(sw_hits * 1.0 / n_tokens >= 0.02 AS INT)
            + CAST(punct_ratio <= 0.2 AS INT)) / 4.0 AS quality_score,
           CASE WHEN n_tri > 0
                THEN (n_tri - n_tri_distinct) * 1.0 / n_tri
                ELSE CAST(0.0 AS DOUBLE) END AS dup_trigram_frac,
           CAST(n_emails AS INT) AS n_emails,
           fingerprint,
           count(*) OVER (PARTITION BY fingerprint) AS group_size
    FROM shingled
    """,
    headline=True,
)
def text_doc_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The per-document profile a corpus pipeline computes in its first
    pass, as ONE codegen'd projection (merges r1's text_stats /
    text_quality_score / text_fingerprint — one §2 line): raw statistics
    (chars/tokens/punct/upper ratios), C4-style quality flags + mean
    score in [0,1] (the keep/drop filter stage), the Gopher-style
    repetition signal (fraction of duplicated word trigrams — boilerplate
    and degenerate text score high), a PII detection count (emails; the
    scrub stage masks what this counts), and the canonical-form md5
    fingerprint with duplicate-group sizes (formatting-insensitive
    exact-dedup key). One pass over text, no Python — the trigram
    dedup-fraction is array arithmetic (transform + array_distinct)
    inside codegen, not a shuffle; spread so the regex CPU runs at
    cluster parallelism even off a byte-small scan; the only shuffle is
    the fingerprint-group window."""
    d = _docs_spread(spark, sf_dir)
    t = F.col("text")
    flags = text.quality_flags(t)
    fp = text.fingerprint(t)
    toks = F.split(F.lower(t), r"\s+")
    n_tri = F.greatest(F.size(toks) - 2, F.lit(0))
    trigrams = F.expr(
        "transform(sequence(0, greatest(size(split(lower(text), '\\\\s+')) - 3, 0)),"
        " i -> concat_ws(' ', slice(split(lower(text), '\\\\s+'), i + 1, 3)))"
    )
    dup_frac = F.when(
        n_tri > 0,
        (n_tri - F.size(F.array_distinct(trigrams))) / n_tri.cast("double"),
    ).otherwise(F.lit(0.0))
    return d.select(
        "doc_id",
        F.length(t).alias("n_chars_exact"),
        text.n_tokens(t).alias("n_tokens"),
        text.sum_token_chars(t).alias("sum_token_chars"),
        text.punct_ratio(t).alias("punct_ratio"),
        text.upper_ratio(t).alias("upper_ratio"),
        *[c.cast("int").alias(name) for name, c in flags.items()],
        text.quality_score(t).alias("quality_score"),
        dup_frac.alias("dup_trigram_frac"),
        F.regexp_count(
            t, F.lit(r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z][A-Za-z]+")
        ).cast("int").alias("n_emails"),
        fp.alias("fingerprint"),
        F.count("*").over(W.partitionBy(fp)).alias("group_size"),
    )


# --- LR-branch oracle: the trained quality classifier's fixed-iteration
# gradient descent replayed as chained CTEs (the k-means-as-CTEs
# precedent, sim_topk_ivf). Feature extraction reuses the exact SQL
# fragments already hash-validated by the other text branches; each
# iteration CTE computes the 6 gradient sums + bias gradient from the
# previous iteration's scalar weights (CROSS JOIN + GROUP BY scalars).
_LR_D = 6
_LR_ITERS = 8
_LR_RATE, _LR_L2 = 0.5, 1e-4


def _lr_iter_cte(k: int) -> str:
    margin = "+".join(f"z.z{j}*p.w{j}" for j in range(_LR_D)) + "+p.b"
    err = f"(1.0/(1.0+exp(-({margin}))) - z.y)"
    ws = ", ".join(
        f"p.w{j} - {_LR_RATE}*(sum({err}*z.z{j})/m.n + {_LR_L2}*p.w{j})"
        f" AS w{j}"
        for j in range(_LR_D)
    )
    grp = ", ".join(f"p.w{j}" for j in range(_LR_D)) + ", p.b, m.n"
    return (
        f"it{k} AS (SELECT {ws}, p.b - {_LR_RATE}*(sum({err})/m.n) AS b "
        f"FROM lrz z, it{k - 1} p, lrm m GROUP BY {grp})"
    )


_LR_CTES = ",\n    ".join(
    [
        f"""lrf AS (
      SELECT CAST(len({_DUCK_TOKENS}) AS DOUBLE) AS nt,
             ln(1 + CAST(len({_DUCK_TOKENS}) AS DOUBLE)) AS x0,
             CAST(length(regexp_replace(text, '\\s+', '', 'g')) AS DOUBLE)
               / len({_DUCK_TOKENS}) AS x1,
             CAST({_DUCK_HITS['en']} AS DOUBLE) / len({_DUCK_TOKENS}) AS x2,
             coalesce(CAST(length(regexp_replace(text, '[A-Za-z0-9\\s]',
               '', 'g')) AS DOUBLE) / NULLIF(length(text), 0), 0.0) AS x3,
             coalesce(CAST(length(regexp_replace(text, '[^A-Z]', '', 'g'))
               AS DOUBLE) / NULLIF(length(text), 0), 0.0) AS x4,
             CAST(len(list_distinct({_DUCK_TOKENS})) AS DOUBLE)
               / len({_DUCK_TOKENS}) AS x5
      FROM documents)""",
        """lrl AS (
      SELECT x0, x1, x2, x3, x4, x5,
             CASE WHEN x1 >= 4.62 THEN 1.0 ELSE 0.0 END AS y
      FROM lrf)""",
        "lrm AS (SELECT CAST(count(*) AS DOUBLE) AS n, "
        + ", ".join(
            f"sum(x{j})/count(*) AS m{j}, "
            f"sqrt(greatest(sum(x{j}*x{j})/count(*)"
            f" - (sum(x{j})/count(*))*(sum(x{j})/count(*)), 1e-12)) AS s{j}"
            for j in range(_LR_D)
        )
        + " FROM lrl)",
        "lrz AS (SELECT "
        + ", ".join(f"(l.x{j} - m.m{j})/m.s{j} AS z{j}" for j in range(_LR_D))
        + ", l.y FROM lrl l, lrm m)",
        "it0 AS (SELECT "
        + ", ".join(f"0.0 AS w{j}" for j in range(_LR_D))
        + ", 0.0 AS b)",
    ]
    + [_lr_iter_cte(k) for k in range(1, _LR_ITERS + 1)]
)

# (+ 0.0 normalizes IEEE negative zero so a ~1e-9 weight can't hash
# differently across engines after rounding)
_LR_SELECT = "\n    UNION ALL\n".join(
    [
        f"""    SELECT 'lr', 'w{j}', CAST(NULL AS VARCHAR),
           CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
           round(w{j}, 6) + 0.0, CAST(NULL AS DOUBLE) FROM it{_LR_ITERS}"""
        for j in range(_LR_D)
    ]
    + [
        f"""    SELECT 'lr', 'bias', CAST(NULL AS VARCHAR),
           CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
           round(b, 6) + 0.0, CAST(NULL AS DOUBLE) FROM it{_LR_ITERS}"""
    ]
)

# knlm arm (r8 cont., operators/ngramlm.py): interpolated Kneser-Ney
# bigram LM trained on the doc_id % 3 <> 2 subset, scored over ALL
# documents — bigrams with unseen context/continuation exercise the
# 1/(V+1) backstop (n2 counts them, pinning the OOV path). Per-bigram
# log2 P is rounded at 6 places and summed as DECIMAL(38,6) (the
# dsir/lr exact-accumulation convention), so d1 hash-matches exactly.
_KN_CTES = """knb AS MATERIALIZED (SELECT doc_id, w[i+1] AS w1, w[i+2] AS w2
           FROM rtoks, UNNEST(range(0, len(w) - 1)) AS t(i)
           WHERE len(w) >= 2),
    knc12 AS MATERIALIZED (SELECT w1, w2, count(*) AS c12 FROM knb
              WHERE doc_id % 3 <> 2 GROUP BY w1, w2),
    knctx AS (SELECT w1, sum(c12) AS c1, count(*) AS n1f
              FROM knc12 GROUP BY w1),
    kncont AS (SELECT w2, count(*) AS n1b FROM knc12 GROUP BY w2),
    knconst AS (SELECT (SELECT count(*) FROM knc12) AS bb,
                       (SELECT count(DISTINCT u.uw) FROM
                          (SELECT UNNEST(w) AS uw FROM rtoks
                           WHERE doc_id % 3 <> 2) u) AS v),
    knlpd AS (SELECT b.doc_id,
        CASE WHEN x.c1 IS NOT NULL AND n.n1b IS NOT NULL THEN
          round(log2((greatest(4 * COALESCE(p.c12, 0) - 3, 0)
                        * CAST((SELECT bb FROM knconst) AS DOUBLE)
                      + 3 * CAST(x.n1f * n.n1b AS DOUBLE))
                     / (4 * CAST(x.c1 AS DOUBLE)
                        * CAST((SELECT bb FROM knconst) AS DOUBLE))), 6)
        ELSE round(log2(1.0 / ((SELECT v FROM knconst) + 1)), 6)
        END AS lp,
        CASE WHEN x.c1 IS NULL OR n.n1b IS NULL THEN 1 ELSE 0 END AS bs
      FROM knb b LEFT JOIN knc12 p ON b.w1 = p.w1 AND b.w2 = p.w2
                 LEFT JOIN knctx x ON b.w1 = x.w1
                 LEFT JOIN kncont n ON b.w2 = n.w2),
    knagg AS (SELECT doc_id, count(*) AS nb, sum(bs) AS nbs,
                     sum(CAST(lp AS DECIMAL(38,6))) AS slp
              FROM knlpd GROUP BY doc_id)"""


@query(
    "text_lang_token",
    oracle=f"""
    WITH {_LR_CTES},
    h AS (
      SELECT lang,
             {_DUCK_HITS['en']} AS en, {_DUCK_HITS['de']} AS de,
             {_DUCK_HITS['es']} AS es, {_DUCK_HITS['fr']} AS fr,
             length(regexp_replace(text, '[^\\x{{4e00}}-\\x{{9fff}}]', '', 'g'))
               AS cjk,
             length(text) AS n
      FROM documents),
    rtoks AS MATERIALIZED (SELECT doc_id, string_split_regex(lower(text), '\\s+') AS w
              FROM documents),
    g2 AS (SELECT doc_id, array_to_string(w[i+1:i+2], ' ') AS g
           FROM rtoks, UNNEST(range(0, len(w) - 1)) AS t(i)
           WHERE len(w) >= 2),
    g3 AS (SELECT doc_id, array_to_string(w[i+1:i+3], ' ') AS g
           FROM rtoks, UNNEST(range(0, len(w) - 2)) AS t(i)
           WHERE len(w) >= 3),
    c2 AS (SELECT doc_id, g, count(*) AS c FROM g2 GROUP BY doc_id, g),
    c3 AS (SELECT doc_id, g, count(*) AS c FROM g3 GROUP BY doc_id, g),
    s2 AS (SELECT doc_id, sum(c) AS tot, max(c) AS top,
                  COALESCE(sum(c) FILTER (WHERE c > 1), 0) AS dup
           FROM c2 GROUP BY doc_id),
    s3 AS (SELECT doc_id, sum(c) AS tot, max(c) AS top,
                  COALESCE(sum(c) FILTER (WHERE c > 1), 0) AS dup
           FROM c3 GROUP BY doc_id),
    psrc AS (SELECT CAST(least(greatest(
                      floor((CAST(n_chars AS DOUBLE) - 0.0) / 50.0),
                      0), 11) AS BIGINT) AS bin,
                    doc_id % 2 = 0 AS is_a
             FROM documents WHERE n_chars IS NOT NULL),
    pc AS (SELECT bin,
                  CAST(count(*) FILTER (WHERE is_a) AS DOUBLE) AS ca,
                  CAST(count(*) FILTER (WHERE NOT is_a) AS DOUBLE) AS cb
           FROM psrc GROUP BY bin),
    pt AS (SELECT CAST(sum(ca) AS DOUBLE) AS ta,
                  CAST(sum(cb) AS DOUBLE) AS tb FROM pc),
    pf AS (SELECT bin, ca / ta AS fa, cb / tb AS fb FROM pc, pt),
    dgr AS (SELECT doc_id, array_to_string(w[i+1:i+1], ' ') AS g
            FROM rtoks, UNNEST(range(0, greatest(len(w) - 1, 0) + 1)) AS t(i)
            UNION ALL
            SELECT doc_id, array_to_string(w[i+1:i+2], ' ') AS g
            FROM rtoks, UNNEST(range(0, greatest(len(w) - 2, 0) + 1)) AS t(i)),
    dcnt AS MATERIALIZED (SELECT doc_id,
                    ('0x' || substr(md5(g), 1, 8))::BIGINT % 1024 AS b,
                    count(*) AS c
             FROM dgr GROUP BY 1, 2),
    drawc AS (SELECT b, sum(c) AS r_b FROM dcnt GROUP BY 1),
    dtgtc AS (SELECT b, sum(c) AS t_b FROM dcnt
              WHERE doc_id % 50 = 0 GROUP BY 1),
    dlam AS (SELECT r.b,
                    CAST(round(
                      ln((COALESCE(t.t_b, 0) + 1.0) /
                         ((SELECT sum(t_b) FROM dtgtc) + 1024.0))
                      - ln((r.r_b + 1.0) /
                           ((SELECT sum(r_b) FROM drawc) + 1024.0)),
                      6) AS DECIMAL(18,6)) AS lam
             FROM drawc r LEFT JOIN dtgtc t ON r.b = t.b),
    dw AS (SELECT c.doc_id, sum(c.c) AS n_grams,
                  CAST(sum(CAST(c.c AS DECIMAL(12,0)) *
                           COALESCE(l.lam, CAST(0 AS DECIMAL(18,6))))
                       AS DECIMAL(38,6)) AS log_w
           FROM dcnt c LEFT JOIN dlam l ON c.b = l.b GROUP BY 1),
    dk AS (SELECT doc_id, n_grams, log_w,
                  CAST(log_w AS DOUBLE)
                  - ln(-ln((('0x' || substr(md5('dsir:' ||
                              CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                            + 0.5) / 4294967296.0)) AS g
           FROM dw),
    dsel AS (SELECT doc_id FROM dk ORDER BY g DESC, doc_id LIMIT 150),
    bph AS (SELECT DISTINCT phrase FROM
              -- DISTINCT over UNION ALL (kept from the WITH RECURSIVE
              -- era: under RECURSIVE DuckDB treats any set-op-shaped
              -- CTE as a recursive definition and stops deduplicating
              -- plain UNION; the scc arm now lives in
              -- rollup_hourly_to_daily but the robust form stays)
              (SELECT array_to_string(w[1:3], ' ') AS phrase
               FROM rtoks WHERE doc_id % 97 = 0
               UNION ALL
               SELECT array_to_string(w[1:1], ' ')
               FROM rtoks WHERE doc_id % 89 = 0) tt),
    tbc AS (SELECT doc_id, source,
                   CAST(len({_DUCK_TOKENS}) AS BIGINT) AS n_tok,
                   COALESCE(sum(CAST(len({_DUCK_TOKENS}) AS BIGINT)) OVER (
                     PARTITION BY source
                     ORDER BY ('0x' || substr(md5('mix:' ||
                               CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT,
                              doc_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                     0) AS cumb
            FROM documents),
    bp1 AS (SELECT t.doc_id, b.phrase, count(*) AS c
            FROM rtoks t
            CROSS JOIN UNNEST(range(0, len(w))) AS u(i)
            JOIN bph b ON len(string_split_regex(b.phrase, ' ')) = 1
                      AND b.phrase = array_to_string(w[i+1:i+1], ' ')
            GROUP BY 1, 2),
    bp3 AS (SELECT t.doc_id, b.phrase, count(*) AS c
            FROM rtoks t
            CROSS JOIN UNNEST(range(0, len(w) - 2)) AS u(i)
            JOIN bph b ON len(string_split_regex(b.phrase, ' ')) = 3
                      AND b.phrase = array_to_string(w[i+1:i+3], ' ')
            GROUP BY 1, 2),
    c4l AS (SELECT doc_id, i,
                   array_to_string(w[i*8+1 : i*8+8], ' ')
                   || CASE WHEN (doc_id + i) % 4 <> 0 THEN '.' ELSE '' END
                     AS line,
                   len(w[i*8+1 : i*8+8]) AS nw
            FROM rtoks, UNNEST(range(0, CAST(greatest(ceil(len(w)/8.0), 1)
                                        AS BIGINT))) AS t(i)),
    c4f AS (SELECT doc_id, i, line,
                   ((doc_id + i) % 4 <> 0 AND nw >= 5
                    AND NOT contains(line, 'javascript')
                    AND NOT contains(line, 'cookie policy')
                    AND NOT contains(line, 'uses cookies')) AS keep
            FROM c4l),
    c4s AS (SELECT doc_id, count(*) AS n_lines,
                   count(*) FILTER (WHERE keep) AS n_kept,
                   md5(COALESCE(string_agg(line, chr(10) ORDER BY i)
                                FILTER (WHERE keep), '')) AS fp,
                   (count(*) FILTER (WHERE keep) >= 3
                    AND NOT bool_or(contains(line, 'lorem ipsum'))
                    AND NOT bool_or(contains(line, '{{'))) AS keep_doc
            FROM c4f GROUP BY 1),
    gop AS (SELECT doc_id, len(w) AS n,
                   CAST(list_sum(list_transform(w, x -> len(x))) AS DOUBLE)
                     / len(w) AS mwl,
                   CAST(len(regexp_extract_all(text, '#'))
                        + len(regexp_extract_all(text, '\\.\\.\\.'))
                        AS DOUBLE) / len(w) AS symr,
                   CAST(len(list_filter(string_split(text, chr(10)),
                            l -> regexp_matches(trim(l), '^[-*•]')))
                        AS DOUBLE)
                     / len(string_split(text, chr(10))) AS bulr,
                   CAST(len(list_filter(string_split(text, chr(10)),
                            l -> regexp_matches(trim(l), '\\.\\.\\.$')))
                        AS DOUBLE)
                     / len(string_split(text, chr(10))) AS ellr,
                   CAST(len(list_filter(w, x -> regexp_matches(x, '[a-z]')))
                        AS DOUBLE) / len(w) AS alpha,
                   len(list_filter(
                     ['the','be','to','of','and','that','have','with'],
                     s -> list_contains(w, s))) AS sw
            FROM rtoks JOIN documents USING (doc_id)),
    pplb AS (SELECT k.doc_id, dd.lang,
                    ntile(3) OVER (PARTITION BY dd.lang
                                   ORDER BY k.log_w, k.doc_id) AS tile,
                    k.log_w
             FROM dw k JOIN documents dd ON k.doc_id = dd.doc_id),
    {_KN_CTES}
    SELECT 'lang' AS grp, lang AS k1,
           CASE WHEN cjk * 3 >= n THEN 'zh'
                WHEN en >= greatest(en, de, es, fr) THEN 'en'
                WHEN de >= greatest(de, es, fr) THEN 'de'
                WHEN es >= greatest(es, fr) THEN 'es'
                ELSE 'fr' END AS k2,
           count(*) AS n1, CAST(NULL AS BIGINT) AS n2,
           CAST(NULL AS DOUBLE) AS d1, CAST(NULL AS DOUBLE) AS d2
    FROM h GROUP BY 2, 3
    UNION ALL
    SELECT 'tokens', source, CAST(NULL AS VARCHAR),
           CAST(sum(len(regexp_extract_all(text,
             '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]'))) AS BIGINT),
           CAST(sum(len({_DUCK_TOKENS})) AS BIGINT),
           CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE)
    FROM documents GROUP BY 2
    UNION ALL
    SELECT 'rep2', CAST(doc_id AS VARCHAR), CAST(NULL AS VARCHAR),
           CAST(tot AS BIGINT), CAST(top AS BIGINT),
           top / tot, dup / tot
    FROM s2
    UNION ALL
    SELECT 'rep3', CAST(doc_id AS VARCHAR), CAST(NULL AS VARCHAR),
           CAST(tot AS BIGINT), CAST(top AS BIGINT),
           top / tot, dup / tot
    FROM s3
    UNION ALL
    SELECT 'psi', CAST(bin AS VARCHAR), CAST(NULL AS VARCHAR),
           CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
           round(fa, 6),
           round((greatest(fb, 1e-6) - greatest(fa, 1e-6))
                 * ln(greatest(fb, 1e-6) / greatest(fa, 1e-6)), 6)
    FROM pf
    UNION ALL
    SELECT 'domcap', source, CAST(doc_id AS VARCHAR),
           CAST(rn AS BIGINT), CAST(NULL AS BIGINT),
           CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE)
    FROM (SELECT source, doc_id,
                 row_number() OVER (PARTITION BY source
                   ORDER BY (doc_id * 1000003) % 7919, doc_id) AS rn
          FROM documents)
    WHERE rn <= 10
    UNION ALL
    SELECT 'domstats', source, CAST(NULL AS VARCHAR),
           count(*), CAST(sum(n_chars) AS BIGINT),
           CAST(sum(n_chars) AS DOUBLE) / count(n_chars),
           CAST(count(DISTINCT lang) AS DOUBLE)
    FROM documents GROUP BY source
    UNION ALL
    SELECT 'domfilter', source, CAST(NULL AS VARCHAR),
           count(*), CAST(NULL AS BIGINT),
           CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE)
    FROM documents WHERE source NOT IN ('src0', 'src1') GROUP BY source
    UNION ALL
    SELECT 'dsir', CAST(doc_id AS VARCHAR), CAST(NULL AS VARCHAR),
           CAST(n_grams AS BIGINT),
           CAST(doc_id IN (SELECT doc_id FROM dsel) AS BIGINT),
           CAST(log_w AS DOUBLE), round(g, 6)
    FROM dk
    UNION ALL
    SELECT 'tokbudget', source, CAST(doc_id AS VARCHAR),
           n_tok, CAST(NULL AS BIGINT),
           CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE)
    FROM tbc
    WHERE cumb < CASE WHEN source = (SELECT min(source) FROM documents)
                      THEN 1500 ELSE 2500 END
    UNION ALL
    SELECT 'blockphrase', CAST(doc_id AS VARCHAR), phrase,
           CAST(c AS BIGINT), CAST(NULL AS BIGINT),
           CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE)
    FROM (SELECT * FROM bp1 UNION ALL SELECT * FROM bp3)
    UNION ALL
    SELECT 'c4line', CAST(doc_id AS VARCHAR), fp,
           CAST(n_lines AS BIGINT), CAST(n_kept AS BIGINT),
           CAST(CAST(keep_doc AS INT) AS DOUBLE), CAST(NULL AS DOUBLE)
    FROM c4s
    UNION ALL
    SELECT 'gopher', CAST(doc_id AS VARCHAR), CAST(NULL AS VARCHAR),
           CAST(n AS BIGINT),
           CAST(CASE WHEN n BETWEEN 50 AND 100000 THEN 1 ELSE 0 END
              + CASE WHEN mwl >= 3.0 AND mwl <= 10.0 THEN 2 ELSE 0 END
              + CASE WHEN symr <= 0.1 THEN 4 ELSE 0 END
              + CASE WHEN bulr <= 0.9 THEN 8 ELSE 0 END
              + CASE WHEN ellr <= 0.3 THEN 16 ELSE 0 END
              + CASE WHEN alpha >= 0.8 THEN 32 ELSE 0 END
              + CASE WHEN sw >= 2 THEN 64 ELSE 0 END AS BIGINT),
           round(mwl, 6), round(alpha, 6)
    FROM gop
    UNION ALL
    SELECT 'pplbucket', CAST(doc_id AS VARCHAR),
           lang || ':' || CASE tile WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
                                    ELSE 'tail' END,
           CAST(tile AS BIGINT), CAST(NULL AS BIGINT),
           round(CAST(log_w AS DOUBLE), 6) + 0.0, CAST(NULL AS DOUBLE)
    FROM pplb
    UNION ALL
    -- url arm: the EXPECTED canonical form derived independently from
    -- the construction rules (scheme/host lowercased, :80 stripped but
    -- :8080 kept, trailing slash stripped, utm_* dropped, params
    -- sorted so a=1 precedes b=N, fragment gone)
    SELECT 'url', CAST(doc_id AS VARCHAR),
           (CASE WHEN doc_id % 2 = 0 THEN 'http' ELSE 'https' END)
           || '://site' || (doc_id % 7) || '.example.com'
           || (CASE WHEN doc_id % 2 <> 0 AND doc_id % 3 = 0
               THEN ':8080' ELSE '' END)
           || '/Path/' || (doc_id % 5)
           || '?a=1&b=' || (doc_id % 4),
           1, CAST(NULL AS BIGINT),
           CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE)
    FROM documents
    UNION ALL
    -- links arm: EXPECTED crawl edges from the construction rules (the
    -- url-arm pattern): relative hrefs resolve to scheme+host+/p/N,
    -- the ../ traversal lands on /q/N, &amp; decodes, mailto: dropped
    SELECT 'links',
           'https://site' || (doc_id % 7) || '.example.com/d/'
             || CAST(doc_id AS VARCHAR),
           'https://site' || (doc_id % 7) || '.example.com/p/'
             || ((doc_id * 7 + j) % 100) || '|anchor & ' || j,
           CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
           CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE)
    FROM documents, UNNEST(range(1, (doc_id % 3) + 2)) AS t(j)
    UNION ALL
    SELECT 'links',
           'https://site' || (doc_id % 7) || '.example.com/d/'
             || CAST(doc_id AS VARCHAR),
           'https://site' || (doc_id % 7) || '.example.com/q/'
             || (doc_id % 5) || '|up',
           CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
           CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE)
    FROM documents
    UNION ALL
    SELECT 'knlm', CAST(doc_id AS VARCHAR), CAST(NULL AS VARCHAR),
           CAST(nb AS BIGINT), CAST(nbs AS BIGINT),
           CAST(slp AS DOUBLE) + 0.0, CAST(NULL AS DOUBLE)
    FROM knagg
    UNION ALL
{_LR_SELECT}
    """,
)
def text_lang_token(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic language ID + corpus token accounting + within-document
    repetition, tag-unioned (merges r1's text_lang_id / text_token_count
    and round 6's repetition_profile — one §2 line + a Gopher filter).

    Lang branch: stopword-profile + CJK-density classifier as a (true
    lang × predicted) confusion matrix — the fixture's text is synthetic
    same-vocabulary noise, so the oracle checks the CLASSIFIER is
    computed identically, which is what the gate can prove. Tokens
    branch: whitespace tokens + a BPE-ish pre-tokenizer (letter runs /
    digit runs / single symbols) per source — the budget numbers every
    training-data pipeline reports. Repetition branches (rep2/rep3):
    per-document top-n-gram and duplicate-n-gram fractions
    (operators/text.py repetition_profile) — the MassiveText repetition
    filters; the fractions are single integer divisions, so the oracle
    matches them bit-exactly. Domain branches (domcap/domstats/
    domfilter, r8): see the inline comment below."""
    d = tracked_persist(_docs_spread(spark, sf_dir))
    t = F.col("text")
    null_d = F.lit(None).cast("double")
    lang = (
        d.select("lang", text.predicted_lang(t).alias("predicted"))
        .groupBy("lang", "predicted")
        .agg(F.count("*").alias("n_docs"))
        .select(
            F.lit("lang").alias("grp"),
            F.col("lang").alias("k1"),
            F.col("predicted").alias("k2"),
            F.col("n_docs").alias("n1"),
            F.lit(None).cast("long").alias("n2"),
            null_d.alias("d1"),
            null_d.alias("d2"),
        )
    )
    tokens = (
        d.groupBy("source")
        .agg(
            F.sum(text.bpe_ish_token_count(t)).alias("bpe_ish_tokens"),
            F.sum(text.n_tokens(t)).alias("ws_tokens"),
        )
        .select(
            F.lit("tokens").alias("grp"),
            F.col("source").alias("k1"),
            F.lit(None).cast("string").alias("k2"),
            F.col("bpe_ish_tokens").alias("n1"),
            F.col("ws_tokens").alias("n2"),
            null_d.alias("d1"),
            null_d.alias("d2"),
        )
    )
    rep = text.repetition_profile(d, "doc_id", "text", ns=(2, 3)).select(
        F.concat(F.lit("rep"), F.col("n").cast("string")).alias("grp"),
        F.col("doc_id").cast("string").alias("k1"),
        F.lit(None).cast("string").alias("k2"),
        F.col("total_ngrams").alias("n1"),
        F.col("top_ngram_count").alias("n2"),
        F.col("top_ngram_frac").alias("d1"),
        F.col("dup_ngram_frac").alias("d2"),
    )
    # psi branch (r6, operators/quality.py): n_chars drift between the
    # even- and odd-id halves of the corpus — the snapshot-vs-snapshot
    # distribution monitor; the oracle re-derives bucket fractions and
    # PSI terms from scratch (rounded at 6 places to absorb ln() ULP
    # differences, the scalar_math_json convention).
    psi = quality.psi_drift(
        d.filter(F.col("doc_id") % 2 == 0),
        d.filter(F.col("doc_id") % 2 == 1),
        "n_chars", 0.0, 600.0, bins=12,
    ).select(
        F.lit("psi").alias("grp"),
        F.col("bin").cast("string").alias("k1"),
        F.lit(None).cast("string").alias("k2"),
        F.lit(None).cast("long").alias("n1"),
        F.lit(None).cast("long").alias("n2"),
        F.round("frac_a", 6).alias("d1"),
        F.round("psi_term", 6).alias("d2"),
    )
    # lr branch (r7, operators/classifier.py): the trained quality
    # classifier's coefficients — deterministic full-batch GD with
    # decimal-exact gradients, so the oracle can REPLAY the whole fit as
    # chained CTEs (the k-means precedent) and hash-match every weight
    # at 6 places. The weak label is a mean-token-length split — chosen
    # for a NON-degenerate class balance on the fixture (the all-pass
    # heuristic label trains weights to ~0, which checks nothing); the
    # oracle pins the fit ALGORITHM, not the label policy.
    from basic_data_pipeline_spark.operators import classifier

    labeled = d.withColumn(
        "label",
        ((text.sum_token_chars(t) / text.n_tokens(t)) >= 4.62).cast("int"),
    )
    model = classifier.train_quality_lr(
        labeled, "label", n_iters=8, learn_rate=0.5, l2=1e-4
    )
    names = [f"w{j}" for j in range(len(model.weights))] + ["bias"]
    vals = list(model.weights) + [model.bias]
    lr = spark.createDataFrame(
        [(nm, float(v)) for nm, v in zip(names, vals)],
        "k1 string, raw double",
    ).select(
        F.lit("lr").alias("grp"),
        "k1",
        F.lit(None).cast("string").alias("k2"),
        F.lit(None).cast("long").alias("n1"),
        F.lit(None).cast("long").alias("n2"),
        (F.round("raw", 6) + F.lit(0.0)).alias("d1"),
        F.lit(None).cast("double").alias("d2"),
    )
    # domain branches (r8, operators/domains.py): per-domain quota
    # capping (RefinedWeb-style — kept ids AND their within-domain
    # ranks, so the oracle pins the salted two-phase window, not just
    # the survivor count), the per-domain curation stats row, and the
    # broadcast blocklist filter. The cap's rank key is an LCG on
    # doc_id ((id*1000003) % 7919) instead of the default xxhash64 so
    # DuckDB computes the identical permutation.
    cap_rk = F.pmod(F.col("doc_id") * F.lit(1000003), F.lit(7919))
    domcap = domains.domain_cap_ranked(
        d, "source", 10, rank_key=cap_rk
    ).select(
        F.lit("domcap").alias("grp"),
        F.col("domain").alias("k1"),
        F.col("doc_id").cast("string").alias("k2"),
        F.col("rank").cast("long").alias("n1"),
        F.lit(None).cast("long").alias("n2"),
        null_d.alias("d1"),
        null_d.alias("d2"),
    )
    domstats = domains.domain_stats(d, "source").select(
        F.lit("domstats").alias("grp"),
        F.col("domain").alias("k1"),
        F.lit(None).cast("string").alias("k2"),
        F.col("n_docs").alias("n1"),
        F.col("total_size").alias("n2"),
        F.col("mean_size").alias("d1"),
        F.col("n_langs").cast("double").alias("d2"),
    )
    blk = domains.domains_from_values(spark, ["src0", "src1"])
    domfilter = (
        domains.domain_filter(d, "source", blocklist=blk)
        .groupBy("source")
        .agg(F.count("*").alias("n"))
        .select(
            F.lit("domfilter").alias("grp"),
            F.col("source").alias("k1"),
            F.lit(None).cast("string").alias("k2"),
            F.col("n").alias("n1"),
            F.lit(None).cast("long").alias("n2"),
            null_d.alias("d1"),
            null_d.alias("d2"),
        )
    )
    # dsir branch (r8, operators/selection.py): DSIR importance
    # resampling — hashed-n-gram importance weights toward the
    # doc_id % 50 == 0 target slice (the corpus_pack_contam benchmark
    # convention) and the Gumbel-top-k sample. The weights are exact
    # DECIMAL sums over 6-place-rounded log-ratios and the Gumbel noise
    # is md5-derived, so DuckDB reproduces weight, key, AND the selected
    # set bit-for-bit; the sel_key is rounded at 6 places (the psi/ln
    # ULP convention). Selection membership comes from a broadcast join
    # against the orderBy().limit() top-k (TakeOrderedAndProject) — no
    # global-order window.
    raw_counts = tracked_persist(
        selection.hashed_ngram_counts(d, "doc_id", "text", 1024)
    )
    # the target is a SLICE of the raw pool, so its per-doc bucket
    # counts are a filter of the already-persisted raw features — no
    # second tokenize/hash pass (and structurally identical to the
    # oracle's dtgtc-from-dcnt derivation)
    tgt_counts = raw_counts.filter(F.col("doc_id") % 50 == 0)
    lam = selection.importance_log_ratios(tgt_counts, raw_counts, 1024)
    weights = selection.importance_log_weights(raw_counts, lam, "doc_id")
    keyed = tracked_persist(
        weights.withColumn(
            "sel_key", selection.gumbel_key(F.col("log_w"), F.col("doc_id"))
        )
    )
    top = (
        keyed.orderBy(F.desc("sel_key"), F.col("doc_id"))
        .limit(150)
        .select(F.col("doc_id").alias("sel_id"))
    )
    dsir = keyed.join(
        F.broadcast(top), keyed["doc_id"] == top["sel_id"], "left"
    ).select(
        F.lit("dsir").alias("grp"),
        F.col("doc_id").cast("string").alias("k1"),
        F.lit(None).cast("string").alias("k2"),
        F.col("n_grams").alias("n1"),
        F.col("sel_id").isNotNull().cast("long").alias("n2"),
        F.col("log_w").cast("double").alias("d1"),
        F.round("sel_key", 6).alias("d2"),
    )
    # tokbudget branch (r8, operators/sampling.py token_budget_mix):
    # greedy per-source TOKEN-budget fill in md5-rank order — the
    # trainers' unit ("N tokens of source X"), computed by the
    # group-generalized two-phase prefix sum (never a per-source
    # single-task window). Budgets: 1500 tokens for the alphabetically
    # first source, 2500 for every other — DuckDB replays the exact
    # rank order and integer cumsum as one window.
    sources = sorted(
        r["source"] for r in d.select("source").distinct().collect()
    )
    budgets = {s: 1500 if s == sources[0] else 2500 for s in sources}
    tokbud = sampling.token_budget_mix(
        d, budgets, text.n_tokens(t)
    ).select(
        F.lit("tokbudget").alias("grp"),
        F.col("source").alias("k1"),
        F.col("doc_id").cast("string").alias("k2"),
        text.n_tokens(t).cast("long").alias("n1"),
        F.lit(None).cast("long").alias("n2"),
        null_d.alias("d1"),
        null_d.alias("d2"),
    )
    # blockphrase branch (r8, operators/domains.py): the C4/CCNet
    # banned-phrase content gate — multi-word, token-boundary,
    # OVERLAPPING occurrence counts against a corpus-derived blocklist
    # (first 3 tokens of every doc_id % 97 == 0 doc + first token of
    # every doc_id % 89 == 0 doc: two distinct phrase lengths exercise
    # the per-length pass union, and DuckDB derives the identical list).
    wtok = F.filter(F.split(F.lower(t), r"\s+"), lambda x: F.length(x) > 0)
    ph = (
        d.filter(F.col("doc_id") % 97 == 0)
        .select(F.concat_ws(" ", F.slice(wtok, 1, 3)).alias("phrase"))
        .unionByName(
            d.filter(F.col("doc_id") % 89 == 0)
            .select(F.concat_ws(" ", F.slice(wtok, 1, 1)).alias("phrase"))
        )
    )
    blockphrase = domains.phrase_blocklist_hits(
        d, ph, "doc_id", "text"
    ).select(
        F.lit("blockphrase").alias("grp"),
        F.col("doc_id").cast("string").alias("k1"),
        F.col("phrase").alias("k2"),
        F.col("n_hits").alias("n1"),
        F.lit(None).cast("long").alias("n2"),
        null_d.alias("d1"),
        null_d.alias("d2"),
    )
    # c4line branch (r8-close, operators/text.py c4_line_clean): the C4
    # line-cleaning stage. The fixture's text is single-line, so the
    # branch SYNTHESIZES line structure both engines can rebuild: the
    # dedup_exact_fp lsegs convention (8-token segments) plus a
    # deterministic terminal '.' on segments with (doc_id + i) % 4 != 0
    # — the operator then genuinely inspects punctuation/word-count/
    # markers per line, and the oracle derives the same keeps from the
    # construction. k2 = md5 of the cleaned (kept-lines) text pins the
    # exact surviving content, not just counts.
    toks_l = F.split(F.lower(t), r"\s+")
    n_seg = F.greatest(
        F.ceil(F.size(toks_l) / F.lit(8.0)), F.lit(1).cast("long")
    ).cast("int")
    liney = F.array_join(
        F.transform(
            F.sequence(F.lit(0), n_seg - F.lit(1)),
            lambda i: F.concat(
                F.concat_ws(" ", F.slice(toks_l, i * F.lit(8) + F.lit(1), 8)),
                F.when(((F.col("doc_id") + i) % 4) != 0, F.lit("."))
                .otherwise(F.lit("")),
            ),
        ),
        "\n",
    )
    c4cols = text.c4_line_clean(liney)
    c4line = d.select(
        F.lit("c4line").alias("grp"),
        F.col("doc_id").cast("string").alias("k1"),
        F.md5(c4cols["cleaned"]).alias("k2"),
        c4cols["n_lines"].cast("long").alias("n1"),
        c4cols["n_kept"].cast("long").alias("n2"),
        c4cols["keep_doc"].cast("double").alias("d1"),
        null_d.alias("d2"),
    )
    # gopher branch (r8-close, operators/text.py gopher_quality_flags):
    # the MassiveText document-rule battery on the raw text — word
    # count, mean word length, symbol/bullet/ellipsis ratios, alpha-word
    # ratio, stopword presence — packed into the persisted bitmask form
    # (n2) plus the two continuous measures the oracle re-derives.
    g = text.gopher_quality_flags(t)
    gopher = d.select(
        F.lit("gopher").alias("grp"),
        F.col("doc_id").cast("string").alias("k1"),
        F.lit(None).cast("string").alias("k2"),
        g["n_words"].cast("long").alias("n1"),
        text.gopher_rule_mask(t).alias("n2"),
        F.round(g["mean_word_len"], 6).alias("d1"),
        F.round(g["alpha_word_ratio"], 6).alias("d2"),
    )
    # pplbucket branch (r8-close, operators/selection.py score_buckets):
    # CCNet-style per-language terciles over the DSIR log-weight (the
    # oracle's exact DECIMAL dw.log_w — already replayed for the dsir
    # branch, so the NTILE order is bit-identical in both engines).
    ppl = selection.score_buckets(
        keyed.select("doc_id", "log_w").join(
            d.select("doc_id", "lang"), "doc_id"
        ),
        "log_w", "lang", "doc_id", 3,
    )
    pplbucket = ppl.select(
        F.lit("pplbucket").alias("grp"),
        F.col("doc_id").cast("string").alias("k1"),
        F.concat_ws(":", F.col("lang"), F.col("bucket_label")).alias("k2"),
        F.col("bucket").cast("long").alias("n1"),
        F.lit(None).cast("long").alias("n2"),
        (F.round(F.col("log_w").cast("double"), 6) + F.lit(0.0)).alias("d1"),
        null_d.alias("d2"),
    )
    # url branch (r8-close, operators/urls.py): canonical_url over a
    # messy URL both engines synthesize identically from doc_id —
    # case-shifted scheme/host, default vs explicit port, tracking
    # params mixed into unsorted query params, trailing slash, fragment.
    # k2 = the canonical string pins every normalization rule at once;
    # n1 = 1 when url_host sees the lowercased host.
    from basic_data_pipeline_spark.operators import urls as URL

    messy = F.concat(
        F.when(F.col("doc_id") % 2 == 0, F.lit("HTTP://")).otherwise(
            F.lit("https://")
        ),
        F.lit("Site"),
        (F.col("doc_id") % 7).cast("string"),
        F.lit(".Example.COM"),
        F.when(F.col("doc_id") % 2 == 0, F.lit(":80")).otherwise(
            F.when(F.col("doc_id") % 3 == 0, F.lit(":8080")).otherwise(
                F.lit("")
            )
        ),
        F.lit("/Path/"),
        (F.col("doc_id") % 5).cast("string"),
        F.when(F.col("doc_id") % 3 == 0, F.lit("/")).otherwise(F.lit("")),
        F.lit("?utm_source=x&b="),
        (F.col("doc_id") % 4).cast("string"),
        F.lit("&a=1"),
        F.when(F.col("doc_id") % 2 == 1, F.lit("#frag")).otherwise(
            F.lit("")
        ),
    )
    urlb = d.select("doc_id", messy.alias("_u")).select(
        F.lit("url").alias("grp"),
        F.col("doc_id").cast("string").alias("k1"),
        URL.canonical_url(F.col("_u")).alias("k2"),
        (
            URL.url_host(F.col("_u"))
            == F.concat(
                F.lit("site"),
                (F.col("doc_id") % 7).cast("string"),
                F.lit(".example.com"),
            )
        )
        .cast("long")
        .alias("n1"),
        F.lit(None).cast("long").alias("n2"),
        null_d.alias("d1"),
        null_d.alias("d2"),
    )
    # links branch (r8 cont., operators/linkgraph.py extract_links):
    # the REAL crawl-edge path — synthetic HTML both engines' rules
    # agree on is pushed through the Arrow mapInPandas stdlib parser +
    # urljoin resolution; the oracle emits the EXPECTED (src, dst,
    # anchor) rows from the construction arithmetic (the url-arm
    # cross-check pattern): doc_id%3+1 relative links (/p/N resolved
    # against the page URL), one ../ traversal link, one mailto: the
    # parser must DROP. Entity decoding (&amp;) is pinned via the
    # anchor text.
    from basic_data_pipeline_spark.operators import linkgraph

    page_url = F.concat(
        F.lit("https://site"),
        (F.col("doc_id") % 7).cast("string"),
        F.lit(".example.com/d/"),
        F.col("doc_id").cast("string"),
    )
    rel = F.concat_ws(
        "",
        F.transform(
            F.sequence(F.lit(1), (F.col("doc_id") % 3).cast("int") + 1),
            lambda j: F.concat(
                F.lit('<a href="/p/'),
                ((F.col("doc_id") * 7 + j) % 100).cast("string"),
                F.lit('">anchor &amp; '),
                j.cast("string"),
                F.lit("</a>"),
            ),
        ),
    )
    html = F.concat(
        F.lit("<html><body>"),
        rel,
        F.lit('<a href="../q/'),
        (F.col("doc_id") % 5).cast("string"),
        F.lit('">up</a><a href="mailto:x@y.z">mail</a>'),
        F.lit("</body></html>"),
    )
    pages_syn = d.select(
        page_url.alias("target_uri"), html.alias("body")
    )
    linksb = linkgraph.extract_links(pages_syn).select(
        F.lit("links").alias("grp"),
        F.col("src").alias("k1"),
        F.concat_ws("|", F.col("dst"), F.col("anchor")).alias("k2"),
        F.lit(None).cast("long").alias("n1"),
        F.lit(None).cast("long").alias("n2"),
        null_d.alias("d1"),
        null_d.alias("d2"),
    )
    # knlm branch (r8 cont., operators/ngramlm.py): the module's REAL
    # train/score split — KN bigram model fit on doc_id % 3 != 2, scored
    # over everything; n2 pins the uniform-backstop (OOV) path, d1 is
    # the exact DECIMAL sum of 6-place-rounded per-bigram log2 P.
    from basic_data_pipeline_spark.operators import ngramlm

    kn = ngramlm.kneser_ney_lm_scores(
        d.select("doc_id", "text"),
        train=d.where(F.col("doc_id") % 3 != 2).select("doc_id", "text"),
    )
    knlm = kn.select(
        F.lit("knlm").alias("grp"),
        F.col("doc_id").cast("string").alias("k1"),
        F.lit(None).cast("string").alias("k2"),
        F.col("n_bigrams").alias("n1"),
        F.col("n_backstop").alias("n2"),
        (F.col("sum_lp").cast("double") + F.lit(0.0)).alias("d1"),
        null_d.alias("d2"),
    )
    return (
        lang.unionByName(tokens)
        .unionByName(rep)
        .unionByName(psi)
        .unionByName(domcap)
        .unionByName(domstats)
        .unionByName(domfilter)
        .unionByName(lr)
        .unionByName(dsir)
        .unionByName(tokbud)
        .unionByName(blockphrase)
        .unionByName(c4line)
        .unionByName(gopher)
        .unionByName(pplbucket)
        .unionByName(urlb)
        .unionByName(linksb)
        .unionByName(knlm)
    )


# --------------------------------------------------------------------------
# Deduplication
# --------------------------------------------------------------------------

_DUCK_SHINGLES = """
    toks AS (SELECT doc_id, string_split_regex(lower(text), '\\s+') AS w
             FROM documents),
    sh AS (SELECT DISTINCT doc_id, array_to_string(w[i+1:i+3], ' ') AS shingle
           FROM toks, UNNEST(range(0, greatest(len(w) - 3, 0) + 1)) AS t(i))
"""


@query(
    "dedup_exact_fp",
    headline=True,
    oracle=f"""
    WITH ltoks AS (SELECT doc_id, string_split_regex(lower(text), '\\s+') AS w
                   FROM documents),
    lsegs AS (SELECT doc_id, i AS line_no,
                     array_to_string(w[i*8+1 : i*8+8], ' ') AS line
              FROM ltoks, UNNEST(range(0, CAST(greatest(ceil(len(w)/8.0), 1)
                                          AS BIGINT))) AS t(i)),
    ldf AS (SELECT line, count(DISTINCT doc_id) AS dfreq
            FROM lsegs GROUP BY 1),
    lfirst AS (SELECT line, min(doc_id) AS fd FROM lsegs GROUP BY 1),
    lfirst2 AS (SELECT l.line, l.fd, min(s.line_no) AS fl
                FROM lfirst l
                JOIN lsegs s ON s.line = l.line AND s.doc_id = l.fd
                GROUP BY 1, 2),
    stoks AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w
              FROM documents),
    soc AS (SELECT doc_id, i AS pos,
                   array_to_string(w[i+1 : i+8], chr(1)) AS gram
            FROM stoks, UNNEST(range(0, len(w) - 8 + 1)) AS t(i)),
    sfirst AS (SELECT gram, count(*) AS n, min(doc_id) AS fd
               FROM soc GROUP BY 1),
    sfirst2 AS (SELECT f.gram, f.fd, min(o.pos) AS fp
                FROM sfirst f
                JOIN soc o ON o.gram = f.gram AND o.doc_id = f.fd
                WHERE f.n > 1 GROUP BY 1, 2),
    sdup AS (SELECT o.doc_id, o.pos
             FROM soc o JOIN sfirst2 f ON o.gram = f.gram
             WHERE NOT (o.doc_id = f.fd AND o.pos = f.fp)),
    scov AS (SELECT DISTINCT doc_id, pos + j AS tpos
             FROM sdup, UNNEST(range(0, 8)) AS u(j)),
    sisl AS (SELECT doc_id, pos,
                    CASE WHEN pos - lag(pos) OVER
                         (PARTITION BY doc_id ORDER BY pos) <= 8
                         THEN 0 ELSE 1 END AS brk
             FROM sdup),
    sspans AS (SELECT doc_id, min(pos) AS s, max(pos) + 7 AS e
               FROM (SELECT doc_id, pos,
                            sum(brk) OVER (PARTITION BY doc_id
                                           ORDER BY pos) AS grp
                     FROM sisl)
               GROUP BY doc_id, grp)
    SELECT 'raw' AS kind, min(doc_id) AS doc_id, count(*) AS group_size
    FROM documents GROUP BY text
    UNION ALL
    SELECT 'fingerprint', min(doc_id), count(*)
    FROM documents GROUP BY {_DUCK_FP}
    UNION ALL
    SELECT 'line_common', s.doc_id, count(*)
    FROM lsegs s JOIN ldf USING (line)
    WHERE ldf.dfreq <= 2 GROUP BY 2
    UNION ALL
    SELECT 'line_first', s.doc_id, count(*)
    FROM lsegs s JOIN lfirst2 f
      ON s.line = f.line AND s.doc_id = f.fd AND s.line_no = f.fl
    GROUP BY 2
    UNION ALL
    SELECT 'substr', t.doc_id, count(*)
    FROM (SELECT doc_id, i AS tpos
          FROM stoks, UNNEST(range(0, len(w))) AS t(i)) t
    LEFT JOIN scov c ON t.doc_id = c.doc_id AND t.tpos = c.tpos
    WHERE c.doc_id IS NULL GROUP BY 2
    UNION ALL
    SELECT 'substr_span', doc_id, CAST(sum(s + e) AS BIGINT)
    FROM sspans GROUP BY 2
    """,
)
def dedup_exact_fp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup at BOTH granularities, tag-unioned (merges r1's
    dedup_exact / dedup_fingerprint and r6's line-level dedup — one
    registry slot):

    `raw` / `fingerprint` — document-level hash-groupBy (minimum doc_id
    survives; at corpus scale the key is a 128-bit content hash so the
    shuffle carries no text); the canonical fingerprint catches
    formatting-only duplicates the raw key misses.

    `line_common` / `line_first` — sub-document dedup
    (operators/dedup.py line-granular family): the corpus is segmented
    into 8-word lines, then per-doc SURVIVING-line counts under the two
    rules — drop lines in >2 distinct docs (C4/RefinedWeb boilerplate
    removal), and keep only the globally first occurrence of each line
    (span dedup). The oracle replays segmentation, doc-frequency, and
    first-occurrence arithmetic exactly.

    `substr` / `substr_span` — EXACT SUBSTRING dedup
    (operators/substring.py, the Lee et al. suffix-array policy as
    relational algebra): every repeated ≥8-token window is removed
    except its globally first occurrence. `substr` counts each doc's
    surviving tokens through the public one-call rewrite; `substr_span`
    checksums the MERGED maximal span boundaries (Σ span_start+span_end
    per doc), so the oracle pins the window-hash match, the
    first-occurrence rule, AND the span-merge arithmetic (DuckDB replays
    all three on raw gram strings — no hashing — making the branch also
    a collision audit of the xxhash64 fingerprints)."""
    d = _t(spark, sf_dir, "documents")
    raw = dedup.exact_dedup_survivors(d, "doc_id", F.col("text")).select(
        F.lit("raw").alias("kind"), "doc_id", "group_size"
    )
    fp = dedup.exact_dedup_survivors(
        d, "doc_id", text.fingerprint(F.col("text"))
    ).select(F.lit("fingerprint").alias("kind"), "doc_id", "group_size")
    # segment persist KEPT: interleaved A/B (r12) shows removing it
    # loses (median 3.82 -> 4.09 at 32 cores) — segmentation is regex
    # CPU expensive enough to beat the cache barrier, unlike the span
    # subtree below.
    segs = tracked_persist(dedup.segment_word_lines(d, "doc_id", "text", 8))
    common = (
        dedup.dedup_lines(segs, "doc_id", "drop_common", 2)
        .groupBy("doc_id")
        .agg(F.count("*").alias("group_size"))
        .select(F.lit("line_common").alias("kind"), "doc_id", "group_size")
    )
    first = (
        dedup.dedup_lines(segs, "doc_id", "keep_first")
        .groupBy("doc_id")
        .agg(F.count("*").alias("group_size"))
        .select(F.lit("line_first").alias("kind"), "doc_id", "group_size")
    )
    # The duplicate-span subtree feeds BOTH substring arms but is NOT
    # persisted: the r11 persist regressed the driver's bench (median
    # 2.67 -> 4.14 s); interleaved A/B (r12)
    # confirmed persisting loses on 32 cores (median 3.82 vs 3.38) and
    # 8 cores (2.97 vs 2.67) — the two span pipelines run as concurrent
    # DAG branches cheaper than one serialized cache build. Guide §5.
    spans = substring.duplicate_spans(d, "doc_id", "text", 8)
    sub = substring.remove_spans(d, spans, "doc_id", "text").select(
        F.lit("substr").alias("kind"),
        "doc_id",
        F.col("n_tokens_kept").alias("group_size"),
    )
    span = (
        spans
        .groupBy("doc_id")
        .agg(
            F.sum(F.col("span_start") + F.col("span_end")).alias(
                "group_size"
            )
        )
        .select(F.lit("substr_span").alias("kind"), "doc_id", "group_size")
    )
    return (
        raw.unionByName(fp)
        .unionByName(common)
        .unionByName(first)
        .unionByName(sub)
        .unionByName(span)
    )


@query(
    "dedup_jaccard_truth",
    oracle=f"""
    WITH RECURSIVE {_DUCK_SHINGLES},
    sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
              FROM sh a JOIN sh b ON a.shingle = b.shingle
                                 AND a.doc_id < b.doc_id
              GROUP BY 1, 2),
    pairs AS (
      SELECT id_a, id_b, jaccard FROM (
        SELECT id_a, id_b, i * 1.0 / (sa.n + sb.n - i) AS jaccard
        FROM inter
        JOIN sizes sa ON sa.doc_id = id_a
        JOIN sizes sb ON sb.doc_id = id_b)
      WHERE jaccard >= 0.5),
    edges AS (SELECT id_a, id_b FROM pairs
              UNION SELECT id_b, id_a FROM pairs),
    reach AS (SELECT id_a AS a, id_b AS b FROM edges
              UNION
              SELECT r.a, e.id_b FROM reach r JOIN edges e ON r.b = e.id_a),
    cc AS (SELECT a AS doc_id, least(a, min(b)) AS cluster
           FROM reach GROUP BY a),
    spl AS (SELECT d.doc_id,
                   ('0x' || substr(md5('split:' ||
                      CAST(COALESCE(c.cluster, d.doc_id) AS VARCHAR)),
                      1, 8))::BIGINT % 1000000 AS bkt
            FROM documents d LEFT JOIN cc c ON c.doc_id = d.doc_id),
    wgr AS (SELECT doc_id, i AS pos,
                   ('0x' || substr(md5(array_to_string(w[i+1:i+3], ' ')),
                                   1, 8))::BIGINT AS h
            FROM toks, UNNEST(range(0, greatest(len(w) - 3, 0) + 1))
                 AS t(i)),
    wenc AS (SELECT doc_id, pos,
                    h * 2097152 + (2097151 - pos) AS enc
             FROM wgr),
    wmin AS (SELECT doc_id, pos,
                    min(enc) OVER (PARTITION BY doc_id ORDER BY pos
                                   ROWS BETWEEN 3 PRECEDING
                                            AND CURRENT ROW) AS em,
                    max(pos) OVER (PARTITION BY doc_id) AS mp
             FROM wenc),
    wsel AS (SELECT DISTINCT doc_id,
                    em // 2097152 AS fp,
                    2097151 - (em % 2097152) AS spos
             FROM wmin WHERE pos >= 3 OR pos = mp),
    wsum AS (SELECT doc_id, count(*) AS nf, sum(spos) AS sp,
                    sum(fp) AS shash
             FROM wsel GROUP BY 1),
    hbase AS (SELECT doc_id,
                     (('0x' || substr(md5('ham:' || source || ':' || lang),
                                      1, 8))::BIGINT & 2147483647)
                       * 2147483648
                     + (('0x' || substr(md5('ham:' || source || ':' || lang),
                                        9, 8))::BIGINT & 2147483647)
                       AS base
              FROM documents),
    ham AS (SELECT doc_id,
                   xor(base, CASE doc_id % 3
                       WHEN 0 THEN 0
                       WHEN 1 THEN (1::BIGINT << (doc_id % 16))
                       ELSE (1::BIGINT << (doc_id % 16))
                            | (1::BIGINT << (16 + doc_id % 16))
                   END) AS ihash
            FROM hbase),
    hbnd AS (SELECT doc_id, ihash, i AS bi,
                    (ihash >> (i * 16)) & 65535 AS bv
             FROM ham, UNNEST(range(0, 4)) AS t(i)),
    hsum AS (SELECT doc_id, any_value(ihash) AS ihash,
                    sum(bv * (bi + 1)) AS ck
             FROM hbnd GROUP BY 1),
    hpair AS (SELECT DISTINCT a.doc_id AS ia, b.doc_id AS ib,
                     bit_count(xor(a.ihash, b.ihash)) AS hd
              FROM hbnd a JOIN hbnd b ON a.bi = b.bi AND a.bv = b.bv
                                     AND a.doc_id < b.doc_id
              WHERE bit_count(xor(a.ihash, b.ihash)) <= 3)
    SELECT 'pair' AS kind, id_a AS a, id_b AS b, jaccard FROM pairs
    UNION ALL
    SELECT 'survivor', doc_id, CAST(NULL AS BIGINT), CAST(NULL AS DOUBLE)
    FROM documents
    WHERE doc_id NOT IN (SELECT id_b FROM pairs)
    UNION ALL
    SELECT 'split', doc_id,
           CAST(CASE WHEN bkt < 800000 THEN 0 ELSE 1 END AS BIGINT),
           CAST(NULL AS DOUBLE)
    FROM spl
    UNION ALL
    SELECT 'winnow', doc_id, nf * 1000000000 + sp, CAST(shash AS DOUBLE)
    FROM wsum
    UNION ALL
    SELECT 'hamband', doc_id, ihash, CAST(ck AS DOUBLE) FROM hsum
    UNION ALL
    SELECT 'hamming', ia, ib, CAST(hd AS DOUBLE) FROM hpair
    """,
)
def dedup_jaccard_truth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT word-3-gram Jaccard ground truth, tag-unioned with the
    surviving corpus (merges r1's dedup_ngram_jaccard /
    dedup_near_survivors). Pair branch: the inverted-index all-pairs join
    — the ground-truth verifier the approximate paths (MinHash/SimHash)
    are measured against; quadratic in hot-shingle doc frequency, so it
    must NEVER be the production path (that is dedup_lsh_verified).
    Survivor branch: greedy keep-lowest-id — every doc appearing as the
    higher id of a dup pair is dropped; transitive chains collapse onto
    their minimum element without iterative connected components.
    Split branch (r8, operators/sampling.py leakage_safe_splits):
    cluster-atomic train/test assignment — every member of a duplicate
    component takes its component's split, so near-dups never straddle
    the boundary; the oracle recomputes the components with a RECURSIVE
    transitive closure (robust to any chain length, not a fixed
    iteration count) and replays the md5-prefix bucket exactly."""
    d = _t(spark, sf_dir, "documents")
    sh = dedup.word_shingles(d, "doc_id", "text", 3)
    pairs = dedup.jaccard_pairs(sh, "doc_id", 0.5)
    # Pairs feed all branches — persist so the shingle+join pipeline
    # computes once (released by the caller's action completing; see
    # operators/dedup.py persist policy).
    pairs = tracked_persist(pairs)
    pair_rows = pairs.select(
        F.lit("pair").alias("kind"),
        F.col("id_a").alias("a"),
        F.col("id_b").alias("b"),
        "jaccard",
    )
    dropped = pairs.select(F.col("id_b").alias("doc_id")).distinct()
    survivors = d.join(dropped, "doc_id", "left_anti").select(
        F.lit("survivor").alias("kind"),
        F.col("doc_id").alias("a"),
        F.lit(None).cast("long").alias("b"),
        F.lit(None).cast("double").alias("jaccard"),
    )
    splits = sampling.leakage_safe_splits(
        d, pairs, {"train": 0.8, "test": 0.2}
    )
    split_rows = None
    for idx, frame in enumerate(splits.values()):
        rows = frame.select(
            F.lit("split").alias("kind"),
            F.col("doc_id").alias("a"),
            F.lit(idx).cast("long").alias("b"),
            F.lit(None).cast("double").alias("jaccard"),
        )
        split_rows = (
            rows if split_rows is None else split_rows.unionByName(rows)
        )
    # winnow branch (r8-close, operators/dedup.py winnow_fingerprints):
    # the MOSS local-fingerprinting scheme (k=3 grams, window 4,
    # rightmost-min tie rule). Per doc: b packs (count, Σpos) into one
    # int64 and jaccard carries Σhash (32-bit hashes — exact in
    # double), so the oracle pins the exact selected fingerprint SET
    # (positions and values) without emitting per-fingerprint rows.
    wf = dedup.winnow_fingerprints(d, "doc_id", "text", 3, 4)
    winnow = (
        wf.groupBy("doc_id")
        .agg(
            F.count("*").alias("nf"),
            F.sum("pos").alias("sp"),
            F.sum("fp").alias("shash"),
        )
        .select(
            F.lit("winnow").alias("kind"),
            F.col("doc_id").alias("a"),
            (F.col("nf") * F.lit(1_000_000_000) + F.col("sp"))
            .cast("long")
            .alias("b"),
            F.col("shash").cast("double").alias("jaccard"),
        )
    )
    # hamming branches (r8-close, operators/images.py): the perceptual
    # near-dup JOIN machinery — hash_bands (16-bit pigeonhole bands) +
    # banded self-join + bit_count(xor) verify — driven over a 62-bit
    # md5-derived hash both engines compute identically (pixel decode
    # itself is not SQL-expressible; this pins everything after it).
    # hamband: one row per doc, b = the 62-bit hash, jaccard = a
    # position-weighted band checksum (Σ bv·(bi+1), exact in double) —
    # the band SPLIT itself, not just the hash. hamming: the verified
    # pair set at budget 3 with the popcount distance in jaccard.
    from basic_data_pipeline_spark.operators import images as IMG

    # base hash per (source, lang) group XOR a per-doc 0/1/2-bit
    # perturbation: groups produce REAL near-dup structure (pair
    # distances 0..4 straddle the budget, so the popcount threshold
    # does actual work), and both engines compute every bit identically.
    M31 = 0x7FFFFFFF
    key = F.concat(F.lit("ham:"), F.col("source"), F.lit(":"), F.col("lang"))
    h1 = F.conv(F.substring(F.md5(key), 1, 8), 16, 10).cast("long")
    h2 = F.conv(F.substring(F.md5(key), 9, 8), 16, 10).cast("long")
    base = h1.bitwiseAND(F.lit(M31).cast("long")) * F.lit(2**31).cast(
        "long"
    ) + h2.bitwiseAND(F.lit(M31).cast("long"))
    bit1 = F.expr("shiftleft(CAST(1 AS BIGINT), CAST(doc_id % 16 AS INT))")
    bit2 = F.expr(
        "shiftleft(CAST(1 AS BIGINT), CAST(16 + doc_id % 16 AS INT))"
    )
    pert = (
        F.when(F.col("doc_id") % 3 == 0, F.lit(0).cast("long"))
        .when(F.col("doc_id") % 3 == 1, bit1)
        .otherwise(bit1.bitwiseOR(bit2))
    )
    hashes = d.select("doc_id", base.bitwiseXOR(pert).alias("ihash"))
    hamband = (
        IMG.hash_bands(hashes, 3, id_col="doc_id", hash_col="ihash")
        .groupBy("doc_id", "ihash")
        .agg(
            F.sum(F.col("bv") * (F.col("bi") + 1))
            .cast("double")
            .alias("_ck")
        )
        .select(
            F.lit("hamband").alias("kind"),
            F.col("doc_id").alias("a"),
            F.col("ihash").alias("b"),
            F.col("_ck").alias("jaccard"),
        )
    )
    hamming = IMG.image_near_dup_pairs(
        hashes, max_hamming=3, id_col="doc_id", hash_col="ihash"
    ).select(
        F.lit("hamming").alias("kind"),
        F.col("id_a").alias("a"),
        F.col("id_b").alias("b"),
        F.col("hamming").cast("double").alias("jaccard"),
    )
    return (
        pair_rows.unionByName(survivors)
        .unionByName(split_rows)
        .unionByName(winnow)
        .unionByName(hamband)
        .unionByName(hamming)
    )


@query(
    "dedup_minhash_lsh",
    oracle=f"""
    WITH {_DUCK_SHINGLES},
    sig AS (SELECT doc_id, j,
                   min(md5(CAST(j AS VARCHAR) || '|' || shingle)) AS mh
            FROM sh CROSS JOIN UNNEST(range(0, {dedup.N_HASHES})) AS t(j)
            GROUP BY doc_id, j),
    bands AS (SELECT doc_id, j // {dedup.N_HASHES // dedup.N_BANDS} AS band,
                     string_agg(lpad(CAST(j AS VARCHAR), 2, '0') || ':' || mh,
                                ',' ORDER BY j) AS bandkey
              FROM sig GROUP BY 1, 2)
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
    FROM bands a
    JOIN bands b ON a.band = b.band AND a.bandkey = b.bandkey
                AND a.doc_id < b.doc_id
    """,
    headline=True,
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup candidates: shingle → 16 md5-family minhashes
    → 4 bands → band-equality join. The O(n²) pair space never
    materializes — the join key is (band, bandkey). Deterministic hash
    family, so the oracle reproduces identical signatures."""
    d = _t(spark, sf_dir, "documents")
    sh = dedup.word_shingles(d, "doc_id", "text", 3, distinct=False)
    sig = dedup.minhash_signatures(sh, "doc_id")
    bands = dedup.lsh_bands(sig, "doc_id")
    return dedup.lsh_candidate_pairs(bands, "doc_id")


_DUCK_SIMHASH = """
    stoks AS (SELECT DISTINCT doc_id, t FROM (
        SELECT doc_id, UNNEST(string_split_regex(lower(text), '\\s+')) AS t
        FROM documents)),
    sh_h AS (SELECT doc_id, md5(t) AS m FROM stoks),
    sh_bits AS (
      SELECT doc_id, i // 4 AS p, i % 4 AS j,
             sum(((strpos('0123456789abcdef',
                          substr(m, CAST(i // 4 AS INT) + 1, 1)) - 1)
                  // CAST(power(2, i % 4) AS INT)) % 2 * 2 - 1) AS s
      FROM sh_h CROSS JOIN UNNEST(range(0, 64)) AS t(i)
      GROUP BY 1, 2, 3),
    sh_nib AS (
      SELECT doc_id, p,
             sum(CASE WHEN s > 0 THEN CAST(power(2, j) AS INT) ELSE 0 END)
               AS nibval
      FROM sh_bits GROUP BY 1, 2),
    sig AS (
      SELECT doc_id,
             string_agg(substr('0123456789abcdef', CAST(nibval AS INT) + 1, 1),
                        '' ORDER BY p) AS simhash
      FROM sh_nib GROUP BY doc_id)
"""


# NOTE: r1's standalone `dedup_simhash` (signatures only) merged into
# dedup_simhash_pairs below — the pairs pipeline computes and verifies the
# identical signatures (the oracle rebuilds them bit-for-bit) before banding.


@query(
    "dedup_simhash_pairs",
    oracle=f"""
    WITH {_DUCK_SIMHASH},
    chunks AS (SELECT doc_id, simhash, c,
                      substr(simhash, CAST(c * 4 AS INT) + 1, 4) AS chunk
               FROM sig CROSS JOIN UNNEST(range(0, 4)) AS t(c)),
    cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
                    a.simhash AS sig_a, b.simhash AS sig_b
             FROM chunks a
             JOIN chunks b ON a.c = b.c AND a.chunk = b.chunk
                          AND a.doc_id < b.doc_id),
    ham AS (
      SELECT id_a, id_b, sig_a, sig_b,
             CAST(sum(bit_count(xor(
               strpos('0123456789abcdef', substr(sig_a, CAST(p AS INT), 1)) - 1,
               strpos('0123456789abcdef', substr(sig_b, CAST(p AS INT), 1)) - 1
             ))) AS BIGINT) AS hamming
      FROM cand CROSS JOIN UNNEST(range(1, 17)) AS t(p)
      GROUP BY 1, 2, 3, 4)
    SELECT id_a, id_b, sig_a, sig_b, hamming FROM ham WHERE hamming <= 3
    """,
)
def dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs within Hamming ≤ 3 via 4-chunk banding
    (pigeonhole: ≤3 flipped bits over 4 chunks leave one chunk intact),
    then an exact popcount filter on candidates only. The 64-bit
    signatures themselves (16 hex chars; bit i of md5(token) votes ±1 —
    r1's standalone dedup_simhash) ride in the output, so the oracle
    checks them bit-for-bit alongside the pair set."""
    d = _t(spark, sf_dir, "documents")
    sig = dedup.simhash_signatures(d, "doc_id", "text")
    pairs = dedup.simhash_pairs(sig, "doc_id", 3, keep_sigs=True)
    return pairs.withColumn("hamming", F.col("hamming").cast("long"))


_DUCK_COS = (
    "list_inner_product({a}, {b}) / "
    "(sqrt(list_inner_product({a}, {a})) * sqrt(list_inner_product({b}, {b})))"
)


@query(
    "dedup_embedding_cosine",
    oracle=f"""
    SELECT id_a, id_b, cos FROM (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             {_DUCK_COS.format(a="CAST(a.embedding AS DOUBLE[])",
                               b="CAST(b.embedding AS DOUBLE[])")} AS cos
      FROM embeddings a
      JOIN embeddings b ON a.label = b.label AND a.vec_id < b.vec_id)
    WHERE cos >= 0.4
    """,
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space near-dup pairs: cosine ≥ 0.4 within label blocks
    (the fixture has no planted embedding dups, so the threshold sits in
    the natural-similarity tail — the operator and oracle still agree on
    every pair). Blocking keeps the join quadratic only per block."""
    e = _t(spark, sf_dir, "embeddings")
    return similarity.cosine_pairs(e, "label", 0.4)


# --------------------------------------------------------------------------
# Similarity search
# --------------------------------------------------------------------------


@query(
    "sim_topk_methods",
    oracle=f"""
    WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
               FROM embeddings WHERE vec_id < 5),
    c AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv
          FROM embeddings),
    p AS (SELECT query_id, neighbor_id,
                 {_DUCK_COS.format(a="qv", b="cv")} AS cos
          FROM q CROSS JOIN c WHERE query_id <> neighbor_id),
    brute AS (
      SELECT query_id, neighbor_id, rank FROM (
        SELECT query_id, neighbor_id,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY cos DESC, neighbor_id) AS rank
        FROM p)
      WHERE rank <= 5),
    bq AS (SELECT vec_id AS query_id, label,
                  CAST(embedding AS DOUBLE[]) AS qv
           FROM embeddings WHERE vec_id < 20),
    bc AS (SELECT vec_id AS neighbor_id, label,
                  CAST(embedding AS DOUBLE[]) AS cv
           FROM embeddings),
    bp AS (SELECT query_id, neighbor_id,
                  {_DUCK_COS.format(a="qv", b="cv")} AS cos
           FROM bq JOIN bc USING (label) WHERE query_id <> neighbor_id),
    blocked AS (
      SELECT query_id, neighbor_id, rank FROM (
        SELECT query_id, neighbor_id,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY cos DESC, neighbor_id) AS rank
        FROM bp)
      WHERE rank <= 3),
    dtoks AS (SELECT doc_id,
                     list_filter(string_split_regex(lower(text), '\\s+'),
                                 t -> len(t) > 0) AS w
              FROM documents),
    bstat AS (SELECT count(*) AS n_docs, sum(len(w)) AS sum_dl FROM dtoks),
    bpost AS (SELECT doc_id AS neighbor_id, len(w) AS dl, t AS term,
                     count(*) AS tf
              FROM dtoks, UNNEST(w) AS u(t) GROUP BY 1, 2, 3),
    bdf AS (SELECT term, count(*) AS df FROM bpost GROUP BY 1),
    bdf2 AS (SELECT term, df FROM bdf, bstat
             WHERE df <= n_docs * CAST(0.9 AS DOUBLE)),
    qt AS (SELECT DISTINCT doc_id AS query_id, t AS term
           FROM dtoks, UNNEST(w) AS u(t) WHERE doc_id < 5),
    bcon AS (SELECT query_id, neighbor_id,
             CAST(round(
               ln(1.0 + (n_docs - df + CAST(0.5 AS DOUBLE))
                        / (df + CAST(0.5 AS DOUBLE)))
               * ((tf * (CAST(1.2 AS DOUBLE) + 1.0))
                  / (tf + CAST(1.2 AS DOUBLE)
                          * ((1.0 - CAST(0.75 AS DOUBLE))
                             + ((CAST(0.75 AS DOUBLE) * dl)
                                / (CAST(sum_dl AS DOUBLE) / n_docs))))),
               6) AS DECIMAL(18,6)) AS c
             FROM bpost JOIN qt USING (term) JOIN bdf2 USING (term), bstat
             WHERE query_id <> neighbor_id),
    bscore AS (SELECT query_id, neighbor_id, SUM(c) AS s
               FROM bcon GROUP BY 1, 2),
    bm25 AS (SELECT query_id, neighbor_id, rank FROM (
        SELECT query_id, neighbor_id,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY s DESC, neighbor_id) AS rank
        FROM bscore)
      WHERE rank <= 5),
    rrfc AS (SELECT query_id, neighbor_id,
                    CAST(round(CAST(1.0 AS DOUBLE) / (60 + rank), 6)
                         AS DECIMAL(18,6)) AS c
             FROM brute
             UNION ALL
             SELECT query_id, neighbor_id,
                    CAST(round(CAST(1.0 AS DOUBLE) / (60 + rank), 6)
                         AS DECIMAL(18,6)) AS c
             FROM bm25),
    rrfs AS (SELECT query_id, neighbor_id, SUM(c) AS s
             FROM rrfc GROUP BY 1, 2),
    rrf AS (SELECT query_id, neighbor_id, rank FROM (
        SELECT query_id, neighbor_id,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY s DESC, neighbor_id) AS rank
        FROM rrfs)
      WHERE rank <= 5),
    sqlim AS (SELECT d, min(CAST(embedding[d+1] AS DOUBLE)) AS lo,
                     max(CAST(embedding[d+1] AS DOUBLE)) AS hi
              FROM embeddings, UNNEST(range(0, 64)) AS sq(d) GROUP BY d),
    sqarr AS (SELECT list(lo ORDER BY d) AS lo_arr,
                     list(hi ORDER BY d) AS hi_arr
              FROM sqlim),
    sqrec AS (SELECT vec_id AS neighbor_id,
                     [CASE WHEN hi_arr[d+1] = lo_arr[d+1] THEN lo_arr[d+1]
                           ELSE lo_arr[d+1]
                                + least(greatest(floor(
                                    (CAST(embedding[d+1] AS DOUBLE)
                                     - lo_arr[d+1])
                                    / ((hi_arr[d+1] - lo_arr[d+1]) / 255.0)
                                    + 0.5), 0), 255)
                                * ((hi_arr[d+1] - lo_arr[d+1]) / 255.0)
                      END FOR d IN range(0, 64)] AS xv
              FROM embeddings, sqarr),
    sqp AS (SELECT query_id, neighbor_id,
                   {_DUCK_COS.format(a="qv", b="xv")} AS cos
            FROM q CROSS JOIN sqrec WHERE query_id <> neighbor_id),
    sq8 AS (SELECT query_id, neighbor_id, rank FROM (
        SELECT query_id, neighbor_id,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY cos DESC, neighbor_id) AS rank
        FROM sqp)
      WHERE rank <= 5),
    afp AS (SELECT doc_id % 16 AS mid, doc_id // 16 AS t,
                   ('0x' || substr(md5('af:' || ((doc_id % 16) // 4) || ':'
                            || (doc_id // 16 + 5 * (doc_id % 16 % 4))),
                            1, 8))::BIGINT AS fh
            FROM documents WHERE doc_id < 1024),
    afok AS (SELECT fh FROM afp GROUP BY fh HAVING count(*) <= 200),
    afk AS (SELECT p.* FROM afp p JOIN afok USING (fh)),
    afv AS (SELECT a.mid AS ia, b.mid AS ib, a.t - b.t AS off,
                   count(*) AS v
            FROM afk a JOIN afk b ON a.fh = b.fh AND a.mid < b.mid
            GROUP BY 1, 2, 3),
    afbest AS (SELECT ia, ib, off, v,
                      row_number() OVER (PARTITION BY ia, ib
                                         ORDER BY v DESC, off) AS rk
               FROM afv)
    SELECT 'brute' AS method, query_id, neighbor_id, rank FROM brute
    UNION ALL
    SELECT 'blocked', query_id, neighbor_id, rank FROM blocked
    UNION ALL
    SELECT 'bm25', query_id, neighbor_id, rank FROM bm25
    UNION ALL
    SELECT 'rrf', query_id, neighbor_id, rank FROM rrf
    UNION ALL
    SELECT 'sq8', query_id, neighbor_id, rank FROM sq8
    UNION ALL
    SELECT 'audiomatch', ia, ib, (off + 100) * 1000 + v
    FROM afbest WHERE rk = 1 AND v >= 8
    """,
    headline=True,
)
def sim_topk_methods(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Similarity top-k, four strategies tag-unioned (merges r1's
    sim_topk_bruteforce / sim_topk_blocked — one §2 line; r8 adds the
    sparse and hybrid retrieval arms). Brute branch: exact top-5 cosine
    against the whole corpus (broadcast cross join + windowed top-k) —
    the correctness baseline every ANN path is measured against, viable
    only for broadcast-sized query sets. Blocked branch: IVF-style
    candidates restricted to the query's coarse cell (the fixture's
    `label`), turning the cross join into an equi-join that partitions
    by block — the shape that scales to billions of vectors. bm25
    branch (r8): lexical top-5 over `documents` via the inverted-index
    relational plan (retrieval.bm25_topk), querying docs 0-4 by their
    own text with self excluded and a 0.5 maxdf stopword cut — the
    oracle replays the whole scoring pipeline (postings, df, Lucene
    idf, round-6 DECIMAL sums) in SQL. rrf branch (r8): hybrid
    retrieval — reciprocal-rank fusion (k=60) of the dense brute ranks
    (vec_id space) with the sparse bm25 ranks (doc_id space; the
    fixture's ids align), the calibration-free way production search
    stacks combine the two."""
    e = _t(spark, sf_dir, "embeddings")
    # the spread docs frame feeds THREE consumers (the bm25 corpus side,
    # the query-doc slice, and the audiomatch constellation base) —
    # persisted (r11) so the scan+spread exchange runs once
    # the spread docs frame feeds three consumers (bm25 corpus side,
    # query-doc slice, audiomatch base) but is NOT persisted: the r11
    # persist here was the round's biggest driver-measured regression
    # (BENCH_r11 median 3.71 -> 8.26 s). Interleaved same-session A/B
    # (r12) confirmed it on 32 cores (median 5.74
    # persisted vs 3.33 not) AND 8 cores (5.29 vs 3.21): the cache build
    # serializes the scan+spread into a blocking unit and the cached
    # subtree loses AQE, while the duplicated scans run as concurrent
    # DAG branches. Guide §5: persist only when recompute costs more
    # than the barrier — a columnar scan+repartition does not.
    d = _docs_spread(spark, sf_dir)
    # brute_ranks and bm25_ranks each feed their own arm AND the rrf
    # fusion; persisting them was TRIED AND REVERTED in r11 — the cache
    # build serializes each rank pipeline into a blocking unit and the
    # cached subtree loses AQE, measured slower at sf0.1 on 32 AND 8
    # cores than letting the duplicated pipelines run as concurrent DAG
    # branches (see OPTIMIZATION_r11.md #4).
    brute_ranks = similarity.topk_neighbors(e.filter(F.col("vec_id") < 5), e, 5)
    brute = brute_ranks.select(
        F.lit("brute").alias("method"), "query_id", "neighbor_id", "rank"
    )
    blocked = similarity.topk_neighbors(
        e.filter(F.col("vec_id") < 20), e, 3, block_col="label"
    ).select(F.lit("blocked").alias("method"), "query_id", "neighbor_id", "rank")
    qdocs = d.filter(F.col("doc_id") < 5).select(
        F.col("doc_id").alias("query_id"), F.col("text").alias("query_text")
    )
    # max_df_frac=0.9: the fixture's synthetic vocabulary is uniformly
    # COMMON (every query term's df fraction sits at 0.75-0.80 at every
    # sf), so the conventional 0.5 stopword cut silently emptied this
    # arm — the oracle was "verifying" an empty-vs-empty match and rrf
    # degenerated to dense-only (r9 finding, caught by the per-arm
    # bench walls). 0.9 keeps the terms so the full scoring pipeline
    # (postings, Lucene idf, round-6 DECIMAL sums, top-k) is actually
    # hash-checked; the cut semantics themselves are pinned in
    # tests/test_retrieval.py.
    bm25_ranks = retrieval.bm25_topk(
        d, qdocs, 5, exclude_self=True, max_df_frac=0.9
    )
    bm25 = bm25_ranks.select(
        F.lit("bm25").alias("method"), "query_id", "neighbor_id", "rank"
    )
    rrf = retrieval.rrf_fuse(
        {"dense": brute_ranks, "sparse": bm25_ranks.select("query_id", "neighbor_id", "rank")},
        5,
    ).select(F.lit("rrf").alias("method"), "query_id", "neighbor_id", "rank")
    # sq8 branch (r8-close, operators/embeddings.py sq8_*): top-5 by
    # ASYMMETRIC cosine over 8-bit scalar-quantized candidates — the
    # compressed-index serving path. Fit, codes, reconstruction, and
    # the rank order are all deterministic double arithmetic (floor(q +
    # 0.5) rounding), so the oracle replays the whole quantizer and the
    # ranks hash-match exactly.
    from basic_data_pipeline_spark.operators import embeddings as emb_ops

    # the dim-row SQ8 model is folded into (lo_arr, hi_arr) at BOTH
    # consumption sites (encode + decode) — persisted (r11, re-confirmed
    # by interleaved A/B r12: wash-to-slight-win) so the posexplode +
    # min/max fit over every vector runs once, and each _sq8_arrays
    # fold reads 64 cached rows
    sq8_model = tracked_persist(emb_ops.sq8_fit(e))
    sq8 = emb_ops.sq8_search(
        e.filter(F.col("vec_id") < 5),
        emb_ops.sq8_encode(e, sq8_model),
        sq8_model,
        5,
    ).select(F.lit("sq8").alias("method"), "query_id", "neighbor_id", "rank")
    # audiomatch branch (r8-close, operators/audio.py): the
    # constellation MATCH machinery — fhash equi-join, per-pair offset
    # histogram, best-offset window, vote threshold — driven over a
    # synthetic constellation both engines derive identically from
    # doc_id: 16 "recordings" of 4-member groups whose members emit the
    # same group-keyed hash sequence shifted by 5 frames per member, so
    # the matcher must recover the exact planted offset 5·(m_b − m_a)
    # with votes = the overlap length. rank packs (offset+100, votes).
    from basic_data_pipeline_spark.operators import audio as AUD

    afp = d.filter(F.col("doc_id") < 1024).select(
        (F.col("doc_id") % 16).alias("media_id"),
        F.expr("CAST(doc_id div 16 AS INT)").alias("t"),
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.lit("af:"),
                        F.expr("(doc_id % 16) div 4"),
                        F.lit(":"),
                        F.expr("doc_id div 16 + 5 * (doc_id % 16 % 4)"),
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        )
        .cast("long")
        .alias("fhash"),
    )
    amatch = AUD.audio_match_pairs(afp, min_votes=8).select(
        F.lit("audiomatch").alias("method"),
        F.col("id_a").alias("query_id"),
        F.col("id_b").alias("neighbor_id"),
        ((F.col("offset") + 100) * 1000 + F.col("votes"))
        .cast("int")
        .alias("rank"),
    )
    return (
        brute.unionByName(blocked)
        .unionByName(bm25)
        .unionByName(rrf)
        .unionByName(sq8)
        .unionByName(amatch)
    )


@query(
    "sim_ann_lsh",
    oracle=f"""
    WITH planes AS (
      SELECT t, p,
             [CASE WHEN substr(md5(CAST(t*1000+p AS VARCHAR) || ':'
                                   || CAST(d AS VARCHAR)), 2, 1)
                        IN ('1','3','5','7','9','b','d','f')
                   THEN 1.0 ELSE -1.0 END
              FOR d IN range(0, 64)] AS hp
      FROM UNNEST(range(0, 8)) AS tt(t), UNNEST(range(0, 4)) AS pp(p)),
    vecs AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
             FROM embeddings),
    bits AS (SELECT vec_id, t,
                    CASE WHEN list_inner_product(v, hp) >= 0
                         THEN '1' ELSE '0' END AS bit, p
             FROM vecs CROSS JOIN planes),
    buckets AS (SELECT vec_id, t,
                       string_agg(bit, '' ORDER BY p) AS bucket
                FROM bits GROUP BY vec_id, t),
    cand AS (SELECT DISTINCT a.vec_id AS query_id, b.vec_id AS neighbor_id
             FROM buckets a
             JOIN buckets b ON a.t = b.t AND a.bucket = b.bucket
                           AND a.vec_id <> b.vec_id),
    scored AS (SELECT query_id, neighbor_id,
                      {_DUCK_COS.format(a="qa.v", b="qb.v")} AS cos
               FROM cand
               JOIN vecs qa ON qa.vec_id = query_id
               JOIN vecs qb ON qb.vec_id = neighbor_id)
    SELECT query_id, neighbor_id, rank, cos FROM (
      SELECT query_id, neighbor_id, cos,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY cos DESC, neighbor_id) AS rank
      FROM scored)
    WHERE rank <= 3
    """,
    headline=True,
)
def sim_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-3 via multi-table random-hyperplane LSH (8 tables
    × 4 fixed ±1 hyperplanes; candidates deduped before distance
    evaluation). Oracle-checked since round 5: the hyperplane components
    are md5-byte-parity (= parity of the md5 hex string's 2nd digit, so
    DuckDB rebuilds them exactly), and both engines compute every dot as
    the SAME sequential left-to-right fold (Spark `aggregate`, DuckDB
    `list_inner_product`), making buckets, candidate sets, cosines and
    ranks bit-identical. Recall ≈ 0.74 vs the brute-force baseline,
    asserted in tests/test_llm_ops.py.

    Resolution is AUTO (similarity.auto_n_planes): bucket occupancy is
    held constant as the corpus grows, so the candidate pair space stays
    linear in n instead of quadratic. At the oracle sf (500 vectors) the
    rule resolves to exactly the 4 planes the SQL replays; at bench sf
    and beyond it rises with log₂(n)."""
    e = _t(spark, sf_dir, "embeddings")
    return similarity.ann_topk_lsh(e, dim=64, k=3, n_planes=None, n_tables=8)


# --------------------------------------------------------------------------
# Multimodal plumbing
# --------------------------------------------------------------------------

_DUCK_MODALITY = (
    "CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image' "
    "WHEN 1 THEN 'audio' ELSE 'video' END"
)


@query(
    "multimodal_pipeline",
    oracle=f"""
    SELECT doc_id AS media_id, {_DUCK_MODALITY} AS modality,
           octet_length(encode(text)) AS n_bytes,
           CAST(64 + octet_length(encode(text)) % 512 AS INT) AS width,
           CAST(64 + (octet_length(encode(text)) * 31) % 512 AS INT) AS height,
           CAST(1 + octet_length(encode(text)) % 240 AS INT) AS n_frames,
           sha256(text) AS sha
    FROM documents
    """,
)
def multimodal_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Manifest + decode of the media lake in one plan (merges r1's
    multimodal_manifest / multimodal_decode_meta): the bookkeeping scan
    (modality, byte size, sha-256 content hash — computed JVM-side before
    the Python stage) rides through the mapInPandas decode (Arrow batches
    → vectorized pandas → typed schema) as a passthrough column. The
    codec itself is a deterministic fake (no image libs in this
    container), which makes the FULL Python-worker path oracle-checkable
    — schema, batching, passthrough, and arithmetic verified
    bit-for-bit."""
    media = multimodal.synth_media(_t(spark, sf_dir, "documents")).withColumn(
        "sha", F.sha2(F.col("data"), 256)
    )
    return multimodal.decode_media_meta(media, fake=True, passthrough=("sha",))


@query(
    "dedup_lsh_verified",
    oracle=f"""
    WITH {_DUCK_SHINGLES},
    sig AS (SELECT doc_id, j,
                   min(md5(CAST(j AS VARCHAR) || '|' || shingle)) AS mh
            FROM sh CROSS JOIN UNNEST(range(0, {dedup.N_HASHES})) AS t(j)
            GROUP BY doc_id, j),
    bands AS (SELECT doc_id, j // {dedup.N_HASHES // dedup.N_BANDS} AS band,
                     string_agg(lpad(CAST(j AS VARCHAR), 2, '0') || ':' || mh,
                                ',' ORDER BY j) AS bandkey
              FROM sig GROUP BY 1, 2),
    cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
             FROM bands a
             JOIN bands b ON a.band = b.band AND a.bandkey = b.bandkey
                         AND a.doc_id < b.doc_id),
    sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    inter AS (SELECT c.id_a, c.id_b, count(*) AS i
              FROM cand c
              JOIN sh a ON a.doc_id = c.id_a
              JOIN sh b ON b.doc_id = c.id_b AND b.shingle = a.shingle
              GROUP BY 1, 2)
    SELECT id_a, id_b, jaccard FROM (
      SELECT id_a, id_b, i * 1.0 / (sa.n + sb.n - i) AS jaccard
      FROM inter
      JOIN sizes sa ON sa.doc_id = id_a
      JOIN sizes sb ON sb.doc_id = id_b)
    WHERE jaccard >= 0.5
    """,
    headline=True,
)
def dedup_lsh_verified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production near-dedup pipeline: MinHash-LSH candidates →
    exact-Jaccard verify ON CANDIDATES ONLY (operators/dedup.py
    `jaccard_verify`). The all-pairs verifier blows up quadratically on
    hot shingles (measured 97 s at 16× data vs 24 s for this pipeline on
    the same worst case); verify-on-candidates is linear in the LSH
    output. The oracle reproduces the ENTIRE pipeline — signatures,
    banding, candidate set, and verification — in SQL; equivalence with
    the independent all-pairs verifier is asserted in
    tests/test_llm_ops.py. One distinct shingle set feeds BOTH minhash
    (min over a set == min over the multiset) and the verify stage."""
    d = _t(spark, sf_dir, "documents")
    # the distinct shingle set is consumed by BOTH the minhash signature
    # agg and the verify stage's participant prune, but NOT persisted:
    # the r11 persist regressed the driver's bench (median 1.94 ->
    # 2.57 s); interleaved A/B (r12) shows
    # persisting is a wash at 32 cores and LOSES at 8 (median 1.67 vs
    # 1.41, > 2·sem) — recomputing the tokenize→explode→distinct
    # pipeline concurrently beats the cache barrier. Guide §5.
    sh = dedup.word_shingles(d, "doc_id", "text", 3)  # set semantics
    sig = dedup.minhash_signatures(sh, "doc_id")
    cand = dedup.lsh_candidate_pairs(dedup.lsh_bands(sig, "doc_id"), "doc_id")
    return dedup.jaccard_verify(sh, cand, "doc_id", 0.5)


@query(
    "corpus_pack_contam",
    oracle="""
    WITH toks AS (SELECT doc_id, string_split_regex(lower(text), '\\s+') AS w
                  FROM documents),
    base AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS n_tok FROM toks),
    cum AS (SELECT doc_id, n_tok,
                   COALESCE(sum(n_tok) OVER (ORDER BY doc_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                     AS cum_before
            FROM base),
    sh AS (SELECT DISTINCT doc_id, array_to_string(w[i+1:i+8], ' ') AS shingle
           FROM toks, UNNEST(range(0, greatest(len(w) - 8, 0) + 1)) AS t(i)),
    hits AS (SELECT a.doc_id, count(DISTINCT a.shingle) AS contam_hits
             FROM sh a JOIN sh b ON a.shingle = b.shingle
                               AND b.doc_id % 50 = 0
                               AND b.doc_id <> a.doc_id
             GROUP BY a.doc_id)
    SELECT c.doc_id, c.n_tok,
           CAST(floor(c.cum_before / 256) AS BIGINT) AS seq_bin,
           CAST(c.cum_before % 256 AS BIGINT) AS bin_pos,
           CAST(c.doc_id % 50 = 0 AS INT) AS is_benchmark,
           COALESCE(h.contam_hits, 0) AS contam_hits,
           COALESCE(h.contam_hits, 0) AS contam_hits_bloom,
           CAST(COALESCE(h.contam_hits, 0) > 0 AS INT) AS contaminated
    FROM cum c LEFT JOIN hits h ON h.doc_id = c.doc_id
    """,
    headline=True,
)
def corpus_pack_contam(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-sequence packing + benchmark decontamination in one
    per-document result (operators/packing.py) — the two corpus-prep
    stages downstream of dedup that the round-4 surface lacked.

    Packing branch: every document's (seq_bin, bin_pos) in the stream of
    256-token training windows, via a DISTRIBUTED prefix sum (range
    partition → local scans → driver prefix over per-partition totals →
    broadcast offsets); a naive global-order window would serialize the
    corpus through one partition. Contamination branch: distinct shared
    8-grams against the synthetic benchmark set (doc_id % 50 = 0),
    shingle-join + countDistinct — linear in shingle volume, the
    benchmark side broadcast. ``contam_hits_bloom`` (r8) recomputes the
    SAME counts behind the Bloom prefilter
    (packing.contamination_hits_bloom, codegen bit probes at the corpus
    scan) while the oracle emits the exact counts twice — the hash gate
    is the losslessness proof of the prefilter. The oracle reproduces
    every branch exactly, including the window arithmetic."""
    d = _t(spark, sf_dir, "documents")
    ntok = text.n_tokens(F.col("text"))
    packed = packing.pack_sequences(d, "doc_id", ntok, 256)
    bench = d.filter(F.col("doc_id") % 50 == 0)
    # ONE corpus shingle pass and ONE benchmark shingle-stats frame feed
    # both the exact and the Bloom-prefiltered contamination paths (r11):
    # the two branches must stay separate computations (the hash gate
    # proves the prefilter lossless), but their INPUT frames are
    # identical — building them twice tokenized the whole corpus twice
    # and ran the bench aggregation three times (the Bloom build's
    # distinct-count + bit-word jobs re-derived it at construct).
    corpus_sh = tracked_persist(dedup.word_shingles(d, "doc_id", "text", 8))
    bench_sh = tracked_persist(
        packing.bench_shingle_stats(bench, "doc_id", "text", 8)
    )
    hits = packing.contamination_hits(
        d, bench, "doc_id", "text", 8,
        corpus_shingles=corpus_sh, bench_stats=bench_sh,
    )
    hits_b = packing.contamination_hits_bloom(
        d, bench, "doc_id", "text", 8,
        corpus_shingles=corpus_sh, bench_stats=bench_sh,
    ).withColumnRenamed("contam_hits", "_bloom_hits")
    contam = F.coalesce(F.col("contam_hits"), F.lit(0))
    return (
        packed.join(hits, "doc_id", "left")
        .join(hits_b, "doc_id", "left")
        .select(
            "doc_id",
            "n_tok",
            "seq_bin",
            "bin_pos",
            (F.col("doc_id") % 50 == 0).cast("int").alias("is_benchmark"),
            contam.alias("contam_hits"),
            F.coalesce(F.col("_bloom_hits"), F.lit(0)).alias(
                "contam_hits_bloom"
            ),
            (contam > 0).cast("int").alias("contaminated"),
        )
    )


# One Lloyd step in DuckDB: per-cell per-dim mean over the previous
# assignment (matches operators/similarity.py centroids(): SUM(x)/COUNT,
# list assembled in dimension order), then nearest-centroid re-assignment
# by the SAME sequential-fold cosine Spark computes (list_inner_product ==
# F.aggregate's left-to-right fold), ties broken by cell.
_DUCK_IVF_MEANS = """
  SELECT cell, list(m ORDER BY pos) AS c FROM (
    SELECT {cell_expr} AS cell, d - 1 AS pos, SUM(v[d]) / COUNT(*) AS m
    FROM {src} CROSS JOIN dims GROUP BY {cell_expr}, d)
  GROUP BY cell
"""

_DUCK_IVF_ASSIGN = """
  SELECT vec_id, v, cell{probe_out} FROM (
    SELECT {src}.vec_id, {src}.v, {cents}.cell,
           row_number() OVER (
             PARTITION BY {src}.vec_id
             ORDER BY list_inner_product(v, c) /
                      (sqrt(list_inner_product(v, v)) *
                       sqrt(list_inner_product(c, c))) DESC,
                      {cents}.cell) AS probe
    FROM {src} CROSS JOIN {cents})
  WHERE probe <= {nprobe}
"""


@query(
    "sim_topk_ivf",
    oracle=f"""
    WITH vecs AS (
      SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ),
    dims AS (SELECT UNNEST(range(1, 65)) AS d),
    c0 AS ({_DUCK_IVF_MEANS.format(cell_expr="label", src="vecs")}),
    a1 AS ({_DUCK_IVF_ASSIGN.format(src="vecs", cents="c0", nprobe=1, probe_out="")}),
    c1 AS ({_DUCK_IVF_MEANS.format(cell_expr="cell", src="a1")}),
    a2 AS ({_DUCK_IVF_ASSIGN.format(src="a1", cents="c1", nprobe=1, probe_out="")}),
    c2 AS ({_DUCK_IVF_MEANS.format(cell_expr="cell", src="a2")}),
    afinal AS ({_DUCK_IVF_ASSIGN.format(src="vecs", cents="c2", nprobe=2, probe_out=", probe")}),
    q AS (SELECT cell, vec_id AS query_id, v AS qv,
                 sqrt(list_inner_product(v, v)) AS qn
          FROM afinal),
    cc AS (SELECT cell, vec_id AS neighbor_id, v AS cv,
                  sqrt(list_inner_product(v, v)) AS cn
           FROM afinal WHERE probe = 1)
    SELECT query_id, neighbor_id, rank FROM (
      SELECT query_id, neighbor_id,
             row_number() OVER (
               PARTITION BY query_id
               ORDER BY list_inner_product(qv, cv) / (qn * cn) DESC,
                        neighbor_id) AS rank
      FROM q JOIN cc USING (cell)
      WHERE query_id <> neighbor_id)
    WHERE rank <= 3
    """,
)
def sim_topk_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real IVF search (the brief's named scale path): coarse centroids
    seeded from the label groups then refined with 2 deterministic Lloyd
    iterations (kmeans_refine — each iteration one bounded (cell × dim)
    shuffle), every vector assigned to its NEAREST centroid, queries
    probing their 2 nearest cells (nprobe=2). Unlike sim_topk_methods'
    blocked branch (given labels), the blocking key here is LEARNED —
    measured recall@3 on the fixture: 0.25 (nprobe=1, no training) →
    0.71 (nprobe=4, 2 iterations). Oracle-checked since round 6: the
    training loop is fully deterministic (seeded means, fixed iteration
    count, cell-id tie-breaks), so DuckDB replays seed-means → two
    re-assign/update rounds → nprobe fan-out → top-k with the same
    sequential-fold cosine (list_inner_product == F.aggregate's
    left-to-right fold) and matches ranks exactly; recall vs brute force
    and its monotonicity in nprobe/training stay asserted in
    tests/test_llm_ops.py."""
    e = _t(spark, sf_dir, "embeddings")
    return similarity.ivf_topk(
        e, dim=64, k=3, train_by="label", nprobe=2, train_iters=2
    )
