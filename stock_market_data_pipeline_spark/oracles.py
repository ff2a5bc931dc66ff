"""DuckDB oracle SQL, one entry per name in ``queries.QUERIES``.

The oracle replicates Spark's semantics in ANSI-ish SQL DuckDB runs over the
same parquet tables (pre-registered views). Key equivalences used:

* Spark ``window(ts, w, s)`` sliding-window assignment: every row belongs to
  exactly w/s windows with ``start = time_bucket(s, ts) - k*s`` for
  k ∈ [0, w/s) (windows are epoch-aligned, w divisible by s here).
* Spark ``stddev`` ≡ ``stddev_samp`` (sample; single-row group → NULL).
* Spark ``min_by(x, struct(ts, x))`` ≡ DuckDB ``(min(struct_pack(t := ts, p := x))).p``
  — the OHLC tie rule holds on BOTH engines even on duplicate timestamps
  (round-8 review); plain ``arg_min/arg_max`` remain only where the ordering key is unique
  per key in the test lake, so ties cannot occur).
* Double aggregates are rounded to 6 dp on BOTH sides (utils.round_doubles).
* DuckDB ``sum(BIGINT)`` returns HUGEINT → cast back to BIGINT to match
  Spark's long.
"""

from __future__ import annotations

# Canonical tick view over `events` (mirrors sources.ticks.ticks_from_events).
TICKS_CTE = """
ticks AS (
  SELECT event_type AS symbol,
         value      AS price,
         CAST(regexp_extract(props, '"k": (\\d+)', 1) AS BIGINT) AS volume,
         ts         AS "timestamp",
         event_id,
         user_id
  FROM events
)
"""

# Sliding-window expansions (Spark window() semantics, see module docstring).
# CTEs carry RAW aggregate values; rounding happens only in each query's
# final projection — threshold CASEs must compare raw values exactly like
# the Spark plans do, and price sums use decimal accumulation (2-dp source
# values → exact) so the avg is a deterministic double on any partitioning.
_AVG_EXACT = 'CAST(sum(CAST(round({col} * 100, 0) AS BIGINT)) AS DOUBLE) / 100.0 / count(*)'

_SLIDE_15M = f"""
m15 AS (
  SELECT t.symbol,
         time_bucket(INTERVAL 5 MINUTE, t."timestamp") - k.k * INTERVAL 5 MINUTE AS window_start,
         {_AVG_EXACT.format(col='t.price')} AS ma_15m,
         stddev_samp(t.price)           AS volatility_15m,
         CAST(sum(t.volume) AS BIGINT)  AS volume_sum_15m
  FROM ticks t CROSS JOIN generate_series(0, 2) k(k)
  GROUP BY 1, 2
)
"""

_SLIDE_1H = f"""
m1h AS (
  SELECT t.symbol,
         time_bucket(INTERVAL 10 MINUTE, t."timestamp") - k.k * INTERVAL 10 MINUTE AS window_start,
         {_AVG_EXACT.format(col='t.price')} AS ma_1h,
         stddev_samp(t.price)           AS volatility_1h,
         CAST(sum(t.volume) AS BIGINT)  AS volume_sum_1h
  FROM ticks t CROSS JOIN generate_series(0, 5) k(k)
  GROUP BY 1, 2
)
"""

_JOINED_CTE = f"""
joined AS (
  SELECT m15.symbol,
         m15.window_start,
         m15.window_start + INTERVAL 15 MINUTE AS window_15m_end,
         m1h.window_start + INTERVAL 60 MINUTE AS window_1h_end,
         m15.ma_15m, m1h.ma_1h,
         m15.volatility_15m, m1h.volatility_1h,
         m15.volume_sum_15m, m1h.volume_sum_1h
  FROM m15 JOIN m1h ON m15.symbol = m1h.symbol AND m15.window_start = m1h.window_start
)
"""

_JOINED_FINAL = """
SELECT symbol, window_start, window_15m_end, window_1h_end,
       round(ma_15m, 4) AS ma_15m, round(ma_1h, 4) AS ma_1h,
       round(volatility_15m, 4) AS volatility_15m,
       round(volatility_1h, 4) AS volatility_1h,
       volume_sum_15m, volume_sum_1h
FROM joined
"""

_JOINED = f"""
WITH {TICKS_CTE}, {_SLIDE_15M}, {_SLIDE_1H}, {_JOINED_CTE}
{_JOINED_FINAL}
"""

_TUMBLE_BLOCK = (
    """
  SELECT symbol,
         time_bucket(INTERVAL {mins} MINUTE, "timestamp") AS window_start,
         time_bucket(INTERVAL {mins} MINUTE, "timestamp") + INTERVAL {mins} MINUTE AS window_end,
         min("timestamp")                 AS first_ts,
         max("timestamp")                 AS last_ts,
         (min(struct_pack(t := "timestamp", p := price))).p      AS open_price,
         (max(struct_pack(t := "timestamp", p := price))).p      AS close_price,
         round("""
    + _AVG_EXACT.format(col="price")
    + """, 4)  AS avg_price,
         min(price)                       AS min_price,
         max(price)                       AS max_price,
         round(stddev_samp(price), 4)     AS volatility,
         CAST(sum(volume) AS BIGINT)      AS total_volume,
         count(*)                         AS tick_count,
         '{wtype}'                        AS window_type
  FROM ticks
  GROUP BY 1, 2
"""
)

# ---- similarity-search oracle building blocks (mirror operators/similarity.py) ----
from stock_market_data_pipeline_spark.operators.similarity import hyperplanes as _hyperplanes

_DIM = 64


def _sq_list_sum(vec: str) -> str:
    return (
        f"list_sum(list_transform(range(1, {_DIM + 1}), "
        f"i -> CAST({vec}[i] AS DOUBLE) * CAST({vec}[i] AS DOUBLE)))"
    )


_COSINE_EXPR = (
    f"round(list_sum(list_transform(range(1, {_DIM + 1}), "
    "i -> CAST(q_vec[i] AS DOUBLE) * CAST(c_vec[i] AS DOUBLE)))"
    f" / NULLIF(sqrt({_sq_list_sum('q_vec')}) * sqrt({_sq_list_sum('c_vec')}), 0.0), 6)"
)


def _bucket_sql(vec: str) -> str:
    terms = []
    for p, w in enumerate(_hyperplanes(_DIM)):
        lits = ", ".join(str(x) for x in w)
        proj = (
            f"list_sum(list_transform(range(1, {_DIM + 1}), "
            f"i -> CAST({vec}[i] AS DOUBLE) * (list_value({lits}))[i]))"
        )
        terms.append(f"(CASE WHEN {proj} > 0 THEN {1 << p} ELSE 0 END)")
    return " + ".join(terms)


_COSINE_TOPK_ORACLE = f"""
WITH q AS (SELECT vec_id AS query_id, embedding AS q_vec FROM embeddings WHERE vec_id % 50 = 0),
c AS (SELECT vec_id AS neighbor_id, embedding AS c_vec FROM embeddings),
scored AS (
  SELECT query_id, neighbor_id, {_COSINE_EXPR} AS cosine
  FROM c, q WHERE neighbor_id <> query_id
)
SELECT query_id, neighbor_id, cosine, rank FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
  FROM scored
) t WHERE rank <= 5
"""

def _cos_expr(a: str, b: str) -> str:
    return (
        f"round(list_sum(list_transform(range(1, {_DIM + 1}), "
        f"i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)))"
        f" / NULLIF(sqrt({_sq_list_sum(a)}) * sqrt({_sq_list_sum(b)}), 0.0), 6)"
    )


_IVF_TOPK_ORACLE = f"""
WITH pivots AS (
  SELECT vec_id AS pivot_id, embedding AS p_vec FROM embeddings
  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 32
),
c AS (SELECT vec_id AS neighbor_id, embedding AS c_vec FROM embeddings),
q AS (SELECT vec_id AS query_id, embedding AS q_vec FROM embeddings WHERE vec_id % 50 = 0),
c_assign AS (
  SELECT neighbor_id, pivot_id AS cell FROM (
    SELECT neighbor_id, pivot_id,
           row_number() OVER (PARTITION BY neighbor_id ORDER BY sim DESC, pivot_id) AS rn
    FROM (SELECT neighbor_id, pivot_id, {_cos_expr('c_vec', 'p_vec')} AS sim
          FROM c CROSS JOIN pivots) s
  ) t WHERE rn = 1
),
q_assign AS (
  SELECT query_id, pivot_id AS cell FROM (
    SELECT query_id, pivot_id,
           row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, pivot_id) AS rn
    FROM (SELECT query_id, pivot_id, {_cos_expr('q_vec', 'p_vec')} AS sim
          FROM q CROSS JOIN pivots) s
  ) t WHERE rn = 1
),
scored AS (
  SELECT qa.query_id, ca.neighbor_id, {_cos_expr('q_vec', 'c_vec')} AS cosine
  FROM c JOIN c_assign ca USING (neighbor_id)
  JOIN q_assign qa ON ca.cell = qa.cell
  JOIN q ON q.query_id = qa.query_id
  WHERE ca.neighbor_id <> qa.query_id
)
SELECT query_id, neighbor_id, cosine, rank FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
  FROM scored
) t WHERE rank <= 5
"""

# nprobe=4 variant: only the query-side assignment rank bound changes.
_IVF_TOPK_NPROBE4_ORACLE = _IVF_TOPK_ORACLE.replace(
    """           row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, pivot_id) AS rn
    FROM (SELECT query_id, pivot_id, {c} AS sim
          FROM q CROSS JOIN pivots) s
  ) t WHERE rn = 1""".format(c=_cos_expr('q_vec', 'p_vec')),
    """           row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, pivot_id) AS rn
    FROM (SELECT query_id, pivot_id, {c} AS sim
          FROM q CROSS JOIN pivots) s
  ) t WHERE rn <= 4""".format(c=_cos_expr('q_vec', 'p_vec')),
)
assert "rn <= 4" in _IVF_TOPK_NPROBE4_ORACLE  # replace() must have matched

_LSH_MULTIPROBE_ORACLE = f"""
WITH q0 AS (
  SELECT vec_id AS query_id, embedding AS q_vec, {_bucket_sql('embedding')} AS bucket0
  FROM embeddings WHERE vec_id % 50 = 0
),
q AS (
  SELECT query_id, q_vec,
         unnest(list_value(bucket0,
                {', '.join(f'xor(bucket0, {1 << p})' for p in range(8))})) AS bucket
  FROM q0
),
c AS (
  SELECT vec_id AS neighbor_id, embedding AS c_vec, {_bucket_sql('embedding')} AS bucket
  FROM embeddings
),
scored AS (
  SELECT query_id, neighbor_id, {_COSINE_EXPR} AS cosine
  FROM c JOIN q USING (bucket) WHERE neighbor_id <> query_id
)
SELECT query_id, neighbor_id, cosine, rank FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
  FROM scored
) t WHERE rank <= 5
"""

_LSH_TOPK_ORACLE = f"""
WITH q AS (
  SELECT vec_id AS query_id, embedding AS q_vec, {_bucket_sql('embedding')} AS bucket
  FROM embeddings WHERE vec_id % 50 = 0
),
c AS (
  SELECT vec_id AS neighbor_id, embedding AS c_vec, {_bucket_sql('embedding')} AS bucket
  FROM embeddings
),
scored AS (
  SELECT query_id, neighbor_id, {_COSINE_EXPR} AS cosine
  FROM c JOIN q USING (bucket) WHERE neighbor_id <> query_id
)
SELECT query_id, neighbor_id, cosine, rank FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
  FROM scored
) t WHERE rank <= 5
"""

# ---- near-dup oracle building blocks (mirror operators/neardup.py) ----
_P, _B, _R = 12, 4, 3
_SHINGLES_CTE = """
norm AS (
  SELECT doc_id,
         string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS words
  FROM documents
),
shingles AS (
  SELECT doc_id,
         unnest(list_distinct(list_transform(range(1, len(words) - 1),
                i -> array_to_string(list_slice(words, i, i + 2), ' ')))) AS shingle
  FROM norm
  WHERE len(words) >= 3
)
"""
# One md5 per shingle, P permutation values by 64-bit integer mixing —
# mirrors operators/neardup.py MINHASH_PRIME construction exactly (same hex
# slices, same arithmetic, all intermediates < 2^63).
_MH_PRIME = 72057594037927931  # 2^56 - 5
_MH_AGGS = ",\n         ".join(
    f"min((h1 + {p} * h2) % {_MH_PRIME}) AS mh_{p}" for p in range(_P)
)
_SIG_CTE = f"""
hashed AS (
  SELECT doc_id,
         ('0x' || substr(md5(shingle), 1, 14))::BIGINT  AS h1,
         ('0x' || substr(md5(shingle), 15, 14))::BIGINT AS h2
  FROM shingles
),
sig AS (
  SELECT doc_id,
         {_MH_AGGS}
  FROM hashed GROUP BY doc_id
)
"""
_BAND_EXPRS = ", ".join(
    "md5("
    + " || '|' || ".join(f"CAST(mh_{b * _R + r} AS VARCHAR)" for r in range(_R))
    + ")"
    for b in range(_B)
)
_SIG_LIST = ", ".join(f"mh_{p}" for p in range(_P))
_SIGARR_CTE = f"""
sig_arr AS (
  SELECT doc_id, list_value({_SIG_LIST}) AS sig,
         list_value({_BAND_EXPRS}) AS band_hashes
  FROM sig
)
"""
_SIMHASH_TERMS = " + ".join(
    f"(CASE WHEN list_sum(list_transform(hs, t -> ((t >> {b}) & 1) * 2 - 1)) > 0"
    f" THEN {1 << b} ELSE 0 END)"
    for b in range(16)
)
_SIMHASH_CTE = f"""
w AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+') AS words FROM documents),
h AS (SELECT doc_id,
             list_transform(words, x -> ('0x' || substr(md5(x), 1, 4))::INTEGER) AS hs
      FROM w),
sim AS (SELECT doc_id, {_SIMHASH_TERMS} AS simhash FROM h)
"""

_ROLL_CTE = """
roll AS (
  SELECT symbol, event_id, "timestamp", price, volume,
         CAST(sum(CAST(round(price * 100, 0) AS BIGINT)) OVER w5  AS DOUBLE) / 100.0 / count(*) OVER w5  AS ma_5,
         CAST(sum(CAST(round(price * 100, 0) AS BIGINT)) OVER w15 AS DOUBLE) / 100.0 / count(*) OVER w15 AS ma_15,
         CAST(sum(CAST(round(price * 100, 0) AS BIGINT)) OVER w30 AS DOUBLE) / 100.0 / count(*) OVER w30 AS ma_30,
         stddev_samp(price) OVER w5  AS pv5,
         stddev_samp(price) OVER w15 AS pv15
  FROM ticks
  WINDOW
    w5  AS (PARTITION BY symbol ORDER BY "timestamp", event_id ROWS BETWEEN 4  PRECEDING AND CURRENT ROW),
    w15 AS (PARTITION BY symbol ORDER BY "timestamp", event_id ROWS BETWEEN 14 PRECEDING AND CURRENT ROW),
    w30 AS (PARTITION BY symbol ORDER BY "timestamp", event_id ROWS BETWEEN 29 PRECEDING AND CURRENT ROW)
)
"""


def _mws_block(mins: int, wtype: str, primary: str, secondary: str | None, rollvol: str | None) -> str:
    # first(x ORDER BY ts), not arg_min: DuckDB's arg_min skips NULL values,
    # Spark's min_by returns the (possibly NULL) value at the min ordering —
    # and a NULL rolling stddev on a 1-row frame is a real, intended value.
    sec = (
        f'first({secondary} ORDER BY "timestamp")'
        if secondary
        else "CAST(NULL AS DOUBLE)"
    )
    rv = (
        f'first({rollvol} ORDER BY "timestamp")' if rollvol else "CAST(NULL AS DOUBLE)"
    )
    return f"""
  SELECT symbol,
         time_bucket(INTERVAL {mins} MINUTE, "timestamp") AS window_start,
         time_bucket(INTERVAL {mins} MINUTE, "timestamp") + INTERVAL {mins} MINUTE AS window_end,
         '{wtype}' AS window_type,
         CAST(sum(CAST(round(price * 100, 0) AS BIGINT)) AS DOUBLE) / 100.0 / count(*) AS avg_price,
         min(price)                  AS min_price,
         max(price)                  AS max_price,
         stddev_samp(price)          AS volatility,
         CAST(sum(volume) AS BIGINT) AS total_volume,
         count(*)                    AS tick_count,
         first({primary} ORDER BY "timestamp") AS ma_primary,
         {sec} AS ma_secondary,
         {rv}  AS rolling_volatility
  FROM roll GROUP BY 1, 2
"""


_MWS_ORACLE = f"""
WITH {TICKS_CTE}, {_ROLL_CTE},
b5 AS ({_mws_block(5, '5min', 'ma_5', 'ma_15', 'pv5')}),
b15 AS ({_mws_block(15, '15min', 'ma_15', 'ma_30', 'pv15')}),
b1h AS ({_mws_block(60, '1hour', 'ma_30', None, None)}),
u AS (SELECT * FROM b5 UNION ALL SELECT * FROM b15 UNION ALL SELECT * FROM b1h)
SELECT u.symbol, u.window_start, u.window_end, u.window_type,
       round(u.avg_price, 4) AS avg_price, u.min_price, u.max_price,
       round(u.volatility, 4) AS volatility, u.total_volume, u.tick_count,
       round(u.ma_primary, 4) AS ma_primary,
       round(u.ma_secondary, 4) AS ma_secondary,
       round(u.rolling_volatility, 4) AS rolling_volatility,
       CASE WHEN u.ma_primary > u.ma_secondary THEN 'bullish'
            WHEN u.ma_primary < u.ma_secondary THEN 'bearish'
            ELSE 'neutral' END AS price_trend,
       CASE WHEN u.volatility > 2.0 THEN 'high'
            WHEN u.volatility > 1.0 THEN 'medium'
            ELSE 'low' END AS volatility_level,
       CASE WHEN u.total_volume > h.volume_1h * 0.3 THEN 'high_activity'
            ELSE 'normal_activity' END AS volume_trend
FROM u
JOIN (SELECT symbol AS h_symbol, window_start AS h_start, total_volume AS volume_1h FROM b1h) h
  ON u.symbol = h.h_symbol AND date_trunc('hour', u.window_start) = h.h_start
"""

# ---- corpus curation oracle (mirrors plans/curation.py) ----
_QUALITY_RAW = """
SELECT doc_id, text,
       len(regexp_extract_all(text, '\\S+'))                   AS n_tokens,
       length(text)                                            AS n_chars,
       length(regexp_replace(text, '[^A-Za-z]', '', 'g'))      AS alpha,
       length(regexp_replace(text, '[^.,;:!?''"()]', '', 'g')) AS punct,
       regexp_extract_all(lower(text), '[a-z]+')               AS words
FROM documents
"""

_QSCORE = """least(1.0,
    0.25 * least(n_tokens / 100.0, 1.0)
  + 0.35 * (alpha / NULLIF(CAST(n_chars AS DOUBLE), 0.0))
  + 0.25 * least((len(list_filter(words, x -> x IN ('the','a','and','of','to','in','is','it','for','on','with','as')))
                  / NULLIF(CAST(n_tokens AS DOUBLE), 0.0)) * 4.0, 1.0)
  + 0.15 * (1.0 - least((punct / NULLIF(CAST(n_chars AS DOUBLE), 0.0)) * 10.0, 1.0)))"""

_LANG_CASE = """
CASE WHEN len(list_filter(words, x -> x IN ('the','a','and','of','to','in','is','it','for','on','with','as')))
        + len(list_filter(words, x -> x IN ('der','die','das','und','ist','von','mit','ein','nicht','auch')))
        + len(list_filter(words, x -> x IN ('el','los','las','una','y','es','por','que','con','para')))
        + len(list_filter(words, x -> x IN ('le','les','et','est','pour','dans','que','une','sur','pas'))) = 0 THEN 'unknown'
     WHEN len(list_filter(words, x -> x IN ('the','a','and','of','to','in','is','it','for','on','with','as')))
          >= len(list_filter(words, x -> x IN ('der','die','das','und','ist','von','mit','ein','nicht','auch')))
      AND len(list_filter(words, x -> x IN ('the','a','and','of','to','in','is','it','for','on','with','as')))
          >= len(list_filter(words, x -> x IN ('el','los','las','una','y','es','por','que','con','para')))
      AND len(list_filter(words, x -> x IN ('the','a','and','of','to','in','is','it','for','on','with','as')))
          >= len(list_filter(words, x -> x IN ('le','les','et','est','pour','dans','que','une','sur','pas'))) THEN 'en'
     WHEN len(list_filter(words, x -> x IN ('der','die','das','und','ist','von','mit','ein','nicht','auch')))
          >= len(list_filter(words, x -> x IN ('el','los','las','una','y','es','por','que','con','para')))
      AND len(list_filter(words, x -> x IN ('der','die','das','und','ist','von','mit','ein','nicht','auch')))
          >= len(list_filter(words, x -> x IN ('le','les','et','est','pour','dans','que','une','sur','pas'))) THEN 'de'
     WHEN len(list_filter(words, x -> x IN ('el','los','las','una','y','es','por','que','con','para')))
          >= len(list_filter(words, x -> x IN ('le','les','et','est','pour','dans','que','une','sur','pas'))) THEN 'es'
     ELSE 'fr' END
"""

_CURATION_ORACLE = f"""
WITH fq AS ({_QUALITY_RAW}),
q AS (
  SELECT doc_id, text, n_tokens,
         {_QSCORE} AS quality_score,
         {_LANG_CASE} AS lang_pred
  FROM fq
),
gated AS (SELECT * FROM q WHERE quality_score >= 0.5 AND n_tokens >= 10),
fp AS (
  SELECT doc_id, text,
         md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fingerprint
  FROM gated
),
canon AS (SELECT fingerprint, min(doc_id) AS canonical_id FROM fp GROUP BY 1),
ek AS (
  SELECT fp.doc_id, fp.text FROM fp JOIN canon USING (fingerprint)
  WHERE fp.doc_id = canon.canonical_id
),
norm2 AS (
  SELECT doc_id,
         string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS words
  FROM ek
),
shingles2 AS (
  SELECT doc_id,
         unnest(list_distinct(list_transform(range(1, len(words) - 1),
                i -> array_to_string(list_slice(words, i, i + 2), ' ')))) AS shingle
  FROM norm2 WHERE len(words) >= 3
),
hashed2 AS (
  SELECT doc_id,
         ('0x' || substr(md5(shingle), 1, 14))::BIGINT  AS h1,
         ('0x' || substr(md5(shingle), 15, 14))::BIGINT AS h2
  FROM shingles2
),
sig2 AS (
  SELECT doc_id,
         {_MH_AGGS}
  FROM hashed2 GROUP BY doc_id
),
sig_arr2 AS (
  SELECT doc_id, list_value({_SIG_LIST}) AS sig,
         list_value({_BAND_EXPRS}) AS band_hashes
  FROM sig2
),
bands2 AS (
  SELECT doc_id, g.b AS band, band_hashes[g.b + 1] AS band_hash
  FROM sig_arr2 CROSS JOIN generate_series(0, {_B - 1}) g(b)
),
cand2 AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands2 a JOIN bands2 b
    ON a.band = b.band AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id
),
pairs2 AS (
  SELECT c.doc_a, c.doc_b,
         round(len(list_filter(range(1, {_P + 1}), i -> sa.sig[i] = sb.sig[i])) / {_P}.0, 6) AS est_jaccard
  FROM cand2 c
  JOIN sig_arr2 sa ON sa.doc_id = c.doc_a
  JOIN sig_arr2 sb ON sb.doc_id = c.doc_b
),
dropped AS (SELECT DISTINCT doc_b AS doc_id FROM pairs2 WHERE est_jaccard >= 0.75)
SELECT g.doc_id, g.lang_pred, g.n_tokens, round(g.quality_score, 6) AS quality_score
FROM gated g
JOIN ek ON g.doc_id = ek.doc_id
LEFT JOIN dropped d ON g.doc_id = d.doc_id
WHERE d.doc_id IS NULL
"""

# Same CTE chain, transitive drop: recursive closure over the thresholded
# pair graph; keep only each component's min-id representative.
_CURATION_TRANSITIVE_ORACLE = (
    "WITH RECURSIVE "
    + _CURATION_ORACLE.split("WITH ", 1)[1].rsplit("dropped AS", 1)[0]
    + """
edges3 AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs2 WHERE est_jaccard >= 0.75
  UNION
  SELECT doc_b, doc_a FROM pairs2 WHERE est_jaccard >= 0.75
),
reach3(node, rid) AS (
  SELECT src, src FROM edges3
  UNION
  SELECT r.node, e.dst FROM reach3 r JOIN edges3 e ON e.src = r.rid
),
lbl3 AS (SELECT node, min(rid) AS cluster_id FROM reach3 GROUP BY node),
dropped AS (SELECT node AS doc_id FROM lbl3 WHERE node <> cluster_id)
SELECT g.doc_id, g.lang_pred, g.n_tokens, round(g.quality_score, 6) AS quality_score
FROM gated g
JOIN ek ON g.doc_id = ek.doc_id
LEFT JOIN dropped d ON g.doc_id = d.doc_id
WHERE d.doc_id IS NULL
"""
)

# PII patterns imported from the operator so oracle and engine can never
# drift; DuckDB regular strings keep backslashes literal, so the Java-regex
# source text doubles as RE2 source text (patterns avoid lookarounds for
# exactly this portability).
from stock_market_data_pipeline_spark.operators.textstats import PII_PATTERNS as _PII

_PII_EMAIL = _PII["email"]
_PII_PHONE = _PII["phone"]
_PII_SSN = _PII["ssn"]

# X67: int8-quantized shortlist + exact rerank (shared by the standalone
# query and the ann_recall union).
_QUANT_RERANK_ORACLE = f"""
WITH c AS (SELECT vec_id AS neighbor_id, embedding AS c_vec FROM embeddings),
q AS (SELECT vec_id AS query_id, embedding AS q_vec FROM embeddings WHERE vec_id % 50 = 0),
cq AS (
  SELECT neighbor_id,
         list_transform(c_vec,
           x -> CAST(COALESCE(round(CAST(x AS DOUBLE) / NULLIF(
                  list_reduce(list_transform(c_vec, y -> abs(CAST(y AS DOUBLE))),
                              (a, b) -> greatest(a, b)) / 127.0, 0.0), 0), 0.0)
                AS DOUBLE)) AS qv
  FROM c
),
approx AS (
  SELECT query_id, neighbor_id,
         round(list_sum(list_transform(range(1, {_DIM + 1}),
                 i -> CAST(q_vec[i] AS DOUBLE) * qv[i]))
           / NULLIF(sqrt({_sq_list_sum('q_vec')})
                    * sqrt(list_sum(list_transform(range(1, {_DIM + 1}),
                                    i -> qv[i] * qv[i]))), 0.0), 6) AS _approx
  FROM cq, q WHERE neighbor_id <> query_id
),
cand AS (
  SELECT query_id, neighbor_id FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY _approx DESC, neighbor_id) AS rn
    FROM approx
  ) t WHERE rn <= 20
),
rer AS (
  SELECT cand.query_id, cand.neighbor_id, {_cos_expr('q_vec', 'c_vec')} AS cosine
  FROM cand JOIN c USING (neighbor_id) JOIN q USING (query_id)
)
SELECT query_id, neighbor_id, cosine, rank FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
  FROM rer
) t WHERE rank <= 5
"""


ORACLES: dict[str, str] = {
    "price_trend_regression": f"""
WITH {TICKS_CTE}, x AS (
  SELECT symbol, price,
         CAST(epoch("timestamp") - epoch(TIMESTAMP '2024-01-01 00:00:00') AS DOUBLE) / 86400.0 AS x
  FROM ticks
)
SELECT symbol,
       round(regr_slope(price, x), 4)     AS slope_per_day,
       round(regr_intercept(price, x), 4) AS intercept,
       round(corr(price, x), 4)           AS time_corr,
       count(*)                           AS n_ticks
FROM x GROUP BY 1
""",
    "corpus_curation": _CURATION_ORACLE,
    "corpus_curation_transitive": _CURATION_TRANSITIVE_ORACLE,
    "multi_window_signals": _MWS_ORACLE,
    "cosine_topk": _COSINE_TOPK_ORACLE,
    "cosine_topk_vectorized": _COSINE_TOPK_ORACLE,
    "ivf_cosine_topk": _IVF_TOPK_ORACLE,
    "lsh_cosine_topk": _LSH_TOPK_ORACLE,
    # lsh_cosine_topk_multiprobe / ivf_cosine_topk_nprobe4 were consolidated
    # into the ann_recall row (SURVEY §2.10 growth discipline, round 13):
    # their oracles survive as _LSH_MULTIPROBE_ORACLE /
    # _IVF_TOPK_NPROBE4_ORACLE, embedded verbatim inside the ann_recall
    # oracle's variant UNION, so the knob variants stay oracle-audited
    # every time ann_recall is checked.
    # The BMP fixture is closed-form in doc_id (synthesize_bmp_assets):
    # w = 4 + id%13, h = 3 + id%7, gradient (rb+x, gb+y, bb+x+y) with
    # rb=id%200, gb=7id%200, bb=13id%200 — so the oracle predicts the
    # decoded geometry, byte size (54 + 4-byte-padded stride × h), channel
    # means, and top-left pixel without decoding anything.
    "multimodal_image_features": """
WITH p AS (
  SELECT doc_id,
         4 + doc_id % 13      AS w,
         3 + doc_id % 7       AS h,
         doc_id % 200         AS rb,
         (7 * doc_id) % 200   AS gb,
         (13 * doc_id) % 200  AS bb
  FROM documents
)
SELECT doc_id AS asset_id,
       'image' AS modality,
       CAST(54 + (((w * 3 + 3) // 4) * 4) * h AS BIGINT) AS n_bytes,
       CAST(w AS INTEGER) AS width,
       CAST(h AS INTEGER) AS height,
       'RGB' AS mode,
       TRUE AS decode_ok,
       round(rb + (w - 1) / 2.0, 6) AS mean_r,
       round(gb + (h - 1) / 2.0, 6) AS mean_g,
       round(bb + (w - 1) / 2.0 + (h - 1) / 2.0, 6) AS mean_b,
       CAST(rb AS INTEGER) AS top_left_r,
       CAST(gb AS INTEGER) AS top_left_g,
       CAST(bb AS INTEGER) AS top_left_b
FROM p
""",
    # Nearest-neighbor resize to 7×5: dst (dx,dy) reads src pixel
    # (floor(dx·w/7), floor(dy·h/5)), so resized channel means are the
    # gradient bases plus the mean of the gathered source coordinates —
    # computable as range() sums. resized_bytes = 54 + stride(7)·5 = 174.
    "multimodal_resize": """
WITH p AS (
  SELECT doc_id,
         4 + doc_id % 13      AS w,
         3 + doc_id % 7       AS h,
         doc_id % 200         AS rb,
         (7 * doc_id) % 200   AS gb,
         (13 * doc_id) % 200  AS bb
  FROM documents
), m AS (
  SELECT *,
         list_sum(list_transform(range(0, 7), dx -> (dx * w) // 7)) / 7.0 AS avg_x,
         list_sum(list_transform(range(0, 5), dy -> (dy * h) // 5)) / 5.0 AS avg_y
  FROM p
)
SELECT doc_id AS asset_id,
       CAST(54 + (((w * 3 + 3) // 4) * 4) * h AS BIGINT) AS n_bytes,
       CAST(7 AS INTEGER) AS target_w,
       CAST(5 AS INTEGER) AS target_h,
       CAST(174 AS BIGINT) AS resized_bytes,
       TRUE AS resize_ok,
       round(rb + avg_x, 6) AS mean_r,
       round(gb + avg_y, 6) AS mean_g,
       round(bb + avg_x + avg_y, 6) AS mean_b,
       CAST(rb AS INTEGER) AS top_left_r,
       CAST(gb AS INTEGER) AS top_left_g,
       CAST(bb AS INTEGER) AS top_left_b
FROM m
""",
    "multimodal_content_dedup": """
SELECT md5(text) AS content_hash,
       min(doc_id) AS canonical_asset_id,
       count(*)    AS dup_count
FROM documents
GROUP BY 1
""",
    "minhash_signatures": f"""
WITH {_SHINGLES_CTE}, {_SIG_CTE}
SELECT * FROM sig
""",
    "minhash_lsh_pairs": f"""
WITH {_SHINGLES_CTE}, {_SIG_CTE}, {_SIGARR_CTE},
bands AS (
  SELECT doc_id, g.b AS band, band_hashes[g.b + 1] AS band_hash
  FROM sig_arr CROSS JOIN generate_series(0, {_B - 1}) g(b)
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id
)
SELECT c.doc_a, c.doc_b,
       round(len(list_filter(range(1, {_P + 1}), i -> sa.sig[i] = sb.sig[i])) / {_P}.0, 6) AS est_jaccard
FROM cand c
JOIN sig_arr sa ON sa.doc_id = c.doc_a
JOIN sig_arr sb ON sb.doc_id = c.doc_b
""",
    "ngram_jaccard_pairs": f"""
WITH {_SHINGLES_CTE},
freq AS (SELECT shingle, count(*) AS df FROM shingles GROUP BY 1),
kept AS (SELECT s.doc_id, s.shingle FROM shingles s JOIN freq f USING (shingle)
         WHERE f.df BETWEEN 2 AND 50),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
  FROM kept a JOIN kept b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
sizes AS (SELECT doc_id, count(*) AS n FROM shingles GROUP BY 1)
SELECT doc_a, doc_b,
       round(inter / CAST(na.n + nb.n - inter AS DOUBLE), 6) AS jaccard
FROM inter
JOIN sizes na ON na.doc_id = doc_a
JOIN sizes nb ON nb.doc_id = doc_b
WHERE round(inter / CAST(na.n + nb.n - inter AS DOUBLE), 6) >= 0.5
""",
    "simhash_neardup_pairs": f"""
WITH {_SIMHASH_CTE},
bands AS (
  SELECT doc_id, simhash, 0 AS band, simhash >> 8 AS band_val FROM sim
  UNION ALL
  SELECT doc_id, simhash, 1 AS band, simhash & 255 AS band_val FROM sim
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         bit_count(xor(a.simhash, b.simhash)) AS hamming
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.band_val = b.band_val AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b, CAST(hamming AS INTEGER) AS hamming FROM cand WHERE hamming <= 3
""",
    "clean_cast_filter": """
SELECT event_type AS symbol,
       value      AS price,
       CAST(NULL AS DOUBLE) AS change,
       value      AS change_percent,
       CAST(regexp_extract(props, '"k": (\\d+)', 1) AS BIGINT) AS volume,
       ts         AS "timestamp"
FROM events
WHERE event_type IS NOT NULL AND value IS NOT NULL AND ts IS NOT NULL AND value > 0
""",
    "windowed_analytics": _JOINED,
    "multi_window_tumbling": f"""
WITH {TICKS_CTE}
{_TUMBLE_BLOCK.format(mins=5, wtype='5min')}
UNION ALL
{_TUMBLE_BLOCK.format(mins=15, wtype='15min')}
UNION ALL
{_TUMBLE_BLOCK.format(mins=60, wtype='1hour')}
""",
    "rolling_frames": f"""
WITH {TICKS_CTE}
SELECT symbol, event_id, "timestamp", price,
       round(CAST(sum(CAST(round(price * 100, 0) AS BIGINT)) OVER w5  AS DOUBLE) / 100.0 / count(*) OVER w5,  4) AS ma_5,
       round(CAST(sum(CAST(round(price * 100, 0) AS BIGINT)) OVER w15 AS DOUBLE) / 100.0 / count(*) OVER w15, 4) AS ma_15,
       round(CAST(sum(CAST(round(price * 100, 0) AS BIGINT)) OVER w30 AS DOUBLE) / 100.0 / count(*) OVER w30, 4) AS ma_30,
       round(stddev_samp(price) OVER w5,  4) AS price_volatility_5,
       round(stddev_samp(price) OVER w15, 4) AS price_volatility_15,
       round(CAST(sum(volume) OVER w5  AS DOUBLE) / count(*) OVER w5,  4) AS volume_ma_5,
       round(CAST(sum(volume) OVER w15 AS DOUBLE) / count(*) OVER w15, 4) AS volume_ma_15
FROM ticks
WINDOW
  w5  AS (PARTITION BY symbol ORDER BY "timestamp", event_id ROWS BETWEEN 4  PRECEDING AND CURRENT ROW),
  w15 AS (PARTITION BY symbol ORDER BY "timestamp", event_id ROWS BETWEEN 14 PRECEDING AND CURRENT ROW),
  w30 AS (PARTITION BY symbol ORDER BY "timestamp", event_id ROWS BETWEEN 29 PRECEDING AND CURRENT ROW)
""",
    "robust_zscore": f"""
WITH {TICKS_CTE}, med AS (
  SELECT symbol, median(price) AS m FROM ticks GROUP BY 1
), mad AS (
  SELECT t.symbol, median(abs(t.price - med.m)) AS d
  FROM ticks t JOIN med ON t.symbol = med.symbol GROUP BY 1
)
SELECT t.symbol, t.event_id, t.price,
       round((t.price - med.m) / NULLIF(mad.d * 1.4826, 0.0), 4) AS robust_z
FROM ticks t
JOIN med ON t.symbol = med.symbol
JOIN mad ON t.symbol = mad.symbol
""",
    "ewma": f"""
WITH {TICKS_CTE}, fr AS (
  SELECT symbol, event_id, "timestamp", price,
         list(price) OVER (PARTITION BY symbol ORDER BY "timestamp", event_id
                           ROWS BETWEEN 49 PRECEDING AND CURRENT ROW) AS xs
  FROM ticks
)
SELECT symbol, event_id, "timestamp", price,
       round(
         list_reduce(xs, (acc, x) -> acc * 0.9 + x)
         / ((1.0 - power(0.9, CAST(len(xs) AS DOUBLE))) / (1.0 - 0.9)), 4) AS ewma
FROM fr
""",
    "daily_ohlcv": f"""
WITH {TICKS_CTE}
SELECT symbol,
       CAST("timestamp" AS DATE)        AS date,
       (min(struct_pack(t := "timestamp", p := price))).p      AS daily_open,
       max(price)                       AS daily_high,
       min(price)                       AS daily_low,
       (max(struct_pack(t := "timestamp", p := price))).p      AS daily_close,
       CAST(sum(volume) AS BIGINT)      AS daily_volume,
       count(*)                         AS tick_count,
       round((max(struct_pack(t := "timestamp", p := price))).p - (min(struct_pack(t := "timestamp", p := price))).p, 6) AS daily_change
FROM ticks
GROUP BY 1, 2
""",
    "daily_change_close_over_close": f"""
WITH {TICKS_CTE}, d AS (
  SELECT symbol,
         CAST("timestamp" AS DATE)   AS date,
         (min(struct_pack(t := "timestamp", p := price))).p AS daily_open,
         max(price)                  AS daily_high,
         min(price)                  AS daily_low,
         (max(struct_pack(t := "timestamp", p := price))).p AS daily_close,
         CAST(sum(volume) AS BIGINT) AS daily_volume,
         count(*)                    AS tick_count
  FROM ticks GROUP BY 1, 2
)
SELECT *, round(daily_close - lag(daily_close) OVER (PARTITION BY symbol ORDER BY date), 6) AS daily_change
FROM d
""",
    "asof_join": """
WITH purchases AS (
  SELECT user_id, ts AS pts, event_id, value AS purchase_value
  FROM events WHERE event_type = 'purchase'
),
clicks AS (
  -- collapse duplicate (user, ts) clicks to the max value: DuckDB ASOF
  -- picks an arbitrary duplicate, Spark's tiebreak picks the greatest
  -- value tuple — this reduction makes both deterministic AND identical
  SELECT user_id, ts AS cts, max(value) AS last_click_value
  FROM events WHERE event_type = 'click' GROUP BY 1, 2
)
SELECT p.user_id, p.pts, p.event_id, p.purchase_value, c.last_click_value
FROM purchases p
ASOF LEFT JOIN clicks c ON p.user_id = c.user_id AND p.pts >= c.cts
""",
    "dedup_keep_last": f"""
WITH {TICKS_CTE}
SELECT symbol, price, volume, "timestamp", event_id, user_id
FROM ticks
QUALIFY row_number() OVER (PARTITION BY symbol, user_id ORDER BY "timestamp" DESC, event_id DESC) = 1
""",
    "null_fill_defaults": f"""
WITH {TICKS_CTE}
SELECT event_id,
       coalesce(CASE WHEN user_id % 7 = 0 THEN NULL ELSE symbol END, 'unknown') AS symbol,
       coalesce(CASE WHEN price < 20 THEN NULL ELSE price END, 0.0)             AS price,
       volume,
       "timestamp"
FROM ticks
""",
    "dedup_exact": """
SELECT md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fingerprint,
       min(doc_id) AS canonical_id,
       count(*)    AS dup_count
FROM documents
GROUP BY 1
""",
    # Incremental dedup: the store machinery (bucketed seed + pruned lookup
    # + MERGE) is Spark-side; the oracle recomputes the pure classification
    # semantics and pins the post-merge completeness flag at literal 1.
    "incremental_dedup": """
WITH fp AS (
  SELECT doc_id, md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fingerprint
  FROM documents
),
seed AS (SELECT DISTINCT fingerprint FROM fp WHERE doc_id % 3 = 0),
batch AS (SELECT * FROM fp WHERE doc_id % 3 <> 0),
bmin AS (SELECT fingerprint, min(doc_id) AS bm FROM batch GROUP BY 1)
SELECT b.doc_id, b.fingerprint,
       CASE WHEN s.fingerprint IS NOT NULL THEN 'dup_of_store'
            WHEN b.doc_id = m.bm THEN 'novel'
            ELSE 'dup_in_batch' END AS status,
       1 AS in_store_after_merge
FROM batch b
LEFT JOIN seed s USING (fingerprint)
JOIN bmin m USING (fingerprint)
""",
    # Streaming incremental dedup: the oracle replays the two-micro-batch
    # store evolution as CTE unions (store before batch 1 = seed ∪ batch-0
    # fingerprints) and recomputes per-batch status counts; mismatch_rows
    # (stream vs batch-twin symmetric difference) is pinned at 0.
    "stream_incremental_dedup": """
WITH fp AS (
  SELECT doc_id, md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fingerprint
  FROM documents
),
seed AS (SELECT DISTINCT fingerprint FROM fp WHERE doc_id % 3 = 0),
a AS (SELECT * FROM fp WHERE doc_id % 3 = 1),
b AS (SELECT * FROM fp WHERE doc_id % 3 = 2),
amin AS (SELECT fingerprint, min(doc_id) AS bm FROM a GROUP BY 1),
bmin AS (SELECT fingerprint, min(doc_id) AS bm FROM b GROUP BY 1),
acls AS (
  SELECT a.doc_id,
         CASE WHEN s.fingerprint IS NOT NULL THEN 'dup_of_store'
              WHEN a.doc_id = m.bm THEN 'novel'
              ELSE 'dup_in_batch' END AS status
  FROM a LEFT JOIN seed s USING (fingerprint) JOIN amin m USING (fingerprint)
),
store1 AS (SELECT fingerprint FROM seed UNION SELECT fingerprint FROM a),
bcls AS (
  SELECT b.doc_id,
         CASE WHEN s.fingerprint IS NOT NULL THEN 'dup_of_store'
              WHEN b.doc_id = m.bm THEN 'novel'
              ELSE 'dup_in_batch' END AS status
  FROM b LEFT JOIN store1 s USING (fingerprint) JOIN bmin m USING (fingerprint)
)
SELECT CAST(0 AS BIGINT) AS ingest_batch, count(*) AS n_rows,
       CAST(sum(CASE WHEN status = 'novel' THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
       CAST(sum(CASE WHEN status = 'dup_in_batch' THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_in_batch,
       CAST(sum(CASE WHEN status = 'dup_of_store' THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_of_store,
       CAST(0 AS BIGINT) AS mismatch_rows
FROM acls
UNION ALL
SELECT CAST(1 AS BIGINT), count(*),
       CAST(sum(CASE WHEN status = 'novel' THEN 1 ELSE 0 END) AS BIGINT),
       CAST(sum(CASE WHEN status = 'dup_in_batch' THEN 1 ELSE 0 END) AS BIGINT),
       CAST(sum(CASE WHEN status = 'dup_of_store' THEN 1 ELSE 0 END) AS BIGINT),
       CAST(0 AS BIGINT)
FROM bcls
""",
    # Data-quality expectations: one conditional-agg pass + uniqueness pass.
    "data_expectations": f"""
WITH {TICKS_CTE},
base AS (
  SELECT count(*) AS total,
         CAST(sum(CASE WHEN price IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS v0,
         CAST(sum(CASE WHEN volume IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS v1,
         CAST(sum(CASE WHEN price IS NULL OR NOT (price BETWEEN 0.01 AND 1000000.0) THEN 1 ELSE 0 END) AS BIGINT) AS v2,
         CAST(sum(CASE WHEN symbol IS NULL OR symbol NOT IN ('signup','click','purchase','view','error') THEN 1 ELSE 0 END) AS BIGINT) AS v3,
         CAST(sum(CASE WHEN "timestamp" > TIMESTAMP '2031-01-01' THEN 1 ELSE 0 END) AS BIGINT) AS v4
  FROM ticks
),
uniq AS (
  SELECT count(*) AS total,
         CAST(sum(CASE WHEN n > 1 THEN 1 ELSE 0 END) AS BIGINT) AS v
  FROM (SELECT event_id, count(*) AS n FROM ticks GROUP BY 1) g
)
SELECT 'not_null(price)' AS "check", v0 AS violations, total,
       CASE WHEN v0 <= ROUND(0.0 * total, 0) THEN 1 ELSE 0 END AS passed FROM base
UNION ALL
SELECT 'not_null(volume)', v1, total,
       CASE WHEN v1 <= ROUND(0.01 * total, 0) THEN 1 ELSE 0 END FROM base
UNION ALL
SELECT 'in_range(price,0.01,1000000.0)', v2, total,
       CASE WHEN v2 <= ROUND(0.0 * total, 0) THEN 1 ELSE 0 END FROM base
UNION ALL
SELECT 'accepted_values(symbol)', v3, total,
       CASE WHEN v3 <= ROUND(0.0 * total, 0) THEN 1 ELSE 0 END FROM base
UNION ALL
SELECT 'no_future_ts', v4, total,
       CASE WHEN v4 <= ROUND(0.0 * total, 0) THEN 1 ELSE 0 END FROM base
UNION ALL
SELECT 'unique(event_id)', v, total,
       CASE WHEN v = 0 THEN 1 ELSE 0 END FROM uniq
""",
    # Corpus report card: fingerprint-count join + per-(source, lang) rollup.
    "corpus_report": """
WITH fp AS (
  SELECT source, lang,
         md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp,
         CAST(len(regexp_extract_all(text, '\\S+')) AS BIGINT) AS n_tokens,
         CAST(length(text) AS BIGINT) AS n_chars
  FROM documents
),
counts AS (SELECT fp, count(*) AS n_same FROM fp GROUP BY 1)
SELECT source, lang,
       count(*) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
       CAST(sum(n_chars) AS BIGINT) AS total_chars,
       CAST(sum(CASE WHEN n_same > 1 THEN 1 ELSE 0 END) AS BIGINT) AS dup_docs,
       count(DISTINCT f.fp) AS distinct_contents,
       round(sum(CASE WHEN n_same > 1 THEN 1 ELSE 0 END) / CAST(count(*) AS DOUBLE), 6) AS dup_ratio
FROM fp f JOIN counts USING (fp)
GROUP BY 1, 2
""",
    "price_histogram": f"""
WITH {TICKS_CTE},
bounds AS (SELECT symbol, min(price) AS lo, max(price) AS hi FROM ticks GROUP BY 1),
binned AS (
  SELECT t.symbol,
         CAST(CASE WHEN b.hi = b.lo THEN 0
              ELSE least(floor((t.price - b.lo) / ((b.hi - b.lo) / 10.0)), 9)
         END AS BIGINT) AS bin
  FROM ticks t JOIN bounds b USING (symbol)
),
counts AS (SELECT symbol, bin, count(*) AS n FROM binned GROUP BY 1, 2)
SELECT symbol, bin, n,
       round(n / CAST(sum(n) OVER (PARTITION BY symbol) AS DOUBLE), 6) AS frac
FROM counts
""",
    "user_set_ops": """
SELECT user_id FROM events WHERE event_type = 'click'
INTERSECT
SELECT user_id FROM events WHERE event_type = 'purchase'
EXCEPT
SELECT user_id FROM events WHERE event_type = 'error'
""",
    # Causal-LM packing: per-shard running token offset → sequence id.
    # DuckDB windowed sum(BIGINT) → HUGEINT → cast back (module docstring).
    "sequence_packing": """
WITH a AS (
  SELECT doc_id, doc_id % 8 AS shard,
         CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS BIGINT) AS n_tokens
  FROM documents
), b AS (
  SELECT doc_id, shard, n_tokens,
         CAST(sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
              ROWS UNBOUNDED PRECEDING) - n_tokens AS BIGINT) AS start_offset
  FROM a
)
SELECT doc_id, shard, n_tokens, start_offset,
       CAST(floor(start_offset / 512.0) AS BIGINT) AS seq_id,
       CASE WHEN floor((start_offset + n_tokens - 1) / 512.0)
                 > floor(start_offset / 512.0) THEN 1 ELSE 0 END AS spans_boundary
FROM b
""",
    "curriculum_packing": """
WITH a AS (
  SELECT doc_id, n_chars, doc_id % 8 AS shard,
         CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS BIGINT) AS n_tokens
  FROM documents
), b AS (
  SELECT doc_id, shard, n_tokens,
         CAST(sum(n_tokens) OVER (PARTITION BY shard ORDER BY n_chars DESC, doc_id
              ROWS UNBOUNDED PRECEDING) - n_tokens AS BIGINT) AS start_offset
  FROM a
)
SELECT doc_id, shard, n_tokens, start_offset,
       CAST(floor(start_offset / 512.0) AS BIGINT) AS seq_id,
       CASE WHEN floor((start_offset + n_tokens - 1) / 512.0)
                 > floor(start_offset / 512.0) THEN 1 ELSE 0 END AS spans_boundary
FROM b
""",
    "packed_sequence_stats": """
WITH a AS (
  SELECT doc_id, doc_id % 8 AS shard,
         CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS BIGINT) AS n_tokens
  FROM documents
), b AS (
  SELECT doc_id, shard, n_tokens,
         CAST(sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
              ROWS UNBOUNDED PRECEDING) - n_tokens AS BIGINT) AS start_offset
  FROM a
)
SELECT shard,
       CAST(floor(start_offset / 512.0) AS BIGINT) AS seq_id,
       count(*) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS tokens_started,
       CAST(sum(CASE WHEN floor((start_offset + n_tokens - 1) / 512.0)
                     > floor(start_offset / 512.0) THEN 1 ELSE 0 END) AS BIGINT) AS n_straddlers
FROM b
GROUP BY 1, 2
""",
    # Exact cents-average threshold (associative on any partitioning —
    # mirrors plans.relational.wealthy_inactive_customers).
    "wealthy_inactive_customers": """
WITH t AS (
  SELECT CAST(sum(CAST(round(c_acctbal * 100, 0) AS BIGINT)) AS DOUBLE) / 100.0
         / count(*) AS avg_bal
  FROM customer WHERE c_acctbal > 0
)
SELECT c_custkey, c_name, c_nationkey,
       round(c_acctbal, 2) AS c_acctbal
FROM customer, t
WHERE c_acctbal > t.avg_bal
  AND NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey
                    AND o_orderdate >= TIMESTAMP '2000-01-01')
""",
    "top_supplier_revenue": """
WITH rev AS (
  SELECT l_suppkey,
         CAST(ROUND(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(25,10))), 2) AS DOUBLE) AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1996-04-01'
  GROUP BY 1
)
SELECT s_suppkey, s_name, total_revenue
FROM rev JOIN supplier ON s_suppkey = l_suppkey
WHERE total_revenue = (SELECT max(total_revenue) FROM rev)
""",
    "large_volume_orders": """
WITH big AS (
  SELECT l_orderkey, sum(l_quantity) AS total_qty
  FROM lineitem GROUP BY 1 HAVING sum(l_quantity) > 250.0
)
SELECT c_custkey, c_name, o_orderkey,
       CAST(o_orderdate AS VARCHAR) AS o_orderdate,
       round(o_totalprice, 2) AS o_totalprice,
       round(total_qty, 2) AS total_qty
FROM orders
JOIN big ON o_orderkey = l_orderkey
JOIN customer ON o_custkey = c_custkey
""",
    "pricing_summary": """
SELECT l_returnflag, l_linestatus,
       CAST(ROUND(sum(CAST(l_quantity AS DECIMAL(25,10))), 2) AS DOUBLE)      AS sum_qty,
       CAST(ROUND(sum(CAST(l_extendedprice AS DECIMAL(25,10))), 2) AS DOUBLE) AS sum_base_price,
       CAST(ROUND(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(25,10))), 2) AS DOUBLE) AS sum_disc_price,
       CAST(ROUND(sum(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(25,10))), 2) AS DOUBLE) AS sum_charge,
       round(CAST(sum(CAST(l_quantity AS DECIMAL(25,10))) AS DOUBLE) / count(*), 6)      AS avg_qty,
       round(CAST(sum(CAST(l_extendedprice AS DECIMAL(25,10))) AS DOUBLE) / count(*), 6) AS avg_price,
       round(CAST(sum(CAST(l_discount AS DECIMAL(25,10))) AS DOUBLE) / count(*), 6)      AS avg_disc,
       count(*)                       AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '2001-09-01'
GROUP BY 1, 2
""",
    "top_revenue_orders": """
SELECT l_orderkey, o_orderdate, o_orderpriority, round(revenue, 6) AS revenue
FROM (
  SELECT l_orderkey, o_orderdate, o_orderpriority,
         sum(l_extendedprice * (1 - l_discount)) AS revenue
  FROM lineitem
  JOIN orders   ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  WHERE c_mktsegment = 'BUILDING'
  GROUP BY 1, 2, 3
  ORDER BY revenue DESC, l_orderkey
  LIMIT 10
) t
""",
    "region_revenue": """
SELECT r_name, n_name,
       CAST(ROUND(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(25,10))), 2) AS DOUBLE) AS revenue,
       count(*) AS line_count
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
GROUP BY 1, 2
""",
    "revenue_forecast": """
SELECT CAST(ROUND(sum(CAST(l_extendedprice * l_discount AS DECIMAL(25,10))), 2) AS DOUBLE) AS revenue,
       count(*) AS line_count
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
  AND l_discount >= 0.03999 AND l_discount <= 0.06001
  AND l_quantity < 24.0
""",
    "rollup_revenue": """
SELECT r_name, n_name,
       CAST(ROUND(sum(CAST(o_totalprice AS DECIMAL(25,10))), 2) AS DOUBLE) AS revenue,
       count(*) AS order_count
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
GROUP BY ROLLUP (r_name, n_name)
""",
    "customer_order_ranks": """
SELECT o_custkey, o_orderkey, o_totalprice,
       rank()       OVER w AS value_rank,
       dense_rank() OVER w AS value_dense_rank,
       row_number() OVER w AS value_row_number,
       lag(o_totalprice) OVER w AS prev_higher_price,
       ntile(4)     OVER w AS value_quartile
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey)
""",
    "session_windows": """
WITH m AS (
  SELECT user_id, ts,
         CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts) > INTERVAL 30 MINUTE
              THEN 1 ELSE 0 END AS new_s
  FROM events
),
s AS (
  SELECT user_id, ts,
         sum(new_s) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid
  FROM m
)
SELECT user_id,
       min(ts) AS session_start,
       max(ts) + INTERVAL 30 MINUTE AS session_end,
       count(*) AS n_events,
       min(ts) AS first_event,
       max(ts) AS last_event
FROM s GROUP BY user_id, sid
""",
    "quantity_percentiles": """
SELECT l_returnflag,
       round(quantile_cont(l_quantity, 0.25), 6) AS p25_qty,
       round(quantile_cont(l_quantity, 0.5), 6)  AS median_qty,
       round(quantile_cont(l_quantity, 0.75), 6) AS p75_qty,
       count(*) AS line_count
FROM lineitem
GROUP BY 1
""",
    "zscore_normalize": f"""
WITH {TICKS_CTE}
SELECT symbol, event_id, price,
       round((price - avg(price) OVER (PARTITION BY symbol))
             / stddev_samp(price) OVER (PARTITION BY symbol), 4) AS price_z
FROM ticks
""",
    "embedding_unit_norm": f"""
WITH n AS (
  SELECT vec_id, embedding,
         sqrt({_sq_list_sum('embedding')}) AS l2
  FROM embeddings
)
SELECT vec_id,
       g.i - 1 AS dim,
       round(CAST(embedding[g.i] AS DOUBLE) / l2, 6) AS component,
       round(l2, 6) AS l2_norm
FROM n CROSS JOIN generate_series(1, {_DIM}) g(i)
""",
    "cube_order_stats": """
SELECT o_orderstatus, o_orderpriority,
       count(*) AS order_count,
       round(CAST(sum(CAST(o_totalprice AS DECIMAL(25,10))) AS DOUBLE) / count(*), 6) AS avg_price
FROM orders
GROUP BY CUBE (o_orderstatus, o_orderpriority)
""",
    "unpivot_ohlcv": f"""
WITH {TICKS_CTE}, d AS (
  SELECT symbol, CAST("timestamp" AS DATE) AS date,
         (min(struct_pack(t := "timestamp", p := price))).p AS daily_open,
         max(price) AS daily_high,
         min(price) AS daily_low,
         (max(struct_pack(t := "timestamp", p := price))).p AS daily_close
  FROM ticks GROUP BY 1, 2
)
SELECT symbol, date, metric, value
FROM d
UNPIVOT (value FOR metric IN (daily_open, daily_high, daily_low, daily_close))
""",
    "linestatus_pivot": """
SELECT l_returnflag,
       CAST(ROUND(sum(CASE WHEN l_linestatus = 'O' THEN CAST(l_quantity AS DECIMAL(25,10)) END), 2) AS DOUBLE) AS "O",
       CAST(ROUND(sum(CASE WHEN l_linestatus = 'F' THEN CAST(l_quantity AS DECIMAL(25,10)) END), 2) AS DOUBLE) AS "F"
FROM lineitem
GROUP BY 1
""",
    "order_priority_counts": """
SELECT o_orderpriority, count(*) AS order_count
FROM orders
WHERE EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey)
GROUP BY 1
""",
    # Sketch-accuracy contract: exact aggregates are value-checked; the
    # envelope flags are deterministic for fixed data, so the oracle pins
    # them as literal 1 (estimate out of envelope → red row, not invisible).
    "approx_stats": """
SELECT l_returnflag,
       count(*) AS line_count,
       count(DISTINCT l_partkey) AS exact_parts,
       count(DISTINCT l_orderkey) AS exact_orders,
       1 AS parts_est_in_envelope,
       1 AS orders_est_in_envelope,
       1 AS median_est_in_envelope
FROM lineitem
GROUP BY 1
""",
    "token_counts": """
SELECT doc_id,
       len(regexp_extract_all(text, '\\S+')) AS n_tokens_ws,
       len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS n_tokens_bpe
FROM documents
""",
    "text_quality": """
WITH f AS (
  SELECT doc_id,
         len(regexp_extract_all(text, '\\S+'))                       AS n_tokens,
         length(text)                                                AS n_chars_actual,
         length(regexp_replace(text, '[^A-Za-z]', '', 'g'))          AS alpha,
         length(regexp_replace(text, '[^.,;:!?''"()]', '', 'g'))     AS punct,
         length(regexp_replace(text, '[^0-9]', '', 'g'))             AS digits,
         length(regexp_replace(text, '\\s', '', 'g'))                AS nonspace,
         len(list_filter(regexp_extract_all(lower(text), '[a-z]+'),
             x -> x IN ('the','a','and','of','to','in','is','it','for','on','with','as'))) AS en_hits
  FROM documents
)
SELECT doc_id, n_tokens, n_chars_actual,
       round(alpha  / NULLIF(CAST(n_chars_actual AS DOUBLE), 0.0), 6) AS alpha_ratio,
       round(punct  / NULLIF(CAST(n_chars_actual AS DOUBLE), 0.0), 6) AS punct_ratio,
       round(digits / NULLIF(CAST(n_chars_actual AS DOUBLE), 0.0), 6) AS digit_ratio,
       round(nonspace / NULLIF(CAST(n_tokens AS DOUBLE), 0.0), 6)     AS avg_token_len,
       round(en_hits  / NULLIF(CAST(n_tokens AS DOUBLE), 0.0), 6)     AS stopword_ratio,
       round(least(1.0,
             0.25 * least(n_tokens / 100.0, 1.0)
           + 0.35 * (alpha / NULLIF(CAST(n_chars_actual AS DOUBLE), 0.0))
           + 0.25 * least((en_hits / NULLIF(CAST(n_tokens AS DOUBLE), 0.0)) * 4.0, 1.0)
           + 0.15 * (1.0 - least((punct / NULLIF(CAST(n_chars_actual AS DOUBLE), 0.0)) * 10.0, 1.0))
       ), 6) AS quality_score
FROM f
""",
    "lang_id": """
WITH w AS (
  SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+') AS words FROM documents
), h AS (
  SELECT doc_id,
         len(list_filter(words, x -> x IN ('the','a','and','of','to','in','is','it','for','on','with','as'))) AS en_hits,
         len(list_filter(words, x -> x IN ('der','die','das','und','ist','von','mit','ein','nicht','auch')))   AS de_hits,
         len(list_filter(words, x -> x IN ('el','los','las','una','y','es','por','que','con','para')))         AS es_hits,
         len(list_filter(words, x -> x IN ('le','les','et','est','pour','dans','que','une','sur','pas')))      AS fr_hits
  FROM w
)
SELECT doc_id, en_hits, de_hits, es_hits, fr_hits,
       CASE WHEN en_hits + de_hits + es_hits + fr_hits = 0 THEN 'unknown'
            WHEN en_hits >= de_hits AND en_hits >= es_hits AND en_hits >= fr_hits THEN 'en'
            WHEN de_hits >= es_hits AND de_hits >= fr_hits THEN 'de'
            WHEN es_hits >= fr_hits THEN 'es'
            ELSE 'fr' END AS lang_pred
FROM h
""",
    "doc_fingerprint": """
SELECT doc_id,
       md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fingerprint_md5
FROM documents
""",
    "trading_signals": f"""
WITH {TICKS_CTE}, {_SLIDE_15M}, {_SLIDE_1H}, {_JOINED_CTE}
SELECT symbol, window_start, window_15m_end, window_1h_end,
       round(ma_15m, 4) AS ma_15m, round(ma_1h, 4) AS ma_1h,
       round(volatility_15m, 4) AS volatility_15m,
       round(volatility_1h, 4) AS volatility_1h,
       volume_sum_15m, volume_sum_1h,
       CASE WHEN ma_15m > ma_1h THEN 'bullish'
            WHEN ma_15m < ma_1h THEN 'bearish'
            ELSE 'neutral' END AS price_trend,
       CASE WHEN volatility_15m > 2.0 THEN 'high'
            WHEN volatility_15m > 1.0 THEN 'medium'
            ELSE 'low' END AS volatility_level,
       CASE WHEN volume_sum_15m > volume_sum_1h * 0.3 THEN 'high_activity'
            ELSE 'normal_activity' END AS volume_trend
FROM joined
""",
    # Connected components over the MinHash-LSH near-dup graph. The Spark
    # path iterates min-label propagation (no closure ever materialized);
    # the oracle can afford the recursive-CTE transitive closure because
    # near-dup clusters are tiny.
    "neardup_clusters": f"""
WITH RECURSIVE {_SHINGLES_CTE}, {_SIG_CTE}, {_SIGARR_CTE},
bands AS (
  SELECT doc_id, g.b AS band, band_hashes[g.b + 1] AS band_hash
  FROM sig_arr CROSS JOIN generate_series(0, {_B - 1}) g(b)
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id
),
pairs AS (
  SELECT c.doc_a, c.doc_b
  FROM cand c
  JOIN sig_arr sa ON sa.doc_id = c.doc_a
  JOIN sig_arr sb ON sb.doc_id = c.doc_b
  WHERE round(len(list_filter(range(1, {_P + 1}), i -> sa.sig[i] = sb.sig[i])) / {_P}.0, 6) >= 0.75
),
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION
  SELECT doc_b, doc_a FROM pairs
),
reach(node, rid) AS (
  SELECT src, src FROM edges
  UNION
  SELECT r.node, e.dst FROM reach r JOIN edges e ON e.src = r.rid
),
lbl AS (SELECT node, min(rid) AS cluster_id FROM reach GROUP BY node)
SELECT d.doc_id, COALESCE(l.cluster_id, d.doc_id) AS cluster_id
FROM documents d LEFT JOIN lbl l ON l.node = d.doc_id
""",
    "embedding_neardup_pairs": f"""
WITH v AS (
  SELECT vec_id, embedding AS vec, {_bucket_sql('embedding')} AS bucket FROM embeddings
),
s AS (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, a.vec AS va, b.vec AS vb
  FROM v a JOIN v b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
)
SELECT vec_a, vec_b, {_cos_expr('va', 'vb')} AS cosine
FROM s WHERE {_cos_expr('va', 'vb')} >= 0.3
""",
    # Hash-threshold stratified sample: keep iff first-8-hex-of-md5(seed:id)
    # < rate * 2^32 — the identical integer expression as
    # operators/sampling.py (thresholds are Python ints in both).
    "stratified_sample": f"""
WITH w AS (
  SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+') AS words FROM documents
), h AS (
  SELECT doc_id,
         len(list_filter(words, x -> x IN ('the','a','and','of','to','in','is','it','for','on','with','as'))) AS en_hits,
         len(list_filter(words, x -> x IN ('der','die','das','und','ist','von','mit','ein','nicht','auch')))   AS de_hits,
         len(list_filter(words, x -> x IN ('el','los','las','una','y','es','por','que','con','para')))         AS es_hits,
         len(list_filter(words, x -> x IN ('le','les','et','est','pour','dans','que','une','sur','pas')))      AS fr_hits
  FROM w
), l AS (
  SELECT doc_id,
       CASE WHEN en_hits + de_hits + es_hits + fr_hits = 0 THEN 'unknown'
            WHEN en_hits >= de_hits AND en_hits >= es_hits AND en_hits >= fr_hits THEN 'en'
            WHEN de_hits >= es_hits AND de_hits >= fr_hits THEN 'de'
            WHEN es_hits >= fr_hits THEN 'es'
            ELSE 'fr' END AS lang_pred
  FROM h
)
SELECT doc_id, lang_pred FROM l
WHERE ('0x' || substr(md5('strat:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT <
      CASE lang_pred
        WHEN 'en' THEN {int(0.5 * 2**32)}
        WHEN 'de' THEN {int(0.25 * 2**32)}
        WHEN 'es' THEN {int(0.25 * 2**32)}
        WHEN 'fr' THEN {int(0.1 * 2**32)}
        WHEN 'unknown' THEN {int(1.0 * 2**32)}
        ELSE 0 END
""",
    # Bucket = floor(epoch/900)*900 via tz-free epoch constructors on both
    # engines (make_timestamp(µs) here, timestamp_seconds there).
    "gapfill_15m": f"""
WITH {TICKS_CTE},
obs AS (
  SELECT symbol,
         make_timestamp(((CAST(floor(epoch("timestamp")) AS BIGINT) // 900) * 900) * 1000000) AS bucket,
         max(struct_pack(_t := "timestamp", _k := event_id, _p := price))._p AS last_price,
         CAST(sum(volume) AS BIGINT) AS bucket_volume
  FROM ticks GROUP BY 1, 2
),
bounds AS (SELECT symbol, min(bucket) AS lo, max(bucket) AS hi FROM obs GROUP BY 1),
grid AS (
  SELECT symbol, unnest(generate_series(lo, hi, INTERVAL 900 SECOND)) AS bucket
  FROM bounds
),
j AS (
  SELECT g.symbol, g.bucket, o.last_price, o.bucket_volume
  FROM grid g LEFT JOIN obs o ON o.symbol = g.symbol AND o.bucket = g.bucket
)
SELECT symbol, bucket,
       last_value(last_price IGNORE NULLS) OVER (
         PARTITION BY symbol ORDER BY bucket
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS close,
       COALESCE(bucket_volume, 0) AS bucket_volume,
       CASE WHEN last_price IS NULL THEN 1 ELSE 0 END AS is_gap
FROM j
""",
    # Per-row array folds mirroring operators/textstats.py
    # with_repetition_signals (mode-by-fold over distinct words, same
    # normalize/tokenize as the shingle CTEs).
    "repetition_signals": """
WITH n AS (
  SELECT doc_id,
         string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS words
  FROM documents
)
SELECT doc_id,
  len(words) AS n_words,
  round(len(list_distinct(words)) / CAST(len(words) AS DOUBLE), 6) AS distinct_word_ratio,
  round(list_reduce(list_transform(list_distinct(words),
          w -> len(list_filter(words, t -> t = w))),
        (a, b) -> greatest(a, b)) / CAST(len(words) AS DOUBLE), 6) AS top_word_ratio,
  CASE WHEN len(words) > 1 THEN
    round(list_reduce(
            list_transform(
              list_distinct(list_transform(range(1, len(words)), i -> words[i] || ' ' || words[i + 1])),
              w -> len(list_filter(list_transform(range(1, len(words)), i -> words[i] || ' ' || words[i + 1]), t -> t = w))),
          (a, b) -> greatest(a, b)) / CAST(len(words) - 1 AS DOUBLE), 6)
  END AS top_bigram_ratio,
  round(list_sum(list_transform(words, w -> length(w))) / CAST(len(words) AS DOUBLE), 6) AS mean_word_len
FROM n
""",
    "doc_chunks": """
WITH n AS (
  SELECT doc_id,
         string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS words
  FROM documents
),
s AS (
  SELECT doc_id, words, unnest(range(1, len(words) + 1, 8)) AS chunk_start
  FROM n WHERE len(words) > 0
)
SELECT doc_id, chunk_start,
       array_to_string(list_slice(words, chunk_start, chunk_start + 15), ' ') AS chunk_text,
       len(list_slice(words, chunk_start, chunk_start + 15)) AS chunk_tokens
FROM s
""",
    # Ranked on the ROUNDED score + term tiebreak (ln is not correctly-
    # rounded across libm implementations — see operators/tfidf.py).
    "tfidf_top_terms": """
WITH n AS (
  SELECT doc_id,
         string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS words
  FROM documents
),
terms AS (SELECT doc_id, unnest(words) AS term FROM n),
t AS (SELECT doc_id, term, count(*) AS tf FROM terms WHERE term <> '' GROUP BY 1, 2),
d AS (SELECT term, count(*) AS df_t FROM t GROUP BY 1),
nn AS (SELECT count(DISTINCT doc_id) AS _n_docs FROM documents),
scored AS (
  SELECT t.doc_id, t.term, t.tf, d.df_t,
         round(t.tf * ln(CAST(_n_docs AS DOUBLE) / df_t), 6) AS tfidf
  FROM t JOIN d USING (term) CROSS JOIN nn
)
SELECT doc_id, term, tf, df_t, tfidf, rank FROM (
  SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rank
  FROM scored
) x WHERE rank <= 3
""",
    "price_band_join": f"""
WITH {TICKS_CTE},
days AS (
  SELECT symbol, CAST("timestamp" AS DATE) AS date,
         min(price) AS band_lo, (min(price) + max(price)) / 2 AS band_hi
  FROM ticks GROUP BY 1, 2
)
SELECT t.symbol, CAST(t."timestamp" AS DATE) AS date, t."timestamp", t.event_id,
       t.price, d.band_lo, d.band_hi,
       round((t.price - d.band_lo) / NULLIF(d.band_hi - d.band_lo, 0.0), 6) AS band_pos
FROM ticks t JOIN days d
  ON t.symbol = d.symbol AND CAST(t."timestamp" AS DATE) = d.date
 AND t.price >= d.band_lo AND t.price <= d.band_hi
""",
    # Bottom-k by hash per stratum — identical hash32 as the Spark side.
    "quota_sample": """
WITH w AS (
  SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+') AS words FROM documents
), h AS (
  SELECT doc_id,
         len(list_filter(words, x -> x IN ('the','a','and','of','to','in','is','it','for','on','with','as'))) AS en_hits,
         len(list_filter(words, x -> x IN ('der','die','das','und','ist','von','mit','ein','nicht','auch')))   AS de_hits,
         len(list_filter(words, x -> x IN ('el','los','las','una','y','es','por','que','con','para')))         AS es_hits,
         len(list_filter(words, x -> x IN ('le','les','et','est','pour','dans','que','une','sur','pas')))      AS fr_hits
  FROM w
), l AS (
  SELECT doc_id,
       CASE WHEN en_hits + de_hits + es_hits + fr_hits = 0 THEN 'unknown'
            WHEN en_hits >= de_hits AND en_hits >= es_hits AND en_hits >= fr_hits THEN 'en'
            WHEN de_hits >= es_hits AND de_hits >= fr_hits THEN 'de'
            WHEN es_hits >= fr_hits THEN 'es'
            ELSE 'fr' END AS lang_pred
  FROM h
), ranked AS (
  SELECT doc_id, lang_pred,
         row_number() OVER (
           PARTITION BY lang_pred
           ORDER BY ('0x' || substr(md5('quota:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT, doc_id
         ) AS rk
  FROM l
)
SELECT doc_id, lang_pred FROM ranked
WHERE rk <= CASE lang_pred
  WHEN 'en' THEN 50 WHEN 'de' THEN 30 WHEN 'es' THEN 30 WHEN 'fr' THEN 10 ELSE 0 END
""",
    # Symmetric int8: scale = max|x|/127, q_i = biased-round(x_i/scale);
    # folds are sequential in both engines (the cosine-oracle pattern).
    "quantize_embeddings": f"""
WITH s AS (
  SELECT vec_id, embedding,
         list_reduce(list_transform(embedding, x -> abs(CAST(x AS DOUBLE))),
                     (a, b) -> greatest(a, b)) / 127.0 AS sc
  FROM embeddings
),
qq AS (
  SELECT vec_id, embedding, sc,
         list_transform(embedding,
           x -> CAST(COALESCE(round(CAST(x AS DOUBLE) / NULLIF(sc, 0.0), 0), 0.0) AS INTEGER)) AS q
  FROM s
)
SELECT vec_id,
       round(sc, 6) AS scale,
       array_to_string(q, ',') AS q,
       round(list_sum(list_transform(range(1, {_DIM + 1}),
               i -> abs(CAST(embedding[i] AS DOUBLE) - q[i] * sc))) / {_DIM}.0, 6) AS mean_abs_err
FROM qq
""",
    # Byte-slice frames reproduced on the HEX of the content (DuckDB has no
    # BLOB substring/md5; hex is per-byte so hex-slice == slice-hex, and
    # both engines emit uppercase hex).
    "multimodal_frame_sample": """
WITH a AS (
  SELECT doc_id AS asset_id, hex(encode(text)) AS hx,
         octet_length(encode(text)) AS n
  FROM documents
),
f AS (SELECT asset_id, hx, n, unnest(range(0, 4)) AS fi FROM a)
SELECT asset_id,
       CAST(fi AS INTEGER) AS frame_idx,
       md5(substring(hx, ((n * fi) // 4) * 2 + 1,
                     ((n * (fi + 1)) // 4 - (n * fi) // 4) * 2)) AS frame_md5,
       CAST((n * (fi + 1)) // 4 - (n * fi) // 4 AS INTEGER) AS frame_len,
       ((n * (fi + 1)) // 4) > ((n * fi) // 4) AS frame_ok
FROM f
""",
    # Integer-cents gains/losses (exact), cutoff-form RSI, cents-exact
    # Bollinger mid — mirrors operators/rolling.py with_technical_indicators.
    "technical_indicators": f"""
WITH {TICKS_CTE},
c AS (
  SELECT symbol, event_id, "timestamp", price,
         CAST(round(price * 100, 0) AS BIGINT) AS cents
  FROM ticks
),
d AS (
  SELECT *, cents - lag(cents) OVER (PARTITION BY symbol ORDER BY "timestamp", event_id) AS chg
  FROM c
),
ind AS (
  SELECT symbol, event_id, "timestamp", price,
         sum(CASE WHEN chg > 0 THEN chg ELSE 0 END) OVER w14 AS gains,
         sum(CASE WHEN chg < 0 THEN -chg ELSE 0 END) OVER w14 AS losses,
         count(chg) OVER w14 AS n_chg,
         CAST(sum(cents) OVER w20 AS DOUBLE) / 100.0 / count(*) OVER w20 AS mid,
         stddev_samp(price) OVER w20 AS sd
  FROM d
  WINDOW
    w14 AS (PARTITION BY symbol ORDER BY "timestamp", event_id ROWS BETWEEN 13 PRECEDING AND CURRENT ROW),
    w20 AS (PARTITION BY symbol ORDER BY "timestamp", event_id ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
)
SELECT symbol, event_id, "timestamp", price,
       round(CASE WHEN n_chg >= 14 AND (gains + losses) > 0
             THEN 100.0 * CAST(gains AS DOUBLE) / CAST(gains + losses AS DOUBLE) END, 6) AS rsi,
       round(mid, 6) AS boll_mid,
       round(mid + 2.0 * sd, 6) AS boll_up,
       round(mid - 2.0 * sd, 6) AS boll_dn
FROM ind
""",
    # (the standalone "macd" row was consolidated into macd_signal — which
    # now also exposes ema_fast/ema_slow — round 13, SURVEY §2.10 growth
    # discipline.)
    # Direct GROUP BY — the salted two-phase plan must be value-identical.
    "salted_symbol_volume": f"""
WITH {TICKS_CTE}
SELECT symbol,
       CAST(sum(volume) AS BIGINT) AS total_volume,
       count(*) AS n_rows
FROM ticks GROUP BY symbol
""",
    # MACD signal: the e CTE carries the truncated-EMA folds unrounded
    # (decay literals via Python repr so both engines parse the identical
    # double: 1 - 2/13, 1 - 2/27), then a second 50-row frame folds the
    # derived macd values (mirrors the second Window node in
    # operators/rolling.py with_macd_signal). Also exposes
    # ema_fast/ema_slow — this row subsumed the standalone "macd" row
    # (round-13 consolidation), so the fold inputs stay hash-audited too.
    "macd_signal": f"""
WITH {TICKS_CTE}, fr AS (
  SELECT symbol, event_id, "timestamp", price,
         list(price) OVER (PARTITION BY symbol ORDER BY "timestamp", event_id
                           ROWS BETWEEN 49 PRECEDING AND CURRENT ROW) AS xs
  FROM ticks
),
e AS (
  SELECT symbol, event_id, "timestamp", price,
         list_reduce(xs, (acc, x) -> acc * {1.0 - 2.0 / 13.0!r} + x)
           / ((1.0 - power({1.0 - 2.0 / 13.0!r}, CAST(len(xs) AS DOUBLE))) / (1.0 - {1.0 - 2.0 / 13.0!r})) AS ef,
         list_reduce(xs, (acc, x) -> acc * {1.0 - 2.0 / 27.0!r} + x)
           / ((1.0 - power({1.0 - 2.0 / 27.0!r}, CAST(len(xs) AS DOUBLE))) / (1.0 - {1.0 - 2.0 / 27.0!r})) AS es
  FROM fr
),
s AS (
  SELECT symbol, event_id, "timestamp", price, ef, es, ef - es AS macd,
         list(ef - es) OVER (PARTITION BY symbol ORDER BY "timestamp", event_id
                          ROWS BETWEEN 49 PRECEDING AND CURRENT ROW) AS sx
  FROM e
),
g AS (
  SELECT symbol, event_id, "timestamp", price, ef, es, macd,
         list_reduce(sx, (acc, x) -> acc * {1.0 - 2.0 / 10.0!r} + x)
           / ((1.0 - power({1.0 - 2.0 / 10.0!r}, CAST(len(sx) AS DOUBLE))) / (1.0 - {1.0 - 2.0 / 10.0!r})) AS sig
  FROM s
)
SELECT symbol, event_id, "timestamp", price,
       round(ef, 6) AS ema_fast,
       round(es, 6) AS ema_slow,
       round(macd, 6) AS macd,
       round(sig, 6) AS macd_signal,
       round(macd - sig, 6) AS macd_hist
FROM g
""",
    # PII redaction: identical synthesized text, counts on the original,
    # replacement chain email -> ssn -> phone ('g' flag = Spark replace-all).
    "pii_redaction": f"""
WITH src AS (
  SELECT doc_id,
         'reach u' || CAST(doc_id AS VARCHAR) || '@mail.example.org or +1 (555) 01'
         || lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0') || ' '
         || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || ', ssn '
         || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') || '-'
         || lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0') || '-'
         || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || '. ' || text AS t
  FROM documents
)
SELECT doc_id,
       len(regexp_extract_all(t, '{_PII_EMAIL}')) AS n_email,
       len(regexp_extract_all(t, '{_PII_PHONE}')) AS n_phone,
       len(regexp_extract_all(t, '{_PII_SSN}')) AS n_ssn,
       regexp_replace(
         regexp_replace(
           regexp_replace(t, '{_PII_EMAIL}', '<EMAIL>', 'g'),
           '{_PII_SSN}', '<SSN>', 'g'),
         '{_PII_PHONE}', '<PHONE>', 'g') AS text_redacted
FROM src
""",
    # ANN recall@5: each variant's own oracle as a derived table, joined
    # against the exact-top-5 oracle; LEFT JOIN keeps zero-hit variants.
    "ann_recall": f"""
WITH gt AS (SELECT query_id, neighbor_id FROM ({_COSINE_TOPK_ORACLE}) g),
cand AS (
  SELECT 'ivf_nprobe1' AS variant, query_id, neighbor_id FROM ({_IVF_TOPK_ORACLE}) a
  UNION ALL
  SELECT 'ivf_nprobe4' AS variant, query_id, neighbor_id FROM ({_IVF_TOPK_NPROBE4_ORACLE}) b
  UNION ALL
  SELECT 'lsh' AS variant, query_id, neighbor_id FROM ({_LSH_TOPK_ORACLE}) c
  UNION ALL
  SELECT 'lsh_multiprobe' AS variant, query_id, neighbor_id FROM ({_LSH_MULTIPROBE_ORACLE}) d
  UNION ALL
  SELECT 'quantized_rerank' AS variant, query_id, neighbor_id FROM ({_QUANT_RERANK_ORACLE}) e
),
hits AS (
  SELECT variant, count(*) AS hits
  FROM cand JOIN gt USING (query_id, neighbor_id) GROUP BY variant
),
vlist AS (
  SELECT unnest(['ivf_nprobe1', 'ivf_nprobe4', 'lsh', 'lsh_multiprobe', 'quantized_rerank']) AS variant
),
tot AS (SELECT count(*) AS total FROM gt)
SELECT v.variant,
       coalesce(h.hits, 0) AS hits,
       t.total AS total,
       round(CAST(coalesce(h.hits, 0) AS DOUBLE) / t.total, 6) AS recall_at_5
FROM vlist v LEFT JOIN hits h USING (variant) CROSS JOIN tot t
""",
    # Gap rule and duration mirror the Spark plan's truncated-seconds
    # arithmetic (cast ts to long) via epoch_us // 1_000_000.
    "event_sessionization": """
WITH m AS (
  SELECT user_id, ts, value,
         CASE WHEN lag(ts) OVER w IS NULL
                OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
              THEN 1 ELSE 0 END AS new_s
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
),
s AS (
  SELECT user_id, ts, value,
         CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING)
              AS BIGINT) AS session_id
  FROM m
)
SELECT user_id, session_id,
       min(ts) AS session_start,
       max(ts) AS session_end,
       epoch_us(max(ts)) // 1000000 - epoch_us(min(ts)) // 1000000 AS duration_sec,
       count(*) AS n_events,
       round(sum(value), 6) AS value_sum
FROM s GROUP BY 1, 2
""",
    # Streaming-parity verdict row: session counts recomputed from the batch
    # gap rule (real cross-engine values); the soundness/completeness
    # invariants of the streaming run are pinned at literal 0.
    "stream_batch_session_parity": """
WITH m AS (
  SELECT user_id, ts,
         CASE WHEN lag(ts) OVER w IS NULL
                OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
              THEN 1 ELSE 0 END AS new_s
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
),
s AS (
  SELECT user_id, ts,
         sum(new_s) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid
  FROM m
),
sess AS (
  SELECT user_id, sid, max(ts) AS session_end
  FROM s GROUP BY 1, 2
),
hi AS (SELECT max(ts) AS max_ts FROM events)
SELECT CAST(count(*) AS BIGINT) AS n_batch_sessions,
       CAST(count(*) FILTER (WHERE session_end < max_ts - INTERVAL 61 MINUTE) AS BIGINT) AS n_must_emit,
       CAST(0 AS BIGINT) AS stream_only_rows,
       CAST(0 AS BIGINT) AS missed_finalized
FROM sess CROSS JOIN hi
""",
    "event_funnel": """
WITH s0 AS (
  SELECT user_id, min(ts) AS t0 FROM events WHERE event_type = 'signup' GROUP BY 1
),
s1 AS (
  SELECT e.user_id, min(e.ts) AS t1
  FROM events e JOIN s0 USING (user_id)
  WHERE e.event_type = 'click' AND e.ts > s0.t0
  GROUP BY 1
),
s2 AS (
  SELECT e.user_id, min(e.ts) AS t2
  FROM events e JOIN s1 USING (user_id)
  WHERE e.event_type = 'purchase' AND e.ts > s1.t1
  GROUP BY 1
),
c AS (
  SELECT 0 AS stage_index, 'signup' AS stage, count(*) AS users_reached FROM s0
  UNION ALL SELECT 1, 'click', count(*) FROM s1
  UNION ALL SELECT 2, 'purchase', count(*) FROM s2
)
SELECT stage_index, stage, CAST(users_reached AS BIGINT) AS users_reached,
       round(users_reached * 100.0
             / NULLIF((SELECT users_reached FROM c WHERE stage_index = 0), 0), 2) AS pct_of_top
FROM c
""",
    "retention_cohorts": """
WITH f AS (
  SELECT user_id, CAST(date_trunc('week', min(ts)) AS DATE) AS cohort_week
  FROM events GROUP BY 1
),
cells AS (
  SELECT DISTINCT f.cohort_week,
         CAST(date_diff('day', f.cohort_week, CAST(date_trunc('week', e.ts) AS DATE)) / 7 AS INT) AS week_offset,
         e.user_id
  FROM events e JOIN f USING (user_id)
)
SELECT cohort_week, week_offset, count(*) AS active_users
FROM cells GROUP BY 1, 2
""",
    "event_json_stats": """
SELECT event_type,
       count(*) AS n_events,
       round(avg(CAST(json_extract_string(props, '$.k') AS BIGINT)), 6) AS avg_k,
       max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k,
       count(DISTINCT CAST(json_extract_string(props, '$.k') AS BIGINT)) AS n_distinct_k
FROM events GROUP BY 1
""",
    # 8-gram shingles: i in 1..len-7 (range end-exclusive), slice inclusive.
    "ngram_decontaminate": """
WITH train AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM documents WHERE doc_id % 20 <> 0
),
ev AS (
  SELECT string_split(text, ' ') AS toks FROM documents WHERE doc_id % 20 = 0
),
tr_sh AS (
  SELECT DISTINCT doc_id, shingle FROM (
    SELECT doc_id,
           unnest(list_transform(range(1, len(toks) - 6),
                                 i -> array_to_string(toks[i:i+7], ' '))) AS shingle
    FROM train
  )
),
ev_sh AS (
  SELECT DISTINCT shingle FROM (
    SELECT unnest(list_transform(range(1, len(toks) - 6),
                                 i -> array_to_string(toks[i:i+7], ' '))) AS shingle
    FROM ev
  )
),
per_doc AS (SELECT doc_id, count(*) AS n_shingles FROM tr_sh GROUP BY 1),
coll AS (
  SELECT doc_id, count(*) AS n_collisions
  FROM tr_sh JOIN ev_sh USING (shingle) GROUP BY 1
)
SELECT t.doc_id,
       coalesce(p.n_shingles, 0)      AS n_shingles,
       coalesce(c.n_collisions, 0)    AS n_collisions,
       coalesce(c.n_collisions, 0) > 0 AS contaminated
FROM (SELECT DISTINCT doc_id FROM train) t
LEFT JOIN per_doc p USING (doc_id)
LEFT JOIN coll c USING (doc_id)
""",
    "unigram_logprob": """
WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
cnt AS (SELECT token, count(*) AS c FROM toks GROUP BY 1),
tot AS (SELECT (SELECT count(*) FROM toks) AS n_total,
               (SELECT count(*) FROM cnt) AS v_size)
SELECT doc_id, count(*) AS n_tokens,
       round(avg(ln((c + 1.0) / CAST(n_total + v_size AS DOUBLE))), 6) AS avg_logprob
FROM toks JOIN cnt USING (token) CROSS JOIN tot
GROUP BY 1
""",
    "return_correlation": f"""
WITH {TICKS_CTE},
daily AS (
  SELECT symbol, CAST("timestamp" AS DATE) AS date,
         (max(struct_pack(t := "timestamp", p := price))).p AS daily_close
  FROM ticks WHERE price > 0 GROUP BY 1, 2
),
rets AS (
  SELECT symbol, date,
         daily_close / lag(daily_close) OVER (PARTITION BY symbol ORDER BY date) - 1.0 AS ret
  FROM daily
)
SELECT a.symbol AS symbol_a, b.symbol AS symbol_b,
       count(*) AS n_days,
       round(corr(a.ret, b.ret), 4) AS return_corr
FROM rets a JOIN rets b USING (date)
WHERE a.symbol < b.symbol AND a.ret IS NOT NULL AND b.ret IS NOT NULL
GROUP BY 1, 2
""",
    "last_touch_attribution": """
WITH x AS (
  SELECT user_id, ts, event_id, event_type, value,
         last_value(CASE WHEN event_type <> 'purchase' THEN event_type END IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS touch
  FROM events
)
SELECT coalesce(touch, 'direct') AS attributed_source,
       count(*) AS n_conversions,
       round(sum(value), 6) AS value_sum
FROM x WHERE event_type = 'purchase' GROUP BY 1
""",
    "scd2_history": """
WITH m AS (
  SELECT user_id, ts, event_type, event_id,
         CASE WHEN lag(event_type) OVER w IS NULL
                OR event_type <> lag(event_type) OVER w
              THEN 1 ELSE 0 END AS chg
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
c AS (SELECT * FROM m WHERE chg = 1)
SELECT user_id, event_type,
       ts AS effective_from,
       lead(ts) OVER w2 AS effective_to,
       lead(ts) OVER w2 IS NULL AS is_current
FROM c
WINDOW w2 AS (PARTITION BY user_id ORDER BY ts, event_id)
""",
    "event_transitions": """
WITH s AS (
  SELECT lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS from_type,
         event_type AS to_type
  FROM events
),
c AS (
  SELECT from_type, to_type, count(*) AS n_transitions
  FROM s WHERE from_type IS NOT NULL GROUP BY 1, 2
)
SELECT from_type, to_type, n_transitions,
       round(n_transitions / CAST(sum(n_transitions) OVER (PARTITION BY from_type) AS DOUBLE), 6) AS p_transition
FROM c
""",
    "alpha_sample": f"""
WITH c AS (SELECT source, count(*) AS n FROM documents GROUP BY 1),
r AS (
  SELECT source,
         least(1.0,
               (sum(n) OVER () * 0.5 * pow(n, 0.5) / sum(pow(n, 0.5)) OVER ()) / n
         ) AS rate
  FROM c
),
t AS (SELECT source, CAST(floor(rate * {float(1 << 32)}) AS BIGINT) AS keep_below FROM r)
SELECT d.doc_id, d.source
FROM documents d JOIN t USING (source)
WHERE ('0x' || substr(md5('alpha:' || CAST(d.doc_id AS VARCHAR)), 1, 8))::BIGINT < t.keep_below
""",
    "market_beta": f"""
WITH {TICKS_CTE},
daily AS (
  SELECT symbol, CAST("timestamp" AS DATE) AS date,
         (max(struct_pack(t := "timestamp", p := price))).p AS daily_close
  FROM ticks WHERE price > 0 GROUP BY 1, 2
),
rets AS (
  SELECT symbol, date,
         daily_close / lag(daily_close) OVER (PARTITION BY symbol ORDER BY date) - 1.0 AS ret
  FROM daily
),
r AS (SELECT * FROM rets WHERE ret IS NOT NULL),
m AS (SELECT date, avg(ret) AS mkt_ret FROM r GROUP BY 1)
SELECT r.symbol,
       count(*) AS n_days,
       round(covar_samp(r.ret, m.mkt_ret) / NULLIF(var_samp(m.mkt_ret), 0.0), 4) AS beta,
       round(avg(r.ret) * 252.0, 4) AS annualized_return
FROM r JOIN m USING (date)
GROUP BY 1
""",
    "chunk_dedup_stats": """
WITH n AS (
  SELECT doc_id,
         string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS words
  FROM documents
),
s AS (
  SELECT doc_id, words, unnest(range(1, len(words) + 1, 8)) AS chunk_start
  FROM n WHERE len(words) > 0
),
ch AS (
  SELECT doc_id,
         md5(array_to_string(list_slice(words, chunk_start, chunk_start + 15), ' ')) AS h
  FROM s
),
g AS (SELECT h, count(*) AS n_global FROM ch GROUP BY 1)
SELECT doc_id,
       count(*) AS n_chunks,
       CAST(sum(CASE WHEN n_global > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_duplicated_chunks,
       round(avg(CASE WHEN n_global > 1 THEN 1.0 ELSE 0.0 END), 6) AS dup_chunk_ratio
FROM ch JOIN g USING (h)
GROUP BY 1
""",
    "daily_vwap": f"""
WITH {TICKS_CTE}
SELECT symbol, CAST("timestamp" AS DATE) AS date,
       round(sum(price * volume) / NULLIF(CAST(sum(volume) AS DOUBLE), 0.0), 6) AS vwap,
       CAST(sum(volume) AS BIGINT) AS total_volume,
       count(*) AS n_ticks
FROM ticks GROUP BY 1, 2
""",
    "risk_metrics": f"""
WITH {TICKS_CTE},
daily AS (
  SELECT symbol, CAST("timestamp" AS DATE) AS date,
         (min(struct_pack(t := "timestamp", p := price))).p AS daily_open,
         max(price)                  AS daily_high,
         min(price)                  AS daily_low,
         (max(struct_pack(t := "timestamp", p := price))).p AS daily_close
  FROM ticks WHERE price > 0 GROUP BY 1, 2
),
dd AS (
  SELECT *,
         daily_close / max(daily_close) OVER (
           PARTITION BY symbol ORDER BY date ROWS UNBOUNDED PRECEDING
         ) - 1.0 AS _dd
  FROM daily
),
r AS (
  SELECT *, row_number() OVER (PARTITION BY symbol ORDER BY _dd ASC, date ASC) AS _rn
  FROM dd
)
SELECT symbol,
       count(*) AS n_days,
       round(min(_dd), 6) AS max_drawdown,
       arg_min(date, _rn) AS worst_date,
       round(sqrt(avg(pow(ln(daily_high / daily_low), 2)) / (4 * 0.6931471805599453))
             * sqrt(252.0), 6) AS parkinson_vol,
       round(sqrt(greatest(
               avg(0.5 * pow(ln(daily_high / daily_low), 2)
                   - (2 * 0.6931471805599453 - 1.0) * pow(ln(daily_close / daily_open), 2)),
               0.0)) * sqrt(252.0), 6) AS gk_vol
FROM r GROUP BY 1
""",
    "winsorize_prices": f"""
WITH {TICKS_CTE},
t AS (SELECT symbol, event_id, price FROM ticks),
b AS (
  SELECT symbol,
         quantile_cont(price, 0.01) AS lo,
         quantile_cont(price, 0.99) AS hi
  FROM t GROUP BY 1
)
SELECT t.symbol, t.event_id, t.price,
       round(least(greatest(t.price, b.lo), b.hi), 6) AS price_winsorized,
       (t.price < b.lo OR t.price > b.hi) AS was_clipped
FROM t JOIN b USING (symbol)
""",
    "event_funnel_windowed": """
WITH s0 AS (
  SELECT user_id, min(ts) AS t0 FROM events WHERE event_type = 'signup' GROUP BY 1
),
s1 AS (
  SELECT e.user_id, min(e.ts) AS t1
  FROM events e JOIN s0 USING (user_id)
  WHERE e.event_type = 'click' AND e.ts > s0.t0
    AND epoch_us(e.ts) // 1000000 - epoch_us(s0.t0) // 1000000 <= 86400
  GROUP BY 1
),
s2 AS (
  SELECT e.user_id, min(e.ts) AS t2
  FROM events e JOIN s1 USING (user_id)
  WHERE e.event_type = 'purchase' AND e.ts > s1.t1
    AND epoch_us(e.ts) // 1000000 - epoch_us(s1.t1) // 1000000 <= 86400
  GROUP BY 1
),
c AS (
  SELECT 0 AS stage_index, 'signup' AS stage, count(*) AS users_reached FROM s0
  UNION ALL SELECT 1, 'click', count(*) FROM s1
  UNION ALL SELECT 2, 'purchase', count(*) FROM s2
)
SELECT stage_index, stage, CAST(users_reached AS BIGINT) AS users_reached,
       round(users_reached * 100.0
             / NULLIF((SELECT users_reached FROM c WHERE stage_index = 0), 0), 2) AS pct_of_top
FROM c
""",
}

# ---- semantic_dedup oracle (SemDeDup within IVF cells) ----
ORACLES["semantic_dedup"] = f"""
WITH pivots AS (
  SELECT vec_id AS pivot_id, embedding AS p_vec FROM embeddings
  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 32
),
c AS (SELECT vec_id, embedding AS vec FROM embeddings),
assign AS (
  SELECT vec_id, cell FROM (
    SELECT s.vec_id, s.pivot_id AS cell,
           row_number() OVER (PARTITION BY s.vec_id ORDER BY s.sim DESC, s.pivot_id) AS rn
    FROM (SELECT c.vec_id, pivot_id, {_cos_expr('vec', 'p_vec')} AS sim
          FROM c CROSS JOIN pivots) s
  ) t WHERE rn = 1
),
m AS (SELECT a.vec_id, a.cell, c.vec FROM assign a JOIN c USING (vec_id)),
wit AS (
  SELECT a.vec_id, min(b.vec_id) AS dup_of
  FROM (SELECT vec_id, cell, vec AS a_vec FROM m) a
  JOIN (SELECT vec_id, cell, vec AS b_vec FROM m) b
    ON a.cell = b.cell AND b.vec_id < a.vec_id
  WHERE {_cos_expr('a_vec', 'b_vec')} >= 0.35
  GROUP BY 1
)
SELECT a.vec_id, a.cell,
       CASE WHEN w.dup_of IS NOT NULL THEN 1 ELSE 0 END AS removed,
       w.dup_of
FROM assign a LEFT JOIN wit w USING (vec_id)
"""

# ---- kmeans_iteration oracle (generated: 64 component means) ----
_KM_MEANS = ", ".join(
    f"avg(CAST(_v[{i}] AS DOUBLE)) AS m{i}" for i in range(1, _DIM + 1)
)
_KM_DOT = " + ".join(f"m{i} * CAST(p_vec[{i}] AS DOUBLE)" for i in range(1, _DIM + 1))
_KM_MNORM = " + ".join(f"m{i} * m{i}" for i in range(1, _DIM + 1))

ORACLES["kmeans_iteration"] = f"""
WITH pivots AS (
  SELECT vec_id AS pivot_id, embedding AS p_vec FROM embeddings
  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 16
),
c AS (SELECT vec_id AS vid, embedding AS _v FROM embeddings),
scored AS (
  SELECT vid, _v, pivot_id, p_vec, {_cos_expr('_v', 'p_vec')} AS sim
  FROM c CROSS JOIN pivots
),
assigned AS (
  SELECT vid, _v, pivot_id AS cell, p_vec, sim FROM (
    SELECT *, row_number() OVER (PARTITION BY vid ORDER BY sim DESC, pivot_id) AS rn
    FROM scored
  ) WHERE rn = 1
),
agg AS (
  SELECT cell, count(*) AS n_members, round(avg(sim), 6) AS cohesion, {_KM_MEANS}
  FROM assigned GROUP BY cell
)
SELECT cell, n_members, cohesion,
       round(({_KM_DOT})
             / NULLIF(sqrt({_KM_MNORM}) * sqrt({_sq_list_sum('p_vec')}), 0.0),
             4) AS centroid_drift
FROM agg JOIN pivots ON cell = pivot_id
"""


def _bias_rounds(sql: str) -> str:
    """Rewrite every lowercase ``round(<expr>, <n>)`` to ``round(<expr> + 1e-9, <n>)``.

    Mirrors utils.ROUND_BIAS on the Spark side: engines disagree on rounding
    EXACT half-decimals (Spark BigDecimal-HALF_UP vs DuckDB scaled multiply),
    and fixed-precision averages hit exact halves systematically; the
    identical pre-round bias on both engines removes the boundary.

    Uppercase ``ROUND(`` is the deliberate opt-out marker for DECIMAL-space
    rounding (see plans.relational._exact_sum_dbl): decimal rounding is exact
    arithmetic with identical half-away-from-zero semantics on both engines,
    and adding a 1e-9 double bias would promote the operand to double and
    break that exactness.
    """
    out, i = [], 0
    while True:
        j = sql.find("round(", i)
        if j < 0:
            out.append(sql[i:])
            return "".join(out)
        # skip non-function contexts (identifier chars right before)
        if j > 0 and (sql[j - 1].isalnum() or sql[j - 1] == "_"):
            out.append(sql[i : j + 6])
            i = j + 6
            continue
        depth, k = 1, j + 6
        last_comma = -1
        while k < len(sql) and depth:
            c = sql[k]
            if c == "(":
                depth += 1
            elif c == ")":
                depth -= 1
            elif c == "," and depth == 1:
                last_comma = k
            k += 1
        if last_comma < 0:
            out.append(sql[i:k])
            i = k
            continue
        out.append(sql[i:last_comma])
        out.append(" + 1e-9")
        out.append(sql[last_comma:k])
        i = k



# X65: interval-overlap join — sessions vs 15-min activity-peak windows.
# Closed intervals at 1-second granularity, mirroring interval_join: the
# Spark side floors timestamps to epoch seconds for bins, the residual
# predicate AND overlap_sec, so the oracle compares the same integers.
ORACLES["session_peak_overlap"] = """
WITH m AS (
  SELECT user_id, ts,
         CASE WHEN lag(ts) OVER w IS NULL
                OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
              THEN 1 ELSE 0 END AS new_s
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
),
s AS (
  SELECT user_id, ts,
         CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING)
              AS BIGINT) AS session_id
  FROM m
),
sess AS (
  SELECT user_id, session_id,
         epoch_us(min(ts)) // 1000000 AS ss,
         epoch_us(max(ts)) // 1000000 AS se
  FROM s GROUP BY 1, 2
),
b AS (
  SELECT (epoch_us(ts) // 1000000) // 900 * 900 AS _b, count(*) AS peak_events
  FROM events GROUP BY 1
),
thr AS (SELECT avg(peak_events) * 1.5 AS t FROM b),
p AS (SELECT _b, peak_events FROM b, thr WHERE peak_events > t)
SELECT sess.user_id, sess.session_id,
       make_timestamp(p._b * 1000000) AS peak_start,
       p.peak_events,
       least(sess.se, p._b + 899) - greatest(sess.ss, p._b) AS overlap_sec
FROM sess JOIN p ON sess.ss <= p._b + 899 AND p._b <= sess.se
"""

# X66: weighted PageRank, 3 unrolled power iterations, damping 0.85 — the
# exact recurrence operators/graph.py:pagerank runs, spelled out per
# iteration (no recursion: iteration count is part of the contract).
_PR_ITER = """
  SELECT nd.node,
         (1.0 - 0.85::DOUBLE) / nn.n
           + 0.85::DOUBLE * COALESCE(c.s, 0.0) AS rank
  FROM nodes nd CROSS JOIN nn
  LEFT JOIN (SELECT en.dst AS node, sum({prev}.rank * en.wn) AS s
             FROM en JOIN {prev} ON en.src = {prev}.node
             GROUP BY 1) c ON nd.node = c.node
"""
ORACLES["supplier_pagerank"] = f"""
WITH rev AS (
  SELECT o_custkey * 2 AS src,
         l_suppkey * 2 + 1 AS dst,
         sum(l_extendedprice * (1.0 - l_discount)) AS w
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  GROUP BY 1, 2
),
e AS (SELECT src, dst, w FROM rev UNION ALL SELECT dst AS src, src AS dst, w FROM rev),
outs AS (SELECT src, sum(w) AS wout FROM e GROUP BY 1),
en AS (SELECT e.src, e.dst, e.w / outs.wout AS wn FROM e JOIN outs USING (src)),
nodes AS (SELECT DISTINCT src AS node FROM e),
nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
r0 AS (SELECT node, 1.0 / nn.n AS rank FROM nodes, nn),
r1 AS ({_PR_ITER.format(prev='r0')}),
r2 AS ({_PR_ITER.format(prev='r1')}),
r3 AS ({_PR_ITER.format(prev='r2')})
SELECT (CASE WHEN node % 2 = 0 THEN 'c' ELSE 's' END) || CAST(node // 2 AS VARCHAR) AS node,
       round(rank, 6) AS rank
FROM r3
"""

# X67: int8-quantized shortlist (top-20 by approx cosine; per-vector scale
# cancels in cosine, so the int array scores directly) + exact float rerank
# to top-5. Same query set / output contract as cosine_topk.
ORACLES["quantized_topk_rerank"] = _QUANT_RERANK_ORACLE


# Q8 shape: one conditional-aggregate pass; exact-decimal sums (uppercase
# ROUND opts out of the bias rewrite — decimal rounding is exact on both
# engines), ratio of the already-rounded doubles rounded 6dp (biased).
ORACLES["national_market_share"] = """
WITH cdim AS (
  SELECT c_custkey FROM customer
  JOIN nation ON c_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
  WHERE r_name = 'ASIA'
),
sdim AS (
  SELECT s_suppkey, n_name AS s_nation FROM supplier
  JOIN nation ON s_nationkey = n_nationkey
),
base AS (
  SELECT year(o_orderdate) AS o_year,
         l_extendedprice * (1 - l_discount) AS rev,
         (s_nation = 'NATION_5') AS is_nation
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN cdim ON o_custkey = cdim.c_custkey
  JOIN part ON l_partkey = p_partkey AND p_type = 'PROMO'
  JOIN sdim ON l_suppkey = sdim.s_suppkey
),
agg AS (
  SELECT o_year,
         CAST(ROUND(sum(CAST(CASE WHEN is_nation THEN rev ELSE 0.0 END AS DECIMAL(25,10))), 2) AS DOUBLE) AS nation_revenue,
         CAST(ROUND(sum(CAST(rev AS DECIMAL(25,10))), 2) AS DOUBLE) AS market_revenue
  FROM base GROUP BY 1
)
SELECT CAST(o_year AS INTEGER) AS o_year, nation_revenue, market_revenue,
       round(nation_revenue / market_revenue, 6) AS mkt_share
FROM agg
"""

# Q10 shape: returnflag-filtered fact rollup on custkey, dims attach after.
ORACLES["returned_item_customers"] = """
WITH rev AS (
  SELECT o_custkey,
         CAST(ROUND(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(25,10))), 2) AS DOUBLE) AS revenue,
         count(*) AS returned_lines
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  WHERE l_returnflag = 'R'
  GROUP BY 1
)
SELECT c_custkey, c_name, n_name,
       round(c_acctbal, 2) AS c_acctbal,
       revenue, returned_lines
FROM rev
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
ORDER BY revenue DESC, c_custkey
LIMIT 20
"""


# X70: the training-mix funnel — curation output composed with 8-gram
# decontamination, alpha/temperature source mixing, and budgeted packing;
# every stage count joins the stage id set to ONE token projection. sums of
# BIGINT are cast back from HUGEINT (the sessionization lesson).
ORACLES["training_mix_report"] = f"""
WITH tok AS (
  SELECT doc_id, source,
         CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS BIGINT) AS n_tokens
  FROM documents
),
cur AS (SELECT doc_id FROM ({_CURATION_ORACLE}) c),
tr AS (
  SELECT d.doc_id, string_split(d.text, ' ') AS toks
  FROM documents d JOIN cur USING (doc_id)
),
tr_sh AS (
  SELECT DISTINCT doc_id, shingle FROM (
    SELECT doc_id,
           unnest(list_transform(range(1, len(toks) - 6),
                                 i -> array_to_string(toks[i:i+7], ' '))) AS shingle
    FROM tr
  )
),
ev_sh AS (
  SELECT DISTINCT shingle FROM (
    SELECT unnest(list_transform(range(1, len(toks) - 6),
                                 i -> array_to_string(toks[i:i+7], ' '))) AS shingle
    FROM (SELECT string_split(text, ' ') AS toks FROM documents WHERE doc_id % 20 = 0) e
  )
),
contam AS (SELECT DISTINCT doc_id FROM tr_sh JOIN ev_sh USING (shingle)),
decon AS (
  SELECT cur.doc_id FROM cur LEFT JOIN contam USING (doc_id)
  WHERE contam.doc_id IS NULL
),
d_tok AS (SELECT t.* FROM tok t JOIN decon USING (doc_id)),
c2 AS (SELECT source, count(*) AS n FROM d_tok GROUP BY 1),
r2 AS (
  SELECT source,
         least(1.0,
               (sum(n) OVER () * 0.5 * pow(n, 0.5) / sum(pow(n, 0.5)) OVER ()) / n
         ) AS rate
  FROM c2
),
t2 AS (SELECT source, CAST(floor(rate * {float(1 << 32)}) AS BIGINT) AS keep_below FROM r2),
mixed AS (
  SELECT d.doc_id, d.source, d.n_tokens
  FROM d_tok d JOIN t2 USING (source)
  WHERE ('0x' || substr(md5('alpha:' || CAST(d.doc_id AS VARCHAR)), 1, 8))::BIGINT < keep_below
),
pb AS (
  SELECT doc_id, doc_id % 8 AS shard, n_tokens,
         sum(n_tokens) OVER (PARTITION BY doc_id % 8 ORDER BY doc_id
             ROWS UNBOUNDED PRECEDING) - n_tokens AS start_offset
  FROM mixed
),
pseq AS (SELECT DISTINCT shard, CAST(floor(start_offset / 512.0) AS BIGINT) AS seq_id FROM pb)
SELECT 1 AS stage_ord, 'raw' AS stage,
       (SELECT count(*) FROM tok) AS docs,
       (SELECT CAST(sum(n_tokens) AS BIGINT) FROM tok) AS tokens
UNION ALL
SELECT 2, 'curated',
       (SELECT count(*) FROM tok JOIN cur USING (doc_id)),
       (SELECT CAST(sum(n_tokens) AS BIGINT) FROM tok JOIN cur USING (doc_id))
UNION ALL
SELECT 3, 'decontaminated',
       (SELECT count(*) FROM d_tok),
       (SELECT CAST(sum(n_tokens) AS BIGINT) FROM d_tok)
UNION ALL
SELECT 4, 'mixed',
       (SELECT count(*) FROM mixed),
       (SELECT CAST(sum(n_tokens) AS BIGINT) FROM mixed)
UNION ALL
SELECT 5, 'packed',
       (SELECT count(*) FROM pseq),
       (SELECT CAST(sum(n_tokens) AS BIGINT) FROM mixed)
"""


# X72: HLL rollup — exact columns computed exactly; the sketch estimates
# stay in-plan on the Spark side, surfaced as boolean verdicts pinned TRUE
# (the approx_stats contract: estimator drift flips a boolean -> hash fail).
ORACLES["hll_user_rollup"] = """
SELECT event_type,
       count(DISTINCT CAST(ts AS DATE)) AS n_grains,
       count(DISTINCT user_id) AS exact_distinct,
       TRUE AS merged_within_envelope,
       TRUE AS est_within_envelope
FROM events GROUP BY 1
"""


# X73: embedding-space decontamination — max cosine vs the benchmark split,
# thresholded on the ROUNDED value (boundary engine-deterministic).
ORACLES["semantic_decontaminate"] = f"""
WITH ev AS (SELECT embedding AS e_vec FROM embeddings WHERE vec_id % 25 = 0),
c AS (SELECT vec_id, embedding AS c_vec FROM embeddings WHERE vec_id % 25 <> 0),
scored AS (
  SELECT c.vec_id,
         max(list_sum(list_transform(range(1, {_DIM + 1}),
               i -> CAST(c_vec[i] AS DOUBLE) * CAST(e_vec[i] AS DOUBLE)))
             / NULLIF(sqrt({_sq_list_sum('c_vec')}) * sqrt({_sq_list_sum('e_vec')}), 0.0)
         ) AS raw_max
  FROM c CROSS JOIN ev
  GROUP BY c.vec_id
)
SELECT vec_id,
       round(raw_max, 6) AS max_eval_cosine,
       COALESCE(round(raw_max, 6) >= 0.8, FALSE) AS contaminated
FROM scored
"""


# Forward as-of: DuckDB native ASOF with the inequality flipped — an
# independent implementation of the semantics, same as the backward oracle.
ORACLES["asof_join_forward"] = """
WITH purchases AS (
  SELECT user_id, ts AS pts, event_id, value AS purchase_value
  FROM events WHERE event_type = 'purchase'
),
clicks AS (
  -- max-value reduction per (user, ts): same determinism rationale as the
  -- backward oracle (Spark tiebreak == greatest value tuple at equal ts)
  SELECT user_id, ts AS cts, max(value) AS next_click_value
  FROM events WHERE event_type = 'click' GROUP BY 1, 2
)
SELECT p.user_id, p.pts, p.event_id, p.purchase_value, c.next_click_value
FROM purchases p
ASOF LEFT JOIN clicks c ON p.user_id = c.user_id AND p.pts <= c.cts
"""

# (the _bias_rounds rebind lives at the very END of this module so that
# every oracle — including ones registered below this point — receives the
# same +1e-9 rounding bias the Spark side applies via utils.round_det;
# round 6 review caught 18 oracles registered after a mid-file rebind that
# silently never got biased)


# X78: Q14-flavored promo share — one conditional aggregate; the pct is a
# ratio of the two exact-decimal totals, biased-rounded on both engines.
ORACLES["promo_revenue_pct"] = """
WITH agg AS (
  SELECT month(l_shipdate) AS ship_month,
         CAST(ROUND(sum(CAST(CASE WHEN p_type = 'PROMO'
               THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END
               AS DECIMAL(25,10))), 2) AS DOUBLE) AS promo_revenue,
         CAST(ROUND(sum(CAST(l_extendedprice * (1 - l_discount)
               AS DECIMAL(25,10))), 2) AS DOUBLE) AS total_revenue
  FROM lineitem
  JOIN part ON l_partkey = p_partkey
  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
    AND l_shipdate < TIMESTAMP '1997-01-01'
  GROUP BY 1
)
SELECT ship_month, promo_revenue, total_revenue,
       round(100.0 * promo_revenue / total_revenue, 6) AS promo_pct
FROM agg
"""


# X79: Q19-flavored OR-of-ANDs over (brand, size, quantity) branches.
ORACLES["discounted_revenue"] = """
SELECT CAST(ROUND(sum(CAST(l_extendedprice * (1 - l_discount)
             AS DECIMAL(25,10))), 2) AS DOUBLE) AS revenue,
       count(*) AS line_count
FROM lineitem
JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 10
       AND l_quantity BETWEEN 1.0 AND 15.0)
   OR (p_brand = 'Brand#2' AND p_size BETWEEN 5 AND 25
       AND l_quantity BETWEEN 10.0 AND 30.0)
   OR (p_brand = 'Brand#3' AND p_size BETWEEN 20 AND 50
       AND l_quantity BETWEEN 25.0 AND 50.0)
"""


# X80: Q16-flavored distinct-supplier census; the NOT IN list is the
# deficit-supplier set (broadcast anti-join Spark-side).
ORACLES["supplier_count_by_part_attrs"] = """
WITH pairs AS (
  SELECT DISTINCT p_brand,
         CAST(floor((p_size - 1) / 10) * 10 + 1 AS INTEGER) AS size_band,
         l_suppkey
  FROM lineitem
  JOIN part ON l_partkey = p_partkey AND p_type <> 'ECONOMY'
  WHERE l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
)
SELECT p_brand, size_band, count(*) AS supplier_cnt
FROM pairs GROUP BY 1, 2
"""


# X81: Q7-flavored cross-border trade volume.
ORACLES["nation_trade_volume"] = """
SELECT sn.n_name AS supp_nation,
       cn.n_name AS cust_nation,
       year(l_shipdate) AS l_year,
       CAST(ROUND(sum(CAST(l_extendedprice * (1 - l_discount)
             AS DECIMAL(25,10))), 2) AS DOUBLE) AS revenue,
       count(*) AS line_count
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation sn ON s_nationkey = sn.n_nationkey
JOIN customer ON o_custkey = c_custkey
JOIN nation cn ON c_nationkey = cn.n_nationkey
WHERE sn.n_name <> cn.n_name
  AND l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate < TIMESTAMP '1998-01-01'
GROUP BY 1, 2, 3
"""


# X82: as-of with tolerance — DuckDB native ASOF, stale matches nulled by
# the same 30-minute band.
ORACLES["asof_join_tolerance"] = """
WITH purchases AS (
  SELECT user_id, ts AS pts, event_id, value AS purchase_value
  FROM events WHERE event_type = 'purchase'
),
clicks AS (
  -- max-value reduction per (user, ts): see the asof_join oracle
  SELECT user_id, ts AS cts, max(value) AS last_click_value
  FROM events WHERE event_type = 'click' GROUP BY 1, 2
)
SELECT p.user_id, p.pts, p.event_id, p.purchase_value,
       CASE WHEN c.cts >= p.pts - INTERVAL 30 MINUTE
            THEN c.last_click_value END AS last_click_value
FROM purchases p
ASOF LEFT JOIN clicks c ON p.user_id = c.user_id AND p.pts >= c.cts
"""


# X83: soft dedup — same md5 fingerprint groups as dedup_exact; the keep
# decision replays the engine-portable hash32 threshold.
ORACLES["soft_dedup"] = f"""
WITH fp AS (
  SELECT doc_id,
         md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fingerprint
  FROM documents
),
g AS (
  SELECT doc_id, fingerprint,
         count(*) OVER (PARTITION BY fingerprint) AS dup_count,
         min(doc_id) OVER (PARTITION BY fingerprint) AS min_id
  FROM fp
)
SELECT doc_id, fingerprint, dup_count,
       doc_id = min_id AS is_canonical,
       (doc_id = min_id)
       OR (('0x' || substr(md5('soft:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
           < floor({float(1 << 32)} / sqrt(CAST(dup_count AS DOUBLE)))) AS kept
FROM g
"""


# X84: shingle containment (asymmetric near-dup) — same inverted index and
# doc-freq cap as ngram_jaccard_pairs, scored |A∩B| / min(|A|,|B|).
ORACLES["containment_pairs"] = f"""
WITH {_SHINGLES_CTE},
freq AS (
  SELECT shingle FROM shingles GROUP BY 1 HAVING count(*) BETWEEN 2 AND 50
),
kept AS (SELECT s.* FROM shingles s JOIN freq USING (shingle)),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
  FROM kept a JOIN kept b
    ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
sizes AS (SELECT doc_id, count(*) AS n FROM shingles GROUP BY 1)
SELECT i.doc_a, i.doc_b, i.inter,
       sa.n AS n_a, sb.n AS n_b,
       round(i.inter / CAST(least(sa.n, sb.n) AS DOUBLE), 6) AS containment
FROM inter i
JOIN sizes sa ON sa.doc_id = i.doc_a
JOIN sizes sb ON sb.doc_id = i.doc_b
WHERE round(i.inter / CAST(least(sa.n, sb.n) AS DOUBLE), 6) >= 0.4
"""


# X85: deterministic upsampling with replacement — integer part replicates,
# fractional part Bernoulli-rounds on the portable hash32.
ORACLES["upsample_mix"] = f"""
WITH w AS (
  SELECT doc_id, lang, source, n_chars,
         CASE lang WHEN 'zh' THEN 3.0 WHEN 'de' THEN 2.5
                   WHEN 'es' THEN 1.5 WHEN 'fr' THEN 0.5
                   ELSE 1.0 END AS wt
  FROM documents
),
n AS (
  SELECT doc_id, lang, source, n_chars,
         CAST(floor(wt) +
              CASE WHEN ('0x' || substr(md5('upsample:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                        < floor((wt - floor(wt)) * {float(1 << 32)})
                   THEN 1 ELSE 0 END AS INTEGER) AS n_copies
  FROM w
)
SELECT doc_id, lang, source, n_chars, unnest(range(0, n_copies)) AS copy_id
FROM n WHERE n_copies > 0
"""


# X86: Morton/Z-order codes — bit interleave mirrored as shift arithmetic
# (disjoint bits, so sum == or); fixed-range binning over the exact global
# min/max, clamped to the top bin.
ORACLES["zorder_fingerprint"] = """
WITH bounds AS (
  SELECT CAST(min(l_partkey) AS DOUBLE) AS xlo, CAST(max(l_partkey) AS DOUBLE) AS xhi,
         CAST(min(l_suppkey) AS DOUBLE) AS ylo, CAST(max(l_suppkey) AS DOUBLE) AS yhi
  FROM lineitem
),
binned AS (
  SELECT l_orderkey, l_linenumber,
         CAST(least(greatest(COALESCE(CASE WHEN xhi = xlo THEN NULL
              ELSE floor((CAST(l_partkey AS DOUBLE) - xlo) / (xhi - xlo) * 256) END, 0), 0), 255) AS BIGINT) AS bx,
         CAST(least(greatest(COALESCE(CASE WHEN yhi = ylo THEN NULL
              ELSE floor((CAST(l_suppkey AS DOUBLE) - ylo) / (yhi - ylo) * 256) END, 0), 0), 255) AS BIGINT) AS by
  FROM lineitem CROSS JOIN bounds
)
SELECT l_orderkey, l_linenumber,
       CAST(list_sum(list_transform(range(0, 8),
            i -> ((bx >> i) & 1) * (CAST(1 AS BIGINT) << (2 * i))
               + ((by >> i) & 1) * (CAST(1 AS BIGINT) << (2 * i + 1)))) AS BIGINT) AS zval
FROM binned
"""


# X87: PSI drift — fixed-width bins from the reference range; proportions
# are plain count/N clamped to the 1e-6 floor (NOT Laplace smoothing,
# which biases PSI > 0 for identical distributions of different sizes —
# removed in round 6); per-bin terms + repeated total (sum of the ROUNDED
# terms, mirrored exactly).
ORACLES["psi_drift"] = """
WITH bounds AS (
  SELECT CAST(min(value) AS DOUBLE) AS lo, CAST(max(value) AS DOUBLE) AS hi
  FROM events WHERE event_type = 'view'
),
binify AS (
  SELECT e.event_type,
         CAST(least(greatest(COALESCE(CASE WHEN hi = lo THEN NULL
              ELSE floor((CAST(value AS DOUBLE) - lo) / (hi - lo) * 10) END, 0), 0), 9) AS INTEGER) AS bin
  FROM events e CROSS JOIN bounds
  WHERE e.event_type IN ('view', 'purchase') AND value IS NOT NULL
),
nullcounts AS (
  SELECT CAST(COALESCE(sum(CASE WHEN event_type = 'view' THEN 1 END), 0) AS BIGINT) AS ref_null_count,
         CAST(COALESCE(sum(CASE WHEN event_type = 'purchase' THEN 1 END), 0) AS BIGINT) AS cur_null_count
  FROM events WHERE event_type IN ('view', 'purchase') AND value IS NULL
),
bins AS (SELECT unnest(range(0, 10)) AS bin),
counts AS (
  SELECT CAST(b.bin AS INTEGER) AS bin,
         CAST(COALESCE(sum(CASE WHEN x.event_type = 'view' THEN 1 END), 0) AS BIGINT) AS ref_count,
         CAST(COALESCE(sum(CASE WHEN x.event_type = 'purchase' THEN 1 END), 0) AS BIGINT) AS cur_count
  FROM bins b LEFT JOIN binify x ON x.bin = b.bin
  GROUP BY 1
),
tot AS (SELECT sum(ref_count) AS rn, sum(cur_count) AS cn FROM counts),
terms AS (
  SELECT bin, ref_count, cur_count,
         round(greatest(ref_count / CAST(rn AS DOUBLE), 1e-6), 6) AS ref_pct,
         round(greatest(cur_count / CAST(cn AS DOUBLE), 1e-6), 6) AS cur_pct,
         round((greatest(cur_count / CAST(cn AS DOUBLE), 1e-6)
                - greatest(ref_count / CAST(rn AS DOUBLE), 1e-6))
               * ln(greatest(cur_count / CAST(cn AS DOUBLE), 1e-6)
                    / greatest(ref_count / CAST(rn AS DOUBLE), 1e-6)), 6) AS psi_term
  FROM counts CROSS JOIN tot
)
SELECT bin, ref_count, cur_count, ref_pct, cur_pct, psi_term,
       (SELECT round(sum(psi_term), 6) FROM terms) AS psi_total,
       ref_null_count, cur_null_count
FROM terms CROSS JOIN nullcounts
"""


# X88: CDC apply — greatest seq wins per key, deletes suppress the key;
# tie preference: delete, then value desc (mirrors the Spark window).
ORACLES["apply_changelog"] = """
WITH chg AS (
  SELECT user_id, event_id,
         CASE WHEN event_type = 'error' THEN 'delete' ELSE 'upsert' END AS op,
         value
  FROM events
),
winner AS (
  SELECT * FROM chg
  QUALIFY row_number() OVER (
    PARTITION BY user_id
    ORDER BY event_id DESC,
             CASE WHEN op = 'delete' THEN 1 ELSE 0 END DESC,
             value DESC NULLS LAST
  ) = 1
)
SELECT user_id, event_id, value FROM winner WHERE op <> 'delete'
"""


# X90: Q17-flavored correlated-subquery decomposition.
ORACLES["small_quantity_revenue"] = """
WITH bp AS (SELECT p_partkey FROM part WHERE p_brand = 'Brand#1'),
bl AS (
  SELECT l_partkey, l_quantity, l_extendedprice
  FROM lineitem JOIN bp ON l_partkey = p_partkey
),
pa AS (SELECT l_partkey, avg(l_quantity) AS avg_qty FROM bl GROUP BY 1)
SELECT round(CAST(ROUND(sum(CAST(l_extendedprice AS DECIMAL(25,10))), 2) AS DOUBLE) / 7.0, 6) AS avg_yearly,
       count(*) AS line_count
FROM bl JOIN pa USING (l_partkey)
WHERE l_quantity < 0.5 * avg_qty
"""


# X91: LTV deciles — ntile(10) over the exact per-customer totals,
# custkey tiebreak keeps the decile assignment engine-identical.
ORACLES["customer_value_deciles"] = """
WITH per_cust AS (
  SELECT o_custkey,
         CAST(ROUND(sum(CAST(o_totalprice AS DECIMAL(25,10))), 2) AS DOUBLE) AS cust_value,
         count(*) AS n_orders
  FROM orders GROUP BY 1
),
d AS (
  SELECT *, ntile(10) OVER (ORDER BY cust_value, o_custkey) AS decile
  FROM per_cust
)
SELECT decile,
       count(*) AS n_customers,
       CAST(sum(n_orders) AS BIGINT) AS n_orders,
       round(min(cust_value), 6) AS min_value,
       round(max(cust_value), 6) AS max_value,
       CAST(ROUND(sum(CAST(cust_value AS DECIMAL(25,10))), 2) AS DOUBLE) AS decile_value
FROM d GROUP BY 1
"""


# X94: Q9-flavored profit rollup (modeled supply cost — no partsupp).
ORACLES["product_profit"] = """
SELECT sn.n_name AS supp_nation,
       year(o_orderdate) AS o_year,
       CAST(ROUND(sum(CAST(l_extendedprice * (1 - l_discount)
             - 0.6 * p_retailprice * l_quantity AS DECIMAL(25,10))), 2) AS DOUBLE) AS profit,
       count(*) AS line_count
FROM lineitem
JOIN part ON l_partkey = p_partkey AND p_name LIKE '%widget%'
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation sn ON s_nationkey = sn.n_nationkey
JOIN orders ON l_orderkey = o_orderkey
GROUP BY 1, 2
"""


# X95: Q13-flavored count-of-counts including the zero bucket.
ORACLES["customer_order_distribution"] = """
WITH per_cust AS (
  SELECT o_custkey, count(*) AS n
  FROM orders WHERE o_orderpriority <> '1-URGENT'
  GROUP BY 1
)
SELECT COALESCE(n, 0) AS order_count,
       count(*) AS n_customers
FROM customer LEFT JOIN per_cust ON c_custkey = o_custkey
GROUP BY 1
"""


# X100: manifest-pruned versioned read — the oracle answers the same
# key-range rollup off the raw table; equality proves the file prune is
# lossless (the skip itself is audited by pytest via inputFiles()).
ORACLES["pruned_scan_revenue"] = """
WITH cut AS (SELECT CAST(max(l_orderkey) // 5 AS BIGINT) AS c FROM lineitem)
SELECT l_returnflag,
       count(*) AS n_rows,
       CAST(sum(l_orderkey) AS BIGINT) AS key_sum,
       CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty_sum
FROM lineitem, cut
WHERE l_orderkey <= c
GROUP BY 1
"""


# X99: incremental materialized OHLCV — the oracle is the ONE-SHOT full
# rollup; equality proves the two-increment algebraic fold is exact.
ORACLES["incremental_ohlcv"] = f"""
WITH {TICKS_CTE}
SELECT symbol,
       CAST("timestamp" AS DATE)        AS date,
       min("timestamp")                 AS first_ts,
       max("timestamp")                 AS last_ts,
       (min(struct_pack(t := "timestamp", p := price))).p      AS daily_open,
       max(price)                       AS daily_high,
       min(price)                       AS daily_low,
       (max(struct_pack(t := "timestamp", p := price))).p      AS daily_close,
       CAST(sum(volume) AS BIGINT)      AS daily_volume,
       count(*)                         AS tick_count,
       round((max(struct_pack(t := "timestamp", p := price))).p - (min(struct_pack(t := "timestamp", p := price))).p, 6) AS daily_change
FROM ticks
GROUP BY 1, 2
"""


# X98: dead-letter rollup — the corruption rule (event_id % 13 == 0) is
# the ground truth the permissive parse must rediscover byte-for-byte.
ORACLES["dead_letter_stats"] = """
SELECT 'events' AS topic,
       CAST(user_id % 4 AS INTEGER) AS partition,
       count(*) AS n_rows,
       CAST(COALESCE(sum(CASE WHEN event_id % 13 = 0 THEN 1 END), 0) AS BIGINT) AS n_dead,
       round(COALESCE(sum(CASE WHEN event_id % 13 = 0 THEN 1 END), 0)
             / CAST(count(*) AS DOUBLE), 6) AS dead_rate,
       min(CASE WHEN event_id % 13 = 0 THEN event_id END) AS first_dead_offset,
       max(CASE WHEN event_id % 13 = 0 THEN event_id END) AS last_dead_offset
FROM events
GROUP BY 1, 2
"""


# X89 (driver-visible): streaming CDC final state ≡ one-shot batch fold.
# The Spark side runs a REAL two-micro-batch availableNow stream with
# seqs interleaved across batches; the oracle folds the whole changelog
# at once — equality proves the stored-seq comparison, not arrival order,
# decides every key.
ORACLES["stream_cdc_parity"] = """
WITH chg AS (
  SELECT user_id, event_id AS seq,
         CASE WHEN event_type = 'error' THEN 'delete' ELSE 'upsert' END AS op,
         value
  FROM events
),
winner AS (
  SELECT * FROM chg
  QUALIFY row_number() OVER (
    PARTITION BY user_id
    ORDER BY seq DESC,
             CASE WHEN op = 'delete' THEN 1 ELSE 0 END DESC,
             value DESC NULLS LAST
  ) = 1
)
SELECT user_id, seq, value FROM winner WHERE op <> 'delete'
"""


# X97: audio decode features — recompute the synthetic clip's decoded
# statistics from the same integer formula (n_bytes = 44-byte canonical
# header + 2 bytes/sample; sums of squares exact in int64/hugeint).
ORACLES["multimodal_audio_features"] = """
WITH p AS (
  SELECT doc_id,
         800 + (doc_id % 101) * 4  AS n,
         8000 + (doc_id % 3) * 4000 AS rate,
         doc_id % 23 + 2            AS step
  FROM documents
),
s AS (
  SELECT doc_id, n, rate,
         least(greatest((t.i * step + doc_id) % 90001 - 45000, -32768), 32767) AS v
  FROM p, UNNEST(range(0, n)) AS t(i)
)
SELECT doc_id AS asset_id,
       CAST(44 + 2 * n AS BIGINT) AS n_bytes,
       TRUE AS decode_ok,
       CAST(rate AS INTEGER) AS sample_rate,
       1 AS n_channels,
       CAST(n AS BIGINT) AS n_samples,
       round(n / CAST(rate AS DOUBLE), 6) AS duration_s,
       round(sqrt(CAST(sum(v * v) AS DOUBLE) / n), 6) AS rms,
       CAST(max(abs(v)) AS INTEGER) AS peak,
       round(sum(CASE WHEN v = 32767 OR v = -32768 THEN 1 ELSE 0 END)
             / CAST(n AS DOUBLE), 6) AS clipping_ratio
FROM s
GROUP BY doc_id, n, rate
"""


# X97 (windows): per-256-sample-frame energy — same integer samples,
# regrouped by i // 256; partial tail windows carry their true length.
ORACLES["multimodal_audio_windows"] = """
WITH p AS (
  SELECT doc_id,
         800 + (doc_id % 101) * 4  AS n,
         doc_id % 23 + 2            AS step
  FROM documents
),
s AS (
  SELECT doc_id, CAST(t.i // 256 AS INTEGER) AS win_idx,
         least(greatest((t.i * step + doc_id) % 90001 - 45000, -32768), 32767) AS v
  FROM p, UNNEST(range(0, n)) AS t(i)
)
SELECT doc_id AS asset_id, win_idx,
       count(*) AS n_in_win,
       round(sqrt(CAST(sum(v * v) AS DOUBLE) / count(*)), 6) AS rms,
       CAST(max(abs(v)) AS INTEGER) AS peak
FROM s
GROUP BY 1, 2
"""


# X96: line-level boilerplate dedup (C4-style) — synthesize 3-word lines
# with the same regex chunking the Spark query uses, doc-freq count per
# trimmed-line fingerprint, drop lines in >= 3 docs, reassemble in order.
ORACLES["line_dedup"] = r"""
WITH d AS (
  SELECT doc_id,
         regexp_replace(text, '((?:\S+\s+){2}\S+)\s+', '\1' || chr(10), 'g') AS t
  FROM documents
),
sp AS (SELECT doc_id, string_split(t, chr(10)) AS parts FROM d),
lines AS (
  SELECT doc_id, CAST(p.pos AS INTEGER) - 1 AS pos,
         parts[CAST(p.pos AS INTEGER)] AS line
  FROM sp, UNNEST(range(1, len(parts) + 1)) AS p(pos)
),
freq AS (
  SELECT md5(trim(line)) AS fp, count(DISTINCT doc_id) AS n_docs
  FROM lines WHERE trim(line) <> '' GROUP BY 1
),
marked AS (
  SELECT l.doc_id, l.pos, l.line,
         (trim(l.line) <> '' AND COALESCE(f.n_docs, 0) >= 3) AS dropped
  FROM lines l LEFT JOIN freq f ON md5(trim(l.line)) = f.fp
),
agg AS (
  SELECT doc_id,
         COALESCE(string_agg(line, chr(10) ORDER BY pos)
                  FILTER (WHERE NOT dropped), '') AS text_clean,
         count(*) AS n_lines,
         CAST(COALESCE(sum(CASE WHEN dropped THEN 1 END), 0) AS BIGINT) AS n_removed
  FROM marked
  GROUP BY 1
)
-- LEFT JOIN back onto documents: string_split(NULL) yields no rows, but
-- the Spark operator keeps NULL-text docs via posexplode_outer with
-- text_clean=''/n_lines=0 (round-7 ADVICE — parity must not depend on the
-- fixtures having no NULL text).
SELECT d0.doc_id,
       COALESCE(a.text_clean, '') AS text_clean,
       CAST(COALESCE(a.n_lines, 0) AS BIGINT) AS n_lines,
       CAST(COALESCE(a.n_removed, 0) AS BIGINT) AS n_removed
FROM documents d0
LEFT JOIN agg a ON d0.doc_id = a.doc_id
"""


# X101: interval union per user — sweep-line merge of 15-minute event
# exposure intervals (running max end over the (s, e) sort; a new segment
# opens when s exceeds every prior end), then per-user coverage stats in
# exact epoch microseconds.
ORACLES["interval_merge"] = """
WITH iv AS (
  SELECT user_id, ts AS s, ts + INTERVAL 900 SECOND AS e FROM events
),
m AS (
  SELECT user_id, s, e,
         max(e) OVER (PARTITION BY user_id ORDER BY s, e
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pme
  FROM iv
),
g AS (
  SELECT user_id, s, e,
         CASE WHEN pme IS NULL OR s > pme THEN 1 ELSE 0 END AS ns
  FROM m
),
seg AS (
  SELECT user_id, s, e,
         sum(ns) OVER (PARTITION BY user_id ORDER BY s, e
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS seg_id
  FROM g
),
a AS (
  SELECT user_id, seg_id, min(s) AS ss, max(e) AS se, count(*) AS n
  FROM seg GROUP BY 1, 2
)
SELECT user_id,
       CAST(count(*) AS BIGINT) AS n_segments,
       CAST(sum(epoch_us(se) - epoch_us(ss)) AS BIGINT) AS coverage_us,
       CAST(max(epoch_us(se) - epoch_us(ss)) AS BIGINT) AS max_seg_us,
       CAST(sum(n) AS BIGINT) AS n_events
FROM a GROUP BY 1
"""


# X102: blocked levenshtein pairs over the deduplicated part-name
# dictionary; block = head noun, plus the free length-band guard.
ORACLES["fuzzy_name_pairs"] = """
WITH dic AS (
  SELECT p_name AS name, regexp_extract(p_name, '([a-z]+)$', 1) AS blk,
         CAST(count(*) AS BIGINT) AS n
  FROM part GROUP BY 1, 2
)
SELECT a.name AS name_a, b.name AS name_b,
       CAST(levenshtein(a.name, b.name) AS INTEGER) AS dist,
       a.n AS n_a, b.n AS n_b
FROM dic a JOIN dic b ON a.blk = b.blk AND a.name < b.name
WHERE abs(length(a.name) - length(b.name)) <= 4
  AND levenshtein(a.name, b.name) <= 4
"""


# X103: Okapi BM25 (k1=1.2, b=0.75, smoothed idf) for the fixed query bag
# {merge, vector, stream}; N/avgdl computed over docs with >= 1 token
# (mirrors the Spark dl aggregate); ranking on the ROUNDED score + doc_id.
ORACLES["bm25_topk"] = r"""
WITH n0 AS (
  SELECT doc_id,
         string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS words
  FROM documents
),
terms AS (SELECT doc_id, unnest(words) AS term FROM n0),
t AS (SELECT doc_id, term FROM terms WHERE term <> ''),
dl AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS dl FROM t GROUP BY 1),
st AS (
  SELECT CAST(sum(dl) AS DOUBLE) AS sum_dl,
         CAST(count(*) AS DOUBLE) AS n_docs
  FROM dl
),
tf AS (
  SELECT doc_id, term, count(*) AS tf
  FROM t WHERE term IN ('merge', 'vector', 'stream') GROUP BY 1, 2
),
df AS (SELECT term, CAST(count(*) AS DOUBLE) AS df_t FROM tf GROUP BY 1),
sc AS (
  SELECT tf.doc_id, dl.dl,
         round(sum(
           ln(1.0 + (st.n_docs - df.df_t + 0.5) / (df.df_t + 0.5))
           * (tf.tf * (1.2 + 1))
           / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / (st.sum_dl / st.n_docs)))
         ), 6) AS score,
         CAST(count(*) AS BIGINT) AS n_hits
  FROM tf JOIN df USING (term) JOIN dl USING (doc_id) CROSS JOIN st
  GROUP BY 1, 2
)
SELECT doc_id, dl, score, n_hits
FROM sc ORDER BY score DESC, doc_id LIMIT 20
"""


# X104: time-travel diff — the registry query publishes v1 = orders sans
# %7 keys and v2 = orders sans %5 keys with %3 priorities restated, then
# diffs the two lake versions; the oracle recomputes the changelog from
# the slice definitions alone.
ORACLES["version_diff"] = """
WITH base AS (
  SELECT o_orderkey,
         o_orderkey % 7 AS m7, o_orderkey % 5 AS m5, o_orderkey % 3 AS m3
  FROM orders
)
SELECT o_orderkey, 'removed' AS change_type FROM base WHERE m7 <> 0 AND m5 = 0
UNION ALL
SELECT o_orderkey, 'added' AS change_type FROM base WHERE m7 = 0 AND m5 <> 0
UNION ALL
SELECT o_orderkey, 'changed' AS change_type
FROM base WHERE m7 <> 0 AND m5 <> 0 AND m3 = 0
"""


# X105: deterministic 80/10/10 split assignment via the portable md5 hash
# (same expression family as the samplers), rolled up per (lang, split).
ORACLES["split_assign"] = """
WITH s AS (
  SELECT lang, n_chars,
         ('0x' || substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
           % 10000 AS h
  FROM documents
)
SELECT lang,
       CASE WHEN h < 8000 THEN 'train'
            WHEN h < 9000 THEN 'val'
            ELSE 'test' END AS split,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS sum_chars
FROM s GROUP BY 1, 2
"""


# X106: BPE counting step — adjacent char-pair totals as
# sum over distinct words of (word freq x in-word occurrences), top 30
# with the (total desc, pair) tiebreak.
ORACLES["bpe_merge_candidates"] = r"""
WITH n0 AS (
  SELECT string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS words
  FROM documents
),
w AS (SELECT unnest(words) AS word FROM n0),
f AS (
  SELECT word, CAST(count(*) AS BIGINT) AS freq
  FROM w WHERE word <> '' GROUP BY 1
),
p AS (
  SELECT substr(word, CAST(t.i AS INTEGER), 2) AS pair, freq
  FROM f, UNNEST(range(1, length(word))) AS t(i)
  WHERE length(word) >= 2
)
SELECT pair, CAST(sum(freq) AS BIGINT) AS total
FROM p GROUP BY 1 ORDER BY total DESC, pair LIMIT 30
"""


# X107: merkle-style bucket fingerprints — order-independent sum of
# portable 32-bit row hashes per key bucket, full-outer-compared between
# copy A (orders) and copy B (sans %97 keys, %89 priorities tampered);
# only disagreeing buckets survive.
ORACLES["bucket_fingerprint_diff"] = """
WITH a0 AS (
  SELECT o_orderkey, o_custkey, o_orderstatus, o_orderpriority FROM orders
),
b0 AS (
  SELECT o_orderkey, o_custkey, o_orderstatus,
         CASE WHEN o_orderkey % 89 = 0 THEN 'TAMPERED'
              ELSE o_orderpriority END AS o_orderpriority
  FROM orders WHERE o_orderkey % 97 <> 0
),
fa AS (
  SELECT ('0x' || substr(md5('fp:b:' || CAST(o_orderkey AS VARCHAR)), 1, 8))::BIGINT
           % 64 AS bucket,
         CAST(count(*) AS BIGINT) AS n_rows_a,
         CAST(sum(('0x' || substr(md5('fp:' || concat_ws(chr(31),
              COALESCE(CAST(o_orderkey AS VARCHAR), chr(30) || 'N'),
              COALESCE(CAST(o_custkey AS VARCHAR), chr(30) || 'N'),
              COALESCE(o_orderstatus, chr(30) || 'N'),
              COALESCE(o_orderpriority, chr(30) || 'N'))), 1, 8))::BIGINT)
           AS BIGINT) AS fp_a
  FROM a0 GROUP BY 1
),
fb AS (
  SELECT ('0x' || substr(md5('fp:b:' || CAST(o_orderkey AS VARCHAR)), 1, 8))::BIGINT
           % 64 AS bucket,
         CAST(count(*) AS BIGINT) AS n_rows_b,
         CAST(sum(('0x' || substr(md5('fp:' || concat_ws(chr(31),
              COALESCE(CAST(o_orderkey AS VARCHAR), chr(30) || 'N'),
              COALESCE(CAST(o_custkey AS VARCHAR), chr(30) || 'N'),
              COALESCE(o_orderstatus, chr(30) || 'N'),
              COALESCE(o_orderpriority, chr(30) || 'N'))), 1, 8))::BIGINT)
           AS BIGINT) AS fp_b
  FROM b0 GROUP BY 1
)
SELECT COALESCE(fa.bucket, fb.bucket) AS bucket, n_rows_a, n_rows_b,
       (fp_a IS NOT DISTINCT FROM fp_b) AS fp_match
FROM fa FULL OUTER JOIN fb ON fa.bucket = fb.bucket
WHERE (fp_a IS DISTINCT FROM fp_b) OR (n_rows_a IS DISTINCT FROM n_rows_b)
"""


# X108: entity resolution — the fuzzy pair list from X102 becomes an
# undirected graph; min-label reachability labels each component, then the
# name dictionary (with row counts) re-attaches singletons by left join.
ORACLES["entity_clusters"] = """
WITH RECURSIVE dic AS (
  SELECT p_name AS name, regexp_extract(p_name, '([a-z]+)$', 1) AS blk,
         CAST(count(*) AS BIGINT) AS n
  FROM part GROUP BY 1, 2
),
pairs AS (
  SELECT a.name AS name_a, b.name AS name_b
  FROM dic a JOIN dic b ON a.blk = b.blk AND a.name < b.name
  WHERE abs(length(a.name) - length(b.name)) <= 4
    AND levenshtein(a.name, b.name) <= 4
),
edges AS (
  SELECT name_a AS src, name_b AS dst FROM pairs
  UNION
  SELECT name_b, name_a FROM pairs
),
reach(node, rid) AS (
  SELECT src, src FROM edges
  UNION
  SELECT r.node, e.dst FROM reach r JOIN edges e ON e.src = r.rid
),
lbl AS (SELECT node, min(rid) AS cluster_id FROM reach GROUP BY node)
SELECT COALESCE(l.cluster_id, d.name) AS entity_id,
       CAST(count(*) AS BIGINT) AS n_names,
       CAST(sum(d.n) AS BIGINT) AS n_parts
FROM dic d LEFT JOIN lbl l ON l.node = d.name
GROUP BY 1
"""


# X109: Efraimidis-Spirakis A-ES weighted sampling — rank by the rounded
# ln(u)/w key (u from the portable md5 hash), top 64 with id tiebreak.
ORACLES["weighted_sample"] = """
WITH h AS (
  SELECT doc_id, n_chars,
         ('0x' || substr(md5('wsamp:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT AS hv
  FROM documents WHERE n_chars > 0
)
SELECT doc_id, n_chars,
       round(ln((hv + 1) / 4294967296.0) / n_chars, 9) AS wkey
FROM h ORDER BY wkey DESC, doc_id LIMIT 64
"""


# X112: manifest-format retention delete — the registry query expires
# rows before 1998-01-01 through the file-list manifest (zero-IO drops +
# carries, boundary rewrite); the oracle is the plain filtered rollup.
ORACLES["retention_revenue"] = """
SELECT l_returnflag,
       count(*) AS n_rows,
       CAST(sum(l_orderkey) AS BIGINT) AS key_sum,
       CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty_sum
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1998-01-01'
GROUP BY 1
"""


# X112e: manifest-format keyed MERGE — keep-last-per-key over the two
# seq-stamped batch definitions the registry query folds through
# merge_upsert_manifest.
ORACLES["merge_manifest_state"] = """
WITH b0 AS (
  SELECT o_orderkey AS k, 1 AS seq, o_totalprice AS val
  FROM orders WHERE o_orderkey % 3 <> 2
),
b1 AS (
  SELECT o_orderkey AS k, 2 AS seq, o_totalprice + 100 AS val
  FROM orders WHERE o_orderkey % 2 = 0
),
u AS (SELECT * FROM b0 UNION ALL SELECT * FROM b1),
w AS (
  SELECT k, seq, val,
         row_number() OVER (PARTITION BY k ORDER BY seq DESC) AS rn
  FROM u
)
SELECT k, CAST(seq AS INTEGER) AS seq, val FROM w WHERE rn = 1
"""


# X113: referential-integrity expectations — orphan + matched-parent
# counts per foreign-key edge of the star schema.
ORACLES["fk_integrity"] = """
SELECT 'orders->customer' AS relationship,
       count(*) AS child_rows,
       CAST(sum(CASE WHEN c.c_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS orphans,
       CAST(count(DISTINCT CASE WHEN c.c_custkey IS NOT NULL THEN o.o_custkey END) AS BIGINT) AS matched_parents
FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
UNION ALL
SELECT 'lineitem->orders',
       count(*),
       CAST(sum(CASE WHEN p.o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
       CAST(count(DISTINCT CASE WHEN p.o_orderkey IS NOT NULL THEN l.l_orderkey END) AS BIGINT)
FROM lineitem l LEFT JOIN orders p ON l.l_orderkey = p.o_orderkey
UNION ALL
SELECT 'lineitem->supplier',
       count(*),
       CAST(sum(CASE WHEN s.s_suppkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
       CAST(count(DISTINCT CASE WHEN s.s_suppkey IS NOT NULL THEN l.l_suppkey END) AS BIGINT)
FROM lineitem l LEFT JOIN supplier s ON l.l_suppkey = s.s_suppkey
UNION ALL
SELECT 'lineitem->part',
       count(*),
       CAST(sum(CASE WHEN pa.p_partkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
       CAST(count(DISTINCT CASE WHEN pa.p_partkey IS NOT NULL THEN l.l_partkey END) AS BIGINT)
FROM lineitem l LEFT JOIN part pa ON l.l_partkey = pa.p_partkey
"""


# X114: trailing time-range rolling metrics — RANGE frame over epoch
# seconds, 900-second trailing window per symbol; RANGE ties share a
# frame identically in both engines.
ORACLES["time_range_rolling"] = f"""
WITH {TICKS_CTE}
SELECT symbol, event_id, price,
       CAST(count(*) OVER w AS BIGINT) AS trail_n,
       round(avg(price) OVER w, 6) AS trail_avg,
       min(price) OVER w AS trail_min,
       max(price) OVER w AS trail_max
FROM ticks
WINDOW w AS (
  PARTITION BY symbol ORDER BY epoch_us("timestamp")
  RANGE BETWEEN 900000000 PRECEDING AND CURRENT ROW
)
"""


# X101a: streaming Misra-Gries parity. The stream computes the summary;
# the Spark side verdicts the MG invariants (bounds / coverage / row
# counter) against exact counts as booleans, so the oracle recomputes
# only the exact group cardinalities and asserts the verdicts TRUE — a
# broken stateful fold flips a boolean and hash-mismatches.
ORACLES["stream_heavy_hitters_parity"] = """
WITH src AS (
  SELECT event_type AS grp, CAST(user_id % 37 AS VARCHAR) AS item
  FROM events WHERE user_id IS NOT NULL
)
SELECT grp,
       CAST(count(DISTINCT item) AS BIGINT) AS n_items,
       CAST(count(*) AS BIGINT) AS n_events,
       TRUE AS all_bounds_ok,
       TRUE AS coverage_ok,
       TRUE AS n_seen_ok
FROM src GROUP BY 1
"""


# X102b: OR-blocking fuzzy pairs — candidates share the head noun OR the
# first token; DISTINCT dedups pairs found by both blockers before the
# distance filter (mirrors the Spark pre-distance pair dedup).
ORACLES["fuzzy_name_pairs_multiblock"] = """
WITH dic AS (
  SELECT p_name AS name, CAST(count(*) AS BIGINT) AS n FROM part GROUP BY 1
),
keyed AS (
  SELECT name, n, '0:' || regexp_extract(name, '([a-z]+)$', 1) AS blk
  FROM dic WHERE regexp_extract(name, '([a-z]+)$', 1) <> ''
  UNION ALL
  SELECT name, n, '1:' || regexp_extract(name, '^([a-z]+)', 1) AS blk
  FROM dic WHERE regexp_extract(name, '^([a-z]+)', 1) <> ''
),
cand AS (
  SELECT DISTINCT a.name AS name_a, a.n AS n_a, b.name AS name_b, b.n AS n_b
  FROM keyed a JOIN keyed b ON a.blk = b.blk AND a.name < b.name
  WHERE abs(length(a.name) - length(b.name)) <= 4
)
SELECT name_a, name_b,
       CAST(levenshtein(name_a, name_b) AS INTEGER) AS dist, n_a, n_b
FROM cand WHERE levenshtein(name_a, name_b) <= 4
"""


# X112g: manifest rollback — after restoring v1 over an append, the
# v2→v3 diff is exactly the appended key set as 'removed', and the v1→v3
# diff is empty (contributes no rows).
ORACLES["manifest_rollback_diff"] = """
SELECT o_orderkey, 'removed' AS change_type
FROM orders WHERE o_orderkey % 4 = 0
"""


# X24: streaming silence monitor — a feed is stale iff its last event +
# the 5-day gap precedes the final watermark (= global max event time of
# the fed slices); last_seen is the monitor's millisecond state.
ORACLES["stream_silence_parity"] = """
WITH src AS (
  SELECT 's' || CAST(user_id % 6 AS VARCHAR) AS symbol, ts
  FROM events
  WHERE user_id IS NOT NULL AND ts IS NOT NULL
    AND (user_id % 6 >= 3 OR ts < TIMESTAMP '2024-01-11 00:00:00')
),
last AS (SELECT symbol, max(ts) AS mx FROM src GROUP BY 1),
wm AS (SELECT max(ts) AS w FROM src)
SELECT symbol,
       CAST(floor(epoch_us(mx) / 1000) AS BIGINT) AS last_seen_ms,
       CASE WHEN mx + INTERVAL 5 DAY < (SELECT w FROM wm)
            THEN 'stale' ELSE 'active' END AS status
FROM last
"""


# X110: versioned-dimension stream enrichment — batch = event_id % 3;
# batch 0 resolved dimension v1, batches 1-2 the mid-stream v2; keys >= 20
# are absent from both versions (left-join 'missing' passthrough).
ORACLES["stream_dim_enrich_parity"] = """
WITH src AS (
  SELECT event_id, user_id % 25 AS k, event_id % 3 AS part
  FROM events WHERE user_id IS NOT NULL AND event_id IS NOT NULL
)
SELECT CAST(part AS BIGINT) AS batch_id,
       CASE WHEN k >= 20 THEN 'missing'
            WHEN part = 0 THEN 'v1' ELSE 'v2' END AS grp,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(event_id) AS BIGINT) AS sum_event_id
FROM src GROUP BY 1, 2
"""


# X111: watermark-drop observability — the whole late slice (ts < Jan 10,
# fed after the watermark advanced past Jan 25) is dropped by the
# windowed aggregation; on-time slices are admitted. The engine counts
# drops AFTER the batch-local partial aggregation (the late batch is one
# coalesced file = one partition), so the dropped unit is the distinct
# (hour-window, event_type) GROUP, not the raw row — pinned empirically
# (308 late rows -> 265 dropped groups at sf0.001).
ORACLES["stream_watermark_drop_parity"] = """
SELECT
  CAST(sum(CASE WHEN ts >= TIMESTAMP '2024-01-20 00:00:00'
                  OR ts < TIMESTAMP '2024-01-10 00:00:00'
           THEN 1 ELSE 0 END) AS BIGINT) AS total_input_rows,
  (SELECT CAST(count(DISTINCT (date_trunc('hour', ts), event_type)) AS BIGINT)
   FROM events
   WHERE ts IS NOT NULL AND ts < TIMESTAMP '2024-01-10 00:00:00'
  ) AS dropped_by_watermark
FROM events WHERE ts IS NOT NULL
"""


# X112j: two-level (sharded) manifest end-to-end — v1 is the even-key
# half of orders published sharded, v2 appends the odd half with segment
# reuse; both reads must equal rollups off the raw table.
ORACLES["manifest_sharded_scan"] = """
SELECT 'v1' AS version_tag, o_orderpriority,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
       round(sum(o_totalprice), 2) AS price_sum
FROM orders WHERE o_orderkey % 2 = 0 GROUP BY 2
UNION ALL
SELECT 'v2', o_orderpriority,
       CAST(count(*) AS BIGINT),
       CAST(sum(o_orderkey) AS BIGINT),
       round(sum(o_totalprice), 2)
FROM orders GROUP BY 2
"""


# X116: watermarked stream-stream join parity — the streamed inner join
# (purchase within 7 days after a click, same user) must equal the batch
# self-join; both inputs arrive in one micro-batch per side so the
# watermark can never legitimately drop a row.
ORACLES["stream_stream_join_parity"] = """
SELECT a.user_id % 20 AS user_bucket,
       CAST(count(*) AS BIGINT) AS n_pairs,
       CAST(sum(a.event_id + b.event_id) AS BIGINT) AS id_sum,
       round(sum(b.value), 2) AS value_sum
FROM events a JOIN events b
  ON a.user_id = b.user_id
 AND a.event_type = 'click' AND b.event_type = 'purchase'
 AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 7 DAY
WHERE a.ts IS NOT NULL AND b.ts IS NOT NULL
GROUP BY 1
"""


# X123: watermarked stream-stream LEFT OUTER join — the batch LEFT JOIN
# twin; null-extended (unmatched) rows contribute to n_rows/n_unmatched
# only (click_id + NULL sums to nothing on both engines).
ORACLES["stream_stream_left_join_parity"] = """
WITH c AS (
  SELECT event_id AS click_id, user_id AS c_user, ts AS click_ts
  FROM events WHERE event_type = 'click' AND ts IS NOT NULL
),
p AS (
  SELECT event_id AS purchase_id, user_id AS p_user,
         ts AS purchase_ts, value AS purchase_value
  FROM events WHERE event_type = 'purchase' AND ts IS NOT NULL
),
j AS (
  SELECT * FROM c LEFT JOIN p
    ON c_user = p_user
   AND purchase_ts >= click_ts
   AND purchase_ts <= click_ts + INTERVAL 7 DAY
)
SELECT c_user % 20 AS user_bucket,
       count(*) AS n_rows,
       CAST(sum(CASE WHEN purchase_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_matched,
       CAST(sum(CASE WHEN purchase_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_unmatched,
       CAST(sum(click_id + purchase_id) AS BIGINT) AS id_sum,
       round(sum(purchase_value), 2) AS value_sum
FROM j GROUP BY 1
"""


# X125 linear-interpolation gap fill: same grid/bucket construction as
# the gapfill_15m oracle; the blend is the identical IEEE double
# expression Spark evaluates (long subtraction → double divide →
# multiply-add), so values match bit-for-bit before the 6 dp round.
ORACLES["gapfill_interpolate"] = f"""
WITH {TICKS_CTE},
obs AS (
  SELECT symbol,
         make_timestamp(((CAST(floor(epoch("timestamp")) AS BIGINT) // 900) * 900) * 1000000) AS bucket,
         max(struct_pack(_t := "timestamp", _k := event_id, _p := price))._p AS last_price
  FROM ticks GROUP BY 1, 2
),
bounds AS (SELECT symbol, min(bucket) AS lo, max(bucket) AS hi FROM obs GROUP BY 1),
grid AS (
  SELECT symbol, unnest(generate_series(lo, hi, INTERVAL 900 SECOND)) AS bucket
  FROM bounds
),
j AS (
  SELECT g.symbol, g.bucket, o.last_price
  FROM grid g LEFT JOIN obs o ON o.symbol = g.symbol AND o.bucket = g.bucket
),
w AS (
  SELECT symbol, bucket, last_price,
         CAST(floor(epoch(bucket)) AS BIGINT) AS eb,
         last_value(last_price IGNORE NULLS) OVER wp AS prev_p,
         last_value(CASE WHEN last_price IS NOT NULL
                    THEN CAST(floor(epoch(bucket)) AS BIGINT) END IGNORE NULLS) OVER wp AS prev_s,
         first_value(last_price IGNORE NULLS) OVER wn AS next_p,
         first_value(CASE WHEN last_price IS NOT NULL
                     THEN CAST(floor(epoch(bucket)) AS BIGINT) END IGNORE NULLS) OVER wn AS next_s
  FROM j
  WINDOW wp AS (PARTITION BY symbol ORDER BY bucket
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
         wn AS (PARTITION BY symbol ORDER BY bucket
                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
)
SELECT symbol, bucket,
       round(CASE WHEN last_price IS NOT NULL THEN last_price
             ELSE prev_p + (next_p - prev_p) * ((eb - prev_s) / CAST(next_s - prev_s AS DOUBLE)) END, 6) AS price,
       CASE WHEN last_price IS NULL THEN 1 ELSE 0 END AS is_gap
FROM w
"""


# X126 Bloom skip index: the lookup must equal the plain filter — the
# index only chooses which files open; a false skip loses a row here.
ORACLES["bloom_point_lookup"] = """
SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
FROM lineitem WHERE l_orderkey = 42
"""


# X124 key-level hard delete: fingerprint of the anti-set; portable hash
# = the sample_hash32 contract, retail price floor-scaled to cents.
ORACLES["manifest_key_delete"] = """
SELECT p_partkey % 7 AS key_bucket,
       count(*) AS n_rows,
       CAST(sum(CAST(('0x' || substr(md5('del:' || CAST(p_partkey AS VARCHAR)), 1, 8)) AS BIGINT)) AS BIGINT) AS key_hash_sum,
       CAST(sum(CAST(floor(p_retailprice * 100) AS BIGINT)) AS BIGINT) AS price_cents
FROM part
WHERE p_partkey % 499 <> 3
GROUP BY 1
"""


# X117: TPC-H Q21 shape — late flags per (order, supplier), per-order
# supplier/late counts, blame = the only late supplier on a
# multi-supplier order.
ORACLES["supplier_late_blame"] = """
WITH flags AS (
  SELECT l_orderkey, l_suppkey,
         max(CASE WHEN l_shipdate > o_orderdate + INTERVAL 60 DAY
                  THEN 1 ELSE 0 END) AS late
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  GROUP BY 1, 2
), per_order AS (
  SELECT l_orderkey, count(*) AS n_supp, sum(late) AS n_late
  FROM flags GROUP BY 1
)
SELECT f.l_suppkey AS suppkey, CAST(count(*) AS BIGINT) AS n_blamed
FROM flags f JOIN per_order p USING (l_orderkey)
WHERE f.late = 1 AND p.n_supp > 1 AND p.n_late = 1
GROUP BY 1
"""


# X44 compact_small_files equality: the Spark side scatters events into
# 24 small files, compacts, and fingerprints the COMPACTED directory; the
# oracle fingerprints the source table directly. Portable hash = the
# sampling.sample_hash32 contract; value floor-scaled to cents because
# DuckDB CAST(double AS BIGINT) rounds while Spark truncates.
ORACLES["compact_equality"] = """
SELECT event_type,
       count(*) AS n_rows,
       CAST(sum(CAST(('0x' || substr(md5('cmp:' || CAST(event_id AS VARCHAR)), 1, 8)) AS BIGINT)) AS BIGINT) AS id_hash_sum,
       CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
FROM events
GROUP BY event_type
"""


# X43 JSONL quarantine conservation: corruption is deterministic in
# doc_id (% 7), so the oracle predicts both branches from `documents`
# without parsing any JSON — the Spark side must route every line to
# exactly one branch with clean fields intact through serialize→parse.
ORACLES["jsonl_quarantine"] = """
SELECT 'clean' AS kind,
       count(*) AS n_rows,
       CAST(sum(doc_id) AS BIGINT) AS sum_doc_id,
       CAST(sum(length(text)) AS BIGINT) AS sum_text_len
FROM documents WHERE doc_id % 7 <> 0
UNION ALL
SELECT 'quarantined' AS kind,
       count(*) AS n_rows,
       CAST(NULL AS BIGINT) AS sum_doc_id,
       CAST(NULL AS BIGINT) AS sum_text_len
FROM documents WHERE doc_id % 7 = 0
"""


# X118 manifest schema evolution: the Spark side publishes odd-linenumber
# rows without disc_price, appends even rows with it, and reads the
# evolved table; the oracle predicts everything from raw lineitem.
# n_disc_null == odd-row count is the NULL-backfill proof; disc_price is
# one double product, identical both engines, so floor-cents agree.
ORACLES["manifest_schema_evolution"] = """
SELECT l_returnflag,
       count(*) AS n_rows,
       CAST(ROUND(sum(CAST(l_quantity AS DECIMAL(25,10))), 2) AS DOUBLE) AS sum_qty,
       CAST(sum(CASE WHEN l_linenumber % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_disc_null,
       CAST(sum(CASE WHEN l_linenumber % 2 = 0
                THEN CAST(floor(l_extendedprice * (1 - l_discount) * 100) AS BIGINT) END) AS BIGINT) AS disc_cents
FROM lineitem
GROUP BY l_returnflag
"""


# X119 TPC-H Q2 shape: min + join-back on raw parquet doubles (no
# arithmetic -> exact equality), ties to the lowest suppkey.
ORACLES["min_cost_supplier"] = """
WITH sup AS (
  SELECT s_suppkey, s_name, n_name
  FROM supplier JOIN nation ON s_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
  WHERE r_name = 'ASIA'
),
offers AS (
  SELECT DISTINCT l_partkey, l_extendedprice, l_suppkey, s_name, n_name
  FROM lineitem JOIN sup ON l_suppkey = s_suppkey
),
m AS (SELECT l_partkey, min(l_extendedprice) AS min_cost FROM offers GROUP BY 1),
r AS (
  SELECT o.l_partkey, m.min_cost, o.l_suppkey, o.s_name, o.n_name,
         row_number() OVER (PARTITION BY o.l_partkey ORDER BY o.l_suppkey) AS rn
  FROM offers o
  JOIN m ON o.l_partkey = m.l_partkey AND o.l_extendedprice = m.min_cost
)
SELECT l_partkey AS partkey, min_cost, l_suppkey AS suppkey, s_name, n_name
FROM r WHERE rn = 1
"""


# X120 TPC-H Q11 shape: the threshold compare runs in exact decimal/
# integer space (dval*n > 2*dtot) so it cannot flap on double-sum
# association; uppercase ROUND = decimal-space rounding (no bias).
ORACLES["important_parts"] = """
WITH f AS (
  SELECT l_partkey,
         sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(25,10))) AS dval
  FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation ON s_nationkey = n_nationkey
  WHERE n_name = 'NATION_3'
  GROUP BY 1
),
t AS (SELECT sum(dval) AS dtot, count(*) AS n_parts FROM f)
SELECT l_partkey AS partkey,
       CAST(ROUND(dval, 2) AS DOUBLE) AS part_value
FROM f, t
WHERE dval * n_parts > 2 * dtot
"""


# X121 reciprocal-rank fusion: both rankers' oracles embedded verbatim,
# then the 1/(60+rank) refold; <=2 addends per candidate so the double
# sum is order-free.
ORACLES["rank_fusion_topk"] = f"""
WITH a AS ({_COSINE_TOPK_ORACLE}), b AS ({_LSH_TOPK_ORACLE}),
u AS (
  SELECT query_id, neighbor_id, rank FROM a
  UNION ALL
  SELECT query_id, neighbor_id, rank FROM b
),
s AS (
  SELECT query_id, neighbor_id,
         round(sum(1.0 / (60 + rank)), 6) AS rrf_score,
         count(*) AS n_rankers
  FROM u GROUP BY 1, 2
)
SELECT query_id, neighbor_id, rrf_score, n_rankers, rank FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY rrf_score DESC, neighbor_id) AS rank
  FROM s
) t WHERE rank <= 5
"""


# X122 Count-Min sketch: the oracle replicates the exact md5 cell
# placement (sample_hash32 contract), the d x w cell counts, the min-
# over-rows estimate, and the exact count beside it.
ORACLES["countmin_user_topk"] = """
WITH js AS (SELECT unnest(range(4)) AS j),
ex AS (
  SELECT user_id, j,
         CAST(('0x' || substr(md5('cms' || CAST(j AS VARCHAR) || ':' || CAST(user_id AS VARCHAR)), 1, 8)) AS BIGINT) % 256 AS bucket
  FROM events, js
),
sk AS (SELECT j, bucket, count(*) AS cnt FROM ex GROUP BY 1, 2),
probes AS (
  SELECT DISTINCT user_id, j, bucket FROM ex
),
est AS (
  SELECT p.user_id, min(sk.cnt) AS est
  FROM probes p JOIN sk USING (j, bucket) GROUP BY 1
),
exact AS (SELECT user_id, count(*) AS exact FROM events GROUP BY 1)
SELECT user_id, est, exact, rank FROM (
  SELECT e.user_id, e.est, x.exact,
         row_number() OVER (ORDER BY e.est DESC, e.user_id) AS rank
  FROM est e JOIN exact x USING (user_id)
) t WHERE rank <= 20
"""


# X71 clustered-scan: the Spark side answers the band from the CLUSTERED
# scratch layout (plus a parquet-footer skip audit the SQL cannot see);
# the oracle answers it straight from `events` — equality proves the
# range-repartition + in-file sort is content-neutral.
ORACLES["clustered_scan_fingerprint"] = """
SELECT user_id,
       count(*) AS n_rows,
       CAST(sum(CAST(('0x' || substr(md5('clu:' || CAST(event_id AS VARCHAR)), 1, 8)) AS BIGINT)) AS BIGINT) AS id_hash_sum,
       CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
FROM events
WHERE user_id BETWEEN 6 AND 7
GROUP BY user_id
"""


# X92 time travel + rollback: both fingerprints are predicted from the v1
# slice definition (even event_ids) — the Spark side reads them through
# read_manifest(version=1) after a clobbering v2 publish, and through
# the latest pointer after rollback_manifest(1). Any wrong-version resolve
# shifts counts and hash-sums.
ORACLES["time_travel_read"] = """
WITH v1 AS (
  SELECT event_id, event_type, value FROM events WHERE event_id % 2 = 0
),
fp AS (
  SELECT event_type,
         count(*) AS n_rows,
         CAST(sum(CAST(('0x' || substr(md5('tt:' || CAST(event_id AS VARCHAR)), 1, 8)) AS BIGINT)) AS BIGINT) AS id_hash_sum,
         CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
  FROM v1 GROUP BY event_type
)
SELECT 'time_travel' AS kind, * FROM fp
UNION ALL
SELECT 'post_rollback' AS kind, * FROM fp
"""


# X19 streaming keyed dedup: micro-batch 1 redelivers batch 0's
# event_id % 3 = 1 slice byte-identically, so the deduped sink must hold
# exactly the DISTINCT union = the full projection; n_rows == n_keys is
# the in-hash no-duplicate invariant.
ORACLES["stream_dedup_keyed_parity"] = """
SELECT event_type,
       count(*) AS n_rows,
       count(DISTINCT event_id) AS n_keys,
       CAST(sum(CAST(('0x' || substr(md5('sdk:' || CAST(event_id AS VARCHAR)), 1, 8)) AS BIGINT)) AS BIGINT) AS id_hash_sum
FROM events
GROUP BY event_type
"""


# X128 replaceWhere: the expectation is spliced straight from events —
# rows outside [Jan 10, Jan 12 23:59:59] original, rows inside doubled.
# (value * 2) is an exact IEEE scaling, so floor((value*2)*100) is
# engine-identical like every other value_cents fingerprint.
ORACLES["replace_where_equality"] = """
WITH spliced AS (
  SELECT event_id, event_type, value FROM events
  WHERE ts IS NULL
     OR ts < TIMESTAMP '2024-01-10 00:00:00'
     OR ts > TIMESTAMP '2024-01-12 23:59:59'
  UNION ALL
  SELECT event_id, event_type, value * 2 AS value FROM events
  WHERE ts BETWEEN TIMESTAMP '2024-01-10 00:00:00'
              AND TIMESTAMP '2024-01-12 23:59:59'
)
SELECT event_type,
       count(*) AS n_rows,
       CAST(sum(CAST(('0x' || substr(md5('rw:' || CAST(event_id AS VARCHAR)), 1, 8)) AS BIGINT)) AS BIGINT) AS id_hash_sum,
       CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
FROM spliced
GROUP BY event_type
"""


# X129 write-audit-publish: after a promoted WAP append of the odd half
# onto the published even half (and a REJECTED poisoned append), the
# table must equal the full events projection exactly.
ORACLES["wap_publish_equality"] = """
SELECT event_type,
       count(*) AS n_rows,
       CAST(sum(CAST(('0x' || substr(md5('wap:' || CAST(event_id AS VARCHAR)), 1, 8)) AS BIGINT)) AS BIGINT) AS id_hash_sum,
       CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
FROM events
GROUP BY event_type
"""


# X130 incremental read: the v1->latest increment over (publish %3==0,
# append %3==1, append %3==2) is exactly the two appended slices.
ORACLES["incremental_read_equality"] = """
SELECT event_type,
       count(*) AS n_rows,
       CAST(sum(CAST(('0x' || substr(md5('inc:' || CAST(event_id AS VARCHAR)), 1, 8)) AS BIGINT)) AS BIGINT) AS id_hash_sum,
       CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
FROM events
WHERE event_id % 3 <> 0
GROUP BY event_type
"""


# X136 change-data-feed: v1 = orders \ {7|k}; v2 merges the 6 smallest
# keys of each side of that boundary with restated (priority, cents+1);
# v3 deletes the 6 smallest even keys. The v1->v3 feed derived from the
# slice definitions alone: inserts (in U, not in v1, survives the
# delete), deletes with V1 preimages (even for keys updated at v2),
# update pre/postimage pairs for surviving updated v1 keys.
# X143 deletion vectors: two merge-on-read deletes (both scoped to the
# low key range, so high-range files never carry DV rows) then a purge — the visible table is the plain
# double NOT-filter (merge-on-read mechanics are runtime-asserted on
# the Spark side: identical file set across deletes, time travel,
# partial purge).
ORACLES["dv_delete_equality"] = """
WITH half AS (
  SELECT CAST(floor(max(o_orderkey) / 2) AS BIGINT) AS h FROM orders
)
SELECT o_orderkey, o_orderpriority,
       CAST(floor(o_totalprice * 100) AS BIGINT) AS price_cents
FROM orders, half
WHERE NOT (o_orderkey % 10 = 3 AND o_orderkey <= half.h)
  AND NOT (CAST(floor(o_totalprice * 100) AS BIGINT) % 97 = 11
           AND o_orderkey <= half.h)
"""


ORACLES["cdf_read_equality"] = """
WITH o AS (
  SELECT o_orderkey AS k, o_orderpriority AS prio,
         CAST(floor(o_totalprice * 100) AS BIGINT) AS cents
  FROM orders
),
u AS (
  SELECT k FROM (SELECT k FROM o WHERE k % 7 = 0 ORDER BY k LIMIT 6)
  UNION ALL
  SELECT k FROM (SELECT k FROM o WHERE k % 7 <> 0 ORDER BY k LIMIT 6)
),
d AS (SELECT k FROM o WHERE k % 2 = 0 ORDER BY k LIMIT 6),
base AS (
  SELECT k, prio, cents,
         k IN (SELECT k FROM u) AS in_u,
         k IN (SELECT k FROM d) AS in_d,
         (k % 7) <> 0 AS in_v1
  FROM o
)
SELECT k AS o_orderkey, 'CDF-RESTATED' AS o_orderpriority,
       CAST(cents + 1 AS BIGINT) AS price_cents,
       'insert' AS change_type
FROM base WHERE in_u AND NOT in_v1 AND NOT in_d
UNION ALL
SELECT k, prio, cents, 'delete' FROM base WHERE in_v1 AND in_d
UNION ALL
SELECT k, prio, cents, 'update_preimage'
FROM base WHERE in_v1 AND in_u AND NOT in_d
UNION ALL
SELECT k, 'CDF-RESTATED', CAST(cents + 1 AS BIGINT), 'update_postimage'
FROM base WHERE in_v1 AND in_u AND NOT in_d
"""


# X134 composed pruning: the 1996 ship-date window x the smallest order
# key shipping inside it — the result is the plain conjunction filter
# (file skipping is runtime-asserted on the Spark side).
ORACLES["composed_prune_fingerprint"] = """
WITH probe AS (
  SELECT min(l_orderkey) AS k FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
    AND l_shipdate <= TIMESTAMP '1996-12-31'
)
SELECT l_orderkey, l_linenumber,
       strftime(l_shipdate, '%Y-%m-%d') AS ship_ymd,
       CAST(floor(l_quantity * 100) AS BIGINT) AS qty_cents,
       CAST(floor(l_extendedprice * 100) AS BIGINT) AS price_cents
FROM lineitem, probe
WHERE l_orderkey = probe.k
  AND l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate <= TIMESTAMP '1996-12-31'
"""


# X133 clustering compaction: the day-10 pruned read after a clustered
# rewrite must equal the plain day filter (skip payoff runtime-asserted).
ORACLES["cluster_compact_read"] = """
SELECT event_type,
       count(*) AS n_rows,
       CAST(sum(CAST(('0x' || substr(md5('cc:' || CAST(event_id AS VARCHAR)), 1, 8)) AS BIGINT)) AS BIGINT) AS id_hash_sum,
       CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
FROM events
WHERE ts >= TIMESTAMP '2024-01-10'
  AND ts <= TIMESTAMP '2024-01-10 23:59:59.999999'
GROUP BY event_type
"""


# X141 manifest streaming source: publish %3==0 + append %3==1 + append
# %3==2, streamed with version offsets — the sink must hold the full
# events projection exactly once (replay/increment runtime-asserted).
ORACLES["manifest_stream_read_equality"] = """
SELECT event_type,
       count(*) AS n_rows,
       CAST(sum(CAST(('0x' || substr(md5('ms:' || CAST(event_id AS VARCHAR)), 1, 8)) AS BIGINT)) AS BIGINT) AS id_hash_sum,
       CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
FROM events
GROUP BY event_type
"""


# X150 DV-backed UPDATE: two compounding range-scoped updates as a
# nested CASE rewrite — the second matches on price_cents, so it sees
# the first's postimages (merge-on-read/file-set/CDF properties are
# runtime-asserted on the Spark side).
ORACLES["dv_update_equality"] = """
WITH half AS (
  SELECT CAST(floor(max(o_orderkey) / 2) AS BIGINT) AS h FROM orders
),
s0 AS (
  SELECT o_orderkey, o_orderpriority,
         CAST(floor(o_totalprice * 100) AS BIGINT) AS price_cents
  FROM orders
),
s1 AS (
  SELECT o_orderkey,
         CASE WHEN o_orderkey % 10 = 3
                   AND o_orderkey <= (SELECT h FROM half)
              THEN 'DV-RESTATED' ELSE o_orderpriority
         END AS o_orderpriority,
         CASE WHEN o_orderkey % 10 = 3
                   AND o_orderkey <= (SELECT h FROM half)
              THEN price_cents + 7 ELSE price_cents
         END AS price_cents
  FROM s0
)
SELECT o_orderkey, o_orderpriority,
       CAST(CASE WHEN price_cents % 97 = 11
                      AND o_orderkey <= (SELECT h FROM half)
                 THEN price_cents * 2 ELSE price_cents
            END AS BIGINT) AS price_cents
FROM s1
"""


# X151 streaming change feed: the full-history CDF stream fold —
# inserts at their commit versions, click-update pre/postimages at v3,
# and v4 deletes at POST-update values (replay-exactly-once and
# stream==batch-per-commit are runtime-asserted on the Spark side).
ORACLES["stream_cdf_parity"] = """
WITH e AS (
  SELECT event_id, event_type,
         CAST(floor(value * 100) AS BIGINT) AS value_cents
  FROM events
  WHERE event_id % 30 IN (0, 1)
),
feed AS (
  SELECT event_id, event_type, value_cents,
         'insert' AS change_type,
         CAST(CASE WHEN event_id % 30 = 0 THEN 1 ELSE 2 END AS BIGINT)
           AS commit_version
  FROM e
  UNION ALL
  SELECT event_id, event_type, value_cents,
         'update_preimage', CAST(3 AS BIGINT)
  FROM e WHERE event_type = 'click'
  UNION ALL
  SELECT event_id, event_type, value_cents + 1000000,
         'update_postimage', CAST(3 AS BIGINT)
  FROM e WHERE event_type = 'click'
  UNION ALL
  SELECT event_id, event_type,
         value_cents + CASE WHEN event_type = 'click'
                            THEN 1000000 ELSE 0 END,
         'delete', CAST(4 AS BIGINT)
  FROM e WHERE event_id % 7 = 3
)
SELECT change_type, commit_version, event_type,
       count(*) AS n_rows,
       CAST(sum(CAST(('0x' || substr(md5('cdf:' || CAST(event_id AS VARCHAR)), 1, 8)) AS BIGINT)) AS BIGINT) AS id_hash_sum,
       CAST(sum(value_cents) AS BIGINT) AS value_cents
FROM feed
GROUP BY change_type, commit_version, event_type
"""


# X152 CDC replication: the replica equals the source's CASE rewrite
# (the v2 DV update) minus the v3 DV delete (replication fidelity and
# the exactly-once replay are runtime-asserted on the Spark side).
ORACLES["cdc_replicate_equality"] = """
WITH half AS (
  SELECT CAST(floor(max(o_orderkey) / 2) AS BIGINT) AS h FROM orders
  WHERE o_orderkey % 7 = 1
),
s0 AS (
  SELECT o_orderkey, o_orderpriority,
         CAST(floor(o_totalprice * 100) AS BIGINT) AS price_cents
  FROM orders
  WHERE o_orderkey % 7 = 1
),
s1 AS (
  SELECT o_orderkey,
         CASE WHEN o_orderkey % 10 = 3
                   AND o_orderkey <= (SELECT h FROM half)
              THEN 'CDC-RESTATED' ELSE o_orderpriority
         END AS o_orderpriority,
         CAST(CASE WHEN o_orderkey % 10 = 3
                        AND o_orderkey <= (SELECT h FROM half)
                   THEN price_cents + 11 ELSE price_cents
              END AS BIGINT) AS price_cents
  FROM s0
)
SELECT o_orderkey, o_orderpriority, price_cents
FROM s1
WHERE o_orderkey % 9 <> 5
"""


# X153 write-time change sidecars: the stream from the enabling
# version = the merge's update pairs + inserts at v3 and the delete's
# rows at POST-merge values at v4 (replay-exactly-once and
# stream==batch-per-commit are runtime-asserted on the Spark side).
ORACLES["stream_cdf_merge_parity"] = """
WITH o AS (
  SELECT o_orderkey AS k, o_orderpriority AS prio,
         CAST(floor(o_totalprice * 100) AS BIGINT) AS cents
  FROM orders
),
u AS (
  SELECT k FROM (SELECT k FROM o WHERE k % 7 = 0 ORDER BY k LIMIT 6)
  UNION ALL
  SELECT k FROM (SELECT k FROM o WHERE k % 7 <> 0 ORDER BY k LIMIT 6)
),
d AS (SELECT k FROM o WHERE k % 2 = 0 ORDER BY k LIMIT 6),
base AS (
  SELECT k, prio, cents,
         k IN (SELECT k FROM u) AS in_u,
         k IN (SELECT k FROM d) AS in_d,
         (k % 7) <> 0 AS in_v1
  FROM o
),
feed AS (
  SELECT k, 'CDF-RESTATED' AS prio, CAST(cents + 1 AS BIGINT) AS cents,
         'insert' AS change_type, CAST(3 AS BIGINT) AS commit_version
  FROM base WHERE in_u AND NOT in_v1
  UNION ALL
  SELECT k, prio, cents, 'update_preimage', CAST(3 AS BIGINT)
  FROM base WHERE in_u AND in_v1
  UNION ALL
  SELECT k, 'CDF-RESTATED', CAST(cents + 1 AS BIGINT),
         'update_postimage', CAST(3 AS BIGINT)
  FROM base WHERE in_u AND in_v1
  UNION ALL
  SELECT k,
         CASE WHEN in_u THEN 'CDF-RESTATED' ELSE prio END,
         CAST(CASE WHEN in_u THEN cents + 1 ELSE cents END AS BIGINT),
         'delete', CAST(4 AS BIGINT)
  FROM base WHERE in_d AND (in_v1 OR in_u)
)
SELECT k AS o_orderkey, prio AS o_orderpriority,
       cents AS price_cents, change_type, commit_version
FROM feed
"""


ORACLES["table_changes_parity"] = """
WITH o AS (
  SELECT o_orderkey AS k, o_orderpriority AS prio,
         CAST(floor(o_totalprice * 100) AS BIGINT) AS cents
  FROM orders WHERE o_orderkey <= 60000
),
u AS (SELECT k FROM o WHERE k % 7 <> 0 ORDER BY k LIMIT 6),
n AS (SELECT k FROM o WHERE k % 7 = 0 ORDER BY k LIMIT 6),
b AS (
  SELECT k, prio, cents,
         k IN (SELECT k FROM u) AS in_u,
         k IN (SELECT k FROM n) AS in_n
  FROM o
),
feed AS (
  -- v1 (full history from v_from=0: the first commit's rows as inserts)
  SELECT k, prio, cents, CAST(0 AS BIGINT) AS seq,
         'insert' AS ct, CAST(1 AS BIGINT) AS cv
  FROM b WHERE k % 7 <> 0
  -- v2 (pre-property merge, reconstructed as a keyed diff)
  UNION ALL
  SELECT k, prio, cents, CAST(0 AS BIGINT), 'update_preimage',
         CAST(2 AS BIGINT)
  FROM b WHERE in_u
  UNION ALL
  SELECT k, 'TCA', CAST(cents + 1 AS BIGINT), CAST(1 AS BIGINT),
         'update_postimage', CAST(2 AS BIGINT)
  FROM b WHERE in_u
  UNION ALL
  SELECT k, 'TCA', CAST(cents + 1 AS BIGINT), CAST(1 AS BIGINT),
         'insert', CAST(2 AS BIGINT)
  FROM b WHERE in_n
  -- v3 (property flip) contributes nothing
  -- v4 (sidecar-recorded merge)
  UNION ALL
  SELECT k, 'TCA', CAST(cents + 1 AS BIGINT), CAST(1 AS BIGINT),
         'update_preimage', CAST(4 AS BIGINT)
  FROM b WHERE in_u
  UNION ALL
  SELECT k, 'TCB', CAST(cents + 2 AS BIGINT), CAST(2 AS BIGINT),
         'update_postimage', CAST(4 AS BIGINT)
  FROM b WHERE in_u
  -- v5 (sidecar-recorded key delete, at post-v2 values)
  UNION ALL
  SELECT k, 'TCA', CAST(cents + 1 AS BIGINT), CAST(1 AS BIGINT),
         'delete', CAST(5 AS BIGINT)
  FROM b WHERE in_n
)
SELECT k AS o_orderkey, prio AS o_orderpriority, cents AS price_cents,
       seq, ct AS change_type, cv AS commit_version
FROM feed
"""


ORACLES["stream_cdf_replace_parity"] = """
WITH o AS (
  SELECT o_orderkey AS k, o_orderpriority AS prio,
         CAST(floor(o_totalprice * 100) AS BIGINT) AS cents
  FROM orders
),
m AS (SELECT * FROM o WHERE k BETWEEN 1 AND 600),
feed AS (
  -- Delta replaceWhere CDF: ALL matched old rows delete, ALL incoming
  -- rows insert, UNCANCELLED (identical restatements emit both images)
  SELECT k, prio, cents, 'delete' AS change_type,
         CAST(3 AS BIGINT) AS commit_version
  FROM m
  UNION ALL
  SELECT k,
         CASE WHEN k % 3 = 0 THEN prio ELSE 'RW-RESTATED' END,
         CAST(CASE WHEN k % 3 = 0 THEN cents ELSE cents + 7 END
              AS BIGINT),
         'insert', CAST(3 AS BIGINT)
  FROM m WHERE k % 5 <> 0
)
SELECT k AS o_orderkey, prio AS o_orderpriority, cents AS price_cents,
       change_type, commit_version
FROM feed
"""


ORACLES["stream_cdf_restore_parity"] = """
WITH o AS (
  SELECT o_orderkey AS k, o_orderpriority AS prio,
         CAST(floor(o_totalprice * 100) AS BIGINT) AS cents
  FROM orders WHERE o_orderkey <= 1200
),
r AS (
  SELECT k, 'RST-NEW' AS prio, CAST(cents + 11 AS BIGINT) AS cents
  FROM o WHERE k % 2 = 0
),
feed AS (
  -- v3 full REPLACE: every prior visible row delete, every incoming
  -- row insert, uncancelled (X154's semantics table-wide)
  SELECT k, prio, cents, 'delete' AS change_type,
         CAST(3 AS BIGINT) AS commit_version FROM o
  UNION ALL
  SELECT k, prio, cents, 'insert', CAST(3 AS BIGINT) FROM r
  -- v4 RESTORE to v1: file-granular diff — the replace's files out,
  -- the restored version's files back (disjoint sets: the full flip)
  UNION ALL
  SELECT k, prio, cents, 'delete', CAST(4 AS BIGINT) FROM r
  UNION ALL
  SELECT k, prio, cents, 'insert', CAST(4 AS BIGINT) FROM o
)
SELECT k AS o_orderkey, prio AS o_orderpriority, cents AS price_cents,
       change_type, commit_version
FROM feed
"""


# Apply the cross-engine rounding bias to EVERY registered oracle (see
# _bias_rounds; uppercase ROUND( is the decimal-space opt-out). This MUST
# stay the last statement in the module.
ORACLES = {name: _bias_rounds(sql) for name, sql in ORACLES.items()}
