"""DuckDB oracle SQL for every oracle-checkable operator.

Each builder mirrors the corresponding Spark operator *expression by
expression* — same integer arithmetic, same operand order for float
divisions, same hash family (md5-prefix ``portable_hash64``) — so the
driver's order-insensitive value-hash matches bit-for-bit.

These strings are ANSI-ish SQL in the DuckDB dialect (list lambdas,
``regexp_split_to_array``, ``string_agg ... ORDER BY``).
"""

from __future__ import annotations

from jaccard_mapreduce_spark.operators.dedup import (
    DEFAULT_NUM_HASHES,
    DEFAULT_SEED,
    MINHASH_PRIME,
    SIMHASH_BITS,
    minhash_params,
)
from jaccard_mapreduce_spark.functions.text import ENGLISH_STOPWORDS

# ---------------------------------------------------------------------------
# Tokenization fragments (mirror functions/text.py exactly)
# ---------------------------------------------------------------------------

# token list with duplicates (functions.text.tokenize)
TOKS_EXPR = (
    r"list_filter(regexp_split_to_array("
    r"lower(regexp_replace(text, '[^a-z0-9\s]', ' ', 'g')), '\s+'), t -> t <> '')"
)

# normalized text (functions.text.normalize_text)
NORM_EXPR = r"trim(regexp_replace(lower(text), '[^a-z0-9\s]', ' ', 'g'))"

# 60-bit portable hash of an arbitrary expression
def hash64(expr: str) -> str:
    return f"CAST('0x' || substr(md5({expr}), 1, 15) AS BIGINT)"


TOK_CTE = f"""
tok AS (
    SELECT doc_id, unnest(list_distinct({TOKS_EXPR})) AS token
    FROM documents
)
"""


def _shingle_cte(n: int) -> str:
    """Distinct word n-gram shingles per doc (mirror dedup.shingles)."""
    parts = ", ".join(f"toks[i + {j}]" for j in range(n))
    return f"""
sh_tok AS (
    SELECT doc_id, unnest(list_distinct(
        CASE WHEN len(toks) >= {n}
             THEN list_transform(range(1, len(toks) - {n - 2}),
                                 i -> concat_ws(' ', {parts}))
             ELSE []::VARCHAR[] END)) AS token
    FROM (SELECT doc_id, {TOKS_EXPR} AS toks FROM documents)
)
"""


def scored_ctes(tok_name: str = "tok") -> str:
    """sizes + pairs + scored CTEs over an already-defined token CTE."""
    return f"""sizes AS (
    SELECT doc_id, count(*) AS size FROM {tok_name} GROUP BY doc_id
),
pairs AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS intersection
    FROM {tok_name} a JOIN {tok_name} b ON a.token = b.token AND a.doc_id < b.doc_id
    GROUP BY 1, 2
),
scored AS (
    SELECT p.doc_a, p.doc_b, p.intersection,
           sa.size AS size_a, sb.size AS size_b,
           CASE WHEN sa.size + sb.size - p.intersection > 0
                THEN p.intersection / (sa.size + sb.size - p.intersection)
                ELSE 0.0 END AS similarity
    FROM pairs p
    JOIN sizes sa ON p.doc_a = sa.doc_id
    JOIN sizes sb ON p.doc_b = sb.doc_id
)"""


def jaccard_scored_sql(tok_cte: str, tok_name: str = "tok") -> str:
    """sizes + pairs + scored CTE chain over any (doc_id, token) CTE."""
    return f"""WITH {tok_cte.strip()},
sizes AS (
    SELECT doc_id, count(*) AS size FROM {tok_name} GROUP BY doc_id
),
pairs AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS intersection
    FROM {tok_name} a JOIN {tok_name} b ON a.token = b.token AND a.doc_id < b.doc_id
    GROUP BY 1, 2
),
scored AS (
    SELECT p.doc_a, p.doc_b, p.intersection,
           sa.size AS size_a, sb.size AS size_b,
           CASE WHEN sa.size + sb.size - p.intersection > 0
                THEN p.intersection / (sa.size + sb.size - p.intersection)
                ELSE 0.0 END AS similarity
    FROM pairs p
    JOIN sizes sa ON p.doc_a = sa.doc_id
    JOIN sizes sb ON p.doc_b = sb.doc_id
)"""


# ---------------------------------------------------------------------------
# Jaccard family
# ---------------------------------------------------------------------------

def doc_tokens_sql() -> str:
    return f"WITH {TOK_CTE.strip()} SELECT doc_id, token FROM tok"


def doc_sizes_sql() -> str:
    return (
        f"WITH {TOK_CTE.strip()} "
        "SELECT doc_id, count(*) AS size FROM tok GROUP BY doc_id"
    )


def pair_intersections_sql() -> str:
    return f"""WITH {TOK_CTE.strip()}
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS intersection
FROM tok a JOIN tok b ON a.token = b.token AND a.doc_id < b.doc_id
GROUP BY 1, 2"""


def jaccard_pairs_sql() -> str:
    return jaccard_scored_sql(TOK_CTE) + " SELECT * FROM scored"


def jaccard_threshold_sql(threshold: float) -> str:
    return (
        jaccard_scored_sql(TOK_CTE)
        + f" SELECT * FROM scored WHERE similarity >= {threshold}"
    )


def jaccard_formatted_sql() -> str:
    """Formatted-output tier (O16-O18): emulates Java's ``%.2f`` —
    HALF_UP on the shortest decimal repr — with exact integer
    arithmetic: ``pct = (200*I + U) // (2*U)``. Ties (``200*I % U = 0``)
    are terminating ``.xx5`` decimals whose shortest double repr is the
    decimal itself, so Java rounds them up exactly like the integer
    formula; non-ties sit >= 1/(2U) from the boundary, far beyond
    double error (operators/jaccard.py::jaccard_formatted docstring)."""
    return jaccard_scored_sql(TOK_CTE) + """,
fmt AS (
    SELECT doc_a, doc_b,
           CASE WHEN size_a + size_b - intersection > 0
                THEN (200 * intersection + (size_a + size_b - intersection))
                     // (2 * (size_a + size_b - intersection))
                ELSE 0 END AS pct
    FROM scored
)
SELECT doc_a, doc_b,
       CAST(doc_a AS VARCHAR) || ', ' || CAST(doc_b AS VARCHAR) || chr(9)
           || 'Similarity: ' || CAST(pct // 100 AS VARCHAR) || '.'
           || lpad(CAST(pct % 100 AS VARCHAR), 2, '0') AS line,
       CAST(row_number() OVER (ORDER BY doc_a, doc_b) AS BIGINT) AS out_pos
FROM fmt"""


def jaccard_topk_sql(k: int) -> str:
    return jaccard_scored_sql(TOK_CTE) + f""",
sym AS (
    SELECT doc_a AS doc_id, doc_b AS neighbor_id, similarity FROM scored
    UNION ALL
    SELECT doc_b AS doc_id, doc_a AS neighbor_id, similarity FROM scored
),
ranked AS (
    SELECT doc_id, neighbor_id, similarity,
           row_number() OVER (PARTITION BY doc_id
                              ORDER BY similarity DESC, neighbor_id) AS rank
    FROM sym
)
SELECT doc_id, neighbor_id, similarity, rank FROM ranked WHERE rank <= {k}"""


# ---------------------------------------------------------------------------
# Text analysis
# ---------------------------------------------------------------------------

_STOPLIST = "[" + ", ".join(f"'{w}'" for w in ENGLISH_STOPWORDS) + "]"

_STATS_BASE = f"""
base AS (
    SELECT doc_id,
           {TOKS_EXPR} AS toks,
           length(regexp_replace(text, '\\s', '', 'g')) AS nonws,
           length(regexp_replace(text, '[a-zA-Z0-9\\s]', '', 'g')) AS punct,
           length(text) AS total,
           length(regexp_replace(text, '[^\\x00-\\x7F]', '', 'g')) AS ascii_only
    FROM documents
),
ratios AS (
    SELECT doc_id,
           len(toks) AS n_tokens,
           len(list_distinct(toks)) AS n_unique_tokens,
           CASE WHEN len(toks) > 0
                THEN CAST(len(list_filter(toks, t -> list_contains({_STOPLIST}, t))) AS DOUBLE)
                     / CAST(len(toks) AS DOUBLE)
                ELSE 0.0 END AS stopword_ratio,
           CASE WHEN nonws > 0
                THEN CAST(punct AS DOUBLE) / CAST(nonws AS DOUBLE)
                ELSE 0.0 END AS punct_ratio,
           CASE WHEN total > 0
                THEN CAST(total - ascii_only AS DOUBLE) / CAST(total AS DOUBLE)
                ELSE 0.0 END AS non_ascii_ratio
    FROM base
)
"""


def text_stats_sql() -> str:
    return f"""WITH {_STATS_BASE.strip()}
SELECT doc_id,
       CAST(n_tokens AS BIGINT) AS n_tokens,
       CAST(n_unique_tokens AS BIGINT) AS n_unique_tokens,
       stopword_ratio,
       punct_ratio,
       ((least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0)
         + (1.0 - punct_ratio)
         + least(stopword_ratio / 0.4, 1.0)) / 3.0) AS quality_score
FROM ratios"""


def quality_curriculum_sql(n_buckets: int = 10) -> str:
    return f"""WITH {_STATS_BASE.strip()},
scored AS (
    SELECT r.doc_id, d.source,
           r.n_tokens,
           ((least(CAST(r.n_tokens AS DOUBLE) / 100.0, 1.0)
             + (1.0 - r.punct_ratio)
             + least(r.stopword_ratio / 0.4, 1.0)) / 3.0) AS quality_score
    FROM ratios r JOIN documents d USING (doc_id)
),
b AS (
    SELECT source,
           ntile({n_buckets}) OVER (PARTITION BY source
                                    ORDER BY quality_score, doc_id) AS bucket,
           n_tokens, quality_score
    FROM scored
)
SELECT source, CAST(bucket AS BIGINT) AS bucket, count(*) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
       min(quality_score) AS min_quality,
       max(quality_score) AS max_quality
FROM b GROUP BY source, bucket"""


def lang_id_sql() -> str:
    return f"""WITH {_STATS_BASE.strip()}
SELECT doc_id,
       CASE WHEN n_tokens = 0 THEN 'unknown'
            WHEN non_ascii_ratio > 0.3 THEN 'non_latin'
            WHEN stopword_ratio >= 0.05 THEN 'en'
            ELSE 'other_latin' END AS lang_pred,
       stopword_ratio AS lang_score
FROM ratios"""


def q10_returned_revenue_sql(k: int = 20) -> str:
    return f"""
SELECT c_custkey, c_name, c_mktsegment,
       CAST(sum(CAST(l_extendedprice AS {_DD})
                * ({_ONE_D} - CAST(l_discount AS {_DD}))) AS DOUBLE)
           AS lost_revenue,
       count(*) AS n_return_items
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE l_returnflag = 'R'
GROUP BY c_custkey, c_name, c_mktsegment
ORDER BY lost_revenue DESC, c_custkey
LIMIT {k}"""


def q12_priority_shipclass_sql() -> str:
    return """
SELECT l_returnflag,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_critical,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 0 ELSE 1 END) AS BIGINT) AS n_noncritical
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY l_returnflag"""


def q4_order_priority_sql(
    start: str = "1996-01-01",
    end: str = "1996-04-01",
    late_days: int = 60,
) -> str:
    """Oracle for the adapted Q4: correlated EXISTS with the lateness
    residual inside the subquery — DuckDB decorrelates it to the same
    semi join the Spark plan declares. Counts are integers; hash-exact."""
    return f"""
SELECT o_orderpriority, count(*) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '{start} 00:00:00'
  AND o_orderdate < TIMESTAMP '{end} 00:00:00'
  AND EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey
                AND l_shipdate >= o_orderdate + INTERVAL {int(late_days)} DAY)
GROUP BY o_orderpriority"""


def q22_idle_customers_sql(since: str = "2000-01-01") -> str:
    return f"""
WITH avg_b AS (
    SELECT CAST(sum(CAST(c_acctbal AS {_DD})) AS DOUBLE) / count(*) AS a
    FROM customer WHERE c_acctbal > 0
)
SELECT c_mktsegment,
       count(*) AS n_customers,
       CAST(sum(CAST(c_acctbal AS {_DD})) AS DOUBLE) AS total_bal
FROM customer CROSS JOIN avg_b
WHERE CAST(c_acctbal AS DOUBLE) > a
  AND c_custkey NOT IN (SELECT o_custkey FROM orders
                        WHERE o_orderdate >= TIMESTAMP '{since} 00:00:00')
GROUP BY c_mktsegment"""


def q17_small_quantity_revenue_sql(qty_frac: float = 0.2) -> str:
    return f"""
WITH part_avg AS (
    SELECT l_partkey,
           CAST(sum(CAST(l_quantity AS {_DD})) AS DOUBLE)
               / CAST(count(*) AS DOUBLE) AS avg_qty
    FROM lineitem GROUP BY l_partkey
)
SELECT p_brand,
       CAST(sum(CAST(l_extendedprice AS {_DD})) AS DOUBLE) / 7.0
           AS avg_yearly,
       count(*) AS n_small_items
FROM lineitem
JOIN part_avg USING (l_partkey)
JOIN part ON p_partkey = l_partkey
WHERE CAST(l_quantity AS DOUBLE) < {qty_frac} * avg_qty
GROUP BY p_brand"""


def q20_dominant_suppliers_sql(
    name_pat: str = "%widget%",
    ship_from: str = "1996-01-01",
    ship_to: str = "1997-01-01",
    share: float = 0.5,
    max_nationkey: int = 13,
) -> str:
    return f"""
WITH shipped AS (
    SELECT l_partkey, l_suppkey,
           sum(CAST(l_quantity AS {_DD})) AS q
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '{ship_from}'
      AND l_shipdate <  TIMESTAMP '{ship_to}'
      AND l_partkey IN (
          SELECT p_partkey FROM part WHERE p_name LIKE '{name_pat}')
    GROUP BY l_partkey, l_suppkey
), part_total AS (
    SELECT l_partkey, sum(q) AS tot FROM shipped GROUP BY l_partkey
)
SELECT s_suppkey, s_name, n_name
FROM supplier JOIN nation ON s_nationkey = n_nationkey
WHERE n_nationkey < {max_nationkey}
  AND s_suppkey IN (
      SELECT l_suppkey FROM shipped JOIN part_total USING (l_partkey)
      WHERE CAST(q AS DOUBLE) > {share} * CAST(tot AS DOUBLE))"""


def q8_market_share_sql(
    target_region: str = "ASIA",
    target_nation: str = "NATION_5",
    part_type: str = "PROMO",
) -> str:
    return f"""
SELECT year(o_orderdate) AS o_year,
       CAST(sum(CASE WHEN n2.n_name = '{target_nation}'
                     THEN CAST(l_extendedprice AS {_DD})
                          * ({_ONE_D} - CAST(l_discount AS {_DD}))
                     ELSE CAST(0 AS {_DD}) END) AS DOUBLE)
           / CAST(sum(CAST(l_extendedprice AS {_DD})
                      * ({_ONE_D} - CAST(l_discount AS {_DD}))) AS DOUBLE)
           AS mkt_share,
       CAST(sum(CAST(l_extendedprice AS {_DD})
                * ({_ONE_D} - CAST(l_discount AS {_DD}))) AS DOUBLE)
           AS total_revenue
FROM lineitem
JOIN part     ON p_partkey = l_partkey
JOIN orders   ON o_orderkey = l_orderkey
JOIN customer ON c_custkey = o_custkey
JOIN nation n1 ON n1.n_nationkey = c_nationkey
JOIN region   ON r_regionkey = n1.n_regionkey
JOIN supplier ON s_suppkey = l_suppkey
JOIN nation n2 ON n2.n_nationkey = s_nationkey
WHERE p_type = '{part_type}' AND r_name = '{target_region}'
GROUP BY 1
ORDER BY 1"""


def _partsupp_ctes() -> str:
    """Synthetic partsupp (mirrors operators/relational.py::
    partsupp_synth): pure deterministic function of (part,
    supplier-count), integer cents for order-independent money math."""
    return """s_cnt AS (
    -- mirror partsupp_synth's S >= 4 ValueError: below 4 suppliers the
    -- stride collapses and (ps_partkey, ps_suppkey) stops being unique,
    -- so the oracle must FAIL like Spark does, not silently double-count
    SELECT CASE WHEN count(*) >= 4 THEN count(*)
                ELSE CAST(error('partsupp_synth requires >= 4 suppliers')
                          AS BIGINT)
           END AS s
    FROM supplier
),
ps0 AS (
    SELECT p_partkey AS ps_partkey,
           (p_partkey + i.i * greatest(1, s // 4)) % s AS ps_suppkey
    FROM part, (SELECT unnest(range(4)) AS i) i, s_cnt
),
partsupp AS (
    SELECT ps_partkey, ps_suppkey,
           (ps_partkey * 31 + ps_suppkey * 17) % 9999 + 1 AS ps_availqty,
           (ps_partkey * 131 + ps_suppkey * 29) % 99901 + 100
               AS ps_supplycost_cents,
           CAST((ps_partkey * 131 + ps_suppkey * 29) % 99901 + 100
                AS DOUBLE) / 100.0 AS ps_supplycost
    FROM ps0
)"""


def q2_min_cost_supplier_sql(
    region_name: str = "EUROPE",
    p_type: str = "ECONOMY",
    size_lo: int = 10,
    size_hi: int = 30,
    limit: int = 100,
) -> str:
    return f"""
WITH {_partsupp_ctes()},
regional AS (
    SELECT ps.ps_partkey, ps.ps_suppkey, ps.ps_supplycost_cents,
           ps.ps_supplycost, s.s_acctbal, s.s_name, n.n_name
    FROM partsupp ps
    JOIN supplier s ON ps.ps_suppkey = s.s_suppkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = '{region_name}'
),
mn AS (
    SELECT ps_partkey, min(ps_supplycost_cents) AS mc
    FROM regional GROUP BY 1
)
SELECT rs.s_acctbal, rs.s_name, rs.n_name, rs.ps_partkey AS p_partkey,
       p.p_brand, p.p_size, rs.ps_suppkey, rs.ps_supplycost
FROM regional rs
JOIN mn ON rs.ps_partkey = mn.ps_partkey
       AND rs.ps_supplycost_cents = mn.mc
JOIN part p ON p.p_partkey = rs.ps_partkey
WHERE p.p_type = '{p_type}' AND p.p_size BETWEEN {size_lo} AND {size_hi}
ORDER BY rs.s_acctbal DESC, rs.n_name, rs.s_name, rs.ps_partkey
LIMIT {limit}"""


def q11_partsupp_sql(nation_name: str = "NATION_15", denom: int = 200) -> str:
    return f"""
WITH {_partsupp_ctes()},
nat AS (
    SELECT s_suppkey FROM supplier
    JOIN nation ON s_nationkey = n_nationkey
    WHERE n_name = '{nation_name}'
),
pv AS (
    SELECT ps_partkey,
           sum(ps_supplycost_cents * ps_availqty) AS vc
    FROM partsupp JOIN nat ON ps_suppkey = s_suppkey
    GROUP BY 1
),
tot AS (SELECT sum(vc) AS t FROM pv)
SELECT ps_partkey, CAST(vc AS DOUBLE) / 100.0 AS value
FROM pv, tot WHERE vc * {denom} > t"""


def q16_partsupp_sql(excl_brand: str = "Brand#9") -> str:
    return f"""
WITH {_partsupp_ctes()}
SELECT p_brand, p_type, p_size,
       count(DISTINCT ps_suppkey) AS supplier_cnt
FROM partsupp
JOIN part ON p_partkey = ps_partkey
WHERE p_brand <> '{excl_brand}'
  AND ps_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY 1, 2, 3"""


def q9_partsupp_sql(name_pattern: str = "%ring%") -> str:
    return f"""
WITH {_partsupp_ctes()}
SELECT n_name AS nation,
       year(o_orderdate) AS o_year,
       CAST(sum(CAST(l_extendedprice AS {_DD})
                * ({_ONE_D} - CAST(l_discount AS {_DD}))) AS DOUBLE)
           - CAST(sum(ps_supplycost_cents * CAST(l_quantity AS BIGINT))
                  AS DOUBLE) / 100.0 AS sum_profit,
       count(*) AS n_items
FROM lineitem
JOIN partsupp ON l_partkey = ps_partkey AND l_suppkey = ps_suppkey
JOIN orders   ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation   ON s_nationkey = n_nationkey
WHERE l_partkey IN (SELECT p_partkey FROM part
                    WHERE p_name LIKE '{name_pattern}')
GROUP BY 1, 2"""


def q20_partsupp_sql(name_prefix: str = "red", year: int = 1997) -> str:
    return f"""
WITH {_partsupp_ctes()},
shipped AS (
    SELECT l_partkey, l_suppkey, CAST(sum(l_quantity) AS BIGINT) AS qty
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '{year}-01-01 00:00:00'
      AND l_shipdate < TIMESTAMP '{year + 1}-01-01 00:00:00'
    GROUP BY 1, 2
)
SELECT s_suppkey, s_name FROM supplier WHERE s_suppkey IN (
    SELECT ps_suppkey
    FROM partsupp
    JOIN shipped ON ps_partkey = l_partkey AND ps_suppkey = l_suppkey
    WHERE ps_availqty > qty // 2
      AND ps_partkey IN (SELECT p_partkey FROM part
                         WHERE p_name LIKE '{name_prefix}%')
)"""


def q13_customer_distribution_sql() -> str:
    return """
SELECT c_count, count(*) AS custdist
FROM (
    SELECT c_custkey, count(o_orderkey) AS c_count
    FROM customer LEFT JOIN orders ON c_custkey = o_custkey
    GROUP BY c_custkey
)
GROUP BY c_count
ORDER BY custdist DESC, c_count DESC"""


def q15_top_supplier_sql(
    ship_from: str = "1996-01-01", ship_to: str = "1996-04-01"
) -> str:
    return f"""
WITH revenue AS (
    SELECT l_suppkey,
           sum(CAST(l_extendedprice AS {_DD})
               * ({_ONE_D} - CAST(l_discount AS {_DD}))) AS r
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '{ship_from}'
      AND l_shipdate <  TIMESTAMP '{ship_to}'
    GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, CAST(r AS DOUBLE) AS total_revenue
FROM revenue JOIN supplier ON s_suppkey = l_suppkey
WHERE r = (SELECT max(r) FROM revenue)
ORDER BY s_suppkey"""


def q16_part_supplier_variety_sql(excl_brand: str = "Brand#9") -> str:
    return f"""
SELECT p_brand, p_type, p_size,
       count(DISTINCT l_suppkey) AS supplier_cnt
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE p_brand <> '{excl_brand}'
  AND l_suppkey NOT IN (
      SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY p_brand, p_type, p_size
ORDER BY supplier_cnt DESC, p_brand, p_type, p_size"""


def bloom_pruned_revenue_sql(priority: str = "1-URGENT") -> str:
    # plain filtered join: the runtime bloom filter is plan-only
    return f"""
SELECT l_returnflag,
       count(*) AS n_items,
       CAST(sum(CAST(l_extendedprice AS {_DD})
                * ({_ONE_D} - CAST(l_discount AS {_DD}))) AS DOUBLE)
           AS revenue
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE o_orderpriority = '{priority}'
GROUP BY l_returnflag"""


def partitioned_events_summary_sql(
    day_lo: int = 8, day_hi: int = 14
) -> str:
    # plain-table oracle: the partitioned layout must be invisible
    return f"""
SELECT event_type,
       count(*) AS n_events,
       count(DISTINCT user_id) AS n_users,
       CAST(sum(CAST(value AS {_DD})) AS DOUBLE) AS sum_value
FROM events
WHERE day(ts) BETWEEN {day_lo} AND {day_hi}
GROUP BY event_type"""


def zordered_events_summary_sql(
    user_lo: int = 100,
    user_hi: int = 300,
    minute_lo: int = 300,
    minute_hi: int = 600,
) -> str:
    # plain-table oracle: the Z-ordered layout must be invisible (the
    # bucketed/partitioned/salted convention)
    return f"""
SELECT event_type,
       count(*) AS n_events,
       count(DISTINCT user_id) AS n_users,
       CAST(sum(CAST(value AS {_DD})) AS DOUBLE) AS sum_value
FROM events
WHERE user_id BETWEEN {user_lo} AND {user_hi}
  AND (hour(ts) * 60 + minute(ts)) BETWEEN {minute_lo} AND {minute_hi}
GROUP BY event_type"""


def formats_roundtrip_sql(formats: tuple[str, ...] = ("orc", "json", "csv")) -> str:
    # the round trip must be LOSSLESS and row-preserving: the oracle pins
    # every mismatch counter at zero and n_rows at the table's row count
    # — any drop, dup, or precision loss in the Spark-side write→read
    # cycle breaks the hash (same pinned-constant style as the golden
    # synthetic_corpus_stats oracle)
    values = ", ".join(f"('{f}')" for f in formats)
    return f"""
SELECT f.fmt,
       (SELECT count(*) FROM events) AS n_rows,
       CAST(0 AS BIGINT) AS n_key_mismatch,
       CAST(0 AS BIGINT) AS n_ts_mismatch,
       CAST(0 AS BIGINT) AS n_value_mismatch,
       CAST(0 AS BIGINT) AS n_props_mismatch
FROM (VALUES {values}) AS f(fmt)"""


def corpus_text_roundtrip_sql() -> str:
    # O1/O19 in-contract: the reference-format text write -> scan cycle
    # must be lossless and row-preserving — mismatch counters pinned at
    # zero, n_rows at the documents row count (formats_roundtrip style)
    return """
SELECT 'corpus_text' AS surface,
       (SELECT count(*) FROM documents) AS n_rows,
       CAST(0 AS BIGINT) AS n_id_mismatch,
       CAST(0 AS BIGINT) AS n_text_mismatch"""


def q21_waiting_suppliers_sql(k: int = 20) -> str:
    # the literal correlated double-EXISTS form — Spark runs the
    # decorrelated one-aggregate rewrite; hash equality proves them
    # equivalent
    return f"""
SELECT s_suppkey, s_name, n_name, count(*) AS numwait
FROM lineitem l1
JOIN orders   ON o_orderkey = l1.l_orderkey
JOIN supplier ON s_suppkey = l1.l_suppkey
JOIN nation   ON n_nationkey = s_nationkey
WHERE o_orderstatus = 'F' AND l1.l_returnflag = 'R'
  AND EXISTS (
      SELECT 1 FROM lineitem l2
      WHERE l2.l_orderkey = l1.l_orderkey
        AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (
      SELECT 1 FROM lineitem l3
      WHERE l3.l_orderkey = l1.l_orderkey
        AND l3.l_suppkey <> l1.l_suppkey
        AND l3.l_returnflag = 'R')
GROUP BY s_suppkey, s_name, n_name
ORDER BY numwait DESC, s_suppkey
LIMIT {k}"""


def dedup_cross_corpus_sql(benchmark_mod: int = 97) -> str:
    return f"""
WITH h AS (
    SELECT DISTINCT md5({NORM_EXPR}) AS h_fp
    FROM documents WHERE doc_id % {benchmark_mod} = 0
)
SELECT doc_id,
       md5({NORM_EXPR}) AS fingerprint,
       COALESCE(md5({NORM_EXPR}) IN (SELECT h_fp FROM h), FALSE)
           AS in_held_out
FROM documents WHERE doc_id % {benchmark_mod} <> 0"""


def length_histogram_sql() -> str:
    return r"""
WITH n AS (
    SELECT source,
           CAST(CASE WHEN trim(text) = '' THEN 0
                     ELSE len(regexp_split_to_array(trim(text), '\s+'))
                END AS BIGINT) AS n
    FROM documents
)
SELECT source,
       CAST(CASE WHEN n <= 0 THEN -1 ELSE length(bin(n)) - 1 END AS BIGINT)
           AS bucket,
       count(*) AS n_docs,
       CAST(sum(n) AS BIGINT) AS n_tokens,
       min(n) AS min_tokens,
       max(n) AS max_tokens
FROM n
GROUP BY 1, 2"""


def events_approx_check_sql() -> str:
    # the oracle side is EXACT: the sketch bounds are asserted by the
    # Spark query's booleans, which must all come out TRUE
    return """
SELECT event_type,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
       TRUE AS hll_ok,
       TRUE AS p50_ok,
       TRUE AS p95_ok
FROM events GROUP BY event_type"""


def source_mixture_sql() -> str:
    # T = 0.5 path only: sqrt is correctly rounded in both engines and the
    # smoothed counts are quantized to int64 before the normalizing sum,
    # so every output double is a single IEEE op on exact integers
    return r"""
WITH per AS (
    SELECT source, count(*) AS n_docs,
           CAST(sum(CASE WHEN trim(text) = '' THEN 0
                         ELSE len(regexp_split_to_array(trim(text), '\s+'))
                    END) AS BIGINT) AS n_tokens
    FROM documents GROUP BY source
),
sm AS (
    SELECT *, CAST(floor(sqrt(CAST(n_tokens AS DOUBLE)) * 1e9 + 0.5) AS BIGINT) AS sm
    FROM per
),
tot AS (
    SELECT CAST(sum(n_tokens) AS BIGINT) AS tot_tokens,
           CAST(sum(sm) AS BIGINT) AS tot_sm
    FROM sm
)
SELECT source, n_docs, n_tokens,
       CAST(n_tokens AS DOUBLE) / CAST(tot_tokens AS DOUBLE) AS token_share,
       CAST(sm AS DOUBLE) / CAST(tot_sm AS DOUBLE) AS weight_smoothed
FROM sm CROSS JOIN tot"""


def token_counts_sql() -> str:
    return r"""
SELECT doc_id,
       CAST(CASE WHEN trim(text) = '' THEN 0
                 ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS BIGINT)
           AS n_ws_tokens,
       CAST(len(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                            t -> t <> ''))
            + length(regexp_replace(text, '[a-zA-Z0-9\s]', '', 'g')) AS BIGINT)
           AS n_subword_tokens
FROM documents"""


def fingerprints_sql() -> str:
    return f"""
SELECT doc_id,
       md5({NORM_EXPR}) AS fingerprint,
       {hash64(NORM_EXPR)} AS fingerprint64
FROM documents"""


def repetition_stats_sql() -> str:
    # mirror operators/text_analysis.repetition_stats: bigrams via the
    # same 1-based slide as word_ngrams; ratios divide the same integers
    # in the same order
    return f"""
WITH base AS (SELECT doc_id, {TOKS_EXPR} AS toks FROM documents),
g AS (
    SELECT doc_id, toks,
           CASE WHEN len(toks) >= 2
                THEN list_transform(range(1, len(toks)),
                                    i -> concat_ws(' ', toks[i], toks[i + 1]))
                ELSE []::VARCHAR[] END AS grams
    FROM base
),
m AS (
    SELECT doc_id,
           len(toks) AS n, len(list_distinct(toks)) AS u,
           len(grams) AS ng, len(list_distinct(grams)) AS ug,
           CASE WHEN len(grams) > 0
                THEN list_max(list_transform(list_distinct(grams),
                     gg -> len(list_filter(grams, x -> x = gg))))
                ELSE 0 END AS top
    FROM g
)
SELECT doc_id,
       CAST(n AS BIGINT) AS n_tokens,
       CASE WHEN n > 0 THEN CAST(n - u AS DOUBLE) / CAST(n AS DOUBLE)
            ELSE 0.0 END AS dup_token_ratio,
       CAST(ng AS BIGINT) AS n_bigrams,
       CASE WHEN ng > 0 THEN CAST(ng - ug AS DOUBLE) / CAST(ng AS DOUBLE)
            ELSE 0.0 END AS dup_bigram_ratio,
       CAST(top AS BIGINT) AS top_bigram_count,
       CASE WHEN ng > 0 THEN CAST(top AS DOUBLE) / CAST(ng AS DOUBLE)
            ELSE 0.0 END AS top_bigram_ratio
FROM m"""


def pii_scrub_sql(email_re: str, phone_re: str) -> str:
    # the contract query injects deterministic synthetic PII (emails on
    # even ids, phones on ids % 3 = 0) so redaction is exercised on
    # known content; both engines build the identical string first
    return f"""
WITH pii AS (
    SELECT doc_id,
           text
           || CASE WHEN doc_id % 2 = 0
                   THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com'
                   ELSE '' END
           || CASE WHEN doc_id % 3 = 0
                   THEN ' call 555-' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0')
                        || '-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                   ELSE '' END AS text
    FROM documents
)
SELECT doc_id,
       regexp_replace(regexp_replace(text, '{email_re}', '<EMAIL>', 'g'),
                      '{phone_re}', '<PHONE>', 'g') AS clean_text,
       CAST(len(regexp_extract_all(text, '{email_re}')) AS BIGINT) AS n_emails,
       CAST(len(regexp_extract_all(text, '{phone_re}')) AS BIGINT) AS n_phones
FROM pii"""


def pack_sequences_sql(
    max_len: int = 2048, n_shards: int = 16, salt: str = "pack-v1"
) -> str:
    h = hash64(f"'{salt}:' || CAST(doc_id AS VARCHAR)")
    n_tok = (
        r"CAST(len(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),"
        r" t -> t <> ''))"
        r" + length(regexp_replace(text, '[a-zA-Z0-9\s]', '', 'g')) AS BIGINT)"
    )
    return f"""
WITH base AS (
    SELECT doc_id, {h} % {n_shards} AS shard, {n_tok} AS n_tokens
    FROM documents
),
c AS (
    SELECT doc_id, shard, n_tokens,
           sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
                               ROWS UNBOUNDED PRECEDING) - n_tokens AS start_offset
    FROM base
)
SELECT doc_id, shard, n_tokens,
       CAST(start_offset AS BIGINT) AS start_offset,
       CAST(floor(CAST(start_offset AS DOUBLE) / {max_len}) AS BIGINT) AS pack_id
FROM c"""


def packing_efficiency_sql(
    max_len: int = 2048, n_shards: int = 16, salt: str = "pack-v1"
) -> str:
    """Per-shard audit over the pack_sequences relation (same base +
    cumulative-offset CTEs; straddle uses the same floor(double) offset
    arithmetic as pack_id so audit and layout can never disagree)."""
    h = hash64(f"'{salt}:' || CAST(doc_id AS VARCHAR)")
    n_tok = (
        r"CAST(len(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),"
        r" t -> t <> ''))"
        r" + length(regexp_replace(text, '[a-zA-Z0-9\s]', '', 'g')) AS BIGINT)"
    )
    return f"""
WITH base AS (
    SELECT doc_id, {h} % {n_shards} AS shard, {n_tok} AS n_tokens
    FROM documents
),
c AS (
    SELECT doc_id, shard, n_tokens,
           sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
                               ROWS UNBOUNDED PRECEDING) - n_tokens AS start_offset
    FROM base
),
p AS (
    SELECT shard, n_tokens,
           CASE WHEN n_tokens > 0
                 AND floor(CAST(start_offset + n_tokens - 1 AS DOUBLE) / {max_len})
                     > floor(CAST(start_offset AS DOUBLE) / {max_len})
                THEN 1 ELSE 0 END AS straddler
    FROM c
),
agg AS (
    SELECT shard,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
           CAST(sum(straddler) AS BIGINT) AS n_straddlers
    FROM p GROUP BY shard
)
SELECT shard, n_docs, total_tokens,
       (total_tokens + {max_len} - 1) // {max_len} AS n_chunks,
       total_tokens % {max_len} AS tail_tokens,
       ({max_len} - total_tokens % {max_len}) % {max_len} AS pad_tokens,
       n_straddlers,
       CAST(n_straddlers AS DOUBLE) / CAST(n_docs AS DOUBLE) AS straddle_frac
FROM agg"""


# ---------------------------------------------------------------------------
# Dedup
# ---------------------------------------------------------------------------

def exact_duplicates_sql() -> str:
    return f"""WITH fp AS (
    SELECT doc_id, md5({NORM_EXPR}) AS fingerprint FROM documents
)
SELECT doc_id, fingerprint,
       min(doc_id) OVER (PARTITION BY fingerprint) AS keeper,
       doc_id <> min(doc_id) OVER (PARTITION BY fingerprint) AS is_dup
FROM fp"""


def ngram_duplicates_sql(n: int, threshold: float) -> str:
    return (
        jaccard_scored_sql(_shingle_cte(n), "sh_tok")
        + f" SELECT * FROM scored WHERE similarity >= {threshold}"
    )


def gopher_quality_flags_sql(
    min_words: int = 10,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    min_alpha_word_frac: float = 0.8,
    max_symbol_ratio: float = 0.1,
) -> str:
    # int/int division → DOUBLE in both engines; symbol counts via
    # length-delta of replace() (same greedy non-overlapping semantics)
    return f"""
WITH t AS (
    SELECT doc_id, text, {TOKS_EXPR} AS toks FROM documents
),
m AS (
    SELECT doc_id,
           CAST(len(toks) AS BIGINT) AS n_words,
           CASE WHEN len(toks) > 0
                THEN CAST(list_sum(list_transform(toks, x -> len(x)))
                          AS BIGINT) / len(toks)
                ELSE 0.0 END AS mean_word_len,
           CASE WHEN len(toks) > 0
                THEN len(list_filter(toks, x -> regexp_matches(x, '[a-z]')))
                     / len(toks)
                ELSE 0.0 END AS alpha_word_frac,
           CASE WHEN len(toks) > 0
                THEN (CAST(length(text) - length(replace(text, '#', ''))
                           AS BIGINT)
                      + CAST(floor(CAST(length(text)
                                        - length(replace(text, '...', ''))
                                        AS DOUBLE) / 3) AS BIGINT))
                     / len(toks)
                ELSE 0.0 END AS symbol_ratio
    FROM t
)
SELECT doc_id, n_words, mean_word_len, alpha_word_frac, symbol_ratio,
       (n_words >= {min_words} AND n_words <= {max_words}
        AND mean_word_len >= {min_mean_word_len}
        AND mean_word_len <= {max_mean_word_len}
        AND alpha_word_frac >= {min_alpha_word_frac}
        AND symbol_ratio <= {max_symbol_ratio}) AS pass_gopher
FROM m"""


def unigram_surprise_sql() -> str:
    # ln through libm (DuckDB links the C library — matches CPython's
    # math.log bit-for-bit, the tfidf precedent); the per-doc sum folds
    # sequentially over the token-ordered list via list_reduce, pinning
    # the accumulation order to Spark's F.aggregate fold. list_reduce
    # seeds with the first element ((v1+v2)+...), Spark with 0.0+v1 —
    # identical IEEE sequences since 0.0+v1 == v1 exactly.
    return f"""
WITH toks AS (
    SELECT doc_id, unnest({TOKS_EXPR}) AS token FROM documents
),
tf AS (
    SELECT doc_id, token, count(*) AS tf FROM toks GROUP BY 1, 2
),
vocab AS (
    SELECT token, count(*) AS cnt FROM toks GROUP BY 1
),
lp AS (
    SELECT token,
           ln(CAST(cnt AS DOUBLE)
              / CAST((SELECT sum(cnt) FROM vocab) AS DOUBLE)) AS lp
    FROM vocab
),
per AS (
    SELECT t.doc_id,
           CAST(sum(t.tf) AS BIGINT) AS n_tokens,
           list_reduce(list(CAST(t.tf AS DOUBLE) * l.lp ORDER BY t.token),
                       (a, b) -> a + b) AS s
    FROM tf t JOIN lp l ON t.token = l.token
    GROUP BY t.doc_id
)
SELECT d.doc_id,
       COALESCE(p.n_tokens, 0) AS n_tokens,
       COALESCE(-(p.s) / p.n_tokens, 0.0) AS surprise
FROM documents d LEFT JOIN per p ON d.doc_id = p.doc_id"""


def bigram_surprise_sql() -> str:
    # same cross-engine float contract as unigram_surprise_sql: libm ln
    # on the LM relation only, per-doc sums fold sequentially over the
    # (w1, w2)-ordered list. Bigrams are adjacent token pairs of the
    # order-preserving TOKS_EXPR (1-based ts[i], range(1, len) stops
    # one short of the end; <2-token docs produce no pairs and fall to
    # the zero-coalesced left join).
    return f"""
WITH toks AS (
    SELECT doc_id, {TOKS_EXPR} AS ts FROM documents
),
bg AS (
    SELECT doc_id, ts[i] AS w1, ts[i + 1] AS w2
    FROM (SELECT doc_id, ts, unnest(range(1, len(ts))) AS i FROM toks)
),
tf AS (
    SELECT doc_id, w1, w2, count(*) AS tf FROM bg GROUP BY 1, 2, 3
),
cnt AS (
    SELECT w1, w2, count(*) AS cnt FROM bg GROUP BY 1, 2
),
prefix AS (
    SELECT w1, sum(cnt) AS pcnt FROM cnt GROUP BY 1
),
lm AS (
    SELECT c.w1, c.w2,
           ln(CAST(c.cnt AS DOUBLE) / CAST(p.pcnt AS DOUBLE)) AS lp
    FROM cnt c JOIN prefix p ON c.w1 = p.w1
),
per AS (
    SELECT t.doc_id,
           CAST(sum(t.tf) AS BIGINT) AS n_bigrams,
           list_reduce(list(CAST(t.tf AS DOUBLE) * l.lp
                            ORDER BY t.w1, t.w2),
                       (a, b) -> a + b) AS s
    FROM tf t JOIN lm l ON t.w1 = l.w1 AND t.w2 = l.w2
    GROUP BY t.doc_id
)
SELECT d.doc_id,
       COALESCE(p.n_bigrams, 0) AS n_bigrams,
       COALESCE(-(p.s) / p.n_bigrams, 0.0) AS surprise
FROM documents d LEFT JOIN per p ON d.doc_id = p.doc_id"""


def source_token_drift_sql() -> str:
    # mirrors operators/text_analysis.py::source_token_drift — same
    # libm-ln conventions as unigram_surprise_sql; the log ratio is ONE
    # divide of two integer-exact doubles, and the per-source sum is
    # the operator's TWO-LEVEL fold (token-sorted within a
    # (source, prefix) segment, prefix-sorted across segments) so the
    # IEEE addition order is pinned identically in both engines while
    # no engine ever materializes a source's whole vocabulary in one
    # aggregation buffer
    return f"""
WITH toks AS (
    SELECT source, unnest({TOKS_EXPR}) AS token FROM documents
),
st AS (
    SELECT source, token, count(*) AS tf_st FROM toks GROUP BY 1, 2
),
tt AS (SELECT token, sum(tf_st) AS tf_t FROM st GROUP BY 1),
ss AS (SELECT source, sum(tf_st) AS n_s FROM st GROUP BY 1),
terms AS (
    SELECT st.source, st.token, substr(st.token, 1, 2) AS seg,
           CAST(st.tf_st AS DOUBLE)
           * ln(CAST(st.tf_st * (SELECT sum(n_s) FROM ss) AS DOUBLE)
                / CAST(tt.tf_t * ss.n_s AS DOUBLE)) AS v,
           st.tf_st AS tf_st
    FROM st JOIN tt ON st.token = tt.token
    JOIN ss ON st.source = ss.source
),
segs AS (
    SELECT source, seg,
           sum(tf_st) AS n_seg,
           list_reduce(list(v ORDER BY token), (a, b) -> a + b) AS s_seg
    FROM terms GROUP BY 1, 2
)
SELECT source,
       CAST(sum(n_seg) AS BIGINT) AS n_tokens,
       list_reduce(list(s_seg ORDER BY seg), (a, b) -> a + b)
           / CAST(sum(n_seg) AS DOUBLE) AS kl
FROM segs GROUP BY source"""


def customer_order_gaps_sql() -> str:
    # exact integer day gaps (DATE - DATE); ties on order date broken by
    # order key so the lag sequence is deterministic in both engines
    return """
WITH g AS (
    SELECT o_custkey,
           CAST(CAST(o_orderdate AS DATE)
                - lag(CAST(o_orderdate AS DATE)) OVER (
                      PARTITION BY o_custkey
                      ORDER BY o_orderdate, o_orderkey) AS BIGINT) AS gap
    FROM orders
)
SELECT o_custkey,
       count(*) AS n_orders,
       min(gap) AS min_gap_days,
       max(gap) AS max_gap_days,
       CAST(sum(gap) AS DOUBLE) / count(gap) AS avg_gap_days
FROM g GROUP BY 1"""


def cohort_retention_sql(epoch: str = "2024-01-01") -> str:
    # integer 7-day buckets from a fixed epoch: exact in both engines,
    # unlike calendar date_trunc('week') boundary conventions
    return f"""
WITH a AS (
    SELECT DISTINCT user_id,
           CAST((CAST(ts AS DATE) - DATE '{epoch}') // 7 AS BIGINT) AS week
    FROM events
),
c AS (
    SELECT user_id, min(week) AS cohort_week FROM a GROUP BY user_id
)
SELECT c.cohort_week,
       a.week - c.cohort_week AS week_offset,
       count(*) AS n_users
FROM a JOIN c ON a.user_id = c.user_id
GROUP BY 1, 2"""


def containment_pairs_sql(min_containment: float) -> str:
    # int/int division yields DOUBLE identically in both engines (same
    # kernel the Jaccard scored CTE relies on)
    return f"""WITH {TOK_CTE.strip()},
{scored_ctes("tok")}
SELECT doc_a, doc_b, intersection, size_a, size_b,
       intersection / size_a AS cont_a,
       intersection / size_b AS cont_b
FROM scored
WHERE intersection / size_a >= {min_containment}
   OR intersection / size_b >= {min_containment}"""


def boilerplate_span_stats_sql(n: int = 5) -> str:
    return f"""WITH {_shingle_cte(n).strip()},
dfc AS (
    SELECT token, count(*) AS df FROM sh_tok GROUP BY token
),
per_doc AS (
    SELECT g.doc_id,
           count(*) AS n_grams,
           sum(CASE WHEN dfc.df > 1 THEN 1 ELSE 0 END) AS n_shared_grams
    FROM sh_tok g JOIN dfc ON g.token = dfc.token
    GROUP BY g.doc_id
)
SELECT d.doc_id,
       CAST(COALESCE(p.n_grams, 0) AS BIGINT) AS n_grams,
       CAST(COALESCE(p.n_shared_grams, 0) AS BIGINT) AS n_shared_grams
FROM documents d LEFT JOIN per_doc p ON d.doc_id = p.doc_id"""


def chunk_documents_sql(chunk_tokens: int = 64, overlap: int = 16) -> str:
    """Mirror of text_analysis.chunk_documents: same start-list rule
    (DuckDB ``range`` is stop-exclusive, so ``range(0, greatest(len -
    overlap, 1), stride)`` equals Spark's inclusive-sequence-to-
    last-start form), 1-based clamped list_slice = Spark's
    length-clamped slice."""
    stride = chunk_tokens - overlap
    return f"""WITH t AS (SELECT doc_id, {TOKS_EXPR} AS toks FROM documents),
s AS (
    SELECT doc_id, toks,
           unnest(range(0, greatest(len(toks) - {overlap}, 1), {stride})) AS s
    FROM t WHERE len(toks) > 0
)
SELECT doc_id,
       CAST(s // {stride} AS BIGINT) AS chunk_id,
       CAST(len(list_slice(toks, s + 1, s + {chunk_tokens})) AS BIGINT)
           AS n_tokens,
       array_to_string(list_slice(toks, s + 1, s + {chunk_tokens}), ' ')
           AS chunk_text
FROM s"""


def boilerplate_scrub_sql(n: int = 5, max_df: int = 1) -> str:
    """Mirror of operators/dedup.py::boilerplate_scrub: positioned
    grams (0-based start like Spark's posexplode), document-frequency
    over DISTINCT docs, span explode to covered positions, anti-join,
    order-by-position reassembly. All joins/aggregates integer- or
    string-exact, so the rebuilt text hash-matches bit-for-bit."""
    parts = ", ".join(f"toks[i + {j}]" for j in range(n))
    return f"""WITH t AS (SELECT doc_id, {TOKS_EXPR} AS toks FROM documents),
tokp AS (
    SELECT doc_id, unnest(toks) AS token,
           generate_subscripts(toks, 1) - 1 AS pos
    FROM t
),
g AS (
    SELECT doc_id, i - 1 AS s_pos, concat_ws(' ', {parts}) AS gram
    FROM (SELECT doc_id, toks,
                 unnest(range(1, len(toks) - {n - 2})) AS i
          FROM t)
),
dfc AS (SELECT gram, count(DISTINCT doc_id) AS df FROM g GROUP BY gram),
cov AS (
    SELECT DISTINCT g.doc_id, g.s_pos + j.j AS pos
    FROM g
    JOIN dfc ON g.gram = dfc.gram AND dfc.df > {max_df}
    CROSS JOIN (SELECT unnest(range({n})) AS j) j
),
kept AS (
    SELECT tokp.doc_id, tokp.pos, tokp.token
    FROM tokp ANTI JOIN cov
      ON tokp.doc_id = cov.doc_id AND tokp.pos = cov.pos
),
reb AS (
    SELECT doc_id, count(*) AS n_kept,
           string_agg(token, ' ' ORDER BY pos) AS scrubbed_text
    FROM kept GROUP BY doc_id
),
tot AS (SELECT doc_id, count(*) AS n_total FROM tokp GROUP BY doc_id)
SELECT d.doc_id,
       CAST(COALESCE(tot.n_total, 0) AS BIGINT) AS n_tokens,
       CAST(COALESCE(tot.n_total, 0) - COALESCE(reb.n_kept, 0) AS BIGINT)
           AS n_removed,
       COALESCE(reb.scrubbed_text, '') AS scrubbed_text
FROM documents d
LEFT JOIN tot ON d.doc_id = tot.doc_id
LEFT JOIN reb ON d.doc_id = reb.doc_id"""


def _minhash_cte(k: int, seed: int) -> str:
    params = minhash_params(k, seed)
    values = ", ".join(f"({i}, {a}, {b})" for i, (a, b) in enumerate(params))
    return f"""{TOK_CTE.strip()},
hv AS (
    SELECT doc_id, {hash64('token')} % {MINHASH_PRIME} AS hv FROM tok
),
mh AS (
    SELECT doc_id, CAST(p.h_idx AS BIGINT) AS h_idx,
           min((p.a * hv.hv + p.b) % {MINHASH_PRIME}) AS min_hash
    FROM hv, (VALUES {values}) AS p(h_idx, a, b)
    GROUP BY doc_id, p.h_idx
)"""


def minhash_signatures_sql(k: int = DEFAULT_NUM_HASHES, seed: int = DEFAULT_SEED) -> str:
    return f"WITH {_minhash_cte(k, seed)} SELECT doc_id, h_idx, min_hash FROM mh"


def minhash_lsh_dedup_sql(
    threshold: float,
    k: int = DEFAULT_NUM_HASHES,
    bands: int = 8,
    seed: int = DEFAULT_SEED,
) -> str:
    r = k // bands
    return f"""WITH {_minhash_cte(k, seed)},
buckets AS (
    SELECT doc_id, h_idx // {r} AS band,
           string_agg(CAST(min_hash AS VARCHAR), ',' ORDER BY h_idx) AS bucket
    FROM mh GROUP BY doc_id, h_idx // {r}
),
cand AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM buckets a JOIN buckets b
      ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
),
{scored_ctes("tok")}
SELECT c.doc_a, c.doc_b, s.similarity
FROM cand c JOIN scored s ON c.doc_a = s.doc_a AND c.doc_b = s.doc_b
WHERE s.similarity >= {threshold}"""


def dedup_incremental_sql(
    threshold: float = 0.7,
    k: int = DEFAULT_NUM_HASHES,
    bands: int = 8,
    seed: int = DEFAULT_SEED,
    store_where: str = "b.doc_id % 5 <> 0",
    batch_where: str = "a.doc_id % 5 = 0",
) -> str:
    """Oracle for sources/signature_index.py::dedup_incremental — the
    store/batch split is expressed as predicates over ONE signature
    relation (the one-shot union), so the same SQL also grades
    ``minhash_index_upsert`` (store_where=TRUE): build-base-then-append
    must equal the one-shot build because MinHash params are
    seed-derived and data-independent. ``est_matches`` is the integer
    signature-position agreement; ``est_sim = est_matches / k`` divides
    a small integer by a power of two, exact in both engines."""
    import math

    r = k // bands
    min_matches = math.ceil(threshold * k)
    return f"""WITH {_minhash_cte(k, seed)},
buckets AS (
    SELECT doc_id, h_idx // {r} AS band,
           string_agg(CAST(min_hash AS VARCHAR), ',' ORDER BY h_idx) AS bucket
    FROM mh GROUP BY doc_id, h_idx // {r}
),
cand AS (
    SELECT DISTINCT a.doc_id AS new_id, b.doc_id AS stored_id
    FROM buckets a JOIN buckets b
      ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id <> b.doc_id
    WHERE ({batch_where}) AND ({store_where})
),
agree AS (
    SELECT c.new_id, c.stored_id,
           CAST(sum(CASE WHEN ma.min_hash = mb.min_hash
                         THEN 1 ELSE 0 END) AS BIGINT) AS est_matches
    FROM cand c
    JOIN mh ma ON ma.doc_id = c.new_id
    JOIN mh mb ON mb.doc_id = c.stored_id AND mb.h_idx = ma.h_idx
    GROUP BY c.new_id, c.stored_id
)
SELECT new_id, stored_id, est_matches,
       CAST(est_matches AS DOUBLE) / {float(k)} AS est_sim
FROM agree WHERE est_matches >= {min_matches}"""


def minhash_index_stats_sql(
    base_mod: int = 6,
    k: int = DEFAULT_NUM_HASHES,
    bands: int = 8,
    seed: int = DEFAULT_SEED,
) -> str:
    """Oracle for registry_fixtures.py::minhash_index_stats_demo —
    the SQL-derivable slice of the ops snapshot recomputed from the
    signature CTEs over the demo's store slice: document count and the
    measured (band, bucket) occupancy the banding retune trades on.
    (File counts are filesystem facts with no SQL twin and are not in
    the graded projection.)"""
    r = k // bands
    return f"""WITH {_minhash_cte(k, seed)},
store AS (SELECT * FROM mh WHERE doc_id % {base_mod} <> 0),
buckets AS (
    SELECT doc_id, h_idx // {r} AS band,
           string_agg(CAST(min_hash AS VARCHAR), ',' ORDER BY h_idx) AS bucket
    FROM store GROUP BY doc_id, h_idx // {r}
),
occ AS (
    SELECT band, bucket, count(*) AS c FROM buckets GROUP BY band, bucket
)
SELECT CAST({k} AS BIGINT) AS k_hashes,
       CAST({bands} AS BIGINT) AS bands,
       (SELECT count(DISTINCT doc_id) FROM store) AS n_docs,
       (SELECT count(*) FROM occ) AS n_bucket_groups,
       (SELECT max(c) FROM occ) AS max_bucket_docs"""


def _lsh_pairs_ctes(
    threshold: float, k: int, bands: int, seed: int
) -> str:
    """CTE chain ending in ``dup_pairs`` = the LSH-verified near-dup
    pair relation (mirrors operators/dedup.py::minhash_lsh_dedup's
    output pairs at ``threshold``)."""
    r = k // bands
    return f"""{_minhash_cte(k, seed)},
buckets AS (
    SELECT doc_id, h_idx // {r} AS band,
           string_agg(CAST(min_hash AS VARCHAR), ',' ORDER BY h_idx) AS bucket
    FROM mh GROUP BY doc_id, h_idx // {r}
),
cand AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM buckets a JOIN buckets b
      ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
),
{scored_ctes("tok")},
dup_pairs AS (
    SELECT c.doc_a, c.doc_b
    FROM cand c JOIN scored s ON c.doc_a = s.doc_a AND c.doc_b = s.doc_b
    WHERE s.similarity >= {threshold}
)"""


def containment_pruned_sql(
    min_containment: float,
    k: int = DEFAULT_NUM_HASHES,
    bands: int = 8,
    seed: int = DEFAULT_SEED,
) -> str:
    """LSH-candidate containment (mirrors operators/dedup.py::
    containment_pruned): same bucket/candidate CTEs as the MinHash
    dedup oracle, asymmetric projection instead of the Jaccard one."""
    r = k // bands
    return f"""WITH {_minhash_cte(k, seed)},
buckets AS (
    SELECT doc_id, h_idx // {r} AS band,
           string_agg(CAST(min_hash AS VARCHAR), ',' ORDER BY h_idx) AS bucket
    FROM mh GROUP BY doc_id, h_idx // {r}
),
cand AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM buckets a JOIN buckets b
      ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
),
{scored_ctes("tok")}
SELECT c.doc_a, c.doc_b, s.intersection, s.size_a, s.size_b,
       s.intersection / s.size_a AS cont_a,
       s.intersection / s.size_b AS cont_b
FROM cand c JOIN scored s ON c.doc_a = s.doc_a AND c.doc_b = s.doc_b
WHERE s.intersection / s.size_a >= {min_containment}
   OR s.intersection / s.size_b >= {min_containment}"""


def containment_recall_audit_sql(
    min_containment: float,
    k: int = DEFAULT_NUM_HASHES,
    bands: int = 8,
    seed: int = DEFAULT_SEED,
) -> str:
    """Mirrors operators/dedup.py::containment_recall_audit — exact vs
    LSH-pruned containment pair counts per canonical a-side document
    (pruned ⊆ exact, so no hit join; recall = Σn_pruned / Σn_exact)."""
    r = k // bands
    cfilter = (
        f"intersection / size_a >= {min_containment} "
        f"OR intersection / size_b >= {min_containment}"
    )
    return f"""WITH {_minhash_cte(k, seed)},
buckets AS (
    SELECT doc_id, h_idx // {r} AS band,
           string_agg(CAST(min_hash AS VARCHAR), ',' ORDER BY h_idx) AS bucket
    FROM mh GROUP BY doc_id, h_idx // {r}
),
cand AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM buckets a JOIN buckets b
      ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
),
{scored_ctes("tok")},
ex AS (SELECT doc_a, doc_b FROM scored WHERE {cfilter}),
pr AS (
    SELECT s.doc_a, s.doc_b
    FROM cand c JOIN scored s ON c.doc_a = s.doc_a AND c.doc_b = s.doc_b
    WHERE {cfilter}
),
exc AS (SELECT doc_a, count(*) AS c FROM ex GROUP BY 1),
prc AS (SELECT doc_a, count(*) AS c FROM pr GROUP BY 1)
SELECT d.doc_id AS doc_a,
       CAST(COALESCE(exc.c, 0) AS BIGINT) AS n_exact,
       CAST(COALESCE(prc.c, 0) AS BIGINT) AS n_pruned
FROM documents d
LEFT JOIN exc ON d.doc_id = exc.doc_a
LEFT JOIN prc ON d.doc_id = prc.doc_a"""


def train_val_split_sql(val_bp: int = 1000, salt: str = "split-v1") -> str:
    h = hash64(f"'{salt}:' || CAST(doc_id AS VARCHAR)")
    return f"""
SELECT doc_id,
       CASE WHEN {h} % 10000 < {val_bp} THEN 'val' ELSE 'train' END AS split
FROM documents"""


def split_leakage_audit_sql(
    threshold: float = 0.7,
    val_bp: int = 1000,
    salt: str = "split-v1",
    k: int = DEFAULT_NUM_HASHES,
    bands: int = 8,
    seed: int = DEFAULT_SEED,
) -> str:
    """Mirrors operators/dedup.py::split_leakage_audit: the
    minhash_lsh_dedup pair relation joined to the deterministic split,
    reduced to per-(split_a, split_b) pair counts."""
    h = hash64(f"'{salt}:' || CAST(doc_id AS VARCHAR)")
    return f"""WITH {_lsh_pairs_ctes(threshold, k, bands, seed)},
spl AS (
    SELECT doc_id,
           CASE WHEN {h} % 10000 < {val_bp}
                THEN 'val' ELSE 'train' END AS split
    FROM documents
)
SELECT least(sa.split, sb.split) AS split_a,
       greatest(sa.split, sb.split) AS split_b,
       count(*) AS n_pairs
FROM dup_pairs p
JOIN spl sa ON p.doc_a = sa.doc_id
JOIN spl sb ON p.doc_b = sb.doc_id
GROUP BY 1, 2"""


def key_skew_stats_sql(table: str, key_col: str, k: int = 20) -> str:
    return f"""
WITH c AS (
    SELECT CAST({key_col} AS VARCHAR) AS key, count(*) AS n_rows
    FROM {table} GROUP BY 1
),
t AS (SELECT sum(n_rows) AS total FROM c),
r AS (
    SELECT key, n_rows,
           row_number() OVER (ORDER BY n_rows DESC, key) AS rank
    FROM c
)
SELECT CAST(rank AS BIGINT) AS rank, key,
       CAST(n_rows AS BIGINT) AS n_rows,
       CAST((10000 * n_rows) // total AS BIGINT) AS share_bp
FROM r, t WHERE rank <= {k}"""


def source_overlap_matrix_sql(
    threshold: float,
    k: int = DEFAULT_NUM_HASHES,
    bands: int = 8,
    seed: int = DEFAULT_SEED,
) -> str:
    return f"""WITH {_lsh_pairs_ctes(threshold, k, bands, seed)}
SELECT least(da.source, db.source) AS source_a,
       greatest(da.source, db.source) AS source_b,
       count(*) AS n_pairs
FROM dup_pairs p
JOIN documents da ON p.doc_a = da.doc_id
JOIN documents db ON p.doc_b = db.doc_id
GROUP BY 1, 2"""


def pagerank_centrality_sql(
    threshold: float,
    iters: int = 2,
    scale: int = 1_000_000,
    k: int = DEFAULT_NUM_HASHES,
    bands: int = 8,
    seed: int = DEFAULT_SEED,
) -> str:
    # integer-exact damped PageRank over the LSH-verified near-dup graph
    # (mirrors operators/dedup.py::pagerank_centrality): contributions
    # use truncating integer division on non-negative values — floor
    # division in both engines — so the unrolled chain hash-matches.
    parts = [
        f"""{_lsh_pairs_ctes(threshold, k, bands, seed)},
edges AS (
    SELECT doc_a AS src, doc_b AS dst FROM dup_pairs
    UNION ALL
    SELECT doc_b AS src, doc_a AS dst FROM dup_pairs
),
deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src),
r0 AS (SELECT doc_id, CAST({scale} AS BIGINT) AS rank FROM documents)"""
    ]
    for t in range(iters):
        parts.append(
            f"""c{t} AS (
    SELECT e.dst AS doc_id, sum(r.rank // d.deg) AS contrib
    FROM edges e
    JOIN r{t} r ON r.doc_id = e.src
    JOIN deg d ON d.src = e.src
    GROUP BY e.dst
),
r{t + 1} AS (
    SELECT n.doc_id,
           CAST((15 * {scale} + 85 * COALESCE(c.contrib, 0)) // 100
                AS BIGINT) AS rank
    FROM documents n LEFT JOIN c{t} c ON n.doc_id = c.doc_id
)"""
        )
    joined = ",\n".join(parts)
    return f"WITH {joined}\nSELECT doc_id, rank FROM r{iters}"


def minhash_error_audit_sql(
    k: int = DEFAULT_NUM_HASHES,
    bands: int = 8,
    seed: int = DEFAULT_SEED,
) -> str:
    r = k // bands
    return f"""WITH {_minhash_cte(k, seed)},
buckets AS (
    SELECT doc_id, h_idx // {r} AS band,
           string_agg(CAST(min_hash AS VARCHAR), ',' ORDER BY h_idx) AS bucket
    FROM mh GROUP BY doc_id, h_idx // {r}
),
cand AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM buckets a JOIN buckets b
      ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
),
agree AS (
    SELECT c.doc_a, c.doc_b,
           CAST(sum(CASE WHEN ma.min_hash = mb.min_hash
                         THEN 1 ELSE 0 END) AS BIGINT) AS est_matches
    FROM cand c
    JOIN mh ma ON ma.doc_id = c.doc_a
    JOIN mh mb ON mb.doc_id = c.doc_b AND mb.h_idx = ma.h_idx
    GROUP BY c.doc_a, c.doc_b
),
{scored_ctes("tok")}
SELECT g.doc_a, g.doc_b, g.est_matches,
       CAST(g.est_matches AS DOUBLE) / {float(k)} AS est_sim,
       COALESCE(s.similarity, 0.0) AS exact_sim,
       abs(CAST(g.est_matches AS DOUBLE) / {float(k)}
           - COALESCE(s.similarity, 0.0)) AS abs_err
FROM agree g LEFT JOIN scored s
  ON g.doc_a = s.doc_a AND g.doc_b = s.doc_b"""


def _simhash_cte(bits: int = SIMHASH_BITS) -> str:
    sums = ",\n           ".join(
        f"sum(((hv >> {j}) & 1) * 2 - 1) AS s_{j}" for j in range(bits)
    )
    fp = " + ".join(
        f"CASE WHEN s_{j} > 0 THEN CAST({1 << j} AS BIGINT) ELSE CAST(0 AS BIGINT) END"
        for j in range(bits)
    )
    return f"""{TOK_CTE.strip()},
hv AS (
    SELECT doc_id, {hash64('token')} AS hv FROM tok
),
sums AS (
    SELECT doc_id,
           {sums}
    FROM hv GROUP BY doc_id
),
sh AS (
    SELECT doc_id, ({fp}) AS simhash FROM sums
)"""


def simhash_sql(bits: int = SIMHASH_BITS) -> str:
    return f"WITH {_simhash_cte(bits)} SELECT doc_id, simhash FROM sh"


def simhash_duplicates_sql(max_distance: int, bits: int = SIMHASH_BITS) -> str:
    # brute-force oracle; the engine uses exact pigeonhole blocking —
    # results must be identical
    return f"""WITH {_simhash_cte(bits)}
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
FROM sh a JOIN sh b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= {max_distance}"""


# ---------------------------------------------------------------------------
# Similarity search (embeddings)
# ---------------------------------------------------------------------------
# DuckDB's list_dot_product on DOUBLE[] accumulates sequentially by index,
# bit-identical to Spark's F.aggregate(zip_with(...)) — verified empirically
# (tests/test_similarity.py + the parity harness).

_VEC_CTES = """
v AS (
    SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings
),
n AS (
    SELECT vec_id, vec, list_dot_product(vec, vec) AS norm2 FROM v
)"""

_COSINE = (
    "CASE WHEN a.norm2 > 0 AND b.norm2 > 0 "
    "THEN list_dot_product(a.vec, b.vec) / (sqrt(a.norm2) * sqrt(b.norm2)) "
    "ELSE 0.0 END"
)


def _ranked_sql(scored_from: str, k: int) -> str:
    return f"""{scored_from},
ranked AS (
    SELECT query_id, neighbor_id, score,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY score DESC, neighbor_id) AS rank
    FROM scored
)
SELECT query_id, neighbor_id, score, CAST(rank AS BIGINT) AS rank
FROM ranked WHERE rank <= {k}"""


def ann_cosine_topk_sql(k: int) -> str:
    return _ranked_sql(
        f"""WITH {_VEC_CTES.strip()},
scored AS (
    SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id, {_COSINE} AS score
    FROM n a JOIN n b ON a.vec_id <> b.vec_id
)""",
        k,
    )


def ann_fast_ranks_sql(k: int) -> str:
    """Rank-agreement oracle for the numpy-kernel top-k: scores are
    deliberately OMITTED from the projection (numpy's pairwise-summation
    dot product is not bit-identical to sequential accumulation), but the
    resulting (query_id, neighbor_id, rank) triples must match the exact
    SQL ranking — deterministic because distinct cosine scores in the
    testdata are separated far beyond float error, and true ties break on
    neighbor_id in both engines."""
    return f"""WITH {_VEC_CTES.strip()},
scored AS (
    SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id, {_COSINE} AS score
    FROM n a JOIN n b ON a.vec_id <> b.vec_id
),
ranked AS (
    SELECT query_id, neighbor_id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY score DESC, neighbor_id) AS rank
    FROM scored
)
SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank
FROM ranked WHERE rank <= {k}"""


def _plane_literal(plane: list[float]) -> str:
    return "[" + ", ".join(repr(x) for x in plane) + "]::DOUBLE[]"


def _lsh_bits(planes: list[list[float]]) -> str:
    return " || ".join(
        f"(CASE WHEN list_dot_product(vec, {_plane_literal(p)}) >= 0 "
        "THEN '1' ELSE '0' END)"
        for p in planes
    )


def _lsh_sig_cte(tables: list[list[list[float]]]) -> str:
    """Multi-table signature CTE ``sig(vec_id, tbl, bucket)`` — one
    UNION ALL branch per hash table (mirrors
    operators/similarity.py::ann_lsh_topk's signature explode)."""
    branches = "\n    UNION ALL\n".join(
        f"    SELECT vec_id, {t} AS tbl, ({_lsh_bits(planes)}) AS bucket FROM n"
        for t, planes in enumerate(tables)
    )
    return f"sig AS (\n{branches}\n)"


def deleted_vec_ctes(del_mod: int, del_rem: int) -> str:
    """``v``/``n`` CTEs over the SURVIVING vectors only — the LSH
    delete oracle's base (mirror of the demo's
    ``vec_id % del_mod == del_rem`` delete batch): candidates, rerank
    vectors, and the query pool all shrink with the deletions."""
    return f"""
v AS (
    SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings
    WHERE vec_id % {del_mod} <> {del_rem}
),
n AS (
    SELECT vec_id, vec, list_dot_product(vec, vec) AS norm2 FROM v
)"""


def replicated_vec_ctes(factor: int, id_stride: int, dim: int = 64) -> str:
    """``v``/``n`` CTEs over the :func:`~jaccard_mapreduce_spark.
    operators.similarity.replicate_embeddings` corpus — same formula,
    DuckDB syntax: copy r of vector v gets ``vec_id + r·id_stride`` and
    (for r > 0) the integer per-coordinate perturbation
    ``((vec_id·31 + r·17 + i·7) mod 5) - 2`` (1-based i here matches
    Spark's 0-based transform index + 1). Integer-valued doubles add
    exactly, so the replica hash-matches Spark bit-for-bit."""
    return f"""
v AS (
    SELECT e.vec_id + r.r * {id_stride} AS vec_id,
           CASE WHEN r.r = 0 THEN e.embedding::DOUBLE[]
                ELSE list_transform(range(1, {dim + 1}),
                     i -> e.embedding[i]::DOUBLE
                          + ((e.vec_id * 31 + r.r * 17 + i * 7) % 5 - 2))
           END AS vec
    FROM embeddings e
    CROSS JOIN (SELECT unnest(range({factor})) AS r) r
),
n AS (
    SELECT vec_id, vec, list_dot_product(vec, vec) AS norm2 FROM v
)"""


def ann_lsh_topk_sql(
    k: int,
    tables: list[list[list[float]]],
    query_where: str = "",
    vec_ctes: str | None = None,
) -> str:
    # query_where (e.g. "a.vec_id % 10 = 0") restricts the QUERY side of
    # the candidate join while the index side stays the full corpus —
    # the oracle for the batch-serving shape (lsh_index_serve): the
    # per-query top-k window is unaffected by dropping other queries.
    # vec_ctes swaps the base corpus (e.g. replicated_vec_ctes for the
    # graded 10x scale probe).
    q_filter = f" AND ({query_where})" if query_where else ""
    base = (vec_ctes or _VEC_CTES).strip()
    return _ranked_sql(
        f"""WITH {base},
{_lsh_sig_cte(tables)},
cand AS (
    SELECT DISTINCT a.vec_id AS query_id, b.vec_id AS neighbor_id
    FROM sig a JOIN sig b
      ON a.tbl = b.tbl AND a.bucket = b.bucket AND a.vec_id <> b.vec_id{q_filter}
),
scored AS (
    SELECT c.query_id, c.neighbor_id, {_COSINE} AS score
    FROM cand c
    JOIN n a ON a.vec_id = c.query_id
    JOIN n b ON b.vec_id = c.neighbor_id
)""",
        k,
    )


def ann_ivf_topk_sql(
    k: int,
    n_cells: int,
    n_probe: int,
    iters: int = 2,
    dim: int = 64,
    train_where: str = "",
    query_where: str = "",
    vec_ctes: str | None = None,
) -> str:
    # vec_ctes swaps the ASSIGNMENT/SEARCH base (e.g. deleted_vec_ctes
    # for the ivf_index_delete oracle: the codebook still trains on
    # train_where's slice of the raw table — deletes hold it fixed,
    # the upsert contract's mirror — while assignment and the cell
    # join see only the survivors).
    # mirrors operators/similarity.py::ann_ivf_topk exactly: codebook =
    # the integer-exact kmeans_int8 chain's final centroids (ints as
    # double coordinates), cosine cell assignment with
    # (score DESC, cell_id) tie-break, index in 1 cell / query probes
    # n_probe cells, exact rerank within cells. With train_where set,
    # the codebook trains on a slice while assignment/search cover the
    # full corpus — the ivf_index_upsert oracle (build-then-upsert must
    # equal build-over-union under the held-fixed codebook).
    # query_where (e.g. "a.vec_id % 10 = 0") restricts the QUERY side
    # of the cell join while the resident side stays the full corpus —
    # the batch-serving oracle (ivf_index_serve): the per-query top-k
    # window is unaffected by dropping other queries, so batch-vs-
    # stored ≡ the batch's rows of the full self-search (the
    # ann_lsh_topk_sql convention)
    cos_c = (
        "CASE WHEN a.norm2 > 0 AND c.cnorm2 > 0 "
        "THEN list_dot_product(a.vec, c.cvec) / (sqrt(a.norm2) * sqrt(c.cnorm2)) "
        "ELSE 0.0 END"
    )
    return _ranked_sql(
        f"""WITH {_kmeans_int8_ctes(n_cells, iters, dim, train_where)},
{(vec_ctes or _VEC_CTES).strip()},
cents AS (
    SELECT cluster AS cell_id,
           list_transform(cvec, x -> CAST(x AS DOUBLE)) AS cvec,
           list_dot_product(list_transform(cvec, x -> CAST(x AS DOUBLE)),
                            list_transform(cvec, x -> CAST(x AS DOUBLE)))
               AS cnorm2
    FROM c{iters}
),
assign AS (
    SELECT vec_id, vec, norm2, cell_id,
           row_number() OVER (PARTITION BY vec_id
                              ORDER BY cscore DESC, cell_id) AS crank
    FROM (
        SELECT a.vec_id, a.vec, a.norm2, c.cell_id, {cos_c} AS cscore
        FROM n a CROSS JOIN cents c
    )
),
qry AS (SELECT * FROM assign WHERE crank <= {n_probe}),
idx AS (SELECT * FROM assign WHERE crank = 1),
scored AS (
    SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id, {_COSINE} AS score
    FROM qry a JOIN idx b
      ON a.cell_id = b.cell_id AND a.vec_id <> b.vec_id{
        f" AND ({query_where})" if query_where else ""}
)""",
        k,
    )


def ivf_index_stats_sql(
    n_cells: int, iters: int = 2, dim: int = 64
) -> str:
    """Oracle for registry_fixtures.py::ivf_index_stats_demo — the
    SQL-derivable slice of the IVF ops snapshot recomputed from the
    integer-exact k-means chain: vector count and the measured cell
    occupancy (``crank = 1`` — each vector in its single nearest cell,
    the stored layout's partitioning). The shared demo index is a fresh
    full build, so staleness is the literal zero. (File counts are
    filesystem facts with no SQL twin and are not in the graded
    projection.)"""
    cos_c = (
        "CASE WHEN a.norm2 > 0 AND c.cnorm2 > 0 "
        "THEN list_dot_product(a.vec, c.cvec) / (sqrt(a.norm2) * sqrt(c.cnorm2)) "
        "ELSE 0.0 END"
    )
    return f"""WITH {_kmeans_int8_ctes(n_cells, iters, dim)},
{_VEC_CTES.strip()},
cents AS (
    SELECT cluster AS cell_id,
           list_transform(cvec, x -> CAST(x AS DOUBLE)) AS cvec,
           list_dot_product(list_transform(cvec, x -> CAST(x AS DOUBLE)),
                            list_transform(cvec, x -> CAST(x AS DOUBLE)))
               AS cnorm2
    FROM c{iters}
),
assign AS (
    SELECT vec_id, cell_id,
           row_number() OVER (PARTITION BY vec_id
                              ORDER BY cscore DESC, cell_id) AS crank
    FROM (
        SELECT a.vec_id, c.cell_id, {cos_c} AS cscore
        FROM n a CROSS JOIN cents c
    )
),
occ AS (
    SELECT cell_id, count(*) AS c
    FROM assign WHERE crank = 1 GROUP BY cell_id
)
SELECT CAST({n_cells} AS BIGINT) AS n_cells,
       (SELECT count(*) FROM n) AS n_vectors,
       (SELECT count(*) FROM occ) AS n_occupied_cells,
       (SELECT max(c) FROM occ) AS max_cell_vectors,
       CAST(0 AS BIGINT) AS staleness"""


def lsh_index_stats_sql(tables: list[list[list[float]]]) -> str:
    """Oracle for registry_fixtures.py::lsh_index_stats_demo — the
    stored table geometry plus the ``(tbl, bucket)`` occupancy
    recomputed from the signature CTEs over the same plane literals.
    Bucket values are bit-strings here and packed longs in the store,
    but the grouping is 1:1 (two vectors share a bucket iff every sign
    bit matches), so the occupancy numbers are representation-free."""
    return f"""WITH {_VEC_CTES.strip()},
{_lsh_sig_cte(tables)},
occ AS (
    SELECT tbl, bucket, count(*) AS c FROM sig GROUP BY tbl, bucket
)
SELECT CAST({len(tables)} AS BIGINT) AS n_tables,
       CAST({len(tables[0]) if tables else 0} AS BIGINT) AS n_planes,
       (SELECT count(*) FROM n) AS n_vectors,
       (SELECT count(*) FROM occ) AS n_bucket_groups,
       (SELECT max(c) FROM occ) AS max_bucket_vectors"""


def _ivf_cells_ctes(n_cells: int, n_probe: int, iters: int) -> str:
    """``cents``/``assign``/``cand`` fragments shared by the SQ8 oracle
    and the SQ8 rank audit — candidate generation identical to
    ann_ivf_topk_sql's (same codebook chain, cosine cell assignment,
    1-cell index / n_probe-cell queries)."""
    cos_c = (
        "CASE WHEN a.norm2 > 0 AND c.cnorm2 > 0 "
        "THEN list_dot_product(a.vec, c.cvec) / (sqrt(a.norm2) * sqrt(c.cnorm2)) "
        "ELSE 0.0 END"
    )
    return f"""cents AS (
    SELECT cluster AS cell_id,
           list_transform(cvec, x -> CAST(x AS DOUBLE)) AS cvec,
           list_dot_product(list_transform(cvec, x -> CAST(x AS DOUBLE)),
                            list_transform(cvec, x -> CAST(x AS DOUBLE)))
               AS cnorm2
    FROM c{iters}
),
assign AS (
    SELECT vec_id, cell_id,
           row_number() OVER (PARTITION BY vec_id
                              ORDER BY cscore DESC, cell_id) AS crank
    FROM (
        SELECT a.vec_id, c.cell_id, {cos_c} AS cscore
        FROM n a CROSS JOIN cents c
    )
),
cand AS (
    SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id
    FROM (SELECT * FROM assign WHERE crank <= {n_probe}) a
    JOIN (SELECT * FROM assign WHERE crank = 1) b
      ON a.cell_id = b.cell_id AND a.vec_id <> b.vec_id
)"""


def _sq8_scored_ctes(dim: int) -> str:
    """``mm``/``sq0``/``sq``/``sqn``/``scored`` fragments: per-vector
    quantization stats and the pinned SQ8 dot reconstruction over the
    ``cand`` relation (expression tree mirrored operation-for-operation
    from similarity.ann_sq8_topk — the integer pair fold is order-free
    and every float factor is a per-vector scalar, so SCORES
    hash-match)."""
    sq8_dot = (
        "((scale_a * scale_b) * CAST(s1 AS DOUBLE)"
        " + (scale_a * zp_b) * CAST(qsum_a AS DOUBLE))"
        " + ((scale_b * zp_a) * CAST(qsum_b AS DOUBLE)"
        " + d_a * (zp_a * zp_b))"
    )
    return f"""mm AS (
    SELECT vec_id, vec,
           list_aggregate(vec, 'min') AS mn,
           list_aggregate(vec, 'max') AS mx
    FROM v
),
sq0 AS (
    SELECT vec_id,
           (mx - mn) / 255.0 AS scale,
           mn AS zp,
           CASE WHEN mx - mn > 0
                THEN list_transform(vec,
                     x -> CAST(floor((x - mn) / (mx - mn) * 255.0 + 0.5)
                               - 128 AS BIGINT) + 128)
                ELSE list_transform(vec, x -> CAST(0 AS BIGINT))
           END AS qs
    FROM mm
),
sq AS (
    SELECT vec_id, scale, zp, qs,
           list_sum(qs) AS qsum,
           list_sum(list_transform(qs, x -> x * x)) AS q2,
           CAST(len(qs) AS DOUBLE) AS d
    FROM sq0
),
sqn AS (
    SELECT vec_id, scale, zp, qs, qsum, q2, d,
           (scale * scale) * q2
           + ((2.0 * scale) * zp) * qsum
           + d * (zp * zp) AS qnorm2
    FROM sq
),
scored AS (
    SELECT query_id, neighbor_id,
           CASE WHEN qnorm2_a > 0 AND qnorm2_b > 0
                THEN ({sq8_dot}) / (sqrt(qnorm2_a) * sqrt(qnorm2_b))
                ELSE 0.0 END AS score
    FROM (
        SELECT c.query_id, c.neighbor_id,
               sa.scale AS scale_a, sb.scale AS scale_b,
               sa.zp AS zp_a, sb.zp AS zp_b,
               sa.qsum AS qsum_a, sb.qsum AS qsum_b,
               sa.d AS d_a,
               sa.qnorm2 AS qnorm2_a, sb.qnorm2 AS qnorm2_b,
               CAST(list_sum(list_transform(range(1, {dim + 1}),
                    i -> sa.qs[i] * sb.qs[i])) AS BIGINT) AS s1
        FROM cand c
        JOIN sqn sa ON sa.vec_id = c.query_id
        JOIN sqn sb ON sb.vec_id = c.neighbor_id
    )
)"""


def ann_sq8_topk_sql(
    k: int,
    n_cells: int,
    n_probe: int,
    iters: int = 2,
    dim: int = 64,
) -> str:
    """Mirror of similarity.ann_sq8_topk: identical candidate CTEs to
    ann_ivf_topk_sql, rerank from the quantize_embeddings codes with
    the SAME pinned expression tree — the integer pair fold is
    order-free and every float factor is a per-vector scalar, so the
    SCORES hash-match (not just ranks)."""
    return _ranked_sql(
        f"""WITH {_kmeans_int8_ctes(n_cells, iters, dim)},
{_VEC_CTES.strip()},
{_ivf_cells_ctes(n_cells, n_probe, iters)},
{_sq8_scored_ctes(dim)}""",
        k,
    )


def sq8_rank_audit_sql(
    k: int,
    n_cells: int,
    n_probe: int,
    iters: int = 2,
    dim: int = 64,
) -> str:
    """Mirror of similarity.sq8_rank_audit: exact-cosine and SQ8 top-k
    over the SAME cand relation (one codebook), reduced to integer
    per-query overlap counts."""
    return f"""WITH {_kmeans_int8_ctes(n_cells, iters, dim)},
{_VEC_CTES.strip()},
{_ivf_cells_ctes(n_cells, n_probe, iters)},
{_sq8_scored_ctes(dim)},
sq8_top AS (
    SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY score DESC, neighbor_id) AS rank
        FROM scored
    ) WHERE rank <= {k}
),
ex_scored AS (
    SELECT c.query_id, c.neighbor_id, {_COSINE} AS score
    FROM cand c
    JOIN n a ON a.vec_id = c.query_id
    JOIN n b ON b.vec_id = c.neighbor_id
),
ex_top AS (
    SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY score DESC, neighbor_id) AS rank
        FROM ex_scored
    ) WHERE rank <= {k}
),
ne AS (SELECT query_id, count(*) AS n_exact FROM ex_top GROUP BY query_id),
ns AS (SELECT query_id, count(*) AS n_sq8 FROM sq8_top GROUP BY query_id),
nc AS (
    SELECT e.query_id, count(*) AS n_common
    FROM ex_top e JOIN sq8_top s
      ON e.query_id = s.query_id AND e.neighbor_id = s.neighbor_id
    GROUP BY e.query_id
)
SELECT ne.query_id,
       CAST(ne.n_exact AS BIGINT) AS n_exact,
       CAST(ns.n_sq8 AS BIGINT) AS n_sq8,
       CAST(COALESCE(nc.n_common, 0) AS BIGINT) AS n_common
FROM ne
JOIN ns ON ne.query_id = ns.query_id
LEFT JOIN nc ON ne.query_id = nc.query_id"""


def ann_recall_audit_sql(
    k: int, tables: list[list[list[float]]], sample_mod: int = 10
) -> str:
    # exact and LSH top-k as CTEs (same kernels as their own oracles),
    # reduced to integer per-query recall counts — engine-exact; the
    # query side is the deterministic every-sample_mod-th-id sample,
    # ranked against the full index (mirrors the Spark operator)
    return f"""WITH {_VEC_CTES.strip()},
ex_scored AS (
    SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id, {_COSINE} AS score
    FROM n a JOIN n b ON a.vec_id <> b.vec_id
),
ex AS (
    SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY score DESC, neighbor_id) AS rank
        FROM ex_scored
    ) WHERE rank <= {k} AND query_id % {sample_mod} = 0
),
{_lsh_sig_cte(tables)},
cand AS (
    SELECT DISTINCT a.vec_id AS query_id, b.vec_id AS neighbor_id
    FROM sig a JOIN sig b
      ON a.tbl = b.tbl AND a.bucket = b.bucket AND a.vec_id <> b.vec_id
),
ap_scored AS (
    SELECT c.query_id, c.neighbor_id, {_COSINE} AS score
    FROM cand c
    JOIN n a ON a.vec_id = c.query_id
    JOIN n b ON b.vec_id = c.neighbor_id
),
ap AS (
    SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY score DESC, neighbor_id) AS rank
        FROM ap_scored
    ) WHERE rank <= {k} AND query_id % {sample_mod} = 0
),
exc AS (SELECT query_id, count(*) AS c FROM ex GROUP BY 1),
apc AS (SELECT query_id, count(*) AS c FROM ap GROUP BY 1),
hit AS (
    SELECT e.query_id, count(*) AS c
    FROM ex e JOIN ap a
      ON e.query_id = a.query_id AND e.neighbor_id = a.neighbor_id
    GROUP BY 1
)
SELECT v.vec_id AS query_id,
       CAST(COALESCE(exc.c, 0) AS BIGINT) AS n_exact,
       CAST(COALESCE(apc.c, 0) AS BIGINT) AS n_approx,
       CAST(COALESCE(hit.c, 0) AS BIGINT) AS n_hits
FROM v
LEFT JOIN exc ON v.vec_id = exc.query_id
LEFT JOIN apc ON v.vec_id = apc.query_id
LEFT JOIN hit ON v.vec_id = hit.query_id
WHERE v.vec_id % {sample_mod} = 0"""


def ivf_recall_audit_sql(
    k: int, n_cells: int, n_probe: int, sample_mod: int = 10
) -> str:
    # wrap the two tiers' own oracles as derived tables and reduce to
    # per-query integer counts (same shape as ann_recall_audit_sql)
    return f"""
WITH ex AS (
    SELECT query_id, neighbor_id FROM ({ann_cosine_topk_sql(k)}) _e
    WHERE query_id % {sample_mod} = 0
),
ap AS (
    SELECT query_id, neighbor_id
    FROM ({ann_ivf_topk_sql(k, n_cells, n_probe)}) _a
    WHERE query_id % {sample_mod} = 0
),
base AS (
    SELECT vec_id FROM embeddings WHERE vec_id % {sample_mod} = 0
),
exc AS (SELECT query_id, count(*) AS c FROM ex GROUP BY 1),
apc AS (SELECT query_id, count(*) AS c FROM ap GROUP BY 1),
hit AS (
    SELECT e.query_id, count(*) AS c
    FROM ex e JOIN ap a
      ON e.query_id = a.query_id AND e.neighbor_id = a.neighbor_id
    GROUP BY 1
)
SELECT b.vec_id AS query_id,
       CAST(COALESCE(exc.c, 0) AS BIGINT) AS n_exact,
       CAST(COALESCE(apc.c, 0) AS BIGINT) AS n_approx,
       CAST(COALESCE(hit.c, 0) AS BIGINT) AS n_hits
FROM base b
LEFT JOIN exc ON b.vec_id = exc.query_id
LEFT JOIN apc ON b.vec_id = apc.query_id
LEFT JOIN hit ON b.vec_id = hit.query_id"""


def embedding_duplicates_sql(min_cosine: float) -> str:
    return f"""WITH {_VEC_CTES.strip()}
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, {_COSINE} AS score
FROM n a JOIN n b ON a.vec_id < b.vec_id
WHERE {_COSINE} >= {min_cosine}"""


def _kmeans_int8_ctes(
    k: int, iters: int, dim: int, train_where: str = ""
) -> str:
    """Unrolled Lloyd iterations over the int8 codes — mirrors
    operators/similarity.py::kmeans_int8. Every step is integer-exact
    (squared-L2 over BIGINT codes; floored double mean for the update),
    so the chain hash-matches Spark bit-for-bit with no float-order
    hazard. Ends with CTE ``af`` = final assignment
    (vec_id, cluster, dist). ``train_where`` (e.g.
    ``"WHERE vec_id % 5 != 0"``) restricts the TRAINING corpus — the
    ivf_index_upsert contract trains on the base slice while assigning
    the union."""
    dist = (
        f"CAST(list_sum(list_transform(range(1, {dim + 1}), "
        "i -> (qv[i] - cvec[i]) * (qv[i] - cvec[i]))) AS BIGINT)"
    )
    parts = [
        f"""q AS (
    SELECT vec_id,
           CASE WHEN mx - mn > 0
                THEN list_transform(vec,
                     x -> CAST(floor((x - mn) / (mx - mn) * 255.0 + 0.5) - 128
                               AS BIGINT))
                ELSE list_transform(vec, x -> CAST(-128 AS BIGINT))
           END AS qv
    FROM (
        SELECT vec_id, vec,
               list_aggregate(vec, 'min') AS mn,
               list_aggregate(vec, 'max') AS mx
        FROM (SELECT vec_id,
                     list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
              FROM embeddings {train_where})
    )
),
c0 AS (
    SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS cluster,
           qv AS cvec
    FROM q ORDER BY vec_id LIMIT {k}
)"""
    ]
    for t in range(iters + 1):
        parts.append(
            f"""a{t} AS (
    SELECT vec_id, qv, cluster, dist FROM (
        SELECT vec_id, qv, cluster, dist,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY dist, cluster) AS rk
        FROM (SELECT q.vec_id AS vec_id, q.qv AS qv, c.cluster AS cluster,
                     {dist} AS dist
              FROM q, c{t} c)
    ) WHERE rk = 1
)"""
        )
        if t == iters:
            break
        parts.append(
            f"""m{t} AS (
    SELECT cluster, d.i AS i,
           CAST(floor(CAST(sum(qv[d.i]) AS DOUBLE) / count(*)) AS BIGINT) AS v
    FROM a{t}, (SELECT unnest(range(1, {dim + 1})) AS i) d
    GROUP BY cluster, d.i
),
c{t + 1} AS (
    SELECT cluster, list(v ORDER BY i) AS cvec FROM m{t} GROUP BY cluster
)"""
        )
    parts.append(f"af AS (SELECT vec_id, cluster, dist FROM a{iters})")
    return ",\n".join(parts)


def kmeans_int8_sql(k: int = 8, iters: int = 2, dim: int = 64) -> str:
    return f"""WITH {_kmeans_int8_ctes(k, iters, dim)}
SELECT vec_id, cluster, dist FROM af"""


def kmeans_label_purity_sql(k: int = 8, iters: int = 2, dim: int = 64) -> str:
    # mirrors operators/similarity.py::kmeans_label_purity — assignment
    # from the integer-exact kmeans chain, per-(cluster,label) counts,
    # per-cluster argmax with (count DESC, label) tie-break
    return f"""WITH {_kmeans_int8_ctes(k, iters, dim)},
cnt AS (
    SELECT a.cluster, e.label, count(*) AS n
    FROM af a JOIN embeddings e ON a.vec_id = e.vec_id
    GROUP BY 1, 2
),
tot AS (SELECT cluster, CAST(sum(n) AS BIGINT) AS n_vectors FROM cnt GROUP BY 1),
rk AS (
    SELECT cluster, label, n,
           row_number() OVER (PARTITION BY cluster
                              ORDER BY n DESC, label) AS rk
    FROM cnt
)
SELECT r.cluster, t.n_vectors, r.label AS majority_label, r.n AS n_majority
FROM rk r JOIN tot t ON r.cluster = t.cluster
WHERE r.rk = 1"""


def semantic_dedup_sql(
    k: int = 8, iters: int = 2, min_cosine: float = 0.3, dim: int = 64
) -> str:
    # cluster assignment is the integer-exact kmeans chain; the
    # within-cluster cosine uses the same fixed-order list_dot_product
    # kernel as the ANN oracles (verified bit-identical to Spark's
    # sequential fold)
    return f"""WITH {_kmeans_int8_ctes(k, iters, dim)},
{_VEC_CTES.strip()},
dup AS (
    SELECT DISTINCT a.vec_id AS vec_id
    FROM af a
    JOIN af b ON a.cluster = b.cluster AND b.vec_id < a.vec_id
    JOIN n na ON na.vec_id = a.vec_id
    JOIN n nb ON nb.vec_id = b.vec_id
    WHERE (CASE WHEN na.norm2 > 0 AND nb.norm2 > 0
                THEN list_dot_product(na.vec, nb.vec)
                     / (sqrt(na.norm2) * sqrt(nb.norm2))
                ELSE 0.0 END) >= CAST({min_cosine} AS DOUBLE)
)
SELECT a.vec_id, a.cluster, (d.vec_id IS NULL) AS keep
FROM af a LEFT JOIN dup d ON a.vec_id = d.vec_id"""


# ---------------------------------------------------------------------------
# Relational / OLAP coverage (TPC-H-ish)
# ---------------------------------------------------------------------------
# Money math: DECIMAL(18,2) end-to-end, cast to DOUBLE only at the output —
# exact and order-independent, so sums hash identically across engines.

_DD = "DECIMAL(18,2)"
_ONE_D = "CAST(1 AS DECIMAL(3,2))"


def q1_pricing_summary_sql(ship_cutoff: str = "1998-09-02") -> str:
    return f"""
SELECT l_returnflag, l_linestatus,
       CAST(sum(CAST(l_quantity AS {_DD})) AS DOUBLE) AS sum_qty,
       CAST(sum(CAST(l_extendedprice AS {_DD})) AS DOUBLE) AS sum_base_price,
       CAST(sum(CAST(l_extendedprice AS {_DD}) * ({_ONE_D} - CAST(l_discount AS {_DD}))) AS DOUBLE) AS sum_disc_price,
       CAST(sum(CAST(l_extendedprice AS {_DD}) * ({_ONE_D} - CAST(l_discount AS {_DD})) * ({_ONE_D} + CAST(l_tax AS {_DD}))) AS DOUBLE) AS sum_charge,
       CAST(sum(CAST(l_quantity AS {_DD})) AS DOUBLE) / count(*) AS avg_qty,
       CAST(sum(CAST(l_extendedprice AS {_DD})) AS DOUBLE) / count(*) AS avg_price,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '{ship_cutoff} 00:00:00'
GROUP BY l_returnflag, l_linestatus"""


def q3_top_orders_sql(segment: str = "BUILDING", k: int = 10) -> str:
    return f"""
SELECT o.o_orderkey,
       CAST(CAST(o.o_orderdate AS DATE) AS VARCHAR) AS order_date,
       o.o_orderpriority,
       CAST(sum(CAST(l.l_extendedprice AS {_DD}) * ({_ONE_D} - CAST(l.l_discount AS {_DD}))) AS DOUBLE) AS revenue
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
WHERE c.c_mktsegment = '{segment}'
GROUP BY o.o_orderkey, o.o_orderdate, o.o_orderpriority
ORDER BY revenue DESC, o.o_orderkey
LIMIT {k}"""


def q5_region_revenue_sql(region_name: str = "ASIA") -> str:
    return f"""
SELECT n.n_name,
       CAST(sum(CAST(l.l_extendedprice AS {_DD}) * ({_ONE_D} - CAST(l.l_discount AS {_DD}))) AS DOUBLE) AS revenue,
       count(*) AS n_lineitems
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
WHERE r.r_name = '{region_name}'
GROUP BY n.n_name"""


def customer_order_windows_sql(k: int = 3) -> str:
    return f"""
WITH w AS (
    SELECT o_custkey, o_orderkey,
           CAST(CAST(o_totalprice AS {_DD}) AS DOUBLE) AS total_price,
           row_number() OVER (PARTITION BY o_custkey
                              ORDER BY o_totalprice DESC, o_orderkey) AS rn,
           CAST(sum(CAST(o_totalprice AS {_DD}))
                OVER (PARTITION BY o_custkey
                      ORDER BY o_orderdate, o_orderkey
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
               AS cum_spend
    FROM orders
)
SELECT o_custkey, o_orderkey, total_price, CAST(rn AS BIGINT) AS rn, cum_spend
FROM w WHERE rn <= {k}"""


def customers_with_without_orders_sql() -> str:
    return """
WITH w AS (
    SELECT c_nationkey, count(*) AS n_with_orders
    FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    GROUP BY c_nationkey
),
wo AS (
    SELECT c_nationkey, count(*) AS n_without_orders
    FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    GROUP BY c_nationkey
)
SELECT coalesce(w.c_nationkey, wo.c_nationkey) AS c_nationkey,
       coalesce(w.n_with_orders, 0) AS n_with_orders,
       coalesce(wo.n_without_orders, 0) AS n_without_orders
FROM w FULL OUTER JOIN wo ON w.c_nationkey = wo.c_nationkey"""


def orders_status_cube_sql() -> str:
    return f"""
SELECT o_orderstatus, o_orderpriority,
       count(*) AS n_orders,
       CAST(sum(CAST(o_totalprice AS {_DD})) AS DOUBLE) AS total_price
FROM orders
GROUP BY CUBE (o_orderstatus, o_orderpriority)"""


def events_daily_sql() -> str:
    return f"""
SELECT CAST(CAST(date_trunc('day', ts) AS DATE) AS VARCHAR) AS day,
       event_type,
       count(*) AS n_events,
       count(DISTINCT user_id) AS n_users,
       CAST(sum(CAST(value AS {_DD})) AS DOUBLE) AS sum_value
FROM events
GROUP BY 1, 2"""


def events_sessionize_sql(gap_seconds: int = 21600) -> str:
    return f"""
WITH ev AS (
    SELECT user_id, event_id, epoch_us(ts) AS ep_us, value
    FROM events
),
lagged AS (
    SELECT *, lag(ep_us) OVER (PARTITION BY user_id ORDER BY ep_us, event_id) AS prev_us
    FROM ev
),
flagged AS (
    SELECT *,
           CAST(prev_us IS NULL OR ep_us - prev_us > CAST({gap_seconds} AS BIGINT) * 1000000 AS BIGINT) AS is_new
    FROM lagged
),
sess AS (
    SELECT *,
           sum(is_new) OVER (PARTITION BY user_id ORDER BY ep_us, event_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_idx
    FROM flagged
)
SELECT user_id,
       CAST(session_idx AS BIGINT) AS session_idx,
       count(*) AS n_events,
       min(ep_us) // 1000000 AS session_start_s,
       max(ep_us) // 1000000 AS session_end_s,
       CAST(sum(CAST(value AS {_DD})) AS DOUBLE) AS sum_value
FROM sess
GROUP BY user_id, session_idx"""


def events_json_props_sql() -> str:
    return """
SELECT event_id, CAST(props->>'$.k' AS BIGINT) AS prop_k FROM events"""


def part_brand_stats_sql() -> str:
    return f"""
SELECT p_brand,
       count(*) AS n_parts,
       CAST(sum(CAST(p_retailprice AS {_DD})) AS DOUBLE) / count(*) AS avg_price,
       CAST(min(p_size) AS BIGINT) AS min_size,
       CAST(max(p_size) AS BIGINT) AS max_size
FROM part
GROUP BY p_brand"""


# ---------------------------------------------------------------------------
# Multimodal (fake codec formulas — mirror operators/multimodal.py)
# ---------------------------------------------------------------------------


def media_meta_sql(corrupt_mod: int | None = None) -> str:
    # width/height/n_bytes are deterministic functions of doc_id by
    # construction (fake_media_bytes); the Spark side PARSES them back out
    # of the binary header via mapInPandas — matching values proves the
    # whole binary round trip. With corrupt_mod (round 11), rows with
    # doc_id % corrupt_mod = 0 carry an undecodable payload
    # (corrupt_media_bytes: wrong magic, 8 bytes shorter): the decode
    # must yield NULL width/height while still reporting the byte
    # length — the NULL path in the graded hash.
    if corrupt_mod is None:
        return """
SELECT doc_id,
       CAST((doc_id % 48) * 16 + 64 AS BIGINT) AS width,
       CAST((doc_id % 27) * 16 + 64 AS BIGINT) AS height,
       CAST(15 + 16 * (doc_id % 4 + 1) AS BIGINT) AS n_bytes
FROM documents"""
    return f"""
SELECT doc_id,
       CASE WHEN doc_id % {corrupt_mod} = 0 THEN NULL
            ELSE CAST((doc_id % 48) * 16 + 64 AS BIGINT) END AS width,
       CASE WHEN doc_id % {corrupt_mod} = 0 THEN NULL
            ELSE CAST((doc_id % 27) * 16 + 64 AS BIGINT) END AS height,
       CASE WHEN doc_id % {corrupt_mod} = 0
            THEN CAST(7 + 16 * (doc_id % 4 + 1) AS BIGINT)
            ELSE CAST(15 + 16 * (doc_id % 4 + 1) AS BIGINT)
       END AS n_bytes
FROM documents"""


def media_features_sql(dim: int = 16) -> str:
    return f"""
SELECT doc_id,
       CAST(j AS BIGINT) AS feat_idx,
       CAST(CAST(('0x' || substr(md5('media:' || CAST(doc_id AS VARCHAR)),
                                 2 * j + 1, 2)) AS INT) AS DOUBLE)
           / CAST(255 AS DOUBLE) AS feat_val
FROM documents, (SELECT unnest(range({dim})) AS j)"""


def media_frames_sql(frame_size: int = 16, every_n: int = 2) -> str:
    # fake payload = md5("media:"+id) (16 bytes) repeated (id % 4 + 1)
    # times, so every digest-aligned 16-byte frame IS the digest; sampled
    # frame indices are 0, every_n, ... < (id % 4 + 1). Matching the
    # (hex-encoded) frame bytes proves the fan-out mapInPandas round trip.
    assert frame_size == 16, "oracle formula assumes digest-aligned frames"
    return f"""
SELECT doc_id,
       CAST(j AS BIGINT) AS frame_idx,
       upper(md5('media:' || CAST(doc_id AS VARCHAR))) AS frame_hex
FROM documents, (SELECT unnest(range(4)) AS j)
WHERE j < (doc_id % 4 + 1) AND j % {every_n} = 0"""


def synthetic_corpus_stats_sql() -> str:
    # Golden pinned relation: the synthetic DataSource derives every row
    # purely from (seed, doc_id) — partition-count- and sf-independent —
    # so the per-topic aggregate for (seed=6190, n_docs=500) is a
    # constant. Values derived by running the same pure-Python row
    # function outside Spark; determinism across partitionings is pinned
    # by tests/test_sources.py.
    return """
SELECT * FROM (VALUES
  ('topic0', CAST(55 AS BIGINT), CAST(16445 AS BIGINT)),
  ('topic1', CAST(54 AS BIGINT), CAST(16146 AS BIGINT)),
  ('topic2', CAST(69 AS BIGINT), CAST(20631 AS BIGINT)),
  ('topic3', CAST(54 AS BIGINT), CAST(16146 AS BIGINT)),
  ('topic4', CAST(68 AS BIGINT), CAST(20332 AS BIGINT)),
  ('topic5', CAST(67 AS BIGINT), CAST(20033 AS BIGINT)),
  ('topic6', CAST(58 AS BIGINT), CAST(17342 AS BIGINT)),
  ('topic7', CAST(75 AS BIGINT), CAST(22425 AS BIGINT))
) AS t(source, n_docs, total_chars)"""


# ---------------------------------------------------------------------------
# Streaming (batch-equivalent oracles)
# ---------------------------------------------------------------------------


def stream_windowed_hourly_sql() -> str:
    return """
SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS window_start_s,
       event_type,
       count(*) AS n_events,
       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
FROM events
GROUP BY 1, 2"""


def stream_user_counts_sql() -> str:
    return """
SELECT user_id, count(*) AS n_events_total
FROM events GROUP BY user_id"""


def stream_user_type_counts_sql() -> str:
    return """
SELECT user_id, event_type, count(*) AS n_events
FROM events GROUP BY user_id, event_type"""


# ---------------------------------------------------------------------------
# As-of join / pivot / grouping sets / unpivot
# ---------------------------------------------------------------------------


def asof_join_events_sql(left_type: str = "click", right_type: str = "view") -> str:
    # DuckDB has a native ASOF JOIN; the engine's union+window formulation
    # must produce exactly the same matches (µs-epoch comparison on both
    # sides so ns truncation is identical).
    return f"""
WITH ev AS (
    SELECT event_id, user_id, epoch_us(ts) AS ts_us, value, event_type
    FROM events
),
l AS (SELECT * FROM ev WHERE event_type = '{left_type}'),
r AS (SELECT * FROM ev WHERE event_type = '{right_type}')
SELECT l.event_id, l.user_id, l.ts_us,
       r.event_id AS prior_event_id, r.value AS prior_value
FROM l ASOF LEFT JOIN r
  ON l.user_id = r.user_id AND l.ts_us >= r.ts_us"""


def orders_priority_pivot_sql() -> str:
    cols = []
    for s in ["O", "F", "P"]:
        cols.append(f"count(*) FILTER (o_orderstatus = '{s}') AS n_{s}")
        cols.append(
            f"CAST(coalesce(sum(CAST(o_totalprice AS {_DD})) "
            f"FILTER (o_orderstatus = '{s}'), 0) AS DOUBLE) AS total_{s}"
        )
    return (
        "SELECT o_orderpriority, "
        + ", ".join(cols)
        + " FROM orders GROUP BY o_orderpriority"
    )


def orders_grouping_sets_sql() -> str:
    return f"""
SELECT o_orderstatus, o_orderpriority,
       count(*) AS n_orders,
       CAST(sum(CAST(o_totalprice AS {_DD})) AS DOUBLE) AS total_price
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())"""


def lineitem_unpivot_sql() -> str:
    return """
SELECT l_orderkey, l_linenumber, 'l_quantity' AS measure, l_quantity AS value FROM lineitem
UNION ALL
SELECT l_orderkey, l_linenumber, 'l_extendedprice', l_extendedprice FROM lineitem
UNION ALL
SELECT l_orderkey, l_linenumber, 'l_discount', l_discount FROM lineitem"""


# ---------------------------------------------------------------------------
# Dup-graph connected components (recursive-CTE oracle)
# ---------------------------------------------------------------------------


def dedup_clusters_sql(
    threshold: float = 0.7,
    k: int = DEFAULT_NUM_HASHES,
    bands: int = 8,
    seed: int = DEFAULT_SEED,
) -> str:
    r = k // bands
    return f"""WITH RECURSIVE {_minhash_cte(k, seed)},
buckets AS (
    SELECT doc_id, h_idx // {r} AS band,
           string_agg(CAST(min_hash AS VARCHAR), ',' ORDER BY h_idx) AS bucket
    FROM mh GROUP BY doc_id, h_idx // {r}
),
cand AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM buckets a JOIN buckets b
      ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
),
{scored_ctes("tok")},
dup AS (
    SELECT c.doc_a, c.doc_b
    FROM cand c JOIN scored s ON c.doc_a = s.doc_a AND c.doc_b = s.doc_b
    WHERE s.similarity >= {threshold}
),
edges AS (
    SELECT doc_a AS src, doc_b AS dst FROM dup
    UNION
    SELECT doc_b AS src, doc_a AS dst FROM dup
),
reach AS (
    SELECT doc_id, doc_id AS r FROM documents
    UNION
    SELECT e.dst AS doc_id, reach.r
    FROM reach JOIN edges e ON e.src = reach.doc_id
)
SELECT doc_id, min(r) AS cluster_id FROM reach GROUP BY doc_id"""


_CLUSTER_FINAL = "SELECT doc_id, min(r) AS cluster_id FROM reach GROUP BY doc_id"


def clustered_split_sql(
    threshold: float = 0.7,
    val_bp: int = 1000,
    salt: str = "split-v1",
    k: int = DEFAULT_NUM_HASHES,
    bands: int = 8,
    seed: int = DEFAULT_SEED,
) -> str:
    """Mirror of dedup.clustered_split: the recursive-CTE cluster
    labels with the split hash computed on the CLUSTER id."""
    h = hash64(f"'{salt}:' || CAST(cluster_id AS VARCHAR)")
    return dedup_clusters_sql(threshold, k, bands, seed).replace(
        _CLUSTER_FINAL,
        f""", labels AS (
    {_CLUSTER_FINAL}
)
SELECT doc_id, cluster_id,
       CASE WHEN {h} % 10000 < {val_bp} THEN 'val' ELSE 'train' END AS split
FROM labels""",
    )


def clustered_split_leakage_sql(
    threshold: float = 0.7,
    val_bp: int = 1000,
    salt: str = "split-v1",
    k: int = DEFAULT_NUM_HASHES,
    bands: int = 8,
    seed: int = DEFAULT_SEED,
) -> str:
    """Mirror of dedup.clustered_split_leakage: the ``dup`` pair
    relation from the same CTE chain, counted per split cell of the
    cluster-aware split — the train|val cell cannot exist."""
    h = hash64(f"'{salt}:' || CAST(cluster_id AS VARCHAR)")
    return dedup_clusters_sql(threshold, k, bands, seed).replace(
        _CLUSTER_FINAL,
        f""", labels AS (
    {_CLUSTER_FINAL}
),
spl AS (
    SELECT doc_id,
           CASE WHEN {h} % 10000 < {val_bp}
                THEN 'val' ELSE 'train' END AS split
    FROM labels
)
SELECT least(sa.split, sb.split) AS split_a,
       greatest(sa.split, sb.split) AS split_b,
       count(*) AS n_pairs
FROM dup p
JOIN spl sa ON p.doc_a = sa.doc_id
JOIN spl sb ON p.doc_b = sb.doc_id
GROUP BY 1, 2""",
    )


def dedup_cluster_sizes_sql(
    threshold: float = 0.7,
    k: int = DEFAULT_NUM_HASHES,
    bands: int = 8,
    seed: int = DEFAULT_SEED,
) -> str:
    # histogram over the same recursive-CTE clustering
    return f"""{dedup_clusters_sql(threshold, k, bands, seed).rstrip()}
""".replace(
        "SELECT doc_id, min(r) AS cluster_id FROM reach GROUP BY doc_id",
        """, labels AS (
    SELECT doc_id, min(r) AS cluster_id FROM reach GROUP BY doc_id
),
csizes AS (
    SELECT cluster_id, count(*) AS cluster_size FROM labels GROUP BY 1
)
SELECT cluster_size,
       count(*) AS n_clusters,
       cluster_size * count(*) AS n_docs
FROM csizes GROUP BY cluster_size""",
    )


# ---------------------------------------------------------------------------
# Round-2 relational additions: rollup / set ops / quantiles / rolling /
# range-band join
# ---------------------------------------------------------------------------


def orders_rollup_sql() -> str:
    return f"""
SELECT COALESCE(CAST(year(o_orderdate) AS VARCHAR), 'ALL') AS order_year,
       COALESCE(o_orderstatus, 'ALL') AS o_orderstatus,
       count(*) AS n_orders,
       CAST(sum(CAST(o_totalprice AS {_DD})) AS DOUBLE) AS total_price
FROM orders
GROUP BY ROLLUP (year(o_orderdate), o_orderstatus)"""


def customer_year_setops_sql(year_a: int = 1994, year_b: int = 1995) -> str:
    def buyers(y: int) -> str:
        return (
            "SELECT DISTINCT o_custkey FROM orders "
            f"WHERE year(o_orderdate) = {y}"
        )

    return f"""
SELECT 'both' AS tag, o_custkey FROM (({buyers(year_a)}) INTERSECT ({buyers(year_b)}))
UNION ALL
SELECT 'only_{year_a}', o_custkey FROM (({buyers(year_a)}) EXCEPT ({buyers(year_b)}))
UNION ALL
SELECT 'only_{year_b}', o_custkey FROM (({buyers(year_b)}) EXCEPT ({buyers(year_a)}))"""


def lineitem_quantiles_sql() -> str:
    # ANSI PERCENTILE_DISC: smallest value whose cume_dist >= p, spelled
    # with an explicit cume_dist window so the definition (not an
    # engine-specific quantile variant) is what's compared.
    cols = ", ".join(
        f"min(CASE WHEN cd >= {p} THEN l_extendedprice END) AS p{n}"
        for p, n in [(0.25, 25), (0.50, 50), (0.75, 75), (0.95, 95)]
    )
    return f"""
WITH cdist AS (
    SELECT l_returnflag, l_extendedprice,
           cume_dist() OVER (PARTITION BY l_returnflag
                             ORDER BY l_extendedprice) AS cd
    FROM lineitem
)
SELECT l_returnflag, {cols}, count(*) AS n_rows
FROM cdist GROUP BY l_returnflag"""


def orders_rolling_stats_sql() -> str:
    return f"""
WITH w AS (
    SELECT o_custkey, o_orderkey,
           CAST(o_totalprice AS {_DD}) AS price_d,
           sum(CAST(o_totalprice AS {_DD})) OVER w3 AS sum3,
           count(*) OVER w3 AS cnt3,
           lag(CAST(o_totalprice AS {_DD})) OVER wo AS prev_d,
           lead(CAST(o_totalprice AS {_DD})) OVER wo AS next_d,
           ntile(4) OVER wo AS q
    FROM orders
    WINDOW wo AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
           w3 AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                  ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
)
SELECT o_custkey, o_orderkey,
       CAST(price_d AS DOUBLE) AS total_price,
       CAST(sum3 AS DOUBLE) / cnt3 AS moving_avg_3,
       CAST(prev_d AS DOUBLE) AS prev_price,
       CAST(next_d AS DOUBLE) AS next_price,
       CAST(q AS BIGINT) AS history_quartile
FROM w"""


def part_price_band_join_sql(bands: list[tuple[str, float, float]]) -> str:
    rows = ", ".join(f"('{b}', {lo!r}, {hi!r})" for b, lo, hi in bands)
    return f"""
WITH bands(band, lo, hi) AS (VALUES {rows})
SELECT band,
       count(*) AS n_parts,
       CAST(sum(CAST(p_retailprice AS {_DD})) AS DOUBLE) AS sum_price,
       min(p_retailprice) AS min_price,
       max(p_retailprice) AS max_price
FROM part JOIN bands
  ON p_retailprice >= lo AND p_retailprice < hi
GROUP BY band"""


def top_suppliers_sql(k: int = 10) -> str:
    return f"""
SELECT s_suppkey, s_name, n_name,
       CAST(sum(CAST(l_extendedprice AS {_DD}) * ({_ONE_D} - CAST(l_discount AS {_DD}))) AS DOUBLE) AS revenue,
       count(*) AS n_lineitems
FROM lineitem
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
GROUP BY s_suppkey, s_name, n_name
ORDER BY revenue DESC, s_suppkey
LIMIT {k}"""


def stream_dedup_events_sql() -> str:
    # the streaming query doubles the input (self-union) then dedups by
    # event_id — must converge to the plain per-type counts
    return """
SELECT event_type, count(*) AS n_events
FROM (SELECT DISTINCT ON (event_id) * FROM events)
GROUP BY event_type"""


def quality_filter_sql(min_quality: float = 0.5, min_tokens: int = 10) -> str:
    return f"""
SELECT *, (quality_score >= {min_quality} AND n_tokens >= {min_tokens}) AS keep
FROM ({text_stats_sql()})"""


def doc_split_sql(val_pct: int = 10, test_pct: int = 10, salt: str = "split-v1") -> str:
    h = hash64(f"'{salt}:' || CAST(doc_id AS VARCHAR)")
    return f"""
WITH b AS (SELECT doc_id, {h} % 100 AS bucket FROM documents)
SELECT doc_id, bucket,
       CASE WHEN bucket < {test_pct} THEN 'test'
            WHEN bucket < {test_pct + val_pct} THEN 'val'
            ELSE 'train' END AS split
FROM b"""


def shard_assign_sql(n_shards: int = 64, salt: str = "shard-v1") -> str:
    h = hash64(f"'{salt}:' || CAST(doc_id AS VARCHAR)")
    return f"""
SELECT doc_id, {h} % {n_shards} AS shard, {h} AS order_key
FROM documents"""


def customer_trailing_spend_sql(days: int = 30) -> str:
    return f"""
WITH d AS (
    SELECT o_custkey, o_orderkey,
           datediff('day', DATE '1970-01-01', o_orderdate) AS order_day,
           CAST(o_totalprice AS {_DD}) AS price_d
    FROM orders
)
SELECT o_custkey, o_orderkey, CAST(order_day AS BIGINT) AS order_day,
       CAST(sum(price_d) OVER w AS DOUBLE) AS trailing_spend,
       count(*) OVER w AS n_orders_in_window
FROM d
WINDOW w AS (PARTITION BY o_custkey ORDER BY order_day
             RANGE BETWEEN {days - 1} PRECEDING AND CURRENT ROW)"""


def orders_above_customer_avg_sql() -> str:
    return f"""
SELECT o_orderkey, o_custkey,
       CAST(CAST(o_totalprice AS {_DD}) AS DOUBLE) AS total_price
FROM orders o
WHERE CAST(o_totalprice AS {_DD})
      * (SELECT count(*) FROM orders i WHERE i.o_custkey = o.o_custkey)
      > (SELECT sum(CAST(o_totalprice AS {_DD}))
         FROM orders i WHERE i.o_custkey = o.o_custkey)"""


# ---------------------------------------------------------------------------
# Relational coverage, batch 3 (Q6/Q2/Q4 shapes + interval join)
# ---------------------------------------------------------------------------


def q6_revenue_sql(
    ship_from: str = "1994-01-01",
    ship_to: str = "1995-01-01",
    disc_lo: float = 0.05,
    disc_hi: float = 0.07,
    max_qty: float = 24.0,
) -> str:
    return f"""
SELECT CAST(sum(CAST(l_extendedprice AS {_DD}) * CAST(l_discount AS {_DD}))
            AS DOUBLE) AS revenue,
       count(*) AS n_items
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '{ship_from}'
  AND l_shipdate < TIMESTAMP '{ship_to}'
  AND l_discount >= {disc_lo} AND l_discount <= {disc_hi}
  AND l_quantity < {max_qty}"""


def min_cost_supplier_sql() -> str:
    return """
WITH per_ps AS (
    SELECT l_partkey, l_suppkey,
           min(l_extendedprice / l_quantity) AS unit_cost
    FROM lineitem WHERE l_quantity > 0
    GROUP BY l_partkey, l_suppkey
),
best AS (
    SELECT *, row_number() OVER (PARTITION BY l_partkey
                                 ORDER BY unit_cost, l_suppkey) AS rn
    FROM per_ps
)
SELECT p_partkey, p_name, p_brand, s_suppkey, s_name, unit_cost
FROM best
JOIN part ON l_partkey = p_partkey
JOIN supplier ON l_suppkey = s_suppkey
WHERE rn = 1"""


def orders_returned_by_priority_sql() -> str:
    return """
SELECT o_orderpriority, count(*) AS n_orders
FROM orders o
WHERE EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o.o_orderkey AND l_returnflag = 'R')
GROUP BY o_orderpriority"""


def interval_join_events_sql(
    left_type: str = "view", right_type: str = "click", window_seconds: int = 600
) -> str:
    win_us = window_seconds * 1_000_000
    return f"""
WITH v AS (SELECT event_id AS view_id, user_id, epoch_us(ts) AS view_us
           FROM events WHERE event_type = '{left_type}'),
     c AS (SELECT event_id AS click_id, user_id, epoch_us(ts) AS click_us
           FROM events WHERE event_type = '{right_type}')
SELECT view_id, click_id, v.user_id AS user_id,
       click_us - view_us AS delay_us
FROM v JOIN c ON v.user_id = c.user_id
              AND click_us >= view_us AND click_us < view_us + {win_us}"""


# ---------------------------------------------------------------------------
# Text analysis, batch 2 (vocabulary / TF-IDF / stratified sample)
# ---------------------------------------------------------------------------

# token stream WITH duplicates (functions.text.tokenize, no dedup)
TOKS_DUP_CTE = f"""
tokd AS (
    SELECT doc_id, unnest({TOKS_EXPR}) AS token
    FROM documents
)
"""


def vocabulary_sql() -> str:
    return f"""WITH {TOKS_DUP_CTE.strip()}
SELECT token, count(*) AS tf, count(DISTINCT doc_id) AS df,
       row_number() OVER (ORDER BY count(DISTINCT doc_id) DESC, token) AS rank
FROM tokd
GROUP BY token"""


def tfidf_top_terms_sql(k: int = 5) -> str:
    return f"""WITH {TOKS_DUP_CTE.strip()},
tf AS (SELECT doc_id, token, count(*) AS tf FROM tokd GROUP BY doc_id, token),
dfr AS (SELECT token, count(DISTINCT doc_id) AS df FROM tokd GROUP BY token),
n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents),
scored AS (
    SELECT doc_id, tf.token AS token, tf, df,
           tf * ln(CAST(n_docs AS DOUBLE) / CAST(df AS DOUBLE)) AS tfidf
    FROM tf JOIN dfr ON tf.token = dfr.token CROSS JOIN n
),
ranked AS (
    SELECT *, row_number() OVER (PARTITION BY doc_id
                                 ORDER BY tfidf DESC, token) AS rank
    FROM scored
)
SELECT doc_id, token, tf, df, tfidf, rank FROM ranked WHERE rank <= {k}"""


def bm25_topk_sql(
    k: int = 10,
    query_mod: int = 100,
    max_df_pct: int = 50,
    ftok_ctes: str | None = None,
    n_docs_factor: int = 1,
    docs_rel: str = "documents",
) -> str:
    """Oracle for operators/retrieval.py::bm25_topk — the integer BM25
    mirrored term-for-term: tf over the NON-deduplicated tokenize, dl =
    Σ tf per doc, A = total_tokens // n_docs, saturation
    ``(22000·A·tf) // (10·A·tf + 3·A + 9·dl)``, idf weight
    ``n_docs // df`` over the df-pruned vocabulary, integer sum
    (order-free), rank tie-broken on neighbor_id.

    ``ftok_ctes`` / ``n_docs_factor`` swap the base tokenize for a
    replicated one (the ``bm25_scale_probe`` oracle — the
    ``_lex_ranked_sql`` convention); ``docs_rel`` names the corpus
    relation the document count reads (the delete oracle's survivors
    CTE)."""
    ftok = ftok_ctes or f"""ftok AS (
    SELECT doc_id, unnest({TOKS_EXPR}) AS token FROM documents
)"""
    return f"""WITH {ftok.strip()},
tf AS (
    SELECT doc_id, token, count(*) AS tf FROM ftok GROUP BY 1, 2
),
dl AS (SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY 1),
nd AS (SELECT count(DISTINCT doc_id) * {n_docs_factor} AS n_docs
       FROM {docs_rel}),
cst AS (
    SELECT (SELECT sum(tf) FROM tf) // (SELECT n_docs FROM nd) AS a
),
w AS (
    SELECT token, n_docs // df AS w
    FROM (SELECT token, count(*) AS df FROM tf GROUP BY token)
    CROSS JOIN nd
    WHERE df * 100 <= {max_df_pct} * n_docs
),
qt AS (
    SELECT DISTINCT doc_id, token FROM ftok
    WHERE doc_id % {query_mod} = 0
),
scored AS (
    SELECT q.doc_id AS query_id, t.doc_id AS neighbor_id,
           CAST(sum(w.w * ((22000 * c.a * t.tf)
                // (10 * c.a * t.tf + 3 * c.a + 9 * d.dl)))
                AS BIGINT) AS score
    FROM qt q
    JOIN w ON q.token = w.token
    JOIN tf t ON q.token = t.token AND q.doc_id <> t.doc_id
    JOIN dl d ON t.doc_id = d.doc_id
    CROSS JOIN cst c
    GROUP BY 1, 2
)
SELECT query_id, neighbor_id, score, CAST(rank AS BIGINT) AS rank
FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
                                 ORDER BY score DESC, neighbor_id)
                  AS rank
    FROM scored
) WHERE rank <= {k}"""


def _planted_bench_ctes(
    n: int, quote_mod: int, start: int, length: int, id_offset: int
) -> str:
    """``b`` (bench_id, shingle) + ``sizes`` CTEs over the PLANTED
    benchmark batch — mirror of operators/dedup.py::planted_benchmarks
    feeding shingles(): each ``doc_id % quote_mod == 0`` document's
    tokens ``start..start+length-1`` (1-based) become one benchmark
    item under ``doc_id + id_offset`` (outside the corpus id space, so
    the source doc is flagged, not self-excluded); docs shorter than
    the slice are dropped."""
    bparts = ", ".join(f"btoks[i + {j}]" for j in range(n))
    return f"""bench AS (
    SELECT doc_id + {id_offset} AS bench_id,
           toks[{start}:{start + length - 1}] AS btoks
    FROM (SELECT doc_id, {TOKS_EXPR} AS toks FROM documents)
    WHERE doc_id % {quote_mod} = 0 AND len(toks) >= {start + length - 1}
),
b AS (
    SELECT bench_id, unnest(list_distinct(
        CASE WHEN len(btoks) >= {n}
             THEN list_transform(range(1, len(btoks) - {n - 2}),
                                 i -> concat_ws(' ', {bparts}))
             ELSE []::VARCHAR[] END)) AS token
    FROM bench
),
sizes AS (SELECT bench_id, count(*) AS n_bench_ngrams FROM b GROUP BY 1)"""


def ngram_contamination_sql(
    n: int = 8,
    quote_mod: int = 50,
    start: int = 3,
    length: int = 12,
    id_offset: int = 10_000_000,
) -> str:
    """Oracle for operators/dedup.py::ngram_contamination over the
    PLANTED-quote benchmark batch (round 12 — the round-11 grade ran
    n=3 where trigram collisions are ubiquitous; at n=8 only verbatim
    quotes match, the regime published decontamination pipelines run
    in): the planted items' distinct n-grams matched against the
    corpus shingle relation; exact integer counts both sides of the
    containment ratio."""
    return f"""WITH {_shingle_cte(n).strip().rstrip()},
{_planted_bench_ctes(n, quote_mod, start, length, id_offset)},
hits AS (
    SELECT b.bench_id, c.doc_id, CAST(count(*) AS BIGINT) AS n_shared
    FROM sh_tok c JOIN b ON c.token = b.token AND b.bench_id <> c.doc_id
    GROUP BY 1, 2
)
SELECT h.bench_id, h.doc_id, h.n_shared,
       CAST(s.n_bench_ngrams AS BIGINT) AS n_bench_ngrams
FROM hits h JOIN sizes s USING (bench_id)"""


def contamination_scrub_sql(
    n: int = 8,
    quote_mod: int = 50,
    start: int = 3,
    length: int = 12,
    id_offset: int = 10_000_000,
    min_shared: int = 1,
) -> str:
    """Oracle for operators/dedup.py::contamination_scrub over the
    planted-quote batch — documents minus the ids flagged by the
    contamination audit (anti-join mirrored as NOT IN)."""
    return f"""WITH {_shingle_cte(n).strip().rstrip()},
{_planted_bench_ctes(n, quote_mod, start, length, id_offset)},
flagged AS (
    SELECT c.doc_id
    FROM sh_tok c JOIN b ON c.token = b.token AND b.bench_id <> c.doc_id
    GROUP BY c.doc_id, b.bench_id
    HAVING count(*) >= {min_shared}
)
SELECT doc_id, text, lang, source, n_chars FROM documents
WHERE doc_id NOT IN (SELECT DISTINCT doc_id FROM flagged)"""


def phrase_search_sql(
    n_terms: int = 2,
    k: int = 10,
    query_mod: int = 100,
    base_ctes: str | None = None,
    guard_pct: int | None = None,
) -> str:
    """Oracle for operators/retrieval.py::phrase_search over the
    leading-``n_terms`` phrase batch — positional postings (parallel
    unnests zip token with its 0-based ordinal), candidate starts
    ``pos − offset``, a start with all offsets matched = one verbatim
    occurrence, score = occurrence count, self-match excluded, rank
    tie-broken on neighbor_id.

    ``base_ctes`` swaps the ``base`` corpus CTE (e.g. a replicated one
    for the store-served scale probe); ``guard_pct`` arms the round-12
    stop-phrase guard's mirror — phrases whose RAREST term's
    set-semantics df exceeds ``pct% · n_docs`` are dropped before the
    vote join, exactly :func:`~jaccard_mapreduce_spark.operators.
    retrieval.prune_hot_phrases` with ``on_hot="drop"``."""
    base = base_ctes or f"""base AS (
    SELECT doc_id, {TOKS_EXPR} AS toks FROM documents
)"""
    guard = ""
    pterms_final = "pterms"
    if guard_pct is not None:
        pterms_final = "gterms"
        guard = f""",
gdf AS (
    SELECT token, count(*) AS df
    FROM (SELECT doc_id, unnest(list_distinct(toks)) AS token FROM base)
    GROUP BY token
),
gn AS (SELECT count(DISTINCT doc_id) AS n_docs FROM base),
ghot AS (
    SELECT phrase_id FROM (
        SELECT t.phrase_id, min(coalesce(gdf.df, 0)) AS min_df
        FROM pterms t LEFT JOIN gdf ON t.term = gdf.token
        GROUP BY 1
    ) WHERE min_df * 100 > {guard_pct} * (SELECT n_docs FROM gn)
),
gterms AS (
    SELECT * FROM pterms
    WHERE phrase_id NOT IN (SELECT phrase_id FROM ghot)
)"""
    return f"""WITH {base.strip()},
ptok AS (
    SELECT doc_id, unnest(toks) AS token,
           unnest(range(len(toks))) AS pos
    FROM base
),
pterms AS (
    SELECT b.doc_id AS phrase_id, o.o AS off, b.toks[o.o + 1] AS term
    FROM base b, (SELECT unnest(range({n_terms})) AS o) o
    WHERE b.doc_id % {query_mod} = 0 AND len(b.toks) >= {n_terms}
){guard},
occ AS (
    SELECT t.phrase_id, p.doc_id, p.pos - t.off AS start
    FROM ptok p JOIN {pterms_final} t ON p.token = t.term
    WHERE p.pos - t.off >= 0
    GROUP BY 1, 2, 3
    HAVING count(*) = {n_terms}
),
scored AS (
    SELECT phrase_id AS query_id, doc_id AS neighbor_id,
           CAST(count(*) AS BIGINT) AS score
    FROM occ WHERE phrase_id <> doc_id
    GROUP BY 1, 2
)
SELECT query_id, neighbor_id, score, CAST(rank AS BIGINT) AS rank
FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
                                 ORDER BY score DESC, neighbor_id)
                  AS rank
    FROM scored
) WHERE rank <= {k}"""


def proximity_search_sql(
    n_terms: int = 2,
    slop: int = 2,
    k: int = 10,
    query_mod: int = 100,
) -> str:
    """Oracle for operators/retrieval.py::proximity_search — the
    ordered-window chain mirrored as ``n_terms − 1`` range joins
    (position strictly after the previous term's, at most
    ``p0 + (n−1) + slop``), anchor-distinct count, self-match
    excluded, rank tie-broken on neighbor_id."""
    window = n_terms - 1 + slop
    chain = """c0 AS (
    SELECT t.phrase_id, p.doc_id, p.pos AS p0, p.pos AS last
    FROM ptok p JOIN pterms t ON t.off = 0 AND p.token = t.term
)"""
    for i in range(1, n_terms):
        chain += f""",
c{i} AS (
    SELECT c.phrase_id, c.doc_id, c.p0, p.pos AS last
    FROM c{i - 1} c
    JOIN pterms t ON t.phrase_id = c.phrase_id AND t.off = {i}
    JOIN ptok p ON p.doc_id = c.doc_id AND p.token = t.term
    WHERE p.pos > c.last AND p.pos <= c.p0 + {window}
)"""
    return f"""WITH base AS (
    SELECT doc_id, {TOKS_EXPR} AS toks FROM documents
),
ptok AS (
    SELECT doc_id, unnest(toks) AS token,
           unnest(range(len(toks))) AS pos
    FROM base
),
pterms AS (
    SELECT b.doc_id AS phrase_id, o.o AS off, b.toks[o.o + 1] AS term
    FROM base b, (SELECT unnest(range({n_terms})) AS o) o
    WHERE b.doc_id % {query_mod} = 0 AND len(b.toks) >= {n_terms}
),
{chain},
anchors AS (
    SELECT DISTINCT phrase_id, doc_id, p0 FROM c{n_terms - 1}
    WHERE phrase_id <> doc_id
),
scored AS (
    SELECT phrase_id AS query_id, doc_id AS neighbor_id,
           CAST(count(*) AS BIGINT) AS score
    FROM anchors GROUP BY 1, 2
)
SELECT query_id, neighbor_id, score, CAST(rank AS BIGINT) AS rank
FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
                                 ORDER BY score DESC, neighbor_id)
                  AS rank
    FROM scored
) WHERE rank <= {k}"""


def contamination_summary_sql(
    n: int = 8,
    quote_mod: int = 50,
    start: int = 3,
    length: int = 12,
    id_offset: int = 10_000_000,
    decoy_phase: int = 25,
    decoy_offset: int = 20_000_000,
    min_shared: int = 1,
) -> str:
    """Oracle for operators/dedup.py::contamination_summary over the
    planted-quote batch UNION the reversed-slice decoys — one row per
    benchmark item with zero-hit items included (the decoys grade the
    clean branch; reversed mid-document runs share no 8-gram with the
    corpus)."""
    bparts = ", ".join(f"btoks[i + {j}]" for j in range(n))
    return f"""WITH {_shingle_cte(n).strip().rstrip()},
bench AS (
    SELECT doc_id + {id_offset} AS bench_id,
           toks[{start}:{start + length - 1}] AS btoks
    FROM (SELECT doc_id, {TOKS_EXPR} AS toks FROM documents)
    WHERE doc_id % {quote_mod} = 0 AND len(toks) >= {start + length - 1}
    UNION ALL
    SELECT doc_id + {decoy_offset} AS bench_id,
           list_reverse(toks[{start}:{start + length - 1}]) AS btoks
    FROM (SELECT doc_id, {TOKS_EXPR} AS toks FROM documents)
    WHERE doc_id % {quote_mod} = {decoy_phase}
      AND len(toks) >= {start + length - 1}
),
b AS (
    SELECT bench_id, unnest(list_distinct(
        CASE WHEN len(btoks) >= {n}
             THEN list_transform(range(1, len(btoks) - {n - 2}),
                                 i -> concat_ws(' ', {bparts}))
             ELSE []::VARCHAR[] END)) AS token
    FROM bench
),
sizes AS (SELECT bench_id, count(*) AS n_bench_ngrams FROM b GROUP BY 1),
hits AS (
    SELECT b.bench_id, c.doc_id, count(*) AS n_shared
    FROM sh_tok c JOIN b ON c.token = b.token AND b.bench_id <> c.doc_id
    GROUP BY 1, 2
),
flagged AS (
    SELECT bench_id, count(*) AS n_flagged_docs,
           max(n_shared) AS max_shared
    FROM hits WHERE n_shared >= {min_shared}
    GROUP BY 1
)
SELECT be.bench_id,
       CAST(coalesce(s.n_bench_ngrams, 0) AS BIGINT) AS n_bench_ngrams,
       CAST(coalesce(f.n_flagged_docs, 0) AS BIGINT) AS n_flagged_docs,
       CAST(coalesce(f.max_shared, 0) AS BIGINT) AS max_shared
FROM (SELECT DISTINCT bench_id FROM bench) be
LEFT JOIN sizes s USING (bench_id)
LEFT JOIN flagged f USING (bench_id)"""


def replicated_base_ctes(factor: int, id_offset: int = 1_000_000) -> str:
    """``base`` CTE (doc_id + token ARRAY — the phrase chain's root)
    over the :func:`~jaccard_mapreduce_spark.operators.retrieval.
    replicate_documents` corpus: replica ``r`` keeps its token array
    verbatim under ``doc_id + r · id_offset``, so positions are
    per-replica-doc facts exactly as the operator produces them."""
    return f"""base0 AS (
    SELECT doc_id, {TOKS_EXPR} AS toks FROM documents
),
base AS (
    SELECT t.doc_id + r.r * {id_offset} AS doc_id, t.toks
    FROM base0 t CROSS JOIN (SELECT unnest(range({factor})) AS r) r
)"""


def phrase_occurrences_sql(n_terms: int = 2, query_mod: int = 100) -> str:
    """Oracle for operators/retrieval.py::phrase_occurrences — the
    span-level relation (every verbatim start position), the shared
    positional-postings chain minus the ranking."""
    return f"""WITH base AS (
    SELECT doc_id, {TOKS_EXPR} AS toks FROM documents
),
ptok AS (
    SELECT doc_id, unnest(toks) AS token,
           unnest(range(len(toks))) AS pos
    FROM base
),
pterms AS (
    SELECT b.doc_id AS phrase_id, o.o AS off, b.toks[o.o + 1] AS term
    FROM base b, (SELECT unnest(range({n_terms})) AS o) o
    WHERE b.doc_id % {query_mod} = 0 AND len(b.toks) >= {n_terms}
)
SELECT t.phrase_id AS query_id, p.doc_id AS neighbor_id,
       CAST(p.pos - t.off AS BIGINT) AS start
FROM ptok p JOIN pterms t ON p.token = t.term
WHERE p.pos - t.off >= 0 AND t.phrase_id <> p.doc_id
GROUP BY 1, 2, 3
HAVING count(*) = {n_terms}"""


def replicated_ftok_ctes(factor: int, id_offset: int = 1_000_000) -> str:
    """``ftok`` CTE (NON-deduplicated tokenize — the BM25 chain's
    base relation) over the replicated corpus: replica ``r`` of a doc
    keeps its token MULTISET verbatim under ``doc_id + r·id_offset``,
    so tf and dl are per-replica-doc facts exactly as
    :func:`~jaccard_mapreduce_spark.operators.retrieval.
    replicate_documents` produces them."""
    return f"""
ftok0 AS (
    SELECT doc_id, unnest({TOKS_EXPR}) AS token FROM documents
),
ftok AS (
    SELECT t.doc_id + r.r * {id_offset} AS doc_id, t.token
    FROM ftok0 t CROSS JOIN (SELECT unnest(range({factor})) AS r) r
)"""


def bm25_scale_probe_sql(
    factor: int = 10,
    id_offset: int = 1_000_000,
    k: int = 10,
    query_mod: int = 100,
    max_df_pct: int = 78,
) -> str:
    """Oracle for operators/retrieval.py::bm25_scale_probe — the
    one-plan integer BM25 over the ``factor``-replicated corpus. tf/dl
    replicate verbatim, df and n_docs scale together (weights
    invariant), and A = (Σtf·f) // (N·f) = Σtf // N (same real
    quotient, same floor) — the whole replicated ranking stays exactly
    hash-derivable. Built from the SHARED BM25 chain with the
    replicated non-dedup tokenize swapped in."""
    return bm25_topk_sql(
        k,
        query_mod,
        max_df_pct,
        ftok_ctes=replicated_ftok_ctes(factor, id_offset),
        n_docs_factor=factor,
    )


def replicated_tok_ctes(factor: int, id_offset: int = 1_000_000) -> str:
    """``tok`` CTE over the :func:`~jaccard_mapreduce_spark.operators.
    retrieval.replicate_documents` corpus — replica ``r`` of a doc
    keeps its token set verbatim under ``doc_id + r · id_offset``."""
    return f"""
tok0 AS (
    SELECT doc_id, unnest(list_distinct({TOKS_EXPR})) AS token
    FROM documents
),
tok AS (
    SELECT t.doc_id + r.r * {id_offset} AS doc_id, t.token
    FROM tok0 t CROSS JOIN (SELECT unnest(range({factor})) AS r) r
)"""


def hybrid_search_sql(
    k: int = 10,
    leg_k: int = 20,
    query_mod: int = 100,
    rrf_k: int = 60,
    max_df_pct: int = 50,
    vec_leg_sql: str | None = None,
    tok_ctes: str | None = None,
    vec_ctes: str | None = None,
    n_docs_factor: int = 1,
    lex_leg_sql: str | None = None,
) -> str:
    """Oracle for operators/retrieval.py::hybrid_search — both legs and
    the RRF fusion mirrored expression-for-expression: integer lexical
    weights (``n_docs // df`` over df-pruned tokens), the exact cosine
    leg, ``CAST(1 AS DOUBLE) / (rrf_k + rank)`` fusion terms added in
    the fixed (lexical + vector) order, fused rank tie-broken on
    neighbor_id. SCORES hash-match (one exact-integer division per leg
    term), not just ranks.

    ``vec_leg_sql`` swaps the vector leg for any complete query
    returning ``(query_id, neighbor_id, ..., rank)`` — the
    ``hybrid_index_search`` oracle passes the LSH serve SQL here,
    grading the drop-in claim with bucket-restricted ranks.
    ``tok_ctes`` / ``vec_ctes`` / ``n_docs_factor`` swap the base
    corpora for replicated ones (the ``hybrid_scale_probe`` oracle);
    ``lex_leg_sql`` swaps the LEXICAL leg the same way ``vec_leg_sql``
    swaps the vector one (the ``hybrid_bm25_search`` oracle passes the
    integer-BM25 ranked SQL here)."""
    return f"""WITH {_hybrid_ctes(leg_k, query_mod, rrf_k, max_df_pct, vec_leg_sql, tok_ctes, vec_ctes, n_docs_factor, lex_leg_sql)}
SELECT query_id, neighbor_id, lex_rank, vec_rank, rrf_score,
       CAST(rank AS BIGINT) AS rank
FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
                                 ORDER BY rrf_score DESC, neighbor_id)
                  AS rank
    FROM fused
) WHERE rank <= {k}"""


def _hybrid_ctes(
    leg_k: int,
    query_mod: int,
    rrf_k: int,
    max_df_pct: int,
    vec_leg_sql: str | None,
    tok_ctes: str | None = None,
    vec_ctes: str | None = None,
    n_docs_factor: int = 1,
    lex_leg_sql: str | None = None,
) -> str:
    """The hybrid-retrieval CTE chain (tok → lex leg → vec leg → fused)
    shared by the search oracle and the recall audit. ``tok_ctes`` /
    ``vec_ctes`` swap the corpus CTEs for replicated ones;
    ``n_docs_factor`` scales the lexical n_docs with the replication
    (the tok CTE alone cannot count docs with zero tokens);
    ``lex_leg_sql`` replaces the whole set-semantics lexical chain with
    any complete ranked query (the BM25 leg) — the caller must bake the
    prune and any replication INTO that SQL; combinations that would
    silently ignore a parameter raise instead."""
    if lex_leg_sql is not None and (
        tok_ctes is not None or n_docs_factor != 1 or max_df_pct != 50
    ):
        raise ValueError(
            "lex_leg_sql replaces the whole lexical chain: tok_ctes / "
            "n_docs_factor / max_df_pct would be silently ignored — "
            "bake them into the leg SQL instead"
        )
    one = "CAST(1 AS DOUBLE)"
    if vec_leg_sql is None:
        vec_leg = f"""{(vec_ctes or _VEC_CTES).strip()},
vscored AS (
    SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id, {_COSINE} AS score
    FROM n a JOIN n b ON a.vec_id <> b.vec_id
    WHERE a.vec_id % {query_mod} = 0
),
vec AS (
    SELECT query_id, neighbor_id, CAST(vec_rank AS BIGINT) AS vec_rank
    FROM (
        SELECT query_id, neighbor_id,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY score DESC, neighbor_id)
                   AS vec_rank
        FROM vscored
    ) WHERE vec_rank <= {leg_k}
)"""
    else:
        vec_leg = f"""vec AS (
    SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS vec_rank
    FROM ({vec_leg_sql})
)"""
    if lex_leg_sql is not None:
        lex_chain = f"""lex AS (
    SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS lex_rank
    FROM ({lex_leg_sql})
)"""
    else:
        lex_chain = f"""{_lex_scored_ctes(query_mod, max_df_pct, tok_ctes, n_docs_factor)},
lex AS (
    SELECT query_id, neighbor_id, CAST(lex_rank AS BIGINT) AS lex_rank
    FROM (
        SELECT query_id, neighbor_id,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY score DESC, neighbor_id)
                   AS lex_rank
        FROM lexscored
    ) WHERE lex_rank <= {leg_k}
)"""
    return f"""{lex_chain},
{vec_leg},
fused AS (
    SELECT coalesce(l.query_id, v.query_id) AS query_id,
           coalesce(l.neighbor_id, v.neighbor_id) AS neighbor_id,
           l.lex_rank, v.vec_rank,
           coalesce({one} / ({rrf_k} + l.lex_rank), CAST(0 AS DOUBLE))
           + coalesce({one} / ({rrf_k} + v.vec_rank), CAST(0 AS DOUBLE))
               AS rrf_score
    FROM lex l FULL OUTER JOIN vec v
      ON l.query_id = v.query_id AND l.neighbor_id = v.neighbor_id
)"""


def _lex_scored_ctes(
    query_mod: int,
    max_df_pct: int,
    tok_ctes: str | None = None,
    n_docs_factor: int = 1,
    docs_rel: str = "documents",
) -> str:
    """The ONE copy of the set-semantics lexical scoring chain
    (tokenize → n_docs → df-pruned integer weights → per-(query, doc)
    exact sum) — shared by the store-search oracle, the scale-probe
    oracle, and the hybrid chain so a prune or weight change can never
    silently diverge between them (the 'derived, not retyped'
    discipline applied to the SQL itself). ``docs_rel`` names the
    corpus relation the document count reads — the delete oracle
    passes its survivors CTE so n_docs shrinks with the corpus."""
    return f"""{(tok_ctes or TOK_CTE).strip()},
nd AS (SELECT count(DISTINCT doc_id) * {n_docs_factor} AS n_docs
       FROM {docs_rel}),
w AS (
    SELECT token, n_docs // df AS w
    FROM (SELECT token, count(*) AS df FROM tok GROUP BY token)
    CROSS JOIN nd
    WHERE df * 100 <= {max_df_pct} * n_docs
),
lexscored AS (
    SELECT q.doc_id AS query_id, d.doc_id AS neighbor_id,
           CAST(sum(w.w) AS BIGINT) AS score
    FROM tok q
    JOIN w ON q.token = w.token
    JOIN tok d ON q.token = d.token AND q.doc_id <> d.doc_id
    WHERE q.doc_id % {query_mod} = 0
    GROUP BY 1, 2
)"""


def _lex_ranked_sql(
    k: int,
    query_mod: int,
    max_df_pct: int,
    tok_ctes: str | None = None,
    n_docs_factor: int = 1,
    docs_rel: str = "documents",
) -> str:
    """Complete ranked SELECT over :func:`_lex_scored_ctes` — scores in
    the projection (exact integer sums; DuckDB's HUGEINT cast back to
    BIGINT to match Spark's long)."""
    return f"""WITH {_lex_scored_ctes(query_mod, max_df_pct, tok_ctes, n_docs_factor, docs_rel)}
SELECT query_id, neighbor_id, score, CAST(rank AS BIGINT) AS rank
FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
                                 ORDER BY score DESC, neighbor_id)
                  AS rank
    FROM lexscored
) WHERE rank <= {k}"""


def lexical_store_search_sql(
    k: int = 10,
    query_mod: int = 100,
    max_df_pct: int = 50,
) -> str:
    """Oracle for registry_fixtures.py::lexical_store_search_demo —
    the one-plan lexical top-k over the FULL corpus with NO build
    filter: a store built on a slice and upserted with the rest must be
    indistinguishable because df and n_docs merge additively."""
    return _lex_ranked_sql(k, query_mod, max_df_pct)


def prefix_search_sql(
    k: int = 10,
    query_mod: int = 100,
    prefix_len: int = 4,
) -> str:
    """Oracle for operators/retrieval.py::prefix_search (and the
    store-served ``lexical_store_prefix`` — additive merge makes the
    store face identical): each query doc's leading ``prefix_len``
    characters expanded against the corpus vocabulary; score = number
    of DISTINCT matching terms the neighbor contains (the
    constant-score prefix rewrite's integer analog), rank tie-broken
    on neighbor_id. Docs whose first token is shorter than the prefix
    length are dropped from the batch — mirror of
    ``leading_prefixes``. The LIKE pattern is safe by construction:
    tokenize emits only [a-z0-9] characters, so no metacharacter can
    reach the pattern."""
    return f"""WITH {TOK_CTE.strip()},
pf AS (
    SELECT doc_id AS query_id, substr(toks[1], 1, {prefix_len}) AS prefix
    FROM (SELECT doc_id, {TOKS_EXPR} AS toks FROM documents)
    WHERE doc_id % {query_mod} = 0
      AND len(toks) >= 1 AND length(toks[1]) >= {prefix_len}
),
prefscored AS (
    SELECT q.query_id, d.doc_id AS neighbor_id,
           CAST(count(*) AS BIGINT) AS score
    FROM pf q
    JOIN tok d ON d.token LIKE q.prefix || '%'
              AND q.query_id <> d.doc_id
    GROUP BY 1, 2
)
SELECT query_id, neighbor_id, score, CAST(rank AS BIGINT) AS rank
FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
                                 ORDER BY score DESC, neighbor_id)
                  AS rank
    FROM prefscored
) WHERE rank <= {k}"""


def _live_docs_cte(del_mod: int, del_rem: int) -> str:
    """``live`` CTE — the corpus minus the deleted slice, mirror of
    the delete demo's ``doc_id % del_mod == del_rem`` batch."""
    return f"""live AS (
    SELECT * FROM documents WHERE doc_id % {del_mod} <> {del_rem}
)"""


def lexical_store_delete_sql(
    k: int = 10,
    query_mod: int = 100,
    max_df_pct: int = 50,
    del_mod: int = 10,
    del_rem: int = 3,
) -> str:
    """Oracle for registry_fixtures.py::lexical_store_delete_demo —
    the one-plan lexical top-k over the SURVIVING corpus only: a store
    built, upserted, and then DELETED from must be indistinguishable
    from a fresh build over the survivors. The whole scoring chain
    recomputes from the filtered corpus — n_docs shrinks, every df
    loses its deleted contributions (the prune threshold moves with
    both), deleted docs vanish as neighbors — so the graded hash pins
    the merge-on-read masking AND the eager statistics correction at
    once; a stale df or an unmasked posting shifts a score."""
    tok_ctes = f"""{_live_docs_cte(del_mod, del_rem)},
tok AS (
    SELECT doc_id, unnest(list_distinct({TOKS_EXPR})) AS token
    FROM live
)"""
    return _lex_ranked_sql(
        k, query_mod, max_df_pct, tok_ctes=tok_ctes, docs_rel="live"
    )


def lexical_store_delete_bm25_sql(
    k: int = 10,
    query_mod: int = 100,
    max_df_pct: int = 50,
    del_mod: int = 10,
    del_rem: int = 3,
) -> str:
    """Oracle for the BM25 face of the delete contract
    (registry_fixtures.py::lexical_store_delete_bm25_demo): the
    integer BM25 recomputed over the surviving corpus. Beyond the
    set-semantics face this pins the MARKER corrections — the mean
    length ``A = Σtf // n_docs`` derives from both decremented markers,
    so an uncorrected ``_n_tokens`` (or a dead doc's tf leaking into a
    neighbor sum) shifts the saturation arithmetic and fails the
    hash."""
    ftok_ctes = f"""{_live_docs_cte(del_mod, del_rem)},
ftok AS (
    SELECT doc_id, unnest({TOKS_EXPR}) AS token FROM live
)"""
    return bm25_topk_sql(
        k,
        query_mod,
        max_df_pct,
        ftok_ctes=ftok_ctes,
        docs_rel="live",
    )


def lexical_store_stats_sql() -> str:
    """Oracle for registry_fixtures.py::lexical_store_stats_demo —
    the store's logical statistics recomputed from the full-corpus
    tokenize with NO build filter: the stats face of the additive-merge
    exactness claim (a df double-count, a dropped posting, or a drifted
    Σtf marker in the build/upsert path shifts one of these integers
    and fails the hash). ``n_token_occurrences`` counts the
    NON-deduplicated tokenize — the Σtf marker's independent twin.
    ``n_distinct_docs`` (round 11) counts distinct doc_ids in the
    tokenize — the postings-side twin of the ``n_docs`` marker, so the
    hash pins marker-vs-postings agreement (the upsert id contract's
    drift check: a replayed batch inflates the marker, not this)."""
    return f"""WITH {TOK_CTE.strip()},
d AS (SELECT token, count(*) AS df FROM tok GROUP BY token),
ft AS (SELECT unnest({TOKS_EXPR}) AS token FROM documents)
SELECT CAST((SELECT count(DISTINCT doc_id) FROM documents) AS BIGINT)
           AS n_docs,
       CAST((SELECT count(*) FROM d) AS BIGINT) AS n_tokens,
       CAST((SELECT count(*) FROM tok) AS BIGINT) AS n_postings,
       CAST((SELECT max(df) FROM d) AS BIGINT) AS max_df,
       CAST((SELECT count(*) FROM ft) AS BIGINT) AS n_token_occurrences,
       CAST((SELECT count(DISTINCT doc_id) FROM tok) AS BIGINT)
           AS n_distinct_docs,
       CAST((SELECT count(*) FROM ft) AS BIGINT) AS n_positions"""


def delete_scale_probe_sql(
    factor: int = 10,
    id_offset: int = 1_000_000,
    k: int = 10,
    query_mod: int = 100,
    max_df_pct: int = 78,
    del_mod: int = 10,
    del_rem: int = 3,
) -> str:
    """Oracle for the delete path's ~10× probe
    (registry_fixtures.py::delete_scale_probe_demo): the lexical
    ranking over the replicated corpus MINUS the victims' replica set.
    ``id_offset % del_mod == 0`` makes the victim set replica-closed
    (every replica of a victim doc is itself a victim), so one modulo
    filter on the replicated relation expresses the delete exactly;
    n_docs, every df, and the prune threshold all shrink to the
    surviving replicas — what the store serves through its tombstone
    mask after a replicated-slice delete."""
    if id_offset % del_mod != 0:
        raise ValueError(
            f"id_offset={id_offset} must be a multiple of "
            f"del_mod={del_mod} (the victim set must be replica-closed)"
        )
    tok_ctes = f"""
tok0 AS (
    SELECT doc_id, unnest(list_distinct({TOKS_EXPR})) AS token
    FROM documents
),
tokr AS (
    SELECT t.doc_id + r.r * {id_offset} AS doc_id, t.token
    FROM tok0 t CROSS JOIN (SELECT unnest(range({factor})) AS r) r
),
tok AS (SELECT * FROM tokr WHERE doc_id % {del_mod} <> {del_rem}),
livedocs AS (SELECT DISTINCT doc_id FROM tok)"""
    return _lex_ranked_sql(
        k,
        query_mod,
        max_df_pct,
        tok_ctes=tok_ctes,
        docs_rel="livedocs",
    )


def lexical_scale_probe_sql(
    factor: int = 10,
    id_offset: int = 1_000_000,
    k: int = 10,
    query_mod: int = 100,
    max_df_pct: int = 78,
) -> str:
    """Oracle for operators/retrieval.py::lexical_scale_probe — the
    one-plan lexical top-k over a ``factor``-replicated corpus
    (``doc_id + replica · id_offset``). Every df and n_docs scales by
    the factor, so the integer weights match the unreplicated corpus
    exactly and the whole replicated ranking stays hash-derivable.
    Built from the SHARED scoring chain with the replicated tokenize
    CTEs swapped in."""
    return _lex_ranked_sql(
        k,
        query_mod,
        max_df_pct,
        tok_ctes=replicated_tok_ctes(factor, id_offset),
        n_docs_factor=factor,
    )


def hybrid_recall_audit_sql(
    vec_leg_sql: str,
    k: int = 10,
    leg_k: int = 20,
    query_mod: int = 100,
    rrf_k: int = 60,
    max_df_pct: int = 50,
) -> str:
    """Oracle for operators/retrieval.py::hybrid_recall_audit — per
    query, how many of the exact-cosine top-``k`` ground truth each
    relation recovers within ITS top-``k``: the set-semantics lexical
    leg, the integer-BM25 leg (round 10 — the tf-aware comparison
    spliced in as a complete ranked subquery), the served vector leg
    (``vec_leg_sql`` — the LSH serve in the graded shape), and the
    fusion. Pure integer counts over the shared CTEs, so the audit
    hash-matches exactly."""
    return f"""WITH {_hybrid_ctes(leg_k, query_mod, rrf_k, max_df_pct, vec_leg_sql)},
bm AS (
    SELECT query_id, neighbor_id, rank
    FROM ({bm25_topk_sql(k=leg_k, query_mod=query_mod, max_df_pct=max_df_pct)})
),
v2 AS (
    SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings
),
n2 AS (
    SELECT vec_id, vec, list_dot_product(vec, vec) AS norm2 FROM v2
),
truth AS (
    SELECT query_id, neighbor_id
    FROM (
        SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
               row_number() OVER (PARTITION BY a.vec_id
                                  ORDER BY {_COSINE} DESC, b.vec_id)
                   AS trank
        FROM n2 a JOIN n2 b ON a.vec_id <> b.vec_id
        WHERE a.vec_id % {query_mod} = 0
    ) WHERE trank <= {k}
),
fusedk AS (
    SELECT query_id, neighbor_id
    FROM (
        SELECT query_id, neighbor_id,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY rrf_score DESC, neighbor_id)
                   AS rank
        FROM fused
    ) WHERE rank <= {k}
)
SELECT t.query_id,
       CAST(count(l.neighbor_id) AS BIGINT) AS lex_hits,
       CAST(count(b.neighbor_id) AS BIGINT) AS bm25_hits,
       CAST(count(v.neighbor_id) AS BIGINT) AS vec_hits,
       CAST(count(f.neighbor_id) AS BIGINT) AS fused_hits
FROM truth t
LEFT JOIN (SELECT * FROM lex WHERE lex_rank <= {k}) l
  ON t.query_id = l.query_id AND t.neighbor_id = l.neighbor_id
LEFT JOIN (SELECT * FROM bm WHERE rank <= {k}) b
  ON t.query_id = b.query_id AND t.neighbor_id = b.neighbor_id
LEFT JOIN (SELECT * FROM vec WHERE vec_rank <= {k}) v
  ON t.query_id = v.query_id AND t.neighbor_id = v.neighbor_id
LEFT JOIN fusedk f
  ON t.query_id = f.query_id AND t.neighbor_id = f.neighbor_id
GROUP BY t.query_id"""


def stratified_sample_sql(
    fractions: dict[str, float],
    by: str = "lang",
    default_fraction: float = 1.0,
    salt: str = "sample-v1",
) -> str:
    h = hash64(f"'{salt}:' || CAST(doc_id AS VARCHAR)")
    cases = " ".join(
        f"WHEN {by} = '{s}' THEN {int(f * 10000)}"
        for s, f in sorted(fractions.items())
    )
    return f"""
WITH b AS (
    SELECT doc_id, {by} AS stratum, {h} % 10000 AS bucket,
           CASE {cases} ELSE {int(default_fraction * 10000)} END AS cutoff
    FROM documents
)
SELECT doc_id, stratum, bucket FROM b WHERE bucket < cutoff"""


def _mixture_plan_ctes(
    targets_bp: dict[str, int],
    default_bp: int = 350,
    max_factor_bp: int = 40000,
) -> str:
    """Shared CTE chain for the mixture plan (mirrors
    text_analysis.mixture_plan's integer-basis-point arithmetic; `//`
    floor division == Spark `div` on the all-positive operands here)."""
    t = targets_bp
    cases = " ".join(
        f"WHEN source = '{s}' THEN {int(bp)}" for s, bp in sorted(t.items())
    )
    return f"""
per AS (SELECT source, count(*) AS n_docs FROM documents GROUP BY source),
tot AS (SELECT CAST(sum(n_docs) AS BIGINT) AS total_docs FROM per),
tgt AS (
    SELECT source, n_docs, total_docs,
           (10000 * n_docs) // total_docs AS natural_bp,
           CAST(CASE {cases} ELSE {int(default_bp)} END AS BIGINT) AS target_bp
    FROM per, tot
),
plan AS (
    SELECT source, n_docs, natural_bp, target_bp,
           LEAST((target_bp * total_docs) // n_docs,
                 CAST({int(max_factor_bp)} AS BIGINT)) AS factor_bp
    FROM tgt
)
"""


def mixture_plan_sql(targets_bp: dict[str, int]) -> str:
    return f"""
WITH {_mixture_plan_ctes(targets_bp)}
SELECT source, n_docs, natural_bp, target_bp, factor_bp FROM plan"""


def mixture_resample_sql(
    targets_bp: dict[str, int], salt: str = "mixture-v1"
) -> str:
    h_doc = hash64(f"'{salt}:' || CAST(doc_id AS VARCHAR)")
    h_copy = hash64(
        f"'{salt}:' || CAST(doc_id AS VARCHAR) || ':' || CAST(copy AS VARCHAR)"
    )
    return f"""
WITH {_mixture_plan_ctes(targets_bp)},
b AS (
    SELECT d.doc_id, d.source, p.factor_bp,
           {h_doc} % 10000 AS bucket
    FROM documents d JOIN plan p USING (source)
),
c AS (
    SELECT doc_id, source,
           factor_bp // 10000
           + CASE WHEN bucket < factor_bp % 10000 THEN 1 ELSE 0 END AS n_copies
    FROM b
),
e AS (
    SELECT doc_id, source, unnest(range(n_copies)) AS copy FROM c
)
SELECT doc_id, source, CAST(copy AS BIGINT) AS copy, {h_copy} AS order_key
FROM e"""


def user_funnel_sql(stages: tuple[str, str, str] = ("view", "click", "purchase")) -> str:
    s1, s2, s3 = stages
    return f"""
WITH b AS (SELECT user_id, event_type, epoch_us(ts) AS us FROM events),
f1 AS (SELECT user_id,
              min(CASE WHEN event_type = '{s1}' THEN us END) AS first_view_us
       FROM b GROUP BY user_id),
f2 AS (SELECT b.user_id, min(us) AS first_click_us
       FROM b JOIN f1 USING (user_id)
       WHERE event_type = '{s2}' AND us >= first_view_us
       GROUP BY b.user_id),
f3 AS (SELECT b.user_id, min(us) AS first_purchase_us
       FROM b JOIN f2 USING (user_id)
       WHERE event_type = '{s3}' AND us >= first_click_us
       GROUP BY b.user_id)
SELECT f1.user_id AS user_id, first_view_us, first_click_us, first_purchase_us,
       CASE WHEN first_purchase_us IS NOT NULL THEN '{s3}'
            WHEN first_click_us IS NOT NULL THEN '{s2}'
            WHEN first_view_us IS NOT NULL THEN '{s1}'
            ELSE 'none' END AS stage_reached
FROM f1 LEFT JOIN f2 ON f1.user_id = f2.user_id
        LEFT JOIN f3 ON f1.user_id = f3.user_id"""


def session_window_counts_sql(gap_seconds: int = 21600) -> str:
    gap_us = gap_seconds * 1_000_000
    return f"""
WITH e AS (SELECT user_id, epoch_us(ts) AS us FROM events),
d AS (
    SELECT user_id, us,
           CASE WHEN us - lag(us) OVER (PARTITION BY user_id ORDER BY us)
                     > {gap_us}
                     OR lag(us) OVER (PARTITION BY user_id ORDER BY us) IS NULL
                THEN 1 ELSE 0 END AS new_s
    FROM e
),
s AS (
    SELECT user_id, us,
           sum(new_s) OVER (PARTITION BY user_id ORDER BY us
                            ROWS UNBOUNDED PRECEDING) AS sid
    FROM d
)
SELECT user_id, min(us) AS session_start_us,
       max(us) + {gap_us} AS session_end_us,
       count(*) AS n_events
FROM s GROUP BY user_id, sid"""


def salted_customer_revenue_sql() -> str:
    # the PLAIN join — the salted plan must be semantically invisible
    return f"""
SELECT c_nationkey, count(*) AS n_orders,
       CAST(sum(CAST(o_totalprice AS {_DD})) AS DOUBLE) AS revenue
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_nationkey"""


def bucketed_customer_revenue_sql() -> str:
    # the PLAIN join — the bucketed layout must be semantically invisible
    return salted_customer_revenue_sql()


def events_hopping_counts_sql(
    window_seconds: int = 3600, slide_seconds: int = 1800
) -> str:
    n_hops = window_seconds // slide_seconds
    slide_us = slide_seconds * 1_000_000
    win_us = window_seconds * 1_000_000
    return f"""
WITH e AS (SELECT event_type, value, epoch_us(ts) AS us FROM events),
hopped AS (
    SELECT event_type, value,
           (us // {slide_us}) * {slide_us} - i * {slide_us} AS window_start_us
    FROM e CROSS JOIN range({n_hops}) r(i)
    WHERE us - ((us // {slide_us}) * {slide_us} - i * {slide_us}) < {win_us}
)
SELECT window_start_us, event_type, count(*) AS n_events,
       CAST(sum(CAST(value AS {_DD})) AS DOUBLE) AS sum_value
FROM hopped
GROUP BY window_start_us, event_type"""


# ---------------------------------------------------------------------------
# Round-2 training-pipeline additions: contamination, n-gram stats, global
# shuffle, cluster representatives, stream-static enrichment
# ---------------------------------------------------------------------------


def contamination_check_sql(n: int = 5, benchmark_mod: int = 97) -> str:
    # same shingle definition as dedup.shingles / _shingle_cte
    return f"""
WITH {_shingle_cte(n)},
bench AS (
    SELECT DISTINCT token FROM sh_tok WHERE doc_id % {benchmark_mod} = 0
),
corpus AS (
    SELECT * FROM sh_tok WHERE doc_id % {benchmark_mod} <> 0
)
SELECT c.doc_id,
       count(*) AS n_shingles,
       count(b.token) AS n_contaminated,
       CAST(count(b.token) AS DOUBLE) / CAST(count(*) AS DOUBLE)
           AS contamination_frac,
       2 * count(b.token) >= count(*) AS is_contaminated
FROM corpus c LEFT JOIN bench b ON c.token = b.token
GROUP BY c.doc_id"""


def top_ngrams_sql(n: int = 2, k: int = 20) -> str:
    parts = ", ".join(f"toks[i + {j}]" for j in range(n))
    return f"""
WITH grams AS (
    SELECT unnest(CASE WHEN len(toks) >= {n}
                 THEN list_transform(range(1, len(toks) - {n - 2}),
                                     i -> concat_ws(' ', {parts}))
                 ELSE []::VARCHAR[] END) AS ngram
    FROM (SELECT {TOKS_EXPR} AS toks FROM documents)
),
counts AS (SELECT ngram, count(*) AS n_occurrences FROM grams GROUP BY ngram)
SELECT ngram, n_occurrences,
       CAST(row_number() OVER (ORDER BY n_occurrences DESC, ngram) AS BIGINT)
           AS rank
FROM counts
QUALIFY rank <= {k}"""


def global_shuffle_sql(salt: str = "shuffle-v1") -> str:
    key = hash64(f"concat('{salt}', ':', CAST(doc_id AS VARCHAR))")
    return f"""
WITH keyed AS (SELECT doc_id, {key} AS shuffle_key FROM documents)
SELECT doc_id, shuffle_key,
       CAST(row_number() OVER (ORDER BY shuffle_key, doc_id) AS BIGINT)
           AS shuffle_pos
FROM keyed"""


def dedup_representatives_sql(threshold: float = 0.7) -> str:
    return f"""
WITH clu AS ({dedup_clusters_sql(threshold)}),
j AS (
    SELECT c.doc_id, c.cluster_id, d.n_chars
    FROM clu c JOIN documents d USING (doc_id)
),
r AS (
    SELECT doc_id, cluster_id,
           first_value(doc_id) OVER (
               PARTITION BY cluster_id ORDER BY n_chars DESC, doc_id
           ) AS rep_doc_id
    FROM j
)
SELECT doc_id, cluster_id, rep_doc_id, doc_id = rep_doc_id AS is_kept
FROM r"""


def effective_token_stats_sql(threshold: float = 0.7) -> str:
    """Oracle for operators/dedup.py::effective_token_stats — the
    representative CTE is :func:`dedup_representatives_sql` verbatim,
    the token convention is ``TOKS_EXPR`` (the quality-stats parity
    expression), and the sums cast back to BIGINT (DuckDB widens
    sum(BIGINT) to HUGEINT, which the pandas hash would not match)."""
    return f"""
WITH reps AS ({dedup_representatives_sql(threshold)}),
tc AS (
    SELECT doc_id, source, len({TOKS_EXPR}) AS n_tok FROM documents
),
raw AS (
    SELECT source, count(*) AS n_docs,
           CAST(sum(n_tok) AS BIGINT) AS n_tokens
    FROM tc GROUP BY source
),
eff AS (
    SELECT t.source,
           count(*) AS n_effective_docs,
           CAST(sum(t.n_tok) AS BIGINT) AS n_effective_tokens
    FROM tc t JOIN reps r ON t.doc_id = r.doc_id AND r.is_kept
    GROUP BY t.source
)
SELECT raw.source, raw.n_docs, raw.n_tokens,
       COALESCE(eff.n_effective_docs, 0) AS n_effective_docs,
       COALESCE(eff.n_effective_tokens, 0) AS n_effective_tokens
FROM raw LEFT JOIN eff ON raw.source = eff.source"""


def stream_enrich_segments_sql() -> str:
    return f"""
SELECT COALESCE(c.c_mktsegment, 'UNKNOWN') AS segment,
       count(*) AS n_events,
       CAST(sum(CAST(e.value AS {_DD})) AS DOUBLE) AS sum_value
FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey
GROUP BY 1"""


def _retarget(sql: str, src: str) -> str:
    """Point a builder's ``documents`` table references at another
    relation (a CTE of the composing query). Word-boundary replace is
    safe here: every oracle references the corpus only as the bare table
    name ``documents`` (no columns or strings share the word)."""
    import re

    return re.sub(r"\bdocuments\b", src, sql)


def prepare_corpus_sql(
    min_quality: float = 0.5,
    min_tokens: int = 10,
    dedup_threshold: float = 0.7,
    max_len: int = 2048,
    n_shards: int = 16,
    pack_salt: str = "pack-v1",
    shuffle_salt: str = "shuffle-v1",
) -> str:
    """Composed oracle for the flagship pipeline: each stage is the
    component operator's own oracle, retargeted at the previous stage's
    survivor CTE — the SQL mirror of operators/pipeline.py."""
    q = quality_filter_sql(min_quality, min_tokens)
    e = _retarget(exact_duplicates_sql(), "kept1")
    reps = _retarget(dedup_representatives_sql(dedup_threshold), "kept2")
    sh = _retarget(global_shuffle_sql(shuffle_salt), "kept3")
    pk = _retarget(
        pack_sequences_sql(max_len, n_shards, pack_salt), "kept3"
    )
    return f"""
WITH kept1 AS (
    SELECT d.* FROM documents d
    JOIN ({q}) qq ON d.doc_id = qq.doc_id AND qq.keep
),
kept2 AS (
    SELECT k.* FROM kept1 k
    JOIN ({e}) e ON k.doc_id = e.doc_id AND NOT e.is_dup
),
reps AS (SELECT * FROM ({reps}) _r),
kept3 AS (
    SELECT k.* FROM kept2 k
    JOIN reps r ON k.doc_id = r.doc_id AND r.is_kept
),
sh AS (SELECT * FROM ({sh}) _s),
pk AS (SELECT * FROM ({pk}) _p)
SELECT pk.doc_id, pk.shard, pk.n_tokens, pk.start_offset, pk.pack_id,
       sh.shuffle_pos
FROM pk JOIN sh ON pk.doc_id = sh.doc_id"""


def prepare_corpus_rules_sql(
    min_words: int = 25,
    max_symbol_ratio: float = 0.1,
    **prepare_kwargs,
) -> str:
    """The flagship oracle with the Gopher rule gate composed in front:
    the entire prepare_corpus chain is retargeted at the rule
    survivors (mirrors operators/pipeline.py::prepare_corpus_rules)."""
    g = gopher_quality_flags_sql(
        min_words=min_words, max_symbol_ratio=max_symbol_ratio
    )
    pc = _retarget(prepare_corpus_sql(**prepare_kwargs), "kept0").strip()
    assert pc.startswith("WITH ")
    return f"""WITH kept0 AS (
    SELECT d.* FROM documents d
    JOIN ({g}) g ON d.doc_id = g.doc_id AND g.pass_gopher
),
{pc[len("WITH "):]}"""


def quantize_embeddings_sql() -> str:
    # identical IEEE double arithmetic: float32 widens exactly to double
    # in both engines; floor(x + 0.5) sidesteps round() tie differences.
    # qvec is projected to a comma-joined string: the driver's value hash
    # canonicalizes via pandas sort_values, which cannot hash list cells
    # (same precedent as the media_frames hex projection).
    return """
WITH v AS (
    SELECT vec_id,
           list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
    FROM embeddings
),
mm AS (
    SELECT vec_id, vec,
           list_aggregate(vec, 'min') AS mn,
           list_aggregate(vec, 'max') AS mx
    FROM v
)
SELECT vec_id, scale, zero_point,
       array_to_string(qvec, ',') AS qvec_csv
FROM (
    SELECT vec_id,
           (mx - mn) / 255.0 AS scale,
           mn AS zero_point,
           CASE WHEN mx - mn > 0
                THEN list_transform(vec,
                     x -> CAST(floor((x - mn) / (mx - mn) * 255.0 + 0.5) - 128
                               AS INTEGER))
                ELSE list_transform(vec, x -> CAST(-128 AS INTEGER))
           END AS qvec
    FROM mm
)"""


def q7_nation_volume_sql() -> str:
    return f"""
SELECT n1.n_name AS supp_nation,
       n2.n_name AS cust_nation,
       year(l_shipdate) AS ship_year,
       CAST(sum(CAST(l_extendedprice AS {_DD})
                * ({_ONE_D} - CAST(l_discount AS {_DD}))) AS DOUBLE) AS volume,
       count(*) AS n_items
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation n1 ON s_nationkey = n1.n_nationkey
JOIN nation n2 ON c_nationkey = n2.n_nationkey
WHERE n1.n_name <> n2.n_name
GROUP BY 1, 2, 3"""


def q14_promo_revenue_sql(
    ship_from: str = "1995-09-01", ship_to: str = "1995-10-01"
) -> str:
    rev = f"CAST(l_extendedprice AS {_DD}) * ({_ONE_D} - CAST(l_discount AS {_DD}))"
    return f"""
SELECT 100.0 * CAST(sum(CASE WHEN p_type = 'PROMO' THEN {rev}
                             ELSE CAST(0 AS {_DD}) END) AS DOUBLE)
             / CAST(sum({rev}) AS DOUBLE) AS promo_pct,
       CAST(sum(CASE WHEN p_type = 'PROMO' THEN {rev}
                     ELSE CAST(0 AS {_DD}) END) AS DOUBLE) AS promo_revenue,
       CAST(sum({rev}) AS DOUBLE) AS total_revenue
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '{ship_from} 00:00:00'
  AND l_shipdate <  TIMESTAMP '{ship_to} 00:00:00'"""


def q18_large_orders_sql(min_qty: float = 300.0) -> str:
    return f"""
WITH big AS (
    SELECT l_orderkey, sum(CAST(l_quantity AS {_DD})) AS q
    FROM lineitem GROUP BY 1
    HAVING sum(CAST(l_quantity AS {_DD})) > CAST({min_qty} AS {_DD})
)
SELECT c_custkey, c_name, o_orderkey,
       CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS order_date,
       o_totalprice,
       CAST(q AS DOUBLE) AS sum_qty
FROM orders
JOIN big ON o_orderkey = l_orderkey
JOIN customer ON o_custkey = c_custkey"""


def q19_disjunctive_revenue_sql(bands) -> str:
    clauses = " OR ".join(
        f"(p_brand = '{b}' AND p_size BETWEEN {slo} AND {shi} "
        f"AND l_quantity BETWEEN {qlo} AND {qhi})"
        for b, slo, shi, qlo, qhi in bands
    )
    return f"""
SELECT CAST(sum(CAST(l_extendedprice AS {_DD})
                * ({_ONE_D} - CAST(l_discount AS {_DD}))) AS DOUBLE) AS revenue,
       count(*) AS n_items
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE {clauses}"""


def latest_event_per_user_sql() -> str:
    return """
WITH ranked AS (
    SELECT user_id, epoch_us(ts) AS ts_us, value, event_type,
           row_number() OVER (PARTITION BY user_id ORDER BY ts DESC) AS rn
    FROM events
)
SELECT user_id,
       ts_us AS last_ts_us,
       value AS last_value,
       event_type AS last_event_type
FROM ranked WHERE rn = 1"""


def q9_product_profit_sql(name_pattern: str = "%ring%") -> str:
    return f"""
SELECT n_name AS nation,
       year(o_orderdate) AS o_year,
       CAST(sum(CAST(l_extendedprice AS {_DD})
                * ({_ONE_D} - CAST(l_discount AS {_DD}))
                - CAST(p_retailprice AS {_DD})
                  * CAST(l_quantity AS {_DD})) AS DOUBLE) AS sum_profit,
       count(*) AS n_items
FROM lineitem
JOIN part     ON l_partkey = p_partkey
JOIN orders   ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation   ON s_nationkey = n_nationkey
WHERE p_name LIKE '{name_pattern}'
GROUP BY 1, 2"""


def q11_value_concentration_sql(
    nation_name: str = "NATION_3", fraction: str = "0.001"
) -> str:
    return f"""
WITH v AS (
    SELECT l_partkey AS partkey,
           sum(CAST(l_extendedprice AS {_DD})
               * ({_ONE_D} - CAST(l_discount AS {_DD}))) AS val
    FROM lineitem
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation   ON s_nationkey = n_nationkey
    WHERE n_name = '{nation_name}'
    GROUP BY 1
)
SELECT partkey, CAST(val AS DOUBLE) AS value
FROM v
WHERE val > (SELECT sum(val) FROM v) * CAST({fraction} AS DECIMAL(10,6))"""
